"""Names and units of every metric the benchmark reports.

``END_TO_END`` come from untraced runs (``--trace 0``), ``PER_LAYER`` from
traced runs (``--trace 1``).  Both workloads report every metric.
"""

from __future__ import annotations

import re

END_TO_END = {
    "setup_s": "s",
    "rolled_points_per_s": "1/s",
    "store_bytes_per_point": "B",
    "query_p50_ms": "ms",
    "queries_per_s": "1/s",
    "refresh_p50_s": "s",
    "peak_rss_mb": "MB",
}

SHAPES = (
    "h1_2d", "d1_14d", "m1_6h", "by_metric", "without_domain",
    "rate", "domain_re", "hist_p95", "raw_90s",
)

# layers whose Spark jobs carry a job group in the traced run
GROUPS = (
    "operators.series", "operators.rollup", "operators.histogram",
    "operators.detect", "operators.chunks", "sources.storage", "api",
)
GROUP_COUNTERS = {
    "task_cpu_s": "s", "wait_s": "s", "shuffle_write_mb": "MB",
    "spill_mb": "MB", "gc_s": "s", "failed_tasks": "count",
}

PER_LAYER = {
    "session.start_s": "s",
    "plans.pipeline.dag_s": "s",
    "operators.series.build_s": "s",
    "operators.series.key_dim_s": "s",
    "operators.rollup.1m_s": "s",
    "operators.rollup.1h_s": "s",
    "operators.rollup.1d_s": "s",
    "operators.rollup.refresh_1m_s": "s",
    "operators.rollup.refresh_1h_s": "s",
    "operators.rollup.refresh_1d_s": "s",
    "operators.histogram.1h_s": "s",
    "operators.histogram.1d_s": "s",
    "operators.histogram.refresh_s": "s",
    "operators.detect.zscore_s": "s",
    "operators.detect.seasonal_s": "s",
    "operators.detect.zscore_intervals": "count",
    "operators.detect.seasonal_intervals": "count",
    "operators.chunks.encode_s": "s",
    "operators.chunks.bytes_per_point": "B",
    "operators.chunks.decode_ms": "ms",
    "sources.storage.commit_s": "s",
    "sources.storage.commits": "count",
    "sources.storage.read_ms": "ms",
    "sources.storage.snapshots_per_read": "count",
    "sources.storage.compact_s": "s",
    "sources.storage.bytes_written_mb": "MB",
    "api.plan_ms": "ms",
    "api.exec_ms": "ms",
    **{f"api.{s}_p50_ms": "ms" for s in SHAPES},
    **{f"{g}.{c}": u for g in GROUPS for c, u in GROUP_COUNTERS.items()},
    "trace.spans": "count",
    "trace.overhead_pct": "%",
}

# direction in which each metric improves
HIGHER_IS_BETTER = {"rolled_points_per_s", "queries_per_s"}

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def valid_name(name: str) -> bool:
    return bool(NAME_RE.match(name))


def valid_unit(unit: str) -> bool:
    return bool(UNIT_RE.match(unit))
