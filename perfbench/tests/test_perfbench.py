"""Tests of the benchmark's own pieces; no Spark session needed.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import time
from pathlib import Path

import pytest

import eventlog
import metrics
import run
import stats
import workloads

HERE = Path(__file__).resolve().parent
BENCH = HERE.parents[1] / "BENCHMARK.json"
SAMPLE = HERE / "data" / "eventlog_sample.jsonl"


@pytest.fixture(scope="module")
def bench() -> dict:
    return json.loads(BENCH.read_text())


# -- metric names -------------------------------------------------------------


def test_benchmark_json_shape(bench):
    assert set(bench) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    assert 2 <= len(bench["workloads"]) <= 8
    assert 1 <= len(bench["end_to_end"]) <= 16
    assert 1 <= len(bench["per_layer"]) <= 128
    assert isinstance(bench["run_seconds"], int) and 1 <= bench["run_seconds"] <= 60
    assert all(set(w) == {"name", "why"} and len(w["why"]) <= 200 for w in bench["workloads"])
    assert len(BENCH.read_bytes()) <= 64 * 1024


def test_metric_names_valid_and_unique(bench):
    names = [w["name"] for w in bench["workloads"]]
    for m in bench["end_to_end"] + bench["per_layer"]:
        names.append(m["name"])
        assert metrics.valid_name(m["name"]), m["name"]
        assert metrics.valid_unit(m["unit"]), m["unit"]
        assert m["better"] in ("higher", "lower")
    assert len(names) == len(set(names))


def test_reported_metrics_match_benchmark_json(bench):
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == metrics.END_TO_END
    assert layer == metrics.PER_LAYER
    for m in bench["end_to_end"] + bench["per_layer"]:
        want = "higher" if m["name"] in metrics.HIGHER_IS_BETTER else "lower"
        assert m["better"] == want, m["name"]


def test_bounds(bench):
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(bounds.values())
    assert all(set(m) == {"name", "unit", "better"} for m in bench["per_layer"])


def test_workloads_match_settings(bench):
    settings = json.loads((HERE.parent / "settings.json").read_text())
    assert [w["name"] for w in bench["workloads"]] == list(settings["workloads"])


def test_invalid_names_rejected():
    assert not metrics.valid_name("_leading_underscore")
    assert not metrics.valid_name("has space")
    assert not metrics.valid_name("x" * 65)
    assert not metrics.valid_unit("MB per second!")


# -- event-log parser ---------------------------------------------------------


def test_eventlog_sample_groups():
    got = eventlog.parse_events(SAMPLE.read_text().splitlines())
    assert set(got) == {"operators.rollup", "api"}
    rollup, api = got["operators.rollup"], got["api"]
    assert rollup["task_cpu_s"] == pytest.approx(0.364968526)
    assert rollup["gc_s"] == pytest.approx(0.058)
    assert rollup["shuffle_write_mb"] * eventlog.MB == pytest.approx(118)
    assert api["shuffle_write_mb"] * eventlog.MB == pytest.approx(1148)
    assert api["failed_tasks"] == 0 and api["spill_mb"] == 0


def test_eventlog_dir_reads_rolling_parts(tmp_path):
    lines = SAMPLE.read_text().splitlines()
    part = tmp_path / "eventlog_v2_local-1"
    part.mkdir()
    (part / "events_1_local-1").write_text("\n".join(lines[:4]) + "\n")
    (part / "events_2_local-1").write_text("\n".join(lines[4:]) + "\n")
    (part / "appstatus_local-1").write_text("")
    assert eventlog.parse_dir(str(tmp_path)) == eventlog.parse_events(lines)


def test_eventlog_failed_and_spilled_tasks():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [7],
         "Properties": {"spark.jobGroup.id": "operators.chunks"}},
        # a later job listing the same stage does not re-file it
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [7, 8],
         "Properties": {"spark.jobGroup.id": "api"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 7,
         "Task End Reason": {"Reason": "ExceptionFailure"},
         "Task Metrics": {"Memory Bytes Spilled": eventlog.MB, "Disk Bytes Spilled": eventlog.MB}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 9,
         "Task End Reason": {"Reason": "Success"}, "Task Metrics": {}},
    ]
    got = eventlog.parse_events(json.dumps(e) for e in events)
    assert got["operators.chunks"]["failed_tasks"] == 1
    assert got["operators.chunks"]["spill_mb"] == pytest.approx(2.0)
    assert "api" not in got
    assert got[""]["failed_tasks"] == 0


# -- percentile rule ----------------------------------------------------------


def test_tail_needs_ten_samples_beyond():
    xs = list(range(1, 100))  # 99 samples: only 9 lie beyond p90
    assert stats.tail(xs, 90) is None
    assert stats.tail(xs + [100], 90) == 90
    assert stats.min_samples(90) == 100
    assert stats.min_samples(75) == 40
    assert stats.min_samples(99) == 1000


def test_median_always_reported():
    assert stats.reportable(1, 50)
    assert stats.median([3.0]) == 3.0
    assert stats.median([1.0, 2.0, 10.0, 20.0]) == 6.0
    with pytest.raises(ValueError):
        stats.median([])


def test_nearest_rank_percentile():
    xs = [5, 1, 4, 2, 3]
    assert stats.percentile(xs, 50) == 3
    assert stats.percentile(xs, 100) == 5
    assert stats.percentile(xs, 1) == 1


# -- answer checks ------------------------------------------------------------


def test_digest_ignores_row_order_and_float_noise():
    a = [("d1", "m", None, "t1", 0.1 + 0.2), ("d2", "m", None, "t1", 1.0)]
    b = [("d2", "m", None, "t1", 1.0), ("d1", "m", None, "t1", 0.3)]
    assert workloads.digest(a) == workloads.digest(b)
    assert workloads.digest(a) != workloads.digest(a[:1])


def test_compare_flags_missing_row_and_wrong_value():
    q = workloads.query_mix(1)[0]
    ref = [("d1", "crawl_rate", None, "t1", 2.0), ("d2", "crawl_rate", None, "t1", 4.0)]
    assert workloads.compare(ref, ref, q) is None
    assert "answer keys" in workloads.compare(ref[:1], ref, q)
    bad = [ref[0], ("d2", "crawl_rate", None, "t1", 4.5)]
    assert "value" in workloads.compare(bad, ref, q)


def test_query_mix_is_seeded_and_covers_every_shape():
    a, b = workloads.query_mix(7), workloads.query_mix(7)
    assert a == b
    assert tuple(q.shape for q in a) == metrics.SHAPES
    assert any(dict(q.kwargs).get("allow_raw") for q in a)
    assert workloads.late_hour(7, 1) == workloads.late_hour(7, 1)


def test_nan_canonical_form():
    assert workloads.digest([(math.nan,)]) == workloads.digest([(float("nan"),)])


# -- result line --------------------------------------------------------------


def _measurements(reads: list, refresh_times: list) -> dict:
    return {
        "setup_times": [3.0, 1.0, 2.0],
        "build": {"wall_s": 10.0},
        "counts": {"series": 1000},
        "store_bytes": 64000,
        "reads": {"total": reads},
        "read_wall": 4.0,
        "refresh_times": refresh_times,
    }


def test_end_to_end_reports_every_metric():
    values = run.end_to_end(_measurements([0.1, 0.3, 0.2], [12.0]), 2**30)
    assert set(values) == set(metrics.END_TO_END)
    assert values["query_p50_ms"] == pytest.approx(200.0)
    assert values["queries_per_s"] == pytest.approx(0.75)
    assert values["setup_s"] == 2.0 and values["peak_rss_mb"] == 1024
    assert run.result(values, metrics.END_TO_END, 5, 0)["correct"]


def test_no_samples_make_the_run_incorrect():
    # every query and every refresh round failed: the metrics they feed
    # are left out instead of raising, and the run is reported incorrect
    values = run.end_to_end(_measurements([], []), 2**30)
    assert not {"query_p50_ms", "queries_per_s", "refresh_p50_s"} & set(values)
    res = run.result(values, metrics.END_TO_END, 5, 5)
    assert res["correct"] is False
    assert (res["attempted"], res["failed"]) == (5, 5)
    assert set(res["metrics"]) == set(values)
    assert run.result(values, metrics.END_TO_END, 5, 0)["correct"] is False


# -- closed loop --------------------------------------------------------------


def test_serve_reads_every_shape_equally_often(monkeypatch):
    def fake_query(ctx, api, store, q, answers, epoch, out):
        time.sleep(0.001)
        with answers.lock:
            out["total"].append(0.001)
            out["by_shape"][q.shape].append(0.001)

    monkeypatch.setattr(workloads, "_timed_query", fake_query)
    ctx = workloads.Ctx(None, "", 7, {}, None, clients=3)
    queries = workloads.query_mix(7)
    out, wall = workloads.serve(ctx, None, queries, workloads.Answers(ctx), 0, 0.03, 2)
    counts = {shape: len(xs) for shape, xs in out["by_shape"].items()}
    assert set(counts) == set(metrics.SHAPES)
    # whole cycles only: every shape read as often as every other, and
    # each client ran at least min_cycles cycles
    assert len(set(counts.values())) == 1
    assert counts["h1_2d"] >= 3 * 2
    assert wall >= 0.03
