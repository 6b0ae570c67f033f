#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload serve_queries --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  It generates its inputs from the seed,
builds the store with the nightly DAG, then either serves queries
(serve_queries) or refreshes a late delta and reads after it
(late_refresh).  It checks every output outside the timed regions, prints
each metric as ``name value unit`` and, as the last line, one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones (see
perfbench/README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402
import stats  # noqa: E402


def load_json(name: str) -> dict:
    with open(HERE / name) as f:
        return json.load(f)


def prepare_env(work: Path, settings: dict) -> dict:
    """Point every scratch location at ``work`` and size the session.
    Returns the extra Spark conf."""
    for d in ("tmp", "local", "eventlog", "spark-warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = settings["session"]["driver_memory"]["value"]
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # without this, both JVMs (spark-submit's launcher and the driver)
    # write a perf-counter file under /tmp whatever java.io.tmpdir says
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    return {
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Xms{settings['session']['driver_memory']['value']} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={work / 'tmp'}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def wrap_layers(tr, store_cls) -> None:
    """Spans around the public functions the per-layer metrics time."""
    import fischer_spark.api as api
    import fischer_spark.operators.rollup as rollup

    def committed(sp, args, kwargs, snap):
        self, table = args[0], args[1]
        path = os.path.join(self.root, table, "snapshots", snap)
        size = sum(
            os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
        )
        tr.count("storage.commits")
        tr.count("storage.bytes_written", size)

    def read(sp, args, kwargs, df):
        self, table = args[0], args[1]
        snaps = [e["snapshot_id"] for e in self.snapshots(table)]
        target = (args[2] if len(args) > 2 else kwargs.get("snapshot_id")) or snaps[-1]
        tr.count("storage.reads")
        tr.count("storage.chain", snaps.index(target) + 1)

    for attr in ("append", "overwrite_range", "delete_below"):
        tr.wrap(store_cls, attr, "sources.storage.commit", after=committed)
    tr.wrap(store_cls, "read", "sources.storage.read", after=read)
    tr.wrap(store_cls, "compact", "sources.storage.compact")
    tr.wrap(
        rollup, "refresh_tier",
        lambda a, kw: f"operators.rollup.refresh_{a[2] if len(a) > 2 else kw['tier']}",
    )
    tr.wrap(api, "query_range", "api.plan")
    tr.wrap(api, "query_range_hist", "api.plan")


def phase_log(label: str, t0: float) -> float:
    """Print how long a phase took to stderr; returns the current time."""
    now = time.perf_counter()
    print(f"phase {label}: {now - t0:.2f} s", file=sys.stderr)
    return now


def run_workload(ctx, name: str, seconds: float, goldens: dict) -> dict:
    """Every phase of one run; returns the raw measurements."""
    import workloads as W

    from fischer_spark.sources.storage import ParquetManifestStore

    settings = ctx.settings
    wl = settings["workloads"][name]
    rounds = wl["refresh_rounds"]
    t = time.perf_counter()
    paths, setup_times = W.setup(ctx, wl["base_pages"], rounds)
    t = phase_log("setup (" + ", ".join(f"{x:.2f}" for x in setup_times) + ")", t)
    store = ParquetManifestStore(ctx.spark, os.path.join(ctx.work, "warehouse"))
    if ctx.tracer.enabled:
        wrap_layers(ctx.tracer, ParquetManifestStore)
    built = W.build(ctx, store, paths[0], wl["build_until"])
    t = phase_log("build", t)
    snaps = built["snaps"]
    counts = W.build_counts(store, snaps)
    if rounds == 0:
        # late_refresh checks its tiers against a full recompute after
        # the refresh, which covers its build too
        golden = None
        if goldens["base_pages"] == wl["base_pages"]:
            golden = goldens["seeds"].get(str(ctx.seed))
        W.check_build(ctx, store, snaps, counts, golden)
    t = phase_log("build checks", t)
    base_points = store.read("series", snaps["series"])

    from pyspark.sql import functions as F

    queries = W.query_mix(ctx.seed)
    answers = W.Answers(ctx)
    cycles = wl["min_cycles"]
    if rounds == 0:
        # serve_queries: a closed loop on the freshly built store; its
        # pages became queryable through the nightly DAG
        reads, read_wall = W.serve(ctx, store, queries, answers, 0, seconds, cycles)
        refresh_times = [built["wall_s"]]
        t = phase_log("serve", t)
        with ctx.tracer.span("checks", "checks"):
            answers.cross_check(0, queries, base_points, base_points, F)
    else:
        # late_refresh: the tier chains age past the compaction threshold,
        # then each round refreshes a late delta and a closed loop reads
        # the refreshed tables
        W.age_chains(store, wl["retention_commits"])
        after_write = [q for q in queries if q.shape in settings["read_after_write"]]
        reads, read_wall, refresh_times = W.new_samples(), 0.0, []
        for k in range(1, rounds + 1):
            t0 = time.perf_counter()
            try:
                W.refresh(ctx, store, paths[k])
            except Exception as e:  # a failed round is a failed operation
                ctx.op(False, f"refresh round {k}: {e!r}")
                continue
            refresh_times.append(time.perf_counter() - t0)
            ctx.op(True)
            t = phase_log(f"refresh {k}", t)
            out, wall = W.serve(ctx, store, after_write, answers, k, seconds / rounds, cycles)
            for key in ("plan", "exec", "total"):
                reads[key] += out[key]
            for shape, xs in out["by_shape"].items():
                reads["by_shape"][shape] += xs
            read_wall += wall
            t = phase_log(f"reads after refresh {k} ({len(out['total'])})", t)
        final_points = W.all_points(
            ctx, store, snaps, [paths[k] for k in range(1, rounds + 1)]
        ).cache()
        with ctx.tracer.span("checks", "checks"):
            W.check_refresh(ctx, store, final_points)
        final_points.unpersist()
    t = phase_log("checks", t)
    print(f"counts {json.dumps(counts)}", file=sys.stderr)
    decode_ms = []
    if ctx.tracer.enabled and "chunks" in snaps:
        decode_ms = time_decode(ctx, store, queries)
    return {
        "setup_times": setup_times,
        "build": built,
        "counts": counts,
        "reads": reads,
        "read_wall": read_wall,
        "refresh_times": refresh_times,
        "store_bytes": W.table_bytes(store.root),
        "decode_ms": decode_ms,
        "chunk_bytes_per_point": (
            chunk_ratio(store) if ctx.tracer.enabled and "chunks" in snaps else 0.0
        ),
    }


def time_decode(ctx, store, queries) -> list[float]:
    """Milliseconds to decode the raw query's chunks (zone-map pruned to
    its window), three times."""
    from pyspark.sql import functions as F

    from fischer_spark.operators.chunks import decode_chunks, prune_chunks

    kw = next(q for q in queries if q.shape == "raw_90s").args()
    out = []
    for _ in range(3):
        with ctx.tracer.span("operators.chunks.decode", "operators.chunks") as sp:
            chunks = store.read("chunks").filter(F.col("domain") == kw["domain"])
            decode_chunks(prune_chunks(chunks, kw["start"], kw["end"])).count()
        out.append((sp["end"] - sp["start"]) * 1000)
    return out


def chunk_ratio(store) -> float:
    """Encoded bytes per point of the chunk store (raw points take 16)."""
    from pyspark.sql import functions as F

    r = store.read("chunks").agg(
        F.sum(F.length("ts_bytes") + F.length("val_bytes")).alias("b"), F.sum("n").alias("n")
    ).first()
    return r["b"] / r["n"]


def end_to_end(m: dict, peak_rss: int) -> dict[str, float]:
    """The end-to-end metrics.  One without samples (every query or every
    refresh round failed) is left out, which makes the run incorrect."""
    reads = m["reads"]["total"]
    points = m["counts"]["series"]
    out = {
        "setup_s": stats.median(m["setup_times"]),
        "rolled_points_per_s": points / m["build"]["wall_s"],
        "store_bytes_per_point": m["store_bytes"] / points,
        "peak_rss_mb": peak_rss / 2**20,
    }
    if reads:
        out["query_p50_ms"] = stats.median(reads) * 1000
        out["queries_per_s"] = len(reads) / m["read_wall"]
    if m["refresh_times"]:
        out["refresh_p50_s"] = stats.median(m["refresh_times"])
    return out


def result(values: dict, units: dict, attempted: int, failed: int) -> dict:
    """The result line.  A run is correct when no operation failed and
    every metric has a value."""
    return {
        "correct": failed == 0 and set(values) == set(units),
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items() if k in values},
    }


def tails(m: dict) -> dict[str, float]:
    """Tail percentiles of the read latency that the percentile rule
    allows for this run's sample count (printed, not bounded)."""
    reads = m["reads"]["total"]
    out = {}
    for pct in (75, 90, 99):
        v = stats.tail(reads, pct)
        if v is not None:
            out[f"query_p{pct}_ms"] = v * 1000
    return out


def per_layer(m: dict, tr, session_s: float, groups: dict, cores: int, overhead: float) -> dict:
    import workloads as W

    def med(xs, scale=1.0):
        return stats.median(xs) * scale if xs else 0.0

    out = {"session.start_s": session_s, "plans.pipeline.dag_s": m["build"]["wall_s"]}
    # stages past the workload's last build stage did not run
    out.update({metric: 0.0 for _, metric, _ in W.DAG_STAGES})
    out.update(m["build"]["stage_s"])
    for t in ("1m", "1h", "1d"):
        out[f"operators.rollup.refresh_{t}_s"] = med(tr.durations(f"operators.rollup.refresh_{t}"))
    out["operators.histogram.refresh_s"] = med(tr.durations("operators.histogram.refresh"))
    for d in ("zscore", "seasonal"):
        out[f"operators.detect.{d}_intervals"] = m["counts"].get(f"{d}_intervals", 0)
    out["operators.chunks.bytes_per_point"] = m["chunk_bytes_per_point"]
    out["operators.chunks.decode_ms"] = med(m["decode_ms"])
    reads = tr.counts["storage.reads"]
    out.update({
        "sources.storage.commit_s": tr.total("sources.storage.commit"),
        "sources.storage.commits": tr.counts["storage.commits"],
        "sources.storage.read_ms": med(tr.durations("sources.storage.read"), 1000),
        "sources.storage.snapshots_per_read": tr.counts["storage.chain"] / reads if reads else 0.0,
        "sources.storage.compact_s": tr.total("sources.storage.compact"),
        "sources.storage.bytes_written_mb": tr.counts["storage.bytes_written"] / 2**20,
    })
    samples = m["reads"]
    for part in ("plan", "exec"):
        out[f"api.{part}_ms"] = med(samples[part], 1000)
    for shape in metrics.SHAPES:
        out[f"api.{shape}_p50_ms"] = med(samples["by_shape"].get(shape, []), 1000)
    wall = tr.group_wall()
    for g in metrics.GROUPS:
        c = groups.get(g, {})
        out[f"{g}.task_cpu_s"] = c.get("task_cpu_s", 0.0)
        out[f"{g}.wait_s"] = max(0.0, wall.get(g, 0.0) - c.get("task_cpu_s", 0.0) / cores)
        for k in ("shuffle_write_mb", "spill_mb", "gc_s", "failed_tasks"):
            out[f"{g}.{k}"] = c.get(k, 0.0)
    out["trace.spans"] = len(tr.spans)
    out["trace.overhead_pct"] = overhead
    return out


def tracing_overhead(history: Path, dag_s: float) -> float:
    """Traced DAG wall over the median untraced DAG wall of earlier runs
    of this workload in this checkout, as a percentage."""
    if not history.exists():
        print("note: no untraced run of this workload yet; overhead reported as 0",
              file=sys.stderr)
        return 0.0
    walls = [json.loads(line)["dag_s"] for line in history.read_text().splitlines() if line]
    if not walls:
        return 0.0
    return (dag_s / stats.median(walls) - 1.0) * 100.0


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of them has ended."""
    import procs
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = procs.tree(proc.pid) if proc is not None else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    for pid in procs.wait_gone(pids, 20):
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    procs.wait_gone(pids, 10)


def main(argv: list[str] | None = None) -> int:
    settings = load_json("settings.json")
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=sorted(settings["workloads"]))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--corrupt", action="store_true",
        help="drop a row from every tenth answer, to show the checks fail the run",
    )
    args = ap.parse_args(argv)

    if not (ROOT / "fischer_spark" / "__init__.py").exists():
        print(f"error: no fischer_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))

    base = ROOT / ".perfbench_work"
    work = base / f"run-{os.getpid()}"
    try:
        return measure(args, settings, base, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def measure(args, settings: dict, base: Path, work: Path) -> int:
    """Start the session, run the workload, stop every process it started
    and print the metrics and the result line."""
    extra = prepare_env(work, settings)
    cores = len(os.sched_getaffinity(0))
    if args.trace:
        extra.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })

    import eventlog
    import procs
    import spans
    import workloads as W
    from fischer_spark.session import get_spark
    from pyspark import SparkContext

    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench", master=f"local[{cores}]",
        shuffle_partitions=settings["session"]["shuffle_partitions"]["value"],
        extra_conf=extra,
    )
    session_s = time.perf_counter() - t0
    sampler = procs.RssSampler(SparkContext._gateway.proc.pid).start()
    tr = (
        spans.Tracer(spark.sparkContext, f"{args.workload}-{args.seed}")
        if args.trace else spans.NullTracer()
    )
    ctx = W.Ctx(spark, str(work), args.seed, settings, tr, cores, corrupt=args.corrupt)
    try:
        m = run_workload(ctx, args.workload, args.seconds, load_json("goldens.json"))
    finally:
        tr.unwrap_all()
        peak = sampler.stop()
        stop_spark(spark)

    history = base / f"history-{args.workload}.jsonl"
    if args.trace:
        groups = eventlog.parse_dir(str(work / "eventlog"))
        overhead = tracing_overhead(history, m["build"]["wall_s"])
        values = per_layer(m, tr, session_s, groups, cores, overhead)
        units = metrics.PER_LAYER
        (base / "traces").mkdir(exist_ok=True)
        tr.write(str(base / "traces" / f"{args.workload}-{args.seed}-{os.getpid()}.jsonl"))
    else:
        values = end_to_end(m, peak)
        units = metrics.END_TO_END
        with open(history, "a") as f:
            f.write(json.dumps({"seed": args.seed, "dag_s": m["build"]["wall_s"]}) + "\n")

    for err in ctx.errors:
        print(f"check failed: {err}", file=sys.stderr)
    for name, unit in units.items():
        if name in values:
            print(f"{name} {values[name]:.6g} {unit}")
        else:
            print(f"{name} missing: no samples", file=sys.stderr)
    if not args.trace:
        for name, v in tails(m).items():
            print(f"{name} {v:.6g} ms (tail, {len(m['reads']['total'])} reads)")
    print(f"op_fail_frac {ctx.failed / max(ctx.attempted, 1):.6g} "
          f"({ctx.failed} of {ctx.attempted} operations)")
    print(json.dumps(result(values, units, ctx.attempted, ctx.failed)))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
