"""The benchmark's phases: set-up, store build, serving, late refresh, and
the output checks that run outside every timed region.

Both workloads generate pages from the seed and build a store with the
nightly DAG.  ``serve_queries`` then serves the freshly built store;
``late_refresh`` merges a late delta and reads the refreshed store, whose
tier tables now fold a longer snapshot chain on every read.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
import os
import random
import threading
import time
import traceback
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field

BASE_DAY = dt.datetime(2024, 1, 1)
DAG_STAGES = (
    ("series", "operators.series.build_s", "operators.series"),
    ("key_dim", "operators.series.key_dim_s", "operators.series"),
    ("rollup_1m", "operators.rollup.1m_s", "operators.rollup"),
    ("rollup_1h", "operators.rollup.1h_s", "operators.rollup"),
    ("rollup_1d", "operators.rollup.1d_s", "operators.rollup"),
    ("hist_1h", "operators.histogram.1h_s", "operators.histogram"),
    ("hist_1d", "operators.histogram.1d_s", "operators.histogram"),
    ("zscore_intervals", "operators.detect.zscore_s", "operators.detect"),
    ("seasonal_intervals", "operators.detect.seasonal_s", "operators.detect"),
    ("chunks", "operators.chunks.encode_s", "operators.chunks"),
)
TIER_TABLES = ("rollup_1m", "rollup_1h", "rollup_1d", "hist_1h", "hist_1d")
COUNT_TABLES = (*TIER_TABLES, "zscore_intervals", "seasonal_intervals", "chunks")


def _ts(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d %H:%M:%S")


# -- query mix ----------------------------------------------------------------


@dataclass(frozen=True)
class Query:
    shape: str
    kind: str  # "range" (api.query_range) or "hist" (api.query_range_hist)
    kwargs: tuple  # sorted (key, value) pairs
    check: str  # "mean", "count" (hist n column) or "self" (answers agree)

    def args(self) -> dict:
        return dict(self.kwargs)


def query_mix(seed: int) -> list[Query]:
    """One query per shape; windows and the domain are drawn from the seed."""
    rng = random.Random(seed)
    d2 = BASE_DAY + dt.timedelta(days=rng.randrange(0, 12))
    h6 = BASE_DAY + dt.timedelta(days=rng.randrange(0, 14), hours=rng.randrange(0, 18))
    dom = f"d{rng.randrange(0, 3):03d}.example"
    two_days = {"start": _ts(d2), "end": _ts(d2 + dt.timedelta(days=2))}
    six_h = {"start": _ts(h6), "end": _ts(h6 + dt.timedelta(hours=6))}

    def q(shape, kind, check, **kw):
        return Query(shape, kind, tuple(sorted(kw.items())), check)

    return [
        q("h1_2d", "range", "mean", metric="crawl_rate", step_s=3600, **two_days),
        q("d1_14d", "range", "mean", metric="page_size", step_s=86400,
          start=_ts(BASE_DAY), end=_ts(BASE_DAY + dt.timedelta(days=14))),
        q("m1_6h", "range", "mean", metric="crawl_rate", step_s=60, domain=dom, **six_h),
        q("by_metric", "range", "mean", metric="crawl_rate", step_s=3600,
          by=("metric",), **two_days),
        q("without_domain", "range", "mean", metric="lang_mix", step_s=3600,
          without=("domain",), **two_days),
        q("rate", "range", "self", metric="crawl_rate", step_s=3600, fn="rate", **two_days),
        q("domain_re", "range", "mean", metric="lang_mix", step_s=3600,
          domain_re=r"d00[0-9]\.example", **two_days),
        q("hist_p95", "hist", "count", metric="page_size", step_s=3600, q=0.95, **two_days),
        q("raw_90s", "range", "mean", metric="page_size", step_s=90, domain=dom,
          allow_raw=True, **six_h),
    ]


def plan_query(api, store, query: Query):
    """Plan one query: the lazy DataFrame ``api`` returns."""
    kw = query.args()
    if query.kind == "hist":
        return api.query_range_hist(
            store, kw.pop("metric"), kw.pop("start"), kw.pop("end"),
            kw.pop("step_s"), kw.pop("q"), **kw,
        )
    return api.query_range(
        store, kw.pop("metric"), kw.pop("start"), kw.pop("end"), kw.pop("step_s"), **kw
    )


def _canon(v):
    if isinstance(v, float):
        return "nan" if math.isnan(v) else f"{v:.12g}"
    return "" if v is None else str(v)


def digest(rows) -> str:
    lines = sorted("|".join(_canon(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()[:16]


def reference(points, query: Query, F):
    """Recompute a query's answer straight from series points (labelled
    domain, metric, tag, bucket_ts, value) with plain Spark aggregation,
    without the tier tables, chunks or api code."""
    kw = query.args()
    df = points.filter(
        (F.col("metric") == kw["metric"])
        & (F.col("bucket_ts") >= F.lit(kw["start"]))
        & (F.col("bucket_ts") < F.lit(kw["end"]))
    )
    if kw.get("domain"):
        df = df.filter(F.col("domain") == kw["domain"])
    if kw.get("domain_re"):
        df = df.filter(F.col("domain").rlike(f"^(?:{kw['domain_re']})$"))
    labels = ["domain", "metric", "tag"]
    if kw.get("by"):
        labels = list(kw["by"])
    elif kw.get("without"):
        labels = [c for c in labels if c not in kw["without"]]
    step = kw["step_s"]
    bucket = F.timestamp_seconds(
        F.floor(F.unix_timestamp("bucket_ts") / step).cast("long") * step
    ).alias("bucket_ts")
    agg = F.count("value") if query.check == "count" else F.avg("value")
    out = df.groupBy(*labels, bucket).agg(agg.alias("value"))
    return [
        (r["domain"] if "domain" in labels else None,
         r["metric"], r["tag"] if "tag" in labels else None,
         r["bucket_ts"], r["value"])
        for r in out.collect()
    ]


def compare(answer_rows, ref_rows, query: Query) -> str | None:
    """None when the answer matches the recompute, else what differs."""
    def key(r):
        return (r[0], r[1], r[2], r[3])

    if query.check == "count":
        got = {key(r): float(r[4]) for r in answer_rows}  # (…, n, quantile)
    else:
        got = {key(r): r[4] for r in answer_rows}
    want = {key(r): r[4] for r in ref_rows}
    if got.keys() != want.keys():
        return f"{query.shape}: {len(got)} answer keys vs {len(want)} recomputed"
    for k, w in want.items():
        g = got[k]
        if g is None or w is None:
            if g is not w:
                return f"{query.shape}: value {g!r} vs {w!r} at {k}"
        elif not math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-9):
            return f"{query.shape}: value {g!r} vs {w!r} at {k}"
    return None


# -- run context --------------------------------------------------------------


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    settings: dict
    tracer: object
    clients: int
    corrupt: bool = False
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    lock: threading.Lock = field(default_factory=threading.Lock)

    def op(self, ok: bool, what: str = "") -> None:
        with self.lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.errors) < 20:
                    self.errors.append(what)


def pages_for(ctx: Ctx, path: str):
    """The job's input path: scan the pages parquet and project the
    columns the series need (jobs/rollup_job.py --input)."""
    from pyspark.sql import functions as F

    from fischer_spark.functions.urls import with_url_parts
    from fischer_spark.sources.pages import scan_pages

    pages = scan_pages(ctx.spark, path, ["url", "warc_ts", "html", "lang"])
    return with_url_parts(pages).select(
        "domain", "warc_ts", F.octet_length("html").alias("page_bytes"), "lang"
    )


def late_hour(seed: int, k: int) -> dt.datetime:
    """The closed hour the round-k delta lands in (drawn from seed + k)."""
    return BASE_DAY + dt.timedelta(hours=random.Random(seed + k).randrange(0, 14 * 24))


def setup(ctx: Ctx, base_pages: int, rounds: int) -> tuple[dict, list[float]]:
    """Generate ``base_pages`` pages (k=0, seed) and one late delta per refresh
    round (k, seed+k) with ``synth_pages``, fold each delta's timestamps
    into one closed hour, and write all of them as one parquet dataset
    partitioned by k.  This runs ``setup_reps`` times; the run reads the
    first copy."""
    from pyspark.sql import functions as F

    from fischer_spark.sources.pages import synth_pages

    inp = ctx.settings["inputs"]
    times = []
    for rep in range(inp["setup_reps"]):
        t0 = time.perf_counter()
        with ctx.tracer.span("setup.pages", "setup"):
            df = synth_pages(ctx.spark, base_pages, seed=ctx.seed).withColumn("k", F.lit(0))
            for k in range(1, rounds + 1):
                hour = F.lit(_ts(late_hour(ctx.seed, k))).cast("timestamp")
                delta = synth_pages(ctx.spark, inp["delta_pages"], seed=ctx.seed + k)
                late_ts = F.timestamp_seconds(
                    F.unix_timestamp(hour) + F.pmod(F.unix_timestamp("warc_ts"), F.lit(3600))
                )
                delta = delta.withColumn("warc_ts", late_ts.cast(delta.schema["warc_ts"].dataType))
                df = df.unionByName(delta.withColumn("k", F.lit(k)))
            df.write.partitionBy("k").parquet(os.path.join(ctx.work, f"pages-{rep}"))
        times.append(time.perf_counter() - t0)
    paths = {k: os.path.join(ctx.work, "pages-0", f"k={k}") for k in range(rounds + 1)}
    return paths, times


# -- build --------------------------------------------------------------------


def build(ctx: Ctx, store, pages_path: str, until: str) -> dict:
    """The nightly DAG into a fresh warehouse, through stage ``until``.
    Untraced: one timed ``run``.  Traced: ``run(until=stage)`` per stage
    under one run id, so each call runs exactly one stage."""
    from fischer_spark.plans.pipeline import RollupPipeline

    pipe = RollupPipeline(
        ctx.spark, store, "bench", impl="fixed64", encode_keys=True, hist=True
    )
    pages = pages_for(ctx, pages_path)
    stages = [s for s, _, _ in DAG_STAGES]
    stages = stages[: stages.index(until) + 1]
    stage_s = {}
    t0 = time.perf_counter()
    if ctx.tracer.enabled:
        for stage, metric, group in DAG_STAGES[: len(stages)]:
            with ctx.tracer.span(f"plans.pipeline.{stage}", group) as sp:
                pipe.run(pages, until=stage)
            stage_s[metric] = sp["end"] - sp["start"]
    else:
        pipe.run(pages, until=until)
    wall = time.perf_counter() - t0
    snaps = pipe.completed()
    ctx.op(sorted(snaps) == sorted(stages), "build: stages missing")
    return {"wall_s": wall, "snaps": snaps, "stage_s": stage_s}


def table_bytes(root: str) -> int:
    """Bytes on disk of every table (directories holding a manifest)."""
    total = 0
    for name in os.listdir(root):
        tdir = os.path.join(root, name)
        if not os.path.isfile(os.path.join(tdir, "manifest.json")):
            continue
        for dirpath, _dirs, files in os.walk(tdir):
            total += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
    return total


# -- serving ------------------------------------------------------------------


class Answers:
    """Answers per (epoch, shape): every answer must agree with the first
    one, and the first one is cross-checked against a recompute."""

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.first: dict[tuple, tuple[str, list]] = {}
        self.lock = threading.Lock()
        self.served = 0

    def record(self, epoch: int, query: Query, rows: list) -> None:
        with self.lock:
            self.served += 1
            if self.ctx.corrupt and self.served % 10 == 0:
                rows = rows[1:]  # drop one row: a deliberately wrong answer
            d = digest(rows)
            first = self.first.setdefault((epoch, query.shape), (d, rows))
        ok = first[0] == d
        self.ctx.op(ok, f"epoch {epoch} {query.shape}: answer digest {d} != {first[0]}")

    def cross_check(self, epoch: int, queries: list[Query], points, base_points, F) -> None:
        """Recompute each answered query of ``epoch`` from series points
        (``base_points`` for the chunk-served raw query) and compare."""
        todo = [q for q in queries if q.check != "self" and (epoch, q.shape) in self.first]

        def one(q: Query):
            src = base_points if q.args().get("allow_raw") else points
            return q, compare(self.first[(epoch, q.shape)][1], reference(src, q, F), q)

        with ThreadPoolExecutor(self.ctx.clients) as ex:
            for q, err in ex.map(one, todo):
                self.ctx.op(err is None, f"epoch {epoch} cross-check: {err}")


def _timed_query(ctx: Ctx, api, store, q: Query, answers: Answers, epoch: int, out: dict) -> None:
    try:
        with ctx.tracer.span(f"api.{q.shape}", "api"):
            t0 = time.perf_counter()
            df = plan_query(api, store, q)
            t1 = time.perf_counter()
            rows = df.collect()
            t2 = time.perf_counter()
    except Exception:
        ctx.op(False, f"{q.shape}: {traceback.format_exc(limit=3)}")
        return
    with answers.lock:
        out["plan"].append(t1 - t0)
        out["exec"].append(t2 - t1)
        out["total"].append(t2 - t0)
        out["by_shape"][q.shape].append(t2 - t0)
    answers.record(epoch, q, [tuple(r) for r in rows])


def new_samples() -> dict:
    return {"plan": [], "exec": [], "total": [], "by_shape": defaultdict(list)}


def serve(ctx: Ctx, store, queries: list[Query], answers: Answers, epoch: int,
          seconds: float, min_cycles: int) -> tuple[dict, float]:
    """Closed loop: ``ctx.clients`` threads, each walking seeded
    permutations of the mix (a cycle reads every shape once) and issuing
    its next query when the previous one returns.  A client stops at the
    end of a cycle, once ``seconds`` have passed and it has run
    ``min_cycles`` cycles, so every shape is read equally often; past
    three times ``seconds`` it stops at once."""
    from fischer_spark import api

    out = new_samples()
    t0 = time.perf_counter()
    soft, hard = t0 + seconds, t0 + 3 * seconds

    def client(i: int) -> None:
        rng = random.Random(ctx.seed * 1000 + i)
        cycles = 0
        while cycles < min_cycles or time.perf_counter() < soft:
            for q in rng.sample(queries, len(queries)):
                if time.perf_counter() >= hard:
                    return
                _timed_query(ctx, api, store, q, answers, epoch, out)
            cycles += 1

    threads = [threading.Thread(target=client, args=(i,)) for i in range(ctx.clients)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return out, time.perf_counter() - t0


# -- late refresh -------------------------------------------------------------


def age_chains(store, commits: int) -> None:
    """Nightly retention passes that expire nothing: ``commits``
    ``delete_below`` commits per tier table, with a cutoff before the first
    bucket.  They write no data, only manifest entries, and lengthen every
    tier's snapshot chain past ``maybe_compact``'s threshold, as weeks of
    retention passes do, so the next refresh round compacts."""
    cutoff = _ts(BASE_DAY - dt.timedelta(days=1))
    for t in TIER_TABLES:
        for _ in range(commits):
            store.delete_below(t, "bucket_ts", cutoff)


def refresh(ctx: Ctx, store, pages_path: str) -> None:
    """The ``jobs/rollup_job.py --refresh --encode-keys`` sequence through
    its public functions (the job's ``main`` stops the SparkContext)."""
    from fischer_spark.operators.histogram import refresh_hist_cascade_families
    from fischer_spark.operators.rollup import refresh_cascade
    from fischer_spark.operators.series import (
        build_series,
        encode_series_keys,
        verify_key_encoding,
    )

    tr = ctx.tracer
    with tr.span("refresh.compact", "sources.storage"):
        for t in TIER_TABLES:
            store.maybe_compact(t)
    with tr.span("refresh.series", "operators.series"):
        late_points, delta_dim = encode_series_keys(build_series(pages_for(ctx, pages_path)))
        existing_dim = store.read("key_dim")
        delta_dim = delta_dim.distinct()
        if not verify_key_encoding(existing_dim.unionByName(delta_dim).distinct()):
            raise RuntimeError("key_id hash collision between delta and stored dim")
        new_keys = delta_dim.join(existing_dim.select("key_id"), "key_id", "left_anti")
        if new_keys.limit(1).count():
            store.append("key_dim", new_keys)
    with tr.span("refresh.rollup", "operators.rollup"):
        refresh_cascade(store, late_points, impl="fixed64")
    with tr.span("operators.histogram.refresh", "operators.histogram"):
        pmap = store.meta("hist_1h")["hist_params"]
        refresh_hist_cascade_families(
            store, late_points, {m: tuple(p) for m, p in pmap.items()},
            key_dim=store.read("key_dim"),
        )


# -- checks -------------------------------------------------------------------


def build_counts(store, snaps: dict) -> dict:
    """Row counts of the built tables (series points and the tables the
    goldens pin), read at the build's snapshots in one job."""
    from pyspark.sql import functions as F

    tables = [t for t in ("series", *COUNT_TABLES) if t in snaps]
    tagged = None
    for t in tables:
        d = store.read(t, snaps[t]).select(F.lit(t).alias("table"))
        tagged = d if tagged is None else tagged.unionByName(d)
    got = {r["table"]: r["count"] for r in tagged.groupBy("table").count().collect()}
    return {t: got.get(t, 0) for t in tables}


def check_build(ctx: Ctx, store, snaps: dict, counts: dict, golden: dict | None) -> None:
    """Tier exactness at the build snapshots (a 1d tier re-derived from the
    stored series equals the stored rollup_1d states) and, for a seed with
    recorded goldens, the row counts."""
    from fischer_spark.operators.rollup import rollup_points
    from fischer_spark.operators.series import encode_series_keys

    enc, _ = encode_series_keys(store.read("series", snaps["series"]))
    want = rollup_points(enc, "1d", "fixed64")
    got = store.read("rollup_1d", snaps["rollup_1d"]).select(*want.columns)
    g, w = same_rows({"rollup_1d": (got, want)})["rollup_1d"]
    ctx.op(g == w, f"build: rollup_1d has (rows, row-hash sum) {g}, a recompute {w}")
    for k, v in (golden or {}).items():
        ctx.op(counts.get(k) == v, f"build: {k} has {counts.get(k)} rows, golden {v}")


def same_rows(pairs: dict) -> dict:
    """{name: (got, want) DataFrames} → {name: (got print, want print)},
    where a print is (row count, exact sum of per-row 64-bit hashes): equal
    multisets of rows give equal prints.  All pairs run as one job."""
    from pyspark.sql import functions as F

    tagged = None
    for name, dfs in pairs.items():
        for side, df in zip(("got", "want"), dfs):
            h = F.xxhash64(*[F.col(c) for c in df.columns]).cast("decimal(38,0)")
            agg = df.agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h")).select(
                F.lit(name).alias("name"), F.lit(side).alias("side"), "n", "h"
            )
            tagged = agg if tagged is None else tagged.unionByName(agg)
    prints = {(r["name"], r["side"]): (r["n"], r["h"]) for r in tagged.collect()}
    return {name: (prints[(name, "got")], prints[(name, "want")]) for name in pairs}


def all_points(ctx: Ctx, store, snaps: dict, delta_paths: list[str]):
    """Labelled series points of the base plus every delta applied."""
    from fischer_spark.operators.series import build_series

    pts = store.read("series", snaps["series"])
    for p in delta_paths:
        pts = pts.unionByName(build_series(pages_for(ctx, p)))
    return pts


def check_refresh(ctx: Ctx, store, points) -> None:
    """After the last round, every refreshed tier equals a full recompute
    over base plus deltas."""
    from fischer_spark.operators.histogram import hist_states_families
    from fischer_spark.operators.rollup import rollup_points
    from fischer_spark.operators.series import encode_series_keys

    enc, dim = encode_series_keys(points)
    enc = enc.cache()
    pmap = {m: tuple(p) for m, p in store.meta("hist_1h")["hist_params"].items()}
    wants = {f"rollup_{t}": rollup_points(enc, t, "fixed64") for t in ("1m", "1h", "1d")}
    for t in ("1h", "1d"):
        wants[f"hist_{t}"] = hist_states_families(enc, t, pmap, key_dim=dim)

    pairs = {t: (store.read(t).select(*w.columns), w) for t, w in wants.items()}
    for table, (got, want) in same_rows(pairs).items():
        ctx.op(got == want, f"refresh: {table} has (rows, row-hash sum) {got}, "
                            f"a full recompute {want}")
    enc.unpersist()
