"""Fluent API: end-to-end chain equals the composed operator calls."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from fischer_spark.api import Series


def test_fluent_chain_runs(pages):
    out = (
        Series.from_pages(pages, families=("crawl_rate",))
        .rollup("1h")
        .score("zscore", w=24, min_periods=8)
        .intervals(tau=3.0)
    )
    rows = out.df.collect()
    assert len(rows) > 0
    assert {"detector", "interval_start", "peak_score"} <= set(out.df.columns)
    assert all(r.detector == "zscore" for r in rows)


def test_fluent_equals_composed(pages):
    from fischer_spark.operators.detect import zscore_window
    from fischer_spark.operators.rollup import rollup_points, with_derived_stats
    from fischer_spark.operators.series import crawl_rate_series

    from tests.conftest import assert_df_equal

    fluent = (
        Series.from_pages(pages, families=("crawl_rate",))
        .rollup("1h")
        .score("zscore")
        .df
    )
    composed = zscore_window(
        with_derived_stats(rollup_points(crawl_rate_series(pages), "1h")).select(
            "domain", "metric", "tag", "bucket_ts", F.col("mean").alias("value")
        )
    )
    assert_df_equal(fluent, composed)


def test_gapfill_then_seasonal(pages):
    out = (
        Series.from_pages(pages.filter(F.col("domain") == "d003.example"), ("crawl_rate",))
        .rollup("1h")
        .gapfill("linear", tier="1h")
        .score("seasonal")
    )
    assert out.df.count() > 0


def test_query_range_rebuckets_from_coarsest_dividing_tier(spark, tmp_path):
    """query_range(step=2h) must equal a direct 2h aggregation over raw
    points — via the 1h tier's exact state re-aggregation, never raw."""
    from fischer_spark.api import query_range
    from fischer_spark.operators.rollup import rollup_points
    from fischer_spark.operators.series import build_series
    from fischer_spark.sources.pages import synth_pages
    from fischer_spark.sources.storage import ParquetManifestStore
    from pyspark.sql import functions as F

    from tests.conftest import assert_df_equal

    pages = synth_pages(spark, 4000, seed=7).selectExpr(
        "parse_url(url, 'HOST') AS domain", "warc_ts",
        "octet_length(html) AS page_bytes", "lang",
    )
    points = build_series(pages)
    store = ParquetManifestStore(spark, str(tmp_path / "w"))
    store.append("rollup_1h", rollup_points(points, "1h"))

    import datetime

    lo, hi = points.agg(F.min("bucket_ts"), F.max("bucket_ts")).first()
    start = lo.replace(minute=0, second=0, microsecond=0) - datetime.timedelta(
        hours=lo.hour % 2
    )  # aligned to the 2h step grid
    end = hi + datetime.timedelta(hours=1)  # past the last 1h bucket
    got = query_range(store, "crawl_rate", str(start), str(end), step_s=7200, stat="mean")

    step_bucket = F.timestamp_seconds(
        (F.unix_timestamp("bucket_ts") / 7200).cast("long") * 7200
    ).alias("bucket_ts")
    want = (
        points.filter(F.col("metric") == "crawl_rate")
        .groupBy("domain", "metric", "tag", step_bucket)
        .agg(F.avg("value").alias("value"))
    )
    assert_df_equal(got, want, tol=1e-9)


def test_query_range_decodes_key_encoded_tiers(spark, tmp_path):
    """query_range over a fast-path (key_id, fixed64) tier table equals
    the string-keyed result."""
    from fischer_spark.api import query_range
    from fischer_spark.operators.rollup import rollup_points
    from fischer_spark.operators.series import build_series, encode_series_keys
    from fischer_spark.sources.pages import synth_pages
    from fischer_spark.sources.storage import ParquetManifestStore
    from pyspark.sql import functions as F

    from tests.conftest import assert_df_equal

    pages = synth_pages(spark, 3000, seed=7).selectExpr(
        "parse_url(url, 'HOST') AS domain", "warc_ts",
        "octet_length(html) AS page_bytes", "lang",
    )
    points = build_series(pages)
    enc, dim = encode_series_keys(points)

    plain = ParquetManifestStore(spark, str(tmp_path / "p"))
    plain.append("rollup_1h", rollup_points(points, "1h"))
    fast = ParquetManifestStore(spark, str(tmp_path / "f"))
    fast.append("rollup_1h", rollup_points(enc, "1h", impl="fixed64"))

    lo, hi = points.agg(F.min("bucket_ts"), F.max("bucket_ts")).first()
    import datetime

    start, end = str(lo.replace(minute=0, second=0, microsecond=0)), str(
        hi + datetime.timedelta(hours=1)
    )
    a = query_range(plain, "crawl_rate", start, end, 3600, stat="mean")
    b = query_range(fast, "crawl_rate", start, end, 3600, stat="mean", key_dim=dim)
    assert_df_equal(a, b, tol=1e-6)


def test_query_raw_from_chunks(spark, tmp_path):
    """query_raw returns exactly the raw series points inside [start, end),
    decoding only zone-map-surviving chunks."""
    import datetime

    from pyspark.sql import functions as F

    from fischer_spark.api import query_raw
    from fischer_spark.operators.chunks import encode_chunks, prune_chunks
    from fischer_spark.sources.storage import ParquetManifestStore

    base = datetime.datetime(2024, 1, 1)
    rows = [
        ("a", "m", None, base + datetime.timedelta(days=d, minutes=i), float(d * 1440 + i))
        for d in range(5)
        for i in range(0, 120, 7)
    ]
    pts = spark.createDataFrame(
        rows, "domain string, metric string, tag string, bucket_ts timestamp, value double"
    )
    store = ParquetManifestStore(spark, str(tmp_path / "w"))
    store.append("chunks", encode_chunks(pts, "1d"))

    start, end = "2024-01-02 00:00:00", "2024-01-04 00:00:00"
    got = query_raw(store, "m", start, end)
    want = pts.filter(
        (F.col("bucket_ts") >= F.lit(start)) & (F.col("bucket_ts") < F.lit(end))
    )
    from tests.conftest import assert_df_equal

    assert_df_equal(got, want)

    # zone-map pruning really prunes: 5 day-chunks → days 0/1 dropped;
    # day 4 survives conservatively (t_start == inclusive t_to boundary)
    # and its rows are removed by the exact post-decode filter
    assert store.read("chunks").count() == 5
    assert prune_chunks(store.read("chunks"), t_from=start, t_to=end).count() == 3


def test_series_histogram_quantile_fluent(spark):
    """Fluent surface for the histogram tier family."""
    import datetime

    from fischer_spark.api import Series
    from fischer_spark.operators.histogram import hist_quantile, hist_states

    base = datetime.datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [("a", "m", None, base + datetime.timedelta(minutes=i), float(i % 50))
         for i in range(600)],
        "domain string, metric string, tag string, bucket_ts timestamp, value double",
    )
    fluent = Series.from_points(pts).histogram("1h", 0.0, 50.0, 25).quantile(0.9)
    direct = hist_quantile(hist_states(pts, "1h", 0.0, 50.0, 25), 0.9, 0.0, 50.0, 25)
    from tests.conftest import assert_df_equal

    assert_df_equal(fluent.df, direct.df if hasattr(direct, "df") else direct)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="must follow"):
        Series.from_points(pts).quantile(0.5)


def test_series_downsample_fluent(pages):
    from fischer_spark.api import Series

    s = Series.from_pages(pages, ("crawl_rate",)).rollup("1h")
    full = s.df.groupBy("domain", "metric", "tag").count().collect()
    out = s.downsample(n_out=10).df
    counts = {
        (r["domain"], r["metric"], r["tag"]): r["count"]
        for r in out.groupBy("domain", "metric", "tag").count().collect()
    }
    for r in full:
        key = (r["domain"], r["metric"], r["tag"])
        assert counts[key] == min(10, r["count"])
    # schema is unchanged by downsampling
    assert out.columns == s.df.columns


def test_series_counter_rate_fluent(pages):
    from fischer_spark.api import Series

    s = Series.from_pages(pages, ("crawl_rate",)).rollup("1h").counter_rate()
    row = (
        s.df.filter(F.col("increase").isNotNull())
        .select("increase", "rate")
        .first()
    )
    # hourly buckets: rate must be increase / 3600 exactly
    assert row is not None and abs(row["rate"] - row["increase"] / 3600.0) < 1e-12


def test_series_smoothing_fluent(pages):
    from fischer_spark.api import Series

    s = Series.from_pages(pages, ("crawl_rate",)).rollup("1h")
    sm = s.ewma(alpha=0.5).df
    assert "smoothed" in sm.columns and sm.count() == s.df.count()
    hw = s.holt().df
    assert {"smoothed", "trend"} <= set(hw.columns)


def test_query_range_fn_transforms(spark, tmp_path):
    """query_range(fn=...) composes per-series transforms onto the tier
    read: rate == increase/step, ewma matches the operator kernel, and
    an unknown fn errors loudly."""
    import datetime

    import numpy as np
    import pytest as _pytest

    from fischer_spark.api import query_range
    from fischer_spark.operators.rollup import rollup_points
    from fischer_spark.operators.series import build_series
    from fischer_spark.operators.smooth import _ewma_np
    from fischer_spark.sources.pages import synth_pages
    from fischer_spark.sources.storage import ParquetManifestStore

    pages = synth_pages(spark, 4000, seed=7).selectExpr(
        "parse_url(url, 'HOST') AS domain", "warc_ts",
        "octet_length(html) AS page_bytes", "lang",
    )
    points = build_series(pages)
    store = ParquetManifestStore(spark, str(tmp_path / "w"))
    store.append("rollup_1h", rollup_points(points, "1h"))

    lo, hi = points.agg(F.min("bucket_ts"), F.max("bucket_ts")).first()
    start, end = str(lo.replace(minute=0)), str(hi + datetime.timedelta(hours=1))

    base = query_range(store, "crawl_rate", start, end, 3600, stat="sum")
    inc = query_range(store, "crawl_rate", start, end, 3600, stat="sum", fn="increase")
    rate = query_range(store, "crawl_rate", start, end, 3600, stat="sum", fn="rate")
    assert base.columns == inc.columns == rate.columns

    key = lambda r: (r["domain"], r["tag"], r["bucket_ts"])  # noqa: E731
    inc_rows = {key(r): r["value"] for r in inc.collect()}
    rate_rows = {key(r): r["value"] for r in rate.collect()}
    assert any(v is not None for v in inc_rows.values())
    # rate = increase / elapsed-seconds to the series' PREVIOUS bucket
    # (buckets may be gapped — elapsed is not always one step)
    series: dict = {}
    for (d, t, b), v in inc_rows.items():
        series.setdefault((d, t), []).append(b)
    checked = 0
    for (d, t), buckets in series.items():
        buckets.sort()
        for prev, cur in zip(buckets, buckets[1:]):
            r, i = rate_rows[(d, t, cur)], inc_rows[(d, t, cur)]
            if r is None or i is None:
                continue
            elapsed = (cur - prev).total_seconds()
            assert abs(r - i / elapsed) < 1e-9
            checked += 1
    assert checked > 0

    sm = query_range(store, "crawl_rate", start, end, 3600, stat="mean",
                     fn="ewma", fn_args={"alpha": 0.4})
    raw = query_range(store, "crawl_rate", start, end, 3600, stat="mean")
    got, want = {}, {}
    for r in raw.collect():
        want.setdefault((r["domain"], r["tag"]), []).append((r["bucket_ts"], r["value"]))
    for r in sm.collect():
        got.setdefault((r["domain"], r["tag"]), []).append((r["bucket_ts"], r["value"]))
    k0 = next(k for k, v in want.items() if len(v) > 5)
    ys = [v for _, v in sorted(want[k0])]
    np.testing.assert_allclose(
        [v for _, v in sorted(got[k0])], _ewma_np(np.array(ys), 0.4), rtol=1e-9
    )

    with _pytest.raises(ValueError, match="unknown query_range fn"):
        query_range(store, "crawl_rate", start, end, 3600, fn="nope")


def test_series_robust_score_fluent(pages):
    from fischer_spark.api import Series

    s = Series.from_pages(pages, ("crawl_rate",)).rollup("1h").robust_score()
    assert {"slot", "med", "mad", "score"} <= set(s.df.columns)
    r = s.df.filter(F.col("score").isNotNull()).first()
    assert r is not None
    # score definition holds row-wise
    assert abs(r["score"] - 0.6745 * (r["value"] - r["med"]) / r["mad"]) < 1e-12
    # intervals compose on the robust scores and carry the detector label
    iv = s.intervals(tau=0.5)
    assert "detector" in iv.df.columns
    row = iv.df.first()
    assert row is None or row["detector"] == "robust_seasonal"


def test_query_range_fn_deriv_predict(spark, tmp_path):
    """fn='deriv' recovers an exactly-linear series' slope; predict_linear
    extrapolates the same line exactly; one row per series at the last
    served bucket; single-sample series yield NULL (a line needs two
    points)."""
    import datetime

    from fischer_spark.api import query_range
    from fischer_spark.operators.rollup import rollup_points
    from fischer_spark.sources.storage import ParquetManifestStore

    t0 = datetime.datetime(2024, 1, 1)
    rows = []
    # series A: value = 10 + 2.5 * hours  (slope 2.5/3600 per second)
    for h in range(12):
        rows.append(("a.com", "crawl_rate", None, t0 + datetime.timedelta(hours=h),
                     10.0 + 2.5 * h))
    # series B: single sample -> NULL slope
    rows.append(("b.com", "crawl_rate", None, t0, 7.0))
    points = spark.createDataFrame(
        rows, "domain string, metric string, tag string, ts timestamp, value double"
    ).selectExpr("domain", "metric", "tag", "ts AS bucket_ts", "value")
    store = ParquetManifestStore(spark, str(tmp_path / "w"))
    store.append("rollup_1h", rollup_points(points, "1h"))

    start, end = "2024-01-01 00:00:00", "2024-01-02 00:00:00"
    d = {r["domain"]: r for r in query_range(
        store, "crawl_rate", start, end, 3600, stat="mean", fn="deriv"
    ).collect()}
    assert set(d) == {"a.com", "b.com"}
    assert abs(d["a.com"]["value"] - 2.5 / 3600.0) < 1e-9 * (2.5 / 3600.0)
    assert d["a.com"]["bucket_ts"] == t0 + datetime.timedelta(hours=11)
    assert d["b.com"]["value"] is None

    p = {r["domain"]: r for r in query_range(
        store, "crawl_rate", start, end, 3600, stat="mean",
        fn="predict_linear", fn_args={"horizon_s": 7200.0},
    ).collect()}
    # line continued 2 hours past the last sample: 10 + 2.5*13
    assert abs(p["a.com"]["value"] - (10.0 + 2.5 * 13)) < 1e-9


def test_query_range_allow_raw_serves_nondividing_step(spark, tmp_path):
    """step=90s divides no tier; allow_raw=True serves it from the chunk
    store and equals a direct exact aggregation of the raw points."""
    import datetime

    from fischer_spark.api import query_range
    from fischer_spark.operators.chunks import encode_chunks
    from fischer_spark.sources.storage import ParquetManifestStore

    from tests.conftest import assert_df_equal

    base = datetime.datetime(2024, 1, 1)
    rows = [
        ("a", "m", None, base + datetime.timedelta(seconds=30 * i), float(i % 17))
        for i in range(400)
    ]
    pts = spark.createDataFrame(
        rows, "domain string, metric string, tag string, bucket_ts timestamp, value double"
    )
    store = ParquetManifestStore(spark, str(tmp_path / "w"))
    store.append("chunks", encode_chunks(pts, "1h"))

    start, end = "2024-01-01 00:00:00", "2024-01-01 04:00:00"
    got = query_range(store, "m", start, end, step_s=90, stat="mean", allow_raw=True)

    step_bucket = F.timestamp_seconds(
        (F.unix_timestamp("bucket_ts") / 90).cast("long") * 90
    ).alias("bucket_ts")
    want = (
        pts.filter((F.col("bucket_ts") >= start) & (F.col("bucket_ts") < end))
        .groupBy("domain", "metric", "tag", step_bucket)
        .agg(F.avg("value").alias("value"))
    )
    assert_df_equal(got, want, tol=1e-9)

    # fail-loud default is unchanged
    import pytest as _pytest

    with _pytest.raises(ValueError, match="not a multiple"):
        query_range(store, "m", start, end, step_s=90)


def test_series_round3b_fluent_methods(pages):
    """The .offset/.m4/.alerts/.calendar_rollup fluent hooks delegate to
    their operators exactly (same frames as direct composition)."""
    from pyspark.sql import functions as F

    from fischer_spark.api import Series
    from fischer_spark.operators.binop import series_offset
    from fischer_spark.operators.downsample import m4_downsample
    from fischer_spark.operators.rollup import (
        rollup_points,
        rollup_states_calendar,
    )
    from tests.conftest import assert_df_equal

    s = Series.from_pages(pages, ("crawl_rate",)).rollup("1h")

    assert_df_equal(s.offset(3600).df, series_offset(s.df, 3600))
    assert_df_equal(
        s.m4(32).df, m4_downsample(s.df, ["domain", "metric", "tag"], n_px=32)
    )

    alerts = s.alerts(F.col("value") > 0, for_s=2 * 3600, alertname="busy").df
    assert alerts.count() > 0
    assert set(alerts.select("state").distinct().toPandas().state) <= {"pending", "firing"}

    cal = s.calendar_rollup("1w").df
    direct_states = rollup_states_calendar(rollup_points(s.df, "1d"), "1w")
    assert cal.count() == direct_states.count() > 0
    # week-over-week ratio composes from offset + binop
    wow = s.binop(s.offset(7 * 86400), "div", new_metric="wow")
    assert wow.df.filter(F.col("metric") != "wow").count() == 0


def test_subquery_range_over_time(spark, tmp_path):
    """subquery_range: max/avg/last_over_time at a 1h outer step over a
    1m-step inner query_range equals the same two-level aggregation
    computed directly from raw points (PromQL
    `max_over_time(x[1h:1m])` semantics: avg over PRESENT samples)."""
    from fischer_spark.api import query_range, subquery_range
    from fischer_spark.operators.rollup import rollup_points
    from fischer_spark.operators.series import build_series
    from fischer_spark.sources.pages import synth_pages
    from fischer_spark.sources.storage import ParquetManifestStore

    from tests.conftest import assert_df_equal

    pages = synth_pages(spark, 4000, seed=11).selectExpr(
        "parse_url(url, 'HOST') AS domain", "warc_ts",
        "octet_length(html) AS page_bytes", "lang",
    )
    points = build_series(pages)
    store = ParquetManifestStore(spark, str(tmp_path / "w"))
    store.append("rollup_1m", rollup_points(points, "1m"))

    start, end = "2024-01-01 00:00:00", "2024-12-31 00:00:00"
    inner = query_range(store, "crawl_rate", start, end, 60, stat="count")
    b1h = F.timestamp_seconds(
        (F.unix_timestamp("bucket_ts") / 3600).cast("long") * 3600
    ).alias("bucket_ts")
    for stat, agg in (("max", F.max("value")), ("avg", F.avg("value"))):
        got = subquery_range(
            store, "crawl_rate", start, end, 60, 3600,
            outer_stat=stat, stat="count",
        )
        want = inner.groupBy("domain", "metric", "tag", b1h).agg(
            agg.alias("value")
        )
        assert_df_equal(got, want, tol=1e-12)

    # last_over_time: the max-inner-bucket sample per outer bucket
    got_last = subquery_range(
        store, "crawl_rate", start, end, 60, 3600,
        outer_stat="last", stat="count",
    )
    w = Window.partitionBy("domain", "metric", "tag", b1h).orderBy(
        F.desc("bucket_ts")
    )
    want_last = (
        inner.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("domain", "metric", "tag", b1h, "value")
    )
    assert_df_equal(got_last, want_last, tol=0)

    import pytest

    with pytest.raises(ValueError, match="multiple"):
        subquery_range(store, "crawl_rate", start, end, 60, 90)
    with pytest.raises(ValueError, match="outer_stat"):
        subquery_range(store, "crawl_rate", start, end, 60, 3600,
                       outer_stat="median")


def test_query_range_regex_selectors(spark, tmp_path):
    """domain_re/tag_re are PromQL `=~` selectors: full-match anchored
    (a prefix pattern must not match mid-string), composable with the
    exact matchers, and equal to the client-side filter of the
    unselected read."""
    from fischer_spark.api import query_range
    from fischer_spark.operators.rollup import rollup_points
    from fischer_spark.operators.series import build_series
    from fischer_spark.sources.pages import synth_pages
    from fischer_spark.sources.storage import ParquetManifestStore

    from tests.conftest import assert_df_equal

    pages = synth_pages(spark, 3000, seed=3).selectExpr(
        "parse_url(url, 'HOST') AS domain", "warc_ts",
        "octet_length(html) AS page_bytes", "lang",
    )
    store = ParquetManifestStore(spark, str(tmp_path / "w"))
    store.append("rollup_1h", rollup_points(build_series(pages), "1h"))

    start, end = "2024-01-01 00:00:00", "2024-12-31 00:00:00"
    base = query_range(store, "crawl_rate", start, end, 3600)
    got = query_range(
        store, "crawl_rate", start, end, 3600, domain_re="d00[12].*"
    )
    want = base.filter(F.col("domain").rlike("^d00[12]\\."))
    assert_df_equal(got, want, tol=0)
    doms = {r.domain for r in got.select("domain").distinct().collect()}
    assert doms and all(d.startswith(("d001.", "d002.")) for d in doms)

    # anchoring: an unanchored mid-string pattern must match nothing
    # ("0.*" is a substring of every "d0xx.example" but full-matches none)
    assert query_range(
        store, "crawl_rate", start, end, 3600, domain_re="0.*"
    ).count() == 0

    # metric_re (PromQL __name__=~): metric=None + regex selects across
    # metric names; the exact-match read is a strict subset
    all_m = query_range(store, None, start, end, 3600, metric_re="crawl_.*")
    assert all_m.count() == base.count()
    assert query_range(store, None, start, end, 3600, metric_re="rawl_.*").count() == 0


def test_record_rule_incremental_equals_full(spark, tmp_path):
    """Recording rules: two incremental evaluations split mid-horizon
    equal one full evaluation bit-for-bit, for a plain stat and for the
    lag-1 counter fn (whose first new bucket needs the lookback read);
    a third run with no new buckets is a no-op; unbounded fns raise."""
    import pytest

    from fischer_spark.api import query_range, record_rule
    from fischer_spark.operators.rollup import rollup_points
    from fischer_spark.operators.series import build_series
    from fischer_spark.sources.pages import synth_pages
    from fischer_spark.sources.storage import ParquetManifestStore

    from tests.conftest import assert_df_equal

    pages = synth_pages(spark, 3000, seed=17).selectExpr(
        "parse_url(url, 'HOST') AS domain", "warc_ts",
        "octet_length(html) AS page_bytes", "lang",
    )
    states = rollup_points(build_series(pages), "1h")
    store = ParquetManifestStore(spark, str(tmp_path / "w"))
    store.append("rollup_1h", states)

    lo, hi = states.agg(F.min("bucket_ts"), F.max("bucket_ts")).first()
    mid = str(lo + (hi - lo) / 2)
    endall = "2024-12-31 00:00:00"

    for name, fn in (("mean_1h", None), ("rate_1h", "delta")):
        s1 = record_rule(store, name, "crawl_rate", 3600, fn=fn, end=mid)
        s2 = record_rule(store, name, "crawl_rate", 3600, fn=fn, end=endall)
        assert s1 and s2
        want = query_range(
            store, "crawl_rate", "1900-01-01 00:00:00", endall, 3600, fn=fn
        )
        assert_df_equal(store.read(f"rule_{name}").drop("stat_value"), want, tol=0)
        # no new buckets → no commit
        assert record_rule(store, name, "crawl_rate", 3600, fn=fn, end=endall) is None

    with pytest.raises(ValueError, match="unbounded"):
        record_rule(store, "ew", "crawl_rate", 3600, fn="ewma")
    # unbounded fns ARE materializable as a full overwrite
    s = record_rule(store, "ew", "crawl_rate", 3600, fn="ewma", full=True)
    assert s is not None
    want_ew = query_range(
        store, "crawl_rate", "1900-01-01 00:00:00", "9999-01-01 00:00:00",
        3600, fn="ewma",
    )
    assert_df_equal(store.read("rule_ew").drop("stat_value"), want_ew, tol=0)


def test_record_rule_persists_spec_before_data(spark, tmp_path):
    """A rule recorded BEFORE its metric has any data returns None but
    must still persist its rule_spec (ADVICE r4), so rollup_job
    --refresh's rebuild loop can materialize it once data arrives."""
    from fischer_spark.api import query_range, record_rule
    from fischer_spark.operators.rollup import rollup_points
    from fischer_spark.operators.series import build_series
    from fischer_spark.sources.pages import synth_pages
    from fischer_spark.sources.storage import ParquetManifestStore

    from tests.conftest import assert_df_equal

    store = ParquetManifestStore(spark, str(tmp_path / "w"))
    # empty tier table exists, but the metric yields zero buckets
    pages = synth_pages(spark, 500, seed=23).selectExpr(
        "parse_url(url, 'HOST') AS domain", "warc_ts",
        "octet_length(html) AS page_bytes", "lang",
    )
    states = rollup_points(build_series(pages), "1h")
    store.append("rollup_1h", states.limit(0))

    assert record_rule(store, "early", "crawl_rate", 3600) is None
    spec = store.meta("rule_early").get("rule_spec")
    assert spec is not None and spec["metric"] == "crawl_rate"
    assert store.current_snapshot("rule_early") is None

    # data arrives; replaying the persisted spec (what --refresh does)
    # gives the rule its first materialization
    store.overwrite_range(
        "rollup_1h", states, "bucket_ts",
        "1900-01-01 00:00:00", "9999-01-01 00:00:00",
    )
    snap = record_rule(
        store, spec["rule"], spec["metric"], spec["step_s"],
        fn=spec.get("fn"), fn_args=spec.get("fn_args"),
        stat=spec.get("stat", "mean"), end=spec.get("end"),
        full=True, **(spec.get("sel") or {}),
    )
    assert snap is not None
    want = query_range(
        store, "crawl_rate", "1900-01-01 00:00:00",
        "9999-01-01 00:00:00", 3600,
    )
    assert_df_equal(store.read("rule_early").drop("stat_value"), want, tol=0)


def test_query_range_by_label_equals_rekeyed_rollup(spark, tmp_path):
    """PromQL vector aggregation (query_range by=/without=): sum/mean
    `by (domain)` across every series must equal a rollup KEYED ON
    DOMAIN ALONE, bit-for-bit — cross-series state addition is the same
    exact algebra as the tier cascade (VERDICT r3 next #3)."""
    import pytest

    from fischer_spark.api import query_range
    from fischer_spark.operators.rollup import rollup_points, with_derived_stats
    from fischer_spark.operators.series import build_series
    from fischer_spark.sources.pages import synth_pages
    from fischer_spark.sources.storage import ParquetManifestStore

    from tests.conftest import assert_df_equal

    pages = synth_pages(spark, 4000, seed=11).selectExpr(
        "parse_url(url, 'HOST') AS domain", "warc_ts",
        "octet_length(html) AS page_bytes", "lang",
    )
    points = build_series(pages)  # several metrics + tags per domain
    store = ParquetManifestStore(spark, str(tmp_path / "w"))
    store.append("rollup_1h", rollup_points(points, "1h"))
    start, end = "1900-01-01 00:00:00", "9999-01-01 00:00:00"

    # the same points rolled up with domain as the ONLY series key
    rekeyed = points.select(
        "domain",
        F.lit(None).cast("string").alias("metric"),
        F.lit(None).cast("string").alias("tag"),
        "bucket_ts", "value",
    )
    want_states = with_derived_stats(rollup_points(rekeyed, "1h"))

    for stat, col in (("sum", F.col("sum").cast("double")), ("mean", F.col("mean"))):
        got = query_range(store, None, start, end, 3600, stat=stat, by=("domain",))
        want = want_states.select(
            "domain", "metric", "tag", "bucket_ts", col.alias("value")
        )
        assert_df_equal(got, want, tol=0)  # bit-for-bit

    # without= is the complement spelling: without tag+metric == by domain
    got_wo = query_range(
        store, None, start, end, 3600, stat="sum", without=("metric", "tag")
    )
    got_by = query_range(store, None, start, end, 3600, stat="sum", by=("domain",))
    assert_df_equal(got_wo, got_by, tol=0)

    # by () (empty tuple) collapses everything into one global series
    got_all = query_range(store, None, start, end, 3600, stat="count", by=())
    direct = (
        points.groupBy(F.date_trunc("hour", "bucket_ts").alias("bucket_ts"))
        .agg(F.count("value").cast("double").alias("value"))
    )
    assert got_all.count() == direct.count()
    assert got_all.agg(F.sum("value")).first()[0] == direct.agg(F.sum("value")).first()[0]

    with pytest.raises(ValueError, match="at most one"):
        query_range(store, None, start, end, 3600, by=("domain",), without=("tag",))
    with pytest.raises(ValueError, match="unknown aggregation label"):
        query_range(store, None, start, end, 3600, by=("instance",))


def test_vector_quantile_by_label(spark):
    """api.vector_quantile: exact rank-interpolated quantile across
    series per bucket, grouped by kept labels; dropped labels NULL."""
    import datetime

    from fischer_spark.api import vector_quantile

    t = datetime.datetime(2024, 1, 1)
    rows = [
        ("a", "m", tag, t, v)
        for tag, v in [("w", 1.0), ("x", 2.0), ("y", 3.0), ("z", 10.0)]
    ] + [("b", "m", tag, t, v) for tag, v in [("w", 5.0), ("x", 7.0)]]
    df = spark.createDataFrame(
        rows, "domain string, metric string, tag string, bucket_ts timestamp, value double"
    )
    got = {r["domain"]: (r["n"], r["value"])
           for r in vector_quantile(df, 0.5, by=("domain",)).collect()}
    # a: sorted [1,2,3,10], p50 = 2 + (3-2)*0.5 = 2.5; b: [5,7] -> 6.0
    assert got == {"a": (4, 2.5), "b": (2, 6.0)}
    allq = vector_quantile(df, 0.5, by=()).collect()
    assert len(allq) == 1 and allq[0]["n"] == 6
    assert allq[0]["domain"] is None and allq[0]["tag"] is None

    # NULL samples are dropped, not ranked first (ADVICE r4): a NULL in
    # group "a" must leave the quantile and n unchanged
    import pytest

    df_null = df.union(spark.createDataFrame(
        [("a", "m", "q", t, None)], df.schema
    ))
    got_n = {r["domain"]: (r["n"], r["value"])
             for r in vector_quantile(df_null, 0.5, by=("domain",)).collect()}
    assert got_n == {"a": (4, 2.5), "b": (2, 6.0)}
    # and by misuse fails with a clear message, not tuple(None)
    with pytest.raises(TypeError, match="iterable of label names"):
        vector_quantile(df, 0.5, by=None)
    with pytest.raises(TypeError, match="iterable of label names"):
        vector_quantile(df, 0.5, by="domain")


def test_query_range_by_label_composes_with_fn(spark, tmp_path):
    """by= output is a normal series set: fn transforms (delta) apply per
    aggregated series, equal to the fn over a rollup keyed on the kept
    label alone."""
    from fischer_spark.api import query_range
    from fischer_spark.operators.rollup import rollup_points
    from fischer_spark.operators.series import build_series
    from fischer_spark.sources.pages import synth_pages
    from fischer_spark.sources.storage import ParquetManifestStore

    from tests.conftest import assert_df_equal

    pages = synth_pages(spark, 2500, seed=17).selectExpr(
        "parse_url(url, 'HOST') AS domain", "warc_ts",
        "octet_length(html) AS page_bytes", "lang",
    )
    points = build_series(pages)
    store = ParquetManifestStore(spark, str(tmp_path / "w"))
    store.append("rollup_1h", rollup_points(points, "1h"))
    start, end = "1900-01-01 00:00:00", "9999-01-01 00:00:00"

    got = query_range(
        store, None, start, end, 3600, stat="sum", by=("domain",), fn="delta"
    )
    rekeyed = points.select(
        "domain", F.lit(None).cast("string").alias("metric"),
        F.lit(None).cast("string").alias("tag"), "bucket_ts", "value",
    )
    store2 = ParquetManifestStore(spark, str(tmp_path / "w2"))
    store2.append("rollup_1h", rollup_points(rekeyed, "1h"))
    want = query_range(store2, None, start, end, 3600, stat="sum", fn="delta")
    assert_df_equal(got, want, tol=0)


def test_query_range_avg_weight_series(spark, tmp_path):
    """query_range(by=..., avg_weight="series") — PromQL equal-weight
    `avg by ()` opt-in (VERDICT r4 next #3b), vs the default
    count-weighted rollup semantics, on a hand-computed fixture:

      series (d1,m,a) bucket 00:00 raw values [10, 20, 30] → mean 20
      series (d1,m,b) bucket 00:00 raw value  [100]        → mean 100

      avg_weight="points" (default): (10+20+30+100)/4 = 40
      avg_weight="series":           (20+100)/2       = 60
    """
    import datetime

    import pytest

    from fischer_spark.api import query_range
    from fischer_spark.operators.rollup import rollup_points
    from fischer_spark.sources.storage import ParquetManifestStore

    base = datetime.datetime(2024, 1, 1)
    pts = [
        ("d1", "m", "a", base + datetime.timedelta(minutes=mi), float(v))
        for mi, v in ((0, 10), (10, 20), (20, 30))
    ] + [("d1", "m", "b", base, 100.0)]
    points = spark.createDataFrame(
        pts, "domain string, metric string, tag string, bucket_ts timestamp, value double"
    )
    store = ParquetManifestStore(spark, str(tmp_path / "w"))
    store.append("rollup_1h", rollup_points(points, "1h"))
    start, end = "2023-01-01 00:00:00", "2025-01-01 00:00:00"

    got_pts = query_range(store, "m", start, end, 3600, by=("domain",)).collect()
    assert len(got_pts) == 1 and got_pts[0]["value"] == pytest.approx(40.0)

    got_ser = query_range(
        store, "m", start, end, 3600, by=("domain",), avg_weight="series"
    ).collect()
    assert len(got_ser) == 1 and got_ser[0]["value"] == pytest.approx(60.0)
    # dropped labels come back NULL, same shape as the default path
    assert got_ser[0]["metric"] is None and got_ser[0]["tag"] is None
    assert got_ser[0]["domain"] == "d1"
    assert got_ser[0]["bucket_ts"] == base

    # with every label kept, equal-weight == per-series mean (groups of 1)
    per_series = {
        (r["domain"], r["tag"]): r["value"]
        for r in query_range(
            store, "m", start, end, 3600,
            by=("domain", "metric", "tag"), avg_weight="series",
        ).collect()
    }
    assert per_series[("d1", "a")] == pytest.approx(20.0)
    assert per_series[("d1", "b")] == pytest.approx(100.0)

    with pytest.raises(ValueError, match="unknown avg_weight"):
        query_range(store, "m", start, end, 3600, by=("domain",), avg_weight="promql")
    with pytest.raises(ValueError, match="only applies to stat='mean'"):
        query_range(
            store, "m", start, end, 3600,
            by=("domain",), stat="sum", avg_weight="series",
        )


def test_fluent_calendar_rollup_matches_pipeline_tier(pages):
    """VERDICT r4 next #7: `.rollup(t).calendar_rollup(cal)` merges the
    stashed tier STATES, so the fluent form equals the pipeline's
    materialized calendar tier (rollup_states_calendar over real
    states) bit-for-bit — count-weighted over raw points, NOT a mean of
    bucket means.  A value-only Series (no state provenance) keeps the
    documented avg_over_time fallback."""
    from pyspark.sql import functions as F

    from fischer_spark.api import Series
    from fischer_spark.operators.rollup import (
        rollup_points,
        rollup_states_calendar,
        with_derived_stats,
    )
    from fischer_spark.operators.series import build_series
    from tests.conftest import assert_df_equal

    points = build_series(pages, ("crawl_rate", "page_size"))

    for cal in ("1w", "1mo"):
        got = Series.from_points(points).rollup("1h").calendar_rollup(cal).df
        want = with_derived_stats(
            rollup_states_calendar(rollup_points(points, "1h"), cal)
        ).select(
            "domain", "metric", "tag", "bucket_ts", F.col("mean").alias("value")
        )
        assert_df_equal(got, want, tol=0)  # bit-for-bit vs pipeline tier

    # a states DataFrame passed straight through from_points also takes
    # the exact path (state columns detected on .df)
    st = rollup_points(points, "1d")
    got_states = Series.from_points(st).calendar_rollup("1mo").df
    want_states = with_derived_stats(rollup_states_calendar(st, "1mo")).select(
        "domain", "metric", "tag", "bucket_ts", F.col("mean").alias("value")
    )
    assert_df_equal(got_states, want_states, tol=0)

    # value-only fallback: equally-weighted mean of this series' values
    vals = Series.from_points(points).rollup("1h").df  # plain points now
    got_fb = Series.from_points(vals).calendar_rollup("1mo").df
    want_fb = vals.groupBy(
        "domain", "metric", "tag",
        F.date_trunc("month", "bucket_ts").alias("bucket_ts"),
    ).agg(F.avg("value").alias("value"))
    assert_df_equal(got_fb, want_fb, tol=1e-9)
    # and the two paths genuinely differ on skewed counts (the closed
    # divergence was real): some group must disagree.  tag is NULL on
    # these series, so compare via pandas keys, not an equi-join.
    def _m(df):
        return {
            (r["domain"], r["metric"], r["tag"], r["bucket_ts"]): r["value"]
            for r in df.collect()
        }

    fb, ex = _m(got_fb), _m(
        Series.from_points(points).rollup("1h").calendar_rollup("1mo").df
    )
    assert fb.keys() == ex.keys() and len(fb) > 0
    assert any(abs(fb[k] - ex[k]) > 1e-9 for k in fb)


# -- step validation ------------------------------------------------------------


def test_step_must_be_a_positive_integer(spark, tmp_path):
    """A zero, negative or non-integer step raises up front: 0 used to
    pick the 1d tier and fail at collect on a divide by zero, and a
    negative step was served as if it were positive."""
    import pytest

    from fischer_spark.api import query_range, query_range_hist, subquery_range
    from fischer_spark.sources.storage import ParquetManifestStore

    store = ParquetManifestStore(spark, str(tmp_path / "w"))
    win = ("2024-01-01 00:00:00", "2024-01-02 00:00:00")
    calls = {
        "query_range": lambda s: query_range(store, "m", *win, s),
        "query_range_hist": lambda s: query_range_hist(store, "m", *win, s, 0.5),
        "subquery_range inner": lambda s: subquery_range(store, "m", *win, s, 3600),
        "subquery_range outer": lambda s: subquery_range(store, "m", *win, 60, s),
    }
    for name, call in calls.items():
        for bad in (0, -3600, 3600.0, True, "3600", None):
            with pytest.raises(ValueError, match="positive integer"):
                call(bad)


# -- serving views ----------------------------------------------------------------

_WIN = ("2023-12-25 00:00:00", "2024-01-20 00:00:00")
_HIST_PARAMS = {"page_size": (0.0, float(1 << 20), 64)}


def _encoded_tiers(spark, n_pages, seed, prefix=""):
    """(rollup_1h, hist_1h, key_dim) of synthetic pages, key-encoded as
    the pipeline's fast path writes them; ``prefix`` renames the domains
    so the keys are new."""
    from fischer_spark.operators.histogram import hist_states_families
    from fischer_spark.operators.rollup import rollup_points
    from fischer_spark.operators.series import build_series, encode_series_keys
    from fischer_spark.sources.pages import synth_pages

    pages = synth_pages(spark, n_pages, seed=seed).selectExpr(
        f"concat('{prefix}', parse_url(url, 'HOST')) AS domain", "warc_ts",
        "octet_length(html) AS page_bytes", "lang",
    )
    enc, dim = encode_series_keys(build_series(pages).cache())
    return (
        rollup_points(enc, "1h", impl="fixed64"),
        hist_states_families(enc, "1h", _HIST_PARAMS, key_dim=dim),
        dim,
    )


def _serving_store(spark, root):
    from fischer_spark.sources.storage import ParquetManifestStore

    store = ParquetManifestStore(spark, root)
    rollup, hist, dim = _encoded_tiers(spark, 1500, seed=7)
    store.append("key_dim", dim)
    store.append("rollup_1h", rollup)
    store.append("hist_1h", hist)
    store.set_meta(
        "hist_1h", hist_params={m: list(p) for m, p in _HIST_PARAMS.items()}
    )
    return store


def _copy_store(store, root):
    """A new store over a copy of ``store``'s files, with the manifests
    pointed at the copy: it shares no relation, view or cached plan with
    ``store``."""
    import glob
    import os
    import shutil

    from fischer_spark.sources.storage import ParquetManifestStore

    shutil.copytree(store.root, root)
    for path in glob.glob(os.path.join(root, "*", "manifest.json")):
        with open(path) as f:
            text = f.read()
        with open(path, "w") as f:
            f.write(text.replace(store.root, root))
    return ParquetManifestStore(store.spark, root)


def _rows(df):
    return sorted((tuple(r) for r in df.collect()), key=repr)


def _answers(store):
    """(query_range, query_range_hist) rows over every series in _WIN."""
    from fischer_spark.api import query_range, query_range_hist

    return (
        _rows(query_range(store, "crawl_rate", *_WIN, 7200)),
        _rows(query_range_hist(store, "page_size", *_WIN, 7200, 0.95)),
    )


def _view(store, table):
    import os

    from fischer_spark import api

    return api._VIEWS.get((os.path.abspath(store.root), table))


def test_serving_view_equals_per_query_decode(spark, tmp_path):
    """The cached decoded view answers exactly as the per-query read and
    key_dim join it replaces (an explicit key_dim= bypasses the view)."""
    from fischer_spark.api import query_range

    store = _serving_store(spark, str(tmp_path / "w"))
    got = _rows(query_range(store, "crawl_rate", *_WIN, 7200, by=("domain",)))
    want = _rows(
        query_range(
            store, "crawl_rate", *_WIN, 7200, by=("domain",),
            key_dim=store.read("key_dim"),
        )
    )
    assert got == want and len(got) > 0
    assert _view(store, "rollup_1h").df.storageLevel.useMemory


def test_serving_view_fresh_after_every_commit_kind(spark, tmp_path):
    """After append / overwrite_range / delete_below / compact on a tier
    or on key_dim, the next answers equal a fresh store's, and every view
    the commit superseded is unpersisted while the others stay."""
    from pyspark import StorageLevel

    store = _serving_store(spark, str(tmp_path / "w"))
    more = _encoded_tiers(spark, 600, seed=9)
    late = _encoded_tiers(spark, 600, seed=8, prefix="late-")
    # the late keys are invisible until their key_dim rows are appended
    rollup_d, hist_d = (more[i].unionByName(late[i]) for i in (0, 1))
    day = ("bucket_ts", "2024-01-03 00:00:00", "2024-01-04 00:00:00")
    in_day = (F.col("bucket_ts") >= day[1]) & (F.col("bucket_ts") < day[2])
    renamed = late[2].withColumn("domain", F.concat(F.lit("z-"), "domain"))
    cutoff = ("bucket_ts", "2024-01-05 00:00:00")
    commits = [
        ("rollup_1h", "append", rollup_d),
        ("hist_1h", "append", hist_d),
        ("key_dim", "append", late[2]),
        ("rollup_1h", "overwrite_range", more[0].filter(in_day), *day),
        ("hist_1h", "overwrite_range", more[1].filter(in_day), *day),
        ("key_dim", "overwrite_range", renamed, "domain", "late-", "late-~"),
        ("rollup_1h", "delete_below", *cutoff),
        ("hist_1h", "delete_below", *cutoff),
        ("key_dim", "delete_below", "domain", "d001.example"),
        ("rollup_1h", "compact"),
        ("hist_1h", "compact"),
        ("key_dim", "compact"),
    ]
    prev = _answers(store)
    for i, (table, op, *args) in enumerate(commits):
        views = {t: _view(store, t) for t in ("rollup_1h", "hist_1h")}
        getattr(store, op)(table, *args)
        got = _answers(store)
        assert got == _answers(_copy_store(store, str(tmp_path / f"fresh{i}"))), (op, table)
        if op != "compact":
            assert got != prev, (op, table)
        for t, old in views.items():
            new = _view(store, t)
            assert new.df.storageLevel.useMemory
            if table in (t, "key_dim"):
                assert new is not old and old.df.storageLevel == StorageLevel.NONE, (op, t)
            else:
                assert new is old, (op, t)
        prev = got


def test_serving_views_are_per_store_root(spark, tmp_path):
    """Two stores at different roots hold separate views: a commit at one
    root changes neither the other's view nor its answers."""
    a = _serving_store(spark, str(tmp_path / "a"))
    b = _copy_store(a, str(tmp_path / "b"))
    before = _answers(b)
    assert _answers(a) == before
    va, vb = _view(a, "rollup_1h"), _view(b, "rollup_1h")
    assert va.df is not vb.df
    a.delete_below("rollup_1h", "bucket_ts", "2024-01-05 00:00:00")
    assert _answers(a) != before
    assert _answers(b) == before
    assert _view(b, "rollup_1h") is vb and vb.df.storageLevel.useMemory


def test_serving_view_concurrent_queries_see_pre_or_post_commit(spark, tmp_path):
    """Four clients query while a key_dim commit and then a tier
    compaction land: every answer is the pre- or the post-commit one."""
    import sys
    import threading
    import time

    store = _serving_store(spark, str(tmp_path / "w"))
    pre = _answers(store)
    results, errors = [], []
    go = threading.Event()

    def client():
        go.wait()
        for _ in range(3):
            try:
                results.append(_answers(store))
            except Exception as e:  # collected, asserted below
                errors.append(e)

    threads = [threading.Thread(target=client) for _ in range(4)]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in threads:
            t.start()
        go.set()
        time.sleep(0.5)
        store.delete_below("key_dim", "domain", "d001.example")
        time.sleep(0.5)
        store.compact("rollup_1h")
        for t in threads:
            t.join(timeout=600)
    finally:
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    post = _answers(_copy_store(store, str(tmp_path / "fresh")))
    assert not errors, errors
    assert pre[0] != post[0] and pre[1] != post[1]
    assert len(results) == 12
    for rng, hist in results:
        assert rng in (pre[0], post[0])
        assert hist in (pre[1], post[1])


def test_repeated_query_launches_fewer_jobs(spark, tmp_path):
    """A repeated identical query on an unchanged store runs fewer Spark
    jobs than the first: no schema inference, no key_dim broadcast, no
    parquet scan."""
    from fischer_spark.api import query_range

    from tests.conftest import count_jobs

    store = _serving_store(spark, str(tmp_path / "w"))

    def query():
        query_range(store, "crawl_rate", *_WIN, 7200).collect()

    first = count_jobs(spark, query)
    assert 0 < count_jobs(spark, query) < first
