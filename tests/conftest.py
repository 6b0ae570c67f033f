from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from fischer_spark.functions.urls import with_url_parts
from fischer_spark.session import get_spark
from fischer_spark.sources.pages import synth_pages

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    # master from SPARK_GRAFT_CPUS (get_spark's default), so the suite
    # never runs more task threads than the cores it was given
    s = get_spark(app_name="fischer_spark_tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def pages(spark):
    """Small deterministic pages table with domain column, cached."""
    df = with_url_parts(synth_pages(spark, 20_000, seed=42)).cache()
    df.count()
    return df


@pytest.fixture(scope="session")
def events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet").cache()


def assert_df_equal(a, b, sort_cols=None, tol=0.0):
    """Exact (or tol-bounded) DataFrame equality, order-insensitive."""
    pa = a.toPandas()
    pb = b.toPandas()
    assert sorted(pa.columns) == sorted(pb.columns), (pa.columns, pb.columns)
    cols = sorted(pa.columns)
    pa = pa[cols].sort_values(cols, ignore_index=True)
    pb = pb[cols].sort_values(cols, ignore_index=True)
    assert len(pa) == len(pb), f"row counts differ: {len(pa)} vs {len(pb)}"
    if tol == 0.0:
        import pandas.testing as pdt

        pdt.assert_frame_equal(pa, pb, check_dtype=False)
    else:
        import numpy as np

        for c in cols:
            if pa[c].dtype.kind == "f" or pb[c].dtype.kind == "f":
                assert np.allclose(
                    pa[c].astype(float), pb[c].astype(float), atol=tol, equal_nan=True
                ), f"column {c} differs beyond {tol}"
            else:
                assert pa[c].equals(pb[c]), f"column {c} differs"


def count_jobs(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` starts on this thread, counted under
    a job group of its own."""
    import uuid

    sc = spark.sparkContext
    group = f"count-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "count_jobs")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job-start events reach the status tracker through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))
