from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest


@pytest.fixture(scope="session")
def spark():
    from dataflow_opinion_analysis_spark.session import get_spark

    # get_spark's 48g default heap lets one long-lived test JVM grow past a
    # small host's RAM (it was OOM-killed mid-suite on a 15 GB, 4-core VM,
    # failing every later Spark test); an explicit setting still wins
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "4g")
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in [
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '/root/testdata/sf0.001/{t}.parquet'"
        )
    return con


SF_DIR = "/root/testdata/sf0.001"


def spark_jobs(spark, fn) -> int:
    """How many Spark jobs ``fn()`` runs, counted through a job group."""
    sc = spark.sparkContext
    group = f"count-jobs-{os.urandom(4).hex()}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    # job events reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, row-sorted, tz-naive frame for comparison —
    mirrors the driver's order-insensitive value compare."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1).copy()
    for c in pdf.columns:
        if pd.api.types.is_datetime64_any_dtype(pdf[c]):
            s = pd.to_datetime(pdf[c])
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            pdf[c] = s
        elif pdf[c].dtype == object:
            pdf[c] = pdf[c].map(lambda v: None if v is None else v)
    pdf = pdf.sort_values(list(pdf.columns), na_position="first").reset_index(drop=True)
    return pdf


def assert_frames_match(spark_df, duck_pdf: pd.DataFrame, float_cols: list[str] | None = None):
    a = normalize(spark_df.toPandas())
    b = normalize(duck_pdf)
    assert list(a.columns) == list(b.columns), f"columns differ: {list(a.columns)} vs {list(b.columns)}"
    assert len(a) == len(b), f"row counts differ: {len(a)} vs {len(b)}"
    for c in a.columns:
        av, bv = a[c], b[c]
        if float_cols and c in float_cols:
            assert np.allclose(
                av.astype(float), bv.astype(float), rtol=1e-9, equal_nan=True
            ), f"float column {c} differs"
        else:
            ae = av.isna()
            be = bv.isna()
            assert (ae == be).all(), f"null pattern differs in {c}"
            mism = av[~ae].astype(str).values != bv[~be].astype(str).values
            assert not mism.any(), (
                f"column {c} differs, first: "
                f"{av[~ae].values[mism][:3]} vs {bv[~be].values[mism][:3]}"
            )
