"""Unit semantics for time-series joins, sessionization, M4 downsample,
quantile/distinct tiers, and dup-pair connected components."""

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from symtseries_spark.operators.joins import asof_join, sessionize, session_stats
from symtseries_spark.operators.downsample import m4_downsample
from symtseries_spark.operators.rollup import rollup_quantiles, rollup_distinct
from symtseries_spark.operators.dedup import connected_components


def _ts(s):
    return dt.datetime(2024, 1, 1, 0, 0, s)


@pytest.fixture(scope="module")
def probe(spark):
    return spark.createDataFrame(
        [Row(key=1, ts=_ts(10), pid=1), Row(key=1, ts=_ts(20), pid=2),
         Row(key=1, ts=_ts(5), pid=3), Row(key=2, ts=_ts(30), pid=4)]
    )


@pytest.fixture(scope="module")
def build(spark):
    return spark.createDataFrame(
        [Row(key=1, ts=_ts(10), v=100.0), Row(key=1, ts=_ts(15), v=150.0),
         Row(key=3, ts=_ts(1), v=999.0)]
    )


def test_asof_backward_inclusive(spark, probe, build):
    out = {
        r["pid"]: r["asof_v"]
        for r in asof_join(
            probe, build, on="key", build_cols=("v",)
        ).collect()
    }
    # pid=1 at t=10 sees the build row AT t=10 (inclusive)
    assert out == {1: 100.0, 2: 150.0, 3: None, 4: None}


def test_asof_strict_excludes_equal_ts(spark, probe, build):
    out = {
        r["pid"]: r["asof_v"]
        for r in asof_join(
            probe, build, on="key", build_cols=("v",), strict=True
        ).collect()
    }
    # pid=1 at t=10 must NOT see the t=10 build row
    assert out == {1: None, 2: 150.0, 3: None, 4: None}


def test_asof_tolerance_nulls_stale_matches(spark, probe, build):
    out = {
        r["pid"]: (r["asof_v"], r["asof_ts"])
        for r in asof_join(
            probe, build, on="key", build_cols=("v",), tolerance_s=4.0
        ).collect()
    }
    # pid=2 at t=20: nearest build is t=15 → 5s stale > 4s tolerance
    assert out[2] == (None, None)
    assert out[1] == (100.0, _ts(10))


def test_sessionize_gap_boundary_and_stats(spark):
    rows = [Row(user_id=7, ts=_ts(0), value=1.0, event_id=1),
            Row(user_id=7, ts=_ts(10), value=2.0, event_id=2),
            Row(user_id=7, ts=_ts(21), value=3.0, event_id=3)]
    s = sessionize(spark.createDataFrame(rows), gap_s=10.0,
                   order_cols=("event_id",))
    got = {r["event_id"]: r["session_idx"] for r in s.collect()}
    # 10s gap == gap_s → SAME session (strict >); 11s gap → new session
    assert got == {1: 0, 2: 0, 3: 1}
    st = {r["session_idx"]: (r["n_events"], r["duration_s"], r["sum_v"])
          for r in session_stats(s).collect()}
    assert st[0] == (2, 10.0, 3.0)
    assert st[1] == (1, 0.0, 3.0)


def test_m4_ties_resolve_deterministically(spark, both_shapes):
    """Value ties resolve the same way in both plan shapes."""
    rows = [
        Row(key=1, ts=_ts(1), value=5.0, event_id=1),
        Row(key=1, ts=_ts(2), value=5.0, event_id=2),  # tie on value
        Row(key=1, ts=_ts(3), value=1.0, event_id=3),
    ]

    def check(df):
        m4 = m4_downsample(
            df, "key", "ts", "value", tiebreak_col="event_id", bucket_s=3600,
        ).collect()[0]
        assert (m4["first_v"], m4["last_v"], m4["min_v"], m4["max_v"]) == (
            5.0, 1.0, 1.0, 5.0)
        # max ties at v=5.0: latest point wins (struct max takes larger t)
        assert m4["t_max"] == m4["t_first"] + 1.0
        # min is unique → its own timestamp
        assert m4["t_min"] == m4["t_last"]

    both_shapes(spark.createDataFrame(rows), check)


def test_quantile_sketch_rank_error_bounded(spark):
    # approx_percentile returns a MEMBER of the group with bounded RANK
    # error (1/accuracy), unlike the interpolating exact path — pin that
    # guarantee on one large group where it's meaningful
    df = spark.range(20000).select(
        F.lit(1).alias("user_id"),
        F.timestamp_seconds(F.lit(1704067200) + F.col("id") % 3600).alias("ts"),
        F.col("id").cast("double").alias("value"),
    )
    approx = rollup_quantiles(
        df, "user_id", "ts", "value", "1d", (0.5, 0.95), exact=False
    ).collect()[0]
    assert abs(approx["p50"] - 10000) <= 20000 / 10000 + 2
    assert abs(approx["p95"] - 19000) <= 20000 / 10000 + 2


def test_distinct_sketch_tracks_exact(spark, sf_dir):
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    exact = rollup_distinct(ev, "ts", "1d", "user_id")
    approx = rollup_distinct(ev, "ts", "1d", "user_id", exact=False)
    rows = (
        exact.withColumnRenamed("n_distinct", "nd")
        .join(approx, ["bucket_ts"])
        .select("nd", "n_distinct")
        .collect()
    )
    for r in rows:
        assert abs(r["n_distinct"] - r["nd"]) <= max(3, 0.1 * r["nd"])


def test_connected_components_chain_and_isolates(spark):
    # chain 1-2-3-4-5 plus isolated 9: pointer jumping must collapse the
    # chain to label 1 within max_iter even though diameter is 4
    edges = spark.createDataFrame(
        [Row(id_a=1, id_b=2), Row(id_a=2, id_b=3),
         Row(id_a=3, id_b=4), Row(id_a=4, id_b=5)]
    )
    nodes = spark.createDataFrame([Row(id=i) for i in (1, 2, 3, 4, 5, 9)])
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(edges, nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 9: 9}


def test_connected_components_two_components(spark):
    edges = spark.createDataFrame(
        [Row(id_a=10, id_b=30), Row(id_a=30, id_b=20),
         Row(id_a=40, id_b=50)]
    )
    nodes = spark.createDataFrame([Row(id=i) for i in (10, 20, 30, 40, 50)])
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(edges, nodes).collect()
    }
    assert got == {10: 10, 20: 10, 30: 10, 40: 40, 50: 40}
