"""Round-6 optimization pins: the rewrites must stay result-identical to
the formulations they replaced, including the corner cases the rewrite
reasoning leaned on (null-valued PRESENT buckets in gapfill; unconditional
salting in salted_rollup)."""

import datetime as dt

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from symtseries_spark.operators.gapfill import dense_spine, gapfill
from symtseries_spark.operators.rollup import rollup_raw
from symtseries_spark.operators.skew import salted_rollup


# ---------------------------------------------------------------------------
# gapfill explode-from-present-rows rewrite == spine-join semantics
# ---------------------------------------------------------------------------


def _spine_join_reference(spark, rollup, tier, value_col):
    """The pre-round-6 formulation, kept verbatim as the semantic oracle:
    dense spine left-joined to the rollup, locf/linear over spine windows."""
    from pyspark.sql import Window

    spine = dense_spine(rollup, tier)
    joined = spine.join(
        rollup.select("key", "bucket_ts", F.col(value_col).alias("value")),
        ["key", "bucket_ts"],
        "left",
    )
    w_past = (
        Window.partitionBy("key")
        .orderBy("bucket_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_future = (
        Window.partitionBy("key")
        .orderBy(F.col("bucket_ts").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    out = joined.withColumn("is_gap", F.col("value").isNull())
    out = out.withColumn(
        "value_locf", F.last("value", ignorenulls=True).over(w_past)
    )
    ts_s = F.unix_timestamp("bucket_ts").cast("double")
    pair = F.when(
        F.col("value").isNotNull(),
        F.struct(ts_s.alias("t"), F.col("value").alias("v")),
    )
    prev = F.last(pair, ignorenulls=True).over(w_past)
    nxt = F.last(pair, ignorenulls=True).over(w_future)
    frac = (ts_s - prev["t"]) / (nxt["t"] - prev["t"])
    interp = prev["v"] + (nxt["v"] - prev["v"]) * frac
    return out.withColumn(
        "value_linear",
        F.when(F.col("value").isNotNull(), F.col("value"))
        .when(prev.isNull(), nxt["v"])
        .when(nxt.isNull(), prev["v"])
        .otherwise(interp),
    )


def _gapfill_rows(df):
    return {
        (r["key"], r["bucket_ts"]): (
            r["value"], r["is_gap"], r["value_locf"], r["value_linear"]
        )
        for r in df.collect()
    }


def test_gapfill_rewrite_matches_spine_join_with_null_values(spark, both_shapes):
    """The round-6 rewrite's trickiest equivalence: a PRESENT bucket whose
    value is NULL is a gap (locf carries over it, linear interpolates
    across it), and it bounds the spine like any present bucket. Includes
    a leading null (prev undefined -> linear = next), a trailing null
    (next undefined -> linear = prev), and an interior null between
    real gaps. Checked in both plan shapes."""
    base = dt.datetime(2024, 1, 1)
    rows = []
    # key A: h0 null, h1=10, h4 null, h6=60, h8 null  (spine h0..h8)
    for h, v in [(0, None), (1, 10.0), (4, None), (6, 60.0), (8, None)]:
        rows.append(Row(key="A", bucket_ts=base + dt.timedelta(hours=h), v=v))
    # key B: single present null bucket (spine = itself; everything null)
    rows.append(Row(key="B", bucket_ts=base, v=None))
    # key C: normal series, no nulls
    for h, v in [(0, 1.0), (3, 4.0)]:
        rows.append(Row(key="C", bucket_ts=base + dt.timedelta(hours=h), v=v))
    df = spark.createDataFrame(rows, "key string, bucket_ts timestamp, v double")
    want = _gapfill_rows(_spine_join_reference(spark, df, "1h", "v"))

    def check(df):
        got = _gapfill_rows(gapfill(df, "1h", value_col="v"))
        assert got == want
        # spot-check the semantics themselves, not just cross-implementation
        a2 = got[("A", base + dt.timedelta(hours=2))]
        # interp 10@h1 -> 60@h6 at h2: 10 + 50*(1/5) = 20
        assert a2 == (None, True, 10.0, pytest.approx(20.0))
        a0 = got[("A", base)]
        assert a0 == (None, True, None, 10.0)  # leading null: no prev -> next
        a8 = got[("A", base + dt.timedelta(hours=8))]
        assert a8 == (None, True, 60.0, 60.0)  # trailing null: no next -> prev
        assert got[("B", base)] == (None, True, None, None)

    both_shapes(df, check)


def test_gapfill_spine_density_unchanged(spark, both_shapes):
    """Generated spine == per-key dense lo..hi grid (same rows as the old
    spine join), including single-bucket keys, in both plan shapes."""
    base = dt.datetime(2024, 1, 1)
    rows = [
        Row(key="A", bucket_ts=base + dt.timedelta(hours=h), v=float(h))
        for h in (0, 5)
    ] + [Row(key="B", bucket_ts=base, v=9.9)]

    def check(df):
        out = gapfill(df, "1h", value_col="v")
        per_key = {
            k: sorted(r["bucket_ts"] for r in out.filter(F.col("key") == k).collect())
            for k in ("A", "B")
        }
        assert per_key["A"] == [base + dt.timedelta(hours=h) for h in range(6)]
        assert per_key["B"] == [base]

    both_shapes(spark.createDataFrame(rows, "key string, bucket_ts timestamp, v double"), check)


def test_gapfill_duplicate_buckets(spark, both_shapes):
    """Duplicate (key, bucket_ts) rows: no F.sequence boundary error, every
    input row comes out as a present row, and the gap grid equals the one
    of the de-duplicated input — in both plan shapes."""
    base = dt.datetime(2024, 1, 1)
    rows = [
        Row(key="A", bucket_ts=base, v=0.0),
        Row(key="A", bucket_ts=base + dt.timedelta(hours=3), v=3.0),
        Row(key="A", bucket_ts=base + dt.timedelta(hours=3), v=30.0),
        Row(key="A", bucket_ts=base + dt.timedelta(hours=6), v=6.0),
        Row(key="B", bucket_ts=base, v=1.0),
        Row(key="B", bucket_ts=base, v=2.0),
    ]

    def split(d):
        got = gapfill(d, "1h", value_col="v").collect()
        present = sorted((r.key, r.bucket_ts, r.value) for r in got if not r.is_gap)
        gaps = sorted((r.key, r.bucket_ts) for r in got if r.is_gap)
        return present, gaps

    def check(df):
        present, gaps = split(df)
        assert present == sorted((r.key, r.bucket_ts, r.v) for r in rows)
        assert gaps == split(df.dropDuplicates(["key", "bucket_ts"]))[1]
        assert gaps == [("A", base + dt.timedelta(hours=h)) for h in (1, 2, 4, 5)]

    both_shapes(spark.createDataFrame(rows, "key string, bucket_ts timestamp, v double"), check)


# ---------------------------------------------------------------------------
# salted_rollup: unconditional salting == unsalted
# ---------------------------------------------------------------------------


def test_salt_all_keys_equals_unsalted(spark):
    rows = []
    base = dt.datetime(2024, 1, 1)
    for k in ("a", "b"):
        for m in range(7):
            for i in range(3):  # several rows per bucket so salts split them
                rows.append(
                    Row(
                        url=k,
                        ts=base + dt.timedelta(minutes=m, seconds=i * 7),
                        v=float(10 * m + i),
                    )
                )
    df = spark.createDataFrame(rows, "url string, ts timestamp, v double")
    plain = rollup_raw(df, "url", "ts", F.col("v"), "1m")
    salted = salted_rollup(df, "url", "ts", F.col("v"), "1m", salt_buckets=4)

    def canon(d):
        return {
            (r.key, r.bucket_ts): (
                r.crawl_cnt, r.cnt, round(r.sum, 9), round(r.sumsq, 6),
                round(r.text_len_avg, 9),
            )
            for r in d.collect()
        }

    assert canon(plain) == canon(salted)
