"""Gap-fill for rollup series: dense bucket spine + locf + linear interp.

All built-in window/generate functions (JVM-side, whole-stage codegen).

Round-6 formulation (one derivation, no join, windows over PRESENT rows):
the old shape built a per-key min/max spine (one extra derivation of the
rollup), left-joined the rollup back, then ran locf/linear windows over
the exploded spine — at an hourly grid the spine is ~10× the rollup's
rows, and Catalyst additionally extracted every field-use of the
prev/next structs as its OWN window expression (ten ``last(ignorenulls)``
running aggregates per row instead of two — measured 28 s vs 3 s at
sf1.0). Here instead:

  * two window passes over the rollup rows only (1/10 the rows):
    DESC running ``last(pair, ignorenulls)`` = first non-null at-or-after,
    ASC running ``last(pair, ignorenulls)`` = last non-null at-or-before,
    plus ``lead(bucket_ts)`` / ``lead(_nxt)`` on the same ASC sort;
    each struct is materialized ONCE via withColumn (attributes, not
    re-extracted window expressions),
  * each present row then EXPLODES into itself + the gap buckets before
    the next present bucket — the same dense lo..hi spine (lo/hi are the
    key's first/last present buckets, so every generated gap row sits
    strictly between two present rows), with locf/linear recovered by
    per-row arithmetic from the carried structs:
      locf(g)   = _prev(src).v
      next(g)   = _nxt(src) at the source bucket, _lead_nxt(src) after it
        (first non-null at-or-after g, exactly the old DESC-frame value).

Scale note: windows are partitioned by key — each per-key series is tiny
(bounded by the tier's retention horizon), so no single window frame grows
with total data volume, only with series length. The explode emits rows
proportional to key-count × horizon/bucket, the same order as before, but
they now flow through one codegen project instead of a join + three
window sorts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from symtseries_spark.config import TIERS


def dense_spine(rollup: DataFrame, tier: str) -> DataFrame:
    """One row per (key, bucket) between each key's min and max bucket_ts."""
    step = TIERS[tier]
    spine = (
        rollup.groupBy("key")
        .agg(F.min("bucket_ts").alias("lo"), F.max("bucket_ts").alias("hi"))
        .select(
            "key",
            F.explode(
                F.sequence("lo", "hi", F.expr(f"INTERVAL {step} SECOND"))
            ).alias("bucket_ts"),
        )
    )
    return spine


def gapfill(
    rollup: DataFrame,
    tier: str,
    value_col: str = "text_len_avg",
    methods: tuple = ("locf", "linear"),
) -> DataFrame:
    """Return (key, bucket_ts, value, is_gap[, value_locf][, value_linear]).

    Result-identical to the spine-join formulation (including the
    null-value corner cases: a PRESENT bucket whose value is null is a
    gap, carried over by locf and interpolated across by linear), pinned
    by tests/test_round5_fixes.py and the gapfill_1h oracle.
    """
    step = TIERS[tier]
    r = rollup.select("key", "bucket_ts", F.col(value_col).alias("value"))
    need_linear = "linear" in methods
    need_locf = "locf" in methods

    w_asc = Window.partitionBy("key").orderBy("bucket_ts")
    w_past = w_asc.rowsBetween(Window.unboundedPreceding, 0)
    # "next non-null" as last-non-null over a DESC-ordered RUNNING frame:
    # Spark streams growing frames in O(rows) but re-evaluates an
    # unbounded-following frame per row — O(rows²) per key partition.
    w_future = (
        Window.partitionBy("key")
        .orderBy(F.col("bucket_ts").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    pair = F.when(
        F.col("value").isNotNull(),
        F.struct(
            F.unix_timestamp("bucket_ts").cast("double").alias("t"),
            F.col("value").alias("v"),
        ),
    )
    # materialize each window result ONCE as a column — composing them
    # into one big expression makes the analyzer extract every field-use
    # as a separate window expression (no CSE across window extracts)
    if need_linear:
        r = r.withColumn("_nxt", F.last(pair, ignorenulls=True).over(w_future))
    r = r.withColumn("_prev", F.last(pair, ignorenulls=True).over(w_past))
    r = r.withColumn("_lead_ts", F.lead("bucket_ts").over(w_asc))
    if need_linear:
        r = r.withColumn("_lead_nxt", F.lead("_nxt").over(w_asc))

    # dense spine by generation: each present bucket emits itself plus
    # the gap buckets strictly before the next present bucket (the last
    # present bucket emits only itself) — union over keys = lo..hi grid.
    # greatest() skips the null lead of the last row, and clamps a
    # duplicate (key, bucket_ts) row, whose lead is its own bucket, to
    # itself: F.sequence rejects an upper bound below its start
    gen_hi = F.greatest(
        F.col("bucket_ts"),
        F.col("_lead_ts") - F.expr(f"INTERVAL {step} SECOND"),
    )
    carry = ["_prev"] + (["_nxt", "_lead_nxt"] if need_linear else [])
    e = r.select(
        "key",
        F.col("bucket_ts").alias("_src_ts"),
        "value",
        *carry,
        F.explode(
            F.sequence(
                F.col("bucket_ts"), gen_hi, F.expr(f"INTERVAL {step} SECOND")
            )
        ).alias("bucket_ts"),
    )

    is_src = F.col("bucket_ts") == F.col("_src_ts")
    val = F.when(is_src, F.col("value"))
    sel = [
        F.col("key"),
        F.col("bucket_ts"),
        val.alias("value"),
        val.isNull().alias("is_gap"),
    ]
    if need_locf:
        sel.append(F.col("_prev")["v"].alias("value_locf"))
    if need_linear:
        ts_s = F.unix_timestamp("bucket_ts").cast("double")
        prev = F.col("_prev")
        # first non-null at-or-after: the source row's own _nxt at the
        # source bucket; past it (generated gap rows) the NEXT present
        # row's _nxt, carried via lead()
        nxt = F.when(is_src, F.col("_nxt")).otherwise(F.col("_lead_nxt"))
        frac = (ts_s - prev["t"]) / (nxt["t"] - prev["t"])
        interp = prev["v"] + (nxt["v"] - prev["v"]) * frac
        sel.append(
            F.when(val.isNotNull(), val)
            .when(prev.isNull(), nxt["v"])
            .when(nxt.isNull(), prev["v"])
            .otherwise(interp)
            .alias("value_linear")
        )
    return e.select(*sel)
