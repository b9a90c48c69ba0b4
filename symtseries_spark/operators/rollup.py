"""Continuous-aggregate rollup tiers (1m → 1h → 1d) with retention.

The reference maintains per-window statistics incrementally
(``append_value``'s O(1) μ/s² update, /root/reference/src/symtseries.c:434-479).
The distributed analogue is *re-aggregable partials*: every tier row carries
(cnt, sum, sumsq) so a coarser tier is a pure ``groupBy().agg(sum(...))``
over the finer tier — map-side partial aggregation + one shuffle per tier,
never a rescan of raw data. At 100 TB the raw table is touched exactly once
(the 1m rollup); 1h reads the 1m table (~1/60 the rows), 1d reads 1h.

``partials``, ``merged_partials`` and ``tier_rows`` are the one definition
of the tier row; the batch, salted, cascaded and streaming rollups all
build it through them.

All expressions are built-in Column functions → whole-stage codegen, no
Python in this path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from symtseries_spark.config import TIERS


def bucket_epoch(ts_col, tier: str):
    """Tumbling-window bucket start as PURE LONG ARITHMETIC (epoch seconds).

    Result-identical to ``F.window(ts, interval).start`` for UTC-aligned
    tiers (the window origin is the epoch), but the group key is an 8-byte
    long instead of a struct<timestamp,timestamp>: no per-row object
    allocation and no per-row timezone math inside the aggregate's hash
    table. Measured on the 138M-row bench input this is what lets the
    rollup agg scale with cores (0.36 → 0.82 efficiency 2→8); convert back
    to a timestamp ONCE PER GROUP after the agg with
    ``F.timestamp_seconds``.
    """
    isec = TIERS[tier]
    col = F.col(ts_col) if isinstance(ts_col, str) else ts_col
    # unix_timestamp (not cast-to-long) also accepts TIMESTAMP_NTZ inputs;
    # under the engine's pinned UTC session both are the same µs→s division
    return (F.floor(F.unix_timestamp(col) / isec) * isec).cast("long")


def bucket_start(ts_type):
    """``bucket_ts`` from the long bucket key ``_bsec``: back to a
    timestamp ONCE PER GROUP, cast to the source's timestamp type."""
    return F.timestamp_seconds(F.col("_bsec")).cast(ts_type)


def partials(v) -> list:
    """The re-aggregable partial aggregates of the double signal ``v``:
    rows seen, the sum and count of the non-null values, and the sum of
    their squares."""
    # column order is the salted rollup's shuffled row layout: (crawl_cnt,
    # cnt, sum, sumsq) compresses 1.7% worse on the perfbench seed-1 input
    return [
        F.count(F.lit(1)).alias("crawl_cnt"),
        F.sum(v).alias("sum"),
        F.count(v).alias("cnt"),
        F.sum(v * v).alias("sumsq"),
    ]


def merged_partials() -> list:
    """Merge rows of ``partials`` into coarser groups: each one sums."""
    return [F.sum(c).alias(c) for c in ("crawl_cnt", "cnt", "sum", "sumsq")]


def tier_rows(agg: DataFrame, tier: str, bucket_ts) -> DataFrame:
    """Project aggregated partials (``key`` plus the four ``partials``
    columns) to the tier row — the one place it is built:

        (key, tier, bucket_ts, crawl_cnt, text_len_sum, text_len_avg,
         cnt, sum, sumsq)

    ``text_len_sum`` truncates the double ``sum`` to a long and
    ``text_len_avg`` is ``sum / cnt``, so both follow from the partials
    and every tier, however it was derived, carries the same values.
    """
    return agg.select(
        "key",
        F.lit(tier).alias("tier"),
        bucket_ts.alias("bucket_ts"),
        "crawl_cnt",
        F.col("sum").cast("long").alias("text_len_sum"),
        (F.col("sum") / F.col("cnt")).alias("text_len_avg"),
        "cnt",
        "sum",
        "sumsq",
    )


def rollup_raw(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_expr,
    tier: str = "1m",
) -> DataFrame:
    """Base-tier rollup straight from raw rows.

    ``value_expr`` is the signal Column (e.g. ``F.length('text')``). Emits
    the tier row (``tier_rows``) of each (key, bucket).
    """
    # window(ts) silently required ts NOT NULL (and Catalyst pushed that
    # predicate to the scan); the long-arithmetic bucket key would instead
    # admit a NULL bucket — filter explicitly to keep both the semantics
    # and the scan-level pushdown
    df = df.filter(F.col(ts_col).isNotNull())
    # Base-tier group cardinality ~ raw rows (points arrive at roughly the
    # bucket cadence), so map-side partial aggregation yields no reduction
    # — it only serializes the hash-table build into the scan tasks (a
    # single-file input runs it on ONE core). Repartitioning FIRST
    # satisfies the aggregate's required distribution, so the same single
    # exchange moves (ungrouped) rows of the same width and the whole
    # aggregation runs post-shuffle on every core. The partition key is
    # ``key`` ALONE: hash(key) clusters every bucket of a key into one
    # partition (a superset clustering of (key, bucket)), and the output
    # therefore comes out key-partitioned — the exact distribution every
    # downstream per-key consumer (gapfill windows, window-assembly
    # groupBy, chunk encoding) needs, so they plan with NO further
    # exchange. Per-partition locality is bounded: a key holds at most
    # horizon/bucket rows (retention-bounded); sources with genuinely hot
    # keys should use operators.skew.salted_rollup instead.
    agg = (
        df.select(
            F.col(key_col).alias("key"),
            bucket_epoch(ts_col, tier).alias("_bsec"),
            value_expr.cast("double").alias("_v"),
        )
        .repartition("key")
        .groupBy("key", "_bsec")
        .agg(*partials(F.col("_v")))
    )
    return tier_rows(agg, tier, bucket_start(df.schema[ts_col].dataType))


def rollup_cascade(lower: DataFrame, tier: str) -> DataFrame:
    """Re-aggregate a finer tier's partials into ``tier`` (no raw rescan).

    Only the partials are merged; ``text_len_sum`` truncates the merged
    double ``sum`` (it never sums the finer tier's truncated values), so a
    cascaded tier equals ``rollup_raw`` at that tier wherever the double
    sums are exact."""
    agg = lower.groupBy("key", bucket_epoch("bucket_ts", tier).alias("_bsec")).agg(
        *merged_partials()
    )
    return tier_rows(agg, tier, bucket_start(lower.schema["bucket_ts"].dataType))


def rollup_all_tiers(
    df: DataFrame, key_col: str, ts_col: str, value_expr
) -> dict[str, DataFrame]:
    """Full 1m → 1h → 1d cascade. Returns {tier: DataFrame}."""
    t1m = rollup_raw(df, key_col, ts_col, value_expr, "1m")
    t1h = rollup_cascade(t1m, "1h")
    t1d = rollup_cascade(t1h, "1d")
    return {"1m": t1m, "1h": t1h, "1d": t1d}


def with_stddev(rollup: DataFrame) -> DataFrame:
    """Population std recovered from partials: sqrt(sumsq/cnt − (sum/cnt)²).

    This is the algebraic identity that makes the partial triple sufficient
    — the distributed analogue of the reference's incremental s² update.
    """
    mean = F.col("sum") / F.col("cnt")
    var = F.col("sumsq") / F.col("cnt") - mean * mean
    return rollup.withColumn("value_std", F.sqrt(F.greatest(var, F.lit(0.0))))


def apply_retention(rollup: DataFrame, tier: str, now, horizons: dict) -> DataFrame:
    """Drop buckets older than the tier's retention horizon.

    With bucket_ts-partitioned storage this predicate is a partition prune —
    expired data is never read, and on Iceberg the physical delete is a
    metadata-only ``DELETE WHERE bucket_ts < horizon``.
    """
    horizon_s = horizons[tier]
    return rollup.filter(
        F.col("bucket_ts") >= F.to_timestamp(F.lit(now)) - F.expr(
            f"INTERVAL {int(horizon_s)} SECOND"
        )
    )


def rollup_quantiles(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tier: str,
    probs: tuple = (0.5, 0.95),
    exact: bool = True,
) -> DataFrame:
    """Percentile columns per (key, bucket): p50/p95/... latency-style tiers.

    ``exact=True`` uses Spark's built-in ``percentile`` (linear
    interpolation, identical to DuckDB's quantile_cont / numpy type-7) —
    a group-local sort, fine when groups are bounded (one key-bucket holds
    at most bucket_len/sample_interval points, independent of corpus
    size). ``exact=False`` switches to ``approx_percentile`` (streaming
    KLL-style sketch, mergeable map-side) — the 100 TB default when groups
    can be huge; rel-error 1e-4.
    """
    fn = "percentile" if exact else "approx_percentile"
    extra = "" if exact else ", 10000"
    plist = ", ".join(str(p) for p in probs)
    bsec = bucket_epoch(ts_col, tier).alias("_bsec")
    qcol = F.expr(f"{fn}({value_col}, array({plist}){extra})").alias("_q")
    grouped = df.groupBy(F.col(key_col).alias("key"), bsec)
    if exact:
        # exact percentile's partial state buffers EVERY value — map-side
        # aggregation reduces nothing, it only serializes the buffer build
        # into the scan tasks; shuffle the raw (key, bucket, value) rows
        # instead and aggregate once post-shuffle on all cores. The approx
        # sketch path keeps map-side aggregation (fixed-size mergeable
        # state IS a reduction).
        grouped = (
            df.repartition(F.col(key_col), bucket_epoch(ts_col, tier))
            .groupBy(F.col(key_col).alias("key"), bsec)
        )
    out = grouped.agg(F.count(value_col).alias("cnt"), qcol)
    sel = [
        "key",
        F.timestamp_seconds(F.col("_bsec"))
        .cast(df.schema[ts_col].dataType)
        .alias("bucket_ts"),
        "cnt",
    ] + [
        F.col("_q")[i].alias(f"p{int(round(p * 100))}")
        for i, p in enumerate(probs)
    ]
    return out.select(*sel)


def rollup_distinct(
    df: DataFrame,
    ts_col: str,
    tier: str,
    distinct_col: str = "key",
    exact: bool = True,
) -> DataFrame:
    """Distinct-cardinality tier: unique keys per bucket (DAU-style).

    ``exact=True``: count_distinct — expands to a two-phase partial
    aggregate on (bucket, key); correct but the distinct set shuffles.
    ``exact=False``: approx_count_distinct (HyperLogLog++, rsd 1.5 %) —
    fixed-size mergeable sketch per bucket, the only sane answer at
    10^12 rows; combine with the exact path in tests to pin the error.
    """
    bsec = bucket_epoch(ts_col, tier).alias("_bsec")
    agg = (
        F.count_distinct(F.col(distinct_col))
        if exact
        else F.approx_count_distinct(distinct_col)
    ).alias("n_distinct")
    return (
        df.groupBy(bsec)
        .agg(agg, F.count(F.lit(1)).alias("n_rows"))
        .select(
            F.timestamp_seconds(F.col("_bsec"))
            .cast(df.schema[ts_col].dataType)
            .alias("bucket_ts"),
            "n_distinct",
            "n_rows",
        )
    )
