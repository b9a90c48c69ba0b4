"""Skew handling: salted two-phase aggregation.

AQE's skew-join splitting fixes skewed *joins*, not skewed aggregations.
A zipf url distribution (one host with ~30% of rows) funnels those rows
into one reducer at ``groupBy(url, window)``. The fix is classic salting,
kept *result-identical* by running the aggregation in two phases over the
re-aggregable partials (cnt/sum/sumsq algebra — same trick as the tier
cascade):

  phase 1: groupBy(key, bucket, salt) with salt = spark_partition_id % S
           for every key → a bucket's partials spread over S reducers
  phase 2: groupBy(key, bucket) summing the partials → exact results

Salting every key needs no hot-key detection pass over the input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from symtseries_spark.operators.rollup import (
    bucket_epoch,
    bucket_start,
    merged_partials,
    partials,
    tier_rows,
)


def salted_rollup(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_expr,
    tier: str = "1m",
    salt_buckets: int = 16,
    cluster_by_key: bool = False,
) -> DataFrame:
    """Exact rollup_raw results, computed skew-free via two-phase salting.

    ``cluster_by_key=True`` inserts the key repartition BETWEEN the two agg
    phases instead of leaving the caller to repartition the final result:
    hash-partitioning by ``key`` already satisfies the phase-2
    ``groupBy(key, bucket)`` clustering requirement, so Catalyst plans the
    final agg WITHOUT its own exchange — the whole rollup + key-clustered
    layout costs two shuffles of partial rows instead of three.

    EVERY key is salted (per-task salt, see below): phase 2 merges the
    ≤S partials per bucket exactly, so the result equals the unsalted
    rollup whatever the key distribution.
    """
    # keep window()'s implicit ts-not-null semantics + scan pushdown
    df = df.filter(F.col(ts_col).isNotNull())
    # per-TASK-constant salt: every row in a map task shares one salt, so
    # the phase-1 map-side partial aggregate reduces exactly as well as an
    # unsalted agg (the salt adds nothing to the within-task group key) —
    # a per-row round-robin salt would split a bucket's rows across all S
    # salts inside one task and destroy map-side reduction (measured 4×
    # the phase-1 shuffle rows on the 69M-row ladder input). Hot-bucket
    # reducer skew is still solved: a bucket spanning many tasks emits one
    # partial per task, and those partials carry different salts, so they
    # spread across S reducers instead of funneling into one. Retries of a
    # deterministic input split reproduce the same salt; phase 2 merges to
    # the same totals regardless.
    salt = F.pmod(F.spark_partition_id(), F.lit(salt_buckets))
    phase1 = (
        df.withColumn("_salt", salt)
        .groupBy(
            F.col(key_col).alias("key"),
            # long-arithmetic bucket (see rollup.bucket_epoch): the group
            # key must be allocation-free — it is hashed once per ROW
            bucket_epoch(ts_col, tier).alias("_bsec"),
            "_salt",
        )
        .agg(*partials(value_expr.cast("double")))
    )
    if cluster_by_key:
        phase1 = phase1.repartition("key")
    phase2 = phase1.groupBy("key", "_bsec").agg(*merged_partials())
    return tier_rows(phase2, tier, bucket_start(df.schema[ts_col].dataType))
