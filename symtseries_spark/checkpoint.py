"""Per-partition watermark + lineage checkpointing for resumable reruns.

The reference persists window state as a replayable script via its
lua_sandbox ``serialize_sax`` hook (/root/reference/lua/lua_sax.c:293-342).
The distributed analogue is a small checkpoint *table*:

    (partition_id int, tier string, high_watermark_ts timestamp,
     rows_in long, rows_out long, run_id string, updated_at timestamp)

Semantics:
  * Each rollup run reads the checkpoint, processes only input from the
    start of the high watermark's date on — the date partition is the
    unit of overwrite, so the watermark's date is re-read whole and every
    partition the run overwrites is rebuilt from all of its rows — and
    overwrites exactly the output partitions it touched (idempotent
    overwrite-by-partition), then appends a new checkpoint generation.
    The word index and the chunks share that layout (an index window is
    1h, a chunk one UTC day), so there too a rerun rebuilds only the
    dates it touched, from the same rows.
  * ``latest_watermarks`` reduces the log to current state, so the log
    doubles as lineage/metrics history (rows_in/rows_out per run per tier).
  * A rerun with the same run_id is a no-op-equivalent: it recomputes the
    same partitions and overwrites them with identical bytes (deterministic
    pipeline), which is the idempotence property tests pin.

Partitioning note: "partition_id" here is the *time bucket partition*
(the UTC date of the row's timestamp, :func:`utc_date`) — the unit of
overwrite — not a shuffle partition id, so the checkpoint stays valid
across cluster sizes and session time zones.
"""

from __future__ import annotations

import datetime as dt
import os
import time
import uuid

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from symtseries_spark.operators.rollup import rollup_cascade

CHECKPOINT_SCHEMA = StructType(
    [
        StructField("partition_id", IntegerType()),
        StructField("tier", StringType()),
        StructField("high_watermark_ts", TimestampType()),
        StructField("rows_in", LongType()),
        StructField("rows_out", LongType()),
        StructField("run_id", StringType()),
        StructField("updated_at", TimestampType()),
    ]
)


def read_checkpoints(spark: SparkSession, path: str) -> DataFrame:
    if not os.path.exists(path):
        return spark.createDataFrame([], CHECKPOINT_SCHEMA)
    return spark.read.parquet(path)


def latest_watermarks(cp: DataFrame) -> DataFrame:
    """Reduce the append-only log to the live watermark per (partition, tier)."""
    return cp.groupBy("partition_id", "tier").agg(
        F.max("high_watermark_ts").alias("high_watermark_ts")
    )


def utc_date(ts) -> Column:
    """The UTC date of a timestamp column, whatever
    ``spark.sql.session.timeZone`` says: the store's ``bucket_date``."""
    return F.date_from_unix_date(F.floor(F.unix_timestamp(ts) / 86400).cast("int"))


def filter_new_input(
    df: DataFrame, ts_col: str, watermarks: DataFrame, tier: str
) -> DataFrame:
    """Keep the rows from the start of the tier's high-watermark UTC date on.

    The (tier, bucket_date) partition is the unit of overwrite, so the
    watermark's whole date is read again: each partition the rerun
    overwrites is rebuilt from all of its rows, not only the rows after
    the watermark. The watermark table is tiny → collected to the driver
    and pushed down as a literal predicate on ``ts_col`` so the scan itself
    prunes (rowgroup stats pruning on plain parquet).
    """
    day = (
        watermarks.filter(F.col("tier") == tier)
        .agg(F.min(utc_date("high_watermark_ts")))
        .first()[0]
    )
    if day is None:
        return df
    start = dt.datetime(day.year, day.month, day.day, tzinfo=dt.timezone.utc)
    return df.filter(F.col(ts_col) >= F.lit(start))


def append_checkpoint(
    spark: SparkSession,
    path: str,
    tier: str,
    high_watermark_ts,
    rows_in: int,
    rows_out: int,
    run_id: str | None = None,
    partition_id: int = 0,
) -> str:
    run_id = run_id or uuid.uuid4().hex[:12]
    row = [
        (
            partition_id,
            tier,
            high_watermark_ts,
            rows_in,
            rows_out,
            run_id,
            dt.datetime.utcnow(),
        )
    ]
    spark.createDataFrame(row, CHECKPOINT_SCHEMA).write.mode("append").parquet(path)
    return run_id


def write_partitioned(df: DataFrame, path: str, tier: str, ts: str = "bucket_ts") -> None:
    """Idempotent overwrite-by-partition write of a store: a rollup tier,
    the word index (``ts="window_ts"``) or the chunks
    (``ts="chunk_start_ts"``). ``df`` carries its ``tier`` column.

    Dynamic partition overwrite replaces exactly the (tier, bucket_date)
    partitions present in df — a rerun of the same input slice rewrites
    the same partitions with the same bytes and nothing else.
    """
    (
        df.withColumn("bucket_date", utc_date(ts))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("tier", "bucket_date")
        .parquet(path)
    )


def _path_exists(spark, path: str) -> bool:
    """Filesystem-truth existence probe via the Hadoop FS API (works for
    local paths, HDFS, and object stores alike)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def _merge_tier(spark, updates: DataFrame, path: str, tier: str):
    """Merge changed (key, bucket) rows into a tier: returns (dates,
    merged) where ``merged`` is the FULL post-merge content of the touched
    (tier, bucket_date) partitions — surviving old rows (anti-join on
    (key, bucket_ts)) ∪ updates — localCheckpoint-ed (eager) so it can
    be written AND re-consumed (the 1h/1d re-cascade) without re-reading
    the store or replaying the epoch's aggregation. ``dates`` is bounded
    by the watermark horizon: an epoch only touches dates within it.

    ``updates`` is checkpointed FIRST, before anything else touches it:
    the updates plan is the expensive side (in a streaming epoch it is
    the stateful aggregation itself), so the touched-dates scan, the
    anti-join and the merged checkpoint all read pinned rows and the agg
    runs exactly once; the empty-epoch case falls out of the (now-cheap)
    dates collect, no separate isEmpty job needed.

    A store path that does not exist means "first write": the merged rows
    are the updates alone. Any error reading an existing store (schema
    drift, corrupt footer, ...) raises — merging ``updates`` alone would
    silently drop every surviving old row in the touched partitions."""
    up = updates.localCheckpoint(eager=True)
    dates = [
        r["bucket_date"]
        for r in up.select(utc_date("bucket_ts").alias("bucket_date"))
        .distinct()
        .collect()
    ]
    if not dates or not _path_exists(spark, path):
        return dates, up
    existing = (
        spark.read.parquet(path)
        .filter(F.col("tier") == tier)
        .filter(F.col("bucket_date").isin(dates))  # partition prune
        .drop("bucket_date")
    )
    survivors = existing.join(
        up.select("key", "bucket_ts"), ["key", "bucket_ts"], "left_anti"
    )
    # checkpoint the merged rows too: the dynamic overwrite must never read
    # from the store path it is rewriting (the survivors side), and the
    # re-cascade re-consumes them
    return dates, survivors.unionByName(up).localCheckpoint(eager=True)


def _mark(timings: dict | None, label: str, since: float) -> float:
    now = time.time()
    if timings is not None:
        timings[label] = round(now - since, 3)
    return now


def write_coarse_tiers(
    t1m: DataFrame, path: str, timings: dict | None = None
) -> None:
    """Derive the 1h and 1d tiers from pinned 1m rows and write them —
    the one coarse-tier writer of the batch pipeline and the streaming
    upsert.

    1h reads 1m and 1d reads 1h (rollup.py), so only the 1h tier needs a
    cache: it is persisted MEMORY_AND_DISK, its write fills the cache,
    and the 1d cascade reads the cached rows. A lost cached block is
    recomputed from lineage instead of failing the job.

    ``timings``: optional dict; ``cascade_1h`` and ``cascade_1d`` get the
    wall seconds of deriving plus writing that tier.
    """
    t1h = rollup_cascade(t1m, "1h").persist(StorageLevel.MEMORY_AND_DISK)
    try:
        t = time.time()
        write_partitioned(t1h, path, "1h")
        t = _mark(timings, "cascade_1h", t)
        write_partitioned(rollup_cascade(t1h, "1d"), path, "1d")
        _mark(timings, "cascade_1d", t)
    finally:
        t1h.unpersist()


def upsert_tiers_increment(
    spark, updates_1m: DataFrame, path: str, timings: dict | None = None
) -> None:
    """Apply a 1m-tier increment and re-derive the affected 1h/1d buckets
    — the full continuous-aggregate maintenance step.

    The 1h/1d tiers are recomputed ONLY for the touched bucket_dates, by
    re-cascading the (just-merged) 1m partials of those dates; since no
    1h/1d bucket spans a date boundary, rewriting whole affected date
    partitions is both correct and exactly partition-aligned.

    Per-epoch job layout, in sequence: merge (the merged 1m rows are
    localCheckpoint-ed once, so the store is never re-read within an
    epoch) → write 1m → write_coarse_tiers (write 1h, filling its cache
    → write 1d from the cache). A failure after the 1m write leaves
    stale 1h/1d rows for the touched dates; replaying the increment
    rewrites all three tiers.

    ``timings``: optional dict filled with per-phase wall seconds:
    ``merge_1m``, ``writes_drain`` (the 1m write), ``cascade_1h`` and
    ``cascade_1d`` (derive plus write of that tier) and ``total``.
    """
    t0 = time.time()
    dates, merged_1m = _merge_tier(spark, updates_1m, path, "1m")
    t = _mark(timings, "merge_1m", t0)
    if not dates:
        return
    write_partitioned(merged_1m, path, "1m")
    _mark(timings, "writes_drain", t)
    write_coarse_tiers(merged_1m, path, timings)
    _mark(timings, "total", t0)
