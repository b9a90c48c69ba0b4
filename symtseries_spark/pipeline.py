"""The flagship end-to-end job: crawl pages → rollup tiers → iSAX index →
compressed chunks, with per-partition checkpointing.

This is the job the benchmark measures (rolled-up points/sec across all
three tiers) and the scaling-efficiency evidence runs at two parallelism
levels. Stage layout (one shuffle each, all else map-side):

  raw scan (column-pruned: url, warc_ts, text-length only)
    → 1m rollup_raw  (one shuffle on url; aggregated post-shuffle)
    → key-clustered, time-sorted 1m tier, materialized ONCE by its write
    → THREE concurrent jobs over it (FAIR pools):
        1h→1d cascades ∥ symbolize+index ∥ compressed chunks

The cascades consumer is ``checkpoint.write_coarse_tiers``, the same
coarse-tier writer the streaming upsert uses: the 1h write fills a
MEMORY_AND_DISK cache of the 1h tier and the 1d tier is derived from it,
in sequence within that one consumer thread.

Handoff between the producer and the consumers: the sorted 1m tier is
persisted (MEMORY_AND_DISK, pinned) and the 1m tier WRITE is the
materializing action — one pass computes the rollup, fills the cache, and
commits the tier files; then the three consumers run concurrently against
the cache. The 1m tier of one ingest epoch is ~1/60 of the epoch's raw
rows × a few numeric columns, so it fits cluster storage memory by
construction; if it ever didn't, MEMORY_AND_DISK spills instead of
silently recomputing.
"""

from __future__ import annotations

import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from symtseries_spark import checkpoint as CP
from symtseries_spark.config import EngineConfig
from symtseries_spark.operators.codecs import encode_chunks
from symtseries_spark.operators.index import build_index
from symtseries_spark.operators.rollup import rollup_raw
from symtseries_spark.operators.symbolize import symbolize_windows


def _footer_rows(path: str) -> int:
    """Row count from parquet footers (driver-side walk, no Spark job).

    Kept for SMALL stores only (tests, single-date increments); store-wide
    metrics use :func:`_store_counts` — a glob on the driver is O(files)
    driver work, wrong at real store sizes."""
    import glob
    import os

    import pyarrow.parquet as pq

    total = 0
    for fp in glob.iglob(os.path.join(path, "**", "*.parquet"), recursive=True):
        total += pq.ParquetFile(fp).metadata.num_rows
    return total


def _store_counts(spark: SparkSession, path: str, by: str | None = None) -> dict:
    """Distributed metadata-only row counts: a zero-data-column parquet
    count is answered from row-group metadata inside tasks (the vectorized
    reader never decodes a column chunk for an empty required schema), so
    this stays O(1) on the driver no matter how many files the store has.
    Returns {group: n} when ``by`` is a partition column, else {"": n}."""
    df = spark.read.parquet(path)
    if by is None:
        return {"": df.count()}
    return {
        r[by]: r["cnt"]
        for r in df.groupBy(by).agg(F.count(F.lit(1)).alias("cnt")).collect()
    }


def _warn_if_partial_cache(spark: SparkSession, df) -> None:
    """After the materializing action, verify the 1m tier cache is fully
    resident (memory or disk). A partially-cached tier silently
    recomputes the 1m rollup CONCURRENTLY in every consumer that
    first-touches an evicted partition — the exact duplicate-work failure
    the materializing write exists to prevent — so make it loud."""
    try:
        # `df.rdd.id()` can NOT identify the cache entry: it builds a fresh
        # row-conversion RDD whose id never matches the InMemoryRelation's
        # internal cached RDD. Best-effort instead: at this point in the
        # pipeline the 1m tier is the only persist in flight, so warn about
        # ANY incompletely-cached RDD the session reports.
        sc = spark.sparkContext
        info = sc._jsc.sc().getRDDStorageInfo()
        for r in info:
            if r.numCachedPartitions() < r.numPartitions():
                import warnings

                warnings.warn(
                    f"pipeline 1m tier cache incomplete "
                    f"({r.numCachedPartitions()}/{r.numPartitions()} "
                    "partitions resident) — consumers may recompute the "
                    "rollup; give the executors more storage memory",
                    RuntimeWarning,
                    stacklevel=2,
                )
    except Exception:
        pass  # diagnostics only — never fail the pipeline for it


def run_pipeline(
    spark: SparkSession,
    crawl: DataFrame,
    out_dir: str | None = None,
    cfg: EngineConfig | None = None,
    checkpoint_path: str | None = None,
    run_id: str | None = None,
) -> dict:
    """Run the full pipeline, persisting every stage output under out_dir
    (a TemporaryDirectory when not given). Returns metrics: rolled-up
    points per tier, words indexed, chunks written, wall sec, points/sec.
    """
    cfg = cfg or EngineConfig()
    tmp = None
    if out_dir is None:
        tmp = tempfile.mkdtemp(prefix="symtseries_pipeline_")
        out_dir = tmp
    t0 = time.time()
    timings: dict[str, float] = {}

    def _mark(label: str, since: float) -> float:
        now = time.time()
        timings[label] = round(now - since, 2)
        return now

    # column pruning happens here: only url, warc_ts, length(text) survive
    # into the shuffle; html bytes never leave the scan.
    src = crawl.select("url", "warc_ts", F.length("text").alias("text_len"))

    if checkpoint_path:
        wm = CP.latest_watermarks(CP.read_checkpoints(spark, checkpoint_path))
        src = CP.filter_new_input(src, "warc_ts", wm, "1m")

    rollup_path = f"{out_dir}/rollup"
    # rollup_raw's one repartition("key") leaves the tier hash-partitioned
    # on key, and the (key, bucket_ts) in-partition sort orders each key's
    # rows in time: the layout the index and chunk consumers ask for, so
    # Spark plans them over this cache with no exchange and no sort.
    t1m = rollup_raw(src, "url", "warc_ts", F.col("text_len"), "1m")
    t1m = t1m.sortWithinPartitions("key", "bucket_ts")
    _t = _mark("plan_rollup", t0)

    # The 1m tier WRITE is the materializing action (see the module
    # docstring): the consumers below then share fully-cached partitions
    # instead of racing to compute them (concurrent first-touch of an
    # uncached RDD duplicates work).
    from pyspark import StorageLevel

    t1m.persist(StorageLevel.MEMORY_AND_DISK)
    CP.write_partitioned(t1m, rollup_path, "1m")
    _t = _mark("write_materialize_1m", _t)
    _warn_if_partial_cache(spark, t1m)

    # The 1h→1d cascades, symbolization, and chunk encoding are independent
    # consumers of the materialized 1m tier — submit them as CONCURRENT
    # Spark jobs (threads share the SparkSession; the scheduler
    # interleaves their stages). This overlaps each job's serial phases
    # (planning, commit) with the others' compute, exactly like a
    # multi-tenant cluster keeps executors busy across jobs. Each thread
    # counts its own store right after its write. All three stores are
    # overwritten by (tier, UTC date); an index window or a chunk never
    # spans two dates, and on a resume the cache holds every row of each
    # date it touches (filter_new_input), so no other date is rewritten.
    counts: dict[str, int] = {}

    def _cascades():
        CP.write_coarse_tiers(t1m, rollup_path)
        # the 1m tier was written before the consumers started, so the
        # store holds all three tiers by the time this thread counts
        counts.update(_store_counts(spark, rollup_path, by="tier"))

    def _index():
        sym = symbolize_windows(t1m, "1m", "1h", w=cfg.sax.w, c=cfg.sax.c)
        CP.write_partitioned(build_index(sym), f"{out_dir}/index", "1h", "window_ts")
        counts["words"] = _store_counts(spark, f"{out_dir}/index")[""]

    def _chunks():
        chunks = encode_chunks(t1m, "1m", "text_len_avg", cfg.chunk_points)
        CP.write_partitioned(chunks, f"{out_dir}/chunks", "1m", "chunk_start_ts")
        counts["chunks"] = _store_counts(spark, f"{out_dir}/chunks")[""]

    from concurrent.futures import ThreadPoolExecutor

    def _in_pool(name, fn):
        # one FAIR pool per job: with spark.scheduler.mode=FAIR the root
        # schedules POOLS fairly, but same-pool jobs still queue FIFO —
        # distinct pools are what let the concurrent jobs' stages
        # interleave and fill each other's stage-transition bubbles.
        spark.sparkContext.setLocalProperty("spark.scheduler.pool", name)
        j0 = time.time()
        try:
            fn()
        finally:
            timings[f"job_{name}"] = round(time.time() - j0, 2)
            spark.sparkContext.setLocalProperty("spark.scheduler.pool", None)

    jobs = [
        ("cascades", _cascades),
        ("index", _index),
        ("chunks", _chunks),
    ]
    try:
        with ThreadPoolExecutor(len(jobs)) as pool:
            futures = [pool.submit(_in_pool, name, f) for name, f in jobs]
            for fut in futures:
                fut.result()
        if checkpoint_path:
            # this run's lineage, from the cache: the raw rows it rolled up,
            # the 1m rows it wrote and its high watermark
            rows_in, rows_out, hw = t1m.agg(
                F.coalesce(F.sum("crawl_cnt"), F.lit(0)),
                F.count(F.lit(1)),
                F.max("bucket_ts"),
            ).first()
    finally:
        t1m.unpersist()
    _t = _mark("consumers_concurrent", _t)

    # the consumer threads already ran the counts (see _store_counts)
    n1m = counts.get("1m", 0)
    n1h = counts.get("1h", 0)
    n1d = counts.get("1d", 0)
    nwords = counts.get("words", 0)
    nchunks = counts.get("chunks", 0)
    _t = _mark("counts", _t)

    if checkpoint_path:
        CP.append_checkpoint(
            spark, checkpoint_path, "1m", hw, rows_in, rows_out, run_id=run_id
        )

    if tmp:
        shutil.rmtree(tmp, ignore_errors=True)

    wall = time.time() - t0
    points = n1m + n1h + n1d
    return dict(
        points_1m=n1m,
        points_1h=n1h,
        points_1d=n1d,
        words=nwords,
        chunks=nchunks,
        wall_sec=wall,
        points_per_sec=points / wall if wall else 0.0,
        timings=timings,
    )
