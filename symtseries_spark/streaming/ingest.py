"""Structured Streaming ingest: keep the 1m/1h/1d tier store current from
a stream — the distributed analogue of the reference's incrementally
maintained window statistics (``append_value``'s O(1) μ/s² update,
src/symtseries.c:434-479).

  * streaming_rollup — watermarked tumbling-window continuous aggregate:
    readStream → withWatermark → groupBy(key, window) → the tier row of
    operators.rollup (the same ``partials`` and ``tier_rows`` as the batch
    rollups). Late data past the watermark is dropped, so state is bounded
    by the watermark horizon.

  * streaming_tiers — runs streaming_rollup in update mode and merges each
    epoch's changed 1m rows into the tier store with
    checkpoint.upsert_tiers_increment, which re-derives only the touched
    dates' 1h/1d rows.

Both take unbound DataFrames so callers choose the source; tests drive
them with a file source.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from symtseries_spark.config import TIER_INTERVAL
from symtseries_spark.operators.rollup import partials, tier_rows


def streaming_rollup(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    value_expr,
    tier: str = "1m",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window rollup emitting the tier row — the
    streaming twin of operators.rollup.rollup_raw."""
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(key_col).alias("key"),
            F.window(F.col(ts_col), TIER_INTERVAL[tier]).alias("wnd"),
        )
        .agg(*partials(value_expr.cast("double")))
    )
    return tier_rows(agg, tier, F.col("wnd.start"))


def streaming_tiers(
    stream: DataFrame,
    store_path: str,
    key_col: str,
    ts_col: str,
    value_expr,
    checkpoint_dir: str,
    watermark: str = "10 minutes",
    timings_out: dict | None = None,
):
    """TRUE streaming continuous aggregates: maintain the partitioned
    1m/1h/1d tier store incrementally from a stream.

    streaming_rollup (update mode) emits the CURRENT 1m tier row for
    every bucket an epoch changed — including late-data revisions inside
    the watermark; ``foreachBatch`` merges those rows into the 1m tier and
    re-cascades ONLY the touched dates' 1h/1d buckets
    (checkpoint.upsert_tiers_increment). Restarts resume from
    ``checkpoint_dir``; the store converges to exactly the batch
    rollup_all_tiers of everything ingested (law-tested).

    Scale: per epoch, work ∝ changed buckets + affected-date partials,
    never the store size; the merge rewrites only affected
    (tier, bucket_date) partitions.

    ``timings_out``: optional dict; per data batch a ``batch_<id>`` entry
    is filled with the upsert's per-phase wall seconds (merge, cascades,
    writes — see checkpoint.upsert_tiers_increment).

    Returns the DataStreamWriter — caller picks the trigger and starts it.
    """
    from symtseries_spark import checkpoint as CP

    def _epoch(batch_df, batch_id):
        # no isEmpty() probe: that is an extra (partial) evaluation of the
        # stateful agg per batch — upsert_tiers_increment checkpoints the
        # batch once and no-ops when the touched-dates set is empty
        t = None
        if timings_out is not None:
            t = timings_out.setdefault(f"batch_{batch_id}", {})
        CP.upsert_tiers_increment(
            batch_df.sparkSession, batch_df, store_path, timings=t
        )

    return (
        streaming_rollup(stream, key_col, ts_col, value_expr, "1m", watermark)
        .writeStream.foreachBatch(_epoch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )
