"""Structured Streaming ingest: the distributed analogue of the reference's
streaming window (`sts_window` + `sts_append_value`,
/root/reference/src/symtseries.c:481-492 — append a value, recompute the
word over the ring buffer).

Two operators:

  * streaming_rollup — watermarked tumbling-window continuous aggregate:
    readStream → withWatermark → groupBy(key, window) → partial triple.
    This is the engine's real ingest path (append mode, late data dropped
    past the watermark, state bounded by watermark horizon).

  * stateful_words — applyInPandasWithState per-key ring buffer keeping the
    last n values; every micro-batch appends that batch's values (event-time
    ordered) and emits the current SAX word, exactly like window:add() →
    tostring() in the reference's Lua surface. State is a fixed-length
    double array per key → O(keys · n) state, independent of stream length.

Both operators take/return unbound DataFrames so callers choose source and
sink; tests drive them with a file source + memory sink.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from symtseries_spark import kernel as K
from symtseries_spark.config import TIER_INTERVAL


def streaming_rollup(
    stream: DataFrame,
    key_col: str,
    ts_col: str,
    value_expr,
    tier: str = "1m",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked tumbling-window rollup with the re-aggregable partial
    triple — the streaming twin of operators.rollup.rollup_raw."""
    v = value_expr.cast("double")
    return (
        stream.withWatermark(ts_col, watermark)
        .groupBy(
            F.col(key_col).alias("key"),
            F.window(F.col(ts_col), TIER_INTERVAL[tier]).alias("wnd"),
        )
        .agg(
            F.count(F.lit(1)).alias("crawl_cnt"),
            F.count(v).alias("cnt"),
            F.sum(v).alias("sum"),
            F.sum(v * v).alias("sumsq"),
        )
        .select(
            "key",
            F.lit(tier).alias("tier"),
            F.col("wnd.start").alias("bucket_ts"),
            "crawl_cnt",
            "cnt",
            "sum",
            "sumsq",
            (F.col("sum") / F.col("cnt")).alias("value_avg"),
        )
    )


_WORD_OUTPUT = StructType(
    [
        StructField("key", StringType()),
        StructField("n_seen", LongType()),
        StructField("last_ts", TimestampType()),
        StructField("word", StringType()),
    ]
)

_WORD_STATE = StructType(
    [
        StructField("ring", ArrayType(DoubleType())),
        StructField("n_seen", LongType()),
        StructField("last_ts_us", LongType()),
    ]
)


def make_word_updater(
    n: int,
    w: int,
    c: int,
    ts_col: str = "ts",
    value_col: str = "value",
    per_append: bool = False,
    idle_timeout_ms: int | None = None,
):
    """The applyInPandasWithState update function for stateful_words,
    factored to module level so the eviction law (an expired key re-enters
    as a fresh all-'#' window — reference ``sts_reset_window`` semantics,
    symtseries.c:647-664) is unit-testable against a fake GroupState
    without driving a real stream through a processing-time timeout."""

    def update(key, pdf_iter, state: GroupState):
        if idle_timeout_ms is not None and state.hasTimedOut:
            # Idle-key eviction: drop the ring. The key's next append (if
            # any) finds no state and starts from a fresh all-NaN window —
            # exactly sts_reset_window. Without this, per-key state is
            # O(distinct keys ever seen): unbounded on an open key space.
            state.remove()
            return
        if state.exists:
            ring_list, n_seen, last_us = state.get
            ring = np.asarray(ring_list, dtype=np.float64)
        else:
            ring = np.full(n, np.nan)
            n_seen = 0
            last_us = 0
        frames = []
        for pdf in pdf_iter:
            pdf = pdf.sort_values(ts_col)
            vals = pdf[value_col].to_numpy(dtype=np.float64)
            ts_us = (
                pdf[ts_col].to_numpy().astype("datetime64[us]").astype(np.int64)
            )
            if per_append and len(vals):
                buf = np.concatenate([ring, vals])
                rings = np.lib.stride_tricks.sliding_window_view(buf, n)[
                    1 : len(vals) + 1
                ]
                syms = K.symbolize_batch(np.ascontiguousarray(rings), w, c)
                words = K.symbols_to_string_batch(syms, c)
                frames.append(
                    pd.DataFrame(
                        {
                            "key": key[0],
                            "n_seen": n_seen + 1 + np.arange(len(vals)),
                            "last_ts": pd.to_datetime(ts_us, unit="us"),
                            "word": words,
                        }
                    )
                )
            n_seen += len(vals)
            if len(vals):
                last_us = int(ts_us[-1])
            if len(vals) >= n:
                ring = vals[-n:]
            elif len(vals):
                ring = np.concatenate([ring[len(vals):], vals])
        state.update((ring.tolist(), int(n_seen), int(last_us)))
        if idle_timeout_ms is not None:
            state.setTimeoutDuration(int(idle_timeout_ms))
        if per_append:
            if frames:
                yield pd.concat(frames)
            return
        word = K.symbols_to_string(K.symbolize(ring, w, c), c)
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "n_seen": [n_seen],
                "last_ts": [pd.Timestamp(last_us, unit="us")],
                "word": [word],
            }
        )

    return update


def stateful_words(
    stream: DataFrame,
    n: int,
    w: int,
    c: int,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
    emit: str = "batch",
    idle_timeout_ms: int | None = None,
) -> DataFrame:
    """Per-key sliding-window SAX word maintained as streaming state.

    Mirrors reference semantics: a fresh window is all-NaN (word all '#'),
    appends evict the oldest value, the word is recomputed over the ring.

    emit="batch"  — one row per (key, micro-batch) with the word after the
      batch's appends (reference law window == batch).
    emit="append" — one row per APPENDED VALUE: the word after every single
      append, exactly what the reference's ``sts_append_value`` returns
      (symtseries.c:481-492; lua_sax.c:155-174). Vectorized: the per-append
      rings are one sliding_window_view over [state ‖ batch values] and one
      kernel.symbolize_batch call — no per-value Python.

    idle_timeout_ms — processing-time TTL for idle keys (OPT-IN; default
      None keeps state forever, exact reference parity: a window only resets
      via ``sts_reset_window``). When set, a key with no appends for the TTL
      has its ring state REMOVED; its next append re-enters as a fresh
      all-'#' window. Set it (e.g. 30*60*1000) on any open-ended key space
      (crawl URLs) — it bounds the state store by arrival rate × TTL instead
      of total distinct keys. Eviction deliberately changes emitted words
      after long gaps, so it is not the default.
    """
    K.validate_nwc(n, w, c)
    if emit not in ("batch", "append"):
        raise ValueError(f"emit must be 'batch' or 'append', got {emit!r}")
    update = make_word_updater(
        n, w, c, ts_col=ts_col, value_col=value_col,
        per_append=(emit == "append"), idle_timeout_ms=idle_timeout_ms,
    )
    timeout = (
        GroupStateTimeout.NoTimeout
        if idle_timeout_ms is None
        else GroupStateTimeout.ProcessingTimeTimeout
    )
    return (
        stream.select(
            F.col(key_col).cast("string").alias("key"),
            F.col(ts_col).alias(ts_col),
            F.col(value_col).cast("double").alias(value_col),
        )
        .groupBy("key")
        .applyInPandasWithState(
            update,
            outputStructType=_WORD_OUTPUT,
            stateStructType=_WORD_STATE,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


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

    streaming_rollup (update mode) emits the CURRENT 1m aggregate row for
    every bucket an epoch changed — including late-data revisions inside
    the watermark; ``foreachBatch`` merges those rows into the tier store
    (checkpoint.upsert_tier) and re-cascades ONLY the touched dates'
    1h/1d buckets (checkpoint.upsert_tiers_increment). Restarts resume
    from ``checkpoint_dir``; the store converges to exactly the batch
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

    agg = streaming_rollup(stream, key_col, ts_col, value_expr, "1m", watermark)
    canonical = agg.select(
        "key",
        "tier",
        "bucket_ts",
        "crawl_cnt",
        F.col("sum").cast("long").alias("text_len_sum"),
        F.col("value_avg").alias("text_len_avg"),
        "cnt",
        "sum",
        "sumsq",
    )

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
        canonical.writeStream.foreachBatch(_epoch)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_dir)
    )
