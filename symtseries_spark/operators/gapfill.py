"""Gap-fill for rollup series: dense bucket spine + locf + linear interp.

All built-in window/generate functions (JVM-side, whole-stage codegen),
written as SQL text: one gateway call per expression, where each pyspark
Column function costs about ten (the value column's name is quoted by
``plans.quote_ident``).

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
    each struct is materialized ONCE in its own projection, one per
    window step (``_nxt``, then ``_prev``/``_lead_ts``/``_lead_nxt``), so
    later uses are attributes, not re-extracted window expressions,
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
with total data volume, only with series length. A small input
(``plans.fits_one_task``: a key-filtered read of a small store) is
coalesced to ONE partition, which already holds every key's window, so
the plan has no exchange; a larger one is hash-partitioned on key. The
explode emits rows proportional to key-count × horizon/bucket, the same
order as before, but they now flow through one codegen project instead
of a join + three window sorts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from symtseries_spark.config import TIERS
from symtseries_spark.plans import fits_one_task, quote_ident

METHODS = ("locf", "linear")


def _tier_step(tier: str) -> int:
    if tier not in TIERS:
        raise ValueError(f"gapfill: unknown tier {tier!r}; valid tiers: {list(TIERS)}")
    return TIERS[tier]


def dense_spine(rollup: DataFrame, tier: str) -> DataFrame:
    """One row per (key, bucket) between each key's min and max bucket_ts."""
    step = _tier_step(tier)
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
    by tests/test_round5_fixes.py and the gapfill_1h oracle. Raises
    ValueError for a ``tier`` outside ``TIERS`` or a ``methods`` entry
    outside {"locf", "linear"}.
    """
    bad = set(methods) - set(METHODS)
    if bad:
        raise ValueError(
            f"gapfill: unknown methods {sorted(bad)}; valid methods: {list(METHODS)}"
        )
    step = f"INTERVAL {_tier_step(tier)} SECOND"
    need_linear = "linear" in methods
    need_locf = "locf" in methods

    r = rollup.selectExpr("key", "bucket_ts", f"{quote_ident(value_col)} AS value")
    if fits_one_task(r):
        r = r.coalesce(1)  # every key window in one partition: no exchange
    pair = (
        "CASE WHEN value IS NOT NULL THEN named_struct("
        "'t', CAST(unix_timestamp(bucket_ts) AS DOUBLE), 'v', value) END"
    )
    # "next non-null" as last-non-null over a DESC-ordered RUNNING frame:
    # Spark streams growing frames in O(rows) but re-evaluates an
    # unbounded-following frame per row — O(rows²) per key partition.
    w_asc = "PARTITION BY key ORDER BY bucket_ts"
    running = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    w_future = f"{w_asc} DESC {running}"
    w_past = f"{w_asc} {running}"
    # materialize each window result ONCE as a column, one projection per
    # window step — composing them into one big expression makes the
    # analyzer extract every field-use as a separate window expression
    # (no CSE across window extracts)
    if need_linear:
        r = r.selectExpr("*", f"last({pair}, true) OVER ({w_future}) AS _nxt")
    r = r.selectExpr(
        "*",
        f"last({pair}, true) OVER ({w_past}) AS _prev",
        f"lead(bucket_ts) OVER ({w_asc}) AS _lead_ts",
        *([f"lead(_nxt) OVER ({w_asc}) AS _lead_nxt"] if need_linear else []),
    )

    # dense spine by generation: each present bucket emits itself plus
    # the gap buckets strictly before the next present bucket (the last
    # present bucket emits only itself) — union over keys = lo..hi grid.
    # greatest() skips the null lead of the last row, and clamps a
    # duplicate (key, bucket_ts) row, whose lead is its own bucket, to
    # itself: sequence() rejects an upper bound below its start
    gen_hi = f"greatest(bucket_ts, _lead_ts - {step})"
    carry = ["_prev"] + (["_nxt", "_lead_nxt"] if need_linear else [])
    e = r.selectExpr(
        "key",
        "bucket_ts AS _src_ts",
        "value",
        *carry,
        f"explode(sequence(bucket_ts, {gen_hi}, {step})) AS bucket_ts",
    )

    val = "CASE WHEN bucket_ts = _src_ts THEN value END"
    sel = ["key", "bucket_ts", f"{val} AS value", f"({val}) IS NULL AS is_gap"]
    if need_locf:
        sel.append("_prev.v AS value_locf")
    if need_linear:
        # first non-null at-or-after: the source row's own _nxt at the
        # source bucket; past it (generated gap rows) the NEXT present
        # row's _nxt, carried via lead()
        nxt = "(CASE WHEN bucket_ts = _src_ts THEN _nxt ELSE _lead_nxt END)"
        frac = f"((CAST(unix_timestamp(bucket_ts) AS DOUBLE) - _prev.t) / ({nxt}.t - _prev.t))"
        sel.append(
            f"CASE WHEN ({val}) IS NOT NULL THEN {val} "
            f"WHEN _prev IS NULL THEN {nxt}.v "
            f"WHEN {nxt} IS NULL THEN _prev.v "
            f"ELSE _prev.v + ({nxt}.v - _prev.v) * {frac} END AS value_linear"
        )
    return e.selectExpr(*sel)
