"""Visualization-grade downsampling: M4 (min/max/first/last per pixel bucket).

M4 (Jugel et al., "M4: A Visualization-Oriented Time Series Data
Aggregation", VLDB 2014 — public) is the standard error-free line-chart
downsample: splitting the time range into one bucket per output pixel and
keeping the first, last, min, and max point of each bucket reproduces the
rasterized line exactly while reducing an arbitrarily long series to
≤ 4·width points.

Spark shape: ONE aggregation on (key, bucket) using min/max over packed
comparable structs, built as SQL text (one gateway call per expression;
caller column names are quoted by ``plans.quote_ident``). Struct min/max
lowers to SortAggregate (structs are not mutable hash-agg buffer types).
A small input (``plans.fits_one_task``: a key-filtered read of a small
store) is coalesced to ONE partition and aggregated there, with no
exchange. For a larger input, since pixel buckets hold few points
(output cardinality ~ input rows) a map-side partial reduces nothing, so
round 6 repartitions on the group keys FIRST and runs the whole
aggregate post-shuffle on every core — exactly one exchange, carrying
each point once, where a row_number window formulation would
sort the shuffled rows under three different orderings. The
per-partition sort is by the group key only. Both shapes are pinned in
tests/test_plans.py. Struct comparison is lexicographic
(ts, tiebreak, value), making first/last deterministic under equal
timestamps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from symtseries_spark.plans import fits_one_task, quote_ident


def m4_downsample(
    df: DataFrame,
    key_col: str = "key",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str | None = None,
    bucket_s: int = 3600,
) -> DataFrame:
    """Per (key, bucket_s-wide bucket): first/last (by time) and min/max
    (by value) with their timestamps.

    Returns (key, bucket_ts, n, first_v, last_v, min_v, max_v,
    t_first, t_last, t_min, t_max) — the 4-tuple M4 needs to draw the
    bucket's pixel column exactly. Raises ValueError unless ``bucket_s``
    is a positive int.
    """
    if isinstance(bucket_s, bool) or not isinstance(bucket_s, int) or bucket_s <= 0:
        raise ValueError(f"m4_downsample: bucket_s must be a positive int, got {bucket_s!r}")
    t = f"CAST(CAST({quote_ident(ts_col)} AS TIMESTAMP) AS DOUBLE)"
    v = quote_ident(value_col)
    tb = quote_ident(tiebreak_col) if tiebreak_col else "0"
    src = df.selectExpr(
        f"{quote_ident(key_col)} AS key",
        f"CAST(FLOOR({t} / CAST({bucket_s} AS DOUBLE)) * {bucket_s} AS BIGINT) AS _bsec",
        f"{t} AS t",
        f"{tb} AS tb",
        f"{v} AS v",
    )
    # One-pixel buckets hold few points (output cardinality ~ input), so
    # the map-side partial SortAggregate reduces nothing — it only runs a
    # serial sort inside the scan tasks (a single-file input = ONE core).
    # A small input runs whole in one task; a larger one is repartitioned
    # on the group keys first: the one exchange carries raw points and the
    # sort-aggregate runs post-shuffle on every core.
    src = src.coalesce(1) if fits_one_task(src) else src.repartition("key", "_bsec")
    by_time = "named_struct('t', t, 'tb', tb, 'v', v)"
    # value-ordered struct: lexicographic (v, t, tb) means min_v ties
    # resolve to the EARLIEST point and max_v ties to the LATEST (struct
    # max takes the largest t) — pinned in test_m4_ties_resolve_deterministically
    by_value = "named_struct('v', v, 't', t, 'tb', tb)"
    ts_type = df.schema[ts_col].dataType.simpleString()
    return (
        src.groupBy("key", "_bsec")
        .agg(
            F.expr("count(1) AS n"),
            F.expr(f"min({by_time}) AS _f"),
            F.expr(f"max({by_time}) AS _l"),
            F.expr(f"min({by_value}) AS _lo"),
            F.expr(f"max({by_value}) AS _hi"),
        )
        .selectExpr(
            "key",
            f"CAST(timestamp_seconds(_bsec) AS {ts_type}) AS bucket_ts",
            "n",
            "_f.v AS first_v",
            "_l.v AS last_v",
            "_lo.v AS min_v",
            "_hi.v AS max_v",
            "_f.t AS t_first",
            "_l.t AS t_last",
            "_lo.t AS t_min",
            "_hi.t AS t_max",
        )
    )
