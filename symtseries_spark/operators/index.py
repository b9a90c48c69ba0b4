"""iSAX-word inverted index + similarity queries (ANN / mindist range).

Index model: a DataFrame ``(word, w, c, n, frame_full, tier, key,
window_ts)`` — one row per symbolized window, so every query mode prunes:

  * exact-word candidates (the iSAX "approximate search" step) are a filter
    on (word, w, c).
  * approximate mindist range/k-NN run the mindist Arrow UDF once per
    (w, c)-compatible row: one scan of the index, no distinct or join. The
    vocabulary is nearly as large as the table (0.31-0.94 distinct words
    per row on the benchmark and oracle word tables), so scoring distinct
    words would save little UDF work and read the index twice.
  * exact range/k-NN exploit the *lower-bound* property (the whole point of
    SAX) in ONE mapInArrow pass over the word table, which stores each
    window's series: prune rows whose bound exceeds the radius / running
    k-th best and refine only the survivors, with no join or collect.

Per-segment cardinality promotion (iSAX 2.0, Camerra et al. 2010 — the
feature the reference marks TODO at include/symtseries.h:32) is provided by
``promote_words``: a hot bucket is split by re-symbolizing one segment at
doubled cardinality, and a sub-bucket still hot splits the next segment of
``segments``, so an overfull bucket is subdivided without touching the rest
of the index. ``segments=(s,)`` is the single split. ``build_promoted_index``
stores the result; ``promoted_lookup_indexed`` probes it.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from symtseries_spark import kernel as K
from symtseries_spark.operators.symbolize import mindist_udf


#: exact kNN refines its lowest-bound rows in blocks of PROBE_FACTOR·k
PROBE_FACTOR = 4


def _checked_k(k) -> int:
    if not isinstance(k, (int, np.integer)) or k < 1:
        raise ValueError(f"k must be an integer >= 1, got {k!r}")
    return int(k)


def _checked_radius(radius) -> float:
    if not float(radius) >= 0.0:  # also rejects NaN
        raise ValueError(f"radius must be a number >= 0, got {radius!r}")
    return float(radius)


def build_index(symbolized: DataFrame, tier: str = "1h") -> DataFrame:
    """Symbolized windows → index rows (word, w, c, n, frame_full, tier, key,
    window_ts). frame_full (a per-frame fully-finite bitmask, 0 when absent)
    is what lets exact kNN / exact range prune with a TRUE lower bound."""
    cols = [
        "word",
        "w",
        "c",
        "n",
        (
            F.col("frame_full")
            if "frame_full" in symbolized.columns
            else F.lit(0).cast("long").alias("frame_full")
        ),
        F.lit(tier).alias("tier"),
        "key",
        "window_ts",
    ]
    return symbolized.select(*cols)


def exact_candidates(index: DataFrame, query_word: str, w: int, c: int) -> DataFrame:
    """iSAX approximate search: rows whose word equals the query's word."""
    return index.filter(
        (F.col("word") == query_word) & (F.col("w") == w) & (F.col("c") == c)
    )


def mindist_scan(
    index: DataFrame,
    query_word: str,
    c: int,
    n_query: int = 0,
) -> DataFrame:
    """Annotate every (w, c)-compatible index row with mindist(query, word)
    and its above/below parts (``mindist``, ``mindist_above``,
    ``mindist_below``).

    Catalyst prunes to the (w, c) slice first; the mindist UDF then runs on
    each row's word, so the plan is one ArrowEvalPython over one scan of
    the index. Each row's ``n`` is ignored (the UDF's wildcard-n rule).
    """
    w = len(query_word)
    compat = index.filter((F.col("w") == w) & (F.col("c") == c))
    # nondeterministic only to Catalyst: a filter on mindist (range_query)
    # must stay above the UDF, not be pushed below it with a second copy
    udf = mindist_udf(query_word, c, n_query).asNondeterministic()
    m = F.col("_m")
    return (
        compat.withColumn("_m", udf(F.col("word")))
        .withColumns(
            {"mindist": m["d"], "mindist_above": m["above"], "mindist_below": m["below"]}
        )
        .drop("_m")
    )


def range_query(
    index: DataFrame, query_word: str, c: int, radius: float, n_query: int = 0
) -> DataFrame:
    """All index rows whose mindist to the query word is ≤ radius.

    On windows with no missing values mindist lower-bounds the true
    z-normalized Euclidean distance, so no true match is filtered out (the
    SAX guarantee). For the exact answer over stored series use
    :func:`range_query_exact`.
    """
    radius = _checked_radius(radius)
    return mindist_scan(index, query_word, c, n_query).filter(
        F.col("mindist") <= radius
    )


def knn_query(
    index: DataFrame, query_word: str, c: int, k: int, n_query: int = 0
) -> DataFrame:
    """Top-k index rows by mindist (candidate set for exact kNN).

    orderBy(limit k) compiles to TakeOrderedAndProject — per-partition
    top-k heaps + single-driver merge of k·P rows, no global sort shuffle.
    """
    k = _checked_k(k)
    return (
        mindist_scan(index, query_word, c, n_query)
        .orderBy(F.col("mindist").asc(), F.col("key").asc(), F.col("window_ts").asc())
        .limit(k)
    )


def _series_matrix(series, n: int) -> np.ndarray:
    """Arrow list<double> column → (B, n) float64 matrix (null slots → NaN)."""
    import pyarrow.compute as pc

    lens = pc.list_value_length(series).to_numpy(zero_copy_only=False)
    if series.null_count or (lens != n).any():
        raise ValueError(f"every series must hold n={n} values, the query's length")
    return series.flatten().to_numpy(zero_copy_only=False).reshape(len(series), n)


def _word_table_pass(
    index: DataFrame,
    query_series: np.ndarray,
    w: int,
    c: int,
    mode: str,
    k: int = 0,
    radius: float = 0.0,
) -> DataFrame:
    """One mapInArrow pass over the (w, c) slice of a word table: the SAX
    multi-step search with no join, distinct or driver round-trip.

    Per Arrow batch: word → symbol codes, ``frame_full`` (derived from
    ``series`` when the column is absent), kernel.mindist_lb_batch, then
    kernel.euclid_batch on only the rows the bound cannot prune. ``mode``
    "lb" annotates every row with ``mindist_lb``; "range" emits the rows
    with euclid ≤ radius (euclid ≤ r ⇒ lb ≤ r); "knn" keeps a local top-k
    under a running τ, the k-th best distance so far (lb > τ ⇒ euclid > τ),
    and emits the partition's top-k in (euclid, key, window_ts) order.
    Output columns are the input columns plus ``mindist_lb`` or ``euclid``.
    """
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.types import DoubleType, StructField, StructType

    q = np.asarray(query_series, dtype=np.float64)
    qsym = K.symbolize(q, w, c)  # rejects a non-1-D q, runs K.validate_nwc
    n, fs, qff, qz = len(q), len(q) // w, K.frame_full_mask(q, w), K.znorm(q)
    compat = index.filter((F.col("w") == w) & (F.col("c") == c))
    if "series" not in compat.columns:
        raise ValueError("the word table needs its series column")
    has_ff = "frame_full" in compat.columns
    col = "mindist_lb" if mode == "lb" else "euclid"
    step = k * PROBE_FACTOR
    schema = StructType(compat.schema.fields + [StructField(col, DoubleType())])

    def bound(b):
        """(lower bounds, (B, n) series) of one batch."""
        X = _series_matrix(b.column("series"), n)
        if has_ff:
            ff = pc.fill_null(b.column("frame_full"), 0).to_numpy()
        else:
            ff = K.frame_full_batch(X, w)
        syms = K.string_to_symbols_batch(b.column("word").to_numpy(zero_copy_only=False), c)
        return K.mindist_lb_batch(qsym, syms, c, fs, ff, qff), X

    def with_col(b, rows, values):
        return b.take(pa.array(rows, pa.int64())).append_column(
            col, pa.array(values, pa.float64())
        )

    def kth(d):
        return np.partition(d, k - 1)[k - 1] if len(d) >= k else np.inf

    def _pass(batches):
        kept, kept_d, tau = None, np.empty(0), np.inf
        for b in batches:
            if not b.num_rows:
                continue
            lb, X = bound(b)
            if mode == "lb":
                yield with_col(b, np.arange(b.num_rows), lb)
                continue
            if mode == "range":
                rows = np.flatnonzero(lb <= radius)
                d = K.euclid_batch(X[rows], qz)
                if (d <= radius).any():
                    yield with_col(b, rows[d <= radius], d[d <= radius])
                continue
            # refine in lowest-bound-first blocks of PROBE_FACTOR·k rows,
            # tightening τ after each, until the next bound exceeds τ
            order = np.argsort(lb, kind="stable")
            rows, d = np.empty(0, np.int64), np.empty(0)
            for lo in range(0, len(order), step):
                blk = order[lo : lo + step]
                blk = blk[lb[blk] <= tau]
                if not len(blk):
                    break
                rows = np.concatenate([rows, blk])
                d = np.concatenate([d, K.euclid_batch(X[blk], qz)])
                tau = min(tau, kth(np.concatenate([kept_d, d])))
            new = pa.Table.from_batches([with_col(b, rows[d <= tau], d[d <= tau])])
            kept = new if kept is None else pa.concat_tables([kept, new])
            kept_d = kept.column(col).to_numpy()
            kept, kept_d = kept.filter(pa.array(kept_d <= tau)), kept_d[kept_d <= tau]
        if kept is not None and kept.num_rows:
            order = [(col, "ascending"), ("key", "ascending"), ("window_ts", "ascending")]
            top = pc.sort_indices(kept, sort_keys=order, null_placement="at_start")
            yield from kept.take(top[:k]).to_batches()

    return compat.mapInArrow(_pass, schema)


def lower_bound_scan(
    index: DataFrame, query_series: np.ndarray, w: int, c: int
) -> DataFrame:
    """Annotate every (w, c)-compatible index row with ``mindist_lb``, the
    bound-safe lower bound of the refine distance: the exact queries' own
    pass in annotate mode, so this is the very bound they prune with."""
    return _word_table_pass(index, query_series, w, c, "lb")


def exact_knn(
    index_with_series: DataFrame,
    query_series: np.ndarray,
    w: int,
    c: int,
    k: int,
) -> DataFrame:
    """Exact k-NN with no false dismissals: the classic SAX multi-step
    search, pruned with a VALID lower bound (the reference-parity mindist
    over-estimates whenever '#' sentinels appear and must not prune; see
    kernel.mindist_lb_batch).

    One Arrow pass keeps a per-partition top-k under a running τ
    (:func:`_word_table_pass`); the driver merges at most partitions × k
    rows with orderBy(euclid, key, window_ts).limit(k), which runs as a
    TakeOrderedAndProject.
    """
    k = _checked_k(k)
    return (
        _word_table_pass(index_with_series, query_series, w, c, "knn", k=k)
        .orderBy(F.col("euclid").asc(), F.col("key").asc(), F.col("window_ts").asc())
        .limit(k)
    )


def range_query_exact(
    index_with_series: DataFrame,
    query_series: np.ndarray,
    w: int,
    c: int,
    radius: float,
) -> DataFrame:
    """ALL windows whose true z-normalized Euclidean distance ≤ radius, in
    one Arrow pass (:func:`_word_table_pass`): the lower bound prunes, with
    no false dismissals, and only the survivors are refined. Equals the
    brute-force scan by construction, pinned by tests/test_index.py.
    """
    return _word_table_pass(
        index_with_series, query_series, w, c, "range", radius=_checked_radius(radius)
    )


# ---------------------------------------------------------------------------
# iSAX 2.0 per-segment cardinality promotion (recursive descent)
# ---------------------------------------------------------------------------


def fine_word_udf(w: int, c: int):
    """pandas UDF: series → the FULL cardinality-2c word, lowercase-tagged.

    One vectorized symbolization yields every segment's fine letter at
    once, so the splitter below is pure column string surgery — the UDF
    runs exactly once regardless of descent depth."""
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import StringType

    @pandas_udf(StringType())
    def _fine(series: pd.Series) -> pd.Series:
        if len(series) == 0:
            return pd.Series([], dtype=object)
        X = np.stack(series.to_numpy()).astype(np.float64, copy=False)
        syms = K.symbolize_batch(X, w, 2 * c)
        return pd.Series(K.symbols_to_string_batch(syms, 2 * c)).str.lower()

    return _fine


def _check_promotion(w: int, c: int, segments) -> tuple:
    """Driver-side checks shared by every promotion entry point: the 2c
    re-symbolization must stay within K.MAX_CARDINALITY, and ``segments``
    must name distinct positions of the w-letter word. Returns the
    segments as a tuple of ints."""
    if 2 * c > K.MAX_CARDINALITY:
        raise ValueError(
            f"promotion re-symbolizes at 2c, so c must be <= "
            f"{K.MAX_CARDINALITY // 2}, got c={c!r}"
        )
    segments = tuple(int(s) for s in segments)
    if not segments:
        raise ValueError("segments must name at least one split level")
    if len(set(segments)) != len(segments):
        raise ValueError(f"segments must be distinct, got {segments!r}")
    for s in segments:
        if not (0 <= s < w):
            raise ValueError(f"segment {s} out of range for w={w}")
    return segments


def promote_words(
    symbolized: DataFrame, segments: tuple, threshold: int, w: int, c: int
) -> DataFrame:
    """iSAX-2.0 node split (reference TODO symtseries.h:32) as a DataFrame
    transform: buckets over ``threshold`` are split by refining one segment
    to its cardinality-2c letter, and a sub-bucket still over it splits the
    NEXT segment — one descent round per entry of ``segments``, in order.
    ``segments=(s,)`` is the single split.

    Round r groups rows by their current ``word_promoted``; buckets with
    count > threshold get segment ``segments[r]`` refined to its 2c
    lowercase letter (taken from the once-computed full fine word). Cold
    buckets are never touched, so a row's lowercase-letter count IS its
    bucket's descent depth.

    Scale: the per-round hot set is a broadcast (vocabulary-bounded: at
    most #hot-buckets rows), the refinement is JVM string surgery, and the
    only Python is the single fine-word UDF pass. Each round adds one
    hash-aggregate over the rows — keep ``segments`` to the few levels a
    real skew profile needs (depth 2-3), not all w. w and c are explicit:
    inferring them would run a driver-side job mid-plan.
    """
    segments = _check_promotion(w, c, segments)
    if (
        isinstance(threshold, bool)
        or not isinstance(threshold, (int, np.integer))
        or threshold < 0
    ):
        raise ValueError(f"threshold must be an integer >= 0, got {threshold!r}")
    cur = symbolized.withColumn(
        "_fine", fine_word_udf(int(w), int(c))(F.col("series"))
    ).withColumn("word_promoted", F.col("word"))
    # the fine word feeds every round — without a checkpoint the UDF chain
    # would re-run once per descent level's aggregate
    cur = cur.localCheckpoint(eager=False)
    for seg in segments:
        hot = (
            cur.groupBy("word_promoted")
            .count()
            .filter(F.col("count") > int(threshold))
            .select("word_promoted", F.lit(True).alias("_hot"))
        )
        refined = F.concat(
            F.substring("word_promoted", 1, seg),
            F.substring("_fine", seg + 1, 1),
            F.substring("word_promoted", seg + 2, w - seg - 1),
        )
        cur = (
            cur.join(F.broadcast(hot), "word_promoted", "left")
            .withColumn(
                "word_promoted",
                F.when(F.coalesce("_hot", F.lit(False)), refined).otherwise(
                    F.col("word_promoted")
                ),
            )
            .drop("_hot")
        )
    return cur.drop("_fine")


def promoted_query_words(
    query_series: np.ndarray, w: int, c: int, segments: tuple
) -> list:
    """The query's refinement chain [base, depth-1 word, depth-2 word, …]
    matching promote_words' split convention. A bucket split to depth d
    matches the query iff its word_promoted equals chain[d]."""
    segments = _check_promotion(w, c, segments)
    q = np.asarray(query_series, dtype=np.float64)
    base = K.symbols_to_string(K.symbolize(q, w, c), c)
    fine = K.symbols_to_string(K.symbolize(q, w, 2 * c), 2 * c).lower()
    words = [base]
    cur = base
    for seg in segments:
        cur = cur[:seg] + fine[seg] + cur[seg + 1 :]
        words.append(cur)
    return words


def promoted_lookup(
    symbolized: DataFrame,
    query_series: np.ndarray,
    w: int,
    c: int,
    segments: tuple,
    threshold: int,
) -> DataFrame:
    """Exact-word lookup that DESCENDS into promoted sub-buckets to any
    depth: a bucket split d times matches iff its word_promoted equals the
    query's depth-d refinement, so the filter is one IN over the
    (depth+1)-element refinement chain. Cold buckets match on the base word
    (chain[0]); each extra split halves (in expectation) the rows a hot
    bucket's lookup touches.

    This is the AD-HOC form (promotion recomputed over the input). The
    scale path is build_promoted_index + promoted_lookup_indexed: promotion
    is index maintenance, not query work.
    """
    chain = promoted_query_words(query_series, w, c, segments)
    promoted = promote_words(symbolized, segments, threshold, w, c)
    return promoted.filter(F.col("word") == chain[0]).filter(
        F.col("word_promoted").isin(chain)
    )


def build_promoted_index(
    symbolized: DataFrame,
    path: str,
    segments: tuple,
    threshold: int,
    w: int,
    c: int,
    extra_meta: dict | None = None,
) -> None:
    """Materialize the promoted inverted index (the index-maintenance step
    the reference marks TODO at symtseries.h:32).

    Promotion (per-round bucket counts + the one 2c fine-word UDF pass)
    runs ONCE here; the table is written one row per window, partitioned
    by the base word's 2-symbol prefix — an iSAX-tree-style top split with
    at most (c+1)² directories, so a lookup is partition pruning + a word
    equality filter, never a corpus scan. The descent depth only changes
    the word_promoted values, never the layout. Build parameters (and any
    caller extras, e.g. a stored probe) land in ``_promoted_meta.json``
    inside the index dir (the ``_`` prefix hides it from the parquet
    reader).
    """
    import json
    import os

    promoted = promote_words(symbolized, segments, threshold, w, c)
    idx = promoted.select(
        "key",
        "window_ts",
        "word",
        "word_promoted",
        F.substring("word", 1, 2).alias("prefix"),
    )
    # shuffle onto the partition column first: one file per prefix dir
    idx.repartition("prefix").write.mode("overwrite").partitionBy(
        "prefix"
    ).parquet(path)
    meta = {
        "segments": [int(s) for s in segments],
        "threshold": threshold,
        "w": w,
        "c": c,
    }
    with open(os.path.join(path, "_promoted_meta.json"), "w") as f:
        json.dump({**meta, **(extra_meta or {})}, f)


def read_promoted_meta(path: str) -> dict:
    import json
    import os

    with open(os.path.join(path, "_promoted_meta.json")) as f:
        return json.load(f)


def promoted_lookup_indexed(
    spark, path: str, query_series: np.ndarray
) -> DataFrame:
    """Sub-bucket descent against a STORED promoted index: the probe words
    are pure driver-side kernel math (no Spark jobs), the scan filter hits
    the ``prefix`` partition column (pruned directory read, plan shows
    PartitionFilters), and a bucket split to depth d matches iff its
    word_promoted equals the query's depth-d refinement — same semantics
    as :func:`promoted_lookup`, none of its per-query recompute."""
    meta = read_promoted_meta(path)
    chain = promoted_query_words(
        query_series, meta["w"], meta["c"], meta["segments"]
    )
    idx = spark.read.parquet(path)
    return idx.filter(
        (F.col("prefix") == chain[0][:2])
        & (F.col("word") == chain[0])
        & F.col("word_promoted").isin(chain)
    ).drop("prefix")
