"""Spark-side iSAX symbolization and the word-level mindist UDFs.

Pipeline shape (batch engine):
  rollup tier rows (key, bucket_ts, value)
    → symbolize_windows: one key repartition + (key, bucket_ts) sort, then
      one mapInArrow pass per partition. Spark drops the exchange and the
      sort when the input is already hash-partitioned on key and sorted
      (the pipeline's cached 1m tier). Window assembly is one numpy scatter
      into a (windows, n) matrix, so missing buckets stay NaN and the
      kernel's '#' semantics apply exactly as the reference's unfilled ring
      slots do; kernel.symbolize_batch then turns every window of the
      partition into a word at once. No per-row Python anywhere.

The word column is the canonical index key; the symbols stay recoverable
from the string (kernel.string_to_symbols_batch), so we don't store both.
mindist_udf scores words against a query word; pair_sums_by_key and
daily_discords score words against each other.

Reference semantics reproduced bit-for-bit: sts_from_double_array
(/root/reference/src/symtseries.c:515-532) — see kernel.py.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType, StringType, StructField, StructType

from symtseries_spark import kernel as K
from symtseries_spark.config import TIERS


def _window_exprs(tier: str, window_tier: str):
    """(window-start epoch-seconds, slot offset) as pure long arithmetic.

    Same values as ``date_trunc`` + ``unix_timestamp`` diffs (UTC-aligned
    tiers, epoch origin) but with no per-row timezone logic or object
    allocation — the columns feed a 30M+-row select ahead of the
    mapInArrow pass, where per-row cost dominates scaling.
    """
    wsec = TIERS[window_tier]
    epoch = F.unix_timestamp(F.col("bucket_ts"))
    wnd_sec = (F.floor(epoch / wsec) * wsec).cast("long")
    off = ((epoch - wnd_sec) / TIERS[tier]).cast("int")
    return wnd_sec, off


MINDIST_SCHEMA = StructType(
    [
        StructField("d", DoubleType()),
        StructField("above", DoubleType()),
        StructField("below", DoubleType()),
    ]
)


def mindist_udf(query_word: str, c: int, n_query: int = 0):
    """pandas UDF: word-string column → struct(d, above, below) vs the query.

    The query word is captured in the UDF closure → shipped once per task
    (broadcast semantics). Candidates take the wildcard n (0): n is the
    query's, or w when both are 0.
    """
    q = K.string_to_symbols(query_word, c)

    @pandas_udf(MINDIST_SCHEMA)
    def _mind(words: pd.Series) -> pd.DataFrame:
        if len(words) == 0:
            return pd.DataFrame({"d": [], "above": [], "below": []})
        cands = K.string_to_symbols_batch(words.to_numpy(), c)
        d, above, below = K.mindist_pairs(q, cands, c, n_query, 0)
        return pd.DataFrame({"d": d, "above": above, "below": below})

    return _mind


def symbolize_windows(
    rollup: DataFrame,
    tier: str,
    window_tier: str,
    w: int,
    c: int,
    value_col: str = "text_len_avg",
) -> DataFrame:
    """rollup tier → (key, window_ts, series, word, n, w, c).

    Scale path: one hash repartition on key + a (key, bucket_ts) sort
    within partitions, then a single mapInArrow pass per partition. Spark
    drops the exchange and the sort when the input already has them (the
    pipeline's cached 1m tier); the sort is on the input's own
    ``bucket_ts``, not on the window and slot derived from it, so Spark
    can see that. Window assembly is ONE numpy scatter
    (matrix[window_idx, offset] = value) and symbolization is one
    kernel.symbolize_batch call over every window in the partition. No
    collect_list allocation, no wide-agg codegen, no per-group dispatch,
    and key strings never materialize as Python objects.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from pyspark.sql.types import (
        ArrayType,
        IntegerType,
        TimestampType,
    )
    from pyspark.sql.types import StructField as SF
    from pyspark.sql.types import StructType as ST

    n = TIERS[window_tier] // TIERS[tier]
    K.validate_nwc(n, w, c)
    ts_type = rollup.schema["bucket_ts"].dataType.simpleString()
    wnd_sec, off = _window_exprs(tier, window_tier)
    df = rollup.repartition("key").sortWithinPartitions("key", "bucket_ts").select(
        "key",
        F.timestamp_seconds(wnd_sec).cast(ts_type).alias("window_ts"),
        off.alias("off"),
        F.col(value_col).cast("double").alias("v"),
    )

    from pyspark.sql.types import LongType

    key_type = rollup.schema["key"].dataType
    out_schema = ST(
        [
            SF("key", key_type),
            SF("window_ts", TimestampType()),
            SF("series", ArrayType(DoubleType())),
            SF("word", StringType()),
            SF("n", IntegerType()),
            SF("w", IntegerType()),
            SF("c", IntegerType()),
            # bitmask: bit f set iff PAA frame f has every raw slot finite —
            # the per-row metadata that makes mindist_lb a valid bound
            # (fits a long for w <= 63; wider words store 0 = weaker bound)
            SF("frame_full", LongType()),
        ]
    )
    pa_key = pa.string() if key_type.simpleString() == "string" else pa.int64()
    pa_out = pa.schema(
        [
            ("key", pa_key),
            ("window_ts", pa.timestamp("us")),
            ("series", pa.list_(pa.float64())),
            ("word", pa.string()),
            ("n", pa.int32()),
            ("w", pa.int32()),
            ("c", pa.int32()),
            ("frame_full", pa.int64()),
        ]
    )

    def _symbolize_partition(batches):
        blist = list(batches)
        if not blist:
            return
        tbl = pa.Table.from_batches(blist)
        if tbl.num_rows == 0:
            return
        tbl = tbl.combine_chunks()
        rows = tbl.num_rows
        key_col = tbl["key"].combine_chunks()
        wts = tbl["window_ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
        offs = tbl["off"].to_numpy()
        vals = tbl["v"].to_numpy().astype(np.float64, copy=False)
        key_neq = pc.invert(
            pc.equal(key_col.slice(1), key_col.slice(0, rows - 1))
        ).to_numpy(zero_copy_only=False)
        change = np.empty(rows, dtype=bool)
        change[0] = True
        change[1:] = key_neq | (wts[1:] != wts[:-1])
        widx = np.cumsum(change) - 1
        starts = np.nonzero(change)[0]
        G = len(starts)
        M = np.full((G, n), np.nan)
        M[widx, offs] = vals
        syms = K.symbolize_batch(M, w, c)
        words = K.symbols_to_string_batch(syms, c)
        series = pa.ListArray.from_arrays(
            pa.array(np.arange(G + 1, dtype=np.int32) * n), pa.array(M.ravel())
        )
        yield pa.RecordBatch.from_arrays(
            [
                key_col.take(pa.array(starts)),
                pa.array(wts[starts], pa.timestamp("us")),
                series,
                pa.array(words.tolist(), pa.string()),
                pa.array(np.full(G, n, dtype=np.int32)),
                pa.array(np.full(G, w, dtype=np.int32)),
                pa.array(np.full(G, c, dtype=np.int32)),
                pa.array(K.frame_full_batch(M, w)),
            ],
            schema=pa_out,
        )

    return df.mapInArrow(_symbolize_partition, out_schema)


def _pair_dists(words: np.ndarray, n: np.ndarray, ii, jj, c: int) -> np.ndarray:
    """d[p] = mindist(words[ii[p]], words[jj[p]]) for every pair p, one
    kernel call per word width. Words of different widths are incomparable
    (reference sts_mindist_ab): those pairs stay NaN."""
    lens = np.char.str_len(words)
    d = np.full(len(ii), np.nan)
    same = lens[ii] == lens[jj]
    for wlen in np.unique(lens):
        sel = same & (lens[ii] == wlen)
        grp = np.flatnonzero(lens == wlen)
        pos = np.zeros(len(words), dtype=np.int64)
        pos[grp] = np.arange(len(grp))
        S = K.string_to_symbols_batch(words[grp], c)
        si, sj = ii[sel], jj[sel]
        d[sel] = K.mindist_pairs(S[pos[si]], S[pos[sj]], c, n[si], n[sj])[0]
    return d


def pair_sums_by_key(hist: DataFrame, c: int) -> DataFrame:
    """Discord partner sums straight from a per-key word histogram: for
    each (key, word, n) row i return

        sum_d_i  = Σ_j m_j · d(word_i, word_j)   (NaN pairs contribute 0,
        d_self_i = d(word_i, word_i)              matching null-skip sums)

    with d = the reference pairwise mindist (:func:`_pair_dists`).

    This replaces the materialized |vocab_k|²-row self-join + pair UDF:
    the Σ|vocab_k|² pair space is never shuffled or even emitted as rows —
    each key's pair block lives for one numpy pass, and only the V-row
    sums come back. Per-key vocab is bounded by the retention horizon
    (days of daily words), so the blocks are small at ANY corpus scale;
    total work is Σ V_k² numpy cells.

    One row per key enters the UDF (collect_list of the key's histogram —
    NOT applyInPandas, whose per-group pandas materialization costs ~ms ×
    key-count), so one Arrow batch carries hundreds of keys and ONE numpy
    pass computes every key's pair block: global (ii, jj) index vectors
    address the concatenated word table, :func:`_pair_dists` runs once
    over all Σ V_k² pairs, and segment sums (`np.add.reduceat`) recover
    the per-word partner totals. Strings are decoded once per WORD, not
    once per pair side — the r4 pair-join UDF paid the decode ~2·ΣV_k²
    times.
    """
    from pyspark.sql.types import ArrayType as _A
    from pyspark.sql.types import DoubleType as _D
    from pyspark.sql.types import StructField as _SF
    from pyspark.sql.types import StructType as _ST

    n_type = hist.schema["n"].dataType
    out_t = _A(
        _ST(
            [
                _SF("word", hist.schema["word"].dataType),
                _SF("n", n_type),
                _SF("sum_d", _D()),
                _SF("d_self", _D()),
            ]
        )
    )

    @pandas_udf(out_t)
    def _sums(ws: pd.Series, ns: pd.Series, ms: pd.Series) -> pd.Series:
        nk = len(ws)
        if nk == 0:
            return pd.Series([], dtype=object)
        V = np.fromiter((len(w) for w in ws), dtype=np.int64, count=nk)
        wo = np.zeros(nk + 1, dtype=np.int64)
        np.cumsum(V, out=wo[1:])
        po = np.zeros(nk + 1, dtype=np.int64)
        np.cumsum(V * V, out=po[1:])
        words = np.concatenate([np.asarray(w, dtype=object) for w in ws]).astype("U")
        n = np.concatenate([np.asarray(x) for x in ns]).astype(np.int64)
        m = np.concatenate([np.asarray(x) for x in ms]).astype(np.float64)
        ii = np.concatenate(
            [wo[k] + np.repeat(np.arange(V[k]), V[k]) for k in range(nk)]
        )
        jj = np.concatenate(
            [wo[k] + np.tile(np.arange(V[k]), V[k]) for k in range(nk)]
        )
        # cross-width pairs stay NaN: they contribute 0 to the sums below
        d = _pair_dists(words, n, ii, jj, c)
        dz = np.where(np.isnan(d), 0.0, d)
        contrib = dz * m[jj]
        # row r of key k occupies pair slots [po[k]+r·V_k, po[k]+(r+1)·V_k)
        row_local = np.concatenate([np.arange(V[k]) for k in range(nk)])
        starts = np.repeat(po[:-1], V) + row_local * np.repeat(V, V)
        sum_d = np.add.reduceat(contrib, starts) if len(starts) else np.array([])
        d_self = d[starts + row_local]
        out = []
        for k in range(nk):
            lo, hi = wo[k], wo[k + 1]
            out.append(
                [
                    {
                        "word": str(words[i]),
                        "n": int(n[i]),
                        "sum_d": float(sum_d[i]),
                        "d_self": float(d_self[i]),
                    }
                    for i in range(lo, hi)
                ]
            )
        return pd.Series(out)

    # ONE collect_list of a struct — three parallel collect_lists carry no
    # cross-column ordering guarantee
    agg = hist.groupBy("key").agg(
        F.collect_list(F.struct("word", "n", "m")).alias("h")
    )
    agg = agg.select(
        "key", "h.word", "h.n", "h.m"  # struct-field pushdown: arrays stay aligned
    ).toDF("key", "ws", "ns", "ms")
    # AQE coalesces this shuffle by SIZE — a few thousand collect_list rows
    # look like one partition's worth of bytes, but each row carries V_k²
    # of UDF compute, so size-based coalescing serializes the whole pair
    # pass onto one core (measured 3-4× on the full query). Pin an
    # explicit key-hash repartition at the session's parallelism; at real
    # corpus scale the row count dwarfs the core count and this is a no-op
    # rebalance.
    par = agg.sparkSession.sparkContext.defaultParallelism
    agg = agg.repartition(par, "key")
    return (
        agg.select("key", F.explode(_sums("ws", "ns", "ms")).alias("s"))
        .select("key", "s.word", "s.n", "s.sum_d", "s.d_self")
    )


def daily_discords(words: DataFrame, c: int) -> DataFrame:
    """Per-key daily discord in ONE shuffle: for each key, the day whose
    word is on average farthest (pairwise reference mindist) from the
    key's other daily words.

    Input: ``(key, window_ts, word, n)`` — one word per (key, day).
    Output: ``(key, window_ts, word, avg_dist, n_partners)``, one row per
    key with ≥ 2 days (single-day keys have no partners).

    Same algebra as :func:`pair_sums_by_key` + the join-back/rank plan
    (hash-verified parity), but FUSED: the per-key day list is
    retention-bounded by construction (days of daily words), so one
    collect_list per key is safe at any corpus scale, and the histogram,
    the V×V distance matrix, the partner-average recovery

        avg_dist(a) = (Σ_w' m(w')·d(w_a, w') − d(w_a, w_a)) / (D − 1)

    and the discord pick (max avg, earliest-day tiebreak) all happen in
    one vectorized pass per key. The unfused plan paid 5-6 shuffle
    stages (histogram → collect → pair sums → re-agg → day-count join →
    rank window) each carrying tiny histogram-cardinality data — pure
    fixed overhead locally, and 5× the shuffle COUNT at cluster scale."""
    from pyspark.sql.types import DoubleType as _D
    from pyspark.sql.types import LongType as _L
    from pyspark.sql.types import StructField as _SF
    from pyspark.sql.types import StructType as _ST

    # timestamps cross the Python boundary as epoch-second LONGS in both
    # directions: converting a list<timestamp> Arrow column to pandas
    # builds a Timestamp object per element — measured ~0.5 s of the UDF
    # stage at sf1.0 for pure transport; int64 lists convert zero-copy.
    out_t = _ST(
        [
            _SF("window_ts", _L()),
            _SF("word", words.schema["word"].dataType),
            _SF("avg_dist", _D()),
            _SF("n_partners", _L()),
        ]
    )

    @pandas_udf(out_t)
    def _discord(tss: pd.Series, ws: pd.Series, ns: pd.Series) -> pd.DataFrame:
        out = []
        for tsl, wl, nl in zip(tss, ws, ns):
            D = len(wl)
            ts = np.asarray(tsl, dtype=np.int64)
            wk = np.asarray(wl, dtype=object).astype("U")
            nk = np.asarray(nl, dtype=np.int64)
            comp = np.array(
                [f"{w}\x00{n}" for w, n in zip(wk, nk)], dtype="U"
            )
            uv, first, inv, m = np.unique(
                comp, return_index=True, return_inverse=True, return_counts=True
            )
            vw, vn, V = wk[first], nk[first], len(uv)
            ii = np.repeat(np.arange(V), V)
            jj = np.tile(np.arange(V), V)
            d = _pair_dists(vw, vn, ii, jj, c)
            dz = np.where(np.isnan(d), 0.0, d).reshape(V, V)
            sum_d = dz @ m.astype(np.float64)
            # diagonal pairs share width and n → always defined; non-zero
            # for '#'-bearing words under the sentinel substitution
            d_self = np.diag(d.reshape(V, V))
            # aggregate across n-variants of one word (the unfused plan
            # groups the partner sums by (key, word) only)
            uw, winv = np.unique(vw, return_inverse=True)
            sdw = np.zeros(len(uw))
            np.add.at(sdw, winv, sum_d)
            dsw = np.full(len(uw), -np.inf)
            np.maximum.at(dsw, winv, d_self)
            avg_w = np.round((sdw - dsw) / (D - 1), 6)
            day_avg = avg_w[winv[inv]]
            best = int(np.lexsort((ts, -day_avg))[0])
            out.append(
                {
                    "window_ts": int(ts[best]),
                    "word": str(wk[best]),
                    "avg_dist": float(day_avg[best]),
                    "n_partners": int(D - 1),
                }
            )
        return pd.DataFrame(
            out, columns=["window_ts", "word", "avg_dist", "n_partners"]
        )

    ts_type = words.schema["window_ts"].dataType
    agg = (
        words.groupBy("key")
        .agg(
            F.collect_list(
                F.struct(
                    F.unix_timestamp("window_ts").alias("tsl"), "word", "n"
                )
            ).alias("h")
        )
        .filter(F.size("h") > 1)  # single-day keys have no partners
    )
    agg = agg.select("key", "h.tsl", "h.word", "h.n").toDF(
        "key", "ts", "ws", "ns"
    )
    # pin parallelism: AQE would size-coalesce the tiny collect_list rows
    # onto one core and serialize the whole pair pass (see pair_sums_by_key)
    par = agg.sparkSession.sparkContext.defaultParallelism
    agg = agg.repartition(par, "key")
    return (
        agg.select("key", _discord("ts", "ws", "ns").alias("s"))
        .select(
            "key",
            F.timestamp_seconds(F.col("s.window_ts")).cast(ts_type).alias("window_ts"),
            "s.word",
            "s.avg_dist",
            "s.n_partners",
        )
    )

