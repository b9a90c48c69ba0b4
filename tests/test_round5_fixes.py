"""Round-5 regression tests: the histogram-matrix discord formulation
(`pair_sums_by_key`) must equal the pair-by-pair kernel algebra it
replaced; the gapfill "next non-null" DESC running frame must equal the
old unbounded-following frame; the stored daily-words index must be
content-identical to the live derivation; the upsert merge/write split
must preserve upsert semantics."""

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from symtseries_spark import kernel as K


# ---------------------------------------------------------------------------
# pair_sums_by_key == pair-by-pair kernel algebra
# ---------------------------------------------------------------------------


def _pair_join_sums(rows, c):
    """numpy reference: score every (a, b) word pair of a key on its own
    with the kernel; words of different widths (or empty) are incomparable
    (NaN) and, like any NaN distance, add nothing. Returns (key, word, n) →
    (Σ m_b·d(a, b), d(a, a)), None where no distance is defined."""
    def d(a, b):
        if len(a.word) != len(b.word) or not a.word:
            return float("nan")
        A = K.string_to_symbols_batch(np.array([a.word]), c)
        B = K.string_to_symbols_batch(np.array([b.word]), c)
        return float(K.mindist_pairs(A, B, c, a.n, b.n)[0][0])

    out = {}
    for a in rows:
        ds = [(b, d(a, b)) for b in rows if b.key == a.key]
        sums = [b.m * x for b, x in ds if not np.isnan(x)]
        selfs = [x for b, x in ds if (b.word, b.n) == (a.word, a.n) and not np.isnan(x)]
        out[(a.key, a.word, a.n)] = (
            sum(sums) if sums else None, max(selfs) if selfs else None
        )
    return out


def test_pair_sums_by_key_matches_pair_join(spark):
    from symtseries_spark.operators.symbolize import pair_sums_by_key

    rows = []
    # key 1: plain words incl. duplicates-in-histogram (multiplicity)
    rows += [
        Row(key=1, word="ABCDABCD", n=24, m=3),
        Row(key=1, word="HGFEHGFE", n=24, m=1),
        Row(key=1, word="AAAAHHHH", n=24, m=2),
    ]
    # key 2: '#'-bearing words (non-zero self distance) + n=0 wildcard
    rows += [
        Row(key=2, word="A#CD##GH", n=24, m=2),
        Row(key=2, word="####ABCD", n=0, m=1),
        Row(key=2, word="HH##AA##", n=24, m=4),
    ]
    # key 3: mixed widths (incomparable pairs → NaN → contribute 0)
    rows += [
        Row(key=3, word="ABCD", n=8, m=1),
        Row(key=3, word="ABCDEFGH", n=8, m=2),
        Row(key=3, word="HGFE", n=8, m=1),
    ]
    # key 4: mismatched positive n (incomparable) + single word
    rows += [
        Row(key=4, word="DDEEFFGG", n=12, m=1),
        Row(key=4, word="DDEEFFGG", n=24, m=2),
    ]
    hist = spark.createDataFrame(rows, "key int, word string, n int, m int")

    got = {
        (r["key"], r["word"], r["n"]): (r["sum_d"], r["d_self"])
        for r in pair_sums_by_key(hist, 8).collect()
    }
    want = _pair_join_sums(rows, 8)
    assert set(got) == set(want)
    for k in want:
        gs, gd = got[k]
        ws, wd = want[k]
        assert gs == pytest.approx(ws if ws is not None else 0.0, abs=1e-9), k
        # pair-join d_self is None for NaN self pairs; matrix path stores the
        # raw diagonal (NaN only when n mismatches itself — impossible) so
        # both must agree wherever the join defines it
        if wd is not None:
            assert gd == pytest.approx(wd, abs=1e-9), k


def test_pair_sums_by_key_empty(spark):
    from symtseries_spark.operators.symbolize import pair_sums_by_key

    hist = spark.createDataFrame([], "key int, word string, n int, m int")
    assert pair_sums_by_key(hist, 8).count() == 0


# ---------------------------------------------------------------------------
# gapfill linear: DESC running frame == unbounded-following frame
# ---------------------------------------------------------------------------


def test_gapfill_linear_desc_frame_parity(spark):
    """The O(rows) DESC-running-frame 'next non-null' must produce the
    same interpolation as the old (0, unboundedFollowing) frame: check
    interior gaps, a trailing gap (no next → null linear), and a second
    key to exercise the partition bound."""
    from symtseries_spark.operators.gapfill import gapfill

    base = dt.datetime(2024, 1, 1)
    rows = []
    # key A present at h0, h1, h4, h5 → gaps at h2, h3 interpolate 10→40
    for h, v in [(0, 0.0), (1, 10.0), (4, 40.0), (5, 50.0)]:
        rows.append(Row(key="A", bucket_ts=base + dt.timedelta(hours=h),
                        text_len_avg=v))
    # key B: single interior gap
    for h, v in [(0, 100.0), (2, 300.0)]:
        rows.append(Row(key="B", bucket_ts=base + dt.timedelta(hours=h),
                        text_len_avg=v))
    df = spark.createDataFrame(
        rows, "key string, bucket_ts timestamp, text_len_avg double"
    )

    out = gapfill(df, "1h").orderBy("key", "bucket_ts")
    got = [
        (r["key"], r["bucket_ts"].hour, r["value_linear"]) for r in out.collect()
    ]
    want = [
        ("A", 0, 0.0), ("A", 1, 10.0), ("A", 2, 20.0), ("A", 3, 30.0),
        ("A", 4, 40.0), ("A", 5, 50.0),
        ("B", 0, 100.0), ("B", 1, 200.0), ("B", 2, 300.0),
    ]
    assert got == [(k, h, pytest.approx(v)) for k, h, v in want]


# ---------------------------------------------------------------------------
# stored daily-words index ≡ live derivation
# ---------------------------------------------------------------------------


def test_daily_words_stored_identity(spark, sf_dir):
    import __spark_entry__ as E

    live = (
        E._daily_words(spark, sf_dir)
        .select("key", "window_ts", "word", "n")
    )
    stored = E._daily_words_stored(spark, sf_dir)
    assert stored.count() == live.count()
    # full anti-join identity both ways (row-level, not just counts)
    cols = ["key", "window_ts", "word", "n"]
    assert stored.join(live, cols, "left_anti").count() == 0
    assert live.join(stored, cols, "left_anti").count() == 0


# ---------------------------------------------------------------------------
# upsert merge/write split: upsert_tiers_increment phase timings + semantics
# ---------------------------------------------------------------------------


def test_upsert_tiers_increment_timings_and_merge(spark, tmp_path):
    from symtseries_spark import checkpoint as CP

    path = str(tmp_path / "tiers")
    base = dt.datetime(2024, 1, 1)
    schema = (
        "key string, tier string, bucket_ts timestamp, crawl_cnt bigint, "
        "text_len_sum bigint, text_len_avg double, cnt bigint, sum double, "
        "sumsq double"
    )

    def mk(rows):
        return spark.createDataFrame(rows, schema)

    def row(minute, cnt, s):
        return Row(key="k", tier="1m",
                   bucket_ts=base + dt.timedelta(minutes=minute),
                   crawl_cnt=cnt, text_len_sum=int(s), text_len_avg=s / cnt,
                   cnt=cnt, sum=float(s), sumsq=float(s * s))

    t = {}
    CP.upsert_tiers_increment(spark, mk([row(0, 2, 4.0)]), path, timings=t)
    assert {"merge_1m", "cascade_1h", "cascade_1d", "total"} <= set(t)

    # second epoch replaces the same bucket and adds a new one
    CP.upsert_tiers_increment(
        spark, mk([row(0, 5, 10.0), row(1, 1, 7.0)]), path
    )

    t1m = (
        spark.read.parquet(path)
        .filter(F.col("tier") == "1m")
        .orderBy("bucket_ts")
        .collect()
    )
    assert [(r["cnt"], r["sum"]) for r in t1m] == [(5, 10.0), (1, 7.0)]
    # cascaded 1h tier reflects the replaced bucket, not the stale one
    t1h = spark.read.parquet(path).filter(F.col("tier") == "1h").collect()
    assert len(t1h) == 1
    assert (t1h[0]["cnt"], t1h[0]["sum"]) == (6, 17.0)


# ---------------------------------------------------------------------------
# daily_discords (fused single-shuffle) == unfused pair_sums formulation
# ---------------------------------------------------------------------------


def _unfused_discords(wrds, c):
    """The multi-shuffle plan daily_discords fuses: histogram →
    pair_sums_by_key → re-agg by word → day-count join → rank window."""
    from pyspark.sql import Window as Wn

    from symtseries_spark.operators.symbolize import pair_sums_by_key

    hist = wrds.groupBy("key", "word", "n").agg(F.count(F.lit(1)).alias("m"))
    tot = pair_sums_by_key(hist, c).groupBy("key", "word").agg(
        F.sum("sum_d").alias("sum_d"), F.max("d_self").alias("d_self")
    )
    dk = wrds.groupBy("key").agg(F.count(F.lit(1)).alias("D"))
    res = (
        wrds.join(tot, ["key", "word"])
        .join(dk, "key")
        .filter(F.col("D") > 1)
        .withColumn(
            "avg_dist",
            F.round((F.col("sum_d") - F.col("d_self")) / (F.col("D") - 1), 6),
        )
        .withColumn("n_partners", F.col("D") - 1)
    )
    rn = F.row_number().over(
        Wn.partitionBy("key").orderBy(F.col("avg_dist").desc(), "window_ts")
    )
    return (
        res.withColumn("rn", rn)
        .filter(F.col("rn") == 1)
        .select("key", "window_ts", "word", "avg_dist", "n_partners")
    )


def test_daily_discords_matches_unfused(spark):
    from symtseries_spark.operators.symbolize import daily_discords

    t = dt.datetime(2024, 3, 1)

    def day(i):
        return t + dt.timedelta(days=i)

    rows = []
    # key 1: plain words with a repeated (histogram multiplicity) word
    for i, w in enumerate(["ABCDABCD", "ABCDABCD", "HGFEHGFE", "AAAAHHHH"]):
        rows.append(Row(key=1, window_ts=day(i), word=w, n=24))
    # key 2: '#'-bearing words (non-zero self distance) + n=0 wildcard day
    rows += [
        Row(key=2, window_ts=day(0), word="A#CD##GH", n=24),
        Row(key=2, window_ts=day(1), word="####ABCD", n=0),
        Row(key=2, window_ts=day(2), word="HH##AA##", n=24),
        Row(key=2, window_ts=day(3), word="A#CD##GH", n=24),
    ]
    # key 3: single day → excluded from output
    rows += [Row(key=3, window_ts=day(0), word="ABCDEFGH", n=24)]
    # key 4: two identical days → avg tie, earliest window_ts wins
    rows += [
        Row(key=4, window_ts=day(5), word="DDEEFFGG", n=24),
        Row(key=4, window_ts=day(2), word="DDEEFFGG", n=24),
    ]
    wrds = spark.createDataFrame(rows)

    got = sorted(map(tuple, daily_discords(wrds, 8).collect()))
    want = sorted(map(tuple, _unfused_discords(wrds, 8).collect()))
    assert got == want
    keys = [r[0] for r in got]
    assert keys == [1, 2, 4]  # key 3 has no partners
    k4 = [r for r in got if r[0] == 4][0]
    assert k4[1] == day(2)  # tie → earliest day


def test_upsert_empty_updates_is_noop(spark, tmp_path):
    """The isEmpty() probe is gone from the streaming epoch — an empty
    updates batch must no-op through upsert_tiers_increment itself
    (touched-dates set empty → no store writes, no error on a missing
    store path)."""
    from symtseries_spark import checkpoint as CP

    empty = spark.createDataFrame(
        [],
        "key string, tier string, bucket_ts timestamp, crawl_cnt long,"
        " text_len_sum long, text_len_avg double, cnt long, sum double,"
        " sumsq double",
    )
    store = str(tmp_path / "tiers")
    CP.upsert_tiers_increment(spark, empty, store)
    import os

    assert not os.path.exists(store)
