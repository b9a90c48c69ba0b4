"""Index/ANN tests: exact-word lookup, mindist range/kNN vs brute force,
lower-bound guarantee, and iSAX 2.0 segment promotion."""

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from symtseries_spark import kernel as K
from symtseries_spark.operators.index import (
    build_index,
    exact_candidates,
    knn_query,
    mindist_scan,
    promote_words,
    promoted_query_words,
    range_query,
)

N, W, C = 32, 8, 8


@pytest.fixture(scope="module")
def corpus(spark):
    rng = np.random.RandomState(21)
    base = dt.datetime(2024, 1, 1)
    rows = []
    series = {}
    for i in range(300):
        s = rng.normal(size=N)
        if i % 3 == 0:
            s = np.sin(np.linspace(0, 4, N)) + rng.normal(scale=0.05, size=N)
        key = f"k{i}"
        wts = base + dt.timedelta(hours=i)
        series[(key, wts)] = s
        word = str(K.Word.from_series(s, W, C))
        rows.append(
            Row(key=key, window_ts=wts, word=word, w=W, c=C, n=N,
                series=[float(x) for x in s])
        )
    df = spark.createDataFrame(rows)
    return df, series


def test_exact_candidates(spark, corpus):
    df, series = corpus
    idx = build_index(df, "1h")
    some_word = df.first().word
    got = exact_candidates(idx, some_word, W, C)
    brute = [r.key for r in df.filter(F.col("word") == some_word).collect()]
    assert sorted(r.key for r in got.collect()) == sorted(brute)


def test_mindist_scan_matches_kernel(spark, corpus):
    df, series = corpus
    idx = build_index(df, "1h")
    qs = np.sin(np.linspace(0, 4, N))
    qword = str(K.Word.from_series(qs, W, C))
    scan = {r.key: r.mindist for r in mindist_scan(idx, qword, C, N).collect()}
    qw = K.Word.from_series(qs, W, C)
    for (key, wts), s in series.items():
        expect = K.mindist(qw, K.Word.from_series(s, W, C))[0]
        assert scan[key] == pytest.approx(expect, abs=1e-9)


def test_range_and_knn_no_false_dismissals(spark, corpus):
    df, series = corpus
    idx = build_index(df, "1h")
    qs = np.sin(np.linspace(0, 4, N))
    qword = str(K.Word.from_series(qs, W, C))
    qz = (qs - qs.mean()) / qs.std()

    def true_dist(s):
        z = (s - s.mean()) / s.std()
        return float(np.sqrt(((z - qz) ** 2).sum()))

    radius = 3.0
    got = {r.key for r in range_query(idx, qword, C, radius, N).collect()}
    # SAX guarantee: every series whose TRUE distance ≤ radius must survive
    for (key, wts), s in series.items():
        if true_dist(s) <= radius:
            assert key in got, f"false dismissal for {key}"

    k = 10
    cands = [(r.key, r.window_ts) for r in knn_query(idx, qword, C, k * 5, N).collect()]
    # refine the candidates in numpy, ranked by (euclid, key, window_ts)
    d = K.euclid_batch(np.stack([series[kw] for kw in cands]), K.znorm(qs))
    rows = sorted(zip(d.tolist(), cands))[:k]
    assert len(rows) == k
    # approximate answers are candidate-optimal: each returned euclid matches
    # the true distance of its series, and results are sorted
    got_d = [e for e, _ in rows]
    assert got_d == sorted(got_d)
    for e, kw in rows:
        assert e == pytest.approx(true_dist(series[kw]), abs=1e-9)
    # all within the best brute-force 20% (the sin cluster dominates)
    dists = sorted(true_dist(s) for s in series.values())
    cutoff = dists[len(dists) // 5]
    assert all(d <= cutoff + 1e-9 for d in got_d[:3])


def test_exact_knn_matches_brute_force(spark, corpus):
    from symtseries_spark.operators.index import exact_knn

    df, series = corpus
    qs = np.sin(np.linspace(0, 4, N))
    qz = (qs - qs.mean()) / qs.std()

    def true_dist(s):
        z = (s - s.mean()) / s.std()
        return float(np.sqrt(((z - qz) ** 2).sum()))

    k = 10
    got = exact_knn(df, qs, W, C, k).collect()
    brute = sorted(true_dist(s) for s in series.values())[:k]
    assert [r.euclid for r in got] == pytest.approx(brute, abs=1e-9)


def test_knn_lower_bound_ordering(spark, corpus):
    df, _ = corpus
    idx = build_index(df, "1h")
    qword = str(K.Word.from_series(np.sin(np.linspace(0, 4, N)), W, C))
    rows = knn_query(idx, qword, C, 25, N).collect()
    ds = [r.mindist for r in rows]
    assert ds == sorted(ds)
    assert len(rows) == 25


@pytest.fixture(scope="module")
def nan_corpus(spark):
    """NaN-holed windows — the round-1 false-dismissal class: every word
    carries '#' sentinels, so the reference-parity mindist over-estimates
    and only the frame_full-aware lower bound may prune."""
    n, w, c = 24, 12, 8
    rng = np.random.RandomState(5)
    base = dt.datetime(2024, 1, 1)
    rows, series = [], {}
    for i in range(200):
        s = rng.normal(size=n)
        if i % 2 == 0:
            holes = rng.choice(n, size=rng.randint(1, n - 4), replace=False)
            s[holes] = np.nan
        key, wts = f"k{i}", base + dt.timedelta(days=i)
        series[(key, wts)] = s.copy()
        rows.append(
            Row(key=key, window_ts=wts,
                word=K.symbols_to_string(K.symbolize(s, w, c), c),
                w=w, c=c, n=n, series=[float(x) for x in s])
        )
    return spark.createDataFrame(rows), series


def _true_dist(q):
    """Reference refine metric: z-norm with population std over finite
    values + STAT_EPS guard; positions missing on either side contribute 0."""
    qz = q.copy()
    qfin = np.isfinite(qz)
    sd = qz[qfin].std()
    qz[qfin] = 0.0 if sd < K.STAT_EPS else (qz[qfin] - qz[qfin].mean()) / sd

    def d(s):
        z = s.copy()
        fin = np.isfinite(z)
        sd2 = z[fin].std()
        z[fin] = 0.0 if sd2 < K.STAT_EPS else (z[fin] - z[fin].mean()) / sd2
        diff = np.where(fin & qfin, z - qz, 0.0)
        return float(np.sqrt((diff * diff).sum()))

    return d


def test_exact_knn_nan_bearing_matches_brute_force(spark, nan_corpus):
    from symtseries_spark.operators.index import exact_knn

    df, series = nan_corpus
    rng = np.random.RandomState(11)
    q = rng.normal(size=24)
    q[[3, 17]] = np.nan  # NaN-bearing query too
    got = exact_knn(df, q, w=12, c=8, k=10).collect()
    brute = sorted(_true_dist(q)(s) for s in series.values())[:10]
    assert [r.euclid for r in got] == pytest.approx(brute, abs=1e-9)


def test_range_query_exact_no_false_dismissals(spark, nan_corpus):
    from symtseries_spark.operators.index import range_query_exact

    df, series = nan_corpus
    rng = np.random.RandomState(12)
    q = rng.normal(size=24)
    td = _true_dist(q)
    radius = float(np.percentile([td(s) for s in series.values()], 20))
    got = {(r.key, r.window_ts) for r in
           range_query_exact(df, q, w=12, c=8, radius=radius).collect()}
    brute = {kw for kw, s in series.items() if td(s) <= radius}
    assert got == brute
    assert got, "radius chosen to be non-vacuous"


def test_lower_bound_is_valid(spark, nan_corpus):
    """mindist_lb ≤ true euclid for EVERY row (the pruning guarantee)."""
    from symtseries_spark.operators.index import lower_bound_scan

    df, series = nan_corpus
    rng = np.random.RandomState(13)
    q = rng.normal(size=24)
    td = _true_dist(q)
    rows = lower_bound_scan(df, q, 12, 8).collect()
    assert len(rows) == len(series)
    for r in rows:
        d = td(series[(r.key, r.window_ts)])
        assert r.mindist_lb <= d + 1e-9, f"{r.key}: lb {r.mindist_lb} > euclid {d}"


def test_lb_partial_query_frame_contributes_zero():
    """A HALF-missing query frame must contribute 0 to the lower bound.

    Adversarial construction: query frame 1 = [NaN, 3.0] (finite-subset mean
    extreme-high → real symbol), candidate frame 1 = [-3, 3] (PAA mean 0 →
    middle symbol) with the query-finite position matching the query value.
    Charging the frame (the pre-fix behavior, simulated via q_frame_full =
    all-ones) yields lb > true refine distance — a false dismissal."""
    n, w, c = 8, 4, 8
    fs = n // w
    q = np.array([0.0, 0.1, np.nan, 3.0, 0.2, -0.1, 0.05, -0.2])
    s = np.array([0.0, 0.1, -3.0, 3.0, 0.2, -0.1, 0.05, -0.2])
    qsym, csym = K.symbolize(q, w, c), K.symbolize(s, w, c)
    td = _true_dist(q)
    euclid = td(s)
    cff = np.array([K.frame_full_mask(s, w)])
    qff = K.frame_full_mask(q, w)
    assert qff == 0b1101  # frame 1 is partially finite
    lb_new = K.mindist_lb_batch(qsym, csym[None, :], c, fs, cff, qff)[0]
    lb_old = K.mindist_lb_batch(qsym, csym[None, :], c, fs, cff, (1 << w) - 1)[0]
    assert lb_new <= euclid + 1e-9
    assert lb_old > euclid + 1e-9, "construction must be adversarial"


def test_exact_knn_half_missing_query_frame(spark):
    """End-to-end: the adversarial candidate above is the TRUE nearest
    neighbor; the pre-fix bound would have pruned it."""
    from symtseries_spark.operators.index import exact_knn

    n, w, c = 8, 4, 8
    q = np.array([0.0, 0.1, np.nan, 3.0, 0.2, -0.1, 0.05, -0.2])
    near = np.array([0.0, 0.1, -3.0, 3.0, 0.2, -0.1, 0.05, -0.2])
    rng = np.random.RandomState(7)
    base = dt.datetime(2024, 1, 1)
    series = {("near", base): near}
    rows = [Row(key="near", window_ts=base,
                word=K.symbols_to_string(K.symbolize(near, w, c), c),
                w=w, c=c, n=n, series=[float(x) for x in near])]
    for i in range(80):
        s = rng.normal(size=n) * 2.0
        key, wts = f"k{i}", base + dt.timedelta(hours=i + 1)
        series[(key, wts)] = s
        rows.append(Row(key=key, window_ts=wts,
                        word=K.symbols_to_string(K.symbolize(s, w, c), c),
                        w=w, c=c, n=n, series=[float(x) for x in s]))
    df = spark.createDataFrame(rows)
    td = _true_dist(q)
    brute = sorted(td(s) for s in series.values())[:5]
    got = exact_knn(df, q, w=w, c=c, k=5).collect()
    assert [r.euclid for r in got] == pytest.approx(brute, abs=1e-9)


def test_promoted_lookup_descends_into_subbucket(spark):
    """Lookup law: result ⊆ base-word bucket; for hot buckets only rows
    whose finer 2c segment letter matches the query's survive; cold-bucket
    rows pass through untouched."""
    from symtseries_spark.operators.index import promoted_lookup

    n, w, c = 16, 4, 2
    rng = np.random.RandomState(3)
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(200):
        s = rng.normal(size=n)
        rows.append(
            Row(key=f"k{i}", window_ts=base + dt.timedelta(hours=i),
                word=str(K.Word.from_series(s, w, c)), w=w, c=c, n=n,
                series=[float(x) for x in s])
        )
    df = spark.createDataFrame(rows)
    # probe the corpus's hottest bucket so the descend path is exercised
    from collections import Counter

    hot_word = Counter(r.word for r in rows).most_common(1)[0][0]
    q = np.array(next(r.series for r in rows if r.word == hot_word))
    qword, qprom = promoted_query_words(q, w, c, segments=(0,))
    got = promoted_lookup(df, q, w, c, segments=(0,), threshold=10).collect()
    bucket = df.filter(F.col("word") == qword)
    nbucket = bucket.count()
    assert got, "query word should hit a populated coarse bucket"
    assert all(r.word == qword for r in got)
    if nbucket > 10:  # hot: the lookup must touch a strict sub-bucket
        assert len(got) < nbucket
        assert all(r.word_promoted == qprom for r in got)
        # every returned row's series really re-symbolizes to the query's
        # finer segment letter at 2c (cold buckets pass through whole, so
        # this law only binds split buckets)
        for r in got[:20]:
            fine = K.symbols_to_string(
                K.symbolize(np.array(r.series), w, 2 * c)[0:1], 2 * c
            ).lower()
            assert fine == qprom[0]
    else:
        assert len(got) == nbucket  # cold bucket returned untouched


def test_stored_promoted_index_matches_adhoc_and_prunes(spark, tmp_path):
    """build_promoted_index + promoted_lookup_indexed must (a) return the
    same rows as the ad-hoc promoted_lookup and (b) read a partition-pruned
    scan (prefix dir filter in the plan), with zero query-time recompute."""
    from symtseries_spark.operators.index import (
        build_promoted_index,
        promoted_lookup,
        promoted_lookup_indexed,
        read_promoted_meta,
    )

    n, w, c = 16, 4, 2
    rng = np.random.RandomState(3)
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(200):
        s = rng.normal(size=n)
        rows.append(
            Row(key=f"k{i}", window_ts=base + dt.timedelta(hours=i),
                word=str(K.Word.from_series(s, w, c)), w=w, c=c, n=n,
                series=[float(x) for x in s])
        )
    df = spark.createDataFrame(rows)
    from collections import Counter

    hot_word = Counter(r.word for r in rows).most_common(1)[0][0]
    q = np.array(next(r.series for r in rows if r.word == hot_word))

    path = str(tmp_path / "promoted")
    build_promoted_index(df, path, segments=(0,), threshold=10, w=w, c=c)
    meta = read_promoted_meta(path)
    assert meta["w"] == w and meta["segments"] == [0]

    got = promoted_lookup_indexed(spark, path, q)
    want = promoted_lookup(df, q, w, c, segments=(0,), threshold=10)
    key = lambda r: (r.key, r.window_ts)  # noqa: E731
    got_rows = sorted(got.collect(), key=key)
    want_rows = sorted(
        want.select("key", "window_ts", "word", "word_promoted").collect(),
        key=key,
    )
    assert [tuple(r) for r in got_rows] == [tuple(r) for r in want_rows]
    assert got_rows, "hot-bucket probe must be non-vacuous"

    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [" in plan and "prefix" in plan
    # no promotion UDF / aggregation at query time: a pruned scan + filter
    assert "ArrowEvalPython" not in plan and "HashAggregate" not in plan


def test_promote_words_requires_explicit_wcn(spark):
    import pytest as _pt

    df = spark.createDataFrame(
        [Row(key="k", window_ts=dt.datetime(2024, 1, 1), word="AB",
             w=2, c=2, n=4, series=[1.0, 2.0, 3.0, 4.0])]
    )
    # w and c are required: no driver-side inference from the data
    with _pt.raises(TypeError, match="'w' and 'c'"):
        promote_words(df, segments=(0,), threshold=1)


@pytest.fixture
def one_word_table(spark):
    s = np.sin(np.arange(8.0))
    return spark.createDataFrame(
        [Row(key="k", window_ts=dt.datetime(2024, 1, 1),
             word=K.symbols_to_string(K.symbolize(s, 4, 2), 2),
             w=4, c=2, n=8, series=[float(x) for x in s])]
    )


def test_promote_words_rejects_cardinality_past_max(one_word_table):
    """Promotion re-symbolizes at 2c, so c > MAX_CARDINALITY / 2 must fail
    on the driver, not at the first action as an executor error."""
    with pytest.raises(ValueError, match="c must be <= 8"):
        promote_words(one_word_table, segments=(0,), threshold=1, w=4, c=9)
    with pytest.raises(ValueError, match="c must be <= 8"):
        promoted_query_words(np.sin(np.arange(8.0)), 4, 9, segments=(0,))


@pytest.mark.parametrize("segments", [(4,), (-1,), (0, 0), ()])
def test_promote_words_rejects_bad_segments(one_word_table, segments):
    """Every split segment must be a distinct position in [0, w), checked
    on the driver (a segment >= w used to fail inside the executor)."""
    with pytest.raises(ValueError, match="segment"):
        promote_words(one_word_table, segments=segments, threshold=1, w=4, c=2)
    with pytest.raises(ValueError, match="segment"):
        promoted_query_words(np.sin(np.arange(8.0)), 4, 2, segments=segments)


@pytest.mark.parametrize("threshold", [-1, 2.5, None, True])
def test_promote_words_rejects_bad_threshold(one_word_table, threshold):
    with pytest.raises(ValueError, match="threshold must be an integer"):
        promote_words(one_word_table, segments=(0,), threshold=threshold, w=4, c=2)


def test_promote_words_splits_hot_bucket(spark):
    # coarse alphabet c=2, w=4 → word space of 16, so random series pile up
    # in shared coarse buckets; promotion to c=4 must subdivide them.
    n, w, c = 16, 4, 2
    rng = np.random.RandomState(3)
    base = dt.datetime(2024, 1, 1)
    rows = []
    for i in range(200):
        s = rng.normal(size=n)
        rows.append(
            Row(key=f"k{i}", window_ts=base + dt.timedelta(hours=i),
                word=str(K.Word.from_series(s, w, c)), w=w, c=c, n=n,
                series=[float(x) for x in s])
        )
    df = spark.createDataFrame(rows)
    got = promote_words(df, segments=(0,), threshold=10, w=w, c=c).collect()
    variants = {}
    for r in got:
        variants.setdefault(r.word, set()).add(r.word_promoted)
    split = {wd: v for wd, v in variants.items() if len(v) > 1}
    assert split, "expected at least one promoted (split) word bucket"
    for wd, vs in split.items():
        for v in vs:
            assert len(v) == len(wd)
            assert v[1:] == wd[1:]  # only segment 0 changed
            assert v[0].islower()  # finer-cardinality letters are tagged
    # cold buckets keep their word untouched
    cold = [wd for wd, v in variants.items() if v == {wd}]
    assert cold
    # one split is the recursive splitter's first round, row for row
    by_key = {r.key: r.word_promoted for r in got}
    _, want = _iter_replay(
        [np.array(r.series) for r in rows], 10, w, c, segments=(0,)
    )
    assert by_key == {r.key: wd for r, wd in zip(rows, want)}


def _iter_replay(series_list, threshold, w, c, segments):
    """Pure-python replay of promote_words: per round, buckets over
    threshold refine that round's segment to the 2c lowercase letter."""
    from collections import Counter

    base = [K.symbols_to_string(K.symbolize(s, w, c), c) for s in series_list]
    fine = [
        K.symbols_to_string(K.symbolize(s, w, 2 * c), 2 * c).lower()
        for s in series_list
    ]
    cur = list(base)
    for seg in segments:
        cnt = Counter(cur)
        cur = [
            wd[:seg] + fine[i][seg] + wd[seg + 1 :] if cnt[wd] > threshold else wd
            for i, wd in enumerate(cur)
        ]
    return base, cur


def test_promote_words_iter_depth2_matches_replay(spark):
    """Recursive iSAX-2.0 descent law (depth >= 2): the iterative splitter
    must equal a pure-python replay row-for-row, at least one bucket must
    actually reach depth 2, and any bucket split to fewer levels than
    requested must be under the threshold (i.e. descent stops exactly when
    buckets stop being hot)."""
    from collections import Counter

    n, w, c = 8, 4, 4
    threshold = 10
    rng = np.random.RandomState(5)
    series = []
    hot = rng.normal(size=n)
    # 30 identical series: hot at base, identical fine word -> the seg-0
    # split cannot separate them -> still hot -> forced seg-1 split
    series += [hot.copy() for _ in range(30)]
    # jittered variants + randoms to populate other buckets/depths
    series += [hot + rng.normal(scale=0.4, size=n) for _ in range(40)]
    series += [rng.normal(size=n) for _ in range(60)]
    segments = (0, 1)

    rows = [
        Row(id=i, word=K.symbols_to_string(K.symbolize(s, w, c), c),
            series=[float(x) for x in s])
        for i, s in enumerate(series)
    ]
    df = spark.createDataFrame(rows)
    got = {
        r["id"]: r["word_promoted"]
        for r in promote_words(df, segments, threshold, w, c).collect()
    }
    base, want = _iter_replay(series, threshold, w, c, segments)
    assert got == {i: wd for i, wd in enumerate(want)}

    def depth(word):
        return sum(ch.islower() for ch in word)

    depths = Counter(depth(wd) for wd in got.values())
    assert depths.get(2, 0) >= 30, f"expected a depth-2 split, got {depths}"
    # buckets that stopped early are genuinely cold
    cnt = Counter(got.values())
    for wd, k in cnt.items():
        if depth(wd) < len(segments):
            assert k <= threshold, (wd, k)


def test_promoted_lookup_iter_descends_to_depth2(spark):
    """Multi-level descent lookup: returns exactly the rows whose bucket
    (at the bucket's own split depth) matches the query's refinement
    chain — verified against the python replay."""
    from symtseries_spark.operators.index import promoted_lookup

    n, w, c = 8, 4, 4
    threshold = 10
    rng = np.random.RandomState(11)
    hot = rng.normal(size=n)
    series = [hot.copy() for _ in range(30)]
    series += [hot + rng.normal(scale=0.4, size=n) for _ in range(40)]
    series += [rng.normal(size=n) for _ in range(60)]
    segments = (0, 1)
    rows = [
        Row(id=i, word=K.symbols_to_string(K.symbolize(s, w, c), c),
            series=[float(x) for x in s])
        for i, s in enumerate(series)
    ]
    df = spark.createDataFrame(rows)

    q = hot  # query the replicated series: its bucket is split to depth 2
    chain = promoted_query_words(q, w, c, segments)
    assert len(chain) == 3 and sum(ch.islower() for ch in chain[2]) == 2

    got_ids = {
        r["id"]
        for r in promoted_lookup(
            df, q, w, c, segments=segments, threshold=threshold
        ).collect()
    }
    base, promoted = _iter_replay(series, threshold, w, c, segments)
    want_ids = {
        i
        for i in range(len(series))
        if base[i] == chain[0] and promoted[i] in chain
    }
    assert got_ids == want_ids
    assert set(range(30)) <= got_ids  # the exact-duplicate rows all match


def test_stored_iter_promoted_index_matches_adhoc_and_prunes(spark, tmp_path):
    """The stored recursively-promoted index must return the same rows as
    the ad-hoc promoted_lookup and read a partition-pruned scan."""
    from symtseries_spark.operators.index import (
        build_promoted_index,
        promoted_lookup,
        promoted_lookup_indexed,
        read_promoted_meta,
    )

    n, w, c = 8, 4, 4
    threshold = 10
    rng = np.random.RandomState(11)
    hot = rng.normal(size=n)
    series = [hot.copy() for _ in range(30)]
    series += [hot + rng.normal(scale=0.4, size=n) for _ in range(40)]
    series += [rng.normal(size=n) for _ in range(60)]
    segments = (0, 1)
    rows = [
        Row(key=f"k{i}", window_ts=dt.datetime(2024, 1, 1) + dt.timedelta(hours=i),
            word=K.symbols_to_string(K.symbolize(s, w, c), c),
            series=[float(x) for x in s])
        for i, s in enumerate(series)
    ]
    df = spark.createDataFrame(rows)
    path = str(tmp_path / "iter_promoted")
    build_promoted_index(df, path, segments, threshold, w=w, c=c)
    assert read_promoted_meta(path)["segments"] == [0, 1]

    got = promoted_lookup_indexed(spark, path, hot)
    want = promoted_lookup(
        df, hot, w, c, segments=segments, threshold=threshold
    )
    cols = ["key", "window_ts", "word", "word_promoted"]
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
        map(tuple, want.select(*cols).collect())
    )
    # the scan must prune on the prefix partition column
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "prefix" in plan


# ---------------------------------------------------------------------------
# exact queries: input validation and the per-partition merge
# ---------------------------------------------------------------------------


def _word_row(key, wts, s, w, c, **extra):
    return Row(key=key, window_ts=wts, word=K.symbols_to_string(K.symbolize(s, w, c), c),
               w=w, c=c, n=len(s), series=[float(x) for x in s], **extra)


@pytest.mark.parametrize("k", [0, -1])
def test_exact_knn_rejects_k_below_one(spark, nan_corpus, k):
    from symtseries_spark.operators.index import exact_knn

    df, _ = nan_corpus
    with pytest.raises(ValueError, match="k must be an integer >= 1"):
        exact_knn(df, np.zeros(24), w=12, c=8, k=k)


@pytest.mark.parametrize("radius", [float("nan"), -0.5])
def test_range_query_exact_rejects_bad_radius(spark, nan_corpus, radius):
    from symtseries_spark.operators.index import range_query_exact

    df, _ = nan_corpus
    with pytest.raises(ValueError, match="radius must be a number >= 0"):
        range_query_exact(df, np.zeros(24), w=12, c=8, radius=radius)


@pytest.mark.parametrize("k", [0, -1, 2.5, "3"])
def test_knn_query_rejects_bad_k(spark, corpus, k):
    df, _ = corpus
    with pytest.raises(ValueError, match="k must be an integer >= 1"):
        knn_query(build_index(df, "1h"), "ABCDEFGH", C, k, N)


@pytest.mark.parametrize("radius", [float("nan"), -0.5])
def test_range_query_rejects_bad_radius(spark, corpus, radius):
    df, _ = corpus
    with pytest.raises(ValueError, match="radius must be a number >= 0"):
        range_query(build_index(df, "1h"), "ABCDEFGH", C, radius, N)


@pytest.mark.parametrize("n, w, c", [(25, 12, 8), (24, 12, 1), (24, 1, 8)])
def test_exact_queries_validate_nwc(spark, nan_corpus, n, w, c):
    from symtseries_spark.operators.index import exact_knn, range_query_exact

    df, _ = nan_corpus
    q = np.random.RandomState(2).normal(size=n)
    with pytest.raises(ValueError, match=r"must (be an integer|divide n)"):
        exact_knn(df, q, w=w, c=c, k=3)
    with pytest.raises(ValueError, match=r"must (be an integer|divide n)"):
        range_query_exact(df, q, w=w, c=c, radius=1.0)


def test_exact_knn_names_series_length_mismatch(spark, nan_corpus):
    """A query whose length differs from the stored series (24 values) is a
    valid (n, w, c) on its own; the pass must name the mismatch instead of
    failing inside numpy broadcasting."""
    from symtseries_spark.operators.index import exact_knn

    df, _ = nan_corpus
    q = np.random.RandomState(3).normal(size=12)
    with pytest.raises(Exception, match="every series must hold n=12 values"):
        exact_knn(df, q, w=12, c=8, k=3).collect()


def _brute_order(series, q, k=None):
    """(key, window_ts) answers in (euclid, key, window_ts) order + dists."""
    td = _true_dist(q)
    ranked = sorted((td(s), key, wts) for (key, wts), s in series.items())
    ranked = ranked if k is None else ranked[:k]
    return [(key, wts) for _, key, wts in ranked], [d for d, _, _ in ranked]


def test_exact_knn_multi_partition_ties(spark, monkeypatch):
    """Copies of one series spread over 4 partitions tie at the k-th
    distance; the per-partition top-k + driver merge must still return the
    brute-force answer in (euclid, key, window_ts) order. A probe factor of
    1 makes the refinement run over several blocks."""
    from symtseries_spark.operators import index as I
    from symtseries_spark.operators.index import exact_knn

    monkeypatch.setattr(I, "PROBE_FACTOR", 1)

    n, w, c = 24, 12, 8
    rng = np.random.RandomState(17)
    base = dt.datetime(2024, 1, 1)
    q = rng.normal(size=n)
    pool = [rng.normal(size=n) for _ in range(120)]
    td = _true_dist(q)
    second = sorted(range(len(pool)), key=lambda i: td(pool[i]))[1]
    series = {(f"k{i:03d}", base + dt.timedelta(hours=i)): s for i, s in enumerate(pool)}
    # six exact copies of the 2nd-nearest series: keys that sort before and
    # after its own, one key twice with an earlier window_ts
    dups = [("a0", 0), ("k000", -5), ("zz", 0), ("a1", 0), ("a0", -3), ("m", 0)]
    rows = [_word_row(key, wts, s, w, c) for (key, wts), s in series.items()]
    for j, (key, h) in enumerate(dups):
        wts = base + dt.timedelta(hours=h)
        series[(key, wts)] = pool[second].copy()
        rows.insert(j * 25, _word_row(key, wts, pool[second], w, c))
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4))
    assert df.rdd.getNumPartitions() >= 4
    for k in (1, 3, 5, 8):
        want, want_d = _brute_order(series, q, k)
        got = exact_knn(df, q, w=w, c=c, k=k).collect()
        assert [(r.key, r.window_ts) for r in got] == want, k
        assert [r.euclid for r in got] == pytest.approx(want_d, abs=1e-12)
    # the tie really sits at the k-th answer
    _, d5 = _brute_order(series, q, 5)
    assert d5[1] == d5[4]


def test_exact_queries_on_mixed_table_without_frame_full(spark):
    """Rows of another (w, c), NaN holes and no frame_full column: the pass
    derives frame_full from the series and answers exactly as on the same
    table with the column."""
    from symtseries_spark.operators.index import exact_knn, range_query_exact

    n, w, c = 24, 12, 8
    rng = np.random.RandomState(23)
    base = dt.datetime(2024, 1, 1)
    rows, series = [], {}
    for i in range(150):
        s = rng.normal(size=n)
        if i % 3:
            s[rng.choice(n, size=rng.randint(1, 8), replace=False)] = np.nan
        key, wts = f"k{i}", base + dt.timedelta(hours=i)
        series[(key, wts)] = s
        rows.append(_word_row(key, wts, s, w, c, frame_full=K.frame_full_mask(s, w)))
    # another (w, c) and series length: filtered out before the pass
    for i in range(40):
        s = rng.normal(size=18)
        rows.append(_word_row(f"o{i}", base + dt.timedelta(hours=i), s, 6, 4,
                              frame_full=K.frame_full_mask(s, 6)))
    with_ff = spark.createDataFrame(rows).repartition(3)
    no_ff = with_ff.drop("frame_full")
    q = rng.normal(size=n)
    q[[1, 2, 9]] = np.nan

    def knn(df):
        return [(r.key, r.window_ts, r.euclid)
                for r in exact_knn(df, q, w=w, c=c, k=7).collect()]

    want, want_d = _brute_order(series, q, 7)
    assert knn(no_ff) == knn(with_ff)
    assert [(key, wts) for key, wts, _ in knn(no_ff)] == want
    assert [d for _, _, d in knn(no_ff)] == pytest.approx(want_d, abs=1e-12)

    radius = float(np.percentile([_true_dist(q)(s) for s in series.values()], 15))

    def rng_q(df):
        return sorted((r.key, r.window_ts, r.euclid) for r in
                      range_query_exact(df, q, w=w, c=c, radius=radius).collect())

    assert rng_q(no_ff) == rng_q(with_ff)
    assert {(key, wts) for key, wts, _ in rng_q(no_ff)} == {
        kw for kw, s in series.items() if _true_dist(q)(s) <= radius
    }


def test_exact_and_udf_refine_distances_are_bit_identical(spark, nan_corpus):
    """The exact queries' Arrow pass computes each row's distance with
    kernel.euclid_batch: the same row gets the distance one euclid_batch
    call over every series gives, bit for bit, however the pass batches
    or prunes it."""
    from symtseries_spark.operators.index import exact_knn, range_query_exact

    df, series = nan_corpus
    q = np.random.RandomState(31).normal(size=24)
    keys = list(series)
    ref = dict(zip(keys, K.euclid_batch(np.stack([series[kw] for kw in keys]), K.znorm(q))))
    everything = range_query_exact(df, q, w=12, c=8, radius=float("inf")).collect()
    assert len(everything) == len(series)
    for r in everything + exact_knn(df, q, w=12, c=8, k=15).collect():
        assert r.euclid == ref[(r.key, r.window_ts)]
