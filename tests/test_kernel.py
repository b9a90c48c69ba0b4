"""Golden-fixture tests for the pure-numpy SAX kernel.

Every fixture comes verbatim from the reference test suites
(/root/reference/src/symtseries.c:698-967, /root/reference/lua/test.lua) as
catalogued in FIXTURES.md §3. Words compare exactly; distances at 1e-5.
"""

import math

import numpy as np
import pytest

from symtseries_spark import kernel as K

NAN = float("nan")
INF = float("inf")


def word_str(series, w, c):
    return str(K.Word.from_series(series, w, c))


# --- symbolization goldens -------------------------------------------------


def test_haed_golden():
    # symtseries.c:739-744
    s = [5, 6, 7, -5, -6, -7, 0.25, 0.17, 0.04, -0.04, -0.17, -0.25]
    w = K.Word.from_series(s, 4, 8)
    assert list(w.symbols) == [0, 7, 3, 4]
    assert str(w) == "HAED"


def test_fc_golden():
    # lua/test.lua:7-9
    assert word_str([10.3, 7, 1, -5, -5, 7.2], 2, 8) == "FC"


def test_nan_inf_ladder():
    # symtseries.c:927-939
    s = [NAN, NAN, INF, -INF, INF, 1, -INF, -1, NAN, -5, 5, NAN]
    w = K.Word.from_series(s, 6, 8)
    assert list(w.symbols) == [8, 8, 0, 7, 7, 0]
    assert str(w) == "##HAAH"


def test_all_inf_series():
    # lua/test.lua:124-127
    assert word_str([INF] * 6 + [-INF] * 3, 3, 5) == "EEA"


def test_inf_zero_neg():
    # lua/test.lua:129-131
    assert word_str([INF, INF, 5, 0, 0, 0, -INF, -INF, -5], 3, 5) == "ECA"


def test_inf_nan_mix():
    # lua/test.lua:149-152
    assert word_str([INF, INF, 5, NAN, NAN, NAN, -INF, -INF, -5], 3, 5) == "E#A"


def test_all_nan():
    # lua/test.lua:157-160
    assert word_str([NAN] * 9, 3, 5) == "###"


def test_nan_inf_nan():
    # lua/test.lua:162-163
    assert word_str([NAN, INF, NAN], 3, 5) == "#E#"


def test_simple_ad():
    # lua/test.lua:32-37
    assert word_str([1, 2, 3, 10.1], 2, 4) == "AD"


def test_partial_window_prefix_nan():
    # 1 value in a 4/2/4 window: unfilled slots are NaN → leading '#'
    assert word_str([NAN, NAN, NAN, 10.1], 2, 4) == "#C"


def test_stationary_middle_symbol():
    # symtseries.c:761-794: near-constant series → middle symbol ∀ c, w
    rng = np.random.RandomState(7)
    for c in range(2, 17):
        mid = (c // 2) - 1 + (c % 2)
        for w in range(1, 61):
            if w == 1:
                continue  # engine contract requires w > 1
            n = 60 - (60 % w)
            if n <= 1 or n % w:
                continue
            s = 8.0 + rng.uniform(-1e-2, 1e-2, size=n) * 0.99
            word = K.Word.from_series(s, w, c)
            assert all(int(x) == mid for x in word.symbols), (c, w)


def test_get_symbol_zero_is_middle():
    # symtseries.c:704-712
    for c in range(2, 17):
        assert K.middle_symbol(c) == (c // 2) - 1 + (c % 2)


def test_get_symbol_break_boundaries():
    # symtseries.c:714-733: just below break i → symbol c-i-1; at break → c-i-2
    for c in range(2, 17):
        br = K.breakpoints(c)
        for i, b in enumerate(br):
            below = K.get_symbols(np.array([b - 1e-9]), c)[0]
            at = K.get_symbols(np.array([b]), c)[0]
            assert below == c - i - 1
            assert at == c - i - 2


# --- string round trips ----------------------------------------------------


def test_string_round_trip():
    w = K.Word.from_string("HAED", 8)
    assert str(w) == "HAED"
    assert w.n_values == 0
    assert list(w.symbols) == [0, 7, 3, 4]


def test_string_rejects():
    for bad, c in [("", 8), ("A", 8), ("AZ", 8), ("ab", 8), ("AB", 1), ("AB", 17)]:
        with pytest.raises(ValueError):
            K.string_to_symbols(bad, c)


def test_nwc_validation_battery():
    # lua/test.lua:67-106 invalid (n, w, c) combos
    bad = [
        (1, 1, 8),
        (4097, 2, 8),
        (8, 3, 8),  # w does not divide n
        (8, 1, 8),
        (4096, 4096, 8),  # w > 2048
        (8, 2, 1),
        (8, 2, 17),
    ]
    for n, w, c in bad:
        with pytest.raises(ValueError):
            K.validate_nwc(n, w, c)
    K.validate_nwc(4096, 2048, 16)
    K.validate_nwc(2, 2, 2)


# --- mindist goldens -------------------------------------------------------


def test_mindist_word_vs_window_golden():
    # lua/test.lua:12-18 / README.md:81-91
    a = K.Word.from_series([10.3, 7, 1, -5, -5, 7.2], 2, 8)
    b = K.Word.from_series([-9, -8, -7, -5, -5, 7.2], 2, 8)
    d, above, below = K.mindist(a, b)
    assert d == pytest.approx(1.560325, abs=1e-5)
    assert above == pytest.approx(1.103316, abs=1e-5)
    assert below == pytest.approx(1.103316, abs=1e-5)


def test_mindist_abdd_dbaa():
    # lua/test.lua:189-195
    a = K.Word.from_string("ABDD", 4)
    b = K.Word.from_string("DBAA", 4)
    d, above, below = K.mindist(a, b)
    assert d == pytest.approx(2.336536, abs=1e-5)
    assert above == pytest.approx(1.907774, abs=1e-5)
    assert below == pytest.approx(1.349000, abs=1e-5)


def test_mindist_sentinel_substitution():
    # lua/test.lua:172-187
    a = K.Word.from_string("ABCD", 4)
    hashes = K.Word.from_string("####", 4)
    ddaa = K.Word.from_string("DDAA", 4)
    assert K.mindist(a, hashes)[0] == pytest.approx(K.mindist(a, ddaa)[0], abs=1e-12)
    assert K.mindist(hashes, a)[0] == pytest.approx(K.mindist(a, hashes)[0], abs=1e-12)

    ccccc = K.Word.from_string("CCCCC", 5)
    h5 = K.Word.from_string("#####", 5)
    aaaaa = K.Word.from_string("AAAAA", 5)
    d, above, below = K.mindist(ccccc, h5)
    d2 = K.mindist(ccccc, aaaaa)[0]
    assert d == pytest.approx(d2, abs=1e-12)
    assert above == pytest.approx(d, abs=1e-12)
    assert below == 0.0


def test_mindist_equal_sentinels_zero():
    # lua/test.lua:164-166: '#'=='#' position contributes 0
    w = K.Word.from_series([NAN, INF, NAN], 3, 5)
    assert str(w) == "#E#"
    d, above, below = K.mindist(w, K.Word.from_series([NAN, INF, NAN], 3, 5))
    assert d == 0.0 and above == 0.0 and below == 0.0


def test_mindist_compat_rules():
    # symtseries.c:591-602
    a = K.Word.from_series([1, 2, 3, 4], 2, 4)  # n=4
    b = K.Word.from_series([1, 2, 3, 4, 5, 6], 2, 4)  # n=6
    assert math.isnan(K.mindist(a, b)[0])
    wc = K.Word.from_string("AD", 4)  # wildcard n=0
    assert not math.isnan(K.mindist(a, wc)[0])
    # both wildcard → n = w (compression 1)
    x, y = K.Word.from_string("AD", 4), K.Word.from_string("DA", 4)
    d = K.mindist(x, y)[0]
    assert not math.isnan(d)
    # mismatched c or w → NaN
    assert math.isnan(K.mindist(a, K.Word.from_string("AD", 5))[0])
    assert math.isnan(K.mindist(a, K.Word.from_string("ADD", 4))[0])


def test_equality_ignores_n_values():
    # symtseries.c:638-645
    a = K.Word.from_series([1, 2, 3, 10.1], 2, 4)  # n=4 → "AD"
    b = K.Word.from_string("AD", 4)  # n=0
    assert a == b
    assert a.n_values != b.n_values
    # ... yet mindist can still be defined via wildcard rule
    assert K.mindist(a, b)[0] == 0.0


# --- laws ------------------------------------------------------------------


def test_window_equals_batch_law():
    # symtseries.c:816-850: trailing-n symbolization == batch symbolization
    rng = np.random.RandomState(42)
    series = rng.normal(size=64)
    for c in range(2, 16):
        for w in (2, 4, 8, 16):
            n = 32
            tail = series[-n:]
            batch = K.symbolize(tail, w, c)
            padded = np.concatenate([series[:0], tail])  # trailing-n semantics
            assert np.array_equal(K.symbolize(padded[-n:], w, c), batch)


def test_append_array_keeps_last_n():
    # lua/test.lua:28-29: >n values → only last n used
    n, w, c = 4, 2, 4
    long = [99.0, -99.0, 1, 2, 3, 10.1]
    assert str(K.Word.from_series(long[-n:], w, c)) == "AD"


def test_online_mu_sigma_random_property():
    # symtseries.c:864-920 re-expressed: batched Welford vs numpy batch
    # recompute within STS_STAT_EPS, with 1/15 NaN, 1/15 +Inf, 1/15 -Inf.
    rng = np.random.RandomState(1234)
    for _ in range(25):
        vals = rng.normal(scale=10, size=1000)
        pick = rng.randint(0, 15, size=1000)
        vals[pick == 0] = np.nan
        vals[pick == 1] = np.inf
        vals[pick == 2] = -np.inf
        for off in range(0, 1000 - 32, 160):
            wnd = vals[off : off + 32]
            mu, std = K.batch_mu_std(wnd[None, :])
            fin = wnd[np.isfinite(wnd)]
            if len(fin) == 0:
                assert mu[0] == 0 and std[0] == 0
            else:
                assert abs(mu[0] - fin.mean()) < K.STAT_EPS * max(1, abs(fin.mean()))
                assert abs(std[0] - fin.std(ddof=0)) < K.STAT_EPS * max(
                    1, fin.std(ddof=0)
                )


def test_mindist_lower_bound_property():
    # mindist(a,b) ≤ euclidean(series_a, series_b) after z-norm (SAX paper law)
    rng = np.random.RandomState(99)
    for _ in range(50):
        n, w, c = 32, 8, 8
        sa = rng.normal(size=n)
        sb = rng.normal(size=n)
        za = (sa - sa.mean()) / sa.std(ddof=0)
        zb = (sb - sb.mean()) / sb.std(ddof=0)
        eu = float(np.sqrt(((za - zb) ** 2).sum()))
        d = K.mindist(K.Word.from_series(sa, w, c), K.Word.from_series(sb, w, c))[0]
        assert d <= eu + 1e-9


def test_version():
    assert K.__version__ == "0.5.0"


def test_error_battery():
    """Python re-expression of the reference's 39-case invalid-input battery
    (/root/reference/lua/test.lua:67-106). Lua arity/type errors map to
    Python TypeError/ValueError; bounds errors to ValueError."""
    data = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0]

    # window/config construction errors (sax.window.new battery)
    for n, w, c in [
        (1, 3, 3), (9, 1, 3), (9, 3, 1), (9, 3, 17), (5000, 5, 5), (10, 3, 3),
    ]:
        with pytest.raises(ValueError):
            K.validate_nwc(n, w, c)
    for bad in [(None, 2, 2), (2, None, 2), (2, 2, None), ("2", 2, 2)]:
        with pytest.raises((ValueError, TypeError)):
            K.validate_nwc(*bad)

    # word constructor errors (sax.word.new battery)
    with pytest.raises(ValueError):
        K.Word.from_string("AAABF", 5)  # 'F' out of range for c=5
    with pytest.raises(ValueError):
        K.Word.from_string("aaabc", 5)  # lowercase
    with pytest.raises(ValueError):
        K.Word.from_string("", 5)  # empty
    with pytest.raises(ValueError):
        K.Word.from_string("AABBC", 1)  # cardinality too small
    with pytest.raises(ValueError):
        K.Word.from_string("AABBC", 17)  # cardinality too big
    with pytest.raises((ValueError, TypeError)):
        K.Word.from_string(None, 5)
    with pytest.raises(ValueError):
        K.Word.from_series([], 1, 5)  # empty series / bad w
    with pytest.raises(ValueError):
        K.Word.from_series([1, 2, 3], 1, 5)  # w out of bounds
    with pytest.raises(ValueError):
        K.Word.from_series(data, 3, 1)
    with pytest.raises(ValueError):
        K.Word.from_series(data, 3, 17)
    with pytest.raises(ValueError):
        K.Word.from_series(data, 4, 5)  # w does not divide n

    # mindist on non-words: type errors
    with pytest.raises(AttributeError):
        K.mindist(1, 1)  # type: ignore[arg-type]

    # add() of non-numeric content
    with pytest.raises((ValueError, TypeError)):
        K.symbolize(np.array(["a", "b"], dtype=object), 2, 4)


def test_empty_append_is_noop_law():
    # lua/test.lua:55-59: add({}) leaves the word unchanged — in batch terms
    # symbolizing the same trailing window twice gives the same word
    base = [1.0, 2.0, 3.0, 4.0]
    w1 = K.Word.from_series(base, 2, 4)
    w2 = K.Word.from_series(list(base), 2, 4)
    assert w1 == w2


def _ref_mindist(a, b, n_a, n_b, c):
    """Plain per-position transcription of the reference sts_mindist_ab
    (symtseries.c:585-636) for two words of one width and cardinality."""
    w = len(a)
    if n_a != n_b and n_a != 0 and n_b != 0:
        return (NAN, NAN, NAN)
    n = n_a if n_a > 0 else (n_b if n_b > 0 else w)
    dist = K.dist_matrix(c)
    above = below = 0.0
    for x, y in zip(map(int, a), map(int, b)):
        if x == c and y == c:
            continue
        if x == c:
            x = 0 if y > c - 1 - y else c - 1
        elif y == c:
            y = 0 if x > c - 1 - x else c - 1
        if x < y:
            above += float(dist[x, y]) ** 2
        elif x > y:
            below += float(dist[x, y]) ** 2
    comp = math.sqrt(n / w)
    return (comp * math.sqrt(above + below), comp * math.sqrt(above), comp * math.sqrt(below))


def test_mindist_pairs_matches_reference_loop():
    """kernel.mindist_pairs equals the reference's per-position loop on
    random word pairs: c in 2..16, w in 2..24, '#' on either side or both,
    n of 0 (the wildcard), equal or unequal; both the row-wise form and the
    broadcast (w,)-query form."""
    from hypothesis import given, settings, strategies as st

    @st.composite
    def pairs(draw):
        c = draw(st.integers(2, 16))
        w = draw(st.integers(2, 24))
        # sentinel-heavy symbols: '#' (== c) is one of three draws
        sym = st.one_of(st.just(c), st.integers(0, c - 1), st.integers(0, c - 1))
        word = st.lists(sym, min_size=w, max_size=w)
        nv = st.sampled_from([0, w, 2 * w, 4 * w])
        side = st.tuples(word, nv)
        return c, draw(st.lists(st.tuples(side, side), min_size=1, max_size=6))

    def agree(got, i, want):
        for g, x in zip(got, want):
            if math.isnan(x):
                assert math.isnan(g[i])
            else:
                assert g[i] == pytest.approx(x, rel=1e-12, abs=0)

    @settings(max_examples=400, deadline=None)
    @given(pairs())
    def check(case):
        c, rows = case
        A = np.array([a for (a, _), _ in rows], dtype=np.uint8)
        n_a = np.array([na for (_, na), _ in rows])
        B = np.array([b for _, (b, _) in rows], dtype=np.uint8)
        n_b = np.array([nb for _, (_, nb) in rows])
        got_rows = K.mindist_pairs(A, B, c, n_a, n_b)
        # one (w,) query broadcast against every right-hand word
        got_bcast = K.mindist_pairs(A[0], B, c, n_a[0], n_b)
        for i in range(len(rows)):
            agree(got_rows, i, _ref_mindist(A[i], B[i], n_a[i], n_b[i], c))
            agree(got_bcast, i, _ref_mindist(A[0], B[i], n_a[0], n_b[i], c))

    check()
