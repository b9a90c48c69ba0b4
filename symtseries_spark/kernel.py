"""Pure-numpy SAX / iSAX symbolization kernel (no Spark imports).

Re-implements, from public SAX/iSAX papers and observed reference behavior,
the symbolization semantics of trink/symtseries v0.5.0:

- z-normalization with single-pass (Welford) mean + *population* std over
  finite values only (reference: ``estimate_mu_and_std``,
  /root/reference/src/symtseries.c:257-280),
- PAA frame sums with the NaN/Inf ladder (``apply_sax_transform``,
  symtseries.c:358-396),
- Gaussian-breakpoint symbols in reversed iSAX ordering, symbol 0 = highest
  sector (``get_symbol``, symtseries.c:245-254),
- mindist lower-bound distance with '#'-sentinel substitution
  (``sts_mindist_ab``, symtseries.c:585-636).

The breakpoint and distance tables are NOT copied from the reference; they
are derived from first principles (standard-normal quantiles via
``statistics.NormalDist``) with the same 3-decimal float32 quantization the
reference tables exhibit (breakpoints truncated toward zero; distance cells
rounded). ``tests/test_kernel.py`` pins every published fixture.

Everything here is vectorized over *batches* of series so it can run inside
Arrow-batched pandas UDFs with no per-row Python.
"""

from __future__ import annotations

import math
from statistics import NormalDist

import numpy as np

# ---------------------------------------------------------------------------
# Parameter envelope (adopted from the reference's Lua API contract,
# /root/reference/lua/lua_sax.c:26-35)
# ---------------------------------------------------------------------------

MIN_CARDINALITY = 2
MAX_CARDINALITY = 16
MAX_N = 4096
MAX_W = 2048
STAT_EPS = 1e-2  # stationary guard (reference STS_STAT_EPS, symtseries.h:17)

SENTINEL_CHAR = "#"
__version__ = "0.5.0"  # parity with reference DIST_VERSION


def validate_nwc(n: int, w: int, c: int) -> None:
    """Validate the (n, w, c) triple with the reference's API bounds."""
    if not isinstance(n, (int, np.integer)) or not (1 < n <= MAX_N):
        raise ValueError(f"n must be an integer in (1, {MAX_N}], got {n!r}")
    if not isinstance(w, (int, np.integer)) or not (1 < w <= MAX_W):
        raise ValueError(f"w must be an integer in (1, {MAX_W}], got {w!r}")
    if n % w != 0:
        raise ValueError(f"w must divide n, got n={n}, w={w}")
    if not isinstance(c, (int, np.integer)) or not (
        MIN_CARDINALITY <= c <= MAX_CARDINALITY
    ):
        raise ValueError(
            f"c must be an integer in [{MIN_CARDINALITY}, {MAX_CARDINALITY}], got {c!r}"
        )


# ---------------------------------------------------------------------------
# Derived constant tables
# ---------------------------------------------------------------------------


def _trunc3(x: float) -> float:
    """Truncate toward zero at 3 decimals (the breakpoint quantization)."""
    return math.trunc(x * 1000.0) / 1000.0


def _derive_tables():
    nd = NormalDist()
    exact = {
        c: [nd.inv_cdf(i / c) for i in range(1, c)]
        for c in range(MIN_CARDINALITY, MAX_CARDINALITY + 1)
    }
    breaks = {
        c: np.array([_trunc3(v) for v in exact[c]], dtype=np.float32)
        for c in exact
    }
    dists = {}
    for c, q in exact.items():
        t = np.zeros((c, c), dtype=np.float32)
        for a in range(c):
            for b in range(c):
                if abs(a - b) > 1:
                    hi, lo = max(a, b), min(a, b)
                    t[a, b] = np.float32(round(q[hi - 1] - q[lo], 3))
        dists[c] = t
    return breaks, dists


_BREAKS_F32, _DIST_F32 = _derive_tables()
# float64 copies: the reference compares/accumulates in double after
# promoting the float32 table cells, so we promote once up front.
_BREAKS = {c: v.astype(np.float64) for c, v in _BREAKS_F32.items()}
_DIST = {c: v.astype(np.float64) for c, v in _DIST_F32.items()}


def breakpoints(c: int) -> np.ndarray:
    """Ascending N(0,1) breakpoints for cardinality c (float64, len c-1)."""
    return _BREAKS[int(c)]


def dist_matrix(c: int) -> np.ndarray:
    """Symbol-pair distance matrix for cardinality c (float64, c×c)."""
    return _DIST[int(c)]


# ---------------------------------------------------------------------------
# Symbols
# ---------------------------------------------------------------------------


def get_symbols(values: np.ndarray, c: int) -> np.ndarray:
    """Vectorized value→symbol map (reversed iSAX ordering).

    NaN → sentinel ``c``. Otherwise the symbol is ``c - 1 - #{breaks <= v}``
    so symbol 0 is the highest-value sector and ties at a breakpoint go *up*
    (toward symbol 0), matching the reference's strict ``value < break`` scan.
    """
    values = np.asarray(values, dtype=np.float64)
    br = _BREAKS[int(c)]
    idx = np.searchsorted(br, values, side="right")
    sym = (c - 1 - idx).astype(np.uint8)
    sym[np.isnan(values)] = c
    return sym


def middle_symbol(c: int) -> int:
    """Symbol every finite frame maps to when std < STAT_EPS."""
    return int(get_symbols(np.array([0.0]), c)[0])


# ---------------------------------------------------------------------------
# Welford statistics (batched)
# ---------------------------------------------------------------------------


def batch_mu_std(x: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Single-pass mean + population std over finite values, per row.

    ``x`` is (B, n). Replicates the reference's sequential Welford update
    order exactly (s2 += d*d*(k-1)/k before mean += d/k), vectorized across
    the batch axis. Rows with zero finite values yield (0, 0).
    """
    x = np.asarray(x, dtype=np.float64)
    B, n = x.shape
    mean = np.zeros(B)
    s2 = np.zeros(B)
    cnt = np.zeros(B)
    for j in range(n):
        v = x[:, j]
        fin = np.isfinite(v)
        if not fin.any():
            continue
        new_cnt = cnt + fin
        denom = np.where(fin, new_cnt, 1.0)
        vsafe = np.where(fin, v, 0.0)
        delta = vsafe - mean
        s2 = np.where(fin, s2 + ((delta * delta) * cnt) / denom, s2)
        mean = np.where(fin, mean + delta / denom, mean)
        cnt = new_cnt
    has = cnt > 0
    mu = np.where(has, mean, 0.0)
    with np.errstate(invalid="ignore", divide="ignore"):
        std = np.where(has, np.sqrt(s2 / np.where(has, cnt, 1.0)), 0.0)
    return mu, std


# ---------------------------------------------------------------------------
# Symbolization (batched sts_from_double_array)
# ---------------------------------------------------------------------------


def symbolize_batch(x: np.ndarray, w: int, c: int) -> np.ndarray:
    """Batch SAX transform: (B, n) float64 → (B, w) uint8 symbols.

    Semantics (pinned by reference fixtures):
      * μ/σ: Welford population std over finite values of the whole series.
      * Per PAA frame: left-to-right sum of non-NaN values and their count.
      * Frame with zero non-NaN values, or sum NaN (+Inf + -Inf) → sentinel c.
      * Frame sum ±Inf → passes raw to the symbol map (clamps to extremes).
      * Finite frame sum: 0 if std < STAT_EPS else (sum - cnt·μ)/(cnt·σ)
        — the *sum* form, normalizing by cnt, not the mean form.
    """
    x = np.asarray(x, dtype=np.float64)
    B, n = x.shape
    validate_nwc(n, w, c)
    mu, std = batch_mu_std(x)

    fs = n // w
    frames = x.reshape(B, w, fs)
    # Left-to-right frame sum replicating C accumulation order (NaN skipped,
    # ±Inf accumulated raw so +Inf + -Inf → NaN like sequential C addition).
    sums = np.zeros((B, w))
    cnts = np.zeros((B, w))
    with np.errstate(invalid="ignore"):
        for j in range(fs):
            v = frames[:, :, j]
            nan = np.isnan(v)
            sums = np.where(nan, sums, sums + v)
            cnts += ~nan
    empty = (cnts == 0) | np.isnan(sums)
    finite = np.isfinite(sums) & ~empty

    stationary = std < STAT_EPS
    with np.errstate(invalid="ignore", divide="ignore"):
        normed = (sums - cnts * mu[:, None]) / (cnts * std[:, None])
    avg = np.where(
        finite,
        np.where(stationary[:, None], 0.0, normed),
        sums,  # ±Inf passes raw
    )
    avg = np.where(empty, np.nan, avg)
    return get_symbols(avg, c).reshape(B, w)


def symbolize(series, w: int, c: int) -> np.ndarray:
    """Single-series convenience wrapper (reference sts_from_double_array)."""
    arr = np.asarray(series, dtype=np.float64)
    if arr.ndim != 1:
        raise ValueError("series must be 1-D")
    return symbolize_batch(arr[None, :], w, c)[0]


# ---------------------------------------------------------------------------
# SAX word <-> string
# ---------------------------------------------------------------------------


def symbols_to_string_batch(syms: np.ndarray, c: int) -> np.ndarray:
    """(B, w) symbols → (B,) w-letter words: 'A' = lowest sector, sentinel
    c → '#'. Unvalidated: every symbol must lie in [0, c]."""
    B, w = syms.shape
    letters = np.array(
        [chr(ord("A") + (c - s - 1)) for s in range(c)] + [SENTINEL_CHAR], dtype="U1"
    )
    return np.ascontiguousarray(letters[syms]).view(f"U{w}").reshape(B)


def string_to_symbols_batch(words, c: int) -> np.ndarray:
    """(B,) words of one length w → (B, w) uint8 symbols; '#' → sentinel c.
    Unvalidated: every letter must be '#' or one of the first c letters."""
    w = len(words[0])
    codes = np.asarray(words, dtype=f"U{w}").view(np.uint32).reshape(len(words), w)
    syms = (c - 1 - (codes - ord("A"))).astype(np.int64)
    syms[codes == ord(SENTINEL_CHAR)] = c
    return syms.astype(np.uint8)


def symbols_to_string(symbols: np.ndarray, c: int) -> str:
    """One word's symbols → letters (:func:`symbols_to_string_batch`),
    rejecting symbols outside [0, c]."""
    syms = np.asarray(symbols).astype(np.int64).reshape(1, -1)
    bad = (syms < 0) | (syms > c)
    if bad.any():
        raise ValueError(f"corrupt symbol {syms[bad][0]} for cardinality {c}")
    return str(symbols_to_string_batch(syms, c)[0]) if syms.size else ""


def string_to_symbols(word: str, c: int) -> np.ndarray:
    """One word's letters → symbols (:func:`string_to_symbols_batch`),
    rejecting short words, a bad c and out-of-range letters."""
    if not isinstance(word, str) or len(word) <= 1:
        raise ValueError("SAX string must have length > 1")
    if not (MIN_CARDINALITY <= c <= MAX_CARDINALITY):
        raise ValueError(f"cardinality out of range: {c}")
    codes = np.array([word]).view(np.uint32).astype(np.int64)
    bad = (codes != ord(SENTINEL_CHAR)) & ((codes < ord("A")) | (codes >= ord("A") + c))
    if bad.any():
        ch = word[int(np.argmax(bad))]
        raise ValueError(f"symbol {ch!r} out of range for cardinality {c}")
    return string_to_symbols_batch([word], c)[0]


class Word:
    """A SAX word: (symbols, n_values, w, c). n_values=0 is the wildcard."""

    __slots__ = ("symbols", "n_values", "w", "c")

    def __init__(self, symbols: np.ndarray, n_values: int, c: int):
        self.symbols = np.asarray(symbols, dtype=np.uint8)
        self.n_values = int(n_values)
        self.w = len(self.symbols)
        self.c = int(c)

    @classmethod
    def from_series(cls, series, w: int, c: int) -> "Word":
        arr = np.asarray(series, dtype=np.float64)
        return cls(symbolize(arr, w, c), len(arr), c)

    @classmethod
    def from_string(cls, word: str, c: int) -> "Word":
        return cls(string_to_symbols(word, c), 0, c)

    def __str__(self) -> str:
        return symbols_to_string(self.symbols, self.c)

    def __eq__(self, other) -> bool:
        # Equality deliberately ignores n_values (reference sts_words_equal).
        if not isinstance(other, Word):
            return NotImplemented
        return (
            self.w == other.w
            and self.c == other.c
            and bool(np.array_equal(self.symbols, other.symbols))
        )

    def __hash__(self):
        return hash((self.w, self.c, self.symbols.tobytes()))


# ---------------------------------------------------------------------------
# mindist
# ---------------------------------------------------------------------------


def _signed_cellsq(c: int) -> np.ndarray:
    """(c+1)×(c+1) signed squared cells indexed by symbol (0..c-1 real,
    c = '#'), with the reference's '#' substitution built in: a '#'
    position takes the extreme farthest from the other side's real symbol
    (tie → c-1, the lowest sector) and a '#'-'#' position is 0. The sign
    is the side after substitution: + where the left symbol is below the
    right one (it counts to ``above``), − where it is above (``below``)."""
    dist = _DIST[c]
    t = np.zeros((c + 1, c + 1))
    for x in range(c + 1):
        for y in range(c + 1):
            a = (0 if y > c - 1 - y else c - 1) if x == c and y < c else x
            b = (0 if x > c - 1 - x else c - 1) if y == c and x < c else y
            sq = dist[a, b] * dist[a, b] if a < c and b < c else 0.0
            if sq:
                t[x, y] = sq if a < b else -sq
    return t


_SIGNED_CELLSQ = {c: _signed_cellsq(c) for c in _DIST}


def mindist_pairs(
    A: np.ndarray,
    B: np.ndarray,
    c: int,
    n_a,
    n_b,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Row-wise reference mindist (``sts_mindist_ab``, the reference's
    src/symtseries.c:585-636) of two batches of words of one width: the
    only mindist of the engine.

    A: (P, w) symbols, or one (w,) query that broadcasts against B: (P, w).
    n_a / n_b: scalars or (P,). Returns (d, above, below), each (P,):
    ``above``/``below`` sum the squared cells where the left symbol is
    below/above the right one, d = √(n/w)·√(above + below) and the parts
    are scaled alike. The n values must be equal or 0 (the wildcard); n is
    the non-zero one, or w when both are 0. Incompatible pairs give NaN.

    One gather of the signed cell table per pair block, no per-position
    branch: the '#' rule lives in the table (:func:`_signed_cellsq`).
    """
    g = _SIGNED_CELLSQ[int(c)][A, B]
    w = g.shape[-1]
    above = np.maximum(g, 0.0).sum(axis=-1)
    below = np.maximum(-g, 0.0).sum(axis=-1)
    n_a = np.asarray(n_a, dtype=np.int64)
    n_b = np.asarray(n_b, dtype=np.int64)
    n = np.where(n_a > 0, n_a, n_b).astype(np.float64)
    comp = np.sqrt(np.where(n == 0, float(w), n) / float(w))
    ok = (n_a == n_b) | (n_a == 0) | (n_b == 0)
    return tuple(
        np.where(ok, comp * np.sqrt(s), np.nan) for s in (above + below, above, below)
    )


def frame_full_batch(X: np.ndarray, w: int) -> np.ndarray:
    """(B, n) raw series → (B,) int64 bitmask, bit f set ⇔ PAA frame f has
    every raw slot finite: the per-row ``frame_full`` metadata that makes
    :func:`mindist_lb_batch` a valid bound. Words wider than 63 frames do
    not fit a long and get 0, so every frame contributes 0 to the bound."""
    X = np.asarray(X, dtype=np.float64)
    B, n = X.shape
    if w > 63:
        return np.zeros(B, dtype=np.int64)
    fin = np.isfinite(X[:, : n // w * w]).reshape(B, w, n // w).all(axis=2)
    return fin @ (np.int64(1) << np.arange(w, dtype=np.int64))


def frame_full_mask(series: np.ndarray, w: int) -> int:
    """:func:`frame_full_batch` of a single raw series (the query side)."""
    return int(frame_full_batch(np.asarray(series)[None, :], w)[0])


def mindist_lb_batch(
    qa: np.ndarray,
    cands: np.ndarray,
    c: int,
    fs: int,
    frame_full: np.ndarray,
    q_frame_full: int,
) -> np.ndarray:
    """TRUE lower bound of the z-normalized Euclidean refine distance.

    The reference-compatible :func:`mindist_pairs` substitutes the FARTHEST
    extreme for '#' sentinels (a *query* semantic, symtseries.h:120-124) —
    that makes it an over-estimate whenever a word contains '#', so it must
    never be used for pruning. This variant is bound-safe:

      * a frame contributes ``fs * cell(a, b)**2`` ONLY when both symbols
        are real AND both the candidate frame and the QUERY frame are fully
        finite (``frame_full`` / ``q_frame_full`` bits set) — then the
        textbook PAA argument applies per frame:
        sum_i (zq_i - zc_i)^2 >= fs * (paa_q - paa_c)^2 >= fs * cell^2;
      * sentinel or partially-missing frames (on either side) contribute 0.
        A PARTIALLY-finite frame still gets a real symbol (from the finite
        subset's PAA mean), but the refine metric zeroes positions missing
        on either side — the remaining sub-frame mean is NOT constrained by
        the symbol, so charging such a frame would over-estimate and cause
        false dismissals.

    qa: (w,) query symbols. cands: (B, w). frame_full: (B,) int64 bitmask,
    bit f = candidate frame f fully finite. q_frame_full: scalar bitmask
    for the query series (kernel.frame_full_mask). fs = n // w.
    Requires the refine metric (:func:`euclid_batch`) to share the
    symbolizer's STAT_EPS stationary guard (z := 0 when std < STAT_EPS) so
    word symbols always encode the sector of the refine-space PAA mean.
    """
    qa = np.asarray(qa, dtype=np.int64)
    cands = np.asarray(cands, dtype=np.int64)
    B, w = cands.shape
    dist = _DIST[int(c)]
    a = np.broadcast_to(qa, (B, w))
    full = (
        (np.asarray(frame_full, dtype=np.int64)[:, None] >> np.arange(w)) & 1
    ).astype(bool)
    q_full = ((int(q_frame_full) >> np.arange(w)) & 1).astype(bool)
    ok = (a != c) & (cands != c) & full & q_full[None, :]
    a_safe = np.where(ok, a, 0)
    b_safe = np.where(ok, cands, 0)
    cells = dist[a_safe, b_safe]
    sq = np.where(ok, cells * cells, 0.0)
    return np.sqrt(float(fs) * sq.sum(axis=1))


def znorm(series: np.ndarray) -> np.ndarray:
    """z-normalize one series (the query side of :func:`euclid_batch`):
    population std over finite values, STAT_EPS stationary guard → zeros."""
    q = np.asarray(series, dtype=np.float64)
    qz = q.copy()
    fin = np.isfinite(qz)
    if fin.any():
        sd = qz[fin].std()
        if sd < STAT_EPS:
            qz[fin] = 0.0
        else:
            qz[fin] = (qz[fin] - qz[fin].mean()) / sd
    return qz


def euclid_batch(X: np.ndarray, qz: np.ndarray) -> np.ndarray:
    """(B, n) raw series → z-normalized Euclidean distance of each row to
    the z-normalized query ``qz``: the one refine metric of every query.

    Mirrors the symbolizer's semantics exactly (population std over finite
    values, STAT_EPS stationary guard → zero vector, non-finite positions
    contribute 0) so :func:`mindist_lb_batch` is a valid lower bound of it.
    Each row's result depends on that row alone, so refining a subset of
    rows gives bit-identical distances to refining all of them.
    """
    Xf = np.where(np.isfinite(X), X, np.nan)
    mu = np.nanmean(Xf, axis=1, keepdims=True)
    sd = np.nanstd(Xf, axis=1, keepdims=True)
    stationary = sd < STAT_EPS
    sd = np.where(stationary, 1.0, sd)
    Z = np.where(np.isfinite(X), np.where(stationary, 0.0, (X - mu) / sd), np.nan)
    diff = np.where(np.isfinite(Z) & np.isfinite(qz), Z - qz, 0.0)
    return np.sqrt((diff * diff).sum(axis=1))


def mindist(a: Word, b: Word) -> tuple[float, float, float]:
    """mindist(a, b) → (d, above, below); NaN on incompatible (w, c, n)."""
    if a is None or b is None or a.c != b.c or a.w != b.w:
        return (math.nan, math.nan, math.nan)
    if not (MIN_CARDINALITY <= a.c <= MAX_CARDINALITY):
        return (math.nan, math.nan, math.nan)
    d, ab, be = mindist_pairs(a.symbols, b.symbols[None, :], a.c, a.n_values, b.n_values)
    return (float(d[0]), float(ab[0]), float(be[0]))


def words_equal(a: Word, b: Word) -> bool:
    return a == b
