"""Gorilla XOR value compression + delta-of-delta timestamp compression.

Implements the Facebook Gorilla scheme (Pelkonen et al., "Gorilla: A Fast,
Scalable, In-Memory Time Series Database", VLDB 2015 — public paper) in a
split layout: the paper's control bits, headers and payloads are the same
codes, but each kind lives in its own section of the chunk, so every field
offset is a prefix sum instead of a sequential cursor walk.

Timestamps ("dod-s", delta-of-delta, µs resolution):
  [ts0: 64b] [delta0: 64b, n ≥ 2 only] [ctrl: (n-2) × 3b class]
  [payloads: class widths 0/7/9/12/64 bits]
  classes: dod == 0 → 0; [-63, 64] → 1; [-255, 256] → 2;
           [-2047, 2048] → 3; else → 4 (raw 64b signed);
           classes 1-3 store dod minus the range's low end

Values ("gorilla-s", XOR of consecutive float64 bit patterns):
  [u0: 64b] [ctrl: (n-1) × 1b nonzero-xor flags]
  [headers: K × 11b (5b leading zeros | 6b meaningful bits - 1)]
  [payloads: K × meaningful bits]

ENCODING IS FULLY VECTORIZED: every code's (bits, nbits) is computed with
numpy over all chunks of an Arrow batch at once, then scattered into a bit
matrix with one loop over *bit positions* (≤ 64 iterations regardless of
chunk size), never a loop over points or chunks.

DECODING IS ALSO VECTORIZED: a whole Arrow batch of chunks decodes in one
numpy pass (≤ 64 bit-position gathers + one np.bitwise_xor.accumulate /
two segmented cumsums).

Spark surface: encode_chunks() packs each (key, tier) bucket run into one
BinaryType blob row via mapInArrow; decode_chunks() restores rows.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# ---------------------------------------------------------------------------
# bit packing helpers (numpy, vectorized over codes)
# ---------------------------------------------------------------------------


def _pack_codes(bits: np.ndarray, nbits: np.ndarray) -> bytes:
    """Pack variable-length big-endian codes into a byte string.

    bits:  (N,) uint64 — right-aligned code values.
    nbits: (N,) int64  — code lengths in bits (1..64+ handled by splitting).
    Loop is over bit positions (max(nbits)), not over codes.
    """
    nbits = nbits.astype(np.int64)
    starts = np.concatenate([[0], np.cumsum(nbits)[:-1]])
    total = int(nbits.sum())
    out = np.zeros(total, dtype=np.uint8)
    maxb = int(nbits.max()) if len(nbits) else 0
    for b in range(maxb):
        mask = nbits > b
        if not mask.any():
            break
        shift = (nbits[mask] - 1 - b).astype(np.uint64)
        vals = ((bits[mask] >> shift) & np.uint64(1)).astype(np.uint8)
        out[starts[mask] + b] = vals
    return np.packbits(out).tobytes()


# ---------------------------------------------------------------------------
# bit scans (vectorized over uint64 words)
# ---------------------------------------------------------------------------


def _clz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros for uint64 (clz(0) = 64)."""
    x = x.astype(np.uint64)
    n = len(x)
    res = np.full(n, 64, dtype=np.int64)
    cur = x.copy()
    width = np.zeros(n, dtype=np.int64)
    for shift in (32, 16, 8, 4, 2, 1):
        hi = cur >> np.uint64(shift)
        has = hi != 0
        width[has] += shift
        cur = np.where(has, hi, cur)
    nz = x != 0
    res[nz] = 63 - width[nz]
    return res


def _ctz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-trailing-zeros for uint64 (ctz(0) = 64)."""
    x = x.astype(np.uint64)
    low = (x & (~x + np.uint64(1))).astype(np.uint64)  # isolate lowest set bit
    out = np.full(len(x), 64, dtype=np.int64)
    nz = x != 0
    out[nz] = 63 - _clz64(low[nz])
    return out


def _pack_groups(code_pairs: list[tuple[np.ndarray, np.ndarray]]):
    """Pack MANY groups' code arrays in ONE _pack_codes call.

    Each group's stream is padded to a byte boundary with a 0-filled pad
    code so the packed buffer slices cleanly per group (the decoder reads
    exactly n points and ignores trailing pad bits). Returns a list of
    bytes objects, one per group. With the per-group _codes_*_split coders
    this is the reference the batch encoders are checked against.
    """
    bits_parts, nbits_parts, byte_lens = [], [], []
    for bits, nbits in code_pairs:
        total = int(nbits.sum())
        pad = (-total) % 8
        if pad:
            bits = np.append(bits, np.uint64(0))
            nbits = np.append(nbits, pad)
        bits_parts.append(bits)
        nbits_parts.append(nbits)
        byte_lens.append((total + pad) // 8)
    packed = _pack_codes(
        np.concatenate(bits_parts), np.concatenate(nbits_parts)
    )
    out, off = [], 0
    for blen in byte_lens:
        out.append(packed[off : off + blen])
        off += blen
    return out


# ---------------------------------------------------------------------------
# split-layout codecs ("gorilla-s" / "dod-s", layouts in the module
# docstring; sections are bit-packed with no alignment between them)
# ---------------------------------------------------------------------------

_DOD_S_WIDTH = np.array([0, 7, 9, 12, 64], dtype=np.int64)
_DOD_S_LO = np.array([0, -63, -255, -2047, 0], dtype=np.int64)


def _codes_values_split(vals: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """gorilla-s code arrays (bits, nbits) for ONE chunk."""
    u = np.ascontiguousarray(np.asarray(vals, dtype=np.float64)).view(np.uint64)
    n = len(u)
    if n == 0:
        return np.empty(0, dtype=np.uint64), np.empty(0, dtype=np.int64)
    if n == 1:
        return u[:1].copy(), np.array([64], dtype=np.int64)
    xor = u[1:] ^ u[:-1]
    nz = xor != 0
    lznz = np.minimum(_clz64(xor[nz]), 31)
    tznz = np.minimum(_ctz64(xor[nz]), 63)
    mlen = np.maximum(64 - lznz - tznz, 1)
    header = (lznz.astype(np.uint64) << np.uint64(6)) | (mlen - 1).astype(np.uint64)
    payload = xor[nz] >> tznz.astype(np.uint64)
    K = int(nz.sum())
    m = n - 1
    bits = np.empty(1 + m + 2 * K, dtype=np.uint64)
    nbits = np.empty(1 + m + 2 * K, dtype=np.int64)
    bits[0], nbits[0] = u[0], 64
    bits[1 : 1 + m] = nz.astype(np.uint64)
    nbits[1 : 1 + m] = 1
    bits[1 + m : 1 + m + K] = header
    nbits[1 + m : 1 + m + K] = 11
    bits[1 + m + K :] = payload
    nbits[1 + m + K :] = mlen
    return bits, nbits


def _codes_timestamps_split(ts: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """dod-s code arrays (bits, nbits) for ONE chunk."""
    ts = np.asarray(ts, dtype=np.int64)
    n = len(ts)
    head = ts[0:1].astype(np.uint64)
    if n == 1:
        return head.copy(), np.array([64], dtype=np.int64)
    d = np.diff(ts)
    dod = np.diff(d)
    m = len(dod)
    cls = np.full(m, 4, dtype=np.int64)
    cls[(dod >= -2047) & (dod <= 2048)] = 3
    cls[(dod >= -255) & (dod <= 256)] = 2
    cls[(dod >= -63) & (dod <= 64)] = 1
    cls[dod == 0] = 0
    width = _DOD_S_WIDTH[cls]
    payload = np.where(
        cls == 4, dod.view(np.uint64), (dod - _DOD_S_LO[cls]).astype(np.uint64)
    )
    hasp = width > 0
    bits = np.concatenate(
        [head, d[0:1].view(np.uint64), cls.astype(np.uint64), payload[hasp]]
    )
    nbits = np.concatenate(
        [[64, 64], np.full(m, 3, dtype=np.int64), width[hasp]]
    )
    return bits, nbits


def _pack_sliced_groups(
    bits: np.ndarray, nbits: np.ndarray, code_counts: np.ndarray
) -> list[bytes]:
    """Pad each group's code stream to a byte boundary (0-filled pad code),
    pack EVERYTHING in one _pack_codes call, slice per group.

    ``code_counts`` gives each group's code count inside the concatenated
    (bits, nbits); this is the fully-array-driven twin of _pack_groups
    (no per-group Python at all — pad codes are scatter-inserted)."""
    G = len(code_counts)
    if G == 0:
        return []
    code_counts = np.asarray(code_counts, dtype=np.int64)
    cum = np.cumsum(nbits)
    grp_end = np.cumsum(code_counts)  # index AFTER each group's last code
    tot = cum[grp_end - 1] - np.concatenate([[0], cum[grp_end - 1][:-1]])
    pad = (-tot) % 8
    has_pad = pad > 0
    shift = np.cumsum(has_pad) - has_pad  # pads inserted BEFORE each group
    T = len(bits)
    final = np.arange(T, dtype=np.int64) + np.repeat(shift, code_counts)
    out_bits = np.zeros(T + int(has_pad.sum()), dtype=np.uint64)
    out_nbits = np.zeros(len(out_bits), dtype=np.int64)
    out_bits[final] = bits
    out_nbits[final] = nbits
    # group g's pad sits right after its last code; `shift` (exclusive
    # count of pads inserted before g) already accounts for earlier pads
    pad_pos = grp_end[has_pad] + shift[has_pad]
    out_nbits[pad_pos] = pad[has_pad]
    packed = _pack_codes(out_bits, out_nbits)
    byte_lens = (tot + pad) // 8
    offs = np.concatenate([[0], np.cumsum(byte_lens)])
    return [packed[offs[g] : offs[g + 1]] for g in range(G)]


def _codes_values_split_batch(
    v_all: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> list[bytes]:
    """gorilla-s payload bytes for MANY chunks in one vectorized pass.

    Identical output to [_pack_groups([_codes_values_split(v[s:e])])[0] per
    group] (equality-pinned in tests), but every section — controls,
    headers, payloads — is computed globally and scatter-assembled into the
    per-group [first | ctrl bits | headers | payloads] layout, so the
    encode stage costs O(sections) numpy calls instead of O(groups)."""
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.asarray(ends, dtype=np.int64)
    u = np.ascontiguousarray(np.asarray(v_all, dtype=np.float64)).view(np.uint64)
    G = len(starts)
    lens = ends - starts
    m = lens - 1  # xor positions per group (>= 0)

    first_mask = np.zeros(len(u), dtype=bool)
    first_mask[starts] = True
    xr = np.empty(len(u), dtype=np.uint64)
    xr[1:] = u[1:] ^ u[:-1]
    xr[0] = 0
    xor = xr[~first_mask]  # compact, group-contiguous, Σm long

    ctrl = xor != 0
    nzv = xor[ctrl]
    lznz = np.minimum(_clz64(nzv), 31)
    tznz = np.minimum(_ctz64(nzv), 63)
    mlen = np.maximum(64 - lznz - tznz, 1)
    header = (lznz.astype(np.uint64) << np.uint64(6)) | (mlen - 1).astype(np.uint64)
    payload = nzv >> tznz.astype(np.uint64)

    cc = np.concatenate([[0], np.cumsum(ctrl.astype(np.int64))])
    xoff = np.concatenate([[0], np.cumsum(m)])
    K = cc[xoff[1:]] - cc[xoff[:-1]]  # nz count per group

    counts = 1 + m + 2 * K
    off = np.concatenate([[0], np.cumsum(counts)[:-1]])
    T = int(counts.sum())
    bits = np.empty(T, dtype=np.uint64)
    nbits = np.empty(T, dtype=np.int64)

    bits[off] = u[starts]
    nbits[off] = 64

    gid = np.repeat(np.arange(G, dtype=np.int64), m)
    wi = _seg_arange(m)
    idx_ctrl = off[gid] + 1 + wi
    bits[idx_ctrl] = ctrl.astype(np.uint64)
    nbits[idx_ctrl] = 1

    gid_nz = gid[ctrl]
    rank = (cc[1:][ctrl] - cc[xoff[gid_nz]]) - 1
    idx_hdr = off[gid_nz] + 1 + m[gid_nz] + rank
    bits[idx_hdr] = header
    nbits[idx_hdr] = 11
    idx_pay = idx_hdr + K[gid_nz]
    bits[idx_pay] = payload
    nbits[idx_pay] = mlen

    return _pack_sliced_groups(bits, nbits, counts)


def _codes_timestamps_split_batch(
    ts_all: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> list[bytes]:
    """dod-s payload bytes for MANY chunks in one vectorized pass (twin of
    per-group _codes_timestamps_split + _pack_groups; equality-pinned)."""
    starts = np.asarray(starts, dtype=np.int64)
    ends = np.asarray(ends, dtype=np.int64)
    ts = np.asarray(ts_all, dtype=np.int64)
    G = len(starts)
    lens = ends - starts
    m1 = lens - 1  # delta count per group
    m2 = np.maximum(lens - 2, 0)  # dod count per group

    first_mask = np.zeros(len(ts), dtype=bool)
    first_mask[starts] = True
    dr = np.empty(len(ts), dtype=np.int64)
    dr[1:] = ts[1:] - ts[:-1]
    dr[0] = 0
    d = dr[~first_mask]  # compact deltas, Σm1 long, group-contiguous

    d1off = np.concatenate([[0], np.cumsum(m1)])
    dstart_mask = np.zeros(len(d) + 1, dtype=bool)
    dstart_mask[d1off] = True
    dstart_mask = dstart_mask[: len(d)]
    ddr = np.empty(len(d), dtype=np.int64)
    if len(d):
        ddr[1:] = d[1:] - d[:-1]
        ddr[0] = 0
    dod = ddr[~dstart_mask]  # Σm2 long

    cls = np.full(len(dod), 4, dtype=np.int64)
    cls[(dod >= -2047) & (dod <= 2048)] = 3
    cls[(dod >= -255) & (dod <= 256)] = 2
    cls[(dod >= -63) & (dod <= 64)] = 1
    cls[dod == 0] = 0
    width = _DOD_S_WIDTH[cls]
    pay = np.where(cls == 4, dod.view(np.uint64), (dod - _DOD_S_LO[cls]).astype(np.uint64))
    hasp = width > 0

    hc = np.concatenate([[0], np.cumsum(hasp.astype(np.int64))])
    d2off = np.concatenate([[0], np.cumsum(m2)])
    H = hc[d2off[1:]] - hc[d2off[:-1]]  # payload count per group

    multi = (lens >= 2).astype(np.int64)  # head + d0 only when n >= 2
    counts = 1 + multi + m2 + H
    off = np.concatenate([[0], np.cumsum(counts)[:-1]])
    T = int(counts.sum())
    bits = np.empty(T, dtype=np.uint64)
    nbits = np.empty(T, dtype=np.int64)

    bits[off] = ts[starts].astype(np.uint64)
    nbits[off] = 64
    mg = multi.astype(bool)
    bits[off[mg] + 1] = d[d1off[:-1][mg]].view(np.uint64) if len(d) else 0
    nbits[off[mg] + 1] = 64

    gid = np.repeat(np.arange(G, dtype=np.int64), m2)
    wi = _seg_arange(m2)
    idx_cls = off[gid] + 2 + wi
    bits[idx_cls] = cls.astype(np.uint64)
    nbits[idx_cls] = 3

    gid_h = gid[hasp]
    rank = (hc[1:][hasp] - hc[d2off[gid_h]]) - 1
    idx_pay = off[gid_h] + 2 + m2[gid_h] + rank
    bits[idx_pay] = pay[hasp]
    nbits[idx_pay] = width[hasp]

    return _pack_sliced_groups(bits, nbits, counts)


def _seg_arange(lens: np.ndarray) -> np.ndarray:
    """[0..lens[0]) ++ [0..lens[1]) ... as one array (no Python loop)."""
    lens = np.asarray(lens, dtype=np.int64)
    total = int(lens.sum())
    heads = np.concatenate([[0], np.cumsum(lens)[:-1]])
    return np.arange(total, dtype=np.int64) - np.repeat(heads, lens)


def _gather_bits(bits: np.ndarray, starts: np.ndarray, nbits: np.ndarray) -> np.ndarray:
    """Vectorized variable-width big-endian field extraction: loop over bit
    POSITIONS (≤ max(nbits) iterations), never over fields."""
    out = np.zeros(len(starts), dtype=np.uint64)
    maxb = int(nbits.max()) if len(nbits) else 0
    for b in range(maxb):
        m = nbits > b
        out[m] |= bits[starts[m] + b].astype(np.uint64) << (
            nbits[m] - 1 - b
        ).astype(np.uint64)
    return out


def _seg_cumsum(a: np.ndarray, starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Per-segment inclusive cumsum via one global cumsum + base subtraction.

    Empty segments are fine: their (possibly out-of-range) start index is
    clipped and contributes zero repeats.
    """
    if len(a) == 0:
        return np.asarray(a).copy()
    c = np.cumsum(a)
    s = np.minimum(np.asarray(starts, dtype=np.int64), len(a) - 1)
    base = np.repeat(c[s] - a[s], lens)
    return c - base


def _payload_bits(payloads) -> tuple[np.ndarray, np.ndarray]:
    """(bit array, per-chunk start bit) of a batch of chunk payloads.

    ``payloads`` is an Arrow binary array (read straight from its offsets
    and data buffers, no per-chunk Python object) or a list of bytes.
    """
    import pyarrow as pa

    if not isinstance(payloads, pa.Array):
        payloads = pa.array(payloads, pa.binary())
    otype = np.int64 if pa.types.is_large_binary(payloads.type) else np.int32
    lo = payloads.offset
    offs = np.frombuffer(payloads.buffers()[1], dtype=otype)[lo : lo + len(payloads) + 1]
    blob = np.frombuffer(payloads.buffers()[2] or b"", dtype=np.uint8)
    bits = np.unpackbits(blob[offs[0] : offs[-1]])
    return bits, (offs[:-1] - offs[0]).astype(np.int64) * 8


def decode_values_split_batch(payloads, n_points: np.ndarray) -> np.ndarray:
    """Decode MANY gorilla-s chunks in one vectorized pass.

    ``payloads``: see :func:`_payload_bits`. Returns the concatenated
    float64 values (Σ n_points long). All offsets are prefix sums over the
    ctrl sections; the XOR-prefix undo is one np.bitwise_xor.accumulate
    with per-chunk base correction.
    """
    n_points = np.asarray(n_points, dtype=np.int64)
    nchunks = len(payloads)
    if nchunks == 0:
        return np.empty(0, dtype=np.float64)
    bits, bit_off = _payload_bits(payloads)

    u0 = _gather_bits(bits, bit_off, np.full(nchunks, 64, dtype=np.int64))

    m = n_points - 1  # ctrl flags per chunk
    ctrl_starts = bit_off + 64
    ctrl_idx = np.repeat(ctrl_starts, m) + _seg_arange(m)
    flags = bits[ctrl_idx].astype(np.int64)
    seg_heads = np.concatenate([[0], np.cumsum(m)[:-1]])
    K = np.zeros(nchunks, dtype=np.int64)
    ne = m > 0
    if ne.any():
        # reduceat needs valid starts; compute on the nonempty segments
        K[ne] = np.add.reduceat(flags, seg_heads[ne]) if flags.size else 0
        # reduceat folds an empty trailing segment into the previous one only
        # when starts repeat — seg_heads of empty segments equal the next
        # head; restricting to nonempty segments avoids that entirely.

    hdr_base = bit_off + 64 + m  # header section start per chunk
    chunk_of_flag = np.repeat(np.arange(nchunks), m)
    nz = flags == 1
    j_in_chunk = (_seg_cumsum(flags, seg_heads, m) - 1)[nz]
    chunk_nz = chunk_of_flag[nz]
    hdr_pos = hdr_base[chunk_nz] + 11 * j_in_chunk
    hdr = _gather_bits(bits, hdr_pos, np.full(len(hdr_pos), 11, dtype=np.int64))
    lz = (hdr >> np.uint64(6)).astype(np.int64)
    mlen = (hdr & np.uint64(63)).astype(np.int64) + 1
    tz = 64 - lz - mlen

    pay_base = hdr_base + 11 * K
    nz_heads = np.concatenate([[0], np.cumsum(K)[:-1]])
    pay_off = _seg_cumsum(mlen, nz_heads, K) - mlen  # exclusive per chunk
    pay_pos = pay_base[chunk_nz] + pay_off
    payload = _gather_bits(bits, pay_pos, mlen)
    xor = payload << tz.astype(np.uint64)

    total = int(n_points.sum())
    arr = np.zeros(total, dtype=np.uint64)
    out_starts = np.concatenate([[0], np.cumsum(n_points)[:-1]])
    arr[out_starts] = u0
    point_idx = np.repeat(out_starts + 1, m) + _seg_arange(m)
    arr[point_idx[nz]] = xor
    acc = np.bitwise_xor.accumulate(arr)
    prev = np.concatenate([[np.uint64(0)], acc[:-1]])
    base = np.repeat(prev[out_starts], n_points)
    return (acc ^ base).view(np.float64)


def decode_timestamps_split_batch(payloads, n_points: np.ndarray) -> np.ndarray:
    """Decode MANY dod-s chunks in one vectorized pass → int64 µs array.
    ``payloads``: see :func:`_payload_bits`."""
    n_points = np.asarray(n_points, dtype=np.int64)
    nchunks = len(payloads)
    if nchunks == 0:
        return np.empty(0, dtype=np.int64)
    bits, bit_off = _payload_bits(payloads)

    W64 = np.full(nchunks, 64, dtype=np.int64)
    ts0 = _gather_bits(bits, bit_off, W64).view(np.int64)
    multi = n_points >= 2
    d0 = np.zeros(nchunks, dtype=np.int64)
    if multi.any():
        d0[multi] = _gather_bits(
            bits, (bit_off + 64)[multi], W64[multi]
        ).view(np.int64)

    m = np.maximum(n_points - 2, 0)  # dod entries per chunk
    ctrl_starts = bit_off + np.where(multi, 128, 64)
    ctrl_idx = np.repeat(ctrl_starts, m) + 3 * _seg_arange(m)
    cls = np.zeros(len(ctrl_idx), dtype=np.int64)
    for b in range(3):
        cls = (cls << 1) | bits[ctrl_idx + b]
    width = _DOD_S_WIDTH[cls]
    seg_heads = np.concatenate([[0], np.cumsum(m)[:-1]])
    pay_base = ctrl_starts + 3 * m
    chunk_of = np.repeat(np.arange(nchunks), m)
    pay_off = _seg_cumsum(width, seg_heads, m) - width
    payload = _gather_bits(bits, pay_base[chunk_of] + pay_off, width)
    dod = np.where(
        cls == 4, payload.view(np.int64), payload.astype(np.int64) + _DOD_S_LO[cls]
    )

    # deltas: per chunk [d0, d0+dod1, ...]; timestamps: ts0 + cumsum(deltas)
    total = int(n_points.sum())
    out_starts = np.concatenate([[0], np.cumsum(n_points)[:-1]])
    deltas = np.zeros(total, dtype=np.int64)
    second = (out_starts + 1)[multi]
    deltas[second] = d0[multi]
    dod_idx = np.repeat(out_starts + 2, m) + _seg_arange(m)
    deltas[dod_idx] = dod
    deltas = _seg_cumsum(deltas, out_starts, n_points)
    # now deltas[i] = delta at point i (0 at the chunk head)
    ts = _seg_cumsum(deltas, out_starts, n_points)
    return ts + np.repeat(ts0, n_points)


# ---------------------------------------------------------------------------
# Spark surface
# ---------------------------------------------------------------------------

def chunk_schema(key_type) -> StructType:
    return StructType(
        [
            StructField("key", key_type),
            StructField("tier", StringType()),
            StructField("chunk_start_ts", TimestampType()),
            StructField("n_points", IntegerType()),
            StructField("ts_codec", StringType()),
            StructField("val_codec", StringType()),
            StructField("ts_payload", BinaryType()),
            StructField("val_payload", BinaryType()),
        ]
    )


def encode_chunks(
    rollup: DataFrame,
    tier: str,
    value_col: str = "text_len_avg",
    chunk_points: int = 1440,
    clustered: bool = False,
) -> DataFrame:
    """Pack each (key, tier, chunk) run of rollup points into one blob row.

    Execution shape (scale-critical): one hash repartition on key + an
    in-partition sort, then ONE mapInPandas pass per partition — Spark never
    dispatches per group (a (key, chunk) group is ~10²-10³ rows; per-group
    applyInPandas dispatch costs more than the encoding). Inside the pass,
    group boundaries come from a factorize over the sorted (key, chunk_id)
    columns and each group's codes are emitted by the fully-vectorized
    packers above.
    """
    from symtseries_spark.config import TIERS

    step = TIERS[tier]
    df = rollup.select(
        "key",
        "bucket_ts",
        F.col(value_col).cast("double").alias("v"),
        (F.unix_timestamp("bucket_ts") / (step * chunk_points))
        .cast("long")
        .alias("chunk_id"),
    )
    # clustered=True: caller guarantees the input is already key-clustered
    # and time-sorted per key within each read split (e.g. a tier table
    # written via repartition(key)+sortWithinPartitions, or a bucketed
    # table) — group contiguity is all the encoder needs, so the shuffle
    # and sort are skipped entirely.
    if not clustered:
        df = df.repartition("key").sortWithinPartitions(
            "key", "chunk_id", "bucket_ts"
        )

    import pyarrow as pa
    import pyarrow.compute as pc

    out_schema = chunk_schema(rollup.schema["key"].dataType)
    key_is_string = out_schema["key"].dataType.simpleString() == "string"
    pa_key = pa.string() if key_is_string else pa.int64()
    pa_out = pa.schema(
        [
            ("key", pa_key),
            ("tier", pa.string()),
            ("chunk_start_ts", pa.timestamp("us")),
            ("n_points", pa.int32()),
            ("ts_codec", pa.string()),
            ("val_codec", pa.string()),
            ("ts_payload", pa.binary()),
            ("val_payload", pa.binary()),
        ]
    )

    def _encode_partition(batches):
        # mapInArrow: numeric columns come out of Arrow zero-copy as numpy;
        # key strings never become Python objects (boundary detection runs
        # in Arrow C++). This is what keeps the JVM→Python hop cheap at
        # tens of millions of rows per stage.
        blist = list(batches)
        if not blist:
            return
        tbl = pa.Table.from_batches(blist)
        if tbl.num_rows == 0:
            return
        tbl = tbl.combine_chunks()
        ts_arr = tbl["bucket_ts"].to_numpy()  # datetime64[us]
        ts_all = ts_arr.astype("datetime64[us]").astype(np.int64)
        v_all = tbl["v"].to_numpy().astype(np.float64, copy=False)
        chunks = tbl["chunk_id"].to_numpy()
        key_col = tbl["key"].combine_chunks()
        n_rows = tbl.num_rows
        key_neq = pc.invert(
            pc.equal(key_col.slice(1), key_col.slice(0, n_rows - 1))
        ).to_numpy(zero_copy_only=False)
        change = np.empty(n_rows, dtype=bool)
        change[0] = True
        change[1:] = key_neq | (chunks[1:] != chunks[:-1])
        starts = np.nonzero(change)[0]
        ends = np.append(starts[1:], n_rows)
        # cross-group batch encode: every section computed globally and
        # scatter-assembled (bit-identical to the per-group path, which
        # cost one Python-level call per chunk — the encode stage's former
        # scaling ceiling)
        ts_blobs = _codes_timestamps_split_batch(ts_all, starts, ends)
        val_blobs = _codes_values_split_batch(v_all, starts, ends)
        g = len(starts)
        yield pa.RecordBatch.from_arrays(
            [
                key_col.take(pa.array(starts)),
                pa.array([tier] * g, pa.string()),
                pa.array(ts_all[starts], pa.timestamp("us")),
                pa.array((ends - starts).astype(np.int32), pa.int32()),
                pa.array(["dod-s"] * g, pa.string()),
                pa.array(["gorilla-s"] * g, pa.string()),
                pa.array(ts_blobs, pa.binary()),
                pa.array(val_blobs, pa.binary()),
            ],
            schema=pa_out,
        )

    return df.mapInArrow(_encode_partition, out_schema)


def decoded_schema(key_type) -> StructType:
    return StructType(
        [
            StructField("key", key_type),
            StructField("tier", StringType()),
            StructField("bucket_ts", TimestampType()),
            StructField("value", DoubleType()),
        ]
    )


def decode_chunks(chunks: DataFrame) -> DataFrame:
    """Inverse of encode_chunks: blob rows → (key, tier, bucket_ts, value).

    One mapInArrow pass: each Arrow batch's payload columns feed their
    offsets and data buffers straight to the split decoders, which decode
    every chunk of the batch in one numpy pass (prefix-sum offsets + ≤64
    bit-position gathers + one xor-scan). No per-chunk Python object and no
    pandas frame. A row whose codecs are not "dod-s"/"gorilla-s" (the
    formats encode_chunks writes) raises ValueError naming the codec.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    schema = decoded_schema(chunks.schema["key"].dataType)

    def _decode(batches):
        for b in batches:
            if not b.num_rows:
                continue
            ts_codec, val_codec = b.column("ts_codec"), b.column("val_codec")
            ok = pc.and_(pc.equal(ts_codec, "dod-s"), pc.equal(val_codec, "gorilla-s"))
            bad = np.flatnonzero(~pc.fill_null(ok, False).to_numpy(zero_copy_only=False))
            if len(bad):
                i = int(bad[0])
                raise ValueError(
                    f"decode_chunks: unsupported codec ts_codec="
                    f"{ts_codec[i].as_py()!r} val_codec={val_codec[i].as_py()!r} "
                    "(only 'dod-s'/'gorilla-s' chunks decode)"
                )
            ns = b.column("n_points").to_numpy(zero_copy_only=False).astype(np.int64)
            rows = pa.array(np.repeat(np.arange(b.num_rows), ns))
            ts = decode_timestamps_split_batch(b.column("ts_payload"), ns)
            yield pa.RecordBatch.from_arrays(
                [
                    b.column("key").take(rows),
                    b.column("tier").take(rows),
                    pa.array(ts, pa.timestamp("us")),
                    pa.array(decode_values_split_batch(b.column("val_payload"), ns)),
                ],
                names=schema.fieldNames(),
            )

    return chunks.mapInArrow(_decode, schema)
