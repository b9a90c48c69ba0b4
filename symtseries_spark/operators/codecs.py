"""Gorilla XOR value compression + grid-bitmap timestamp compression.

Values follow the Facebook Gorilla scheme (Pelkonen et al., "Gorilla: A
Fast, Scalable, In-Memory Time Series Database", VLDB 2015 — public paper)
in a split layout: the paper's control bits, headers and payloads are the
same codes, but each kind lives in its own section of the chunk, so every
field offset is a prefix sum instead of a sequential cursor walk.

Timestamps ("bitmap", one presence bit per step of the tier's grid):
  bit i (MSB-first) is set when the chunk has a point at chunk_start_ts +
  i · TIERS[tier] seconds; the payload ends at the byte holding the last
  point and has no header (tier and chunk_start_ts are chunk columns).
  Like Gorilla, it codes timestamps at the grain of the data, not the
  clock: a regular series costs 1 bit per point. A bitmap costs span/8
  bytes whatever the density: the sf0.01 events 1m tier (2.5 points per
  day chunk; no caller encodes it) would cost 24.8 B/pt.

Values ("gorilla-s", XOR of consecutive float64 bit patterns):
  [u0: 64b] [ctrl: (n-1) × 1b nonzero-xor flags]
  [headers: K × 11b (5b leading zeros | 6b meaningful bits - 1)]
  [payloads: K × meaningful bits]

Both codecs are vectorized over every chunk of an Arrow batch at once.
Encoding scatters all codes into one bit array (values: one loop over
≤ 64 bit positions, never over points or chunks). Decoding is one numpy
pass (timestamps: one flatnonzero; values: ≤ 64 bit-position gathers, one
np.bitwise_xor.accumulate and two segmented cumsums).

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

from symtseries_spark.config import TIERS

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
    bytes objects, one per group. With the per-group _codes_values_split
    coder this is the reference the batch value encoder is checked against.
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
# codecs ("gorilla-s" / "bitmap", layouts in the module docstring; value
# sections are bit-packed with no alignment between them)
# ---------------------------------------------------------------------------


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


def _codes_timestamps_bitmap_batch(
    ts_all: np.ndarray, starts: np.ndarray, ends: np.ndarray, step_us: int
):
    """bitmap ts_payload column for MANY chunks in one vectorized pass: every
    point's slot (ts − its chunk's first ts) / step_us is scattered into one
    bit array, and the ``pa.binary()`` column is one offsets buffer plus one
    packbits buffer. Raises ValueError when a chunk's timestamps are off its
    step grid or not strictly increasing (duplicates included)."""
    import pyarrow as pa

    lens = ends - starts
    slot, rem = np.divmod(ts_all - np.repeat(ts_all[starts], lens), step_us)
    interior = np.ones(len(ts_all), dtype=bool)
    interior[starts] = False
    bad = rem != 0
    bad[1:] |= interior[1:] & (slot[1:] <= slot[:-1])
    if bad.any():
        i = int(np.argmax(bad))
        raise ValueError(
            f"bitmap timestamps must be strictly increasing on a {step_us} µs grid "
            f"from each chunk's first point; got {ts_all[i]} after {ts_all[i - 1]}"
        )
    offs = np.zeros(len(starts) + 1, dtype=np.int32)
    np.cumsum(slot[ends - 1] // 8 + 1, out=offs[1:])
    bits = np.zeros(8 * int(offs[-1]), dtype=np.uint8)
    bits[np.repeat(8 * offs[:-1].astype(np.int64), lens) + slot] = 1
    buffers = [None, pa.py_buffer(offs), pa.py_buffer(np.packbits(bits))]
    return pa.Array.from_buffers(pa.binary(), len(starts), buffers)


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
    chunk_of_flag = np.repeat(np.arange(nchunks), m)
    K = np.bincount(chunk_of_flag, weights=flags, minlength=nchunks).astype(np.int64)

    hdr_base = bit_off + 64 + m  # header section start per chunk
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


def decode_timestamps_bitmap_batch(
    payloads, n_points: np.ndarray, start_us: np.ndarray, step_us: np.ndarray
) -> np.ndarray:
    """Decode MANY bitmap chunks in one pass → int64 µs array (Σ n_points).
    ``payloads``: see :func:`_payload_bits`; ``start_us``/``step_us``: each
    chunk's chunk_start_ts and tier step. Each set bit maps back to its chunk
    by the chunk's bit offset. Raises ValueError when a chunk's set-bit
    count differs from its ``n_points``."""
    bits, bit_off = _payload_bits(payloads)
    pos = np.flatnonzero(bits)
    chunk = np.searchsorted(bit_off, pos, side="right") - 1
    got = np.bincount(chunk, minlength=len(n_points))
    if not np.array_equal(got, n_points):
        g = int(np.argmax(got != n_points))
        raise ValueError(f"bitmap chunk {g} has {got[g]} points set but n_points={n_points[g]}")
    return start_us[chunk] + (pos - bit_off[chunk]) * step_us[chunk]


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
    in-partition sort, then ONE mapInArrow pass per partition — Spark never
    dispatches per group (a (key, chunk) group is ~10²-10³ rows; per-group
    dispatch costs more than the encoding). Inside the pass, group
    boundaries come from the sorted (key, chunk_id) columns and every
    group is encoded by the batch coders above.

    ``tier`` must be a key of ``TIERS`` and ``chunk_points`` an integer
    ≥ 1 (ValueError otherwise). Each chunk's ``bucket_ts`` must lie
    strictly increasing on the tier's step grid, as every rollup tier's
    do; a chunk that does not raises ValueError on the executor.
    """
    if tier not in TIERS:
        raise ValueError(
            f"encode_chunks: unknown tier {tier!r}; valid tiers: {sorted(TIERS)}"
        )
    if not isinstance(chunk_points, (int, np.integer)) or chunk_points < 1:
        raise ValueError(
            f"encode_chunks: chunk_points must be an integer >= 1, got {chunk_points!r}"
        )
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
        # cross-group batch encode: each codec runs once over every chunk
        # of the partition (a per-group path costs one Python-level call
        # per chunk — the encode stage's former scaling ceiling)
        ts_blobs = _codes_timestamps_bitmap_batch(
            ts_all, starts, ends, step * 1_000_000
        )
        val_blobs = _codes_values_split_batch(v_all, starts, ends)
        g = len(starts)
        yield pa.RecordBatch.from_arrays(
            [
                key_col.take(pa.array(starts)),
                pa.array([tier] * g, pa.string()),
                pa.array(ts_all[starts], pa.timestamp("us")),
                pa.array((ends - starts).astype(np.int32), pa.int32()),
                pa.array(["bitmap"] * g, pa.string()),
                pa.array(["gorilla-s"] * g, pa.string()),
                ts_blobs,
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
    offsets and data buffers straight to the batch decoders, which decode
    every chunk of the batch in one numpy pass (one flatnonzero for the
    timestamps; prefix-sum offsets + ≤64 bit-position gathers + one
    xor-scan for the values). No per-chunk Python object and no pandas
    frame. A row whose codecs are not "bitmap"/"gorilla-s" (the formats
    encode_chunks writes) raises ValueError naming the codec, as does a
    row whose tier is not in ``TIERS`` or whose ``n_points`` disagrees
    with its timestamp bitmap.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    schema = decoded_schema(chunks.schema["key"].dataType)
    tier_names = pa.array(list(TIERS))
    tier_step_us = np.array(list(TIERS.values()), dtype=np.int64) * 1_000_000

    def _decode(batches):
        for b in batches:
            if not b.num_rows:
                continue
            ts_codec, val_codec = b.column("ts_codec"), b.column("val_codec")
            ok = pc.and_(pc.equal(ts_codec, "bitmap"), pc.equal(val_codec, "gorilla-s"))
            bad = np.flatnonzero(~pc.fill_null(ok, False).to_numpy(zero_copy_only=False))
            if len(bad):
                i = int(bad[0])
                raise ValueError(
                    f"decode_chunks: unsupported codec ts_codec="
                    f"{ts_codec[i].as_py()!r} val_codec={val_codec[i].as_py()!r} "
                    "(only 'bitmap'/'gorilla-s' chunks decode)"
                )
            tier_idx = pc.index_in(b.column("tier"), value_set=tier_names)
            if tier_idx.null_count:
                unknown = pc.filter(b.column("tier"), tier_idx.is_null())[0].as_py()
                raise ValueError(
                    f"decode_chunks: unknown tier {unknown!r}; valid tiers: {sorted(TIERS)}"
                )
            ns = b.column("n_points").to_numpy(zero_copy_only=False).astype(np.int64)
            start_us = (
                b.column("chunk_start_ts").to_numpy(zero_copy_only=False)
                .astype("datetime64[us]").astype(np.int64)
            )
            step_us = tier_step_us[tier_idx.to_numpy()]
            ts = decode_timestamps_bitmap_batch(b.column("ts_payload"), ns, start_us, step_us)
            rows = pa.array(np.repeat(np.arange(b.num_rows), ns))
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
