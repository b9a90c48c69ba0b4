"""Decimal frame-of-reference value compression + grid-bitmap timestamp
compression.

Timestamps ("bitmap", one presence bit per step of the tier's grid):
  bit i (MSB-first) is set when the chunk has a point at chunk_start_ts +
  i · TIERS[tier] seconds; the payload ends at the byte holding the last
  point and has no header (tier and chunk_start_ts are chunk columns).
  It codes timestamps at the grain of the data, not the clock: a regular
  series costs 1 bit per point. A bitmap costs span/8 bytes whatever the
  density: the sf0.01 events 1m tier (2.5 points per day chunk; no caller
  encodes it) would cost 24.8 B/pt.

Values ("decimal-for", one layout, zero-padded to a byte):
  [e: 5b] [w: 7b] [base: 64b two's complement] [n_points × w-bit offsets]
  value i = float64(base + offset_i) / 10.0**e  (a division: 10**-e is
  inexact, 10**e is exact for e ≤ 22). The encoder picks the smallest e in
  0..E_MAX for which every value of the chunk round-trips bit for bit
  through that formula, with q = rint(v·10^e) and |q| < 2^62; base is
  min q and w the bit length of max q − min q. A chunk with no such e
  (NaN, ±Inf, −0.0, subnormals, arbitrary doubles) stores e = RAW_E,
  base = 0, w = 64 and the IEEE-754 bit patterns as offsets. This is the
  decimal scheme of ALP (Afroozeh et al., "ALP: Adaptive Lossless
  floating-Point Compression", SIGMOD 2023) without its second scheme:
  rollup averages of integer lengths are mostly whole numbers or halves,
  which cost a few bits each.

Both codecs are vectorized over every chunk of an Arrow batch at once.
Encoding scatters all codes into one bit array (one loop over ≤ 64 bit
positions, after ≤ E_MAX + 1 exponent trials; never a loop over points or
chunks). Decoding is one numpy pass (timestamps: one flatnonzero; values:
one header gather, then ≤ 64 bit-position gathers of the fixed-width
offsets).

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
from symtseries_spark.plans import fits_one_task

#: largest decimal exponent: 10**18 < 2**62 and is exact in float64
E_MAX = 18
#: exponent field of a chunk stored as raw IEEE-754 bit patterns
RAW_E = 31
#: bits of the decimal-for header: e, w, base
_HEADER_BITS = 5 + 7 + 64
_POW10 = np.array([float(10**e) for e in range(E_MAX + 1)])


class ChunkError(ValueError):
    """A malformed chunk, by its index ``chunk`` in the decoded batch."""

    def __init__(self, chunk: int, msg: str):
        super().__init__(msg)
        self.chunk = chunk


# ---------------------------------------------------------------------------
# bit packing helpers (numpy, vectorized over codes)
# ---------------------------------------------------------------------------


def _pack_codes(bits: np.ndarray, nbits: np.ndarray) -> bytes:
    """Pack variable-length big-endian codes into a byte string.

    bits:  (N,) uint64 — right-aligned code values.
    nbits: (N,) int64  — code lengths in bits (0..64).
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


def _bit_length(x: np.ndarray) -> np.ndarray:
    """Bit length of each non-negative int64 (0 → 0)."""
    n = np.frexp(x.astype(np.float64))[1].astype(np.int64)
    # the float conversion can round up to the next power of two
    return n - ((n > 0) & ((x >> np.maximum(n - 1, 0)) == 0))


def _pack_sliced_groups(
    bits: np.ndarray, nbits: np.ndarray, code_counts: np.ndarray
) -> list[bytes]:
    """Pad each group's code stream to a byte boundary (0-filled pad code),
    pack EVERYTHING in one _pack_codes call, slice per group.

    ``code_counts`` gives each group's code count inside the concatenated
    (bits, nbits); no per-group Python at all — pad codes are
    scatter-inserted."""
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


def _codes_values_decimal_batch(
    v_all: np.ndarray, starts: np.ndarray, ends: np.ndarray
) -> list[bytes]:
    """decimal-for payload bytes for MANY chunks (tiling ``v_all`` in
    order) in one vectorized pass: each exponent trial tests every point of
    the chunks still without one, and all codes go through one
    _pack_sliced_groups call. A chunk's bytes do not depend on the other
    chunks of the batch."""
    v = np.ascontiguousarray(v_all, dtype=np.float64)
    starts = np.asarray(starts, dtype=np.int64)
    lens = np.asarray(ends, dtype=np.int64) - starts
    G = len(starts)
    if G == 0:
        return []
    e = np.full(G, RAW_E, dtype=np.int64)
    off = v.view(np.uint64).copy()  # raw chunks keep their bit patterns
    q = np.zeros(len(v), dtype=np.int64)
    todo = np.arange(G)
    for k in range(E_MAX + 1):
        lt = lens[todo]
        pt = np.repeat(starts[todo], lt) + _seg_arange(lt)
        with np.errstate(over="ignore", invalid="ignore"):
            s = np.rint(v[pt] * _POW10[k])
            fits = np.abs(s) < 2.0**62
            qk = np.where(fits, s, 0).astype(np.int64)
            # the decoder's own formula: a lossy exponent cannot pass
            ok = fits & ((qk / _POW10[k]).view(np.uint64) == off[pt])
        done = np.logical_and.reduceat(ok, np.cumsum(lt) - lt)
        e[todo[done]] = k
        q[pt] = qk
        todo = todo[~done]
        if not len(todo):
            break
    dec = e != RAW_E
    base = np.zeros(G, dtype=np.int64)
    w = np.full(G, 64, dtype=np.int64)
    qmin = np.minimum.reduceat(q, starts)
    base[dec] = qmin[dec]
    w[dec] = _bit_length(np.maximum.reduceat(q, starts)[dec] - qmin[dec])
    pdec = np.repeat(dec, lens)
    off[pdec] = (q - np.repeat(base, lens))[pdec].view(np.uint64)

    counts = 3 + lens
    first = np.cumsum(counts) - counts
    bits = np.empty(int(counts.sum()), dtype=np.uint64)
    nbits = np.empty(len(bits), dtype=np.int64)
    for j, (field, width) in enumerate(((e, 5), (w, 7), (base, 64))):
        bits[first + j] = field.view(np.uint64)
        nbits[first + j] = width
    pt = np.repeat(first + 3, lens) + _seg_arange(lens)
    bits[pt] = off
    nbits[pt] = np.repeat(w, lens)
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
    return np.arange(total, dtype=np.int64) - np.repeat(np.cumsum(lens) - lens, lens)


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


def decode_values_decimal_batch(payloads, n_points: np.ndarray) -> np.ndarray:
    """Decode MANY decimal-for chunks in one vectorized pass → float64
    (Σ n_points). ``payloads``: see :func:`_payload_bits`. Raises
    ChunkError naming the chunk (its index in ``payloads``) whose length
    is not ceil((76 + n_points·w) / 8) bytes, whose e is neither in
    0..E_MAX nor RAW_E, or whose w exceeds 64."""
    n = np.asarray(n_points, dtype=np.int64)
    G = len(n)
    bits, bit_off = _payload_bits(payloads)
    nbytes = np.diff(np.append(bit_off, len(bits))) // 8
    # each chunk's first 10 bytes (the header + 4 offset bits) as big-endian
    # words; the zero tail keeps a truncated payload's read in range, and
    # the length check below reports it
    bits = np.append(bits, np.zeros(80, dtype=np.uint8))
    head = np.packbits(bits[bit_off[:, None] + np.arange(80)], axis=1)
    hi = np.ascontiguousarray(head[:, :8]).view(">u8")[:, 0].astype(np.uint64)
    lo = np.ascontiguousarray(head[:, 8:]).view(">u2")[:, 0].astype(np.uint64)
    e = (hi >> np.uint64(59)).astype(np.int64)
    w = ((hi >> np.uint64(52)) & np.uint64(0x7F)).astype(np.int64)
    base = (hi << np.uint64(12)) | (lo >> np.uint64(4))
    want = (_HEADER_BITS + n * w + 7) // 8
    bad = np.flatnonzero(nbytes != want)
    if len(bad):
        g = int(bad[0])
        raise ChunkError(
            g,
            f"decimal-for chunk {g}: val_payload is {nbytes[g]} bytes but "
            f"n_points={n[g]} at w={w[g]} needs {want[g]}"
        )
    bad = np.flatnonzero(((e > E_MAX) & (e != RAW_E)) | (w > 64))
    if len(bad):
        g = int(bad[0])
        raise ChunkError(
            g,
            f"decimal-for chunk {g}: header e={e[g]} w={w[g]} is out of range "
            f"(e in 0..{E_MAX} or {RAW_E}, w at most 64)"
        )
    wp = np.repeat(w, n)
    off = _gather_bits(bits, np.repeat(bit_off + _HEADER_BITS, n) + _seg_arange(n) * wp, wp)
    raw = e == RAW_E
    q = (off + np.repeat(base, n)).view(np.int64)
    vals = q / _POW10[np.repeat(np.where(raw, 0, e), n)]
    return np.where(np.repeat(raw, n), off.view(np.float64), vals)


def decode_timestamps_bitmap_batch(
    payloads, n_points: np.ndarray, start_us: np.ndarray, step_us: np.ndarray
) -> np.ndarray:
    """Decode MANY bitmap chunks in one pass → int64 µs array (Σ n_points).
    ``payloads``: see :func:`_payload_bits`; ``start_us``/``step_us``: each
    chunk's chunk_start_ts and tier step. Each set bit maps back to its chunk
    by the chunk's bit offset. Raises ChunkError when a chunk's set-bit
    count differs from its ``n_points``."""
    bits, bit_off = _payload_bits(payloads)
    pos = np.flatnonzero(bits)
    chunk = np.searchsorted(bit_off, pos, side="right") - 1
    got = np.bincount(chunk, minlength=len(n_points))
    if not np.array_equal(got, n_points):
        g = int(np.argmax(got != n_points))
        raise ChunkError(g, f"bitmap chunk {g} has {got[g]} points set but n_points={n_points[g]}")
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
) -> DataFrame:
    """Pack each (key, tier, chunk) run of rollup points into one blob row.

    Execution shape (scale-critical): one hash repartition on key + a
    (key, bucket_ts) sort within partitions, then ONE mapInArrow pass per
    partition. Spark drops the exchange and the sort when the input
    already has them (the pipeline's cached 1m tier); the chunk id is
    monotone in ``bucket_ts``, so that order keeps each (key, chunk) run
    contiguous. Spark never dispatches per group (a (key, chunk) group is
    ~10²-10³ rows; per-group dispatch costs more than the encoding).
    Inside the pass, group
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
    df = rollup.repartition("key").sortWithinPartitions("key", "bucket_ts").select(
        "key",
        "bucket_ts",
        F.col(value_col).cast("double").alias("v"),
        (F.unix_timestamp("bucket_ts") / (step * chunk_points))
        .cast("long")
        .alias("chunk_id"),
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
        val_blobs = _codes_values_decimal_batch(v_all, starts, ends)
        g = len(starts)
        yield pa.RecordBatch.from_arrays(
            [
                key_col.take(pa.array(starts)),
                pa.array([tier] * g, pa.string()),
                pa.array(ts_all[starts], pa.timestamp("us")),
                pa.array((ends - starts).astype(np.int32), pa.int32()),
                pa.array(["bitmap"] * g, pa.string()),
                pa.array(["decimal-for"] * g, pa.string()),
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

    One mapInArrow pass, run as ONE task over ``chunks.coalesce(1)`` when
    ``plans.fits_one_task(chunks)`` holds (a key-filtered read of a small
    store, which would otherwise start one Python task per chunk file) and
    as one task per input partition otherwise. Each Arrow batch's payload
    columns feed their offsets and data buffers straight to the batch
    decoders, which decode every chunk of the batch in one numpy pass
    (one flatnonzero for the timestamps; one header gather + ≤64
    bit-position gathers of the fixed-width offsets for the values). No
    per-chunk Python object and no pandas frame. A row raises ValueError naming its key, tier and
    chunk_start_ts when its codecs are not "bitmap"/"decimal-for" (the
    formats encode_chunks writes), its tier is not in ``TIERS``, its
    ``n_points`` disagrees with its timestamp bitmap, or its
    ``val_payload`` header or length is malformed.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    schema = decoded_schema(chunks.schema["key"].dataType)
    tier_names = pa.array(list(TIERS))
    tier_step_us = np.array(list(TIERS.values()), dtype=np.int64) * 1_000_000

    def _decode_batch(b):
        ts_codec, val_codec = b.column("ts_codec"), b.column("val_codec")
        ok = pc.and_(pc.equal(ts_codec, "bitmap"), pc.equal(val_codec, "decimal-for"))
        bad = np.flatnonzero(~pc.fill_null(ok, False).to_numpy(zero_copy_only=False))
        if len(bad):
            i = int(bad[0])
            raise ChunkError(
                i,
                f"decode_chunks: unsupported codec ts_codec="
                f"{ts_codec[i].as_py()!r} val_codec={val_codec[i].as_py()!r} "
                "(only 'bitmap'/'decimal-for' chunks decode)",
            )
        tier_idx = pc.index_in(b.column("tier"), value_set=tier_names)
        if tier_idx.null_count:
            i = pc.index(tier_idx.is_null(), True).as_py()
            raise ChunkError(
                i,
                f"decode_chunks: unknown tier {b.column('tier')[i].as_py()!r}; "
                f"valid tiers: {sorted(TIERS)}",
            )
        ns = b.column("n_points").to_numpy(zero_copy_only=False).astype(np.int64)
        start_us = (
            b.column("chunk_start_ts").to_numpy(zero_copy_only=False)
            .astype("datetime64[us]").astype(np.int64)
        )
        step_us = tier_step_us[tier_idx.to_numpy()]
        ts = decode_timestamps_bitmap_batch(b.column("ts_payload"), ns, start_us, step_us)
        rows = pa.array(np.repeat(np.arange(b.num_rows), ns))
        return pa.RecordBatch.from_arrays(
            [
                b.column("key").take(rows),
                b.column("tier").take(rows),
                pa.array(ts, pa.timestamp("us")),
                pa.array(decode_values_decimal_batch(b.column("val_payload"), ns)),
            ],
            names=schema.fieldNames(),
        )

    def _decode(batches):
        for b in batches:
            if not b.num_rows:
                continue
            try:
                yield _decode_batch(b)
            except ChunkError as err:
                row = b.slice(err.chunk, 1).to_pylist()[0]
                raise ValueError(
                    f"{err} (row key={row['key']!r}, tier={row['tier']!r}, "
                    f"chunk_start_ts={row['chunk_start_ts']})"
                ) from None

    src = chunks.coalesce(1) if fits_one_task(chunks) else chunks
    return src.mapInArrow(_decode, schema)
