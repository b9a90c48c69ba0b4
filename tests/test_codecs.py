"""decimal-for + grid-bitmap codec round-trip tests (property + known
vectors + the Spark encode_chunks/decode_chunks surface)."""

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from symtseries_spark.operators import codecs as C

MINUTE_US = 60_000_000
T0 = 1_700_000_040_000_000  # on the 1m grid


def _ts_round_trip(chunks, step_us=MINUTE_US):
    """bitmap payloads + decoded timestamps via the batch coders that
    encode_chunks / decode_chunks run."""
    chunks = [np.asarray(c, dtype=np.int64) for c in chunks]
    lens = np.array([len(c) for c in chunks])
    ends = np.cumsum(lens)
    ts = np.concatenate(chunks)
    payloads = C._codes_timestamps_bitmap_batch(ts, ends - lens, ends, step_us)
    steps = np.full(len(chunks), step_us, dtype=np.int64)
    return payloads, C.decode_timestamps_bitmap_batch(payloads, lens, ts[ends - lens], steps)


def _values_round_trip(chunks):
    """decimal-for bytes + decoded values via the batch coders."""
    chunks = [np.ascontiguousarray(c, dtype=np.float64) for c in chunks]
    lens = np.array([len(c) for c in chunks])
    ends = np.cumsum(lens)
    blobs = C._codes_values_decimal_batch(np.concatenate(chunks), ends - lens, ends)
    return blobs, C.decode_values_decimal_batch(blobs, lens)


def _header(blob):
    """(e, w) of one decimal-for payload."""
    b = int.from_bytes(blob[:2], "big")
    return b >> 11, (b >> 4) & 0x7F


def test_timestamps_round_trip_regular():
    ts = np.arange(0, 1440) * MINUTE_US + T0
    (enc,), dec = _ts_round_trip([ts])
    assert np.array_equal(dec, ts)
    # regular cadence → one presence bit per point, no header
    assert len(enc.as_py()) <= 180


def test_timestamps_round_trip_irregular():
    """Irregular on-grid gaps (1 to 49 steps) round-trip exactly."""
    rng = np.random.RandomState(3)
    hour_us = 3600 * 1_000_000
    ts = T0 + hour_us * np.cumsum(np.concatenate([[0], rng.randint(1, 50, size=500)]))
    _, dec = _ts_round_trip([ts], hour_us)
    assert np.array_equal(dec, ts)


def test_timestamps_edge_sizes():
    """Chunk sizes 1-4 mixed in one batch, with last points on both sides
    of a byte boundary (slots 7 and 8)."""
    slots = [[0], [0, 1], [0, 3, 7], [0, 1, 5, 8], [0, 2, 4, 6]]
    chunks = [T0 + 86_400_000_000 * i + MINUTE_US * np.array(s) for i, s in enumerate(slots)]
    payloads, dec = _ts_round_trip(chunks)
    assert np.array_equal(dec, np.concatenate(chunks))
    assert [len(p) for p in payloads.to_pylist()] == [1, 1, 1, 2, 1]


def test_values_round_trip_property():
    """NaN payloads, ±inf, −0.0, extremes and sizes 1–4 round-trip
    bit-exactly through one batch."""
    nan_bits = np.array(
        [0x7FF8000000000000, 0x7FF8000000000123, 0xFFF8000000000000,
         0x7FF0000000000001, 0xFFFFFFFFFFFFFFFF],
        dtype=np.uint64,
    )
    cases = [
        nan_bits.view(np.float64),
        np.array([0.0, -0.0, np.inf, -np.inf, np.nan, 1e-308, 1e308, 2.0]),
        np.array([5e-324]),
        np.array([-0.0, 0.0]),
        np.array([np.inf, np.nan, -np.inf]),
        np.array([1.0, 1.0, -1.0, 1.0]),
    ]
    rng = np.random.RandomState(7)
    cases += [
        rng.normal(size=1000),
        np.repeat(3.14159, 500),  # constant → w = 0
        np.round(rng.normal(size=300), 1),  # e = 1, but one −0.0 → raw
        rng.normal(size=1) * 100,
        np.arange(100, dtype=np.float64),
        np.array([4e18, -4e18]),  # |q| just under 2^62 at e = 0
        np.array([0.1, 0.25, 1e-18]),  # e = E_MAX
        np.array([1.0, 0.5, 0.25, 0.125, 1.5]),  # mixed exponents → e = 3
    ]
    _, dec = _values_round_trip(cases)
    want = np.concatenate(cases)
    assert np.array_equal(dec.view(np.uint64), want.view(np.uint64)), (
        "bit-exact round trip required (NaN payloads included)"
    )


def test_values_vec_round_trip_property():
    """Each case as its own single-group batch: the per-group start/end
    offsets are exercised one chunk at a time, not only when concatenated."""
    rng = np.random.RandomState(9)
    cases = [
        rng.normal(size=1000),
        np.repeat(3.14159, 500),
        np.round(rng.normal(size=300), 1),
        np.array([0.0, -0.0, np.inf, -np.inf, np.nan, 1e-308, 1e308, 2.0]),
        rng.normal(size=1) * 100,
        np.arange(100, dtype=np.float64),
    ]
    for vals in cases:
        _, dec = _values_round_trip([vals])
        assert np.array_equal(
            dec.view(np.uint64), np.ascontiguousarray(vals).view(np.uint64)
        )


def test_values_compress_stable_series():
    (enc,), dec = _values_round_trip([np.repeat(42.5, 2000)])
    assert np.array_equal(dec, np.repeat(42.5, 2000))
    assert _header(enc) == (1, 0)
    assert len(enc) == 10  # the 76-bit header; 0-bit offsets


def test_values_exponent_choice():
    """The smallest lossless exponent is chosen, offsets are as wide as the
    chunk's q range, and what no e ≤ E_MAX can carry is stored raw."""
    cases = [
        (np.array([3.0, 10.0]), (0, 3)),
        (np.array([2.5, 3.0]), (1, 3)),
        (np.array([0.01, -0.02]), (2, 2)),
        (np.array([1.0, np.nan]), (C.RAW_E, 64)),
        (np.array([1.0, 4.7e18]), (C.RAW_E, 64)),  # q ≥ 2^62
        (np.array([-0.0]), (C.RAW_E, 64)),
        (np.array([5e-324]), (C.RAW_E, 64)),
    ]
    blobs, dec = _values_round_trip([v for v, _ in cases])
    assert [_header(b) for b in blobs] == [h for _, h in cases]
    want = np.concatenate([v for v, _ in cases])
    assert np.array_equal(dec.view(np.uint64), want.view(np.uint64))


def _five_points(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    return spark.createDataFrame(
        [Row(key="a", bucket_ts=base + dt.timedelta(minutes=m), text_len_avg=1.0 * m)
         for m in range(5)]
    )


def test_decode_chunks_rejects_unknown_codec(spark, both_shapes):
    chunks = C.encode_chunks(_five_points(spark), "1m").withColumn(
        "val_codec", F.lit("gorilla")
    )

    def check(chunks):
        with pytest.raises(Exception, match=r"unsupported codec .*val_codec='gorilla'"):
            C.decode_chunks(chunks).collect()

    both_shapes(chunks, check)


@pytest.mark.parametrize(
    "column, value, match",
    [("n_points", "n_points + 1", r"has 5 points set but n_points=6"),
     ("tier", "'5m'", r"unknown tier '5m'"),
     ("val_payload", "substring(val_payload, 1, 2)",
      r"val_payload is 2 bytes but n_points=5 at w=3 needs 12"),
     # e = 20 (first byte 0b10100_000), w and length unchanged
     ("val_payload", "concat(unhex('A0'), substring(val_payload, 2))",
      r"header e=20 w=3 is out of range")],
)
def test_decode_chunks_rejects_tampered_rows(spark, both_shapes, column, value, match):
    """Each error keeps its message and names the bad row by key, tier and
    chunk_start_ts, in both plan shapes."""
    chunks = C.encode_chunks(_five_points(spark), "1m").withColumn(column, F.expr(value))
    tier = "5m" if column == "tier" else "1m"
    row = rf"\(row key='a', tier='{tier}', chunk_start_ts=2024-01-01 00:00:00"

    def check(chunks):
        with pytest.raises(Exception, match=match + ".*" + row):
            C.decode_chunks(chunks).collect()

    both_shapes(chunks, check)


@pytest.mark.parametrize(
    "offsets_s", [[0, 60, 90, 120], [0, 60, 60, 120]], ids=["off_grid", "duplicate"]
)
def test_encode_chunks_rejects_off_grid_and_duplicate_ts(spark, offsets_s):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rollup = spark.createDataFrame(
        [Row(key="a", bucket_ts=base + dt.timedelta(seconds=s), text_len_avg=1.0)
         for s in offsets_s]
    )
    with pytest.raises(Exception, match=r"strictly increasing on a 60000000 µs grid"):
        C.encode_chunks(rollup, "1m").collect()


@pytest.mark.parametrize(
    "tier, chunk_points, match",
    [("5m", 1440, r"unknown tier '5m'; valid tiers: \['1d', '1h', '1m'\]"),
     ("1m", 0, r"chunk_points must be an integer >= 1, got 0"),
     ("1m", -3, r"chunk_points must be an integer >= 1, got -3")],
)
def test_encode_chunks_rejects_bad_arguments(spark, tier, chunk_points, match):
    import datetime as dt

    rollup = spark.createDataFrame(
        [Row(key="a", bucket_ts=dt.datetime(2024, 1, 1), text_len_avg=1.0)]
    )
    with pytest.raises(ValueError, match=match):
        C.encode_chunks(rollup, tier, chunk_points=chunk_points)


def test_spark_chunk_round_trip(spark):
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rows = []
    rng = np.random.RandomState(11)
    for k in ("a", "b"):
        for m in range(0, 200, 3):  # gappy 1m buckets
            rows.append(
                Row(
                    key=k,
                    tier="1m",
                    bucket_ts=base + dt.timedelta(minutes=m),
                    text_len_avg=float(np.round(rng.normal(100, 10), 2)),
                )
            )
    rollup = spark.createDataFrame(rows)
    chunks = C.encode_chunks(rollup, "1m", "text_len_avg", chunk_points=64)
    cl = chunks.collect()
    assert all(r.ts_codec == "bitmap" and r.val_codec == "decimal-for" for r in cl)
    assert sum(r.n_points for r in cl) == len(rows)
    decoded = C.decode_chunks(chunks)
    got = {
        (r.key, r.bucket_ts): r.value for r in decoded.collect()
    }
    want = {(r.key, r.bucket_ts): r.text_len_avg for r in rows}
    assert got == want
    # compression actually compresses vs raw 16B/point
    raw = 16 * len(rows)
    packed = sum(len(r.ts_payload) + len(r.val_payload) for r in cl)
    assert packed < raw


def test_split_codecs_batch_round_trip_property():
    """decimal-for / bitmap: many mixed-shape chunks decode in ONE vectorized
    pass and round-trip exactly (incl. single-point, constant, huge-gap,
    and raw chunks next to decimal ones)."""
    rng = np.random.RandomState(7)
    vchunks = []
    for n in [1, 2, 3, 17, 256, 1440]:
        v = rng.normal(size=n) * rng.choice([1.0, 1e7, 1e-7])
        v[rng.rand(n) < 0.4] = v[0]
        vchunks.append(v)
        vchunks.append(np.round(v * 100, rng.randint(0, 4)))
    vchunks.append(np.full(64, -2.5))
    vchunks.append(np.array([0.0]))
    _, got = _values_round_trip(vchunks)
    assert np.array_equal(got, np.concatenate(vchunks))

    tchunks = []
    for n in [1, 2, 5, 500]:
        gaps = rng.choice([1] * 8 + [2, 60, 7], size=max(n - 1, 0))
        tchunks.append(T0 + MINUTE_US * np.concatenate([[0], np.cumsum(gaps)]))
    tchunks.append(T0 + MINUTE_US * np.array([0, 10**4, 10**4 + 1, 2 * 10**4]))
    _, tgot = _ts_round_trip(tchunks)
    assert np.array_equal(tgot, np.concatenate(tchunks))


def test_split_codec_roundtrip_hypothesis():
    """Fuzz the codecs: decode∘encode must be the identity, bit for bit,
    for arbitrary float64 bit patterns (NaN payloads, ±inf, subnormals,
    ±0.0, huge magnitudes, long equal runs), for decimals k/10^j, for
    chunks that mix exponents, and for any sorted set of unique grid slots
    of any tier."""
    from hypothesis import given, settings, strategies as st

    from symtseries_spark.config import TIERS

    kj = st.tuples(
        st.integers(min_value=-(10**15), max_value=10**15),
        st.integers(min_value=0, max_value=C.E_MAX),
    )
    floats = st.one_of(
        kj.map(lambda t: t[0] / 10 ** t[1]),
        st.floats(width=64),
        st.just(0.0),
        st.just(-0.0),
        st.floats(min_value=-1e-300, max_value=1e-300, allow_nan=False),
        st.integers(min_value=0, max_value=(1 << 64) - 1).map(
            lambda b: float(np.array([b], dtype=np.uint64).view(np.float64)[0])
        ),
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(st.lists(floats, min_size=1, max_size=130), min_size=1, max_size=4))
    def check_values(chunks):
        _, out = _values_round_trip(chunks)
        want = np.concatenate([np.array(c, dtype=np.float64) for c in chunks])
        assert want.view(np.uint64).tolist() == out.view(np.uint64).tolist()

    @settings(max_examples=200, deadline=None)
    @given(st.lists(kj, min_size=1, max_size=130))
    def check_decimals(pairs):
        vals = [k / 10**j for k, j in pairs]
        (blob,), out = _values_round_trip([vals])
        assert np.array(vals).view(np.uint64).tolist() == out.view(np.uint64).tolist()
        # below 2^51 the scaled product rounds back to k·10^(J−j) exactly
        J = max(j for _, j in pairs)
        if max(abs(k) * 10 ** (J - j) for k, j in pairs) < 2**51:
            assert _header(blob)[0] <= J

    @settings(max_examples=200, deadline=None)
    @given(
        st.sets(st.integers(min_value=0, max_value=1 << 12), min_size=1, max_size=130),
        st.integers(min_value=0, max_value=1 << 30),
        st.sampled_from(sorted(TIERS.values())),
    )
    def check_ts(slots, t0_steps, step_s):
        step_us = step_s * 1_000_000
        ts = (t0_steps + np.array(sorted(slots), dtype=np.int64)) * step_us
        (blob,), out = _ts_round_trip([ts], step_us)
        assert ts.tolist() == out.tolist()
        assert len(blob.as_py()) == (ts[-1] - ts[0]) // step_us // 8 + 1

    check_values()
    check_decimals()
    check_ts()


def test_batch_value_encoder_is_group_independent():
    """Encoding many chunks in one batch gives, chunk for chunk, the same
    bytes as encoding each chunk alone — randomized group layouts, with
    whole, decimal, raw and constant chunks side by side."""
    rng = np.random.RandomState(42)
    for _ in range(15):
        G = rng.randint(1, 40)
        lens = rng.randint(1, 60, size=G)
        starts = np.concatenate([[0], np.cumsum(lens)[:-1]])
        ends = np.cumsum(lens)
        n = int(ends[-1])
        scale = 10.0 ** rng.randint(0, 4, size=n)
        v = np.rint(rng.randn(n) * 100 * scale) / scale
        v[rng.rand(n) < 0.05] = rng.randn()  # makes its chunk raw
        v[rng.rand(n) < 0.3] = 1.5
        alone = [
            C._codes_values_decimal_batch(v[s:e], np.array([0]), np.array([e - s]))[0]
            for s, e in zip(starts, ends)
        ]
        assert C._codes_values_decimal_batch(v, starts, ends) == alone


def test_decode_chunks_zero_rows(spark):
    import datetime as dt

    rollup = spark.createDataFrame(
        [Row(key="a", bucket_ts=dt.datetime(2024, 1, 1), text_len_avg=1.0)]
    )
    chunks = C.encode_chunks(rollup, "1m").filter(F.lit(False))
    out = C.decode_chunks(chunks)
    assert out.columns == ["key", "tier", "bucket_ts", "value"]
    assert out.collect() == []


def test_decode_chunks_batch_of_keys_and_tiers(spark, both_shapes):
    """One Arrow batch holding chunks of several keys and two tiers (with
    1-point chunks) decodes every point back to its own key and tier, in
    both plan shapes."""
    import datetime as dt

    base = dt.datetime(2024, 1, 1)
    rng = np.random.RandomState(8)
    want, parts = {}, []
    for tier, step, npts in (("1m", dt.timedelta(minutes=1), 150),
                             ("1h", dt.timedelta(hours=1), 30)):
        rows = []
        for key in ("a", "bb", "c", "d"):
            for m in sorted(rng.choice(npts, size=rng.randint(1, 30), replace=False)):
                v = float(np.round(rng.normal(50, 20), 3))
                rows.append(Row(key=key, bucket_ts=base + int(m) * step, text_len_avg=v))
                want[(key, tier, base + int(m) * step)] = v
        rollup = spark.createDataFrame(rows)
        parts.append(C.encode_chunks(rollup, tier, chunk_points=16))

    def check(chunks):
        got = C.decode_chunks(chunks).collect()
        assert len(got) == len(want)
        assert {(r.key, r.tier, r.bucket_ts): r.value for r in got} == want

    # one file, so one input partition and one Arrow batch in either shape
    both_shapes(parts[0].unionByName(parts[1]).coalesce(1), check)


def test_perfbench_1m_tier_timestamps_cost_under_a_quarter_byte(monkeypatch):
    """Size guard without Spark: perfbench's seed-1 1m tier, chunked one
    (url, day) per chunk as run_pipeline does, costs at most 0.25 timestamp
    bytes per point and round-trips exactly through the batch coders."""
    import os

    monkeypatch.syspath_prepend(os.path.join(os.path.dirname(__file__), "..", "perfbench"))
    import gen
    import ingest

    from symtseries_spark.config import EngineConfig

    crawl = gen.Crawl(1, ingest.SIZE)
    tier = gen.Reference(crawl, crawl.mask([-1])).tiers["1m"]
    minute = tier["bucket"]  # sorted by (url, minute)
    ts = (gen.BASE_EPOCH_S + 60 * minute) * 1_000_000
    chunk = tier["url_idx"] * (1 << 32) + minute // EngineConfig().chunk_points
    payloads, dec = _ts_round_trip(np.split(ts, np.flatnonzero(np.diff(chunk)) + 1))
    assert np.array_equal(dec, ts)
    assert len(payloads.buffers()[2]) / len(ts) <= 0.25


def test_perfbench_1m_tier_values_cost_at_most_1_25_bytes(monkeypatch):
    """Size guard without Spark: perfbench's seed-1 1m tier values, chunked
    one (url, day) per chunk as run_pipeline does, cost at most 1.25 value
    bytes per point and round-trip exactly through the batch coders."""
    import os

    monkeypatch.syspath_prepend(os.path.join(os.path.dirname(__file__), "..", "perfbench"))
    import gen
    import ingest

    from symtseries_spark.config import EngineConfig

    crawl = gen.Crawl(1, ingest.SIZE)
    tier = gen.Reference(crawl, crawl.mask([-1])).tiers["1m"]
    chunk = tier["url_idx"] * (1 << 32) + tier["bucket"] // EngineConfig().chunk_points
    blobs, dec = _values_round_trip(np.split(tier["avg"], np.flatnonzero(np.diff(chunk)) + 1))
    assert np.array_equal(dec.view(np.uint64), tier["avg"].view(np.uint64))
    assert sum(map(len, blobs)) / len(dec) <= 1.25
