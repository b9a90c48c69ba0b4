"""Structured Streaming tests: the watermarked rollup and the streamed tier
store, driven by a file source in micro-batches."""

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from symtseries_spark.streaming.ingest import streaming_rollup


def _write_batches(spark, path, batches):
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows).coalesce(1).write.mode(
            "append"
        ).parquet(path)


def test_streaming_rollup_file_source(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    base = dt.datetime(2024, 1, 1)
    rows = [
        Row(key="a", ts=base + dt.timedelta(seconds=30 * i), value=float(i))
        for i in range(8)
    ]
    _write_batches(spark, src, [rows])

    stream = spark.readStream.schema(
        "key string, ts timestamp, value double"
    ).parquet(src)
    agg = streaming_rollup(stream, "key", "ts", F.col("value"), "1m")
    q = (
        agg.writeStream.format("memory")
        .queryName("rollup_sink")
        .outputMode("append")  # only watermark-closed windows emit
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # append mode emits nothing until the watermark passes — drive a second
    # batch far in the future to close the first windows
    late = [Row(key="a", ts=base + dt.timedelta(hours=2), value=0.0)]
    _write_batches(spark, src, [late])
    q2 = (
        agg.writeStream.format("memory")
        .queryName("rollup_sink2")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    got = {
        (r.key, r.bucket_ts): (r.crawl_cnt, r.sum)
        for r in spark.sql("select * from rollup_sink2").collect()
    }
    # minutes 0..3 hold values (0,1), (2,3), (4,5), (6,7)
    assert got[("a", base)] == (2, 1.0)
    assert got[("a", base + dt.timedelta(minutes=1))] == (2, 5.0)
    assert got[("a", base + dt.timedelta(minutes=3))] == (2, 13.0)


def test_streaming_rollup_equals_batch_rollup(spark, tmp_path):
    """The streaming twin of the window==batch law (r2 verdict #7):
    streaming_rollup over a file source (complete mode, one availableNow
    epoch) must produce EXACTLY rollup_raw over a batch read of the same
    files — same buckets, same partial triples, null values included."""
    from symtseries_spark.operators.rollup import rollup_raw

    src = str(tmp_path / "parity_src")
    base = dt.datetime(2024, 1, 1)
    rng = np.random.RandomState(9)
    rows = []
    for key in ("a", "b", "c"):
        for i in range(50):
            v = None if i % 11 == 7 else float(np.round(rng.normal() * 10, 3))
            rows.append(
                Row(key=key,
                    ts=base + dt.timedelta(seconds=int(rng.randint(0, 3600))),
                    value=v)
            )
    # two files so the stream sees multiple input splits in the epoch
    _write_batches(spark, src, [rows[:70], rows[70:]])

    stream = spark.readStream.schema(
        "key string, ts timestamp, value double"
    ).parquet(src)
    agg = streaming_rollup(stream, "key", "ts", F.col("value"), "1m")
    q = (
        agg.writeStream.format("memory")
        .queryName("parity_sink")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r.key, r.bucket_ts): (r.crawl_cnt, r.cnt, r.sum, r.sumsq)
        for r in spark.sql("select * from parity_sink").collect()
    }

    batch = rollup_raw(
        spark.read.parquet(src), "key", "ts", F.col("value"), "1m"
    )
    want = {
        (r.key, r.bucket_ts): (r.crawl_cnt, r.cnt, r.sum, r.sumsq)
        for r in batch.collect()
    }
    assert set(got) == set(want)
    for k in want:
        g, e = got[k], want[k]
        assert g[0] == e[0] and g[1] == e[1], k
        for gg, ee in zip(g[2:], e[2:]):
            if ee is None:
                assert gg is None
            else:
                assert gg == pytest.approx(ee, rel=1e-12), k


def test_streaming_tiers_converge_to_batch_rollup(spark, tmp_path):
    """Continuous-aggregate law: after each availableNow epoch (including
    a restart from checkpoint and late data revising an earlier bucket),
    the incrementally-maintained 1m/1h/1d store equals the batch
    rollup_all_tiers over everything ingested so far."""
    from symtseries_spark.operators.rollup import rollup_all_tiers
    from symtseries_spark.streaming.ingest import streaming_tiers

    src = str(tmp_path / "tiers_src")
    store = str(tmp_path / "tiers_store")
    ckpt = str(tmp_path / "tiers_ckpt")
    base = dt.datetime(2024, 1, 1)

    def _rows(spec):
        return [
            Row(key=k, ts=base + dt.timedelta(seconds=s), value=v)
            for k, s, v in spec
        ]

    batch1 = _rows(
        [("a", 10, 1.0), ("a", 70, 2.0), ("a", 3700, 3.0),
         ("b", 20, 5.0), ("b", 90000, 7.0)]  # b spans two dates
    )
    # batch2: new buckets PLUS a late row revising a's very first minute
    # and a brand-new key. The watermark below is 30 days so the restart's
    # checkpointed watermark (batch1 max ts - delay) still admits them —
    # with a tight watermark the engine CORRECTLY drops them as too-late
    # (that eviction is the bounded-state contract, not a bug).
    batch2 = _rows(
        [("a", 15, 10.0), ("a", 90100, 4.0), ("c", 30, 9.0)]
    )

    def _run_epoch():
        stream = spark.readStream.schema(
            "key string, ts timestamp, value double"
        ).parquet(src)
        q = (
            streaming_tiers(
                stream, store, "key", "ts", F.col("value"), ckpt,
                watermark="30 days",
            )
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    def _store_state():
        got = spark.read.parquet(store)
        return {
            (r["tier"], r["key"], r["bucket_ts"]): (
                r["crawl_cnt"], r["cnt"],
                round(r["sum"], 6), round(r["sumsq"], 6),
                round(r["text_len_avg"], 6),
            )
            for r in got.collect()
        }

    def _batch_state(rows):
        df = spark.createDataFrame(rows)
        tiers = rollup_all_tiers(df, "key", "ts", F.col("value"))
        out = {}
        for tier, tdf in tiers.items():
            for r in tdf.collect():
                out[(tier, r["key"], r["bucket_ts"])] = (
                    r["crawl_cnt"], r["cnt"],
                    round(r["sum"], 6), round(r["sumsq"], 6),
                    round(r["text_len_avg"], 6),
                )
        return out

    _write_batches(spark, src, [batch1])
    _run_epoch()
    assert _store_state() == _batch_state(batch1)

    _write_batches(spark, src, [batch2])
    _run_epoch()  # restart from checkpoint, processes only batch2 files
    assert _store_state() == _batch_state(batch1 + batch2)


def test_upsert_replay_after_failed_1h_write_converges(spark, tmp_path, monkeypatch):
    """Replay law for a failure between the 1m and the 1h write: the
    increment's 1m rows are stored, its 1h/1d rows are stale, and replaying
    the same increment converges the store to rollup_all_tiers over every
    input. The 1h tier handed to the writer is cached (not checkpointed),
    and the failure releases the cache."""
    from pyspark import StorageLevel

    from symtseries_spark import checkpoint as CP
    from symtseries_spark.operators.rollup import rollup_all_tiers, rollup_raw

    store = str(tmp_path / "store")
    base = dt.datetime(2024, 1, 1)
    inc_a = [("a", 10, 1.0), ("a", 3700, 3.0), ("b", 20, 5.0)]
    # new minutes in A's hours, a second date and a new key
    inc_b = [("a", 70, 2.0), ("a", 3760, 4.0), ("b", 90000, 7.0), ("c", 30, 9.0)]

    def _raw(spec):
        return spark.createDataFrame(
            [Row(key=k, ts=base + dt.timedelta(seconds=s), value=v) for k, s, v in spec]
        )

    def _increment(spec):
        return rollup_raw(_raw(spec), "key", "ts", F.col("value"), "1m")

    def _state(tiers):
        return {
            (tier, r["key"], r["bucket_ts"]): (r["crawl_cnt"], r["cnt"], r["sum"], r["sumsq"])
            for tier, df in tiers.items()
            for r in df.collect()
        }

    def _stored():
        got = spark.read.parquet(store)
        return _state({t: got.filter(F.col("tier") == t) for t in ("1m", "1h", "1d")})

    def _want(spec):
        return _state(rollup_all_tiers(_raw(spec), "key", "ts", F.col("value")))

    def _assert_equal(got, want):
        assert got.keys() == want.keys()
        for k, (crawl_cnt, cnt, s, ss) in want.items():
            g = got[k]
            assert (g[0], g[1]) == (crawl_cnt, cnt), k
            assert g[2] == pytest.approx(s, rel=1e-9) and g[3] == pytest.approx(ss, rel=1e-9), k

    CP.upsert_tiers_increment(spark, _increment(inc_a), store)

    real = CP.write_partitioned
    failed = []

    def fail_1h_once(df, path, tier, *args, **kwargs):
        if tier == "1h" and not failed:
            failed.append(df)
            assert df.storageLevel == StorageLevel.MEMORY_AND_DISK
            raise RuntimeError("injected 1h write failure")
        return real(df, path, tier, *args, **kwargs)

    monkeypatch.setattr(CP, "write_partitioned", fail_1h_once)
    with pytest.raises(RuntimeError, match="injected 1h write failure"):
        CP.upsert_tiers_increment(spark, _increment(inc_b), store)
    assert failed[0].storageLevel == StorageLevel.NONE

    # the failure point is deterministic: 1m holds both increments, 1h/1d
    # still hold only the first
    stored, both, first = _stored(), _want(inc_a + inc_b), _want(inc_a)
    _assert_equal({k: v for k, v in stored.items() if k[0] == "1m"},
                  {k: v for k, v in both.items() if k[0] == "1m"})
    _assert_equal({k: v for k, v in stored.items() if k[0] != "1m"},
                  {k: v for k, v in first.items() if k[0] != "1m"})

    CP.upsert_tiers_increment(spark, _increment(inc_b), store)
    _assert_equal(_stored(), both)
