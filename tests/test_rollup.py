"""Rollup pipeline tests: salted == unsalted (exactness under skew),
cascade == direct rollup, one tier-row schema for every rollup, retention,
checkpoint resume idempotence, text byte-identity, pipeline end-to-end
metrics."""

import datetime as dt

import pytest
from pyspark.sql import functions as F

from symtseries_spark import checkpoint as CP
from symtseries_spark.datagen import gen_crawl
from symtseries_spark.operators.rollup import (
    apply_retention,
    rollup_all_tiers,
    rollup_cascade,
    rollup_raw,
)
from symtseries_spark.operators.skew import salted_rollup
from symtseries_spark.pipeline import run_pipeline
from symtseries_spark.config import DEFAULT_RETENTION


@pytest.fixture(scope="module")
def crawl(spark):
    return gen_crawl(spark, n_urls=60, revisits=180).cache()


def _canon(df):
    return {
        (r.key, r.bucket_ts): (r.crawl_cnt, r.cnt, round(r.sum, 6), round(r.sumsq, 3))
        for r in df.collect()
    }


def test_salted_equals_unsalted(spark, crawl):
    """Every key salted on the skewed gen_crawl (hot urls on host0)."""
    counts = [r["count"] for r in crawl.groupBy("url").count().collect()]
    assert max(counts) > 0.02 * sum(counts), "datagen should produce hot urls"
    plain = rollup_raw(crawl, "url", "warc_ts", F.length("text"), "1m")
    salted = salted_rollup(crawl, "url", "warc_ts", F.length("text"), "1m")
    assert _canon(plain) == _canon(salted)


def test_cascade_equals_direct_rollup_law(spark):
    """The 1m → 1h → 1d cascade equals the direct rollup at 1h and 1d on
    all 9 tier-row columns, exactly. Values are multiples of 1/4 or null,
    so every double sum is exact in any order; ``text_len_sum`` must
    truncate the merged sum, not sum the finer tier's truncated sums."""
    from hypothesis import Phase, example, given, seed, settings, strategies as st

    base = dt.datetime(2024, 1, 1)
    row = st.tuples(
        st.sampled_from("ab"),
        # seconds into four hours over two dates, so buckets share hours
        st.tuples(
            st.sampled_from([0, 1, 23, 24]), st.integers(min_value=0, max_value=3599)
        ).map(lambda hs: hs[0] * 3600 + hs[1]),
        st.one_of(
            st.none(), st.integers(min_value=-400, max_value=400).map(lambda k: k / 4)
        ),
    )

    def by_bucket(df):
        return {(r.key, r.bucket_ts): tuple(r) for r in df.collect()}

    @seed(1)
    @settings(
        max_examples=10,
        deadline=None,
        database=None,
        phases=(Phase.explicit, Phase.generate),  # no shrinking: examples run Spark jobs
    )
    @given(st.lists(row, min_size=10, max_size=300))
    # two 1m buckets of 0.5: each truncates to 0, their 1h bucket to 1
    @example([("a", 0, 0.5), ("a", 60, 0.5)])
    def check(spec):
        df = spark.createDataFrame(
            [(k, base + dt.timedelta(seconds=s), v) for k, s, v in spec],
            "key string, ts timestamp, value double",
        )
        cascaded = rollup_all_tiers(df, "key", "ts", F.col("value"))
        for tier in ("1h", "1d"):
            direct = rollup_raw(df, "key", "ts", F.col("value"), tier)
            assert by_bucket(cascaded[tier]) == by_bucket(direct), tier

    check()


def test_every_rollup_emits_one_tier_row_schema(spark, tmp_path):
    """rollup_raw, salted_rollup (with and without cluster_by_key),
    rollup_cascade and streaming_rollup return the same column names and
    types: the tier row of operators.rollup.tier_rows."""
    from symtseries_spark.streaming.ingest import streaming_rollup

    df = spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1, 0, 0, 5), 1.0)],
        "key string, ts timestamp, value double",
    )
    src = str(tmp_path / "src")
    df.write.parquet(src)
    stream = spark.readStream.schema(df.schema).parquet(src)
    v = F.col("value")
    t1m = rollup_raw(df, "key", "ts", v)
    outs = {
        "rollup_raw": t1m,
        "salted_rollup": salted_rollup(df, "key", "ts", v),
        "salted_rollup(cluster_by_key)": salted_rollup(df, "key", "ts", v, cluster_by_key=True),
        "rollup_cascade": rollup_cascade(t1m, "1h"),
        "streaming_rollup": streaming_rollup(stream, "key", "ts", v),
    }
    schemas = {
        name: [(f.name, f.dataType.simpleString()) for f in out.schema.fields]
        for name, out in outs.items()
    }
    assert schemas["rollup_raw"] == [
        ("key", "string"), ("tier", "string"), ("bucket_ts", "timestamp"),
        ("crawl_cnt", "bigint"), ("text_len_sum", "bigint"),
        ("text_len_avg", "double"), ("cnt", "bigint"), ("sum", "double"),
        ("sumsq", "double"),
    ]
    assert {n: s for n, s in schemas.items() if s != schemas["rollup_raw"]} == {}


def test_retention(spark, crawl):
    t1m = rollup_raw(crawl, "url", "warc_ts", F.length("text"), "1m")
    now = dt.datetime(2024, 1, 2)
    kept = apply_retention(t1m, "1m", now, DEFAULT_RETENTION)
    assert kept.count() == t1m.count()  # 3h of data, 7d horizon → all kept
    tight = apply_retention(t1m, "1m", now, {"1m": 1})
    assert tight.count() == 0


def test_text_byte_identity(spark, crawl):
    """Engine never transforms text: joining pipeline input back to the
    source on (url, warc_ts) finds identical bytes for every row."""
    src = crawl.select("url", "warc_ts", F.sha2("text", 256).alias("h1"))
    again = crawl.select("url", "warc_ts", F.sha2("text", 256).alias("h2"))
    diff = src.join(again, ["url", "warc_ts"]).filter("h1 <> h2").count()
    assert diff == 0


def test_pipeline_end_to_end(spark, crawl, tmp_path):
    out = str(tmp_path / "out")
    cp = str(tmp_path / "cp")
    m = run_pipeline(spark, crawl, out_dir=out, checkpoint_path=cp, run_id="r1")
    assert m["points_1m"] > m["points_1h"] > 0
    assert m["points_1d"] >= 1
    assert m["words"] > 0 and m["chunks"] > 0
    assert m["points_per_sec"] > 0

    rollup = spark.read.parquet(f"{out}/rollup")
    assert set(r.tier for r in rollup.select("tier").distinct().collect()) == {
        "1m", "1h", "1d"
    }
    # checkpoint written with a watermark
    wm = CP.latest_watermarks(CP.read_checkpoints(spark, cp)).collect()
    assert len(wm) == 1 and wm[0].high_watermark_ts is not None

    # resume: the rerun reads the watermark's whole date again (the date
    # partition is the unit of overwrite) and nothing before it
    src = crawl.select("url", "warc_ts", F.length("text").alias("text_len"))
    filt = CP.filter_new_input(
        src, "warc_ts", CP.latest_watermarks(CP.read_checkpoints(spark, cp)), "1m"
    )
    last_day = crawl.agg(F.max(F.to_date("warc_ts"))).first()[0]
    assert 0 < filt.count() == crawl.filter(F.to_date("warc_ts") == last_day).count()


def _stored(spark, out):
    """Every tier row, word and decoded chunk point of a pipeline store."""
    from symtseries_spark.operators.codecs import decode_chunks

    tiers = spark.read.parquet(f"{out}/rollup")
    words = spark.read.parquet(f"{out}/index").select(
        "key", "window_ts", "word", "n", "frame_full"
    )
    points = decode_chunks(spark.read.parquet(f"{out}/chunks"))
    return [sorted(map(tuple, df.collect())) for df in (tiers, words, points)]


def _resume_equals_one_run(spark, tmp_path, crawl, cut_s, between=lambda: None):
    """Run the pipeline over the rows before epoch second ``cut_s`` into
    ``tmp_path/resumed``, call ``between()``, resume over all rows into
    the same store, then run once over all rows into a fresh store.
    Asserts both stores hold the same tier rows, words and decoded chunk
    points; returns the (resumed, once) metrics."""
    out, once, cp = (str(tmp_path / d) for d in ("resumed", "once", "cp"))
    first = crawl.filter(F.col("warc_ts") < F.timestamp_seconds(F.lit(cut_s)))
    run_pipeline(spark, first, out_dir=out, checkpoint_path=cp)
    between()
    m = run_pipeline(spark, crawl, out_dir=out, checkpoint_path=cp)
    want = run_pipeline(spark, crawl, out_dir=once)
    for name, g, e in zip(("tiers", "words", "points"), _stored(spark, out),
                          _stored(spark, once)):
        assert g == e, name
    return m, want


def _crawl_every_2_min(spark, start_s, hours):
    """5 urls, one row every 2 min for ``hours`` from epoch second ``start_s``."""
    rows = [
        (f"http://h{u}.test/p", 120 * i, "x" * ((7 * i + 3 * u) % 50 + 1))
        for u in range(5)
        for i in range(30 * hours)
    ]
    return spark.createDataFrame(rows, "url string, sec int, text string").select(
        "url", F.timestamp_seconds(F.lit(start_s) + F.col("sec")).alias("warc_ts"), "text"
    )


def test_pipeline_resume_equals_one_run(spark, tmp_path):
    """A checkpointed rerun over a grown input stores what one run over
    all rows stores: every tier row, every word and every decoded chunk
    point. The input spans two dates and the first run stops inside the
    later one, so the rerun must rebuild that date's partitions whole, and
    it leaves every file of the earlier date in the tiers, the index and
    the chunks as the first run wrote it."""
    import glob
    import os

    out = str(tmp_path / "resumed")

    def first_date():
        pattern = f"{out}/*/tier=*/bucket_date=2024-01-01/*.parquet"
        return {p: os.path.getmtime(p) for p in glob.glob(pattern)}

    before = {}
    crawl = _crawl_every_2_min(spark, 1704139200, 10)  # from 2024-01-01 20:00 UTC
    m, want = _resume_equals_one_run(
        spark, tmp_path, crawl, 1704160800, lambda: before.update(first_date())
    )
    assert (m["points_1m"], m["words"]) == (want["points_1m"], want["words"]) == (1500, 50)
    assert {os.path.relpath(os.path.dirname(p), out) for p in before} == {
        f"{store}/tier={tier}/bucket_date=2024-01-01"
        for store, tier in [("rollup", "1m"), ("rollup", "1h"), ("rollup", "1d"),
                            ("index", "1h"), ("chunks", "1m")]
    }
    assert first_date() == before


def test_pipeline_resume_equals_one_run_in_a_non_utc_session(spark, tmp_path):
    """Stores are partitioned by UTC date whatever the session time zone:
    under America/New_York a resume cut at 10:00 UTC, inside a UTC date
    whose 1d bucket and chunks start on the previous local date, still
    stores what one run stores."""
    key = "spark.sql.session.timeZone"
    old = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        crawl = _crawl_every_2_min(spark, 1704067200, 36)  # from 2024-01-01 00:00 UTC
        m, want = _resume_equals_one_run(
            spark, tmp_path, crawl, 1704067200 + 34 * 3600  # 2024-01-02 10:00 UTC
        )
        counts = ("points_1m", "points_1d", "chunks")
        assert [m[c] for c in counts] == [want[c] for c in counts] == [5400, 10, 10]
    finally:
        spark.conf.set(key, old)


def test_checkpoint_rows_count_raw_rows_in_and_1m_rows_out(spark, tmp_path):
    """Each checkpoint row of a two-run resume records the raw rows that
    run rolled up (rows_in) and the 1m rows it wrote (rows_out). Rows come
    every 40 s, so some minutes hold two raw rows and the counts differ.
    The second run re-reads the watermark's whole date."""
    start = dt.datetime(2024, 1, 1, 22, 0)
    rows = [
        (f"http://h{u}.test/p", start + dt.timedelta(seconds=40 * i), "x" * (i % 9 + 1))
        for u in range(3)
        for i in range(360)  # 4 h from 22:00, across two dates
    ]
    crawl = spark.createDataFrame(rows, "url string, warc_ts timestamp, text string")
    cut = dt.datetime(2024, 1, 2, 1, 0)

    def counts(since, until):
        kept = [(u, ts) for u, ts, _ in rows if since <= ts < until]
        return len(kept), len({(u, ts.replace(second=0)) for u, ts in kept})

    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    run_pipeline(spark, crawl.filter(F.col("warc_ts") < cut), out_dir=out,
                 checkpoint_path=cp, run_id="r1")
    run_pipeline(spark, crawl, out_dir=out, checkpoint_path=cp, run_id="r2")
    got = {r.run_id: (r.rows_in, r.rows_out)
           for r in CP.read_checkpoints(spark, cp).collect()}
    end = dt.datetime(2024, 1, 3)
    want = {"r1": counts(start, cut), "r2": counts(dt.datetime(2024, 1, 2), end)}
    assert want == {"r1": (810, 540), "r2": (540, 360)}
    assert got == want


def test_pipeline_tiers_equal_rollup_all_tiers(spark, crawl, tmp_path):
    """run_pipeline's stored 1m, 1h and 1d rows equal rollup_all_tiers on
    the same skewed crawl (a hot host holds ~30% of the rows, hot urls ~5×
    the rows of the rest): counts exactly, sum and sumsq within 1e-9
    relative."""
    out = str(tmp_path / "out_coarse")
    run_pipeline(spark, crawl, out_dir=out)
    stored = spark.read.parquet(f"{out}/rollup")
    want = rollup_all_tiers(crawl, "url", "warc_ts", F.length("text"))
    for tier in ("1m", "1h", "1d"):
        got = {
            (r.key, r.bucket_ts): r
            for r in stored.filter(F.col("tier") == tier).collect()
        }
        exp = {(r.key, r.bucket_ts): r for r in want[tier].collect()}
        assert exp and got.keys() == exp.keys(), tier
        for k, e in exp.items():
            g = got[k]
            assert (g.crawl_cnt, g.cnt) == (e.crawl_cnt, e.cnt), (tier, k)
            assert g.sum == pytest.approx(e.sum, rel=1e-9), (tier, k)
            assert g.sumsq == pytest.approx(e.sumsq, rel=1e-9), (tier, k)


def test_pipeline_rerun_idempotent(spark, crawl, tmp_path):
    out = str(tmp_path / "out2")
    m1 = run_pipeline(spark, crawl, out_dir=out)
    first = _canon(
        spark.read.parquet(f"{out}/rollup").filter("tier='1m'")
        .select("key", "bucket_ts", "crawl_cnt", "cnt", "sum", "sumsq")
    )
    m2 = run_pipeline(spark, crawl, out_dir=out)  # overwrite same partitions
    second = _canon(
        spark.read.parquet(f"{out}/rollup").filter("tier='1m'")
        .select("key", "bucket_ts", "crawl_cnt", "cnt", "sum", "sumsq")
    )
    assert first == second
    assert m1["points_1m"] == m2["points_1m"]


def test_pipeline_chunks_decode_to_tier_and_index_is_complete(spark, crawl, tmp_path):
    """Chunks written over the cached 1m tier (no exchange, no sort: Spark
    reuses the tier's layout) decode to exactly the stored 1m tier, and
    the index holds one word per (key, hour) — catches any lost order."""
    from pyspark.sql import functions as F2

    from symtseries_spark.operators.codecs import decode_chunks

    out = str(tmp_path / "out3")
    run_pipeline(spark, crawl, out_dir=out)
    tier = spark.read.parquet(f"{out}/rollup").filter("tier='1m'")
    chunks = spark.read.parquet(f"{out}/chunks")
    decoded = decode_chunks(chunks)
    want = {
        (r.key, r.bucket_ts): r.text_len_avg
        for r in tier.select("key", "bucket_ts", "text_len_avg").collect()
    }
    got = {(r.key, r.bucket_ts): r.value for r in decoded.collect()}
    assert got == want

    idx = spark.read.parquet(f"{out}/index")
    n_windows = tier.select(
        "key", F2.date_trunc("hour", "bucket_ts").alias("h")
    ).distinct().count()
    assert idx.count() == n_windows
    assert idx.select("key", "window_ts").distinct().count() == n_windows


def test_bucket_epoch_matches_window_semantics(spark):
    """bucket_epoch (the allocation-free long group key) must equal
    F.window(ts, interval).start for every tier on adversarial timestamps:
    exact boundaries, one-microsecond offsets either side, leap-day,
    year-end, and a pre-2000 value."""
    from symtseries_spark.operators.rollup import bucket_epoch
    from symtseries_spark.config import TIER_INTERVAL

    stamps = [
        "1999-12-31 23:59:59.999999",
        "2000-01-01 00:00:00",
        "2024-02-29 13:37:42.5",
        "2024-12-31 23:59:59.999999",
        "2025-01-01 00:00:00.000001",
        "2025-06-15 11:59:59.999999",
        "2025-06-15 12:00:00",
        "2025-06-15 12:00:00.000001",
        "2025-06-15 12:59:59.999999",
        "2025-06-15 23:59:59.999999",
    ]
    df = spark.createDataFrame([(s,) for s in stamps], "ts string").select(
        F.to_timestamp("ts").alias("ts")
    )
    for tier in ("1m", "1h", "1d"):
        rows = df.select(
            F.timestamp_seconds(bucket_epoch("ts", tier)).alias("mine"),
            F.window("ts", TIER_INTERVAL[tier]).start.alias("theirs"),
        ).collect()
        for r in rows:
            assert r.mine == r.theirs, (tier, r)
