"""Spark-path parity: the Arrow symbolization pass and the mindist UDF
reproduce the kernel (and so the reference fixtures) bit-for-bit, and the
rollup/gap-fill/assembly operators behave per spec on small synthetic data."""

import datetime as dt
import math

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from symtseries_spark import kernel as K
from symtseries_spark.datagen import gen_crawl
from symtseries_spark.operators.gapfill import gapfill
from symtseries_spark.operators.rollup import (
    rollup_all_tiers,
    rollup_raw,
    with_stddev,
)
from symtseries_spark.operators.symbolize import mindist_udf, symbolize_windows

NAN = float("nan")
INF = float("inf")


def test_sax_udf_random_parity_with_kernel(spark):
    """symbolize_windows on random 1m values with about 5% of minutes
    missing: each window's series holds its minutes' values (NaN where a
    minute is missing), and its word is the kernel's word of that series."""
    rng = np.random.RandomState(5)
    n, w, c = 60, 12, 8
    base = dt.datetime(2024, 1, 1)
    rows, expect = [], {}
    for k in range(40):
        for h in range(5):
            wts = base + dt.timedelta(hours=h)
            s = rng.normal(size=n)
            s[rng.uniform(size=n) < 0.05] = np.nan
            expect[(f"k{k}", wts)] = s
            rows += [
                (f"k{k}", wts + dt.timedelta(minutes=m), float(v))
                for m, v in enumerate(s)
                if not np.isnan(v)
            ]
    t1m = spark.createDataFrame(rows, "key string, bucket_ts timestamp, text_len_avg double")
    got = symbolize_windows(t1m, "1m", "1h", w=w, c=c).collect()
    assert {(r.key, r.window_ts) for r in got} == set(expect)
    for r in got:
        series = np.array(r.series)
        np.testing.assert_array_equal(series, expect[(r.key, r.window_ts)])
        assert r.word == K.symbols_to_string(K.symbolize(series, w, c), c)


def test_mindist_udf_golden(spark):
    df = spark.createDataFrame([Row(word="DBAA")])
    res = df.select(mindist_udf("ABDD", 4)("word").alias("m")).first().m
    assert res.d == pytest.approx(2.336536, abs=1e-5)
    assert res.above == pytest.approx(1.907774, abs=1e-5)
    assert res.below == pytest.approx(1.349000, abs=1e-5)


def _toy_rows():
    base = dt.datetime(2024, 1, 1)
    rows = []
    for k in ("a", "b"):
        for m in range(0, 10):
            if k == "a" and m in (3, 4):
                continue  # gap
            rows.append(
                Row(
                    key=k,
                    ts=base + dt.timedelta(minutes=m, seconds=30),
                    text="x" * (10 + m + (0 if k == "a" else 100)),
                )
            )
    return rows


def test_rollup_and_cascade(spark):
    df = spark.createDataFrame(_toy_rows())
    tiers = rollup_all_tiers(df, "key", "ts", F.length("text"))
    t1m = tiers["1m"].orderBy("key", "bucket_ts").collect()
    assert len(t1m) == 8 + 10
    a0 = [r for r in t1m if r.key == "a"][0]
    assert a0.crawl_cnt == 1 and a0.text_len_sum == 10 and a0.cnt == 1
    t1h = tiers["1h"].collect()
    assert len(t1h) == 2
    a_h = [r for r in t1h if r.key == "a"][0]
    assert a_h.crawl_cnt == 8
    assert a_h.text_len_sum == sum(10 + m for m in range(10) if m not in (3, 4))
    assert a_h.text_len_avg == pytest.approx(a_h.text_len_sum / 8)
    # std from partials == population std of the raw values
    vals = np.array([10 + m for m in range(10) if m not in (3, 4)], dtype=float)
    std = with_stddev(tiers["1h"]).filter(F.col("key") == "a").first().value_std
    assert std == pytest.approx(vals.std(ddof=0), rel=1e-12)
    t1d = tiers["1d"].collect()
    assert len(t1d) == 2 and {r.tier for r in t1d} == {"1d"}


def test_gapfill_locf_linear(spark):
    df = spark.createDataFrame(_toy_rows())
    t1m = rollup_raw(df, "key", "ts", F.length("text"), "1m")
    gf = gapfill(t1m, "1m", value_col="text_len_avg").filter(F.col("key") == "a")
    rows = {r.bucket_ts.minute: r for r in gf.collect()}
    assert len(rows) == 10  # dense spine over minutes 0..9
    assert rows[3].is_gap and rows[4].is_gap
    assert rows[3].value_locf == 12.0 and rows[4].value_locf == 12.0  # last seen (m=2)
    # linear between v(2)=12 and v(5)=15 → 13, 14
    assert rows[3].value_linear == pytest.approx(13.0)
    assert rows[4].value_linear == pytest.approx(14.0)
    assert not rows[5].is_gap and rows[5].value_linear == 15.0


def test_symbolize_windows_end_to_end(spark):
    df = spark.createDataFrame(_toy_rows())
    t1m = rollup_raw(df, "key", "ts", F.length("text"), "1m")
    out = symbolize_windows(t1m, "1m", "1h", w=12, c=8)
    rows = {r.key: r for r in out.collect()}
    assert set(rows) == {"a", "b"}
    for r in rows.values():
        assert len(r.word) == 12 and r.n == 60 and r.c == 8
        # trailing 50 minutes are all-NaN → '#' frames at the tail
        assert r.word.endswith("#" * 10)
        # and the word matches the kernel run on the same series
        assert r.word == str(
            K.Word(K.symbolize(np.array(r.series), 12, 8), 60, 8)
        )
    # missing minutes surface as NaN in the assembled series
    s = rows["a"].series
    assert len(s) == 60
    assert s[0] == 10.0 and s[2] == 12.0
    assert math.isnan(s[3]) and math.isnan(s[4])
    assert all(math.isnan(x) for x in s[10:])


def test_datagen_deterministic_and_text_identity(spark):
    a = gen_crawl(spark, n_urls=20, revisits=30)
    b = gen_crawl(spark, n_urls=20, revisits=30, partitions=3)
    assert a.count() == b.count()
    # identical content regardless of parallelism
    ha = a.select(F.sha2(F.concat_ws("|", "url", "text", "lang"), 256).alias("h"))
    hb = b.select(F.sha2(F.concat_ws("|", "url", "text", "lang"), 256).alias("h"))
    assert (
        ha.agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long"))).first()[0]
        == hb.agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("long"))).first()[0]
    )
    # text is a pure function of (url, warc_ts): one distinct text per pair
    dup = (
        a.groupBy("url", "warc_ts")
        .agg(F.countDistinct("text").alias("nd"))
        .filter(F.col("nd") > 1)
        .count()
    )
    assert dup == 0
    # hot host holds ~30% of rows
    hot = a.filter(F.col("url").startswith("https://host0.")).count() / a.count()
    assert 0.2 < hot < 0.4
