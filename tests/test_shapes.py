"""decode, gapfill and m4 plan two shapes, chosen by ``plans.fits_one_task``:
one task with no exchange for a small input, the parallel plan otherwise.
Both shapes must return the same rows. Also pinned here: the operators'
argument checks, and their quoting of caller column names in SQL text."""

import datetime as dt

import pytest
from pyspark.sql import Row

from symtseries_spark.operators.codecs import decode_chunks, encode_chunks
from symtseries_spark.operators.downsample import m4_downsample
from symtseries_spark.operators.gapfill import gapfill
from symtseries_spark.plans import fits_one_task

BASE = dt.datetime(2024, 1, 1)


@pytest.fixture(scope="module")
def stored(spark, tmp_path_factory):
    """Three small stored tables, each read back from parquet files:
    ``series`` (gapfill input: gaps and null-valued PRESENT buckets),
    ``points`` (m4 input: tied timestamps and tied values) and ``chunks``
    (the chunk table of ``series``' non-null rows)."""
    root = tmp_path_factory.mktemp("shapes")
    series = [
        Row(key=k, bucket_ts=BASE + dt.timedelta(hours=h), v=v)
        for k, hv in {
            "A": [(0, None), (1, 10.0), (4, None), (6, 60.0), (8, None)],
            "B": [(0, None)],
            "C": [(0, 1.0), (3, 4.0), (4, 4.5), (9, -2.0)],
        }.items()
        for h, v in hv
    ]
    points = [
        Row(key=k, ts=BASE + dt.timedelta(seconds=s), value=v, eid=i)
        for i, (k, s, v) in enumerate([
            (1, 10, 5.0), (1, 10, 5.0), (1, 20, 5.0), (1, 30, 1.0),
            (1, 30, 9.0), (1, 4000, 2.0), (2, 10, 3.0), (2, 10, 3.0),
            (2, 7300, 3.0), (2, 7300, -1.0),
        ])
    ]
    sdf = spark.createDataFrame(series, "key string, bucket_ts timestamp, v double")
    sdf.repartition(2).write.parquet(str(root / "series"))
    spark.createDataFrame(points).repartition(2).write.parquet(str(root / "points"))
    rollup = sdf.filter("v IS NOT NULL").selectExpr("*", "'1h' AS tier")
    encode_chunks(rollup, "1h", "v", chunk_points=2).repartition(2).write.parquet(
        str(root / "chunks")
    )
    return {n: spark.read.parquet(str(root / n)) for n in ("series", "points", "chunks")}


def _queries(t) -> dict:
    return {
        "gapfill": lambda: gapfill(t["series"], "1h", value_col="v"),
        "m4": lambda: m4_downsample(t["points"], tiebreak_col="eid", bucket_s=3600),
        "m4_no_tiebreak": lambda: m4_downsample(t["points"], bucket_s=60),
        "decode": lambda: decode_chunks(t["chunks"]),
    }


def _rows(df) -> list:
    return sorted((tuple(r) for r in df.collect()), key=repr)


def test_small_and_parallel_shapes_agree(stored, parallel_shape):
    """Each operator returns identical rows whether its input fits one task
    (coalesced, no exchange) or not (the parallel plan)."""
    assert all(fits_one_task(df) for df in stored.values())
    small = {name: _rows(build()) for name, build in _queries(stored).items()}
    with parallel_shape():
        assert not any(fits_one_task(df) for df in stored.values())
        parallel = {name: _rows(build()) for name, build in _queries(stored).items()}
    assert small == parallel
    # the fixtures reach the corner cases: null-valued present buckets
    # (gaps with a value column) and M4 buckets with tied points
    assert any(r[1] == BASE and r[2] is None for r in small["gapfill"])
    assert any(r[2] > 1 for r in small["m4"])


def _frame(spark):
    return spark.createDataFrame(
        [Row(key="a", ts=BASE, bucket_ts=BASE, value=1.0, text_len_avg=1.0)]
    )


@pytest.mark.parametrize(
    "call, match",
    [
        (lambda df: m4_downsample(df, bucket_s=0), r"bucket_s must be a positive int, got 0$"),
        (lambda df: m4_downsample(df, bucket_s=-60), r"positive int, got -60$"),
        (lambda df: m4_downsample(df, bucket_s=1.5), r"positive int, got 1\.5$"),
        (lambda df: gapfill(df, "5m"), r"unknown tier '5m'; valid tiers: \['1m', '1h', '1d'\]"),
        (
            lambda df: gapfill(df, "1h", methods=("lcof",)),
            r"unknown methods \['lcof'\]; valid methods: \['locf', 'linear'\]",
        ),
    ],
    ids=[
        "m4-bucket-zero", "m4-bucket-negative", "m4-bucket-float",
        "gapfill-tier", "gapfill-method",
    ],
)
def test_operators_reject_bad_arguments(spark, call, match):
    """A bad argument raises ValueError naming it and the valid values when
    the plan is built, before Spark runs anything."""
    with pytest.raises(ValueError, match=match):
        call(_frame(spark))


@pytest.mark.parametrize("name", ["my value", "we`ird"])
def test_operators_quote_caller_column_names(stored, name):
    """Column names with a space or a backtick reach the SQL text quoted:
    gapfill and m4 return the same rows as on plain names."""
    series = stored["series"].withColumnRenamed("v", name)
    assert _rows(gapfill(series, "1h", value_col=name)) == _rows(
        gapfill(stored["series"], "1h", value_col="v")
    )
    cols = {c: f"{name} {c}" for c in ("key", "ts", "value", "eid")}
    points = stored["points"]
    for old, new in cols.items():
        points = points.withColumnRenamed(old, new)
    got = m4_downsample(points, cols["key"], cols["ts"], cols["value"], cols["eid"], 3600)
    want = m4_downsample(stored["points"], tiebreak_col="eid", bucket_s=3600)
    assert _rows(got) == _rows(want)
