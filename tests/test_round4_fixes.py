"""Round-4 regression tests: ADVICE fixes (as-of NULL keys, connected-
components endpoint coverage, mixed-width pair mindist, checkpoint
exception narrowing) and VERDICT items (bounded centroid sample)."""

import datetime as dt

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from symtseries_spark import kernel as K


def _ts(s):
    return dt.datetime(2024, 1, 1, 0, 0, s)


# ---------------------------------------------------------------------------
# asof_join: NULL keys match nothing (equality-join semantics)
# ---------------------------------------------------------------------------


def test_asof_null_keys_unmatched(spark):
    from symtseries_spark.operators.joins import asof_join

    probe = spark.createDataFrame(
        [Row(key=None, ts=_ts(10), pid=1), Row(key=1, ts=_ts(10), pid=2)],
        "key int, ts timestamp, pid int",
    )
    build = spark.createDataFrame(
        [Row(key=None, ts=_ts(5), v=111.0), Row(key=1, ts=_ts(5), v=222.0)],
        "key int, ts timestamp, v double",
    )
    out = {
        r["pid"]: r["asof_v"]
        for r in asof_join(probe, build, on="key", build_cols=("v",)).collect()
    }
    # NULL-key probe must NOT pick up the NULL-key build row
    assert out == {1: None, 2: 222.0}


# ---------------------------------------------------------------------------
# connected_components: edge endpoints absent from `nodes`
# ---------------------------------------------------------------------------


def test_connected_components_endpoints_outside_nodes(spark):
    from symtseries_spark.operators.dedup import connected_components

    # node 1 appears only as an edge endpoint: it must still propagate its
    # id as the component min label AND bridge 5<->6, but not appear in
    # the output (output row set == nodes).
    edges = spark.createDataFrame([Row(id_a=5, id_b=1), Row(id_a=1, id_b=6)])
    nodes = spark.createDataFrame([Row(id=5), Row(id=6), Row(id=9)])
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(edges, nodes).collect()
    }
    assert got == {5: 1, 6: 1, 9: 9}


# ---------------------------------------------------------------------------
# mindist_pair_udf: mixed-width words → NaN (sts_mindist_ab width rule)
# ---------------------------------------------------------------------------


def test_mindist_pair_udf_mixed_width_nan(spark):
    from symtseries_spark.operators.symbolize import mindist_pair_udf

    c = 4
    rows = [
        Row(i=0, wa="ABCD", wb="DCBA", na=8, nb=8),   # equal width 4
        Row(i=1, wa="ABCD", wb="ABC", na=8, nb=8),    # width mismatch → NaN
        Row(i=2, wa="AB", wb="CD", na=8, nb=8),       # equal width 2
        Row(i=3, wa="ABC", wb="ABCD", na=8, nb=8),    # mismatch (other way)
    ]
    df = spark.createDataFrame(rows).repartition(1)
    got = {
        r["i"]: r["d"]
        for r in df.withColumn(
            "d", mindist_pair_udf(c)("wa", "wb", "na", "nb")
        ).collect()
    }
    # NaN may surface as null after the Arrow transfer — both mean
    # "incomparable", same as the Lua surface's NaN→nil mapping
    assert got[1] is None or np.isnan(got[1])
    assert got[3] is None or np.isnan(got[3])
    for i, wa, wb in ((0, "ABCD", "DCBA"), (2, "AB", "CD")):
        A = K.string_to_symbols_batch(np.array([wa]), c)
        B = K.string_to_symbols_batch(np.array([wb]), c)
        want = K.mindist_pairs(A, B, c, np.array([8]), np.array([8]))[0]
        assert got[i] == pytest.approx(want, rel=1e-12)


# ---------------------------------------------------------------------------
# train_centroids: driver sample hard-capped by row count
# ---------------------------------------------------------------------------


def test_train_centroids_sample_capped(spark):
    import symtseries_spark.operators.similarity as S

    rng = np.random.RandomState(3)
    X = rng.normal(size=(50, 8))
    df = spark.createDataFrame(
        [(row.tolist(),) for row in X], "embedding array<double>"
    ).coalesce(1)
    # uncapped path (cap >> corpus) == direct np training on the corpus
    full = S.train_centroids(df, n_centroids=4, sample=1.0, max_rows=10**6)
    want = S.train_centroids_np(X, n_centroids=4)
    np.testing.assert_allclose(full, want, rtol=1e-12)
    # capped path: the fraction is SHRUNK toward the cap (uniform sample,
    # not a first-partition limit); deterministic for a fixed seed, valid
    # shape, and never identical to training on the whole corpus
    capped = S.train_centroids(df, n_centroids=4, sample=1.0, max_rows=7)
    capped2 = S.train_centroids(df, n_centroids=4, sample=1.0, max_rows=7)
    np.testing.assert_allclose(capped, capped2, rtol=0)
    assert capped.shape == (4, 8)
    assert not np.allclose(capped, want)


# ---------------------------------------------------------------------------
# tier upsert: only a missing store path means "first write"; schema drift raises
# ---------------------------------------------------------------------------


def _updates(spark):
    """One full 1m tier row."""
    from symtseries_spark.operators.rollup import rollup_raw

    raw = spark.createDataFrame(
        [Row(key="k1", ts=dt.datetime(2024, 1, 1, 0, 0, 5), value=1.0)]
    )
    return rollup_raw(raw, "key", "ts", F.col("value"), "1m")


def test_upsert_tier_first_write_then_schema_drift(spark, tmp_path):
    from pyspark.errors import AnalysisException

    from symtseries_spark.checkpoint import upsert_tiers_increment

    store = str(tmp_path / "tier_store")
    # missing store → first write of every tier succeeds
    upsert_tiers_increment(spark, _updates(spark), store)
    got = spark.read.parquet(store)
    assert {(r.tier, r.bucket_date, r.cnt) for r in got.collect()} == {
        (tier, dt.date(2024, 1, 1), 1) for tier in ("1m", "1h", "1d")
    }

    # a store whose schema lacks the contract columns must RAISE, not be
    # silently treated as first-write (that would drop surviving rows)
    drifted = str(tmp_path / "drifted_store")
    spark.createDataFrame([Row(x=1)]).write.parquet(drifted)
    with pytest.raises(AnalysisException):
        upsert_tiers_increment(spark, _updates(spark), drifted)
