"""Round-4 regression tests: ADVICE fixes (as-of NULL keys, connected-
components endpoint coverage, mixed-width pair mindist, checkpoint
exception narrowing)."""

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
# pair mindist: mixed-width words are incomparable (sts_mindist_ab width rule)
# ---------------------------------------------------------------------------


def test_pair_sums_mixed_width_pairs_add_nothing(spark):
    """Words of different widths are incomparable (reference
    sts_mindist_ab, symtseries.c:582-586): in pair_sums_by_key such a pair
    adds nothing to either word's sum, whichever side is wider."""
    from symtseries_spark.operators.symbolize import pair_sums_by_key

    c = 4
    hist = spark.createDataFrame(
        [(1, "ABCD", 8, 1), (1, "DCBA", 8, 2), (1, "ABC", 8, 5),
         (1, "AB", 8, 1), (1, "CD", 8, 3)],
        "key int, word string, n int, m int",
    )
    got = {r["word"]: r["sum_d"] for r in pair_sums_by_key(hist, c).collect()}

    def d(wa, wb):
        A = K.string_to_symbols_batch(np.array([wa]), c)
        B = K.string_to_symbols_batch(np.array([wb]), c)
        return K.mindist_pairs(A, B, c, 8, 8)[0][0]

    assert d("ABCD", "DCBA") > 0 and d("AB", "CD") > 0
    want = {
        "ABCD": d("ABCD", "ABCD") + 2 * d("ABCD", "DCBA"),
        "DCBA": d("DCBA", "ABCD") + 2 * d("DCBA", "DCBA"),
        "ABC": 5 * d("ABC", "ABC"),
        "AB": d("AB", "AB") + 3 * d("AB", "CD"),
        "CD": d("CD", "AB") + 3 * d("CD", "CD"),
    }
    assert got == pytest.approx(want, rel=1e-12)


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
