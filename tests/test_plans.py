"""Plan-property regression tests: the physical plans the engine depends on
at scale must not silently regress (docs/PLANS.md is the audit record)."""

import datetime as dt
import re
import threading

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import __spark_entry__ as E
from symtseries_spark import kernel as K
from symtseries_spark import plans
from symtseries_spark.operators.codecs import decode_chunks, encode_chunks
from symtseries_spark.operators.downsample import m4_downsample
from symtseries_spark.operators.gapfill import gapfill
from symtseries_spark.plans import assert_plan, fits_one_task


def test_rollup_plan_properties(spark, sf_dir):
    plan = assert_plan(
        E.q_rollup_1m(spark, sf_dir),
        contains=("HashAggregate", "partial_"),
    )
    # column pruning: scan must read only the three needed columns
    assert "ReadSchema: struct<ts:timestamp" in plan
    assert "props" not in plan and "event_type" not in plan


def test_join_is_broadcast(spark, sf_dir):
    assert_plan(
        E.q_nation_revenue(spark, sf_dir),
        contains=("BroadcastHashJoin",),
        absent=("SortMergeJoin",),
    )


def test_topk_avoids_global_sort(spark, sf_dir):
    assert_plan(
        E.q_mindist_topk_daily(spark, sf_dir),
        contains=("TakeOrderedAndProject",),
    )


def test_retention_filter_pushed(spark, sf_dir):
    plan = assert_plan(E.q_retention_1m(spark, sf_dir), contains=("PushedFilters",))
    assert "IsNotNull(ts)" in plan


def test_base_rollup_costs_one_exchange(spark):
    """The pipeline's 1m tier expression (rollup_raw, then the (key,
    bucket_ts) in-partition sort) plans exactly ONE exchange, on key: the
    aggregate and the sort both reuse its clustering."""
    from symtseries_spark.operators.rollup import rollup_raw

    df = spark.createDataFrame(
        [("a", "2024-01-01 00:00:05", 3.0), ("b", "2024-01-01 00:01:07", 4.0)],
        "url string, ts string, v double",
    ).select("url", F.to_timestamp("ts").alias("ts"), "v")
    out = rollup_raw(df, "url", "ts", F.col("v"), "1m").sortWithinPartitions("key", "bucket_ts")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert re.findall(r"Exchange (\w+)\((\w+)", plan) == [("hashpartitioning", "key")], plan


def test_clustered_rollup_costs_two_exchanges(spark):
    """The skew operator's clustered shape: salted_rollup(cluster_by_key)
    puts the key repartition between its two agg phases, so the executed
    plan holds exactly TWO exchanges (salted partials + key), never a
    third for the final agg."""
    from symtseries_spark.operators.skew import salted_rollup

    df = spark.createDataFrame(
        [("a", "2024-01-01 00:00:05", 3.0), ("b", "2024-01-01 00:01:07", 4.0)],
        "url string, ts string, v double",
    ).select("url", F.to_timestamp("ts").alias("ts"), "v")
    out = salted_rollup(df, "url", "ts", F.col("v"), "1m", cluster_by_key=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 2, plan


def test_asof_join_is_single_window_shuffle(spark):
    """asof_join must stay the union-window shape: a Window over ONE
    key-hash Exchange of the union — never a range join (BroadcastNestedLoop
    / CartesianProduct), whose probe x build blow-up is the scale trap."""
    from symtseries_spark.operators.joins import asof_join

    probe = spark.createDataFrame(
        [(1, "2024-01-01 00:10:00", 5.0)], "key long, ts string, v double"
    ).select("key", F.to_timestamp("ts").alias("ts"), "v")
    build = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 1.0)], "key long, ts string, b double"
    ).select("key", F.to_timestamp("ts").alias("ts"), "b")
    out = asof_join(probe, build, on="key", build_cols=("b",))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Exchange") == 1, plan


def test_m4_downsample_is_partial_agg_no_window(spark, sf_dir, parallel_shape):
    """M4's large-input shape compiles to a partial+final aggregate over
    packed structs. Spark lowers struct min/max to SortAggregate (structs
    aren't mutable hash-buffer types). Round 6 moves the whole aggregate
    POST-shuffle (repartition on the group keys first): pixel buckets hold
    few points, so the map-side partial reduced nothing and only ran a
    serial sort inside the scan tasks. The scale property that matters
    still holds — exactly ONE exchange, carrying rows of the same width as
    the output cardinality — where the row_number window formulation would
    sort the shuffled rows under three different orderings. (The oracle's
    input fits one task, so the parallel shape is forced here.)"""
    with parallel_shape():
        plan = assert_plan(
            E.q_m4_downsample_1h(spark, sf_dir),
            contains=("partial_min", "partial_max"),
            absent=("Window",),
        )
    # exactly one exchange node in the plan tree: the partial->final
    # boundary (formatted plans repeat the node name in the detail block,
    # so count tree entries only)
    assert plan.count("+- Exchange") == 1, plan


def test_histogram_shuffles_output_cardinality(spark, sf_dir):
    """Histogram tier: partial aggregation must happen map-side (shuffle
    carries (bucket, bin) partials, not raw events)."""
    assert_plan(
        E.q_value_histogram_daily(spark, sf_dir),
        contains=("HashAggregate", "partial_"),
        absent=("Window",),
    )


def test_daily_discords_fused_plan(spark, sf_dir):
    """The fused discord plan must stay join-free: one collect_list agg
    exchange + one pinned repartition feed a single Arrow UDF — no pair
    join, no day-count join, no rank window (all fused into the UDF)."""
    plan = assert_plan(
        E.q_sax_discords_daily(spark, sf_dir),
        contains=("ArrowEvalPython",),
        absent=("SortMergeJoin", "BroadcastHashJoin", "Window"),
    )
    # exchanges: collect_list shuffle + explicit key repartition, nothing
    # else (formatted explain mentions each node twice — tree line +
    # detail header — so count the numbered detail headers only)
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan


@pytest.fixture(scope="module")
def stored_words(spark, tmp_path_factory):
    """A stored word table (4 parquet files, 120 random windows) and a
    query series: (words, q, w, c)."""
    n, w, c = 24, 12, 8
    rng = np.random.RandomState(4)
    rows = []
    for i in range(120):
        s = rng.normal(size=n)
        rows.append(
            Row(key=f"k{i}", window_ts=dt.datetime(2024, 1, 1) + dt.timedelta(hours=i),
                word=K.symbols_to_string(K.symbolize(s, w, c), c), w=w, c=c, n=n,
                series=[float(x) for x in s])
        )
    path = str(tmp_path_factory.mktemp("plans") / "words")
    spark.createDataFrame(rows).repartition(4).write.parquet(path)
    return spark.read.parquet(path), rng.normal(size=n), w, c


def _final_plan(df) -> str:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


def _root(plan: str) -> str:
    """The first operator of an executed plan below the AQE wrappers."""
    nodes = [re.sub(r"^[\s+\-:*()\d]*", "", line) for line in plan.splitlines()]
    wrappers = ("AdaptiveSparkPlan", "== ", "ResultQueryStage")
    return next(line for line in nodes if line and not line.startswith(wrappers))


def test_exact_queries_are_one_arrow_pass(stored_words):
    """exact_knn and range_query_exact read the word table in ONE Arrow map
    pass: no broadcast join, no aggregate (distinct), no exchange. kNN ends
    in TakeOrderedAndProject, merging the per-partition top-k rows."""
    from symtseries_spark.operators.index import exact_knn, range_query_exact

    words, q, w, c = stored_words
    for out in (exact_knn(words, q, w, c, k=5), range_query_exact(words, q, w, c, 4.0)):
        plan = _final_plan(out)
        assert len(re.findall(r"\bMapInArrow\b", plan)) == 1, plan
        for node in ("BroadcastHashJoin", "HashAggregate", "Exchange"):
            assert node not in plan, plan
    root = _root(_final_plan(exact_knn(words, q, w, c, k=5)))
    assert root.startswith("TakeOrderedAndProject"), root


def test_approx_queries_are_one_arrow_eval(stored_words):
    """mindist_scan, range_query and knn_query score every (w, c)-compatible
    row of the word table with ONE ArrowEvalPython over one scan: no
    distinct (aggregate), exchange or broadcast join back. kNN ends in
    TakeOrderedAndProject."""
    from symtseries_spark.operators.index import knn_query, mindist_scan, range_query

    words, q, w, c = stored_words
    qword = K.symbols_to_string(K.symbolize(q, w, c), c)
    for out in (
        mindist_scan(words, qword, c, 24),
        range_query(words, qword, c, 6.0, 24),
        knn_query(words, qword, c, 5, 24),
    ):
        plan = _final_plan(out)
        assert len(re.findall(r"\bArrowEvalPython\b", plan)) == 1, plan
        assert plan.count("_mind(word") == 1, plan  # one UDF call per row
        for node in ("BroadcastHashJoin", "HashAggregate", "Exchange"):
            assert node not in plan, plan
    root = _root(_final_plan(knn_query(words, qword, c, 5, 24)))
    assert root.startswith("TakeOrderedAndProject"), root


@pytest.fixture(scope="module")
def small_store(spark, tmp_path_factory):
    """A small stored 1h rollup tier and its chunk table, each read back
    from 4 parquet files: (rollup, chunks)."""
    base = dt.datetime(2024, 1, 1)
    rows = [
        Row(key=f"k{k}", tier="1h", bucket_ts=base + dt.timedelta(hours=h),
            text_len_avg=float(100 * k + h))
        for k in range(4)
        for h in range(0, 48, 1 + k)
    ]
    root = tmp_path_factory.mktemp("small_store")
    rollup = spark.createDataFrame(rows)
    rollup.repartition(4).write.parquet(str(root / "rollup"))
    encode_chunks(rollup, "1h", chunk_points=16).repartition(4).write.parquet(
        str(root / "chunks")
    )
    return spark.read.parquet(str(root / "rollup")), spark.read.parquet(str(root / "chunks"))


def _key_queries(rollup, chunks) -> dict:
    """decode, gapfill and m4 over a key-filtered read, as query_mix runs them."""
    keys = F.col("key").isin("k0", "k2")
    return {
        "decode": decode_chunks(chunks.filter(keys)),
        "gapfill": gapfill(rollup.filter(keys), "1h"),
        "m4": m4_downsample(rollup.filter(keys), ts_col="bucket_ts",
                            value_col="text_len_avg", bucket_s=4 * 3600),
    }


def test_small_queries_run_one_task_without_exchange(small_store):
    """A key-filtered query over a small store fits one task: decode,
    gapfill and m4 plan no exchange and run as one partition."""
    for name, out in _key_queries(*small_store).items():
        plan = _final_plan(out)
        assert "Exchange" not in plan, (name, plan)
        assert out.rdd.getNumPartitions() == 1, name


def test_large_queries_keep_the_parallel_shape(small_store, parallel_shape):
    """When the input does not fit one task, each operator keeps its
    parallel shape: m4 and gapfill one hash exchange on key (m4's on
    (key, bucket)), decode one task per chunk file and no exchange."""
    rollup, chunks = small_store
    with parallel_shape():
        q = _key_queries(rollup, chunks)
        for name in ("gapfill", "m4"):
            plan = _final_plan(q[name])
            assert re.findall(r"Exchange (\w+)\((\w+)", plan) == [("hashpartitioning", "key")], (
                name, plan)
        assert "Exchange" not in _final_plan(q["decode"])
        assert q["decode"].rdd.getNumPartitions() == len(chunks.inputFiles()) == 4


def test_consumers_plan_over_the_layout_spark_derives(spark, tmp_path):
    """symbolize_windows and encode_chunks ask for a key exchange and a
    (key, bucket_ts) sort. Over the 1m tier cached the way run_pipeline
    builds it (rollup_raw, the in-partition sort, persist, the tier write)
    Spark plans neither; over an unsorted tier read from parquet it plans
    one of each. Both inputs give the same words and chunks."""
    from pyspark import StorageLevel

    from symtseries_spark import checkpoint as CP
    from symtseries_spark.datagen import gen_crawl
    from symtseries_spark.operators.rollup import rollup_raw
    from symtseries_spark.operators.symbolize import symbolize_windows

    crawl = gen_crawl(spark, n_urls=40, revisits=240)
    raw = rollup_raw(crawl, "url", "warc_ts", F.length("text"), "1m")
    cached = raw.sortWithinPartitions("key", "bucket_ts")
    cached.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        CP.write_partitioned(cached, str(tmp_path / "sorted"), "1m")
        CP.write_partitioned(raw, str(tmp_path / "unsorted"), "1m")
        stored = spark.read.parquet(str(tmp_path / "unsorted" / "tier=1m"))

        def consumers(tier):
            # series as text: NaN slots compare equal that way
            words = symbolize_windows(tier, "1m", "1h", w=12, c=8)
            return {
                "words": words.withColumn("series", F.col("series").cast("string")),
                "chunks": encode_chunks(tier, "1m"),
            }

        over_cache, over_read = consumers(cached), consumers(stored.drop("bucket_date"))
        for name, want in (("words", 160), ("chunks", 40)):
            # the cached relation prints its own plan below the scan
            plan = _final_plan(over_cache[name]).split("InMemoryRelation")[0]
            assert "InMemoryTableScan" in plan, (name, plan)
            assert not re.search(r"\b(Exchange|Sort)\b", plan), (name, plan)
            plan = _final_plan(over_read[name])
            assert len(re.findall(r"Exchange hashpartitioning\(key", plan)) == 1, (name, plan)
            assert len(re.findall(r"\bSort \[", plan)) == 1, (name, plan)
            got = sorted(map(tuple, over_cache[name].collect()))
            assert len(got) == want, name
            assert got == sorted(map(tuple, over_read[name].collect())), name
    finally:
        cached.unpersist()


@pytest.mark.parametrize("threshold", ["-1", str(1 << 30)])
def test_one_task_bound_is_not_the_broadcast_threshold(spark, threshold):
    """The one-task bound is ``plans.ONE_TASK_MAX_BYTES``, not a join
    setting: turning broadcasts off or raising their threshold leaves the
    choice as it was, and an input above the bound keeps m4's exchange."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, threshold)
    try:
        # a Range is estimated at 8 bytes per row
        rows = plans.ONE_TASK_MAX_BYTES // 8
        assert fits_one_task(spark.range(rows))
        large = spark.range(rows + 1)
        assert not fits_one_task(large)
        points = large.selectExpr(
            "id % 7 AS key", "timestamp_seconds(id) AS ts", "CAST(id AS DOUBLE) AS value"
        )
        plan = _final_plan(m4_downsample(points))
        assert re.findall(r"Exchange (\w+)\((\w+)", plan) == [("hashpartitioning", "key")], plan
    finally:
        spark.conf.set(key, old)

def _gateway_commands(spark, monkeypatch, build) -> int:
    """py4j commands this thread sends while ``build`` runs. py4j's
    finalizer thread sends the deletes of freed JVM proxies through the
    same client at any time; those are not the build's, so other threads'
    commands are not counted."""
    client = spark.sparkContext._gateway._gateway_client
    send, sent, me = client.send_command, [], threading.get_ident()

    def counted(*args, **kwargs):
        sent.append(threading.get_ident() == me)
        return send(*args, **kwargs)

    with monkeypatch.context() as m:
        m.setattr(client, "send_command", counted)
        build()
    return sum(sent)


@pytest.mark.parametrize(
    "op, ceiling",
    [
        ("gapfill", 65),
        ("m4", 85),
    ],
)
def test_plan_builds_stay_few_gateway_calls(spark, small_store, monkeypatch, op, ceiling):
    """Building (not running) gapfill and m4 sends few py4j commands: their
    expressions are SQL text, about one command per expression, where
    every pyspark Column function costs about ten."""
    rollup, _ = small_store
    build = {
        "gapfill": lambda: gapfill(rollup, "1h"),
        "m4": lambda: m4_downsample(rollup, ts_col="bucket_ts", value_col="text_len_avg"),
    }[op]
    build()  # first build resolves the JVM classes it calls
    assert _gateway_commands(spark, monkeypatch, build) <= ceiling
