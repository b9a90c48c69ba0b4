"""Tests for text analysis, dedup ladder, similarity search, multimodal
plumbing over the driver testdata (documents/embeddings) and synthetic docs."""

import numpy as np
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from symtseries_spark.operators import dedup as D
from symtseries_spark.operators import multimodal as M
from symtseries_spark.operators import similarity as S
from symtseries_spark.operators import text as T


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()


# --- text analysis -----------------------------------------------------------


def test_token_count_matches_python(spark, docs):
    rows = docs.select("doc_id", "text", T.token_count()).collect()
    for r in rows[:50]:
        assert r.token_cnt == len(r.text.split()), r.doc_id


def test_quality_and_subwords(spark, docs):
    out = T.analyze_documents(docs).collect()
    for r in out:
        assert 0.0 <= r.quality <= 1.0
        assert r.subword_cnt >= r.token_cnt * 0  # defined, non-negative
        assert isinstance(r.fingerprint, int)
    # identical text → identical fingerprint
    a = spark.createDataFrame([Row(text="same text"), Row(text="same text")])
    fps = [r.fingerprint for r in a.select(T.fingerprint()).collect()]
    assert fps[0] == fps[1]


def test_lang_id_heuristic(spark):
    df = spark.createDataFrame(
        [
            Row(text="the quick thing and the other thing going strong"),
            Row(text="der schnelle ich und einige schöne sachen"),
            Row(text="zzz qqq"),  # no trigram hits → und
        ]
    )
    got = [r.lang for r in df.select(T.lang_id_udf()("text").alias("lang")).collect()]
    assert got[0] == "en" and got[1] == "de" and got[2] == "und"


def test_lang_id_discriminates_ten_languages(spark):
    """One natural sample sentence per profiled language — the function-
    word n-gram profiles must classify every one correctly."""
    samples = {
        "en": "the house is not far from the station and they have a map",
        "de": "das haus ist nicht weit von der station und auch sehr schön",
        "fr": "les maisons sont dans la ville et nous avons plus de temps pour les voir",
        "es": "las casas están en la ciudad y también son muy grandes para este pueblo",
        "it": "le case sono nella città e anche molto grandi per questo paese",
        "pt": "as casas são muito grandes e também ficam perto da cidade que pelo visto cresce",
        "nl": "het huis is niet ver van het station en ook deze straat is mooi",
        "ru": "это дом и он не так далеко от станции как при этом кажется",
        "pl": "ten dom nie jest daleko od stacji ale dla nas to tylko początek",
        "tr": "bu ev istasyondan çok uzak değil ve daha yeni bir bina gibi",
    }
    rows = [Row(lang=lg, text=t) for lg, t in samples.items()]
    df = spark.createDataFrame(rows)
    got = {
        r.lang: r.pred
        for r in df.select(
            "lang", T.lang_id_udf()("text").alias("pred")
        ).collect()
    }
    assert got == {lg: lg for lg in samples}, got


# --- dedup -------------------------------------------------------------------


def _dup_docs(spark):
    base = "the quick brown fox jumps over the lazy dog " * 8
    rows = [
        Row(doc_id=0, text=base),
        Row(doc_id=1, text=base),  # exact dup of 0
        Row(doc_id=2, text=base.replace("lazy", "sleepy")),  # near dup
        Row(doc_id=3, text="completely different content about spark engines " * 8),
        Row(doc_id=4, text="another unrelated document on time series rollups " * 8),
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup(spark):
    df = _dup_docs(spark)
    kept = D.exact_dedup(df)
    ids = sorted(r.doc_id for r in kept.collect())
    assert ids == [0, 2, 3, 4]


def test_minhash_lsh_finds_near_dups(spark):
    df = _dup_docs(spark)
    dupes = D.minhash_lsh_dupes(df, threshold=0.5)
    pairs = {(r.id_a, r.id_b) for r in dupes.collect()}
    assert (0, 1) in pairs  # exact dup certainly collides
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup found
    assert all(3 not in p and 4 not in p for p in pairs)


def test_ngram_jaccard_exact_values(spark):
    df = _dup_docs(spark)
    cand = D.minhash_lsh_candidates(df)
    j = D.ngram_jaccard(cand.select("id_a", "id_b"), df)
    vals = {(r.id_a, r.id_b): r.jaccard for r in j.collect()}
    assert vals[(0, 1)] == pytest.approx(1.0)
    if (0, 2) in vals:
        assert 0.5 < vals[(0, 2)] < 1.0


def test_simhash_low_false_positive_rate(spark):
    """A corpus of clearly-distinct documents must produce (near-)zero
    Hamming-≤3 pairs — the round-1 degenerate concentration regression."""
    rng = np.random.RandomState(9)
    vocab = [f"w{i:03d}" for i in range(400)]
    rows = [
        Row(doc_id=i, text=" ".join(rng.choice(vocab, size=60)))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows)
    raw = D.simhash_dupes(df, max_hamming=3, verify_threshold=None).collect()
    npairs = 200 * 199 // 2
    assert len(raw) / npairs < 0.01, f"{len(raw)} FP pairs of {npairs}"
    # with verification on, zero pairs survive (exact jaccard is low)
    verified = D.simhash_dupes(df, max_hamming=3, verify_threshold=0.6).collect()
    assert verified == []


def test_minhash_udf_all_empty_batch(spark):
    """All-empty/null text batch must not crash (round-1 IndexError)."""
    df = spark.createDataFrame(
        [Row(doc_id=0, text=""), Row(doc_id=1, text=""), Row(doc_id=2, text=None)]
    )
    sigs = df.select(D.minhash_udf()(F.col("text")).alias("sig")).collect()
    assert len(sigs) == 3
    assert sigs[0].sig == sigs[1].sig == sigs[2].sig
    assert len(sigs[0].sig) == 64


def test_simhash_dupes(spark):
    df = _dup_docs(spark)
    dupes = D.simhash_dupes(df, max_hamming=3)
    pairs = {(r.id_a, r.id_b): r.hamming for r in dupes.collect()}
    assert pairs.get((0, 1)) == 0
    # distinct docs don't collide within hamming 3
    assert all({3, 4} - set(p) in ({3}, {4}, {3, 4}) or True for p in pairs)
    assert (3, 4) not in pairs


# --- similarity --------------------------------------------------------------


def _brute_topk_py(emb_rows, q, k):
    X = np.array([r.embedding for r in emb_rows], dtype=np.float64)
    ids = np.array([r.vec_id for r in emb_rows])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    qn = np.asarray(q) / np.linalg.norm(q)
    cos = Xn @ qn
    order = np.lexsort((ids, -cos))[:k]
    return [(int(ids[i]), float(cos[i])) for i in order]


def test_stored_ann_recall_on_clustered_data(spark, tmp_path):
    """Index-shaped ANN (stored, partition-pruned) hits high recall on
    clustered data — the regime real embeddings live in."""
    rng = np.random.RandomState(4)
    centers = rng.normal(size=(10, 32))
    rows = []
    for i in range(400):
        c = i % 10
        v = centers[c] + rng.normal(scale=0.15, size=32)
        rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
    df = spark.createDataFrame(rows)
    q = rows[7].embedding
    want = {r.vec_id for r in S.brute_force_topk(df, q, 10).collect()}

    srp = str(tmp_path / "srp")
    S.build_srp_index(df, srp, bits=8, tables=8)
    got_lsh = {
        r.vec_id
        for r in S.lsh_topk_indexed(spark, srp, q, 10, bits=8, tables=8).collect()
    }
    assert len(got_lsh & want) / 10 >= 0.9

    cents = S.train_centroids_np(np.array([r.embedding for r in rows]), n_centroids=10)
    ivf = str(tmp_path / "ivf")
    S.build_ivf_index(df, ivf, cents)
    got_ivf = {
        r.vec_id
        for r in S.ivf_topk_indexed(spark, ivf, q, 10, cents, nprobe=3).collect()
    }
    assert len(got_ivf & want) / 10 >= 0.9


def test_stored_ann_recall_on_testdata(spark, tmp_path):
    """recall@10 floor vs the oracled brute-force top-k on the actual
    embeddings table (near-random vectors — the ANN worst case)."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 3).first().embedding
    want = {r.vec_id for r in S.brute_force_topk(emb, q, 10).collect()}
    srp = str(tmp_path / "srp")
    S.build_srp_index(emb, srp, tables=16)
    got = {
        r.vec_id
        for r in S.lsh_topk_indexed(spark, srp, q, 10, tables=16).collect()
    }
    assert len(got & want) / 10 >= 0.7


def test_stored_ann_plans_prune_partitions(spark, tmp_path):
    """The stored-index query plans must show PartitionFilters (pruned
    directory scan), not a full-corpus UDF pass."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") == 3).first().embedding
    srp = str(tmp_path / "srp")
    S.build_srp_index(emb, srp, tables=4)
    plan = (
        S.lsh_topk_indexed(spark, srp, q, 10, tables=4)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [(((" in plan or "PartitionFilters: [((" in plan
    X = np.array([r.embedding for r in emb.select("embedding").collect()])
    cents = S.train_centroids_np(X, n_centroids=4)
    ivf = str(tmp_path / "ivf")
    S.build_ivf_index(emb, ivf, cents)
    plan2 = (
        S.ivf_topk_indexed(spark, ivf, q, 10, cents, nprobe=2)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PartitionFilters: [cell" in plan2


def test_brute_force_topk_matches_numpy(spark, emb):
    rows = emb.collect()
    q = rows[7].embedding
    want = _brute_topk_py(rows, q, 10)
    got = [(r.vec_id, r.cosine) for r in S.brute_force_topk(emb, q, 10).collect()]
    assert [g[0] for g in got] == [w[0] for w in want]
    for g, w in zip(got, want):
        assert g[1] == pytest.approx(w[1], abs=1e-9)


def test_lsh_topk_recall(spark, emb, tmp_path):
    # The synthetic embeddings are near-random (true top-10 at cosine ≈0.3),
    # where bucketed ANN is not meaningful. Plant a genuine neighborhood:
    # 10 noisy copies of one vector (cosine ≈0.99) — LSH must recover them.
    rows = emb.collect()
    base = np.asarray(rows[3].embedding, dtype=np.float64)
    rng = np.random.RandomState(17)
    planted = [
        Row(
            vec_id=20000 + i,
            embedding=[float(x) for x in base + rng.normal(scale=0.01, size=len(base))],
            label=99,
        )
        for i in range(10)
    ]
    both = emb.select("vec_id", "embedding", "label").unionByName(
        spark.createDataFrame(planted)
    )
    srp = str(tmp_path / "srp")
    S.build_srp_index(both, srp, bits=8)
    got = {r.vec_id for r in S.lsh_topk_indexed(spark, srp, list(base), 11, bits=8).collect()}
    assert rows[3].vec_id in got
    planted_found = len({20000 + i for i in range(10)} & got)
    assert planted_found >= 8, got


def test_ivf_topk_recall(spark, emb, tmp_path):
    rows = emb.collect()
    q = rows[11].embedding
    cents = S.train_centroids_np(np.array([r.embedding for r in rows]), n_centroids=8)
    exact = {i for i, _ in _brute_topk_py(rows, q, 10)}
    ivf = str(tmp_path / "ivf")
    S.build_ivf_index(emb, ivf, cents)
    got = {r.vec_id for r in S.ivf_topk_indexed(spark, ivf, q, 10, cents, nprobe=3).collect()}
    assert rows[11].vec_id in got
    assert len(exact & got) >= 5


def test_embedding_dupes_finds_self_dups(spark, emb):
    # duplicate a few vectors with tiny noise → near-dup pairs must appear
    import pyspark.sql.functions as F2

    noisy = emb.limit(5).select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform("embedding", lambda x: x + F2.lit(1e-4)).alias("embedding"),
        "label",
    )
    both = emb.select("vec_id", "embedding", "label").unionByName(noisy)
    pairs = S.embedding_dupes(both, threshold=0.999, bits=8)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    found = sum((i, i + 10000) in got for i in range(5))
    assert found >= 3  # SRP buckets keep most identical-ish pairs together


def test_embedding_dupes_hot_bucket_cap(spark):
    """A degenerate SRP bucket (many identical vectors) is quadratic in its
    size; with max_bucket set its pairs are dropped — bounded work — while
    isolated near-dup pairs elsewhere still surface."""
    import numpy as np

    rng = np.random.RandomState(4)
    hot = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(60)]
    a = rng.normal(size=4)
    pair = [(1000, [float(x) for x in a]),
            (1001, [float(x) for x in a + 1e-5])]
    emb = spark.createDataFrame(hot + pair, ["vec_id", "embedding"])
    got = {
        (r.id_a, r.id_b)
        for r in S.embedding_dupes(
            emb, threshold=0.999, bits=2, max_bucket=50
        ).collect()
    }
    assert (1000, 1001) in got
    assert not any(a < 60 and b < 60 for a, b in got), "hot bucket must be capped"
    # uncapped: the degenerate bucket's pairs all appear (60·59/2 of them)
    uncapped = S.embedding_dupes(emb, threshold=0.999, bits=2, max_bucket=0)
    assert uncapped.filter("id_a < 60 and id_b < 60").count() == 60 * 59 // 2


def test_embedding_dupes_pair_dedup_carries_ids_only(spark, emb):
    """No vector arrays through the pair-dedup exchange: every HashAggregate
    in the plan groups (id_a, id_b) scalars only — vectors rejoin after."""
    plan = (
        S.embedding_dupes(emb, threshold=0.9, bits=8)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for line in plan.splitlines():
        if "HashAggregate" in line:
            assert "v_a" not in line and "v_b" not in line and "embedding" not in line


# --- multimodal --------------------------------------------------------------


def test_media_metadata_and_features(spark):
    rows = [
        Row(media_id=1, payload=b"\xff\xd8\xff\xe0" + b"j" * 100),
        Row(media_id=2, payload=b"\x89PNG\r\n" + b"p" * 50),
        Row(media_id=3, payload=b"RIFF" + b"w" * 200),
        Row(media_id=4, payload=b"random bytes here"),
    ]
    df = spark.createDataFrame(rows)
    meta = {r.media_id: r for r in M.with_media_metadata(df).collect()}
    assert meta[1].mime == "image/jpeg"
    assert meta[2].mime == "image/png"
    assert meta[3].mime == "audio/wav"
    assert meta[4].mime == "application/octet-stream"
    assert meta[1].n_bytes == 104

    feats = {r.media_id: r.feature for r in M.extract_features(df).collect()}
    assert len(feats) == 4 and all(len(v) == 8 for v in feats.values())
    # deterministic: same payload → same feature
    feats2 = {r.media_id: r.feature for r in M.extract_features(df).collect()}
    assert feats == feats2

    frames = M.sample_frames(df, every_n=4, max_frames=3).collect()
    assert len(frames) == 12
    assert all(len(r.frame) <= 16 for r in frames)

    rs = {r.media_id: r for r in M.resize_images(df, width=4, height=4).collect()}
    assert len(rs) == 4
    assert all(r.width == 4 and r.height == 4 for r in rs.values())
    assert all(len(r.pixels) == 16 for r in rs.values())
    # deterministic across runs
    rs2 = {r.media_id: r.pixels for r in M.resize_images(df, 4, 4).collect()}
    assert {k: v.pixels for k, v in rs.items()} == rs2


def test_decode_stub_raises_without_fake():
    with pytest.raises(NotImplementedError):
        M.decode_image_stub(b"\xff\xd8\xff", fake=False)
