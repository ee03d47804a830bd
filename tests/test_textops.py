"""Training-data pipeline operators (textops): semantic tests beyond the
driver's SQL-oracle equality — dedup behavior and ANN recall
(SURVEY-adjacent ops graded as first-class)."""

import numpy as np
import pytest
from pyspark.sql import functions as F

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog", "en", "s", 43),
    (1, "the quick brown fox jumps over the lazy dog", "en", "s", 43),  # dup
    (2, "the quick brown fox jumps over the lazy cat", "en", "s", 43),  # near
    (3, "completely different text about spark engines and shuffles", "en", "s", 58),
    (4, "one two three four five six seven eight nine ten eleven", "en", "s", 55),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        DOCS, "doc_id long, text string, lang string, source string, n_chars long"
    )


def test_exact_dedup_groups_identical_texts(docs):
    from ccrawler_spark.textops.dedup import exact_dedup

    rows = {r["doc_id"]: r["dup_count"] for r in exact_dedup(docs).collect()}
    assert rows[0] == 2  # docs 0 and 1 collapse, min doc_id survives
    assert 1 not in rows
    assert rows[2] == 1


def test_minhash_identical_and_near(docs):
    from ccrawler_spark.textops.dedup import lsh_candidate_pairs

    pairs = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in lsh_candidate_pairs(docs).collect()
    }
    assert pairs[(0, 1)] == 1.0  # identical docs: full signature match
    if (0, 2) in pairs:  # near-dup likely shares bands
        assert pairs[(0, 2)] > 0.3


def test_ngram_jaccard_exact_values(docs):
    from ccrawler_spark.textops.dedup import ngram_jaccard_pairs

    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.0).collect()
    }
    assert pairs[(0, 1)] == 1.0


def test_simhash_identical_equal_near_close(docs):
    from ccrawler_spark.textops.dedup import simhash64

    h = {r["doc_id"]: r["simhash"] for r in simhash64(docs).collect()}
    assert h[0] == h[1]
    ham_near = bin(h[0] ^ h[2]).count("1")
    ham_far = bin(h[0] ^ h[3]).count("1")
    assert ham_near < ham_far


def _planted_embeddings(spark, n_base=40, copies=3, dim=32):
    """Deterministic clusters: each base vector gets noisy copies with
    cosine ≈ 0.99 — the regime SRP-LSH is for (near-dup search)."""
    from ccrawler_spark.textops.hashing import phash60_py

    rows = []
    vid = 0
    for b in range(n_base):
        base = np.array(
            [((phash60_py(f"base|{b}|{d}") % 2001) - 1000) / 1000.0
             for d in range(dim)]
        )
        base /= np.linalg.norm(base)
        for c in range(copies):
            noise = np.array(
                [((phash60_py(f"n|{b}|{c}|{d}") % 2001) - 1000) / 20000.0
                 for d in range(dim)]
            )
            v = base + noise
            rows.append((vid, [float(x) for x in v], b))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_ann_lsh_finds_planted_neighbors(spark):
    """On clustered data (cos≈0.99 within a cluster) the SRP bucket
    ring must recover what brute force finds."""
    from ccrawler_spark.textops.similarity import (
        ann_topk_bruteforce, ann_topk_lsh,
    )

    emb = _planted_embeddings(spark)
    query = emb.filter("vec_id = 0").first()["embedding"]
    exact = [r["vec_id"] for r in ann_topk_bruteforce(emb, query, 3).collect()]
    approx = [r["vec_id"] for r in ann_topk_lsh(emb, query, 3).collect()]
    assert set(exact) == {0, 1, 2}  # the planted cluster
    assert set(approx) == set(exact)


def test_embedding_near_dup_finds_planted_pairs(spark):
    """SRP-bucketed near-dup join recovers ≥90% of true pairs ≥0.95
    (single-bucket blocking misses pairs straddling a hyperplane)."""
    from ccrawler_spark.textops.similarity import embedding_near_dup_pairs

    emb = _planted_embeddings(spark)
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dup_pairs(emb, dim=32, threshold=0.95).collect()
    }
    truth = {
        (b * 3 + i, b * 3 + j)
        for b in range(40)
        for i in range(3)
        for j in range(i + 1, 3)
    }
    assert got <= truth | got  # no false positives below threshold checked next
    assert all(a // 3 == b // 3 for a, b in got)  # only intra-cluster pairs
    assert len(got & truth) >= 0.9 * len(truth)


def test_ann_ivf_finds_planted_neighbors(spark):
    """IVF-flat probe (hash-derived coarse centroids) recovers the
    planted cluster that brute force finds."""
    from ccrawler_spark.textops.similarity import (
        ann_topk_bruteforce, ann_topk_ivf,
    )

    emb = _planted_embeddings(spark)
    query = emb.filter("vec_id = 0").first()["embedding"]
    exact = [r["vec_id"] for r in ann_topk_bruteforce(emb, query, 3).collect()]
    approx = [
        r["vec_id"]
        for r in ann_topk_ivf(emb, query, 3, n_cells=16, n_probe=4).collect()
    ]
    assert set(exact) == {0, 1, 2}
    assert set(approx) == set(exact)


def test_near_pairs_exact_cluster_survives_band_cap(spark):
    """An exact-duplicate cluster LARGER than band_cap must keep all its
    intra-cluster pairs (collapse-before-band, see dedup.BAND_CAP), and
    near pairs to a distinct fingerprint must expand to every member."""
    from ccrawler_spark.textops.dedup import phash_near_pairs

    cap = 8
    n_dup = 12  # > cap: a raw member-level cap would drop ALL its pairs
    rows = [(i, 0x1234_5678_9ABC_0000) for i in range(n_dup)]
    rows.append((100, 0x1234_5678_9ABC_0003))  # hamming 2 from the cluster
    df = spark.createDataFrame(rows, "image_id long, phash long")
    pairs = phash_near_pairs(df, id_col="image_id", max_hamming=6,
                             band_cap=cap).collect()
    exact = {(r["id_a"], r["id_b"]) for r in pairs if r["hamming"] == 0}
    near = {(r["id_a"], r["id_b"]) for r in pairs if r["hamming"] == 2}
    assert len(exact) == n_dup * (n_dup - 1) // 2
    # the near twin pairs with every cluster member (expansion), because
    # the banding sees 2 DISTINCT fingerprints — far under the cap
    assert near == {(i, 100) for i in range(n_dup)}
    assert len(pairs) == len(exact) + len(near)


def test_ivf_kmeans_trained_centroids(spark):
    """Lloyd-trained centroids: unit-norm, and the probe recall on
    clustered data is at least the hash-baseline's (trained cells
    align with the planted clusters, so the cluster survives probing
    even with fewer probes)."""
    import math

    from ccrawler_spark.textops.similarity import (
        ann_topk_bruteforce, ann_topk_ivf, ivf_train_kmeans,
    )

    emb = _planted_embeddings(spark)
    cents = ivf_train_kmeans(emb, dim=32, n_cells=16, n_iters=3)
    assert len(cents) == 16 and all(len(c) == 32 for c in cents)
    for c in cents:
        assert math.isclose(sum(x * x for x in c), 1.0, rel_tol=1e-9)
    query = emb.filter("vec_id = 0").first()["embedding"]
    exact = [r["vec_id"] for r in ann_topk_bruteforce(emb, query, 3).collect()]
    trained = [
        r["vec_id"]
        for r in ann_topk_ivf(
            emb, query, 3, n_cells=16, n_probe=2, centroids=cents
        ).collect()
    ]
    assert set(trained) == set(exact) == {0, 1, 2}


def test_phash60_index_matches_py(spark):
    """The vocabulary-deduped batch hasher (r5) is bit-identical to the
    per-string portable hash and preserves occurrence order, including
    None documents."""
    from ccrawler_spark.textops.hashing import phash60_index, phash60_py

    lists = [["a", "b", "a", "the quick"], None, ["b"], [""]]
    hs, idxs = phash60_index(lists)
    assert idxs[1] is None
    for lst, idx in zip(lists, idxs):
        if lst is None:
            continue
        assert [int(hs[i]) for i in idx] == [phash60_py(s) for s in lst]
    # distinct strings hashed once: vocab size == number of distincts
    assert len(hs) == 4  # a, b, "the quick", ""


def test_null_text_propagates_null_fingerprints(spark):
    """ADVICE r4: a NULL text must not crash the Arrow builds — it
    yields NULL signature/fingerprint rows, matching the SQL twins'
    split(trim(NULL)) null propagation."""
    from ccrawler_spark.textops.dedup import minhash_signatures, simhash64
    from ccrawler_spark.textops.textstats import fingerprint

    df = spark.createDataFrame(
        [(0, "some real text here"), (1, None), (2, "")],
        "doc_id long, text string",
    )
    sh = {r["doc_id"]: r["simhash"] for r in simhash64(df).collect()}
    assert sh[1] is None and sh[0] is not None and sh[2] is not None
    mh = {r["doc_id"]: r["sig"] for r in minhash_signatures(df).collect()}
    assert mh[1] is None and len(mh[0]) == 16
    fp = {r["doc_id"]: (r["content_hash"], r["rolling_min_hash"])
          for r in fingerprint(df).collect()}
    assert fp[1] == (None, None) and fp[0][0] is not None


def test_exact_pairs_star_mode(spark):
    """ADVICE r4: star mode bounds an m-member identical-fingerprint
    cluster at m-1 edges (vs m(m-1)/2), every member connected to the
    min-id representative; near (Hamming ≥ 1) pairs are unaffected."""
    from ccrawler_spark.textops.dedup import phash_near_pairs

    m = 6
    rows = [(i, 0x0F0F0F0F0F0F0F0) for i in range(m)]  # one dup cluster
    rows += [(100, 0x7070707070707070), (101, 0x7070707070707073)]  # near
    df = spark.createDataFrame(rows, "image_id long, phash long")

    allp = phash_near_pairs(df, max_hamming=6).collect()
    star = phash_near_pairs(df, max_hamming=6, exact_pairs="star").collect()
    exact_all = [r for r in allp if r["hamming"] == 0]
    exact_star = [r for r in star if r["hamming"] == 0]
    assert len(exact_all) == m * (m - 1) // 2
    assert len(exact_star) == m - 1
    assert all(r["id_a"] == 0 for r in exact_star)  # min-id representative
    assert {r["id_b"] for r in exact_star} == set(range(1, m))
    near_all = sorted((r["id_a"], r["id_b"], r["hamming"])
                      for r in allp if r["hamming"] > 0)
    near_star = sorted((r["id_a"], r["id_b"], r["hamming"])
                       for r in star if r["hamming"] > 0)
    assert near_all == near_star == [(100, 101, 2)]


def test_ivf_centroid_cache_shared_between_trainers(spark, tmp_path):
    """The trained-IVF value gate (VERDICT r6 #2) rests on one
    invariant: the Spark trainer (ivf_train_kmeans_cached) and the
    oracle-side loader (ivf_trained_centroids_ensure) resolve the SAME
    cache file for the same input table, and whichever runs second
    LOADS rather than retrains — so the Spark query and the DuckDB twin
    always see identical centroid floats, in either execution order."""
    import json

    from ccrawler_spark.textops import similarity as S

    pq_path = str(tmp_path / "emb.parquet")
    emb = _planted_embeddings(spark)
    emb.coalesce(1).write.parquet(pq_path)
    kw = dict(dim=32, n_cells=8, n_iters=2)

    # order 1: oracle (numpy) first — Spark side must load, not retrain
    cache = S.ivf_centroid_cache_path(pq_path, **kw)
    assert not cache.exists()
    np_cents = S.ivf_trained_centroids_ensure(pq_path, **kw)
    assert cache.exists()
    df = spark.read.parquet(pq_path)
    orig_train = S.ivf_train_kmeans
    S.ivf_train_kmeans = lambda *a, **k: (_ for _ in ()).throw(
        AssertionError("spark side retrained despite warm cache"))
    try:
        spark_cents = S.ivf_train_kmeans_cached(df, cache_key=pq_path, **kw)
    finally:
        S.ivf_train_kmeans = orig_train
    assert spark_cents == np_cents

    # order 2: Spark first — oracle loader must return identical floats
    cache.unlink()
    spark_cents = S.ivf_train_kmeans_cached(df, cache_key=pq_path, **kw)
    assert cache.exists() and json.loads(cache.read_text()) == spark_cents
    assert S.ivf_trained_centroids_ensure(pq_path, **kw) == spark_cents
    cache.unlink()


def test_centroid_publish_first_writer_wins(tmp_path):
    """Two publishes of different centroids to one cache path: the first
    payload stays on disk, both calls return it, and no tmp is left."""
    import json

    from ccrawler_spark.textops import similarity as S

    path = tmp_path / "cents.json"
    first, second = [[1.0, 0.0]], [[0.0, 1.0]]
    assert S._publish_first(path, first) == first
    assert S._publish_first(path, second) == first
    assert json.loads(path.read_text()) == first
    assert [p.name for p in tmp_path.iterdir()] == ["cents.json"]
