"""Unit tests for the graph-analytics operator (integer PageRank) and
the cross-document repeated-span detector."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from youtube_podcast_data_pipeline_azure_spark.operators import dedup, graph


def _edges(spark, rows):
    return spark.createDataFrame(rows, "src string, dst string, w long")


def _sym(rows):
    return rows + [(d, s, w) for s, d, w in rows]


def test_pagerank_hub_outranks_spokes(spark):
    # undirected star: hub-a, hub-b, hub-c
    e = _edges(spark, _sym([("hub", "a", 1), ("hub", "b", 1), ("hub", "c", 1)]))
    ranks = {r.node: r.rank_micro for r in graph.pagerank(e, iterations=3).collect()}
    assert set(ranks) == {"hub", "a", "b", "c"}
    assert ranks["a"] == ranks["b"] == ranks["c"]  # symmetry
    assert ranks["hub"] > ranks["a"]


def test_pagerank_runs_one_checkpoint_and_one_aggregate_per_round(spark):
    """Building PageRank runs only the edge checkpoint's jobs, and each
    round adds one join and one aggregate, not a node-table join."""
    e = _edges(spark, _sym([("hub", "a", 1), ("hub", "b", 1), ("hub", "c", 1)]))
    sc = spark.sparkContext
    try:
        sc.setJobGroup("pagerank_construct", "pagerank_construct")
        ranks = graph.pagerank(e, iterations=3)
        sc.setJobGroup("pagerank_collect", "pagerank_collect")
        ranks.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    built = len(sc.statusTracker().getJobIdsForGroup("pagerank_construct"))
    ran = len(sc.statusTracker().getJobIdsForGroup("pagerank_collect"))
    assert built <= 2, built
    assert built + ran <= 9, (built, ran)


def test_pagerank_weight_matters(spark):
    # b gets a 9x heavier edge from the source than c does
    e = _edges(spark, _sym([("src", "b", 9), ("src", "c", 1)]))
    ranks = {r.node: r.rank_micro for r in graph.pagerank(e, iterations=2).collect()}
    assert ranks["b"] > ranks["c"]


def test_pagerank_deterministic_under_repartition(spark):
    rows = _sym([(f"u{i}", f"u{(i * 3) % 7}", 1 + i % 4) for i in range(1, 7)])
    e = _edges(spark, rows)
    a = {(r.node, r.rank_micro) for r in graph.pagerank(e, iterations=3).collect()}
    b = {
        (r.node, r.rank_micro)
        for r in graph.pagerank(e.repartition(5), iterations=3).collect()
    }
    assert a == b


def test_pagerank_dangling_node_keeps_base_mass(spark):
    # directed edge only: sink has no out-edges, source receives nothing
    e = _edges(spark, [("a", "sink", 1)])
    ranks = {r.node: r.rank_micro for r in graph.pagerank(e, iterations=1).collect()}
    # a gets only the (1-d) base; sink gets base + d * a_initial
    assert ranks["a"] == 150_000
    assert ranks["sink"] == 150_000 + 850_000



def test_pagerank_zero_out_weight_sends_nothing_under_ansi(spark):
    # "a" has only zero-weight out-edges: its edge sends nothing, and
    # an ANSI session must not fail on the zero out-weight
    e = _edges(spark, [("a", "b", 0), ("b", "a", 1), ("b", "c", 1)])
    saved = spark.conf.get("spark.sql.ansi.enabled")
    try:
        spark.conf.set("spark.sql.ansi.enabled", "true")
        ranks = {r.node: r.rank_micro for r in graph.pagerank(e, iterations=2).collect()}
    finally:
        spark.conf.set("spark.sql.ansi.enabled", saved)
    assert ranks == {"a": 213_750, "b": 150_000, "c": 213_750}

def test_duplicate_ngram_spans_cross_doc_and_internal_repeat(spark):
    shared = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [
            (1, shared + " tailone"),
            (2, "prefix " + shared),
            (3, "unrelated words that appear nowhere else in the corpus x y"),
        ],
        "doc_id long, text string",
    )
    out = dedup.duplicate_ngram_spans(df, n=10, top=10).collect()
    grams = {r.gram: r for r in out}
    assert shared in grams
    r = grams[shared]
    assert r.n_docs == 2
    assert r.n_occurrences == 2
    assert r.first_doc == 1
    # nothing from doc 3 can appear (needs 2+ distinct docs)
    assert all(row.n_docs >= 2 for row in out)


def test_triangle_count_known_graph(spark):
    from youtube_podcast_data_pipeline_azure_spark.operators.graph import triangle_count

    # K4 on {1,2,3,4} (4 triangles) plus a pendant edge (no triangle)
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    edges.append((4, 9))
    df = spark.createDataFrame(edges, ["a", "b"])
    row = triangle_count(df).collect()[0]
    assert (row["n_vertices"], row["n_edges"], row["n_triangles"]) == (
        5,
        7,
        4,
    )


def test_cooccurrence_degree_cap_drops_hot_items(spark):
    from youtube_podcast_data_pipeline_azure_spark.operators.graph import cooccurrence_edges

    rows = [(u, "hot") for u in range(10)] + [(1, "cold"), (2, "cold")]
    df = spark.createDataFrame(rows, ["user_id", "item"])
    capped = cooccurrence_edges(
        df, "user_id", "item", max_item_degree=5
    ).collect()
    # only the cold item survives: one edge
    assert [(r["a"], r["b"]) for r in capped] == [(1, 2)]
    uncapped = cooccurrence_edges(df, "user_id", "item").count()
    assert uncapped == 45 + 1 - 1  # C(10,2) hot edges + cold (1,2) dup-merged


def test_cooccurrence_repeat_interactions_dont_multiply(spark):
    from youtube_podcast_data_pipeline_azure_spark.operators.graph import cooccurrence_edges

    rows = [(1, "x"), (1, "x"), (2, "x"), (2, "x")]
    df = spark.createDataFrame(rows, ["user_id", "item"])
    out = cooccurrence_edges(df, "user_id", "item").collect()
    assert [(r["a"], r["b"]) for r in out] == [(1, 2)]


def union_find_components(nodes, edges):
    """Plain-Python reference for ``dedup.duplicate_clusters``: one
    (id, min id of its component) per distinct node, counting only
    edges whose two ends are both nodes."""
    parent = {v: v for v in nodes}

    def find(v):
        while parent[v] != v:
            v = parent[v]
        return v

    for a, b in edges:
        if a in parent and b in parent:
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
    return sorted((v, find(v)) for v in parent)


def test_duplicate_clusters_equals_union_find_on_cliques_and_chains(spark):
    from youtube_podcast_data_pipeline_azure_spark.operators.dedup import duplicate_clusters

    ids = list(range(1, 31))
    # a clique, a pair, a triangle-with-tail, singletons implicit
    edges = [(1, 2), (2, 3), (1, 3), (10, 11), (20, 21), (21, 22), (22, 23)]
    nodes = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    got = sorted(map(tuple, duplicate_clusters(nodes, pairs).collect()))
    assert got == union_find_components(ids, edges)


def test_duplicate_clusters_long_chain(spark):
    """A graph whose diameter far exceeds the round count must still
    return CORRECT components (a capped loop would split a 40-chain
    into bogus components silently), and building and collecting it
    stays within 100 Spark jobs whatever the id order along the chain:
    ascending; the global minimum at one end and a local minimum at the
    other (1-40-39-...-2, where a min label that moves one hop a round
    would need about 40 rounds); and a shuffled order."""
    from youtube_podcast_data_pipeline_azure_spark.operators.dedup import duplicate_clusters

    n = 40
    shuffled = list(range(1, n + 1))
    random.Random(7).shuffle(shuffled)
    orders = {
        "ascending": list(range(1, n + 1)),
        "min_at_far_end": [1] + list(range(n, 1, -1)),
        "shuffled": shuffled,
    }
    nodes = spark.createDataFrame([(i,) for i in range(1, n + 1)], "doc_id long")
    sc = spark.sparkContext
    for name, order in orders.items():
        chain = spark.createDataFrame(list(zip(order, order[1:])), "id_a long, id_b long")
        group = f"cc_chain_jobs_{name}"
        try:
            sc.setJobGroup(group, group)
            comps = {r["component"] for r in duplicate_clusters(nodes, chain).collect()}
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert comps == {1}, name
        jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert jobs <= 100, (name, jobs)


def test_star_cc_handles_empty_and_singletons(spark):
    from youtube_podcast_data_pipeline_azure_spark.operators.dedup import duplicate_clusters

    nodes = spark.createDataFrame([(5,), (7,), (9,)], "doc_id long")
    empty = spark.createDataFrame([], "id_a long, id_b long")
    got = sorted(map(tuple, duplicate_clusters(nodes, empty).collect()))
    assert got == [(5, 5), (7, 7), (9, 9)]
