"""Property-based checks (hypothesis): random inputs vs brute-force
references for the operators with the subtlest invariants."""

from __future__ import annotations

import math

import pytest
from hypothesis import HealthCheck, example, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from youtube_podcast_data_pipeline_azure_spark.operators import joins
from youtube_podcast_data_pipeline_azure_spark.operators.sketches import (
    heavy_hitters_exact,
)

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


@settings(**_SETTINGS)
@given(
    items=st.lists(st.integers(min_value=0, max_value=12), min_size=1, max_size=300),
    denom=st.sampled_from([3, 5, 8]),
    parts=st.integers(min_value=1, max_value=7),
)
def test_heavy_hitters_exact_equals_bruteforce(spark, items, denom, parts):
    df = spark.createDataFrame([(i,) for i in items], "item long").repartition(parts)
    got = {
        (r.item, r.n)
        for r in heavy_hitters_exact(df, "item", denom=denom, k=denom * 4).collect()
    }
    n = len(items)
    from collections import Counter

    want = {
        (i, c) for i, c in Counter(items).items() if c * denom > n
    }
    assert got == want


@settings(**_SETTINGS)
@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 1000)),
        min_size=1, max_size=40, unique=True,
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 1000)),
        min_size=0, max_size=40, unique=True,
    ),
)
def test_asof_nearest_equals_bruteforce(spark, lefts, rights):
    left = spark.createDataFrame(
        [(i, k, s) for i, (k, s) in enumerate(lefts)],
        "id long, k long, sec long",
    ).selectExpr("id", "k", "timestamp_seconds(sec) AS ts")
    right = spark.createDataFrame(
        [(k, s, f"tag{k}_{s}") for k, s in rights] or [(99, 0, "x")],
        "k long, sec long, tag string",
    ).selectExpr("k", "timestamp_seconds(sec) AS ts", "tag")
    got = {
        r.id: r.asof_tag
        for r in joins.asof_join_nearest(left, right, on=["k"]).collect()
    }
    rset = rights or [(99, 0)]
    for i, (k, s) in enumerate(lefts):
        cands = [(rs, f"tag{k}_{rs}") for rk, rs in rset if rk == k]
        if not cands:
            assert got[i] is None
            continue
        # nearest by |delta|; tie -> backward (smaller timestamp)
        best = min(cands, key=lambda c: (abs(c[0] - s), c[0] > s))
        assert got[i] == best[1], (i, k, s, cands)


@settings(**_SETTINGS)
@given(
    lefts=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 1000)),
        min_size=1, max_size=30, unique=True,
    ),
    rights=st.lists(
        st.tuples(st.integers(0, 2), st.integers(0, 1000)),
        min_size=0, max_size=30, unique=True,
    ),
    tol=st.integers(min_value=0, max_value=400),
)
def test_asof_tolerance_equals_bruteforce_all_directions(
    spark, lefts, rights, tol
):
    """Tolerance semantics vs brute force for backward/forward/nearest:
    the chosen match is nulled iff its |delta| exceeds the horizon
    (inclusive).  Guards the r3 fix (backward horizon via microseconds,
    not cast-to-long seconds truncation)."""
    left = spark.createDataFrame(
        [(i, k, s) for i, (k, s) in enumerate(lefts)],
        "id long, k long, sec long",
    ).selectExpr("id", "k", "timestamp_seconds(sec) AS ts")
    right = spark.createDataFrame(
        [(k, s, f"tag{k}_{s}") for k, s in rights] or [(99, 0, "x")],
        "k long, sec long, tag string",
    ).selectExpr("k", "timestamp_seconds(sec) AS ts", "tag")
    rset = rights or [(99, 0)]

    def brute(k, s, direction):
        cands = [rs for rk, rs in rset if rk == k]
        if direction == "backward":
            cands = [rs for rs in cands if rs <= s]
            pick = max(cands) if cands else None
        elif direction == "forward":
            cands = [rs for rs in cands if rs >= s]
            pick = min(cands) if cands else None
        else:
            pick = (
                min(cands, key=lambda rs: (abs(rs - s), rs > s))
                if cands
                else None
            )
        if pick is None or abs(pick - s) > tol:
            return None
        return f"tag{k}_{pick}"

    for direction, fn in (
        ("backward", joins.asof_join_backward),
        ("forward", joins.asof_join_forward),
        ("nearest", joins.asof_join_nearest),
    ):
        got = {
            r.id: r.asof_tag
            for r in fn(
                left, right, on=["k"], tolerance_seconds=tol
            ).collect()
        }
        for i, (k, s) in enumerate(lefts):
            assert got[i] == brute(k, s, direction), (direction, i, k, s, tol)


@settings(**_SETTINGS)
@given(
    vals=st.lists(st.integers(-50, 150), min_size=1, max_size=50),
    cuts=st.lists(st.integers(0, 100), min_size=2, max_size=8, unique=True),
)
def test_range_join_equals_bruteforce(spark, vals, cuts):
    """range_join assigns each value to the single [lo, hi) band that
    contains it (bands built from sorted cut points are disjoint);
    values outside every band drop out in the inner join."""
    bounds = sorted(cuts)
    bands = [(i, float(lo), float(hi)) for i, (lo, hi) in
             enumerate(zip(bounds, bounds[1:]))]
    facts = spark.createDataFrame(
        [(i, float(v)) for i, v in enumerate(vals)], "fid long, v double"
    )
    bdf = spark.createDataFrame(bands, "band_id long, lo double, hi double")
    got = {
        (r.fid, r.band_id)
        for r in joins.range_join(facts, bdf, "v").select("fid", "band_id").collect()
    }
    want = {
        (i, b)
        for i, v in enumerate(vals)
        for b, lo, hi in bands
        if lo <= v < hi
    }
    assert got == want


@settings(**_SETTINGS)
@given(
    docs=st.lists(
        st.lists(
            st.sampled_from("alpha beta gamma delta epsilon zeta".split()),
            min_size=0,
            max_size=8,
        ),
        min_size=1,
        max_size=14,
    ),
    dup_of=st.lists(st.integers(min_value=0, max_value=13), max_size=6),
)
def test_near_dup_pipeline_sound_and_complete_where_guaranteed(
    spark, docs, dup_of
):
    """near_dup_pipeline (exact-collapse -> LSH over representatives ->
    membership expansion) on arbitrary corpora — asserting exactly what
    the operator GUARANTEES:

    * soundness, always: every emitted pair is a true >= threshold pair
      with its exact (verified) Jaccard — LSH only generates
      candidates, the verify step is exact;
    * completeness for exact-duplicate pairs (the dup_of clusters):
      jaccard-1.0 members collapse deterministically, no banding
      involved;
    * completeness for high-similarity pairs (jaccard >= 0.8): with
      b=24, r=4 a candidate escapes banding with probability
      (1-s^4)^24 < 4e-6 at s = 0.8 — treated as certain here.

    NOT asserted: recall for 0.5 <= jaccard < 0.8, which is genuinely
    probabilistic at the S-curve midpoint (~0.45) — the earlier
    equals-brute-force form of this test was an overclaim that
    hypothesis eventually falsified with tiny-vocabulary corpora
    sitting at jaccard ~0.5."""
    from youtube_podcast_data_pipeline_azure_spark.operators import dedup

    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs)]
    base = len(rows)
    for j, src in enumerate(dup_of):  # exact duplicates of existing docs
        rows.append((base + j, rows[src % base][1]))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    want = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.ngram_jaccard_pairs_blocked(
            df, threshold=0.5, block_on=None
        ).collect()
    }
    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in dedup.near_dup_pipeline(df, jaccard_threshold=0.5).collect()
    }
    # the brute-force baseline rounds then filters; the pipeline filters
    # unrounded — compare on the common contract (pairs >= 0.5 unrounded)
    want = {k: v for k, v in want.items() if v >= 0.5}
    got = {k: round(v, 4) for k, v in got.items()}
    # soundness: everything emitted is a true pair at the exact value
    assert set(got) <= set(want)
    for k in got:
        assert got[k] == pytest.approx(want[k], abs=1e-4)
    # completeness where guaranteed: 1.0 (exact dups) and >= 0.8
    must_find = {k for k, v in want.items() if v >= 0.8}
    assert must_find <= set(got)


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=0, max_value=7),
            st.integers(min_value=1, max_value=5),
        ),
        min_size=1,
        max_size=20,
    ).filter(lambda es: any(a != b for a, b, _ in es)),
)
def test_pagerank_tracks_float_reference(spark, edges):
    """Integer micro-unit PageRank vs an exact float reference on random
    graphs: every node's rank within 0.1% of float PageRank (the floor
    losses are bounded by 1 micro-unit per in-edge per round), and mass
    never exceeds the float total."""
    from collections import defaultdict

    from youtube_podcast_data_pipeline_azure_spark.operators.graph import pagerank

    # symmetrize and merge duplicate edges (operator handles dups, the
    # reference must see identical weights)
    w = defaultdict(int)
    for a, b, x in edges:
        if a == b:
            continue
        w[(f"n{a}", f"n{b}")] += x
        w[(f"n{b}", f"n{a}")] += x
    rows = [(s, d, x) for (s, d), x in sorted(w.items())]
    df = spark.createDataFrame(rows, "src string, dst string, w long")
    got = {r.node: r.rank_micro for r in pagerank(df, iterations=3).collect()}

    # float reference
    nodes = sorted({s for s, _, _ in rows} | {d for _, d, _ in rows})
    outw = defaultdict(float)
    for s, d, x in rows:
        outw[s] += x
    rank = {n: 1.0 for n in nodes}
    for _ in range(3):
        inc = defaultdict(float)
        for s, d, x in rows:
            inc[d] += rank[s] * x / outw[s]
        rank = {n: 0.15 + 0.85 * inc.get(n, 0.0) for n in nodes}
    assert set(got) == set(nodes)
    for n in nodes:
        assert abs(got[n] / 1e6 - rank[n]) < 0.001 * max(rank[n], 1.0), (
            n, got[n], rank[n],
        )


def _pagerank_replay(edges, iterations, damping_milli=850):
    """Plain-Python integer PageRank with the operator's exact rounding:
    IEEE ``floor(float(rank * w) / float(W))`` per edge, ``W`` summed
    over every edge of a src (null-dst edges included), edges with a
    null endpoint sending nothing, and a zero ``W`` sending nothing."""
    from collections import defaultdict

    from youtube_podcast_data_pipeline_azure_spark.operators.graph import RANK_ONE

    base = (1000 - damping_milli) * RANK_ONE // 1000
    nodes = {s for s, _, _ in edges} | {d for _, d, _ in edges}
    out_w = defaultdict(int)
    for s, _, w in edges:
        if s is not None:
            out_w[s] += w
    rank = dict.fromkeys(nodes, RANK_ONE)
    for _ in range(iterations):
        incoming = defaultdict(int)
        for s, d, w in edges:
            if s is not None and d is not None and out_w[s]:
                incoming[d] += math.floor(float(rank[s] * w) / float(out_w[s]))
        rank = {
            n: base + math.floor(float(damping_milli * incoming[n]) / 1000.0)
            for n in nodes
        }
    return rank


_node = st.one_of(
    st.none(), st.integers(min_value=0, max_value=5).map(lambda i: f"n{i}")
)


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(_node, _node, st.integers(min_value=0, max_value=4)),
        max_size=14,
    ),
    iterations=st.integers(min_value=0, max_value=4),
)
@example(edges=[], iterations=2)
@example(edges=[("n0", "n1", 1), ("n1", "n0", 1), ("n2", "n0", 3)], iterations=0)
@example(
    # self-loop, duplicate edge, zero weight, zero out-weight, dangling
    # node and both kinds of null endpoint
    edges=[
        ("n0", "n0", 2), ("n0", "n1", 3), ("n0", "n1", 3), ("n1", "n2", 0),
        ("n3", "n1", 0), ("n1", None, 4), (None, "n4", 1), (None, None, 2),
    ],
    iterations=4,
)
def test_pagerank_equals_integer_replay(spark, edges, iterations):
    """Directed PageRank equals the integer replay exactly, node for
    node, on dangling nodes, self-loops, duplicate edges, zero weights,
    null endpoints and empty input."""
    from youtube_podcast_data_pipeline_azure_spark.operators.graph import pagerank

    df = spark.createDataFrame(edges, "src string, dst string, w long")
    rows = pagerank(df, iterations=iterations).collect()
    got = {r.node: r.rank_micro for r in rows}
    assert len(got) == len(rows)
    assert got == _pagerank_replay(edges, iterations)


@settings(**_SETTINGS)
@given(
    corpus=st.lists(
        st.lists(
            st.sampled_from("abcdefgh"), min_size=1, max_size=12
        ).map(lambda ws: " ".join(ws)),
        min_size=1,
        max_size=12,
    ),
    eval_docs=st.lists(
        st.lists(
            st.sampled_from("abcdefgh"), min_size=1, max_size=12
        ).map(lambda ws: " ".join(ws)),
        min_size=1,
        max_size=4,
    ),
    n=st.sampled_from([2, 3]),
)
def test_decontaminate_equals_bruteforce(spark, corpus, eval_docs, n):
    """decontaminate drops EXACTLY the docs sharing >= 1 word n-gram
    with the eval set (short docs fall back to whole-text shingles,
    mirrored in the reference)."""
    from youtube_podcast_data_pipeline_azure_spark.operators.curation import decontaminate

    def grams(text: str) -> set:
        toks = text.split()
        if len(toks) <= n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    eval_grams = set().union(*(grams(t) for t in eval_docs))
    expect = {
        i for i, t in enumerate(corpus) if not (grams(t) & eval_grams)
    }
    cdf = spark.createDataFrame(
        list(enumerate(corpus)), "doc_id long, text string"
    )
    edf = spark.createDataFrame(
        [(1000 + i, t) for i, t in enumerate(eval_docs)],
        "doc_id long, text string",
    )
    got = {r.doc_id for r in decontaminate(cdf, edf, n=n).collect()}
    assert got == expect


@settings(**_SETTINGS)
@given(
    left=st.lists(st.sampled_from("pqrstuv"), min_size=0, max_size=8),
    right=st.lists(st.sampled_from("pqrstuv"), min_size=0, max_size=8),
    shared=st.lists(st.sampled_from("abcdefg"), min_size=6, max_size=9),
)
def test_winnowing_guarantee_shared_run_always_pairs(spark, left, right, shared):
    """Schleimer's winnowing guarantee, end to end: ANY two documents
    sharing a run of window + k - 1 = 6 consecutive words produce at
    least one common fingerprint, so fingerprint_overlap_pairs at
    min_shared=1 must always emit the pair — regardless of the
    surrounding context words."""
    from youtube_podcast_data_pipeline_azure_spark.operators.dedup import (
        fingerprint_overlap_pairs,
    )

    run = " ".join(shared)
    doc1 = (" ".join(left) + " " + run).strip()
    doc2 = (run + " " + " ".join(right)).strip()
    df = spark.createDataFrame(
        [(1, doc1), (2, doc2)], "doc_id long, text string"
    )
    pairs = {
        (r.id_a, r.id_b)
        for r in fingerprint_overlap_pairs(df, min_shared=1).collect()
    }
    assert (1, 2) in pairs


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.sampled_from(["aa bb cc", "dd ee", "ff gg hh ii", "aa bb cc dd"]),
        min_size=1,
        max_size=40,
    ),
    n_buckets=st.sampled_from([1, 2, 5]),
    parts=st.integers(min_value=1, max_value=5),
)
def test_novelty_curve_equals_bruteforce(spark, texts, n_buckets, parts):
    """Per-bucket novelty counts equal a python reference on any
    partitioning; totals conserve docs and distinct texts."""
    from youtube_podcast_data_pipeline_azure_spark.operators.dedup import novelty_curve

    rows = [(i * 3 + 1, t) for i, t in enumerate(texts)]  # non-contiguous ids
    df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(parts)
    got = {r["bucket"]: r for r in novelty_curve(df, n_buckets=n_buckets).collect()}

    mn = min(i for i, _ in rows)
    mx = max(i for i, _ in rows)
    width = mx - mn + 1
    seen: set[str] = set()
    ref: dict[int, list[int]] = {}
    for i, t in rows:  # createDataFrame preserves row order per id asc here
        b = min((i - mn) * n_buckets // width, n_buckets - 1)
        ref.setdefault(b, [0, 0])
        ref[b][0] += 1
    for i, t in sorted(rows):  # novelty is id-order-first-seen
        b = min((i - mn) * n_buckets // width, n_buckets - 1)
        if t not in seen:
            seen.add(t)
            ref[b][1] += 1
    assert set(got) == set(ref)
    for b, (n_docs, n_novel) in ref.items():
        assert got[b]["n_docs"] == n_docs, (b, dict(got[b].asDict()), ref)
        assert got[b]["n_novel"] == n_novel
        assert got[b]["n_dup"] == n_docs - n_novel
    assert sum(r["n_novel"] for r in got.values()) == len({t for _, t in rows})
    assert sum(r["n_docs"] for r in got.values()) == len(rows)


@settings(**_SETTINGS)
@given(
    texts=st.lists(
        st.sampled_from(["x y z", "p q", "x y z w v", "m n o p q r"]),
        min_size=1,
        max_size=30,
    ),
    parts=st.integers(min_value=1, max_value=5),
)
def test_vocabulary_growth_conserves_totals(spark, texts, parts):
    """Final cumulative row equals whole-corpus totals; per-bucket token
    counts sum to the total token mass — on any partitioning."""
    from youtube_podcast_data_pipeline_azure_spark.operators.text_mining import (
        vocabulary_growth,
    )

    rows = [(i * 2, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(parts)
    out = vocabulary_growth(df, n_buckets=4).orderBy("bucket").collect()
    all_tokens = [w for _, t in rows for w in t.split()]
    assert out[-1]["cum_tokens"] == len(all_tokens)
    assert out[-1]["cum_vocab"] == len(set(all_tokens))
    assert sum(r["n_tokens"] for r in out) == len(all_tokens)
    assert sum(r["new_terms"] for r in out) == len(set(all_tokens))
    # cumulative columns are running sums of the per-bucket columns
    ct = cv = 0
    for r in out:
        ct += r["n_tokens"]; cv += r["new_terms"]
        assert (r["cum_tokens"], r["cum_vocab"]) == (ct, cv)


@settings(**_SETTINGS)
@given(
    edges=st.lists(
        st.tuples(
            st.integers(min_value=1, max_value=25),
            st.integers(min_value=1, max_value=25),
        ),
        max_size=30,
    ),
)
def test_duplicate_clusters_equals_union_find(spark, edges):
    """duplicate_clusters must produce the components of a plain-Python
    union-find on arbitrary graphs."""
    from youtube_podcast_data_pipeline_azure_spark.operators.dedup import duplicate_clusters
    from tests.test_graph import union_find_components

    ids = list(range(1, 26))
    nodes = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    pairs = spark.createDataFrame(
        edges or [(0, 0)], "id_a long, id_b long"
    )
    if not edges:
        pairs = pairs.where("id_a < 0")
    got = sorted(map(tuple, duplicate_clusters(nodes, pairs).collect()))
    assert got == union_find_components(ids, edges)


@settings(**_SETTINGS)
@given(
    sigs=st.lists(
        st.integers(min_value=0, max_value=(1 << 36) - 1),
        min_size=2,
        max_size=24,
    ),
    max_h=st.integers(min_value=0, max_value=4),
)
def test_hamming_pairs_lossless_on_arbitrary_signatures(spark, sigs, max_h):
    """The pigeonhole block join must return EXACTLY the brute-force
    pair set at any threshold over arbitrary 36-bit signatures —
    losslessness is the whole contract (shared by simhash text dedup
    and the image/audio fingerprints)."""
    from youtube_podcast_data_pipeline_azure_spark.operators.dedup import hamming_pairs

    rows = [(i, s) for i, s in enumerate(sigs)]
    df = spark.createDataFrame(rows, "asset_id long, sig long")
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in hamming_pairs(
            df, id_col="asset_id", sig_col="sig", bits=36, max_hamming=max_h
        ).collect()
    }
    brute = {
        (a, b, bin(sigs[a] ^ sigs[b]).count("1"))
        for a in range(len(sigs))
        for b in range(a + 1, len(sigs))
        if bin(sigs[a] ^ sigs[b]).count("1") <= max_h
    }
    assert got == brute


@settings(**_SETTINGS)
@given(
    words=st.lists(
        st.text(
            alphabet="abcdefghij XYZ.,!?", min_size=1, max_size=12
        ).filter(lambda s: s.strip()),
        min_size=1,
        max_size=8,
    ),
)
def test_strip_markup_recovers_plain_text_from_tag_wrapping(spark, words):
    """Wrapping entity-free plain text in arbitrary tags and stripping
    must recover the whitespace-collapsed text."""
    import re

    from youtube_podcast_data_pipeline_azure_spark.functions.text import strip_markup

    plain = " ".join(words)
    html = "<div a='1'><p>" + plain.replace(" ", "</p> <p>") + "</p></div>"
    df = spark.createDataFrame([(1, html)], "id long, s string")
    out = df.select(strip_markup("s").alias("c")).collect()[0].c
    assert out == re.sub(r"[ \t]+", " ", plain).strip()


@settings(**_SETTINGS)
@given(
    pixels=st.lists(
        st.integers(min_value=0, max_value=120), min_size=48, max_size=48
    ),
)
def test_ahash_amplitude_invariance(spark, pixels):
    """aHash compares each block to the image mean cross-multiplied, so
    doubling every channel (within uint8) can never change a bit."""
    import numpy as np

    from youtube_podcast_data_pipeline_azure_spark import schemas
    from youtube_podcast_data_pipeline_azure_spark.operators.multimodal import ahash_images

    base = np.array(pixels, dtype=np.uint8).reshape(4, 4, 3)
    rows = [
        (1, "image", "x", base.tobytes(), 4, 4, None, "d"),
        (2, "image", "x", (base * 2).tobytes(), 4, 4, None, "d"),
    ]
    df = spark.createDataFrame(rows, schemas.MEDIA_ASSETS)
    out = {r.asset_id: r.ahash for r in ahash_images(df, grid=4).collect()}
    assert out[1] == out[2]
