"""Deduplication operators over the ``documents`` table.

North-star extensions (BASELINE.json): exact dedup, MinHash+LSH,
SimHash, n-gram Jaccard, embedding-cosine near-dup.  The reference has
no dedup at all (SURVEY.md §2.B) — these are engine-native, designed
scale-first:

* Everything is DataFrame ops: tokenize/shingle/hash with built-in
  expressions (``xxhash64``), banding via explode + group-by — so the
  candidate-pair generation is a hash-shuffle on (band, band_hash), not
  an O(n²) cross join.
* Exact verification (Jaccard / cosine) runs only on LSH candidate
  pairs, which is the standard web-scale dedup shape (MinHash-LSH as in
  Broder '97; the Spark expression here mirrors open-source
  implementations like spark.ml's MinHashLSH, re-expressed with
  higher-order functions so no ml.linalg vectors are needed).

Measured scaling (local[32], 5k -> 50k docs with disjoint replica
vocabularies so true pair counts scale linearly): minhash_lsh_pairs
2.1x wall-clock for 10x data, ngram_jaccard_pairs 6.8x — both
sub-linear, fixed overheads still amortizing at this size.

**Hot-cluster caveat (the 100 TB composition order).**  Pair-listing
operators are Ω(output): a cluster of m mutual near-dups emits
m·(m-1)/2 pairs, so boilerplate-heavy corpora (the common web case)
make ANY exact pair-lister quadratic in the hot-cluster size — the
same replication experiment WITHOUT disjoint vocabularies (10 near-
identical replicas of every doc, ~250k true pairs) ran 2.3x for
minhash but 29.6x for the PPJoin, which additionally pays prefix-
bucket blowup during candidate generation.  The production recipe is
therefore: (1) :func:`exact_dedup` first — collapses exact/boilerplate
clusters with a hash-groupBy whose shuffle carries 32-char digests,
never bodies; (2) near-dup pair generation over the surviving
representatives only; (3) :func:`duplicate_clusters` (connected
components, one checkpoint per hooking round) to fold pairs
into keep-one decisions.  MinHash-LSH degrades most gracefully under
residual hot clusters (banded candidates, constant per-doc signature
work) and is the default at scale; the PPJoin path is the lossless
spot-check for bounded inputs.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from youtube_podcast_data_pipeline_azure_spark.functions.text import (
    positional_ngrams,
    rolling_fingerprint,
    tokenize,
)
from youtube_podcast_data_pipeline_azure_spark.operators.observability import observed
from youtube_podcast_data_pipeline_azure_spark.operators.util import spread


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep one deterministic representative (min id) per distinct
    normalized text.

    groupBy on the md5 fingerprint — the shuffle key is a 32-char hash,
    not the full document body, so shuffle volume at 100 TB is bounded
    by id+hash width.  A ``dropDuplicates([fingerprint])`` would be
    nondeterministic about which row survives; min-id is stable and
    oracle-checkable.
    """
    fp = rolling_fingerprint(F.col(text_col)).alias("fingerprint")
    return (
        df.select(F.col(id_col), fp)
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# Shingling + MinHash + LSH banding
# ---------------------------------------------------------------------------

def shingles(col: Column | str, n: int = 3) -> Column:
    """Word n-gram shingles as array<string> (distinct).  See
    functions.text.positional_ngrams for the evaluation-shape
    rationale (zip_with fold, not a per-index lambda)."""
    return F.array_distinct(positional_ngrams(tokenize(col), n))


MASK32 = (1 << 32) - 1


def minhash_signature(shingle_col: Column, num_hashes: int = 128) -> Column:
    """MinHash signature: array of ``num_hashes`` longs (32-bit values).

    Kirsch-Mitzenmacher construction: per shingle only TWO string hashes
    are computed (``xxhash64(s)`` and ``xxhash64(s, seed)``), reduced to
    32-bit lanes; slot *i*'s hash is ``(h1 + i*h2) & 0xffffffff`` (odd
    h2 ⇒ a permutation of Z/2³²).  32-bit lanes on purpose: ``h1 +
    i*h2`` stays < 2⁴⁰, so the arithmetic can never overflow a long —
    the construction is safe under ANSI mode (the driver harness runs a
    default session, where Spark 4 ANSI overflow would otherwise throw).
    32-bit min-hash values are the same granularity spark.ml's
    MinHashLSH uses; collision probability per slot is 2⁻³² — noise for
    banding purposes.  Built as two narrow passes — (1) map each shingle
    to its (h1, h2) struct, (2) fold the slot-wise min with
    ``aggregate``+``zip_with`` — so cost is O(shingles · 2 string-hashes
    + shingles · k integer-ops), vs the naive k string-hashes per
    shingle.  All built-in expressions, JVM-side, no UDF.
    """
    hashed = F.transform(
        shingle_col,
        lambda s: F.struct(
            F.xxhash64(s).bitwiseAND(F.lit(MASK32)).alias("h1"),
            F.xxhash64(s, F.lit(7))
            .bitwiseAND(F.lit(MASK32))
            .bitwiseOR(F.lit(1))
            .alias("h2"),
        ),
    )
    idx = F.array(*[F.lit(i).cast("long") for i in range(num_hashes)])
    return F.aggregate(
        hashed,
        F.array_repeat(F.lit(MASK32).cast("long"), num_hashes),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                idx,
                lambda i: (h.getField("h1") + i * h.getField("h2")).bitwiseAND(
                    F.lit(MASK32)
                ),
            ),
            lambda a, b: F.least(a, b),
        ),
    )


def minhash_band_keys(
    docs_sh: DataFrame,
    id_col: str = "doc_id",
    num_hashes: int = 96,
    bands: int = 24,
) -> DataFrame:
    """(id, band_id, band_hash) LSH band keys from a (id, ``sh``)
    shingle projection — the compact join surface of MinHash banding
    (an id and two longs per band, never shingle arrays).

    Band key = masked polynomial fold of the signature slice — pure
    integer ops (no per-band string building), ANSI-overflow-safe: acc
    stays < 2^32, so ``acc*31 + x`` < 2^38.  Collisions only cost
    extra verify work (false candidates), never correctness.  Shared
    by the self-join pair lister (:func:`minhash_lsh_pairs`) and the
    stream-vs-corpus index probe
    (``streaming/docs_stream.py:near_dup_against_corpus``).
    """
    rows_per_band = num_hashes // bands
    if bands * rows_per_band != num_hashes:
        # a bare assert vanishes under python -O and would silently
        # drop the trailing hashes from every band (the pq_train
        # dim-guard lesson, ADVICE r9)
        raise ValueError(
            f"bands {bands} must divide num_hashes {num_hashes}"
        )
    return (
        docs_sh.select(
            id_col, minhash_signature(F.col("sh"), num_hashes).alias("sig")
        )
        .select(
            id_col,
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(bands - 1)),
                    lambda b: F.struct(
                        b.alias("band_id"),
                        F.aggregate(
                            F.slice(
                                "sig", b * rows_per_band + 1, rows_per_band
                            ),
                            F.lit(0).cast("long"),
                            lambda acc, x: (acc * 31 + x).bitwiseAND(
                                F.lit(MASK32)
                            ),
                        ).alias("band_hash"),
                    ),
                )
            ).alias("band"),
        )
        .select(id_col, "band.band_id", "band.band_hash")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 96,
    bands: int = 24,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-duplicate pairs via MinHash-LSH, verified with exact Jaccard.

    Stages (all declarative):
      1. per doc: distinct shingles + minhash signature (narrow, no shuffle)
      2. explode signature into ``bands`` bands; band key =
         xxhash64(band slice) → (band_id, band_hash, id)  (narrow)
      3. self-join on (band_id, band_hash) → candidate pairs (one
         hash-shuffle on the band key; bucket sizes are the skew knob —
         AQE skew-join handles hot buckets)
      4. exact Jaccard on the candidates' shingle sets; keep >= threshold.

    With b=24, r=4 (96 hashes) the S-curve threshold is
    (1/b)^(1/r) ≈ 0.45 — candidates are recalled well above
    ``jaccard_threshold=0.5`` and the exact filter removes false
    positives.  (96/24 rather than the classic 128/32: same r, ~25%
    less signature compute, measurably faster plan compile, identical
    pair set on the fixtures.)  Returns (id_a, id_b, jaccard) with
    id_a < id_b.
    """
    rows_per_band = num_hashes // bands
    if bands * rows_per_band != num_hashes:
        # a bare assert vanishes under python -O and would silently
        # drop the trailing hashes from every band (the pq_train
        # dim-guard lesson, ADVICE r9)
        raise ValueError(
            f"bands {bands} must divide num_hashes {num_hashes}"
        )

    # Eager checkpoints (optimization r14, guide §3.3 — the
    # hamming_pairs/ngram_jaccard_pairs pattern): the (id, shingles)
    # projection feeds three consumers (banding + both verify sides)
    # and the banded keys feed both self-join legs.  Only the spread()
    # EXCHANGE was reused across them — the shingle pipeline re-ran
    # per consumer and the 96-lane signature fold (the heaviest
    # interpreted HOF in the engine) re-ran once per self-join side.
    # Materialized state: shingle strings are O(corpus tokens) (the
    # BM25-postings footprint class); band keys are an id + two longs
    # per band — both released with the query's lineage, unlike a
    # session-lifetime persist().
    docs = (
        spread(df.select(F.col(id_col), F.col(text_col)), id_col)
        .select(
            F.col(id_col), shingles(F.col(text_col), shingle_n).alias("sh")
        )
        .localCheckpoint(eager=True)
    )

    # Band keys only — the heavy shingle arrays must NOT ride through the
    # band explode + self-join shuffle (ids and two longs do).
    banded = minhash_band_keys(docs, id_col, num_hashes, bands).localCheckpoint(
        eager=True
    )

    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            on=[
                F.col("a.band_id") == F.col("b.band_id"),
                F.col("a.band_hash") == F.col("b.band_hash"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )

    # Exact verify on the (few) candidates: re-attach shingle sets by id.
    a_sh = docs.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b_sh = docs.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    jac = (
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.size(F.array_union("sh_a", "sh_b"))
    ).alias("jaccard")
    return (
        cand.join(a_sh, "id_a")
        .join(b_sh, "id_b")
        .select("id_a", "id_b", jac)
        .where(F.col("jaccard") >= jaccard_threshold)
    )


def ngram_jaccard_pairs_blocked(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    block_on: str | None = "lang",
) -> DataFrame:
    """Naive exact n-gram Jaccard pairs: O(n²) join within a block.

    The production path is :func:`ngram_jaccard_pairs` (PPJoin prefix
    filtering, below) — this quadratic variant exists as its
    independent cross-validation baseline (tests assert identical
    output) and for small LSH-candidate re-scoring where the quadratic
    term is already bounded.  Returns (id_a, id_b, jaccard), id_a <
    id_b, jaccard rounded to 4 decimals.
    """
    docs = df.select(
        F.col(id_col), F.col(block_on) if block_on else F.lit(1).alias("_blk"),
        shingles(F.col(text_col), shingle_n).alias("sh"),
    ).withColumn("n_sh", F.size("sh"))
    blk = block_on or "_blk"
    a, b = docs.alias("a"), docs.alias("b")
    # Lossless length filter (classic similarity-join prefilter): at
    # Jaccard >= t, |sh_b| must lie in [t·|sh_a|, |sh_a|/t] — prunes
    # pairs BEFORE the O(|a|·|b|) intersection.
    pairs = a.join(
        b,
        on=[
            F.col(f"a.{blk}") == F.col(f"b.{blk}"),
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            F.col("b.n_sh") >= F.col("a.n_sh") * threshold,
            F.col("b.n_sh") * threshold <= F.col("a.n_sh"),
        ],
    )
    # |a ∪ b| = |a| + |b| - |a ∩ b|: one intersection per pair instead
    # of intersect + union (both are O(|a|·|b|) interpreted).  The
    # intersection lands in its own projection so the two references in
    # the Jaccard formula share one evaluation (CollapseProject keeps
    # the boundary for non-cheap multiply-referenced expressions).
    scored = pairs.select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        (F.col("a.n_sh") + F.col("b.n_sh")).alias("_n_sum"),
        F.size(F.array_intersect("a.sh", "b.sh")).alias("_i"),
    )
    return (
        scored.select(
            "id_a",
            "id_b",
            F.round(
                F.col("_i") / (F.col("_n_sum") - F.col("_i")), 4
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(
    col: Column | str,
    bits: int = 64,
    token_hash: "Callable[[Column], Column] | None" = None,
) -> Column:
    """SimHash of the token multiset (long).

    Classic Charikar sketch: per token, a hash gives a ``bits``-wide
    fingerprint; each bit position accumulates +1/-1; the sign vector is
    the simhash.  Implemented as aggregate over a per-bit counter array
    — pure higher-order functions, one pass over tokens.

    ``token_hash`` is the cross-engine seam: the default ``xxhash64``
    (64-bit, fastest) has no DuckDB twin, so oracle-checked surfaces
    pass ``sketches.md5_int56`` with ``bits=56`` — the md5-derived
    56-bit hash whose DuckDB equivalent is
    ``sketches.md5_int56_sql`` (same convention as the CMS sketch).
    """
    if token_hash is None:
        token_hash = F.xxhash64
    toks = tokenize(col)
    # Hash each token ONCE (optimization r13): the bit expressions
    # below reference the hash ``bits`` times, and with the hash
    # inlined per bit Catalyst evaluated the md5/xxhash subtree once
    # PER BIT per token — 56 md5+conv evaluations per token on the
    # oracle seam, measured as the dominant cost of simhash_near_dup
    # (~9 s fresh at sf0.1; ~1.4 s after).  A ``transform`` stages the
    # per-token hash as a long array; the per-bit ``shiftright`` then
    # costs an integer op, not a digest.
    hashes = F.transform(toks, lambda t: token_hash(t))
    # shiftright needs a *literal* shift amount, so the per-bit expressions
    # are built in a Python loop (constant-folded by Catalyst), not via a
    # higher-order-function index column.
    counters = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.when(
                        F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1,
                        F.lit(1),
                    ).otherwise(F.lit(-1))
                    for j in range(bits)
                ]
            ),
            lambda a, b: a + b,
        ),
    )
    # bit 63 as a Python int (1<<63) overflows a Java long literal; use the
    # two's-complement negative value for the sign bit.
    powers = F.array(
        *[
            F.lit(1 << j if j < 63 else -(1 << 63)).cast("long")
            for j in range(bits)
        ]
    )
    return F.aggregate(
        F.zip_with(
            counters,
            powers,
            lambda cnt, p: F.when(cnt > 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc.bitwiseOR(x),
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 64,
    blocks: int | None = None,
    token_hash: "Callable[[Column], Column] | None" = None,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= ``max_hamming``.

    Pigeonhole blocking: split the ``bits``-wide simhash into
    ``blocks`` > ``max_hamming`` chunks; any pair within distance
    ``max_hamming`` agrees exactly on at least one chunk, so candidates
    are found by a hash-join on (chunk_id, chunk_value) — never a cross
    join.  Exact Hamming distance (``bit_count(xor)``) then filters.
    The blocking is LOSSLESS (pigeonhole), so the output is exactly the
    set of pairs at Hamming <= ``max_hamming`` — with the md5
    ``token_hash`` seam this makes the operator oracle-checkable
    bit-for-bit (the driver query uses ``bits=56``).
    """
    sigs = spread(df.select(id_col, text_col), id_col).select(
        F.col(id_col),
        simhash(F.col(text_col), bits, token_hash=token_hash).alias("sig"),
    )
    return hamming_pairs(
        sigs,
        id_col=id_col,
        sig_col="sig",
        bits=bits,
        max_hamming=max_hamming,
        blocks=blocks,
    )


def hamming_pairs(
    sigs: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "sig",
    bits: int = 64,
    max_hamming: int = 3,
    blocks: int | None = None,
) -> DataFrame:
    """All pairs at Hamming distance <= ``max_hamming`` over ANY integer
    signature table — the pigeonhole block join shared by SimHash text
    dedup and perceptual-hash image dedup (operators/multimodal.py).

    Split the ``bits``-wide signature into ``blocks`` > ``max_hamming``
    chunks; any pair within distance ``max_hamming`` agrees exactly on
    at least one chunk, so candidates come from a hash-join on
    (chunk_id, chunk_value) — never a cross join, candidate volume ∝
    chunk collisions.  Exact ``bit_count(xor)`` then filters, so the
    blocking is LOSSLESS and the output is exactly the true pair set.
    Returns (id_a, id_b, hamming) with id_a < id_b.
    """
    if blocks is None:
        # pigeonhole: distance <= h guarantees agreement on one of h+1 chunks
        blocks = max(4, max_hamming + 1)
    if blocks <= max_hamming:
        # stripped under python -O this would silently break the
        # pigeonhole recall guarantee (distance <= h needs h+1 chunks)
        raise ValueError(
            f"need blocks ({blocks}) > max_hamming ({max_hamming})"
        )
    chunk_bits = bits // blocks
    mask = (1 << chunk_bits) - 1

    # Multi-consumer rule (r8; applied here in optimization r13): the
    # chunk self-join consumes the signature table TWICE, and when the
    # planner broadcasts one side the two subtrees materialize
    # SEPARATELY (no exchange reuse) — the whole upstream signature
    # pipeline (multimodal decode→fingerprint Python kernels, simhash
    # md5 folds) ran once per side, measured 4 MapInPandas evaluations
    # in one image_near_dup plan.  The materialized state is (id, sig)
    # — 16 bytes per asset, the "decide on small rows" proxy of guide
    # §8 — so the checkpoint is bounded at any corpus size and the
    # payload-bearing upstream runs exactly once.
    sigs = sigs.select(
        F.col(id_col), F.col(sig_col).alias("sig")
    ).localCheckpoint(eager=True)
    # literal shift amounts per chunk (shiftright requires int literals)
    chunked = sigs.select(
        id_col,
        "sig",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk_id"),
                        F.shiftright("sig", i * chunk_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("chunk_val"),
                    )
                    for i in range(blocks)
                ]
            )
        ).alias("c"),
    ).select(id_col, "sig", "c.chunk_id", "c.chunk_val")

    a, b = chunked.alias("a"), chunked.alias("b")
    return (
        a.join(
            b,
            on=[
                F.col("a.chunk_id") == F.col("b.chunk_id"),
                F.col("a.chunk_val") == F.col("b.chunk_val"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig"))).alias("hamming"),
        )
        .dropDuplicates(["id_a", "id_b"])
        .where(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard similarity join (prefix filtering)
# ---------------------------------------------------------------------------

def _prefix_key_col(s):
    """Canonical 128-bit prefix-filter key for one shingle: a pair of
    independent xxhash64 values as a struct — lexicographically total-
    ordered and collision-free in practice (the SAME 128-bit
    no-collision assumption the previous 32-char md5-hex key made; a
    collision on the full pair would be needed to break order
    totality, and a collision on h1 alone only ADDS candidates, never
    hides one, because truth pairs share the exact shingle and hence
    the exact key).  16 fixed bytes instead of a 32-char string, so
    every prefix-filter exchange, sort, aggregate and self-join runs
    on narrow fixed-width keys (optimization r13, guide §2.3) — and
    two xxhash64 calls are cheaper than one md5-to-hex.  Output
    invariance: the prefix-filter theorem holds for ANY global total
    order, so changing the canonical order changes candidate volume
    only; the exact verify step fixes the same final rows (the DuckDB
    oracle generates candidates under its own md5 order and matches)."""
    return F.struct(
        F.xxhash64(s).alias("h1"), F.xxhash64(s, F.lit(1)).alias("h2")
    )


def _prefix_keys(docs, id_col, keys, prefix_len, prefix_order, alias):
    """Shared prefix-key generator for the PPJoin-family exact joins
    (:func:`ngram_jaccard_pairs`, :func:`containment_pairs`): each
    doc's first ``prefix_len`` shingle digests under the chosen global
    canonical order, as (alias, pkey) rows.

    ``"df"`` ranks digests by ascending (document frequency, digest) —
    the classic PPJoin frequency order: corpus-hot digests (shared
    boilerplate) sort last and never enter a prefix, so candidate
    volume tracks the rare tail instead of Ω(hot_df²) (the hot-prefix
    pathology, bench_scale ``containment_hot_prefix``).  ``"digest"``
    slices the key-sorted array directly — zero pre-join shuffles.
    Both are lossless: the prefix-filter theorem holds for ANY global
    total order.

    Rows also carry ``_sz`` — the doc's shingle-set size — so callers
    can apply the lossless PPJoin LENGTH filter inside the candidate
    join (optimization r13): a narrow long per row, far cheaper than
    the candidate fan-out it prunes."""
    if prefix_order == "df":
        ex = docs.select(
            F.col(id_col).alias(alias),
            prefix_len.alias("_plen"),
            F.size("sh").cast("long").alias("_sz"),
            F.explode(keys).alias("pkey"),
        )
        df_tab = ex.groupBy("pkey").agg(F.count(F.lit(1)).alias("_df"))
        rk_w = Window.partitionBy(alias).orderBy(
            F.col("_df").asc(), F.col("pkey").asc()
        )
        return (
            ex.join(df_tab, "pkey")
            .withColumn("_rk", F.row_number().over(rk_w))
            .where(F.col("_rk") <= F.col("_plen"))
            .select(alias, "pkey", "_sz")
        )
    if prefix_order == "digest":
        return docs.select(
            F.col(id_col).alias(alias),
            F.size("sh").cast("long").alias("_sz"),
            F.explode(F.slice(keys, F.lit(1), prefix_len)).alias("pkey"),
        ).select(alias, "pkey", "_sz")
    raise ValueError(f"prefix_order must be 'df' or 'digest', got {prefix_order!r}")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
    prefix_order: str = "df",
) -> DataFrame:
    """EXACT n-gram Jaccard similarity join via prefix filtering
    (PPJoin family — Chaudhuri et al. '06 / Bayardo et al. '07).

    Unlike MinHash-LSH (:func:`minhash_lsh_pairs`, probabilistic recall)
    this is *lossless*: under a global canonical order of shingles, any
    pair with Jaccard >= t must share at least one shingle within each
    side's first ``|s| - ceil(t*|s|) + 1`` shingles (pigeonhole), so
    equi-joining on prefix shingle-hashes generates a candidate superset
    — then the exact Jaccard filter keeps truth only.  The theorem
    holds for ANY global total order, so ``prefix_order`` (see
    :func:`_prefix_keys` — ascending-df by default since r11, plain
    key order as the zero-extra-shuffle dial) changes candidate
    volume, never output.

    Scale shape: shuffle keys are 16-byte (h1, h2) xxhash64 pairs
    (:func:`_prefix_key_col`; the order needn't be oracle-reproducible
    because the output is order-invariant — the oracle generates its
    candidate superset under its own md5 order and the exact verify
    fixes the same rows); candidate volume is O(matching prefixes),
    not O(n²), and shrinks as the threshold rises.  Returns
    (id_a, id_b, jaccard), id_a < id_b.
    """
    docs = spread(df.select(id_col, text_col), id_col).select(
        F.col(id_col), shingles(F.col(text_col), shingle_n).alias("sh")
    )
    # No persist()/checkpoint — same reasoning as minhash_lsh_pairs:
    # all consumers (prefix gen + both verify sides) share ONE final
    # plan, so the spread() exchange is reused and AQE's stage cache
    # dedupes the repeated subtrees at runtime; a persist here cached
    # full shingle arrays for the session lifetime (never unpersisted)
    # and would spill cluster-wide at 100 TB.  Measured at sf0.1
    # (5-run medians, OPTIMIZATION_r14.md): no-checkpoint 2.23 s vs
    # (id, sh)-checkpoint 3.41 s vs prefix-table checkpoint
    # 6.48 s — materializing either intermediate LOSES because the
    # checkpoint forces a full write of the arrays while the AQE stage
    # cache was already skipping the "recomputed" subtrees, and the
    # checkpointed LogicalRDD hides size stats from the join planner.

    sz = F.size("sh")
    # Integer prefix bound (no float ceil — see _exact_pair_sizes).
    # The verify predicate is round(j, 4) >= threshold, which admits
    # pairs with j as low as threshold - 0.00005; bp = floor(t*1e4) - 1
    # is strictly below that, so the prefix filter stays lossless even
    # for round-up boundary pairs (one element longer at worst).
    bp = max(int(threshold * 10000) - 1, 0)
    alpha = F.floor((F.lit(bp) * sz + F.lit(9999)) / F.lit(10000.0))
    prefix_len = (sz - alpha + 1).cast("int")
    keys = F.array_sort(F.transform("sh", _prefix_key_col))
    pref = _prefix_keys(docs, id_col, keys, prefix_len, prefix_order, "_pid")

    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            on=[
                F.col("a.pkey") == F.col("b.pkey"),
                F.col("a._pid") < F.col("b._pid"),
                # PPJoin LENGTH filter (lossless, optimization r13):
                # j <= min(|A|,|B|)/max(|A|,|B|), so a pair can only
                # reach round(j,4) >= t when min*1e4 >= bp*max — prune
                # it inside the join, before the candidate dedup and
                # the shingle-array verify fan-out (sf0.1: 409k -> far
                # fewer verified pairs for the same output).
                F.col("a._sz") * 10000 >= F.lit(bp) * F.col("b._sz"),
                F.col("b._sz") * 10000 >= F.lit(bp) * F.col("a._sz"),
            ],
        )
        .select(
            F.col("a._pid").alias("id_a"),
            F.col("b._pid").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )

    a_sh = docs.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b_sh = docs.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = F.round(
        inter / (F.size("sh_a") + F.size("sh_b") - inter).cast("double"), 4
    ).alias("jaccard")
    return (
        cand.join(a_sh, "id_a")
        .join(b_sh, "id_b")
        .select("id_a", "id_b", jac)
        .where(F.col("jaccard") >= threshold)
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    prefix_order: str = "df",
) -> DataFrame:
    """EXACT asymmetric shingle-containment join: ordered pairs
    (a, b) with ``|sh(a) ∩ sh(b)| / |sh(a)| >= threshold`` — how much
    of document *a* already exists inside document *b*.  Jaccard
    (:func:`ngram_jaccard_pairs`) misses subset duplicates whenever
    the containing document is much longer (a quote embedded in a
    10× article has Jaccard ~0.1 but containment 1.0); containment is
    the dedup signal for quote-expansion, boilerplate-wrapped, and
    re-posted-with-commentary duplicates (the same asymmetry
    ``corpus_overlap_report`` uses at corpus grain, here at document
    grain with an exact guarantee).

    Losslessness (asymmetric prefix filter, Chaudhuri et al. '06):
    under ANY global total order on shingles, if ``|A∩B| >= t·|A|``
    then the first ``|A| - ceil(t·|A|) + 1`` shingles of A must hit
    B's FULL shingle set (pigeonhole on the probe side only) — so
    joining A-prefix keys against the full inverted index yields a
    candidate superset, and the exact verify keeps truth only.  The
    integer prefix bound mirrors ngram_jaccard_pairs: the verify
    predicate is ``round(c, 4) >= t``, so ``bp = floor(t·1e4) − 1``
    keeps boundary pairs admissible.

    ``prefix_order`` picks the canonical order (output is IDENTICAL
    either way — the theorem holds for any total order — so the
    brute-force oracle certifies both):

    * ``"df"`` (default) — ascending (document frequency, digest), the
      classic PPJoin frequency order: the RAREST shingles land in
      prefixes and corpus-hot shingles (boilerplate headers shared by
      every page — ubiquitous at crawl scale) never do, keeping
      candidate volume near-linear where the digest order degrades to
      Ω(hot_df²) ≈ O(n²) (the hot-prefix pathology, VERDICT r10 #4;
      measured in bench_scale ``containment_hot_prefix``).  Costs one
      extra (digest, df) aggregate + a per-doc rank window — linear,
      and the candidate savings dominate at any corpus with shared
      boilerplate.
    * ``"digest"`` — plain key order, zero pre-join shuffles: the
      cheap dial for corpora known to have no hot shingles (e.g.
      disjoint-vocabulary synthetics).

    Scale shape: the probe side explodes only prefixes (shrinks as t
    rises); the index side is the standard full inverted index — both
    shuffle 16-byte keys, never text; candidate volume is
    O(matching prefix keys), not O(n²).  Returns
    (id_a, id_b, containment) with id_a ≠ id_b, both directions
    reported independently.
    """
    docs = spread(df.select(id_col, text_col), id_col).select(
        F.col(id_col), shingles(F.col(text_col), shingle_n).alias("sh")
    )
    sz = F.size("sh")
    bp = max(int(threshold * 10000) - 1, 0)
    alpha = F.floor((F.lit(bp) * sz + F.lit(9999)) / F.lit(10000.0))
    prefix_len = (sz - alpha + 1).cast("int")
    keys = F.array_sort(F.transform("sh", _prefix_key_col))
    full = docs.select(
        F.col(id_col).alias("id_b"),
        F.size("sh").cast("long").alias("_szb"),
        F.explode(keys).alias("pkey"),
    )
    pref = _prefix_keys(docs, id_col, keys, prefix_len, prefix_order, "id_a")
    cand = (
        pref.join(full, ["pkey"])
        .where(F.col("id_a") != F.col("id_b"))
        # asymmetric LENGTH filter (lossless, optimization r13):
        # c(a→b) <= |B|/|A|, so round(c,4) >= t is only reachable when
        # |B|*1e4 >= bp*|A| — prune before the dedup + verify fan-out.
        .where(F.col("_szb") * 10000 >= F.lit(bp) * F.col("_sz"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    a_sh = docs.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b_sh = docs.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    contain = F.round(
        F.size(F.array_intersect("sh_a", "sh_b"))
        / F.size("sh_a").cast("double"),
        4,
    ).alias("containment")
    return (
        cand.join(a_sh, "id_a")
        .join(b_sh, "id_b")
        .select("id_a", "id_b", contain)
        .where(F.col("containment") >= threshold)
    )


def containment_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
    prefix_order: str = "df",
) -> DataFrame:
    """Keep-one decision layer over :func:`containment_pairs`: drop
    every document that is (near-)contained in a DOMINATING document —
    the quote-expansion cleanup a crawl corpus runs after symmetric
    dedup (the subset side contributes no new n-grams; keeping it
    double-counts the container's content at training time).

    Dominance is the strict total order ``(|sh|, −id)``: *b* dominates
    *a* iff ``containment(a→b) >= threshold`` and *b* is strictly
    larger (ties: smaller id).  Strictness makes mutual-containment
    pairs (two near-identical docs, both directions over threshold)
    keep exactly one survivor instead of deleting both, and guarantees
    the maximal element of any dominance chain survives.  NOTE
    containment at ``threshold < 1`` is not transitive, so along a
    chain a→b→c where b is also dropped, a's surviving "container" is
    transitively approximate — the same acceptance every near-dup
    keep-one policy makes (:func:`dedup_corpus`'s clusters have the
    identical property), stated here because the relation is
    asymmetric.  Deliberately NOT component-collapse: two unrelated
    articles that both contain the same quote are NOT duplicates of
    each other, so clustering the containment graph would over-delete;
    only dominated docs drop.

    Per input doc: (id, kept, contained_in, containment) where
    ``contained_in`` is the strongest dominator (highest containment,
    then largest, then smallest id) — NULL for survivors.

    Scale shape: the pair list is :func:`containment_pairs` (prefix-
    filtered, digests shuffle); the dominance pick is one window over
    the bounded pair table; the final verdict is a left join back on
    the id column.  Text never shuffles.
    """
    docs = spread(df.select(id_col, text_col), id_col).select(
        F.col(id_col), shingles(F.col(text_col), shingle_n).alias("sh")
    )
    sizes = docs.select(F.col(id_col), F.size("sh").alias("_sz"))
    pairs = containment_pairs(
        df, text_col, id_col, shingle_n, threshold, prefix_order
    )
    dom = (
        pairs.join(
            sizes.select(
                F.col(id_col).alias("id_a"), F.col("_sz").alias("_sz_a")
            ),
            "id_a",
        )
        .join(
            sizes.select(
                F.col(id_col).alias("id_b"), F.col("_sz").alias("_sz_b")
            ),
            "id_b",
        )
        .where(
            (F.col("_sz_b") > F.col("_sz_a"))
            | (
                (F.col("_sz_b") == F.col("_sz_a"))
                & (F.col("id_b") < F.col("id_a"))
            )
        )
    )
    w = Window.partitionBy("id_a").orderBy(
        F.col("containment").desc(),
        F.col("_sz_b").desc(),
        F.col("id_b").asc(),
    )
    best = (
        dom.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") == 1)
        .select(
            F.col("id_a").alias(id_col),
            F.col("id_b").alias("contained_in"),
            "containment",
        )
    )
    return (
        df.select(id_col)
        .join(best, id_col, "left")
        .select(
            id_col,
            F.col("contained_in").isNull().alias("kept"),
            "contained_in",
            "containment",
        )
    )


# ---------------------------------------------------------------------------
# Duplicate clusters (connected components over the near-dup pair graph)
# ---------------------------------------------------------------------------

def duplicate_clusters(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Assign every document to a duplicate cluster: connected
    components over the near-duplicate pair graph, component id = the
    minimum doc id reachable.  This is the step that turns pair lists
    (MinHash / SimHash / n-gram Jaccard output) into keep-one-per-
    cluster dedup decisions.

    Contract: one row per distinct ``docs`` id, (id_col, component).
    Only pairs between two ``docs`` ids are edges — an endpoint that is
    not a doc neither bridges two docs nor adds a row.  Self-loops,
    repeated pairs and either pair direction are the same edge; a null
    id is its own row with a null component; empty ``pairs`` makes
    every doc its own component.  Both columns keep the docs id type.

    Algorithm: FastSV-style hooking (Zhang, Azad & Hu, 2020) on a
    forest where each doc points at a doc id no larger than its own.
    One scan of ``docs`` and ``pairs`` builds the symmetric edge list
    plus a self-edge per distinct doc id, checkpointed once.  Each round
    every doc takes the least grandparent label among itself and its
    neighbours (shortcut + hooking; a non-doc endpoint has no self-edge
    and is dropped) and offers it to its parent (root hooking), so a
    tree's root takes a smaller label as soon as any child sees one.
    Each round is one eager localCheckpoint whose job also observes the
    changed-row count; the loop stops when it reads 0.  It always stops
    (a changed row takes a strictly smaller id of its component), after
    at most n rounds.  No logarithmic bound is proven; 40- and 1000-doc
    chains in ascending, min-at-far-end and shuffled id orders, and
    chains and trees of 32-256 docs in hill-climbed adversarial orders
    (``tools/ab_cc.py --search``), took at most log2(n) + 3 rounds.
    """
    ids = docs.select(F.col(id_col).alias("src")).dropDuplicates()
    # self-loops and pairs with a null end are dropped; a repeated pair
    # only repeats a row of the min aggregate, so pairs are not deduped
    edges = (
        pairs.where(F.col("id_a") != F.col("id_b"))
        .select(
            F.inline(
                F.array(
                    F.struct(F.col("id_a").alias("src"), F.col("id_b").alias("dst")),
                    F.struct(F.col("id_b").alias("src"), F.col("id_a").alias("dst")),
                )
            )
        )
        .unionByName(ids.withColumn("dst", F.col("src")))
        .localCheckpoint()
    )
    # a null id joins nothing: it skips the loop and keeps a null label
    labels = edges.where(F.col("src") == F.col("dst")).select(
        F.col("src").alias("id"), F.col("src").alias("comp")
    )
    while True:
        # both lookups (parent, then grandparent) filter and project the
        # labels alike, so the second reuses the first one's exchange
        ptr = labels.where(F.col("comp").isNotNull())
        low = (
            edges.join(ptr.select(F.col("id").alias("dst"), F.col("comp").alias("p")), "dst")
            .join(ptr.select(F.col("id").alias("p"), F.col("comp").alias("gp")), "p")
            .groupBy("src")
            .agg(F.min("gp").alias("low"),
                 F.max(F.when(F.col("src") == F.col("dst"), F.col("p"))).alias("old"))
            .where(F.col("old").isNotNull())
        )
        # each doc keeps its least label and offers it to its parent
        hooked, obs = observed(
            low.select(
                F.inline(
                    F.array(
                        F.struct(F.col("src").alias("id"), "low", "old"),
                        F.struct(F.col("old").alias("id"), "low",
                                 F.when(F.lit(False), F.col("old")).alias("old")),
                    )
                )
            ).groupBy("id").agg(F.min("low").alias("comp"), F.max("old").alias("old")),
            "duplicate_clusters_round",
            {"changed": F.count(F.when(F.col("comp") != F.col("old"), 1))},
        )
        labels = hooked.select("id", "comp").localCheckpoint()
        if obs.get["changed"] == 0:
            nulls = edges.where(F.col("src").isNull()).toDF("id", "comp")
            # the union may have widened ids to the pair type; every id
            # left is a docs id, so casting back is lossless
            id_type = docs.schema[id_col].dataType
            return labels.unionByName(nulls).select(
                F.col("id").cast(id_type).alias(id_col),
                F.col("comp").cast(id_type).alias("component"),
            )


# ---------------------------------------------------------------------------
# Scale-safe near-dup composition (exact-collapse -> LSH -> expand)
# ---------------------------------------------------------------------------

def _near_dup_parts(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    num_hashes: int,
    bands: int,
    jaccard_threshold: float,
) -> tuple[DataFrame, DataFrame]:
    """The internal seam of :func:`near_dup_pipeline`: exact-collapse to
    min-id representatives, then MinHash-LSH over the UNIQUE reps only.

    Returns ``(rep_pairs, membership)`` where ``rep_pairs`` is
    (id_a, id_b, jaccard) over representatives and ``membership`` is
    (member_id, rep_id) covering EVERY input row (reps map to
    themselves).  Exposed so consumers that only need CONNECTIVITY
    (:func:`dedup_corpus`) can take the linear member→rep star edges
    instead of the Ω(m²) within-group pair expansion.
    """
    fp = rolling_fingerprint(F.col(text_col)).alias("fingerprint")
    members = df.select(F.col(id_col), F.col(text_col)).withColumn(
        "fingerprint", fp
    )
    groups = members.groupBy("fingerprint").agg(
        F.min(id_col).alias("rep_id"), F.count("*").alias("n_copies")
    )
    # (member id -> representative id); the join key is the 32-char
    # digest, so this is a compact hash-shuffle (or broadcast when the
    # distinct side is small after collapse).
    membership = members.join(groups, "fingerprint").select(
        F.col(id_col).alias("member_id"), "rep_id"
    )
    reps = (
        members.join(
            groups.select(F.col("rep_id").alias(id_col)), id_col, "semi"
        ).select(id_col, text_col)
    )

    rep_pairs = minhash_lsh_pairs(
        reps,
        text_col=text_col,
        id_col=id_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
    )
    return rep_pairs, membership


def near_dup_pipeline(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 96,
    bands: int = 24,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs with the replica-safe composition order: (1)
    exact-collapse identical documents to a min-id representative
    (hash-groupBy on the md5 fingerprint — shuffles 32-char digests,
    never bodies), (2) MinHash-LSH pair generation over the UNIQUE
    representatives only, (3) expand rep-level pairs back through group
    membership.

    Why this is the 100 TB default: pair-listing is inherently
    Ω(output), but the *candidate generation* must not also be
    quadratic in replica-cluster size.  Boilerplate-heavy corpora (the
    common web-crawl case) put m near-identical copies of a page into
    one LSH band bucket, turning the banded self-join into m² candidate
    rows per cluster; collapsing exact duplicates first caps the
    quadratic term at the number of *distinct* texts (measured: the
    10x-replica pathology that ran 29.6x on the exact PPJoin and 2.3x
    on raw MinHash stays ~linear here — see bench_scale.py).

    Semantics are lossless w.r.t. the underlying pair contract: members
    of one exact group are pairwise Jaccard 1.0 (identical token
    sequences), and every cross-group member pair has exactly its
    representatives' Jaccard, so the expanded output equals the exact
    pair set whenever the LSH recall over representatives is complete
    (fixture-verified by the DuckDB oracle).  Returns
    (id_a, id_b, jaccard) with id_a < id_b, jaccard unrounded.
    """
    rep_pairs, membership = _near_dup_parts(
        df,
        text_col=text_col,
        id_col=id_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
    )

    # Expand rep pairs through membership on both sides; member ids may
    # order differently than their reps, so re-canonicalize id_a < id_b.
    ma = membership.select(
        F.col("rep_id").alias("id_a"), F.col("member_id").alias("ma")
    )
    mb = membership.select(
        F.col("rep_id").alias("id_b"), F.col("member_id").alias("mb")
    )
    cross = (
        rep_pairs.join(ma, "id_a")
        .join(mb, "id_b")
        .select(
            F.least("ma", "mb").alias("id_a"),
            F.greatest("ma", "mb").alias("id_b"),
            "jaccard",
        )
    )
    # Within-group pairs: identical texts, Jaccard exactly 1.0.
    g1, g2 = membership.alias("g1"), membership.alias("g2")
    within = (
        g1.join(
            g2,
            on=[
                F.col("g1.rep_id") == F.col("g2.rep_id"),
                F.col("g1.member_id") < F.col("g2.member_id"),
            ],
        )
        .select(
            F.col("g1.member_id").alias("id_a"),
            F.col("g2.member_id").alias("id_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return cross.unionByName(within)


def dedup_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 96,
    bands: int = 24,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """The end-to-end keep-one dedup surface: near-dup pair generation
    -> :func:`duplicate_clusters` connected components -> one surviving
    row per cluster (the min-id member, which is by construction the
    component label).

    Unlike the pair-LISTING contract (:func:`near_dup_pipeline`, which
    must emit all m²/2 within-group pairs for an m-replica exact
    group), connectivity only needs m−1 edges — so the component input
    here is the LINEAR edge set: rep-level LSH pairs ∪ member→rep star
    edges from the exact-collapse seam (:func:`_near_dup_parts`).  The
    components are identical (every member connects to its rep; reps
    connect exactly when their expanded members would), but a
    10⁶-replica boilerplate page contributes 10⁶ edges instead of
    5·10¹¹ intermediate pair rows — the difference between a dedup run
    that finishes and one that doesn't at 100 TB.

    This is what a training-data pipeline actually consumes — pair
    lists are the intermediate; the product is the deduplicated corpus
    plus per-survivor duplicate counts for yield accounting.  Returns
    (id_col, n_duplicates_removed) with one row per SURVIVING document
    (singletons included with 0 removed).
    """
    rep_pairs, membership = _near_dup_parts(
        df,
        text_col=text_col,
        id_col=id_col,
        shingle_n=shingle_n,
        num_hashes=num_hashes,
        bands=bands,
        jaccard_threshold=jaccard_threshold,
    )
    edges = rep_pairs.select("id_a", "id_b").unionByName(
        membership.where(F.col("member_id") != F.col("rep_id")).select(
            F.col("member_id").alias("id_a"), F.col("rep_id").alias("id_b")
        )
    )
    comps = duplicate_clusters(df.select(id_col), edges, id_col=id_col)
    sizes = comps.groupBy("component").agg(
        (F.count("*") - 1).alias("n_duplicates_removed")
    )
    return (
        comps.where(F.col(id_col) == F.col("component"))
        .join(sizes, "component")
        .select(id_col, "n_duplicates_removed")
    )


def source_overlap_matrix(
    df: DataFrame,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Pairwise source-duplication matrix: for every pair of sources,
    how many DISTINCT texts appear in both — the mixture-design view of
    duplication (if crawl-B is 80% contained in crawl-A, its mixture
    weight is buying far less novelty than its row count suggests).

    One fingerprint projection (digests shuffle, bodies never), one
    distinct on (fingerprint, source) — collapsing within-source
    copies so the matrix counts shared TEXTS, not shared rows — then a
    fingerprint-keyed self-join restricted to ``source_a < source_b``.
    The join's per-key fan-out is bounded by the number of sources
    (single digits), so candidate volume is O(distinct texts ·
    sources²) at worst and the usual case is one row per fingerprint.

    Returns (source_a, source_b, n_shared_texts) for every source pair
    with at least one shared text, source_a < source_b.
    """
    fp = rolling_fingerprint(F.col(text_col)).alias("fp")
    fs = (
        df.select(F.col(source_col).alias("_src"), fp)
        .dropDuplicates(["fp", "_src"])
    )
    a = fs.select("fp", F.col("_src").alias("source_a"))
    b = fs.select("fp", F.col("_src").alias("source_b"))
    return (
        a.join(b, "fp")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_shared_texts"))
    )


def novelty_curve(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10,
) -> DataFrame:
    """Crawl-novelty decay: per id-ordered corpus slice, how many
    documents are genuinely NEW text vs exact duplicates of anything
    seen in earlier slices (or earlier in the same slice) — the yield
    forecast that tells a crawl team when re-crawling stops paying.

    Same prefix construction as ``text_mining.vocabulary_growth``
    (equal-width id ranges between the corpus min/max id — no ntile
    global sort), same no-set-union trick: a TEXT is novel exactly once,
    in its fingerprint's MINIMUM bucket, so
    ``n_novel(b) = #{fingerprints: min_bucket = b}`` — one fingerprint
    groupBy (32-char digests shuffle, bodies never) against a per-bucket
    doc count.  Everything else in the bucket is duplicate mass.

    Returns (bucket, n_docs, n_novel, n_dup, novelty_bp) with
    ``novelty_bp = floor(10000 · n_novel / n_docs)``, one row per
    non-empty bucket, all integer.
    """
    bounds = df.agg(
        F.min(id_col).alias("_min_id"), F.max(id_col).alias("_max_id")
    )
    base = (
        df.select(F.col(id_col), rolling_fingerprint(F.col(text_col)).alias("fp"))
        .crossJoin(F.broadcast(bounds))
        .select(
            "fp",
            F.least(
                F.floor(
                    (F.col(id_col) - F.col("_min_id"))
                    * n_buckets
                    / (F.col("_max_id") - F.col("_min_id") + 1)
                ),
                F.lit(n_buckets - 1),
            ).cast("long").alias("bucket"),
        )
    )
    per_bucket = base.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_docs")
    )
    first_seen = (
        base.groupBy("fp")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("n_novel"))
    )
    return (
        per_bucket.join(first_seen, "bucket", "left")
        .select(
            "bucket",
            "n_docs",
            F.coalesce("n_novel", F.lit(0)).cast("long").alias("n_novel"),
        )
        .select(
            "bucket",
            "n_docs",
            "n_novel",
            (F.col("n_docs") - F.col("n_novel")).cast("long").alias("n_dup"),
            F.floor(F.col("n_novel") * 10000 / F.col("n_docs"))
            .cast("long")
            .alias("novelty_bp"),
        )
    )


def corpus_overlap_report(
    corpus_a: DataFrame,
    corpus_b: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 96,
    bands: int = 24,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Cross-corpus containment audit: how much of corpus B already
    exists in corpus A — the check run before merging a new crawl into
    a standing training corpus (how much is genuinely new?) or between
    a train corpus and an eval set (version-level contamination).

    Two containment notions per B document: **exact** (identical
    normalized text exists in A — fingerprint match) and **near**
    (some A document at Jaccard ≥ ``jaccard_threshold``; exact hits
    are near hits at 1.0 by construction).

    Composition is the replica-safe order of :func:`near_dup_pipeline`:
    both corpora exact-collapse to distinct-text representatives
    first, the MinHash band join runs A-reps × B-reps (cross-corpus —
    candidate volume is bounded by DISTINCT texts, so a boilerplate
    page repeated 10⁶ times in B costs one probe), and hits expand
    through B's per-fingerprint member counts as a sum, never a pair
    list.  Exact containment is a fingerprint semi-join — 32-char
    digests shuffle, bodies never do.

    Returns ONE row: (n_b_docs, n_exact_in_a, n_near_in_a, exact_bp,
    near_bp) where *_bp = floor(10000 · count / n_b_docs).
    """
    fp = rolling_fingerprint(F.col(text_col)).alias("fingerprint")
    a_m = corpus_a.select(F.col(id_col), F.col(text_col)).withColumn(
        "fingerprint", fp
    )
    b_m = corpus_b.select(F.col(id_col), F.col(text_col)).withColumn(
        "fingerprint", fp
    )
    a_g = a_m.groupBy("fingerprint").agg(F.min(id_col).alias("rep_id"))
    b_g = b_m.groupBy("fingerprint").agg(
        F.min(id_col).alias("rep_id"), F.count("*").alias("n_members")
    )

    n_b = corpus_b.agg(F.count("*").cast("long").alias("n_b_docs"))
    exact = (
        b_g.join(a_g.select("fingerprint"), "fingerprint", "semi")
        .agg(F.coalesce(F.sum("n_members"), F.lit(0)).cast("long")
             .alias("n_exact_in_a"))
    )

    # Cross-corpus LSH over distinct-text representatives only.
    a_sh = spread(
        a_m.join(
            a_g.select(F.col("rep_id").alias(id_col)), id_col, "semi"
        ).select(F.col(id_col), F.col(text_col)),
        id_col,
    ).select(F.col(id_col), shingles(F.col(text_col), shingle_n).alias("sh"))
    b_sh = spread(
        b_m.join(
            b_g.select(F.col("rep_id").alias(id_col)), id_col, "semi"
        ).select(F.col(id_col), F.col(text_col)),
        id_col,
    ).select(F.col(id_col), shingles(F.col(text_col), shingle_n).alias("sh"))

    ba = minhash_band_keys(a_sh, id_col, num_hashes, bands)
    bb = minhash_band_keys(b_sh, id_col, num_hashes, bands)
    cand = (
        bb.alias("b")
        .join(
            ba.alias("a"),
            on=[
                F.col("b.band_id") == F.col("a.band_id"),
                F.col("b.band_hash") == F.col("a.band_hash"),
            ],
        )
        .select(
            F.col(f"b.{id_col}").alias("b_rep"),
            F.col(f"a.{id_col}").alias("a_rep"),
        )
        .dropDuplicates(["b_rep", "a_rep"])
    )
    jac = (
        F.size(F.array_intersect("sh_b", "sh_a"))
        / F.size(F.array_union("sh_b", "sh_a"))
    ).alias("jaccard")
    hit_reps = (
        cand.join(
            b_sh.select(F.col(id_col).alias("b_rep"), F.col("sh").alias("sh_b")),
            "b_rep",
        )
        .join(
            a_sh.select(F.col(id_col).alias("a_rep"), F.col("sh").alias("sh_a")),
            "a_rep",
        )
        .select("b_rep", jac)
        .where(F.col("jaccard") >= jaccard_threshold)
        .select("b_rep")
        .dropDuplicates(["b_rep"])
    )
    near = (
        b_g.join(hit_reps, b_g.rep_id == hit_reps.b_rep, "semi")
        .agg(F.coalesce(F.sum("n_members"), F.lit(0)).cast("long")
             .alias("n_near_in_a"))
    )

    # 1-row × 1-row assemblies — the only acceptable crossJoins.
    return (
        n_b.crossJoin(exact)
        .crossJoin(near)
        .select(
            "n_b_docs",
            "n_exact_in_a",
            "n_near_in_a",
            F.floor(F.col("n_exact_in_a") * 10000 / F.col("n_b_docs"))
            .cast("long")
            .alias("exact_bp"),
            F.floor(F.col("n_near_in_a") * 10000 / F.col("n_b_docs"))
            .cast("long")
            .alias("near_bp"),
        )
    )


def duplicate_ngram_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 10,
    top: int = 100,
) -> DataFrame:
    """Cross-document repeated-span detection: word ``n``-grams that
    occur in 2+ distinct documents — the lightweight relative of
    suffix-array substring dedup (find boilerplate / licence headers /
    templated passages shared across a corpus at span granularity,
    where document-level near-dup misses them).

    POSITIONAL n-grams (not the distinct shingle set): a span repeated
    within one document counts every occurrence, so ``n_occurrences``
    is total span mass.  Returns the ``top`` spans by occurrence count
    (ties → gram asc): ``(gram, n_docs, n_occurrences, first_doc)``.

    One explode → one aggregate on the gram; the shuffle ships
    (gram, id) pairs and the final top-k is a TakeOrdered over the
    already-aggregated span table.  At 100 TB, group on ``md5(gram)``
    and resolve texts for the survivors only.
    """
    grams = positional_ngrams(tokenize(F.col(text_col)), n)
    exploded = df.select(F.col(id_col), F.explode(grams).alias("gram"))
    spans = (
        exploded.groupBy("gram")
        .agg(
            F.countDistinct(id_col).alias("n_docs"),
            F.count("*").alias("n_occurrences"),
            F.min(id_col).alias("first_doc"),
        )
        .where(F.col("n_docs") >= 2)
    )
    return spans.orderBy(
        F.col("n_occurrences").desc(), F.col("gram").asc()
    ).limit(top)


def incremental_dedup(
    existing: DataFrame,
    incoming: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dedup an *incoming batch* against an already-ingested corpus —
    the steady-state shape of a crawling pipeline, where re-fingerprinting
    the whole 100 TB corpus per batch (what :func:`exact_dedup` on the
    union would do) is a non-starter.

    Two-step: (1) anti-join the batch's fingerprints against the
    corpus's DISTINCT fingerprint set — the existing side ships 32-char
    hashes only, never document bodies (at scale this set is a
    maintained fingerprint index, appended per batch); (2) collapse
    within-batch duplicates exactly like :func:`exact_dedup` (min-id
    representative).  Returns one row per SURVIVING incoming document:
    ``(fingerprint, id, n_copies)`` where ``n_copies`` counts the
    batch-internal copies it absorbed.
    """
    fp = rolling_fingerprint(F.col(text_col)).alias("fingerprint")
    seen = existing.select(fp).distinct()
    fresh = incoming.select(F.col(id_col), fp).join(
        seen, "fingerprint", "left_anti"
    )
    return fresh.groupBy("fingerprint").agg(
        F.min(id_col).alias(id_col), F.count("*").alias("n_copies")
    )


def fingerprint_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_df: int | None = None,
) -> DataFrame:
    """MOSS-style local-overlap detection: document pairs sharing
    ``min_shared`` or more winnowing fingerprints — catches documents
    that share *passages* (quotes, licence blocks, templated sections)
    even when whole-document Jaccard is far below any near-dup
    threshold.  The winnowing guarantee makes this exhaustive for
    shared runs of ``window + k - 1`` consecutive words.

    Plan: fingerprint arrays are materialized once (localCheckpoint —
    explode would otherwise re-run the hash pipeline per emitted
    element, see functions.text.window_minima), then a self-join on the
    16-hex-char fingerprint and a per-pair count.  Candidate volume is
    Σ df(fp)² — on real corpora bound it with ``max_df`` (drop
    boilerplate fingerprints appearing in more than ``max_df``
    documents; they generate quadratic candidates and carry no
    discriminating signal, the same reasoning as stop-lists in
    similarity joins).

    Returns ``(id_a, id_b, n_shared)`` with ``id_a < id_b``.
    """
    from youtube_podcast_data_pipeline_azure_spark.functions.text import winnowing_fingerprints_df

    fps = winnowing_fingerprints_df(
        df, text_col=text_col, id_col=id_col, k=k, window=window
    ).localCheckpoint()
    e = fps.select(F.col(id_col), F.explode("fingerprints").alias("fp"))
    if max_df is not None:
        keep = (
            e.groupBy("fp")
            .agg(F.count("*").alias("_df"))
            .where(F.col("_df") <= max_df)
            .select("fp")
        )
        e = e.join(keep, "fp")
    a = e.select(F.col(id_col).alias("id_a"), "fp")
    b = e.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def remove_repeated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 10,
) -> DataFrame:
    """ExactSubstr-style span-granular dedup REWRITE: every word
    ``n``-gram occurrence after the corpus-wide first (ordered by
    (doc, position)) masks its token positions, and masked tokens are
    dropped from the document.  The rewrite complement of
    :func:`duplicate_ngram_spans` — that op *reports* shared spans,
    this one removes them, keeping exactly one copy corpus-wide (the
    policy of Lee et al. 2022's suffix-array ExactSubstr dedup, at
    n-gram rather than maximal-match granularity).

    A span of length L >= n repeats as L-n+1 overlapping duplicated
    grams, so masking the union of covered positions removes the
    second copy wholly while the first survives.  Within-document
    repeats count too (total occurrences, not distinct docs — a doc
    that stutters a span twice loses the second).

    Scale shape: positional grams explode to (md5-16 hash, doc, pos) —
    the gram aggregate and the occurrence-rank shuffle both ship
    16-char digests, never text.  Coverage positions explode narrowly
    (n rows per MASKED occurrence only), and reassembly is one shuffle
    on doc id.  Out-of-range cover positions (short-doc whole-text
    grams) are harmless: they match no real token position.

    Returns (id, text rebuilt from surviving tokens, n_tokens_removed,
    n_tokens long).
    """
    # localCheckpoint before the two Generates: both the gram explode
    # and the token explode would otherwise re-run tokenize per emitted
    # element (Catalyst re-evaluation trap #4, see verify skill).
    base = df.select(
        F.col(id_col), tokenize(F.col(text_col)).alias("_toks")
    ).localCheckpoint()
    occ = base.select(
        F.col(id_col), F.posexplode(positional_ngrams(F.col("_toks"), n))
    ).select(
        F.col(id_col),
        F.col("pos"),
        F.substring(F.md5(F.col("col")), 1, 16).alias("_g"),
    )
    w = Window.partitionBy("_g").orderBy(F.col(id_col).asc(), F.col("pos").asc())
    ranked = occ.withColumn("_rn", F.row_number().over(w)).withColumn(
        "_tot", F.count("*").over(Window.partitionBy("_g"))
    )
    masked = ranked.where((F.col("_tot") >= 2) & (F.col("_rn") > 1))
    covered = (
        masked.select(
            F.col(id_col),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
            ).alias("_p"),
        )
        .dropDuplicates([id_col, "_p"])
    )
    tok_rows = base.select(
        F.col(id_col), F.posexplode(F.col("_toks")).alias("_p", "_tok")
    )
    kept = tok_rows.join(covered, [id_col, "_p"], "anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("_p"), F.col("_tok")))
                ),
                lambda s: s.getField("_tok"),
            ),
            " ",
        ).alias(text_col),
        F.count("*").alias("_n_kept"),
    )
    original = base.select(F.col(id_col), F.size("_toks").alias("_n_toks"))
    return original.join(rebuilt, id_col, "left").select(
        F.col(id_col),
        F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
        (F.col("_n_toks") - F.coalesce(F.col("_n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_tokens_removed"),
        F.col("_n_toks").cast("long").alias("n_tokens"),
    )


def dedup_keep_best(
    docs: DataFrame,
    pairs: DataFrame,
    score_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep-BEST dedup decision: connected-component clusters over the
    near-dup pair graph, then keep the highest-``score_col`` member per
    cluster (ties → lowest id).

    Production dedup rarely keeps the min-id copy — it keeps the best
    copy (highest quality score, longest, most recent) and drops its
    near-duplicates.  This composes :func:`duplicate_clusters` with any
    scoring column into that decision surface.  One extra shuffle on
    ``component`` beyond clustering; ranking + cluster size share the
    single window exchange.

    Returns (id, component, cluster_size, score_col, is_kept) for every
    input document — filter ``is_kept`` for the surviving corpus, or
    audit the dropped rows directly.
    """
    clusters = duplicate_clusters(docs, pairs, id_col=id_col)
    scored = clusters.join(
        docs.select(F.col(id_col), F.col(score_col)), id_col
    )
    w = Window.partitionBy("component")
    rank_w = w.orderBy(F.col(score_col).desc(), F.col(id_col).asc())
    return (
        scored.withColumn("_rk", F.row_number().over(rank_w))
        .withColumn("cluster_size", F.count("*").over(w).cast("long"))
        .select(
            F.col(id_col),
            "component",
            "cluster_size",
            F.col(score_col),
            (F.col("_rk") == 1).alias("is_kept"),
        )
    )


# ---------------------------------------------------------------------------
# Dedup audit reports: threshold sensitivity, cluster-size distribution,
# provenance, and MinHash estimator accuracy
# ---------------------------------------------------------------------------

def _exact_pair_sizes(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    base_bp: int,
) -> DataFrame:
    """Prefix-filtered exact-Jaccard pairs with INTEGER set sizes:
    (id_a, id_b, inter, uni) for every pair with
    ``inter * 10000 >= base_bp * uni`` — the all-integer form of
    ``jaccard >= base_bp/10000`` (exact, no float rounding at the
    threshold boundary, reproducible bit-for-bit in any engine).

    Same PPJoin prefix-filter shape as :func:`ngram_jaccard_pairs`
    (xxhash64-pair canonical order, candidates O(matching prefixes));
    kept
    separate because the audit operators below need the raw
    intersection/union counts, not the rounded ratio.
    """
    docs = spread(df.select(id_col, text_col), id_col).select(
        F.col(id_col), shingles(F.col(text_col), shingle_n).alias("sh")
    )
    sz = F.size("sh")
    # required overlap alpha = ceil(base_bp*sz/10000) in PURE INTEGERS:
    # float ceil(t*sz) overshoots when t's double repr rounds up and
    # t*sz lands on an exact integer (t=0.95, sz=20 -> 20 not 19),
    # shortening the prefix and losing threshold-boundary pairs.
    # (base_bp*sz + 9999) is < 2^53, so floor-div via double is exact.
    alpha = F.floor((F.lit(base_bp) * sz + F.lit(9999)) / F.lit(10000.0))
    prefix_len = (sz - alpha + 1).cast("int")
    pref = docs.select(
        id_col,
        F.size("sh").cast("long").alias("_sz"),
        F.explode(
            F.slice(
                F.array_sort(F.transform("sh", _prefix_key_col)),
                F.lit(1),
                prefix_len,
            )
        ).alias("pkey"),
    )
    cand = (
        pref.alias("a")
        .join(
            pref.alias("b"),
            on=[
                F.col("a.pkey") == F.col("b.pkey"),
                F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
                # lossless PPJoin length filter — same bound as
                # ngram_jaccard_pairs, in base_bp integer form
                F.col("a._sz") * 10000 >= F.lit(base_bp) * F.col("b._sz"),
                F.col("b._sz") * 10000 >= F.lit(base_bp) * F.col("a._sz"),
            ],
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    a_sh = docs.select(F.col(id_col).alias("id_a"), F.col("sh").alias("sh_a"))
    b_sh = docs.select(F.col(id_col).alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    uni = (F.size("sh_a") + F.size("sh_b")).cast("long") - inter
    return (
        cand.join(a_sh, "id_a")
        .join(b_sh, "id_b")
        .select("id_a", "id_b", inter.alias("inter"), uni.alias("uni"))
        .where(
            (F.col("uni") > 0)
            & (F.col("inter") * 10000 >= F.lit(base_bp) * F.col("uni"))
        )
    )


def dedup_threshold_curve(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    thresholds_bp: tuple[int, ...] = (5000, 6000, 7000, 8000, 9000, 9500),
) -> DataFrame:
    """Threshold-sensitivity report for near-dup dedup: for each
    candidate Jaccard threshold, how many pairs and how many distinct
    documents would be implicated — the choose-your-threshold view a
    curation run needs BEFORE committing to a dedup pass (too low ⇒
    false merges, too high ⇒ residual duplication).

    One pair-generation pass at the LOWEST threshold (prefix filtering
    is lossless above it), then a per-threshold fan-out over the pair
    list — the fan-out multiplies the (small, Ω(output)) pair list by
    |thresholds|, never the corpus.  All comparisons are integer
    cross-multiplications (``inter·10⁴ ≥ thr·union``), so the curve is
    bit-identical on any engine.  At 100 TB the pair list is the
    near-dup output — millions of rows, not corpus-sized — and both
    aggregates run with map-side partials on it.

    Returns (threshold_bp, n_pairs, n_docs_affected), one row per
    threshold (0-row thresholds report 0).
    """
    base_bp = min(thresholds_bp)
    # The prefix-filtered pair pass is the expensive subtree and feeds
    # BOTH aggregates below — without a checkpoint Catalyst pastes it
    # per consumer and the PPJoin runs twice (measured 7.7 s → 2.6 s at
    # sf0.1).  The checkpointed rows are the Ω(output) pair list
    # (id, id, two longs), never corpus-sized.
    pairs = _exact_pair_sizes(
        df, text_col, id_col, shingle_n, base_bp
    ).localCheckpoint()
    fanned = (
        pairs.select(
            "id_a",
            "id_b",
            "inter",
            "uni",
            F.explode(
                F.array(*[F.lit(int(t)) for t in sorted(thresholds_bp)])
            ).alias("threshold_bp"),
        )
        .where(F.col("inter") * 10000 >= F.col("threshold_bp") * F.col("uni"))
    )
    n_pairs = fanned.groupBy("threshold_bp").agg(
        F.count("*").cast("long").alias("n_pairs")
    )
    n_docs = (
        fanned.select(
            "threshold_bp",
            F.explode(F.array("id_a", "id_b")).alias("_id"),
        )
        .dropDuplicates(["threshold_bp", "_id"])
        .groupBy("threshold_bp")
        .agg(F.count("*").cast("long").alias("n_docs_affected"))
    )
    thr = F.explode(
        F.array(*[F.lit(int(t)) for t in sorted(thresholds_bp)])
    ).alias("threshold_bp")
    all_thr = df.sparkSession.range(1).select(thr)
    return (
        all_thr.join(n_pairs, "threshold_bp", "left")
        .join(n_docs, "threshold_bp", "left")
        .select(
            F.col("threshold_bp").cast("long").alias("threshold_bp"),
            F.coalesce("n_pairs", F.lit(0)).cast("long").alias("n_pairs"),
            F.coalesce("n_docs_affected", F.lit(0))
            .cast("long")
            .alias("n_docs_affected"),
        )
    )


def component_size_report(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Cluster-size distribution of the near-dup graph: how many
    duplicate clusters exist at each size, and how many documents they
    hold.  The over-merge diagnostic: a healthy near-dup graph is
    overwhelmingly singletons + small cliques; a giant component (one
    huge max-size row) means the threshold is too low or boilerplate
    is bridging unrelated documents — THE standing failure mode of
    web-scale dedup, worth one cheap report before deleting anything.

    Components via :func:`duplicate_clusters` (min-label hooking with
    pointer jumping), then two aggregates —
    component → size, size → (n_clusters, n_docs) — both map-side
    partial, both over (id, label) rows only.

    Returns (cluster_size, n_clusters, n_docs), one row per occurring
    size.
    """
    comps = duplicate_clusters(docs, pairs, id_col=id_col)
    sizes = comps.groupBy("component").agg(
        F.count("*").cast("long").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count("*").cast("long").alias("n_clusters"),
        F.sum("cluster_size").cast("long").alias("n_docs"),
    )


def dedup_provenance(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Keep-one dedup WITH provenance: one row per duplicate cluster
    carrying the surviving (min-id) representative, the member count,
    and the sorted distinct sources the cluster's members came from —
    the C4/Dolma-style audit trail that lets a training run answer
    "this kept document also appeared in sources X,Y" after the
    duplicates are gone (attribution, takedown, and mixture-accounting
    all need it).

    Cost shape: components over the pair graph, one join to re-attach
    the source column (id-keyed, digests-only shuffle), one aggregate
    per component.  The collected set is DISTINCT SOURCES (single
    digits), never member ids, so the per-group state is tiny at any
    corpus size.  Sources are serialized as a sorted comma-join, making
    the row hashable and engine-stable.

    Returns (rep_id, n_docs, n_sources, sources).
    """
    comps = duplicate_clusters(docs, pairs, id_col=id_col)
    with_src = comps.join(
        docs.select(F.col(id_col), F.col(source_col)), id_col
    )
    return (
        with_src.groupBy("component")
        .agg(
            F.min(id_col).cast("long").alias("rep_id"),
            F.count("*").cast("long").alias("n_docs"),
            F.countDistinct(source_col).cast("long").alias("n_sources"),
            F.array_join(
                F.array_sort(F.collect_set(source_col)), ","
            ).alias("sources"),
        )
        .drop("component")
    )


def _minhash_signature_md5(shingle_col: Column, num_hashes: int) -> Column:
    """MinHash signature on the md5 oracle seam: identical
    Kirsch-Mitzenmacher construction to :func:`minhash_signature`
    (slot *i* = min over shingles of ``(h1 + i·h2) & 0xffffffff``) but
    with ``h1 = md5_int56(s) & MASK32`` and
    ``h2 = (md5_int56(s || ':7') & MASK32) | 1`` — the same
    engine-portable hash :mod:`sketches` uses for SimHash, so a SQL
    oracle can recompute the signature bit-for-bit.  Production dials
    stay on the xxhash64 signature (md5 costs ~25× per hash); this
    seam exists for the accuracy AUDIT, which runs on a bounded pair
    sample, not the corpus hot path.
    """
    from youtube_podcast_data_pipeline_azure_spark.operators.sketches import (
        md5_int56,
    )

    hashed = F.transform(
        shingle_col,
        lambda s: F.struct(
            md5_int56(s).bitwiseAND(F.lit(MASK32)).alias("h1"),
            md5_int56(F.concat(s, F.lit(":7")))
            .bitwiseAND(F.lit(MASK32))
            .bitwiseOR(F.lit(1))
            .alias("h2"),
        ),
    )
    idx = F.array(*[F.lit(i).cast("long") for i in range(num_hashes)])
    return F.aggregate(
        hashed,
        F.array_repeat(F.lit(MASK32).cast("long"), num_hashes),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                idx,
                lambda i: (h.getField("h1") + i * h.getField("h2")).bitwiseAND(
                    F.lit(MASK32)
                ),
            ),
            lambda a, b: F.least(a, b),
        ),
    )


def minhash_accuracy_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 64,
    strides: tuple[int, ...] = (1, 157),
    near_dup_threshold: float = 0.5,
) -> DataFrame:
    """MinHash estimator-error audit: on a bounded, deterministic pair
    sample, compare the signature's Jaccard estimate (matching slots /
    k) against EXACT set Jaccard and report the absolute error by
    exact-similarity decile — the t-digest-accuracy pattern applied to
    the dedup sketch.  This is the dial-tuning evidence (is k=64 enough
    at my operating threshold?) that an approximate dedup pass should
    ship with; the expected |error| is ~sqrt(j(1-j)/k) per the binomial
    estimator, and the report makes that measurable on the actual
    corpus rather than assumed.

    Pair sample = the near-dup pair set (exact-verified, j ≥ threshold
    — the regime dedup acts on) ∪ fixed id-stride pairs (id, id+s)
    (the j ≈ 0 background) — both deterministic, both linear in the
    corpus, never an all-pairs product.  Signatures ride the md5 oracle
    seam (:func:`_minhash_signature_md5`); estimates, exact Jaccard,
    and errors are all integer basis points via floor division
    (``k=64`` is a power of two, so est_bp is exact even through
    doubles).

    Returns (jaccard_bucket, n_pairs, mean_abs_err_bp, max_abs_err_bp),
    bucket = exact-Jaccard decile 0-10.

    Cost contract: the signature subtree is deliberately evaluated once
    per join side (two corpus passes) rather than materialized — at
    100 TB, checkpointing (id, shingles, signature) rows would persist
    a corpus-sized intermediate for a one-shot audit; two streaming
    passes over the scan are the cheaper trade.  Pipelines that reuse
    signatures across MANY audits should persist
    ``_minhash_signature_md5`` output as a table instead.
    """
    docs = spread(df.select(id_col, text_col), id_col).select(
        F.col(id_col), shingles(F.col(text_col), shingle_n).alias("sh")
    )
    ids = docs.select(F.col(id_col).alias("id_a"))
    stride_pairs = None
    for s in strides:
        p = ids.join(
            docs.select((F.col(id_col) - s).alias("id_a")).select("id_a"),
            "id_a",
        ).select("id_a", (F.col("id_a") + s).alias("id_b"))
        stride_pairs = p if stride_pairs is None else stride_pairs.union(p)
    near = _exact_pair_sizes(
        df, text_col, id_col, shingle_n, int(near_dup_threshold * 10000)
    ).select("id_a", "id_b")
    sample = stride_pairs.union(near).dropDuplicates(["id_a", "id_b"])

    sig = docs.select(
        F.col(id_col),
        F.col("sh"),
        _minhash_signature_md5(F.col("sh"), num_hashes).alias("sig"),
    )
    a = sig.select(
        F.col(id_col).alias("id_a"),
        F.col("sh").alias("sh_a"),
        F.col("sig").alias("sig_a"),
    )
    b = sig.select(
        F.col(id_col).alias("id_b"),
        F.col("sh").alias("sh_b"),
        F.col("sig").alias("sig_b"),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("long")
    uni = (F.size("sh_a") + F.size("sh_b")).cast("long") - inter
    matches = F.aggregate(
        F.zip_with(
            F.col("sig_a"),
            F.col("sig_b"),
            lambda x, y: F.when(x == y, F.lit(1)).otherwise(F.lit(0)),
        ),
        F.lit(0).cast("long"),
        lambda acc, m: acc + m,
    )
    scored = (
        sample.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            inter.alias("inter"),
            uni.alias("uni"),
            matches.alias("matches"),
        )
        .where(F.col("uni") > 0)
        .select(
            F.floor(F.col("matches") * 10000 / F.lit(num_hashes))
            .cast("long")
            .alias("est_bp"),
            F.floor(F.col("inter") * 10000 / F.col("uni"))
            .cast("long")
            .alias("exact_bp"),
        )
    )
    return (
        scored.select(
            F.floor(F.col("exact_bp") / 1000).cast("long").alias(
                "jaccard_bucket"
            ),
            F.abs(F.col("est_bp") - F.col("exact_bp")).alias("err_bp"),
        )
        .groupBy("jaccard_bucket")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.floor(F.sum("err_bp") / F.count("*"))
            .cast("long")
            .alias("mean_abs_err_bp"),
            F.max("err_bp").cast("long").alias("max_abs_err_bp"),
        )
    )


def source_overlap_near(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """NEAR-duplicate twin of :func:`source_overlap_matrix`: for every
    source pair, how many distinct near-dup CLUSTERS contain documents
    from both — catching cross-source duplication the exact-fingerprint
    matrix misses (syndicated articles with edited bylines, re-crawls
    with template changes).  Together the two matrices bound the truth:
    exact ≤ real ≤ near.

    Components over the pair graph, one distinct on (component, source)
    — collapsing within-source members so clusters count once per
    source — then a component-keyed self-join whose per-key fan-out is
    bounded by the source count (single digits), the
    :func:`source_overlap_matrix` argument.

    Returns (source_a, source_b, n_shared_clusters), source_a <
    source_b.
    """
    comps = duplicate_clusters(docs, pairs, id_col=id_col)
    cs = (
        comps.join(docs.select(F.col(id_col), F.col(source_col)), id_col)
        .select("component", F.col(source_col).alias("_src"))
        .dropDuplicates(["component", "_src"])
    )
    a = cs.select("component", F.col("_src").alias("source_a"))
    b = cs.select("component", F.col("_src").alias("source_b"))
    return (
        a.join(b, "component")
        .where(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n_shared_clusters"))
    )


def canonical_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Normalization-insensitive exact dedup (the C4/RefinedWeb
    canonicalization step): lowercase, strip every non-alphanumeric
    character to a space, collapse whitespace — THEN fingerprint and
    keep the min-id representative.  Catches the re-encodes plain
    exact dedup misses (case changes, punctuation edits, smart-quote
    swaps) without paying for near-dup machinery; sits between
    :func:`exact_dedup` and the shingle pipelines on the
    cost/recall curve.

    Same scale shape as :func:`exact_dedup`: the canonicalization is a
    narrow per-row expression, the shuffle key is the 32-char digest,
    bodies never shuffle.  Reports both the surviving id and how many
    RAW-distinct texts each canonical group collapsed (n_raw_distinct >
    1 ⇒ documents that only normalization unified — the interesting
    rows for an audit).

    Returns (fingerprint, doc_id, n_copies, n_raw_distinct).
    """
    canon = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.lower(F.col(text_col)), "[^a-z0-9 ]", " "
            ),
            " +",
            " ",
        )
    )
    return (
        df.select(
            F.col(id_col),
            F.md5(canon).alias("fingerprint"),
            rolling_fingerprint(F.col(text_col)).alias("_raw_fp"),
        )
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").cast("long").alias("n_copies"),
            F.countDistinct("_raw_fp").cast("long").alias("n_raw_distinct"),
        )
    )


#: default (bands, rows) design points for :func:`minhash_band_tuning`
#: — the configurations a 100-TB dedup run actually chooses between
#:   (signature size = bands·rows ∈ {16 … 256})
BAND_TUNING_CONFIGS: tuple[tuple[int, int], ...] = (
    (4, 4), (8, 4), (16, 4), (32, 4), (8, 8), (16, 8), (32, 8),
)


def minhash_band_tuning(
    spark,
    configs: "tuple[tuple[int, int], ...]" = BAND_TUNING_CONFIGS,
    permille_step: int = 50,
) -> DataFrame:
    """The LSH design table: for each (bands, rows) signature layout
    and each Jaccard similarity on a permille grid, the probability a
    pair at that similarity becomes an LSH candidate —
    ``1 − (1 − s^rows)^bands`` (the S-curve every MinHash paper plots;
    datasketch's ``optimal_param`` tunes against the same family).
    This is how the engine's own ``minhash_lsh_pairs`` banding is
    sized BEFORE a 100-TB run: read the row where recall crosses the
    target threshold instead of re-running dedup per config.

    Determinism across engines: ``s^rows`` and ``(1−p)^bands`` are
    computed as explicit sequential multiply folds over
    ``array_repeat`` — chained IEEE-754 multiplies are bit-identical
    on every engine, unlike ``pow()`` which routes through libm — and
    surface as ``floor(1e6·x)`` ppm integers.  Pure literal-table
    arithmetic: no scan, no shuffle; the output is
    O(|configs|·1000/step) rows.

    Returns (bands, rws, s_permille, candidate_ppm).
    """
    grid = [
        (int(b), int(r), int(s))
        for (b, r) in configs
        for s in range(permille_step, 1001, permille_step)
    ]
    base = spark.createDataFrame(
        grid, "bands int, rws int, s_permille int"
    )
    s = F.col("s_permille").cast("double") / F.lit(1000.0)
    p_band = F.aggregate(
        F.array_repeat(s, F.col("rws")),
        F.lit(1.0),
        lambda acc, x: acc * x,
    )
    staged = base.select("bands", "rws", "s_permille", p_band.alias("_p"))
    miss = F.aggregate(
        F.array_repeat(F.lit(1.0) - F.col("_p"), F.col("bands")),
        F.lit(1.0),
        lambda acc, x: acc * x,
    )
    return staged.select(
        "bands",
        "rws",
        "s_permille",
        F.floor(F.lit(1_000_000.0) * (F.lit(1.0) - miss))
        .cast("long")
        .alias("candidate_ppm"),
    )


# ---------------------------------------------------------------------------
# MinHash LSH band-index persistence (build once, probe every batch)
# ---------------------------------------------------------------------------

def minhash_index_write(
    corpus: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 96,
    bands: int = 24,
) -> None:
    """Build the standing corpus's near-dup lookup surfaces ONCE and
    persist them — the fifth member of the build-once index family
    (IVF lists, PQ codebooks, suffix ranks, BM25 postings): every
    incoming crawl batch then probes the saved index instead of
    re-fingerprinting the corpus.

    Layout: ``{path}/bands`` — the (id, band_id, band_hash) probe
    table, range-clustered on (band_id, band_hash) so files carry
    disjoint min/max footers; ``{path}/shingles`` — the per-doc
    shingle sets consulted only for exact-Jaccard candidate verify;
    ``{path}/meta`` — one row recording (shingle_n, num_hashes, bands,
    id_col) so probes CANNOT band with mismatched parameters.  Index
    layout = data: appends, compaction, GDPR deletes all inherit the
    engine's sink operators."""
    from youtube_podcast_data_pipeline_azure_spark.streaming.docs_stream import (
        corpus_near_dup_index,
    )

    spark = corpus.sparkSession
    index, sh = corpus_near_dup_index(
        corpus, text_col, id_col, shingle_n, num_hashes, bands
    )
    (
        index.repartitionByRange(4, "band_id", "band_hash")
        .sortWithinPartitions("band_id", "band_hash")
        .write.mode("overwrite")
        .parquet(f"{path}/bands")
    )
    sh.write.mode("overwrite").parquet(f"{path}/shingles")
    spark.createDataFrame(
        [(shingle_n, num_hashes, bands, id_col)],
        "shingle_n int, num_hashes int, bands int, id_col string",
    ).write.mode("overwrite").parquet(f"{path}/meta")


def minhash_index_load(spark, path: str):
    """Load a persisted MinHash band index: (band table, shingle table,
    meta dict).  Meta is one bounded 1-row collect."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0].asDict()
    return (
        spark.read.parquet(f"{path}/bands"),
        spark.read.parquet(f"{path}/shingles"),
        meta,
    )


def near_dup_from_minhash_index(
    incoming: DataFrame,
    spark,
    path: str,
    text_col: str = "text",
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Near-dup pairs of an incoming batch against a PERSISTED corpus
    index (see :func:`minhash_index_write`) — identical semantics to
    ``streaming/docs_stream.py:near_dup_against_corpus`` with the
    banding parameters taken from the index's recorded meta, so a probe
    can never hash with a different scheme than the index was built
    with.  Returns (in_id, corpus_id, jaccard)."""
    from youtube_podcast_data_pipeline_azure_spark.streaming.docs_stream import (
        near_dup_against_corpus,
    )

    index, sh, meta = minhash_index_load(spark, path)
    index, sh = _apply_tombstones(spark, path, index, sh, meta["id_col"])
    return near_dup_against_corpus(
        incoming,
        index,
        sh,
        text_col=text_col,
        id_col=meta["id_col"],
        shingle_n=meta["shingle_n"],
        num_hashes=meta["num_hashes"],
        bands=meta["bands"],
        jaccard_threshold=jaccard_threshold,
    )


# ---------------------------------------------------------------------------
# record linkage / entity resolution (structured-record fuzzy matching)
# ---------------------------------------------------------------------------

def record_linkage_pairs(
    records: DataFrame,
    name_col: str = "name",
    id_col: str = "record_id",
    max_edits: int = 2,
    block_prefix: int = 2,
    block_len_band: int = 4,
) -> DataFrame:
    """Blocked fuzzy record matching — the entity-resolution candidate
    step over STRUCTURED records (customer/author/merchant names),
    where document-dedup machinery doesn't apply because the strings
    are short and the right metric is edit distance.

    Names canonicalize (lower, trim, collapse whitespace), then block:
    the join key is (first ``block_prefix`` chars, length band).  The
    length banding is LOSSLESS for edit distance ≤ ``max_edits`` for
    ANY parameterization: each record emits EVERY band in
    ``[len div B, (len + max_edits) div B]`` (for two matchable
    lengths, the longer one's own band lies inside the shorter one's
    emitted range — pigeonhole with margin; when ``max_edits <
    block_len_band`` that range is the classic ≤2 bands, and wider
    ranges keep the guarantee where the old two-endpoint emission
    could skip an intermediate band, ADVICE r10).  The
    PREFIX block is the recall dial — typos inside the first chars
    straddle blocks by design (production systems stack a second
    phonetic pass; the dial is the documented contract, replayed
    exactly by the oracle).  Candidates verify with exact
    ``levenshtein ≤ max_edits`` — identical in Spark and DuckDB.

    Scale shape: canonical names + two band keys per record on the
    shuffle; candidate volume ∝ block collisions, never n².  Returns
    (id_a, id_b, edits) with id_a < id_b, distinct.
    """
    norm = F.lower(
        F.regexp_replace(F.trim(F.col(name_col)), r"\s+", " ")
    )
    base = records.select(F.col(id_col), norm.alias("_nm")).select(
        id_col,
        "_nm",
        F.substring("_nm", 1, block_prefix).alias("_pfx"),
        F.length("_nm").alias("_len"),
    )
    banded = base.select(
        id_col,
        "_nm",
        "_pfx",
        F.explode(
            F.sequence(
                F.expr(f"_len div {block_len_band}"),
                F.expr(f"(_len + {max_edits}) div {block_len_band}"),
            )
        ).alias("_band"),
    )
    a, b = banded.alias("a"), banded.alias("b")
    cand = a.join(
        b,
        on=[
            F.col("a._pfx") == F.col("b._pfx"),
            F.col("a._band") == F.col("b._band"),
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}"),
        ],
    ).select(
        F.col(f"a.{id_col}").alias("id_a"),
        F.col(f"b.{id_col}").alias("id_b"),
        F.levenshtein(F.col("a._nm"), F.col("b._nm")).alias("edits"),
    )
    return (
        cand.where(F.col("edits") <= max_edits)
        .dropDuplicates(["id_a", "id_b"])
        .select("id_a", "id_b", F.col("edits").cast("long").alias("edits"))
    )


def resolve_entities(
    records: DataFrame,
    name_col: str = "name",
    id_col: str = "record_id",
    max_edits: int = 2,
    block_prefix: int = 2,
    block_len_band: int = 4,
) -> DataFrame:
    """Entity resolution: fuzzy match graph → connected components →
    every record labeled with its entity id (the minimum reachable
    record id) plus the entity's member count.

    Collapse-first (the :func:`near_dup_pipeline` / :func:`dedup_corpus`
    replica discipline): records exactly sharing a normalized name
    collapse to their min-id representative; :func:`record_linkage_pairs`
    runs over the DISTINCT names only; members rejoin through linear
    member→rep star edges.  An m-record name group therefore
    contributes m−1 edges, never the Ω(m²) within-group pair list —
    the components are provably identical to the direct pair graph's
    (identical names always match at 0 edits ≤ max_edits), which is
    what lets the SQL oracle stay the straightforward brute-pair
    recursive-CTE replay.  Returns (id_col, entity_id, n_members)."""
    norm = F.lower(
        F.regexp_replace(F.trim(F.col(name_col)), r"\s+", " ")
    )
    base = records.select(F.col(id_col), norm.alias("_nm"))
    reps = base.groupBy("_nm").agg(F.min(id_col).alias("_rep"))
    distinct_names = reps.select(
        F.col("_rep").alias(id_col), F.col("_nm").alias(name_col)
    )
    rep_pairs = record_linkage_pairs(
        distinct_names,
        name_col=name_col,
        id_col=id_col,
        max_edits=max_edits,
        block_prefix=block_prefix,
        block_len_band=block_len_band,
    ).select("id_a", "id_b")
    stars = (
        base.join(reps, "_nm")
        .where(F.col(id_col) != F.col("_rep"))
        .select(
            F.col("_rep").alias("id_a"), F.col(id_col).alias("id_b")
        )
    )
    pairs = rep_pairs.unionByName(stars)
    labeled = duplicate_clusters(records, pairs, id_col=id_col).select(
        F.col(id_col), F.col("component").alias("entity_id")
    )
    sizes = labeled.groupBy("entity_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members")
    )
    return labeled.join(sizes, "entity_id").select(
        id_col, "entity_id", "n_members"
    )


def minhash_index_append(
    batch: DataFrame,
    path: str,
    text_col: str = "text",
) -> None:
    """Append a new document batch to a persisted MinHash band index
    (see :func:`minhash_index_write`) — the production maintenance
    loop: each crawl batch is banded with the INDEX'S recorded
    parameters (never the caller's) and its band rows + shingle sets
    land in append mode.  Probe-after-append is contractually
    identical to a full rebuild over the union corpus (pinned in
    tests), because the index is a pure per-document function —
    appends never need to touch existing rows.  Appends erode the
    range clustering of the original write; run the engine's
    ``io/writers.py:compact_files`` on ``{path}/bands`` when probe
    scan counts matter."""
    from youtube_podcast_data_pipeline_azure_spark.streaming.docs_stream import (
        corpus_near_dup_index,
    )

    spark = batch.sparkSession
    meta = spark.read.parquet(f"{path}/meta").collect()[0].asDict()
    index, sh = corpus_near_dup_index(
        batch,
        text_col,
        meta["id_col"],
        meta["shingle_n"],
        meta["num_hashes"],
        meta["bands"],
    )
    index.write.mode("append").parquet(f"{path}/bands")
    sh.write.mode("append").parquet(f"{path}/shingles")


def _index_path_exists(spark, path: str) -> bool:
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def _apply_tombstones(spark, path: str, index, sh, id_col: str):
    """Merge-on-read: filter tombstoned doc ids out of the loaded band
    and shingle tables.  The tombstone set is broadcast (bounded by
    deletions, not corpus) and applied as two anti-joins — probes see
    post-delete state without any index rewrite."""
    tpath = f"{path}/tombstones"
    if not _index_path_exists(spark, tpath):
        return index, sh
    tombs = F.broadcast(
        spark.read.parquet(tpath).select(id_col).distinct()
    )
    return (
        index.join(tombs, id_col, "left_anti"),
        sh.join(tombs, id_col, "left_anti"),
    )


def minhash_index_delete(ids: DataFrame, path: str) -> None:
    """GDPR / right-to-erasure maintenance for the persisted MinHash
    index (r13): record the doomed doc ids as TOMBSTONES —
    ``{path}/tombstones``, appended, deduplicated at read — instead of
    rewriting the band table, whose (band_id, band_hash) range
    clustering scatters any one document's rows across every file
    (a physical delete would rewrite the whole index to erase one
    document, the exact pathology ``io/writers.py:delete_by_key``
    exists to avoid on partitioned sinks).  This is merge-on-read
    delete-file semantics: probes anti-join the broadcast tombstone
    set (O(deleted) extra work per probe, zero write amplification);
    :func:`minhash_index_vacuum` folds tombstones in physically when
    their count warrants it.  Appending the same id twice is
    harmless (the read path is a distinct + anti-join), so retries
    are idempotent by construction."""
    spark = ids.sparkSession
    meta = spark.read.parquet(f"{path}/meta").collect()[0].asDict()
    id_col = meta["id_col"]
    ids.select(F.col(id_col)).distinct().write.mode("append").parquet(
        f"{path}/tombstones"
    )


def minhash_index_vacuum(spark, path: str) -> int:
    """Fold accumulated tombstones into the persisted MinHash index
    physically: rewrite bands (restoring the range clustering the
    original write had) and shingles WITHOUT the tombstoned ids, then
    drop the tombstone directory.  Probe results are identical before
    and after (pinned in tests) — vacuum changes storage, never
    semantics.  Returns the number of distinct ids vacuumed."""
    tpath = f"{path}/tombstones"
    if not _index_path_exists(spark, tpath):
        return 0
    index, sh, meta = minhash_index_load(spark, path)
    id_col = meta["id_col"]
    tombs = spark.read.parquet(tpath).select(id_col).distinct()
    n = tombs.count()
    # materialize OFF the paths being rewritten before overwriting them
    new_index = index.join(
        F.broadcast(tombs), id_col, "left_anti"
    ).localCheckpoint()
    new_sh = sh.join(F.broadcast(tombs), id_col, "left_anti").localCheckpoint()
    (
        new_index.repartitionByRange(4, "band_id", "band_hash")
        .sortWithinPartitions("band_id", "band_hash")
        .write.mode("overwrite")
        .parquet(f"{path}/bands")
    )
    new_sh.write.mode("overwrite").parquet(f"{path}/shingles")
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(tpath)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    fs.delete(hpath, True)
    return int(n)
