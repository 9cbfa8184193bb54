"""Corpus-statistics text mining: distinctive terms and collocations.

Extends the text-analysis pack (functions/text.py — language ID,
quality, token stats; reference has none of this, SURVEY.md §2.B) with
the two corpus-level shapes a training-data pipeline reports on: which
terms characterize a document (TF-IDF family) and which word pairs are
collocations (PMI family).

Both scores are deliberately *integer-exact*: classic TF-IDF and PMI
take logarithms, whose low bits may differ between engines, so instead
we use the monotone-equivalent rational forms

    term score  = tf * N_docs * 1000 // df          (per-doc TF-IDF analog)
    bigram lift = c_xy * T * 1000 // (c_x * c_y)    (PMI analog, no log)

computed entirely in 64-bit integer arithmetic — bit-identical on any
engine, so the DuckDB oracle checks exact values, and rankings match
what log-space scoring would produce (log is monotone).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from youtube_podcast_data_pipeline_azure_spark.functions.text import tokenize
from youtube_podcast_data_pipeline_azure_spark.operators.util import spread


def distinctive_terms(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
) -> DataFrame:
    """Top-``k`` most distinctive terms per document by the integer
    TF-IDF analog ``tf * N * 1000 // df`` (ties broken by term asc).

    Plan shape: explode once, aggregate to (doc, term) grain — the wide
    shuffle carries (id, term) pairs only.  Document frequency is a
    second aggregate OVER THE (doc, term) GRAIN (already distinct, so a
    plain count — no count-distinct expansion), and joins back on
    ``term`` with NO broadcast hint: the df table is the corpus
    vocabulary (10⁸+ distinct tokens at web scale — an executor OOM if
    forced into a broadcast), and ``term`` is already the shuffle key
    of the aggregate that produced it, so the plain sort-merge join
    co-partitions with work the stage already does; AQE still converts
    it to a broadcast at runtime whenever df IS small (same rationale
    as :func:`tfidf_cosine_pairs`).  Corpus size N is a 1-row
    aggregate, cross-joined (broadcast) as a scalar.
    """
    tf = (
        docs.select(F.col(id_col), F.explode(tokenize(text_col)).alias("term"))
        .groupBy(id_col, "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select(
            F.col(id_col),
            "term",
            "tf",
            "df",
            F.expr("tf * n_docs * 1000 div df").alias("score_milli"),
        )
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_milli").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(id_col, "rank", "term", "tf", "df", "score_milli")
    )


def _bigrams(tokens: Column) -> Column:
    """Adjacent token pairs as structs; empty for 0/1-token docs."""
    n = F.size(tokens)
    return F.arrays_zip(
        F.slice(tokens, 1, F.greatest(n - 1, F.lit(0))).alias("a"),
        F.slice(tokens, 2, F.greatest(n - 1, F.lit(0))).alias("b"),
    )


def collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 3,
    top: int = 50,
) -> DataFrame:
    """Corpus-wide collocation mining: the ``top`` adjacent word pairs
    by the integer lift score ``c_xy * T * 1000 // (c_x * c_y)`` (the
    monotone PMI analog), among pairs seen at least ``min_count`` times.

    Plan shape: one explode for bigram counts, one for unigram counts
    (both aggregate map-side before their shuffles); the unigram table
    is the corpus VOCABULARY — unbroadcastable at web scale — so both
    lookups (left word, right word) join with no hint: the bigram table
    is already shuffled on word keys and AQE broadcasts the unigram
    side at runtime whenever it fits.  Total-bigram count T is a
    broadcast scalar.  Final deterministic top-N is a global
    ``TakeOrderedAndProject`` on the already-tiny filtered pair list.
    """
    toks = docs.select(tokenize(text_col).alias("toks"))
    pairs = (
        toks.select(F.explode(_bigrams(F.col("toks"))).alias("bg"))
        .select(F.col("bg.a").alias("word_a"), F.col("bg.b").alias("word_b"))
        .groupBy("word_a", "word_b")
        .agg(F.count("*").alias("pair_count"))
    )
    uni = (
        toks.select(F.explode("toks").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    t = pairs.agg(F.sum("pair_count").alias("t_pairs"))
    scored = (
        pairs.where(F.col("pair_count") >= min_count)
        .join(
            uni.select(F.col("w").alias("word_a"), F.col("c").alias("c_a")),
            "word_a",
        )
        .join(
            uni.select(F.col("w").alias("word_b"), F.col("c").alias("c_b")),
            "word_b",
        )
        .crossJoin(F.broadcast(t))
        .select(
            "word_a",
            "word_b",
            "pair_count",
            F.expr("pair_count * t_pairs * 1000 div (c_a * c_b)").alias(
                "lift_milli"
            ),
        )
    )
    return scored.orderBy(
        F.col("lift_milli").desc(),
        F.col("word_a").asc(),
        F.col("word_b").asc(),
    ).limit(top)


def fuzzy_vocab_pairs(
    df: DataFrame,
    col: str,
    max_dist: int = 3,
) -> DataFrame:
    """Fuzzy dictionary canonicalization: near-identical value pairs in
    a column's vocabulary by Levenshtein distance, with a suggested
    canonical form (the more frequent spelling; ties → lexicographically
    smaller) — the typo-merge step of entity/dimension cleanup.

    Scale posture: the self-join runs over the DISTINCT vocabulary with
    frequencies (one map-side-combined aggregation of the big table),
    never over raw rows — a column's vocabulary is orders of magnitude
    smaller than the table, so the quadratic step is broadcast-sized.
    A length-difference prefilter (``|len a − len b| ≤ d`` is necessary
    for distance ≤ d) prunes candidates before the expensive
    ``levenshtein`` evaluates.
    """
    vocab = df.groupBy(F.col(col).alias("name")).agg(
        F.count("*").alias("n")
    )
    a = vocab.select(F.col("name").alias("name_a"), F.col("n").alias("n_a"))
    b = vocab.select(F.col("name").alias("name_b"), F.col("n").alias("n_b"))
    pairs = a.join(
        F.broadcast(b),
        (F.col("name_a") < F.col("name_b"))
        & (
            F.abs(F.length("name_a") - F.length("name_b"))
            <= F.lit(max_dist)
        ),
    ).withColumn("dist", F.levenshtein("name_a", "name_b").cast("long"))
    better_b = (F.col("n_b") > F.col("n_a")) | (
        (F.col("n_b") == F.col("n_a")) & (F.col("name_b") < F.col("name_a"))
    )
    return (
        pairs.where(F.col("dist") <= max_dist)
        .select(
            "name_a",
            "name_b",
            "dist",
            "n_a",
            "n_b",
            F.when(better_b, F.col("name_b"))
            .otherwise(F.col("name_a"))
            .alias("canonical"),
        )
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold_bp: int = 9000,
    max_df: int | None = None,
) -> DataFrame:
    """Weighted document-similarity join WITHOUT embeddings: sparse
    TF-IDF cosine over the token inverted index — the classic IR
    complement of the set-based n-gram Jaccard join (shared rare terms
    count more than shared stopwords).

    Weights are the integer TF-IDF analog ``tf * N * 1000 // df`` (same
    scheme as :func:`distinctive_terms`, bit-exact cross-engine); the
    dot products and squared norms are exact integer sums, so the only
    float op is the final ``dot / (norm_a * norm_b)`` on bit-identical
    doubles, reported as basis points via ``floor`` (deterministic —
    no engine ``round``).  Returns ``(id_a, id_b, cos_bp)`` with
    ``id_a < id_b`` and ``cos_bp >= threshold_bp``.

    Plan: one explode to (doc, term, w), a self-join ON TERM (the
    inverted index — candidate volume is Σ df², not n²), one aggregate
    per pair, norm lookups joined without broadcast hints (both the
    vocabulary df table and the per-doc norms grow with the corpus;
    AQE broadcasts them at runtime when they fit).  At scale: (a) cap ``max_df`` to
    skip stopword-grade terms, which bound Σ df² on Zipfian vocabularies
    while barely moving high-threshold cosines (their idf weight is
    negligible); (b) rescale weights (e.g. idf in basis points of a
    sampled N) if ``tf·N·1000`` approaches 2^31, keeping w² sums inside
    long range.
    """
    # spread() before the explode (optimization r14, guide §2.5): the
    # tokenize+explode+partial-agg feeding the tf exchange ran on one
    # core off the 1-split local scan; no-op on multi-split scans
    tf = (
        spread(docs.select(id_col, text_col), id_col)
        .select(
            F.col(id_col).alias("id"),
            F.explode(tokenize(text_col)).alias("term"),
        )
        .groupBy("id", "term")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("term").agg(F.count("*").alias("df"))
    if max_df is not None:
        df_ = df_.where(F.col("df") <= max_df)
    n = docs.agg(F.count("*").alias("n_docs"))
    # NO broadcast hint on the df (vocabulary) table: at web scale the
    # vocabulary is 10⁸+ distinct tokens and a forced broadcast OOMs
    # the executors.  The join key is `term` — the same key the
    # inverted-index self-join below shuffles on — so the plain join
    # co-partitions with work the stage already does, and AQE still
    # converts it to a broadcast at runtime when df IS small.
    w = (
        tf.join(df_, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "id", "term", F.expr("tf * n_docs * 1000 div df").alias("w")
        )
    )
    norms = w.groupBy("id").agg(F.sum(F.col("w") * F.col("w")).alias("norm2"))
    a = w.select(
        F.col("id").alias("id_a"), "term", F.col("w").alias("w_a")
    )
    b = w.select(
        F.col("id").alias("id_b"), "term", F.col("w").alias("w_b")
    )
    dots = (
        a.join(b, "term")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.col("w_a") * F.col("w_b")).alias("dot"))
    )
    # norm lookups likewise unhinted: norms is one row per DOCUMENT —
    # as unbroadcastable as the corpus itself at scale; AQE broadcasts
    # it at runtime whenever it fits.
    na = norms.select(F.col("id").alias("id_a"), F.col("norm2").alias("n2_a"))
    nb = norms.select(F.col("id").alias("id_b"), F.col("norm2").alias("n2_b"))
    cos = (
        dots.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            # dot -> double BEFORE the x10000 (long*10000 would overflow
            # under ANSI once dot nears 2^49; the double path is exact
            # at fixture magnitudes and IEEE-deterministic everywhere)
            F.floor(
                F.col("dot").cast("double") * 10000
                / (F.sqrt(F.col("n2_a")) * F.sqrt(F.col("n2_b")))
            )
            .cast("long")
            .alias("cos_bp"),
        )
    )
    return cos.where(F.col("cos_bp") >= threshold_bp)


def token_rarity_bins(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """CCNet-style language-model quality binning with an integer
    frequency analog: score every document by its mean corpus token
    frequency (parts-per-million, floor), then split the corpus into
    head / middle / tail terciles on exact score percentiles — the
    binning CCNet does with a KenLM perplexity, re-expressed on corpus
    statistics the engine can compute in two aggregates (a true LM
    would sit behind the enrichment UDF seam like the classifier does).

    Low scores = rare-token-heavy documents (tail: noise, code dumps,
    other languages); high = common-token boilerplate (head).  All
    arithmetic is integer floor division, so scores and bin edges are
    bit-exact across engines.

    Scale shape: token counts aggregate on the token itself (map-side
    combined, vocabulary-sized result) and join back on ``term`` with
    NO broadcast hint — the per-token count table is the corpus
    vocabulary, an OOM ceiling if forced executor-resident; the token
    stream shuffles on ``term`` for a join AQE downgrades-to-broadcast
    at runtime whenever counts fit (same rationale as
    :func:`tfidf_cosine_pairs`).  Per-doc scoring is one
    (doc, token)-grain aggregate; the tercile cut points are a 1-row
    exact-percentile aggregate over doc scores — broadcast as scalars,
    NOT a global sort.  Returns
    (id, n_tokens, mean_token_ppm, rarity_bin).
    """
    toks = docs.select(
        F.col(id_col), F.explode(tokenize(text_col)).alias("term")
    )
    counts = toks.groupBy("term").agg(F.count("*").alias("c"))
    total = counts.agg(F.sum("c").alias("t"))
    scored = (
        toks.join(counts, "term")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            # per-token ppm floored, then integer-summed
            F.sum(F.expr("c * 1000000 div t")).alias("_s"),
        )
        .select(
            F.col(id_col),
            "n_tokens",
            # integer floor-division end-to-end — no double mean
            F.expr("_s div n_tokens").alias("mean_token_ppm"),
        )
    )
    cuts = scored.agg(
        F.expr(
            "percentile(mean_token_ppm, array(0.3333, 0.6667))"
        ).alias("p")
    ).select(
        F.floor(F.element_at("p", 1)).alias("c1"),
        F.floor(F.element_at("p", 2)).alias("c2"),
    )
    return scored.crossJoin(F.broadcast(cuts)).select(
        F.col(id_col),
        "n_tokens",
        "mean_token_ppm",
        F.when(F.col("mean_token_ppm") <= F.col("c1"), "tail")
        .when(F.col("mean_token_ppm") <= F.col("c2"), "middle")
        .otherwise("head")
        .alias("rarity_bin"),
    )


def rarity_bins_by_lang(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`token_rarity_bins` with the cut points computed PER
    LANGUAGE — the binning CCNet actually ships (§4.3: perplexity
    terciles are computed within each language bucket, because a
    corpus-wide cut classifies every low-resource language as "tail"
    wholesale and an English-dominated head/middle eats the mixture).

    Identical integer scoring chain; the document's language comes
    from the engine's deterministic stopword ID computed ONCE at the
    scan and carried through the (doc, token) aggregate as a grouping
    key, so no second corpus scan and no doc-grain join-back.  Cut
    points are one exact-percentile aggregate per language — a
    n_langs-row table, broadcast-joined back on ``lang``.

    Returns (id, lang, n_tokens, mean_token_ppm, rarity_bin).
    """
    from youtube_podcast_data_pipeline_azure_spark.functions.text import language_id

    # lang is staged in its OWN select BELOW the explode: an expression
    # in the same projection as a generator lands in the Project ABOVE
    # the Generate and re-evaluates once per emitted token (Catalyst
    # trap 1 — measured 12.2 s -> ~3 s warm at sf0.1).  Staged below,
    # the Generate carries the computed value per doc by reference.
    langed = docs.select(
        F.col(id_col),
        language_id(F.col(text_col)).alias("lang"),
        F.col(text_col),
    )
    toks = langed.select(
        F.col(id_col),
        "lang",
        F.explode(tokenize(text_col)).alias("term"),
    )
    counts = toks.groupBy("term").agg(F.count("*").alias("c"))
    total = counts.agg(F.sum("c").alias("t"))
    scored = (
        toks.join(counts, "term")
        .crossJoin(F.broadcast(total))
        .groupBy(id_col, "lang")
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.expr("c * 1000000 div t")).alias("_s"),
        )
        .select(
            F.col(id_col),
            "lang",
            "n_tokens",
            F.expr("_s div n_tokens").alias("mean_token_ppm"),
        )
    )
    cuts = (
        scored.groupBy("lang")
        .agg(
            F.expr(
                "percentile(mean_token_ppm, array(0.3333, 0.6667))"
            ).alias("p")
        )
        .select(
            "lang",
            F.floor(F.element_at("p", 1)).alias("c1"),
            F.floor(F.element_at("p", 2)).alias("c2"),
        )
    )
    return scored.join(F.broadcast(cuts), "lang").select(
        F.col(id_col),
        "lang",
        "n_tokens",
        "mean_token_ppm",
        F.when(F.col("mean_token_ppm") <= F.col("c1"), "tail")
        .when(F.col("mean_token_ppm") <= F.col("c2"), "middle")
        .otherwise("head")
        .alias("rarity_bin"),
    )


def bpe_merges(
    docs: DataFrame,
    text_col: str = "text",
    k: int = 4,
) -> DataFrame:
    """Byte-pair-encoding vocabulary induction (Sennrich et al. 2016):
    the top-``k`` corpus-weighted merge steps, learned exactly.

    The classic trick that makes BPE tractable — and scale-safe here —
    is that training operates on the WORD-FREQUENCY table, not the
    corpus: one corpus-sized aggregate builds (word, count), and every
    one of the ``k`` iterations then touches only the vocabulary
    (bounded, ~30k types even for 100 TB of web text).  Per iteration:
    adjacent-symbol pairs explode from the space-joined symbol strings
    (weighted by word count, map-side combined), the argmax pair
    (count desc, pair asc — deterministic) collects as ONE driver row
    (the Lloyd's-training posture), and the merge folds into every
    word's symbol string via an ``aggregate`` lambda (greedy
    left-to-right, the reference semantics).  The vocab is
    localCheckpoint'ed per round so plans stay O(1) deep.

    Returns the merge table (step, left, right, merged, pair_count) —
    the learned tokenizer artifact, bit-exact across engines (the
    DuckDB oracle unrolls the same k iterations as CTEs).
    """
    spark = docs.sparkSession
    words = (
        docs.select(F.explode(tokenize(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("n"))
    )
    vocab = words.select(
        "word", "n", F.array_join(F.split("word", ""), " ").alias("syms")
    ).localCheckpoint()

    merges = []
    for step in range(1, k + 1):
        sl = F.split(F.col("syms"), " ")
        prs = F.zip_with(
            F.slice(sl, 1, F.greatest(F.size(sl) - 1, F.lit(0))),
            F.slice(sl, 2, F.greatest(F.size(sl) - 1, F.lit(0))),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
        top = (
            vocab.select(F.explode(prs).alias("pair"), "n")
            .groupBy("pair")
            .agg(F.sum("n").alias("c"))
            .orderBy(F.col("c").desc(), F.col("pair").asc())
            .limit(1)
            .collect()  # 1 row: the argmax merge (driver-bounded)
        )
        if not top:
            break
        a, b = top[0]["pair"].split(" ")
        merges.append((step, a, b, a + b, int(top[0]["c"])))
        fold = F.aggregate(
            sl,
            F.lit(""),
            lambda acc, x: F.when(acc == "", x)
            .when(
                (F.regexp_extract(acc, r"([^ ]+)$", 1) == a) & (x == b),
                F.concat(
                    F.regexp_replace(acc, r"[^ ]+$", ""), F.lit(a + b)
                ),
            )
            .otherwise(F.concat(acc, F.lit(" "), x)),
        )
        vocab = vocab.select("word", "n", fold.alias("syms")).localCheckpoint()

    return spark.createDataFrame(
        merges,
        "step long, left string, right string, merged string, pair_count long",
    )


def bpe_segment(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Apply learned BPE merges (from :func:`bpe_merges`) to segment
    every document — the tokenizer-application half of vocabulary
    induction.

    Same vocabulary trick as training: segmentation is a pure function
    of the WORD, so the merge folds run over the distinct-word table
    (bounded), and documents get their token streams back through a
    broadcast join — the corpus is scanned twice (vocab build + final
    join), never once per merge.  Greedy left-to-right fold per merge,
    in merge order: the reference BPE application semantics.

    Returns (id, bpe_text — space-joined subword symbols in original
    token order, n_bpe_tokens).
    """
    toks = docs.select(
        F.col(id_col), F.posexplode(tokenize(text_col)).alias("pos", "word")
    )
    vocab = toks.select("word").distinct().select(
        "word", F.array_join(F.split("word", ""), " ").alias("syms")
    ).localCheckpoint()
    for a, b in merges:
        sl = F.split(F.col("syms"), " ")
        fold = F.aggregate(
            sl,
            F.lit(""),
            lambda acc, x: F.when(acc == "", x)
            .when(
                (F.regexp_extract(acc, r"([^ ]+)$", 1) == a) & (x == b),
                F.concat(
                    F.regexp_replace(acc, r"[^ ]+$", ""), F.lit(a + b)
                ),
            )
            .otherwise(F.concat(acc, F.lit(" "), x)),
        )
        vocab = vocab.select("word", fold.alias("syms")).localCheckpoint()
    joined = toks.join(F.broadcast(vocab), "word")
    return joined.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct(F.col("pos"), F.col("syms")))
                ),
                lambda s: s.getField("syms"),
            ),
            " ",
        ).alias("bpe_text"),
        F.sum(F.size(F.split("syms", " "))).cast("long").alias("n_bpe_tokens"),
    )


def vocabulary_growth(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10,
) -> DataFrame:
    """Heaps-law vocabulary growth curve: cumulative token volume vs
    cumulative DISTINCT-vocabulary size over id-ordered corpus prefixes
    — the dataset-documentation view of "how fast is new vocabulary
    still arriving?" (a flattening curve says more of the same data
    adds volume, not lexical diversity; tokenizer and dedup planning
    both read this).

    Prefixes are ``n_buckets`` equal-width id ranges between the
    corpus min/max id — NOT an ntile (which would funnel every row
    through one global-sort partition).  The id bounds come from a
    1-row aggregate cross-joined back (bounded), the per-bucket token
    mass is one explode + partial-agg'd groupBy, and the cumulative
    vocabulary needs no set union: a term enters the vocabulary in its
    MINIMUM bucket, so ``cum_vocab(b) = #{terms: min_bucket <= b}`` —
    one groupBy(term) over (term, bucket) pairs, then a window cumsum
    over the ``n_buckets``-row aggregate (driver-scale frame).

    Returns (bucket, n_tokens, cum_tokens, new_terms, cum_vocab), one
    row per non-empty bucket, all integer.
    """
    bounds = df.agg(
        F.min(id_col).alias("_min_id"), F.max(id_col).alias("_max_id")
    )
    toks = (
        df.select(F.col(id_col), F.explode(tokenize(text_col)).alias("term"))
        .crossJoin(F.broadcast(bounds))
        .select(
            "term",
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
    per_bucket = toks.groupBy("bucket").agg(
        F.count("*").cast("long").alias("n_tokens")
    )
    first_seen = (
        toks.groupBy("term")
        .agg(F.min("bucket").alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").cast("long").alias("new_terms"))
    )
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per_bucket.join(first_seen, "bucket", "left")
        .select(
            "bucket",
            "n_tokens",
            F.coalesce("new_terms", F.lit(0)).cast("long").alias("new_terms"),
        )
        .select(
            "bucket",
            "n_tokens",
            F.sum("n_tokens").over(w).cast("long").alias("cum_tokens"),
            "new_terms",
            F.sum("new_terms").over(w).cast("long").alias("cum_vocab"),
        )
        .select(
            "bucket", "n_tokens", "cum_tokens", "new_terms", "cum_vocab"
        )
    )


def ngram_diversity(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ns: tuple[int, ...] = (1, 2, 3),
) -> DataFrame:
    """Corpus n-gram diversity report: for each n, total positional
    n-gram occurrences, distinct n-grams, and the distinct/total ratio
    in basis points — the cheap memorization/templating signal (a
    corpus whose 3-gram distinct ratio is far below its 1-gram ratio
    is dominated by repeated phrasing; self-BLEU's denominator without
    the quadratic pairwise BLEU).

    One scan: each document fans out to its positional n-grams per n
    (|ns| narrow explodes unioned, no joins), then one aggregate per n
    with map-side partials; the count-distinct runs as Spark's standard
    two-level expand.  Shuffle rows are (n, gram) — never document
    bodies.  The ratio uses floor division on counts (< 2⁵³), so the
    report is integer-exact on any engine.

    Returns (n, total_ngrams, distinct_ngrams, distinct_ratio_bp).
    """
    from youtube_podcast_data_pipeline_azure_spark.functions.text import (
        positional_ngrams,
    )

    grams = None
    toks = tokenize(F.col(text_col))
    for n in ns:
        g = df.select(
            F.lit(n).cast("long").alias("n"),
            F.explode(positional_ngrams(toks, n)).alias("gram"),
        )
        grams = g if grams is None else grams.unionAll(g)
    return grams.groupBy("n").agg(
        F.count("*").cast("long").alias("total_ngrams"),
        F.countDistinct("gram").cast("long").alias("distinct_ngrams"),
        F.floor(F.countDistinct("gram") * 10000 / F.count("*"))
        .cast("long")
        .alias("distinct_ratio_bp"),
    )


def tokenizer_fertility(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    chars_col: str = "n_chars",
) -> DataFrame:
    """Tokenizer fertility report: per language, subword tokens per
    word (fertility) and characters per subword token, under a learned
    BPE merge table — THE standard tokenizer-evaluation metric (a
    tokenizer trained on English typically shows fertility ≈1.2 there
    and 2-4× that on underrepresented languages; this report is how a
    multilingual data pipeline catches that skew before training).

    Built on :func:`bpe_segment` (folds over the bounded distinct-word
    vocabulary, corpus re-joined by broadcast), plus one language-keyed
    aggregate.  Ratios are milli-units via floor division on bigint
    sums — integer-exact on any engine.  Only documents with ≥1 token
    participate (the bpe_segment contract), so denominators are never
    zero.

    Returns (lang, n_docs, n_words, n_bpe_tokens, fertility_milli,
    chars_per_token_milli).
    """
    seg = bpe_segment(docs, merges, text_col, id_col)
    base = docs.select(
        F.col(id_col),
        F.col(lang_col).alias("lang"),
        F.size(tokenize(F.col(text_col))).cast("long").alias("n_words"),
        F.col(chars_col).cast("long").alias("n_chars"),
    )
    return (
        seg.join(base, id_col)
        .groupBy("lang")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_words").cast("long").alias("n_words"),
            F.sum("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
            F.floor(F.sum("n_bpe_tokens") * 1000 / F.sum("n_words"))
            .cast("long")
            .alias("fertility_milli"),
            F.floor(F.sum("n_chars") * 1000 / F.sum("n_bpe_tokens"))
            .cast("long")
            .alias("chars_per_token_milli"),
        )
    )


def language_mismatch_matrix(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
) -> DataFrame:
    """Declared-vs-detected language confusion matrix: for every
    (declared, detected) pair, how many documents and what fraction of
    the declared language's volume — the metadata-trust audit every
    multilingual ingest needs (upstream ``lang`` tags are routinely
    wrong for boilerplate, code, and mixed-language pages, and a
    mixture plan keyed on bad tags inherits the error).  Off-diagonal
    mass IS the finding: a declared-en row that is 30% detected-und
    means the tag pipeline, not the corpus, needs fixing.

    One scan: the detector (:func:`~youtube_podcast_data_pipeline_azure_spark.functions.
    text.language_id` — stopword-lexicon argmax, deterministic ties,
    generated from the same lexicon as its SQL twin) is a narrow
    per-row expression; one (declared, detected) aggregate; the
    per-declared total rides a window over the (tiny, ≤langs²-row)
    aggregate.  All-integer output.

    Returns (declared_lang, detected_lang, n_docs,
    share_of_declared_permille).
    """
    from youtube_podcast_data_pipeline_azure_spark.functions.text import language_id

    per = (
        df.select(
            F.col(lang_col).alias("declared_lang"),
            language_id(F.col(text_col)).alias("detected_lang"),
        )
        .groupBy("declared_lang", "detected_lang")
        .agg(F.count("*").cast("long").alias("n_docs"))
    )
    tot = F.sum("n_docs").over(Window.partitionBy("declared_lang"))
    return per.select(
        "declared_lang",
        "detected_lang",
        "n_docs",
        F.floor(F.col("n_docs") * 1000 / tot)
        .cast("long")
        .alias("share_of_declared_permille"),
    )


def _bm25_postings(
    docs, text_col: str, id_col: str, with_dl: bool = False
) -> DataFrame:
    """The (doc, term, tf) postings table — ONE corpus explode +
    aggregate, eagerly checkpointed.  Multi-consumer rule: postings
    feeds dl, stats, df_t AND the candidate join — without the
    checkpoint Catalyst pastes the corpus explode+aggregate per
    consumer (measured: 10 parquet scans of the corpus in one bm25
    plan, r8).  With ``with_dl=False`` this is also exactly the table
    :func:`bm25_index_write` persists for the build-once path.

    ``with_dl`` (optimization r13): additionally carry the document
    length as a ``_dl`` column (one window over the doc key inside the
    SAME materialization).  The in-plan search path previously
    re-aggregated dl from the checkpoint every run and broadcast-joined
    it back — one extra exchange + aggregate + broadcast build per
    query; with the column materialized those disappear from the
    scoring plan entirely.

    KEEP the window form: an A/B'd r13 variant derived ``_dl`` as
    ``size(tokens)`` folded into the (id, term) aggregate, saving the
    window exchange in the build (~0.1 s at sf0.1) — but the window's
    doc-key SORT is load-bearing downstream: scoring over the sorted
    checkpoint is ~0.45 s faster per run than over hash-agg row order
    (in-process interleaved A/B, 6 runs each; doc-clustered candidate
    rows keep the per-(query, doc) partial aggregate's hash table
    local).  Sorted-fold ties the window build; unsorted-fold loses.
    """
    # spread() before the token explode (optimization r14, guide §2.5):
    # a single-file parquet scan is ONE partition locally, so the
    # tokenize+explode+partial-aggregate feeding the build exchange ran
    # on one core.  No-op on a multi-split cluster scan.
    postings = (
        spread(docs.select(id_col, text_col), id_col)
        .select(
            F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("_t")
        )
        .groupBy(id_col, "_t")
        .agg(F.count(F.lit(1)).alias("_tf"))
    )
    if with_dl:
        postings = postings.withColumn(
            "_dl", F.sum("_tf").over(Window.partitionBy(id_col))
        )
    return postings.localCheckpoint(eager=True)


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    query_id_col: str = "query_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    max_df_permille: int | None = None,
) -> DataFrame:
    """BM25 ranked retrieval (Robertson-Spärck Jones): for every query,
    the top-``k`` corpus documents by Lucene-variant BM25 —

        score(q, d) = Σ_{t ∈ q ∩ d}  ln(1 + (N - df + ½)/(df + ½))
                      · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    The keyword-search complement of the embedding ANN pack
    (similarity.py): same top-k retrieval contract, lexical instead of
    dense.  Query terms are DISTINCT (standard bag-of-words query).

    Input contract: ``queries`` holds exactly ONE row per
    ``query_id_col``.  Terms are deduplicated within each query row's
    token array, which equals a (query_id, term) DISTINCT only under
    that contract; a query_id spread over several rows scores each
    shared term once per row.  Concatenate a query's texts into one
    row first.

    Exactness: every model input (tf, df, dl, N, Σdl) is an exact
    int64; the per-(query, doc, term) contribution is one fixed-shape
    double expression over those ints, quantized to ``floor(1e6·x)``
    BEFORE the per-(query, doc) sum — so cross-engine equality needs
    only IEEE-deterministic arithmetic on identical inputs (the proven
    DSIR/LM-filter seam), and the final ordering (score_micro desc, doc
    asc) is integer-total.

    Plan shape (100 TB corpus, bounded query set): the postings table
    (doc, term, tf) is ONE explode + aggregate over the corpus — doc
    LENGTHS fall out of the same table (Σtf per doc), no second corpus
    scan; df/idf aggregate the postings at term grain.  Query terms
    join postings term-keyed — the term shuffle carries (id, term, tf)
    triples, never text; the surviving candidate set is Ω(matches),
    everything after is per-candidate arithmetic plus one (query)
    top-k window over candidates.  Corpus scalars (N, Σdl) are a 1-row
    broadcast.  No hints — AQE broadcasts the small sides.

    ``max_df_permille`` (VERDICT r7 #4, the ``tfidf_cosine_pairs``
    ``max_df`` pattern): when set, query terms whose document frequency
    exceeds ``max_df_permille/1000`` of the corpus are EXCLUDED from
    scoring — the candidate volume per query term is Ω(df), so on a
    Zipfian corpus stopword-grade terms (df ≈ N) dominate the
    per-(query, doc) aggregate while contributing near-zero idf.  The
    prune filters the term dictionary against an eagerly-collected
    corpus-size literal (one bounded 1-row job at construct time), so
    pruned candidates die at the pipelined dictionary probe before the
    scores shuffle — the only exchange that carries candidates — and
    the plan stays the unpruned plan minus the stats join.  It is a
    DIAL, not an approximation of the
    unpruned ranking (dropping a term changes scores) — like
    ``knn_ivf``'s nprobe it is registered as a separate query whose
    deterministic integer contract (``df·1000 ≤ permille·N``) the
    oracle replays exactly.  Default ``None`` = the exact unpruned
    ranking.
    """
    postings = _bm25_postings(docs, text_col, id_col, with_dl=True)
    return _bm25_from_postings(
        postings, queries, text_col, id_col, query_id_col,
        k, k1, b, max_df_permille,
    )


def _bm25_from_postings(
    postings: DataFrame,
    queries: DataFrame,
    text_col: str,
    id_col: str,
    query_id_col: str,
    k: int,
    k1: float,
    b: float,
    max_df_permille: int | None = None,
    scalars: "tuple[int, int] | None" = None,
) -> DataFrame:
    """The BM25 scoring core over an existing (doc, term, tf) postings
    table — shared by :func:`bm25_topk` (in-plan postings) and
    :func:`bm25_topk_from_index` (loaded postings).  ``scalars``
    optionally supplies (n_docs, sum_dl) as known exact ints (a
    persisted index records them at build time), which folds them in
    as plan literals and drops the stats join entirely."""
    # a with_dl=True postings checkpoint already carries the document
    # length; only derive (and later join) the dl table when it does
    # not (the persisted-index path keeps the original layout)
    has_dl = "_dl" in postings.columns
    dl = (
        None
        if has_dl
        else postings.groupBy(id_col).agg(F.sum("_tf").alias("_dl"))
    )
    # df stays a full-vocab aggregate over the checkpoint: restricting
    # it to query terms first (broadcast semi probe) was A/B'd in r13
    # and REJECTED — the extra serial broadcast wave cost +0.4-0.5 s
    # per search locally while the shuffle saving is map-side-bounded
    # anyway (partial aggregation caps the df exchange at distinct
    # terms per partition); the pruned dial below remains the
    # registered hot-vocabulary scale path.
    df_t = postings.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    # DISTINCT query terms via a row-local array_distinct before the
    # explode: under bm25_topk's one-row-per-query_id contract this
    # equals the global (query_id, term) DISTINCT, without that
    # aggregate pair and its exchange.
    qterms = queries.select(
        F.col(query_id_col),
        F.explode(
            F.array_distinct(tokenize(F.col(text_col)))
        ).alias("_t"),
    )
    if scalars is None:
        # scalar probe over the already-materialized postings
        # checkpoint — no extra corpus scan (see the prune note below).
        # Since r13 the UNPRUNED path folds (N, Σdl) in as literals
        # too: the previous broadcast-stats join evaluated the
        # dl→postings aggregate chain a second time inside the main
        # plan (one duplicated exchange + aggregate + a broadcast
        # build per run), where this bounded 1-row collect prices the
        # same two stages once at construct and drops the join.
        probe = (
            postings.agg(
                F.count_distinct(F.col(id_col)).alias("_n"),
                F.sum("_tf").alias("_s"),
            )
            if has_dl
            else dl.agg(
                F.count(F.lit(1)).alias("_n"), F.sum("_dl").alias("_s")
            )
        )
        row = probe.collect()[0]
        # sum() over zero rows is NULL — an empty corpus must yield an
        # empty ranking, not a TypeError at plan-build time (ADVICE r8)
        scalars = (int(row["_n"]), int(row["_s"] or 0))
    # integer contract: keep terms with df·1000 <= permille·N —
    # exact at any corpus size, replayable on any engine.  The two
    # corpus scalars fold in as plan LITERALS: threading `stats`
    # into the dictionary filter as a subplan instead PASTES the
    # dl→postings aggregate chain per consumer, measured 2x SLOWER
    # than unpruned at 4x scale despite 8x fewer candidates (the
    # multi-consumer trap, r8).  Pruned terms die at the pipelined
    # dictionary probe BEFORE the scores shuffle — the only
    # exchange that carries candidates.
    n_docs_col = F.lit(int(scalars[0])).cast("long")
    sum_dl_col = F.lit(int(scalars[1])).cast("long")
    if max_df_permille is not None:
        df_t = df_t.where(
            F.col("_df") * 1000
            <= F.lit(int(max_df_permille)) * n_docs_col
        )
    joined = qterms.join(postings, "_t").join(df_t, "_t")
    if not has_dl:
        joined = joined.join(dl, id_col)
    idf = F.log(
        F.lit(1.0)
        + (n_docs_col - F.col("_df") + F.lit(0.5))
        / (F.col("_df") + F.lit(0.5))
    )
    avgdl = sum_dl_col.cast("double") / n_docs_col.cast("double")
    tfn = (F.col("_tf") * F.lit(k1 + 1.0)) / (
        F.col("_tf")
        + F.lit(k1)
        * (F.lit(1.0 - b) + F.lit(b) * (F.col("_dl") / avgdl))
    )
    contrib = joined.select(
        query_id_col,
        id_col,
        F.floor(F.lit(1_000_000.0) * (idf * tfn))
        .cast("long")
        .alias("_c_micro"),
    )
    # ONE candidate exchange for both the per-(query, doc) sum and the
    # per-query top-k window (optimization r14, guide §2.4 "two
    # operations keyed the same way share one exchange"): repartition
    # by query_id, which satisfies the groupBy's (query, doc)
    # clustering AND the window's query clustering — the old shape
    # paid a (query, doc) hash exchange for the aggregate and then a
    # second query-keyed exchange for the window.  The single exchange
    # still carries only Ω(candidates) narrow (query, doc, int) rows;
    # per-reducer volume is per-query candidate volume, the same bound
    # the top-k window already imposed.
    scores = (
        contrib.repartition(query_id_col)
        .groupBy(query_id_col, id_col)
        .agg(F.sum("_c_micro").cast("long").alias("score_micro"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("score_micro").desc(), F.col(id_col).asc()
    )
    return (
        scores.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "score_micro")
    )


def bm25_index_write(
    docs: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> None:
    """Build the BM25 postings table ONCE and persist it — the Lucene
    amortization (an index is built at ingest; queries never re-tokenize
    the corpus), completing the engine's build-once triple alongside
    ``ivf_index_write`` (ANN lists) and ``suffix_index_write`` (suffix
    ranks).

    Layout: ``{path}/postings`` — the (id, term, tf) table
    range-clustered by term, so a bounded query workload's term-keyed
    probe skips non-matching row groups on footer stats;
    ``{path}/meta`` — a 1-row table recording (n_docs, sum_dl, id_col)
    at build time, so query-time scoring folds the corpus scalars in as
    plan literals and never re-aggregates document lengths globally.
    Index layout = data: it inherits the engine's sink properties
    (compaction, snapshot diff, partition maintenance).
    """
    spark = docs.sparkSession
    postings = _bm25_postings(docs, text_col, id_col)
    dl = postings.groupBy(id_col).agg(F.sum("_tf").alias("_dl"))
    # sum() over zero rows is NULL — an empty corpus writes a valid
    # empty index (n_docs=0, sum_dl=0) that loads and queries to empty
    # rankings instead of raising TypeError mid-write (ADVICE r8)
    row = dl.agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_dl").alias("_s")
    ).collect()[0]
    n_docs, sum_dl = int(row["_n"]), int(row["_s"] or 0)
    (
        postings.repartitionByRange(32, "_t")
        .sortWithinPartitions("_t")
        .write.mode("overwrite")
        .parquet(f"{path}/postings")
    )
    spark.createDataFrame(
        [(n_docs, sum_dl, id_col)],
        "n_docs long, sum_dl long, id_col string",
    ).write.mode("overwrite").parquet(f"{path}/meta")


def bm25_index_load(spark, path: str) -> "tuple[DataFrame, int, int, str]":
    """Load a persisted BM25 index: the postings DataFrame plus the
    build-time corpus scalars and id column (one bounded 1-row
    collect)."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    return (
        spark.read.parquet(f"{path}/postings"),
        int(meta["n_docs"]),
        int(meta["sum_dl"]),
        meta["id_col"],
    )


def bm25_topk_from_index(
    spark,
    path: str,
    queries: DataFrame,
    text_col: str = "text",
    query_id_col: str = "query_id",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    max_df_permille: int | None = None,
) -> DataFrame:
    """:func:`bm25_topk` over a PERSISTED index (see
    :func:`bm25_index_write`) — identical ranking at the same
    parameters, none of the corpus tokenize/aggregate build cost: the
    loaded postings feed the same scoring core, and the recorded
    (n_docs, sum_dl) scalars enter as plan literals (no stats join, no
    scalar probe job).  The ``max_df_permille`` dial composes — the
    integer predicate evaluates against the recorded N.  ``queries``
    carries the same one-row-per-``query_id_col`` contract."""
    postings, n_docs, sum_dl, id_col = bm25_index_load(spark, path)
    return _bm25_from_postings(
        postings, queries, text_col, id_col, query_id_col,
        k, k1, b, max_df_permille, scalars=(n_docs, sum_dl),
    )


def zipf_fit_report(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    max_rank: int = 1000,
    quantizer: int = 1000,
) -> DataFrame:
    """Zipf's-law fit per language: least-squares slope and R² of
    log-frequency vs log-rank over the top ``max_rank`` tokens.

    Natural corpora follow freq ∝ rank^(-s) with s ≈ 1; a slope far
    from 1 or a low R² flags machine-generated text, boilerplate
    floods, or tokenizer damage — the standard first-look diagnostic
    on a new ingest source (Zipf 1949; Piantadosi 2014 review).

    Scale shape: token counts aggregate map-side to a vocabulary-sized
    table; ranking is a per-language window over that table (bounded
    by vocabulary, not corpus); the regression consumes ≤ ``max_rank``
    rows per language as six integer partial sums — one shuffle
    carries a handful of longs per language.  Nothing downstream of
    the (lang, term) count touches corpus-sized data.

    Cross-engine exactness: per-row ``floor(ln(v)·quantizer)`` on
    bit-identical doubles (the lm_perplexity seam), exact integer
    partial sums (order-independent), and a final single-expression
    double quotient (IEEE-deterministic given identical inputs) —
    slope is emitted NEGATED (Zipf slopes are negative) so the floor
    division stays in positive territory on both engines.  Ties in
    rank break on (count DESC, term ASC): exact-deterministic.

    Returns (lang, n_ranks, neg_slope_milli, r2_bp).
    """
    toks = docs.select(
        F.col(lang_col).alias("lang"), F.explode(tokenize(text_col)).alias("term")
    )
    counts = toks.groupBy("lang", "term").agg(F.count("*").alias("c"))
    w = Window.partitionBy("lang").orderBy(
        F.col("c").desc(), F.col("term").asc()
    )
    ranked = counts.select(
        "lang", "c", F.row_number().over(w).alias("r")
    ).where(F.col("r") <= max_rank)
    pts = ranked.select(
        "lang",
        F.floor(F.log(F.col("r").cast("double")) * quantizer).alias("x"),
        F.floor(F.log(F.col("c").cast("double")) * quantizer).alias("y"),
    )
    agg = pts.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    # centered second moments; stage through named columns so the
    # shared subtrees aren't re-pasted per output (Catalyst trap 3)
    stats = agg.select(
        "lang",
        F.col("n").alias("n_ranks"),
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
        .cast("double")
        .alias("sxy_c"),
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
        .alias("sxx_c"),
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        .cast("double")
        .alias("syy_c"),
    )
    return (
        stats.where(F.col("sxx_c") > 0)
        .select(
            "lang",
            "n_ranks",
            F.floor(-F.col("sxy_c") * 1000.0 / F.col("sxx_c"))
            .cast("long")
            .alias("neg_slope_milli"),
            F.when(
                F.col("syy_c") > 0,
                F.floor(
                    F.col("sxy_c") * F.col("sxy_c") * 10000.0
                    / (F.col("sxx_c") * F.col("syy_c"))
                ).cast("long"),
            ).alias("r2_bp"),
        )
    )


# ---------------------------------------------------------------------------
# corpus-comparison keyness (Dunning log-likelihood G²)
# ---------------------------------------------------------------------------

def keyness_terms(
    df: DataFrame,
    focus: Column,
    text_col: str = "text",
    top_k: int = 50,
    min_count: int = 5,
) -> DataFrame:
    """Dunning (1993) log-likelihood keyness: which terms distinguish
    the FOCUS slice of a corpus from the rest — the standard
    corpus-linguistics diagnostic behind mixture design ("what is this
    source actually made of?") and domain-shift audits.

    For a term with focus count ``a``, reference count ``b`` and slice
    token totals ``N_f``/``N_r`` (``N = N_f + N_r``):
    ``G² = 2·(a·ln(a/E_f) + b·ln(b/E_r))`` with expected counts
    ``E_x = (a+b)·N_x/N``; zero-count sides contribute 0.  Each ln
    ratio is quantized to integer micro-units (``floor(1e6·ln)``, the
    lm_perplexity seam) BEFORE multiplying by the integer count, so the
    statistic is exact integer arithmetic over IEEE-deterministic
    per-term lns — hash-replayable by the SQL oracle.

    Plan: one token explode → ONE (term, conditional-count) aggregate
    with map-side combine (shuffle rows bounded by vocabulary, never
    corpus size), eagerly checkpointed because it feeds both the 1-row
    totals and the scoring (the r8 multi-consumer rule); totals ride a
    broadcast crossJoin; top-k is TakeOrderedAndProject.  Returns
    (term, n_focus, n_ref, g2_micro, overused) — ``overused`` true
    when the term is MORE frequent in focus than its share predicts
    (a·N_r > b·N_f).
    """
    toks = df.select(
        focus.alias("_f"), F.explode(tokenize(F.col(text_col))).alias("term")
    )
    counts = (
        toks.groupBy("term")
        .agg(
            F.sum(F.when(F.col("_f"), 1).otherwise(0))
            .cast("long")
            .alias("n_focus"),
            F.sum(F.when(F.col("_f"), 0).otherwise(1))
            .cast("long")
            .alias("n_ref"),
        )
        # multi-consumer rule (r8): feeds the totals AND the scoring
        .localCheckpoint(eager=True)
    )
    totals = counts.agg(
        F.sum("n_focus").cast("long").alias("_nf"),
        F.sum("n_ref").cast("long").alias("_nr"),
    )
    scored = counts.crossJoin(F.broadcast(totals)).select(
        "term",
        "n_focus",
        "n_ref",
        "_nf",
        "_nr",
        # per-side micro ln-ratio: ln(a) + ln(N) - ln(a+b) - ln(N_side)
        F.when(
            F.col("n_focus") > 0,
            F.floor(
                F.lit(1_000_000.0)
                * (
                    F.log(F.col("n_focus").cast("double"))
                    + F.log((F.col("_nf") + F.col("_nr")).cast("double"))
                    - F.log((F.col("n_focus") + F.col("n_ref")).cast("double"))
                    - F.log(F.col("_nf").cast("double"))
                )
            ).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("_lf"),
        F.when(
            F.col("n_ref") > 0,
            F.floor(
                F.lit(1_000_000.0)
                * (
                    F.log(F.col("n_ref").cast("double"))
                    + F.log((F.col("_nf") + F.col("_nr")).cast("double"))
                    - F.log((F.col("n_focus") + F.col("n_ref")).cast("double"))
                    - F.log(F.col("_nr").cast("double"))
                )
            ).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("_lr"),
    )
    return (
        scored.where(F.col("n_focus") + F.col("n_ref") >= min_count)
        .select(
            "term",
            "n_focus",
            "n_ref",
            (
                2 * (F.col("n_focus") * F.col("_lf") + F.col("n_ref") * F.col("_lr"))
            ).alias("g2_micro"),
            (F.col("n_focus") * F.col("_nr") > F.col("n_ref") * F.col("_nf")).alias(
                "overused"
            ),
        )
        .orderBy(F.col("g2_micro").desc(), F.col("term").asc())
        .limit(top_k)
    )


def topic_tags(
    df: DataFrame,
    keywords: "dict[str, str] | DataFrame",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Dictionary-based topic tagging — the FlashText/Aho-Corasick
    class of taxonomy labeling a mixture designer runs when no
    classifier exists yet: a curated keyword → topic dictionary,
    matched at the TOKEN level, rolled up per document.

    Spark-first shape: the dictionary is a broadcast equi-JOIN on the
    exploded token stream (never a per-row regex scan over a giant
    alternation — the join is whole-stage-codegen'd and the dictionary
    can grow to millions of entries before broadcast stops fitting);
    (doc, topic) hit counts aggregate with map-side combine; the
    dominant topic is a bounded per-doc argmax window (ties → topic
    asc).  Documents with no dictionary hit keep a NULL dominant topic
    (left join back to the id spine).

    ``keywords`` is a ``{keyword: topic}`` dict or an equivalent
    (keyword, topic) DataFrame.  Returns (id_col, dominant_topic,
    n_hits_dominant, n_topics, n_hits_total).
    """
    if isinstance(keywords, dict):
        spark = df.sparkSession
        kw = spark.createDataFrame(
            sorted(keywords.items()), "keyword string, topic string"
        )
    else:
        kw = keywords.select("keyword", "topic")
    toks = df.select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("keyword")
    )
    counts = (
        toks.join(F.broadcast(kw), "keyword")
        .groupBy(id_col, "topic")
        .agg(F.count(F.lit(1)).cast("long").alias("_hits"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("_hits").desc(), F.col("topic").asc()
    )
    per_doc = (
        counts.withColumn("_rk", F.row_number().over(w))
        .groupBy(id_col)
        .agg(
            F.max(F.when(F.col("_rk") == 1, F.col("topic"))).alias(
                "dominant_topic"
            ),
            F.max(F.when(F.col("_rk") == 1, F.col("_hits")))
            .cast("long")
            .alias("n_hits_dominant"),
            F.count(F.lit(1)).cast("long").alias("n_topics"),
            F.sum("_hits").cast("long").alias("n_hits_total"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(per_doc, id_col, "left")
        .select(
            id_col,
            "dominant_topic",
            "n_hits_dominant",
            F.coalesce("n_topics", F.lit(0)).cast("long").alias("n_topics"),
            F.coalesce("n_hits_total", F.lit(0))
            .cast("long")
            .alias("n_hits_total"),
        )
    )
