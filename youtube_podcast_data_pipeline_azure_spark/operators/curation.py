"""Corpus-curation operators: eval-set decontamination and
repetition-quality signals.

Two standard steps of a pretraining data pipeline that sit between
cleaning and sampling (no reference analog — the reference is a 523-line
batch ETL, SURVEY.md §2; these extend the §2.C training-data surface):

* **Decontamination** — remove corpus documents that share word n-grams
  with a held-out evaluation set, so benchmark answers don't leak into
  training data (the n-gram-overlap protocol popularized by GPT-3's
  13-gram dedup against its eval sets).
* **Repetition signals** — per-document degenerate-text heuristics in
  the spirit of Gopher's repetition filters: duplicated-word fraction,
  most-frequent-bigram mass, and immediately-adjacent token repeats.

Scale posture (100 TB corpus):

* The eval set is small by nature (benchmarks are MBs, not TBs), so its
  distinct n-gram set is **broadcast** — the corpus side streams through
  one scan + explode and never shuffles document text; the only shuffle
  ships (doc_id, n_grams) pairs for the per-document hit count.
* Repetition signals are **doc-local array expressions** — zero
  shuffles, whole-stage codegen, cost O(tokens · distinct-bigrams) per
  document.  For book-length documents swap the quadratic in-array count
  for an explode + per-(doc, gram) aggregate; for web-scale docs
  (≤ tens of KB) the array form wins by avoiding the shuffle entirely.

All arithmetic on the report surfaces is integer (milli-fractions via
floor division), so results are bit-exact across engines and
oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from youtube_podcast_data_pipeline_azure_spark.functions.pii import pii_count
from youtube_podcast_data_pipeline_azure_spark.functions.text import (
    language_id,
    positional_ngrams,
    quality_score,
    tokenize,
)
from youtube_podcast_data_pipeline_azure_spark.operators.dedup import shingles


def contamination_report(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
) -> DataFrame:
    """Per-document eval-set n-gram overlap for every contaminated
    corpus document.

    Returns ``(id, n_grams, n_hit_grams, contam_milli)`` where
    ``n_grams`` is the document's distinct word-``n``-gram count,
    ``n_hit_grams`` how many of those also occur anywhere in
    ``eval_df``, and ``contam_milli = 1000 * n_hit_grams // n_grams``.
    Documents with zero overlap are absent (the common case at scale —
    keep the report sparse).
    """
    sh = shingles(F.col(text_col), n)
    eval_grams = (
        eval_df.select(F.explode(shingles(F.col(text_col), n)).alias("gram"))
        .distinct()
        .withColumn("_hit", F.lit(1))
    )
    # One exploded pass; the document's total gram count is recovered by
    # the aggregate itself (shingles are distinct within a doc, so
    # count(*) == size of the shingle set).  Deliberately NOT
    # ``size(sh)`` next to ``explode(sh)``: that projection lands ABOVE
    # the Generate and Catalyst re-evaluates the whole shingle pipeline
    # once per exploded gram — measured 200+ s vs ~4 s at sf0.1.
    corp = corpus.select(F.col(id_col), F.explode(sh).alias("gram"))
    # Broadcast the eval gram set: benchmark suites are tiny relative to
    # the corpus, and a broadcast hash join here means the 100 TB side
    # is a single scan with no exchange before the per-doc aggregate.
    hits = (
        corp.join(F.broadcast(eval_grams), "gram", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("n_hit_grams"),
        )
        .where(F.col("n_hit_grams") > 0)
    )
    return hits.select(
        id_col,
        F.col("n_grams").cast("long").alias("n_grams"),
        F.col("n_hit_grams").cast("long").alias("n_hit_grams"),
        F.floor(F.col("n_hit_grams") * 1000 / F.col("n_grams"))
        .cast("long")
        .alias("contam_milli"),
    )


def decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    max_hit_grams: int = 0,
) -> DataFrame:
    """Drop corpus documents whose eval-set overlap exceeds
    ``max_hit_grams`` shared n-grams (default: any overlap).  The filter
    is an anti-join on ids against the (sparse) contamination report, so
    document bodies are never shuffled."""
    hit_ids = (
        contamination_report(corpus, eval_df, text_col, id_col, n)
        .where(F.col("n_hit_grams") > max_hit_grams)
        .select(id_col)
    )
    return corpus.join(hit_ids, id_col, "left_anti")


def repetition_signals(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dup_word_max_milli: int = 500,
    top_bigram_max_milli: int = 300,
    adjacent_max_milli: int = 100,
) -> DataFrame:
    """Gopher-style degenerate-repetition heuristics per document.

    Returns ``(id, n_tokens, dup_word_milli, top_bigram_milli,
    adjacent_repeat_milli, flagged)``:

    * ``dup_word_milli`` — 1000 · (tokens − distinct tokens) / tokens;
    * ``top_bigram_milli`` — 1000 · (count of the most frequent word
      bigram) / bigram count;
    * ``adjacent_repeat_milli`` — 1000 · (positions where token i ==
      token i+1) / (tokens − 1);
    * ``flagged`` — any signal above its threshold (defaults are
      Gopher-ish: 50% duplicated words, 30% single-bigram mass, 10%
      stutter).

    All doc-local (zero shuffles) and all-integer (oracle bit-exact).
    """
    toks = tokenize(F.col(text_col))
    base = df.select(F.col(id_col), toks.alias("_toks"))
    n = F.size("_toks")
    bigrams = positional_ngrams(F.col("_toks"), 2)
    base = base.withColumn("_big", bigrams)
    n_big = F.size("_big")
    # Most-frequent-bigram count via sort + run-length fold: O(g log g)
    # per document (the naive distinct×filter form is O(g²) — fine for
    # tweets, 100M ops/doc for book-length inputs).  The fold state is
    # (prev gram, current run, best run).
    top_big = F.aggregate(
        F.array_sort("_big"),
        F.struct(
            F.lit("").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0).cast("long").alias("best"),
        ),
        lambda acc, x: F.struct(
            x.alias("prev"),
            F.when(x == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.greatest(
                acc["best"],
                F.when(x == acc["prev"], acc["run"] + 1).otherwise(
                    F.lit(1).cast("long")
                ),
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    pre = F.slice(F.col("_toks"), 1, F.greatest(n - 1, F.lit(0)))
    suf = F.slice(F.col("_toks"), 2, F.greatest(n - 1, F.lit(0)))
    adj = F.size(F.filter(F.zip_with(pre, suf, lambda a, b: a == b), lambda x: x))

    dup_milli = F.floor(
        (n - F.size(F.array_distinct("_toks"))) * 1000 / F.greatest(n, F.lit(1))
    ).cast("long")
    # Docs with < 2 tokens have no real bigram (the shingle fallback
    # would report the whole text as a 100%-mass "bigram"); score 0.
    top_big_milli = (
        F.when(
            n >= 2,
            F.floor(top_big * 1000 / F.greatest(n_big, F.lit(1))),
        )
        .otherwise(F.lit(0))
        .cast("long")
    )
    adj_milli = F.floor(adj * 1000 / F.greatest(n - 1, F.lit(1))).cast("long")
    return base.select(
        id_col,
        n.cast("long").alias("n_tokens"),
        dup_milli.alias("dup_word_milli"),
        top_big_milli.alias("top_bigram_milli"),
        adj_milli.alias("adjacent_repeat_milli"),
        (
            (dup_milli > dup_word_max_milli)
            | (top_big_milli > top_bigram_max_milli)
            | (adj_milli > adjacent_max_milli)
        ).alias("flagged"),
    )


def curation_funnel(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    langs: tuple[str, ...] = ("en", "de"),
    min_quality: float = 0.82,
) -> DataFrame:
    """The end-to-end corpus-curation story as ONE query: how many
    documents survive each curation stage, in order —

    1. ``input``      — raw corpus;
    2. ``language``   — predicted language (functions.text.language_id)
       in the accepted set;
    3. ``quality``    — heuristic quality score >= ``min_quality``
       (default 0.82 ~ the corpus median, so the stage visibly bites);
    4. ``repetition`` — not flagged by :func:`repetition_signals`;
    5. ``dedup``      — one survivor per exact fingerprint
       (min-id, operators.dedup.exact_dedup semantics).

    Returns ``(stage, n_docs)`` with the stages cumulatively applied —
    the yield curve a training-data pipeline reports after every run.
    Each stage is the SAME expression the standalone operator uses, so
    this is the integration surface over driver-checked parts.

    One scan feeds stages 1-4 (conditional aggregation over per-row
    flags); the dedup stage adds the one fingerprint aggregate.  At
    100 TB this is exactly 2 jobs: a scan-shaped count pass and the
    dedup groupBy.
    """
    from youtube_podcast_data_pipeline_azure_spark.functions.text import (
        language_id,
        quality_score,
        rolling_fingerprint,
    )

    rep = repetition_signals(df, text_col=text_col, id_col=id_col).select(
        F.col(id_col), F.col("flagged").alias("_rep_flagged")
    )
    flags = df.select(
        F.col(id_col),
        rolling_fingerprint(F.col(text_col)).alias("_fp"),
        language_id(F.col(text_col)).isin(*langs).alias("_lang_ok"),
        (quality_score(F.col(text_col)) >= min_quality).alias("_qual_ok"),
    ).join(rep, id_col)
    flags = flags.select(
        id_col,
        "_fp",
        "_lang_ok",
        (F.col("_lang_ok") & F.col("_qual_ok")).alias("_thru_qual"),
        (
            F.col("_lang_ok") & F.col("_qual_ok") & ~F.col("_rep_flagged")
        ).alias("_thru_rep"),
    )
    counts = flags.agg(
        F.count("*").alias("input"),
        F.sum(F.col("_lang_ok").cast("long")).alias("language"),
        F.sum(F.col("_thru_qual").cast("long")).alias("quality"),
        F.sum(F.col("_thru_rep").cast("long")).alias("repetition"),
    )
    kept = (
        flags.where(F.col("_thru_rep"))
        .groupBy("_fp")
        .agg(F.min(id_col).alias(id_col))
        .agg(F.count("*").alias("dedup"))
    )
    wide = counts.crossJoin(kept)
    return wide.selectExpr(
        "stack(5, 'input', input, 'language', language, 'quality', quality,"
        " 'repetition', repetition, 'dedup', dedup) AS (stage, n_docs)"
    )


def remove_boilerplate_lines(
    df: DataFrame,
    id_col: str = "doc_id",
    lines_col: str = "lines",
    min_docs: int = 3,
) -> DataFrame:
    """C4-style line-level boilerplate removal: any line occurring in
    ``min_docs`` or more DISTINCT documents is dropped from every
    document (C4 ran this rule at three-sentence granularity across the
    whole crawl; RefinedWeb's line-wise filter is the same shape).

    Input is line-granular (``lines_col`` is ``array<string>``) so the
    operator composes with any upstream line/sentence splitter.
    Returns (id, kept lines in original order, n_lines_removed).

    Scale shape, in order:

    1. posexplode → (doc, pos, line): narrow.
    2. document frequency per line: dedupe (line_md5, doc) then count —
       both aggregate on the 32-char digest, so the shuffle ships
       hashes, never line text, and map-side combine collapses each
       partition's repeats first.
    3. hot-line join back: an anti-join on the digest.  The hot set is
       df-bounded (lines repeated across ``min_docs``+ docs are, by
       construction, a vanishing fraction of distinct lines), so AQE
       turns this into a broadcast join in practice.
    4. reassembly: one shuffle on doc id; ``array_sort`` on (pos, line)
       structs restores original order without a window.

    The doc-frequency threshold is on *distinct documents*, so a line
    repeated many times inside one document is not boilerplate by
    itself (that is `repetition_signals`' job).
    """
    lid = F.col(id_col)
    exploded = df.select(
        lid, F.posexplode(F.col(lines_col)).alias("_pos", "_line")
    ).withColumn("_h", F.md5(F.col("_line")))
    docfreq = (
        exploded.select("_h", lid)
        .dropDuplicates(["_h", id_col])
        .groupBy("_h")
        .agg(F.count("*").alias("_df"))
    )
    hot = docfreq.where(F.col("_df") >= min_docs).select("_h")
    kept = exploded.join(hot, "_h", "anti")
    rebuilt = kept.groupBy(id_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("_pos"), F.col("_line")))
            ),
            lambda s: s.getField("_line"),
        ).alias(lines_col),
        F.count("*").alias("_n_kept"),
    )
    original = df.select(lid, F.size(F.col(lines_col)).alias("_n_orig"))
    return (
        original.join(rebuilt, id_col, "left")
        .select(
            lid,
            F.coalesce(
                F.col(lines_col), F.array().cast("array<string>")
            ).alias(lines_col),
            (F.col("_n_orig") - F.coalesce(F.col("_n_kept"), F.lit(0)))
            .cast("long")
            .alias("n_lines_removed"),
        )
    )


def dataset_card(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str | None = "lang",
) -> DataFrame:
    """Dataset-card statistics: the one-pass corpus summary that
    documents a training set (datasheet/dataset-card practice) —
    volume, token/char mass, language composition, exact-duplication
    rate, and quality-score distribution, as (metric, value) rows.

    Everything reduces in TWO aggregates over ONE scan: a global
    aggregate for corpus-wide sums (conditional aggregation, same
    single-exchange shape as `quality.py`'s dq_report) and a per-lang
    count; the duplication metrics ride the same scan via
    count(distinct fingerprint) on the md5 digest.  All values are
    integers (counts, basis points) — deterministic and
    oracle-checkable.
    """
    from youtube_podcast_data_pipeline_azure_spark.functions.text import (
        quality_score,
        word_count,
    )
    from youtube_podcast_data_pipeline_azure_spark.functions.text import rolling_fingerprint

    base = df.select(
        F.col(id_col),
        F.length(text_col).cast("long").alias("_chars"),
        word_count(text_col).alias("_words"),
        # round, not cast: the 4dp score x 10000 can sit one ulp below
        # its integer and a truncating cast would flip it cross-engine
        F.round(quality_score(text_col) * 10000).cast("long").alias("_qbp"),
        rolling_fingerprint(F.col(text_col)).alias("_fp"),
        *([F.col(lang_col).alias("_lang")] if lang_col else []),
    )
    g = base.agg(
        F.count("*").alias("n_docs"),
        F.sum("_chars").alias("n_chars"),
        F.sum("_words").alias("n_tokens"),
        F.countDistinct("_fp").alias("n_unique_texts"),
        F.floor(F.avg("_qbp")).cast("long").alias("mean_quality_bp"),
        F.min("_words").alias("min_doc_tokens"),
        F.max("_words").alias("max_doc_tokens"),
        *(
            [F.countDistinct("_lang").alias("n_langs")]
            if lang_col
            else []
        ),
    ).withColumn(
        "dup_rate_bp",
        F.floor(
            10000
            * (F.col("n_docs") - F.col("n_unique_texts"))
            / F.col("n_docs")
        ).cast("long"),
    )
    metrics = [
        "n_docs",
        "n_chars",
        "n_tokens",
        "n_unique_texts",
        "dup_rate_bp",
        "mean_quality_bp",
        "min_doc_tokens",
        "max_doc_tokens",
    ] + (["n_langs"] if lang_col else [])
    stacked = g.select(
        F.explode(
            F.map_from_arrays(
                F.array(*[F.lit(m) for m in metrics]),
                F.array(*[F.col(m).cast("long") for m in metrics]),
            )
        ).alias("metric", "value")
    )
    if lang_col:
        per_lang = base.groupBy("_lang").agg(
            F.count("*").cast("long").alias("value")
        ).select(
            F.concat(F.lit("docs:lang="), F.col("_lang")).alias("metric"),
            "value",
        )
        stacked = stacked.unionByName(per_lang)
    return stacked


def quality_yield_curve(
    df: DataFrame,
    text_col: str = "text",
    thresholds_bp: tuple[int, ...] = (
        0, 2500, 5000, 6000, 7000, 8000, 9000, 9500,
    ),
) -> DataFrame:
    """Filter-calibration report: for each candidate quality threshold,
    the corpus yield if only documents scoring at least that much were
    kept — the table a curation team reads before committing to a
    cutoff (choose the knee of docs-kept vs tokens-kept, instead of
    running the filter N times).

    One scan: quality and token count are projected once per document
    (below the threshold fan-out, so the Generate only copies computed
    values), each document emits one row per candidate threshold, and
    the partial aggregate collapses the fan-out map-side — the shuffle
    carries at most ``len(thresholds_bp)`` rows per task, regardless of
    corpus size.  All outputs integer (basis points via floor), so the
    report is bit-exact cross-engine.

    Returns (threshold_bp, n_docs_kept, n_tokens_kept, docs_kept_bp),
    one row per threshold.
    """
    from youtube_podcast_data_pipeline_azure_spark.functions.text import (
        quality_score,
        word_count,
    )

    base = df.select(
        F.round(quality_score(F.col(text_col)) * 10000)
        .cast("long")
        .alias("qbp"),
        word_count(F.col(text_col)).cast("long").alias("toks"),
    )
    thr = F.explode(
        F.array(*[F.lit(int(t)) for t in thresholds_bp])
    ).alias("threshold_bp")
    kept = F.col("qbp") >= F.col("threshold_bp")
    return (
        base.select("qbp", "toks", thr)
        .groupBy("threshold_bp")
        .agg(
            F.count("*").alias("_n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_docs_kept"),
            F.sum(F.when(kept, F.col("toks")).otherwise(F.lit(0))).alias(
                "n_tokens_kept"
            ),
        )
        .select(
            F.col("threshold_bp").cast("long").alias("threshold_bp"),
            F.col("n_docs_kept").cast("long").alias("n_docs_kept"),
            F.col("n_tokens_kept").cast("long").alias("n_tokens_kept"),
            F.floor(F.col("n_docs_kept") * 10000 / F.col("_n_docs"))
            .cast("long")
            .alias("docs_kept_bp"),
        )
    )


def contrastive_pairs(
    docs: DataFrame,
    positive_pairs: DataFrame,
    id_col: str = "doc_id",
    n_negatives: int = 3,
    pool_cap: int = 4096,
    seed: int = 0,
) -> DataFrame:
    """Contrastive training triplets from a deduplicated corpus:
    (anchor, positive, negative) rows, where positives come from a
    near-duplicate pair list (id_a, id_b — e.g. minhash_lsh_pairs
    output) and negatives are deterministic pseudo-random non-neighbors.

    Negative sampling at scale CANNOT rank the full corpus per anchor
    (that is n² shuffle); instead a pool of AT MOST ``pool_cap``
    candidates — the global smallest md5(id || ':' || seed), i.e. a
    deterministic uniform draw that is corpus-size-independent —
    broadcasts to every anchor, and each anchor keeps its
    ``n_negatives`` pool members with the smallest
    md5(anchor || ':' || candidate); per-anchor order is deterministic
    and uncorrelated across anchors.  Known positives (either
    direction) and self-pairs are excluded BEFORE ranking, so the rank
    is stable under pool membership changes.

    The cap is ABSOLUTE, not a rate: a rate-proportional pool makes
    candidate generation O(anchors · rate·corpus) — quadratic at web
    scale and unbroadcastable.  The capped pool bounds the candidate
    join at O(anchors · pool_cap) and the pool selection itself is a
    two-phase top-K (`TakeOrderedAndProject`: per-partition top-K,
    driver merges partitions × pool_cap rows — bounded).

    Returns (anchor_id, positive_id, negative_id, neg_rank).
    """
    # the pair list feeds FOUR consumers (anchors, both exclusion
    # directions, the final join); without a barrier Catalyst pastes
    # the whole upstream pair-generation pipeline into each (measured
    # 20 exchanges vs 3 with ngram_jaccard_pairs as the source)
    positive_pairs = positive_pairs.select("id_a", "id_b").localCheckpoint()
    anchors = positive_pairs.select(
        F.col("id_a").alias("anchor_id"), F.col("id_b").alias("positive_id")
    )
    # md5 (not xxhash64) is the DuckDB-replayable seam; it runs once
    # per corpus id in the pool draw, not per candidate pair.
    pool = F.broadcast(
        docs.select(F.col(id_col).alias("negative_id"))
        .withColumn(
            "_pool_key",
            F.md5(
                F.concat(
                    F.col("negative_id").cast("string"),
                    F.lit(":"),
                    F.lit(str(seed)),
                )
            ),
        )
        .orderBy(F.col("_pool_key").asc(), F.col("negative_id").asc())
        .limit(pool_cap)
        .select("negative_id")
    )
    known = positive_pairs.select(
        F.col("id_a").alias("anchor_id"), F.col("id_b").alias("negative_id")
    ).unionByName(
        positive_pairs.select(
            F.col("id_b").alias("anchor_id"),
            F.col("id_a").alias("negative_id"),
        )
    )
    cand = (
        anchors.select("anchor_id").dropDuplicates(["anchor_id"])
        .join(pool, F.col("anchor_id") != F.col("negative_id"))
        .join(known, ["anchor_id", "negative_id"], "anti")
        .withColumn(
            "_rk_key",
            F.md5(
                F.concat(
                    F.col("anchor_id").cast("string"),
                    F.lit(":"),
                    F.col("negative_id").cast("string"),
                )
            ),
        )
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("_rk_key").asc(), F.col("negative_id").asc()
    )
    negs = (
        cand.withColumn("neg_rank", F.row_number().over(w).cast("long"))
        .where(F.col("neg_rank") <= n_negatives)
        .select("anchor_id", "negative_id", "neg_rank")
    )
    return anchors.join(negs, "anchor_id").select(
        "anchor_id", "positive_id", "negative_id", "neg_rank"
    )


def leakage_safe_split(
    docs: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[float, ...] = (0.8, 0.1, 0.1),
    names: tuple[str, ...] = ("train", "val", "test"),
    seed: int = 0,
) -> DataFrame:
    """Near-dup-aware train/val/test assignment: the split is a pure
    function of the document's duplicate-CLUSTER id, not the document
    id, so every member of a near-dup cluster lands in the SAME split
    — the guard against the classic evaluation leak where one copy of
    a duplicated page trains and its twin validates.  Plain
    per-document hash splits (``dataset_split``) and ``randomSplit``
    both have this leak on any corpus with near-duplicates.

    Composition: connected components over the supplied near-dup
    ``pairs`` graph (``dedup.duplicate_clusters`` — min-reachable-id
    labels), then the content-hash split gate applied to the component
    id (``sampling.dataset_split``).  Stable under re-runs, retries,
    repartitioning, and appends, like every hash-gated sampler here.

    Returns (id_col, component, split) for every input document.
    Singletons are their own component, so un-duplicated documents
    split exactly as ``dataset_split`` over component=id would.
    """
    from youtube_podcast_data_pipeline_azure_spark.operators.dedup import duplicate_clusters
    from youtube_podcast_data_pipeline_azure_spark.operators.sampling import dataset_split

    comps = duplicate_clusters(docs, pairs, id_col=id_col)
    return dataset_split(
        comps, "component", weights=weights, names=names, seed=seed
    )


def span_corruption_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_len: int = 3,
    noise_pct: int = 15,
    mask_hash=None,
) -> DataFrame:
    """T5-style span-corruption training pairs (Raffel et al. 2020),
    deterministically: the corpus becomes (input with masked spans
    replaced by ``<extra_id_N>`` sentinels, target holding each
    sentinel followed by the tokens it hides) — the denoising
    pretraining objective as a batch operator.  Where T5 samples spans
    randomly, here a token block (``span_len`` consecutive tokens) is
    masked iff ``hash(doc_id:block) % 100 < noise_pct`` — a pure
    content function, so re-runs, retries, and the SQL oracle all
    produce byte-identical pairs (the same determinism argument as
    ``dataset_split``'s hash gate).  ``mask_hash`` defaults to
    xxhash64 (the hot-path hash — one per TOKEN row); pass
    ``sketches.md5_int56`` to make the mask SQL-replayable for audits,
    the same dial :func:`dedup.simhash_near_dup_pairs` exposes.

    Shape: one posexplode to (doc, pos, token) rows, the mask decision
    per row (md5 on the 8-byte-ish ``id:block`` key, never the token
    text), one small distinct+rank frame to number each doc's masked
    spans, and one per-doc aggregate that reassembles both sequences
    via sort_array(struct(pos, out)) — collect_list alone is
    order-nondeterministic under retries; the struct sort makes the
    rebuild exact.  Shuffles carry (id, pos, short token) rows; at
    100 TB this is the same cost class as tokenization itself.

    Returns (id, input_text, target_text, n_spans, n_masked_tokens);
    docs with no maskable tokens keep target_text = ''.
    """
    if mask_hash is None:
        def mask_hash(c):
            return F.pmod(F.xxhash64(c), F.lit(100))

    t = (
        docs.select(
            F.col(id_col),
            F.posexplode(tokenize(F.col(text_col))).alias("pos", "tok"),
        )
        .withColumn("blk", (F.col("pos") / span_len).cast("long"))
        .withColumn(
            "masked",
            mask_hash(
                F.concat(
                    F.col(id_col).cast("string"),
                    F.lit(":"),
                    F.col("blk").cast("string"),
                )
            )
            % 100
            < noise_pct,
        )
    )
    w = Window.partitionBy(id_col).orderBy("blk")
    spans = (
        t.where("masked")
        .select(id_col, "blk")
        .distinct()
        .withColumn("sid", F.row_number().over(w) - 1)
    )
    t = t.join(spans, [id_col, "blk"], "left")
    sentinel = F.concat(
        F.lit("<extra_id_"), F.col("sid").cast("string"), F.lit(">")
    )
    first_of_blk = F.col("pos") == F.col("blk") * span_len
    out_in = F.when(~F.col("masked"), F.col("tok")).when(
        first_of_blk, sentinel
    )
    out_tg = F.when(
        F.col("masked") & first_of_blk,
        F.concat(sentinel, F.lit(" "), F.col("tok")),
    ).when(F.col("masked"), F.col("tok"))

    agg = t.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            out_in.isNotNull(),
                            F.struct(F.col("pos").alias("p"), out_in.alias("v")),
                        )
                    )
                ),
                lambda s: s.getField("v"),
            ),
            " ",
        ).alias("input_text"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            out_tg.isNotNull(),
                            F.struct(F.col("pos").alias("p"), out_tg.alias("v")),
                        )
                    )
                ),
                lambda s: s.getField("v"),
            ),
            " ",
        ).alias("target_text"),
        F.countDistinct(F.when(F.col("masked"), F.col("blk")))
        .cast("long")
        .alias("n_spans"),
        F.sum(F.when(F.col("masked"), 1).otherwise(0))
        .cast("long")
        .alias("n_masked_tokens"),
    )
    return agg


def source_mixture_card(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source mixture card: the stratum-level slice of
    :func:`dataset_card` that mixture design actually consumes — for
    each source, volume (docs/tokens), its token share of the corpus,
    mean quality, and the within-source exact-duplicate count.  This is
    the table you look at BEFORE writing mixture weights: a source
    whose share is 40% but whose mean quality and dup rate are the
    corpus's worst is over-weighted by construction.

    One scan → one source-keyed aggregate (count / token sum /
    integerized-quality sum / distinct-fingerprint count) + a global
    token total window over the (tiny, one-row-per-source) aggregate.
    Quality is integerized PER ROW (``floor(q·10⁴ + 0.5)`` on the
    4dp-rounded score) before summing, so the mean is an exact integer
    division — float summation order never touches the result.

    Returns (source, n_docs, n_tokens, token_share_permille,
    mean_quality_bp, n_dup_docs) where n_dup_docs = docs minus distinct
    normalized texts within the source.
    """
    from youtube_podcast_data_pipeline_azure_spark.functions.text import (
        quality_score,
        rolling_fingerprint,
        word_count,
    )

    q_bp = F.floor(quality_score(F.col(text_col)) * 10000 + F.lit(0.5)).cast(
        "long"
    )
    per = (
        docs.select(
            F.col(source_col).alias("source"),
            word_count(F.col(text_col)).alias("_nw"),
            q_bp.alias("_qbp"),
            rolling_fingerprint(F.col(text_col)).alias("_fp"),
        )
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("_nw").cast("long").alias("n_tokens"),
            F.sum("_qbp").cast("long").alias("_sum_qbp"),
            F.countDistinct("_fp").cast("long").alias("_n_distinct"),
        )
    )
    total = F.sum("n_tokens").over(Window.partitionBy())
    return per.select(
        "source",
        "n_docs",
        "n_tokens",
        F.floor(F.col("n_tokens") * 1000 / F.greatest(total, F.lit(1)))
        .cast("long")
        .alias("token_share_permille"),
        F.floor(F.col("_sum_qbp") / F.col("n_docs"))
        .cast("long")
        .alias("mean_quality_bp"),
        (F.col("n_docs") - F.col("_n_distinct")).cast("long").alias(
            "n_dup_docs"
        ),
    )


def _bigram_pairs(df: DataFrame, text_col: str, *extra_cols) -> DataFrame:
    """(extra_cols..., v, w) — one row per adjacent token TRANSITION.
    Documents with < 2 tokens emit nothing (no transitions exist).

    Built as a ``zip_with`` over two shifted slices (constant number of
    token-array evaluations per row — the per-index ``transform`` form
    re-runs the tokenizer per gram, Catalyst trap #2)."""
    toks = tokenize(F.col(text_col))
    pairs = F.when(
        F.size(toks) >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.struct(a.alias("v"), b.alias("w")),
        ),
    ).otherwise(F.array().cast("array<struct<v:string,w:string>>"))
    return df.select(*extra_cols, F.explode(pairs).alias("_p")).select(
        *extra_cols, F.col("_p.v").alias("v"), F.col("_p.w").alias("w")
    )


def lm_perplexity_report(
    docs: DataFrame,
    reference: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 3,
) -> DataFrame:
    """CCNet-style n-gram LM quality filter (Wenzek et al. 2020): train
    an add-1-smoothed bigram language model on a REFERENCE corpus (the
    "clean" distribution — e.g. one trusted source or language slice),
    score every document by its average negative log-likelihood under
    that model, and split the scored corpus into ``n_buckets``
    equal-size perplexity buckets (CCNet's head/middle/tail).  Low
    bucket = closest to the reference distribution.  Distinct from DSIR
    (:func:`..sampling.dsir_importance_weights`): DSIR contrasts target
    vs raw hashed-feature frequencies to RESAMPLE; this scores fluency
    under a generative model to FILTER — the two standard knobs of a
    curation pipeline.

    Model: P(w|v) = (c(v,w) + 1) / (c(v) + V), V = reference unigram
    types + 1 (one reserved UNK type keeps unseen words scorable).  The
    per-transition log-prob is quantized to integer micro-units
    (``floor(1e6 · ln P)``) BEFORE the per-document sum — the same seam
    as DSIR — so per-doc totals are pure int64, order-independent, and
    bit-identical across engines; per-token NLL is an integer ``div``.

    Bucketing is ntile(``n_buckets``) over (nll_per_tok, id) — but NOT
    via a single-partition global window.  The distributed-exact
    construction: per-distinct-VALUE counts (bounded by the quantized
    value space, ≲ 2e7 rows, not by corpus size) → cumulative rank
    offsets on that bounded table → per-doc global rank = offset +
    row_number within the doc's value group → closed-form ntile
    ``bucket = (rank-1)·k div N + 1`` (larger buckets first, the
    standard ntile remainder rule) — integer arithmetic end to end, so
    a plain global-ntile oracle reproduces it bit-for-bit.

    Scale shape: bigram counts shuffle (v, w) pairs with map-side
    combine — bounded by OBSERVED reference bigrams, not vocab²;
    context counts derive from the already-aggregated bigram table; the
    scoring joins shuffle (id, v, w) triples, never document text; the
    rank join touches the bounded value table.  No broadcast hints —
    AQE picks broadcast when the count tables are small.

    Returns one row per input document: (id_col, n_scored, nll_micro,
    nll_per_tok_micro, ppl_bucket); documents with < 2 tokens have
    n_scored = 0 and NULL score/bucket and do not occupy bucket slots.
    """
    ref_pairs = _bigram_pairs(reference, text_col)
    cvw = (
        ref_pairs.groupBy("v", "w")
        .agg(F.count(F.lit(1)).alias("_cvw"))
        # multi-consumer rule (r8): cvw feeds cv AND the scoring join —
        # without the checkpoint the reference bigram aggregation (and
        # its corpus scan) is pasted per consumer.  This materialized
        # table IS the trained LM — bounded by observed reference
        # bigrams, the piece lm_model_write persists.
        .localCheckpoint(eager=True)
    )
    vocab = (
        reference.select(
            F.explode(tokenize(F.col(text_col))).alias("_t")
        )
        .agg((F.count_distinct("_t") + F.lit(1)).alias("_V"))
    )
    return _lm_score_and_bucket(
        docs, cvw, vocab, text_col, id_col, n_buckets
    )


def _lm_score_and_bucket(
    docs: DataFrame,
    cvw: DataFrame,
    vocab: DataFrame,
    text_col: str,
    id_col: str,
    n_buckets: int,
) -> DataFrame:
    """Score + bucket documents under an ALREADY-BUILT bigram LM —
    shared by :func:`lm_perplexity_report` (in-plan training) and
    :func:`lm_perplexity_from_model` (loaded model).  ``cvw`` is the
    (v, w, _cvw) bigram-count table (materialized: checkpoint or
    parquet); ``vocab`` a 1-row (_V) frame."""
    cv = cvw.groupBy("v").agg(F.sum("_cvw").alias("_cv"))
    doc_pairs = _bigram_pairs(docs, text_col, id_col)
    scored_pairs = (
        doc_pairs.join(cvw, ["v", "w"], "left")
        .join(cv, ["v"], "left")
        .join(F.broadcast(vocab))
        .select(
            id_col,
            F.floor(
                F.lit(1_000_000.0)
                * (
                    F.log(F.coalesce("_cvw", F.lit(0)) + F.lit(1.0))
                    - F.log(
                        (F.coalesce("_cv", F.lit(0)) + F.col("_V")).cast(
                            "double"
                        )
                    )
                )
            )
            .cast("long")
            .alias("_lp"),
        )
    )
    per_doc = scored_pairs.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_scored"),
        (-F.sum("_lp")).cast("long").alias("nll_micro"),
    )
    scored = per_doc.select(
        id_col,
        "n_scored",
        "nll_micro",
        F.expr("nll_micro div n_scored").alias("nll_per_tok_micro"),
    # multi-consumer rule (r8): the per-doc scores feed the value-count
    # table AND the bucketing join — unchecked, the whole scoring
    # pipeline (doc scan + model joins) re-ran per consumer: 18 parquet
    # scans in one plan.  One eager corpus-grain pass, like ks_drift.
    ).localCheckpoint(eager=True)
    # distributed-exact ntile: bounded distinct-value rank offsets
    vcounts = scored.groupBy("nll_per_tok_micro").agg(
        F.count(F.lit(1)).alias("_c")
    )
    w_val = (
        Window.partitionBy()
        .orderBy("nll_per_tok_micro")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = vcounts.select(
        "nll_per_tok_micro",
        F.coalesce(F.sum("_c").over(w_val), F.lit(0)).alias("_before"),
        F.sum("_c").over(Window.partitionBy()).alias("_N"),
    )
    w_in = Window.partitionBy("nll_per_tok_micro").orderBy(id_col)
    bucketed = (
        scored.join(offsets, "nll_per_tok_micro")
        .withColumn(
            "_rank", F.col("_before") + F.row_number().over(w_in)
        )
        .select(
            id_col,
            "n_scored",
            "nll_micro",
            "nll_per_tok_micro",
            (
                F.expr(f"(_rank - 1) * {int(n_buckets)} div _N")
                + F.lit(1)
            )
            .cast("long")
            .alias("ppl_bucket"),
        )
    )
    return (
        docs.select(id_col)
        .join(bucketed, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_scored", F.lit(0)).cast("long").alias("n_scored"),
            F.coalesce("nll_micro", F.lit(0)).cast("long").alias(
                "nll_micro"
            ),
            "nll_per_tok_micro",
            "ppl_bucket",
        )
    )


def domain_mix_report(
    docs: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """Domain-grain crawl-mixture table (the C4/RefinedWeb view a data
    mixer is designed against; VERDICT r7 #7): URLs canonicalize first
    (:mod:`..functions.url` — case, default ports, tracking params,
    query order, trailing slashes), then per domain:

    - ``n_docs`` — crawled documents
    - ``n_pages`` — DISTINCT normalized URLs (one logical page counted
      once however its crawl URLs were spelled)
    - ``url_dup_bp`` — share of docs that are URL-level re-crawls,
      ``10000·(n_docs − n_pages) div n_docs``
    - ``n_tokens`` / ``token_share_permille`` — the mixture weights

    Scale shape: normalization is a per-row map fused into the scan;
    ONE corpus aggregate at (domain, normalized-url) grain (map-side
    combined), then a domain-grain rollup — both exchanges carry
    hashes/counts, never text.  The corpus token total enters as a
    single-partition window over the BOUNDED domain table (the
    mixture_plan pattern), not a second scan.  All integer.

    Returns (domain, n_docs, n_pages, url_dup_bp, n_tokens,
    token_share_permille) — domain = normalized host minus one leading
    ``www.`` (documented PSL heuristic in ``functions/url.py``).
    """
    from ..functions.url import url_domain, url_normalize

    per_url = (
        docs.select(
            url_domain(F.col(url_col)).alias("domain"),
            url_normalize(F.col(url_col)).alias("_nurl"),
            F.size(tokenize(F.col(text_col))).cast("long").alias("_toks"),
        )
        .groupBy("domain", "_nurl")
        .agg(
            F.count(F.lit(1)).cast("long").alias("_docs"),
            F.sum("_toks").cast("long").alias("_tokens"),
        )
    )
    per_domain = per_url.groupBy("domain").agg(
        F.sum("_docs").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_pages"),
        F.sum("_tokens").cast("long").alias("n_tokens"),
    )
    total = Window.partitionBy()
    return per_domain.withColumn(
        "_total", F.sum("n_tokens").over(total)
    ).select(
        "domain",
        "n_docs",
        "n_pages",
        F.expr("10000 * (n_docs - n_pages) div n_docs")
        .cast("long")
        .alias("url_dup_bp"),
        "n_tokens",
        # integer div, not a double cast: Spark cast truncates where
        # DuckDB rounds (oracle-parity rule)
        F.expr("1000 * n_tokens div _total")
        .cast("long")
        .alias("token_share_permille"),
    )


def turn_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    turn_tokens: int = 12,
) -> DataFrame:
    """Conversation-turn-level dedup for instruction/chat data
    (VERDICT r7 #7): multi-turn corpora repeat ENTIRE TURNS across
    conversations (canned greetings, boilerplate refusals, templated
    system text) that document-level dedup can't see — the document
    pair similarity stays low while the turn is verbatim everywhere.
    Split each document into fixed-width token turns (the fixture has
    no turn delimiters; on real chat data pass pre-split turns through
    the same fingerprint machinery), fingerprint each turn, keep the
    corpus-wide FIRST occurrence (order: id, turn index — the
    incremental_dedup keep rule), and rebuild each document from its
    surviving turns.

    Scale shape: turn splitting is a narrow per-doc explode (zero
    shuffles); the keep-first decision is ONE window over the turn
    FINGERPRINT (md5 digests shuffle, never turn text beyond its own
    row); the rebuild is one per-document aggregate.  Reassembly uses
    ``sort_array(collect_list(struct(idx, text)))`` — bare collect_list
    order is retry-nondeterministic.  All deterministic, so the DuckDB
    oracle replays the rewrite bit-for-bit.

    Returns (id_col, n_turns, n_dup_turns, text_deduped); documents
    whose every turn is novel come back verbatim (modulo whitespace
    canonicalization to single spaces).
    """
    from .sampling import chunk_documents

    base = docs.select(F.col(id_col), tokenize(F.col(text_col)).alias("_toks"))
    turns = chunk_documents(
        base, "_toks", id_col, chunk_size=turn_tokens, stride=turn_tokens
    )
    w = Window.partitionBy("_fp").orderBy(id_col, "chunk_idx")
    marked = turns.withColumn("_fp", F.md5("chunk_text")).withColumn(
        "_keep", (F.row_number().over(w) == 1).cast("int")
    )
    kept_struct = F.when(
        F.col("_keep") == 1, F.struct("chunk_idx", "chunk_text")
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_turns"),
            F.sum(1 - F.col("_keep")).cast("long").alias("n_dup_turns"),
            F.array_join(
                # collect_list drops the nulls of non-kept turns;
                # sort_array orders by chunk_idx (first struct field)
                F.transform(
                    F.sort_array(F.collect_list(kept_struct)),
                    lambda s: s["chunk_text"],
                ),
                " ",
            ).alias("text_deduped"),
        )
        .select(id_col, "n_turns", "n_dup_turns", "text_deduped")
    )


def lm_model_write(
    reference: DataFrame,
    path: str,
    text_col: str = "text",
) -> None:
    """Train the CCNet bigram LM ONCE and persist it — the fourth leg
    of the engine's build-once family (IVF lists, suffix ranks, BM25
    postings): a reference-corpus model is trained at curation-pipeline
    setup and scores every incoming batch, never retraining per run.

    Layout: ``{path}/bigrams`` — the (v, w, _cvw) count table
    range-clustered by v (context-keyed probes skip row groups on
    footer stats); ``{path}/meta`` — 1-row (vocab_v = distinct
    reference unigram types + 1, the add-1 smoothing denominator term
    recorded at train time).  Index layout = data.
    """
    spark = reference.sparkSession
    cvw = _bigram_pairs(reference, text_col).groupBy("v", "w").agg(
        F.count(F.lit(1)).alias("_cvw")
    )
    (
        cvw.repartitionByRange(32, "v")
        .sortWithinPartitions("v", "w")
        .write.mode("overwrite")
        .parquet(f"{path}/bigrams")
    )
    v_row = (
        reference.select(F.explode(tokenize(F.col(text_col))).alias("_t"))
        .agg((F.count_distinct("_t") + F.lit(1)).alias("_V"))
        .collect()[0]
    )
    spark.createDataFrame(
        [(int(v_row["_V"]),)], "vocab_v long"
    ).write.mode("overwrite").parquet(f"{path}/meta")


def lm_model_load(spark, path: str) -> "tuple[DataFrame, int]":
    """Load a persisted bigram LM: the (v, w, _cvw) table plus the
    recorded smoothing vocabulary size (one bounded 1-row collect)."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    return spark.read.parquet(f"{path}/bigrams"), int(meta["vocab_v"])


def lm_perplexity_from_model(
    spark,
    path: str,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 3,
) -> DataFrame:
    """:func:`lm_perplexity_report` over a PERSISTED model (see
    :func:`lm_model_write`) — identical scores and buckets for the same
    documents, none of the reference-corpus training cost: the loaded
    bigram table feeds the same scoring core and the recorded
    vocabulary size enters through the identical 1-row frame shape, so
    the expression tree (and therefore the quantized arithmetic) cannot
    diverge from the in-plan path."""
    cvw, vocab_v = lm_model_load(spark, path)
    vocab = spark.createDataFrame([(vocab_v,)], "_V long")
    return _lm_score_and_bucket(docs, cvw, vocab, text_col, id_col, n_buckets)


#: the Gopher rule lexicon — the paper's "must contain 2 of" stop set
#: (Rae et al. 2021, "Scaling Language Models", Table A1 text filters)
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)

#: bullet glyphs a line may start with / the ellipsis a line may end
#: with (Gopher line-shape rules) — shared with the SQL twin
GOPHER_BULLET_RE = r"^\s*[-*•]"
GOPHER_ELLIPSIS_RE = r"(\.\.\.|…)\s*$"

#: a word is "alphabetic" if it contains at least one LETTER in any
#: script — Unicode \p{L}, identical in Java regex and RE2 — not just
#: [a-z]: the ASCII form would reject most non-English documents
#: outright, a deviation from Rae et al. 2021's rule.  Shared with the
#: SQL twin.
GOPHER_ALPHA_RE = r"\p{L}"


def gopher_quality_report(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Gopher-style rule-based document quality report (Rae et al.
    2021 §A1.1 — the standard web-corpus pre-filter, adopted verbatim
    by MassiveText/RefinedWeb/Dolma; no reference analog, §2.C
    surface).  Per document, the seven classic signals and their rule
    verdicts, all in integer deci/permille units so both engines
    compute bit-identical values:

    - ``n_words`` ∈ [min_words, max_words]
    - ``mean_word_len_deci`` (10·chars ÷ words) ∈ [30, 100]
    - ``symbol_ratio_permille`` (1000·(# + …) ÷ words) ≤ 100
    - ``bullet_lines_permille`` (lines starting with a bullet) ≤ 900
    - ``ellipsis_lines_permille`` (lines ending in …) ≤ 300
    - ``alpha_word_permille`` (words containing a letter) ≥ 800
    - ``n_stop_hits`` (DISTINCT :data:`GOPHER_STOPWORDS` present) ≥ 2

    ``keep`` is the conjunction.  Scale shape: one narrow per-row map
    fused into the scan — token/line arrays are doc-local expressions,
    no explode, no shuffle, nothing but the scan's own exchange at any
    corpus size.  Degenerate docs (0 words / 0 lines) divide by a
    floored denominator of 1 and fail the word-count rule rather than
    raising under ANSI.
    """
    derived = _gopher_derived(docs, text_col, id_col)
    return derived.select(
        "*",
        _gopher_keep(min_words, max_words).alias("keep"),
    )


def _gopher_derived(
    docs: DataFrame,
    text_col: str,
    id_col: str,
    extra: "tuple[tuple[str, Column], ...]" = (),
) -> DataFrame:
    """The Gopher signal pipeline SHARED by
    :func:`gopher_quality_report` and :func:`quality_signals` (one
    implementation, two consumers — the `_nb_train` lesson).  Three
    staged selects so every multiply-referenced subtree is a NAMED
    column (Catalyst trap 3): the token/line arrays feed 4+ and 3+
    count expressions each — inlined, the tokenize split/filter would
    re-run once per consumer (measured 2.8 s vs 0.5 s exec-only at
    sf0.1).  The arrays are lambda ARGUMENTS below, not lambda-body
    references, so the project boundary survives.  ``extra`` =
    (name, expression-over-the-text-column) pairs computed in the
    FIRST select and carried through — how :func:`quality_signals`
    fuses language/quality/PII signals into the same single scan."""
    c = F.col(text_col)
    arrays = docs.select(
        F.col(id_col),
        tokenize(c).alias("_words"),
        F.split(c, r"\n").alias("_lines"),
        F.size(F.regexp_extract_all(c, F.lit(r"#|\.\.\.|…"), 0))
        .cast("long")
        .alias("_sym"),
        *[e.alias(n) for n, e in extra],
    )
    words = F.col("_words")
    lines = F.col("_lines")
    n_words = F.size(words).cast("long")
    n_lines = F.size(lines).cast("long")
    staged = arrays.select(
        id_col,
        n_words.alias("n_words"),
        F.greatest(n_words, F.lit(1)).alias("_dw"),
        F.aggregate(
            F.transform(words, lambda w: F.length(w).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("_wc"),
        F.col("_sym"),
        n_lines.alias("n_lines"),
        F.greatest(n_lines, F.lit(1)).alias("_dl"),
        F.size(
            F.filter(lines, lambda l: l.rlike(GOPHER_BULLET_RE))
        ).cast("long").alias("_bul"),
        F.size(
            F.filter(lines, lambda l: l.rlike(GOPHER_ELLIPSIS_RE))
        ).cast("long").alias("_ell"),
        F.size(
            F.filter(words, lambda w: w.rlike(GOPHER_ALPHA_RE))
        ).cast("long").alias("_alpha"),
        F.aggregate(
            F.array(
                *[
                    F.array_contains(words, F.lit(s)).cast("long")
                    for s in GOPHER_STOPWORDS
                ]
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("n_stop_hits"),
        *[F.col(n) for n, _ in extra],
    )
    return staged.select(
        id_col,
        "n_words",
        F.expr("10 * _wc div _dw").cast("long").alias("mean_word_len_deci"),
        F.expr("1000 * _sym div _dw").cast("long").alias(
            "symbol_ratio_permille"
        ),
        "n_lines",
        F.expr("1000 * _bul div _dl").cast("long").alias(
            "bullet_lines_permille"
        ),
        F.expr("1000 * _ell div _dl").cast("long").alias(
            "ellipsis_lines_permille"
        ),
        F.expr("1000 * _alpha div _dw").cast("long").alias(
            "alpha_word_permille"
        ),
        "n_stop_hits",
        *[F.col(n) for n, _ in extra],
    )


def _gopher_rules(
    min_words: int, max_words: int
) -> "tuple[tuple[str, Column], ...]":
    """The seven named Gopher PASS predicates over
    :func:`_gopher_derived`'s columns — the single rule source shared
    by :func:`_gopher_keep` (their conjunction) and
    :func:`gopher_rule_attribution` (per-rule kill counts), so the
    verdict and the attribution cannot drift."""
    return (
        (
            "word_count",
            (F.col("n_words") >= min_words)
            & (F.col("n_words") <= max_words),
        ),
        (
            "mean_word_len",
            (F.col("mean_word_len_deci") >= 30)
            & (F.col("mean_word_len_deci") <= 100),
        ),
        ("symbol_ratio", F.col("symbol_ratio_permille") <= 100),
        ("bullet_lines", F.col("bullet_lines_permille") <= 900),
        ("ellipsis_lines", F.col("ellipsis_lines_permille") <= 300),
        ("alpha_words", F.col("alpha_word_permille") >= 800),
        ("stopword_hits", F.col("n_stop_hits") >= 2),
    )


def _gopher_keep(min_words: int, max_words: int) -> Column:
    """The Gopher rule conjunction over :func:`_gopher_derived`'s
    columns — shared so the fused and standalone reports cannot
    disagree on the verdict."""
    rules = _gopher_rules(min_words, max_words)
    keep = rules[0][1]
    for _, expr in rules[1:]:
        keep = keep & expr
    return keep


def gopher_rule_attribution(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Per-rule kill attribution for the Gopher filter — the "why did
    my corpus shrink" operational report run before committing a rule
    set to a 100 TB pass: for each of the seven rules, how many
    documents FAIL it, and how many it kills ALONE (``n_sole_kill`` —
    the docs that would be recovered by relaxing just that rule).

    Same single-scan shape as :func:`gopher_quality_report` (the
    shared :func:`_gopher_derived` pipeline and the
    :func:`_gopher_rules` predicates), collapsed by ONE conditional
    aggregate; the 7-row result is a driver-side stack unpivot.
    Returns (rule, n_docs, n_failed, n_sole_kill).
    """
    rules = _gopher_rules(min_words, max_words)
    derived = _gopher_derived(docs, text_col, id_col)
    flags = derived.select(
        *[(~expr).cast("long").alias(f"_f_{n}") for n, expr in rules]
    )
    nf = F.col(f"_f_{rules[0][0]}")
    for n, _ in rules[1:]:
        nf = nf + F.col(f"_f_{n}")
    flagged = flags.select("*", nf.alias("_nf"))
    agg = flagged.agg(
        F.count(F.lit(1)).cast("long").alias("_n"),
        *[
            F.sum(f"_f_{n}").cast("long").alias(f"_fail_{n}")
            for n, _ in rules
        ],
        *[
            F.sum(
                F.when(
                    (F.col(f"_f_{n}") == 1) & (F.col("_nf") == 1), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias(f"_sole_{n}")
            for n, _ in rules
        ],
    )
    stack = "stack({}, {}) as (rule, n_docs, n_failed, n_sole_kill)".format(
        len(rules),
        ", ".join(f"'{n}', _n, _fail_{n}, _sole_{n}" for n, _ in rules),
    )
    return agg.select(F.expr(stack))


def quality_signals(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
) -> DataFrame:
    """Dolma-attributes-style FUSED per-document signal vector: every
    doc-local quality signal the curation stack uses — the seven
    Gopher rule metrics + verdict, the stopword language ID, the
    blended heuristic quality score, and the three PII counts — in
    ONE scan (Soldaini et al. 2024's "attributes" job; RedPajama-v2
    ships the same wide-signal table).  At 100 TB this fusion is the
    difference between one pass over the corpus and six: every signal
    here is a doc-local expression, so the whole table is a narrow
    per-row map fused into the scan — no explode, no shuffle, no
    join, nothing but the scan's own parallelism at any corpus size
    (pinned in test_plans.py).

    Column semantics are IDENTICAL to the standalone operators by
    construction (shared :func:`_gopher_derived` pipeline /
    :func:`_gopher_keep` verdict / `language_id` / `quality_score` /
    `pii_count` expression functions), so a signal read from this
    table always agrees with the dedicated report.
    """
    from .util import spread

    c = F.col(text_col)
    # spread() before the fused signal map (optimization r14, guide
    # §2.5): this is the single heaviest per-row expression pipeline in
    # the engine (tokenize + 10+ regex scans + HOF folds per document),
    # and a single-file parquet scan is ONE partition locally — the
    # whole pass ran on one core.  On a multi-split cluster scan
    # spread() is a no-op, so the fused table keeps its "scan's own
    # parallelism" contract; locally it is one narrow (id, text)
    # exchange BEFORE the heavy map, never after it.
    return _gopher_derived(
        spread(docs.select(id_col, text_col), id_col),
        text_col,
        id_col,
        extra=(
            ("lang", language_id(c)),
            ("quality", quality_score(c)),
            ("n_pii_email", pii_count(c, "email")),
            ("n_pii_phone", pii_count(c, "phone")),
            ("n_pii_ip", pii_count(c, "ip")),
        ),
    ).select(
        "*",
        _gopher_keep(min_words, max_words).alias("gopher_keep"),
    )


#: substrings that disqualify a line (C4 §2.2 boilerplate markers,
#: lowercase-matched) — shared with the SQL twin
C4_BANNED_SUBSTRINGS: tuple[str, ...] = (
    "javascript", "cookie", "lorem ipsum", "{",
)

#: a kept line must end in terminal punctuation (C4's sentence gate)
C4_TERMINAL_RE = r'[.!?"]$'

#: trailing whitespace/line-terminator strip applied BEFORE the
#: terminal-punct gate, on both engines.  Explicit codepoints, not
#: ``\s`` (Java and RE2 class membership differs at \x0B), covering
#: every character Java regex treats as a line terminator (\r, NEL
#: \x85, U+2028, U+2029) plus tab/VT/FF/space: after the strip the
#: line cannot end in a Java line terminator, so Java '$'
#: (matches before a FINAL line terminator) and RE2 '$' (end-of-text
#: only) agree on C4_TERMINAL_RE — the CRLF-crawl-page twin seam.
C4_TRAIL_RE = r"[\x{09}\x{0B}\x{0C}\x{0D}\x{85}\x{2028}\x{2029} ]+$"


def c4_line_filter(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_words: int = 3,
) -> DataFrame:
    """C4-style line-level cleaning (Raffel et al. 2020 §2.2 — the
    line rules behind the C4 corpus, reused by mC4/FineWeb; no
    reference analog, §2.C surface).  A line survives iff:

    - its right-trimmed tail ends in terminal punctuation
      (:data:`C4_TERMINAL_RE`),
    - it has ≥ ``min_line_words`` whitespace words, and
    - its lowercase form contains none of
      :data:`C4_BANNED_SUBSTRINGS` (the curly brace catches leaked
      code/JSON, the rest catch boilerplate).

    Returns (id, n_lines, n_kept, text_clean) with survivors rejoined
    by newline in original order — a REBUILD, not just a report, so
    downstream tokenization sees the cleaned text.

    Scale shape: one narrow per-row map fused into the scan — the line
    array is a doc-local higher-order expression, no explode, no
    shuffle; at 100 TB this is scan-bound like every other per-row
    cleaner.  Degenerate docs (no newline) are a 1-line array and flow
    through the same predicate.
    """

    def _line_ok(l: Column) -> Column:
        words = F.filter(
            F.split(l, r"\s+"), lambda t: t != ""
        )
        low = F.lower(l)
        banned = F.lit(False)
        for s in C4_BANNED_SUBSTRINGS:
            banned = banned | low.contains(s)
        return (
            # C4_TRAIL_RE first: with trailing terminators stripped,
            # Java '$' and RE2 '$' agree (see the constant's docstring)
            F.regexp_replace(l, C4_TRAIL_RE, "").rlike(C4_TERMINAL_RE)
            & (F.size(words) >= min_line_words)
            & ~banned
        )

    c = F.col(text_col)
    staged = docs.select(
        F.col(id_col),
        F.split(c, r"\n").alias("_lines"),
    ).select(
        id_col,
        F.size("_lines").cast("long").alias("n_lines"),
        F.filter("_lines", _line_ok).alias("_kept"),
    )
    return staged.select(
        id_col,
        "n_lines",
        F.size("_kept").cast("long").alias("n_kept"),
        F.array_join("_kept", "\n").alias("text_clean"),
    )


def nb_quality_scores(
    labeled: DataFrame,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "label",
) -> DataFrame:
    """Multinomial Naive-Bayes quality classifier — the deterministic
    cousin of the fastText/logistic quality filters every web-corpus
    pipeline trains on a trusted seed set (GPT-3 §A.2, CCNet §4.2;
    no reference analog, §2.C surface).  Train add-1-smoothed per-class
    token models on ``labeled`` (boolean ``label_col``: True = the
    quality seed), then score every ``docs`` row by the integer
    micro-unit log-odds

        Σ_tokens [q(ln P(w|pos)) − q(ln P(w|neg))] + q-prior,

    with ``q(x) = floor(1e6·x)`` applied per class per token — the
    exact lm_perplexity seam, so per-doc totals are pure int64,
    order-independent, and bit-identical across engines (unseen words
    hit the coalesce(count, 0)+1 smoothing path on both sides; NB has
    a natural UNK because ln(1) = 0 exactly).

    Scale shape: the per-class count table aggregates ONCE (map-side
    combined, vocabulary-grain) and is eagerly checkpointed — it feeds
    the corpus scalar probe AND the scoring join, and without the
    checkpoint the multi-consumer paste would re-run training per
    consumer (the r8 bm25/lm lesson).  The four corpus scalars (class
    token totals, vocabulary size, class doc counts) fold in as plan
    LITERALS via bounded 1-row collects; scoring is one explode + one
    vocabulary join (AQE broadcasts the count table) + one per-doc
    sum; document text never shuffles.

    Returns one row per ``docs`` row: (id, n_scored, score_micro,
    predicted) — zero-token docs score NULL / predicted NULL.
    """
    counts, t_pos, t_neg, vocab_v, n_pos, n_neg = _nb_train(
        labeled, text_col, label_col, "nb_quality_scores"
    )
    return _nb_score(
        docs, counts, t_pos, t_neg, vocab_v, n_pos, n_neg,
        text_col, id_col,
    )


def _nb_train(
    labeled: DataFrame,
    text_col: str,
    label_col: str,
    caller: str,
) -> "tuple[DataFrame, int, int, int, int, int]":
    """Shared NB training aggregation — ONE implementation of the
    per-class count table + the five corpus scalars, used by both
    :func:`nb_quality_scores` (in-plan scoring) and
    :func:`nb_model_write` (persistence), so the two training paths
    cannot drift.  Returns ``(counts, t_pos, t_neg, vocab_v, n_pos,
    n_neg)`` with ``counts`` eagerly checkpointed (it feeds the scalar
    probe AND the scoring join — the r8 multi-consumer-paste lesson).
    """
    lab = F.col(label_col).cast("boolean")
    tok_l = labeled.select(
        lab.alias("_lab"),
        F.explode(tokenize(F.col(text_col))).alias("_w"),
    )
    counts = (
        tok_l.groupBy("_w")
        .agg(
            F.sum(F.when(F.col("_lab"), 1).otherwise(0))
            .cast("long")
            .alias("_cp"),
            F.sum(F.when(~F.col("_lab"), 1).otherwise(0))
            .cast("long")
            .alias("_cn"),
        )
        .localCheckpoint()
    )
    stats = counts.agg(
        F.sum("_cp").alias("_tp"),
        F.sum("_cn").alias("_tn"),
        F.count(F.lit(1)).alias("_v"),
    ).collect()[0]
    t_pos = int(stats["_tp"] or 0)
    t_neg = int(stats["_tn"] or 0)
    vocab_v = int(stats["_v"]) + 1  # one reserved UNK type
    dstats = labeled.agg(
        F.sum(F.when(lab, 1).otherwise(0)).alias("_np"),
        F.sum(F.when(~lab, 1).otherwise(0)).alias("_nn"),
    ).collect()[0]
    n_pos, n_neg = int(dstats["_np"] or 0), int(dstats["_nn"] or 0)
    if not n_pos or not n_neg:
        raise ValueError(f"{caller}: both classes required")
    return counts, t_pos, t_neg, vocab_v, n_pos, n_neg


def _nb_score(
    docs: DataFrame,
    counts: DataFrame,
    t_pos: int,
    t_neg: int,
    vocab_v: int,
    n_pos: int,
    n_neg: int,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """Shared NB scoring core over a materialized per-class count
    table + literal corpus scalars — used by the in-plan trainer and
    the loaded-model path so the quantized arithmetic cannot
    diverge."""

    def q(expr):
        return F.floor(F.lit(1_000_000.0) * expr).cast("long")

    # engine-side ln over the same integers on both engines (the
    # lm_perplexity parity seam); scalars are plan literals
    w_pos = q(
        F.log((F.coalesce("_cp", F.lit(0)) + F.lit(1)).cast("double"))
        - F.log(F.lit(float(t_pos + vocab_v)))
    )
    w_neg = q(
        F.log((F.coalesce("_cn", F.lit(0)) + F.lit(1)).cast("double"))
        - F.log(F.lit(float(t_neg + vocab_v)))
    )
    # class prior, quantized per class like the word weights; ln runs
    # engine-side over literal ints on BOTH engines (python math.log
    # stays out of the contract)
    prior_col = q(
        F.log(F.lit(float(n_pos))) - F.log(F.lit(float(n_pos + n_neg)))
    ) - q(
        F.log(F.lit(float(n_neg))) - F.log(F.lit(float(n_pos + n_neg)))
    )
    doc_toks = docs.select(
        F.col(id_col), F.explode(tokenize(F.col(text_col))).alias("_w")
    )
    scored = (
        doc_toks.join(counts, "_w", "left")
        .select(F.col(id_col), (w_pos - w_neg).alias("_wt"))
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_scored"),
            F.sum("_wt").cast("long").alias("_s"),
        )
        .select(
            id_col,
            "n_scored",
            (F.col("_s") + prior_col).cast("long").alias("score_micro"),
        )
    )
    return (
        docs.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce("n_scored", F.lit(0)).cast("long").alias("n_scored"),
            "score_micro",
            F.when(
                F.col("score_micro").isNotNull(), F.col("score_micro") > 0
            ).alias("predicted"),
        )
    )


def nb_model_write(
    labeled: DataFrame,
    path: str,
    text_col: str = "text",
    label_col: str = "label",
) -> None:
    """Train the NB quality model ONCE and persist it (the
    lm_model_write pattern): the per-class count table range-clustered
    by token plus a 1-row meta recording the five corpus scalars, so
    scoring batches never retrains.  Index layout = data.  Training is
    the shared :func:`_nb_train` — the same aggregation
    :func:`nb_quality_scores` runs in-plan, so persisted and in-plan
    models cannot drift."""
    spark = labeled.sparkSession
    counts, t_pos, t_neg, vocab_v, n_pos, n_neg = _nb_train(
        labeled, text_col, label_col, "nb_model_write"
    )
    (
        counts.repartitionByRange(32, "_w")
        .sortWithinPartitions("_w")
        .write.mode("overwrite")
        .parquet(f"{path}/counts")
    )
    spark.createDataFrame(
        [(t_pos, t_neg, vocab_v, n_pos, n_neg)],
        "t_pos long, t_neg long, vocab_v long, n_pos long, n_neg long",
    ).write.mode("overwrite").parquet(f"{path}/meta")


def nb_scores_from_model(
    spark,
    path: str,
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """:func:`nb_quality_scores` over a PERSISTED model — identical
    integer scores for the same documents, none of the training cost
    (shared :func:`_nb_score` core, recorded scalars as literals)."""
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    return _nb_score(
        docs,
        spark.read.parquet(f"{path}/counts"),
        int(meta["t_pos"]),
        int(meta["t_neg"]),
        int(meta["vocab_v"]),
        int(meta["n_pos"]),
        int(meta["n_neg"]),
        text_col,
        id_col,
    )


#: default micro-log-odds cutoffs for :func:`nb_threshold_curve` —
#: a symmetric grid around the decision boundary (0 = equal class
#: likelihood), in the same floor(1e6·ln) units as ``score_micro``
NB_THRESHOLD_GRID: tuple[int, ...] = (
    -5_000_000,
    -2_000_000,
    -1_000_000,
    -500_000,
    0,
    500_000,
    1_000_000,
    2_000_000,
    5_000_000,
)


def nb_threshold_curve(
    labeled: DataFrame,
    docs_eval: DataFrame,
    thresholds: "tuple[int, ...]" = NB_THRESHOLD_GRID,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "label",
    eval_label_col: str = "label",
) -> DataFrame:
    """Operating-point table for the NB quality filter: train on
    ``labeled``, score a held-out LABELED eval slice, and report, for
    every cutoff in ``thresholds`` (micro-log-odds units), the corpus
    yield and the filter's precision/recall against the eval labels —
    the table every seed-set quality filter is tuned from BEFORE
    committing a cutoff to a 100-TB run (CCNet picks its perplexity
    terciles this way; GPT-3 §A.2 its Pareto cut).

    Per threshold: ``n_kept`` (score > t), ``n_pos_kept``,
    ``precision_permille`` (positives among kept, 0 when nothing
    kept), ``recall_permille`` (kept among positives),
    ``yield_permille`` (kept among all eval docs).  Integer permille
    via truncating div — bit-identical across engines.  NULL scores
    (zero-token docs) are never kept, on both engines, because the
    CASE gate defaults to 0.

    Scale shape: ONE scoring pass (the :func:`nb_quality_scores`
    plan), then a single 1-row conditional aggregate (len(thresholds)
    CASE-sums — no per-threshold scan, no crossJoin) unpivoted with
    ``stack`` to the (threshold, metrics) table.  The curve costs the
    score pass + one bounded aggregate at any corpus size.
    """
    scored = nb_quality_scores(
        labeled, docs_eval, text_col, id_col, label_col
    ).join(
        docs_eval.select(
            F.col(id_col),
            F.col(eval_label_col).cast("boolean").alias("_truth"),
        ),
        id_col,
    )
    aggs = [
        F.sum(F.when(F.col("_truth"), 1).otherwise(0))
        .cast("long")
        .alias("_npos"),
        F.count(F.lit(1)).cast("long").alias("_n"),
    ]
    for i, t in enumerate(thresholds):
        kept = F.when(F.col("score_micro") > F.lit(int(t)), 1).otherwise(0)
        aggs.append(F.sum(kept).cast("long").alias(f"_k{i}"))
        aggs.append(
            F.sum(
                F.when(
                    (F.col("score_micro") > F.lit(int(t))) & F.col("_truth"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias(f"_p{i}")
        )
    wide = scored.agg(*aggs)
    stack = ", ".join(
        f"{int(t)}L, _k{i}, _p{i}" for i, t in enumerate(thresholds)
    )
    return wide.select(
        F.expr(
            f"stack({len(thresholds)}, {stack}) AS "
            "(threshold_micro, n_kept, n_pos_kept)"
        ),
        "_npos",
        "_n",
    ).select(
        F.col("threshold_micro").cast("long"),
        F.col("n_kept").cast("long"),
        F.col("n_pos_kept").cast("long"),
        F.expr("1000 * n_pos_kept div greatest(n_kept, 1)")
        .cast("long")
        .alias("precision_permille"),
        F.expr("1000 * n_pos_kept div greatest(_npos, 1)")
        .cast("long")
        .alias("recall_permille"),
        F.expr("1000 * n_kept div greatest(_n, 1)")
        .cast("long")
        .alias("yield_permille"),
    )


def cap_per_source(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    cap: int = 10,
    order_col: str | None = None,
) -> DataFrame:
    """Per-source document cap — the anti-domination step a crawl
    mixture runs so no single domain/feed floods the corpus (Gopher
    caps documents per domain; CommonCrawl curation caps per
    registrable domain for the same reason: a 10⁸-page content farm
    must not BE the training set).

    Ranking inside each source is deterministic and content-free by
    default: docs order by ``(md5('cap:<id>'), id)``, so the kept
    subset is a uniform pseudo-random sample that is invariant to
    input order, partitioning, and reruns (the ``dataset_split`` hash
    gate applied at per-source grain).  Pass ``order_col`` (e.g. a
    quality score — HIGHER kept first, ties by id) when curation
    should keep the best documents instead of a uniform sample.

    Scale shape: one rank window partitioned on the source key — the
    single exchange carries (id, source[, order_col]), never text; a
    hot source is one partition's rank pass, not a collect.  Returns
    one row per input doc: (id, source, src_rank, kept) — the flag
    form, so the drop decision composes/audits like the other
    curation gates.
    """
    if int(cap) < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    if order_col is None:
        order = [
            F.md5(F.concat(F.lit("cap:"), F.col(id_col).cast("string"))).asc(),
            F.col(id_col).asc(),
        ]
    else:
        order = [F.col(order_col).desc(), F.col(id_col).asc()]
    w = Window.partitionBy(source_col).orderBy(*order)
    return df.select(
        F.col(id_col),
        F.col(source_col),
        F.row_number().over(w).cast("long").alias("src_rank"),
    ).select(
        id_col,
        source_col,
        "src_rank",
        (F.col("src_rank") <= F.lit(int(cap))).alias("kept"),
    )


def cap_per_source_two_phase(
    df: DataFrame,
    source_col: str = "source",
    id_col: str = "doc_id",
    cap: int = 10,
    buckets: int = 64,
) -> DataFrame:
    """Skew-safe twin of :func:`cap_per_source` — the two-phase
    hash-bucket pre-cap (VERDICT r11 #5b's documented mitigation).
    :func:`cap_per_source`'s single rank window puts a hot source's
    ENTIRE row set on one partition's sort: correct, and fine at any
    wall-clock the local bench can see, but on a 1000-executor cluster
    a source owning 90% of a 100 TB crawl is one executor sorting
    90 TB of keys — a memory ceiling, not a speed problem.

    Phase 1 ranks within (source, ``pmod(xxhash64(id), buckets)``) —
    ``buckets``× more, ``buckets``× smaller partitions — and keeps
    each bucket's best ``cap``.  Phase 2 ranks the ≤ ``buckets·cap``
    survivors per source exactly.  The admitted set is IDENTICAL to
    the one-window operator's: a doc in the global best-``cap`` is
    necessarily in its bucket's best-``cap`` (its bucket holds ≤ cap-1
    better docs in total, let alone locally), so phase 1 never
    eliminates a global winner, and phase 2's order is the same
    (md5('cap:<id>'), id) order over a superset of the winners.
    Survivor ranks 1..cap are therefore exact global ranks.

    What the bounded state COSTS is the audit tail: eliminated rows
    get ``kept = false`` with ``src_rank = NULL`` (their exact global
    rank is unknowable without the full sort that this operator exists
    to avoid); phase-2 survivors beyond ``cap`` also report NULL
    rather than a rank that is only exact among survivors.  Use the
    one-window form when the full rank audit matters and skew does
    not.  Equivalence of the kept set (and of kept ranks) is pinned in
    tests/test_curation.py.

    Rows are ranked DIRECTLY and the two branches unioned — never
    joined back to ``df`` by (id, source) (ADVICE r12): a key join
    would fan out on duplicate (id, source) input rows (2 input × 2
    ranked = 4 output) where the one-window twin emits exactly one row
    per input row.  Row-direct ranking keeps that one-row-per-row
    contract: duplicate rows tie on the sort key, occupy adjacent
    ranks, and the output multiset matches the one-window form.
    """
    if int(cap) < 1:
        raise ValueError(f"cap must be >= 1, got {cap}")
    if int(buckets) < 1:
        raise ValueError(f"buckets must be >= 1, got {buckets}")
    order = [
        F.md5(F.concat(F.lit("cap:"), F.col(id_col).cast("string"))).asc(),
        F.col(id_col).asc(),
    ]
    w1 = Window.partitionBy(
        source_col, F.pmod(F.xxhash64(F.col(id_col)), F.lit(int(buckets)))
    ).orderBy(*order)
    marked = df.select(F.col(id_col), F.col(source_col)).withColumn(
        "_br", F.row_number().over(w1)
    )
    # phase-1 eliminated rows exit here with the contractual NULL rank;
    # only the ≤ buckets·cap survivors per source reach the exact sort
    eliminated = marked.where(F.col("_br") > F.lit(int(cap))).select(
        id_col,
        source_col,
        F.lit(None).cast("long").alias("src_rank"),
        F.lit(False).alias("kept"),
    )
    w2 = Window.partitionBy(source_col).orderBy(*order)
    survivors = (
        marked.where(F.col("_br") <= F.lit(int(cap)))
        .withColumn("_r2", F.row_number().over(w2).cast("long"))
        .select(
            id_col,
            source_col,
            F.when(F.col("_r2") <= F.lit(int(cap)), F.col("_r2")).alias(
                "src_rank"
            ),
            (F.col("_r2") <= F.lit(int(cap))).alias("kept"),
        )
    )
    return survivors.unionByName(eliminated)


def _occurrence_key(lid: Column, id_col: str) -> Column:
    """The paragraph occurrence key ``id·10⁶ + _pos`` with its
    preconditions ENFORCED inside the expression (ADVICE r11): a
    non-numeric id or a ≥10⁶-paragraph document raises instead of
    silently electing a wrong winner via a null key.  The guard lives
    in the key expression itself — a dropped assert_true column would
    be eliminated by column pruning.  Shared by
    :func:`dedup_paragraphs` and :func:`paragraph_registry` so the two
    surfaces cannot disagree on winner selection."""
    key_ok = (
        lid.cast("long").isNotNull()
        # a negative id would make the key negative, and the decoder's
        # truncating `div` + non-negative `pmod` would silently decode
        # it to a WRONG (first_doc_id, first_pos) — e.g. id=-1, pos=5
        # encodes to -999995, which decodes to (0, 5).  Raise instead
        # (ADVICE r12), like the other precondition violations.
        & (lid.cast("long") >= F.lit(0))
        & (F.col("_pos") < F.lit(1_000_000))
    )
    return F.when(
        key_ok,
        (lid.cast("long") * F.lit(1_000_000) + F.col("_pos")).cast("long"),
    ).otherwise(
        F.raise_error(
            F.concat(
                F.lit(
                    "dedup_paragraphs: occurrence key needs a "
                    f"non-negative numeric id and <1e6 paragraphs/doc; "
                    f"got {id_col}="
                ),
                lid.cast("string"),
                F.lit(" _pos="),
                F.col("_pos").cast("string"),
            )
        ).cast("long")
    )


def paragraph_registry(
    df: DataFrame,
    id_col: str = "doc_id",
    paras_col: str = "paras",
) -> DataFrame:
    """The canonical-occurrence PARAGRAPH REGISTRY — the state a
    continuously-ingesting Dolma-style pipeline persists so paragraph
    dedup never re-scans the standing corpus (Dolma §2.2 keeps this as
    a Bloom filter; this is the exact, auditable form — the
    paragraph-grain sibling of ``dedup.incremental_dedup``'s document
    fingerprint index): one row per distinct paragraph with where it
    first occurred and how often it repeats.

    Winner selection is the SAME integer occurrence-key min as
    :func:`dedup_paragraphs` (shared :func:`_occurrence_key`, guards
    included), so ``first_doc_id/first_pos`` are exactly the copies
    that operator keeps; ``n_occurrences`` is the repeat mass a
    boilerplate report reads.  NULL paragraph elements are skipped (a
    null digest indexes nothing) — consistent with the dedup
    operator's drop-null contract.

    Both aggregates (min, count) are commutative, so the SAME plan
    runs as a Structured Streaming update-mode aggregate whose state
    converges to the batch answer on ANY micro-batch arrival order —
    the property that makes the streaming run oracle-checkable
    (latest update per digest == the batch row; parity pinned in
    tests/test_streaming.py).  Streaming state is O(distinct
    paragraphs), unbounded by design exactly like
    ``streaming/docs_stream.py:dedup_against_corpus`` — corpus
    membership has no expiry.

    Scale shape: explode → map-side partial (min, count) per digest →
    one digest-keyed exchange carrying (digest, long, long); paragraph
    text never shuffles.  Returns (para_digest, first_doc_id,
    first_pos, n_occurrences).
    """
    lid = F.col(id_col)
    ex = (
        df.select(
            lid, F.posexplode(F.col(paras_col)).alias("_pos", "_p")
        )
        .where(F.col("_p").isNotNull())
        .select(
            F.md5(F.col("_p")).alias("para_digest"),
            _occurrence_key(lid, id_col).alias("_k"),
        )
    )
    # integer `div`, not float division: keys near id·10⁶ exceed 2⁵³
    # for snowflake-scale ids and a double round-trip would corrupt
    # the decode
    return (
        ex.groupBy("para_digest")
        .agg(
            F.min("_k").alias("_kmin"),
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        )
        .select(
            "para_digest",
            F.expr("_kmin div 1000000").cast("long").alias("first_doc_id"),
            F.pmod(F.col("_kmin"), F.lit(1_000_000))
            .cast("long")
            .alias("first_pos"),
            "n_occurrences",
        )
    )


def merge_paragraph_registries(*registries: DataFrame) -> DataFrame:
    """Associative MERGE of :func:`paragraph_registry` outputs — the
    compaction/combine primitive of the registry lifecycle (r13): fold
    any number of shard/partial registries into one, bit-equal to
    recomputing the registry over the concatenated corpora.

    Correctness rests on both aggregates being commutative monoids
    over the registry rows: the canonical first occurrence is
    ``min(first_doc_id·10⁶ + first_pos)`` (the same guarded occurrence
    key order the per-corpus registry used — re-encoding is exact
    because :func:`_occurrence_key` already enforced non-negative ids
    and ``pos < 10⁶``) and repeat mass is ``sum(n_occurrences)``.
    This is the identity that makes the update-mode STREAMING registry
    converge order-invariantly (tests/test_streaming.py) and lets the
    streaming sink's per-batch deltas compact periodically without
    changing reader semantics.

    Scale shape: union → digest-keyed partial (min, sum) — one
    exchange carrying (digest, long, long); input registries are
    already digest-grain, so the merge is linear in registry rows and
    never touches documents.
    """
    if not registries:
        raise ValueError("merge_paragraph_registries needs >= 1 registry")
    u = registries[0]
    for r in registries[1:]:
        u = u.unionByName(r)
    key = (
        F.col("first_doc_id") * F.lit(1_000_000) + F.col("first_pos")
    ).cast("long")
    return (
        u.select("para_digest", key.alias("_k"), "n_occurrences")
        .groupBy("para_digest")
        .agg(
            F.min("_k").alias("_kmin"),
            F.sum("n_occurrences").cast("long").alias("n_occurrences"),
        )
        .select(
            "para_digest",
            F.expr("_kmin div 1000000").cast("long").alias("first_doc_id"),
            F.pmod(F.col("_kmin"), F.lit(1_000_000))
            .cast("long")
            .alias("first_pos"),
            "n_occurrences",
        )
    )


def dedup_paragraphs_incremental(
    new_docs: DataFrame,
    registry: DataFrame,
    id_col: str = "doc_id",
    paras_col: str = "paras",
) -> DataFrame:
    """Incremental paragraph dedup of an ARRIVING shard against the
    standing :func:`paragraph_registry` — the production consumer of
    the persisted index (the paragraph-grain sibling of
    ``dedup.incremental_dedup``): a paragraph survives iff its digest
    is absent from the registry (the standing corpus already holds a
    canonical copy) AND it is the shard's own first occurrence (same
    guarded integer key as :func:`dedup_paragraphs`, so within-shard
    semantics are identical to the batch operator's).

    This is why the registry exists: the standing corpus participates
    ONLY as its digest set — never re-chunked, never re-scanned — so
    per-shard cost is O(shard) plus one digest-keyed anti-join however
    large the corpus grows.  NULL paragraphs drop as in the batch
    operator.  Returns (id, kept paragraphs in original order,
    n_paras, n_paras_removed) for the arriving shard.
    """
    lid = F.col(id_col)
    ex = (
        new_docs.select(
            lid, F.posexplode(F.col(paras_col)).alias("_pos", "_p")
        )
        .withColumn("_h", F.md5(F.col("_p")))
        .withColumn("_k", _occurrence_key(lid, id_col))
    )
    fresh = ex.join(
        registry.select(F.col("para_digest").alias("_h")),
        "_h",
        "left_anti",
    )
    firsts = fresh.groupBy("_h").agg(F.min("_k").alias("_kmin"))
    kept = (
        fresh.join(firsts, "_h")
        .where(F.col("_k") == F.col("_kmin"))
        .select(lid, "_pos", "_p")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("_pos"), F.col("_p")))
            ),
            lambda s: s.getField("_p"),
        ).alias(paras_col),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    original = new_docs.select(
        lid, F.size(F.col(paras_col)).alias("_n_orig")
    )
    return original.join(rebuilt, id_col, "left").select(
        lid,
        F.coalesce(
            F.col(paras_col), F.array().cast("array<string>")
        ).alias(paras_col),
        F.col("_n_orig").cast("long").alias("n_paras"),
        (F.col("_n_orig") - F.coalesce(F.col("_n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_paras_removed"),
    )


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    paras_col: str = "paras",
) -> DataFrame:
    """Corpus-wide exact paragraph deduplication with FIRST-OCCURRENCE
    survival — the Dolma paragraph-level dedup pass (Dolma §2.2 runs
    it with a Bloom filter; this is the exact set-semantics version):
    every distinct paragraph keeps its first occurrence in (doc id,
    position) order and every LATER copy drops from its document.

    Complements :func:`remove_boilerplate_lines`, which drops hot
    lines from EVERY document including the first: here the canonical
    copy always survives, so the corpus token mass of a syndicated
    press release / license block / widely-quoted passage collapses to
    exactly one instance instead of zero — the right semantics when
    the content itself is wanted once (C4-style hot-line removal is
    the right call when it is wanted never).

    Winner selection is pure integer arithmetic: occurrence key
    ``id·10⁶ + pos`` (``id_col`` must be numeric and per-doc paragraph
    positions below 10⁶ — any realistic grain), one min per paragraph
    digest, a row survives iff its own key equals its digest's min.
    Both preconditions are ENFORCED at runtime (ADVICE r11): a
    non-numeric id or a ≥10⁶-paragraph document raises inside the key
    expression instead of silently electing the wrong winner.  NULL
    paragraphs (a null array element, not an empty string) are by
    contract dropped from every document — a null digest never wins
    the min — and count toward ``n_paras_removed``.
    Shuffles carry the 32-char digest and two longs; paragraph text
    moves only on the final per-doc reassembly shuffle.  Returns
    (id, kept paragraphs in original order, n_paras, n_paras_removed).
    """
    lid = F.col(id_col)
    ex = (
        df.select(
            lid, F.posexplode(F.col(paras_col)).alias("_pos", "_p")
        )
        .withColumn("_h", F.md5(F.col("_p")))
        .withColumn("_k", _occurrence_key(lid, id_col))
    )
    # Winner selection as a min-over-window on the digest partition
    # (optimization r14, guide §2.4): the previous groupBy + join-back
    # re-keyed the SAME rows by _h twice (digest aggregate exchange +
    # the join's probe) and pasted the explode+md5 subtree into both
    # legs of the static plan; one _h-keyed window does it in a single
    # exchange (A/B'd at sf0.1: 0.98 s -> 0.76 s fresh, identical
    # rows).  NULL paragraphs previously dropped via the join's
    # null-key semantics — now an explicit filter, same contract.
    kmin = F.min("_k").over(Window.partitionBy("_h"))
    kept = (
        ex.where(F.col("_h").isNotNull())
        .withColumn("_kmin", kmin)
        .where(F.col("_k") == F.col("_kmin"))
        .select(lid, "_pos", "_p")
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("_pos"), F.col("_p")))
            ),
            lambda s: s.getField("_p"),
        ).alias(paras_col),
        F.count(F.lit(1)).alias("_n_kept"),
    )
    original = df.select(lid, F.size(F.col(paras_col)).alias("_n_orig"))
    return original.join(rebuilt, id_col, "left").select(
        lid,
        F.coalesce(
            F.col(paras_col), F.array().cast("array<string>")
        ).alias(paras_col),
        F.col("_n_orig").cast("long").alias("n_paras"),
        (F.col("_n_orig") - F.coalesce(F.col("_n_kept"), F.lit(0)))
        .cast("long")
        .alias("n_paras_removed"),
    )


def nb_reliability_table(
    labeled: DataFrame,
    docs_eval: DataFrame,
    n_bins: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    label_col: str = "label",
    eval_label_col: str = "label",
) -> DataFrame:
    """Rank-based reliability (calibration) table for the NB quality
    filter — the companion read to :func:`nb_threshold_curve` BEFORE
    trusting its precision numbers: score the held-out labeled slice,
    split it into ``n_bins`` score bins on exact score percentiles,
    and report each bin's size, empirical positive rate, and score
    range.  A healthy ranking shows pos_permille rising monotonically
    across bins; a flat span means the score carries no signal there
    (so a cutoff inside it is arbitrary), and non-monotonicity flags
    training/eval drift (reliability diagrams, Niculescu-Mizil &
    Caruana '05, rank-binned so everything stays integer-exact).

    Bin edges are ``floor`` of exact score percentiles from a 1-row
    aggregate (the :func:`token_rarity_bins` tercile pattern — never a
    global sort/ntile); a doc's bin is 1 + (#edges strictly below its
    score), so ties share a bin deterministically.  NULL scores
    (zero-token docs) are EXCLUDED — they carry no calibration
    information and are never kept by the filter on either engine.

    Scale shape: the :func:`nb_quality_scores` plan + one 1-row
    percentile aggregate (broadcast as scalars) + one bounded
    (≤ n_bins)-row aggregate.  Returns (bin, n_docs, n_pos,
    pos_permille, score_min_micro, score_max_micro).
    """
    if not 2 <= int(n_bins) <= 100:
        raise ValueError(f"n_bins must be in [2, 100], got {n_bins}")
    scored = (
        nb_quality_scores(labeled, docs_eval, text_col, id_col, label_col)
        .join(
            docs_eval.select(
                F.col(id_col),
                F.col(eval_label_col).cast("boolean").alias("_truth"),
            ),
            id_col,
        )
        .where(F.col("score_micro").isNotNull())
        .select(id_col, "_truth", "score_micro")
    )
    fracs = ", ".join(
        f"{i / n_bins:.6f}" for i in range(1, int(n_bins))
    )
    cuts = scored.agg(
        F.expr(
            f"transform(percentile(score_micro, array({fracs})), "
            "x -> CAST(floor(x) AS BIGINT))"
        ).alias("_cuts")
    )
    return (
        scored.crossJoin(F.broadcast(cuts))
        .select(
            "_truth",
            "score_micro",
            F.expr(
                "1 + aggregate(_cuts, 0, (acc, c) -> acc + "
                "(CASE WHEN score_micro > c THEN 1 ELSE 0 END))"
            )
            .cast("long")
            .alias("bin"),
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("_truth"), 1).otherwise(0))
            .cast("long")
            .alias("n_pos"),
            F.min("score_micro").cast("long").alias("score_min_micro"),
            F.max("score_micro").cast("long").alias("score_max_micro"),
        )
        .select(
            "bin",
            "n_docs",
            "n_pos",
            F.expr("1000 * n_pos div n_docs").alias("pos_permille"),
            "score_min_micro",
            "score_max_micro",
        )
    )


def line_language_report(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-LINE language segmentation (the multilingual-crawl step CLD2
    pipelines run before line-level cleaning: a page's boilerplate is
    often in a different language than its content, so doc-level
    language ID alone misclassifies mixed pages).  Each line gets the
    engine's deterministic stopword language ID; the doc rolls up to

    - ``n_lines`` (non-blank)
    - ``dominant_lang`` — most frequent line language (ties: first by
      language code ascending, fully deterministic)
    - ``dominant_permille`` — its share of non-blank lines
    - ``n_langs`` — distinct line languages observed

    Scale shape: one explode at line grain (narrow), one (doc, lang)
    aggregate and one doc-grain argmax window over the bounded
    per-doc language table — exchanges carry (id, lang, count), text
    stays in its scan stage.  Blank lines are skipped on both engines.
    """
    from ..functions.text import language_id

    lines = docs.select(
        F.col(id_col), F.explode(F.split(F.col(text_col), r"\n")).alias("_l")
    ).where(F.trim("_l") != "")
    per_lang = (
        lines.select(F.col(id_col), language_id(F.col("_l")).alias("_lang"))
        .groupBy(id_col, "_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("_n"))
    )
    w = Window.partitionBy(id_col).orderBy(
        F.col("_n").desc(), F.col("_lang").asc()
    )
    tot = Window.partitionBy(id_col)
    return (
        per_lang.withColumn("_rk", F.row_number().over(w))
        .withColumn("n_lines", F.sum("_n").over(tot).cast("long"))
        .withColumn("n_langs", F.count(F.lit(1)).over(tot).cast("long"))
        .where(F.col("_rk") == 1)
        .select(
            id_col,
            "n_lines",
            F.col("_lang").alias("dominant_lang"),
            F.expr("1000 * _n div n_lines").cast("long").alias(
                "dominant_permille"
            ),
            "n_langs",
        )
    )


# ---------------------------------------------------------------------------
# domain blocklist filtering (UT1 / C4 / RefinedWeb-style URL hygiene)
# ---------------------------------------------------------------------------

def domain_blocklist_report(
    df: DataFrame,
    blocklist,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document domain-blocklist verdicts — the URL-hygiene step a
    crawl corpus runs before any content filter (C4 §2.2 "bad words"
    URL lists, RefinedWeb's UT1 adult/malware blocklists).

    A document is BLOCKED when its registrable domain
    (``functions/url.py:url_domain``) or ANY parent domain appears in
    the blocklist — ``ads.tracker.example.com`` is blocked by an
    ``example.com`` entry.  The label suffixes of a host are bounded by
    its label count (≤ ~6), generated per row as an array expression.

    Two execution shapes by blocklist type:

    * ``list``/``tuple`` (bounded, e.g. a curated category list): the
      suffix set is tested with ``arrays_overlap`` against a literal
      array — scan-fused, ZERO shuffles and zero joins.
    * ``DataFrame`` with a ``domain`` column (web-scale lists like
      UT1's millions of entries): suffixes explode (bounded fan-out)
      into a broadcast semi-join; if a list outgrows broadcast, feed it
      through ``operators/bloom.py`` first — the report contract is
      unchanged.

    Out-of-contract URLs (no ``scheme://``) have a NULL domain and are
    KEPT (they cannot match a domain list; route them to a separate
    validity filter).  Returns (id_col, domain, blocked).
    """
    from youtube_podcast_data_pipeline_azure_spark.functions.url import url_domain

    base = df.select(
        F.col(id_col), url_domain(url_col).alias("domain")
    ).select(
        id_col, "domain", F.split(F.col("domain"), r"\.").alias("_labels")
    )
    suffixes = F.transform(
        F.sequence(F.lit(1), F.size(F.col("_labels"))),
        lambda i: F.array_join(
            F.slice(F.col("_labels"), i, F.size(F.col("_labels")) - i + 1),
            ".",
        ),
    )
    if isinstance(blocklist, (list, tuple)):
        blocked = F.coalesce(
            F.arrays_overlap(
                suffixes, F.array(*[F.lit(b) for b in blocklist])
            ),
            F.lit(False),
        )
        return base.select(id_col, "domain", blocked.alias("blocked"))
    hits = (
        base.select(id_col, F.explode(suffixes).alias("_sfx"))
        .join(
            F.broadcast(blocklist.select(F.col("domain").alias("_sfx"))),
            "_sfx",
        )
        .select(id_col)
        .distinct()
        .withColumn("blocked", F.lit(True))
    )
    return (
        base.select(id_col, "domain")
        .join(hits, id_col, "left")
        .select(
            id_col,
            "domain",
            F.coalesce(F.col("blocked"), F.lit(False)).alias("blocked"),
        )
    )


def domain_blocklist_filter(
    df: DataFrame,
    blocklist,
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Survivors of :func:`domain_blocklist_report` — the original rows
    whose domain (and every parent domain) is absent from the
    blocklist.  Left-semi on the report's keep side, so payload
    columns never enter the verdict plan."""
    keep = domain_blocklist_report(
        df, blocklist, url_col=url_col, id_col=id_col
    ).where(~F.col("blocked"))
    return df.join(keep.select(id_col), id_col, "left_semi")


def char_entropy_report(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document character-distribution entropy — the cheap
    gibberish/encoded-blob detector that complements the Gopher word
    rules: natural prose sits near the language's characteristic
    entropy band, base64/hex dumps and key-mash noise sit far above,
    single-character floods far below.

    Uses the decomposition ``H = ln(n) − (Σ_c k_c·ln k_c)/n`` so the
    whole statistic comes from ONE (id, char) count aggregate followed
    by a per-doc rollup — no self-join back for totals.  Quantization
    contract (integer end-to-end, SQL-replayable):
    ``entropy_micro = floor(1e6·ln n) − (Σ_c k_c·floor(1e6·ln k_c)) div n``.
    Empty-string fragments are filtered on both engines (Spark and
    DuckDB split('') disagree on empty input).

    Scale shape: shuffle rows are (id, char) pairs — bounded by
    alphabet size per document (≲ low hundreds), with map-side combine;
    text never shuffles.  Returns (id_col, n_chars, n_distinct,
    entropy_micro).
    """
    cc = (
        df.select(
            F.col(id_col),
            F.explode(F.split(F.col(text_col), "")).alias("_c"),
        )
        .where(F.col("_c") != "")
        .groupBy(id_col, "_c")
        .agg(F.count(F.lit(1)).cast("long").alias("_k"))
    )
    rows = cc.select(
        id_col,
        "_k",
        (
            F.col("_k")
            * F.floor(
                F.lit(1_000_000.0) * F.log(F.col("_k").cast("double"))
            ).cast("long")
        ).alias("_t"),
    )
    per = rows.groupBy(id_col).agg(
        F.sum("_k").cast("long").alias("n_chars"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.sum("_t").cast("long").alias("_s2"),
    )
    return per.select(
        id_col,
        "n_chars",
        "n_distinct",
        (
            F.floor(
                F.lit(1_000_000.0) * F.log(F.col("n_chars").cast("double"))
            ).cast("long")
            - F.expr("_s2 div n_chars")
        ).alias("entropy_micro"),
    )


def contamination_by_eval_set(
    corpus: DataFrame,
    eval_sets: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    set_col: str = "eval_set",
    n: int = 8,
) -> DataFrame:
    """Per-(document, eval-set) contamination attribution — the
    multi-benchmark decontamination sweep (a real pipeline screens
    against MANY suites at once, and "which benchmark leaked into this
    page" decides whether to drop the doc or quarantine the suite).

    ``eval_sets`` carries (set_col, text_col) rows for every benchmark
    at once: the gram index becomes (gram, set) pairs — still
    KB-to-MB-scale and broadcast — so the corpus's exploded gram pass
    runs ONCE for all suites instead of once per suite (the point vs.
    looping :func:`contamination_report`).  The INNER broadcast join
    keeps only hit rows, so the (id, set) aggregate's shuffle is
    sparse; per-doc gram totals are doc-LOCAL (``size`` of the shingle
    set — no explode, no exchange, a cheap second scan) and join onto
    the tiny hit table.  Returns sparse rows
    (id, eval_set, n_grams, n_hit_grams, contam_milli) — only
    documents × sets with at least one shared gram.
    """
    sh = shingles(F.col(text_col), n)
    eval_grams = (
        eval_sets.select(
            F.col(set_col).alias("_set"),
            F.explode(shingles(F.col(text_col), n)).alias("gram"),
        )
        .distinct()
    )
    corp = corpus.select(F.col(id_col), F.explode(sh).alias("gram"))
    hits = (
        corp.join(F.broadcast(eval_grams), "gram")
        .groupBy(id_col, "_set")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit_grams"))
    )
    totals = corpus.select(
        F.col(id_col), F.size(sh).cast("long").alias("n_grams")
    )
    return hits.join(totals, id_col).select(
        id_col,
        F.col("_set").alias(set_col),
        "n_grams",
        "n_hit_grams",
        F.floor(F.col("n_hit_grams") * 1000 / F.col("n_grams"))
        .cast("long")
        .alias("contam_milli"),
    )


def split_by_line_language(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Split mixed-language pages into per-language SUB-DOCUMENTS —
    the rebuild counterpart of :func:`line_language_report` (CCNet
    routes each language's lines to its own language bucket rather
    than keeping or dropping whole mixed pages): every non-blank line
    gets the deterministic stopword language ID, and each (doc,
    language) group reassembles its lines IN ORIGINAL ORDER via the
    retry-safe ``sort_array(collect_list(struct(pos, line)))`` rebuild.

    One posexplode at line grain, one (doc, lang) aggregate — the
    shuffle carries lines once (they must reach their sub-document),
    per-group state is bounded by the page's own size.  Returns
    (id_col, lang, n_lines, text).
    """
    from ..functions.text import language_id

    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), r"\n")).alias("_pos", "_l"),
    ).where(F.trim("_l") != "")
    tagged = lines.select(
        id_col, "_pos", "_l", language_id(F.col("_l")).alias("lang")
    )
    return (
        tagged.groupBy(id_col, "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            F.array_join(
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.struct(
                                F.col("_pos").alias("p"),
                                F.col("_l").alias("t"),
                            )
                        )
                    ),
                    lambda s: s.getField("t"),
                ),
                "\n",
            ).alias("text"),
        )
    )
