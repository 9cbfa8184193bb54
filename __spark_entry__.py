"""Driver contract for the spark-graft builder (PySpark target).

Registry of every implemented operator (SURVEY.md §2) as a
(spark query, DuckDB oracle SQL) pair.  Conventions that keep the
driver's order-insensitive value-hash comparison stable:

* every computed column aliased identically on both sides;
* double-valued aggregates rounded (2dp money, 4dp ratios) on both
  sides so float summation order can't flip the hash;
* deterministic tie-breaks on every window/top-k ordering;
* counts cast to bigint on the oracle side (DuckDB sums ints to
  HUGEINT otherwise);
* int-returning Spark expressions (row_number, ntile, size, year,
  datediff) cast to long wherever the oracle column is BIGINT, so the
  two result schemas agree scalar-for-scalar.

Queries marked "rows-only" (no oracle entry) are the genuinely
non-SQL-expressible ones: approximate LSH ops and pandas_udf
enrichment.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from youtube_podcast_data_pipeline_azure_spark.enrichment import (
    DeterministicClassifier,
    enrich_comments,
    enrich_videos,
)
from youtube_podcast_data_pipeline_azure_spark.functions.durations import iso8601_duration_seconds
from youtube_podcast_data_pipeline_azure_spark.functions.text import (
    language_id,
    language_id_sql,
    normalize_text,
    normalize_text_sql,
    strip_markup,
    strip_markup_sql,
    quality_score,
    quality_score_sql,
    token_count_bpe,
    tokenize,
    winnowing_fingerprints,
    word_count,
)
from youtube_podcast_data_pipeline_azure_spark.functions.vectors import cosine_similarity, l2_norm
from youtube_podcast_data_pipeline_azure_spark.io import rest
from youtube_podcast_data_pipeline_azure_spark.io.readers import load_table
from youtube_podcast_data_pipeline_azure_spark.io.writers import (
    write_clustered,
    write_partitioned,
    zorder_key,
    zorder_key_sql,
)
from youtube_podcast_data_pipeline_azure_spark.operators.util import spread
from youtube_podcast_data_pipeline_azure_spark.functions.pii import (
    pii_count,
    pii_count_sql,
    redact_pii,
    redact_pii_sql,
)
from youtube_podcast_data_pipeline_azure_spark.operators import (
    analytics,
    bloom,
    curation,
    dedup,
    graph,
    incremental,
    joins,
    medallion,
    multimodal,
    observability,
    quality,
    sampling,
    similarity,
    sketches,
    skew,
    suffix,
    text_mining,
)
from youtube_podcast_data_pipeline_azure_spark.streaming.events_stream import (
    enrich_with_category,
    event_type_dim,
    purchase_view_attribution,
    purchase_view_attribution_outer,
    sessionized_counts,
    sliding_counts,
    streaming_dedup,
    tumbling_counts,
)
from youtube_podcast_data_pipeline_azure_spark.streaming.stateful import user_running_totals

# ---------------------------------------------------------------------------
# helpers
# ---------------------------------------------------------------------------


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


# ---------------------------------------------------------------------------
# reference-surface queries (SURVEY.md §2.A on the driver fixtures)
# ---------------------------------------------------------------------------


def q_kpi_event_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15 — normalized hash group-by count (final_kpis.py:41-46)."""
    return medallion.normalized_counts(
        _t(spark, sf_dir, "events"), "event_type", alias="event_type"
    )


def q_kpi_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14+A16 — multi-source totals assembled into one KPI row
    (final_kpis.py:25-58, minus the wall-clock timestamp)."""
    orders = _t(spark, sf_dir, "orders").agg(F.count("*").alias("total_orders"))
    lineitem = _t(spark, sf_dir, "lineitem").agg(
        F.count("*").alias("total_lineitems")
    )
    return orders.crossJoin(lineitem)


def q_clean_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 — trim + drop-empty filter (silver_clean_comments.py:45-47)."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("text", F.trim(F.coalesce(F.col("text"), F.lit(""))))
        .where(F.length("text") > 0)
        .select("doc_id", "text", "lang")
    )


def q_safe_cast_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7 — null-on-error cast (safe_int) + JSON extraction with default
    (gold_sentiment_comments.py:46-50 fallback shape)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("int")
    return ev.select(
        "event_id",
        k.alias("k"),
        F.coalesce(k, F.lit(-1)).alias("k_or_default"),
    )


def q_per_group_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 — per-group limit as window top-k (function_app.py:99,114)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").asc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w).cast("long"))
        .where(F.col("rn") <= 5)
        .select("user_id", "event_id", "ts", "rn")
    )


def q_iso_duration_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY.md §7 hard-part: ISO-8601 duration parsing, exercised on
    durations synthesized from fixture ints (PT{m}M{s}S)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("PT"),
            (F.col("n_chars") % 60).cast("string"),
            F.lit("M"),
            (F.col("doc_id") % 60).cast("string"),
            F.lit("S"),
        ).alias("duration"),
    )
    return docs.select(
        "doc_id",
        "duration",
        iso8601_duration_seconds("duration").alias("duration_seconds"),
    )


def q_partitioned_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 — partitioned overwrite sink + pruned re-read.  Writes events
    partitioned by event_date to a temp dir, re-reads with a partition
    filter (Catalyst prunes to one directory), aggregates."""
    import tempfile

    out = tempfile.mkdtemp(prefix="spark_graft_sink_")
    ev = _t(spark, sf_dir, "events").withColumn("event_date", F.to_date("ts"))
    ev.write.mode("overwrite").partitionBy("event_date").parquet(out)
    back = spark.read.parquet(out).where(F.col("event_date") == "2024-01-01")
    return back.groupBy("event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("sum_value")
    )


def q_json_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17/A18 JSON flavor — partitioned JSON sink, schema'd JSON source
    re-read with partition pruning, aggregate."""
    import tempfile

    out = tempfile.mkdtemp(prefix="spark_graft_json_")
    docs = _t(spark, sf_dir, "documents").withColumn(
        "ingest_date",
        F.concat(F.lit("2024-01-0"), (1 + F.col("doc_id") % 3).cast("string")),
    )
    write_partitioned(docs, out, "ingest_date", fmt="json")
    schema = (
        "doc_id long, text string, lang string, source string, "
        "n_chars long, ingest_date string"
    )
    back = spark.read.schema(schema).json(out).where(
        F.col("ingest_date") == "2024-01-02"
    )
    return back.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# medallion pipeline end-to-end (SURVEY.md §2.A pipeline DAG)
#
# The fixture tables carry no nested YouTube-API shapes, so each pipeline
# query first *builds* the bronze layer deterministically from fixture
# columns (nested structs, unparsable stats, error records, blank text —
# the exact hazards the reference defends against), then runs the real
# medallion transform.  The oracle computes the same result from the flat
# columns directly, which verifies the flatten/cast/filter semantics.
# ---------------------------------------------------------------------------


def _bronze_videos_from_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic BRONZE_VIDEO_ITEM rows synthesized from ``orders``.

    Hazards injected: every 97th video's viewCount is unparsable ('N/A'
    → try_cast yields null, the safe_int semantics of reference
    silver_transform_videos.py:12-16); likeCount is null every 5th row.
    """
    o = _t(spark, sf_dir, "orders")
    return o.select(
        F.concat(F.lit("vid"), F.col("o_orderkey")).alias("id"),
        F.struct(
            F.concat(
                F.col("o_orderpriority"), F.lit(" order "), F.col("o_orderkey")
            ).alias("title"),
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias(
                "publishedAt"
            ),
            F.concat(F.lit("chan"), F.col("o_custkey") % 10).alias(
                "channelTitle"
            ),
        ).alias("snippet"),
        F.struct(
            F.when((F.col("o_orderkey") % 97) == 0, F.lit("N/A"))
            .otherwise(F.col("o_totalprice").cast("bigint").cast("string"))
            .alias("viewCount"),
            F.when((F.col("o_orderkey") % 5) == 0, F.lit(None).cast("string"))
            .otherwise((F.col("o_orderkey") % 1000).cast("string"))
            .alias("likeCount"),
            (F.col("o_custkey") % 100).cast("string").alias("commentCount"),
        ).alias("statistics"),
        F.struct(
            F.concat(
                F.lit("PT"),
                (F.col("o_orderkey") % 60).cast("string"),
                F.lit("M"),
                (F.col("o_custkey") % 60).cast("string"),
                F.lit("S"),
            ).alias("duration")
        ).alias("contentDetails"),
    )


def q_videos_bronze_to_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5/A6/A7 — full nested-flatten + null-on-error cast Silver hop
    (reference silver_transform_videos.py:23-38) on synthesized bronze."""
    return medallion.bronze_videos_to_silver(
        _bronze_videos_from_orders(spark, sf_dir)
    )


def _bronze_comments_from_documents(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Deterministic BRONZE_COMMENT_ITEM rows synthesized from
    ``documents``.  Hazards injected: whitespace-only text (every 13th),
    null text (every 17th), error records (every 19th), null likes
    (every 5th) — the cases silver_clean_comments.py:41-56 handles."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        F.concat(F.lit("vid"), F.col("doc_id") % 100).alias("videoId"),
        F.concat(F.lit("c"), F.col("doc_id")).alias("commentId"),
        F.concat(F.lit("user"), F.col("doc_id") % 50).alias("author"),
        F.when((F.col("doc_id") % 13) == 0, F.lit("   "))
        .when((F.col("doc_id") % 17) == 0, F.lit(None).cast("string"))
        .otherwise(F.col("text"))
        .alias("text"),
        F.when((F.col("doc_id") % 5) == 0, F.lit(None).cast("long"))
        .otherwise(F.col("doc_id") % 200)
        .alias("likes"),
        F.date_format(
            F.to_timestamp(F.lit("2024-01-01 00:00:00"))
            + F.make_interval(mins=F.col("doc_id").cast("int")),
            "yyyy-MM-dd HH:mm:ss",
        ).alias("publishedAt"),
        F.when((F.col("doc_id") % 19) == 0, F.lit("quotaExceeded"))
        .otherwise(F.lit(None).cast("string"))
        .alias("error"),
    )


def q_comments_bronze_to_silver(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8/A9/A10 — error-record drop, trim+drop-empty, likes default
    (reference silver_clean_comments.py:41-56) on synthesized bronze."""
    return medallion.bronze_comments_to_silver(
        _bronze_comments_from_documents(spark, sf_dir)
    )


def q_envelope_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A18/A19 — envelope unwrap: collect synthesized comment items into
    per-video envelope rows (metadata + items array), then explode back
    to records (reference final_kpis.py:33-34 done declaratively)."""
    items = _bronze_comments_from_documents(spark, sf_dir)
    envelopes = items.groupBy("videoId").agg(
        F.count("*").alias("comment_count"),
        F.array_sort(
            F.collect_list(F.struct("commentId", "author", "text", "likes"))
        ).alias("items"),
    )
    return medallion.explode_envelope(envelopes)


def _canned_youtube_transport(sf_dir: str) -> rest.CannedTransport:
    """Deterministic YouTube-API fixture transport built from the
    parquet tables (driver-side pyarrow read of metadata-sized columns).
    Response shapes are the reference's (function_app.py:46-70 video
    3-step, :94-105 comment threads); row content mirrors the synthetic
    bronze builders so the silver oracles stay byte-comparable."""
    import pyarrow.parquet as pq

    orders = pq.read_table(
        f"{sf_dir}/orders.parquet",
        columns=[
            "o_orderkey",
            "o_custkey",
            "o_orderdate",
            "o_orderpriority",
            "o_totalprice",
        ],
    ).to_pylist()
    orders.sort(key=lambda r: r["o_orderkey"])

    def video_item(r: dict) -> dict:
        k, c = r["o_orderkey"], r["o_custkey"]
        return {
            "id": f"vid{k}",
            "snippet": {
                "title": f"{r['o_orderpriority']} order {k}",
                "publishedAt": r["o_orderdate"].strftime("%Y-%m-%d %H:%M:%S"),
                "channelTitle": f"chan{c % 10}",
            },
            "statistics": {
                "viewCount": "N/A" if k % 97 == 0 else str(int(r["o_totalprice"])),
                "likeCount": None if k % 5 == 0 else str(k % 1000),
                "commentCount": str(c % 100),
            },
            "contentDetails": {"duration": f"PT{k % 60}M{c % 60}S"},
        }

    by_vid = {f"vid{r['o_orderkey']}": r for r in orders}

    docs = pq.read_table(
        f"{sf_dir}/documents.parquet", columns=["doc_id", "text"]
    ).to_pylist()
    docs.sort(key=lambda r: r["doc_id"])
    from datetime import datetime, timedelta

    base = datetime(2024, 1, 1)
    threads: dict[str, list[dict]] = {}
    for r in docs:
        d = r["doc_id"]
        text = "   " if d % 13 == 0 else (None if d % 17 == 0 else r["text"])
        threads.setdefault(f"vid{d % 100}", []).append(
            {
                "snippet": {
                    "topLevelComment": {
                        "id": f"c{d}",
                        "snippet": {
                            "authorDisplayName": f"user{d % 50}",
                            "textDisplay": text,
                            "likeCount": None if d % 5 == 0 else d % 200,
                            "publishedAt": (
                                base + timedelta(minutes=d)
                            ).strftime("%Y-%m-%d %H:%M:%S"),
                        },
                    }
                }
            }
        )

    return rest.CannedTransport(
        routes={
            "channels": lambda p: {
                "items": [
                    {
                        "contentDetails": {
                            "relatedPlaylists": {"uploads": "UU_uploads"}
                        }
                    }
                ]
            },
            "playlistItems": lambda p: {
                "items": [
                    {"contentDetails": {"videoId": f"vid{r['o_orderkey']}"}}
                    for r in orders[: int(p["maxResults"])]
                ]
            },
            "videos": lambda p: {
                "items": [
                    video_item(by_vid[v])
                    for v in p["id"].split(",")
                    if v in by_vid
                ]
            },
            "commentThreads": lambda p: {
                "items": threads.get(p["videoId"], [])[: int(p["maxResults"])]
            },
        }
    )


def q_rest_ingest_videos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 — the 3-step REST video ingest (channel → playlist → batched
    details, reference function_app.py:46-70) through the transport
    seam, then the silver flatten.  Limit pushdown: maxResults=500 is
    applied BY the source (the oracle takes the 500 lowest orderkeys);
    projection pushdown: only the parts BRONZE_VIDEO_ITEM keeps are
    requested."""
    src = rest.YouTubeSource(
        _canned_youtube_transport(sf_dir), api_key="canned"
    )
    bronze = rest.ingest_videos(spark, src, "chan-main", max_results=500)
    return medallion.bronze_videos_to_silver(bronze)


def q_rest_ingest_comments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 — per-video comment-thread ingest (reference
    function_app.py:94-105, 127-138) distributed over executors via
    mapInPandas; flatten parity with :131-138.  maxResults capped at
    100 per request (the API limit the reference also applies)."""
    src = rest.YouTubeSource(
        _canned_youtube_transport(sf_dir), api_key="canned"
    )
    ids = [f"vid{i}" for i in range(100)]
    return rest.ingest_comments(spark, src, ids, max_comments_per_video=100)


def q_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine similarity join over the token inverted
    index (weighted complement of n-gram Jaccard): integer weights and
    exact integer dot/norm sums, cosine reported in basis points via
    floor (operators/text_mining.py:tfidf_cosine_pairs).

    Registered over a 1/4 corpus slice: the synthetic fixture has a
    31-token vocabulary, so EVERY term is in ~78% of documents and the
    inverted-index candidate volume Σ df² degenerates to ~n² with no
    possible df-cap pruning (max_df would drop the whole vocabulary).
    Real Zipfian corpora are the opposite shape — rare terms dominate
    the index — and there the full-corpus join with a max_df cap is the
    production configuration (see the operator docstring)."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 4 == 1)
    return text_mining.tfidf_cosine_pairs(docs, threshold_bp=9000)


def q_fingerprint_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style local-passage overlap: document pairs sharing >= 2
    winnowing fingerprints — exhaustive for shared runs of window+k-1
    consecutive words even when whole-document similarity is low
    (operators/dedup.py:fingerprint_overlap_pairs)."""
    return dedup.fingerprint_overlap_pairs(
        _t(spark, sf_dir, "documents"), min_shared=2
    )


def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus-curation yield curve: per-stage survivor
    counts through language -> quality -> repetition -> exact dedup,
    each stage the same expression its standalone driver-checked
    operator uses (operators/curation.py:curation_funnel)."""
    return curation.curation_funnel(_t(spark, sf_dir, "documents"))


def q_delete_by_key_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR-style surgical delete: land events partitioned by
    event_type, erase 10 users (partition-pruned rewrite — only
    affected partitions are touched, io/writers.py:delete_by_key),
    re-read and aggregate; the oracle checks the anti-join semantics."""
    import tempfile

    from youtube_podcast_data_pipeline_azure_spark.io.writers import delete_by_key

    sink = tempfile.mkdtemp(prefix="spark_graft_delete_")
    ev = _t(spark, sf_dir, "events")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(sink)
    doomed = spark.range(0, 10).select(F.col("id").alias("user_id"))
    delete_by_key(spark, sink, doomed, "user_id", "event_type")
    back = spark.read.parquet(sink)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("user_id").alias("sum_users"),
    )


def q_streaming_corpus_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of incremental_dedup, batch mode: the arriving
    batch (doc_id % 5 == 0) anti-joined against the standing corpus's
    fingerprint set, first-arrival dedup within the batch; output is
    the deterministic SET of new fingerprints
    (streaming/docs_stream.py; stream-mode parity in
    tests/test_streaming.py)."""
    from youtube_podcast_data_pipeline_azure_spark.streaming.docs_stream import (
        corpus_fingerprints,
        dedup_against_corpus,
    )

    docs = _t(spark, sf_dir, "documents")
    return dedup_against_corpus(
        docs.where(F.col("doc_id") % 5 == 0),
        corpus_fingerprints(docs.where(F.col("doc_id") % 5 != 0)),
    )


def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer vocabulary induction: the first 4 corpus-weighted
    merge steps, learned exactly over the word-frequency table
    (vocab-bounded iterations — the corpus is scanned once).  Oracle
    unrolls the same 4 argmax-and-fold iterations as CTEs."""
    return text_mining.bpe_merges(_t(spark, sf_dir, "documents"), k=4)


def q_contrastive_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive triplets: anchors/positives from the exact near-dup
    pair list, negatives from a broadcast pool CAPPED at an absolute
    size (global 128 smallest md5(id:seed) — corpus-size-independent,
    VERDICT r4 #2), ranked per anchor by md5(anchor:candidate) — fully
    deterministic, so the oracle replays pool membership, exclusions,
    and per-anchor ranking."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs)
    return curation.contrastive_pairs(
        docs, pairs, n_negatives=3, pool_cap=128
    )


def q_quality_yield_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter-calibration yield curve: docs/tokens surviving each
    candidate quality threshold, in one scan with a map-side-collapsed
    threshold fan-out (operators/curation.py:quality_yield_curve).
    All-integer outputs; the oracle replays the same fan-out as a
    CROSS JOIN against the threshold list."""
    return curation.quality_yield_curve(_t(spark, sf_dir, "documents"))


def q_bucketed_join_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage-bucketed co-located join: orders and customer land as
    bucketBy(8, custkey) catalog tables (io/writers.py:
    write_bucketed_table), then join WITHOUT shuffling either side —
    the write-once-join-many layout for recurring fact joins; the
    zero-exchange join plan is pinned in test_storage_layout.py.
    Oracle: the same join + rollup over the raw parquet."""
    import uuid

    from youtube_podcast_data_pipeline_azure_spark.io.writers import write_bucketed_table

    tag = uuid.uuid4().hex[:8]
    to, tc = f"bt_orders_{tag}", f"bt_cust_{tag}"
    write_bucketed_table(
        _t(spark, sf_dir, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice"
        ),
        to, "o_custkey", 8, sort_col="o_custkey",
    )
    write_bucketed_table(
        _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
        tc, "c_custkey", 8, sort_col="c_custkey",
    )
    return (
        spark.table(to)
        .join(spark.table(tc), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").cast("long").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100)).cast("long")
            .alias("total_cents"),
        )
    )


def q_functional_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency profiler over documents: does doc_id
    determine lang (yes — key), does source determine lang / lang
    determine source (no — many-to-many)?  One count-distinct
    aggregate per candidate pair, keys+counts only on the shuffle
    (operators/quality.py:functional_dependency_report)."""
    return quality.functional_dependency_report(
        _t(spark, sf_dir, "documents"),
        [("doc_id", "lang"), ("source", "lang"), ("lang", "source")],
    )


def q_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join audit for orders ⋈ customer on custkey: exact
    inner-join output cardinality (Σ cnt_l·cnt_r over matched keys)
    and the worst per-key fan-out, from the two per-key count tables —
    the hidden-cross-product check before a 100 TB join
    (operators/skew.py:join_cardinality_report)."""
    return skew.join_cardinality_report(
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        "o_custkey",
        "c_custkey",
    )


def q_source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise source-duplication matrix: distinct texts shared by
    each source pair (operators/dedup.py:source_overlap_matrix) — the
    mixture-design view of cross-source duplication.  Fingerprints
    shuffle, bodies never; per-key fan-out bounded by #sources."""
    return dedup.source_overlap_matrix(_t(spark, sf_dir, "documents"))


def q_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-novelty decay over 10 id-ordered corpus slices: per slice,
    docs that are genuinely new text vs exact duplicates of anything
    earlier (operators/dedup.py:novelty_curve — per-fingerprint MIN
    bucket, digests shuffle, bodies never)."""
    return dedup.novelty_curve(_t(spark, sf_dir, "documents"), n_buckets=10)


def q_corpus_overlap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus containment audit: what fraction of corpus B
    (doc_id % 3 != 0) already exists in corpus A (doc_id % 3 == 0),
    exactly (fingerprint) and nearly (cross-corpus MinHash-LSH over
    distinct-text reps, exact-Jaccard-verified at 0.5 — same b=24/r=4
    recall regime as the hash-green minhash_near_dup).  Oracle is the
    brute-force cross-split Jaccard (operators/dedup.py:
    corpus_overlap_report)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.corpus_overlap_report(
        docs.where(F.col("doc_id") % 3 == 0),
        docs.where(F.col("doc_id") % 3 != 0),
    )


def q_vocabulary_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth over 10 id-ordered corpus prefixes:
    per-bucket and cumulative token/vocabulary counts — 'is new data
    still adding lexical diversity?' (operators/text_mining.py:
    vocabulary_growth).  Equal-width id buckets (no ntile global sort);
    cumulative vocab via per-term MIN bucket, so no set unions."""
    return text_mining.vocabulary_growth(
        _t(spark, sf_dir, "documents"), n_buckets=10
    )


def q_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing capacity report over the same per-source
    2048-token bins as pack_sequences: bin count, token mass, nominal
    capacity, utilization basis points, oversize-document count
    (operators/sampling.py:packing_efficiency)."""
    docs = _t(spark, sf_dir, "documents").select(
        "source", "doc_id", word_count("text").alias("tok")
    )
    return sampling.packing_efficiency(
        docs, "tok", group_col="source", budget=2048
    )


def q_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card statistics: volume/token/dup-rate/quality/language
    summary as (metric, value) rows — two aggregates over one scan."""
    return curation.dataset_card(_t(spark, sf_dir, "documents"))


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interaction-graph triangle census: users co-touching the same
    props item form edges (hot items above degree 25 dropped — the
    bipartite-projection hot-cluster cap), triangles counted via the
    ordered two-join.  Oracle replays projection, cap, and both joins."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.get_json_object("props", "$.k").cast("long").alias("item"),
    ).where(F.col("item").isNotNull())
    edges = graph.cooccurrence_edges(
        ev, "user_id", "item", max_item_degree=25
    )
    return graph.triangle_count(edges)


def q_cooccurrence_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite co-interaction projection surfaced directly (r5
    VERDICT polish item): distinct user pairs (a < b) co-touching the
    same props item, hot items above degree 64 dropped via the
    broadcast-anti cap — the edge-build step triangle_count consumes
    (operators/graph.py:cooccurrence_edges).  Cap 64 (vs
    triangle_count's 25) keeps the mid-degree items at the driver SF so
    the edge list itself is exercised non-trivially."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.get_json_object("props", "$.k").cast("long").alias("item"),
    ).where(F.col("item").isNotNull())
    return graph.cooccurrence_edges(
        ev, "user_id", "item", max_item_degree=64
    )


def q_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup-aware train/val/test split: split assignment is a pure
    function of the duplicate-CLUSTER id (connected components over the
    exact n-gram-Jaccard pair graph), so both copies of a duplicated
    page land in the same split — the train/test-contamination guard
    plain per-doc hash splits lack
    (operators/curation.py:leakage_safe_split).  Oracle: recursive-CTE
    components + the same content-hash CASE on the component id."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs)
    return curation.leakage_safe_split(docs, pairs, seed=11)


def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture planning (the Pile/LLaMA data-mix table):
    per-source available vs targeted tokens and the epoch factor, all
    integer floor division, one stratum aggregate + a broadcast budget
    scalar (operators/sampling.py:mixture_plan)."""
    docs = _t(spark, sf_dir, "documents")
    weights = {"src0": 4000, "src1": 2000, "src2": 1000, "src3": 500}
    return sampling.mixture_plan(
        docs, "source", weights, word_count("text")
    ).orderBy("stratum")


def q_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-sensitivity curve for near-dup dedup: pairs and
    distinct docs implicated per candidate Jaccard threshold, from ONE
    prefix-filtered pair pass at the lowest threshold; all comparisons
    integer cross-multiplications (operators/dedup.py:
    dedup_threshold_curve).  Oracle: brute-force integer-Jaccard pairs
    fanned over the same thresholds."""
    return dedup.dedup_threshold_curve(
        _t(spark, sf_dir, "documents"),
        thresholds_bp=(5000, 6000, 7000, 8000, 9000, 9500),
    )


def q_component_size_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster-size distribution (n_clusters/n_docs per size)
    — the over-merge diagnostic: a giant component means the threshold
    is bridging unrelated docs (operators/dedup.py:
    component_size_report).  Oracle: recursive-CTE components + the
    same two aggregates."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs)
    return dedup.component_size_report(docs, pairs)


def q_dedup_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-one dedup with provenance: per duplicate cluster the min-id
    survivor, member count, and sorted distinct member sources — the
    attribution/takedown audit trail (operators/dedup.py:
    dedup_provenance).  Oracle: recursive-CTE components + per-
    component string_agg of sorted distinct sources."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs)
    return dedup.dedup_provenance(docs, pairs)


def q_minhash_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator-error audit on the md5 oracle seam: |estimate
    − exact Jaccard| in integer basis points by exact-similarity
    decile, over a deterministic near-dup ∪ id-stride pair sample —
    the t-digest-accuracy pattern applied to the dedup sketch
    (operators/dedup.py:minhash_accuracy_report).  Oracle recomputes
    the identical 64-slot signature via md5_number_upper."""
    return dedup.minhash_accuracy_report(
        _t(spark, sf_dir, "documents"), num_hashes=64, strides=(1, 157)
    )


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language BPE fertility (subword tokens per word) and chars
    per token under the 4 merges learned by bpe_merges — the standard
    multilingual-tokenizer skew report (operators/text_mining.py:
    tokenizer_fertility).  Oracle: the bpe_segment CTE unroll + one
    language aggregate, all-integer milli ratios."""
    docs = _t(spark, sf_dir, "documents")
    merges = [
        (r["left"], r["right"])
        for r in text_mining.bpe_merges(docs, k=4).collect()
    ]
    return text_mining.tokenizer_fertility(docs, merges)


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of customers under the (nation, market
    segment) quasi-identifier pair: classes below k and rows they
    expose, per candidate k — the release-gate governance check
    (operators/quality.py:k_anonymity_report).  Oracle: the same
    class-size aggregate fanned over k."""
    cust = _t(spark, sf_dir, "customer")
    return quality.k_anonymity_report(
        cust, ["c_nationkey", "c_mktsegment"], k_thresholds=(2, 5, 10)
    )


def q_source_overlap_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup twin of source_overlap_matrix: distinct near-dup
    CLUSTERS shared per source pair — cross-source duplication the
    exact-fingerprint matrix misses; exact ≤ real ≤ near brackets the
    truth (operators/dedup.py:source_overlap_near).  Oracle:
    recursive-CTE components + distinct (component, source) self-join."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs)
    return dedup.source_overlap_near(docs, pairs)


def q_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus n-gram diversity (total/distinct/ratio-bp per n in 1-3)
    — the cheap templating/memorization signal (operators/
    text_mining.py:ngram_diversity).  Oracle: the same positional-
    n-gram unnest per n with count/count-distinct."""
    return text_mining.ngram_diversity(_t(spark, sf_dir, "documents"))


def _knn_split(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """``(corpus, queries)`` over embeddings: the vec_id < 5 rows are
    the ``(query_id, embedding)`` queries, the rest the corpus."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return emb.where(F.col("vec_id") >= 5), queries


def q_knn_ivf_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN index persistence roundtrip: train + write the IVF index
    (centroid table + inverted lists partitioned by centroid_id), load
    it back, query at nprobe=n_centroids — by the partition-
    completeness invariant the loaded-index answer must equal exact
    brute-force KNN, which is the oracle (the knn_ivf_exhaustive
    argument, now certifying the persistence machinery too)."""
    import tempfile

    corpus, queries = _knn_split(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="spark_graft_ivf_")
    similarity.ivf_index_write(
        corpus, path, n_centroids=8, train_sample=1024
    )
    inv, cents_col = similarity.ivf_index_load(spark, path)
    return similarity.knn_ivf_from_index(
        inv, cents_col, queries, k=10, nprobe=8
    )


def q_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE application: segment every document with the 4 merges
    learned by bpe_merges — train + apply end-to-end, the full
    tokenizer loop.  Folds run over the distinct-word table; documents
    rejoin through a broadcast.  Oracle unrolls the same merges and
    reassembles per-doc subword streams in token order."""
    merges = [
        (r["left"], r["right"])
        for r in text_mining.bpe_merges(
            _t(spark, sf_dir, "documents"), k=4
        ).collect()
    ]
    return text_mining.bpe_segment(_t(spark, sf_dir, "documents"), merges)


def q_training_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle into 8 training shards: content-hash
    shard assignment + within-shard hash-order positions — reproducible
    shard layout without a global sort (no range-partitioner sampling
    job).  Oracle replays the Knuth-hash arithmetic and the per-shard
    rank."""
    return sampling.training_shards(
        _t(spark, sf_dir, "documents"), id_col="doc_id", n_shards=8
    ).select("doc_id", "lang", "shard_id", "position")


def q_streaming_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming NEAR-dup twin, batch mode: the arriving batch
    (doc_id % 5 == 0) banded with corpus MinHash parameters, probed
    against the standing corpus's band index, exact-Jaccard-verified
    against its shingle sets (streaming/docs_stream.py; stream-mode
    parity in tests/test_streaming.py).  Oracle is the exact cross-set
    Jaccard pair list — band recall is complete at fixture pair
    similarities, the same argument as minhash_near_dup."""
    from youtube_podcast_data_pipeline_azure_spark.streaming.docs_stream import (
        corpus_near_dup_index,
        near_dup_against_corpus,
    )

    docs = _t(spark, sf_dir, "documents")
    index, corpus_sh = corpus_near_dup_index(
        docs.where(F.col("doc_id") % 5 != 0)
    )
    out = near_dup_against_corpus(
        docs.where(F.col("doc_id") % 5 == 0), index, corpus_sh
    )
    return out.select(
        "in_id", "corpus_id", F.round("jaccard", 4).alias("jaccard")
    )


def q_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured access through the Spark 4 VARIANT type:
    ``try_parse_json`` the props blob once into a variant, then typed
    ``try_variant_get`` extractions (int and string views of the same
    field) — the open-schema complement of the fixed-schema
    ``from_json`` path in safe_cast_props.  VARIANT's binary encoding
    is the 100 TB answer to JSON-string re-parsing: parse once at
    ingest, push typed extractions to the scan."""
    ev = _t(spark, sf_dir, "events")
    v = F.try_parse_json(F.col("props"))
    return ev.select(
        "event_id",
        F.try_variant_get(v, "$.k", "int").cast("long").alias("k_int"),
        F.try_variant_get(v, "$.k", "string").alias("k_str"),
        v.isNotNull().alias("parsed"),
    )


def q_python_datasource_videos(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The video feed through the Spark 4 Python Data Source API
    (io/pyds.py): driver-side id planning with LIMIT pushdown, one
    executor task per 50-id detail chunk, then the same silver flatten
    as rest_ingest_videos — and the same oracle, since both connectors
    must land identical rows."""
    bronze = _videos_source(spark, spark.read, sf_dir).load()
    return medallion.bronze_videos_to_silver(bronze)


def _videos_source(spark: SparkSession, reader, sf_dir: str):
    """``reader`` (``spark.read`` or ``spark.readStream``) set up for
    the first 500 ids of the ``youtube_videos`` Python Data Source
    (io/pyds.py), registered on ``spark``."""
    from youtube_podcast_data_pipeline_azure_spark.io.pyds import VideosDataSource

    spark.dataSource.register(VideosDataSource)
    return (
        reader.format("youtube_videos")
        .option("sf_dir", sf_dir)
        .option("max_results", "500")
    )


def q_python_datasource_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The WRITE side of the Python Data Source surface: silver video
    rows exported through the ``gold_export`` custom sink
    (io/export_sink.py — staged part files per task, manifest-last
    two-phase commit) and read back manifest-resolved — the
    reference's terminal KPI-blob upload (final_kpis.py:52-58) as a
    first-class ``df.write.format(...)`` sink.  The export contract is
    string/long columns, so published_at rides as its formatted
    string; the oracle is the shared videos-silver SQL with the same
    string cast."""
    import tempfile

    from youtube_podcast_data_pipeline_azure_spark.io.export_sink import (
        GoldExportDataSource,
        read_export,
    )

    spark.dataSource.register(GoldExportDataSource)
    bronze = _videos_source(spark, spark.read, sf_dir).load()
    silver = medallion.bronze_videos_to_silver(bronze).withColumn(
        "published_at",
        F.date_format("published_at", "yyyy-MM-dd HH:mm:ss"),
    )
    path = tempfile.mkdtemp(prefix="spark_graft_export_")
    silver.write.format("gold_export").option("path", path).mode(
        "append"
    ).save()
    return read_export(spark, path, silver.schema)


def q_python_datasource_videos_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The video feed as a Spark 4 Python Data Source STREAM
    (io/pyds.py:VideosStreamReader) — the reference's timer-triggered
    poll (function_app.py:36-44) as a real micro-batch source with
    JSON-checkpointable offsets: 5 rate-limited micro-batches of 100
    ids, each chunked into executor detail-fetch tasks, drained to a
    memory sink, then the same silver flatten and the same oracle as
    the batch connector — stream and batch must land identical rows."""
    import time
    import uuid

    name = f"pyds_stream_{uuid.uuid4().hex[:8]}"
    stream = (
        _videos_source(spark, spark.readStream, sf_dir)
        .option("batch_ids", "100")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        if spark.table(name).count() >= 500:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    return medallion.bronze_videos_to_silver(spark.table(name))


def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-distribution drift between snapshot halves (even
    vec_ids = reference, odd = current): quantizer trained on the
    reference ONLY (drift needs a fixed ruler), both halves assigned
    to its cells, per-cell shares in integer permille
    (operators/similarity.py:embedding_drift_report).  Oracle replays
    the Lloyd training on the even half + both assignments."""
    emb = _t(spark, sf_dir, "embeddings")
    ref = emb.where(F.col("vec_id") % 2 == 0)
    cur = emb.where(F.col("vec_id") % 2 == 1)
    return similarity.embedding_drift_report(
        ref, cur, n_centroids=8, iters=2, train_sample=None
    )


def q_mg_heavy_hitters_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language exact heavy-hitter tokens (count > 1/150 of the
    language's token mass) through per-key Misra-Gries summaries —
    bounded per-key state, candidates exact-counted, provable capture
    (operators/sketches.py:heavy_hitters_exact_by_key).  Oracle: the
    full GROUP BY lang, token HAVING the same integer threshold."""
    docs = _t(spark, sf_dir, "documents")
    items = docs.select(
        F.col("lang"), F.explode(tokenize(F.col("text"))).alias("token")
    )
    # key = language: bounded tiny cardinality, so skip the
    # key-cardinality probe job (the auto-probe + repartition path is
    # exercised by test_sketches.py::test_heavy_hitters_by_key_many_keys)
    return sketches.heavy_hitters_exact_by_key(
        items, "lang", "token", denom=150, k=255, repartition_by_key=False
    )


def q_language_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-detected language confusion matrix — the
    metadata-trust audit (operators/text_mining.py:
    language_mismatch_matrix); detector and oracle are generated from
    the same stopword lexicon so they can never drift."""
    return text_mining.language_mismatch_matrix(
        _t(spark, sf_dir, "documents")
    )


def q_source_mixture_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture card: docs/tokens/share-permille/mean-quality
    /within-source dup count — the stratum table mixture weights are
    designed against (operators/curation.py:source_mixture_card).
    Quality integerized per row before summing, so the mean is an exact
    integer division.  Oracle: the shared quality/fingerprint macros +
    one source aggregate + a scalar total."""
    return curation.source_mixture_card(_t(spark, sf_dir, "documents"))


def q_canonical_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization-insensitive exact dedup: canonicalize (lower,
    strip punctuation to spaces, collapse whitespace), fingerprint,
    keep min-id — plus how many RAW-distinct texts each canonical
    group unified (operators/dedup.py:canonical_dedup).  Oracle: the
    same two regex passes + md5 group in SQL."""
    return dedup.canonical_dedup(_t(spark, sf_dir, "documents"))


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of IVF (nprobe=2 of 8 cells) vs exact brute force, per
    query, in integer basis points — the standard ANN quality audit,
    fully SQL-replayable because the Lloyd training, probe order, and
    score order are all deterministic with total tie-breaks
    (operators/similarity.py:ann_recall_report).  Oracle replays
    training (2 Lloyd CTE iterations over the corpus side), round-6
    probe selection (ties: centroid id DESC — the reverse(array_sort)
    contract), round-4 scoring, and the recall aggregate."""
    corpus, queries = _knn_split(spark, sf_dir)
    return similarity.ann_recall_report(
        corpus, queries, k=10, n_centroids=8, nprobe=2, iters=2,
        train_sample=None,
    )


def q_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption pairs, deterministic: token blocks
    masked by an md5 content hash become <extra_id_N> sentinels in the
    input, with the hidden tokens in the target — denoising-pretraining
    data as a batch operator (operators/curation.py:
    span_corruption_pairs).  Oracle replays the identical mask hash,
    span numbering, and ordered reassembly in SQL."""
    return curation.span_corruption_pairs(
        _t(spark, sf_dir, "documents"),
        span_len=3,
        noise_pct=15,
        mask_hash=sketches.md5_int56,
    )


def q_python_datasource_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Predicate pushdown INTO the Python Data Source (Spark 4.1
    Filter API, io/pyds.py:VideosPushdownReader): the id-membership
    predicate is consumed at partition planning — the REST-native
    fetch-by-id the reference does at function_app.py:63-66 — so the
    scan plans only the matching detail chunks and the plan carries no
    Spark Filter node (pinned in test_rest_source.py).  Oracle: the
    shared videos-silver SQL restricted to the same id list."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    vids = [f"vid{k}" for k in range(0, 200)]
    bronze = (
        _videos_source(spark, spark.read, sf_dir)
        .option("pushdown", "true")
        .load()
        .where(F.col("id").isin(vids))
    )
    return medallion.bronze_videos_to_silver(bronze)


def q_python_datasource_stream_sink(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """End-to-end custom-connector streaming: the Python Data Source
    STREAM reader feeding the gold_export STREAM writer
    (io/export_sink.py:GoldExportStreamWriter — per-micro-batch
    manifests, idempotent batch commit), silver-flattened in flight;
    the read-back unions every committed batch's manifest, so the
    result must equal the batch connector's 500 silver rows — same
    oracle as python_datasource_sink."""
    import tempfile
    import time

    from youtube_podcast_data_pipeline_azure_spark.io.export_sink import (
        GoldExportDataSource,
        read_stream_export,
    )

    spark.dataSource.register(GoldExportDataSource)
    stream = (
        _videos_source(spark, spark.readStream, sf_dir)
        .option("batch_ids", "100")
        .load()
    )
    silver = medallion.bronze_videos_to_silver(stream).withColumn(
        "published_at",
        F.date_format("published_at", "yyyy-MM-dd HH:mm:ss"),
    )
    path = tempfile.mkdtemp(prefix="spark_graft_sexport_")
    ckpt = tempfile.mkdtemp(prefix="spark_graft_sexport_ckpt_")
    q = (
        silver.writeStream.format("gold_export")
        .option("path", path)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="0 seconds")
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        out = read_stream_export(spark, path, silver.schema)
        if out.count() >= 500:
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination()
    return read_stream_export(spark, path, silver.schema)


def q_medallion_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A14/A15/A16 full-pipeline KPI row: bronze → silver → deterministic
    gold enrichment → single KPI record (reference final_kpis.py:25-58).
    The wall-clock stamp is dropped and the sentiment-count maps are
    serialized to sorted `k=v,...` strings so the result surface is
    canonicalizer-safe; the lexicon classifier is oracle-expressible."""
    videos_silver = q_videos_bronze_to_silver(spark, sf_dir)
    comments_silver = q_comments_bronze_to_silver(spark, sf_dir)
    videos_gold = enrich_videos(
        videos_silver.select("video_id", "title"),
        DeterministicClassifier(),
        text_col="title",
    )
    comments_gold = enrich_comments(
        comments_silver, DeterministicClassifier(), text_col="text"
    )
    kpi = medallion.kpis(videos_gold, comments_gold).drop("generated_at_utc")

    def map_csv(col: str):
        return F.array_join(
            F.transform(
                F.array_sort(F.map_entries(col)),
                lambda e: F.concat_ws("=", e["key"], e["value"]),
            ),
            ",",
        ).alias(col)

    return kpi.select(
        "total_videos",
        "total_comments",
        map_csv("video_sentiment_counts"),
        map_csv("comment_sentiment_counts"),
    )


# ---------------------------------------------------------------------------
# relational completeness (SURVEY.md §2.B)
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: multi-agg groupBy with filter pushdown."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") <= "1998-09-02")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 2).alias("sum_disc_price"),
            F.round(F.sum(charge), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, top-10 by revenue.

    Only the filtered *customer* dimension carries a broadcast hint —
    orders is a date-filtered FACT (~half the table), so lineitem⋈orders
    must stay a shuffled join on orderkey; at 100 TB a forced broadcast
    of orders would OOM the cluster.  AQE can still promote it at small
    SF when the runtime size is genuinely under the threshold.
    Plan pin: tests/test_plans.py asserts customer is the only
    hint-forced broadcast build side.
    """
    cust = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = _t(spark, sf_dir, "orders").where(F.col("o_orderdate") < "1995-03-15")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > "1995-03-15")
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.round(revenue, 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join; dims broadcast, facts shuffled
    once on the join keys."""
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    cust = _t(spark, sf_dir, "customer")
    supp = _t(spark, sf_dir, "supplier")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .where(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(nation), F.col("s_nationkey") == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(F.round(revenue, 2).alias("revenue"))
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for each purchase event, the most recent prior (or
    simultaneous) view by the same user.  Union-merge strategy: ONE
    shuffle on user_id, no range explosion (operators/joins.py).

    Right side deduped to one view per (user, ts) — max event_id wins —
    so the as-of pick is well-defined on both engines."""
    return _asof_query(spark, sf_dir, joins.asof_join_backward)


def q_range_join_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: orders priced into inline [lo, hi) bands;
    band side broadcast (BroadcastNestedLoop over 6 rows, not a shuffled
    cartesian)."""
    bands = spark.createDataFrame(
        [
            ("band_0_50k", 0.0, 50_000.0),
            ("band_50_100k", 50_000.0, 100_000.0),
            ("band_100_150k", 100_000.0, 150_000.0),
            ("band_150_200k", 150_000.0, 200_000.0),
            ("band_200_300k", 200_000.0, 300_000.0),
            ("band_300k_up", 300_000.0, 1e9),
        ],
        "band string, lo double, hi double",
    )
    o = _t(spark, sf_dir, "orders")
    return (
        joins.range_join(o, bands, "o_totalprice")
        .groupBy("band")
        .agg(
            F.count("*").alias("n"),
            F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
        )
    )


def q_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: orderBy + limit (TakeOrderedAndProject, no full sort)."""
    return (
        _t(spark, sf_dir, "orders")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey").asc())
        .limit(10)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


def q_agg_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full aggregate suite incl. distinct counts and stddev."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.round(F.min("l_quantity"), 2).alias("min_qty"),
        F.round(F.max("l_quantity"), 2).alias("max_qty"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.round(F.stddev_samp("l_discount"), 4).alias("sd_disc"),
    )


def q_rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets (subtotals + grand total)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


def q_cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets over orders dims."""
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"))
    )


def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join: customers with no orders (NOT EXISTS)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join: suppliers that shipped something (EXISTS)."""
    supp = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem")
    return supp.join(li, supp.s_suppkey == li.l_suppkey, "left_semi").select(
        "s_suppkey", "s_name"
    )


def q_outer_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join + per-customer order stats (nulls -> 0)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "total_spent"
            ),
        )
    )


def q_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT branches tagged and unioned."""
    cust = _t(spark, sf_dir, "customer")
    buyers = _t(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("c_custkey")
    )
    building = cust.where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    both = building.intersect(buyers).withColumn("tag", F.lit("building_buyer"))
    never = building.exceptAll(buyers.distinct()).withColumn(
        "tag", F.lit("building_no_orders")
    )
    return both.unionByName(never)


def q_distinct_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DISTINCT (shuffle on the projected key only)."""
    return _t(spark, sf_dir, "customer").select("c_mktsegment").distinct()


def q_string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String pack: case, substring, length, concat, replace, regexp, like."""
    p = _t(spark, sf_dir, "part")
    return p.where(F.col("p_name").like("%a%")).select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.lower("p_brand").alias("brand_lower"),
        F.substring("p_type", 1, 5).alias("type_prefix"),
        F.length("p_name").cast("long").alias("name_len"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.regexp_replace("p_name", "a", "@").alias("name_subbed"),
        F.regexp_extract("p_name", r"^\w+", 0).alias("first_word"),
    )


def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date pack: extract, trunc-to-month grouping, datediff."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").cast("long").alias("order_year"),
            F.month("o_orderdate").cast("long").alias("order_month"),
        )
        .agg(
            F.count("*").alias("n"),
            F.min(F.to_date("o_orderdate")).alias("first_day"),
            F.max(F.to_date("o_orderdate")).alias("last_day"),
            F.max(
                F.datediff(F.to_date("o_orderdate"), F.lit("1995-01-01"))
            ).cast("long").alias("max_days_since_95"),
        )
    )


def q_math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math pack over lineitem expressions."""
    li = _t(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_discount") - 0.05), 4).alias("disc_dev"),
        F.ceil("l_quantity").cast("long").alias("qty_ceil"),
        F.floor("l_quantity").cast("long").alias("qty_floor"),
        F.round(F.sqrt("l_extendedprice"), 4).alias("price_sqrt"),
        (F.col("l_orderkey") % 7).alias("key_mod"),
        F.least("l_quantity", F.lit(25.0)).alias("qty_capped"),
        F.greatest("l_tax", "l_discount").alias("max_rate"),
    )


def q_case_when_bucketing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN banding + group-by."""
    o = _t(spark, sf_dir, "orders")
    band = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 150000, "medium")
        .otherwise("large")
    )
    return o.groupBy(band.alias("price_band")).agg(
        F.count("*").alias("n"),
        F.round(F.avg("o_totalprice"), 2).alias("avg_price"),
    )


def q_window_running(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum + rank per customer (deterministic tiebreak)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(
            F.sum("o_totalprice").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
            2,
        ).alias("running_spend"),
        F.row_number().over(w).cast("long").alias("order_seq"),
    )


def q_window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead + delta per customer order sequence."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_totalprice").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.coalesce(prev, F.lit(0.0)), 2).alias("prev_price"),
        F.round(F.coalesce(F.col("o_totalprice") - prev, F.lit(0.0)), 2).alias(
            "price_delta"
        ),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
    )


def q_pivot_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user event-type count matrix."""
    ev = _t(spark, sf_dir, "events")
    kinds = ["click", "view", "signup", "purchase", "error"]
    return (
        ev.groupBy("user_id")
        .pivot("event_type", kinds)
        .agg(F.count(F.lit(1)))
        .na.fill(0, kinds)
    )


def q_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery filter: customers above average balance."""
    cust = _t(spark, sf_dir, "customer")
    avg_bal = cust.agg(F.avg("c_acctbal").alias("avg_bal"))
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .select("c_custkey", F.round("c_acctbal", 2).alias("c_acctbal"))
    )


def q_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array explode (UNNEST) + re-aggregate: global token frequencies."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(tokenize("text")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("freq"))
    )


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (the approx_percentile
    twin is exercised in tests; exact form is oracle-comparable)."""
    li = _t(spark, sf_dir, "lineitem")
    pct = F.percentile("l_extendedprice", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.75)))
    return li.groupBy("l_returnflag").agg(
        F.round(pct.getItem(0), 4).alias("p25"),
        F.round(pct.getItem(1), 4).alias("p50"),
        F.round(pct.getItem(2), 4).alias("p75"),
    )


def q_window_ntile_firstlast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile quartiles + first/last value over a full-partition frame."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("o_totalprice").asc(), F.col("o_orderkey").asc()
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).cast("long").alias("quartile"),
        F.first("o_orderkey").over(wf).alias("cheapest_orderkey"),
        F.last("o_orderkey").over(wf).alias("priciest_orderkey"),
    )


def q_exists_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS with a non-equi correlated condition —
    orders having a lineitem shipped >60 days after the order date."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    cond = (o.o_orderkey == li.l_orderkey) & (
        li.l_shipdate > F.date_add(o.o_orderdate, 60)
    )
    return (
        o.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_orders"))
    )


def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated shuffled join (salt-and-replicate) — semantically
    identical to the plain join, hot keys spread over 8 reducers."""
    ev = _t(spark, sf_dir, "events")
    dim = ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 4).alias("type_avg")
    )
    out = skew.salted_join(
        ev.select("event_id", "event_type", "value"),
        dim,
        on="event_type",
        buckets=8,
        salt_from="event_id",
    )
    return out.select(
        "event_id",
        "event_type",
        "type_avg",
        F.round(F.col("value") - F.col("type_avg"), 4).alias("value_dev"),
    )


def q_approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct-count sketch.  The 100 TB path for
    distinct counts that don't need to be exact — one pass, constant
    memory per group.  Oracle-checked against exact COUNT(DISTINCT):
    at rsd=0.02 the sketch holds ~2.7k registers and HLL++ stays in its
    sparse (EXACT) representation well past the fixture's 150 distinct
    users per type, and sketch merge is order-independent (register
    max), so the estimate deterministically equals the exact count at
    driver scale; the general-accuracy property at dense scale stays
    pinned by tests/test_functions.py."""
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", rsd=0.02).alias("n_users_approx")
    )


def q_salted_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact skew-resilient COUNT(DISTINCT) via two-phase salted dedup."""
    return skew.salted_distinct_count(
        _t(spark, sf_dir, "events"), key="event_type", value="user_id",
        out_col="n_users",
    )


def q_hll_shard_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable HLL sketch tables (DataSketches `hll_sketch_agg` /
    `hll_union_agg`) audited against exact COUNT(DISTINCT).

    The piece `approx_count_distinct` can't do: the sketch is a BINARY
    column that persists as ordinary parquet, so per-shard/per-day
    distinct-count state is incremental — rollups union KB-sized
    sketches instead of rescanning the raw corpus (the 100 TB pattern;
    persistence roundtrip pinned in tests/test_functions.py).  Shards
    here deliberately split by a content-derived (key, item, dup-rank)
    hash, not an item hash, so the same user lands in many shards and
    the union's register-max idempotence is what keeps the count right
    — and the assignment is retry/partitioning-invariant (r8, VERDICT
    r7 #3).  Booleans-vs-exact output because
    DataSketches' direct-build HIP estimator is insertion-order
    sensitive; at lgk=14 the 5% tolerance is ~6 sigma (and the fixture
    scale stays in the sketch's exact sparse mode)."""
    ev = _t(spark, sf_dir, "events")
    return sketches.hll_cardinality_report(
        ev, item_col="user_id", key_col="event_type",
        n_shards=8, lgk=14, tol_bp=500,
    )


def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """from_json with explicit schema (null on malformed — the engine's
    LLM-output fallback semantics) + to_json re-serialization."""
    ev = _t(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id",
        F.from_json("props", "k int").alias("p"),
    )
    return parsed.select(
        "event_id",
        F.col("p.k").alias("k"),
        F.to_json(F.struct("event_id", F.col("p.k").alias("k"))).alias("j"),
    )


def q_array_agg_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array pack: collect_set → sort, size, contains, slice, join.
    Array-valued intermediates are exercised but serialized to strings at
    the result surface (the driver canonicalizer can't sort raw arrays)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.sort_array(F.collect_set("o_orderpriority")).alias("priorities"))
        .select(
            "o_custkey",
            F.array_join("priorities", "|").alias("priorities_csv"),
            F.size("priorities").cast("long").alias("n_distinct"),
            F.array_contains("priorities", "1-URGENT").alias("has_urgent"),
            F.array_join(F.slice("priorities", 1, 2), "|").alias("top2_csv"),
            F.array_join("priorities", ",").alias("joined"),
        )
    )


def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map pack: per-bucket order-status → count map + sorted key list."""
    o = _t(spark, sf_dir, "orders")
    counts = o.groupBy(
        (F.col("o_custkey") % 10).alias("bucket"), "o_orderstatus"
    ).agg(F.count("*").alias("n"))
    # The map is built and consumed (map_keys / size / entries) but the
    # comparison surface is strings: Spark maps and DuckDB MAPs normalize
    # differently in result sets (and the driver canonicalizer can't sort
    # raw map/array cells), serialized entries identically.
    return (
        counts.groupBy("bucket")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct("o_orderstatus", "n")))
            ).alias("m")
        )
        .select(
            "bucket",
            F.array_join(
                F.transform(
                    F.array_sort(F.map_entries("m")),
                    lambda e: F.concat_ws("=", e["key"], e["value"]),
                ),
                ",",
            ).alias("status_counts"),
            F.array_join(F.map_keys("m"), ",").alias("statuses"),
            F.size("m").cast("long").alias("n_statuses"),
        )
    )


def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: two-level aggregation — orders per customer,
    then customers per order-count."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(
        F.count("*").alias("n_customers")
    )


def q_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: join + group + HAVING on the aggregate."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .where(F.col("total_qty") > 150)
    )


def q_min_price_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: per-part minimum-unit-price supplier (correlated
    min as a deterministic window rank).

    Price is compared/output as floor-of-cents: floor() of IEEE-
    identical doubles is bit-stable across engines, unlike decimal
    round() of a derived quotient (HALF_UP vs banker's at boundaries).
    """
    li = _t(spark, sf_dir, "lineitem")
    unit_cents = F.floor(
        (F.col("l_extendedprice") / F.col("l_quantity")) * 100
    ).cast("long")
    w = Window.partitionBy("l_partkey").orderBy(
        F.col("unit_cents").asc(), F.col("l_suppkey").asc()
    )
    return (
        li.select("l_partkey", "l_suppkey", unit_cents.alias("unit_cents"))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("l_partkey", "l_suppkey", "unit_cents")
    )


def q_unpivot_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (melt): wide per-flag aggregates to (flag, metric, val)."""
    li = _t(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price"],
        variableColumnName="metric",
        valueColumnName="val",
    )


def q_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: revenue from returned items per customer, top 20."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    revenue = F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(revenue, 2).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey").asc())
        .limit(20)
    )


def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the Spark SQL surface."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_v")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n,
               round(sum(l_extendedprice), 2) AS sum_price
        FROM lineitem_v
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


# ---------------------------------------------------------------------------
# TPC-H completion pack (Q6-Q22 shapes, adapted to the trimmed fixture
# schema: no partsupp / shipmode / commit-receipt dates — the missing
# tables' roles are played by lineitem-derived aggregates so every
# classic plan shape is still exercised and oracle-checked)
# ---------------------------------------------------------------------------


def q_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: tight scan-side predicate (date range + discount
    band + quantity cap) into a single global aggregate.  All three
    predicates push to the Parquet scan — zero shuffle, one partial+final
    agg."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & F.col("l_discount").between(0.02, 0.04)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_items"),
    )


def q_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair trade volume by ship
    year.  Nation filters are applied to the supplier/customer sides
    BEFORE the fact joins so only qualifying keys flow into the big
    lineitem-orders shuffle; both dim sides broadcast."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate").between("1996-01-01", "1997-12-31")
    )
    nations = ["NATION_3", "NATION_8"]
    n1 = (
        _t(spark, sf_dir, "nation")
        .where(F.col("n_name").isin(nations))
        .select(
            F.col("n_nationkey").alias("s_nkey"),
            F.col("n_name").alias("supp_nation"),
        )
    )
    n2 = (
        _t(spark, sf_dir, "nation")
        .where(F.col("n_name").isin(nations))
        .select(
            F.col("n_nationkey").alias("c_nkey"),
            F.col("n_name").alias("cust_nation"),
        )
    )
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(n1), F.col("s_nationkey") == F.col("s_nkey")
    )
    cust = _t(spark, sf_dir, "customer").join(
        F.broadcast(n2), F.col("c_nationkey") == F.col("c_nkey")
    )
    orders = _t(spark, sf_dir, "orders")
    return (
        li.join(F.broadcast(supp), li.l_suppkey == F.col("s_suppkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == F.col("c_custkey"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: market share of one supplier nation within a
    customer region, per order year.  Share emitted as basis points via
    floor() of a quotient of two already-2dp-rounded sums — bit-stable
    across engines (see min_price_supplier rationale)."""
    region = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    nation = _t(spark, sf_dir, "nation")
    promo = _t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(
            nation.select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"),
            )
        ),
        F.col("s_nationkey") == F.col("sn_key"),
    )
    cust_in_region = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(nation), F.col("c_nationkey") == F.col("n_nationkey")
        )
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("c_custkey")
    )
    orders = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(F.broadcast(promo), li.l_partkey == F.col("p_partkey"))
        .join(F.broadcast(supp), li.l_suppkey == F.col("s_suppkey"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust_in_region, orders.o_custkey == F.col("c_custkey"), "left_semi")
    )
    agg = joined.groupBy(
        F.year("o_orderdate").cast("long").alias("o_year")
    ).agg(
        F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_3", volume).otherwise(0.0)),
            2,
        ).alias("nation_volume"),
        F.round(F.sum(volume), 2).alias("total_volume"),
    )
    return agg.select(
        "o_year",
        F.floor(F.col("nation_volume") / F.col("total_volume") * 10000)
        .cast("long")
        .alias("mkt_share_bp"),
        "nation_volume",
        "total_volume",
    )


def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year over a
    name-matched part subset.  partsupp is absent from the fixtures, so
    supply cost is modeled as half the part list price — the 5-way join
    + two-level group-by plan is what's exercised."""
    parts = _t(spark, sf_dir, "part").where(F.col("p_name").like("%widget%"))
    supp = _t(spark, sf_dir, "supplier")
    nation = _t(spark, sf_dir, "nation")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    amount = F.col("l_extendedprice") * (1 - F.col("l_discount")) - (
        F.lit(0.5) * F.col("p_retailprice") * F.col("l_quantity")
    )
    # Per-row floor-to-cents, then an exact integer sum: the profit
    # expression lands on exact (half-)cent boundaries where any
    # post-aggregation rounding — round() OR floor() — flips with
    # summation-order ulp noise.  Per-row floor of bit-identical doubles
    # is stable, and integer sums are order-independent on both engines.
    amount_cents = F.floor(amount * 100).cast("long")
    return (
        li.join(F.broadcast(parts), li.l_partkey == parts.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(F.sum(amount_cents).alias("profit_cents"))
    )


def q_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value from one nation's suppliers,
    HAVING value > fraction-of-total (scalar subquery via broadcast
    cross-join of a 1-row aggregate — no driver collect)."""
    nation3 = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    supp = _t(spark, sf_dir, "supplier").join(
        F.broadcast(nation3), F.col("s_nationkey") == F.col("n_nationkey")
    )
    li = _t(spark, sf_dir, "lineitem")
    per_part = (
        li.join(F.broadcast(supp), li.l_suppkey == F.col("s_suppkey"))
        .groupBy("l_partkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("part_value")
        )
    )
    total = per_part.agg(F.sum("part_value").alias("total_value"))
    return (
        per_part.crossJoin(F.broadcast(total))
        .where(F.col("part_value") > F.lit(0.001) * F.col("total_value"))
        .select("l_partkey", "part_value")
    )


def q_shipping_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: late-shipment priority split.  shipmode is
    absent, so lines group by l_linestatus; "late" = shipped >60 days
    after order date (no commit/receipt dates in fixtures)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(li.l_shipdate > F.date_add(o.o_orderdate, 60))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


def q_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo-type revenue share for one ship month,
    emitted as basis points (floor of a quotient of 2dp-rounded sums)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-03-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    part = _t(spark, sf_dir, "part")
    volume = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    agg = li.join(F.broadcast(part), li.l_partkey == part.p_partkey).agg(
        F.round(
            F.sum(F.when(F.col("p_type") == "PROMO", volume).otherwise(0.0)), 2
        ).alias("promo_revenue"),
        F.round(F.sum(volume), 2).alias("total_revenue"),
    )
    return agg.select(
        F.floor(F.col("promo_revenue") / F.col("total_revenue") * 10000)
        .cast("long")
        .alias("promo_share_bp"),
        "promo_revenue",
        "total_revenue",
    )


def q_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue —
    the classic view + scalar-max pattern, as an agg + broadcast 1-row
    max + equality filter (ties all returned, like the spec)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1996-04-01")
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("max_revenue"))
    supp = _t(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .where(F.col("total_revenue") == F.col("max_revenue"))
        .join(supp, F.col("l_suppkey") == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct suppliers per (brand, type, size) with
    NOT-filters and an IN size list.  partsupp is absent; the
    part-supplier relation is derived from lineitem."""
    part = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49)
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue from small-quantity lines of one brand,
    where "small" is a correlated per-part average — expressed as a
    window avg over the part key (no second scan, no shuffle beyond the
    part grouping).  Quantities are integral doubles so their sums are
    exact and the threshold is order-independent across engines."""
    brand = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#2")
    li = _t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey")
    joined = (
        li.join(F.broadcast(brand), li.l_partkey == brand.p_partkey)
        .withColumn("part_avg_qty", F.avg("l_quantity").over(w))
        .where(F.col("l_quantity") < 0.2 * F.col("part_avg_qty"))
    )
    return joined.agg(
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
        F.count("*").alias("n_lines"),
    )


def q_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR of three conjunctive brand/size/quantity
    bands — one join, one pass; Catalyst extracts the common
    l_partkey=p_partkey conjunct so this stays a hash join, not a
    nested-loop filter."""
    part = _t(spark, sf_dir, "part")
    li = _t(spark, sf_dir, "lineitem")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    band = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 5)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 10)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return j.where(band).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("revenue"),
        F.count("*").alias("n_items"),
    )


def q_promo_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers whose 1996 PROMO-part shipped volume
    exceeds 1.2x the all-supplier average — nested IN-subquery plan
    (agg -> scalar threshold -> semi join), fully distributed."""
    promo = _t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
    )
    per_supp = (
        li.join(F.broadcast(promo), li.l_partkey == F.col("p_partkey"))
        .groupBy("l_suppkey")
        .agg(F.sum("l_quantity").alias("promo_qty"))
    )
    thresh = per_supp.agg(
        (F.lit(1.2) * F.avg("promo_qty")).alias("qty_threshold")
    )
    qual = (
        per_supp.crossJoin(F.broadcast(thresh))
        .where(F.col("promo_qty") > F.col("qty_threshold"))
        .select("l_suppkey")
    )
    supp = _t(spark, sf_dir, "supplier")
    return supp.join(
        qual, supp.s_suppkey == qual.l_suppkey, "left_semi"
    ).select("s_suppkey", "s_name")


def q_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late shipper on
    multi-supplier finished orders.  The classic EXISTS / NOT-EXISTS
    pair collapses to per-order distinct-supplier counts; since
    optimization r13 those are WINDOW expressions over the joined
    lines (size of collect_set over the orderkey partition) instead of
    a separate aggregate joined back — the join-back re-evaluated the
    lineitem⋈orders subplan a second time (two fact scans + a second
    fact-to-fact join per run); the window computes both counts in the
    single orderkey exchange the join already established.  "late" =
    shipped >90 days after order date."""
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F")
    li = _t(spark, sf_dir, "lineitem")
    lif = li.join(o, li.l_orderkey == o.o_orderkey).withColumn(
        "is_late", li.l_shipdate > F.date_add(o.o_orderdate, 90)
    )
    w = Window.partitionBy("l_orderkey")
    # collect_set drops nulls, so the conditional late-supplier set has
    # exactly countDistinct(when(is_late, suppkey)) semantics
    sole_late = (
        lif.withColumn(
            "n_supp", F.size(F.collect_set("l_suppkey").over(w))
        )
        .withColumn(
            "n_late_supp",
            F.size(
                F.collect_set(
                    F.when(F.col("is_late"), F.col("l_suppkey"))
                ).over(w)
            ),
        )
        .where(
            F.col("is_late")
            & (F.col("n_supp") >= 2)
            & (F.col("n_late_supp") == 1)
        )
    )
    supp = _t(spark, sf_dir, "supplier")
    return (
        sole_late.groupBy("l_suppkey")
        .agg(F.countDistinct("l_orderkey").alias("numwait"))
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select("s_name", "numwait")
        .orderBy(F.col("numwait").desc(), F.col("s_name").asc())
        .limit(10)
    )


def q_dormant_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers in selected
    country codes with no RECENT orders — scalar avg subquery +
    anti-join + group-by.  Country code is nationkey mod 5 (no phone
    column in fixtures); "dormant" = no orders since 2000 (every fixture
    customer has some order, unlike TPC-H's sparser orders relation)."""
    cust = _t(spark, sf_dir, "customer").withColumn(
        "cntrycode", (F.col("c_nationkey") % 5).cast("long")
    )
    pos_avg = cust.where(F.col("c_acctbal") > 0).agg(
        F.avg("c_acctbal").alias("avg_bal")
    )
    recent = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= "2000-01-01"
    )
    return (
        cust.where(F.col("cntrycode").isin(1, 3))
        .crossJoin(F.broadcast(pos_avg))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("cntrycode")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# streaming-parity windows (batch mode here; stream mode in tests)
# ---------------------------------------------------------------------------


def q_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping event-time windows (10 min window, 5 min slide) —
    each event lands in exactly two windows.  Same transform runs in
    streaming (streaming/events_stream.py:sliding_counts; stream-mode
    parity pinned in tests/test_streaming.py)."""
    return sliding_counts(_t(spark, sf_dir, "events"))


def q_tumbling_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time tumbling windows (same transform runs in streaming)."""
    return tumbling_counts(_t(spark, sf_dir, "events"))


def q_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows per user."""
    return sessionized_counts(_t(spark, sf_dir, "events"))


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort-retention matrix over the event stream — the
    shuffle carries only distinct (user, week) pairs
    (operators/analytics.py)."""
    return analytics.cohort_retention(_t(spark, sf_dir, "events"))


def q_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strictly-ordered view→click→purchase funnel: all step times are
    conditional window-mins over ONE user-partitioned exchange."""
    return analytics.funnel_conversion(
        _t(spark, sf_dir, "events"), ["view", "click", "purchase"]
    )


def q_resample_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled per-user daily series (zero rows on idle days) via
    span sequence-explode + left join at (user, day) grain."""
    return analytics.resample_daily(_t(spark, sf_dir, "events"))


def q_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton Z-order cluster key over (user_id, day): the
    multi-dimensional locality key for write_clustered — pure
    shift/and/or integer expression, bit-identical cross-engine."""
    ev = _t(spark, sf_dir, "events")
    day_num = F.datediff(
        F.to_date("ts"), F.lit("1970-01-01").cast("date")
    )
    return ev.select(
        "event_id",
        "user_id",
        day_num.cast("long").alias("day_num"),
        zorder_key(F.col("user_id"), day_num, 16).alias("z_key"),
    )


def q_session_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-session conversion by session-size band: gap-based island
    sessionization (lag + cumulative boundary sum, one user exchange),
    session-grain collapse, banded rollup — integer-exact throughout."""
    return analytics.session_conversion(
        _t(spark, sf_dir, "events"), gap_minutes=30
    )


def q_rolling_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 7-day rolling features per (user, day) — RANGE frame
    over an integer day number on the gap-filled series."""
    return analytics.rolling_activity(_t(spark, sf_dir, "events"), days=7)


def q_fuzzy_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy dictionary canonicalization of part names: Levenshtein ≤ 3
    pairs over the distinct vocabulary (broadcast-sized self-join with
    length prefilter), more-frequent spelling suggested as canonical."""
    return text_mining.fuzzy_vocab_pairs(
        _t(spark, sf_dir, "part"), "p_name", max_dist=3
    )


def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC source/sink — the third columnar-ecosystem format beside
    Parquet and CSV: write a projection, read it back with an explicit
    schema, aggregate."""
    import tempfile

    out = tempfile.mkdtemp(prefix="spark_graft_orc_")
    orders = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    orders.write.mode("overwrite").orc(out)
    schema = (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double"
    )
    back = spark.read.schema(schema).orc(out)
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long"))
        .alias("total_cents"),
    )


# ---------------------------------------------------------------------------
# text analysis / dedup / similarity (north-star extensions)
# ---------------------------------------------------------------------------


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus stats: docs, words, BPE-ish tokens, chars."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.withColumn("n_words", word_count("text"))
        .withColumn("n_tokens", token_count_bpe("text"))
        .groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_words").alias("total_words"),
            F.sum("n_tokens").alias("total_tokens"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
    )


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-heuristic language ID per document."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", language_id("text").alias("lang_pred"))


def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over all token occurrences, probed with the 20
    exact-top tokens: (token, exact_n, cms_n, overcount).  The sketch's
    md5-derived cells are cross-engine deterministic, so even its
    collision overcounts hash-match the oracle; cms_n >= exact_n always
    (the CMS guarantee, asserted in tests)."""
    docs = _t(spark, sf_dir, "documents")
    # spread() before the explode (optimization r14, guide §2.5): the
    # d-way md5 cell hashing downstream ran single-core off the
    # 1-split local scan; no-op on multi-split cluster scans
    toks = spread(docs.select("doc_id", "text"), "doc_id").select(
        F.explode(tokenize("text")).alias("token")
    )
    exact = toks.groupBy("token").agg(F.count("*").alias("exact_n"))
    top = exact.orderBy(F.col("exact_n").desc(), F.col("token").asc()).limit(20)
    counters = sketches.cms_counters(toks, "token", depth=4, width=512)
    est = sketches.cms_lookup(
        counters, top.select("token"), "token", depth=4, width=512
    )
    return top.join(est, "token").select(
        "token",
        "exact_n",
        "cms_n",
        (F.col("cms_n") - F.col("exact_n")).alias("overcount"),
    )


def q_top_tokens_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy hitters per language: top-5 tokens by frequency
    (ties → token asc) — explode aggregates map-side to (lang, token)
    grain before its shuffle; the top-k window runs on the tiny count
    table partitioned by language."""
    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select("lang", F.explode(tokenize("text")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("n").desc(), F.col("token").asc()
    )
    return (
        counts.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 5)
        .select("lang", "rank", "token", "n")
    )


def q_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinctive terms per document by the integer TF-IDF
    analog tf*N*1000 // df (log-free, bit-exact on any engine —
    operators/text_mining.py)."""
    return text_mining.distinctive_terms(_t(spark, sf_dir, "documents"), k=3)


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 corpus collocations by integer lift (the monotone PMI
    analog c_xy*T*1000 // (c_x*c_y)), min pair count 3."""
    return text_mining.collocations(
        _t(spark, sf_dir, "documents"), min_count=3, top=50
    )


def q_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic quality score per document."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score("text").alias("quality"))


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups by md5 fingerprint (min-id representative)."""
    return dedup.exact_dedup(_t(spark, sf_dir, "documents"))


def q_token_set_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive near-dup: same distinct-token *set* (a word-level
    Jaccard=1.0 detector, the exact end of the near-dup spectrum)."""
    docs = _t(spark, sf_dir, "documents")
    key = F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(tokenize("text"))))
    ).alias("tokenset_key")
    return (
        docs.select("doc_id", key)
        .groupBy("tokenset_key")
        .agg(F.min("doc_id").alias("doc_id"), F.count("*").alias("n_docs"))
    )


def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination report: corpus documents (doc_id % 10
    != 7) sharing any word 8-gram with the held-out eval slice (doc_id
    % 10 == 7) — the GPT-3-style long-n-gram leak check.  Eval gram set
    broadcast; corpus text never shuffles (operators/curation.py)."""
    docs = _t(spark, sf_dir, "documents")
    return curation.contamination_report(
        docs.where(F.col("doc_id") % 10 != 7),
        docs.where(F.col("doc_id") % 10 == 7),
        n=8,
    )


def q_decontaminated_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drop-side decontamination roundtrip (the report's consumer,
    VERDICT r4 #7): corpus documents (doc_id % 10 != 7) that share NO
    word 8-gram with the held-out eval slice survive; the filter is an
    id anti-join against the sparse contamination report, so document
    bodies never shuffle (operators/curation.py:decontaminate)."""
    docs = _t(spark, sf_dir, "documents")
    kept = curation.decontaminate(
        docs.where(F.col("doc_id") % 10 != 7),
        docs.where(F.col("doc_id") % 10 == 7),
        n=8,
    )
    return kept.select(
        "doc_id", "lang", F.length("text").cast("long").alias("n_chars")
    )


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style degenerate-repetition heuristics per document:
    duplicated-word / top-bigram / adjacent-stutter milli-fractions,
    doc-local and all-integer (operators/curation.py)."""
    return curation.repetition_signals(_t(spark, sf_dir, "documents"))


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detect + redact over a deterministically PII-augmented corpus
    (the fixture text is synthetic and PII-free, so the query first
    plants emails / phone numbers / IPv4s as a pure function of doc_id,
    then the engine's regex pack must find and redact exactly those).
    functions/pii.py; zero shuffles — pure per-row map."""
    docs = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@mail.example.com"),
            ),
        )
        .when(
            did % 3 == 1,
            F.concat(
                F.lit(" call 555-01"),
                F.lpad((did % 100).cast("string"), 2, "0"),
                F.lit(" from 10.0."),
                (did % 256).cast("string"),
                F.lit("."),
                ((did * 7) % 256).cast("string"),
            ),
        )
        .otherwise(F.lit("")),
    )
    aug = docs.select("doc_id", planted.alias("aug_text"))
    return aug.select(
        "doc_id",
        pii_count("aug_text", "email").alias("n_emails"),
        pii_count("aug_text", "phone").alias("n_phones"),
        pii_count("aug_text", "ip").alias("n_ips"),
        (
            pii_count("aug_text", "email")
            + pii_count("aug_text", "phone")
            + pii_count("aug_text", "ip")
        ).alias("pii_total"),
        redact_pii("aug_text").alias("redacted"),
    )


def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup an incoming batch (doc_id % 5 == 0) against the standing
    corpus (doc_id % 5 != 0): anti-join on fingerprints (existing side
    ships hashes only), then min-id collapse within the batch
    (operators/dedup.py:incremental_dedup)."""
    docs = _t(spark, sf_dir, "documents")
    return dedup.incremental_dedup(
        docs.where(F.col("doc_id") % 5 != 0),
        docs.where(F.col("doc_id") % 5 == 0),
    )


def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 80/10/10 train/val/test assignment via the content-
    hash gate — stable under re-runs, repartitioning, and incremental
    appends (operators/sampling.py:dataset_split)."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.dataset_split(docs, "doc_id", seed=11).select(
        "doc_id", "split"
    )


def q_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization accuracy report
    (scale_micro / q_checksum / err_micro, all-integer) — the
    compression step of a scale ANN pipeline
    (operators/similarity.py:quantize_embeddings_report)."""
    return similarity.quantize_embeddings_report(
        _t(spark, sf_dir, "embeddings")
    )


def q_pagerank_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-arithmetic PageRank (3 iterations, damping 0.85) over
    the bipartite customer<->supplier trade graph derived from
    orders x lineitem — iterative graph analytics as K rounds of
    join+aggregate, bit-exact via micro-unit floor division
    (operators/graph.py; DuckDB twin unrolls the same iterations)."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    base = (
        orders.join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            F.concat(F.lit("c:"), F.col("o_custkey").cast("string")).alias(
                "src"
            ),
            F.concat(F.lit("s:"), F.col("l_suppkey").cast("string")).alias(
                "dst"
            ),
        )
        .agg(F.count("*").alias("w"))
    )
    sym = base.union(
        base.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), F.col("w")
        )
    )
    return graph.pagerank(sym, iterations=3)


def q_duplicate_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated spans: top-100 word 10-grams occurring in
    2+ distinct documents (positional grams, total occurrence mass) —
    span-granular boilerplate detection (operators/dedup.py)."""
    return dedup.duplicate_ngram_spans(
        _t(spark, sf_dir, "documents"), n=10, top=100
    )


def q_contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-free decontamination audit: maximal spans (>= 8 tokens)
    in training documents (doc_id % 10 != 7) whose every 8-token window
    also occurs verbatim in the eval slice (doc_id % 10 == 7) — WHERE
    each benchmark leak sits and how long it runs, the span-granular
    upgrade of contamination_report's doc-level flags
    (operators/suffix.py:contamination_spans).  Oracle: the train-gram
    ∩ eval-gram interval merge (identical position cover by
    construction)."""
    docs = _t(spark, sf_dir, "documents")
    return suffix.contamination_spans(
        docs.where(F.col("doc_id") % 10 != 7),
        docs.where(F.col("doc_id") % 10 == 7),
        min_len=8,
    )


def q_remove_contaminated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination REWRITE at span granularity: training documents
    (doc_id % 10 != 7) with every eval-leaked span (>= 8 tokens, eval =
    doc_id % 10 == 7) cut out — the doc survives minus the leaked
    passages, where doc-level decontamination would drop it whole
    (operators/suffix.py:remove_contaminated_spans).  Oracle: the
    gram-formulation spans + a covered-position anti-join rebuild."""
    docs = _t(spark, sf_dir, "documents")
    return suffix.remove_contaminated_spans(
        docs.where(F.col("doc_id") % 10 != 7),
        docs.where(F.col("doc_id") % 10 == 7),
        min_len=8,
    )


def q_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance log-weights (Xie et al. 2023): score every
    document against the src0 stratum as the target distribution —
    hashed unigram+bigram buckets (md5 oracle seam; xxhash64 is the
    production dial), add-1 smoothed log-ratio quantized to integer
    micro-units per bucket BEFORE the per-doc sum, so the result is
    bit-exact on any engine (operators/sampling.py:
    dsir_importance_weights)."""
    docs = _t(spark, sf_dir, "documents")
    target = docs.where(F.col("source") == "src0")
    return sampling.dsir_importance_weights(
        docs, target, n_buckets=2048, hasher="md5"
    )


def q_dsir_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection: Gumbel-top-k importance resampling (sampling
    WITHOUT replacement from the importance distribution), noise
    derived from md5(id) so the draw is a pure function of the corpus —
    deterministic under retries and any partitioning
    (operators/sampling.py:dsir_resample)."""
    docs = _t(spark, sf_dir, "documents")
    target = docs.where(F.col("source") == "src0")
    return sampling.dsir_resample(
        docs, target, k=100, n_buckets=2048, hasher="md5", seed=0
    )


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style bigram-LM perplexity filter (Wenzek et al. 2020):
    an add-1 bigram model trained on the English slice scores every
    document's per-token NLL (micro-quantized per transition, so the
    sums are pure int64), and a distributed-exact ntile(3) assigns
    head/middle/tail buckets without a single-partition global sort
    (operators/curation.py:lm_perplexity_report).  Oracle: the naive
    global ntile(3) window over the same integer scores."""
    docs = _t(spark, sf_dir, "documents")
    return curation.lm_perplexity_report(
        docs, docs.where(F.col("lang") == "en")
    )


def q_lm_perplexity_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM persistence roundtrip (r8 close — the fourth
    build-once leg after IVF/suffix/BM25): train the CCNet model on the
    English slice, persist (v, w, count) range-clustered by context +
    the smoothing vocabulary size in a 1-row meta table, load it back,
    and score + bucket the corpus from the LOADED model
    (operators/curation.py:lm_model_write/lm_perplexity_from_model).
    Oracle: the lm_perplexity_filter SQL — loaded-model scores and
    buckets must be hash-identical to the in-plan training path."""
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="spark_graft_lm_")
    curation.lm_model_write(docs.where(F.col("lang") == "en"), path)
    return curation.lm_perplexity_from_model(spark, path, docs)


def _bm25_queries(docs: DataFrame) -> DataFrame:
    """Every 101st document as a ``(query_id, text)`` BM25 query.
    doc_id is unique, so this keeps bm25_topk's one-row-per-query_id
    contract (per-row term dedup equals per-query dedup)."""
    return docs.where(F.col("doc_id") % 101 == 0).select(
        F.col("doc_id").alias("query_id"), "text"
    )


def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 keyword retrieval: every ~101st document is a query; top-10
    corpus docs per query by Lucene-variant BM25.  All model inputs
    (tf, df, dl, N, Σdl) are exact int64 from one postings aggregate;
    the per-term contribution is micro-quantized before the per-doc sum
    so scores and ranks are integer-total
    (operators/text_mining.py:bm25_topk)."""
    docs = _t(spark, sf_dir, "documents")
    qs = _bm25_queries(docs)
    return text_mining.bm25_topk(docs, qs, k=10)


def q_bm25_search_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 with the max_df dial (VERDICT r7 #4): query terms in more
    than 775‰ of documents are pruned from scoring BEFORE the postings
    join, so stopword-grade terms never pay their Ω(df) candidate
    fan-out — the 100 TB Zipfian-corpus path, the same contract shape
    as knn_ivf's nprobe dial.  The prune is a deterministic integer
    predicate (df·1000 ≤ 775·N) the oracle replays exactly; on this
    fixture it keeps roughly half the vocabulary, so the dialed ranking
    is a genuinely different (and hash-checked) contract from
    bm25_search (operators/text_mining.py:bm25_topk)."""
    docs = _t(spark, sf_dir, "documents")
    qs = _bm25_queries(docs)
    return text_mining.bm25_topk(docs, qs, k=10, max_df_permille=775)


def q_bm25_search_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 index persistence roundtrip (r8 close — completes the
    build-once triple with knn_ivf_persisted and
    exact_substring_spans_persisted): tokenize + aggregate the corpus
    ONCE, persist the postings range-clustered by term with the corpus
    scalars in a 1-row meta table, load it back, and rank the same
    query workload from the LOADED index — scoring uses the recorded
    (N, Σdl) as plan literals, no stats join, no re-tokenization
    (operators/text_mining.py:bm25_index_write/bm25_topk_from_index).
    Oracle: the bm25_search SQL — loaded-index ranking must be
    hash-identical to the in-plan construction."""
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    qs = _bm25_queries(docs)
    path = tempfile.mkdtemp(prefix="spark_graft_bm25_")
    text_mining.bm25_index_write(docs, path)
    return text_mining.bm25_topk_from_index(spark, path, qs, k=10)


def q_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical top-20 and exact dense cosine
    top-20 (the id-aligned embeddings table) fused per query by
    reciprocal-rank fusion, integer-quantized reciprocals so the fused
    ordering is engine-exact (operators/similarity.py:rrf_fuse).
    Queries are every ~101st document, same ids on both sides."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = text_mining.bm25_topk(docs, _bm25_queries(docs), k=20)
    dense = similarity.knn_bruteforce(
        emb,
        emb.where(F.col("vec_id") % 101 == 0).select(
            F.col("vec_id").alias("query_id"), "embedding"
        ),
        k=20,
    )
    return similarity.rrf_fuse(
        [
            lex.select("query_id", "doc_id", "rank"),
            dense.select(
                "query_id", F.col("neighbor_id").alias("doc_id"), "rank"
            ),
        ],
        k=10,
    )


def q_retrieval_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality audit: recall@10 and MRR of BM25-alone and of
    the RRF hybrid, each scored against exact dense cosine top-10 as
    the relevance truth (operators/similarity.py:ranking_quality) —
    the measured answer to "what does rank fusion buy over keyword
    search".  BM25@20 and dense@20 are computed ONCE each and
    localCheckpoint'ed (both are tiny q·20 tables feeding two
    consumers — the candidate slice and the fusion; without the
    checkpoint Catalyst pastes the corpus-scan pipelines per
    consumer); truth/candidates are rank<=10 slices of the same
    materialized tables, so the audit adds only (query, doc)-grain
    joins.  All metrics integer-exact (recall basis points, MRR in
    integer-quantized reciprocals — the rrf_fuse seam)."""
    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex20 = text_mining.bm25_topk(docs, _bm25_queries(docs), k=20).localCheckpoint(
        eager=True
    )
    dense20 = (
        similarity.knn_bruteforce(
            emb,
            emb.where(F.col("vec_id") % 101 == 0).select(
                F.col("vec_id").alias("query_id"), "embedding"
            ),
            k=20,
        )
        .select("query_id", F.col("neighbor_id").alias("doc_id"), "rank")
        .localCheckpoint(eager=True)
    )
    truth = dense20.where(F.col("rank") <= 10).select("query_id", "doc_id")
    fused = similarity.rrf_fuse(
        [lex20.select("query_id", "doc_id", "rank"), dense20], k=10
    )
    m_lex = similarity.ranking_quality(
        truth, lex20.where(F.col("rank") <= 10)
    ).withColumn("system", F.lit("bm25"))
    m_hyb = similarity.ranking_quality(truth, fused).withColumn(
        "system", F.lit("rrf_hybrid")
    )
    return m_lex.unionByName(m_hyb).select(
        "system", "query_id", "n_truth", "n_hits", "recall_bp", "mrr_micro"
    )


def q_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-free exact-substring dedup (Lee et al. 2022): maximal
    repeated spans of >= 8 tokens anywhere in the corpus.  Since r13
    the marking step groups positions by the exact 8-token gram
    directly (one count window; two hash exchanges total, no Python
    pass, no construct-time rounds — see the operator docstring for
    the shuffle-bytes argument); the prefix-doubling suffix ranks
    remain the length-free/persisted-index path
    (operators/suffix.py:exact_substring_spans).  Oracle: the
    repeated-8-gram interval merge — previously the provably-
    equivalent twin of the rank formulation, now also structurally
    aligned; the rank-vs-gram equivalence stays pinned by
    tests/test_suffix.py."""
    return suffix.exact_substring_spans(
        _t(spark, sf_dir, "documents"), min_len=8
    )


def q_exact_substring_spans_persisted(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Suffix-array index persistence roundtrip (VERDICT r7 #5, the
    knn_ivf_persisted argument applied to Lee et al.'s build-once SA):
    run the prefix-doubling rounds ONCE, persist the (id, pos, rank)
    table range-clustered by rank (+ a 1-row meta table), load it back,
    and derive the maximal repeated spans from the LOADED ranks — the
    overlap composite, occurrence marking, and interval merge are pure
    integer arithmetic over the index, no re-doubling
    (operators/suffix.py:suffix_index_write/exact_substring_spans_from_index).
    Oracle: the same repeated-8-gram interval merge as
    exact_substring_spans — loaded-index output must be hash-identical
    to the in-plan construction."""
    import tempfile

    path = tempfile.mkdtemp(prefix="spark_graft_sa_")
    suffix.suffix_index_write(
        _t(spark, sf_dir, "documents"), path, max_len=8
    )
    return suffix.exact_substring_spans_from_index(spark, path, min_len=8)


def q_longest_repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-position maximal repeat lengths (top-100, cap 16 tokens) via
    the suffix array's LCP adjacency property — a dense-rank equi-join
    (rank r vs r+1), no global-order window; reports the true length
    of each repeated passage, which fixed n-grams cannot do cheaply
    (operators/suffix.py:longest_repeated_substrings).  Oracle: DuckDB
    dense_rank over the truncated suffix windows + the same adjacent
    LCP computation."""
    return suffix.longest_repeated_substrings(
        _t(spark, sf_dir, "documents"), cap=16, min_len=4, top=100
    )


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT n-gram Jaccard similarity join (prefix filtering, lossless
    recall — the deterministic complement of minhash_near_dup)."""
    return dedup.ngram_jaccard_pairs(
        _t(spark, sf_dir, "documents"), threshold=0.5
    )


def q_ngram_jaccard_pairs_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked exact n-gram Jaccard pairs (quadratic within a ``lang``
    block): the independent cross-validation baseline for the PPJoin
    path, now oracle-covered in its own right.  Note the blocked
    contract differs from the global one: only same-lang pairs are
    listed.

    Registered over the even-doc_id half of the corpus: the baseline is
    O(block²) BY CONTRACT (that is what PPJoin/MinHash exist to avoid),
    so the demo bounds the quadratic term while staying non-empty at
    every SF — the full-corpus cross-validation against PPJoin runs in
    tests at sf0.001."""
    docs = _t(spark, sf_dir, "documents").where(F.col("doc_id") % 2 == 0)
    return dedup.ngram_jaccard_pairs_blocked(
        docs, threshold=0.5, block_on="lang"
    )


def q_near_dup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe near-dup composition (VERDICT r3 #2): exact-collapse
    -> MinHash-LSH over unique representatives -> expand through group
    membership.  The oracle is the EXACT brute-force Jaccard pair set
    over ALL documents — the expansion semantics (within-group pairs at
    1.0, cross-group pairs at the reps' Jaccard) make the composed
    output equal the flat contract whenever LSH recall over reps is
    complete, so the hash-match verifies collapse, LSH, and expansion
    together."""
    return dedup.near_dup_pipeline(
        _t(spark, sf_dir, "documents"), jaccard_threshold=0.5
    ).select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def q_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end keep-one dedup (near_dup_pipeline pairs → connected
    components → min-id survivors + per-survivor duplicate counts).
    Oracle: DuckDB recomputes the exact brute-force pair set, folds it
    with a recursive CTE into components, and keeps the min-id member —
    so the hash-match covers pair generation, clustering, AND the
    keep-one selection in one check."""
    return dedup.dedup_corpus(
        _t(spark, sf_dir, "documents"), jaccard_threshold=0.5
    )


def q_upsert_latest_wins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-style CDC apply: a deterministic update batch (every 10th
    event, bumped ts + value) upserted into the base table; per key the
    highest-version row survives, updates winning ties.  One shuffle on
    the merge key (operators/medallion.py:upsert_latest_wins)."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    updates = (
        ev.where(F.col("event_id") % 10 == 0)
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY"))
        .withColumn("value", F.col("value") + 100)
    )
    merged = medallion.upsert_latest_wins(
        ev, updates, keys=["event_id"], version_col="ts"
    )
    return merged.select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.round("value", 2).alias("value"),
    )


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of the documents table: per-column row /
    null / distinct counts in ONE scan (wide agg + stack unpivot — no
    per-column passes, no driver-side assembly)."""
    return medallion.profile_table(
        _t(spark, sf_dir, "documents"), ["doc_id", "text", "lang", "source"]
    )


def q_clustered_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range-clustered write layout (repartitionByRange +
    sortWithinPartitions) re-read with a range predicate — the files
    outside the date range are skipped via Parquet footer stats
    (disjoint-range property pinned in test_scale_strategies.py)."""
    import tempfile

    out = tempfile.mkdtemp(prefix="spark_graft_clustered_")
    orders = _t(spark, sf_dir, "orders")
    write_clustered(orders, out, "o_orderdate", n_files=8)
    back = spark.read.parquet(out).where(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    return back.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


def q_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type 2 build: each user's event stream
    becomes validity intervals [effective_from, effective_to) with an
    is_current flag — one window (lead) over (user_id, ts), the
    standard Spark way to construct dimension history tables."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").asc(), F.col("event_id").asc()
    )
    return ev.select(
        "user_id",
        "event_id",
        F.col("event_type").alias("state"),
        F.col("ts").alias("effective_from"),
        F.lead("ts").over(w).alias("effective_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    )


def q_higher_order_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array lambdas — transform / filter / aggregate
    (fold) / exists over a per-customer price array.  The fold runs over
    an array_sort'ed array, so its summation order is deterministic and
    engine-independent."""
    o = _t(spark, sf_dir, "orders")
    arr = o.groupBy("o_custkey").agg(
        F.array_sort(F.collect_list(F.round("o_totalprice", 2))).alias("prices")
    )
    return arr.select(
        "o_custkey",
        F.size(F.filter("prices", lambda p: p > 200_000))
        .cast("long")
        .alias("n_big"),
        F.round(
            F.aggregate(
                "prices", F.lit(0.0), lambda acc, p: acc + p
            ),
            2,
        ).alias("total_price"),
        # floor-of-cents: p*0.9 lands on exact half-cents where round()
        # semantics diverge across engines
        F.floor(
            F.element_at(F.transform("prices", lambda p: p * 0.9), 1) * 100
        )
        .cast("long")
        .alias("min_discounted_cents"),
        F.exists("prices", lambda p: p > 300_000).alias("has_monster"),
    )


def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV source/sink — header'd, explicitly schema'd read (never
    inferSchema: a schema-inference pass doubles the scan at 100 TB),
    null-on-malformed PERMISSIVE mode, then an aggregate."""
    import tempfile

    out = tempfile.mkdtemp(prefix="spark_graft_csv_")
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"
    )
    cust.write.mode("overwrite").option("header", True).csv(out)
    schema = (
        "c_custkey long, c_name string, c_nationkey int, "
        "c_acctbal double, c_mktsegment string"
    )
    back = spark.read.schema(schema).option("header", True).csv(out)
    return back.groupBy("c_mktsegment").agg(
        F.count("*").alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_balance"),
    )


def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across parquet batches: batch 1 lands with a v1
    schema, batch 2 adds a column; ``mergeSchema`` reconciles at read
    (missing fields → null, the same tolerance the reference gets from
    dict.get defaults, reference silver_transform_videos.py:24-27) and
    the aggregate normalizes nulls away."""
    import tempfile

    out = tempfile.mkdtemp(prefix="spark_graft_evo_")
    orders = _t(spark, sf_dir, "orders")
    orders.where(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).write.mode("overwrite").parquet(f"{out}/b1")
    orders.where(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    ).write.mode("overwrite").parquet(f"{out}/b2")
    merged = spark.read.option("mergeSchema", True).parquet(
        f"{out}/b1", f"{out}/b2"
    )
    return merged.groupBy(
        F.coalesce("o_orderstatus", F.lit("unknown")).alias("status")
    ).agg(
        F.count("*").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long")
        ).alias("total_cents"),
    )


def q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type p99 outlier flagging: exact percentile per event_type
    (tiny aggregate, broadcast back), strict-greater filter — the
    anomaly-gate shape of a monitoring pipeline."""
    ev = _t(spark, sf_dir, "events")
    th = ev.groupBy("event_type").agg(
        F.percentile("value", 0.99).alias("p99")
    )
    return (
        ev.join(F.broadcast(th), "event_type")
        .where(F.col("value") > F.col("p99"))
        .select(
            "event_id",
            "event_type",
            "value",
            F.round("p99", 4).alias("p99"),
        )
    )


def q_duplicate_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the exact n-gram-Jaccard near-dup
    graph: every document assigned a duplicate-cluster id (min reachable
    doc id) via FastSV-style hooking and shortcutting — the step that
    turns pair lists into keep-one-per-cluster dedup decisions.  Oracle
    is a recursive CTE over the same pair list."""
    docs = _t(spark, sf_dir, "documents")
    pairs = dedup.ngram_jaccard_pairs(docs)
    return dedup.duplicate_clusters(docs, pairs)


def q_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing rolling-hash fingerprints, one row per (doc,
    fingerprint) — via the staged two-projection form (the composed
    single expression re-hashes per window position;
    functions/text.py:winnowing_fingerprints_df)."""
    from youtube_podcast_data_pipeline_azure_spark.functions.text import (
        winnowing_fingerprints_df,
    )

    docs = _t(spark, sf_dir, "documents")
    # materialize the fingerprint arrays BEFORE exploding: Generate
    # re-evaluates its input expression once per EMITTED element, so
    # explode directly over the computed array multiplies the whole
    # hash pipeline by fingerprints-per-doc (measured 6.7 s vs 0.4 s
    # at sf0.1; same localCheckpoint pattern as operators/graph.py)
    return (
        winnowing_fingerprints_df(docs)
        .localCheckpoint()
        .select("doc_id", F.explode("fingerprints").alias("fp"))
    )


def q_embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector math sanity surface: l2 norms of embeddings."""
    emb = _t(spark, sf_dir, "embeddings")
    return emb.select("vec_id", F.round(l2_norm("embedding"), 4).alias("norm"))


def q_hash_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reproducible 25% corpus subsample gated on a content-id hash —
    membership is a pure function of (doc_id, seed), so retries and
    repartitions select identical rows (operators/sampling.py)."""
    docs = _t(spark, sf_dir, "documents")
    return sampling.hash_sample(docs, "doc_id", rate=0.25, seed=7).select(
        "doc_id", "source", "lang"
    )


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source mixture weighting (pretraining data mix): CASE-gated
    hash sampling, one scan, zero shuffles."""
    docs = _t(spark, sf_dir, "documents")
    rates = {"src0": 1.0, "src1": 0.5, "src2": 0.1}
    return sampling.mixture_sample(
        docs, "source", rates, "doc_id", seed=3, default_rate=0.2
    ).select("doc_id", "source")


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-proportional weighted sampling: keep probability =
    min(n_chars, 2000)/2000 per document, same pure hash gate."""
    docs = _t(spark, sf_dir, "documents")
    weight = F.least(F.col("n_chars"), F.lit(2000)) / F.lit(2000.0)
    return sampling.weighted_sample(docs, "doc_id", weight, seed=5).select(
        "doc_id", "source", "n_chars"
    )


def q_chunk_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping fixed-size token windows (RAG / pretraining chunk
    prep): narrow posexplode, no shuffle."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", tokenize("text").alias("tokens")
    )
    return sampling.chunk_documents(docs, "tokens", chunk_size=50, stride=40)


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing into ~2048-token bins per source group via a
    single running-sum window (one shuffle on the group key)."""
    docs = _t(spark, sf_dir, "documents").select(
        "source", "doc_id", word_count("text").alias("tok")
    )
    return sampling.pack_sequences(
        docs, "tok", group_col="source", budget=2048
    )


def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-10 neighbors for the first 5 vectors as queries."""
    corpus, queries = _knn_split(spark, sf_dir)
    return similarity.knn_bruteforce(corpus, queries, k=10)


def q_minhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup pairs, oracle-checked against the EXACT
    brute-force Jaccard pair set: the operator's output is
    exact-verified candidates, so it equals the true pair set whenever
    banding recall is complete — the fixture's true pairs all sit at
    Jaccard >= 0.89, where the b=24/r=4 S-curve miss probability is
    ~4e-11, and the whole pipeline (xxhash64 signatures) is
    deterministic, so the hash-match is stable evidence of recall=1.0
    at this corpus."""
    return dedup.minhash_lsh_pairs(
        _t(spark, sf_dir, "documents"), jaccard_threshold=0.5
    ).select("id_a", "id_b", F.round("jaccard", 4).alias("jaccard"))


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming <= 3, oracle-checked
    bit-for-bit: pigeonhole chunk blocking is lossless, and the
    md5-derived 56-bit token hash (``sketches.md5_int56``) has an exact
    DuckDB twin, so the oracle recomputes the identical signatures and
    lists all pairs at Hamming <= 3 by brute force."""
    return dedup.simhash_near_dup_pairs(
        _t(spark, sf_dir, "documents"),
        max_hamming=3,
        bits=56,
        token_hash=sketches.md5_int56,
    ).select("id_a", "id_b", F.col("hamming").cast("long").alias("hamming"))


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via hyperplane LSH, oracle-checked
    bit-for-bit: the seeded hyperplanes are plan literals, so the DuckDB
    twin recomputes the same 8 sign bits per vector, the same bucket
    join, and the same exact-cosine verify — the oracle checks the
    APPROXIMATE contract itself (bucket-restricted pairs), not a
    recall claim.

    Threshold 0.35: the fixture embeddings are random unit vectors
    (max pairwise cosine ≈ 0.51 at sf0.01), so a production-style 0.9
    threshold would trivially return zero rows; 0.35 exercises the full
    bucket-join + verify path."""
    return similarity.embedding_near_dup_pairs(
        _t(spark, sf_dir, "embeddings"), cosine_threshold=0.35
    )


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate KNN, oracle-checked bit-for-bit: the
    DuckDB twin re-derives the literal seeded hyperplanes' sign-bit
    buckets, the multiprobe mask XORs, and the in-bucket cosine top-k,
    so the driver hash-verifies the approximate semantics exactly
    (not merely a recall property)."""
    corpus, queries = _knn_split(spark, sf_dir)
    return similarity.knn_lsh(corpus, queries, k=10, multiprobe=2)


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate KNN: k-means coarse quantizer + inverted
    lists, nprobe=4 of 8 (rows-only: approximate recall — measured
    5-9/10 per query at sf0.01; the machinery itself is driver-checked
    via ``knn_ivf_exhaustive``)."""
    corpus, queries = _knn_split(spark, sf_dir)
    return similarity.knn_ivf(
        corpus, queries, k=10, n_centroids=8, nprobe=4, train_sample=1024
    )


def q_knn_ivf_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF partition-completeness invariant, oracle-checked: with
    nprobe == n_centroids every inverted list is probed, so IVF must
    return EXACTLY the brute-force top-k (the inverted lists partition
    the corpus).  The oracle computes exact KNN independently, so a
    hash-match certifies the whole IVF pipeline — deterministic
    training, literal-folded centroids, list assignment, probe ranking,
    scoring, tie-breaks — with the recall dial at its lossless end
    (the nprobe<k trade-off itself stays rows-only in ``knn_ivf``)."""
    corpus, queries = _knn_split(spark, sf_dir)
    return similarity.knn_ivf(
        corpus, queries, k=10, n_centroids=8, nprobe=8, train_sample=1024
    )


def q_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-quality eval: exact nearest-neighbor (self excluded)
    label agreement per class — broadcast the bounded query set, score
    JVM-side, top-1 window, integer rollup."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 200).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("_q"),
        F.col("label").alias("qlabel"),
    )
    c = emb.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("_c"),
        F.col("label").alias("nlabel"),
    )
    scored = (
        spread(c, "nid")
        .crossJoin(F.broadcast(q))
        .where(F.col("nid") != F.col("qid"))
        .withColumn("cosine", F.round(cosine_similarity("_c", "_q"), 4))
        .select("qid", "qlabel", "nid", "nlabel", "cosine")
    )
    # Two-phase top-1: bounded per-partition partials before the only
    # shuffle (same scale fix as knn_bruteforce — no reducer ever sees
    # a query's full score set).
    reduced = similarity.partition_topk(
        scored, "qid", "cosine", k=1, id_col="nid"
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("cosine").desc(), F.col("nid").asc()
    )
    top1 = reduced.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") == 1
    )
    return top1.groupBy(F.col("qlabel").alias("label")).agg(
        F.count("*").alias("n_queries"),
        F.sum(
            F.when(F.col("nlabel") == F.col("qlabel"), 1).otherwise(0)
        ).cast("long").alias("n_correct"),
    )


def q_embedding_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means cluster profile over the embedding corpus: per-cluster
    size and mean cosine cohesion, oracle-checked bit-for-bit — the
    training is deterministic (lowest-id init, bounded sample, fixed
    iteration count), so the DuckDB twin replays the same two Lloyd
    iterations as CTEs (assign = argmax cosine with lowest-id
    tie-break, recenter = per-dim mean, empty clusters keep their
    centroid) and reproduces the identical profile."""
    return similarity.cluster_profile(
        _t(spark, sf_dir, "embeddings"),
        n_centroids=8,
        iters=2,
        train_sample=1024,
    )


def _media_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Synthesize MEDIA_ASSETS rows from ``documents``: the text bytes
    stand in for an opaque media payload (no codecs in this container);
    modality cycles deterministically, videos get a duration."""
    d = _t(spark, sf_dir, "documents")
    modality = (
        F.when((F.col("doc_id") % 3) == 0, "image")
        .when((F.col("doc_id") % 3) == 1, "audio")
        .otherwise("video")
    )
    return d.select(
        F.col("doc_id").alias("asset_id"),
        modality.alias("modality"),
        F.col("text").cast("binary").alias("payload"),
        F.when((F.col("doc_id") % 3) == 2, F.col("n_chars") * 100)
        .cast("long")
        .alias("duration_ms"),
    )


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal feature-extract plumbing (mapInPandas over binary
    payloads).  The digest columns are oracle-checkable; the stub
    feature vector is exercised but projected out (its determinism is
    unit-tested in tests/test_multimodal.py)."""
    feats = multimodal.extract_features(_media_assets(spark, sf_dir))
    return feats.select("asset_id", "modality", "n_bytes", "sha256")


def q_media_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling: 1-in/N-out mapInPandas explode; stub frames
    are payload+timestamp digests, so fully oracle-checkable."""
    frames = multimodal.sample_frames(
        _media_assets(spark, sf_dir), every_ms=1000
    )
    return frames.select(
        "asset_id",
        "frame_index",
        "frame_ms",
        F.lower(F.hex("frame")).alias("frame_sha"),
    )


def q_user_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator, batch mode (streaming twin is
    applyInPandasWithState — parity pinned in tests/test_streaming.py)."""
    out = user_running_totals(_t(spark, sf_dir, "events"))
    return out.select(
        "user_id",
        "n_events",
        F.round("total_value", 2).alias("total_value"),
        "last_ts",
    )


def q_stream_dedup_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once delivery simulation: union events with itself, then
    exactly-once dedup on event_id (streaming twin uses
    dropDuplicatesWithinWatermark; batch/stream parity in tests)."""
    ev = _t(spark, sf_dir, "events")
    doubled = ev.unionByName(ev)
    return (
        streaming_dedup(doubled)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
    )


def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join, batch mode: events enriched from a broadcast
    static dimension (streaming twin in tests/test_streaming.py —
    identical code path, shuffle-free and stateless on the stream)."""
    return enrich_with_category(
        _t(spark, sf_dir, "events"), event_type_dim(spark)
    )


def q_purchase_view_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream time-bounded self-join, batch mode: purchases
    attributed to same-user views in the preceding 30 minutes (streaming
    twin with watermarked state in tests/test_streaming.py)."""
    return purchase_view_attribution(_t(spark, sf_dir, "events"))


def q_media_thumbnails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image decode→resize kernel: 4×4 raw-RGB payloads (48 bytes
    synthesized from three md5 digests of the doc text) thumbnailed to
    2×2 by nearest-neighbor numpy sampling.  Oracle-checked
    byte-for-byte: the selected pixels are fixed byte slices of the
    digest concatenation."""
    d = _t(spark, sf_dir, "documents")
    hexs = F.concat(
        F.md5("text"),
        F.md5(F.concat(F.col("text"), F.lit("x"))),
        F.md5(F.concat(F.col("text"), F.lit("y"))),
    )
    assets = d.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("image").alias("modality"),
        F.unhex(hexs).alias("payload"),
        F.lit(4).alias("width"),
        F.lit(4).alias("height"),
    )
    thumbs = multimodal.resize_images(assets, width=2, height=2)
    return thumbs.select(
        "asset_id",
        F.col("thumb_width").cast("long").alias("thumb_width"),
        F.col("thumb_height").cast("long").alias("thumb_height"),
        F.lower(F.hex("thumbnail")).alias("thumb_hex"),
    )


def q_mg_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact heavy-hitter tokens (freq · 200 > N) via the two-pass
    Misra-Gries plan: bounded k=255 summaries per partition → merge →
    exact-count candidates only (operators/sketches.py
    heavy_hitters_exact).  The sketch guarantees candidate capture, the
    second pass restores exactness — so a bounded-memory plan
    hash-matches a plain GROUP BY … HAVING oracle."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(F.explode(tokenize("text")).alias("token"))
    return sketches.heavy_hitters_exact(toks, "token", denom=200, k=255)


def q_foreach_batch_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming foreachBatch idempotent sink roundtrip: drain the
    documents parquet as an availableNow stream into per-batch_id
    directories (replay-safe via the _SUCCESS marker), then REPLAY
    batch 0 by hand — if the skip-if-committed guard failed, rows would
    double and the oracle (a plain batch aggregate) would mismatch."""
    import tempfile

    from youtube_podcast_data_pipeline_azure_spark.streaming import sinks

    out = tempfile.mkdtemp(prefix="spark_graft_fbsink_")
    ckpt = tempfile.mkdtemp(prefix="spark_graft_fbckpt_")
    src = tempfile.mkdtemp(prefix="spark_graft_fbsrc_")
    docs = _t(spark, sf_dir, "documents")
    # stage as a 4-file directory: the file stream delivers one file per
    # trigger, so the sink sees 4 distinct micro-batches
    docs.repartition(4, "doc_id").write.mode("overwrite").parquet(src)
    sinks.run_parquet_stream_to_sink(spark, src, docs.schema, out, ckpt)
    # simulate the failure-replay path: re-deliver batch 0 in full
    sinks.idempotent_batch_writer(out)(docs, 0)
    back = spark.read.parquet(out)
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


def _asof_query(spark: SparkSession, sf_dir: str, asof_join) -> DataFrame:
    """Purchases as-of-joined to views by the same user with
    ``asof_join`` (one of the operators/joins.py as-of variants).  Views
    are deduped to one per (user, ts) — max event_id wins — so the
    as-of pick is well-defined on both engines."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id", "ts")
        .agg(
            F.max("event_id").alias("view_event_id"),
            F.max("value").alias("view_value"),
        )
    )
    out = asof_join(purchases, views, on=["user_id"], left_ts="ts", right_ts="ts")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        F.col("asof_view_event_id").alias("view_event_id"),
        F.round("asof_view_value", 2).alias("view_value"),
    )


def q_asof_join_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of: each purchase matched to the EARLIEST
    same-or-later view by the same user (operators/joins.py
    asof_join_forward — union-merge, one shuffle).  DuckDB's native
    ASOF JOIN with <= is the oracle."""
    return _asof_query(spark, sf_dir, joins.asof_join_forward)


def q_asof_join_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest as-of: closest view either direction per purchase,
    microsecond-exact deltas, ties → backward.  One union + two window
    frames — still a single shuffle (operators/joins.py
    asof_join_nearest).  Oracle composes DuckDB's backward and forward
    ASOF joins with the same tie rule."""
    return _asof_query(spark, sf_dir, joins.asof_join_nearest)


def q_key_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key diagnostic feeding the salting decision: top-20
    heaviest event users with integer-basis-point shares
    (operators/skew.py:key_skew_report)."""
    ev = _t(spark, sf_dir, "events")
    return skew.key_skew_report(ev, "user_id", top=20)


def q_reservoir_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum reproducible sampling: 20 events per event_type by
    content-hash rank (operators/sampling.py:reservoir_per_key) — the
    same rows on any partitioning/cluster size, hence oracle-exact."""
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    return sampling.reservoir_per_key(
        ev, "event_type", "event_id", k=20, seed=11
    )


def q_udtf_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF surface (Spark 4): LATERAL table function expanding
    each document into indexed sentences
    (functions/text.py:sentence_split_udtf); oracle = DuckDB lockstep
    unnest of the same split."""
    from youtube_podcast_data_pipeline_azure_spark.functions.text import sentence_split_udtf

    spark.udtf.register("split_sentences", sentence_split_udtf())
    _t(spark, sf_dir, "documents").createOrReplaceTempView("docs_v")
    return spark.sql(
        """
        SELECT d.doc_id, s.sent_idx, s.sentence
        FROM docs_v d, LATERAL split_sentences(d.text) s
        """
    )


def q_sql_api_top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front end as a first-class entry point: temp view +
    ``spark.sql`` text with a CTE and a window — same Catalyst plan as
    the DataFrame API, proving both surfaces of the engine are
    interchangeable."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        WITH ranked AS (
            SELECT o_orderpriority, o_orderkey, o_totalprice,
                   row_number() OVER (
                       PARTITION BY o_orderpriority
                       ORDER BY o_totalprice DESC, o_orderkey ASC
                   ) AS rn
            FROM orders_v)
        SELECT o_orderpriority, cast(rn AS bigint) AS rn,
               o_orderkey, o_totalprice
        FROM ranked WHERE rn <= 3
        """
    )


def q_streaming_incremental_kpis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end streaming KPI maintenance: events drained as an
    availableNow stream; each micro-batch reduced to a mergeable
    partial summary and landed idempotently per batch_id
    (streaming/sinks.py:incremental_summary_sink); batch 0 replayed to
    prove exactly-once; reader merges partials.  Oracle = full batch
    aggregate — the merge≡recompute contract, this time across real
    micro-batch boundaries."""
    import tempfile

    from youtube_podcast_data_pipeline_azure_spark.streaming import sinks

    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("event_date", F.to_date("ts"))
        .withColumn(
            "value_cents", F.floor(F.col("value") * 100).cast("long")
        )
        .select("event_id", "event_date", "event_type", "value_cents")
    )
    src = tempfile.mkdtemp(prefix="spark_graft_sis_src_")
    out = tempfile.mkdtemp(prefix="spark_graft_sis_out_")
    ckpt = tempfile.mkdtemp(prefix="spark_graft_sis_ckpt_")
    ev.repartition(4, "event_id").write.mode("overwrite").parquet(src)

    keys = ["event_date", "event_type"]
    spec = {"n": ("count", "event_id"), "total_cents": ("sum", "value_cents")}
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        stream.writeStream.foreachBatch(
            sinks.incremental_summary_sink(out, keys, spec)
        )
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # failure-replay: re-deliver the whole table as batch 0 — committed,
    # so this must be a no-op or the oracle will catch double counts
    sinks.incremental_summary_sink(out, keys, spec)(ev, 0)
    return sinks.read_merged_summary(spark, out, keys, spec)


def q_window_rank_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking-family completion: dense_rank, percent_rank, cume_dist,
    nth_value over a per-type value ordering.  Unique (value, event_id)
    ordering makes every rank deterministic; percent_rank/cume_dist are
    exact rationals of identical ints so the doubles hash-match
    cross-engine.  Explicit NULLS FIRST + ROWS frame pin the
    engine-default divergences."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.col("value").asc_nulls_first(), F.col("event_id").asc()
    )
    wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "event_id",
        "event_type",
        "value",
        F.dense_rank().over(w).cast("long").alias("drank"),
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.nth_value("value", 3).over(wf).alias("third_lowest"),
    )


def q_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental daily pipeline pattern: aggregate history and the
    'new day' separately, merge the partial summaries
    (operators/incremental.py) — the oracle is the FULL recomputation,
    so the check is the merge ≡ recompute equivalence that makes
    incremental correct.  Measures stay mergeable (count/sum/min/max);
    avg derives downstream."""
    ev = (
        _t(spark, sf_dir, "events")
        .withColumn("event_date", F.to_date("ts"))
        # per-row floor-to-cents then integer sums: summation-order-proof
        # (partials merge in a different order than a full recompute)
        .withColumn(
            "value_cents", F.floor(F.col("value") * 100).cast("long")
        )
    )
    last_day = ev.agg(F.max("event_date").alias("d"))
    hist = ev.join(F.broadcast(last_day), ev.event_date < F.col("d"), "left_semi")
    new_day = ev.join(F.broadcast(last_day), ev.event_date == F.col("d"), "left_semi")
    spec = {
        "n": ("count", "value"),
        "total_cents": ("sum", "value_cents"),
        "min_value": ("min", "value"),
        "max_value": ("max", "value"),
    }
    keys = ["event_type"]
    merged = incremental.merge_summaries(
        [
            incremental.aggregate_batch(hist, keys, spec),
            incremental.aggregate_batch(new_day, keys, spec),
        ],
        keys,
        spec,
    )
    return merged.select(
        "event_type",
        "n",
        "total_cents",
        F.round("min_value", 2).alias("min_value"),
        F.round("max_value", 2).alias("max_value"),
    )


def q_compaction_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file maintenance: scatter customer into 32 tiny files,
    compact to ~64 KB targets (io/writers.py:compact_files, sized from
    real on-disk bytes), re-read and aggregate — losslessness is what
    the oracle checks."""
    import tempfile

    from youtube_podcast_data_pipeline_azure_spark.io.writers import compact_files

    small = tempfile.mkdtemp(prefix="spark_graft_small_")
    compacted = tempfile.mkdtemp(prefix="spark_graft_compacted_")
    cust = _t(spark, sf_dir, "customer")
    cust.repartition(32).write.mode("overwrite").parquet(small)
    compact_files(spark, small, compacted, target_file_bytes=64 * 1024)
    back = spark.read.parquet(compacted)
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
    )


def q_table_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table content fingerprint (migration/replica
    validation without moving rows): one scan, map-side partial agg,
    single-row result (operators/quality.py:table_fingerprint).  XOR of
    cross-engine md5-int56 row hashes + low-bit sum as multiplicity
    witness; hash-matches the DuckDB twin computed over the same
    canonical serialization."""
    orders = _t(spark, sf_dir, "orders")
    return quality.table_fingerprint(
        orders, ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"]
    )


def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level diff of two table versions (CDC-style
    added/removed/changed) comparing fingerprints, not full rows — the
    join ships keys + one long per side.  The 'new' version is derived
    deterministically: drop keys %97=0, bump o_custkey on %89=0, add
    negated keys for %83=0."""
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate"]
    old = _t(spark, sf_dir, "orders").select(*cols)
    k = F.col("o_orderkey")
    new = (
        old.where(k % 97 != 0)
        .withColumn(
            "o_custkey",
            F.when(k % 89 == 0, F.col("o_custkey") + 1).otherwise(
                F.col("o_custkey")
            ),
        )
        .unionByName(
            old.where(k % 83 == 0).withColumn("o_orderkey", -k)
        )
    )
    return quality.snapshot_diff(old, new, ["o_orderkey"])


def q_media_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real raw-PCM audio kernel: 32-byte payloads (two md5 digests of
    the doc text) decoded as 16 s16le samples; n_samples / sum of
    squares / peak / duration are all-integer, so the kernel is
    oracle-checked bit-for-bit (DuckDB rebuilds the int16 values from
    the hex digits)."""
    d = _t(spark, sf_dir, "documents")
    assets = d.select(
        F.col("doc_id").alias("asset_id"),
        F.lit("audio").alias("modality"),
        F.unhex(
            F.concat(F.md5("text"), F.md5(F.concat(F.col("text"), F.lit("a"))))
        ).alias("payload"),
    )
    return multimodal.audio_stats(assets, sample_rate=16000)


def q_dq_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative data-quality expectations over events, evaluated in
    ONE scan (operators/quality.py): every row-local check compiles to
    a conditional count inside a single aggregate — no UDFs, no extra
    jobs.  pass_bp is integer basis points (div), bit-exact on any
    engine."""
    ev = _t(spark, sf_dir, "events")
    exps = [
        quality.not_null("user_id"),
        quality.not_null("props"),
        quality.in_range("value", 0, 500),
        quality.in_set(
            "event_type", ["view", "click", "purchase", "like", "share"]
        ),
        quality.satisfies(
            "event_id_positive", F.col("event_id") > 0
        ),
    ]
    return quality.expectation_report(ev, exps)


def q_dq_referential_orphans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity check: event user_ids with no
    good-standing customer row (c_acctbal >= 0) — keys-only anti-join,
    broadcast-able parent side, non-empty violation set."""
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer").where(F.col("c_acctbal") >= 0)
    return quality.referential_violations(ev, "user_id", cust, "c_custkey")


def q_dq_unique_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uniqueness check demo on a non-key: customers with multiple
    orders (grouped keys-only scan)."""
    orders = _t(spark, sf_dir, "orders")
    return quality.unique_violations(orders, ["o_custkey"])


def q_exact_quantiles_sketched(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT order-statistic quantiles from a sketch-bracketed plan
    (operators/sketches.py:exact_quantiles): t-digest brackets, one
    verification scan, take-ordered only inside ~n/compression-row
    brackets — no total sort, bit-exact against DuckDB ORDER BY/OFFSET
    order statistics."""
    orders = _t(spark, sf_dir, "orders")
    return sketches.exact_quantiles(
        orders, "o_totalprice", [0.1, 0.5, 0.9, 0.99]
    )


def q_tdigest_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key approximate quantiles, two-level t-digest (rows-only:
    sketch).  Hot keys arrive at the merge as centroids, never rows
    (operators/sketches.py:tdigest_quantiles_by_key).  Driver evidence
    comes from ``tdigest_by_key_accuracy``."""
    ev = _t(spark, sf_dir, "events")
    return sketches.tdigest_quantiles_by_key(
        ev, "event_type", "value", [0.25, 0.5, 0.75, 0.95]
    )


_TDIGEST_PROBS = [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
_TDIGEST_KEY_PROBS = [0.25, 0.5, 0.75, 0.95]


def _rank_error_report(
    values: DataFrame, value_col: str, est: DataFrame, group_cols: list[str]
) -> DataFrame:
    """Rank-error audit of quantile estimates: for each estimate row,
    one distributed pass counts rows strictly below / at most the
    estimate, giving the estimate's true rank interval [lo, hi]; the
    rank error is the distance from p to that interval (0 when p falls
    inside — exact for repeated values).  The estimate set is tiny
    (keys x probs), so it broadcasts; the counting pass is a single
    map-side-combined aggregation over the data."""
    src = values.where(F.col(value_col).isNotNull())
    on = group_cols if group_cols else None
    joined = (
        src.join(F.broadcast(est), on=on)
        if on
        else src.crossJoin(F.broadcast(est))
    )
    x, q = F.col(value_col), F.col("quantile")
    return (
        joined.groupBy(*group_cols, "p", "quantile")
        .agg(
            F.sum(F.when(x < q, 1).otherwise(0)).alias("n_below"),
            F.sum(F.when(x <= q, 1).otherwise(0)).alias("n_at_most"),
            F.count("*").alias("n"),
        )
        .select(
            *group_cols,
            "p",
            F.greatest(
                F.col("n_below") / F.col("n") - F.col("p"),
                F.col("p") - F.col("n_at_most") / F.col("n"),
                F.lit(0.0),
            ).alias("rank_err"),
        )
    )


def q_tdigest_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic accuracy report for the t-digest sketch
    (VERDICT r3 #1c): per requested quantile, the EXACT order-statistic
    value (sketch-bracketed plan, independently recomputed by the
    oracle) plus a boolean pinning the t-digest estimate's true rank
    error under 2.5% — a conservative bound (measured worst 0.06% at
    sf0.01, Dunning-Ertl bound ~1% at the median for compression=100)
    that stays true under any input partitioning, so the hash is
    stable even though partition boundaries shape the digest."""
    li = _t(spark, sf_dir, "lineitem")
    est = sketches.tdigest_quantiles(li, "l_extendedprice", _TDIGEST_PROBS)
    err = _rank_error_report(
        li.select("l_extendedprice"), "l_extendedprice", est, []
    )
    exact = sketches.exact_quantiles(
        li, "l_extendedprice", _TDIGEST_PROBS
    ).select("p", F.col("quantile").alias("exact_quantile"))
    return exact.join(err, "p").select(
        "p",
        "exact_quantile",
        (F.col("rank_err") <= 0.025).alias("rank_err_within_2_5pct"),
    )


def q_tdigest_by_key_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key twin of ``tdigest_accuracy`` for the two-level t-digest:
    exact per-key order-statistic quantiles (rank = max(1, ceil(p*n)),
    window rank per key) plus the sketch's rank-error bound check."""
    ev = _t(spark, sf_dir, "events")
    est = sketches.tdigest_quantiles_by_key(
        ev, "event_type", "value", _TDIGEST_KEY_PROBS
    )
    err = _rank_error_report(
        ev.select("event_type", "value"), "value", est, ["event_type"]
    )
    vals = ev.where(F.col("value").isNotNull()).select("event_type", "value")
    w = Window.partitionBy("event_type").orderBy(F.col("value").asc())
    ranked = vals.withColumn("rn", F.row_number().over(w)).withColumn(
        "n", F.count("*").over(Window.partitionBy("event_type"))
    )
    probs = F.array(*[F.lit(p) for p in _TDIGEST_KEY_PROBS])
    exact = (
        ranked.withColumn("p", F.explode(probs))
        .where(
            F.col("rn")
            == F.greatest(F.lit(1), F.ceil(F.col("p") * F.col("n")))
        )
        .select("event_type", "p", F.col("value").alias("exact_quantile"))
    )
    return exact.join(err, ["event_type", "p"]).select(
        "event_type",
        "p",
        "exact_quantile",
        (F.col("rank_err") <= 0.025).alias("rank_err_within_2_5pct"),
    )


def q_tdigest_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable t-digest quantiles over lineitem prices (rows-only:
    approximate sketch, no exact oracle).  Bounded ≤~2·compression
    centroids per partition map-side; final merge moves only KBs
    (operators/sketches.py)."""
    li = _t(spark, sf_dir, "lineitem")
    return sketches.tdigest_quantiles(
        li, "l_extendedprice", [0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99]
    )


def q_purchase_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER time-bounded self-join, batch mode:
    purchases with no same-user view in the preceding 30 minutes emit
    null view columns (streaming twin with watermark-finalized null
    rows in tests/test_streaming.py)."""
    return purchase_view_attribution_outer(_t(spark, sf_dir, "events"))


def q_enrich_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11/A13 — deterministic-classifier enrichment over document text
    (pandas_udf batch path; oracle: the classifier is a pure function of
    the text, re-expressed in DuckDB lexicon SQL)."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.col("text")
    )
    return enrich_comments(docs, DeterministicClassifier(), text_col="text")


def q_pipeline_observability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A20 (progress reporting), engine-grade: Spark's Observation API
    accumulates stage metrics task-side DURING the consuming action —
    rows in, dropped-row candidates, byte volume — with zero extra
    scans, where the reference printed 'Processed i/n' from a driver
    loop (gold_sentiment_comments.py:85-86).  Empty texts are planted
    (doc_id % 50 == 0) so the drop path is exercised; the oracle
    recomputes the same aggregates in SQL."""
    d = _t(spark, sf_dir, "documents").withColumn(
        "text",
        F.when(F.col("doc_id") % 50 == 0, F.lit("")).otherwise(
            F.col("text")
        ),
    )
    obs_df, obs = observability.observed(
        d,
        "bronze_clean",
        {
            "rows_in": F.count(F.lit(1)),
            "empty_text": F.sum(
                F.when(
                    F.col("text").isNull() | (F.trim("text") == ""), 1
                ).otherwise(0)
            ),
            "total_chars": F.sum(F.length("text")),
        },
    )
    cleaned = obs_df.where(
        F.col("text").isNotNull() & (F.trim("text") != "")
    )
    rows_out = cleaned.count()  # the action that fills the observation
    m = obs.get
    return spark.createDataFrame(
        [
            (
                int(m["rows_in"]),
                int(m["empty_text"]),
                int(m["total_chars"]),
                int(rows_out),
            )
        ],
        "rows_in long, empty_text long, total_chars long, rows_out long",
    )


def q_upsample_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-style mixture with rates above AND below 1.0:
    low-resource languages replicate (de 3.0x, es/zh 2.5x), the head
    language holds (en 1.0x), one downsamples (fr 0.4x).  Deterministic
    hash-gated fractional copies — the oracle replays the identical
    integer arithmetic per (doc, copy) pair."""
    out = sampling.upsample_mixture(
        _t(spark, sf_dir, "documents"),
        strata_col="lang",
        rates={"de": 3.0, "en": 1.0, "es": 2.5, "fr": 0.4, "zh": 2.5},
        id_col="doc_id",
    )
    return out.select(
        "doc_id", "lang", F.col("copy_id").cast("long").alias("copy_id")
    )


def q_token_rarity_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail quality binning by mean corpus
    token frequency (integer ppm analog of LM perplexity binning);
    tercile cut points from a 1-row exact-percentile aggregate, never
    a global sort."""
    return text_mining.token_rarity_bins(_t(spark, sf_dir, "documents"))


def q_length_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample KS drift of the doc-length distribution
    between the lexicographically-first source and every other source
    — the numeric companion to `embedding_drift` (PSI): catches
    truncation bugs, boilerplate floods, error-page feeds.  Integer
    cross-multiplied ECDF difference, one `div` at the end; all
    post-count work runs on the (source, length) value-grain table."""
    return quality.ks_drift_report(
        _t(spark, sf_dir, "documents"), value_col="n_chars",
        group_col="source",
    )


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit per language: negated least-squares slope
    (milli-units) and R² (basis points) of log-freq vs log-rank over
    the top-1000 tokens — the standard first-look corpus diagnostic
    for machine-generated text / boilerplate floods / tokenizer
    damage.  Regression inputs are six integer partial sums per
    language; one final IEEE-deterministic double quotient."""
    return text_mining.zipf_fit_report(_t(spark, sf_dir, "documents"))


def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best dedup decision: near-dup clusters (connected components
    over the exact n-gram-Jaccard pair graph) keep their highest-
    quality-score member instead of the min id — the production keep
    policy.  Oracle: recursive-CTE clustering + the shared quality
    formula + the same (score desc, id asc) window."""
    docs = _t(spark, sf_dir, "documents")
    scored = docs.withColumn("quality", quality_score(F.col("text")))
    pairs = dedup.ngram_jaccard_pairs(docs)
    return dedup.dedup_keep_best(scored, pairs, score_col="quality")


def q_remove_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style span dedup rewrite: every 10-gram occurrence
    after the corpus-wide first masks its token positions; documents are
    rebuilt from surviving tokens.  The full rewritten text is
    hash-checked against a DuckDB replay of the same rank-and-mask."""
    return dedup.remove_repeated_spans(
        _t(spark, sf_dir, "documents"), n=10
    )


def q_boilerplate_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style cross-document line dedup: lines (here: 2-token chunks
    — the fixture has no newlines, and 2-token chunks over its ~30-word
    vocabulary actually repeat across documents, so the removal path is
    exercised) occurring in >= 10 distinct docs are boilerplate and
    drop from every document.  Oracle replays the chunking, the
    distinct-doc frequency, and the ordered reassembly."""
    d = _t(spark, sf_dir, "documents")
    d2 = d.select("doc_id", tokenize(F.col("text")).alias("_toks"))
    seq = F.sequence(
        F.lit(0).cast("long"), F.floor((F.size("_toks") - 1) / 2)
    )
    lines = F.transform(
        seq,
        lambda i: F.array_join(
            F.slice(F.col("_toks"), (i * 2 + 1).cast("int"), 2), " "
        ),
    )
    # localCheckpoint before the operator's posexplode: the chunking
    # transform captures the token array per index and Generate would
    # re-run it per emitted line (re-evaluation traps #2/#4, verify
    # skill) — measured 4.5 s -> ~1 s warm at sf0.1.
    with_lines = d2.select("doc_id", lines.alias("lines")).localCheckpoint()
    out = curation.remove_boilerplate_lines(with_lines, min_docs=10)
    return out.select(
        "doc_id",
        F.array_join("lines", " | ").alias("kept_text"),
        "n_lines_removed",
    )


def q_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source document cap (r11;
    operators/curation.py:cap_per_source): the Gopher/CommonCrawl
    anti-domination gate — at most 10 docs per source survive, chosen
    by the deterministic content-free hash order (md5 of the id), so
    the kept subset is a uniform sample invariant to partitioning and
    reruns.  One rank window on the source key; (id, source) on the
    exchange, never text.  Oracle replays the hash order and the rank
    verdict."""
    docs = _t(spark, sf_dir, "documents")
    return curation.cap_per_source(docs, cap=10)


def q_cap_per_source_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed per-source cap, batch twin (r12;
    streaming/docs_stream.py:cap_per_source_windowed — VERDICT r11
    #8): the crawl-frontier admission gate.  At most 3 docs admitted
    per (source, 1-hour tumbling ingest window), chosen by the same
    content-free (md5('cap:<id>'), id) order as cap_per_source, so
    the admitted set is arrival-order/partitioning/replay invariant —
    which is exactly what makes the STREAMING mode (bounded
    applyInPandasWithState, state = best-cap pairs per live group,
    emission at watermark close) oracle-checkable: stream/batch
    parity is pinned in test_streaming.py.  Ingest timestamps are
    synthesized arithmetically from doc_id (the fixture has no ts on
    documents): epoch-aligned instants, identical expression in the
    DuckDB twin."""
    from youtube_podcast_data_pipeline_azure_spark.streaming.docs_stream import (
        cap_per_source_windowed,
    )

    base_us = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.timestamp_micros(
            F.lit(base_us) + (F.col("doc_id") % 720) * F.lit(60_000_000)
        ).alias("ts"),
    )
    return cap_per_source_windowed(d, window_dur="1 hour", cap=3)


def q_cap_per_source_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase per-source cap (r12;
    operators/curation.py:cap_per_source_two_phase — the VERDICT r11
    #5b mitigation, registered as a first-class scale path): phase 1
    ranks within (source, xxhash64-bucket) and keeps each bucket's
    best `cap`, phase 2 ranks the ≤ buckets·cap survivors exactly —
    so a source owning 90% of a 100 TB crawl is never one executor's
    sort.  The admitted set and kept ranks are provably identical to
    cap_per_source (equivalence pinned in tests); eliminated rows
    carry NULL rank by contract, which the oracle replays with a CASE
    on the one-window rank."""
    docs = _t(spark, sf_dir, "documents")
    return curation.cap_per_source_two_phase(docs, cap=10, buckets=64)


def _paragraphs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``(doc_id, paras)`` over documents, where a paragraph is a
    3-token chunk — the grain every paragraph-dedup query shares."""
    d = _t(spark, sf_dir, "documents")
    d2 = d.select("doc_id", tokenize(F.col("text")).alias("_toks"))
    # sequence(0, -1) on a zero-token doc yields [0, -1] (implicit step
    # -1), i.e. two phantom empty paragraphs, while the oracle's
    # generate_series(0, -1) yields [] — guard the empty case.
    seq = F.when(
        F.size("_toks") > 0,
        F.sequence(
            F.lit(0).cast("long"), F.floor((F.size("_toks") - 1) / 3)
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    paras = F.transform(
        seq,
        lambda i: F.array_join(
            F.slice(F.col("_toks"), (i * 3 + 1).cast("int"), 3), " "
        ),
    )
    # localCheckpoint before the operators' posexplode (re-evaluation
    # traps #2/#4 — the boilerplate_lines precedent)
    return d2.select("doc_id", paras.alias("paras")).localCheckpoint()


def _kept_paragraphs(out: DataFrame) -> DataFrame:
    return out.select(
        "doc_id",
        F.array_join("paras", " | ").alias("kept_text"),
        "n_paras",
        "n_paras_removed",
    )


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma-style corpus-wide exact paragraph dedup, first occurrence
    survives (r11; operators/curation.py:dedup_paragraphs).
    Paragraphs here are 3-token chunks (the fixture has no newlines;
    3-token chunks repeat across documents, exercising both the
    within-doc and cross-doc removal paths — a different grain than
    boilerplate_lines' 2-token chunks, and DIFFERENT semantics: the
    canonical copy survives instead of every copy dropping).  Oracle
    replays the chunking, the integer occurrence-key min, and the
    ordered reassembly."""
    with_paras = _paragraphs(spark, sf_dir)
    out = curation.dedup_paragraphs(with_paras, paras_col="paras")
    return _kept_paragraphs(out)


def q_paragraph_registry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-occurrence paragraph registry (r12;
    operators/curation.py:paragraph_registry): the persisted state an
    incremental Dolma-style paragraph-dedup pass maintains — one row
    per distinct paragraph (3-token chunks, the paragraph_dedup grain)
    with its first (doc, pos) occurrence and repeat count.  Winner
    selection shares dedup_paragraphs' guarded integer occurrence key;
    min and count are commutative, so the SAME plan runs as an
    update-mode streaming aggregate with order-invariant convergence
    (parity in test_streaming.py).  Only (digest, long, long) cross
    the exchange; the oracle replays chunking, md5, min-key decode via
    integer div/mod, and the count."""
    with_paras = _paragraphs(spark, sf_dir)
    return curation.paragraph_registry(with_paras, paras_col="paras")


def q_paragraph_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental paragraph dedup against the persisted registry
    (r12; operators/curation.py:dedup_paragraphs_incremental): the
    even-id half of documents is the STANDING corpus — participating
    only as its paragraph_registry digest set, never re-chunked — and
    the odd-id half is the arriving shard.  A shard paragraph survives
    iff its digest is absent from the registry and it is the shard's
    own first occurrence (the guarded occurrence key).  Oracle replays
    the split, the registry digest set, the within-shard min, and the
    ordered reassembly."""
    with_paras = _paragraphs(spark, sf_dir)
    standing = with_paras.where(F.col("doc_id") % 2 == 0)
    arriving = with_paras.where(F.col("doc_id") % 2 == 1)
    reg = curation.paragraph_registry(standing, paras_col="paras")
    out = curation.dedup_paragraphs_incremental(arriving, reg, paras_col="paras")
    return _kept_paragraphs(out)


def q_paragraph_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING incremental paragraph dedup (r13, VERDICT r12 #8;
    streaming/sinks.py:incremental_paragraph_dedup_sink): the odd-id
    half of documents arrives as FOUR mtime-ordered shards
    (doc_id % 8 ∈ {1,3,5,7}) drained availableNow through the
    foreachBatch sink — each shard deduped against the persisted
    registry of the even-id standing corpus PLUS every earlier shard's
    landed delta, exactly-once via the _SUCCESS-guarded per-batch
    directories (batch 0 is hand-replayed to exercise the guard).  The
    oracle replays the shard sequence: a paragraph survives iff its
    digest is absent from the standing registry, its shard is the
    EARLIEST arriving shard holding it, and it is that shard's own
    first occurrence (the guarded key)."""
    import tempfile
    import time as _time

    from youtube_podcast_data_pipeline_azure_spark.streaming import sinks

    with_paras = _paragraphs(spark, sf_dir)
    standing = with_paras.where(F.col("doc_id") % 2 == 0)
    arriving = with_paras.where(F.col("doc_id") % 2 == 1)
    reg_path = tempfile.mkdtemp(prefix="spark_graft_pds_reg_")
    curation.paragraph_registry(standing, paras_col="paras").write.mode(
        "overwrite"
    ).parquet(reg_path)
    src = tempfile.mkdtemp(prefix="spark_graft_pds_src_")
    out = tempfile.mkdtemp(prefix="spark_graft_pds_out_")
    ckpt = tempfile.mkdtemp(prefix="spark_graft_pds_ckpt_")
    for shard_idx in range(4):
        arriving.where(
            F.pmod(F.col("doc_id"), F.lit(8)) == 2 * shard_idx + 1
        ).coalesce(1).write.mode("append").parquet(src)
        _time.sleep(1.05)  # distinct mtimes: file order IS shard order
    sink = sinks.incremental_paragraph_dedup_sink(reg_path, out)
    q = (
        spark.readStream.schema("doc_id long, paras array<string>")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    # simulate the failure-replay path: re-deliver batch 0 in full — the
    # committed-batch guard must make it a no-op or the oracle mismatches
    sink(arriving.where(F.pmod(F.col("doc_id"), F.lit(8)) == 1), 0)
    back = spark.read.parquet(out + "/kept")
    return _kept_paragraphs(back)


def q_minhash_index_delete_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GDPR delete + vacuum on the persisted MinHash band index (r13;
    operators/dedup.py:minhash_index_delete/minhash_index_vacuum):
    build the standing index, TOMBSTONE every corpus doc with
    doc_id%7==0 (merge-on-read — no rewrite; the band table's range
    clustering scatters one doc across every file, so physical
    per-delete rewrites are the pathology delete_by_key avoids on
    partitioned sinks), then VACUUM (physical fold + re-cluster +
    tombstone clear) and probe the arriving batch.  Tombstone-probe ==
    vacuum-probe == rebuild-without-deleted is pinned in
    tests/test_dedup_similarity.py; the oracle is the exact-Jaccard
    pair truth over the corpus MINUS the deleted docs."""
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 5 != 0)
    path = tempfile.mkdtemp(prefix="spark_graft_mhdel_")
    dedup.minhash_index_write(corpus, path)
    dedup.minhash_index_delete(
        corpus.where(F.col("doc_id") % 7 == 0).select("doc_id"), path
    )
    dedup.minhash_index_vacuum(spark, path)
    out = dedup.near_dup_from_minhash_index(
        docs.where(F.col("doc_id") % 5 == 0), spark, path
    )
    return out.select(
        "in_id", "corpus_id", F.round("jaccard", 4).alias("jaccard")
    )


def q_paragraph_registry_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Associative registry merge (r13;
    operators/curation.py:merge_paragraph_registries): build the
    paragraph registry independently over three doc_id%3 shards of
    documents, then fold them — the compaction primitive for the
    streaming sink's per-batch deltas.  The oracle is the FULL-corpus
    registry SQL verbatim: merge(shard registries) must be bit-equal
    to one recompute over everything (min of re-encoded occurrence
    keys + summed counts are commutative monoids)."""
    with_paras = _paragraphs(spark, sf_dir)
    regs = [
        curation.paragraph_registry(
            with_paras.where(F.pmod(F.col("doc_id"), F.lit(3)) == k),
            paras_col="paras",
        )
        for k in range(3)
    ]
    return curation.merge_paragraph_registries(*regs)


def _corpus_runs(d: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Two deterministic curation 'runs' derived from documents for the
    corpus-versioning queries (r13): run 1 is the corpus as-is; run 2
    drops ids %17=0 (evicted), edits text on %13=0 (re-filtered), moves
    %23=0 to source 'remix', and admits %19=0 re-keyed (+1e7) under
    source 'synthetic' (newly crawled)."""
    old = d.select("doc_id", "source", "text")
    surv = old.where(F.col("doc_id") % 17 != 0)
    new = surv.select(
        "doc_id",
        F.when(F.col("doc_id") % 23 == 0, F.lit("remix"))
        .otherwise(F.col("source"))
        .alias("source"),
        F.when(
            F.col("doc_id") % 13 == 0,
            F.concat(F.col("text"), F.lit(" [r2]")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    ).unionByName(
        old.where(F.col("doc_id") % 19 == 0).select(
            (F.col("doc_id") + F.lit(10_000_000)).alias("doc_id"),
            F.lit("synthetic").alias("source"),
            "text",
        )
    )
    return old, new


def q_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-run corpus versioning (r13, VERDICT r12 #7;
    operators/quality.py:corpus_diff): doc-grain added/removed/changed
    between two curation runs, compared via content fingerprints so the
    full-outer join ships ids + one long per side — text never
    shuffles.  The two runs are derived deterministically from
    documents (see _corpus_runs); the oracle replays the derivation
    and the null-safe (source, text) comparison directly."""
    old, new = _corpus_runs(_t(spark, sf_dir, "documents"))
    return quality.corpus_diff(old, new)


def q_corpus_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source churn rollup between two curation runs (r13;
    operators/quality.py:corpus_churn): run sizes, the four change
    counts, and the exact integer churn rate per source — the
    promotion-gate report.  Source moves bucket under the NEW source;
    churn_permille is pure integer arithmetic (oracle-reproducible
    bit-for-bit)."""
    old, new = _corpus_runs(_t(spark, sf_dir, "documents"))
    return quality.corpus_churn(old, new)


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup: deterministic k-means buckets,
    within-cluster cosine, drop-if-lower-id-neighbor.  Oracle-checked
    bit-for-bit like embedding_clusters — the DuckDB twin replays the
    same two Lloyd iterations as CTEs, the same 6dp-rounded argmax
    assignment, the same in-cluster pair test.

    Threshold 0.3: fixture embeddings are random unit vectors (max
    pairwise cosine ≈ 0.51 at sf0.01), so a production 0.95 would
    drop nothing; 0.3 exercises collapse, bucketing, pair join, and
    the drop rule.

    n_centroids=None → the operator sizes the quantizer to the
    DISTINCT vector count (/250, floor 8) so expected cluster size —
    and with it the in-cluster quadratic term — stays constant as
    unique content grows, while duplicated mass never inflates k
    (replicas collapse before training).  At every oracle-checked sf
    this resolves to 8, matching the static LIMIT 8 Lloyd init in the
    DuckDB twin."""
    return similarity.semantic_dedup(
        _t(spark, sf_dir, "embeddings"),
        n_centroids=None,
        iters=2,
        train_sample=1024,
        cosine_threshold=0.3,
    )


def q_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-bloom-pruned semi-join: orders of high-balance customers.
    The bloom bitmap (a 2 KB plan literal) filters the fact scan before
    the join exchange; the exact verify makes the output bit-identical
    to a plain semi-join — which is exactly what the oracle runs."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000)
    orders = _t(spark, sf_dir, "orders")
    dimk = cust.select(F.col("c_custkey").alias("o_custkey"))
    kept = bloom.bloom_semi_join(orders, dimk, "o_custkey")
    return kept.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.floor(F.col("o_totalprice") * 100).cast("long")).alias(
            "revenue_cents"
        ),
    )


def q_bloom_prune_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter effectiveness report at a DELIBERATELY undersized
    filter (m=256 bits, k=2) so the false-positive path is exercised:
    the md5-probe bit arithmetic is deterministic, so even the
    false-positive count hash-matches a DuckDB twin replaying the same
    bitmap build and probes — the approximate contract itself is
    oracle-checked, like embedding_near_dup."""
    cust = _t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 9000)
    orders = _t(spark, sf_dir, "orders")
    dimk = cust.select(F.col("c_custkey").alias("o_custkey"))
    return bloom.bloom_prune_report(
        orders, dimk, "o_custkey", m_bits=256, k_hashes=2,
        hash_scheme="md5",  # the DuckDB-replayable probe seam
    )


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------


def q_enrich_video_titles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12/A13 — video-mode enrichment: struct with array fields
    (emotions<=5, topics<=8) appended to each title row; exercises the
    arrays-from-UDF schema path.  Oracle-backed: the md5-derived emotion
    picks equal DuckDB md5_number_upper arithmetic."""
    videos = q_videos_bronze_to_silver(spark, sf_dir).select(
        "video_id", "title"
    )
    out = enrich_videos(videos, DeterministicClassifier(), text_col="title")
    return out.select(
        "video_id",
        "sentiment",
        F.array_join("emotions", "|").alias("emotions_csv"),
        F.size("emotions").cast("long").alias("n_emotions"),
        F.size("topics").cast("long").alias("n_topics"),
    )


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain-grain crawl-mixture table (VERDICT r7 #7): URLs are
    planted deterministically over the documents table (the pii_scan
    pattern — the fixture has no url column, so the query synthesizes
    messy crawl URLs it must then canonicalize: mixed-case schemes and
    hosts, default ports, tracking params, shuffled query order,
    trailing slashes, fragments), normalized by functions/url.py, and
    rolled up per domain: docs, distinct logical pages, URL-recrawl
    rate, token share (operators/curation.py:domain_mix_report).  The
    oracle replays the identical synth + normalization from the same
    regex constants."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    qs = F.element_at(
        F.array(
            F.lit("?utm_source=feed&b=2&a=1"),
            F.lit("?a=1&b=2&utm_campaign=x"),
            F.lit("?b=2&a=1"),
            F.lit(""),
        ),
        (d % 4 + 1).cast("int"),
    )
    frag = F.when(d % 7 == 0, F.lit("#frag")).otherwise(F.lit(""))
    url = F.concat(*_planted_url_parts(d), qs, frag)
    return curation.domain_mix_report(docs.withColumn("url", url))


def _planted_url_parts(d: Column) -> list[Column]:
    """Scheme, host, port and path of the messy crawl URL planted on
    document ``d`` (domain_mix and domain_blocklist share them)."""
    host = F.element_at(
        F.array(
            F.lit("www.Example.COM"),
            F.lit("docs.example.com"),
            F.lit("News.Site.org"),
            F.lit("cdn.assets.net"),
        ),
        (d % 4 + 1).cast("int"),
    )
    scheme = F.when(d % 3 == 0, F.lit("HTTPS://")).otherwise(F.lit("http://"))
    port = F.when(
        d % 5 == 0,
        F.when(d % 3 == 0, F.lit(":443")).otherwise(F.lit(":80")),
    ).otherwise(F.lit(""))
    path = F.concat(
        F.lit("/p/"),
        (d % 40).cast("string"),
        F.when(d % 2 == 0, F.lit("/")).otherwise(F.lit("")),
    )
    return [scheme, host, port, path]


def q_turn_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-turn-level dedup (VERDICT r7 #7): fixed-width token
    turns (the fixture has no turn delimiters; width 4 so the 31-token
    vocabulary actually produces cross-document verbatim turns),
    md5-fingerprinted, corpus-wide keep-first by (id, turn index), each
    document rebuilt from its surviving turns via the retry-safe
    sort_array(collect_list(struct)) reassembly
    (operators/curation.py:turn_dedup).  Deterministic end to end, so
    the oracle replays the rewrite bit-for-bit."""
    return curation.turn_dedup(
        _t(spark, sf_dir, "documents"), turn_tokens=4
    )


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher rule-based quality report (r9; Rae et al. 2021 §A1.1 via
    operators/curation.py:gopher_quality_report).  The fixture is
    single-line prose, so rule-triggering shapes are planted
    deterministically (the domain_mix synth pattern): bullets on
    doc_id%11, trailing ellipsis on %13, symbol spam on %17, and a
    stopword-rich clause on %19 so the stop-hit and keep=true branches
    are all exercised.  The oracle replays the identical synth and the
    integer deci/permille formulas from the same constants."""
    return curation.gopher_quality_report(_gopher_planted_docs(spark, sf_dir))


def _gopher_planted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents with the Gopher rule-triggering shapes planted
    (gopher_quality and gopher_rule_attribution share them)."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    t = F.col("text")
    text2 = (
        F.when(d % 11 == 0, F.concat(F.lit("- "), t))
        .when(d % 13 == 0, F.concat(t, F.lit("...")))
        .when(d % 17 == 0, F.concat(t, F.lit(" # ## ### ####")))
        .when(
            d % 19 == 0,
            F.concat(
                t, F.lit(" the cat and the dog have fun with that wool.")
            ),
        )
        .otherwise(t)
    )
    return docs.withColumn("text", text2)


def q_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4 line-rule cleaning + rebuild (r9; Raffel et al. 2020 §2.2 via
    operators/curation.py:c4_line_filter).  The fixture has no
    newlines, so each doc is re-lined deterministically (6-token
    lines); even docs get terminal periods per line (the keep path),
    doc_id%5 plants a javascript line and %7 a cookie line (the ban
    path, lines that would otherwise pass).  The oracle replays the
    identical re-lining and rules."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    lined = _six_token_lines(F.col("text"))
    lined = F.when(
        d % 2 == 0,
        F.concat(F.replace(lined, F.lit("\n"), F.lit(".\n")), F.lit(".")),
    ).otherwise(lined)
    lined = F.when(
        d % 5 == 0,
        F.concat(F.lit("please enable javascript to view this.\n"), lined),
    ).otherwise(lined)
    lined = F.when(
        d % 7 == 0,
        F.concat(F.lit("we use cookie tracking here.\n"), lined),
    ).otherwise(lined)
    return curation.c4_line_filter(docs.withColumn("text", lined))


def _six_token_lines(text: Column) -> Column:
    """``text`` re-lined as newline-joined 6-token lines (the fixture
    has no newlines)."""
    toks = F.split(text, " ")
    idx = F.sequence(
        F.lit(0), ((F.size(toks) - F.lit(1)) / F.lit(6)).cast("int")
    )
    return F.array_join(
        F.transform(
            idx, lambda i: F.array_join(F.slice(toks, i * 6 + 1, 6), " ")
        ),
        "\n",
    )


def q_text_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode canonicalization pass (r9;
    functions/text.py:normalize_text).  Typographic noise — curly
    quotes, em dashes, ellipsis, NBSP, zero-width space, control char,
    tab runs — is planted deterministically around the fixture text,
    then normalized away; output records both lengths so the oracle
    hash pins exactly what was removed.  The SQL twin is generated
    from the same NORMALIZE_STEPS table."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    nbsp = F.expr("chr(160)")        # U+00A0 (invisibles built via
    zwsp = F.expr("chr(8203)")       # U+200B  chr() so no unreadable
    ctl = F.expr("chr(1)")           # U+0001  bytes hide in source)
    prefix = F.element_at(
        F.array(
            F.lit("“Quote” — "),
            F.lit("‘q’… "),
            F.concat(nbsp, nbsp, F.lit("lead ")),
            F.lit(""),
        ),
        (d % 4 + 1).cast("int"),
    )
    suffix = F.element_at(
        F.array(
            F.lit(" tail…"),
            F.concat(F.lit(" zero"), zwsp, F.lit("width")),
            F.concat(F.lit(" ctl"), ctl, F.lit("x")),
            F.lit("  \t spaced"),
            F.lit(""),
        ),
        (d % 5 + 1).cast("int"),
    )
    messy = F.concat(prefix, F.col("text"), suffix)
    staged = docs.select(F.col("doc_id"), messy.alias("_messy"))
    return staged.select(
        "doc_id",
        F.length("_messy").cast("long").alias("n_chars_before"),
        normalize_text(F.col("_messy")).alias("text_norm"),
    ).select(
        "doc_id",
        "n_chars_before",
        F.length("text_norm").cast("long").alias("n_chars_after"),
        "text_norm",
    )


def q_minhash_band_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding design table (r9;
    operators/dedup.py:minhash_band_tuning): candidate probability
    1−(1−s^r)^b on a permille similarity grid for the engine's
    (bands, rows) design points — computed as sequential IEEE multiply
    folds so both engines agree bit-for-bit (no libm pow).  Pure
    literal arithmetic, no table scan: this is the planning step that
    sizes minhash_lsh_pairs BEFORE a 100-TB run."""
    return dedup.minhash_band_tuning(spark)


def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization code assignment (r9; Jégou et al. 2011 via
    operators/similarity.py:pq_train/pq_codes): 4 subspaces × 8
    centroids trained with 2 integer-exact Lloyd iterations on the
    full embedding table (lowest-id init, train_sample=None is the
    oracle's explicit full-corpus opt-in), every vector coded by
    subspace-argmin.  All arithmetic is micro-unit int64, so the
    oracle retrains the identical codebooks as CTEs and the code
    words hash-match exactly.

    Registered shape is the EXPLODED (vec_id, m, code) long form —
    one row per subspace — because the driver's pandas canonicalizer
    cannot sort an array<int> column (the r9 ``unhashable type:
    'list'`` miss); the Python API (similarity.pq_codes) keeps the
    (vec_id, codes array<int>) form."""
    emb = _t(spark, sf_dir, "embeddings")
    cb = similarity.pq_train(emb, train_sample=None)
    return similarity.pq_codes(emb, cb).select(
        "vec_id", F.posexplode("codes").alias("m", "code")
    )


def q_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-10 (r9;
    operators/similarity.py:pq_ann): codebooks trained on the corpus
    split (vec_id ≥ 5, the knn_bruteforce convention), queries are the
    first 5 vectors kept exact, distance is the broadcast integer-LUT
    ADC sum.  Exact integers end-to-end — the oracle replays training,
    coding, LUT, and ranking."""
    corpus, queries = _knn_split(spark, sf_dir)
    cb = similarity.pq_train(corpus, train_sample=None)
    return similarity.pq_ann(corpus, queries, cb, k=10)


def q_pq_ann_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ index persistence roundtrip (r9 close — the fourth member of
    the build-once family after knn_ivf_persisted,
    exact_substring_spans_persisted, and bm25_search_persisted): train
    + code the corpus ONCE, persist codes + long-form codebooks, load
    both back, and rank the same query workload from the LOADED index
    through the identical ADC core
    (operators/similarity.py:pq_index_write/pq_ann_from_index).
    Oracle: the pq_ann SQL — loaded-index ranking must be
    hash-identical to the in-plan construction."""
    import tempfile

    corpus, queries = _knn_split(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="spark_graft_pq_")
    similarity.pq_index_write(corpus, path, train_sample=None)
    return similarity.pq_ann_from_index(spark, path, queries, k=10)


def q_knn_ivfpq_exhaustive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with nprobe = n_centroids (r9 close): the coarse
    quantizer admits every list, so the composition must equal plain
    pq_ann bit-for-bit — certifying the coarse assignment, probe
    ranking, code plumbing, and ADC join exactly the way
    knn_ivf_exhaustive certifies IVF-Flat.  Oracle: the pq_ann SQL."""
    corpus, queries = _knn_split(spark, sf_dir)
    return similarity.knn_ivfpq(
        corpus, queries, k=10, n_centroids=16, nprobe=16,
        train_sample=None,
    )


def q_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ at the production dial (r9 close): nprobe=4 of 16 lists,
    ADC scoring over PQ codes — the FAISS-default composition and THE
    standard 100-TB ANN layout (vector bytes never shuffle; candidates
    carry four integers).  nprobe < n_centroids trades recall for
    latency by contract, so this is a rows-only check; the composition
    is certified by knn_ivfpq_exhaustive's hash-matched twin (and the
    coarse/fine parts separately by knn_ivf_exhaustive / pq_codes /
    pq_ann)."""
    corpus, queries = _knn_split(spark, sf_dir)
    return similarity.knn_ivfpq(
        corpus, queries, k=10, n_centroids=16, nprobe=4,
        train_sample=None,
    )


def q_ivfpq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the IVF-PQ composition at a lossy dial (r10;
    operators/similarity.py:ivfpq_recall_report) — nprobe=2 of 8
    coarse cells, 4×8 PQ codes — against exact brute-force cosine:
    the audit evidence knn_ivfpq's production dial ships with,
    completing the recall-report family (ann_recall covers IVF-Flat).
    Fully SQL-replayable: float Lloyd coarse training (the ann_recall
    CTE chain), integer PQ training (the pq_codes CTE chain,
    'pq'-prefixed to compose), round-6 probe ranking, integer ADC
    scoring, round-4 exact ranking — every tie-break total."""
    corpus, queries = _knn_split(spark, sf_dir)
    return similarity.ivfpq_recall_report(
        corpus, queries, k=10, n_centroids=8, nprobe=2, iters=2,
        m_subspaces=4, k_centroids=8, train_sample=None,
    )


def q_nb_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NB quality-filter operating-point table (r10;
    operators/curation.py:nb_threshold_curve): train on the labeled
    slice (doc_id%3 != 0, label = lang=='en' — the
    nb_quality_classifier fixture convention), score the held-out
    slice, and report yield/precision/recall at every cutoff of the
    micro-log-odds grid — the table a seed-set filter is tuned from
    before committing a cutoff to a 100-TB run.  One scoring pass +
    one conditional aggregate; integer permille end-to-end, so the
    oracle retrains, rescores, and re-aggregates bit-for-bit."""
    labeled, held_out = _nb_split(spark, sf_dir)
    eval_docs = held_out.withColumn("label", F.col("lang") == "en")
    return curation.nb_threshold_curve(labeled, eval_docs)


def q_nb_reliability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NB filter reliability/calibration table (r11;
    operators/curation.py:nb_reliability_table): the held-out labeled
    slice rank-binned into 10 exact-percentile score bins, each
    reporting size, empirical positive rate (permille), and score
    range — the monotonicity read a seed-set filter gets BEFORE a
    cutoff from nb_threshold_curve is trusted (reliability diagrams,
    rank-binned so every number is integer-exact).  Same fixture
    convention as nb_threshold_curve (train doc_id%3 != 0, eval %3
    == 0, label = lang=='en'); one scoring pass + a 1-row percentile
    aggregate + a 10-row aggregate."""
    labeled, held_out = _nb_split(spark, sf_dir)
    eval_docs = held_out.withColumn("label", F.col("lang") == "en")
    return curation.nb_reliability_table(labeled, eval_docs, n_bins=10)


def q_embedding_dim_truncation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka dimension-truncation recall table (r10;
    operators/similarity.py:dim_truncation_report): exact cosine
    top-10 over the first 16/32/64 vector components vs the full
    64-dim top-10, per query, in integer basis points — the
    memory/IO-halving dial a 100-TB ANN index is sized with.  One
    corpus pass scores every truncation; the knn_bruteforce round-4 /
    id-asc tie contract makes every ranking SQL-replayable."""
    corpus, queries = _knn_split(spark, sf_dir)
    return similarity.dim_truncation_report(
        corpus, queries, k=10, dims=(16, 32, 64)
    )


def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric shingle-containment near-dup join (r10;
    operators/dedup.py:containment_pairs): the fixture plants a
    12-token "quote" document (doc_id + 100000) for every doc_id%7==0
    original — a subset duplicate whose Jaccard vs its source is low
    but whose containment is 1.0 — and the lossless asymmetric prefix
    filter must recover every ordered pair with containment >= 0.8.
    Oracle is the INDEPENDENT O(n²) brute force (all ordered pairs,
    exact list_intersect ratio) — certifying the prefix filter's
    losslessness, not replaying it."""
    return dedup.containment_pairs(_quote_corpus(spark, sf_dir), threshold=0.8)


def _quote_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents plus a 12-token "quote" doc (doc_id + 100000) for
    every doc_id%7==0 original (containment_pairs/_dedup share it)."""
    docs = _t(spark, sf_dir, "documents")
    quotes = docs.where(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.array_join(
            F.slice(F.split(F.col("text"), " "), 1, 12), " "
        ).alias("text"),
    )
    corpus = docs.select("doc_id", "text").unionByName(quotes)
    return corpus


def q_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment keep-one verdicts (r10;
    operators/dedup.py:containment_dedup) over the same planted-quote
    corpus as containment_pairs: every quote doc must drop with
    ``contained_in`` pointing at its (larger) source; sources and
    unrelated docs keep.  Dominance = strict (|sh|, −id) order, so
    mutual-containment groups keep exactly one survivor.  Oracle is
    the same independent brute-force pair base + the dominance pick
    replayed in SQL."""
    return dedup.containment_dedup(_quote_corpus(spark, sf_dir), threshold=0.8)


def q_streaming_quality_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus-quality monitor (r10;
    streaming/docs_stream.py:quality_monitor), batch mode: the fused
    quality_signals vector rolled up to (lang, n_docs, n_gopher_keep,
    mean_quality_bp, n_pii_docs) — the same expression runs as a
    complete-mode streaming aggregate with O(languages) state
    (stream/batch parity in test_streaming.py).  mean is the integer
    floor(quality·1e4)-sum division, order-independent, so the oracle
    replays it over the quality_signals twin."""
    from youtube_podcast_data_pipeline_azure_spark.streaming.docs_stream import quality_monitor

    return quality_monitor(_t(spark, sf_dir, "documents"))


def q_knn_sq8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage int8-quantized ANN (r10;
    operators/similarity.py:knn_sq8_rerank): coarse candidates from an
    INTEGER dot product over per-vector symmetric int8 codes (the
    embedding_quantization arithmetic — 4× less scan bandwidth at
    100 TB), exact-cosine rerank of the top-32 per query.  Every stage
    is deterministic (floor quantization, integer coarse scores,
    row_number tie-breaks), so the oracle replays the full composition
    rather than checking a recall claim; rerank ≥ |corpus| equals
    knn_bruteforce bit-for-bit (pinned in tests)."""
    corpus, queries = _knn_split(spark, sf_dir)
    return similarity.knn_sq8_rerank(corpus, queries, k=10, rerank=32)


def q_image_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash image near-dup (r10;
    operators/multimodal.py:ahash_images + image_near_dup_pairs, join
    core shared with simhash at operators/dedup.py:hamming_pairs).
    7×7 raw-RGB payloads synthesized from ten md5 digests of the doc
    text (the media_thumbnails generator pattern), with planted exact
    twins (doc_id % 11, identical payload → Hamming 0) and one-byte
    perturbations (doc_id % 7, first byte zeroed → small Hamming).
    The REAL numpy decode→luma→49-bit aHash kernel runs in one
    mapInPandas pass; only 8-byte hashes leave the scan; the pigeonhole
    block join is lossless, certified by an INDEPENDENT brute-force
    bit_count(xor) oracle twin that replays the hash from the digest
    bytes.  49 bits (12-bit chunks) rather than 36 (9-bit): block-join
    candidates scale as blocks·n²/2^(bits/blocks) — the 36-bit form
    measured 3.1× wall on the 10× bench corpus, 49-bit stays
    collision-sparse (the audio_near_dup sizing rule).

    NO spread() here (optimization r14, measured): fanning the tiny
    asset table across 32 partitions made the mapInPandas kernel pass
    SLOWER (1.36 s vs 0.89 s — 32 Python worker streams + per-partition
    Arrow setup dominate 1.5k rows), unlike the pure-JVM expression
    pipelines where spread() wins; at scale media scans are multi-split
    already and the kernel parallelism comes from the source."""
    assets = _planted_media_assets(
        spark, sf_dir, "image", ["", "x", "y", "z", "w", "v", "u", "t", "s", "r"], 294
    ).withColumns({"width": F.lit(7), "height": F.lit(7)})
    pairs = multimodal.image_near_dup_pairs(assets, grid=7, max_hamming=3)
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def _planted_media_assets(
    spark: SparkSession, sf_dir: str, modality: str, salts: list[str], n_hex: int
) -> DataFrame:
    """``(asset_id, modality, payload)`` media assets whose payload is
    the first ``n_hex`` hex digits of md5 digests of the doc text, one
    per salt, with planted exact twins (doc_id % 11, id + 1e6) and
    first-byte perturbations (doc_id % 7, id + 2e6)."""
    hs = F.concat(
        *[
            F.md5(F.concat(F.col("text"), F.lit(s))) if s else F.md5("text")
            for s in salts
        ]
    )
    if n_hex < 32 * len(salts):
        hs = F.substring(hs, 1, n_hex)
    hx = _t(spark, sf_dir, "documents").select("doc_id", hs.alias("hs"))
    variants = (
        hx.select(F.col("doc_id").alias("asset_id"), "hs")
        .unionByName(
            hx.where(F.col("doc_id") % 11 == 0).select(
                (F.col("doc_id") + 1000000).alias("asset_id"), "hs"
            )
        )
        .unionByName(
            hx.where(F.col("doc_id") % 7 == 0).select(
                (F.col("doc_id") + 2000000).alias("asset_id"),
                F.concat(
                    F.lit("00"), F.expr(f"substring(hs, 3, {n_hex - 2})")
                ).alias("hs"),
            )
        )
    )
    return variants.select(
        "asset_id",
        F.lit(modality).alias("modality"),
        F.unhex("hs").alias("payload"),
    )


#: Demo domain blocklist shared by q_domain_blocklist and its oracle —
#: matches two of the four planted domain_mix hosts (example.com via
#: both the exact and the docs. subdomain forms, site.org via the
#: News.Site.org host), leaving cdn.assets.net kept.
_BLOCKLIST_DOMAINS = ("example.com", "site.org")


def q_domain_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1/C4-style domain-blocklist verdicts (r10;
    operators/curation.py:domain_blocklist_report) over the SAME
    planted crawl URLs as domain_mix: registrable domain + every
    parent-domain label suffix tested against a literal blocklist with
    ``arrays_overlap`` — scan-fused, ZERO shuffles/joins (the bounded
    curated-list path; the web-scale DataFrame path is the same
    contract via broadcast semi-join, unit-tested).  The oracle replays
    the URL synth, the url.py domain twin, and the suffix test."""
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(*_planted_url_parts(F.col("doc_id")))
    return curation.domain_blocklist_report(
        docs.withColumn("url", url), list(_BLOCKLIST_DOMAINS)
    )


def q_audio_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio-fingerprint near-dup (r10;
    operators/multimodal.py:audio_fingerprint + audio_near_dup_pairs,
    join core shared via operators/dedup.py:hamming_pairs).  64-sample
    s16le PCM payloads synthesized from eight md5 digests (the
    media_audio_stats generator pattern) with planted exact twins
    (doc_id % 11) and first-byte perturbations (doc_id % 7); the REAL
    numpy decode→energy-delta 32-bit fingerprint kernel runs in one
    mapInPandas pass, PCM bytes never shuffle, and the independent
    brute-force oracle twin recomputes the fingerprint from the digest
    bytes and lists all pairs at bit_count(xor) <= 3.  48-bit
    fingerprints (12-bit chunks): the block join's candidate volume is
    blocks·n²/2^(bits/blocks), so width grows with log(corpus) — at
    32 bits the 10× bench corpus measured 10.3× wall from chunk
    collisions; at 48 the join stays collision-sparse."""
    assets = _planted_media_assets(
        spark, sf_dir, "audio", ["", "a", "b", "c", "d", "e", "f", "g"], 256
    )
    pairs = multimodal.audio_near_dup_pairs(assets, n_bits=48, max_hamming=3)
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


def q_gopher_rule_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-rule Gopher kill attribution (r10;
    operators/curation.py:gopher_rule_attribution) over the SAME
    planted corpus as gopher_quality: for each of the seven rules, the
    docs failing it and the docs it kills ALONE (the relax-this-rule
    recovery count) — the report a rule set is tuned from before a
    100 TB pass.  One scan + one conditional aggregate; the oracle
    composes per-rule fail flags over the gopher_quality twin, so the
    signal arithmetic is shared verbatim."""
    return curation.gopher_rule_attribution(_gopher_planted_docs(spark, sf_dir))


def q_streaming_near_dup_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash band-index persistence roundtrip (r10 — the fifth
    build-once index after IVF lists, PQ codebooks, suffix ranks and
    BM25 postings): fingerprint + band the standing corpus ONCE
    (operators/dedup.py:minhash_index_write — range-clustered band
    table, shingle sets, 1-row parameter meta), then probe the LOADED
    index with the same arriving batch as streaming_near_dup, banding
    parameters taken from the recorded meta.  Oracle: the
    streaming_near_dup SQL — the loaded-index pair set must be
    hash-identical to the in-plan construction."""
    import tempfile

    docs = _t(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="spark_graft_mh_")
    dedup.minhash_index_write(docs.where(F.col("doc_id") % 5 != 0), path)
    out = dedup.near_dup_from_minhash_index(
        docs.where(F.col("doc_id") % 5 == 0), spark, path
    )
    return out.select(
        "in_id", "corpus_id", F.round("jaccard", 4).alias("jaccard")
    )


def q_pack_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packed-sequence materialization (r10;
    operators/sampling.py:pack_documents): the pack_sequences bins
    turned into actual dataloader text — id-ordered concat within each
    per-source 2048-token bin via the retry-safe
    sort_array(collect_list(struct)) rebuild.  Per-bin state is
    bounded by the token budget.  The oracle replays the window + an
    ORDER BY string_agg."""
    docs = _t(spark, sf_dir, "documents").select(
        "source", "doc_id", "text", word_count("text").alias("tok")
    )
    return sampling.pack_documents(
        docs, text_col="text", token_count_col="tok",
        group_col="source", budget=2048,
    )


#: Name-part pools shared by q_entity_resolution and its oracle.
_ER_FIRST = (
    "maria", "james", "wei", "aisha", "ivan", "chloe", "raj",
    "nina", "omar", "lucas", "sofia", "emma", "noah",
)
_ER_LAST = (
    "garcia", "smith", "chen", "okafor", "petrov", "dubois",
    "patel", "rossi", "kim", "novak", "silva",
)


def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Record linkage / entity resolution (r10;
    operators/dedup.py:record_linkage_pairs + resolve_entities):
    person-ish names synthesized from shared part pools over the
    customer keys, with planted mid-name typos (%7, third char
    dropped — survives the 2-char prefix block) and exact duplicates
    (%11).  Blocked candidates (prefix + margin-lossless length bands)
    verify with exact levenshtein ≤ 2, the match graph collapses to
    connected-component entity ids.  The oracle replays synth,
    blocking, levenshtein, and the recursive-CTE components."""
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    name = F.concat(
        F.element_at(
            F.array(*[F.lit(s) for s in _ER_FIRST]), (k % 13 + 1).cast("int")
        ),
        F.lit(" "),
        F.element_at(
            F.array(*[F.lit(s) for s in _ER_LAST]),
            (F.expr("c_custkey div 13") % 11 + 1).cast("int"),
        ),
    )
    named = cust.select(k.alias("record_id"), name.alias("name"))
    recs = (
        named.unionByName(
            named.where(F.col("record_id") % 7 == 0).select(
                (F.col("record_id") + 1000000).alias("record_id"),
                F.concat(
                    F.substring("name", 1, 2), F.expr("substring(name, 4)")
                ).alias("name"),
            )
        )
        .unionByName(
            named.where(F.col("record_id") % 11 == 0).select(
                (F.col("record_id") + 2000000).alias("record_id"), "name"
            )
        )
    )
    return dedup.resolve_entities(recs, max_edits=2)


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard content checksums (r10;
    operators/sampling.py:shard_manifest) over the same 8-shard
    training_shards layout: n_rows + order-independent md5-int56 XOR +
    low-20-bit multiplicity sum per shard — the manifest a rebuild is
    verified against.  Oracle replays the Knuth shard hash and the
    fingerprint aggregate."""
    return sampling.shard_manifest(
        _t(spark, sf_dir, "documents"),
        "doc_id",
        ["doc_id", "text", "lang"],
        n_shards=8,
    )


def q_markup_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML text extraction (r10; functions/text.py:strip_markup over
    MARKUP_STEPS): the fixture is plain prose, so crawl markup is
    planted deterministically — tag wrappers on every doc, a script
    block on %5, an HTML comment on %7, escaped entities on %3 — and
    the extractor must recover clean text.  Pure scan-fused
    regexp_replace chain; the oracle replays synth + steps from the
    same constants."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    t = F.col("text")
    html = F.concat(
        F.lit('<html><body class="page">'),
        F.when(
            d % 5 == 0,
            F.lit('<script type="text/js">var x = "<div>";</script>'),
        ).otherwise(F.lit("")),
        F.when(d % 7 == 0, F.lit("<!-- boilerplate\nheader -->")).otherwise(
            F.lit("")
        ),
        F.lit("<p>"),
        t,
        F.when(d % 3 == 0, F.lit(" &amp; more &lt;here&gt;")).otherwise(
            F.lit("")
        ),
        F.lit("</p></body></html>"),
    )
    return docs.select(
        "doc_id", strip_markup(html).alias("clean")
    )


def q_bootstrap_mean_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% CI for mean purchase value (r10;
    operators/sampling.py:bootstrap_mean_ci).  Replicate weights are
    Poisson(1) inverse-CDF buckets of md5-derived 56-bit uniforms
    against shared integer thresholds — a pure (id, b, seed) function,
    so the whole resampling procedure (48 replicates, integer
    micro-cent means, exact order-statistic CI) is replayed
    bit-for-bit by the oracle."""
    ev = _t(spark, sf_dir, "events").where(F.col("event_type") == "purchase")
    return sampling.bootstrap_mean_ci(
        ev, "value", "event_id", n_replicates=48, seed=0
    )


def q_language_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-page language splitting (r10;
    operators/curation.py:split_by_line_language) over the SAME
    synthesized multilingual pages as line_language_mix: each page's
    lines route to per-language sub-documents rebuilt in original
    order (the CCNet bucket-by-language step, as a rewrite rather than
    a report).  Oracle replays the synth, the per-line ID, and an
    ORDER BY string_agg rebuild."""
    return curation.split_by_line_language(_multilingual_pages(spark, sf_dir))


def q_trimmed_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-trimmed per-event-type means (r10;
    operators/quality.py:trimmed_mean_report, 5% per tail) — the
    outlier-robust dashboard metric; trimming by RANK with (value, id)
    tie-breaks keeps both engines bit-identical where percentile value
    cuts would be ulp-sensitive.  Oracle replays the rank window and
    the integer mean arithmetic."""
    return quality.trimmed_mean_report(
        _t(spark, sf_dir, "events"), "value", "event_id", "event_type",
        trim_bp=500,
    )


def q_fd_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional-entropy FD strength (r10;
    operators/quality.py:conditional_entropy_report) for the same
    candidate pairs as functional_dependencies plus their reverses —
    H(dep|det) in integer micro-nats ranks HOW BROKEN each candidate
    is, where the boolean report only says yes/no.  One (det, dep)
    aggregate per pair; the oracle replays the quantized-ln
    decomposition."""
    ev = _t(spark, sf_dir, "events")
    return quality.conditional_entropy_report(
        ev,
        [("user_id", "event_type"), ("event_type", "user_id")],
    )


def q_contamination_by_eval_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-benchmark contamination attribution (r10;
    operators/curation.py:contamination_by_eval_set): two held-out
    suites (doc_id % 10 == 7 → suiteA, % 10 == 3 → suiteB) screened in
    ONE corpus gram pass — the (gram, set) index broadcasts, per-doc
    totals stay doc-local, rows come back sparse per (doc, suite).
    The oracle replays the same slices and the per-set join."""
    docs = _t(spark, sf_dir, "documents")
    evals = (
        docs.where(F.col("doc_id") % 10 == 7)
        .select(F.lit("suiteA").alias("eval_set"), "text")
        .unionByName(
            docs.where(F.col("doc_id") % 10 == 3).select(
                F.lit("suiteB").alias("eval_set"), "text"
            )
        )
    )
    corpus = docs.where(~F.col("doc_id").__mod__(10).isin(3, 7))
    return curation.contamination_by_eval_set(corpus, evals, n=8)


def q_bootstrap_ci_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group Poisson-bootstrap CIs (r10;
    operators/sampling.py:bootstrap_mean_ci_by_group): mean event
    value per event_type with 95% CIs from 24 deterministic
    replicates — the source-comparison table where non-overlapping
    intervals, not bare mean gaps, justify a mixture decision.
    Weights are (id, b, seed) functions so the grouping cannot perturb
    another group's CI (pinned in tests); the oracle replays the full
    grouped resampling."""
    ev = _t(spark, sf_dir, "events")
    return sampling.bootstrap_mean_ci_by_group(
        ev, "value", "event_id", "event_type", n_replicates=24, seed=0
    )


def q_inclusion_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key-candidate profiling (r10;
    operators/quality.py:inclusion_dependency_report) across three
    fixture relationships: events.user_id ⊆ customer.c_custkey,
    orders.o_custkey ⊆ customer.c_custkey, lineitem.l_partkey ⊆
    part.p_partkey — distinct keys only on the shuffle, LEFT ANTI
    orphan count, integer containment basis points.  The oracle
    replays each pair's distinct/anti-join arithmetic."""
    ev = _t(spark, sf_dir, "events")
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part")
    return (
        quality.inclusion_dependency_report(ev, cust, [("user_id", "c_custkey")])
        .unionByName(
            quality.inclusion_dependency_report(
                orders, cust, [("o_custkey", "c_custkey")]
            )
        )
        .unionByName(
            quality.inclusion_dependency_report(
                li, part, [("l_partkey", "p_partkey")]
            )
        )
    )


def q_packing_budget_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency-at-every-budget table (r10;
    operators/sampling.py:packing_budget_curve): the id-order running
    sum is computed ONCE (budget-independent), candidate budgets fan
    out as a 5-wide explode after the window, and each budget's bins
    replay pack_sequences exactly — the choose-your-sequence-length
    report before a 100 TB packing run.  Oracle replays the window +
    fan-out + two-level bin aggregate."""
    docs = _t(spark, sf_dir, "documents").select(
        "source", "doc_id", word_count("text").alias("tok")
    )
    return sampling.packing_budget_curve(docs, "tok", group_col="source")


#: Demo keyword→topic dictionary shared by q_topic_tags and its oracle
#: (fixture-vocabulary words grouped into four themes).
_TOPIC_KEYWORDS = {
    "query": "querying",
    "join": "querying",
    "filter": "querying",
    "agg": "querying",
    "group": "querying",
    "sort": "querying",
    "table": "storage",
    "column": "storage",
    "row": "storage",
    "scan": "storage",
    "stream": "streaming",
    "batch": "streaming",
    "window": "streaming",
    "vector": "ml",
    "hash": "ml",
}


def q_topic_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary topic tagging (r10;
    operators/text_mining.py:topic_tags): a broadcast keyword→topic
    equi-join on the token stream (never a giant regex alternation),
    per-doc topic hit counts, bounded argmax window for the dominant
    topic, id-spine left join so no-hit docs keep a NULL tag.  Oracle
    replays the join + argmax from the same dictionary constant."""
    return text_mining.topic_tags(
        _t(spark, sf_dir, "documents"), _TOPIC_KEYWORDS
    )


def q_keyness_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunning log-likelihood keyness (r10;
    operators/text_mining.py:keyness_terms) of English-labelled docs
    vs the rest — the corpus-comparison statistic mixture weights and
    domain-shift audits are read from.  Integer micro-ln quantization
    per term BEFORE the count multiply (the lm_perplexity seam), one
    vocabulary-bounded aggregate, TakeOrdered top-50 — the oracle
    replays the identical arithmetic."""
    docs = _t(spark, sf_dir, "documents")
    return text_mining.keyness_terms(
        docs, F.col("lang") == "en", top_k=50, min_count=5
    )


def q_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-distribution entropy per document (r10;
    operators/curation.py:char_entropy_report) — the gibberish /
    encoded-blob detector: one (id, char) count aggregate, the
    ``H = ln n − Σk·ln k / n`` decomposition in floor(1e6·ln) integer
    micro-units, (id, char) pairs on the shuffle, text never.  Oracle
    replays the identical quantized arithmetic."""
    return curation.char_entropy_report(_t(spark, sf_dir, "documents"))


def q_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused per-document quality-signal vector (r10;
    operators/curation.py:quality_signals) — the Dolma-attributes /
    RedPajama-v2 wide-signal table: the seven Gopher metrics +
    verdict, stopword language ID, blended quality score, and the
    three PII counts, ALL in one scan (no explode, no shuffle, no
    join — pinned in test_plans.py).  Signals are the same shared
    expression functions the standalone reports use, so this table
    always agrees with them; the oracle recomputes every signal from
    the same generated SQL twins."""
    return curation.quality_signals(_t(spark, sf_dir, "documents"))


def q_rarity_bins_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language rarity terciles (r10;
    operators/text_mining.py:rarity_bins_by_lang) — CCNet §4.3's
    actual binning contract: head/middle/tail cut points computed
    WITHIN each language bucket (a corpus-wide cut tails every
    low-resource language wholesale).  Language ID computed once at
    the scan and carried through the (doc, token) aggregate as a
    grouping key; cut points are one exact-percentile aggregate per
    language, broadcast back on lang.  Integer scoring end-to-end —
    the oracle replays the chain and the per-lang quantile cuts."""
    return text_mining.rarity_bins_by_lang(_t(spark, sf_dir, "documents"))


def _nb_split(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The NB seed-set fixture: ``labeled`` documents (doc_id % 3 != 0,
    label = lang == 'en') train; the held-out doc_id % 3 == 0 slice is
    scored."""
    docs = _t(spark, sf_dir, "documents")
    labeled = docs.where(F.col("doc_id") % 3 != 0).withColumn(
        "label", F.col("lang") == "en"
    )
    return labeled, docs.where(F.col("doc_id") % 3 == 0)


def q_nb_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive-Bayes quality classifier (r9 close;
    operators/curation.py:nb_quality_scores) — the deterministic
    stand-in for the fastText/logistic seed-set quality filters
    (GPT-3 §A.2 / CCNet §4.2): train add-1 per-class token models on
    a labeled slice (label = the lang=='en' seed, the pii_scan-style
    fixture synth), score the held-out slice by integer micro-unit
    log-odds.  Quantization is the lm_perplexity ln seam, so the
    oracle retrains and rescores bit-for-bit."""
    labeled, to_score = _nb_split(spark, sf_dir)
    return curation.nb_quality_scores(labeled, to_score)


def q_line_language_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-line language segmentation (r9 close;
    operators/curation.py:line_language_report) — mixed-language pages
    are synthesized from the fixture (the c4 re-lining synth plus a
    planted German line on doc_id%4 and a French line on %6), then
    each line gets the deterministic stopword language ID and docs
    roll up to dominant language, its permille share, and distinct
    line languages.  The oracle replays the synth, the per-line ID
    (same lexicon constants via language_id_sql), and the argmax."""
    return curation.line_language_report(_multilingual_pages(spark, sf_dir))


def _multilingual_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents re-lined into 6-token lines with a planted German line
    on doc_id%4 and a French line on %6 (line_language_mix and
    language_split share them)."""
    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id")
    lined = _six_token_lines(F.col("text"))
    lined = F.when(
        d % 4 == 0,
        F.concat(F.lit("der hund ist nicht da und ich\n"), lined),
    ).otherwise(lined)
    lined = F.when(
        d % 6 == 0,
        F.concat(lined, F.lit("\nle chat est dans la maison pour")),
    ).otherwise(lined)
    return docs.withColumn("text", lined)


def q_nb_quality_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NB quality-model persistence roundtrip (r9 close — the
    lm_perplexity_persisted pattern): train + persist the per-class
    count table and corpus scalars, load them back, score the same
    held-out slice through the shared _nb_score core
    (operators/curation.py:nb_model_write/nb_scores_from_model).
    Oracle: the nb_quality_classifier SQL — loaded-model output must
    be hash-identical to in-plan training."""
    import tempfile

    labeled, to_score = _nb_split(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="spark_graft_nb_")
    curation.nb_model_write(labeled, path)
    return curation.nb_scores_from_model(spark, path, to_score)


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: TPC-H Q1 pricing summary at sf0.001 (driver smoke)."""
    return q_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """The registered query surface: name -> ``fn(spark, sf_dir)``
    returning the query's DataFrame.

    The first 50 entries are the correctness-check window: the names
    in ``_R14_WINDOW``, guarded to be exactly 50 registered queries,
    in that order; every other entry follows in registration order.  Every query outside ``oracle_sql()`` is rows-only by
    contract (the ``knn_ivf`` and ``knn_ivfpq`` nprobe dials and the
    two raw t-digest sketches), each certified by a hash-checked
    exhaustive or accuracy twin; ``tools/staleness.py`` reports each
    query's latest correctness evidence."""
    out = {
        "bm25_search_persisted": q_bm25_search_persisted,
        "lm_perplexity_persisted": q_lm_perplexity_persisted,
        "gopher_quality": q_gopher_quality,
        "c4_line_filter": q_c4_line_filter,
        "text_normalization": q_text_normalization,
        "minhash_band_tuning": q_minhash_band_tuning,
        "pq_codes": q_pq_codes,
        "pq_ann": q_pq_ann,
        "contamination_spans": q_contamination_spans,
        "exact_substring_spans": q_exact_substring_spans,
        "longest_repeated_substrings": q_longest_repeated_substrings,
        "remove_contaminated_spans": q_remove_contaminated_spans,
        "dsir_importance_weights": q_dsir_importance_weights,
        "dsir_resample": q_dsir_resample,
        "domain_mix": q_domain_mix,
        "bm25_search_pruned": q_bm25_search_pruned,
        "contamination_report": q_contamination_report,
        "repetition_signals": q_repetition_signals,
        "pii_scan": q_pii_scan,
        "incremental_dedup": q_incremental_dedup,
        "dataset_split": q_dataset_split,
        "pagerank_influence": q_pagerank_influence,
        "duplicate_ngram_spans": q_duplicate_ngram_spans,
        "embedding_quantization": q_embedding_quantization,
        "variant_extract": q_variant_extract,
        "streaming_corpus_dedup": q_streaming_corpus_dedup,
        "delete_by_key_roundtrip": q_delete_by_key_roundtrip,
        "curation_funnel": q_curation_funnel,
        "fingerprint_overlap_pairs": q_fingerprint_overlap_pairs,
        "minhash_near_dup": q_minhash_near_dup,
        "simhash_near_dup": q_simhash_near_dup,
        "embedding_near_dup": q_embedding_near_dup,
        "knn_lsh": q_knn_lsh,
        "knn_ivf_exhaustive": q_knn_ivf_exhaustive,
        "embedding_clusters": q_embedding_clusters,
        "approx_distinct_users": q_approx_distinct_users,
        "tdigest_accuracy": q_tdigest_accuracy,
        "tdigest_by_key_accuracy": q_tdigest_by_key_accuracy,
        "ngram_jaccard_pairs_blocked": q_ngram_jaccard_pairs_blocked,
        "bloom_semi_join": q_bloom_semi_join,
        "bloom_prune_report": q_bloom_prune_report,
        "boilerplate_lines": q_boilerplate_lines,
        "remove_repeated_spans": q_remove_repeated_spans,
        "dedup_keep_best": q_dedup_keep_best,
        "upsample_mixture": q_upsample_mixture,
        "pipeline_observability": q_pipeline_observability,
        "streaming_near_dup": q_streaming_near_dup,
        "training_shards": q_training_shards,
        "bpe_merges": q_bpe_merges,
        "bpe_segment": q_bpe_segment,
        "zipf_fit": q_zipf_fit,
        "length_drift": q_length_drift,
        "dq_referential_orphans": q_dq_referential_orphans,
        "dq_unique_violations": q_dq_unique_violations,
        "table_fingerprint": q_table_fingerprint,
        "snapshot_diff": q_snapshot_diff,
        "volume_shipping": q_volume_shipping,
        "small_quantity_revenue": q_small_quantity_revenue,
        "disjunctive_revenue": q_disjunctive_revenue,
        "promo_part_suppliers": q_promo_part_suppliers,
        "sql_api_top_orders": q_sql_api_top_orders,
        "udtf_sentences": q_udtf_sentences,
        "incremental_agg": q_incremental_agg,
        "streaming_incremental_kpis": q_streaming_incremental_kpis,
        "compaction_roundtrip": q_compaction_roundtrip,
        "orc_roundtrip": q_orc_roundtrip,
        "sliding_windows": q_sliding_windows,
        "purchase_attribution_outer": q_purchase_attribution_outer,
        "user_running_totals": q_user_running_totals,
        "foreach_batch_sink": q_foreach_batch_sink,
        "top_tokens_per_lang": q_top_tokens_per_lang,
        "token_set_dedup": q_token_set_dedup,
        "mixture_sample": q_mixture_sample,
        "reservoir_per_key": q_reservoir_per_key,
        "media_thumbnails": q_media_thumbnails,
        "media_audio_stats": q_media_audio_stats,
        "window_rank_stats": q_window_rank_stats,
        "key_skew_report": q_key_skew_report,
        "resample_daily": q_resample_daily,
        "rolling_activity": q_rolling_activity,
        "shipping_priority": q_shipping_priority,
        "window_running": q_window_running,
        "range_join_bands": q_range_join_bands,
        "salted_join": q_salted_join,
        "percentiles": q_percentiles,
        "grouping_sets": q_grouping_sets,
        "pivot_event_types": q_pivot_event_types,
        "scalar_subquery": q_scalar_subquery,
        "exists_inequality": q_exists_inequality,
        "min_price_supplier": q_min_price_supplier,
        "unpivot_metrics": q_unpivot_metrics,
        "exact_substring_spans_persisted": q_exact_substring_spans_persisted,
        "bm25_search": q_bm25_search,
        "hll_shard_union": q_hll_shard_union,
        "hybrid_retrieval_rrf": q_hybrid_retrieval,
        "retrieval_quality": q_retrieval_quality,
        "lm_perplexity_filter": q_lm_perplexity,
        "turn_dedup": q_turn_dedup,
        "knn_ivf_persisted": q_knn_ivf_persisted,
        "dataset_card": q_dataset_card,
        "exact_quantiles_sketched": q_exact_quantiles_sketched,
        "asof_join": q_asof_join,
        "asof_join_forward": q_asof_join_forward,
        "asof_join_nearest": q_asof_join_nearest,
        "exact_dedup": q_exact_dedup,
        "kpi_event_type_counts": q_kpi_event_type_counts,
        "duplicate_clusters_star": q_duplicate_clusters,
        "knn_ivf": q_knn_ivf,
        "tdigest_quantiles": q_tdigest_quantiles,
        "tdigest_by_key": q_tdigest_by_key,
        "decontaminated_docs": q_decontaminated_docs,
        "quality_yield_curve": q_quality_yield_curve,
        "corpus_overlap_report": q_corpus_overlap_report,
        "vocabulary_growth": q_vocabulary_growth,
        "packing_efficiency": q_packing_efficiency,
        "novelty_curve": q_novelty_curve,
        "kpi_totals": q_kpi_totals,
        "clean_documents": q_clean_documents,
        "safe_cast_props": q_safe_cast_props,
        "per_group_limit": q_per_group_limit,
        "iso_duration_parse": q_iso_duration_parse,
        "partitioned_sink_roundtrip": q_partitioned_sink_roundtrip,
        "json_sink_roundtrip": q_json_sink_roundtrip,
        "videos_bronze_to_silver": q_videos_bronze_to_silver,
        "comments_bronze_to_silver": q_comments_bronze_to_silver,
        "envelope_explode": q_envelope_explode,
        "pricing_summary": q_pricing_summary,
        "local_supplier_volume": q_local_supplier_volume,
        "top_orders": q_top_orders,
        "agg_suite": q_agg_suite,
        "rollup_agg": q_rollup_agg,
        "cube_agg": q_cube_agg,
        "anti_join": q_anti_join,
        "semi_join": q_semi_join,
        "outer_join_agg": q_outer_join_agg,
        "set_ops": q_set_ops,
        "distinct_segments": q_distinct_segments,
        "string_functions": q_string_functions,
        "date_functions": q_date_functions,
        "math_functions": q_math_functions,
        "case_when_bucketing": q_case_when_bucketing,
        "window_lag_lead": q_window_lag_lead,
        "explode_tokens": q_explode_tokens,
        "json_roundtrip": q_json_roundtrip,
        "salted_distinct_users": q_salted_distinct_users,
        "window_ntile_firstlast": q_window_ntile_firstlast,
        "customer_order_distribution": q_customer_order_distribution,
        "large_orders": q_large_orders,
        "returned_items": q_returned_items,
        "dedup_corpus": q_dedup_corpus,
        "near_dup_pipeline": q_near_dup_pipeline,
        "duplicate_clusters": q_duplicate_clusters,
        "tfidf_cosine_pairs": q_tfidf_cosine_pairs,
        "semantic_dedup": q_semantic_dedup,
        "leakage_safe_split": q_leakage_safe_split,
        "component_size_report": q_component_size_report,
        "dedup_provenance": q_dedup_provenance,
        "minhash_accuracy": q_minhash_accuracy,
        "functional_dependencies": q_functional_dependencies,
        "join_cardinality": q_join_cardinality,
        "source_overlap_matrix": q_source_overlap_matrix,
        "bucketed_join_roundtrip": q_bucketed_join_roundtrip,
        "cooccurrence_edges": q_cooccurrence_edges,
        "ngram_diversity": q_ngram_diversity,
        "tokenizer_fertility": q_tokenizer_fertility,
        "k_anonymity": q_k_anonymity,
        "python_datasource_stream_sink": q_python_datasource_stream_sink,
        "python_datasource_pushdown": q_python_datasource_pushdown,
        "span_corruption": q_span_corruption,
        "ann_recall": q_ann_recall,
        "canonical_dedup": q_canonical_dedup,
        "embedding_drift": q_embedding_drift,
        "source_mixture_card": q_source_mixture_card,
        "language_mismatch": q_language_mismatch,
        "distinctive_terms": q_distinctive_terms,
        "collocations": q_collocations,
        "token_rarity_bins": q_token_rarity_bins,
        "triangle_count": q_triangle_count,
        "python_datasource_videos": q_python_datasource_videos,
        "python_datasource_videos_stream": q_python_datasource_videos_stream,
        "medallion_kpis": q_medallion_kpis,
        "array_agg_functions": q_array_agg_functions,
        "map_functions": q_map_functions,
        "forecast_revenue": q_forecast_revenue,
        "market_share": q_market_share,
        "product_type_profit": q_product_type_profit,
        "important_parts": q_important_parts,
        "shipping_delay": q_shipping_delay,
        "promo_revenue": q_promo_revenue,
        "top_supplier": q_top_supplier,
        "supplier_part_counts": q_supplier_part_counts,
        "waiting_suppliers": q_waiting_suppliers,
        "dormant_customers": q_dormant_customers,
        "tumbling_windows": q_tumbling_windows,
        "session_windows": q_session_windows,
        "stream_dedup_counts": q_stream_dedup_counts,
        "stream_static_enrich": q_stream_static_enrich,
        "purchase_view_attribution": q_purchase_view_attribution,
        "text_stats": q_text_stats,
        "language_id": q_language_id,
        "quality_scores": q_quality_scores,
        "winnowing_fingerprints": q_winnowing_fingerprints,
        "embedding_norms": q_embedding_norms,
        "knn_bruteforce": q_knn_bruteforce,
        "knn_label_accuracy": q_knn_label_accuracy,
        "hash_sample": q_hash_sample,
        "weighted_sample": q_weighted_sample,
        "chunk_documents": q_chunk_documents,
        "pack_sequences": q_pack_sequences,
        "media_features": q_media_features,
        "media_frame_sample": q_media_frame_sample,
        "higher_order_funcs": q_higher_order_funcs,
        "csv_roundtrip": q_csv_roundtrip,
        "clustered_roundtrip": q_clustered_roundtrip,
        "schema_evolution": q_schema_evolution,
        "value_outliers": q_value_outliers,
        "cohort_retention": q_cohort_retention,
        "funnel_conversion": q_funnel_conversion,
        "fuzzy_vocab": q_fuzzy_vocab,
        "session_conversion": q_session_conversion,
        "zorder_key": q_zorder_key,
        "scd2_intervals": q_scd2_intervals,
        "upsert_latest_wins": q_upsert_latest_wins,
        "profile_table": q_profile_table,
        "enrich_documents": q_enrich_documents,
        "enrich_video_titles": q_enrich_video_titles,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "contrastive_pairs": q_contrastive_pairs,
        "source_overlap_near": q_source_overlap_near,
        "dedup_threshold_curve": q_dedup_threshold_curve,
        "mixture_plan": q_mixture_plan,
        "mg_heavy_hitters_by_key": q_mg_heavy_hitters_by_key,
        "python_datasource_sink": q_python_datasource_sink,
        "rest_ingest_videos": q_rest_ingest_videos,
        "rest_ingest_comments": q_rest_ingest_comments,
        "cms_heavy_hitters": q_cms_heavy_hitters,
        "mg_heavy_hitters": q_mg_heavy_hitters,
        "dq_report": q_dq_report,
        "pq_ann_persisted": q_pq_ann_persisted,
        "knn_ivfpq_exhaustive": q_knn_ivfpq_exhaustive,
        "knn_ivfpq": q_knn_ivfpq,
        "nb_quality_classifier": q_nb_quality_classifier,
        "line_language_mix": q_line_language_mix,
        "nb_quality_persisted": q_nb_quality_persisted,
        "ivfpq_recall": q_ivfpq_recall,
        "nb_threshold_curve": q_nb_threshold_curve,
        "embedding_dim_truncation": q_embedding_dim_truncation,
        "quality_signals": q_quality_signals,
        "rarity_bins_by_lang": q_rarity_bins_by_lang,
        "containment_pairs": q_containment_pairs,
        "containment_dedup": q_containment_dedup,
        "streaming_quality_monitor": q_streaming_quality_monitor,
        "knn_sq8_rerank": q_knn_sq8_rerank,
        "image_near_dup": q_image_near_dup,
        "domain_blocklist": q_domain_blocklist,
        "keyness_terms": q_keyness_terms,
        "char_entropy": q_char_entropy,
        "audio_near_dup": q_audio_near_dup,
        "gopher_rule_attribution": q_gopher_rule_attribution,
        "streaming_near_dup_persisted": q_streaming_near_dup_persisted,
        "packing_budget_curve": q_packing_budget_curve,
        "topic_tags": q_topic_tags,
        "pack_documents": q_pack_documents,
        "inclusion_dependencies": q_inclusion_dependencies,
        "bootstrap_mean_ci": q_bootstrap_mean_ci,
        "markup_extraction": q_markup_extraction,
        "shard_manifest": q_shard_manifest,
        "entity_resolution": q_entity_resolution,
        "bootstrap_ci_by_group": q_bootstrap_ci_by_group,
        "contamination_by_eval_set": q_contamination_by_eval_set,
        "fd_entropy": q_fd_entropy,
        "trimmed_means": q_trimmed_means,
        "language_split": q_language_split,
        "nb_reliability": q_nb_reliability,
        "paragraph_dedup": q_paragraph_dedup,
        "cap_per_source": q_cap_per_source,
        "cap_per_source_windowed": q_cap_per_source_windowed,
        "cap_per_source_skew": q_cap_per_source_skew,
        "paragraph_registry": q_paragraph_registry,
        "paragraph_dedup_incremental": q_paragraph_dedup_incremental,
        "corpus_diff": q_corpus_diff,
        "corpus_churn": q_corpus_churn,
        "paragraph_dedup_stream": q_paragraph_dedup_stream,
        "paragraph_registry_merge": q_paragraph_registry_merge,
        "minhash_index_delete_probe": q_minhash_index_delete_probe,
    }
    # rotation: the driver checks the FIRST 50 entries — front-load
    # the queries needing driver evidence (see the docstring); every
    # other entry keeps its relative order behind them.
    window = set(_R14_WINDOW)
    if len(_R14_WINDOW) != 50 or not window <= out.keys():
        # a plain raise, not assert: stripped asserts under python -O
        # would let a mis-sized band silently shift which queries get
        # driver evidence (the pq_train dim-guard lesson, ADVICE r9)
        raise ValueError("_R14_WINDOW must be 50 registered query names")
    return {k: out[k] for k in _R14_WINDOW} | {
        k: v for k, v in out.items() if k not in window
    }


#: r14 driver-check band (optimization round 2): (A) the 5 r13-tail
#: registrations with no driver row (tools/staleness.py NEVER rows);
#: (B) the 17 queries whose operators this optimization round CHANGED
#: (BM25 scoring exchanges + postings spread, DSIR ratio restructure,
#: minhash checkpoints, paragraph window-min winner, quality_signals
#: spread, vectorized media kernels, exact-substring spread) — a
#: fresh driver hash-PASS on exactly the touched code is the round's
#: strongest no-regression evidence; (C) the 28 oldest oracle-stale
#: fills (r8 evidence, ledger order).  Rows-only dials stay out per
#: VERDICT r9/r10.  Entire band pre-verified on a plain ANSI
#: local[32] session at sf0.01 (tools/preverify_r14_band.log).
_R14_WINDOW = [
    # A: r13-tail additions, no driver evidence yet
    "corpus_diff",
    "corpus_churn",
    "paragraph_dedup_stream",
    "paragraph_registry_merge",
    "minhash_index_delete_probe",
    # B: operators changed in optimization r14
    "bm25_search",
    "bm25_search_pruned",
    "bm25_search_persisted",
    "hybrid_retrieval_rrf",
    "retrieval_quality",
    "dsir_importance_weights",
    "dsir_resample",
    "minhash_near_dup",
    "near_dup_pipeline",
    "dedup_corpus",
    "paragraph_dedup",
    "quality_signals",
    "streaming_quality_monitor",
    "image_near_dup",
    "audio_near_dup",
    "exact_substring_spans",
    "exact_substring_spans_persisted",
    # C: the 28 oldest oracle-stale fills (r8 ledger order)
    "streaming_incremental_kpis",
    "compaction_roundtrip",
    "orc_roundtrip",
    "sliding_windows",
    "purchase_attribution_outer",
    "user_running_totals",
    "foreach_batch_sink",
    "top_tokens_per_lang",
    "token_set_dedup",
    "mixture_sample",
    "reservoir_per_key",
    "media_thumbnails",
    "media_audio_stats",
    "window_rank_stats",
    "key_skew_report",
    "resample_daily",
    "rolling_activity",
    "shipping_priority",
    "window_running",
    "range_join_bands",
    "salted_join",
    "percentiles",
    "grouping_sets",
    "pivot_event_types",
    "scalar_subquery",
    "exists_inequality",
    "min_price_supplier",
    "unpivot_metrics",
]


def oracle_sql() -> dict[str, str]:
    from youtube_podcast_data_pipeline_azure_spark.functions.url import (
        url_domain_sql,
        url_normalize_sql,
    )

    qual = quality_score_sql("text")
    lang = language_id_sql("text")

    # DeterministicClassifier's lexicon sentiment (classifier.py:68-76)
    # re-expressed in DuckDB: word-split on whitespace, strip '.,!?'
    # punctuation, count +/- lexicon hits.
    _pos_words = (
        "'good','great','love','excellent','amazing','awesome','best',"
        "'happy','wonderful','fantastic','nice','perfect','cool','win','fast'"
    )
    _neg_words = (
        "'bad','terrible','hate','awful','worst','sad','horrible','poor',"
        "'broken','slow','fail','wrong','boring','angry'"
    )

    def _lexicon(col: str) -> tuple[str, str, str]:
        words = (
            f"list_filter(string_split_regex(lower({col}), '\\s+'),"
            " t -> t <> '')"
        )
        pos = f"len(list_filter({words}, w -> trim(w, '.,!?') IN ({_pos_words})))"
        neg = f"len(list_filter({words}, w -> trim(w, '.,!?') IN ({_neg_words})))"
        return words, pos, neg

    def sentiment_case(col: str) -> str:
        _, pos, neg = _lexicon(col)
        return (
            f"CASE WHEN {pos} > {neg} THEN 'positive' "
            f"WHEN {neg} > {pos} THEN 'negative' ELSE 'neutral' END"
        )

    # DeterministicClassifier's hash-derived picks (classifier.py:81-89):
    # h == DuckDB md5_number_upper('<seed>:' || text) by construction.
    _emolist = (
        "['joy','anger','sadness','fear','surprise','disgust','neutral']"
    )
    tokens = "list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')"
    # DSIR seams: identical md5-derived gram bucket / Gumbel uniform
    md5_bucket = sketches.md5_int56_sql("'dsir:' || g")
    md5_gumbel = sketches.md5_int56_sql(
        "'dsir-gumbel:0:' || cast(doc_id AS varchar)"
    )
    bpe = r"len(regexp_extract_all(text, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'))"
    fingerprint = "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))"
    cos = (
        "list_dot_product(c.embedding, q.embedding) / "
        "(sqrt(list_dot_product(c.embedding, c.embedding)) * "
        "sqrt(list_dot_product(q.embedding, q.embedding)))"
    )
    # --- approximate-family twins (r4, VERDICT #1): every LSH/sketch
    # pipeline below is deterministic (seeded literal hyperplanes,
    # md5-derived hashes, lowest-id k-means init), so DuckDB recomputes
    # the approximate semantics EXACTLY rather than checking a recall
    # claim.
    planes = similarity._hyperplanes(64, 8, 42)

    def _plane_dot(rel: str, plane: list[float]) -> str:
        return (
            f"list_dot_product(list_transform({rel}.embedding,"
            f" x -> x::DOUBLE), {plane!r})"
        )

    def _lsh_bucket(rel: str) -> str:
        return (
            "("
            + " + ".join(
                f"(CASE WHEN {_plane_dot(rel, planes[i])} >= 0"
                f" THEN {1 << i} ELSE 0 END)"
                for i in range(len(planes))
            )
            + ")"
        )

    # Brute-force exact Jaccard pair set (threshold on the UNROUNDED
    # ratio, like the operators): the oracle for minhash_near_dup and
    # near_dup_pipeline, whose exact-verified outputs equal this set at
    # complete banding recall.
    # Distinct token-bigram shingle sets ``docs(doc_id, sh)``: the
    # shared base of the Jaccard/MinHash oracles.
    shingle_docs = f"""
            WITH toks AS (
                SELECT doc_id, {tokens} AS tokens FROM documents),
            docs AS (
                SELECT doc_id,
                       list_distinct([array_to_string(tokens[i:i+2], ' ')
                           for i in generate_series(
                               1, greatest(len(tokens)-3, 0)+1)]) AS sh
                FROM toks)"""
    exact_jaccard_pairs = f"""{shingle_docs},
            pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       cast(len(list_intersect(a.sh, b.sh)) AS double)
                           / (len(a.sh) + len(b.sh)
                              - len(list_intersect(a.sh, b.sh))) AS j
                FROM docs a JOIN docs b ON a.doc_id < b.doc_id)
            SELECT id_a, id_b, round(j, 4) AS jaccard
            FROM pairs WHERE j >= 0.5
    """

    def _lloyd_iter(cin: str, aout: str, cout: str) -> str:
        """One Lloyd iteration as CTEs: assign (argmax cosine, lowest-id
        tie-break, unrounded like numpy training), recenter (per-dim
        mean), empty clusters keep their centroid."""
        return f"""
            {aout} AS (
                SELECT vec_id, cid FROM (
                    SELECT e.vec_id, c.cid,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY list_dot_product(e.v, c.v)
                                        / (sqrt(list_dot_product(e.v, e.v))
                                           * sqrt(list_dot_product(c.v, c.v)))
                                            DESC,
                                        c.cid ASC) AS rn
                    FROM e CROSS JOIN {cin} c)
                WHERE rn = 1),
            {aout}_m AS (
                SELECT a.cid, d.d, avg(d.val) AS val
                FROM {aout} a JOIN dims d USING (vec_id) GROUP BY 1, 2),
            {cout} AS (
                SELECT cid, list(val ORDER BY d) AS v
                FROM {aout}_m GROUP BY cid
                UNION ALL
                SELECT cid, v FROM {cin}
                WHERE cid NOT IN (SELECT DISTINCT cid FROM {aout}_m))"""

    # Shared by ngram_jaccard_pairs and duplicate_clusters (the latter
    # wraps it in a recursive CTE); a CTE body may carry its own WITH.
    def _bpe_level(i: int) -> str:
        """One BPE iteration as CTEs: weighted adjacent-pair counts,
        the argmax merge (count desc, pair asc), and the greedy
        left-to-right fold into every word's symbol string."""
        return f"""
            p{i} AS (
                SELECT pr AS pair, cast(sum(n) AS bigint) AS c FROM (
                    SELECT n, unnest([sl[j] || ' ' || sl[j+1]
                        for j in generate_series(
                            1, greatest(len(sl)-1, 0))]) AS pr
                    FROM (SELECT n, string_split(syms, ' ') AS sl
                          FROM v{i-1}))
                GROUP BY 1),
            t{i} AS (
                SELECT pair, string_split(pair, ' ')[1] AS a,
                       string_split(pair, ' ')[2] AS b, c
                FROM p{i} ORDER BY c DESC, pair ASC LIMIT 1),
            v{i} AS (
                SELECT word, n,
                    list_reduce([''] || string_split(syms, ' '),
                        (acc, x) -> CASE
                            WHEN acc = '' THEN x
                            WHEN regexp_extract(acc, '([^ ]+)$', 1) = t{i}.a
                                 AND x = t{i}.b
                                THEN regexp_replace(acc, '[^ ]+$', '')
                                     || t{i}.a || t{i}.b
                            ELSE acc || ' ' || x END) AS syms
                FROM v{i-1}, t{i})"""

    def _bpe_oracle(k: int) -> str:
        levels = ",".join(_bpe_level(i) for i in range(1, k + 1))
        rows = "\nUNION ALL\n".join(
            f"SELECT cast({i} AS bigint) AS step, a AS \"left\","
            f" b AS \"right\", a || b AS merged, c AS pair_count FROM t{i}"
            for i in range(1, k + 1)
        )
        return f"""
            WITH toks AS (
                SELECT {tokens} AS tokens FROM documents),
            words AS (
                SELECT w AS word, cast(count(*) AS bigint) AS n
                FROM (SELECT unnest(tokens) AS w FROM toks) GROUP BY 1),
            v0 AS (
                SELECT word, n,
                       array_to_string([substr(word, i, 1)
                           for i in generate_series(1, length(word))],
                           ' ') AS syms
                FROM words),
            {levels}
            {rows}
        """

    def _bpe_segment_oracle(k: int) -> str:
        levels = ",".join(_bpe_level(i) for i in range(1, k + 1))
        return f"""
            WITH dtoks AS (
                SELECT doc_id, {tokens} AS tokens FROM documents),
            toks AS (
                SELECT doc_id, generate_subscripts(tokens, 1) AS pos,
                       unnest(tokens) AS w
                FROM dtoks),
            words AS (
                SELECT w AS word, cast(count(*) AS bigint) AS n
                FROM toks GROUP BY 1),
            v0 AS (
                SELECT word, n,
                       array_to_string([substr(word, i, 1)
                           for i in generate_series(1, length(word))],
                           ' ') AS syms
                FROM words),
            {levels}
            SELECT t.doc_id,
                   coalesce(string_agg(v.syms, ' ' ORDER BY t.pos), '')
                       AS bpe_text,
                   cast(coalesce(
                       sum(len(string_split(v.syms, ' '))), 0) AS bigint)
                       AS n_bpe_tokens
            FROM toks t JOIN v{k} v ON t.w = v.word
            GROUP BY t.doc_id
        """

    ngram_pairs = f"""{shingle_docs},
            pref AS (
                SELECT doc_id,
                       (list_sort(list_transform(sh, s -> md5(s))))
                           [1 : cast(len(sh) - ceil(0.5 * len(sh)) + 1
                                     AS bigint)] AS pkeys
                FROM docs),
            expl AS (
                SELECT doc_id, unnest(pkeys) AS pkey FROM pref),
            cand AS (
                SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
                FROM expl a JOIN expl b
                    ON a.pkey = b.pkey AND a.doc_id < b.doc_id)
            SELECT id_a, id_b,
                   round(cast(len(list_intersect(da.sh, db.sh)) AS double)
                         / (len(da.sh) + len(db.sh)
                            - len(list_intersect(da.sh, db.sh))), 4)
                       AS jaccard
            FROM cand
            JOIN docs da ON da.doc_id = id_a
            JOIN docs db ON db.doc_id = id_b
            WHERE jaccard >= 0.5
    """
    def cc_reach(pair_sql: str) -> str:
        """Recursive-CTE reachability over the undirected (id_a, id_b)
        edges of ``pair_sql``: ``reach(id, comp)`` for every doc."""
        return f"""
            WITH RECURSIVE pairs AS ({pair_sql}),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION ALL
                SELECT id_b, id_a FROM pairs),
            reach(id, comp) AS (
                SELECT doc_id, doc_id FROM documents
                UNION
                SELECT e.src, r.comp FROM edges e JOIN reach r ON e.dst = r.id)"""

    def components(pair_sql: str, name: str = "comps") -> str:
        """``cc_reach`` plus ``name(doc_id, component)``, each doc
        labelled with the min doc id of its connected component."""
        return f"""{cc_reach(pair_sql)},
            {name} AS (
                SELECT id AS doc_id, min(comp) AS component
                FROM reach GROUP BY id)"""

    # Distinct 8-gram shingles per doc (``sh``) and the eval split's
    # gram set (``ev``, doc_id % 10 = 7): contamination_report and
    # decontaminated_docs.
    eval_grams = f"""
            WITH toks AS (
                SELECT doc_id, {tokens} AS tokens FROM documents),
            sh AS (
                SELECT doc_id,
                       list_distinct([array_to_string(tokens[i:i+7], ' ')
                           for i in generate_series(
                               1, greatest(len(tokens)-8, 0)+1)]) AS sh
                FROM toks),
            ev AS (
                SELECT DISTINCT unnest(sh) AS gram FROM sh
                WHERE doc_id % 10 = 7),"""
    # Train-doc 8-gram start positions ``hits(doc_id, i)`` that occur in
    # the eval split: contamination_spans and remove_contaminated_spans.
    eval_gram_hits = f"""
            WITH toks AS (SELECT doc_id, {tokens} AS t FROM documents),
            tr AS (SELECT * FROM toks WHERE doc_id % 10 != 7),
            ev AS (SELECT * FROM toks WHERE doc_id % 10 = 7),
            evg AS (
                SELECT DISTINCT array_to_string(t[i:i+7], ' ') AS gram
                FROM ev,
                     LATERAL (SELECT unnest(generate_series(
                         1, len(t) - 8 + 1)) AS i) u),
            tg AS (
                SELECT doc_id, i, array_to_string(t[i:i+7], ' ') AS gram
                FROM tr,
                     LATERAL (SELECT unnest(generate_series(
                         1, len(t) - 8 + 1)) AS i) u),
            hits AS (SELECT doc_id, i FROM tg JOIN evg USING (gram)),"""
    # DSIR per-bucket micro-unit log importance ratio ``ratio(b, r)``
    # over hashed uni+bigrams, target source src0: dsir_importance_weights
    # and dsir_resample.
    dsir_ratio = f"""
            WITH toks AS (
                SELECT doc_id, source, {tokens} AS t FROM documents),
            uni AS (SELECT doc_id, source, unnest(t) AS g FROM toks),
            bi AS (
                SELECT doc_id, source,
                       unnest([t[i] || ' ' || t[i+1]
                               for i in generate_series(1, len(t)-1)]) AS g
                FROM toks WHERE len(t) >= 2),
            grams AS (
                SELECT doc_id, source,
                       ({md5_bucket}) % 2048 AS b
                FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)),
            q AS (SELECT b, count(*) AS qc FROM grams GROUP BY b),
            p AS (SELECT b, count(*) AS pcnt FROM grams
                  WHERE source = 'src0' GROUP BY b),
            tot AS (SELECT
                (SELECT count(*) FROM grams) AS n_raw,
                (SELECT count(*) FROM grams WHERE source = 'src0') AS n_tgt),
            ratio AS (
                SELECT b, cast(floor(1000000.0 * (
                           ln(coalesce(pcnt, 0) + 1.0)
                           - ln(cast(n_tgt + 2048 AS double))
                           - ln(qc + 1.0)
                           + ln(cast(n_raw + 2048 AS double))))
                       AS bigint) AS r
                FROM q LEFT JOIN p USING (b), tot),"""
    # Purchases and one view per (user, ts) — max event_id wins: the
    # as-of join oracles.
    asof_views = """
            WITH purchases AS (
                SELECT event_id, user_id, ts FROM events
                WHERE event_type = 'purchase'),
            views AS (
                SELECT user_id, ts, max(event_id) AS view_event_id,
                       max(value) AS view_value
                FROM events WHERE event_type = 'view' GROUP BY user_id, ts)"""

    def asof_pick(op: str) -> str:
        return f"""{asof_views}
            SELECT l.event_id, l.user_id, l.ts,
                   r.view_event_id, round(r.view_value, 2) AS view_value
            FROM purchases l
            ASOF LEFT JOIN views r
                ON l.user_id = r.user_id AND l.ts {op} r.ts
        """

    # Per-user daily event counts/cents over a gap-free day grid:
    # resample_daily and rolling_activity.
    daily_grid = """
            WITH daily AS (
                SELECT user_id, cast(ts AS date) AS day,
                       count(*) AS n_events,
                       cast(sum(cast(floor(value * 100 + 0.5) AS bigint))
                            AS bigint) AS value_cents
                FROM events GROUP BY 1, 2),
            span AS (
                SELECT user_id, min(day) AS d0, max(day) AS d1
                FROM daily GROUP BY 1),
            grid_ts AS (
                SELECT user_id,
                       unnest(generate_series(cast(d0 AS timestamp),
                                              cast(d1 AS timestamp),
                                              INTERVAL 1 DAY)) AS day_ts
                FROM span),
            grid AS (
                SELECT user_id, cast(day_ts AS date) AS day FROM grid_ts)"""
    grid_fill = """
            SELECT g.user_id, g.day,
                   coalesce(d.n_events, 0) AS n_events,
                   coalesce(d.value_cents, 0) AS value_cents
            FROM grid g LEFT JOIN daily d USING (user_id, day)"""
    # The two corpus runs (old, new) of the corpus-versioning oracles.
    corpus_runs = """
            WITH old AS (SELECT doc_id, source, text FROM documents),
            new AS (
                SELECT doc_id,
                       CASE WHEN doc_id % 23 = 0 THEN 'remix'
                            ELSE source END AS source,
                       CASE WHEN doc_id % 13 = 0 THEN text || ' [r2]'
                            ELSE text END AS text
                FROM documents WHERE doc_id % 17 <> 0
                UNION ALL
                SELECT doc_id + 10000000, 'synthetic', text
                FROM documents WHERE doc_id % 19 = 0)"""
    # Per-doc merge of overlapping ``iv(doc_id, s, e)`` intervals into
    # spans: contamination_spans and exact_substring_spans.
    merged_spans = """
            m AS (
                SELECT doc_id, s, e,
                       max(e) OVER (PARTITION BY doc_id ORDER BY s, e
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND 1 PRECEDING) AS pme
                FROM iv),
            isl AS (
                SELECT doc_id, s, e,
                       sum(CASE WHEN pme IS NULL OR s > pme
                           THEN 1 ELSE 0 END)
                           OVER (PARTITION BY doc_id ORDER BY s, e)
                           AS island
                FROM m)
            SELECT doc_id,
                   cast(min(s) AS bigint) AS span_start,
                   cast(max(e) AS bigint) AS span_end,
                   cast(max(e) - min(s) AS bigint) AS span_len
            FROM isl GROUP BY doc_id, island"""
    # Scheme, host, port and path of the crawl URL planted on each doc
    # (domain_mix adds query and fragment; domain_blocklist does not).
    planted_url = """(CASE WHEN doc_id % 3 = 0 THEN 'HTTPS://'
                             ELSE 'http://' END)
                       || (['www.Example.COM','docs.example.com',
                            'News.Site.org','cdn.assets.net'])
                          [cast(doc_id % 4 AS int) + 1]
                       || (CASE WHEN doc_id % 5 = 0 THEN
                             CASE WHEN doc_id % 3 = 0 THEN ':443'
                                  ELSE ':80' END
                           ELSE '' END)
                       || '/p/' || cast(doc_id % 40 AS varchar)
                       || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)"""
    # Documents re-lined into 6-token lines with a German line on
    # doc_id % 4 and a French line on % 6: line_language_mix and
    # language_split.
    multilingual_pages = """
            WITH synth AS (
                SELECT doc_id,
                    (CASE WHEN doc_id % 4 = 0
                        THEN 'der hund ist nicht da und ich' || chr(10)
                        ELSE '' END)
                    || array_to_string(
                        [array_to_string(l[(i*6+1):(i*6+6)], ' ')
                         for i in generate_series(0, (len(l) - 1) // 6)],
                        chr(10))
                    || (CASE WHEN doc_id % 6 = 0
                        THEN chr(10) || 'le chat est dans la maison pour'
                        ELSE '' END) AS text
                FROM (SELECT doc_id, string_split(text, ' ') AS l
                      FROM documents))"""
    # Per-doc token count, distinct count and bigram list:
    # curation_funnel and repetition_signals.
    token_bigrams = f"""
            WITH t AS (SELECT doc_id, {tokens} AS toks FROM documents),
            b AS (
                SELECT doc_id, toks, len(toks) AS n,
                       len(list_distinct(toks)) AS nd,
                       [array_to_string(toks[i:i+1], ' ')
                           for i in generate_series(
                               1, greatest(len(toks)-2, 0)+1)] AS big
                FROM t)"""
    # Per-doc 64-bit md5 prefixes of the token-bigram shingles:
    # fingerprint_overlap_pairs and winnowing_fingerprints.
    shingle_hashes = f"""
            WITH toks AS (
                SELECT doc_id, {tokens} AS tokens FROM documents),
            hashes AS (
                SELECT doc_id,
                       list_transform(
                           [array_to_string(tokens[i:i+2], ' ')
                            for i in generate_series(
                                1, greatest(len(tokens)-3, 0)+1)],
                           g -> md5(g)[1:16]) AS h
                FROM toks)"""
    # Exact top-10 cosine kNN of the vec_id < 5 queries over the rest.
    knn_exact = f"""
            SELECT query_id, neighbor_id, rank, cosine FROM (
                SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                       round({cos}, 4) AS cosine,
                       row_number() OVER (
                           PARTITION BY q.vec_id
                           ORDER BY round({cos}, 4) DESC, c.vec_id ASC) AS rank
                FROM embeddings q, embeddings c
                WHERE q.vec_id < 5 AND c.vec_id >= 5)
            WHERE rank <= 10
        """

    def lloyd_c2(a: str) -> str:
        """Lowest-8-id init plus two _lloyd_iter iterations over ``e``
        (assignment CTEs ``{a}1``, ``{a}2``), ending at centroids c2."""
        return f"""
            dims AS (
                SELECT vec_id, generate_subscripts(v, 1) AS d,
                       unnest(v) AS val
                FROM e),
            c0 AS (
                SELECT cast(row_number() OVER (ORDER BY vec_id) - 1
                            AS int) AS cid, v
                FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT 8)),
            {_lloyd_iter('c0', a + '1', 'c1')},
            {_lloyd_iter('c1', a + '2', 'c2')}"""

    # each ``e`` vector's c2 centroid (round-6 cosine, ties to lower cid)
    assign_c2 = """
                SELECT vec_id, cid FROM (
                    SELECT e.vec_id, c.cid,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY round(list_dot_product(e.v, c.v)
                                   / (sqrt(list_dot_product(e.v, e.v))
                                      * sqrt(list_dot_product(c.v, c.v))),
                                   6) DESC,
                                   c.cid ASC) AS rn
                    FROM e CROSS JOIN c2 c)
                WHERE rn = 1"""

    def ivf_probes(a: str) -> str:
        """IVF over the vec_id >= 5 corpus ``e`` (``lloyd_c2(a)`` lists,
        ``assign``) and each vec_id < 5 query's 2 nearest lists."""
        return f"""
            WITH eall AS (
                SELECT vec_id,
                       list_transform(embedding, x -> x::DOUBLE) AS v
                FROM embeddings),
            e AS (SELECT vec_id, v FROM eall WHERE vec_id >= 5),
            qs AS (SELECT vec_id, v FROM eall WHERE vec_id < 5),
            {lloyd_c2(a)},
            assign AS ({assign_c2}),
            probes AS (
                SELECT query_id, cid FROM (
                    SELECT q.vec_id AS query_id, c.cid,
                           row_number() OVER (
                               PARTITION BY q.vec_id
                               ORDER BY round(list_dot_product(q.v, c.v)
                                   / (sqrt(list_dot_product(q.v, q.v))
                                      * sqrt(list_dot_product(c.v, c.v))),
                                   6) DESC,
                                   c.cid DESC) AS rn
                    FROM qs q CROSS JOIN c2 c)
                WHERE rn <= 2)"""

    # recall_bp of an ``approx(query_id, neighbor_id)`` CTE against the
    # round-4 exact top-10 of ``qs`` over ``e``
    recall_vs_exact = """
            exact AS (
                SELECT query_id, neighbor_id FROM (
                    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                           row_number() OVER (
                               PARTITION BY q.vec_id
                               ORDER BY round(list_dot_product(c.v, q.v)
                                   / (sqrt(list_dot_product(c.v, c.v))
                                      * sqrt(list_dot_product(q.v, q.v))),
                                   4) DESC,
                                   c.vec_id ASC) AS rn
                    FROM qs q CROSS JOIN e c)
                WHERE rn <= 10),
            hits AS (
                SELECT ex.query_id, ex.neighbor_id,
                       CASE WHEN ap.neighbor_id IS NOT NULL
                            THEN 1 ELSE 0 END AS hit
                FROM exact ex
                LEFT JOIN approx ap
                    ON ap.query_id = ex.query_id
                       AND ap.neighbor_id = ex.neighbor_id)
            SELECT query_id,
                   cast(count(*) AS bigint) AS n_exact,
                   cast(sum(hit) AS bigint) AS n_hits,
                   cast(sum(hit) * 10000 // count(*) AS bigint)
                       AS recall_bp
            FROM hits GROUP BY 1"""
    # Shared by duplicate_clusters and duplicate_clusters_star, which
    # registers the same query under its older name.
    duplicate_clusters_sql = f"""{cc_reach(ngram_pairs)}
            SELECT id AS doc_id, min(comp) AS component
            FROM reach GROUP BY id
        """
    # BM25 (k1=1.2, b=0.75) over documents for the doc_id % 101 = 0
    # queries, as micro-unit per-term contributions: shared by
    # bm25_search, bm25_search_pruned (which joins a pruned term
    # dictionary), hybrid_retrieval_rrf and retrieval_quality.
    bm25_ctes = f"""
            WITH toks AS (SELECT doc_id, {tokens} AS t FROM documents),
            postings AS (
                SELECT doc_id, x AS term, cast(count(*) AS bigint) AS tf
                FROM (SELECT doc_id, unnest(t) AS x FROM toks)
                GROUP BY doc_id, x),
            dl AS (
                SELECT doc_id, sum(tf) AS dl
                FROM postings GROUP BY doc_id),
            stats AS (
                SELECT cast(count(*) AS bigint) AS n_docs,
                       cast(sum(dl) AS bigint) AS sum_dl
                FROM dl),
            dft AS (
                SELECT term, cast(count(*) AS bigint) AS df
                FROM postings GROUP BY term),"""
    bm25_terms = """
                JOIN postings p USING (term)
                JOIN dft f USING (term)"""
    bm25_terms_kept = """
                JOIN dft_kept f USING (term)
                JOIN postings p USING (term)"""

    def bm25_contrib(term_joins: str) -> str:
        return f"""
            qterms AS (
                SELECT DISTINCT doc_id AS query_id, x AS term
                FROM (SELECT doc_id, unnest(t) AS x
                      FROM toks WHERE doc_id % 101 = 0)),
            contrib AS (
                SELECT q.query_id, p.doc_id,
                       cast(floor(1000000.0 * (
                           ln(1.0 + (s.n_docs - f.df + 0.5)
                                    / (f.df + 0.5))
                           * ((p.tf * (1.2 + 1.0))
                              / (p.tf + 1.2 * ((1.0 - 0.75)
                                 + 0.75 * (l.dl
                                     / (cast(s.sum_dl AS double)
                                        / cast(s.n_docs AS double))))))
                       )) AS bigint) AS c_micro
                FROM qterms q
                {term_joins}
                JOIN dl l ON l.doc_id = p.doc_id
                CROSS JOIN stats s),"""

    bm25_top10 = """
            scores AS (
                SELECT query_id, doc_id,
                       cast(sum(c_micro) AS bigint) AS score_micro
                FROM contrib GROUP BY query_id, doc_id),
            ranked AS (
                SELECT query_id, doc_id, score_micro,
                       cast(row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY score_micro DESC, doc_id ASC
                       ) AS bigint) AS rank
                FROM scores)
            SELECT query_id, rank, doc_id, score_micro
            FROM ranked WHERE rank <= 10
        """
    # BM25@20 and dense cosine@20 with their integer-reciprocal RRF
    # terms (hybrid_retrieval_rrf, retrieval_quality).
    hybrid_rrf_ctes = f"""
            lex AS (
                SELECT query_id, doc_id,
                       row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY sum(c_micro) DESC, doc_id ASC
                       ) AS rank
                FROM contrib GROUP BY query_id, doc_id),
            dense AS (
                SELECT query_id, doc_id, rank FROM (
                    SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
                           row_number() OVER (
                               PARTITION BY q.vec_id
                               ORDER BY round({cos}, 4) DESC,
                                        c.vec_id ASC) AS rank
                    FROM embeddings q, embeddings c
                    WHERE q.vec_id % 101 = 0)
                WHERE rank <= 20),
            unioned AS (
                SELECT query_id, doc_id, 1000000 // (60 + rank) AS rr
                FROM lex WHERE rank <= 20
                UNION ALL
                SELECT query_id, doc_id, 1000000 // (60 + rank) AS rr
                FROM dense),"""
    # Paragraphs (3-token chunks) exploded with their integer
    # occurrence key doc_id * 1e6 + position, and the ordered rebuild of
    # each doc from its ``kept`` paragraphs: the paragraph_* oracles.
    para_ex = f"""
            WITH toks AS (
                SELECT doc_id, {tokens} AS tokens FROM documents),
            docs AS (
                SELECT doc_id,
                       [array_to_string(tokens[3*i+1 : 3*i+3], ' ')
                        for i in generate_series(
                            0, cast(floor((len(tokens)-1) / 3.0)
                                    AS bigint))] AS paras
                FROM toks),
            ex AS (
                SELECT doc_id, generate_subscripts(paras, 1) AS pos,
                       unnest(paras) AS para,
                       doc_id * 1000000
                           + generate_subscripts(paras, 1) - 1 AS k
                FROM docs)"""
    para_kept_text = """
            reb AS (
                SELECT doc_id, list(para ORDER BY pos) AS kparas,
                       count(*) AS nk
                FROM kept GROUP BY 1)
            SELECT d.doc_id,
                   coalesce(array_to_string(r.kparas, ' | '), '')
                       AS kept_text,
                   cast(len(d.paras) AS bigint) AS n_paras,
                   cast(len(d.paras) - coalesce(r.nk, 0) AS bigint)
                       AS n_paras_removed
            FROM docs d LEFT JOIN reb r USING (doc_id)"""
    # Silver rows of the orders-derived videos: videos_bronze_to_silver
    # (all orders) and videos_silver_sql (the first 500).
    videos_silver_all = """
            SELECT 'vid' || o_orderkey AS video_id,
                   o_orderpriority || ' order ' || o_orderkey AS title,
                   cast(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S')
                        AS timestamp) AS published_at,
                   'chan' || (o_custkey % 10) AS channel_title,
                   'PT' || (o_orderkey % 60) || 'M' || (o_custkey % 60) || 'S'
                       AS duration,
                   (o_orderkey % 60) * 60 + (o_custkey % 60)
                       AS duration_seconds,
                   CASE WHEN o_orderkey % 97 = 0 THEN NULL
                        ELSE cast(floor(o_totalprice) AS bigint) END
                       AS view_count,
                   CASE WHEN o_orderkey % 5 = 0 THEN NULL
                        ELSE o_orderkey % 1000 END AS like_count,
                   o_custkey % 100 AS comment_count
            FROM orders
        """
    # Shared by rest_ingest_videos (transport-seam connector) and
    # python_datasource_videos (Spark 4 Python Data Source) — both must
    # land byte-identical silver rows.
    videos_silver_sql = f"""{videos_silver_all}
            WHERE o_orderkey IN (
                SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 500)
        """
    out = {
        "kpi_event_type_counts": """
            SELECT lower(coalesce(event_type, 'unknown')) AS event_type,
                   count(*) AS n
            FROM events GROUP BY 1
        """,
        "kpi_totals": """
            SELECT (SELECT count(*) FROM orders) AS total_orders,
                   (SELECT count(*) FROM lineitem) AS total_lineitems
        """,
        "clean_documents": """
            SELECT doc_id, trim(coalesce(text, '')) AS text, lang
            FROM documents
            WHERE length(trim(coalesce(text, ''))) > 0
        """,
        "safe_cast_props": """
            SELECT event_id,
                   try_cast(json_extract_string(props, '$.k') AS int) AS k,
                   coalesce(try_cast(json_extract_string(props, '$.k') AS int),
                            -1) AS k_or_default
            FROM events
        """,
        "per_group_limit": """
            SELECT user_id, event_id, ts, rn FROM (
                SELECT user_id, event_id, ts,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id ASC) AS rn
                FROM events) WHERE rn <= 5
        """,
        "iso_duration_parse": """
            SELECT doc_id,
                   'PT' || (n_chars % 60) || 'M' || (doc_id % 60) || 'S'
                       AS duration,
                   (n_chars % 60) * 60 + (doc_id % 60) AS duration_seconds
            FROM documents
        """,
        "partitioned_sink_roundtrip": """
            SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
            FROM events WHERE cast(ts AS date) = date '2024-01-01'
            GROUP BY event_type
        """,
        "json_sink_roundtrip": """
            SELECT lang, count(*) AS n_docs,
                   cast(sum(n_chars) AS bigint) AS total_chars
            FROM documents WHERE doc_id % 3 = 1
            GROUP BY lang
        """,
        "variant_extract": """
            SELECT event_id,
                   try_cast(json_extract_string(props, '$.k') AS bigint)
                       AS k_int,
                   json_extract_string(props, '$.k') AS k_str,
                   (props IS NOT NULL AND json_valid(props)) AS parsed
            FROM events
        """,
        "rest_ingest_videos": videos_silver_sql,
        # same landed rows by contract, different connector surface
        # (Spark 4 Python Data Source, io/pyds.py)
        "python_datasource_videos": videos_silver_sql,
        "python_datasource_videos_stream": videos_silver_sql,
        # same silver rows, restricted to the pushed id list
        "python_datasource_pushdown": f"""
            SELECT * FROM ({videos_silver_sql})
            WHERE cast(substr(video_id, 4) AS bigint) < 200
        """,
        "python_datasource_stream_sink": f"""
            SELECT video_id, title,
                   strftime(published_at, '%Y-%m-%d %H:%M:%S')
                       AS published_at,
                   channel_title, duration, duration_seconds,
                   view_count, like_count, comment_count
            FROM ({videos_silver_sql})
        """,
        # same silver rows through the gold_export sink roundtrip; the
        # export contract carries published_at as its formatted string
        "python_datasource_sink": f"""
            SELECT video_id, title,
                   strftime(published_at, '%Y-%m-%d %H:%M:%S')
                       AS published_at,
                   channel_title, duration, duration_seconds,
                   view_count, like_count, comment_count
            FROM ({videos_silver_sql})
        """,
        "rest_ingest_comments": """
            SELECT 'vid' || (doc_id % 100) AS videoId,
                   'c' || doc_id AS commentId,
                   'user' || (doc_id % 50) AS author,
                   CASE WHEN doc_id % 13 = 0 THEN '   '
                        WHEN doc_id % 17 = 0 THEN NULL
                        ELSE text END AS text,
                   CASE WHEN doc_id % 5 = 0 THEN NULL
                        ELSE doc_id % 200 END AS likes,
                   strftime(timestamp '2024-01-01 00:00:00'
                            + doc_id * INTERVAL 1 MINUTE,
                            '%Y-%m-%d %H:%M:%S') AS publishedAt,
                   cast(NULL AS varchar) AS error
            FROM documents
        """,
        "videos_bronze_to_silver": videos_silver_all,
        "comments_bronze_to_silver": """
            WITH b AS (
                SELECT 'vid' || (doc_id % 100) AS videoId,
                       'c' || doc_id AS commentId,
                       'user' || (doc_id % 50) AS author,
                       CASE WHEN doc_id % 13 = 0 THEN '   '
                            WHEN doc_id % 17 = 0 THEN NULL
                            ELSE text END AS text,
                       CASE WHEN doc_id % 5 = 0 THEN NULL
                            ELSE doc_id % 200 END AS likes,
                       timestamp '2024-01-01 00:00:00'
                           + doc_id * INTERVAL 1 MINUTE AS publishedAt,
                       CASE WHEN doc_id % 19 = 0 THEN 'quotaExceeded'
                            END AS error
                FROM documents)
            SELECT videoId, commentId, author,
                   trim(coalesce(text, '')) AS text,
                   cast(coalesce(likes, 0) AS bigint) AS likes,
                   publishedAt
            FROM b
            WHERE error IS NULL
              AND length(trim(coalesce(text, ''))) > 0
        """,
        "envelope_explode": """
            SELECT 'c' || doc_id AS commentId,
                   'user' || (doc_id % 50) AS author,
                   CASE WHEN doc_id % 13 = 0 THEN '   '
                        WHEN doc_id % 17 = 0 THEN NULL
                        ELSE text END AS text,
                   CASE WHEN doc_id % 5 = 0 THEN NULL
                        ELSE doc_id % 200 END AS likes
            FROM documents
        """,
        "medallion_kpis": f"""
            WITH videos AS (
                SELECT o_orderpriority || ' order ' || o_orderkey AS title
                FROM orders),
            cb AS (
                SELECT CASE WHEN doc_id % 13 = 0 THEN '   '
                            WHEN doc_id % 17 = 0 THEN NULL
                            ELSE text END AS rawtext,
                       CASE WHEN doc_id % 19 = 0 THEN 'quotaExceeded'
                            END AS error
                FROM documents),
            comments AS (
                SELECT trim(coalesce(rawtext, '')) AS text FROM cb
                WHERE error IS NULL
                  AND length(trim(coalesce(rawtext, ''))) > 0),
            vs AS (
                SELECT {sentiment_case('title')} AS sentiment, count(*) AS n
                FROM videos GROUP BY 1),
            cs AS (
                SELECT {sentiment_case('text')} AS sentiment, count(*) AS n
                FROM comments GROUP BY 1),
            va AS (
                SELECT cast(sum(n) AS bigint) AS total_videos,
                       string_agg(sentiment || '=' || n, ','
                                  ORDER BY sentiment)
                           AS video_sentiment_counts
                FROM vs),
            ca AS (
                SELECT cast(sum(n) AS bigint) AS total_comments,
                       string_agg(sentiment || '=' || n, ','
                                  ORDER BY sentiment)
                           AS comment_sentiment_counts
                FROM cs)
            SELECT total_videos, total_comments,
                   video_sentiment_counts, comment_sentiment_counts
            FROM va, ca
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   round(sum(l_quantity), 2) AS sum_qty,
                   round(sum(l_extendedprice), 2) AS sum_base_price,
                   round(sum(l_extendedprice * (1 - l_discount)), 2)
                       AS sum_disc_price,
                   round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2)
                       AS sum_charge,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(avg(l_extendedprice), 4) AS avg_price,
                   round(avg(l_discount), 4) AS avg_disc,
                   count(*) AS count_order
            FROM lineitem
            WHERE l_shipdate <= timestamp '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
        """,
        "shipping_priority": """
            SELECT l_orderkey, o_orderdate,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM customer
            JOIN orders ON o_custkey = c_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < timestamp '1995-03-15 00:00:00'
              AND l_shipdate > timestamp '1995-03-15 00:00:00'
            GROUP BY l_orderkey, o_orderdate
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "local_supplier_volume": """
            SELECT n_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE c_nationkey = s_nationkey AND r_name = 'ASIA'
            GROUP BY n_name
        """,
        "asof_join": asof_pick(">="),
        "range_join_bands": """
            WITH bands(band, lo, hi) AS (VALUES
                ('band_0_50k', 0.0, 50000.0),
                ('band_50_100k', 50000.0, 100000.0),
                ('band_100_150k', 100000.0, 150000.0),
                ('band_150_200k', 150000.0, 200000.0),
                ('band_200_300k', 200000.0, 300000.0),
                ('band_300k_up', 300000.0, 1e9))
            SELECT band, count(*) AS n,
                   round(avg(o_totalprice), 2) AS avg_price
            FROM orders JOIN bands
                ON o_totalprice >= lo AND o_totalprice < hi
            GROUP BY band
        """,
        "top_orders": """
            SELECT o_orderkey, o_custkey, o_totalprice
            FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
        """,
        "agg_suite": """
            SELECT count(*) AS n_rows,
                   count(DISTINCT l_orderkey) AS n_orders,
                   count(DISTINCT l_partkey) AS n_parts,
                   round(min(l_quantity), 2) AS min_qty,
                   round(max(l_quantity), 2) AS max_qty,
                   round(avg(l_quantity), 4) AS avg_qty,
                   round(sum(l_extendedprice), 2) AS sum_price,
                   round(stddev_samp(l_discount), 4) AS sd_disc
            FROM lineitem
        """,
        "rollup_agg": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(l_quantity), 2) AS sum_qty
            FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        """,
        "cube_agg": """
            SELECT o_orderstatus, o_orderpriority, count(*) AS n
            FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        """,
        "anti_join": """
            SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        """,
        "semi_join": """
            SELECT s_suppkey, s_name FROM supplier
            WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey)
        """,
        # The bloom stage only prunes what the exchange ships; the exact
        # verify makes the OUTPUT a plain semi-join, which is the oracle.
        "bloom_semi_join": """
            SELECT o_orderpriority,
                   cast(count(*) AS bigint) AS n_orders,
                   cast(sum(cast(floor(o_totalprice * 100) AS bigint))
                        AS bigint) AS revenue_cents
            FROM orders
            WHERE o_custkey IN (SELECT c_custkey FROM customer
                                WHERE c_acctbal > 9000)
            GROUP BY o_orderpriority
        """,
        # Deterministic replay of the md5-probe bitmap (m=256, k=2):
        # build words via bit_or of 2^(pos%32), then re-probe every
        # distinct fact key — false positives and all.
        "bloom_prune_report": f"""
            WITH build AS (
                SELECT DISTINCT c_custkey AS k FROM customer
                WHERE c_acctbal > 9000),
            bpos AS (
                SELECT {bloom.bloom_probe_sql('k', 0, 256)} AS pos FROM build
                UNION
                SELECT {bloom.bloom_probe_sql('k', 1, 256)} AS pos FROM build),
            words AS (
                SELECT pos // 32 AS w,
                       bit_or(cast(2 ** (pos % 32) AS bigint)) AS word
                FROM bpos GROUP BY 1),
            probe AS (
                SELECT o_custkey AS k FROM orders
                WHERE o_custkey IS NOT NULL),
            keys AS (
                SELECT DISTINCT k,
                       {bloom.bloom_probe_sql('k', 0, 256)} AS p0,
                       {bloom.bloom_probe_sql('k', 1, 256)} AS p1
                FROM probe),
            kpass AS (
                SELECT k,
                    ((SELECT coalesce(max(word), 0) FROM words
                      WHERE w = p0 // 32)
                     // cast(2 ** (p0 % 32) AS bigint)) % 2 = 1
                    AND
                    ((SELECT coalesce(max(word), 0) FROM words
                      WHERE w = p1 // 32)
                     // cast(2 ** (p1 % 32) AS bigint)) % 2 = 1
                    AS bloom_pass
                FROM keys),
            joined AS (
                SELECT p.k, kp.bloom_pass,
                       (b.k IS NOT NULL) AS hit
                FROM probe p
                JOIN kpass kp USING (k)
                LEFT JOIN build b ON p.k = b.k)
            SELECT cast(count(*) AS bigint) AS n_probe,
                   cast(sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END)
                        AS bigint) AS n_bloom_pass,
                   cast(sum(CASE WHEN hit THEN 1 ELSE 0 END)
                        AS bigint) AS n_true_match,
                   cast(sum(CASE WHEN bloom_pass AND NOT hit
                            THEN 1 ELSE 0 END) AS bigint) AS n_false_pos,
                   cast(floor(10000 * sum(CASE WHEN bloom_pass
                                          THEN 1 ELSE 0 END) / count(*))
                        AS bigint) AS pass_rate_bp
            FROM joined
        """,
        "outer_join_agg": """
            SELECT c_custkey,
                   count(o_orderkey) AS n_orders,
                   round(coalesce(sum(o_totalprice), 0.0), 2) AS total_spent
            FROM customer LEFT JOIN orders ON o_custkey = c_custkey
            GROUP BY c_custkey
        """,
        "set_ops": """
            SELECT c_custkey, 'building_buyer' AS tag FROM (
                SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
                INTERSECT SELECT o_custkey FROM orders)
            UNION ALL
            SELECT c_custkey, 'building_no_orders' AS tag FROM (
                SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
                EXCEPT SELECT o_custkey FROM orders)
        """,
        "distinct_segments": "SELECT DISTINCT c_mktsegment FROM customer",
        "string_functions": r"""
            SELECT p_partkey,
                   upper(p_name) AS name_upper,
                   lower(p_brand) AS brand_lower,
                   substring(p_type, 1, 5) AS type_prefix,
                   cast(length(p_name) AS bigint) AS name_len,
                   concat_ws('|', p_brand, p_type) AS brand_type,
                   regexp_replace(p_name, 'a', '@', 'g') AS name_subbed,
                   coalesce(regexp_extract(p_name, '^\w+'), '') AS first_word
            FROM part WHERE p_name LIKE '%a%'
        """,
        "date_functions": """
            SELECT year(o_orderdate) AS order_year,
                   month(o_orderdate) AS order_month,
                   count(*) AS n,
                   min(cast(o_orderdate AS date)) AS first_day,
                   max(cast(o_orderdate AS date)) AS last_day,
                   max(date_diff('day', date '1995-01-01',
                                 cast(o_orderdate AS date))) AS max_days_since_95
            FROM orders GROUP BY 1, 2
        """,
        "math_functions": """
            SELECT l_orderkey, l_linenumber,
                   round(abs(l_discount - 0.05), 4) AS disc_dev,
                   cast(ceil(l_quantity) AS bigint) AS qty_ceil,
                   cast(floor(l_quantity) AS bigint) AS qty_floor,
                   round(sqrt(l_extendedprice), 4) AS price_sqrt,
                   l_orderkey % 7 AS key_mod,
                   least(l_quantity, 25.0) AS qty_capped,
                   greatest(l_tax, l_discount) AS max_rate
            FROM lineitem
        """,
        "case_when_bucketing": """
            SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
                        WHEN o_totalprice < 150000 THEN 'medium'
                        ELSE 'large' END AS price_band,
                   count(*) AS n,
                   round(avg(o_totalprice), 2) AS avg_price
            FROM orders GROUP BY 1
        """,
        "window_running": """
            SELECT o_custkey, o_orderkey,
                   round(sum(o_totalprice) OVER (
                       PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                       AS running_spend,
                   row_number() OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey)
                       AS order_seq
            FROM orders
        """,
        "window_lag_lead": """
            SELECT o_custkey, o_orderkey,
                   round(coalesce(lag(o_totalprice) OVER w, 0.0), 2)
                       AS prev_price,
                   round(coalesce(o_totalprice - lag(o_totalprice) OVER w, 0.0), 2)
                       AS price_delta,
                   lead(o_orderkey) OVER w AS next_orderkey
            FROM orders
            WINDOW w AS (PARTITION BY o_custkey
                         ORDER BY o_orderdate, o_orderkey)
        """,
        "pivot_event_types": """
            SELECT user_id,
                   count(*) FILTER (event_type = 'click') AS click,
                   count(*) FILTER (event_type = 'view') AS view,
                   count(*) FILTER (event_type = 'signup') AS signup,
                   count(*) FILTER (event_type = 'purchase') AS purchase,
                   count(*) FILTER (event_type = 'error') AS error
            FROM events GROUP BY user_id
        """,
        "scalar_subquery": """
            SELECT c_custkey, round(c_acctbal, 2) AS c_acctbal
            FROM customer
            WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer)
        """,
        "explode_tokens": f"""
            SELECT token, count(*) AS freq FROM (
                SELECT unnest({tokens}) AS token FROM documents)
            GROUP BY token
        """,
        "json_roundtrip": """
            SELECT event_id,
                   cast(json_extract(props, '$.k') AS int) AS k,
                   to_json(struct_pack(
                       event_id := event_id,
                       k := cast(json_extract(props, '$.k') AS int))) AS j
            FROM events
        """,
        "array_agg_functions": """
            WITH p AS (
                SELECT o_custkey,
                       list_sort(list(DISTINCT o_orderpriority)) AS priorities
                FROM orders GROUP BY o_custkey)
            SELECT o_custkey,
                   array_to_string(priorities, '|') AS priorities_csv,
                   len(priorities) AS n_distinct,
                   list_contains(priorities, '1-URGENT') AS has_urgent,
                   array_to_string(priorities[1:2], '|') AS top2_csv,
                   array_to_string(priorities, ',') AS joined
            FROM p
        """,
        "map_functions": """
            WITH c AS (
                SELECT o_custkey % 10 AS bucket, o_orderstatus,
                       count(*) AS n
                FROM orders GROUP BY 1, 2)
            SELECT bucket,
                   string_agg(o_orderstatus || '=' || n, ','
                              ORDER BY o_orderstatus) AS status_counts,
                   string_agg(o_orderstatus, ','
                              ORDER BY o_orderstatus) AS statuses,
                   count(*) AS n_statuses
            FROM c GROUP BY bucket
        """,
        "customer_order_distribution": """
            SELECT n_orders, count(*) AS n_customers FROM (
                SELECT c_custkey, count(o_orderkey) AS n_orders
                FROM customer LEFT JOIN orders ON o_custkey = c_custkey
                GROUP BY c_custkey)
            GROUP BY n_orders
        """,
        "large_orders": """
            SELECT o_orderkey, o_orderdate, o_totalprice,
                   round(sum(l_quantity), 2) AS total_qty
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY o_orderkey, o_orderdate, o_totalprice
            HAVING round(sum(l_quantity), 2) > 150
        """,
        "min_price_supplier": """
            SELECT l_partkey, l_suppkey, unit_cents FROM (
                SELECT l_partkey, l_suppkey,
                       cast(floor((l_extendedprice / l_quantity) * 100)
                            AS bigint) AS unit_cents,
                       row_number() OVER (
                           PARTITION BY l_partkey
                           ORDER BY cast(floor((l_extendedprice / l_quantity)
                                               * 100) AS bigint) ASC,
                                    l_suppkey ASC) AS rn
                FROM lineitem)
            WHERE rn = 1
        """,
        "unpivot_metrics": """
            WITH agg AS (
                SELECT l_returnflag,
                       round(sum(l_quantity), 2) AS sum_qty,
                       round(sum(l_extendedprice), 2) AS sum_price
                FROM lineitem GROUP BY l_returnflag)
            SELECT l_returnflag, metric, val
            FROM agg UNPIVOT (val FOR metric IN (sum_qty, sum_price))
        """,
        "returned_items": """
            SELECT c_custkey, c_name,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE l_returnflag = 'R'
            GROUP BY c_custkey, c_name
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """,
        "grouping_sets": """
            SELECT l_returnflag, l_linestatus, count(*) AS n,
                   round(sum(l_extendedprice), 2) AS sum_price
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """,
        "forecast_revenue": """
            SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= timestamp '1996-01-01'
              AND l_shipdate < timestamp '1997-01-01'
              AND l_discount BETWEEN 0.02 AND 0.04
              AND l_quantity < 24
        """,
        "volume_shipping": """
            SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                   CAST(year(l_shipdate) AS BIGINT) AS l_year,
                   round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
            FROM lineitem
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation n1 ON s_nationkey = n1.n_nationkey
            JOIN nation n2 ON c_nationkey = n2.n_nationkey
            WHERE n1.n_name IN ('NATION_3', 'NATION_8')
              AND n2.n_name IN ('NATION_3', 'NATION_8')
              AND n1.n_name <> n2.n_name
              AND l_shipdate BETWEEN timestamp '1996-01-01'
                                 AND timestamp '1997-12-31'
            GROUP BY 1, 2, 3
        """,
        "market_share": """
            WITH agg AS (
                SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
                       round(sum(CASE WHEN n1.n_name = 'NATION_3'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0 END), 2) AS nation_volume,
                       round(sum(l_extendedprice * (1 - l_discount)), 2)
                           AS total_volume
                FROM lineitem
                JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation n1 ON s_nationkey = n1.n_nationkey
                JOIN orders ON l_orderkey = o_orderkey
                WHERE o_orderdate >= timestamp '1996-01-01'
                  AND o_orderdate < timestamp '1998-01-01'
                  AND o_custkey IN (
                      SELECT c_custkey FROM customer
                      JOIN nation n2 ON c_nationkey = n2.n_nationkey
                      JOIN region ON n2.n_regionkey = r_regionkey
                      WHERE r_name = 'ASIA')
                GROUP BY 1)
            SELECT o_year,
                   CAST(floor(nation_volume / total_volume * 10000) AS BIGINT)
                       AS mkt_share_bp,
                   nation_volume, total_volume
            FROM agg
        """,
        "product_type_profit": """
            SELECT n_name AS nation,
                   CAST(year(o_orderdate) AS BIGINT) AS o_year,
                   CAST(sum(floor((l_extendedprice * (1 - l_discount)
                              - 0.5 * p_retailprice * l_quantity) * 100))
                        AS BIGINT) AS profit_cents
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            JOIN orders ON l_orderkey = o_orderkey
            WHERE p_name LIKE '%widget%'
            GROUP BY 1, 2
        """,
        "important_parts": """
            WITH per_part AS (
                SELECT l_partkey,
                       round(sum(l_extendedprice * (1 - l_discount)), 2)
                           AS part_value
                FROM lineitem
                JOIN supplier ON l_suppkey = s_suppkey
                JOIN nation ON s_nationkey = n_nationkey
                WHERE n_name = 'NATION_3'
                GROUP BY l_partkey)
            SELECT l_partkey, part_value FROM per_part
            WHERE part_value > 0.001 * (SELECT sum(part_value) FROM per_part)
        """,
        "shipping_delay": """
            SELECT l_linestatus,
                   CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS high_line_count,
                   CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                                 THEN 1 ELSE 0 END) AS BIGINT)
                       AS low_line_count
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            WHERE l_shipdate >= timestamp '1996-01-01'
              AND l_shipdate < timestamp '1997-01-01'
              AND l_shipdate > o_orderdate + INTERVAL 60 DAY
            GROUP BY l_linestatus
        """,
        "promo_revenue": """
            WITH agg AS (
                SELECT round(sum(CASE WHEN p_type = 'PROMO'
                                      THEN l_extendedprice * (1 - l_discount)
                                      ELSE 0 END), 2) AS promo_revenue,
                       round(sum(l_extendedprice * (1 - l_discount)), 2)
                           AS total_revenue
                FROM lineitem
                JOIN part ON l_partkey = p_partkey
                WHERE l_shipdate >= timestamp '1996-03-01'
                  AND l_shipdate < timestamp '1996-04-01')
            SELECT CAST(floor(promo_revenue / total_revenue * 10000) AS BIGINT)
                       AS promo_share_bp,
                   promo_revenue, total_revenue
            FROM agg
        """,
        "top_supplier": """
            WITH rev AS (
                SELECT l_suppkey,
                       round(sum(l_extendedprice * (1 - l_discount)), 2)
                           AS total_revenue
                FROM lineitem
                WHERE l_shipdate >= timestamp '1996-01-01'
                  AND l_shipdate < timestamp '1996-04-01'
                GROUP BY l_suppkey)
            SELECT s_suppkey, s_name, total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
        """,
        "supplier_part_counts": """
            SELECT p_brand, p_type, p_size,
                   count(DISTINCT l_suppkey) AS supplier_cnt
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
              AND p_size IN (1, 4, 9, 16, 25, 36, 49)
            GROUP BY 1, 2, 3
        """,
        "small_quantity_revenue": """
            WITH j AS (
                SELECT l.* FROM lineitem l
                JOIN part p ON l.l_partkey = p.p_partkey
                           AND p.p_brand = 'Brand#2')
            SELECT round(sum(l_extendedprice), 2) AS sum_price,
                   count(*) AS n_lines
            FROM j
            WHERE l_quantity < (SELECT 0.2 * avg(j2.l_quantity)
                                FROM j j2 WHERE j2.l_partkey = j.l_partkey)
        """,
        "disjunctive_revenue": """
            SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
                   count(*) AS n_items
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
                   AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
                   AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
                   AND l_quantity BETWEEN 20 AND 30)
        """,
        "promo_part_suppliers": """
            WITH per_supp AS (
                SELECT l_suppkey, sum(l_quantity) AS promo_qty
                FROM lineitem
                JOIN part ON l_partkey = p_partkey
                WHERE p_type = 'PROMO'
                  AND l_shipdate >= timestamp '1996-01-01'
                  AND l_shipdate < timestamp '1997-01-01'
                GROUP BY l_suppkey)
            SELECT s_suppkey, s_name FROM supplier
            WHERE s_suppkey IN (
                SELECT l_suppkey FROM per_supp
                WHERE promo_qty > (SELECT 1.2 * avg(promo_qty) FROM per_supp))
        """,
        "waiting_suppliers": """
            SELECT s_name, count(DISTINCT l1.l_orderkey) AS numwait
            FROM lineitem l1
            JOIN orders ON o_orderkey = l1.l_orderkey
            JOIN supplier ON s_suppkey = l1.l_suppkey
            WHERE o_orderstatus = 'F'
              AND l1.l_shipdate > o_orderdate + INTERVAL 90 DAY
              AND EXISTS (
                  SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (
                  SELECT 1 FROM lineitem l3
                  JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o3.o_orderdate + INTERVAL 90 DAY)
            GROUP BY s_name
            ORDER BY numwait DESC, s_name ASC
            LIMIT 10
        """,
        "dormant_customers": """
            WITH cand AS (
                SELECT CAST(c_nationkey % 5 AS BIGINT) AS cntrycode,
                       c_custkey, c_acctbal
                FROM customer
                WHERE c_nationkey % 5 IN (1, 3)
                  AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
                                   WHERE c_acctbal > 0))
            SELECT cntrycode, count(*) AS numcust,
                   round(sum(c_acctbal), 2) AS totacctbal
            FROM cand
            WHERE NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = cand.c_custkey
                                AND o_orderdate >= timestamp '2000-01-01')
            GROUP BY cntrycode
        """,
        "sliding_windows": """
            WITH w AS (
                SELECT ts, value,
                       unnest([time_bucket(INTERVAL '5 minutes', ts),
                               time_bucket(INTERVAL '5 minutes', ts)
                                   - INTERVAL '5 minutes']) AS window_start
                FROM events)
            SELECT window_start, count(*) AS n,
                   round(sum(value), 2) AS sum_value
            FROM w
            WHERE ts >= window_start
              AND ts < window_start + INTERVAL '10 minutes'
            GROUP BY window_start
        """,
        "tumbling_windows": """
            SELECT time_bucket(INTERVAL '10 minutes', ts) AS window_start,
                   event_type, count(*) AS n,
                   round(sum(value), 2) AS sum_value
            FROM events GROUP BY 1, 2
        """,
        "session_windows": """
            WITH flagged AS (
                SELECT user_id, ts,
                       CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                                    ORDER BY ts)
                                 > INTERVAL '30 minutes'
                            OR lag(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts) IS NULL
                            THEN 1 ELSE 0 END AS new_session
                FROM events),
            numbered AS (
                SELECT user_id, ts,
                       sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS session_id
                FROM flagged)
            SELECT min(ts) AS session_start,
                   max(ts) + INTERVAL '30 minutes' AS session_end,
                   user_id, count(*) AS n_events
            FROM numbered GROUP BY user_id, session_id
        """,
        "upsert_latest_wins": """
            WITH base AS (
                SELECT event_id, ts, user_id, event_type, value,
                       0 AS src_rank
                FROM events),
            updates AS (
                SELECT event_id, ts + INTERVAL 1 DAY AS ts, user_id,
                       event_type, value + 100 AS value, 1 AS src_rank
                FROM events WHERE event_id % 10 = 0),
            unioned AS (
                SELECT * FROM base UNION ALL SELECT * FROM updates),
            ranked AS (
                SELECT *, row_number() OVER (
                    PARTITION BY event_id
                    ORDER BY ts DESC, src_rank DESC) AS rn
                FROM unioned)
            SELECT event_id, ts, user_id, event_type,
                   round(value, 2) AS value
            FROM ranked WHERE rn = 1
        """,
        "profile_table": """
            SELECT 'doc_id' AS column_name, count(*) AS n_rows,
                   CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_nulls,
                   count(DISTINCT doc_id) AS n_distinct
            FROM documents
            UNION ALL
            SELECT 'text', count(*),
                   CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   count(DISTINCT text)
            FROM documents
            UNION ALL
            SELECT 'lang', count(*),
                   CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   count(DISTINCT lang)
            FROM documents
            UNION ALL
            SELECT 'source', count(*),
                   CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT),
                   count(DISTINCT source)
            FROM documents
        """,
        "clustered_roundtrip": """
            SELECT o_orderstatus, count(*) AS n_orders,
                   round(sum(o_totalprice), 2) AS total_price
            FROM orders
            WHERE o_orderdate >= timestamp '1996-01-01'
              AND o_orderdate < timestamp '1997-01-01'
            GROUP BY o_orderstatus
        """,
        "scd2_intervals": """
            SELECT user_id, event_id, event_type AS state,
                   ts AS effective_from,
                   lead(ts) OVER w AS effective_to,
                   lead(ts) OVER w IS NULL AS is_current
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        """,
        "higher_order_funcs": """
            WITH arr AS (
                SELECT o_custkey,
                       list_sort(list(round(o_totalprice, 2))) AS prices
                FROM orders GROUP BY o_custkey)
            SELECT o_custkey,
                   CAST(len(list_filter(prices, p -> p > 200000)) AS BIGINT)
                       AS n_big,
                   round(list_aggregate(prices, 'sum'), 2) AS total_price,
                   CAST(floor(list_transform(prices, p -> p * 0.9)[1] * 100)
                        AS BIGINT) AS min_discounted_cents,
                   len(list_filter(prices, p -> p > 300000)) > 0 AS has_monster
            FROM arr
        """,
        "csv_roundtrip": """
            SELECT c_mktsegment, count(*) AS n_customers,
                   round(sum(c_acctbal), 2) AS total_balance
            FROM customer GROUP BY c_mktsegment
        """,
        "orc_roundtrip": """
            SELECT o_orderstatus, count(*) AS n_orders,
                   cast(sum(cast(floor(o_totalprice * 100 + 0.5) AS bigint))
                        AS bigint) AS total_cents
            FROM orders GROUP BY o_orderstatus
        """,
        "schema_evolution": """
            SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus
                        ELSE 'unknown' END AS status,
                   count(*) AS n_orders,
                   cast(sum(cast(floor(o_totalprice * 100 + 0.5) AS bigint))
                        AS bigint) AS total_cents
            FROM orders GROUP BY 1
        """,
        "value_outliers": """
            WITH th AS (
                SELECT event_type, quantile_cont(value, 0.99) AS p99
                FROM events GROUP BY event_type)
            SELECT event_id, e.event_type, value, round(p99, 4) AS p99
            FROM events e JOIN th ON e.event_type = th.event_type
            WHERE value > p99
        """,
        "cohort_retention": """
            WITH activity AS (
                SELECT DISTINCT user_id,
                       cast(date_trunc('week', ts) AS date) AS week
                FROM events),
            c AS (
                SELECT week,
                       min(week) OVER (PARTITION BY user_id) AS cohort_week
                FROM activity)
            SELECT cohort_week,
                   cast((week - cohort_week) / 7 AS bigint) AS week_offset,
                   count(*) AS active_users
            FROM c GROUP BY 1, 2
        """,
        "funnel_conversion": """
            WITH s0 AS (
                SELECT user_id, event_type, ts,
                       min(CASE WHEN event_type = 'view' THEN ts END)
                           OVER (PARTITION BY user_id) AS t0
                FROM events),
            s1 AS (
                SELECT *, min(CASE WHEN event_type = 'click' AND ts > t0
                                   THEN ts END)
                              OVER (PARTITION BY user_id) AS t1
                FROM s0),
            s2 AS (
                SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t1
                                   THEN ts END)
                              OVER (PARTITION BY user_id) AS t2
                FROM s1),
            per_user AS (
                SELECT user_id, max(t0) AS t0, max(t1) AS t1, max(t2) AS t2
                FROM s2 GROUP BY user_id),
            reached AS (
                SELECT count(t0) AS c0, count(t1) AS c1, count(t2) AS c2
                FROM per_user)
            SELECT cast(0 AS bigint) AS step_idx, 'view' AS step,
                   c0 AS users FROM reached
            UNION ALL SELECT 1, 'click', c1 FROM reached
            UNION ALL SELECT 2, 'purchase', c2 FROM reached
        """,
        "resample_daily": f"""{daily_grid}{grid_fill}
        """,
        "rolling_activity": f"""{daily_grid},
            dense AS ({grid_fill})
            SELECT user_id, day, n_events,
                   cast(sum(n_events) OVER w AS bigint) AS n_events_7d,
                   cast(sum(value_cents) OVER w AS bigint) AS cents_7d
            FROM dense
            WINDOW w AS (PARTITION BY user_id
                         ORDER BY (day - DATE '1970-01-01')
                         RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        """,
        "zorder_key": f"""
            SELECT event_id, user_id,
                   cast(cast(ts AS date) - DATE '1970-01-01' AS bigint)
                       AS day_num,
                   cast({zorder_key_sql(
                       "user_id",
                       "(cast(ts AS date) - DATE '1970-01-01')",
                       16,
                   )} AS bigint) AS z_key
            FROM events
        """,
        "session_conversion": """
            WITH marked AS (
                SELECT user_id, event_type, ts, event_id,
                       CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
                                 OR epoch_us(ts) - lag(epoch_us(ts)) OVER w
                                    > 30 * 60000000
                            THEN 1 ELSE 0 END AS is_new
                FROM events
                WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
            sess AS (
                SELECT user_id, event_type,
                       sum(is_new) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id
                                         ROWS UNBOUNDED PRECEDING)
                           AS session_id
                FROM marked),
            per_session AS (
                SELECT user_id, session_id, count(*) AS n_events,
                       max(CASE WHEN event_type = 'purchase'
                                THEN 1 ELSE 0 END) AS converted
                FROM sess GROUP BY 1, 2)
            SELECT CASE WHEN n_events = 1 THEN '1'
                        WHEN n_events <= 4 THEN '2-4'
                        ELSE '5+' END AS size_band,
                   count(*) AS n_sessions,
                   cast(sum(converted) AS bigint) AS n_converted
            FROM per_session GROUP BY 1
        """,
        "fuzzy_vocab": """
            WITH vocab AS (
                SELECT p_name AS name, count(*) AS n FROM part GROUP BY 1)
            SELECT a.name AS name_a, b.name AS name_b,
                   cast(levenshtein(a.name, b.name) AS bigint) AS dist,
                   a.n AS n_a, b.n AS n_b,
                   CASE WHEN b.n > a.n THEN b.name ELSE a.name END
                       AS canonical
            FROM vocab a JOIN vocab b
              ON a.name < b.name
             AND abs(len(a.name) - len(b.name)) <= 3
            WHERE levenshtein(a.name, b.name) <= 3
        """,
        "stream_static_enrich": """
            WITH dim(event_type, category) AS (VALUES
                ('view', 'browse'), ('click', 'browse'),
                ('purchase', 'transact'), ('refund', 'transact'),
                ('signup', 'account'), ('login', 'account'))
            SELECT event_id, e.event_type,
                   coalesce(d.category, 'other') AS category, value
            FROM events e LEFT JOIN dim d ON e.event_type = d.event_type
        """,
        "purchase_view_attribution": """
            SELECT p.event_id AS purchase_id, v.event_id AS view_id,
                   p.user_id, p.ts AS purchase_ts, v.ts AS view_ts
            FROM events p
            JOIN events v ON v.user_id = p.user_id
                         AND v.ts <= p.ts
                         AND v.ts >= p.ts - INTERVAL '30 minutes'
            WHERE p.event_type = 'purchase' AND v.event_type = 'view'
        """,
        "purchase_attribution_outer": """
            SELECT p.event_id AS purchase_id, v.event_id AS view_id,
                   p.user_id, p.ts AS purchase_ts, v.ts AS view_ts,
                   v.event_id IS NOT NULL AS attributed
            FROM (SELECT * FROM events WHERE event_type = 'purchase') p
            LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
                   ON v.user_id = p.user_id
                  AND v.ts <= p.ts
                  AND v.ts >= p.ts - INTERVAL '30 minutes'
        """,
        "text_stats": f"""
            SELECT lang, count(*) AS n_docs,
                   cast(sum(len({tokens})) AS bigint) AS total_words,
                   cast(sum({bpe}) AS bigint) AS total_tokens,
                   round(avg(n_chars), 4) AS avg_chars
            FROM documents GROUP BY lang
        """,
        "language_id": f"SELECT doc_id, lang, {lang} AS lang_pred FROM documents",
        "quality_scores": f"SELECT doc_id, {qual} AS quality FROM documents",
        "cms_heavy_hitters": f"""
            WITH toks AS (
                SELECT unnest({tokens}) AS token FROM documents),
            exact AS (
                SELECT token, cast(count(*) AS bigint) AS exact_n
                FROM toks GROUP BY token),
            top AS (
                SELECT token, exact_n FROM exact
                ORDER BY exact_n DESC, token ASC LIMIT 20),
            cells AS (
                SELECT r,
                       {sketches.md5_int56_sql("'42:' || r || ':' || token")}
                           % 512 AS c,
                       cast(count(*) AS bigint) AS n
                FROM toks CROSS JOIN range(4) t(r)
                GROUP BY 1, 2),
            probe AS (
                SELECT p.token, p.exact_n, t.r,
                       {sketches.md5_int56_sql("'42:' || t.r || ':' || p.token")}
                           % 512 AS c
                FROM top p CROSS JOIN range(4) t(r)),
            est AS (
                SELECT token, exact_n,
                       cast(min(coalesce(cl.n, 0)) AS bigint) AS cms_n
                FROM probe pr
                LEFT JOIN cells cl ON cl.r = pr.r AND cl.c = pr.c
                GROUP BY 1, 2)
            SELECT token, exact_n, cms_n, cms_n - exact_n AS overcount
            FROM est
        """,
        "top_tokens_per_lang": f"""
            WITH tok AS (
                SELECT lang, unnest({tokens}) AS token FROM documents),
            counts AS (
                SELECT lang, token, count(*) AS n FROM tok GROUP BY 1, 2),
            ranked AS (
                SELECT lang, token, n,
                       row_number() OVER (PARTITION BY lang
                                          ORDER BY n DESC, token ASC)
                           AS rank
                FROM counts)
            SELECT lang, cast(rank AS bigint) AS rank, token, n
            FROM ranked WHERE rank <= 5
        """,
        "distinctive_terms": f"""
            WITH tfc AS (
                SELECT doc_id, unnest({tokens}) AS term FROM documents),
            tf AS (
                SELECT doc_id, term, count(*) AS tf FROM tfc GROUP BY 1, 2),
            dfc AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(*) AS n_docs FROM documents),
            ranked AS (
                SELECT doc_id, term, tf, df,
                       tf * n_docs * 1000 // df AS score_milli,
                       row_number() OVER (
                           PARTITION BY doc_id
                           ORDER BY tf * n_docs * 1000 // df DESC, term ASC
                       ) AS rank
                FROM tf JOIN dfc USING (term) CROSS JOIN n)
            SELECT doc_id, cast(rank AS bigint) AS rank, term, tf, df,
                   score_milli
            FROM ranked WHERE rank <= 3
        """,
        "collocations": f"""
            WITH toks AS (SELECT {tokens} AS toks FROM documents),
            bg AS (
                SELECT unnest(toks[1:len(toks)-1]) AS word_a,
                       unnest(toks[2:len(toks)]) AS word_b
                FROM toks WHERE len(toks) >= 2),
            pairs AS (
                SELECT word_a, word_b, count(*) AS pair_count
                FROM bg GROUP BY 1, 2),
            uni AS (
                SELECT unnest(toks) AS w FROM toks),
            unic AS (SELECT w, count(*) AS c FROM uni GROUP BY 1),
            t AS (SELECT cast(sum(pair_count) AS bigint) AS t_pairs
                  FROM pairs)
            SELECT word_a, word_b, pair_count,
                   pair_count * t_pairs * 1000 // (ca.c * cb.c)
                       AS lift_milli
            FROM pairs
            JOIN unic ca ON pairs.word_a = ca.w
            JOIN unic cb ON pairs.word_b = cb.w
            CROSS JOIN t
            WHERE pair_count >= 3
            ORDER BY lift_milli DESC, word_a ASC, word_b ASC
            LIMIT 50
        """,
        "exact_dedup": f"""
            SELECT {fingerprint} AS fingerprint,
                   min(doc_id) AS doc_id, count(*) AS n_copies
            FROM documents GROUP BY 1
        """,
        # same canonicalization (two global regex passes, identical RE2/
        # Java character classes) + md5 group; raw fp = the shared
        # rolling_fingerprint twin
        "canonical_dedup": f"""
            SELECT md5(trim(regexp_replace(regexp_replace(lower(text),
                       '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')))
                       AS fingerprint,
                   min(doc_id) AS doc_id,
                   cast(count(*) AS bigint) AS n_copies,
                   cast(count(DISTINCT {fingerprint}) AS bigint)
                       AS n_raw_distinct
            FROM documents GROUP BY 1
        """,
        # shared quality/fingerprint macros; per-row floor(q*1e4+0.5)
        # then exact integer sums; scalar token total
        # same lexicon-generated detector; per-declared total as a
        # window over the tiny (declared, detected) aggregate
        # full per-key GROUP BY with the same integer threshold — the
        # sketch-shaped plan must land exactly this
        "mg_heavy_hitters_by_key": f"""
            WITH toks AS (
                SELECT lang, unnest({tokens}) AS token FROM documents),
            tot AS (SELECT lang, count(*) AS n_lang FROM toks GROUP BY 1)
            SELECT t.lang, t.token, cast(count(*) AS bigint) AS n
            FROM toks t JOIN tot USING (lang)
            GROUP BY t.lang, t.token, tot.n_lang
            HAVING count(*) * 150 > tot.n_lang
        """,
        "language_mismatch": f"""
            WITH per AS (
                SELECT lang AS declared_lang, {lang} AS detected_lang,
                       cast(count(*) AS bigint) AS n_docs
                FROM documents GROUP BY 1, 2)
            SELECT declared_lang, detected_lang, n_docs,
                   cast(n_docs * 1000 // sum(n_docs) OVER (
                        PARTITION BY declared_lang) AS bigint)
                       AS share_of_declared_permille
            FROM per
        """,
        "source_mixture_card": f"""
            WITH per AS (
                SELECT source,
                       cast(count(*) AS bigint) AS n_docs,
                       cast(sum(len({tokens})) AS bigint) AS n_tokens,
                       cast(sum(floor({qual} * 10000 + 0.5)) AS bigint)
                           AS sum_qbp,
                       cast(count(DISTINCT {fingerprint}) AS bigint)
                           AS n_distinct
                FROM documents GROUP BY 1),
            t AS (SELECT cast(sum(n_tokens) AS bigint) AS total FROM per)
            SELECT source, n_docs, n_tokens,
                   cast(n_tokens * 1000 // greatest(total, 1) AS bigint)
                       AS token_share_permille,
                   cast(sum_qbp // n_docs AS bigint) AS mean_quality_bp,
                   cast(n_docs - n_distinct AS bigint) AS n_dup_docs
            FROM per, t
        """,
        "token_set_dedup": f"""
            SELECT md5(array_to_string(list_sort(list_distinct({tokens})), ' '))
                       AS tokenset_key,
                   min(doc_id) AS doc_id, count(*) AS n_docs
            FROM documents GROUP BY 1
        """,
        "contamination_report": f"""{eval_grams}
            corp AS (
                SELECT doc_id, len(sh) AS n_grams, unnest(sh) AS gram
                FROM sh WHERE doc_id % 10 <> 7)
            SELECT doc_id, cast(n_grams AS bigint) AS n_grams,
                   cast(count(*) AS bigint) AS n_hit_grams,
                   cast(count(*) * 1000 // n_grams AS bigint) AS contam_milli
            FROM corp JOIN ev USING (gram)
            GROUP BY doc_id, n_grams
        """,
        # drop-side twin: same gram CTEs, survivors via NOT EXISTS
        "decontaminated_docs": f"""{eval_grams}
            corp AS (
                SELECT doc_id, unnest(sh) AS gram
                FROM sh WHERE doc_id % 10 <> 7),
            hit AS (
                SELECT DISTINCT doc_id FROM corp JOIN ev USING (gram))
            SELECT d.doc_id, d.lang,
                   cast(length(d.text) AS bigint) AS n_chars
            FROM documents d
            WHERE d.doc_id % 10 <> 7
              AND NOT EXISTS (
                  SELECT 1 FROM hit h WHERE h.doc_id = d.doc_id)
        """,
        # same fan-out as a CROSS JOIN against the threshold list
        "quality_yield_curve": f"""
            WITH q AS (
                SELECT cast(round({quality_score_sql('text')} * 10000)
                            AS bigint) AS qbp,
                       cast(len({tokens}) AS bigint) AS toks
                FROM documents),
            t AS (
                SELECT unnest([0, 2500, 5000, 6000, 7000, 8000, 9000,
                               9500]) AS threshold_bp)
            SELECT cast(threshold_bp AS bigint) AS threshold_bp,
                   cast(sum(CASE WHEN qbp >= threshold_bp THEN 1
                            ELSE 0 END) AS bigint) AS n_docs_kept,
                   cast(sum(CASE WHEN qbp >= threshold_bp THEN toks
                            ELSE 0 END) AS bigint) AS n_tokens_kept,
                   cast(floor(sum(CASE WHEN qbp >= threshold_bp THEN 1
                                  ELSE 0 END) * 10000 / count(*))
                        AS bigint) AS docs_kept_bp
            FROM q CROSS JOIN t
            GROUP BY threshold_bp
        """,
        # brute-force cross-split containment (exact fp + jaccard>=0.5)
        "corpus_overlap_report": f"""
            WITH base AS (
                SELECT doc_id, {fingerprint} AS fp, {tokens} AS tokens
                FROM documents),
            sh AS (
                SELECT doc_id, fp,
                       list_distinct([array_to_string(tokens[i:i+2], ' ')
                           for i in generate_series(
                               1, greatest(len(tokens)-3, 0)+1)]) AS sh
                FROM base),
            ca AS (SELECT * FROM sh WHERE doc_id % 3 = 0),
            cb AS (SELECT * FROM sh WHERE doc_id % 3 <> 0),
            exact_ids AS (
                SELECT DISTINCT cb.doc_id FROM cb
                JOIN (SELECT DISTINCT fp FROM ca) af ON cb.fp = af.fp),
            near_ids AS (
                SELECT DISTINCT cb.doc_id
                FROM cb JOIN ca ON
                    len(cb.sh) + len(ca.sh)
                        - len(list_intersect(cb.sh, ca.sh)) > 0
                    AND cast(len(list_intersect(cb.sh, ca.sh)) AS double)
                        / (len(cb.sh) + len(ca.sh)
                           - len(list_intersect(cb.sh, ca.sh))) >= 0.5),
            g AS (
                SELECT (SELECT count(*) FROM cb) AS n_b_docs,
                       (SELECT count(*) FROM exact_ids) AS n_exact_in_a,
                       (SELECT count(*) FROM near_ids) AS n_near_in_a)
            SELECT cast(n_b_docs AS bigint) AS n_b_docs,
                   cast(n_exact_in_a AS bigint) AS n_exact_in_a,
                   cast(n_near_in_a AS bigint) AS n_near_in_a,
                   cast(floor(n_exact_in_a * 10000 / n_b_docs)
                        AS bigint) AS exact_bp,
                   cast(floor(n_near_in_a * 10000 / n_b_docs)
                        AS bigint) AS near_bp
            FROM g
        """,
        "curation_funnel": f"""{token_bigrams},
            s AS (
                SELECT doc_id,
                       ((n - nd) * 1000 // greatest(n, 1) > 500)
                       OR (CASE WHEN n >= 2 THEN
                               list_max(list_transform(list_distinct(big),
                                   g -> len(list_filter(big, y -> y = g))))
                                   * 1000 // greatest(len(big), 1)
                           ELSE 0 END > 300)
                       OR (len(list_filter(
                               generate_series(1, greatest(n-1, 0)),
                               i -> toks[i] = toks[i+1]))
                               * 1000 // greatest(n - 1, 1) > 100)
                           AS rep_flagged
                FROM b),
            base AS (
                SELECT d.doc_id,
                       {lang} IN ('en', 'de') AS lang_ok,
                       {qual} >= 0.82 AS qual_ok,
                       {fingerprint} AS fp,
                       s.rep_flagged
                FROM documents d JOIN s ON s.doc_id = d.doc_id),
            counts AS (
                SELECT cast(count(*) AS bigint) AS input,
                       cast(sum(CASE WHEN lang_ok THEN 1 ELSE 0 END)
                           AS bigint) AS language,
                       cast(sum(CASE WHEN lang_ok AND qual_ok
                           THEN 1 ELSE 0 END) AS bigint) AS quality,
                       cast(sum(CASE WHEN lang_ok AND qual_ok
                           AND NOT rep_flagged THEN 1 ELSE 0 END)
                           AS bigint) AS repetition
                FROM base),
            kept AS (
                SELECT cast(count(*) AS bigint) AS dedup FROM (
                    SELECT fp FROM base
                    WHERE lang_ok AND qual_ok AND NOT rep_flagged
                    GROUP BY fp))
            SELECT 'input' AS stage, input AS n_docs FROM counts
            UNION ALL SELECT 'language', language FROM counts
            UNION ALL SELECT 'quality', quality FROM counts
            UNION ALL SELECT 'repetition', repetition FROM counts
            UNION ALL SELECT 'dedup', dedup FROM kept
        """,
        "repetition_signals": f"""{token_bigrams},
            s AS (
                SELECT doc_id, n,
                       (n - nd) * 1000 // greatest(n, 1) AS dup_word_milli,
                       CASE WHEN n >= 2 THEN
                           list_max(list_transform(list_distinct(big),
                               g -> len(list_filter(big, y -> y = g))))
                               * 1000 // greatest(len(big), 1)
                       ELSE 0 END AS top_bigram_milli,
                       len(list_filter(generate_series(1, greatest(n-1, 0)),
                           i -> toks[i] = toks[i+1]))
                           * 1000 // greatest(n - 1, 1) AS adjacent_repeat_milli
                FROM b)
            SELECT doc_id, cast(n AS bigint) AS n_tokens,
                   cast(dup_word_milli AS bigint) AS dup_word_milli,
                   cast(top_bigram_milli AS bigint) AS top_bigram_milli,
                   cast(adjacent_repeat_milli AS bigint)
                       AS adjacent_repeat_milli,
                   (dup_word_milli > 500 OR top_bigram_milli > 300
                    OR adjacent_repeat_milli > 100) AS flagged
            FROM s
        """,
        "pii_scan": f"""
            WITH aug AS (
                SELECT doc_id,
                       text || CASE
                           WHEN doc_id % 3 = 0 THEN
                               ' contact user' || cast(doc_id AS varchar)
                               || '@mail.example.com'
                           WHEN doc_id % 3 = 1 THEN
                               ' call 555-01'
                               || lpad(cast(doc_id % 100 AS varchar), 2, '0')
                               || ' from 10.0.'
                               || cast(doc_id % 256 AS varchar) || '.'
                               || cast((doc_id * 7) % 256 AS varchar)
                           ELSE '' END AS aug_text
                FROM documents)
            SELECT doc_id,
                   {pii_count_sql("aug_text", "email")} AS n_emails,
                   {pii_count_sql("aug_text", "phone")} AS n_phones,
                   {pii_count_sql("aug_text", "ip")} AS n_ips,
                   {pii_count_sql("aug_text", "email")}
                       + {pii_count_sql("aug_text", "phone")}
                       + {pii_count_sql("aug_text", "ip")} AS pii_total,
                   {redact_pii_sql("aug_text")} AS redacted
            FROM aug
        """,
        "tfidf_cosine_pairs": f"""
            WITH d AS (SELECT * FROM documents WHERE doc_id % 4 = 1),
            tok AS (
                SELECT doc_id AS id, unnest({tokens}) AS term FROM d),
            tf AS (
                SELECT id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
            dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
            n AS (SELECT count(*) AS n_docs FROM d),
            w AS (
                SELECT id, term, tf * n_docs * 1000 // df AS w
                FROM tf JOIN dfr USING (term) CROSS JOIN n),
            norms AS (SELECT id, sum(w * w) AS norm2 FROM w GROUP BY 1),
            dots AS (
                SELECT a.id AS id_a, b.id AS id_b, sum(a.w * b.w) AS dot
                FROM w a JOIN w b ON a.term = b.term AND a.id < b.id
                GROUP BY 1, 2),
            scored AS (
                SELECT id_a, id_b,
                       cast(floor(cast(dot AS double) * 10000
                           / (sqrt(na.norm2) * sqrt(nb.norm2))) AS bigint)
                           AS cos_bp
                FROM dots
                JOIN norms na ON na.id = id_a
                JOIN norms nb ON nb.id = id_b)
            SELECT id_a, id_b, cos_bp FROM scored WHERE cos_bp >= 9000
        """,
        "delete_by_key_roundtrip": """
            SELECT event_type, count(*) AS n_events,
                   cast(sum(user_id) AS bigint) AS sum_users
            FROM events WHERE user_id NOT IN (0,1,2,3,4,5,6,7,8,9)
            GROUP BY event_type
        """,
        "streaming_corpus_dedup": f"""
            SELECT DISTINCT {fingerprint} AS fingerprint
            FROM documents
            WHERE doc_id % 5 = 0
              AND {fingerprint} NOT IN (
                  SELECT {fingerprint} FROM documents WHERE doc_id % 5 <> 0)
        """,
        "incremental_dedup": f"""
            WITH inc AS (
                SELECT doc_id, {fingerprint} AS fingerprint
                FROM documents WHERE doc_id % 5 = 0),
            seen AS (
                SELECT DISTINCT {fingerprint} AS fingerprint
                FROM documents WHERE doc_id % 5 <> 0)
            SELECT fingerprint, min(doc_id) AS doc_id,
                   cast(count(*) AS bigint) AS n_copies
            FROM inc
            WHERE fingerprint NOT IN (SELECT fingerprint FROM seen)
            GROUP BY fingerprint
        """,
        "dataset_split": """
            SELECT doc_id,
                   CASE WHEN ((doc_id + 11) * 2654435761) % 4294967296
                            < 3435973836 THEN 'train'
                        WHEN ((doc_id + 11) * 2654435761) % 4294967296
                            < 3865470566 THEN 'val'
                        ELSE 'test' END AS split
            FROM documents
        """,
        "embedding_quantization": """
            WITH v AS (
                SELECT vec_id,
                       list_transform(embedding, x -> x::DOUBLE) AS v
                FROM embeddings),
            s AS (
                SELECT vec_id, v,
                       list_max(list_transform(v, x -> abs(x))) AS scale
                FROM v),
            s2 AS (
                SELECT vec_id, v, scale,
                       CASE WHEN scale > 0 THEN scale ELSE 1.0 END AS safe
                FROM s),
            q AS (
                SELECT vec_id, v, scale, safe,
                       list_transform(v, x -> floor(x * 127 / safe + 0.5))
                           AS q
                FROM s2)
            SELECT vec_id,
                   cast(floor(scale * 1e6) AS bigint) AS scale_micro,
                   cast(list_sum(q) AS bigint) AS q_checksum,
                   cast(list_sum(list_transform(
                       generate_series(1, len(v)),
                       i -> floor(abs(v[i] - q[i] * safe / 127) * 1e6)))
                       AS bigint) AS err_micro
            FROM q
        """,
        "pagerank_influence": graph.pagerank_sql(
            """WITH base AS (
                   SELECT 'c:' || cast(o_custkey AS varchar) AS src,
                          's:' || cast(l_suppkey AS varchar) AS dst,
                          cast(count(*) AS bigint) AS w
                   FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                   GROUP BY 1, 2)
               SELECT src, dst, w FROM base
               UNION ALL SELECT dst, src, w FROM base""",
            iterations=3,
        ),
        # contamination spans: train-gram ∩ eval-gram position cover +
        # per-doc interval merge — by construction the same positions
        # the engine's union-corpus suffix ranks mark
        "contamination_spans": f"""{eval_gram_hits}
            iv AS (SELECT doc_id, i - 1 AS s, i + 7 AS e FROM hits),
            {merged_spans}
        """,
        # decontamination rewrite: spans (gram formulation) + rebuild
        # from non-covered positions; string_agg over zero kept tokens
        # is NULL -> coalesce to '' (Spark concat_ws gives '')
        "remove_contaminated_spans": f"""{eval_gram_hits}
            cover AS (
                SELECT DISTINCT h.doc_id, p.p
                FROM hits h,
                     LATERAL (SELECT unnest(generate_series(
                         h.i, h.i + 7)) AS p) p),
            pos AS (
                SELECT doc_id, i, t[i] AS tok
                FROM tr,
                     LATERAL (SELECT unnest(generate_series(
                         1, len(t))) AS i) u),
            keep AS (
                SELECT p.doc_id, p.i, p.tok
                FROM pos p LEFT JOIN cover c
                    ON c.doc_id = p.doc_id AND c.p = p.i
                WHERE c.p IS NULL),
            rebuilt AS (
                SELECT doc_id,
                       coalesce(string_agg(tok, ' ' ORDER BY i), '')
                           AS text,
                       cast(count(*) AS bigint) AS n_tokens
                FROM keep GROUP BY doc_id)
            SELECT tr.doc_id,
                   coalesce(r.text, '') AS text,
                   cast(len(tr.t) - coalesce(r.n_tokens, 0) AS bigint)
                       AS n_tokens_removed,
                   coalesce(r.n_tokens, 0) AS n_tokens
            FROM tr LEFT JOIN rebuilt r USING (doc_id)
        """,
        # CCNet bigram-LM filter: identical add-1 model, identical
        # floor(1e6*ln P) per-transition quantization, integer // for
        # the per-token NLL; the naive global ntile(3) reproduces the
        # engine's distributed rank construction exactly (same larger-
        # buckets-first remainder rule, same (score, id) total order)
        "lm_perplexity_filter": f"""
            WITH toks AS (SELECT doc_id, lang, {tokens} AS t FROM documents),
            ref AS (SELECT * FROM toks WHERE lang = 'en'),
            refp AS (
                SELECT t[i] AS v, t[i + 1] AS w
                FROM ref,
                     LATERAL (SELECT unnest(generate_series(
                         1, len(t) - 1)) AS i) u
                WHERE len(t) >= 2),
            cvw AS (SELECT v, w, count(*) AS c FROM refp GROUP BY v, w),
            cv AS (SELECT v, sum(c) AS cv FROM cvw GROUP BY v),
            vn AS (
                SELECT count(DISTINCT x) + 1 AS vsz
                FROM (SELECT unnest(t) AS x FROM ref)),
            dp AS (
                SELECT doc_id, t[i] AS v, t[i + 1] AS w
                FROM toks,
                     LATERAL (SELECT unnest(generate_series(
                         1, len(t) - 1)) AS i) u
                WHERE len(t) >= 2),
            sp AS (
                SELECT doc_id,
                       cast(floor(1000000.0 * (
                           ln(coalesce(c, 0) + 1.0)
                           - ln(cast(coalesce(cv, 0) + vsz AS double))
                       )) AS bigint) AS lp
                FROM dp
                LEFT JOIN cvw USING (v, w)
                LEFT JOIN cv USING (v)
                CROSS JOIN vn),
            pd AS (
                SELECT doc_id,
                       cast(count(*) AS bigint) AS n_scored,
                       cast(-sum(lp) AS bigint) AS nll_micro
                FROM sp GROUP BY doc_id),
            bk AS (
                SELECT doc_id, n_scored, nll_micro,
                       nll_micro // n_scored AS nll_per_tok_micro,
                       cast(ntile(3) OVER (
                           ORDER BY nll_micro // n_scored, doc_id
                       ) AS bigint) AS ppl_bucket
                FROM pd)
            SELECT d.doc_id,
                   coalesce(bk.n_scored, 0) AS n_scored,
                   coalesce(bk.nll_micro, 0) AS nll_micro,
                   bk.nll_per_tok_micro,
                   bk.ppl_bucket
            FROM (SELECT doc_id FROM documents) d
            LEFT JOIN bk USING (doc_id)
        """,
        # BM25: identical integer model inputs (tf/df/dl/N/Σdl from the
        # same postings aggregate), the per-term double expression
        # written with the IDENTICAL literal composition ((1.2 + 1.0),
        # (1.0 - 0.75)) and op order on both engines, micro-floored
        # before the per-(query, doc) sum
        "bm25_search": f"""{bm25_ctes}{bm25_contrib(bm25_terms)}{bm25_top10}""",
        # bm25_search_pruned: the identical pipeline with the max_df
        # dial's integer predicate (df*1000 <= 775*N) applied to the
        # term dictionary before the candidate join — the dialed
        # contract itself is deterministic, so it hash-checks
        "bm25_search_pruned": f"""{bm25_ctes}
            dft_kept AS (
                SELECT f.term, f.df FROM dft f CROSS JOIN stats s
                WHERE f.df * 1000 <= 775 * s.n_docs),
            {bm25_contrib(bm25_terms_kept)}{bm25_top10}""",
        # hybrid RRF: the bm25_search CTE pipeline at depth 20, the
        # knn_bruteforce cosine ranking (same round-4dp + id tie-break
        # as the established knn oracle) at depth 20, fused with
        # integer reciprocals 1000000 // (60 + rank)
        "hybrid_retrieval_rrf": f"""{bm25_ctes}{bm25_contrib(bm25_terms)}
            {hybrid_rrf_ctes}
            fused AS (
                SELECT query_id, doc_id,
                       cast(sum(rr) AS bigint) AS rrf_micro,
                       cast(count(*) AS bigint) AS n_systems
                FROM unioned GROUP BY query_id, doc_id),
            ranked AS (
                SELECT query_id, doc_id, rrf_micro, n_systems,
                       cast(row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY rrf_micro DESC, doc_id ASC
                       ) AS bigint) AS rank
                FROM fused)
            SELECT query_id, doc_id, rank, rrf_micro, n_systems
            FROM ranked WHERE rank <= 10
        """,
        # retrieval quality: the hybrid CTE pipeline (BM25@20 + dense
        # cosine@20 + integer-reciprocal RRF) extended with the
        # truth/hit metric layer — recall in basis points via integer
        # div, MRR via the same 1000000 // rank quantization
        "retrieval_quality": f"""{bm25_ctes}{bm25_contrib(bm25_terms)}
            {hybrid_rrf_ctes}
            fused AS (
                SELECT query_id, doc_id,
                       cast(sum(rr) AS bigint) AS rrf_micro
                FROM unioned GROUP BY query_id, doc_id),
            hyb10 AS (
                SELECT query_id, doc_id, rank FROM (
                    SELECT query_id, doc_id,
                           row_number() OVER (
                               PARTITION BY query_id
                               ORDER BY rrf_micro DESC, doc_id ASC
                           ) AS rank
                    FROM fused)
                WHERE rank <= 10),
            truth AS (
                SELECT query_id, doc_id FROM dense WHERE rank <= 10),
            ntruth AS (
                SELECT query_id, cast(count(*) AS bigint) AS n_truth
                FROM truth GROUP BY query_id),
            lex10 AS (
                SELECT query_id, doc_id, rank FROM lex WHERE rank <= 10),
            hits_lex AS (
                SELECT c.query_id, cast(count(*) AS bigint) AS n_hits,
                       cast(min(c.rank) AS bigint) AS first_rank
                FROM lex10 c JOIN truth t
                  ON t.query_id = c.query_id AND t.doc_id = c.doc_id
                GROUP BY c.query_id),
            hits_hyb AS (
                SELECT c.query_id, cast(count(*) AS bigint) AS n_hits,
                       cast(min(c.rank) AS bigint) AS first_rank
                FROM hyb10 c JOIN truth t
                  ON t.query_id = c.query_id AND t.doc_id = c.doc_id
                GROUP BY c.query_id)
            SELECT 'bm25' AS system, n.query_id, n.n_truth,
                   coalesce(h.n_hits, 0) AS n_hits,
                   cast(10000 * coalesce(h.n_hits, 0) // n.n_truth
                        AS bigint) AS recall_bp,
                   cast(coalesce(1000000 // h.first_rank, 0)
                        AS bigint) AS mrr_micro
            FROM ntruth n LEFT JOIN hits_lex h USING (query_id)
            UNION ALL
            SELECT 'rrf_hybrid' AS system, n.query_id, n.n_truth,
                   coalesce(h.n_hits, 0) AS n_hits,
                   cast(10000 * coalesce(h.n_hits, 0) // n.n_truth
                        AS bigint) AS recall_bp,
                   cast(coalesce(1000000 // h.first_rank, 0)
                        AS bigint) AS mrr_micro
            FROM ntruth n LEFT JOIN hits_hyb h USING (query_id)
        """,
        # DSIR: identical bucket hash (md5_int56 seam), identical add-1
        # smoothed log-ratio composition (ln(p+1)-ln(T+B)-ln(q+1)
        # +ln(N+B)), floor-quantized to micro-units per BUCKET before
        # the per-doc integer sum — the only floats are ~2048 ln calls
        "dsir_importance_weights": f"""{dsir_ratio}
            scored AS (
                SELECT doc_id, cast(count(*) AS bigint) AS n_grams,
                       cast(sum(r) AS bigint) AS logw_micro
                FROM grams JOIN ratio USING (b) GROUP BY doc_id)
            SELECT d.doc_id,
                   coalesce(s.n_grams, 0) AS n_grams,
                   coalesce(s.logw_micro, 0) AS logw_micro
            FROM documents d LEFT JOIN scored s USING (doc_id)
        """,
        "dsir_resample": f"""{dsir_ratio}
            scored AS (
                SELECT doc_id, cast(sum(r) AS bigint) AS logw_micro
                FROM grams JOIN ratio USING (b) GROUP BY doc_id),
            w AS (
                SELECT d.doc_id,
                       coalesce(s.logw_micro, 0) AS logw_micro
                FROM documents d LEFT JOIN scored s USING (doc_id)),
            keyed AS (
                SELECT doc_id, logw_micro,
                       logw_micro + cast(floor(1000000.0 * -ln(-ln(
                           (({md5_gumbel}) % 1000000 + 0.5)
                           / 1000000.0))) AS bigint) AS key_micro
                FROM w)
            SELECT doc_id, logw_micro, key_micro FROM keyed
            ORDER BY key_micro DESC, doc_id LIMIT 100
        """,
        # exact-substring spans: the n-gram formulation — provably
        # identical position cover to the engine's suffix-array path
        # (any repeat of length m >= 8 contributes all m-7 repeated
        # 8-gram starts, whose merged intervals are the full span)
        "exact_substring_spans": f"""
            WITH toks AS (SELECT doc_id, {tokens} AS t FROM documents),
            g AS (
                SELECT doc_id, i, array_to_string(t[i:i+7], ' ') AS gram
                FROM toks,
                     LATERAL (SELECT unnest(generate_series(
                         1, len(t) - 8 + 1)) AS i) u),
            rep AS (
                SELECT doc_id, i FROM (
                    SELECT doc_id, i,
                           count(*) OVER (PARTITION BY gram) AS c
                    FROM g) WHERE c >= 2),
            iv AS (SELECT doc_id, i - 1 AS s, i + 7 AS e FROM rep),
            {merged_spans}
        """,
        # suffix-array LCP repeats: dense_rank over truncated suffix
        # windows (lists order lexicographically, shorter-prefix first
        # — matching the engine's -1 sentinel doubling order), adjacent
        # ranks joined for pairwise LCP, duplicate rank groups
        # contribute their full window length
        "longest_repeated_substrings": f"""
            WITH toks AS (SELECT doc_id, {tokens} AS t FROM documents),
            pos AS (
                SELECT doc_id, i - 1 AS p,
                       t[i:least(i + 15, len(t))] AS w
                FROM toks,
                     LATERAL (SELECT unnest(generate_series(
                         1, len(t))) AS i) u),
            ranked AS (
                SELECT doc_id, p, w,
                       dense_rank() OVER (ORDER BY w) - 1 AS r
                FROM pos),
            reps AS (
                SELECT r, any_value(w) AS w, count(*) AS c
                FROM ranked GROUP BY r),
            pairs AS (
                SELECT a.r, a.w AS wa, a.c, b.w AS wb
                FROM reps a LEFT JOIN reps b ON b.r = a.r + 1),
            lcps AS (
                SELECT r, c, len(wa) AS la,
                       CASE WHEN wb IS NULL THEN 0 ELSE coalesce(
                           list_position(list_transform(
                               generate_series(1, least(len(wa), len(wb))),
                               i -> wa[i] = wb[i]), false) - 1,
                           least(len(wa), len(wb))) END AS lcp_next
                FROM pairs),
            fromprev AS (SELECT r + 1 AS r, lcp_next AS lcp_prev FROM lcps),
            mx AS (
                SELECT l.r,
                       greatest(l.lcp_next, coalesce(f.lcp_prev, 0),
                                CASE WHEN l.c >= 2 THEN l.la ELSE 0 END)
                           AS lcp
                FROM lcps l LEFT JOIN fromprev f ON f.r = l.r)
            SELECT doc_id, cast(p AS bigint) AS pos,
                   cast(lcp AS bigint) AS lcp
            FROM ranked JOIN mx USING (r)
            WHERE lcp >= 4
            ORDER BY lcp DESC, doc_id, p
            LIMIT 100
        """,
        "duplicate_ngram_spans": f"""
            WITH toks AS (
                SELECT doc_id, {tokens} AS tokens FROM documents),
            g AS (
                SELECT doc_id,
                       unnest([array_to_string(tokens[i:i+9], ' ')
                           for i in generate_series(
                               1, greatest(len(tokens)-9, 1))]) AS gram
                FROM toks),
            spans AS (
                SELECT gram,
                       cast(count(DISTINCT doc_id) AS bigint) AS n_docs,
                       cast(count(*) AS bigint) AS n_occurrences,
                       min(doc_id) AS first_doc
                FROM g GROUP BY 1
                HAVING count(DISTINCT doc_id) >= 2)
            SELECT gram, n_docs, n_occurrences, first_doc
            FROM spans ORDER BY n_occurrences DESC, gram ASC LIMIT 100
        """,
        "ngram_jaccard_pairs": ngram_pairs,
        "duplicate_clusters": duplicate_clusters_sql,
        "duplicate_clusters_star": duplicate_clusters_sql,
        "fingerprint_overlap_pairs": f"""{shingle_hashes},
            fps AS (
                SELECT doc_id,
                       unnest(list_distinct(
                           [list_aggregate(h[i:i+3], 'min')
                            for i in generate_series(
                                1, greatest(len(h)-4, 0)+1)])) AS fp
                FROM hashes),
            pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       cast(count(*) AS bigint) AS n_shared
                FROM fps a JOIN fps b
                    ON a.fp = b.fp AND a.doc_id < b.doc_id
                GROUP BY 1, 2)
            SELECT id_a, id_b, n_shared FROM pairs WHERE n_shared >= 2
        """,
        "winnowing_fingerprints": f"""{shingle_hashes}
            SELECT doc_id,
                   unnest(list_distinct(
                       [list_aggregate(h[i:i+3], 'min')
                        for i in generate_series(
                            1, greatest(len(h)-4, 0)+1)])) AS fp
            FROM hashes
        """,
        "embedding_norms": """
            SELECT vec_id,
                   round(sqrt(list_dot_product(embedding, embedding)), 4) AS norm
            FROM embeddings
        """,
        "hash_sample": """
            SELECT doc_id, source, lang FROM documents
            WHERE ((doc_id + 7) * 2654435761) % 4294967296 < 1073741824
        """,
        "mixture_sample": """
            SELECT doc_id, source FROM documents
            WHERE ((doc_id + 3) * 2654435761) % 4294967296 <
                  CASE source WHEN 'src0' THEN 4294967296
                              WHEN 'src1' THEN 2147483648
                              WHEN 'src2' THEN 429496729
                              ELSE 858993459 END
        """,
        "weighted_sample": """
            SELECT doc_id, source, n_chars FROM documents
            WHERE ((doc_id + 5) * 2654435761) % 4294967296 <
                  cast(floor(least(n_chars, 2000) / 2000.0 * 4294967296.0)
                       AS bigint)
        """,
        "chunk_documents": f"""
            WITH toks AS (
                SELECT doc_id, {tokens} AS tokens FROM documents),
            st AS (
                SELECT doc_id, tokens,
                       generate_series(1, greatest(len(tokens), 1), 40)
                           AS starts
                FROM toks),
            ex AS (
                SELECT doc_id,
                       unnest(generate_series(0, len(starts) - 1))
                           AS chunk_idx,
                       unnest(list_transform(
                           starts, s -> list_slice(tokens, s, s + 49)))
                           AS chunk_toks
                FROM st)
            SELECT doc_id, cast(chunk_idx AS bigint) AS chunk_idx,
                   array_to_string(chunk_toks, ' ') AS chunk_text,
                   cast(len(chunk_toks) AS bigint) AS n_tokens
            FROM ex WHERE len(chunk_toks) > 0
        """,
        "pack_sequences": f"""
            WITH d AS (
                SELECT source, doc_id,
                       cast(len({tokens}) AS bigint) AS n_tokens
                FROM documents)
            SELECT source, doc_id, n_tokens,
                   cast(floor(coalesce(sum(n_tokens) OVER (
                            PARTITION BY source ORDER BY doc_id ASC
                            ROWS BETWEEN UNBOUNDED PRECEDING
                                     AND 1 PRECEDING), 0)
                        / 2048.0) AS bigint) AS pack_id
            FROM d
        """,
        # same join + rollup over the raw parquet (layout-independent)
        "bucketed_join_roundtrip": """
            SELECT c_mktsegment,
                   cast(count(*) AS bigint) AS n_orders,
                   cast(sum(floor(o_totalprice * 100)) AS bigint)
                       AS total_cents
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        # one count-distinct aggregate per candidate FD pair
        "functional_dependencies": """
            SELECT 'doc_id' AS determinant, 'lang' AS dependent,
                   cast(count(*) AS bigint) AS n_keys,
                   cast(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)
                        AS bigint) AS n_violating_keys,
                   sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0 AS holds
            FROM (SELECT doc_id, count(DISTINCT lang) AS nd
                  FROM documents GROUP BY doc_id)
            UNION ALL
            SELECT 'source', 'lang', cast(count(*) AS bigint),
                   cast(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)
                        AS bigint),
                   sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
            FROM (SELECT source, count(DISTINCT lang) AS nd
                  FROM documents GROUP BY source)
            UNION ALL
            SELECT 'lang', 'source', cast(count(*) AS bigint),
                   cast(sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END)
                        AS bigint),
                   sum(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
            FROM (SELECT lang, count(DISTINCT source) AS nd
                  FROM documents GROUP BY lang)
        """,
        # exact inner cardinality from the two per-key count tables
        "join_cardinality": """
            WITH lc AS (
                SELECT o_custkey AS k, count(*) AS cl
                FROM orders GROUP BY o_custkey),
            rc AS (
                SELECT c_custkey AS k, count(*) AS cr
                FROM customer GROUP BY c_custkey),
            m AS (SELECT cl * cr AS mm FROM lc JOIN rc USING (k))
            SELECT
                cast((SELECT count(*) FROM orders) AS bigint) AS n_left,
                cast((SELECT count(*) FROM customer) AS bigint) AS n_right,
                cast((SELECT count(*) FROM lc) AS bigint) AS n_left_keys,
                cast((SELECT count(*) FROM rc) AS bigint) AS n_right_keys,
                cast((SELECT count(*) FROM m) AS bigint) AS n_matched_keys,
                cast((SELECT coalesce(sum(mm), 0) FROM m) AS bigint)
                    AS inner_rows,
                cast((SELECT coalesce(max(mm), 0) FROM m) AS bigint)
                    AS max_key_fanout
        """,
        # same window binning as pack_sequences, reduced to one row;
        # distinct (source, pack_id) via subquery (engine-portable)
        "packing_efficiency": f"""
            WITH d AS (
                SELECT source, doc_id,
                       cast(len({tokens}) AS bigint) AS n_tokens
                FROM documents),
            p AS (
                SELECT source, n_tokens,
                       cast(floor(coalesce(sum(n_tokens) OVER (
                                PARTITION BY source ORDER BY doc_id ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), 0)
                            / 2048.0) AS bigint) AS pack_id
                FROM d),
            bins AS (
                SELECT count(*) AS n_bins FROM (
                    SELECT DISTINCT source, pack_id FROM p))
            SELECT cast(count(*) AS bigint) AS n_docs,
                   cast((SELECT n_bins FROM bins) AS bigint) AS n_bins,
                   cast(sum(n_tokens) AS bigint) AS total_tokens,
                   cast((SELECT n_bins FROM bins) * 2048 AS bigint)
                       AS capacity_tokens,
                   cast(floor(sum(n_tokens) * 10000
                        / ((SELECT n_bins FROM bins) * 2048))
                       AS bigint) AS utilization_bp,
                   cast(sum(CASE WHEN n_tokens > 2048 THEN 1 ELSE 0 END)
                       AS bigint) AS n_oversize_docs
            FROM p
        """,
        # distinct (fp, source) self-join, source_a < source_b
        "source_overlap_matrix": f"""
            WITH fs AS (
                SELECT DISTINCT {fingerprint} AS fp, source
                FROM documents)
            SELECT a.source AS source_a, b.source AS source_b,
                   cast(count(*) AS bigint) AS n_shared_texts
            FROM fs a JOIN fs b
                ON a.fp = b.fp AND a.source < b.source
            GROUP BY a.source, b.source
        """,
        # equal-width id buckets; a text is novel once, in its
        # fingerprint's MIN bucket
        "novelty_curve": f"""
            WITH b AS (
                SELECT min(doc_id) AS mn, max(doc_id) AS mx
                FROM documents),
            base AS (
                SELECT {fingerprint} AS fp,
                       least(cast(floor((doc_id - mn) * 10
                                / (mx - mn + 1)) AS bigint), 9) AS bucket
                FROM documents, b),
            pb AS (
                SELECT bucket, cast(count(*) AS bigint) AS n_docs
                FROM base GROUP BY bucket),
            fs AS (
                SELECT fp, min(bucket) AS bucket FROM base GROUP BY fp),
            nv AS (
                SELECT bucket, cast(count(*) AS bigint) AS n_novel
                FROM fs GROUP BY bucket)
            SELECT pb.bucket, pb.n_docs,
                   cast(coalesce(nv.n_novel, 0) AS bigint) AS n_novel,
                   cast(pb.n_docs - coalesce(nv.n_novel, 0) AS bigint)
                       AS n_dup,
                   cast(floor(coalesce(nv.n_novel, 0) * 10000
                        / pb.n_docs) AS bigint) AS novelty_bp
            FROM pb LEFT JOIN nv ON pb.bucket = nv.bucket
        """,
        # equal-width id buckets; cumulative vocab via per-term MIN
        # bucket (a term joins the vocabulary exactly once)
        "vocabulary_growth": f"""
            WITH b AS (
                SELECT min(doc_id) AS mn, max(doc_id) AS mx
                FROM documents),
            toks AS (
                SELECT least(cast(floor((doc_id - mn) * 10
                                 / (mx - mn + 1)) AS bigint), 9) AS bucket,
                       unnest({tokens}) AS term
                FROM documents, b),
            pb AS (
                SELECT bucket, cast(count(*) AS bigint) AS n_tokens
                FROM toks GROUP BY bucket),
            fs AS (
                SELECT term, min(bucket) AS bucket FROM toks
                GROUP BY term),
            nt AS (
                SELECT bucket, cast(count(*) AS bigint) AS new_terms
                FROM fs GROUP BY bucket)
            SELECT pb.bucket,
                   pb.n_tokens,
                   cast(sum(pb.n_tokens) OVER (
                        ORDER BY pb.bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS bigint) AS cum_tokens,
                   cast(coalesce(nt.new_terms, 0) AS bigint) AS new_terms,
                   cast(sum(coalesce(nt.new_terms, 0)) OVER (
                        ORDER BY pb.bucket
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS bigint) AS cum_vocab
            FROM pb LEFT JOIN nt ON pb.bucket = nt.bucket
        """,
        "knn_label_accuracy": f"""
            WITH sc AS (
                SELECT q.vec_id AS qid, q.label AS qlabel,
                       c.label AS nlabel, c.vec_id AS nid,
                       round({cos}, 4) AS cosine
                FROM embeddings q
                JOIN embeddings c ON c.vec_id <> q.vec_id
                WHERE q.vec_id < 200),
            r AS (
                SELECT *, row_number() OVER (PARTITION BY qid
                              ORDER BY cosine DESC, nid ASC) AS rk
                FROM sc)
            SELECT qlabel AS label, count(*) AS n_queries,
                   cast(sum(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END)
                        AS bigint) AS n_correct
            FROM r WHERE rk = 1 GROUP BY 1
        """,
        "knn_bruteforce": knn_exact,
        # With nprobe == n_centroids the inverted lists partition the
        # corpus, so IVF must equal exact brute-force KNN — same SQL.
        "knn_ivf_exhaustive": knn_exact,
        # pool gate + exclusions + md5 per-anchor rank, replayed exactly
        "contrastive_pairs": f"""
            WITH pairs AS ({ngram_pairs}),
            anchors AS (
                SELECT DISTINCT id_a AS anchor_id FROM pairs),
            pool AS (
                SELECT doc_id AS negative_id FROM documents
                ORDER BY md5(cast(doc_id AS varchar) || ':0') ASC,
                         doc_id ASC
                LIMIT 128),
            known AS (
                SELECT id_a AS anchor_id, id_b AS negative_id FROM pairs
                UNION ALL
                SELECT id_b, id_a FROM pairs),
            cand AS (
                SELECT a.anchor_id, p.negative_id,
                       md5(cast(a.anchor_id AS varchar) || ':'
                           || cast(p.negative_id AS varchar)) AS rk
                FROM anchors a JOIN pool p
                    ON a.anchor_id <> p.negative_id
                WHERE NOT EXISTS (
                    SELECT 1 FROM known k
                    WHERE k.anchor_id = a.anchor_id
                      AND k.negative_id = p.negative_id)),
            negs AS (
                SELECT anchor_id, negative_id,
                       cast(row_number() OVER (
                           PARTITION BY anchor_id
                           ORDER BY rk ASC, negative_id ASC)
                           AS bigint) AS neg_rank
                FROM cand)
            SELECT pr.id_a AS anchor_id, pr.id_b AS positive_id,
                   n.negative_id, n.neg_rank
            FROM pairs pr JOIN negs n ON n.anchor_id = pr.id_a
            WHERE n.neg_rank <= 3
        """,
        # same two aggregates: global conditional sums + per-lang counts
        "dataset_card": f"""
            WITH base AS (
                SELECT doc_id, lang,
                       cast(length(text) AS bigint) AS chars,
                       cast(len({tokens}) AS bigint) AS words,
                       cast(round({quality_score_sql('text')} * 10000)
                            AS bigint) AS qbp,
                       {fingerprint} AS fp
                FROM documents),
            g AS (
                SELECT cast(count(*) AS bigint) AS n_docs,
                       cast(sum(chars) AS bigint) AS n_chars,
                       cast(sum(words) AS bigint) AS n_tokens,
                       cast(count(DISTINCT fp) AS bigint)
                           AS n_unique_texts,
                       cast(floor(avg(qbp)) AS bigint) AS mean_quality_bp,
                       cast(min(words) AS bigint) AS min_doc_tokens,
                       cast(max(words) AS bigint) AS max_doc_tokens,
                       cast(count(DISTINCT lang) AS bigint) AS n_langs
                FROM base)
            SELECT 'n_docs' AS metric, n_docs AS value FROM g
            UNION ALL SELECT 'n_chars', n_chars FROM g
            UNION ALL SELECT 'n_tokens', n_tokens FROM g
            UNION ALL SELECT 'n_unique_texts', n_unique_texts FROM g
            UNION ALL SELECT 'dup_rate_bp',
                cast(floor(10000 * (n_docs - n_unique_texts) / n_docs)
                     AS bigint) FROM g
            UNION ALL SELECT 'mean_quality_bp', mean_quality_bp FROM g
            UNION ALL SELECT 'min_doc_tokens', min_doc_tokens FROM g
            UNION ALL SELECT 'max_doc_tokens', max_doc_tokens FROM g
            UNION ALL SELECT 'n_langs', n_langs FROM g
            UNION ALL
            SELECT 'docs:lang=' || lang, cast(count(*) AS bigint)
            FROM base GROUP BY lang
        """,
        # bipartite projection with the degree cap, then the ordered
        # two-join triangle census
        "triangle_count": """
            WITH ui AS (
                SELECT DISTINCT user_id AS u,
                       cast(json_extract_string(props, '$.k') AS bigint)
                           AS i
                FROM events
                WHERE json_extract_string(props, '$.k') IS NOT NULL),
            keep AS (
                SELECT i FROM ui GROUP BY i HAVING count(*) <= 25),
            uik AS (SELECT u, i FROM ui JOIN keep USING (i)),
            e AS (
                SELECT DISTINCT x.u AS a, y.u AS b
                FROM uik x JOIN uik y ON x.i = y.i AND x.u < y.u),
            tri AS (
                SELECT count(*) AS n FROM e e1
                JOIN e e2 ON e1.b = e2.a
                JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
            verts AS (
                SELECT count(DISTINCT v) AS n FROM (
                    SELECT a AS v FROM e UNION ALL SELECT b FROM e))
            SELECT cast(verts.n AS bigint) AS n_vertices,
                   cast((SELECT count(*) FROM e) AS bigint) AS n_edges,
                   cast(tri.n AS bigint) AS n_triangles
            FROM tri, verts
        """,
        # same projection + degree cap, edges surfaced directly
        "cooccurrence_edges": """
            WITH ui AS (
                SELECT DISTINCT user_id AS u,
                       cast(json_extract_string(props, '$.k') AS bigint)
                           AS i
                FROM events
                WHERE json_extract_string(props, '$.k') IS NOT NULL),
            keep AS (
                SELECT i FROM ui GROUP BY i HAVING count(*) <= 64),
            uik AS (SELECT u, i FROM ui JOIN keep USING (i))
            SELECT DISTINCT x.u AS a, y.u AS b
            FROM uik x JOIN uik y ON x.i = y.i AND x.u < y.u
        """,
        # recursive-CTE components + the dataset_split hash CASE applied
        # to the COMPONENT id (seed 11 — same constants as
        # dataset_split's oracle)
        "leakage_safe_split": f"""{components(ngram_pairs)}
            SELECT doc_id, component,
                   CASE WHEN ((component + 11) * 2654435761) % 4294967296
                            < 3435973836 THEN 'train'
                        WHEN ((component + 11) * 2654435761) % 4294967296
                            < 3865470566 THEN 'val'
                        ELSE 'test' END AS split
            FROM comps
        """,
        # one stratum aggregate + a scalar budget; integer floor
        # division end-to-end (DuckDB // == Spark div on bigints)
        "mixture_plan": f"""
            WITH per AS (
                SELECT source AS stratum,
                       cast(count(*) AS bigint) AS n_docs,
                       cast(sum(len({tokens})) AS bigint) AS n_tokens
                FROM documents GROUP BY 1),
            b AS (SELECT cast(sum(n_tokens) AS bigint) AS budget FROM per),
            w AS (
                SELECT stratum, n_docs, n_tokens,
                       cast(CASE stratum
                            WHEN 'src0' THEN 4000 WHEN 'src1' THEN 2000
                            WHEN 'src2' THEN 1000 WHEN 'src3' THEN 500
                            ELSE 0 END AS bigint) AS weight_bp,
                       budget
                FROM per, b)
            SELECT stratum, n_docs, n_tokens, weight_bp,
                   cast(budget * weight_bp // 10000 AS bigint)
                       AS target_tokens,
                   cast(CASE WHEN n_tokens > 0
                        THEN (budget * weight_bp // 10000) * 1000
                             // n_tokens END AS bigint) AS epochs_milli
            FROM w
        """,
        # brute-force integer-Jaccard pairs fanned over the same
        # thresholds; integer cross-multiplication only, no float at
        # the boundary (matches dedup.py:_exact_pair_sizes)
        "dedup_threshold_curve": f"""{shingle_docs},
            pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       cast(len(list_intersect(a.sh, b.sh)) AS bigint)
                           AS inter,
                       cast(len(a.sh) + len(b.sh)
                            - len(list_intersect(a.sh, b.sh)) AS bigint)
                           AS uni
                FROM docs a JOIN docs b ON a.doc_id < b.doc_id),
            thr AS (
                SELECT cast(unnest(
                    [5000, 6000, 7000, 8000, 9000, 9500]) AS bigint)
                    AS threshold_bp),
            fanned AS (
                SELECT threshold_bp, id_a, id_b
                FROM pairs, thr
                WHERE uni > 0 AND inter * 10000 >= threshold_bp * uni),
            np AS (
                SELECT threshold_bp, cast(count(*) AS bigint) AS n_pairs
                FROM fanned GROUP BY 1),
            nd AS (
                SELECT threshold_bp,
                       cast(count(DISTINCT id) AS bigint)
                           AS n_docs_affected
                FROM (SELECT threshold_bp, unnest([id_a, id_b]) AS id
                      FROM fanned)
                GROUP BY 1)
            SELECT t.threshold_bp,
                   coalesce(n_pairs, 0) AS n_pairs,
                   coalesce(n_docs_affected, 0) AS n_docs_affected
            FROM thr t
            LEFT JOIN np USING (threshold_bp)
            LEFT JOIN nd USING (threshold_bp)
        """,
        # recursive-CTE components (same pair list as
        # duplicate_clusters) + the two size aggregates
        "component_size_report": f"""{components(ngram_pairs)},
            sizes AS (
                SELECT component, cast(count(*) AS bigint) AS cluster_size
                FROM comps GROUP BY 1)
            SELECT cluster_size,
                   cast(count(*) AS bigint) AS n_clusters,
                   cast(sum(cluster_size) AS bigint) AS n_docs
            FROM sizes GROUP BY 1
        """,
        # recursive-CTE components + per-component sorted distinct
        # source list (array_to_string == Spark array_join)
        "dedup_provenance": f"""{components(ngram_pairs)}
            SELECT cast(min(c.doc_id) AS bigint) AS rep_id,
                   cast(count(*) AS bigint) AS n_docs,
                   cast(count(DISTINCT d.source) AS bigint) AS n_sources,
                   array_to_string(list_sort(list(DISTINCT d.source)), ',')
                       AS sources
            FROM comps c JOIN documents d USING (doc_id)
            GROUP BY c.component
        """,
        # identical 64-slot md5-seam signature (Kirsch-Mitzenmacher
        # slot i = min (h1 + i*h2) & 2^32-1), same deterministic pair
        # sample, integer floor division end-to-end
        "minhash_accuracy": f"""{shingle_docs},
            shl AS (SELECT doc_id, unnest(sh) AS s FROM docs),
            hs AS (
                SELECT doc_id,
                       cast({sketches.md5_int56_sql('s')}
                            & 4294967295 AS bigint) AS h1,
                       cast(({sketches.md5_int56_sql("s || ':7'")}
                             & 4294967295) | 1 AS bigint) AS h2
                FROM shl),
            sig AS (
                SELECT doc_id, i,
                       min((h1 + i * h2) & 4294967295) AS v
                FROM hs CROSS JOIN range(64) r(i) GROUP BY 1, 2),
            ids AS (SELECT doc_id FROM documents),
            stride AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM ids a JOIN ids b
                    ON b.doc_id = a.doc_id + 1
                       OR b.doc_id = a.doc_id + 157),
            near AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b
                FROM docs a JOIN docs b ON a.doc_id < b.doc_id
                WHERE (len(a.sh) + len(b.sh)
                       - len(list_intersect(a.sh, b.sh))) > 0
                  AND len(list_intersect(a.sh, b.sh)) * 10000
                      >= 5000 * (len(a.sh) + len(b.sh)
                                 - len(list_intersect(a.sh, b.sh)))),
            sample AS (
                SELECT DISTINCT id_a, id_b FROM (
                    SELECT * FROM stride UNION ALL SELECT * FROM near)),
            ex AS (
                SELECT s.id_a, s.id_b,
                       cast(len(list_intersect(a.sh, b.sh)) AS bigint)
                           AS inter,
                       cast(len(a.sh) + len(b.sh)
                            - len(list_intersect(a.sh, b.sh)) AS bigint)
                           AS uni
                FROM sample s
                JOIN docs a ON a.doc_id = s.id_a
                JOIN docs b ON b.doc_id = s.id_b),
            mt AS (
                SELECT s.id_a, s.id_b,
                       cast(sum(CASE WHEN sa.v = sb.v THEN 1 ELSE 0 END)
                            AS bigint) AS matches
                FROM sample s
                JOIN sig sa ON sa.doc_id = s.id_a
                JOIN sig sb ON sb.doc_id = s.id_b AND sb.i = sa.i
                GROUP BY 1, 2),
            scored AS (
                SELECT (matches * 10000) // 64 AS est_bp,
                       (inter * 10000) // uni AS exact_bp
                FROM ex JOIN mt USING (id_a, id_b)
                WHERE uni > 0)
            SELECT cast(exact_bp // 1000 AS bigint) AS jaccard_bucket,
                   cast(count(*) AS bigint) AS n_pairs,
                   cast(sum(abs(est_bp - exact_bp)) // count(*) AS bigint)
                       AS mean_abs_err_bp,
                   cast(max(abs(est_bp - exact_bp)) AS bigint)
                       AS max_abs_err_bp
            FROM scored GROUP BY 1
        """,
        # identical mask hash (md5 seam), span numbering, and ordered
        # reassembly; string_agg ORDER BY pos == the struct-sort rebuild
        "span_corruption": f"""
            WITH toks AS (
                SELECT doc_id, {tokens} AS tokens FROM documents),
            t AS (
                SELECT doc_id, generate_subscripts(tokens, 1) - 1 AS pos,
                       unnest(tokens) AS tok
                FROM toks),
            tb AS (
                SELECT doc_id, pos, tok, pos // 3 AS blk,
                       ({sketches.md5_int56_sql("doc_id || ':' || (pos // 3)")}
                        % 100) < 15 AS masked
                FROM t),
            spans AS (
                SELECT doc_id, blk,
                       row_number() OVER (
                           PARTITION BY doc_id ORDER BY blk) - 1 AS sid
                FROM (SELECT DISTINCT doc_id, blk FROM tb WHERE masked)),
            j AS (
                SELECT tb.*, s.sid
                FROM tb LEFT JOIN spans s USING (doc_id, blk)),
            o AS (
                SELECT doc_id, pos, masked, blk,
                       CASE WHEN NOT masked THEN tok
                            WHEN pos = blk * 3
                                THEN '<extra_id_' || sid || '>' END AS out_in,
                       CASE WHEN masked AND pos = blk * 3
                                THEN '<extra_id_' || sid || '>' || ' ' || tok
                            WHEN masked THEN tok END AS out_tg
                FROM j)
            SELECT doc_id,
                   coalesce(string_agg(out_in, ' ' ORDER BY pos)
                       FILTER (out_in IS NOT NULL), '') AS input_text,
                   coalesce(string_agg(out_tg, ' ' ORDER BY pos)
                       FILTER (out_tg IS NOT NULL), '') AS target_text,
                   cast(count(DISTINCT CASE WHEN masked THEN blk END)
                        AS bigint) AS n_spans,
                   cast(sum(CASE WHEN masked THEN 1 ELSE 0 END) AS bigint)
                       AS n_masked_tokens
            FROM o GROUP BY doc_id
        """,
        # same positional-n-gram construction per n (short docs yield
        # one partial gram, empty docs one '' gram — the
        # positional_ngrams contract), count/count-distinct + floor div
        "ngram_diversity": f"""
            WITH toks AS (SELECT {tokens} AS tokens FROM documents),
            g AS (
                SELECT 1 AS n, unnest([array_to_string(tokens[i:i], ' ')
                    for i in generate_series(
                        1, greatest(len(tokens)-1, 0)+1)]) AS gram
                FROM toks
                UNION ALL
                SELECT 2, unnest([array_to_string(tokens[i:i+1], ' ')
                    for i in generate_series(
                        1, greatest(len(tokens)-2, 0)+1)])
                FROM toks
                UNION ALL
                SELECT 3, unnest([array_to_string(tokens[i:i+2], ' ')
                    for i in generate_series(
                        1, greatest(len(tokens)-3, 0)+1)])
                FROM toks)
            SELECT cast(n AS bigint) AS n,
                   cast(count(*) AS bigint) AS total_ngrams,
                   cast(count(DISTINCT gram) AS bigint) AS distinct_ngrams,
                   cast(count(DISTINCT gram) * 10000 // count(*) AS bigint)
                       AS distinct_ratio_bp
            FROM g GROUP BY 1
        """,
        # bpe_segment CTE unroll (same 4 learned merges) + one
        # language-keyed aggregate; milli ratios by integer floor div
        "tokenizer_fertility": f"""
            WITH seg AS ({_bpe_segment_oracle(4)}),
            base AS (
                SELECT doc_id, lang,
                       cast(len({tokens}) AS bigint) AS n_words,
                       cast(n_chars AS bigint) AS n_chars
                FROM documents)
            SELECT b.lang,
                   cast(count(*) AS bigint) AS n_docs,
                   cast(sum(b.n_words) AS bigint) AS n_words,
                   cast(sum(s.n_bpe_tokens) AS bigint) AS n_bpe_tokens,
                   cast(sum(s.n_bpe_tokens) * 1000 // sum(b.n_words)
                        AS bigint) AS fertility_milli,
                   cast(sum(b.n_chars) * 1000 // sum(s.n_bpe_tokens)
                        AS bigint) AS chars_per_token_milli
            FROM seg s JOIN base b USING (doc_id)
            GROUP BY b.lang
        """,
        # one QI class-size aggregate fanned over the k thresholds
        "k_anonymity": """
            WITH classes AS (
                SELECT c_nationkey, c_mktsegment,
                       cast(count(*) AS bigint) AS class_size
                FROM customer GROUP BY 1, 2),
            fanned AS (
                SELECT class_size,
                       cast(unnest([2, 5, 10]) AS bigint) AS k
                FROM classes)
            SELECT k,
                   cast(count(*) AS bigint) AS n_classes,
                   cast(sum(CASE WHEN class_size < k THEN 1 ELSE 0 END)
                        AS bigint) AS n_classes_below_k,
                   cast(sum(CASE WHEN class_size < k THEN class_size
                            ELSE 0 END) AS bigint) AS n_rows_at_risk,
                   cast(min(class_size) AS bigint) AS min_class_size
            FROM fanned GROUP BY 1
        """,
        # recursive-CTE components + distinct (component, source)
        # self-join, source_a < source_b
        "source_overlap_near": f"""{components(ngram_pairs)},
            cs AS (
                SELECT DISTINCT c.component, d.source
                FROM comps c JOIN documents d USING (doc_id))
            SELECT a.source AS source_a, b.source AS source_b,
                   cast(count(*) AS bigint) AS n_shared_clusters
            FROM cs a JOIN cs b
                ON a.component = b.component AND a.source < b.source
            GROUP BY 1, 2
        """,
        # same exhaustive-equals-exact argument, through the persisted
        # index path (write + load + probe-all-lists)
        "knn_ivf_persisted": knn_exact,
        "minhash_near_dup": exact_jaccard_pairs,
        "near_dup_pipeline": exact_jaccard_pairs,
        "dedup_corpus": f"""{components(exact_jaccard_pairs)},
            sizes AS (
                SELECT component,
                       cast(count(*) - 1 AS bigint) AS n_duplicates_removed
                FROM comps GROUP BY 1)
            SELECT c.doc_id, s.n_duplicates_removed
            FROM comps c JOIN sizes s USING (component)
            WHERE c.doc_id = c.component
        """,
        "ngram_jaccard_pairs_blocked": f"""
            WITH toks AS (
                SELECT doc_id, lang, {tokens} AS tokens FROM documents
                WHERE doc_id % 2 = 0),
            docs AS (
                SELECT doc_id, lang,
                       list_distinct([array_to_string(tokens[i:i+2], ' ')
                           for i in generate_series(
                               1, greatest(len(tokens)-3, 0)+1)]) AS sh
                FROM toks),
            pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       round(cast(len(list_intersect(a.sh, b.sh)) AS double)
                           / (len(a.sh) + len(b.sh)
                              - len(list_intersect(a.sh, b.sh))), 4)
                           AS jaccard
                FROM docs a
                JOIN docs b ON a.lang = b.lang AND a.doc_id < b.doc_id)
            SELECT id_a, id_b, jaccard FROM pairs WHERE jaccard >= 0.5
        """,
        # Pigeonhole blocking is lossless, so the twin lists ALL pairs
        # at Hamming <= 3 over the identical md5-seamed 56-bit simhash.
        "simhash_near_dup": f"""
            WITH toks AS (
                SELECT doc_id, unnest({tokens}) AS t FROM documents),
            th AS (
                SELECT doc_id,
                       cast({sketches.md5_int56_sql('t')} AS bigint) AS h
                FROM toks),
            bits AS (
                SELECT doc_id, j,
                       sum(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END)
                           AS c
                FROM th CROSS JOIN range(56) r(j) GROUP BY 1, 2),
            sig AS (
                SELECT doc_id,
                       sum(CASE WHEN c > 0 THEN (1::BIGINT << j)
                                ELSE 0 END) AS sig
                FROM bits GROUP BY 1)
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   cast(bit_count(xor(a.sig, b.sig)) AS bigint) AS hamming
            FROM sig a JOIN sig b ON a.doc_id < b.doc_id
            WHERE bit_count(xor(a.sig, b.sig)) <= 3
        """,
        # The seeded hyperplanes are plan literals, so the twin
        # recomputes the same sign-bit buckets and in-bucket verify.
        "embedding_near_dup": f"""
            WITH b AS (
                SELECT vec_id, embedding,
                       {_lsh_bucket('embeddings')} AS bucket
                FROM embeddings)
            SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
                   round(list_dot_product(a.embedding, b2.embedding)
                       / (sqrt(list_dot_product(a.embedding, a.embedding))
                          * sqrt(list_dot_product(b2.embedding,
                                                  b2.embedding))), 4)
                       AS cosine
            FROM b a JOIN b b2
                ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
            WHERE cosine >= 0.35
        """,
        "knn_lsh": f"""
            WITH c AS (
                SELECT vec_id AS neighbor_id, embedding,
                       {_lsh_bucket('embeddings')} AS bucket
                FROM embeddings WHERE vec_id >= 5),
            qq AS (
                SELECT vec_id AS query_id, embedding,
                       {_lsh_bucket('embeddings')} AS qbucket
                FROM embeddings WHERE vec_id < 5),
            probes AS (
                SELECT query_id, embedding, xor(qbucket, m) AS bucket
                FROM qq, (VALUES (0), (1), (2)) t(m)),
            scored AS (
                SELECT DISTINCT q.query_id, c.neighbor_id,
                       round({cos}, 4) AS cosine
                FROM c JOIN probes q ON c.bucket = q.bucket),
            ranked AS (
                SELECT *, row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id ASC) AS rank
                FROM scored)
            SELECT query_id, neighbor_id, rank, cosine
            FROM ranked WHERE rank <= 10
        """,
        # Deterministic Lloyd's replayed as CTEs (lowest-8-id init, two
        # iterations), then the rounded final assignment and profile.
        # IVF recall@k vs brute force: training (2 Lloyd CTE iters over
        # the CORPUS side only — `e` is shadowed to vec_id >= 5 so the
        # shared _lloyd_iter CTEs train on the right set), round-6
        # probe order (ties cid DESC — reverse(array_sort)), round-4
        # scores, integer recall
        "ann_recall": f"""{ivf_probes("a")},
            approx AS (
                SELECT query_id, neighbor_id FROM (
                    SELECT p.query_id, a.vec_id AS neighbor_id,
                           row_number() OVER (
                               PARTITION BY p.query_id
                               ORDER BY round(
                                   list_dot_product(ce.v, q.v)
                                   / (sqrt(list_dot_product(ce.v, ce.v))
                                      * sqrt(list_dot_product(q.v, q.v))),
                                   4) DESC,
                                   a.vec_id ASC) AS rn
                    FROM probes p
                    JOIN assign a ON a.cid = p.cid
                    JOIN e ce ON ce.vec_id = a.vec_id
                    JOIN qs q ON q.vec_id = p.query_id)
                WHERE rn <= 10),
            {recall_vs_exact}
        """,
        # ivfpq_recall: the ann_recall construction applied to the
        # IVF-PQ composition — float Lloyd coarse chain (unprefixed)
        # + integer PQ chain ('pq'-prefixed, _pq_sql_ctes) + probe
        # prune + ADC ranking, recall vs round-4 exact brute force
        "ivfpq_recall": f"""{ivf_probes("la")},
            {_pq_sql_ctes("WHERE vec_id >= 5", "pq")},
            {_pq_lut_ctes("pq")},
            scored AS (
                SELECT p.query_id, a.vec_id,
                       CAST(sum(l.d2) AS BIGINT) AS adc_d2
                FROM pqa3 a
                JOIN assign s ON s.vec_id = a.vec_id
                JOIN probes p ON p.cid = s.cid
                JOIN lut l ON l.query_id = p.query_id
                          AND l.m = a.m AND l.cid = a.cid
                GROUP BY 1, 2),
            approx AS (
                SELECT query_id, neighbor_id FROM (
                    SELECT query_id, vec_id AS neighbor_id,
                           row_number() OVER (
                               PARTITION BY query_id
                               ORDER BY adc_d2 ASC, vec_id ASC) AS rn
                    FROM scored)
                WHERE rn <= 10),
            {recall_vs_exact}
        """,
        # Lloyd training on the EVEN half (the fixed ruler), round-6
        # ties-asc assignment of both halves, integer permille shares
        "embedding_drift": f"""
            WITH eall AS (
                SELECT vec_id,
                       list_transform(embedding, x -> x::DOUBLE) AS v
                FROM embeddings),
            e AS (SELECT vec_id, v FROM eall WHERE vec_id % 2 = 0),
            cur AS (SELECT vec_id, v FROM eall WHERE vec_id % 2 = 1),
            {lloyd_c2("a")},
            aref AS ({assign_c2}),
            acur AS (
                SELECT vec_id, cid FROM (
                    SELECT q.vec_id, c.cid,
                           row_number() OVER (
                               PARTITION BY q.vec_id
                               ORDER BY round(list_dot_product(q.v, c.v)
                                   / (sqrt(list_dot_product(q.v, q.v))
                                      * sqrt(list_dot_product(c.v, c.v))),
                                   6) DESC,
                                   c.cid ASC) AS rn
                    FROM cur q CROSS JOIN c2 c)
                WHERE rn = 1),
            nr AS (SELECT cid, cast(count(*) AS bigint) AS n_ref
                   FROM aref GROUP BY 1),
            nc AS (SELECT cid, cast(count(*) AS bigint) AS n_cur
                   FROM acur GROUP BY 1),
            j AS (
                SELECT coalesce(nr.cid, nc.cid) AS cid,
                       coalesce(n_ref, 0) AS n_ref,
                       coalesce(n_cur, 0) AS n_cur
                FROM nr FULL JOIN nc ON nr.cid = nc.cid),
            t AS (SELECT sum(n_ref) AS tr, sum(n_cur) AS tc FROM j)
            SELECT cast(cid AS bigint) AS centroid_id,
                   cast(n_ref AS bigint) AS n_ref,
                   cast(n_cur AS bigint) AS n_cur,
                   cast(n_ref * 1000 // greatest(tr, 1) AS bigint)
                       AS ref_permille,
                   cast(n_cur * 1000 // greatest(tc, 1) AS bigint)
                       AS cur_permille,
                   cast(n_cur * 1000 // greatest(tc, 1)
                        - n_ref * 1000 // greatest(tr, 1) AS bigint)
                       AS drift_permille
            FROM j, t
        """,
        "embedding_clusters": f"""
            WITH e AS (
                SELECT vec_id,
                       list_transform(embedding, x -> x::DOUBLE) AS v
                FROM embeddings),
            {lloyd_c2("a")},
            fin AS (
                SELECT vec_id, cid, cos FROM (
                    SELECT e.vec_id, c.cid,
                           round(list_dot_product(e.v, c.v)
                               / (sqrt(list_dot_product(e.v, e.v))
                                  * sqrt(list_dot_product(c.v, c.v))), 6)
                               AS cos,
                           row_number() OVER (
                               PARTITION BY e.vec_id
                               ORDER BY round(list_dot_product(e.v, c.v)
                                   / (sqrt(list_dot_product(e.v, e.v))
                                      * sqrt(list_dot_product(c.v, c.v))),
                                   6) DESC,
                                   c.cid ASC) AS rn
                    FROM e CROSS JOIN c2 c)
                WHERE rn = 1)
            SELECT cast(cid AS int) AS centroid_id,
                   count(*) AS n_members,
                   round(avg(cos), 4) AS mean_cosine
            FROM fin GROUP BY 1 ORDER BY 1
        """,
        # 4 unrolled argmax-and-fold BPE iterations; the list_reduce
        # lambda mirrors the Spark aggregate fold symbol-for-symbol
        "bpe_merges": _bpe_oracle(4),
        # same unrolled merges, applied: per-doc subword streams
        # reassembled in token order from the v4 vocabulary
        "bpe_segment": _bpe_segment_oracle(4),
        # Knuth-hash shard + per-shard hash-rank replay
        "training_shards": """
            WITH h AS (
                SELECT doc_id, lang,
                       ((doc_id + 0) * 2654435761) % 4294967296 AS hb
                FROM documents)
            SELECT doc_id, lang,
                   cast(hb % 8 AS int) AS shard_id,
                   cast(row_number() OVER (
                       PARTITION BY hb % 8
                       ORDER BY hb ASC, doc_id ASC) AS bigint) AS position
            FROM h
        """,
        # exact cross-set Jaccard: the band-index probe's recall is
        # complete at fixture similarities, so LSH probe + verify ==
        # brute force (same argument as minhash_near_dup's oracle)
        "streaming_near_dup": f"""{shingle_docs},
            a AS (SELECT * FROM docs WHERE doc_id % 5 = 0),
            b AS (SELECT * FROM docs WHERE doc_id % 5 <> 0)
            SELECT a.doc_id AS in_id, b.doc_id AS corpus_id,
                   round(cast(len(list_intersect(a.sh, b.sh)) AS double)
                         / (len(a.sh) + len(b.sh)
                            - len(list_intersect(a.sh, b.sh))), 4)
                       AS jaccard
            FROM a JOIN b ON true
            WHERE jaccard >= 0.5
        """,
        # the observation's aggregates recomputed declaratively
        "pipeline_observability": """
            SELECT cast(count(*) AS bigint) AS rows_in,
                   cast(sum(CASE WHEN t IS NULL OR trim(t) = ''
                            THEN 1 ELSE 0 END) AS bigint) AS empty_text,
                   cast(sum(length(t)) AS bigint) AS total_chars,
                   cast(sum(CASE WHEN t IS NOT NULL AND trim(t) <> ''
                            THEN 1 ELSE 0 END) AS bigint) AS rows_out
            FROM (SELECT CASE WHEN doc_id % 50 = 0 THEN ''
                              ELSE text END AS t
                  FROM documents)
        """,
        # per-(doc, copy) survival replay: full copies by milli-rate,
        # fractional copy through the shared Knuth hash gate
        "upsample_mixture": """
            WITH rated AS (
                SELECT doc_id, lang,
                       CASE lang WHEN 'de' THEN 3000 WHEN 'en' THEN 1000
                                 WHEN 'es' THEN 2500 WHEN 'fr' THEN 400
                                 WHEN 'zh' THEN 2500 ELSE 0 END AS rm
                FROM documents)
            SELECT doc_id, lang, cast(i AS bigint) AS copy_id
            FROM rated, generate_series(0, 2) t(i)
            WHERE i < rm / 1000.0
              AND ((i + 1) * 1000 <= rm
                   OR ((doc_id * 1000003 + i) * 2654435761)
                      % 4294967296 < (rm % 1000) * 4294967)
        """,
        # integer ppm scoring + floor'd exact-percentile tercile cuts
        "token_rarity_bins": f"""
            WITH toks AS (
                SELECT doc_id, {tokens} AS tokens FROM documents),
            tok AS (
                SELECT doc_id, unnest(tokens) AS term FROM toks),
            counts AS (
                SELECT term, cast(count(*) AS bigint) AS c
                FROM tok GROUP BY 1),
            total AS (
                SELECT cast(sum(c) AS bigint) AS t FROM counts),
            scored AS (
                SELECT tk.doc_id,
                       cast(count(*) AS bigint) AS n_tokens,
                       cast(sum((c.c * 1000000) // tt.t) // count(*)
                            AS bigint) AS mean_token_ppm
                FROM tok tk
                JOIN counts c USING (term)
                CROSS JOIN total tt
                GROUP BY tk.doc_id),
            cuts AS (
                SELECT cast(floor(quantile_cont(mean_token_ppm, 0.3333))
                            AS bigint) AS c1,
                       cast(floor(quantile_cont(mean_token_ppm, 0.6667))
                            AS bigint) AS c2
                FROM scored)
            SELECT s.doc_id, s.n_tokens, s.mean_token_ppm,
                   CASE WHEN s.mean_token_ppm <= c.c1 THEN 'tail'
                        WHEN s.mean_token_ppm <= c.c2 THEN 'middle'
                        ELSE 'head' END AS rarity_bin
            FROM scored s CROSS JOIN cuts c
        """,
        # length_drift: exact KS — integer cross-multiplied ECDF gap,
        # one floor division; the cumulative window has no ties (the
        # grid is (group, value)-grain) so RANGE/ROWS framing agrees.
        "length_drift": """
            WITH counts AS (
                SELECT source AS g, n_chars AS v,
                       cast(count(*) AS bigint) AS c
                FROM documents
                WHERE source IS NOT NULL AND n_chars IS NOT NULL
                GROUP BY 1, 2),
            ref AS (SELECT min(g) AS r FROM counts),
            refc AS (SELECT v, c AS cr FROM counts, ref WHERE g = r),
            others AS (SELECT g, v, c FROM counts, ref WHERE g <> r),
            grid AS (
                SELECT g, v, cast(sum(cr) AS bigint) AS cr,
                       cast(sum(cg) AS bigint) AS cg
                FROM (
                    SELECT o.g, rc.v, rc.cr, cast(0 AS bigint) AS cg
                    FROM refc rc
                    CROSS JOIN (SELECT DISTINCT g FROM others) o
                    UNION ALL
                    SELECT g, v, cast(0 AS bigint) AS cr, c AS cg
                    FROM others
                ) GROUP BY 1, 2),
            totals AS (
                SELECT g, cast(sum(cr) AS bigint) AS n_ref,
                       cast(sum(cg) AS bigint) AS n_group
                FROM grid GROUP BY 1),
            cums AS (
                SELECT g,
                       sum(cr) OVER (PARTITION BY g ORDER BY v)
                           AS cum_r,
                       sum(cg) OVER (PARTITION BY g ORDER BY v)
                           AS cum_g
                FROM grid)
            SELECT c.g AS "group", t.n_ref, t.n_group,
                   cast(max(abs(cum_r * t.n_group - cum_g * t.n_ref))
                        * 10000 // (t.n_ref * t.n_group) AS bigint)
                       AS ks_bp
            FROM cums c JOIN totals t USING (g)
            GROUP BY 1, 2, 3
        """,
        # zipf_fit: identical composition — floor(ln·1000) points,
        # exact integer partial sums (DuckDB promotes to HUGEINT; the
        # values stay < 2e14 so the doubles they cast to are the same),
        # one final double quotient, slope negated to stay positive.
        "zipf_fit": f"""
            WITH toks AS (
                SELECT lang, {tokens} AS tokens FROM documents),
            tok AS (
                SELECT lang, unnest(tokens) AS term FROM toks),
            counts AS (
                SELECT lang, term, cast(count(*) AS bigint) AS c
                FROM tok GROUP BY 1, 2),
            ranked AS (
                SELECT lang, c,
                       row_number() OVER (PARTITION BY lang
                                          ORDER BY c DESC, term ASC) AS r
                FROM counts),
            pts AS (
                SELECT lang,
                       cast(floor(ln(r) * 1000) AS bigint) AS x,
                       cast(floor(ln(c) * 1000) AS bigint) AS y
                FROM ranked WHERE r <= 1000),
            agg AS (
                SELECT lang, cast(count(*) AS bigint) AS n,
                       cast(sum(x) AS bigint) AS sx,
                       cast(sum(y) AS bigint) AS sy,
                       cast(sum(x * y) AS bigint) AS sxy,
                       cast(sum(x * x) AS bigint) AS sxx,
                       cast(sum(y * y) AS bigint) AS syy
                FROM pts GROUP BY 1),
            stats AS (
                SELECT lang, n AS n_ranks,
                       cast(n * sxy - sx * sy AS double) AS sxy_c,
                       cast(n * sxx - sx * sx AS double) AS sxx_c,
                       cast(n * syy - sy * sy AS double) AS syy_c
                FROM agg)
            SELECT lang, n_ranks,
                   cast(floor(-sxy_c * 1000.0 / sxx_c) AS bigint)
                       AS neg_slope_milli,
                   CASE WHEN syy_c > 0 THEN
                       cast(floor(sxy_c * sxy_c * 10000.0
                                  / (sxx_c * syy_c)) AS bigint)
                   END AS r2_bp
            FROM stats WHERE sxx_c > 0
        """,
        # duplicate_clusters' recursive CTE + the shared quality formula
        # + the keep-best window (score desc, id asc).
        "dedup_keep_best": f"""{components(ngram_pairs, "comp")},
            q AS (
                SELECT doc_id, {quality_score_sql('text')} AS quality
                FROM documents),
            r AS (
                SELECT c.doc_id, c.component, q.quality,
                       row_number() OVER (
                           PARTITION BY c.component
                           ORDER BY q.quality DESC, c.doc_id ASC) AS rk,
                       count(*) OVER (PARTITION BY c.component) AS cs
                FROM comp c JOIN q USING (doc_id))
            SELECT doc_id, component, cast(cs AS bigint) AS cluster_size,
                   quality, (rk = 1) AS is_kept
            FROM r
        """,
        # ExactSubstr rewrite replay: positional 10-grams, keep-first
        # rank over (doc, pos), mask the union of covered positions.
        # DuckDB is 1-based where Spark is 0-based — internally
        # consistent, so ranks and coverage align.
        "remove_repeated_spans": f"""
            WITH toks AS (
                SELECT doc_id, {tokens} AS tokens FROM documents),
            gdocs AS (
                SELECT doc_id,
                       [coalesce(array_to_string(tokens[i:i+9], ' '), '')
                        for i in generate_series(
                            1, greatest(len(tokens)-9, 1))] AS grams
                FROM toks),
            ex AS (
                SELECT doc_id, generate_subscripts(grams, 1) AS pos,
                       unnest(grams) AS gram
                FROM gdocs),
            ranked AS (
                SELECT doc_id, pos,
                       row_number() OVER (
                           PARTITION BY gram
                           ORDER BY doc_id, pos) AS rn,
                       count(*) OVER (PARTITION BY gram) AS tot
                FROM ex),
            covered AS (
                SELECT DISTINCT doc_id, p FROM (
                    SELECT doc_id,
                           unnest([pos + j for j in
                                   generate_series(0, 9)]) AS p
                    FROM ranked WHERE tot >= 2 AND rn > 1)),
            tokrows AS (
                SELECT doc_id, generate_subscripts(tokens, 1) AS p,
                       unnest(tokens) AS tok
                FROM toks),
            kept AS (
                SELECT t.doc_id, t.p, t.tok
                FROM tokrows t LEFT JOIN covered c
                  ON t.doc_id = c.doc_id AND t.p = c.p
                WHERE c.p IS NULL),
            reb AS (
                SELECT doc_id,
                       array_to_string(list(tok ORDER BY p), ' ') AS text,
                       count(*) AS nk
                FROM kept GROUP BY 1)
            SELECT t.doc_id,
                   coalesce(r.text, '') AS text,
                   cast(len(t.tokens) - coalesce(r.nk, 0) AS bigint)
                       AS n_tokens_removed,
                   cast(len(t.tokens) AS bigint) AS n_tokens
            FROM toks t LEFT JOIN reb r USING (doc_id)
        """,
        # C4-style line dedup replay: same 2-token chunking, distinct-doc
        # frequency at min_docs=10, ordered reassembly.
        "boilerplate_lines": f"""
            WITH toks AS (
                SELECT doc_id, {tokens} AS tokens FROM documents),
            docs AS (
                SELECT doc_id,
                       [array_to_string(tokens[2*i+1 : 2*i+2], ' ')
                        for i in generate_series(
                            0, cast(floor((len(tokens)-1) / 2.0)
                                    AS bigint))] AS lines
                FROM toks),
            ex AS (
                SELECT doc_id, generate_subscripts(lines, 1) AS pos,
                       unnest(lines) AS line
                FROM docs),
            hot AS (
                SELECT line FROM (
                    SELECT line, count(DISTINCT doc_id) AS dfc
                    FROM ex GROUP BY 1)
                WHERE dfc >= 10),
            kept AS (
                SELECT * FROM ex
                WHERE line NOT IN (SELECT line FROM hot)),
            reb AS (
                SELECT doc_id, list(line ORDER BY pos) AS klines,
                       count(*) AS nk
                FROM kept GROUP BY 1)
            SELECT d.doc_id,
                   -- DuckDB array_to_string([]) is NULL, Spark's is ''
                   coalesce(array_to_string(r.klines, ' | '), '')
                       AS kept_text,
                   cast(len(d.lines) - coalesce(r.nk, 0) AS bigint)
                       AS n_lines_removed
            FROM docs d LEFT JOIN reb r USING (doc_id)
        """,
        # r11: per-source cap — md5-of-id hash order replayed, rank
        # verdict at cap=10 (hex digests compare identically as
        # strings on both engines)
        "cap_per_source": """
            SELECT doc_id, source,
                   CAST(row_number() OVER (
                        PARTITION BY source
                        ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)),
                                 doc_id) AS BIGINT) AS src_rank,
                   (row_number() OVER (
                        PARTITION BY source
                        ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)),
                                 doc_id)) <= 10 AS kept
            FROM documents
        """,
        # r12: skew-safe two-phase cap — kept set and kept ranks are
        # provably the one-window operator's (never-eliminates-a-winner
        # argument in the operator docstring), so the oracle is the
        # one-window rank with the contract's NULL beyond cap
        "cap_per_source_skew": """
            WITH ranked AS (
                SELECT doc_id, source,
                       row_number() OVER (
                            PARTITION BY source
                            ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)),
                                     doc_id) AS rn
                FROM documents)
            SELECT doc_id, source,
                   CASE WHEN rn <= 10 THEN CAST(rn AS BIGINT)
                        ELSE NULL END AS src_rank,
                   rn <= 10 AS kept
            FROM ranked
        """,
        # r12: windowed per-source cap — ts synthesized arithmetically
        # from doc_id (absolute instants), epoch-aligned hour floor on
        # epoch micros (identical to the operator's arithmetic window),
        # same (md5, id) rank as cap_per_source, admitted rows only
        "cap_per_source_windowed": """
            WITH stamped AS (
                SELECT doc_id, source,
                       make_timestamp(
                           ((1704067200000000
                             + (doc_id % 720) * 60000000)
                            // 3600000000) * 3600000000
                       ) AS window_start
                FROM documents),
            ranked AS (
                SELECT doc_id, source, window_start,
                       CAST(row_number() OVER (
                            PARTITION BY source, window_start
                            ORDER BY md5('cap:' || CAST(doc_id AS VARCHAR)),
                                     doc_id) AS BIGINT) AS src_rank
                FROM stamped)
            SELECT doc_id, source, window_start, src_rank
            FROM ranked WHERE src_rank <= 3
        """,
        # r11: paragraph dedup — 3-token chunking, integer occurrence
        # key doc_id*1e6 + 0-based pos (generate_subscripts is
        # 1-based, hence pos-1), min per digestless paragraph (exact
        # string grouping replays the md5 grouping), first survives.
        # r12: incremental paragraph dedup — even ids are the standing
        # registry (digest set only), odd ids the arriving shard;
        # registry hit OR a later within-shard copy drops
        "paragraph_dedup_incremental": f"""{para_ex},
            registry AS (
                SELECT DISTINCT para FROM ex WHERE doc_id % 2 = 0),
            shard AS (
                SELECT * FROM ex WHERE doc_id % 2 = 1),
            fresh AS (
                SELECT s.* FROM shard s
                WHERE s.para NOT IN (SELECT para FROM registry)),
            firsts AS (
                SELECT para, min(k) AS kmin FROM fresh GROUP BY 1),
            kept AS (
                SELECT e.doc_id, e.pos, e.para
                FROM fresh e JOIN firsts f
                  ON e.para = f.para AND e.k = f.kmin),
            {para_kept_text}
            WHERE d.doc_id % 2 = 1
        """,
        # r13: streaming incremental paragraph dedup — the shard
        # sequence replayed in SQL: survive iff absent from the
        # standing (even-id) registry, in the earliest shard holding
        # the digest, and that shard's own first occurrence
        "paragraph_dedup_stream": f"""{para_ex},
            registry AS (
                SELECT DISTINCT para FROM ex WHERE doc_id % 2 = 0),
            fresh AS (
                SELECT s.*, (s.doc_id % 8 - 1) // 2 AS shard_idx
                FROM ex s
                WHERE s.doc_id % 2 = 1
                  AND s.para NOT IN (SELECT para FROM registry)),
            mins AS (
                SELECT para, min(shard_idx) AS ms FROM fresh GROUP BY 1),
            firsts AS (
                SELECT f.para, f.shard_idx, min(f.k) AS kmin
                FROM fresh f JOIN mins m
                  ON f.para = m.para AND f.shard_idx = m.ms
                GROUP BY 1, 2),
            kept AS (
                SELECT e.doc_id, e.pos, e.para
                FROM fresh e JOIN firsts f
                  ON e.para = f.para AND e.shard_idx = f.shard_idx
                 AND e.k = f.kmin),
            {para_kept_text}
            WHERE d.doc_id % 2 = 1
        """,
        # r12: paragraph registry — same chunking + occurrence key as
        # paragraph_dedup, grouped by digest; integer // and % match
        # Spark's div/pmod on the non-negative keys
        "paragraph_registry": f"""{para_ex}
            SELECT md5(para) AS para_digest,
                   CAST(min(k) // 1000000 AS BIGINT) AS first_doc_id,
                   CAST(min(k) % 1000000 AS BIGINT) AS first_pos,
                   CAST(count(*) AS BIGINT) AS n_occurrences
            FROM ex GROUP BY 1
        """,
        "paragraph_dedup": f"""{para_ex},
            firsts AS (
                SELECT para, min(k) AS kmin FROM ex GROUP BY 1),
            kept AS (
                SELECT e.doc_id, e.pos, e.para
                FROM ex e JOIN firsts f
                  ON e.para = f.para AND e.k = f.kmin),
            {para_kept_text}
        """,
        # Same Lloyd-as-CTEs replay as embedding_clusters, then the
        # SemDeDup rule: in-cluster pair test at 6dp-rounded cosine,
        # drop every id with a lower-id neighbor at/above threshold.
        "semantic_dedup": f"""
            WITH e AS (
                SELECT vec_id,
                       list_transform(embedding, x -> x::DOUBLE) AS v
                FROM embeddings),
            {lloyd_c2("a")},
            fin AS ({assign_c2}),
            finv AS (
                SELECT f.vec_id, f.cid, e.v FROM fin f JOIN e USING (vec_id)),
            dropped AS (
                SELECT DISTINCT y.vec_id
                FROM finv x JOIN finv y
                  ON x.cid = y.cid AND x.vec_id < y.vec_id
                WHERE round(list_dot_product(x.v, y.v)
                        / (sqrt(list_dot_product(x.v, x.v))
                           * sqrt(list_dot_product(y.v, y.v))), 6) >= 0.3)
            SELECT f.vec_id, cast(f.cid AS int) AS centroid_id,
                   (d.vec_id IS NULL) AS is_kept
            FROM fin f LEFT JOIN dropped d ON f.vec_id = d.vec_id
        """,
        # HLL++ at rsd=0.02 stays in its sparse-EXACT representation at
        # fixture cardinalities (150 distinct users/type), and register
        # merge is order-independent, so the sketch deterministically
        # equals exact COUNT(DISTINCT) here.
        "approx_distinct_users": """
            SELECT event_type, count(DISTINCT user_id) AS n_users_approx
            FROM events GROUP BY 1
        """,
        # hll_shard_union: the audit-twin shape — the exact side is the
        # oracle's COUNT(DISTINCT); the sketch side only has to land
        # inside a ~6-sigma tolerance (and is in exact sparse mode at
        # fixture scale), so both within-tol booleans are TRUE.
        "hll_shard_union": """
            SELECT event_type, count(DISTINCT user_id) AS n_exact,
                   true AS merged_within_tol, true AS direct_within_tol
            FROM events GROUP BY 1
        """,
        "tdigest_accuracy": """
            WITH v AS (
                SELECT l_extendedprice AS x FROM lineitem
                WHERE l_extendedprice IS NOT NULL),
            n AS (SELECT count(*) AS n_rows FROM v),
            r AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v)
            SELECT cast(p AS double) AS p, r.x AS exact_quantile,
                   true AS rank_err_within_2_5pct
            FROM (VALUES (0.01), (0.1), (0.25), (0.5),
                         (0.75), (0.9), (0.99)) t(p), n
            JOIN r ON r.rn = greatest(
                1, cast(ceil(p * n.n_rows) AS bigint))
        """,
        "tdigest_by_key_accuracy": """
            WITH v AS (
                SELECT event_type, value AS x FROM events
                WHERE value IS NOT NULL),
            n AS (
                SELECT event_type, count(*) AS n_rows FROM v GROUP BY 1),
            r AS (
                SELECT event_type, x,
                       row_number() OVER (
                           PARTITION BY event_type ORDER BY x) AS rn
                FROM v)
            SELECT r.event_type, cast(p AS double) AS p,
                   r.x AS exact_quantile, true AS rank_err_within_2_5pct
            FROM (VALUES (0.25), (0.5), (0.75), (0.95)) t(p)
            CROSS JOIN n
            JOIN r ON r.event_type = n.event_type
                  AND r.rn = greatest(
                      1, cast(ceil(p * n.n_rows) AS bigint))
        """,
        "exact_quantiles_sketched": """
            WITH v AS (
                SELECT o_totalprice AS x FROM orders
                WHERE o_totalprice IS NOT NULL),
            n AS (SELECT count(*) AS n_rows FROM v),
            r AS (SELECT x, row_number() OVER (ORDER BY x) AS rn FROM v)
            SELECT cast(p AS double) AS p, r.x AS quantile
            FROM (VALUES (0.1), (0.5), (0.9), (0.99)) t(p), n
            JOIN r ON r.rn = greatest(
                1, cast(ceil(p * n.n_rows) AS bigint))
        """,
        "asof_join_forward": asof_pick("<="),
        "asof_join_nearest": f"""{asof_views},
            b AS (
                SELECT l.event_id, l.user_id, l.ts,
                       r.ts AS bts, r.view_event_id AS bid,
                       r.view_value AS bval
                FROM purchases l
                ASOF LEFT JOIN views r
                    ON l.user_id = r.user_id AND l.ts >= r.ts),
            f AS (
                SELECT l.event_id,
                       r.ts AS fts, r.view_event_id AS fid,
                       r.view_value AS fval
                FROM purchases l
                ASOF LEFT JOIN views r
                    ON l.user_id = r.user_id AND l.ts <= r.ts)
            SELECT b.event_id, b.user_id, b.ts,
                   CASE WHEN b.bts IS NULL THEN f.fid
                        WHEN f.fts IS NULL THEN b.bid
                        WHEN (epoch_us(f.fts) - epoch_us(b.ts))
                           < (epoch_us(b.ts) - epoch_us(b.bts)) THEN f.fid
                        ELSE b.bid END AS view_event_id,
                   round(CASE WHEN b.bts IS NULL THEN f.fval
                              WHEN f.fts IS NULL THEN b.bval
                              WHEN (epoch_us(f.fts) - epoch_us(b.ts))
                                 < (epoch_us(b.ts) - epoch_us(b.bts))
                              THEN f.fval
                              ELSE b.bval END, 2) AS view_value
            FROM b JOIN f ON b.event_id = f.event_id
        """,
        "key_skew_report": """
            WITH counts AS (
                SELECT user_id, cast(count(*) AS bigint) AS n
                FROM events GROUP BY user_id),
            tot AS (SELECT cast(sum(n) AS bigint) AS t FROM counts)
            SELECT user_id, n,
                   cast(n * 10000 // t AS bigint) AS share_bp
            FROM counts, tot
            ORDER BY n DESC, user_id ASC
            LIMIT 20
        """,
        "reservoir_per_key": """
            SELECT event_id, event_type, user_id FROM (
                SELECT event_id, event_type, user_id,
                       row_number() OVER (
                           PARTITION BY event_type
                           ORDER BY ((event_id + 11) * 2654435761)
                                        % 4294967296 ASC,
                                    event_id ASC
                       ) AS rn
                FROM events)
            WHERE rn <= 20
        """,
        "udtf_sentences": """
            WITH f AS (
                SELECT doc_id,
                       list_filter(
                           list_transform(
                               string_split_regex(text, '[.!?]+'),
                               x -> trim(x)),
                           x -> x <> '') AS sents
                FROM documents),
            ex AS (
                SELECT doc_id,
                       unnest(generate_series(0, len(sents) - 1)) AS i,
                       unnest(sents) AS sentence
                FROM f)
            SELECT doc_id, cast(i AS bigint) AS sent_idx, sentence
            FROM ex
        """,
        "sql_api_top_orders": """
            WITH ranked AS (
                SELECT o_orderpriority, o_orderkey, o_totalprice,
                       row_number() OVER (
                           PARTITION BY o_orderpriority
                           ORDER BY o_totalprice DESC, o_orderkey ASC
                       ) AS rn
                FROM orders)
            SELECT o_orderpriority, cast(rn AS bigint) AS rn,
                   o_orderkey, o_totalprice
            FROM ranked WHERE rn <= 3
        """,
        "streaming_incremental_kpis": """
            SELECT cast(ts AS date) AS event_date,
                   event_type,
                   cast(count(*) AS bigint) AS n,
                   cast(sum(cast(floor(value * 100) AS bigint))
                        AS bigint) AS total_cents
            FROM events
            GROUP BY 1, 2
        """,
        "window_rank_stats": """
            SELECT event_id, event_type, value,
                   cast(dense_rank() OVER w AS bigint) AS drank,
                   percent_rank() OVER w AS pr,
                   cume_dist() OVER w AS cd,
                   nth_value(value, 3) OVER (
                       PARTITION BY event_type
                       ORDER BY value NULLS FIRST, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS third_lowest
            FROM events
            WINDOW w AS (PARTITION BY event_type
                         ORDER BY value NULLS FIRST, event_id)
        """,
        "incremental_agg": """
            SELECT event_type,
                   cast(count(*) AS bigint) AS n,
                   cast(sum(cast(floor(value * 100) AS bigint))
                        AS bigint) AS total_cents,
                   round(cast(min(value) AS double), 2) AS min_value,
                   round(cast(max(value) AS double), 2) AS max_value
            FROM events
            GROUP BY event_type
        """,
        "compaction_roundtrip": """
            SELECT c_mktsegment,
                   cast(count(*) AS bigint) AS n_customers,
                   round(cast(sum(c_acctbal) AS double), 2) AS total_bal
            FROM customer
            GROUP BY c_mktsegment
        """,
        "table_fingerprint": f"""
            WITH f AS (
                SELECT {sketches.md5_int56_sql(
                    "concat_ws(chr(31), "
                    "coalesce(cast(o_orderkey AS varchar), chr(0)||'NULL'), "
                    "coalesce(cast(o_custkey AS varchar), chr(0)||'NULL'), "
                    "coalesce(cast(o_orderstatus AS varchar), chr(0)||'NULL'), "
                    "coalesce(cast(o_orderdate AS varchar), chr(0)||'NULL'))"
                )} AS fp
                FROM orders)
            SELECT cast(count(*) AS bigint) AS n_rows,
                   cast(bit_xor(fp) AS bigint) AS xor_fp,
                   cast(sum(fp % 1048576) AS bigint) AS sum_low20
            FROM f
        """,
        # r13: corpus versioning — the two runs are re-derived inline;
        # change detection is the null-safe (source, text) compare (the
        # Spark side compares md5-int56 fingerprints, equal iff the
        # serialized values are equal); churn is exact integer math
        "corpus_diff": f"""{corpus_runs}
            SELECT doc_id, source, change_type FROM (
                SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
                       coalesce(n.source, o.source) AS source,
                       CASE WHEN o.doc_id IS NULL THEN 'added'
                            WHEN n.doc_id IS NULL THEN 'removed'
                            WHEN o.source IS DISTINCT FROM n.source
                              OR o.text IS DISTINCT FROM n.text
                            THEN 'changed' END AS change_type
                FROM old o FULL JOIN new n ON o.doc_id = n.doc_id)
            WHERE change_type IS NOT NULL
        """,
        "corpus_churn": f"""{corpus_runs},
            j AS (
                SELECT coalesce(n.source, o.source) AS source,
                       o.doc_id IS NOT NULL AS has_old,
                       n.doc_id IS NOT NULL AS has_new,
                       (o.doc_id IS NOT NULL AND n.doc_id IS NOT NULL
                        AND (o.source IS DISTINCT FROM n.source
                             OR o.text IS DISTINCT FROM n.text)) AS chg
                FROM old o FULL JOIN new n ON o.doc_id = n.doc_id),
            agg AS (
                SELECT source,
                       sum(CASE WHEN has_old THEN 1 ELSE 0 END)::BIGINT
                           AS n_old,
                       sum(CASE WHEN has_new THEN 1 ELSE 0 END)::BIGINT
                           AS n_new,
                       sum(CASE WHEN NOT has_old THEN 1 ELSE 0 END)::BIGINT
                           AS n_added,
                       sum(CASE WHEN NOT has_new THEN 1 ELSE 0 END)::BIGINT
                           AS n_removed,
                       sum(CASE WHEN chg THEN 1 ELSE 0 END)::BIGINT
                           AS n_changed,
                       sum(CASE WHEN has_old AND has_new AND NOT chg
                                THEN 1 ELSE 0 END)::BIGINT AS n_stable
                FROM j GROUP BY source)
            SELECT source, n_old, n_new, n_added, n_removed, n_changed,
                   n_stable,
                   ((n_added + n_removed + n_changed) * 1000
                    // (n_old + n_added))::BIGINT AS churn_permille
            FROM agg
        """,
        "snapshot_diff": """
            WITH old AS (
                SELECT o_orderkey, o_custkey, o_orderstatus, o_orderdate
                FROM orders),
            new AS (
                SELECT o_orderkey,
                       CASE WHEN o_orderkey % 89 = 0 THEN o_custkey + 1
                            ELSE o_custkey END AS o_custkey,
                       o_orderstatus, o_orderdate
                FROM orders WHERE o_orderkey % 97 <> 0
                UNION ALL
                SELECT -o_orderkey, o_custkey, o_orderstatus, o_orderdate
                FROM orders WHERE o_orderkey % 83 = 0)
            SELECT o_orderkey, change_type FROM (
                SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
                       CASE WHEN o.o_orderkey IS NULL THEN 'added'
                            WHEN n.o_orderkey IS NULL THEN 'removed'
                            WHEN o.o_custkey <> n.o_custkey
                              OR o.o_orderstatus <> n.o_orderstatus
                              OR o.o_orderdate <> n.o_orderdate
                            THEN 'changed' END AS change_type
                FROM old o FULL JOIN new n ON o.o_orderkey = n.o_orderkey)
            WHERE change_type IS NOT NULL
        """,
        "media_audio_stats": """
            WITH p AS (
                SELECT doc_id, md5(text) || md5(text || 'a') AS hx
                FROM documents),
            s AS (
                SELECT doc_id,
                       [CASE WHEN u >= 32768 THEN u - 65536 ELSE u END
                        FOR u IN [
                            (strpos('0123456789abcdef',
                                    substr(hx, 4*i + 1, 1)) - 1) * 16
                          + (strpos('0123456789abcdef',
                                    substr(hx, 4*i + 2, 1)) - 1)
                          + 256 * ((strpos('0123456789abcdef',
                                    substr(hx, 4*i + 3, 1)) - 1) * 16
                          + (strpos('0123456789abcdef',
                                    substr(hx, 4*i + 4, 1)) - 1))
                            FOR i IN generate_series(0, 15)]] AS v
                FROM p)
            SELECT doc_id AS asset_id,
                   cast(16 AS bigint) AS n_samples,
                   cast(list_sum(list_transform(v, x -> x * x))
                        AS bigint) AS sum_sq,
                   cast(list_max(list_transform(v, x -> abs(x)))
                        AS bigint) AS peak,
                   cast(1 AS bigint) AS duration_ms
            FROM s
        """,
        "dq_report": """
            WITH n AS (SELECT count(*) AS n_rows FROM events),
            f AS (
                SELECT 'not_null[user_id]' AS expectation,
                       count(*) FILTER (WHERE NOT
                           coalesce(user_id IS NOT NULL, false)) AS n_failed
                FROM events
                UNION ALL
                SELECT 'not_null[props]',
                       count(*) FILTER (WHERE NOT
                           coalesce(props IS NOT NULL, false))
                FROM events
                UNION ALL
                SELECT 'in_range[value]',
                       count(*) FILTER (WHERE NOT
                           coalesce(value BETWEEN 0 AND 500, false))
                FROM events
                UNION ALL
                SELECT 'in_set[event_type]',
                       count(*) FILTER (WHERE NOT coalesce(event_type IN
                           ('view','click','purchase','like','share'), false))
                FROM events
                UNION ALL
                SELECT 'event_id_positive',
                       count(*) FILTER (WHERE NOT
                           coalesce(event_id > 0, false))
                FROM events)
            SELECT f.expectation,
                   cast(n.n_rows AS bigint) AS n_rows,
                   cast(f.n_failed AS bigint) AS n_failed,
                   cast((n.n_rows - f.n_failed) * 10000 // n.n_rows
                        AS bigint) AS pass_bp
            FROM f, n
        """,
        "dq_referential_orphans": """
            SELECT user_id, cast(count(*) AS bigint) AS n_orphans
            FROM events e
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = e.user_id
                                AND c.c_acctbal >= 0)
            GROUP BY user_id
        """,
        "dq_unique_violations": """
            SELECT o_custkey, cast(count(*) AS bigint) AS n_dupes
            FROM orders GROUP BY o_custkey HAVING count(*) > 1
        """,
        "mg_heavy_hitters": f"""
            WITH toks AS (
                SELECT unnest({tokens}) AS token FROM documents),
            tot AS (SELECT count(*) AS total FROM toks)
            SELECT token, cast(count(*) AS bigint) AS n
            FROM toks, tot
            GROUP BY token, tot.total
            HAVING count(*) * 200 > tot.total
        """,
        "foreach_batch_sink": """
            SELECT lang,
                   cast(count(*) AS bigint) AS n_docs,
                   cast(sum(n_chars) AS bigint) AS total_chars
            FROM documents
            GROUP BY lang
        """,
        "media_thumbnails": """
            WITH p AS (
                SELECT doc_id AS asset_id,
                       md5(text) || md5(text || 'x') || md5(text || 'y')
                           AS hx
                FROM documents)
            SELECT asset_id,
                   cast(2 AS bigint) AS thumb_width,
                   cast(2 AS bigint) AS thumb_height,
                   substr(hx, 1, 6) || substr(hx, 13, 6)
                       || substr(hx, 49, 6) || substr(hx, 61, 6) AS thumb_hex
            FROM p
        """,
        "media_features": """
            SELECT doc_id AS asset_id,
                   CASE WHEN doc_id % 3 = 0 THEN 'image'
                        WHEN doc_id % 3 = 1 THEN 'audio'
                        ELSE 'video' END AS modality,
                   cast(octet_length(encode(coalesce(text, ''))) AS bigint)
                       AS n_bytes,
                   sha256(coalesce(text, '')) AS sha256
            FROM documents
        """,
        "media_frame_sample": """
            WITH v AS (
                SELECT doc_id AS asset_id, coalesce(text, '') AS payload,
                       greatest(n_chars * 100, 1) AS dur
                FROM documents WHERE doc_id % 3 = 2)
            SELECT asset_id,
                   cast(ms // 1000 AS int) AS frame_index,
                   ms AS frame_ms,
                   sha256(payload || cast(ms AS varchar)) AS frame_sha
            FROM v, unnest(generate_series(0, cast(dur - 1 AS bigint), 1000))
                        AS t(ms)
        """,
        "salted_join": """
            WITH dim AS (
                SELECT event_type, round(avg(value), 4) AS type_avg
                FROM events GROUP BY event_type)
            SELECT e.event_id, e.event_type, d.type_avg,
                   round(e.value - d.type_avg, 4) AS value_dev
            FROM events e JOIN dim d USING (event_type)
        """,
        "salted_distinct_users": """
            SELECT event_type, count(DISTINCT user_id) AS n_users
            FROM events GROUP BY event_type
        """,
        "percentiles": """
            SELECT l_returnflag,
                   round(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
                   round(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
                   round(quantile_cont(l_extendedprice, 0.75), 4) AS p75
            FROM lineitem GROUP BY l_returnflag
        """,
        "window_ntile_firstlast": """
            SELECT o_orderkey, o_orderstatus,
                   ntile(4) OVER w AS quartile,
                   first_value(o_orderkey) OVER wf AS cheapest_orderkey,
                   last_value(o_orderkey) OVER wf AS priciest_orderkey
            FROM orders
            WINDOW w AS (PARTITION BY o_orderstatus
                         ORDER BY o_totalprice ASC, o_orderkey ASC),
                   wf AS (PARTITION BY o_orderstatus
                          ORDER BY o_totalprice ASC, o_orderkey ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND UNBOUNDED FOLLOWING)
        """,
        "exists_inequality": """
            SELECT o_orderpriority, count(*) AS n_orders
            FROM orders
            WHERE EXISTS (
                SELECT 1 FROM lineitem
                WHERE l_orderkey = o_orderkey
                  AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
            GROUP BY o_orderpriority
        """,
        "user_running_totals": """
            SELECT user_id, count(*) AS n_events,
                   round(sum(value), 2) AS total_value,
                   max(ts) AS last_ts
            FROM events GROUP BY user_id
        """,
        "stream_dedup_counts": """
            SELECT event_type, count(*) AS n,
                   round(sum(value), 2) AS sum_value
            FROM events GROUP BY event_type
        """,
        # The pandas_udf enrichment path is oracle-expressible because
        # DeterministicClassifier is a pure function of the text: lexicon
        # sentiment + md5-derived picks (h == md5_number_upper).
        "enrich_documents": f"""
            WITH t AS (
                SELECT doc_id, text,
                       {_lexicon('text')[1]} AS pos,
                       {_lexicon('text')[2]} AS neg
                FROM documents
                WHERE length(trim(coalesce(text, ''))) > 0)
            SELECT doc_id, text,
                   CASE WHEN pos > neg THEN 'positive'
                        WHEN neg > pos THEN 'negative'
                        ELSE 'neutral' END AS sentiment,
                   round(CASE WHEN pos > neg THEN least(1.0, 0.25*(pos - neg))
                              WHEN neg > pos
                                  THEN greatest(-1.0, -0.25*(neg - pos))
                              ELSE 0.0 END, 2) AS sentiment_score,
                   CASE WHEN pos > neg THEN 'joy'
                        WHEN neg > pos THEN 'anger'
                        ELSE 'neutral' END AS emotion,
                   substr(text, 1, 80) AS summary
            FROM t
        """,
        "enrich_video_titles": f"""
            WITH v AS (
                SELECT 'vid' || o_orderkey AS video_id,
                       o_orderpriority || ' order ' || o_orderkey AS title
                FROM orders),
            h AS (
                SELECT video_id, title,
                       md5_number_upper('42:' || title) AS h
                FROM v)
            SELECT video_id,
                   {sentiment_case('title')} AS sentiment,
                   array_to_string(list_slice(
                       [{_emolist}[cast(h % 7 AS int) + 1],
                        {_emolist}[cast((h // 7) % 7 AS int) + 1]],
                       1, cast(h % 2 AS int) + 1), '|') AS emotions_csv,
                   cast(h % 2 AS bigint) + 1 AS n_emotions,
                   cast(least(len(list_distinct(
                       {_lexicon('title')[0]})), 8) AS bigint) AS n_topics
            FROM h
        """,
        # domain_mix: identical URL synth (integer doc_id arithmetic) +
        # the url.py normalization regexes shared verbatim via the
        # *_sql twins; integer div shares
        "domain_mix": f"""
            WITH urls AS (
                SELECT doc_id, text,
                       {planted_url}
                       || (['?utm_source=feed&b=2&a=1',
                            '?a=1&b=2&utm_campaign=x', '?b=2&a=1', ''])
                          [cast(doc_id % 4 AS int) + 1]
                       || (CASE WHEN doc_id % 7 = 0 THEN '#frag'
                           ELSE '' END) AS url
                FROM documents),
            norm AS (
                SELECT {url_domain_sql('url')} AS domain,
                       {url_normalize_sql('url')} AS nurl,
                       cast(len({tokens}) AS bigint) AS toks
                FROM urls),
            per_url AS (
                SELECT domain, nurl,
                       cast(count(*) AS bigint) AS docs,
                       cast(sum(toks) AS bigint) AS tokens
                FROM norm GROUP BY 1, 2),
            per_domain AS (
                SELECT domain,
                       cast(sum(docs) AS bigint) AS n_docs,
                       cast(count(*) AS bigint) AS n_pages,
                       cast(sum(tokens) AS bigint) AS n_tokens
                FROM per_url GROUP BY 1)
            SELECT domain, n_docs, n_pages,
                   cast(10000 * (n_docs - n_pages) // n_docs AS bigint)
                       AS url_dup_bp,
                   n_tokens,
                   cast(1000 * n_tokens //
                        (sum(n_tokens) OVER ()) AS bigint)
                       AS token_share_permille
            FROM per_domain
        """,
        # turn_dedup: the chunk_documents splitter at width 4 / stride
        # 4, md5 turn fingerprints, keep-first by (id, idx), ordered
        # string_agg reassembly
        "turn_dedup": f"""
            WITH toks AS (
                SELECT doc_id, {tokens} AS tokens FROM documents),
            st AS (
                SELECT doc_id, tokens,
                       generate_series(1, greatest(len(tokens), 1), 4)
                           AS starts
                FROM toks),
            turns AS (
                SELECT doc_id,
                       unnest(generate_series(0, len(starts) - 1))
                           AS chunk_idx,
                       unnest(list_transform(
                           starts, s -> list_slice(tokens, s, s + 3)))
                           AS chunk_toks
                FROM st),
            fp AS (
                SELECT doc_id, chunk_idx,
                       array_to_string(chunk_toks, ' ') AS chunk_text,
                       md5(array_to_string(chunk_toks, ' ')) AS f
                FROM turns WHERE len(chunk_toks) > 0),
            marked AS (
                SELECT doc_id, chunk_idx, chunk_text,
                       CASE WHEN row_number() OVER (
                           PARTITION BY f ORDER BY doc_id, chunk_idx
                       ) = 1 THEN 1 ELSE 0 END AS keep
                FROM fp)
            SELECT doc_id,
                   cast(count(*) AS bigint) AS n_turns,
                   cast(sum(1 - keep) AS bigint) AS n_dup_turns,
                   coalesce(string_agg(
                       CASE WHEN keep = 1 THEN chunk_text END, ' '
                       ORDER BY chunk_idx), '') AS text_deduped
            FROM marked GROUP BY doc_id
        """,
        # minhash_near_dup / simhash_near_dup / embedding_near_dup /
        # knn_lsh / knn_ivf: intentionally omitted — approximate or
        # sample-trained; the driver records the weaker rows-only check.
    }
    # loaded-index spans must be hash-identical to the in-plan
    # construction — one contract, two execution paths (the
    # knn_ivf_persisted pattern)
    out["exact_substring_spans_persisted"] = out["exact_substring_spans"]
    out["bm25_search_persisted"] = out["bm25_search"]
    out["lm_perplexity_persisted"] = out["lm_perplexity_filter"]
    out.update(_r9_oracles())
    # loaded-index ADC must be hash-identical to the in-plan
    # construction — one contract, two execution paths
    out["pq_ann_persisted"] = out["pq_ann"]
    # the merged shard registries must equal one full recompute
    out["paragraph_registry_merge"] = out["paragraph_registry"]
    # nprobe = n_centroids admits every list, so IVF-PQ must equal
    # plain pq_ann bit-for-bit (knn_ivf_exhaustive's certification
    # argument applied to the composition); the dialed knn_ivfpq is
    # rows-only by the same contract as knn_ivf
    out["knn_ivfpq_exhaustive"] = out["pq_ann"]
    out["nb_quality_classifier"] = """
            WITH labeled AS (
                SELECT doc_id, text, (lang = 'en') AS lab
                FROM documents WHERE doc_id % 3 <> 0),
            score_docs AS (
                SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
            tok_l AS (
                SELECT lab, unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS w FROM labeled),
            counts AS (
                SELECT w,
                    CAST(sum(CASE WHEN lab THEN 1 ELSE 0 END) AS BIGINT)
                        AS cp,
                    CAST(sum(CASE WHEN NOT lab THEN 1 ELSE 0 END)
                         AS BIGINT) AS cn
                FROM tok_l GROUP BY w),
            stats AS (
                SELECT coalesce(sum(cp), 0) AS tp,
                       coalesce(sum(cn), 0) AS tn,
                       count(*) + 1 AS v
                FROM counts),
            dstats AS (
                SELECT sum(CASE WHEN lab THEN 1 ELSE 0 END) AS np,
                       sum(CASE WHEN NOT lab THEN 1 ELSE 0 END) AS nn
                FROM labeled),
            toks AS (
                SELECT doc_id, unnest(list_filter(string_split_regex(lower(text), '\\s+'), t -> t <> '')) AS w
                FROM score_docs),
            wt AS (
                SELECT t.doc_id,
                    (CAST(floor(1000000.0 * (ln(coalesce(c.cp, 0) + 1)
                         - ln((s.tp + s.v)::DOUBLE))) AS BIGINT)
                     - CAST(floor(1000000.0 * (ln(coalesce(c.cn, 0) + 1)
                         - ln((s.tn + s.v)::DOUBLE))) AS BIGINT)) AS wti
                FROM toks t
                LEFT JOIN counts c ON t.w = c.w
                CROSS JOIN stats s),
            agg AS (
                SELECT doc_id, CAST(count(*) AS BIGINT) AS n_scored,
                       CAST(sum(wti) AS BIGINT) AS ssum
                FROM wt GROUP BY doc_id),
            prior AS (
                SELECT (CAST(floor(1000000.0 * (ln(np::DOUBLE)
                            - ln((np + nn)::DOUBLE))) AS BIGINT)
                      - CAST(floor(1000000.0 * (ln(nn::DOUBLE)
                            - ln((np + nn)::DOUBLE))) AS BIGINT)) AS pr
                FROM dstats)
            SELECT d.doc_id,
                   CAST(coalesce(a.n_scored, 0) AS BIGINT) AS n_scored,
                   CAST(a.ssum + p.pr AS BIGINT) AS score_micro,
                   CASE WHEN a.ssum IS NOT NULL
                        THEN (a.ssum + p.pr) > 0 END AS predicted
            FROM score_docs d
            LEFT JOIN agg a USING (doc_id)
            CROSS JOIN prior p
        """
    out["line_language_mix"] = f"""{multilingual_pages},
            lines AS (
                SELECT doc_id, unnest(string_split(text, chr(10))) AS l
                FROM synth),
            nb AS (SELECT doc_id, l FROM lines WHERE trim(l) <> ''),
            langed AS (
                SELECT doc_id, {language_id_sql('l')} AS lang FROM nb),
            per AS (
                SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n
                FROM langed GROUP BY 1, 2),
            rolled AS (
                SELECT doc_id, lang, n,
                       row_number() OVER (PARTITION BY doc_id
                           ORDER BY n DESC, lang ASC) AS rk,
                       CAST(sum(n) OVER (PARTITION BY doc_id) AS BIGINT)
                           AS n_lines,
                       CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT)
                           AS n_langs
                FROM per)
            SELECT doc_id, n_lines, lang AS dominant_lang,
                   CAST(1000 * n // n_lines AS BIGINT)
                       AS dominant_permille,
                   n_langs
            FROM rolled WHERE rk = 1
        """
    # loaded-model scoring must be hash-identical to in-plan training
    out["nb_quality_persisted"] = out["nb_quality_classifier"]

    # r10: the operating-point curve reuses the classifier's exact CTE
    # chain (same training, same scoring) and aggregates per cutoff of
    # the SHARED grid constant — generated, so the grids cannot drift
    from youtube_podcast_data_pipeline_azure_spark.operators.curation import (
        NB_THRESHOLD_GRID,
    )

    grid = ", ".join(str(int(t)) for t in NB_THRESHOLD_GRID)
    nb_chain = out["nb_quality_classifier"].split("SELECT d.doc_id,")[0]
    out["nb_threshold_curve"] = f"""
            {nb_chain.rstrip()},
            scored AS (
                SELECT d.doc_id, (d.lang = 'en') AS truth,
                       CAST(a.ssum + p.pr AS BIGINT) AS score_micro
                FROM (SELECT doc_id, lang FROM documents
                      WHERE doc_id % 3 = 0) d
                LEFT JOIN agg a USING (doc_id)
                CROSS JOIN prior p),
            totals AS (
                SELECT CAST(coalesce(sum(CASE WHEN truth THEN 1 ELSE 0
                            END), 0) AS BIGINT) AS npos,
                       CAST(count(*) AS BIGINT) AS n
                FROM scored),
            grid AS (SELECT unnest([{grid}]) AS threshold_micro),
            curve AS (
                SELECT g.threshold_micro,
                       CAST(sum(CASE WHEN s.score_micro > g.threshold_micro
                                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
                       CAST(sum(CASE WHEN s.score_micro > g.threshold_micro
                                     AND s.truth
                                THEN 1 ELSE 0 END) AS BIGINT)
                           AS n_pos_kept
                FROM grid g CROSS JOIN scored s
                GROUP BY 1)
            SELECT CAST(c.threshold_micro AS BIGINT) AS threshold_micro,
                   c.n_kept, c.n_pos_kept,
                   CAST(1000 * c.n_pos_kept // greatest(c.n_kept, 1)
                        AS BIGINT) AS precision_permille,
                   CAST(1000 * c.n_pos_kept // greatest(t.npos, 1)
                        AS BIGINT) AS recall_permille,
                   CAST(1000 * c.n_kept // greatest(t.n, 1)
                        AS BIGINT) AS yield_permille
            FROM curve c CROSS JOIN totals t
        """

    # r11: NB reliability table — same scoring chain, exact decile
    # edges via quantile_cont on the integer scores (floored, the
    # token_rarity_bins pattern), bin = 1 + #edges strictly below.
    _rel_fracs = ", ".join(f"{i / 10:.6f}" for i in range(1, 10))
    out["nb_reliability"] = f"""
            {nb_chain.rstrip()},
            scored AS (
                SELECT d.doc_id, (d.lang = 'en') AS truth,
                       CAST(a.ssum + p.pr AS BIGINT) AS score_micro
                FROM (SELECT doc_id, lang FROM documents
                      WHERE doc_id % 3 = 0) d
                LEFT JOIN agg a USING (doc_id)
                CROSS JOIN prior p),
            nn AS (
                SELECT truth, score_micro FROM scored
                WHERE score_micro IS NOT NULL),
            cuts AS (
                SELECT list_transform(
                           quantile_cont(score_micro,
                                         [{_rel_fracs}]),
                           x -> CAST(floor(x) AS BIGINT)) AS cs
                FROM nn),
            binned AS (
                SELECT truth, score_micro,
                       CAST(1 + len(list_filter(cs,
                            c -> score_micro > c)) AS BIGINT) AS bin
                FROM nn CROSS JOIN cuts)
            SELECT bin,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN truth THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_pos,
                   CAST(1000 * sum(CASE WHEN truth THEN 1 ELSE 0 END)
                        // count(*) AS BIGINT) AS pos_permille,
                   CAST(min(score_micro) AS BIGINT) AS score_min_micro,
                   CAST(max(score_micro) AS BIGINT) AS score_max_micro
            FROM binned GROUP BY 1
        """

    # r10: matryoshka truncation recall — per (trunc_dim, query),
    # round-4 cosine over the list prefix, rank, hit-join vs the
    # full-dim reference (the knn_bruteforce tie contract)
    out["embedding_dim_truncation"] = """
            WITH eall AS (
                SELECT vec_id,
                       list_transform(embedding, x -> x::DOUBLE) AS v
                FROM embeddings),
            c AS (SELECT vec_id, v FROM eall WHERE vec_id >= 5),
            q AS (SELECT vec_id, v FROM eall WHERE vec_id < 5),
            d AS (SELECT unnest([16, 32, 64]) AS trunc_dim),
            scored AS (
                SELECT d.trunc_dim, q.vec_id AS query_id,
                       c.vec_id AS neighbor_id,
                       round(
                           list_dot_product(c.v[1:d.trunc_dim],
                                            q.v[1:d.trunc_dim])
                           / (sqrt(list_dot_product(c.v[1:d.trunc_dim],
                                                    c.v[1:d.trunc_dim]))
                              * sqrt(list_dot_product(q.v[1:d.trunc_dim],
                                                      q.v[1:d.trunc_dim]))),
                           4) AS cos
                FROM d CROSS JOIN q CROSS JOIN c),
            topk AS (
                SELECT trunc_dim, query_id, neighbor_id FROM (
                    SELECT trunc_dim, query_id, neighbor_id,
                           row_number() OVER (
                               PARTITION BY trunc_dim, query_id
                               ORDER BY cos DESC, neighbor_id ASC) AS rn
                    FROM scored)
                WHERE rn <= 10),
            exact AS (
                SELECT query_id, neighbor_id FROM topk
                WHERE trunc_dim = 64),
            nex AS (
                SELECT query_id, CAST(count(*) AS BIGINT) AS n_exact
                FROM exact GROUP BY 1),
            hits AS (
                SELECT t.trunc_dim, t.query_id,
                       CAST(sum(CASE WHEN e.neighbor_id IS NOT NULL
                                THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
                FROM topk t
                LEFT JOIN exact e
                    ON e.query_id = t.query_id
                       AND e.neighbor_id = t.neighbor_id
                GROUP BY 1, 2)
            SELECT CAST(h.trunc_dim AS BIGINT) AS trunc_dim,
                   h.query_id, n.n_exact, h.n_hits,
                   CAST(h.n_hits * 10000 // n.n_exact AS BIGINT)
                       AS recall_bp
            FROM hits h JOIN nex n USING (query_id)
        """

    # r10: the fused Dolma-style signal vector — every signal from the
    # same generated twins the standalone reports use (gopher rule
    # constants, language_id_sql, quality_score_sql, the module-level
    # pii_count_sql)
    from youtube_podcast_data_pipeline_azure_spark.operators.curation import (
        GOPHER_ALPHA_RE as _GA,
    )
    from youtube_podcast_data_pipeline_azure_spark.operators.curation import (
        GOPHER_BULLET_RE as _GB,
    )
    from youtube_podcast_data_pipeline_azure_spark.operators.curation import (
        GOPHER_ELLIPSIS_RE as _GE,
    )
    from youtube_podcast_data_pipeline_azure_spark.operators.curation import (
        GOPHER_STOPWORDS as _GS,
    )

    _stop_sum = " + ".join(
        f"(CASE WHEN list_contains(words, '{s}') THEN 1 ELSE 0 END)"
        for s in _GS
    )
    out["quality_signals"] = f"""
            WITH base AS (
                SELECT doc_id, text,
                    list_filter(string_split_regex(lower(text), '\\s+'),
                        t -> t <> '') AS words,
                    string_split(text, chr(10)) AS lines,
                    len(regexp_extract_all(text, '#|\\.\\.\\.|…'))
                        AS nsym
                FROM documents),
            c AS (
                SELECT doc_id, text,
                    len(words) AS n_words,
                    greatest(len(words), 1) AS dw,
                    coalesce(list_aggregate(
                        list_transform(words, w -> length(w)), 'sum'),
                        0) AS wc,
                    nsym,
                    len(lines) AS n_lines,
                    greatest(len(lines), 1) AS dl,
                    len(list_filter(lines,
                        l -> regexp_matches(l, '{_GB}'))) AS bul,
                    len(list_filter(lines,
                        l -> regexp_matches(l, '{_GE}'))) AS ell,
                    len(list_filter(words,
                        w -> regexp_matches(w, '{_GA}'))) AS alpha,
                    {_stop_sum} AS n_stop
                FROM base)
            SELECT doc_id,
                CAST(n_words AS BIGINT) AS n_words,
                CAST(10 * wc // dw AS BIGINT) AS mean_word_len_deci,
                CAST(1000 * nsym // dw AS BIGINT)
                    AS symbol_ratio_permille,
                CAST(n_lines AS BIGINT) AS n_lines,
                CAST(1000 * bul // dl AS BIGINT)
                    AS bullet_lines_permille,
                CAST(1000 * ell // dl AS BIGINT)
                    AS ellipsis_lines_permille,
                CAST(1000 * alpha // dw AS BIGINT)
                    AS alpha_word_permille,
                CAST(n_stop AS BIGINT) AS n_stop_hits,
                {lang} AS lang,
                {qual} AS quality,
                {pii_count_sql('text', 'email')} AS n_pii_email,
                {pii_count_sql('text', 'phone')} AS n_pii_phone,
                {pii_count_sql('text', 'ip')} AS n_pii_ip,
                (n_words >= 50 AND n_words <= 100000
                 AND 10 * wc // dw BETWEEN 30 AND 100
                 AND 1000 * nsym // dw <= 100
                 AND 1000 * bul // dl <= 900
                 AND 1000 * ell // dl <= 300
                 AND 1000 * alpha // dw >= 800
                 AND n_stop >= 2) AS gopher_keep
            FROM c
        """

    # r10: per-language rarity terciles — the token_rarity_bins chain
    # with lang as a grouping key and per-lang quantile cuts
    out["rarity_bins_by_lang"] = f"""
            WITH toks0 AS (
                SELECT doc_id, {lang} AS lang, {tokens} AS tokens
                FROM documents),
            tok AS (
                SELECT doc_id, lang, unnest(tokens) AS term FROM toks0),
            counts AS (
                SELECT term, cast(count(*) AS bigint) AS c
                FROM tok GROUP BY 1),
            total AS (
                SELECT cast(sum(c) AS bigint) AS t FROM counts),
            scored AS (
                SELECT tk.doc_id, tk.lang,
                       cast(count(*) AS bigint) AS n_tokens,
                       cast(sum((c.c * 1000000) // tt.t) // count(*)
                            AS bigint) AS mean_token_ppm
                FROM tok tk
                JOIN counts c USING (term)
                CROSS JOIN total tt
                GROUP BY 1, 2),
            cuts AS (
                SELECT lang,
                       cast(floor(quantile_cont(mean_token_ppm, 0.3333))
                            AS bigint) AS c1,
                       cast(floor(quantile_cont(mean_token_ppm, 0.6667))
                            AS bigint) AS c2
                FROM scored GROUP BY 1)
            SELECT s.doc_id, s.lang, s.n_tokens, s.mean_token_ppm,
                   CASE WHEN s.mean_token_ppm <= c.c1 THEN 'tail'
                        WHEN s.mean_token_ppm <= c.c2 THEN 'middle'
                        ELSE 'head' END AS rarity_bin
            FROM scored s JOIN cuts c USING (lang)
        """

    # r10: containment near-dup — INDEPENDENT brute-force oracle (all
    # ordered pairs, exact intersect ratio) certifying the asymmetric
    # prefix filter's losslessness; same shingle construction as the
    # ngram_jaccard oracle.  len(sh) > 0 guard: a 0/0 containment is
    # NaN, which DuckDB compares GREATER than the threshold while
    # Spark's candidate generation never emits shingle-less probes.
    quote_shingles = f"""
            WITH base AS (
                SELECT doc_id, text FROM documents
                UNION ALL
                SELECT doc_id + 100000,
                       array_to_string(
                           (string_split(text, ' '))[1:12], ' ')
                FROM documents WHERE doc_id % 7 = 0),
            toks AS (
                SELECT doc_id, {tokens} AS tokens FROM base),
            sdocs AS (
                SELECT doc_id,
                       list_distinct([array_to_string(tokens[i:i+2], ' ')
                           for i in generate_series(
                               1, greatest(len(tokens)-3, 0)+1)]) AS sh
                FROM toks)"""
    out["containment_pairs"] = f"""{quote_shingles}
            SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                   round(cast(len(list_intersect(a.sh, b.sh)) AS double)
                         / len(a.sh), 4) AS containment
            FROM sdocs a JOIN sdocs b ON a.doc_id <> b.doc_id
            WHERE len(a.sh) > 0
              AND round(cast(len(list_intersect(a.sh, b.sh)) AS double)
                        / len(a.sh), 4) >= 0.8
        """

    # r10: containment keep-one verdicts — same brute-force pair base
    # + the strict (|sh|, -id) dominance pick replayed in SQL
    out["containment_dedup"] = f"""{quote_shingles},
            pairs AS (
                SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                       round(cast(len(list_intersect(a.sh, b.sh))
                                  AS double) / len(a.sh), 4)
                           AS containment,
                       len(a.sh) AS sz_a, len(b.sh) AS sz_b
                FROM sdocs a JOIN sdocs b ON a.doc_id <> b.doc_id
                WHERE len(a.sh) > 0
                  AND round(cast(len(list_intersect(a.sh, b.sh))
                                 AS double) / len(a.sh), 4) >= 0.8),
            dom AS (
                SELECT * FROM pairs
                WHERE sz_b > sz_a OR (sz_b = sz_a AND id_b < id_a)),
            best AS (
                SELECT id_a, id_b, containment FROM (
                    SELECT id_a, id_b, containment,
                           row_number() OVER (PARTITION BY id_a
                               ORDER BY containment DESC, sz_b DESC,
                                        id_b ASC) AS rk
                    FROM dom)
                WHERE rk = 1)
            SELECT base.doc_id,
                   (b.id_b IS NULL) AS kept,
                   b.id_b AS contained_in,
                   b.containment
            FROM base LEFT JOIN best b ON b.id_a = base.doc_id
        """

    # r10: streaming quality monitor — the per-lang rollup over the
    # quality_signals twin (integer bp mean: per-doc floor then an
    # order-independent integer-sum division)
    out["streaming_quality_monitor"] = f"""
            SELECT lang,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(CASE WHEN gopher_keep THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_gopher_keep,
                   CAST(sum(CAST(floor(quality * 10000) AS BIGINT))
                        // count(*) AS BIGINT) AS mean_quality_bp,
                   CAST(sum(CASE WHEN n_pii_email + n_pii_phone
                                      + n_pii_ip > 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs
            FROM ({out["quality_signals"]}) q
            GROUP BY lang
        """

    # r10: int8-coarse / exact-rerank ANN — the full two-stage
    # composition replayed: floor quantization (the
    # embedding_quantization chain), integer coarse dot · corpus
    # scale, top-32 candidate rank, exact-cosine rerank.
    out["knn_sq8_rerank"] = f"""
            WITH v8 AS (
                SELECT vec_id,
                       list_transform(embedding, x -> x::DOUBLE) AS v
                FROM embeddings),
            s8 AS (
                SELECT vec_id, v,
                       list_max(list_transform(v, x -> abs(x))) AS scale
                FROM v8),
            q8 AS (
                SELECT vec_id,
                       list_transform(v, x -> floor(x * 127 /
                           (CASE WHEN scale > 0 THEN scale ELSE 1.0 END)
                           + 0.5)) AS q,
                       CAST(floor(scale * 1e6) AS BIGINT) AS sm
                FROM s8),
            coarse AS (
                SELECT qq.vec_id AS query_id, cc.vec_id AS neighbor_id,
                       CAST(list_sum(list_transform(
                           generate_series(1, len(cc.q)),
                           i -> cc.q[i] * qq.q[i])) AS BIGINT) * cc.sm
                           AS approx
                FROM q8 cc, q8 qq
                WHERE qq.vec_id < 5 AND cc.vec_id >= 5),
            cand AS (
                SELECT query_id, neighbor_id FROM (
                    SELECT query_id, neighbor_id,
                           row_number() OVER (PARTITION BY query_id
                               ORDER BY approx DESC, neighbor_id ASC)
                               AS crk
                    FROM coarse)
                WHERE crk <= 32)
            SELECT query_id, neighbor_id, rank, cosine FROM (
                SELECT cd.query_id, cd.neighbor_id,
                       round({cos}, 4) AS cosine,
                       row_number() OVER (PARTITION BY cd.query_id
                           ORDER BY round({cos}, 4) DESC,
                                    cd.neighbor_id ASC) AS rank
                FROM cand cd
                JOIN embeddings c ON c.vec_id = cd.neighbor_id
                JOIN embeddings q ON q.vec_id = cd.query_id)
            WHERE rank <= 10
        """

    # r10: perceptual-hash image near-dup — INDEPENDENT brute-force
    # twin: the 36-bit aHash is recomputed from the digest hex bytes
    # (luma = r+g+b per pixel, strict cross-multiplied mean compare),
    # then all pairs at bit_count(xor) <= 3 listed by O(n²) join —
    # certifying the kernel bit-for-bit AND the pigeonhole blocking's
    # losslessness rather than replaying the block join.
    out["image_near_dup"] = """
            WITH hx AS (
                SELECT doc_id,
                       substr(md5(text) || md5(text || 'x')
                           || md5(text || 'y') || md5(text || 'z')
                           || md5(text || 'w') || md5(text || 'v')
                           || md5(text || 'u') || md5(text || 't')
                           || md5(text || 's') || md5(text || 'r'),
                           1, 294) AS hs
                FROM documents),
            assets AS (
                SELECT doc_id AS asset_id, hs FROM hx
                UNION ALL
                SELECT doc_id + 1000000, hs FROM hx WHERE doc_id % 11 = 0
                UNION ALL
                SELECT doc_id + 2000000, '00' || substr(hs, 3)
                FROM hx WHERE doc_id % 7 = 0),
            byt AS (
                SELECT asset_id,
                       [ (strpos('0123456789abcdef',
                             substr(hs, 2*j + 1, 1)) - 1) * 16
                       + (strpos('0123456789abcdef',
                             substr(hs, 2*j + 2, 1)) - 1)
                         FOR j IN generate_series(0, 146) ] AS by
                FROM assets),
            lum AS (
                SELECT asset_id,
                       [ by[3*p + 1] + by[3*p + 2] + by[3*p + 3]
                         FOR p IN generate_series(0, 48) ] AS lm
                FROM byt),
            tot AS (
                SELECT asset_id, lm, list_sum(lm) AS t FROM lum),
            h AS (
                SELECT asset_id,
                       CAST(list_sum(
                           [ CASE WHEN 49 * lm[i] > t
                                  THEN (1::BIGINT << (i - 1))
                                  ELSE 0 END
                             FOR i IN generate_series(1, 49) ])
                           AS BIGINT) AS ahash
                FROM tot)
            SELECT a.asset_id AS id_a, b.asset_id AS id_b,
                   CAST(bit_count(xor(a.ahash, b.ahash)) AS BIGINT)
                       AS hamming
            FROM h a JOIN h b ON a.asset_id < b.asset_id
            WHERE bit_count(xor(a.ahash, b.ahash)) <= 3
        """

    # r10: domain blocklist — same URL synth as domain_mix (minus the
    # query/fragment parts the verdict never reads), url.py domain twin,
    # label-suffix containment against the shared literal list.
    bl_sql = "[" + ", ".join(f"'{d}'" for d in _BLOCKLIST_DOMAINS) + "]"
    out["domain_blocklist"] = f"""
            WITH urls AS (
                SELECT doc_id, {planted_url} AS url
                FROM documents),
            dom AS (
                SELECT doc_id, {url_domain_sql('url')} AS domain
                FROM urls),
            lab AS (
                SELECT doc_id, domain,
                       string_split(domain, '.') AS labels
                FROM dom)
            SELECT doc_id, domain,
                   coalesce(list_has_any(
                       [array_to_string(labels[i:], '.')
                        FOR i IN generate_series(1, len(labels))],
                       {bl_sql}), false) AS blocked
            FROM lab
        """

    # r10: Dunning G² keyness — identical integer micro-ln composition
    # (per-side floor(1e6·ln-ratio) then exact count multiply).
    out["keyness_terms"] = f"""
            WITH toks AS (
                SELECT (lang = 'en') AS f, unnest({tokens}) AS term
                FROM documents),
            counts AS (
                SELECT term,
                       CAST(sum(CASE WHEN f THEN 1 ELSE 0 END)
                            AS BIGINT) AS n_focus,
                       CAST(sum(CASE WHEN f THEN 0 ELSE 1 END)
                            AS BIGINT) AS n_ref
                FROM toks GROUP BY term),
            tot AS (
                SELECT CAST(sum(n_focus) AS BIGINT) AS nf,
                       CAST(sum(n_ref) AS BIGINT) AS nr
                FROM counts),
            sc AS (
                SELECT term, n_focus, n_ref, nf, nr,
                       CASE WHEN n_focus > 0 THEN
                           CAST(floor(1e6 * (ln(n_focus::DOUBLE)
                               + ln((nf + nr)::DOUBLE)
                               - ln((n_focus + n_ref)::DOUBLE)
                               - ln(nf::DOUBLE))) AS BIGINT)
                           ELSE 0 END AS lf,
                       CASE WHEN n_ref > 0 THEN
                           CAST(floor(1e6 * (ln(n_ref::DOUBLE)
                               + ln((nf + nr)::DOUBLE)
                               - ln((n_focus + n_ref)::DOUBLE)
                               - ln(nr::DOUBLE))) AS BIGINT)
                           ELSE 0 END AS lr
                FROM counts, tot)
            SELECT term, n_focus, n_ref,
                   CAST(2 * (n_focus * lf + n_ref * lr) AS BIGINT)
                       AS g2_micro,
                   (n_focus * nr > n_ref * nf) AS overused
            FROM sc
            WHERE n_focus + n_ref >= 5
            ORDER BY g2_micro DESC, term ASC
            LIMIT 50
        """

    # r10: char entropy — H = ln n − Σ k·ln k / n in micro-units;
    # empty fragments filtered (split('') empty-input divergence).
    out["char_entropy"] = """
            WITH ch AS (
                SELECT doc_id, unnest(string_split(text, '')) AS c
                FROM documents),
            cc AS (
                SELECT doc_id, c, CAST(count(*) AS BIGINT) AS k
                FROM ch WHERE c <> '' GROUP BY 1, 2),
            per AS (
                SELECT doc_id,
                       CAST(sum(k) AS BIGINT) AS n_chars,
                       CAST(count(*) AS BIGINT) AS n_distinct,
                       CAST(sum(k * CAST(floor(1e6 * ln(k::DOUBLE))
                                         AS BIGINT)) AS BIGINT) AS s2
                FROM cc GROUP BY 1)
            SELECT doc_id, n_chars, n_distinct,
                   CAST(floor(1e6 * ln(n_chars::DOUBLE)) AS BIGINT)
                       - s2 // n_chars AS entropy_micro
            FROM per
        """

    # r10: audio-fingerprint near-dup — independent brute-force twin:
    # s16le samples decoded from the digest hex (the media_audio_stats
    # byte math), 33 integer window energies, sign-of-delta bits,
    # all pairs at bit_count(xor) <= 3 via O(n²) join.
    out["audio_near_dup"] = """
            WITH hx AS (
                SELECT doc_id,
                       md5(text) || md5(text || 'a') || md5(text || 'b')
                       || md5(text || 'c') || md5(text || 'd')
                       || md5(text || 'e') || md5(text || 'f')
                       || md5(text || 'g') AS hs
                FROM documents),
            assets AS (
                SELECT doc_id AS asset_id, hs FROM hx
                UNION ALL
                SELECT doc_id + 1000000, hs FROM hx WHERE doc_id % 11 = 0
                UNION ALL
                SELECT doc_id + 2000000, '00' || substr(hs, 3)
                FROM hx WHERE doc_id % 7 = 0),
            smp AS (
                SELECT asset_id,
                       [ CASE WHEN u >= 32768 THEN 65536 - u ELSE u END
                         FOR u IN [
                             (strpos('0123456789abcdef',
                                 substr(hs, 4*j + 1, 1)) - 1) * 16
                           + (strpos('0123456789abcdef',
                                 substr(hs, 4*j + 2, 1)) - 1)
                           + 256 * ((strpos('0123456789abcdef',
                                 substr(hs, 4*j + 3, 1)) - 1) * 16
                           + (strpos('0123456789abcdef',
                                 substr(hs, 4*j + 4, 1)) - 1))
                             FOR j IN generate_series(0, 63)] ] AS ab
                FROM assets),
            en AS (
                SELECT asset_id,
                       [ list_sum(ab[(w*64//49) + 1 : ((w+1)*64//49)])
                         FOR w IN generate_series(0, 48) ] AS e,
                       [ ((w+1)*64//49) - (w*64//49)
                         FOR w IN generate_series(0, 48) ] AS ln
                FROM smp),
            h AS (
                SELECT asset_id,
                       CAST(list_sum(
                           [ CASE WHEN e[w + 2] * ln[w + 1]
                                       > e[w + 1] * ln[w + 2]
                                  THEN (1::BIGINT << w) ELSE 0 END
                             FOR w IN generate_series(0, 47) ])
                           AS BIGINT) AS afp
                FROM en)
            SELECT a.asset_id AS id_a, b.asset_id AS id_b,
                   CAST(bit_count(xor(a.afp, b.afp)) AS BIGINT) AS hamming
            FROM h a JOIN h b ON a.asset_id < b.asset_id
            WHERE bit_count(xor(a.afp, b.afp)) <= 3
        """

    # r10: gopher rule attribution — per-rule fail flags composed over
    # the gopher_quality twin (shared signal arithmetic), generated
    # from one (name, PASS-predicate) list mirroring _gopher_rules.
    _ga_rules = [
        ("word_count", "n_words >= 50 AND n_words <= 100000"),
        ("mean_word_len", "mean_word_len_deci BETWEEN 30 AND 100"),
        ("symbol_ratio", "symbol_ratio_permille <= 100"),
        ("bullet_lines", "bullet_lines_permille <= 900"),
        ("ellipsis_lines", "ellipsis_lines_permille <= 300"),
        ("alpha_words", "alpha_word_permille >= 800"),
        ("stopword_hits", "n_stop_hits >= 2"),
    ]
    _ga_flags = ",\n                       ".join(
        f"CASE WHEN NOT ({pred}) THEN 1 ELSE 0 END AS f_{n}"
        for n, pred in _ga_rules
    )
    _ga_nf = " + ".join(f"f_{n}" for n, _ in _ga_rules)
    _ga_sums = ",\n                       ".join(
        f"CAST(sum(f_{n}) AS BIGINT) AS fail_{n},\n"
        f"                       CAST(sum(CASE WHEN f_{n} = 1 AND nf = 1"
        f" THEN 1 ELSE 0 END) AS BIGINT) AS sole_{n}"
        for n, _ in _ga_rules
    )
    _ga_union = "\n            UNION ALL ".join(
        f"SELECT '{n}' AS rule, n AS n_docs, fail_{n} AS n_failed,"
        f" sole_{n} AS n_sole_kill FROM a"
        for n, _ in _ga_rules
    )
    out["gopher_rule_attribution"] = f"""
            WITH gq AS ({out["gopher_quality"]}),
            f AS (
                SELECT doc_id,
                       {_ga_flags}
                FROM gq),
            g AS (SELECT *, {_ga_nf} AS nf FROM f),
            a AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       {_ga_sums}
                  FROM g)
            {_ga_union}
        """

    # r10: minhash index persistence — loaded-index probe must be
    # hash-identical to the in-plan streaming_near_dup construction,
    # so the oracle is shared verbatim (the bm25_search_persisted
    # pattern).
    out["streaming_near_dup_persisted"] = out["streaming_near_dup"]

    # r13: index delete/vacuum probe — the same exact-Jaccard truth
    # with the tombstoned (doc_id%7==0) docs erased from the corpus
    out["minhash_index_delete_probe"] = out["streaming_near_dup"].replace(
        "WHERE doc_id % 5 <> 0", "WHERE doc_id % 5 <> 0 AND doc_id % 7 <> 0"
    )

    # r10: packed-sequence materialization — pack_sequences window +
    # id-ordered string_agg per bin.
    out["pack_documents"] = f"""
            WITH d AS (
                SELECT source, doc_id, text,
                       cast(len({tokens}) AS bigint) AS tok
                FROM documents),
            p AS (
                SELECT source, doc_id, text, tok,
                       cast(floor(coalesce(sum(tok) OVER (
                                PARTITION BY source ORDER BY doc_id ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), 0)
                            / 2048.0) AS bigint) AS pack_id
                FROM d)
            SELECT source, pack_id,
                   cast(count(*) AS bigint) AS n_docs,
                   cast(sum(tok) AS bigint) AS n_tokens,
                   string_agg(text, ' ' ORDER BY doc_id) AS text
            FROM p GROUP BY 1, 2
        """

    # r10: inclusion dependencies — distinct/anti arithmetic per pair,
    # generated from one (child_table, child_col, parent_table,
    # parent_col) list mirroring the query's three calls.
    _ind_pairs = [
        ("events", "user_id", "customer", "c_custkey"),
        ("orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem", "l_partkey", "part", "p_partkey"),
    ]
    _ind_union = "\n            UNION ALL ".join(
        f"""SELECT '{cc}' AS child_col, '{pc}' AS parent_col,
                   CAST(count(*) AS BIGINT) AS n_distinct,
                   CAST(sum(CASE WHEN p.pk IS NULL THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_orphaned
            FROM (SELECT DISTINCT {cc} AS v FROM {ct}
                  WHERE {cc} IS NOT NULL) c
            LEFT JOIN (SELECT DISTINCT {pc} AS pk FROM {pt}
                       WHERE {pc} IS NOT NULL) p ON c.v = p.pk"""
        for ct, cc, pt, pc in _ind_pairs
    )
    out["inclusion_dependencies"] = f"""
            SELECT child_col, parent_col, n_distinct, n_orphaned,
                   CAST(10000 * (n_distinct - n_orphaned) // n_distinct
                        AS BIGINT) AS containment_bp,
                   (n_orphaned = 0) AS holds
            FROM ({_ind_union})
        """

    # r10: Poisson bootstrap — weight CASE generated from the SAME
    # integer threshold constants, identical md5 uniform, integer
    # replicate means, exact order-statistic CI.
    from youtube_podcast_data_pipeline_azure_spark.operators.sampling import (
        POISSON1_CDF_56 as _pcdf,
    )

    _boot_u = sketches.md5_int56_sql(
        "'boot:0:' || cast(id AS varchar) || ':' || cast(b AS varchar)"
    )
    _boot_w = (
        "CASE "
        + " ".join(
            f"WHEN {_boot_u} < {t} THEN {k}" for k, t in enumerate(_pcdf)
        )
        + " ELSE 9 END"
    )
    # ranks from the SURVIVING replicate count (count window over the
    # same B'-row set — the ADVICE r10 fix, mirrored from the Spark
    # side): (q·B' + 9999) // 10000 is the truncation-safe ceil.
    _boot_b = 48
    out["bootstrap_mean_ci"] = f"""
            WITH base AS (
                SELECT event_id AS id,
                       CAST(floor(value * 100) AS BIGINT) AS cents
                FROM events WHERE event_type = 'purchase'),
            fan AS (
                SELECT id, cents, b
                FROM base, (SELECT unnest(generate_series(0, {_boot_b - 1}))
                            AS b)),
            wts AS (
                SELECT b, cents, CAST({_boot_w} AS BIGINT) AS w FROM fan),
            reps AS (
                SELECT b, CAST(sum(w) AS BIGINT) AS sw,
                       CAST(sum(w * cents) AS BIGINT) AS swx
                FROM wts GROUP BY b),
            means AS (
                SELECT b, CAST(swx * 10000 // sw AS BIGINT) AS m
                FROM reps WHERE sw > 0),
            ranked AS (
                SELECT m, row_number() OVER (ORDER BY m ASC, b ASC) AS rk,
                       count(*) OVER () AS nb
                FROM means)
            SELECT CAST(count(*) AS BIGINT) AS n_rows,
                   CAST({_boot_b} AS BIGINT) AS n_replicates,
                   CAST(sum(cents) * 10000 // count(*) AS BIGINT)
                       AS mean_microcents,
                   (SELECT m FROM ranked
                    WHERE rk = greatest(1, (250 * nb + 9999) // 10000))
                       AS ci_lo_microcents,
                   (SELECT m FROM ranked
                    WHERE rk = greatest(1, (9750 * nb + 9999) // 10000))
                       AS ci_hi_microcents
            FROM base
        """

    # r10: markup extraction — identical planted-HTML synth + the
    # strip_markup step chain generated from MARKUP_STEPS.
    out["markup_extraction"] = f"""
            WITH synth AS (
                SELECT doc_id,
                       '<html><body class="page">'
                       || (CASE WHEN doc_id % 5 = 0 THEN
                           '<script type="text/js">var x = "<div>";</script>'
                           ELSE '' END)
                       || (CASE WHEN doc_id % 7 = 0 THEN
                           '<!-- boilerplate' || chr(10) || 'header -->'
                           ELSE '' END)
                       || '<p>' || text
                       || (CASE WHEN doc_id % 3 = 0 THEN
                           ' &amp; more &lt;here&gt;' ELSE '' END)
                       || '</p></body></html>' AS html
                FROM documents)
            SELECT doc_id, {strip_markup_sql('html')} AS clean
            FROM synth
        """

    # r10: shard manifest — Knuth shard hash + md5-int56 row
    # fingerprint (the table_fingerprint arithmetic at shard grain).
    _sm_fp = sketches.md5_int56_sql(
        "concat_ws(chr(31), "
        "coalesce(cast(doc_id AS varchar), chr(0)||'NULL'), "
        "coalesce(cast(text AS varchar), chr(0)||'NULL'), "
        "coalesce(cast(lang AS varchar), chr(0)||'NULL'))"
    )
    out["shard_manifest"] = f"""
            WITH h AS (
                SELECT cast(((doc_id + 0) * 2654435761) % 4294967296 % 8
                            AS int) AS shard_id,
                       {_sm_fp} AS fp
                FROM documents)
            SELECT shard_id,
                   cast(count(*) AS bigint) AS n_rows,
                   cast(bit_xor(fp) AS bigint) AS xor_fp,
                   cast(sum(fp % 1048576) AS bigint) AS sum_low20
            FROM h GROUP BY 1
        """

    # r10: packing budget curve — the packing_efficiency construction
    # per budget over ONE budget-independent running sum.
    out["packing_budget_curve"] = f"""
            WITH d AS (
                SELECT source, doc_id,
                       cast(len({tokens}) AS bigint) AS n_tokens
                FROM documents),
            p AS (
                SELECT source, n_tokens,
                       cast(coalesce(sum(n_tokens) OVER (
                                PARTITION BY source ORDER BY doc_id ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                         AND 1 PRECEDING), 0)
                            AS bigint) AS before
                FROM d),
            f AS (
                SELECT p.*, b.budget
                FROM p, (SELECT unnest([512, 1024, 2048, 4096, 8192])
                             ::BIGINT AS budget) b),
            g AS (
                SELECT budget, source, n_tokens,
                       cast(floor(before / budget::DOUBLE) AS bigint)
                           AS pack_id
                FROM f),
            b1 AS (
                SELECT budget, source, pack_id,
                       count(*) AS nd,
                       sum(n_tokens) AS tt,
                       sum(CASE WHEN n_tokens > budget THEN 1 ELSE 0 END)
                           AS ov
                FROM g GROUP BY 1, 2, 3),
            a AS (
                SELECT budget,
                       cast(sum(nd) AS bigint) AS n_docs,
                       cast(count(*) AS bigint) AS n_bins,
                       cast(sum(tt) AS bigint) AS total_tokens,
                       cast(sum(ov) AS bigint) AS n_oversize_docs
                FROM b1 GROUP BY 1)
            SELECT budget, n_docs, n_bins, total_tokens,
                   cast(n_bins * budget AS bigint) AS capacity_tokens,
                   cast(floor(total_tokens * 10000
                        / (n_bins * budget)) AS bigint) AS utilization_bp,
                   n_oversize_docs
            FROM a
        """

    # r10: topic tagging — VALUES dictionary from the same constant,
    # join + per-doc argmax (ties → topic asc) + id-spine left join.
    _kw_values = ", ".join(
        f"('{k}', '{v}')" for k, v in sorted(_TOPIC_KEYWORDS.items())
    )
    out["topic_tags"] = f"""
            WITH kw(keyword, topic) AS (VALUES {_kw_values}),
            toks AS (
                SELECT doc_id, unnest({tokens}) AS keyword
                FROM documents),
            counts AS (
                SELECT doc_id, topic, CAST(count(*) AS BIGINT) AS hits
                FROM toks JOIN kw USING (keyword) GROUP BY 1, 2),
            rk AS (
                SELECT *, row_number() OVER (PARTITION BY doc_id
                           ORDER BY hits DESC, topic ASC) AS rk
                FROM counts),
            per AS (
                SELECT doc_id,
                       max(CASE WHEN rk = 1 THEN topic END)
                           AS dominant_topic,
                       CAST(max(CASE WHEN rk = 1 THEN hits END)
                           AS BIGINT) AS n_hits_dominant,
                       CAST(count(*) AS BIGINT) AS n_topics,
                       CAST(sum(hits) AS BIGINT) AS n_hits_total
                FROM rk GROUP BY 1)
            SELECT d.doc_id, p.dominant_topic, p.n_hits_dominant,
                   CAST(coalesce(p.n_topics, 0) AS BIGINT) AS n_topics,
                   CAST(coalesce(p.n_hits_total, 0) AS BIGINT)
                       AS n_hits_total
            FROM documents d LEFT JOIN per p USING (doc_id)
        """

    # r10: entity resolution — synth from the shared name pools,
    # prefix + margin-banded blocking, levenshtein verify, recursive
    # CTE components (the duplicate_clusters oracle pattern).
    _er_first = "[" + ", ".join(f"'{s}'" for s in _ER_FIRST) + "]"
    _er_last = "[" + ", ".join(f"'{s}'" for s in _ER_LAST) + "]"
    out["entity_resolution"] = f"""
            WITH RECURSIVE named AS (
                SELECT c_custkey AS record_id,
                       {_er_first}[cast(c_custkey % 13 AS int) + 1]
                       || ' ' ||
                       {_er_last}[cast((c_custkey // 13) % 11 AS int) + 1]
                           AS name
                FROM customer),
            recs AS (
                SELECT record_id, name FROM named
                UNION ALL
                SELECT record_id + 1000000,
                       substr(name, 1, 2) || substr(name, 4)
                FROM named WHERE record_id % 7 = 0
                UNION ALL
                SELECT record_id + 2000000, name
                FROM named WHERE record_id % 11 = 0),
            norm AS (
                SELECT record_id,
                       lower(regexp_replace(trim(name), '\\s+', ' ', 'g'))
                           AS nm
                FROM recs),
            bb AS (
                SELECT record_id, nm, substr(nm, 1, 2) AS pfx,
                       length(nm) AS ln
                FROM norm),
            banded AS (
                SELECT record_id, nm, pfx,
                       unnest(list_distinct([ln // 4, (ln + 2) // 4]))
                           AS band
                FROM bb),
            pairs AS (
                SELECT DISTINCT a.record_id AS id_a,
                       b2.record_id AS id_b
                FROM banded a JOIN banded b2
                    ON a.pfx = b2.pfx AND a.band = b2.band
                   AND a.record_id < b2.record_id
                WHERE levenshtein(a.nm, b2.nm) <= 2),
            edges AS (
                SELECT id_a AS src, id_b AS dst FROM pairs
                UNION ALL SELECT id_b, id_a FROM pairs),
            reach(id, comp) AS (
                SELECT record_id, record_id FROM recs
                UNION
                SELECT e.src, r.comp
                FROM edges e JOIN reach r ON e.dst = r.id),
            lab AS (
                SELECT id AS record_id, min(comp) AS entity_id
                FROM reach GROUP BY id),
            sz AS (
                SELECT entity_id, CAST(count(*) AS BIGINT) AS n_members
                FROM lab GROUP BY 1)
            SELECT l.record_id, l.entity_id, s.n_members
            FROM lab l JOIN sz s USING (entity_id)
        """

    # r10: grouped Poisson bootstrap — same threshold constants and
    # hash, resampled within each event_type, per-group rank CI with
    # ranks from the per-group SURVIVOR count (ADVICE r10).
    _bg_b = 24
    out["bootstrap_ci_by_group"] = f"""
            WITH base AS (
                SELECT event_type AS g, event_id AS id,
                       CAST(floor(value * 100) AS BIGINT) AS cents
                FROM events),
            fan AS (
                SELECT g, id, cents, b
                FROM base, (SELECT unnest(generate_series(0, {_bg_b - 1}))
                            AS b)),
            wts AS (
                SELECT g, b, cents, CAST({_boot_w} AS BIGINT) AS w
                FROM fan),
            reps AS (
                SELECT g, b, CAST(sum(w) AS BIGINT) AS sw,
                       CAST(sum(w * cents) AS BIGINT) AS swx
                FROM wts GROUP BY 1, 2),
            means AS (
                SELECT g, b, CAST(swx * 10000 // sw AS BIGINT) AS m
                FROM reps WHERE sw > 0),
            ranked AS (
                SELECT g, m, row_number() OVER (PARTITION BY g
                           ORDER BY m ASC, b ASC) AS rk,
                       count(*) OVER (PARTITION BY g) AS nb
                FROM means),
            ci AS (
                SELECT g,
                       max(CASE WHEN rk = greatest(
                               1, (250 * nb + 9999) // 10000)
                           THEN m END) AS ci_lo_microcents,
                       max(CASE WHEN rk = greatest(
                               1, (9750 * nb + 9999) // 10000)
                           THEN m END) AS ci_hi_microcents
                FROM ranked GROUP BY 1),
            point AS (
                SELECT g, CAST(count(*) AS BIGINT) AS n_rows,
                       CAST(sum(cents) * 10000 // count(*) AS BIGINT)
                           AS mean_microcents
                FROM base GROUP BY 1)
            SELECT p.g AS event_type, p.n_rows,
                   CAST({_bg_b} AS BIGINT) AS n_replicates,
                   p.mean_microcents, c.ci_lo_microcents,
                   c.ci_hi_microcents
            FROM point p JOIN ci c USING (g)
        """

    # r10: multi-suite contamination — same shingle CTEs as
    # contamination_report, (set, gram) index, per-(doc, set) join.
    out["contamination_by_eval_set"] = f"""
            WITH toks AS (
                SELECT doc_id, {tokens} AS tokens FROM documents),
            sh AS (
                SELECT doc_id,
                       list_distinct([array_to_string(tokens[i:i+7], ' ')
                           for i in generate_series(
                               1, greatest(len(tokens)-8, 0)+1)]) AS sh
                FROM toks),
            ev AS (
                SELECT DISTINCT eset, gram FROM (
                    SELECT 'suiteA' AS eset, unnest(sh) AS gram
                    FROM sh WHERE doc_id % 10 = 7
                    UNION ALL
                    SELECT 'suiteB', unnest(sh)
                    FROM sh WHERE doc_id % 10 = 3)),
            corp AS (
                SELECT doc_id, len(sh) AS n_grams, unnest(sh) AS gram
                FROM sh WHERE doc_id % 10 NOT IN (3, 7))
            SELECT doc_id, eset AS eval_set,
                   cast(n_grams AS bigint) AS n_grams,
                   cast(count(*) AS bigint) AS n_hit_grams,
                   cast(count(*) * 1000 // n_grams AS bigint)
                       AS contam_milli
            FROM corp JOIN ev USING (gram)
            GROUP BY doc_id, eset, n_grams
        """

    # r10: conditional-entropy FD strength — quantized-ln
    # decomposition per candidate pair, generated from one pair list.
    _fde_pairs = [("user_id", "event_type"), ("event_type", "user_id")]
    _fde_union = "\n            UNION ALL ".join(
        f"""SELECT '{det}' AS determinant, '{dep}' AS dependent,
                   CAST(sum(cd) AS BIGINT) AS n_rows,
                   CAST(count(*) AS BIGINT) AS n_keys,
                   CAST((sum(cd * CAST(floor(1e6 * ln(cd::DOUBLE))
                                       AS BIGINT)) - sum(s2))
                        // sum(cd) AS BIGINT) AS h_cond_micro,
                   (sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) = 0) AS holds
            FROM (
                SELECT {det} AS d,
                       CAST(sum(c) AS BIGINT) AS cd,
                       CAST(count(*) AS BIGINT) AS nv,
                       CAST(sum(c * CAST(floor(1e6 * ln(c::DOUBLE))
                                         AS BIGINT)) AS BIGINT) AS s2
                FROM (SELECT {det}, {dep},
                             CAST(count(*) AS BIGINT) AS c
                      FROM events GROUP BY 1, 2)
                GROUP BY 1)"""
        for det, dep in _fde_pairs
    )
    out["fd_entropy"] = f"SELECT * FROM ({_fde_union})"

    # r10: rank-trimmed means — same rank window + integer mean.
    out["trimmed_means"] = """
            WITH base AS (
                SELECT event_type AS g, event_id AS id,
                       CAST(floor(value * 100) AS BIGINT) AS cents
                FROM events),
            rk AS (
                SELECT g, cents,
                       row_number() OVER (PARTITION BY g
                           ORDER BY cents ASC, id ASC) AS rk,
                       count(*) OVER (PARTITION BY g) AS n
                FROM base),
            kk AS (
                SELECT g, cents, n,
                       (rk > n * 500 // 10000
                        AND rk <= n - n * 500 // 10000) AS keep
                FROM rk)
            SELECT g AS event_type,
                   CAST(max(n) AS BIGINT) AS n_rows,
                   CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END)
                        AS BIGINT) AS n_used,
                   CAST(sum(cents) * 10000 // count(*) AS BIGINT)
                       AS raw_mean_microcents,
                   CAST(sum(CASE WHEN keep THEN cents ELSE 0 END) * 10000
                        // sum(CASE WHEN keep THEN 1 ELSE 0 END)
                        AS BIGINT) AS trimmed_mean_microcents
            FROM kk GROUP BY 1
        """

    # r10: language splitting — the line_language_mix synth + per-line
    # ID + ordered per-(doc, lang) string_agg rebuild.
    out["language_split"] = f"""{multilingual_pages},
            lines AS (
                SELECT doc_id, u.pos, u.l FROM (
                    SELECT doc_id,
                           unnest([{{'pos': i, 'l': ls[i]}}
                                   for i in generate_series(1, len(ls))])
                               AS u
                    FROM (SELECT doc_id,
                                 string_split(text, chr(10)) AS ls
                          FROM synth))),
            nb AS (SELECT doc_id, pos, l FROM lines WHERE trim(l) <> ''),
            langed AS (
                SELECT doc_id, pos, l, {language_id_sql('l')} AS lang
                FROM nb)
            SELECT doc_id, lang,
                   CAST(count(*) AS BIGINT) AS n_lines,
                   string_agg(l, chr(10) ORDER BY pos) AS text
            FROM langed GROUP BY 1, 2
        """
    return out


def _pq_sql_ctes(corpus_where: str, p: str = "") -> str:
    """Shared PQ oracle CTE chain (pq_codes / pq_ann / ivfpq_recall):
    micro-unit quantization, lowest-id codebook init, two integer Lloyd
    iterations (L2 argmin with lowest-cid ties; truncate-toward-zero
    integer-mean recenter — DuckDB ``//`` truncates exactly like
    Spark ``div``; empty clusters keep their centroid), final
    assignment.  Bit-exact replay of similarity.pq_train/pq_codes
    because every op is integer.

    ``p`` prefixes every CTE name (final assignment = ``{p}a3``,
    codebooks = ``{p}cb2``) so the chain can compose with the float
    Lloyd coarse-quantizer CTEs in one query without name collisions
    (ivfpq_recall)."""

    def assign(cin: str, aout: str) -> str:
        return f"""
            {aout} AS (
                SELECT vec_id, m, cid FROM (
                    SELECT vec_id, m, cid,
                           row_number() OVER (PARTITION BY vec_id, m
                               ORDER BY d2 ASC, cid ASC) AS rn
                    FROM (SELECT x.vec_id, c.m, c.cid,
                                 sum((x.val - c.val) * (x.val - c.val))
                                     AS d2
                          FROM {p}x x JOIN {cin} c
                              ON x.m = c.m AND x.dd = c.dd
                          GROUP BY 1, 2, 3))
                WHERE rn = 1)"""

    def recenter(cin: str, ain: str, cout: str) -> str:
        return f"""
            {cout} AS (
                SELECT c.m, c.cid, c.dd, coalesce(nv.val, c.val) AS val
                FROM {cin} c LEFT JOIN (
                    SELECT a.m, a.cid, x.dd,
                           sum(x.val) // count(*) AS val
                    FROM {ain} a
                    JOIN {p}x x ON x.vec_id = a.vec_id AND x.m = a.m
                    GROUP BY 1, 2, 3) nv
                ON nv.m = c.m AND nv.cid = c.cid AND nv.dd = c.dd)"""

    return f"""
            {p}e AS (
                SELECT vec_id,
                       list_transform(embedding,
                           t -> CAST(floor(t::DOUBLE * 1000000.0)
                                     AS BIGINT)) AS vm
                FROM embeddings {corpus_where}),
            {p}x AS (
                SELECT vec_id, CAST((d - 1) // 16 AS INT) AS m,
                       (d - 1) % 16 AS dd, val
                FROM (SELECT vec_id, generate_subscripts(vm, 1) AS d,
                             unnest(vm) AS val
                      FROM {p}e)),
            {p}init AS (
                SELECT vec_id,
                       CAST(row_number() OVER (ORDER BY vec_id) - 1
                            AS INT) AS cid
                FROM (SELECT vec_id FROM {p}e ORDER BY vec_id LIMIT 8)),
            {p}cb0 AS (
                SELECT x.m, i.cid, x.dd, x.val
                FROM {p}x x JOIN {p}init i USING (vec_id)),
            {assign(f'{p}cb0', f'{p}a1')},
            {recenter(f'{p}cb0', f'{p}a1', f'{p}cb1')},
            {assign(f'{p}cb1', f'{p}a2')},
            {recenter(f'{p}cb1', f'{p}a2', f'{p}cb2')},
            {assign(f'{p}cb2', f'{p}a3')}"""


def _pq_lut_ctes(p: str = "") -> str:
    """ADC lookup table ``lut(query_id, m, cid, d2)``: squared distance
    from each vec_id < 5 query's micro-unit sub-vector ``m`` to every
    codeword of the ``{p}cb2`` codebooks built by ``_pq_sql_ctes``."""
    return f"""
            qe AS (
                SELECT vec_id AS query_id,
                       list_transform(embedding,
                           t -> CAST(floor(t::DOUBLE * 1000000.0)
                                     AS BIGINT)) AS vm
                FROM embeddings WHERE vec_id < 5),
            qx AS (
                SELECT query_id, CAST((d - 1) // 16 AS INT) AS m,
                       (d - 1) % 16 AS dd, val
                FROM (SELECT query_id,
                             generate_subscripts(vm, 1) AS d,
                             unnest(vm) AS val
                      FROM qe)),
            lut AS (
                SELECT q.query_id, c.m, c.cid,
                       sum((q.val - c.val) * (q.val - c.val)) AS d2
                FROM qx q JOIN {p}cb2 c ON q.m = c.m AND q.dd = c.dd
                GROUP BY 1, 2, 3)"""


def _r9_oracles() -> dict[str, str]:
    """Oracle twins for the r9 additions, generated from the same
    module constants as the Spark operators (curation rule tables,
    NORMALIZE_STEPS, BAND_TUNING_CONFIGS) so the two sides cannot
    drift."""
    from youtube_podcast_data_pipeline_azure_spark.operators.curation import (
        C4_BANNED_SUBSTRINGS,
        C4_TERMINAL_RE,
        C4_TRAIL_RE,
        GOPHER_ALPHA_RE,
        GOPHER_BULLET_RE,
        GOPHER_ELLIPSIS_RE,
        GOPHER_STOPWORDS,
    )
    from youtube_podcast_data_pipeline_azure_spark.operators.dedup import BAND_TUNING_CONFIGS

    stop_sum = " + ".join(
        f"(CASE WHEN list_contains(words, '{s}') THEN 1 ELSE 0 END)"
        for s in GOPHER_STOPWORDS
    )
    banned = " OR ".join(
        f"contains(lower(l), '{s}')" for s in C4_BANNED_SUBSTRINGS
    )
    cfgs = ", ".join(f"({b}, {r})" for b, r in BAND_TUNING_CONFIGS)
    norm = normalize_text_sql("m")
    return {
        "gopher_quality": f"""
            WITH synth AS (
                SELECT doc_id,
                    CASE WHEN doc_id % 11 = 0 THEN '- ' || text
                         WHEN doc_id % 13 = 0 THEN text || '...'
                         WHEN doc_id % 17 = 0
                             THEN text || ' # ## ### ####'
                         WHEN doc_id % 19 = 0 THEN text ||
                             ' the cat and the dog have fun with that wool.'
                         ELSE text END AS text
                FROM documents),
            base AS (
                SELECT doc_id,
                    list_filter(string_split_regex(lower(text), '\\s+'),
                        t -> t <> '') AS words,
                    string_split(text, chr(10)) AS lines,
                    len(regexp_extract_all(text, '#|\\.\\.\\.|…'))
                        AS nsym
                FROM synth),
            c AS (
                SELECT doc_id,
                    len(words) AS n_words,
                    greatest(len(words), 1) AS dw,
                    coalesce(list_aggregate(
                        list_transform(words, w -> length(w)), 'sum'),
                        0) AS wc,
                    nsym,
                    len(lines) AS n_lines,
                    greatest(len(lines), 1) AS dl,
                    len(list_filter(lines,
                        l -> regexp_matches(l, '{GOPHER_BULLET_RE}')))
                        AS bul,
                    len(list_filter(lines,
                        l -> regexp_matches(l, '{GOPHER_ELLIPSIS_RE}')))
                        AS ell,
                    len(list_filter(words,
                        w -> regexp_matches(w, '{GOPHER_ALPHA_RE}')))
                        AS alpha,
                    {stop_sum} AS n_stop
                FROM base)
            SELECT doc_id,
                CAST(n_words AS BIGINT) AS n_words,
                CAST(10 * wc // dw AS BIGINT) AS mean_word_len_deci,
                CAST(1000 * nsym // dw AS BIGINT)
                    AS symbol_ratio_permille,
                CAST(n_lines AS BIGINT) AS n_lines,
                CAST(1000 * bul // dl AS BIGINT)
                    AS bullet_lines_permille,
                CAST(1000 * ell // dl AS BIGINT)
                    AS ellipsis_lines_permille,
                CAST(1000 * alpha // dw AS BIGINT)
                    AS alpha_word_permille,
                CAST(n_stop AS BIGINT) AS n_stop_hits,
                (n_words >= 50 AND n_words <= 100000
                 AND 10 * wc // dw BETWEEN 30 AND 100
                 AND 1000 * nsym // dw <= 100
                 AND 1000 * bul // dl <= 900
                 AND 1000 * ell // dl <= 300
                 AND 1000 * alpha // dw >= 800
                 AND n_stop >= 2) AS keep
            FROM c
        """,
        "c4_line_filter": f"""
            WITH toks AS (
                SELECT doc_id, string_split(text, ' ') AS l
                FROM documents),
            lined0 AS (
                SELECT doc_id, array_to_string(
                    [array_to_string(l[(i*6+1):(i*6+6)], ' ')
                     for i in generate_series(0, (len(l) - 1) // 6)],
                    chr(10)) AS lined
                FROM toks),
            lined1 AS (
                SELECT doc_id, CASE WHEN doc_id % 2 = 0
                    THEN replace(lined, chr(10), '.' || chr(10)) || '.'
                    ELSE lined END AS lined
                FROM lined0),
            lined2 AS (
                SELECT doc_id, CASE WHEN doc_id % 5 = 0
                    THEN 'please enable javascript to view this.'
                         || chr(10) || lined
                    ELSE lined END AS lined
                FROM lined1),
            lined3 AS (
                SELECT doc_id, CASE WHEN doc_id % 7 = 0
                    THEN 'we use cookie tracking here.'
                         || chr(10) || lined
                    ELSE lined END AS lined
                FROM lined2),
            lines AS (
                SELECT doc_id, string_split(lined, chr(10)) AS lines
                FROM lined3),
            kept AS (
                SELECT doc_id, len(lines) AS n_lines,
                    list_filter(lines, l ->
                        regexp_matches(
                            regexp_replace(l, '{C4_TRAIL_RE}', ''),
                            '{C4_TERMINAL_RE}')
                        AND len(list_filter(
                                string_split_regex(l, '\\s+'),
                                t -> t <> '')) >= 3
                        AND NOT ({banned})) AS k
                FROM lines)
            SELECT doc_id,
                CAST(n_lines AS BIGINT) AS n_lines,
                CAST(len(k) AS BIGINT) AS n_kept,
                coalesce(array_to_string(k, chr(10)), '') AS text_clean
            FROM kept
        """,
        "text_normalization": f"""
            WITH synth AS (
                SELECT doc_id,
                    (CASE doc_id % 4
                        WHEN 0 THEN '“Quote” — '
                        WHEN 1 THEN '‘q’… '
                        WHEN 2 THEN chr(160) || chr(160) || 'lead '
                        ELSE '' END)
                    || text ||
                    (CASE doc_id % 5
                        WHEN 0 THEN ' tail…'
                        WHEN 1 THEN ' zero' || chr(8203) || 'width'
                        WHEN 2 THEN ' ctl' || chr(1) || 'x'
                        WHEN 3 THEN '  ' || chr(9) || ' spaced'
                        ELSE '' END) AS m
                FROM documents)
            SELECT doc_id,
                CAST(length(m) AS BIGINT) AS n_chars_before,
                CAST(length({norm}) AS BIGINT) AS n_chars_after,
                {norm} AS text_norm
            FROM synth
        """,
        "minhash_band_tuning": f"""
            WITH grid AS (
                SELECT bands, rws, s.s_permille
                FROM (VALUES {cfgs}) c(bands, rws)
                CROSS JOIN (SELECT 50 * g AS s_permille
                            FROM generate_series(1, 20) t(g)) s),
            p AS (
                SELECT bands, rws, s_permille,
                    list_reduce(
                        [s_permille::DOUBLE / 1000.0
                         for i in generate_series(1, rws)],
                        (a, b) -> a * b) AS _p
                FROM grid)
            SELECT CAST(bands AS INT) AS bands,
                CAST(rws AS INT) AS rws,
                CAST(s_permille AS INT) AS s_permille,
                CAST(floor(1000000.0 * (1.0 - list_reduce(
                    [1.0 - _p for i in generate_series(1, bands)],
                    (a, b) -> a * b))) AS BIGINT) AS candidate_ppm
            FROM p
        """,
        "pq_codes": f"""
            WITH {_pq_sql_ctes("")}
            SELECT vec_id, CAST(m AS INT) AS m, CAST(cid AS INT) AS code
            FROM a3
        """,
        "pq_ann": f"""
            WITH {_pq_sql_ctes("WHERE vec_id >= 5")},
            {_pq_lut_ctes()},
            scored AS (
                SELECT l.query_id, a.vec_id,
                       CAST(sum(l.d2) AS BIGINT) AS adc_d2
                FROM a3 a JOIN lut l ON l.m = a.m AND l.cid = a.cid
                GROUP BY 1, 2)
            SELECT query_id, rank, vec_id, adc_d2 FROM (
                SELECT query_id, vec_id, adc_d2,
                       CAST(row_number() OVER (PARTITION BY query_id
                           ORDER BY adc_d2 ASC, vec_id ASC)
                           AS BIGINT) AS rank
                FROM scored)
            WHERE rank <= 10
        """,
    }
