"""Medallion-layer transforms: the reference's operator surface as pure
``DataFrame -> DataFrame`` functions (no I/O inside operators).

Each function cites the reference behavior it reproduces (SURVEY.md §2.A
operator ids).  All are built-in-expression-only — Catalyst sees the
whole plan, so pruning/pushdown/codegen apply end to end.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from youtube_podcast_data_pipeline_azure_spark.functions.durations import iso8601_duration_seconds


def explode_envelope(df: DataFrame, items_col: str = "items") -> DataFrame:
    """A18/A19 — unwrap an envelope DataFrame (one row per blob) into one
    row per record (reference final_kpis.py:33-34 shape sniffing, done
    declaratively)."""
    return df.select(F.explode(items_col).alias("_item")).select("_item.*")


def bronze_videos_to_silver(bronze_items: DataFrame) -> DataFrame:
    """A6 + A7 — flatten nested video structs and null-on-error cast the
    string statistics to longs (reference silver_transform_videos.py:23-38,
    safe_int :12-16).

    Input: one row per raw video item (BRONZE_VIDEO_ITEM shape).
    Spark's ``try_cast`` to long is the exact semantic twin of
    ``safe_int`` (null on unparsable).  The engine additionally upgrades
    ``publishedAt`` to a real timestamp and derives ``duration_seconds``
    from the ISO-8601 duration string (SURVEY.md §1.2).
    """
    return bronze_items.select(
        F.col("id").alias("video_id"),
        F.col("snippet.title").alias("title"),
        F.to_timestamp(F.col("snippet.publishedAt")).alias("published_at"),
        F.col("snippet.channelTitle").alias("channel_title"),
        F.col("contentDetails.duration").alias("duration"),
        iso8601_duration_seconds(F.col("contentDetails.duration")).alias(
            "duration_seconds"
        ),
        F.col("statistics.viewCount").try_cast("long").alias("view_count"),
        F.col("statistics.likeCount").try_cast("long").alias("like_count"),
        F.col("statistics.commentCount").try_cast("long").alias("comment_count"),
    )


def bronze_comments_to_silver(bronze_items: DataFrame) -> DataFrame:
    """A8 + A9 + A10 — clean raw comment records (reference
    silver_clean_comments.py:41-56):

    * drop records carrying an ``error`` field (:42-43),
    * trim text and drop rows whose text is null/whitespace-only (:45-47),
    * re-project with ``likes`` defaulted to 0 (:54).

    The cheap filters sit *before* any downstream enrichment UDF, the
    reference's filter-before-expensive-call ordering
    (gold_sentiment_comments.py:70-72).
    """
    cleaned_text = F.trim(F.coalesce(F.col("text"), F.lit("")))
    return (
        bronze_items.where(F.col("error").isNull())
        .withColumn("text", cleaned_text)
        .where(F.length("text") > 0)
        .select(
            "videoId",
            "commentId",
            "author",
            "text",
            F.coalesce(F.col("likes"), F.lit(0)).cast("long").alias("likes"),
            F.to_timestamp(F.col("publishedAt")).alias("publishedAt"),
        )
    )


def normalized_counts(
    df: DataFrame, col: Column | str, alias: str = "sentiment", by: tuple[str, ...] = ()
) -> DataFrame:
    """A15 — hash group-by count with key normalization (reference
    final_kpis.py:41-46): key = lower(coalesce(col, 'unknown')).

    Spark executes this as partial (map-side) + final HashAggregate —
    the shuffle carries one row per distinct key per partition, so at
    100 TB the shuffle volume is O(distinct keys), not O(rows).  ``by``
    names extra leading group keys.
    """
    c = F.col(col) if isinstance(col, str) else col
    key = F.lower(F.coalesce(c, F.lit("unknown"))).alias(alias)
    return df.groupBy(*by, key).agg(F.count("*").alias("n"))


def kpis(videos_gold: DataFrame, comments_gold: DataFrame) -> DataFrame:
    """A14 + A16 — assemble the single-row KPI record (reference
    final_kpis.py:25-58): total counts per source plus per-sentiment
    count maps, stamped with generation time.

    One :func:`normalized_counts` ``groupBy(src, sentiment)`` over the
    union of both gold inputs, then one global aggregate that
    splits the groups back out by ``src``.  Every row lands in exactly
    one group, so a source's total is the sum of its group counts.
    Writing the result runs 3 Spark jobs (two shuffle stages and the
    write) and evaluates each gold input once, whatever its size.
    """
    sides = videos_gold.select(F.lit(0).alias("src"), "sentiment").unionByName(
        comments_gold.select(F.lit(1).alias("src"), "sentiment")
    )
    counts = normalized_counts(sides, "sentiment", by=("src",))

    def total(src: int) -> Column:
        # coalesce: a source with no rows has no groups, and the sum over
        # zero groups is NULL where count(*) of an empty input is 0
        return F.coalesce(F.sum(F.when(F.col("src") == src, F.col("n"))), F.lit(0)).cast("long")

    def sentiment_map(src: int) -> Column:
        # collect_list skips the NULLs the other source's groups yield
        entries = F.collect_list(F.when(F.col("src") == src, F.struct("sentiment", "n")))
        return F.map_from_entries(F.array_sort(entries))

    return counts.agg(
        total(0).alias("total_videos"),
        total(1).alias("total_comments"),
        sentiment_map(0).alias("video_sentiment_counts"),
        sentiment_map(1).alias("comment_sentiment_counts"),
    ).select("*", F.current_timestamp().alias("generated_at_utc"))


def per_group_top_k(
    df: DataFrame,
    partition_cols: list[str],
    order_col: Column | str,
    k: int,
    ascending: bool = False,
    rank_alias: str = "rn",
) -> DataFrame:
    """A3 generalized — per-group limit (reference caps comments per
    video at the source, function_app.py:99,114) as the Spark-native
    window top-k: ``row_number`` over a partitioned window.

    One shuffle on the partition keys; AQE handles skewed groups."""
    from pyspark.sql import Window

    c = F.col(order_col) if isinstance(order_col, str) else order_col
    w = Window.partitionBy(*partition_cols).orderBy(
        c.asc() if ascending else c.desc()
    )
    return (
        df.withColumn(rank_alias, F.row_number().over(w))
        .where(F.col(rank_alias) <= k)
    )


def upsert_latest_wins(
    existing: DataFrame,
    updates: DataFrame,
    keys: list[str],
    version_col: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """MERGE-style incremental upsert without a table format: union the
    base table with the update batch and keep, per key, the row with the
    highest ``version_col`` (updates win ties via a source-rank column).

    This is the engine's change-data-capture apply step: at scale it is
    ONE shuffle on the merge keys (window + filter), after which the
    result is re-written with dynamic partition overwrite (writers.py) —
    the classic pre-Delta/Iceberg upsert pattern, and the same plan a
    MERGE INTO compiles to for full-partition rewrites.

    ``tiebreak`` (extra deterministic orderer, e.g. a unique id) makes
    the survivor well-defined when (keys, version, source) collide.
    """
    src = existing.withColumn("_src_rank", F.lit(0)).unionByName(
        updates.withColumn("_src_rank", F.lit(1))
    )
    order = [F.col(version_col).desc(), F.col("_src_rank").desc()]
    if tiebreak:
        order.append(F.col(tiebreak).desc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        src.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_rn", "_src_rank")
    )


def profile_table(df: DataFrame, columns: list[str]) -> DataFrame:
    """Data-quality profile: one output row per column with row count,
    null count, and approx + exact distinct counts folded into a single
    pass shape (per-column aggregates computed together, then unpivoted
    — ONE scan regardless of column count, driver assembles nothing).
    """
    aggs = []
    for c in columns:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__rows"),
            F.sum(F.when(F.col(c).isNull(), 1).otherwise(0)).alias(
                f"{c}__nulls"
            ),
            F.countDistinct(c).alias(f"{c}__distinct"),
        ]
    wide = df.agg(*aggs)
    stack_args = ", ".join(
        f"'{c}', {c}__rows, {c}__nulls, {c}__distinct" for c in columns
    )
    return wide.selectExpr(
        f"stack({len(columns)}, {stack_args}) AS "
        "(column_name, n_rows, n_nulls, n_distinct)"
    )
