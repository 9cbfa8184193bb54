"""Sources.

The reference reads whole JSON blobs into driver memory
(``download_blob().readall()`` -> ``json.loads``, reference
silver_clean_comments.py:31-35) and sniffs whether a file is a bare
list or an ``{"items": [...]}`` envelope (final_kpis.py:33-34).

Here sources are declarative scans: ``spark.read.schema(s).json/parquet``
executed on executors, with Catalyst handling column pruning, predicate
pushdown, and Hive-style ``ingest_date=D`` partition pruning.  Envelope
vs bare-list shape union is handled once at the read edge
(:func:`read_json_envelope`), so every downstream operator sees one
canonical flat shape.
"""

from __future__ import annotations

from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: The driver's synthetic fixture tables (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: Per-session memo of analyzed scan DataFrames (optimization r13).
#: ``spark.read.parquet`` pays file listing + footer schema inference +
#: analysis on EVERY call (~0.1 s here), and a query touches up to six
#: tables per construct — so repeated constructs (bench runs, the
#: driver's per-query calls) spent a visible fraction of their wall in
#: re-deriving identical scan plans.  The memo caches the immutable
#: DataFrame per (session, dir, table): this is PLAN caching only —
#: every action on the cached frame still scans the parquet inputs
#: (no persist(), no materialized results).  WeakKeyDictionary caveat:
#: the cached frames reference their session, so entries die with the
#: interpreter rather than the session — a few dozen analyzed plans
#: per session, negligible.
_SCAN_CACHE: "WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan one fixture table: columnar Parquet, pushdown-capable.

    ``events.ts`` is stored as Parquet TIMESTAMP(NANOS), which Spark's
    reader only accepts as a raw long (``spark.sql.legacy.parquet
    .nanosAsLong``, set in the session factory); convert nanos -> a real
    TimestampType at the scan edge so every downstream operator sees a
    proper event-time column.
    """
    per_session = _SCAN_CACHE.get(spark)
    if per_session is None:
        per_session = {}
        _SCAN_CACHE[spark] = per_session
    cached = per_session.get((sf_dir, name))
    if cached is not None:
        return cached
    # Defensive: the caller may hand us a session built without the
    # engine's factory (e.g. the driver harness) — the nanos conf is
    # runtime-settable and required before the scan is planned.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    for field in df.schema.fields:
        if field.name == "ts" and isinstance(field.dataType, T.LongType):
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
    per_session[(sf_dir, name)] = df
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Scan several fixture tables; defaults to all of them."""
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def read_json_envelope(
    spark: SparkSession,
    path: str,
    item_schema: T.StructType,
    envelope_fields: T.StructType | None = None,
) -> DataFrame:
    """Read a reference-style JSON blob and return one row per record.

    Accepts BOTH shapes the reference produces (final_kpis.py:33-34):

    * a bare JSON array of records, and
    * an envelope object ``{<metadata...>, "items": [records]}``
      (e.g. function_app.py:75-80, silver_clean_comments.py:58-62).

    Implementation: ONE scan with a permissive union schema holding both
    the item fields (bare-array shape: Spark maps each array element to
    a row) and an ``items`` array (envelope shape).  Each row explodes
    ``items`` when present, or a one-element array of its own item
    columns when not, so an envelope with ``"items": []`` yields no row.
    Pure DataFrame ops — no shape sniffing before the scan, one task per
    file split, any number of blob files.
    """
    env_fields = list(envelope_fields.fields) if envelope_fields else []
    union_schema = T.StructType(
        list(item_schema.fields)
        + env_fields
        + [T.StructField("items", T.ArrayType(item_schema))]
    )
    raw = spark.read.schema(union_schema).json(path)
    item_cols = [f.name for f in item_schema.fields]
    items = F.when(
        F.col("items").isNull(), F.array(F.struct(*item_cols))
    ).otherwise(F.col("items"))
    return raw.select(F.explode(items).alias("_item")).select(
        *[F.col(f"_item.{c}").alias(c) for c in item_cols]
    )
