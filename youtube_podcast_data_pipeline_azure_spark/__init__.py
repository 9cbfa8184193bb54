"""PySpark-native analytics engine with the query and data-processing
capabilities of the reference pipeline ``MadhanAbbineni/youtube-podcast-data-pipeline-azure``.

The reference (surveyed in SURVEY.md) is a medallion-style ETL pipeline:
Bronze (raw JSON) -> Silver (cleaned/flattened) -> Gold (LLM-enriched)
-> KPI rollups.  This package re-expresses every operator in that
pipeline — plus the relational / dedup / similarity / text-analysis /
streaming surface a 100 TB training-data pipeline needs — as idiomatic
Spark DataFrame programs: declarative plans that Catalyst can optimize
(pushdown, pruning, broadcast, AQE) rather than hand-scheduled loops.

Layout:
    session     SparkSession factory tuned for local[32] tests / cluster prod
    schemas     explicit StructType schemas per medallion layer
    io          partitioned Parquet/JSON readers & writers, envelope handling
    functions   expression-level helpers (ISO durations, text, vectors, json)
    operators   medallion transforms, dedup, similarity, multimodal
    enrichment  batched pandas_udf LLM enrichment behind a classifier seam
    streaming   Structured Streaming slice over the events table
    zipguard    stops Python workers re-reading unchanged zip archives
                on every task (installed on import)
"""

from youtube_podcast_data_pipeline_azure_spark import zipguard
from youtube_podcast_data_pipeline_azure_spark.session import get_spark

zipguard.install()

__all__ = ["get_spark"]
__version__ = "0.1.0"
