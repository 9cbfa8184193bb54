"""Small physical-layout helpers shared by CPU-heavy operators."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

#: a shuffle, broadcast or reused exchange node in a physical plan string
_EXCHANGE = re.compile(r"^[\s:+\-|]*\w*Exchange\b", re.M)


def spread(df: DataFrame, *cols: str) -> DataFrame:
    """Ensure ``df`` has at least default-parallelism partitions before
    CPU-heavy per-row work (hashing, UDF batches, vector math).

    A single-file parquet scan yields one partition locally — which
    serializes everything downstream onto one core.  On a real cluster
    the scan is already multi-split and this is a no-op; when it isn't,
    an id-hash repartition is a cheap narrow-data shuffle that unlocks
    the whole executor pool.

    The decision never runs a job.  Counting the partitions of a plan
    that holds an exchange executes its upstream stages (AQE plans its
    final partition count from their map outputs), so such a plan is
    repartitioned without asking — its count is unknown until it runs.
    Any other plan (a scan, a checkpoint, local rows) keeps the partition
    count check, which reads only the input splits.
    """
    if df.isStreaming:
        # a stream's parallelism comes from its source partitions and
        # ``.rdd`` is undefined on streaming plans — no-op
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if not _EXCHANGE.search(df._jdf.queryExecution().executedPlan().toString()):
        if df.rdd.getNumPartitions() >= max(2, target // 2):
            return df
    return df.repartition(target, *cols) if cols else df.repartition(target)
