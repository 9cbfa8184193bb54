"""``medallion_daily``: the reference's daily job, one day per iteration.

bronze  ``io.rest.ingest_videos`` / ``ingest_comments`` over the
        generated API -> JSON sinks (``io.writers.write_partitioned``)
silver  ``io.readers.read_json_envelope`` -> ``bronze_*_to_silver``
        -> parquet sinks
gold    silver parquet -> ``enrichment.enrich_videos`` /
        ``enrich_comments`` (Arrow ``pandas_udf``) -> parquet sinks
kpi     gold parquet -> ``operators.medallion.kpis`` -> parquet sink

Every sink is written into an ``ingest_date`` that rotates over a fixed
window of dates (dynamic partition overwrite replaces the day), so sink
size stays level however many days a run makes.  Day ``i`` serves the
generated day ``i % WINDOW``; its expected counts are computed once per
distinct day, in plain Python, before Spark starts.

A day is 1,200 videos and about 12k comments, 1/16.7 of the reference's
20k videos and 200k comments: the benchmark's time budget allows about
45 s a run.  Each of the two gold comment partitions then holds about
5.5k rows, one Arrow batch at Spark's default of 10,000 records.
"""

from __future__ import annotations

import os
import statistics

import pyarrow.parquet as pq

from perfbench import gen_youtube

#: Distinct generated days (and ingest_date partitions) a run rotates over.
WINDOW = 3
LAYERS = ("bronze", "silver", "gold", "kpi")
SINKS = (
    "bronze_videos",
    "bronze_comments",
    "silver_videos",
    "silver_comments",
    "gold_videos",
    "gold_comments",
    "kpis",
)


class MedallionDaily:
    name = "medallion_daily"
    iteration_span = "day"

    def __init__(self, seed: int, work_dir: str, n_videos: int = 1200, mean_comments: int = 10):
        self.seed = seed
        self.root = os.path.join(work_dir, "sinks")
        self.n_videos = n_videos
        self.mean_comments = mean_comments
        self.expected: list[dict] = []
        self.observed: list[dict] = []

    # -- inputs ------------------------------------------------------------
    def prepare(self) -> None:
        self.expected = [
            gen_youtube.expected_day(self.seed, d, self.n_videos, self.mean_comments)
            for d in range(WINDOW)
        ]

    def input_sizes(self) -> dict:
        return {
            "videos_per_day": self.n_videos,
            "comments_per_day": [e["bronze_comments"] for e in self.expected],
            "payload_bytes_per_day": [e["payload_bytes"] for e in self.expected],
            "window_days": WINDOW,
        }

    @staticmethod
    def date(i: int) -> str:
        return f"2024-01-{1 + i % WINDOW:02d}"

    def part(self, sink: str, i: int) -> str:
        return os.path.join(self.root, sink, f"ingest_date={self.date(i)}")

    # -- one timed day -------------------------------------------------------
    def iteration(self, spark, i: int, tracer) -> None:
        from pyspark.sql import functions as F

        from youtube_podcast_data_pipeline_azure_spark.enrichment import enrich_comments, enrich_videos
        from youtube_podcast_data_pipeline_azure_spark.io import rest
        from youtube_podcast_data_pipeline_azure_spark.io.readers import read_json_envelope
        from youtube_podcast_data_pipeline_azure_spark.io.writers import write_partitioned
        from youtube_podcast_data_pipeline_azure_spark.operators import medallion
        from youtube_podcast_data_pipeline_azure_spark.schemas import BRONZE_COMMENT_ITEM, BRONZE_VIDEO_ITEM

        date = F.lit(self.date(i))
        day = i % WINDOW
        sink = lambda name: os.path.join(self.root, name)  # noqa: E731

        with tracer.span("bronze"):
            api = gen_youtube.GeneratedApi(self.seed, day, self.n_videos, self.mean_comments)
            source = rest.YouTubeSource(api, api_key="generated")
            videos = rest.ingest_videos(spark, source, f"UC{day}", max_results=self.n_videos)
            write_partitioned(videos.withColumn("ingest_date", date), sink("bronze_videos"), fmt="json")
            comments = rest.ingest_comments(
                spark, source, videos.select(F.col("id").alias("videoId")), max_comments_per_video=100
            )
            write_partitioned(comments.withColumn("ingest_date", date), sink("bronze_comments"), fmt="json")
        with tracer.span("silver"):
            bv = read_json_envelope(spark, self.part("bronze_videos", i), BRONZE_VIDEO_ITEM)
            write_partitioned(
                medallion.bronze_videos_to_silver(bv).withColumn("ingest_date", date), sink("silver_videos")
            )
            bc = read_json_envelope(spark, self.part("bronze_comments", i), BRONZE_COMMENT_ITEM)
            write_partitioned(
                medallion.bronze_comments_to_silver(bc).withColumn("ingest_date", date), sink("silver_comments")
            )
        with tracer.span("gold"):
            sv = spark.read.parquet(self.part("silver_videos", i))
            write_partitioned(enrich_videos(sv).withColumn("ingest_date", date), sink("gold_videos"))
            sc = spark.read.parquet(self.part("silver_comments", i))
            write_partitioned(enrich_comments(sc).withColumn("ingest_date", date), sink("gold_comments"))
        with tracer.span("kpi"):
            gv = spark.read.parquet(self.part("gold_videos", i))
            gc = spark.read.parquet(self.part("gold_comments", i))
            write_partitioned(medallion.kpis(gv, gc).withColumn("ingest_date", date), sink("kpis"))

    # -- untimed check ---------------------------------------------------------
    def _files(self, sink: str, i: int) -> list[str]:
        d = self.part(sink, i)
        return [os.path.join(d, f) for f in sorted(os.listdir(d)) if not f.startswith((".", "_"))]

    def _json_rows(self, sink: str, i: int) -> int:
        n = 0
        for path in self._files(sink, i):
            with open(path, "rb") as f:
                n += sum(1 for line in f if line.strip())
        return n

    def check(self, i: int) -> bool:
        """Compare the day's sinks with the generator's counts; record the
        observed rows and files for the per-layer metrics."""
        exp = self.expected[i % WINDOW]
        sv = pq.read_table(self.part("silver_videos", i))
        kpi = pq.read_table(self.part("kpis", i)).to_pylist()
        files = [f for s in SINKS for f in self._files(s, i)]
        obs = {
            "bronze_videos": self._json_rows("bronze_videos", i),
            "bronze_comments": self._json_rows("bronze_comments", i),
            "silver_videos": sv.num_rows,
            "silver_comments": pq.read_table(self.part("silver_comments", i), columns=["commentId"]).num_rows,
            "gold_videos": pq.read_table(self.part("gold_videos", i), columns=["video_id"]).num_rows,
            "gold_comments": pq.read_table(self.part("gold_comments", i), columns=["commentId"]).num_rows,
            "null_view_count": sv.column("view_count").null_count,
            "null_like_count": sv.column("like_count").null_count,
            "files": len(files),
            "bytes": sum(os.path.getsize(f) for f in files),
        }
        obs["silver_rows_dropped"] = obs["bronze_comments"] - obs["silver_comments"]
        self.observed.append(obs)
        if len(kpi) != 1:
            return False
        row = kpi[0]
        got_kpi = {
            "total_videos": row["total_videos"],
            "total_comments": row["total_comments"],
            "video_sentiment_counts": dict(row["video_sentiment_counts"]),
            "comment_sentiment_counts": dict(row["comment_sentiment_counts"]),
        }
        keys = (
            "bronze_videos",
            "bronze_comments",
            "silver_videos",
            "silver_comments",
            "silver_rows_dropped",
            "null_view_count",
            "null_like_count",
        )
        return (
            all(obs[k] == exp[k] for k in keys)
            and obs["gold_videos"] == exp["silver_videos"]
            and obs["gold_comments"] == exp["silver_comments"]
            and got_kpi == exp["kpi"]
        )

    # -- traced run ------------------------------------------------------------
    def layer_metrics(self, tracer, groups, slots: int) -> dict:
        from perfbench.trace import iteration_rows, median_of

        rows = iteration_rows(tracer, groups, self.iteration_span)
        obs = self.observed[1:]
        rows_out = {
            "bronze": [o["bronze_videos"] + o["bronze_comments"] for o in obs],
            "silver": [o["silver_videos"] + o["silver_comments"] for o in obs],
            "gold": [o["gold_videos"] + o["gold_comments"] for o in obs],
            "kpi": [1 for _ in obs],
        }
        out = {}
        for layer in LAYERS:
            out.update(median_of(rows, layer, slots))
            out[f"{layer}.rows_out"] = (statistics.median(rows_out[layer]), "rows")
        out["silver.rows_dropped"] = (statistics.median(o["silver_rows_dropped"] for o in obs), "rows")
        out["gold.python_eval_s"] = (
            statistics.median(r["gold"].counters.python_eval_s for r in rows),
            "s",
        )
        out["gold.rows_per_s"] = (
            statistics.median(n / r["gold"].wall_s for n, r in zip(rows_out["gold"], rows)),
            "1/s",
        )
        out["io.writers.files"] = (statistics.median(o["files"] for o in obs), "count")
        payload = [self.expected[i % WINDOW]["payload_bytes"] for i in range(1, len(self.observed))]
        out["io.writers.bytes_per_input_byte"] = (
            statistics.median(o["bytes"] / p for o, p in zip(obs, payload)),
            "ratio",
        )
        return out
