"""Golden-path tests for the reference's medallion pipeline semantics
(SURVEY.md §5): bronze envelope read → silver clean → gold enrich → KPIs,
on fixtures shaped like the reference's checked-in JSON outputs."""

from __future__ import annotations

import json

import pytest

from pyspark.sql import functions as F

from youtube_podcast_data_pipeline_azure_spark import schemas
from youtube_podcast_data_pipeline_azure_spark.enrichment import DeterministicClassifier, enrich_comments, enrich_videos
from youtube_podcast_data_pipeline_azure_spark.io.readers import read_json_envelope
from youtube_podcast_data_pipeline_azure_spark.operators import medallion

BRONZE_VIDEO_ITEMS = [
    {
        "id": "v1",
        "snippet": {
            "title": "Great podcast episode",
            "publishedAt": "2026-01-20T10:00:00Z",
            "channelTitle": "chan",
        },
        "statistics": {"viewCount": "1200", "likeCount": "55", "commentCount": "7"},
        "contentDetails": {"duration": "PT2H47M24S"},
    },
    {
        "id": "v2",
        "snippet": {
            "title": "Short clip",
            "publishedAt": "2026-01-21T11:30:00Z",
            "channelTitle": "chan",
        },
        # unparsable viewCount exercises safe_int null-on-error
        # (reference silver_transform_videos.py:12-16)
        "statistics": {"viewCount": "N/A", "likeCount": "3", "commentCount": "0"},
        "contentDetails": {"duration": "PT51S"},
    },
]

BRONZE_COMMENT_ITEMS = [
    {
        "videoId": "v1",
        "commentId": "c1",
        "author": "a",
        "text": "  love this  ",
        "likes": 3,
        "publishedAt": "2026-01-21T00:00:00Z",
    },
    {
        "videoId": "v1",
        "commentId": "c2",
        "author": "b",
        "text": "   ",  # whitespace-only -> dropped (silver_clean_comments.py:45-47)
        "likes": 1,
        "publishedAt": "2026-01-21T00:00:00Z",
    },
    {
        "videoId": "v2",
        "commentId": "c3",
        "author": "c",
        "text": "terrible audio",
        # likes missing -> default 0 (silver_clean_comments.py:54)
        "publishedAt": "2026-01-21T00:00:00Z",
    },
    {
        "videoId": "v2",
        "commentId": "c4",
        "author": "d",
        "text": "whatever",
        "likes": 2,
        "publishedAt": "2026-01-21T00:00:00Z",
        "error": "quota",  # error record -> dropped (:42-43)
    },
]


@pytest.fixture(scope="module")
def bronze_paths(tmp_path_factory):
    d = tmp_path_factory.mktemp("bronze")
    # envelope shape (function_app.py:75-80)
    (d / "videos_raw.json").write_text(
        json.dumps(
            {
                "channelId": "UC1",
                "pulledAt": "2026-01-21T12:00:00Z",
                "videoCount": 2,
                "items": BRONZE_VIDEO_ITEMS,
            }
        )
    )
    # bare-list shape (silver_transform_videos.py:41)
    (d / "comments_raw.json").write_text(json.dumps(BRONZE_COMMENT_ITEMS))
    return str(d / "videos_raw.json"), str(d / "comments_raw.json")


def test_envelope_and_bare_list_reads(spark, bronze_paths, tmp_path):
    videos_path, comments_path = bronze_paths
    videos = read_json_envelope(spark, videos_path, schemas.BRONZE_VIDEO_ITEM)
    assert videos.count() == 2
    comments = read_json_envelope(spark, comments_path, schemas.BRONZE_COMMENT_ITEM)
    assert comments.count() == 4

    # every shape in one directory: Spark-written JSON lines, a bare
    # array, an envelope, and an envelope with no items
    mixed = tmp_path / "mixed"
    spark.createDataFrame(
        [("s1", "spark line", 1), ("s2", None, None)], "videoId string, text string, likes long"
    ).coalesce(1).write.json(str(mixed))
    (mixed / "bare.json").write_text(json.dumps([{"videoId": "b1", "text": "t"}, {"videoId": "b2", "likes": 4}]))
    (mixed / "envelope.json").write_text(
        json.dumps({"pulledAt": "x", "items": [{"videoId": "e1"}, {"videoId": "e2", "text": "hi"}]})
    )
    (mixed / "empty.json").write_text(json.dumps({"pulledAt": "x", "items": []}))
    both = read_json_envelope(spark, str(mixed), schemas.BRONZE_COMMENT_ITEM)
    got = {(r.videoId, r.text, r.likes) for r in both.collect()}
    assert got == {
        ("s1", "spark line", 1),
        ("s2", None, None),
        ("b1", "t", None),
        ("b2", None, 4),
        ("e1", None, None),
        ("e2", "hi", None),
    }
    assert both.count() == 6
    plan = both._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan json") == 1, plan


def test_silver_videos_flatten_and_safe_cast(spark, bronze_paths):
    videos_path, _ = bronze_paths
    bronze = read_json_envelope(spark, videos_path, schemas.BRONZE_VIDEO_ITEM)
    silver = medallion.bronze_videos_to_silver(bronze)
    rows = {r["video_id"]: r for r in silver.collect()}
    assert rows["v1"]["view_count"] == 1200
    assert rows["v1"]["duration_seconds"] == 2 * 3600 + 47 * 60 + 24
    # safe_int: unparsable -> null, not error
    assert rows["v2"]["view_count"] is None
    assert rows["v2"]["duration_seconds"] == 51
    assert [f.name for f in silver.schema.fields] == [
        f.name for f in schemas.SILVER_VIDEOS.fields
    ]


def test_silver_comments_clean(spark, bronze_paths):
    _, comments_path = bronze_paths
    bronze = read_json_envelope(spark, comments_path, schemas.BRONZE_COMMENT_ITEM)
    silver = medallion.bronze_comments_to_silver(bronze)
    rows = {r["commentId"]: r for r in silver.collect()}
    # error record and whitespace-only text dropped
    assert set(rows) == {"c1", "c3"}
    assert rows["c1"]["text"] == "love this"  # trimmed
    assert rows["c3"]["likes"] == 0  # defaulted


def test_gold_enrichment_and_kpis(spark, bronze_paths):
    videos_path, comments_path = bronze_paths
    silver_v = medallion.bronze_videos_to_silver(
        read_json_envelope(spark, videos_path, schemas.BRONZE_VIDEO_ITEM)
    )
    silver_c = medallion.bronze_comments_to_silver(
        read_json_envelope(spark, comments_path, schemas.BRONZE_COMMENT_ITEM)
    )
    gold_v = enrich_videos(silver_v, DeterministicClassifier())
    gold_c = enrich_comments(silver_c, DeterministicClassifier())

    assert {"sentiment", "emotions", "topics"} <= set(gold_v.columns)
    assert {"sentiment", "sentiment_score", "emotion", "summary"} <= set(
        gold_c.columns
    )
    c_rows = {r["commentId"]: r for r in gold_c.collect()}
    assert c_rows["c1"]["sentiment"] == "positive"  # "love"
    assert c_rows["c3"]["sentiment"] == "negative"  # "terrible"

    kpi = medallion.kpis(gold_v, gold_c).collect()[0]
    assert kpi["total_videos"] == 2
    assert kpi["total_comments"] == 2
    # invariant: sentiment counts sum to total (final_kpis.py property)
    assert sum(kpi["comment_sentiment_counts"].values()) == kpi["total_comments"]
    assert sum(kpi["video_sentiment_counts"].values()) == kpi["total_videos"]


def test_kpis_empty_source_unknown_sentiment_and_three_jobs(spark, tmp_path):
    """An empty source totals 0 with an empty map; a NULL sentiment
    counts under ``unknown`` (final_kpis.py:41-46); writing the KPI row
    runs at most 3 Spark jobs."""
    videos = spark.createDataFrame(
        [("v1", "Positive"), ("v2", None), ("v3", "neutral"), ("v4", "positive")],
        "video_id string, sentiment string",
    )
    comments = spark.createDataFrame([("c1", "negative")], "commentId string, sentiment string")
    row = medallion.kpis(videos, comments).collect()[0]
    assert row["total_videos"] == 4
    assert row["video_sentiment_counts"] == {"positive": 2, "unknown": 1, "neutral": 1}
    assert row["total_comments"] == 1
    assert row["comment_sentiment_counts"] == {"negative": 1}

    empty = medallion.kpis(videos, comments.limit(0)).collect()[0]
    assert empty["total_comments"] == 0
    assert empty["comment_sentiment_counts"] == {}
    assert empty["total_videos"] == 4
    assert [(f.name, f.dataType.simpleString()) for f in medallion.kpis(videos, comments).schema] == [
        (f.name, f.dataType.simpleString()) for f in schemas.KPIS if f.name != "ingest_date"
    ]

    sc = spark.sparkContext
    sc.setJobGroup("kpis_write", "kpis_write")
    try:
        medallion.kpis(videos, comments).write.parquet(str(tmp_path / "kpis"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("kpis_write")) <= 3


def test_enrichment_malformed_fallback(spark):
    """Malformed model output -> neutral record with raw[:200] summary
    (reference gold_sentiment_comments.py:46-50)."""
    df = spark.createDataFrame(
        [("c1", "some text"), ("c2", "BREAK other text")], ["commentId", "text"]
    )
    gold = enrich_comments(df, DeterministicClassifier(fail_marker="BREAK"))
    rows = {r["commentId"]: r for r in gold.collect()}
    bad = rows["c2"]
    assert bad["sentiment"] == "neutral"
    assert bad["sentiment_score"] == 0.0
    assert bad["emotion"] == "neutral"
    assert bad["summary"].startswith("```json")  # raw output preserved
    good = rows["c1"]
    assert good["summary"] == "some text"


def test_per_group_top_k(spark):
    df = spark.createDataFrame(
        [("v1", i) for i in range(10)] + [("v2", i) for i in range(3)],
        ["videoId", "n"],
    )
    capped = medallion.per_group_top_k(df, ["videoId"], "n", k=5)
    counts = (
        capped.groupBy("videoId").agg(F.count("*").alias("c")).collect()
    )
    assert {r["videoId"]: r["c"] for r in counts} == {"v1": 5, "v2": 3}


def test_dynamic_partition_overwrite_is_per_partition_idempotent(spark, tmp_path):
    """A17 — re-running one ingest_date must overwrite ONLY that
    partition (reference overwrites one blob per run,
    function_app.py:22-29); siblings survive untouched."""
    from pyspark.sql import functions as F

    from youtube_podcast_data_pipeline_azure_spark.io.writers import write_partitioned

    out = str(tmp_path / "medallion_sink")
    day1 = spark.createDataFrame(
        [(1, "a", "2024-01-01"), (2, "b", "2024-01-01")],
        "id long, v string, ingest_date string",
    )
    day2 = spark.createDataFrame(
        [(3, "c", "2024-01-02")], "id long, v string, ingest_date string"
    )
    write_partitioned(day1, out)
    write_partitioned(day2, out)
    # re-run day1 with corrected data; overwrite mode + dynamic
    # partitionOverwriteMode must keep day2 intact
    day1_fixed = spark.createDataFrame(
        [(1, "a2", "2024-01-01")], "id long, v string, ingest_date string"
    )
    write_partitioned(day1_fixed, out)

    back = spark.read.parquet(out)
    assert back.count() == 2
    # partition values come back type-inferred (DateType) — compare as str
    rows = {str(r.ingest_date): r.v for r in back.collect()}
    assert rows == {"2024-01-01": "a2", "2024-01-02": "c"}


def test_upsert_latest_wins_semantics(spark):
    """Update batch must win on version ties, lose to newer base rows,
    and insert brand-new keys."""
    from youtube_podcast_data_pipeline_azure_spark.operators.medallion import upsert_latest_wins

    base = spark.createDataFrame(
        [(1, 10, "old"), (2, 20, "keep-newer"), (3, 30, "only-base")],
        "k long, v long, payload string",
    )
    updates = spark.createDataFrame(
        [(1, 10, "tie-update-wins"), (2, 15, "stale-update"),
         (4, 40, "brand-new")],
        "k long, v long, payload string",
    )
    got = {
        r.k: r.payload
        for r in upsert_latest_wins(base, updates, ["k"], "v").collect()
    }
    assert got == {
        1: "tie-update-wins",   # same version: update side ranks higher
        2: "keep-newer",        # base row has the higher version
        3: "only-base",         # untouched key passes through
        4: "brand-new",         # pure insert
    }


def test_classifier_deterministic_across_processes():
    """Classifier outputs must be content-stable regardless of Python's
    per-process hash randomization (the old builtin-hash seed bug): two
    subprocesses with different PYTHONHASHSEED must agree byte-for-byte."""
    import json
    import os
    import subprocess
    import sys

    prog = (
        "from youtube_podcast_data_pipeline_azure_spark.enrichment import DeterministicClassifier;"
        "import json;"
        "c = DeterministicClassifier();"
        "print(json.dumps(c.classify_batch("
        "['great video', 'terrible audio', 'an order 42'], 'video')))"
    )
    outs = []
    for seed in ("1", "271828"):
        env = dict(os.environ, PYTHONHASHSEED=seed)
        env["PYTHONPATH"] = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        r = subprocess.run(
            [sys.executable, "-c", prog],
            capture_output=True, text=True, env=env, check=True,
        )
        outs.append(json.loads(r.stdout))
    assert outs[0] == outs[1]
    # and the hash-derived picks line up with the DuckDB oracle identity
    import duckdb
    import hashlib

    t = "great video"
    h_py = int.from_bytes(hashlib.md5(f"42:{t}".encode()).digest()[:8], "little")
    h_duck = duckdb.sql(
        "select md5_number_upper('42:' || ?)", params=[t]
    ).fetchone()[0]
    assert h_py == h_duck


def test_openai_classifier_reuses_one_connection():
    """N rows go over one keep-alive connection, with the same outputs a
    connection per row gave; pickling drops the session."""
    import pickle
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from youtube_podcast_data_pipeline_azure_spark.enrichment.classifier import OpenAICompatClassifier

    peers = set()

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def do_POST(self):
            peers.add(self.client_address)
            body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
            text = body["messages"][0]["content"].rsplit(": ", 1)[-1]
            reply = json.dumps({"choices": [{"message": {"content": text.upper()}}]}).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(reply)))
            self.end_headers()
            self.wfile.write(reply)

        def log_message(self, *args):
            pass

    server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    thread = threading.Thread(target=server.serve_forever, daemon=True)
    thread.start()
    try:
        clf = OpenAICompatClassifier(
            f"http://127.0.0.1:{server.server_port}", api_key="k", deployment="d", timeout=10
        )
        texts = [f"row {i}" for i in range(6)]
        assert clf.classify_batch(texts, "comment") == [t.upper() for t in texts]
        assert len(peers) == 1  # one client socket for all six requests
        clone = pickle.loads(pickle.dumps(clf))
        assert clone._session is None and clone.endpoint == clf.endpoint
        assert clone.classify_batch(texts[:2], "video") == [t.upper() for t in texts[:2]]
        assert len(peers) == 2  # the unpickled copy opened its own
    finally:
        server.shutdown()
        server.server_close()
