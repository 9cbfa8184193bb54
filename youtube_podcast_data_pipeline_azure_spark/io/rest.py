"""REST ingestion source (YouTube Data API shape) behind a transport seam.

The reference ingests with two Azure Functions of sequential
``requests`` calls: a 3-step video fetch — channel → uploads playlist →
batched video details (reference function_app.py:46-70) — and a
per-video comment-thread loop (function_app.py:94-105, 127-138).  Both
push *projection* into the request (``part=`` selects response fields,
function_app.py:49,57,66,97) and *limit* into the request
(``maxResults``, function_app.py:58,99 with the ``min(_, 100)`` API
cap).

The engine keeps that request choreography — the pushdowns are the
source's only optimization surface — but swaps the execution model:

* **Transport seam.**  All HTTP goes through a :class:`Transport`; the
  real :class:`HttpTransport` (requests, 60 s timeout as
  function_app.py:103) is interchangeable with the test/offline
  :class:`CannedTransport`, so ingestion logic is testable with zero
  network (no network in CI).
* **Driver does the tiny calls, executors do the wide ones.**  The
  channel/playlist steps are 2 requests — inherently driver-side.  The
  per-video comment fetch is the wide loop (the reference serializes it
  on one node, function_app.py:127): here it runs inside
  ``mapInPandas`` over a video-id DataFrame, so a 1000-executor cluster
  fetches 1000 videos concurrently and each task holds only its own
  responses (bounded by ``maxResults`` rows per video — nothing
  accumulates driver-side).
* **Failure containment.**  A failed per-video fetch becomes an
  ``error`` record (the shape silver_clean_comments.py:42-43 filters),
  never a job abort — one dead video must not kill a million-video
  ingest.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from youtube_podcast_data_pipeline_azure_spark.schemas import BRONZE_COMMENT_ITEM, BRONZE_VIDEO_ITEM

API_BASE = "https://www.googleapis.com/youtube/v3"

#: YouTube API hard cap on ids per detail request / rows per page.
MAX_IDS_PER_DETAIL_CALL = 50
MAX_RESULTS_CAP = 100


class Transport:
    """Seam for HTTP GET returning parsed JSON."""

    def get(self, url: str, params: dict) -> dict:
        raise NotImplementedError


class HttpTransport(Transport):
    """requests-backed transport (reference function_app.py:103:
    60 s timeout, raise_for_status).  The session is created lazily per
    process so the transport pickles cleanly into executor closures."""

    def __init__(self, timeout: int = 60) -> None:
        self.timeout = timeout
        self._session = None

    def __getstate__(self):
        return {"timeout": self.timeout}

    def __setstate__(self, state):
        self.timeout = state["timeout"]
        self._session = None

    def get(self, url: str, params: dict) -> dict:
        import requests  # deferred: engine never needs network to import

        if self._session is None:
            self._session = requests.Session()
        r = self._session.get(url, params=params, timeout=self.timeout)
        r.raise_for_status()
        return r.json()


@dataclass
class CannedTransport(Transport):
    """Deterministic fixture transport: routes the trailing URL path
    segment (``channels`` / ``playlistItems`` / ``videos`` /
    ``commentThreads``) to a callable(params) -> response dict.  Records
    every request so tests can assert the pushdowns actually reached the
    wire."""

    routes: dict
    calls: list = field(default_factory=list)

    def get(self, url: str, params: dict) -> dict:
        self.calls.append((url.rsplit("/", 1)[-1], dict(params)))
        return self.routes[url.rsplit("/", 1)[-1]](params)


@dataclass
class YouTubeSource:
    """The reference's request choreography, parameterized by transport.

    Each method documents which pushdown it preserves; the ``part=``
    values and endpoint names are the public YouTube Data API surface
    used by reference function_app.py.
    """

    transport: Transport
    api_key: str
    api_base: str = API_BASE

    def uploads_playlist(self, channel_id: str) -> str:
        """Step 1 (function_app.py:46-52).  Projection pushdown:
        only ``contentDetails`` is requested."""
        resp = self.transport.get(
            f"{self.api_base}/channels",
            {"part": "contentDetails", "id": channel_id, "key": self.api_key},
        )
        return resp["items"][0]["contentDetails"]["relatedPlaylists"]["uploads"]

    def playlist_video_ids(self, playlist_id: str, max_results: int) -> list[str]:
        """Step 2 (function_app.py:54-61).  Limit pushdown: the source
        returns at most ``max_results`` ids — the limit is applied by
        the API, not post-hoc."""
        resp = self.transport.get(
            f"{self.api_base}/playlistItems",
            {
                "part": "contentDetails",
                "playlistId": playlist_id,
                "maxResults": max_results,
                "key": self.api_key,
            },
        )
        return [i["contentDetails"]["videoId"] for i in resp.get("items", [])]

    def video_details(self, video_ids: list[str]) -> list[dict]:
        """Step 3 (function_app.py:63-70), chunked to the API's 50-id
        cap.  Projection pushdown: ``part=snippet,statistics,
        contentDetails`` — exactly the fields BRONZE_VIDEO_ITEM keeps."""
        items: list[dict] = []
        for i in range(0, len(video_ids), MAX_IDS_PER_DETAIL_CALL):
            chunk = video_ids[i : i + MAX_IDS_PER_DETAIL_CALL]
            resp = self.transport.get(
                f"{self.api_base}/videos",
                {
                    "part": "snippet,statistics,contentDetails",
                    "id": ",".join(chunk),
                    "key": self.api_key,
                },
            )
            items.extend(resp.get("items", []))
        return items

    def comment_threads(self, video_id: str, max_results: int) -> dict:
        """Per-video comment page (function_app.py:94-105): limit
        pushdown with the ``min(_, 100)`` cap, plainText projection."""
        return self.transport.get(
            f"{self.api_base}/commentThreads",
            {
                "part": "snippet",
                "videoId": video_id,
                "maxResults": min(max_results, MAX_RESULTS_CAP),
                "textFormat": "plainText",
                "key": self.api_key,
            },
        )


def _get(d: dict, *path):
    for k in path:
        d = d.get(k) if isinstance(d, dict) else None
    return d


def _conform_video(item: dict) -> tuple:
    """Project a raw video item onto BRONZE_VIDEO_ITEM (defensive
    dict.get parity with reference silver_transform_videos.py:24-27 —
    missing fields become nulls, never errors)."""
    likes = _get(item, "statistics", "likeCount")
    return (
        item.get("id"),
        (
            _get(item, "snippet", "title"),
            _get(item, "snippet", "publishedAt"),
            _get(item, "snippet", "channelTitle"),
        ),
        (
            _get(item, "statistics", "viewCount"),
            None if likes is None else str(likes),
            _get(item, "statistics", "commentCount"),
        ),
        (_get(item, "contentDetails", "duration"),),
    )


def ingest_videos(
    spark: SparkSession,
    source: YouTubeSource,
    channel_id: str,
    max_results: int = 10,
) -> DataFrame:
    """The reference's FUNCTION 1 (function_app.py:36-87) as a source
    operator: 3-step fetch → BRONZE_VIDEO_ITEM DataFrame.

    The channel + playlist steps are 2 driver-side requests; detail
    fetches are ceil(n/50) more.  All are metadata-sized — the row
    payload is parallelized immediately, and the downstream silver
    flatten (operators/medallion.py:bronze_videos_to_silver) runs
    distributed.
    """
    playlist = source.uploads_playlist(channel_id)
    ids = source.playlist_video_ids(playlist, max_results)
    rows = [_conform_video(i) for i in source.video_details(ids)]
    return spark.createDataFrame(rows, BRONZE_VIDEO_ITEM)


def ingest_comments(
    spark: SparkSession,
    source: YouTubeSource,
    video_ids: list[str] | DataFrame,
    max_comments_per_video: int = 50,
    id_col: str = "videoId",
) -> DataFrame:
    """The reference's FUNCTION 2 (function_app.py:108-138) as a
    distributed source operator.

    The reference loops videos serially on one node; here the id list
    becomes a DataFrame and each partition fetches its own videos
    inside ``mapInPandas`` — per-video flatten is exactly
    function_app.py:129-138 (topLevelComment id + snippet fields).  A
    failed fetch yields one ``error`` record for that video (the shape
    the silver hop drops, silver_clean_comments.py:42-43) instead of
    failing the job.  State per task is bounded: one response
    (≤ ``maxResults`` rows) at a time.
    """
    import pandas as pd

    # imported here, not at module level: every Python worker unpickles
    # ``fetch`` below, and must not import the operator modules with it
    from youtube_podcast_data_pipeline_azure_spark.operators.util import spread

    if isinstance(video_ids, DataFrame):
        ids_df = video_ids.select(id_col)
    else:
        ids_df = spark.createDataFrame(
            [(v,) for v in video_ids], f"{id_col} string"
        )
    ids_df = spread(ids_df)

    cols = [f.name for f in BRONZE_COMMENT_ITEM.fields]

    def fetch(batches):
        for pdf in batches:
            rows = []
            for vid in pdf[id_col]:
                try:
                    data = source.comment_threads(vid, max_comments_per_video)
                except Exception as e:  # noqa: BLE001 — error-record parity
                    rows.append(
                        {
                            "videoId": vid,
                            "commentId": None,
                            "author": None,
                            "text": None,
                            "likes": None,
                            "publishedAt": None,
                            "error": type(e).__name__,
                        }
                    )
                    continue
                for item in data.get("items", []):
                    top = _get(item, "snippet", "topLevelComment") or {}
                    sn = top.get("snippet") or {}
                    likes = sn.get("likeCount")
                    rows.append(
                        {
                            "videoId": vid,
                            "commentId": top.get("id"),
                            "author": sn.get("authorDisplayName"),
                            "text": sn.get("textDisplay"),
                            "likes": None if likes is None else int(likes),
                            "publishedAt": sn.get("publishedAt"),
                            "error": None,
                        }
                    )
            yield pd.DataFrame(rows, columns=cols, dtype=object)

    return ids_df.mapInPandas(fetch, BRONZE_COMMENT_ITEM)
