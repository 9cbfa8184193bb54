"""Generated YouTube Data API for the ``medallion_daily`` workload.

:class:`GeneratedApi` is a transport (``io.rest.Transport`` shape) that
answers the four endpoints the engine calls — channels, playlistItems,
videos and commentThreads — from a pure function of ``(seed, day,
video index)``.  The engine therefore sees ordinary API responses:
nested video items with string statistics and comment threads, with
the hazards of FIXTURES.md A1/A2 planted at fixed rates:

* ``viewCount`` that does not parse as an integer,
* missing ``likeCount``,
* comment fetches that fail (the engine turns them into error records),
* blank and missing comment text.

:func:`expected_day` walks the same function in plain Python and
returns every row count and KPI map the engine's sinks must hold, so
the check never uses the engine's code.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass

#: Words the sentiment model scores; the generator plants them to set
#: each text's sentiment by construction.
POSITIVE = ("great", "love", "awesome", "excellent")
NEGATIVE = ("boring", "bad", "slow", "terrible")
FILLER = (
    "podcast episode guest host interview story music show today really "
    "question point listen season chapter topic voice audio clip minute "
    "thanks video channel part next first long short"
).split()

HAZARD_VIEWCOUNT = 0.03  # unparsable viewCount
HAZARD_NO_LIKES = 0.05  # missing likeCount
HAZARD_FETCH_ERROR = 0.02  # comment fetch fails -> one error record
HAZARD_BLANK_TEXT = 0.03  # whitespace-only comment text
HAZARD_NULL_TEXT = 0.02  # comment without textDisplay

BAD_VIEWCOUNTS = ("", "n/a", "1.2K", "-")


class FetchError(RuntimeError):
    """Raised by the transport for a failed comment fetch."""


def _rng(seed: int, day: int, idx: int) -> random.Random:
    # str seeds hash with sha512: stable across processes and hosts
    return random.Random(f"{seed}:{day}:{idx}")


def _text(r: random.Random, mood: int) -> tuple[str, str]:
    """Word-salad text with its sentiment fixed by construction."""
    words = r.choices(FILLER, k=r.randint(4, 14))
    if mood > 0:
        words += r.choices(POSITIVE, k=r.randint(1, 2))
        sentiment = "positive"
    elif mood < 0:
        words += r.choices(NEGATIVE, k=r.randint(1, 2))
        sentiment = "negative"
    else:
        if r.random() < 0.5:  # balanced: one of each scores neutral
            words += [r.choice(POSITIVE), r.choice(NEGATIVE)]
        sentiment = "neutral"
    r.shuffle(words)
    return " ".join(words), sentiment


def video_id(day: int, idx: int) -> str:
    return f"d{day:03d}v{idx:07d}"


def video_index(vid: str) -> int:
    return int(vid[5:])


def video_item(seed: int, day: int, idx: int) -> tuple[dict, str]:
    """One raw ``videos`` item and its title's sentiment."""
    r = _rng(seed, day, idx)
    title, sentiment = _text(r, r.choice((-1, 0, 1, 1)))
    views = str(r.randint(0, 5_000_000))
    if r.random() < HAZARD_VIEWCOUNT:
        views = r.choice(BAD_VIEWCOUNTS)
    stats = {"viewCount": views, "commentCount": str(r.randint(0, 900))}
    if r.random() >= HAZARD_NO_LIKES:
        stats["likeCount"] = str(r.randint(0, 90_000))
    item = {
        "id": video_id(day, idx),
        "snippet": {
            "title": title,
            "publishedAt": f"2024-{1 + day % 12:02d}-{1 + idx % 28:02d}T{idx % 24:02d}:00:00Z",
            "channelTitle": "Generated Podcast",
        },
        "statistics": stats,
        "contentDetails": {"duration": f"PT{r.randint(1, 3)}H{r.randint(0, 59)}M{r.randint(0, 59)}S"},
    }
    return item, sentiment


def comment_thread(seed: int, day: int, idx: int, mean_comments: int) -> tuple[dict, list] | None:
    """The ``commentThreads`` response for one video and each comment's
    expected sentiment (None for blank or missing text), or None when
    the fetch fails."""
    r = _rng(seed, day, 1_000_000_000 + idx)
    if r.random() < HAZARD_FETCH_ERROR:
        return None
    items, labels = [], []
    for j in range(r.randint(0, 2 * mean_comments)):
        text, sentiment = _text(r, r.choice((-1, 0, 1)))
        u = r.random()
        sn = {
            "authorDisplayName": f"user{r.randint(0, 99_999)}",
            "publishedAt": f"2024-{1 + day % 12:02d}-{1 + j % 28:02d}T{j % 24:02d}:30:00Z",
        }
        if u < HAZARD_BLANK_TEXT:
            sn["textDisplay"] = "   "
            sentiment = None
        elif u < HAZARD_BLANK_TEXT + HAZARD_NULL_TEXT:
            sentiment = None
        else:
            sn["textDisplay"] = text
        if r.random() >= HAZARD_NO_LIKES:
            sn["likeCount"] = r.randint(0, 500)
        items.append({"snippet": {"topLevelComment": {"id": f"{video_id(day, idx)}c{j:03d}", "snippet": sn}}})
        labels.append(sentiment)
    return {"items": items}, labels


@dataclass
class GeneratedApi:
    """Transport answering the engine's four YouTube endpoints for one
    generated day.  Small and picklable: executors regenerate each
    comment thread on demand, as a real API would serve it."""

    seed: int
    day: int
    n_videos: int
    mean_comments: int

    def get(self, url: str, params: dict) -> dict:
        endpoint = url.rsplit("/", 1)[-1]
        if endpoint == "channels":
            return {"items": [{"contentDetails": {"relatedPlaylists": {"uploads": f"UU{self.day}"}}}]}
        if endpoint == "playlistItems":
            n = min(int(params["maxResults"]), self.n_videos)
            return {"items": [{"contentDetails": {"videoId": video_id(self.day, i)}} for i in range(n)]}
        if endpoint == "videos":
            ids = params["id"].split(",")
            return {"items": [video_item(self.seed, self.day, video_index(v))[0] for v in ids]}
        if endpoint == "commentThreads":
            thread = comment_thread(self.seed, self.day, video_index(params["videoId"]), self.mean_comments)
            if thread is None:
                raise FetchError("403 commentsDisabled")
            return thread[0]
        raise KeyError(endpoint)


def expected_day(seed: int, day: int, n_videos: int, mean_comments: int) -> dict:
    """Row counts, hazard counts and KPI maps for one day, in plain
    Python.  ``payload_bytes`` is the JSON size of every API response
    the day serves, the input of ``io.writers.bytes_per_input_byte``."""
    video_sent = {"positive": 0, "neutral": 0, "negative": 0}
    comment_sent = dict(video_sent)
    bad_views = no_likes = errors = blank = 0
    bronze_comments = 0
    payload = 0
    for i in range(n_videos):
        item, s = video_item(seed, day, i)
        payload += len(json.dumps(item))
        video_sent[s] += 1
        bad_views += not item["statistics"]["viewCount"].isdigit()
        no_likes += "likeCount" not in item["statistics"]
        thread = comment_thread(seed, day, i, mean_comments)
        if thread is None:
            errors += 1
            bronze_comments += 1
            continue
        response, labels = thread
        bronze_comments += len(labels)
        payload += len(json.dumps(response))
        for label in labels:
            if label is None:
                blank += 1
            else:
                comment_sent[label] += 1
    silver_comments = bronze_comments - errors - blank
    return {
        "bronze_videos": n_videos,
        "bronze_comments": bronze_comments,
        "silver_videos": n_videos,
        "silver_comments": silver_comments,
        "silver_rows_dropped": errors + blank,
        "null_view_count": bad_views,
        "null_like_count": no_likes,
        "kpi": {
            "total_videos": n_videos,
            "total_comments": silver_comments,
            "video_sentiment_counts": {k: v for k, v in video_sent.items() if v},
            "comment_sentiment_counts": {k: v for k, v in comment_sent.items() if v},
        },
        "payload_bytes": payload,
    }
