"""Sentiment/emotion/topic classifiers behind one seam.

The reference's entire "special sauce" is two scalar LLM calls
(reference gold_sentiment_comments.py:16-50 and
gold_sentiment_videos.py:28-59): chat-completions with a strict-JSON
prompt, and — critically — a *neutral fallback on malformed output*
(gold_sentiment_comments.py:46-50: sentiment=neutral, score=0.0,
emotion=neutral, summary=raw[:200]).

The engine keeps that contract but swaps the transport:

* :class:`DeterministicClassifier` — lexicon/hash-based, seedable, no
  network.  What tests and the DuckDB-oracle harness run.
* :class:`OpenAICompatClassifier` — faithful HTTP client shape
  (endpoint/deployment/api-key envs, temperature 0.2, max_tokens 120,
  timeout as in the reference), gated behind an import-try so the
  engine never needs the network to import.  Batching happens at the
  pandas_udf layer (enrich.py), not per-row.

Both return *raw model text*; JSON parsing + fallback semantics live in
one place (``parse_llm_json``) so the malformed-output behavior is
byte-compatible with the reference regardless of backend.
"""

from __future__ import annotations

import hashlib
import json
from collections.abc import Sequence
from dataclasses import dataclass

POSITIVE_WORDS = frozenset(
    "good great love excellent amazing awesome best happy wonderful "
    "fantastic nice perfect cool win fast".split()
)
NEGATIVE_WORDS = frozenset(
    "bad terrible hate awful worst sad horrible poor broken slow fail "
    "wrong boring angry".split()
)
EMOTIONS = ("joy", "anger", "sadness", "fear", "surprise", "disgust", "neutral")


class Classifier:
    """Batch text -> raw JSON-ish model output (one string per input)."""

    def classify_batch(self, texts: Sequence[str], mode: str) -> list[str]:
        raise NotImplementedError


@dataclass
class DeterministicClassifier(Classifier):
    """Seedable local model: sentiment from a +/- lexicon, emotion/topics
    from stable hashes.  Always emits valid JSON unless ``fail_every``
    is set (>0 ⇒ every Nth output is deliberately malformed, to exercise
    the reference's fallback path in tests)."""

    seed: int = 42
    fail_every: int = 0
    fail_marker: str = ""

    def _one(self, text: str, mode: str, i: int) -> str:
        # fail_every is batch-local (exercises fallback in single-batch
        # unit tests); fail_marker is content-based and therefore stable
        # under any partitioning.
        if self.fail_marker and self.fail_marker in (text or ""):
            return "```json\n(malformed output)\n```"
        if self.fail_every and (i + 1) % self.fail_every == 0:
            return f"```json\n(malformed output {i})\n```"
        words = (text or "").lower().split()
        pos = sum(w.strip(".,!?") in POSITIVE_WORDS for w in words)
        neg = sum(w.strip(".,!?") in NEGATIVE_WORDS for w in words)
        if pos > neg:
            sentiment, score = "positive", min(1.0, 0.25 * (pos - neg))
        elif neg > pos:
            sentiment, score = "negative", max(-1.0, -0.25 * (neg - pos))
        else:
            sentiment, score = "neutral", 0.0
        # Content hash, stable across processes (builtin str hash is
        # PYTHONHASHSEED-randomized outside executors).  Little-endian
        # first 8 digest bytes == DuckDB md5_number_upper(seed || ':' ||
        # text), keeping hash-derived outputs oracle-expressible.
        h = int.from_bytes(
            hashlib.md5(f"{self.seed}:{text or ''}".encode()).digest()[:8],
            "little",
        )
        if mode == "video":
            # contract: emotions <=5, topics <=8 (reference
            # gold_sentiment_videos.py:41-42)
            emotions = [EMOTIONS[h % 7], EMOTIONS[(h // 7) % 7]][: 1 + h % 2]
            topics = sorted(set(words))[:8]
            return json.dumps(
                {"sentiment": sentiment, "emotions": emotions, "topics": topics}
            )
        emotion = (
            "joy" if sentiment == "positive"
            else "anger" if sentiment == "negative"
            else "neutral"
        )
        return json.dumps(
            {
                "sentiment": sentiment,
                "sentiment_score": round(score, 2),
                "emotion": emotion,
                "summary": (text or "")[:80],
            }
        )

    def classify_batch(self, texts: Sequence[str], mode: str) -> list[str]:
        return [self._one(t, mode, i) for i, t in enumerate(texts)]


class OpenAICompatClassifier(Classifier):
    """OpenAI-compatible chat-completions backend, reference-faithful:
    temperature 0.2, max_tokens 120, 120s timeout (reference
    gold_sentiment_comments.py:37-41).  Requires ``requests`` + endpoint
    env config at call time; import of this module never does.

    Requests go over one keep-alive ``requests.Session`` per process,
    created lazily and dropped on pickling (as ``io.rest.HttpTransport``)
    so the classifier ships cleanly into UDF closures."""

    def __init__(
        self,
        endpoint: str,
        api_key: str,
        deployment: str,
        temperature: float = 0.2,
        max_tokens: int = 120,
        timeout: int = 120,
    ) -> None:
        self.endpoint = endpoint.rstrip("/")
        self.api_key = api_key
        self.deployment = deployment
        self.temperature = temperature
        self.max_tokens = max_tokens
        self.timeout = timeout
        self._session = None

    def __getstate__(self):
        return {k: v for k, v in self.__dict__.items() if k != "_session"}

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._session = None

    PROMPTS = {
        # strict-JSON contracts, reference gold_sentiment_comments.py:25-30
        # and gold_sentiment_videos.py:37-45
        "comment": (
            "Return STRICT JSON with keys sentiment (positive|neutral|negative), "
            "sentiment_score (-1.0..1.0), emotion "
            "(joy|anger|sadness|fear|surprise|disgust|neutral), summary "
            "(<=25 words). Text: "
        ),
        "video": (
            "Return STRICT JSON with keys sentiment (positive|neutral|negative), "
            "emotions (array, <=5), topics (array, <=8). Title: "
        ),
    }

    def classify_batch(self, texts: Sequence[str], mode: str) -> list[str]:
        import requests  # deferred: never needed at import/test time

        if self._session is None:
            self._session = requests.Session()
        out = []
        for text in texts:
            resp = self._session.post(
                f"{self.endpoint}/chat/completions",
                headers={"api-key": self.api_key},
                json={
                    "model": self.deployment,
                    "temperature": self.temperature,
                    "max_tokens": self.max_tokens,
                    "response_format": {"type": "json_object"},
                    "messages": [
                        {"role": "user", "content": self.PROMPTS[mode] + (text or "")}
                    ],
                },
                timeout=self.timeout,
            )
            resp.raise_for_status()
            out.append(resp.json()["choices"][0]["message"]["content"])
        return out
