"""YouTube Data API + Transcript API ingestion (SURVEY §2.1 S5/S6).

The reference ingests serially on one machine: paginated channel
search / uploads-playlist listing with a sleep between calls and a
hard abort on HTTP 403 quota exhaustion
(`maintain_database.py:32-58,60-107`), batched video details 50 ids
per call (`maintain_database.py:153-187`), and per-video transcript
fetch with a VTT-parse fallback and a ``start=-1`` failure marker row
(`maintain_database.py:452-466`; `update_missing_transcripts.py:
44-123`). Earlier rounds kept S5/S6 out of the engine ("external
ingestion ahead of Spark"); this module closes that gap Spark-first:

- the CONTROL plane (channel -> video-id listing) stays driver-side:
  nextPageToken chains are strictly sequential and a few KB per
  thousand videos; the result lands in a DataFrame immediately;
- the DATA plane (video details, transcript fetch) runs DISTRIBUTED
  via ``mapInPandas``: each partition opens one transport client,
  batches ids 50 per call (the API contract), rate-limits itself, and
  the fleet-of-workers the reference builds by hand (island_worker
  asyncio fleet) falls out of partition parallelism — 1000 executors
  = 1000 polite crawlers;
- HTTP 403 (quota exhausted) raises ``QuotaExhaustedError`` and fails
  the JOB loudly, exactly the reference's abort; transient errors get
  bounded retries; a video whose primary fetch AND VTT fallback both
  fail emits the ``start=-1`` marker row so a later
  ``update_failed_transcripts``-style pass can target it;
- re-crawls are idempotent: ``new_segments_only`` anti-joins incoming
  segments against existing ``(vid_id, start)`` keys, the set-based
  form of the reference's ``existing_starts`` check
  (`maintain_database.py:456-466`).

No network exists in this environment, so the transport is an
injectable object; ``FakeTubeTransport`` serves a deterministic
synthetic catalog and can inject 403/404/transient failures (the
reference's own FakeModel test strategy, `test_support.py:85-90`).
"""

from __future__ import annotations

import hashlib
import re
import time
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import (DoubleType, IntegerType, LongType, StringType,
                               StructField, StructType)

DETAILS_BATCH = 50          # YouTube Videos API hard limit per request
PAGE_SIZE = 50              # playlistItems maxResults

VIDEO_ID_SCHEMA = StructType([
    StructField("vid_id", StringType()),
    StructField("channel_id", StringType()),
])

DETAILS_SCHEMA = StructType([
    StructField("vid_id", StringType()),
    StructField("title", StringType()),
    StructField("published_at", StringType()),
    StructField("duration_sec", LongType()),
])

SEGMENT_SCHEMA = StructType([
    StructField("vid_id", StringType()),
    StructField("text", StringType()),
    StructField("start", DoubleType()),
    StructField("duration", DoubleType()),
    StructField("text_formatted", StringType()),
    StructField("word_count", IntegerType()),
    StructField("cum_word_count", LongType()),
    StructField("status", StringType()),   # 'api' | 'vtt' | 'failed'
])


class QuotaExhaustedError(Exception):
    """HTTP 403 — the reference aborts the whole run on this
    (`maintain_database.py:52-54`); so do we, loudly."""


class PlaylistNotFoundError(Exception):
    """HTTP 404 on the uploads playlist — fall back to search
    (`maintain_database.py:98-100`)."""


class TransientFetchError(Exception):
    """Retryable failure (timeout, 5xx, throttle)."""


class NoTranscriptError(Exception):
    """Primary transcript API has nothing — try the VTT fallback."""


def uploads_playlist_id(channel_id: str) -> str | None:
    """UC... -> UU... (`maintain_database.py:66-71`); None when the
    channel id has an unexpected shape."""
    if channel_id.startswith("UC"):
        return "UU" + channel_id[2:]
    return None


# --- control plane: channel -> video ids (driver-side, sequential) -----

def list_channel_videos(spark: SparkSession, transport,
                        channel_id: str,
                        sleep_s: float = 0.0) -> DataFrame:
    """All video ids for a channel via the uploads playlist, falling
    back to date-ordered search when the playlist 404s. Pagination is
    inherently sequential (each page token comes from the previous
    response), so this runs on the driver — it is control-plane
    metadata, not data — and returns a DataFrame for everything
    downstream. 403 aborts (quota), mirroring the reference."""
    ids: list[str] = []
    playlist = uploads_playlist_id(channel_id)
    use_search = playlist is None
    if not use_search:
        token = None
        while True:
            if sleep_s:
                time.sleep(sleep_s)
            try:
                page = transport.playlist_page(playlist, token)
            except PlaylistNotFoundError:
                ids, use_search = [], True
                break
            ids.extend(item["videoId"] for item in page.get("items", []))
            token = page.get("nextPageToken")
            if not token:
                break
    if use_search:
        token = None
        while True:
            if sleep_s:
                time.sleep(sleep_s)
            page = transport.search_page(channel_id, token)
            ids.extend(item["videoId"] for item in page.get("items", []))
            token = page.get("nextPageToken")
            if not token:
                break
    return spark.createDataFrame(
        [(v, channel_id) for v in ids], VIDEO_ID_SCHEMA)


def missing_video_ids(listed: DataFrame, existing: DataFrame) -> DataFrame:
    """Videos on the platform but not yet ingested — the set
    difference the reference computes with Python sets
    (`maintain_database.py:144-147`), as a left-anti join."""
    return listed.join(existing.select("vid_id"), "vid_id", "left_anti")


# --- data plane: distributed fetch via mapInPandas ---------------------

def fetch_video_details(vids: DataFrame,
                        transport_factory: Callable[[], object],
                        sleep_s: float = 0.0) -> DataFrame:
    """Video metadata, batched DETAILS_BATCH ids per call (the API
    limit, `maintain_database.py:162-168`), distributed: each
    partition opens one client and rate-limits itself."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        transport = transport_factory()
        for pdf in batches:
            vid_ids = list(pdf["vid_id"])
            rows: list[dict] = []
            for i in range(0, len(vid_ids), DETAILS_BATCH):
                if sleep_s:
                    time.sleep(sleep_s)
                rows.extend(transport.video_details(
                    vid_ids[i:i + DETAILS_BATCH]))
            yield pd.DataFrame({
                "vid_id": [r["vid_id"] for r in rows],
                "title": [r["title"] for r in rows],
                "published_at": [r["published_at"] for r in rows],
                "duration_sec": pd.Series(
                    [r["duration_sec"] for r in rows], dtype="int64"),
            })

    return vids.select("vid_id").mapInPandas(run, DETAILS_SCHEMA)


_BRACKETS = re.compile(r"\[.*\]|\{.*\}")
_NON_WORD = re.compile(r"[^\w\s]")


def format_segment_text(text: str) -> tuple[str, int]:
    """The reference's per-line normalization
    (`maintain_database.py:470-475`): lowercase, strip
    bracketed/braced stage directions, strip punctuation, count
    words."""
    t = _BRACKETS.sub("", text.lower())
    t = _NON_WORD.sub("", t)
    return t, len(t.split())


def parse_vtt_time(time_str: str) -> float:
    """"HH:MM:SS.mmm" (hours optional) -> seconds
    (`update_missing_transcripts.py:117-123`)."""
    parts = time_str.split(":")
    hours = int(parts[0]) if len(parts) == 3 else 0
    minutes = int(parts[-2])
    seconds = float(parts[-1].replace(",", "."))
    return hours * 3600 + minutes * 60 + seconds


def parse_vtt_text(doc: str) -> list[tuple[str, float, float]]:
    """WEBVTT cue parse -> [(text, start, duration)], after the yt-dlp
    fallback parser (`update_missing_transcripts.py:80-110`): cue
    header lines "start --> end", numeric cue ids and WEBVTT/Kind:
    headers skipped, multi-line cue text joined.

    Deliberate divergence from that parser: whitespace runs INSIDE a
    cue line are collapsed to one space. The reference appends each
    stripped line as-is, so for a line with a double space the raw
    cue text here differs from the reference's."""
    out: list[tuple[str, float, float]] = []
    current_text: list[str] = []
    current_start: float | None = None
    current_duration: float | None = None
    for raw in doc.splitlines():
        line = raw.strip()
        if line and "-->" in line:
            if current_text:
                text = " ".join(current_text).strip()
                if text and current_start is not None:
                    out.append((text, current_start, current_duration))
                current_text = []
            start_str, end_str = line.split(" --> ")
            start = parse_vtt_time(start_str)
            end = parse_vtt_time(end_str)
            current_start, current_duration = start, end - start
        elif line and not (re.match(r"^\d+$", line)
                           or line.startswith("WEBVTT")
                           or line.startswith("Kind:")):
            # collapse intra-line whitespace runs (the divergence from
            # the reference documented above): cue text is
            # whitespace-normalized downstream ("normalized text",
            # maintain_database-derived columns) and the roundtrip
            # property pins it; a double space inside a cue line
            # previously leaked through (r14, hypothesis-found).
            current_text.append(" ".join(line.split()))
    if current_text and current_start is not None:
        text = " ".join(current_text).strip()
        if text:
            out.append((text, current_start, current_duration))
    return out


def fetch_transcripts(vids: DataFrame,
                      transport_factory: Callable[[], object],
                      max_retries: int = 3,
                      sleep_s: float = 0.0) -> DataFrame:
    """Per-video transcript fetch, distributed. Policy per video
    (mirroring `fetch_transcript`, `update_missing_transcripts.py:
    44-113`):

    1. primary API, with bounded retries on transient errors;
    2. on NoTranscriptError (or retries exhausted): VTT fallback,
       parsed by ``parse_vtt_text`` — which, unlike the reference,
       collapses whitespace runs inside a cue line, so the raw
       ``text`` column of a fallback row can differ from the
       reference's for such lines (a deliberate divergence);
    3. both failed -> ONE marker row ``start = -1`` (the reference's
       failed-transcript convention, SURVEY P5) with status 'failed';
    4. QuotaExhaustedError propagates and fails the job (403 abort).

    Output rows carry the reference's derived columns: normalized
    text, per-line word_count, per-video cum_word_count
    (`maintain_database.py:462-480`)."""

    def one_video(transport, vid_id: str):
        lines, status = None, "api"
        for _ in range(max_retries):
            try:
                lines = transport.transcript(vid_id)
                break
            except TransientFetchError:
                continue
            except NoTranscriptError:
                break
        if lines is None:
            try:
                lines = parse_vtt_text(transport.vtt(vid_id))
                status = "vtt"
            except (NoTranscriptError, TransientFetchError):
                lines = None
        if not lines:
            return [(vid_id, None, -1.0, 0.0, None, 0, 0, "failed")]
        rows, cum = [], 0
        for text, start, duration in lines:
            formatted, wc = format_segment_text(text)
            cum += wc
            rows.append((vid_id, text, float(start), float(duration),
                         formatted, wc, cum, status))
        return rows

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        transport = transport_factory()
        for pdf in batches:
            rows: list[tuple] = []
            for vid_id in pdf["vid_id"]:
                if sleep_s:
                    time.sleep(sleep_s)
                rows.extend(one_video(transport, vid_id))
            yield pd.DataFrame(
                rows, columns=[f.name for f in SEGMENT_SCHEMA.fields])

    return vids.select("vid_id").mapInPandas(run, SEGMENT_SCHEMA)


# --- channel-metadata repair (`fix_missing_channel_info.py:59-141`) ----

CHANNEL_SCHEMA = StructType([
    StructField("channel_id", StringType()),
    StructField("channel_handle", StringType()),
    StructField("channel_snippet", StringType()),   # JSON string
])


def channels_needing_repair(channels: DataFrame) -> DataFrame:
    """The reference's repair predicate
    (`fix_missing_channel_info.py:73-80`): NULL/'nan' handle, NULL
    snippet, or a snippet whose title is missing. Pure column logic —
    at scale this prunes to the (tiny) broken subset before any API
    traffic."""
    from pyspark.sql import functions as F
    return channels.filter(
        F.col("channel_handle").isNull()
        | (F.col("channel_handle") == "nan")
        | F.col("channel_snippet").isNull()
        | F.get_json_object("channel_snippet", "$.title").isNull())


def repair_channel_info(channels: DataFrame,
                        transport_factory: Callable[[], object],
                        sleep_s: float = 0.0) -> DataFrame:
    """Repaired (channel_id, channel_handle, channel_snippet) rows for
    ONLY the channels the repair predicate selects — the distributed
    form of `fix_missing_channel_info.py:96-141`:

    - fetch snippet+handle batched DETAILS_BATCH ids per `channels`
      API call, one transport per partition (mapInPandas, like
      fetch_video_details);
    - merge: new snippet keys overlay the existing snippet JSON
      (reference :113-121); handle falls back to the current one when
      the API has none (:124);
    - channels the API does not return are skipped (:108-110) — they
      stay broken and a re-run retries them.

    Callers land the result with ``sinks.upsert_by_key(...,
    keys=["channel_id"])``. Fully-repaired rows no longer match the
    predicate, so a re-run selects nothing for them. One honest
    exception (same as the reference, whose SELECT re-picks such rows
    every run): a NULL/'nan'-handle channel whose API snippet carries
    no customUrl gets its snippet merged but keeps the broken handle —
    it stays selectable and will be re-tried on the next run, because
    the API may grow the handle later. The upsert itself is idempotent
    either way (same inputs ⇒ same row).
    """
    import json as _json

    todo = channels_needing_repair(channels).select(
        "channel_id", "channel_handle", "channel_snippet")

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        transport = transport_factory()
        for pdf in batches:
            rows: list[tuple] = []
            recs = pdf.to_dict("records")
            for i in range(0, len(recs), DETAILS_BATCH):
                chunk = recs[i:i + DETAILS_BATCH]
                if sleep_s:
                    time.sleep(sleep_s)
                got = {r["channel_id"]: r for r in transport.channel_info(
                    [c["channel_id"] for c in chunk])}
                for c in chunk:
                    info = got.get(c["channel_id"])
                    if info is None:       # API has no such channel
                        continue
                    cur = c["channel_snippet"]
                    try:
                        merged = dict(_json.loads(cur)) if cur else {}
                    except ValueError:
                        merged = {}
                    merged.update(info.get("snippet") or {})
                    handle = info.get("handle") or c["channel_handle"]
                    rows.append((c["channel_id"], handle,
                                 _json.dumps(merged, sort_keys=True)))
            yield pd.DataFrame(
                rows, columns=[f.name for f in CHANNEL_SCHEMA.fields])

    return todo.mapInPandas(run, CHANNEL_SCHEMA)


def new_segments_only(segments: DataFrame, existing: DataFrame) -> DataFrame:
    """Idempotent re-crawl: drop rows whose (vid_id, start) already
    exists — the anti-join form of the reference's existing_starts
    set check (`maintain_database.py:456-466`)."""
    return segments.join(existing.select("vid_id", "start"),
                         ["vid_id", "start"], "left_anti")


# --- deterministic fake transport for tests ----------------------------

class FakeTubeTransport:
    """Synthetic catalog, deterministic from ids alone (safe to
    construct independently inside each executor). Failure injection:

    - ``quota_after``: raise QuotaExhaustedError after N calls (403);
    - ``playlist_404``: these playlist ids 404 -> search fallback;
    - ``flaky_vids``: {vid_id: n} fail the first n transcript calls
      with TransientFetchError;
    - ``no_api_vids``: primary transcript always NoTranscriptError
      (VTT fallback path);
    - ``no_vtt_vids``: VTT also missing (marker-row path);
    - ``gone_channels``: channels API returns no item (repair skips);
    - ``handleless_channels``: channel exists but has no customUrl
      (repair keeps the current handle).
    """

    def __init__(self, videos_per_channel: int = 120,
                 lines_per_video: int = 4,
                 quota_after: int = 0,
                 playlist_404: set[str] | None = None,
                 flaky_vids: dict[str, int] | None = None,
                 no_api_vids: set[str] | None = None,
                 no_vtt_vids: set[str] | None = None,
                 gone_channels: set[str] | None = None,
                 handleless_channels: set[str] | None = None):
        self.videos_per_channel = videos_per_channel
        self.lines_per_video = lines_per_video
        self.quota_after = quota_after
        self.playlist_404 = playlist_404 or set()
        self.flaky_vids = dict(flaky_vids or {})
        self.no_api_vids = no_api_vids or set()
        self.no_vtt_vids = no_vtt_vids or set()
        self.gone_channels = gone_channels or set()
        self.handleless_channels = handleless_channels or set()
        self.calls = 0

    # -- internals ------------------------------------------------------

    def _tick(self):
        self.calls += 1
        if self.quota_after and self.calls > self.quota_after:
            raise QuotaExhaustedError("HTTP 403: quota exhausted")

    @staticmethod
    def _vid(channel_like: str, i: int) -> str:
        h = hashlib.sha256(f"{channel_like}:{i}".encode()).hexdigest()
        return "v_" + h[:9]

    def _page(self, key: str, token: str | None) -> dict:
        start = int(token) if token else 0
        end = min(start + PAGE_SIZE, self.videos_per_channel)
        page = {"items": [{"videoId": self._vid(key, i)}
                          for i in range(start, end)]}
        if end < self.videos_per_channel:
            page["nextPageToken"] = str(end)
        return page

    def _lines(self, vid_id: str) -> list[tuple[str, float, float]]:
        out = []
        for i in range(self.lines_per_video):
            h = int(hashlib.sha256(
                f"{vid_id}:{i}".encode()).hexdigest()[:8], 16)
            text = f"line {i} [Music] word{h % 97}, and word{h % 31}!"
            out.append((text, round(i * 2.0 + (h % 10) / 10.0, 1), 2.0))
        return out

    # -- transport surface ---------------------------------------------

    def playlist_page(self, playlist_id: str, token: str | None) -> dict:
        self._tick()
        if playlist_id in self.playlist_404:
            raise PlaylistNotFoundError(playlist_id)
        return self._page(playlist_id, token)

    def search_page(self, channel_id: str, token: str | None) -> dict:
        self._tick()
        # search keys off the channel id, so the fallback catalog is
        # the same videos the playlist would have listed
        pid = uploads_playlist_id(channel_id) or channel_id
        return self._page(pid, token)

    def video_details(self, vid_ids: list[str]) -> list[dict]:
        self._tick()
        if len(vid_ids) > DETAILS_BATCH:
            raise AssertionError(
                f"API contract violated: {len(vid_ids)} ids > {DETAILS_BATCH}")
        out = []
        for v in vid_ids:
            h = int(hashlib.sha256(v.encode()).hexdigest()[:8], 16)
            out.append({"vid_id": v, "title": f"Video {v}",
                        "published_at": f"2024-01-{1 + h % 28:02d}T00:00:00Z",
                        "duration_sec": 60 + h % 3600})
        return out

    def channel_info(self, channel_ids: list[str]) -> list[dict]:
        self._tick()
        if len(channel_ids) > DETAILS_BATCH:
            raise AssertionError(
                f"API contract violated: {len(channel_ids)} ids > "
                f"{DETAILS_BATCH}")
        out = []
        for c in channel_ids:
            if c in self.gone_channels:
                continue
            h = int(hashlib.sha256(c.encode()).hexdigest()[:8], 16)
            handle = (None if c in self.handleless_channels
                      else f"handle{h % 1000}")
            out.append({"channel_id": c, "handle": handle,
                        "snippet": {"title": f"Channel {c}",
                                    "country": "US" if h % 2 else "GB"}})
        return out

    def transcript(self, vid_id: str) -> list[tuple[str, float, float]]:
        self._tick()
        if self.flaky_vids.get(vid_id, 0) > 0:
            self.flaky_vids[vid_id] -= 1
            raise TransientFetchError(vid_id)
        if vid_id in self.no_api_vids:
            raise NoTranscriptError(vid_id)
        return self._lines(vid_id)

    def vtt(self, vid_id: str) -> str:
        self._tick()
        if vid_id in self.no_vtt_vids:
            raise NoTranscriptError(vid_id)
        cues = ["WEBVTT", "Kind: captions", ""]
        for n, (text, start, duration) in enumerate(self._lines(vid_id), 1):
            def ts(s: float) -> str:
                m, sec = divmod(s, 60)
                return f"00:{int(m):02d}:{sec:06.3f}"
            cues += [str(n), f"{ts(start)} --> {ts(start + duration)}",
                     text, ""]
        return "\n".join(cues)
