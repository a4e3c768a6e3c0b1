"""Telegram transport adapter (VERDICT r3 #5): the real HTTP boundary
behind the ``send_message_tg`` / ``send_moderation_tg`` sink records and
the ``fetch_moderation_tg`` decision log.

The engine's compiler emits *structured sink records* for Telegram blocks
(plans/compiler.py:205-246) and the moderation gate consumes *decision
events* (streaming/moderation.py, api/server.py's decision stream). This
module closes the loop with a deployment-grade transport:

- :class:`TelegramClient` — Bot-API HTTP client on the engine's shared
  retry envelope (operators/external.py:fetch — 30 s timeout, exponential
  backoff on 500/502/503/504), pluggable ``base_url`` so tests run
  against a mock server exactly like the reference functional suite's
  httptest impersonation (test/functional/pipeline_test.go:371-417).
- :class:`TelegramTransport` — delivers a processing's sink-record stages:
  media-first fallback photo → video → text for plain messages
  (block_send_message_telegram.go:80-116) and photo → text with an
  a/d(/r) inline keyboard for moderation requests
  (block_send_moderation_telegram.go:174-243).
- :class:`ModerationPoller` — the reference's GetUpdates long-poll
  (batch 100 / 5 s, block_fetch_moderation_telegram.go:129-133) as a
  daemon thread: callback queries parse back through the review-message
  format and land as decision-event JSON files in ``decisions_dir`` — the
  directory the service's Structured Streaming decision source tails — so
  a human button press resumes a parked run with no static injection.

Message formats mirror the reference byte-for-byte
(``GenerateTelegramMessage`` block_send_message_telegram.go:28-35,
``GenerateTelegramReviewMessage``/``ParseTelegramReviewMessage``
block_send_moderation_telegram.go:33-97) so decisions round-trip through
the actual message text, as they do against the real Bot API.

Scale note: Telegram traffic is control-plane by construction — messages
a human will read and moderate. Delivery collects only sink-record rows
(one per fan-out index of a moderated block) and the media bytes of the
indices it sends, never data-plane tables, and sends from the driver.
Every runner stage, media included, is already collected to the driver
when it is written and bounded by ``spark.driver.maxResultSize``
(sources/stage_store.py), so an executor send task would keep no bytes
off the driver; it would only add a Python stage and Spark jobs.
"""

from __future__ import annotations

import hashlib
import json
import re
import threading
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from ..sources import stage_store
from .external import DEFAULT_TIMEOUT, RetryPolicy, fetch

#: callback-data action codes (block_fetch_moderation_telegram.go:57-66)
# callback short forms: the single source of truth lives beside the
# decision gate (streaming/moderation.py) so the poller and the gate
# can never disagree on which callbacks are valid
from ..streaming.moderation import SHORT_FORMS as ACTION_CODES


def generate_message(text: str, processing_id: str, block_slug: str, index: int) -> str:
    """block_send_message_telegram.go:28-35 template."""
    return f"{text}\nProcessingId: {processing_id}\nBlockSlug: {block_slug}\nIndex: {index}"


def generate_review_message(
    text: str,
    processing_id: str,
    block_slug: str,
    index: int,
    regenerate_block_slug: str | None = None,
) -> str:
    """block_send_moderation_telegram.go:33-45 template."""
    msg = (
        f"Please review: {text}\nProcessingId: {processing_id}"
        f"\nBlockSlug: {block_slug}\nIndex: {index}"
    )
    if regenerate_block_slug:
        msg += f"\nRegenerateBlockSlug: {regenerate_block_slug}"
    return msg


_RE_TEXT = re.compile(r"Please review: (.+?)\nProcessingId:", re.S)
_RE_PID = re.compile(r"ProcessingId: ([^\n]+)")
_RE_SLUG = re.compile(r"BlockSlug: ([^\n]+)")
_RE_INDEX = re.compile(r"Index: (\d+)")
_RE_REGEN = re.compile(r"RegenerateBlockSlug: (.+)")


def parse_review_message(message: str) -> dict:
    """block_send_moderation_telegram.go:56-97 — raises ValueError on any
    missing mandatory field, like the reference parser."""
    out = {}
    for key, rx in (("text", _RE_TEXT), ("processing_id", _RE_PID),
                    ("block_slug", _RE_SLUG), ("index", _RE_INDEX)):
        m = rx.search(message)
        if not m:
            raise ValueError(f"missing or malformed {key}")
        out[key] = m.group(1)
    out["index"] = int(out["index"])
    m = _RE_REGEN.search(message)
    out["regenerate_block_slug"] = m.group(1) if m else None
    return out


@dataclass
class TelegramClient:
    """Minimal Bot-API client over the engine's retry envelope.

    ``base_url`` defaults to the public API; tests point it at a local
    mock. All methods return the decoded ``result`` object and raise on
    ``ok: false`` (the tgbotapi client's Send/Request contract).
    """

    token: str
    base_url: str = "https://api.telegram.org"
    timeout: float = DEFAULT_TIMEOUT
    policy: RetryPolicy = field(default_factory=RetryPolicy)

    def _url(self, method: str) -> str:
        return f"{self.base_url.rstrip('/')}/bot{self.token}/{method}"

    def _call(self, method: str, payload: dict) -> dict:
        _, body, _ = fetch(
            self._url(method),
            "POST",
            {"Content-Type": "application/json"},
            json.dumps(payload).encode(),
            self.timeout,
            self.policy,
        )
        doc = json.loads(body)
        if not doc.get("ok"):
            raise RuntimeError(f"telegram {method} failed: {doc}")
        return doc.get("result")

    def _call_multipart(
        self, method: str, fields: dict[str, str], file_field: str,
        filename: str, file_bytes: bytes,
    ) -> dict:
        boundary = uuid.uuid4().hex
        parts = []
        for k, v in fields.items():
            parts.append(
                f'--{boundary}\r\nContent-Disposition: form-data; name="{k}"'
                f"\r\n\r\n{v}\r\n".encode()
            )
        parts.append(
            f'--{boundary}\r\nContent-Disposition: form-data; name="{file_field}"; '
            f'filename="{filename}"\r\nContent-Type: application/octet-stream'
            "\r\n\r\n".encode() + file_bytes + b"\r\n"
        )
        parts.append(f"--{boundary}--\r\n".encode())
        _, body, _ = fetch(
            self._url(method),
            "POST",
            {"Content-Type": f"multipart/form-data; boundary={boundary}"},
            b"".join(parts),
            self.timeout,
            self.policy,
        )
        doc = json.loads(body)
        if not doc.get("ok"):
            raise RuntimeError(f"telegram {method} failed: {doc}")
        return doc.get("result")

    # -- Bot API methods used by the two send blocks + the poll loop -------

    def send_message(self, chat_id, text: str, reply_markup: dict | None = None) -> dict:
        payload = {"chat_id": chat_id, "text": text}
        if reply_markup:
            payload["reply_markup"] = reply_markup
        return self._call("sendMessage", payload)

    def send_photo(self, chat_id, photo: bytes, caption: str,
                   filename: str = "image.png",
                   reply_markup: dict | None = None) -> dict:
        fields = {"chat_id": str(chat_id), "caption": caption}
        if reply_markup:
            fields["reply_markup"] = json.dumps(reply_markup)
        return self._call_multipart("sendPhoto", fields, "photo", filename, photo)

    def send_video(self, chat_id, video: bytes, caption: str,
                   filename: str = "video.mp4") -> dict:
        fields = {"chat_id": str(chat_id), "caption": caption}
        return self._call_multipart("sendVideo", fields, "video", filename, video)

    def get_updates(self, offset: int = 0, limit: int = 100, timeout: int = 5) -> list[dict]:
        """GetUpdates long-poll (block_fetch_moderation_telegram.go:129-133)."""
        return self._call(
            "getUpdates", {"offset": offset, "limit": limit, "timeout": timeout}
        ) or []

    def edit_message_reply_markup(self, chat_id, message_id: int,
                                  reply_markup: dict | None = None) -> dict:
        return self._call(
            "editMessageReplyMarkup",
            {
                "chat_id": chat_id,
                "message_id": message_id,
                "reply_markup": reply_markup or {"inline_keyboard": []},
            },
        )

    def answer_callback_query(self, callback_query_id: str, text: str = "Processing...") -> dict:
        return self._call(
            "answerCallbackQuery", {"callback_query_id": callback_query_id, "text": text}
        )


def _review_keyboard(index: int, with_regenerate: bool) -> dict:
    """Inline keyboard (block_send_moderation_telegram.go:174-204):
    callback data is ``<action-code>:<input-index>``."""
    row = [
        {"text": "Approve", "callback_data": f"a:{index}"},
        {"text": "Decline", "callback_data": f"d:{index}"},
    ]
    if with_regenerate:
        row.append({"text": "Regenerate", "callback_data": f"r:{index}"})
    return {"inline_keyboard": [row]}


def _resolve_chat(group_id, record: dict):
    """Record-level group_id wins, but the validation layer's default is
    the *string* "0" (plans/validation.py) — treat "0"/0/empty as unset so
    the transport-configured chat is not shadowed by the placeholder."""
    g = record.get("group_id")
    return group_id if g in (None, "", 0, "0") else g


def _send_record(client: TelegramClient, group_id, block_id: str,
                 processing_id: str, block_slug: str, gate_slug: str,
                 regen: str | None, index: int, record: dict,
                 media: dict) -> dict:
    """One sink record → one Bot-API send, with the reference's
    media-first fallbacks. Runs on the driver thread that delivers the
    processing, one record at a time in ``input_index`` order, like the
    reference's sequential send loop (block_send_message_telegram.go:80):
    ``media`` holds bytes the driver collected from the bound stages,
    which the runner already held on the driver when it wrote them."""
    chat = _resolve_chat(group_id, record)
    if block_id == "send_message_tg":
        # photo → video → text (block_send_message_telegram.go:92-128)
        caption = generate_message(
            record.get("text") or "", processing_id, block_slug, index
        )
        if record.get("kind") == "photo" and media.get("image") is not None:
            try:
                return client.send_photo(chat, media["image"], caption)
            except Exception:  # noqa: BLE001
                # a failed send_photo (bad media, API limit, transient
                # transport error) degrades to the next media type and
                # finally to a text message — the reference swallows the
                # same way (block_send_message_telegram.go: photo → video
                # → text fallthrough); the message is never lost, only
                # sent in a poorer format
                pass
        if record.get("kind") in ("photo", "video") and media.get("video") is not None:
            try:
                return client.send_video(chat, media["video"], caption)
            except Exception:  # noqa: BLE001
                # failed send_video degrades to plain text (see above)
                pass
        return client.send_message(chat, caption)
    # moderation request: photo-first with inline keyboard
    # (block_send_moderation_telegram.go:206-243); the BlockSlug line
    # carries the *gate* slug (block_fetch_moderation_telegram.go:193-197)
    caption = generate_review_message(
        record.get("data") or "", processing_id, gate_slug, index, regen
    )
    keyboard = _review_keyboard(index, with_regenerate=regen is not None)
    if record.get("media") == "image" and media.get("image") is not None:
        try:
            return client.send_photo(chat, media["image"], caption, reply_markup=keyboard)
        except Exception:  # noqa: BLE001
            # moderation photo send failed — the inline keyboard still
            # reaches the moderator via the text fallback below
            pass
    return client.send_message(chat, caption, reply_markup=keyboard)


def _stage(runner, *key: str):
    """The stage ``(pipeline_slug, processing_id, block_slug)`` the runner
    wrote, read with its known schema, or None when it does not exist.
    Any other read error propagates: a stage that cannot be read is not
    taken for one that was never written."""
    path = stage_store.stage_path(runner.store_root, *key)
    fs, hpath = stage_store.hadoop_fs(runner.spark, path)
    if not fs.exists(hpath):
        return None
    return stage_store.read_stage(runner.spark, runner.store_root, *key, stage_store.STAGE_SCHEMA)


class TelegramTransport:
    """Delivers a processing's Telegram sink-record stages over HTTP.

    ``deliver_processing(runner, spec, processing_id)`` scans the spec for
    ``send_message_tg`` / ``send_moderation_tg`` blocks whose stage has
    been written, resolves bound media bytes from the *origin* stage (the
    sink record flags the media kind; the bytes travel by stage
    reference), and sends each not-yet-delivered (processing, block,
    input_index, payload digest) exactly once per process lifetime.
    Idempotent across repeated calls — a parked run re-driven by several
    decision batches does not re-send its review messages, while a review
    a regeneration rewrote is new and goes out again.
    """

    def __init__(self, client: TelegramClient, group_id: int | str = 0):
        self.client = client
        self.group_id = group_id
        self._delivered: set[tuple[str, str, int, str]] = set()
        self._lock = threading.Lock()
        self.sent: list[dict] = []  # delivery log (message ids, for status)

    def deliver_processing(self, runner, spec, processing_id: str) -> int:
        """Deliver all undelivered Telegram sink rows for one processing.
        Returns the number of messages sent.

        Each sink stage and the media bytes of the indices it claims are
        collected to the driver (one job per stage), and the claimed rows
        are sent from this thread in ``input_index`` order. A row is
        claimed before it is sent and attempted once; a failed send
        releases only that row's claim (ADVICE r4 #1), and the call then
        raises to trigger the service's backoff retry."""
        n_sent = 0
        for pos, block in enumerate(spec.blocks):
            if block.id not in ("send_message_tg", "send_moderation_tg"):
                continue
            df = _stage(runner, spec.slug, processing_id, block.slug)
            if df is None:
                continue
            # control-plane collect: (index, payload_str) sink records only
            rows = sorted(
                df.select("input_index", "payload_str").collect(),
                key=lambda r: r.input_index,
            )
            # claim undelivered keys first: a parked run is re-driven on
            # every decision batch, and re-reading media stages for an
            # already-delivered block is pure waste
            claims = []
            with self._lock:
                for r in rows:
                    digest = hashlib.sha1((r.payload_str or "").encode()).hexdigest()
                    key = (processing_id, block.slug, r.input_index, digest)
                    if key not in self._delivered:
                        self._delivered.add(key)
                        claims.append((r, key))
            if not claims:
                continue
            gate = next(
                (b for b in spec.blocks[pos + 1:] if b.id == "fetch_moderation_tg"),
                None,
            )
            gate_slug = gate.slug if gate is not None else block.slug
            regen = (
                gate.input.get("regenerate_block_slug") if gate is not None else None
            )
            indices = sorted({r.input_index for r, _ in claims})
            try:
                media = self._media(runner, spec.slug, processing_id, block, indices)
            except Exception:
                # nothing was sent: release every claim of this batch so
                # the backoff retry re-drives all of it
                with self._lock:
                    self._delivered.difference_update(k for _, k in claims)
                raise
            failed = []
            for r, key in claims:
                idx = r.input_index
                try:
                    record = json.loads(r.payload_str) if r.payload_str else {}
                    sent = _send_record(
                        self.client, self.group_id, block.id, processing_id,
                        block.slug, gate_slug, regen, idx, record,
                        {param: by_index.get(idx) for param, by_index in media.items()},
                    )
                except Exception as ex:  # noqa: BLE001 — reported per row
                    failed.append((key, f"[{idx}] {type(ex).__name__}: {ex}"))
                    continue
                self.sent.append({"block_slug": block.slug, "input_index": idx,
                                  "message_id": (sent or {}).get("message_id")})
                n_sent += 1
            if failed:
                with self._lock:
                    self._delivered.difference_update(k for k, _ in failed)
                raise RuntimeError(
                    f"{len(failed)} of {len(claims)} sends failed for block "
                    f"{block.slug}: " + "; ".join(e for _, e in failed[:3])
                )
        return n_sent

    @staticmethod
    def _media(runner, pipeline_slug: str, processing_id: str, block,
               indices: list[int]) -> dict[str, dict[int, bytes]]:
        """``{param: {input_index: bytes}}`` of the block's image and video
        bindings for ``indices``: per param and index the last binding
        with bytes wins, and within a stage the highest ``output_index``."""
        media = {"image": {}, "video": {}}
        for b in block.bindings:
            if b.param not in media:
                continue
            df = _stage(runner, pipeline_slug, processing_id, b.origin)
            if df is None:
                continue
            rows = (
                df.where(F.col("input_index").isin(indices) & F.col("payload_bin").isNotNull())
                .select("input_index", "output_index", "payload_bin")
                .collect()
            )
            for r in sorted(rows, key=lambda r: r.output_index):
                media[b.param][r.input_index] = bytes(r.payload_bin)
        return media


class ModerationPoller:
    """GetUpdates → decision-event files, as a daemon thread.

    The reference's fetch block long-polls inside the pipeline run
    (block_fetch_moderation_telegram.go:140-215). On Spark the gate is a
    replayable decision *log*, so the poll loop lives beside the service:
    each callback query is parsed back through the review-message format,
    acknowledged (keyboard stripped + callback answered, :219-236), and
    appended atomically to ``decisions_dir`` where the service's streaming
    JSON source picks it up and resumes the parked run.
    """

    def __init__(self, client: TelegramClient, decisions_dir: str,
                 limit: int = 100, long_poll_timeout: int = 5,
                 idle_sleep: float = 0.2):
        self.client = client
        self.decisions_dir = decisions_dir
        self.limit = limit
        self.long_poll_timeout = long_poll_timeout
        self.idle_sleep = idle_sleep
        self._offset = 0
        self._acked: set[str] = set()
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._seq = 0

    # one GetUpdates sweep; returns number of decisions written
    def poll_once(self) -> int:
        import os

        n = 0
        while True:
            updates = self.client.get_updates(
                self._offset, self.limit, self.long_poll_timeout
            )
            # Phase 1 — parse only. No offset advance, no ack bookkeeping:
            # a human decision must be durably on disk before anything
            # tells Telegram (or our own dedup set) that it was consumed.
            # If the write below fails, every bit of poller state is
            # untouched and the next sweep re-fetches the same updates.
            max_id = self._offset
            events, acks = [], []
            for upd in updates:
                max_id = max(max_id, int(upd.get("update_id", 0)) + 1)
                cq = upd.get("callback_query")
                if not cq or cq.get("id") in self._acked:
                    continue
                parts = str(cq.get("data", "")).split(":")
                if len(parts) != 2 or parts[0] not in ACTION_CODES:
                    continue
                msg = cq.get("message") or {}
                text = msg.get("text") or msg.get("caption") or ""
                try:
                    review = parse_review_message(text)
                except ValueError:
                    continue
                try:
                    idx = int(parts[1])
                except ValueError:
                    continue
                if idx != review["index"]:
                    continue
                action = ACTION_CODES[parts[0]]
                self._seq += 1
                events.append(
                    {
                        "processing_id": review["processing_id"],
                        "block_slug": review["block_slug"],
                        "input_index": idx,
                        "action": action,
                        "event_time": int(time.time()),
                        "event_id": int(upd.get("update_id", self._seq)),
                        "regenerate_block_slug": (
                            review["regenerate_block_slug"]
                            if action == "regenerate" else None
                        ),
                    }
                )
                acks.append((cq, msg))
            # Phase 2 — durable write (atomic rename). Raises before any
            # state change on failure.
            if events:
                fname = f"decisions-{uuid.uuid4().hex}.json"
                tmp = os.path.join(self.decisions_dir, f".{fname}.tmp")
                with open(tmp, "w") as fh:
                    fh.write("\n".join(json.dumps(e) for e in events))
                    fh.flush()
                    os.fsync(fh.fileno())
                os.rename(tmp, os.path.join(self.decisions_dir, fname))
                n += len(events)
            # Phase 3 — only now acknowledge: strip keyboards + answer
            # callbacks like the reference (:219-236, best-effort), mark
            # the callback ids consumed, and advance the offset.
            for cq, msg in acks:
                self._acked.add(cq.get("id"))
                try:
                    chat_id = (msg.get("chat") or {}).get("id")
                    if chat_id is not None and msg.get("message_id") is not None:
                        self.client.edit_message_reply_markup(
                            chat_id, msg["message_id"]
                        )
                    self.client.answer_callback_query(cq.get("id"))
                except Exception:  # noqa: BLE001
                    pass
            self._offset = max_id
            if len(updates) < self.limit:
                return n

    def start(self) -> "ModerationPoller":
        def loop():
            while not self._stop.is_set():
                try:
                    self.poll_once()
                except Exception:  # noqa: BLE001 — transport blips must not
                    pass             # kill the poll loop
                self._stop.wait(self.idle_sleep)

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()
        return self

    def stop(self):
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
