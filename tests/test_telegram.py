"""Telegram transport tests (VERDICT r3 #5): a mock Bot-API server (the
reference functional suite's httptest impersonation shape,
test/functional/pipeline_test.go:371-417) behind TelegramClient /
TelegramTransport / ModerationPoller — including the full moderation e2e
where the ONLY decision path is a button press on the mock server."""

from __future__ import annotations

import json
import re
import threading
import time
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from tests.test_api_server import _await_settled, _pending, _status
from data_pipelines_worker_spark.operators.telegram import (
    ModerationPoller,
    TelegramClient,
    TelegramTransport,
    _resolve_chat,
    generate_message,
    generate_review_message,
    parse_review_message,
)

TOKEN = "test-token"


class MockTelegram:
    """In-memory Bot API: sendMessage/sendPhoto/sendVideo/getUpdates/
    editMessageReplyMarkup/answerCallbackQuery."""

    def __init__(self):
        self.messages: list[dict] = []  # everything sent to the chat
        self.updates: list[dict] = []  # queued updates for getUpdates
        self.acks: list[dict] = []  # edit/answer calls
        self.fail_methods: set[str] = set()  # force ok:false per method
        self._lock = threading.Lock()
        self._next_message_id = 1
        self._next_update_id = 1

        mock = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def do_POST(self):
                m = re.match(rf"^/bot{TOKEN}/(\w+)$", self.path)
                if not m:
                    self.send_response(404)
                    self.end_headers()
                    return
                method = m.group(1)
                length = int(self.headers.get("Content-Length", 0))
                raw = self.rfile.read(length)
                ctype = self.headers.get("Content-Type", "")
                if ctype.startswith("multipart/form-data"):
                    fields = mock._parse_multipart(raw, ctype)
                else:
                    fields = json.loads(raw) if raw else {}
                body = mock.handle(method, fields)
                payload = json.dumps(body).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.base_url = f"http://127.0.0.1:{self.server.server_port}"
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self._thread.start()

    @staticmethod
    def _parse_multipart(raw: bytes, ctype: str) -> dict:
        boundary = ctype.split("boundary=")[1].encode()
        fields = {}
        for part in raw.split(b"--" + boundary):
            part = part.strip(b"\r\n")
            if not part or part == b"--":
                continue
            header, _, body = part.partition(b"\r\n\r\n")
            nm = re.search(rb'name="([^"]+)"', header)
            if not nm:
                continue
            name = nm.group(1).decode()
            if b"filename=" in header:
                fields[name] = body  # raw file bytes
            else:
                fields[name] = body.decode()
        return fields

    def handle(self, method: str, fields: dict) -> dict:
        with self._lock:
            if method in self.fail_methods:
                return {"ok": False, "description": f"{method} forced failure"}
            if method == "getUpdates":
                offset = int(fields.get("offset", 0))
                limit = int(fields.get("limit", 100))
                pending = [u for u in self.updates if u["update_id"] >= offset]
                return {"ok": True, "result": pending[:limit]}
            if method in ("sendMessage", "sendPhoto", "sendVideo"):
                mid = self._next_message_id
                self._next_message_id += 1
                text = fields.get("text") or fields.get("caption") or ""
                markup = fields.get("reply_markup")
                if isinstance(markup, str):
                    markup = json.loads(markup)
                msg = {
                    "method": method,
                    "message_id": mid,
                    "chat": {"id": int(fields.get("chat_id", 0))},
                    "text": text,
                    "reply_markup": markup,
                    "has_file": any(isinstance(v, bytes) for v in fields.values()),
                }
                self.messages.append(msg)
                return {"ok": True, "result": msg}
            if method in ("editMessageReplyMarkup", "answerCallbackQuery"):
                self.acks.append({"method": method, **fields})
                return {"ok": True, "result": True}
            return {"ok": False, "description": f"unknown method {method}"}

    def press_button(self, message: dict, action_code: str, index: int) -> None:
        """A human presses an inline button on a delivered message."""
        with self._lock:
            uid = self._next_update_id
            self._next_update_id += 1
            self.updates.append(
                {
                    "update_id": uid,
                    "callback_query": {
                        "id": f"cb{uid}",
                        "data": f"{action_code}:{index}",
                        "message": message,
                    },
                }
            )

    def close(self):
        self.server.shutdown()
        self.server.server_close()


@pytest.fixture()
def mock_tg():
    m = MockTelegram()
    yield m
    m.close()


def _client(mock):
    from data_pipelines_worker_spark.operators.external import RetryPolicy

    return TelegramClient(
        TOKEN, base_url=mock.base_url, timeout=5.0,
        policy=RetryPolicy(max_retries=1, retry_delay=0.05),
    )


def test_message_formats_roundtrip():
    msg = generate_message("hello", "pid123", "notify", 2)
    assert msg.endswith("ProcessingId: pid123\nBlockSlug: notify\nIndex: 2")
    review = generate_review_message("clip 3", "pid9", "gate", 3, "wrap")
    parsed = parse_review_message(review)
    assert parsed == {
        "text": "clip 3",
        "processing_id": "pid9",
        "block_slug": "gate",
        "index": 3,
        "regenerate_block_slug": "wrap",
    }
    # mandatory fields enforced like the reference parser
    with pytest.raises(ValueError):
        parse_review_message("Please review: x\nProcessingId: p")


def test_client_media_first_fallback(mock_tg):
    # photo send fails (invalid image on the API side) → the transport
    # falls back to video, then to plain text — the reference's exact
    # chain (block_send_message_telegram.go:92-128)
    client = _client(mock_tg)
    r = client.send_photo(7, b"\x89PNGbytes", "cap")
    assert r["method"] == "sendPhoto" and mock_tg.messages[-1]["has_file"]
    mock_tg.fail_methods.add("sendPhoto")
    with pytest.raises(RuntimeError):
        client.send_photo(7, b"bad", "cap")
    r = client.send_message(7, "plain")
    assert r["method"] == "sendMessage"


def test_poller_writes_decision_and_acks(mock_tg, tmp_path):
    client = _client(mock_tg)
    poller = ModerationPoller(client, str(tmp_path))
    review_text = generate_review_message("item 0", "pidX", "gate", 0, "wrap")
    message = {"message_id": 5, "chat": {"id": 7}, "text": review_text}
    mock_tg.press_button(message, "r", 0)
    n = poller.poll_once()
    assert n == 1
    files = [p for p in tmp_path.iterdir() if p.suffix == ".json"]
    assert len(files) == 1
    event = json.loads(files[0].read_text())
    assert event["processing_id"] == "pidX"
    assert event["block_slug"] == "gate"
    assert event["input_index"] == 0
    assert event["action"] == "regenerate"
    assert event["regenerate_block_slug"] == "wrap"
    # keyboard stripped + callback answered (reference :219-236)
    assert {a["method"] for a in mock_tg.acks} == {
        "editMessageReplyMarkup", "answerCallbackQuery"
    }
    # replayed update is deduped by callback id and offset
    assert poller.poll_once() == 0


def test_poller_ignores_malformed_callbacks(mock_tg, tmp_path):
    client = _client(mock_tg)
    poller = ModerationPoller(client, str(tmp_path))
    mock_tg.press_button({"message_id": 1, "chat": {"id": 7}, "text": "junk"}, "a", 0)
    mock_tg.press_button(
        {"message_id": 2, "chat": {"id": 7},
         "text": generate_review_message("t", "p", "g", 1)},
        "z", 1,  # unknown action code
    )
    assert poller.poll_once() == 0
    assert not list(tmp_path.glob("*.json"))


def _moderated_over_transport(spark, tmp_path, mock_tg):
    """The moderated pipeline behind a service whose decision stream tails
    the directory a started ModerationPoller writes to."""
    from data_pipelines_worker_spark.api.server import PipelineService
    from data_pipelines_worker_spark.plans.compiler import PipelineRunner
    from tests.test_moderation_flow import _spec as moderated_spec

    decisions_dir = tmp_path / "decisions"
    decisions_dir.mkdir()
    client = _client(mock_tg)
    service = PipelineService(
        PipelineRunner(spark, str(tmp_path / "stages")),
        {"moderated": moderated_spec()},
        decisions_dir=str(decisions_dir),
        transport=TelegramTransport(client, group_id=42),
    )
    poller = ModerationPoller(client, str(decisions_dir), idle_sleep=0.1).start()
    return service, poller


def _keyboards(mock_tg, n: int, timeout: float = 30.0) -> list[dict]:
    """The chat's messages with a keyboard, once there are ``n`` of them."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        reviews = [m for m in mock_tg.messages if m.get("reply_markup")]
        if len(reviews) >= n:
            return reviews
        time.sleep(0.2)
    return reviews


def test_moderation_e2e_through_transport(spark, tmp_path, mock_tg):
    # The full loop with NO static decision injection: run parks →
    # transport delivers the review messages (HTTP, mock Bot API) → a
    # "human" presses Approve on each delivered message → the poller
    # turns the callbacks into decision events → the service's decision
    # stream resumes the run → pipeline completes.
    from data_pipelines_worker_spark.sources import stage_store

    service, poller = _moderated_over_transport(spark, tmp_path, mock_tg)
    try:
        pid = service.start("moderated", request_input={"src": {"file": ["a", "b"]}})
        assert service.wait(pid, 120.0)
        assert _pending(_status(service, pid))

        # the review messages reached the chat over HTTP, with keyboards
        reviews = _keyboards(mock_tg, 2)
        assert len(reviews) == 2
        for m in reviews:
            parsed = parse_review_message(m["text"])
            assert parsed["processing_id"] == pid
            assert parsed["block_slug"] == "gate"
            buttons = m["reply_markup"]["inline_keyboard"][0]
            assert [b["callback_data"].split(":")[0] for b in buttons] == [
                "a", "d", "r"
            ]  # gate configures regenerate_block_slug → 3 buttons

        # human approves both indices on the actual delivered messages
        for m in reviews:
            mock_tg.press_button(m, "a", parse_review_message(m["text"])["index"])

        _await_settled(service, pid, lambda st: st["error"] is None)

        out = stage_store.read_stage(
            spark, service.runner.store_root, "moderated", pid, "join"
        )
        assert out.first().payload_str == "<a> <b>"
        # review messages were delivered exactly once despite the re-drive
        assert len([m for m in mock_tg.messages if m.get("reply_markup")]) == 2
    finally:
        poller.stop()
        service.stop_decision_stream()


def test_poller_write_failure_preserves_decisions(mock_tg, tmp_path):
    # A decision must be durably on disk BEFORE the poller acks the
    # callback or advances the GetUpdates offset — a failed write leaves
    # every bit of poller state untouched, so the next sweep re-fetches
    # and re-writes the same decision instead of losing it forever.
    client = _client(mock_tg)
    bad_dir = tmp_path / "not-there"  # missing: open() raises
    poller = ModerationPoller(client, str(bad_dir))
    review_text = generate_review_message("item 0", "pidY", "gate", 0)
    mock_tg.press_button(
        {"message_id": 9, "chat": {"id": 7}, "text": review_text}, "a", 0
    )
    offset_before = poller._offset
    import pytest as _pytest

    with _pytest.raises(OSError):
        poller.poll_once()
    # nothing acked, offset not advanced, no keyboard stripped
    assert poller._offset == offset_before
    assert not poller._acked
    assert not mock_tg.acks
    # once the directory exists the SAME update is re-fetched and lands
    bad_dir.mkdir()
    assert poller.poll_once() == 1
    files = list(bad_dir.glob("*.json"))
    assert len(files) == 1
    assert json.loads(files[0].read_text())["action"] == "approve"


def test_transport_chat_resolution_placeholder_default(mock_tg):
    # the validation layer's group_id default is the string "0" — it must
    # not shadow the transport-configured chat; a real record-level
    # group_id must win over the transport default
    client = _client(mock_tg)
    transport = TelegramTransport(client, group_id=42)
    assert _resolve_chat(transport.group_id, {"group_id": "0"}) == 42
    assert _resolve_chat(transport.group_id, {}) == 42
    assert _resolve_chat(transport.group_id, {"group_id": ""}) == 42
    assert _resolve_chat(transport.group_id, {"group_id": "-100123"}) == "-100123"


def test_delivery_failure_schedules_backoff_retry(mock_tg, tmp_path, spark):
    # one transient transport failure on a pending run must not strand it:
    # delivery retries on its own backoff timer and the review messages
    # eventually reach the chat
    from data_pipelines_worker_spark.api.server import PipelineService
    from data_pipelines_worker_spark.plans.compiler import PipelineRunner
    from tests.test_moderation_flow import _spec as moderated_spec

    class FlakyTransport(TelegramTransport):
        def __init__(self, client, fails):
            super().__init__(client, group_id=42)
            self.remaining_fails = fails

        def deliver_processing(self, runner, spec, processing_id):
            if self.remaining_fails > 0:
                self.remaining_fails -= 1
                raise ConnectionError("bot api down")
            return super().deliver_processing(runner, spec, processing_id)

    runner = PipelineRunner(spark, str(tmp_path / "stages"))
    service = PipelineService(
        runner, {"moderated": moderated_spec()},
        transport=FlakyTransport(_client(mock_tg), fails=1),
    )
    service.BACKOFF_BASE_S = 1.0
    pid = service.start("moderated", request_input={"src": {"file": ["a", "b"]}})
    assert service.wait(pid, 120.0)
    # pending status survives the delivery failure (it routes decisions)
    st = _status(service, pid)
    assert _pending(st)
    assert "attempt 1" in st["delivery_error"]
    assert len(_keyboards(mock_tg, 2)) == 2


def test_partial_send_failure_strands_nothing(spark, tmp_path, mock_tg):
    # ADVICE r4 #1: a failing send mid-batch must roll back exactly the
    # failed claims — records after (or before) the failure point are
    # attempted, and a later re-drive sends ONLY what actually failed,
    # with no duplicates of what succeeded.
    from data_pipelines_worker_spark.plans.compiler import PipelineRunner
    from data_pipelines_worker_spark.plans.compiler import (
        BlockSpec,
        InputBinding,
        PipelineSpec,
    )
    from data_pipelines_worker_spark.sources.stage_store import (
        STAGE_SCHEMA,
        write_stage,
    )

    spec = PipelineSpec(
        slug="tgpartial",
        blocks=[
            BlockSpec(
                id="send_moderation_tg",
                slug="review",
                bindings=[InputBinding(param="image", origin="imgstage")],
            ),
        ],
    )
    runner = PipelineRunner(spark, str(tmp_path / "stages"))
    # index 0 carries an image (delivers via sendPhoto even when
    # sendMessage is down); index 1 is text-only (needs sendMessage)
    write_stage(
        spark.createDataFrame(
            [
                (0, 0, json.dumps({"data": "x0", "media": "image"}), None, None),
                (1, 1, json.dumps({"data": "x1"}), None, None),
            ],
            STAGE_SCHEMA,
        ),
        runner.store_root, "tgpartial", "p1", "review",
    )
    write_stage(
        spark.createDataFrame(
            [(0, 0, None, b"\x89PNGfake", "image/png")], STAGE_SCHEMA
        ),
        runner.store_root, "tgpartial", "p1", "imgstage",
    )

    transport = TelegramTransport(_client(mock_tg), group_id=42)
    mock_tg.fail_methods.add("sendMessage")
    with pytest.raises(RuntimeError, match="1 of 2 sends failed"):
        transport.deliver_processing(runner, spec, "p1")
    # the photo send succeeded and was logged; the claim for index 1 was
    # rolled back, index 0's kept
    assert [s["input_index"] for s in transport.sent] == [0]
    assert len(mock_tg.messages) == 1 and mock_tg.messages[0]["has_file"]

    mock_tg.fail_methods.clear()
    n = transport.deliver_processing(runner, spec, "p1")
    assert n == 1  # only the failed index re-sends — no duplicate of 0
    assert [s["input_index"] for s in transport.sent] == [0, 1]
    assert len(mock_tg.messages) == 2
    assert parse_review_message(mock_tg.messages[1]["text"])["index"] == 1


def test_unreadable_media_stage_fails_delivery(spark, tmp_path, mock_tg):
    # a bound image stage that exists but cannot be read is not taken for
    # an absent one: the delivery raises before any send and releases its
    # claims, so once the file is readable again the retry sends every
    # review as a photo (not as plain text, with the claims kept)
    from pathlib import Path

    from data_pipelines_worker_spark.plans.compiler import (
        BlockSpec,
        InputBinding,
        PipelineRunner,
        PipelineSpec,
    )
    from data_pipelines_worker_spark.sources.stage_store import (
        STAGE_SCHEMA,
        stage_path,
        write_stage,
    )

    spec = PipelineSpec(
        slug="tgunreadable",
        blocks=[
            BlockSpec(
                id="send_moderation_tg",
                slug="review",
                bindings=[InputBinding(param="image", origin="imgstage")],
            ),
        ],
    )
    runner = PipelineRunner(spark, str(tmp_path / "stages"))
    reviews = [(i, i, json.dumps({"data": f"x{i}", "media": "image"}), None, None)
               for i in range(3)]
    images = [(i, 0, None, b"\x89PNGfake" + bytes([i]), "image/png") for i in range(3)]
    for slug, rows in (("review", reviews), ("imgstage", images)):
        write_stage(
            spark.createDataFrame(rows, STAGE_SCHEMA),
            runner.store_root, "tgunreadable", "p1", slug,
        )
    part = Path(stage_path(runner.store_root, "tgunreadable", "p1", "imgstage"),
                "part-00000.parquet")
    good = part.read_bytes()
    part.write_bytes(b"not a parquet file")

    transport = TelegramTransport(_client(mock_tg), group_id=42)
    with pytest.raises(Exception):
        transport.deliver_processing(runner, spec, "p1")
    assert mock_tg.messages == [] and transport.sent == []

    part.write_bytes(good)
    assert transport.deliver_processing(runner, spec, "p1") == 3
    assert [m["method"] for m in mock_tg.messages] == ["sendPhoto"] * 3
    assert [s["input_index"] for s in transport.sent] == [0, 1, 2]


def test_delivery_error_never_pollutes_run_errors(spark, tmp_path, mock_tg):
    # ADVICE r4 #2: delivery failures are reported ONLY via the status
    # delivery_error field; a run with no pipeline error must not inherit
    # a stale transport message after a successful retry.
    from data_pipelines_worker_spark.api.server import PipelineService
    from data_pipelines_worker_spark.plans.compiler import (
        BlockSpec,
        PipelineRunner,
        PipelineSpec,
    )

    class FlakyOnce(TelegramTransport):
        def __init__(self, client):
            super().__init__(client, group_id=42)
            self.fails = 1

        def deliver_processing(self, runner, spec, processing_id):
            if self.fails > 0:
                self.fails -= 1
                raise ConnectionError("bot api down")
            return 0

    runner = PipelineRunner(spark, str(tmp_path / "stages"))
    spec = PipelineSpec(slug="clean", blocks=[BlockSpec(id="upload_file", slug="src")])
    service = PipelineService(
        runner, {"clean": spec}, transport=FlakyOnce(_client(mock_tg))
    )
    service.BACKOFF_BASE_S = 1.0
    pid = service.start("clean", request_input={"src": {"file": "x"}})
    assert service.wait(pid, 120.0)
    st = _status(service, pid, "clean")
    assert "attempt 1" in st["delivery_error"]
    assert st["error"] is None  # run state stays clean
    # successful backoff retry clears the delivery error everywhere
    st = _await_settled(service, pid, lambda st: st["delivery_error"] is None, "clean")
    assert st["error"] is None


@pytest.mark.slowsuite
def test_regenerated_review_is_delivered_again(spark, tmp_path, mock_tg, monkeypatch):
    # a regenerate rewrites one review; the transport sends that review
    # again (the poller stripped the old keyboard) and nothing else, and
    # approving the delivered reviews ships exactly what they showed
    from data_pipelines_worker_spark.sources import stage_store
    from tests.test_moderation_flow import tag_wrap_writes

    writes = tag_wrap_writes(monkeypatch)
    service, poller = _moderated_over_transport(spark, tmp_path, mock_tg)
    try:
        pid = service.start("moderated", request_input={"src": {"file": ["a", "b"]}})
        assert service.wait(pid, 120.0)
        first = _keyboards(mock_tg, 2)
        mock_tg.press_button(first[0], "a", 0)
        mock_tg.press_button(first[1], "r", 1)
        _await_settled(service, pid, lambda st: len(writes) == 2 and _pending(st))
        new = _keyboards(mock_tg, 3)[2:]
        assert [parse_review_message(m["text"])["index"] for m in new] == [1]
        assert parse_review_message(new[0]["text"])["text"] == "<b>#2"
        time.sleep(1.0)  # no late duplicate of either review
        assert len(_keyboards(mock_tg, 3)) == 3

        mock_tg.press_button(first[0], "a", 0)
        mock_tg.press_button(new[0], "a", 1)
        _await_settled(service, pid, lambda st: st["error"] is None)
        out = stage_store.read_stage(
            spark, service.runner.store_root, "moderated", pid, "join"
        )
        assert out.first().payload_str == "<a>#1 <b>#2"
    finally:
        poller.stop()
        service.stop_decision_stream()
