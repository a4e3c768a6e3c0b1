"""The reference's ACTUAL shipped flagship pipeline JSON
(config/pipelines/openai-yt-short-generation.json — 19 blocks: chat →
text moderation → TTS → transcription → per-segment image prompts →
images → image moderation (regenerate loop) → details → image_add_text →
video_from_image (per-row segment timings) → join → audio mux → title/
summary/caption strings → Telegram send), compiled by PipelineSpec.from_json
and run end-to-end against a mock OpenAI server with fake-container codecs.

Scenario parity with the reference functional suite
(test/functional/pipeline_test.go:1849 approve-all, :2253 decline-third,
:2662 regenerate-third).
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import base64

import pytest

from data_pipelines_worker_spark.operators import external as X
from data_pipelines_worker_spark.operators import media as M
from data_pipelines_worker_spark.plans.compiler import PipelineRunner, PipelineSpec
from data_pipelines_worker_spark.sources import stage_store

STORY = "On this day a curious historical event unfolded, thirty words exactly."
SEGMENTS = [
    (0.0, 2.0, " A curious event"),
    (2.0, 4.5, " unfolded long ago"),
    (4.5, 6.0, " and amused everyone"),
]
TRANSCRIPTION = {
    "task": "transcribe",
    "language": "english",
    "duration": 6.0,
    "segments": [
        {"id": i, "seek": 0, "start": s, "end": e, "text": t}
        for i, (s, e, t) in enumerate(SEGMENTS)
    ],
    "text": "".join(t for _, _, t in SEGMENTS),
}
DETAILS = {
    "title": "Brave Words Spoken",
    "summary": "A tale of yesterday retold",
    "tags": ["#history", "#fun"],
}
TTS_AUDIO = M.faud_encode(100, bytes(i % 97 for i in range(600)))  # 6.0 s
GEN_IMAGE = M.fimg_encode(16, 12, bytes((i * 13) % 256 for i in range(192)))

TEXT_GATE = "fetch-event-text-moderation-from-telegram"
IMG_GATE = "fetch-event-images-moderation-from-telegram"

DEC_SCHEMA = (
    "processing_id string, block_slug string, input_index long, action string, "
    "event_time long, event_id long, regenerate_block_slug string"
)

#: the processing id the flagship runs use; their decisions name it
PID = "flagship"


def _decisions(spark, rows):
    """Decision events for processing ``PID``; ``rows`` omit the id."""
    return spark.createDataFrame([(PID, *r) for r in rows], DEC_SCHEMA)


class _Handler(BaseHTTPRequestHandler):
    server_log: list[tuple[str, dict]] = []  # rebound per server instance

    def log_message(self, *args):
        pass

    def _send(self, body: bytes, ctype: str):
        self.send_response(200)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_POST(self):
        raw = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        if self.path == "/v1/chat/completions":
            body = json.loads(raw)
            sys_p = next(
                (m["content"] for m in body["messages"] if m["role"] == "system"), ""
            )
            user_p = next(
                (m["content"] for m in body["messages"] if m["role"] == "user"), ""
            )
            if "Historical event" in sys_p:
                content = STORY
            elif "visual arts" in sys_p:
                content = f"IMGPROMPT[{user_p}]"
            elif '"title"' in sys_p:
                content = json.dumps(DETAILS)
            else:  # unexpected routing = spec mis-compiled
                self.send_error(400, "unroutable chat request")
                return
            self.server.log.append(("chat", {"system": sys_p, "user": user_p}))
            resp = {"choices": [{"message": {"role": "assistant", "content": content}}]}
            self._send(json.dumps(resp).encode(), "application/json")
        elif self.path == "/v1/audio/speech":
            self.server.log.append(("tts", json.loads(raw)))
            self._send(TTS_AUDIO, "audio/mpeg")
        elif self.path == "/v1/audio/transcriptions":
            self.server.log.append(("transcribe", {}))
            self._send(json.dumps(TRANSCRIPTION).encode(), "application/json")
        elif self.path == "/v1/images/generations":
            self.server.log.append(("image", json.loads(raw)))
            resp = {"data": [{"b64_json": base64.b64encode(GEN_IMAGE).decode()}]}
            self._send(json.dumps(resp).encode(), "application/json")
        else:
            self.send_error(400)


@pytest.fixture()
def server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    srv.log = []
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield srv
    srv.shutdown()


@pytest.fixture()
def client(server):
    return X.OpenAIClient(
        f"http://127.0.0.1:{server.server_port}/v1",
        policy=X.RetryPolicy(max_retries=2, retry_delay=0.01),
    )


@pytest.fixture()
def spec(reference_pipelines) -> PipelineSpec:
    path = reference_pipelines / "openai-yt-short-generation.json"
    return PipelineSpec.from_json(json.loads(path.read_text()))


def _approve_all(spark):
    rows = [(TEXT_GATE, 0, "approve", 100, 1, None)] + [
        (IMG_GATE, i, "approve", 101, 10 + i, None) for i in range(3)
    ]
    return _decisions(spark, rows)


def _stage(spark, runner, res, slug):
    return stage_store.read_stage(
        spark, runner.store_root, "openai-yt-short-generation", res.processing_id, slug
    )


EXPECTED_TITLE = "Today in History: Brave Words Spoken #history, #fun"
EXPECTED_SUMMARY = "A tale of yesterday retold♥ Generated by AI ♥ \n\n"
EXPECTED_CAPTION = EXPECTED_TITLE + "\n\n" + EXPECTED_SUMMARY


def test_flagship_spec_shape(spec):
    assert spec.slug == "openai-yt-short-generation"
    assert len(spec.blocks) == 19
    fan_outs = [b.slug for b in spec.blocks if b.fan_out]
    assert "get-event-images" in fan_outs and "add-text-to-event-images" in fan_outs


@pytest.mark.slowsuite
def test_flagship_approve_all(spark, tmp_path, server, client, spec):
    runner = PipelineRunner(spark, str(tmp_path / "stages"), openai_client=client)
    res = runner.run(spec, processing_id=PID, decisions=_approve_all(spark))
    assert res.stopped_at is None
    assert all(s == "completed" for s in res.statuses.values()), res.statuses

    # story → moderation → tts → transcription spine
    story = _stage(spark, runner, res, "get-event-text").first()
    assert story.payload_str == STORY
    text_mod = _stage(
        spark, runner, res, "send-event-text-moderation-to-telegram"
    ).first()
    # the spec's configured chat rides the sink record so the transport
    # can honor it (reference openai-yt-short-generation.json group_id)
    assert json.loads(text_mod.payload_str) == {
        "kind": "moderation_request",
        "group_id": -4573786981,
        "data": STORY,
    }
    tts = _stage(spark, runner, res, "get-event-tts").first()
    assert bytes(tts.payload_bin) == TTS_AUDIO and tts.mime == "audio/mpeg"

    # per-segment image prompts: chat saw wrapped system prompt + segment text
    prompts = (
        _stage(spark, runner, res, "get-prompt-for-image-generation-text")
        .orderBy("input_index")
        .collect()
    )
    assert [r.payload_str for r in prompts] == [
        f"IMGPROMPT[{t}]" for _, _, t in SEGMENTS
    ]
    # requests land in task order (parallel) — compare order-insensitively
    img_calls = [d for kind, d in server.log if kind == "image"]
    assert sorted(c["prompt"] for c in img_calls) == sorted(
        r.payload_str for r in prompts
    )
    assert all(c["quality"] == "hd" and c["size"] == "1024x1792" for c in img_calls)

    # image moderation flags media kind + carries the segment caption
    img_mod = (
        _stage(spark, runner, res, "send-event-images-moderation-to-telegram")
        .orderBy("input_index")
        .collect()
    )
    assert [json.loads(r.payload_str)["media"] for r in img_mod] == ["image"] * 3
    assert [json.loads(r.payload_str)["data"] for r in img_mod] == [
        t for _, _, t in SEGMENTS
    ]

    # per-segment videos: timings bound from $.segments[*].start/end
    vids = (
        _stage(
            spark, runner, res, "generate-videos-from-images-and-transcriptions"
        )
        .orderBy("input_index")
        .collect()
    )
    assert [M.fvid_meta(bytes(r.payload_bin))[3] for r in vids] == [60, 75, 45]

    # ordered join + narration replace
    final_video = _stage(spark, runner, res, "add-audio-to-joined-video").first()
    v = bytes(final_video.payload_bin)
    assert M.fvid_meta(v)[3] == 180  # 2.0s+2.5s+1.5s at 30 fps
    audi = M.fvid_sections(v, b"AUDI")
    assert len(audi) == 1 and audi[0] == TTS_AUDIO

    # string tail: title formats the tags array ", "-joined
    assert (
        _stage(spark, runner, res, "get-youtube-video-title").first().payload_str
        == EXPECTED_TITLE
    )
    assert (
        _stage(spark, runner, res, "get-youtube-video-summary").first().payload_str
        == EXPECTED_SUMMARY
    )
    send = json.loads(
        _stage(spark, runner, res, "send-event-video-to-telegram").first().payload_str
    )
    assert send["kind"] == "video"
    assert send["group_id"] == -4573786981
    assert send["text"] == EXPECTED_CAPTION


@pytest.mark.slowsuite
def test_flagship_decline_third_stops(spark, tmp_path, server, client, spec):
    rows = [(TEXT_GATE, 0, "approve", 100, 1, None)] + [
        (IMG_GATE, i, "approve" if i != 2 else "decline", 101, 10 + i, None)
        for i in range(3)
    ]
    runner = PipelineRunner(spark, str(tmp_path / "stages"), openai_client=client)
    res = runner.run(spec, processing_id=PID, decisions=_decisions(spark, rows))
    assert res.stopped_at == IMG_GATE
    assert res.statuses[IMG_GATE] == "stopped"
    assert res.statuses["send-event-video-to-telegram"] == "skipped"
    assert res.statuses["get-event-details"] == "skipped"
    acts = {
        r.input_index: json.loads(r.payload_str)["action"]
        for r in res.output.collect()
    }
    assert acts == {0: "approve", 1: "approve", 2: "decline"}


@pytest.mark.slowsuite
def test_flagship_regenerate_third_image(spark, tmp_path, server, client, spec):
    first = [(TEXT_GATE, 0, "approve", 100, 1, None)] + [
        (
            IMG_GATE,
            i,
            "approve" if i != 2 else "regenerate",
            101,
            10 + i,
            None if i != 2 else "get-event-images",
        )
        for i in range(3)
    ]
    second = [(IMG_GATE, i, "approve", 200, 20 + i, None) for i in range(3)]
    runner = PipelineRunner(spark, str(tmp_path / "stages"), openai_client=client)
    res = runner.run(spec, processing_id=PID, decisions=_decisions(spark, first + second))
    assert res.stopped_at is None
    assert res.statuses[IMG_GATE] == "completed"
    assert res.statuses["send-event-video-to-telegram"] == "completed"
    # pass 2 rehydrated the upstream stages (no re-chat/tts) and re-requested
    # exactly ONE image: the regenerated third prompt (target-index merge)
    img_calls = [d for kind, d in server.log if kind == "image"]
    assert len(img_calls) == 4
    assert img_calls[3]["prompt"] == f"IMGPROMPT[{SEGMENTS[2][2]}]"
    assert len([1 for kind, _ in server.log if kind == "tts"]) == 1
    images = _stage(spark, runner, res, "get-event-images").orderBy("input_index").collect()
    assert [r.input_index for r in images] == [0, 1, 2]
    assert all(bytes(r.payload_bin) == GEN_IMAGE for r in images)
