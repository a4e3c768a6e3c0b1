"""The reference's other three shipped pipeline JSONs compiled from disk and
run end-to-end (conformance beyond the yt-short flagship):

- openai-podcast-summary.json — upload → 1→N chunk ("10m" Go-duration
  string) → per-chunk convert (parallel array) → per-chunk transcription →
  gather with a per-output ``$.text`` JSONPath → chat summary.
- openai-mux-subtitles-to-video.json — upload video → extract audio →
  transcription → ASS subtitles → mux.
- openai-motivational-quote-to-video.json — json-mode chat analysis →
  prompt fan-out from ``$.background_suggestions[*]`` with scalar
  system-prompt broadcast fill → per-image summaries → ordered gather →
  TTS/transcription → styled image_add_text (full bg style surface) →
  per-segment videos → join → audio mux.

Mock servers impersonate OpenAI (httptest parity,
test/functional/pipeline_test.go:371-417). The podcast spec's
transcription block declares ``format: "text"`` yet gathers ``$.text``;
the mock returns JSON (as the reference's own fixtures do) since a plain
string would fail the JSONPath lookup in both engines
(types/dataclasses/block.go:344 errors hard).
"""

from __future__ import annotations

import base64
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from data_pipelines_worker_spark.operators import external as X
from data_pipelines_worker_spark.operators import media as M
from data_pipelines_worker_spark.plans.compiler import PipelineRunner, PipelineSpec
from data_pipelines_worker_spark.sources import stage_store

QUOTE_ANALYSIS = {
    "text": "Fortune favors the bold",
    "color_palette": "warm",
    "typography": "serif",
    "background_suggestions": ["sunrise over cliffs", "lion on a ridge"],
}
DETAILS = {"title": "Bold Fortune", "summary": "A nudge to act", "tags": ["#bold"]}
SEGMENTS = [
    {"id": 0, "seek": 0, "start": 0.0, "end": 2.0, "text": " Fortune favors"},
    {"id": 1, "seek": 0, "start": 2.0, "end": 4.0, "text": " the bold"},
]
TRANSCRIPTION = {
    "task": "transcribe",
    "language": "english",
    "duration": 4.0,
    "segments": SEGMENTS,
    "text": " Fortune favors the bold",
}
TTS_AUDIO = M.faud_encode(100, bytes(i % 89 for i in range(400)))  # 4.0 s
GEN_IMAGE = M.fimg_encode(12, 10, bytes((i * 7) % 256 for i in range(120)))

CHUNK_TEXTS = ["first chunk words", "second chunk words", "third chunk tail"]


class _Handler(BaseHTTPRequestHandler):
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
            if "Analyze the tone" in sys_p:
                content = json.dumps(QUOTE_ANALYSIS)
            elif "tasked with creating a prompt" in sys_p:
                content = f"IMGPROMPT[{user_p}]"
            elif "inspirational phrase" in sys_p:
                content = f"PHRASE[{user_p}]"
            elif "three keys" in sys_p:
                content = json.dumps(DETAILS)
            elif "summary" in user_p or "chunk" in user_p:
                content = f"SUMMARY[{user_p[:40]}]"
            else:
                self.send_error(400, "unroutable chat request")
                return
            resp = {"choices": [{"message": {"role": "assistant", "content": content}}]}
            self._send(json.dumps(resp).encode(), "application/json")
        elif self.path == "/v1/audio/speech":
            self._send(TTS_AUDIO, "audio/mpeg")
        elif self.path == "/v1/audio/transcriptions":
            with self.server.lock:
                n = self.server.transcriptions
                self.server.transcriptions += 1
            if self.server.mode == "podcast":
                doc = {"text": CHUNK_TEXTS[n % len(CHUNK_TEXTS)]}
            else:
                doc = TRANSCRIPTION
            self._send(json.dumps(doc).encode(), "application/json")
        elif self.path == "/v1/images/generations":
            resp = {"data": [{"b64_json": base64.b64encode(GEN_IMAGE).decode()}]}
            self._send(json.dumps(resp).encode(), "application/json")
        else:
            self.send_error(400)


@pytest.fixture()
def server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    srv.transcriptions = 0
    srv.lock = threading.Lock()
    srv.mode = "quote"
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
def load(reference_pipelines):
    def _load(name: str) -> PipelineSpec:
        path = reference_pipelines / f"{name}.json"
        return PipelineSpec.from_json(json.loads(path.read_text()))

    return _load


@pytest.mark.slowsuite
def test_podcast_summary_pipeline(spark, tmp_path, server, client, load):
    server.mode = "podcast"
    spec = load("openai-podcast-summary")
    runner = PipelineRunner(spark, str(tmp_path / "stages"), openai_client=client)
    # 21-minute podcast at the fake 100 Hz container → "10m" chunks = 3
    podcast = M.faud_encode(100, bytes(i % 251 for i in range(126_000)))
    res = runner.run(spec, request_input={"upload-podcast": {"file": podcast}})
    assert res.stopped_at is None

    def stage(slug):
        return stage_store.read_stage(
            spark, runner.store_root, spec.slug, res.processing_id, slug
        )

    chunks = stage("chunk-podcast").orderBy("output_index").collect()
    assert [M.faud_duration(bytes(r.payload_bin)) for r in chunks] == [
        600.0,
        600.0,
        60.0,
    ]
    # gather applied "$.text" per chunk transcription, joined with " "
    joined = stage("join-transcription-chunks").first().payload_str
    assert joined == " ".join(CHUNK_TEXTS)
    summary = res.output.first().payload_str
    assert summary.startswith("SUMMARY[")


def test_mux_subtitles_pipeline(spark, tmp_path, server, client, load):
    spec = load("openai-mux-subtitles-to-video")
    runner = PipelineRunner(spark, str(tmp_path / "stages"), openai_client=client)
    img = M.fimg_encode(8, 8, bytes(range(64)))
    video = M.video_add_audio_bytes(
        M.video_from_image_bytes(img, 0.0, 4.0, fps=10), TTS_AUDIO, True
    )
    res = runner.run(spec, request_input={"upload-video-file": {"file": video}})
    assert res.stopped_at is None
    final = bytes(res.output.first().payload_bin)
    subs = M.fvid_sections(final, b"SUBS")
    assert len(subs) == 1
    ass = subs[0].decode()
    assert ass.startswith("[Script Info]") and ass.count("Dialogue: 0,") == 2
    assert M.fvid_meta(final)[3] == 40  # frames untouched by mux


@pytest.mark.slowsuite
def test_motivational_quote_pipeline(spark, tmp_path, server, client, load):
    spec = load("openai-motivational-quote-to-video")
    runner = PipelineRunner(spark, str(tmp_path / "stages"), openai_client=client)
    res = runner.run(
        spec,
        request_input={
            "analyze-user-input": {"user_prompt": "Fortune favors the bold"}
        },
    )
    assert res.stopped_at is None

    def stage(slug):
        return stage_store.read_stage(
            spark, runner.store_root, spec.slug, res.processing_id, slug
        )

    # fan-out: one image prompt per background suggestion, system prompt
    # broadcast-filled from the wrap output
    prompts = stage("get-prompt-for-image-generation-text").orderBy("input_index").collect()
    assert len(prompts) == 2
    assert all(r.payload_str.startswith("IMGPROMPT[") for r in prompts)
    assert "sunrise over cliffs" in prompts[0].payload_str
    # ordered gather of per-image phrases with the "... ." separator
    tts_text = stage("make-text-for-audio-generation").first().payload_str
    assert tts_text.count("PHRASE[") == 2 and "... ." in tts_text
    # final: 2 segment videos joined (2s + 2s at default 30 fps), narration muxed
    final = bytes(res.output.first().payload_bin)
    assert M.fvid_meta(final)[3] == 120
    audi = M.fvid_sections(final, b"AUDI")
    assert len(audi) == 1 and M.faud_duration(audi[0]) == pytest.approx(4.0)
