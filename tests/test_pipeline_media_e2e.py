"""Flagship end-to-end pipeline: the reference's yt-short spine
(config/pipelines/openai-yt-short-generation.json) through the compiler —

  chat → tts → transcription → subtitles
       → segment fan-out → image per segment → resize → video
       → zip(audio broadcast) → subtitle mux → ordered join_videos

with a mock OpenAI server (httptest impersonation parity,
test/functional/pipeline_test.go:371-417) and fake-container media codecs.
Exercises: binary payloads through the stage store, format:"file" bindings,
JSONPath wildcard fan-out, zip-merge scalar broadcast fill, ordered media
gather, mime sniffing.
"""

from __future__ import annotations

import base64
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from data_pipelines_worker_spark.operators import external as X
from data_pipelines_worker_spark.operators import media as M
from data_pipelines_worker_spark.plans.compiler import (
    BlockSpec,
    InputBinding,
    PipelineRunner,
    PipelineSpec,
)

STORY = "A short story about the Beatles."
SEGMENTS = [" Yesterday", " all my troubles", " seemed so far away"]
TRANSCRIPTION = {
    "task": "transcribe",
    "language": "english",
    "duration": 6.0,
    "segments": [
        {"id": i, "seek": 0, "start": 2.0 * i, "end": 2.0 * i + 1.5, "text": t}
        for i, t in enumerate(SEGMENTS)
    ],
    "text": "".join(SEGMENTS),
}
TTS_AUDIO = M.faud_encode(100, bytes(i % 97 for i in range(200)))  # 2.0 s
GEN_IMAGE = M.fimg_encode(16, 12, bytes((i * 13) % 256 for i in range(192)))


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
        self.rfile.read(int(self.headers.get("Content-Length", 0)))
        if self.path == "/v1/chat/completions":
            resp = {"choices": [{"message": {"role": "assistant", "content": STORY}}]}
            self._send(json.dumps(resp).encode(), "application/json")
        elif self.path == "/v1/audio/speech":
            self._send(TTS_AUDIO, "audio/mpeg")
        elif self.path == "/v1/audio/transcriptions":
            self._send(json.dumps(TRANSCRIPTION).encode(), "application/json")
        elif self.path == "/v1/images/generations":
            resp = {"data": [{"b64_json": base64.b64encode(GEN_IMAGE).decode()}]}
            self._send(json.dumps(resp).encode(), "application/json")
        else:
            self.send_error(400)


@pytest.fixture(scope="module")
def client():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield X.OpenAIClient(
        f"http://127.0.0.1:{srv.server_port}/v1",
        policy=X.RetryPolicy(max_retries=2, retry_delay=0.01),
    )
    srv.shutdown()


def yt_short_spec() -> PipelineSpec:
    return PipelineSpec(
        slug="yt-short",
        blocks=[
            BlockSpec(
                id="openai_chat_completion",
                slug="story",
                input={"model": "gpt-4o-mini", "user_prompt": "Write the story"},
            ),
            BlockSpec(
                id="openai_tts_request",
                slug="tts",
                bindings=[InputBinding(param="text", origin="story")],
            ),
            BlockSpec(
                id="openai_transcription_request",
                slug="transcribe",
                bindings=[InputBinding(param="audio", origin="tts", binary=True)],
            ),
            BlockSpec(
                id="subtitles_from_transcription",
                slug="subs",
                input={"font_size": 24},
                bindings=[InputBinding(param="transcription", origin="transcribe")],
            ),
            BlockSpec(
                id="openai_image_request",
                slug="image",
                fan_out=True,
                bindings=[
                    InputBinding(
                        param="prompt",
                        origin="transcribe",
                        json_path="$.segments[*].text",
                    )
                ],
            ),
            BlockSpec(
                id="image_resize",
                slug="resized",
                input={"width": 8, "height": 0, "keep_aspect_ratio": True},
                bindings=[InputBinding(param="image", origin="image", binary=True)],
            ),
            BlockSpec(
                id="video_from_image",
                slug="vid",
                input={"start": 0.0, "end": 1.0, "fps": 10},
                bindings=[InputBinding(param="image", origin="resized", binary=True)],
            ),
            BlockSpec(
                id="video_add_audio",
                slug="vid_audio",
                input={"replace_original_audio": True},
                bindings=[
                    InputBinding(param="video", origin="vid", binary=True),
                    InputBinding(param="audio", origin="tts", binary=True),
                ],
            ),
            BlockSpec(
                id="video_add_subtitles",
                slug="vid_subs",
                input={"embedding_type": "mux"},
                bindings=[
                    InputBinding(param="video", origin="vid_audio", binary=True),
                    InputBinding(param="subtitles", origin="subs"),
                ],
            ),
            BlockSpec(
                id="join_videos",
                slug="final",
                bindings=[InputBinding(param="videos", origin="vid_subs", binary=True)],
            ),
        ],
    )


@pytest.mark.slowsuite
def test_yt_short_end_to_end(spark, tmp_path, client):
    runner = PipelineRunner(spark, str(tmp_path / "stages"), openai_client=client)
    res = runner.run(yt_short_spec())
    assert res.stopped_at is None
    assert all(s == "completed" for s in res.statuses.values()), res.statuses

    from data_pipelines_worker_spark.sources import stage_store

    def stage(slug):
        return stage_store.read_stage(
            spark, runner.store_root, "yt-short", res.processing_id, slug
        )

    # chat → tts → transcription chain
    tts = stage("tts").collect()
    assert len(tts) == 1 and bytes(tts[0].payload_bin) == TTS_AUDIO
    assert tts[0].mime == "audio/mpeg"
    doc = json.loads(stage("transcribe").first().payload_str)
    assert [s["text"] for s in doc["segments"]] == SEGMENTS

    # subtitles: full ASS document with the 3 segment lines
    ass = stage("subs").first().payload_str
    assert ass.startswith("[Script Info]")
    assert ass.count("\nDialogue: 0,") == 3
    assert "00:00:02.00,00:00:03.50,Default,,0,0,0,, all my troubles" in ass

    # fan-out: one image per segment; resize keeps aspect 16x12 → 8x6
    resized = stage("resized").orderBy("input_index").collect()
    assert [r.input_index for r in resized] == [0, 1, 2]
    assert all(
        M.fimg_decode(bytes(r.payload_bin))[:2] == (8, 6) for r in resized
    )
    assert all(r.mime == "image/png" for r in resized)

    # per-segment videos got the (broadcast-filled) narration audio
    va = stage("vid_audio").orderBy("input_index").collect()
    assert len(va) == 3
    for r in va:
        streams = M.fvid_sections(bytes(r.payload_bin), b"AUDI")
        assert len(streams) == 1 and streams[0] == TTS_AUDIO

    # final: ordered concat of 3×1 s@10fps videos, subs muxed per segment
    final = stage("final").collect()
    assert len(final) == 1
    v = bytes(final[0].payload_bin)
    assert M.fvid_meta(v)[3] == 30  # 3 segments × 10 frames
    assert len(M.fvid_sections(v, b"AUDI")) == 1  # concatenated narration
    assert len(M.fvid_sections(v, b"SUBS")) == 3  # muxed, not burned
    rate, samples = M.faud_decode(M.fvid_sections(v, b"AUDI")[0])
    assert len(samples) == 600  # 3 × 2.0 s at 100 Hz


def test_real_png_through_compiled_pipeline(spark, tmp_path):
    # blocks #12/#14 over genuine PNG bytes (zlib+numpy codec, no Pillow):
    # upload → resize → add_text, compiled and stage-stored end-to-end
    from data_pipelines_worker_spark.operators import png_codec as P
    from tests.test_png_codec import grid_png

    runner = PipelineRunner(spark, str(tmp_path / "stages"))
    spec = PipelineSpec(
        slug="real-png",
        blocks=[
            BlockSpec(id="upload_file", slug="up", fan_out=True),
            BlockSpec(
                id="image_resize",
                slug="small",
                # exact-size resize; keep_aspect_ratio now defaults True
                # per config.yaml:139, which would letterbox the 200x100
                input={"width": 60, "height": 40, "keep_aspect_ratio": False},
                bindings=[InputBinding(param="image", origin="up", binary=True)],
            ),
            BlockSpec(
                id="image_add_text",
                slug="titled",
                # explicit style: black ink on an opaque white rect (the
                # config.yaml defaults — black-on-black half-alpha — are
                # covered by test_image_add_text_seeds_reference_defaults)
                input={
                    "text": "HI",
                    "font_size": 7,
                    "text_position": "top-left",
                    "font_color": "#000000",
                    "text_bg_color": "#FFFFFF",
                    "text_bg_alpha": 1.0,
                    "text_bg_all_width": False,
                    "text_bg_margin": 0,
                },
                bindings=[InputBinding(param="image", origin="small", binary=True)],
            ),
        ],
    )
    res = runner.run(
        spec, request_input={"up": {"file": [grid_png(120, 80), grid_png(200, 100)]}}
    )
    rows = res.output.orderBy("input_index").collect()
    assert len(rows) == 2 and all(r.mime == "image/png" for r in rows)
    for r in rows:
        arr = P.png_decode(bytes(r.payload_bin))
        assert arr.shape[:2] == (40, 60)
        corner = arr[:12, :40, 0]
        assert (corner == 0).any() and (corner == 255).any()  # ink + bg rect


def test_non_parallel_block_stage_width_bounded(spark, tmp_path):
    # parallel_available:false blocks (config.yaml:238 etc.) compile to a
    # bounded-width stage: the block's Python task count, read from the
    # run's job group, never exceeds the slot budget, however wide the
    # upstream fan-out. Plan audit for VERDICT item 10.
    from test_job_budget import _group_stages, _python_tasks, _run_in_group

    runner = PipelineRunner(spark, str(tmp_path / "stages"))
    spec = PipelineSpec(
        slug="gated",
        blocks=[
            BlockSpec(id="upload_file", slug="up", fan_out=True),
            BlockSpec(
                id="audio_chunk",
                slug="chunks",
                input={"duration": 1.0, "max_concurrency": 2},
                bindings=[InputBinding(param="audio", origin="up", binary=True)],
            ),
        ],
    )
    audio = [M.faud_encode(100, bytes(110 + i)) for i in range(8)]  # 8-wide fan-out
    res = _run_in_group(
        spark, "width-bounded", lambda: runner.run(spec, request_input={"up": {"file": audio}})
    )
    _, stages = _group_stages(spark, "width-bounded")
    assert _python_tasks(stages) == [2], f"gated block ran {stages}, budget 2"
    assert res.output.count() == 16  # 1.1s → 2 chunks each, semantics intact


def test_upload_file_binary_roundtrip(spark, tmp_path):
    runner = PipelineRunner(spark, str(tmp_path / "stages"))
    spec = PipelineSpec(
        slug="ingest",
        blocks=[
            BlockSpec(id="upload_file", slug="up", fan_out=True),
            BlockSpec(
                id="audio_chunk",
                slug="chunks",
                input={"duration": 1.0},
                bindings=[InputBinding(param="audio", origin="up", binary=True)],
            ),
        ],
    )
    audio = [M.faud_encode(100, bytes(250)), M.faud_encode(100, bytes(120))]
    res = runner.run(spec, request_input={"up": {"file": audio}})
    from data_pipelines_worker_spark.sources import stage_store

    up = stage_store.read_stage(
        spark, runner.store_root, "ingest", res.processing_id, "up"
    ).orderBy("input_index").collect()
    assert [bytes(r.payload_bin) for r in up] == audio
    # 1→N chunking through the compiler: 2.5s→3 chunks, 1.2s→2 chunks
    rows = res.output.orderBy("input_index", "output_index").collect()
    assert [(r.input_index, r.output_index) for r in rows] == [
        (0, 0), (0, 1), (0, 2), (1, 0), (1, 1),
    ]
    assert M.faud_duration(bytes(rows[2].payload_bin)) == pytest.approx(0.5)


# --- real-media flagship: same spec, genuine PNG + PCM WAV payloads ---------

REAL_WAV = None  # built lazily (module import order)
REAL_PNG = None


@pytest.fixture(scope="module")
def real_client():
    from data_pipelines_worker_spark.operators import wav_codec as W
    from tests.test_png_codec import grid_png

    global REAL_WAV, REAL_PNG
    REAL_WAV = W.sine_wav(1000.0, 2.0, rate=8000, channels=1)  # small but real
    REAL_PNG = grid_png(64, 48)

    class H(BaseHTTPRequestHandler):
        def log_message(self, *args):
            pass

        def _send(self, body, ctype):
            self.send_response(200)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_POST(self):
            self.rfile.read(int(self.headers.get("Content-Length", 0)))
            if self.path == "/v1/chat/completions":
                resp = {"choices": [{"message": {"role": "assistant", "content": STORY}}]}
                self._send(json.dumps(resp).encode(), "application/json")
            elif self.path == "/v1/audio/speech":
                self._send(REAL_WAV, "audio/wav")
            elif self.path == "/v1/audio/transcriptions":
                self._send(json.dumps(TRANSCRIPTION).encode(), "application/json")
            elif self.path == "/v1/images/generations":
                resp = {"data": [{"b64_json": base64.b64encode(REAL_PNG).decode()}]}
                self._send(json.dumps(resp).encode(), "application/json")
            else:
                self.send_error(400)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield X.OpenAIClient(
        f"http://127.0.0.1:{srv.server_port}/v1",
        policy=X.RetryPolicy(max_retries=2, retry_delay=0.01),
    )
    srv.shutdown()


@pytest.mark.slowsuite
def test_yt_short_real_media_end_to_end(spark, tmp_path, real_client):
    # the same flagship spec over genuine codec bytes: PNG through the
    # zlib+numpy image kernels, PCM WAV through the wave codec; only the
    # video container stays synthetic (MP4 needs ffmpeg)
    from data_pipelines_worker_spark.operators import png_codec as P
    from data_pipelines_worker_spark.operators import wav_codec as W
    from data_pipelines_worker_spark.sources import stage_store

    runner = PipelineRunner(spark, str(tmp_path / "stages"), openai_client=real_client)
    res = runner.run(yt_short_spec())
    assert res.stopped_at is None
    assert all(s == "completed" for s in res.statuses.values()), res.statuses

    def stage(slug):
        return stage_store.read_stage(
            spark, runner.store_root, "yt-short", res.processing_id, slug
        )

    # TTS produced a real WAV; mime sniffed from RIFF magic at the stage
    tts = stage("tts").first()
    assert W.is_wav(bytes(tts.payload_bin))
    assert W.wav_duration(bytes(tts.payload_bin)) == pytest.approx(2.0)

    # resize ran the real PNG kernel: 64x48 → keep-aspect width 8 → 8x6
    resized = stage("resized").orderBy("input_index").collect()
    assert len(resized) == 3
    for r in resized:
        arr = P.png_decode(bytes(r.payload_bin))
        assert arr.shape[:2] == (6, 8)

    # final video: concatenated narration audio is one valid WAV of 3 x 2 s
    final = bytes(stage("final").first().payload_bin)
    assert M.fvid_meta(final)[3] == 30  # 3 segments x 10 frames
    audi = M.fvid_sections(final, b"AUDI")
    assert len(audi) == 1 and W.is_wav(audi[0])
    assert W.wav_duration(audi[0]) == pytest.approx(6.0)
    assert len(M.fvid_sections(final, b"SUBS")) == 3
