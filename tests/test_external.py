"""External operator tests: http_request retry/error envelope + the four
OpenAI blocks against a local mock server (mirrors the reference's httptest
impersonation, test/functional/pipeline_test.go:371-417)."""

from __future__ import annotations

import base64
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import functions as F

from data_pipelines_worker_spark.operators import external as X
from data_pipelines_worker_spark.operators import media as M

FAST = X.RetryPolicy(max_retries=3, retry_delay=0.01)

TRANSCRIPTION = {
    "task": "transcribe",
    "language": "english",
    "duration": 12.5,
    "segments": [
        {"id": 0, "seek": 0, "start": 0.0, "end": 6.0, "text": " Yesterday"},
        {"id": 1, "seek": 0, "start": 6.0, "end": 12.5, "text": " all my troubles"},
    ],
    "text": "Yesterday all my troubles",
}


#: model named by every chat completion request the mock server received
CHAT_MODELS: list[str] = []


class _Handler(BaseHTTPRequestHandler):
    def log_message(self, *args):  # quiet
        pass

    def _send(self, status: int, body: bytes, ctype="text/plain"):
        self.send_response(status)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):
        if self.path == "/ok":
            self._send(200, b"hello world")
        elif self.path == "/flaky":
            with self.server.lock:
                self.server.flaky_calls += 1
                n = self.server.flaky_calls
            if n <= 2:
                self._send(503, b"unavailable")
            else:
                self._send(200, b"recovered")
        elif self.path == "/missing":
            self._send(404, b"nope")
        else:
            self._send(400, b"bad path")

    def do_POST(self):
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        if self.path.startswith("/echo"):
            # reflect method/query/headers/body so per-row binding is checkable
            resp = {
                "path": self.path,
                "body": body.decode("utf-8"),
                "x_row": self.headers.get("X-Row"),
                "x_static": self.headers.get("X-Static"),
                "content_type": self.headers.get("Content-Type"),
            }
            self._send(200, json.dumps(resp).encode(), "application/json")
        elif self.path == "/v1/chat/completions":
            req = json.loads(body)
            CHAT_MODELS.append(req["model"])
            user = [m for m in req["messages"] if m["role"] == "user"][-1]["content"]
            sys_n = len([m for m in req["messages"] if m["role"] == "system"])
            resp = {
                "choices": [
                    {"message": {"role": "assistant", "content": f"Re[{sys_n}]: {user}"}}
                ]
            }
            self._send(200, json.dumps(resp).encode(), "application/json")
        elif self.path == "/v1/audio/speech":
            req = json.loads(body)
            self._send(200, b"tts-content:" + req["input"].encode(), "audio/mpeg")
        elif self.path == "/v1/audio/transcriptions":
            assert b"whisper-1" in body and b"audio.mp3" in body
            self._send(200, json.dumps(TRANSCRIPTION).encode(), "application/json")
        elif self.path == "/v1/images/generations":
            req = json.loads(body)
            img = M.fimg_encode(4, 4, bytes(16))
            resp = {"data": [{"b64_json": base64.b64encode(img).decode()}]}
            assert req["response_format"] == "b64_json"
            self._send(200, json.dumps(resp).encode(), "application/json")
        else:
            self._send(400, b"bad path")


@pytest.fixture(scope="module")
def server():
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    srv.flaky_calls = 0
    srv.lock = threading.Lock()
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


class TestFetchKernel:
    def test_ok(self, server):
        status, body, ctype = X.fetch(server + "/ok", policy=FAST)
        assert (status, body) == (200, b"hello world")
        assert ctype.startswith("text/plain")

    def test_retry_then_recover(self, server):
        # 503 twice → exponential backoff → success (config.yaml:55-59)
        status, body, _ = X.fetch(server + "/flaky", policy=FAST)
        assert (status, body) == (200, b"recovered")

    def test_non200_raises(self, server):
        with pytest.raises(X.HTTPStatusError) as e:
            X.fetch(server + "/missing", policy=FAST)
        assert e.value.status == 404  # block_http.go:114-117

    def test_connection_error_exhausts_retries(self):
        with pytest.raises(Exception):
            X.fetch(
                "http://127.0.0.1:1/unreachable",
                policy=X.RetryPolicy(max_retries=1, retry_delay=0.01),
            )


class TestSparkOps:
    def test_http_request_keep_errors(self, spark, server):
        df = spark.createDataFrame(
            [(0, server + "/ok"), (1, server + "/missing")], "input_index long, url string"
        )
        rows = (
            X.http_request(df, policy=FAST, on_error="keep")
            .orderBy("input_index")
            .collect()
        )
        assert bytes(rows[0].payload_bin) == b"hello world"
        assert rows[0].status == 200 and rows[0].mime == "text/plain"
        assert rows[1].payload_bin is None and rows[1].status == 404
        assert "404" in rows[1].error

    def test_http_request_fail_fast(self, spark, server):
        df = spark.createDataFrame([(server + "/missing",)], "url string")
        with pytest.raises(Exception, match="404"):
            X.http_request(df, policy=FAST, on_error="fail").collect()

    def test_http_request_binds_body_query_headers(self, spark, server):
        # block_http.go:69-91: headers/query/body bound per request row
        df = spark.createDataFrame(
            [
                (0, server + "/echo", "POST", '{"a": "1", "b": "x y"}',
                 '{"X-Row": "r0"}', "payload zero"),
                (1, server + "/echo?k=v", "POST", '{"c": "2"}', None, "payload one"),
            ],
            "input_index long, url string, method string, query string, "
            "hdrs string, body string",
        )
        rows = (
            X.http_request(
                df,
                method_col="method",
                headers={"X-Static": "s"},
                headers_col="hdrs",
                query_col="query",
                body_col="body",
                policy=FAST,
            )
            .orderBy("input_index")
            .collect()
        )
        e0 = json.loads(bytes(rows[0].payload_bin))
        assert e0["path"] == "/echo?a=1&b=x+y"  # urlencoded query pairs
        assert e0["body"] == "payload zero"
        assert e0["x_row"] == "r0" and e0["x_static"] == "s"
        e1 = json.loads(bytes(rows[1].payload_bin))
        assert e1["path"] == "/echo?k=v&c=2"  # appended to existing query
        assert e1["body"] == "payload one" and e1["x_row"] is None

    def test_chat_completion(self, spark, server):
        client = X.OpenAIClient(server + "/v1", policy=FAST)
        df = spark.createDataFrame(
            [("be brief", "hi"), (None, "yo")],
            "system_prompt string, user_prompt string",
        )
        rows = (
            X.openai_chat_completion(df, client, system_prompt_col="system_prompt")
            .orderBy("user_prompt")
            .collect()
        )
        assert rows[0].completion == "Re[1]: hi"  # system prompt attached
        assert rows[1].completion == "Re[0]: yo"  # optional system omitted

    def test_tts_then_transcription_roundtrip(self, spark, server):
        client = X.OpenAIClient(server + "/v1", policy=FAST)
        df = spark.createDataFrame([("sing me a song",)], "text string")
        tts = X.openai_tts_request(df, client)
        rows = tts.collect()
        assert bytes(rows[0].payload_bin) == b"tts-content:sing me a song"
        assert rows[0].mime == "audio/mpeg"

        tr = X.openai_transcription_request(tts, client).collect()
        doc = json.loads(tr[0].transcription)
        assert [s["text"] for s in doc["segments"]] == [
            " Yesterday",
            " all my troubles",
        ]

    def test_image_request_b64_decode(self, spark, server):
        client = X.OpenAIClient(server + "/v1", policy=FAST)
        df = spark.createDataFrame([("a blue square",)], "prompt string")
        rows = X.openai_image_request(df.repartition(1), client).collect()
        assert M.fimg_decode(bytes(rows[0].payload_bin))[:2] == (4, 4)
        assert rows[0].mime == "image/png"


def test_hand_built_chat_block_sends_the_default_model(spark, server, tmp_path):
    # a block built in code gets the config defaults a pipeline document
    # gets: the default model and the default system prompt
    from data_pipelines_worker_spark.plans.compiler import (
        BlockSpec,
        PipelineRunner,
        PipelineSpec,
    )

    spec = PipelineSpec(
        slug="chat",
        blocks=[
            BlockSpec(
                id="openai_chat_completion", slug="story", input={"user_prompt": "hi"}
            )
        ],
    )
    client = X.OpenAIClient(server + "/v1", policy=FAST)
    runner = PipelineRunner(spark, str(tmp_path), openai_client=client)
    CHAT_MODELS.clear()
    res = runner.run(spec)
    assert CHAT_MODELS == ["gpt-4o-2024-08-06"]
    assert res.output.first().payload_str == "Re[1]: hi"


def test_request_model_overrides_static_model(spark, server, tmp_path):
    # input priority request > static (pipeline.go:281-305): the frame
    # adapter sends the request's model, not the block's
    from data_pipelines_worker_spark.plans.compiler import (
        BlockSpec,
        PipelineRunner,
        PipelineSpec,
    )

    spec = PipelineSpec(
        slug="chat-override",
        blocks=[
            BlockSpec(
                id="openai_chat_completion",
                slug="story",
                input={"user_prompt": "hi", "model": "gpt-4o-mini"},
            )
        ],
    )
    client = X.OpenAIClient(server + "/v1", policy=FAST)
    runner = PipelineRunner(spark, str(tmp_path), openai_client=client)
    CHAT_MODELS.clear()
    res = runner.run(spec, request_input={"story": {"model": "gpt-4.1"}})
    assert CHAT_MODELS == ["gpt-4.1"]
    assert res.output.first().payload_str == "Re[1]: hi"
