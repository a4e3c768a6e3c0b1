"""External-call operators (SURVEY §2.1 #2-6): ``http_request`` and the four
OpenAI blocks as per-row functions run by ``map_rows``, the Arrow-batched
row-map kernel every map-style block operator (here and in ``media.py``)
goes through.

Reference parity (cites into /root/reference/):

- ``http_request``  block_http.go:60-120 — GET by default (:76-81), 30 s
  client timeout (:89-91), response body streamed out, **non-200 ⇒ error**
  (:114-117).
- retry policy  config/config.yaml:55-59 — exponential backoff, 5 retries,
  base delay 1 s, retryable codes {500, 502, 503, 504}. The reference retries
  at the Processing level (processing.go:200-296); here the retry loop lives
  in the task (same semantics, no driver round-trip).
- ``openai_chat_completion``  block_openai_chat_completion.go:58-145 —
  messages from optional system + user prompt, returns
  ``choices[0].message.content`` (:112-115); ``response_format`` text|json.
- ``openai_tts_request``  block_openai_tts_request.go:33-105 — audio bytes.
- ``openai_transcription_request``  block_openai_transcription_request.go:
  34-110 — multipart upload of the audio payload, verbose JSON out.
- ``openai_image_request``  block_openai_image_request.go:34-105 — b64 image
  decode (:71-75).

Scale notes (100 TB)
--------------------
- ``map_rows`` is the one Python boundary: one ``mapInPandas`` stage per
  block at the session's Arrow batch size, the row function called once
  per row.
- One HTTP client per *task*, requests sequential within a partition: the
  concurrency knob is the partition count. ``parallel_available: false``
  blocks (openai_image, config.yaml:107) → ``df.repartition(n_slots)``
  upstream to bound global concurrency against the API.
- Calls are the slow path by construction; keep them in a dedicated stage so
  Catalyst never duplicates the side effect (no common-subexpression reuse
  across actions — persist or checkpoint the stage output, which the
  pipeline runner's stage store already does).
- ``on_error='keep'`` records (status, error) instead of failing the task:
  at 1000-executor scale one dead URL must not kill a 2-hour stage. The
  reference's fail-fast behavior is ``on_error='fail'`` (default, parity).
"""

from __future__ import annotations

import base64
import json
import time
import urllib.error
import urllib.parse
import urllib.request
import uuid
from dataclasses import dataclass, field
from typing import Callable, Iterable, Iterator, Mapping, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

DEFAULT_TIMEOUT = 30.0  # block_http.go:89-91


@dataclass(frozen=True)
class RetryPolicy:
    """config/config.yaml:55-59 reliability semantics."""

    max_retries: int = 5
    retry_delay: float = 1.0  # seconds, doubled each attempt
    retry_codes: tuple[int, ...] = (500, 502, 503, 504)

    def delay(self, attempt: int) -> float:
        return self.retry_delay * (2**attempt)


class HTTPStatusError(Exception):
    def __init__(self, status: int, body: bytes):
        self.status = status
        self.body = body
        super().__init__(f"HTTP request failed with status code: {status}")


def fetch(
    url: str,
    method: str = "GET",
    headers: Mapping[str, str] | None = None,
    body: bytes | None = None,
    timeout: float = DEFAULT_TIMEOUT,
    policy: RetryPolicy = RetryPolicy(),
) -> tuple[int, bytes, str]:
    """One HTTP exchange with the reference's retry envelope.

    Returns (status, body, content_type). Non-200 terminal status raises
    (block_http.go:114-117); retryable statuses and network errors retry
    with exponential backoff first.
    """
    attempt = 0
    while True:
        try:
            req = urllib.request.Request(
                url, data=body, method=method, headers=dict(headers or {})
            )
            with urllib.request.urlopen(req, timeout=timeout) as resp:
                payload = resp.read()
                status = resp.status
                ctype = resp.headers.get("Content-Type", "")
        except urllib.error.HTTPError as e:  # non-2xx lands here
            payload = e.read()
            status = e.code
            ctype = e.headers.get("Content-Type", "") if e.headers else ""
        except (urllib.error.URLError, TimeoutError, ConnectionError):
            if attempt >= policy.max_retries:
                raise
            time.sleep(policy.delay(attempt))
            attempt += 1
            continue
        if status in policy.retry_codes and attempt < policy.max_retries:
            time.sleep(policy.delay(attempt))
            attempt += 1
            continue
        if status != 200:
            raise HTTPStatusError(status, payload)
        return status, payload, ctype


def map_rows(
    df: DataFrame,
    fn: Callable[[dict], dict | list[dict]],
    fields: Sequence[T.StructField],
    drop: Sequence[str] = (),
) -> DataFrame:
    """The block operators' one Python boundary: an Arrow-batched
    ``mapInPandas`` stage that calls ``fn`` on every input row (a dict of
    all input columns) and stores the values it returns in ``fields``.

    Output schema: the input columns not named in ``fields`` or ``drop``,
    in input order, then ``fields``. ``fn`` returns one dict of new values,
    or, for a 1→N operator, a list of them; every dict becomes one output
    row carrying its input row's pass-through columns, and an empty list
    emits no row."""
    fields = list(fields)
    new = [f.name for f in fields]
    keep = [f for f in df.schema.fields if f.name not in new and f.name not in drop]
    names = [f.name for f in keep]

    def gen(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            take, values = [], []
            for i, r in enumerate(pdf.to_dict("records")):
                res = fn(r)
                for v in [res] if isinstance(res, dict) else res:
                    take.append(i)
                    values.append(v)
            out = pdf[names].iloc[take].reset_index(drop=True)
            for name in new:
                out[name] = [v[name] for v in values]
            yield out

    return df.mapInPandas(gen, T.StructType(keep + fields))


def _row_mapping(value) -> dict[str, str]:
    """Per-row headers/query value → dict. Accepts a map column (dict), a
    JSON-object string column, or null (block_http.go:69-91 binds them as
    JSON objects)."""
    if value is None or (isinstance(value, float) and pd.isna(value)):
        return {}
    if isinstance(value, Mapping):
        return {str(k): str(v) for k, v in value.items()}
    parsed = json.loads(value)
    if not isinstance(parsed, dict):
        raise ValueError(f"expected JSON object, got {type(parsed).__name__}")
    return {str(k): str(v) for k, v in parsed.items()}


def http_request(
    df: DataFrame,
    url_col: str = "url",
    method_col: str | None = None,
    headers: Mapping[str, str] | None = None,
    headers_col: str | None = None,
    query_col: str | None = None,
    body_col: str | None = None,
    timeout: float = DEFAULT_TIMEOUT,
    policy: RetryPolicy = RetryPolicy(),
    on_error: str = "fail",
) -> DataFrame:
    """Fetch a URL column; adds (payload_bin, status, mime, error).

    Per-row request shaping mirrors block_http.go:69-91: ``headers_col`` /
    ``query_col`` bind JSON-object (or map) columns merged per request —
    row headers override the static ``headers`` — ``query_col`` pairs are
    URL-encoded into the query string, and ``body_col`` (string or binary)
    becomes the request body.
    """
    assert on_error in ("fail", "keep")

    def fetch_row(r):
        method = str(r[method_col]) if method_col else "GET"
        try:
            url = str(r[url_col])
            if query_col:
                q = _row_mapping(r.get(query_col))
                if q:
                    sep = "&" if "?" in url else "?"
                    url = url + sep + urllib.parse.urlencode(q)
            req_headers = dict(headers or {})
            if headers_col:
                req_headers.update(_row_mapping(r.get(headers_col)))
            body = None
            if body_col and r.get(body_col) is not None:
                raw = r[body_col]
                body = (
                    bytes(raw)
                    if isinstance(raw, (bytes, bytearray))
                    else str(raw).encode("utf-8")
                )
            status, payload, ctype = fetch(
                url, method, req_headers, body, timeout, policy
            )
            return {
                "payload_bin": payload,
                "status": status,
                "mime": ctype.split(";")[0] or None,
                "error": None,
            }
        except Exception as e:  # noqa: BLE001 - recorded or re-raised
            if on_error == "fail":
                raise
            status = e.status if isinstance(e, HTTPStatusError) else None
            return {
                "payload_bin": None,
                "status": status,
                "mime": None,
                "error": str(e),
            }

    return map_rows(
        df,
        fetch_row,
        [
            T.StructField("payload_bin", T.BinaryType(), True),
            T.StructField("status", T.IntegerType(), True),
            T.StructField("mime", T.StringType(), True),
            T.StructField("error", T.StringType(), True),
        ],
    )


# --- OpenAI-compatible blocks ----------------------------------------------


@dataclass(frozen=True)
class OpenAIClient:
    """Pluggable endpoint (tests point it at a mock server, mirroring the
    reference functional suite's httptest OpenAI impersonation,
    test/functional/pipeline_test.go:371-417)."""

    base_url: str
    api_key: str = "test-key"
    timeout: float = DEFAULT_TIMEOUT
    policy: RetryPolicy = field(default_factory=RetryPolicy)

    def _headers(self, content_type: str | None = "application/json"):
        h = {"Authorization": f"Bearer {self.api_key}"}
        if content_type:
            h["Content-Type"] = content_type
        return h

    def post_json(self, path: str, payload: dict) -> bytes:
        _, body, _ = fetch(
            self.base_url.rstrip("/") + path,
            "POST",
            self._headers(),
            json.dumps(payload).encode(),
            self.timeout,
            self.policy,
        )
        return body

    def post_multipart(self, path: str, fields: dict[str, str], file_field: str, filename: str, file_bytes: bytes) -> bytes:
        boundary = uuid.uuid4().hex
        parts = []
        for k, v in fields.items():
            parts.append(
                f'--{boundary}\r\nContent-Disposition: form-data; name="{k}"\r\n\r\n{v}\r\n'.encode()
            )
        parts.append(
            f'--{boundary}\r\nContent-Disposition: form-data; name="{file_field}"; '
            f'filename="{filename}"\r\nContent-Type: application/octet-stream\r\n\r\n'.encode()
            + file_bytes
            + b"\r\n"
        )
        parts.append(f"--{boundary}--\r\n".encode())
        body = b"".join(parts)
        _, resp, _ = fetch(
            self.base_url.rstrip("/") + path,
            "POST",
            self._headers(f"multipart/form-data; boundary={boundary}"),
            body,
            self.timeout,
            self.policy,
        )
        return resp


def openai_chat_completion(
    df: DataFrame,
    client: OpenAIClient,
    user_prompt_col: str = "user_prompt",
    system_prompt_col: str | None = None,
    model: str = "gpt-4o-mini",
    response_format: str = "text",
) -> DataFrame:
    """choices[0].message.content (block_openai_chat_completion.go:112-115)."""

    def call(r):
        messages = []
        if system_prompt_col and r.get(system_prompt_col):
            messages.append({"role": "system", "content": str(r[system_prompt_col])})
        messages.append({"role": "user", "content": str(r[user_prompt_col])})
        payload = {"model": model, "messages": messages}
        if response_format == "json":
            payload["response_format"] = {"type": "json_object"}
        body = json.loads(client.post_json("/chat/completions", payload))
        return {"completion": body["choices"][0]["message"]["content"]}

    return map_rows(df, call, [T.StructField("completion", T.StringType(), True)])


def openai_tts_request(
    df: DataFrame,
    client: OpenAIClient,
    text_col: str = "text",
    model: str = "tts-1",
    voice: str = "alloy",
    response_format: str = "mp3",
    speed: float = 1.0,
) -> DataFrame:
    def call(r):
        audio = client.post_json(
            "/audio/speech",
            {
                "model": model,
                "voice": voice,
                "input": str(r[text_col]),
                "response_format": response_format,
                "speed": speed,
            },
        )
        return {"payload_bin": audio, "mime": "audio/mpeg"}

    return map_rows(
        df,
        call,
        [
            T.StructField("payload_bin", T.BinaryType(), True),
            T.StructField("mime", T.StringType(), True),
        ],
    )


def openai_transcription_request(
    df: DataFrame,
    client: OpenAIClient,
    audio_col: str = "payload_bin",
    model: str = "whisper-1",
    language: str = "en",
    response_format: str = "verbose_json",
) -> DataFrame:
    """20 MB / 10 min input contract (block_openai_transcription_request.go:112)
    is the API's; enforcement stays with the service."""

    def call(r):
        body = client.post_multipart(
            "/audio/transcriptions",
            {
                "model": model,
                "language": language,
                "response_format": response_format,
            },
            "file",
            "audio.mp3",
            bytes(r[audio_col]),
        )
        return {"transcription": body.decode("utf-8")}

    return map_rows(df, call, [T.StructField("transcription", T.StringType(), True)])


def openai_image_request(
    df: DataFrame,
    client: OpenAIClient,
    prompt_col: str = "prompt",
    quality: str = "standard",
    size: str = "1024x1024",
    model: str = "dall-e-3",
) -> DataFrame:
    """b64_json decode (block_openai_image_request.go:71-75). Rate-bound
    stage: repartition upstream (parallel_available:false, config.yaml:107)."""

    def call(r):
        body = json.loads(
            client.post_json(
                "/images/generations",
                {
                    "model": model,
                    "prompt": str(r[prompt_col]),
                    "quality": quality,
                    "size": size,
                    "response_format": "b64_json",
                },
            )
        )
        return {
            "payload_bin": base64.b64decode(body["data"][0]["b64_json"]),
            "mime": "image/png",
        }

    return map_rows(
        df,
        call,
        [
            T.StructField("payload_bin", T.BinaryType(), True),
            T.StructField("mime", T.StringType(), True),
        ],
    )
