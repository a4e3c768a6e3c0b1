"""Read/control REST shim over the Spark driver — the reference's HTTP API
surface (api/server.go:261-303) re-expressed as a thin stdlib server in
front of the pipeline runner and the stage/status lake.

Endpoints (reference handler cites):

- ``GET  /health``                         HealthHandler
- ``GET  /blocks``                         BlocksHandler (operator registry)
- ``GET  /pipelines``                      PipelinesHandler
- ``GET  /pipelines/<slug>``               PipelineHandler
- ``GET  /pipelines/<slug>/processings``   PipelineProcessingsStatusHandler
  (+ ``?processing_id=`` detail view — path-param variant :278-281)
- ``POST /pipelines/<slug>/start``         PipelineStartHandler
  (api/handlers/pipelines.go:141-183: returns the processing id
  immediately, execution is async — the goroutine becomes a daemon thread)
- ``POST /pipelines/<slug>/resume``        PipelineResumeHandler
  (:195-236: same body + processing_id + block.slug [+ target_index])

Not reimplemented: ``GET /workers`` — worker discovery/handoff belongs to
the cluster manager on Spark (SURVEY §1.1); the endpoint returns the
driver as the single logical worker for API-shape compatibility.

Moderation: a run whose ``fetch_moderation_tg`` gate lacks a decision
raises ``ModerationPending`` and parks at that gate — its record keeps
the request input, the gate slug and the gate's decision cursors, and
nothing else of the run. Decisions are keyed by processing (like the
reference's callback filter, block_fetch_moderation_telegram.go:180-197):
a decision batch resumes only the parked processings it names, and the
gate counts only its own processing's decisions. A resume starts at the
gate through the runner's resume path (``start_slug`` = the gate, no
target index) with the saved cursors, so decisions already consumed stay
consumed and the stages a human reviewed are rehydrated from the lake,
never recomputed; as on every resume, the blocks before the gate then
report ``loaded``.

The server is driver-side control plane only; all data work stays in
Spark jobs. JSON in/out, no framework dependencies.
"""

from __future__ import annotations

import json
import threading
import uuid
from dataclasses import asdict, dataclass
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from ..plans import compiler
from ..plans.compiler import ModerationPending, PipelineRunner, PipelineSpec
from ..sources import run_log


#: decision-event schema shared by the static DataFrame path and the
#: streaming JSON source (same columns the compiler's poll-loop replay
#: consumes, block_fetch_moderation_telegram.go:99-245). A decision names
#: its processing, gate and index, like the reference's callback filter
#: (:180-197).
DECISION_SCHEMA = (
    "processing_id string, block_slug string, input_index long, action string, "
    "event_time long, event_id long, regenerate_block_slug string"
)


class ProcessingRunning(RuntimeError):
    """A start of a processing whose run thread is still alive."""


@dataclass
class _Processing:
    """The service's state for one processing id."""

    slug: str
    thread: threading.Thread
    #: None, a ModerationPending message, or a run or restart error
    error: str | None = None
    #: the last failed transport delivery; None once one succeeds
    delivery_error: str | None = None
    restart_failures: int = 0
    delivery_failures: int = 0
    #: while parked at a moderation gate: what resuming there needs
    request_input: dict | None = None
    gate: str | None = None
    cursors: dict[str, tuple] | None = None


class PipelineService:
    """Registry + async execution state (PipelineRegistry /
    ProcessingRegistry equivalents, types/registries/): one
    ``_Processing`` record per processing id.

    ``decisions_dir`` (optional) activates the live moderation path: a
    Structured Streaming JSON source tails the directory — the Spark
    analogue of the reference's Telegram GetUpdates long-poll — and each
    micro-batch goes through ``add_decisions``.
    """

    #: retry policy for restarting a parked run and for transport
    #: delivery (ADVICE r3): the n-th consecutive failure retries on its
    #: own timer after BACKOFF_BASE_S * 2**(n-1) seconds, so a run whose
    #: resolving decision was the last event, or whose review message is
    #: the only path to a decision, is not stranded; at the cap the error
    #: is terminal
    MAX_RESTART_FAILURES = 3
    MAX_DELIVER_FAILURES = 5
    BACKOFF_BASE_S = 2.0

    def __init__(
        self,
        runner: PipelineRunner,
        pipelines: dict[str, PipelineSpec],
        decisions_dir: str | None = None,
        transport=None,
    ):
        self.runner = runner
        self.pipelines = dict(pipelines)
        #: optional TelegramTransport (operators/telegram.py): when set,
        #: each run's send_message_tg / send_moderation_tg sink records are
        #: delivered over HTTP after the run completes or parks — the
        #: reference's client.Send calls, moved behind the sink substrate
        self.transport = transport
        self.decisions = None  # optional moderation decision DataFrame
        self._lock = threading.Lock()
        self._records: dict[str, _Processing] = {}
        self._decision_rows: list[tuple] = []
        self._decision_version = 0
        self._decision_stream = None
        if decisions_dir:
            self.start_decision_stream(decisions_dir)

    # -- live moderation decisions (VERDICT r2 #8) ---------------------------

    def start_decision_stream(self, path: str, trigger_seconds: float = 1.0):
        """Tail ``path`` as a streaming JSON source of decision events,
        each micro-batch folded in by ``add_decisions``."""
        self._decision_stream = (
            self.runner.spark.readStream.schema(DECISION_SCHEMA)
            .json(path)
            .writeStream.foreachBatch(
                lambda batch_df, _id: self.add_decisions(
                    [tuple(r) for r in batch_df.collect()]
                )
            )
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .queryName("moderation-decisions")
            .start()
        )
        return self._decision_stream

    def stop_decision_stream(self):
        if self._decision_stream is not None:
            self._decision_stream.stop()
            self._decision_stream = None

    def add_decisions(self, rows: list[tuple]) -> None:
        """Fold decision events (``DECISION_SCHEMA`` tuples) into the
        decision log (control-plane scale — the same human-sized table
        the reference polls out of Telegram) and resume, at its gate,
        every parked processing they name. A processing that pends while
        a batch lands resumes itself (the version check in ``_work``)."""
        from ..session import local_df

        if not rows:
            return
        with self._lock:
            self._decision_rows.extend(rows)
            self.decisions = local_df(
                self.runner.spark, list(self._decision_rows), DECISION_SCHEMA
            )
            self._decision_version += 1
        for pid in dict.fromkeys(r[0] for r in rows):
            self._resume(pid)

    def _resume(self, pid: str) -> None:
        """Restart a parked processing at its gate. Claiming the parked
        state under the lock lets a decision batch and a backoff timer
        race for it harmlessly."""
        with self._lock:
            rec = self._records.get(pid)
            if rec is None or rec.gate is None:
                return
            req, gate = rec.request_input, rec.gate
            rec.request_input = rec.gate = None
        # the parked run's thread may still be returning from its park
        rec.thread.join()
        try:
            self.start(rec.slug, request_input=req, processing_id=pid, start_slug=gate)
            rec.restart_failures = 0
        except ProcessingRunning:
            # a start that landed since the claim superseded the park; its
            # run sees these decisions (the version check in ``_work``)
            return
        except Exception as e:  # noqa: BLE001
            # a failed restart (slug dropped, thread pressure) must not
            # lose the run or kill the decision stream
            rec.restart_failures = n = rec.restart_failures + 1
            if n >= self.MAX_RESTART_FAILURES:
                rec.cursors = None
                rec.error = (
                    f"restart failed permanently after {n} attempts: "
                    f"{type(e).__name__}: {e}"
                )
                return
            with self._lock:
                rec.request_input, rec.gate = req, gate
            rec.error = f"restart failed (attempt {n}): {type(e).__name__}: {e}"
            self._retry_later(n, self._resume, pid)

    def _retry_later(self, attempt: int, fn, *args) -> None:
        """Call ``fn(*args)`` on a daemon timer, after the exponential
        backoff of the ``attempt``-th consecutive failure."""
        timer = threading.Timer(self.BACKOFF_BASE_S * 2 ** (attempt - 1), fn, args)
        timer.daemon = True
        timer.start()

    # -- async execution (pipeline.go:204 goroutine → daemon thread) --------

    def start(
        self,
        slug: str,
        request_input: dict | None = None,
        processing_id: str | None = None,
        start_slug: str | None = None,
        target_index: int | None = None,
    ) -> str:
        """Run a processing on a daemon thread; returns its id at once.
        A start supersedes the processing's parked state, keeping its
        decision cursors; a start of a running processing raises
        ``ProcessingRunning`` (two runs would write the same stages)."""
        spec = self.pipelines[slug]
        pid = processing_id or uuid.uuid4().hex[:12]
        with self._lock:
            rec = self._records.get(pid)
            if rec is not None and rec.thread.is_alive():
                raise ProcessingRunning(f"processing {pid} is running")
            cursors = rec.cursors if rec is not None else None
            t = threading.Thread(
                target=self._work,
                args=(spec, pid, request_input, start_slug, target_index, cursors),
                daemon=True,
            )
            # the thread reads its record under this lock, so registering
            # it after start() still precedes every use
            t.start()
            if rec is None:
                rec = self._records[pid] = _Processing(slug, t)
            rec.slug, rec.thread = slug, t
            rec.request_input = rec.gate = rec.cursors = None
        return pid

    def _work(self, spec, pid, request_input, start_slug, target_index, cursors):
        while True:
            with self._lock:
                rec = self._records[pid]
                version, decisions = self._decision_version, self.decisions
            try:
                self.runner.run(
                    spec,
                    request_input=request_input,
                    processing_id=pid,
                    start_slug=start_slug,
                    target_index=target_index,
                    decisions=decisions,
                    cursors=cursors,
                )
            except ModerationPending as e:  # recorded status: waiting
                rec.error = str(e)
                # the review block completed before the gate pended — its
                # sink records must reach the chat now, or the human never
                # sees the buttons that unpark the run
                self._deliver(spec, pid)
                start_slug, target_index, cursors = e.block_slug, None, e.cursors
                with self._lock:
                    # park at the gate for add_decisions to resume, unless
                    # decisions advanced mid-run: then resume there now
                    if self._decision_version == version:
                        rec.request_input, rec.gate = request_input, start_slug
                        rec.cursors = cursors
                        return
                continue
            except Exception as e:  # noqa: BLE001 - surfaced via API
                rec.error = f"{type(e).__name__}: {e}"
                return
            rec.error = None
            self._deliver(spec, pid)
            return

    def _deliver(self, spec: PipelineSpec, pid: str) -> None:
        """Push this run's Telegram sink records through the transport
        (no-op without one). The sink stage is durable and the transport
        sends each record once, so a failed delivery retries on its own
        backoff: a pending run's review message is the only path to the
        decision that would re-drive it."""
        if self.transport is None:
            return
        rec = self._records[pid]
        try:
            self.transport.deliver_processing(self.runner, spec, pid)
            rec.delivery_failures, rec.delivery_error = 0, None
        except Exception as e:  # noqa: BLE001
            rec.delivery_failures = n = rec.delivery_failures + 1
            # kept apart from the run's own error (pending marker or
            # pipeline error), which a delivery retry must not clear
            rec.delivery_error = (
                f"transport delivery failed (attempt {n}): {type(e).__name__}: {e}"
            )
            if n < self.MAX_DELIVER_FAILURES:
                self._retry_later(n, self._deliver, spec, pid)

    def wait(self, processing_id: str, timeout: float | None = None) -> bool:
        rec = self._records.get(processing_id)
        if rec is None:
            return True
        rec.thread.join(timeout)
        return not rec.thread.is_alive()

    def processings(self, slug: str, processing_id: str | None = None) -> list[dict]:
        root = self.runner.store_root
        ids = (
            [processing_id]
            if processing_id
            else run_log.list_processings(self.runner.spark, root, slug)
        )
        out = []
        for pid in ids:
            try:
                rows = run_log.read_statuses(self.runner.spark, root, slug, pid).collect()
            except run_log.NoStatus:
                continue
            blocks = sorted(
                (
                    {
                        "block_slug": r["block_slug"],
                        "position": r["position"],
                        "status": r["status"],
                    }
                    for r in rows
                ),
                key=lambda b: b["position"],
            )
            rec = self._records.get(pid)
            out.append(
                {
                    "processing_id": pid,
                    "running": not self.wait(pid, timeout=0.0),
                    "stopped_at": rows[0]["stopped_at"] if rows else None,
                    "error": rec.error if rec else None,
                    "delivery_error": rec.delivery_error if rec else None,
                    "blocks": blocks,
                }
            )
        return out


def _spec_json(spec: PipelineSpec) -> dict:
    return {"slug": spec.slug, "blocks": [asdict(b) for b in spec.blocks]}


#: multipart memory cap — ParseMultipartForm(10 << 20),
#: api/handlers/pipelines.go:155
MULTIPART_MAX_BYTES = 10 << 20


class MultipartError(ValueError):
    pass


def _parse_multipart(content_type: str, body: bytes) -> tuple[dict, dict]:
    """``multipart/form-data`` body → (form fields, file parts).

    Mirrors the reference's binding (api/schemas/pipelines.go:79-151):
    text fields keep every value (``field[]`` arrays need them all), file
    parts keep the first file per key as raw bytes. stdlib ``email``
    parser — no framework dependency, same as the rest of the shim.
    """
    from email.parser import BytesParser

    msg = BytesParser().parsebytes(
        b"Content-Type: " + content_type.encode() + b"\r\n\r\n" + body
    )
    if not msg.is_multipart():
        raise MultipartError("unable to parse multipart form")
    form: dict[str, list[str]] = {}
    files: dict[str, bytes] = {}
    for part in msg.get_payload():
        name = part.get_param("name", header="content-disposition")
        if name is None:
            continue
        payload = part.get_payload(decode=True) or b""
        if part.get_filename() is not None:
            files.setdefault(name, payload)  # first file per key (:213)
        else:
            form.setdefault(name, []).append(payload.decode("utf-8", "replace"))
    return form, files


def _bind_multipart_start(form: dict, files: dict) -> dict:
    """Form/file maps → the JSON-start body shape (pipeline.slug,
    pipeline.processing_id, block.slug/target_index, block.input.*).

    ``block.input.field[]`` gathers all values as an array
    (pipelines.go:117-124); file parts bind raw bytes (:129-151) — the
    compiler accepts both (InputBinding format:"file")."""
    if not form.get("block.slug", [""])[0]:
        raise MultipartError("block.slug is missing")
    block: dict = {"slug": form["block.slug"][0]}
    if form.get("block.target_index", [""])[0]:
        try:
            block["target_index"] = int(form["block.target_index"][0])
        except ValueError as e:
            raise MultipartError(f"invalid block.target_index: {e}") from e
    inputs: dict = {}
    for key, values in form.items():
        if not key.startswith("block.input."):
            continue
        field = key[len("block.input.") :]
        if field.endswith("[]"):
            inputs[field[:-2]] = list(values)
        else:
            inputs[field] = values[0]
    for key, payload in files.items():
        if key.startswith("block.input."):
            inputs[key[len("block.input.") :]] = payload
    pipeline: dict = {}
    if form.get("pipeline.processing_id", [""])[0]:
        pipeline["processing_id"] = form["pipeline.processing_id"][0]
    return {
        "block": {**block, "input": inputs},
        "pipeline": pipeline,
        "input": {block["slug"]: inputs},
    }


def _index(value) -> int:
    """A JSON ``block.target_index``: a non-negative integer, or a string
    of one."""
    if isinstance(value, bool) or not isinstance(value, (int, str)):
        raise ValueError(f"{value!r} is not an integer")
    if (index := int(value)) < 0:
        raise ValueError(f"{index} is negative")
    return index


class _Handler(BaseHTTPRequestHandler):
    service: PipelineService  # injected by serve()

    def log_message(self, *args):
        pass

    def _json(self, payload, status: int = 200):
        body = json.dumps(payload).encode()
        self.send_response(status)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):
        url = urlparse(self.path)
        parts = [p for p in url.path.split("/") if p]
        svc = self.service
        if parts == ["health"]:
            return self._json({"status": "ok"})
        if parts == ["blocks"]:
            return self._json({"blocks": sorted(compiler.BLOCK_IDS)})
        if parts == ["workers"]:
            return self._json({"workers": [{"id": "spark-driver", "available": True}]})
        if parts == ["pipelines"]:
            return self._json(
                {"pipelines": [_spec_json(s) for s in svc.pipelines.values()]}
            )
        if len(parts) == 2 and parts[0] == "pipelines":
            spec = svc.pipelines.get(parts[1])
            if spec is None:
                return self._json({"error": "unknown pipeline"}, 404)
            return self._json(_spec_json(spec))
        if len(parts) == 3 and parts[0] == "pipelines" and parts[2] == "processings":
            if parts[1] not in svc.pipelines:
                return self._json({"error": "unknown pipeline"}, 404)
            q = parse_qs(url.query)
            pid = q.get("processing_id", [None])[0]
            return self._json({"processings": svc.processings(parts[1], pid)})
        return self._json({"error": "not found"}, 404)

    def do_POST(self):
        url = urlparse(self.path)
        parts = [p for p in url.path.split("/") if p]
        svc = self.service
        n = int(self.headers.get("Content-Length", 0))
        ctype = self.headers.get("Content-Type", "application/json")
        if ctype.startswith("multipart/form-data"):
            # reference caps the parsed form at 10 MiB
            # (ParseMultipartForm(10 << 20), api/handlers/pipelines.go:155)
            if n > MULTIPART_MAX_BYTES:
                self.rfile.read(n)
                return self._json({"error": "multipart form too large"}, 400)
            try:
                form, file_parts = _parse_multipart(ctype, self.rfile.read(n))
                body = _bind_multipart_start(form, file_parts)
            except MultipartError as e:
                return self._json({"error": str(e)}, 400)
        else:
            try:
                body = json.loads(self.rfile.read(n) or b"{}")
            except json.JSONDecodeError:
                return self._json({"error": "invalid JSON"}, 400)
        if len(parts) == 3 and parts[0] == "pipelines" and parts[2] in ("start", "resume"):
            slug = parts[1]
            if slug not in svc.pipelines:
                return self._json({"error": "unknown pipeline"}, 404)
            block = body.get("block") or {}
            pipeline = body.get("pipeline") or {}
            if parts[2] == "resume" and not (
                pipeline.get("processing_id") and block.get("slug")
            ):
                return self._json(
                    {"error": "resume needs pipeline.processing_id and block.slug"}, 400
                )
            start_slug, target = block.get("slug"), block.get("target_index")
            if start_slug is not None and start_slug not in [
                b.slug for b in svc.pipelines[slug].blocks
            ]:
                return self._json({"error": f"unknown block.slug {start_slug!r}"}, 400)
            if target is not None:
                try:
                    target = _index(target)
                except ValueError as e:
                    return self._json({"error": f"invalid block.target_index: {e}"}, 400)
            try:
                pid = svc.start(
                    slug,
                    request_input=body.get("input") or {},
                    processing_id=pipeline.get("processing_id"),
                    start_slug=start_slug,
                    target_index=target,
                )
            except ProcessingRunning as e:
                return self._json({"error": str(e)}, 409)
            # async contract (pipeline.go:640): id now, status via GET
            return self._json({"processing_id": pid}, 202)
        return self._json({"error": "not found"}, 404)


def serve(service: PipelineService, port: int = 0) -> ThreadingHTTPServer:
    """Start the API server on a daemon thread; returns the server (use
    ``.server_port``; ``.shutdown()`` to stop)."""
    handler = type("BoundHandler", (_Handler,), {"service": service})
    srv = ThreadingHTTPServer(("127.0.0.1", port), handler)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv
