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

The server is driver-side control plane only; all data work stays in
Spark jobs. JSON in/out, no framework dependencies.
"""

from __future__ import annotations

import json
import threading
import time
import uuid
from dataclasses import asdict
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from ..plans import compiler
from ..plans.compiler import ModerationPending, PipelineRunner, PipelineSpec
from ..sources import run_log


#: decision-event schema shared by the static DataFrame path and the
#: streaming JSON source (same columns the compiler's poll-loop replay
#: consumes, block_fetch_moderation_telegram.go:99-245)
DECISION_SCHEMA = (
    "block_slug string, input_index long, action string, event_time long, "
    "event_id long, regenerate_block_slug string"
)


class PipelineService:
    """Registry + async execution state (PipelineRegistry /
    ProcessingRegistry equivalents, types/registries/).

    ``decisions_dir`` (optional) activates the live moderation path: a
    Structured Streaming JSON source tails the directory — the Spark
    analogue of the reference's Telegram GetUpdates long-poll — and each
    micro-batch folds into the decision log and re-drives any processing
    parked in ``waiting_moderation``.
    """

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
        self._threads: dict[str, threading.Thread] = {}
        self._errors: dict[str, str] = {}
        self._lock = threading.Lock()
        self._decision_rows: list[tuple] = []
        self._decision_version = 0
        #: parked moderation-pending runs: pid -> full restart context
        self._pending: dict[str, tuple[str, dict | None, str | None, int | None]] = {}
        #: consecutive failed restarts per parked run (ADVICE r3: a
        #: permanently-failing restart must reach a terminal error state
        #: instead of retrying on every decision batch forever)
        self._restart_failures: dict[str, int] = {}
        self._deliver_failures: dict[str, int] = {}
        self._delivery_errors: dict[str, str] = {}
        self._decision_stream = None
        if decisions_dir:
            self.start_decision_stream(decisions_dir)

    # -- live moderation decisions (VERDICT r2 #8) ---------------------------

    def start_decision_stream(self, path: str, trigger_seconds: float = 1.0):
        """Tail ``path`` as a streaming JSON source of decision events.

        foreachBatch folds each micro-batch into the accumulated decision
        log (control-plane scale — the same human-sized table the
        reference polls out of Telegram) and resumes every parked
        processing; a processing that pends *while* a batch lands retries
        itself via the version counter in ``start()``."""
        from ..session import local_df

        spark = self.runner.spark

        def on_batch(batch_df, _batch_id):
            rows = [tuple(r) for r in batch_df.collect()]
            if not rows:
                return
            with self._lock:
                self._decision_rows.extend(rows)
                self.decisions = local_df(
                    spark, list(self._decision_rows), DECISION_SCHEMA
                )
                self._decision_version += 1
                # claim every parked run by popping it under the lock: the
                # parking thread inserted it under this same lock right
                # before returning, so no aliveness check is needed (an
                # is_alive() filter raced the short window between insert
                # and thread exit, leaving runs parked forever)
                parked = [
                    (pid, slug, req, start_slug, target_index)
                    for pid, (slug, req, start_slug, target_index) in self._pending.items()
                ]
                self._pending.clear()
            for parked_run in parked:
                self._try_restart(parked_run)

        self._decision_stream = (
            spark.readStream.schema(DECISION_SCHEMA)
            .json(path)
            .writeStream.foreachBatch(on_batch)
            .trigger(processingTime=f"{trigger_seconds} seconds")
            .queryName("moderation-decisions")
            .start()
        )
        return self._decision_stream

    #: restart-failure policy (ADVICE r3): after MAX_RESTART_FAILURES
    #: consecutive failures the run reaches a terminal error state; before
    #: that, every failure also schedules its own deferred retry with
    #: exponential backoff, so a run whose resolving decision was the
    #: *last* event isn't stranded waiting for another decision batch.
    MAX_RESTART_FAILURES = 3
    RESTART_BACKOFF_BASE_S = 2.0

    def _try_restart(self, parked_run: tuple) -> None:
        pid, slug, req, start_slug, target_index = parked_run
        try:
            self.start(
                slug,
                request_input=req,
                processing_id=pid,
                start_slug=start_slug,
                target_index=target_index,
            )
            self._restart_failures.pop(pid, None)
        except Exception as e:  # noqa: BLE001
            # a failed restart (slug dropped, thread pressure) must not
            # lose the run or kill the decision stream
            n = self._restart_failures.get(pid, 0) + 1
            self._restart_failures[pid] = n
            if n >= self.MAX_RESTART_FAILURES:
                # terminal: stop re-parking; the error string is the
                # processing's final status
                self._errors[pid] = (
                    f"restart failed permanently after {n} attempts: "
                    f"{type(e).__name__}: {e}"
                )
                return
            with self._lock:
                self._pending[pid] = (slug, req, start_slug, target_index)
            self._errors[pid] = f"restart failed (attempt {n}): {type(e).__name__}: {e}"
            timer = threading.Timer(
                self.RESTART_BACKOFF_BASE_S * (2 ** (n - 1)),
                self._retry_parked,
                args=(pid,),
            )
            timer.daemon = True
            timer.start()

    def _retry_parked(self, pid: str) -> None:
        """Deferred-retry path: re-attempt one parked run independently of
        future decision batches (it may have been claimed by a batch in
        the meantime — popping under the lock makes that race benign)."""
        with self._lock:
            ctx = self._pending.pop(pid, None)
        if ctx is not None:
            self._try_restart((pid, *ctx))

    def stop_decision_stream(self):
        if self._decision_stream is not None:
            self._decision_stream.stop()
            self._decision_stream = None

    # -- async execution (pipeline.go:204 goroutine → daemon thread) --------

    def start(
        self,
        slug: str,
        request_input: dict | None = None,
        processing_id: str | None = None,
        start_slug: str | None = None,
        target_index: int | None = None,
    ) -> str:
        spec = self.pipelines[slug]
        processing_id = processing_id or uuid.uuid4().hex[:12]

        def work():
            while True:
                with self._lock:
                    version = self._decision_version
                    decisions = self.decisions
                try:
                    self.runner.run(
                        spec,
                        request_input=request_input,
                        processing_id=processing_id,
                        start_slug=start_slug,
                        target_index=target_index,
                        decisions=decisions,
                    )
                    with self._lock:
                        self._pending.pop(processing_id, None)
                    self._errors.pop(processing_id, None)
                    self._deliver_sinks(spec, processing_id)
                    return
                except ModerationPending as e:  # recorded status: waiting
                    self._errors[processing_id] = str(e)
                    # the review block completed before the gate pended —
                    # its sink records must reach the chat now, or the
                    # human never sees the buttons that unpark the run
                    self._deliver_sinks(spec, processing_id)
                    with self._lock:
                        # decisions advanced mid-run → replay immediately;
                        # else park for the stream's on_batch to resume
                        if self._decision_version == version:
                            # park with the FULL restart context: dropping
                            # start_slug/target_index here made a resumed
                            # pipeline replay from block 0 on decision
                            self._pending[processing_id] = (
                                slug, request_input, start_slug, target_index
                            )
                            return
                except Exception as e:  # noqa: BLE001 - surfaced via API
                    self._errors[processing_id] = f"{type(e).__name__}: {e}"
                    return

        t = threading.Thread(target=work, daemon=True)
        self._threads[processing_id] = t
        t.start()
        return processing_id

    #: delivery-failure policy (mirrors the restart policy): a pending
    #: run's review message IS the only path to a decision, so a failed
    #: delivery schedules its own backoff retries instead of waiting for
    #: a decision batch that can never arrive
    MAX_DELIVER_FAILURES = 5
    DELIVER_BACKOFF_BASE_S = 2.0

    def _deliver_sinks(self, spec: PipelineSpec, processing_id: str) -> None:
        """Push this run's Telegram sink records through the transport
        (no-op without one). Delivery failures surface via the status API
        and schedule their own deferred retries with exponential backoff —
        the sink stage is durable and the transport is idempotent per
        (processing, block, index), so retrying is always safe. Without a
        retry path, one transient transport failure on a ModerationPending
        run would strand it forever (the approve/decline buttons never
        reach the chat, so the decision that re-drives delivery never
        comes)."""
        if self.transport is None:
            return
        try:
            self.transport.deliver_processing(self.runner, spec, processing_id)
            self._deliver_failures.pop(processing_id, None)
            self._delivery_errors.pop(processing_id, None)
        except Exception as e:  # noqa: BLE001
            n = self._deliver_failures.get(processing_id, 0) + 1
            self._deliver_failures[processing_id] = n
            msg = f"transport delivery failed (attempt {n}): {type(e).__name__}: {e}"
            # delivery failures live ONLY in _delivery_errors (surfaced as
            # the status API's delivery_error field): _errors carries the
            # run's own state (ModerationPending marker / pipeline error),
            # and a delivery message written there would both outlive a
            # successful retry (the success path pops only the delivery
            # maps) and make later failures look error-routed
            self._delivery_errors[processing_id] = msg
            if n < self.MAX_DELIVER_FAILURES:
                timer = threading.Timer(
                    self.DELIVER_BACKOFF_BASE_S * (2 ** (n - 1)),
                    self._deliver_sinks,
                    args=(spec, processing_id),
                )
                timer.daemon = True
                timer.start()

    def wait(self, processing_id: str, timeout: float | None = None) -> bool:
        t = self._threads.get(processing_id)
        if t is None:
            return True
        # start() registers the thread in _threads BEFORE t.start() (so a
        # wait issued right after start() returns never misses the run);
        # the cost is a window where join() would raise "cannot join
        # thread before it is started" — spin past it instead of racing
        deadline = None if timeout is None else time.monotonic() + timeout
        while t.ident is None:
            if deadline is not None and time.monotonic() >= deadline:
                return False
            time.sleep(0.005)
        t.join(
            None if deadline is None else max(0.0, deadline - time.monotonic())
        )
        return not t.is_alive()

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
            except Exception:  # noqa: BLE001 - not yet written
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
            out.append(
                {
                    "processing_id": pid,
                    "running": not self.wait(pid, timeout=0.0),
                    "stopped_at": rows[0]["stopped_at"] if rows else None,
                    "error": self._errors.get(pid),
                    "delivery_error": self._delivery_errors.get(pid),
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
            target = block.get("target_index")
            pid = svc.start(
                slug,
                request_input=body.get("input") or {},
                processing_id=pipeline.get("processing_id"),
                start_slug=block.get("slug"),
                target_index=None if target is None else int(target),
            )
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
