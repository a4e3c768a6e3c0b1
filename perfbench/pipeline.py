"""``pipeline_api`` workload: the REST service over one session.

The ``api.server`` service is hosted in-process over one Spark session,
with a mock OpenAI server that adds a fixed delay to every request and the
fake-container media codecs. A closed loop of client threads (one per core)
runs a fixed mix of four operations against it, inputs and order seeded:

- start a yt-short spine (10 blocks, seeded fan-out width);
- start a wrap-join text fan-out (seeded width);
- resume an earlier yt-short run at one fan-out index (``target_index``):
  the stage-lake read + merge + rewrite path;
- GET the status of an earlier processing.

Stage-lake writes (starts) run beside reads (resumes, status), so a gain on
one that costs the other shows. No catalogue-sized data is involved.
"""

from __future__ import annotations

import base64
import json
import os
import queue
import random
import re
import statistics
import threading
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from . import procstat, stats, trace

SPECS_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "specs")
#: mock OpenAI latency per request (s)
MOCK_DELAY_S = 0.02
#: fan-out widths: every pass uses each width the same number of times,
#: in seeded order, so passes of different seeds do equal work
YT_WIDTHS = (2, 3, 4)
WJ_WIDTHS = (4, 8, 12, 16)
#: operations per pass: the heavy ops (yt-short starts and resumes) and the
#: light ones (wrap-join starts and status reads) are dealt evenly over the
#: clients, so every pass runs under the same contention pattern
PASS_HEAVY = ("yt_short", "yt_short", "yt_short", "resume")
PASS_LIGHT = ("wrap_join", "status") * 4
#: completed yt-short runs the resumes draw from
RESUME_POOL = 1
#: seconds one pass takes on a 4-core host
NOMINAL_PASS_S = 12.0
#: seconds between core-speed probe rounds (one probe per core each)
#: during the timed passes
PROBE_INTERVAL_S = 1.0
AUDIO_RATE = 100
SEGMENT_SAMPLES = 200  # 2.0 s of fake audio per transcribed segment
FRAMES_PER_CLIP = 10  # vid block: 1.0 s at 10 fps


def load_specs() -> dict[str, dict]:
    out = {}
    for name in sorted(os.listdir(SPECS_DIR)):
        if name.endswith(".json"):
            with open(os.path.join(SPECS_DIR, name)) as f:
                doc = json.load(f)
            out[doc["slug"]] = doc
    return out


# --- mock OpenAI ------------------------------------------------------------


class MockOpenAI:
    """In-process OpenAI impersonation: the story's scene count sets the
    narration length, the narration length sets the transcribed segments,
    so the seeded width in the prompt reaches the image fan-out."""

    def __init__(self, delay_s: float = MOCK_DELAY_S):
        from data_pipelines_worker_spark.operators import media as M

        self.delay_s = delay_s
        self.requests = 0
        self.inflight = 0
        self.max_inflight = 0
        self._lock = threading.Lock()
        self.image = M.fimg_encode(16, 12, bytes((i * 13) % 256 for i in range(192)))
        mock = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):
                pass

            def do_POST(self):
                body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
                with mock._lock:
                    mock.requests += 1
                    mock.inflight += 1
                    mock.max_inflight = max(mock.max_inflight, mock.inflight)
                try:
                    time.sleep(mock.delay_s)
                    reply = mock.respond(self.path, body)
                finally:
                    with mock._lock:
                        mock.inflight -= 1
                if reply is None:
                    self.send_error(400)
                    return
                payload, ctype = reply
                self.send_response(200)
                self.send_header("Content-Type", ctype)
                self.send_header("Content-Length", str(len(payload)))
                self.end_headers()
                self.wfile.write(payload)

        self.server = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.server.daemon_threads = True
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self._thread.start()
        self.base_url = f"http://127.0.0.1:{self.server.server_port}/v1"

    def respond(self, path: str, body: bytes) -> tuple[bytes, str] | None:
        from data_pipelines_worker_spark.operators import media as M

        if path == "/v1/chat/completions":
            prompt = json.loads(body)["messages"][-1]["content"]
            scenes, topic = re.match(r"Tell (\d+) scenes about (.*)", prompt).groups()
            story = " ".join(f"Scene {i}: {topic}." for i in range(int(scenes)))
            resp = {"choices": [{"message": {"role": "assistant", "content": story}}]}
            return json.dumps(resp).encode(), "application/json"
        if path == "/v1/audio/speech":
            scenes = json.loads(body)["input"].count("Scene ")
            samples = bytes(i % 97 for i in range(SEGMENT_SAMPLES * scenes))
            return M.faud_encode(AUDIO_RATE, samples), "audio/mpeg"
        if path == "/v1/audio/transcriptions":
            audio = body[body.index(M.FAUD_MAGIC) :]
            segments = int(M.faud_duration(audio) * AUDIO_RATE) // SEGMENT_SAMPLES
            doc = {
                "task": "transcribe",
                "language": "english",
                "duration": 2.0 * segments,
                "segments": [
                    {"id": i, "seek": 0, "start": 2.0 * i, "end": 2.0 * i + 1.5,
                     "text": f" scene {i}"}
                    for i in range(segments)
                ],
                "text": "".join(f" scene {i}" for i in range(segments)),
            }
            return json.dumps(doc).encode(), "application/json"
        if path == "/v1/images/generations":
            resp = {"data": [{"b64_json": base64.b64encode(self.image).decode()}]}
            return json.dumps(resp).encode(), "application/json"
        return None

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self._thread.join(timeout=10)


# --- HTTP client ------------------------------------------------------------


def _call(base: str, path: str, payload: dict | None = None) -> dict:
    data = None if payload is None else json.dumps(payload).encode()
    req = urllib.request.Request(
        base + path, data, {"Content-Type": "application/json"},
        method="GET" if payload is None else "POST",
    )
    with urllib.request.urlopen(req, timeout=120) as r:
        return json.loads(r.read())


def yt_prompt(width: int, topic: str) -> str:
    return f"Tell {width} scenes about {topic}"


class Op:
    """One client operation and what it observed."""

    def __init__(self, kind: str, draw: float, width: int = 0, payload=None):
        self.kind, self.width, self.payload = kind, width, payload
        #: seeded draw that picks the resume index or the status target, so
        #: the choice does not depend on which client thread runs the op
        self.draw = draw
        self.pid: str | None = None
        self.post_s = 0.0
        self.latency_s = 0.0
        self.error: str | None = None

    @property
    def slug(self) -> str:
        return "yt-short" if self.kind in ("yt_short", "resume") else "wrap-join"


class Workload:
    def __init__(self, ctx, spark, store_root: str):
        from data_pipelines_worker_spark.api.server import PipelineService, serve
        from data_pipelines_worker_spark.operators.external import OpenAIClient, RetryPolicy
        from data_pipelines_worker_spark.plans.compiler import PipelineRunner, PipelineSpec

        self.spark = spark
        self.rng = random.Random(ctx.seed)
        self.mock = MockOpenAI()
        client = OpenAIClient(
            self.mock.base_url, policy=RetryPolicy(max_retries=2, retry_delay=0.01)
        )
        self.runner = PipelineRunner(spark, store_root, openai_client=client)
        self.compile_s = []
        specs = {}
        for slug, doc in load_specs().items():
            t0 = time.perf_counter()
            specs[slug] = PipelineSpec.from_json(doc)
            self.compile_s.append(time.perf_counter() - t0)
        self.service = PipelineService(self.runner, specs)
        self.server = serve(self.service)
        self.base = f"http://127.0.0.1:{self.server.server_port}"
        self._lock = threading.Lock()
        self.resume_pool: queue.Queue = queue.Queue()
        self.status_pool: list[str] = []
        self.expected: dict[str, Op] = {}  # pid → the op that started it
        self.resumed: set[str] = set()

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self.mock.close()

    # -- operations ----------------------------------------------------------

    def _topic(self) -> str:
        from .datagen import VOCAB

        return " ".join(self.rng.choice(VOCAB) for _ in range(4))

    def make_op(self, kind: str, i: int) -> Op:
        """The ``i``-th op of ``kind`` in a pass, its inputs drawn from the seed."""
        draw = self.rng.random()
        if kind == "yt_short":
            w = YT_WIDTHS[i % len(YT_WIDTHS)]
            return Op(kind, draw, w, yt_prompt(w, self._topic()))
        if kind == "wrap_join":
            w = WJ_WIDTHS[i % len(WJ_WIDTHS)]
            return Op(kind, draw, w, [self._topic() for _ in range(w)])
        return Op(kind, draw)

    def make_pass(self, clients: int) -> list[list[Op]]:
        """One pass as one op list per client. Each client gets its share of
        heavy and light ops; even clients start with a heavy op, odd ones
        with a light op. The seed draws payloads, widths, resume and status
        targets and which client gets which list."""
        counts: dict[str, int] = {}

        def make(kind: str) -> Op:
            counts[kind] = counts.get(kind, 0) + 1
            return self.make_op(kind, counts[kind] - 1)

        lists: list[list[Op]] = [[] for _ in range(clients)]
        for i, kind in enumerate(PASS_HEAVY):
            lists[i % clients].append(make(kind))
        for i, kind in enumerate(PASS_LIGHT):
            c = i % clients
            if c % 2:
                lists[c].insert(0, make(kind))
            else:
                lists[c].append(make(kind))
        self.rng.shuffle(lists)
        return lists

    def _wait(self, op: Op, t0: float) -> None:
        """Until the processing is terminal; its outcome is checked later."""
        if not self.service.wait(op.pid, timeout=120):
            raise TimeoutError(f"{op.kind} {op.pid} not terminal after 120 s")
        op.latency_s = time.perf_counter() - t0

    def execute(self, op: Op) -> None:
        t0 = time.perf_counter()
        try:
            if op.kind == "status":
                with self._lock:
                    op.pid = self.status_pool[int(op.draw * len(self.status_pool))]
                slug = self.expected[op.pid].slug
                resp = _call(self.base, f"/pipelines/{slug}/processings?processing_id={op.pid}")
                op.latency_s = time.perf_counter() - t0
                op.payload = resp
                return
            if op.kind == "resume":
                source = self.resume_pool.get(timeout=120)
                op.pid, op.width = source.pid, source.width
                self.resumed.add(op.pid)
                body = {
                    "pipeline": {"processing_id": op.pid},
                    "block": {"slug": "image", "target_index": int(op.draw * op.width)},
                    "input": {},
                }
                try:
                    _call(self.base, "/pipelines/yt-short/resume", body)
                    op.post_s = time.perf_counter() - t0
                    self._wait(op, t0)
                finally:
                    self.resume_pool.put(source)
                return
            if op.kind == "yt_short":
                body = {"input": {"story": {"user_prompt": op.payload}}}
            else:
                body = {"input": {"src": {"file": op.payload}}}
            op.pid = _call(self.base, f"/pipelines/{op.slug}/start", body)["processing_id"]
            op.post_s = time.perf_counter() - t0
            with self._lock:
                self.expected[op.pid] = op
            self._wait(op, t0)
            with self._lock:
                self.status_pool.append(op.pid)
        except Exception as ex:  # noqa: BLE001 - every failed op is counted
            op.error = f"{type(ex).__name__}: {ex}"

    def run_clients(self, lists: list[list[Op]]) -> list[Op]:
        """Closed loop: each client thread runs its ops one after another,
        the next one only when the previous one completed."""

        def client(ops):
            for op in ops:
                self.execute(op)

        threads = [threading.Thread(target=client, args=(ops,), daemon=True) for ops in lists]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=170)
        return [op for ops in lists for op in ops]

    # -- checks --------------------------------------------------------------

    def check(self, op: Op) -> str | None:
        """The op's outcome against what its seeded input implies."""
        from data_pipelines_worker_spark.operators import media as M
        from data_pipelines_worker_spark.sources import stage_store

        if op.error:
            return op.error
        if op.kind == "status":
            procs = op.payload["processings"]
            ok = (
                len(procs) == 1
                and procs[0]["error"] is None
                and all(b["status"] == "completed" for b in procs[0]["blocks"])
            )
            return None if ok else f"status {op.payload}"
        slug = op.slug

        def stage(block):
            return stage_store.read_stage(
                self.spark, self.runner.store_root, slug, op.pid, block
            )

        statuses = self.service.processings(slug, op.pid)
        # a resume reloads the blocks before its start block from the lake
        resumed = op.kind == "resume" or op.pid in self.resumed
        done = ("completed", "loaded") if resumed else ("completed",)
        if (
            not statuses
            or statuses[0]["error"] is not None
            or any(b["status"] not in done for b in statuses[0]["blocks"])
        ):
            return f"not completed: {statuses}"
        if slug == "wrap-join":
            texts = self.expected[op.pid].payload
            want = "+".join(f"[{t}]" for t in texts)
            got = stage("join").first().payload_str
            if stage("wrap").count() != len(texts) or got != want:
                return f"wrap-join output {got!r} != {want!r}"
            return None
        if stage("image").count() != op.width:
            return f"image rows != {op.width}"
        final = stage("final").collect()
        if len(final) != 1:
            return f"final rows {len(final)} != 1"
        video = bytes(final[0].payload_bin)
        frames = M.fvid_meta(video)[3]
        subs = len(M.fvid_sections(video, b"SUBS"))
        if frames != op.width * FRAMES_PER_CLIP or subs != op.width:
            return f"final video has {frames} frames, {subs} subtitle tracks for {op.width} segments"
        return None


def install_tracing(w: Workload, tracer: trace.Tracer) -> dict:
    """Wrap the package calls each layer makes; returns per-run accounting."""
    from data_pipelines_worker_spark.sources import run_log, stage_store

    acct = {"accepted": {}, "entered": {}, "groups": {}}  # pid → [times per call]
    runner, service = w.runner, w.service
    seq = iter(range(1, 1 << 30))

    original_run = runner.run

    def run(spec, *args, processing_id=None, **kwargs):
        group = f"{processing_id}:{next(seq)}"
        acct["entered"].setdefault(processing_id, []).append(time.perf_counter())
        with tracer.span("plans.run", group), trace.JobGroup(w.spark, group):
            try:
                return original_run(spec, *args, processing_id=processing_id, **kwargs)
            finally:
                acct["groups"][group] = trace.group_counters(w.spark, group)

    runner.run = run
    original_start = service.start

    def start(slug, *args, **kwargs):
        t0 = time.perf_counter()
        pid = original_start(slug, *args, **kwargs)
        acct["accepted"].setdefault(pid, []).append(t0)
        return pid

    service.start = start
    for module, name, span in (
        (stage_store, "write_stage", "sources.stage_write"),
        (stage_store, "read_stage", "sources.stage_read"),
        (run_log, "write_status", "sources.status_write"),
        (run_log, "read_statuses", "sources.status_read"),
    ):
        setattr(module, name, tracer.wrap(span, getattr(module, name)))
    return acct


def _store_usage(root: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def run(ctx) -> dict:
    """Untimed warm-up (the resume pool, then one whole pass), then the
    timed passes."""
    spark = ctx.start_session()
    store_root = os.path.join(ctx.workdir, "stages")
    w = Workload(ctx, spark, store_root)
    tracer = trace.Tracer()
    acct = install_tracing(w, tracer) if ctx.trace else None
    clients = len(os.sched_getaffinity(0))
    try:
        # the first yt-short runs fill the resume pool, the wrap-join one
        # gives the status reads a target before any timed op completes
        pool = [[w.make_op("yt_short", i)] for i in range(RESUME_POOL)]
        warm = w.run_clients([*pool, [w.make_op("wrap_join", 0)]])
        for [op] in pool:
            if op.error is None:
                w.resume_pool.put(op)
                w.status_pool.remove(op.pid)  # resumes rewrite it concurrently
        warm += w.run_clients(w.make_pass(clients))
        ctx.end_setup()

        ops: list[Op] = []
        spans0 = len(tracer.spans)
        requests0 = w.mock.requests
        done = 0
        gc0 = trace.jvm_gc_s(spark)
        ctx.mark("timed_start")
        jvm = procstat.jvm_pid()
        threads0, jit0 = procstat.thread_cpu_by_name(jvm), procstat.jit_cpu_s(jvm)
        cpu0, steal0, t0 = procstat.tree_cpu_by_kind(), procstat.steal_s(), time.perf_counter()
        with procstat.ProbeSampler(PROBE_INTERVAL_S) as sampler:
            while done < ctx.passes(NOMINAL_PASS_S):
                ops += w.run_clients(w.make_pass(clients))
                done += 1
        wall = time.perf_counter() - t0
        ctx.mark("timed_done")
        cpu_by_kind = {k: v - cpu0[k] for k, v in procstat.tree_cpu_by_kind().items()}
        cpu = sum(cpu_by_kind.values())
        steal = procstat.steal_s() - steal0
        jit = procstat.jit_cpu_s(jvm) - jit0
        jvm_threads = procstat.delta(procstat.thread_cpu_by_name(jvm), threads0)
        gc_s = trace.jvm_gc_s(spark) - gc0
        requests = w.mock.requests - requests0
        spans1 = len(tracer.spans)

        with ThreadPoolExecutor(clients) as pool:
            problems = list(pool.map(w.check, warm + ops))
        failures = {
            f"{i}:{op.kind}:{op.pid}": problem
            for i, (op, problem) in enumerate(zip(warm + ops, problems))
            if problem
        }
        files, size = _store_usage(store_root)
    finally:
        w.close()

    def lat(kinds):
        return [o.latency_s for o in ops if o.kind in kinds and o.error is None]

    processing = lat(("yt_short", "wrap_join"))
    p90 = stats.tail_percentile(processing, 90)
    completed = len(lat(("yt_short", "wrap_join", "resume")))
    result = {
        "attempted": len(warm) + len(ops),
        "failed": len(failures),
        "failures": failures,
        "passes": done,
        "clients": clients,
        "timed_wall_s": wall,
        "timed_steal_s": steal,
        "timed_gc_s": gc_s,
        "timed_cpu_by_process_s": cpu_by_kind,
        "probes": sampler.probes,
        "timed_jvm_threads_cpu_s": jvm_threads,
        "ops": [
            {"kind": o.kind, "width": o.width, "pid": o.pid, "latency_s": o.latency_s,
             "post_s": o.post_s, "error": o.error}
            for o in ops
        ],
        "summary": {
            "processing_p50_s": statistics.median(processing),
            "processing_p90_s": p90,
            "processing_samples": len(processing),
            "yt_short_p50_s": statistics.median(lat(("yt_short",))),
            "wrap_join_p50_s": statistics.median(lat(("wrap_join",))),
            "throughput_pps": completed / wall,
            "resume_p50_s": statistics.median(lat(("resume",))),
            "status_p50_s": statistics.median(lat(("status",))),
            "cpu_s": (cpu - jit) / done,
            "jit_cpu_s": jit / done,
            "work_s": wall / done,
        },
    }
    if ctx.trace:
        result["layers"] = _layer_metrics(
            tracer.spans[spans0:spans1], tracer, acct, ops, requests, w, files, size, wall
        )
        result["layers"]["engine.gc_s"] = gc_s / done
        result["spans"] = tracer.export()
        result["job_groups"] = acct["groups"]  # "<processing id>:<call>" → counters
    return result


def _layer_metrics(spans, tracer, acct, ops, requests, w, files, size, wall) -> dict:
    """Per-processing layer numbers over the timed window's spans."""
    self_s = trace.self_times(tracer.spans)
    runs = [s for s in spans if s.name == "plans.run"]
    n = max(1, len(runs))
    start, end = min(s.start for s in runs), max(s.end for s in runs)

    def per_run(name):
        picked = [s for s in spans if s.name == name]
        return sum(s.duration for s in picked) / n, len(picked) / n

    groups = [acct["groups"][s.trace_id] for s in runs if s.trace_id in acct["groups"]]

    def group_mean(key):
        return sum(g[key] for g in groups) / max(1, len(groups))

    queue_s = [
        entered - accepted
        for pid, times in acct["accepted"].items()
        for accepted, entered in zip(times, acct["entered"].get(pid, []))
        if start - 1.0 <= accepted <= end
    ]
    starts = [o for o in ops if o.kind in ("yt_short", "wrap_join", "resume") and not o.error]
    out = {
        "plans.compile_s": statistics.median(w.compile_s),
        "plans.self_s": sum(self_s[s.span_id] for s in runs) / n,
        "plans.jobs": group_mean("jobs"),
        "plans.stages": group_mean("stages"),
        "plans.tasks": group_mean("tasks"),
        "plans.executor_cpu_s": group_mean("executor_cpu_s"),
        "operators.python_stages": group_mean("python_stages"),
        "operators.external.requests": requests / n,
        "operators.external.max_inflight": w.mock.max_inflight,
        "api.start_s": statistics.median([o.post_s for o in starts]) if starts else 0.0,
        "api.queue_s": statistics.median(queue_s) if queue_s else 0.0,
        "api.inflight_mean": sum(s.duration for s in runs) / wall,
        "sources.stage_files": files / max(1, len(w.expected)),
        "sources.stage_bytes": size / max(1, len(w.expected)),
    }
    for name in ("stage_write", "stage_read", "status_write", "status_read"):
        total, count = per_run(f"sources.{name}")
        out[f"sources.{name}_s"] = total
        if name.startswith("stage"):
            out[f"sources.{name}s"] = count
    for key in trace.ENGINE_KEYS:
        out[f"engine.{key}"] = group_mean(key)
    return out
