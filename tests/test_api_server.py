"""REST shim tests: API-surface parity with api/server.go:261-303 —
async start, status polling, resume with target_index, detail views."""

from __future__ import annotations

import json
import time
import urllib.request

import pytest

from data_pipelines_worker_spark.api.server import PipelineService, serve
from data_pipelines_worker_spark.plans.compiler import (
    BlockSpec,
    InputBinding,
    PipelineRunner,
    PipelineSpec,
)


def _spec() -> PipelineSpec:
    return PipelineSpec(
        slug="wrap-join",
        blocks=[
            BlockSpec(id="upload_file", slug="src", fan_out=True),
            BlockSpec(
                id="wrap_text",
                slug="wrap",
                input={"prefix": "[", "suffix": "]"},
                bindings=[InputBinding(param="text", origin="src")],
            ),
            BlockSpec(
                id="join_strings",
                slug="join",
                input={"separator": "+"},
                bindings=[InputBinding(param="strings", origin="wrap", array_input=True)],
            ),
        ],
    )


@pytest.fixture()
def api(spark, tmp_path):
    runner = PipelineRunner(spark, str(tmp_path / "stages"))
    service = PipelineService(runner, {"wrap-join": _spec()})
    srv = serve(service)
    base = f"http://127.0.0.1:{srv.server_port}"
    yield base, service
    srv.shutdown()


def _get(base, path):
    with urllib.request.urlopen(base + path, timeout=30) as r:
        return json.loads(r.read())


def _post(base, path, payload):
    req = urllib.request.Request(
        base + path,
        json.dumps(payload).encode(),
        {"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req, timeout=30) as r:
        return r.status, json.loads(r.read())


def _await_done(base, service, pid, slug="wrap-join", timeout=60.0):
    assert service.wait(pid, timeout)
    deadline = time.time() + timeout
    while time.time() < deadline:
        procs = _get(base, f"/pipelines/{slug}/processings?processing_id={pid}")[
            "processings"
        ]
        if procs and not procs[0]["running"]:
            return procs[0]
        time.sleep(0.2)
    raise TimeoutError


def test_read_endpoints(api):
    base, _ = api
    assert _get(base, "/health") == {"status": "ok"}
    blocks = _get(base, "/blocks")["blocks"]
    for expected in (
        "wrap_text", "join_strings", "image_resize", "audio_chunk",
        "openai_chat_completion", "fetch_moderation_tg", "http_request",
    ):
        assert expected in blocks
    assert _get(base, "/pipelines")["pipelines"][0]["slug"] == "wrap-join"
    spec = _get(base, "/pipelines/wrap-join")
    assert [b["slug"] for b in spec["blocks"]] == ["src", "wrap", "join"]
    assert _get(base, "/workers")["workers"][0]["id"] == "spark-driver"


@pytest.mark.slowsuite
def test_start_async_and_poll(api):
    base, service = api
    status, resp = _post(
        base,
        "/pipelines/wrap-join/start",
        {"input": {"src": {"file": ["x", "y"]}}},
    )
    assert status == 202  # id immediately, execution async (pipeline.go:640)
    proc = _await_done(base, service, resp["processing_id"])
    assert proc["error"] is None
    assert [b["status"] for b in proc["blocks"]] == ["completed"] * 3
    assert [b["block_slug"] for b in proc["blocks"]] == ["src", "wrap", "join"]


@pytest.mark.slowsuite
def test_resume_with_target_index(api):
    base, service = api
    _, resp = _post(
        base,
        "/pipelines/wrap-join/start",
        {"input": {"src": {"file": ["x", "y", "z"]}}},
    )
    pid = resp["processing_id"]
    _await_done(base, service, pid)

    # targeted recompute of index 1 from 'wrap' onward (resume handler
    # shape: api/handlers/pipelines.go:195-236 + TargetIndex semantics)
    status, resp = _post(
        base,
        "/pipelines/wrap-join/resume",
        {
            "pipeline": {"processing_id": pid},
            "block": {"slug": "wrap", "target_index": 1},
            "input": {},
        },
    )
    assert status == 202 and resp["processing_id"] == pid
    proc = _await_done(base, service, pid)
    assert proc["error"] is None

    from data_pipelines_worker_spark.sources import stage_store

    out = stage_store.read_stage(
        service.runner.spark,
        service.runner.store_root,
        "wrap-join",
        pid,
        "join",
    )
    assert out.first().payload_str == "[x]+[y]+[z]"


def test_resume_requires_processing_and_block(api):
    base, _ = api
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(base, "/pipelines/wrap-join/resume", {"input": {}})
    assert e.value.code == 400


@pytest.mark.parametrize(
    "block",
    [{"slug": "wrap", "target_index": "one"}, {"slug": "nope"}],
    ids=["non_integer_target_index", "unknown_block_slug"],
)
def test_resume_rejects_malformed_block(api, block):
    # answered at the boundary, before any run starts: no dropped
    # connection, no 202 for a run that can only fail on its thread
    base, service = api
    with pytest.raises(urllib.error.HTTPError) as e:
        _post(
            base,
            "/pipelines/wrap-join/resume",
            {"pipeline": {"processing_id": "p1"}, "block": block, "input": {}},
        )
    assert e.value.code == 400
    assert service.processings("wrap-join", "p1") == []


@pytest.mark.slowsuite
def test_resume_of_a_running_processing_is_409(api, monkeypatch):
    # a second run of one processing would write the same stages: the
    # resume is refused while the first run is alive, and that run
    # completes writing each stage once
    import threading

    from data_pipelines_worker_spark.sources import stage_store

    base, service = api
    writes: list[str] = []
    write = stage_store.write_stage

    def counted(df, root, pipeline_slug, processing_id, slug, *rest):
        writes.append(slug)
        return write(df, root, pipeline_slug, processing_id, slug, *rest)

    monkeypatch.setattr(stage_store, "write_stage", counted)
    release = threading.Event()
    run = service.runner.run

    def held(*args, **kwargs):
        assert release.wait(60.0)
        return run(*args, **kwargs)

    service.runner.run = held
    _, resp = _post(
        base, "/pipelines/wrap-join/start", {"input": {"src": {"file": ["x", "y"]}}}
    )
    pid = resp["processing_id"]
    try:
        with pytest.raises(urllib.error.HTTPError) as e:
            _post(
                base,
                "/pipelines/wrap-join/resume",
                {"pipeline": {"processing_id": pid}, "block": {"slug": "wrap"}, "input": {}},
            )
        assert e.value.code == 409
    finally:
        release.set()
    proc = _await_done(base, service, pid)
    assert proc["error"] is None
    assert sorted(writes) == ["join", "src", "wrap"]


def test_failed_block_and_its_error_are_listed(api, monkeypatch):
    # a block whose stage write raises is listed as failed, the blocks
    # after it as skipped, and the processing carries the error
    from data_pipelines_worker_spark.sources import stage_store

    base, service = api
    write = stage_store.write_stage

    def failing(df, root, pipeline_slug, processing_id, slug, *rest):
        if slug == "wrap":
            raise IOError("stage store unavailable")
        return write(df, root, pipeline_slug, processing_id, slug, *rest)

    monkeypatch.setattr(stage_store, "write_stage", failing)
    _, resp = _post(
        base, "/pipelines/wrap-join/start", {"input": {"src": {"file": ["x", "y"]}}}
    )
    proc = _await_done(base, service, resp["processing_id"])
    assert proc["error"] == "OSError: stage store unavailable"
    assert [(b["block_slug"], b["status"]) for b in proc["blocks"]] == [
        ("src", "completed"),
        ("wrap", "failed"),
        ("join", "skipped"),
    ]


def test_unknown_pipeline_404(api):
    base, _ = api
    with pytest.raises(urllib.error.HTTPError) as e:
        _get(base, "/pipelines/nope")
    assert e.value.code == 404


# --- multipart/form-data start (api/schemas/pipelines.go:79-151) -----------


def _multipart_body(fields: dict, files: dict) -> tuple[bytes, str]:
    boundary = "testboundary42"
    out = []
    for name, value in fields.items():
        for v in value if isinstance(value, list) else [value]:
            out += [
                f"--{boundary}\r\n"
                f'Content-Disposition: form-data; name="{name}"\r\n\r\n'.encode(),
                v.encode() if isinstance(v, str) else v,
                b"\r\n",
            ]
    for name, (filename, payload) in files.items():
        out += [
            f"--{boundary}\r\n"
            f'Content-Disposition: form-data; name="{name}"; filename="{filename}"\r\n'
            f"Content-Type: application/octet-stream\r\n\r\n".encode(),
            payload,
            b"\r\n",
        ]
    out.append(f"--{boundary}--\r\n".encode())
    return b"".join(out), f"multipart/form-data; boundary={boundary}"


def _post_multipart(base, path, fields, files):
    body, ctype = _multipart_body(fields, files)
    req = urllib.request.Request(
        base + path, body, {"Content-Type": ctype}, method="POST"
    )
    with urllib.request.urlopen(req, timeout=30) as r:
        return r.status, json.loads(r.read())


def _png_spec() -> PipelineSpec:
    return PipelineSpec(
        slug="png-upload",
        blocks=[
            BlockSpec(id="upload_file", slug="up"),
            BlockSpec(
                id="image_resize",
                slug="small",
                input={"width": 40, "height": 30, "keep_aspect_ratio": False},
                bindings=[InputBinding(param="image", origin="up", binary=True)],
            ),
        ],
    )


@pytest.fixture()
def png_api(spark, tmp_path):
    runner = PipelineRunner(spark, str(tmp_path / "stages"))
    service = PipelineService(runner, {"png-upload": _png_spec()})
    srv = serve(service)
    yield f"http://127.0.0.1:{srv.server_port}", service
    srv.shutdown()


def test_multipart_file_upload_runs_pipeline(png_api):
    # a real PNG POSTed as a multipart file part reaches upload_file as
    # raw bytes and flows through the compiled pipeline (mirrors reference
    # functional test TestPipelineMultipartFormDataFile + main_test.go:
    # 308-347 field naming)
    from data_pipelines_worker_spark.operators import png_codec as P
    from tests.test_png_codec import grid_png

    base, service = png_api
    status, resp = _post_multipart(
        base,
        "/pipelines/png-upload/start",
        {"pipeline.slug": "png-upload", "block.slug": "up"},
        {"block.input.file": ("in.png", grid_png(120, 80))},
    )
    assert status == 202
    pid = resp["processing_id"]
    assert service.wait(pid, 120.0)
    assert service.processings("png-upload", pid)[0]["error"] is None

    from data_pipelines_worker_spark.sources import stage_store

    out = stage_store.read_stage(
        service.runner.spark, service.runner.store_root, "png-upload", pid, "small"
    ).collect()
    assert len(out) == 1 and out[0].mime == "image/png"
    assert P.png_decode(bytes(out[0].payload_bin)).shape[:2] == (30, 40)


def test_multipart_array_fields_fan_out(api):
    # block.input.field[] values gather into an array (pipelines.go:117-124)
    base, service = api
    status, resp = _post_multipart(
        base,
        "/pipelines/wrap-join/start",
        {
            "pipeline.slug": "wrap-join",
            "block.slug": "src",
            "block.input.file[]": ["x", "y"],  # repeated key → array
        },
        {},
    )
    assert status == 202
    pid = resp["processing_id"]
    assert service.wait(pid, 120.0)
    assert service.processings("wrap-join", pid)[0]["error"] is None

    from data_pipelines_worker_spark.sources import stage_store

    out = stage_store.read_stage(
        service.runner.spark, service.runner.store_root, "wrap-join", pid, "join"
    )
    assert out.first().payload_str == "[x]+[y]"


def test_multipart_missing_block_slug_400(api):
    base, _ = api
    with pytest.raises(urllib.error.HTTPError) as e:
        _post_multipart(base, "/pipelines/wrap-join/start", {"pipeline.slug": "x"}, {})
    assert e.value.code == 400


def test_multipart_over_10mib_rejected(api):
    base, _ = api
    big = b"A" * (10 * 1024 * 1024 + 1024)
    with pytest.raises(urllib.error.HTTPError) as e:
        _post_multipart(
            base,
            "/pipelines/wrap-join/start",
            {"pipeline.slug": "wrap-join", "block.slug": "src"},
            {"block.input.file": ("big.bin", big)},
        )
    assert e.value.code == 400


# --- moderation: parked runs and the decision stream (VERDICT r2 #8) -------


def _status(service, pid, slug="moderated") -> dict:
    return service.processings(slug, pid)[0]


def _approvals(pid, indices, t=100, first_id=0) -> list[tuple]:
    """DECISION_SCHEMA rows approving ``indices`` of ``pid``'s gate."""
    return [(pid, "gate", i, "approve", t, first_id + i, None) for i in indices]


def _await_settled(service, pid, pred, slug="moderated", timeout=120.0) -> dict:
    """Status of ``pid`` once it is not running and ``pred`` holds; a
    decision may restart it at any moment, so poll rather than wait once."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if service.wait(pid, 1.0):
            st = service.processings(slug, pid)
            if st and not st[0]["running"] and pred(st[0]):
                return st[0]
        time.sleep(0.2)
    raise TimeoutError(service.processings(slug, pid))


def _pending(st) -> bool:
    return "pending" in (st["error"] or "")


def _gated_spec() -> PipelineSpec:
    """The smallest moderated pipeline: a fan-out and its gate."""
    return PipelineSpec(
        slug="gated",
        blocks=[
            BlockSpec(id="upload_file", slug="src", fan_out=True),
            BlockSpec(
                id="fetch_moderation_tg",
                slug="gate",
                bindings=[InputBinding(param="data", origin="src")],
            ),
        ],
    )


def _moderated_service(spark, tmp_path, **kwargs):
    from tests.test_moderation_flow import _spec as moderated_spec

    runner = PipelineRunner(spark, str(tmp_path / "stages"))
    return PipelineService(runner, {"moderated": moderated_spec()}, **kwargs)


@pytest.mark.slowsuite
def test_decision_stream_unblocks_waiting_moderation(spark, tmp_path):
    # a decision file appended mid-run unblocks a processing parked in
    # waiting_moderation: streaming JSON source → foreachBatch fold →
    # auto-resume (the reference's GetUpdates poll loop, as a stream)
    import os

    decisions_dir = tmp_path / "decisions"
    decisions_dir.mkdir()
    service = _moderated_service(spark, tmp_path, decisions_dir=str(decisions_dir))
    try:
        req = {"src": {"file": ["a", "b"]}}
        pid = service.start("moderated", request_input=req)
        assert service.wait(pid, 120.0)
        assert _pending(_status(service, pid))

        events = [
            {"processing_id": pid, "block_slug": "gate", "input_index": i,
             "action": "approve", "event_time": 100 + i, "event_id": i,
             "regenerate_block_slug": None}
            for i in range(2)
        ]
        tmp = decisions_dir / ".approve.json.tmp"
        tmp.write_text("\n".join(json.dumps(e) for e in events))
        os.rename(tmp, decisions_dir / "approve.json")  # atomic appearance

        _await_settled(service, pid, lambda st: st["error"] is None)

        from data_pipelines_worker_spark.sources import stage_store

        out = stage_store.read_stage(
            spark, service.runner.store_root, "moderated", pid, "join"
        )
        assert out.first().payload_str == "<a> <b>"
    finally:
        service.stop_decision_stream()


@pytest.mark.slowsuite
def test_parked_run_resumes_at_its_gate(spark, tmp_path):
    # an approval resumes a parked run at its gate: every earlier stage is
    # rehydrated from the lake, never recomputed — also when the run had
    # been resumed mid-pipeline by hand before it parked
    import os

    from data_pipelines_worker_spark.sources import stage_store

    service = _moderated_service(spark, tmp_path)
    req = {"src": {"file": ["a", "b"]}}
    pid = service.start("moderated", request_input=req)
    assert service.wait(pid, 120.0)
    assert _pending(_status(service, pid))
    assert service.start(
        "moderated", request_input=req, processing_id=pid, start_slug="review"
    ) == pid
    assert service.wait(pid, 120.0)
    assert _pending(_status(service, pid))

    def mtimes(slug):
        d = stage_store.stage_path(service.runner.store_root, "moderated", pid, slug)
        return sorted(os.path.getmtime(os.path.join(d, f)) for f in os.listdir(d))

    before = {slug: mtimes(slug) for slug in ("src", "wrap", "review")}
    service.add_decisions(_approvals(pid, range(2)))
    st = _await_settled(service, pid, lambda st: st["error"] is None)
    assert [b["status"] for b in st["blocks"]] == ["loaded"] * 3 + ["completed"] * 2
    assert {slug: mtimes(slug) for slug in before} == before
    out = stage_store.read_stage(
        spark, service.runner.store_root, "moderated", pid, "join"
    )
    assert out.first().payload_str == "<a> <b>"


def test_decisions_resume_only_their_processing(spark, tmp_path):
    # A's approvals complete A and leave B, of the same pipeline, parked
    service = _moderated_service(spark, tmp_path)
    req = {"src": {"file": ["a", "b"]}}
    a = service.start("moderated", request_input=req)
    b = service.start("moderated", request_input=req)
    assert service.wait(a, 120.0) and service.wait(b, 120.0)
    service.add_decisions(_approvals(a, range(2)))
    _await_settled(service, a, lambda st: st["error"] is None)
    assert service.wait(b, 120.0) and _pending(_status(service, b))


@pytest.mark.slowsuite
def test_regenerate_then_approve_ships_the_reviewed_content(spark, tmp_path, monkeypatch):
    # regenerate → approve computes wrap twice (the first run, then the
    # regeneration), and what ships is what the regenerated review showed
    from data_pipelines_worker_spark.sources import stage_store
    from tests.test_moderation_flow import REQ, tag_wrap_writes

    writes = tag_wrap_writes(monkeypatch)
    service = _moderated_service(spark, tmp_path)
    pid = service.start("moderated", request_input=REQ)
    assert service.wait(pid, 120.0)
    service.add_decisions(
        _approvals(pid, (0, 1, 3)) + [(pid, "gate", 2, "regenerate", 100, 2, "wrap")]
    )
    _await_settled(service, pid, lambda st: len(writes) == 2 and _pending(st))
    shown = [
        json.loads(r.payload_str)["data"]
        for r in stage_store.read_stage(
            spark, service.runner.store_root, "moderated", pid, "review"
        ).orderBy("input_index").collect()
    ]
    assert shown == ["<a>#1", "<b>#1", "<c>#2", "<d>#1"]
    service.add_decisions(_approvals(pid, range(4), t=200, first_id=10))
    _await_settled(service, pid, lambda st: st["error"] is None)
    assert len(writes) == 2
    out = stage_store.read_stage(
        spark, service.runner.store_root, "moderated", pid, "join"
    )
    assert out.first().payload_str == " ".join(shown)


def test_restart_failure_cap_and_deferred_retry(spark, tmp_path):
    # ADVICE r3: a permanently-failing restart must reach a terminal error
    # after MAX_RESTART_FAILURES instead of re-parking forever, and a
    # transiently-failing one must retry on its own timer rather than
    # waiting for another decision batch.
    spec = _gated_spec()
    service = PipelineService(PipelineRunner(spark, str(tmp_path / "stages")), {})
    service.BACKOFF_BASE_S = 0.05
    req = {"src": {"file": ["x"]}}
    service.pipelines["gated"] = spec
    pid = service.start("gated", request_input=req)
    assert service.wait(pid, 120.0)
    del service.pipelines["gated"]  # every restart now KeyErrors
    service.add_decisions(_approvals(pid, [0]))  # attempt 1 fails at once
    # attempts 2 and 3 fire from timers; attempt 3 hits the cap. The
    # deadline is generous: the timers share the GIL with Spark's threads
    st = _await_settled(service, pid, lambda st: "permanently" in st["error"], "gated")
    assert f"after {service.MAX_RESTART_FAILURES} attempts" in st["error"]

    # transient failure: the pipeline is back before the first timer
    # fires, so the deferred retry restarts the run with no new decision
    service.pipelines["gated"] = spec
    service.BACKOFF_BASE_S = 1.0
    pid2 = service.start("gated", request_input=req)
    assert service.wait(pid2, 120.0)
    del service.pipelines["gated"]
    service.add_decisions(_approvals(pid2, [0]))  # attempt 1 fails at once
    service.pipelines["gated"] = spec
    _await_settled(service, pid2, lambda st: st["error"] is None, "gated")


@pytest.mark.slowsuite
def test_concurrent_decisions_resume_each_parked_run_once(spark, tmp_path):
    # decision batches racing each other for the same parked runs: each
    # run is claimed and resumed exactly once (a lost claim would resume
    # a run twice or strand it)
    import sys
    import threading

    runner = PipelineRunner(spark, str(tmp_path / "stages"))
    calls: dict[str, int] = {}
    run = runner.run

    def counted(spec, *args, processing_id=None, **kwargs):
        calls[processing_id] = calls.get(processing_id, 0) + 1
        return run(spec, *args, processing_id=processing_id, **kwargs)

    runner.run = counted
    service = PipelineService(runner, {"gated": _gated_spec()})
    pids = [service.start("gated", request_input={"src": {"file": ["x"]}}) for _ in range(6)]
    assert all(service.wait(pid, 120.0) for pid in pids)
    start = service.start

    def slow_start(*args, **kwargs):
        time.sleep(0.05)  # widen the window between a claim and its start
        return start(*args, **kwargs)

    service.start = slow_start
    batches = [_approvals(pid, [0]) for pid in pids] * 2
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=service.add_decisions, args=(b,)) for b in batches]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60.0)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
    for pid in pids:
        assert _await_settled(service, pid, lambda st: st["error"] is None, "gated")
    assert calls == {pid: 2 for pid in pids}


def test_concurrent_starts_of_one_processing_run_it_once(spark, tmp_path):
    # racing starts of one processing id: exactly one is accepted while
    # its run is alive, the others are refused, and the runner runs once
    import sys
    import threading

    from data_pipelines_worker_spark.api.server import ProcessingRunning

    runner = PipelineRunner(spark, str(tmp_path / "stages"))
    calls, release, run = [], threading.Event(), runner.run

    def held(*args, **kwargs):
        calls.append(kwargs["processing_id"])
        assert release.wait(60.0)
        return run(*args, **kwargs)

    runner.run = held
    service = PipelineService(runner, {"gated": _gated_spec()})
    outcomes: list[str] = []

    def start():
        try:
            service.start("gated", request_input={"src": {"file": ["x"]}}, processing_id="p1")
            outcomes.append("started")
        except ProcessingRunning:
            outcomes.append("refused")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=start) for _ in range(12)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(60.0)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(interval)
        release.set()
    assert sorted(outcomes) == ["refused"] * 11 + ["started"]
    assert service.wait("p1", 120.0)
    assert calls == ["p1"] and _pending(_status(service, "p1", "gated"))


def test_decision_resumes_a_run_whose_parked_thread_is_returning(spark, tmp_path):
    # a decision batch landing between a run's park and its thread's end
    # waits for the thread instead of being refused as a second run
    import threading

    service = PipelineService(
        PipelineRunner(spark, str(tmp_path / "stages")), {"gated": _gated_spec()}
    )
    work, parked = service._work, threading.Event()

    def slow_return(*args):
        work(*args)
        parked.set()
        time.sleep(0.5)

    service._work = slow_return
    pid = service.start("gated", request_input={"src": {"file": ["x"]}})
    assert parked.wait(120.0)
    service.add_decisions(_approvals(pid, [0]))
    _await_settled(service, pid, lambda st: st["error"] is None, "gated")


def test_status_reads_never_drop_a_restarting_processing(spark, tmp_path, monkeypatch):
    # polls of the processing listing throughout decision-driven restarts
    # all see the processing, and every read succeeds, although each
    # restart writes its status anew; each status publish holds its staged
    # snapshot (data and _SUCCESS) beside the real ones for 0.2 s before
    # the rename moves it in, so polls land inside that window
    import threading

    from data_pipelines_worker_spark.sources import stage_store

    hadoop_fs = stage_store.hadoop_fs

    class SlowRename:
        def __init__(self, fs):
            self._fs = fs

        def rename(self, src, dst):
            if "/_meta/status/" in dst.toString():
                time.sleep(0.2)
            return self._fs.rename(src, dst)

        def __getattr__(self, name):
            return getattr(self._fs, name)

    def slow_fs(spark_, path):
        fs, hpath = hadoop_fs(spark_, path)
        return SlowRename(fs), hpath

    monkeypatch.setattr(stage_store, "hadoop_fs", slow_fs)
    service = PipelineService(
        PipelineRunner(spark, str(tmp_path / "stages")), {"gated": _gated_spec()}
    )
    pid = service.start("gated", request_input={"src": {"file": ["x", "y"]}})
    assert service.wait(pid, 120.0)
    polls: list[list[str]] = []
    done = threading.Event()

    def poll():
        while not done.is_set():
            try:
                polls.append([p["processing_id"] for p in service.processings("gated")])
            except Exception as e:  # noqa: BLE001 - a failed read fails the test
                polls.append([repr(e)[:300]])

    poller = threading.Thread(target=poll, daemon=True)
    poller.start()
    try:
        service.add_decisions(_approvals(pid, [0]))
        _await_settled(service, pid, lambda st: "[1]" in (st["error"] or ""), "gated")
        service.add_decisions(_approvals(pid, [1], t=200, first_id=1))
        _await_settled(service, pid, lambda st: st["error"] is None, "gated")
    finally:
        done.set()
        poller.join(60.0)
    assert len(polls) > 2 and all(p == [pid] for p in polls)
