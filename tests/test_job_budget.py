"""Spark work of the pipeline path, counted per run from the status store.

Every block pays one stage write job plus the work its operator needs: no
footer-reading schema-inference job on the stages the runner wrote, no
kind-probe job on stages it knows are text, no Python task without rows,
and no cached RDD left behind. Counts come from the same status-tracker
calls the benchmark's trace uses (``statusTracker().getJobIdsForGroup``,
``statusStore().lastStageAttempt``, ``operationGraphForStage``). The
driver's py4j round trips per run are counted by wrapping the gateway
client (``tools.jfr_profile.Py4jTally``).
"""

from __future__ import annotations

import json
from pathlib import Path

from data_pipelines_worker_spark.operators import media as M
from data_pipelines_worker_spark.plans.compiler import (
    BlockSpec,
    InputBinding,
    PipelineRunner,
    PipelineSpec,
)

SPECS = Path(__file__).resolve().parents[1] / "perfbench" / "specs"

#: plan nodes that run Python code on the executors
PYTHON_NODES = {
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "MapInArrow",
    "PythonMapInArrow",
    "FlatMapGroupsInPandas",
    "FlatMapCoGroupsInPandas",
    "AggregateInPandas",
    "WindowInPandas",
    "PythonRDD",
}


def _run_in_group(spark, group: str, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel=False)
    try:
        return fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _group_stages(spark, group: str) -> tuple[int, list[dict]]:
    """(job count, per executed stage: tasks, runs Python, launched by a
    ``DataFrameReader.parquet`` call — i.e. schema inference — or by a
    ``DataFrameWriter.parquet`` call)."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty(30_000)  # the status store lags the jobs
    tracker, store = jsc.statusTracker(), jsc.statusStore()
    job_ids = list(tracker.getJobIdsForGroup(group))
    stage_ids = {int(s) for j in job_ids for s in tracker.getJobInfo(j).get().stageIds()}
    stages = []
    for sid in sorted(stage_ids):
        try:
            st = store.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 - skipped stages have no attempt
            continue
        if str(st.status()) == "SKIPPED":
            continue
        stages.append(
            {
                "tasks": st.numCompleteTasks(),
                "python": _runs_python(store, sid),
                "infer": "DataFrameReader.parquet" in st.details(),
                "write": "DataFrameWriter.parquet" in st.details(),
            }
        )
    return len(job_ids), stages


def _runs_python(store, sid: int) -> bool:
    graph = store.operationGraphForStage(sid)
    clusters = [graph.rootCluster()]
    while clusters:
        c = clusters.pop()
        nodes, children = c.childNodes(), c.childClusters()
        names = [c.name()] + [nodes.apply(i).name() for i in range(nodes.size())]
        if any(n.split(" ")[0] in PYTHON_NODES for n in names):
            return True
        clusters.extend(children.apply(i) for i in range(children.size()))
    return False


def test_wrap_join_job_budget(spark, tmp_path):
    spec = PipelineSpec.from_json(json.loads((SPECS / "wrap-join.json").read_text()))
    texts = [f"text {i}" for i in range(8)]
    runner = PipelineRunner(spark, str(tmp_path))
    res = _run_in_group(
        spark,
        "budget-wrap-join",
        lambda: runner.run(spec, request_input={"src": {"file": texts}}),
    )
    jobs, stages = _group_stages(spark, "budget-wrap-join")
    assert not [s for s in stages if s["infer"]], "schema-inference job on a runner stage"
    # src, wrap and join writes, the gather's exchange, the status write
    assert jobs <= 5, (jobs, stages)
    assert res.output.first().payload_str == "+".join(f"[{t}]" for t in texts)


def test_wrap_join_py4j_round_trip_budget(spark, tmp_path):
    # the driver's py4j chatter of one warm wrap-join run: no call-site
    # capture per Column method or functions builtin (PySparkCurrentOrigin
    # set and clear), no JVM class reached through its package prefixes,
    # and calls plus reflection lookups under budget. Memory commands are
    # left out: they follow Python's GC, not the run.
    from tools.jfr_profile import Py4jTally

    spec = PipelineSpec.from_json(json.loads((SPECS / "wrap-join.json").read_text()))
    runner = PipelineRunner(spark, str(tmp_path))
    request = {"src": {"file": [f"text {i}" for i in range(8)]}}
    runner.run(spec, request_input=request)
    with Py4jTally(spark) as py4j:
        res = runner.run(spec, request_input=request)
    assert res.statuses["join"] == "completed"
    origin = [t for t in py4j.reflections if "PySparkCurrentOrigin" in t]
    assert not origin, origin
    assert not py4j.packages, py4j.packages
    round_trips = py4j.kinds["call"] + py4j.kinds["reflection"]
    assert round_trips < 700, py4j.kinds


def test_no_stage_goes_through_dataframe_writer(spark, tmp_path):
    # every stage write, the target-index merge and the status snapshots
    # are published from the driver: no job of the run is a Spark write
    spec = PipelineSpec.from_json(json.loads((SPECS / "wrap-join.json").read_text()))
    runner = PipelineRunner(spark, str(tmp_path))
    request = {"src": {"file": ["a", "b", "c"]}}
    full = _run_in_group(
        spark, "no-writer-start", lambda: runner.run(spec, request_input=request)
    )
    res = _run_in_group(
        spark,
        "no-writer-resume",
        lambda: runner.run(
            spec,
            processing_id=full.processing_id,
            start_slug="wrap",
            target_index=1,
            request_input=request,
        ),
    )
    for group in ("no-writer-start", "no-writer-resume"):
        jobs, stages = _group_stages(spark, group)
        assert jobs and not [s for s in stages if s["write"]], (group, stages)
    assert res.output.first().payload_str == "[a]+[b]+[c]"


def test_telegram_delivery_job_budget(spark, tmp_path):
    # one delivery of four review rows with a bound image stage: the sink
    # stage and the image bytes of the claimed indices are each collected
    # in one job and the sends run on the driver, so no Python stage
    from data_pipelines_worker_spark.operators.telegram import TelegramTransport
    from data_pipelines_worker_spark.sources.stage_store import STAGE_SCHEMA, write_stage
    from tests.test_telegram import MockTelegram, _client

    spec = PipelineSpec(
        slug="budget-telegram",
        blocks=[
            BlockSpec(
                id="send_moderation_tg",
                slug="review",
                bindings=[InputBinding(param="image", origin="img")],
            ),
        ],
    )
    runner = PipelineRunner(spark, str(tmp_path))
    reviews = [(i, i, json.dumps({"data": f"x{i}", "media": "image"}), None, None)
               for i in range(4)]
    images = [(i, 0, None, b"\x89PNGfake" + bytes([i]), "image/png") for i in range(4)]
    for slug, rows in (("review", reviews), ("img", images)):
        write_stage(
            spark.createDataFrame(rows, STAGE_SCHEMA),
            runner.store_root, "budget-telegram", "p1", slug,
        )
    mock = MockTelegram()
    try:
        transport = TelegramTransport(_client(mock), group_id=42)
        sent = _run_in_group(
            spark,
            "budget-telegram",
            lambda: transport.deliver_processing(runner, spec, "p1"),
        )
        jobs, stages = _group_stages(spark, "budget-telegram")
        assert jobs <= 2, (jobs, stages)
        assert not [s for s in stages if s["python"]], stages
        assert sent == 4
        assert [m["method"] for m in mock.messages] == ["sendPhoto"] * 4
    finally:
        mock.close()


def _python_tasks(stages: list[dict]) -> list[int]:
    return [s["tasks"] for s in stages if s["python"]]


def test_request_fanout_runs_one_python_task_per_item(spark, tmp_path):
    # a request list of three images through two Python (mapInPandas)
    # blocks: each item is its own stage file and Python task, in the full
    # run and downstream of a resume that recomputes one index
    spec = PipelineSpec(
        slug="budget-fanout",
        blocks=[
            BlockSpec(id="upload_file", slug="up", fan_out=True),
            BlockSpec(
                id="image_resize",
                slug="small",
                input={"width": 4, "height": 4},
                bindings=[InputBinding(param="image", origin="up", binary=True)],
            ),
            BlockSpec(
                id="image_blur",
                slug="soft",
                input={"sigma": 1.0},
                bindings=[InputBinding(param="image", origin="small", binary=True)],
            ),
        ],
    )
    images = [M.fimg_encode(8, 8, bytes([i]) * 64) for i in range(3)]
    width = min(len(images), spark.sparkContext.defaultParallelism)
    runner = PipelineRunner(spark, str(tmp_path))
    full = _run_in_group(
        spark,
        "budget-fanout",
        lambda: runner.run(spec, request_input={"up": {"file": images}}),
    )
    _, stages = _group_stages(spark, "budget-fanout")
    assert _python_tasks(stages) == [width, width], stages
    before = {r.input_index: bytes(r.payload_bin) for r in full.output.collect()}

    res = _run_in_group(
        spark,
        "budget-fanout-resume",
        lambda: runner.run(
            spec, processing_id=full.processing_id, start_slug="small", target_index=1
        ),
    )
    _, stages = _group_stages(spark, "budget-fanout-resume")
    # the merged stage keeps its file count, so "soft" still runs one
    # task per item (the merge's own stage also scans the stored files)
    python = _python_tasks(stages)
    assert len(python) == 2 and python[-1] == width, stages
    after = {r.input_index: bytes(r.payload_bin) for r in res.output.collect()}
    assert after == before


def test_target_index_resume_python_tasks(spark, tmp_path):
    # a fan-out built from one document, as a generated story's segments
    # are: a caption per line over one broadcast image, then a resize of
    # each captioned image. The resume recomputes index 1 of the captions.
    spec = PipelineSpec(
        slug="budget-resume",
        blocks=[
            BlockSpec(id="upload_file", slug="img"),
            BlockSpec(id="upload_file", slug="doc"),
            BlockSpec(
                id="image_add_text",
                slug="captioned",
                fan_out=True,
                input={"font_size": 4},
                bindings=[
                    InputBinding(param="image", origin="img", binary=True),
                    InputBinding(param="text", origin="doc", json_path="$.lines[*]"),
                ],
            ),
            BlockSpec(
                id="image_resize",
                slug="small",
                input={"width": 4, "height": 4},
                bindings=[InputBinding(param="image", origin="captioned", binary=True)],
            ),
        ],
    )
    request = {
        "img": {"file": M.fimg_encode(8, 8, bytes(range(64)))},
        "doc": {"file": json.dumps({"lines": ["a", "b", "c"]})},
    }
    runner = PipelineRunner(spark, str(tmp_path))
    full = runner.run(spec, request_input=request)
    before = {r.input_index: bytes(r.payload_bin) for r in full.output.collect()}
    assert sorted(before) == [0, 1, 2]
    cached = set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    res = _run_in_group(
        spark,
        "budget-resume",
        lambda: runner.run(
            spec,
            processing_id=full.processing_id,
            start_slug="captioned",
            target_index=1,
            request_input=request,
        ),
    )
    # the merge leaves no cached RDD behind
    assert set(spark.sparkContext._jsc.getPersistentRDDs().keySet()) <= cached
    _, stages = _group_stages(spark, "budget-resume")
    python = _python_tasks(stages)
    assert len(python) == 2, stages
    # the recomputed index in one task; the merged stage reaches the next
    # block in memory, one partition per item up to defaultParallelism
    assert python == [1, min(3, spark.sparkContext.defaultParallelism)], stages
    assert not [s for s in stages if s["infer"]], "schema-inference job on a runner stage"
    after = {r.input_index: bytes(r.payload_bin) for r in res.output.collect()}
    assert after == before


def test_fanout_behind_non_parallel_block_runs_a_task_per_item(spark, tmp_path):
    # yt-short's image -> resized: a non-parallel block runs its slot
    # budget of tasks (max_concurrency), and the block after it gets one
    # task per item again, since the stage it reads is in memory in
    # min(rows, defaultParallelism) partitions, not one file per writer task
    from perfbench.pipeline import MockOpenAI

    from data_pipelines_worker_spark.operators.external import OpenAIClient, RetryPolicy

    def spec(slots: int) -> PipelineSpec:
        return PipelineSpec(
            slug=f"budget-non-parallel-{slots}",
            blocks=[
                BlockSpec(id="upload_file", slug="prompts", fan_out=True),
                BlockSpec(
                    id="openai_image_request",
                    slug="image",
                    input={"max_concurrency": slots},
                    bindings=[InputBinding(param="prompt", origin="prompts")],
                ),
                BlockSpec(
                    id="image_resize",
                    slug="resized",
                    input={"width": 8, "height": 0, "keep_aspect_ratio": True},
                    bindings=[InputBinding(param="image", origin="image", binary=True)],
                ),
            ],
        )

    mock = MockOpenAI(delay_s=0.0)
    try:
        client = OpenAIClient(mock.base_url, policy=RetryPolicy(max_retries=2, retry_delay=0.01))
        runner = PipelineRunner(spark, str(tmp_path), openai_client=client)
        width = min(3, spark.sparkContext.defaultParallelism)
        for slots in (1, 2):
            group = f"budget-non-parallel-{slots}"
            res = _run_in_group(
                spark,
                group,
                lambda: runner.run(spec(slots), request_input={"prompts": {"file": ["a", "b", "c"]}}),
            )
            _, stages = _group_stages(spark, group)
            assert _python_tasks(stages) == [slots, width], stages
            assert sorted(r.input_index for r in res.output.collect()) == [0, 1, 2]
    finally:
        mock.close()
