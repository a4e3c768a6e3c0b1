"""Engine-semantics tests for the pipeline compiler/runner — mirrors the
reference functional suite (test/functional/pipeline_test.go: fan-out :318,
resume :541, TargetIndex :1044, stop/moderation :1849+, multipart :3120)."""

from __future__ import annotations

import json

import pytest

from data_pipelines_worker_spark.plans.compiler import (
    BlockSpec,
    InputBinding,
    PipelineRunner,
    PipelineSpec,
)

TRANSCRIPTION = json.dumps(
    {
        "task": "transcribe",
        "language": "english",
        "duration": 12.5,
        "segments": [
            {"id": 0, "start": 0.0, "end": 4.0, "text": "all the lonely people"},
            {"id": 1, "start": 4.0, "end": 8.0, "text": "where do they all come from"},
            {"id": 2, "start": 8.0, "end": 12.5, "text": "ah look at all the lonely people"},
        ],
        "text": "all the lonely people ...",
    }
)


def spine_spec() -> PipelineSpec:
    return PipelineSpec(
        slug="yt-short-spine",
        blocks=[
            BlockSpec(id="upload_file", slug="transcription", input={}),
            BlockSpec(
                id="wrap_text",
                slug="wrap",
                input={"prefix": "- ", "suffix": "!"},
                bindings=[
                    InputBinding(
                        param="text",
                        origin="transcription",
                        json_path="$.segments[*].text",
                    )
                ],
                fan_out=True,
            ),
            BlockSpec(
                id="join_strings",
                slug="join",
                input={"separator": " "},
                bindings=[InputBinding(param="strings", origin="wrap", array_input=True)],
            ),
        ],
    )


@pytest.fixture
def runner(spark, tmp_path):
    return PipelineRunner(spark, str(tmp_path / "stages"))


def test_e2e_fanout_wrap_gather(runner):
    res = runner.run(
        spine_spec(), request_input={"transcription": {"file": TRANSCRIPTION}}
    )
    assert res.stopped_at is None
    rows = res.output.collect()
    assert len(rows) == 1
    assert rows[0].payload_str == (
        "- all the lonely people! - where do they all come from! "
        "- ah look at all the lonely people!"
    )
    assert res.statuses == {"transcription": "completed", "wrap": "completed", "join": "completed"}


def test_fanout_preserves_semantic_index(runner):
    res = runner.run(
        spine_spec(), request_input={"transcription": {"file": TRANSCRIPTION}}
    )
    from data_pipelines_worker_spark.sources import stage_store

    wrap = stage_store.read_stage(
        runner.spark, runner.store_root, "yt-short-spine", res.processing_id, "wrap"
    )
    rows = {r.input_index: r.payload_str for r in wrap.collect()}
    assert rows[0] == "- all the lonely people!"
    assert rows[2] == "- ah look at all the lonely people!"


def test_resume_rehydrates_from_store(runner):
    full = runner.run(
        spine_spec(), request_input={"transcription": {"file": TRANSCRIPTION}}
    )
    expected = full.output.first().payload_str  # materialize before overwrite
    resumed = runner.run(
        spine_spec(),
        processing_id=full.processing_id,
        start_slug="join",
    )
    assert resumed.statuses["transcription"] == "loaded"
    assert resumed.statuses["wrap"] == "loaded"
    assert resumed.statuses["join"] == "completed"
    assert resumed.output.first().payload_str == expected


def test_target_index_partial_recompute(runner):
    full = runner.run(
        spine_spec(), request_input={"transcription": {"file": TRANSCRIPTION}}
    )
    expected = full.output.first().payload_str  # materialize before overwrite
    # regenerate only fan-out index 1 of the wrap stage, then downstream
    res = runner.run(
        spine_spec(),
        processing_id=full.processing_id,
        start_slug="wrap",
        target_index=1,
    )
    assert res.output.first().payload_str == expected


def test_stop_pipeline_condition(runner):
    def spec(value: str) -> PipelineSpec:
        return PipelineSpec(
            slug="stoppable",
            blocks=[
                BlockSpec(id="upload_file", slug="up", input={"file": value}),
                BlockSpec(
                    id="stop_pipeline",
                    slug="gate",
                    input={"condition": ">", "value": 10},
                    bindings=[InputBinding(param="data", origin="up")],
                ),
                BlockSpec(
                    id="wrap_text",
                    slug="after",
                    input={"prefix": "<", "suffix": ">"},
                    bindings=[InputBinding(param="text", origin="up")],
                ),
            ],
        )

    stopped = runner.run(spec("15"))
    assert stopped.stopped_at == "gate"
    assert stopped.statuses["after"] == "skipped"
    passed = runner.run(spec("5"))
    assert passed.stopped_at is None
    assert passed.output.first().payload_str == "<5>"


def test_stop_gate_request_value_overrides_static_value(runner):
    # input priority request > static (pipeline.go:281-305) holds for the
    # gate's comparand too: 15 > 10 stops, 15 > 20 does not
    spec = PipelineSpec(
        slug="stoppable-override",
        blocks=[
            BlockSpec(id="upload_file", slug="up", input={"file": "15"}),
            BlockSpec(
                id="stop_pipeline",
                slug="gate",
                input={"condition": ">", "value": 10},
                bindings=[InputBinding(param="data", origin="up")],
            ),
            BlockSpec(
                id="wrap_text",
                slug="after",
                input={"prefix": "<", "suffix": ">"},
                bindings=[InputBinding(param="text", origin="up")],
            ),
        ],
    )
    assert runner.run(spec).stopped_at == "gate"
    res = runner.run(spec, request_input={"gate": {"value": 20}})
    assert res.stopped_at is None
    assert res.output.first().payload_str == "<15>"


def test_target_index_resume_at_stop_gate_keeps_other_indices(runner):
    # resuming at a stop block recomputes one fan-out index; the gate stage
    # must still hold every index, or the blocks after it lose the rest
    from data_pipelines_worker_spark.sources import stage_store

    spec = PipelineSpec(
        slug="gated-fanout",
        blocks=[
            BlockSpec(id="upload_file", slug="up", fan_out=True),
            BlockSpec(
                id="stop_pipeline",
                slug="gate",
                input={"condition": ">", "value": 100},
                bindings=[InputBinding(param="data", origin="up")],
            ),
            BlockSpec(
                id="wrap_text",
                slug="after",
                input={"prefix": "<", "suffix": ">"},
                bindings=[InputBinding(param="text", origin="gate")],
            ),
        ],
    )
    full = runner.run(spec, request_input={"up": {"file": ["5", "15", "7"]}})
    res = runner.run(
        spec, processing_id=full.processing_id, start_slug="gate", target_index=1
    )
    assert res.stopped_at is None
    gate = stage_store.read_stage(
        runner.spark,
        runner.store_root,
        "gated-fanout",
        full.processing_id,
        "gate",
        stage_store.STAGE_SCHEMA,
    )
    assert sorted((r.input_index, r.payload_str) for r in gate.collect()) == [
        (0, "5"),
        (1, "15"),
        (2, "7"),
    ]
    assert sorted(
        (r.input_index, r.payload_str) for r in res.output.collect()
    ) == [(0, "<5>"), (1, "<15>"), (2, "<7>")]


def test_stop_gate_job_budget(spark, tmp_path):
    # a gate that never fires costs its stage write; its take(1) probe for
    # a firing row is evaluated once, before the write. Measured as the
    # difference between the same fan-out with and without the gate.
    from test_job_budget import _group_stages, _run_in_group

    def spec(gated: bool) -> PipelineSpec:
        blocks = [BlockSpec(id="upload_file", slug="nums", fan_out=True)]
        if gated:
            blocks.append(
                BlockSpec(
                    id="stop_pipeline",
                    slug="gate",
                    input={"condition": ">", "value": 100},
                    bindings=[InputBinding(param="data", origin="nums")],
                )
            )
        blocks.append(
            BlockSpec(
                id="wrap_text",
                slug="wrapped",
                input={"prefix": "<", "suffix": ">"},
                bindings=[InputBinding(param="text", origin=blocks[-1].slug)],
            )
        )
        return PipelineSpec(slug=f"gate-budget-{gated}", blocks=blocks)

    runner = PipelineRunner(spark, str(tmp_path))
    jobs = {}
    for gated in (False, True):
        group = f"gate-budget-{gated}"
        res = _run_in_group(
            spark,
            group,
            lambda: runner.run(spec(gated), request_input={"nums": {"file": ["5", "15", "7"]}}),
        )
        assert res.stopped_at is None
        assert sorted(r.payload_str for r in res.output.collect()) == ["<15>", "<5>", "<7>"]
        jobs[gated] = _group_stages(spark, group)[0]
    # take(1) reads the in-memory fan-out stage on the driver: no job
    assert jobs[True] - jobs[False] == 1, jobs


def test_request_list_fanout(runner):
    spec = PipelineSpec(
        slug="multi-upload",
        blocks=[
            BlockSpec(id="upload_file", slug="up", fan_out=True),
            BlockSpec(
                id="join_strings",
                slug="join",
                input={"separator": "+"},
                bindings=[InputBinding(param="strings", origin="up", array_input=True)],
            ),
        ],
    )
    res = runner.run(spec, request_input={"up": {"file": ["a", "b", "c"]}})
    assert res.output.first().payload_str == "a+b+c"


def test_spec_from_json_reference_shape(runner):
    doc = {
        "slug": "from-json",
        "title": "From-JSON compile test",
        "description": "Wrap every transcription segment in brackets.",
        "blocks": [
            {
                "id": "upload_file",
                "slug": "up",
                "description": "Ingest the transcription document payload.",
                "input": {},
            },
            {
                "id": "wrap_text",
                "slug": "w",
                "description": "Bracket-wrap each transcription segment text.",
                "input": {"prefix": "[", "suffix": "]"},
                "input_config": {
                    "type": "array",
                    "property": {
                        "text": {"origin": "up", "json_path": "$.segments[*].text"}
                    },
                },
            },
        ],
    }
    spec = PipelineSpec.from_json(doc)
    res = runner.run(spec, request_input={"up": {"file": TRANSCRIPTION}})
    assert [r.payload_str for r in res.output.orderBy("input_index").collect()] == [
        "[all the lonely people]",
        "[where do they all come from]",
        "[ah look at all the lonely people]",
    ]


def test_concurrent_processings_are_isolated(spark, tmp_path):
    # two runs of the same pipeline share a store root but never cross
    # paths: stage parquet and status live under distinct processing ids
    # (reference: per-processing registry, pipeline_block_data_registry.go)
    from data_pipelines_worker_spark.plans.compiler import (
        BlockSpec,
        InputBinding,
        PipelineRunner,
        PipelineSpec,
    )
    from data_pipelines_worker_spark.sources import run_log, stage_store

    spec = PipelineSpec(
        slug="iso",
        blocks=[
            BlockSpec(id="upload_file", slug="up", fan_out=True),
            BlockSpec(
                id="wrap_text",
                slug="w",
                input={"prefix": "<", "suffix": ">"},
                bindings=[InputBinding(param="text", origin="up")],
            ),
        ],
    )
    runner = PipelineRunner(spark, str(tmp_path))
    r1 = runner.run(spec, request_input={"up": {"file": ["alpha", "beta"]}})
    r2 = runner.run(spec, request_input={"up": {"file": ["gamma"]}})
    assert r1.processing_id != r2.processing_id
    out1 = stage_store.read_stage(
        spark, str(tmp_path), "iso", r1.processing_id, "w"
    ).collect()
    out2 = stage_store.read_stage(
        spark, str(tmp_path), "iso", r2.processing_id, "w"
    ).collect()
    assert sorted(r.payload_str for r in out1) == ["<alpha>", "<beta>"]
    assert [r.payload_str for r in out2] == ["<gamma>"]
    assert set(run_log.list_processings(spark, str(tmp_path), "iso")) == {
        r1.processing_id,
        r2.processing_id,
    }


def test_failing_index_aborts_run_and_persists_status(spark, tmp_path):
    # reference parity (pipeline_test.go:1588 fail-at-index): a corrupt
    # payload at one fan-out index fails the stage; the run raises, and the
    # deferred status snapshot (SavePipelineLog, pipeline.go:207-214)
    # still records every block's last state
    from data_pipelines_worker_spark.operators import media as M
    from data_pipelines_worker_spark.plans.compiler import (
        BlockSpec,
        InputBinding,
        PipelineRunner,
        PipelineSpec,
    )
    from data_pipelines_worker_spark.sources import run_log

    spec = PipelineSpec(
        slug="failing",
        blocks=[
            BlockSpec(id="upload_file", slug="up", fan_out=True),
            BlockSpec(
                id="image_resize",
                slug="small",
                input={"width": 4, "height": 4},
                bindings=[InputBinding(param="image", origin="up", binary=True)],
            ),
        ],
    )
    runner = PipelineRunner(spark, str(tmp_path))
    good = M.fimg_encode(8, 8, bytes(64))
    with pytest.raises(Exception):
        runner.run(
            spec,
            request_input={"up": {"file": [good, b"\xff\xd8corrupt", good]}},
        )
    # upload completed and is resumable
    procs = run_log.list_processings(spark, str(tmp_path), "failing")
    assert len(procs) == 1
    statuses = {
        r.block_slug: r.status
        for r in run_log.read_statuses(spark, str(tmp_path), "failing").collect()
    }
    assert statuses.get("up") == "completed"
    assert statuses.get("small") == "failed"


def test_concurrent_runs_keep_their_own_payload_kinds(spark, tmp_path, monkeypatch):
    # The API server runs every processing on its own thread over one
    # runner. Here two pipelines share the origin slug "src": an upload of
    # text in one, of bytes in the other, so "src" binds as text in one run
    # and as bytes in the other. A hook after each stage write interleaves
    # the runs: the bytes run starts once the text run has written its
    # "src", and binds its own "src" only after the text run has finished.
    # Each run must still bind by its own stage's kind.
    import threading

    from data_pipelines_worker_spark.sources import stage_store

    def spec(slug: str) -> PipelineSpec:
        return PipelineSpec(
            slug=slug,
            blocks=[
                BlockSpec(id="upload_file", slug="src"),
                BlockSpec(
                    id="wrap_text",
                    slug="wrap",
                    input={"prefix": "[", "suffix": "]"},
                    bindings=[InputBinding(param="text", origin="src")],
                ),
            ],
        )

    text_src, bytes_src, text_done = (threading.Event() for _ in range(3))
    write_stage = stage_store.write_stage

    def hooked(df, root, pipeline_slug, processing_id, block_slug):
        out = write_stage(df, root, pipeline_slug, processing_id, block_slug)
        if block_slug == "src" and pipeline_slug == "kinds-text":
            text_src.set()
            assert bytes_src.wait(120)
        elif block_slug == "src" and pipeline_slug == "kinds-bytes":
            bytes_src.set()
            assert text_done.wait(120)
        return out

    monkeypatch.setattr(stage_store, "write_stage", hooked)
    runner = PipelineRunner(spark, str(tmp_path))
    results: dict[str, object] = {}

    def run(slug: str, file, done: threading.Event | None = None):
        try:
            res = runner.run(spec(slug), request_input={"src": {"file": file}})
            results[slug] = res.output.first().payload_str
        except Exception as e:  # noqa: BLE001 - reported by the asserts
            results[slug] = e
        finally:
            if done is not None:
                done.set()

    text = threading.Thread(target=run, args=("kinds-text", "hello", text_done))
    text.start()
    assert text_src.wait(120)
    raw = threading.Thread(target=run, args=("kinds-bytes", b"hello"))
    raw.start()
    text.join(180)
    raw.join(180)
    assert results == {"kinds-text": "[hello]", "kinds-bytes": "[hello]"}


def _stage_rows(runner, spec: PipelineSpec, res, slug: str) -> list[tuple]:
    from data_pipelines_worker_spark.sources import stage_store

    stage = stage_store.read_stage(
        runner.spark,
        runner.store_root,
        spec.slug,
        res.processing_id,
        slug,
        stage_store.STAGE_SCHEMA,
    )
    return sorted(
        (r.input_index, r.output_index, r.payload_str) for r in stage.collect()
    )


def test_merge_broadcasts_scalar_origin_to_every_fanout_index(runner):
    # MergeMaps: a 1-row origin ($.language) merged with a 3-index fan-out
    # origin — every index inherits the scalar
    spec = PipelineSpec(
        slug="scalar-broadcast",
        blocks=[
            BlockSpec(id="upload_file", slug="transcription"),
            BlockSpec(
                id="wrap_text",
                slug="wrap",
                input={"suffix": "!"},
                bindings=[
                    InputBinding(param="prefix", origin="transcription", json_path="$.language"),
                    InputBinding(
                        param="text", origin="transcription", json_path="$.segments[*].text"
                    ),
                ],
                fan_out=True,
            ),
        ],
    )
    res = runner.run(spec, request_input={"transcription": {"file": TRANSCRIPTION}})
    assert _stage_rows(runner, spec, res, "wrap") == [
        (0, 0, "englishall the lonely people!"),
        (1, 0, "englishwhere do they all come from!"),
        (2, 0, "englishah look at all the lonely people!"),
    ]


def test_wildcard_fanout_numbers_matches_across_buffers(runner):
    # a wildcard path over a 2-buffer origin (2 and 3 segments): indices
    # 0..4 run over the concatenated matches in buffer order
    docs = [
        json.dumps({"segments": [{"text": f"doc{d} seg{s}"} for s in range(n)]})
        for d, n in enumerate((2, 3))
    ]
    spec = PipelineSpec(
        slug="wildcard-buffers",
        blocks=[
            BlockSpec(id="upload_file", slug="docs", fan_out=True),
            BlockSpec(
                id="wrap_text",
                slug="seg",
                bindings=[
                    InputBinding(param="text", origin="docs", json_path="$.segments[*].text")
                ],
                fan_out=True,
            ),
        ],
    )
    res = runner.run(spec, request_input={"docs": {"file": docs}})
    assert _stage_rows(runner, spec, res, "seg") == [
        (0, 0, "doc0 seg0"),
        (1, 0, "doc0 seg1"),
        (2, 0, "doc1 seg0"),
        (3, 0, "doc1 seg1"),
        (4, 0, "doc1 seg2"),
    ]


def test_gather_orders_by_input_then_output_index(runner):
    # array_input with a scalar json_path over a 1→N stage fed by a 2-item
    # fan-out: the path applies per output, the gather orders by
    # (input_index, output_index) — not by value
    spec = PipelineSpec(
        slug="gather-order",
        blocks=[
            BlockSpec(id="upload_file", slug="src", fan_out=True),
            BlockSpec(
                id="split_string",
                slug="split",
                input={"separator": " "},
                bindings=[InputBinding(param="text", origin="src")],
            ),
            BlockSpec(
                id="join_strings",
                slug="join",
                input={"separator": " "},
                bindings=[
                    InputBinding(
                        param="strings", origin="split", json_path="$.w", array_input=True
                    )
                ],
            ),
        ],
    )
    items = ['{"w":"z"} {"w":"y"}', '{"w":"x"} {"w":"w"} {"w":"v"}']
    res = runner.run(spec, request_input={"src": {"file": items}})
    assert [r[1] for r in _stage_rows(runner, spec, res, "split")] == [0, 1, 0, 1, 2]
    assert res.output.first().payload_str == "z y x w v"


def test_params_follow_insertion_order(spark, tmp_path, monkeypatch):
    # bindings, then the static input, then the request keys — in the
    # order each lists them, whatever the process's string hash seed
    from pyspark.sql import functions as F

    from data_pipelines_worker_spark.plans import compiler

    monkeypatch.setattr(compiler, "_BLOCKS", dict(compiler._BLOCKS))
    seen: dict[str, list[str]] = {}

    @compiler._block("capture_params")
    def _capture_params(runner, block, df, params):
        seen["params"] = [k for k in params if not k.startswith("__")]
        return df.select("input_index", F.lit("ok").alias("payload_str")), False

    @compiler.df_operator(
        "capture_columns", ("zeta", "alpha", "mid", "beta", "omega", "aardvark")
    )
    def _capture_columns(runner, df, block):
        seen["columns"] = df.columns
        return df.select("input_index", F.lit("ok").alias("payload_str"))

    def capture(block_id: str) -> BlockSpec:
        return BlockSpec(
            id=block_id,
            slug=block_id,
            input={"mid": "m", "beta": "b"},
            bindings=[
                InputBinding(param="zeta", origin="src"),
                InputBinding(param="alpha", origin="src"),
            ],
        )

    spec = PipelineSpec(
        slug="param-order",
        blocks=[
            BlockSpec(id="upload_file", slug="src"),
            capture("capture_params"),
            capture("capture_columns"),
        ],
    )
    request = {"omega": "o", "aardvark": "a"}
    PipelineRunner(spark, str(tmp_path)).run(
        spec,
        request_input={
            "src": {"file": "hello"},
            "capture_params": request,
            "capture_columns": request,
        },
    )
    order = ["zeta", "alpha", "mid", "beta", "omega", "aardvark"]
    assert seen["params"] == order
    assert seen["columns"] == ["input_index", *order]


def test_frame_operator_materialises_only_its_columns(spark, tmp_path, monkeypatch):
    # a static or request key the adapter reads from cfg stays out of the
    # frame that crosses into its Python stage; a key it reads as a column
    # is materialised even when its value is static
    from pyspark.sql import functions as F

    from data_pipelines_worker_spark.plans import compiler

    monkeypatch.setattr(compiler, "_BLOCKS", dict(compiler._BLOCKS))
    seen: dict[str, list[str]] = {}

    @compiler.df_operator("say", ("text", "voice"))
    def _say(runner, df, cfg):
        seen["columns"] = df.columns
        seen["speed"] = cfg["speed"]
        return df.select("input_index", F.col("text").alias("payload_str"))

    spec = PipelineSpec(
        slug="cfg-keys",
        blocks=[
            BlockSpec(id="upload_file", slug="src"),
            BlockSpec(
                id="say",
                slug="say",
                input={"speed": 1.5, "voice": "alloy", "model": "m"},
                bindings=[InputBinding(param="text", origin="src")],
            ),
        ],
    )
    res = PipelineRunner(spark, str(tmp_path)).run(
        spec, request_input={"src": {"file": "hello"}, "say": {"format": "mp3"}}
    )
    assert seen["columns"] == ["input_index", "text", "voice"]
    assert seen["speed"] == 1.5
    assert res.output.first().payload_str == "hello"


def test_frame_operator_bound_param_follows_input_priority(spark, tmp_path, monkeypatch):
    # request > binding > static holds for a bound parameter of a frame
    # adapter too: a request value overrides the binding column, and a
    # null binding value falls back to the static input
    from pyspark.sql import functions as F

    from data_pipelines_worker_spark.plans import compiler

    monkeypatch.setattr(compiler, "_BLOCKS", dict(compiler._BLOCKS))

    @compiler.df_operator("echo_text", ("text",))
    def _echo_text(runner, df, cfg):
        return df.select("input_index", F.col("text").alias("payload_str"))

    def spec(json_path: str | None) -> PipelineSpec:
        return PipelineSpec(
            slug="bound-priority",
            blocks=[
                BlockSpec(id="upload_file", slug="src"),
                BlockSpec(
                    id="echo_text",
                    slug="echo",
                    input={"text": "from-static"},
                    bindings=[
                        InputBinding(param="text", origin="src", json_path=json_path)
                    ],
                ),
            ],
        )

    runner = PipelineRunner(spark, str(tmp_path))
    src = {"src": {"file": '{"t": "from-binding"}'}}

    def echoed(json_path, request):
        res = runner.run(spec(json_path), request_input={**src, **request})
        return res.output.first().payload_str

    assert echoed("$.t", {}) == "from-binding"
    assert echoed("$.t", {"echo": {"text": "from-request"}}) == "from-request"
    assert echoed("$.missing", {}) == "from-static"


def test_pipeline_e2e_query_leaves_no_stage_lake(spark, sf_dir):
    # the registered query runs its pipeline in a temporary stage lake and
    # returns the output row without it: building and collecting the query
    # leaves no dpws_stages_* directory behind
    import glob
    import os
    import tempfile

    from data_pipelines_worker_spark.queries import load_all

    pattern = os.path.join(tempfile.gettempdir(), "dpws_stages_*")
    before = set(glob.glob(pattern))
    fn, _oracle = load_all()["pipeline_e2e"]
    out = fn(spark, sf_dir)
    assert out.dtypes == [
        ("input_index", "bigint"),
        ("output_index", "bigint"),
        ("payload_str", "string"),
    ]
    assert len(out.collect()) == 1
    assert set(glob.glob(pattern)) <= before
