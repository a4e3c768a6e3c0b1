"""Moderation control-flow tests: approve-all / decline-third /
regenerate-third, mirroring the reference functional suite
(test/functional/pipeline_test.go:1849, :2253, :2662) and the goto
semantics of pipeline.go:439-513."""

from __future__ import annotations

import json

import pytest

from data_pipelines_worker_spark.plans.compiler import (
    BlockSpec,
    InputBinding,
    ModerationPending,
    PipelineRunner,
    PipelineSpec,
)

DEC_SCHEMA = (
    "block_slug string, input_index long, action string, event_time long, "
    "event_id long, regenerate_block_slug string"
)


def _spec() -> PipelineSpec:
    return PipelineSpec(
        slug="moderated",
        blocks=[
            BlockSpec(id="upload_file", slug="src", fan_out=True),
            BlockSpec(
                id="wrap_text",
                slug="wrap",
                input={"prefix": "<", "suffix": ">"},
                bindings=[InputBinding(param="text", origin="src")],
            ),
            BlockSpec(
                id="send_moderation_tg",
                slug="review",
                bindings=[InputBinding(param="data", origin="wrap")],
            ),
            BlockSpec(
                id="fetch_moderation_tg",
                slug="gate",
                input={"regenerate_block_slug": "wrap"},
                bindings=[InputBinding(param="data", origin="wrap")],
            ),
            BlockSpec(
                id="join_strings",
                slug="join",
                input={"separator": " "},
                bindings=[InputBinding(param="strings", origin="wrap", array_input=True)],
            ),
        ],
    )


REQ = {"src": {"file": ["a", "b", "c", "d"]}}


def _decisions(spark, rows):
    return spark.createDataFrame(rows, DEC_SCHEMA)


def _runner(spark, tmp_path) -> PipelineRunner:
    return PipelineRunner(spark, str(tmp_path / "stages"))


def test_approve_all(spark, tmp_path):
    decs = _decisions(
        spark, [("gate", i, "approve", 100, i, None) for i in range(4)]
    )
    res = _runner(spark, tmp_path).run(_spec(), REQ, decisions=decs)
    assert res.stopped_at is None
    assert res.statuses == {
        "src": "completed",
        "wrap": "completed",
        "review": "completed",
        "gate": "completed",
        "join": "completed",
    }
    assert res.output.first().payload_str == "<a> <b> <c> <d>"


def test_send_moderation_payload(spark, tmp_path):
    decs = _decisions(
        spark, [("gate", i, "approve", 100, i, None) for i in range(4)]
    )
    runner = _runner(spark, tmp_path)
    res = runner.run(_spec(), REQ, decisions=decs)
    from data_pipelines_worker_spark.sources import stage_store

    review = stage_store.read_stage(
        spark, runner.store_root, "moderated", res.processing_id, "review"
    )
    rows = {r.input_index: json.loads(r.payload_str) for r in review.collect()}
    assert rows[2] == {"kind": "moderation_request", "data": "<c>"}


def test_decline_third_stops(spark, tmp_path):
    # short-form callbacks 'a'/'d' normalize like the Telegram payloads
    decs = _decisions(
        spark,
        [("gate", i, "a" if i != 2 else "d", 100, i, None) for i in range(4)],
    )
    res = _runner(spark, tmp_path).run(_spec(), REQ, decisions=decs)
    assert res.stopped_at == "gate"
    assert res.statuses["gate"] == "stopped"
    assert res.statuses["join"] == "skipped"
    acts = {r.input_index: json.loads(r.payload_str)["action"] for r in res.output.collect()}
    assert acts[2] == "decline" and acts[0] == "approve"


def test_regenerate_third_goto_loop(spark, tmp_path):
    first = [
        ("gate", 0, "approve", 100, 0, None),
        ("gate", 1, "approve", 100, 1, None),
        ("gate", 2, "regenerate", 100, 2, "wrap"),
        ("gate", 3, "approve", 100, 3, None),
    ]
    second = [("gate", i, "approve", 200, 10 + i, None) for i in range(4)]
    decs = _decisions(spark, first + second)
    res = _runner(spark, tmp_path).run(_spec(), REQ, decisions=decs)
    assert res.stopped_at is None
    # pass 2 rehydrated src, recomputed wrap@2, re-ran review/gate/join
    assert res.statuses["src"] == "loaded"
    assert res.statuses["wrap"] == "completed"
    assert res.statuses["gate"] == "completed"
    assert res.output.first().payload_str == "<a> <b> <c> <d>"


def test_regenerate_without_fresh_decisions_pends(spark, tmp_path):
    # offset advance consumes round-1 events; no round-2 approvals exist
    decs = _decisions(
        spark,
        [
            ("gate", 0, "approve", 100, 0, None),
            ("gate", 1, "approve", 100, 1, None),
            ("gate", 2, "regenerate", 100, 2, "wrap"),
            ("gate", 3, "approve", 100, 3, None),
        ],
    )
    with pytest.raises(ModerationPending) as e:
        _runner(spark, tmp_path).run(_spec(), REQ, decisions=decs)
    assert e.value.indices == [0, 1, 2, 3]


def test_missing_decisions_pend(spark, tmp_path):
    decs = _decisions(spark, [("gate", 0, "approve", 100, 0, None)])
    with pytest.raises(ModerationPending) as e:
        _runner(spark, tmp_path).run(_spec(), REQ, decisions=decs)
    assert e.value.indices == [1, 2, 3]


def test_last_decision_wins(spark, tmp_path):
    # decline then a later approve for the same index: approve wins (:218-219)
    decs = _decisions(
        spark,
        [("gate", i, "approve", 100, i, None) for i in range(4)]
        + [("gate", 1, "decline", 50, 99, None)],  # earlier ts loses
    )
    res = _runner(spark, tmp_path).run(_spec(), REQ, decisions=decs)
    assert res.stopped_at is None


def test_regenerate_target_must_be_upstream(spark, tmp_path):
    decs = _decisions(
        spark,
        [("gate", i, "approve" if i else "regenerate", 100, i, "join") for i in range(4)],
    )
    with pytest.raises(ValueError, match="upstream"):
        _runner(spark, tmp_path).run(_spec(), REQ, decisions=decs)


def test_target_index_resume_at_gate_keeps_other_indices(spark, tmp_path):
    # a resume at the moderation block recomputes index 1 only; the gate
    # stage it writes must merge with the stored decisions of the others
    from data_pipelines_worker_spark.sources import stage_store

    decs = _decisions(
        spark, [("gate", i, "approve", 100, i, None) for i in range(4)]
    )
    runner = _runner(spark, tmp_path)
    full = runner.run(_spec(), REQ, decisions=decs)
    res = runner.run(
        _spec(),
        processing_id=full.processing_id,
        start_slug="gate",
        target_index=1,
        decisions=decs,
    )
    assert res.statuses["gate"] == "completed"
    gate = stage_store.read_stage(
        spark,
        runner.store_root,
        "moderated",
        full.processing_id,
        "gate",
        stage_store.STAGE_SCHEMA,
    )
    rows = {r.input_index: json.loads(r.payload_str)["action"] for r in gate.collect()}
    assert rows == {0: "approve", 1: "approve", 2: "approve", 3: "approve"}
