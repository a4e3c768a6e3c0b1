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
    "processing_id string, block_slug string, input_index long, action string, "
    "event_time long, event_id long, regenerate_block_slug string"
)

#: the processing id the runner tests run under; their decisions name it
PID = "p1"


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


def _decisions(spark, rows, pid=PID):
    """Decision events for processing ``pid``; ``rows`` omit the id."""
    return spark.createDataFrame([(pid, *r) for r in rows], DEC_SCHEMA)


def tag_wrap_writes(monkeypatch) -> list[int]:
    """Make the spec's ``wrap`` block generative: every write of its stage
    appends ``#<n>`` to the rows it writes, n counting the writes, so two
    computations of the same index differ. Returns the (growing) list of
    write numbers."""
    from pyspark.sql import functions as F

    from data_pipelines_worker_spark.sources import stage_store

    writes: list[int] = []

    def tagged(write):
        def wrapper(df, root, pipeline_slug, processing_id, slug, *rest):
            if slug == "wrap":
                writes.append(len(writes) + 1)
                df = df.withColumn(
                    "payload_str", F.concat("payload_str", F.lit(f"#{len(writes)}"))
                )
            return write(df, root, pipeline_slug, processing_id, slug, *rest)

        return wrapper

    monkeypatch.setattr(stage_store, "write_stage", tagged(stage_store.write_stage))
    monkeypatch.setattr(stage_store, "merge_stage", tagged(stage_store.merge_stage))
    return writes


def _runner(spark, tmp_path) -> PipelineRunner:
    return PipelineRunner(spark, str(tmp_path / "stages"))


def test_approve_all(spark, tmp_path):
    decs = _decisions(
        spark, [("gate", i, "approve", 100, i, None) for i in range(4)]
    )
    res = _runner(spark, tmp_path).run(_spec(), REQ, processing_id=PID, decisions=decs)
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
    res = runner.run(_spec(), REQ, processing_id=PID, decisions=decs)
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
    res = _runner(spark, tmp_path).run(_spec(), REQ, processing_id=PID, decisions=decs)
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
    res = _runner(spark, tmp_path).run(_spec(), REQ, processing_id=PID, decisions=decs)
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
        _runner(spark, tmp_path).run(_spec(), REQ, processing_id=PID, decisions=decs)
    assert e.value.indices == [0, 1, 2, 3]


def test_missing_decisions_pend(spark, tmp_path):
    decs = _decisions(spark, [("gate", 0, "approve", 100, 0, None)])
    with pytest.raises(ModerationPending) as e:
        _runner(spark, tmp_path).run(_spec(), REQ, processing_id=PID, decisions=decs)
    assert e.value.indices == [1, 2, 3]


def test_last_decision_wins(spark, tmp_path):
    # decline then a later approve for the same index: approve wins (:218-219)
    decs = _decisions(
        spark,
        [("gate", i, "approve", 100, i, None) for i in range(4)]
        + [("gate", 1, "decline", 50, 99, None)],  # earlier ts loses
    )
    res = _runner(spark, tmp_path).run(_spec(), REQ, processing_id=PID, decisions=decs)
    assert res.stopped_at is None


def test_regenerate_target_must_be_upstream(spark, tmp_path):
    decs = _decisions(
        spark,
        [("gate", i, "approve" if i else "regenerate", 100, i, "join") for i in range(4)],
    )
    with pytest.raises(ValueError, match="upstream"):
        _runner(spark, tmp_path).run(_spec(), REQ, processing_id=PID, decisions=decs)


def test_target_index_resume_at_gate_keeps_other_indices(spark, tmp_path):
    # a resume at the moderation block recomputes index 1 only; the gate
    # stage it writes must merge with the stored decisions of the others
    from data_pipelines_worker_spark.sources import stage_store

    decs = _decisions(
        spark, [("gate", i, "approve", 100, i, None) for i in range(4)]
    )
    runner = _runner(spark, tmp_path)
    full = runner.run(_spec(), REQ, processing_id=PID, decisions=decs)
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


def test_decisions_count_only_for_their_processing(spark, tmp_path):
    # a decision names its processing: B of the same pipeline cannot pass
    # its gate on A's approvals (block_fetch_moderation_telegram.go:180-197)
    decs = _decisions(
        spark, [("gate", i, "approve", 100, i, None) for i in range(4)], pid="A"
    )
    runner = _runner(spark, tmp_path)
    assert runner.run(_spec(), REQ, processing_id="A", decisions=decs).stopped_at is None
    with pytest.raises(ModerationPending) as e:
        runner.run(_spec(), REQ, processing_id="B", decisions=decs)
    assert e.value.indices == [0, 1, 2, 3]


def test_resume_at_gate_with_cursors_consumes_only_new_decisions(spark, tmp_path):
    # a regenerate pends with its cursor past round 1; resuming at the gate
    # with those cursors consumes round 2 only and recomputes nothing
    first = [
        ("gate", i, "regenerate" if i == 2 else "approve", 100, i, "wrap" if i == 2 else None)
        for i in range(4)
    ]
    runner = _runner(spark, tmp_path)
    with pytest.raises(ModerationPending) as e:
        runner.run(_spec(), REQ, processing_id=PID, decisions=_decisions(spark, first))
    second = [("gate", i, "approve", 200, 10 + i, None) for i in range(4)]
    res = runner.run(
        _spec(),
        processing_id=PID,
        start_slug=e.value.block_slug,
        decisions=_decisions(spark, first + second),
        cursors=e.value.cursors,
    )
    assert res.stopped_at is None
    assert [res.statuses[s] for s in ("src", "wrap", "review")] == ["loaded"] * 3
    assert res.output.first().payload_str == "<a> <b> <c> <d>"
