"""Submit-time spec validation + declared-schema cast kernel tests
(reference parity: pipeline_registry.go:63-84 document validation,
block.go:163-183 input validation, json_schema.go:52-143 CastDataToType,
block.go:287-296 failed-cast→string fallback)."""

from __future__ import annotations

import json
from pathlib import Path

import pytest

from data_pipelines_worker_spark.functions.schema_cast import (
    SchemaCastError,
    cast_data_to_type,
    cast_with_fallback,
)
from data_pipelines_worker_spark.plans.compiler import BlockSpec, PipelineSpec
from data_pipelines_worker_spark.plans.validation import (
    BLOCK_CONFIG_DEFAULTS,
    BLOCK_INPUT_SCHEMAS,
    SpecValidationError,
)

from conftest import REFERENCE_PIPELINES

#: Pipeline specs committed to this repo (the benchmark's yt-short spine
#: and wrap-join flows).
REPO_PIPELINES = Path(__file__).resolve().parents[1] / "perfbench" / "specs"


def _doc(**overrides):
    base = {
        "slug": "valid-spec",
        "title": "A valid test pipeline",
        "description": "A minimal but fully valid pipeline document.",
        "blocks": [
            {
                "id": "upload_file",
                "slug": "up",
                "description": "Ingest the request payload into a stage.",
                "input": {},
            },
            {
                "id": "wrap_text",
                "slug": "w",
                "description": "Wrap the uploaded text in a prefix/suffix.",
                "input": {"prefix": "<"},
                "input_config": {"property": {"text": {"origin": "up"}}},
            },
        ],
    }
    base.update(overrides)
    return base


def test_all_shipped_reference_pipelines_validate():
    # every pipeline spec committed here, and every pipeline the reference
    # ships when its tree is mounted, must pass our gate — never an empty
    # glob
    paths = sorted(REPO_PIPELINES.glob("*.json"))
    assert paths, REPO_PIPELINES
    if REFERENCE_PIPELINES.is_dir():
        shipped = sorted(REFERENCE_PIPELINES.glob("*.json"))
        assert shipped, REFERENCE_PIPELINES
        paths += shipped
    for p in paths:
        PipelineSpec.from_json(json.loads(p.read_text()))


def test_valid_doc_passes():
    spec = PipelineSpec.from_json(_doc())
    assert [b.slug for b in spec.blocks] == ["up", "w"]


def test_missing_title_and_description_rejected():
    doc = _doc()
    del doc["title"], doc["description"]
    with pytest.raises(SpecValidationError) as e:
        PipelineSpec.from_json(doc)
    assert "title" in str(e.value) and "description" in str(e.value)


def test_bad_slug_pattern_rejected():
    with pytest.raises(SpecValidationError, match="does not match"):
        PipelineSpec.from_json(_doc(slug="has spaces!"))


def test_unknown_block_id_rejected():
    doc = _doc()
    doc["blocks"][0]["id"] = "no_such_block"
    with pytest.raises(SpecValidationError, match="unknown block id"):
        PipelineSpec.from_json(doc)


def test_downstream_origin_rejected():
    # wiring must be a DAG over declaration order (pipeline.go:204-241)
    doc = _doc()
    doc["blocks"][0]["input_config"] = {"property": {"x": {"origin": "w"}}}
    with pytest.raises(SpecValidationError, match="not an upstream block"):
        PipelineSpec.from_json(doc)


def test_block_without_input_or_config_rejected():
    doc = _doc()
    del doc["blocks"][0]["input"]
    with pytest.raises(SpecValidationError):
        PipelineSpec.from_json(doc)


def test_required_param_neither_static_nor_bound_rejected():
    doc = _doc()
    doc["blocks"][1]["input_config"] = {"property": {"prefix": {"origin": "up"}}}
    doc["blocks"][1]["input"] = {}
    with pytest.raises(SpecValidationError, match="required input"):
        PipelineSpec.from_json(doc)


def test_static_input_enum_violation_rejected():
    doc = _doc()
    doc["blocks"].append(
        {
            "id": "openai_tts_request",
            "slug": "tts",
            "description": "Narrate the wrapped text as speech audio.",
            "input": {"voice": "not-a-voice"},
            "input_config": {"property": {"text": {"origin": "w"}}},
        }
    )
    with pytest.raises(SpecValidationError, match="not-a-voice"):
        PipelineSpec.from_json(doc)


def test_input_config_type_enum_rejected():
    doc = _doc()
    doc["blocks"][1]["input_config"]["type"] = "arr"
    with pytest.raises(SpecValidationError):
        PipelineSpec.from_json(doc)


def test_schema_defaults_applied():
    doc = _doc()
    doc["blocks"].append(
        {
            "id": "openai_tts_request",
            "slug": "tts",
            "description": "Narrate the wrapped text as speech audio.",
            "input": {},
            "input_config": {"property": {"text": {"origin": "w"}}},
        }
    )
    spec = PipelineSpec.from_json(doc)
    tts = spec.blocks[-1]
    assert tts.input["voice"] == "alloy" and tts.input["model"] == "tts-1"
    assert tts.input["speed"] == 1.0


def test_errors_are_collected_not_first_only():
    doc = _doc(slug="bad slug", title="x")
    doc["blocks"][0]["id"] = "nope"
    with pytest.raises(SpecValidationError) as e:
        PipelineSpec.from_json(doc)
    assert len(e.value.errors) >= 3


def test_validate_false_skips():
    doc = _doc()
    del doc["title"]
    PipelineSpec.from_json(doc, validate=False)  # no raise


# --- CastDataToType kernel (driver-side values) ----------------------------


def test_cast_scalars():
    assert cast_data_to_type("abc", {"type": "string"}) == "abc"
    assert cast_data_to_type(b"abc", {"type": "string"}) == "abc"
    assert cast_data_to_type(3.9, {"type": "integer"}) == 3  # float64 → int
    assert cast_data_to_type("4", {"type": "integer"}) == 4
    assert cast_data_to_type("2.5", {"type": "number"}) == 2.5
    assert cast_data_to_type(True, {"type": "boolean"}) is True
    assert cast_data_to_type("x", {"type": "null"}) is None


def test_cast_file_format_roundtrip():
    # json_schema.go:69-78 — format:"file" strings become bytes
    assert cast_data_to_type("hi", {"type": "string", "format": "file"}) == b"hi"
    assert cast_data_to_type(b"\x00\x01", {"type": "string", "format": "file"}) == b"\x00\x01"


def test_cast_array_recursive():
    schema = {"type": "array", "items": {"type": "integer"}}
    assert cast_data_to_type([1.0, "2", 3], schema) == [1, 2, 3]
    with pytest.raises(SchemaCastError, match="items"):
        cast_data_to_type([1], {"type": "array"})


def test_cast_object_recursive():
    schema = {
        "type": "object",
        "properties": {"n": {"type": "integer"}, "s": {"type": "string"}},
    }
    assert cast_data_to_type({"n": "5", "s": "x"}, schema) == {"n": 5, "s": "x"}


def test_cast_fallback_to_string():
    # block.go:287-296: failed cast keeps the string representation
    assert cast_with_fallback("not-an-int", {"type": "integer"}) == "not-an-int"
    assert cast_with_fallback([1], {"type": "boolean"}) == "[1]"


# --- config.yaml per-block defaults (GetBlockConfig MergeStructs layer) ----


def test_image_add_text_seeds_reference_defaults():
    # config/config.yaml:119-127 — font_size 50, black half-alpha
    # full-width bg rect, margin 10 (ADVICE r2: compiler previously fell
    # back to 12 / white / 1.0 / false)
    doc = _doc()
    doc["blocks"].append(
        {
            "id": "image_add_text",
            "slug": "titled",
            "description": "Stamp a title over the uploaded image.",
            "input": {"text": "T"},
            "input_config": {
                "property": {"image": {"origin": "up", "format": "file"}}
            },
        }
    )
    blk = PipelineSpec.from_json(doc).blocks[-1]
    assert blk.input["font_size"] == 50
    assert blk.input["font_color"] == "#000000"
    assert blk.input["text_position"] == "center-center"
    assert blk.input["text_bg_color"] == "#000000"
    assert blk.input["text_bg_alpha"] == 0.5
    assert blk.input["text_bg_all_width"] is True
    assert blk.input["text_bg_margin"] == 10


def test_config_defaults_overridden_by_user_input():
    doc = _doc()
    doc["blocks"].append(
        {
            "id": "image_blur",
            "slug": "soft",
            "description": "Blur the uploaded image a little bit.",
            "input": {"sigma": 0.25},
            "input_config": {
                "property": {"image": {"origin": "up", "format": "file"}}
            },
        }
    )
    spec = PipelineSpec.from_json(doc)
    assert spec.blocks[-1].input["sigma"] == 0.25


def test_audio_convert_seeds_config_defaults():
    # config.yaml:291-300
    doc = _doc()
    doc["blocks"].append(
        {
            "id": "audio_convert",
            "slug": "conv",
            "description": "Convert the uploaded audio to the default fmt.",
            "input": {},
            "input_config": {
                "property": {"audio": {"origin": "up", "format": "file"}}
            },
        }
    )
    blk = PipelineSpec.from_json(doc).blocks[-1]
    assert blk.input["format"] == "mp3"
    assert blk.input["mono"] is False
    assert blk.input["sample_rate"] == 44100


def test_hand_built_block_gets_the_json_defaults():
    # one default table: a block built in code ends up with the same
    # effective input as the same block read from a pipeline document
    for bid in sorted(set(BLOCK_CONFIG_DEFAULTS) | set(BLOCK_INPUT_SCHEMAS)):
        doc = {
            "slug": "defaults",
            "blocks": [{"id": bid, "slug": "b", "input": {"text": "T"}}],
        }
        from_json = PipelineSpec.from_json(doc, validate=False).blocks[0]
        assert BlockSpec(id=bid, slug="b", input={"text": "T"}).input == from_json.input
    chat = BlockSpec(id="openai_chat_completion", slug="story")
    assert chat.input["model"] == "gpt-4o-2024-08-06"
    assert chat.input["system_prompt"] == "You are a helpful assistant."
    assert BlockSpec(id="video_add_subtitles", slug="s").input["embedding_type"] == "mux"
    assert BlockSpec(id="join_strings", slug="j").input["separator"] == ""
