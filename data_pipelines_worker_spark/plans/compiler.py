"""Pipeline-spec → DataFrame-program compiler + runner.

The reference's pipeline JSON (config/pipelines/*.json, validated by
config/pipelines_validation_schema.json) is a *logical plan description*:
an ordered list of block instances wired by the ``input_config`` dataflow
algebra (types/dataclasses/block.go:193-401, pipeline.go:204-635). This
module compiles such specs into DataFrame programs:

- every block's inputs are built declaratively (scan of upstream stage →
  JSONPath extraction → fan-out/zip/gather → priority coalesce) from the
  plan builders of ``operators/dataflow.py``, the one implementation of the
  input algebra (the catalogue's ``dataflow_queries`` gate the same
  functions against DuckDB oracles);
- every block id maps to one function in one registry, which turns the
  block's input rows and bound parameters into its output rows;
- every block's outputs are materialized to the stage store (checkpoint =
  resume/regenerate substrate, mirroring pipeline_block_data_registry.go):
  one collect job brings the rows to the driver as Arrow, the driver
  publishes them as the stage's one Parquet file
  (``stage_store.publish``), and the next block reads them from memory, a
  ``LocalTableScan`` in min(rows, defaultParallelism) partitions — one
  Python task per fan-out item, whatever the width of the block that
  wrote them;
- control flow the reference keeps above the operator layer (stop
  conditions pipeline.go:439-513, resume :157-201, target-index :358-377)
  runs driver-side between stages.

Catalyst owns everything inside a stage: a block's input assembly and its
operator plan run as one collect job. Blocks do not fuse across stages:
every block writes its own stage. A resume rehydrates the stages before
its start block with Spark's Parquet reader, where index filters push into
the scan.
"""

from __future__ import annotations

import uuid
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.json_path import json_path_array, json_path_scalar
from ..functions.strings import (
    format_string_from_object,
    join_strings,
    render_value,
    stop_condition,
    text_replace,
    wrap_text,
)
from ..operators import dataflow
from ..session import local_df
from ..sources import stage_store
from ..streaming.moderation import normalize_action
from .validation import apply_input_defaults, validate_pipeline_doc


# --- spec model (mirrors the pipeline JSON schema) --------------------------


@dataclass
class InputBinding:
    """``input_config.property.<param>`` (block.go:256-365)."""

    param: str
    origin: str
    json_path: str | None = None
    array_input: bool = False  # gather all origin outputs as one array
    binary: bool = False  # format:"file" → bind raw payload bytes
    # (CastDataToType, helpers/json_schema.go:69-78)


@dataclass
class BlockSpec:
    """One block instance (types/dataclasses/block.go:17-30)."""

    id: str  # operator type id (block registry key)
    slug: str
    input: dict[str, Any] = field(default_factory=dict)  # static params
    bindings: list[InputBinding] = field(default_factory=list)
    fan_out: bool = False  # input_config.type == "array" (block.go:245-254)

    def __post_init__(self):
        # schema and config defaults (separator, voice, ...) merged under
        # the static input (MergeStructs parity, block_wrap_text.go:60-63),
        # however the block was built
        self.input = apply_input_defaults(self.id, self.input)


@dataclass
class PipelineSpec:
    slug: str
    blocks: list[BlockSpec]

    @staticmethod
    def from_json(doc: dict, validate: bool = True) -> "PipelineSpec":
        """Parse (and by default validate) the reference's pipeline JSON.

        Validation mirrors the reference's submit-time gate
        (pipeline_registry.go:63-84 against
        config/pipelines_validation_schema.json + per-block SchemaStrings):
        malformed documents raise :class:`~.validation.SpecValidationError`
        here, not three blocks deep inside a Spark plan.
        """
        if validate:
            validate_pipeline_doc(doc, BLOCK_IDS)
        blocks = []
        for b in doc["blocks"]:
            cfg = b.get("input_config") or {}
            props = cfg.get("property") or {}
            bindings = [
                InputBinding(
                    param=param,
                    origin=spec["origin"],
                    json_path=spec.get("json_path"),
                    array_input=bool(spec.get("array_input", False)),
                    binary=spec.get("format") == "file",
                )
                for param, spec in props.items()
            ]
            blocks.append(
                BlockSpec(
                    id=b["id"],
                    slug=b["slug"],
                    input=b.get("input") or {},
                    bindings=bindings,
                    fan_out=cfg.get("type") == "array",
                )
            )
        return PipelineSpec(slug=doc["slug"], blocks=blocks)


# --- block registry ---------------------------------------------------------

# A block function takes the runner, the block, its input rows and its bound
# parameters and returns (output rows, stop). The rows carry input_index and
# any subset of the other canonical stage columns (_canonical null-fills the
# rest); stop is True when the block halts the run (stop_pipeline).
BlockFn = Callable[
    ["PipelineRunner", "BlockSpec", DataFrame, dict[str, Any]], tuple[DataFrame, bool]
]

_BLOCKS: dict[str, BlockFn] = {}


def _block(name: str):
    def deco(fn: BlockFn) -> BlockFn:
        _BLOCKS[name] = fn
        return fn

    return deco


def _text_rows(df: DataFrame, value: Column, *extra: Column) -> DataFrame:
    """One string payload per input row, at output_index 0."""
    return df.select(
        "input_index",
        F.lit(0).cast("long").alias("output_index"),
        value.cast("string").alias("payload_str"),
        *extra,
    )


def operator(name: str, explodes: bool = False):
    """Register a Column builder ``build(params) -> value column`` as a
    block: one string payload per input row, or with ``explodes`` one row
    per element of the array column the builder returns (1→N)."""

    def deco(build: Callable[[dict[str, Any]], Column]):
        @_block(name)
        def block_fn(runner, block, df, params):
            params["__dtypes"] = dict(df.dtypes)  # array-aware rendering
            value = build(params)
            if not explodes:
                return _text_rows(df, value), False
            out = df.select(
                "input_index", F.posexplode(value).alias("output_index", "payload_str")
            ).select(
                "input_index",
                F.col("output_index").cast("long"),
                F.col("payload_str").cast("string"),
            )
            return out, False

        return build

    return deco


def _p(params: dict[str, Column], name: str, default: str = "") -> Column:
    return params.get(name, F.lit(default))


@_block("upload_file")
def _upload(runner, block, df, params):
    # block_upload_file.go:49-102: identity ingest; empty input is an error
    # (surfaced as NULL here; the runner's status check treats it as failed)
    value = F.when(F.length(params["file"]) > 0, params["file"])
    if dict(df.dtypes).get("file") != "binary":
        return _text_rows(df, value), False
    # raw media ingest: payload stays binary, mime sniffed from magic bytes
    # (types/helpers/storage.go:10-26)
    out = df.select(
        "input_index",
        value.alias("payload_bin"),
        stage_store.sniff_mime(value).alias("mime"),
    )
    return out, False


@operator("wrap_text")
def _op_wrap(params):
    return wrap_text(params["text"], _p(params, "prefix"), _p(params, "suffix"))


@operator("text_replace")
def _op_replace(params):
    return text_replace(
        params["text"],
        params["old"],
        params["new"],
        _p(params, "prefix"),
        _p(params, "suffix"),
    )


@operator("join_strings")
def _op_join(params):
    return join_strings(params["strings"], params["__separator_literal"])


@operator("format_string_from_object")
def _op_format(params):
    # template must be a static literal (compile-time split, like the
    # reference's per-instance template in block input). Array-typed
    # variables (wildcard json_path bindings like $.tags[*]) render joined
    # with ", " (block_format_string_from_object.go:78-85).
    template = params["__template_literal"]
    dtypes = params.get("__dtypes") or {}
    mapping = {
        k: render_value(v, dtypes.get(k, "").startswith("array"))
        for k, v in params.items()
        if not k.startswith("__")
    }
    return format_string_from_object(template, mapping)


@_block("stop_pipeline")
def _stop_gate(runner, block, df, params):
    # condition kernel (helpers/condition.go:18-35): numeric comparison when
    # the comparand is numeric, else string. One take(1) decides the stop
    # before the stage is written.
    cfg = params["__block_input"]
    cond_op = str(cfg.get("condition", "=="))
    cmp_value = cfg.get("value")
    data = params["data"]
    if isinstance(cmp_value, (int, float)):
        flag = stop_condition(data.cast("double"), cond_op, float(cmp_value))
    else:
        flag = stop_condition(data.cast("string"), cond_op, str(cmp_value))
    out = _text_rows(df, data, flag.alias("__stop"))
    hits = out.where(F.col("__stop")).select("input_index").take(1)
    return out.drop("__stop"), bool(hits)


@operator("split_string", explodes=True)
def _op_split(params):
    # beyond-reference utility: 1→N split (audio_chunk's shape for text)
    sep = params.get("__separator_literal", " ")
    return F.split(params["text"], sep if isinstance(sep, str) else " ", -1)


@operator("send_message_tg")
def _op_send_message(params):
    # sink block (block_send_message_telegram.go:80-116): media-first
    # fallback — photo if an image is bound, else video, else plain text.
    # Output is the sent-message JSON; the side effect itself is a
    # foreachPartition/foreachBatch concern outside the plan.
    kind = F.coalesce(
        F.when(params["image"].isNotNull(), F.lit("photo")) if "image" in params else F.lit(None),
        F.when(params["video"].isNotNull(), F.lit("video")) if "video" in params else F.lit(None),
        F.lit("message"),
    )
    return F.to_json(
        F.struct(
            kind.alias("kind"),
            _p(params, "group_id").alias("group_id"),
            _p(params, "text").alias("text"),
        )
    )


@operator("send_moderation_tg")
def _op_send_moderation(params):
    # moderation-request sink (block_send_moderation_telegram.go:141-186):
    # emits the review message; the inline-keyboard metadata
    # (processing/block/index) is the stage row's own key columns. The
    # reviewed payload may arrive as `data` or `text` (flagship spec binds
    # `text`); bound media (image/video/audio) is flagged by kind — the
    # bytes themselves travel by stage reference, not through the message.
    data = params["data"] if "data" in params else params.get("text")
    media = None
    for k in ("image", "video", "audio"):
        if k in params:
            m = F.when(params[k].isNotNull(), F.lit(k))
            media = m if media is None else F.coalesce(media, m)
    gid = _p(params, "group_id")
    fields = [
        F.lit("moderation_request").alias("kind"),
        # present only when the block actually configures a chat: to_json
        # drops null fields, so unset/placeholder ("", "0") specs keep the
        # historical record shape and the transport's default chat applies
        F.when(~gid.cast("string").isin("", "0"), gid).alias("group_id"),
    ]
    if data is not None:
        fields.append(data.cast("string").alias("data"))
    if media is not None:
        fields.append(media.alias("media"))
    return F.to_json(F.struct(*fields))


@operator("subtitles_from_transcription")
def _op_subtitles(params):
    # pure column expression build (functions/subtitles.py); the 15 style
    # params are block *config* → compile-time literals, not data columns
    from ..functions.subtitles import ASS_STYLE_DEFAULTS, subtitles_from_transcription

    cfg = params["__block_input"]
    style = {k: v for k, v in cfg.items() if k in ASS_STYLE_DEFAULTS}
    return subtitles_from_transcription(
        params["transcription"], str(cfg["output_format"]), **style
    )


# --- DataFrame-level operators (media / external: Arrow-batched stages) -----

#: Blocks the reference gates to sequential per-index processing
#: (``parallel_available: false`` — config/config.yaml:107
#: openai_image_request, :238 join_videos, :249 video_add_audio, :260
#: video_add_subtitles, :291 audio_chunk, :302 audio_convert, :316
#: audio_from_video; :180 fetch_moderation_tg is driver-evaluated and
#: needs no stage gate). On Spark the analog is a bounded-width stage:
#: the block's input is repartitioned to its slot budget so at most
#: N concurrent tasks hit the rate-limited resource cluster-wide,
#: whatever the upstream fan-out width.
NON_PARALLEL_BLOCKS = frozenset(
    {
        "openai_image_request",
        "join_videos",
        "video_add_audio",
        "video_add_subtitles",
        "audio_chunk",
        "audio_convert",
        "audio_from_video",
    }
)


def df_operator(name: str, columns: tuple[str, ...]):
    """Register a frame adapter ``adapt(runner, df, cfg)`` as a block: the
    parameters it reads as ``columns`` arrive as columns of ``df``, the
    block's config as ``cfg``, its static input with the request's keys
    merged over it. Every other key stays in ``cfg`` only: a literal column
    would cross the Arrow boundary into the block's Python stage on every
    row."""

    def deco(adapt: Callable[["PipelineRunner", DataFrame, dict[str, Any]], DataFrame]):
        @_block(name)
        def block_fn(runner, block, df, params):
            cfg = params["__block_input"]
            for k, c in params.items():
                # a bound key is already a column of df; it is rewritten
                # only when a request or static value joins its priority
                # coalesce
                if k in columns and (k not in df.columns or k in cfg):
                    df = df.withColumn(k, c)
            if name in NON_PARALLEL_BLOCKS:
                # an explicit numbered repartition AQE will not re-widen: one
                # task (the reference's sequential per-index processing,
                # pipeline.go:607-624) unless the block's max_concurrency
                # input allows more
                df = df.repartition(max(1, int(cfg.get("max_concurrency", 1))))
            return adapt(runner, df, cfg), False

        return adapt

    return deco


@df_operator("image_resize", ("image",))
def _dfop_image_resize(runner, df, cfg):
    from ..operators import media

    return media.image_resize(
        df.withColumnRenamed("image", "payload_bin"),
        int(cfg["width"]),
        int(cfg["height"]),
        bool(cfg["keep_aspect_ratio"]),
    )


@df_operator("image_blur", ("image",))
def _dfop_image_blur(runner, df, cfg):
    from ..operators import media

    return media.image_blur(
        df.withColumnRenamed("image", "payload_bin"),
        float(cfg["sigma"]),
    )


@df_operator("image_add_text", ("image", "text"))
def _dfop_image_add_text(runner, df, cfg):
    from ..operators import media

    src = df.withColumnRenamed("image", "payload_bin")
    if "text" not in src.columns:
        src = src.withColumn("text", F.lit(str(cfg.get("text", ""))))
    return media.image_add_text(
        src,
        "text",
        font_size=int(cfg["font_size"]),
        text_position=str(cfg["text_position"]),
        # full style surface (block_image_add_text.go:182-189)
        margin=int(cfg["text_bg_margin"]),
        font_color=cfg["font_color"],
        bg_color=cfg["text_bg_color"],
        bg_alpha=float(cfg["text_bg_alpha"]),
        bg_all_width=bool(cfg["text_bg_all_width"]),
    )


@df_operator("video_from_image", ("image", "start", "end"))
def _dfop_video_from_image(runner, df, cfg):
    from ..operators import media

    # start/end come per-row when bound (flagship spec binds them from
    # $.segments[*].start/end), else from the block config.
    return media.video_from_image(
        df.withColumnRenamed("image", "payload_bin"),
        float(cfg["start"]),
        float(cfg["end"]),
        int(cfg["fps"]),
        start_col="start" if "start" in df.columns else None,
        end_col="end" if "end" in df.columns else None,
    )


@df_operator("join_videos", ("videos",))
def _dfop_join_videos(runner, df, cfg):
    from ..operators import media

    return media.join_videos(
        df.withColumnRenamed("videos", "payload_bin"),
        re_encode=bool(cfg["re_encode"]),
    )


@df_operator("video_add_audio", ("video", "audio"))
def _dfop_video_add_audio(runner, df, cfg):
    from ..operators import media

    out = media.video_add_audio(
        df,
        "video",
        "audio",
        bool(cfg["replace_original_audio"]),
    )
    return out.withColumnRenamed("video", "payload_bin")


@df_operator("video_add_subtitles", ("video", "subtitles"))
def _dfop_video_add_subtitles(runner, df, cfg):
    from ..operators import media

    return media.video_add_subtitles(
        df.withColumnRenamed("video", "payload_bin"),
        "subtitles",
        str(cfg["embedding_type"]),
    )


@df_operator("audio_from_video", ("video",))
def _dfop_audio_from_video(runner, df, cfg):
    from ..operators import media

    # the -1 defaults mean "no trim" (block_audio_from_video.go:111-116)
    return media.audio_from_video(
        df.withColumnRenamed("video", "payload_bin"),
        float(cfg["start"]),
        float(cfg["end"]),
    )


def _parse_go_duration(v) -> float:
    """Go ``time.ParseDuration`` strings ("10m", "1h30m", "90s", "250ms")
    → seconds (block_audio_chunk.go:94); bare numbers pass through."""
    if isinstance(v, (int, float)):
        return float(v)
    import re

    total, matched = 0.0, False
    for m in re.finditer(r"(\d+(?:\.\d+)?)(h|ms|m|s)", str(v).strip()):
        total += float(m.group(1)) * {"h": 3600.0, "m": 60.0, "s": 1.0, "ms": 0.001}[
            m.group(2)
        ]
        matched = True
    if not matched:
        return float(v)
    return total


def _parse_bitrate(v) -> int | None:
    """ffmpeg bitrate strings ("32k", "1M") → bits/s; ints pass through."""
    if v is None:
        return None
    if isinstance(v, (int, float)):
        return int(v)
    s = str(v).strip().lower()
    mult = 1
    if s.endswith("k"):
        mult, s = 1000, s[:-1]
    elif s.endswith("m"):
        mult, s = 1_000_000, s[:-1]
    return int(float(s) * mult)


@df_operator("audio_chunk", ("audio",))
def _dfop_audio_chunk(runner, df, cfg):
    from ..operators import media

    return media.audio_chunk(
        df.withColumnRenamed("audio", "payload_bin"),
        _parse_go_duration(cfg["duration"]),
    )


@df_operator("audio_convert", ("audio",))
def _dfop_audio_convert(runner, df, cfg):
    from ..operators import media

    sr = cfg["sample_rate"]
    # schema field is bit_rate (block_audio_convert.go:153): the "bitrate"
    # key of the shipped podcast JSON is ignored, as in the reference
    return media.audio_convert(
        df.withColumnRenamed("audio", "payload_bin"),
        format=str(cfg["format"]),
        mono=bool(cfg["mono"]),
        sample_rate=None if sr is None else int(sr),
        bit_rate=_parse_bitrate(cfg["bit_rate"]),
    )


@df_operator("http_request", ("url", "method", "headers", "query", "body"))
def _dfop_http_request(runner, df, cfg):
    from ..operators import external

    # per-row request shaping (block_http.go:69-91): method/headers/query/
    # body bind from upstream columns when present, values from the block
    # config otherwise
    out = external.http_request(
        df,
        url_col="url",
        method_col="method" if "method" in df.columns else None,
        headers=cfg.get("headers"),
        headers_col="headers" if "headers" in df.columns else None,
        query_col="query" if "query" in df.columns else None,
        body_col="body" if "body" in df.columns else None,
        policy=runner.http_policy,
        on_error=str(cfg.get("on_error", "fail")),
    )
    # textual bodies surface as payload_str too, so downstream json_path /
    # string bindings work (HandleResultValue semantics, block.go:502-519)
    textual = F.col("mime").rlike("^(text/|application/(json|xml))")
    return out.withColumn(
        "payload_str", F.when(textual, F.col("payload_bin").cast("string"))
    )


@df_operator("openai_chat_completion", ("user_prompt", "system_prompt"))
def _dfop_chat(runner, df, cfg):
    from ..operators import external

    out = external.openai_chat_completion(
        df,
        runner.require_openai(),
        user_prompt_col="user_prompt",
        system_prompt_col="system_prompt" if "system_prompt" in df.columns else None,
        model=str(cfg["model"]),
        response_format=str(cfg.get("response_format", "text")),
    )
    return out.withColumnRenamed("completion", "payload_str")


@df_operator("openai_tts_request", ("text",))
def _dfop_tts(runner, df, cfg):
    from ..operators import external

    return external.openai_tts_request(
        df,
        runner.require_openai(),
        text_col="text",
        model=str(cfg["model"]),
        voice=str(cfg["voice"]),
        response_format=str(cfg["response_format"]),
        speed=float(cfg["speed"]),
    )


@df_operator("openai_transcription_request", ("audio",))
def _dfop_transcription(runner, df, cfg):
    from ..operators import external

    out = external.openai_transcription_request(
        df,
        runner.require_openai(),
        audio_col="audio",
        model=str(cfg["model"]),
        language=str(cfg["language"]),
        response_format=str(cfg["format"]),
    )
    return out.withColumnRenamed("transcription", "payload_str")


@df_operator("openai_image_request", ("prompt",))
def _dfop_image_request(runner, df, cfg):
    from ..operators import external

    # stage width already bounded by df_operator's NON_PARALLEL_BLOCKS gate
    return external.openai_image_request(
        df,
        runner.require_openai(),
        prompt_col="prompt",
        quality=str(cfg["quality"]),
        size=str(cfg["size"]),
        model=str(cfg.get("model", "dall-e-3")),
    )


_MODERATION_FETCH = "fetch_moderation_tg"  # runner-evaluated control block

#: Every block id a pipeline may name.
BLOCK_IDS = frozenset(_BLOCKS) | {_MODERATION_FETCH}


@dataclass
class Decision:
    input_index: int
    action: str
    event_time: Any
    event_id: int
    regenerate_block_slug: str | None = None


class ModerationPending(Exception):
    """No (post-cursor) decision for an index — the reference's 50×10 s
    retry-if-unknown budget exhausting (config.yaml:184-186). ``cursors``
    are the run's decision cursors at that moment: a run resumed at the
    gate with them does not consume the same decisions twice."""

    def __init__(self, block_slug: str, indices: list[int], cursors: dict[str, tuple]):
        self.block_slug = block_slug
        self.indices = indices
        self.cursors = cursors
        super().__init__(f"moderation pending at {block_slug} for indices {indices}")


@dataclass
class _Regenerate:
    goto_slug: str
    goto_index: int


@dataclass
class RunResult:
    processing_id: str
    statuses: dict[str, str]  # block_slug -> 'completed' | 'stopped' | 'skipped'
    stopped_at: str | None
    output: DataFrame | None  # last completed block's stage


# --- runner -----------------------------------------------------------------


def _data_lit(values: dict[str, Any], k: str) -> Column | None:
    """``values[k]`` as a literal column; None where the key is unset or its
    value is a dict — block *configuration* (extra_decisions, Telegram
    keyboard config) that stays in ``__block_input`` only."""
    v = values.get(k, {})
    return None if isinstance(v, dict) else F.lit(v)


#: Canonical stage columns and types (SURVEY §7 stage schema; mirrors
#: pipeline_block_data_registry.go:296-297 payload + mime-extension layout).
_STAGE_TYPES = {
    "input_index": "long",
    "output_index": "long",
    "payload_str": "string",
    "payload_bin": "binary",
    "mime": "string",
}


def _canonical(df: DataFrame) -> DataFrame:
    """A block's output as the canonical stage columns: a missing
    output_index is 0, any other missing column null."""
    fill = {"output_index": F.lit(0)}
    return df.select(
        *[
            (F.col(c) if c in df.columns else fill.get(c, F.lit(None))).cast(t).alias(c)
            for c, t in _STAGE_TYPES.items()
        ]
    )


@dataclass
class _Run:
    """One run's state (all its passes). The runner is shared by the API's
    concurrent processing threads, so none of this lives on the runner."""

    spec: PipelineSpec
    processing_id: str
    request_input: dict[str, dict[str, Any]]
    decisions: DataFrame | None
    #: per moderation block: the last consumed decision event
    cursors: dict[str, tuple] = field(default_factory=dict)
    statuses: dict[str, str] = field(default_factory=dict)
    #: payload kind per stage slug (True = binary), see stage_is_binary
    kinds: dict[str, bool] = field(default_factory=dict)

    def stage_is_binary(self, slug: str, src: DataFrame) -> bool:
        """Whether a stage's payload is binary (file-typed in the reference).

        The reference binds by the *stored output's* type — a TTS/image stage
        hands bytes downstream without the spec saying ``format:"file"``
        (GetInputConfigData, block.go:193-254). ``kinds`` is the run's own
        verdict per origin slug: ``_write`` records text for stages whose
        operator emitted no payload bytes. Where it is unknown (a rehydrated
        stage, an operator that emits payload_bin) the kind is decided from
        the data: one pruned ``take(1)`` on payload_bin, cached for the run.
        """
        if slug not in self.kinds:
            self.kinds[slug] = bool(src.where(F.col("payload_bin").isNotNull()).take(1))
        return self.kinds[slug]


class PipelineRunner:
    """Executes a PipelineSpec block-by-block with per-stage materialization.

    Mirrors PipelineData.Process (pipeline.go:146-641): resume loads prior
    stage outputs (:195-201), target_index skips other fan-out indices
    (:358-377), stop conditions halt the run (:439-513).
    """

    def __init__(
        self,
        spark: SparkSession,
        store_root: str,
        openai_client=None,
        http_policy=None,
    ):
        from ..operators.external import RetryPolicy

        self.spark = spark
        self.store_root = store_root
        self.openai_client = openai_client
        self.http_policy = http_policy or RetryPolicy()

    def require_openai(self):
        if self.openai_client is None:
            raise RuntimeError(
                "pipeline uses an OpenAI block; pass openai_client= to "
                "PipelineRunner (tests: point it at a mock server)"
            )
        return self.openai_client

    # -- input assembly (GetInputConfigData, block.go:193-401) --------------

    def _bind_origin(
        self,
        run: _Run,
        stages: dict[str, DataFrame],
        b: InputBinding,
        fan_out: bool,
    ) -> DataFrame:
        """One binding → DataFrame(input_index, <param>)."""
        src = stages[b.origin]
        # "$" / absent path = the whole payload (oliveagle jsonpath identity)
        path = b.json_path if b.json_path not in (None, "$") else None
        if b.binary or (path is None and run.stage_is_binary(b.origin, src)):
            # raw payload bytes: explicit format:"file" (json_schema.go:69-78)
            # or a binary-producing origin (tts/image/video stages). For
            # array_input over binary stages the rows bind as-is — the
            # consuming operator (join_videos) does the ordered gather
            # itself, so collecting an array<binary> here would only force
            # a second pass over the payload bytes.
            return src.select(F.col("input_index"), F.col("payload_bin").alias(b.param))
        if b.array_input:
            # gather: ALL origin outputs as one array value, output order
            # (block.go:274-276,306-336). A scalar json_path applies per
            # output BEFORE the gather (podcast-summary.json gathers
            # "$.text" of every chunk transcription — block.go:306-336
            # routes each buffer through the same JSONPath lookup).
            v = json_path_scalar(F.col("payload_str"), path) if path else F.col("payload_str")
            return dataflow.gather(
                src, [], v, order=("input_index", "output_index"), out_name=b.param
            ).select(F.lit(0).cast("long").alias("input_index"), b.param)
        if b.json_path and "[*]" in b.json_path:
            arr = json_path_array(F.col("payload_str"), b.json_path)
            if fan_out:
                # wildcard fan-out: indices run over the concatenation of
                # every origin buffer's matches
                return dataflow.fan_out_buffers(src, arr, b.param)
            return src.select(F.col("input_index"), arr.alias(b.param))
        if path:
            val = json_path_scalar(F.col("payload_str"), path)
        else:
            val = F.col("payload_str")
        return src.select(F.col("input_index"), val.alias(b.param))

    def _build_inputs(
        self, run: _Run, block: BlockSpec, stages: dict[str, DataFrame]
    ) -> tuple[DataFrame, dict[str, Any]]:
        """Assemble the block's input rows + bound parameter columns.

        Priority per parameter: request input > binding-derived > static
        block input (GetInputDataByPriority, pipeline.go:281-305). Parameters
        follow insertion order — bindings, then the static input, then the
        request keys — so a spec compiles to the same plan in every process.
        """
        df: DataFrame | None = None
        params: dict[str, Column] = {}
        for b in block.bindings:
            part = self._bind_origin(run, stages, b, block.fan_out)
            params[b.param] = F.col(b.param)
            # positional merge of origins (MergeMaps, block.go:404-500):
            # missing values inherited from the previous row (scalar-vs-array
            # broadcast fill)
            df = part if df is None else dataflow.zip_merge(df, part, [], fill_forward=True)
        req = run.request_input.get(block.slug, {})
        if df is None:
            # no bindings: the seed rows are a request fan-out (multipart
            # "field[]" arrays, api/schemas/pipelines.go:117-122), a single
            # raw-bytes request value (one multipart file without fan-out,
            # e.g. podcast-summary's upload) or one index-0 row. Bytes bind
            # as a binary COLUMN so the binary-ingest path sees their type —
            # an F.lit param would coerce to string downstream.
            lists = [
                (k, v) for k, v in {**block.input, **req}.items() if isinstance(v, list)
            ]
            raw = [(k, [v]) for k, v in req.items() if isinstance(v, (bytes, bytearray))]
            seed = lists[0] if block.fan_out and lists else raw[0] if raw else None
            if seed is None:
                # one partition (local_df): a range would hand the block's
                # Python tasks defaultParallelism - 1 empty ones
                df = local_df(self.spark, [(0,)], "input_index long")
            else:
                k0, values = seed
                binary = bool(values) and isinstance(values[0], (bytes, bytearray))
                df = local_df(
                    self.spark,
                    [(i, bytes(x) if binary else str(x)) for i, x in enumerate(values)],
                    f"input_index long, {k0} {'binary' if binary else 'string'}",
                )
                params[k0] = F.col(k0)
                req = {k: v for k, v in req.items() if k != k0}

        for k in dict.fromkeys([*block.input, *req]):
            if k in ("template", "separator", "condition", "value"):
                # plan-time literals consumed by the operator builder /
                # stop-condition kernel, not data columns
                continue
            # priority coalesce: request > binding-derived > static default
            value = dataflow.coalesce_priority(
                _data_lit(req, k), params.get(k), _data_lit(block.input, k)
            )
            if value is not None:
                params[k] = value
        merged_static = {**block.input, **req}
        if "template" in merged_static:
            params["__template_literal"] = merged_static["template"]
        if "separator" in merged_static:
            params["__separator_literal"] = merged_static["separator"]
        params["__block_input"] = merged_static
        return df, params

    # -- execution -----------------------------------------------------------

    def run(
        self,
        spec: PipelineSpec,
        request_input: dict[str, dict[str, Any]] | None = None,
        processing_id: str | None = None,
        start_slug: str | None = None,
        target_index: int | None = None,
        decisions: DataFrame | None = None,
        max_regenerates: int = 50,
        cursors: dict[str, tuple] | None = None,
    ) -> RunResult:
        """Execute with the reference's outer control loop: a regenerate
        decision re-enters Process at (goto_slug, goto_index) with the same
        processing_id (pipeline.go:447-505); the decision cursor advances
        past consumed events (GetUpdates offset semantics,
        block_fetch_moderation_telegram.go:129-133,218-219). ``cursors``
        starts the cursors where a parked run's ModerationPending left
        them."""
        resuming = processing_id is not None and start_slug is not None
        run = _Run(
            spec,
            processing_id or uuid.uuid4().hex[:12],
            request_input or {},
            decisions,
            dict(cursors or {}),
        )
        cur_start, cur_target = start_slug, target_index
        final_stop: str | None = None
        try:
            for _ in range(max_regenerates + 1):
                res = self._run_pass(run, cur_start, cur_target, resuming)
                if isinstance(res, _Regenerate):
                    cur_start, cur_target = res.goto_slug, res.goto_index
                    resuming = True
                    continue
                final_stop = res.stopped_at
                return res
            raise RuntimeError(
                f"regenerate budget exhausted ({max_regenerates}, cf. retry_count "
                "config.yaml:184-186)"
            )
        finally:
            # defer-SavePipelineLog parity (pipeline.go:207-214): the status
            # snapshot persists however the run ends
            from ..sources import run_log

            run_log.write_status(
                self.spark,
                self.store_root,
                spec.slug,
                run.processing_id,
                run.statuses,
                [b.slug for b in spec.blocks],
                stopped_at=final_stop,
            )

    def _collect_decisions(self, run: _Run, block_slug: str) -> list[Decision]:
        """This processing's post-cursor decision events at one gate, in
        arrival order (driver-side: the decision table is human-scale
        control data, not payload data). Like the reference's callback
        filter (block_fetch_moderation_telegram.go:180-197), a decision
        counts only for the processing, gate and index it names."""
        if run.decisions is None:
            return []
        cursor = run.cursors.get(block_slug)
        cols = run.decisions.columns
        rows = (
            run.decisions.where(
                (F.col("processing_id") == run.processing_id)
                & (F.col("block_slug") == block_slug)
            )
            .withColumn("action", normalize_action(F.col("action")))
            .collect()
        )
        out: list[Decision] = []
        for r in rows:
            key = (r["event_time"], r["event_id"])
            if cursor is not None and key <= cursor:
                continue  # consumed by a previous poll (offset advanced)
            out.append(
                Decision(
                    input_index=int(r["input_index"]),
                    action=r["action"],
                    event_time=r["event_time"],
                    event_id=int(r["event_id"]),
                    regenerate_block_slug=(
                        r["regenerate_block_slug"]
                        if "regenerate_block_slug" in cols
                        else None
                    ),
                )
            )
        out.sort(key=lambda d: (d.event_time, d.event_id))
        return out

    def _eval_moderation(
        self, run: _Run, block: BlockSpec, df: DataFrame, recompute: int | None
    ) -> "tuple[DataFrame, bool] | _Regenerate":
        """fetch_moderation_tg (block_fetch_moderation_telegram.go:99-245):
        decline ⇒ stop (:237-240), regenerate ⇒ goto block+index (:241-245),
        approve ⇒ emit {processing_id, action} JSON per index."""
        indices = sorted(
            r["input_index"] for r in df.select("input_index").distinct().collect()
        )
        consumed = run.cursors.get(block.slug)
        events = self._collect_decisions(run, block.slug)
        # Poll-loop replay: consume events in arrival order and act at the
        # first moment every index has a decision (the reference's per-index
        # pollers all return) — later events stay unconsumed for the next
        # pass. Last-decision-wins *within* the consumed window (:218-219).
        decs: dict[int, Decision] = {}
        covered = False
        for d in events:
            if d.action != "unknown":
                decs[d.input_index] = d
            consumed = (d.event_time, d.event_id)
            if all(i in decs for i in indices):
                covered = True
                break
        if not covered:
            missing = [i for i in indices if i not in decs]
            run.statuses[block.slug] = "waiting_moderation"
            raise ModerationPending(block.slug, missing, run.cursors)
        run.cursors[block.slug] = consumed  # offset advance: events are acked
        declined = [i for i in indices if decs[i].action == "decline"]
        regen = [i for i in indices if decs[i].action == "regenerate"]
        out = local_df(
            self.spark,
            [
                (
                    int(i),
                    0,
                    f'{{"processing_id": "{run.processing_id}", "action": "{decs[i].action}"}}',
                )
                for i in indices
            ],
            "input_index long, output_index long, payload_str string",
        )
        out = self._write(run, out, block.slug, recompute)
        if declined:
            return out, True
        if regen:
            idx = regen[0]
            goto_slug = decs[idx].regenerate_block_slug or str(
                block.input.get("regenerate_block_slug", "")
            )
            slugs = [b.slug for b in run.spec.blocks]
            if goto_slug not in slugs or slugs.index(goto_slug) > slugs.index(
                block.slug
            ):
                raise ValueError(
                    f"regenerate target {goto_slug!r} must be an upstream block"
                )
            run.statuses[block.slug] = "regenerating"
            return _Regenerate(goto_slug, int(idx))
        return out, False

    def _run_pass(
        self,
        run: _Run,
        start_slug: str | None,
        target_index: int | None,
        resuming: bool,
    ) -> "RunResult | _Regenerate":
        spec = run.spec
        stages: dict[str, DataFrame] = {}
        start_pos = 0
        if start_slug is not None:
            start_pos = [b.slug for b in spec.blocks].index(start_slug)
        # resume: rehydrate prior stages lazily from the store
        # (pipeline.go:195-201 → LoadOutput)
        if resuming:
            for b in spec.blocks[:start_pos]:
                stages[b.slug] = stage_store.read_stage(
                    self.spark,
                    self.store_root,
                    spec.slug,
                    run.processing_id,
                    b.slug,
                    stage_store.STAGE_SCHEMA,
                )
                run.statuses[b.slug] = "loaded"

        stopped_at: str | None = None
        last_df: DataFrame | None = None
        try:
            for pos, block in enumerate(spec.blocks[start_pos:], start_pos):
                df, params = self._build_inputs(run, block, stages)
                # target-index recompute: only that fan-out index
                # (pipeline.go:358-377); other indices come from the stored
                # stage and are merged back when the stage is written. The
                # one index goes in one partition: filtered out of a
                # multi-partition stage it would leave every other
                # partition's task empty.
                recompute = (
                    target_index if pos == start_pos and start_slug is not None else None
                )
                if recompute is not None:
                    df = dataflow.target_index(df, recompute).coalesce(1)

                if block.id == _MODERATION_FETCH:
                    res = self._eval_moderation(run, block, df, recompute)
                    if isinstance(res, _Regenerate):
                        return res
                    out, stop = res
                else:
                    out, stop = _BLOCKS[block.id](self, block, df, params)
                    out = self._write(run, out, block.slug, recompute)
                stages[block.slug] = last_df = out
                run.statuses[block.slug] = "stopped" if stop else "completed"
                if stop:
                    stopped_at = block.slug
                    break
        except ModerationPending:
            raise
        except Exception:
            # the deferred snapshot names the block whose operator or stage
            # write raised; the blocks after it never ran
            run.statuses[block.slug] = "failed"
            for b in spec.blocks:
                run.statuses.setdefault(b.slug, "skipped")
            raise
        for b in spec.blocks:
            run.statuses.setdefault(b.slug, "skipped")
        return RunResult(
            processing_id=run.processing_id,
            statuses=run.statuses,
            stopped_at=stopped_at,
            output=last_df,
        )

    def _write(
        self, run: _Run, df: DataFrame, slug: str, recompute: int | None = None
    ) -> DataFrame:
        """Materialize a block's output stage and return it as an in-memory
        frame. With ``recompute`` set, ``df`` holds only that recomputed
        fan-out index and is merged with the stage's stored other indices.

        An output without a payload_bin column is a text stage — _canonical
        null-fills the column — so its kind needs no probe job; any other
        output's kind is left for stage_is_binary to find out.
        """
        if "payload_bin" in df.columns:
            run.kinds.pop(slug, None)
        else:
            run.kinds[slug] = False
        out = _canonical(df)
        if recompute is None:
            return stage_store.write_stage(
                out, self.store_root, run.spec.slug, run.processing_id, slug
            )
        return stage_store.merge_stage(
            out, self.store_root, run.spec.slug, run.processing_id, slug, recompute
        )
