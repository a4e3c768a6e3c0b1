"""End-to-end compiler query: a full pipeline run (spec → stages → result)
checked against a closed-form DuckDB oracle.

The pipeline is the reference's yt-short spine (fan-out of
``$.segments[*].text`` → wrap_text → array_input gather → join_strings) fed
with a transcription document built from ``documents.doc_id = 0``; wrapping
every word with ``- …!`` and joining with spaces equals
``'- ' || replace(text, ' ', '! - ') || '!'``.
"""

from __future__ import annotations

import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..plans.compiler import BlockSpec, InputBinding, PipelineRunner, PipelineSpec
from ..session import load_table, local_df
from . import register


def _spine_spec() -> PipelineSpec:
    return PipelineSpec(
        slug="yt-short-spine",
        blocks=[
            BlockSpec(id="upload_file", slug="transcription"),
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


@register(
    "pipeline_e2e",
    """
    SELECT CAST(0 AS BIGINT) AS input_index,
           CAST(0 AS BIGINT) AS output_index,
           '- ' || replace(text, ' ', '! - ') || '!' AS payload_str
    FROM documents WHERE doc_id = 0
    """,
)
def q_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    doc = load_table(spark, sf_dir, "documents").where(F.col("doc_id") == 0)
    transcription_json = doc.select(
        F.to_json(
            F.struct(
                F.transform(
                    F.split("text", " ", -1), lambda w: F.struct(w.alias("text"))
                ).alias("segments")
            )
        ).alias("j")
    ).first()[0]
    root = tempfile.mkdtemp(prefix="dpws_stages_")
    try:
        res = PipelineRunner(spark, root).run(
            _spine_spec(), request_input={"transcription": {"file": transcription_json}}
        )
        # the one output row leaves the stage lake before the lake is removed
        rows = res.output.select("input_index", "output_index", "payload_str").collect()
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return local_df(
        spark, rows, "input_index long, output_index long, payload_str string"
    )


def _subtitles_oracle() -> str:
    from ..functions.subtitles import ass_header

    # Dialogue times are constants for segment i: start=2i, end=2i+1.5.
    cases = []
    for i in range(3):
        st = f"{0:02d}:{0:02d}:{2 * i:02d}.{0:02d}"
        en = f"{0:02d}:{0:02d}:{2 * i + 1:02d}.{50:02d}"
        cases.append(
            f"CASE WHEN len(w) >= {i + 1} THEN chr(10) || "
            f"'Dialogue: 0,{st},{en},Default,,0,0,0,,' || w[{i + 1}] "
            f"ELSE '' END"
        )
    header = ass_header()
    return f"""
    SELECT doc_id, '{header}' || {" || ".join(cases)} AS ass
    FROM (SELECT doc_id, string_split(text, ' ')[1:3] AS w FROM documents)
    """


@register("subtitles_from_transcription", _subtitles_oracle())
def q_subtitles_from_transcription(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full subtitles_from_transcription build (go :129-196): per-document
    verbose-JSON transcription (first 3 words, 2 s cadence, 1.5 s duration)
    -> from_json -> transform(segments) -> complete ASS document. One
    codegen stage, no UDF; the JSON construct/parse roundtrip exercises the
    §1.4 nested schema."""
    from ..functions.subtitles import subtitles_from_transcription

    docs = load_table(spark, sf_dir, "documents")
    words = F.slice(F.split(F.col("text"), " ", -1), 1, 3)
    segments = F.transform(
        words,
        lambda w, i: F.struct(
            i.cast("long").alias("id"),
            (i.cast("double") * 2.0).alias("start"),
            (i.cast("double") * 2.0 + 1.5).alias("end"),
            w.alias("text"),
        ),
    )
    tr_json = F.to_json(F.struct(segments.alias("segments")))
    return docs.select(
        "doc_id", subtitles_from_transcription(tr_json).alias("ass")
    )
