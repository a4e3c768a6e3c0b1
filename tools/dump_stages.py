"""Dump the rows and statuses of every stage the pipeline runner writes.

Usage::

    PYTHONHASHSEED=0 python tools/dump_stages.py <out.json>

Runs both ``perfbench/specs/*.json`` once through ``PipelineRunner`` with
perfbench's mock OpenAI and fixed inputs (:data:`REQUESTS`), then resumes
the yt-short run at ``image`` index 1 (a target-index merge), and reads
every stage back from the store with Spark's reader. The JSON is keyed by
run, then block slug; a stage is its sorted rows
``[input_index, output_index, payload_str, sha1(payload_bin), mime]`` and a
run's statuses are ``[block_slug, position, status, stopped_at]``.
A change that claims to leave the stage path's output as it was proves it
with a ``diff`` of this file from both checkouts.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.pipeline import MockOpenAI, load_specs, yt_prompt  # noqa: E402

#: one fixed request per spec
REQUESTS = {
    "yt-short": {"story": {"user_prompt": yt_prompt(3, "a quiet harbour at dawn")}},
    "wrap-join": {"src": {"file": ["alpha", "beta gamma", "delta", "epsilon zeta eta"]}},
}
#: the resume of the yt-short run: (start block, target index)
RESUME = ("image", 1)


def make_runner(spark, root: str, mock: MockOpenAI):
    """A ``PipelineRunner`` over ``root`` whose OpenAI blocks call ``mock``,
    and the parsed perfbench specs by slug."""
    from data_pipelines_worker_spark.operators.external import OpenAIClient, RetryPolicy
    from data_pipelines_worker_spark.plans.compiler import PipelineRunner, PipelineSpec

    client = OpenAIClient(mock.base_url, policy=RetryPolicy(max_retries=2, retry_delay=0.01))
    specs = {slug: PipelineSpec.from_json(doc) for slug, doc in load_specs().items()}
    return PipelineRunner(spark, root, openai_client=client), specs


def _stages(spark, root: str, spec, pid: str) -> dict:
    from data_pipelines_worker_spark.sources import run_log, stage_store

    out: dict = {"stages": {}}
    for block in spec.blocks:
        rows = stage_store.read_stage(
            spark, root, spec.slug, pid, block.slug, stage_store.STAGE_SCHEMA
        ).collect()
        out["stages"][block.slug] = sorted(
            [
                r.input_index,
                r.output_index,
                r.payload_str,
                None if r.payload_bin is None else hashlib.sha1(r.payload_bin).hexdigest(),
                r.mime,
            ]
            for r in rows
        )
    statuses = run_log.read_statuses(spark, root, spec.slug, pid).collect()
    out["statuses"] = sorted(
        [r.block_slug, r.position, r.status, r.stopped_at] for r in statuses
    )
    return out


def dump(spark, root: str) -> dict:
    mock = MockOpenAI(delay_s=0.0)
    try:
        runner, specs = make_runner(spark, root, mock)
        out = {}
        for slug, request in REQUESTS.items():
            pid = f"dump-{slug}"
            runner.run(specs[slug], request_input=request, processing_id=pid)
            out[slug] = _stages(spark, root, specs[slug], pid)
        start, index = RESUME
        runner.run(
            specs["yt-short"],
            processing_id="dump-yt-short",
            start_slug=start,
            target_index=index,
        )
        out["yt-short:resume"] = _stages(spark, root, specs["yt-short"], "dump-yt-short")
        return out
    finally:
        mock.close()


def main() -> int:
    if len(sys.argv) != 2:
        print("usage: dump_stages.py out.json")
        return 2
    from data_pipelines_worker_spark.session import get_spark

    spark = get_spark("dump-stages")
    with tempfile.TemporaryDirectory(prefix="dump_stages_") as root:
        out = dump(spark, root)
    with open(sys.argv[1], "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"wrote {sys.argv[1]}: {sum(len(r['stages']) for r in out.values())} stages")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
