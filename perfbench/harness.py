"""One benchmark run inside a fresh process (started by ``run.py``).

Usage: ``python -m perfbench.harness --workload W --seed N --seconds S
--trace 0|1 --workdir DIR --records DIR``

Prints a report of every metric by name and unit, writes the full run
record under ``--records`` and prints, as its last line, the JSON result
the benchmark contract asks for.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time

from . import procstat, trace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: catalogue workload: scale factor and sample size. The sample is drawn
#: from the light tier (time-ranked quantile midpoints, see
#: ``catalog.quantile_sample``); heavy-tier queries take 3-9 s per
#: execution on a 4-core host, and six executions per run of even one of
#: them do not fit the run budget.
CATALOG_SF = 0.001
CATALOG_SAMPLE = 6
WORKLOADS = ("catalog", "pipeline_api")

#: core-probe time (``procstat.core_probe_s``) of the reference core that
#: the timed metrics are scaled to
REFERENCE_PROBE_S = 0.008

#: end-to-end metrics in the last line (``--trace 0``), keys of the summary.
#: They are reported net of hypervisor steal, and the timed-phase ones at
#: the reference core speed (see ``gated_metrics``);
#: ``cpu_s`` leaves out the JVM's JIT compiler threads, reported apart as
#: ``engine.jit_cpu_s``: their CPU per timed pass swung by half between
#: runs of the same work as the compiler's timing-driven choices changed.
#: ``rss_peak_mb`` is reported but not among them: the JVM heap grows with
#: GC timing, and its peak spread 17-48% between seeds of the same code.
END_TO_END = ("setup_s", "cpu_s", "latency_p50_s", "work_s")

#: per-layer metrics in the last line (``--trace 1``). Each is measured on
#: both workloads or is a count; the layer times that only one workload
#: exercises (``queries.build_s``, ``plans.self_s``, ``sources.*_s``, ...)
#: are in the printed report and the run record.
PER_LAYER = (
    "session.start_s",
    "session.warm_s",
    *(f"engine.{k}" for k in trace.ENGINE_KEYS),
    "engine.gc_s",
    "engine.jit_cpu_s",
    "queries.build_jobs",
    "queries.leaked_rdds",
    "sources.stage_writes",
    "sources.stage_reads",
    "sources.stage_files",
    "sources.stage_bytes",
    "operators.external.requests",
    "operators.external.max_inflight",
    "api.inflight_mean",
)


UNITS = {"_s": "s", "_bytes": "bytes", "_mb": "MB", "_pps": "1/s", "_frac": "ratio"}


def unit_of(metric: str) -> str:
    return next((u for suffix, u in UNITS.items() if metric.endswith(suffix)), "count")


class Context:
    """What a workload needs from the harness: its seed, the run length,
    whether to trace, a working directory, and session/setup bookkeeping."""

    def __init__(self, args):
        self.seed, self.seconds, self.trace = args.seed, args.seconds, bool(args.trace)
        self.workdir = args.workdir
        self.setup_start: float | None = None
        self.setup_s: float | None = None
        self.session: dict[str, float] = {}
        self.spark = None
        self.t0 = time.monotonic()
        #: phase name → seconds since the run started, for the run record
        self.phases: dict[str, float] = {}

    def passes(self, nominal_pass_s: float) -> int:
        """Timed passes for ``--seconds``: a whole number of passes of the
        nominal length, so the timed work is fixed for a given ``--seconds``
        and does not depend on how fast the host runs it."""
        return max(1, math.ceil(self.seconds / nominal_pass_s))

    def mark(self, phase: str) -> None:
        self.phases[phase] = time.monotonic() - self.t0


    def make_tables(self, sf: float) -> str:
        from .datagen import write_tables

        out = os.path.join(self.workdir, f"sf{sf}")
        write_tables(out, sf, self.seed)
        self.mark("tables_written")
        return out

    def start_session(self):
        """Start the session and warm the Python workers; set-up time runs
        from here to :meth:`end_setup`."""
        from data_pipelines_worker_spark.session import get_spark

        self.mark("session_start")
        self.setup_demand0 = (sum(procstat.tree_cpu_by_kind().values()), procstat.steal_s())
        self.setup_start = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        from pyspark.sql.functions import col, pandas_udf

        ident = pandas_udf(lambda s: s, "long")
        parallelism = spark.sparkContext.defaultParallelism
        spark.range(64, numPartitions=parallelism).select(ident(col("id"))).count()
        self.session = {
            "session.start_s": t1 - self.setup_start,
            "session.warm_s": time.perf_counter() - t1,
        }
        self.spark = spark
        self.gc0 = trace.jvm_gc_s(spark)
        return spark

    def end_setup(self) -> None:
        self.setup_s = time.perf_counter() - self.setup_start
        cpu0, steal0 = self.setup_demand0
        self.setup_steal_share = procstat.steal_share(
            sum(procstat.tree_cpu_by_kind().values()) - cpu0, procstat.steal_s() - steal0
        )
        self.mark("setup_done")

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and with it its workers) to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        self.mark("stopped")


def run_workload(ctx: Context, workload: str) -> dict:
    if workload == "pipeline_api":
        from . import pipeline

        res = pipeline.run(ctx)
        res["summary"]["latency_p50_s"] = res["summary"]["yt_short_p50_s"]
        return res
    from . import catalog
    from data_pipelines_worker_spark.queries import load_all

    light, _heavy = catalog.tiers(ROOT, sorted(load_all()))
    res = catalog.run(ctx, catalog.quantile_sample(light, CATALOG_SAMPLE), CATALOG_SF)
    res["sf"] = CATALOG_SF
    res["summary"]["latency_p50_s"] = res["summary"]["query_p50_s"]
    res["summary"]["work_s"] = res["summary"]["catalog_s"]
    return res


def report_lines(workload: str, summary: dict) -> list[str]:
    lines = [f"== {workload}"]
    for name, value in summary.items():
        shown = "n/a" if value is None else f"{value:.6g}"
        lines.append(f"{name:>24} {shown:>14} {unit_of(name)}")
    return lines


def speed_factor(probes: list[float]) -> float:
    """How much faster the reference core is than this run's cores, from
    the run's core probes."""
    return REFERENCE_PROBE_S / statistics.fmean(probes)


def gated_metrics(
    summary: dict, setup_steal_share: float, timed_steal_share: float, speed: float
) -> dict:
    """The end-to-end metrics as gated.

    Wall times are net of the share of their window's CPU demand that
    hypervisor steal took: this host's steal comes in bursts that stretch
    single runs by up to 40%. The timed phase's metrics are also scaled to
    the reference core speed by ``speed`` (``speed_factor``): with no steal
    at all, the CPU of the same work spread 13-21% across runs (quartile
    distance over median) and followed the cores' speed, which drifts (the
    probe loop takes 6 ms on one core and 9 ms on another a moment later).
    CPU seconds are not reduced by steal, which they do not include."""
    return {
        "setup_s": summary["setup_s"] * (1 - setup_steal_share),
        "cpu_s": summary["cpu_s"] * speed,
        "latency_p50_s": summary["latency_p50_s"] * (1 - timed_steal_share) * speed,
        "work_s": summary["work_s"] * (1 - timed_steal_share) * speed,
    }


def latest_untraced(records: str, workload: str, seed: int) -> dict | None:
    """The newest untraced record of the same workload and seed."""
    best = None
    if os.path.isdir(records):
        for name in sorted(os.listdir(records)):
            if name.startswith(f"{workload}-seed{seed}-trace0-"):
                best = os.path.join(records, name)
    if best is None:
        return None
    with open(best) as f:
        return json.load(f)


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--workdir", required=True)
    p.add_argument("--records", required=True)
    args = p.parse_args(argv)

    ctx = Context(args)
    steal0, load0 = procstat.steal_s(), procstat.loadavg()
    with procstat.RssSampler() as rss:
        try:
            res = run_workload(ctx, args.workload)
            ctx.mark("workload_done")
            gc_s = trace.jvm_gc_s(ctx.spark) - ctx.gc0
            code_cache_mb = trace.jvm_code_cache_mb(ctx.spark)
        finally:
            ctx.stop()
    summary = res["summary"]
    summary["setup_s"] = ctx.setup_s
    summary["rss_peak_mb"] = rss.peak_mb
    summary["failed_frac"] = res["failed"] / res["attempted"]
    timed_steal_share = procstat.steal_share(
        sum(res["timed_cpu_by_process_s"].values()), res["timed_steal_s"]
    )
    probes = res.pop("probes")
    speed = speed_factor(probes)
    gated = gated_metrics(summary, ctx.setup_steal_share, timed_steal_share, speed)

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "noise": {
            "steal_s": procstat.steal_s() - steal0,
            "timed_steal_s": res.pop("timed_steal_s"),
            "setup_steal_share": ctx.setup_steal_share,
            "timed_steal_share": timed_steal_share,
            "loadavg_start": load0,
            "loadavg_end": procstat.loadavg(),
            "jvm_gc_s": gc_s,
            # core probes between executions (catalog) or during the timed
            # passes (pipeline_api), and the factor the timed metrics are
            # scaled by
            "core_probe_s": probes,
            "core_speed_factor": speed,
            "code_cache_mb": code_cache_mb,
        },
        "phases": ctx.phases,
        "gated": gated,
        **res,
    }
    if args.trace:
        layers = {**ctx.session, **res.get("layers", {}), "engine.jit_cpu_s": summary["jit_cpu_s"]}
        record["layers"] = layers
        base = latest_untraced(args.records, args.workload, args.seed)
        if base is not None:
            record["tracing_overhead"] = {
                k: gated[k] / base["gated"][k] - 1 for k in END_TO_END
            }
    os.makedirs(args.records, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = os.path.join(
        args.records, f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json"
    )
    with open(path, "w") as f:
        json.dump(record, f, indent=1)

    for line in report_lines(args.workload, summary):
        print(line)
    for name, value in gated.items():
        print(f"{name + ' (gated)':>34} {value:>14.6g} {unit_of(name)}")
    for name, err in sorted(res["failures"].items()):
        print(f"FAILED {name}: {err}")
    if args.trace:
        for name, value in sorted(record["layers"].items()):
            print(f"{name:>34} {value:>14.6g} {unit_of(name)}")
        for name, share in record.get("tracing_overhead", {}).items():
            print(f"tracing overhead {name}: {share:+.1%}")
    print(f"record: {os.path.relpath(path, ROOT)}")

    if args.trace:
        metrics = {
            name: {"value": float(record["layers"].get(name, 0.0)), "unit": unit_of(name)}
            for name in PER_LAYER
        }
    else:
        metrics = {
            name: {"value": float(gated[name]), "unit": unit_of(name)}
            for name in END_TO_END
        }
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
