"""Catalogue workloads: registry queries built and executed on one session.

Each query is timed from ``fn(spark, sf_dir)`` (which may run eager
actions while it builds) through a ``noop`` write that materializes the
result without collecting it. A catalogue number is a sum of per-query
medians over repeated warm executions, not the total of one pass: single
executions of one query swing by a quarter on a busy host, while medians
of repeated runs and their sums hold. CPU is counted the same way, from
process-tree snapshots before and after each execution, less what the
JVM's JIT compiler threads ran in between.

Outputs are checked outside the timed window, during the untimed warm-up
pass: the row count and the order-insensitive value hash of
``tools/check_oracle.py`` against the DuckDB oracle run over the same
generated tables; a query without an oracle is checked for rows only.
"""

from __future__ import annotations

import gc
import json
import os
import random
import statistics
import time

import duckdb

from . import procstat, trace

#: queries at or above this warm time (s, sf0.1) in the committed bench
#: record form the heavy tier
HEAVY_S = 3.0
#: the committed record the tiers are derived from
TIER_RECORD = "BENCH_LOCAL_r13.json"
#: seconds one pass over the sample takes on a 4-core host
NOMINAL_PASS_S = 3.5
#: untimed passes after the check pass: CPU per pass keeps falling through
#: the first executions of the sample (JIT and codegen warm-up), and timed
#: passes on that slope shift with how fast a run warms
WARM_PASSES = 3


def tiers(root: str, names: list[str]) -> tuple[list[str], list[str]]:
    """(light, heavy) tiers of the registry, each sorted by recorded time."""
    with open(os.path.join(root, TIER_RECORD)) as f:
        recorded = json.load(f)["queries"]
    missing = sorted(set(names) - set(recorded))
    if missing:
        raise ValueError(f"{TIER_RECORD} has no time for {missing}")
    ranked = sorted(names, key=lambda n: (recorded[n], n))
    heavy = [n for n in ranked if recorded[n] >= HEAVY_S]
    light = [n for n in ranked if recorded[n] < HEAVY_S]
    return light, heavy


def quantile_sample(ranked: list[str], k: int) -> list[str]:
    """``k`` entries at the midpoints of ``k`` equal quantile bins of a
    time-ranked list, so the sample spans the tier's cost distribution."""
    if k >= len(ranked):
        return list(ranked)
    return [ranked[int((i + 0.5) * len(ranked) / k)] for i in range(k)]


def oracle_fingerprints(sf_dir: str, queries: dict[str, str | None]) -> dict[str, tuple]:
    """name → (row count, sorted column names, value hash) from DuckDB."""
    from tools.check_oracle import value_hash
    from data_pipelines_worker_spark.session import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for name, sql in queries.items():
            if sql is None:
                continue
            rel = con.sql(sql)
            rows = rel.fetchall()
            out[name] = (len(rows), sorted(rel.columns), value_hash(rows, rel.columns))
        return out
    finally:
        con.close()


def check_result(df, expected: tuple | None) -> str | None:
    """Collect ``df`` and compare with the oracle fingerprint; the mismatch
    as text, or ``None`` when it matches."""
    from tools.check_oracle import value_hash

    rows = [tuple(r) for r in df.collect()]
    if expected is None:  # rows-only query: no oracle to compare with
        return None if rows else "no rows"
    n, cols, digest = expected
    if len(rows) != n:
        return f"rows {len(rows)} vs {n}"
    if sorted(df.columns) != cols:
        return f"columns {sorted(df.columns)} vs {cols}"
    if value_hash(rows, df.columns) != digest:
        return "value-hash mismatch"
    return None


def sweep(spark) -> None:
    """Release what a query left cached, outside every timing window."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()
    gc.collect()


def execute(spark, fn, sf_dir: str) -> None:
    fn(spark, sf_dir).write.format("noop").mode("overwrite").save()


def traced_execute(spark, tracer: trace.Tracer, name: str, fn, sf_dir: str, run_id: int) -> tuple[float, dict]:
    """One execution with spans; returns its duration and its per-phase
    Spark counters, read after the timed span."""
    sc = spark.sparkContext
    build_group, exec_group = f"{name}:{run_id}:build", f"{name}:{run_id}:exec"
    gc0 = trace.jvm_gc_s(spark)
    with tracer.span("queries.run", name) as run:
        with tracer.span("queries.build"), trace.JobGroup(spark, build_group):
            df = fn(spark, sf_dir)
        with tracer.span("queries.catalyst"):
            qe = df._jdf.queryExecution()
            qe.executedPlan()
            phases = qe.tracker().phases()
            catalyst_s = sum(
                phases.apply(p).durationMs() / 1e3
                for p in ("analysis", "optimization", "planning")
                if phases.contains(p)
            )
        with tracer.span("queries.execute"), trace.JobGroup(spark, exec_group):
            df.write.format("noop").mode("overwrite").save()
    duration = time.perf_counter() - run.start
    counts = {"gc_s": trace.jvm_gc_s(spark) - gc0}
    build = trace.group_counters(spark, build_group)
    executed = trace.group_counters(spark, exec_group)
    counts.update({k: build[k] + executed[k] for k in build})
    counts["build_jobs"] = build["jobs"]
    counts["catalyst_s"] = catalyst_s
    counts["leaked_rdds"] = len(sc._jsc.getPersistentRDDs())
    return duration, counts


def run(ctx, names: list[str], sf: float) -> dict:
    """Untimed check pass and warm-up pass, then the timed passes."""
    from data_pipelines_worker_spark.queries import load_all

    registry = load_all()
    rng = random.Random(ctx.seed)
    sf_dir = ctx.make_tables(sf)
    expected = oracle_fingerprints(sf_dir, {n: registry[n][1] for n in names})
    ctx.mark("oracle_done")

    spark = ctx.start_session()
    failures: dict[str, str] = {}
    failed = 0
    for name in rng.sample(names, len(names)):
        try:
            problem = check_result(registry[name][0](spark, sf_dir), expected.get(name))
        except Exception as ex:  # noqa: BLE001 - a failing query is a counted failure
            problem = f"{type(ex).__name__}: {ex}"
        if problem:
            failures[name] = problem
            failed += 1
        sweep(spark)
    # untimed passes in the timed form: codegen and JIT keep warming past
    # the first execution of each query
    for _ in range(WARM_PASSES):
        for name in rng.sample(names, len(names)):
            try:
                execute(spark, registry[name][0], sf_dir)
            except Exception as ex:  # noqa: BLE001 - counted like a timed failure
                failures.setdefault(name, f"{type(ex).__name__}: {ex}")
                failed += 1
            sweep(spark)
    ctx.end_setup()

    times: dict[str, list[float]] = {n: [] for n in names}
    #: per execution: process-tree CPU seconds, and the part of them the
    #: JVM's JIT compiler threads ran
    cpu_runs: dict[str, list[tuple[float, float]]] = {n: [] for n in names}
    #: core-speed probes, taken between executions (see ``harness``)
    probes: list[float] = []
    jvm = procstat.jvm_pid()
    threads0 = procstat.thread_cpu_by_name(jvm)
    layers: dict[str, list[dict]] = {n: [] for n in names}
    tracer = trace.Tracer()
    attempted = 0
    done = 0
    gc0 = trace.jvm_gc_s(spark)
    ctx.mark("timed_start")
    cpu0, steal0, t0 = procstat.tree_cpu_by_kind(), procstat.steal_s(), time.perf_counter()
    while done < ctx.passes(NOMINAL_PASS_S):
        for name in rng.sample(names, len(names)):
            attempted += 1
            fn = registry[name][0]
            try:
                cpu_start = procstat.tree_cpu_s(), procstat.jit_cpu_s(jvm)
                if ctx.trace:
                    took, counts = traced_execute(spark, tracer, name, fn, sf_dir, attempted)
                    layers[name].append(counts)
                else:
                    start = time.perf_counter()
                    execute(spark, fn, sf_dir)
                    took = time.perf_counter() - start
                times[name].append(took)
                cpu_runs[name].append(
                    (procstat.tree_cpu_s() - cpu_start[0], procstat.jit_cpu_s(jvm) - cpu_start[1])
                )
            except Exception as ex:  # noqa: BLE001 - counted, the pass goes on
                failures.setdefault(name, f"{type(ex).__name__}: {ex}")
                failed += 1
            sweep(spark)
            probes += procstat.core_probe_s()
        done += 1
    wall = time.perf_counter() - t0
    ctx.mark("timed_done")
    cpu_by_kind = {k: v - cpu0[k] for k, v in procstat.tree_cpu_by_kind().items()}
    cpu = sum(cpu_by_kind.values())
    steal = procstat.steal_s() - steal0
    gc_s = trace.jvm_gc_s(spark) - gc0
    jvm_threads = procstat.delta(procstat.thread_cpu_by_name(jvm), threads0)

    per_query = {n: statistics.median(v) for n, v in times.items() if v}
    cpu_per_query = {n: statistics.median(c - j for c, j in v) for n, v in cpu_runs.items() if v}
    jit_per_query = {n: statistics.median(j for _, j in v) for n, v in cpu_runs.items() if v}
    result = {
        "attempted": attempted + (1 + WARM_PASSES) * len(names),
        "failed": failed,
        "failures": failures,
        "passes": done,
        "timed_wall_s": wall,
        "timed_steal_s": steal,
        "timed_gc_s": gc_s,
        "timed_cpu_by_process_s": cpu_by_kind,
        "timed_jvm_threads_cpu_s": jvm_threads,
        "probes": probes,
        "queries": {
            n: {
                "median_s": per_query.get(n),
                "runs_s": times[n],
                "cpu_median_s": cpu_per_query.get(n),
                "tree_cpu_runs_s": [c for c, _ in cpu_runs[n]],
                "jit_runs_s": [j for _, j in cpu_runs[n]],
            }
            for n in names
        },
        "summary": {
            "catalog_s": sum(per_query.values()),
            "query_p50_s": statistics.median(list(per_query.values())) if per_query else None,
            "cpu_s": sum(cpu_per_query.values()),
            "jit_cpu_s": sum(jit_per_query.values()),
        },
    }
    if ctx.trace:
        result["layers"] = _layer_metrics(tracer, layers)
        result["layers"]["engine.gc_s"] = gc_s / done
        result["spans"] = tracer.export()
    return result


def _layer_metrics(tracer: trace.Tracer, layers: dict[str, list[dict]]) -> dict:
    """Per-query medians of each layer number, summed over the workload's
    queries (so they add up like ``catalog_s``)."""
    self_s = trace.self_times(tracer.spans)
    per_query: dict[str, dict[str, list[float]]] = {}
    for s in tracer.spans:
        if s.name in ("queries.build", "queries.execute"):
            key = s.name.split(".")[1] + "_s"
            per_query.setdefault(s.trace_id, {}).setdefault(key, []).append(self_s[s.span_id])
    for name, runs in layers.items():
        for counts in runs:
            for k, v in counts.items():
                per_query.setdefault(name, {}).setdefault(k, []).append(v)
    totals: dict[str, float] = {}
    for values in per_query.values():
        for k, v in values.items():
            totals[f"queries.{k}"] = totals.get(f"queries.{k}", 0.0) + statistics.median(v)
    for key in trace.ENGINE_KEYS:
        totals[f"engine.{key}"] = totals.get(f"queries.{key}", 0.0) / max(1, len(per_query))
    return totals
