"""Tests of the benchmark's own helpers: ``python3 -m pytest perfbench/tests``."""

from __future__ import annotations

import json
import os
import resource
import subprocess
import sys

import pytest

from perfbench import catalog, datagen, pipeline, procstat, stats, trace


# --- percentile rule --------------------------------------------------------


def test_p90_needs_ten_samples_beyond_it():
    assert stats.samples_beyond(99, 90) == 9
    assert stats.tail_percentile(list(range(99)), 90) is None
    assert stats.samples_beyond(100, 90) == 10
    assert stats.tail_percentile([float(i) for i in range(1, 101)], 90) == 90.0


def test_quartile_spread_is_relative_to_median():
    assert stats.quartile_spread([10.0] * 10) == 0.0
    assert stats.quartile_spread([9.0, 10.0, 10.0, 11.0]) == pytest.approx(0.15)


# --- process-tree CPU -------------------------------------------------------


def test_parse_stat_handles_spaces_and_parens_in_comm():
    line = "4242 (odd) name)) S 7 4242 4242 0 -1 0 0 0 0 0 150 50 30 20 20 0 1 0"
    pid, ppid, cpu = procstat.parse_stat(line)
    assert (pid, ppid) == (4242, 7)
    assert cpu == pytest.approx((150 + 50 + 30 + 20) / procstat.CLK_TCK)


def test_reaped_child_cpu_counted_once_in_snapshots():
    # before: parent 1 s of its own, child alive with 2 s; after: the child
    # exited with 2.5 s and was reaped into the parent's cutime
    before = {10: (1, 1.0), 11: (10, 2.0), 99: (1, 50.0)}
    after = {10: (1, 1.0 + 2.5), 99: (1, 60.0)}

    def total(procs):
        return sum(procstat.cpu_by_kind(procs, 10, lambda pid: "all").values())

    assert total(after) - total(before) == pytest.approx(0.5)


def test_child_started_and_reaped_inside_window_counted_once():
    burn = "import time\nt=time.process_time()\nwhile time.process_time()-t<0.3: pass"
    children0 = resource.getrusage(resource.RUSAGE_CHILDREN)
    cpu0 = sum(procstat.tree_cpu_by_kind().values())
    subprocess.run([sys.executable, "-c", burn], check=True)
    cpu = sum(procstat.tree_cpu_by_kind().values()) - cpu0
    children = resource.getrusage(resource.RUSAGE_CHILDREN)
    child = (children.ru_utime - children0.ru_utime) + (children.ru_stime - children0.ru_stime)
    assert child >= 0.3
    assert child - 0.05 <= cpu < 2 * child


# --- span self time ---------------------------------------------------------


def _span(sid, start, end, parent=None):
    return trace.Span("x", start, end, sid, parent, "t")


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 3.0, parent=1),
        _span(3, 2.0, 5.0, parent=1),  # overlaps span 2: [1, 5] counted once
        _span(4, 7.0, 8.0, parent=1),
        _span(5, 9.0, 12.0, parent=1),  # clipped at the parent's end
        _span(6, 1.5, 2.0, parent=2),  # grandchild: only its parent subtracts it
    ]
    self_s = trace.self_times(spans)
    assert self_s[1] == pytest.approx(10.0 - 4.0 - 1.0 - 1.0)
    assert self_s[2] == pytest.approx(1.5)
    assert self_s[6] == pytest.approx(0.5)


def test_tracer_nests_spans_per_thread():
    tracer = trace.Tracer()
    with tracer.span("outer", "q1"):
        with tracer.span("inner"):
            pass
    inner, outer = tracer.spans
    assert inner.parent == outer.span_id and inner.trace_id == "q1"
    assert outer.parent is None


# --- inputs -----------------------------------------------------------------


def test_committed_specs_validate():
    from data_pipelines_worker_spark.plans.compiler import PipelineSpec

    docs = pipeline.load_specs()
    assert set(docs) == {"yt-short", "wrap-join"}
    specs = {slug: PipelineSpec.from_json(doc) for slug, doc in docs.items()}
    assert len(specs["yt-short"].blocks) == 10
    assert [b.slug for b in specs["yt-short"].blocks if b.fan_out] == ["image"]
    assert [b.slug for b in specs["wrap-join"].blocks] == ["src", "wrap", "join"]


def test_tables_are_seed_deterministic():
    a = datagen.make_tables(0.001, 5)
    b = datagen.make_tables(0.001, 5)
    c = datagen.make_tables(0.001, 6)
    assert all(a[t].equals(b[t]) for t in a)
    assert not a["lineitem"].equals(c["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["documents"].num_rows == 500


def test_quantile_sample_spans_the_ranking():
    ranked = [f"q{i:02d}" for i in range(20)]
    assert catalog.quantile_sample(ranked, 4) == ["q02", "q07", "q12", "q17"]
    assert catalog.quantile_sample(ranked[:3], 4) == ranked[:3]


def test_tiers_cover_the_registry_once():
    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, catalog.TIER_RECORD)) as f:
        names = sorted(json.load(f)["queries"])
    light, heavy = catalog.tiers(root, names)
    assert sorted(light + heavy) == names and not set(light) & set(heavy)
    assert heavy and light


def test_benchmark_json_names_what_the_harness_prints():
    from perfbench import harness

    with open(os.path.join(harness.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert sorted(m["name"] for m in spec["end_to_end"]) == sorted(harness.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(harness.PER_LAYER)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert harness.unit_of(m["name"]) == m["unit"], m
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(harness.WORKLOADS)


def test_core_probe_visits_every_core_and_scales_with_work():
    cpus = os.sched_getaffinity(0)
    small = procstat.core_probe_s(iterations=20_000)
    large = procstat.core_probe_s(iterations=2_000_000)
    assert len(small) == len(large) == len(cpus)
    assert 0 < max(small) < min(large)
    assert os.sched_getaffinity(0) == cpus  # the pin is released


def test_steal_share_of_cpu_demand():
    assert procstat.steal_share(30.0, 10.0) == pytest.approx(0.25)
    assert procstat.steal_share(0.0, 0.0) == 0.0
    from perfbench import harness

    summary = {"setup_s": 40.0, "cpu_s": 30.0, "latency_p50_s": 8.0, "work_s": 12.0}
    gated = harness.gated_metrics(summary, 0.5, 0.25, 1.0)
    assert gated == {"setup_s": 20.0, "cpu_s": 30.0, "latency_p50_s": 6.0, "work_s": 9.0}
    assert set(gated) == set(harness.END_TO_END)


def test_cpu_is_gated_at_the_reference_core_speed():
    from perfbench import harness

    ref = harness.REFERENCE_PROBE_S
    # cores 1.5x slower than the reference: the same CPU counts 1/1.5
    speed = harness.speed_factor([1.5 * ref, 1.25 * ref, 1.75 * ref])
    assert speed == pytest.approx(1 / 1.5)
    summary = {"setup_s": 40.0, "cpu_s": 30.0, "latency_p50_s": 8.0, "work_s": 12.0}
    gated = harness.gated_metrics(summary, 0.0, 0.0, speed)
    assert gated["cpu_s"] == pytest.approx(20.0)
    assert gated["latency_p50_s"] == pytest.approx(8.0 / 1.5)
    assert gated["setup_s"] == 40.0  # set-up is not probed


def test_thread_stat_name_drops_the_thread_number():
    line = "77 (C2 CompilerThre) S 1 1 1 0 -1 0 0 0 0 0 250 50 0 0 20 0 1 0"
    name, cpu = procstat.parse_thread_stat(line)
    assert name == "C2 CompilerThre" and name in procstat.JIT_THREADS
    assert cpu == pytest.approx(300 / procstat.CLK_TCK)
    assert procstat.parse_thread_stat(line.replace("C2 CompilerThre", "GC Thread#3"))[0] == "GC Thread"
    assert procstat.jit_cpu_s(None) == 0.0
