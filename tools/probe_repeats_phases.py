"""Per-phase wall split of corpus_maximal_repeats (anomaly-protocol
diagnosis for the r10 unreproduced 10x probe): times the shared suffix
build+walk, the ANSV node extraction, and the top/count tail
separately, at 1x and at the 10x replica, with /proc/loadavg captured
around each run.

Since r12 (ADVICE r11) every phase calls the OPERATOR'S OWN functions —
phase A is `_suffix_pipeline` + `_ansv_exchange`, phase B is
`_ansv_resolve_from` + `_interval_nodes`, phase C is `_repeats_tail` —
so the phase timings cannot silently diverge from what
`corpus_maximal_repeats` actually executes (the operator's with-block
is the same calls in the same sequence). The only
probe-local logic is the timing and the counts that force each phase.

Usage: python tools/probe_repeats_phases.py [sf_dir ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def loadavg() -> str:
    return open("/proc/loadavg").read().split()[0:3].__repr__()


def run(spark, sf_dir: str, min_len: int = 8, top_n: int = 20) -> dict:
    from pyspark.sql import functions as F

    from data_pipelines_worker_spark.operators import global_suffix as gs

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    out: dict[str, float] = {}
    with gs._suffix_build_confs(spark):
        t0 = time.perf_counter()
        base, toks, tables, sa, lcps, n_suffixes = gs._suffix_pipeline(
            docs, "doc_id", "text"
        )
        d = gs._ansv_exchange(lcps.select("i", F.col("lcp").alias("l")))
        out["A_build_walk_s"] = time.perf_counter() - t0
        out["edge_rows"] = d.count()

        t0 = time.perf_counter()
        resolved, cand_bc = gs._ansv_resolve_from(d, n_suffixes, min_len)
        nodes = gs._interval_nodes(resolved)
        cand_bc.destroy()  # mirrors the operator: eager checkpoint done
        out["B_ansv_nodes_s"] = time.perf_counter() - t0
        out["node_rows"] = nodes.count()

        t0 = time.perf_counter()
        gs._repeats_tail(nodes, base, sa, min_len, top_n).write.format(
            "noop"
        ).mode("overwrite").save()
        out["C_top_count_s"] = time.perf_counter() - t0
    return out


def main() -> int:
    from data_pipelines_worker_spark.session import get_spark, release_cached

    spark = get_spark("repeats-phase-probe")
    dirs = sys.argv[1:] or ["/root/testdata/sf0.1", "/tmp/sf_probe_10x"]
    for d in dirs:
        print(f"--- {d} load={loadavg()}", flush=True)
        run(spark, d)  # warm-up (parity with scale_probe's warm timing)
        release_cached(spark)
        res = run(spark, d)
        release_cached(spark)
        print({k: (round(v, 2) if isinstance(v, float) else v) for k, v in res.items()}, flush=True)
    print(f"load_end={loadavg()}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
