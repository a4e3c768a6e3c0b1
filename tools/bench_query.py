"""Isolated per-query warm timer at a fixed sf dir (A/B harness for the
optimization rounds). Reuses tools/scale_probe.py's hygiene-separated
``time_warm`` (median-of-N warm executions via the noop sink) without
building any replica. Usage::

    python tools/bench_query.py [sf_dir] query [query ...]

Prints cold + per-run warm times and the warm median per query — the
number to compare across an A/B pair of code states.
"""

from __future__ import annotations

import os
import sys
from statistics import median

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_pipelines_worker_spark.session import release_cached  # noqa: E402
from tools.scale_probe import time_warm  # noqa: E402


def main() -> int:
    args = sys.argv[1:]
    if args and os.path.isdir(args[0]):
        sf_dir, names = args[0], args[1:]
    else:
        sf_dir, names = "/root/testdata/sf0.1", args
    if not names:
        print("usage: bench_query.py [sf_dir] query [query ...]")
        return 2

    from data_pipelines_worker_spark.queries import load_all
    from data_pipelines_worker_spark.session import get_spark

    spark = get_spark("bench-query")
    registry = load_all()
    print(f"sf_dir={sf_dir} load_start={os.getloadavg()[0]:.2f}", flush=True)
    for name in names:
        if name not in registry:
            print(f"{name:32s} (unknown)", flush=True)
            continue
        fn, _ = registry[name]
        cold, warms = time_warm(spark, fn, sf_dir)
        release_cached(spark)
        runs = "/".join(f"{w:.2f}" for w in warms)
        print(
            f"{name:32s} med {median(warms):6.2f}  cold {cold:6.2f}"
            f"  warms [{runs}]",
            flush=True,
        )
    print(f"load_end={os.getloadavg()[0]:.2f}", flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
