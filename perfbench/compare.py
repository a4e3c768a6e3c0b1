"""Diff two run records by per-layer self time and counts.

Usage: ``python3 perfbench/compare.py BASE.json CHANGED.json``, or
``python3 perfbench/compare.py --spread RECORD.json...`` for the median and
quartile spread (as a share of the median) of each summary metric over a
set of runs of one workload (raw summary values and the gated ones).

Records are the files ``run.py`` leaves in ``.perfbench/runs/``. Traced
records (``--trace 1``) carry spans and layer numbers; untraced ones carry
the end-to-end summary and per-query or per-operation timings, which are
compared too. Each row prints base, changed, the difference and the
changed/base ratio, so a saving can be located in the layer that made it.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import stats, trace  # noqa: E402


def span_totals(record: dict) -> dict[str, float]:
    """Span name → (summed self time, call count) over the record's spans."""
    spans = [trace.Span(**s) for s in record.get("spans", [])]
    self_s = trace.self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[f"{s.name} self_s"] = out.get(f"{s.name} self_s", 0.0) + self_s[s.span_id]
        out[f"{s.name} calls"] = out.get(f"{s.name} calls", 0) + 1
    return out


def item_medians(record: dict) -> dict[str, float]:
    """Per-query median (catalogues) or per-kind median latency (pipeline)."""
    if "queries" in record:
        return {
            f"query {n}": q["median_s"]
            for n, q in record["queries"].items()
            if q["median_s"] is not None
        }
    kinds: dict[str, list[float]] = {}
    for op in record.get("ops", []):
        if op["error"] is None:
            kinds.setdefault(f"op {op['kind']}", []).append(op["latency_s"])
    return {k: statistics.median(v) for k, v in kinds.items()}


def rows(base: dict, changed: dict) -> list[tuple[str, float | None, float | None]]:
    out = []
    for section in ("gated", "summary", "layers"):
        a, b = base.get(section, {}), changed.get(section, {})
        out += [(f"{section} {k}", a.get(k), b.get(k)) for k in sorted(set(a) | set(b))]
    for fn in (span_totals, item_medians):
        a, b = fn(base), fn(changed)
        out += [(k, a.get(k), b.get(k)) for k in sorted(set(a) | set(b))]
    return out


def _fmt(v) -> str:
    return "-" if v is None else f"{v:.6g}"


def spread(paths: list[str]) -> None:
    values: dict[str, list[float]] = {}
    for path in paths:
        with open(path) as f:
            record = json.load(f)
        items = [*record["summary"].items(), *((f"gated {k}", v) for k, v in record.get("gated", {}).items())]
        for k, v in items:
            if isinstance(v, (int, float)):
                values.setdefault(k, []).append(v)
    print(f"{'metric':<28} {'runs':>5} {'median':>12} {'spread':>8}")
    for k, v in sorted(values.items()):
        if len(v) >= 2 and statistics.median(v):
            print(f"{k:<28} {len(v):>5} {statistics.median(v):>12.6g} {stats.quartile_spread(v):>8.3f}")


def main(argv: list[str]) -> int:
    if argv[:1] == ["--spread"]:
        spread(argv[1:])
        return 0
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    records = []
    for path in argv:
        with open(path) as f:
            records.append(json.load(f))
    base, changed = records
    if base["workload"] != changed["workload"]:
        print("records are of different workloads", file=sys.stderr)
        return 2
    print(f"{'metric':<48} {'base':>12} {'changed':>12} {'diff':>12} {'ratio':>8}")
    for name, a, b in rows(base, changed):
        if not isinstance(a, (int, float, type(None))) or not isinstance(b, (int, float, type(None))):
            continue
        diff = None if a is None or b is None else b - a
        ratio = f"{b / a:.3f}" if a and b is not None else "-"
        print(f"{name:<48} {_fmt(a):>12} {_fmt(b):>12} {_fmt(diff):>12} {ratio:>8}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
