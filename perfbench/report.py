"""Summarize run records written by run.py under perfbench/out/.

    python3 perfbench/report.py steadiness [RECORD.json ...]
    python3 perfbench/report.py layers [RECORD.json ...]

``steadiness`` takes the untraced records and prints, per workload and
end-to-end metric, the median and quartiles over runs, the spread
(Q3 - Q1) / median against the metric's bound from BENCHMARK.json, and each
run's seed, steal share and loadavg before the run.

``layers`` takes the traced records (and the untraced ones, for the tracing
overhead) and prints every per-layer metric with its unit, whether each
count metric repeated exactly over every timed op of every run, each span's
self time, and the share of op time the named spans cover.

With no record arguments, every record under perfbench/out/ is read.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import PER_LAYER  # noqa: E402


def load(paths: list[str]) -> list[dict]:
    paths = paths or sorted(glob.glob(os.path.join(HERE, "out", "*.json")))
    return [json.load(open(p)) for p in paths]


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def bench_spec() -> dict:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def steadiness(records: list[dict]) -> None:
    spec = bench_spec()
    by_wl = defaultdict(list)
    for r in records:
        if r["trace"] == 0:
            by_wl[r["workload"]].append(r)
    for wl, runs in sorted(by_wl.items()):
        runs.sort(key=lambda r: r["seed"])
        print(f"\n### {wl}: {len(runs)} runs, {runs[0]['timed_ops']} timed ops each\n")
        print("| metric | unit | median | Q1 | Q3 | spread | bound | spread / bound |")
        print("|---|---|---|---|---|---|---|---|")
        for m in spec["end_to_end"]:
            xs = [r["end_to_end"][m["name"]] for r in runs]
            if len(xs) < 2:
                continue
            q1, med, q3 = quartiles(xs)
            spread = (q3 - q1) / med
            print(
                f"| {m['name']} | {m['unit']} | {med:.4g} | {q1:.4g} | {q3:.4g} "
                f"| {spread:.3f} | {m['bound']} | {spread / m['bound']:.2f} |"
            )
        print(
            "\n| seed | op_p50_ms | first / last timed op | steal share | loadavg before "
            "| failed |"
        )
        print("|---|---|---|---|---|---|")
        for r in runs:
            c = r["conditions"]
            steal = "n/a" if c["steal_share"] is None else f"{c['steal_share']:.4f}"
            trend = r["samples_s"][0] / r["samples_s"][-1]
            print(
                f"| {r['seed']} | {r['end_to_end']['op_p50_ms']:.0f} | {trend:.2f} | {steal} "
                f"| {c['loadavg_before']} | {len(r['failed_ops'])} |"
            )


def layers(records: list[dict]) -> None:
    untraced = defaultdict(list)
    traced = defaultdict(list)
    for r in records:
        (traced if r["trace"] else untraced)[r["workload"]].append(r)
    for wl, runs in sorted(traced.items()):
        print(f"\n### {wl}: {len(runs)} traced runs\n")
        print("| metric | unit | median | repeats exactly |")
        print("|---|---|---|---|")
        for name, unit in PER_LAYER.items():
            value = statistics.median(r["per_layer"][name] for r in runs)
            repeat = ""
            if unit == "count":
                per_op = [op.get(name, 0) for r in runs for op in r["per_op_layers"]]
                lo, hi = min(per_op), max(per_op)
                repeat = "yes" if lo == hi else f"no ({lo:g}..{hi:g})"
            print(f"| {name} | {unit} | {value:.6g} | {repeat} |")
        overhead = "n/a (no untraced runs)"
        if untraced.get(wl):
            base = statistics.median(r["end_to_end"]["op_p50_ms"] for r in untraced[wl])
            traced_p50 = statistics.median(r["per_layer"]["trace.op_p50_ms"] for r in runs)
            overhead = f"{traced_p50 - base:.1f} ms ({(traced_p50 - base) / base:+.1%})"
        print(f"\nTracing overhead (traced - untraced op_p50_ms): {overhead}")
        print("\n| span | self ms per op (median) |")
        print("|---|---|")
        names = sorted({n for r in runs for op in r["self_ms"] for n in op})
        for n in names:
            med = statistics.median(op.get(n, 0.0) for r in runs for op in r["self_ms"])
            print(f"| {n} | {med:.1f} |")
        cover = min(r["per_layer"]["trace.span_coverage"] for r in runs)
        print(f"\nLowest share of an op's traced wall time in named spans: {cover:.3f}")


def main() -> int:
    if len(sys.argv) < 2 or sys.argv[1] not in ("steadiness", "layers"):
        print(__doc__, file=sys.stderr)
        return 2
    records = load(sys.argv[2:])
    (steadiness if sys.argv[1] == "steadiness" else layers)(records)
    return 0


if __name__ == "__main__":
    sys.exit(main())
