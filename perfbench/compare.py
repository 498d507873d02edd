"""Compare two sets of benchmark result files (parent vs change).

    python3 perfbench/compare.py PARENT CHANGE

PARENT and CHANGE are each a directory of ``perfbench/out`` records or a
list of record files separated by commas. For every workload and
end-to-end metric it prints both sides' medians and quartiles and a
verdict, using the bounds in ``BENCHMARK.json``:

* better     — there are at least 10 pairs, the change wins at least 9
               of every 10 (ties count for neither) and the medians
               differ by more than the parent's interquartile range;
               with fewer pairs the same result reads
               ``unresolved (n<10)``;
* worse      — the change's median is worse than the parent's by more
               than the bound;
* unresolved — otherwise, when the parent's own spread (IQR / median)
               is wider than the bound;
* unchanged  — otherwise.

Runs pair by seed where both sides have it, else in file order. Traced
records are left out of the verdicts; when a side has both kinds, the
tracing overhead (traced wall_s minus untraced wall_s) is printed.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MIN_PAIRS = 10


def load(spec: str) -> list[dict]:
    paths = (
        sorted(glob.glob(os.path.join(spec, "*.json")))
        if os.path.isdir(spec) else spec.split(",")
    )
    out = []
    for path in paths:
        with open(path) as fh:
            out.append(json.load(fh))
    return out


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def pairs(parent: list[dict], change: list[dict]) -> list[tuple[dict, dict]]:
    by_seed = {r["seed"]: r for r in change}
    if all(r["seed"] in by_seed for r in parent):
        return [(r, by_seed[r["seed"]]) for r in parent]
    return list(zip(parent, change))


def verdict(metric: dict, parent: list[dict], change: list[dict]) -> str:
    name, bound = metric["name"], metric.get("bound", 0.25)
    sign = 1 if metric["better"] == "lower" else -1
    pv = [r["end_to_end"][name] for r in parent]
    cv = [r["end_to_end"][name] for r in change]
    p1, pm, p3 = quartiles(pv)
    cm = statistics.median(cv)
    matched = pairs(parent, change)
    wins = sum(
        1 for p, c in matched
        if sign * (c["end_to_end"][name] - p["end_to_end"][name]) < 0
    )
    if matched and wins >= 0.9 * len(matched) and sign * (cm - pm) < 0 and abs(cm - pm) > p3 - p1:
        return "better" if len(matched) >= MIN_PAIRS else f"unresolved (n<{MIN_PAIRS})"
    if sign * (cm - pm) > bound * pm:
        return "worse"
    if (p3 - p1) > bound * pm:
        return "unresolved"
    return "unchanged"


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sides = [load(a) for a in argv]
    workloads = sorted({r["workload"] for side in sides for r in side})
    print(f"{'workload':16s} {'metric':15s} {'parent q1/med/q3':>30s} "
          f"{'change q1/med/q3':>30s}  verdict")
    for wl in workloads:
        parent, change = ([r for r in side if r["workload"] == wl and not r["trace"]]
                          for side in sides)
        if not parent or not change:
            print(f"{wl:16s} (missing untraced runs on one side)")
            continue
        for metric in spec["end_to_end"]:
            name = metric["name"]
            qp = quartiles([r["end_to_end"][name] for r in parent])
            qc = quartiles([r["end_to_end"][name] for r in change])
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)  # noqa: E731
            print(f"{wl:16s} {name:15s} {fmt(qp):>30s} {fmt(qc):>30s}  "
                  f"{verdict(metric, parent, change)}")
        for label, side in zip(("parent", "change"), sides):
            runs = [r for r in side if r["workload"] == wl]
            att = sum(r["attempted"] for r in runs if not r["trace"])
            bad = sum(r["failed"] for r in runs if not r["trace"])
            line = f"{wl:16s} {label}: failed_ratio {bad}/{att}"
            traced = [r["per_layer"]["trace.wall_s"] for r in runs if r["trace"]]
            plain = [r["end_to_end"]["wall_s"] for r in runs if not r["trace"]]
            if traced and plain:
                over = statistics.median(traced) - statistics.median(plain)
                line += f", tracing overhead {over:+.3f} s on wall_s"
            print(line)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
