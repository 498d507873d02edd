"""Per-query cost breakdown for the optimization rounds (guide §1):
splits each queries() entry into

  build_s  — Python-side DataFrame construction (fn call)
  plan_s   — Catalyst analysis + optimization + physical planning
             (first executedPlan access, no execution)
  exec_s   — noop-sink execution (min of N runs, warm plan)

and counts plan features (Exchange nodes, Python eval nodes,
sort-merge joins) from the formatted explain, so the expensive rows
can be triaged into "driver-side plan cost" vs "executor compute" vs
"too many shuffles" without the UI.

Usage: python tools/profile_queries.py [sf_dir] [query ...]
Writes bench_results/profile_<stamp>.json and prints a sorted table.
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    only = set(argv[1:])

    import __spark_entry__ as entrymod
    from meteaudata_spark.ext.warm import warm_pair_relations, warm_session
    from meteaudata_spark.session import get_spark

    spark = get_spark("meteaudata-profile")
    spark.sparkContext.setLogLevel("ERROR")
    warm_session(spark, sf_dir)
    if os.environ.get("SPARK_GRAFT_BENCH_WARM", "1") != "0":
        warm_pair_relations(spark, sf_dir)

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "2"))
    rows: dict[str, dict] = {}
    for name, fn in entrymod.queries().items():
        if only and name not in only:
            continue
        spark.sparkContext.setJobDescription(f"profile:{name}")
        try:
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t1 = time.perf_counter()
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            t2 = time.perf_counter()
            best = -1.0
            for _ in range(n_runs):
                # rebuild per run like bench.py does (build+plan are
                # inside bench's timed region as well)
                df2 = fn(spark, sf_dir)
                s = time.perf_counter()
                df2.write.mode("overwrite").format("noop").save()
                e = time.perf_counter() - s
                best = e if best < 0 else min(best, e)
            rows[name] = {
                "build_s": round(t1 - t0, 3),
                "plan_s": round(t2 - t1, 3),
                "exec_s": round(best, 3),
                "total_s": round(t1 - t0 + t2 - t1 + best, 3),
                "n_exchange": plan.count("Exchange"),
                "n_reused_exchange": plan.count("ReusedExchange"),
                "n_python": plan.count("EvalPython")
                + plan.count("MapInPandas")
                + plan.count("MapInArrow")
                + plan.count("FlatMapGroupsInPandas"),
                "n_smj": plan.count("SortMergeJoin"),
                "n_bhj": plan.count("BroadcastHashJoin"),
                "n_window": plan.count("Window"),
                "n_wgl": plan.count("WindowGroupLimit"),
                "n_scans": plan.count("Scan parquet"),
                "n_inmem": plan.count("InMemoryTableScan"),
                "plan_chars": len(plan),
            }
        except Exception as exc:  # noqa: BLE001
            rows[name] = {"error": f"{type(exc).__name__}: {exc}"}
        spark.sparkContext.setJobDescription(None)

    ok = {k: v for k, v in rows.items() if "error" not in v}
    order = sorted(ok, key=lambda k: -ok[k]["total_s"])
    hdr = (
        f"{'query':38s} {'total':>7s} {'build':>6s} {'plan':>6s} "
        f"{'exec':>6s} {'exch':>4s} {'py':>3s} {'smj':>3s} {'win':>3s} "
        f"{'scan':>4s} {'plan_kb':>7s}"
    )
    print(hdr)
    for k in order:
        v = ok[k]
        print(
            f"{k:38s} {v['total_s']:7.3f} {v['build_s']:6.3f} "
            f"{v['plan_s']:6.3f} {v['exec_s']:6.3f} "
            f"{v['n_exchange']:4d} {v['n_python']:3d} {v['n_smj']:3d} "
            f"{v['n_window']:3d} {v['n_scans']:4d} "
            f"{v['plan_chars'] / 1024:7.1f}"
        )
    for k, v in rows.items():
        if "error" in v:
            print(f"ERROR {k}: {v['error']}")
    outdir = os.path.join(ROOT, "bench_results")
    os.makedirs(outdir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    out = os.path.join(outdir, f"profile_{stamp}.json")
    with open(out, "w") as f:
        json.dump({"sf_dir": sf_dir, "rows": rows}, f, indent=1, sort_keys=True)
    print(f"# wrote {out}")


if __name__ == "__main__":
    main()
