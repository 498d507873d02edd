"""Per-query timing and cost breakdown for named queries() entries
(all of them by default):

  bench_s  — min over runs of build + noop write: the number bench.py
             reports for the row
  build_s  — Python-side DataFrame construction (first fn call)
  plan_s   — Catalyst analysis + optimization + physical planning
             (first executedPlan access, no execution)
  exec_s   — min over runs of the noop write alone (warm plan)
  load_1m  — 1-minute loadavg when the row finished

Each run rebuilds the DataFrame and times its build and its noop write
separately, as bench.py does (SPARK_GRAFT_BENCH_RUNS runs, default 3).
Plan features (Exchange nodes, Python eval nodes, sort-merge joins, …)
are counted from the formatted explain, so the expensive rows can be
triaged into "driver-side plan cost" vs "executor compute" vs "too
many shuffles" without the UI.

Usage: python tools/profile_queries.py [sf_dir] [query ...] [--plans DIR]
Writes bench_results/profile_<stamp>.json, prints a table sorted by
bench_s, and with --plans writes each row's formatted plan to
DIR/<query>.txt.
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
    plans_dir = None
    if "--plans" in argv:
        i = argv.index("--plans")
        plans_dir = argv[i + 1]
        del argv[i : i + 2]
        os.makedirs(plans_dir, exist_ok=True)
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

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
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
            if plans_dir:
                with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
                    f.write(plan)
            runs = []
            for _ in range(n_runs):
                s = time.perf_counter()
                df2 = fn(spark, sf_dir)
                b = time.perf_counter()
                df2.write.mode("overwrite").format("noop").save()
                runs.append((b - s, time.perf_counter() - b))
            rows[name] = {
                "bench_s": round(min(b + w for b, w in runs), 3),
                "build_s": round(t1 - t0, 3),
                "plan_s": round(t2 - t1, 3),
                "exec_s": round(min(w for _, w in runs), 3),
                "load_1m": round(os.getloadavg()[0], 2),
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
    order = sorted(ok, key=lambda k: -ok[k]["bench_s"])
    hdr = (
        f"{'query':38s} {'bench':>7s} {'build':>6s} {'plan':>6s} "
        f"{'exec':>6s} {'exch':>4s} {'py':>3s} {'smj':>3s} {'win':>3s} "
        f"{'scan':>4s} {'plan_kb':>7s} {'load':>5s}"
    )
    print(hdr)
    for k in order:
        v = ok[k]
        print(
            f"{k:38s} {v['bench_s']:7.3f} {v['build_s']:6.3f} "
            f"{v['plan_s']:6.3f} {v['exec_s']:6.3f} "
            f"{v['n_exchange']:4d} {v['n_python']:3d} {v['n_smj']:3d} "
            f"{v['n_window']:3d} {v['n_scans']:4d} "
            f"{v['plan_chars'] / 1024:7.1f} {v['load_1m']:5.2f}"
        )
    for k, v in rows.items():
        if "error" in v:
            print(f"ERROR {k}: {v['error']}")
    outdir = os.path.join(ROOT, "bench_results")
    os.makedirs(outdir, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
    out = os.path.join(outdir, f"profile_{stamp}.json")
    with open(out, "w") as f:
        json.dump(
            {"sf_dir": sf_dir, "runs": n_runs, "rows": rows},
            f, indent=1, sort_keys=True,
        )
    print(f"# wrote {out}")


if __name__ == "__main__":
    main()
