"""Benchmark runner: times every queries() entry at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints
ONE JSON line:

    {"metric": "total_query_sec", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

Materialization is a noop-format write (full column evaluation on
executors, nothing collected to the driver).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    import __spark_entry__ as entrymod
    from meteaudata_spark.ext.warm import warm_pair_relations, warm_session
    from meteaudata_spark.session import get_spark

    spark = get_spark("meteaudata-bench")
    spark.sparkContext.setLogLevel("ERROR")
    # the first measured query must not pay the session's one-time costs
    warm_session(spark, sf_dir)

    # Prewarm the session-memoized shared relations (LSH pairs,
    # MinHash pairs, clusters, ...) and record their one-time build
    # cost EXPLICITLY, so per-query numbers below are marginal cost —
    # not "whoever ran first paid the corpus mining" (VERDICT r9 #4).
    # SPARK_GRAFT_BENCH_WARM=0 restores the cold mode.
    warm_builds: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_WARM", "1") != "0":
        try:
            warm_builds = warm_pair_relations(spark, sf_dir)
        except Exception as exc:  # noqa: BLE001 - fall back to cold
            print(f"# WARN prewarm failed: {exc}", file=sys.stderr)

    # min of N runs per query: the host shows intermittent external
    # load, and min-of-N measures the query, not the neighbors
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    loadavg_start = round(os.getloadavg()[0], 2)
    timings: dict[str, float] = {}
    loadavgs: dict[str, float] = {}
    for name, fn in entrymod.queries().items():
        best = -1.0
        try:
            for _ in range(n_runs):
                start = time.perf_counter()
                df = fn(spark, sf_dir)
                df.write.mode("overwrite").format("noop").save()
                elapsed = round(time.perf_counter() - start, 3)
                best = elapsed if best < 0 else min(best, elapsed)
        except Exception as exc:  # noqa: BLE001 - record and continue
            best = -1.0
            print(f"# ERROR {name}: {type(exc).__name__}: {exc}", file=sys.stderr)
        timings[name] = best
        # 1-min loadavg at query end: round-over-round regressions on a
        # shared host adjudicate against this instead of re-probing by
        # hand (r4's apparent regressions were all external load)
        loadavgs[name] = round(os.getloadavg()[0], 2)

    ok = [t for t in timings.values() if t >= 0]
    warm_total = round(sum(warm_builds.values()), 3)
    # Cross-run per-query MIN, folded over earlier persisted runs of
    # the SAME tree (git rev) at the same SF: ambient host load only
    # ever inflates timings, so the min across runs is the query's
    # real cost — first-class here so round notes stop re-deriving it
    # (VERDICT r11 #7). A dirty tree never matches a clean one.
    git_rev = "unknown"
    try:
        import subprocess

        here = os.path.dirname(os.path.abspath(__file__))
        git_rev = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            capture_output=True, text=True, cwd=here, timeout=10,
        ).stdout.strip() or "unknown"
        # bench output (untracked run files AND the tracked
        # latest.json pointer a previous run rewrote) cannot change
        # code behavior — only modified tracked SOURCE files make a
        # tree non-comparable
        dirty = subprocess.run(
            ["git", "status", "--porcelain", "--untracked-files=no",
             "--", ":!bench_results"],
            capture_output=True, text=True, cwd=here, timeout=10,
        ).stdout.strip()
        if dirty:
            git_rev += "-dirty"
    except Exception:  # noqa: BLE001 - rev tag is best-effort
        pass
    per_query_min = {k: v for k, v in timings.items() if v >= 0}
    n_prior_runs = 0
    try:
        import glob as _glob

        outdir = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "bench_results"
        )
        for path in _glob.glob(os.path.join(outdir, "bench_*.json")):
            with open(path) as f:
                prior = json.load(f)
            if (
                prior.get("git_rev") != git_rev
                or git_rev.endswith("-dirty")
                or prior.get("sf") != sf
            ):
                continue
            n_prior_runs += 1
            for q, sec in (prior.get("queries") or {}).items():
                if sec >= 0 and q in per_query_min:
                    per_query_min[q] = min(per_query_min[q], sec)
    except Exception as exc:  # noqa: BLE001 - fold is best-effort
        print(f"# WARN per_query_min fold failed: {exc}", file=sys.stderr)
    pqm_ok = list(per_query_min.values())
    # "value" stays the honest full-session cost (one-time builds +
    # marginal queries) so round-over-round totals remain comparable
    # with the pre-warm-mode rounds, where the builds hid inside
    # whichever queries ran first
    total = round(sum(ok) + warm_total, 3)
    payload = {
        "metric": "total_query_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "n_queries": len(ok),
        "marginal_query_sec_total": round(sum(ok), 3),
        "warm_build_sec": warm_builds,
        "warm_build_sec_total": warm_total,
        "mode": "warm" if warm_builds else "cold",
        "avg_query_sec": round(sum(ok) / len(ok), 3) if ok else -1.0,
        "git_rev": git_rev,
        "per_query_min": per_query_min,
        "per_query_min_total": round(sum(pqm_ok), 3),
        "per_query_min_avg": (
            round(sum(pqm_ok) / len(pqm_ok), 3) if pqm_ok else -1.0
        ),
        "per_query_min_prior_runs": n_prior_runs,
        "sf": sf,
        "bench_runs": n_runs,
        "loadavg_1m": {
            "start": loadavg_start,
            "end": round(os.getloadavg()[0], 2),
            "per_query": loadavgs,
        },
    }
    print(json.dumps(payload))
    # ALSO persist the full result in-repo: the driver's BENCH_r*.json
    # artifact keeps only the tail of stdout, which made per-query
    # round-over-round deltas unrecoverable (VERDICT r8 #10).  One
    # timestamped file per run + a stable latest.json pointer.
    try:
        outdir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "bench_results")
        os.makedirs(outdir, exist_ok=True)
        stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime())
        with open(os.path.join(outdir, f"bench_{stamp}_sf{sf}.json"), "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        with open(os.path.join(outdir, "latest.json"), "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
    except OSError as exc:
        print(f"# WARN could not persist bench_results: {exc}", file=sys.stderr)
    # FINAL stdout line = a COMPACT summary (~350 chars, no per-query
    # dicts): the driver's BENCH artifact keeps only the last ~2000
    # chars of stdout, and r14's final line embedded two full
    # 231-entry dicts, so the driver could parse NEITHER round's
    # output and PERF came back empty (VERDICT r14 #5 / next-round
    # #2).  The full per-query record stays on the first stdout line
    # (the driver-contract payload above) and in bench_results/.
    print(json.dumps({
        "metric": "total_query_sec",
        "value": total,
        "unit": "sec",
        "marginal_query_sec_total": round(sum(ok), 3),
        "warm_build_sec_total": warm_total,
        "total_query_sec": total,
        "avg_query_sec": round(sum(ok) / len(ok), 3) if ok else -1.0,
        "per_query_min_total": round(sum(pqm_ok), 3),
        "per_query_min_avg": (
            round(sum(pqm_ok) / len(pqm_ok), 3) if pqm_ok else -1.0
        ),
        "per_query_min_prior_runs": n_prior_runs,
        "git_rev": git_rev,
        "n_queries": len(ok),
        "n_errors": len(timings) - len(ok),
        "loadavg_1m_start": loadavg_start,
        "loadavg_1m_end": round(os.getloadavg()[0], 2),
        "queries_file": "bench_results/latest.json",
        "sf": sf,
    }))


if __name__ == "__main__":
    main()
