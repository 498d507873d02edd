"""Bench a subset of queries() exactly the way bench.py times them
(build + noop write per run, min of N), without running all 231 rows
— the fast inner loop for the optimization rounds.

Usage: python tools/bench_some.py <query> [query ...]
Env: SPARK_GRAFT_SF_DIR (default sf0.1), SPARK_GRAFT_BENCH_RUNS (3),
     SPARK_GRAFT_BENCH_WARM (1).
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = sys.argv[1:]

    import __spark_entry__ as entrymod
    from meteaudata_spark.ext.warm import warm_pair_relations, warm_session
    from meteaudata_spark.session import get_spark

    spark = get_spark("meteaudata-bench-some")
    spark.sparkContext.setLogLevel("ERROR")
    warm_session(spark, sf_dir)
    if os.environ.get("SPARK_GRAFT_BENCH_WARM", "1") != "0":
        t0 = time.perf_counter()
        warm_pair_relations(spark, sf_dir)
        print(f"# warm {time.perf_counter() - t0:.1f}s")

    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    qs = entrymod.queries()
    for name in names:
        fn = qs[name]
        spark.sparkContext.setJobDescription(f"bench_some:{name}")
        best, runs = -1.0, []
        for _ in range(n_runs):
            start = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            el = round(time.perf_counter() - start, 3)
            runs.append(el)
            best = el if best < 0 else min(best, el)
        print(f"{name}: min={best:.3f}  runs={runs}  load={os.getloadavg()[0]:.2f}")
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
