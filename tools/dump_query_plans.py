"""Dump `.explain("formatted")` physical plans for named gate rows
into plans/<tag>/<query>_<suffix>.txt — before/after plan evidence
for an optimization change.

Usage: python tools/dump_query_plans.py <tag> <suffix> <query> [query ...]
       (tag names the output dir, e.g. `r15`; suffix is `before` or
       `after`; sf dir defaults to sf0.001 — plan SHAPE does not
       depend on data volume)
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    tag, suffix = sys.argv[1:3]
    names = sys.argv[3:]
    import __spark_entry__ as entry
    from meteaudata_spark.ext import warm
    from meteaudata_spark.session import get_spark

    spark = get_spark("dump_query_plans")
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()
    os.makedirs(os.path.join(ROOT, "plans", tag), exist_ok=True)
    # Prewarm the session-memoized cores so each dumped plan is the
    # plan the bench's marginal (post-warm) timing actually executes.
    warm.warm_pair_relations(spark, SF_DIR)
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(ROOT, "plans", tag, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()
