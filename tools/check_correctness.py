"""Local replica of the driver's t2 correctness gate: runs each
queries() entry on Spark and its oracle_sql() on DuckDB at the given
scale factor, compares row counts, column names, and values
(order-insensitive; exact match expected because every query rounds /
decimal-casts its numerics).

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif str(pdf[c].dtype).startswith("datetime"):
            pdf[c] = pd.to_datetime(pdf[c]).dt.tz_localize(None)
    return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> bool:
    a, b = normalize(spark_pdf), normalize(duck_pdf)
    if list(a.columns) != list(b.columns):
        print(f"  FAIL {name}: columns {list(a.columns)} vs {list(b.columns)}")
        return False
    if len(a) != len(b):
        print(f"  FAIL {name}: rows {len(a)} vs {len(b)}")
        return False
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            ok = np.allclose(
                av.astype(float), bv.astype(float), rtol=0, atol=0, equal_nan=True
            )
        else:
            ok = (av.fillna("<n>") == bv.fillna("<n>")).all() if av.dtype == object else (
                av.fillna(-987654321) == bv.fillna(-987654321)
            ).all()
        if not ok:
            diff = (av != bv)
            print(f"  FAIL {name}: column {c!r} differs; first diffs:")
            print(pd.DataFrame({"spark": av[diff].head(5), "duck": bv[diff].head(5)}))
            return False
    return True


def main() -> None:
    args = list(sys.argv[1:])
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        del args[i : i + 2]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    only = set(args[1:])

    import __spark_entry__ as e
    from meteaudata_spark.session import get_spark
    from meteaudata_spark.sources.catalog import BENCH_TABLES

    spark = get_spark("correctness")
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in BENCH_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = e.queries(), e.oracle_sql()
    passed = failed = weak = 0
    results: dict = {}
    for name, fn in qs.items():
        if only and name not in only:
            continue
        import time as _time

        _t0 = _time.perf_counter()
        try:
            sdf = fn(spark, sf_dir)
            spark_pdf = sdf.toPandas()
        except Exception as exc:
            print(f"  ERROR {name} (spark): {type(exc).__name__}: {exc}")
            failed += 1
            continue
        if name not in oracles:
            print(f"  weak {name}: rows={len(spark_pdf)} (no oracle)")
            weak += 1
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as exc:
            print(f"  ERROR {name} (duckdb): {type(exc).__name__}: {exc}")
            failed += 1
            continue
        if compare(name, spark_pdf, duck_pdf):
            notes = [
                f"{c}: spark={spark_pdf[c].dtype} duck={duck_pdf[c].dtype}"
                for c in sorted(spark_pdf.columns)
                if c in duck_pdf.columns
                and str(spark_pdf[c].dtype) != str(duck_pdf[c].dtype)
                and not (
                    str(spark_pdf[c].dtype).startswith("datetime")
                    and str(duck_pdf[c].dtype).startswith("datetime")
                )
            ]
            suffix = f"  [dtype drift: {'; '.join(notes)}]" if notes else ""
            print(f"  ok   {name}: rows={len(spark_pdf)}{suffix}")
            passed += 1
            results[name] = {
                "ok": True,
                "rows": len(spark_pdf),
                "sec": round(_time.perf_counter() - _t0, 2),
            }
        else:
            failed += 1
            results[name] = {"ok": False, "rows": len(spark_pdf)}
    print(f"\n{passed} ok, {failed} failed, {weak} weak (rows-only)")
    if json_out:
        import json as _json

        with open(json_out, "w") as f:
            _json.dump(
                {
                    "sf_dir": sf_dir,
                    "passed": passed,
                    "failed": failed,
                    "weak": weak,
                    "results": results,
                },
                f,
                indent=1,
                sort_keys=True,
            )
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
