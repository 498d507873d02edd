"""bench.py: the gate-row timer's per-row split, its plan dumps, row
selection, and the size of the final summary line."""

import json

import pytest

import __spark_entry__ as entrymod
import bench

SF_DIR = "/root/testdata/sf0.001"
ROWS = ("q4_late_orders", "ts_aligned_average")  # in queries() order


def test_time_rows_records_split_and_writes_plans(spark, tmp_path):
    timings, splits, loadavgs = bench.time_rows(
        spark, SF_DIR, bench.pick_rows(ROWS), n_runs=1, plans_dir=str(tmp_path)
    )
    assert set(timings) == set(splits) == set(loadavgs) == set(ROWS)
    keys = {"bench_s", "build_s", "plan_s", "exec_s", "plan_chars", *bench.PLAN_FEATURES}
    for name, split in splits.items():
        assert set(split) == keys
        assert timings[name] == split["bench_s"]
        # one run: bench_s is that run's build + write (each of the
        # three is rounded to the millisecond on its own)
        assert split["bench_s"] == pytest.approx(
            split["build_s"] + split["exec_s"], abs=1.5e-3
        )
        assert split["n_scans"] >= 1
        assert len((tmp_path / f"{name}.txt").read_text()) == split["plan_chars"]
    assert sorted(p.name for p in tmp_path.iterdir()) == sorted(f"{n}.txt" for n in ROWS)


def test_unknown_row_raises():
    # queries() order, whatever order the names come in
    assert list(bench.pick_rows(ROWS[::-1])) == list(ROWS)
    with pytest.raises(ValueError, match="no_such_row"):
        bench.pick_rows(["ts_aligned_average", "no_such_row"])


def test_summary_line_fits_the_driver_tail():
    # every row at a 5-digit time, the longest names costliest, so the
    # top rows are the 40 longest names
    timings = {n: 10000.0 + len(n) + 0.123 for n in entrymod.queries()}
    payload = bench.make_payload(
        timings, {}, {}, {"warm": 99999.999},
        sf=0.001, n_runs=3, loadavg_start=99.99,
    )
    line = bench.summary_line(
        payload, "bench_results/rows_20261021T000000Z_sf0.001.json"
    )
    assert len(line) <= 2000
    top = json.loads(line)["top_queries_sec"]
    assert len(top) == bench.TOP_QUERIES
    assert min(top.values()) >= max(
        v for k, v in timings.items() if k not in top
    )
