"""Benchmark of record for meteaudata_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Runs one workload (see ``workloads.py``) from the root of a checkout:
set-up, a closed loop of ``--seconds / ROUND_S`` rounds of ops (at least
one; ``ROUND_S`` is the workload's nominal round length), then output
checks outside the timed region. The last stdout line is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A full record (host, loadavg, latencies,
checks, spans) goes to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import statistics
import sys
import time
import traceback

import numpy as np

import workloads
from spans import Tracer
from sparkstats import host_info, job_stats, plan_features

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(HERE, "out")
# Executor cores. Half of a 4-core host: the other cores take the JVM's
# compiler and GC threads and the Python driver, so tasks do not queue
# behind them.
MAX_CPUS = 2


def pin_host(tmp: str) -> int:
    """Pin Spark to at most ``MAX_CPUS`` local cores (and as many shuffle
    partitions), start the JVM with a 2 GB heap so that heap growth does
    not slow the first timed rounds, and keep every temporary file inside
    the checkout. Must run before ``meteaudata_spark`` is imported."""
    k = min(MAX_CPUS, os.cpu_count() or 1)
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(k)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (  # no hsperfdata file in /tmp either
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms2g' pyspark-shell"
    )
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)
    return k


class Bench:
    """Shared state of one run: session, tracer, op log, set-up phases."""

    def __init__(self, spark, tracer, seed: int, tmp: str) -> None:
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.tmp = tmp
        self.latencies: list[float] = []
        self.failed = 0
        self.phases: dict[str, float] = {}

    @contextlib.contextmanager
    def phase(self, name: str):
        """Time one set-up phase (recorded, not a metric)."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = time.perf_counter() - t0

    @contextlib.contextmanager
    def op(self, label: str):
        """Time one op. An exception fails the op and the loop goes on."""
        op_id = len(self.latencies)
        self.tracer.op_id = op_id
        group = f"op-{op_id}"
        if self.tracer.enabled:
            self.spark.sparkContext.setJobGroup(group, label)
        t0 = time.perf_counter()
        try:
            yield
        except Exception:  # noqa: BLE001 - an op failure is a result
            self.failed += 1
            print(f"# FAIL op {op_id} {label}", file=sys.stderr)
            traceback.print_exc()
        finally:
            self.latencies.append(time.perf_counter() - t0)
            if self.tracer.enabled:
                for key, value in job_stats(self.spark, group).items():
                    self.tracer.count(f"exec.{key}", value)

    def materialize(self, df, prefix: str = "") -> None:
        """Noop write of ``df``; when traced, force and measure its plan
        first."""
        if self.tracer.enabled:
            with self.tracer.span(f"{prefix}plan"):
                features = plan_features(df)
            for key, value in features.items():
                self.tracer.count(f"plan.{key}", value)
        with self.tracer.span(f"{prefix}exec"):
            df.write.mode("overwrite").format("noop").save()


def tail(latencies: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten ops beyond it, floored
    at the median when a run has fewer than 20 ops."""
    q = max(50.0, 100.0 * (len(latencies) - 10) / len(latencies))
    return q, float(np.percentile(latencies, q))


def per_layer(bench: Bench, n_ops: int, wall_s: float, session: dict) -> dict:
    layers = bench.tracer.layers()
    counts = bench.tracer.counts

    def total(*names: str, key: str = "total_s") -> float:
        return sum(
            v[key] for k, v in layers.items()
            if k in names or any(k.endswith("." + n) for n in names)
        ) / n_ops

    def calls(name: str) -> float:
        return layers.get(name, {}).get("n", 0) / n_ops

    outputs = counts.get("signal.outputs", 0)
    m = {
        "session.start_s": session["start_s"],
        "session.warmup_s": session["warmup_s"],
        "timeseries.ingest_s": total("timeseries.ingest"),
        "timeseries.arrow_fallbacks": counts.get("timeseries.arrow_fallbacks", 0) / n_ops,
        "timeseries.equal_s": total("timeseries.equal"),
        "signal.process_calls": calls("signal.process"),
        "signal.process_s": total("signal.process"),
        "signal.self_s": total("signal.process", key="self_s"),
        "signal.lineage_steps_mean": counts.get("signal.lineage_steps", 0) / outputs if outputs else 0,
        "operators.calls": calls("operators.build"),
        "operators.build_s": total("operators.build"),
        "dataset.process_long_s": total("dataset.process_long"),
        "plan.s": total("plan"),
    }
    for key in ("chars", "exchanges", "python_nodes", "smj", "scans"):
        m[f"plan.{key}"] = counts.get(f"plan.{key}", 0) / n_ops
    m["exec.s"] = total("exec")
    for key in ("jobs", "stages", "tasks", "failed_tasks", "shuffle_bytes"):
        m[f"exec.{key}"] = counts.get(f"exec.{key}", 0) / n_ops
    m["metadata.manifest_s"] = total("metadata.manifest")
    m["metadata.manifest_bytes"] = counts.get("metadata.manifest_bytes", 0) / n_ops
    m["store.save_s"] = total("store.save")
    m["store.load_s"] = total("store.load")
    m["store.files_written"] = counts.get("store.files_written", 0) / n_ops
    m["store.bytes_written"] = counts.get("store.bytes_written", 0) / n_ops
    values = counts.get("store.values_written", 0)
    m["store.bytes_per_value"] = counts.get("store.bytes_written", 0) / values if values else 0
    m["tables.load_s"] = total("tables.load")
    for row in workloads.GATE_ROWS:
        for part in ("build", "plan", "exec"):
            agg = layers.get(f"ext.{row}.{part}")
            m[f"ext.{row}.{part}_s"] = agg["total_s"] / agg["n"] if agg else 0
    m["trace.wall_s"] = wall_s
    m["trace.spans"] = sum(v["n"] for v in layers.values()) / n_ops
    return m


def self_by_layer(tracer, n_ops: int) -> dict[str, float]:
    """Self seconds per op by layer, largest first. A gate row's
    ``ext.<row>.plan`` / ``.exec`` spans count as the plan / exec layer,
    its ``.build`` span as ``ext.build``."""
    out: dict[str, float] = {}
    for name, agg in tracer.layers().items():
        parts = name.split(".")
        if parts[0] == "ext" and len(parts) == 3:
            name = "ext.build" if parts[2] == "build" else parts[2]
        out[name] = out.get(name, 0.0) + agg["self_s"] / n_ops
    return dict(sorted(out.items(), key=lambda kv: -kv[1]))


def load_units() -> dict[str, str]:
    """Metric name -> unit, as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "meteaudata_spark", "__init__.py")):
        print(f"error: no meteaudata_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"error: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    units = load_units()

    tmp = os.path.join(ROOT, ".bench_tmp", f"{args.workload}-{os.getpid()}")
    k = pin_host(tmp)
    load_start = os.getloadavg()[0]
    tracer = Tracer(bool(args.trace))

    t_setup = time.perf_counter()
    from meteaudata_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    start_s = time.perf_counter() - t_setup
    t0 = time.perf_counter()
    # the JVM's first job costs seconds however small it is
    spark.range(0, 1_000, 1, k).count()
    warmup_s = time.perf_counter() - t0
    gateway = spark.sparkContext._gateway
    try:
        bench = Bench(spark, tracer, args.seed, tmp)
        wl = workloads.WORKLOADS[args.workload](bench)
        input_desc = wl.setup()
        setup_s = time.perf_counter() - t_setup
        tracer.counts.clear()
        tracer.timed_from = len(tracer.spans)

        # A fixed op set per (workload, --seconds): a round count that
        # followed the clock would flip with host speed, and later rounds
        # run warmer, so the medians would jump with it. Only a host more
        # than twice as slow as ROUND_S assumes cuts the set short, so
        # that a run still ends in bounded time.
        n_rounds = max(1, round(args.seconds / wl.ROUND_S))
        rounds: list[float] = []
        t_loop = time.perf_counter()
        for _ in range(n_rounds):
            first = len(bench.latencies)
            wl.round()
            rounds.append(sum(bench.latencies[first:]))
            if time.perf_counter() - t_loop > 2 * args.seconds:
                break
        loop_s = time.perf_counter() - t_loop
        tracer.op_id = None
        # Peak RSS is a high-water mark: read it before the checks, whose
        # oracle work (pandas references, collects, DuckDB) is not the
        # program's.
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0

        t0 = time.perf_counter()
        checks = wl.check()
        check_s = time.perf_counter() - t0
        wrong = sum(1 for _, ok in checks if not ok)
        for label, ok in checks:
            if not ok:
                print(f"# WRONG {label}", file=sys.stderr)
        n_ops = len(bench.latencies)
        failed = min(n_ops, bench.failed + wrong)
        # The mean, not the median, of the rounds: the host's speed
        # swings in phases of some seconds, and a mean weighs every
        # phase a run went through where a median picks one.
        wall_s = statistics.fmean(rounds)
        q, tail_s = tail(bench.latencies)
        end_to_end = {
            "setup_s": setup_s,
            "wall_s": wall_s,
            "op_p50_ms": statistics.median(bench.latencies) * 1000,
            "op_tail_ms": tail_s * 1000,
            "py_rss_peak_mb": rss_mb,
        }
        session = {"start_s": start_s, "warmup_s": warmup_s}
        layer_metrics = (
            per_layer(bench, n_ops, wall_s, session) if args.trace else {}
        )
        load_end = os.getloadavg()[0]
        record = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "host": host_info(spark, k),
            "loadavg_1m": {"start": load_start, "end": load_end},
            "input": input_desc,
            "setup_phases": {"session.start": start_s, "session.warmup": warmup_s,
                             **bench.phases},
            "attempted": n_ops,
            "failed": failed,
            "failed_ratio": failed / n_ops,
            "rounds": len(rounds),
            "round_s": rounds,
            "loop_s": loop_s,
            "check_s": check_s,
            "latencies_ms": [x * 1000 for x in bench.latencies],
            "op_tail_percentile": q,
            "checks": [{"label": lb, "ok": ok} for lb, ok in checks],
            "end_to_end": end_to_end,
            "per_layer": layer_metrics,
            "self_s_per_op": self_by_layer(tracer, n_ops),
            "spans": tracer.spans,
        }
    finally:
        proc = getattr(gateway, "proc", None)
        spark.stop()
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            proc.wait(timeout=60)
        shutil.rmtree(tmp, ignore_errors=True)

    os.makedirs(OUT_DIR, exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    out_path = os.path.join(
        OUT_DIR, f"{args.workload}-seed{args.seed}-trace{args.trace}-{stamp}.json"
    )
    with open(out_path, "w") as fh:
        json.dump(record, fh, indent=1)

    host = record["host"]
    print(
        f"# host nproc={host['nproc']} k={host['k']} spark={host['spark']} "
        f"python={host['python']} java={host['java']!r}"
    )
    print(f"# loadavg_1m start={load_start:.2f} end={load_end:.2f}")
    if max(load_start, load_end) > (os.cpu_count() or 1):
        print("# WARN loadavg>nproc")
    print(f"# input {json.dumps(input_desc)}")
    print(
        f"# ops={n_ops} rounds={len(rounds)} failed={failed} "
        f"failed_ratio={failed / n_ops:.4f} op_tail=p{q:.1f}"
    )
    shown = layer_metrics if args.trace else end_to_end
    for name, value in shown.items():
        print(f"{name} {value:.6g} {units[name]}")
    if args.trace:
        top = next(iter(record["self_s_per_op"].items()), ("none", 0.0))
        print(f"# largest self time per op: {top[0]} {top[1]:.4f} s")
    print(f"# wrote {os.path.relpath(out_path, ROOT)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": n_ops,
        "failed": failed,
        "metrics": {
            name: {"value": value, "unit": units[name]} for name, value in shown.items()
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
