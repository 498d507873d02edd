"""What the benchmark reads from Spark itself: host shape, plan shape
and per-op job statistics. Nothing here changes what Spark runs."""

from __future__ import annotations

import os
import platform


def host_info(spark, k: int) -> dict:
    jvm = spark.sparkContext._jvm.System
    return {
        "nproc": os.cpu_count(),
        "k": k,
        "master": spark.sparkContext.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": spark.version,
        "java": f"{jvm.getProperty('java.vm.name')} {jvm.getProperty('java.version')}",
        "python": platform.python_version(),
    }


def plan_features(df) -> dict[str, int]:
    """Force the executed plan (the formatted explain does) and count
    the plan features ``tools/profile_queries.py`` counts."""
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    return {
        "chars": len(plan),
        "exchanges": plan.count("Exchange") - plan.count("ReusedExchange"),
        "python_nodes": sum(
            plan.count(n)
            for n in ("EvalPython", "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas")
        ),
        "smj": plan.count("SortMergeJoin"),
        "scans": plan.count("Scan parquet") + plan.count("Scan ExistingRDD"),
    }


def job_stats(spark, group: str) -> dict[str, int]:
    """Jobs, executed stages, tasks, failed tasks and shuffle-write
    bytes of every job run under ``group``."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for job in jobs:
        info = tracker.getJobInfo(job)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = {"jobs": len(jobs), "stages": 0, "tasks": 0, "failed_tasks": 0, "shuffle_bytes": 0}
    for sid in stage_ids:
        data = store.lastStageAttempt(sid)
        if data.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += data.numCompleteTasks() + data.numFailedTasks()
        out["failed_tasks"] += data.numFailedTasks()
        out["shuffle_bytes"] += data.shuffleWriteBytes()
    return out
