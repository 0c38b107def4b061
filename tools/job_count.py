"""Per-key Spark JOB counter.

On small multi-job keys the per-job scheduler round-trip, not scan
throughput, dominates wall time. This tool measures that lever directly
— how many jobs one execution of a query submits — so "merge probes
into fewer passes" work has a before/after number instead of a guess.

Usage::

    python -m tools.job_count q104_fk_audit q120_skew_audit ...
    python -m tools.job_count            # the known floor-bound keys

Prints one line per key: jobs, stages, tasks, and wall seconds for a
single post-warmup noop-sink execution (warmup first, so codegen/footer
costs don't masquerade as scheduling).
"""

from __future__ import annotations

import os
import sys
import time

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from trafficteach_spark import registry  # noqa: E402
from trafficteach_spark.session import cache_scope, get_spark  # noqa: E402


def _force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


DEFAULT_KEYS = (
    "q104_fk_audit",
    "q120_skew_audit",
    "q97_data_profile",
    "q202_dedup_method_agreement",
    "q144_cuped_lift",
)


def count_jobs(spark, fn, sf_dir: str, key: str) -> tuple[int, int, int, float]:
    """(jobs, stages, tasks, wall_sec) for one noop-sink execution."""
    sc = spark.sparkContext
    group = f"jobcount-{key}-{time.monotonic_ns()}"
    sc.setJobGroup(group, key)
    try:
        t0 = time.perf_counter()
        _force(fn(spark, sf_dir))
        wall = time.perf_counter() - t0
    finally:
        sc.setJobGroup(None, None)
    tracker = sc.statusTracker()
    job_ids = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in job_ids:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        stages += len(info.stageIds)
        for sid in info.stageIds:
            sinfo = tracker.getStageInfo(sid)
            if sinfo is not None:
                tasks += sinfo.numTasks
    return len(job_ids), stages, tasks, wall


def main() -> None:
    keys = sys.argv[1:] or list(DEFAULT_KEYS)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("trafficteach-jobcount")
    spark.sparkContext.setLogLevel("ERROR")
    specs = registry.all_specs()
    unknown = [k for k in keys if k not in specs]
    if unknown:
        print(f"unknown keys: {unknown}", file=sys.stderr)
        sys.exit(2)
    print(f"{'key':32s} {'jobs':>5s} {'stages':>7s} {'tasks':>6s} {'sec':>8s}")
    for key in keys:
        fn = specs[key].fn
        with cache_scope(spark):  # untimed warmup execution
            _force(fn(spark, sf_dir))
        with cache_scope(spark):
            jobs, stages, tasks, wall = count_jobs(spark, fn, sf_dir, key)
        print(f"{key:32s} {jobs:5d} {stages:7d} {tasks:6d} {wall:8.3f}")


if __name__ == "__main__":
    main()
