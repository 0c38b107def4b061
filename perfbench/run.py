"""Benchmark: seeded workloads through the registry and the streaming
pipelines, one closed-loop client on a local[<=4] driver.

Run from the root of a checkout:

    python3 perfbench/run.py --workload traffic_stream --seed 1 --seconds 10 --trace 0

Workloads (the program sees only the inputs ``gen.py`` makes from the seed):

- ``traffic_stream``: the traffic job family, analytical queries beside
  real-time ingest. Each pass runs 21 traffic registry keys over one
  seeded sf0.01-sized dataset (10k events, 60k lineitem) and drains a
  seeded, ts-ordered event backlog (10k events in 8 files) twice, each
  time from a fresh checkpoint: through ``start_windowed_parquet_sink``,
  then through ``start_incremental_rollup``. The keys are driver-bound (plan
  building, job scheduling, small scans); the drains are the only path
  that writes. The streaming entry points hard-code the ``availableNow``
  trigger, so this measures drain capacity.
- ``corpus_llm``: 17 LLM-pipeline keys (dedup chain, similarity, text,
  Python UDF/UDTF, corpus). Each pass reads a fresh seeded corpus shard
  of 500 documents, so the dedup layer is built once per pass and reused
  within it. The only workload whose registered jobs run Python workers.

Protocol: one client, closed loop. Pin the environment, generate (or
reuse) the inputs, start the session, load the registry, run the check
pass (every key and both drains once, cold; every key checked against its
DuckDB oracle, the rollup against q101's oracle), then issue units back
to back in whole passes until ``--seconds`` have
passed and at least ``MIN_PASSES`` passes ran. A unit is one registered
query (``fn(spark, dir)`` plus execution through the ``noop`` sink) or
one streaming drain (start to termination).

End-to-end metrics (``--trace 0``). Every time is wall time less the
share the hypervisor stole from the machine's busy CPUs over the same
interval (``steal`` in /proc/stat; no change on bare metal), so a
neighbour's load on a shared host does not read as a slower program. A
key's latency is its best over the passes, the sample the host disturbed
least.

- ``setup_s``: process start to the first timed unit, less input
  generation and oracle time.
- ``job_p50_s``: median of the keys' latencies, so every key weighs the
  same however often the clock let it run. With about 20 keys a higher
  percentile would rest on a few keys; ``jobs_per_min`` carries the
  heavy ones.
- ``jobs_per_min``: keys per minute of one pass, each key at its latency.
- ``events_per_s``: backlog events landed per second of draining, each
  sink at its best drain (traffic_stream); documents read per second of
  one pass of the keys (corpus_llm).
- ``batch_p50_s``, ``batch_p75_s``: micro-batch ``triggerExecution``,
  each batch of a sink at its best over the drains (traffic_stream); the
  keys' best execution time, the job after its plan is built
  (corpus_llm).
- ``peak_rss_mb``: the driver JVM's VmHWM.

Failures count in ``failed`` of the result line and are printed by key.

``--trace 1`` alternates traced and untraced units, reads Spark's status
store, /proc and the streaming progress, prints a per-layer table and
writes the spans to ``.bench_work/traces/``. The last stdout line is the
JSON result.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()
with open("/proc/stat") as _fh:
    T0_STAT = _fh.readline()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

WORKLOADS = ("traffic_stream", "corpus_llm")
MAX_CORES = 4
# Every key gets at least this many timed samples.
MIN_PASSES = 2
# The heap is fixed and pre-touched, so peak RSS reads heap plus the
# off-heap growth the run causes, not when G1 happened to expand the heap.
DRIVER_MEM = "1g"


def _parse(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="sf0.001-sized inputs (self-test)")
    ap.add_argument("--plant-wrong", action="store_true", help="corrupt one expected result (self-test)")
    return ap.parse_args(argv)


def _host_mem_bytes() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def _pin_env(work: str) -> dict:
    """Environment for the driver JVM, set before pyspark is imported."""
    cores = min(MAX_CORES, os.cpu_count() or 1)
    mem = DRIVER_MEM
    if int(mem[:-1]) * 2**30 >= _host_mem_bytes():
        raise SystemExit(f"driver heap {mem} is not below host RAM")
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_GRAFT_DRIVER_MEM=mem,
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                "--conf spark.ui.retainedJobs=1000000",
                "--conf spark.ui.retainedStages=1000000",
                "--conf spark.sql.streaming.numRecentProgressUpdates=10000",
                f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
                f'--driver-java-options "-Xms{mem} -XX:+AlwaysPreTouch -XX:-UsePerfData -Djava.io.tmpdir={tmp}"',
                "pyspark-shell",
            ]
        ),
    )
    return {"cores": cores, "nproc": os.cpu_count(), "driver_mem": mem, "host_mem_gb": round(_host_mem_bytes() / 2**30, 1), "spark_local_dirs": local, "console_progress": False}


def _key_best(records: list[dict], field) -> dict[str, float]:
    """Per key, the least ``field(record)`` over its records: the sample
    the host disturbed least, and the one the JIT warmed most."""
    by_key: dict[str, list[float]] = {}
    for r in records:
        by_key.setdefault(r["key"], []).append(field(r))
    return {k: min(v) for k, v in by_key.items()}


def _latency(r: dict) -> float:
    """Wall time of a unit less the share the hypervisor stole from it."""
    return (r["build"] + r["exec"]) * (1.0 - r["steal"])


def _exec(r: dict) -> float:
    return r["exec"] * (1.0 - r["steal"])


def _pct(values: list[float], q: float) -> float:
    """Interpolated percentile (q in 0..1) of at least one value."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


class Bench:
    def __init__(self, args, root: str, work: str) -> None:
        self.args, self.root, self.work = args, root, work
        self.failed: list[str] = []
        self.attempted = 0
        self.records: list[dict] = []
        self._n = 0

    # -- one job ------------------------------------------------------
    def run_unit(self, unit, pass_no: int, traced: bool, timed: bool = True) -> None:
        from probes import cpu_ticks, descendants_cpu_s, steal_share
        from trafficteach_spark.session import cache_scope

        self._n += 1
        n, tr = self._n, self.tracer
        attrs = {"workload": self.args.workload, "pass": pass_no, "job": n, "key": unit.key}
        ids = []  # scheduler job ids at the call boundaries, traced jobs only
        cpu0 = descendants_cpu_s(self.jvm_pid) if traced else 0.0
        self.attempted += 1
        st0 = cpu_ticks()
        stream = self.wl.stream
        n_progress = len(stream.progress) if stream else 0
        try:
            with cache_scope(self.spark):
                if traced:
                    ids.append(self.store.next_job_id())
                t0 = time.perf_counter()
                with tr.span("plan.build", on=traced, **attrs):
                    handle = unit.build()
                t1 = time.perf_counter()
                if traced:
                    ids.append(self.store.next_job_id())
                t1b = time.perf_counter()
                with tr.span(unit.kind, on=traced, **attrs):
                    unit.execute(handle)
                t2 = time.perf_counter()
                if traced:
                    ids.append(self.store.next_job_id())
            if unit.after is not None:
                unit.after(handle)
        except Exception:  # noqa: BLE001 - a failing job is counted, the loop goes on
            self.failed.append(f"{unit.key}: exception\n{traceback.format_exc(limit=3)}")
            return
        if timed:
            rec = {"key": unit.key, "kind": unit.kind, "build": t1 - t0, "exec": t2 - t1b, "traced": traced,
                   "steal": steal_share(st0, cpu_ticks())}
            if unit.kind == "drain":
                rec["batches"] = [(p["batchId"], p["durationMs"]["triggerExecution"] / 1000.0)
                                  for _, p in stream.progress[n_progress:]]
            if traced:
                rec["py_cpu"] = descendants_cpu_s(self.jvm_pid) - cpu0
                rec["ids"] = ids
            self.records.append(rec)

    # -- phases -------------------------------------------------------
    def setup(self) -> None:
        import workloads
        from probes import StatusStore, Tracer, cpu_ticks, parse_ticks, steal_share

        a = self.args
        t = time.perf_counter()
        self.wl = workloads.Workload(a.workload, os.path.join(self.root, ".bench_cache"), self.work, a.seed, a.tiny)
        self.gen_s = time.perf_counter() - t

        self.tracer = Tracer()
        tr = self.tracer
        with tr.span("session.start") as s:
            import pyspark

            from trafficteach_spark.session import get_spark

            self.spark = get_spark("perfbench")
            self.sc = self.spark.sparkContext
            self.sc.setLogLevel("ERROR")
        self.session_start_s = s.end - s.start
        with tr.span("registry.load") as s:
            from trafficteach_spark import registry

            self.specs = registry.all_specs()
        self.registry_load_s = s.end - s.start
        self.spark_version = pyspark.__version__
        self.jvm_pid = self.sc._gateway.proc.pid
        self.store = StatusStore(self.spark)

        # The check pass is also the warm-up: every unit runs once, cold.
        with tr.span("warmup") as s:
            results, self.oracle_s = self.wl.check(
                self.spark, self.specs, a.plant_wrong,
                lambda unit: self.run_unit(unit, -1, traced=False, timed=False), tr.span,
            )
        for key, ok, detail in results:
            self.attempted += 1
            if not ok:
                self.failed.append(f"{key}: {detail}")
        self.warmup_s = s.end - s.start - self.oracle_s
        self.setup_steal = steal_share(parse_ticks(T0_STAT), cpu_ticks())
        self.setup_s = (time.perf_counter() - T0 - self.gen_s - self.oracle_s) * (1.0 - self.setup_steal)

    def measure(self) -> None:
        """Whole passes back to back until ``--seconds`` have passed (at
        least ``MIN_PASSES``); the last pass may stop between units."""
        a = self.args
        stream = self.wl.stream
        if stream:
            stream.progress.clear()
            stream.sink_bytes = 0
        self.dedup_bytes = 0
        self.pass_s: list[float] = []
        t0 = time.perf_counter()
        while len(self.pass_s) < self.wl.max_passes and (len(self.pass_s) < MIN_PASSES or time.perf_counter() - t0 < a.seconds):
            p, tp = len(self.pass_s), time.perf_counter()
            for i, unit in enumerate(self.wl.units(self.spark, self.specs, p)):
                if p >= MIN_PASSES and time.perf_counter() - t0 >= a.seconds:
                    break
                self.run_unit(unit, p, traced=bool(a.trace) and (p + i) % 2 == 1)
            self.pass_s.append(time.perf_counter() - tp)
            if a.trace and a.workload == "corpus_llm":
                from trafficteach_spark.operators.llm import dedup

                self.dedup_bytes = max(self.dedup_bytes, dedup.materialized_layer_bytes(self.spark))
        self.window_s = time.perf_counter() - t0

    # -- results ------------------------------------------------------
    def end_to_end(self) -> dict:
        from probes import peak_rss_mb

        jobs = [r for r in self.records if r["kind"] == "job"]
        lat = list(_key_best(jobs, _latency).values())
        stream = self.wl.stream
        if stream:
            # Events landed per second of draining: each sink drains the
            # backlog once, at its best drain time.
            drains = _key_best([r for r in self.records if r["kind"] == "drain"], _latency)
            events_per_s = stream.events * len(drains) / sum(drains.values())
            # Each micro-batch of a sink at its best over the drains, less
            # the share of its drain the hypervisor stole.
            batches = [{"key": (r["key"], bid), "t": t * (1.0 - r["steal"])}
                       for r in self.records if r["kind"] == "drain" for bid, t in r["batches"]]
            batch = list(_key_best(batches, lambda r: r["t"]).values())
        else:
            # Documents read per second of a pass: each key once, at its
            # latency; a batch is a job's executed part.
            events_per_s = self.wl.pass_events / sum(lat)
            batch = list(_key_best(jobs, _exec).values())
        return {
            "setup_s": (self.setup_s, "s"),
            "job_p50_s": (_pct(lat, 0.5), "s"),
            "jobs_per_min": (len(lat) / sum(lat) * 60.0, "1/min"),
            "events_per_s": (events_per_s, "1/s"),
            "batch_p50_s": (_pct(batch, 0.5), "s"),
            "batch_p75_s": (_pct(batch, 0.75), "s"),
            "peak_rss_mb": (peak_rss_mb(self.jvm_pid), "MB"),
        }

    def per_layer(self) -> dict:
        import pyarrow.parquet as pq

        from probes import stage_totals
        from trafficteach_spark.sources.tables import load_table

        jobs = [r for r in self.records if r["kind"] == "job"]
        traced = [r for r in jobs if r["traced"]]
        sjobs, stages = self.store.jobs(), self.store.stages()
        build = [stage_totals(sjobs, stages, r["ids"][0], r["ids"][1]) for r in traced]
        execd = [stage_totals(sjobs, stages, r["ids"][1], r["ids"][2]) for r in traced]

        def per_job(x: float) -> float:
            return x / len(traced)

        def both(field: str) -> float:
            return sum(t[field] for t in build + execd)

        wall = sum(r["build"] + r["exec"] for r in traced)
        run_s = both("executorRunTime") / 1000.0

        # Job floor: a trivial 4-task job, median of 15.
        floor = []
        for _ in range(15):
            t = time.perf_counter()
            self.spark.range(4, numPartitions=4).write.format("noop").mode("overwrite").save()
            floor.append(time.perf_counter() - t)
        # Direct timed scans of the workload's fact tables.
        if self.wl.stream:
            scan_dir, scan_tables = self.wl.base, ("events", "lineitem")
        else:
            scan_dir, scan_tables = self.wl.dataset(0), ("documents", "embeddings")
        rows = sum(pq.read_metadata(os.path.join(scan_dir, f"{t}.parquet")).num_rows for t in scan_tables)
        scans = []
        for _ in range(5):
            t = time.perf_counter()
            for name in scan_tables:
                with self.tracer.span("sources.scan", table=name):
                    load_table(self.spark, scan_dir, name).write.format("noop").mode("overwrite").save()
            scans.append(time.perf_counter() - t)

        # Tracing overhead: per key, best traced over best untraced
        # latency; the median of those ratios.
        lat_t = _key_best(traced, _latency)
        lat_u = _key_best([r for r in jobs if not r["traced"]], _latency)
        overhead = statistics.median([lat_t[k] / lat_u[k] for k in lat_t if k in lat_u]) - 1.0
        m = {
            "gen_s": (self.gen_s, "s"),
            "session.start_s": (self.session_start_s, "s"),
            "registry.load_s": (self.registry_load_s, "s"),
            "warmup_s": (self.warmup_s, "s"),
            "plan.build_s": (statistics.median([r["build"] for r in traced]), "s"),
            "plan.build_share": (sum(r["build"] for r in traced) / wall, "ratio"),
            "plan.eager_jobs": (per_job(sum(t["jobs"] for t in build)), "count/job"),
            "exec.s": (statistics.median([r["exec"] for r in traced]), "s"),
            "exec.jobs": (per_job(sum(t["jobs"] for t in execd)), "count/job"),
            "exec.stages": (per_job(both("stages")), "count/job"),
            "exec.tasks": (per_job(both("numTasks")), "count/job"),
            "exec.job_floor_ms": (statistics.median(floor) * 1000.0, "ms"),
            "exec.task_run_s": (per_job(run_s), "s/job"),
            "exec.task_cpu_s": (per_job(both("executorCpuTime") / 1e9), "s/job"),
            "exec.gc_s": (per_job(both("jvmGcTime") / 1000.0), "s/job"),
            "exec.busy_frac": (run_s / (wall * int(os.environ["SPARK_GRAFT_CPUS"])), "ratio"),
            "sources.input_rows": (per_job(both("inputRecords")), "rows/job"),
            "sources.input_bytes": (per_job(both("inputBytes")), "B/job"),
            "sources.scan_rows_per_s": (rows / statistics.median(scans), "rows/s"),
            "shuffle.write_bytes": (per_job(both("shuffleWriteBytes")), "B/job"),
            "shuffle.read_bytes": (per_job(both("shuffleReadBytes")), "B/job"),
            "shuffle.spill_bytes": (per_job(both("memoryBytesSpilled") + both("diskBytesSpilled")), "B/job"),
            "python.worker_cpu_s": (per_job(sum(r["py_cpu"] for r in traced)), "s/job"),
            "dedup.layer_bytes": (float(self.dedup_bytes), "B"),
            "trace.overhead_frac": (overhead, "ratio"),
            "host.steal_frac": (statistics.median([r["steal"] for r in self.records]), "ratio"),
        }
        m.update(self._stream_layer())
        return m

    def _stream_layer(self) -> dict:
        """Streaming progress of every timed drain; zeros without a stream."""
        stream = self.wl.stream
        prog = [p for _, p in stream.progress] if stream else []
        out: dict = {}
        for name, f in (("add_batch", "addBatch"), ("wal_commit", "walCommit"),
                        ("commit_offsets", "commitOffsets"), ("query_planning", "queryPlanning")):
            out[f"stream.{name}_s"] = (statistics.median([p["durationMs"].get(f, 0) for p in prog]) / 1000.0 if prog else 0.0, "s")
        ops = [op for p in prog for op in p.get("stateOperators", [])]
        out["stream.state_rows"] = (float(max((op["numRowsTotal"] for op in ops), default=0)), "rows")
        out["stream.state_commit_ms"] = (float(statistics.median([op["commitTimeMs"] for op in ops])) if ops else 0.0, "ms")
        drains = [r["key"] for r in self.records if r["kind"] == "drain"]
        for key in ("windowed_sink", "incremental_rollup"):
            rows = sum(p["numInputRows"] for k, p in stream.progress if k == key) if stream else 0
            events = drains.count(key) * stream.events if stream else 0
            out[f"stream.source_rows_per_event.{key}"] = (rows / events if events else 0.0, "ratio")
        landed = len(drains) * stream.events if stream else 0
        out["stream.sink_bytes_per_event"] = (stream.sink_bytes / landed if landed else 0.0, "B/event")
        return out

    def layer_table(self) -> str:
        lines = [f"{'span':<16}{'count':>7}{'total_s':>10}{'self_s':>10}"]
        for name, (n, tot, own) in sorted(self.tracer.self_times().items(), key=lambda kv: -kv[1][1]):
            lines.append(f"{name:<16}{n:>7}{tot:>10.3f}{own:>10.3f}")
        return "\n".join(lines)

    def stop(self) -> None:
        gateway = self.sc._gateway
        proc = gateway.proc
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=120)


def main(argv: list[str]) -> int:
    args = _parse(argv)
    root = os.getcwd()
    if not (
        os.path.isfile(os.path.join(root, "trafficteach_spark", "registry.py"))
        and os.path.isfile(os.path.join(root, "tools", "parity.py"))
    ):
        print("perfbench: run from the root of a trafficteach-spark checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".bench_work", f"run-{os.getpid()}")
    env = _pin_env(work)
    bench = Bench(args, root, work)
    try:
        bench.setup()
        bench.measure()
        if args.trace:
            metrics = bench.per_layer()
            traces = os.path.join(root, ".bench_work", "traces")
            os.makedirs(traces, exist_ok=True)
            path = os.path.join(traces, f"{args.workload}-s{args.seed}-{os.getpid()}.jsonl")
            bench.tracer.write(path)
            print(bench.layer_table())
            print(f"spans: {path}")
        else:
            metrics = bench.end_to_end()
    finally:
        if hasattr(bench, "spark"):
            bench.stop()
        shutil.rmtree(work, ignore_errors=True)
    env.update(spark=bench.spark_version, seed=args.seed, workload=args.workload,
               pass_s=[round(x, 3) for x in bench.pass_s], samples=len(bench.records),
               window_s=round(bench.window_s, 3), gen_s=round(bench.gen_s, 3), oracle_s=round(bench.oracle_s, 3))
    print("env: " + json.dumps(env))
    for line in bench.failed:
        print(f"FAILED {line}")
    result = {
        "correct": not bench.failed,
        "attempted": bench.attempted,
        "failed": len(bench.failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
