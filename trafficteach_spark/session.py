"""SparkSession construction with scale-ready defaults.

The reference (SURVEY.md §4) hand-tunes parallelism, broadcasts and salted
aggregations in each job ``main()``. Here all of that is session config:
AQE handles skew/coalescing at runtime, broadcast thresholds pick map-side
joins, and the rest is left to Catalyst.

Two entry points:

- :func:`get_spark` builds a session for local runs (tests, bench).
- :func:`ensure_session_confs` applies the *runtime-settable* confs this
  engine needs to a session someone else built (the driver harness passes
  us its own SparkSession — we must work inside it).
"""

from __future__ import annotations

import os
import warnings
import weakref
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Confs that are safe to set at runtime on an existing session and that the
# engine relies on for correctness/parity:
#  - nanosAsLong: /root/testdata events.parquet stores TIMESTAMP(NANOS) which
#    Spark 4 cannot read natively (PARQUET_TYPE_ILLEGAL); read the raw int64
#    and convert `ns div 1000` -> microsecond timestamp in the loader.
#  - session timeZone UTC: parity with DuckDB's naive timestamps.
#  - Arrow: fast pandas-UDF exchange (the only sanctioned Python path).
RUNTIME_CONFS: dict[str, str] = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.mergeSchema": "false",
    # AQE is on by default in Spark 4; make the intent explicit plus the
    # skew-join handling the reference implemented by hand (salting UDFs).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    # Wide-aggregate codegen: the default 100-field cutoff silently
    # drops plans like q103's 28-pair co-moment aggregate (137 partial
    # fields) out of whole-stage codegen into interpreted row-at-a-time
    # aggregation — measured 6.7x slower for the IDENTICAL single-scan
    # plan (round-9 verdict item 4; BASELINE.md round-10 probe). 300
    # covers every registered plan's width; compile blowups past it
    # still fall back gracefully (spark.sql.codegen.fallback=true).
    "spark.sql.codegen.maxFields": "300",
}


# Confs where a silent divergence breaks oracle parity (not just perf):
# wrong timeZone shifts every timestamp vs DuckDB; nanosAsLong off makes
# events.parquet unreadable.
_PARITY_CRITICAL = ("spark.sql.session.timeZone", "spark.sql.legacy.parquet.nanosAsLong")


# Sessions that have had every RUNTIME_CONFS entry applied. Weak, so an
# entry dies with its session; a ``spark.newSession()`` (own SQL conf) is
# a different object and gets the full apply.
_CONFIGURED: weakref.WeakSet[SparkSession] = weakref.WeakSet()


def _critical_drift(spark: SparkSession) -> list[tuple[str, str | None]]:
    """``(key, actual)`` for each parity-critical conf that is not set to
    the engine's value on *spark*."""
    drift = []
    for key in _PARITY_CRITICAL:
        try:
            actual = spark.conf.get(key, None)
        except Exception:
            actual = None
        if actual != RUNTIME_CONFS[key]:
            drift.append((key, actual))
    return drift


def ensure_session_confs(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable confs the engine needs to *any* session.

    Every loader calls this so queries work whether the session was
    built by :func:`get_spark` or by the external harness. The full
    :data:`RUNTIME_CONFS` set is applied once per session; every later
    call only reads back the two parity-critical confs and re-applies
    the whole set if either has drifted (a caller that switched the
    session to ``America/New_York`` between queries is healed on the
    next load). If the session refuses a parity-critical conf (e.g.
    marked static on some build) a loud warning is raised on every
    call — a silent divergence there corrupts every timestamp
    comparison with the oracle.
    """
    if spark in _CONFIGURED and not _critical_drift(spark):
        return spark
    for key, value in RUNTIME_CONFS.items():
        try:
            spark.conf.set(key, value)
        except Exception:
            # A conf may be marked static on some builds; the builder path
            # sets it at construction time instead. Verified below.
            pass
    for key, actual in _critical_drift(spark):
        warnings.warn(
            f"parity-critical conf {key}={actual!r} (need {RUNTIME_CONFS[key]!r}); "
            "timestamp results may diverge from the DuckDB oracle",
            stacklevel=2,
        )
    _CONFIGURED.add(spark)
    return spark


@contextmanager
def cache_scope(spark: SparkSession) -> Iterator[SparkSession]:
    """Scope for the registry's caching contract (registry.py: queries may
    ``persist()`` an intra-query frame that the lazy return value cannot
    unpersist): everything cached inside the ``with`` block is dropped on
    exit via ``spark.catalog.clearCache()``, so a harness cannot
    accumulate query-local persists across many queries by forgetting the
    manual call. perfbench and tools/parity.py run every query inside
    this scope.

    The dedup chain's MATERIALIZED pair/cluster layer (localCheckpoint
    blocks, see operators/llm/dedup.py) is deliberately unaffected —
    localCheckpoint storage is not a catalog cache entry, and those
    blocks are the chain's cross-query reuse contract.

    If the session enters the scope with PRE-EXISTING cached frames, a
    warning is raised after the exit's clear (which drops everything —
    Spark's catalog cache cannot be cleared selectively), so a caller
    that turns the warning into an error still leaves the cache empty:
    run long-lived caller caches outside the scope, or re-cache after
    it.
    """
    try:
        pre_existing = not spark._jsparkSession.sharedState().cacheManager().isEmpty()
    except Exception:  # non-classic session (e.g. Connect): can't probe
        pre_existing = False
    try:
        yield spark
    finally:
        spark.catalog.clearCache()
        if pre_existing:
            warnings.warn(
                "cache_scope entered with pre-existing cached frames; "
                "clearCache() on exit drops those too",
                stacklevel=2,
            )


def driver_mem_for_host(host_mem_bytes: int) -> str:
    """Default driver heap for a host with *host_mem_bytes* of RAM: half of
    it, capped at 16g, as a JVM size string in MiB. The other half is
    left to the JVM's off-heap use, Python workers and the OS — a heap
    sized to the whole host lets GC defer collection until the machine,
    not the JVM, runs out of memory."""
    return f"{min(host_mem_bytes // 2, 16 * 2**30) // 2**20}m"


def get_spark(app_name: str = "trafficteach-spark", cpus: int | None = None) -> SparkSession:
    """Local-mode session: ``local[$SPARK_GRAFT_CPUS]``, AQE on.

    Shuffle partitions equal the core count, so shuffles, the
    ``spread_scan`` repartition (``defaultParallelism``) and streaming
    state stores (which inherit the shuffle count; streaming runs without
    AQE) all use one number — a restarted query keeps its checkpoint's
    own count. At cluster scale this would be tuned to ~2-3x total cores
    (or left to AQE's initialPartitionNum + coalescing), which is exactly
    what AQE does for us here.

    The driver heap is ``$SPARK_GRAFT_DRIVER_MEM`` if set, else
    :func:`driver_mem_for_host` of this host's RAM (half, capped at 16g).

    PySpark's per-call origin capture is off
    (``spark.python.sql.dataFrameDebugging.enabled=false``, a static
    conf). With it on, every ``F.*`` and DataFrame call looks up the
    active session, the origin class and a conf and sets and clears the
    call site: about five extra py4j round trips and a Python stack walk
    per call, which doubled the py4j commands of building a traffic
    query. The cost: a DataFrame-API error message no longer names the
    Python line that built the failing expression (the JVM error itself
    is unchanged). A session built by someone else keeps Spark's
    default. The console progress bar is off too, so tools that print
    tables to stdout print clean rows.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or driver_mem_for_host(
        os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")  # MemTotal on Linux
    )
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # STATIC conf (builder-time only): the generated-class cache
        # defaults to 100 entries, and a 220-query suite cycles through
        # far more codegen stages than that — by the time a suite-wide
        # warmup pass ends, the first keys' classes are evicted and
        # their "warmed" first timed sample silently pays Janino
        # compilation again (the round-10 driver-vs-capstone per-key
        # phantom's mechanical half). 4096 keeps every registered
        # plan's stages resident; the cost is class metadata, trivial
        # beside the driver heap.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
    )
    for key, value in RUNTIME_CONFS.items():
        builder = builder.config(key, value)
    return ensure_session_confs(builder.getOrCreate())

