"""Parquet table loaders (SURVEY.md §3 O1-O3).

The reference funnels every job through
``SparkUtils.getCameraRDDByDateRange`` — a SQL date-range scan that then
drops to RDDs (REF: util/SparkUtils.java [R]). Here the scan stays
declarative: ``spark.read.schema(...).parquet(...)`` so Catalyst keeps
predicate pushdown / column pruning / row-group skipping, and at cluster
scale partition pruning (a real deployment would write the fact tables
date-partitioned; the synthetic testdata is single-file).

Scale notes (100 TB):
- explicit schemas: no inference pass over exabytes of footers;
- the events fact would be laid out ``.../date=YYYY-MM-DD/`` and bucketed
  by ``user_id`` for the trajectory/funnel family of per-user queries;
- small dims (region, nation, supplier) stay broadcast-joinable.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from trafficteach_spark import schemas
from trafficteach_spark.session import ensure_session_confs
from trafficteach_spark.functions.exprs import ns_long_to_ntz_us

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def part_file_stamp(path: str) -> tuple[tuple[str, int, int], ...]:
    """``(relpath, size, mtime_ns)`` of every part file Spark would read
    at *path*, sorted — the one answer to "did this table change?".

    Keyed on the part files themselves, not the directory mtime: POSIX
    only bumps a dir's mtime on entry add/remove/rename, so an IN-PLACE
    part rewrite — or any change below a nested ``date=YYYY-MM-DD/``
    partition — would otherwise go unseen. The walk is recursive and
    mirrors Spark's file-index visibility rules: hidden paths (any
    basename starting with ``_`` or ``.``, e.g. an aborted write's
    ``_temporary/`` or ``.crc`` files) are skipped, and so are zero-byte
    part files (a crashed writer), which plan no splits. A plain file is
    its own single part. stat-only, no file reads. Raises
    FileNotFoundError when *path* is missing or a part vanishes mid-walk
    (a concurrent writer); each caller picks its own policy for that.
    """
    if not os.path.isdir(path):
        st = os.stat(path)
        return ((os.path.basename(path), st.st_size, st.st_mtime_ns),)
    stamp = []
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fname in files:
            if fname.startswith(("_", ".")) or not fname.endswith(".parquet"):
                continue
            full = os.path.join(dirpath, fname)
            st = os.stat(full)
            if st.st_size > 0:
                stamp.append((os.path.relpath(full, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(stamp))


# path -> (part_file_stamp, encoding verdict)
_EVENTS_TS_KIND_CACHE: dict[str, tuple[tuple, str]] = {}


def _events_stamp(path: str) -> tuple[tuple[str, int, int], ...]:
    """:func:`part_file_stamp` of the events table, with the encoding
    probe's error policy. Local-filesystem probe by design (pyarrow
    footer reads): a remote URI (s3://, hdfs://) fails here with a clear
    message — a real deployment enforces one encoding at write time
    instead of probing."""
    if "://" in path:
        raise ValueError(
            f"events encoding probe needs a local path, got {path!r}: "
            "remote datasets must commit to one ts encoding at write "
            "time (see _events_ts_kind docstring)"
        )
    try:
        return part_file_stamp(path)
    except FileNotFoundError:
        raise FileNotFoundError(f"no parquet at {path}") from None


def _events_ts_kind(path: str, stamp: tuple | None = None) -> str:
    """Physical encoding of ``events.ts`` at *path*: ``"int64_ns"`` (parquet
    TIMESTAMP(NANOS), which Spark 4 can only read as a raw long) or
    ``"timestamp"`` (plain TIMESTAMP_MICROS, readable natively as NTZ).

    Generated testdata has used both encodings across driver versions, so
    the loader probes parquet footers once per path (driver-side metadata
    reads of a few KB — never a data scan) and adapts. For a directory,
    EVERY part file's footer is probed and MIXED encodings raise instead
    of being silently misread through one schema (round-4 advisory; the
    earlier head+tail sample missed an in-place rewrite of a middle
    part). Cached per path keyed on the part files' (name, size, mtime)
    fingerprint, so any rewrite — including in-place — re-probes instead
    of serving the stale verdict; footer reads amortize to one per file
    per job, not per partition. *stamp* is the caller's
    :func:`_events_stamp` of *path*, if it already has one.
    """
    # Cache key = part_file_stamp, so an IN-PLACE part-file rewrite with
    # the other encoding re-probes instead of skipping the mixed-encoding
    # guard (round-6 review finding).
    if stamp is None:
        stamp = _events_stamp(path)
    cached = _EVENTS_TS_KIND_CACHE.get(path)
    if cached is not None and cached[0] == stamp:
        return cached[1]
    import pyarrow.parquet as _pq
    import pyarrow.types as _pt

    probes = [path]
    if os.path.isdir(path):
        # Probe EVERY part file, derived from the same stamp (one
        # directory listing; the probed set and the cached fingerprint are
        # atomically consistent). The earlier head+tail sample defeated
        # the in-place-rewrite guard this cache exists for: a MIDDLE part
        # rewritten with the other encoding re-probed (stamp changed) but
        # was never sampled, so its values were silently misread. Footer
        # reads are cheap (metadata only) and cached by the stamp; a
        # deployment with tens of thousands of parts should enforce one
        # encoding per dataset at write time instead of probing at all.
        parts = [name for name, _, _ in stamp]
        if not parts:
            raise FileNotFoundError(f"no parquet files under {path}")
        probes = [os.path.join(path, f) for f in parts]
    def _kind_of(probe: str) -> str:
        t = _pq.read_schema(probe).field("ts").type
        # Two physical forms need the raw-long read path: a plain int64
        # column AND an annotated TIMESTAMP(NANOS) column — pyarrow
        # surfaces the latter as timestamp[ns] (NOT an integer type),
        # but Spark's nanosAsLong=true still materializes it as long
        # (verified against a planted file in test_loader_encodings).
        # Probing only is_integer misclassified true NANOS files as
        # native timestamps (round-6 review finding).
        if _pt.is_integer(t) or (_pt.is_timestamp(t) and t.unit == "ns"):
            return "int64_ns"
        return "timestamp"

    kinds = {_kind_of(probe) for probe in probes}
    if len(kinds) > 1:
        raise ValueError(
            f"mixed events.ts encodings under {path}: both int64-ns and "
            "native TIMESTAMP part files present — rewrite to one encoding "
            "(reading through either schema would corrupt the other half)"
        )
    kind = kinds.pop()
    _EVENTS_TS_KIND_CACHE[path] = (stamp, kind)
    return kind


# Base-table frames a session keeps, oldest dropped first: every table of
# a few datasets, while a process that walks many datasets (a new corpus
# shard per pass) does not pin a Dataset and file index for each of them.
_BASE_FRAMES_PER_SESSION = 32


def _read_parquet(
    spark: SparkSession, path: str, schema: StructType, stamp: tuple | None = None
) -> DataFrame:
    """``spark.read.schema(schema).parquet(path)``, reused while *path*'s
    part files are unchanged.

    Each read lists the files and resolves the relation on the driver:
    dozens of py4j round trips per table, paid by every query build. So
    one frame per (session, path) serves every query until
    :func:`part_file_stamp` changes — which any rewrite does, in place or
    under a nested ``date=`` partition — and the table is re-read. The
    schema follows from the path (its table name, and for events the
    encoding, which cannot change without the stamp changing). The stamp
    is taken before the read, so a frame is never older than its stamp.

    The memo lives on the session object: a ``spark.newSession()`` never
    receives another session's frame, and the frames go when their
    session does. (A module-level weak map would not free them, since
    every frame holds its session.) A path that cannot be stamped
    (missing table, a part vanishing mid-walk, a remote URI) is read
    directly, so Spark raises or lists as it always did.
    """
    if stamp is None:
        try:
            stamp = part_file_stamp(path)
        except OSError:
            return spark.read.schema(schema).parquet(path)
    memo = spark.__dict__.setdefault("_trafficteach_base_frames", {})
    hit = memo.get(path)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    df = spark.read.schema(schema).parquet(path)
    memo.pop(path, None)
    memo[path] = (stamp, df)
    while len(memo) > _BASE_FRAMES_PER_SESSION:
        del memo[next(iter(memo))]
    return df


def _events_base(spark: SparkSession, path: str) -> tuple[str, DataFrame]:
    """``(ts encoding, raw events frame)`` at *path*, from one stamp."""
    stamp = _events_stamp(path)
    kind = _events_ts_kind(path, stamp)
    schema = schemas.EVENTS_PHYSICAL if kind == "int64_ns" else schemas.EVENTS
    return kind, _read_parquet(spark, path, schema, stamp)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one table with its declared schema; normalize physical quirks.

    ``events.ts`` has two known on-disk encodings (see
    :func:`_events_ts_kind`); either way operators see the logical
    ``schemas.EVENTS`` shape — a microsecond TIMESTAMP_NTZ ``ts``. The
    int64-ns form is converted with integer division — `ts div 1000` —
    which matches DuckDB's ns->us truncation exactly.

    Repeated calls on an unchanged table share one base relation (see
    :func:`_read_parquet`), so their columns carry the same attribute ids
    — as two frames derived from one ``spark.read`` would. A self-join
    of two such loads must ``.alias()`` each side and name its columns
    through the aliases; an unaliased condition such as ``a.x < b.x``
    fails with Spark's ambiguous-column AnalysisException.
    """
    ensure_session_confs(spark)
    if name not in schemas.READ_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; expected one of {schemas.TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        kind, df = _events_base(spark, path)
        return df.withColumn("ts", ns_long_to_ntz_us("ts")) if kind == "int64_ns" else df
    return _read_parquet(spark, path, schemas.READ_SCHEMAS[name])


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """All tables as a dict — convenience for multi-table queries."""
    return {name: load_table(spark, sf_dir, name) for name in schemas.TABLE_NAMES}


def _parse_ts(ts: str):
    """ONE parser for the accepted 'YYYY-MM-DD[ HH:MM:SS]' literal forms
    — shared by the int64-ns and native-TIMESTAMP branches so a format
    change can never desynchronize them (round-10 review finding)."""
    import datetime as dt

    fmt = "%Y-%m-%d %H:%M:%S" if " " in ts else "%Y-%m-%d"
    return dt.datetime.strptime(ts, fmt)


def _ts_norm(ts: str) -> str:
    """Normalize a 'YYYY-MM-DD[ HH:MM:SS]' string to full timestamp form
    (validates the literal before it is spliced into a TIMESTAMP_NTZ expr)."""
    return _parse_ts(ts).strftime("%Y-%m-%d %H:%M:%S")


def _ts_to_ns_bound(ts: str) -> int:
    """Naive-UTC timestamp string -> the raw int64-ns value b such that
    ``ns >= b`` is EXACTLY ``(ns div 1000) >= ts_us`` (and ``ns < b`` is
    exactly ``(ns div 1000) < ts_us``) under the loader's truncate-
    toward-zero conversion. For ts >= epoch that is plain ts_us * 1000;
    for PRE-1970 bounds the truncation rounds toward zero, so the raw
    bound shifts by -999 ns — without it the pushed predicate and the
    logical filter disagree on sub-microsecond pre-epoch rows
    (round-10 review finding)."""
    import datetime as dt

    parsed = _parse_ts(ts).replace(tzinfo=dt.timezone.utc)
    ns = int(parsed.timestamp()) * 1_000_000_000
    return ns if ns > 0 else ns - 999


def load_events_range(spark: SparkSession, sf_dir: str, start: str, end: str) -> DataFrame:
    """Events scan with the [start, end) predicate applied to the PHYSICAL
    column — so it reaches the parquet reader as a pushed filter
    (row-group min/max skipping; `.explain` shows GreaterThanOrEqual/
    LessThan under PushedFilters).

    For the int64-ns encoding the predicate must be on the raw long —
    filtering the *converted* timestamp instead leaves only IsNotNull
    pushable, which at 100 TB forfeits all scan pruning on the fact table.
    Exact equivalence: the loader's conversion truncates `ns div 1000`
    TOWARD ZERO, and :func:`_ts_to_ns_bound` picks the raw bound that
    makes the pushed integer predicate identical to the logical-ts
    filter on both sides of the epoch (plain us*1000 post-1970, shifted
    by -999 ns for pre-1970 bounds).
    For the native TIMESTAMP encoding the timestamp predicate itself is
    pushdown-eligible, so it is applied directly.
    """
    ensure_session_confs(spark)
    kind, df = _events_base(spark, os.path.join(sf_dir, "events.parquet"))
    if kind == "int64_ns":
        df = df.where(
            (F.col("ts") >= F.lit(_ts_to_ns_bound(start)))
            & (F.col("ts") < F.lit(_ts_to_ns_bound(end)))
        )
        return df.withColumn(
            "ts", ns_long_to_ntz_us("ts")
        )
    start_lit = F.expr(f"TIMESTAMP_NTZ '{_ts_norm(start)}'")
    end_lit = F.expr(f"TIMESTAMP_NTZ '{_ts_norm(end)}'")
    return df.where((F.col("ts") >= start_lit) & (F.col("ts") < end_lit))


# -- Scan-parallelism spreading (round-12 optimization) ---------------------
#
# The sandbox testdata stores every table as ONE parquet file with ONE row
# group, so every scan plans exactly one split and ALL map-side work before
# the first exchange — shingling HOFs, Arrow signature batches, wide
# aggregate partials — runs on a single core of local[32] (guide §2.5's
# "one huge unsplittable file" input-skew case; a row group is Spark's
# minimum split unit, so files.maxPartitionBytes/minPartitionNum cannot
# help). The remedy the guide prescribes is an explicit repartition right
# after the read — applied ONLY where the scan cannot already feed enough
# splits, so at production scale (thousands of row groups per table) this
# is a structural no-op, not a tuning constant.


def _scan_file_count(sf_dir: str, name: str) -> int:
    """Number of non-hidden, non-empty part files behind a table — the
    upper bound on scan splits when files are single-row-group (and a
    lower bound in general: more row groups only add splits). Remote
    URIs return a large count (never spread what we cannot cheaply
    stat; a remote deployment's tables are multi-file by construction).
    A missing table, or a part file vanishing mid-walk (concurrent
    writer), likewise degrades to "don't spread" rather than crashing
    the query build: a table being mutated under us is exactly one we
    should not spread."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    if "://" in path:
        return 1 << 30
    try:
        return len(part_file_stamp(path))
    except OSError:
        return 1 << 30


def spread_scan(
    spark: SparkSession, df: DataFrame, sf_dir: str, name: str, *by: str
) -> DataFrame:
    """Hash-repartition *df* across the session's cores iff the backing
    table cannot feed at least ``defaultParallelism`` scan splits.

    Use on scans whose downstream MAP-SIDE work is the dominant cost
    (per-row HOFs, Arrow UDF batches, wide aggregate partials): with a
    single-file table that work is otherwise single-task. Keyed
    repartition (``*by`` — pick a well-spread column like the row id)
    is deterministic under task retry (no round-robin/rand assignment —
    the SPARK-23207/SPARK-38388 class the layout advisory flagged), and
    a later groupBy/join on the same key at the same partition count
    reuses the exchange (guide §2.4). With no ``by``, falls back to
    round-robin ``repartition(n)`` (safe: Spark's sort-before-
    repartition is on by default).

    At 100 TB every fact table spans thousands of row groups, so the
    file-count guard makes this a no-op there — the repartition exists
    exactly and only where the input layout starves the cluster.
    """
    n = spark.sparkContext.defaultParallelism
    if _scan_file_count(sf_dir, name) >= n:
        return df
    if by:
        return df.repartition(n, *[F.col(c) for c in by])
    return df.repartition(n)
