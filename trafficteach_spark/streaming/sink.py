"""Idempotent streaming row sinks (round-9 verdict item 6).

The reference wrote every streaming job's per-record results to MySQL
through hand-rolled DAO inserts (REF: jdbc/JDBCHelper.java ~200 LoC,
driven from foreachPartition [R]) with no replay story — a crashed batch
simply re-inserted. Spark-first, the sink is a ``foreachBatch`` body
whose idempotence comes from DETERMINISTIC BATCH IDENTITY: every write
lands under the batch id, and a crash-replayed batch REPLACES its own
output instead of appending next to it.

Three sinks, one strategy (:mod:`rollup` is the upsert/merge sibling;
this module is the append-table analog; the third wires the full
Job-8 lifecycle — watermark + Spark-stateful window agg — into the
same idempotent commit, :func:`start_windowed_parquet_sink`):

- **parquet** (:func:`start_parquet_append_sink`): each micro-batch
  overwrites exactly the directory partition ``batch_id=N`` of the
  result table; readers see standard partition discovery. At cluster
  scale the identical body targets an object store — the overwrite of
  one batch-id partition is the classic exactly-once parquet append.
- **JDBC** (:func:`start_jdbc_append_sink`, Derby-tested like the O3/O4
  batch path): ``DELETE WHERE batch_id = N`` then executor-parallel
  INSERTs. Offsets commit only after the body returns, so every crash
  window replays into the delete — re-running the pair converges.

Both sinks carry the rollup's lineage guard: batch ids restart at 0
with a FRESH checkpoint while the result table persists, so a bare
replay-by-id would duplicate everything already written — the sink
records the checkpoint's query id next to the table and fails loudly on
a mismatch (see :func:`rollup._checkpoint_lineage`).

A ``foreachBatch`` body receives the micro-batch as a frame over the
incremental plan, and every action on it re-runs that plan: the source
scan and, for the windowed sink, the stateful stage with its state-store
loads and commits. A body that takes more than one action (an emptiness
test, then a write) must materialize the batch once first —
:func:`_write_nonempty`.
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trafficteach_spark.sources.jdbc import write_jdbc
from trafficteach_spark.streaming.demo import read_event_stream
from trafficteach_spark.streaming.rollup import _checkpoint_lineage, _empty_frame


def _lineage_guard(meta_dir: str, lineage: str) -> None:
    """Record (first call) or enforce (later calls) which streaming
    query owns the sink output. ``meta_dir`` must live WITH the output
    (not the checkpoint — a fresh checkpoint must trip the guard, not
    reset it)."""
    os.makedirs(meta_dir, exist_ok=True)
    ptr = os.path.join(meta_dir, "_SINK_LINEAGE")
    if os.path.exists(ptr):
        with open(ptr) as fh:
            stored = json.load(fh)["lineage"]
        if stored != lineage:
            raise RuntimeError(
                f"sink at {meta_dir} was written by streaming query "
                f"{stored}, but this run's checkpoint has lineage "
                f"{lineage}: batch ids restarted, so replay-by-id would "
                "duplicate committed rows. Either restart from the "
                "original checkpoint, or clear the sink output to rebuild "
                "it from the replayed source."
            )
        return
    fd, tmp = tempfile.mkstemp(dir=meta_dir, prefix="_SINK_LINEAGE.")
    with os.fdopen(fd, "w") as fh:
        json.dump({"lineage": lineage}, fh)
    os.replace(tmp, ptr)


def _read_batch_partitioned(spark: SparkSession, table_dir: str, schema) -> DataFrame:
    """Shared reader contract for every batch-id-partitioned sink table:
    before the first non-empty batch commits there are no ``batch_id=N``
    partitions to glob (empty batches write nothing), so that case
    returns an empty frame with the declared schema instead of raising
    PATH_NOT_FOUND at a monitoring reader; afterwards the EXPLICIT
    schema pins the partition column's type — left to partition
    discovery, small 'batch_id=N' directory names infer IntegerType, so
    the sink's schema would flip int<->bigint across the first committed
    batch (round-10 review finding)."""
    import glob as _glob

    if not _glob.glob(os.path.join(table_dir, "batch_id=*")):
        return _empty_frame(spark, schema)
    return (
        spark.read.schema(schema)
        .option("basePath", table_dir)
        .parquet(os.path.join(table_dir, "batch_id=*"))
    )


def _write_nonempty(batch_df: DataFrame, write: Callable[[DataFrame], None]) -> None:
    """Run ``write`` on a non-empty micro-batch, evaluating the batch
    once: it is persisted, so the emptiness test and the write share one
    computation (each partition is cached whole by whichever action
    reaches it first), and unpersisted when the body returns."""
    batch_df.persist()
    try:
        if not batch_df.isEmpty():
            write(batch_df)
    finally:
        batch_df.unpersist()


def _make_partition_overwrite_batch(table_dir: str, checkpoint_dir: str):
    """ONE idempotent-commit body for every batch-id-partitioned parquet
    sink (the raw-append and windowed sinks previously carried verbatim
    copies — a protocol fix applied to one and missed in the other would
    silently desynchronize their replay semantics, round-12 review
    finding): lineage guard first (a fresh checkpoint over a surviving
    table must fail BEFORE any write), empty batches commit nothing, and
    a non-empty batch overwrites exactly its own ``batch_id=N``
    partition so crash-replay replaces rather than duplicates."""

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        _lineage_guard(table_dir, _checkpoint_lineage(checkpoint_dir))
        out = os.path.join(table_dir, f"batch_id={batch_id}")
        _write_nonempty(batch_df, lambda df: df.write.mode("overwrite").parquet(out))

    return write_batch


def read_parquet_sink(spark: SparkSession, table_dir: str) -> DataFrame:
    """The raw-event sink table (all committed batches): event stream
    columns + ``batch_id`` (see :func:`_read_batch_partitioned` for the
    empty-table and pinned-partition-type contract)."""
    from pyspark.sql.types import LongType, StructField, StructType

    from trafficteach_spark import schemas

    # copy the fields — StructType.add MUTATES the receiver, and
    # schemas.EVENTS is the shared module-level schema
    schema = StructType(
        list(schemas.EVENTS.fields) + [StructField("batch_id", LongType())]
    )
    return _read_batch_partitioned(spark, table_dir, schema)


def start_parquet_append_sink(
    spark: SparkSession,
    source_dir: str,
    table_dir: str,
    checkpoint_dir: str,
):
    """File-source events -> parquet result table partitioned by batch
    id. Idempotent under crash-replay: batch N always lands in (and only
    in) ``table_dir/batch_id=N``, and a replayed batch OVERWRITES that
    partition with the same rows instead of appending a second copy.
    ``availableNow`` drains-and-terminates (also the restart-test shape).
    """
    return (
        read_event_stream(spark, source_dir)
        .writeStream.foreachBatch(
            _make_partition_overwrite_batch(table_dir, checkpoint_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_windowed_sink(spark: SparkSession, table_dir: str) -> DataFrame:
    """The windowed-rollup sink table (all finalized windows committed
    so far): the window-agg schema + ``batch_id`` (see
    :func:`_read_batch_partitioned` for the shared reader contract)."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
        TimestampNTZType,
    )

    schema = StructType(
        [
            StructField("window_start", TimestampNTZType()),
            StructField("window_end", TimestampNTZType()),
            StructField("event_type", StringType()),
            StructField("n_events", LongType()),
            StructField("sum_value", DoubleType()),
            StructField("avg_value", DoubleType()),
            StructField("batch_id", LongType()),
        ]
    )
    return _read_batch_partitioned(spark, table_dir, schema)


def start_windowed_parquet_sink(
    spark: SparkSession,
    source_dir: str,
    table_dir: str,
    checkpoint_dir: str,
):
    """The reference's FULL Job-8 lifecycle as one runnable pipeline
    (round-10 verdict item 7): file source -> event-time watermark ->
    Spark-STATEFUL sliding-window aggregate -> exactly-once parquet
    sink.

    Unlike :func:`start_parquet_append_sink` (raw rows through a
    stateless plan) and the rollup's batch-side merge, the aggregation
    here lives in Spark's own streaming state store: ``append`` output
    mode emits each window EXACTLY ONCE, when the watermark passes its
    end, and the state store recovers from the checkpoint on restart.
    The foreachBatch body then only has to make that single emission
    idempotent under crash-replay — the same batch-id partition
    overwrite as the append sink. Kafka swaps in for the file source
    with no other change (read_event_stream's contract); at cluster
    scale this exact shape is the production congestion dashboard:
    checkpointed state, late rows dropped by the watermark, a result
    table that replays clean.
    """
    from trafficteach_spark.streaming.demo import stream_sliding_avg

    agg = stream_sliding_avg(read_event_stream(spark, source_dir))
    return (
        agg.writeStream.outputMode("append")
        .foreachBatch(
            _make_partition_overwrite_batch(table_dir, checkpoint_dir)
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def _jdbc_execute(spark: SparkSession, url: str, sql: str) -> bool:
    """Run one DML/DDL statement over JDBC from the driver (py4j —
    foreachBatch bodies run driver-side). Returns False when the target
    table does not exist yet (first batch; Spark's append creates it)."""
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        stmt = conn.createStatement()
        try:
            stmt.execute(sql)
            return True
        finally:
            stmt.close()
    except Exception as exc:  # noqa: BLE001 - inspect, re-raise non-missing
        # Missing-table detection by SQLSTATE class (JDBC-standard,
        # engine-independent) with an error-text fallback: Derby/Postgres
        # use 42X05/42P01, MySQL uses 42S02 with "doesn't exist" text.
        state = ""
        cause = getattr(exc, "java_exception", None)
        if cause is not None and hasattr(cause, "getSQLState"):
            state = cause.getSQLState() or ""
        msg = str(exc)
        if (
            state in ("42X05", "42P01", "42S02")
            or "does not exist" in msg
            or "doesn't exist" in msg
            or "42X05" in msg
        ):
            return False
        raise
    finally:
        conn.close()


def _quote_ident(spark: SparkSession, url: str, name: str) -> str:
    """Quote one identifier with the TARGET database's own quote string
    (DatabaseMetaData.getIdentifierQuoteString): '"' on Derby/Postgres,
    '`' on default-config MySQL — where a double-quoted name would be a
    STRING LITERAL, silently comparing 'batch_id' instead of the
    column."""
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        q = conn.getMetaData().getIdentifierQuoteString().strip() or '"'
    finally:
        conn.close()
    return f"{q}{name}{q}"


def start_jdbc_append_sink(
    spark: SparkSession,
    source_dir: str,
    url: str,
    table: str,
    checkpoint_dir: str,
    meta_dir: str,
):
    """File-source events -> JDBC result table (the reference's MySQL
    result sink, replay-safe). Each batch runs ``DELETE WHERE batch_id``
    then executor-parallel INSERTs of the rows tagged with the batch id;
    offsets commit after the body, so every crash window replays into
    the delete and the pair converges to exactly-once rows.

    Task-retry safety rides on Spark's JDBC writer wrapping each insert
    PARTITION in a transaction (autocommit off, one commit per task —
    the default when ``isolationLevel`` isn't NONE), so a failed task
    rolls back before its retry re-inserts. On a NON-transactional
    backend (e.g. MyISAM) a retried task can duplicate rows within one
    batch — use the parquet sink or a transactional engine there.

    ``meta_dir`` holds the lineage marker and must live with the
    DATABASE's lifecycle, not the checkpoint's (see :func:`_lineage_guard`).
    """

    # The engine's identifier quote string is constant for the sink's
    # lifetime (one url) — look it up on the FIRST non-empty batch and
    # reuse it, instead of paying a driver JDBC connection + metadata
    # round-trip per micro-batch (round-10 review finding). Lazy, not
    # at-start: the first connection is what creates an embedded-Derby
    # database, and that belongs to the first batch like before.
    quoted: dict[str, str] = {}

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        _lineage_guard(meta_dir, _checkpoint_lineage(checkpoint_dir))

        def replace_batch(df: DataFrame) -> None:
            batch_spark = df.sparkSession
            # batch_id quoted with the TARGET engine's quote string:
            # Spark's JDBC writer creates case-sensitive quoted column
            # identifiers, so the bare name would fold into a different
            # (missing) column on Derby/Postgres — and a hardcoded '"'
            # would be a string LITERAL on default-config MySQL (see
            # _quote_ident).
            bid = quoted.get("batch_id")
            if bid is None:
                bid = quoted["batch_id"] = _quote_ident(batch_spark, url, "batch_id")
            _jdbc_execute(
                batch_spark,
                url,
                f"DELETE FROM {table} WHERE {bid} = {int(batch_id)}",
            )
            write_jdbc(
                df.withColumn("batch_id", F.lit(int(batch_id))),
                url,
                table,
                mode="append",
            )

        _write_nonempty(batch_df, replace_batch)

    return (
        read_event_stream(spark, source_dir)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
