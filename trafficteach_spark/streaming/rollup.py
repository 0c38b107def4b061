"""Streaming incremental rollup: q101's materialized-view maintenance
driven by Structured Streaming (round-5 verdict item 6).

The batch operator (``operators/analytics.py`` q101) proves the merge
algebra: the daily per-(event_type, day) rollup is an algebraic partial
(n/sum/min/max), so base ⊎ delta re-aggregated equals a full refresh.
This module runs the SAME algebra continuously: a ``foreachBatch`` sink
computes each micro-batch's partial, merges it into the persisted rollup
state with :func:`merge_upsert` (only the touched keys are rewritten),
and commits the new state atomically.

Exactly-once across restarts: ``foreachBatch`` may REPLAY the last
micro-batch after a crash-restart (its offsets commit after the sink
runs), so the state commit records the batch id and a replayed batch id
<= the committed one is skipped — the standard idempotent-sink pattern.
State versions are parquet directories ``v{batch_id}`` under the state
dir with a ``_LATEST`` pointer file written via atomic rename; at
cluster scale the same ``foreachBatch`` body targets a Delta/Iceberg
``MERGE INTO`` (which brings its own txn log) instead of the
directory-swap, with :func:`merge_rollup_state` unchanged as the
semantics reference.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from trafficteach_spark.operators.analytics import (
    _daily_partial,
    merge_upsert,
)
from trafficteach_spark.streaming.demo import read_event_stream

ROLLUP_KEYS = ["event_type", "day"]
ROLLUP_STATE_SCHEMA = (
    "event_type string, day date, n bigint, "
    "sum_value double, min_value double, max_value double"
)


def merge_rollup_state(base: DataFrame, partial: DataFrame) -> DataFrame:
    """Merge a micro-batch partial into the rollup state, touching only
    the affected keys: the base rows sharing a key with the partial are
    re-aggregated together with it (algebraic merge: sum/sum/min/max),
    then :func:`merge_upsert` replaces exactly those keys in the base.
    Keys only in the partial pass through the same path (the semi-join
    side is empty for them); untouched base keys are never rewritten —
    at 100 TB that is the difference between rewriting a day's worth of
    keys and rewriting the whole aggregate table.
    """
    # NULL-SAFE semi join (paired with merge_upsert's null-safe anti): a
    # null-ts event yields a day=NULL state row, and a name-list join
    # would never re-match it — every batch with a null-ts event would
    # append another (type, NULL) fragment instead of merging.
    from trafficteach_spark.functions.exprs import null_safe_key_cond

    b = base.alias("__rs_base")
    p = partial.select(*ROLLUP_KEYS).alias("__rs_part")
    cond = null_safe_key_cond("__rs_base", "__rs_part", ROLLUP_KEYS)
    affected_base = b.join(p, cond, "left_semi")
    merged_affected = (
        affected_base.unionByName(partial)
        .groupBy(*ROLLUP_KEYS)
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
        )
    )
    return merge_upsert(base, merged_affected, ROLLUP_KEYS)


def _latest(state_dir: str) -> tuple[int, str | None, str | None]:
    """(last committed batch id, state path, committing query lineage id)
    — (-1, None, None) before the first commit."""
    ptr = os.path.join(state_dir, "_LATEST")
    if not os.path.exists(ptr):
        return -1, None, None
    with open(ptr) as fh:
        meta = json.load(fh)
    return (
        int(meta["batch_id"]),
        os.path.join(state_dir, meta["version"]),
        meta.get("lineage"),
    )


def _checkpoint_lineage(checkpoint_dir: str) -> str:
    """The streaming query id Spark persists in <checkpoint>/metadata —
    stable across restarts FROM that checkpoint, different for a fresh
    or recreated checkpoint. This is what makes the batch-id replay
    guard safe: batch ids restart at 0 with a new checkpoint, so a bare
    `batch_id <= last_id` comparison across lineages would silently
    drop real batches (round-6 review finding).

    Unreadable metadata is FATAL, not a silent None: degrading to the
    bare id comparison re-opens the exact dropped-batch hole the guard
    closes (second round-6 finding). In practice this fires for
    non-local checkpoint URIs — this directory-swap state store is
    POSIX-local by design (README deployment caveats); at cluster scale
    the foreachBatch body targets Delta/Iceberg MERGE instead."""
    path = os.path.join(checkpoint_dir, "metadata")
    try:
        with open(path) as fh:
            return json.load(fh)["id"]
    except Exception as exc:
        raise RuntimeError(
            f"cannot read streaming checkpoint lineage from {path}: {exc}. "
            "The rollup's replay guard requires a LOCAL checkpoint dir "
            "(this state store is directory-swap parquet — see README "
            "deployment caveats); for object-store checkpoints use a "
            "transactional sink (Delta/Iceberg MERGE) instead."
        ) from exc


def _empty_frame(spark: SparkSession, schema: StructType) -> DataFrame:
    """A zero-row frame with ``schema``, planned entirely in the JVM.
    ``spark.createDataFrame([], schema)`` parallelizes an empty local
    list, so its first action starts Python-worker tasks — about a
    second on the first micro-batch of every drain."""
    return spark.range(0).select(
        *[F.lit(None).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def read_rollup_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """The committed rollup state (empty frame with the right schema
    before the first commit)."""
    _, path, _ = _latest(state_dir)
    if path is None:
        return _empty_frame(spark, StructType.fromDDL(ROLLUP_STATE_SCHEMA))
    return spark.read.schema(ROLLUP_STATE_SCHEMA).parquet(path)


def finalize_rollup(state: DataFrame) -> DataFrame:
    """Project the persisted partials to q101's reporting shape
    (rounded sums, derived avg)."""
    return state.select(
        "event_type",
        "day",
        "n",
        F.round("sum_value", 6).alias("sum_value"),
        F.round("min_value", 6).alias("min_value"),
        F.round("max_value", 6).alias("max_value"),
        F.round(F.col("sum_value") / F.col("n"), 6).alias("avg_value"),
    )


def _commit(
    state_dir: str,
    batch_id: int,
    merged: DataFrame,
    lineage: str | None = None,
    prev_id: int | None = None,
) -> None:
    """Write the merged state as a new version directory, then flip the
    ``_LATEST`` pointer via atomic rename. Versions older than the
    PREVIOUSLY COMMITTED one (``prev_id``, defaulting to batch_id - 1)
    are pruned — the keep-one-back margin must reference the last
    commit, not the last batch NUMBER: empty batches skip committing,
    so committed ids can gap and ``batch_id - 1`` would delete the very
    version a concurrent reader just resolved through ``_LATEST``
    (round-10 review finding). A crash between write and flip leaves an
    orphan version dir, harmless and overwritten on replay."""
    version = f"v{batch_id}"
    out = os.path.join(state_dir, version)
    merged.write.mode("overwrite").parquet(out)
    fd, tmp = tempfile.mkstemp(dir=state_dir, prefix="_LATEST.")
    with os.fdopen(fd, "w") as fh:
        json.dump(
            {"batch_id": batch_id, "version": version, "lineage": lineage}, fh
        )
    os.replace(tmp, os.path.join(state_dir, "_LATEST"))
    keep_floor = prev_id if prev_id is not None else batch_id - 1
    for name in os.listdir(state_dir):
        if (
            name.startswith("v")
            and name != version
            and name[1:].isdigit()
            and int(name[1:]) < keep_floor
        ):
            shutil.rmtree(os.path.join(state_dir, name), ignore_errors=True)


def start_incremental_rollup(
    spark: SparkSession,
    source_dir: str,
    state_dir: str,
    checkpoint_dir: str,
):
    """Start the streaming rollup: file-source events -> per-batch
    partial -> idempotent merge into the persisted rollup state.

    The streaming plan itself is stateless (raw events in, aggregation
    happens batch-side inside ``foreachBatch``), so Spark's streaming
    state store stays empty and the rollup state is exactly the
    persisted parquet — restart recovery is the checkpoint's offset
    tracking plus the batch-id guard here. ``availableNow`` drains
    everything currently in the source and terminates, which is also
    the restart-recovery test harness shape.
    """
    os.makedirs(state_dir, exist_ok=True)

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        last_id, _, stored_lineage = _latest(state_dir)
        lineage = _checkpoint_lineage(checkpoint_dir)
        if stored_lineage is not None and lineage != stored_lineage:
            # A FRESH checkpoint replays the whole source from scratch:
            # merging onto the existing state would double-count every
            # already-merged event, and trusting batch ids would silently
            # drop batches (ids restart at 0). Neither is recoverable
            # automatically — make the operator choose.
            raise RuntimeError(
                f"rollup state at {state_dir} was committed by streaming "
                f"query {stored_lineage}, but this run's checkpoint "
                f"({checkpoint_dir}) has lineage {lineage}. Either restart "
                "from the original checkpoint, or clear the state dir to "
                "rebuild the rollup from the replayed source."
            )
        if batch_id <= last_id:  # crash-replay of a committed batch
            return
        # The partial (one row per touched key) is the only thing read
        # from the batch: materialized once, it feeds the emptiness test
        # and both sides of the merge, so the source plan runs once per
        # micro-batch instead of once per action.
        partial = (
            _daily_partial(batch_df)
            .withColumn("n", F.col("n").cast("long"))
            .localCheckpoint(eager=True)
        )
        if partial.isEmpty():
            # An empty micro-batch (file source with nothing new yet)
            # would still copy the WHOLE state table into a fresh
            # version dir — the full-rewrite cost this incremental store
            # exists to avoid. Skipping is replay-safe: a replayed batch
            # replays the same empty data, and the batch-id guard above
            # only ever compares against COMMITTED ids.
            return
        base = read_rollup_state(batch_df.sparkSession, state_dir)
        # The merge reads the CURRENT version dir and the commit writes a
        # NEW one, so the write is the merge's only action.
        merged = merge_rollup_state(base, partial)
        _commit(state_dir, batch_id, merged, lineage, prev_id=last_id)

    return (
        read_event_stream(spark, source_dir)
        .writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
