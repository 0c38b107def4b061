"""Streaming incremental rollup (round-5 verdict item 6): the
foreachBatch + merge_upsert maintenance of q101's daily rollup must (a)
equal a batch full recompute over everything that has arrived —
stream == batch parity — and (b) resume from its committed state across
a query restart, including ignoring a crash-replayed micro-batch."""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil

from pyspark.sql import functions as F

from trafficteach_spark import schemas
from trafficteach_spark.streaming.rollup import (
    finalize_rollup,
    merge_rollup_state,
    read_rollup_state,
    start_incremental_rollup,
)


def _ns(*args):
    return int(dt.datetime(*args, tzinfo=dt.timezone.utc).timestamp() * 1_000_000_000)


def _drop_file(spark, tmp_path, watch, rows, name):
    stage = tmp_path / ("stage_" + name)
    spark.createDataFrame(rows, schemas.EVENTS_PHYSICAL).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(stage))
    part = glob.glob(str(stage / "part-*.parquet"))[0]
    shutil.copy(part, watch / f"{name}.parquet")


def _batch_recompute(spark, rows):
    """Full-refresh reference over every event seen so far, in q101's
    reporting shape."""
    ev = spark.createDataFrame(rows, schemas.EVENTS_PHYSICAL).select(
        F.timestamp_micros((F.col("ts") / 1000).cast("long")).alias("ts"),
        "event_type",
        "value",
    )
    return {
        (r["event_type"], r["day"]): r
        for r in ev.groupBy(
            "event_type", F.to_date("ts").alias("day")
        )
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
            F.round(F.sum("value") / F.count("*"), 6).alias("avg_value"),
        )
        .collect()
    }


ROWS_1 = [
    (1, _ns(2024, 1, 6, 10, 0, 0), 1, "view", 10.0, "{}"),
    (2, _ns(2024, 1, 6, 11, 0, 0), 1, "click", 20.0, "{}"),
    (3, _ns(2024, 1, 7, 10, 30, 0), 2, "view", 5.0, "{}"),
    (4, _ns(2024, 1, 7, 23, 59, 59), 3, "view", 2.5, "{}"),
]
ROWS_2 = [
    # same (view, 2024-01-06) key as batch 1 -> exercises the merge,
    # plus a brand-new key
    (5, _ns(2024, 1, 6, 12, 0, 0), 4, "view", 40.0, "{}"),
    (6, _ns(2024, 1, 8, 9, 0, 0), 1, "purchase", 99.0, "{}"),
]


def _state_dict(spark, state_dir):
    return {
        (r["event_type"], r["day"]): r
        for r in finalize_rollup(read_rollup_state(spark, str(state_dir))).collect()
    }


def _assert_same(got, expect):
    assert set(got) == set(expect)
    for k, e in expect.items():
        g = got[k]
        for c in ("n", "sum_value", "min_value", "max_value", "avg_value"):
            assert g[c] == e[c], (k, c, g[c], e[c])


def test_streaming_rollup_matches_batch_and_recovers(spark, tmp_path):
    watch = tmp_path / "in"
    watch.mkdir()
    ckpt = str(tmp_path / "ckpt")
    state = tmp_path / "state"

    # --- run 1: first file arrives, stream drains, state == batch ---
    _drop_file(spark, tmp_path, watch, ROWS_1, "f1")
    q = start_incremental_rollup(spark, str(watch), str(state), ckpt)
    q.awaitTermination(120)
    _assert_same(_state_dict(spark, state), _batch_recompute(spark, ROWS_1))
    # each micro-batch is read from the source once, not once per action
    assert sum(p.numInputRows for p in q.recentProgress) == len(ROWS_1)

    # --- run 2: RESTART from the same checkpoint with a new file; the
    # merged state must cover both files (resumed, not recomputed) ---
    _drop_file(spark, tmp_path, watch, ROWS_2, "f2")
    q = start_incremental_rollup(spark, str(watch), str(state), ckpt)
    q.awaitTermination(120)
    assert sum(p.numInputRows for p in q.recentProgress) == len(ROWS_2)
    _assert_same(
        _state_dict(spark, state), _batch_recompute(spark, ROWS_1 + ROWS_2)
    )
    # the overlapping key merged, not duplicated: events 1 (10.0, run 1)
    # and 5 (40.0, run 2) share (view, 2024-01-06)
    merged = _state_dict(spark, state)[("view", dt.date(2024, 1, 6))]
    assert merged["n"] == 2 and merged["sum_value"] == 50.0


def test_crash_replayed_batch_is_idempotent(spark, tmp_path):
    """foreachBatch redelivers the last batch id after a crash-restart;
    the batch-id guard must make the re-merge a no-op."""
    from trafficteach_spark.streaming import rollup as R

    watch = tmp_path / "in"
    watch.mkdir()
    state = tmp_path / "state"
    state.mkdir()

    batch_df = spark.createDataFrame(ROWS_1, schemas.EVENTS_PHYSICAL).select(
        F.timestamp_micros((F.col("ts") / 1000).cast("long")).alias("ts"),
        "event_type",
        "value",
    )
    partial = R._daily_partial(batch_df)
    base = read_rollup_state(spark, str(state))
    R._commit(str(state), 0, merge_rollup_state(base, partial))
    once = _state_dict(spark, state)

    # simulate the replay: same batch id through the foreachBatch body
    def replay(bdf, bid):
        last_id, _, _ = R._latest(str(state))
        if bid <= last_id:
            return
        R._commit(
            str(state),
            bid,
            merge_rollup_state(read_rollup_state(spark, str(state)), partial),
        )

    replay(batch_df, 0)
    _assert_same(_state_dict(spark, state), once)
    _assert_same(once, _batch_recompute(spark, ROWS_1))


def test_merge_touches_only_affected_keys_plan(spark):
    """Scale contract: the merge plan rewrites affected keys only — the
    base flows through a semi-join (affected slice) and an anti-join
    (untouched pass-through), never a full re-aggregate of the base."""
    base = spark.createDataFrame(
        [("view", dt.date(2024, 1, 1), 10, 100.0, 1.0, 9.0)],
        R_SCHEMA := "event_type string, day date, n bigint, sum_value double, min_value double, max_value double",
    )
    partial = spark.createDataFrame(
        [("view", dt.date(2024, 1, 2), 1, 5.0, 5.0, 5.0)], R_SCHEMA
    )
    plan = merge_rollup_state(base, partial)._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan


def test_rollup_rejects_foreign_checkpoint_lineage(spark, tmp_path):
    """Round-6 review finding: state_dir outliving checkpoint_dir must
    FAIL LOUDLY, not silently drop the new checkpoint's restarted batch
    ids (0..n <= committed id) or double-count the replayed source."""
    import pytest as _pytest

    watch = tmp_path / "in"
    watch.mkdir()
    state = tmp_path / "state"

    _drop_file(spark, tmp_path, watch, ROWS_1, "f1")
    q = start_incremental_rollup(
        spark, str(watch), str(state), str(tmp_path / "ckpt_a")
    )
    q.awaitTermination(120)
    committed = _state_dict(spark, state)
    assert committed  # first lineage committed normally

    # same state dir, FRESH checkpoint -> the whole source replays with
    # batch ids restarting at 0; the guard must raise, and the state
    # must be left exactly as committed
    from pyspark.errors import StreamingQueryException

    with _pytest.raises(StreamingQueryException, match="lineage"):
        q2 = start_incremental_rollup(
            spark, str(watch), str(state), str(tmp_path / "ckpt_b")
        )
        q2.awaitTermination(120)
    assert _state_dict(spark, state) == committed


def test_crash_between_state_write_and_pointer_swap(spark, tmp_path):
    """Failure injection for the commit protocol's crash window
    (round-6 verdict item 5): kill the sink AFTER the new version
    directory is written but BEFORE the _LATEST pointer flips. The
    committed state must remain the OLD version (never a mix), and a
    restart from the same checkpoint must replay the batch, overwrite
    the orphan version dir, and converge to the batch recompute with
    no double counting."""
    import pytest as _pytest
    from pyspark.errors import StreamingQueryException

    from trafficteach_spark.streaming import rollup as R

    watch = tmp_path / "in"
    watch.mkdir()
    ckpt = str(tmp_path / "ckpt")
    state = tmp_path / "state"

    # batch 0 commits normally
    _drop_file(spark, tmp_path, watch, ROWS_1, "f1")
    q = start_incremental_rollup(spark, str(watch), str(state), ckpt)
    q.awaitTermination(120)
    committed = _state_dict(spark, state)
    _assert_same(committed, _batch_recompute(spark, ROWS_1))

    # batch 1: crash inside the window — version dir written, pointer
    # swap never reached
    real_commit = R._commit

    def crashing_commit(state_dir, batch_id, merged, lineage=None, prev_id=None):
        out = os.path.join(state_dir, f"v{batch_id}")
        merged.write.mode("overwrite").parquet(out)
        raise RuntimeError("injected crash between state write and pointer swap")

    _drop_file(spark, tmp_path, watch, ROWS_2, "f2")
    R._commit = crashing_commit
    try:
        with _pytest.raises(StreamingQueryException, match="injected crash"):
            q = start_incremental_rollup(spark, str(watch), str(state), ckpt)
            q.awaitTermination(120)
    finally:
        R._commit = real_commit

    # the crash left an orphan v1 AND an untouched pointer: readers see
    # exactly the old committed state — old or new, never mixed
    assert (state / "v1").exists()
    last_id, path, _ = R._latest(str(state))
    assert last_id == 0 and path.endswith("v0")
    _assert_same(_state_dict(spark, state), committed)

    # restart from the SAME checkpoint: the failed batch's offsets were
    # never committed, so it replays; the orphan dir is overwritten and
    # the state converges to the full recompute exactly once
    q = start_incremental_rollup(spark, str(watch), str(state), ckpt)
    q.awaitTermination(120)
    _assert_same(
        _state_dict(spark, state), _batch_recompute(spark, ROWS_1 + ROWS_2)
    )
    merged = _state_dict(spark, state)[("view", dt.date(2024, 1, 6))]
    assert merged["n"] == 2 and merged["sum_value"] == 50.0


def test_rollup_merge_null_day_key_updates_not_duplicates(spark):
    """A null-ts event yields a (type, NULL-day) state row; the merge
    must UPDATE it through the null-safe joins, not append a duplicate
    fragment per batch (the name-list join never matches NULL = NULL,
    so the first cut grew one extra (view, NULL) row every micro-batch
    containing a null-ts event)."""
    from trafficteach_spark.streaming.rollup import (
        ROLLUP_STATE_SCHEMA,
        merge_rollup_state,
    )

    base = spark.createDataFrame(
        [("view", None, 2, 4.0, 1.0, 3.0), ("click", None, 1, 9.0, 9.0, 9.0)],
        ROLLUP_STATE_SCHEMA,
    )
    partial = spark.createDataFrame(
        [("view", None, 1, 5.0, 5.0, 5.0)], ROLLUP_STATE_SCHEMA
    )
    out = {(r["event_type"], r["day"]): r for r in merge_rollup_state(base, partial).collect()}
    assert len(out) == 2  # merged, not appended
    merged = out[("view", None)]
    assert merged["n"] == 3
    assert merged["sum_value"] == 9.0
    assert merged["min_value"] == 1.0
    assert merged["max_value"] == 5.0
    untouched = out[("click", None)]
    assert untouched["n"] == 1 and untouched["sum_value"] == 9.0


def test_merge_upsert_null_key_component(spark):
    """merge_upsert with a NULL key component: the update must REPLACE
    the same-null-key base row (IS NOT DISTINCT FROM semantics, as SQL
    MERGE), not let the stale row survive next to the new one."""
    from trafficteach_spark.operators.analytics import merge_upsert

    base = spark.createDataFrame(
        [(None, "a", 1), (2, "b", 2)], "k int, tag string, v int"
    )
    updates = spark.createDataFrame([(None, "a2", 10)], "k int, tag string, v int")
    rows = sorted(
        merge_upsert(base, updates, ["k"]).collect(),
        key=lambda r: (r["k"] is None, r["k"] or 0),
    )
    assert len(rows) == 2
    by_k = {r["k"]: r for r in rows}
    assert by_k[None]["v"] == 10 and by_k[None]["tag"] == "a2"
    assert by_k[2]["v"] == 2


def test_prune_keeps_previous_committed_version_across_id_gaps(spark, tmp_path):
    """Empty batches skip committing, so committed ids GAP: pruning by
    batch_id - 1 would delete the immediately previous COMMITTED version
    (v3 here) the moment v5 lands — yanking the directory a concurrent
    reader may have just resolved through _LATEST. The prune floor must
    be the previously committed id (round-10 review finding)."""
    import os

    from trafficteach_spark import schemas
    from trafficteach_spark.streaming import rollup as R
    from trafficteach_spark.streaming.rollup import (
        merge_rollup_state,
        read_rollup_state,
    )

    state = tmp_path / "state"
    state.mkdir()
    batch_df = spark.createDataFrame(ROWS_1, schemas.EVENTS_PHYSICAL).select(
        F.timestamp_micros((F.col("ts") / 1000).cast("long")).alias("ts"),
        "event_type",
        "value",
    )
    partial = R._daily_partial(batch_df)

    def commit(bid):
        last_id, _, _ = R._latest(str(state))
        R._commit(
            str(state),
            bid,
            merge_rollup_state(read_rollup_state(spark, str(state)), partial),
            prev_id=last_id,
        )

    commit(3)          # first commit (batches 0-2 notionally empty)
    commit(5)          # batch 4 was empty -> committed ids gap
    versions = sorted(n for n in os.listdir(state) if n.startswith("v"))
    assert versions == ["v3", "v5"], versions  # v3 survives as the keep-back
    commit(6)          # next commit prunes everything below v5
    versions = sorted(n for n in os.listdir(state) if n.startswith("v"))
    assert versions == ["v5", "v6"], versions
