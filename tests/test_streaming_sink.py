"""Idempotent streaming append sinks (round-9 verdict item 6): the
result-table analog of the rollup's merge sink must deliver every source
row EXACTLY ONCE across (a) clean restarts, (b) a real crash-replay —
the checkpoint's commit marker is deleted so Spark re-runs the last
micro-batch through foreachBatch with the same batch id — and (c) must
refuse a fresh checkpoint over an existing table (restarted batch ids
would duplicate committed rows)."""

from __future__ import annotations

import datetime as dt
import glob
import os
import shutil

import pytest

from trafficteach_spark import schemas
from trafficteach_spark.streaming.sink import (
    read_parquet_sink,
    start_jdbc_append_sink,
    start_parquet_append_sink,
)


def _ns(*args):
    return int(dt.datetime(*args, tzinfo=dt.timezone.utc).timestamp() * 1_000_000_000)


ROWS_1 = [
    (1, _ns(2024, 1, 6, 10, 0, 0), 1, "view", 10.0, "{}"),
    (2, _ns(2024, 1, 6, 11, 0, 0), 1, "click", 20.0, "{}"),
    (3, _ns(2024, 1, 7, 10, 30, 0), 2, "view", 5.0, "{}"),
    (4, _ns(2024, 1, 7, 23, 59, 59), 3, "view", 2.5, "{}"),
]
ROWS_2 = [
    (5, _ns(2024, 1, 6, 12, 0, 0), 4, "view", 40.0, "{}"),
    (6, _ns(2024, 1, 8, 9, 0, 0), 1, "purchase", 99.0, "{}"),
]


def _drop_file(spark, tmp_path, watch, rows, name):
    stage = tmp_path / ("stage_" + name)
    spark.createDataFrame(rows, schemas.EVENTS_PHYSICAL).coalesce(1).write.mode(
        "overwrite"
    ).parquet(str(stage))
    part = glob.glob(str(stage / "part-*.parquet"))[0]
    shutil.copy(part, watch / f"{name}.parquet")


def _crash_last_commit(ckpt: str) -> tuple[str, int]:
    """Simulate a crash AFTER the sink ran but BEFORE the streaming
    commit: clone the checkpoint as a crash image (same metadata/query
    id, so the lineage guard recognizes it) minus the newest commit
    marker — a restart from the clone re-delivers that batch id with
    the same offsets through foreachBatch. A clone rather than in-place
    deletion because the driver process caches the commit log per
    checkpoint PATH and treats a vanished marker as concurrent use."""
    crash = ckpt + "_crash"
    if os.path.exists(crash):
        shutil.rmtree(crash)
    shutil.copytree(ckpt, crash)
    commits = sorted(
        (f for f in os.listdir(os.path.join(crash, "commits")) if f.isdigit()),
        key=int,
    )
    os.remove(os.path.join(crash, "commits", commits[-1]))
    # also the local FS's hidden checksum twin, or the replayed commit's
    # atomic rename fails on the leftover .N.crc
    crc = os.path.join(crash, "commits", f".{commits[-1]}.crc")
    if os.path.exists(crc):
        os.remove(crc)
    return crash, int(commits[-1])


def _ids(rows):
    return sorted(r["event_id"] for r in rows)


def test_parquet_sink_exactly_once_across_restart_and_replay(spark, tmp_path):
    watch = tmp_path / "in"
    watch.mkdir()
    table = str(tmp_path / "table")
    ckpt = str(tmp_path / "ckpt")

    # The sink schema must not flip across the first commit: the
    # pre-first-batch empty frame types batch_id long, and the explicit
    # read schema pins partition discovery to the same type (it would
    # otherwise infer IntegerType from the small 'batch_id=N' directory
    # names — round-10 review finding).
    pre_schema = read_parquet_sink(spark, table).schema

    _drop_file(spark, tmp_path, watch, ROWS_1, "f1")
    q = start_parquet_append_sink(spark, str(watch), table, ckpt)
    q.awaitTermination(120)
    committed = read_parquet_sink(spark, table)
    assert _ids(committed.collect()) == [1, 2, 3, 4]
    assert committed.schema == pre_schema

    # Clean restart with a second file: union, nothing re-appended.
    _drop_file(spark, tmp_path, watch, ROWS_2, "f2")
    q = start_parquet_append_sink(spark, str(watch), table, ckpt)
    q.awaitTermination(120)
    assert _ids(read_parquet_sink(spark, table).collect()) == [1, 2, 3, 4, 5, 6]

    # Real crash-replay: drop the last commit marker; Spark re-runs that
    # batch id end-to-end through the sink. The partition overwrite must
    # leave the table byte-identical in content — no duplicate rows.
    crash_ckpt, replayed = _crash_last_commit(ckpt)
    q = start_parquet_append_sink(spark, str(watch), table, crash_ckpt)
    q.awaitTermination(120)
    got = read_parquet_sink(spark, table).collect()
    assert _ids(got) == [1, 2, 3, 4, 5, 6]
    # the replayed batch id still owns exactly one partition
    assert sorted({r["batch_id"] for r in got}).count(replayed) == 1


def test_parquet_sink_rejects_foreign_checkpoint(spark, tmp_path):
    from pyspark.errors import StreamingQueryException

    watch = tmp_path / "in"
    watch.mkdir()
    table = str(tmp_path / "table")

    _drop_file(spark, tmp_path, watch, ROWS_1, "f1")
    q = start_parquet_append_sink(spark, str(watch), table, str(tmp_path / "ckpt_a"))
    q.awaitTermination(120)
    committed = _ids(read_parquet_sink(spark, table).collect())
    assert committed == [1, 2, 3, 4]

    # Fresh checkpoint, same table: ids restart at 0 and the whole
    # source replays — the lineage guard must fail the query and leave
    # the table exactly as committed.
    with pytest.raises(StreamingQueryException, match="lineage"):
        q2 = start_parquet_append_sink(
            spark, str(watch), table, str(tmp_path / "ckpt_b")
        )
        q2.awaitTermination(120)
    assert _ids(read_parquet_sink(spark, table).collect()) == committed


def test_jdbc_sink_exactly_once_across_restart_and_replay(spark, tmp_path):
    from trafficteach_spark.sources.jdbc import read_jdbc_dim

    url = f"jdbc:derby:{tmp_path / 'sinkdb'};create=true"
    watch = tmp_path / "in"
    watch.mkdir()
    ckpt = str(tmp_path / "ckpt")
    meta = str(tmp_path / "sink_meta")

    _drop_file(spark, tmp_path, watch, ROWS_1, "f1")
    q = start_jdbc_append_sink(spark, str(watch), url, "events_sink", ckpt, meta)
    q.awaitTermination(120)
    assert _ids(read_jdbc_dim(spark, url, "events_sink").collect()) == [1, 2, 3, 4]

    # Crash-replay of the committed batch: delete-then-insert under the
    # same batch id must converge, not double-insert.
    crash_ckpt, _ = _crash_last_commit(ckpt)
    q = start_jdbc_append_sink(spark, str(watch), url, "events_sink", crash_ckpt, meta)
    q.awaitTermination(120)
    assert _ids(read_jdbc_dim(spark, url, "events_sink").collect()) == [1, 2, 3, 4]

    # Clean restart with new data appends exactly the new rows (resume
    # from the crash-image checkpoint, which is now the freshest).
    _drop_file(spark, tmp_path, watch, ROWS_2, "f2")
    q = start_jdbc_append_sink(spark, str(watch), url, "events_sink", crash_ckpt, meta)
    q.awaitTermination(120)
    back = read_jdbc_dim(spark, url, "events_sink").collect()
    assert _ids(back) == [1, 2, 3, 4, 5, 6]
    # every row carries the batch id that wrote it (replay-owner column)
    assert all(r["batch_id"] is not None for r in back)


def test_read_parquet_sink_empty_before_first_batch(spark, tmp_path):
    """A reader that races the stream (or follows an all-empty-batch
    run) must get an empty frame with the sink schema, not a
    PATH_NOT_FOUND AnalysisException (round-10 review finding)."""
    from trafficteach_spark.streaming.sink import read_parquet_sink

    table_dir = tmp_path / "sink_table"
    table_dir.mkdir()
    df = read_parquet_sink(spark, str(table_dir))
    assert df.count() == 0
    assert "batch_id" in df.columns and "event_id" in df.columns


# -- Full Job-8 lifecycle: watermark + STATEFUL window agg -> sink ----------

# File A: 10:00-16:00. After draining it the watermark sits at 14:00
# (max event time - 2h horizon), so only windows ending at or before
# 14:00 have been emitted/committed.
ROWS_WIN_A = [
    (1, _ns(2024, 1, 6, 10, 5, 0), 1, "view", 10.0, "{}"),
    (2, _ns(2024, 1, 6, 10, 20, 0), 2, "view", 30.0, "{}"),
    (3, _ns(2024, 1, 6, 11, 40, 0), 1, "click", 6.0, "{}"),
    (4, _ns(2024, 1, 6, 13, 10, 0), 3, "view", 8.0, "{}"),
    (5, _ns(2024, 1, 6, 16, 0, 0), 2, "click", 4.0, "{}"),
]
# File B: later rows push the watermark to 20:00, finalizing more
# windows — plus ONE LATE row (9:00, far behind the recovered 14:00
# watermark) that the stateful agg must DROP, leaving the already-
# committed 9-10h-covering windows untouched.
ROWS_WIN_B = [
    (6, _ns(2024, 1, 6, 18, 30, 0), 1, "view", 12.0, "{}"),
    (7, _ns(2024, 1, 6, 22, 0, 0), 4, "view", 2.0, "{}"),
    (8, _ns(2024, 1, 6, 9, 0, 0), 5, "view", 1000.0, "{}"),  # late
]


def _win_key(r):
    return (r["window_start"], r["window_end"], r["event_type"])


def _batch_windows(spark, rows):
    """The batch-side reference: the SAME aggregation body the stream
    runs (stream_sliding_avg reuses q20's sliding_window_agg), over the
    given physical rows."""
    from trafficteach_spark.operators.windows import sliding_window_agg
    from trafficteach_spark.streaming.demo import _with_event_time

    events = _with_event_time(
        spark.createDataFrame(rows, schemas.EVENTS_PHYSICAL)
    )
    out = {}
    for r in sliding_window_agg(events).collect():
        out[(r["window_start"], r["window_end"], r["event_type"])] = (
            r["n_events"],
            r["sum_value"],
            r["avg_value"],
        )
    return out


def test_windowed_sink_full_lifecycle_exactly_once(spark, tmp_path):
    """Round-10 verdict item 7: source -> watermark -> Spark-stateful
    sliding-window agg (append mode) -> idempotent parquet sink, across
    a clean restart, a late row, and a crash-replay. Every committed
    window must appear exactly once and carry values identical to the
    batch aggregation over the non-late rows."""
    from trafficteach_spark.streaming.sink import (
        read_windowed_sink,
        start_windowed_parquet_sink,
    )

    watch = tmp_path / "in"
    watch.mkdir()
    table = str(tmp_path / "wtable")
    ckpt = str(tmp_path / "wckpt")

    _drop_file(spark, tmp_path, watch, ROWS_WIN_A, "wf1")
    q = start_windowed_parquet_sink(spark, str(watch), table, ckpt)
    q.awaitTermination(120)
    # the sink body evaluates each batch once: one state-store load and
    # commit per shuffle partition, not one per action on the batch
    ops = [op for p in q.recentProgress for op in p.stateOperators]
    assert ops and all(
        op.numStateStoreInstances == op.numShufflePartitions for op in ops
    ), [(op.numStateStoreInstances, op.numShufflePartitions) for op in ops]
    got1 = read_windowed_sink(spark, table).collect()
    assert got1, "no windows finalized after draining file A"
    keys1 = [_win_key(r) for r in got1]
    assert len(keys1) == len(set(keys1)), "duplicate window emitted"
    expected_a = _batch_windows(spark, ROWS_WIN_A)
    for r in got1:
        assert expected_a[_win_key(r)] == (
            r["n_events"], r["sum_value"], r["avg_value"]
        )
    # Finalization bound: the watermark after draining file A is exactly
    # 14:00 (max event 16:00 - 2h), so NO committed window may end past
    # it — a premature emission of the 16:00 row's windows (ends 16:15+)
    # must fail here, not slide through a loose bound.
    wm_a = dt.datetime(2024, 1, 6, 14, 0, 0)
    assert all(r["window_end"] <= wm_a for r in got1)

    # Clean restart with file B: state + watermark recover from the
    # checkpoint, the late 9:00 row is dropped, more windows finalize.
    _drop_file(spark, tmp_path, watch, ROWS_WIN_B, "wf2")
    q = start_windowed_parquet_sink(spark, str(watch), table, ckpt)
    q.awaitTermination(120)
    got2 = read_windowed_sink(spark, table).collect()
    keys2 = [_win_key(r) for r in got2]
    assert len(keys2) == len(set(keys2)), "restart re-emitted a window"
    assert set(keys2) > set(keys1), "no new windows finalized after file B"
    # Reference EXCLUDES the late row: had it leaked into the stateful
    # agg, its 1000.0 value would corrupt sum/avg of some window.
    expected = _batch_windows(spark, ROWS_WIN_A + ROWS_WIN_B[:2])
    for r in got2:
        assert expected[_win_key(r)] == (
            r["n_events"], r["sum_value"], r["avg_value"]
        ), f"window {_win_key(r)} diverged from batch reference"

    # Crash-replay of the last commit: the replayed batch id overwrites
    # its own partition — table content must be IDENTICAL.
    crash_ckpt, _replayed = _crash_last_commit(ckpt)
    q = start_windowed_parquet_sink(spark, str(watch), table, crash_ckpt)
    q.awaitTermination(120)
    got3 = read_windowed_sink(spark, table).collect()
    as_set = lambda rows: {  # noqa: E731
        (_win_key(r), r["n_events"], r["sum_value"], r["avg_value"], r["batch_id"])
        for r in rows
    }
    assert as_set(got3) == as_set(got2)
