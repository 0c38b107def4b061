"""Bucketing layout: prove the "bucketed => shuffle-free" claims by
inspecting executed plans (SURVEY §5 100 TB design notes)."""

from __future__ import annotations

import os
import time

import pytest

from tests.conftest import SMOKE_SF_DIR
from trafficteach_spark.sources.layout import read_bucketed, write_bucketed
from trafficteach_spark.sources.tables import load_table


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def bucketed_events(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("bucketed")
    events = load_table(spark, SMOKE_SF_DIR, "events")
    write_bucketed(
        events,
        "events_by_user",
        ["user_id"],
        8,
        str(out / "events_by_user"),
        sort_cols=["user_id", "ts"],
    )
    yield read_bucketed(spark, "events_by_user")
    spark.sql("DROP TABLE IF EXISTS events_by_user")


def test_bucketed_aggregation_has_no_exchange(spark, bucketed_events):
    agg = bucketed_events.groupBy("user_id").count()
    assert "Exchange" not in plan_of(agg)
    # Sanity: the same aggregation on the unbucketed scan DOES shuffle.
    plain = load_table(spark, SMOKE_SF_DIR, "events").groupBy("user_id").count()
    assert "Exchange" in plan_of(plain)


def test_bucketed_self_join_has_no_exchange(spark, bucketed_events):
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        a = bucketed_events.alias("a")
        b = bucketed_events.alias("b")
        joined = a.join(b, "user_id")
        assert "Exchange" not in plan_of(joined)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_bucketed_results_match_plain_scan(spark, bucketed_events):
    plain = {
        tuple(r)
        for r in load_table(spark, SMOKE_SF_DIR, "events")
        .groupBy("user_id")
        .count()
        .collect()
    }
    bucketed = {tuple(r) for r in bucketed_events.groupBy("user_id").count().collect()}
    assert bucketed == plain


@pytest.fixture(scope="module")
def partitioned_events_path(spark, tmp_path_factory):
    from pyspark.sql import functions as F
    from trafficteach_spark.sources.layout import write_date_partitioned

    out = str(tmp_path_factory.mktemp("parted") / "events_by_day")
    events = load_table(spark, SMOKE_SF_DIR, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    write_date_partitioned(events, out, ["event_date"], sort_cols=["ts"])
    return out


def test_partition_pruning_skips_directories(spark, tmp_path):
    """A predicate on the partition column must prune at the LISTING
    level. Proven two ways: (a) the filter lands in the scan node's
    PartitionFilters (metadata-only, not a data Filter); (b)
    behaviorally — after corrupting every data file in one day's
    directory, a query pruned to another day still succeeds while the
    full scan fails, so the pruned directories were truly never read."""
    import glob

    from pyspark.sql import functions as F

    from trafficteach_spark.sources.layout import (
        read_date_partitioned,
        write_date_partitioned,
    )

    out = str(tmp_path / "events_by_day")
    events = load_table(spark, SMOKE_SF_DIR, "events").withColumn(
        "event_date", F.to_date("ts")
    )
    write_date_partitioned(events, out, ["event_date"], sort_cols=["ts"])

    df = read_date_partitioned(spark, out)
    days = sorted(r["event_date"] for r in df.select("event_date").distinct().collect())
    assert len(days) > 1  # fixture spans multiple days

    one_day = df.where(f"event_date = DATE'{days[0]}'")
    plan = plan_of(one_day)
    assert "PartitionFilters: [isnotnull(event_date" in plan, plan

    expected = events.where(F.to_date("ts") == F.lit(days[0])).count()
    for f in glob.glob(f"{out}/event_date={days[-1]}/*.parquet"):
        with open(f, "wb") as fh:
            fh.write(b"corrupt")
    fresh = read_date_partitioned(spark, out)
    assert fresh.where(f"event_date = DATE'{days[0]}'").count() == expected
    with pytest.raises(Exception):
        fresh.count()  # the corrupted directory IS read without the filter


def test_partitioned_roundtrip_preserves_rows(spark, partitioned_events_path):
    """Directory partitioning must not lose or duplicate rows, and the
    partition column must come back with its value intact."""
    from trafficteach_spark.sources.layout import read_date_partitioned

    back = read_date_partitioned(spark, partitioned_events_path)
    orig = load_table(spark, SMOKE_SF_DIR, "events")
    assert back.count() == orig.count()
    got = {tuple(r) for r in back.select("event_id", "event_date").collect()}
    from pyspark.sql import functions as F

    exp = {
        tuple(r)
        for r in orig.select("event_id", F.to_date("ts").alias("event_date")).collect()
    }
    assert got == exp


def test_bucketed_write_one_file_per_bucket(spark, tmp_path):
    """Multi-task input must still land ONE file per bucket: Spark only
    treats a bucketed table as sorted when each bucket is a single file,
    so tasks x buckets file counts silently void the sortBy elimination
    (round-10 review finding — the pre-shuffle repartition pins this)."""
    import glob
    import os

    events = load_table(spark, SMOKE_SF_DIR, "events").repartition(16)
    out = str(tmp_path / "events_multi")
    write_bucketed(
        events, "events_multi_task", ["user_id"], 4, out, sort_cols=["user_id"]
    )
    try:
        files = glob.glob(os.path.join(out, "part-*"))
        # bucketBy encodes the bucket id in the file name; one per bucket
        assert 0 < len(files) <= 4, files
        got = read_bucketed(spark, "events_multi_task").count()
        assert got == events.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS events_multi_task")


def test_partitioned_events_probe_and_load(spark, tmp_path):
    """The ts-encoding probe must accept the module's own recommended
    date-partitioned layout (parquet files one directory level down) —
    the flat listing used to raise FileNotFoundError on it (round-10
    review finding)."""
    from trafficteach_spark.sources.layout import write_date_partitioned
    from trafficteach_spark.sources import tables as T

    events = load_table(spark, SMOKE_SF_DIR, "events")
    import pyspark.sql.functions as F

    out = tmp_path / "events.parquet"
    write_date_partitioned(
        events.withColumn("day", F.to_date("ts")), str(out), ["day"]
    )
    kind = T._events_ts_kind(str(out))
    assert kind in ("int64_ns", "timestamp")
    back = load_table(spark, str(tmp_path), "events")
    assert back.count() == events.count()


def test_files_per_partition_splits_duplicate_heavy_partition(spark, tmp_path):
    """The files_per_partition salt must split a fat partition value even
    when it is made of EXACT-DUPLICATE rows landing in one upstream task
    — the spill/OOM shape the knob exists for, and precisely what a
    content-derived salt cannot split (identical rows hash identically;
    round-11 review finding). Positional salt contract: >1 file in the
    fat value's directory, and the round-trip rows are unchanged."""
    import glob

    from pyspark.sql import functions as F

    from trafficteach_spark.sources.layout import (
        read_date_partitioned,
        write_date_partitioned,
    )

    # 1 upstream partition, one partition value ('d'), all rows identical.
    df = (
        spark.range(1)
        .select(F.explode(F.array_repeat(F.lit("dup-row"), 400)).alias("v"))
        .withColumn("d", F.lit("2024-01-06"))
        .coalesce(1)
    )
    # The salt only creates the OPPORTUNITY to split; AQE's partition
    # coalescing re-merges buckets under the advisory size (the designed
    # small-value behavior). Emulate a FAT value by shrinking the
    # advisory so the 400-row buckets count as fat.
    advisory = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    min_size = spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256b")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64b")
    try:
        out = str(tmp_path / "fact")
        write_date_partitioned(df, out, ["d"], files_per_partition=4)
        parts = glob.glob(out + "/d=2024-01-06/part-*.parquet")
        assert 1 < len(parts) <= 4, (
            f"fat duplicate-only partition value wrote {len(parts)} files; "
            "expected a split bounded by files_per_partition"
        )
        back = read_date_partitioned(spark, out)
        assert back.count() == 400
        assert back.where(F.col("v") != "dup-row").count() == 0
    finally:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory)
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", min_size
        )

    # Default (files_per_partition=1) keeps one file per value, and a
    # SMALL salted value coalesces back to one file under the normal
    # advisory size — the cap is a cap, not an exact count.
    out1 = str(tmp_path / "fact1")
    write_date_partitioned(df, out1, ["d"])
    assert len(glob.glob(out1 + "/d=2024-01-06/part-*.parquet")) == 1
    out2 = str(tmp_path / "fact2")
    write_date_partitioned(df, out2, ["d"], files_per_partition=4)
    assert len(glob.glob(out2 + "/d=2024-01-06/part-*.parquet")) == 1


def test_files_per_partition_salt_is_order_invariant(spark, tmp_path):
    """The positional salt must be RETRY-deterministic (round-12, the
    SPARK-23207 class): a retried upstream task re-emits the same row
    multiset but possibly in a different ORDER (post-shuffle fetch
    interleaving), and the committed attempt's rows must still land in
    the same output buckets. The mechanism is the pre-salt local sort
    over all columns, which makes the row->salt assignment a function of
    the partition's row MULTISET only. Pin that: write the same single
    input partition twice — ascending vs descending within-partition
    order — and require the per-file row sets to be identical."""
    import glob

    from pyspark.sql import functions as F

    from trafficteach_spark.sources.layout import write_date_partitioned

    base = (
        spark.range(400)
        .select(F.col("id").alias("v"))
        .withColumn("d", F.lit("2024-01-06"))
        .coalesce(1)
    )
    advisory = spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes")
    min_size = spark.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256b")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64b")
    try:
        outs = []
        for name, ordered in (
            ("asc", base.sortWithinPartitions(F.col("v").asc())),
            ("desc", base.sortWithinPartitions(F.col("v").desc())),
        ):
            out = str(tmp_path / name)
            write_date_partitioned(ordered, out, ["d"], files_per_partition=4)
            files = sorted(glob.glob(out + "/d=2024-01-06/part-*.parquet"))
            assert len(files) > 1, "need a real split to compare buckets"
            outs.append(
                {
                    frozenset(r.v for r in spark.read.parquet(f).collect())
                    for f in files
                }
            )
        assert outs[0] == outs[1], (
            "row->file assignment changed with within-partition input "
            "order — the salt is not retry-deterministic"
        )
    finally:
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", advisory)
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", min_size
        )


def test_spread_scan_disarms_on_multifile_table(spark, tmp_path):
    """Round-13 (verdict item 5/"what's wrong"): ~15 query paths rely on
    spread_scan's file-count guard making the repartition a NO-OP at
    production scale (multi-file tables). Pin that: on a copy of
    lineitem with >= defaultParallelism part files the spread must
    return the scan UNCHANGED — same object, same executed plan, zero
    added exchanges — while the single-file original stays armed."""
    from trafficteach_spark.sources.tables import (
        _scan_file_count,
        load_table,
        spread_scan,
    )

    n = spark.sparkContext.defaultParallelism
    multi_sf = str(tmp_path / "sf_multi")
    (
        load_table(spark, SMOKE_SF_DIR, "lineitem")
        .repartition(n)
        .write.parquet(multi_sf + "/lineitem.parquet")
    )
    assert _scan_file_count(multi_sf, "lineitem") >= n

    df = load_table(spark, multi_sf, "lineitem")
    spread = spread_scan(spark, df, multi_sf, "lineitem", "l_orderkey")
    # Disarmed = structurally absent, not just optimized away.
    assert spread is df
    assert plan_of(spread) == plan_of(df)
    assert "Exchange" not in plan_of(spread)

    # The single-file testdata table IS armed (the round-12 contract):
    # exactly one repartition exchange on the guarded scan.
    single = load_table(spark, SMOKE_SF_DIR, "lineitem")
    armed = spread_scan(spark, single, SMOKE_SF_DIR, "lineitem", "l_orderkey")
    assert armed is not single
    assert plan_of(armed).count("Exchange") == 1


def test_scan_file_count_survives_concurrent_delete(tmp_path, monkeypatch):
    """Round-13 advice: a part file deleted between the walk listing and
    its stat (concurrent writer) must degrade to the no-spread sentinel,
    never crash the query build."""
    import os

    from trafficteach_spark.sources import tables as t

    root = tmp_path / "sf" / "tbl.parquet"
    root.mkdir(parents=True)
    for i in range(3):
        (root / f"part-{i}.parquet").write_bytes(b"x")

    real_stat = os.stat

    def flaky_stat(path, *a, **kw):
        if str(path).endswith("part-1.parquet"):
            raise FileNotFoundError(path)
        return real_stat(path, *a, **kw)

    monkeypatch.setattr(t.os, "stat", flaky_stat)
    assert t._scan_file_count(str(tmp_path / "sf"), "tbl") == 1 << 30


def test_nested_part_rewrite_changes_every_listing(tmp_path):
    """One part-file listing answers "did this table change?" for the
    loader, the spread guard and the session frames. On a
    date-partitioned table, rewriting a nested part file in place (the
    partition and root directory mtimes do not move) must change the
    listing stamp, and a new nested part must change the scan file
    count. No Spark session: this is stat-only."""
    import os

    from trafficteach_spark.sources.tables import _scan_file_count, part_file_stamp, stamps_hold

    sf = tmp_path / "sf"
    part_dir = sf / "documents.parquet" / "date=2024-01-01"
    part_dir.mkdir(parents=True)
    part = part_dir / "part-0.parquet"
    part.write_bytes(b"x")
    (part_dir / "_SUCCESS").write_bytes(b"")
    (part_dir / "part-empty.parquet").write_bytes(b"")

    root = str(sf / "documents.parquet")
    stamp = part_file_stamp(root)
    assert [name for name, _, _ in stamp] == ["date=2024-01-01/part-0.parquet"]
    assert _scan_file_count(str(sf), "documents") == 1

    dir_mtimes = [os.stat(d).st_mtime_ns for d in (root, part_dir)]
    part.write_bytes(b"yy")
    os.utime(part, ns=(stamp[0][2] + 10**9, stamp[0][2] + 10**9))
    assert [os.stat(d).st_mtime_ns for d in (root, part_dir)] == dir_mtimes
    assert part_file_stamp(root) != stamp
    assert not stamps_hold({root: stamp})

    (part_dir / "part-1.parquet").write_bytes(b"z")
    assert _scan_file_count(str(sf), "documents") == 2


# -- Session frames after a rewrite: the operator frames several keys share
# (rollup base, hourly grid, k-gram frame) must be rebuilt once an input
# changes, whether its parts are renamed or rewritten under the same name.

_STALE_PRONE = ("q101_incremental_rollup", "q62_time_resample", "q116_gap_fill_locf", "q50_decontaminate")


def _as_part_dirs(src, dst):
    """Copy every table of *src* to *dst* as a directory of one part."""
    import shutil

    for name in sorted(os.listdir(src)):
        (dst / name).mkdir(parents=True)
        shutil.copy(os.path.join(src, name), dst / name / "part-00000.parquet")


def _halve(table_dir, new_part):
    """Rewrite a part directory to the first half of its rows, as *new_part*."""
    import pyarrow.parquet as pq

    (old,) = sorted(table_dir.glob("*.parquet"))
    rows = pq.read_table(old)
    old.unlink()
    time.sleep(0.01)  # a distinct mtime_ns on coarse filesystems
    pq.write_table(rows.slice(0, rows.num_rows // 2), table_dir / new_part)


def _check(spark, sf, keys):
    from tools import parity

    con = parity.duckdb_conn(str(sf))
    return {k: parity.check(spark, con, k, str(sf)) for k in keys}


def test_rewrite_with_renamed_parts_rebuilds_session_frames(spark, tmp_path):
    """Renamed parts and no clearCache between the calls: every key
    still hash-matches its oracle over the rewritten tables."""
    from trafficteach_spark.session import cache_scope

    sf = tmp_path / "sf"
    _as_part_dirs(SMOKE_SF_DIR, sf)
    with cache_scope(spark):
        before = _check(spark, sf, _STALE_PRONE)
        assert all(r.ok for r in before.values()), before
        _halve(sf / "events.parquet", "part-00001.parquet")
        _halve(sf / "documents.parquet", "part-00001.parquet")
        after = _check(spark, sf, _STALE_PRONE)
    assert all(r.ok for r in after.values()), after
    assert after["q62_time_resample"].detail != before["q62_time_resample"].detail


def test_in_place_rewrite_rebuilds_rollup_base(spark, tmp_path):
    """Same part name, each call inside cache_scope (as perfbench runs
    it): q101's localCheckpointed base must follow the rewrite."""
    from trafficteach_spark.session import cache_scope

    sf = tmp_path / "sf"
    _as_part_dirs(SMOKE_SF_DIR, sf)
    key = "q101_incremental_rollup"
    with cache_scope(spark):
        before = _check(spark, sf, [key])[key]
    assert before.ok, before.detail
    _halve(sf / "events.parquet", "part-00000.parquet")
    with cache_scope(spark):
        after = _check(spark, sf, [key])[key]
    assert after.ok, after.detail
    assert after.detail != before.detail
