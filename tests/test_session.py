"""Per-session state: the driver-heap default, the once-per-session conf
apply, and the loader's base-table memo."""

from __future__ import annotations

import gc
import time
import weakref

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from trafficteach_spark.session import driver_mem_for_host, ensure_session_confs
from trafficteach_spark.sources import tables
from trafficteach_spark.sources.tables import load_table

TZ = "spark.sql.session.timeZone"
MAX_FIELDS = "spark.sql.codegen.maxFields"  # a RUNTIME_CONFS entry that is not parity-critical


def test_driver_heap_default_is_half_of_host_capped():
    assert driver_mem_for_host(4 * 2**30) == "2048m"
    assert driver_mem_for_host(16_479_424 * 1024) == "8046m"  # a 15.7 GB host
    assert driver_mem_for_host(256 * 2**30) == "16384m"


def test_session_confs_applied_once_and_reapplied_on_drift(spark):
    s = spark.newSession()
    ensure_session_confs(s)
    s.conf.set(MAX_FIELDS, "100")
    ensure_session_confs(s)
    assert s.conf.get(MAX_FIELDS) == "100"  # applied once, not on every call
    s.conf.set(TZ, "America/New_York")
    ensure_session_confs(s)
    assert s.conf.get(TZ) == "UTC"
    assert s.conf.get(MAX_FIELDS) == "300"  # a critical drift re-applies the set


def _write_region(path, keys):
    pq.write_table(
        pa.table(
            {
                "r_regionkey": pa.array(keys, type=pa.int32()),
                "r_name": pa.array([f"r{k}" for k in keys]),
            }
        ),
        str(path),
    )


def _keys(df):
    return sorted(r["r_regionkey"] for r in df.collect())


@pytest.mark.parametrize("nested", [False, True], ids=["flat", "date_partition"])
def test_base_frame_reused_until_part_rewritten_in_place(spark, tmp_path, nested):
    table = tmp_path / "region.parquet"
    part_dir = table / "date=2024-01-06" if nested else table
    part_dir.mkdir(parents=True)
    part = part_dir / "part-00000.parquet"
    _write_region(part, [0, 1])
    first = load_table(spark, str(tmp_path), "region")
    assert load_table(spark, str(tmp_path), "region") is first
    assert _keys(first) == [0, 1]

    time.sleep(0.01)  # a distinct mtime_ns on coarse filesystems
    _write_region(part, [0, 1, 2])  # same file name, same directory entries
    again = load_table(spark, str(tmp_path), "region")
    assert again is not first
    assert _keys(again) == [0, 1, 2]


def test_new_session_gets_its_own_frame_and_confs(spark, tmp_path):
    _write_region(tmp_path / "region.parquet", [3])
    mine = load_table(spark, str(tmp_path), "region")
    other = spark.newSession()
    other.conf.set(TZ, "America/New_York")
    other.conf.set(MAX_FIELDS, "100")

    theirs = load_table(other, str(tmp_path), "region")
    assert theirs is not mine
    assert theirs.sparkSession is other
    assert load_table(other, str(tmp_path), "region") is theirs
    assert load_table(spark, str(tmp_path), "region") is mine
    assert other.conf.get(TZ) == "UTC"
    assert other.conf.get(MAX_FIELDS) == "300"
    assert _keys(theirs) == [3]


def test_self_join_of_two_loads_needs_aliases(spark, tmp_path):
    _write_region(tmp_path / "region.parquet", [0, 1, 2])
    a = load_table(spark, str(tmp_path), "region")
    b = load_table(spark, str(tmp_path), "region")
    assert a is b  # one lineage, so each side must be aliased
    with pytest.raises(AnalysisException, match="ambiguous"):
        a.join(b, a.r_regionkey < b.r_regionkey).collect()
    pairs = a.alias("l").join(b.alias("r"), F.col("l.r_regionkey") < F.col("r.r_regionkey"))
    got = sorted((r[0], r[1]) for r in pairs.select("l.r_regionkey", "r.r_regionkey").collect())
    assert got == [(0, 1), (0, 2), (1, 2)]


def test_memo_keeps_the_newest_paths_and_frees_dropped_sessions(spark, tmp_path, monkeypatch):
    monkeypatch.setattr(tables, "_BASE_FRAMES_PER_SESSION", 2)
    dirs = [tmp_path / f"d{i}" for i in range(3)]
    for i, d in enumerate(dirs):
        d.mkdir()
        _write_region(d / "region.parquet", [i])
    first = load_table(spark, str(dirs[0]), "region")
    for d in dirs[1:]:
        load_table(spark, str(d), "region")
    assert load_table(spark, str(dirs[0]), "region") is not first  # the oldest was dropped

    def load_in_new_session():
        s = spark.newSession()
        load_table(s, str(dirs[0]), "region")
        return weakref.ref(s)

    gone = load_in_new_session()
    spark.newSession()  # PySpark's RDD.toDF patch holds on to the newest session
    gc.collect()
    assert gone() is None
