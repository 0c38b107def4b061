"""Byte-accounting guard on the materialized dedup layer (round-9
verdict item 3).

The registry's caching contract (registry.py module docstring) promises
the dedup chain's localCheckpoint'ed pair/cluster frames are
pair-count-sized, not corpus-sized, and live as long as their session
frames.
These tests pin the guard rail around that promise:

- ``materialized_layer_bytes`` reads live block sizes (>0 after a
  build, 0 after eviction);
- ``clearCache()`` deliberately does NOT free the layer (the
  contract's whole point — checkpoint blocks are not SQL-cache
  entries), while eviction does;
- a cap breach evicts other datasets' layers first, then REFUSES the
  materialization loudly (no silent corpus-shaped pinning);
- the layer and its ledger are held per session and rebuilt after a
  rewrite of the documents table;
- the checkpoint residue is row-shaped: bounded by a small per-row
  budget over the pair/cluster row counts, not by corpus size.
"""

from __future__ import annotations

import pytest

from trafficteach_spark.operators.llm import dedup
from trafficteach_spark.session import cache_scope
from trafficteach_spark.sources.tables import _SESSION_FRAMES_ATTR

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(autouse=True)
def clean_layer(spark):
    """Each test starts and ends with an empty layer (eviction is safe
    by construction — the frames rebuild on next access), and runs inside
    cache_scope: a re-persisted shingle frame is a catalog cache entry
    that would otherwise outlive the test."""
    for sf_dir in list(dedup._ledger(spark)):
        dedup._evict_layer_entry(spark, sf_dir)
    with cache_scope(spark):
        yield
    for sf_dir in list(dedup._ledger(spark)):
        dedup._evict_layer_entry(spark, sf_dir)


def _frames(spark) -> dict:
    """The session's kept operator frames: {(stage, sf_dir): (stamps, frame)}."""
    return spark.__dict__.get(_SESSION_FRAMES_ATTR, {})


def test_readout_eviction_and_clearcache_contract(spark):
    assert dedup.materialized_layer_bytes(spark) == 0
    dedup.materialized_pairs(spark, SF_SMALL)
    dedup.materialized_clusters(spark, SF_SMALL)
    built = dedup.materialized_layer_bytes(spark)
    assert built > 0
    assert set(dedup._ledger(spark)) == {SF_SMALL}

    # The registry contract: clearCache() must NOT free the layer...
    spark.catalog.clearCache()
    after_clear = dedup.materialized_layer_bytes(spark)
    assert after_clear > 0
    # ...but it does drop any shingle SQL-cache blocks the conservative
    # attribution charged to the ledger (over-count, never under).
    assert after_clear <= built

    # Eviction frees the checkpoint blocks and the memos rebuild.
    dedup._evict_layer_entry(spark, SF_SMALL)
    assert dedup.materialized_layer_bytes(spark) == 0
    assert ("dedup_pairs", SF_SMALL) not in _frames(spark)
    assert ("dedup_clusters", SF_SMALL) not in _frames(spark)
    rebuilt = dedup.materialized_pairs(spark, SF_SMALL)
    assert rebuilt.count() > 0
    assert dedup.materialized_layer_bytes(spark) > 0


def test_cap_breach_evicts_others_then_refuses(spark, monkeypatch):
    dedup.materialized_pairs(spark, SF_SMALL)
    assert dedup.materialized_layer_bytes(spark) > 0

    monkeypatch.setenv(dedup._LAYER_CAP_ENV, "1")
    with pytest.raises(RuntimeError, match="over the 1-byte cap"):
        dedup.materialized_pairs(spark, SF_MED)

    # The other dataset's layer was evicted under pressure, and the
    # refused entry was not left half-registered: nothing is pinned.
    assert dedup.materialized_layer_bytes(spark) == 0
    assert dedup._ledger(spark) == {}
    assert not any(stage == "dedup_pairs" for stage, *_ in _frames(spark))

    # With the cap back at the default the same build succeeds.
    monkeypatch.delenv(dedup._LAYER_CAP_ENV)
    assert dedup.materialized_pairs(spark, SF_MED).count() > 0


def test_layer_is_row_shaped_not_corpus_shaped(spark):
    """The pure checkpoint residue (post-clearCache) must be bounded by
    a small per-row budget over the frames' actual row counts — the
    'pair-count-sized, not corpus-sized' promise as an inequality. The
    1 KiB/row budget is ~20x the observed bytes/row at sf0.01; a
    corpus-shaped regression (e.g. text riding the pair shuffle into
    the checkpoint) blows through it immediately."""
    n_pairs = dedup.materialized_pairs(spark, SF_MED).count()
    n_clusters = dedup.materialized_clusters(spark, SF_MED).count()
    spark.catalog.clearCache()  # drop SQL-cache blocks; keep checkpoints
    residue = dedup.materialized_layer_bytes(spark)
    assert residue > 0
    budget = (n_pairs + n_clusters) * 1024 + 256 * 1024
    assert residue <= budget, (residue, n_pairs, n_clusters)


def test_eviction_revives_shingle_cache(spark):
    """Eviction must release the SQL-cached shingle frame THROUGH the
    DataFrame API and drop its memo entry. A raw RDD unpersist of the
    ledgered cache blocks would leave the CacheManager entry configured
    (storageLevel still MEMORY_*) but its RDD at level NONE — the memo's
    self-heal guard would never re-persist, and every later q31/q90/q46
    run would silently recompute the shingling per use for the rest of
    the app (round-10 review finding). Pinned here as: after eviction
    the memo is empty, and the next access re-persists a cache that
    actually fills blocks again."""
    dedup.materialized_pairs(spark, SF_SMALL)  # build fills the shingle cache
    key = ("dedup_shingles", SF_SMALL)
    assert key in _frames(spark)
    dedup._evict_layer_entry(spark, SF_SMALL)
    assert key not in _frames(spark)

    from pyspark.storagelevel import StorageLevel

    before = set(dedup._storage_sizes(spark))
    sh = dedup.shared_shingle_sets(spark, SF_SMALL)
    assert sh.storageLevel != StorageLevel.NONE
    assert sh.count() > 0
    after = dedup._storage_sizes(spark)
    assert any(rid not in before and nbytes > 0 for rid, nbytes in after.items()), (
        "re-accessed shingle frame did not re-fill any cache blocks: "
        "the shared cache is dead behind the CacheManager's back"
    )


def test_new_session_sees_neither_frames_nor_ledger_of_another(spark):
    """The layer frames and their byte ledger live on the session that
    built them: a ``spark.newSession()`` builds its own layer, reads
    none of the other session's ledger, and evicting its layer leaves
    the other session's frame usable. The SQL cache is shared by the
    sessions of one context, so only checkpoint blocks are compared."""
    df = dedup.materialized_pairs(spark, SF_SMALL)
    spark.catalog.clearCache()
    live_bytes = dedup.materialized_layer_bytes(spark)
    assert live_bytes > 0

    other = spark.newSession()
    assert dedup.materialized_layer_bytes(other) == 0
    assert dedup._ledger(other) == {}
    theirs = dedup.materialized_pairs(other, SF_SMALL)
    assert theirs is not df
    assert set(dedup._ledger(other)) == {SF_SMALL}
    assert not set(dedup._ledger(other)[SF_SMALL]) & set(dedup._ledger(spark)[SF_SMALL])

    spark.catalog.clearCache()
    dedup._evict_layer_entry(other, SF_SMALL)
    assert dedup.materialized_layer_bytes(other) == 0
    assert dedup.materialized_layer_bytes(spark) == live_bytes
    assert dedup.materialized_pairs(spark, SF_SMALL) is df
    assert df.count() > 0


def test_prebuild_entry_point_builds_layer_and_is_idempotent(spark):
    """prebuild_dedup_layer is the scheduled (explicit) form of the lazy
    layer build: one call leaves every memo warm with a truthful report,
    and a second call is a near-free no-op returning the SAME counts —
    the contract a 100 TB deployment relies on when it schedules the
    build at ingest time instead of letting q202 trip over it."""
    report = dedup.prebuild_dedup_layer(spark, SF_SMALL)
    assert report["n_docs"] > 0
    assert report["n_pairs"] > 0
    assert report["n_cluster_rows"] > 0
    assert report["layer_bytes"] > 0
    assert ("dedup_pairs", SF_SMALL) in _frames(spark)
    assert ("dedup_clusters", SF_SMALL) in _frames(spark)

    again = dedup.prebuild_dedup_layer(spark, SF_SMALL)
    for field in ("n_docs", "n_pairs", "n_cluster_rows"):
        assert again[field] == report[field]
    # Warm call re-counts three materialized frames — no rebuild. The
    # generous wall bound only has to catch a full relayering (seconds).
    assert again["total_sec"] < report["total_sec"] + 2.0


def test_dead_checkpoint_declaration_survives_derivation(spark):
    """The CC contraction tags its converged edge frame as dead-after-
    checkpoint, but the tag is a Python attribute on the DataFrame
    OBJECT and dedup_clusters returns a join/select derivative — the
    round-11 free mechanism silently never fired because the derived
    frame lost it (round-12 review finding). Pin both halves: the
    derivative carries the tag, and after the accounted materialization
    the dead edge frame's blocks are actually gone."""
    out = dedup.dedup_clusters(
        spark, SF_SMALL, pairs=dedup.near_dup_pairs(spark, SF_SMALL)
    )
    dead = getattr(out, "_dead_after_checkpoint", ())
    assert len(dead) == 1

    built = dedup.materialized_clusters(spark, SF_SMALL)
    assert built.count() > 0
    # The ledger may conservatively HOLD the dead frame's old RDD id,
    # but its blocks must be freed: every ledgered id that is still
    # live belongs to the shingle cache or the pair/cluster
    # checkpoints, whose combined count is bounded. A pinned edge list
    # would add an extra live corpus-scale entry here.
    live = dedup._storage_sizes(spark)
    live_ledgered = [r for r in dedup._ledger(spark)[SF_SMALL] if live.get(r, 0) > 0]
    assert len(live_ledgered) <= 3, live_ledgered


def test_in_place_rewrite_invalidates_layer(spark, tmp_path):
    """Rewriting documents.parquet at the SAME path must fail the kept
    frames' stamp check and free the old layer before the rebuild —
    before round 12 the checkpointed layer kept serving the OLD corpus
    while non-memoized operators and the oracles read the new files."""
    import shutil

    from trafficteach_spark.sources.tables import part_file_stamp

    work = tmp_path / "ds"
    work.mkdir()
    path = str(work / "documents.parquet")
    shutil.copy(f"{SF_SMALL}/documents.parquet", path)
    key = ("dedup_pairs", str(work))
    n1 = dedup.materialized_pairs(spark, str(work)).count()
    stamps1 = _frames(spark)[key][0]
    assert stamps1 == {path: part_file_stamp(path)}
    old_ids = set(dedup._ledger(spark)[str(work)])

    # in-place rewrite with a different (valid) corpus
    shutil.copy(f"{SF_MED}/documents.parquet", path)
    assert part_file_stamp(path) != stamps1[path]
    n2 = dedup.materialized_pairs(spark, str(work)).count()
    assert _frames(spark)[key][0] == {path: part_file_stamp(path)}
    assert not old_ids & set(dedup._ledger(spark)[str(work)])
    live = dedup._storage_sizes(spark)
    assert not any(live.get(rid, 0) for rid in old_ids)  # the old layer's blocks were freed
    assert n2 != n1  # the rebuilt layer reflects the NEW corpus
