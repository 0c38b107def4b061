"""Byte-accounting guard on the materialized dedup layer (round-9
verdict item 3).

The registry's caching contract (registry.py module docstring) promises
the dedup chain's localCheckpoint'ed pair/cluster frames are
pair-count-sized, not corpus-sized, and live until application exit.
These tests pin the guard rail around that promise:

- ``materialized_layer_bytes`` reads live block sizes (>0 after a
  build, 0 after eviction);
- ``clearCache()`` deliberately does NOT free the layer (the
  contract's whole point — checkpoint blocks are not SQL-cache
  entries), while eviction does;
- a cap breach evicts other datasets' layers first, then REFUSES the
  materialization loudly (no silent corpus-shaped pinning);
- the checkpoint residue is row-shaped: bounded by a small per-row
  budget over the pair/cluster row counts, not by corpus size.
"""

from __future__ import annotations

import pytest

from trafficteach_spark.operators.llm import dedup
from trafficteach_spark.session import cache_scope

SF_SMALL = "/root/testdata/sf0.001"
SF_MED = "/root/testdata/sf0.01"


@pytest.fixture(autouse=True)
def clean_layer(spark):
    """Each test starts and ends with an empty layer (eviction is safe
    by construction — the frames rebuild on next access), and runs inside
    cache_scope: a re-persisted shingle frame is a catalog cache entry
    that would otherwise outlive the test."""
    for key in list(dedup._LAYER_LEDGER):
        dedup._evict_layer_entry(spark, key)
    with cache_scope(spark):
        yield
    for key in list(dedup._LAYER_LEDGER):
        dedup._evict_layer_entry(spark, key)


def test_readout_eviction_and_clearcache_contract(spark):
    assert dedup.materialized_layer_bytes(spark) == 0
    dedup.materialized_pairs(spark, SF_SMALL)
    dedup.materialized_clusters(spark, SF_SMALL)
    built = dedup.materialized_layer_bytes(spark)
    assert built > 0
    key = dedup._memo_key(spark, SF_SMALL)
    assert set(dedup._LAYER_LEDGER) == {key}

    # The registry contract: clearCache() must NOT free the layer...
    spark.catalog.clearCache()
    after_clear = dedup.materialized_layer_bytes(spark)
    assert after_clear > 0
    # ...but it does drop any shingle SQL-cache blocks the conservative
    # attribution charged to the ledger (over-count, never under).
    assert after_clear <= built

    # Eviction frees the checkpoint blocks and the memos rebuild.
    dedup._evict_layer_entry(spark, key)
    assert dedup.materialized_layer_bytes(spark) == 0
    assert key not in dedup._PAIRS_MEMO and key not in dedup._CLUSTERS_MEMO
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
    assert dedup._LAYER_LEDGER == {}
    assert dedup._PAIRS_MEMO == {}

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
    key = dedup._memo_key(spark, SF_SMALL)
    assert key in dedup._SHINGLE_MEMO
    dedup._evict_layer_entry(spark, key)
    assert key not in dedup._SHINGLE_MEMO

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


def test_dead_app_ledger_entries_are_purged_not_unpersisted(spark):
    """RDD ids restart at 0 per SparkContext, so a ledger entry from a
    previous application would alias the live app's ids: it must be
    DROPPED by the accounting entry points (its blocks no longer
    exist), never counted in the readout and never fed to unpersist —
    a cap breach evicting through a stale id would kill an unrelated
    live RDD (round-10 review finding)."""
    df = dedup.materialized_pairs(spark, SF_SMALL)
    live_key = dedup._memo_key(spark, SF_SMALL)
    live_bytes = dedup.materialized_layer_bytes(spark)
    assert live_bytes > 0
    # Forge a dead-app entry aliasing the live entry's RDD ids.
    stale_key = ("application_dead_0000", SF_SMALL)
    dedup._LAYER_LEDGER[stale_key] = dict(dedup._LAYER_LEDGER[live_key])
    # The readout must purge the stale entry, not double-count it.
    assert dedup.materialized_layer_bytes(spark) == live_bytes
    assert stale_key not in dedup._LAYER_LEDGER
    # And the live frame must still be usable (nothing was unpersisted).
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
    key = dedup._memo_key(spark, SF_SMALL)
    assert key in dedup._PAIRS_MEMO and key in dedup._CLUSTERS_MEMO

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
    key = dedup._memo_key(spark, SF_SMALL)
    live = dedup._storage_sizes(spark)
    live_ledgered = [r for r in dedup._LAYER_LEDGER[key] if live.get(r, 0) > 0]
    assert len(live_ledgered) <= 3, live_ledgered


def test_in_place_rewrite_invalidates_layer(spark, tmp_path):
    """Rewriting documents.parquet at the SAME path must rotate the
    memo key (dataset fingerprint) and evict the old entries — before
    round 12 the checkpointed layer kept serving the OLD corpus while
    non-memoized operators and the oracles read the new files."""
    import shutil

    work = tmp_path / "ds"
    work.mkdir()
    shutil.copy(f"{SF_SMALL}/documents.parquet", work / "documents.parquet")
    k1 = dedup._memo_key(spark, str(work))
    n1 = dedup.materialized_pairs(spark, str(work)).count()
    assert k1 in dedup._PAIRS_MEMO

    # in-place rewrite with a different (valid) corpus
    shutil.copy(f"{SF_MED}/documents.parquet", work / "documents.parquet")
    k2 = dedup._memo_key(spark, str(work))
    assert k2 != k1
    assert k1 not in dedup._PAIRS_MEMO and k1 not in dedup._LAYER_LEDGER
    n2 = dedup.materialized_pairs(spark, str(work)).count()
    assert k2 in dedup._PAIRS_MEMO
    assert n2 != n1  # the rebuilt layer reflects the NEW corpus
