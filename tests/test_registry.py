"""Registry integrity: the driver-contract surface (SURVEY.md §6 layer 2)."""

from __future__ import annotations

import time

import pytest

import __spark_entry__ as entry_mod
from trafficteach_spark import registry


def test_all_modules_register():
    specs = registry.all_specs()
    assert len(specs) >= 42, sorted(specs)


def test_oracle_keys_subset_of_queries():
    qs = registry.queries()
    oracles = registry.oracle_sql()
    assert set(oracles) <= set(qs)
    # Non-SQL-expressible exceptions are deliberate and few.
    # Round 3 promoted q32_knn_lsh/q32_knn_ivf to full oracles (they are
    # deterministic given the literal hyperplanes / fixed-centroid rule);
    # what remains rows-only is genuinely engine-internal: HLL estimates
    # and the xxhash64-based simhash (whose md5 twin IS oracle-checked).
    # tools/parity.py reports exactly these as rows-only; a key that
    # silently loses its oracle fails here.
    no_oracle = set(qs) - set(oracles)
    assert no_oracle == {
        "q10_distinct_users_approx",
        "q31_simhash",
        "q77_approx_percentiles",
        "q83_feature_bins",
        "q115_rolling_active_sketch",
    }


def test_every_query_documented():
    for key, spec in registry.all_specs().items():
        assert spec.doc.strip(), f"{key} has no docstring"
        assert spec.tags, f"{key} has no tags"


def test_entry_module_exports():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    assert set(oracles) <= set(qs)
    assert callable(entry_mod.entry)


def test_load_idempotent():
    a = registry.queries()
    b = registry.queries()
    assert a.keys() == b.keys()


def test_no_unhashable_column_types_in_registered_outputs(spark):
    """The harness canonicalizer sorts result frames in pandas, where
    array/map/struct cells are unhashable (the round-2 q44 failure).
    Registered projections must serialize complex values (CSV/JSON);
    library forms may keep typed arrays."""
    from tests.conftest import SMOKE_SF_DIR

    for key, fn in registry.queries().items():
        for name, dtype in fn(spark, SMOKE_SF_DIR).dtypes:
            assert not dtype.startswith(("array", "map", "struct")), (
                key, name, dtype)


def test_every_query_executes_on_degenerate_fixture(spark, tiny_sf_dir):
    """Robustness sweep: every registered query must EXECUTE on the
    hand-built degenerate fixture (single-row dims, empty strata, absent
    vocabulary, one mega-order) without raising — empty results are
    legitimate; crashes on thin data are not. This is the net that
    catches division-by-zero, empty-aggregate, and head-of-empty bugs
    that sf0.01 parity can never reach."""
    failures = {}
    for key, fn in registry.queries().items():
        try:
            fn(spark, tiny_sf_dir).collect()
        except Exception as exc:  # noqa: BLE001 - report all at once
            failures[key] = f"{type(exc).__name__}: {exc}"[:200]
    assert not failures, failures


def test_driver_order_covers_core_and_llm_families():
    """The driver checks only the first 50 queries() keys; that window
    must contain the full SURVEY §3 core + one key per X-family, and the
    parity digest for everything demoted past it."""
    keys = list(registry.queries())
    first50 = set(keys[:50])
    assert set(registry.DRIVER_ORDER) <= first50
    assert "q80_parity_digest" in first50
    # every key must still be registered exactly once
    assert len(keys) == len(set(keys))


def test_digest_schema_map_matches_live_schemas(spark):
    """DIGEST_SCHEMAS is the build plan for both engines' fingerprint
    exprs; a drifting constituent schema must fail here, not hash-diverge
    at the driver."""
    from tests.conftest import SMOKE_SF_DIR

    from trafficteach_spark.operators import digest

    specs = registry.all_specs()
    for key, declared in digest.DIGEST_SCHEMAS.items():
        live = [
            (f.name, f.dataType.simpleString())
            for f in specs[key].fn(spark, SMOKE_SF_DIR).schema.fields
        ]
        assert live == declared, key


def test_digest_covers_every_demoted_oracle_key():
    from trafficteach_spark.operators import digest

    keys = list(registry.queries())
    oracles = registry.oracle_sql()
    demoted_with_oracle = {k for k in keys[50:] if k in oracles and k != "q80_parity_digest"}
    assert demoted_with_oracle == set(digest.DIGEST_SCHEMAS)


def test_cache_scope_drops_scope_local_persists(spark):
    """The registry caching contract's foolproof form: persists created
    inside cache_scope are gone on exit; entering with a pre-existing
    cached frame warns (and still clears — Spark cannot clear
    selectively)."""
    import warnings

    from trafficteach_spark.session import cache_scope

    cm = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    with cache_scope(spark):
        df = spark.range(100).persist()
        df.count()
        assert not cm.isEmpty()
    assert cm.isEmpty()

    pre = spark.range(50).persist()
    pre.count()
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        with cache_scope(spark):
            pass
    assert any("pre-existing" in str(w.message) for w in caught)
    assert cm.isEmpty()


def test_missing_sf_dir_fails_cleanly(spark):
    """Harness seam contract: a bad sf_dir raises a clean, path-naming
    error at plan/first-action time — never a silent empty result. The
    events loader probes the parquet footer itself (FileNotFoundError
    with the path); plain-table queries surface Spark's
    PATH_NOT_FOUND AnalysisException."""
    import pytest as _pytest
    from pyspark.errors import AnalysisException

    from trafficteach_spark.registry import queries

    qs = queries()
    with _pytest.raises(FileNotFoundError, match="/nonexistent/sfdir"):
        qs["q01_filter_range"](spark, "/nonexistent/sfdir").count()
    with _pytest.raises(AnalysisException, match="PATH_NOT_FOUND"):
        qs["q97_data_profile"](spark, "/nonexistent/sfdir").count()


def test_digest_module_imports_standalone():
    """Round-8 verdict "What's wrong" item 1: ``from
    trafficteach_spark.operators import digest`` in a FRESH interpreter
    must not crash. The digest's composed oracle is registered lazily (a
    callable, resolved at the end of registry._load()), so importing the
    module alone no longer calls build_oracle() against a half-empty
    registry. Run in a subprocess so this process's already-loaded
    registry can't mask the regression."""
    import subprocess
    import sys

    proc = subprocess.run(
        [
            sys.executable,
            "-c",
            "from trafficteach_spark.operators import digest; "
            "assert callable(digest.build_oracle); "
            "from trafficteach_spark import registry; "
            "spec = registry.all_specs()['q80_parity_digest']; "
            "assert isinstance(spec.oracle, str) and 'UNION ALL' in spec.oracle",
        ],
        capture_output=True,
        text=True,
        timeout=180,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]


def test_operators_ledger_matches_driver_order():
    """The OPERATORS.md evidence ledger must agree with the registry:
    exactly the DRIVER_ORDER keys are flagged ``yes`` in its "In rNN
    window" column, and every registered key has a ledger row."""
    import os
    import re

    path = os.path.join(os.path.dirname(os.path.dirname(__file__)), "OPERATORS.md")
    src = open(path, encoding="utf-8").read()
    assert re.search(r"\| Key \| Driver-hash rounds \| In r\d+ window \|", src)
    rows = re.findall(r"^\| (q\S+) \| .*? \| (yes|no) \|$", src, re.M)
    assert {k for k, flag in rows if flag == "yes"} == set(registry.DRIVER_ORDER)
    assert set(registry.all_specs()) <= {k for k, _ in rows}


# -- Prepared queries: a key's built plan is reused while its inputs and
# session confs hold.

PREPARED = "_trafficteach_prepared"


def _fn(key):
    return registry.all_specs()[key].fn


def _same_plan(a, b):
    """One analyzed plan: a rebuild allocates new attribute ids."""
    return a._jdf.logicalPlan().equals(b._jdf.logicalPlan())


def test_prepared_query_reuses_its_plan_while_inputs_hold(spark, tiny_sf_dir):
    from trafficteach_spark.operators.relational import q01_filter_range

    q01 = _fn("q01_filter_range")
    first = q01(spark, tiny_sf_dir)
    second = q01(spark, tiny_sf_dir)
    assert _same_plan(second, first)
    assert second is not first  # a new Dataset: the first one's execution state stays its own
    raw = q01_filter_range(spark, tiny_sf_dir)  # the module-level function is not memoized
    assert not _same_plan(raw, first)
    assert not _same_plan(q01_filter_range(spark, tiny_sf_dir), raw)
    assert sorted(second.collect()) == sorted(raw.collect())


def test_reused_plan_explains_unexecuted(spark, tiny_sf_dir):
    import io
    from contextlib import redirect_stdout

    q13 = _fn("q13_follow_within")
    q13(spark, tiny_sf_dir).collect()
    buf = io.StringIO()
    with redirect_stdout(buf):
        q13(spark, tiny_sf_dir).explain("formatted")
    assert "isFinalPlan=false" in buf.getvalue()


@pytest.mark.parametrize("nested", [False, True], ids=["flat", "date_partition"])
def test_prepared_query_replans_after_in_place_rewrite(spark, tmp_path, nested):
    from tests.test_session import _write_region
    from trafficteach_spark.sources.tables import load_table

    builds = []

    def region_keys(s, d):
        builds.append(d)
        return load_table(s, d, "region").select("r_regionkey")

    keys = registry.prepare("test_region_keys", region_keys)
    table = tmp_path / "region.parquet"
    part_dir = table / "date=2024-01-06" if nested else table
    part_dir.mkdir(parents=True)
    part = part_dir / "part-00000.parquet"
    _write_region(part, [0, 1])
    first = keys(spark, str(tmp_path))
    assert _same_plan(keys(spark, str(tmp_path)), first)
    assert len(builds) == 1

    time.sleep(0.01)  # a distinct mtime_ns on coarse filesystems
    _write_region(part, [0, 1, 2])  # same file name, same directory entries
    again = keys(spark, str(tmp_path))
    assert len(builds) == 2
    assert sorted(r[0] for r in again.collect()) == [0, 1, 2]
    assert _same_plan(keys(spark, str(tmp_path)), again)
    assert len(builds) == 2


def test_prepared_query_replans_on_conf_change(spark, tiny_sf_dir):
    ansi = "spark.sql.ansi.enabled"
    q01 = _fn("q01_filter_range")
    saved = spark.conf.get(ansi)
    first = q01(spark, tiny_sf_dir)
    try:
        spark.conf.set(ansi, "false" if saved == "true" else "true")
        flipped = q01(spark, tiny_sf_dir)
        assert not _same_plan(flipped, first)
        assert _same_plan(q01(spark, tiny_sf_dir), flipped)
    finally:
        spark.conf.set(ansi, saved)
    assert not _same_plan(q01(spark, tiny_sf_dir), flipped)


@pytest.mark.parametrize("key", ["q106_session_concurrency", "q134_dedup_impact"])
def test_persisting_and_eager_builds_are_rebuilt_every_call(spark, tiny_sf_dir, key):
    from trafficteach_spark.session import cache_scope

    fn = _fn(key)
    with cache_scope(spark):
        first = fn(spark, tiny_sf_dir)
        rows = sorted(first.collect())
    with cache_scope(spark):
        # q134's second build reuses the dedup layer's checkpointed
        # clusters: no job runs, so its plan is kept unwalked...
        second = fn(spark, tiny_sf_dir)
        assert not _same_plan(second, first)
        assert sorted(second.collect()) == rows
    with cache_scope(spark):
        # ...and the first call that matches it walks the plan, finds the
        # evictable blocks it reads, drops the plan and builds afresh.
        third = fn(spark, tiny_sf_dir)
        assert not _same_plan(third, second)
        assert sorted(third.collect()) == rows
    entry = spark.__dict__[PREPARED].get(key)
    assert entry is None or entry[3] is None  # no plan is kept for the key


def test_new_session_never_receives_another_sessions_plan(spark, tiny_sf_dir):
    q01 = _fn("q01_filter_range")
    mine = q01(spark, tiny_sf_dir)
    other = spark.newSession()
    theirs = q01(other, tiny_sf_dir)
    assert not _same_plan(theirs, mine)
    assert theirs.sparkSession is other
    again = q01(other, tiny_sf_dir)
    assert again.sparkSession is other
    assert _same_plan(again, theirs)
    assert _same_plan(q01(spark, tiny_sf_dir), mine)


def test_prepared_query_keeps_each_dirs_rows(spark, tiny_sf_dir):
    from tests.conftest import SMOKE_SF_DIR

    q01 = _fn("q01_filter_range")
    tiny = q01(spark, tiny_sf_dir).count()
    smoke = q01(spark, SMOKE_SF_DIR)
    assert smoke.count() != tiny
    again = q01(spark, tiny_sf_dir)
    assert again.count() == tiny
    assert _same_plan(q01(spark, tiny_sf_dir), again)  # the entry now holds the tiny dir's plan
    assert q01(spark, SMOKE_SF_DIR).count() == smoke.count()


def test_outer_fingerprint_covers_an_inner_keys_stamps(spark, tiny_sf_dir):
    """q203 builds on q08's prepared frame: an inner hit re-stamps q08's
    inputs into q203's fingerprint."""
    _fn("q08_stratified_sample")(spark, tiny_sf_dir)
    q203 = _fn("q203_sample_representativeness")
    outer = q203(spark, tiny_sf_dir)
    memo = spark.__dict__[PREPARED]
    assert set(memo["q08_stratified_sample"][1]) <= set(memo["q203_sample_representativeness"][1])
    assert _same_plan(q203(spark, tiny_sf_dir), outer)
