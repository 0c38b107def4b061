"""Plan-shape regression tests: the scale audit as assertions.

These pin the physical-plan properties the 100 TB design depends on —
if a refactor reintroduces a nested-loop join, un-pushes the time range,
or re-broadcasts a scaling side, these fail before any bench run would
notice (SURVEY §5; VERDICT r1 'What's wrong').
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from tests.conftest import SMOKE_SF_DIR
from trafficteach_spark.registry import queries

Q = queries()


def formatted_plan(spark, key: str) -> str:
    # Cached frames persisted by earlier queries (O43) would be
    # substituted into these plans by the CacheManager and change their
    # scan shapes; these tests pin the COLD-path plans.
    spark.catalog.clearCache()
    buf = io.StringIO()
    with redirect_stdout(buf):
        Q[key](spark, SMOKE_SF_DIR).explain("formatted")
    return buf.getvalue()


def test_q13_interval_join_is_hash_not_nested_loop(spark):
    plan = formatted_plan(spark, "q13_follow_within")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_events_range_reaches_the_scan(spark):
    # The ns-range must appear as pushed Greater/Less filters, not just
    # IsNotNull — q01 is the canonical ranged scan.
    plan = formatted_plan(spark, "q01_filter_range")
    assert "GreaterThanOrEqual(ts," in plan
    assert "LessThan(ts," in plan


def test_q01_prunes_props_from_read_schema(spark):
    plan = formatted_plan(spark, "q01_filter_range")
    read_schema_lines = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schema_lines and all("props" not in l for l in read_schema_lines)


def test_q06_topn_uses_take_ordered(spark):
    plan = formatted_plan(spark, "q06_topn")
    assert "TakeOrderedAndProject" in plan


def test_q03_no_pinned_broadcast_on_customer(spark):
    # Only fixed-cardinality dims carry an explicit hint; customer's join
    # strategy must be a runtime decision. The *logical* plan is where a
    # pinned hint would appear (AQE may still broadcast at fixture scale).
    df = Q["q03_star_join"](spark, SMOKE_SF_DIR)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    hint_lines = [l for l in logical.splitlines() if "UnresolvedHint" in l or "ResolvedHint" in l]
    assert all("c_custkey" not in l and "customer" not in l for l in hint_lines)


def test_q32_brute_force_bnlj_is_intentional(spark):
    # Documented exception: brute-force KNN IS query-set x corpus.
    plan = formatted_plan(spark, "q32_knn_cosine")
    assert "BroadcastNestedLoopJoin" in plan


@pytest.mark.parametrize("key", sorted(Q))
def test_no_row_at_a_time_python_anywhere(spark, key):
    """Python in a plan must be Arrow-batched (ArrowEvalPython / MapInPandas
    / FlatMapGroupsInPandas) — BatchEvalPython is the 10-100x-slower
    row-at-a-time UDF path this engine bans. (Codegen spans can't be
    asserted pre-execution under AQE, so this is the deterministic guard.)
    """
    plan = formatted_plan(spark, key)
    assert "BatchEvalPython" not in plan


def test_q51_asof_has_no_join_node(spark):
    """The as-of operator's whole point: union + window, not an
    inequality join (which Catalyst can only run as BNLJ/cartesian)."""
    plan = formatted_plan(spark, "q51_asof_join")
    for bad in ("BroadcastNestedLoopJoin", "CartesianProduct",
                "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin"):
        assert bad not in plan, bad


def test_q50_decontaminate_broadcasts_benchmark_grams(spark):
    """No PINNED hint (the registered benchmark stand-in grows with the
    corpus, so a hint would hit the 8 GB ceiling at scale — round-11
    review finding): at fixture size AQE must still pick the broadcast
    on its own, and the join must stay an equi-join either way."""
    plan = formatted_plan(spark, "q50_decontaminate")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("BroadcastHashJoin" in plan) or ("HashJoin" in plan) or (
        "SortMergeJoin" in plan
    )


def test_q63_range_join_is_bucketized_equi_join(spark):
    """The point-in-interval join must run as a hash join on the day
    bucket — never the BNLJ/cartesian Catalyst would pick for a raw
    inequality join."""
    plan = formatted_plan(spark, "q63_range_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ("SortMergeJoin" in plan) or ("HashJoin" in plan)


def test_q64_single_shuffle_serves_all_windows(spark):
    """All three window functions share one WINDOW spec, so the plan
    needs exactly one hash-partitioning exchange (on o_custkey)."""
    plan = formatted_plan(spark, "q64_cumulative")
    assert plan.count("hashpartitioning(") == 1, plan
    assert plan.count(") Window") == 1, plan


def test_q65_cube_single_shuffle(spark):
    """CUBE compiles to Expand + partial/final aggregate around ONE
    exchange — the same one-shuffle shape as a flat groupBy."""
    plan = formatted_plan(spark, "q65_cube")
    assert "Expand" in plan
    assert plan.count("hashpartitioning(") == 1, plan


def test_q67_topk_is_take_ordered(spark):
    """The global top-k must be TakeOrdered (per-partition k, driver
    merge), never a full global sort; the basket + pair-count pipeline
    must cost exactly two exchanges (no self-join shuffles)."""
    plan = formatted_plan(spark, "q67_basket_pairs")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("hashpartitioning(") == 2, plan


def test_q66_window_runs_post_aggregate(spark):
    """The z-score window must consume the aggregated hourly frame:
    two hash exchanges total (groupBy, then window re-key), no more."""
    plan = formatted_plan(spark, "q66_anomaly")
    assert plan.count("hashpartitioning(") == 2, plan
    assert ") Window" in plan


def test_q69_unpivot_adds_no_shuffle(spark):
    """Unpivot is a row-local Expand: the melt adds ZERO exchanges on
    top of the pivot's own two-phase aggregate (per-cell partial, then
    per-row pivot agg), and sits above the last aggregate."""
    plan = formatted_plan(spark, "q69_unpivot")
    assert "Expand" in plan
    assert plan.count("hashpartitioning(") == 2, plan
    # nothing above the Expand (i.e. after the melt) shuffles
    above_expand = plan[: plan.index("Expand (")]
    assert "Exchange" not in above_expand, above_expand


def test_q70_range_frame_single_shuffle(spark):
    """Both RANGE-frame aggregates share one window spec: one exchange,
    one Window node."""
    plan = formatted_plan(spark, "q70_trailing_range")
    assert plan.count("hashpartitioning(") == 1, plan
    assert plan.count(") Window") == 1, plan


def test_q71_full_outer_joins_post_aggregate(spark):
    """Both sides must aggregate BEFORE the full-outer join (partial
    aggs collapse map-side; the join sees distinct-day-sized frames):
    plan order is Aggregate -> Join, never Join -> Aggregate."""
    plan = formatted_plan(spark, "q71_full_outer")
    assert "FullOuter" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the join node's inputs are aggregate outputs: in formatted mode the
    # SortMergeJoin/ShuffledHashJoin appears ABOVE the final aggregates
    join_pos = min(
        (plan.index(t) for t in ("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin") if t in plan),
    )
    assert "HashAggregate" in plan[join_pos:], plan


def test_q72_single_shuffle_algebraic_aggs(spark):
    """All four statistics are algebraic: one exchange, no sort, no
    window, no Python."""
    plan = formatted_plan(spark, "q72_corr_stats")
    assert plan.count("hashpartitioning(") == 1, plan
    assert ") Window" not in plan
    assert "BatchEvalPython" not in plan


def test_q73_regex_stays_jvm_side(spark):
    """regexp_extract_all + explode must compile to a JVM Generate node
    — no Python evaluation anywhere."""
    plan = formatted_plan(spark, "q73_regex_extract")
    assert "Generate" in plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_q74_single_shuffle_serves_all_ranks(spark):
    """ntile/percent_rank/cume_dist share one WINDOW spec: one exchange,
    one Window node."""
    plan = formatted_plan(spark, "q74_rank_distribution")
    assert plan.count("hashpartitioning(") == 1, plan
    assert plan.count(") Window") == 1, plan


def test_q75_bm25_no_data_shuffle(spark):
    """BM25 never shuffles the corpus: the 1-row stats frame broadcasts
    back (nested-loop on a single row is the right plan), scoring is
    row-local, and the top-k is TakeOrdered."""
    plan = formatted_plan(spark, "q75_bm25")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("hashpartitioning(") == 0, plan


def test_q76_set_ops_compile_without_joins(spark):
    """exceptAll/intersectAll must compile to count-aggregate +
    replicate-rows around key shuffles — never per-copy anti/semi
    joins."""
    plan = formatted_plan(spark, "q76_set_ops_bag")
    for bad in ("SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
                "BroadcastNestedLoopJoin", "CartesianProduct"):
        assert bad not in plan, bad


def test_q62_single_fact_scan_via_persist(spark):
    """q62's three hourly-frame consumers must read the persisted
    aggregate (InMemoryRelation), not re-scan the fact table — the
    persist is load-bearing because per-branch pruning defeats
    ReuseExchange (measured: three full scans without it)."""
    import re

    plan = formatted_plan(spark, "q62_time_resample")
    # all three consumers (join probe, bounds, types) read the cache...
    # (formatted mode prints each node twice: tree + detail section)
    nodes = set(re.findall(r"InMemoryTableScan \((\d+)\)", plan))
    assert len(nodes) == 3, plan
    # ...and exactly ONE parquet scan node exists — the cached
    # relation's, echoed under each InMemoryTableScan print. Three
    # distinct scan nodes is the regression this test pins against.
    scan_nodes = set(re.findall(r"Scan parquet\s+\((\d+)\)", plan))
    assert len(scan_nodes) == 1, plan


def test_q140_single_orders_scan_via_persist(spark):
    """q140's two consumers of the per-customer RFM frame (the ONE
    unpivoted threshold pass + the scored grid) must read the persisted
    aggregate, not re-derive it — one orders scan + one per-customer
    shuffle (round-7 verdict item 5), and the thresholds collapsed from
    three per-metric jobs to a single long-frame pass (round-8 verdict
    item 6)."""
    import re

    plan = formatted_plan(spark, "q140_rfm_segmentation")
    nodes = set(re.findall(r"InMemoryTableScan \((\d+)\)", plan))
    assert len(nodes) == 2, plan
    # Exactly the two scans INSIDE the cached relation (per-customer agg
    # + 1-row horizon), computed once at cache fill. Pre-persist this was
    # eight: four derivations x two scans.
    scan_nodes = set(re.findall(r"Scan parquet\s+\((\d+)\)", plan))
    assert len(scan_nodes) == 2, plan


def test_q78_gap_audit_is_partitioned(spark):
    """The per-stream audit must hash-partition by the stream key (one
    exchange, one Window) — not serialize through a single partition."""
    plan = formatted_plan(spark, "q78_id_gaps")
    assert plan.count("hashpartitioning(") == 1, plan
    assert plan.count(") Window") == 1, plan
    assert "SinglePartition" not in plan, plan


def test_q79_weighted_sample_is_take_ordered_no_shuffle(spark):
    """Per-row key + global top-k: TakeOrdered, zero exchanges."""
    plan = formatted_plan(spark, "q79_weighted_sample")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("hashpartitioning(") == 0, plan


def test_q81_hash_split_no_shuffle(spark):
    """The split is a per-row expression: scan -> project, nothing else."""
    plan = formatted_plan(spark, "q81_hash_split")
    assert "Exchange" not in plan
    assert "Sort" not in plan


def test_q82_bpe_pairs_explodes_vocabulary_not_corpus(spark):
    """The pair explode must run AFTER the word-count aggregation (the
    corpus collapses to its vocabulary first), and the final top-k must
    be a TakeOrdered, not a global sort."""
    plan = formatted_plan(spark, "q82_bpe_pairs")
    assert "TakeOrderedAndProject" in plan
    gen = plan.index("Generate")
    # the FIRST aggregate (deepest in the plan text = word count) must
    # appear below the pair-generate node: explode input is vocab-sized
    assert "HashAggregate" in plan[gen:], plan[:400]


def test_q83_sketch_binning_has_no_sort(spark):
    """The whole point of the sketch path: no per-category sort node
    anywhere, boundary table broadcast."""
    plan = formatted_plan(spark, "q83_feature_bins")
    assert "Sort" not in plan
    assert "BroadcastExchange" in plan


def test_feature_bins_default_is_the_sketch_path(spark):
    """The library entry point must default to the scale-safe sketch
    plan (no ntile window, boundary broadcast); the exact NTILE form is
    opt-in only (round-4 verdict item 7)."""
    import io
    from contextlib import redirect_stdout

    from trafficteach_spark.operators.analytics import feature_bins

    spark.catalog.clearCache()
    buf = io.StringIO()
    with redirect_stdout(buf):
        feature_bins(spark, SMOKE_SF_DIR).explain("formatted")
    default_plan = buf.getvalue()
    # "ntile(" is the window function; percentile_approx also contains
    # the bare substring "ntile", so match the call form.
    assert "ntile(" not in default_plan
    assert "Sort" not in default_plan
    assert "BroadcastExchange" in default_plan

    buf = io.StringIO()
    with redirect_stdout(buf):
        feature_bins(spark, SMOKE_SF_DIR, exact=True).explain("formatted")
    assert "ntile(" in buf.getvalue()


def test_q91_pipeline_plan_is_clean(spark):
    """The composed corpus pipeline must stay join+window shaped: no
    nested-loop/cartesian fallback, no Python row evaluation, and the
    representative set must reach the corpus as broadcast joins."""
    plan = formatted_plan(spark, "q91_corpus_pipeline")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan
    assert "BroadcastExchange" in plan


def test_q80_digest_no_python_rows(spark):
    """The digest wraps 30+ constituents; none may fall back to
    row-at-a-time Python evaluation."""
    plan = formatted_plan(spark, "q80_parity_digest")
    assert "BatchEvalPython" not in plan


def test_q94_entropy_is_shuffle_free(spark):
    # The entropy fold is a per-row HOF expression; any Exchange means
    # the token stream started shuffling (the 100 TB anti-pattern the
    # docstring rules out).
    plan = formatted_plan(spark, "q94_token_entropy")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_q97_profile_uses_melt_not_wide_expand(spark):
    # Round-5 redesign history: the multi-COUNT(DISTINCT) Expand plan
    # hashed a 12-column mostly-null key (8.2 s at sf0.1), and with the
    # string MIN/MAX inside it fell all the way to SortAggregate over
    # the expanded stream (32.7 s). The melt design (narrow
    # (col_id, value) distinct streams + one no-distinct stats pass)
    # must keep Expand out of the plan entirely (2.2 s); any
    # SortAggregate may consume only the DISTINCT string frame
    # (vocabulary-sized), never a corpus-sized stream — guaranteed
    # structurally by the no-Expand + no-var-width-corpus-agg shape.
    import re

    plan = formatted_plan(spark, "q97_data_profile")
    assert "Expand" not in plan
    scans = [l for l in plan.splitlines() if re.match(r"\(\d+\) Scan parquet", l.strip())]
    assert len(scans) == 3, scans  # stats + numeric melt + string melt
    assert "HashAggregate" in plan


def test_q98_overlap_sizes_are_broadcast(spark):
    # Per-source set sizes attach as ONE 1-row source->count map
    # cross-attach (round-13 fold; was two broadcast hash joins). That
    # keyless attach is the ONLY nested-loop join allowed: exactly one
    # BroadcastNestedLoopJoin, condition-free, whose broadcast build side
    # carries nothing but the map — so corpus-sized shingle work can
    # never be replanned as a nested loop. No cartesian either.
    import re

    plan = formatted_plan(spark, "q98_source_overlap")
    assert "CartesianProduct" not in plan
    bnlj = re.findall(
        r"\(\d+\) BroadcastNestedLoopJoin.*?(?=\n\(|\Z)", plan, re.S
    )
    assert len(bnlj) == 1 and "Join condition: None" in bnlj[0], plan
    # the build side is the tree child drawn with "+- " at the join's column
    lines = plan.splitlines()
    at = next(i for i, l in enumerate(lines) if " BroadcastNestedLoopJoin " in l)
    col = lines[at].index("BroadcastNestedLoopJoin")
    build = next(l for l in lines[at + 1 :] if l[col : col + 3] == "+- ")
    node = re.search(r"BroadcastExchange \((\d+)\)", build)
    assert node and "BuildRight" in lines[at], plan
    detail = re.search(
        rf"\({node.group(1)}\) BroadcastExchange\nInput \[1\]: \[(\w+)#", plan
    )
    assert detail and detail.group(1) == "smap", plan
    assert "map_from_entries" in plan, plan


def test_q96_psi_single_corpus_aggregate(spark):
    # Both halves are counted in ONE pass via conditional sums: exactly
    # one corpus-sized shuffle (onto (event_type, bin)); everything after
    # operates on the bins-per-type frame.
    import re

    plan = formatted_plan(spark, "q96_psi_drift")
    scans = [l for l in plan.splitlines() if re.match(r"\(\d+\) Scan parquet", l.strip())]
    assert len(scans) == 1, scans


def test_q100_scd2_single_exchange(spark):
    # Every window and the version aggregate share the user_id
    # partitioning — after ONE hash Exchange of the corpus the whole
    # chain (lag, running sum, collapse, lead) must reuse it.
    import re

    plan = formatted_plan(spark, "q100_scd2_history")
    exchanges = [
        l for l in plan.splitlines()
        if re.match(r"\(\d+\) Exchange", l.strip())
    ]
    # every counted Exchange must be the user_id hash partitioning —
    # checked on the Arguments lines that follow each Exchange header
    assert plan.count("hashpartitioning(user_id") >= 1
    assert len(exchanges) == 1, exchanges
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_q101_delta_scan_is_pruned_and_base_not_rescanned(spark):
    # After the base materializes, a refresh must scan parquet ONLY for
    # the delta — with the cutover pushed to the scan — and read the
    # base from the checkpointed RDD.
    import re

    from trafficteach_spark.operators.analytics import rollup_base

    rollup_base(spark, SMOKE_SF_DIR)  # materialize
    plan = formatted_plan(spark, "q101_incremental_rollup")
    scans = [l for l in plan.splitlines() if re.match(r"\(\d+\) Scan parquet", l.strip())]
    assert len(scans) == 1, scans
    assert "Scan ExistingRDD" in plan
    assert "PushedFilters" in plan and "GreaterThanOrEqual(ts," in plan


def test_q102_single_corpus_scan_and_shuffle(spark):
    # One hash-aggregate on user_id; totals come from a window over the
    # distinct-key counts frame, never a second corpus scan.
    import re

    plan = formatted_plan(spark, "q102_heavy_hitters")
    scans = [l for l in plan.splitlines() if re.match(r"\(\d+\) Scan parquet", l.strip())]
    assert len(scans) == 1, scans
    assert plan.count("hashpartitioning(") == 1, plan


def test_q103_corr_matrix_single_pass(spark):
    # All 28 pair correlations must ride ONE aggregate over ONE scan —
    # the whole point vs the oracle's per-pair rescan.
    import re

    plan = formatted_plan(spark, "q103_corr_matrix")
    scans = [l for l in plan.splitlines() if re.match(r"\(\d+\) Scan parquet", l.strip())]
    assert len(scans) == 1, scans
    assert plan.count("hashpartitioning(") == 0, plan  # global agg: partial+final, no hash key


def test_q105_single_user_exchange(spark):
    # The week-set collapse is the ONLY corpus-sized exchange: one scan,
    # exactly one user_id hash partitioning; everything downstream runs
    # on cohort-matrix-sized frames.
    import re

    plan = formatted_plan(spark, "q105_cohort_retention")
    scans = [l for l in plan.splitlines() if re.match(r"\(\d+\) Scan parquet", l.strip())]
    assert len(scans) == 1, scans
    assert plan.count("hashpartitioning(user_id") == 1, plan


def test_q106_sweep_has_no_inequality_join(spark):
    # The whole point: boundary deltas + per-day running sum, never the
    # O(n^2) active-at-instant inequality join the oracle uses.
    plan = formatted_plan(spark, "q106_session_concurrency")
    # the user_id spread repartitions to defaultParallelism; it replaces
    # the session exchange only when that equals the shuffle count
    assert int(spark.conf.get("spark.sql.shuffle.partitions")) == (
        spark.sparkContext.defaultParallelism
    )
    # the same get_spark session builds plans without per-call origin capture
    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ") Window" in plan


def test_q107_fanout_form_single_corpus_aggregate(spark):
    # the 7-day distinct must come from the bounded explode, not a
    # per-day range self-join
    plan = formatted_plan(spark, "q107_rolling_active_users")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Generate explode" in plan or "Generate" in plan


def test_q111_preaggregates_before_the_join(spark):
    # lineitem must collapse to (orderkey, last_ship) BEFORE joining
    # orders: in the formatted tree the join consumes an aggregate on
    # the lineitem side — i.e. a HashAggregate appears below the join on
    # that branch, and no aggregate consumes raw joined line items.
    import re

    plan = formatted_plan(spark, "q111_fulfillment_lag")
    assert "BroadcastNestedLoopJoin" not in plan and "CartesianProduct" not in plan
    # the l_orderkey max-aggregate exists as its own node pair
    assert re.search(r"\(\d+\) HashAggregate", plan)
    assert "max(l_shipdate" in plan
    # join keys are the order key on both sides
    assert "o_orderkey" in plan and "l_orderkey" in plan


def test_q104_fk_audit_single_pass_no_joins(spark):
    """Round-6 redesign: the FK audit melts every child table's FK
    columns in ONE scan per table, unions them with tagged parent keys,
    and resolves orphanhood in a single (parent, key) hash aggregate —
    zero joins and at most four exchanges (the row-sized melt shuffle,
    the global fold, plus up to two round-12 spread_scan repartitions
    on the single-split fact scans — no-ops at real scale where the
    file-count guard disarms them), where the old design paid one scan
    + one broadcast join per relation (8x each)."""
    plan = formatted_plan(spark, "q104_fk_audit")
    for join in (
        "SortMergeJoin",
        "BroadcastHashJoin",
        "ShuffledHashJoin",
        "BroadcastNestedLoopJoin",
        "CartesianProduct",
    ):
        assert join not in plan, join
    import re

    # formatted output lists each node in the tree AND a detail section;
    # the "(n) NodeName" detail header appears exactly once per node.
    # Conditional bound (round-13 advice): the two extra exchanges exist
    # only when spread_scan is ARMED (single-split testdata) — they show
    # up as REPARTITION-flagged exchanges. Counting them separately keeps
    # the core bound at 2 in an environment where the spread is disarmed,
    # so a genuinely new shuffle can't hide under the loosened ceiling.
    n_spread = len(re.findall(r"REPARTITION_BY", plan))
    assert n_spread <= 2, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2 + n_spread, plan
    # one scan per distinct child/parent table, not one per relation:
    # lineitem carries three FKs but must appear exactly once.
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) <= 8, plan


def test_q112_incremental_dedup_is_asymmetric_equi_join(spark):
    """Batch admission must be the inverted-index equi-join on shingle
    (batch side x matching corpus postings), never any nested-loop or
    cartesian pairing of batch x corpus."""
    plan = formatted_plan(spark, "q112_incremental_dedup")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "shingle" in plan


def test_q113_attribution_single_window_no_second_join(spark):
    """Linear attribution adds ONE count-over-purchase window on top of
    q68's interval equi-join — no per-purchase re-join for the share."""
    plan = formatted_plan(spark, "q113_linear_attribution")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count(") Window") == 1, plan


def test_q114_snapshot_diff_single_full_outer(spark):
    plan = formatted_plan(spark, "q114_snapshot_diff")
    assert "FullOuter" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q115_sketch_shuffles_day_frame_not_users(spark):
    """The sketch twin's whole point: after the per-day sketch
    aggregate, every later exchange moves the DAY-level frame. The plan
    has no distinct over (user, day) and at most the sketch-agg,
    window-merge and calendar exchanges."""
    import re

    plan = formatted_plan(spark, "q115_rolling_active_sketch")
    assert "hll_sketch_agg" in plan and "hll_union_agg" in plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 4, plan


def test_q116_window_runs_over_grid_not_events(spark):
    """The LOCF window must consume the types x hours grid (post-
    aggregate), never raw events: exactly one fact-table scan feeds the
    persisted hourly frame, and the Window sits above the grid join."""
    import re

    plan = formatted_plan(spark, "q116_gap_fill_locf")
    assert ") Window" in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    # the only cross join is the sanctioned calendar grid attach
    # (types x hours, both post-aggregate tiny — q62's documented shape);
    # the classifier in tools/plan_audit.py tags it cross-attach.
    assert "CartesianProduct" not in plan


def test_q121_windows_share_user_exchange_then_takeordered(spark):
    """Session-id and trigram windows are same-prefix partitioned
    (user; user+session), so ONE user-keyed exchange serves both; the
    top-N is TakeOrdered, never a global sort."""
    import re

    plan = formatted_plan(spark, "q121_session_paths")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # exchanges: user window + path aggregate = 2
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan


def test_q122_pit_join_no_interval_explode_no_bnlj(spark):
    """The PIT lookup must be the as-of union+window per customer plus
    the fact->orders equi-join — never an interval explode or a
    nested-loop interval join."""
    plan = formatted_plan(spark, "q122_pit_join")
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert ") Window" in plan  # the as-of carry


def test_q206_sparse_cosine_is_equi_join_not_all_pairs(spark):
    """The candidate generator must be the postings equi-join on term —
    never a nested-loop over document pairs — and the persisted postings
    frame must feed both the norms pass and both self-join sides. The
    only nested loop allowed is the sanctioned condition-free 1-row
    n_docs cross-attach INSIDE the cached postings relation."""
    import re

    plan = formatted_plan(spark, "q206_sparse_cosine")
    for line in plan.splitlines():
        # tree lines carry the build side + join type; node-detail
        # header lines ("(19) BroadcastNestedLoopJoin") carry neither
        if "BroadcastNestedLoopJoin" in line and "Build" in line:
            assert "Cross BuildRight" in line, line  # condition-free attach
    assert "CartesianProduct" not in plan, plan
    nodes = set(re.findall(r"InMemoryTableScan \((\d+)\)", plan))
    assert len(nodes) >= 3, plan


def test_q204_outer_attribution_is_hash_join(spark):
    """The LEFT OUTER interval join must ride the user_id equi-key with
    the time range as a residual — no nested loop."""
    plan = formatted_plan(spark, "q204_attribution_outer")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_q205_enrich_broadcasts_the_dim_side(spark):
    """The customer dim must broadcast; the events side must not
    shuffle for the join."""
    plan = formatted_plan(spark, "q205_stream_enrich")
    assert "BroadcastHashJoin" in plan, plan
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_q103_wide_aggregate_stays_in_codegen(spark):
    """Round-10 finding: the 137-field partial co-moment state is wider
    than codegen's DEFAULT 100-field cutoff, which silently demoted the
    whole single-scan aggregate to interpreted row-at-a-time execution
    (6.7x slower, identical plan shape). session.RUNTIME_CONFS raises
    spark.sql.codegen.maxFields; this pins (a) the conf reaches any
    session through ensure_session_confs and (b) the EXECUTED final
    plan really runs both HashAggregates inside WholeStageCodegen (the
    `*(n)` stage marker) — a plan-shape assert alone would pass either
    way, which is exactly how the regression hid."""
    from trafficteach_spark.session import ensure_session_confs

    ensure_session_confs(spark)
    assert int(spark.conf.get("spark.sql.codegen.maxFields")) >= 137

    df = queries()["q103_corr_matrix"](spark, SMOKE_SF_DIR)
    assert len(df.collect()) == 28
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan
    final = plan.split("Initial Plan")[0]  # AQE echoes the pre-run plan below
    agg_lines = [
        line.strip().lstrip("+-: ")
        for line in final.splitlines()
        if "HashAggregate" in line
    ]
    assert len(agg_lines) == 2, final
    for line in agg_lines:
        assert line.startswith("*("), line


@pytest.mark.parametrize(
    "key",
    [
        "q131_embedding_margin",
        "q59_label_centroids",
        "q182_embedding_dim_profile",
        "q183_embedding_corr_pairs",
    ],
)
def test_embedding_grid_aggregates_are_order_independent(spark, key):
    """The q131 determinism contract (round 10): the per-dimension
    mean/variance/co-moment grids must aggregate exact integer units
    (BIGINT/DECIMAL sums — commutative), never a parallel double
    avg/var/corr whose partial-merge order can flip a ROUND(_, 6) cell
    and cascade into downstream cosines (q131) or top-k membership
    (q183). This pins the optimized plan free of the order-dependent
    aggregate functions; the unit sums show up as sum() over integral
    types instead."""
    df = queries()[key](spark, SMOKE_SF_DIR)
    logical = df._jdf.queryExecution().optimizedPlan().toString()
    for banned in ("avg(", "var_pop(", "var_samp(", "corr(", "stddev"):
        assert banned not in logical, (key, banned)


def test_q189_single_corpus_scan_after_grid_fold(spark):
    """Round-13 restructure: both coalition lookups (v(S), v(S+i)) ride
    ONE broadcast of the per-mask frame via an exploded (key, role)
    grid, and exposure folds into the same per-channel aggregate — so
    the whole query reads events exactly once, with no persist."""
    import re

    plan = formatted_plan(spark, "q189_shapley_attribution")
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, plan
    assert "InMemoryRelation" not in plan, "q189 persist was dropped in r13"


@pytest.mark.parametrize("key", ["q198_metric_family_readout", "q207_bh_fdr"])
def test_metric_family_single_scan_no_arm_self_join(spark, key):
    """Round-13 restructure of _metric_family_z: the a/b arm split is a
    conditional-aggregate pivot of the 8-cell frame — one events scan,
    no self-join of the aggregate, no persist."""
    import re

    plan = formatted_plan(spark, key)
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, plan
    assert "InMemoryRelation" not in plan
    # the only joins left attach the bounded critical-value frame
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_q190_tail_has_no_checkpoint_boundary(spark):
    """Round-13 tail collapse: reach/base/tot fold into window functions
    over the 5-row variant frame — one linear plan, no eager
    localCheckpoint (which showed up as a Scan ExistingRDD boundary and
    cost three extra scheduler round-trips per run)."""
    plan = formatted_plan(spark, "q190_markov_attribution")
    # Pre-r13 the eager checkpoint truncated lineage, so the final
    # plan contained NO parquet scan (only the checkpoint RDD); the
    # collapsed tail keeps the whole pipeline in one plan. The variant
    # list's createDataFrame legitimately remains an ExistingRDD node.
    assert "Scan parquet" in plan, plan
    assert plan.count(") Window") >= 3, plan


@pytest.mark.parametrize("key", ["q141_association_rules", "q161_triple_itemsets"])
def test_itemset_tail_uses_single_item_map_attach(spark, key):
    """Round-13 fold: per-brand counts attach as ONE 1-row
    brand->count map (map_from_entries) instead of one broadcast join
    per rule position — one item aggregation per action."""
    plan = formatted_plan(spark, key)
    assert "map_from_entries" in plan, plan
