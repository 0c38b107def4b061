"""Analytic reporting operators over the events fact table: exact
percentiles, rollup hierarchies, and pivot tables — the OLAP-report
surface a user of the reference's SQL layer would expect from any
replacement engine (SURVEY.md §3 O15/O17 family, widened).

Everything is built-in aggregate expressions (codegen'd, zero Python);
every query carries a DuckDB oracle.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trafficteach_spark.functions.exprs import (
    duck_money,
    epoch_us_expr,
    epoch_us_sql,
    mask_non_finite,
    money,
)
from trafficteach_spark.registry import register
from trafficteach_spark.sources.tables import load_table, session_frame, spread_scan

# Fixture event taxonomy (fixed, like the reference's action list); an
# explicit pivot value list keeps the output schema static — dynamic
# pivot would trigger a distinct-scan job just to discover columns.
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

PCTS = (0.5, 0.9, 0.99)


@register(
    "q52_percentiles",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           ROUND(quantile_cont(value, {PCTS[0]}), 6) AS p50,
           ROUND(quantile_cont(value, {PCTS[1]}), 6) AS p90,
           ROUND(quantile_cont(value, {PCTS[2]}), 6) AS p99
    FROM events
    GROUP BY event_type
    """,
    tags=("analytics", "O15"),
)
def q52_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of event value per type (p50/p90/
    p99) — the latency-report shape. Spark's ``percentile`` and DuckDB's
    ``quantile_cont`` share the same continuous-interpolation definition
    (rank p*(n-1) between sorted neighbors), so the oracle is exact.

    Scale note: exact percentiles sort every group's values — fine for
    bounded groups; at 100 TB swap in ``approx_percentile`` (t-digest
    sketch, mergeable map-side, same call shape) and accept the
    documented error bound. The exact form stays the oracle-checkable
    reference implementation.
    """
    events = load_table(spark, sf_dir, "events")
    pct_list = ", ".join(f"{p}D" for p in PCTS)
    return (
        events.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.expr(f"percentile(value, array({pct_list}))").alias("pcts"),
        )
        .select(
            "event_type",
            "n",
            F.round(F.col("pcts")[0], 6).alias("p50"),
            F.round(F.col("pcts")[1], 6).alias("p90"),
            F.round(F.col("pcts")[2], 6).alias("p99"),
        )
    )


@register(
    "q53_rollup",
    oracle="""
    SELECT event_type,
           CAST(hour(ts) AS INT) AS hr,
           CAST(GROUPING(event_type, hour(ts)) AS BIGINT) AS gid,
           COUNT(*) AS n,
           ROUND(SUM(value), 6) AS sum_value
    FROM events
    GROUP BY ROLLUP(event_type, hour(ts))
    """,
    tags=("analytics", "O15", "O17"),
)
def q53_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rollup hierarchy: (event_type, hour) -> (event_type) -> grand
    total in one pass, with the grouping_id bitmask distinguishing
    levels (Spark's ``grouping_id()`` and DuckDB's ``GROUPING()`` share
    the bit convention: bit set = column aggregated away).

    Scale note: ROLLUP expands each row into (levels+1) grouping-set
    copies BEFORE the shuffle, but partial aggregation collapses them
    map-side, so the exchanged volume is the distinct-key volume —
    the same one-shuffle shape as a flat groupBy.
    """
    events = load_table(spark, sf_dir, "events")
    with_hr = events.withColumn("hr", F.hour("ts").cast("int"))
    return (
        with_hr.rollup("event_type", "hr")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
        .select("event_type", "hr", "gid", "n", "sum_value")
    )


@register(
    "q54_pivot",
    oracle="""
    SELECT CAST(hour(ts) AS INT) AS hr,
           COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
           COUNT(*) FILTER (WHERE event_type = 'error') AS n_error,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           COUNT(*) FILTER (WHERE event_type = 'signup') AS n_signup,
           COUNT(*) FILTER (WHERE event_type = 'view') AS n_view
    FROM events
    GROUP BY 1
    """,
    tags=("analytics", "O17"),
)
def q54_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot table: hour-of-day rows x event-type columns (the
    hourly-traffic matrix every ops dashboard draws). Pivot values are
    the EXPLICIT taxonomy list: Catalyst then compiles the pivot to
    conditional counts — exactly the DuckDB oracle's FILTER aggregates —
    with a static schema and no discovery scan; absent combinations
    surface as 0, not null.

    Scale note: a values-listed pivot is one groupBy shuffle on ``hr``;
    the per-type columns are map-side conditional aggregates. A dynamic
    pivot (no value list) would add a distinct job and make the schema
    data-dependent — never do that in a pipeline.
    """
    return hourly_event_matrix(spark, sf_dir)


def hourly_event_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hour x event-type wide count matrix — ONE construction shared
    by q54 (pivot) and q69 (its unpivot inverse), so the round-trip law
    q54 |> unpivot == q69 is structural, not just test-enforced (round-6
    review folded two drifting copies). Absent cells are zero-coalesced
    longs, matching both oracles' FILTER-count semantics."""
    events = load_table(spark, sf_dir, "events")
    pivoted = (
        events.withColumn("hr", F.hour("ts").cast("int"))
        .groupBy("hr")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))  # count("*") is invalid inside a pivot agg
    )
    return pivoted.select(
        "hr",
        *[
            F.coalesce(F.col(t), F.lit(0)).cast("long").alias(f"n_{t}")
            for t in EVENT_TYPES
        ],
    )


HIST_LO, HIST_HI, HIST_BINS = 0.0, 100.0, 10
_HIST_W = (HIST_HI - HIST_LO) / HIST_BINS


@register(
    "q60_histogram",
    oracle=f"""
    SELECT event_type,
           CAST(least(greatest(floor((value - {HIST_LO}) / {_HIST_W}), 0),
                      {HIST_BINS - 1}) AS INT) AS bin_id,
           COUNT(*) AS n,
           ROUND(MIN(value), 6) AS lo_seen,
           ROUND(MAX(value), 6) AS hi_seen
    FROM events
    GROUP BY 1, 2
    """,
    tags=("analytics", "O17"),
)
def q60_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-bin value histogram per event type ({HIST_BINS} bins over
    [{HIST_LO}, {HIST_HI}]; out-of-range values clamp into the edge
    bins) — the distribution-report shape dashboards and data-quality
    monitors draw.

    Pure arithmetic binning keeps it ONE hash-aggregate — same
    one-shuffle shape at any scale, with at most types x bins rows of
    state; no sort, unlike percentiles. floor() on doubles is
    bit-deterministic in both engines, so the oracle is exact.
    """
    events = load_table(spark, sf_dir, "events")
    bin_id = F.least(
        F.greatest(F.floor((F.col("value") - HIST_LO) / _HIST_W), F.lit(0)),
        F.lit(HIST_BINS - 1),
    ).cast("int")
    return (
        events.groupBy("event_type", bin_id.alias("bin_id"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("value"), 6).alias("lo_seen"),
            F.round(F.max("value"), 6).alias("hi_seen"),
        )
    )


def merge_upsert(
    base: DataFrame,
    updates: DataFrame,
    keys: list[str],
    check_unique: bool = False,
) -> DataFrame:
    """SCD-type-1 merge: rows from ``updates`` replace same-key rows in
    ``base``; unmatched base rows pass through. One left-anti join (the
    update batch is typically broadcast-sized) + union — the DataFrame
    form of MERGE INTO; at 100 TB the same logic runs as a storage-level
    merge (Delta/Iceberg) over partition-pruned files, with this as the
    semantics reference.

    PRECONDITION (as in SQL MERGE, which errors on multiple source
    matches): ``updates`` must be unique per key — duplicates would
    both survive into the result. Pass ``check_unique=True`` to enforce
    it eagerly (one aggregate action over the update batch — cheap for
    CDC-sized updates, so the default stays lazy only for composability
    inside larger plans)."""
    if check_unique:
        dups = (
            updates.groupBy(*keys).count().where(F.col("count") > 1).limit(1).count()
        )
        if dups:
            raise ValueError(
                f"merge_upsert: updates batch has duplicate keys on {keys} "
                "(SQL MERGE would raise on multiple source matches)"
            )
    # NULL-SAFE anti join: a name-list join is null-unsafe, so a base row
    # with a NULL key component never matched its update — the stale row
    # passed through NEXT TO the new one, silently violating the unique-key
    # contract (hit in practice by the rollup state's NULL-day rows from
    # null-ts events).
    from trafficteach_spark.functions.exprs import null_safe_key_cond

    b = base.alias("__mu_base")
    u = updates.select(*keys).alias("__mu_upd")
    cond = null_safe_key_cond("__mu_base", "__mu_upd", keys)
    return updates.unionByName(b.join(u, cond, "left_anti"))


@register(
    "q61_merge_upsert",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CASE WHEN o_orderkey % 10 = 0 THEN 'R' ELSE o_orderstatus END
               AS o_orderstatus
    FROM orders
    """,
    tags=("analytics", "cdc"),
)
def q61_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Upsert/CDC merge (the reference's MySQL result sink used
    REPLACE-INTO semantics [R] — this is the engine-side equivalent):
    apply a deterministic synthetic update batch (every 10th order
    re-statused 'R', standing in for a CDC feed) over the orders table
    via :func:`merge_upsert`, and return the merged view. The oracle
    states the post-merge invariant directly, independently of the
    anti-join + union plan.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus"
    )
    updates = orders.where(F.col("o_orderkey") % 10 == 0).withColumn(
        "o_orderstatus", F.lit("R")
    )
    return merge_upsert(orders, updates, ["o_orderkey"])


@register(
    "q65_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
           COUNT(*) AS n,
           ROUND(SUM(o_totalprice), 6) AS sum_price
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    tags=("analytics", "O15", "O17"),
)
def q65_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full CUBE over (status, priority): every grouping-set combination
    — both one-dimension marginals AND the cross cells — in one pass,
    completing the grouping-sets family next to q53's strict ROLLUP
    hierarchy. ``grouping_id()`` disambiguates a real NULL key from an
    aggregated-away level (same bit convention both engines).

    Scale note: CUBE over d columns expands each row 2^d ways before the
    shuffle — fine for small d with partial aggregation collapsing
    map-side (exchanged volume = distinct keys x 2^d). For high-d cubes
    the right plan is d separate rollups unioned, or a two-phase
    cell-materialization; d=2 here keeps the single-shuffle shape.
    """
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id().alias("gid"),
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 6).alias("sum_price"),
        )
        .select("o_orderstatus", "o_orderpriority", "gid", "n", "sum_price")
    )


# Top-k co-occurring part pairs to keep (deterministic tie-break).
_BASKET_TOPK = 20


@register(
    "q67_basket_pairs",
    oracle=f"""
    WITH items AS (
        SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    )
    SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
           COUNT(*) AS n_orders
    FROM items a
    JOIN items b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    GROUP BY 1, 2
    ORDER BY n_orders DESC, part_a, part_b
    LIMIT {_BASKET_TOPK}
    """,
    tags=("analytics", "cooccurrence"),
)
def q67_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket heavy hitters: the top-20 part pairs
    that co-occur in the most orders (the co-occurrence/association
    primitive behind recommendations and feature crosses).

    Plan shape: TWO shuffles, not the naive four. groupBy(order) +
    collect_set builds each basket in one exchange (subsuming the
    dedup a distinct + self-join plan would pay two more for), then a
    higher-order-function expansion emits each basket's C(n,2) sorted
    pairs row-locally, and the pair count is the second exchange. The
    self-join formulation was measured at 2.4 s here — this shape cut
    it to ~1 s. Per-basket fan-out is quadratic in basket size, so at
    100 TB the guard is a basket-size cap (``size(basket) <= ~100``
    filter before expanding) — TPC-H baskets are bounded at 7
    lineitems, so the cap is a no-op here and the exact form stays
    oracle-checkable. The final top-k is TakeOrdered (per-partition k
    then driver merge of k x partitions), never a global sort.
    Deterministic: unique (part_a, part_b) tie-break.
    """
    baskets = (
        # spread_scan (guide §2.5) keyed on the basket key: the aggregate
        # below reuses the repartition exchange (guide §2.4), so the
        # collect_set partials run 32-way instead of on the single scan split.
        spread_scan(
            spark,
            load_table(spark, sf_dir, "lineitem"),
            sf_dir,
            "lineitem",
            "l_orderkey",
        )
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_partkey")).alias("parts"))
    )
    pairs = baskets.select(
        F.explode(
            F.expr(
                """
                flatten(transform(parts, (x, i) ->
                    transform(slice(parts, i + 2, size(parts)), y ->
                        struct(x AS part_a, y AS part_b))))
                """
            )
        ).alias("p")
    ).select("p.part_a", "p.part_b")
    return (
        pairs.groupBy("part_a", "part_b")
        .agg(F.count("*").alias("n_orders"))
        .orderBy(F.desc("n_orders"), "part_a", "part_b")
        .limit(_BASKET_TOPK)
    )


@register(
    "q69_unpivot",
    oracle="""
    WITH wide AS (
        SELECT CAST(hour(ts) AS INT) AS hr,
               COUNT(*) FILTER (WHERE event_type = 'click') AS n_click,
               COUNT(*) FILTER (WHERE event_type = 'error') AS n_error,
               COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
               COUNT(*) FILTER (WHERE event_type = 'signup') AS n_signup,
               COUNT(*) FILTER (WHERE event_type = 'view') AS n_view
        FROM events GROUP BY 1
    )
    SELECT hr, substring(name, 3) AS event_type, n
    FROM wide
    UNPIVOT (n FOR name IN (n_click, n_error, n_purchase, n_signup, n_view))
    """,
    tags=("analytics", "O17"),
)
def q69_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide -> long): melt q54's hour x event-type matrix back
    into (hr, event_type, n) rows — the inverse reshaping every feature
    pipeline needs when a wide export must feed a long-format consumer.

    Uses the native ``unpivot`` operator (Spark >= 3.4): a zero-shuffle
    row-local Expand, so the melt adds NO exchange beyond the pivot's
    own two-phase aggregate (plan-tested: nothing above the Expand
    shuffles). Round-trip law q54 |> unpivot == q69 is the semantic
    anchor; the DuckDB UNPIVOT oracle states it independently.
    """
    return hourly_event_matrix(spark, sf_dir).unpivot(
        ["hr"],
        [f"n_{t}" for t in EVENT_TYPES],
        "event_type_col",
        "n",
    ).select(
        "hr",
        F.expr("substring(event_type_col, 3)").alias("event_type"),
        "n",
    )


@register(
    "q71_full_outer",
    oracle="""
    WITH daily_orders AS (
        SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders
        FROM orders GROUP BY 1
    ),
    daily_ships AS (
        SELECT CAST(l_shipdate AS DATE) AS d, COUNT(*) AS n_ships
        FROM lineitem GROUP BY 1
    )
    SELECT COALESCE(o.d, s.d) AS d,
           COALESCE(o.n_orders, 0) AS n_orders,
           COALESCE(s.n_ships, 0) AS n_ships,
           CASE WHEN o.d IS NULL THEN 'ship_only'
                WHEN s.d IS NULL THEN 'order_only'
                ELSE 'both' END AS presence
    FROM daily_orders o
    FULL JOIN daily_ships s ON o.d = s.d
    """,
    tags=("analytics", "O9"),
)
def q71_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER reconciliation: daily order placements vs daily
    shipments, keeping days present on EITHER side with the other side
    zero-filled and tagged — the ledger-reconciliation shape (inner /
    semi / anti / left are covered by q03-q06; this completes the join
    type family). The fixture genuinely exercises all three presence
    classes: early order-only days (nothing shipped yet) and trailing
    ship-only days (pipeline draining past the last order).

    Plan shape: both inputs aggregate BEFORE the join (partial aggs
    map-side), so the full-outer join runs on two frames of
    distinct-day size — data-volume-independent — and shuffles on the
    day key once each. At 100 TB nothing changes: the aggregates do
    the heavy lifting; the outer join stays tiny.
    """
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    daily_orders = orders.groupBy(
        F.to_date("o_orderdate").alias("od")
    ).agg(F.count("*").alias("n_orders"))
    daily_ships = lineitem.groupBy(
        F.to_date("l_shipdate").alias("sd")
    ).agg(F.count("*").alias("n_ships"))
    joined = daily_orders.join(
        daily_ships, daily_orders.od == daily_ships.sd, "full_outer"
    )
    return joined.select(
        F.coalesce("od", "sd").alias("d"),
        F.coalesce("n_orders", F.lit(0)).alias("n_orders"),
        F.coalesce("n_ships", F.lit(0)).alias("n_ships"),
        F.when(F.col("od").isNull(), "ship_only")
        .when(F.col("sd").isNull(), "order_only")
        .otherwise("both")
        .alias("presence"),
    )


@register(
    "q72_corr_stats",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
           ROUND(covar_samp(l_quantity, l_discount), 6) AS qty_disc_covar,
           ROUND(stddev_samp(l_extendedprice), 6) AS price_stddev
    FROM lineitem
    GROUP BY 1
    """,
    tags=("analytics", "O15", "O31"),
)
def q72_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bivariate statistics per group: Pearson correlation, sample
    covariance, and sample stddev — the feature-screening pass a
    training pipeline runs before picking model inputs. Spark and
    DuckDB share the definitions (corr = covar_samp/(sx*sy)), so the
    rounded doubles agree exactly.

    Plan shape: all four are algebraic aggregates (sum/sum-of-products
    moments), so they partial-aggregate map-side and merge in one
    shuffle of GROUPS x constant-size state — the cheapest possible
    profile; no sort, no window, no second pass.
    """
    lineitem = load_table(spark, sf_dir, "lineitem")
    # corr as try_divide(covar_samp, sx*sy) — algebraically identical
    # (the 1/(n-1) factors cancel), but F.corr's internal divide throws
    # DIVIDE_BY_ZERO under ANSI on a zero-variance group where the
    # oracle's corr() yields NULL (the q103 hazard; verified empirically
    # on Spark 4 ANSI + DuckDB 1.0).
    return lineitem.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(
            F.try_divide(
                F.covar_samp("l_quantity", "l_extendedprice"),
                F.stddev_samp("l_quantity") * F.stddev_samp("l_extendedprice"),
            ),
            6,
        ).alias("qty_price_corr"),
        F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("qty_disc_covar"),
        F.round(F.stddev_samp("l_extendedprice"), 6).alias("price_stddev"),
    )


# Relative rank-error budget for the t-digest approximate percentiles
# (Spark's approx_percentile accuracy knob: 1/accuracy = max rank error).
_APPROX_ACCURACY = 10_000


@register(
    "q77_approx_percentiles",
    oracle=None,  # engine-internal t-digest sketch; DuckDB cannot reproduce
    tags=("analytics", "O15", "sketch"),
)
def q77_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate percentiles (p50/p90/p99 per event type) via the
    t-digest sketch — the 100 TB path q52's docstring points at, now a
    first-class registered operator. rows-only by design: the sketch is
    engine-internal, so no DuckDB oracle exists; correctness is pinned
    by the rank-error invariant test instead (every approximate answer
    must sit within 1/accuracy of the exact rank — the documented
    guarantee), making the accuracy contract itself the tested artifact.

    Scale shape: the sketch is a MERGEABLE aggregate — partial digests
    build map-side and merge in one shuffle of GROUPS x O(accuracy)
    state, never sorting or holding a group's values; this is why it
    replaces q52's exact sort-based percentile at volume.
    """
    events = load_table(spark, sf_dir, "events")
    pct_list = ", ".join(f"{p}D" for p in PCTS)
    return (
        events.groupBy("event_type")
        .agg(
            # count(value), not count(*): the sketch skips NULLs, so n
            # must describe the same population the percentiles do.
            F.count("value").alias("n"),
            F.expr(
                f"approx_percentile(value, array({pct_list}), {_APPROX_ACCURACY})"
            ).alias("pcts"),
        )
        .select(
            "event_type",
            "n",
            F.round(F.col("pcts")[0], 6).alias("p50"),
            F.round(F.col("pcts")[1], 6).alias("p90"),
            F.round(F.col("pcts")[2], 6).alias("p99"),
        )
    )


@register(
    "q78_id_gaps",
    oracle="""
    WITH ordered AS (
        SELECT event_type, event_id,
               lag(event_id) OVER (PARTITION BY event_type ORDER BY event_id)
                   AS prev_id
        FROM events
    )
    SELECT event_type,
           prev_id + 1 AS gap_start,
           event_id - 1 AS gap_end,
           event_id - prev_id - 1 AS n_missing
    FROM ordered
    WHERE event_id - prev_id > 1
    """,
    tags=("analytics", "data-quality"),
)
def q78_id_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stream sequence-gap audit: every hole in each event type's
    id sequence as (gap_start, gap_end, n_missing) — the completeness
    check for pipelines whose upstream assigns each stream's ids from
    its own counter (a gap = dropped or stuck data). On the shared-
    counter fixture the per-type sequences interleave, so gaps are
    plentiful and the range arithmetic is genuinely exercised at every
    scale factor (a global audit over these contiguous ids returns
    zero rows and tests nothing).

    Plan shape: one lag window partitioned by the stream key — gap
    detection parallelizes across streams, ONE shuffle, no global
    order. A truly global audit is this same query with the partition
    key dropped (total order = single partition); shard it by id range
    and stitch boundaries when the sequence is global at 100 TB.
    """
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id")
    ordered = events.select(
        "event_type", "event_id", F.lag("event_id").over(w).alias("prev_id")
    )
    return ordered.where(F.col("event_id") - F.col("prev_id") > 1).select(
        "event_type",
        (F.col("prev_id") + 1).alias("gap_start"),
        (F.col("event_id") - 1).alias("gap_end"),
        (F.col("event_id") - F.col("prev_id") - 1).alias("n_missing"),
    )


# ---------------------------------------------------------------------------
# Equi-depth feature binning (training-feature discretization)

N_DECILES = 10


@register(
    "q83_feature_bins_exact",
    oracle=f"""
    WITH ranked AS (
        SELECT l_returnflag, l_extendedprice,
               NTILE({N_DECILES}) OVER (
                   PARTITION BY l_returnflag
                   ORDER BY l_extendedprice, l_orderkey, l_linenumber
               ) AS decile
        FROM lineitem
    )
    SELECT l_returnflag, decile, COUNT(*) AS n,
           ROUND(MIN(l_extendedprice), 6) AS lo,
           ROUND(MAX(l_extendedprice), 6) AS hi,
           ROUND(AVG(l_extendedprice), 6) AS avg_price
    FROM ranked
    GROUP BY 1, 2
    """,
    tags=("analytics", "binning", "anchor"),
)
def q83_feature_bins_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth (decile) discretization of a numeric feature per
    category — the ORACLE-ANCHOR form of the binning contract (round-12
    verdict item 7: the PRIMARY ``q83_feature_bins`` key is the sketch
    path below; this exact twin exists so the contract stays oracle-
    checked, mirroring the q31_simhash/q31_simhash_md5 pairing).

    Determinism: the NTILE ordering carries the unique (price, orderkey,
    linenumber) key, so tied prices land in the same decile in both
    engines. Exact NTILE partitioned by a LOW-cardinality category is a
    per-category single-task sort — fine at report scale (and as this
    anchor), but deliberately NOT the default path: a billion-row
    category funnels through one window task, the suite's worst measured
    scale ratio (4.9-5.7x wall at 10x data vs the sketch's 1.5x).
    """
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        "l_extendedprice", "l_orderkey", "l_linenumber"
    )
    return (
        li.select("l_returnflag", "l_extendedprice", "l_orderkey", "l_linenumber")
        .withColumn("decile", F.ntile(N_DECILES).over(w))
        .groupBy("l_returnflag", "decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("l_extendedprice"), 6).alias("lo"),
            F.round(F.max("l_extendedprice"), 6).alias("hi"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        )
    )


@register(
    "q83_feature_bins",
    oracle=None,  # approx_percentile boundaries are engine-internal
    tags=("analytics", "binning", "scale"),
)
def q83_feature_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth feature binning, the PRIMARY registered form (was
    ``q84_feature_bins_sketch`` through round 11; round-12 verdict item
    7 promoted the sketch to the canonical key so no registered default
    path carries a full sort): binning WITHOUT any sort. Per-category
    decile boundaries come from approx_percentile (a mergeable sketch,
    computed map-side in one aggregation), the boundary table (9 doubles
    per category) broadcasts, and each row's decile is a branch-free HOF
    fold over the boundary array. Two vocabulary-small shuffles total;
    no per-category single-task sort, so a billion-row category costs
    the same per row as a small one.

    Rows-only by design: the sketch's split points are engine-internal
    (DuckDB's approx_quantile uses a different sketch), so there is no
    cross-engine oracle. The invariant test pins what equi-depth means:
    every bin within 25% of n/10 and per-bin [lo, hi] ranges ordered
    and disjoint; ``q83_feature_bins_exact`` is the oracle-checked NTILE
    twin of this operator.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag", "l_extendedprice"
    )
    # The SKETCH pass stays unspread deliberately: repartitioning would
    # change how many partial percentile sketches exist and their merge
    # order, shifting split points run-to-run (the q97 partial-order
    # class, for sketches). Probed: spread bounds also measured SLOWER
    # (576 vs 492 ms) — the exchange outweighs the parallel inserts.
    bounds = li.groupBy("l_returnflag").agg(
        F.percentile_approx(
            "l_extendedprice", [i / N_DECILES for i in range(1, N_DECILES)], 10_000
        ).alias("bs")
    )
    # The PROBE side spreads (round-12, guide §2.5): the per-row
    # boundary fold + grouped partials are pure map work on a
    # single-split scan; count/min/max/avg over DECIMAL are exact, so
    # partial order cannot change results. Measured 967 -> 666 ms.
    li_probe = spread_scan(
        spark, load_table(spark, sf_dir, "lineitem"), sf_dir, "lineitem", "l_orderkey"
    ).select("l_returnflag", "l_extendedprice")
    return (
        li_probe.join(F.broadcast(bounds), "l_returnflag")
        .withColumn(
            "decile",
            F.expr(
                "1 + aggregate(bs, 0, (a, b) -> a + CASE WHEN l_extendedprice > b"
                " THEN 1 ELSE 0 END)"
            ),
        )
        .groupBy("l_returnflag", "decile")
        .agg(
            F.count("*").alias("n"),
            F.round(F.min("l_extendedprice"), 6).alias("lo"),
            F.round(F.max("l_extendedprice"), 6).alias("hi"),
            F.round(F.avg("l_extendedprice"), 6).alias("avg_price"),
        )
    )


def feature_bins(
    spark: SparkSession, sf_dir: str, exact: bool = False
) -> DataFrame:
    """Equi-depth binning entry point for composed pipelines: the
    SKETCH path (q83_feature_bins — approx_percentile boundaries +
    broadcast range-fold, no per-category sort) is the DEFAULT; the
    exact NTILE form (q83_feature_bins_exact) is opt-in via
    ``exact=True``.

    The exact form's per-category NTILE funnels each category's rows
    through one window task — the suite's worst scale ratio (measured
    4.9-5.7x wall at 10x data vs the sketch's 1.5x; BASELINE.md) — so it
    exists as the ORACLE ANCHOR for the binning contract, not as the
    path a 100 TB pipeline should reach by default (round-4 verdict
    item 7: the docstring recommendation, enforced in code; round-12
    item 7: the key naming now agrees).
    """
    if exact:
        return q83_feature_bins_exact(spark, sf_dir)
    return q83_feature_bins(spark, sf_dir)


@register(
    "q86_feature_normalize",
    oracle="""
    SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag,
           ROUND((l.l_extendedprice - s.mn) / NULLIF(s.mx - s.mn, 0), 6) AS minmax,
           ROUND((l.l_extendedprice - s.avg_p) / NULLIF(s.sd, 0), 6) AS zscore
    FROM lineitem l
    JOIN (
        SELECT l_returnflag, MIN(l_extendedprice) AS mn,
               MAX(l_extendedprice) AS mx, AVG(l_extendedprice) AS avg_p,
               STDDEV_SAMP(l_extendedprice) AS sd
        FROM lineitem GROUP BY l_returnflag
    ) s USING (l_returnflag)
    """,
    tags=("analytics", "feature-prep"),
)
def q86_feature_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-category feature normalization — min-max scaling and z-score
    of a numeric column, the standard feature-prep transform before
    training. Computed as aggregate + BROADCAST join (category stats are
    tiny) rather than an un-ordered analytic window: a window partitioned
    only by a low-cardinality category is a single task per category,
    while this form keeps the row pass embarrassingly parallel at any
    per-category row count. NULLIF guards degenerate (constant)
    categories; ROUND(6) absorbs the one-ulp FP divergence floating
    division can produce across engines.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"
    )
    stats = li.groupBy("l_returnflag").agg(
        F.min("l_extendedprice").alias("mn"),
        F.max("l_extendedprice").alias("mx"),
        F.avg("l_extendedprice").alias("avg_p"),
        F.stddev_samp("l_extendedprice").alias("sd"),
    )
    # spread_scan (guide §2.5, round-12): the broadcast probe pass emits
    # one normalized row per line item and a single-split scan runs that
    # whole row pass on one core; keyed spread on the order key fans it
    # out (row-local arithmetic, order-free). Guard disarms at scale.
    probe = spread_scan(spark, li, sf_dir, "lineitem", "l_orderkey")
    return probe.join(F.broadcast(stats), "l_returnflag").select(
        "l_orderkey",
        "l_linenumber",
        "l_returnflag",
        F.round(
            (F.col("l_extendedprice") - F.col("mn"))
            / F.nullif(F.col("mx") - F.col("mn"), F.lit(0.0)),
            6,
        ).alias("minmax"),
        F.round(
            (F.col("l_extendedprice") - F.col("avg_p"))
            / F.nullif(F.col("sd"), F.lit(0.0)),
            6,
        ).alias("zscore"),
    )


# PSI drift: fixed-width value bins (range ~[0, 500)), compared between
# the two halves of the fixture month. Bin width/count and the split
# instant are part of the operator contract (like EVENT_TYPES above).
PSI_BIN_WIDTH = 50.0
PSI_MAX_BIN = 9
PSI_SPLIT = "2024-01-16 00:00:00"


@register(
    "q96_psi_drift",
    oracle=f"""
    WITH b AS (
        SELECT event_type,
               CASE WHEN isfinite(value)
                    THEN LEAST(CAST(FLOOR(value / {PSI_BIN_WIDTH})
                               AS INTEGER), {PSI_MAX_BIN})
               END AS bin,
               CASE WHEN ts < TIMESTAMP '{PSI_SPLIT}' THEN 1 ELSE 0 END AS h1
        FROM events
    ),
    c AS (
        SELECT event_type, bin,
               CAST(SUM(h1) AS BIGINT) AS n1,
               CAST(SUM(1 - h1) AS BIGINT) AS n2
        FROM b GROUP BY event_type, bin
    ),
    t AS (
        SELECT event_type, CAST(SUM(n1) AS BIGINT) AS tot1,
               CAST(SUM(n2) AS BIGINT) AS tot2, COUNT(*) AS nb
        FROM c GROUP BY event_type
    )
    SELECT c.event_type,
           MAX(t.tot1) AS n_first,
           MAX(t.tot2) AS n_second,
           MAX(t.nb) AS n_bins,
           ROUND(SUM(
               ((n1 + 1) / CAST(tot1 + nb AS DOUBLE)
                - (n2 + 1) / CAST(tot2 + nb AS DOUBLE))
               * ln(((n1 + 1) / CAST(tot1 + nb AS DOUBLE))
                    / ((n2 + 1) / CAST(tot2 + nb AS DOUBLE)))
           ), 6) AS psi
    FROM c JOIN t USING (event_type)
    GROUP BY c.event_type
    """,
    tags=("analytics", "drift"),
)
def q96_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift (training-data ops): per event
    type, PSI between the value distribution of the first and second half
    of the month — the standard snapshot-over-snapshot drift gate a data
    pipeline runs before shipping a new training mix (PSI < 0.1 stable,
    > 0.25 shifted).

    Plan: ONE corpus-sized hash-aggregate onto (event_type, bin) — both
    halves counted in the same pass via conditional sums — then the PSI
    fold runs on the bins-per-type frame (≤ 50 rows regardless of data
    size). This is the scale-safe histogram form of distribution
    comparison: an exact KS statistic would need a per-type global sort
    (the q83_exact-class trap); binned PSI needs one shuffle of pre-combined
    bin counts. Laplace +1 smoothing over the OBSERVED bin set keeps
    ln() finite for one-sided bins; bins empty in both halves contribute
    exactly 0 so the observed set loses nothing.
    """
    ev = load_table(spark, sf_dir, "events")
    b = ev.select(
        "event_type",
        # mask_non_finite: NaN/Inf otherwise saturate through floor()
        # into a REAL bin here while the oracle's BIGINT cast
        # hard-errors (round-12 review finding; the money() policy).
        F.least(
            F.floor(mask_non_finite("value") / PSI_BIN_WIDTH).cast("int"),
            F.lit(PSI_MAX_BIN),
        ).alias("bin"),
        F.when(F.col("ts") < F.lit(PSI_SPLIT).cast("timestamp_ntz"), 1)
        .otherwise(0)
        .alias("h1"),
    )
    c = b.groupBy("event_type", "bin").agg(
        F.sum("h1").alias("n1"), F.sum(1 - F.col("h1")).alias("n2")
    )
    # Per-type totals via a window over the BINS frame (<= types x bins
    # rows) — a groupBy-then-join-back would recompute c from the base
    # table on the build side, i.e. a second corpus scan (plan-tested).
    w = Window.partitionBy("event_type")
    c = c.select(
        "*",
        F.sum("n1").over(w).alias("tot1"),
        F.sum("n2").over(w).alias("tot2"),
        F.count("*").over(w).alias("nb"),
    )
    p = (F.col("n1") + 1) / (F.col("tot1") + F.col("nb")).cast("double")
    q = (F.col("n2") + 1) / (F.col("tot2") + F.col("nb")).cast("double")
    return (
        c.groupBy("event_type")
        .agg(
            F.max("tot1").alias("n_first"),
            F.max("tot2").alias("n_second"),
            F.max("nb").alias("n_bins"),
            F.round(F.sum((p - q) * F.log(p / q)), 6).alias("psi"),
        )
    )


# Column profile classes for q97 (lineitem). Profiling is schema-driven:
# numeric columns get min/max/avg, strings get lexicographic min/max,
# timestamps profile through epoch milliseconds.
_PROFILE_NUM = (
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
    "l_quantity", "l_extendedprice", "l_discount", "l_tax",
)
_PROFILE_STR = ("l_returnflag", "l_linestatus")
_PROFILE_TS = ("l_shipdate",)


def _profile_oracle() -> str:
    parts = []
    for c in _PROFILE_NUM + _PROFILE_STR + _PROFILE_TS:
        if c in _PROFILE_NUM:
            mn = f"ROUND(CAST(MIN({c}) AS DOUBLE), 6)"
            mx = f"ROUND(CAST(MAX({c}) AS DOUBLE), 6)"
            av = f"ROUND(AVG(CAST({c} AS DOUBLE)), 6)"
            ms, xs = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
        elif c in _PROFILE_STR:
            mn = mx = av = "CAST(NULL AS DOUBLE)"
            ms, xs = f"MIN({c})", f"MAX({c})"
        else:  # timestamp -> epoch MICROS / 1e6, matching the Spark side's
            # epoch_us_expr(...) / 1_000_000.0 grain exactly: an epoch_ms
            # truncation here would diverge in decimals 4-6 for any fixture
            # whose min/max carries sub-millisecond precision (round-12
            # advice; latent on day-grain l_shipdate, real on planted data).
            mn = f"ROUND(epoch_us(MIN({c})) / 1000000.0, 6)"
            mx = f"ROUND(epoch_us(MAX({c})) / 1000000.0, 6)"
            av = "CAST(NULL AS DOUBLE)"
            ms, xs = "CAST(NULL AS VARCHAR)", "CAST(NULL AS VARCHAR)"
        parts.append(
            f"SELECT '{c}' AS col_name, COUNT(*) AS n_rows,\n"
            f"       CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,\n"
            f"       COUNT(DISTINCT {c}) AS n_distinct,\n"
            f"       {mn} AS min_num, {mx} AS max_num, {av} AS avg_num,\n"
            f"       {ms} AS min_str, {xs} AS max_str\n"
            f"FROM lineitem"
        )
    return "\nUNION ALL\n".join(parts)


@register("q97_data_profile", oracle=_profile_oracle(), tags=("analytics", "profiling"))
def q97_data_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass column profiler (training-data ops): one row per
    lineitem column with null count, exact distinct count, and typed
    min/max/avg — the data-quality report every ingestion pipeline runs
    before a table is admitted to a training mix.

    Plan — the MELT design (three narrow jobs, no wide-key aggregate):

    1. STATS pass: one scan, one no-distinct aggregate computes n_rows,
       all null counts, and every numeric/ts min/max/avg. All buffers
       fixed-width -> pure HashAggregate, collapses map-side to 1 row.
    2. NUMERIC-DISTINCT pass: the 9 numeric/ts columns melt via
       posexplode into (col_id, value-as-double) — 9x|table| rows but
       only TWO machine-word columns — then groupBy(col_id, val) +
       count per col_id. This replaces Catalyst's multi-COUNT(DISTINCT)
       Expand plan, whose partial aggregate hashes a 12-column key of
       mostly-null slots: measured 8.2 s (Expand) vs the melt's ~2.5 s
       at sf0.1. Timestamps melt through unix_micros (exact: |micros| <
       2^53); BIGINT ids cast to double are exact below 2^53 (the
       documented id-range contract; raise to a decimal melt if ids
       ever exceed it).
    3. STRING-DISTINCT pass: the 2 string columns melt to
       (col_id, string) and collapse to their DISTINCT frame; the
       var-width MIN/MAX/count aggregates then run on vocabulary-sized
       input (min over distinct == min over all), so the SortAggregate
       fallback they force is irrelevant.

    The two distinct reports collapse to per-col_id maps and broadcast
    onto the stats row; inline(array(struct...)) unpivots driver-free —
    profile width is schema width, independent of data size. For wider
    tables where even the melt is too hot, swap pass 2 for
    approx_count_distinct inside pass 1 (one scan total, no melt).
    The oracle's per-column UNION ALL re-scan is fine for DuckDB at
    sf0.01 but exactly what the Spark side must not do at 100 TB.
    """
    # Round-13 (verdict item 2): the averages are now order-INSENSITIVE —
    # each is an exact DECIMAL sum (associative, so partial/merge order
    # is irrelevant) divided by the non-null count once in double space.
    # Integer-typed columns sum in DECIMAL(38,0) (exact); double-typed
    # measures sum in DECIMAL(38,12) (per-row representation error
    # <= 5e-13, which the average preserves — five orders of magnitude
    # inside the round-6 slack; the exact_avg policy in
    # functions/exprs.py). Round 12 had to PIN this pass to the
    # single-split scan order because avg() over plain doubles flipped
    # the 6th decimal when spread 32-way; at 100 TB (multi-split scans,
    # AQE re-partitioning) an order-pinned aggregate is not an option —
    # the decimal form is deterministic under ANY partitioning.
    # Spreading the stats pass locally was A/B-REJECTED (interleaved
    # single-JVM pairs, 0/8 wins, +0.20 s median): the repartition
    # ships all 11 profiled columns to parallelize an aggregate whose
    # map-side partials already collapse to one row — guide §2.3's
    # "aggregate before you shuffle" already wins, same verdict as
    # q87/q178 in round 12. At scale the multi-split scan parallelizes
    # the pass by itself; order-insensitivity is what makes that legal.
    # Round-12 optimization: the profile's loop-composed Column build
    # cost ~0.7 s of py4j round-trips per invocation; the SAME
    # expression trees as SQL strings (one selectExpr / F.expr call per
    # pass) plan identically and build in ~10 ms. CASE WHEN mirrors
    # F.when, `D`-suffixed literals are the double literals, and the
    # tz-free epoch helper already emits SQL text. See q142.
    li = load_table(spark, sf_dir, "lineitem")
    _INT_NUM = ("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber")
    aggs = ["count(*) AS n_rows"]
    for c in _PROFILE_NUM + _PROFILE_STR + _PROFILE_TS:
        aggs.append(
            f"CAST(sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS BIGINT)"
            f" AS null_{c}"
        )
        if c in _PROFILE_NUM:
            dec = "DECIMAL(38,0)" if c in _INT_NUM else "DECIMAL(38,12)"
            aggs += [
                f"round(CAST(min({c}) AS DOUBLE), 6) AS mn_{c}",
                f"round(CAST(max({c}) AS DOUBLE), 6) AS mx_{c}",
                f"round(CAST(sum(CAST({c} AS {dec})) AS DOUBLE)"
                f" / count({c}), 6) AS av_{c}",
            ]
        elif c in _PROFILE_TS:
            # tz-free epoch (functions/exprs helper), not
            # unix_millis(CAST .. AS TIMESTAMP): the NTZ->LTZ cast
            # shifts with the session zone if the pinned-UTC conf
            # is refused (round-11 review finding).
            aggs += [
                f"round({epoch_us_sql(f'min({c})')} / 1000000.0D, 6) AS mn_{c}",
                f"round({epoch_us_sql(f'max({c})')} / 1000000.0D, 6) AS mx_{c}",
            ]
    num_cols = _PROFILE_NUM + _PROFILE_TS
    melt_n = ", ".join(
        f"CAST(unix_micros(CAST({c} AS TIMESTAMP)) AS DOUBLE)"
        if c in _PROFILE_TS
        else f"CAST({c} AS DOUBLE)"
        for c in num_cols
    )
    # The two DISTINCT melt passes DO spread (guide §2.5): they only
    # count exact (cid, value) groups, so partial order is irrelevant —
    # unlike the stats pass above — and the 9x row fan-out is heavy
    # map work on a single-split scan (measured 1.91 -> 1.29 s for the
    # numeric pass at sf0.1).
    li_melt = spread_scan(
        spark, load_table(spark, sf_dir, "lineitem"), sf_dir, "lineitem", "l_orderkey"
    )
    melted_n = li_melt.select(
        F.posexplode(F.expr(f"array({melt_n})")).alias("cid", "val")
    ).where(F.col("val").isNotNull())
    dist_n = (
        melted_n.groupBy("cid", "val")
        .agg(F.lit(1))
        .groupBy("cid")
        .agg(F.count("*").alias("nd"))
        .groupBy()
        .agg(F.map_from_entries(F.collect_list(F.struct("cid", "nd"))).alias("dmap"))
    )
    melted_s = li_melt.select(
        F.posexplode(F.array(*[F.col(c) for c in _PROFILE_STR])).alias("cid", "sval")
    ).where(F.col("sval").isNotNull())
    dist_s = (
        melted_s.groupBy("cid", "sval")
        .agg(F.lit(1))
        .groupBy("cid")
        .agg(
            F.count("*").alias("nd"),
            F.min("sval").alias("smn"),
            F.max("sval").alias("smx"),
        )
        .groupBy()
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("cid", F.struct("nd", "smn", "smx").alias("v")))
            ).alias("smap")
        )
    )
    row = (
        li.selectExpr(*aggs)
        .crossJoin(F.broadcast(dist_n))
        .crossJoin(F.broadcast(dist_s))
    )
    null_d = "CAST(NULL AS DOUBLE)"
    null_s = "CAST(NULL AS STRING)"
    entries = []
    for c in _PROFILE_NUM + _PROFILE_STR + _PROFILE_TS:
        is_str = c in _PROFILE_STR
        if is_str:
            sv = f"smap[{_PROFILE_STR.index(c)}]"
            nd = f"CAST(coalesce({sv}.nd, 0) AS BIGINT)"
        else:
            nd = f"CAST(coalesce(dmap[{num_cols.index(c)}], 0) AS BIGINT)"
        entries.append(
            "struct("
            f"'{c}' AS col_name, "
            "n_rows AS n_rows, "
            f"null_{c} AS n_null, "
            f"{nd} AS n_distinct, "
            f"{null_d if is_str else f'mn_{c}'} AS min_num, "
            f"{null_d if is_str else f'mx_{c}'} AS max_num, "
            f"{f'av_{c}' if c in _PROFILE_NUM else null_d} AS avg_num, "
            f"{sv + '.smn' if is_str else null_s} AS min_str, "
            f"{sv + '.smx' if is_str else null_s} AS max_str)"
        )
    return row.selectExpr(f"inline(array({', '.join(entries)}))")


# Incremental rollup: the materialized BASE aggregate covers everything
# before the cutover instant; each refresh only aggregates the delta and
# merges. The cutover is part of the operator contract (like PSI_SPLIT).
ROLLUP_CUTOVER = "2024-01-20 00:00:00"

def rollup_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The materialized daily rollup of all events before
    ``ROLLUP_CUTOVER`` — localCheckpoint-materialized once per (session,
    sf_dir) and kept while the events part files are unchanged
    (``session_frame``), the stand-in for the persisted aggregate table
    an incremental pipeline maintains."""
    return session_frame(
        spark,
        ("rollup_base", sf_dir),
        lambda: _daily_partial(
            load_table(spark, sf_dir, "events").where(
                F.col("ts") < F.lit(ROLLUP_CUTOVER).cast("timestamp_ntz")
            )
        ).localCheckpoint(eager=True),
    )


def _daily_partial(ev: DataFrame) -> DataFrame:
    """Mergeable per-(event_type, day) partial aggregate: every statistic
    is algebraic (n, sum, min, max), so two partials merge exactly."""
    return ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(
        F.count("*").alias("n"),
        F.sum("value").alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
    )


@register(
    "q101_incremental_rollup",
    oracle="""
    SELECT event_type, CAST(ts AS DATE) AS day,
           COUNT(*) AS n,
           ROUND(SUM(value), 6) AS sum_value,
           ROUND(MIN(value), 6) AS min_value,
           ROUND(MAX(value), 6) AS max_value,
           ROUND(SUM(value) / COUNT(*), 6) AS avg_value
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
    """,
    tags=("analytics", "warehouse", "incremental"),
)
def q101_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: the daily per-type
    rollup refreshed by merging the MATERIALIZED base aggregate (all
    data before the cutover — :func:`rollup_base`, kept on the session
    and rebuilt when the events part files change) with a partial
    aggregate of only the delta rows —
    the pattern that turns a 100 TB nightly full refresh into a job
    sized by the day's arrivals.

    Plan: the delta scan carries a pushed ``ts >= cutover`` predicate
    (the base is never rescanned once materialized); both sides are
    mergeable algebraic partials (n/sum/min/max), re-aggregated after a
    union of rollup-sized frames; avg derives from merged sum/n at the
    end. The oracle is the full-recompute GROUP BY — green means
    incremental merge ≡ full refresh, the invariant incremental
    pipelines must prove. Exact cross-engine: sums are reordered by the
    merge, so ROUND(6) absorbs summation-order ulp drift.
    """
    # NULL-ts events fail BOTH half-open predicates (base keeps
    # ts < cutover), so without the isNull arm they would vanish from
    # the merge while the full-recompute oracle keeps them as a
    # (event_type, NULL day) group — they ride the delta side, which a
    # real pipeline reprocesses anyway (an undatable row can never be
    # proven already-rolled-up).
    delta = load_table(spark, sf_dir, "events").where(
        (F.col("ts") >= F.lit(ROLLUP_CUTOVER).cast("timestamp_ntz"))
        | F.col("ts").isNull()
    )
    merged = (
        rollup_base(spark, sf_dir)
        .unionByName(_daily_partial(delta))
        .groupBy("event_type", "day")
        .agg(
            F.sum("n").alias("n"),
            F.sum("sum_value").alias("sum_raw"),
            F.min("min_value").alias("min_raw"),
            F.max("max_value").alias("max_raw"),
        )
    )
    return merged.select(
        "event_type",
        "day",
        "n",
        F.round("sum_raw", 6).alias("sum_value"),
        F.round("min_raw", 6).alias("min_value"),
        F.round("max_raw", 6).alias("max_value"),
        F.round(F.col("sum_raw") / F.col("n"), 6).alias("avg_value"),
    )


_CORR_COLS = (
    "l_quantity", "l_extendedprice", "l_discount", "l_tax",
    "l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
)


def _corr_matrix_oracle() -> str:
    parts = []
    for i, a in enumerate(_CORR_COLS):
        for b in _CORR_COLS[i + 1:]:
            parts.append(
                f"SELECT '{a}' AS col_a, '{b}' AS col_b, COUNT(*) AS n,\n"
                f"       ROUND(CORR({a}, {b}), 6) AS corr\nFROM lineitem"
            )
    return "\nUNION ALL\n".join(parts)


@register("q103_corr_matrix", oracle=_corr_matrix_oracle(), tags=("analytics", "profiling"))
def q103_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over the numeric lineitem
    columns (the feature-redundancy screen a training pipeline runs
    before assembling a feature set; q72's single-pair statistics,
    widened to all k*(k-1)/2 pairs).

    Plan: ONE aggregate job computes every pair — k stddev states plus
    k(k-1)/2 covar states ride the same partial/final hash-aggregate
    pass, each using Spark's numerically-stable single-pass co-moment
    update (matching DuckDB's, so ROUND(6) parity holds despite
    1e14-scale raw moments). The 137-field partial state is wider than
    codegen's default 100-field cutoff, which silently demoted the
    whole pass to interpreted aggregation (6.7x slower, measured);
    session.RUNTIME_CONFS raises spark.sql.codegen.maxFields so this
    single-scan form stays inside WholeStageCodegen — the round-10
    probe showed that beats both a 2x14-pair split (two scans) and an
    Arrow co-moment pass (BASELINE.md round-10 section). corr is assembled as
    try_divide(covar_samp, sa*sb) rather than F.corr because under
    Spark 4's ANSI mode corr THROWS on a zero-variance column where
    DuckDB (and this form) yield NULL. Null-free contract: each stddev
    is computed over its own column's non-null rows while CORR proper
    uses pairwise-complete rows — the decomposition is exactly CORR
    only because lineitem's numeric columns are null-free (q97 profiles
    every one as n_null=0). Pointing this operator at nullable columns
    requires pairwise stddev states (k(k-1)/2 extra aggs) instead. The oracle's per-pair UNION ALL
    re-scans 28 times — fine for DuckDB at sf0.01, exactly what one
    pass avoids at 100 TB. The 1-row result unpivots driver-free via
    inline(array(struct...)).
    """
    # Round-12 optimization: the loop-composed Column build of the 37
    # aggregates + 28 ratio/struct columns cost ~0.9 s of py4j
    # round-trips per invocation (more than the Spark execution
    # itself); the SAME expression trees as three selectExpr calls
    # plan identically and build in ~10 ms. See q142 for the pattern.
    li = load_table(spark, sf_dir, "lineitem")
    pairs = [
        (a, b)
        for i, a in enumerate(_CORR_COLS)
        for b in _CORR_COLS[i + 1:]
    ]
    aggs = ["count(*) AS n"] + [
        f"stddev_samp({c}) AS s_{c}" for c in _CORR_COLS
    ] + [
        f"covar_samp({a}, {b}) AS cv_{i}" for i, (a, b) in enumerate(pairs)
    ]
    row = li.selectExpr(*aggs).selectExpr(
        "*",
        *[
            f"round(try_divide(cv_{i}, s_{a} * s_{b}), 6) AS c_{i}"
            for i, (a, b) in enumerate(pairs)
        ],
    )
    entries = ", ".join(
        f"struct('{a}' AS col_a, '{b}' AS col_b, n AS n, c_{i} AS corr)"
        for i, (a, b) in enumerate(pairs)
    )
    return row.selectExpr(f"inline(array({entries}))")


# (child table, fk column, parent table, parent key) — the declared
# referential contract of the data model (FIXTURES.md).
_FK_RELATIONS = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("events", "user_id", "customer", "c_custkey"),
)



def _melt_tables(spark: SparkSession, sf_dir: str, by_table: dict[str, list]) -> DataFrame:
    """Single-pass multi-column melt shared by q104 and q120: each table
    is scanned ONCE, its per-table struct entries fan out row-locally
    via inline(array(...)), rows with a NULL key column ``k`` drop, and
    the tables union. Entries are SQL ``struct(...)`` strings (round-12:
    the loop-composed Column form cost hundreds of py4j round-trips per
    build — see q142); every entry must alias its key as ``k``.

    The two FACT scans (lineitem, orders) are spread (guide §2.5): the
    melt fan-out is per-row map work that a single-split scan would run
    on one core; dims stay unspread — an exchange on a few-KB table
    costs more than it parallelizes."""
    fact_key = {"lineitem": "l_orderkey", "orders": "o_orderkey"}
    return reduce(
        DataFrame.unionByName,
        [
            (
                spread_scan(
                    spark,
                    load_table(spark, sf_dir, table),
                    sf_dir,
                    table,
                    fact_key[table],
                )
                if table in fact_key
                else load_table(spark, sf_dir, table)
            )
            .select(F.expr(f"inline(array({', '.join(entries)}))"))
            .where(F.col("k").isNotNull())
            for table, entries in sorted(by_table.items())
        ],
    )


def _fk_audit_oracle() -> str:
    parts = []
    for child, fk, parent, pk in _FK_RELATIONS:
        parts.append(
            f"SELECT '{child}' AS child_table, '{fk}' AS fk_col,\n"
            f"       '{parent}' AS parent_table,\n"
            f"       COUNT(*) AS n_child,\n"
            f"       CAST(COALESCE(SUM(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_orphan,\n"
            f"       ROUND(COALESCE(SUM(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END), 0)\n"
            f"             / CAST(NULLIF(COUNT(*), 0) AS DOUBLE), 6) AS orphan_rate\n"
            f"FROM (SELECT {fk} FROM {child} WHERE {fk} IS NOT NULL) c\n"
            f"LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p ON c.{fk} = p.{pk}"
        )
    return "\nUNION ALL\n".join(parts)


@register("q104_fk_audit", oracle=_fk_audit_oracle(), tags=("analytics", "profiling", "quality"))
def q104_fk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit: one row per declared FK relation
    with the orphan count and rate (child keys that resolve to no
    parent) — the cross-table data-quality gate that runs beside q97's
    per-column profile before a snapshot is admitted; non-zero
    orphan_rate on a relation flags a broken ingest.

    Plan (round-6 single-pass redesign, was 8 independent scan+join
    passes): each CHILD table is scanned exactly once — its FK columns
    melt row-locally via inline(array(struct...)) to
    (parent, key, relation_id) rows — and each PARENT contributes its
    pruned key column tagged is_parent=1. The union flows through ONE
    hash aggregate on (parent, key) computing the parent-hit flag plus
    a conditional count per declared relation (partial aggregation
    collapses duplicate keys map-side before the only row-sized
    shuffle), then a global fold sums each relation's child/orphan
    totals and inline() emits the 8 audit rows. Zero joins, two
    shuffles total (one row-sized, one distinct-key-sized) instead of
    eight of each; at 100 TB that is one pass over the fact tables
    rather than one per FK. An empty child yields n_child=0 rows, never
    a missing relation, exactly like the oracle's COUNT(*).
    """
    rels = list(enumerate(_FK_RELATIONS))
    # Parents keyed by a small INT id: the (parent, key) shuffle key is
    # then two integers, not a string + long — narrower shuffle rows and
    # cheaper hashing at any scale; names reappear only in the final
    # 8-row report.
    parent_ids = {p: j for j, p in enumerate(sorted({r[2] for r in _FK_RELATIONS}))}
    # One melt entry list per DISTINCT table: a table that is both a
    # child and a parent (orders, customer, supplier, nation) emits its
    # FK structs and its parent-key struct from the SAME scan.
    by_table: dict[str, list] = {}
    for i, (child, fk, parent, _pk) in rels:
        by_table.setdefault(child, []).append(
            f"struct({parent_ids[parent]} AS p, CAST({fk} AS BIGINT) AS k,"
            f" {i} AS rel, 0 AS is_parent)"
        )
    for parent, pk in {(p, k) for _, (_, _, p, k) in rels}:
        by_table.setdefault(parent, []).append(
            f"struct({parent_ids[parent]} AS p, CAST({pk} AS BIGINT) AS k,"
            " -1 AS rel, 1 AS is_parent)"
        )

    per_key = (
        _melt_tables(spark, sf_dir, by_table)
        .groupBy("p", "k")
        .agg(
            F.expr("max(is_parent)").alias("hit"),
            *[
                F.expr(
                    f"sum(CASE WHEN rel = {i} THEN 1 ELSE 0 END)"
                ).alias(f"cnt_{i}")
                for i, _ in rels
            ],
        )
    )
    totals = per_key.selectExpr(
        *[f"coalesce(sum(cnt_{i}), 0) AS n_child_{i}" for i, _ in rels],
        *[
            f"coalesce(sum(CASE WHEN hit = 0 THEN cnt_{i} ELSE 0 END), 0)"
            f" AS n_orphan_{i}"
            for i, _ in rels
        ],
    )
    report = ", ".join(
        f"struct('{child}' AS child_table, '{fk}' AS fk_col,"
        f" '{parent}' AS parent_table, n_child_{i} AS n_child,"
        f" n_orphan_{i} AS n_orphan,"
        f" round(try_divide(n_orphan_{i},"
        f" CAST(nullif(n_child_{i}, 0) AS DOUBLE)), 6) AS orphan_rate)"
        for i, (child, fk, parent, _pk) in rels
    )
    return totals.selectExpr(f"inline(array({report}))")


@register(
    "q105_cohort_retention",
    oracle="""
    WITH uw AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
        FROM events
    ),
    fw AS (SELECT user_id, MIN(wk) AS cohort_wk FROM uw GROUP BY user_id),
    act AS (
        SELECT fw.cohort_wk,
               CAST((uw.wk - fw.cohort_wk) / 7 AS BIGINT) AS week_offset,
               COUNT(*) AS n_active
        FROM uw JOIN fw USING (user_id)
        GROUP BY 1, 2
    )
    SELECT cohort_wk, week_offset, n_active,
           MAX(n_active) FILTER (WHERE week_offset = 0)
               OVER (PARTITION BY cohort_wk) AS cohort_size,
           ROUND(n_active / CAST(MAX(n_active) FILTER (WHERE week_offset = 0)
               OVER (PARTITION BY cohort_wk) AS DOUBLE), 6) AS retention
    FROM act
    """,
    tags=("analytics", "product"),
)
def q105_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users grouped by first-active
    week, with the share of each cohort still active N weeks later —
    the canonical product-analytics report (and the engagement-decay
    signal a data pipeline uses to weight recent snapshots).

    Plan: ONE corpus-sized shuffle — each user's distinct week SET is
    collected in a single user_id hash-aggregate (map-side partial
    collect_set, so the exchange carries per-user week sets, not
    events), after which first week (array_min) and the per-week
    offsets are row-local expressions. A (user, week) DISTINCT followed
    by a min-over-user window was measurably worse: the distinct hashes
    on (user, week) so the window forces a second, re-keyed exchange of
    the user-week frame (plan-tested to stay at ONE user_id exchange).
    The cohort x offset aggregate and the cohort-size window then run
    on activity-matrix-sized frames (weeks x cohorts, independent of
    corpus size).
    """
    ev = load_table(spark, sf_dir, "events")
    per_user = (
        ev.select(
            "user_id", F.date_trunc("week", "ts").cast("date").alias("wk")
        )
        # NULL user_id is OUT — the oracle's JOIN ... USING (user_id)
        # never matches it (round-11 review finding).
        .where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        # collect_set silently DROPS NULL weeks, but the oracle's
        # DISTINCT user-week frame keeps them (a NULL-ts event = a
        # NULL-week_offset retention row; an all-NULL user = a NULL
        # cohort) — carry them through an explicit has-null flag so the
        # single-exchange plan shape survives (round-11 review finding).
        .agg(
            F.collect_set("wk").alias("wks"),
            F.max(F.col("wk").isNull().cast("int")).alias("has_null_wk"),
        )
        .select(
            F.concat(
                "wks",
                F.when(
                    F.col("has_null_wk") == 1,
                    F.array(F.lit(None).cast("date")),
                ).otherwise(F.array().cast("array<date>")),
            ).alias("wks")
        )
        # array_min skips NULL elements, so the cohort stays the first
        # REAL week (NULL only for an all-NULL user), like the oracle's
        # MIN(wk).
        .select(F.array_min("wks").alias("cohort_wk"), F.explode("wks").alias("wk"))
    )
    act = per_user.groupBy(
        "cohort_wk",
        (F.datediff("wk", F.col("cohort_wk")) / 7)
        .cast("bigint")
        .alias("week_offset"),
    ).agg(F.count("*").alias("n_active"))
    wc = Window.partitionBy("cohort_wk")
    size = F.max(F.when(F.col("week_offset") == 0, F.col("n_active"))).over(wc)
    return act.select(
        "cohort_wk",
        "week_offset",
        "n_active",
        size.alias("cohort_size"),
        F.round(F.col("n_active") / size.cast("double"), 6).alias("retention"),
    )


# Trailing window for the rolling-active pair (q107 exact, q115 sketch):
# ONE literal, shared by both fan-outs, so the accuracy-contract test
# that pins the sketch against the exact twin can never silently compare
# two different window lengths (round-10 review finding). The q107
# oracle's `BETWEEN day - 6 AND day` mirrors it.
_TRAILING_WINDOW_DAYS = 7


def _trailing_day_fanout(day_rows: DataFrame) -> DataFrame:
    """Fan each day-keyed row (column ``d``) to the trailing days it
    stays visible for — bounded replication, the scale-safe exact form
    of a sliding distinct/merge (see q107's plan docstring)."""
    return day_rows.select(
        "*",
        F.explode(
            F.sequence(F.col("d"), F.date_add("d", _TRAILING_WINDOW_DAYS - 1))
        ).alias("day"),
    )


def _day_calendar(day_rows: DataFrame) -> DataFrame:
    """Dense calendar frame spanning min..max of ``d`` — days with no
    activity still get a report row."""
    return day_rows.agg(F.min("d").alias("lo"), F.max("d").alias("hi")).select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )


@register(
    "q107_rolling_active_users",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    cal AS (
        SELECT unnest(generate_series(MIN(d), MAX(d), INTERVAL 1 DAY)) AS day
        FROM ud
    )
    SELECT CAST(c.day AS DATE) AS day,
           (SELECT COUNT(DISTINCT u.user_id) FROM ud u
            WHERE u.d = CAST(c.day AS DATE)) AS dau,
           (SELECT COUNT(DISTINCT u.user_id) FROM ud u
            WHERE u.d BETWEEN CAST(c.day AS DATE) - 6 AND CAST(c.day AS DATE))
               AS wau,
           ROUND((SELECT COUNT(DISTINCT u.user_id) FROM ud u
                  WHERE u.d = CAST(c.day AS DATE))
                 / CAST((SELECT COUNT(DISTINCT u.user_id) FROM ud u
                         WHERE u.d BETWEEN CAST(c.day AS DATE) - 6
                                       AND CAST(c.day AS DATE)) AS DOUBLE), 6)
               AS stickiness
    FROM cal c
    """,
    tags=("analytics", "product"),
)
def q107_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users, trailing-7-day active users, and stickiness
    (DAU/WAU) per calendar day — the engagement dashboard's headline
    row, and the denominator q105's cohorts feed.

    Plan: the corpus collapses once to DISTINCT (user, day); each such
    row then fans out to the <= 7 trailing days it keeps the user
    active for (bounded replication — the scale-safe exact form of a
    sliding distinct count, vs a per-day window over raw events), and
    one aggregate counts distinct users per (day, is_today). Days with
    no activity in range still appear via the calendar frame. A
    rolling-distinct can't be computed from daily distinct counts
    (distinct doesn't sum), which is exactly why the fan-out form
    exists; for very long windows swap the explode for a per-day HLL
    sketch merge (approx_count_distinct over the same fan-out).
    """
    ev = load_table(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    fan = _trailing_day_fanout(ud)
    per_day = fan.groupBy("day").agg(
        F.countDistinct(F.when(F.col("d") == F.col("day"), F.col("user_id"))).alias("dau"),
        F.countDistinct("user_id").alias("wau"),
    )
    cal = _day_calendar(ud)
    return (
        cal.join(per_day, "day", "left")
        .select(
            "day",
            F.coalesce("dau", F.lit(0)).alias("dau"),
            F.coalesce("wau", F.lit(0)).alias("wau"),
            # try_divide + nullif, not plain /: a calendar day with zero
            # trailing-7d activity would hit 0/0 -> NaN under IEEE
            # division where DuckDB's SQL division yields NULL (same
            # ANSI/cross-engine edge q104/q108/q110 already guard).
            F.round(
                F.try_divide(
                    F.col("dau"),
                    F.nullif(F.col("wau"), F.lit(0)).cast("double"),
                ),
                6,
            ).alias("stickiness"),
        )
    )


@register(
    "q111_fulfillment_lag",
    oracle="""
    WITH last_ship AS (
        SELECT l_orderkey, MAX(l_shipdate) AS last_ship
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT o.o_orderpriority,
           COUNT(*) AS n_orders,
           ROUND(AVG(date_diff('day', CAST(o.o_orderdate AS DATE),
                               CAST(s.last_ship AS DATE))), 6) AS avg_days,
           ROUND(quantile_cont(date_diff('day', CAST(o.o_orderdate AS DATE),
                                         CAST(s.last_ship AS DATE)), 0.5), 6)
               AS p50_days,
           ROUND(quantile_cont(date_diff('day', CAST(o.o_orderdate AS DATE),
                                         CAST(s.last_ship AS DATE)), 0.9), 6)
               AS p90_days
    FROM orders o JOIN last_ship s ON o.o_orderkey = s.l_orderkey
    GROUP BY o.o_orderpriority
    """,
    tags=("analytics", "O9", "warehouse"),
)
def q111_fulfillment_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-fulfillment lag by priority: days from order date to the
    LAST line-item ship date, with mean/p50/p90 per priority class —
    the SLA report for the dataset's biggest join (orders x lineitem).

    Plan: lineitem PRE-AGGREGATES to one (orderkey, last_ship) row
    BEFORE the join — the join's big side collapses from line-items to
    orders (4x smaller here, wider in real data), and the max folds
    map-side in the scan's partitioning; then one equi-join on the key
    (AQE picks SMJ/broadcast by size) and a 5-group aggregate. Joining
    raw lineitem first and aggregating after would shuffle every line
    item through the join — the order-of-operations rule this query
    exists to demonstrate. Exact per-priority percentiles sort each
    group inside one aggregate buffer; for heavy-tailed real data swap
    approx_percentile (same call shape).
    """
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    last_ship = li.groupBy("l_orderkey").agg(F.max("l_shipdate").alias("last_ship"))
    lag = (
        orders.join(last_ship, orders.o_orderkey == last_ship.l_orderkey)
        .select(
            "o_orderpriority",
            F.datediff(
                F.to_date("last_ship"), F.to_date("o_orderdate")
            ).alias("days"),
        )
    )
    return lag.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(F.avg("days"), 6).alias("avg_days"),
        F.expr("ROUND(percentile(days, 0.5D), 6)").alias("p50_days"),
        F.expr("ROUND(percentile(days, 0.9D), 6)").alias("p90_days"),
    )


@register(
    "q114_snapshot_diff",
    oracle="""
    WITH new_snap AS (
        SELECT o_orderkey, o_custkey,
               CASE WHEN o_orderkey % 10 = 0 THEN 'R' ELSE o_orderstatus END
                   AS o_orderstatus,
               o_totalprice
        FROM orders
        WHERE o_orderkey % 17 != 3
        UNION ALL
        SELECT o_orderkey + 10000000, o_custkey, 'N', o_totalprice
        FROM orders
        WHERE o_orderkey % 13 = 5
    ),
    base AS (
        SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders
    ),
    joined AS (
        SELECT CASE
                   WHEN b.o_orderkey IS NULL THEN 'added'
                   WHEN n.o_orderkey IS NULL THEN 'removed'
                   WHEN b.o_custkey = n.o_custkey
                        AND b.o_orderstatus = n.o_orderstatus
                        AND b.o_totalprice = n.o_totalprice THEN 'unchanged'
                   ELSE 'changed'
               END AS kind
        FROM base b
        FULL OUTER JOIN new_snap n ON b.o_orderkey = n.o_orderkey
    )
    SELECT kind, COUNT(*) AS n_rows
    FROM joined GROUP BY kind
    """,
    tags=("analytics", "cdc", "quality"),
)
def q114_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff / reconciliation: classify every key across two
    dataset versions as added / removed / changed / unchanged — the
    acceptance gate a warehouse runs between an old and a new snapshot
    before swapping them (and the audit q61's MERGE feeds). The "new"
    snapshot is synthesized deterministically from orders (every 10th
    re-statused, every 17th≡3 dropped, every 13th≡5 re-keyed as an
    insert), so both engines diff identical inputs.

    Plan: ONE full-outer equi-join on the key (both sides column-pruned
    to the compared columns), kind classified row-locally, then a tiny
    hash aggregate — at 100 TB this is the canonical partition-pruned
    reconciliation join: both snapshots bucketed by key diff co-located,
    and AQE handles the skewed-key case. No row ever leaves as a full
    payload; changed-row *details* are the same join minus the final
    aggregate.
    """
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"
    )
    new_snap = (
        base.where(F.col("o_orderkey") % 17 != 3)
        .withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") % 10 == 0, "R").otherwise(
                F.col("o_orderstatus")
            ),
        )
        .unionByName(
            base.where(F.col("o_orderkey") % 13 == 5).select(
                (F.col("o_orderkey") + 10_000_000).alias("o_orderkey"),
                "o_custkey",
                F.lit("N").alias("o_orderstatus"),
                "o_totalprice",
            )
        )
    )
    b = base.alias("b")
    n = new_snap.alias("n")
    joined = b.join(n, F.col("b.o_orderkey") == F.col("n.o_orderkey"), "full_outer")
    kind = (
        F.when(F.col("b.o_orderkey").isNull(), "added")
        .when(F.col("n.o_orderkey").isNull(), "removed")
        .when(
            (F.col("b.o_custkey") == F.col("n.o_custkey"))
            & (F.col("b.o_orderstatus") == F.col("n.o_orderstatus"))
            & (F.col("b.o_totalprice") == F.col("n.o_totalprice")),
            "unchanged",
        )
        .otherwise("changed")
    )
    return joined.select(kind.alias("kind")).groupBy("kind").agg(
        F.count("*").alias("n_rows")
    )


@register(
    "q115_rolling_active_sketch",
    # No oracle by design: Apache DataSketches HLL state is not
    # reproducible in DuckDB (same class as q10_distinct_users_approx /
    # q83_feature_bins sketch); the accuracy contract is pinned against
    # exact q107 in tests instead.
    oracle=None,
    tags=("analytics", "product", "sketch", "scale"),
)
def q115_rolling_active_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q107's sketch twin — rolling 7-day active users from MERGEABLE
    per-day HLL sketches (Apache DataSketches, built into Spark) instead
    of fanning out user-day rows.

    The scale contract this changes: q107's exact form replicates every
    DISTINCT (user, day) row up to 7x before the final distinct-count —
    shuffle volume scales with users x days x 7. Here the corpus
    collapses ONCE per day into a fixed-size HLL sketch (one
    hash-aggregate over events), and the trailing-window union runs on
    the DAY-LEVEL frame: 365 sketch rows per year fan to <= 7 trailing
    days and hll_union_agg merges them — shuffle volume is days x
    sketch-bytes, independent of user count. At 100 TB that is the
    difference between re-shuffling the user population per window and
    a rollup-sized job; the same pattern extends to 30/90-day windows
    by changing one literal. Estimates: DAU and WAU are both HLL
    estimates (lgK=14 -> ~0.8% relative error, exact far beyond this
    fixture's cardinalities); stickiness divides the two with the same
    try_divide guard as q107.
    """
    ev = load_table(spark, sf_dir, "events")
    daily = ev.select(F.to_date("ts").alias("d"), "user_id").groupBy("d").agg(
        F.hll_sketch_agg("user_id", F.lit(14)).alias("sk")
    )
    fan = _trailing_day_fanout(daily)
    per_day = fan.groupBy("day").agg(
        F.hll_sketch_estimate(
            F.hll_union_agg(F.when(F.col("d") == F.col("day"), F.col("sk")), F.lit(True))
        ).alias("dau_est"),
        F.hll_sketch_estimate(F.hll_union_agg("sk", F.lit(True))).alias("wau_est"),
    )
    cal = _day_calendar(daily)
    return (
        cal.join(per_day, "day", "left")
        .select(
            "day",
            F.coalesce("dau_est", F.lit(0)).cast("long").alias("dau"),
            F.coalesce("wau_est", F.lit(0)).cast("long").alias("wau"),
            # COALESCE the numerator: a quiet day with trailing activity
            # has dau_est NULL (no d==day sketch) but a real wau — the
            # exact twin q107 reports stickiness 0.0 there, and a bare
            # NULL/wau would diverge from it (round-6 review finding).
            # Fully dead days keep NULL via the wau_est nullif, as q107
            # does.
            F.round(
                F.try_divide(
                    F.coalesce(F.col("dau_est"), F.lit(0.0)),
                    F.nullif(F.col("wau_est"), F.lit(0)).cast("double"),
                ),
                6,
            ).alias("stickiness"),
        )
    )


def _skew_audit_oracle() -> str:
    parts = []
    for child, fk, _parent, _pk in _FK_RELATIONS:
        parts.append(
            f"SELECT '{child}' AS child_table, '{fk}' AS key_col,\n"
            f"       CAST(SUM(c) AS BIGINT) AS n_rows,\n"
            f"       COUNT(*) AS n_keys,\n"
            f"       CAST(MAX(c) AS BIGINT) AS max_per_key,\n"
            f"       ROUND(quantile_cont(c, 0.99), 6) AS p99_per_key,\n"
            f"       ROUND(MAX(c) / CAST(SUM(c) AS DOUBLE), 6) AS top_share\n"
            f"FROM (SELECT {fk}, COUNT(*) AS c FROM {child}\n"
            f"      WHERE {fk} IS NOT NULL GROUP BY {fk}) g"
        )
    return "\nUNION ALL\n".join(parts)


@register("q120_skew_audit", oracle=_skew_audit_oracle(), tags=("analytics", "profiling", "skew"))
def q120_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew audit: rows-per-key distribution (key count, max,
    p99, top-key share) for every declared FK/join key — the report an
    operator reads BEFORE pointing a 100 TB join at a key (q104 answers
    "is the key valid", this answers "is the key safe to shuffle on";
    a top_share near 1 says salt it — `skew.salted_join` — or broadcast
    the other side).

    Plan: q104's single-pass melt reused for a different aggregate —
    each child table scanned once with its FK columns melted
    row-locally, ONE hash aggregate to (table, col, key) counts (the
    row-sized shuffle, map-side combined), then a per-(table, col)
    aggregate over key counts with an exact percentile. The percentile
    makes the second aggregate a sort-based one over each key-count
    group; groups are per-key-count-sized (already collapsed), which is
    the cheap place to pay for exactness — at 100 TB swap
    percentile_approx in if even that is too hot.
    """
    rels = list(_FK_RELATIONS)
    by_table: dict[str, list] = {}
    for child, fk, _parent, _pk in rels:
        by_table.setdefault(child, []).append(
            f"struct('{child}' AS child_table, '{fk}' AS key_col,"
            f" CAST({fk} AS BIGINT) AS k)"
        )
    per_key = (
        _melt_tables(spark, sf_dir, by_table)
        .groupBy("child_table", "key_col", "k")
        .agg(F.count("*").alias("c"))
    )
    return per_key.groupBy("child_table", "key_col").agg(
        F.sum("c").alias("n_rows"),
        F.count("*").alias("n_keys"),
        F.max("c").alias("max_per_key"),
        F.round(F.expr("percentile(c, 0.99)"), 6).alias("p99_per_key"),
        F.round(F.max("c") / F.sum("c").cast("double"), 6).alias("top_share"),
    )


# MAD outlier gate: the conventional 3-sigma-equivalent cut, with 1.4826
# the consistency constant making MAD estimate sigma under normality.
_MAD_K = 3.0 * 1.4826


@register(
    "q124_mad_outliers",
    oracle=f"""
    WITH med AS (
        SELECT event_type, quantile_cont(value, 0.5) AS med
        FROM events
        GROUP BY 1
    ),
    dev AS (
        SELECT e.event_type, e.value, ABS(e.value - m.med) AS abs_dev, m.med
        FROM events e JOIN med m ON e.event_type = m.event_type
    ),
    mad AS (
        SELECT event_type, quantile_cont(abs_dev, 0.5) AS mad
        FROM dev
        GROUP BY 1
    )
    SELECT d.event_type,
           COUNT(*) AS n_events,
           ROUND(d.med, 6) AS median_value,
           ROUND(m.mad, 6) AS mad,
           CAST(SUM(CASE WHEN d.abs_dev > {_MAD_K} * m.mad THEN 1 ELSE 0 END)
                AS BIGINT) AS n_outliers,
           ROUND(SUM(CASE WHEN d.abs_dev > {_MAD_K} * m.mad THEN 1 ELSE 0 END)
                 / CAST(COUNT(*) AS DOUBLE), 6) AS outlier_rate
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    GROUP BY d.event_type, d.med, m.mad
    """,
    tags=("analytics", "robust-stats"),
)
def q124_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier detection via median/MAD: per event type, flag
    values whose absolute deviation from the median exceeds
    3 x 1.4826 x MAD — the standard robust 3-sigma gate, immune to the
    outliers themselves (unlike q66's mean/stddev z-score, which heavy
    tails inflate until they mask their own anomalies).

    Plan shape: two exact-percentile aggregates on the low-cardinality
    event_type key (sort-based within each of ~5 groups), each joined
    back as a broadcast (rows = n_types); the final pass is one hash
    aggregate. Three shuffles total, all keyed on event_type — AQE
    coalesces the tiny ones. At 100 TB swap ``percentile`` for
    ``approx_percentile`` (q77's trade) if the per-type sort dominates;
    the gate constant is then approximate too, which a monitoring use
    case tolerates. Both engines interpolate the even-n median with the
    same lo+(hi-lo)/2 formula, and the deviation/threshold arithmetic
    is identical expression trees over identical doubles, so the
    boundary comparison agrees bit-for-bit.
    """
    events = load_table(spark, sf_dir, "events").select("event_type", "value")
    med = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = events.join(F.broadcast(med), "event_type").select(
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("abs_dev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(abs_dev, 0.5)").alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "event_type")
    is_out = F.when(F.col("abs_dev") > _MAD_K * F.col("mad"), 1).otherwise(0)
    return (
        flagged.groupBy("event_type", "med", "mad")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(is_out).cast("long").alias("n_outliers"),
        )
        .select(
            "event_type",
            "n_events",
            F.round("med", 6).alias("median_value"),
            F.round("mad", 6).alias("mad"),
            "n_outliers",
            F.round(
                F.col("n_outliers") / F.col("n_events").cast("double"), 6
            ).alias("outlier_rate"),
        )
    )


@register(
    "q132_user_lifecycle",
    oracle="""
    WITH act AS (
        SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
        FROM events
    ),
    bounds AS (SELECT MAX(wk) AS max_wk FROM act),
    seq AS (
        SELECT user_id, wk,
               LAG(wk) OVER (PARTITION BY user_id ORDER BY wk) AS prev_wk,
               LEAD(wk) OVER (PARTITION BY user_id ORDER BY wk) AS next_wk
        FROM act
    ),
    classified AS (
        SELECT wk,
               CASE WHEN prev_wk IS NULL THEN 'new'
                    WHEN prev_wk = wk - 7 THEN 'retained'
                    ELSE 'resurrected' END AS cls
        FROM seq
        UNION ALL
        SELECT wk + 7 AS wk, 'churned' AS cls
        FROM seq CROSS JOIN bounds
        WHERE (next_wk IS NULL OR next_wk > wk + 7) AND wk + 7 <= max_wk
    )
    SELECT wk,
           CAST(SUM(CASE WHEN cls = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
           CAST(SUM(CASE WHEN cls = 'retained' THEN 1 ELSE 0 END) AS BIGINT) AS n_retained,
           CAST(SUM(CASE WHEN cls = 'resurrected' THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
           CAST(SUM(CASE WHEN cls = 'churned' THEN 1 ELSE 0 END) AS BIGINT) AS n_churned
    FROM classified
    GROUP BY wk
    """,
    tags=("analytics", "growth-accounting"),
)
def q132_user_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting: every active (user, week) classified as
    new (first-ever week), retained (also active the prior week), or
    resurrected (returning after a gap), plus churned counts attributed
    to the week AFTER a user's last activity in a run (suppressed past
    the data's horizon so the final week isn't all 'churn'). The
    standard DAU/WAU lifecycle decomposition (new + retained +
    resurrected - churned = WAU delta) behind every growth dashboard.

    Plan: the fact table collapses to the DISTINCT (user, week)
    activity frame first (one shuffle — the only full-data exchange),
    lag/lead run per-user over that tiny frame, and the churn branch is
    a second projection of the SAME windowed frame (no extra scan);
    the horizon bound cross-attaches a 1-row max. At 100 TB the
    activity frame is |users| x |weeks| — the rollup-shrink-then-window
    shape of q127/q128.
    """
    events = load_table(spark, sf_dir, "events").select("user_id", "ts")
    act = events.select(
        "user_id", F.date_trunc("week", "ts").cast("date").alias("wk")
    ).distinct()
    bounds = act.agg(F.max("wk").alias("max_wk"))
    # asc_nulls_last: a NULL week (NULL-ts event) must sort AFTER the
    # real weeks like DuckDB's default, or its lag/lead neighbors — and
    # with them the new/retained/resurrected classes — differ between
    # engines (round-11 review finding).
    w = Window.partitionBy("user_id").orderBy(F.asc_nulls_last("wk"))
    seq = act.select(
        "user_id",
        "wk",
        F.lag("wk").over(w).alias("prev_wk"),
        F.lead("wk").over(w).alias("next_wk"),
    )
    classified = seq.select(
        "wk",
        F.when(F.col("prev_wk").isNull(), "new")
        .when(F.col("prev_wk") == F.date_sub("wk", 7), "retained")
        .otherwise("resurrected")
        .alias("cls"),
    ).unionByName(
        seq.crossJoin(F.broadcast(bounds))
        .where(
            (F.col("next_wk").isNull() | (F.col("next_wk") > F.date_add("wk", 7)))
            & (F.date_add("wk", 7) <= F.col("max_wk"))
        )
        .select(F.date_add("wk", 7).alias("wk"), F.lit("churned").alias("cls"))
    )
    def n_cls(c):
        return F.sum(F.when(F.col("cls") == c, 1).otherwise(0)).cast("long")
    return classified.groupBy("wk").agg(
        n_cls("new").alias("n_new"),
        n_cls("retained").alias("n_retained"),
        n_cls("resurrected").alias("n_resurrected"),
        n_cls("churned").alias("n_churned"),
    )


# OLS design: y = l_extendedprice regressed on x1 = l_quantity,
# x2 = l_discount. All three are 2-decimal measures, so every raw
# moment (sums of x, x^2, x*y, ...) is computed EXACTLY in DECIMAL —
# decimal(14,2) operands keep every product within precision 38 with
# no scale truncation — and only the closed-form solve (Cramer on the
# centered 2x2 normal equations) runs in doubles, written as the SAME
# expression tree in both engines so the IEEE operations match
# bit-for-bit.
_OLS_X1, _OLS_X2, _OLS_Y = "l_quantity", "l_discount", "l_extendedprice"

_OLS_SOLVE_SQL = """
    SELECT n,
           ROUND((sy - (sxx2 * sx1y - sx1x2 * sx2y) / (sxx1 * sxx2 - sx1x2 * sx1x2) * sx1
                     - (sxx1 * sx2y - sx1x2 * sx1y) / (sxx1 * sxx2 - sx1x2 * sx1x2) * sx2) / n,
                 6) AS beta0,
           ROUND((sxx2 * sx1y - sx1x2 * sx2y) / (sxx1 * sxx2 - sx1x2 * sx1x2), 6) AS beta1,
           ROUND((sxx1 * sx2y - sx1x2 * sx1y) / (sxx1 * sxx2 - sx1x2 * sx1x2), 6) AS beta2,
           ROUND(((sxx2 * sx1y - sx1x2 * sx2y) / (sxx1 * sxx2 - sx1x2 * sx1x2) * sx1y
                  + (sxx1 * sx2y - sx1x2 * sx1y) / (sxx1 * sxx2 - sx1x2 * sx1x2) * sx2y)
                 / syy, 6) AS r2
    FROM centered
"""


@register(
    "q139_ols_regression",
    oracle=f"""
    WITH m AS (
        SELECT CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM({duck_money(_OLS_X1, 'DECIMAL(14,2)')}) AS DOUBLE) AS sx1,
               CAST(SUM({duck_money(_OLS_X2, 'DECIMAL(14,2)')}) AS DOUBLE) AS sx2,
               CAST(SUM({duck_money(_OLS_Y, 'DECIMAL(14,2)')}) AS DOUBLE) AS sy,
               CAST(SUM({duck_money(_OLS_X1, 'DECIMAL(14,2)')} * {duck_money(_OLS_X1, 'DECIMAL(14,2)')}) AS DOUBLE) AS sx1x1,
               CAST(SUM({duck_money(_OLS_X2, 'DECIMAL(14,2)')} * {duck_money(_OLS_X2, 'DECIMAL(14,2)')}) AS DOUBLE) AS sx2x2,
               CAST(SUM({duck_money(_OLS_X1, 'DECIMAL(14,2)')} * {duck_money(_OLS_X2, 'DECIMAL(14,2)')}) AS DOUBLE) AS sx1x2,
               CAST(SUM({duck_money(_OLS_X1, 'DECIMAL(14,2)')} * {duck_money(_OLS_Y, 'DECIMAL(14,2)')}) AS DOUBLE) AS sx1y,
               CAST(SUM({duck_money(_OLS_X2, 'DECIMAL(14,2)')} * {duck_money(_OLS_Y, 'DECIMAL(14,2)')}) AS DOUBLE) AS sx2y,
               CAST(SUM({duck_money(_OLS_Y, 'DECIMAL(14,2)')} * {duck_money(_OLS_Y, 'DECIMAL(14,2)')}) AS DOUBLE) AS syy_raw
        FROM lineitem
    ),
    centered AS (
        SELECT CAST(n AS BIGINT) AS n, sx1, sx2, sy,
               sx1x1 - sx1 * sx1 / n AS sxx1,
               sx2x2 - sx2 * sx2 / n AS sxx2,
               sx1x2 - sx1 * sx2 / n AS sx1x2,
               sx1y - sx1 * sy / n AS sx1y,
               sx2y - sx2 * sy / n AS sx2y,
               syy_raw - sy * sy / n AS syy
        FROM m
    )
    {_OLS_SOLVE_SQL}
    """,
    tags=("analytics", "regression", "ml"),
)
def q139_ols_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form two-feature OLS: extendedprice regressed on quantity
    and discount via the normal equations — the distributed "fit a
    linear model without an ML library" primitive (price-per-unit and
    discount elasticity in one pass), plus in-sample R^2.

    Plan: ONE hash aggregate computes all nine raw moments in a single
    partial/final pass over the fact scan (the q103 co-moment shape —
    map-side combine collapses everything before the 1-row exchange);
    the 2x2 centered system is solved by Cramer's rule on the 1-row
    frame, driver-free. Determinism: the measures are 2-decimal, so
    every raw moment is summed EXACTLY in DECIMAL (order-free,
    engine-free) and cast once to double; the solve is the identical
    IEEE expression tree in both engines, so ROUND(6) agrees
    bit-for-bit. At 100 TB this is a scan plus a 9-state aggregate —
    the cheapest query shape there is.
    """
    li = spread_scan(  # guide §2.5; co-moment sums are DECIMAL-exact
        spark, load_table(spark, sf_dir, "lineitem"), sf_dir, "lineitem", "l_orderkey"
    ).select(
        F.col(_OLS_X1).cast("decimal(14,2)").alias("x1"),
        F.col(_OLS_X2).cast("decimal(14,2)").alias("x2"),
        F.col(_OLS_Y).cast("decimal(14,2)").alias("y"),
    )
    m = li.agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x1").cast("double").alias("sx1"),
        F.sum("x2").cast("double").alias("sx2"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x1") * F.col("x1")).cast("double").alias("sx1x1"),
        F.sum(F.col("x2") * F.col("x2")).cast("double").alias("sx2x2"),
        F.sum(F.col("x1") * F.col("x2")).cast("double").alias("sx1x2"),
        F.sum(F.col("x1") * F.col("y")).cast("double").alias("sx1y"),
        F.sum(F.col("x2") * F.col("y")).cast("double").alias("sx2y"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy_raw"),
    )
    centered = m.select(
        F.col("n").cast("long").alias("n"),
        "sx1",
        "sx2",
        "sy",
        (F.col("sx1x1") - F.col("sx1") * F.col("sx1") / F.col("n")).alias("sxx1"),
        (F.col("sx2x2") - F.col("sx2") * F.col("sx2") / F.col("n")).alias("sxx2"),
        (F.col("sx1x2") - F.col("sx1") * F.col("sx2") / F.col("n")).alias("sx1x2"),
        (F.col("sx1y") - F.col("sx1") * F.col("sy") / F.col("n")).alias("sx1y"),
        (F.col("sx2y") - F.col("sx2") * F.col("sy") / F.col("n")).alias("sx2y"),
        (F.col("syy_raw") - F.col("sy") * F.col("sy") / F.col("n")).alias("syy"),
    )
    # try_divide, not /: a constant regressor makes the Cramer
    # determinant 0 (and a constant target makes syy 0) — ANSI would
    # throw DIVIDE_BY_ZERO where the oracle's plain division yields
    # NULL (DuckDB doubles: x/0 is NULL). Same IEEE divide otherwise.
    det = F.col("sxx1") * F.col("sxx2") - F.col("sx1x2") * F.col("sx1x2")
    b1 = F.try_divide(
        F.col("sxx2") * F.col("sx1y") - F.col("sx1x2") * F.col("sx2y"), det
    )
    b2 = F.try_divide(
        F.col("sxx1") * F.col("sx2y") - F.col("sx1x2") * F.col("sx1y"), det
    )
    b0 = F.try_divide(
        F.col("sy") - b1 * F.col("sx1") - b2 * F.col("sx2"), F.col("n")
    )
    r2 = F.try_divide(b1 * F.col("sx1y") + b2 * F.col("sx2y"), F.col("syy"))
    return centered.select(
        "n",
        F.round(b0, 6).alias("beta0"),
        F.round(b1, 6).alias("beta1"),
        F.round(b2, 6).alias("beta2"),
        F.round(r2, 6).alias("r2"),
    )


# RFM scoring: monetary is near-continuous, so it is binned to 1000-
# currency-unit buckets BEFORE the quartile machinery — that bounds the
# distinct-value frame the cumulative scan runs over (recency and
# frequency are small integers already). Quartile thresholds are the
# explicit "smallest value whose cumulative count reaches ceil(k*n/4)"
# definition, written identically in both engines — no reliance on
# either engine's percentile_disc tie conventions.
_RFM_MONETARY_BIN = 1000


def _rfm_metric_cte(metric: str) -> str:
    """DuckDB CTE body: quartile thresholds of ``metric`` over rfm."""
    return f"""
        SELECT MIN(CASE WHEN cum >= (n_tot + 3) // 4 THEN v END) AS q1,
               MIN(CASE WHEN cum >= (2 * n_tot + 3) // 4 THEN v END) AS q2,
               MIN(CASE WHEN cum >= (3 * n_tot + 3) // 4 THEN v END) AS q3
        FROM (
            SELECT v, SUM(cnt) OVER (ORDER BY v) AS cum,
                   SUM(cnt) OVER () AS n_tot
            FROM (SELECT {metric} AS v, COUNT(*) AS cnt FROM rfm GROUP BY 1)
        )
    """


def _customer_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_custkey, spend DECIMAL(38,6)): per-customer lifetime spend as
    an exact decimal sum — ONE construction for every consumer of the
    frame (q152 Theil, q157 Lorenz/Gini; q140/q148 derive richer
    per-customer aggregates from the same exact-decimal price cast).
    Factored so the decimal precision / null policy can never drift
    between the inequality metrics that must agree on the same spend
    distribution (round-11 review finding)."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", money("o_totalprice").alias("price")
    )
    return orders.groupBy("o_custkey").agg(
        F.sum("price").cast("decimal(38,6)").alias("spend")
    )


@register(
    "q140_rfm_segmentation",
    oracle=f"""
    WITH horizon AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS max_day FROM orders),
    rfm AS (
        SELECT o_custkey,
               datediff('day', MAX(CAST(o_orderdate AS DATE)),
                        (SELECT max_day FROM horizon)) AS recency,
               COUNT(*) AS frequency,
               SUM({duck_money('o_totalprice')}) AS m_exact,
               CAST(FLOOR(SUM({duck_money('o_totalprice')}) / {_RFM_MONETARY_BIN}) AS BIGINT) AS m_bin
        FROM orders GROUP BY o_custkey
    ),
    rq AS ({_rfm_metric_cte("recency")}),
    fq AS ({_rfm_metric_cte("frequency")}),
    mq AS ({_rfm_metric_cte("m_bin")})
    SELECT CAST(1 + (recency > rq.q1)::INT + (recency > rq.q2)::INT
                  + (recency > rq.q3)::INT AS INT) AS r_q,
           CAST(1 + (frequency > fq.q1)::INT + (frequency > fq.q2)::INT
                  + (frequency > fq.q3)::INT AS INT) AS f_q,
           CAST(1 + (m_bin > mq.q1)::INT + (m_bin > mq.q2)::INT
                  + (m_bin > mq.q3)::INT AS INT) AS m_q,
           COUNT(*) AS n_customers,
           CAST(SUM(m_exact) AS DOUBLE) AS sum_monetary
    FROM rfm, rq, fq, mq
    GROUP BY 1, 2, 3
    """,
    tags=("analytics", "segmentation"),
)
def q140_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: every customer scored into quartiles of
    recency (days since last order, against the corpus horizon),
    frequency (order count) and monetary (lifetime spend, binned to
    {_RFM_MONETARY_BIN}-unit buckets for the quartile cut), then the
    4x4x4 segment grid reported with sizes and total spend (exact
    decimal sum — an average would divide a 6-dp-exact decimal by a
    count and land on round-half ties the two engines break
    differently) — the classic marketing-segmentation rollup.

    Plan: one hash aggregate to the per-customer frame (the only
    full-data shuffle). Quartile thresholds are NOT a global sort of
    that frame: the three metrics unpivot to ONE long (metric, value)
    frame in a single pass over the persisted rfm frame, collapse to
    their distinct-VALUE frequency tables (recency/frequency are small
    integers; monetary is binned), the cumulative count runs per
    metric over that bounded frame, and the single 1-row pivoted
    threshold frame broadcasts back — the explicit ceil-rank
    definition, so both engines cut identically with no
    percentile_disc tie-convention risk. The long-frame form replaced
    three per-metric threshold jobs (round-8 verdict item 6: persist +
    1 threshold pass, not persist + 3). At 100 TB: scan + per-key agg
    + one tiny-frame window + one broadcast join.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.col("o_orderdate").cast("date").alias("day"),
        money("o_totalprice").alias("price"),
    )
    horizon = orders.agg(F.max("day").alias("max_day"))
    rfm = (
        orders.groupBy("o_custkey")
        .agg(
            F.max("day").alias("last_day"),
            F.count("*").alias("frequency"),
            F.sum("price").alias("m_exact"),
        )
        .crossJoin(F.broadcast(horizon))
        .select(
            F.datediff("max_day", "last_day").cast("long").alias("recency"),
            "frequency",
            "m_exact",
            F.floor(F.col("m_exact") / _RFM_MONETARY_BIN).cast("long").alias("m_bin"),
        )
        # Two consumers (the unpivoted threshold pass + the scored grid)
        # read this per-customer frame; without the persist each
        # re-derives it from orders — full scans + per-customer shuffles
        # per consumer (round-7 verdict item 5; plan-pinned in
        # tests/test_plans.py).
        .persist()
    )

    # ONE pass over the persisted frame computes all three metrics'
    # thresholds: unpivot to (metric, v), per-metric distinct-value
    # counts, per-metric cumulative scan, then pivot the 3-row result
    # back to one broadcastable row (columns {metric}_q{1,2,3}).
    long = rfm.select(
        F.explode(
            F.create_map(
                F.lit("recency"), F.col("recency"),
                F.lit("frequency"), F.col("frequency"),
                F.lit("m_bin"), F.col("m_bin"),
            )
        ).alias("metric", "v")
    )
    vals = long.groupBy("metric", "v").agg(F.count("*").alias("cnt"))
    w_cum = (
        Window.partitionBy("metric")
        # NULLS LAST: Spark's ASC default is NULLS FIRST while the
        # oracle's is LAST — a NULL m_bin (all-NULL-totalprice
        # customer) shifted every quartile threshold (round-12 review
        # finding; same pin on the other cumulative windows below).
        .orderBy(F.col("v").asc_nulls_last())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = vals.select(
        "metric",
        "v",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("metric")).alias("n_tot"),
    )
    _RANK = {
        1: "(n_tot + 3) div 4",
        2: "(2 * n_tot + 3) div 4",
        3: "(3 * n_tot + 3) div 4",
    }
    thresholds = cum.agg(*[
        F.min(
            F.when(
                (F.col("metric") == m) & (F.col("cum") >= F.expr(_RANK[k])),
                F.col("v"),
            )
        ).alias(f"{m}_q{k}")
        for m in ("recency", "frequency", "m_bin")
        for k in (1, 2, 3)
    ])

    scored = rfm.crossJoin(F.broadcast(thresholds))

    def score(metric: str) -> F.Column:
        return (
            F.lit(1)
            + (F.col(metric) > F.col(f"{metric}_q1")).cast("int")
            + (F.col(metric) > F.col(f"{metric}_q2")).cast("int")
            + (F.col(metric) > F.col(f"{metric}_q3")).cast("int")
        ).cast("int")

    return scored.groupBy(
        score("recency").alias("r_q"),
        score("frequency").alias("f_q"),
        score("m_bin").alias("m_q"),
    ).agg(
        F.count("*").alias("n_customers"),
        F.sum("m_exact").cast("double").alias("sum_monetary"),
    )


# Association-rule mining: brand-level baskets (25 brands -> at most
# 300 unordered / 600 directed pairs, a constant-size output at any
# scale). Support threshold is a fraction of total baskets so the
# mining is scale-invariant.
_RULE_MIN_SUPPORT = 0.001


def _brand_baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-order sorted distinct-brand arrays — the shared root of the
    itemset family (q141 pairs, q161 triples): ONE shuffle by order key
    (partial collect_set combines map-side); basket total, per-brand
    basket counts, and the pair/triple expansion all derive from this
    frame, so the raw rows never shuffle twice. Sorting pins a
    deterministic within-basket order for the combination HOFs."""
    # spread_scan keyed on the order key (guide §2.5): the brand tag +
    # partial collect_set otherwise run on a single-split scan's one
    # core; order-safe because array_sort pins the set order. Measured
    # 0.82 -> 0.37 s at sf0.1 for the build alone (7-round medians).
    li = spread_scan(
        spark,
        load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey"),
        sf_dir,
        "lineitem",
        "l_orderkey",
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(part, li.l_partkey == part.p_partkey)
        .groupBy(F.col("l_orderkey").alias("ok"))
        .agg(F.array_sort(F.collect_set("p_brand")).alias("bs"))
    )


@register(
    "q141_association_rules",
    oracle=f"""
    WITH b AS (
        SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    n AS (SELECT COUNT(DISTINCT ok) AS n_baskets FROM b),
    item AS (SELECT brand, COUNT(*) AS n_item FROM b GROUP BY brand),
    pair AS (
        SELECT a.brand AS antecedent, c.brand AS consequent,
               COUNT(*) AS n_pair
        FROM b a JOIN b c ON a.ok = c.ok AND a.brand <> c.brand
        GROUP BY 1, 2
    )
    SELECT antecedent, consequent, n_pair,
           ROUND(CAST(n_pair AS DOUBLE) / n_baskets, 6) AS support,
           ROUND(CAST(n_pair AS DOUBLE) / ia.n_item, 6) AS confidence,
           ROUND(CAST(n_pair AS DOUBLE) * n_baskets
                 / (CAST(ia.n_item AS DOUBLE) * ic.n_item), 6) AS lift
    FROM pair
    JOIN item ia ON pair.antecedent = ia.brand
    JOIN item ic ON pair.consequent = ic.brand
    CROSS JOIN n
    WHERE CAST(n_pair AS DOUBLE) / n_baskets >= {_RULE_MIN_SUPPORT}
    """,
    tags=("analytics", "basket", "ml"),
)
def q141_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets at brand granularity:
    every directed rule (brand A -> brand B) with support above
    {_RULE_MIN_SUPPORT}, reporting support, confidence
    (P(B|A)) and lift (confidence / P(B)) — the co-purchase signal
    behind recommendation and cross-sell analytics (Apriori's 2-itemset
    pass, the step that dominates its cost).

    Plan: lineitem joins part on the equi-key to brand-tag each item
    (shuffle equi-join; at 100 TB part co-partitions with lineitem on
    partkey via bucketing), then ONE shuffle by order key collapses each
    basket to its sorted distinct-brand ARRAY (<= 25 brands per order,
    partial collect_set combines map-side). Directed pairs expand from
    the array via a JVM-side HOF (<= 600 pair rows per basket — a
    constant multiple of the basket frame, never quadratic in data
    size), replacing the round-9 self-join form: same bounded fan-out,
    but the basket frame shuffles ONCE instead of feeding a distinct
    plus a shuffled self-join (measured ~15-20% faster at sf0.1, and
    item counts + the basket total now derive from the same frame
    instead of re-shuffling the raw rows). Counts are exact integers;
    each metric does one double division, identical in both engines.
    """
    baskets = _brand_baskets(spark, sf_dir).persist()
    n = baskets.agg(F.count("*").alias("n_baskets"))
    item = (
        baskets.select(F.explode("bs").alias("brand"))
        .groupBy("brand")
        .agg(F.count("*").alias("n_item"))
    )
    pair = (
        baskets.where(F.size("bs") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(bs, x ->"
                    " transform(filter(bs, y -> y != x), y ->"
                    "  struct(x AS antecedent, y AS consequent))))"
                )
            ).alias("p")
        )
        .groupBy("p.antecedent", "p.consequent")
        .agg(F.count("*").alias("n_pair"))
    )
    # Round-13 tail fold (the q161 treatment): the two per-brand count
    # broadcasts collapse into ONE 1-row brand->count map attach, so the
    # item aggregation runs once per action instead of twice and the
    # broadcast-build job count drops by one. The conditioned BNLJ the
    # support filter fuses into the 1-row attaches is the whitelisted
    # q141 idiom (build side is one row at any data size).
    imap = item.agg(
        F.map_from_entries(
            F.collect_list(F.struct("brand", "n_item"))
        ).alias("imap")
    )
    n_ant = F.try_element_at("imap", F.col("antecedent"))
    n_con = F.try_element_at("imap", F.col("consequent"))
    return (
        pair.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(imap))
        .where(F.col("n_pair").cast("double") / F.col("n_baskets") >= _RULE_MIN_SUPPORT)
        .select(
            "antecedent",
            "consequent",
            "n_pair",
            F.round(F.col("n_pair").cast("double") / F.col("n_baskets"), 6).alias("support"),
            F.round(F.col("n_pair").cast("double") / n_ant, 6).alias("confidence"),
            F.round(
                F.col("n_pair").cast("double") * F.col("n_baskets")
                / (n_ant.cast("double") * n_con),
                6,
            ).alias("lift"),
        )
    )


# Benford expected first-digit shares: log10(1 + 1/d), materialized as
# full-precision literals so both engines compare against the IDENTICAL
# constants (neither engine's log10 is invoked at query time).
_BENFORD_EXPECTED = {
    1: 0.3010299956639812, 2: 0.17609125905568124, 3: 0.12493873660829992,
    4: 0.09691001300805642, 5: 0.07918124604762482, 6: 0.06694678963061322,
    7: 0.05799194697768673, 8: 0.05115252244738129, 9: 0.04575749056067514,
}


def _benford_exp_sql(col: str) -> str:
    pairs = " ".join(
        f"WHEN {d} THEN {v!r}" for d, v in _BENFORD_EXPECTED.items()
    )
    return f"CASE {col} {pairs} END"


@register(
    "q143_benford_check",
    oracle=f"""
    WITH d AS (
        SELECT CAST(SUBSTRING(CAST({duck_money('o_totalprice', 'DECIMAL(18,2)')} AS VARCHAR), 1, 1) AS INT) AS digit
        FROM orders
    ),
    g AS (
        SELECT digit, COUNT(*) AS n, CAST(SUM(COUNT(*)) OVER () AS BIGINT) AS n_tot
        FROM d GROUP BY digit
    )
    SELECT digit, n,
           ROUND(n / CAST(n_tot AS DOUBLE), 6) AS obs_share,
           ROUND({_benford_exp_sql("digit")}, 6) AS exp_share,
           ROUND(n / CAST(n_tot AS DOUBLE) - {_benford_exp_sql("digit")}, 6)
               AS deviation
    FROM g
    """,
    tags=("analytics", "quality", "profiling"),
)
def q143_benford_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order amounts: observed vs
    expected log10(1 + 1/d) share per leading digit — the classic
    fabricated-numbers screen an ingestion pipeline runs over monetary
    and count columns (synthetic uniform-ish fixtures deviate wildly;
    organic multiplicative data hugs the curve — the DEVIATION is the
    signal either way).

    Plan: one map-side-collapsed hash aggregate to <= 9 digit rows;
    totals via a window over that frame. Digit extraction goes through
    the DECIMAL(18,2) STRING form — both engines print a decimal's
    digits identically, where floor(x / 10^floor(log10 x)) would hang
    the digit on each engine's log rounding at exact powers of ten.
    Expected shares are shared full-precision literals.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.substring(
            F.col("o_totalprice").cast("decimal(18,2)").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    g = orders.groupBy("digit").agg(F.count("*").alias("n"))
    g = g.select(
        "digit", "n", F.sum("n").over(Window.partitionBy()).alias("n_tot")
    )
    exp = F.element_at(
        F.create_map(
            *[F.lit(x) for dv in _BENFORD_EXPECTED.items() for x in dv]
        ),
        F.col("digit"),
    )
    obs = F.col("n") / F.col("n_tot").cast("double")
    return g.select(
        "digit",
        "n",
        F.round(obs, 6).alias("obs_share"),
        F.round(exp, 6).alias("exp_share"),
        F.round(obs - exp, 6).alias("deviation"),
    )


# ---------------------------------------------------------------------------
# Round 8: rank/robust statistics (q145, q148, q149, q150)
# ---------------------------------------------------------------------------

def _rank2_table_sql(col: str) -> str:
    """Doubled-average-rank table for one low-cardinality column:
    rank2(v) = 2*cum(v) - cnt(v) + 1 (twice the midrank, an exact
    BIGINT — Spearman is affine-invariant so the factor 2 cancels)."""
    return f"""
        SELECT v, CAST(2 * cum - cnt + 1 AS BIGINT) AS r FROM (
            SELECT {col} AS v, COUNT(*) AS cnt,
                   SUM(COUNT(*)) OVER (ORDER BY {col}
                       ROWS UNBOUNDED PRECEDING) AS cum
            FROM lineitem GROUP BY {col}
        )"""


@register(
    "q145_spearman_corr",
    oracle=f"""
    WITH qr AS ({_rank2_table_sql("l_quantity")}),
    dr AS ({_rank2_table_sql("l_discount")}),
    j AS (
        SELECT CAST(qr.r AS DECIMAL(18,0)) AS ra,
               CAST(dr.r AS DECIMAL(18,0)) AS rb
        FROM lineitem l
        JOIN qr ON l.l_quantity = qr.v
        JOIN dr ON l.l_discount = dr.v
    ),
    s AS (
        SELECT COUNT(*) AS n,
               CAST(SUM(ra) AS DECIMAL(38,0)) AS sa,
               CAST(SUM(rb) AS DECIMAL(38,0)) AS sb,
               CAST(SUM(ra * rb) AS DECIMAL(38,0)) AS sab,
               CAST(SUM(ra * ra) AS DECIMAL(38,0)) AS saa,
               CAST(SUM(rb * rb) AS DECIMAL(38,0)) AS sbb
        FROM j
    )
    SELECT n,
           (SELECT COUNT(*) FROM qr) AS n_qty_values,
           (SELECT COUNT(*) FROM dr) AS n_disc_values,
           ROUND((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                    - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                 / NULLIF(SQRT((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                                  - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                               * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                                  - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 0),
                 6) AS spearman_rho
    FROM s
    """,
    tags=("analytics", "statistics", "rank"),
)
def q145_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between line-item quantity and
    discount — the tie-robust monotonic-association measure a pricing
    analysis reaches for when Pearson (q72/q103) is distorted by the
    heavy ties and bounded ranges of both columns.

    Plan (round-12 optimization, guide §2.3 "aggregate before you
    shuffle"): ONE scan, ONE fact-sized exchange. The fact table
    collapses straight to its JOINT (quantity, discount) frequency
    table (<= 50 x 11 = 550 rows at any scale, partial counts combine
    map-side); the per-column marginals, both midrank tables, the rank
    co-moments (weighted by the joint count) and the two
    distinct-value counts all derive from that persisted 550-row
    frame. The previous form scanned lineitem three times (two
    marginal frequency tables + the rank-attach join) across 9
    exchanges / ~10 jobs; this is 1 corpus-sized exchange + tiny-frame
    work, measured 0.91 s -> ~0.4 s at sf0.1. Co-moment sums weight
    each joint cell: sum(ra*rb*c) over cells == sum(ra*rb) over rows
    EXACTLY (integer arithmetic in DECIMAL(38,0), same magnitudes and
    values as the row form, so the emitted doubles are bit-identical).
    Determinism: doubled midranks (2*cum - cnt + 1) are exact BIGINTs
    (Spearman is invariant to the affine x2), every co-moment sum is an
    exact DECIMAL(38,0), and both engines assemble the ratio from
    identical doubles. try_divide: a degenerate corpus where either
    column is constant has zero rank variance -> rho NULL, not a crash.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_quantity", "l_discount")
    joint = (
        li.groupBy("l_quantity", "l_discount")
        .agg(F.count("*").alias("c"))
        .persist()  # O43: feeds both marginals (and through them everything)
    )

    def rank2(col: str) -> DataFrame:
        vals = joint.groupBy(F.col(col).alias("v")).agg(F.sum("c").alias("cnt"))
        w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        return vals.select(
            "v",
            (2 * F.sum("cnt").over(w) - F.col("cnt") + 1)
            .cast("decimal(18,0)")
            .alias("r"),
        )

    qr, dr = rank2("l_quantity"), rank2("l_discount")
    # Round-13 job-count fold (guide §5 driver/jobs): the old tail
    # executed each rank subtree TWICE per action (once for its
    # broadcast rank join, once for its distinct-value count) — four
    # window passes and four broadcast builds over the 550-row frame,
    # ~20 scheduler round-trips. Each rank table now collapses to ONE
    # 1-row frame carrying its value->rank map AND its value count, so
    # each subtree executes once and the counts ride the same
    # cross-attach the ranks use. Semantics pinned to the join form:
    # a NULL value is ranked and counted (the window ranks nulls first)
    # but its rows dropped from the co-moments (the old INNER join's
    # null-never-equal behavior) — the map excludes the NULL entry
    # (collect_list drops null structs) and the null-rank filter below
    # reproduces the join's row drop. try_element_at: NULL-safe lookup
    # under ANSI.
    def rank_row(rt: DataFrame, cnt_alias: str, map_alias: str) -> DataFrame:
        return rt.agg(
            F.map_from_entries(
                F.collect_list(
                    F.when(F.col("v").isNotNull(), F.struct("v", "r"))
                )
            ).alias(map_alias),
            F.count("*").alias(cnt_alias),
        )

    qrow = rank_row(qr, "n_qty_values", "qmap")
    drow = rank_row(dr, "n_disc_values", "dmap")
    j = (
        joint.crossJoin(F.broadcast(qrow))
        .crossJoin(F.broadcast(drow))
        .select(
            F.try_element_at("qmap", F.col("l_quantity")).alias("ra"),
            F.try_element_at("dmap", F.col("l_discount")).alias("rb"),
            "c",
            "n_qty_values",
            "n_disc_values",
        )
    )
    # The join form dropped a row when EITHER value was NULL (null never
    # equi-joins); conditional sums reproduce that without filtering the
    # frame, so the value COUNTS survive even on a joint frame whose
    # rows all carry a null (count = the rank table's row count, 0 only
    # on a truly empty table — the old tail's exact edge behavior).
    both = F.col("ra").isNotNull() & F.col("rb").isNotNull()

    def csum(expr):
        return F.sum(F.when(both, expr)).cast("decimal(38,0)")

    s = j.agg(
        # coalesce: the old row form's COUNT(*) read 0 on an empty table
        # where SUM would read NULL — keep that edge bit-identical.
        F.coalesce(F.sum(F.when(both, F.col("c"))), F.lit(0).cast("long")).alias("n"),
        csum(F.col("ra") * F.col("c")).alias("sa"),
        csum(F.col("rb") * F.col("c")).alias("sb"),
        csum(F.col("ra") * F.col("rb") * F.col("c")).alias("sab"),
        csum(F.col("ra") * F.col("ra") * F.col("c")).alias("saa"),
        csum(F.col("rb") * F.col("rb") * F.col("c")).alias("sbb"),
        F.coalesce(F.max("n_qty_values"), F.lit(0).cast("long")).alias(
            "n_qty_values"
        ),
        F.coalesce(F.max("n_disc_values"), F.lit(0).cast("long")).alias(
            "n_disc_values"
        ),
    )
    nd_, sd = F.col("n").cast("double"), (lambda c: F.col(c).cast("double"))
    return s.select(
        "n",
        "n_qty_values",
        "n_disc_values",
        F.round(
            F.try_divide(
                nd_ * sd("sab") - sd("sa") * sd("sb"),
                F.sqrt(
                    (nd_ * sd("saa") - sd("sa") * sd("sa"))
                    * (nd_ * sd("sbb") - sd("sb") * sd("sb"))
                ),
            ),
            6,
        ).alias("spearman_rho"),
    )


# Spend-bin width for the decile cut (same binned-threshold trick as
# q140: deciles over the distinct BIN values, never a global row sort).
_LIFT_SPEND_BIN = 1000


@register(
    "q148_decile_lift",
    oracle=f"""
    WITH cust AS (
        SELECT o_custkey,
               CAST(FLOOR(SUM({duck_money('o_totalprice')})
                          / {_LIFT_SPEND_BIN}) AS BIGINT) AS spend_bin,
               MAX(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                   AS is_urgent
        FROM orders GROUP BY o_custkey
    ),
    bins AS (
        SELECT spend_bin, COUNT(*) AS cnt,
               SUM(COUNT(*)) OVER (ORDER BY spend_bin
                   ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(COUNT(*)) OVER () AS n_tot
        FROM cust GROUP BY spend_bin
    ),
    dec AS (
        SELECT spend_bin,
               CAST(CEIL(10.0 * cum / n_tot) AS INT) AS decile
        FROM bins
    ),
    scored AS (
        SELECT d.decile, c.is_urgent FROM cust c
        JOIN dec d ON c.spend_bin = d.spend_bin
    ),
    g AS (
        SELECT decile, COUNT(*) AS n_customers,
               CAST(SUM(is_urgent) AS BIGINT) AS n_urgent,
               SUM(COUNT(*)) OVER () AS g_n,
               SUM(CAST(SUM(is_urgent) AS BIGINT)) OVER () AS g_urgent,
               SUM(CAST(SUM(is_urgent) AS BIGINT)) OVER (ORDER BY decile DESC
                   ROWS UNBOUNDED PRECEDING) AS cum_urgent
        FROM scored GROUP BY decile
    )
    SELECT decile, n_customers, n_urgent,
           ROUND(CAST(n_urgent AS DOUBLE) / n_customers, 6) AS urgent_rate,
           ROUND((CAST(n_urgent AS DOUBLE) / n_customers)
                 / NULLIF(CAST(g_urgent AS DOUBLE) / g_n, 0), 6) AS lift,
           ROUND(CAST(cum_urgent AS DOUBLE) / NULLIF(g_urgent, 0), 6)
               AS cum_capture
    FROM g
    """,
    tags=("analytics", "ml", "calibration"),
)
def q148_decile_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift / calibration table: customers cut into spend
    deciles, each decile reporting its urgent-order rate, lift over the
    base rate, and the cumulative capture a top-down targeting campaign
    would achieve — the standard model-calibration readout, here with
    lifetime spend as the score.

    Plan: one per-customer hash aggregate (the only full-data shuffle),
    then the q140 binned-threshold trick: deciles are assigned on the
    distinct spend-BIN frequency table (bounded rows at any scale) via
    the explicit ceil(10*cum/n) rule, and the tiny bin->decile map
    broadcasts back. Capture needs all 10 decile rows -> one cumulative
    window over the 10-row frame. try_divide on lift/capture: a corpus
    with zero urgent orders yields NULLs, not a crash.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        money("o_totalprice").alias("price"),
        (F.col("o_orderpriority") == "1-URGENT").cast("int").alias("urgent"),
    )
    cust = orders.groupBy("o_custkey").agg(
        F.floor(F.sum("price") / _LIFT_SPEND_BIN).cast("long").alias("spend_bin"),
        F.max("urgent").alias("is_urgent"),
    )
    bins = cust.groupBy("spend_bin").agg(F.count("*").alias("cnt"))
    w_cum = Window.orderBy(F.col("spend_bin").asc_nulls_last()).rowsBetween(
        Window.unboundedPreceding, 0
    )  # NULLS LAST: DuckDB's ASC default (round-12 review finding)
    dec = bins.select(
        "spend_bin",
        F.ceil(
            10.0
            * F.sum("cnt").over(w_cum)
            / F.sum("cnt").over(Window.partitionBy())
        )
        .cast("int")
        .alias("decile"),
    )
    g = (
        cust.join(F.broadcast(dec), "spend_bin")
        .groupBy("decile")
        .agg(
            F.count("*").alias("n_customers"),
            F.sum("is_urgent").cast("long").alias("n_urgent"),
        )
    )
    w_all = Window.partitionBy()
    w_desc = Window.orderBy(F.col("decile").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    g = g.select(
        "decile",
        "n_customers",
        "n_urgent",
        F.sum("n_customers").over(w_all).alias("g_n"),
        F.sum("n_urgent").over(w_all).alias("g_urgent"),
        F.sum("n_urgent").over(w_desc).alias("cum_urgent"),
    )
    rate = F.col("n_urgent").cast("double") / F.col("n_customers")
    return g.select(
        "decile",
        "n_customers",
        "n_urgent",
        F.round(rate, 6).alias("urgent_rate"),
        F.round(
            F.try_divide(rate, F.col("g_urgent").cast("double") / F.col("g_n")), 6
        ).alias("lift"),
        F.round(
            F.try_divide(F.col("cum_urgent").cast("double"), F.col("g_urgent")), 6
        ).alias("cum_capture"),
    )


# Wilson 95% interval: z pinned as a full-precision literal shared by
# both engines (neither engine's inverse-normal is invoked).
_WILSON_Z = 1.959963984540054
_WILSON_SUCCESS_MIN = 120.0  # value threshold defining a "success" event


@register(
    "q149_wilson_ctr",
    oracle=f"""
    WITH g AS (
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CASE WHEN value >= {_WILSON_SUCCESS_MIN}
                             THEN 1 ELSE 0 END) AS BIGINT) AS s
        FROM events GROUP BY event_type
    )
    SELECT event_type, n, s,
           ROUND(CAST(s AS DOUBLE) / n, 6) AS p_hat,
           ROUND(((CAST(s AS DOUBLE) / n) + {_WILSON_Z} * {_WILSON_Z} / (2 * n)
                  - {_WILSON_Z} * SQRT((CAST(s AS DOUBLE) / n) * (1 - CAST(s AS DOUBLE) / n) / n
                                       + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n * n)))
                 / (1 + {_WILSON_Z} * {_WILSON_Z} / n), 6) + 0.0 AS wilson_lo,
           ROUND(((CAST(s AS DOUBLE) / n) + {_WILSON_Z} * {_WILSON_Z} / (2 * n)
                  + {_WILSON_Z} * SQRT((CAST(s AS DOUBLE) / n) * (1 - CAST(s AS DOUBLE) / n) / n
                                       + {_WILSON_Z} * {_WILSON_Z} / (4.0 * n * n)))
                 / (1 + {_WILSON_Z} * {_WILSON_Z} / n), 6) AS wilson_hi
    FROM g
    """,
    tags=("analytics", "statistics", "experimentation"),
)
def q149_wilson_ctr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilson-score 95% confidence interval for the per-event-type
    high-value rate (value >= {_WILSON_SUCCESS_MIN}) — the
    small-sample-safe interval a metrics layer should publish instead
    of the naive Wald CI (which collapses to zero width at p=0/1; on a
    degenerate single-event fixture Wilson stays a proper interval).

    Plan: ONE map-side-collapsed hash aggregate to 5 rows; the interval
    is pure arithmetic on (s, n) with z as a shared full-precision
    literal, so both engines compute identical doubles. n >= 1 by
    construction (a group only exists with rows), so no guarded
    division is needed.
    """
    ev = load_table(spark, sf_dir, "events").select("event_type", "value")
    g = ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        # when/otherwise, not a bare boolean cast: a group whose every
        # value is NULL must read s=0 like the oracle's SUM(CASE ...
        # ELSE 0 END), not a NULL that poisons the whole interval
        # (round-11 review finding).
        F.sum(F.when(F.col("value") >= _WILSON_SUCCESS_MIN, 1).otherwise(0))
        .cast("long")
        .alias("s"),
    )
    n = F.col("n").cast("double")
    p = F.col("s").cast("double") / n
    z2 = _WILSON_Z * _WILSON_Z
    center = p + z2 / (2 * n)
    half = _WILSON_Z * F.sqrt(p * (1 - p) / n + z2 / (4 * n * n))
    denom = 1 + z2 / n
    return g.select(
        "event_type",
        "n",
        "s",
        F.round(p, 6).alias("p_hat"),
        # + 0.0 in BOTH dialects: at p=0 the lower bound is exactly 0
        # and FP cancellation can land on IEEE -0.0 in one engine only
        # (observed: DuckDB -0.0 vs Spark 0.0 on an all-NULL-value
        # group) — adding +0.0 normalizes the sign bit identically
        # (round-11 dirty-fixture finding).
        (F.round((center - half) / denom, 6) + 0.0).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    )


@register(
    "q150_higher_moments",
    oracle=f"""
    WITH mins AS (
        SELECT l_returnflag,
               MIN({duck_money('l_extendedprice', 'DECIMAL(18,2)')}) AS mn
        FROM lineitem GROUP BY l_returnflag
    ),
    d AS (
        SELECT l.l_returnflag, m.mn,
               CAST({duck_money('l.l_extendedprice', 'DECIMAL(18,2)')} - m.mn
                    AS DECIMAL(12,2)) AS dv
        FROM lineitem l JOIN mins m ON l.l_returnflag = m.l_returnflag
    ),
    p AS (
        -- (19,4) not (18,4): precision 19 forces DuckDB onto INT128
        -- storage so dv2*dv / dv2*dv2 widen instead of overflowing the
        -- engine's int64 fast path (values are identical to Spark's
        -- (18,4) column; only the storage width differs).
        SELECT l_returnflag, mn, dv,
               CAST(dv * dv AS DECIMAL(19,4)) AS dv2
        FROM d
    ),
    s AS (
        SELECT l_returnflag, COUNT(*) AS n, MIN(mn) AS mn,
               CAST(SUM(dv) AS DECIMAL(38,2)) AS s1,
               CAST(SUM(dv2) AS DECIMAL(38,4)) AS s2,
               CAST(SUM(CAST(dv2 * dv AS DECIMAL(31,6))) AS DECIMAL(38,6)) AS s3,
               CAST(SUM(CAST(dv2 * dv2 AS DECIMAL(37,8))) AS DECIMAL(38,8)) AS s4
        FROM p GROUP BY l_returnflag
    ),
    a AS (
        SELECT l_returnflag, n,
               CAST(n AS DOUBLE) AS nd,
               CAST(mn AS DOUBLE) AS mnd,
               CAST(s1 AS DOUBLE) AS s1d, CAST(s2 AS DOUBLE) AS s2d,
               CAST(s3 AS DOUBLE) AS s3d, CAST(s4 AS DOUBLE) AS s4d
        FROM s
    )
    SELECT l_returnflag, n,
           ROUND(mnd + s1d / nd, 6) AS mean_price,
           ROUND(SQRT(s2d / nd - (s1d / nd) * (s1d / nd)), 6) AS pop_stddev,
           ROUND((s3d / nd - 3 * (s1d / nd) * (s2d / nd)
                  + 2 * (s1d / nd) * (s1d / nd) * (s1d / nd))
                 / NULLIF(SQRT((s2d / nd - (s1d / nd) * (s1d / nd))
                               * (s2d / nd - (s1d / nd) * (s1d / nd))
                               * (s2d / nd - (s1d / nd) * (s1d / nd))), 0),
                 6) AS skewness,
           ROUND((s4d / nd - 4 * (s1d / nd) * (s3d / nd)
                  + 6 * (s1d / nd) * (s1d / nd) * (s2d / nd)
                  - 3 * (s1d / nd) * (s1d / nd) * (s1d / nd) * (s1d / nd))
                 / NULLIF((s2d / nd - (s1d / nd) * (s1d / nd))
                          * (s2d / nd - (s1d / nd) * (s1d / nd)), 0)
                 - 3, 6) AS ex_kurtosis
    FROM a
    """,
    tags=("analytics", "statistics", "moments"),
)
def q150_higher_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skewness and excess kurtosis of extended price per return flag,
    assembled from EXACT decimal power sums — the distribution-shape
    profile a feature store publishes next to mean/stddev (q72). The
    built-in skewness()/kurtosis() are deliberately NOT used: Spark
    reports population g1/g2 while DuckDB reports sample-corrected
    G1/G2, and both accumulate doubles in partition order.

    Plan: two passes. Pass 1 per-group MIN (tiny agg) broadcasts back
    as the shift constant; pass 2 sums the shifted powers d, d^2, d^3,
    d^4 as exact decimals (d <= price range so d^4 fits DECIMAL(38,8)
    headroom to ~1e5 x the sf1 row count; beyond that, re-shard the sum
    or move the anchor per partition-group). Central moments then
    derive from the shifted sums by the standard binomial identities in
    double space — identical inputs, identical doubles, both engines.
    try_divide: a constant-price group has cm2=0 -> NULL shape stats.
    """
    li = spread_scan(  # guide §2.5; power sums are DECIMAL-exact
        spark, load_table(spark, sf_dir, "lineitem"), sf_dir, "lineitem", "l_orderkey"
    ).select(
        "l_returnflag",
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
    )
    mins = li.groupBy("l_returnflag").agg(F.min("price").alias("mn"))
    d = li.join(F.broadcast(mins), "l_returnflag").select(
        "l_returnflag",
        "mn",
        (F.col("price") - F.col("mn")).cast("decimal(12,2)").alias("dv"),
    )
    p = d.select(
        "l_returnflag",
        "mn",
        "dv",
        (F.col("dv") * F.col("dv")).cast("decimal(18,4)").alias("dv2"),
    )
    s = p.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.min("mn").alias("mn"),
        F.sum("dv").cast("decimal(38,2)").alias("s1"),
        F.sum("dv2").cast("decimal(38,4)").alias("s2"),
        F.sum((F.col("dv2") * F.col("dv")).cast("decimal(31,6)"))
        .cast("decimal(38,6)")
        .alias("s3"),
        F.sum((F.col("dv2") * F.col("dv2")).cast("decimal(37,8)"))
        .cast("decimal(38,8)")
        .alias("s4"),
    )
    nd = F.col("n").cast("double")
    s1d, s2d = F.col("s1").cast("double"), F.col("s2").cast("double")
    s3d, s4d = F.col("s3").cast("double"), F.col("s4").cast("double")
    m1 = s1d / nd
    cm2 = s2d / nd - m1 * m1
    cm3 = s3d / nd - 3 * m1 * (s2d / nd) + 2 * m1 * m1 * m1
    cm4 = (
        s4d / nd
        - 4 * m1 * (s3d / nd)
        + 6 * m1 * m1 * (s2d / nd)
        - 3 * m1 * m1 * m1 * m1
    )
    return s.select(
        "l_returnflag",
        "n",
        F.round(F.col("mn").cast("double") + m1, 6).alias("mean_price"),
        F.round(F.sqrt(cm2), 6).alias("pop_stddev"),
        F.round(F.try_divide(cm3, F.sqrt(cm2 * cm2 * cm2)), 6).alias("skewness"),
        F.round(F.try_divide(cm4, cm2 * cm2) - 3, 6).alias("ex_kurtosis"),
    )


# ---------------------------------------------------------------------------
# Round 8: weighted quantiles, inequality, Pareto, distribution drift
# (q151, q152, q155, q156)
# ---------------------------------------------------------------------------

@register(
    "q151_weighted_median",
    oracle=f"""
    WITH vw AS (
        SELECT l_returnflag, l_quantity AS v,
               COUNT(*) AS cnt,
               CAST(SUM({duck_money('l_extendedprice', 'DECIMAL(18,2)')})
                    AS DECIMAL(38,2)) AS w
        FROM lineitem GROUP BY l_returnflag, l_quantity
    ),
    c AS (
        SELECT l_returnflag, v, cnt, w,
               SUM(w) OVER (PARTITION BY l_returnflag ORDER BY v
                   ROWS UNBOUNDED PRECEDING) AS cumw,
               SUM(w) OVER (PARTITION BY l_returnflag) AS tot
        FROM vw
    )
    SELECT l_returnflag,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           COUNT(*) AS n_values,
           CAST(MIN(CASE WHEN 2 * cumw >= tot THEN v END) AS DOUBLE)
               AS w_median,
           CAST(MIN(CASE WHEN 10 * cumw >= 9 * tot THEN v END) AS DOUBLE)
               AS w_p90
    FROM c GROUP BY l_returnflag
    """,
    tags=("analytics", "statistics", "quantiles"),
)
def q151_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-weighted median and p90 of line-item quantity per return
    flag: the quantity level at which half (resp. 90%) of the MONEY
    sits, not half the rows — the weighted-quantile primitive behind
    spend-concentration and inventory analytics.

    Plan: quantity collapses to its distinct-value frame per flag
    (~50 values x 3 flags at any scale) carrying exact DECIMAL weight
    sums; one cumulative window over that bounded frame; the quantile
    pick is an exact integer-scaled decimal comparison (2*cumw >= tot),
    so there is no float threshold for the engines to disagree on.
    No global sort, no percentile UDF.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_quantity").alias("v"),
        F.col("l_extendedprice").cast("decimal(18,2)").alias("price"),
    )
    vw = li.groupBy("l_returnflag", "v").agg(
        F.count("*").alias("cnt"),
        F.sum("price").cast("decimal(38,2)").alias("w"),
    )
    wp = Window.partitionBy("l_returnflag")
    wc = wp.orderBy(F.col("v").asc_nulls_last()).rowsBetween(
        Window.unboundedPreceding, 0
    )  # NULLS LAST: DuckDB's ASC default (round-12 review finding)
    c = vw.select(
        "l_returnflag",
        "v",
        "cnt",
        F.sum("w").over(wc).alias("cumw"),
        F.sum("w").over(wp).alias("tot"),
    )
    return c.groupBy("l_returnflag").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.count("*").alias("n_values"),
        F.min(F.when(2 * F.col("cumw") >= F.col("tot"), F.col("v")))
        .cast("double")
        .alias("w_median"),
        F.min(F.when(10 * F.col("cumw") >= 9 * F.col("tot"), F.col("v")))
        .cast("double")
        .alias("w_p90"),
    )


@register(
    "q152_theil_index",
    oracle=f"""
    WITH cust AS (
        SELECT o_custkey,
               CAST(SUM({duck_money('o_totalprice')})
                    AS DECIMAL(38,6)) AS spend
        FROM orders GROUP BY o_custkey
    ),
    seg AS (
        -- spend > 0 explicitly: Theil needs positive incomes, and on a
        -- dirty corpus a zero/negative customer total made LN(x)
        -- hard-error here while Spark's F.log silently NULLed the term
        -- (round-12 review finding); NULL spend fails the > too
        SELECT c.c_mktsegment AS segment, CAST(u.spend AS DOUBLE) AS x
        FROM cust u JOIN customer c ON u.o_custkey = c.c_custkey
        WHERE u.spend > 0
    ),
    g AS (
        SELECT COALESCE(segment, 'ALL') AS segment,
               COUNT(*) AS n_customers,
               SUM(x) AS sx, SUM(x * LN(x)) AS sxlx
        FROM seg GROUP BY ROLLUP(segment)
    )
    SELECT segment, n_customers,
           ROUND(sx / n_customers, 6) AS mean_spend,
           ROUND(sxlx / NULLIF(sx, 0) - LN(sx / n_customers), 6) AS theil
    FROM g
    """,
    tags=("analytics", "statistics", "inequality"),
)
def q152_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-T inequality index of customer lifetime spend, per market
    segment and overall (ROLLUP row 'ALL') — the additively-decomposable
    concentration measure (within + between) a marketplace-health
    dashboard tracks alongside plain totals.

    Plan: one per-customer hash aggregate, a broadcast join to the
    customer dim for the segment, then ONE rollup aggregate using the
    identity T = sum(x ln x)/sum(x) - ln(mean): no join-back of a
    per-group mean, no second pass. Spend is summed as exact decimal;
    only the x*ln(x) sum is double (ln is irrational — same accepted
    ulp envelope as q87's PMI). Customers with non-positive (or NULL)
    total spend are EXCLUDED on both engines — Theil is defined over
    positive incomes, and the filter is what keeps LN(x) from
    hard-erroring in the oracle while F.log silently NULLed the term
    here (round-12 review finding); NULLIF still guards the
    zero-revenue degenerate corpus division.
    """
    cust = _customer_spend(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    seg = (
        cust.join(F.broadcast(dim), "o_custkey")
        # spend > 0 explicitly (oracle twin carries the same WHERE):
        # Theil needs positive incomes; a zero/negative customer total
        # made the oracle's LN(x) hard-error while F.log silently
        # NULLed the term out of sxlx but kept x in sx — a wrong index,
        # not a crash (round-12 review finding). NULL spend fails > too.
        .where(F.col("spend") > 0)
        .select("segment", F.col("spend").cast("double").alias("x"))
    )
    g = seg.rollup("segment").agg(
        F.count("*").alias("n_customers"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.log("x")).alias("sxlx"),
    )
    return g.select(
        F.coalesce("segment", F.lit("ALL")).alias("segment"),
        "n_customers",
        F.round(F.col("sx") / F.col("n_customers"), 6).alias("mean_spend"),
        F.round(
            F.try_divide(F.col("sxlx"), F.col("sx"))
            - F.log(F.col("sx") / F.col("n_customers")),
            6,
        ).alias("theil"),
    )


# ABC revenue-bin width ($100): class boundaries are evaluated on the
# binned cumulative frame, never on a per-part global sort.
_ABC_BIN = 100
# KS two-sample 95% coefficient c(alpha)=sqrt(-ln(alpha/2)/2), pinned.
_KS_COEF = 1.3581015157406195
_KS_VALUE_BIN = 0.5  # ECDF granularity for the drift comparison


def _half_split_side_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared front half of the two-sample drift tests (q156 KS, q209
    CvM): split events at the exact-integer-microsecond (min+max)//2
    midpoint (one 1-row bounds frame broadcast back — the sanctioned
    cross-attach), bin values to {_KS_VALUE_BIN}-wide buckets, and emit
    ONE hash aggregate of (event_type, bin, c1, c2) side counts.
    Factored so the split instant and bin width can never
    desynchronize between the two tests that document themselves as
    sharing them (round-10 review finding)."""
    # epoch_us_expr, not unix_micros(CAST .. AS TIMESTAMP): the NTZ->LTZ
    # cast shifts with the session zone if the pinned-UTC conf is ever
    # refused — the exact round-6 hazard the helper was factored for
    # (round-11 review finding).
    ev = load_table(spark, sf_dir, "events").select("event_type", "ts", "value")
    bounds = ev.agg(
        F.floor((F.min(epoch_us_expr("ts")) + F.max(epoch_us_expr("ts"))) / 2)
        .cast("long")
        .alias("mid")
    )
    e = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        # mask_non_finite: NaN/Inf otherwise saturate through floor()
        # into a REAL bin here while the oracle's BIGINT cast
        # hard-errors (round-12 review finding; the money() policy).
        F.floor(mask_non_finite("value") / _KS_VALUE_BIN).cast("long").alias("bin"),
        # when/otherwise, not a bare boolean cast: a NULL ts must land
        # in the SECOND half like the oracles' CASE ... ELSE 0 END —
        # the cast form dropped such rows from BOTH halves (round-11
        # review finding).
        F.when(epoch_us_expr("ts") < F.col("mid"), 1)
        .otherwise(0)
        .alias("first_half"),
    )
    return e.groupBy("event_type", "bin").agg(
        F.sum("first_half").cast("long").alias("c1"),
        F.sum(1 - F.col("first_half")).cast("long").alias("c2"),
    )


@register(
    "q155_abc_analysis",
    oracle=f"""
    WITH pr AS (
        SELECT l_partkey,
               CAST(SUM({duck_money('l_extendedprice', 'DECIMAL(18,2)')})
                    AS DECIMAL(38,2)) AS rev
        FROM lineitem GROUP BY l_partkey
    ),
    b AS (
        SELECT CAST(FLOOR(rev / {_ABC_BIN}) AS BIGINT) AS bin,
               COUNT(*) AS n_parts,
               CAST(SUM(rev) AS DECIMAL(38,2)) AS brev
        FROM pr GROUP BY 1
    ),
    c AS (
        SELECT bin, n_parts, brev,
               SUM(brev) OVER (ORDER BY bin DESC
                   ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(brev) OVER () AS tot
        FROM b
    ),
    k AS (
        SELECT CASE WHEN 10 * (cum - brev) < 7 * tot THEN 'A'
                    WHEN 10 * (cum - brev) < 9 * tot THEN 'B'
                    ELSE 'C' END AS abc_class,
               n_parts, brev, tot
        FROM c
    )
    SELECT abc_class,
           CAST(SUM(n_parts) AS BIGINT) AS n_parts,
           CAST(SUM(brev) AS DOUBLE) AS revenue,
           ROUND(CAST(SUM(brev) AS DOUBLE) / CAST(MIN(tot) AS DOUBLE), 6)
               AS rev_share,
           COUNT(*) AS n_bins
    FROM k GROUP BY abc_class
    """,
    tags=("analytics", "pareto", "segmentation"),
)
def q155_abc_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification of parts by revenue: class A carries
    the first ~70% of revenue walking down from the richest parts, B
    the next ~20%, C the tail — the inventory-prioritization rollup.

    Plan: per-part revenue (exact decimal, one hash shuffle), then the
    parts collapse into ${_ABC_BIN}-unit revenue BINS; the cumulative
    walk and the 70/90 boundary tests run on that bounded bin frame
    with exact integer-scaled decimal comparisons (10*cum < 7*tot) —
    no per-part global sort, no float thresholds. A bin is classed by
    the share BEFORE it (cum - brev), so the bin crossing a boundary
    belongs to the richer class and A is never empty.
    """
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", F.col("l_extendedprice").cast("decimal(18,2)").alias("price")
    )
    pr = li.groupBy("l_partkey").agg(
        F.sum("price").cast("decimal(38,2)").alias("rev")
    )
    b = pr.groupBy(
        F.floor(F.col("rev") / _ABC_BIN).cast("long").alias("bin")
    ).agg(
        F.count("*").alias("n_parts"),
        F.sum("rev").cast("decimal(38,2)").alias("brev"),
    )
    wdesc = Window.orderBy(F.col("bin").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = b.select(
        "bin",
        "n_parts",
        "brev",
        F.sum("brev").over(wdesc).alias("cum"),
        F.sum("brev").over(Window.partitionBy()).alias("tot"),
    )
    before = 10 * (F.col("cum") - F.col("brev"))
    k = c.select(
        F.when(before < 7 * F.col("tot"), "A")
        .when(before < 9 * F.col("tot"), "B")
        .otherwise("C")
        .alias("abc_class"),
        "n_parts",
        "brev",
        "tot",
    )
    return k.groupBy("abc_class").agg(
        F.sum("n_parts").cast("long").alias("n_parts"),
        F.sum("brev").cast("double").alias("revenue"),
        F.round(
            F.sum("brev").cast("double") / F.min("tot").cast("double"), 6
        ).alias("rev_share"),
        F.count("*").alias("n_bins"),
    )


@register(
    "q156_ks_drift",
    oracle=f"""
    WITH bounds AS (
        SELECT CAST((epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS BIGINT)
            AS mid
        FROM events
    ),
    e AS (
        SELECT event_type,
               CASE WHEN isfinite(value)
                    THEN CAST(FLOOR(value / {_KS_VALUE_BIN}) AS BIGINT)
               END AS bin,
               CASE WHEN epoch_us(ts) < mid THEN 1 ELSE 0 END AS first_half
        FROM events, bounds
    ),
    g AS (
        SELECT event_type, bin,
               CAST(SUM(first_half) AS BIGINT) AS c1,
               CAST(SUM(1 - first_half) AS BIGINT) AS c2
        FROM e GROUP BY event_type, bin
    ),
    c AS (
        SELECT event_type,
               SUM(c1) OVER (PARTITION BY event_type ORDER BY bin
                   ROWS UNBOUNDED PRECEDING) AS cum1,
               SUM(c2) OVER (PARTITION BY event_type ORDER BY bin
                   ROWS UNBOUNDED PRECEDING) AS cum2,
               SUM(c1) OVER (PARTITION BY event_type) AS t1,
               SUM(c2) OVER (PARTITION BY event_type) AS t2
        FROM g
    )
    SELECT event_type,
           CAST(MIN(t1) AS BIGINT) AS n_first,
           CAST(MIN(t2) AS BIGINT) AS n_second,
           ROUND(MAX(ABS(CAST(cum1 AS DOUBLE) / NULLIF(t1, 0)
                         - CAST(cum2 AS DOUBLE) / NULLIF(t2, 0))), 6)
               AS ks_stat,
           ROUND({_KS_COEF} * SQRT((CAST(MIN(t1) AS DOUBLE) + MIN(t2))
                 / NULLIF(CAST(MIN(t1) AS DOUBLE) * MIN(t2), 0)), 6)
               AS ks_crit,
           CAST(CASE WHEN MAX(ABS(CAST(cum1 AS DOUBLE) / NULLIF(t1, 0)
                              - CAST(cum2 AS DOUBLE) / NULLIF(t2, 0)))
                > {_KS_COEF} * SQRT((CAST(MIN(t1) AS DOUBLE) + MIN(t2))
                  / NULLIF(CAST(MIN(t1) AS DOUBLE) * MIN(t2), 0))
                THEN 1 ELSE 0 END AS INT) AS drift_flag
    FROM c GROUP BY event_type
    """,
    tags=("analytics", "drift", "quality"),
)
def q156_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test per event type: the
    value distribution of the corpus's first time-half against its
    second, with the alpha=0.05 critical value — the nonparametric
    drift gate that complements q96's binned PSI (KS reads the max
    ECDF gap; PSI reads re-weighted mass).

    Plan: one 1-row min/max bounds frame broadcasts back (the
    sanctioned cross-attach); values collapse to {_KS_VALUE_BIN}-wide
    bins per (type, bin) with side counts in one hash aggregate; ECDFs
    and the max-gap reduce on that bounded frame. All divisions are
    exact-integer in / deterministic double out, so both engines
    compare the SAME doubles against the same pinned critical
    coefficient. try_divide: a side with zero rows yields NULL ECDF ->
    NULL ks_stat, drift 0, no crash.
    """
    g = _half_split_side_counts(spark, sf_dir)
    wp = Window.partitionBy("event_type")
    # asc_nulls_last: a NULL value bin must enter the ECDF LAST like
    # DuckDB's default ordering, not first (round-11 review finding —
    # the windows.py:356 convention).
    wc = wp.orderBy(F.asc_nulls_last("bin")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = g.select(
        "event_type",
        F.sum("c1").over(wc).alias("cum1"),
        F.sum("c2").over(wc).alias("cum2"),
        F.sum("c1").over(wp).alias("t1"),
        F.sum("c2").over(wp).alias("t2"),
    )
    gap = F.abs(
        F.try_divide(F.col("cum1").cast("double"), F.col("t1"))
        - F.try_divide(F.col("cum2").cast("double"), F.col("t2"))
    )
    out = c.groupBy("event_type").agg(
        F.min("t1").cast("long").alias("n_first"),
        F.min("t2").cast("long").alias("n_second"),
        F.max(gap).alias("ks_raw"),
    )
    crit = _KS_COEF * F.sqrt(
        F.try_divide(
            F.col("n_first").cast("double") + F.col("n_second"),
            F.col("n_first").cast("double") * F.col("n_second"),
        )
    )
    return out.select(
        "event_type",
        "n_first",
        "n_second",
        F.round("ks_raw", 6).alias("ks_stat"),
        F.round(crit, 6).alias("ks_crit"),
        # when/otherwise: a one-sided group (NULL ks) reads flag 0 like
        # the oracle's CASE ... ELSE 0, not NULL (round-11 dirty-fixture).
        F.when(F.col("ks_raw") > crit, 1).otherwise(0).alias("drift_flag"),
    )


@register(
    "q146_degree_distribution",
    oracle="""
    WITH edges AS (
        SELECT DISTINCT l.l_partkey, o.o_custkey
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ),
    deg AS (
        SELECT l_partkey, COUNT(*) AS degree FROM edges GROUP BY l_partkey
    )
    SELECT degree, COUNT(*) AS n_parts,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / SUM(COUNT(*)) OVER (), 6) AS share
    FROM deg GROUP BY degree
    """,
    tags=("analytics", "graph"),
)
def q146_degree_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree distribution of the part-customer co-purchase graph: for
    each part, how many DISTINCT customers bought it, then the
    count-of-counts histogram — the graph-shape profile (hubs vs tail)
    that sizes any downstream graph algorithm before running it.

    Plan: the lineitem-orders equi-join is the one fact-fact shuffle
    (at cluster scale both sides bucket on l_orderkey/o_orderkey, so it
    co-locates without a runtime shuffle); DISTINCT edges and the
    per-part degree both hash-aggregate with map-side partials; the
    final histogram is degree-cardinality (bounded). Share uses a
    window over the tiny histogram frame.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    edges = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select("l_partkey", "o_custkey")
        .distinct()
    )
    deg = edges.groupBy("l_partkey").agg(F.count("*").alias("degree"))
    g = deg.groupBy("degree").agg(F.count("*").alias("n_parts"))
    return g.select(
        "degree",
        "n_parts",
        F.round(
            F.col("n_parts").cast("double")
            / F.sum("n_parts").over(Window.partitionBy()),
            6,
        ).alias("share"),
    )


@register(
    "q153_cotype_jaccard",
    oracle="""
    WITH ut AS (
        SELECT DISTINCT user_id, event_type FROM events
    ),
    tc AS (
        SELECT event_type, COUNT(*) AS n_users FROM ut GROUP BY event_type
    ),
    pairs AS (
        SELECT a.event_type AS type_a, b.event_type AS type_b,
               COUNT(*) AS n_both
        FROM ut a JOIN ut b
          ON a.user_id = b.user_id AND a.event_type < b.event_type
        GROUP BY 1, 2
    )
    SELECT type_a, type_b,
           ta.n_users AS n_a, tb.n_users AS n_b, n_both,
           ROUND(CAST(n_both AS DOUBLE)
                 / NULLIF(ta.n_users + tb.n_users - n_both, 0), 6) AS jaccard
    FROM pairs
    JOIN tc ta ON pairs.type_a = ta.event_type
    JOIN tc tb ON pairs.type_b = tb.event_type
    """,
    tags=("analytics", "similarity", "sets"),
)
def q153_cotype_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard similarity between the USER SETS of every event-type
    pair — the co-engagement matrix ('users who error also purchase?')
    behind audience-overlap and cannibalization analyses.

    Plan: one DISTINCT (user, type) aggregate, then a self equi-join on
    user_id with a strictly-bounded fan-out (<= 5 types per user -> at
    most 10 pair rows per user — linear in users, never quadratic in
    rows, the q141 bounded-basket argument); per-type set sizes are a
    5-row broadcast attached twice. try_divide-equivalent NULLIF guards
    the degenerate empty-union case.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_type")
    ut = ev.distinct()
    tc = ut.groupBy("event_type").agg(F.count("*").alias("n_users"))
    a = ut.alias("a")
    b = ut.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").alias("n_both"))
    )
    ta = tc.select(F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a"))
    tb = tc.select(F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b"))
    j = pairs.join(F.broadcast(ta), "type_a").join(F.broadcast(tb), "type_b")
    return j.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "n_both",
        F.round(
            F.try_divide(
                F.col("n_both").cast("double"),
                (F.col("n_a") + F.col("n_b") - F.col("n_both")).cast("double"),
            ),
            6,
        ).alias("jaccard"),
    )


# ---------------------------------------------------------------------------
# Round 8, batch D: concentration, forecasting support, cohort economics
# (q157, q160)
# ---------------------------------------------------------------------------

_GINI_SPEND_BIN = 1000  # same binned-rank machinery as q140/q148/q155


@register(
    "q157_lorenz_gini",
    oracle=f"""
    WITH cust AS (
        SELECT o_custkey,
               CAST(SUM({duck_money('o_totalprice')})
                    AS DECIMAL(38,6)) AS spend
        FROM orders GROUP BY o_custkey
    ),
    b AS (
        SELECT CAST(FLOOR(spend / {_GINI_SPEND_BIN}) AS BIGINT) AS bin,
               COUNT(*) AS cnt,
               CAST(SUM(spend) AS DECIMAL(38,6)) AS bsum
        FROM cust GROUP BY 1
    ),
    c AS (
        SELECT bin, cnt, bsum,
               SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cumcnt,
               SUM(bsum) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS cumsum,
               SUM(cnt) OVER () AS n_tot,
               SUM(bsum) OVER () AS tot
        FROM b
    ),
    t AS (
        SELECT cnt, bsum, n_tot, tot,
               CAST(CEIL(10.0 * cumcnt / n_tot) AS INT) AS decile,
               (CAST(cumcnt AS DOUBLE) / n_tot
                - CAST(LAG(cumcnt, 1, 0) OVER (ORDER BY bin) AS DOUBLE) / n_tot)
               * (CAST(cumsum AS DOUBLE) / CAST(tot AS DOUBLE)
                  + CAST(LAG(cumsum, 1, 0) OVER (ORDER BY bin) AS DOUBLE)
                    / CAST(tot AS DOUBLE)) AS trap
        FROM c
    )
    SELECT CAST(SUM(cnt) AS BIGINT) AS n_customers,
           COUNT(*) AS n_bins,
           ROUND(1 - SUM(trap), 6) AS gini,
           ROUND(CAST(SUM(CASE WHEN decile = 10 THEN bsum END) AS DOUBLE)
                 / NULLIF(CAST(MIN(tot) AS DOUBLE), 0), 6) AS top_decile_share,
           ROUND(CAST(SUM(CASE WHEN decile <= 5 THEN bsum END) AS DOUBLE)
                 / NULLIF(CAST(MIN(tot) AS DOUBLE), 0), 6) AS bottom_half_share
    FROM t
    """,
    tags=("analytics", "inequality", "pareto"),
)
def q157_lorenz_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient + Lorenz summary of customer lifetime spend:
    trapezoid-integrated Gini over the binned Lorenz curve, top-decile
    and bottom-half spend shares — the multiplicative complement to
    q152's Theil (Gini weights the middle; Theil the tails) and the
    single number concentration dashboards quote.

    Plan: per-customer aggregate, then everything happens on the
    {_GINI_SPEND_BIN}-unit spend-BIN frame (bounded rows at any scale):
    cumulative windows, decile assignment via ceil-rank, trapezoid
    terms, one final 1-row aggregate. Counts and bin sums are exact,
    so both engines integrate identical doubles. Binned Gini
    understates the exact statistic by at most the within-bin spread —
    at the bin width that error is < 1/n_bins, and it is IDENTICAL in
    both engines by construction.
    """
    cust = _customer_spend(spark, sf_dir)
    b = cust.groupBy(
        F.floor(F.col("spend") / _GINI_SPEND_BIN).cast("long").alias("bin")
    ).agg(
        F.count("*").alias("cnt"),
        F.sum("spend").cast("decimal(38,6)").alias("bsum"),
    )
    wall = Window.partitionBy()
    wasc = Window.orderBy(F.col("bin").asc_nulls_last())  # NULLS LAST: DuckDB's ASC default (round-12 review finding)
    wcum = wasc.rowsBetween(Window.unboundedPreceding, 0)
    c = b.select(
        "bin",
        "cnt",
        "bsum",
        F.sum("cnt").over(wcum).alias("cumcnt"),
        F.sum("bsum").over(wcum).alias("cumsum"),
        F.sum("cnt").over(wall).alias("n_tot"),
        F.sum("bsum").over(wall).alias("tot"),
    )
    p = F.col("cumcnt").cast("double") / F.col("n_tot")
    p_prev = F.lag("cumcnt", 1, 0).over(wasc).cast("double") / F.col("n_tot")
    ld = F.col("cumsum").cast("double") / F.col("tot").cast("double")
    l_prev = (
        F.lag("cumsum", 1, 0).over(wasc).cast("double")
        / F.col("tot").cast("double")
    )
    t = c.select(
        "cnt",
        "bsum",
        "tot",
        F.ceil(10.0 * F.col("cumcnt") / F.col("n_tot")).cast("int").alias("decile"),
        ((p - p_prev) * (ld + l_prev)).alias("trap"),
    )
    return t.agg(
        F.sum("cnt").cast("long").alias("n_customers"),
        F.count("*").alias("n_bins"),
        F.round(1 - F.sum("trap"), 6).alias("gini"),
        F.round(
            F.try_divide(
                F.sum(F.when(F.col("decile") == 10, F.col("bsum"))).cast("double"),
                F.min("tot").cast("double"),
            ),
            6,
        ).alias("top_decile_share"),
        F.round(
            F.try_divide(
                F.sum(F.when(F.col("decile") <= 5, F.col("bsum"))).cast("double"),
                F.min("tot").cast("double"),
            ),
            6,
        ).alias("bottom_half_share"),
    )


@register(
    "q160_cohort_ltv",
    oracle=f"""
    WITH o AS (
        SELECT o_custkey,
               CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT)
                   AS m,
               {duck_money('o_totalprice')} AS price
        FROM orders
    ),
    first_m AS (
        SELECT o_custkey, MIN(m) AS f FROM o GROUP BY o_custkey
    ),
    cohort AS (
        SELECT f, COUNT(*) AS cohort_size FROM first_m GROUP BY f
    ),
    rev AS (
        SELECT fm.f, o.m - fm.f AS month_offset,
               CAST(SUM(o.price) AS DECIMAL(38,6)) AS period_rev
        FROM o JOIN first_m fm ON o.o_custkey = fm.o_custkey
        GROUP BY fm.f, o.m - fm.f
    ),
    cum AS (
        SELECT f, month_offset, period_rev,
               SUM(period_rev) OVER (PARTITION BY f ORDER BY month_offset
                   ROWS UNBOUNDED PRECEDING) AS cum_rev
        FROM rev
    )
    SELECT CAST((c.f // 12) * 100 + (c.f % 12) + 1 AS INT) AS cohort_ym,
           CAST(c.month_offset AS INT) AS month_offset,
           k.cohort_size,
           CAST(c.period_rev AS DOUBLE) AS period_rev,
           ROUND(CAST(c.cum_rev AS DOUBLE) / k.cohort_size, 6)
               AS cum_ltv_per_cust
    FROM cum c JOIN cohort k ON c.f = k.f
    """,
    tags=("analytics", "cohort", "economics"),
)
def q160_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort LTV curves: customers cohorted by FIRST-order month, then
    cumulative revenue per cohort member by month offset — the
    lifetime-value readout that prices acquisition, where q105's
    retention matrix only counts the users still around.

    Plan: per-customer first-month aggregate and the revenue
    aggregation both shuffle on o_custkey (co-partitioned — at cluster
    scale one bucketed exchange serves both); the cohort-size frame is
    month-cardinality and broadcasts; the cumulative window runs per
    cohort over month offsets (bounded by calendar length, not data).
    Month arithmetic is integer (y*12+m), never months_between — the
    two engines' fractional-month conventions differ.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        (F.year("o_orderdate") * 12 + F.month("o_orderdate") - 1)
        .cast("long")
        .alias("m"),
        money("o_totalprice").alias("price"),
    )
    first_m = orders.groupBy("o_custkey").agg(F.min("m").alias("f"))
    cohort = first_m.groupBy("f").agg(F.count("*").alias("cohort_size"))
    rev = (
        orders.join(first_m, "o_custkey")
        .groupBy("f", (F.col("m") - F.col("f")).alias("month_offset"))
        .agg(F.sum("price").cast("decimal(38,6)").alias("period_rev"))
    )
    wcum = (
        Window.partitionBy("f")
        .orderBy(F.col("month_offset").asc_nulls_last())  # NULLS LAST: DuckDB's ASC default (round-12 review finding)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = rev.select(
        "f",
        "month_offset",
        "period_rev",
        F.sum("period_rev").over(wcum).alias("cum_rev"),
    )
    return cum.join(F.broadcast(cohort), "f").select(
        ((F.col("f") / 12).cast("long") * 100 + F.col("f") % 12 + 1)
        .cast("int")
        .alias("cohort_ym"),
        F.col("month_offset").cast("int").alias("month_offset"),
        "cohort_size",
        F.col("period_rev").cast("double").alias("period_rev"),
        F.round(
            F.col("cum_rev").cast("double") / F.col("cohort_size"), 6
        ).alias("cum_ltv_per_cust"),
    )


@register(
    "q161_triple_itemsets",
    oracle=f"""
    WITH b AS (
        SELECT DISTINCT l.l_orderkey AS ok, p.p_brand AS brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    ),
    n AS (SELECT COUNT(DISTINCT ok) AS n_baskets FROM b),
    item AS (SELECT brand, COUNT(*) AS n_item FROM b GROUP BY brand),
    tri AS (
        SELECT a.brand AS brand_a, c.brand AS brand_b, d.brand AS brand_c,
               COUNT(*) AS n_triple
        FROM b a
        JOIN b c ON a.ok = c.ok AND a.brand < c.brand
        JOIN b d ON c.ok = d.ok AND c.brand < d.brand
        GROUP BY 1, 2, 3
    )
    SELECT brand_a, brand_b, brand_c, n_triple,
           ROUND(CAST(n_triple AS DOUBLE) / n_baskets, 6) AS support,
           ROUND(CAST(n_triple AS DOUBLE) * n_baskets * n_baskets
                 / (CAST(ia.n_item AS DOUBLE) * ib.n_item * ic.n_item), 6)
               AS lift
    FROM tri
    JOIN item ia ON tri.brand_a = ia.brand
    JOIN item ib ON tri.brand_b = ib.brand
    JOIN item ic ON tri.brand_c = ic.brand
    CROSS JOIN n
    WHERE CAST(n_triple AS DOUBLE) / n_baskets >= {_RULE_MIN_SUPPORT}
    """,
    tags=("analytics", "basket", "ml"),
)
def q161_triple_itemsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent 3-itemsets at brand granularity with support and
    independence lift — Apriori one level past q141's pair pass, the
    depth where bundle recommendations live.

    Plan: the same bounded-fan-out argument as q141, one combination
    level deeper: <= 25 brands per order bound the per-basket triple
    fan-out at C(25,3) (a constant), so the triple frame is linear in
    baskets and the RESULT frame constant (<= 2300 ordered triples) at
    any scale. The dedup'ed (ok, brand) frame derives from the shared
    basket-array frame by EXPLODE (:func:`_brand_baskets` — already
    hash-partitioned by ok, which explode preserves), so the two
    triple-building self-joins need NO further exchange: one shuffle of
    the raw rows total. HOF expansions keep LOSING here at scale: the
    round-10 nested-slice C(k,3) probe was 1.7x slower at the 100x
    replica, and the round-13 half-HOF (q141-style pair expansion +
    one join) won 8/8 interleaved pairs at sf0.1 (-0.7 s) but lost
    ~1.25x at a 30x replica probe — per-basket struct allocation loses
    to exchange-free codegen'd joins once basket count dominates, so
    the join form stays (both probes recorded in OPTIMIZATION_r13.md).
    Round-13 tail: the three per-brand count broadcasts and the basket
    total fold into TWO 1-row broadcast attaches (a count row + a
    brand->count map; lift reads the map) — two broadcast-build jobs
    and one item aggregation per action instead of four and three.
    """
    # An anti-monotone min-support prefilter was measured and rejected:
    # the generator's 25 brands are uniform (min per-brand basket count
    # 20 958 at sf0.1 vs a support threshold of 147), so it prunes zero
    # rows.
    baskets = _brand_baskets(spark, sf_dir)
    flat = baskets.select("ok", F.explode("bs").alias("brand")).persist()
    # Basket count from the PERSISTED flat frame (every basket array is
    # non-empty — it's a collect_set over inner-joined rows — so
    # distinct ok == basket count); counting `baskets` directly would
    # recompute the whole join+collect_set build a second time, and
    # flat's ok-hash-partitioning makes the partial distinct exchange-free.
    n = flat.agg(F.count_distinct("ok").alias("n_baskets"))
    imap = (
        flat.groupBy("brand")
        .agg(F.count("*").alias("n_item"))
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("brand", "n_item"))
            ).alias("imap")
        )
    )
    a_, c_, d_ = flat.alias("a"), flat.alias("c"), flat.alias("d")
    tri = (
        a_.join(
            c_,
            (F.col("a.ok") == F.col("c.ok")) & (F.col("a.brand") < F.col("c.brand")),
        )
        .join(
            d_,
            (F.col("c.ok") == F.col("d.ok")) & (F.col("c.brand") < F.col("d.brand")),
        )
        .groupBy(
            F.col("a.brand").alias("brand_a"),
            F.col("c.brand").alias("brand_b"),
            F.col("d.brand").alias("brand_c"),
        )
        .agg(F.count("*").alias("n_triple"))
    )
    j = tri.crossJoin(F.broadcast(n)).crossJoin(F.broadcast(imap))
    nb = F.col("n_baskets").cast("double")
    support = F.col("n_triple").cast("double") / nb
    return j.where(support >= _RULE_MIN_SUPPORT).select(
        "brand_a",
        "brand_b",
        "brand_c",
        "n_triple",
        F.round(support, 6).alias("support"),
        F.round(
            F.col("n_triple").cast("double")
            * nb
            * nb
            / (
                F.try_element_at("imap", F.col("brand_a")).cast("double")
                * F.try_element_at("imap", F.col("brand_b"))
                * F.try_element_at("imap", F.col("brand_c"))
            ),
            6,
        ).alias("lift"),
    )


@register(
    "q162_chi2_independence",
    oracle="""
    WITH obs AS (
        SELECT o_orderpriority AS pri, o_orderstatus AS st,
               COUNT(*) AS o
        FROM orders GROUP BY 1, 2
    ),
    m AS (
        SELECT pri, st, o,
               SUM(o) OVER (PARTITION BY pri) AS row_tot,
               SUM(o) OVER (PARTITION BY st) AS col_tot,
               SUM(o) OVER () AS n
        FROM obs
    ),
    cells AS (
        SELECT n,
               CAST(row_tot AS DOUBLE) * col_tot / n AS e,
               (o - CAST(row_tot AS DOUBLE) * col_tot / n)
               * (o - CAST(row_tot AS DOUBLE) * col_tot / n)
               / (CAST(row_tot AS DOUBLE) * col_tot / n) AS term
        FROM m
    )
    SELECT CAST(MIN(n) AS BIGINT) AS n,
           (SELECT COUNT(DISTINCT pri) FROM obs) AS n_rows,
           (SELECT COUNT(DISTINCT st) FROM obs) AS n_cols,
           CAST(((SELECT COUNT(DISTINCT pri) FROM obs) - 1)
                * ((SELECT COUNT(DISTINCT st) FROM obs) - 1) AS BIGINT) AS dof,
           ROUND(SUM(term), 6) AS chi2,
           ROUND(SQRT(SUM(term) / (MIN(n) * LEAST(
               (SELECT COUNT(DISTINCT pri) FROM obs) - 1,
               (SELECT COUNT(DISTINCT st) FROM obs) - 1))), 6) AS cramers_v
    FROM cells
    """,
    tags=("analytics", "statistics", "independence"),
)
def q162_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square test of independence between order priority and
    order status, with Cramér's V effect size — the categorical
    dependence screen a data-quality layer runs between any two
    dimension columns (neither engine ships a chi2 CDF, so the
    engine-native deliverable is the statistic + dof + V, compared
    against external tables).

    Plan: ONE hash aggregate to the r x c contingency frame (15 cells
    here), marginals via windows over that frame, one 1-row reduce.
    Counts are exact integers, so expected counts and the chi2 sum are
    identical doubles in both engines.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("pri"), F.col("o_orderstatus").alias("st")
    )
    obs = orders.groupBy("pri", "st").agg(F.count("*").alias("o"))
    m = obs.select(
        "pri",
        "st",
        "o",
        F.sum("o").over(Window.partitionBy("pri")).alias("row_tot"),
        F.sum("o").over(Window.partitionBy("st")).alias("col_tot"),
        F.sum("o").over(Window.partitionBy()).alias("n"),
    )
    e = F.col("row_tot").cast("double") * F.col("col_tot") / F.col("n")
    cells = m.select(
        "n",
        "pri",
        "st",
        ((F.col("o") - e) * (F.col("o") - e) / e).alias("term"),
    )
    return cells.agg(
        F.min("n").cast("long").alias("n"),
        F.count_distinct("pri").alias("n_rows"),
        F.count_distinct("st").alias("n_cols"),
        ((F.count_distinct("pri") - 1) * (F.count_distinct("st") - 1))
        .cast("long")
        .alias("dof"),
        F.round(F.sum("term"), 6).alias("chi2"),
        # try_divide: a single-valued dimension makes least(r-1, c-1)
        # zero — ANSI would throw where the oracle's division yields
        # NULL (and sqrt(NULL) stays NULL in both engines).
        F.round(
            F.sqrt(
                F.try_divide(
                    F.sum("term"),
                    F.min("n")
                    * F.least(
                        F.count_distinct("pri") - 1, F.count_distinct("st") - 1
                    ),
                )
            ),
            6,
        ).alias("cramers_v"),
    )


@register(
    "q164_interpurchase_intervals",
    oracle="""
    WITH seq AS (
        SELECT o_custkey,
               CAST(o_orderdate AS DATE)
                 - LAG(CAST(o_orderdate AS DATE)) OVER (
                     PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey) AS gap_days
        FROM orders
    ),
    g AS (
        SELECT c.c_mktsegment AS segment, s.gap_days
        FROM seq s JOIN customer c ON s.o_custkey = c.c_custkey
        WHERE s.gap_days IS NOT NULL
    ),
    vw AS (
        SELECT segment, gap_days AS v, COUNT(*) AS cnt
        FROM g GROUP BY segment, gap_days
    ),
    c AS (
        SELECT segment, v, cnt,
               SUM(cnt) OVER (PARTITION BY segment ORDER BY v
                   ROWS UNBOUNDED PRECEDING) AS cum,
               SUM(cnt) OVER (PARTITION BY segment) AS tot,
               SUM(CAST(v AS DECIMAL(18,0)) * cnt)
                   OVER (PARTITION BY segment) AS sv
        FROM vw
    )
    SELECT segment,
           CAST(MIN(tot) AS BIGINT) AS n_gaps,
           CAST(MIN(CASE WHEN 2 * cum >= tot THEN v END) AS INT) AS median_days,
           CAST(MIN(CASE WHEN 10 * cum >= 9 * tot THEN v END) AS INT) AS p90_days,
           ROUND(CAST(MIN(sv) AS DOUBLE) / MIN(tot), 6) AS avg_days
    FROM c GROUP BY segment
    """,
    tags=("analytics", "behavior", "quantiles"),
)
def q164_interpurchase_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase interval profile per market segment: median, p90
    and mean days between a customer's consecutive orders — the
    repurchase-cadence metric that sets reorder-reminder timing and
    churn thresholds (a customer 3x past their segment median is
    churning).

    Plan: one customer-partitioned ordered window (tie-broken on
    orderkey) produces integer day gaps; the segment attaches by
    broadcast dim join; quantiles use the q151 distinct-value
    machinery — gaps collapse to (segment, gap_days) frequency rows
    (bounded by the calendar, not data) and the quantile picks are
    exact integer comparisons. The mean comes from an exact decimal
    day sum.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.col("o_orderdate").cast("date").alias("day")
    )
    w = Window.partitionBy("o_custkey").orderBy("day", "o_orderkey")
    seq = orders.select(
        "o_custkey",
        F.datediff("day", F.lag("day").over(w)).alias("gap_days"),
    ).where(F.col("gap_days").isNotNull())
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_mktsegment").alias("segment"),
    )
    g = seq.join(F.broadcast(dim), "o_custkey").select("segment", "gap_days")
    vw = g.groupBy("segment", F.col("gap_days").alias("v")).agg(
        F.count("*").alias("cnt")
    )
    wp = Window.partitionBy("segment")
    wc = wp.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    c = vw.select(
        "segment",
        "v",
        F.sum("cnt").over(wc).alias("cum"),
        F.sum("cnt").over(wp).alias("tot"),
        F.sum(F.col("v").cast("decimal(18,0)") * F.col("cnt")).over(wp).alias("sv"),
    )
    return c.groupBy("segment").agg(
        F.min("tot").cast("long").alias("n_gaps"),
        F.min(F.when(2 * F.col("cum") >= F.col("tot"), F.col("v")))
        .cast("int")
        .alias("median_days"),
        F.min(F.when(10 * F.col("cum") >= 9 * F.col("tot"), F.col("v")))
        .cast("int")
        .alias("p90_days"),
        F.round(F.min("sv").cast("double") / F.min("tot"), 6).alias("avg_days"),
    )


# Kaplan-Meier time-to-event: first "high-value purchase" (value >=
# _KM_VALUE) after a user's first event; censored at the user's last
# observed day otherwise. At the fixture this yields ~85% observed /
# 15% censored with durations spread over the whole month.
_KM_VALUE = 90


@register(
    "q177_kaplan_meier",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               MIN(CAST(ts AS DATE)) AS f,
               MIN(CASE WHEN event_type = 'purchase' AND value >= {_KM_VALUE}
                        THEN CAST(ts AS DATE) END) AS p,
               MAX(CAST(ts AS DATE)) AS l
        FROM events GROUP BY user_id
    ),
    d AS (
        SELECT COALESCE(p, l) - f AS duration,
               CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END AS observed
        FROM u
    ),
    g AS (
        SELECT duration, SUM(observed) AS d_obs, COUNT(*) AS n_all
        FROM d GROUP BY duration
    ),
    r AS (
        SELECT duration, d_obs, n_all,
               SUM(n_all) OVER (ORDER BY duration
                                ROWS BETWEEN CURRENT ROW
                                AND UNBOUNDED FOLLOWING) AS n_risk
        FROM g
    ),
    s AS (
        SELECT duration, d_obs, n_all, n_risk,
               SUM(CASE WHEN d_obs < n_risk
                        THEN ln(1 - d_obs / CAST(n_risk AS DOUBLE)) END)
                   OVER (ORDER BY duration) AS log_s,
               MAX(CASE WHEN d_obs >= n_risk THEN 1 ELSE 0 END)
                   OVER (ORDER BY duration) AS extinct
        FROM r
    )
    SELECT CAST(duration AS BIGINT) AS duration,
           CAST(n_risk AS BIGINT) AS n_risk,
           CAST(d_obs AS BIGINT) AS n_events,
           CAST(n_all - d_obs AS BIGINT) AS n_censored,
           CASE WHEN extinct = 1 THEN 0.0
                ELSE ROUND(exp(log_s), 6) END AS survival
    FROM s WHERE d_obs >= 1
    """,
    tags=("analytics", "survival", "experimentation"),
)
def q177_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival estimator (Kaplan & Meier 1958 — the
    standard right-censored time-to-event curve): time from each user's
    first event to their first high-value purchase (value >=
    {_KM_VALUE}); users who never get there are CENSORED at their last
    observed day instead of discarded — the statistical honesty that
    separates survival analysis from a naive conversion-time average.
    Output: each event time with the at-risk count, events, censorings
    and the product-limit survival estimate.

    Plan: ONE corpus-sized per-user aggregate; everything after runs on
    the duration-cardinality frame (bounded by the observation window in
    days — ~31 rows here, never user- or event-sized), where the
    at-risk counts are a descending cumulative window and the product
    limit is exp of a cumulative ln sum (guarded so an extinct risk set
    yields exactly 0 instead of ln(0) engine quirks).
    """
    ev = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    u = ev.groupBy("user_id").agg(
        F.min(day).alias("f"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") >= _KM_VALUE),
                day,
            )
        ).alias("p"),
        F.max(day).alias("l"),
    )
    d = u.select(
        F.datediff(F.coalesce("p", "l"), F.col("f")).alias("duration"),
        F.col("p").isNotNull().cast("int").alias("observed"),
    )
    g = d.groupBy("duration").agg(
        F.sum("observed").alias("d_obs"), F.count("*").alias("n_all")
    )
    # asc_nulls_last on BOTH frames: a NULL duration (all-NULL-ts user)
    # sorts first in Spark but last in DuckDB, which would exclude it
    # from every Spark n_risk frame while the oracle counts it in all
    # of them (round-11 review finding).
    w_desc = Window.orderBy(F.asc_nulls_last("duration")).rowsBetween(
        0, Window.unboundedFollowing
    )
    w_asc = Window.orderBy(F.asc_nulls_last("duration")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    r = g.withColumn("n_risk", F.sum("n_all").over(w_desc))
    s = r.select(
        "duration",
        "d_obs",
        "n_all",
        "n_risk",
        F.sum(
            F.when(
                F.col("d_obs") < F.col("n_risk"),
                F.log(1 - F.col("d_obs") / F.col("n_risk").cast("double")),
            )
        ).over(w_asc).alias("log_s"),
        F.max(
            (F.col("d_obs") >= F.col("n_risk")).cast("int")
        ).over(w_asc).alias("extinct"),
    )
    return s.where(F.col("d_obs") >= 1).select(
        F.col("duration").cast("long").alias("duration"),
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d_obs").cast("long").alias("n_events"),
        (F.col("n_all") - F.col("d_obs")).cast("long").alias("n_censored"),
        F.when(F.col("extinct") == 1, F.lit(0.0))
        .otherwise(F.round(F.exp("log_s"), 6))
        .alias("survival"),
    )


_WINSOR_LO, _WINSOR_HI = 0.05, 0.95


@register(
    "q191_winsorized_stats",
    oracle=f"""
    WITH u AS (
        SELECT user_id,
               ROUND(SUM(CASE WHEN event_type = 'purchase'
                                   AND isfinite(value) THEN value
                              ELSE 0 END), 6) AS metric
        FROM events GROUP BY user_id
    ),
    q AS (
        SELECT quantile_cont(metric, {_WINSOR_LO}) AS lo,
               quantile_cont(metric, {_WINSOR_HI}) AS hi
        FROM u
    ),
    wz AS (
        SELECT metric,
               LEAST(GREATEST(metric, lo), hi) AS wmetric,
               CASE WHEN metric >= lo AND metric <= hi THEN 1 ELSE 0 END
                   AS in_band
        FROM u CROSS JOIN q
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           ROUND(AVG(metric), 6) AS mean_raw,
           ROUND(stddev_samp(metric), 6) AS std_raw,
           ROUND(AVG(wmetric), 6) AS mean_winsor,
           ROUND(stddev_samp(wmetric), 6) AS std_winsor,
           ROUND(AVG(CASE WHEN in_band = 1 THEN metric END), 6)
               AS mean_trim,
           CAST(SUM(in_band) AS BIGINT) AS n_trim
    FROM wz
    """,
    tags=("analytics", "robust", "experimentation"),
)
def q191_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized and trimmed moments of per-user purchase revenue at
    the [{_WINSOR_LO}, {_WINSOR_HI}] interpolated quantiles — the
    whale-robust metric treatment experimentation platforms apply
    before t-style readouts (q110/q184's motivation made operational:
    clamp or drop the tails, report how much the moments move).
    Spark's ``percentile`` and DuckDB's ``quantile_cont`` share the
    continuous-interpolation definition, so the cutpoints are exact
    cross-engine (the q52 precedent); the per-user metric is rounded
    to 6 before quantiling so tie GROUPS agree.

    Plan: one per-user aggregate, ONE 1-row quantile aggregate
    broadcast back (cross-attach), one final 1-row aggregate — three
    corpus-free stages after the per-user shuffle every user metric
    pays. At 100 TB swap the exact percentile for approx_percentile
    (same call shape) if the per-user frame outgrows a sort.
    """
    ev = load_table(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.round(
            F.sum(
                # non-finite purchase values contribute 0 like NULLs do
                # (the money() policy): a NaN otherwise poisoned every
                # moment into NaN while the oracle's STDDEV hard-
                # errored (round-12 review finding)
                F.when(
                    (F.col("event_type") == "purchase")
                    & mask_non_finite("value").isNotNull(),
                    F.col("value"),
                ).otherwise(F.lit(0.0))
            ),
            6,
        ).alias("metric")
    )
    q = u.agg(
        F.expr(f"percentile(metric, {_WINSOR_LO}D)").alias("lo"),
        F.expr(f"percentile(metric, {_WINSOR_HI}D)").alias("hi"),
    )
    wz = u.crossJoin(F.broadcast(q)).select(
        "metric",
        F.least(F.greatest(F.col("metric"), F.col("lo")), F.col("hi")).alias(
            "wmetric"
        ),
        (
            (F.col("metric") >= F.col("lo")) & (F.col("metric") <= F.col("hi"))
        ).cast("int").alias("in_band"),
    )
    return wz.agg(
        F.count("*").alias("n_users"),
        F.round(F.avg("metric"), 6).alias("mean_raw"),
        F.round(F.stddev_samp("metric"), 6).alias("std_raw"),
        F.round(F.avg("wmetric"), 6).alias("mean_winsor"),
        F.round(F.stddev_samp("wmetric"), 6).alias("std_winsor"),
        F.round(
            F.avg(F.when(F.col("in_band") == 1, F.col("metric"))), 6
        ).alias("mean_trim"),
        F.sum("in_band").cast("long").alias("n_trim"),
    )


@register(
    "q193_join_cardinality_audit",
    oracle="""
    WITH k AS (
        SELECT l_partkey AS key, CAST(COUNT(*) AS DOUBLE) AS c
        FROM lineitem GROUP BY l_partkey
    ),
    s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(c) AS BIGINT) AS total_rows,
               CAST(SUM(c * c) AS BIGINT) AS total_pairs,
               CAST(MAX(c * c) AS BIGINT) AS max_key_pairs,
               SUM(c * c) AS tp,
               MAX(c * c) AS mp,
               COUNT(*) AS nk
        FROM k
    )
    SELECT n_keys, total_rows, total_pairs, max_key_pairs,
           ROUND(mp / tp, 6) AS top1_share,
           ROUND(mp / (tp / nk), 6) AS skew_ratio
    FROM s
    """,
    tags=("analytics", "planning", "skew"),
)
def q193_join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact pre-flight sizing of the self-equi-join on l_partkey (the
    q67 basket-pair shape): output cardinality Sum c(k)^2 from the key
    histogram ALONE — the number you compute BEFORE submitting a
    100 TB N:M join, because it predicts both shuffle output volume
    and the worst single-task fan-out. max_key_pairs vs the mean
    (skew_ratio) is the decision signal between a plain shuffle join,
    AQE skew splitting, and the q18-style salting remedy.

    Plan: ONE hash aggregate to the key histogram, ONE 1-row moment
    aggregate over it — strictly cheaper than the join it sizes, by
    construction. At 100 TB: a single map-side-combined count shuffle.
    """
    li = load_table(spark, sf_dir, "lineitem")
    k = li.groupBy("l_partkey").agg(F.count("*").cast("double").alias("c"))
    s = k.agg(
        F.count("*").alias("nk"),
        F.sum("c").alias("tr"),
        F.sum(F.col("c") * F.col("c")).alias("tp"),
        F.max(F.col("c") * F.col("c")).alias("mp"),
    )
    return s.select(
        F.col("nk").cast("long").alias("n_keys"),
        F.col("tr").cast("long").alias("total_rows"),
        F.col("tp").cast("long").alias("total_pairs"),
        F.col("mp").cast("long").alias("max_key_pairs"),
        F.round(F.try_divide(F.col("mp"), F.col("tp")), 6).alias("top1_share"),
        F.round(
            F.try_divide(F.col("mp"), F.try_divide(F.col("tp"), F.col("nk"))), 6
        ).alias("skew_ratio"),
    )


@register(
    "q200_discount_elasticity",
    oracle="""
    WITH x AS (
        SELECT p.p_brand AS brand,
               ln(CAST(l.l_quantity AS DOUBLE)) AS lq,
               ln(l.l_extendedprice / l.l_quantity * (1 - l.l_discount))
                   AS lp
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE l.l_quantity > 0 AND l.l_extendedprice > 0
          AND l.l_discount < 1
    ),
    m AS (
        SELECT brand, CAST(COUNT(*) AS DOUBLE) AS n,
               SUM(lp) AS sx, SUM(lq) AS sy, SUM(lp * lq) AS sxy,
               SUM(lp * lp) AS sxx, SUM(lq * lq) AS syy
        FROM x GROUP BY brand
    )
    SELECT brand, CAST(n AS BIGINT) AS n_items,
           ROUND((n * sxy - sx * sy) / NULLIF(n * sxx - sx * sx, 0), 6)
               AS elasticity,
           ROUND(pow(n * sxy - sx * sy, 2)
                 / NULLIF((n * sxx - sx * sx) * (n * syy - sy * sy), 0), 6)
               AS r2
    FROM m
    """,
    tags=("analytics", "ml", "grouped-regression"),
)
def q200_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-brand price elasticity of demand: the log-log OLS slope of
    quantity on effective unit price (extendedprice/quantity scaled by
    1-discount), one tiny regression PER GROUP — the "many small
    models" pattern (q139 fits one global OLS; real pipelines fit
    thousands of per-segment models in one aggregate pass). r2 from
    the same co-moments says which brands the fit means anything for.

    Plan: broadcast part dim onto one lineitem scan, ONE hash
    aggregate carrying 6 co-moment sums per brand (bounded key space),
    closed-form slope/r2 arithmetic on the bounded frame. At 100 TB:
    one scan + one map-side-combined shuffle; the regression count
    scales with BRANDS, not rows. try_divide/NULLIF guard degenerate
    (constant-price) brands.
    """
    li = load_table(spark, sf_dir, "lineitem")
    pt = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    x = (
        li.where(
            (F.col("l_quantity") > 0)
            & (F.col("l_extendedprice") > 0)
            & (F.col("l_discount") < 1)
        )
        .join(F.broadcast(pt), F.col("l_partkey") == F.col("p_partkey"))
        .select(
            F.col("p_brand").alias("brand"),
            F.log(F.col("l_quantity").cast("double")).alias("lq"),
            F.log(
                F.col("l_extendedprice")
                / F.col("l_quantity")
                * (1 - F.col("l_discount"))
            ).alias("lp"),
        )
    )
    m = x.groupBy("brand").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("lp").alias("sx"),
        F.sum("lq").alias("sy"),
        F.sum(F.col("lp") * F.col("lq")).alias("sxy"),
        F.sum(F.col("lp") * F.col("lp")).alias("sxx"),
        F.sum(F.col("lq") * F.col("lq")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    dxx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    dyy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return m.select(
        "brand",
        F.col("n").cast("long").alias("n_items"),
        F.round(F.try_divide(num, dxx), 6).alias("elasticity"),
        F.round(F.try_divide(num * num, dxx * dyy), 6).alias("r2"),
    )


# Two-sample Cramér–von Mises asymptotic 5% critical value (Anderson &
# Darling 1952 table for the omega^2 limit distribution; the classic
# 0.461 threshold) — pinned identically in both engines.
_CVM_CRIT = 0.461435


@register(
    "q209_cvm_drift",
    oracle=f"""
    WITH bounds AS (
        SELECT CAST((epoch_us(MIN(ts)) + epoch_us(MAX(ts))) // 2 AS BIGINT)
            AS mid
        FROM events
    ),
    e AS (
        SELECT event_type,
               CASE WHEN isfinite(value)
                    THEN CAST(FLOOR(value / {_KS_VALUE_BIN}) AS BIGINT)
               END AS bin,
               CASE WHEN epoch_us(ts) < mid THEN 1 ELSE 0 END AS first_half
        FROM events, bounds
    ),
    g AS (
        SELECT event_type, bin,
               CAST(SUM(first_half) AS BIGINT) AS c1,
               CAST(SUM(1 - first_half) AS BIGINT) AS c2
        FROM e GROUP BY event_type, bin
    ),
    c AS (
        SELECT event_type, c1 + c2 AS ct,
               SUM(c1) OVER (PARTITION BY event_type ORDER BY bin
                   ROWS UNBOUNDED PRECEDING) AS cum1,
               SUM(c2) OVER (PARTITION BY event_type ORDER BY bin
                   ROWS UNBOUNDED PRECEDING) AS cum2,
               SUM(c1) OVER (PARTITION BY event_type) AS t1,
               SUM(c2) OVER (PARTITION BY event_type) AS t2
        FROM g
    )
    SELECT event_type,
           CAST(MIN(t1) AS BIGINT) AS n_first,
           CAST(MIN(t2) AS BIGINT) AS n_second,
           ROUND(CAST(MIN(t1) AS DOUBLE) * MIN(t2)
                 / (CAST(MIN(t1) + MIN(t2) AS DOUBLE)
                    * CAST(MIN(t1) + MIN(t2) AS DOUBLE))
                 * SUM(ct * (CAST(cum1 AS DOUBLE) / NULLIF(t1, 0)
                             - CAST(cum2 AS DOUBLE) / NULLIF(t2, 0))
                          * (CAST(cum1 AS DOUBLE) / NULLIF(t1, 0)
                             - CAST(cum2 AS DOUBLE) / NULLIF(t2, 0))), 6)
               AS cvm_stat,
           CAST(CASE WHEN CAST(MIN(t1) AS DOUBLE) * MIN(t2)
                 / (CAST(MIN(t1) + MIN(t2) AS DOUBLE)
                    * CAST(MIN(t1) + MIN(t2) AS DOUBLE))
                 * SUM(ct * (CAST(cum1 AS DOUBLE) / NULLIF(t1, 0)
                             - CAST(cum2 AS DOUBLE) / NULLIF(t2, 0))
                          * (CAST(cum1 AS DOUBLE) / NULLIF(t1, 0)
                             - CAST(cum2 AS DOUBLE) / NULLIF(t2, 0)))
                 > {_CVM_CRIT} THEN 1 ELSE 0 END AS INT) AS drift_flag
    FROM c GROUP BY event_type
    """,
    tags=("analytics", "drift", "quality"),
)
def q209_cvm_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises drift test per event type (first
    time-half vs second, same split and value bins as q156): the
    statistic integrates the SQUARED ECDF gap over the pooled sample
    instead of taking its max, so it reads whole-distribution drift
    where KS reads the single worst point — the standard companion
    test (q156 KS = supremum norm; this = L2 norm; q96 PSI = binned
    re-weighting). T = n1*n2/N^2 * sum over pooled points of
    (E1-E2)^2, computed on the binned ECDFs with each bin weighted by
    its pooled count; flagged against the asymptotic 5% critical value
    {_CVM_CRIT}.

    Plan: identical shape to q156 — one 1-row bounds broadcast, one
    (type, bin) hash aggregate, ECDFs + the weighted quadratic reduce
    on that bounded frame. try_divide guards an empty half.
    """
    g = _half_split_side_counts(spark, sf_dir)
    wp = Window.partitionBy("event_type")
    # asc_nulls_last: a NULL value bin must enter the ECDF LAST like
    # DuckDB's default ordering, not first (round-11 review finding —
    # the windows.py:356 convention).
    wc = wp.orderBy(F.asc_nulls_last("bin")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    c = g.select(
        "event_type",
        (F.col("c1") + F.col("c2")).alias("ct"),
        F.sum("c1").over(wc).alias("cum1"),
        F.sum("c2").over(wc).alias("cum2"),
        F.sum("c1").over(wp).alias("t1"),
        F.sum("c2").over(wp).alias("t2"),
    )
    gap = F.try_divide(F.col("cum1").cast("double"), F.col("t1")) - F.try_divide(
        F.col("cum2").cast("double"), F.col("t2")
    )
    out = c.groupBy("event_type").agg(
        F.min("t1").cast("long").alias("n_first"),
        F.min("t2").cast("long").alias("n_second"),
        (
            F.min("t1").cast("double")
            * F.min("t2")
            / (
                (F.min("t1") + F.min("t2")).cast("double")
                * (F.min("t1") + F.min("t2")).cast("double")
            )
            * F.sum(F.col("ct") * gap * gap)
        ).alias("t_raw"),
    )
    return out.select(
        "event_type",
        "n_first",
        "n_second",
        F.round("t_raw", 6).alias("cvm_stat"),
        F.when(F.col("t_raw") > _CVM_CRIT, 1).otherwise(0).alias("drift_flag"),
    )


_IG_VALUE_BIN = 2.0  # value-bin width for the info-gain discretization


@register(
    "q210_info_gain",
    oracle=f"""
    WITH e AS (
        SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
               CAST(hour(ts) AS BIGINT) AS f_hour,
               CAST(dayofweek(ts) AS BIGINT) AS f_dow,
               CASE WHEN isfinite(value)
                    THEN CAST(FLOOR(value / {_IG_VALUE_BIN}) AS BIGINT)
               END AS f_vbin
        FROM events
    ),
    longf AS (
        SELECT 'hour' AS feature, f_hour AS bin, y FROM e
        UNION ALL
        SELECT 'dow', f_dow, y FROM e
        UNION ALL
        SELECT 'value_bin', f_vbin, y FROM e
    ),
    g AS (
        SELECT feature, bin,
               CAST(COUNT(*) AS BIGINT) AS nv,
               CAST(SUM(y) AS BIGINT) AS n1
        FROM longf GROUP BY feature, bin
    ),
    h AS (
        SELECT feature, nv, n1, nv - n1 AS n0,
               SUM(nv) OVER (PARTITION BY feature) AS n,
               SUM(n1) OVER (PARTITION BY feature) AS p1
        FROM g
    ),
    f AS (
        SELECT feature,
               CAST(MIN(n) AS BIGINT) AS n_rows,
               CAST(COUNT(*) AS BIGINT) AS n_bins,
               -(CASE WHEN MIN(p1) = 0 THEN 0 ELSE
                   CAST(MIN(p1) AS DOUBLE) / MIN(n)
                   * ln(CAST(MIN(p1) AS DOUBLE) / MIN(n)) END
                 + CASE WHEN MIN(n) - MIN(p1) = 0 THEN 0 ELSE
                   CAST(MIN(n) - MIN(p1) AS DOUBLE) / MIN(n)
                   * ln(CAST(MIN(n) - MIN(p1) AS DOUBLE) / MIN(n)) END)
                   AS h_label,
               SUM(CAST(nv AS DOUBLE) / n
                   * -(CASE WHEN n1 = 0 THEN 0 ELSE
                        CAST(n1 AS DOUBLE) / nv * ln(CAST(n1 AS DOUBLE) / nv) END
                      + CASE WHEN n0 = 0 THEN 0 ELSE
                        CAST(n0 AS DOUBLE) / nv * ln(CAST(n0 AS DOUBLE) / nv) END))
                   AS h_cond
        FROM h GROUP BY feature
    )
    SELECT feature, n_rows, n_bins,
           ROUND(h_label, 6) AS h_label,
           ROUND(h_cond, 6) AS h_cond,
           ROUND(h_label - h_cond, 6) AS info_gain
    FROM f
    """,
    tags=("analytics", "features", "selection"),
)
def q210_info_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Information gain of three discretized event features (hour of
    day, day of week, {_IG_VALUE_BIN}-wide value bin) against the
    is-purchase label: IG = H(label) - H(label | feature), the
    decision-tree split criterion and the standard feature-usefulness
    screen a training pipeline runs before committing featurization
    budget. Entropies in nats with the 0·ln0 = 0 convention.

    Plan: one scan unpivots the three features to a (feature, bin, y)
    long frame (explode of a 3-entry map — rows 3x, but map-side
    partial agg collapses immediately); one hash aggregate to
    per-(feature, bin) label counts; per-feature totals as windows
    over that bounded frame (bins = 24 + 7 + value range); the entropy
    arithmetic reduces on it. At 100 TB: one fact shuffle on uniformly
    distributed (feature, bin) keys.
    """
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        (F.col("event_type") == "purchase").cast("int").alias("y"),
        F.hour("ts").cast("long").alias("f_hour"),
        F.dayofweek("ts").cast("long").alias("f_dow"),
        # mask_non_finite: NaN/Inf otherwise saturate through floor()
        # into a REAL bin here while the oracle's BIGINT cast
        # hard-errors (round-12 review finding; the money() policy).
        F.floor(mask_non_finite("value") / _IG_VALUE_BIN).cast("long").alias("f_vbin"),
    )
    longf = e.select(
        "y",
        F.explode(
            F.create_map(
                F.lit("hour"), F.col("f_hour"),
                F.lit("dow"), F.col("f_dow"),
                F.lit("value_bin"), F.col("f_vbin"),
            )
        ).alias("feature", "bin"),
    )
    g = longf.groupBy("feature", "bin").agg(
        F.count("*").cast("long").alias("nv"),
        F.sum("y").cast("long").alias("n1"),
    )
    wf = Window.partitionBy("feature")
    h = g.select(
        "feature",
        "nv",
        "n1",
        (F.col("nv") - F.col("n1")).alias("n0"),
        F.sum("nv").over(wf).alias("n"),
        F.sum("n1").over(wf).alias("p1"),
    )

    def _plogp(num: F.Column, den: F.Column) -> F.Column:
        p = num.cast("double") / den
        return F.when(num == 0, F.lit(0.0)).otherwise(p * F.log(p))

    f = h.groupBy("feature").agg(
        F.min("n").cast("long").alias("n_rows"),
        F.count("*").cast("long").alias("n_bins"),
        (
            -(
                _plogp(F.min("p1"), F.min("n"))
                + _plogp(F.min("n") - F.min("p1"), F.min("n"))
            )
        ).alias("h_label_raw"),
        F.sum(
            F.col("nv").cast("double")
            / F.col("n")
            * -(
                _plogp(F.col("n1"), F.col("nv"))
                + _plogp(F.col("n0"), F.col("nv"))
            )
        ).alias("h_cond_raw"),
    )
    return f.select(
        "feature",
        "n_rows",
        "n_bins",
        F.round("h_label_raw", 6).alias("h_label"),
        F.round("h_cond_raw", 6).alias("h_cond"),
        F.round(F.col("h_label_raw") - F.col("h_cond_raw"), 6).alias("info_gain"),
    )


@register(
    "q214_kendall_tau",
    oracle=f"""
    WITH g AS (
        SELECT c.c_nationkey AS nationkey,
               SUM({duck_money('o.o_totalprice', 'DECIMAL(18,2)')}) AS revenue,
               COUNT(*) AS n_orders
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY 1
    ),
    p AS (
        SELECT CASE WHEN (a.revenue < b.revenue AND a.n_orders < b.n_orders)
                      OR (a.revenue > b.revenue AND a.n_orders > b.n_orders)
                    THEN 1 ELSE 0 END AS conc,
               CASE WHEN (a.revenue < b.revenue AND a.n_orders > b.n_orders)
                      OR (a.revenue > b.revenue AND a.n_orders < b.n_orders)
                    THEN 1 ELSE 0 END AS disc,
               CASE WHEN a.revenue = b.revenue THEN 1 ELSE 0 END AS tx,
               CASE WHEN a.n_orders = b.n_orders THEN 1 ELSE 0 END AS ty
        FROM g a JOIN g b ON a.nationkey < b.nationkey
    ),
    s AS (
        SELECT (SELECT COUNT(*) FROM g) AS ng,
               COUNT(*) AS n0, SUM(conc) AS c, SUM(disc) AS d,
               SUM(tx) AS tx, SUM(ty) AS ty
        FROM p
    )
    SELECT CAST(ng AS BIGINT) AS n_groups,
           CAST(n0 AS BIGINT) AS n_pairs,
           CAST(c AS BIGINT) AS concordant,
           CAST(d AS BIGINT) AS discordant,
           CAST(tx AS BIGINT) AS ties_x,
           CAST(ty AS BIGINT) AS ties_y,
           ROUND((c - d) / NULLIF(sqrt(CAST((n0 - tx) AS DOUBLE)
                                       * CAST((n0 - ty) AS DOUBLE)), 0), 6)
               AS tau_b
    FROM s
    """,
    tags=("analytics", "nonparametric", "rank-correlation"),
)
def q214_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between two per-nation metrics —
    does the nation ranking by TOTAL REVENUE agree with the ranking by
    ORDER COUNT? The robust companion to q145's Spearman: tau counts
    concordant vs discordant PAIRS, so one outlier nation moves it by
    at most its pair share, and tau-b's tie terms keep it exact under
    tied counts. Revenue sums in DECIMAL(18,2) so both metrics are
    exact integers/decimals cross-engine and every pair comparison is
    unambiguous.

    Plan: one fact-side join + per-nation aggregate collapses the
    corpus to a NATION-CARDINALITY frame (25 rows); the pair
    comparison is a conditioned BNLJ of that constant-bounded frame
    against itself (a.nationkey < b.nationkey — 300 pairs at any data
    scale; whitelisted like q35's static block grid), then one 1-row
    reduction. At 100 TB only the first aggregate touches the corpus;
    tau itself is O(|nations|^2) driver-negligible work.
    """
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"),
        F.col("c_nationkey").alias("nationkey"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_totalprice").cast("decimal(18,2)").alias("price")
    )
    g = (
        orders.join(cust, "o_custkey")
        .groupBy("nationkey")
        .agg(
            F.sum("price").alias("revenue"),
            F.count("*").alias("n_orders"),
        )
        .coalesce(1)
        .persist()
    )
    a = g.select(
        F.col("nationkey").alias("nk_a"),
        F.col("revenue").alias("xa"),
        F.col("n_orders").alias("ya"),
    )
    b = g.select(
        F.col("nationkey").alias("nk_b"),
        F.col("revenue").alias("xb"),
        F.col("n_orders").alias("yb"),
    )
    pairs = a.join(F.broadcast(b), F.col("nk_a") < F.col("nk_b"))
    conc = (
        ((F.col("xa") < F.col("xb")) & (F.col("ya") < F.col("yb")))
        | ((F.col("xa") > F.col("xb")) & (F.col("ya") > F.col("yb")))
    ).cast("int")
    disc = (
        ((F.col("xa") < F.col("xb")) & (F.col("ya") > F.col("yb")))
        | ((F.col("xa") > F.col("xb")) & (F.col("ya") < F.col("yb")))
    ).cast("int")
    s = pairs.agg(
        F.count("*").alias("n0"),
        F.sum(conc).alias("c"),
        F.sum(disc).alias("d"),
        F.sum((F.col("xa") == F.col("xb")).cast("int")).alias("tx"),
        F.sum((F.col("ya") == F.col("yb")).cast("int")).alias("ty"),
    ).crossJoin(F.broadcast(g.agg(F.count("*").alias("ng"))))
    tau = F.try_divide(
        (F.col("c") - F.col("d")).cast("double"),
        F.nullif(
            F.sqrt(
                (F.col("n0") - F.col("tx")).cast("double")
                * (F.col("n0") - F.col("ty")).cast("double")
            ),
            F.lit(0.0),
        ),
    )
    return s.select(
        F.col("ng").cast("long").alias("n_groups"),
        F.col("n0").cast("long").alias("n_pairs"),
        F.col("c").cast("long").alias("concordant"),
        F.col("d").cast("long").alias("discordant"),
        F.col("tx").cast("long").alias("ties_x"),
        F.col("ty").cast("long").alias("ties_y"),
        F.round(tau, 6).alias("tau_b"),
    )


@register(
    "q215_kruskal_wallis",
    oracle="""
    WITH d AS (
        SELECT source, n_chars FROM documents WHERE n_chars IS NOT NULL
    ),
    v AS (
        SELECT n_chars, COUNT(*) AS c FROM d GROUP BY 1
    ),
    r AS (
        SELECT n_chars, c,
               COALESCE(SUM(c) OVER (ORDER BY n_chars
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   + (c + 1) / 2.0 AS avg_rank
        FROM v
    ),
    gv AS (
        SELECT source, n_chars, COUNT(*) AS gc FROM d GROUP BY 1, 2
    ),
    g AS (
        SELECT gv.source, SUM(gv.gc) AS n_g,
               SUM(gv.gc * r.avg_rank) AS rank_sum
        FROM gv JOIN r ON gv.n_chars = r.n_chars
        GROUP BY 1
    ),
    tot AS (
        SELECT CAST(SUM(n_g) AS DOUBLE) AS n,
               CAST(COUNT(*) AS BIGINT) AS k,
               SUM(rank_sum * rank_sum / n_g) AS srs
        FROM g
    ),
    tie AS (
        SELECT SUM(CAST(c AS DOUBLE) * c * c - c) AS t3t FROM v
    )
    SELECT tot.k AS n_groups,
           CAST(tot.n AS BIGINT) AS n_total,
           ROUND(12.0 / (tot.n * (tot.n + 1)) * tot.srs
                 - 3 * (tot.n + 1), 6) AS h,
           ROUND((12.0 / (tot.n * (tot.n + 1)) * tot.srs - 3 * (tot.n + 1))
                 / NULLIF(1 - tie.t3t / (tot.n * tot.n * tot.n - tot.n), 0),
                 6) AS h_adj
    FROM tot CROSS JOIN tie
    """,
    tags=("analytics", "nonparametric"),
)
def q215_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H test: do document LENGTHS (n_chars) differ
    across sources? The k-group generalization of q184's Mann-Whitney
    (H = 12/(N(N+1)) * sum R_g^2/n_g - 3(N+1) on average ranks), with
    the standard tie correction 1 - sum(t^3 - t)/(N^3 - N) — the
    distribution-free ANOVA a curation pipeline runs before trusting
    per-source length stats.

    Plan: q196's distinct-value device — ranks come from a cumulative
    window over the DISTINCT n_chars frame (value cardinality, never a
    per-document sort), joined back to the (source, value) count
    frame; everything else is bounded aggregates. All rank arithmetic
    is on integer counts, so cross-engine values are exact until the
    two final divisions. At 100 TB: ONE (source, value) corpus
    aggregate (persisted; the distinct-value frame derives from it);
    no global per-row window.
    """
    d = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("n_chars").isNotNull())
        .select("source", "n_chars")
    )
    # ONE corpus aggregate: the distinct-value frame derives from the
    # persisted (source, value) frame (summing gc over sources == the
    # plain value count, NULL-source groups included) — the first cut
    # built v and gv independently, a second full corpus scan at scale.
    gv = d.groupBy("source", "n_chars").agg(F.count("*").alias("gc")).persist()
    v = gv.groupBy("n_chars").agg(F.sum("gc").alias("c"))
    w = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, -1)
    r = v.select(
        "n_chars",
        (
            F.coalesce(F.sum("c").over(w), F.lit(0))
            + (F.col("c") + 1) / 2.0
        ).alias("avg_rank"),
    )
    g = (
        gv.join(r, "n_chars")
        .groupBy("source")
        .agg(
            F.sum("gc").alias("n_g"),
            F.sum(F.col("gc") * F.col("avg_rank")).alias("rank_sum"),
        )
    )
    tot = g.agg(
        F.sum("n_g").cast("double").alias("n"),
        F.count("*").alias("k"),
        F.sum(F.col("rank_sum") * F.col("rank_sum") / F.col("n_g")).alias("srs"),
    )
    tie = v.agg(
        F.sum(
            F.col("c").cast("double") * F.col("c") * F.col("c") - F.col("c")
        ).alias("t3t")
    )
    h = 12.0 / (F.col("n") * (F.col("n") + 1)) * F.col("srs") - 3 * (
        F.col("n") + 1
    )
    # try_divide: a 1-document corpus has n^3 - n = 0; ANSI Spark throws
    # DIVIDE_BY_ZERO even on doubles where DuckDB yields NULL (the q142
    # lesson) — NULL here propagates to h_adj=NULL, matching the oracle.
    corr = 1 - F.try_divide(
        F.col("t3t"), F.col("n") * F.col("n") * F.col("n") - F.col("n")
    )
    return tot.crossJoin(F.broadcast(tie)).select(
        F.col("k").cast("long").alias("n_groups"),
        F.col("n").cast("long").alias("n_total"),
        F.round(h, 6).alias("h"),
        F.round(F.try_divide(h, F.nullif(corr, F.lit(0.0))), 6).alias("h_adj"),
    )
