"""Time-series operators: gap-filled resampling, point-in-interval range
joins, and running/moving window aggregates — the temporal-analytics
surface (SURVEY.md §3 O22/O36 family, widened; the range join is the
classic operator Spark lacks natively, re-expressed as a bucketized
equi-join per the build brief's custom-operator rule (a)).

All built-in column expressions — zero Python in any hot path — and
every query carries a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trafficteach_spark.registry import register
from trafficteach_spark.sources.tables import load_table, persisted_frame


def shared_hourly_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, hr, n, sum_value, avg_raw) over the full types x
    hours grid, gap rows present with n=0 / NULL aggregates — the ONE
    construction q62 (zero-filled resample) and q116 (LOCF fill) both
    project from; round-6 review folded their two near-identical
    6-step pipelines into this helper so the calendar/persist
    discipline cannot drift between them.

    The hourly frame is persisted as ONE instance per (session, sf_dir),
    kept while the events part files are unchanged (``persisted_frame``)
    — per-branch column pruning specializes each consumer's partial
    aggregate so ReuseExchange canNOT share them (the unpersisted first
    cut measured THREE full fact scans), and a per-call persist would
    stack a fresh cache entry per invocation (the q50/q57 leak pattern).
    """
    hourly = persisted_frame(
        spark,
        ("hourly_grid", sf_dir),
        lambda: load_table(spark, sf_dir, "events")
        .select("event_type", "ts", "value")
        .groupBy("event_type", F.date_trunc("hour", "ts").alias("hr"))
        .agg(
            F.count("*").alias("n"),
            F.sum("value").alias("sum_value"),
            F.avg("value").alias("avg_raw"),
        ),
    )
    bounds = hourly.agg(F.min("hr").alias("lo"), F.max("hr").alias("hi"))
    cal = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR"))).alias("hr")
    )
    types = hourly.select("event_type").distinct()
    return (
        types.crossJoin(cal)
        .join(hourly, ["event_type", "hr"], "left")
        .select(
            "event_type",
            "hr",
            F.coalesce(F.col("n"), F.lit(0)).alias("n"),
            "sum_value",
            "avg_raw",
        )
    )


@register(
    "q62_time_resample",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('hour', MIN(ts)) AS lo,
               date_trunc('hour', MAX(ts)) AS hi
        FROM events
    ),
    cal AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
        FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr,
               COUNT(*) AS n, SUM(value) AS sum_value
        FROM events GROUP BY 1, 2
    )
    SELECT t.event_type, c.hr,
           COALESCE(h.n, 0) AS n,
           ROUND(COALESCE(h.sum_value, 0), 6) AS sum_value
    FROM types t
    CROSS JOIN cal c
    LEFT JOIN hourly h ON h.event_type = t.event_type AND h.hr = c.hr
    """,
    tags=("timeseries", "O36"),
)
def q62_time_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled hourly resample: one row per (event_type, hour) over
    the corpus's full hour range, with empty hours surfaced as n=0 —
    the dashboard/monitoring shape where a MISSING bucket is the signal
    (a plain groupBy silently drops it).

    Plan shape: the raw events table is scanned and shuffled ONCE (the
    hourly groupBy); the calendar bounds AND the type list derive from
    the already-aggregated hourly frame, which is persisted (O43) so
    its three consumers read the tiny types-x-hours cache instead of
    re-scanning the fact table. The persist is load-bearing, not just
    derivation order: per-branch column pruning specializes each
    branch's partial aggregate, so ReuseExchange canNOT share them —
    the first cut (derive from raw events, no persist) measured THREE
    full fact scans in the executed plan. The calendar is built
    engine-side via ``sequence`` + ``explode`` (no driver collect);
    grid joins are post-aggregation small, so AQE broadcasts. The grid
    stays tiny at any volume (types x hours grows with time, not data).
    """
    return shared_hourly_grid(spark, sf_dir).select(
        "event_type",
        "hr",
        "n",
        F.round(F.coalesce(F.col("sum_value"), F.lit(0.0)), 6).alias("sum_value"),
    )


# Interval length for the range join: [o_orderdate, o_orderdate + 3 days).
_IVAL_DAYS = 3

# Interval side = "mega-orders" only. A range join's cost is pair
# density: with EVERY order as an interval, ~every lineitem matches
# ~190 orders at sf0.1 (~10^8 pairs before the aggregate — measured
# 98 s) and the matched-pair volume grows QUADRATICALLY with scale
# factor. Point-in-interval analyses are only sane when the interval
# side is sparse (promo windows, incidents, releases); the threshold
# keeps the top ~1% of orders by value and makes that explicit.
_MEGA_PRICE = 495_000.0


@register(
    "q63_range_join",
    oracle=f"""
    SELECT o.o_orderpriority,
           COUNT(*) AS n_pairs,
           COUNT(DISTINCT o.o_orderkey) AS n_orders,
           ROUND(SUM(l.l_quantity), 6) AS sum_qty
    FROM lineitem l
    JOIN orders o
      ON l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL {_IVAL_DAYS} DAY
    WHERE o.o_totalprice > {_MEGA_PRICE}
    GROUP BY 1
    """,
    tags=("timeseries", "range-join"),
)
def q63_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join with NO equi-key: every lineitem
    shipped within [o_orderdate, o_orderdate + 3d) of any
    MEGA-order (top ~1% by value — the sparse-interval side a real
    range-join workload has), aggregated per order priority. Naively
    this is a BroadcastNestedLoopJoin (quadratic scan) — the classic
    missing operator in Spark.

    Re-expressed as a **bucketized equi-join**: each interval explodes
    into the day buckets it covers (bounded fan-out = interval length /
    bucket width = 3 rows), each point maps to exactly ONE
    day bucket, the join runs as a plain shuffled hash join on the
    bucket, and the residual exact range predicate filters within
    bucket matches. A point's bucket appears at most once in any
    interval's exploded cover, so no dedup pass is needed. This is the
    same decomposition DuckDB's IEJoin / Flink's interval join perform
    internally — here it is explicit, so Catalyst sees an equi-join and
    scales it with ordinary shuffle partitioning at 100 TB (bucket
    width should track median interval length; skewed hot days fall out
    to AQE skew-join splitting).
    """
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_totalprice") > _MEGA_PRICE)
        .select("o_orderkey", "o_orderpriority", "o_orderdate")
    )
    end_excl = F.col("o_orderdate") + F.expr(f"INTERVAL {_IVAL_DAYS} DAYS")
    ivals = orders.withColumn(
        "day",
        F.explode(
            F.sequence(
                F.date_trunc("day", F.col("o_orderdate")),
                # last covered bucket: truncate the inclusive end (end - 1us)
                F.date_trunc("day", end_excl - F.expr("INTERVAL 1 MICROSECOND")),
                F.expr("INTERVAL 1 DAY"),
            )
        ),
    )
    points = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_shipdate", "l_quantity"
    )
    matched = points.join(
        ivals, F.date_trunc("day", F.col("l_shipdate")) == F.col("day")
    ).where(
        (F.col("l_shipdate") >= F.col("o_orderdate"))
        & (F.col("l_shipdate") < end_excl)
    )
    return matched.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_pairs"),
        F.countDistinct("o_orderkey").alias("n_orders"),
        F.round(F.sum("l_quantity"), 6).alias("sum_qty"),
    )


@register(
    "q64_cumulative",
    oracle="""
    SELECT o_custkey, o_orderkey,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS seq,
           ROUND(SUM(o_totalprice) OVER
                 (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
               AS running_total,
           ROUND(AVG(o_totalprice) OVER
                 (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6)
               AS mov_avg3
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("timeseries", "O22"),
)
def q64_cumulative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running total and 3-row moving average of order value per
    customer in order-date order — the customer-lifetime-value /
    smoothing shape, exercising explicit ROWS frames (unbounded-
    preceding and sliding) beyond the rank-only windows of q11/q12.

    Deterministic: the sort key (o_orderdate, o_orderkey) is unique per
    partition, so both engines accumulate in the same row order and the
    rounded doubles agree. One shuffle on o_custkey serves all three
    window functions (same WINDOW spec); running frames stream in sort
    order with O(1) state per row — no per-row re-scan — so cost is
    sort + single pass, scale-safe for any per-customer history that
    fits a partition (salt by year for pathological single-key skew).
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("long").alias("seq"),
        F.round(
            F.sum("o_totalprice").over(w.rowsBetween(Window.unboundedPreceding, 0)),
            6,
        ).alias("running_total"),
        F.round(F.avg("o_totalprice").over(w.rowsBetween(-2, 0)), 6).alias(
            "mov_avg3"
        ),
    )


# Anomaly threshold in sample standard deviations.
_Z_THRESH = 2.0


@register(
    "q66_anomaly",
    oracle=f"""
    WITH hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr, COUNT(*) AS n
        FROM events GROUP BY 1, 2
    ),
    scored AS (
        SELECT event_type, hr, n,
               (n - AVG(n) OVER (PARTITION BY event_type))
                   / NULLIF(stddev_samp(n) OVER (PARTITION BY event_type), 0)
                   AS z
        FROM hourly
    )
    SELECT event_type, hr, n, ROUND(z, 6) AS z
    FROM scored
    WHERE ABS(z) > {_Z_THRESH}
    """,
    tags=("timeseries", "anomaly"),
)
def q66_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-anomaly detection: hourly event counts whose z-score
    against their own type's hourly distribution exceeds
    2.0 sample standard deviations — the alerting shape over
    the q62 resample family.

    Plan shape: one groupBy shuffle builds the hourly counts; the
    per-type mean/stddev is an unbounded window over the ALREADY
    AGGREGATED frame (rows = types x hours, data-volume-independent),
    so the expensive pass touches raw events exactly once. A zero
    stddev (perfectly flat series) is NULLIF-guarded to NULL z — under
    ANSI mode a bare division would RAISE on it, not null out (caught
    by the degenerate-fixture sweep) — and the ABS() filter then drops
    the row in both engines: a flat series has no outliers by
    definition.
    At 100 TB the window input is still tiny; only the first groupBy
    scales, and it is a plain partial-agg shuffle.
    """
    events = load_table(spark, sf_dir, "events").select("event_type", "ts")
    hourly = events.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.count("*").alias("n"))
    w = Window.partitionBy("event_type")
    scored = hourly.withColumn(
        "z",
        (F.col("n") - F.avg("n").over(w))
        / F.nullif(F.stddev_samp("n").over(w), F.lit(0.0)),
    )
    return scored.where(F.abs(F.col("z")) > _Z_THRESH).select(
        "event_type", "hr", "n", F.round("z", 6).alias("z")
    )


@register(
    "q68_attribution_join",
    oracle="""
    SELECT v.user_id,
           v.event_id AS view_id,
           v.ts AS view_ts,
           p.event_id AS purchase_id,
           p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM events v
    JOIN events p
      ON v.user_id = p.user_id
     AND p.ts > v.ts
     AND p.ts <= v.ts + INTERVAL 1 HOUR
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    """,
    tags=("timeseries", "streaming", "attribution"),
)
def q68_attribution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution pairs: each view joined to the same user's purchases
    within 1 hour after it — the BATCH form of the stream-stream
    interval join (`streaming/joinstream.py` runs the literally shared
    expression as a two-stream watermarked append-mode query;
    tests/test_streaming_join.py pins stream == batch).

    Plan shape: equi-join on user_id with a residual time-range filter —
    one shuffle per side, no nested loop (the range rides the equi-join
    as a post-condition). The streaming twin bounds its join state by
    watermark + horizon, so memory tracks rate x horizon at any scale.
    """
    from trafficteach_spark.streaming.joinstream import attribution_pairs

    events = load_table(spark, sf_dir, "events")
    return attribution_pairs(events)


@register(
    "q70_trailing_range",
    oracle="""
    SELECT o_custkey, o_orderkey, o_orderdate,
           ROUND(SUM(o_totalprice) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW), 6)
               AS trailing_30d,
           CAST(COUNT(*) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate
               RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
               AS BIGINT) AS n_30d
    FROM orders
    """,
    tags=("timeseries", "O22"),
)
def q70_trailing_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 30-day spend per customer: a time-RANGE window frame —
    the frame edge is a VALUE offset (order date minus 30 days), not a
    row count, so same-date rows share one frame and sparse histories
    window correctly (q64's ROWS frames cannot express this).

    Spark has no interval RANGE frame over dates; the standard
    re-expression is ``rangeBetween`` over the date's epoch-day integer
    — value-identical to the oracle's ``RANGE BETWEEN INTERVAL 30 DAY
    PRECEDING``. Well-defined under date ties (frame = all rows whose
    date falls in the value range), hence deterministic without a
    unique sort key. Same single-shuffle profile as q64.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    day = F.datediff(F.col("o_orderdate"), F.lit("1970-01-01"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy(day.cast("long"))
        .rangeBetween(-30, 0)
    )
    return orders.select(
        "o_custkey",
        "o_orderkey",
        "o_orderdate",
        F.round(F.sum("o_totalprice").over(w), 6).alias("trailing_30d"),
        F.count("*").over(w).cast("long").alias("n_30d"),
    )


EWMA_ALPHA = 0.3


@register(
    "q92_ewma",
    oracle=f"""
    WITH RECURSIVE ordered AS (
        SELECT user_id, event_id, ts, value,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS rn
        FROM events
    ),
    ew(user_id, event_id, ts, value, rn, ewma) AS (
        SELECT user_id, event_id, ts, value, rn, value
        FROM ordered WHERE rn = 1
        UNION ALL
        SELECT o.user_id, o.event_id, o.ts, o.value, o.rn,
               {EWMA_ALPHA} * o.value + {1 - EWMA_ALPHA} * ew.ewma
        FROM ordered o JOIN ew
          ON o.user_id = ew.user_id AND o.rn = ew.rn + 1
    )
    SELECT user_id, event_id, ts, value, ROUND(ewma, 6) AS ewma
    FROM ew
    """,
    tags=("timeseries", "recursive", "scale"),
)
def q92_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average per entity — the smoothing
    pass monitoring/forecasting pipelines run over per-key event series
    (y_0 = x_0; y_i = α·x_i + (1-α)·y_{{i-1}}, α = {EWMA_ALPHA}).

    EWMA is a linear RECURRENCE, not a windowed aggregate — no Spark
    window frame expresses it (the closed form Σ α(1-α)^(i-j)x_j
    underflows for long series). Implemented as the engine's per-key
    linear scan idiom (same contract as q12's trajectory build): one
    shuffle on user_id, each key's time-sorted values folded once by an
    ``aggregate`` HOF that appends α·x + (1-α)·last, then re-exploded.
    O(n) work per key, one task per key — scale-safe for bounded per-key
    series; an unbounded single key would need the segmented-scan
    (scale, offset) combine, noted here rather than built since every
    fixture and production key here is day-bounded. Both engines evaluate
    the identical IEEE multiply-add chain in the identical order (DuckDB
    re-derives it with a recursive CTE), so ROUND(6) only guards display.
    """
    events = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    packed = events.groupBy("user_id").agg(
        # Leading (ts IS NULL) sort key: Spark's struct comparison sorts
        # a NULL field FIRST while the oracle's ROW_NUMBER ... ORDER BY
        # ts puts NULL-ts rows LAST — without the key the EWMA
        # recurrence folds a user's NULL-ts events in a different
        # position per engine (round-11 review finding). The extra
        # field rides the struct and is simply never selected.
        F.expr(
            "array_sort(collect_list(struct(isnull(ts) as znull, ts, event_id, value)))"
        ).alias("seq")
    )
    folded = packed.select(
        "user_id",
        F.expr(
            f"""
            aggregate(
                seq,
                cast(array() as array<double>),
                (acc, e) -> CASE WHEN size(acc) = 0 THEN array(e.value)
                            ELSE array_append(
                                acc,
                                {EWMA_ALPHA}D * e.value
                                + {1 - EWMA_ALPHA}D * element_at(acc, -1))
                            END
            )
            """
        ).alias("ewmas"),
        F.col("seq"),
    )
    return folded.select(
        "user_id",
        F.expr("inline(arrays_zip(seq, ewmas))"),
    ).select(
        "user_id",
        F.col("seq.event_id").alias("event_id"),
        F.col("seq.ts").alias("ts"),
        F.col("seq.value").alias("value"),
        F.round("ewmas", 6).alias("ewma"),
    )


@register(
    "q100_scd2_history",
    oracle="""
    WITH o AS (
        SELECT user_id, event_id, ts, event_type,
               CASE WHEN LAG(event_type) OVER w IS DISTINCT FROM event_type
                    THEN 1 ELSE 0 END AS chg
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    v AS (
        SELECT *, CAST(SUM(chg) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS version
        FROM o
    ),
    g AS (
        SELECT user_id, version, MIN(event_type) AS event_type,
               MIN(ts) AS valid_from, COUNT(*) AS n_events
        FROM v GROUP BY user_id, version
    )
    SELECT user_id, version, event_type, valid_from,
           LEAD(valid_from) OVER (PARTITION BY user_id ORDER BY version)
               AS valid_to,
           n_events
    FROM g
    """,
    tags=("timeseries", "warehouse"),
)
def q100_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 slowly-changing-dimension history build: collapse each
    user's event_type change stream into versioned validity intervals
    ([valid_from, valid_to), NULL valid_to = current) — the standard
    dimension-history table a warehouse derives from a CDC/event feed,
    and the run-length "islands" twin of q22's session "gaps".

    Plan: ONE shuffle — every window and the version aggregate partition
    on user_id, so after the first Exchange the lag, running sum,
    group-collapse, and lead all run in the same per-key partitioning
    (plan-tested: exactly one corpus-sized Exchange). Per-key windows
    never see more than one user's rows, so the q83_exact-class
    single-partition sort trap does not apply at any scale. Ties broken
    by event_id for a deterministic cross-engine version chain.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type"
    )
    # asc_nulls_last: the oracle's ORDER BY ts puts NULL-ts events at
    # the END of a user's version chain; Spark's plain asc would start
    # the chain with them (round-11 review finding; q201 inherits).
    wo = Window.partitionBy("user_id").orderBy(
        F.asc_nulls_last("ts"), "event_id"
    )
    chg = F.when(
        ~F.lag("event_type").over(wo).eqNullSafe(F.col("event_type")), 1
    ).otherwise(0)
    v = ev.select(
        "user_id",
        "ts",
        "event_type",
        F.sum(chg).over(wo).alias("version"),
    )
    g = v.groupBy("user_id", "version").agg(
        F.min("event_type").alias("event_type"),
        F.min("ts").alias("valid_from"),
        F.count("*").alias("n_events"),
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    return g.select(
        "user_id",
        "version",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(wv).alias("valid_to"),
        "n_events",
    )

@register(
    "q113_linear_attribution",
    oracle="""
    WITH pairs AS (
        SELECT v.user_id, v.event_id AS view_id,
               p.event_id AS purchase_id, p.value AS purchase_value
        FROM events v
        JOIN events p
          ON v.user_id = p.user_id
         AND p.ts > v.ts
         AND p.ts <= v.ts + INTERVAL 1 HOUR
        WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    ),
    shares AS (
        SELECT user_id, view_id,
               purchase_value / COUNT(*) OVER (PARTITION BY purchase_id)
                   AS share
        FROM pairs
    )
    SELECT user_id, view_id,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           ROUND(SUM(share), 6) AS credit
    FROM shares
    GROUP BY user_id, view_id
    """,
    tags=("timeseries", "attribution"),
)
def q113_linear_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch LINEAR attribution (q68's last-touch complement):
    every view in the hour before a purchase shares that purchase's
    value equally, and each view accumulates its credit across all
    purchases it contributed to — the credit assignment ad/content
    pipelines feed back into training-data weighting.

    Plan: the SAME interval equi-join as q68 (attribution_pairs — the
    stream-tested body), then one window on purchase_id turns each
    purchase's value into equal shares (count-over-partition, no
    second join), then one hash aggregate per view sums its credit.
    Three shuffles total, all keyed and skew-safe under AQE; nothing
    is ever per-(view x purchase) beyond the pairs the interval join
    already bounds (rate x horizon per user).
    """
    from trafficteach_spark.streaming.joinstream import attribution_pairs

    events = load_table(spark, sf_dir, "events")
    pairs = attribution_pairs(events).select(
        "user_id", "view_id", "purchase_id", "purchase_value"
    )
    w = Window.partitionBy("purchase_id")
    shares = pairs.select(
        "user_id",
        "view_id",
        (F.col("purchase_value") / F.count("*").over(w)).alias("share"),
    )
    return shares.groupBy("user_id", "view_id").agg(
        F.count("*").cast("long").alias("n_purchases"),
        F.round(F.sum("share"), 6).alias("credit"),
    )

@register(
    "q116_gap_fill_locf",
    oracle="""
    WITH bounds AS (
        SELECT date_trunc('hour', MIN(ts)) AS lo,
               date_trunc('hour', MAX(ts)) AS hi
        FROM events
    ),
    cal AS (
        SELECT unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS hr
        FROM bounds
    ),
    types AS (SELECT DISTINCT event_type FROM events),
    hourly AS (
        SELECT event_type, date_trunc('hour', ts) AS hr,
               COUNT(*) AS n, AVG(value) AS avg_value
        FROM events GROUP BY 1, 2
    ),
    grid AS (
        SELECT t.event_type, c.hr,
               CAST(COALESCE(h.n, 0) AS BIGINT) AS n,
               h.avg_value
        FROM types t
        CROSS JOIN cal c
        LEFT JOIN hourly h ON h.event_type = t.event_type AND h.hr = c.hr
    )
    SELECT event_type, hr, n,
           ROUND(avg_value, 6) AS avg_value,
           ROUND(last_value(avg_value IGNORE NULLS) OVER (
               PARTITION BY event_type ORDER BY hr
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6)
               AS locf_avg,
           CASE WHEN n = 0 THEN 1 ELSE 0 END AS is_gap
    FROM grid
    """,
    tags=("timeseries", "O36", "gapfill"),
)
def q116_gap_fill_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOCF gap fill (last observation carried forward): q62 surfaces
    empty buckets as n=0; this carries the last OBSERVED hourly average
    into them — the sensor/metrics semantic where a gap means "value
    unchanged", not "value zero" (and the feature a training pipeline
    forward-fills before windowed featurization). Leading gaps before a
    type's first observation stay NULL, exactly like the SQL window.

    Plan: the q62 grid (one fact shuffle + persisted hourly frame +
    broadcast-joined calendar) plus ONE window over the grid —
    last_value(ignorenulls) per type ordered by hour. The window input
    is the types x hours grid, never raw events, so the extra shuffle
    is calendar-sized at any data volume; partition count = type count,
    which is exactly the O(dashboard series) cardinality this report
    shape implies.
    """
    grid = shared_hourly_grid(spark, sf_dir).select(
        "event_type", "hr", F.col("n").cast("long").alias("n"), "avg_raw"
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return grid.select(
        "event_type",
        "hr",
        "n",
        F.round("avg_raw", 6).alias("avg_value"),
        F.round(F.last("avg_raw", ignorenulls=True).over(w), 6).alias("locf_avg"),
        F.when(F.col("n") == 0, 1).otherwise(0).alias("is_gap"),
    )

def range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_sec: float = 86_400.0,
    end_inclusive: bool = False,
    keys: tuple[str, ...] = (),
) -> DataFrame:
    """General point-in-interval range join — the library form of q63's
    bucketized decomposition: each interval explodes into the fixed-width
    time buckets it covers (bounded fan-out = interval length /
    ``bucket_sec``), each point maps to exactly ONE bucket, the join
    runs as a plain equi-join on (``keys``..., bucket), and the exact
    range predicate filters residually. A point's bucket occurs at most
    once per interval's cover, so matches are exact with no dedup pass.

    Catalyst would otherwise lower the raw inequality join to a
    BroadcastNestedLoopJoin (all pairs); this form shuffles both sides
    once on the bucket (plus any equi-``keys``) and scales like any
    hash join. Pick ``bucket_sec`` near the median interval length:
    shorter buckets fan the intervals wider, longer buckets widen the
    residual's false-candidate band. Timestamp and date columns both
    work (dates are midnight timestamps); ``end_inclusive`` selects
    [start, end] vs [start, end). Output: all point columns + all
    interval columns (caller projects; name collisions are the
    caller's to avoid, as with any join).
    """
    width_us = int(bucket_sec * 1_000_000)
    # Eager validation like asof_join's: a zero/negative/sub-microsecond
    # bucket would otherwise build a valid-looking plan that dies at
    # execution with a bare `div 0` DIVIDE_BY_ZERO (or inverts every
    # bucket sequence) with no hint the width was the cause.
    if width_us < 1:
        raise ValueError(
            f"bucket_sec={bucket_sec!r} must be a positive duration of at "
            "least one microsecond"
        )
    p_us = F.unix_micros(F.col(point_col).cast("timestamp"))
    s_us = F.unix_micros(F.col(start_col).cast("timestamp"))
    e_us = F.unix_micros(F.col(end_col).cast("timestamp"))
    last_us = e_us if end_inclusive else e_us - F.lit(1)

    # Degenerate intervals (empty under the chosen end semantics, or
    # dirty end < start rows) are dropped BEFORE the explode: Spark's
    # sequence(a, b) steps -1 when a > b, so without this guard an
    # inverted interval fans out into a long DESCENDING bucket list that
    # only the residual filter removes — wasted shuffle volume, and for
    # a badly inverted row, thousands of spurious rows (round-6 review
    # finding). They cannot match anything, so dropping them is exact.
    nonempty = (e_us >= s_us) if end_inclusive else (e_us > s_us)
    # Integer `div` on the long micros, never `/ + cast('long')`: the
    # double round-trip can truncate one ulp low for values adjacent to
    # a bucket boundary (the q85/epoch_us_sql guard; round-6 advisory).
    ivals = (
        intervals.where(nonempty)
        .withColumn("_s_us", s_us)
        .withColumn("_l_us", last_us)
        .withColumn(
            "_bucket",
            F.explode(
                F.sequence(
                    F.expr(f"_s_us div {width_us}"),
                    F.expr(f"_l_us div {width_us}"),
                )
            ),
        )
        .drop("_s_us", "_l_us")
    )
    pts = (
        points.withColumn("_p_us", p_us)
        .withColumn("_bucket", F.expr(f"_p_us div {width_us}"))
        .drop("_p_us")
    )
    cond = (F.col(point_col) >= F.col(start_col)) & (
        F.col(point_col) <= F.col(end_col)
        if end_inclusive
        else F.col(point_col) < F.col(end_col)
    )
    return pts.join(ivals, [*keys, "_bucket"]).where(cond).drop("_bucket")

@register(
    "q122_pit_join",
    oracle="""
    WITH o AS (
        SELECT o_custkey AS ck, o_orderkey, o_orderdate, o_orderstatus,
               CASE WHEN LAG(o_orderstatus) OVER w IS DISTINCT FROM o_orderstatus
                    THEN 1 ELSE 0 END AS chg
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ),
    v AS (
        SELECT *, CAST(SUM(chg) OVER (PARTITION BY ck
                                      ORDER BY o_orderdate, o_orderkey
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS version
        FROM o
    ),
    hist0 AS (
        SELECT ck, version, MIN(o_orderstatus) AS status,
               MIN(o_orderdate) AS valid_from
        FROM v GROUP BY ck, version
    ),
    hist AS (
        -- zero-duration versions: two same-instant runs (a customer's
        -- status flipping within one order date) share a valid_from;
        -- the LATEST version is the one actually current at that
        -- instant, and keeping it restores the as-of uniqueness
        -- precondition on (ck, valid_from)
        SELECT ck, version, status, valid_from
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY ck, valid_from ORDER BY version DESC
            ) AS rn
            FROM hist0
        ) WHERE rn = 1
    ),
    facts AS (
        SELECT l.l_orderkey, l.l_linenumber, l.l_shipdate,
               o.o_custkey AS ck
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    SELECT f.l_orderkey, f.l_linenumber, f.l_shipdate, f.ck,
           h.version, h.status AS status_at_ship
    FROM facts f
    ASOF JOIN hist h
      ON f.ck = h.ck AND f.l_shipdate >= h.valid_from
    """,
    tags=("timeseries", "warehouse", "asof", "scd2"),
)
def q122_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (PIT) dimension join — THE canonical SCD2 consumer:
    each fact row (a lineitem shipment) joined to the dimension VERSION
    valid at the fact's own time (the customer's order-status run
    current at l_shipdate; q100 is the history BUILDER, this is the
    lookup every training pipeline runs to avoid feature leakage from
    future dimension states).

    Composed, not re-derived: the history is the q100 gaps-and-islands
    construction over orders, and the interval lookup is the library
    :func:`trafficteach_spark.operators.sequences.asof_join` (backward)
    — correct against contiguous SCD2 chains because the version valid
    at t IS the last version starting at or before t (no valid_to probe
    needed; facts before a customer's first version drop, matching the
    inner as-of). Scale profile: the fact->orders equi-join for the
    custkey plus asof_join's single by-key shuffle — no interval
    explode, no BNLJ; DuckDB's native ASOF JOIN pins the semantics.
    """
    from trafficteach_spark.operators.sequences import asof_join

    orders = load_table(spark, sf_dir, "orders")
    wo = Window.partitionBy("ck").orderBy("o_orderdate", "o_orderkey")
    chg = F.when(
        ~F.lag("o_orderstatus").over(wo).eqNullSafe(F.col("o_orderstatus")), 1
    ).otherwise(0)
    hist = (
        orders.select(
            F.col("o_custkey").alias("ck"),
            "o_orderdate",
            "o_orderkey",
            "o_orderstatus",
        )
        .withColumn("version", F.sum(chg).over(wo))
        .groupBy("ck", "version")
        .agg(
            F.min("o_orderstatus").alias("status_at_ship"),
            F.min("o_orderdate").alias("t"),
        )
        # same-instant version runs (status flip within one order date):
        # keep the LATEST version per (ck, t) — the one current at that
        # instant — restoring asof_join's (by, on) uniqueness contract
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("ck", "t").orderBy(F.desc("version"))
            ),
        )
        .where(F.col("rn") == 1)
        .drop("rn")
    )
    facts = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_shipdate")
        .join(
            orders.select("o_orderkey", F.col("o_custkey").alias("ck")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_orderkey", "l_linenumber", "l_shipdate", "ck")
        .withColumn("t", F.col("l_shipdate"))
    )
    return asof_join(facts, hist, on="t", by="ck", direction="backward").select(
        "l_orderkey",
        "l_linenumber",
        "l_shipdate",
        "ck",
        "version",
        "status_at_ship",
    )


def _daily_type_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (event_type, day, n) rollup q127 and q128 both shrink to
    before any window runs — ONE definition so the date cast and
    grouping cannot drift between the changepoint detector and the
    seasonal decomposition it is documented to pair with (the
    shared_hourly_grid rationale, applied to the daily pair)."""
    events = load_table(spark, sf_dir, "events").select("event_type", "ts")
    return events.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count("*").alias("n"))


def _daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exact (day, rev DECIMAL(18,2)) daily revenue series q142 and
    q158 both roll up to — ONE definition so the decimal width and the
    date cast cannot desynchronize the ACF's input series from the Holt
    forecast's."""
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderdate").cast("date").alias("day"),
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    return orders.groupBy("day").agg(
        F.sum("price").cast("decimal(18,2)").alias("rev")
    )


@register(
    "q127_changepoint",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        FROM events
        GROUP BY 1, 2
    ),
    dev AS (
        SELECT event_type, day, n,
               AVG(CAST(n AS DOUBLE)) OVER (PARTITION BY event_type) AS mean_n,
               COUNT(*) OVER (PARTITION BY event_type) AS n_days
        FROM daily
    ),
    cusum AS (
        SELECT event_type, day, n, mean_n, n_days,
               SUM(n - mean_n) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS s
        FROM dev
    )
    SELECT event_type, day AS cp_day, n_days,
           ROUND(mean_n, 6) AS mean_daily,
           ROUND(s, 6) AS cusum_dev
    FROM (
        SELECT *,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY ABS(s) DESC, day
               ) AS rn
        FROM cusum
    )
    WHERE rn = 1
    """,
    tags=("timeseries", "changepoint"),
)
def q127_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint detection: per event type, the day where the
    cumulative deviation of daily counts from the series mean peaks —
    the standard single-changepoint estimator (argmax_t |S_t|,
    S_t = sum_{i<=t}(x_i - mean)) behind drift monitors on ingest
    volume.

    Plan shape: the fact table collapses to a (type, day) rollup FIRST
    (one hash aggregate — the only full-data shuffle), then mean,
    cumulative sum, and argmax are windows over the tiny daily frame
    (days x types rows), partitioned by type. At 100 TB the windows see
    only ~365 x n_types rows regardless of fact volume — the rollup
    shrink is the whole design. The cumulative double sum runs in the
    SAME day order in both engines (ordered window), so the doubles
    are bit-identical; the argmax tiebreak is (|S| desc, day asc).
    """
    daily = _daily_type_counts(spark, sf_dir)
    w_type = Window.partitionBy("event_type")
    # asc_nulls_last: a NULL-day rollup row (NULL-ts events) enters the
    # CUSUM prefix last like DuckDB's default, not first — a leading
    # NULL deviation would offset every running sum (round-11 review
    # finding); same ordering in the argmax tie-break below.
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy(F.asc_nulls_last("day"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cusum = daily.select(
        "event_type",
        "day",
        "n",
        F.avg(F.col("n").cast("double")).over(w_type).alias("mean_n"),
        F.count("*").over(w_type).alias("n_days"),
    ).withColumn("s", F.sum(F.col("n") - F.col("mean_n")).over(w_cum))
    w_rank = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("s")).desc(), F.asc_nulls_last("day")
    )
    return (
        cusum.withColumn("rn", F.row_number().over(w_rank))
        .where(F.col("rn") == 1)
        .select(
            "event_type",
            F.col("day").alias("cp_day"),
            "n_days",
            F.round("mean_n", 6).alias("mean_daily"),
            F.round("s", 6).alias("cusum_dev"),
        )
    )


@register(
    "q128_seasonal_decompose",
    oracle="""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        FROM events
        GROUP BY 1, 2
    ),
    by_dow AS (
        SELECT event_type, isodow(day) AS dow,
               COUNT(*) AS n_days,
               AVG(CAST(n AS DOUBLE)) AS avg_count
        FROM daily
        GROUP BY 1, 2
    ),
    overall AS (
        SELECT event_type, AVG(CAST(n AS DOUBLE)) AS avg_all
        FROM daily
        GROUP BY 1
    )
    SELECT b.event_type, b.dow, b.n_days,
           ROUND(b.avg_count, 6) AS avg_count,
           ROUND(b.avg_count / o.avg_all, 6) AS seasonal_index
    FROM by_dow b JOIN overall o ON b.event_type = o.event_type
    """,
    tags=("timeseries", "seasonality"),
)
def q128_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week seasonal profile: per (event type, ISO weekday), the
    mean daily event count and its ratio to the type's overall daily
    mean (the multiplicative seasonal index) — the decomposition step
    behind deseasonalized anomaly thresholds (q66) and capacity
    forecasts.

    Plan shape mirrors q127: ONE full-data hash aggregate to the
    (type, day) rollup, then everything downstream — the weekday
    aggregate (<= 7 x n_types rows) and the per-type overall mean —
    operates on the tiny frame; the final combine is a broadcast-size
    join on event_type. ISO weekday (Mon=1..Sun=7) is ``weekday()+1``
    in Spark and ``isodow()`` in DuckDB, so both engines label strata
    identically. Averages (not ordered sums) of a handful of doubles
    round stably at 1e-6.
    """
    daily = _daily_type_counts(spark, sf_dir)
    by_dow = daily.groupBy(
        "event_type", (F.weekday("day") + 1).alias("dow")
    ).agg(
        F.count("*").alias("n_days"),
        F.avg(F.col("n").cast("double")).alias("avg_count"),
    )
    overall = daily.groupBy("event_type").agg(
        F.avg(F.col("n").cast("double")).alias("avg_all")
    )
    return by_dow.join(F.broadcast(overall), "event_type").select(
        "event_type",
        "dow",
        "n_days",
        F.round("avg_count", 6).alias("avg_count"),
        F.round(F.col("avg_count") / F.col("avg_all"), 6).alias("seasonal_index"),
    )


@register(
    "q135_time_weighted_avg",
    oracle="""
    WITH seq AS (
        SELECT event_type, value, ts,
               LEAD(ts) OVER (PARTITION BY event_type ORDER BY ts, event_id)
                   AS next_ts
        FROM events
    ),
    seg AS (
        SELECT event_type, value,
               epoch_us(next_ts) - epoch_us(ts) AS gap_us
        FROM seq WHERE next_ts IS NOT NULL
    )
    SELECT event_type,
           COUNT(*) AS n_segments,
           ROUND(CAST(SUM(gap_us) AS DOUBLE) / 1000000.0, 6) AS span_sec,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,6)) * gap_us) AS DOUBLE)
                 / CAST(SUM(gap_us) AS DOUBLE), 6) AS twa_value,
           ROUND(AVG(value), 6) AS plain_avg
    FROM seg
    GROUP BY event_type
    """,
    tags=("timeseries", "twap"),
)
def q135_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average (TWAP): per event type, each value holds
    from its event until the next (step/LOCF semantics) and is weighted
    by that duration — the correct mean for irregularly-sampled series,
    where the plain row average over-weights bursty periods (reported
    alongside for contrast). The financial/metrics-engine primitive
    Spark lacks natively.

    Plan: ONE window (lead over (event_type) ordered by ts) on the
    fact scan, then one hash aggregate — the shuffle is the per-type
    sort, which a 100 TB deployment makes free by partitioning the
    table on (event_type, time bucket). Determinism: weights are exact
    integer microseconds; the weighted sum runs in DECIMAL (exact,
    order-free) and only the final division touches doubles — both
    engines divide the same two exact operands, so the quotient is
    bit-identical. The lead tie-break includes event_id for stable
    ordering under equal timestamps.
    """
    from trafficteach_spark.functions.exprs import epoch_us_expr

    events = load_table(spark, sf_dir, "events").select(
        "event_type", "value", "ts", "event_id"
    )
    # asc_nulls_last: a NULL-ts event must sort after the real ones
    # like the oracle, or it steals the first real timestamp as its
    # next_ts and survives the segment filter while the true last
    # segment is dropped (round-11 review finding).
    w = Window.partitionBy("event_type").orderBy(
        F.asc_nulls_last("ts"), "event_id"
    )
    seq = events.withColumn("next_ts", F.lead("ts").over(w)).where(
        F.col("next_ts").isNotNull()
    )
    gap_us = epoch_us_expr("next_ts") - epoch_us_expr("ts")
    seg = seq.select("event_type", "value", gap_us.alias("gap_us"))
    return seg.groupBy("event_type").agg(
        F.count("*").alias("n_segments"),
        F.round(F.sum("gap_us").cast("double") / 1_000_000.0, 6).alias("span_sec"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,6)") * F.col("gap_us")).cast(
                "double"
            )
            / F.sum("gap_us").cast("double"),
            6,
        ).alias("twa_value"),
        F.round(F.avg("value"), 6).alias("plain_avg"),
    )


# ACF horizon: two weeks of daily lags — enough to expose the weekly
# cycle q128 decomposes, still a constant-width aggregate.
_ACF_MAX_LAG = 14


def _acf_oracle() -> str:
    per_lag = []
    for k in range(1, _ACF_MAX_LAG + 1):
        per_lag.append(f"""
    SELECT {k} AS lag, COUNT(*) AS n,
           ROUND((CAST(SUM(x * y) AS DOUBLE) - CAST(SUM(x) AS DOUBLE) * CAST(SUM(y) AS DOUBLE) / NULLIF(COUNT(*), 0))
                 / NULLIF(SQRT(GREATEST((CAST(SUM(x * x) AS DOUBLE) - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE) / NULLIF(COUNT(*), 0))
                        * (CAST(SUM(y * y) AS DOUBLE) - CAST(SUM(y) AS DOUBLE) * CAST(SUM(y) AS DOUBLE) / NULLIF(COUNT(*), 0)), 0)), 0),
                 6) AS acf
    FROM (
        SELECT rev AS x,
               LAG(rev, {k}) OVER (ORDER BY day) AS y
        FROM daily
    ) WHERE y IS NOT NULL""")
    return f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS rev
        FROM orders GROUP BY 1
    )
    {" UNION ALL ".join(per_lag)}
    """


@register("q142_autocorrelation", oracle=_acf_oracle(), tags=("timeseries", "acf"))
def q142_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily order revenue at lags
    1..{_ACF_MAX_LAG}: Pearson correlation between the series and its
    k-day-shifted self — the diagnostic that tells a forecasting
    pipeline which seasonal terms (q128) and AR orders matter.

    Plan: ONE full-data hash aggregate collapses orders to the daily
    revenue series (a few-thousand-row frame at any scale); all
    {_ACF_MAX_LAG} lag columns materialize in one window pass over that
    tiny frame (single ordered partition — fine BECAUSE it is
    date-cardinality, the q127/q128 rollup-shrink-then-window shape);
    one aggregate computes all per-lag co-moments. Determinism: daily
    revenue is an exact DECIMAL(18,2); every co-moment sum is a decimal
    product summed exactly (decimal(18,2)^2 -> precision 37, no scale
    truncation), so both engines assemble each correlation from
    bit-identical doubles.
    """
    # Round-12 optimization (guide §4's boundary lesson, driver flavor):
    # this query's wall time was dominated not by Spark but by BUILDING
    # it — the loop-composed Column objects cost ~700 py4j round-trips
    # (~0.9 s per invocation, re-paid on every bench round). The same
    # expression trees written as THREE selectExpr calls (SQL strings,
    # one py4j call each) plan and execute identically; construction
    # drops to ~10 ms. Expression semantics are unchanged line for
    # line: CASE WHEN mirrors F.when, `0.0D` is the double literal
    # F.lit(0.0), and try_divide/greatest keep the zero-pair /
    # zero-variance / FP-cancellation guards documented in the git
    # history (acf=NULL, never DIVIDE_BY_ZERO or NaN).
    daily = _daily_revenue(spark, sf_dir)
    lagged = daily.selectExpr(
        "rev AS x",
        *[
            f"lag(rev, {k}) OVER (ORDER BY day) AS y{k}"
            for k in range(1, _ACF_MAX_LAG + 1)
        ],
    )
    agg_exprs = []
    for k in range(1, _ACF_MAX_LAG + 1):
        px = f"(CASE WHEN y{k} IS NOT NULL THEN x END)"
        agg_exprs += [
            f"count(y{k}) AS n_{k}",
            f"CAST(sum({px}) AS DOUBLE) AS sx_{k}",
            f"CAST(sum(y{k}) AS DOUBLE) AS sy_{k}",
            f"CAST(sum({px} * y{k}) AS DOUBLE) AS sxy_{k}",
            f"CAST(sum({px} * {px}) AS DOUBLE) AS sxx_{k}",
            f"CAST(sum(y{k} * y{k}) AS DOUBLE) AS syy_{k}",
        ]
    row = lagged.selectExpr(*agg_exprs)  # aggregates => implicit global agg
    entries = []
    for k in range(1, _ACF_MAX_LAG + 1):
        n = f"CAST(n_{k} AS DOUBLE)"
        cxy = f"(sxy_{k} - try_divide(sx_{k} * sy_{k}, {n}))"
        cxx = f"(sxx_{k} - try_divide(sx_{k} * sx_{k}, {n}))"
        cyy = f"(syy_{k} - try_divide(sy_{k} * sy_{k}, {n}))"
        entries.append(
            f"struct({k} AS lag, n_{k} AS n, "
            f"round(try_divide({cxy}, sqrt(greatest(0.0D, {cxx} * {cyy}))), 6)"
            " AS acf)"
        )
    return row.selectExpr(f"inline(array({', '.join(entries)}))")


# Burstiness needs a minimum number of inter-arrival gaps for sigma/mu
# to mean anything; users below the floor are excluded, not NULLed.
_BURST_MIN_GAPS = 5


@register(
    "q154_burstiness",
    oracle=f"""
    WITH seq AS (
        SELECT user_id,
               epoch_us(ts) - LAG(epoch_us(ts)) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS gap
        FROM events
    ),
    per_user AS (
        SELECT user_id, COUNT(*) AS k,
               CAST(SUM(CAST(gap AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sg,
               CAST(SUM(CAST(gap AS DECIMAL(19,0)) * CAST(gap AS DECIMAL(19,0)))
                    AS DECIMAL(38,0)) AS sg2
        FROM seq WHERE gap IS NOT NULL
        GROUP BY user_id
        HAVING COUNT(*) >= {_BURST_MIN_GAPS}
    ),
    b AS (
        SELECT CAST(FLOOR(10 * (SQRT(GREATEST(CAST(sg2 AS DOUBLE) / k
                                     - (CAST(sg AS DOUBLE) / k) * (CAST(sg AS DOUBLE) / k), 0))
                                - CAST(sg AS DOUBLE) / k)
                         / NULLIF(SQRT(GREATEST(CAST(sg2 AS DOUBLE) / k
                                       - (CAST(sg AS DOUBLE) / k) * (CAST(sg AS DOUBLE) / k), 0))
                                  + CAST(sg AS DOUBLE) / k, 0)) AS INT) AS b_bin
        FROM per_user
    )
    SELECT b_bin, COUNT(*) AS n_users
    FROM b WHERE b_bin IS NOT NULL GROUP BY b_bin
    """,
    tags=("timeseries", "behavior", "statistics"),
)
def q154_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival burstiness per user, histogrammed: B =
    (sigma - mu)/(sigma + mu) over each user's event gaps (B -> -1
    periodic, 0 Poisson, +1 bursty — Goh & Barabasi's coefficient),
    for users with >= {_BURST_MIN_GAPS} gaps, bucketed to 0.1 bins.
    The behavioral fingerprint that separates schedulers/bots from
    organic sessions in traffic quality screens.

    Plan: one user-partitioned ordered window (tie-broken on event_id
    so both engines difference the SAME neighbor under equal
    timestamps) produces integer microsecond gaps; per-user moments
    are EXACT decimal sums (gap^2 via DECIMAL(19,0)^2 -> (38,0)), so
    mu/sigma/B are identical doubles in both engines; the bin floor is
    then deterministic. try_divide: an all-equal-gap user has
    sigma+mu>0 unless every gap is 0 (duplicate timestamps) — that
    degenerate yields NULL and is filtered, not crashed on.
    """
    ev = load_table(spark, sf_dir, "events").select("user_id", "event_id", "ts")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    seq = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap")
    ).where(F.col("gap").isNotNull())
    gd = F.col("gap").cast("decimal(19,0)")
    per_user = (
        seq.groupBy("user_id")
        .agg(
            F.count("*").alias("k"),
            F.sum(gd).cast("decimal(38,0)").alias("sg"),
            F.sum(gd * gd).cast("decimal(38,0)").alias("sg2"),
        )
        .where(F.col("k") >= _BURST_MIN_GAPS)
    )
    kd = F.col("k").cast("double")
    mu = F.col("sg").cast("double") / kd
    # greatest(0, ...): an all-equal-gap user (the scheduler/bot this
    # query detects) can round the radicand one ulp NEGATIVE once
    # gap^2 > 2^53 — NaN here, OutOfRangeException in the oracle's
    # SQRT. Both engines clamp identically; the clamped user lands in
    # the B = -1 bin, the mathematically correct periodic answer.
    sigma = F.sqrt(
        F.greatest(F.lit(0.0), F.col("sg2").cast("double") / kd - mu * mu)
    )
    b = per_user.select(
        F.floor(10 * F.try_divide(sigma - mu, sigma + mu)).cast("int").alias("b_bin")
    ).where(F.col("b_bin").isNotNull())
    return b.groupBy("b_bin").agg(F.count("*").alias("n_users"))


# Holt smoothing constants — written as literals in BOTH engines'
# expression text so each parses the identical double.
_HOLT_ALPHA = "0.3"
_HOLT_BETA = "0.1"


@register(
    "q158_holt_forecast",
    oracle=f"""
    WITH RECURSIVE daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                    AS DECIMAL(18,2)) AS DOUBLE) AS rev
        FROM orders GROUP BY 1
    ),
    seq AS (
        SELECT day, rev, ROW_NUMBER() OVER (ORDER BY day) AS rn FROM daily
    ),
    rec AS (
        SELECT rn, day, rev,
               rev AS l, CAST(0.0 AS DOUBLE) AS b,
               CAST(NULL AS DOUBLE) AS pred
        FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.rn, s.day, s.rev,
               CAST({_HOLT_ALPHA} AS DOUBLE) * s.rev
                 + CAST(0.7 AS DOUBLE) * (r.l + r.b) AS l,
               CAST({_HOLT_BETA} AS DOUBLE)
                 * ((CAST({_HOLT_ALPHA} AS DOUBLE) * s.rev
                     + CAST(0.7 AS DOUBLE) * (r.l + r.b)) - r.l)
                 + CAST(0.9 AS DOUBLE) * r.b AS b,
               r.l + r.b AS pred
        FROM seq s JOIN rec r ON s.rn = r.rn + 1
    )
    SELECT day, ROUND(rev, 6) AS revenue,
           ROUND(pred, 6) AS one_step_pred,
           ROUND(ABS(rev - pred), 6) AS abs_err
    FROM rec
    """,
    tags=("timeseries", "forecast"),
)
def q158_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend exponential smoothing over daily order
    revenue: level/trend recurrence l_t = a*y + (1-a)(l+b),
    b_t = B(l_t - l) + (1-B)b, reporting each day's one-step-ahead
    prediction and absolute error — the classic short-horizon
    forecaster (and its in-sample error, the metric that picks a/B).

    Plan: the q142/q127 rollup-shrink shape — one full-data hash
    aggregate to the date-cardinality daily series, then ONE Arrow
    mapInPandas pass over the single sorted partition carrying (l, b)
    across batches: a serial linear recurrence is the sanctioned
    pandas-UDF case (no window frame expresses it), and the O(n)
    Python loop replaces a first-cut SQL ``aggregate``/``array_append``
    fold that was O(days^2) in array copies — measured 24.2x wall for
    10x the calendar before the rewrite, 10-year-history corpora make
    that real. Sequential BY DEFINITION, so the chain of IEEE doubles
    is identical in both engines; the oracle's recursive CTE replays
    the same chain. Output is date-cardinality.
    """
    import pandas as pd

    daily = _daily_revenue(spark, sf_dir).select(
        "day", F.col("rev").cast("double").alias("rev")
    )

    # Complements as parsed literals, NOT 1-alpha: the double nearest
    # "0.7" differs from 1.0-nearest("0.3") by one ulp, and the oracle's
    # CAST(0.7 AS DOUBLE) uses the former — a silent chain divergence.
    alpha, beta = float(_HOLT_ALPHA), float(_HOLT_BETA)
    c_alpha, c_beta = 0.7, 0.9

    def holt(batches):
        l = b = None
        for pdf in batches:
            preds = []
            for y in pdf["rev"]:
                y = float(y)
                if l is None:
                    preds.append(None)
                    l, b = y, 0.0
                else:
                    preds.append(l + b)
                    l_new = alpha * y + c_alpha * (l + b)
                    b = beta * (l_new - l) + c_beta * b
                    l = l_new
            yield pd.DataFrame(
                {"day": pdf["day"], "revenue": pdf["rev"], "one_step_pred": preds}
            )

    fitted = (
        daily.repartition(1)
        .sortWithinPartitions("day")
        .mapInPandas(holt, "day date, revenue double, one_step_pred double")
    )
    return fitted.select(
        "day",
        F.round("revenue", 6).alias("revenue"),
        F.round("one_step_pred", 6).alias("one_step_pred"),
        F.round(F.abs(F.col("revenue") - F.col("one_step_pred")), 6).alias(
            "abs_err"
        ),
    )


_FB_HORIZON = 30  # backtest window: the last N days with both forecasts


@register(
    "q194_forecast_baselines",
    oracle=f"""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               ROUND(SUM(value), 6) AS y
        FROM events WHERE event_type = 'purchase'
        GROUP BY 1
    ),
    lagged AS (
        SELECT day, y,
               LAG(y, 1) OVER (ORDER BY day) AS f_naive,
               LAG(y, 7) OVER (ORDER BY day) AS f_snaive,
               ROW_NUMBER() OVER (ORDER BY day DESC) AS rdesc
        FROM d
    ),
    bt AS (
        SELECT * FROM lagged
        WHERE rdesc <= {_FB_HORIZON}
          AND f_naive IS NOT NULL AND f_snaive IS NOT NULL
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           ROUND(AVG(abs(y - f_naive)), 6) AS mae_naive,
           ROUND(AVG(abs(y - f_snaive)), 6) AS mae_snaive,
           ROUND(AVG(abs(y - f_naive) / NULLIF(abs(y), 0)), 6)
               AS mape_naive,
           ROUND(AVG(abs(y - f_snaive) / NULLIF(abs(y), 0)), 6)
               AS mape_snaive,
           ROUND(AVG(abs(y - f_snaive)) / NULLIF(AVG(abs(y - f_naive)), 0), 6)
               AS snaive_vs_naive
    FROM bt
    """,
    tags=("timeseries", "forecasting", "evaluation"),
)
def q194_forecast_baselines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the two forecasting baselines every
    model must beat — naive (yesterday's revenue) and seasonal-naive
    (same weekday last week) — over the last {_FB_HORIZON} fully-lagged
    days of daily purchase revenue: MAE, MAPE, and their ratio. The
    evaluation harness for q158's Holt forecast: if snaive_vs_naive
    < 1 the series has real weekly seasonality and a seasonal model is
    justified; a learned forecast that can't beat BOTH numbers is
    noise. One-step-ahead by construction, so no leakage.

    Plan: the corpus collapses to ONE day-cardinality frame (a daily
    hash aggregate, the cheapest possible shuffle); both baselines are
    LAG windows over that bounded frame and the scores one final 1-row
    aggregate. At 100 TB: one map-side-combined shuffle, then
    calendar-sized work.
    """
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("y"))
    )
    # asc_nulls_last: the NULL-day bucket (NULL-ts purchases) is the
    # lag-chain TAIL in DuckDB; plain asc would make it the head and
    # shift every lag on short series (round-11 review finding). The
    # desc window already agrees (both engines put NULLs last on desc).
    w = Window.orderBy(F.asc_nulls_last("day"))
    wd = Window.orderBy(F.desc("day"))
    lagged = d.select(
        "day",
        "y",
        F.lag("y", 1).over(w).alias("f_naive"),
        F.lag("y", 7).over(w).alias("f_snaive"),
        F.row_number().over(wd).alias("rdesc"),
    )
    bt = lagged.where(
        (F.col("rdesc") <= _FB_HORIZON)
        & F.col("f_naive").isNotNull()
        & F.col("f_snaive").isNotNull()
    )
    ae_n = F.abs(F.col("y") - F.col("f_naive"))
    ae_s = F.abs(F.col("y") - F.col("f_snaive"))
    return bt.agg(
        F.count("*").alias("n_days"),
        F.round(F.avg(ae_n), 6).alias("mae_naive"),
        F.round(F.avg(ae_s), 6).alias("mae_snaive"),
        F.round(F.avg(F.try_divide(ae_n, F.abs("y"))), 6).alias("mape_naive"),
        F.round(F.avg(F.try_divide(ae_s, F.abs("y"))), 6).alias("mape_snaive"),
        F.round(F.try_divide(F.avg(ae_s), F.avg(ae_n)), 6).alias(
            "snaive_vs_naive"
        ),
    )


def _q201_oracle() -> str:
    """Wrap q100's registered oracle verbatim as a CTE so the snapshot
    semantics can never drift from the history build."""
    from trafficteach_spark.registry import peek_specs

    hist = peek_specs()["q100_scd2_history"].oracle
    return f"""
    WITH hist AS ({hist}),
    bounds AS (
        SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
        FROM events
    ),
    t AS (
        SELECT CAST(d0 + CAST(floor(date_diff('day', d0, d1) / 2)
                              AS INTEGER) AS TIMESTAMP) AS at_ts
        FROM bounds
    )
    SELECT hist.user_id, hist.version, hist.event_type,
           hist.valid_from, hist.n_events
    FROM hist CROSS JOIN t
    WHERE hist.valid_from <= t.at_ts
      AND (hist.valid_to IS NULL OR hist.valid_to > t.at_ts)
    """


@register(
    "q201_asof_snapshot",
    oracle=_q201_oracle(),
    tags=("timeseries", "warehouse", "time-travel"),
)
def q201_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (time-travel) read of the q100 SCD2 dimension
    history: the state of every user AS OF the calendar midpoint
    (midnight of min_day + span/2, deterministic in both engines) —
    exactly one row per user active by then, selected by
    valid_from <= T < valid_to (open-ended current rows qualify via
    NULL valid_to). The read-side half of the warehouse temporal
    pattern whose write side is q100/q61; the oracle WRAPS q100's
    registered oracle verbatim, so snapshot and history can never
    drift.

    Plan: the history build's single user-partitioned shuffle, one
    broadcast 1-row timestamp attach, one filter. At 100 TB a stored
    history table makes this a metadata-pruned scan (valid_from/
    valid_to min-max pruning); here it runs end-to-end in one pass.
    """
    hist = q100_scd2_history(spark, sf_dir)
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("d0"),
        F.max(F.col("ts").cast("date")).alias("d1"),
    )
    t = bounds.select(
        F.date_add(
            F.col("d0"),
            F.floor(F.datediff(F.col("d1"), F.col("d0")) / 2).cast("int"),
        )
        .cast("timestamp")
        .alias("at_ts")
    )
    return (
        hist.crossJoin(F.broadcast(t))
        .where(
            (F.col("valid_from") <= F.col("at_ts"))
            & (F.col("valid_to").isNull() | (F.col("valid_to") > F.col("at_ts")))
        )
        .select("user_id", "version", "event_type", "valid_from", "n_events")
    )


@register(
    "q204_attribution_outer",
    oracle="""
    SELECT v.user_id,
           v.event_id AS view_id,
           v.ts AS view_ts,
           p.event_id AS purchase_id,
           p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM (SELECT * FROM events WHERE event_type = 'view') v
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON v.user_id = p.user_id
     AND p.ts > v.ts
     AND p.ts <= v.ts + INTERVAL 1 HOUR
    """,
    tags=("timeseries", "streaming", "attribution"),
)
def q204_attribution_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-vs-bounce attribution: every view emits — matched
    views with each purchase inside the 1-hour horizon, UNMATCHED views
    as a NULL-purchase row. This is the BATCH form of the stream-stream
    LEFT OUTER interval join (`streaming/joinstream.py:
    attribution_pairs_outer` runs the literally shared expression as a
    two-watermark append-mode stream; tests/test_streaming_join.py pins
    stream == batch for both the matched pairs and the watermark-closed
    NULL rows). Registering the batch frame puts the outer-join
    semantics themselves under the DuckDB oracle (round-8 verdict item
    8), not just under the streaming test.

    Plan: equi-join on user_id with the time range as a residual
    post-condition — one shuffle per side, no nested loop. The
    streaming twin's state stays rate x (watermark + horizon)-bounded.
    """
    from trafficteach_spark.streaming.joinstream import attribution_pairs_outer

    events = load_table(spark, sf_dir, "events")
    return attribution_pairs_outer(events)


@register(
    "q205_stream_enrich",
    oracle="""
    SELECT e.event_id, e.user_id,
           c.c_name AS user_name,
           c.c_nationkey AS nationkey,
           e.event_type, e.value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    """,
    tags=("timeseries", "streaming", "enrich"),
)
def q205_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension enrichment of the event stream: events x customer on
    user_id = c_custkey — the BATCH form of the stream-static join
    (`streaming/enrich.py: enrich_events` is the literally shared
    body; its streaming run re-plans the static side every micro-batch,
    so a slowly-changing dim refreshes without restarting the query).
    Registering the batch frame puts the enrichment join semantics
    under the DuckDB oracle (round-8 verdict item 8).

    Plan: the dim side is broadcast (customer is dim-sized), so the
    fact/stream side never shuffles — the same property that makes the
    streaming form viable per micro-batch. At 100 TB the fact side
    stays shuffle-free; a fact-sized right side would move this to a
    bucketed co-located join instead.
    """
    from trafficteach_spark.streaming.enrich import enrich_events

    events = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    return enrich_events(events, customer)


@register(
    "q208_position_attribution",
    oracle="""
    WITH pairs AS (
        SELECT v.user_id, v.event_id AS view_id, v.ts AS view_ts,
               p.event_id AS purchase_id, p.value AS purchase_value
        FROM events v
        JOIN events p
          ON v.user_id = p.user_id
         AND p.ts > v.ts
         AND p.ts <= v.ts + INTERVAL 1 HOUR
        WHERE v.event_type = 'view' AND p.event_type = 'purchase'
    ),
    ranked AS (
        SELECT user_id, view_id, purchase_id, purchase_value,
               ROW_NUMBER() OVER (PARTITION BY purchase_id
                                  ORDER BY view_ts, view_id) AS pos,
               COUNT(*) OVER (PARTITION BY purchase_id) AS n_touch
        FROM pairs
    ),
    shares AS (
        SELECT user_id, view_id,
               purchase_value * CASE
                   WHEN n_touch = 1 THEN 1.0
                   WHEN n_touch = 2 THEN 0.5
                   WHEN pos = 1 OR pos = n_touch THEN 0.4
                   ELSE 0.2 / (n_touch - 2)
               END AS share
        FROM ranked
    )
    SELECT user_id, view_id,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           ROUND(SUM(share), 6) AS credit
    FROM shares
    GROUP BY user_id, view_id
    """,
    tags=("timeseries", "attribution"),
)
def q208_position_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-touch POSITION-BASED (U-shaped) attribution: for each
    purchase, its in-horizon views split the value 40% to the first
    touch, 40% to the last, 20% evenly across the middles (100% / 50-50
    for 1- and 2-touch paths) — the industry-standard position model
    completing the attribution family (last-touch q68, linear q113,
    Shapley q189, Markov removal-effect q190).

    Plan: the SAME interval equi-join as q68 (attribution_pairs — the
    stream-tested body), then ONE window pass on purchase_id yields
    both position and touch count (two functions, one partition — a
    single shuffle), the share is a pure row expression, and one hash
    aggregate per view sums credit. Ordering is deterministic via the
    (view_ts, view_id) tie-break. Same rate x horizon bound as q113 at
    any scale.
    """
    from trafficteach_spark.streaming.joinstream import attribution_pairs

    events = load_table(spark, sf_dir, "events")
    pairs = attribution_pairs(events).select(
        "user_id", "view_id", "view_ts", "purchase_id", "purchase_value"
    )
    w = Window.partitionBy("purchase_id")
    ranked = pairs.select(
        "user_id",
        "view_id",
        "purchase_value",
        F.row_number().over(w.orderBy("view_ts", "view_id")).alias("pos"),
        F.count("*").over(w).alias("n_touch"),
    )
    share = F.col("purchase_value") * (
        F.when(F.col("n_touch") == 1, F.lit(1.0))
        .when(F.col("n_touch") == 2, F.lit(0.5))
        .when(
            (F.col("pos") == 1) | (F.col("pos") == F.col("n_touch")), F.lit(0.4)
        )
        .otherwise(F.lit(0.2) / (F.col("n_touch") - 2))
    )
    return (
        ranked.select("user_id", "view_id", share.alias("share"))
        .groupBy("user_id", "view_id")
        .agg(
            F.count("*").cast("long").alias("n_purchases"),
            F.round(F.sum("share"), 6).alias("credit"),
        )
    )


@register(
    "q216_user_state_batch",
    oracle="""
    WITH w AS (
        SELECT user_id, event_type, ts, value,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n_events,
               SUM(value) OVER (PARTITION BY user_id) AS sum_value
        FROM events
    )
    SELECT user_id,
           CAST(n_events AS BIGINT) AS n_events,
           ROUND(sum_value, 6) AS sum_value,
           ts AS last_ts,
           event_type AS last_event_type
    FROM w WHERE rn = 1
    """,
    tags=("timeseries", "streaming", "stateful"),
)
def q216_user_state_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch form of the custom stateful streaming operator
    (`streaming/stateful.py: running_user_state`,
    applyInPandasWithState): the CONVERGED per-user profile — event
    count, value total, last-seen timestamp and event type — i.e. what
    the streaming state holds after the final micro-batch. Registering
    it puts the stateful operator's accumulation semantics under the
    DuckDB oracle (the q204/q205 move applied to O35-O38's state
    extension). One deliberate divergence, documented here and in the
    streaming module: a timestamp TIE is broken by event_id here
    (deterministic under any partitioning) where the stream keeps the
    first ARRIVAL — arrival order is not a batch-reproducible key.

    Plan: ONE user-partitioned window pass produces the running
    aggregates and the last-row selector together (count/sum/
    row_number share a single shuffle + sort), then a row filter — no
    join between an aggregate frame and a last-row frame. At 100 TB:
    one shuffle on user_id, the same key the stateful stream hashes
    its state by.
    """
    ev = load_table(spark, sf_dir, "events")
    wp = Window.partitionBy("user_id")
    w = ev.select(
        "user_id",
        "event_type",
        "ts",
        F.row_number()
        .over(wp.orderBy(F.desc("ts"), F.desc("event_id")))
        .alias("rn"),
        F.count("*").over(wp).alias("n_events"),
        F.sum("value").over(wp).alias("sum_value"),
    )
    return w.where(F.col("rn") == 1).select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.round("sum_value", 6).alias("sum_value"),
        F.col("ts").alias("last_ts"),
        F.col("event_type").alias("last_event_type"),
    )


_XCORR_MAX_LAG = 7


@register(
    "q218_xcorr_lag",
    oracle=f"""
    WITH d AS (
        SELECT CAST(ts AS DATE) AS day,
               SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
               SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
        FROM events GROUP BY 1
    ),
    lg AS (SELECT CAST(lag AS INT) AS lag
           FROM range(-{_XCORR_MAX_LAG}, {_XCORR_MAX_LAG} + 1) t(lag)),
    p AS (
        SELECT lg.lag, a.x, b.y
        FROM d a CROSS JOIN lg
        JOIN d b ON b.day = a.day + lg.lag
    ),
    s AS (
        SELECT lag, COUNT(*) AS n,
               SUM(x) AS sx, SUM(y) AS sy, SUM(x * y) AS sxy,
               SUM(x * x) AS sxx, SUM(y * y) AS syy
        FROM p GROUP BY 1
    )
    SELECT lag,
           CAST(n AS BIGINT) AS n_days,
           ROUND((n * sxy - sx * sy)
                 / NULLIF(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                               * CAST(n * syy - sy * sy AS DOUBLE)), 0), 6)
               AS r
    FROM s
    """,
    tags=("timeseries", "correlation"),
)
def q218_xcorr_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation lag scan: Pearson r between the daily VIEW
    count series and the daily PURCHASE count series shifted by each
    lag in [-{_XCORR_MAX_LAG}, +{_XCORR_MAX_LAG}] — "purchases follow
    views by how many days?". The lead-lag diagnostic behind q194's
    forecast baselines and q142's autocorrelation (this is the CROSS
    series version of q142's self form). All sums are over integer
    daily counts accumulated in exact decimal (q142's pattern: each SUM
    casts to double only after aggregation, and products are formed on
    the double sums — overflow-free where long*long would ANSI-crash),
    so every engine-side value is exact until the final products/divide.

    Plan: the corpus collapses to ONE daily aggregate (day-cardinality
    frame); the lag fan-out is a broadcast cross-attach of the constant
    (2L+1)-row lag grid, realigned by an EQUI-join on the computed day
    key (never an inequality join), then one per-lag aggregate. At
    100 TB only the daily rollup touches the corpus; the scan itself
    is O(days x lags) memory-sized work.
    """
    ev = load_table(spark, sf_dir, "events")
    d = (
        ev.groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum((F.col("event_type") == "view").cast("int")).alias("x"),
            F.sum((F.col("event_type") == "purchase").cast("int")).alias("y"),
        )
        .persist()
    )
    lags = F.broadcast(
        ev.sparkSession.createDataFrame(
            [(lag,) for lag in range(-_XCORR_MAX_LAG, _XCORR_MAX_LAG + 1)],
            "lag int",
        )
    )
    a = d.select("day", "x").crossJoin(lags).select(
        "lag", "x", F.date_add("day", F.col("lag")).alias("day_b")
    )
    b = d.select(F.col("day").alias("day_b"), "y")
    p = a.join(b, "day_b")
    # q142's house pattern: accumulate in DECIMAL (exact, overflow-free —
    # decimal(18,0) products widen to decimal(37,0) and sums to 38), then
    # cast each SUM to double BEFORE the products-of-sums. The first cut
    # kept sums in LONG and formed sx*sx as long*long — under Spark 4's
    # default ANSI mode that is an ARITHMETIC_OVERFLOW crash once total
    # views pass ~3e9 (sx^2 > 2^63), while the DuckDB oracle stays exact
    # in HUGEINT. At test SFs every double here is below 2^53, so the
    # cast chain is lossless and the round(6) hash is unchanged.
    xd = F.col("x").cast("decimal(18,0)")
    yd = F.col("y").cast("decimal(18,0)")
    s = p.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum(xd).cast("double").alias("sx"),
        F.sum(yd).cast("double").alias("sy"),
        F.sum(xd * yd).cast("double").alias("sxy"),
        F.sum(xd * xd).cast("double").alias("sxx"),
        F.sum(yd * yd).cast("double").alias("syy"),
    )
    nd = F.col("n").cast("double")
    num = nd * F.col("sxy") - F.col("sx") * F.col("sy")
    # greatest(0, ...) on each variance term: once sums pass 2^53 the
    # double products carry rounding error, and a near-constant series'
    # true variance can be smaller than that error — the difference then
    # computes NEGATIVE and sqrt would emit NaN where the exact-integer
    # oracle yields a real number. Clamped-to-zero variance flows to
    # den=0 -> nullif -> NULL r, matching the oracle's NULLIF exactly.
    den = F.sqrt(
        F.greatest(F.lit(0.0), nd * F.col("sxx") - F.col("sx") * F.col("sx"))
        * F.greatest(F.lit(0.0), nd * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return s.select(
        "lag",
        F.col("n").cast("long").alias("n_days"),
        F.round(F.try_divide(num, F.nullif(den, F.lit(0.0))), 6).alias("r"),
    )
