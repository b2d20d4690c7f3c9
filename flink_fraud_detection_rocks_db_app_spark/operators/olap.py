"""Advanced OLAP surface: grouping sets (cube/rollup), pivot, exact and
approximate distinct/quantile aggregates, semi/anti joins. All beyond
the join-free reference contract (SURVEY §2.8) but part of a complete
engine; Catalyst built-ins throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import load
from ..registry import register
from ..streaming.jobs import window_agg

EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "cube_order_counts",
    oracle="""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n, round(SUM(o_totalprice), 6) AS total
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
""",
    doc="CUBE over two categorical keys (all 4 grouping sets); NULL rows "
    "are the subtotal levels and hash-compare across engines",
    tags=("batch", "cube"),
)
def cube_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 6).alias("total"))
    )


@register(
    "rollup_daily_events",
    oracle="""
SELECT CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day_no, event_type,
       COUNT(*) AS n, round(SUM(value), 6) AS sum_value
FROM events GROUP BY ROLLUP (day_no, event_type)
""",
    doc="ROLLUP over (day, event_type): day/type, day subtotal, grand total",
    tags=("batch", "rollup"),
)
def rollup_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        F.expr("CAST(ts div 86400000000000 AS BIGINT)").alias("day_no"),
        "event_type",
        "value",
    )
    return ev.rollup("day_no", "event_type").agg(
        F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value")
    )


@register(
    "pivot_user_event_type",
    oracle=f"""
SELECT user_id AS account_id,
       {", ".join(f"round(SUM(value) FILTER (event_type = '{t}'), 6) AS {t}" for t in EVENT_TYPES)}
FROM events GROUP BY 1
""",
    doc="Pivot: per-account event_type columns of summed value "
    "(Spark .pivot with explicit value list == conditional aggregation)",
    tags=("batch", "pivot"),
)
def pivot_user_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .select(F.col("user_id").alias("account_id"), "event_type", "value")
        .groupBy("account_id")
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.round(F.sum("value"), 6))
    )


@register(
    "distinct_users_daily",
    oracle="""
SELECT CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day_no,
       COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
FROM events GROUP BY 1
""",
    doc="Exact count-distinct per day (two-phase distinct aggregate)",
    tags=("batch", "aggregate"),
)
def distinct_users_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .select(F.expr("CAST(ts div 86400000000000 AS BIGINT)").alias("day_no"), "user_id")
        .groupBy("day_no")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count("*").alias("n_events"),
        )
    )


@register(
    "approx_distinct_users",
    oracle=None,  # HLL sketches differ across engines by design; the
    # accuracy bound vs exact COUNT(DISTINCT) (within 5x rsd) is
    # asserted in tests/test_extensions.py::test_approx_distinct_bound
    doc="approx_count_distinct (HyperLogLog++, rsd=0.01) per event_type — "
    "the sketch path for 100 TB cardinalities where exact distinct "
    "would shuffle every key",
    tags=("batch", "approx"),
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.approx_count_distinct("user_id", rsd=0.01).alias("approx_users"))
    )


@register(
    "approx_distinct_users_bounded",
    oracle="""
SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS within_bound
FROM events GROUP BY 1
""",
    doc="The HASH-GATEABLE face of the HLL sketch path: raw "
    "approx_count_distinct values cannot be oracle-compared (sketches "
    "differ across engines by design — approx_distinct_users' r1 "
    "driver row recorded no_oracle for exactly that reason), so this "
    "face emits the exact distinct count (hash-compared against DuckDB "
    "value for value) PLUS a boolean asserting the HLL estimate "
    "(rsd=0.01) landed within 5% of it, which the oracle pins to TRUE. "
    "A drifting sketch implementation now flips a driver hash, not "
    "just a suite tolerance test. SHUFFLE SHAPE MATTERS HERE: mixing "
    "countDistinct with approx_count_distinct in ONE groupBy makes "
    "Catalyst's distinct-rewrite attach a partial HLL sketch (rsd=0.01 "
    "= 1,641 long registers ≈ 13 KB) to EVERY (event_type, user_id) "
    "group, so the dedup shuffle carries a sketch per user — verified "
    "via .explain (Results [1641] on the pre-exchange HashAggregate). "
    "Deduping FIRST and aggregating both measures on the deduped frame "
    "keeps shuffle one at 2 narrow columns and builds sketches only "
    "per (partition x event_type) in shuffle two (~num_partitions x "
    "num_types rows) — the form that survives 100 TB, where you'd "
    "drop the exact twin and keep the mergeable sketch.",
    tags=("batch", "approx"),
)
def approx_distinct_users_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    deduped = (
        load(spark, sf_dir, "events").select("event_type", "user_id").distinct()
    )
    return (
        deduped.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("exact_users"),
            F.approx_count_distinct("user_id", rsd=0.01).alias("approx"),
        )
        .select(
            "event_type",
            "exact_users",
            (
                F.abs(F.col("approx") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("within_bound"),
        )
    )


@register(
    "weekly_users_sketch_rollup",
    oracle="""
SELECT CAST(epoch_ms(ts) // 86400000 // 7 AS BIGINT) AS week_no,
       COUNT(DISTINCT user_id) AS exact_users,
       TRUE AS within_bound
FROM events GROUP BY 1
""",
    doc="The PERSISTED-SKETCH cardinality pattern (Datasketches HLL via "
    "hll_sketch_agg/hll_union_agg): per-day user sketches are built "
    "first, then UNIONed into per-week estimates — two aggregation "
    "levels with a mergeable binary sketch crossing the boundary, "
    "exactly how a 100 TB warehouse answers 'distinct users last "
    "month' without ever recounting raw events (daily sketch rows are "
    "the stored rollup; any horizon is a union over O(days) "
    "KB-sized sketches). The sketch path's shuffles carry only "
    "O(days x partitions) sketch partials — never per-user rows; the "
    "exact twin (computed as its own dedup-first aggregation, joined "
    "on the tiny week frame — NOT mixed into the sketch groupBy, per "
    "the approx_distinct_users_bounded hazard) exists to certify the "
    "estimate: the oracle pins a within-5% boolean to TRUE and "
    "hash-compares the exact counts. Binary round-trip through "
    "parquet is pinned by tests/test_extensions.py — the sketches "
    "really are storable assets.",
    tags=("batch", "approx", "sketch", "rollup"),
)
def weekly_users_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        F.expr("CAST(ts div 86400000000000 AS BIGINT)").alias("day_no"), "user_id"
    )
    daily = ev.groupBy("day_no").agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    weekly = (
        daily.withColumn("week_no", F.expr("day_no div 7"))
        .groupBy("week_no")
        .agg(F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("approx"))
    )
    exact = (
        ev.withColumn("week_no", F.expr("day_no div 7"))
        .select("week_no", "user_id")
        .distinct()
        .groupBy("week_no")
        .agg(F.count(F.lit(1)).alias("exact_users"))
    )
    return (
        exact.join(F.broadcast(weekly), "week_no")
        .select(
            "week_no",
            "exact_users",
            (
                F.abs(F.col("approx") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("within_bound"),
        )
    )


@register(
    "value_quantiles_by_type",
    oracle="""
SELECT event_type,
       quantile_cont(value, 0.5) AS p50,
       quantile_cont(value, 0.95) AS p95,
       MIN(value) AS lo, MAX(value) AS hi
FROM events GROUP BY 1
""",
    doc="Exact interpolated quantiles per event_type (Spark percentile == "
    "DuckDB quantile_cont, both linear interpolation on sorted values)",
    tags=("batch", "aggregate"),
)
def value_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5)").alias("p50"),
            F.expr("percentile(value, 0.95)").alias("p95"),
            F.min("value").alias("lo"),
            F.max("value").alias("hi"),
        )
    )


@register(
    "customers_with_orders_semi",
    oracle="SELECT c_custkey, c_name FROM customer WHERE c_custkey IN "
    "(SELECT o_custkey FROM orders)",
    doc="Left-semi join (EXISTS): customers having at least one order",
    tags=("batch", "join", "setop"),
)
def customers_with_orders_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load(spark, sf_dir, "customer")
    orders = load(spark, sf_dir, "orders")
    return cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@register(
    "intersect_customers_suppliers_nations",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey AS nationkey FROM supplier
""",
    doc="INTERSECT set op: nations having both customers and suppliers",
    tags=("batch", "setop"),
)
def intersect_customers_suppliers_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = load(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "unpivot_customer_metrics",
    oracle="""
SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS v FROM customer
UNION ALL
SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS v FROM customer
""",
    doc="Unpivot (melt): wide customer columns to (key, metric, value) "
    "long form via stack() — the inverse of pivot_user_event_type",
    tags=("batch", "unpivot"),
)
def unpivot_customer_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "customer").selectExpr(
        "c_custkey",
        "stack(2, 'acctbal', c_acctbal, 'nationkey', CAST(c_nationkey AS DOUBLE)) AS (metric, v)",
    )


def approx_value_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETIRED from the registry (r13, per the r11 #5 / r12 #4
    rationale item): the raw GK-sketch output has no cross-engine
    oracle by design, and its registered successor
    `value_quantiles_by_type_bounded` gates the SAME sketch under a
    hash-comparable contract (exact p50/p95 + an in-brackets boolean
    the oracle pins TRUE). Kept as a plain helper because the suite's
    rank-error envelope test (test_approx_quantiles_bound) is the
    tighter per-group numeric check on the raw estimates."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.percentile_approx("value", 0.5, 10000).alias("p50"),
            F.percentile_approx("value", 0.95, 10000).alias("p95"),
        )
    )


@register(
    "value_quantiles_by_type_bounded",
    oracle="""
SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       CAST(COUNT(*) AS BIGINT) AS n,
       TRUE AS approx_in_bounds
FROM events GROUP BY 1
""",
    doc="The hash-GATEABLE face of the GK-sketch quantiles (the "
    "tumble_approx_median_bounded pattern applied to the per-type "
    "batch quantiles): exact interpolated p50/p95 and the group count "
    "are hash-compared against DuckDB quantile_cont, and "
    "approx_in_bounds — which the oracle pins to TRUE — asserts BOTH "
    "approx_percentile sketch values land inside exact rank brackets "
    "(p50 in [p45, p55], p95 in [p90, p99]; min/max fallback for "
    "groups under 100 rows where interpolated brackets are "
    "degenerate). GK at accuracy 10000 guarantees rank error "
    "<= max(1, 1e-4 n), far inside the 0.04-0.05n bracket widths, so "
    "the flag is TRUE by the sketch's contract — a sketch regression "
    "flips a driver row red instead of only a suite tolerance test. "
    "One hash-aggregate, one shuffle of O(types) rows; at 100 TB you "
    "drop the exact columns and keep the mergeable GK sketch, which "
    "reduces each map partition to one bounded summary.",
    tags=("batch", "approx"),
)
def value_quantiles_by_type_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.5)").alias("_p50"),
            F.expr("percentile(value, 0.95)").alias("_p95"),
            F.count(F.lit(1)).alias("n"),
            F.percentile_approx("value", 0.5, 10000).alias("_a50"),
            F.percentile_approx("value", 0.95, 10000).alias("_a95"),
            F.expr("percentile(value, array(0.45, 0.55, 0.90, 0.99))").alias("_br"),
            F.min("value").alias("_lo"),
            F.max("value").alias("_hi"),
        )
    )
    small = F.col("n") < 100
    lo50 = F.when(small, F.col("_lo")).otherwise(F.col("_br")[0])
    hi50 = F.when(small, F.col("_hi")).otherwise(F.col("_br")[1])
    lo95 = F.when(small, F.col("_lo")).otherwise(F.col("_br")[2])
    hi95 = F.when(small, F.col("_hi")).otherwise(F.col("_br")[3])
    in_bounds = (
        (F.col("_a50") >= lo50)
        & (F.col("_a50") <= hi50)
        & (F.col("_a95") >= lo95)
        & (F.col("_a95") <= hi95)
    )
    return df.select(
        "event_type",
        F.round("_p50", 6).alias("p50"),
        F.round("_p95", 6).alias("p95"),
        "n",
        in_bounds.alias("approx_in_bounds"),
    )


@register(
    "grouping_sets_events",
    oracle="""
SELECT event_type,
       CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day_no,
       GROUPING(event_type, day_no) AS gid,
       COUNT(*) AS n, round(SUM(value), 6) AS sum_value
FROM events
GROUP BY GROUPING SETS ((event_type), (day_no), (event_type, day_no))
""",
    doc="Explicit GROUPING SETS (the primitive CUBE/ROLLUP expand to) "
    "with grouping_id disambiguating NULL-as-subtotal from NULL data — "
    "three grouping sets in ONE pass over the scan (Spark Expand node), "
    "not three scans unioned",
    tags=("batch", "grouping_sets"),
)
def grouping_sets_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(ts div 86400000000000 AS BIGINT)").alias("day_no"),
        "value",
    )
    ev.createOrReplaceTempView("_gs_events")
    return spark.sql(
        """
        SELECT event_type, day_no,
               CAST(grouping_id(event_type, day_no) AS BIGINT) AS gid,
               COUNT(*) AS n, round(SUM(value), 6) AS sum_value
        FROM _gs_events
        GROUP BY GROUPING SETS ((event_type), (day_no), (event_type, day_no))
        """
    )


@register(
    "order_value_distribution",
    oracle="""
SELECT o_orderkey, o_orderstatus,
       round(percent_rank() OVER (PARTITION BY o_orderstatus
                                  ORDER BY o_totalprice, o_orderkey), 6)
         AS pct_rank,
       ntile(10) OVER (PARTITION BY o_orderstatus
                       ORDER BY o_totalprice, o_orderkey) AS decile
FROM orders
""",
    doc="Analytic window functions: percent_rank + ntile deciles per "
    "order status (orderkey tiebreak makes ranks deterministic; "
    "percent_rank rounded 6dp). One shuffle keyed by the partition "
    "column, sort within partitions",
    tags=("batch", "window_function"),
)
def order_value_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return load(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.ntile(10).over(w).cast("long").alias("decile"),
    )


@register(
    "lineitem_price_stats_by_flag",
    oracle="""
SELECT l_returnflag,
       round(corr(l_quantity, l_extendedprice), 6) AS qty_price_corr,
       round(stddev_samp(l_extendedprice), 6) AS price_stddev,
       round(covar_samp(l_quantity, l_extendedprice), 6) AS qty_price_covar,
       COUNT(*) AS n
FROM lineitem GROUP BY l_returnflag
""",
    doc="Statistical aggregates (Pearson corr, sample stddev/covar) per "
    "returnflag — single hash-aggregate pass, all moments accumulated "
    "map-side (outputs rounded 6 dp: cross-engine summation order "
    "differs in the last bits)",
    tags=("batch", "aggregate", "stats"),
)
def lineitem_price_stats_by_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("qty_price_corr"),
            F.round(F.stddev_samp("l_extendedprice"), 6).alias("price_stddev"),
            F.round(F.covar_samp("l_quantity", "l_extendedprice"), 6).alias(
                "qty_price_covar"
            ),
            F.count("*").alias("n"),
        )
    )


@register(
    "event_value_histogram",
    oracle="""
SELECT event_type,
       CAST(FLOOR(value / 100.0) AS BIGINT) AS bucket,
       COUNT(*) AS n,
       round(SUM(value), 6) AS sum_value
FROM events
GROUP BY event_type, bucket
""",
    doc="Fixed-width value histogram per event type (bucket = "
    "floor(value/100), identical IEEE division+floor in both engines "
    "so the bucket gate is fp-safe) — the groupBy feeding a dashboard "
    "heatmap; one shuffle keyed on (type, bucket)",
    tags=("batch", "aggregate", "histogram"),
)
def event_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    return (
        ev.groupBy(
            "event_type",
            F.floor(F.col("value") / 100.0).cast("long").alias("bucket"),
        )
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("sum_value"))
    )


TOPK_WINDOW_MS = 3_600_000
TOPK_N = 3


def _typed_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_time, event_type) over the raw events."""
    return load(spark, sf_dir, "events").select(
        F.timestamp_micros(F.expr("ts div 1000")).alias("event_time"), "event_type"
    )


@register(
    "window_heavy_hitters_1h",
    oracle=f"""
SELECT w_start, event_type, n, rnk
FROM (
  SELECT w_start, event_type, n,
         row_number() OVER (PARTITION BY w_start ORDER BY n DESC, event_type ASC) AS rnk
  FROM (
    SELECT (epoch_ms(ts) // {TOPK_WINDOW_MS}) * {TOPK_WINDOW_MS} AS w_start,
           event_type, CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY 1, 2
  )
)
WHERE rnk <= {TOPK_N}
""",
    doc=f"Heavy hitters per hour: top-{TOPK_N} event types by count in "
    "each 1h tumbling window (deterministic count DESC, type ASC rank). "
    "Two-level plan: map-side partial count on (window, type) — a "
    "bounded key space, so the shuffle is O(windows x types), not "
    "O(rows) — then a per-window rank over at most |types| rows. At "
    "100 TB with an unbounded type column the same shape degrades "
    "gracefully: the partial agg still combines map-side, and a "
    "count-min/space-saving sketch twin can replace the exact count the "
    "same way the HLL twin replaces COUNT(DISTINCT).",
    tags=("batch", "window", "topk"),
)
def window_heavy_hitters_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    counts = window_agg(
        _typed_events(spark, sf_dir),
        F.window("event_time", f"{TOPK_WINDOW_MS} milliseconds"),
        [F.count("*").alias("n")],
        key="event_type",
    )
    rnk = F.row_number().over(
        W.partitionBy("w_start").orderBy(F.desc("n"), F.asc("event_type"))
    )
    return counts.withColumn("rnk", rnk).where(F.col("rnk") <= TOPK_N)


@register(
    "window_heavy_hitters_1h_approx",
    # No SQL oracle ON PURPOSE: approx_top_k's frequent-items sketch is
    # engine-specific (and tie order among equal counts is unspecified).
    # The contract vs the exact twin lives in tests/test_extensions.py:
    # every reported (item, count) must carry the item's EXACT count
    # (the sketch is exact while distinct items < capacity), and the
    # reported set must be a valid top-k under count ties.
    oracle=None,
    doc=f"Sketch twin of window_heavy_hitters_1h: approx_top_k "
    f"(frequent-items sketch, capacity 10000) per 1h tumbling window. "
    "The 100 TB story mirrors HLL/GK: sketch partials are mergeable "
    "and bounded, so with an unbounded type column the shuffle moves "
    "O(windows) sketches instead of O(windows x types) count rows — "
    "and unlike the exact rank, no per-window sort is needed at all.",
    tags=("batch", "window", "topk", "approx"),
)
def window_heavy_hitters_1h_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        window_agg(
            _typed_events(spark, sf_dir),
            F.window("event_time", f"{TOPK_WINDOW_MS} milliseconds"),
            [F.expr(f"approx_top_k(event_type, {TOPK_N})").alias("tk")],
            key=None,
        )
        .select("w_start", F.explode("tk").alias("e"))
        .select(
            "w_start",
            F.col("e.item").alias("event_type"),
            F.col("e.count").alias("n_approx"),
        )
    )


@register(
    "cohort_retention_daily",
    oracle="""
WITH a AS (
  SELECT user_id, CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day_no
  FROM events GROUP BY 1, 2
),
c AS (SELECT user_id, MIN(day_no) AS cohort_day FROM a GROUP BY 1)
SELECT cohort_day, day_no - cohort_day AS day_offset,
       CAST(COUNT(*) AS BIGINT) AS n_users
FROM a JOIN c USING (user_id)
GROUP BY 1, 2
""",
    doc="Cohort retention matrix: users grouped by first-activity day, "
    "counted at each later activity-day offset. Plan: distinct "
    "(user, day) pairs reduce the fact table once (map-side combine), "
    "the per-user cohort day is a second bounded aggregate, and the "
    "join back is user-keyed on the already-reduced frame — shuffle "
    "volume is O(user-days), never O(events). The standard "
    "growth-analytics shape; at 100 TB the (user, day) reduction is "
    "what keeps it tractable.",
    tags=("batch", "analytics", "retention"),
)
def cohort_retention_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    active = (
        load(spark, sf_dir, "events")
        .select("user_id", F.expr("CAST(ts div 86400000000000 AS BIGINT)").alias("day_no"))
        .distinct()
    )
    cohort = active.groupBy("user_id").agg(F.min("day_no").alias("cohort_day"))
    return (
        active.join(cohort, "user_id")
        .groupBy("cohort_day", (F.col("day_no") - F.col("cohort_day")).alias("day_offset"))
        .agg(F.count("*").alias("n_users"))
    )
