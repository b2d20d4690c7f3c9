"""Event-time window operators (the heart of the reference).

The reference implements tumbling and sliding event-time windows twice
over — a record-buffer strategy and a pane-slicing strategy
(reference: master/src/main/java/InorderTumblingWindow/CustomTumblingWindow.java:33-77,
master/src/main/java/InorderTumblingWindow/CustomSlidingWindow.java:25-147) —
plus Flink built-in assigners used as test oracles. In Spark all of
them are the single declarative `F.window()` / `F.session_window()`
expression, passed to one builder, `streaming.jobs.window_agg`, which
the stream jobs and rollups call too. Catalyst plans the partial/final
aggregation split that the reference hand-codes as
`AggregateFunction.merge`, and the sliding "pane sharing" optimization
becomes Spark's Expand + partial-agg pipeline (see plans/ notes and
SURVEY §4).

Window-start convention: epoch-ms BIGINT `w_start` on both engines —
Spark `unix_millis(window.start)` (in `window_agg`), DuckDB
`(epoch_ms(ts)//size)*size`.
Both floor the raw parquet nanosecond timestamps, and Spark's window
alignment is epoch-based with fixed-width intervals, so the arithmetic
is bit-identical.

Scale notes: each windowed aggregate is a single hash-aggregate with
map-side partial aggregation; the shuffle key is (account_id, window)
so cardinality grows with keys x windows and stays skew-free for
uniform accounts. Sliding windows Expand each row into size/slide
copies *before* the partial agg — at 100 TB keep size/slide small
(ours are 5x) or use the pane-sliced two-level variant below
(`slide_sum_50s_10s_paned`), which shrinks the expanded volume by
first collapsing rows into gcd(size, slide) panes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import transactions
from ..registry import register
from ..streaming.jobs import window_agg

MS = {"s": 1_000, "m": 60_000, "h": 3_600_000, "d": 86_400_000}


# ---------------------------------------------------------------- SQL helpers


def sql_tumble(
    size_ms: int,
    agg_sql: str,
    key: bool = True,
    having: str | None = None,
) -> str:
    key_sel = "user_id AS account_id, " if key else ""
    group = "GROUP BY 1, 2" if key else "GROUP BY 1"
    return (
        f"SELECT (epoch_ms(ts) // {size_ms}) * {size_ms} AS w_start, {key_sel}{agg_sql} "
        f"FROM events {group}{f' HAVING {having}' if having else ''}"
    )


def sql_slide(
    size_ms: int,
    slide_ms: int,
    agg_sql: str,
    key: bool = True,
) -> str:
    """Sliding windows via explicit window-start enumeration.

    A row at time t belongs to every window start w = floor(t/slide)*slide
    - i*slide with w > t - size; identical to Spark's Expand-based
    assignment.
    """
    nwin = -(-size_ms // slide_ms)  # ceil
    key_sel = "user_id AS account_id, " if key else ""
    group = "GROUP BY 1, 2" if key else "GROUP BY 1"
    return f"""
WITH e AS (SELECT user_id, value, epoch_ms(ts) AS tms FROM events),
c AS (
  SELECT user_id, value,
         (tms // {slide_ms}) * {slide_ms} - i * {slide_ms} AS w_start
  FROM e CROSS JOIN (SELECT unnest(range({nwin})) AS i)
  WHERE (tms // {slide_ms}) * {slide_ms} - i * {slide_ms} > tms - {size_ms}
)
SELECT w_start, {key_sel}{agg_sql} FROM c {group}
"""


# ------------------------------------------------------------------- queries
# Tumbling: WA1/WA4/WA5/WA7 + A1/A2/A6 configurations.


@register(
    "tumble_sum_3s",
    oracle=sql_tumble(3_000, "round(SUM(value), 6) AS sum_amount"),
    doc="EP1: per-account 3s tumbling SUM (CustomTumblingWindow(3000,100), "
    "reference: master/src/main/java/InorderTumblingWindow/FraudDetectionJob.java:68-76)",
    tags=("window", "tumbling", "parity"),
)
def tumble_sum_3s(spark: SparkSession, sf_dir: str) -> DataFrame:
    return window_agg(
        transactions(spark, sf_dir),
        F.window("event_time", "3 seconds"),
        [F.round(F.sum("amount"), 6).alias("sum_amount")],
    )


@register(
    "tumble_sum_5s",
    oracle=sql_tumble(5_000, "round(SUM(value), 6) AS sum_amount"),
    doc="F1's hand-rolled 5s record-buffer tumbling sum "
    "(reference: master/src/main/java/InorderTumblingWindow/FraudDetector.java:35-119)",
    tags=("window", "tumbling", "parity"),
)
def tumble_sum_5s(spark: SparkSession, sf_dir: str) -> DataFrame:
    return window_agg(
        transactions(spark, sf_dir),
        F.window("event_time", "5 seconds"),
        [F.round(F.sum("amount"), 6).alias("sum_amount")],
    )


@register(
    "tumble_sum_5m",
    oracle=sql_tumble(5 * 60_000, "round(SUM(value), 6) AS sum_amount"),
    doc="WA7 oracle config: built-in TumblingEventTimeWindows.of(5 min) + sum "
    "(reference: master/src/test/java/CustomTumblingWindowTest.java:59-64)",
    tags=("window", "tumbling", "parity"),
)
def tumble_sum_5m(spark: SparkSession, sf_dir: str) -> DataFrame:
    return window_agg(
        transactions(spark, sf_dir),
        F.window("event_time", "5 minutes"),
        [F.round(F.sum("amount"), 6).alias("sum_amount")],
    )


@register(
    "tumble_mean_3s",
    oracle=sql_tumble(3_000, "round(AVG(value), 6) AS mean_amount, COUNT(*) AS n_events"),
    doc="A2/A3 IncrementalMeanAggregate on tumbling windows "
    "(reference: master/src/main/java/InorderSlidingWindow/FraudDetectionJob.java:137-172)",
    tags=("window", "tumbling", "parity"),
)
def tumble_mean_3s(spark: SparkSession, sf_dir: str) -> DataFrame:
    return window_agg(
        transactions(spark, sf_dir),
        F.window("event_time", "3 seconds"),
        [F.round(F.avg("amount"), 6).alias("mean_amount"), F.count("*").alias("n_events")],
    )


@register(
    "tumble_stats_1h",
    oracle=sql_tumble(
        3_600_000,
        "round(SUM(value), 6) AS sum_amount, round(AVG(value), 6) AS mean_amount, "
        "COUNT(*) AS n_events, MIN(value) AS min_amount, MAX(value) AS max_amount",
    ),
    doc="Dense-window variant (hourly) so aggregates combine many rows; "
    "exercises partial/final agg like A1-A3 merge paths",
    tags=("window", "tumbling"),
)
def tumble_stats_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    return window_agg(
        transactions(spark, sf_dir),
        F.window("event_time", "1 hour"),
        [
            F.round(F.sum("amount"), 6).alias("sum_amount"),
            F.round(F.avg("amount"), 6).alias("mean_amount"),
            F.count("*").alias("n_events"),
            F.min("amount").alias("min_amount"),
            F.max("amount").alias("max_amount"),
        ],
    )


# Sliding: WA2/WA3/WA8 configurations.


@register(
    "slide_mean_50s_10s",
    oracle=sql_slide(50_000, 10_000, "round(AVG(value), 6) AS mean_amount"),
    doc="EP2: pane-sliced sliding mean, size 50s slide 10s "
    "(reference: master/src/main/java/InorderSlidingWindow/FraudDetectionJob.java:77-83)",
    tags=("window", "sliding", "parity"),
)
def slide_mean_50s_10s(spark: SparkSession, sf_dir: str) -> DataFrame:
    return window_agg(
        transactions(spark, sf_dir),
        F.window("event_time", "50 seconds", "10 seconds"),
        [F.round(F.avg("amount"), 6).alias("mean_amount")],
    )


@register(
    "slide_sum_5m_1m",
    oracle=sql_slide(5 * 60_000, 60_000, "round(SUM(value), 6) AS sum_amount"),
    doc="WA8: built-in SlidingEventTimeWindows.of(5 min, 1 min) + sum "
    "(reference: master/src/test/java/CustomSlidingWindowTest.java:61)",
    tags=("window", "sliding", "parity"),
)
def slide_sum_5m_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    return window_agg(
        transactions(spark, sf_dir),
        F.window("event_time", "5 minutes", "1 minute"),
        [F.round(F.sum("amount"), 6).alias("sum_amount")],
    )


@register(
    "global_slide_mean_5m_1m",
    oracle=sql_slide(5 * 60_000, 60_000, "round(AVG(value), 6) AS mean_amount", key=False),
    doc="WA9: non-keyed windowAll sliding mean "
    "(reference: GraphSolution-Prometheus-SlidingWindows/src/main/java/spendreport/FraudDetectionJob.java:108-113)",
    tags=("window", "sliding", "global", "parity"),
)
def global_slide_mean_5m_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    return window_agg(
        transactions(spark, sf_dir),
        F.window("event_time", "5 minutes", "1 minute"),
        [F.round(F.avg("amount"), 6).alias("mean_amount")],
        key=None,
    )


@register(
    "slide_sum_50s_10s_paned",
    oracle=sql_slide(50_000, 10_000, "round(SUM(value), 6) AS sum_amount, COUNT(*) AS n_events"),
    doc="WA2/WA3 pane-slicing strategy, faithfully as a two-level aggregate: "
    "rows -> gcd(size,slide)=10s panes (partial sum/count) -> windows "
    "(reference: SlidingWIndowSlicingStrategy/CustomSlidingWindow.java:15-103, "
    "combinePanes master/src/main/java/InorderTumblingWindow/CustomSlidingWindow.java:108-127). "
    "At scale this shrinks the Expand input from |rows| to |panes|.",
    tags=("window", "sliding", "parity", "perf"),
)
def slide_sum_50s_10s_paned(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    size_ms, slide_ms = 50_000, 10_000
    pane_ms = math.gcd(size_ms, slide_ms)
    df = transactions(spark, sf_dir)
    # Level 1: collapse rows into (key, pane) partial aggregates.
    panes = df.groupBy(
        F.col("account_id"),
        (F.unix_millis("event_time") - F.unix_millis("event_time") % pane_ms).alias("pane_ms"),
    ).agg(F.sum("amount").alias("p_sum"), F.count("*").alias("p_cnt"))
    # Level 2: expand each pane into the size/slide windows covering it,
    # then combine pane partials (combinePanes).
    nwin = size_ms // slide_ms
    expanded = panes.select(
        "account_id",
        "p_sum",
        "p_cnt",
        F.explode(
            F.sequence(
                (F.col("pane_ms") / slide_ms).cast("long") * slide_ms - (nwin - 1) * slide_ms,
                (F.col("pane_ms") / slide_ms).cast("long") * slide_ms,
                F.lit(slide_ms),
            )
        ).alias("w_start"),
    ).where(F.col("w_start") > F.col("pane_ms") + F.lit(pane_ms - 1) - size_ms)
    return expanded.groupBy("w_start", "account_id").agg(
        F.round(F.sum("p_sum"), 6).alias("sum_amount"), F.sum("p_cnt").alias("n_events")
    )


# Session windows: DESIGN.md:104's stated goal (trigger has vestigial
# canMerge/onMerge support, reference:
# master/src/main/java/InorderTumblingWindow/CustomTumblingTrigger.java:103-114).


def sql_session(gap_ms: int, key: bool = True) -> str:
    part = "PARTITION BY user_id" if key else ""
    key_sel = "user_id AS account_id, " if key else ""
    group = "GROUP BY user_id, sid" if key else "GROUP BY sid"
    gap_us = gap_ms * 1000
    return f"""
WITH e AS (SELECT user_id, value, epoch_us(ts) AS tus FROM events),
o AS (
  SELECT *, CASE WHEN lag(tus) OVER ({part} ORDER BY tus) IS NULL
                   OR tus - lag(tus) OVER ({part} ORDER BY tus) >= {gap_us}
                 THEN 1 ELSE 0 END AS brk
  FROM e
),
s AS (SELECT *, SUM(brk) OVER ({part} ORDER BY tus ROWS UNBOUNDED PRECEDING) AS sid FROM o)
SELECT MIN(tus) // 1000 AS w_start, {key_sel}round(SUM(value), 6) AS sum_amount, COUNT(*) AS n_events
FROM s {group}
"""


@register(
    "session_sum_user_6h",
    oracle=sql_session(6 * 3_600_000),
    doc="Keyed session window (6h gap): Spark session_window(); covers the "
    "merging-window capability the reference trigger was built to support",
    tags=("window", "session"),
)
def session_sum_user_6h(spark: SparkSession, sf_dir: str) -> DataFrame:
    return window_agg(
        transactions(spark, sf_dir),
        F.session_window("event_time", "6 hours"),
        [F.round(F.sum("amount"), 6).alias("sum_amount"), F.count("*").alias("n_events")],
    )


@register(
    "session_sum_global_10m",
    oracle=sql_session(10 * 60_000, key=False),
    doc="Global session window (10m gap) over the whole stream",
    tags=("window", "session", "global"),
)
def session_sum_global_10m(spark: SparkSession, sf_dir: str) -> DataFrame:
    # a constant key `g`, not key=None, which plans an unkeyed session Aggregate
    return window_agg(
        transactions(spark, sf_dir).withColumn("g", F.lit(1)),
        F.session_window("event_time", "10 minutes"),
        [F.round(F.sum("amount"), 6).alias("sum_amount"), F.count("*").alias("n_events")],
        key="g",
    ).drop("g")


# --------------------------------------------- windowed distinct counting

@register(
    "tumble_distinct_users_1h",
    oracle=sql_tumble(MS["h"], "COUNT(DISTINCT user_id) AS n_users", key=False),
    doc="Exact distinct active accounts per 1h tumbling window. Catalyst "
    "plans COUNT(DISTINCT) as the two-level expand/re-aggregate (partial "
    "distinct per partition, exact merge) — correct but shuffle-heavy; "
    "tumble_approx_distinct_users_1h is the 100 TB path verified against "
    "this exact twin.",
    tags=("window", "tumbling", "distinct"),
)
def tumble_distinct_users_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    return window_agg(
        transactions(spark, sf_dir),
        F.window("event_time", "1 hour"),
        [F.countDistinct("account_id").alias("n_users")],
        key=None,
    )


def tumble_approx_distinct_users_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RETIRED from the registry (r13, per the r11 #5 / r12 #4
    rationale item): raw HLL++ estimates never bit-match another
    engine's, so this face could only ever record no_oracle; its
    registered successor `tumble_approx_distinct_users_bounded` gates
    the SAME windowed sketch under a hash-comparable contract (exact
    distinct per window + a within-5% boolean the oracle pins TRUE).
    Kept as a plain helper because the suite's 3*rsd envelope test
    (test_approx_distinct_tracks_exact_twin) is the tighter per-window
    numeric check on the raw estimates. Scale story unchanged: HLL
    partials are mergeable, so the shuffle moves O(windows) sketches,
    never O(rows) expanded values."""
    return window_agg(
        transactions(spark, sf_dir),
        F.window("event_time", "1 hour"),
        [F.approx_count_distinct("account_id", rsd=0.02).alias("n_users_approx")],
        key=None,
    )


@register(
    "tumble_approx_distinct_users_bounded",
    oracle=sql_tumble(
        MS["h"],
        "COUNT(DISTINCT user_id) AS exact_users, TRUE AS within_bound",
        key=False,
    ),
    doc="The hash-GATEABLE face of the WINDOWED HLL path (the "
    "approx_distinct_users_bounded pattern applied per tumbling "
    "window): the exact distinct count per 1h window is hash-compared "
    "against DuckDB, and within_bound — which the oracle pins to TRUE "
    "— asserts the HLL++ estimate (rsd=0.01) landed within 5% of it, "
    "so a drifting sketch flips a driver row red instead of only the "
    "suite's 3*rsd envelope on the unbounded _1h twin. HLL++ is exact "
    "in sparse mode for the per-window cardinalities any hourly slice "
    "produces, and 5% = 5 sigma at this rsd in dense mode. The same "
    "shuffle-shape hazard as the batch face applies: mixing "
    "countDistinct with approx_count_distinct in ONE window groupBy "
    "attaches a ~13 KB partial sketch to every (window, account) "
    "group, so this face dedups (window, account) FIRST — shuffle one "
    "carries 2 narrow columns, shuffle two builds sketches only per "
    "(partition x window) — the form that survives 100 TB, where "
    "you'd drop the exact twin and keep the mergeable sketch per "
    "window.",
    tags=("window", "tumbling", "distinct", "approx"),
)
def tumble_approx_distinct_users_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    deduped = (
        transactions(spark, sf_dir)
        .select(
            F.unix_millis(F.window("event_time", "1 hour").getField("start")).alias(
                "w_start"
            ),
            "account_id",
        )
        .distinct()
    )
    return (
        deduped.groupBy("w_start")
        .agg(
            F.count(F.lit(1)).alias("exact_users"),
            F.approx_count_distinct("account_id", rsd=0.01).alias("_a"),
        )
        .select(
            "w_start",
            "exact_users",
            (
                F.abs(F.col("_a") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("within_bound"),
        )
    )


# ---------------------------------------------------------------------------
# Holistic median windows — the reference's DESIGNED BUT NEVER BUILT
# aggregate. DESIGN.md commits to "calculating the mean and median of
# the data input stream values" with the holistic operator storing full
# events (reference: DESIGN.md:27, task list DESIGN.md:121-123), yet no
# .java file contains a median/percentile/sort (SURVEY §0). These
# operators realize that design goal declaratively.


@register(
    "tumble_median_1h",
    oracle=sql_tumble(
        MS["h"],
        "quantile_cont(value, 0.5) AS median_amount, COUNT(*) AS n_events",
    ),
    doc="Holistic per-account hourly median (DESIGN.md:27's unbuilt "
    "holistic operator). Spark's percentile() is the exact interpolated "
    "quantile == DuckDB quantile_cont. Unlike sum/mean there is no "
    "partial-aggregate merge: Catalyst plans a full-value ObjectHashAgg "
    "— exactly the 'store the events' cost DESIGN.md predicted; the "
    "100 TB path is the approx twin below.",
    tags=("window", "tumbling", "holistic"),
)
def tumble_median_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    return window_agg(
        transactions(spark, sf_dir),
        F.window("event_time", "1 hour"),
        [
            F.expr("percentile(amount, 0.5)").alias("median_amount"),
            F.count("*").alias("n_events"),
        ],
    )


@register(
    "tumble_approx_median_1h",
    # No SQL oracle ON PURPOSE: approx_percentile's Greenwald-Khanna
    # sketch is implementation-defined. Verification contract lives in
    # tests/test_extensions.py: the approx median must sit within the
    # window's exact [p25, p75] envelope (GK guarantees rank error
    # <= eps*n, eps=0.01 here — far inside that envelope).
    oracle=None,
    doc="Approximate hourly median via approx_percentile (GK sketch, "
    "accuracy 10000 ~ eps 1e-4). The scale story mirrors the HLL twin: "
    "GK summaries are mergeable, so each map partition reduces to one "
    "bounded sketch and the shuffle moves O(windows) sketches instead "
    "of the full value lists a holistic median otherwise buffers — the "
    "only median shape that survives 100 TB windows.",
    tags=("window", "tumbling", "holistic", "approx"),
)
def tumble_approx_median_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    return window_agg(
        transactions(spark, sf_dir),
        F.window("event_time", "1 hour"),
        [
            F.expr("approx_percentile(amount, 0.5, 10000)").alias("median_amount_approx"),
            F.count("*").alias("n_events"),
        ],
    )


@register(
    "slide_median_5m_1m",
    oracle=sql_slide(5 * MS["m"], MS["m"], "quantile_cont(value, 0.5) AS median_amount"),
    doc="Holistic median on the built-in 5m/1m sliding config (WA8's "
    "window shape x DESIGN.md:27's holistic aggregate). Each row "
    "Expands into 5 window copies before the full-value aggregate — "
    "the overlap cost DESIGN.md's record-buffer strategy pays too; "
    "pane-slicing does NOT help a holistic agg (panes can't merge "
    "medians), which is exactly why the reference's slicing strategy "
    "only ever shipped commutative sums/means.",
    tags=("window", "sliding", "holistic"),
)
def slide_median_5m_1m(spark: SparkSession, sf_dir: str) -> DataFrame:
    return window_agg(
        transactions(spark, sf_dir),
        F.window("event_time", "5 minutes", "1 minute"),
        [F.expr("percentile(amount, 0.5)").alias("median_amount")],
    )


@register(
    "tumble_approx_median_bounded",
    oracle=sql_tumble(
        MS["h"],
        "quantile_cont(value, 0.5) AS median_amount, COUNT(*) AS n_events, "
        "TRUE AS approx_in_bounds",
    ),
    doc="The hash-GATEABLE face of the GK-sketch median (the "
    "approx_distinct_users_bounded pattern applied to quantiles): the "
    "exact interpolated median and count are hash-compared against "
    "DuckDB, and approx_in_bounds — which the oracle pins to TRUE — "
    "asserts the approx_percentile sketch lands inside the exact "
    "[p45, p55] bracket (min/max for windows under 100 events, where "
    "interpolated brackets are degenerate). GK at accuracy 10000 "
    "guarantees rank error <= max(1, 1e-4 n), far inside the 0.05n "
    "margin, so the flag is TRUE by the sketch's contract — a sketch "
    "regression flips a row to FALSE and the driver row goes red. The "
    "suite's p25/p75-envelope test keeps the tighter per-window check.",
    tags=("window", "tumbling", "holistic", "approx"),
)
def tumble_approx_median_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = window_agg(
        transactions(spark, sf_dir),
        F.window("event_time", "1 hour"),
        [
            F.expr("percentile(amount, 0.5)").alias("median_amount"),
            F.count("*").alias("n_events"),
            F.expr("approx_percentile(amount, 0.5, 10000)").alias("_a"),
            F.expr("percentile(amount, array(0.45, 0.55))").alias("_br"),
            F.min("amount").alias("_lo"),
            F.max("amount").alias("_hi"),
        ],
    )
    small = F.col("n_events") < 100
    lo = F.when(small, F.col("_lo")).otherwise(F.col("_br")[0])
    hi = F.when(small, F.col("_hi")).otherwise(F.col("_br")[1])
    keep = [c for c in df.columns if not c.startswith("_")]
    return df.select(
        *keep,
        ((F.col("_a") >= lo) & (F.col("_a") <= hi)).alias("approx_in_bounds"),
    )
