"""Fraud-detector queries: projections, threshold filters, alerts,
union + max-by — the reference's P1/P2/P6/P7, F2, M1, A7 operators.

The reference's `Alert` is a payload-free marker object
(reference: master/src/main/java/InorderTumblingWindow/FraudDetector2.java:26-29);
our alert rows carry (account_id, w_start, agg value) — strictly more
informative, same trigger condition.

Threshold gating compares the aggregate rounded to 6 decimals, so
double summation-order differences between Spark and the DuckDB oracle
cannot flip a row in or out of the result (documented tolerance;
SURVEY §5 comparison rule). The F2 rule itself is `jobs.alert_stream`,
the same one the stream jobs apply.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..fixtures import load, transactions
from ..registry import register
from ..streaming.jobs import alert_stream, window_agg
from .windows import sql_slide, sql_tumble, tumble_sum_3s

# ------------------------------------------------------------- projections


@register(
    "project_account_amount",
    oracle="SELECT user_id AS account_id, value AS amount FROM events",
    doc="P1: Transaction -> Tuple2(accountId, amount) projection "
    "(reference: master/src/main/java/InorderSlidingWindow/FraudDetectionJob.java:218-231)",
    tags=("projection", "parity"),
)
def project_account_amount(spark: SparkSession, sf_dir: str) -> DataFrame:
    return transactions(spark, sf_dir).select("account_id", "amount")


@register(
    "project_account_amount_ts",
    oracle="SELECT user_id AS account_id, value AS amount, epoch_ms(ts) AS t_ms FROM events",
    doc="P2: Tuple3 projection keeping the timestamp "
    "(reference: master/src/main/java/InorderTumblingWindow/FraudDetectionJob.java:239-252)",
    tags=("projection", "parity"),
)
def project_account_amount_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return transactions(spark, sf_dir).select(
        "account_id", "amount", F.unix_millis("event_time").alias("t_ms")
    )


# ------------------------------------------------------------ record filters


@register(
    "filter_amount_gt_1000",
    oracle="SELECT user_id AS account_id, value AS amount FROM events WHERE value > 1000",
    doc="P7 parity: per-record threshold amount > 1000 "
    "(reference: CustomWindowAssigner/metrics/src/main/java/spendreport/FraudDetector1.java:55-60). "
    "Empty on the fixture (max value ~560) exactly as the reference's "
    "threshold yields no alerts on its [0,1000) source.",
    tags=("filter", "parity"),
)
def filter_amount_gt_1000(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = transactions(spark, sf_dir).select("account_id", "amount")
    return df.where(F.col("amount") > 1000)


@register(
    "filter_amount_gt_100",
    oracle="SELECT user_id AS account_id, value AS amount, epoch_ms(ts) AS t_ms "
    "FROM events WHERE value > 100",
    doc="P7 scaled to the fixture's value range so the filter is non-trivial; "
    "predicate pushed to the parquet scan (tests/test_plans.py)",
    tags=("filter",),
)
def filter_amount_gt_100(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = transactions(spark, sf_dir)
    return df.where(F.col("amount") > 100).select(
        "account_id", "amount", F.unix_millis("event_time").alias("t_ms")
    )


# ------------------------------------------------------------------- alerts


@register(
    "alert_tumble_sum_3s_gt_10000",
    oracle=sql_tumble(
        3_000, "round(SUM(value), 6) AS sum_amount",
        having="round(SUM(value), 6) > 10000"
    ),
    doc="EP1 end-to-end: 3s tumbling sum, alert when sum > 10000 (F2, "
    "reference: master/src/main/java/InorderTumblingWindow/FraudDetector2.java:19-30). "
    "Empty on the fixture (3s windows are sparse), matching the reference "
    "behavior at its 10 ev/s source rate.",
    tags=("alert", "parity"),
)
def alert_tumble_sum_3s_gt_10000(spark: SparkSession, sf_dir: str) -> DataFrame:
    return alert_stream(tumble_sum_3s(spark, sf_dir), 10000)


def _daily_sum(spark: SparkSession, sf_dir: str, key: str | None = "account_id") -> DataFrame:
    return window_agg(
        transactions(spark, sf_dir),
        F.window("event_time", "1 day"),
        [F.round(F.sum("amount"), 6).alias("sum_amount")],
        key,
    )


@register(
    "alert_global_daily_sum_gt_10000",
    oracle=sql_tumble(
        86_400_000,
        "round(SUM(value), 6) AS sum_amount",
        key=False,
        having="round(SUM(value), 6) > 10000",
    ),
    doc="F2's threshold on a window dense enough to fire on the fixture: "
    "global daily sum > 10000",
    tags=("alert",),
)
def alert_global_daily_sum_gt_10000(spark: SparkSession, sf_dir: str) -> DataFrame:
    return alert_stream(_daily_sum(spark, sf_dir, key=None), 10000)


@register(
    "alert_user_daily_sum_gt_300",
    oracle=sql_tumble(
        86_400_000, "round(SUM(value), 6) AS sum_amount",
        having="round(SUM(value), 6) > 300"
    ),
    doc="Keyed alert with a fixture-calibrated threshold (per-account daily sum)",
    tags=("alert",),
)
def alert_user_daily_sum_gt_300(spark: SparkSession, sf_dir: str) -> DataFrame:
    return alert_stream(_daily_sum(spark, sf_dir), 300)


# --------------------------------------------------- union + keyed max-by


UNION_MAX_BY_ORACLE = f"""
WITH a AS ({sql_slide(5 * 60_000, 60_000, "AVG(value) AS mean_amount")}),
b AS ({sql_tumble(5 * 60_000, "AVG(value) AS mean_amount")}),
u AS (
  SELECT *, 'slide' AS src FROM a
  UNION ALL
  SELECT *, 'tumble' AS src FROM b
)
SELECT account_id, w_start, round(mean_amount, 6) AS mean_r, src
FROM u
QUALIFY row_number() OVER (
  PARTITION BY account_id
  ORDER BY round(mean_amount, 6) DESC, w_start ASC, src ASC
) = 1
"""


@register(
    "union_max_by",
    oracle=UNION_MAX_BY_ORACLE,
    doc="M1 + A7: union of two windowed aggregate streams, then keyed max-by "
    "(reference: GraphSolution-Prometheus-SlidingWindows/src/main/java/spendreport/"
    "FraudDetectionJob.java:125-135, reduce max-by at :126-135). Rank key is "
    "rounded + fully tie-broken (w_start, src) so the winner is deterministic "
    "across engines.",
    tags=("union", "max_by", "parity"),
)
def union_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = transactions(spark, sf_dir)
    a = window_agg(
        df, F.window("event_time", "5 minutes", "1 minute"), [F.avg("amount").alias("mean_amount")]
    ).withColumn("src", F.lit("slide"))
    b = window_agg(
        df, F.window("event_time", "5 minutes"), [F.avg("amount").alias("mean_amount")]
    ).withColumn("src", F.lit("tumble"))
    u = a.unionByName(b).withColumn("mean_r", F.round("mean_amount", 6))
    w = Window.partitionBy("account_id").orderBy(
        F.desc("mean_r"), F.asc("w_start"), F.asc("src")
    )
    return (
        u.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("account_id", "w_start", "mean_r", "src")
    )


@register(
    "max_by_amount",
    oracle="""
SELECT user_id AS account_id, value AS amount, epoch_ms(ts) AS t_ms
FROM events
QUALIFY row_number() OVER (
  PARTITION BY user_id ORDER BY value DESC, epoch_ms(ts) ASC
) = 1
""",
    doc="A7: keyed running max-by amount (reference reduce "
    "(t1,t2) -> t1.f1 > t2.f1 ? t1 : t2, GraphSolution-Prometheus-SlidingWindows/"
    "src/main/java/spendreport/FraudDetectionJob.java:126-135); batch form is "
    "per-key argmax with deterministic (ts) tiebreak on raw stored doubles.",
    tags=("max_by", "parity"),
)
def max_by_amount(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = transactions(spark, sf_dir).select(
        "account_id", "amount", F.unix_millis("event_time").alias("t_ms")
    )
    w = Window.partitionBy("account_id").orderBy(F.desc("amount"), F.asc("t_ms"))
    return df.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1).drop("rn")


# ------------------------------------------------- misc keyed aggregation


@register(
    "event_type_stats",
    oracle="SELECT event_type, COUNT(*) AS n_events, round(SUM(value), 6) AS sum_value, "
    "round(AVG(value), 6) AS mean_value FROM events GROUP BY 1",
    doc="Plain keyed aggregation over a categorical key (sanity/coverage)",
    tags=("aggregate",),
)
def event_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
            F.round(F.avg("value"), 6).alias("mean_value"),
        )
    )


# ------------------------------------------- CEP-style pattern detection


# shared by the batch lag-window form and the streaming replay face
_RISING_ORACLE = """
WITH e AS (
  SELECT user_id AS account_id, epoch_ms(ts) AS t_ms,
         CAST(value AS DOUBLE) AS amount,
         lag(CAST(value AS DOUBLE), 1) OVER w AS a2,
         lag(CAST(value AS DOUBLE), 2) OVER w AS a1
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
)
SELECT account_id, t_ms, a1, a2, amount AS a3
FROM e
WHERE amount > a2 AND a2 > a1
"""


@register(
    "pattern_rising_3",
    oracle=_RISING_ORACLE,
    doc="CEP-style sequence pattern (the Flink-CEP capability expressed "
    "relationally): per account, three consecutive strictly-rising "
    "amounts in (event_time, event_id) order; emits at the third event "
    "with the full matched triple. One window-lag pass — the "
    "MATCH_RECOGNIZE A.amount < B.amount < C.amount shape as lag() "
    "predicates, a single per-key sort, no self-joins. Comparisons are "
    "raw fixture doubles (no arithmetic), so the match set is exact in "
    "both engines",
    tags=("detector", "pattern"),
)
def pattern_rising_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..fixtures import transactions_with_id

    w = Window.partitionBy("account_id").orderBy("event_time", "event_id")
    e = (
        transactions_with_id(spark, sf_dir)
        .withColumn("a2", F.lag("amount", 1).over(w))
        .withColumn("a1", F.lag("amount", 2).over(w))
    )
    return e.where((F.col("amount") > F.col("a2")) & (F.col("a2") > F.col("a1"))).select(
        "account_id",
        F.unix_millis("event_time").alias("t_ms"),
        "a1",
        "a2",
        F.col("amount").alias("a3"),
    )


# ------------------------------------------- dynamic-rules broadcast join


def type_threshold_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 'rules table' of the broadcast-state pattern: one row per
    event_type with its alert threshold (here the exact p95 of value,
    rounded 6 dp because it GATES rows). In the reference's domain this
    is the control stream Flink would hold in broadcast state; in Spark
    the same pattern is a small derived frame broadcast into the event
    scan (batch) or stream-static-joined (streaming)."""
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.round(F.expr("percentile(value, 0.95)"), 6).alias("threshold"))
    )


DYNAMIC_RULES_ORACLE = """
WITH rules AS (
  SELECT event_type, round(quantile_cont(value, 0.95), 6) AS threshold
  FROM events GROUP BY 1
)
SELECT user_id AS account_id, epoch_ms(e.ts) AS t_ms, e.event_type,
       CAST(e.value AS DOUBLE) AS amount, r.threshold
FROM events e JOIN rules r USING (event_type)
WHERE e.value > r.threshold
"""


@register(
    "dynamic_rules_alerts",
    oracle=DYNAMIC_RULES_ORACLE,
    doc="Dynamic-rules detector (Flink broadcast-state pattern, "
    "reference-domain: per-type fraud thresholds maintained outside "
    "the event stream): a derived per-event_type threshold table is "
    "broadcast-joined into the event scan and flags every event above "
    "its type's p95. The rules side is O(|types|) — always broadcast, "
    "never a shuffle of the fact stream; the streaming form is the "
    "same rules frame stream-static-joined (tests/test_streaming.py)",
    tags=("detector", "join"),
)
def dynamic_rules_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    rules = type_threshold_rules(spark, sf_dir)
    ev = load(spark, sf_dir, "events")
    return (
        ev.join(F.broadcast(rules), "event_type")
        .where(F.col("value") > F.col("threshold"))
        .select(
            F.col("user_id").alias("account_id"),
            F.unix_millis(F.timestamp_micros(F.expr("ts div 1000"))).alias("t_ms"),
            "event_type",
            F.col("value").cast("double").alias("amount"),
            "threshold",
        )
    )


# ------------------------------------------------------------- funnel

FUNNEL_STAGES = ("view", "click", "purchase")


@register(
    "funnel_view_click_purchase",
    oracle="""
WITH e AS (
  SELECT user_id, epoch_ms(ts) AS t_ms, event_type FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
),
v AS (SELECT user_id, MIN(t_ms) AS t_view FROM e WHERE event_type = 'view' GROUP BY 1),
c AS (
  SELECT e.user_id, MIN(t_ms) AS t_click
  FROM e JOIN v USING (user_id)
  WHERE event_type = 'click' AND t_ms > t_view GROUP BY 1
),
p AS (
  SELECT e.user_id, MIN(t_ms) AS t_purchase
  FROM e JOIN c USING (user_id)
  WHERE event_type = 'purchase' AND t_ms > t_click GROUP BY 1
)
SELECT u.user_id, t_view, t_click, t_purchase,
       CASE WHEN t_purchase IS NOT NULL THEN 'purchase'
            WHEN t_click IS NOT NULL THEN 'click'
            WHEN t_view IS NOT NULL THEN 'view'
            ELSE 'none' END AS stage
FROM (SELECT DISTINCT user_id FROM e) u
LEFT JOIN v USING (user_id) LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
""",
    doc="Ordered funnel (CEP sequence pattern, the product-analytics "
    "staple): per user, earliest view, then earliest click strictly "
    "after that view, then earliest purchase strictly after that "
    "click. ONE shuffle: events group to a per-user sorted "
    "(ts, type) array and a single in-scan fold walks the sequence — "
    "the greedy earliest-match is provably equal to the oracle's "
    "3-level conditional-min joins. Per-user arrays are bounded by "
    "user activity; for whale users the same semantics decompose into "
    "the oracle's join cascade (3 bounded user-keyed shuffles) — "
    "documented alternative, not needed at fixture scale.",
    tags=("detector", "cep", "funnel"),
)
def funnel_view_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = (
        load(spark, sf_dir, "events")
        .where(F.col("event_type").isin(*FUNNEL_STAGES))
        .select(
            "user_id",
            F.expr("ts div 1000000").alias("t_ms"),
            "event_type",
        )
    )
    per_user = ev.groupBy("user_id").agg(
        F.expr("sort_array(collect_list(struct(t_ms, event_type)))").alias("evs")
    )
    fold = F.expr(
        "aggregate(evs, "
        "named_struct('v', CAST(NULL AS BIGINT), 'c', CAST(NULL AS BIGINT), "
        "'p', CAST(NULL AS BIGINT)), "
        "(acc, e) -> named_struct("
        "'v', CASE WHEN acc.v IS NULL AND e.event_type = 'view' "
        "THEN e.t_ms ELSE acc.v END, "
        "'c', CASE WHEN acc.c IS NULL AND acc.v IS NOT NULL "
        "AND e.event_type = 'click' AND e.t_ms > acc.v "
        "THEN e.t_ms ELSE acc.c END, "
        "'p', CASE WHEN acc.p IS NULL AND acc.c IS NOT NULL "
        "AND e.event_type = 'purchase' AND e.t_ms > acc.c "
        "THEN e.t_ms ELSE acc.p END))"
    )
    stage = F.expr(
        "CASE WHEN f.p IS NOT NULL THEN 'purchase' "
        "WHEN f.c IS NOT NULL THEN 'click' "
        "WHEN f.v IS NOT NULL THEN 'view' ELSE 'none' END"
    )
    return per_user.select("user_id", fold.alias("f")).select(
        "user_id",
        F.col("f.v").alias("t_view"),
        F.col("f.c").alias("t_click"),
        F.col("f.p").alias("t_purchase"),
        stage.alias("stage"),
    )


# ------------------------------------------------------ adaptive z-score

ZSCORE_K = 3.0
ZSCORE_MIN_PRIOR = 5


@register(
    "zscore_alerts_3sigma",
    oracle=f"""
WITH e AS (
  SELECT user_id AS account_id, epoch_ms(ts) AS t_ms, event_id,
         CAST(value AS DOUBLE) AS amount
  FROM events
),
s AS (
  SELECT account_id, t_ms, event_id, amount,
         AVG(amount) OVER w AS mu,
         STDDEV_SAMP(amount) OVER w AS sigma,
         COUNT(*) OVER w AS n_prior
  FROM e
  WINDOW w AS (PARTITION BY account_id ORDER BY t_ms, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
)
SELECT account_id, t_ms, amount,
       round((amount - mu) / sigma, 6) AS z
FROM s
WHERE n_prior >= {ZSCORE_MIN_PRIOR} AND sigma > 0
  AND round(abs(amount - mu) - {ZSCORE_K} * sigma, 6) > 0
""",
    doc="Adaptive per-account anomaly detector — the dynamic form of "
    "the reference's static thresholds (F2's amount>1000 becomes "
    f"|amount - prefix_mean| > {ZSCORE_K}*prefix_std over each "
    "account's own history, in (event_time, event_id) order, needing "
    f">= {ZSCORE_MIN_PRIOR} prior events). One account-keyed sort "
    "window; the gate compares 6dp-rounded values (the repo's "
    "row-membership convention) so prefix-aggregate ulp drift can't "
    "flip a flag. The streaming twin is a Welford fold in "
    "applyInPandasWithState — same per-key O(1) state as F3/F5.",
    tags=("detector", "anomaly"),
)
def zscore_alerts_3sigma(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").select(
        F.col("user_id").alias("account_id"),
        F.expr("ts div 1000000").alias("t_ms"),
        "event_id",
        F.col("value").cast("double").alias("amount"),
    )
    w = (
        Window.partitionBy("account_id")
        .orderBy("t_ms", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    s = e.select(
        "account_id",
        "t_ms",
        "amount",
        F.avg("amount").over(w).alias("mu"),
        F.stddev_samp("amount").over(w).alias("sigma"),
        F.count("*").over(w).alias("n_prior"),
    )
    return s.where(
        (F.col("n_prior") >= ZSCORE_MIN_PRIOR)
        & (F.col("sigma") > 0)
        & (F.round(F.abs(F.col("amount") - F.col("mu")) - ZSCORE_K * F.col("sigma"), 6) > 0)
    ).select(
        "account_id",
        "t_ms",
        "amount",
        F.round((F.col("amount") - F.col("mu")) / F.col("sigma"), 6).alias("z"),
    )
