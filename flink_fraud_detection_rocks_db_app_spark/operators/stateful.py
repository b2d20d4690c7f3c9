"""Batch registry entries for the stateful-detector semantics
(F3/F5 reset-on-alert, T3 count-or-time trigger) — SURVEY §2.5/§2.7.

T3 is fully SQL-expressible on batch data: FIRE_AND_PURGE at every
maxCount-th element chops each (key, window) into deterministic
segments of maxCount events ((row_number-1) / maxCount), so it gets a
real DuckDB oracle. F3/F5 resets depend on running *values*, beyond
SQL window functions — but a RECURSIVE CTE stepping each account one
event at a time (join on rn = rn + 1) expresses the exact fold, and
because both sides do the same IEEE double adds in the same per-key
order, the oracle matches bit-for-bit (see sql_running_alerts).
Recursion depth = max events per key (~100 in the fixture), so the
oracle stays cheap. Python-golden tests in tests/test_stateful.py
cover the same semantics independently.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..fixtures import transactions_with_id
from ..registry import register
from ..streaming.stateful import (
    EWMA_SCHEMA,
    capped_session_rows,
    ewma_step,
    running_mean_alerts_batch,
    running_sum_alerts_batch,
    sorted_account_fold,
    step_rows,
)


def count_or_time_segments(
    df: DataFrame, size_ms: int, max_count: int, key: bool = True
) -> DataFrame:
    """T3: count-or-time trigger (reference:
    master/src/main/java/InorderTumblingWindow/CustomTrigger.java:34-78).
    FIRE_AND_PURGE when the per-(key,window) count reaches max_count,
    else fire at the window-end timer. Each emission is one segment.
    Pure JVM plan: window rank -> integer division -> hash aggregate.

    DELIBERATE deviation from the reference (ADVICE r1): the reference
    trigger never clears its per-window count state on fire (clear()
    only runs at window GC, CustomTrigger.java:74-78), so after the
    first early fire its count stays >= maxCount and it fires on every
    subsequent element — 1-event segments. That is a bug in the
    reference, not a semantic: FIRE_AND_PURGE purges the window pane,
    and the matching intent is "a fresh segment after every fire". We
    implement the intended reset-on-fire semantics (segments of exactly
    max_count events, remainder final), which the DuckDB oracle and the
    state-machine property test mirror.
    """
    cols = ["w_start"] + (["account_id"] if key else [])
    w = Window.partitionBy(*cols).orderBy("event_time", "event_id")
    seg = (
        df.withColumn(
            "w_start",
            F.unix_millis("event_time") - F.unix_millis("event_time") % size_ms,
        )
        .withColumn("seg", ((F.row_number().over(w) - 1) / max_count).cast("long"))
        .groupBy(*cols, "seg")
        .agg(F.round(F.sum("amount"), 6).alias("sum_amount"), F.count("*").alias("n_events"))
    )
    return seg.withColumn(
        "emit",
        F.when(F.col("n_events") == max_count, F.lit("early")).otherwise(F.lit("final")),
    )


def sql_count_or_time(size_ms: int, max_count: int, key: bool = True) -> str:
    part = "w_start, user_id" if key else "w_start"
    key_sel = "user_id AS account_id, " if key else ""
    group = "GROUP BY w_start, user_id, seg" if key else "GROUP BY w_start, seg"
    return f"""
WITH e AS (
  SELECT user_id, value, event_id, epoch_us(ts) AS tus,
         (epoch_ms(ts) // {size_ms}) * {size_ms} AS w_start
  FROM events
),
r AS (
  SELECT *, (row_number() OVER (PARTITION BY {part} ORDER BY tus, event_id) - 1)
            // {max_count} AS seg
  FROM e
)
SELECT w_start, {key_sel}seg, round(SUM(value), 6) AS sum_amount, COUNT(*) AS n_events,
       CASE WHEN COUNT(*) = {max_count} THEN 'early' ELSE 'final' END AS emit
FROM r {group}
"""


@register(
    "count_or_time_global_1h_10",
    oracle=sql_count_or_time(3_600_000, 10, key=False),
    doc="T3 on a global hourly window, early-fire every 10 events "
    "(reference: master/src/main/java/InorderTumblingWindow/CustomTrigger.java:47-54)",
    tags=("trigger", "stateful", "parity"),
)
def count_or_time_global_1h_10(spark: SparkSession, sf_dir: str) -> DataFrame:
    return count_or_time_segments(
        transactions_with_id(spark, sf_dir), 3_600_000, 10, key=False
    )


@register(
    "count_or_time_user_1d_3",
    oracle=sql_count_or_time(86_400_000, 3, key=True),
    doc="T3 keyed: per-account daily window, early-fire every 3 events",
    tags=("trigger", "stateful", "parity"),
)
def count_or_time_user_1d_3(spark: SparkSession, sf_dir: str) -> DataFrame:
    return count_or_time_segments(
        transactions_with_id(spark, sf_dir), 86_400_000, 3, key=True
    )


def sql_running_alerts(threshold: float, mean: bool) -> str:
    """Recursive-CTE oracle for the F3/F5 reset-on-alert folds.

    Steps every account one event at a time (equi-join on rn = rn + 1;
    iterations = max events per key, ~100 on the fixture). The running
    sum restarts at 0 after a fired row, exactly like the Python fold;
    identical add/divide order per key makes agg_value bit-identical
    between DuckDB and the Spark-side pandas fold — the driver's
    value-hash gate passes exactly, no tolerance needed."""
    if mean:
        seed_state = "amount AS s, 1 AS c, amount > {thr} AS fired"
        step_state = (
            "(CASE WHEN f.fired THEN 0.0 ELSE f.s END) + n.amount AS s, "
            "(CASE WHEN f.fired THEN 0 ELSE f.c END) + 1 AS c, "
            "((CASE WHEN f.fired THEN 0.0 ELSE f.s END) + n.amount) "
            "/ ((CASE WHEN f.fired THEN 0 ELSE f.c END) + 1) > {thr} AS fired"
        )
        emit = "s / c"
    else:
        seed_state = "amount AS s, amount > {thr} AS fired"
        step_state = (
            "(CASE WHEN f.fired THEN 0.0 ELSE f.s END) + n.amount AS s, "
            "((CASE WHEN f.fired THEN 0.0 ELSE f.s END) + n.amount) > {thr} AS fired"
        )
        emit = "s"
    return f"""
WITH RECURSIVE e AS (
  SELECT user_id AS account_id,
         epoch_ms(ts) AS t_ms,
         CAST(value AS DOUBLE) AS amount,
         row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
),
fold AS (
  SELECT account_id, rn, t_ms, {seed_state}
  FROM e WHERE rn = 1
  UNION ALL
  SELECT n.account_id, n.rn, n.t_ms, {step_state}
  FROM fold f JOIN e n ON n.account_id = f.account_id AND n.rn = f.rn + 1
)
SELECT account_id, t_ms, {emit} AS agg_value FROM fold WHERE fired
""".format(thr=threshold)


@register(
    "running_sum_alerts_gt_500",
    oracle=sql_running_alerts(500.0, mean=False),
    doc="F5: per-key running sum, alert + state reset when sum > 500 "
    "(reference: workspace/frauddetection/src/main/java/spendreport/FraudDetector.java:29-46); "
    "threshold fixture-calibrated; golden-tested in tests/test_stateful.py "
    "and replayed as a stream in tests/test_streaming.py",
    tags=("detector", "stateful"),
)
def running_sum_alerts_gt_500(spark: SparkSession, sf_dir: str) -> DataFrame:
    return running_sum_alerts_batch(transactions_with_id(spark, sf_dir), 500.0)


@register(
    "running_sum_alerts_gt_10000",
    oracle=sql_running_alerts(10_000.0, mean=False),
    doc="F5 at the reference's exact threshold (10000) — empty on the "
    "fixture, like the reference on its own source",
    tags=("detector", "stateful", "parity"),
)
def running_sum_alerts_gt_10000(spark: SparkSession, sf_dir: str) -> DataFrame:
    return running_sum_alerts_batch(transactions_with_id(spark, sf_dir), 10_000.0)


@register(
    "running_mean_alerts_gt_90",
    oracle=sql_running_alerts(90.0, mean=True),
    doc="F3: per-key running mean, alert + reset when mean > 90 "
    "(reference: TumblingWindowWithTest/src/main/java/spendreport/FraudDetectorSliding.java:33-71)",
    tags=("detector", "stateful"),
)
def running_mean_alerts_gt_90(spark: SparkSession, sf_dir: str) -> DataFrame:
    return running_mean_alerts_batch(transactions_with_id(spark, sf_dir), 90.0)


# ----------------------------------------------------------------- EWMA

EWMA_ALPHA = 0.2


def ewma_batch(df: DataFrame, alpha: float) -> DataFrame:
    """Per-key exponentially weighted moving average, seeded with the
    key's first value: ewma_1 = x_1; ewma_i = a*x_i + (1-a)*ewma_{i-1}.
    The classic adaptive-baseline smoother for fraud amounts — one
    float of state per key forever. Same sorted-account fold as F3/F5;
    identical IEEE op order per key makes the oracle bit-exact."""
    return sorted_account_fold(df, step_rows(partial(ewma_step, alpha)), EWMA_SCHEMA)


# Recursive-CTE oracle for the EWMA recursion — shared by the batch
# query below and the streaming replay face (streamface.py)
EWMA_ORACLE = f"""
WITH RECURSIVE e AS (
  SELECT user_id AS account_id,
         epoch_ms(ts) AS t_ms,
         CAST(value AS DOUBLE) AS amount,
         row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS rn
  FROM events
),
f AS (
  SELECT account_id, rn, t_ms, amount AS ewma FROM e WHERE rn = 1
  UNION ALL
  SELECT n.account_id, n.rn, n.t_ms,
         {EWMA_ALPHA} * n.amount + {1 - EWMA_ALPHA} * f.ewma
  FROM f JOIN e n ON n.account_id = f.account_id AND n.rn = f.rn + 1
)
SELECT account_id, t_ms, ewma FROM f
"""


@register(
    "ewma_amount_per_account",
    oracle=EWMA_ORACLE,
    doc=f"Per-account EWMA (alpha={EWMA_ALPHA}) of transaction amounts — "
    "the adaptive-baseline smoother the z-score detector's fixed "
    "window complements: O(1) state per key, order (event_time, "
    "event_id). Recursive-CTE oracle replays the exact per-key IEEE "
    "multiply-add order, so values are bit-identical (the F3/F5 "
    "convention). Streaming twin in streaming/stateful.ewma_stream "
    "(differential-tested).",
    tags=("detector", "stateful", "timeseries"),
)
def ewma_amount_per_account(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ewma_batch(transactions_with_id(spark, sf_dir), EWMA_ALPHA)


# ------------------------------------------------ capped sessionization

SESSION_CAP_GAP_MS = 2 * 86_400_000  # restart after a 2-day silence
SESSION_CAP_MAX_MS = 5 * 86_400_000  # AND force-restart past a 5-day span

_CAPPED_SESSION_SCHEMA = T.StructType(
    [
        T.StructField(name, T.LongType())
        for name in (
            "user_id",
            "session_no",
            "start_ms",
            "end_ms",
            "n_events",
            "span_ms",
        )
    ]
)


def capped_sessions(df: DataFrame) -> DataFrame:
    """One row per (account, session) under the gap + max-duration
    rule: the sequential fold `capped_session_rows`."""
    return sorted_account_fold(
        df,
        partial(capped_session_rows, gap_ms=SESSION_CAP_GAP_MS, max_ms=SESSION_CAP_MAX_MS),
        _CAPPED_SESSION_SCHEMA,
    )


_CAPPED_SESSION_ORACLE = f"""
WITH RECURSIVE e AS (
  SELECT user_id, epoch_ms(ts) AS t_ms,
         row_number() OVER (
           PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
         ) AS rn
  FROM events
),
f AS (
  SELECT user_id, rn, t_ms, 1 AS sess_no, t_ms AS start_ms
  FROM e WHERE rn = 1
  UNION ALL
  SELECT n.user_id, n.rn, n.t_ms,
         CASE WHEN n.t_ms - f.t_ms > {SESSION_CAP_GAP_MS}
                OR n.t_ms - f.start_ms > {SESSION_CAP_MAX_MS}
              THEN f.sess_no + 1 ELSE f.sess_no END,
         CASE WHEN n.t_ms - f.t_ms > {SESSION_CAP_GAP_MS}
                OR n.t_ms - f.start_ms > {SESSION_CAP_MAX_MS}
              THEN n.t_ms ELSE f.start_ms END
  FROM f JOIN e n ON n.user_id = f.user_id AND n.rn = f.rn + 1
)
SELECT user_id, CAST(sess_no AS BIGINT) AS session_no,
       MIN(t_ms) AS start_ms, MAX(t_ms) AS end_ms,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       MAX(t_ms) - MIN(t_ms) AS span_ms
FROM f GROUP BY 1, 2
"""


@register(
    "session_capped_user",
    oracle=_CAPPED_SESSION_ORACLE,
    doc="Sessionization with BOTH a gap rule and a max-duration cap "
    "(the Google-Analytics session model): a session restarts after a "
    "2-day silence OR once its span would exceed 5 days — the cap "
    "makes the assignment a TRUE sequential fold (a restart point "
    "depends on every earlier restart), which plain gaps-and-islands "
    "cannot express; pure gap sessions stay declarative "
    "(session_sum_user_6h). Spark side is the sorted-account Arrow fold "
    "(O(1) state per key, the F5 machinery); the oracle replays the "
    "identical per-key recursion as a recursive CTE — all-integer "
    "state, so the match is exact by construction.",
    tags=("session", "stateful", "window"),
)
def session_capped_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    return capped_sessions(transactions_with_id(spark, sf_dir))
