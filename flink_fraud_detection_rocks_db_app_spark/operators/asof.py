"""As-of and range joins — operators Spark lacks natively, built as
compositions of existing DataFrame ops (the guide's recommended
strategies), each with an exact DuckDB oracle.

Scale design:
- as-of join: the union-and-carry-forward pattern — tag both sides,
  union, single sort within (key) partitions, `last_value(ignore
  nulls)` carries the most recent right-side row to each left row.
  One shuffle on the key, no per-row probing, no N x M blowup. This is
  the standard distributed as-of (what pandas merge_asof does per
  group, expressed relationally).
- range join: bucketize the range key to an equi-join + residual
  filter — candidate pairs shrink from |A|x|B| to pairs sharing a
  bucket, and the bucket id is the shuffle key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..fixtures import load
from ..registry import register


# Shared by the batch as-of join and its streaming-enrichment twin
# (same semantics, same output columns — one definition of the truth).
ASOF_ORACLE = """
WITH o AS (  -- dedupe to one order per (custkey, date): deterministic as-of target
  SELECT o_custkey, o_orderdate, max(o_orderkey) AS o_orderkey
  FROM orders GROUP BY 1, 2
),
u AS (
  SELECT user_id, epoch_ms(ts) AS t_ms, event_id, NULL::BIGINT AS ok,
         NULL::TIMESTAMP AS od, 0 AS is_order
  FROM events
  UNION ALL
  SELECT o_custkey, epoch_ms(o_orderdate), NULL, o_orderkey, o_orderdate, 1
  FROM o
),
c AS (
  SELECT *,
         last_value(ok IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY t_ms, is_order DESC, event_id NULLS FIRST
           ROWS UNBOUNDED PRECEDING
         ) AS asof_orderkey
  FROM u
)
SELECT user_id AS account_id, event_id, t_ms, asof_orderkey
FROM c WHERE is_order = 0
"""


@register(
    "asof_latest_order",
    oracle=ASOF_ORACLE,
    doc="As-of join: each event joined to the latest order (by date) of "
    "the same customer at or before the event time. Union + carry-forward "
    "(last_value IGNORE NULLS) — one shuffle, no per-row probe. "
    "Orders pre-deduped per (custkey, date) so the as-of pick is "
    "deterministic in both engines.",
    tags=("join", "asof"),
)
def asof_latest_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        F.col("user_id"),
        F.expr("ts div 1000000").alias("t_ms"),
        "event_id",
        F.lit(None).cast("long").alias("ok"),
        F.lit(0).alias("is_order"),
    )
    orders = (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
        .select(
            F.col("o_custkey").alias("user_id"),
            # o_orderdate is TIMESTAMP_NTZ (midnight-aligned); go through
            # unix_date so the epoch-ms is session-timezone-independent
            (
                F.unix_date(F.col("o_orderdate").cast("date")).cast("long")
                * F.lit(86_400_000).cast("long")
            ).alias("t_ms"),
            F.lit(None).cast("long").alias("event_id"),
            F.col("o_orderkey").alias("ok"),
            F.lit(1).alias("is_order"),
        )
    )
    u = ev.unionByName(orders)
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("t_ms"), F.desc("is_order"), F.asc_nulls_first("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = u.withColumn("asof_orderkey", F.last("ok", ignorenulls=True).over(w))
    return c.where(F.col("is_order") == 0).select(
        F.col("user_id").alias("account_id"), "event_id", "t_ms", "asof_orderkey"
    )


@register(
    "range_join_price_band",
    oracle="""
SELECT e.event_id, p.p_partkey, e.value, p.p_retailprice
FROM events e JOIN part p
  ON e.value BETWEEN p.p_retailprice / 4 - 2.0 AND p.p_retailprice / 4 + 2.0
""",
    doc="Range (band) join: events matched to parts whose normalized price "
    "(p_retailprice/4, which overlaps the value domain) is within +/-2.0 "
    "of the event value. Spark side bucketizes both range "
    "keys to an equi-join on floor(x/width) buckets (each left row probes "
    "its 3 covering buckets) + residual filter — the scale shape; the "
    "oracle is the plain theta join.",
    tags=("join", "range"),
)
def range_join_price_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    band = 2.0
    ev = load(spark, sf_dir, "events").select("event_id", "value")
    part = load(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", (F.col("p_retailprice") / 4).alias("price_key")
    )
    # buckets of width = band: a match (|v - p| <= band) implies the pair
    # shares one of the left row's 3 adjacent buckets
    ev_b = ev.select(
        "*",
        F.explode(
            F.array(
                (F.floor(F.col("value") / band) - 1).cast("long"),
                F.floor(F.col("value") / band).cast("long"),
                (F.floor(F.col("value") / band) + 1).cast("long"),
            )
        ).alias("bucket"),
    )
    part_b = part.select("*", F.floor(F.col("price_key") / band).cast("long").alias("bucket"))
    return (
        ev_b.join(part_b, "bucket")
        .where(
            (F.col("value") >= F.col("price_key") - band)
            & (F.col("value") <= F.col("price_key") + band)
        )
        .select("event_id", "p_partkey", "value", "p_retailprice")
    )


INTERVAL_JOIN_ORACLE = """
SELECT c.user_id AS account_id, c.event_id AS click_id, p.event_id AS purchase_id,
       epoch_ms(p.ts) - epoch_ms(c.ts) AS lag_ms, p.value AS purchase_value
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 7 DAY
"""


@register(
    "interval_join_click_purchase",
    oracle=INTERVAL_JOIN_ORACLE,
    doc="Interval (time-bounded) join: purchases within 7 days after a "
    "click by the same account. Equi-join on the key + range predicate; "
    "Catalyst plans it as a SortMerge/ShuffledHash join with the range "
    "as a post-join filter — the key is the shuffle partitioner, so the "
    "range never induces a cross join. The streaming form (stream-stream "
    "join with watermark-bounded state) is in streaming tests.",
    tags=("join", "interval"),
)
def interval_join_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "user_id",
        F.timestamp_micros(F.expr("ts div 1000")).alias("event_time"),
        "event_id",
        "event_type",
        "value",
    )
    c = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("account_id"),
        F.col("event_time").alias("c_time"),
        F.col("event_id").alias("click_id"),
    )
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"),
        F.col("event_time").alias("p_time"),
        F.col("event_id").alias("purchase_id"),
        F.col("value").alias("purchase_value"),
    )
    return (
        c.join(
            p,
            (F.col("account_id") == F.col("p_user"))
            & (F.col("p_time") > F.col("c_time"))
            & (F.col("p_time") <= F.col("c_time") + F.expr("INTERVAL 7 DAYS")),
        )
        .select(
            "account_id",
            "click_id",
            "purchase_id",
            (F.unix_millis("p_time") - F.unix_millis("c_time")).alias("lag_ms"),
            "purchase_value",
        )
    )


# ---- bounded-dimension fallback for the streaming as-of enrichment ------
# stream_asof_enrich_replay (streamface.py) broadcasts ONE sorted
# (o_ms, ok) array per customer — correct and scan-local, but the array
# is unbounded per key: a whale customer (or a dimension past
# spark.sql.autoBroadcastJoinThreshold) breaks the broadcast plan. The
# past-threshold contract is this pair of helpers — the standard
# time-BUCKETED snapshot dimension (one row per (user, bucket) holding
# only that bucket's orders plus a carried-forward "latest order before
# bucket start" scalar):
#   - snapshot size is O(users x horizon/bucket_ms) rows — the classic
#     daily/weekly snapshot table; per-row payload is bounded by ONE
#     bucket's orders (width is the knob that caps the whale);
#   - enrichment becomes a plain EQUI-join on (user, bucket(t)) — it
#     drops into the identical stream-static join the broadcast form
#     uses, but can now shuffle-partition on (user, bucket) instead of
#     requiring a broadcast, and the as-of pick stays the same
#     scan-local array filter + carry scalar;
#   - tests/test_extensions.py pins hash-equality against the
#     union+carry-forward batch as-of at two bucket widths.
# The ultimate fallback (dimension too big even bucketed) is the batch
# face's sort-merge union+carry-forward (asof_latest_order above),
# re-run per micro-batch over the union of the batch and the snapshot.


def orders_asof_flat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, o_ms, ok): the deduped as-of target frame — one order
    per (custkey, date), the determinism convention shared by
    asof_latest_order and stream_asof_enrich_replay."""
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey", "o_orderdate")
        .agg(F.max("o_orderkey").alias("ok"))
        .select(
            F.col("o_custkey").alias("user_id"),
            (
                F.unix_date(F.col("o_orderdate").cast("date")).cast("long")
                * F.lit(86_400_000).cast("long")
            ).alias("o_ms"),
            "ok",
        )
    )


def bucketed_asof_snapshot(
    orders: DataFrame, bucket_ms: int, horizon_end_ms: int
) -> DataFrame:
    """(user_id, bucket, arr, carry_ok): the bounded snapshot dimension.

    `arr` holds ONLY the bucket's own sorted (o_ms, ok) orders;
    `carry_ok` is the latest orderkey from any STRICTLY EARLIER bucket
    (carried forward at build time with one per-user sort — the same
    last_value(IGNORE NULLS) machinery as the batch as-of). Buckets are
    densified per user from the user's first order bucket through
    `horizon_end_ms` so an event in an order-free bucket still sees its
    carry; events before a user's first order (or for unseen users)
    miss the join and correctly enrich to NULL.
    """
    b = orders.withColumn(
        "bucket", F.floor(F.col("o_ms") / F.lit(bucket_ms)).cast("long")
    )
    per_bucket = b.groupBy("user_id", "bucket").agg(
        F.sort_array(F.collect_list(F.struct("o_ms", "ok"))).alias("arr")
    )
    end_bucket = int(horizon_end_ms // bucket_ms)
    dense = (
        per_bucket.groupBy("user_id")
        .agg(F.min("bucket").alias("_b0"))
        .select(
            "user_id",
            F.explode(
                F.sequence(F.col("_b0"), F.lit(end_bucket).cast("long"))
            ).alias("bucket"),
        )
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        dense.join(per_bucket, ["user_id", "bucket"], "left")
        .withColumn("_latest", F.element_at(F.col("arr"), -1)["ok"])
        .withColumn("carry_ok", F.last("_latest", ignorenulls=True).over(w))
        .drop("_latest")
    )


def enrich_events_asof_bucketed(
    events: DataFrame, snapshot: DataFrame, bucket_ms: int
) -> DataFrame:
    """Enrich (account_id, event_id, t_ms) events with asof_orderkey via
    the bucketed snapshot — the same output contract as the broadcast
    array form, but the join key is (user, bucket(t)): a plain
    equi-join that shuffles instead of requiring a broadcast.

    The snapshot horizon MUST cover max(t_ms): the dense bucket spine
    stops at the snapshot's build-time `horizon_end_ms`, so an event
    past it would silently enrich to NULL even when earlier orders
    exist. Per the repo's fail-loudly contract (cf. the PQ codebook and
    append guards), the horizon is validated scan-side: any event whose
    bucket exceeds the snapshot's end bucket raises instead of emitting
    a wrong NULL. The end bucket is one bounded scalar agg over the
    (small) dimension — no extra pass over the events."""
    end_row = snapshot.agg(F.max("bucket").alias("b")).collect()[0]
    if end_row["b"] is None:
        raise ValueError(
            "bucketed as-of snapshot is empty — build it (bucketed_asof_snapshot) "
            "before enriching"
        )
    snap_end = int(end_row["b"])
    ev = events.withColumn(
        "_bucket", F.floor(F.col("t_ms") / F.lit(bucket_ms)).cast("long")
    )
    j = ev.join(
        snapshot,
        (ev.account_id == snapshot.user_id) & (ev._bucket == snapshot.bucket),
        "left",
    )
    hits = F.expr("filter(arr, x -> x.o_ms <= t_ms)")
    in_bucket = F.when(
        hits.isNotNull() & (F.size(hits) > 0), F.element_at(hits, -1)["ok"]
    )
    horizon_ok = F.col("_bucket") <= F.lit(snap_end)
    return j.select(
        "account_id",
        "event_id",
        "t_ms",
        F.when(
            horizon_ok, F.coalesce(in_bucket, F.col("carry_ok"))
        )
        .otherwise(
            F.raise_error(
                F.format_string(
                    "as-of snapshot horizon violated: event bucket %s > snapshot "
                    f"end bucket {snap_end} (bucket_ms={bucket_ms}) — rebuild the "
                    "snapshot with a later horizon_end_ms instead of enriching to "
                    "a stale NULL",
                    F.col("_bucket"),
                )
            ).cast("long")
        )
        .alias("asof_orderkey"),
    )
