"""Z-order data layout: multi-dimensional clustering for min/max
skipping.

A 100 TB events table is usually written in arrival (time) order, so
parquet min/max statistics prune beautifully on `t_ms` and not at all
on `user_id` — every file spans the whole user domain. Interleaving
the bits of both columns into one Morton (Z-order) key and clustering
the table on it bounds EVERY file/row-group to a small rectangle of
the (user, time) plane, so min/max stats skip on BOTH dimensions —
the technique behind Delta/Iceberg `OPTIMIZE ZORDER BY`. This module
materializes that layout as a content-keyed warehouse asset (the
ensure_index lifecycle the IVF/BM25 indexes use) and serves a
two-dimensional slice query from it.

What is and isn't claimed: vanilla Spark's parquet reader skips
ROW GROUPS via pushed min/max predicates at scan time (and table
formats skip whole files via the same stats); the layout is what makes
those stats selective. The skipping evidence — per-bucket footer
statistics cover a bounded rectangle, and a mid-domain predicate
overlaps only a small fraction of buckets on EITHER dimension — is
asserted from real parquet footers in tests/test_layout.py. The
registered query's RESULT is layout-invariant by construction, which
is exactly what its oracle (the same slice off the raw table) checks.

Reference parity anchor: the reference keys all state by account id
(master/src/main/java/InorderTumblingWindow/FraudDetectionJob.java
keyBy) and scans by time; this face is the batch-warehouse answer to
serving both access paths from one copy of the data.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import load
from ..registry import register

# 8 bits per dimension -> 16-bit Morton key; the top ZBUCKET_BITS
# (2 per dimension) name the coarse write bucket: a 4x4 grid of
# (user, time) rectangles, one output directory + file each.
#
# Relationship to warehouse.write_zordered (the earlier, suite-only
# generic writer): that path quantile-ranks two arbitrary columns
# (skew-adaptive, approxQuantile boundaries) and range-partitions by
# the Morton code; THIS module is the registered, asset-lifecycle
# face — min-max INTEGER normalization (freezable + clampable for the
# append path, deterministic with no sketch), explicit coarse-bucket
# directories so appends land in-place, and the OPTIMIZE recluster.
# The bit interleave itself is shared: warehouse.zorder_value.
Z_DIM_BITS = 8
ZBUCKET_BITS = 4
_Z_MAX = (1 << Z_DIM_BITS) - 1


def _with_z(ev: DataFrame, un: str, tn: str) -> DataFrame:
    """Attach z (warehouse.zorder_value over the two rank expressions)
    and the coarse zbucket."""
    from ..warehouse import zorder_value

    return (
        ev.withColumn("_un", F.expr(un))
        .withColumn("_tn", F.expr(tn))
        .withColumn("z", zorder_value("_un", "_tn", Z_DIM_BITS))
        .withColumn(
            "zbucket",
            F.expr(f"CAST(z >> {2 * Z_DIM_BITS - ZBUCKET_BITS} AS BIGINT)"),
        )
        .drop("_un", "_tn")
    )


def zorder_bounds(ev: DataFrame, t_ms="t_ms") -> DataFrame:
    """The one-row (u_min, u_max, t_min, t_max) normalization frame of
    an events frame carrying `user_id` and the `t_ms` column (or
    expression)."""
    return ev.agg(
        F.min("user_id").alias("u_min"),
        F.max("user_id").alias("u_max"),
        F.min(t_ms).alias("t_min"),
        F.max(t_ms).alias("t_max"),
    )


def write_zbuckets(zed: DataFrame, path: str) -> None:
    """Write z-attached rows as one directory (and file) per coarse
    zbucket, rows sorted by the full Morton key inside it so row-group
    min/max stats stay tight at any row-group size."""
    (
        zed.repartition("zbucket")
        # leading zbucket satisfies the partitionBy writer's required
        # ordering, so no extra sort is inserted and per-bucket z order
        # is guaranteed rather than sort-stability-dependent
        .sortWithinPartitions("zbucket", "z")
        .write.mode("overwrite")
        .partitionBy("zbucket")
        .parquet(path)
    )


def zorder_events(ev: DataFrame) -> DataFrame:
    """Attach z / zbucket to an events frame carrying `user_id` and
    epoch-nanos `ts` (fixtures.load shape)."""
    ev = ev.withColumn("t_ms", F.expr("CAST(ts div 1000000 AS BIGINT)"))
    stats = zorder_bounds(ev)
    un = (
        f"CAST(((user_id - u_min) * {_Z_MAX}) div "
        f"greatest(CAST(1 AS BIGINT), u_max - u_min) AS BIGINT)"
    )
    tn = (
        f"CAST(((t_ms - t_min) * {_Z_MAX}) div "
        f"greatest(CAST(1 AS BIGINT), t_max - t_min) AS BIGINT)"
    )
    return _with_z(
        ev.join(F.broadcast(stats)), un, tn
    ).drop("u_min", "u_max", "t_min", "t_max")


def write_zorder_layout(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Materialize the z-clustered copy of events (write_zbuckets)."""
    write_zbuckets(zorder_events(load(spark, sf_dir, "events")), path)


def ensure_zorder_layout(spark: SparkSession, sf_dir: str) -> str:
    from .indexcache import ensure_index

    # format v2: rows inside each part-file are guaranteed z-sorted
    # (the (zbucket, z) write sort, ADVICE r11 #1) — a v1 asset's
    # per-file order was sort-stability luck, so it reads as stale
    return ensure_index(
        "zorder_events",
        sf_dir,
        "events",
        lambda tmp: write_zorder_layout(spark, sf_dir, tmp),
        version=2,
    )


# The slice bounds are derived from the domain with integer tenths so
# both engines compute identical literals: the central
# [min + 4/10 span, min + 6/10 span] band on each dimension.
_SLICE_ORACLE = """
WITH ev AS (
  SELECT user_id, epoch_ms(ts) AS t_ms, event_type, value FROM events
),
bounds AS (
  SELECT min(user_id) AS u_min, max(user_id) AS u_max,
         min(t_ms) AS t_min, max(t_ms) AS t_max
  FROM ev
)
SELECT event_type,
       COUNT(*)::BIGINT AS n_events,
       round(SUM(value), 6) AS sum_value
FROM ev CROSS JOIN bounds
WHERE user_id BETWEEN u_min + ((u_max - u_min) * 4) // 10
                  AND u_min + ((u_max - u_min) * 6) // 10
  AND t_ms BETWEEN t_min + ((t_max - t_min) * 4) // 10
               AND t_min + ((t_max - t_min) * 6) // 10
GROUP BY event_type
"""


def central_slice(zed: DataFrame) -> DataFrame:
    """The _SLICE_ORACLE slice off any z-ordered copy of events.
    Contract-bounded driver collect (4 scalars — the probed-cells
    convention from ann_ivf_topk_indexed): LITERAL bounds are what
    lets the parquet source push both range predicates into the scan
    (PushedFilters), which is the entire point of the layout."""
    b = zorder_bounds(zed).collect()[0]
    u_lo = b.u_min + ((b.u_max - b.u_min) * 4) // 10
    u_hi = b.u_min + ((b.u_max - b.u_min) * 6) // 10
    t_lo = b.t_min + ((b.t_max - b.t_min) * 4) // 10
    t_hi = b.t_min + ((b.t_max - b.t_min) * 6) // 10
    return (
        zed.where(
            F.col("user_id").between(F.lit(u_lo), F.lit(u_hi))
            & F.col("t_ms").between(F.lit(t_lo), F.lit(t_hi))
        )
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("sum_value"),
        )
    )


@register(
    "events_zorder_slice",
    oracle=_SLICE_ORACLE,
    doc="Two-dimensional slice (central user band x central time band, "
    "integer-tenth bounds) served from the MATERIALIZED Z-ordered "
    "copy of events (ensure_zorder_layout: Morton-interleaved "
    "user/time bits, coarse-bucket directories, z-sorted rows — the "
    "OPTIMIZE ZORDER layout as a content-keyed asset). Both filters "
    "push to the parquet scan, and because every file/row-group "
    "covers a bounded rectangle of the (user, time) plane, min/max "
    "stats skip on BOTH dimensions — arrival-order layouts skip on "
    "time only (footer-stats evidence in tests/test_layout.py). The "
    "result is layout-invariant by contract, which is exactly what "
    "the oracle (the same slice off the raw table) certifies; the "
    "count and 6dp-rounded sum make the hash order-stable.",
    tags=("batch", "warehouse", "layout"),
)
def events_zorder_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = ensure_zorder_layout(spark, sf_dir)
    return central_slice(spark.read.parquet(path))


# ------------------------------------------- appending-table lifecycle
#
# The OPTIMIZE-ZORDER loop a table format runs: new rows are APPENDED
# into their correct coarse bucket (grid placement is preserved under
# a FROZEN normalization — the frozen-quantizer convention the
# IVF/PQ/SemDeDup assets established, so a row's bucket never depends
# on when it arrived), each append accretes a part-file per touched
# bucket (the small-files cost), and a periodic RECLUSTER rewrites
# each bucket to one z-sorted file, restoring tight row-group stats —
# without ever moving rows BETWEEN buckets. Out-of-range values
# (users/timestamps beyond the frozen bounds) clamp into the edge
# cells: placement stays valid and queries stay correct (they filter
# on real values, not z); a bounds refresh is a re-train decision,
# exactly like a quantizer re-train — implemented below as
# refresh_zorder_layout (the operation the balance monitor's
# hot-bucket trigger recommends).

ZORDER_BATCH_MOD = 8  # batch = event_id % MOD == MOD-1, the IVF split shape


def zorder_events_frozen(ev: DataFrame, bounds: DataFrame) -> DataFrame:
    """z/zbucket under FROZEN bounds (broadcast one-row frame), with
    out-of-range values clamped into the edge cells."""
    ev = ev.withColumn("t_ms", F.expr("CAST(ts div 1000000 AS BIGINT)"))
    un = (
        f"least(CAST({_Z_MAX} AS BIGINT), greatest(CAST(0 AS BIGINT), "
        f"CAST(((user_id - u_min) * {_Z_MAX}) div "
        f"greatest(CAST(1 AS BIGINT), u_max - u_min) AS BIGINT)))"
    )
    tn = (
        f"least(CAST({_Z_MAX} AS BIGINT), greatest(CAST(0 AS BIGINT), "
        f"CAST(((t_ms - t_min) * {_Z_MAX}) div "
        f"greatest(CAST(1 AS BIGINT), t_max - t_min) AS BIGINT)))"
    )
    return _with_z(
        ev.join(F.broadcast(bounds)), un, tn
    ).drop("u_min", "u_max", "t_min", "t_max")


def write_zorder_base(
    spark: SparkSession, sf_dir: str, path: str, with_batch: bool = True
) -> None:
    """Appendable-lifecycle asset: bounds/ (the one-row frozen
    normalization, computed from the BASE split — appends clamp to
    it) and data/ (the z-clustered base rows). With `with_batch`
    (the default, what ensure_zorder_base publishes) the remaining
    1/{MOD} split is then APPENDED through append_to_zorder_layout —
    the real append path runs inside the content-keyed build, so the
    published asset is base+batch and is never mutated afterwards
    (the write_ivf_incremental_index convention: idempotent reads,
    no post-publish races)."""
    ev = load(spark, sf_dir, "events").where(
        F.pmod(F.col("event_id"), F.lit(ZORDER_BATCH_MOD)) != ZORDER_BATCH_MOD - 1
    ).withColumn("t_ms", F.expr("CAST(ts div 1000000 AS BIGINT)"))
    zorder_bounds(ev).write.mode("overwrite").parquet(os.path.join(path, "bounds"))
    zed = zorder_events_frozen(
        ev.drop("t_ms"), spark.read.parquet(os.path.join(path, "bounds"))
    )
    write_zbuckets(zed, os.path.join(path, "data"))
    if with_batch:
        batch = load(spark, sf_dir, "events").where(
            F.pmod(F.col("event_id"), F.lit(ZORDER_BATCH_MOD))
            == ZORDER_BATCH_MOD - 1
        )
        append_to_zorder_layout(batch, path)


def append_to_zorder_layout(batch: DataFrame, asset: str) -> None:
    """Append a batch into its correct coarse buckets under the frozen
    bounds. The batch's event_ids MUST be new — a duplicate append
    would double-count every slice aggregate downstream, so (the
    append_to_ivf_index convention) the contract is ENFORCED here:
    batch ids are semi-joined against the TOUCHED buckets' existing
    rows — a column-pruned, partition-scoped scan with a take(1)
    early-out, cost ∝ batch, never the table — and any overlap raises
    before a byte is written."""
    spark = batch.sparkSession
    bounds = spark.read.parquet(os.path.join(asset, "bounds"))
    zed = zorder_events_frozen(batch, bounds)
    data = os.path.join(asset, "data")
    touched = sorted(
        r["zbucket"] for r in zed.select("zbucket").distinct().collect()
    )
    batch_ids = zed.select("event_id").distinct()
    dup = (
        spark.read.parquet(data)
        .where(F.col("zbucket").isin(touched))
        .select("event_id")
        .join(F.broadcast(batch_ids), "event_id", "left_semi")
        .take(1)
    )
    if dup:
        raise ValueError(
            "append_to_zorder_layout: batch contains event_id(s) already "
            f"in the table (e.g. {dup[0]['event_id']}) — appends must be "
            "new rows; re-deliveries must be deduplicated upstream"
        )
    zed.repartition("zbucket").write.mode("append").partitionBy(
        "zbucket"
    ).parquet(data)


def _morton_sql(a: str, b: str) -> str:
    """The interleave as PORTABLE SQL text (shifts/masks only — parses
    and evaluates identically in Spark SQL and DuckDB), for oracles
    that must replay bucket assignment; the Spark execution path uses
    warehouse.zorder_value (same math as a Column expression)."""
    terms = []
    for i in range(Z_DIM_BITS):
        terms.append(f"(((({a}) >> {i}) & 1) << {2 * i})")
        terms.append(f"(((({b}) >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


ZORDER_HOT_FACTOR = 4  # a bucket holding > 4x the mean occupancy is hot


@register(
    "zorder_balance_monitor",
    oracle=f"""
WITH ev AS (SELECT event_id, user_id, epoch_ms(ts) AS t_ms FROM events),
base AS (SELECT * FROM ev WHERE event_id % {ZORDER_BATCH_MOD} != {ZORDER_BATCH_MOD - 1}),
b AS (
  SELECT min(user_id) AS u_min, max(user_id) AS u_max,
         min(t_ms) AS t_min, max(t_ms) AS t_max
  FROM base
),
n AS (
  SELECT event_id,
         LEAST({_Z_MAX}, GREATEST(0,
           ((user_id - u_min) * {_Z_MAX}) // GREATEST(1, u_max - u_min))) AS un,
         LEAST({_Z_MAX}, GREATEST(0,
           ((t_ms - t_min) * {_Z_MAX}) // GREATEST(1, t_max - t_min))) AS tn
  FROM ev CROSS JOIN b
),
zz AS (SELECT event_id, ({_morton_sql("un", "tn")}) AS z FROM n),
occ AS (
  SELECT (z >> {2 * Z_DIM_BITS - ZBUCKET_BITS}) AS zbucket,
         COUNT(*)::BIGINT AS n_rows
  FROM zz GROUP BY 1
),
spine AS (SELECT unnest(range({1 << ZBUCKET_BITS})) AS zbucket),
tot AS (SELECT SUM(n_rows)::BIGINT AS total FROM occ)
SELECT s.zbucket,
       COALESCE(o.n_rows, 0)::BIGINT AS n_rows,
       round((COALESCE(o.n_rows, 0) * {1 << ZBUCKET_BITS})::DOUBLE
             / total::DOUBLE, 6) AS load_ratio,
       (COALESCE(o.n_rows, 0) * {1 << ZBUCKET_BITS}
        > {ZORDER_HOT_FACTOR} * total) AS hot,
       (COALESCE(o.n_rows, 0) = 0) AS empty
FROM spine s LEFT JOIN occ o USING (zbucket) CROSS JOIN tot
""",
    doc="Layout-health monitor — the balance-monitor pattern applied "
    "to the z-ordered table's coarse grid: per-bucket occupancy of "
    "the appending asset with load_ratio, an integer-exact hot "
    f"trigger (> {ZORDER_HOT_FACTOR}x mean: the frozen bounds no "
    "longer match the data distribution — appends clamp-pile into "
    "edge cells, a hot file stops skipping — time to re-derive bounds "
    "and re-layout, the quantizer-re-train decision for layouts) and "
    "empty buckets (grid capacity wasted on unpopulated rectangles). "
    "FULL-mechanics replay oracle: the frozen-bounds normalization, "
    "Morton interleave and bucket id are pure integer arithmetic "
    "spelled identically in both engines. Scale: the scan projects "
    "ONLY the asset's zbucket partition column (row counts from "
    "parquet metadata), aggregates map-side to O(buckets) rows, one "
    "one-row total broadcast — the IVF balance monitor's cost shape.",
    tags=("batch", "warehouse", "layout", "eval"),
)
def zorder_balance_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    asset = ensure_zorder_base(spark, sf_dir)
    occ = (
        spark.read.parquet(os.path.join(asset, "data"))
        .groupBy(F.col("zbucket").cast("long").alias("zbucket"))
        .agg(F.count("*").alias("n_rows"))
    )
    n_buckets = 1 << ZBUCKET_BITS
    spine = spark.range(n_buckets).select(F.col("id").alias("zbucket"))
    dense = spine.join(F.broadcast(occ), "zbucket", "left").select(
        "zbucket", F.coalesce("n_rows", F.lit(0)).cast("long").alias("n_rows")
    )
    total = dense.agg(F.sum("n_rows").alias("total"))
    scaled = F.col("n_rows") * n_buckets
    return dense.join(F.broadcast(total)).select(
        "zbucket",
        "n_rows",
        F.round(scaled.cast("double") / F.col("total").cast("double"), 6).alias(
            "load_ratio"
        ),
        (scaled > ZORDER_HOT_FACTOR * F.col("total")).alias("hot"),
        (F.col("n_rows") == 0).alias("empty"),
    )


def zorder_stream_sink(asset: str):
    """foreachBatch sink maintaining a z-ordered table under arrival
    (used by stream_zorder_ingest_replay, importable for restart
    tests): the FIRST batch freezes the normalization bounds and lays
    out the base as segment 0's peers; every later batch places its
    rows under the frozen bounds into its own seg=<batch_id> directory
    — overwritten on re-delivery, so a foreachBatch retry after a
    crash leaves exactly one copy (the corpus-prep ledger's
    idempotence convention, replacing the batch-API append's
    fail-loudly duplicate guard)."""
    bounds_dir = os.path.join(asset, "bounds")
    data = os.path.join(asset, "data")

    def sink(batch: DataFrame, bid: int) -> None:
        if batch.isEmpty():
            return
        if not os.path.isdir(bounds_dir):
            zed = zorder_events(batch)
            t_ms = F.expr("CAST(ts div 1000000 AS BIGINT)")
            # publish the frozen bounds atomically (write-tmp-then-
            # rename): a crash mid-write must not leave bounds_dir
            # present-but-partial, or the foreachBatch retry would take
            # the frozen-bounds branch and read uncommitted bounds
            tmp = f"{bounds_dir}.tmp-{uuid.uuid4().hex[:8]}"
            zorder_bounds(batch, t_ms).write.mode("overwrite").parquet(tmp)
            os.rename(tmp, bounds_dir)
        else:
            bounds = batch.sparkSession.read.parquet(bounds_dir)
            zed = zorder_events_frozen(batch, bounds)
        write_zbuckets(zed, os.path.join(data, f"seg={bid}"))

    return sink


def recluster_zorder_layout(spark: SparkSession, asset: str) -> int:
    """The OPTIMIZE pass: rewrite each coarse bucket to ONE z-sorted
    file (crash-safe whole-directory swap). Rows never change bucket;
    row-group min/max stats tighten back to build quality. Returns
    part-files removed."""
    from .indexcache import compact_parquet_table

    return compact_parquet_table(
        spark, os.path.join(asset, "data"), partition_col="zbucket", sort_col="z"
    )


def ensure_zorder_base(spark: SparkSession, sf_dir: str) -> str:
    from .indexcache import ensure_index

    # v2: the append moved inside the build (published asset is
    # base+batch, immutable) — v1 assets were appended post-publish
    return ensure_index(
        "zorder_events_inc",
        sf_dir,
        "events",
        lambda tmp: write_zorder_base(spark, sf_dir, tmp),
        version=3,  # v3 = the guaranteed per-file z sort (see above)
    )


@register(
    "events_zorder_slice_incremental",
    oracle=_SLICE_ORACLE,
    doc="The two-dimensional slice over the APPENDING z-ordered table: "
    f"the base (event_id % {ZORDER_BATCH_MOD} != {ZORDER_BATCH_MOD - 1}) "
    "is clustered under frozen bounds and the remaining batch is "
    "appended into its correct coarse buckets through the real append "
    "path (frozen-bounds placement, fail-loudly touched-bucket "
    "duplicate guard) INSIDE the content-keyed build — the "
    "write_ivf_incremental_index convention, so the published asset "
    "is base+batch and never mutated after publish. Identical oracle "
    "to events_zorder_slice — the append must not move, lose or "
    "duplicate a row, and the slice is layout- AND "
    "lifecycle-invariant. The recluster pass (compact each bucket "
    "back to one z-sorted file) is probed invariant by "
    "tests/test_layout.py; at 100 TB this is the OPTIMIZE loop: "
    "appends cost ∝ batch, reclusters amortize over reads, and no "
    "row ever crosses a bucket boundary.",
    tags=("batch", "warehouse", "layout", "incremental"),
)
def events_zorder_slice_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    asset = ensure_zorder_base(spark, sf_dir)
    return central_slice(spark.read.parquet(os.path.join(asset, "data")))


# ------------------------------------------------- bounds-refresh arm
#
# The third lifecycle operation (after APPEND and RECLUSTER): when the
# balance monitor's hot trigger fires — the frozen normalization no
# longer matches the data, so appends clamp-pile into edge cells and a
# hot file stops skipping — the layout is RE-TRAINED: bounds re-derived
# from the table as it now is, every row re-placed under them, the
# whole table rewritten (rows DO cross bucket boundaries here, which is
# exactly why this is a separate, rarer operation than the in-bucket
# recluster). Queries are invariant across it by the same argument as
# every other lifecycle step: they filter on real column values, never
# on z. At 100 TB this is the expensive full-table OPTIMIZE; the
# monitor exists so you run it when the skipping payback justifies it,
# not on a timer.


def zorder_hot_buckets(zed: DataFrame) -> list[int]:
    """Bucket ids currently over the hot trigger (> ZORDER_HOT_FACTOR x
    mean occupancy) — the condition under which the balance monitor
    recommends refresh_zorder_layout. Contract-bounded collect: the
    occupancy frame is O(2^ZBUCKET_BITS) rows off the partition column
    alone (parquet metadata, no data pages)."""
    occ = (
        zed.groupBy(F.col("zbucket").cast("long").alias("zbucket"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    total = sum(r.n for r in occ)
    n_buckets = 1 << ZBUCKET_BITS
    return sorted(
        r.zbucket for r in occ if r.n * n_buckets > ZORDER_HOT_FACTOR * total
    )


# shared crash-recoverable directory swap (indexcache — ADVICE r13);
# re-exported here so layout callers/tests import from the module that
# uses them
from .indexcache import _recover_swap, _swap_dir  # noqa: E402


def refresh_zorder_layout(spark: SparkSession, asset: str) -> int:
    """Re-derive bounds from the CURRENT table and re-lay out every row
    under them, in place. Both replacement directories are fully
    written before any swap; the data swap commits the new placement,
    then the bounds swap follows. Two windows are left honest rather
    than claimed away: (a) a crash BETWEEN the two swaps leaves new
    data under old bounds — queries stay correct (they never read
    bounds) and the next append merely clamps like any stale-bounds
    append until the next refresh heals placement; (b) a crash INSIDE
    either swap's two-rename window leaves that directory displaced
    under its deterministic `.old` name, and _recover_swap restores it
    on the next refresh (no stranded random-hex dirs — ADVICE r13).
    Returns the number of hot buckets the refresh retired (0 = the
    trigger hadn't fired; the rewrite still ran)."""
    data = os.path.join(asset, "data")
    bounds_dir = os.path.join(asset, "bounds")
    _recover_swap(data)
    _recover_swap(bounds_dir)
    zed = spark.read.parquet(data)
    hot_before = zorder_hot_buckets(zed)
    rows = zed.drop("z", "zbucket", "t_ms")
    t_ms = F.expr("CAST(ts div 1000000 AS BIGINT)")
    new_bounds_tmp = f"{bounds_dir}.tmp-{uuid.uuid4().hex[:8]}"
    zorder_bounds(rows, t_ms).write.mode("overwrite").parquet(new_bounds_tmp)
    rezed = zorder_events_frozen(rows, spark.read.parquet(new_bounds_tmp))
    new_data_tmp = f"{data}.tmp-{uuid.uuid4().hex[:8]}"
    write_zbuckets(rezed, new_data_tmp)
    _swap_dir(data, new_data_tmp)
    _swap_dir(bounds_dir, new_bounds_tmp)
    return len(hot_before)


def write_zorder_refreshed(spark: SparkSession, sf_dir: str, path: str) -> None:
    """The full stale-bounds -> hot-trigger -> refresh lifecycle inside
    one content-keyed build. The stale fixture freezes bounds from the
    lower-left QUADRANT of the (user, time) domain — the worst
    realistic staleness: ~3/4 of rows clamp into edge cells and the
    top-corner bucket concentrates ~6x the mean occupancy, so the hot
    trigger genuinely fires (asserted: the build refuses a fixture
    that doesn't trip it). The pre-refresh occupancy is recorded to
    stale_occupancy/ as the asset's own evidence, then
    refresh_zorder_layout re-derives and re-places — the published
    asset carries balanced data, true bounds, and the before-picture."""
    ev = load(spark, sf_dir, "events").withColumn(
        "t_ms", F.expr("CAST(ts div 1000000 AS BIGINT)")
    )
    dom = zorder_bounds(ev).collect()[0]
    u_mid = dom.u_min + (dom.u_max - dom.u_min) * 5 // 10
    t_mid = dom.t_min + (dom.t_max - dom.t_min) * 5 // 10
    stale = ev.where((F.col("user_id") <= u_mid) & (F.col("t_ms") <= t_mid))
    zorder_bounds(stale).write.mode("overwrite").parquet(os.path.join(path, "bounds"))
    zed = zorder_events_frozen(
        ev.drop("t_ms"), spark.read.parquet(os.path.join(path, "bounds"))
    )
    write_zbuckets(zed, os.path.join(path, "data"))
    stale_data = spark.read.parquet(os.path.join(path, "data"))
    stale_data.groupBy(F.col("zbucket").cast("long").alias("zbucket")).agg(
        F.count("*").alias("n_rows")
    ).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(path, "stale_occupancy")
    )
    retired = refresh_zorder_layout(spark, path)
    if retired == 0:
        raise AssertionError(
            "write_zorder_refreshed: the stale-bounds fixture did not "
            "trip the hot trigger — the lifecycle this asset exists to "
            "certify never ran"
        )


def ensure_zorder_refreshed(spark: SparkSession, sf_dir: str) -> str:
    from .indexcache import ensure_index

    return ensure_index(
        "zorder_events_refreshed",
        sf_dir,
        "events",
        lambda tmp: write_zorder_refreshed(spark, sf_dir, tmp),
        version=1,
    )


@register(
    "events_zorder_slice_refreshed",
    oracle=_SLICE_ORACLE,
    doc="The two-dimensional slice served AFTER the bounds-refresh "
    "lifecycle (the operation the balance monitor's hot trigger "
    "recommends, owed since the r11 verdict): bounds are first frozen "
    "DELIBERATELY STALE (lower-left quadrant of the domain, so ~3/4 "
    "of rows clamp into edge cells and the hot trigger verifiably "
    "fires — the build refuses a fixture that doesn't trip it), then "
    "refresh_zorder_layout re-derives bounds from the table as it now "
    "is and re-places every row, rows crossing bucket boundaries — "
    "the re-train step appends and reclusters never perform. "
    "IDENTICAL oracle to events_zorder_slice: a refresh must not "
    "move, lose, duplicate or alter a row's VALUES, only its "
    "placement, so the slice is invariant across the entire "
    "stale->hot->refresh lifecycle; balance restoration (6x-mean hot "
    "corner -> no bucket over trigger) is pinned against the asset's "
    "own recorded stale_occupancy in tests/test_layout.py. At 100 TB "
    "this is the full-table OPTIMIZE you run when the monitor says "
    "the skipping payback justifies it.",
    tags=("batch", "warehouse", "layout", "lifecycle"),
)
def events_zorder_slice_refreshed(spark: SparkSession, sf_dir: str) -> DataFrame:
    asset = ensure_zorder_refreshed(spark, sf_dir)
    return central_slice(spark.read.parquet(os.path.join(asset, "data")))
