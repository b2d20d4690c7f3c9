"""Bucketed-table write path: the co-located-join deployment shape.

At 100 TB the dominant shuffle is the fact-fact join (lineitem x
orders on orderkey, or events keyed by account). Bucketing is how a
warehouse kills it permanently: write both tables `bucketBy(N, key)`
(+ sortBy for merge-ready runs), and every subsequent equi-join or
aggregation on that key reads co-located buckets — SortMergeJoin with
NO Exchange on either side, amortized across every query that ever
touches the pair. This is Spark's equivalent of the reference's
keyed-state locality: RocksDB keeps per-key state on the operator that
owns the key partition; a bucketed table keeps per-key rows in the
file that owns the key bucket
(reference: master/src/main/java/InorderTumblingWindow/FraudDetectionJob.java
keyBy semantics — locality by key hash, declared once).

Bucket-count sizing at scale: buckets are the JOIN parallelism floor
and each bucket file should land in the 128 MB - 1 GB range after
compression; 100 TB of lineitem at ~512 MB/bucket => ~200k buckets is
wrong (too many files) — you bucket the TABLE at e.g. 4096 and rely on
AQE to coalesce/split within a bucket-preserving scan. Locally the
fixtures use small counts; the *plan shape* (no Exchange) is identical.

Requires a metastore-backed catalog (`saveAsTable` — bucket metadata
lives in the catalog, not the parquet footer), which the local session
provides via the default in-cwd Derby metastore + spark-warehouse dir
(both gitignored).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .fixtures import load


def write_bucketed(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    key: str,
    n_buckets: int,
    name: str | None = None,
) -> str:
    """Write a fixture table bucketed (and sorted) by `key` into the
    session catalog; returns the catalog table name."""
    name = name or f"{table}_b{n_buckets}_{key}"
    (
        load(spark, sf_dir, table)
        .write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(name)
    )
    return name


def cowarehouse_orders_lineitem(
    spark: SparkSession, sf_dir: str, n_buckets: int = 8, suffix: str = ""
) -> tuple[str, str]:
    """Materialize the canonical co-located pair: orders and lineitem
    both bucketed on the order key."""
    o = write_bucketed(
        spark, sf_dir, "orders", "o_orderkey", n_buckets, f"orders_bkt{suffix}"
    )
    li = write_bucketed(
        spark, sf_dir, "lineitem", "l_orderkey", n_buckets, f"lineitem_bkt{suffix}"
    )
    return o, li


def bucketed_order_revenue(
    spark: SparkSession, orders_tbl: str, lineitem_tbl: str
) -> DataFrame:
    """Per-order revenue over the bucketed pair.

    With both sides bucketed on the join key this plans as a
    SortMergeJoin whose children are bucket-preserving file scans —
    zero Exchange nodes (asserted in tests/test_plans.py). The
    follow-on groupBy(o_orderkey) ALSO rides the bucketing: the
    aggregation is partial-only, no re-shuffle.
    """
    o = spark.table(orders_tbl)
    li = spark.table(lineitem_tbl)
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


def write_date_partitioned_events(
    spark: SparkSession, sf_dir: str, out_dir: str
) -> str:
    """Write the events fixture partitioned by event DATE (`ds=`
    directories) — the standard time-partitioned lake layout.

    At 100 TB this is the first line of defense: any query with a date
    predicate prunes whole partitions at PLANNING time (zero I/O for
    excluded days), and ingestion appends to the newest partition
    without touching history. Date is derived from the epoch-micros
    instant (UTC days) so pruning semantics are timezone-free, matching
    the engine's epoch-integer window convention.
    """
    ev = load(spark, sf_dir, "events").select(
        F.col("user_id").alias("account_id"),
        F.col("ts").alias("t_ns"),
        F.col("value").alias("amount"),
        "event_id",
        F.to_date(F.timestamp_micros(F.expr("ts div 1000"))).alias("ds"),
    )
    ev.write.mode("overwrite").partitionBy("ds").parquet(out_dir)
    return out_dir


def read_events_for_day(spark: SparkSession, path: str, day: str) -> DataFrame:
    """Daily slice of the partitioned layout. The `ds = day` predicate
    is a partition filter — it never reaches row-level evaluation
    (asserted against PartitionFilters in tests/test_plans.py)."""
    return spark.read.parquet(path).where(F.col("ds") == day)


# --------------------------------------------------------------- Z-order

def zorder_value(col_a, col_b, bits: int = 8):
    """Interleave the low `bits` of two bucket indexes into a Z-value
    (Morton code) — pure JVM bit arithmetic, whole-stage-codegen'd."""
    return F.expr(
        f"aggregate(sequence(0, {bits - 1}), CAST(0 AS BIGINT), (acc, i) -> "
        f"acc | shiftleft(shiftright({col_a}, i) & 1, 2 * i) "
        f"| shiftleft(shiftright({col_b}, i) & 1, 2 * i + 1))"
    )


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    bits: int = 8,
    n_files: int = 8,
) -> None:
    """Multi-dimensional clustering for the scan path (the layout move
    behind Delta's OPTIMIZE ZORDER, public): bucket each column into
    2^bits quantile ranks (approxQuantile — a mergeable sketch, driver
    receives only the 2^bits boundaries), interleave the rank bits into
    a Morton code, then range-partition + sort files by it. This is
    the generic two-column writer (quantile ranks adapt to skew); the
    registered, appendable asset faces — frozen min-max bounds,
    coarse-bucket directories, duplicate-guarded appends, OPTIMIZE
    recluster — live in operators/layout.py and share zorder_value. Every
    output file then covers a small hyper-rectangle of (col_a, col_b),
    so parquet min/max footer stats prune files/row-groups for
    predicates on EITHER column — unlike a single-column sort, which
    clusters one dimension and scatters the other. At 100 TB this is
    the difference between a point lookup touching ~1/n_files of the
    data and touching all of it."""
    probs = [i / (1 << bits) for i in range(1, 1 << bits)]
    bounds_a = df.stat.approxQuantile(col_a, probs, 0.001)
    bounds_b = df.stat.approxQuantile(col_b, probs, 0.001)

    def rank(col: str, bounds: list[float]):
        arr = ", ".join(f"CAST({b} AS DOUBLE)" for b in bounds)
        # index of the first boundary >= value == quantile rank
        return F.expr(
            f"CAST(size(filter(array({arr}), x -> x < CAST({col} AS DOUBLE))) AS BIGINT)"
        )

    z = df.withColumn("_ra", rank(col_a, bounds_a)).withColumn(
        "_rb", rank(col_b, bounds_b)
    ).withColumn("_z", zorder_value("_ra", "_rb", bits))
    (
        z.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_ra", "_rb", "_z")
        .write.mode("overwrite")
        .parquet(path)
    )


# ------------------------------------------------------------ compaction

def compact_date_partitions(
    spark: SparkSession,
    path: str,
    target_bytes: int = 128 << 20,
    partition_prefix: str = "ds=",
) -> dict:
    """Small-files compaction for a date-partitioned lake table — the
    maintenance pass every streaming/appending ingest needs at scale:
    micro-batch sinks and incremental appends accrete many small files
    per partition, and at 100 TB the resulting scan-task explosion and
    NameNode/listing pressure dominate read cost long before data size
    does.

    Scale posture:
    - INCREMENTAL: a partition is rewritten only when it has more files
      than its bytes justify (> ceil(bytes / target_bytes)); healthy
      partitions are not touched, so steady-state maintenance cost is
      proportional to the freshly-dirtied partitions (typically just
      the newest day), never the table.
    - NO SHUFFLE: the rewrite is coalesce(n_out) — a narrow union of
      input splits; rows never repartition by key. Row content,
      ordering within files aside, is bit-preserved (tested).
    - ATOMIC PER PARTITION: the compacted partition is written to a
      `.tmp-compact-*` sibling (ignored by readers: dotted prefix) and
      swapped in by operators/indexcache._swap_dir. A crash mid-swap
      leaves the old partition under a dotted deterministic name that
      _recover_swap puts back on the next call — never a partial or
      lost partition. (On object stores you'd stage a manifest
      instead — same contract, different rename primitive.)

    Local file listing stands in for the catalog/manifest a real
    deployment consults. Returns {"compacted": {ds_dir: (n_before,
    n_after)}, "skipped": [ds_dir, ...]} for observability.
    """
    import math
    import os
    import uuid

    from .operators.indexcache import _recover_swap, _swap_dir

    for d in os.listdir(path):  # heal a prior crash mid-swap, if any
        if d.startswith(f".{partition_prefix}") and d.endswith(".old"):
            _recover_swap(os.path.join(path, d[1:-4]))
    compacted: dict[str, tuple[int, int]] = {}
    skipped: list[str] = []
    for d in sorted(os.listdir(path)):
        part_dir = os.path.join(path, d)
        if not d.startswith(partition_prefix) or not os.path.isdir(part_dir):
            continue
        files = [
            f
            for f in os.listdir(part_dir)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ]
        n_bytes = sum(os.path.getsize(os.path.join(part_dir, f)) for f in files)
        n_target = max(1, math.ceil(n_bytes / target_bytes))
        if len(files) <= n_target:
            skipped.append(d)
            continue
        tmp = os.path.join(path, f".tmp-compact-{d}-{uuid.uuid4().hex[:8]}")
        (
            spark.read.parquet(part_dir)
            .coalesce(n_target)
            .write.mode("overwrite")
            .parquet(tmp)
        )
        _swap_dir(part_dir, tmp)
        compacted[d] = (len(files), n_target)
    return {"compacted": compacted, "skipped": skipped}
