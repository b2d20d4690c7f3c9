"""SparkSession factory tuned for the fraud-analytics engine.

The reference app hand-manages RocksDB instances and a global lock
(reference: master/src/main/java/InorderTumblingWindow/FraudDetectionJob.java:40).
Here state management is delegated to Spark: the RocksDB state store
provider gives one embedded store per shuffle partition with no shared
locks, which is the scalable shape of the same idea.

Scale notes (100 TB design):
- AQE on: runtime partition coalescing + skew-join splitting replace the
  reference's hand-picked parallelism variants (pom-*Parallelism.xml).
- shuffle partitions default to the core count locally; on a real
  cluster this should be ~2-3x total executor cores, or left to AQE
  with a high initial partition number.
- session timezone pinned to UTC so event-time window arithmetic is
  identical to the DuckDB oracle and independent of cluster locale.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import SparkSession

ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def env_int(name: str, default: int) -> int:
    """Integer environment knob that fails soft: an unset variable gives
    `default`, and a malformed one logs a warning and gives `default`
    instead of raising (several knobs are read at import time, where a
    raise would take the whole query registry down)."""
    raw = os.environ.get(name)
    if raw is None:
        return default
    try:
        return int(raw)
    except ValueError:
        logging.getLogger(__name__).warning(
            "ignoring malformed %s=%r; using %d", name, raw, default
        )
        return default


def default_cpus() -> int:
    return env_int("SPARK_GRAFT_CPUS", 32)


def rocksdb_tuning() -> dict[str, str]:
    """State-store tuning mirroring the reference's hand-tuned RocksDB
    options (reference: zcode/CustomTumblingWindow.java:86-136 — 64 MB
    write buffer, 4 background jobs, no fsync; compression from
    flink-conf.yaml state.backend.rocksdb.compress.*). Spark exposes the
    same knobs per state store; pass to get_spark(extra_conf=...) for
    state-heavy streaming jobs.
    """
    p = "spark.sql.streaming.stateStore.rocksdb."
    return {
        p + "writeBufferSizeMB": "64",
        p + "maxWriteBufferNumber": "4",
        p + "boundedMemoryUsage": "true",
        p + "maxMemoryUsageMB": "1024",
        p + "compression": "lz4",
        p + "compactOnCommit": "false",
    }


def get_spark(
    app_name: str = "flink-fraud-rocksdb-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with engine defaults."""
    if cpus is None:
        cpus = default_cpus()
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # r14: let the planner pick shuffled-hash over sort-merge when
        # its size conditions hold (guide §3.1/§9) — skips both sides'
        # sorts. Honest measurement record (OPTIMIZATION_r14.md §6):
        # at sf0.1 on this box the effect is timing-NEUTRAL (warm
        # min-of-3 A/B identical within noise on every join-heavy
        # query; earlier claimed 1.6x wins were cold-vs-warm ordering
        # artifacts). Plan effect is real where the size conditions
        # hold (ann_ivf_refreshed_topk: 6 SortMergeJoin -> 2 SMJ +
        # 4 ShuffledHashJoin, plans/r14/). Kept because the sort it
        # removes is O(n log n) per partition at 100 TB while the
        # planner still bounds the build side per partition, and the
        # full 245-query registry re-verified EXACT against the
        # DuckDB oracle under this config (emitted floats stay
        # hash-stable via the registry's 6dp-rounding convention).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
