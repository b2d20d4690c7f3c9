"""Parallelism-differential tests — the reference's parallelism axis.

The reference ships duplicate build variants that differ ONLY in
parallelism (master/pom-SingleParallelism.xml vs
pom-MultipleParallelism.xml) and re-runs its window/detector jobs under
both, because hand-rolled window state is where partition count changes
results if anything is order- or placement-sensitive. The Spark
equivalent of that axis is `spark.sql.shuffle.partitions`: every query
must produce the IDENTICAL result set at 1 shuffle partition (the
serial schedule) and at many (the parallel schedule). This catches the
classic scale bugs — per-partition folds that assume global order,
non-commutative merges, partition-local tiebreaks — before a 1000-
executor cluster does.

Representatives cover each risk class: keyed window agg (tumbling),
order-sensitive stateful fold (F5 running sum with reset), window-
function ranking with tiebreaks (as-of), multi-stage join pipeline
(MinHash LSH), and a two-level pane aggregate (sliding paned).
"""

from __future__ import annotations

import pytest

from flink_fraud_detection_rocks_db_app_spark.registry import all_queries

from .conftest import SF_SMALL

REPRESENTATIVES = (
    "tumble_sum_3s",
    "running_sum_alerts_gt_500",
    "asof_latest_order",
    "dedup_minhash_lsh",
    "slide_sum_50s_10s_paned",
    # r4b: iterative FP-sensitive pipeline — centroid averages feed the
    # next iteration's argmin, so summation-order drift across
    # schedules would flip assignments if the 6dp rounding seam leaked
    "kmeans_assign",
    # r4b: sequence fold over a per-key sorted array (the funnel walk
    # must not depend on which partition built the array)
    "funnel_view_click_purchase",
    # r4b: prefix-window aggregates whose 6dp-rounded gate decides row
    # MEMBERSHIP — summation-order drift across schedules must not
    # flip a flag
    "zscore_alerts_3sigma",
    # r5: iterative CC labels feed an argmax-quality window whose
    # 6dp-rounded score + id tiebreak decides the canonical keep — the
    # keep flag must not depend on which schedule built the clusters
    "dedup_keep_best_per_cluster",
    # r5: pure scan fan-out; chunk ids derive from in-row arithmetic
    # only, so ANY schedule dependence would mean a bug in the slicing
    "doc_chunk_windows",
    # r7: 6dp-rounded sorted-term fold + global top-k with id tiebreak —
    # rank membership must not depend on which schedule summed the
    # per-term contributions or ran the TakeOrdered
    "bm25_query_topk",
    # r8: appending-index probe — the coalesce()'d append segments and
    # the cell-partitioned read must give schedule-independent top-k
    # (cosine DESC, neighbor ASC tiebreak); the index is built once per
    # content, so both schedules read the SAME published asset
    "ann_ivf_incremental_topk",
    # r8c: PQ encode argmin (6dp-rounded, first-match tiebreak) and the
    # ADC fixed-order fold both gate rank membership — codes and adists
    # must not depend on the schedule that scanned the corpus
    "ann_ivfpq_topk",
    # r8c: corpus-wide keep-first window + order-sensitive document
    # reassembly (sorted fold) — neither may depend on which schedule
    # scanned the passages
    "dedup_passages_keep_first",
    # r8c: two-arm rank fusion — each arm's 6dp-rounded scores + id
    # tiebreaks decide ranks, and the fused reciprocal sum must be
    # identical whichever schedule built either arm
    "hybrid_rrf_topk",
    # r9: the indexed-arm fusion — 6dp-rounded ADC distances + id
    # tiebreaks must make the probed ranking (and thus the fusion)
    # schedule-invariant even though the codes arrive from a
    # partitioned asset built under a different parallelism
    "hybrid_rrf_topk_indexed",
    # r9: the per-account bounded-buffer window — the eviction fold
    # runs per key inside hash buckets, so the surviving window set
    # must not depend on how keys pack into state partitions
    "stream_recordbuffer_bounded_tumble_replay",
    # r10: the streaming SemDeDup ingest — the asset is bootstrapped
    # and appended under whatever schedule the micro-batches ran, so
    # the dominance verdict (6dp-rounded pair cosines + id tiebreaks)
    # must be identical at 1 and many shuffle partitions; this is the
    # invariance half of the face's arrival-order-independence oracle
    "stream_semdedup_ingest_replay",
)


def _rows(spark, name):
    df = all_queries()[name].fn(spark, SF_SMALL)
    cols = sorted(df.columns)
    out = []
    for r in df.select(*cols).collect():
        vals = []
        for v in r:
            # double summation order may legitimately differ between
            # schedules for the few bit-exact-fold outputs that stay
            # unrounded by design; compare at 12 SIGNIFICANT digits
            # (%.12g — relative). Emitted float aggregates are
            # 6dp-rounded since r11 (the driver hashes exactly), so
            # for those this comparison is effectively exact.
            vals.append(float(f"{v:.12g}") if isinstance(v, float) else v)
        out.append(tuple(vals))
    return sorted(out, key=repr)


@pytest.mark.parametrize("name", REPRESENTATIVES)
def test_result_invariant_to_shuffle_partitions(spark, name):
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "1")
        serial = _rows(spark, name)
        spark.conf.set("spark.sql.shuffle.partitions", "32")
        parallel = _rows(spark, name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert serial == parallel, (
        f"{name}: result depends on partition count "
        f"({len(serial)} vs {len(parallel)} rows)"
    )


def test_streaming_restart_invariant_to_shuffle_partitions(spark, scratch):
    """The reference's parallelism axis applied to STREAMING state: a
    checkpointed query restarted under a different
    spark.sql.shuffle.partitions must produce the identical window
    results. Structured Streaming pins the state partition count in
    the checkpoint (the offset log records numShufflePartitions), so a
    conf change on restart must be a no-op for results — this asserts
    that contract end to end: run half the replay at 4 partitions,
    'crash', restart the second half at 17, compare the union against
    the batch answer."""
    import glob
    import os
    import shutil

    from pyspark.sql import functions as F

    from flink_fraud_detection_rocks_db_app_spark.operators.windows import MS
    from flink_fraud_detection_rocks_db_app_spark.streaming import (
        IN_ORDER,
        read_replay_batch,
        read_replay_stream,
        windowed_agg_stream,
        write_replay_chunks,
    )

    size_ms = MS["h"]
    chunks = write_replay_chunks(spark, SF_SMALL, scratch, n_chunks=6)
    files = sorted(glob.glob(os.path.join(chunks, "*.parquet")))
    live = os.path.join(scratch, "live")
    out = os.path.join(scratch, "out")
    ckpt = os.path.join(scratch, "ckpt")
    os.makedirs(live)

    def run_once():
        agg = windowed_agg_stream(
            read_replay_stream(spark, live), size_ms, watermark=IN_ORDER
        )
        q = (
            agg.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()
        q.awaitTermination()

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "4")
        for f in files[:3]:
            shutil.copy2(f, live)
        run_once()
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        for f in files[3:]:
            shutil.copy2(f, live)
        run_once()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    got = {
        (r.w_start, r.account_id): r.sum_amount
        for r in spark.read.parquet(out).collect()
    }
    batch = read_replay_batch(spark, chunks)
    full = {
        (r.w_start, r.account_id): r.sum_amount
        for r in windowed_agg_stream(batch, size_ms, watermark=None).collect()
    }
    wm = batch.agg(F.max(F.unix_millis("event_time"))).collect()[0][0]
    want = {k: v for k, v in full.items() if k[0] + size_ms <= wm}
    assert set(got) == set(want), (
        f"missing={sorted(set(want) - set(got))[:3]} "
        f"extra={sorted(set(got) - set(want))[:3]}"
    )
    for k, v in got.items():
        assert abs(v - full[k]) < 1e-9, k
