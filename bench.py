"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract: stdout carries a SHORT flat SUMMARY line (< ~400
bytes, no nested dicts) first and last, so a capture bounded at either
end holds one complete parseable object. Between them: one full DETAIL
line (per-query timings, stream throughput, errors), then `part` lines
of ~10 name -> seconds entries each, so a bounded tail capture also
ends with complete per-query fragments. The detail object is also
written to BENCH_DETAIL.json next to this script.

Each query executes fully (noop sink — no driver-side collect, mirrors
a real distributed write) and is timed end-to-end including plan
compilation. The headline set spans every engine pillar: reference
windows (tumble/slide/pane/session), detectors (threshold, stateful
fold, count-trigger), relational (Q1, star join), and the
training-data extensions (dedup exact/ngram/minhash, simhash, ANN,
multimodal features).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Extend-only: entries keep their names and order, so totals stay
# comparable across runs. The DF-pruned n-gram dedup and MinHash-LSH
# are the benched dedup paths; the unpruned dedup_ngram_jaccard stays
# a registered correctness reference (its pair volume is sum df^2 per
# shingle, which is skew-fragile at scale).
HEADLINE = [
    "tumble_sum_3s",
    "slide_mean_50s_10s",
    "slide_sum_50s_10s_paned",
    "global_slide_mean_5m_1m",
    "session_sum_user_6h",
    "union_max_by",
    "count_or_time_user_1d_3",
    "running_sum_alerts_gt_500",
    "tpch_q1_pricing_summary",
    "revenue_by_nation",
    "dedup_exact",
    "dedup_ngram_jaccard_pruned",
    "dedup_minhash_lsh",
    "doc_simhash",
    "ann_cosine_topk",
    "ann_lsh_buckets",
    "multimodal_features",
    "asof_latest_order",
    "moving_avg_5_events",
    "resample_daily_gapfill",
    "cube_order_counts",
    "tpch_q17_small_quantity_revenue",
    "tpch_q21_suppliers_kept_waiting",
    "grouping_sets_events",
    "tpch_q9_product_type_profit",
    "gopher_quality_filter",
    "tfidf_top_terms",
    "decontaminate_ngram_overlap",
    "tumble_approx_distinct_users_bounded",
    "stratified_sample_docs",
    "decontaminate_bloom_prefilter",
    "ann_cosine_topk_blas",
    "tumble_median_1h",
    "tumble_approx_median_1h",
    "kmeans_assign",
    "span_dup_stats",
    "doc_unigram_logprob",
    "funnel_view_click_purchase",
    "cohort_retention_daily",
    "zscore_alerts_3sigma",
    "dedup_incremental_lsh",
    "doc_chunk_windows",
    "ann_ivf_topk_indexed",
    "ewma_amount_per_account",
    "dedup_containment_pairs",
    "dedup_keep_best_per_cluster",
    "temperature_resample_docs",
    "bm25_query_topk",
    "bm25_query_topk_indexed",
    "bm25_incremental_index_topk",
    "tpch_q4_order_priority",
    "tpch_q13_customer_order_distribution",
    "tpch_q22_dormant_high_balance",
    "approx_distinct_users_bounded",
    "ann_ivf_incremental_topk",
    "weekly_users_sketch_rollup",
    "semdedup_keep",
    "ann_ivf_recall_at_k",
    "semdedup_incremental_keep",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "mlt_bm25_topk",
    "hybrid_rrf_topk",
    "ann_ivfpq_topk_indexed",
    "dedup_passages_keep_first",
    "curriculum_quality_buckets",
    "ann_pq_recall_at_k",
    "hard_negatives_topk",
    "stream_bm25_ingest_replay",
    "stream_ivf_ingest_replay",
    "dedup_passages_incremental",
    "ann_ivfpq_recall_at_k",
    "tumble_approx_median_bounded",
    "ts_znorm_pattern_topk",
    "stream_ts_pattern_alerts_replay",
    "hybrid_rrf_topk_indexed",
    "stream_recordbuffer_bounded_tumble_replay",
    "tpch_q5_local_supplier_volume",
    "tpch_q12_late_shipment_priority",
    "tpch_q14_promo_effect",
    "tpch_q15_top_supplier",
    "stream_corpus_prep_replay",
    "hybrid_overlap_at_k",
    "stream_asof_enrich_replay",
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q10_returned_items",
    "tpch_q18_large_volume_customer",
    "tpch_q19_bracketed_revenue",
    "tpch_q2_min_cost_supplier",
    "tpch_q11_important_stock",
    "tpch_q16_supplier_part_counts",
    "tpch_q20_excess_stock_suppliers",
    "ann_lsh_recall_at_k",
    "mixture_apply_docs",
    "source_cap_docs",
    "stream_semdedup_ingest_replay",
    "export_shard_manifest",
    "export_mixture_shards",
    "stream_ivfpq_ingest_replay",
    "bm25_compacted_index_topk",
    "mlt_bm25_topk_indexed",
    "ann_ivf_balance_monitor",
    "dedup_simhash_band_recall",
    "ann_ivf_drift_monitor",
    "events_zorder_slice",
    "stream_ivf_health_replay",
    "events_zorder_slice_incremental",
    "quality_psi_drift",
    "ann_pq_drift_monitor",
    "stream_quality_psi_replay",
    "ann_ivfpq_refine_topk",
    "ann_ivfpq_refine_recall_at_k",
    "dsir_importance_sample",
    "stream_zorder_ingest_replay",
    "hybrid_ndcg_at_k",
    "zorder_balance_monitor",
    "scd2_user_tier_history",
    "cdc_upsert_snapshot",
    "cdc_snapshot_asof",
    "stream_cdc_upsert_replay",
    "hybrid_mrr_at_k",
    "pagerank_trade_network",
    "temporal_join_purchase_status",
    "stream_scd2_replay",
    "stream_temporal_join_replay",
    "cdc_snapshot_diff",
    "scd2_tombstoned_history",
    "pagerank_convergence_monitor",
    "sql_scd2_history",
    "stream_scd2_tombstoned_replay",
    "bpe_merge_candidates",
    "feature_label_matrix_daily",
    "score_auc_quality_vs_en",
    "langid_confusion_matrix",
    "score_calibration_bins",
    "backtest_expanding_folds",
    "logreg_train_next7_purchase",
    "session_capped_user",
    "heavy_hitters_mg_bounded",
    "stream_mg_ingest_replay",
    "value_quantiles_by_type_bounded",
    "events_zorder_slice_refreshed",
    "stream_pagerank_ingest_replay",
    "stream_tumble_median_1h_replay",
    "stream_users_sketch_rollup_replay",
    "ann_pq_refreshed_topk",
    "ann_ivf_refreshed_topk",
]


def _err_summary(exc: Exception) -> str:
    """First line of the error, bounded; never raises (str(exc) can be
    empty for bare Exception()/KeyError)."""
    first = (str(exc).splitlines() or [repr(exc)])[0]
    return (first or repr(exc))[:200]


def _stream_benches(
    spark,
    sf_dir: str,
    errors: dict[str, str],
    throughput: dict[str, dict],
    workload: dict[str, dict],
) -> dict[str, float]:
    """Seven micro-batched streams over the replayed fixture, timed end
    to end (replay materialization excluded — it's the generator, not
    the engine): EP1 tumbling agg, the sliding-window agg, the F5
    stateful detector, session windows, the holistic median, the
    two-reader stream-stream interval join, and the WA5/F1
    record-buffer window — so regressions in window state,
    overlapping-window state, Python stateful state, merging-session
    state, full-buffer aggregate state, join state, and Python
    timer/timeout state are separately visible."""
    import shutil
    import uuid

    from pyspark.sql import functions as F

    from flink_fraud_detection_rocks_db_app_spark.streaming import (
        REPLAY_STATE_PARTITIONS,
        read_replay_stream,
        record_buffer_tumbling_stream,
        replay_state_confs,
        run_to_memory,
        running_sum_alerts_stream,
        session_agg_stream,
        sliding_sum_stream,
        windowed_agg_stream,
        write_replay_chunks,
    )

    jobs = {
        "stream_tumble_sum_1h": lambda s: windowed_agg_stream(
            s, 3_600_000, watermark="0 seconds"
        ),
        # routed through the measured-crossover policy API: at this
        # replay's density auto resolves to the naive Expand form
        # (identical plan to windowed_agg_stream(size, slide))
        "stream_slide_sum_50s_10s": lambda s: sliding_sum_stream(
            s, 50_000, 10_000, watermark="0 seconds", mode="auto"
        ),
        "stream_running_sum_alerts": lambda s: running_sum_alerts_stream(s, 500.0),
        "stream_session_sum_6h": lambda s: session_agg_stream(
            s, 6 * 3_600_000, watermark="0 seconds"
        ),
        "stream_tumble_median_1h": lambda s: windowed_agg_stream(
            s,
            3_600_000,
            watermark="0 seconds",
            aggs=[F.expr("percentile(amount, 0.5)").alias("median_amount")],
        ),
        # the custom Python timer path (applyInPandasWithState +
        # event-time timeouts) — same declarative-tumbling semantics as
        # stream_tumble_sum_1h above, so their rows/s gap IS the price
        # of the Python stateful round-trip with timers
        "stream_recordbuffer_tumble_1h": lambda s: record_buffer_tumbling_stream(
            s, 3_600_000
        ),
    }
    scratch = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        ".scratch",
        f"bench-stream-{uuid.uuid4().hex[:8]}",
    )
    os.makedirs(scratch, exist_ok=True)
    timings: dict[str, float] = {}
    try:
        chunks = write_replay_chunks(spark, sf_dir, scratch, n_chunks=6)
        # The stream jobs run under the replay faces' state confs (4
        # state partitions, RocksDB tuning, changelog checkpointing),
        # restored afterwards so batch work keeps the session defaults.
        with replay_state_confs(spark):
            # The interval join needs TWO reader instances (one per join
            # side) over a TYPED replay — event_type rides in the payload,
            # the way a real broker stream arrives. (An A/B against
            # broadcast-joining the type onto untyped chunks measured the
            # in-payload form ~16% faster end to end: 5.87 s vs 7.01 s —
            # two fewer per-batch join stages.) The other jobs take one
            # plain stream; wrapped to the same `job(stream)` shape — the
            # arg is the click side, the purchase side opens its own
            # reader over the same typed chunks.
            # 3 chunks, not 6: micro-batch sizing is THE deployment knob
            # for this job — each batch pays state open/commit on every
            # partition for BOTH join sides, and SCALE.md's density probe
            # shows that fixed cost dominates at replay scale (rows/s grows
            # ~linearly with density). Halving the batch count halves it;
            # the emitted pair set is identical (inner-join emission does
            # not depend on batch boundaries), and the 6-chunk suite
            # differential (tests/test_streaming_custom.py) still pins the
            # fine-grained watermark semantics every round.
            typed_chunks = write_replay_chunks(
                spark, sf_dir, os.path.join(scratch, "typed"), n_chunks=3,
                with_event_type=True,
            )

            def _ivj_side(etype, cols):
                return (
                    read_replay_stream(spark, typed_chunks, with_event_type=True)
                    .where(F.col("event_type") == etype)
                    .select(*cols)
                )

            def _interval_join(_clicks_unused):
                c = _ivj_side(
                    "click",
                    [
                        "account_id",
                        F.col("event_time").alias("c_time"),
                        F.col("event_id").alias("click_id"),
                    ],
                ).withWatermark("c_time", "0 seconds")
                p = _ivj_side(
                    "purchase",
                    [
                        F.col("account_id").alias("p_user"),
                        F.col("event_time").alias("p_time"),
                        F.col("event_id").alias("purchase_id"),
                        F.col("amount").alias("purchase_value"),
                    ],
                ).withWatermark("p_time", "0 seconds")
                return c.join(
                    p,
                    (F.col("account_id") == F.col("p_user"))
                    & (F.col("p_time") > F.col("c_time"))
                    & (F.col("p_time") <= F.col("c_time") + F.expr("INTERVAL 7 DAYS")),
                ).select("account_id", "click_id", "purchase_id", "purchase_value")

            jobs["stream_interval_join_7d"] = _interval_join
            # Workload-config fingerprint per streaming row: micro-batch
            # count and state partitioning ARE the workload for these jobs
            # (per-batch state open/commit dominates at replay scale), so a
            # knob change must be visible in the JSON for trend comparisons
            # to detect the discontinuity.
            for name in jobs:
                workload[name] = {
                    "n_chunks": 3 if name == "stream_interval_join_7d" else 6,
                    "state_partitions": REPLAY_STATE_PARTITIONS,
                }
            for name, job in jobs.items():
                # Failure isolation: one broken query must not black out
                # every other measurement. min-of-2, as for batch rows: a
                # single-shot stream number can move ~45% on scheduler
                # noise alone.
                try:
                    best = None
                    best_stats = None
                    for _ in range(2):
                        view = f"bench_{name}_{uuid.uuid4().hex[:8]}"
                        t0 = time.perf_counter()
                        out = job(read_replay_stream(spark, chunks))
                        stats = run_to_memory(out, view)
                        elapsed = time.perf_counter() - t0
                        spark.catalog.dropTempView(view)
                        # keep the stats from the run that produced the
                        # reported (min) wall time, so rows_per_sec and the
                        # min-of-2 timing describe the SAME run
                        if best is None or elapsed < best:
                            best, best_stats = elapsed, stats
                    timings[name] = round(best, 3)
                    # Throughput in the reference's own Prometheus metric
                    # (numEvents / processing duration, BASELINE.md) from
                    # StreamingQueryProgress — tracks engine processing
                    # rate independently of harness wall-clock overhead.
                    if best_stats["sec"] > 0:
                        throughput[name] = {
                            "rows": best_stats["rows"],
                            "rows_per_sec": round(
                                best_stats["rows"] / best_stats["sec"], 1
                            ),
                        }
                except Exception as exc:  # noqa: BLE001
                    print(f"bench: {name} FAILED: {exc!r}", file=sys.stderr)
                    timings[name] = -1.0
                    errors[name] = _err_summary(exc)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    return timings


def section_totals(timings: dict[str, float]) -> tuple[float, float]:
    """(batch_total, stream_total) over the rows that ran: a `stream_*`
    row — a replay face in HEADLINE or a _stream_benches job — runs
    the streaming engine and is billed to the stream section."""
    ok = {n: t for n, t in timings.items() if t >= 0}
    stream = round(sum(t for n, t in ok.items() if n.startswith("stream_")), 3)
    return round(sum(ok.values()) - stream, 3), stream


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    from flink_fraud_detection_rocks_db_app_spark.registry import all_queries
    from flink_fraud_detection_rocks_db_app_spark.session import get_spark

    spark = get_spark(app_name="bench")
    specs = all_queries()
    timings: dict[str, float] = {}
    # one warmup action so JVM/codegen startup isn't billed to the first query
    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()
    errors: dict[str, str] = {}
    throughput: dict[str, dict] = {}
    workload: dict[str, dict] = {}
    # Streams run FIRST: run after the batch section they inherit its
    # heap/codegen-cache pressure and ran ~1.35-1.4x slower (SCALE.md
    # "Stream-section harness state"). Measuring them first gives them
    # the same JVM state however many batch queries follow.
    stream_timings: dict[str, float] = {}
    try:
        stream_timings = _stream_benches(spark, sf_dir, errors, throughput, workload)
    except Exception as exc:  # noqa: BLE001
        print(f"bench: stream harness FAILED: {exc!r}", file=sys.stderr)
        errors["_stream_harness"] = _err_summary(exc)
    for name in HEADLINE:
        # Per-query failure isolation: record -1 + the error and keep
        # going; never exit non-zero because one query breaks.
        # min-of-2: single-shot timings swing +/-25% with scheduler
        # noise; the min is the reproducible steady-state number.
        # Declared in the "agg" field.
        try:
            best = None
            for _ in range(2):
                t0 = time.perf_counter()
                df = specs[name].fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                elapsed = time.perf_counter() - t0
                best = elapsed if best is None else min(best, elapsed)
            timings[name] = round(best, 3)
        except Exception as exc:  # noqa: BLE001
            print(f"bench: {name} FAILED: {exc!r}", file=sys.stderr)
            timings[name] = -1.0
            errors[name] = _err_summary(exc)
    timings.update(stream_timings)
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    batch_total, stream_total = section_totals(timings)
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "batch_total": batch_total,
        "stream_total": stream_total,
        # per-stream processing rate (StreamingQueryProgress:
        # input rows / summed triggerExecution) — the
        # reference's numEvents/duration metric definition
        "stream_throughput": throughput,
        # per-stream workload config (micro-batch count, state
        # partitions): a knob change makes the row incomparable
        "stream_workload": workload,
        # every row, batch and stream: best of 2 back-to-back runs
        "agg": "min_of_2",
        **({"errors": errors} if errors else {}),
    }
    # Short flat summary (no nested dicts, < ~400 bytes): printed FIRST
    # and LAST, so whichever end of stdout a bounded capture keeps, it
    # contains one complete parseable summary object.
    summary = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": total,
            "unit": "sec",
            "sf": float(sf),
            "batch_total": batch_total,
            "stream_total": stream_total,
            "agg": "min_of_2",
            "n_queries": len(timings),
            "n_errors": len(errors),
            "detail": "BENCH_DETAIL.json + detail stdout line",
        }
    )
    print(summary, flush=True)
    # Full per-query record: one stdout line (humans / logs) AND a file
    # next to the script, so the detail survives any capture limit.
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    print(json.dumps(detail), flush=True)
    try:
        with open(detail_path, "w") as fh:
            json.dump(detail, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError as exc:
        print(f"bench: could not write {detail_path}: {exc!r}", file=sys.stderr)
    # A tail capture of ~2000 bytes loses the head of the ~5 KB detail
    # line, so the per-query timings also go out as {"part": i, "parts":
    # n, "queries": {...}} lines of ~10 name -> sec entries (<= ~400
    # bytes each): any bounded tail ends with complete fragments.
    items = list(timings.items())
    step = 10
    nparts = (len(items) + step - 1) // step
    for i in range(nparts):
        part = dict(items[i * step : (i + 1) * step])
        print(
            json.dumps(
                {"part": i + 1, "parts": nparts, "queries": part},
                separators=(",", ":"),
            ),
            flush=True,
        )
    # LAST line: the same flat summary — the primary parse target, which
    # cannot outgrow a bounded capture window.
    print(summary, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
