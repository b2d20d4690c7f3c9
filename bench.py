"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
sf0.1) on local[$SPARK_GRAFT_CPUS].

Output contract (round-6 fix — BENCH_r05 was lost to tail truncation):
stdout carries TWO JSON lines. First a full DETAIL line (per-query
timings, stream throughput, errors — ~3 KB and growing), then a SHORT
flat SUMMARY line (< ~400 bytes, no nested dicts) printed LAST so a
bounded tail capture always contains one complete parseable object.
The detail object is also written to BENCH_DETAIL.json next to this
script so the full per-query record survives regardless of capture
limits.

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
    # the unpruned dedup_ngram_jaccard was round-1's slowest batch entry
    # and is skew-fragile at scale (pair volume = sum df^2 per shingle);
    # it remains a registered correctness reference, but the DF-pruned
    # form + MinHash-LSH are the flagship dedup paths benched here
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
    # round 2 additions (extend-only; earlier entries keep their names
    # so BENCH_r{N} totals stay comparable): subquery-decorrelation
    # shapes and the multi-grouping-set Expand
    "tpch_q17_small_quantity_revenue",
    "tpch_q21_suppliers_kept_waiting",
    "grouping_sets_events",
    # derived-partsupp composite-key join + the corpus filter cascade
    "tpch_q9_product_type_profit",
    "gopher_quality_filter",
    # round 3 additions: TF-IDF ranking, broadcast decontamination,
    # sketch-based windowed distinct (the 100 TB distinct-count path),
    # scan-local stratified sampling
    "tfidf_top_terms",
    "decontaminate_ngram_overlap",
    # round 13: tumble_approx_distinct_users_1h was RETIRED from the
    # registry (raw HLL output has no cross-engine oracle); its slot
    # here goes to the hash-gated successor, which runs the same
    # windowed sketch plus the exact twin and the bound check
    "tumble_approx_distinct_users_bounded",
    "stratified_sample_docs",
    # round 4 additions: the bloom-prefiltered decontamination path —
    # benched alongside the broadcast-exact form it must shadow — and
    # the BLAS-vectorized exact ANN next to its JVM zip_with twin
    "decontaminate_bloom_prefilter",
    "ann_cosine_topk_blas",
    # round 4b additions: the holistic median pair (exact full-value
    # ObjectHashAgg vs mergeable GK sketch), Lloyd k-means (broadcast
    # centroids, scan-local argmin), the duplicated-passage signal, and
    # the broadcast unigram-LM scorer
    "tumble_median_1h",
    "tumble_approx_median_1h",
    "kmeans_assign",
    "span_dup_stats",
    "doc_unigram_logprob",
    # the sequence-fold funnel and the (user, day)-reduced cohort matrix
    "funnel_view_click_purchase",
    "cohort_retention_daily",
    # adaptive anomaly window + the appending-corpus dedup form
    "zscore_alerts_3sigma",
    "dedup_incremental_lsh",
    # round 5: retrieval/context-prep chunk fan-out (scan-local slice)
    "doc_chunk_windows",
    # round 5: IVF probe against the materialized cell-partitioned index
    "ann_ivf_topk_indexed",
    # round 5: per-key EWMA adaptive baseline (bit-exact CTE oracle)
    "ewma_amount_per_account",
    # round 7: the remaining newly driver-gated families (extend-only):
    # asymmetric containment over the shared pruned postings, the
    # quality-argmax canonical selection (pruned pairs + CC + argmax),
    # and the derived-threshold temperature resampler
    "dedup_containment_pairs",
    "dedup_keep_best_per_cluster",
    "temperature_resample_docs",
    # round 7: BM25 lexical retrieval (pruned query-term postings,
    # broadcast stats, distributed top-k) and its materialized
    # inverted-index form (partition-pruned probe, no corpus scan)
    "bm25_query_topk",
    "bm25_query_topk_indexed",
    "bm25_incremental_index_topk",
    # round 8 (extend-only): the newly driver-gated TPC-H subquery
    # shapes (EXISTS histogram, outer-join count-of-counts,
    # scalar-subquery + anti-join) and the hash-gateable HLL-bound face
    "tpch_q4_order_priority",
    "tpch_q13_customer_order_distribution",
    "tpch_q22_dormant_high_balance",
    "approx_distinct_users_bounded",
    # round 8: appending-corpus IVF (frozen quantizer persisted in the
    # index asset, batch appended to cell partitions) and the
    # persisted-sketch weekly rollup (daily HLL partials unioned)
    "ann_ivf_incremental_topk",
    "weekly_users_sketch_rollup",
    # round 8: cluster-scoped semantic dedup (Lloyd loop + per-cell
    # near-dup policy), the IVF recall@k quality-eval composition, and
    # the appending-corpus SemDeDup (frozen quantizer + precomputed
    # base losers; min-of-2 keeps the warm probe of the published
    # asset, same convention as the other incremental rows)
    "semdedup_keep",
    "ann_ivf_recall_at_k",
    "semdedup_incremental_keep",
    # round 8: product quantization — the compressed-domain ANN scan
    # (flat ADC) and the FAISS-style IVFPQ composition (cell pruning
    # first, LUT lookups inside the probed lists)
    "ann_pq_topk",
    "ann_ivfpq_topk",
    # round 8: the retrieval stack composed — MoreLikeThis lexical
    # search and the RRF hybrid of the lexical + semantic arms
    "mlt_bm25_topk",
    "hybrid_rrf_topk",
    # round 8: the FAISS on-disk shape — cell-partitioned PQ codes +
    # frozen quantizers as one published asset (min-of-2 keeps the
    # warm partition-pruned probe, the incremental-row convention)
    "ann_ivfpq_topk_indexed",
    # round 8: passage-level exact dedup with document reassembly (the
    # C4/CCNet transform twin of span_dup_stats' signal)
    "dedup_passages_keep_first",
    # round 8: per-language quality tertiles (the curriculum/pruning
    # data-ordering stage; exact-rank face of the approx-threshold twin)
    "curriculum_quality_buckets",
    # round 8: the PQ quantization-loss monitor next to the IVF
    # cell-pruning monitor
    "ann_pq_recall_at_k",
    # round 8: DPR-style hard-negative mining (BM25-close, embedding-
    # distant) — the contrastive-training data face of the two arms
    "hard_negatives_topk",
    # round 8: streaming corpus ingestion maintaining the BM25 index
    # (foreachBatch segment appends; probe == full-corpus oracle)
    "stream_bm25_ingest_replay",
    # round 8: its embedding twin — quantizer bootstrapped from the
    # first arrival, later batches appended under the frozen centroids
    "stream_ivf_ingest_replay",
    # round 8: appending-corpus passage dedup (first-arrival wins
    # against the persisted passage index; cost ∝ batch)
    "dedup_passages_incremental",
    # round 8: the combined-loss monitor completing the recall trio
    "ann_ivfpq_recall_at_k",
    # round 8: the hash-gateable GK-median face (exact + sketch-bound
    # flag pinned TRUE, the bounded-HLL pattern applied to quantiles)
    "tumble_approx_median_bounded",
    # round 8: UCR-style z-normalized subsequence similarity (scalar
    # rewrite over rounded sliding sums + one literal-pattern dot)
    "ts_znorm_pattern_topk",
    # round 8: the spike-pattern matcher as a standing streaming alert
    # (subsequence buffers across micro-batches, same rounded rewrite)
    "stream_ts_pattern_alerts_replay",
    # round 9 (extend-only): the hybrid's 100 TB form — the semantic
    # arm probes the materialized IVFPQ index instead of rescanning
    # raw vectors (benched NEXT TO hybrid_rrf_topk: their gap is the
    # price/win of the index swap at this corpus size)
    "hybrid_rrf_topk_indexed",
    # round 9: WA4 — the bounded-buffer tumbling window (cap + evict-
    # earliest per key through applyInPandasWithState; the per-key
    # state bound is the semantics, so its cost rides the same Python
    # stateful path as the recordbuffer row it sits beside)
    "stream_recordbuffer_bounded_tumble_replay",
    # round 9: the newly driver-gated TPC-H join/subquery shapes
    "tpch_q5_local_supplier_volume",
    "tpch_q12_late_shipment_priority",
    "tpch_q14_promo_effect",
    "tpch_q15_top_supplier",
    # round 9: the corpus-prep pipeline maintained under streaming
    # document ingestion (per-batch fp-aggregate ledger segments) and
    # the fused-ranking drift monitor between the two hybrid forms
    "stream_corpus_prep_replay",
    "hybrid_overlap_at_k",
    # round 9: the stream-table as-of enrichment (broadcast dimension
    # snapshot, stateless scan-local pick) benched beside the batch
    # as-of it supersedes in the driver window
    "stream_asof_enrich_replay",
    # round 10 (extend-only): the TPC-H remainder rotated into the
    # driver window — the join half (two-nation volume, market share,
    # returned items, large-volume semi-join, bracketed disjunctive
    # predicate) and the derived-partsupp half (min-cost correlated
    # subquery, important stock, supplier-part counts, excess stock)
    "tpch_q7_volume_shipping",
    "tpch_q8_market_share",
    "tpch_q10_returned_items",
    "tpch_q18_large_volume_customer",
    "tpch_q19_bracketed_revenue",
    "tpch_q2_min_cost_supplier",
    "tpch_q11_important_stock",
    "tpch_q16_supplier_part_counts",
    "tpch_q20_excess_stock_suppliers",
    # round 10: the LSH bucket-collision monitor completing the benched
    # recall quartet, the mixture-plan materialization, and per-source
    # deterministic doc capping (all driver-gated r9/r10)
    "ann_lsh_recall_at_k",
    "mixture_apply_docs",
    "source_cap_docs",
    # round 10: streaming SEMANTIC-dedup ingestion — completes the
    # incremental-ingest quartet (BM25 / IVF / corpus-prep / SemDeDup):
    # asset bootstrapped from the first arrival, later micro-batches
    # appended under the frozen quantizer, verdict == one-shot replay
    "stream_semdedup_ingest_replay",
    # round 10: the dataloader-facing deterministic shard export (one
    # shard-keyed exchange, scan-local Knuth assignment) and its
    # mixture-composed form (epoch copies placed independently)
    "export_shard_manifest",
    "export_mixture_shards",
    # round 10: the IVFPQ index maintained under streaming ingestion —
    # the compressed-domain (deployed) form of the IVF ingest face
    "stream_ivfpq_ingest_replay",
    # round 11: the full append-lifecycle composition — base -> append
    # -> COMPACT -> append ×2 -> compact, probed against the same
    # full-corpus oracle (small-files control without rebuilds or
    # quiescence); warm runs reuse the content-keyed asset so the row
    # prices the probe, not the lifecycle replay
    "bm25_compacted_index_topk",
    # round 11: MLT served from the materialized BM25 index — no corpus
    # read or re-tokenization; qtf/df/tf/dl off the posting rows,
    # bucket-pruned (the form the hybrid overlap monitor now runs)
    "mlt_bm25_topk_indexed",
    # round 11: the two new index-health monitors — IVF cell-occupancy
    # balance (partition-column-only scan of the materialized index;
    # warm runs reuse the published asset) and the dedup pillar's
    # banding recall (true Jaccard pairs vs banded-simhash candidates,
    # full-mechanics md5 replay)
    "ann_ivf_balance_monitor",
    "dedup_simhash_band_recall",
    # round 11: quantizer-staleness leg of the IVF health triple
    # (O(cells x dim) aggregate over the same published asset)
    "ann_ivf_drift_monitor",
    # round 11: the Z-ordered layout asset's two-dimensional slice
    # (both range predicates pushed into the clustered scan)
    "events_zorder_slice",
    # round 11: post-ingest health report over the stream-built IVF
    # index (balance + drift vs the monolithic replay oracle)
    "stream_ivf_health_replay",
    # round 11: the appending z-ordered table (frozen-bounds bucket
    # placement, touched-bucket duplicate guard; recluster tested)
    "events_zorder_slice_incremental",
    # round 11: per-ingest-batch data-drift gate (PSI over the shared
    # quality-score deciles, dense spine, one-row totals broadcast)
    "quality_psi_drift",
    # round 11: compressed-domain codebook staleness (the PQ twin of
    # the IVF drift monitor; O(M x KS x SUBDIM) aggregate)
    "ann_pq_drift_monitor",
    # round 11: the drift gate under streaming ingestion (per-batch
    # 10-row histogram segments, associative merge == monolithic PSI)
    "stream_quality_psi_replay",
    # round 11: the FAISS refine stage (exact re-rank of the 3k-wide
    # ADC pool) and its recall column (prices the REFINE_FACTOR knob)
    "ann_ivfpq_refine_topk",
    "ann_ivfpq_refine_recall_at_k",
    # round 11: DSIR-shaped importance resampling (O(V) broadcast LM
    # ratio, scan-local scoring, all-integer Knuth acceptance gate)
    "dsir_importance_sample",
    # round 11: the z-ordered table maintained under streaming arrival
    # (frozen-bounds placement, retry-safe per-batch segments)
    "stream_zorder_ingest_replay",
    # round 11: graded ranking quality of the served hybrid (nDCG@k
    # vs the exact-arm gold; shares the indexed-MLT arm)
    "hybrid_ndcg_at_k",
    # round 11: grid-balance leg of the layout pillar (partition-
    # column-only scan of the appending z-table, re-layout triggers)
    "zorder_balance_monitor",
    # round 12: the temporal/CDC pillar — SCD2 run-length history in
    # one exchange + one sort, changelog compaction under the partial
    # WindowGroupLimit plan, and the snapshot-as-of prefix read
    "scd2_user_tier_history",
    "cdc_upsert_snapshot",
    "cdc_snapshot_asof",
    # round 12: the compaction maintained as a complete-mode streaming
    # state table (one aggregate row per key)
    "stream_cdc_upsert_replay",
    # round 12: reciprocal-rank leg of the served-hybrid grading
    # family (shares the indexed-MLT arm with overlap/nDCG)
    "hybrid_mrr_at_k",
    # round 12: fixed-iteration PageRank, Pregel-as-joins over the
    # persisted degree-annotated trade edges (5 x join+groupBy)
    "pagerank_trade_network",
    # round 12: the temporal-table (FOR SYSTEM_TIME AS OF) dimension
    # join — union-and-carry-forward, one key shuffle
    "temporal_join_purchase_status",
    # round 12: SCD2 maintained by the streaming engine (open versions
    # in bucketed state, timeout-flushed heads)
    "stream_scd2_replay",
    # round 12: both-sides-live temporal join (dimension state in the
    # fold, facts emit enriched in one micro-batch, no timers)
    "stream_temporal_join_replay",
    # round 12: snapshot reconciliation diff (two WindowGroupLimit
    # compactions + one co-partitioned full outer join)
    "cdc_snapshot_diff",
    # round 12: deletes-aware SCD2 (tombstones close versions, gaps
    # allowed; same one-exchange boundary-filter shape)
    "scd2_tombstoned_history",
    # round 12: the iterative pillar's convergence monitor (r4-vs-r5
    # residual off the shared persisted-edges loop) and the SQL-text
    # face of the SCD2 build
    "pagerank_convergence_monitor",
    "sql_scd2_history",
    # round 12: the deletes-aware SCD2 through the streaming engine
    # (version counter survives deactivated gaps in fold state)
    "stream_scd2_tombstoned_replay",
    # round 12: tokenizer-training primitive (adjacent-char-pair
    # counts, scan-local fan-out + TakeOrdered top-50)
    "bpe_merge_candidates",
    # round 12: supervised-dataset assembly (gap-filled spine, past
    # features / future label off one user-day sort) and the
    # distributed tie-exact AUC (windows over distinct scores only)
    "feature_label_matrix_daily",
    "score_auc_quality_vs_en",
    # round 12: eval/CV companions — langid confusion, calibration
    # bins, expanding backtest folds (one scan, one aggregate each)
    "langid_confusion_matrix",
    "score_calibration_bins",
    "backtest_expanding_folds",
    # round 12: in-engine model training (3 GD epochs = 3 one-row
    # aggregates over the cached feature frame)
    "logreg_train_next7_purchase",
    # round 12: gap+cap sessionization (true sequential fold, bucketed
    # Arrow; recursive-CTE oracle)
    "session_capped_user",
    # round 12: frequency-sketch face (per-partition Misra-Gries,
    # merged summaries, exact top-20 gate + pinned error band)
    "heavy_hitters_mg_bounded",
    # round 12: the sketch maintained under ingestion (k-row ledger
    # segments per batch, summed at probe)
    "stream_mg_ingest_replay",
    # round 13: the hash-gateable GK-quantiles face (exact p50/p95 +
    # sketch-in-brackets boolean in ONE hash aggregate) — the
    # registered successor of the retired raw approx-quantiles row
    "value_quantiles_by_type_bounded",
    # round 13: the z-order bounds-refresh arm — re-derive bounds from
    # the current (skew-appended) table, re-layout, slice oracle
    # unchanged; prices the full OPTIMIZE-style rewrite
    "events_zorder_slice_refreshed",
    # round 13: the graph pillar's streaming twin — edge chunks through
    # the engine into idempotent segments, then the batch-identical
    # five-iteration rank refresh over the ingested union
    "stream_pagerank_ingest_replay",
    # round 14 (extend-only): the two r14-window rows not yet benched —
    # the streamed holistic median and the streamed HLL sketch rollup
    # (per-period sketches accumulated through the engine, merged at
    # probe)
    "stream_tumble_median_1h_replay",
    "stream_users_sketch_rollup_replay",
    # round 14: the ANN refresh lifecycles — one Lloyd update per
    # quantizer tier (PQ codebook from the drift monitor's mean frame;
    # IVF coarse centroids spherically), re-encode/re-assign, serve
    # refreshed (prices the scheduled quantizer re-trains)
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
    stateful detector, (since r5) session windows, the holistic
    median, the two-reader stream-stream interval join, and (since r7)
    the WA5/F1 record-buffer window — so regressions in window state,
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
        # r5: the remaining streaming families get rows/s numbers too —
        # merging session state, full-buffer holistic aggregate state,
        # and (below, two-reader) stream-stream interval-join state
        "stream_session_sum_6h": lambda s: session_agg_stream(
            s, 6 * 3_600_000, watermark="0 seconds"
        ),
        "stream_tumble_median_1h": lambda s: windowed_agg_stream(
            s,
            3_600_000,
            watermark="0 seconds",
            aggs=[F.expr("percentile(amount, 0.5)").alias("median_amount")],
        ),
        # r7: the custom Python timer path (applyInPandasWithState +
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
            # Workload-config fingerprint per streaming row (ADVICE r7):
            # micro-batch count and state partitioning ARE the workload for
            # these jobs (per-batch state open/commit dominates at replay
            # scale), so a knob change — like r7 halving the interval-join
            # replay from 6 to 3 chunks — must be mechanically visible in
            # the per-round JSON, not just in a comment, for cross-round
            # trend comparisons to detect the discontinuity.
            for name in jobs:
                workload[name] = {
                    "n_chunks": 3 if name == "stream_interval_join_7d" else 6,
                    "state_partitions": REPLAY_STATE_PARTITIONS,
                }
            for name, job in jobs.items():
                # Failure isolation (round-2 lesson: one broken query must
                # not black out every other measurement — BENCH_r02 was
                # rc=1 with zero numbers recorded). min-of-2 for streams
                # too since r4: the r3 single-shot numbers produced a false
                # +45% "regression" on the F5 job that a warm re-measure
                # showed was scheduler noise — the same ±25% band batch
                # queries already guard against.
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
                        # min-of-2 timing describe the SAME run (ADVICE r5)
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
    # Streams run FIRST (r9, VERDICT r8 #1): r8's seven declarative
    # streaming rows regressed ~1.6x vs r7 at an identical recorded
    # workload config. Fresh-JVM A/B (scripts/ab_stream_fresh — the
    # same _stream_benches body in a process that ran nothing else):
    # tumble 5.38 s vs 7.51 s in-harness, slide 7.23 s vs 9.66 s —
    # ~30% of the regression was harness state (82 batch queries'
    # heap/codegen-cache pressure in the same JVM), not streaming
    # code (streaming/jobs.py unchanged since r7). Measuring streams
    # before the batch section gives them the same JVM state every
    # round regardless of how many batch queries precede them.
    stream_timings: dict[str, float] = {}
    try:
        stream_timings = _stream_benches(spark, sf_dir, errors, throughput, workload)
    except Exception as exc:  # noqa: BLE001
        print(f"bench: stream harness FAILED: {exc!r}", file=sys.stderr)
        errors["_stream_harness"] = _err_summary(exc)
    for name in HEADLINE:
        # Per-query failure isolation: record -1 + the error and keep
        # going; never exit non-zero because one query breaks.
        # min-of-2: single-shot timings on this box swing +/-25% with
        # scheduler noise; the min is the reproducible steady-state
        # number (and the one that scales — plan compilation amortizes
        # to zero over a 100 TB run). Declared in the "agg" field.
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
    batch_total = round(sum(t for t in timings.values() if t >= 0), 3)
    timings.update(stream_timings)
    total = round(sum(t for t in timings.values() if t >= 0), 3)
    detail = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        # round-over-round context: round 2 added two streaming
        # entries (sliding-window agg, F5 stateful detector) and
        # swapped the skew-fragile unpruned ngram dedup for the
        # DF-pruned flagship; batch_total is the like-for-like
        # batch-side subtotal
        "batch_total": batch_total,
        "stream_total": round(total - batch_total, 3),
        # per-stream processing rate (StreamingQueryProgress:
        # input rows / summed triggerExecution) — the
        # reference's numEvents/duration metric definition
        "stream_throughput": throughput,
        # per-stream workload config (micro-batch count, state
        # partitions): a knob change makes the row incomparable to
        # prior rounds, and this field is where that is detectable
        "stream_workload": workload,
        # batch queries: best of 2 back-to-back runs (noise
        # hygiene); since r4 streams are min-of-2 as well
        # (single-shot stream numbers false-flagged a +45%
        # regression in r3). r1/r2 were single-shot everywhere.
        "agg": "min_of_2",
        **({"errors": errors} if errors else {}),
    }
    # Short flat summary (no nested dicts, < ~400 bytes): printed FIRST
    # and LAST (r8 hardening — VERDICT r7 #7), so whichever end of
    # stdout a bounded capture keeps, it contains one complete
    # parseable summary object. The detail line sits between them.
    summary = json.dumps(
        {
            "metric": "headline_queries_total",
            "value": total,
            "unit": "sec",
            "sf": float(sf),
            "batch_total": batch_total,
            "stream_total": round(total - batch_total, 3),
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
    # r15 (VERDICT r14 #2, additions-only): the driver could not extract
    # per-query timings from either r13 or r14 (PERF n_common: 0) — its
    # capture keeps only the LAST 2000 chars of stdout, so the ~5 KB
    # detail line above always loses its head and parses as nothing.
    # Two extra compact forms, name→sec only (no nested stats):
    # (a) one single-line {"detail": {...}} for any parser with a
    #     larger window, and
    # (b) chunked {"part": i, "parts": n, "queries": {...}} lines of
    #     ~10 entries (≤ ~400 bytes each), so a bounded tail capture of
    #     any size ends with complete, individually parseable per-query
    #     fragments rather than one truncated giant line. The existing
    #     first/detail/last lines are unchanged.
    compact = {k: timings[k] for k in timings}
    print(json.dumps({"detail": compact}, separators=(",", ":")), flush=True)
    items = list(compact.items())
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
    # LAST line: the same flat summary — the driver's bounded tail
    # capture truncated the HEAD of round 5's single 3 KB line and
    # recorded parsed:null, so the primary parse target stays the final
    # line, which cannot outgrow the capture window.
    print(summary, flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
