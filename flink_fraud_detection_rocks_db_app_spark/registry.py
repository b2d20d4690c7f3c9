"""Query registry: name -> (PySpark builder, optional DuckDB oracle SQL).

This is the engine's "query catalog". The reference hard-codes each
query as a Flink operator DAG in a `FraudDetectionJob.main` variant;
here every capability is a named, declarative query over the fixture
tables, each paired with an ANSI-SQL oracle so the driver (and local
tests) can hash-compare results against DuckDB.

Conventions (critical for the driver's order-insensitive value-hash):
- window starts are emitted as epoch-milliseconds BIGINT named
  ``w_start`` (Spark: ``unix_millis(window.start)``; DuckDB: integer
  math on ``epoch_ms(ts)``) — timezone- and precision-proof.
- every computed column is aliased identically in both forms.
- comparisons that *gate rows* (HAVING thresholds, rank tiebreaks) are
  done on values rounded to 6 decimals so double summation-order noise
  between engines cannot flip row membership; and EMITTED float
  aggregate columns are rounded to 6 decimals on both sides too. The
  driver hashes values EXACTLY (no fp tolerance — r10's q11 red was a
  1-ULP summation-order drift), so any unrounded order-sensitive
  double output is a coin flip at driver time. scripts/check_parity.py
  --exact [--perturb] is the local gate for this.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: str | None  # DuckDB SQL over the pre-registered table views
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


_REGISTRY: dict[str, QuerySpec] = {}

# The driver grades (at most) the FIRST 50 registered queries, in
# order. Round 1 lost verdicts for T3/F3/F5, ANN, text and time-series
# because registration order buried them past position 50 (VERDICT.md
# "What's missing" #1). This list pins the driver window explicitly:
# one representative per SURVEY §2 operator plus every extension
# pillar (dedup, ANN, text, time-series, multimodal, TPC-H). Pure
# parameter variants (e.g. filter_amount_gt_100, tumble_sum_5s,
# alert_* variants, the sql_* duplicates) sit past the window — they
# remain oracle-verified every round by tests/test_oracle_parity.py,
# which runs the FULL registry against DuckDB.
#
# STANDING POLICY (r12 verdict #2): a new face does NOT count as done
# in COVERAGE.md until it has either (a) held a driver row here, or
# (b) a COVERAGE.md note naming the driver-green twin that subsumes
# its machinery. Rotation must keep pace with building: every round
# swaps enough slots that the never-driver-gated set SHRINKS, and a
# round that registers N new faces budgets rotation slots for them in
# the same round (r13 swapped 20 slots to drain the r11/r12 backlog).
DRIVER_WINDOW: tuple[str, ...] = (
    # skew-handling + SQL-API representative
    "event_type_stats_salted",
    # r3: sql_tumble_sum_3s (same operator as tumble_sum_3s through the
    # SQL API face; that face stays covered by tests/test_oracle_parity)
    # gave its slot to the sequence-packing family
    # r8: pack_sequences (green r3-r7; its Knuth-hash gate machinery
    # stays driver-gated via split_train_val_test +
    # temperature_resample_docs) gave its slot to
    # project_account_amount_ts — P2's LAST driver row was the r2
    # fixture-drift red (fixed at fixtures.py:32, suite-green since);
    # this retires the stale red with a clean driver re-check
    # r9: project_account_amount_ts (green r8 — the stale-red retire
    # done; P2's projection machinery runs inside every other driver
    # row's plan) gave its slot to tpch_q12_late_shipment_priority:
    # the two-branch conditional aggregation over a date-window join
    # (CASE inside SUM), per the r8 verdict's TPC-H queue (q12/q15
    # subquery half)
    # r11: tpch_q12 (green r10; all 22 TPC-H shapes hold cumulative
    # driver evidence as of r10, and the conditional-aggregation-over-
    # date-join machinery recurs in the remaining q11/q19 rows) gives
    # its slot to the r9 #3 re-gate queue, due that round:
    # asof_latest_order — the batch union+carry-forward as-of join,
    # displaced r9b by its streaming twin (which stays below), re-gated
    # per the displaced-green policy
    # r12: asof_latest_order (re-gate green r11; the as-of machinery
    # keeps its driver row via stream_asof_enrich_replay below, same
    # oracle) gives its slot to the r11 queue's data-drift gate
    # quality_psi_drift: the PSI comparison of the live quality-score
    # distribution against the frozen baseline histogram — the
    # train-data admission gate, pre-validated vanilla at sf0.01
    # r13: quality_psi_drift (green r12) — superseded by
    # stream_quality_psi_replay: the SAME frozen-baseline PSI
    # comparison and oracle, but with the live quality-score
    # distribution accumulated through the ACTUAL streaming engine as
    # documents arrive — strictly more surface (the admission gate as
    # it would run in production ingestion); the batch form stays
    # full-suite verified under the identical oracle
    "stream_quality_psi_replay",
    # extension joins (r4: interval_join_click_purchase — same
    # keyed-range-join machinery as range_join_price_band, still
    # full-suite verified — gave its slot to the SQL-text face entry
    # sql_tumble_sum_3s, so the spark.sql() surface has a driver row.
    # r4b: range_join_price_band — the remaining range-join variant,
    # asof_latest_order keeps the family's driver row — gave its slot
    # to tumble_median_1h: the reference DESIGN.md:27 HOLISTIC median
    # the Flink code never implemented, realized as an exact
    # interpolated-percentile window aggregate)
    # r9b: asof_latest_order (green r1-r8, the longest-tenured row in
    # the window) — superseded by stream_asof_enrich_replay: the SAME
    # as-of semantics and oracle, but as the canonical stream-table
    # enrichment (per-customer sorted order array broadcast into a
    # stream-static join, scan-local as-of pick, stateless) through
    # the ACTUAL streaming engine — strictly more surface; the batch
    # union+carry-forward form stays full-suite verified under the
    # identical oracle
    "stream_asof_enrich_replay",
    # r10: tumble_median_1h (green r4b-r9, the DESIGN.md holistic
    # median) — superseded by tumble_approx_median_bounded: the SAME
    # exact interpolated median + count under the identical hash gate
    # PLUS the GK-sketch bracket pin the oracle fixes to TRUE (the
    # approx_distinct_users_bounded pattern applied to quantiles) —
    # strictly more surface: a sketch regression now flips a driver
    # row red; the plain exact form stays full-suite verified
    "tumble_approx_median_bounded",
    # r9: sql_tumble_sum_3s (green r3-r8; the spark.sql() text face of
    # the IDENTICAL tumbling plan+oracle as tumble_sum_3s — the SQL-API
    # surface stays pinned by tests/test_oracle_parity and the sqlapi
    # suite) gave its slot to mlt_bm25_topk: the MoreLikeThis lexical
    # arm as its own driver row (VERDICT r8 #2 named it) — until now
    # only gated THROUGH the hybrid fusion
    # r13: mlt_bm25_topk (green r9-r12) — superseded by
    # mlt_bm25_topk_indexed: the SAME MoreLikeThis seed-document
    # scoring and oracle, but with the lexical arm probing the
    # MATERIALIZED term-bucketed postings asset under planning-time
    # pruning (the ann_ivfpq_topk_indexed precedent — the warehouse
    # form that is the 100 TB path); the scan form stays full-suite
    # verified under the identical oracle (r11 queue leftover)
    # r14: mlt_bm25_topk_indexed (green r13; the indexed-MLT arm runs
    # verbatim inside the driver-gated hybrid eval-frames asset) gives
    # its slot to score_calibration_bins — reliability-curve binning
    # of the trainer's predicted probabilities
    "score_calibration_bins",
    # dedup pillar (r4: dedup_clusters — near-dup CC over LSH pairs —
    # rotated in; it was the last dedup stage with suite-only evidence)
    # r5: dedup_exact — the md5-fingerprint hash-groupBy runs verbatim
    # inside corpus_prep_pipeline's dedup stage (pipeline.py:66), which
    # stays — gave its slot to doc_winnow_fingerprints, the r4b
    # order-sensitive fingerprinting family that had suite-only evidence
    # r7b: stratified_sample_docs — temperature resampling gates with
    # the SAME overflow-free Knuth hash expression, but against
    # per-language thresholds DERIVED from a broadcast count aggregate
    # (sqrt(n_min/n_l)) instead of literals — strictly more machinery
    # over the identical scan-local gate; the literal-rate form stays
    # full-suite verified
    # r8c: temperature_resample_docs (driver-green r7; the Knuth-gate
    # machinery keeps TWO driver rows via stratified_sample_docs +
    # split_train_val_test below) gave its slot to ann_ivfpq_topk —
    # the FAISS IVFPQ composition new this round: coarse-cell pruning
    # then compressed-domain ADC ranking, full DuckDB replay oracle
    # (its flat-ADC, indexed and recall-eval siblings stay full-suite
    # verified under the same determinism contract)
    # r9: ann_ivfpq_topk (driver-green r8) — superseded by
    # ann_ivfpq_topk_indexed: the SAME coarse quantizer, codebook, ADC
    # ranking and oracle, but against the MATERIALIZED cell-partitioned
    # codes asset with both quantizers persisted inside it
    # (ensure_ivfpq_index: atomic publish, PartitionFilters probe —
    # plan-tested) — the warehouse form that is the 100 TB path,
    # strictly more machinery under the identical hash gate; the
    # per-call form stays full-suite verified
    # r13: ann_ivfpq_topk_indexed (green r9-r12) — superseded by
    # ann_ivfpq_refine_topk: the SAME materialized-index IVFPQ probe
    # PLUS the exact-rescore refine stage over the O(queries x pool)
    # candidate set — the two-stage serving shape deployed ANN systems
    # actually run (r11 queue leftover, two rounds old); the
    # unrefined probe stays full-suite verified over the same asset
    "ann_ivfpq_refine_topk",
    # r10 (VERDICT r9 #1 — the recall-monitor quartet): the four ANN
    # index-quality eval faces, each |approx_topk ∩ exact_topk|/k per
    # query under ONE shared recall-oracle template
    # (similarity.recall_oracle) — the numbers an operator watches
    # before turning the nprobe / codebook / hyperplane knobs. Slots:
    # ann_ivf_incremental_topk (green r8-r9; the frozen-quantizer
    # append contract keeps its driver row via stream_ivf_ingest_replay
    # below) -> ann_ivf_recall_at_k (cell-pruning loss; runs the
    # per-call IVF probe + the exact-cosine baseline);
    # bm25_query_topk_indexed (green r8-r9; the indexed-BM25 probe is
    # driver-gated via stream_bm25_ingest_replay below, whose probe IS
    # _probe_bm25_index over the same asset) -> ann_pq_recall_at_k
    # (quantization loss); dedup_containment_pairs (green r7-r9; its
    # pruned-postings machinery builds the CC asset
    # dedup_keep_best_per_cluster below still reads) ->
    # ann_ivfpq_recall_at_k (composed loss — what the deployed index
    # serves); doc_chunk_windows (green r7b-r9; scan-local slice
    # fan-out stays plan-tested + full-suite verified) ->
    # ann_lsh_recall_at_k (bucket-collision loss, completing the
    # quartet)
    # r11: the quartet (all four green r10) collapses to its composed
    # face — ann_ivfpq_recall_at_k measures the loss the deployed index
    # actually serves, and all four recall monitors share ONE oracle
    # template (similarity.recall_oracle) and the same
    # hash-gated-composition machinery, so one row anchors it; the
    # IVF/PQ/LSH-specific probes stay full-suite verified. The three
    # freed slots go to the r10 verdict's #6 queue:
    # bm25_query_topk — the SCAN-TIME BM25 (tf/df/length-norm computed
    # in one pass, no index asset), the form a user runs before any
    # index exists; last §2-adjacent text face with suite-only evidence
    # r12: bm25_query_topk (green r10-r11; the scan-form scoring math
    # is shadowed by bm25_incremental_index_topk's score-identical
    # indexed probe and stream_bm25_ingest_replay, all under the same
    # _BM25_ORACLE) gives its slot to the NEW temporal pillar's SCD2
    # face scd2_user_tier_history: gaps-and-islands run-length history
    # with half-open validity, built in ONE exchange + one sort (the
    # r8c same-round-pillar-rotation precedent)
    # r13: scd2_user_tier_history (green r12) — superseded by
    # scd2_tombstoned_history: the SAME gaps-and-islands version chain
    # PLUS delete-tombstone handling (a deletion closes the open
    # version without opening a new one — the CDC-feed reality the
    # plain face ignores); the plain form stays full-suite verified,
    # and the streamed form enters below (r12 wave)
    # r14: scd2_tombstoned_history (green r13; the deletes-aware SCD2
    # machinery stays driver-gated via stream_scd2_tombstoned_replay,
    # same oracle family) gives its slot to cdc_snapshot_diff — the
    # reconciliation diff between a CDC-reconstructed snapshot and the
    # source-of-truth table
    "cdc_snapshot_diff",
    # bm25_incremental_index_topk — the appending-corpus BM25: per-batch
    # postings segments merged at probe time under the frozen df/len
    # statistics contract (cost ∝ batch, the ingest-face policy)
    # r13: bm25_incremental_index_topk (green r12; the appending-probe
    # contract keeps its driver row via stream_bm25_ingest_replay
    # below, whose per-batch segments ride the same frozen-stats
    # merge) — superseded by bm25_compacted_index_topk: the
    # segment-COMPACTION lifecycle arm — many per-batch postings
    # segments merged into one, probe results invariant across the
    # compaction (the restart-compact-resume contract; r11 queue)
    # r14: bm25_compacted_index_topk (green r13; the compact-resume
    # lifecycle stays test-pinned and the indexed probe driver-gated
    # via the hybrid family) gives its slot to langid_confusion_matrix
    # — the n-gram language-ID confusion matrix against the fixture's
    # planted labels
    "langid_confusion_matrix",
    # r13: ann_ivfpq_recall_at_k (green r10-r12) — superseded by
    # ann_ivfpq_refine_recall_at_k: the recall of the REFINED
    # two-stage pipeline against the same exact-cosine truth under
    # the shared recall-oracle template — the loss the serving path
    # with refine actually ships; the unrefined composed-loss monitor
    # stays full-suite verified (r11 queue leftover)
    # r14: ann_ivfpq_refine_recall_at_k (green r13; the refine stage
    # and its recall gate stay driver-gated via ann_ivfpq_refine_topk)
    # gives its slot to pagerank_convergence_monitor — the iterative
    # pillar's health face (is the fixed iteration budget still
    # enough?), reading the same published ranks asset as the ranking
    # face under the unrolled-CTE residual oracle
    "pagerank_convergence_monitor",
    # dedup_clusters — min-id connected components over LSH candidate
    # pairs with its recursive-CTE oracle; keep-best (below) runs the
    # richer argmax selection, this gates the canonical min-id contract
    "dedup_clusters",
    # r8: doc_winnow_fingerprints (green r5-r7; the order-sensitive
    # winnowing signature rides the same tokenized scan as the
    # remaining dedup/text driver rows) gave its slot to max_by_amount
    # — whose last driver check was the r2 fixture-drift red (stale-red
    # retire, like project_account_amount_ts above)
    # r9: max_by_amount (green r8 — stale-red retire done; A7's
    # reduce-max-by machinery keeps its driver row via
    # stream_union_max_by_replay's two-reader union form) gave its
    # slot to mixture_apply_docs: the data-mixture materialization
    # (floor/floor+1 epoch copies per language under a salted
    # admission hash, the Knuth-gate family's richest face), named in
    # the r8 verdict's rotation queue
    "mixture_apply_docs",
    # r8c: dedup_ngram_jaccard_pruned (driver-green r2-r8 window; its
    # pruned-postings machinery runs VERBATIM inside
    # dedup_containment_pairs below and builds the CC asset
    # dedup_keep_best_per_cluster reads) gave its slot to
    # hybrid_rrf_topk — the retrieval stack composed: MoreLikeThis
    # BM25 arm + exact-cosine semantic arm fused by Reciprocal Rank
    # Fusion (rank-based, bit-exact; the MLT and hard-negative
    # siblings stay full-suite verified)
    # r9: hybrid_rrf_topk (driver-green r8) — superseded by
    # hybrid_rrf_topk_indexed: the SAME MLT arm and RRF fusion, but
    # the semantic arm swapped from the exact corpus-rescanning cosine
    # crossJoin onto the materialized IVFPQ probe (VERDICT r8 #4
    # verbatim), with the oracle re-derived over the approximate arm's
    # replay — strictly more machinery (index lifecycle + partition-
    # pruned probe + fusion) under a hash gate; the exact-arm form
    # stays full-suite verified
    "hybrid_rrf_topk_indexed",
    # r7: dedup_minhash_lsh — its machinery (hash-once minhash
    # signatures, band-bucket collision join, exact verify) runs
    # VERBATIM inside dedup_incremental_lsh (dedup.py:1022:
    # lsh_candidate_pairs(minhash_signatures(...))), which stays in the
    # window — gave its slot to dedup_containment_pairs, the
    # asymmetric-overlap near-dup family (|A∩B|/|A| over the same
    # pruned-postings machinery) that had suite-only evidence
    # r10: dedup_containment_pairs (green r7-r9) gave its slot to
    # ann_ivfpq_recall_at_k above (see the quartet note); the
    # pruned-postings machinery still builds the CC asset the
    # keep-best row below reads every round
    # r7b: dedup_clusters — keep-best runs the IDENTICAL pipeline
    # (dedup_ngram_jaccard_pruned pairs -> the same iterative
    # connected_components call) and then the richer quality-argmax
    # canonical selection where clusters keeps min-id (the trivial
    # special case); min-id clustering stays full-suite verified with
    # its recursive-CTE oracle
    "dedup_keep_best_per_cluster",
    # r8: doc_simhash (green r5-r7; scan-local signature family — the
    # dedup pillar keeps four driver rows: pruned-jaccard, containment,
    # keep-best, incremental-LSH) gave its slot to
    # tpch_q17_small_quantity_revenue: the correlated-AVG
    # decorrelation shape (VERDICT r7 #3 — first driver row for the
    # TPC-H subquery half beyond q21)
    # r9: tpch_q17_small_quantity_revenue (green r8; the correlated-AVG
    # decorrelation family keeps driver rows via q21/q22/q4 and the
    # q15 scalar-max below) gave its slot to tpch_q14_promo_effect:
    # the conditional-ratio-over-join shape (CASE-gated SUM / total
    # SUM in one aggregate), per the r8 verdict's queue (q5/q14 join
    # half)
    # r11: tpch_q14 (green r10) gives its slot to the r9 #3 re-gate
    # sql_tumble_sum_3s — the spark.sql() text face (identical plan +
    # oracle as tumble_sum_3s), re-gated per the displaced-green policy;
    # its emitted sum now carries the 6dp rounding convention
    # r13: sql_tumble_sum_3s (re-gate green r11-r12; the spark.sql()
    # text surface stays pinned by tests/test_oracle_parity + the
    # sqlapi suite, and WA1 tumbling holds driver rows via
    # tumble_approx_median_bounded above and
    # tumble_approx_distinct_users_bounded below) gives its slot to
    # heavy_hitters_mg_bounded: the Misra-Gries mergeable frequency
    # sketch under the bounded-oracle pattern — exact top-20 counts
    # hash-compared plus the sketch's undercount-band boolean the
    # oracle pins TRUE (r12 wave; the face the r12 verdict named THE
    # bounded heavy-hitters answer)
    # r14: heavy_hitters_mg_bounded (green r13) — superseded by its
    # streaming twin stream_mg_ingest_replay: the SAME bounded
    # Misra-Gries 200-counter merge but with documents arriving
    # through the ACTUAL engine; the batch form stays full-suite
    # verified under the identical error-bound oracle
    "stream_mg_ingest_replay",
    # §2 windows: WA1/WA2/WA8/WA9/WA3 + sessions. r4: tumble_mean_3s
    # (A2 — same incremental-agg machinery as tumble_sum_3s, still
    # full-suite verified) gave its slot to the streaming batch face:
    # stream_tumble_sum_1h_replay runs the ACTUAL streaming engine over
    # the deterministic replay and hash-compares against the batch SQL
    # oracle — the first driver row that goes red if watermark emission
    # breaks (VERDICT r3 next-round #4).
    # r5: tumble_sum_3s (A1/WA1) — the IDENTICAL query is driver-gated
    # through the SQL-text face sql_tumble_sum_3s (same plan, same
    # oracle), and tumbling machinery also runs in tumble_median_1h and
    # three streaming faces — gave its slot to window_heavy_hitters_1h,
    # the r4b windowed top-k family (WindowGroupLimit plan), previously
    # suite-only (its _approx sketch twin stays envelope-gated in tests)
    # r10: window_heavy_hitters_1h (green r5-r9; the WindowGroupLimit
    # rank-per-group machinery keeps driver rows via mlt_bm25_topk
    # and every ANN top-k row) gave its slot to tpch_q8_market_share:
    # the eight-table snowflake with a CASE-gated share-of-total per
    # year — the widest join in the TPC-H surface (VERDICT r9 #1
    # join half)
    # r11: tpch_q8 (green r10; the wide-snowflake share-ratio machinery
    # stays full-suite verified with its ratio now 6dp-rounded) gives
    # its slot to the r9 #3 re-gate kmeans_assign — the K=4 Lloyd
    # assignment (displaced r8b by semdedup_keep, whose incremental
    # face below keeps the Lloyd loop's richer driver row)
    # r13: kmeans_assign (re-gate green r11-r12; the K-assignment runs
    # verbatim inside every IVF/IVFPQ driver row's coarse quantizer)
    # gives its slot to pagerank_trade_network: the fixed-iteration
    # PageRank over the account trade graph — the repo's iterative-
    # compute machine (edges hash-partitioned ONCE and persisted,
    # per-iteration localCheckpoint lineage cap, content-keyed ranks
    # asset shared with the convergence monitor), unrolled-CTE oracle
    # (r12 wave — one of the two genuinely new iterative machines the
    # verdict named)
    # r14: pagerank_trade_network (green r13) — superseded by its
    # named twin stream_pagerank_ingest_replay: the SAME five-iteration
    # persisted-edges loop and unrolled-CTE oracle, but over edges
    # ingested through the ACTUAL engine (de-collected this round:
    # served lazily from a content-keyed rank asset, r13 verdict #2);
    # the batch form reads the same asset lifecycle, full-suite green
    "stream_pagerank_ingest_replay",
    # r7: stream_tumble_sum_1h_replay (W1/EP1 declarative streaming
    # tumbling) — the SAME windowed_agg_stream machinery and oracle is
    # driver-gated with strictly more surface by
    # stream_ooo_tumble_sum_1h_replay below (nonzero watermark +
    # genuinely late rows on top of the identical plan) — gave its slot
    # to the WA5/F1 record-buffer face: the reference's hand-rolled
    # ListState-buffer + event-time-timer tumbling window
    # (applyInPandasWithState port) hash-matched against the same batch
    # SQL — the last §2 family whose only evidence was a suite
    # differential
    # r9: stream_recordbuffer_tumble_sum_1h_replay (green r8) —
    # superseded by stream_recordbuffer_bounded_tumble_replay: WA4,
    # the reference's bounded-PriorityQueue buffer (capacity cap +
    # evict-earliest, TumblingWindowWithTest CustomTumblingWindow.java:
    # 112-118) — the ONE §2 row that never had a driver hash row
    # (VERDICT r8 gap #1). Same applyInPandasWithState machinery
    # (bucketed versioned JSON state, event-time-timeout flush, the
    # empty-Arrow no-data path) PLUS the cap/eviction semantics; the
    # WA5 watermark-emission rule stays driver-gated via
    # stream_count_or_time_replay (the same module's wm-close
    # emission) and full-suite verified
    # r12: stream_recordbuffer_bounded_tumble_replay (first-evidence
    # green r11; WA4's cap/eviction + versioned-state machinery stays
    # driver-gated via stream_count_or_time_replay's same-module
    # wm-close emission and full-suite verified) gives its slot to
    # events_zorder_slice: the z-order layout pillar's lifecycle-
    # invariance face (same rows from the base scan and the clustered
    # copy; the layout claims themselves are test_layout footer-stats
    # evidence — allowlist note retired with the rotation)
    "events_zorder_slice",
    # r5: slide_mean_50s_10s (EP2/WA2) — superseded in the window by
    # stream_slide_mean_50s_10s_replay: the SAME query and oracle
    # through the ACTUAL streaming engine (strictly more surface —
    # sliding state closure on top of the Expand assignment)
    # r8: stream_slide_mean_50s_10s_replay (green r5-r7) — superseded
    # by its OOO face: stream_ooo_slide_mean_50s_10s_replay is the
    # IDENTICAL job plus a nonzero watermark and ~200 genuinely
    # late-arriving rows (strictly more surface, same oracle; the W2
    # bounded-out-of-orderness contract on sliding state)
    # r12: stream_ooo_slide_mean_50s_10s_replay (first-evidence green
    # r11; W2's bounded-out-of-orderness contract keeps its driver row
    # via stream_ooo_session_sum_replay below, and the sliding-state
    # machinery via stream_paned_slide_sum_replay) gives its slot to
    # stream_ivf_health_replay: the IVF health triple (cell balance,
    # quantizer drift, assignment loss) computed OVER the stream-built
    # index — index-maintenance monitoring through the actual engine
    "stream_ivf_health_replay",
    # r8: global_slide_mean_5m_1m (WA9, green r3-r7; non-keyed
    # windowAll is the keyed sliding machinery minus the key) gave its
    # slot to slide_sum_5m_1m — WA8's last driver check was the r2
    # fixture-drift red (stale-red retire)
    # r9: slide_sum_5m_1m (green r8 — stale-red retire done; WA8's
    # built-in sliding machinery keeps TWO driver rows via
    # stream_ooo_slide_mean_50s_10s_replay and
    # stream_paned_slide_sum_replay) gave its slot to
    # dedup_passages_incremental: the appending-corpus passage dedup
    # (first-arrival-wins against the persisted span-hash index, cost
    # ∝ batch), from the r8 verdict's rotation queue
    # r10: dedup_passages_incremental (green r9) — superseded by
    # dedup_passages_keep_first: the SAME disjoint span-hash
    # machinery, but the corpus-wide keep-first policy plus document
    # REASSEMBLY from surviving passages (the C4/CCNet transform the
    # incremental face only indexes for); the append-∝-batch contract
    # keeps driver rows via the three streaming-ingest faces below
    # r13: dedup_passages_keep_first (green r10-r12; the disjoint
    # span-hash machinery keeps driver evidence via
    # doc_winnow_fingerprints below and the dedup ledger inside
    # stream_corpus_prep_replay) gives its slot to
    # dsir_importance_sample: the DSIR importance resampler — O(V)
    # broadcast likelihood-ratio map scored scan-locally, hash-gated
    # acceptance (the oldest r11-queue leftover, two rounds overdue)
    # r14: dsir_importance_sample (green r13; the quality-signal scan
    # it shares with the eval faces stays driver-gated via
    # curriculum_quality_buckets) gives its slot to
    # score_auc_quality_vs_en — tie-exact AUC of the quality score as
    # an is-English classifier (rank-sum form, integer-exact)
    "score_auc_quality_vs_en",
    # r8: slide_sum_50s_10s_paned (WA3/A8/A9 pane partials, green
    # r3-r7) — superseded by stream_paned_slide_sum_replay: the SAME
    # pane-slicing rewrite run as a CHAINED stateful streaming job
    # (pane partial agg -> pane-to-window stateful combine) under the
    # same hash gate — the r7-new face VERDICT r7 #1 asked to rotate in
    "stream_paned_slide_sum_replay",
    # r8: session_sum_user_6h (green r4-r7) — superseded by
    # stream_ooo_session_sum_replay: merging-session state through the
    # ACTUAL streaming engine with late rows under the same oracle
    # (strictly more surface: watermark-admitted disorder on top of
    # session merge semantics)
    "stream_ooo_session_sum_replay",
    # §2 projections / filters / alerts / union / max-by. For each
    # thresholded operator the window carries the CALIBRATED variant
    # (fixture amounts cap near 200, so the reference's literal
    # thresholds — amount>1000, window-sum>10000 — yield 0 rows at
    # sf0.01 and a 0-row hash match is trivially-passing evidence;
    # the literal-threshold forms sit past the window, still covered
    # by tests/test_oracle_parity.py every round). r4:
    # project_account_amount (P1 — a pure projection, exercised inside
    # every other driver row's plan) gave its slot to the pivot/unpivot
    # reshaping family, previously suite-only.
    # r9: pivot_user_event_type (green r4-r8; the pivot/unpivot
    # reshape stays full-suite verified — five rounds of green driver
    # evidence is the deepest in the window) gave its slot to
    # stream_bm25_ingest_replay: streaming corpus ingestion
    # maintaining the BM25 index through foreachBatch segment appends,
    # probe == full-corpus oracle — the index-maintenance-under-
    # ingestion contract no batch row can gate (VERDICT r8 #3)
    "stream_bm25_ingest_replay",
    # r4b: filter_amount_gt_100 (P7 — a pushdown filter, exercised
    # inside every detector row's plan and still plan-tested +
    # full-suite verified) gave its slot to the W2 streaming face:
    # stream_ooo_tumble_sum_1h_replay replays with ~200 genuinely
    # late-arriving rows under withWatermark(6h) and must hash-match
    # plain batch SQL — bounded-out-of-orderness admission is now
    # driver-gated, not just suite-tested.
    # r10: stream_ooo_tumble_sum_1h_replay (green r4b-r9, the
    # deepest streaming tenure; W2 OOO admission keeps TWO driver
    # rows via stream_ooo_slide_mean_50s_10s_replay and
    # stream_ooo_session_sum_replay, streaming tumbling keeps rows
    # via the recordbuffer + dedup faces) gave its slot to
    # stream_ts_pattern_alerts_replay: the time-series subsequence
    # alert face — per-account rolling z-norm distance maintained in
    # applyInPandasWithState buffers, hash-gated by the batch
    # sliding-scalar oracle (VERDICT r9 #4)
    "stream_ts_pattern_alerts_replay",
    # r8: alert_user_daily_sum_gt_300 (P6/F2, green r3-r7; the daily
    # keyed sum + threshold gate) gave its slot to
    # stream_continuous_rollup_replay — the same daily keyed sums
    # maintained CONTINUOUSLY in update mode through an idempotent
    # foreachBatch MERGE sink (the only update-mode + custom-sink face;
    # VERDICT r7 #1 named it explicitly); the threshold-gate machinery
    # keeps driver rows via dynamic_rules_alerts
    "stream_continuous_rollup_replay",
    # r8: union_max_by (M1+A7, green r3-r7) — superseded by
    # stream_union_max_by_replay: the SAME union + reduce-max-by under
    # the same oracle through the streaming engine with TWO readers and
    # multi-source watermark coordination (min-of-sources semantics —
    # surface no batch row can exercise)
    "stream_union_max_by_replay",
    # §2 contract operators T3 / F5 / F3. r8: count_or_time_user_1d_3
    # (T3 batch form, green r3-r7) — superseded by
    # stream_count_or_time_replay: the reference's most distinctive
    # trigger (count-or-time EARLY FIRE mid-window, reference
    # InorderTumblingWindow/CustomTrigger.java:34-78) actually FIRING
    # early segments from the streaming engine under the same hash gate
    "stream_count_or_time_replay",
    # r5: running_sum_alerts_gt_500 (F5 batch fold) — superseded by
    # stream_running_sum_alerts_replay: the SAME recursive-CTE oracle
    # satisfied by the applyInPandasWithState stream (bit-identical
    # fold order), putting the custom-stateful streaming path under the
    # hash gate for the first time
    # r8: stream_running_sum_alerts_replay (green r5-r7) gave the F5/F3
    # family's slot to its sibling stream_running_mean_alerts_replay —
    # the F3 reset-on-alert RUNNING MEAN through the same
    # applyInPandasWithState machinery, bit-exact vs its own
    # recursive-CTE oracle, never driver-gated before (VERDICT r7 #1)
    # r12: stream_running_mean_alerts_replay (first-evidence green r11;
    # F3's reset-on-alert fold machinery is the same
    # applyInPandasWithState path as stream_running_sum_alerts_replay's
    # — both bit-exact vs recursive-CTE oracles — and the detector
    # family keeps driver rows via stream_ts_pattern_alerts_replay and
    # stream_pattern_rising_replay) gives its slot to
    # events_zorder_slice_incremental: the appended-segment variant —
    # the hash certifies base+appends == base-scan rows, pinning the
    # append lifecycle's exactly-once placement
    # r13: events_zorder_slice_incremental (green r12) — superseded by
    # stream_zorder_ingest_replay: the SAME frozen-bounds placement
    # contract with appends arriving through the ACTUAL streaming
    # engine (foreachBatch segment placement, slice oracle unchanged)
    # — strictly more surface; the batch incremental form stays
    # full-suite verified under the identical oracle (r11 queue)
    "stream_zorder_ingest_replay",
    # r7: running_mean_alerts_gt_90 (F3 batch) — its machinery is the
    # shared `sorted_account_fold` (driver-gated below via
    # ewma_amount_per_account, which calls the identical helper) plus
    # the reset-on-alert threshold logic (driver-gated above via
    # stream_running_sum_alerts_replay's bit-exact recursive-CTE
    # oracle); the mean variant stays full-suite oracle-verified and
    # differential-tested against its streaming twin — gave its slot
    # to ewma_amount_per_account, the adaptive-baseline smoother with
    # a bit-exact recursive-CTE oracle that had suite-only evidence
    # r8: ewma_amount_per_account (green r7) — superseded by its
    # bit-exact streaming twin stream_ewma_replay: the same
    # order-sensitive recursive fold (state = last EWMA per account)
    # surviving micro-batch boundaries under the identical
    # recursive-CTE oracle — strictly more surface than the batch fold
    # r10: stream_ewma_replay (green r8-r9; the order-sensitive
    # recursive-fold-across-micro-batches machinery keeps its driver
    # row via stream_running_mean_alerts_replay above) gave its slot
    # to hybrid_overlap_at_k: the fused-ranking drift monitor
    # (overlap@k between the exact-arm and indexed-arm hybrids — the
    # acceptance gate for swapping the semantic arm onto the IVFPQ
    # probe), with the double-MLT-scan cost overhang fixed this round
    # (the lexical arm is computed once and shared; VERDICT r9 #2)
    # r12: hybrid_overlap_at_k (green r10-r11; the fused-ranking drift
    # gate keeps strictly richer driver coverage via hybrid_ndcg_at_k's
    # graded refinement staying registered under the same shared-arm
    # machinery, and the retrieval family holds three other window
    # rows) gives its slot to dedup_simhash_band_recall: the
    # banding-recall monitor over the simhash signatures — what
    # fraction of true near-dup pairs the band partitioning actually
    # surfaces, the dedup pillar's quality gate (r11 queue)
    "dedup_simhash_band_recall",
    # r5 rotations into the detector/analytics block: zscore_alerts_3sigma
    # (r4b; per-account sort-window fold with a 6dp membership gate +
    # Welford streaming twin) takes moving_avg_5_events' slot — the same
    # row-frame window machinery, richer semantics; moving_avg stays
    # full-suite verified. cohort_retention_daily (r4b; (user, day)
    # pre-aggregated self-join retention grid) takes
    # doc_repetition_signals' slot — those sorted-run signals are
    # recombined verbatim inside gopher_quality_filter, which stays.
    # r8: zscore_alerts_3sigma (green r5-r7; per-key sort-window fold —
    # the stateful-fold machinery keeps driver rows via the
    # stream_ewma/running-mean faces) gave its slot to tumble_sum_5m —
    # WA7's last driver check was the r2 fixture-drift red (the last of
    # the five stale-red retires this round)
    # r9: tumble_sum_5m (green r8 — stale-red retire done; WA7's
    # built-in tumbling machinery keeps driver rows via
    # tumble_median_1h and the three streaming tumbling faces) gave
    # its slot to curriculum_quality_buckets: the curriculum-ordering
    # face (quality-bucketed deterministic ordering keys over the
    # shared Gopher signals), from the r8 verdict's rotation queue
    "curriculum_quality_buckets",
    # r8: cohort_retention_daily (green r5-r7; (user, day) self-join
    # retention grid) gave its slot to
    # tpch_q13_customer_order_distribution — the left-OUTER-join
    # histogram shape (count-of-counts over an outer join; the same
    # join-then-histogram machinery family), first driver row (r7 #3)
    # r9: tpch_q13_customer_order_distribution (green r8; the outer-
    # join histogram held its driver row, machinery family shared with
    # q22's anti-join gate) gave its slot to
    # tpch_q5_local_supplier_volume: the six-table snowflake join with
    # a same-nation equality gate — the widest join shape in the TPC-H
    # surface, per the r8 verdict's queue (q5/q14 join half)
    # r11: tpch_q5 (green r10 — though the r11 exact-compare sweep
    # caught its raw revenue double as ULP-unstable, now rounded) gives
    # its slot to the r9 #3 re-gate pivot_user_event_type — the
    # pivot/unpivot reshape family (five prior rounds of green driver
    # evidence, displaced r9)
    # r13: pivot_user_event_type (re-gate green r4-r8 + r11-r12 —
    # seven rounds of cumulative driver evidence; the pivot/unpivot
    # reshape stays full-suite verified) gives its slot to
    # zorder_balance_monitor: the layout-health face (per-bucket row
    # share vs the uniform ideal + the hot-bucket trigger) whose
    # recommendation now has a real operation behind it — the r13
    # bounds-refresh arm (layout.py refresh_zorder_layout) the r11/r12
    # verdicts asked for (r11 queue)
    # r14: zorder_balance_monitor (green r13; its hot-trigger
    # machinery runs VERBATIM inside the refresh lifecycle below —
    # the build asserts the trigger fired) gives its slot to
    # events_zorder_slice_refreshed: the slice served AFTER the full
    # stale-bounds -> hot-trigger -> bounds-refresh OPTIMIZE, under
    # the IDENTICAL oracle as driver-green events_zorder_slice
    "events_zorder_slice_refreshed",
    # round-2 detector additions (CEP rising pattern, broadcast dynamic
    # rules) — rotated INTO the window round 3 so every new operator
    # family has driver evidence (VERDICT r2 "Next round" #5); the
    # parameter variants they displaced (tumble_sum_5m, slide_sum_5m_1m,
    # project_account_amount_ts, max_by_amount, tpch_q6) stay registered
    # and full-suite oracle-verified past the window
    # r4b: pattern_rising_3 (lag-window MATCH_RECOGNIZE shape, still
    # full-suite verified) gave its CEP slot to the richer sequence
    # pattern: the ordered funnel's sorted-array fold
    # r8: funnel_view_click_purchase (green r4b-r7) gave the CEP slot
    # to stream_pattern_rising_replay: the reference's rising-pattern
    # detector (3 strictly increasing amounts per account) as a
    # STREAMING stateful carry-across-batches job under the lag-window
    # oracle — CEP state surviving micro-batch boundaries is surface
    # the batch fold cannot exercise; the funnel fold stays full-suite
    # verified
    "stream_pattern_rising_replay",
    # r12: dynamic_rules_alerts (first-evidence green r11; the
    # broadcast rule-table join gate recurs inside the driver-gated
    # stream faces' threshold gates, and the detector family keeps two
    # streaming driver rows) gives its slot to ann_ivf_balance_monitor:
    # the IVF cell-balance report (rows per cell vs the uniform ideal)
    # — the partition-skew health check for the ANN index (r11 queue)
    "ann_ivf_balance_monitor",
    # flagship extension composition (quality -> dedup -> report)
    # r9b: corpus_prep_pipeline (green r2-r8) — superseded by
    # stream_corpus_prep_replay: the IDENTICAL quality gate
    # (pipeline.quality_gated_docs, called verbatim per micro-batch)
    # and per-language report under the SAME oracle, but the dedup
    # maintained INCREMENTALLY through streaming document ingestion
    # (per-batch fp-aggregate ledger segments, min-of-mins merge,
    # retry-idempotent per-batch-id paths) — strictly more machinery:
    # the batch plan's semantics plus the ingestion contract the
    # BM25/IVF ingest faces gate for the index pillars; the one-plan
    # batch form stays full-suite verified
    "stream_corpus_prep_replay",
    # multimodal pillar (r4: multimodal_metadata — schema/typed-metadata
    # read, a strict subset of the features query's plan, still
    # full-suite verified — gave its slot to frame sampling, the one
    # multimodal stage that had no driver row)
    "multimodal_frame_sample",
    # r8: multimodal_features (driver-green r6/r7; its Arrow-batched
    # mapInPandas machinery stays driver-gated via frame_sample above,
    # and the full feature column set stays suite-verified) gives its
    # slot to the LEFT-OUTER stream-stream interval join — the
    # watermark-forced-null eviction semantics no other face exercises
    "stream_interval_join_left_replay",
    # r3: multimodal_feature_agg (features + a groupBy; the pillar keeps
    # two driver slots) gave its slot to the decontamination capability.
    # r4: the bloom-prefilter variant takes the decontamination slot —
    # it exercises strictly more (bitset build + scan-side probe + the
    # SAME exact-verify join and oracle); the plain form stays
    # full-suite verified.
    # r10: decontaminate_bloom_prefilter (green r4-r9; the bitset
    # build + scan-side probe + exact-verify join stay full-suite
    # verified and plan-tested) gave its slot to
    # tpch_q16_supplier_part_counts: the NOT-IN anti-join +
    # count-distinct-suppliers histogram (derived-partsupp half)
    # r11: tpch_q16 (green r10; the NOT-IN anti-join machinery recurs
    # in q11's semi-join gate, staying below) gives its slot to the
    # r9 #3 re-gate split_train_val_test — the independent-Knuth-hash
    # deterministic splitter (green r4b-r8, displaced r9)
    # r13: split_train_val_test (re-gate green r4b-r8 + r11-r12; the
    # independent-Knuth-hash gate keeps driver rows via
    # mixture_apply_docs, source_cap_docs and export_mixture_shards)
    # gives its slot to logreg_train_next7_purchase: in-engine
    # logistic-regression training over point-in-time features — an
    # epoch is ONE map-side-combined gradient reduce with weights as
    # driver scalars, the distributed-GD shape; weight-carrying CTE
    # oracle (r12 wave — the second of the two new iterative machines)
    # r14: logreg_train_next7_purchase (green r13; the gradient-reduce
    # trainer consumes the face below as its input contract) gives its
    # slot to feature_label_matrix_daily — the point-in-time-correct
    # daily feature/label training table (no-leakage windows)
    "feature_label_matrix_daily",
    # ANN / similarity pillar (r5: ann_cosine_topk — the deliberate
    # exact-quadratic baseline — rotated out; its zip_with dot-product
    # scoring + broadcast + window-rank machinery runs verbatim inside
    # ann_ivf_topk's rerank step, and the suite envelope-gates the
    # LSH/IVF/BLAS paths against it every round)
    # r9: ann_lsh_buckets (green r5-r8; sign-LSH bucketing stays
    # full-suite verified, and the ANN pillar keeps three driver rows:
    # ivf_incremental, ivfpq_indexed, the hybrid's indexed probe) gave
    # its slot to hard_negatives_topk: DPR-style hard-negative mining
    # (BM25-close, embedding-distant anti-join of the two arms), from
    # the r8 verdict's rotation queue
    # r13: hard_negatives_topk (green r9-r12; the BM25-close /
    # embedding-distant anti-join rides the same shared indexed-MLT
    # arm as the remaining retrieval rows) gives its slot to
    # hybrid_ndcg_at_k: the graded ranking-quality gate — nDCG@k of
    # the indexed hybrid against exact-arm relevance with the
    # per-gold-length IDCG normalization the r11 advice fixed (r11
    # queue leftover, two rounds old)
    # r14: hybrid_ndcg_at_k (green r13; same content-keyed eval-frames
    # asset) gives its slot to hybrid_mrr_at_k — time-to-first-relevant
    # over the identical fused rank frames, completing the retrieval
    # eval family's driver evidence
    "hybrid_mrr_at_k",
    # r7: ann_ivf_topk (per-call coarse-quantize + probe + rerank) —
    # superseded in the window by ann_ivf_topk_indexed: the SAME
    # centroids, probe set, rerank machinery and oracle, but against
    # the MATERIALIZED cell-partitioned index (ensure_ivf_index:
    # build-once, atomic publish, partition-pruned probe) — the
    # warehouse-asset form that is the 100 TB path; the per-call form
    # stays full-suite verified with the identical oracle.
    # r8: ann_ivf_topk_indexed (driver-green r7) hands the slot to the
    # APPENDING-corpus form: the same materialized index + pruned
    # probe + oracle, PLUS the frozen-quantizer append path (batch
    # assigned under the persisted centroids, duplicate-id guard) —
    # strictly more machinery under the same hash gate
    # r10: ann_ivf_incremental_topk -> ann_ivf_recall_at_k (see the
    # quartet note above)
    # r5: embed_neardup_pairs — the other deliberate-weak exact
    # baseline — rotated out like ann_cosine_topk above (both stay
    # suite-verified every round as the envelopes the approximate
    # paths are gated against); its slot goes to dedup_incremental_lsh,
    # the appending-corpus dedup form (cost ∝ batch, never corpus)
    # whose only evidence was suite-level
    # r10: dedup_incremental_lsh (green r5-r9; minhash signatures +
    # band-bucket join + append contract stay full-suite verified,
    # and the incremental-asset lifecycle keeps four driver rows via
    # the ingest faces + semdedup_incremental_keep) gave its slot to
    # tpch_q11_important_stock: the group-by-over-partsupp with a
    # global scalar-subquery HAVING gate (derived-partsupp half)
    # r13: tpch_q11_important_stock (green r10-r12; all 22 TPC-H
    # shapes hold cumulative driver evidence since r10 and the
    # scalar-subquery HAVING gate machinery stays full-suite verified)
    # gives its slot to temporal_join_purchase_status: facts joined to
    # the SCD2 dimension version VALID AT each fact's event time — the
    # point-in-time-correct enrichment (the as-of version pick that
    # also strictly contains cdc_snapshot_asof's time-travel pick,
    # whose slot rotates below); r12 temporal wave
    # r14: temporal_join_purchase_status (green r13) — superseded by
    # its streaming twin stream_temporal_join_replay: the SAME
    # event-time temporal join but with BOTH sides arriving live
    # through the engine; the batch form stays full-suite verified
    "stream_temporal_join_replay",
    # r4b: label_centroid_components (posexplode+avg centroid — its
    # machinery runs verbatim inside kmeans' recompute step, still
    # full-suite verified) gave its slot to kmeans_assign, the Lloyd
    # clustering/IVF-training stage with a full DuckDB replay oracle
    # r8b: kmeans_assign (driver-green r4b-r7) — superseded by
    # semdedup_keep: the IDENTICAL Lloyd loop (_kmeans_assign /
    # _kmeans_recompute, K=16) plus the SemDeDup cluster-scoped
    # near-dup search and keep-most-diverse policy on top, under a
    # full DuckDB replay oracle — strictly more machinery; the K=4
    # assignment form stays full-suite verified
    # r10: semdedup_keep (green r8b-r9) — superseded by
    # semdedup_incremental_keep: the IDENTICAL Lloyd loop,
    # cluster-scoped pair search and keep-most-diverse policy, PLUS
    # the appending-corpus path (batch assigned under the FROZEN
    # persisted quantizer, partition-pruned touched-cell pairing,
    # losers union) — strictly more machinery under the same replay
    # oracle; the one-shot form stays full-suite verified
    # r13: semdedup_incremental_keep (green r10-r12; the frozen-
    # quantizer cluster-scoped SemDeDup machinery keeps its driver row
    # via stream_semdedup_ingest_replay below, same replay oracle)
    # gives its slot to stream_scd2_replay: streamed SCD2 through the
    # ACTUAL engine — open versions held in keyed state, event-time-
    # timeout flush driven by the sentinel-advanced watermark, O(1)
    # open version per key — under the identical batch gaps-and-
    # islands oracle (r12 temporal wave)
    # r14: stream_scd2_replay (green r13; its streamed-SCD2 machinery
    # keeps a driver row via the strictly-more deletes-aware face
    # below, same state shape) gives its slot to the r14 queue's
    # stream_scd2_tombstoned_replay — streamed SCD2 WITH tombstones
    # across a checkpoint restart
    "stream_scd2_tombstoned_replay",
    # text-analysis pillar (r4: doc_langid — n-gram heuristic over the
    # same tokenized scan as doc_quality_score, still full-suite
    # verified — gave its slot to doc_pii_flags, previously suite-only)
    # r4b: doc_token_stats (whitespace token counting — its counts are
    # recomputed inside quality/gopher/tfidf rows, still full-suite
    # verified) gave its slot to doc_unigram_logprob, the model-based
    # quality score (broadcast top-V unigram LM, scan-local scoring)
    # r9: doc_unigram_logprob (green r4b-r8; the broadcast-LM scoring
    # stays full-suite verified; the text pillar keeps gopher +
    # bm25-indexed + chunk-windows driver rows) gave its slot to
    # stream_ivf_ingest_replay: the embedding twin of the BM25
    # ingestion face — quantizer bootstrapped from the first arrival,
    # later batches appended under the frozen centroids (VERDICT r8 #3)
    "stream_ivf_ingest_replay",
    # r8: span_dup_stats (green r5-r7; sorted-run duplicated-passage
    # signal over the same tokenized scan as the remaining text rows)
    # gave its slot to tpch_q22_dormant_high_balance — the
    # scalar-subquery (global AVG gate) + NOT EXISTS anti-join shape,
    # first driver row (r7 #3)
    # r10: tpch_q22_dormant_high_balance (green r8-r9; the
    # scalar-subquery + NOT-EXISTS anti-join machinery recurs in the
    # incoming q2/q16/q20 partsupp trio) gave its slot to
    # tpch_q2_min_cost_supplier: the correlated-MIN-over-partsupp
    # decorrelation (derived-partsupp half)
    # r11: tpch_q2 (green r10) gives its slot to the r9 #3 re-gate
    # corpus_prep_pipeline — the BATCH face of the flagship prep
    # composition (green r2-r8, displaced r9b by its streaming twin
    # which stays below; avg_quality now 6dp-rounded on both sides
    # per the r11 exact-compare sweep)
    # r13: corpus_prep_pipeline (re-gate green r2-r8 + r11-r12; the
    # flagship prep composition keeps its driver row via
    # stream_corpus_prep_replay below — the identical quality gate and
    # report under the same oracle) gives its slot to
    # stream_cdc_upsert_replay: the CDC changelog consumed through the
    # ACTUAL engine into a latest-op-wins upsert snapshot (keyed state
    # = one current row per key, tombstones delete), hash-matched
    # against the batch compaction oracle (r12 temporal wave)
    "stream_cdc_upsert_replay",
    # r4b: doc_quality_score (length/punct/stopword ratios — the same
    # signals recombined by the gopher cascade row below, still
    # full-suite verified) gave its slot to span_dup_stats, the Lee
    # et al. duplicated-passage signal, previously unregistered
    # (r8: span_dup_stats' slot went to tpch_q22 above)
    # r9: doc_pii_flags (green r4-r8; the PII regex flags + redaction
    # transform stay full-suite verified — five rounds of green driver
    # evidence) gave its slot to tpch_q15_top_supplier: the
    # scalar-subquery-on-aggregate shape (revenue view + global MAX
    # gate), per the r8 verdict's queue (q12/q15 subquery half)
    # r11: tpch_q15 (green r10; its rounded-before-both-uses revenue
    # CTE is now the repo-wide emitted-float convention) gives its
    # slot to stream_semdedup_ingest_replay — streaming SemDeDup
    # ingestion (bootstrap via the content-keyed base asset, appends
    # scored under the frozen quantizer, verdict == the one-shot
    # replay oracle), r10-new and pre-validated, completing the
    # incremental-ingest quartet's driver coverage (VERDICT r10 #3)
    "stream_semdedup_ingest_replay",
    # r3: corpus_token_freq_top50 (raw-frequency ranking; tfidf is the
    # strictly richer weighting of the same shape) gave its slot to
    # tfidf_top_terms
    # r8: tfidf_top_terms (green r3-r7) — superseded by
    # bm25_query_topk_indexed: the strictly richer weighting of the
    # same tf/df statistics (plus document-length normalization)
    # probed against the MATERIALIZED term-bucket-partitioned inverted
    # index on the shared atomic-publish lifecycle, partition-pruned at
    # planning time (VERDICT r7 #2 named this exact pick); the
    # scan-time and incremental BM25 forms stay full-suite verified
    # under the identical oracle
    # r10: bm25_query_topk_indexed -> ann_pq_recall_at_k (see the
    # quartet note; the indexed probe stays driver-gated through
    # stream_bm25_ingest_replay, whose probe IS _probe_bm25_index)
    # round-2 text additions: the composed Gopher-style quality gate
    # stays; its doc_repetition_signals input rotated out in r5 (see
    # the cohort_retention_daily note above). split_train_val_test
    # (r4b; independent-hash deterministic splitting, the
    # sampling-family capability with suite-only evidence) takes the
    # freed slot.
    # r10: gopher_quality_filter (green r2-r9, the deepest text
    # tenure; the Gopher signal cascade stays driver-gated via
    # curriculum_quality_buckets and runs verbatim inside
    # stream_corpus_prep_replay's per-batch quality gate) gave its
    # slot to tpch_q20_excess_stock_suppliers: the nested semi-join
    # chain over half-of-sum-qty partsupp thresholds (the last
    # never-gated TPC-H shape — with this the full 22-query surface
    # holds cumulative driver evidence)
    # r11: tpch_q20 (green r10 — the goal it was rotated in for, full
    # 22-shape cumulative coverage, is banked) gives its slot to
    # stream_ivfpq_ingest_replay — streaming ingestion of the
    # COMPRESSED-domain index (bootstrap via the content-keyed base
    # asset, later batches coarse-assigned AND PQ-encoded under the
    # frozen quantizers, probe == the monolithic oracle), r10-new and
    # pre-validated (VERDICT r10 #3)
    "stream_ivfpq_ingest_replay",
    # r9: split_train_val_test (green r4b-r8; the independent-hash
    # split gate) hands the sampling family's slot BACK to
    # temperature_resample_docs — the r8c displacement the verdict
    # asked to re-gate: the same overflow-free Knuth-hash gate plus
    # per-language thresholds DERIVED from a broadcast count aggregate
    # (strictly more machinery over the identical scan-local gate);
    # the plain split form stays full-suite verified, and the family
    # keeps three driver rows (temperature, mixture, curriculum)
    # r10: temperature_resample_docs (re-gated green r9 per the r8
    # verdict; the Knuth-hash admission gate keeps driver rows via
    # mixture_apply_docs + curriculum_quality_buckets) gave its slot
    # to source_cap_docs: the reference TransactionStreamSource's
    # per-key emission cap generalized to corpus sources — per-source
    # deterministic doc capping as a scan-local rank gate (VERDICT
    # r9 #4, the last pillar face with suite-only evidence)
    "source_cap_docs",
    # time-series pillar (r4: event_deltas — lag-window arithmetic, the
    # same row-frame machinery as moving_avg, still full-suite verified
    # — gave its slot to the streaming at-least-once dedup row, so the
    # dedup-under-redelivery contract is hash-gated by the driver)
    # r5: moving_avg_5_events rotated out (see zscore note above);
    # resample_daily_gapfill keeps the time-series family's driver row
    "stream_dedup_tumble_sum_1h_replay",
    # r10: resample_daily_gapfill (green r5-r9; the calendar-spine
    # gapfill stays full-suite verified) hands the time-series
    # family's batch slot to ts_znorm_pattern_topk: z-normalized
    # subsequence search over rounded sliding-sum scalars (the UCR
    # matrix-profile shape, distance on aggregates not raw rows),
    # whose streaming twin also enters the window this round
    # r13: ts_znorm_pattern_topk (green r10-r12; the z-normalized
    # subsequence distance keeps its driver row via
    # stream_ts_pattern_alerts_replay above — the same rolling z-norm
    # maintained in streaming state) gives its slot to
    # session_capped_user: the capped sessionization fold — session
    # assignment where a session also closes after K events, the
    # restart-point recurrence gaps-and-islands cannot express,
    # bucketed sequential Arrow fold with O(1)/key state (r12 wave;
    # its fold-body throughput is now quantified in SCALE.md per the
    # r12 verdict #6)
    # r14: session_capped_user (green r13; time-capped training
    # hygiene) gives its slot to backtest_expanding_folds — the
    # expanding-window backtest folds, the other leakage-proof
    # train/eval split shape
    "backtest_expanding_folds",
    # relational / TPC-H pillar
    # r10 TPC-H join-half rotation (VERDICT r9 #1): q1 (green r1-r9,
    # the longest-tenured row in the window; its scan-agg machinery
    # runs inside every remaining TPC-H row) -> q7_volume_shipping
    # (the two-nation cross-filtered supplier/customer join); q3
    # (green r1-r9) -> q10_returned_items (the flag-filtered
    # customer-revenue join); q21 (green r2-r9) ->
    # q18_large_volume_customer (the HAVING-on-aggregate IN-subquery
    # semi-join); q4 (green r8-r9; decorrelated-EXISTS keeps shape
    # coverage via q18/q20) -> q19_bracketed_revenue (the
    # disjunctive multi-bracket predicate join)
    # r11: tpch_q7 and tpch_q10 (both green r10; the two-region
    # cross-filter and flag-filtered revenue-join machinery stay
    # full-suite verified with revenues now 6dp-rounded) give their
    # slots to the shard-export pair (VERDICT r10 #3):
    # export_shard_manifest — deterministic shard assignment
    # (scan-local hash, docs never move between shards as the corpus
    # grows) + per-shard manifest rollup
    # r12: export_shard_manifest (green r10-r11; the export family
    # keeps its driver row via export_mixture_shards below — the
    # strictly richer composition over the same shard-hash machinery)
    # gives its slot to the temporal pillar's time-travel face
    # cdc_snapshot_asof: changelog compaction AS OF a cutoff — the
    # latest-op-wins WindowGroupLimit plan plus the pushed snapshot
    # predicate; its gate also certifies the cdc machinery that
    # cdc_upsert_snapshot and the streaming twin share
    # r13: cdc_snapshot_asof (green r12; the latest-op-wins time-travel
    # pick is strictly contained in temporal_join_purchase_status's
    # per-fact version pick entering above, and the cdc compaction
    # machinery gains the streamed driver row stream_cdc_upsert_replay)
    # gives its slot to value_quantiles_by_type_bounded: the
    # hash-gateable face of the GK-quantile sketch path (exact p50/p95
    # hash-compared + an in-brackets boolean the oracle pins TRUE) —
    # closing the r11 #5 / r12 #4 approx-rationale item for the
    # quantiles row
    # r14: value_quantiles_by_type_bounded (green r13; the bounded
    # GK-quantile gate machinery) gives its slot to
    # stream_tumble_median_1h_replay — the streamed holistic median
    # (DESIGN.md's never-implemented window aggregate) through the
    # engine
    "stream_tumble_median_1h_replay",
    # export_mixture_shards — the mixture materialization composed
    # with shard export: epoch-replicated admission feeding the same
    # stable shard assignment, one shard-keyed exchange
    "export_mixture_shards",
    # Q21 represents the round-2 subquery-decorrelation half (EXISTS +
    # NOT EXISTS over a self-joined fact)
    # r4: top10_orders (order-by-limit, the simplest relational shape,
    # still full-suite verified) gave its slot back so the window stays
    # at exactly 50 after the streaming-face addition
    # r11: tpch_q18 (green r10; the aggregate-then-semi-join machinery
    # recurs in q11's gate and q19 stays as the TPC-H join row) gives
    # its slot to doc_winnow_fingerprints — the order-sensitive
    # winnowing signature family (green r5-r7, displaced r8, the last
    # dedup face from the verdict's #6 queue)
    "doc_winnow_fingerprints",
    # r8: revenue_by_nation (green r1-r7; plain multi-join agg — the
    # same machinery runs inside the remaining tpch_q1/q3/q21 rows)
    # gave its slot to tpch_q4_order_priority: the decorrelated-EXISTS
    # semi-join histogram, first driver row (VERDICT r7 #3)
    # r11: q19 keeps the TPC-H pillar's second driver row (with q11):
    # its disjunctive-bracket revenue is the newest join shape and its
    # emitted sum carries the fresh rounding convention
    # r12: tpch_q19 (green r10-r11; the q11/q19 hold lifted once q11's
    # fix showed its green driver row — q11 stays as the TPC-H pillar's
    # representative with the sole subquery tag) gives its slot to
    # ann_ivf_drift_monitor: the quantizer-drift report (centroid
    # displacement vs the frozen training assignment) completing the
    # IVF health triple's batch faces in the window (r11 queue)
    # r13: ann_ivf_drift_monitor (green r12; the IVF health triple
    # keeps driver rows via ann_ivf_balance_monitor and
    # stream_ivf_health_replay, which computes the same drift report
    # over the stream-built index) — superseded by
    # ann_pq_drift_monitor: the sibling drift report over the PQ
    # CODEBOOK (per-subspace centroid displacement vs the frozen
    # training residuals — the signal that says re-train the codes,
    # not just the cells); r11 queue leftover
    # r14: ann_pq_drift_monitor (green r13; the codebook-drift frame
    # machinery shares the PQ asset with driver-gated IVFPQ faces)
    # gives its slot to bpe_merge_candidates — the BPE-style pair-merge
    # candidate scan over the token stream
    "bpe_merge_candidates",
    # r8: top3_orders_per_segment (green r1-r7; rank-per-group — the
    # WindowGroupLimit machinery keeps its driver row via
    # window_heavy_hitters_1h) gave its slot to
    # approx_distinct_users_bounded: the hash-GATEABLE face of the HLL
    # sketch path (exact distinct hash-compared + a within-5% bound
    # the oracle pins to TRUE) — retiring the r1 no_oracle row for
    # approx_distinct_users with strictly stronger evidence
    # r13: approx_distinct_users_bounded (green r8-r12) — superseded
    # by tumble_approx_distinct_users_bounded: the IDENTICAL
    # dedup-first exact+HLL bounded pattern applied PER TUMBLING
    # WINDOW — strictly more surface (window assignment on top of the
    # sketch gate), and it retires the last no-oracle rationale gap:
    # the windowed HLL row tumble_approx_distinct_users_1h now has a
    # hash-gated bounded twin (r12 verdict #4); the batch bounded form
    # stays full-suite verified under the identical oracle
    # r14: tumble_approx_distinct_users_bounded (green r13) —
    # superseded by its streaming twin stream_users_sketch_rollup_replay:
    # the SAME mergeable HLL sketch accuracy gate but with the
    # per-period sketches accumulated through the ACTUAL engine and
    # rolled up; the batch bounded form stays full-suite verified
    "stream_users_sketch_rollup_replay",
    # r7b: customers_without_orders (EXCEPT -> left-anti join
    # physically) — tpch_q21 above plans the identical left-anti join
    # for its NOT EXISTS half, so the set-op's physical machinery keeps
    # a driver row; the EXCEPT spelling stays full-suite verified —
    # gave its slot to doc_chunk_windows, honoring the r5 allowlist
    # note ("rotate in next window refresh"): the retrieval/context-
    # prep chunk fan-out (scan-local overlapping token-window
    # slice/explode), previously suite-only
    # r10: doc_chunk_windows -> ann_lsh_recall_at_k (see the quartet
    # note above)
)

# The never-gated ledger, EXECUTABLE (r13 verdict #3): every registered
# name must either hold cumulative driver evidence (a green row in any
# CORRECTNESS_r*.json), sit in DRIVER_WINDOW (gated next round), or
# appear here mapping to the DRIVER-GREEN twin that subsumes its
# machinery. tests/test_registry_window.py asserts all three legs, so
# a new face cannot land without a rotation slot or a ledger entry,
# a twin cannot be named unless it actually holds driver evidence,
# and an entry goes STALE (fails the test) the moment its key gains a
# driver row or a window slot — the COVERAGE.md prose ledger, made
# enforceable. These 30 are the steady-state floor, not debt: each
# right-hand side carries the family's driver row.
TWIN_SUBSUMED: dict[str, str] = {
    # deliberate exact baselines / parameter variants of driver-green
    # ANN faces; ADC pinned equal by test
    "ann_cosine_topk_blas": "ann_cosine_topk",
    "ann_pq_topk": "ann_ivfpq_topk_indexed",
    # r14-new codebook-refresh lifecycle: the retrain step IS the
    # drift monitor's mean frame (driver-green r13) applied as one
    # Lloyd update, and the encode/ADC/topk machinery is driver-green
    # via the IVFPQ faces; the refresh-specific payoff (quantization
    # error non-increasing) is pinned by
    # test_pq_refresh_reduces_quantization_error
    "ann_pq_refreshed_topk": "ann_pq_drift_monitor",
    # r14-new coarse-quantizer refresh: the retrain is one spherical
    # Lloyd update justified by the driver-green balance monitor; the
    # assignment/probe/rerank machinery is driver-green via the IVF
    # faces (ann_ivf_balance_monitor r13, ann_ivfpq_refine_topk r13);
    # payoff pinned by test_ivf_refresh_improves_assignment_similarity
    "ann_ivf_refreshed_topk": "ann_ivf_balance_monitor",
    # batch twins of driver-green streaming faces (same oracle)
    "cdc_upsert_snapshot": "stream_cdc_upsert_replay",
    "count_or_time_global_1h_10": "stream_count_or_time_replay",
    # tokenized-scan signal family: the same scan feeds the
    # driver-green quality/corpus faces
    "doc_bpe_token_estimate": "curriculum_quality_buckets",
    "doc_lang_distribution": "curriculum_quality_buckets",
    "doc_pii_redact": "stream_corpus_prep_replay",
    "dq_audit": "stream_corpus_prep_replay",
    # plain aggregate / window-function shape variants of driver-green
    # stats rows
    "event_value_histogram": "event_type_stats_salted",
    "lineitem_price_stats_by_flag": "tpch_q1_pricing_summary",
    "order_priority_by_status": "tpch_q4_order_priority",
    "order_value_distribution": "tpch_q13_customer_order_distribution",
    # the Expand-node sliding-window assignment machinery
    "grouping_sets_events": "slide_sum_5m_1m",
    # Knuth-hash admission family (three driver rows held at r13)
    "mixture_plan_langs": "mixture_apply_docs",
    "sample_k_per_lang": "mixture_apply_docs",
    "weighted_sample_docs": "mixture_apply_docs",
    # same Arrow-batched mapInPandas plumbing
    "multimodal_resize": "multimodal_frame_sample",
    # literal-threshold parameter variant of F5
    "running_sum_alerts_gt_10000": "running_sum_alerts_gt_500",
    # holistic percentile aggregate; sliding assignment via Expand twin
    "slide_median_5m_1m": "tumble_approx_median_bounded",
    # spark.sql() text faces, plan-identical under IMPORTED-SAME oracles
    "sql_doc_chunk_windows": "doc_chunk_windows",
    "sql_scd2_history": "scd2_user_tier_history",
    "sql_window_heavy_hitters_1h": "window_heavy_hitters_1h",
    # broadcast rule-table gate driver-green batch-side
    "stream_dynamic_rules_replay": "dynamic_rules_alerts",
    # inner/in-order twins of strictly-more driver-green stream faces
    "stream_interval_join_replay": "stream_interval_join_left_replay",
    "stream_session_sum_replay": "stream_ooo_session_sum_replay",
    # composite multi-join profit shape; all 22 TPC-H shapes held
    # cumulative evidence as of r10 except q9, whose machinery the
    # q8 market-share join chain carries
    "tpch_q9_product_type_profit": "tpch_q8_market_share",
    # raw-sketch faces retired behind driver-green bounded twins (r13)
    "tumble_approx_median_1h": "tumble_approx_median_bounded",
    "tumble_distinct_users_1h": "tumble_approx_distinct_users_bounded",
    "weekly_users_sketch_rollup": "tumble_approx_distinct_users_bounded",
    "window_heavy_hitters_1h_approx": "heavy_hitters_mg_bounded",
}


def register(
    name: str,
    oracle: str | None = None,
    doc: str = "",
    tags: tuple[str, ...] = (),
) -> Callable[[QueryFn], QueryFn]:
    def deco(fn: QueryFn) -> QueryFn:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(name=name, fn=fn, oracle=oracle, doc=doc, tags=tags)
        return fn

    return deco


def all_queries() -> dict[str, QuerySpec]:
    # Import operator modules lazily so registration happens on first use.
    from . import operators  # noqa: F401

    missing = [n for n in DRIVER_WINDOW if n not in _REGISTRY]
    if missing:
        raise KeyError(f"DRIVER_WINDOW names unknown queries: {missing}")
    ordered = {n: _REGISTRY[n] for n in DRIVER_WINDOW}
    ordered.update((n, s) for n, s in _REGISTRY.items() if n not in ordered)
    return ordered


def get(name: str) -> QuerySpec:
    return all_queries()[name]
