"""Scale probe (VERDICT r4 next-round #4/#5): time the priciest batch
entries at 1x, ~3x and ~10x corpus size and fit each query's scaling
exponent, plus the ngram-postings persist A/B at the largest scale.

The bench has only ever run at sf0.1 while the design brief is 100 TB;
a query whose wall time grows super-linearly here is the thing that
falls over at cluster scale, whatever its sf0.1 number says.

Scaled tables (written to a scratch dir the query fns read like any
sf_dir):
- documents x k: copy c>0 rewrites every token t -> "t·c", so each
  copy's shingle space is DISJOINT from every other copy's. Corpus
  statistics (DF distribution, doc lengths, near-dup structure)
  replicate per copy and cross-copy pairs cannot exist — the workload
  scales like a k-times-larger corpus, NOT like a corpus of k-fold
  duplicates (which would be a quadratically different problem).
- embeddings x k: copy c>0 gets fresh deterministic pseudo-random
  vectors (uniform [-1, 1] per element from xxhash64) — uniform hash
  distribution over LSH buckets / IVF cells, no artificial near-dup
  mass.
- lineitem x k: verbatim copies. In Q9 lineitem is the pure fact side
  and every join (part, supplier, partsupp, orders) is many-to-one,
  so plan work scales linearly by construction.
- all other tables copied verbatim.

Exponent: least-squares slope of log(t) vs log(k) over the probed
scales using min-of-2 warm timings. ~1.0 = linear (healthy); the
fixed plan-compilation floor biases the estimate BELOW 1, so anything
clearly above ~1.2 deserves a look and above ~1.5 is the round-6 fix
list.

Usage: python scripts/scale_probe.py [sf_dir] [scales...]
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys
import time
import uuid

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_fraud_detection_rocks_db_app_spark.fixtures import TABLES
from flink_fraud_detection_rocks_db_app_spark.registry import all_queries
from flink_fraud_detection_rocks_db_app_spark.session import get_spark

PROBED = [
    "dedup_ngram_jaccard_pruned",
    "dedup_minhash_lsh",
    "dedup_incremental_lsh",
    "doc_simhash",
    "decontaminate_bloom_prefilter",
    "ann_lsh_buckets",
    "tpch_q9_product_type_profit",
    # events-based families (×k densified events, window population
    # fixed): the exact holistic median buffers full windows — the
    # one aggregate whose per-window state grows with density — probed
    # against its GK-sketch twin whose state is O(1)/window; plus the
    # sequence-fold funnel and the prefix-window z-score gate.
    "tumble_median_1h",
    "tumble_approx_median_1h",
    "funnel_view_click_purchase",
    "zscore_alerts_3sigma",
    # r13: the two new bounded sketch gates — the per-type quantile
    # face is one scan + one O(types) hash aggregate; the windowed
    # distinct face pays the dedup-first two-shuffle shape (narrow
    # (window, account) dedup, then per-window exact+HLL), both ∝
    # events under the plan floor
    "value_quantiles_by_type_bounded",
    "tumble_approx_distinct_users_bounded",
    "span_dup_stats",
    # r7 additions: the iterative-CC composite (pairs -> min-label CC
    # -> quality argmax; CC rounds = O(component diameter), which the
    # disjoint-copy construction keeps fixed as the corpus grows) and
    # the pruned-postings BM25 scorer
    # r8: keep_best now reads the MATERIALIZED ensure_cc_labels asset
    # (built once per corpus content), so its row measures the
    # production per-query cost; the build cost scales separately as
    # the explicit cc_labels_build probe below
    "dedup_keep_best_per_cluster",
    "cc_labels_build",
    "bm25_query_topk",
    "dedup_containment_pairs",
    "bm25_incremental_index_topk",
    # r8: the appending-corpus IVF — same convention as the BM25
    # incremental row: the first timed run at each scale pays the
    # content-keyed index build, min-of-2 keeps the warm probe (the
    # production per-query cost of the published asset)
    "ann_ivf_incremental_topk",
    # r8b: SemDeDup under its production K policy (K ~ n/31, the
    # fixture's target cluster size) — the registered query pins K=16
    # for its replay oracle, which at fixed K would trend quadratic by
    # construction; the K-scaling knob is the design's scale path and
    # is what gets probed
    "semdedup_scaled_k",
    # r8c: product quantization — encoding is scan-local against the
    # literal codebook and ADC scoring is O(M) per candidate, so both
    # forms should ride the corpus scan ~linearly (IVFPQ sub-linearly:
    # candidates prune to nprobe/cells of the k×corpus first)
    "ann_pq_topk",
    "ann_ivfpq_topk",
    # r8c: the retrieval stack — MLT's corpus work is the token scan +
    # bounded semi-joins (the scaled copies' token spaces are disjoint
    # from the query docs', so candidate postings stay fixed while the
    # scan grows k×); the hybrid adds the linear exact-cosine arm
    "mlt_bm25_topk",
    "hybrid_rrf_topk",
    # r8c: the materialized IVFPQ probe (warm partition-pruned read of
    # the published asset — min-of-2, the incremental-row convention)
    # and the passage dedup (O(passages) content-keyed shuffle + one
    # doc-keyed reassembly fold; the disjoint-copy construction means
    # cross-copy passage dups cannot exist, so the keep-first window
    # scales on volume, not duplication structure)
    "ann_ivfpq_topk_indexed",
    "dedup_passages_keep_first",
    # r8c: the appending form — min-of-2 keeps the warm probe of the
    # published passage index (batch-side anti-join only)
    "dedup_passages_incremental",
    # r8c: subsequence scoring is O(k) per row on the per-account
    # row-frame — should ride the densified event scan linearly
    "ts_znorm_pattern_topk",
    # r9: the hybrid with the INDEXED semantic arm — its corpus work
    # is the MLT scan plus a warm partition-pruned read of the IVFPQ
    # asset (the exact-cosine linear arm is gone); probed next to
    # hybrid_rrf_topk, whose slope it should undercut as k grows
    "hybrid_rrf_topk_indexed",
    # r10: the as-of enrichment pair under densified events (orders
    # dimension fixed, the realistic axis: facts grow, dims don't) —
    # the union+carry-forward sort-merge batch form next to the
    # bucketed-snapshot fallback (asof.bucketed_asof_snapshot, the
    # documented past-broadcast-threshold path): both should ride the
    # event scan ~linearly, the bucketed form paying one extra
    # (user, bucket) equi-join against a FIXED-size snapshot
    "asof_latest_order",
    "asof_bucketed_enrich",
    # r10: the SemDeDup ingest append at a fixed 64-vector batch —
    # the cost that must NOT scale with the corpus (modulo fixed-K
    # cluster growth; see the probe docstring)
    "semdedup_append_fixed_batch",
    # r11: the banding recall monitor — its truth arm is the exact
    # postings join; disjoint-copy scaling replicates true pairs per
    # copy, so pair volume (and the monitor) should ride ~linearly
    "dedup_simhash_band_recall",
    # r11: the PSI gate (one scan + a 10-group aggregate) and the PQ
    # codebook drift (scan-local encode + O(M x KS x SUBDIM) partials)
    # — both should be pure corpus-scan slopes
    "quality_psi_drift",
    "ann_pq_drift_monitor",
    # r11: the z-ordered slice (content-keyed asset rebuilt per scale
    # on first touch; min-of-2 keeps the warm probe — the production
    # per-query cost of the published layout)
    "events_zorder_slice",
    # r11: IVF health legs over the published asset (warm reads:
    # balance projects the partition column only, drift aggregates
    # O(cells x dim) partials off the same lists)
    "ann_ivf_balance_monitor",
    "ann_ivf_drift_monitor",
    # r11: the refine stage (pool join touches O(queries x R) rows —
    # its slope should track the compressed scan, not the corpus) and
    # the DSIR gate (vocab build + scan-local scoring, ~linear)
    "ann_ivfpq_refine_topk",
    "dsir_importance_sample",
    # r12: the temporal pillar under densified events — SCD2 is one
    # (user)-keyed window pass (islands grow ∝ density), the CDC
    # compaction's WindowGroupLimit forwards one candidate per key per
    # map partition (slope should undercut the scan), and the temporal
    # join is the same union+carry-forward sort as asof_latest_order
    # with the dimension substream growing alongside the facts
    "scd2_user_tier_history",
    "cdc_upsert_snapshot",
    "temporal_join_purchase_status",
    # r12b: the supervised-prep pair (events axis: spine fixed, daily
    # aggregates thicken; document axis: corpus scan) and the
    # tokenizer pair-count face (pure corpus scan + tiny aggregate)
    "feature_label_matrix_daily",
    "score_auc_quality_vs_en",
    "bpe_merge_candidates",
    # r12c: the eval/CV companions and the in-engine GD trainer — all
    # one-scan/one-aggregate shapes that should sit on the plan floor
    "langid_confusion_matrix",
    "score_calibration_bins",
    "backtest_expanding_folds",
    "logreg_train_next7_purchase",
    # r15 (VERDICT r14 #7): the remaining members of the driver bench's
    # ten most expensive BATCH rows (r14 run-C floor ordering), so the
    # sf0.1 -> sf1 (x10) exponent table covers all of them — the
    # refine recall column re-ranks a REFINE_FACTOR*k ADC pool against
    # raw vectors (candidate pool fixed, corpus scan grows), and hard
    # negatives composes the BM25 and embedding arms (refine_topk /
    # drift_monitor / dsir were already probed above)
    "ann_ivfpq_refine_recall_at_k",
    "hard_negatives_topk",
]


def _cc_labels_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNCACHED CC-labels build: DF-pruned pairs -> iterative
    min-label CC — exactly what ensure_cc_labels materializes once per
    corpus content. Probed directly because the registered keep-best
    query reads the published asset, which would hide the build's
    scaling behind a parquet read."""
    from flink_fraud_detection_rocks_db_app_spark.operators.dedup import (
        connected_components,
        dedup_ngram_jaccard_pruned,
    )

    pairs = dedup_ngram_jaccard_pruned(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components(pairs)


def _semdedup_scaled_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with K derived from the observed corpus size (target
    cluster size = the fixture's 500/16 ≈ 31), i.e. the knob a
    production deployment turns as the corpus grows. Expected pair
    volume per cluster stays ~constant, so wall time should scale
    ~linearly; probing the registered fixed-K form instead would just
    re-measure that n²/K is quadratic in n."""
    from flink_fraud_detection_rocks_db_app_spark.operators.similarity import (
        SEMDEDUP_TAU,
        semdedup_pipeline,
    )

    n = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet")).count()
    k = max(16, round(n / 31))
    return semdedup_pipeline(spark, sf_dir, k, SEMDEDUP_TAU)


def _asof_bucketed_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whale-dimension fallback form of the as-of enrichment
    (SCALE.md r10): monthly bucketed snapshot built from the fixed
    orders dimension, events enriched via the (user, bucket(t))
    equi-join. The snapshot build is part of the timed cost — at
    deployment it amortizes across refreshes, so the fitted exponent
    (events axis) is what matters, not the constant."""
    from flink_fraud_detection_rocks_db_app_spark.fixtures import load
    from flink_fraud_detection_rocks_db_app_spark.operators.asof import (
        bucketed_asof_snapshot,
        enrich_events_asof_bucketed,
        orders_asof_flat,
    )

    ev = load(spark, sf_dir, "events").select(
        F.col("user_id").alias("account_id"),
        "event_id",
        F.expr("ts div 1000000").alias("t_ms"),
    )
    horizon = ev.agg(F.max("t_ms")).first()[0]
    bucket_ms = 30 * 86_400_000
    snap = bucketed_asof_snapshot(orders_asof_flat(spark, sf_dir), bucket_ms, horizon)
    return enrich_events_asof_bucketed(ev, snap, bucket_ms)


def _semdedup_append_fixed_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Append-side cost of the SemDeDup ingest at a FIXED 64-vector
    batch as the corpus grows ×k: assign the batch under the frozen
    quantizer read from the published asset, pair it against the
    touched cells' current members (partition-pruned read) plus
    itself, emit the new losers — exactly the work
    append_to_semdedup_index does before its writes. The full-corpus
    verdict emit (∝ corpus by definition) is excluded. Expected slope
    at the registered FIXED K=16: ~linear with a small constant —
    cluster size grows ∝ corpus, and pairing cost is batch × cluster
    density; the production knob that flattens it is K ∝ corpus
    (cluster size constant), probed separately as semdedup_scaled_k.
    min-of-2 keeps the warm probe of the ensure_index asset."""
    from flink_fraud_detection_rocks_db_app_spark.operators.indexcache import (
        ensure_index,
    )
    from flink_fraud_detection_rocks_db_app_spark.operators.similarity import (
        _semdedup_batch_mask,
        _vectors,
        semdedup_batch_losers,
        write_semdedup_index,
    )

    idx = ensure_index(
        "semdedupincr",
        sf_dir,
        "embeddings",
        lambda tmp: write_semdedup_index(spark, sf_dir, tmp),
    )
    # the SAME 64 base-copy batch ids at every scale (copies shift ids
    # by >= the stride, so base ids stay below it)
    batch = (
        _vectors(spark, sf_dir)
        .where(_semdedup_batch_mask() & (F.col("vec_id") < DOC_STRIDE))
        .orderBy("vec_id")
        .limit(64)
        .select("vec_id", "v")
    )
    return semdedup_batch_losers(batch, idx)[2]


# probes that aren't registered queries: name -> (spark, sf_dir) -> DF
EXTRA_PROBES = {
    "cc_labels_build": _cc_labels_build,
    "semdedup_scaled_k": _semdedup_scaled_k,
    "asof_bucketed_enrich": _asof_bucketed_enrich,
    "semdedup_append_fixed_batch": _semdedup_append_fixed_batch,
}

DOC_STRIDE = 1_000_000  # minimum doc_id / vec_id / event_id offset per copy


def _copy_stride(spark: SparkSession, sf_dir: str) -> int:
    """Per-copy id offset, derived from the OBSERVED max id across the
    three id-offset tables rather than assumed (ADVICE r5: a fixture
    whose id space reaches the fixed 1M stride would silently collide
    ids across copies, breaking the disjoint-copy construction and the
    sort tiebreaks). Next power of ten above the max id, floored at the
    historical 1M so sf0.1-scale runs keep byte-identical offsets."""
    mx = 0
    for t, col in (
        ("documents", "doc_id"),
        ("embeddings", "vec_id"),
        ("events", "event_id"),
    ):
        v = (
            spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet"))
            .agg(F.max(col))
            .first()[0]
        )
        mx = max(mx, int(v or 0))
    return max(DOC_STRIDE, 10 ** len(str(mx)))


def _scaled_documents(spark: SparkSession, sf_dir: str, k: int, stride: int) -> DataFrame:
    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    parts = [docs]
    for c in range(1, k):
        tag = F.lit(f"·{c}")  # middle dot — never appears in fixture text
        parts.append(
            docs.withColumn("doc_id", F.col("doc_id") + F.lit(c * stride))
            .withColumn(
                "text",
                F.array_join(
                    F.transform(F.split(F.col("text"), " "), lambda w: F.concat(w, tag)),
                    " ",
                ),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _scaled_embeddings(spark: SparkSession, sf_dir: str, k: int, stride: int) -> DataFrame:
    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    dim = len(emb.select("embedding").first()[0])
    parts = [emb]
    for c in range(1, k):
        rnd = F.expr(
            f"transform(sequence(0, {dim - 1}), i -> CAST("
            f"(pmod(xxhash64(vec_id, {c}, i), 2001) - 1000) / 1000.0 AS FLOAT))"
        )
        parts.append(
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(c * stride))
            .withColumn("embedding", rnd)
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _scaled_events(spark: SparkSession, sf_dir: str, k: int, stride: int) -> DataFrame:
    """k-fold event density with the window population fixed: copy c
    keeps user/type/value but shifts event time by c*37 ms (well inside
    any probed window) and offsets event_id so sort tiebreaks stay
    total. Per-window/per-key state grows k-fold — exactly the axis the
    holistic-vs-sketch pair differs on. NTZ interval arithmetic only
    (timezone-free)."""
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    parts = [ev]
    for c in range(1, k):
        parts.append(
            ev.withColumn("event_id", F.col("event_id") + F.lit(c * stride))
            .withColumn("ts", F.expr(f"ts + INTERVAL {c * 37} MILLISECONDS"))
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _scaled_lineitem(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    out = li
    for _ in range(1, k):
        out = out.unionByName(li)
    return out


def build_scaled_dir(spark: SparkSession, sf_dir: str, k: int, scratch: str) -> str:
    out_dir = os.path.join(scratch, f"x{k}")
    os.makedirs(out_dir, exist_ok=True)
    # stride needs three max() jobs — skip them at k=1, where every
    # table is copied verbatim and the stride is never used (ADVICE r6)
    stride = _copy_stride(spark, sf_dir) if k > 1 else 0
    for t in TABLES:
        dst = os.path.join(out_dir, f"{t}.parquet")
        if k > 1 and t == "documents":
            _scaled_documents(spark, sf_dir, k, stride).write.mode("overwrite").parquet(dst)
        elif k > 1 and t == "embeddings":
            _scaled_embeddings(spark, sf_dir, k, stride).write.mode("overwrite").parquet(dst)
        elif k > 1 and t == "lineitem":
            _scaled_lineitem(spark, sf_dir, k).write.mode("overwrite").parquet(dst)
        elif k > 1 and t == "events":
            _scaled_events(spark, sf_dir, k, stride).write.mode("overwrite").parquet(dst)
        else:
            # verbatim: spark round-trip keeps one code path (and the
            # same parquet writer properties as the scaled tables)
            spark.read.parquet(os.path.join(sf_dir, f"{t}.parquet")).write.mode(
                "overwrite"
            ).parquet(dst)
    return out_dir


def time_query(spark: SparkSession, fn, sf_dir: str, runs: int = 2) -> float:
    best = None
    for _ in range(runs):
        t0 = time.perf_counter()
        fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        elapsed = time.perf_counter() - t0
        best = elapsed if best is None else min(best, elapsed)
    return best


def fit_exponent(scales: list[int], times: list[float]) -> float:
    xs = [math.log(s) for s in scales]
    ys = [math.log(t) for t in times]
    n = len(xs)
    mx, my = sum(xs) / n, sum(ys) / n
    denom = sum((x - mx) ** 2 for x in xs)
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / denom


def main() -> None:
    argv = list(sys.argv[1:])
    only: set[str] | None = None
    if "--only" in argv:
        i = argv.index("--only")
        only = set(argv[i + 1].split(","))
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.1"
    scales = [int(s) for s in argv[1:]] or [1, 3, 10]
    probed = [q for q in PROBED if only is None or q in only]
    spark = get_spark(app_name="scale_probe")
    specs = all_queries()

    def probe_fn(q):
        return EXTRA_PROBES.get(q) or specs[q].fn
    spark.range(1_000_000).selectExpr("sum(id)").write.format("noop").mode(
        "overwrite"
    ).save()
    scratch = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scratch",
        f"scale-probe-{uuid.uuid4().hex[:8]}",
    )
    results: dict[str, dict] = {q: {"times": {}} for q in probed}
    warmed = False
    try:
        for k in scales:
            d = build_scaled_dir(spark, sf_dir, k, scratch)
            if not warmed:
                # one untimed pass of every probed query at the first
                # scale: first-ever execution pays codegen/compile that
                # would otherwise bias the smallest scale's timing UP
                # (and the fitted exponent DOWN)
                for q in probed:
                    probe_fn(q)(spark, d).write.format("noop").mode("overwrite").save()
                warmed = True
            for q in probed:
                t = time_query(spark, probe_fn(q), d)
                results[q]["times"][k] = round(t, 2)
                print(f"x{k:<3d} {q:35s} {t:7.2f}s", flush=True)
            if k == max(scales) and "dedup_ngram_jaccard_pruned" in probed:
                # VERDICT r4 #5: does persisting the `kept` postings
                # (built once, read twice) beat the double-build at the
                # scale where the wash should become a win?
                from flink_fraud_detection_rocks_db_app_spark.operators.dedup import (
                    ngram_pruned_pairs,
                )

                best = None
                for _ in range(2):
                    t0 = time.perf_counter()
                    df, kept = ngram_pruned_pairs(spark, d, persist_postings=True)
                    try:
                        df.write.format("noop").mode("overwrite").save()
                    finally:
                        kept.unpersist()
                    el = time.perf_counter() - t0
                    best = el if best is None else min(best, el)
                results["dedup_ngram_jaccard_pruned"]["persist_at_max"] = round(best, 2)
                print(f"x{k:<3d} ngram persist(kept) DISK_ONLY          {best:7.2f}s", flush=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    for q in probed:
        ts = results[q]["times"]
        ks = sorted(ts)
        if len(ks) >= 2:
            results[q]["exponent"] = round(fit_exponent(ks, [ts[k] for k in ks]), 2)
    print(json.dumps({"sf_dir": sf_dir, "scales": scales, "results": results}))
    spark.stop()


if __name__ == "__main__":
    main()
