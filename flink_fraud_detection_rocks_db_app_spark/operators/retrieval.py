"""Document-to-document retrieval: more-like-this (MLT) lexical
search and hybrid lexical+semantic rank fusion — the two faces that
turn the BM25 and ANN pillars into the retrieval stack a RAG /
training-data-mining deployment actually runs.

- `mlt_bm25_topk` is Lucene's MoreLikeThis shape: for each query
  DOCUMENT, select its most "interesting" terms (top tf·idf within the
  query doc — the bounded query surrogate that makes doc-to-doc search
  affordable), then BM25-rank the corpus over just those terms. The
  fixture's doc_id and vec_id spaces are aligned (both 0..N-1, one
  embedding per document), which is what makes lexical and semantic
  arms fusable per query.
- `hybrid_rrf_topk` fuses the MLT arm with the exact-cosine semantic
  arm by Reciprocal Rank Fusion (Cormack et al., SIGIR 2009):
  score(d) = Σ_arms 1/(K + rank_arm(d)) with the standard K=60 —
  rank-based, so no score-scale calibration between BM25 and cosine
  is needed, and the arithmetic is identical in both engines (integer
  ranks in, one fixed-order two-term double sum out).

Scale design: every stage is the BM25/ANN machinery already proven at
the pillar level — term postings prune to the (bounded) interesting-
term set BEFORE any aggregate touches the corpus, per-query frames
broadcast, the final top-k is a per-query WindowGroupLimit. The MLT
term-selection adds one bounded semi-join (corpus tokens against the
query docs' vocabulary) to compute df for candidate terms only — at
100 TB that df frame is exactly what the materialized BM25 index
already stores, so the indexed deployment skips the corpus scan
entirely (documented, not duplicated here).

Cross-engine determinism: gating scores (interesting-term rank, BM25
sum, RRF sum) are 6dp-rounded in both engines; BM25 per-term
contributions use text._BM25_CONTRIB verbatim and fold in sorted term
order (the established libm convention); RRF adds its two reciprocal
terms in fixed lex-then-sem order.

Reference anchor: no retrieval exists in the reference (RocksDB fraud
folds only); this is the brief's training-data-pipeline extension
surface.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..fixtures import load
from ..registry import register
from .text import _BM25_CONTRIB, term_ordered_sum

MLT_QUERIES = 5  # query docs = doc_id < 5
MLT_TERMS = 10  # "interesting terms" kept per query doc
MLT_TOP_K = 10  # results per query
RRF_K = 60  # the standard RRF constant

# Lucene idf, the same formulation the BM25 pillar uses
_IDF = "ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)"


def _toks(docs: DataFrame) -> DataFrame:
    return docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )


def _mlt_interest(qtf: DataFrame, df: DataFrame, stats: DataFrame) -> DataFrame:
    """(query_id, term, df): the interesting terms, top tf·idf within
    each query doc."""
    return (
        qtf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(stats.select("n_docs")))
        .withColumn("tscore", F.round(F.expr(f"qtf * {_IDF}"), 6))
        .withColumn(
            "trk",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    F.desc("tscore"), F.asc("term")
                )
            ),
        )
        .where(F.col("trk") <= MLT_TERMS)
        .select("query_id", "term", "df")
    )


def _mlt_bm25(pairs: DataFrame, stats: DataFrame) -> DataFrame:
    """(query_id, neighbor_id, mlt_bm25) from (query, doc, interesting
    term) rows carrying tf, df and dl: contributions fold in sorted
    term order, 6dp-rounded."""
    contrib = pairs.crossJoin(F.broadcast(stats)).select(
        "query_id", "doc_id", "term", F.expr(_BM25_CONTRIB).alias("c")
    )
    return contrib.groupBy("query_id", F.col("doc_id").alias("neighbor_id")).agg(
        term_ordered_sum().alias("mlt_bm25")
    )


def _mlt_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, mlt_bm25) for all candidates — shared by
    the ranked MLT face and the hybrid fusion."""
    docs = load(spark, sf_dir, "documents")
    dl = docs.select(
        "doc_id", F.size(F.split(F.lower("text"), " ")).cast("long").alias("dl")
    )
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        F.count("*").alias("n_docs"),
    )
    tok = _toks(docs)

    # query-doc term frequencies (bounded: MLT_QUERIES docs' vocab)
    qtf = (
        tok.where(F.col("doc_id") < MLT_QUERIES)
        .groupBy(F.col("doc_id").alias("query_id"), "term")
        .agg(F.count("*").alias("qtf"))
    )
    cand_terms = qtf.select("term").distinct()
    # df over the FULL corpus, but only for candidate terms: the
    # semi-join prunes the token stream before the distinct-count
    df = (
        tok.join(F.broadcast(cand_terms), "term", "left_semi")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    interest = _mlt_interest(qtf, df, stats)
    # corpus term frequencies for the selected terms only
    tf = (
        tok.join(
            F.broadcast(interest.select("term").distinct()), "term", "left_semi"
        )
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
    )
    pairs = (
        tf.join(F.broadcast(interest), "term")
        .where(F.col("doc_id") != F.col("query_id"))
        .join(dl, "doc_id")
    )
    return _mlt_bm25(pairs, stats)


def _mlt_top(scored: DataFrame) -> DataFrame:
    """The MLT_TOP_K best-scored neighbours of each query doc."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("mlt_bm25"), F.asc("neighbor_id")
    )
    return scored.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") <= MLT_TOP_K
    )


def _mlt_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _mlt_top(_mlt_scored(spark, sf_dir))


def _mlt_scored_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """_mlt_scored against the MATERIALIZED BM25 index — the 100 TB
    deployment form the scan face's docstring promises: qtf IS the
    query docs' postings rows, candidate-term df aggregates the pruned
    postings, corpus tf/dl read straight off the posting rows, and
    avgdl/n_docs derive from the index's exact-integer stats — the
    corpus text is never read or tokenized. Both term-bounded scans
    prune to the literal term buckets the candidate terms hash into
    (bounded driver collect: ≤ the query docs' vocabulary, the same
    contract as the probe-cell sets). Score-identical to the scan form
    by construction (same tokenization wrote the index; exact-integer
    stats divide to the same avgdl), so it shares _MLT_ORACLE."""
    from .text import BM25_TERM_BUCKETS, bm25_index_stats, ensure_bm25_index

    idx = ensure_bm25_index(spark, sf_dir)
    postings_all = spark.read.parquet(os.path.join(idx, "postings"))
    stats = bm25_index_stats(spark, idx)
    qtf = postings_all.where(F.col("doc_id") < MLT_QUERIES).select(
        F.col("doc_id").alias("query_id"), "term", F.col("tf").alias("qtf")
    )
    # bounded collect (≤ the query docs' vocabulary): literal buckets
    # let the parquet source prune unprobed term partitions
    cand = sorted({r.term for r in qtf.select("term").distinct().collect()})
    cand_buckets = sorted(
        {
            r.b
            for r in spark.createDataFrame([(t,) for t in cand], "term string")
            .select(F.pmod(F.xxhash64("term"), F.lit(BM25_TERM_BUCKETS)).alias("b"))
            .collect()
        }
    )
    pruned = postings_all.where(F.col("tbucket").isin(cand_buckets)).where(
        F.col("term").isin(cand)
    )
    df = pruned.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    interest = _mlt_interest(qtf, df, stats)
    pairs = pruned.join(F.broadcast(interest), "term").where(
        F.col("doc_id") != F.col("query_id")
    )
    return _mlt_bm25(pairs, stats)


def _mlt_ranked_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _mlt_top(_mlt_scored_indexed(spark, sf_dir))


# ---- shared oracle CTEs: the full MLT replay --------------------------
_MLT_CTES = f"""
dl AS (
  SELECT doc_id, len(string_split(lower(text), ' ')) AS dl FROM documents
),
stats AS (
  SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n_docs
  FROM dl
),
tok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
qtf AS (
  SELECT doc_id AS query_id, term, COUNT(*) AS qtf
  FROM tok WHERE doc_id < {MLT_QUERIES} GROUP BY 1, 2
),
cdf AS (
  SELECT term, COUNT(DISTINCT doc_id) AS df
  FROM tok WHERE term IN (SELECT DISTINCT term FROM qtf) GROUP BY 1
),
interest AS (
  SELECT query_id, term, df
  FROM qtf JOIN cdf USING (term) CROSS JOIN (SELECT n_docs FROM stats) s
  QUALIFY row_number() OVER (
    PARTITION BY query_id
    ORDER BY round(qtf * {_IDF}, 6) DESC, term ASC
  ) <= {MLT_TERMS}
),
tf AS (
  SELECT doc_id, term, COUNT(*) AS tf
  FROM tok WHERE term IN (SELECT DISTINCT term FROM interest) GROUP BY 1, 2
),
contrib AS (
  SELECT query_id, tf.doc_id, tf.term, {_BM25_CONTRIB} AS c
  FROM tf
  JOIN interest USING (term)
  JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
  WHERE tf.doc_id <> interest.query_id
),
mlt AS (
  SELECT query_id, doc_id AS neighbor_id,
         ROUND(SUM(c ORDER BY term), 6) AS mlt_bm25
  FROM contrib GROUP BY 1, 2
),
mlt_ranked AS (
  SELECT query_id, neighbor_id, mlt_bm25,
         row_number() OVER (
           PARTITION BY query_id ORDER BY mlt_bm25 DESC, neighbor_id ASC
         ) AS rk
  FROM mlt
  QUALIFY rk <= {MLT_TOP_K}
)
"""

_MLT_ORACLE = f"""
WITH {_MLT_CTES}
SELECT query_id, neighbor_id, mlt_bm25, CAST(rk AS BIGINT) AS rk
FROM mlt_ranked
"""


@register(
    "mlt_bm25_topk",
    oracle=_MLT_ORACLE,
    doc=f"More-like-this retrieval (the Lucene MLT shape): for each of "
    f"the {MLT_QUERIES} query documents, keep its {MLT_TERMS} most "
    "interesting terms (top tf·idf inside the query doc, Lucene idf) "
    f"and BM25-rank the corpus over just those terms — top {MLT_TOP_K} "
    "per query, self excluded. Scale shape: the corpus token stream is "
    "pruned by a bounded broadcast semi-join (query vocab, then the "
    "selected-term set) BEFORE any aggregate; per-query frames "
    "broadcast; contributions fold in sorted term order, 6dp-rounded "
    "(the BM25 convention). At 100 TB the candidate-term df comes "
    "straight from the materialized BM25 index's postings instead of "
    "a corpus scan.",
    tags=("text", "retrieval", "join"),
)
def mlt_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _mlt_ranked(spark, sf_dir).select(
        "query_id", "neighbor_id", "mlt_bm25", F.col("rk").cast("long").alias("rk")
    )


@register(
    "mlt_bm25_topk_indexed",
    oracle=_MLT_ORACLE,
    doc="More-like-this against the MATERIALIZED BM25 index — the "
    "deployment form the scan face documents: qtf comes from the query "
    "docs' own posting rows, candidate-term df from the bucket-pruned "
    "postings, corpus tf/dl off the posting rows, avgdl/n_docs from "
    "the exact-integer stats — the corpus text is never read or "
    "re-tokenized, and both term scans prune to literal term buckets "
    "(PartitionFilters). Same oracle as mlt_bm25_topk: the index "
    "layout must not move a score or a rank.",
    tags=("text", "retrieval", "join", "warehouse"),
)
def mlt_bm25_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _mlt_ranked_indexed(spark, sf_dir).select(
        "query_id", "neighbor_id", "mlt_bm25", F.col("rk").cast("long").alias("rk")
    )


# ---- hybrid fusion ----------------------------------------------------

_SEM_CTE = f"""
e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v,
         sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
  FROM embeddings
),
sem_ranked AS (
  SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY list_dot_product(q.v, e.v) / (q.norm * e.norm) DESC,
                    e.vec_id ASC
         ) AS rk
  FROM (SELECT * FROM e WHERE vec_id < {MLT_QUERIES}) q
  JOIN e ON q.vec_id <> e.vec_id
  QUALIFY rk <= {MLT_TOP_K}
)
"""

# the fusion SELECT is arm-agnostic: any CTE named `sem_ranked` with
# (query_id, neighbor_id, rk) fuses against the MLT arm the same way —
# shared by the exact and the IVFPQ-indexed hybrid oracles
_RRF_FUSION_SELECT = f"""
SELECT
  COALESCE(l.query_id, s.query_id) AS query_id,
  COALESCE(l.neighbor_id, s.neighbor_id) AS neighbor_id,
  round(COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + l.rk), 0.0)
        + COALESCE(CAST(1.0 AS DOUBLE) / ({RRF_K} + s.rk), 0.0), 6) AS rrf
FROM mlt_ranked l
FULL OUTER JOIN sem_ranked s
  ON l.query_id = s.query_id AND l.neighbor_id = s.neighbor_id
QUALIFY row_number() OVER (
  PARTITION BY COALESCE(l.query_id, s.query_id)
  ORDER BY rrf DESC, COALESCE(l.neighbor_id, s.neighbor_id) ASC
) <= {MLT_TOP_K}
"""

_HYBRID_ORACLE = f"""
WITH {_MLT_CTES},
{_SEM_CTE}
{_RRF_FUSION_SELECT}
"""


def _sem_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-cosine semantic arm: top MLT_TOP_K per query over the
    aligned embedding space (same machinery as ann_cosine_topk, fused
    depth/queryset)."""
    from ..functions import dot
    from .similarity import _vectors

    e = _vectors(spark, sf_dir).select("vec_id", "v", "norm")
    q = e.where(F.col("vec_id") < MLT_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qnorm"),
    )
    # the canonical fold (functions.dot) — the same spelling every
    # similarity oracle is calibrated against
    cos = dot("qv", "v") / (F.col("qnorm") * F.col("norm"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        e.crossJoin(F.broadcast(q))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id", F.col("vec_id").alias("neighbor_id"), cos.alias("cosine")
        )
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= MLT_TOP_K)
        .select("query_id", "neighbor_id", "rk")
    )


@register(
    "hybrid_rrf_topk",
    oracle=_HYBRID_ORACLE,
    doc=f"Hybrid retrieval: Reciprocal Rank Fusion (K={RRF_K}) of the "
    "MLT-BM25 lexical arm and the exact-cosine semantic arm over the "
    "aligned doc_id/vec_id space — the standard RAG retrieval stack. "
    "RRF is rank-based (1/(K+rank) per arm, missing arm contributes "
    "0), so no score-scale calibration is needed and the fusion "
    "arithmetic is two integer-derived reciprocals summed in fixed "
    "lex-then-sem order, 6dp-rounded: bit-identical across engines. "
    "Both arms are bounded per-query frames (top-k each), so the "
    "fusion join is broadcast-sized at any corpus scale.",
    tags=("text", "retrieval", "similarity", "join"),
)
def hybrid_rrf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    lex = _mlt_ranked(spark, sf_dir)
    return _rrf_fuse(lex, _sem_ranked(spark, sf_dir))


def _rrf_fuse(lex: DataFrame, sem: DataFrame) -> DataFrame:
    """Arm-agnostic RRF fusion: both inputs are bounded per-query rank
    frames (query_id, neighbor_id, rk) — O(queries × k) rows — so the
    full-outer fusion join is broadcast-sized at any corpus scale."""
    lex = lex.select("query_id", "neighbor_id", F.col("rk").alias("rk_lex"))
    sem = sem.select("query_id", "neighbor_id", F.col("rk").alias("rk_sem"))
    fused = lex.join(sem, ["query_id", "neighbor_id"], "full_outer").select(
        "query_id",
        "neighbor_id",
        F.round(
            F.coalesce(1.0 / (F.lit(RRF_K) + F.col("rk_lex")), F.lit(0.0))
            + F.coalesce(1.0 / (F.lit(RRF_K) + F.col("rk_sem")), F.lit(0.0)),
            6,
        ).alias("rrf"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rrf"), F.asc("neighbor_id"))
    return (
        fused.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= MLT_TOP_K)
        .drop("rk")
    )


# ---- hybrid fusion, indexed semantic arm -------------------------------
# The 100 TB form of hybrid_rrf_topk (VERDICT r8 #2/#4): the semantic
# arm stops re-scanning raw corpus vectors (the exact arm's
# crossJoin(broadcast(q)) is linear-in-corpus per refresh) and instead
# probes the MATERIALIZED IVFPQ index — partition-pruned compressed
# inverted lists, the corpus's raw embeddings never read after build.
# The oracle replays the IDENTICAL IVFPQ approximation (the pq module's
# shared prune CTEs), re-ranked at the hybrid's query set and depth, so
# the fusion is hash-gated over the approximate arm — the layout and
# the compression must not move a single fused neighbor.

_IVFPQ_SEM_RANKED_CTE = f"""
sem_ranked AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY adist ASC, neighbor_id ASC
         ) AS rk
  FROM pruned
  WHERE query_id < {MLT_QUERIES}
  QUALIFY rk <= {MLT_TOP_K}
)
"""


def _hybrid_idx_oracle() -> str:
    from .pq import _IVF_PRUNE_CTES, _PQ_CTES

    return f"""
WITH {_MLT_CTES},
{_PQ_CTES},
{_IVF_PRUNE_CTES},
{_IVFPQ_SEM_RANKED_CTE}
{_RRF_FUSION_SELECT}
"""


def _sem_ranked_ivfpq_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(query_id, neighbor_id, rk): the semantic arm as an IVFPQ index
    probe — ann_ivfpq_topk_indexed's machinery at the hybrid's query
    set (query_id < MLT_QUERIES) and depth (MLT_TOP_K). Raw embeddings
    are read ONLY for the query vectors (vec_id < pushdown filters);
    the corpus side is the cell-partitioned compressed codes table,
    pruned to the probed cells at planning time."""
    from .pq import _ivfpq_index_scored, ensure_ivfpq_index

    scored = _ivfpq_index_scored(
        spark,
        sf_dir,
        ensure_ivfpq_index(spark, sf_dir),
        F.col("query_id") < MLT_QUERIES,
    )
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= MLT_TOP_K)
        .select("query_id", "neighbor_id", "rk")
    )


# ---- shared eval frames: the content-keyed hybrid asset -----------------
# The PageRank-pair precedent applied to the hybrid family: FOUR
# registered faces (the indexed fusion itself + the overlap/nDCG/MRR
# monitors) consume the same two bounded O(queries × k) fused rank
# frames, and before r13 each face re-ran both arms — one corpus-wide
# exact-cosine rescan and one IVFPQ probe per face per run (~4 s × 4
# bench rows). The frames are now materialized ONCE per
# (documents, embeddings) content under the shared ensure_index
# lifecycle (atomic publish, stale prune, race-safe), and every face
# reads the published ≤ MLT_QUERIES × MLT_TOP_K parquet rows — the
# production shape: an eval-frame refresh follows an index rebuild,
# the monitors between refreshes are O(queries × k) frame reads. The
# rrf scores are 6dp-rounded before write, so the parquet round-trip
# is exact and every oracle is unchanged.


def write_hybrid_eval_frames(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Build both fused rank frames with the lexical arm computed ONCE
    (the r9 shared-arm discipline, now per asset build instead of per
    face run): exact_h fuses the indexed-MLT arm with the exact-cosine
    semantic arm, idx_h with the IVFPQ-probe arm."""
    lex = _mlt_ranked_indexed(spark, sf_dir).persist()
    try:
        _rrf_fuse(lex, _sem_ranked(spark, sf_dir)).coalesce(1).write.mode(
            "overwrite"
        ).parquet(os.path.join(path, "exact_h"))
        _rrf_fuse(
            lex, _sem_ranked_ivfpq_indexed(spark, sf_dir)
        ).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(path, "idx_h")
        )
    finally:
        # a failed write must not leak the cached frame in a
        # long-lived driver session (ADVICE r13)
        lex.unpersist()


def ensure_hybrid_eval_frames(spark: SparkSession, sf_dir: str) -> str:
    from .indexcache import ensure_index
    from .similarity import IVF_NPROBE

    # the frames' CONTENT depends on the retrieval tuning constants —
    # query set, depth, RRF constant, probe width — so they key the
    # asset: a constant change publishes fresh frames instead of
    # silently serving stale fusions (ADVICE r13, same class as the
    # simhash-band asset)
    return ensure_index(
        "hybrid_eval_frames",
        sf_dir,
        ("documents", "embeddings"),
        lambda tmp: write_hybrid_eval_frames(spark, sf_dir, tmp),
        version=f"q{MLT_QUERIES}-k{MLT_TOP_K}-rrf{RRF_K}-np{IVF_NPROBE}",
    )


def _hybrid_frames(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    asset = ensure_hybrid_eval_frames(spark, sf_dir)
    return (
        spark.read.parquet(os.path.join(asset, "exact_h")),
        spark.read.parquet(os.path.join(asset, "idx_h")),
    )


@register(
    "hybrid_rrf_topk_indexed",
    oracle=_hybrid_idx_oracle(),
    doc=f"Hybrid RRF retrieval with the INDEXED semantic arm: the MLT "
    "lexical arm fuses against an IVFPQ probe of the materialized "
    "index (ensure_ivfpq_index: cell-partitioned PQ codes + both "
    "frozen quantizers in the asset) instead of the exact "
    "corpus-rescanning cosine arm — the deployment form at 100 TB, "
    "where the per-refresh semantic cost is O(probed lists) in "
    "compressed form, not O(corpus) raw-vector dots. Fusion is the "
    f"same K={RRF_K} RRF over bounded per-query rank frames; the "
    "oracle replays the identical IVFPQ approximation (shared prune "
    "CTEs) so the index layout is hash-gated through the fusion. "
    "Served (r13) from the content-keyed hybrid eval-frames asset: "
    "both arms and the fusion run inside the asset build once per "
    "(documents, embeddings) content — with the lexical arm off the "
    "materialized BM25 index, score-identical to the scan form under "
    "the same _MLT oracle CTEs — and this face reads the published "
    "O(queries x k) frame (the PageRank ranks-asset precedent: four "
    "faces, one build).",
    tags=("text", "retrieval", "similarity", "ann", "pq", "ivf", "warehouse"),
)
def hybrid_rrf_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _hybrid_frames(spark, sf_dir)[1]


# ---- hybrid drift monitor -----------------------------------------------
# The fusion-level analogue of the ANN recall trio (similarity.py
# recall_oracle): the IVFPQ recall monitors measure quantizer loss at
# the VECTOR layer; this measures what that loss does to the SERVED
# ranking — overlap@k between the exact-arm hybrid and the
# indexed-arm hybrid. The number an operator actually watches after a
# codebook retrain or an index rebuild: if fused top-k churn exceeds
# budget, raise nprobe / retrain before the degraded ranking reaches
# training-data mining.


def _hybrid_overlap_oracle() -> str:
    return f"""
WITH exact_h AS ({_HYBRID_ORACLE}),
idx_h AS ({_hybrid_idx_oracle()}),
hits AS (
  SELECT e.query_id, count(*) AS n_hits
  FROM exact_h e JOIN idx_h i USING (query_id, neighbor_id)
  GROUP BY 1
)
SELECT q.query_id, coalesce(h.n_hits, 0) AS n_hits,
       round(coalesce(h.n_hits, 0) / {MLT_TOP_K}.0, 6) AS overlap
FROM (SELECT DISTINCT query_id FROM exact_h) q
LEFT JOIN hits h USING (query_id)
"""


@register(
    "hybrid_overlap_at_k",
    oracle=_hybrid_overlap_oracle(),
    doc=f"Fused-ranking drift monitor: per query, |exact-arm hybrid "
    f"top{MLT_TOP_K} ∩ indexed-arm hybrid top{MLT_TOP_K}| / "
    f"{MLT_TOP_K}. The ANN recall trio watches quantizer loss at the "
    "vector layer; this watches what survives to the SERVED fused "
    "ranking — the acceptance gate for swapping the exact semantic "
    "arm for the IVFPQ probe in production. Pure composition of two "
    "independently hash-gated queries; the join touches only the "
    "O(queries × k) fused frames, so at corpus scale eval cost is one "
    "indexed probe + one exact-arm replay over the same fixed query "
    "sample.",
    tags=("text", "retrieval", "similarity", "eval"),
)
def hybrid_overlap_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: both fused frames come from the content-keyed eval-frames
    # asset (ensure_hybrid_eval_frames) — the shared-lex-arm discipline
    # this face established in r9 (VERDICT r9 #2) now lives in the
    # asset build, paid once per corpus content instead of once per
    # monitor run; this body is two bounded frame reads + one
    # O(queries × k) join.
    exact_f, idx_f = _hybrid_frames(spark, sf_dir)
    exact_h = exact_f.select("query_id", "neighbor_id")
    idx_h = idx_f.select("query_id", "neighbor_id")
    hits = (
        exact_h.join(idx_h, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count("*").alias("n_hits"))
    )
    qs = exact_h.select("query_id").distinct()
    n = F.coalesce(F.col("n_hits"), F.lit(0))
    return qs.join(hits, "query_id", "left").select(
        "query_id",
        n.alias("n_hits"),
        F.round(n / F.lit(float(MLT_TOP_K)), 6).alias("overlap"),
    )


# ---- graded ranking quality: nDCG@k -------------------------------------

# Ideal DCG by gold-list length: _IDCG_BY_LEN[n] is the DCG of a
# perfect ranking of an n-item gold list (gains k+1-r at positions
# 1..n). A short fused gold list (< k rows at small fixture scales)
# must be normalized by ITS OWN ideal, not the full-depth constant —
# otherwise a perfect ranking of it can never reach ndcg=1 (ADVICE
# r11 #3). Computed once in Python, embedded as the same IEEE
# literals in both engines (repr round-trips doubles exactly), and
# indexed by n_gold at query time, so the only runtime float ops
# (one divide, one round) are engine-identical.
_IDCG_BY_LEN: list[float] = [0.0]
for _p in range(1, MLT_TOP_K + 1):
    _IDCG_BY_LEN.append(
        _IDCG_BY_LEN[-1] + (MLT_TOP_K + 1 - _p) / math.log2(_p + 1)
    )


def _idcg_literals() -> str:
    return ", ".join(f"CAST({v!r} AS DOUBLE)" for v in _IDCG_BY_LEN)


def _hybrid_ranked_ctes() -> str:
    """WITH exact_h (gold fusion), idx_h (indexed fusion) and sysr: the
    indexed fusion's rank p per query, shared by the nDCG and MRR
    oracles."""
    return f"""WITH exact_h AS ({_HYBRID_ORACLE}),
idx_h AS ({_hybrid_idx_oracle()}),
sysr AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY rrf DESC, neighbor_id ASC
         ) AS p
  FROM idx_h
)"""


def _hybrid_ndcg_oracle() -> str:
    return f"""
{_hybrid_ranked_ctes()},
gold AS (
  SELECT query_id, neighbor_id,
         row_number() OVER (
           PARTITION BY query_id ORDER BY rrf DESC, neighbor_id ASC
         ) AS r
  FROM exact_h
),
dcg AS (
  SELECT s.query_id,
         COUNT(g.r)::BIGINT AS n_rel,
         SUM(CASE WHEN g.r IS NULL THEN 0.0
             ELSE ({MLT_TOP_K} + 1 - g.r) / log2(s.p + 1) END) AS dcg
  FROM sysr s
  LEFT JOIN gold g
    ON s.query_id = g.query_id AND s.neighbor_id = g.neighbor_id
  GROUP BY 1
),
gold_n AS (
  SELECT query_id, COUNT(*)::BIGINT AS n_gold FROM gold GROUP BY 1
)
SELECT q.query_id,
       COALESCE(d.n_rel, 0)::BIGINT AS n_rel,
       round(COALESCE(d.dcg, 0.0) /
             list_extract([{_idcg_literals()}], gn.n_gold + 1), 6) AS ndcg
FROM (SELECT DISTINCT query_id FROM exact_h) q
JOIN gold_n gn USING (query_id)
LEFT JOIN dcg d USING (query_id)
"""


@register(
    "hybrid_ndcg_at_k",
    oracle=_hybrid_ndcg_oracle(),
    doc=f"Graded ranking quality of the SERVED (indexed-arm) hybrid "
    "against the exact-arm hybrid as gold: relevance of a fused "
    f"neighbor = {MLT_TOP_K}+1-r for its gold rank r (0 if absent), "
    "DCG discounts by log2(position+1), normalized by the PER-QUERY "
    "ideal DCG of the gold list's actual length (ADVICE r11 #3: a "
    "short gold list's perfect ranking reaches ndcg=1) — nDCG@k, the "
    "graded refinement of hybrid_overlap_at_k "
    "(overlap counts set membership; nDCG also charges the index for "
    "putting the right documents in the WRONG ORDER — the number a "
    "retrieval deployment actually tracks). Both rankings order by "
    "the 6dp-rounded rrf with neighbor-id ties, so positions are "
    "engine-exact; the per-query DCG sums ≤ k log2 terms and is "
    "6dp-rounded (the q15 convention covers the libm call); the ideal "
    "DCGs are k+1 Python-computed IEEE literals indexed by gold-list "
    "length, shared by both engines. "
    "Same bounded composition economics as the overlap monitor: one "
    "shared indexed-MLT arm, O(queries × k) frames end to end.",
    tags=("text", "retrieval", "similarity", "eval"),
)
def hybrid_ndcg_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: fused frames off the shared content-keyed asset (see
    # hybrid_overlap_at_k) — rrf is 6dp-rounded before the asset
    # write, so the parquet round-trip keeps the ordering engine-exact.
    exact_h, idx_h = _hybrid_frames(spark, sf_dir)
    wp = Window.partitionBy("query_id").orderBy(
        F.desc("rrf"), F.asc("neighbor_id")
    )
    sysr = idx_h.select(
        "query_id", "neighbor_id", F.row_number().over(wp).alias("p")
    )
    gold = exact_h.select(
        "query_id", "neighbor_id", F.row_number().over(wp).alias("r")
    )
    gain = (F.lit(MLT_TOP_K) + 1 - F.col("r")).cast("double")
    dcg = (
        sysr.join(gold, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("r").alias("n_rel"),
            F.sum(
                F.when(F.col("r").isNull(), F.lit(0.0)).otherwise(
                    gain / F.log2(F.col("p") + 1)
                )
            ).alias("dcg"),
        )
    )
    gold_n = gold.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_gold")
    )
    idcg = F.element_at(
        F.array(*[F.lit(v) for v in _IDCG_BY_LEN]),
        (F.col("n_gold") + 1).cast("int"),
    )
    qs = exact_h.select("query_id").distinct()
    return (
        qs.join(gold_n, "query_id")
        .join(dcg, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_rel", F.lit(0)).cast("long").alias("n_rel"),
            F.round(F.coalesce("dcg", F.lit(0.0)) / idcg, 6).alias("ndcg"),
        )
    )


# ---- graded ranking quality: MRR@k --------------------------------------


def _hybrid_mrr_oracle() -> str:
    return f"""
{_hybrid_ranked_ctes()},
hit AS (
  SELECT s.query_id, CAST(min(s.p) AS BIGINT) AS first_rel
  FROM sysr s
  JOIN exact_h g
    ON s.query_id = g.query_id AND s.neighbor_id = g.neighbor_id
  GROUP BY 1
)
SELECT q.query_id,
       COALESCE(h.first_rel, 0)::BIGINT AS first_rel,
       round(CASE WHEN h.first_rel IS NULL THEN 0.0
                  ELSE 1.0 / h.first_rel END, 6) AS rr
FROM (SELECT DISTINCT query_id FROM exact_h) q
LEFT JOIN hit h USING (query_id)
"""


@register(
    "hybrid_mrr_at_k",
    oracle=_hybrid_mrr_oracle(),
    doc="Mean-reciprocal-rank leg of the served-hybrid grading family: "
    "per query, the first position in the INDEXED-arm fused ranking "
    "occupied by any exact-arm gold neighbor, emitted as 1/position "
    "(0 if the gold set is entirely missed) — the navigational-search "
    "complement of nDCG@k (nDCG grades the whole list; RR grades time-"
    "to-first-relevant, the number interactive retrieval tracks). "
    "Positions come from the same 6dp-rounded rrf ordering as the "
    "overlap/nDCG monitors, so ranks are engine-exact and the only "
    "float ops (one divide, one round) are identical in both engines. "
    "Same bounded composition economics: one shared indexed-MLT arm, "
    "O(queries x k) frames end to end.",
    tags=("text", "retrieval", "similarity", "eval"),
)
def hybrid_mrr_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: fused frames off the shared content-keyed asset (see
    # hybrid_overlap_at_k).
    exact_h, idx_h = _hybrid_frames(spark, sf_dir)
    wp = Window.partitionBy("query_id").orderBy(
        F.desc("rrf"), F.asc("neighbor_id")
    )
    sysr = idx_h.select(
        "query_id", "neighbor_id", F.row_number().over(wp).alias("p")
    )
    hit = (
        sysr.join(
            exact_h.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
        )
        .groupBy("query_id")
        .agg(F.min("p").cast("long").alias("first_rel"))
    )
    qs = exact_h.select("query_id").distinct()
    return qs.join(hit, "query_id", "left").select(
        "query_id",
        F.coalesce("first_rel", F.lit(0)).cast("long").alias("first_rel"),
        F.round(
            F.when(F.col("first_rel").isNull(), F.lit(0.0)).otherwise(
                F.lit(1.0) / F.col("first_rel")
            ),
            6,
        ).alias("rr"),
    )


# ---- hard-negative mining ----------------------------------------------

_HARDNEG_ORACLE = f"""
WITH {_MLT_CTES},
{_SEM_CTE}
SELECT l.query_id, l.neighbor_id, l.mlt_bm25,
       CAST(row_number() OVER (
         PARTITION BY l.query_id ORDER BY l.rk ASC
       ) AS BIGINT) AS neg_rank
FROM mlt_ranked l
LEFT JOIN sem_ranked s
  ON l.query_id = s.query_id AND l.neighbor_id = s.neighbor_id
WHERE s.neighbor_id IS NULL
"""


@register(
    "hard_negatives_topk",
    oracle=_HARDNEG_ORACLE,
    doc="Hard-negative mining for contrastive retrieval training: per "
    "query document, the lexically-similar candidates (MLT-BM25 top-"
    f"{MLT_TOP_K}) that do NOT appear in the semantic top-{MLT_TOP_K} "
    "— BM25-close but embedding-distant, exactly the negatives a "
    "bi-encoder is trained against (the BM25-negatives recipe of DPR, "
    "Karpukhin et al. 2020). Pure composition of the two "
    "independently-gated arms: one anti-join over the bounded "
    "O(queries × k) rank frames, re-ranked densely per query — "
    "broadcast-sized at any corpus scale.",
    tags=("text", "retrieval", "similarity", "join"),
)
def hard_negatives_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    lex = _mlt_ranked(spark, sf_dir).select(
        "query_id", "neighbor_id", "mlt_bm25", "rk"
    )
    sem = _sem_ranked(spark, sf_dir).select("query_id", "neighbor_id")
    neg = lex.join(sem, ["query_id", "neighbor_id"], "left_anti")
    w = Window.partitionBy("query_id").orderBy(F.asc("rk"))
    return neg.select(
        "query_id",
        "neighbor_id",
        "mlt_bm25",
        F.row_number().over(w).cast("long").alias("neg_rank"),
    )
