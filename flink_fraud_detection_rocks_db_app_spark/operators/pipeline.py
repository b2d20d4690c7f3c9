"""End-to-end training-data prep pipeline — the composition the
extension pillars exist for (SURVEY §7 phase E): quality-filter ->
exact-dedup -> corpus report, as ONE declarative plan.

This is the canonical pre-LLM corpus pass: score every document with
cheap scan-local heuristics, drop the low-quality tail, collapse exact
duplicates (keep the lowest doc_id), and report per-language corpus
composition. At 100 TB the whole pipeline is two shuffles — one
hash-group on the text fingerprint (only (fp, doc_id, small scalars)
shuffle, never the text) and one tiny per-language rollup — everything
else rides the scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import load
from ..registry import register
from .dedup import NORM_SQL_DUCK, NORM_SQL_SPARK
from .text import STOPWORDS, _STOP_SQL

QUALITY_CUTOFF = 0.55  # ~median of the fixture's quality distribution


# The scored-documents CTEs (t: tokenized + fingerprint; m: + 6dp
# quality) — shared by the prep oracle (which the batch plan AND the
# streaming-ingestion face must both reproduce) and the per-source
# cap oracle.
QUALITY_CTES = f"""
t AS (
  SELECT doc_id, lang, source, string_split(lower(text), ' ') AS w,
         md5({NORM_SQL_DUCK}) AS fp
  FROM documents
),
m AS (
  SELECT doc_id, lang, source, fp, len(w) AS n_tokens,
         round(0.4 * LEAST(len(w) / 100.0, 1.0)
             + 0.4 * len(list_distinct(w))::DOUBLE / len(w)
             + 0.2 * (1.0 - ABS(len(list_filter(w, x -> x IN ('{_STOP_SQL}')))::DOUBLE
                               / len(w) - 0.4)), 6) AS quality
  FROM t
)
"""

PREP_ORACLE = f"""
WITH {QUALITY_CTES},
q AS (SELECT * FROM m WHERE quality >= {QUALITY_CUTOFF}),
kept AS (SELECT fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies FROM q GROUP BY 1),
surv AS (SELECT q.*, k.n_copies FROM q JOIN kept k ON q.doc_id = k.keep_id)
SELECT lang,
       COUNT(*) AS n_docs,
       CAST(SUM(n_copies - 1) AS BIGINT) AS n_dups_removed,
       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
       round(AVG(quality), 6) AS avg_quality
FROM surv GROUP BY lang
"""


def quality_gated_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, fp, n_tokens, quality) for documents passing the
    quality cutoff — the scan-local front half of the prep pipeline,
    shared verbatim by the batch plan and the streaming-ingestion face
    (each micro-batch runs this over just its arrivals)."""
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    m = docs.selectExpr(
        "doc_id",
        "lang",
        "source",
        f"md5(encode({NORM_SQL_SPARK}, 'UTF-8')) AS fp",
        "CAST(size(split(lower(text), ' ')) AS BIGINT) AS n_tokens",
        "size(array_distinct(split(lower(text), ' '))) "
        "  / CAST(size(split(lower(text), ' ')) AS DOUBLE) AS distinct_ratio",
        f"size(filter(split(lower(text), ' '), x -> x IN ({stop_list}))) "
        "  / CAST(size(split(lower(text), ' ')) AS DOUBLE) AS stop_ratio",
    ).withColumn(
        "quality",
        F.round(
            0.4 * F.least(F.col("n_tokens") / 100.0, F.lit(1.0))
            + 0.4 * F.col("distinct_ratio")
            + 0.2 * (1.0 - F.abs(F.col("stop_ratio") - 0.4)),
            6,
        ),
    )
    return m.where(F.col("quality") >= QUALITY_CUTOFF).select(
        "doc_id", "lang", "source", "fp", "n_tokens", "quality"
    )


def corpus_report(surv: DataFrame) -> DataFrame:
    """Per-language corpus report over survivor rows carrying
    (lang, n_copies, n_tokens, quality) — the shared back half."""
    # avg_quality rounded 6dp on emit (registry convention): the mean of
    # 6dp-rounded qualities is still summation-order-sensitive at ULP
    return surv.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.col("n_copies") - 1).alias("n_dups_removed"),
        F.sum("n_tokens").alias("total_tokens"),
        F.round(F.avg("quality"), 6).alias("avg_quality"),
    )


@register(
    "corpus_prep_pipeline",
    oracle=PREP_ORACLE,
    doc=f"Training-data prep pipeline: quality score (rounded 6dp, "
    f"cutoff {QUALITY_CUTOFF} — fp-safe gate) -> exact dedup on the "
    "normalized-text fingerprint (keep lowest doc_id; duplicate credit "
    "attributed to the survivor's language) -> per-language corpus "
    "report. One plan, two shuffles; the fixture has exact dups only "
    "at sf0.1, so n_dups_removed is 0 at smaller sf by design.",
    tags=("pipeline", "dedup", "text"),
)
def corpus_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = quality_gated_docs(load(spark, sf_dir, "documents"))
    kept = q.groupBy("fp").agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies")
    )
    surv = q.join(kept, q.doc_id == kept.keep_id)
    return corpus_report(surv)


SOURCE_CAP = 10  # fixture: 20 sources x 25-250 docs — the cap always bites


@register(
    "source_cap_docs",
    oracle=f"""
WITH {{QUALITY_CTES}},
q AS (SELECT * FROM m WHERE quality >= {{QUALITY_CUTOFF}})
SELECT doc_id, source, quality, CAST(rk AS BIGINT) AS rk FROM (
  SELECT doc_id, source, quality,
         row_number() OVER (
           PARTITION BY source ORDER BY quality DESC, doc_id ASC
         ) AS rk
  FROM q
) WHERE rk <= {{SOURCE_CAP}}
""".format(QUALITY_CTES=QUALITY_CTES, QUALITY_CUTOFF=QUALITY_CUTOFF,
           SOURCE_CAP=SOURCE_CAP),
    doc=f"Per-source frequency cap (the RefinedWeb/FineWeb "
    "over-representation control): after the quality gate, keep at "
    f"most {SOURCE_CAP} documents per source, preferring the "
    "highest-quality copies (6dp quality desc, doc_id tiebreak) — so "
    "no single domain/dump dominates the training mixture however "
    "large its crawl share. One hash shuffle on source + a "
    "WindowGroupLimit rank (top-k pushdown, no full sort); quality "
    "scoring rides the scan. At 100 TB source cardinality ~ domains, "
    "so partitions stay balanced; a pathological mega-source is the "
    "documented AQE-skew case.",
    tags=("sampling", "text", "quality"),
)
def source_cap_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    q = quality_gated_docs(load(spark, sf_dir, "documents"))
    w = Window.partitionBy("source").orderBy(F.desc("quality"), F.asc("doc_id"))
    return (
        q.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= SOURCE_CAP)
        .select("doc_id", "source", "quality", F.col("rk").cast("long").alias("rk"))
    )


def prep_segment(batch: DataFrame) -> DataFrame:
    """One ledger segment from one micro-batch of raw documents:
    quality-gate the arrivals (quality_gated_docs, verbatim), then
    aggregate per fingerprint — (fp, min_id, n_copies, attrs) where
    attrs carries the lowest-doc (lang, n_tokens, quality). What the
    streaming-ingestion face's foreachBatch writes per batch."""
    return (
        quality_gated_docs(batch)
        .groupBy("fp")
        .agg(
            F.min("doc_id").alias("min_id"),
            F.count("*").alias("n_copies"),
            F.min_by(F.struct("lang", "n_tokens", "quality"), "doc_id").alias(
                "attrs"
            ),
        )
    )


def merge_prep_segments(segs: DataFrame) -> DataFrame:
    """Merge per-batch fp-aggregate ledger segments: (fp, min_id,
    n_copies, attrs) rows from any number of segments collapse to one
    row per fingerprint — min-of-mins keep policy, summed copy counts,
    the surviving (lowest-doc) attributes. min/sum are commutative and
    doc_ids are globally unique, so the result is independent of how
    arrivals were batched. Shared by the streaming face's probe and
    the ledger compactor (one definition of the merge)."""
    return segs.groupBy("fp").agg(
        F.min("min_id").alias("min_id"),
        F.sum("n_copies").alias("n_copies"),
        F.min_by("attrs", "min_id").alias("attrs"),
    )


def compact_prep_ledger(spark: SparkSession, ledger: str) -> int:
    """Rewrite the prep ledger's per-batch segments as ONE merged
    segment — the compaction policy the streaming-ingestion face's
    scale posture assumes: segments accrete one per micro-batch, and
    while per-fp volume is bounded, probe-time merge cost (file
    listing + small-file reads) grows with batch count. Compaction
    applies the IDENTICAL merge the probe performs (merge_prep_segments
    — associative, so compact-then-merge == merge), so the per-language
    report is preserved by construction (pinned by test).

    Crash-recoverable whole-directory swap (indexcache._swap_dir): the
    merged segment is staged into a sibling '.tmp-' ledger and swapped
    in; a crash mid-swap is healed by _recover_swap on the next call,
    and staged and live segments are never globbed together. Returns
    the number of segments compacted away (0 = already compact,
    no-op)."""
    import os
    import uuid

    from .indexcache import _recover_swap, _swap_dir

    _recover_swap(ledger)
    segs = sorted(
        d for d in os.listdir(ledger) if d.startswith("seg=")
    )
    if len(segs) <= 1:
        return 0
    merged = merge_prep_segments(spark.read.parquet(ledger).drop("seg"))
    tmp = f"{ledger}.tmp-{uuid.uuid4().hex[:8]}"
    # the compacted segment gets a name NO foreachBatch can produce:
    # batch ids are numeric, and a restarted stream on a FRESH
    # checkpoint restarts them at 0 — a compacted segment named seg=0
    # would be silently overwritten by that stream's first batch
    merged.write.mode("overwrite").parquet(
        os.path.join(tmp, f"seg=c{uuid.uuid4().hex[:8]}")
    )
    _swap_dir(ledger, tmp)
    return len(segs) - 1


@register(
    "dq_audit",
    oracle="""
SELECT 'events_null_type' AS check_name,
       CAST(COUNT(*) FILTER (event_type IS NULL) AS BIGINT) AS n_violations
FROM events
UNION ALL
SELECT 'events_value_out_of_range',
       CAST(COUNT(*) FILTER (value < 0 OR value > 1000) AS BIGINT)
FROM events
UNION ALL
SELECT 'events_dup_event_id',
       CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT)
FROM events
UNION ALL
SELECT 'orders_orphan_customer', CAST(COUNT(*) AS BIGINT)
FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
UNION ALL
SELECT 'lineitem_orphan_order', CAST(COUNT(*) AS BIGINT)
FROM lineitem WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
UNION ALL
SELECT 'lineitem_ship_before_order', CAST(COUNT(*) AS BIGINT)
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate < o_orderdate
UNION ALL
SELECT 'documents_empty_text', CAST(COUNT(*) FILTER (length(text) = 0) AS BIGINT)
FROM documents
""",
    doc="Data-quality audit: one (check_name, n_violations) row per "
    "expectation — null keys, domain ranges, duplicate primary keys, "
    "referential integrity (anti-joins on the join keys the warehouse "
    "buckets by), and cross-table temporal sanity. Each check is a "
    "scan-local conditional count or a keyed anti-join; the union is "
    "of 7 single-row aggregates, so the audit costs one pass over "
    "each fact table regardless of corpus size",
    tags=("batch", "pipeline", "quality"),
)
def dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    li = load(spark, sf_dir, "lineitem")
    docs = load(spark, sf_dir, "documents")

    def one(name, df):
        return df.select(
            F.lit(name).alias("check_name"),
            F.count("*").alias("n_violations"),
        )

    null_type = ev.agg(
        F.count(F.when(F.col("event_type").isNull(), 1)).alias("n")
    ).select(F.lit("events_null_type").alias("check_name"), F.col("n").alias("n_violations"))
    out_of_range = ev.agg(
        F.count(F.when((F.col("value") < 0) | (F.col("value") > 1000), 1)).alias("n")
    ).select(
        F.lit("events_value_out_of_range").alias("check_name"),
        F.col("n").alias("n_violations"),
    )
    dup_ids = ev.agg(
        (F.count("*") - F.count_distinct("event_id")).alias("n")
    ).select(
        F.lit("events_dup_event_id").alias("check_name"), F.col("n").alias("n_violations")
    )
    orphan_orders = one(
        "orders_orphan_customer",
        orders.join(cust, orders.o_custkey == cust.c_custkey, "left_anti"),
    )
    orphan_items = one(
        "lineitem_orphan_order",
        li.join(orders, li.l_orderkey == orders.o_orderkey, "left_anti"),
    )
    ship_before = one(
        "lineitem_ship_before_order",
        li.join(orders, li.l_orderkey == orders.o_orderkey).where(
            F.col("l_shipdate") < F.col("o_orderdate")
        ),
    )
    empty_docs = docs.agg(
        F.count(F.when(F.length("text") == 0, 1)).alias("n")
    ).select(
        F.lit("documents_empty_text").alias("check_name"), F.col("n").alias("n_violations")
    )
    return (
        null_type.unionByName(out_of_range)
        .unionByName(dup_ids)
        .unionByName(orphan_orders)
        .unionByName(orphan_items)
        .unionByName(ship_before)
        .unionByName(empty_docs)
    )
