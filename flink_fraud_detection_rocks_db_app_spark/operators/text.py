"""Text-analysis operators over `documents`: token stats, quality
scoring, language-ID heuristic — SURVEY §7 phase E. All pure JVM
expressions (split/size/array ops) with exact DuckDB oracles; no UDFs
in any hot path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..fixtures import load
from ..functions.hashing import HASH_DUCK as _HASH_DUCK
from ..functions.hashing import HASH_SPARK as _HASH_SPARK
from ..registry import register

STOPWORDS = ("the", "a", "of", "and", "to", "in")
_STOP_SQL = "', '".join(STOPWORDS)

# Marker-token profiles for the n-gram language-ID heuristic. The
# fixture's texts are synthetic (shared vocabulary), so the *accuracy*
# of the guess is irrelevant; the operator contract is the scoring
# pipeline: tokenize -> per-language marker hit count -> deterministic
# argmax (ties broken by fixed language order).
LANG_MARKERS = {
    "en": ("the", "a", "value", "table"),
    "de": ("der", "und", "agg", "window"),
    "fr": ("le", "la", "query", "join"),
    "es": ("el", "los", "data", "row"),
    "zh": ("spark", "merge", "batch", "line"),
}


@register(
    "doc_token_stats",
    oracle=f"""
WITH t AS (SELECT doc_id, n_chars, string_split(lower(text), ' ') AS w FROM documents)
SELECT doc_id,
       len(w) AS n_tokens,
       len(list_distinct(w)) AS n_distinct,
       n_chars,
       len(list_filter(w, x -> x IN ('{_STOP_SQL}'))) AS n_stopwords
FROM t
""",
    doc="Token counting: whitespace tokens, distinct tokens, stopword hits "
    "(all scan-local expressions; zero shuffle)",
    tags=("text",),
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    return load(spark, sf_dir, "documents").selectExpr(
        "doc_id",
        "CAST(size(split(lower(text), ' ')) AS BIGINT) AS n_tokens",
        "CAST(size(array_distinct(split(lower(text), ' '))) AS BIGINT) AS n_distinct",
        "n_chars",
        f"CAST(size(filter(split(lower(text), ' '), x -> x IN ({stop_list}))) AS BIGINT) AS n_stopwords",
    )


# The ONE quality-score formula, shared (as SQL) by doc_quality_score's
# oracle and the curriculum-bucket oracle in sampling.py — edit here and
# both oracles move together with the Spark form below.
QUALITY_SQL_CTES = f"""
t AS (SELECT doc_id, lang, n_chars, string_split(lower(text), ' ') AS w FROM documents),
m AS (
  SELECT doc_id, lang, n_chars,
         len(w) AS n_tokens,
         len(list_distinct(w))::DOUBLE / len(w) AS distinct_ratio,
         len(list_filter(w, x -> x IN ('{_STOP_SQL}')))::DOUBLE / len(w) AS stop_ratio
  FROM t
),
quality AS (
  SELECT doc_id, lang,
         round(0.4 * LEAST(n_tokens / 100.0, 1.0)
             + 0.4 * distinct_ratio
             + 0.2 * (1.0 - ABS(stop_ratio - 0.4)), 6) AS quality
  FROM m
)
"""


def quality_over(docs: DataFrame) -> DataFrame:
    """(doc_id, quality) over any documents frame: the Spark form of
    QUALITY_SQL_CTES."""
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    m = docs.selectExpr(
        "doc_id",
        "size(split(lower(text), ' ')) AS n_tokens",
        "size(array_distinct(split(lower(text), ' '))) / CAST(size(split(lower(text), ' ')) AS DOUBLE) AS distinct_ratio",
        f"size(filter(split(lower(text), ' '), x -> x IN ({stop_list}))) / CAST(size(split(lower(text), ' ')) AS DOUBLE) AS stop_ratio",
    )
    quality = F.round(
        0.4 * F.least(F.col("n_tokens") / 100.0, F.lit(1.0))
        + 0.4 * F.col("distinct_ratio")
        + 0.2 * (1.0 - F.abs(F.col("stop_ratio") - 0.4)),
        6,
    )
    return m.select("doc_id", quality.alias("quality"))


@register(
    "doc_quality_score",
    oracle=f"""
WITH {QUALITY_SQL_CTES}
SELECT doc_id, quality FROM quality
""",
    doc="Quality score: length saturation + lexical diversity + stopword-"
    "ratio proximity, rounded to 6dp so the score is engine-stable. The "
    "standard cheap pre-LLM data filter shape.",
    tags=("text",),
)
def doc_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    return quality_over(load(spark, sf_dir, "documents"))


PSI_BATCH_MOD = 8  # batch = doc_id % MOD == MOD-1, the IVF/zorder split
PSI_BUCKETS = 10


# Shared by the batch face and its streaming-ledger twin
# (stream_quality_psi_replay): one definition of the PSI replay.
_PSI_ORACLE = f"""
WITH {QUALITY_SQL_CTES},
scored AS (
  SELECT doc_id, LEAST({PSI_BUCKETS - 1}, FLOOR(quality * {PSI_BUCKETS})::BIGINT)
           AS bucket,
         (doc_id % {PSI_BATCH_MOD} = {PSI_BATCH_MOD - 1}) AS is_batch
  FROM quality
),
counts AS (
  SELECT bucket,
         SUM(CASE WHEN NOT is_batch THEN 1 ELSE 0 END)::BIGINT AS n_base,
         SUM(CASE WHEN is_batch THEN 1 ELSE 0 END)::BIGINT AS n_batch
  FROM scored GROUP BY bucket
),
spine AS (SELECT unnest(range({PSI_BUCKETS})) AS bucket),
dense AS (
  SELECT s.bucket, COALESCE(c.n_base, 0) AS n_base, COALESCE(c.n_batch, 0) AS n_batch
  FROM spine s LEFT JOIN counts c USING (bucket)
),
tot AS (SELECT SUM(n_base)::BIGINT AS tb, SUM(n_batch)::BIGINT AS tq FROM dense)
SELECT bucket, n_base, n_batch,
       round(((n_batch + 1)::DOUBLE / (tq + {PSI_BUCKETS})
            - (n_base + 1)::DOUBLE / (tb + {PSI_BUCKETS}))
           * ln(((n_batch + 1)::DOUBLE / (tq + {PSI_BUCKETS}))
              / ((n_base + 1)::DOUBLE / (tb + {PSI_BUCKETS}))), 6) AS psi_term
FROM dense CROSS JOIN tot
"""


@register(
    "quality_psi_drift",
    oracle=_PSI_ORACLE,
    doc="Population-stability-index drift monitor over the quality-"
    "score distribution — the data-drift gate a training pipeline "
    "runs per ingest batch before letting it into the mix: base "
    f"corpus (doc_id % {PSI_BATCH_MOD} != {PSI_BATCH_MOD - 1}) vs the "
    "arriving batch, bucketed into "
    f"{PSI_BUCKETS} fixed score deciles (dense spine — empty buckets "
    "surface as zeros, not missing rows), Laplace-smoothed shares, "
    "per-bucket PSI contribution (sum ≥ 0.2 is the classic alarm). "
    "Scores come from the SHARED quality formula (QUALITY_SQL_CTES), "
    "already 6dp-engine-stable; bucket floors act on 6dp multiples so "
    "they cannot flip, and the emitted psi_term is 6dp-rounded "
    "(ln is the one libm call — the q15 rounding convention covers "
    "it). Scale: one scan-local scoring pass, a 10-group aggregate "
    "with map-side partials, a one-row totals broadcast — cost ∝ "
    "corpus scan and nothing else; at 100 TB the base distribution "
    "is a persisted 10-row asset and the monitor prices one batch "
    "scan.",
    tags=("text", "eval"),
)
def quality_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = doc_quality_score(spark, sf_dir)
    scored = q.select(
        F.least(
            F.lit(PSI_BUCKETS - 1), F.floor(F.col("quality") * PSI_BUCKETS)
        )
        .cast("long")
        .alias("bucket"),
        (F.col("doc_id") % PSI_BATCH_MOD == PSI_BATCH_MOD - 1).alias("is_batch"),
    )
    return psi_report(scored)


def psi_report(scored: DataFrame) -> DataFrame:
    """PSI contributions from a (bucket, is_batch) frame — the shared
    computation behind quality_psi_drift, reusable for any bucketed
    base-vs-batch comparison (language shares, length deciles, ...)."""
    counts = scored.groupBy("bucket").agg(
        F.sum(F.when(~F.col("is_batch"), 1).otherwise(0)).alias("n_base"),
        F.sum(F.when(F.col("is_batch"), 1).otherwise(0)).alias("n_batch"),
    )
    return psi_from_counts(counts)


def psi_from_counts(counts: DataFrame) -> DataFrame:
    """PSI contributions from a sparse (bucket, n_base, n_batch)
    counts frame — the mergeable-histogram entry point: per-batch
    bucket counts are associative, so a streaming ledger of 10-row
    histogram segments sums into the same report
    (stream_quality_psi_replay)."""
    spark = counts.sparkSession
    spine = spark.range(PSI_BUCKETS).select(F.col("id").alias("bucket"))
    dense = spine.join(F.broadcast(counts), "bucket", "left").select(
        "bucket",
        F.coalesce("n_base", F.lit(0)).cast("long").alias("n_base"),
        F.coalesce("n_batch", F.lit(0)).cast("long").alias("n_batch"),
    )
    tot = dense.agg(
        F.sum("n_base").alias("tb"), F.sum("n_batch").alias("tq")
    )
    p = (F.col("n_base") + 1).cast("double") / (F.col("tb") + PSI_BUCKETS)
    qq = (F.col("n_batch") + 1).cast("double") / (F.col("tq") + PSI_BUCKETS)
    return dense.join(F.broadcast(tot)).select(
        "bucket",
        "n_base",
        "n_batch",
        F.round((qq - p) * F.log(qq / p), 6).alias("psi_term"),
    )


def quality_buckets_over(docs: DataFrame) -> DataFrame:
    """(doc_id, bucket) over any documents frame — the one bucketing
    definition (quality_over + the decile floor), shared by the batch
    face's scorer and the streaming ledger's per-chunk segments."""
    return quality_over(docs).select(
        "doc_id",
        F.least(F.lit(PSI_BUCKETS - 1), F.floor(F.col("quality") * PSI_BUCKETS))
        .cast("long")
        .alias("bucket"),
    )


def _langid_sql_duck() -> str:
    score_cols = []
    for lang, markers in LANG_MARKERS.items():
        lst = "', '".join(markers)
        score_cols.append(
            f"len(list_filter(w, x -> x IN ('{lst}'))) AS s_{lang}"
        )
    scores = ",\n       ".join(score_cols)
    # deterministic argmax, first-language-wins ties: lang L wins iff its
    # score strictly exceeds the max of all earlier languages AND no later
    # language beats its own predecessors — i.e. check candidates in
    # REVERSE order (mirrors the last-overwrite-wins fold on the Spark side)
    langs = list(LANG_MARKERS)
    case = ""
    for idx in range(len(langs) - 1, 0, -1):
        prev = ", ".join(f"s_{lg}" for lg in langs[:idx])
        case += f"WHEN s_{langs[idx]} > GREATEST({prev}) THEN '{langs[idx]}' "
    return f"""
WITH t AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM documents),
s AS (
  SELECT doc_id, lang,
       {scores}
  FROM t
)
SELECT doc_id, lang AS label_lang,
       CASE {case}ELSE '{langs[0]}' END AS guess_lang
FROM s
"""


@register(
    "doc_langid",
    oracle=_langid_sql_duck(),
    doc="Language-ID heuristic: per-language marker-token hit counts, "
    "deterministic argmax (first-language-wins ties). Shape of a real "
    "n-gram langid (profiles x hit counting) as pure scan expressions.",
    tags=("text", "langid"),
)
def doc_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").selectExpr(
        "doc_id", "lang", "split(lower(text), ' ') AS w"
    )
    scored = docs
    for lang, markers in LANG_MARKERS.items():
        lst = ", ".join(f"'{m}'" for m in markers)
        scored = scored.withColumn(
            f"s_{lang}", F.expr(f"size(filter(w, x -> x IN ({lst})))")
        )
    langs = list(LANG_MARKERS)
    guess = F.lit(langs[0])
    best = F.col(f"s_{langs[0]}")
    for lang in langs[1:]:
        guess = F.when(F.col(f"s_{lang}") > best, F.lit(lang)).otherwise(guess)
        best = F.greatest(best, F.col(f"s_{lang}"))
    return scored.select(
        "doc_id", F.col("lang").alias("label_lang"), guess.alias("guess_lang")
    )


@register(
    "doc_lang_distribution",
    oracle="SELECT lang, source, COUNT(*) AS n_docs, "
    "CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM documents GROUP BY 1, 2",
    doc="Corpus composition rollup (lang x source)",
    tags=("text", "aggregate"),
)
def doc_lang_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .groupBy("lang", "source")
        .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
    )


@register(
    "corpus_token_freq_top50",
    oracle="""
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
)
SELECT tok, COUNT(*) AS freq
FROM toks GROUP BY 1
ORDER BY freq DESC, tok ASC
LIMIT 50
""",
    doc="Corpus vocabulary: top-50 tokens by frequency (explode + "
    "hash-agg + TakeOrdered; the BPE/vocab-building primitive)",
    tags=("text", "aggregate"),
)
def corpus_token_freq_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(50)
    )


# ------------------------------------------------- repetition / filtering

# Shared CTE computing the Gopher-style repetition signals (Rae et al.
# 2021, "Scaling Language Models", table A1 — public paper): fraction
# of characters covered by the most frequent word 2-gram, and by all
# word 3-grams that occur more than once. Every signal derives from
# integer counts through a single division, so Spark and DuckDB produce
# bit-identical doubles — the filter gates below are fp-stable without
# rounding.
#
# Algorithm: SORT the gram array and decompose it into runs — a run
# start is any 1-based position i with s[i] != s[i-1]; the run length
# is the distance to the next start. O(n log n) per doc, single pass,
# vs the naive mode search's O(n_grams * n_distinct) with one full
# filter() sweep per distinct gram (measured ~3x slower at sf0.1).
# Because the array is sorted, the FIRST maximal run is automatically
# the lexicographically smallest most-frequent gram — the tie-break
# falls out of the ordering. Both engines index 1-based here (Spark
# via try_element_at, whose out-of-range NULL also supplies the
# "no next run" sentinel through coalesce).
_REP_SIGNALS_DUCK = """
t AS (SELECT doc_id, n_chars, string_split(lower(text), ' ') AS w FROM documents),
g AS (
  SELECT doc_id, n_chars, len(w) AS n_tokens, len(list_distinct(w)) AS n_distinct,
         len(list_filter(w, x -> x IN ('{stops}'))) AS n_stopwords,
         CASE WHEN len(w) >= 2
              THEN list_sort(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1]))
              ELSE [] END AS s2,
         CASE WHEN len(w) >= 3
              THEN list_sort(list_transform(range(1, len(w) - 1),
                                  i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
              ELSE [] END AS s3
  FROM t
),
r AS (
  SELECT *, len(s2) AS n2, len(s3) AS n3,
         list_filter(range(1, len(s2) + 1), i -> i = 1 OR s2[i] != s2[i-1]) AS st2,
         list_filter(range(1, len(s3) + 1), i -> i = 1 OR s3[i] != s3[i-1]) AS st3
  FROM g
),
r2 AS (
  SELECT *,
         list_transform(range(1, len(st2) + 1),
                        j -> coalesce(st2[j+1], n2 + 1) - st2[j]) AS len2,
         list_transform(range(1, len(st3) + 1),
                        j -> coalesce(st3[j+1], n3 + 1) - st3[j]) AS len3
  FROM r
),
sig AS (
  SELECT doc_id,
         CAST(n_tokens AS BIGINT) AS n_tokens,
         CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio,
         CAST(n_stopwords AS BIGINT) AS n_stopwords,
         s2[st2[list_position(len2, list_max(len2))]] AS top2_gram,
         CAST(list_max(len2)
              * len(s2[st2[list_position(len2, list_max(len2))]]) AS DOUBLE)
           / n_chars AS top2_frac,
         CAST(COALESCE(list_sum(list_transform(range(1, len(st3) + 1),
                j -> CASE WHEN len3[j] >= 2
                          THEN len3[j] * len(s3[st3[j]]) ELSE 0 END)), 0) AS DOUBLE)
           / n_chars AS dup3_frac
  FROM r2
)
"""


def _repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark mirror of _REP_SIGNALS_DUCK: scan-local higher-order array
    expressions, no UDF, no shuffle — an embarrassingly parallel map
    over the scan at any scale. See the CTE comment for the sorted-
    runs algorithm; the IF guards keep Spark's sequence() from counting
    DOWN on empty arrays (sequence(1, 0) = [1, 0] — the word_ngrams
    lesson from ADVICE r1)."""
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)
    docs = load(spark, sf_dir, "documents").selectExpr(
        "doc_id", "n_chars", "split(lower(text), ' ') AS w"
    )
    g = docs.selectExpr(
        "doc_id",
        "n_chars",
        "size(w) AS n_tokens",
        "size(array_distinct(w)) AS n_distinct",
        f"size(filter(w, x -> x IN ({stop_list}))) AS n_stopwords",
        "IF(size(w) >= 2, array_sort(transform(sequence(0, size(w) - 2), "
        "i -> concat_ws(' ', w[i], w[i+1]))), CAST(array() AS ARRAY<STRING>)) AS s2",
        "IF(size(w) >= 3, array_sort(transform(sequence(0, size(w) - 3), "
        "i -> concat_ws(' ', w[i], w[i+1], w[i+2]))), CAST(array() AS ARRAY<STRING>)) AS s3",
    )
    r = g.selectExpr(
        "*",
        "size(s2) AS n2",
        "size(s3) AS n3",
        "IF(size(s2) = 0, CAST(array() AS ARRAY<INT>), filter(sequence(1, size(s2)), "
        "i -> i = 1 OR try_element_at(s2, i) != try_element_at(s2, i - 1))) AS st2",
        "IF(size(s3) = 0, CAST(array() AS ARRAY<INT>), filter(sequence(1, size(s3)), "
        "i -> i = 1 OR try_element_at(s3, i) != try_element_at(s3, i - 1))) AS st3",
    )
    r2 = r.selectExpr(
        "*",
        "IF(size(st2) = 0, CAST(array() AS ARRAY<INT>), transform(sequence(1, size(st2)), "
        "j -> coalesce(try_element_at(st2, j + 1), n2 + 1) - try_element_at(st2, j))) AS len2",
        "IF(size(st3) = 0, CAST(array() AS ARRAY<INT>), transform(sequence(1, size(st3)), "
        "j -> coalesce(try_element_at(st3, j + 1), n3 + 1) - try_element_at(st3, j))) AS len3",
    )
    return r2.selectExpr(
        "doc_id",
        "CAST(n_tokens AS BIGINT) AS n_tokens",
        "CAST(n_distinct AS DOUBLE) / n_tokens AS distinct_ratio",
        "CAST(n_stopwords AS BIGINT) AS n_stopwords",
        "try_element_at(s2, try_element_at(st2, CAST(array_position(len2, array_max(len2)) AS INT))) AS top2_gram",
        "CAST(array_max(len2) * length(try_element_at(s2, "
        "try_element_at(st2, CAST(array_position(len2, array_max(len2)) AS INT)))) AS DOUBLE)"
        " / n_chars AS top2_frac",
        "CAST(COALESCE(IF(size(st3) = 0, 0L, aggregate(sequence(1, size(st3)), 0L, "
        "(acc, j) -> acc + IF(try_element_at(len3, j) >= 2, "
        "CAST(try_element_at(len3, j) AS BIGINT) "
        "* length(try_element_at(s3, try_element_at(st3, j))), 0L))), 0L) AS DOUBLE)"
        " / n_chars AS dup3_frac",
    )


@register(
    "doc_repetition_signals",
    oracle="WITH "
    + _REP_SIGNALS_DUCK.format(stops=_STOP_SQL)
    + "\nSELECT doc_id, n_tokens, distinct_ratio, top2_gram, top2_frac, dup3_frac FROM sig",
    doc="Gopher-style repetition signals per document: most-frequent-"
    "2-gram character fraction (ties broken to the lexicographically "
    "smallest gram), duplicated-3-gram character fraction, distinct-"
    "token ratio. Pure scan-local array expressions",
    tags=("text",),
)
def doc_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _repetition_signals(spark, sf_dir).select(
        "doc_id", "n_tokens", "distinct_ratio", "top2_gram", "top2_frac", "dup3_frac"
    )


# Threshold constants for the keep/drop filter, calibrated on the
# fixture distributions (top2_frac p90 ~= 0.118, dup3_frac p99 ~= 0.098,
# distinct_ratio min ~= 0.28) so every rule both fires and passes at
# sf0.01/sf0.1. Real Gopher thresholds differ (0.20 / 0.60-ish); the
# operator contract is the cascade, not the constants.
_FILTER_RULES_SQL = """
CASE WHEN n_tokens < 15 THEN 'too_short'
     WHEN n_tokens > 1000 THEN 'too_long'
     WHEN n_stopwords < 1 THEN 'no_stopwords'
     WHEN distinct_ratio < 0.30 THEN 'low_diversity'
     WHEN top2_frac > 0.12 THEN 'top2gram_repetition'
     WHEN dup3_frac > 0.05 THEN 'dup3gram_repetition'
     ELSE 'ok' END
"""


@register(
    "gopher_quality_filter",
    oracle="WITH "
    + _REP_SIGNALS_DUCK.format(stops=_STOP_SQL)
    + f"\nSELECT doc_id, ({_FILTER_RULES_SQL}) = 'ok' AS keep, {_FILTER_RULES_SQL} AS reason FROM sig",
    doc="Keep/drop verdict per document from the Gopher-style rule "
    "cascade (length bounds, stopword presence, lexical diversity, "
    "2-gram and 3-gram repetition), with the first failing rule as the "
    "reason. The gates compare bit-identical engine-stable doubles, so "
    "the verdict is deterministic. This is the corpus-filter stage a "
    "pretraining pipeline runs between ingestion and dedup",
    tags=("text",),
)
def gopher_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = _repetition_signals(spark, sf_dir)
    reason = F.expr(_FILTER_RULES_SQL)
    return sig.select(
        "doc_id",
        (reason == "ok").alias("keep"),
        reason.alias("reason"),
    )


# ----------------------------------------------------------------- PII flags

# Patterns kept to the regex intersection of Java (Spark) and RE2
# (DuckDB): char classes, bounded repetition, \d, \b — no lookaround.
_PII_EMAIL = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PII_PHONE = r"\b\d{3}[-. ]\d{3}[-. ]\d{4}\b"
_PII_SSN = r"\b\d{3}-\d{2}-\d{4}\b"
# The synthetic corpus is alphabetic-only, so the PII counts are
# structurally zero there; the long-word count is value-bearing on the
# same fixtures and proves the regexp_extract_all path end to end.
_LONG_WORD = r"\b[a-z]{7,}\b"


@register(
    "doc_pii_flags",
    oracle=f"""
SELECT doc_id,
       CAST(len(regexp_extract_all(lower(text), '{_PII_EMAIL}')) AS BIGINT) AS n_emails,
       CAST(len(regexp_extract_all(lower(text), '{_PII_PHONE}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(lower(text), '{_PII_SSN}')) AS BIGINT) AS n_ssns,
       CAST(len(regexp_extract_all(lower(text), '{_LONG_WORD}')) AS BIGINT) AS n_long_words
FROM documents
""",
    doc="PII pre-filter signals: per-doc counts of email / phone / "
    "SSN-shaped matches. Scan-local regexp over the text column (zero "
    "shuffle, rides the corpus scan); patterns restricted to the "
    "Java-regex ∩ RE2 subset so the oracle replays them verbatim. The "
    "redaction/drop decision composes downstream exactly like "
    "gopher_quality_filter's rule cascade.",
    tags=("text",),
)
def doc_pii_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    def n(pat: str, alias: str):
        # F.lit(pat), not an F.expr SQL string: the SQL parser would
        # interpret \b as a backspace escape and silently match nothing
        return F.size(
            F.regexp_extract_all(F.lower("text"), F.lit(pat), F.lit(0))
        ).cast("bigint").alias(alias)

    return load(spark, sf_dir, "documents").select(
        "doc_id",
        n(_PII_EMAIL, "n_emails"),
        n(_PII_PHONE, "n_phones"),
        n(_PII_SSN, "n_ssns"),
        n(_LONG_WORD, "n_long_words"),
    )


# (pattern, mask) pairs applied IN ORDER — PII shapes first on the raw
# text, the long-word proxy last (its mask text is <7 letters, so later
# passes can't re-match earlier masks)
_REDACTIONS = (
    (_PII_EMAIL, "<EMAIL>"),
    (_PII_PHONE, "<PHONE>"),
    (_PII_SSN, "<SSN>"),
    (_LONG_WORD, "<LW>"),
)


@register(
    "doc_pii_redact",
    oracle="""
SELECT doc_id,
       """
    + "".join(
        f"regexp_replace(" for _ in _REDACTIONS
    )
    + "lower(text)"
    + "".join(f", '{pat}', '{mask}', 'g')" for pat, mask in _REDACTIONS)
    + """ AS red_text,
       CAST("""
    + " + ".join(
        f"len(regexp_extract_all(lower(text), '{pat}'))" for pat, _ in _REDACTIONS
    )
    + """ AS BIGINT) AS n_redacted
FROM documents
""",
    doc="PII REDACTION (the transform doc_pii_flags only counts for): "
    "email / phone / SSN matches masked in place, scan-local, zero "
    "shuffle — the text never leaves its input partition. Same "
    "Java-regex ∩ RE2 patterns as the flags row; the synthetic corpus "
    "is alphabetic-only so the three PII masks are structurally no-ops "
    "there, and the long-word mask (applied last) is the value-bearing "
    "pattern that proves the replace cascade end to end — exactly the "
    "flags row's evidence convention. n_redacted makes silent "
    "non-matching visible to the hash gate.",
    tags=("text",),
)
def doc_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    red = F.lower(F.col("text"))
    for pat, mask in _REDACTIONS:
        red = F.regexp_replace(red, F.lit(pat), F.lit(mask))
    n = None
    for pat, _ in _REDACTIONS:
        c = F.size(F.regexp_extract_all(F.lower("text"), F.lit(pat), F.lit(0)))
        n = c if n is None else n + c
    return load(spark, sf_dir, "documents").select(
        "doc_id", red.alias("red_text"), n.cast("bigint").alias("n_redacted")
    )


# ------------------------------------------------- unigram LM scoring

UNIGRAM_V = 30  # vocab cap: top-V tokens by corpus frequency
UNIGRAM_OOV_LP = -20.0  # floor log-prob for out-of-vocab tokens


@register(
    "doc_unigram_logprob",
    oracle=f"""
WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
tf AS (SELECT t, COUNT(*) AS c FROM (SELECT unnest(w) AS t FROM toks) GROUP BY 1),
tot AS (SELECT SUM(c) AS s FROM tf),
vocab AS (
  SELECT t, ln(c / (SELECT s FROM tot)) AS lp
  FROM tf ORDER BY c DESC, t ASC LIMIT {UNIGRAM_V}
),
scored AS (
  SELECT doc_id, coalesce(lp, {UNIGRAM_OOV_LP}) AS lp
  FROM (SELECT doc_id, unnest(w) AS t FROM toks)
  LEFT JOIN vocab USING (t)
)
SELECT doc_id,
       round(AVG(lp), 6) AS avg_logprob,
       CAST(COUNT(*) FILTER (lp = {UNIGRAM_OOV_LP}) AS BIGINT) AS n_oov
FROM scored GROUP BY doc_id
""",
    doc=f"Model-based quality score: average unigram log-probability "
    f"per document under a top-{UNIGRAM_V} corpus unigram LM, with a "
    f"{UNIGRAM_OOV_LP} floor for out-of-vocab tokens (the KenLM-"
    "perplexity-filter stand-in a pretraining pipeline runs; CCNet's "
    "quality buckets are exactly this shape with a bigger model). "
    "Scale design: the model is O(V) and collapses to ONE map row "
    "broadcast to every task; scoring is a scan-local aggregate over "
    "the token array (sequential, deterministic order) — the corpus "
    "never shuffles, only the vocab build does (token-keyed, "
    "map-side-combined).",
    tags=("text", "quality"),
)
def doc_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.lower(F.col("text")), " ").alias("w")
    )
    tf = toks.select(F.explode("w").alias("t")).groupBy("t").agg(
        F.count("*").alias("c")
    )
    tot = tf.agg(F.sum("c").alias("s"))
    vocab = (
        tf.crossJoin(F.broadcast(tot))
        .orderBy(F.desc("c"), F.asc("t"))
        .limit(UNIGRAM_V)
        .select("t", F.log(F.col("c") / F.col("s")).alias("lp"))
    )
    model_row = vocab.agg(
        F.map_from_entries(F.expr("sort_array(collect_list(struct(t, lp)))")).alias("m")
    )
    lp_sum = F.expr(
        f"aggregate(w, CAST(0.0 AS DOUBLE), "
        f"(s, x) -> s + coalesce(element_at(m, x), CAST({UNIGRAM_OOV_LP} AS DOUBLE)))"
    )
    n_oov = F.expr(
        "CAST(size(filter(w, x -> element_at(m, x) IS NULL)) AS BIGINT)"
    )
    return (
        toks.crossJoin(F.broadcast(model_row))
        .select(
            "doc_id",
            F.round(lp_sum / F.size("w"), 6).alias("avg_logprob"),
            n_oov.alias("n_oov"),
        )
    )


# --------------------------------------- DSIR-style importance sampling

DSIR_TARGET_LANG = "en"  # the fixture's highest-resource language


@register(
    "dsir_importance_sample",
    oracle=f"""
WITH toks AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS w FROM documents),
tf AS (SELECT t, COUNT(*) AS c FROM (SELECT unnest(w) AS t FROM toks) GROUP BY 1),
vocab AS (SELECT t FROM tf ORDER BY c DESC, t ASC LIMIT {UNIGRAM_V}),
vt AS (
  SELECT v.t,
         COUNT(*) FILTER (lang = '{DSIR_TARGET_LANG}')::BIGINT AS ct,
         COUNT(*)::BIGINT AS cb
  FROM (SELECT lang, unnest(w) AS t FROM toks) x
  JOIN vocab v USING (t)
  GROUP BY v.t
),
tots AS (SELECT SUM(ct) AS tt, SUM(cb) AS tb FROM vt),
model AS (
  SELECT t, ln((ct + 1)::DOUBLE / (tt + {UNIGRAM_V}))
          - ln((cb + 1)::DOUBLE / (tb + {UNIGRAM_V})) AS lr
  FROM vt CROSS JOIN tots
),
scored AS (
  SELECT doc_id, lang, round(AVG(coalesce(lr, 0.0)), 6) AS logw
  FROM (SELECT doc_id, lang, unnest(w) AS t FROM toks)
  LEFT JOIN model USING (t)
  GROUP BY doc_id, lang
),
mx AS (SELECT MAX(logw) AS wmax FROM scored)
SELECT doc_id, lang, logw,
       ({_HASH_DUCK} <
        CAST(FLOOR(round(exp(logw - wmax), 6) * 4294967296) AS BIGINT)) AS kept
FROM scored CROSS JOIN mx
""",
    doc=f"DSIR-shaped importance resampling (Xie et al. 2023, hashed "
    "n-gram LM importance weights — here the unigram flavor over the "
    f"shared top-{UNIGRAM_V} vocab): per document, logw = mean "
    "log-likelihood RATIO between a Laplace-smoothed "
    f"'{DSIR_TARGET_LANG}'-target unigram LM and the whole-corpus LM "
    "(OOV tokens contribute 0 — ratios live on the shared vocab "
    "support), then rejection-sample toward the target: keep iff the "
    "overflow-free Knuth hash of doc_id falls under "
    "exp(logw - max logw) of the 32-bit hash space — acceptance ∝ "
    "importance weight, deterministic across engines (logw and the "
    "acceptance ratio are 6dp-rounded before the all-integer gate "
    "compare; ln/exp are the libm calls the q15 convention covers). "
    "Scale: both LMs collapse to ONE O(V) broadcast map row, scoring "
    "is the scan-local aggregate doc_unigram_logprob established, the "
    "max is a one-row broadcast — the corpus shuffles only for the "
    "O(V) vocab build. The gate needs no normalizing constant beyond "
    "the max: a second pass nowhere, sampled membership stable under "
    "partitioning (hash-gated, not RNG). Behavioral note: on a corpus "
    "already close to the target (this fixture's shared synthetic "
    "vocabulary) acceptance ratios sit near 1 and the gate removes "
    "little — the CORRECT proportional behavior; the weights still "
    "rank the target language first (test-pinned), and on a divergent "
    "corpus the same gate thins non-target mass aggressively.",
    tags=("text", "sampling", "quality"),
)
def dsir_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.split(F.lower(F.col("text")), " ").alias("w")
    )
    tf = toks.select(F.explode("w").alias("t")).groupBy("t").agg(
        F.count("*").alias("c")
    )
    vocab = tf.orderBy(F.desc("c"), F.asc("t")).limit(UNIGRAM_V).select("t")
    vt = (
        toks.select("lang", F.explode("w").alias("t"))
        .join(F.broadcast(vocab), "t", "left_semi")
        .groupBy("t")
        .agg(
            F.sum(
                F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
            ).alias("ct"),
            F.count("*").alias("cb"),
        )
    )
    tots = vt.agg(F.sum("ct").alias("tt"), F.sum("cb").alias("tb"))
    lr = F.log(
        (F.col("ct") + 1).cast("double") / (F.col("tt") + UNIGRAM_V)
    ) - F.log((F.col("cb") + 1).cast("double") / (F.col("tb") + UNIGRAM_V))
    model_row = (
        vt.join(F.broadcast(tots))
        .select("t", lr.alias("lr"))
        .agg(
            F.map_from_entries(
                F.expr("sort_array(collect_list(struct(t, lr)))")
            ).alias("m")
        )
    )
    lr_sum = F.expr(
        "aggregate(w, CAST(0.0 AS DOUBLE), "
        "(s, x) -> s + coalesce(element_at(m, x), CAST(0.0 AS DOUBLE)))"
    )
    scored = (
        toks.join(F.broadcast(model_row))
        .select(
            "doc_id",
            "lang",
            F.round(lr_sum / F.size("w"), 6).alias("logw"),
        )
    )
    mx = scored.agg(F.max("logw").alias("wmax"))
    thresh = F.floor(
        F.round(F.exp(F.col("logw") - F.col("wmax")), 6) * F.lit(4294967296)
    ).cast("long")
    return (
        scored.join(F.broadcast(mx))
        .select(
            "doc_id",
            "lang",
            "logw",
            (F.expr(_HASH_SPARK) < thresh).alias("kept"),
        )
    )


# ------------------------------------------- BPE-style token estimation

# GPT-2-style pre-tokenizer classes, restricted to the Java-regex ∩ RE2
# dialect (no lookahead, which the original pattern uses): word runs,
# digit runs, punctuation runs, whitespace collapsed. Subword fertility
# approximates trained-BPE behavior: long words split into ~len/4-char
# pieces, so est_bpe_tokens = sum over word runs of ceil(len/4) plus
# one token per digit/punct run.
_PRETOK = r"[a-z]+|[0-9]+|[^a-z0-9\s]+"


@register(
    "doc_bpe_token_estimate",
    oracle=f"""
WITH runs AS (
  SELECT doc_id, regexp_extract_all(lower(text), '{_PRETOK}') AS rs,
         n_chars FROM documents
)
SELECT doc_id,
       CAST(len(rs) AS BIGINT) AS n_pretokens,
       CAST(COALESCE(list_sum(list_transform(rs,
            r -> CASE WHEN regexp_matches(r, '^[a-z]') THEN CAST(ceil(len(r) / 4.0) AS BIGINT)
                      ELSE CAST(1 AS BIGINT) END)), 0) AS BIGINT) AS est_bpe_tokens,
       CAST(ceil(n_chars / 4.0) AS BIGINT) AS est_chars_div4
FROM runs
""",
    doc="Tokenizer-budget estimation without a tokenizer binary: GPT-2-"
    "style pre-token runs (word/digit/punctuation, Java∩RE2 dialect) "
    "plus a ~4-chars-per-subword fertility estimate per word run, and "
    "the cruder chars/4 bound beside it. Scan-local regexp + array "
    "arithmetic, zero shuffle — rides the same corpus scan as the "
    "other text signals; the real-tokenizer swap-in is a mapInPandas "
    "over the same schema (the multimodal stub pattern).",
    tags=("text", "tokens"),
)
def doc_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    runs = F.regexp_extract_all(F.lower(F.col("text")), F.lit(_PRETOK), F.lit(0))
    est = F.expr(
        "CAST(aggregate(rs, CAST(0 AS BIGINT), (s, r) -> s + "
        "CASE WHEN r RLIKE '^[a-z]' THEN CAST(ceil(length(r) / 4.0) AS BIGINT) "
        "ELSE CAST(1 AS BIGINT) END) AS BIGINT)"
    )
    return load(spark, sf_dir, "documents").select(
        "doc_id", runs.alias("rs"), "n_chars"
    ).select(
        "doc_id",
        F.size("rs").cast("bigint").alias("n_pretokens"),
        est.alias("est_bpe_tokens"),
        F.ceil(F.col("n_chars") / 4.0).cast("bigint").alias("est_chars_div4"),
    )


# --------------------------------------------------- context chunking

# Token-window chunking for retrieval/context prep: fixed-size
# overlapping windows over the whitespace tokens. size/stride chosen
# so the fixture's ~100-400-token docs produce several chunks each.
CHUNK_SIZE = 64
CHUNK_STRIDE = 48  # overlap = CHUNK_SIZE - CHUNK_STRIDE = 16 tokens


@register(
    "doc_chunk_windows",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
s AS (
  SELECT doc_id, w, unnest(range(0, greatest(len(w) - 1, 0) + 1, {CHUNK_STRIDE})) AS st
  FROM t
)
SELECT doc_id,
       CAST(st // {CHUNK_STRIDE} AS BIGINT) AS chunk_id,
       CAST(st AS BIGINT) AS start_word,
       CAST(least(st + {CHUNK_SIZE}, len(w)) AS BIGINT) AS end_word,
       CAST(least({CHUNK_SIZE}, len(w) - st) AS BIGINT) AS n_tokens,
       array_to_string(list_slice(w, st + 1, st + {CHUNK_SIZE}), ' ') AS chunk_text
FROM s
""",
    doc="Retrieval/context-prep chunking: fixed 64-token windows with "
    "16-token overlap (stride 48) over the whitespace tokens — the "
    "document fan-out stage a RAG/embedding pipeline runs before "
    "embedding or packing. Pure scan-local array arithmetic "
    "(split -> sequence of starts -> explode -> slice/join): zero "
    "shuffle, no UDF; at 100 TB this rides the corpus scan and the "
    "chunk rows flow straight into the ANN/packing stages "
    "(doc_id, chunk_id) keyed.",
    tags=("text", "chunking"),
)
def doc_chunk_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("w")
    )
    starts = F.expr(f"sequence(0, greatest(size(w) - 1, 0), {CHUNK_STRIDE})")
    return d.select("doc_id", "w", F.explode(starts).alias("st")).select(
        "doc_id",
        (F.col("st") / CHUNK_STRIDE).cast("bigint").alias("chunk_id"),
        F.col("st").cast("bigint").alias("start_word"),
        F.least(F.col("st") + CHUNK_SIZE, F.size("w")).cast("bigint").alias("end_word"),
        F.least(F.lit(CHUNK_SIZE), F.size("w") - F.col("st")).cast("bigint").alias("n_tokens"),
        F.array_join(F.slice("w", F.col("st") + 1, CHUNK_SIZE), " ").alias("chunk_text"),
    )


# -------------------------------------------------------------- BM25

# BM25 retrieval scoring: the standard lexical ranking function a
# training-data / RAG pipeline uses to mine relevant documents for a
# query (and the strictly richer sibling of tfidf_top_terms' weighting:
# same tf/df statistics plus document-length normalization). Constants
# are the Robertson/Lucene defaults; the idf is the Lucene formulation
# ln((N - df + 0.5)/(df + 0.5) + 1), always positive.
BM25_QUERY = ("spark", "join", "stream")
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 20

_BM25_QUERY_SQL = "', '".join(BM25_QUERY)
# per-(doc, term) contribution — ONE canonical expression string, used
# verbatim by both engines so the double-arithmetic association order
# is identical (both sides then round the sorted-fold sum to 6dp; the
# tfidf convention for libm-noise-proof membership)
_BM25_CONTRIB = (
    "ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)"
    f" * (tf * ({BM25_K1} + 1.0))"
    f" / (tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * dl / avgdl))"
)


# one oracle for BOTH BM25 forms (scan-time and indexed) — the layout
# must not change a single score or rank
_BM25_ORACLE = f"""
WITH dl AS (
  SELECT doc_id, len(string_split(lower(text), ' ')) AS dl FROM documents
),
stats AS (
  SELECT CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl, COUNT(*) AS n_docs
  FROM dl
),
qtok AS (
  SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
  FROM documents
),
q AS (SELECT * FROM qtok WHERE term IN ('{_BM25_QUERY_SQL}')),
tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM q GROUP BY 1, 2),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM q GROUP BY 1),
contrib AS (
  SELECT tf.doc_id, tf.term, {_BM25_CONTRIB} AS c
  FROM tf JOIN df USING (term) JOIN dl ON tf.doc_id = dl.doc_id
  CROSS JOIN stats
),
scored AS (
  SELECT doc_id, ROUND(SUM(c ORDER BY term), 6) AS bm25
  FROM contrib GROUP BY 1
)
SELECT doc_id, bm25,
       ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rk
FROM scored
QUALIFY rk <= {BM25_TOP_K}
"""


def term_ordered_sum():
    """Aggregate: a group's per-term contributions `c` summed in sorted
    term order, 6dp-rounded — fixed fold order, so both engines add the
    same doubles in the same order."""
    return F.round(
        F.aggregate(
            F.sort_array(F.collect_list(F.struct("term", "c"))),
            F.lit(0.0),
            lambda acc, x: acc + x["c"],
        ),
        6,
    )


def _bm25_ranked(terms: DataFrame, stats: DataFrame) -> DataFrame:
    """Top-BM25_TOP_K ranking from per-(doc, term) rows carrying tf, df
    and dl, and the one-row (avgdl, n_docs) `stats`: contributions fold
    in sorted term order, 6dp-rounded; rk is assigned on the returned
    rows only."""
    contrib = terms.crossJoin(F.broadcast(stats)).select(
        "doc_id", "term", F.expr(_BM25_CONTRIB).alias("c")
    )
    scored = contrib.groupBy("doc_id").agg(term_ordered_sum().alias("bm25"))
    topk = scored.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(BM25_TOP_K)
    w = Window.orderBy(F.desc("bm25"), F.asc("doc_id"))
    return topk.withColumn("rk", F.row_number().over(w))


@register(
    "bm25_query_topk",
    oracle=_BM25_ORACLE,
    doc=f"BM25 top-{BM25_TOP_K} retrieval for the literal query "
    f"{BM25_QUERY} (k1={BM25_K1}, b={BM25_B}, Lucene idf): the lexical "
    "ranking a RAG/data-mining pipeline runs beside the ANN pillar. "
    "Scale shape: the query-term filter lands BEFORE the tf aggregate, "
    "so only query-term postings (O(docs x |query|), not O(tokens)) "
    "ever shuffle; doc length is a scan-local size(split()); avgdl/N "
    "and the per-term df frame are one-row/O(|query|) broadcasts; the "
    "global top-k is a distributed TakeOrdered (no single-partition "
    "window over the corpus — rk is assigned on the returned "
    f"{BM25_TOP_K}-row frame only). Per-term contributions use one "
    "canonical expression string in both engines and fold in sorted "
    "term order, 6dp-rounded — the tfidf libm convention.",
    tags=("text", "join"),
)
def bm25_query_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    dl = docs.select(
        "doc_id", F.size(F.split(F.lower("text"), " ")).cast("long").alias("dl")
    )
    stats = dl.agg(
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
        F.count("*").alias("n_docs"),
    )
    q = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).where(F.col("term").isin(*BM25_QUERY))
    tf = q.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = q.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    return _bm25_ranked(tf.join(F.broadcast(df), "term").join(dl, "doc_id"), stats)


# ----------------------------------------------- materialized BM25 index

# Postings partition key: terms hash into this many buckets, so the
# on-disk layout has a bounded directory count at any vocabulary size
# and a probe prunes to |query| buckets.
BM25_TERM_BUCKETS = 64


def _write_bm25_segment(docs: DataFrame, path: str, mode: str) -> None:
    """One segment of the BM25 index: term-bucket-partitioned postings
    (term, doc_id, tf, dl) plus ONE stats row of EXACT INTEGER sums
    (sum_dl, n_docs). Storing integer sums instead of a precomputed
    average is what makes the index appendable: the probe aggregates
    the stats rows and derives avgdl from exact totals, so any
    segmentation of the corpus yields bit-identical scores."""
    dl = docs.select(
        "doc_id", F.size(F.split(F.lower("text"), " ")).cast("long").alias("dl")
    )
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("term")
    )
    postings = (
        tok.groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"))
        .join(dl, "doc_id")
        .withColumn("tbucket", F.pmod(F.xxhash64("term"), F.lit(BM25_TERM_BUCKETS)))
    )
    postings.write.mode(mode).partitionBy("tbucket").parquet(
        os.path.join(path, "postings")
    )
    dl.agg(
        F.sum("dl").alias("sum_dl"), F.count("*").alias("n_docs")
    ).write.mode(mode).parquet(os.path.join(path, "stats"))


def write_bm25_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Materialize the BM25 inverted index: a term-bucket-PARTITIONED
    postings table (term, doc_id, tf, dl) plus an exact-integer stats
    table — the lexical twin of the IVF inverted lists
    (similarity.write_ivf_index). At 100 TB this is the asset a
    retrieval deployment keeps next to the corpus: queries read only
    the partitions their terms hash into instead of re-scanning and
    re-tokenizing the corpus per query."""
    _write_bm25_segment(load(spark, sf_dir, "documents"), path, "overwrite")


def append_to_bm25_index(docs: DataFrame, index_path: str) -> None:
    """Append a batch of NEW documents to an existing BM25 index:
    postings land in their term buckets, one more exact-sum stats row
    is added — cost ∝ batch, never corpus (the appending-corpus
    contract dedup_incremental_lsh established for signatures). A probe
    over the appended index is bit-identical to rebuilding from scratch
    (oracle-gated by bm25_incremental_index_topk).

    The batch's doc_ids MUST be new — a duplicate append would silently
    double-count postings tf/dl and inflate n_docs/sum_dl, producing
    plausible-but-wrong scores with no error anywhere downstream. So
    the contract is ENFORCED here: the (small, broadcast) batch ids are
    semi-joined against the existing postings' doc_id column — a
    column-pruned scan with a take(1) early-out — and any overlap
    raises before a byte is written. At warehouse scale the same guard
    would probe a per-segment doc_id bloom instead of the raw column;
    the fail-loudly semantics are what the lifecycle tests pin."""
    existing = os.path.join(index_path, "postings")
    if os.path.isdir(existing):
        spark = docs.sparkSession
        batch_ids = docs.select("doc_id").distinct()
        dup = (
            spark.read.parquet(existing)
            .select("doc_id")
            .join(F.broadcast(batch_ids), "doc_id", "left_semi")
            .take(1)
        )
        if dup:
            raise ValueError(
                "append_to_bm25_index: batch contains doc_id(s) already in "
                f"the index (e.g. {dup[0].doc_id!r}) — appending would "
                "double-count postings and corrupt BM25 stats"
            )
    _write_bm25_segment(docs, index_path, "append")


def compact_bm25_index(spark: SparkSession, index_path: str) -> int:
    """Compact an append-accreted BM25 index in place: postings rewrite
    to one file per term bucket, and the per-segment exact-integer
    stats rows PRE-MERGE to one total row — legal because the probe
    (_probe_bm25_index) aggregates them associatively, so
    compact-then-probe == probe (pinned by test). This is the
    small-files half of the appending-corpus contract: per-micro-batch
    appends keep ingestion cost ∝ batch, and periodic compaction keeps
    probe-time listing/footer/task cost ∝ |buckets| instead of
    ∝ batches-ever-ingested. Returns part-files removed."""
    from .indexcache import compact_parquet_table

    n = compact_parquet_table(
        spark, os.path.join(index_path, "postings"), partition_col="tbucket"
    )
    n += compact_parquet_table(
        spark,
        os.path.join(index_path, "stats"),
        merge=lambda df: df.agg(
            F.sum("sum_dl").alias("sum_dl"), F.sum("n_docs").alias("n_docs")
        ),
    )
    return n


def ensure_bm25_index(spark: SparkSession, sf_dir: str) -> str:
    """Build-once-if-absent with atomic publish + stale prune — the
    same hardened lifecycle as the IVF index (indexcache.ensure_index,
    pinned by tests/test_ivf_index_lifecycle.py)."""
    from .indexcache import ensure_index

    return ensure_index(
        "bm25", sf_dir, "documents", lambda tmp: write_bm25_index(spark, sf_dir, tmp)
    )


@register(
    "bm25_query_topk_indexed",
    oracle=_BM25_ORACLE,
    doc=f"BM25 top-{BM25_TOP_K} against the MATERIALIZED inverted index: "
    "postings live as a term-bucket-partitioned parquet table "
    f"({BM25_TERM_BUCKETS} buckets — bounded directory count at any "
    "vocabulary) plus a one-row stats table, built once per fixture "
    "content and atomically published (ensure_bm25_index — the same "
    "hardened lifecycle as the IVF index). The probe filters on the "
    "LITERAL buckets the query terms hash into, so the scan prunes "
    "every other partition and never touches the corpus text "
    "(PartitionFilters plan-tested); df comes from the pruned postings "
    "themselves. Same oracle as bm25_query_topk — the layout must not "
    "change a single score or rank.",
    tags=("text", "join", "warehouse"),
)
def bm25_query_topk_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _probe_bm25_index(spark, ensure_bm25_index(spark, sf_dir))


def bm25_index_stats(spark: SparkSession, idx: str) -> DataFrame:
    """The one-row (avgdl, n_docs) frame of a BM25 index. Stats rows are
    exact integer sums, one per segment: aggregate them and derive
    avgdl from the totals — bit-identical however the corpus was
    segmented (the append-path contract)."""
    return (
        spark.read.parquet(os.path.join(idx, "stats"))
        .agg(F.sum("sum_dl").alias("sum_dl"), F.sum("n_docs").alias("n_docs"))
        .select(
            (F.col("sum_dl").cast("double") / F.col("n_docs")).alias("avgdl"),
            "n_docs",
        )
    )


def _probe_bm25_index(spark: SparkSession, idx: str) -> DataFrame:
    # literal bucket ids: |query| values, computed with the same
    # xxhash64 the writer used, via a 1-row local frame
    buckets = sorted(
        {
            r.b
            for r in spark.range(1)
            .select(
                *[
                    F.pmod(F.xxhash64(F.lit(t)), F.lit(BM25_TERM_BUCKETS)).alias(f"b{i}")
                    for i, t in enumerate(BM25_QUERY)
                ]
            )
            .selectExpr(f"stack({len(BM25_QUERY)}, " + ", ".join(f"b{i}" for i in range(len(BM25_QUERY))) + ") AS b")
            .collect()
        }
    )
    postings = (
        spark.read.parquet(os.path.join(idx, "postings"))
        .where(F.col("tbucket").isin(buckets))
        .where(F.col("term").isin(*BM25_QUERY))
    )
    df = postings.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    stats = bm25_index_stats(spark, idx)
    return _bm25_ranked(postings.join(F.broadcast(df), "term"), stats)


@register(
    "bm25_incremental_index_topk",
    oracle=_BM25_ORACLE,
    doc="The APPENDING-CORPUS form of the BM25 index (the contract "
    "dedup_incremental_lsh established for signatures): the index is "
    "built over ~7/8 of the corpus, the remaining ~1/8 arrives as a "
    "new-document batch appended segment-wise (postings land in their "
    "term buckets, one more exact-integer stats row) — cost ∝ batch, "
    "never corpus. The probe over the appended index must hash-match "
    "the FULL-corpus oracle score for score and rank for rank, which "
    "is only possible because stats are exact integer sums aggregated "
    "at probe time (a stored average could not be updated exactly).",
    tags=("text", "join", "warehouse", "incremental"),
)
def bm25_incremental_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .indexcache import ensure_index

    def build(tmp: str) -> None:
        docs = load(spark, sf_dir, "documents")
        is_batch = F.pmod(F.xxhash64("doc_id"), F.lit(8)) == 0
        _write_bm25_segment(docs.where(~is_batch), tmp, "overwrite")
        append_to_bm25_index(docs.where(is_batch), tmp)

    idx = ensure_index("bm25incr", sf_dir, "documents", build)
    return _probe_bm25_index(spark, idx)


@register(
    "bm25_compacted_index_topk",
    oracle=_BM25_ORACLE,
    doc="The full append-lifecycle composition: base build -> append -> "
    "COMPACT (postings rewritten to one file per term bucket, the "
    "per-segment exact-integer stats rows pre-merged to one total) -> "
    "two more appends -> compact again, probed against the SAME "
    "full-corpus oracle as every other BM25 face. Legal because both "
    "the stats merge and the postings layout are associative/neutral "
    "to the probe's aggregation — so compaction can run at ANY point "
    "in an index's life without moving a score or a rank. This is the "
    "operational story at 100 TB: per-micro-batch appends keep "
    "ingestion ∝ batch, periodic compaction keeps probe cost "
    "∝ |buckets| instead of ∝ batches-ever-ingested, and neither ever "
    "requires a rebuild or a quiescent index.",
    tags=("text", "join", "warehouse", "incremental"),
)
def bm25_compacted_index_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .indexcache import ensure_index

    def build(tmp: str) -> None:
        docs = load(spark, sf_dir, "documents")
        part = F.pmod(F.xxhash64("doc_id"), F.lit(4))
        _write_bm25_segment(docs.where(part == 0), tmp, "overwrite")
        append_to_bm25_index(docs.where(part == 1), tmp)
        compact_bm25_index(spark, tmp)  # mid-lifecycle compaction
        append_to_bm25_index(docs.where(part == 2), tmp)
        append_to_bm25_index(docs.where(part == 3), tmp)
        compact_bm25_index(spark, tmp)

    idx = ensure_index("bm25compact", sf_dir, "documents", build)
    return _probe_bm25_index(spark, idx)


# ------------------------------------------------- BPE merge candidates

_BPE_MERGE_ORACLE = """
WITH words AS (
  SELECT unnest(string_split(lower(text), ' ')) AS w FROM documents
),
pairs AS (
  SELECT substr(w, CAST(i AS INTEGER), 2) AS pair
  FROM (
    SELECT w, unnest(generate_series(1, length(w) - 1)) AS i
    FROM words WHERE length(w) >= 2
  )
)
SELECT pair, CAST(COUNT(*) AS BIGINT) AS n,
       CAST(row_number() OVER (ORDER BY COUNT(*) DESC, pair ASC) AS BIGINT)
         AS merge_rank
FROM pairs GROUP BY 1
ORDER BY n DESC, pair ASC
LIMIT 50
"""


@register(
    "bpe_merge_candidates",
    oracle=_BPE_MERGE_ORACLE,
    doc="The first iteration of BPE tokenizer training (Sennrich et "
    "al. 2016): corpus-wide counts of ADJACENT CHARACTER PAIRS within "
    "whitespace words, ranked — the argmax pair is the first merge a "
    "BPE trainer would learn; the top-50 frame is the merge-candidate "
    "queue. Scan-local pair fan-out (sequence + substring, no UDF), "
    "map-side partial counting into one small aggregate, distributed "
    "TakeOrdered top-k — the vocabulary-induction primitive next to "
    "corpus_token_freq_top50's whole-token face. Deterministic "
    "(count desc, pair asc) rank on integer counts.",
    tags=("text", "tokens", "aggregate"),
)
def bpe_merge_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = load(spark, sf_dir, "documents").select(
        F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    pairs = (
        words.where(F.length("w") >= 2)
        .select("w", F.explode(F.expr("sequence(1, length(w) - 1)")).alias("i"))
        .select(F.expr("substring(w, i, 2)").alias("pair"))
    )
    counts = pairs.groupBy("pair").agg(F.count("*").cast("long").alias("n"))
    w50 = Window.orderBy(F.desc("n"), F.asc("pair"))
    return (
        counts.orderBy(F.desc("n"), F.asc("pair"))
        .limit(50)
        .select("pair", "n", F.row_number().over(w50).cast("long").alias("merge_rank"))
    )


# ------------------------------------------------- ranking-quality AUC

_AUC_ORACLE = f"""
WITH {QUALITY_SQL_CTES},
lab AS (
  SELECT quality AS score, (lang = 'en') AS pos FROM quality
),
per_score AS (
  SELECT score,
         CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos_s,
         CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg_s
  FROM lab GROUP BY 1
),
cum AS (
  SELECT *,
         CAST(COALESCE(SUM(n_neg_s) OVER (
           ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
         ), 0) AS BIGINT) AS neg_below
  FROM per_score
)
SELECT CAST(SUM(n_pos_s) AS BIGINT) AS n_pos,
       CAST(SUM(n_neg_s) AS BIGINT) AS n_neg,
       round(SUM(n_pos_s * (neg_below + 0.5 * n_neg_s))
             / (SUM(n_pos_s) * SUM(n_neg_s)), 6) AS auc
FROM cum
"""


@register(
    "score_auc_quality_vs_en",
    oracle=_AUC_ORACLE,
    doc="Ranking-quality evaluation: AUC of the shared 6dp quality "
    "score as a classifier of lang='en' — the Mann-Whitney statistic "
    "with exact tie handling (each tied score contributes half its "
    "pos x neg pairs). Computed WITHOUT a global row ranking: docs "
    "aggregate to per-DISTINCT-SCORE (n_pos, n_neg) counts first, so "
    "the only ordered window runs over the tiny distinct-score frame, "
    "not the corpus — the scale-correct AUC shape (a row_number over "
    "all docs would funnel 100 TB through one partition). All "
    "arithmetic is exact integers and halves below 2^53 until the "
    "single final division, rounded 6dp — engine-exact by "
    "construction, not by rounding luck.",
    tags=("text", "eval", "quality"),
)
def score_auc_quality_vs_en(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = doc_quality_score(spark, sf_dir)
    lab = q.join(
        load(spark, sf_dir, "documents").select("doc_id", "lang"), "doc_id"
    ).select(
        F.col("quality").alias("score"), (F.col("lang") == "en").alias("pos")
    )
    per_score = lab.groupBy("score").agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("long").alias("n_pos_s"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).cast("long").alias("n_neg_s"),
    )
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    cum = per_score.select(
        "*",
        F.coalesce(F.sum("n_neg_s").over(w), F.lit(0))
        .cast("long")
        .alias("neg_below"),
    )
    u = F.sum(
        F.col("n_pos_s") * (F.col("neg_below") + 0.5 * F.col("n_neg_s"))
    )
    return cum.agg(
        F.sum("n_pos_s").cast("long").alias("n_pos"),
        F.sum("n_neg_s").cast("long").alias("n_neg"),
        F.round(u / (F.sum("n_pos_s") * F.sum("n_neg_s")), 6).alias("auc"),
    )


# ------------------------------------------------- langid accuracy

_LANGID_CONFUSION_ORACLE = f"""
WITH pred AS ({_langid_sql_duck()}),
tot AS (
  SELECT label_lang, CAST(COUNT(*) AS BIGINT) AS label_n
  FROM pred GROUP BY 1
)
SELECT p.label_lang, p.guess_lang,
       CAST(COUNT(*) AS BIGINT) AS n,
       round(COUNT(*) / CAST(t.label_n AS DOUBLE), 6) AS frac_of_label
FROM pred p JOIN tot t USING (label_lang)
GROUP BY p.label_lang, p.guess_lang, t.label_n
"""


@register(
    "langid_confusion_matrix",
    oracle=_LANGID_CONFUSION_ORACLE,
    doc="Classifier-quality face for the langid heuristic: the "
    "label-vs-guess confusion matrix with per-label fractions (the "
    "diagonal is recall) — the acceptance check a pipeline runs before "
    "trusting the cheap langid for mixture routing. Pure composition "
    "over doc_langid's scan; one small groupBy, label totals joined "
    "back broadcast-sized.",
    tags=("text", "langid", "eval"),
)
def langid_confusion_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = doc_langid(spark, sf_dir)
    cm = pred.groupBy("label_lang", "guess_lang").agg(
        F.count("*").cast("long").alias("n")
    )
    label_n = F.sum("n").over(Window.partitionBy("label_lang"))
    return cm.select(
        "label_lang",
        "guess_lang",
        "n",
        F.round(F.col("n") / label_n.cast("double"), 6).alias("frac_of_label"),
    )


# ------------------------------------------------- calibration bins

_CALIBRATION_ORACLE = f"""
WITH {QUALITY_SQL_CTES},
lab AS (
  SELECT quality AS score,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
  FROM quality
)
SELECT CAST(LEAST(FLOOR(score * 10), 9) AS BIGINT) AS bin,
       CAST(COUNT(*) AS BIGINT) AS n,
       round(AVG(score), 6) AS mean_score,
       round(SUM(y) / CAST(COUNT(*) AS DOUBLE), 6) AS frac_pos
FROM lab GROUP BY 1
"""


@register(
    "score_calibration_bins",
    oracle=_CALIBRATION_ORACLE,
    doc="Reliability diagram data for the quality score against the "
    "lang='en' label: ten fixed-width bins on [0,1], each with its "
    "count, 6dp mean score and positive fraction — the calibration "
    "companion to the AUC face (AUC grades ranking; this grades "
    "whether the score's VALUE means what it says). Bin ids are "
    "integer math on the 6dp-stable score, so membership is "
    "engine-exact; one scan, one 10-group aggregate.",
    tags=("text", "eval", "quality"),
)
def score_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    q = doc_quality_score(spark, sf_dir)
    lab = q.join(
        load(spark, sf_dir, "documents").select("doc_id", "lang"), "doc_id"
    ).select(
        F.col("quality").alias("score"),
        (F.col("lang") == "en").cast("int").alias("y"),
    )
    # explicit floor on BOTH sides: DuckDB CAST(double AS BIGINT)
    # rounds-to-nearest while Spark cast truncates
    bin_ = F.least(F.floor(F.col("score") * 10), F.lit(9)).cast("long")
    return lab.groupBy(bin_.alias("bin")).agg(
        F.count("*").cast("long").alias("n"),
        F.round(F.avg("score"), 6).alias("mean_score"),
        F.round(F.sum("y") / F.count("*").cast("double"), 6).alias("frac_pos"),
    )


# ------------------------------------------------- frequency sketch (MG)

MG_COUNTERS = 200  # Misra-Gries counters per partition
MG_TOP = 20

_MG_ORACLE = """
WITH toks AS (
  SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents
),
c AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS n FROM toks GROUP BY 1
)
SELECT tok, n,
       CAST(row_number() OVER (ORDER BY n DESC, tok ASC) AS BIGINT) AS rnk,
       TRUE AS est_within_bound
FROM c ORDER BY n DESC, tok ASC LIMIT 20
"""


@register(
    "heavy_hitters_mg_bounded",
    oracle=_MG_ORACLE,
    doc=f"Frequency-sketch face on the approx_distinct_users_bounded "
    f"pattern: the exact corpus top-{MG_TOP} tokens are hash-gated "
    "against DuckDB, PLUS a per-row boolean the oracle pins TRUE — "
    f"each token's Misra-Gries estimate ({MG_COUNTERS} counters per "
    "partition, summaries merged by summation) sits within the "
    "sketch's guaranteed band [exact - n_tokens/k, exact]. The "
    "estimate itself is partition-layout-dependent (MG decrements "
    "follow arrival order), but the BAND is not — the undercount "
    "bound survives any layout and any merge, which is what makes a "
    "drifting sketch flip a driver hash rather than a suite "
    "tolerance. Per-partition state is k counters; the merge ships "
    "k rows per partition — the mergeable-summary contract a 100 TB "
    "frequency scan needs (exact counting is the same one scan here, "
    "but its shuffle carries the full vocabulary).",
    tags=("text", "sketch", "approx", "eval"),
)
def heavy_hitters_mg_bounded(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    est = mg_summary_over(docs)
    n_total = toks.count()
    bound = n_total // MG_COUNTERS + 1
    exact = toks.groupBy("tok").agg(F.count("*").cast("long").alias("n"))
    w = Window.orderBy(F.desc("n"), F.asc("tok"))
    top = (
        exact.orderBy(F.desc("n"), F.asc("tok"))
        .limit(MG_TOP)
        .select("tok", "n", F.row_number().over(w).cast("long").alias("rnk"))
    )
    e = F.coalesce("est", F.lit(0))
    return top.join(est, "tok", "left").select(
        "tok",
        "n",
        "rnk",
        ((e >= F.col("n") - F.lit(bound)) & (e <= F.col("n"))).alias(
            "est_within_bound"
        ),
    )


def mg_summary_over(docs: DataFrame) -> DataFrame:
    """One merged Misra-Gries summary frame (tok, est) for a document
    frame: per-partition k-counter partials merged by summation —
    shared by the batch face and the streaming ingest segments."""
    from collections.abc import Iterator

    import pandas as pd

    toks = docs.select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))

    def mg_partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counters: dict[str, int] = {}
        for pdf in batches:
            for tok in pdf["tok"]:
                if tok in counters:
                    counters[tok] += 1
                elif len(counters) < MG_COUNTERS:
                    counters[tok] = 1
                else:
                    dead = [t for t, c in counters.items() if c == 1]
                    for t in counters:
                        counters[t] -= 1
                    for t in dead:
                        del counters[t]
        if counters:
            yield pd.DataFrame(
                {"tok": list(counters), "est": list(counters.values())}
            )

    return (
        toks.mapInPandas(mg_partial, "tok string, est long")
        .groupBy("tok")
        .agg(F.sum("est").cast("long").alias("est"))
    )
