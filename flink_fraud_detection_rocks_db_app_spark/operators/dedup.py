"""Deduplication operators over the `documents` table — the
training-data-pipeline extensions beyond the reference contract
(SURVEY §7 phase E): exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design (the whole point at 100 TB):
- exact dedup is a hash-groupBy on a fingerprint — one shuffle keyed by
  a hash, perfectly balanced.
- n-gram Jaccard NEVER does a cross join: it explodes shingles into an
  inverted index and equi-joins on the shingle, so cost is
  O(sum of postings^2 per shingle), not O(docs^2). Hot shingles are the
  skew risk — the LSH variants below are the scale path when postings
  explode.
- MinHash/LSH: fixed-size signatures (k hashes) per doc, band-bucket
  equi-join; candidates verified with exact Jaccard. All hashing is
  xxhash64 (JVM built-in), seeded deterministically.
- SimHash: 60-bit signature from md5-derived token hashes (md5 so the
  DuckDB oracle can reproduce it bit-for-bit).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..fixtures import load
from ..functions import whitespace_tokens, word_ngrams
from ..registry import register
from .text import _STOP_SQL

# Normalized whitespace-token view of documents; texts are single-space
# separated already, but normalize anyway (lower + split).
_TOKENS = "split(lower(text), ' ')"
# DuckDB list comprehension, 1-based indexing.
_SHINGLES_DUCK = (
    "list_distinct([w[i] || ' ' || w[i+1] || ' ' || w[i+2] "
    "for i in range(1, len(w) - 1)])"
)

# Shared oracle fragments: the word-shingle CTEs (t, sh), the exact
# shingle postings with per-pair common counts (sz, ex, pairs), their
# DF-pruned form, and the Jaccard verification over sz/pairs.
_SHINGLE_CTES = f"""t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
sh AS (SELECT doc_id, {_SHINGLES_DUCK} AS shingles FROM t)"""
_COMMON_COUNTS = """ AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM ex a JOIN ex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""
_EXACT_PAIRS_CTES = f"""{_SHINGLE_CTES},
sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
ex AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
pairs{_COMMON_COUNTS}"""
_JACCARD_SELECT = """SELECT doc_a, doc_b,
       common::DOUBLE / (sa.n + sb.n - common) AS jaccard
FROM pairs
JOIN sz sa ON doc_a = sa.doc_id
JOIN sz sb ON doc_b = sb.doc_id
WHERE common::DOUBLE / (sa.n + sb.n - common) >= 0.5
"""
_EXACT_JACCARD_ORACLE = f"""
WITH {_EXACT_PAIRS_CTES}
{_JACCARD_SELECT}"""

NORM_SQL_SPARK = "regexp_replace(lower(text), '\\\\s+', ' ')"
NORM_SQL_DUCK = r"regexp_replace(lower(text), '\s+', ' ', 'g')"

# Near-dup truth config: word-SHINGLE_N-gram shingles, exact Jaccard >=
# NEARDUP_JACCARD. The DuckDB oracles inline the same values (parity
# pins the pairing); the constants also key the materialized truth
# asset (ensure_true_neardup_pairs), so a config change publishes a
# NEW asset instead of silently serving stale pairs.
SHINGLE_N = 3
NEARDUP_JACCARD = 0.5


def shingled(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    return docs.select("doc_id", whitespace_tokens("text").alias("w")).select(
        "doc_id", word_ngrams("w", SHINGLE_N).alias("shingles")
    )


@register(
    "doc_fingerprint",
    oracle=f"SELECT doc_id, md5({NORM_SQL_DUCK}) AS fp FROM documents",
    doc="Document fingerprint: md5 of whitespace-normalized lowercase text "
    "(md5 chosen so Spark and DuckDB produce identical hex)",
    tags=("dedup", "text"),
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"md5(encode({NORM_SQL_SPARK}, 'UTF-8')) AS fp"
    )


@register(
    "dedup_exact",
    oracle=f"""
SELECT md5({NORM_SQL_DUCK}) AS fp, MIN(doc_id) AS keep_id,
       COUNT(*) AS n_copies
FROM documents GROUP BY 1
""",
    doc="Exact dedup: hash-groupBy on the normalized-text fingerprint, keep "
    "the lowest doc_id. One balanced shuffle; at 100 TB the fingerprint is "
    "computed in the scan and only (fp, doc_id) shuffles, never the text.",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").selectExpr(
        "doc_id", f"md5(encode({NORM_SQL_SPARK}, 'UTF-8')) AS fp"
    )
    return docs.groupBy("fp").agg(
        F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies")
    )


@register(
    "dedup_ngram_jaccard",
    oracle=_EXACT_JACCARD_ORACLE,
    doc="Near-dup pairs by word-3-gram Jaccard >= 0.5 via inverted-index "
    "equi-join (no cross join): |A∩B| from the postings join, "
    "|A∪B| = |A|+|B|-|A∩B|. Jaccard is a ratio of identical ints in both "
    "engines, so the threshold cannot flip on fp noise.",
    tags=("dedup", "join"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shingled(spark, sf_dir)
    sz = sh.select("doc_id", F.size("shingles").alias("n"))
    j = _jaccard()
    return (
        _sized_pairs(_postings(sh), sz)
        .where(j >= NEARDUP_JACCARD)
        .select("doc_a", "doc_b", j.alias("jaccard"))
    )


def _postings(sh: DataFrame) -> DataFrame:
    """(s, ds): each shingle's sorted posting list. Postings are on the
    64-bit shingle hash (cheap keys; collision odds ~|V|^2/2^65 —
    immaterial). Instead of a postings SELF-JOIN (which makes Spark
    recompute the whole scan->shingle lineage for both sides), each
    shingle's posting list is grouped once and _sized_pairs expands
    the candidate pairs inside the array: single lineage, one shuffle
    to the groups, pair volume identical (sum_s df_s*(df_s-1)/2)."""
    ex = sh.select(
        "doc_id", F.explode(F.transform("shingles", lambda s: F.xxhash64(s))).alias("s")
    )
    return ex.groupBy("s").agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))


def _sized_pairs(postings: DataFrame, sz: DataFrame) -> DataFrame:
    """(doc_b, doc_a, common, na, nb): every doc pair sharing a posting
    list, its shared-shingle count, and both docs' set sizes from
    `sz` (doc_id, n)."""
    pairs_exploded = postings.where(F.size("ds") > 1).select(
        F.explode(
            F.expr(
                "flatten(transform(ds, (x, i) -> "
                "transform(slice(ds, i + 2, size(ds)), y -> struct(x AS a, y AS b))))"
            )
        ).alias("p")
    )
    pairs = (
        pairs_exploded.select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("common"))
    )
    sza = sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    szb = sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return pairs.join(sza, "doc_a").join(szb, "doc_b")


def _jaccard():
    """|A∩B| / |A∪B| over _sized_pairs columns."""
    return F.col("common") / (F.col("na") + F.col("nb") - F.col("common"))


# --------------------------------------------------------------- MinHash/LSH

MINHASH_K = 32  # signature length
# 16 bands of 2 rows: P(candidate) = 1-(1-J^2)^16, i.e. ~0.99 at J=0.5
# and ~0.013 at J=0.03 (the fixture background) — high recall exactly
# at the verification threshold, false positives cheap because only
# candidates pay the exact-Jaccard check. The old 8x4 config had a
# 0.40 catch rate at J=0.5 and provably missed a mid-J pair at sf0.01.
LSH_BANDS = 16


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k min-hashes per doc: min over shingles of xxhash64(shingle, seed_i).
    Built-in xxhash64 keeps this entirely JVM-side; the seed is the
    literal position index (deterministic, no RNG state)."""
    sh = shingled(spark, sf_dir)
    # NB: expression strings, not Python lambdas — a two-parameter
    # lambda in F.transform receives (element, ARRAY_INDEX) and the
    # index silently shadows a seed captured as a default argument,
    # which degenerates all k "hash functions" into one (a doc's whole
    # signature collapses to copies of min over (shingle, position)
    # hashes; near-dup recall then only catches identical arrays).
    # Hash each shingle STRING once (variable-length input, the
    # expensive part), then derive the k lanes by re-hashing the fixed
    # 8-byte long with the lane index as a second argument — ~k× less
    # string hashing for the same pairwise-independence story. (The
    # hash family changed r3; the semantic oracle — pair set == exact
    # Jaccard — is family-agnostic, and the recall contract is
    # re-asserted at two sfs in tests/test_extensions.py.)
    # Settled by warm-session A/B (interleaved min-of-N at sf0.1,
    # identical downstream; SCALE.md "Per-family shuffle budget",
    # MinHash-LSH row): hash-once best 2.04 s
    # vs per-shingle-×-k best 2.30 s; medians within noise. The r3
    # bench's 3.02 s was scheduler noise on top of this, not an
    # algorithmic regression — and the k-fold reduction in
    # variable-length string hashing is the term that grows with
    # corpus size, so hash-once is kept.
    mh = [
        F.expr(f"array_min(transform(hs, h -> xxhash64(h, {i})))").alias(f"h{i}")
        for i in range(MINHASH_K)
    ]
    return sh.select(
        "doc_id", F.expr("transform(shingles, s -> xxhash64(s))").alias("hs")
    ).select("doc_id", F.array(*mh).alias("sig"))


@register(
    "dedup_minhash_lsh",
    # SEMANTIC-EQUIVALENCE oracle: DuckDB cannot reproduce xxhash64, so
    # the oracle is the exact-Jaccard pair set instead of a replay of
    # the LSH mechanics. The two agree exactly WHEN LSH recall at the
    # J>=0.5 verification threshold is 1.0 — which the 16x2 banding
    # guarantees on this corpus (catch probability 1-(1-J^2)^16 is
    # ~0.99 at J=0.5 and ~1-1e-25 at the fixture's J~0.98 near-dups;
    # precision is exact because every candidate is re-verified). Any
    # recall drop therefore shows up as a driver hash mismatch — the
    # oracle *tests the recall contract*, not just row shape; the same
    # equality is asserted in tests/test_extensions.py at two sfs.
    oracle=_EXACT_JACCARD_ORACLE,
    doc=f"MinHash({MINHASH_K})+LSH({LSH_BANDS} bands) near-dup candidates "
    "verified with exact Jaccard >= 0.5. Scale path for dedup_ngram_jaccard: "
    "signatures are fixed-size, candidates come from band-bucket equi-joins, "
    "and only candidate pairs pay the exact-verification cost. Contract "
    "(asserted in tests): pair set == exact-Jaccard pair set at test sf.",
    tags=("dedup", "lsh"),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    sig = minhash_signatures(spark, sf_dir)
    cand = lsh_candidate_pairs(sig)
    return verify_exact_jaccard(spark, sf_dir, cand)


def lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    """Banding + bucket-collision candidate pairs from minhash
    signatures. A band-bucket SELF-JOIN would make Spark build the
    whole scan->shingle->signature lineage twice; grouping on
    (band, bucket) computes it once and the candidate pairs expand
    from the collected array. Bucket lists are tiny by construction
    for genuinely *near*-dup corpora (a collision IS the signal), but
    N exact copies of one document all land in the same bucket — so
    the expansion is pipelined (posexplode, then each element emits
    its own tail slice) instead of flattening one O(N^2) in-row array:
    the generator streams pairs row-at-a-time and peak memory per task
    stays O(N). The O(N^2) *output* for an N-copy boilerplate cluster
    is inherent to the pair-set contract; the structural valve is
    running exact dedup first (corpus_prep_pipeline does), which
    collapses identical texts to one representative before LSH."""
    rows_per_band = MINHASH_K // LSH_BANDS
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(
                        *[F.col("sig")[b * rows_per_band + r] for r in range(rows_per_band)]
                    )
                    for b in range(LSH_BANDS)
                ]
            )
        ).alias("band", "bucket"),
    )
    groups = bands.groupBy("band", "bucket").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    return (
        groups.where(F.size("ds") > 1)
        .select("ds", F.posexplode("ds").alias("i", "doc_a"))
        .select("doc_a", F.explode(F.expr("slice(ds, i + 2, size(ds))")).alias("doc_b"))
        .distinct()
    )


def verify_exact_jaccard(spark: SparkSession, sf_dir: str, cand: DataFrame) -> DataFrame:
    """Exact-Jaccard verification on candidate pairs only — precision
    is exact regardless of how candidates were produced."""
    sh = shingled(spark, sf_dir)
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    j = inter / union
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(j >= 0.5)
        .select("doc_a", "doc_b", j.alias("jaccard"))
    )


# ------------------------------------------------------------------ SimHash

SIMHASH_BITS = 60  # 15 md5 hex chars -> fits a signed 64-bit int


def _simhash_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per doc from distinct whitespace tokens; the token
    hash is the first 15 hex chars of md5 so DuckDB reproduces it."""
    docs = load(spark, sf_dir, "documents")
    # Entirely scan-local: tokens -> 60-bit md5 hashes (array), then one
    # aggregate() per bit position over the array, then assemble the
    # signature. No explode, no shuffle — each row computes its own
    # simhash inside whole-stage codegen, which is the shape that
    # survives 100 TB (the naive explode form shuffles rows x 60 bits).
    # Single pass over the token-hash array: the aggregate's accumulator
    # is the 60-element bit-balance vector, so md5 runs exactly once per
    # token and the whole signature is computed scan-locally — zero
    # shuffle, which is the shape that survives 100 TB. (Wall time at
    # small SF is dominated by one-off codegen compilation of the wide
    # expression, not by data — measured: data cost is sub-second.)
    hs = (
        "transform(array_distinct(split(lower(text), ' ')), "
        "t -> CAST(conv(substring(md5(encode(t, 'UTF-8')), 1, 15), 16, 10) AS BIGINT))"
    )
    n = SIMHASH_BITS
    expr = (
        f"aggregate("
        f"  zip_with("
        f"    aggregate({hs}, array_repeat(CAST(0 AS BIGINT), {n}),"
        f"              (acc, h) -> zip_with(acc, sequence(0, {n - 1}),"
        f"                                   (a, b) -> a + (((h >> b) & 1) * 2 - 1))),"
        f"    sequence(0, {n - 1}),"
        f"    (a, b) -> CASE WHEN a > 0 THEN shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))"
        f"              ELSE CAST(0 AS BIGINT) END),"
        f"  CAST(0 AS BIGINT), (s, x) -> s + x) AS simhash"
    )
    return docs.selectExpr("doc_id", expr)


# DuckDB replay of the signature mechanics (md5-derived token hashes
# are bit-identical across engines) — shared by the signature face
# (doc_simhash) and the banding recall monitor
# (dedup_simhash_band_recall), which replays candidate generation on
# top of it.
_SIMHASH_SIG_CTES = f"""
toks AS (
  SELECT doc_id, unnest(list_distinct(string_split(lower(text), ' '))) AS tok
  FROM documents
),
h AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM toks
),
simbits AS (
  SELECT doc_id, b.bit, ((h >> b.bit) & 1) * 2 - 1 AS v
  FROM h CROSS JOIN (SELECT unnest(range({SIMHASH_BITS})) AS bit) b
),
simacc AS (SELECT doc_id, bit, SUM(v) AS acc FROM simbits GROUP BY 1, 2),
sig AS (
  SELECT doc_id,
         CAST(SUM(CASE WHEN acc > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT)
           AS simhash
  FROM simacc GROUP BY 1
)"""


@register(
    "doc_simhash",
    oracle=f"""
WITH {_SIMHASH_SIG_CTES}
SELECT doc_id, simhash FROM sig
""",
    doc="SimHash(60-bit) signature per document, bit-identical across "
    "engines via md5-derived token hashes; near-dup = low Hamming distance "
    "(pairing tested in tests/test_extensions.py)",
    tags=("dedup", "simhash"),
)
def doc_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _simhash_spark(spark, sf_dir)


# --------------------------------------- SimHash banding recall monitor

SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 15
_SIMHASH_BAND_MASK = (1 << SIMHASH_BAND_BITS) - 1


def simhash_band_pairs(sig: DataFrame) -> DataFrame:
    """Candidate pairs from banded simhash equality: the 60-bit
    signature splits into SIMHASH_BANDS contiguous 15-bit bands and
    two docs are candidates iff SOME band matches exactly. Pigeonhole
    guarantee: any pair within Hamming distance SIMHASH_BANDS-1 (=3)
    shares at least one intact band, so it is ALWAYS caught. Same
    group-postings-once / expand-pairs-in-array shape as
    lsh_candidate_pairs (single lineage, generator-pipelined pair
    expansion, O(bucket) peak memory per task)."""
    bands = sig.select(
        "doc_id",
        F.posexplode(
            F.array(
                *[
                    F.expr(
                        f"shiftright(simhash, {b * SIMHASH_BAND_BITS})"
                        f" & {_SIMHASH_BAND_MASK}"
                    )
                    for b in range(SIMHASH_BANDS)
                ]
            )
        ).alias("band", "bv"),
    )
    groups = bands.groupBy("band", "bv").agg(
        F.sort_array(F.collect_list("doc_id")).alias("ds")
    )
    return (
        groups.where(F.size("ds") > 1)
        .select("ds", F.posexplode("ds").alias("i", "doc_a"))
        .select("doc_a", F.explode(F.expr("slice(ds, i + 2, size(ds))")).alias("doc_b"))
        .distinct()
    )


def ensure_true_neardup_pairs(spark: SparkSession, sf_dir: str) -> str:
    """Materialized exact-Jaccard truth pairs (doc_a, doc_b, jaccard ≥
    0.5) as a content-keyed asset on the shared indexcache lifecycle —
    the ensure_cc_labels precedent applied to the recall monitor's
    ground-truth eval set. The unpruned postings join is the most
    expensive stage of the banding monitor and is a pure derived frame
    of the corpus: a deployment builds it once per corpus change (over
    a document SAMPLE at 100 TB, per the monitor's documented eval-set
    contract) and every banding/threshold experiment reads the same
    published pairs. Deterministic by construction (integer-derived
    Jaccard), so the race-loser-discard contract holds."""
    from .indexcache import ensure_index

    def build(tmp: str) -> None:
        dedup_ngram_jaccard(spark, sf_dir).write.mode("overwrite").parquet(tmp)

    # keyed on the truth config so a threshold/shingle change publishes
    # a fresh asset (ADVICE r13) — stale pairs would otherwise survive
    # any tuning experiment that reads the asset directly
    return ensure_index(
        "true_neardup_pairs",
        sf_dir,
        "documents",
        build,
        version=f"ng{SHINGLE_N}-j{NEARDUP_JACCARD}",
    )


def ensure_simhash_bands(spark: SparkSession, sf_dir: str) -> str:
    """The banding arm's derived frames as one content-keyed asset:
    sig/ (doc_id, simhash — the md5-derived 60-bit signatures, the
    per-doc cost a warehouse pays once at ingest, not per experiment)
    and cand/ (the banded candidate pairs — what the dedup pass would
    actually surface). Together with ensure_true_neardup_pairs this
    makes the recall monitor a pure join over three published bounded
    frames, re-run freely while tuning SIMHASH_BANDS; a band-count
    change is a format-version bump (new asset), exactly like a
    quantizer re-train."""
    from .indexcache import ensure_index

    def build(tmp: str) -> None:
        sig = _simhash_spark(spark, sf_dir)
        sig.write.mode("overwrite").parquet(os.path.join(tmp, "sig"))
        sig_back = spark.read.parquet(os.path.join(tmp, "sig"))
        simhash_band_pairs(sig_back).write.mode("overwrite").parquet(
            os.path.join(tmp, "cand")
        )

    # the band count IS the asset's content (cand/ is the banded
    # candidate set), so it keys the asset: changing SIMHASH_BANDS
    # publishes fresh sig/cand frames instead of serving stale ones
    # (ADVICE r13 — the docstring's 'band-count change is a
    # format-version bump' promise, now enforced by construction)
    return ensure_index(
        "simhash_bands", sf_dir, "documents", build, version=SIMHASH_BANDS
    )


@register(
    "dedup_simhash_band_recall",
    # FULL-MECHANICS replay oracle: simhash is md5-derived, so unlike
    # the minhash monitor (xxhash64 — semantic-equivalence oracle only)
    # DuckDB reproduces the signatures, the banding AND the candidate
    # set bit-for-bit. The caught/missed verdicts are therefore
    # driver-hashable ground truth, not a pinned-TRUE contract.
    oracle=f"""
WITH {_SIMHASH_SIG_CTES},
bands AS (
  SELECT doc_id, b.band, (simhash >> (b.band * {SIMHASH_BAND_BITS}))
                           & {_SIMHASH_BAND_MASK} AS bv
  FROM sig CROSS JOIN (SELECT unnest(range({SIMHASH_BANDS})) AS band) b
),
cand AS (
  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
  FROM bands x JOIN bands y ON x.band = y.band AND x.bv = y.bv
                           AND x.doc_id < y.doc_id
),
jt AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
jsh AS (SELECT doc_id, {_SHINGLES_DUCK} AS shingles FROM jt),
jsz AS (SELECT doc_id, len(shingles) AS n FROM jsh),
jex AS (SELECT doc_id, unnest(shingles) AS s FROM jsh),
jpairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS common
  FROM jex a JOIN jex b ON a.s = b.s AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
truth AS (
  SELECT doc_a, doc_b, common::DOUBLE / (sa.n + sb.n - common) AS jaccard
  FROM jpairs
  JOIN jsz sa ON doc_a = sa.doc_id
  JOIN jsz sb ON doc_b = sb.doc_id
  WHERE common::DOUBLE / (sa.n + sb.n - common) >= 0.5
)
SELECT t.doc_a, t.doc_b, t.jaccard,
       bit_count(xor(ha.simhash, hb.simhash))::INT AS hamming,
       (c.doc_a IS NOT NULL) AS caught
FROM truth t
JOIN sig ha ON t.doc_a = ha.doc_id
JOIN sig hb ON t.doc_b = hb.doc_id
LEFT JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
""",
    doc=f"Dedup-pillar recall monitor (the ANN recall quartet's twin "
    "for the dedup side): every TRUE near-dup pair (exact word-3-gram "
    "Jaccard >= 0.5, the dedup_ngram_jaccard contract) is scored with "
    f"its simhash Hamming distance and whether {SIMHASH_BANDS}x"
    f"{SIMHASH_BAND_BITS}-bit banding would have surfaced it — the "
    "number an operator reads before replacing exact n-gram dedup "
    "with banded-simhash candidates at a scale where the exact "
    "postings join is unaffordable. Pigeonhole contract (tested): "
    f"hamming <= {SIMHASH_BANDS - 1} rows are ALWAYS caught; "
    "higher-distance true pairs may be missed and show caught=false — "
    "the banding's real, measured recall loss, not a pinned constant. "
    "Scale: signatures are scan-local (doc_simhash), candidates come "
    "from band-bucket equi-groups over 8-byte keys, and the verdict "
    "joins touch only the O(true pairs) frame; the exact-Jaccard "
    "truth arm is the monitor's own bounded eval set (run it on a "
    "document SAMPLE at 100 TB, exactly like the ANN recall monitors' "
    "query sample).",
    tags=("dedup", "simhash", "eval"),
)
def dedup_simhash_band_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r13: all three input frames read from content-keyed assets
    # (built once per corpus content) instead of re-running the
    # unpruned postings join + md5 signatures + banding per monitor
    # run — same rows, same oracle; the face is three bounded reads
    # and two equi joins
    truth = spark.read.parquet(ensure_true_neardup_pairs(spark, sf_dir))
    bands = ensure_simhash_bands(spark, sf_dir)
    sig = spark.read.parquet(os.path.join(bands, "sig"))
    cand = spark.read.parquet(os.path.join(bands, "cand")).withColumn(
        "caught_flag", F.lit(True)
    )
    ha = sig.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"))
    hb = sig.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"))
    return (
        truth.join(ha, "doc_a")
        .join(hb, "doc_b")
        .join(cand, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            "jaccard",
            F.expr("bit_count(sh_a ^ sh_b)").cast("int").alias("hamming"),
            F.coalesce("caught_flag", F.lit(False)).alias("caught"),
        )
    )


MAXDF = 50  # document-frequency cutoff for the pruned variant


def _pruned_pairs_ctes(df: str, pairs: str) -> str:
    """_EXACT_PAIRS_CTES over shingles of document frequency <= MAXDF;
    `df` and `pairs` name the frequency and pair-count CTEs."""
    return f"""{_SHINGLE_CTES},
ex0 AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
{df} AS (SELECT s, COUNT(*) AS df FROM ex0 GROUP BY 1),
ex AS (SELECT doc_id, s FROM ex0 JOIN {df} USING (s) WHERE df <= {MAXDF}),
sz AS (SELECT doc_id, COUNT(*) AS n FROM ex GROUP BY 1),
{pairs}{_COMMON_COUNTS}"""


@register(
    "dedup_ngram_jaccard_pruned",
    oracle=f"""
WITH {_pruned_pairs_ctes("df", "pairs")}
{_JACCARD_SELECT}""",
    doc=f"Near-dup pairs by Jaccard over DF-PRUNED shingles (document "
    f"frequency <= {MAXDF}): hot shingles are dropped from the inverted "
    "index BEFORE the postings self-join, removing the quadratic blowup "
    "on stop-shingles — the skew fix that makes n-gram dedup survive a "
    "skewed 100 TB corpus. Pruning is deterministic, so the oracle is "
    "exact (Jaccard is over the pruned sets on both engines).",
    tags=("dedup", "join", "skew"),
)
def dedup_ngram_jaccard_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    df, _kept = ngram_pruned_pairs(spark, sf_dir)
    return df


def ngram_pruned_pairs(
    spark: SparkSession, sf_dir: str, persist_postings: bool = False
) -> tuple[DataFrame, DataFrame]:
    # Same group-postings-once / expand-pairs-in-array shape as the
    # unpruned query — document frequency IS the posting-list size, so
    # the DF cutoff fuses into the grouping for free (no separate
    # df-count join, no postings self-join re-running the shingle
    # lineage twice; a string-keyed self-join version of this query
    # was 5x SLOWER than unpruned at sf0.1). NB the two consumers of
    # `kept` (pair expansion + per-doc pruned sizes) do NOT share the
    # shuffle: collect_list is non-deterministic, which blocks
    # ReuseExchange canonicalization, so the postings build runs per
    # consumer. Measured at sf0.1 a localCheckpoint of `kept` is a
    # wash (the build is one scan-local pass + one bounded shuffle);
    # at 100 TB persist `kept` explicitly if the rebuild shows up.
    # r4 follow-up (warm-session A/B, SCALE.md "Scale probe", ngram
    # dedup entry): a deterministic spelling — df via groupBy(s).count() + join, no collect_list in
    # the shared subtree — was ALSO a wash (candidate 2.94 s vs
    # current 2.86 s min-of-3 at sf0.1, identical 256-row output) and
    # materialized zero ReusedExchange nodes under AQE while doubling
    # the scan count in the physical plan; the single-build + persist
    # route remains the 100 TB recommendation, not plan surgery.
    # r5 (scripts/scale_probe.py, SCALE.md "Scale probe"): at 10×
    # corpus (50k docs, token space disjoint per copy — same DF
    # statistics, no cross-copy pairs) the persist route WINS 2.8×
    # (4.40 s vs 12.29 s): the r4 wash flips once the postings build
    # outweighs materialization — the 100 TB regime. A single-pass
    # tag-union rewrite (sizes + pairs from one build, one mixed-key
    # shuffle) was also measured and loses at BOTH scales; two
    # specialized shuffles with map-side partial agg beat one fat one.
    # The registered faces keep the lazy single-plan form (a returned
    # DataFrame cannot scope an unpersist); at corpus scale call with
    # persist_postings=True, trigger the action, then unpersist `kept`.
    sized, kept = _pruned_pair_counts(spark, sf_dir, persist_postings)
    j = _jaccard()
    out = sized.where(j >= 0.5).select("doc_a", "doc_b", j.alias("jaccard"))
    return out, kept


def _pruned_pair_counts(
    spark: SparkSession, sf_dir: str, persist_postings: bool = False
) -> tuple[DataFrame, DataFrame]:
    """Shared core of the Jaccard and containment pair queries: one
    postings build -> DF cutoff -> in-array pair expansion -> per-pair
    common counts joined with both docs' pruned set sizes (na, nb).
    Returns (sized pair frame, the `kept` postings for optional
    persist scoping)."""
    kept = _postings(shingled(spark, sf_dir)).where(F.size("ds") <= MAXDF)
    if persist_postings:
        from pyspark import StorageLevel

        kept = kept.persist(StorageLevel.DISK_ONLY)
    sz = (
        kept.select(F.explode("ds").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    return _sized_pairs(kept, sz), kept


@register(
    "dedup_containment_pairs",
    oracle=f"""
WITH {_pruned_pairs_ctes("df", "pairs")}
SELECT doc_a, doc_b,
       round(common::DOUBLE / LEAST(sa.n, sb.n), 6) AS containment
FROM pairs
JOIN sz sa ON doc_a = sa.doc_id
JOIN sz sb ON doc_b = sb.doc_id
WHERE round(common::DOUBLE / LEAST(sa.n, sb.n), 6) >= 0.8
""",
    doc="ASYMMETRIC near-dup signal: containment = |A∩B| / min(|A|,|B|) "
    "over the DF-pruned shingle sets — catches a short document "
    "embedded inside a long one, which symmetric Jaccard dilutes below "
    "any usable threshold (the complementary signal Lee et al.-style "
    "dedup runs beside Jaccard). Same group-postings-once machinery "
    "and candidate volume as the Jaccard form; only the final scoring "
    "differs, 6dp-rounded because the ratio gates row membership.",
    tags=("dedup", "join", "skew"),
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sized, _kept = _pruned_pair_counts(spark, sf_dir)
    c = F.round(F.col("common") / F.least(F.col("na"), F.col("nb")), 6)
    return sized.where(c >= 0.8).select("doc_a", "doc_b", c.alias("containment"))


_PRUNED_PAIRS_DUCK = f"""
{_pruned_pairs_ctes("dfc", "prs")},
dup_pairs AS (
  SELECT doc_a, doc_b
  FROM prs
  JOIN sz sa ON doc_a = sa.doc_id
  JOIN sz sb ON doc_b = sb.doc_id
  WHERE common::DOUBLE / (sa.n + sb.n - common) >= 0.5
)
"""


# the connected-component labels (doc_id, cluster_id) of dup_pairs, as
# a recursive transitive closure
_CC_LABEL_CTES = """edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM dup_pairs
  UNION ALL
  SELECT doc_b, doc_a FROM dup_pairs
),
reach AS (
  SELECT src AS node, src AS label FROM edges
  UNION
  SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node
),
lab AS (SELECT node AS doc_id, MIN(label) AS cluster_id FROM reach GROUP BY 1)"""


def connected_components(pairs: DataFrame, a: str = "doc_a", b: str = "doc_b",
                         max_iters: int = 20) -> DataFrame:
    """Connected components by iterative min-label propagation:
    every node repeatedly takes min(own label, neighbours' labels)
    until a fixpoint. Iterations = O(component diameter) — near-dup
    clusters are shallow (a handful of hops even in pathological
    chains), so this converges in 2-4 rounds; each round is ONE
    shuffle keyed on the node id plus a broadcast-or-shuffle join of
    the (node, label) frame. `localCheckpoint` truncates the loop's
    lineage so the plan doesn't grow exponentially — the standard
    Spark idiom for iterative algorithms (same shape as GraphX's
    DataFrame CC). Returns (node, label) with label = min node id of
    the component."""
    edges = pairs.select(F.col(a).alias("src"), F.col(b).alias("dst")).union(
        pairs.select(F.col(b).alias("src"), F.col(a).alias("dst"))
    ).localCheckpoint(eager=True)
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    ).localCheckpoint(eager=True)
    total = labels.agg(F.sum("label")).collect()[0][0]
    if total is None:  # no edges at all
        return labels
    for _ in range(max_iters):
        nbr = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        labels = (
            labels.join(nbr, labels.node == nbr.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        new_total = labels.agg(F.sum("label")).collect()[0][0]
        if new_total == total:  # min-label sum is monotone decreasing
            return labels
        total = new_total
    raise RuntimeError(f"connected_components did not converge in {max_iters} iters")


def ensure_cc_labels(spark: SparkSession, sf_dir: str) -> str:
    """Materialized CC-labels asset over the DF-pruned near-dup pairs:
    (node, label) parquet, built once per fixture CONTENT and
    atomically published on the shared indexcache lifecycle (same
    hardened build-once/stale-prune/race semantics as the IVF and BM25
    indexes, pinned by tests/test_ivf_index_lifecycle.py).

    This is the VERDICT r7 perf ask made structural: the iterative CC
    fixpoint (the most expensive stage of the clustering pair) is a
    DERIVED ASSET of the corpus, not a per-query computation — both
    dedup_clusters and dedup_keep_best_per_cluster read the same
    labels frame, and at warehouse scale a deployment refreshes it on
    corpus change, exactly like its inverted indexes. Deterministic by
    construction (min-label fixpoint), so the race-loser-discard
    contract holds."""
    from .indexcache import ensure_index

    def build(tmp: str) -> None:
        pairs = dedup_ngram_jaccard_pruned(spark, sf_dir).select("doc_a", "doc_b")
        connected_components(pairs).write.mode("overwrite").parquet(tmp)

    return ensure_index("cclabels", sf_dir, "documents", build)


@register(
    "dedup_clusters",
    oracle=f"""
WITH RECURSIVE {_PRUNED_PAIRS_DUCK},
{_CC_LABEL_CTES}
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS keep
FROM lab
""",
    doc="Dedup CLUSTERING: connected components over the DF-pruned "
    "near-dup pairs (keep = canonical min-id member; everything else "
    "is the drop list — the step that turns pairwise similarity into "
    "an actionable dedup of the corpus). Spark side is iterative "
    "min-label propagation (O(diameter) rounds, one keyed shuffle "
    "each), materialized as a content-keyed labels ASSET on the shared "
    "indexcache lifecycle (ensure_cc_labels — built once per corpus "
    "content, reused by the keep-best policy below); the oracle "
    "expresses the same fixpoint as a recursive-CTE transitive "
    "closure, tractable because pruned dup components are tiny",
    tags=("dedup", "iterative", "graph"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    labels = spark.read.parquet(ensure_cc_labels(spark, sf_dir))
    from pyspark.sql import Window

    w = Window.partitionBy("cluster_id")
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    ).withColumn("cluster_size", F.count("*").over(w)).withColumn(
        "keep", F.col("doc_id") == F.col("cluster_id")
    )


@register(
    "dedup_keep_best_per_cluster",
    oracle=f"""
WITH RECURSIVE {_PRUNED_PAIRS_DUCK},
{_CC_LABEL_CTES},
qt AS (SELECT doc_id, n_chars, string_split(lower(text), ' ') AS w FROM documents),
qm AS (
  SELECT doc_id,
         len(w) AS n_tokens,
         len(list_distinct(w))::DOUBLE / len(w) AS distinct_ratio,
         len(list_filter(w, x -> x IN ('{_STOP_SQL}')))::DOUBLE / len(w) AS stop_ratio
  FROM qt
),
q AS (
  SELECT doc_id,
         round(0.4 * LEAST(n_tokens / 100.0, 1.0)
             + 0.4 * distinct_ratio
             + 0.2 * (1.0 - ABS(stop_ratio - 0.4)), 6) AS quality
  FROM qm
),
cl AS (
  SELECT q.doc_id, COALESCE(lab.cluster_id, q.doc_id) AS cluster_id, q.quality
  FROM q LEFT JOIN lab ON q.doc_id = lab.doc_id
)
SELECT doc_id, cluster_id, quality,
       row_number() OVER (
         PARTITION BY cluster_id ORDER BY quality DESC, doc_id ASC
       ) = 1 AS keep
FROM cl
""",
    doc="Quality-aware canonical selection: where dedup_clusters keeps "
    "the MIN-ID member of each near-dup cluster, this keeps the "
    "HIGHEST-QUALITY member (doc_quality_score's 6dp-rounded signal; "
    "doc_id tiebreak) — the policy real corpus dedup actually wants "
    "(drop the worse copy, not the newer one). Singletons are their "
    "own cluster and always kept. Plan: the CC labels frame is the "
    "MATERIALIZED ensure_cc_labels asset (pairs + iterative CC run "
    "once per corpus content, not once per query — VERDICT r7 #5), "
    "O(clustered docs), joined to the scan-side quality signal once; "
    "the keep decision is one per-cluster window over that bounded "
    "frame — nothing quadratic beyond the already-pruned pair step.",
    tags=("dedup", "graph", "quality"),
)
def dedup_keep_best_per_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from .text import doc_quality_score

    labels = spark.read.parquet(ensure_cc_labels(spark, sf_dir))
    q = doc_quality_score(spark, sf_dir)
    cl = q.join(labels, q.doc_id == labels.node, "left").select(
        q.doc_id,
        F.coalesce(F.col("label"), q.doc_id).alias("cluster_id"),
        "quality",
    )
    w = Window.partitionBy("cluster_id").orderBy(F.desc("quality"), F.asc("doc_id"))
    return cl.withColumn("keep", F.row_number().over(w) == 1)


# ------------------------------------------------------------ decontamination

# Deterministic stand-in for a benchmark/eval suite: every 97th doc.
# In production this side is the loaded eval corpus; everything about
# the plan (broadcast the small side's distinct shingles, semi-join the
# big side) is identical.
_EVAL_PRED = "doc_id % 97 = 0"


_DECON_ORACLE = f"""
WITH {_SHINGLE_CTES},
ev AS (SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE {_EVAL_PRED}),
tr AS (SELECT doc_id, unnest(shingles) AS s FROM sh WHERE NOT ({_EVAL_PRED}))
SELECT tr.doc_id, COUNT(*) AS n_hits
FROM tr JOIN ev USING (s)
GROUP BY 1
"""


@register(
    "decontaminate_ngram_overlap",
    oracle=_DECON_ORACLE,
    doc="Train-set decontamination: flag training docs sharing any word-"
    "3-gram with the eval suite, with the count of distinct contaminated "
    "shingles per doc. Plan shape for 100 TB: the eval side (benchmarks "
    "are MBs, corpora are TBs) reduces to a distinct-shingle-hash set "
    "and BROADCASTS; the training corpus is scanned once and never "
    "shuffles before the per-doc count — contamination checking rides "
    "along any corpus pass for free. Distinct-per-doc shingles come "
    "from word_ngrams' array_distinct, so COUNT(*) after the join is "
    "already the distinct hit count in both engines.",
    tags=("dedup", "text", "join"),
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shingled(spark, sf_dir)
    ev = (
        sh.where(F.expr(_EVAL_PRED))
        .select(F.explode("shingles").alias("sh_txt"))
        .select(F.xxhash64("sh_txt").alias("s"))
        .distinct()
    )
    tr = sh.where(~F.expr(_EVAL_PRED)).select(
        "doc_id",
        F.explode(F.transform("shingles", lambda s: F.xxhash64(s))).alias("s"),
    )
    return (
        tr.join(F.broadcast(ev), "s")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


# Bloom sizing for the fixture's eval side (~1k distinct shingles):
# 2048 long words = 131072 bits, 5 lanes -> FP ~ (k*n/m)^k ~ 1e-7.
# In production m scales with the eval-suite size (bits ~ 10x distinct
# shingles keeps FP < 1%); the verify join makes FP a COST, never a
# correctness issue.
_BLOOM_WORDS = 2048
_BLOOM_K = 5


@register(
    "decontaminate_bloom_prefilter",
    oracle=_DECON_ORACLE,
    doc="Decontamination with a BLOOM prefilter: the eval shingle set "
    "compiles to a 16 KB long-array bitset (5 xxhash64 lanes) that rides "
    "to every task via a broadcast one-row cross join; training shingles "
    "that miss the bloom are dropped SCAN-SIDE in whole-stage codegen "
    "before any join, and survivors are exact-verified against the real "
    "set, so the output is identical to decontaminate_ngram_overlap "
    "(same oracle). The 100 TB role: a bloom is ~8 bits/key where a "
    "broadcast hash relation is ~30+ bytes/key, so eval suites too big "
    "to broadcast as a join relation still fit as a bloom — the exact "
    "join then only sees the ~FP+true-hit sliver instead of every "
    "training shingle.",
    tags=("dedup", "text", "join", "sketch"),
)
def decontaminate_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    sh = shingled(spark, sf_dir)
    ev = (
        sh.where(F.expr(_EVAL_PRED))
        .select(F.explode("shingles").alias("t"))
        .select(F.xxhash64("t").alias("s"))
        .distinct()
    )
    m_bits = _BLOOM_WORDS * 64
    # Sparse (word, mask) build entirely in Spark; only the bounded
    # bitset (<= _BLOOM_WORDS rows, the same data volume the exact path
    # broadcasts) is collected to assemble the dense array. The build
    # reads the RAW (non-distinct) eval shingles: bloom insertion is
    # idempotent, so the distinct's shuffle is pure cost here — the
    # bit_or grouping collapses duplicates for free. (`ev` keeps the
    # distinct for the verify join, where it controls join output.)
    ev_raw = (
        sh.where(F.expr(_EVAL_PRED))
        .select(F.explode("shingles").alias("t"))
        .select(F.xxhash64("t").alias("s"))
    )
    sparse = (
        ev_raw.select(
            F.expr(
                f"explode(transform(sequence(0, {_BLOOM_K - 1}), "
                f"i -> pmod(xxhash64(s, i), {m_bits})))"
            ).alias("bit")
        )
        .select(
            (F.col("bit") / 64).cast("int").alias("word"),
            F.col("bit").cast("int").alias("b"),
        )
        .groupBy("word")
        .agg(F.expr("bit_or(shiftleft(1L, pmod(b, 64)))").alias("mask"))
        .collect()
    )
    words = [0] * _BLOOM_WORDS
    for r in sparse:
        words[r.word] = r.mask
    bloom = spark.createDataFrame([(words,)], "bf array<bigint>")
    tr = sh.where(~F.expr(_EVAL_PRED)).select(
        "doc_id",
        F.explode(F.transform("shingles", lambda s: F.xxhash64(s))).alias("s"),
    )
    probe = F.expr(
        f"forall(sequence(0, {_BLOOM_K - 1}), i -> "
        f"(element_at(bf, cast(pmod(xxhash64(s, i), {m_bits}) div 64 AS INT) + 1) "
        f"& shiftleft(1L, cast(pmod(xxhash64(s, i), {m_bits}) AS INT) % 64)) != 0)"
    )
    pre = tr.crossJoin(F.broadcast(bloom)).where(probe).drop("bf")
    return pre.join(ev, "s").groupBy("doc_id").agg(F.count("*").alias("n_hits"))


# ------------------------------------------------- winnowing fingerprints

WINNOW_W = 4  # winnowing window over consecutive shingle hashes

# Winnowing is ORDER-SENSITIVE (the rolling window walks the shingle
# stream in document order), so it runs over the RAW sequential
# shingles — the deduplicated `shingled()` view is unusable here
# because distinct-array ordering is engine-specific (DuckDB
# list_distinct vs Spark array_distinct need not agree, and the
# window contents would silently diverge).
_RAW_SHINGLES_SPARK = (
    "IF(size(w) >= 3, "
    "transform(sequence(1, size(w) - 2), i -> "
    "concat(w[i - 1], ' ', w[i], ' ', w[i + 1])), "
    "array())"
)
_RAW_SHINGLES_DUCK = (
    "[w[i] || ' ' || w[i+1] || ' ' || w[i+2] FOR i IN range(1, len(w) - 1)]"
)
# Shingle hash both engines can reproduce bit-for-bit: first 15 hex
# chars of md5 (same trick as SimHash) — xxhash64 would be faster but
# has no DuckDB twin, and fingerprints exist to be compared ACROSS
# systems, so cross-engine reproducibility is part of the contract.
_WIN_HASH_SPARK = (
    "transform(gs, g -> "
    "CAST(conv(substring(md5(encode(g, 'UTF-8')), 1, 15), 16, 10) AS BIGINT))"
)
_WIN_HASH_DUCK = "[('0x' || substr(md5(g), 1, 15))::BIGINT FOR g IN gs]"


@register(
    "doc_winnow_fingerprints",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
sh AS (SELECT doc_id, {_RAW_SHINGLES_DUCK} AS gs FROM t),
hs AS (SELECT doc_id, {_WIN_HASH_DUCK} AS h FROM sh WHERE len(gs) > 0),
wins AS (
  SELECT doc_id,
         CASE WHEN len(h) >= {WINNOW_W}
              THEN [list_min(h[i:i + {WINNOW_W - 1}])
                    FOR i IN range(1, len(h) - {WINNOW_W} + 2)]
              ELSE [list_min(h)] END AS fps
  FROM hs
)
SELECT DISTINCT doc_id, unnest(fps) AS fp FROM wins
""",
    doc=f"Document fingerprinting by WINNOWING (Schleimer et al.): the "
    f"rolling minimum over every {WINNOW_W} consecutive shingle hashes, "
    "deduplicated — the guarantee is that any shared run of ~w+n-1 "
    "tokens between two documents shares at least one fingerprint, at "
    "~2/(w+1) the storage of full shingle sets. Entirely scan-local "
    "(transform/slice/array_min inside codegen, no explode before the "
    "distinct), so at 100 TB only the selected (doc_id, fp) pairs — "
    "a ~2/(w+1) fraction of postings — reach the shuffle that an "
    "overlap join would key on.",
    tags=("dedup", "text", "fingerprint"),
)
def doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", whitespace_tokens("text").alias("w")
    ).select("doc_id", F.expr(_RAW_SHINGLES_SPARK).alias("gs")).where(F.size("gs") > 0)
    hs = sh.select("doc_id", F.expr(_WIN_HASH_SPARK).alias("h"))
    w = WINNOW_W
    wins = hs.select(
        "doc_id",
        F.expr(
            f"CASE WHEN size(h) >= {w} THEN "
            f"transform(sequence(1, size(h) - {w} + 1), i -> array_min(slice(h, i, {w}))) "
            f"ELSE array(array_min(h)) END"
        ).alias("fps"),
    )
    return wins.select("doc_id", F.explode(F.array_distinct("fps")).alias("fp"))


# ---------------------------------------------------------------------------
# Duplicated-passage detection (Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better" — the ExactSubstr signal): find
# token spans that occur more than once across the corpus and score each
# document by the fraction of its spans that are corpus-duplicated. The
# doc-level signal feeds the same keep/drop cascade as the quality
# filters; span-level offsets (for surgical passage removal) are the
# same exploded frame before the per-doc re-aggregate.

SPAN_W = 8  # tokens per span, stride 1


@register(
    "span_dup_stats",
    # Oracle keys spans by the literal token string; the Spark operator
    # keys by xxhash64 of that string (8-byte shuffle keys instead of
    # variable-width strings — the 100 TB knob). Counts agree unless
    # xxhash64 collides (~2^-64 per pair; none at test scale).
    oracle=f"""
WITH toks AS (
  SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
),
spans AS (
  SELECT doc_id, array_to_string(t[i+1:i+{SPAN_W}], ' ') AS sp
  FROM (SELECT doc_id, t, unnest(range(len(t) - {SPAN_W - 1})) AS i
        FROM toks WHERE len(t) >= {SPAN_W})
),
c AS (SELECT doc_id, sp, COUNT(*) OVER (PARTITION BY sp) AS n FROM spans)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(COUNT(*) FILTER (n > 1) AS BIGINT) AS n_dup_spans,
       round(COUNT(*) FILTER (n > 1) / COUNT(*), 6) AS dup_span_frac
FROM c GROUP BY doc_id
""",
    doc=f"Duplicated-passage stats per document: stride-1 {SPAN_W}-token "
    "spans, a span is 'duplicated' if it occurs >1 time corpus-wide "
    "(within- or cross-document). Two bounded shuffles: spans hash to "
    "8-byte xxhash64 keys (span-hash partitioning — the global count is "
    "a window over that key), then a per-doc re-aggregate. Span "
    "explosion is ~|tokens| rows per doc but carries only (doc_id, "
    "hash) — at 100 TB this is the map-side-combine-friendly shape; "
    "the string spans themselves never shuffle.",
    tags=("dedup", "text"),
)
def span_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    docs = load(spark, sf_dir, "documents")
    spans = (
        docs.select("doc_id", whitespace_tokens("text").alias("t"))
        .where(F.size("t") >= SPAN_W)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(t) - {SPAN_W - 1}), "
                    f"i -> xxhash64(array_join(slice(t, i, {SPAN_W}), ' ')))"
                )
            ).alias("h"),
        )
    )
    n_global = F.count("*").over(W.partitionBy("h"))
    scored = spans.withColumn("n", n_global)
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum((F.col("n") > 1).cast("long")).alias("n_dup_spans"),
        F.round(
            F.sum((F.col("n") > 1).cast("long")) / F.count("*"), 6
        ).alias("dup_span_frac"),
    )


# --------------------------------------------------- incremental dedup

_INCR_ORACLE = f"""
WITH {_EXACT_PAIRS_CTES},
verified AS (
  SELECT doc_a, doc_b, common * 1.0 / (sa.n + sb.n - common) AS jaccard
  FROM pairs
  JOIN sz sa ON sa.doc_id = doc_a
  JOIN sz sb ON sb.doc_id = doc_b
  WHERE common * 1.0 / (sa.n + sb.n - common) >= 0.5
    AND (doc_a % 2) <> (doc_b % 2)
),
oriented AS (
  SELECT CASE WHEN doc_a % 2 = 1 THEN doc_a ELSE doc_b END AS new_id,
         CASE WHEN doc_a % 2 = 1 THEN doc_b ELSE doc_a END AS matched_id,
         jaccard
  FROM verified
)
SELECT new_id, matched_id, jaccard
FROM oriented
QUALIFY row_number() OVER (PARTITION BY new_id ORDER BY matched_id ASC) = 1
"""


@register(
    "dedup_incremental_lsh",
    # Same semantic-equivalence oracle as dedup_minhash_lsh (exact
    # Jaccard pair set — the 16x2 banding's recall-1.0 contract at
    # J>=0.5), restricted to cross-split pairs and reduced to one
    # match per new document.
    oracle=_INCR_ORACLE,
    doc="Incremental (appending) dedup — the shape a production corpus "
    "actually runs: the existing corpus (even doc_ids stand in for "
    "'already ingested') keeps its LSH signatures materialized; each "
    "NEW batch (odd doc_ids) is signed, bucketed, and verified only "
    "against colliding corpus buckets, then each new doc reports its "
    "lowest-id corpus near-dup. At 100 TB the corpus-side signature "
    "index is the persisted asset (O(docs x 32 longs), bucketed by "
    "(band, bucket) on disk) and a new batch's cost is proportional "
    "to the BATCH, not the corpus — no all-corpus rescan, no "
    "corpus-corpus pair expansion.",
    tags=("dedup", "lsh", "incremental"),
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    cand = lsh_candidate_pairs(minhash_signatures(spark, sf_dir)).where(
        (F.col("doc_a") % 2) != (F.col("doc_b") % 2)
    )  # cross-split only, BEFORE the shingle-verify join
    pairs = verify_exact_jaccard(spark, sf_dir, cand)
    oriented = pairs.select(
        F.when(F.col("doc_a") % 2 == 1, F.col("doc_a")).otherwise(F.col("doc_b")).alias("new_id"),
        F.when(F.col("doc_a") % 2 == 1, F.col("doc_b")).otherwise(F.col("doc_a")).alias("matched_id"),
        "jaccard",
    )
    from pyspark.sql import Window as W

    rn = F.row_number().over(W.partitionBy("new_id").orderBy(F.asc("matched_id")))
    return oriented.withColumn("rn", rn).where(F.col("rn") == 1).drop("rn")


# ------------------------------------------- passage-level dedup (C4-style)

PASSAGE_TOKENS = 8  # disjoint 8-token passages (span_dup_stats' granularity)


def _passages(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, ptxt): the ONE passage fan-out — disjoint
    PASSAGE_TOKENS-token windows over the whitespace tokens, shared by
    the keep-first transform, the incremental probe and the index
    writer so tokenization can never drift between them."""
    w = docs.select("doc_id", F.split("text", " ").alias("w"))
    starts = F.expr(f"sequence(0, greatest(size(w) - 1, 0), {PASSAGE_TOKENS})")
    return w.select("doc_id", "w", F.explode(starts).alias("st")).select(
        "doc_id",
        (F.col("st") / PASSAGE_TOKENS).cast("bigint").alias("pos"),
        F.array_join(F.slice("w", F.col("st") + 1, PASSAGE_TOKENS), " ").alias("ptxt"),
    )


def _reassemble(flagged: DataFrame) -> DataFrame:
    """Rebuild (doc_id, n_passages, n_kept, clean_text) from a
    (doc_id, pos, ptxt, keep) frame — the shared sorted-fold."""
    return flagged.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_passages"),
        F.sum(F.when(F.col("keep"), 1).otherwise(0)).cast("bigint").alias("n_kept"),
        F.array_join(
            F.transform(
                # when() without otherwise() yields NULL for dropped
                # passages and collect_list skips NULLs — only kept
                # passages enter the sorted fold
                F.sort_array(
                    F.collect_list(F.when(F.col("keep"), F.struct("pos", "ptxt")))
                ),
                lambda s: s["ptxt"],
            ),
            " ",
        ).alias("clean_text"),
    )


@register(
    "dedup_passages_keep_first",
    oracle=f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
s AS (
  SELECT doc_id, w,
         unnest(range(0, greatest(len(w) - 1, 0) + 1, {PASSAGE_TOKENS})) AS st
  FROM t
),
p AS (
  SELECT doc_id, CAST(st // {PASSAGE_TOKENS} AS BIGINT) AS pos,
         array_to_string(list_slice(w, st + 1, st + {PASSAGE_TOKENS}), ' ') AS ptxt
  FROM s
),
k AS (
  SELECT doc_id, pos, ptxt,
         row_number() OVER (PARTITION BY ptxt ORDER BY doc_id, pos) = 1 AS keep
  FROM p
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_passages,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(string_agg(CASE WHEN keep THEN ptxt END, ' ' ORDER BY pos), '')
         AS clean_text
FROM k GROUP BY 1
""",
    doc=f"Passage-level exact dedup with document REASSEMBLY — the "
    "C4/CCNet line-dedup stage adapted to the fixture's unpunctuated "
    f"text: documents split into disjoint {PASSAGE_TOKENS}-token "
    "passages, every passage that already occurred anywhere in the "
    "corpus (keep-first: lexicographic min (doc_id, pos) wins, "
    "including self-repeats within a document) is DROPPED, and each "
    "document is rebuilt from its surviving passages in order — the "
    "corpus TRANSFORM twin of span_dup_stats' signal. Scale shape: "
    "passage fan-out is scan-local array arithmetic (the "
    "doc_chunk_windows machinery at stride=size); the keep decision "
    "is ONE shuffle keyed by passage content (at 100 TB the key "
    "becomes a 128-bit fingerprint and only (fp, doc_id, pos) "
    "shuffles — dedup_exact's md5 convention); reassembly is one "
    "doc-keyed sorted fold. Nothing quadratic anywhere: cost is "
    "O(passages), independent of how duplicated the corpus is.",
    tags=("dedup", "text"),
)
def dedup_passages_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    return passages_keep_first_over(load(spark, sf_dir, "documents"))


def passages_keep_first_over(docs: DataFrame) -> DataFrame:
    """The passage-dedup transform over any (doc_id, text) frame —
    planted-duplicate tests drive this directly."""
    from pyspark.sql import Window as W

    keep = (
        F.row_number().over(W.partitionBy("ptxt").orderBy("doc_id", "pos")) == 1
    )
    return _reassemble(_passages(docs).withColumn("keep", keep))


PASSAGE_BATCH_MOD = 8  # batch = doc_id % 8 == 7 (the appending slice)


def write_passage_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Materialize the passage-dedup index over the BASE corpus (every
    doc outside the appending slice): the DISTINCT passage texts,
    bucketed on disk by a passage hash so a batch probe's equi-join is
    co-partitioned at warehouse scale (the BM25 term-bucket layout,
    applied to passages)."""
    import os

    docs = load(spark, sf_dir, "documents").where(
        F.pmod(F.col("doc_id"), F.lit(PASSAGE_BATCH_MOD)) != PASSAGE_BATCH_MOD - 1
    )
    (
        _passages(docs)
        .select("ptxt")
        .distinct()
        .withColumn("pbucket", F.pmod(F.xxhash64("ptxt"), F.lit(64)))
        .write.mode("overwrite")
        .partitionBy("pbucket")
        .parquet(os.path.join(path, "passages"))
    )


@register(
    "dedup_passages_incremental",
    oracle=f"""
WITH t AS (
  SELECT doc_id, string_split(text, ' ') AS w,
         doc_id % {PASSAGE_BATCH_MOD} = {PASSAGE_BATCH_MOD - 1} AS is_batch
  FROM documents
),
s AS (
  SELECT doc_id, w, is_batch,
         unnest(range(0, greatest(len(w) - 1, 0) + 1, {PASSAGE_TOKENS})) AS st
  FROM t
),
p AS (
  SELECT doc_id, is_batch, CAST(st // {PASSAGE_TOKENS} AS BIGINT) AS pos,
         array_to_string(list_slice(w, st + 1, st + {PASSAGE_TOKENS}), ' ') AS ptxt
  FROM s
),
base AS (SELECT DISTINCT ptxt FROM p WHERE NOT is_batch),
k AS (
  SELECT doc_id, pos, ptxt,
         ptxt NOT IN (SELECT ptxt FROM base)
         AND row_number() OVER (PARTITION BY ptxt ORDER BY doc_id, pos) = 1
           AS keep
  FROM p WHERE is_batch
)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_passages,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       COALESCE(string_agg(CASE WHEN keep THEN ptxt END, ' ' ORDER BY pos), '')
         AS clean_text
FROM k GROUP BY 1
""",
    doc="The APPENDING-corpus passage dedup (the incremental contract "
    "every pillar carries — signatures, postings, inverted lists, "
    "SemDeDup scored frames — applied to passages): the base corpus's "
    "distinct passages are a persisted hash-bucketed index; a new "
    "document batch dedups by FIRST-ARRIVAL semantics — any passage "
    "already in the index is dropped (the base arrived first), then "
    "keep-first within the batch itself — and rebuilds its documents "
    "from the survivors. Cost ∝ batch passages + one co-partitioned "
    "anti-join against the index; the corpus is never rescanned. The "
    "oracle replays the same arrival order in SQL (base wins every "
    "shared passage), which is exactly what makes the incremental "
    "form equal to its replay — the dedup_incremental_lsh orientation "
    "argument, applied here.",
    tags=("dedup", "text", "incremental"),
)
def dedup_passages_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from pyspark.sql import Window as W

    from .indexcache import ensure_index

    idx = ensure_index(
        "passages",
        sf_dir,
        "documents",
        lambda tmp: write_passage_index(spark, sf_dir, tmp),
    )
    batch = load(spark, sf_dir, "documents").where(
        F.pmod(F.col("doc_id"), F.lit(PASSAGE_BATCH_MOD)) == PASSAGE_BATCH_MOD - 1
    )
    p = _passages(batch)
    known = spark.read.parquet(os.path.join(idx, "passages")).select("ptxt")
    novel = p.join(known, "ptxt", "left_anti")
    first = (
        F.row_number().over(W.partitionBy("ptxt").orderBy("doc_id", "pos")) == 1
    )
    flagged = p.join(
        novel.withColumn("keep", first).select("doc_id", "pos", "keep"),
        ["doc_id", "pos"],
        "left",
    ).withColumn("keep", F.coalesce(F.col("keep"), F.lit(False)))
    return _reassemble(flagged)
