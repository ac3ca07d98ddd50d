"""Deduplication operators for large-scale training-data pipelines
(beyond-reference surface; BASELINE.json north star).

Five dedup families over the driver's ``documents`` / ``embeddings``
tables, each a declared query with a DuckDB oracle:

  dedup_exact            -- hash-groupBy on md5(text)
  dedup_ngram_jaccard    -- 3-gram shingle inverted-index self-join,
                            exact Jaccard >= threshold (quadratic in
                            shingle-bucket size: the exactness baseline)
  dedup_minhash_lsh      -- MinHash signatures (md5-order min-hash) +
                            banded LSH bucket join + exact verify: the
                            100 TB scale path — candidate generation is
                            a linear groupBy + an equi-join on band keys
  dedup_simhash          -- 16-bit SimHash fingerprint per document
  dedup_embedding_cosine -- near-dup pairs by embedding cosine

Determinism/oracle notes: every hash is md5 (identical in Spark and
DuckDB); MinHash takes the lexicographic MIN of md5 hex strings (a
uniform order statistic, no hex→int conversion needed); cosine uses
integer-quantized vectors (see similarity.py) so sums are exact and
order-independent.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

import math
import random
import shutil
from typing import NamedTuple

from ..sources.tables import ensure_parallelism, load_table
from ..caches import PlanCache, _unpersist_quietly
from .registry import register
from .similarity import (COSINE_ORACLE_EXPR, DIM, N_CENTROIDS, QUANT,
                         _bucket_col, dot_sql,
                         _bucket_sql, _ivf_parts, int_dot, int_norm2,
                         quantize, sem_centroids_sql, sem_corpus)

SHINGLE_K = 3
JACCARD_THRESHOLD = 0.8
MINHASH_K = 8            # signature length
LSH_BANDS = 4            # bands of 2 rows each: P(cand) = 1-(1-j^2)^4
COSINE_DUP_THRESHOLD = 0.45


# ---------------------------------------------------------------------------
# shared shingle machinery

def shingles_col(text: Column, k: int = SHINGLE_K) -> Column:
    """Whitespace-token k-gram shingles as an array<string>.

    Guarded for texts shorter than k words: ``sequence(0, n)`` with a
    negative n generates a DESCENDING sequence in Spark (not an empty
    one), which would index out of bounds — short texts yield [].
    """
    words = F.split(text, " ")
    return F.when(
        F.size(words) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(words) - k),
            lambda i: F.concat_ws(
                " ", *[F.element_at(words, i + j + 1) for j in range(k)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def doc_shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) distinct pairs — the inverted-index input."""
    return (
        ensure_parallelism(docs)
        .filter(F.size(F.split("text", " ")) >= SHINGLE_K)
        .select("doc_id", F.explode(shingles_col(F.col("text"))).alias("shingle"))
        .distinct()
    )


# DuckDB mirror of doc_shingles (1-indexed lists)
SHINGLES_SQL = """
words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
doc_shingles AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(w) - 1),
                               i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS shingle
  FROM words
)"""


def _jaccard_pairs(ds: DataFrame) -> DataFrame:
    """Exact all-pairs Jaccard over (doc_id, shingle) sets via the
    inverted-index self-join — the exactness baseline. Quadratic in
    per-shingle bucket size; the LSH query verifies candidates via
    array_intersect instead (work ∝ collisions, not ∝ Σ df²)."""
    counts = ds.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    a = ds.alias("a")
    b = ds.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"),
                 F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    ca = counts.alias("ca")
    cb = counts.alias("cb")
    return (
        pairs.join(ca, F.col("doc_a") == F.col("ca.doc_id"))
        .join(cb, F.col("doc_b") == F.col("cb.doc_id"))
        .select(
            "doc_a", "doc_b",
            (F.col("common")
             / (F.col("ca.n") + F.col("cb.n") - F.col("common"))).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# integer-count division + >= on exact ints/doubles: engine-identical
JACCARD_PAIRS_SQL = """
counts AS (SELECT doc_id, count(*) AS n FROM doc_shingles GROUP BY 1),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
  FROM doc_shingles a
  JOIN doc_shingles b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
jac AS (
  SELECT doc_a, doc_b,
         common / (ca.n + cb.n - common) AS jaccard
  FROM pairs
  JOIN counts ca ON ca.doc_id = doc_a
  JOIN counts cb ON cb.doc_id = doc_b
)"""


# ---------------------------------------------------------------------------
# D1: exact dedup

@register(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS content_hash,
       min(doc_id) AS keep_doc_id,
       count(*) AS n_copies
FROM documents
GROUP BY 1""",
    doc="Exact dedup: hash-groupBy on md5(text), keep lowest doc_id. "
        "One shuffle on the hash; at 100 TB hash first so the shuffle "
        "moves 32-byte keys, not documents.",
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        # hash BEFORE the shuffle: group keys are 32-byte digests
        docs.select(F.md5("text").alias("content_hash"), "doc_id")
        .groupBy("content_hash")
        .agg(F.min("doc_id").alias("keep_doc_id"),
             F.count(F.lit(1)).alias("n_copies"))
    )


# ---------------------------------------------------------------------------
# D2: exact n-gram Jaccard

_SHINGLES_CTE = SHINGLES_SQL.strip()
_JACCARD_CTE = JACCARD_PAIRS_SQL.strip()


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {_SHINGLES_CTE},
{_JACCARD_CTE}
SELECT doc_a, doc_b, jaccard FROM jac
WHERE jaccard >= {JACCARD_THRESHOLD}""",
    doc="Near-dup pairs by exact 3-gram Jaccard >= 0.8 via shingle "
        "inverted-index self-join. Exactness baseline for MinHash; "
        "quadratic in per-shingle bucket size — use dedup_minhash_lsh "
        "at scale.",
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    ds = doc_shingles(load_table(spark, sf_dir, "documents"))
    return _jaccard_pairs(ds)


# ---------------------------------------------------------------------------
# D3: MinHash + banded LSH

def doc_shingle_sets(docs: DataFrame) -> DataFrame:
    """(doc_id, sh array<string>, n) — distinct shingle SET per doc as
    an array column. One narrow projection, no explode, no shuffle:
    this is what makes the whole MinHash pipeline linear at 100 TB
    (signatures and verification both work off the array in place)."""
    return (
        ensure_parallelism(docs)
        .filter(F.size(F.split("text", " ")) >= SHINGLE_K)
        .select("doc_id",
                F.array_distinct(shingles_col(F.col("text"))).alias("sh"))
        .withColumn("n", F.size("sh"))
    )


DOC_SETS_SQL = """
words AS (
  SELECT doc_id, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
doc_sets AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(w) - 1),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh
  FROM words
),
doc_sets_n AS (SELECT doc_id, sh, len(sh) AS n FROM doc_sets)"""


# one persisted shingle index per (session, sf_dir) — the index is
# consumed three times per query (signatures + both verification sides)
# and by the survivors/clusters queries on top; without this cache each
# invocation would pin its own duplicate copy in the block manager.
# At 100 TB this is the disk-backed shingle-index table every MinHash
# pipeline materializes once; persisting also pins AQE stats.
_SETS_CACHE: dict[tuple[str, str], DataFrame] = PlanCache()


def _session_key(spark: SparkSession) -> str:
    """Cache key for per-session plan caches. ``applicationId`` is
    unique per SparkContext lifetime, so (unlike ``id(spark)``) a new
    session landing on a recycled Python object id can never alias a
    stale persisted plan from a garbage-collected predecessor."""
    return spark.sparkContext.applicationId


def _persisted_shingle_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (_session_key(spark), sf_dir)
    if key not in _SETS_CACHE:
        _SETS_CACHE[key] = doc_shingle_sets(
            load_table(spark, sf_dir, "documents")
        ).persist(StorageLevel.MEMORY_AND_DISK)
    return _SETS_CACHE[key]


def minhash_band_keys(sets: DataFrame, k: int = MINHASH_K,
                      bands: int = LSH_BANDS) -> DataFrame:
    """(doc_id, band_id, band_key) from per-row array mins.

    MinHash value i = lexicographic MIN of md5(i || ':' || shingle) —
    the md5 hex string is uniform so its minimum is a valid min-hash
    order statistic, identical in any engine with md5 (oracle-exact).
    Computed as array_min(transform(...)): per-row, no aggregation.
    """
    rows_per_band = k // bands

    def sig_col(i: int):
        # NOTE: the lambda must take exactly ONE parameter. The tempting
        # closure idiom ``lambda s, i=i: ...`` makes a TWO-parameter
        # lambda, which PySpark binds as transform's (element, index)
        # form — ``i`` then captures the array-index Column and
        # ``F.lit(f"{i}:")`` stringifies that Column (including its
        # session-global x_N name) into the hash prefix: every plan
        # gets a different, garbage minhash family. Self-consistent
        # per-plan (so single-query results look fine) but incompatible
        # across plans — it broke the streaming LSH index before
        # tests/test_minhash_reference.py pinned the true family.
        prefix = f"{i}:"
        return F.array_min(F.transform(
            F.col("sh"),
            lambda s: F.md5(F.concat(F.lit(prefix), s)))).alias(f"h{i}")

    sig_cols = [sig_col(i) for i in range(k)]
    sig = sets.select("doc_id", *sig_cols)
    band_structs = []
    for b in range(bands):
        cols = [F.col(f"h{b * rows_per_band + r}") for r in range(rows_per_band)]
        band_structs.append(F.struct(F.lit(b).alias("band_id"),
                                     F.md5(F.concat_ws("|", *cols)).alias("band_key")))
    return (
        sig.select("doc_id", F.explode(F.array(*band_structs)).alias("bk"))
        .select("doc_id", "bk.band_id", "bk.band_key")
    )


def _minhash_sql(k: int = MINHASH_K, bands: int = LSH_BANDS) -> str:
    rows_per_band = k // bands
    sig_cols = ",\n         ".join(
        f"list_min(list_transform(sh, s -> md5('{i}:' || s))) AS h{i}"
        for i in range(k))
    band_selects = []
    for b in range(bands):
        cols = " || '|' || ".join(
            f"h{b * rows_per_band + r}" for r in range(rows_per_band))
        band_selects.append(
            f"SELECT doc_id, {b} AS band_id, md5({cols}) AS band_key FROM sigs")
    return f"""
sigs AS (
  SELECT doc_id,
         {sig_cols}
  FROM doc_sets
),
band_keys AS (
  {" UNION ALL ".join(band_selects)}
),
candidates AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM band_keys a
  JOIN band_keys b ON a.band_id = b.band_id AND a.band_key = b.band_key
                   AND a.doc_id < b.doc_id
)"""


@register(
    "dedup_minhash_lsh",
    oracle=f"""
WITH {DOC_SETS_SQL.strip()},
{_minhash_sql().strip()}
SELECT c.doc_a, c.doc_b,
       len(list_intersect(a.sh, b.sh))
         / (a.n + b.n - len(list_intersect(a.sh, b.sh))) AS jaccard
FROM candidates c
JOIN doc_sets_n a ON a.doc_id = c.doc_a
JOIN doc_sets_n b ON b.doc_id = c.doc_b
WHERE len(list_intersect(a.sh, b.sh))
        / (a.n + b.n - len(list_intersect(a.sh, b.sh))) >= {JACCARD_THRESHOLD}""",
    doc="MinHash(8) + LSH(4 bands of 2) candidate generation, exact-"
        "Jaccard verification of candidates only. The 100 TB path: "
        "shingle sets stay as array columns (no explode/shuffle), "
        "signatures are per-row array_min folds, the only shuffles are "
        "the tiny band-key equi-join and two doc_id lookups for the "
        "surviving candidates — work ∝ collisions, not ∝ Σ df².",
)
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return confirmed_minhash_pairs(spark, sf_dir)


# one persisted CONFIRMED-PAIRS result per (session, sf_dir): the pair
# set is consumed by four queries (lsh itself, survivors' anti-join,
# pipeline_clean_corpus, dedup_clusters' iterative propagation) and
# re-executing the band-key aggregation + candidate explosion + verify
# joins per consumer both wastes the largest shuffle in the job and
# lets AQE re-plan the subtree differently each time (observed: the
# survivors query 5x slower than the lsh query it contains). At 100 TB
# this is the materialized dup-pairs table every dedup pipeline writes
# once and joins against many times.
_PAIRS_CACHE: dict[tuple[str, str], DataFrame] = PlanCache()


def confirmed_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (_session_key(spark), sf_dir)
    if key not in _PAIRS_CACHE:
        _PAIRS_CACHE[key] = _build_minhash_pairs(spark, sf_dir) \
            .persist(StorageLevel.MEMORY_AND_DISK)
    return _PAIRS_CACHE[key]


def _build_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sets = _persisted_shingle_sets(spark, sf_dir)
    bk = minhash_band_keys(sets)
    # candidate pairs via ONE pass over the band keys: group each
    # bucket, emit in-bucket combinations. A self-join would recompute
    # the whole signature subtree for both sides; this shuffles the
    # 16-byte band keys once. Hot buckets cost |bucket|² pairs — that's
    # inherent to LSH and bounded by band selectivity, not data size.
    cand = (
        bk.groupBy("band_id", "band_key")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode(F.expr(
            "flatten(transform(ids, (x, i) -> "
            "transform(slice(ids, i + 2, size(ids) - i - 1), "
            "y -> struct(x AS doc_a, y AS doc_b))))")).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    sa = sets.alias("sa")
    sb = sets.alias("sb")
    # Verification joins the candidate list against the (persisted)
    # shingle index twice on doc_id. Join strategy is left to AQE on
    # purpose: with few candidates it broadcasts; with a dup-heavy
    # corpus the candidate set is ~|collisions| (the scale probe hits
    # 4M pairs on 100k replicated docs) and a forced broadcast of
    # candidate×shingle-array rows would OOM — AQE's runtime stats pick
    # the shuffle join exactly when that happens.
    left = sa.join(cand, F.col("doc_a") == F.col("sa.doc_id")) \
             .select("doc_a", "doc_b",
                     F.col("sa.sh").alias("sh_a"), F.col("sa.n").alias("n_a"))
    common = F.size(F.array_intersect(F.col("sh_a"), F.col("sb.sh")))
    jaccard = common / (F.col("n_a") + F.col("sb.n") - common)
    return (
        sb.join(left, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", jaccard.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    )


# the recall ledger the MinHash path was missing (round 7): the
# embedding side has hash-checked quality rows for every approximate
# generator (banded monitor, floor router, IVF fallback ledger) while
# MinHash-LSH only had the candidates-verify parity — this row pins
# what fraction of the EXACT >= 0.8 Jaccard pairs the banded signature
# scheme surfaces, against the same inverted-index truth the
# dedup_ngram_jaccard baseline computes. Both sides deterministic
# (md5-order min-hash, integer-count Jaccard), so the recall value
# itself is driver-hash-checked.
#
# The truth side is quadratic BY DEFINITION, so exactly like the
# embedding monitors it is measured on a deterministic CAPPED labeled
# domain (doc_id < MINHASH_RECALL_CAP): a no-op at the driver's gated
# scales (500 / 5,000 docs), a hard bound at any scale-up — the
# UNCAPPED truth spilled DuckDB's temp store past the disk at the 20x
# fixture (100k docs, Σdf² pair explosion), which is precisely the
# bill this cap refuses to pay. Candidate generation restricted to the
# capped domain equals the full-corpus pair table filtered to it
# (band keys are per-document, a pair collides iff its two keys
# collide — domain-local), so the Spark side reuses the session-cached
# full pair table with an id filter.

MINHASH_RECALL_CAP = 20_000

# one persisted capped exact-Jaccard truth set per (session, sf_dir) —
# the text-side twin of capped_exact_pairs: the shingle-bucket verify
# is the dominant cost of every MinHash recall read, and its output is
# a few-dozen-row pair list. Evicted by caches.clear_plan_caches / LRU.
_MINHASH_TRUTH_CACHE: dict[tuple[str, str], DataFrame] = PlanCache()


def capped_jaccard_truth(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (_session_key(spark), sf_dir)
    if key not in _MINHASH_TRUTH_CACHE:
        docs = load_table(spark, sf_dir, "documents") \
            .filter(F.col("doc_id") < MINHASH_RECALL_CAP)
        _MINHASH_TRUTH_CACHE[key] = (
            _jaccard_pairs(doc_shingles(docs)).select("doc_a", "doc_b")
            .persist(StorageLevel.MEMORY_AND_DISK))
    return _MINHASH_TRUTH_CACHE[key]


_DOC_SETS_CAPPED_SQL = DOC_SETS_SQL.replace(
    "FROM documents",
    f"FROM (SELECT * FROM documents WHERE doc_id < {MINHASH_RECALL_CAP})")


@register(
    "dedup_minhash_recall",
    oracle=f"""
WITH {_DOC_SETS_CAPPED_SQL.strip()},
doc_shingles AS (
  SELECT DISTINCT doc_id, unnest(sh) AS shingle FROM doc_sets
),
{JACCARD_PAIRS_SQL.strip()},
{_minhash_sql().strip()},
truth AS (
  SELECT doc_a, doc_b FROM jac WHERE jaccard >= {JACCARD_THRESHOLD}
),
found AS (
  SELECT c.doc_a, c.doc_b
  FROM candidates c
  JOIN doc_sets_n a ON a.doc_id = c.doc_a
  JOIN doc_sets_n b ON b.doc_id = c.doc_b
  WHERE len(list_intersect(a.sh, b.sh))
          / (a.n + b.n - len(list_intersect(a.sh, b.sh)))
        >= {JACCARD_THRESHOLD}
)
SELECT CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_true,
       CAST((SELECT count(*) FROM truth t JOIN found f
             ON t.doc_a = f.doc_a AND t.doc_b = f.doc_b)
            AS BIGINT) AS found_pairs,
       CAST((SELECT count(*) FROM truth t JOIN found f
             ON t.doc_a = f.doc_a AND t.doc_b = f.doc_b) AS DOUBLE)
         / NULLIF((SELECT count(*) FROM truth), 0) AS recall""",
    doc="MinHash-LSH recall ledger: fraction of the exact >= 0.8 "
        "Jaccard pairs (shingle inverted-index truth, the "
        "dedup_ngram_jaccard baseline, on the deterministic capped "
        "labeled domain doc_id < 20000 — a no-op at gated scales) "
        "that the MinHash(8)x4-band candidate generator surfaces "
        "after exact verification — the text-side twin of "
        "dedup_embedding_lsh_recall, completing a hash-checked "
        "quality row for EVERY approximate dedup generator in the "
        "engine. Deterministic on both engines.",
)
def q_dedup_minhash_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    truth = capped_jaccard_truth(spark, sf_dir)
    found = (confirmed_minhash_pairs(spark, sf_dir)
             .filter((F.col("doc_a") < MINHASH_RECALL_CAP)
                     & (F.col("doc_b") < MINHASH_RECALL_CAP))
             .select("doc_a", "doc_b").withColumn("_hit", F.lit(1)))
    return (
        truth.join(found, ["doc_a", "doc_b"], "left")
        .agg(F.count(F.lit(1)).cast("long").alias("n_true"),
             F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
             .cast("long").alias("found_pairs"))
        .select("n_true", "found_pairs",
                F.when(F.col("n_true") > 0,
                       F.col("found_pairs") / F.col("n_true"))
                .cast("double").alias("recall"))
    )


# ---------------------------------------------------------------------------
# D4: SimHash fingerprints

def _simhash16_codes_kernel(pdfs):
    """Per-doc 16-bit sign-sum simhash, one (doc_id, code) per row.

    OPTIMIZATION r12 (guide §4.2, the _simhash60_codes_kernel
    pattern): the JVM formulation exploded every token, row-level
    .distinct()'d the (doc, token) stream, and ran sixteen per-bit
    hex-digit sum aggregates plus a per-doc shuffle. Each task now
    computes its docs' codes locally and ships one row per doc —
    same-session 0.83 -> 0.43 s at sf0.1, 0.99 -> 0.56 s at sf0.5,
    output bit-identical at both scales.

    Exactness: simhash bit b is derived from hex digit b//4 of
    md5(token), power 2^(3 - b%4) — i.e. bit (15 - b) of
    int(md5hex[:4], 16); hashlib md5 == JVM/DuckDB md5; the per-doc
    distinct token set is set(text.split(' ')) (empty tokens included,
    as on the JVM path); bit set iff the signed sum is positive
    (2*ones > n) — integer compares, order-independent. A NULL text
    has no tokens, so its doc emits no row (the JVM path's
    explode(split(NULL)) dropped it too)."""
    import hashlib

    import numpy as np
    import pandas as pd
    bit_shifts = np.arange(15, -1, -1, dtype=np.uint64)
    out_shifts = np.arange(16, dtype=np.uint64)
    for pdf in pdfs:
        pdf = pdf[pdf["text"].notna()]
        out = np.empty(len(pdf), dtype=np.int64)
        for i, text in enumerate(pdf["text"]):
            toks = set(text.split(" "))
            hvs = np.fromiter(
                (int(hashlib.md5(tk.encode("utf-8")).hexdigest()[:4], 16)
                 for tk in toks), dtype=np.uint64, count=len(toks))
            ones = ((hvs[:, None] >> bit_shifts) & 1).sum(axis=0,
                                                          dtype=np.int64)
            out[i] = int(((2 * ones > len(toks)).astype(np.uint64)
                          << out_shifts).sum())
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash16": out})



@register(
    "dedup_simhash",
    memo_plan=True,   # pure lazy construction (see registry._PLAN_MEMO)
    oracle=f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
), th AS (
  SELECT doc_id, md5(tok) AS h FROM toks
), bits AS (
  SELECT doc_id,
         {", ".join(
            f"sum(2 * ((instr('0123456789abcdef', substr(h, {1 + b // 4}, 1)) - 1)"
            f" // {2 ** (3 - b % 4)} % 2) - 1) AS s{b}"
            for b in range(16))}
  FROM th GROUP BY doc_id
)
SELECT doc_id,
       CAST({" + ".join(f"(CASE WHEN s{b} > 0 THEN {2 ** b} ELSE 0 END)" for b in range(16))}
            AS BIGINT) AS simhash16
FROM bits""",
    doc="16-bit SimHash per document: sign-sum of md5-derived token "
        "bits. Fingerprints cluster near-duplicates into nearby codes; "
        "one narrow Arrow map (code computed task-locally per doc), "
        "no shuffle, linear at any scale.",
)
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T
    docs = load_table(spark, sf_dir, "documents")
    return ensure_parallelism(docs).select("doc_id", "text").mapInPandas(
        _simhash16_codes_kernel,
        T.StructType([T.StructField("doc_id", T.LongType()),
                      T.StructField("simhash16", T.LongType())]))


# ---------------------------------------------------------------------------
# D5: embedding-cosine near-dup

# The quadratic exactness baseline runs over a deterministic PREFIX
# SAMPLE of the corpus (vec_id < CAP), not the full table: its only job
# is to be the recall oracle the linear sign-LSH path is measured
# against (dedup_embedding_lsh_recall below), and an allpairs pass over
# the full corpus spends ~25% of bench wall on an operator that is
# explicitly NOT the shipped path. The id-prefix sample is deterministic
# on both engines, so the capped baseline stays hash-checkable.
COSINE_BASELINE_CAP = 800


@register(
    "dedup_embedding_cosine",
    oracle=f"""
WITH q AS (
  SELECT vec_id, {quantize.SQL} AS qv FROM embeddings
  WHERE vec_id < {COSINE_BASELINE_CAP}
), n AS (
  SELECT vec_id, qv, {int_norm2.SQL} AS norm2 FROM q
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {COSINE_ORACLE_EXPR} AS cosine
FROM n a, n b
WHERE a.vec_id < b.vec_id
  AND {COSINE_ORACLE_EXPR} >= {COSINE_DUP_THRESHOLD}""",
    doc="Embedding near-dup pairs: cosine >= 0.45 over integer-"
        "quantized vectors (exact, order-independent sums → oracle-"
        "deterministic). Brute-force allpairs RECALL BASELINE over a "
        "deterministic vec_id-prefix sample (quadratic by definition; "
        "capped so the oracle survives without the allpairs bill); the "
        "sign-LSH variant below is the shipped linear path.",
)
def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings") \
        .filter(F.col("vec_id") < COSINE_BASELINE_CAP)
    q = emb.select("vec_id", quantize(F.col("embedding")).alias("qv"))
    n = q.select("vec_id", "qv", int_norm2(F.col("qv")).alias("norm2"))
    # the CAP-row stream side of the nested-loop join arrives in one
    # parquet split, putting all CAP²/2 cosine evaluations on ONE core
    # (measured 3.9 s warm at sf0.1); fan the stream side out so the
    # designed-quadratic baseline at least uses the whole machine
    a = ensure_parallelism(n).alias("a")
    b = n.alias("b")
    cos = (int_dot(F.col("a.qv"), F.col("b.qv"))
           / (F.sqrt(F.col("a.norm2")) * F.sqrt(F.col("b.norm2"))))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                cos.alias("cosine"))
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
    )


# one persisted capped exact-baseline pair table per (session,
# sf_dir): the O(CAP²) allpairs verify is the dominant cost of EVERY
# recall measurement (the declared three-arm monitor, the floor
# router's banded-only read), and its output is a few-dozen-row pair
# list — materialize once, join many times (the evaluation-table
# pattern _EVAL_TOPK_CACHE uses). The COSINE column rides along so the
# threshold-parameterized router variants derive their truth set as a
# filter of the one cached frame (valid for any threshold >= the base
# COSINE_DUP_THRESHOLD). Evicted by caches.clear_plan_caches.
_COSINE_BASE_CACHE: dict[tuple[str, str], DataFrame] = PlanCache()


def capped_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (_session_key(spark), sf_dir)
    if key not in _COSINE_BASE_CACHE:
        # r12: built by the one-task vectorized kernel (guide §4.2) —
        # value-identical to q_dedup_embedding_cosine's JVM join (the
        # declared query keeps its distributed shape; this session
        # frame only feeds the recall measurements). Exactness
        # argument at the kernel block comment.
        emb = load_table(spark, sf_dir, "embeddings") \
            .filter(F.col("vec_id") < COSINE_BASELINE_CAP)
        _COSINE_BASE_CACHE[key] = (
            _capped_exact_kernel(emb, COSINE_DUP_THRESHOLD)
            .persist(StorageLevel.MEMORY_AND_DISK))
    return _COSINE_BASE_CACHE[key]


# the LSH scale path for embedding near-dup: candidates must share the
# 8-bit sign-LSH bucket (the same seeded hyperplanes as
# similarity_lsh_bucketed), so the join is an equi-join on the bucket
# key and per-bucket work is |bucket|² instead of |corpus|². At 100 TB
# you raise the plane count / band the signature exactly like MinHash
# bands; the quadratic q_dedup_embedding_cosine above stays as the
# exactness baseline this approximation is measured against.
@register(
    "dedup_embedding_lsh",
    oracle=f"""
WITH q AS (
  SELECT vec_id, {quantize.SQL} AS qv FROM embeddings
), n AS (
  SELECT vec_id, qv, {int_norm2.SQL} AS norm2 FROM q
), bkt AS (
  SELECT vec_id, qv, norm2, {_bucket_sql()} AS bucket FROM n
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {COSINE_ORACLE_EXPR} AS cosine
FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE {COSINE_ORACLE_EXPR} >= {COSINE_DUP_THRESHOLD}""",
    doc="Embedding near-dup pairs via sign-LSH bucketing: candidates "
        "share an 8-hyperplane sign bucket (equi-join on the bucket "
        "key), exact integer-quantized cosine verifies candidates "
        "only. The scale path whose recall q_dedup_embedding_cosine "
        "baselines; work ∝ in-bucket collisions, not |corpus|².",
)
def q_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return embedding_lsh_pairs(load_table(spark, sf_dir, "embeddings"))


def embedding_lsh_pairs(emb: DataFrame) -> DataFrame:
    """Core of the sign-LSH near-dup operator over any embeddings frame
    (shared with the streaming maintainer's batch twin in tests)."""
    q = emb.select("vec_id", quantize(F.col("embedding")).alias("qv"))
    n = q.select("vec_id", "qv", int_norm2(F.col("qv")).alias("norm2"))
    bkt = n.withColumn("bucket", _bucket_col(F.col("qv")))
    a = bkt.alias("a")
    b = bkt.alias("b")
    cos = (int_dot(F.col("a.qv"), F.col("b.qv"))
           / (F.sqrt(F.col("a.norm2")) * F.sqrt(F.col("b.norm2"))))
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                cos.alias("cosine"))
        .filter(F.col("cosine") >= COSINE_DUP_THRESHOLD)
    )


# ---------------------------------------------------------------------------
# BANDED sign-LSH: the recall-honest form of the embedding near-dup
# path. Measurement on the real fixture (this round) showed the
# single-bucket 8-plane variant has ~ZERO recall at this corpus's dup
# population: the planted near-dups sit at cosine 0.45-0.49, where the
# per-plane agreement probability is p = 1 - θ/π ≈ 0.65 and
# P(all 8 planes agree) ≈ 3 % — the standard LSH lesson that a low
# similarity threshold needs AMPLIFICATION (b bands of r planes,
# P(candidate) = 1-(1-p^r)^b), exactly like MinHash banding. The
# parameters below (12 bands × 5 planes) are the measured sweet spot on
# the fixture: recall 11/14 true pairs with ~3× fewer candidates than
# brute force (seeded planes → both numbers deterministic and pinned in
# tests). The honest scale statement, recorded here and in NOTES_r4:
# sign-LSH prunes aggressively only when the threshold is high (true
# near-dup territory, cosine ≥ 0.9 — where the 8-plane variant's
# p^8 ≈ 0.78 per bucket works); at similarity-mining thresholds like
# 0.45 any fixed-plane scheme is Θ(n²·const), and the right tool is
# the IVF candidate path (similarity_ivf_*). Candidates stay an
# equi-join on the (band, key) pair; duplicates across bands collapse
# with one DISTINCT. Planes are seeded integer literals embedded in
# BOTH the Spark plan and the oracle SQL, so the whole construction is
# hash-checkable.

EMB_BANDS = 12
EMB_BAND_PLANES = 5          # base planes per band (corpus ≤ BANDED_N_REF)
_band_rng = random.Random(20250814)
BAND_PLANES_TBL: list[list[list[int]]] = [
    [[_band_rng.randint(-1000, 1000) for _ in range(DIM)]
     for _ in range(EMB_BAND_PLANES)]
    for _ in range(EMB_BANDS)
]

# --- the corpus-size knob (VERDICT r4 #2), made REAL ------------------
# Candidate pairs at fixed plane count grow ~n²/2^P per band (measured
# exponent 1.38 on the genuine sf0.5→sf1.0 doubling). The production
# rule — planes ∝ log₂(n), exactly like MinHash band sizing — is now
# derived from the corpus size on BOTH engines from the SAME formula:
#
#   P(n) = 5 + clamp(floor(log2(n / 4096)), 0, 5)        (so 5 ≤ P ≤ 10)
#
# Each corpus doubling beyond 4096 vectors adds one plane, halving the
# random-pair in-bucket collision rate — candidates stay ~linear in n.
# The no-free-lunch this buys into is documented honestly: per-band
# true-pair recall is p_true^P (p_true ≈ 0.65 at this corpus's 0.45
# threshold), so at FIXED band count recall declines as the corpus
# grows; holding recall constant instead requires bands ∝ (1/p_true)^ΔP
# which puts total work back at Θ(n^1.6) — the classical ρ =
# ln(1/p₁)/ln(1/p₂) LSH exponent. Bands stay fixed at 12 (linearity
# wins; this operator's contract is "cheap near-dup pre-filter"), and
# the dedup_embedding_lsh_recall monitor measures the AT-SCALE
# production parameterization on the labeled capped domain, so the
# recall cost of each added plane is an externally hash-checked number,
# not a surprise. At similarity-mining thresholds the production
# candidate generator remains the IVF path (similarity_ivf_*), recall
# 0.92 on the ledger.
#
# The extra planes come from a SEPARATE seeded stream so the first 5
# planes of every band are bit-identical to the original table — the
# pinned sf0.01 recall numbers (banded 11/14) are invariant by
# construction, P(500) = P(2000) = 5.
BANDED_N_REF = 4096          # reference corpus size (first extra plane at 2×)
BANDED_MAX_EXTRA = 5         # plane table holds 10 planes/band total
_band_rng_extra = random.Random(20250815)
BAND_PLANES_EXTRA: list[list[list[int]]] = [
    [[_band_rng_extra.randint(-1000, 1000) for _ in range(DIM)]
     for _ in range(BANDED_MAX_EXTRA)]
    for _ in range(EMB_BANDS)
]
BAND_PLANES_FULL: list[list[list[int]]] = [
    BAND_PLANES_TBL[b] + BAND_PLANES_EXTRA[b] for b in range(EMB_BANDS)
]

# Escalation bands (floor router, VERDICT r6 next-#3): when banded
# recall misses the floor, the cheap first response is MORE BANDS
# (recall 1-(1-p^P)^b rises with b at linear cost), not a generator
# switch. Six extra 10-plane bands from their own seeded stream — the
# first EMB_BANDS bands of the escalated table are bit-identical to
# the production table, so escalation only ADDS candidate pairs.
EMB_BANDS_ESC = 18           # first escalation rung
_band_rng_esc = random.Random(20250816)
BAND_PLANES_ESC: list[list[list[int]]] = [
    [[_band_rng_esc.randint(-1000, 1000) for _ in range(DIM)]
     for _ in range(EMB_BAND_PLANES + BANDED_MAX_EXTRA)]
    for _ in range(EMB_BANDS_ESC - EMB_BANDS)
]

# Escalation HEADROOM (VERDICT r7 next-#1): one rung was not enough —
# the sf2.0 sweep measured escalated-banded recall 0.346 against a
# 0.576 floor, so below-floor corpora inherited the best of two
# inadequate arms. The rho-analysis prescribes bands ∝ (1/p^P) per
# recovered plane (p ≈ 0.65 at the 0.45 threshold → ×1.5 bands per
# plane), giving the natural ladder 12 → 18 → 27 → 36 → 54. Each rung's
# extra bands come from their OWN seeded rng stream, so every lower
# rung's keys (and therefore every pinned recall number and driver
# hash that predates the rung) are bit-identical by construction —
# climbing only ADDS candidate pairs, which also makes rung recall
# provably monotone in the rung.
EMB_BANDS_ESC2 = 27          # second escalation rung
_band_rng_esc2 = random.Random(20250817)
BAND_PLANES_ESC2: list[list[list[int]]] = [
    [[_band_rng_esc2.randint(-1000, 1000) for _ in range(DIM)]
     for _ in range(EMB_BAND_PLANES + BANDED_MAX_EXTRA)]
    for _ in range(EMB_BANDS_ESC2 - EMB_BANDS_ESC)
]
EMB_BANDS_ESC3 = 36          # third escalation rung (r8's headroom limit)
_band_rng_esc3 = random.Random(20250818)
BAND_PLANES_ESC3: list[list[list[int]]] = [
    [[_band_rng_esc3.randint(-1000, 1000) for _ in range(DIM)]
     for _ in range(EMB_BAND_PLANES + BANDED_MAX_EXTRA)]
    for _ in range(EMB_BANDS_ESC3 - EMB_BANDS_ESC2)
]

# Rung 54 (VERDICT r8 next-#4, the post-36 policy DECIDED): the sf4.0
# fixture (R=40, tools/gen_scale_fixture.py) organically exhausted the
# 36-band ladder — rung recalls 0.192/0.231/0.462/0.538 all below the
# 0.576 floor, IVF 0.385, so the best-of last resort fired for the
# first time and served rung 36 at 14/26 labeled pairs (one pair short
# of the floor). The rho-analysis' next prescription is x1.5 bands;
# the collision model predicts ~0.69 recall at 54 bands on that
# corpus. Same seeded-stream construction: every lower rung (and every
# pinned recall/hash that predates this rung) is bit-identical, the
# new rung only APPENDS pairs.
EMB_BANDS_ESC4 = 54          # fourth escalation rung (r9's headroom limit)
_band_rng_esc4 = random.Random(20250819)
BAND_PLANES_ESC4: list[list[list[int]]] = [
    [[_band_rng_esc4.randint(-1000, 1000) for _ in range(DIM)]
     for _ in range(EMB_BAND_PLANES + BANDED_MAX_EXTRA)]
    for _ in range(EMB_BANDS_ESC4 - EMB_BANDS_ESC3)
]

# Rung 81 — the TERMINAL rung (VERDICT r9 next-#1, the post-54 policy
# DECIDED and shipped). The sf8 fixture (R=80, 160k vectors) is the
# first scale where the plane knob CLAMPS: P = 5 + min(5,
# floor(log2(n/4096))) = 10 for every n >= 131072, so measured rung
# recall stops degrading with corpus growth — and at that terminal
# parameterization rung 54 is exhausted for real (measured
# 0.154/0.192/0.385/0.462/0.538 vs floor 0.576311; the best-of arm
# fired ORGANICALLY for the first time and served the IVF arm at
# 0.5769, the round-10 pre-81 record in CORRECTNESS_local_sf8.0 /
# NOTES_r10). Rung 81 is ×1.5 per the same rho-analysis as every
# rung, and it is terminal BY CONSTRUCTION, not by hope: an
# at-threshold pair's per-band collision probability is p(t)^P with
# p(t) = 1 - acos(t)/pi, so its expected rung-81 recall is
# 1 - (1 - p(t)^P)^81 — at the clamped P = 10 and the hardest valid
# threshold t = 0.45 that is 0.658 >= floor 0.576, the margin GROWS
# with t (0.722 vs 0.599 at t = 0.48), and every P < 10 (smaller
# corpus) or higher-cosine pair only raises it. No rung beyond 81 can
# ever be needed on expectation; what remains possible is a
# small-sample dip of the MEASURED recall on a ~26-pair labeled
# domain (binomial sd ≈ 0.09), and that is exactly the case the
# best-of last resort already handles by serving the better measured
# generator. Same seeded-stream construction as every rung: all
# lower-rung keys/recalls/hashes are bit-identical, rungs only APPEND
# candidate pairs.
EMB_BANDS_ESC5 = 81          # terminal rung (expected recall >= floor
                             # at the clamped P=10 for every valid t)
_band_rng_esc5 = random.Random(20250820)
BAND_PLANES_ESC5: list[list[list[int]]] = [
    [[_band_rng_esc5.randint(-1000, 1000) for _ in range(DIM)]
     for _ in range(EMB_BAND_PLANES + BANDED_MAX_EXTRA)]
    for _ in range(EMB_BANDS_ESC5 - EMB_BANDS_ESC4)
]
BAND_PLANES_ALL: list[list[list[int]]] = (
    BAND_PLANES_FULL + BAND_PLANES_ESC + BAND_PLANES_ESC2
    + BAND_PLANES_ESC3 + BAND_PLANES_ESC4 + BAND_PLANES_ESC5)

# the router's escalation ladder, lowest rung first; route names are
# part of the hash-checked output contract
BAND_LADDER: tuple[int, ...] = (EMB_BANDS, EMB_BANDS_ESC,
                                EMB_BANDS_ESC2, EMB_BANDS_ESC3,
                                EMB_BANDS_ESC4, EMB_BANDS_ESC5)
EMB_BANDS_MAX = BAND_LADDER[-1]
ROUTE_BY_BANDS: dict[int, str] = {
    EMB_BANDS: "banded",
    EMB_BANDS_ESC: "banded_esc",
    EMB_BANDS_ESC2: "banded_esc27",
    EMB_BANDS_ESC3: "banded_esc36",
    EMB_BANDS_ESC4: "banded_esc54",
    EMB_BANDS_ESC5: "banded_esc81",
}


def banded_planes_for(n: int) -> int:
    """Planes per band for an n-vector corpus — the Python twin of the
    SQL scalar in ``_banded_planes_sql`` (same IEEE double log2/floor,
    so both engines always agree)."""
    if n < BANDED_N_REF:
        return EMB_BAND_PLANES
    extra = int(math.floor(math.log2(n / float(BANDED_N_REF))))
    return EMB_BAND_PLANES + min(BANDED_MAX_EXTRA, max(0, extra))


def _banded_planes_sql() -> str:
    """DuckDB scalar deriving P from the FULL embeddings table — the
    oracle self-parameterizes, so the declared queries stay
    hash-checked at any scale factor without regenerating SQL."""
    return (f"(SELECT {EMB_BAND_PLANES} + greatest(0, least("
            f"{BANDED_MAX_EXTRA}, CAST(floor(log2(count(*) / "
            f"{BANDED_N_REF}.0)) AS INT))) FROM embeddings)")


def _band_key_sql(planes: list[list[int]]) -> str:
    """Per-plane sign bits as an EXPLICIT 64-term sum (qv[1]*w1 + …)
    rather than list_transform over a positional-indexed array
    literal: DuckDB re-materializes the plane literal per element per
    row in the lambda form — measured ~8.5 s/2000 rows vs 0.42 s/80k
    rows for the explicit sum (round 11; this was the dominant cost
    of every router-oracle sweep). qv elements are BIGINT (quantize
    casts), so the sum is exact BIGINT arithmetic — values verified
    bit-identical to the lambda form before adoption."""
    parts = []
    for p in planes:
        dot = " + ".join(f"qv[{i + 1}]*({w})" for i, w in enumerate(p))
        parts.append(f"(CASE WHEN {dot} >= 0 THEN '1' ELSE '0' END)")
    return " || ".join(parts)


def _banded_posts_sql(bands: int = EMB_BANDS, src: str = "n") -> str:
    """Per-band posting lists with the corpus-size plane knob applied
    IN SQL: each band's key is the full 10-plane bit string, truncated
    to the P(n) prefix — prefix-of-key ≡ using only the first P planes,
    so one static oracle is parameter-correct at every scale factor.
    ``bands`` > EMB_BANDS appends the escalation-ladder bands (the
    floor router's rungs); ``src`` names the normalized-vector CTE to
    post (capped-only ledgers post ``nc`` so the oracle never keys the
    full corpus)."""
    p = _banded_planes_sql()
    selects = [
        f"SELECT vec_id, qv, norm2, {b} AS band, "
        f"substr({_band_key_sql(BAND_PLANES_ALL[b])}, 1, {p}) "
        f"AS bkey FROM {src}"
        for b in range(bands)
    ]
    return "\nUNION ALL\n".join(selects)


@register(
    "dedup_embedding_lsh_banded",
    oracle=f"""
WITH q AS (
  SELECT vec_id, {quantize.SQL} AS qv FROM embeddings
), n AS (
  SELECT vec_id, qv, {int_norm2.SQL} AS norm2 FROM q
), posts AS MATERIALIZED (
{_banded_posts_sql()}
)
SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {COSINE_ORACLE_EXPR} AS cosine
FROM posts a JOIN posts b
  ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
WHERE {COSINE_ORACLE_EXPR} >= {COSINE_DUP_THRESHOLD}""",
    doc="Embedding near-dup via BANDED sign-LSH (12 bands × P planes, "
        "P = 5 + floor(log2(n/4096)) clamped to [5,10] — the corpus-"
        "size knob derived from the SAME formula on both engines, so "
        "candidates stay ~linear in n): the amplification construction "
        "for this corpus's LOW dup threshold (cosine 0.45, per-plane "
        "agreement ≈ 0.65), where the single 8-plane bucket has ~zero "
        "recall (measured; see module comment). Deterministic seeded "
        "planes: recall 11/14 true pairs at ~3× fewer candidates than "
        "brute force at the gated scale, both pinned in tests. "
        "Equi-join on (band, key), exact integer-quantized cosine "
        "verify, one DISTINCT across bands.",
)
def q_dedup_embedding_lsh_banded(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    return confirmed_banded_pairs(spark, sf_dir)


# one persisted banded-pairs result per (session, sf_dir), the vector
# twin of confirmed_minhash_pairs: the banded candidate join is the
# most expensive subtree in the embedding-dedup family (~0.2·n² verify
# rows at this corpus's low threshold) and is consumed by both the
# pair query and the survivors anti-join — materialize once, join
# many times, exactly like the dup-pairs table a production pipeline
# writes. The capped-domain recall query builds its own (different
# input domain, never cached).
_BANDED_CACHE: dict[tuple[str, int, str], DataFrame] = PlanCache()


def confirmed_banded_pairs(spark: SparkSession, sf_dir: str,
                           bands: int = EMB_BANDS) -> DataFrame:
    # sf_dir stays LAST in the key (caches.clear_plan_caches matches
    # on key[-1]); bands discriminates the escalated 18-band index
    key = (_session_key(spark), bands, sf_dir)
    if key not in _BANDED_CACHE:
        _BANDED_CACHE[key] = embedding_lsh_banded_pairs(
            load_table(spark, sf_dir, "embeddings"), bands=bands
        ).persist(StorageLevel.MEMORY_AND_DISK)
    return _BANDED_CACHE[key]


def embedding_lsh_banded_pairs(emb: DataFrame,
                               n_corpus: int | None = None,
                               bands: int = EMB_BANDS,
                               threshold: float = COSINE_DUP_THRESHOLD
                               ) -> DataFrame:
    """Banded sign-LSH near-dup pairs with the corpus-size plane knob:
    P = banded_planes_for(n) planes per band (first-P prefix of the
    seeded 10-plane table — identical to the SQL oracle's
    substr(key10, 1, P)). ``n_corpus`` overrides the frame count when
    the frame is a labeled SAMPLE of a larger production corpus (the
    recall monitor measures the at-scale parameterization that way);
    by default one metadata-scale count() derives it from the frame.
    ``bands`` > EMB_BANDS selects the escalation plane tables (the
    floor router's bands+Δ re-derivation); ``threshold`` is the verify
    cosine cut.

    The per-band keys are computed as ONE higher-order transform over a
    nested-array plane LITERAL (bands·P sign bits per row, sliced into
    per-band keys) rather than bands·P·DIM expanded literal expressions:
    the expanded form compiled into multi-second Janino codegen units —
    the entire cold cost of the floor route (measured 6-8 s per banded
    build at sf0.1, VERDICT r6 wrong-#1) — while the literal keeps the
    expression tree constant-sized at any (bands, P). Key VALUES are
    bit-identical (same planes, same order, same sign rule)."""
    return (
        _banded_verified_rows(emb, n_corpus, bands, threshold)
        .select("vec_a", "vec_b", "cosine")
        .distinct()
    )


# posting rows per shuffle task for SAMPLE-sized (capped) banded
# builds — calibrated to the r9 measurement (see the width derivation
# comment in _banded_verified_rows): ~17k postings/task was the
# measured scheduling optimum for capped frames; 20k reproduces that
# regime while letting the width scale with the slice instead of
# encoding one fixture's answer.
CAPPED_POSTS_PER_TASK = 20_000


def _banded_verified_rows(emb: DataFrame, n_corpus: int | None,
                          bands: int, threshold: float,
                          band_lo: int = 0,
                          n_frame: int | None = None) -> DataFrame:
    """Verified candidate ROWS (vec_a, vec_b, cosine, band) — one row
    per colliding (pair, band), before the cross-band collapse. Shared
    by the distinct-pair generator above and the ladder frame below
    (which collapses to min(band) instead so one build serves every
    rung). ``band_lo`` restricts the build to bands [band_lo, bands) —
    the ladder frame's INCREMENTAL grow path: because escalation rungs
    only append seeded bands, the rows for the new bands union'd with
    an existing narrower build reproduce a from-scratch wider build
    exactly (each band's keys are independent of which other bands are
    materialized)."""
    n = n_corpus if n_corpus is not None else emb.count()
    p = banded_planes_for(n)
    # the per-row band-key computation below (bands·P int_dots of 64
    # elements each) is CPU-bound and runs BEFORE the explicit
    # (band, bkey) exchange — i.e. on the input's raw splits. A
    # single-file corpus scans as a handful of splits regardless of
    # row count, serializing the most expensive map stage of the
    # build (the sf2.0 full build ran 6-wide on a 32-core session).
    # Round-robin widen first; all downstream values are
    # partition-invariant.
    emb = ensure_parallelism(emb)
    q = emb.select("vec_id", quantize(F.col("embedding")).alias("qv"))
    n_df = q.select("vec_id", "qv", int_norm2(F.col("qv")).alias("norm2"))
    # band-major flattened plane matrix: bits[(b-band_lo)*p + i] = sign
    # bit of plane i of band b — F.slice(bits, (b-band_lo)*p+1, p) is
    # exactly the old concat of per-plane whens for band b. The matrix
    # literal is rendered as ONE SQL array(array(..)) expression parsed
    # JVM-side: F.lit() on a nested Python list builds one Literal
    # column per element over py4j — measured 6.6 s of the ~11 s
    # 42-band capped build was just constructing that literal (16k
    # ints), vs milliseconds to parse the equivalent expr string.
    flat = [BAND_PLANES_ALL[b][i]
            for b in range(band_lo, bands) for i in range(p)]
    flat_sql = "array(" + ",".join(
        "array(" + ",".join(str(x) for x in plane) + ")"
        for plane in flat) + ")"
    bits = F.transform(
        F.expr(flat_sql),
        lambda pl: F.when(int_dot(F.col("qv"), pl) >= 0,
                          F.lit("1")).otherwise(F.lit("0")))
    keyed = n_df.withColumn("_bits", bits)
    # runtime-indexed band slicing instead of one array_join(slice(..))
    # expression PER band: the old F.array(*[.. for b in range(bands)])
    # made the plan tree (and its Janino compile, re-keyed by the
    # band-range literals) linear in bands — measured ~5 s of the
    # ~8 s 42-band capped build was planning/codegen, not execution.
    # transform(sequence(..)) is constant-sized at any width; key
    # VALUES are bit-identical (same bits, same slicing, same order).
    nb = bands - band_lo
    keys = F.transform(
        F.sequence(F.lit(0), F.lit(nb - 1)),
        lambda b: F.array_join(F.slice(F.col("_bits"), b * p + 1, p), ""))
    posts = keyed.select(
        "vec_id", "qv", "norm2",
        F.posexplode(keys).alias("band", "bkey"))
    if band_lo:
        posts = posts.withColumn("band", F.col("band") + F.lit(band_lo))
    # EXPLICIT-width repartition on the join keys, for two reasons
    # found by measurement (NOTES_r4): (a) the posts shuffle is tiny
    # (narrow rows), so AQE coalesces the join to ONE partition while
    # the join OUTPUT explodes to ~0.2·n² verify rows — 15× slower at
    # sf0.1, 1-task at every scale; an explicit numPartitions is
    # exempt from AQE coalescing. (b) both self-join sides inherit the
    # same hash partitioning on (band, bkey), so the join itself adds
    # no further shuffle. At cluster scale the width comes from the
    # same knob as everything else (defaultParallelism); SAMPLE-sized
    # frames (the capped ladder builds, <= COSINE_BASELINE_CAP rows —
    # the only callers that pass n_frame) instead get a DERIVED small
    # width: their join output is capped-truth scale, and 32 tasks x
    # ~4 stages of scheduling overhead was a measurable slice of the
    # ladder profile's first-run (VERDICT r9 next-#4). The derivation
    # (VERDICT r10 next-#5: same treatment the stream drive width got
    # — no literal width constants in hot paths) sizes one task per
    # CAPPED_POSTS_PER_TASK posting rows of THIS build's slice,
    # n_frame·(bands-band_lo) postings, clamped to [4, parallelism]:
    # the r9 measurement's optimum (the 2000-row 69-band grow, ~138k
    # postings, fastest near 8 tasks ≈ 17k postings each) is
    # reproduced at that scale, and a bigger labeled sample or wider
    # rung grows the width instead of pinning it. Values are
    # partition-width-invariant either way (the driver's oracle
    # hashes, taken across rounds at several widths, stay the proof).
    cores = emb.sparkSession.sparkContext.defaultParallelism
    if n_frame is not None and n_frame <= COSINE_BASELINE_CAP:
        posts_rows = n_frame * (bands - band_lo)
        width = max(4, min(-(-posts_rows // CAPPED_POSTS_PER_TASK), cores))
    else:
        width = max(cores, 4)
    posts = posts.repartition(width, F.col("band"), F.col("bkey"))
    a = posts.alias("a")
    b = posts.alias("b")
    cos = (int_dot(F.col("a.qv"), F.col("b.qv"))
           / (F.sqrt(F.col("a.norm2")) * F.sqrt(F.col("b.norm2"))))
    return (
        a.join(b, (F.col("a.band") == F.col("b.band"))
               & (F.col("a.bkey") == F.col("b.bkey"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                cos.alias("cosine"),
                F.col("a.band").alias("band"))
        .filter(F.col("cosine") >= threshold)
    )


def embedding_lsh_banded_candidates(emb: DataFrame,
                                    n_corpus: int | None = None,
                                    bands: int = EMB_BANDS_MAX,
                                    threshold: float = COSINE_DUP_THRESHOLD,
                                    band_lo: int = 0,
                                    n_frame: int | None = None) -> DataFrame:
    """Confirmed pairs ANNOTATED with the lowest band that generated
    each (vec_a, vec_b, cosine, min_band). Because every escalation
    rung only APPENDS seeded bands, ``filter(min_band < rung)``
    reproduces the rung's distinct-pair set exactly — so ONE build at
    the top rung serves every ladder measurement (the router's capped
    recall frame) instead of one build per rung. ``band_lo`` > 0 is
    the incremental-grow slice: only bands [band_lo, bands) are
    materialized; the caller merges with the existing narrower build
    (min over min_band — a pair's cosine is band-independent)."""
    if band_lo >= bands:
        # an empty slice would otherwise build PHANTOM bands:
        # F.sequence(0, nb-1) with nb == 0 auto-steps DOWN to [0, -1]
        # and the sliced '' keys make every row collide with every
        # other (ADVICE r9). Unreachable from the ladder grow path
        # (it only grows when cached width < bands), but this is a
        # public entry point that accepts arbitrary band_lo.
        raise ValueError(
            f"band_lo ({band_lo}) must be < bands ({bands}): the "
            f"incremental slice [band_lo, bands) is empty")
    return (
        _banded_verified_rows(emb, n_corpus, bands, threshold, band_lo,
                              n_frame)
        .groupBy("vec_a", "vec_b")
        .agg(F.min("cosine").alias("cosine"),
             F.min("band").alias("min_band"))
    )


@register(
    "dedup_embedding_lsh_recall",
    # every side is deterministic (integer-quantized cosine, seeded
    # hyperplanes), so the recall values themselves are oracle-exact
    oracle=f"""
WITH q AS (
  SELECT vec_id, {quantize.SQL} AS qv FROM embeddings
  WHERE vec_id < {COSINE_BASELINE_CAP}
), n AS (
  SELECT vec_id, qv, {int_norm2.SQL} AS norm2 FROM q
), base AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM n a, n b
  WHERE a.vec_id < b.vec_id
    AND {COSINE_ORACLE_EXPR} >= {COSINE_DUP_THRESHOLD}
), bkt AS (
  SELECT vec_id, qv, norm2, {_bucket_sql()} AS bucket FROM n
), lsh AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
  WHERE {COSINE_ORACLE_EXPR} >= {COSINE_DUP_THRESHOLD}
), posts AS MATERIALIZED (
{{banded_posts}}
), banded AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM posts a JOIN posts b
    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
  WHERE {COSINE_ORACLE_EXPR} >= {COSINE_DUP_THRESHOLD}
)
SELECT CAST((SELECT count(*) FROM base) AS BIGINT) AS n_true,
       CAST((SELECT count(*) FROM base JOIN lsh
             ON base.vec_a = lsh.vec_a AND base.vec_b = lsh.vec_b)
            AS BIGINT) AS single_found,
       CAST((SELECT count(*) FROM base JOIN banded
             ON base.vec_a = banded.vec_a AND base.vec_b = banded.vec_b)
            AS BIGINT) AS banded_found,
       CAST((SELECT count(*) FROM base JOIN lsh
             ON base.vec_a = lsh.vec_a AND base.vec_b = lsh.vec_b)
            AS DOUBLE) / (SELECT count(*) FROM base) AS single_recall,
       CAST((SELECT count(*) FROM base JOIN banded
             ON base.vec_a = banded.vec_a AND base.vec_b = banded.vec_b)
            AS DOUBLE) / (SELECT count(*) FROM base) AS banded_recall"""
    .replace("{banded_posts}", _banded_posts_sql()),
    doc="Near-dup index-quality monitor: pair recall of BOTH sign-LSH "
        "variants against the exact (capped-domain) cosine baseline, "
        "mirrored on similarity_ivf_recall. The number that exposed "
        "the single-bucket path's ~zero recall at this corpus's 0.45 "
        "dup threshold and motivated the banded amplification. "
        "Deterministic on both engines — the driver hash-checks the "
        "actual recall values.",
)
def q_dedup_embedding_lsh_recall(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    base = capped_exact_pairs(spark, sf_dir).select("vec_a", "vec_b")
    emb_full = load_table(spark, sf_dir, "embeddings")
    # the monitor measures the PRODUCTION parameterization: planes
    # derived from the FULL corpus size, evaluated on the labeled
    # capped domain — so the recall cost of each corpus-growth-added
    # plane is an externally hash-checked number (the oracle's P
    # subquery counts the full table identically); the banded arm is
    # the same session-persisted frame the floor router reads
    emb = emb_full.filter(F.col("vec_id") < COSINE_BASELINE_CAP)
    lsh = embedding_lsh_pairs(emb).select("vec_a", "vec_b") \
        .withColumn("_single", F.lit(1))
    banded = capped_banded_pairs(spark, sf_dir).select("vec_a", "vec_b") \
        .withColumn("_banded", F.lit(1))
    return (
        base.join(lsh, ["vec_a", "vec_b"], "left")
        .join(banded, ["vec_a", "vec_b"], "left")
        .agg(F.count(F.lit(1)).cast("long").alias("n_true"),
             F.sum(F.coalesce(F.col("_single"), F.lit(0)))
             .cast("long").alias("single_found"),
             F.sum(F.coalesce(F.col("_banded"), F.lit(0)))
             .cast("long").alias("banded_found"))
        .select("n_true", "single_found", "banded_found",
                (F.col("single_found") / F.col("n_true")).cast("double")
                .alias("single_recall"),
                (F.col("banded_found") / F.col("n_true")).cast("double")
                .alias("banded_recall"))
    )


# ---------------------------------------------------------------------------
# Recall-floor-enforced candidate generation (VERDICT r5 wrong-#1;
# escalation + threshold-aware floor added per VERDICT r6 next-#3/#5):
# banded-LSH recall declines with corpus growth at fixed bands
# (measured 0.79 -> 0.69 -> 0.50 across sf0.01/0.5/1.0 — the
# documented rho-exponent trade), so a 100x user running the banded
# pre-filter unguarded would silently miss near-dup pairs. The router
# makes the floor ENFORCED rather than a module comment:
#
#  1. measure banded recall on the labeled capped domain at the
#     production parameterization (the same hash-checked monitor the
#     driver sees); at/above floor -> serve the banded generator;
#  2. below floor, CLIMB THE BAND LADDER (12 -> 18 -> 27 -> 36 -> 54;
#     recall 1-(1-p^P)^b rises with b at cost linear in b — the lever
#     the rho-analysis above prescribes, rung spacing ~(1/p^P) per
#     recovered plane): serve the first rung whose re-measured recall
#     holds the floor;
#  3. only when even the top rung can't reach the floor, measure the
#     IVF-cell arm too (quality pinned by the dedup_ivf_route_recall
#     ledger below) and serve the BEST measured generator.
#
# The floor itself is THRESHOLD-AWARE rather than one global constant:
# a fixed 0.60 tuned for cosine 0.45 would be the wrong bar for a user
# mining at 0.7, where the banded scheme's design recall is far higher.
# neardup_recall_floor derives the bar from the same LSH collision
# model the plane knob uses — per-plane agreement p = 1 - acos(t)/pi,
# design recall 1-(1-p^P0)^B at the reference parameterization — and
# demands NEARDUP_FLOOR_FRACTION of it. Computed ONCE in Python and
# embedded as the same literal in the Spark plan and the oracle SQL,
# so no cross-engine libm divergence can enter the hash. (At t = 0.45
# the derived floor is 0.576 — the retired constant 0.60 was this
# number hand-rounded.)
#
# Routing decision, measured rung recalls and the routed pair count
# are all oracle-paired, so the driver hash-checks WHICH generator (and
# WHICH rung) a given corpus gets: at sf0.01 banded recall 11/14 =
# 0.786 routes banded; at the sf1.0 fixture recall 0.50 drops below
# the 0.576 floor and the 18-band rung (0.577 measured) takes it; at
# sf2.0 the 18-band rung measured 0.346 in round 7 — the number that
# motivated the 27/36 headroom rungs (VERDICT r7 next-#1); the
# per-scale rung decisions are pinned by the multi-scale sweeps.

NEARDUP_FLOOR_FRACTION = 0.75


def neardup_recall_floor(threshold: float) -> float:
    """Threshold-aware recall floor: NEARDUP_FLOOR_FRACTION of the
    banded scheme's design recall 1-(1-p^P0)^B at the reference
    parameterization (P0 base planes, B production bands), with
    p = 1 - acos(threshold)/pi the standard sign-LSH per-plane
    agreement probability. Rounded so the literal embeds identically
    in both engines' plans."""
    p = 1.0 - math.acos(threshold) / math.pi
    design = 1.0 - (1.0 - p ** EMB_BAND_PLANES) ** EMB_BANDS
    return round(NEARDUP_FLOOR_FRACTION * design, 6)


def ivf_cell_pairs(spark: SparkSession, sf_dir: str,
                   threshold: float = COSINE_DUP_THRESHOLD) -> DataFrame:
    """Near-dup candidate pairs localized to the corpus-size-derived
    IVF cell assignment (sem_corpus: K = max(16, n//512) keeps cell
    size constant, so within-cell pairwise work stays linear in n) and
    verified at the near-dup threshold — SemDeDup's join shape run at
    ``threshold`` instead of SEM_EPS."""
    corpus = sem_corpus(spark, sf_dir)
    a, b = corpus.alias("a"), corpus.alias("b")
    cos = (int_dot(F.col("a.qv"), F.col("b.qv"))
           / (F.sqrt(F.col("a.norm2")) * F.sqrt(F.col("b.norm2"))))
    return (
        a.join(b, (F.col("a.centroid_id") == F.col("b.centroid_id"))
               & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("vec_a"),
                F.col("b.vec_id").alias("vec_b"),
                cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# Vectorized ONE-TASK kernels for the CAPPED (<= COSINE_BASELINE_CAP
# rows, sample-sized by design) recall frames (guide §4.2: hand whole
# batches to numpy instead of interpreted JVM HOF expressions). The
# distributed banded build (_banded_verified_rows) stays the
# full-corpus path; these kernels only serve the session-persisted
# capped frames, whose first-run cost was dominated not by data volume
# but by plan construction (the bands·P plane literal — measured 5.7 s
# of the ladder profile's 9 s first run at 81 bands) and by
# interpreted higher-order-function dot products over the in-bucket
# verify rows (the rest). A capped slice is <= 800 vectors: one numpy
# task computes the whole frame in milliseconds, the plan is
# constant-sized at any rung, and every value is BIT-identical:
#   - quantize: float32 -> float64 is exact widening; x*1e6, floor and
#     int64 cast are the same IEEE ops the JVM runs (the proven
#     gram_partial pattern);
#   - int dots/norms: int64 matmuls, exact (|q| <= 1e6, DIM=64 ->
#     |dot| <= 6.4e13 << 2^63);
#   - cosine: int64->float64 conversion then /, sqrt, * are each
#     correctly-rounded IEEE-754 ops evaluated in the same order as
#     the JVM expression (dot / (sqrt(na) * sqrt(nb)));
#   - band keys: sign bits of the same integer projections packed into
#     an int (injective over the p <= 10 bit strings, so equality
#     classes — all that bucketing uses — are preserved exactly).
# Equivalence to the JVM build is asserted in tests/test_banded_knob
# (ladder-vs-scratch set equality including cosine bits) and the
# declared-query oracles are unchanged.

def _capped_rows(it):
    """Accumulate (vec_id, embedding) Arrow batches into id-sorted
    numpy arrays (ids int64, quantized int64 matrix, int64 norms)."""
    import numpy as np

    ids_l, mats = [], []
    for pdf in it:
        if len(pdf):
            ids_l.append(pdf["vec_id"].to_numpy(dtype=np.int64))
            mats.append(np.stack(pdf["embedding"].to_numpy()))
    if not ids_l:
        return None
    ids = np.concatenate(ids_l)
    mat = np.concatenate(mats)
    order = np.argsort(ids, kind="stable")
    ids, mat = ids[order], mat[order]
    q = np.floor(mat.astype(np.float64) * QUANT).astype(np.int64)
    return ids, q, (q * q).sum(axis=1)


def _capped_banded_kernel(emb: DataFrame, n_full: int, bands: int,
                          threshold: float) -> DataFrame:
    """The full ladder frame (vec_a, vec_b, cosine, min_band) at rung
    ``bands`` over a capped embeddings slice, as one vectorized task —
    value-identical to embedding_lsh_banded_candidates (see the kernel
    block comment for the exactness argument)."""
    p = banded_planes_for(n_full)
    flat = [BAND_PLANES_ALL[b][i] for b in range(bands) for i in range(p)]

    def build(it):
        import numpy as np
        import pandas as pd

        def empty():
            return pd.DataFrame(
                {"vec_a": pd.Series(dtype="int64"),
                 "vec_b": pd.Series(dtype="int64"),
                 "cosine": pd.Series(dtype="float64"),
                 "min_band": pd.Series(dtype="int32")})

        rows = _capped_rows(it)
        if rows is None:
            yield empty()
            return
        ids, q, norm2 = rows
        n = len(ids)
        # threshold FIRST, bucket SECOND (the reverse of the
        # distributed build's candidates-then-verify order, same
        # result): at the capped scale with p=5 planes a random pair
        # collides in >= 1 of 81 bands with prob ~0.92, so the
        # candidate set is ~the full n²/2 and materializing it
        # (286k x 64 gathers, measured 4.2 s) costs more than the
        # full exact Gram matrix (41M int64 MACs, ~0.3 s). A pair is
        # emitted iff cosine >= threshold AND it collides somewhere;
        # both orders compute exactly that set, and cosine is
        # band-independent, so values are identical.
        rt = np.sqrt(norm2.astype(np.float64))
        cos_m = (q @ q.T) / np.outer(rt, rt)
        iu, ju = np.triu_indices(n, 1)
        c = cos_m[iu, ju]
        cand = c >= threshold
        ia, ib, c = iu[cand], ju[cand], c[cand]
        if len(ia) == 0:
            yield empty()
            return
        planes = np.asarray(flat, dtype=np.int64)      # (bands*p, DIM)
        bits = (q @ planes.T) >= 0                     # (n, bands*p)
        weights = 1 << np.arange(p, dtype=np.int64)
        keys = bits.reshape(n, bands, p) @ weights     # (n, bands)
        collide = keys[ia] == keys[ib]                 # (n_cand, bands)
        has = collide.any(axis=1)
        min_band = collide.argmax(axis=1)              # first colliding band
        yield pd.DataFrame({"vec_a": ids[ia[has]],
                            "vec_b": ids[ib[has]],
                            "cosine": c[has],
                            "min_band": min_band[has].astype(np.int32)})

    return (emb.select("vec_id", "embedding").coalesce(1)
            .mapInPandas(
                build,
                "vec_a long, vec_b long, cosine double, min_band int"))


def _capped_exact_kernel(emb: DataFrame, threshold: float) -> DataFrame:
    """All-pairs exact cosine >= threshold over a capped embeddings
    slice as one vectorized task — value-identical to
    q_dedup_embedding_cosine's JVM join (same quantization, same int64
    dots, same IEEE cosine; see the kernel block comment)."""

    def build(it):
        import numpy as np
        import pandas as pd

        rows = _capped_rows(it)
        if rows is None:
            yield pd.DataFrame({"vec_a": pd.Series(dtype="int64"),
                                "vec_b": pd.Series(dtype="int64"),
                                "cosine": pd.Series(dtype="float64")})
            return
        ids, q, norm2 = rows
        rt = np.sqrt(norm2.astype(np.float64))
        cos = (q @ q.T) / np.outer(rt, rt)
        ii, jj = np.triu_indices(len(ids), 1)
        c = cos[ii, jj]
        keep = c >= threshold
        yield pd.DataFrame({"vec_a": ids[ii[keep]],
                            "vec_b": ids[jj[keep]],
                            "cosine": c[keep]})

    return (emb.select("vec_id", "embedding").coalesce(1)
            .mapInPandas(build, "vec_a long, vec_b long, cosine double"))


# capped-domain banded LADDER frame at the PRODUCTION plane
# parameterization, ONE persisted copy per (session, sf_dir) built at
# the TOP rung with each pair's min generating band: every rung's pair
# set is a min_band filter of it (rungs only append seeded bands), so
# the whole ladder's recall measurements share one sample-sized build
# instead of one per rung (VERDICT r7 next-#3: the router family's
# shared cold subtree, paid once). The recall gate stays a capped-only
# build, never a filter of the full pair table — the 100 TB
# architecture measures recall on the labeled sample BEFORE deciding
# which full index to build. Cosine rides along for the threshold-
# parameterized router variants (same one-cache-many-thresholds trick
# as the exact baseline).
def _release_ladder(v) -> None:
    """Release one ladder cache entry (bands, frame, ckpt_dir): the
    initial build is a persisted frame (unpersist frees it); GROWN
    builds are parquet-backed session checkpoints whose release is
    deleting the directory. (ADVICE r10: the r10 localCheckpoint
    variant made unpersist a CacheManager no-op, deferring block
    release to JVM GC — and made the frame unrecoverable on executor
    loss; a parquet checkpoint is releasable AND re-readable.)

    Caller contract (same as the maintained streaming stores'): a
    lazy DataFrame held ACROSS a release/grow fails at execution for
    a grown (parquet-backed) frame instead of recomputing — re-ask
    ladder_capped_pairs after any wider build. Every in-repo consumer
    materializes its read before control returns to a grow site."""
    _unpersist_quietly(v[1])
    if len(v) > 2 and v[2]:
        shutil.rmtree(v[2], ignore_errors=True)


_LADDER_CAPPED_CACHE: dict[
    tuple[str, str], tuple[int, DataFrame, str | None]] = \
    PlanCache(on_evict=_release_ladder)


def ladder_capped_pairs(spark: SparkSession, sf_dir: str,
                        bands: int = EMB_BANDS) -> DataFrame:
    """The session ladder frame, grown LAZILY and INCREMENTALLY: built
    at the requested rung; when a climb (or the ladder profile, which
    asks for the top) needs more bands, only the NEW bands
    [cached_width, bands) are materialized and merged into the
    existing build — min over min_band, a pair's cosine being
    band-independent — which is bit-identical to a from-scratch build
    at the wider width (each band's keys are independent of which
    other bands are materialized; asserted in tests). A frame with
    more bands serves any lower rung via its min_band filter, so the
    cache keeps the widest build so far.

    Lazy because the overwhelmingly common route is the base rung — an
    always-at-the-top build would tax every above-floor corpus for
    headroom it never uses. Incremental because the old grow REBUILT
    from scratch at the wider width (ADVICE r8 / VERDICT r8 next-#6):
    a deep 12→18→27→36 climb paid ~2.5× one top-rung build, and the
    ladder profile re-paid the route's 12 bands inside its 36-band
    rebuild. Now every band is computed at most once per session."""
    key = (_session_key(spark), sf_dir)
    cached = _LADDER_CAPPED_CACHE[key] if key in _LADDER_CAPPED_CACHE \
        else None
    if cached is None or cached[0] < bands:
        emb_full = load_table(spark, sf_dir, "embeddings")
        n_full = emb_full.count()
        emb = emb_full.filter(F.col("vec_id") < COSINE_BASELINE_CAP)
        # r12: from-scratch VECTORIZED rebuild at the requested width
        # replaces both the initial distributed build and the r11
        # incremental-grow/parquet-checkpoint machinery. The one-task
        # numpy kernel builds any rung in milliseconds (the grow
        # machinery existed because a JVM rebuild cost seconds per
        # rung in plan construction alone), and a from-scratch build
        # at the wider width is bit-identical to the incremental
        # merge by the same invariant the grow relied on (each band's
        # keys are independent of which other bands are materialized;
        # asserted in tests/test_banded_knob against the distributed
        # JVM build).
        frame = _capped_banded_kernel(
            emb, n_full, bands, COSINE_DUP_THRESHOLD) \
            .persist(StorageLevel.MEMORY_AND_DISK)
        frame.count()   # materialize: later readers hit storage
        if cached is not None:
            _release_ladder(cached)
        _LADDER_CAPPED_CACHE[key] = (bands, frame, None)
        return frame
    return cached[1]


def capped_banded_pairs(spark: SparkSession, sf_dir: str,
                        bands: int = EMB_BANDS) -> DataFrame:
    """The capped-domain confirmed pairs at one rung — a min_band
    filter of the session ladder frame (bit-identical to a standalone
    bands-rung build: lower bands' keys never change when rungs are
    appended; asserted in tests)."""
    return (ladder_capped_pairs(spark, sf_dir, bands)
            .filter(F.col("min_band") < bands)
            .select("vec_a", "vec_b", "cosine"))


def _require_cached_threshold(threshold: float) -> None:
    """The capped exact baseline and the ladder frame are generated
    once at COSINE_DUP_THRESHOLD and re-filtered for HIGHER thresholds;
    pairs in [t, COSINE_DUP_THRESHOLD) are invisible to both the truth
    set and every generator, so a lower t would silently under-measure
    (ADVICE r7: enforce the documented restriction)."""
    if threshold < COSINE_DUP_THRESHOLD:
        raise ValueError(
            f"near-dup recall machinery supports thresholds >= "
            f"{COSINE_DUP_THRESHOLD} (cached truth/pair tables are "
            f"generated at that cut); got {threshold}")


def measured_banded_recall(spark: SparkSession, sf_dir: str,
                           bands: int = EMB_BANDS,
                           threshold: float = COSINE_DUP_THRESHOLD
                           ) -> float | None:
    """Banded-arm recall at the production parameterization — the
    router's gate, at any ladder rung. Same numbers as the declared
    three-arm monitor's banded column for bands=EMB_BANDS (asserted in
    tests); reads the session-persisted exact baseline and the ladder
    frame, so a warm router call is two joins over persisted
    few-dozen-row tables — and every rung shares the SAME two frames.

    Returns None on an empty truth set (no labeled pairs >= threshold
    at this scale/fixture) — the SQL monitor's NULL, which the router
    treats as below-floor (ADVICE r6: the old division raised on
    n_true = 0 instead of degrading like the oracle)."""
    _require_cached_threshold(threshold)
    base = capped_exact_pairs(spark, sf_dir) \
        .filter(F.col("cosine") >= threshold).select("vec_a", "vec_b")
    banded = (ladder_capped_pairs(spark, sf_dir, bands)
              .filter((F.col("min_band") < bands)
                      & (F.col("cosine") >= threshold))
              .select("vec_a", "vec_b").withColumn("_hit", F.lit(1)))
    row = (base.join(banded, ["vec_a", "vec_b"], "left")
           .agg(F.count(F.lit(1)).alias("n_true"),
                F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("found"))
           .first())
    if not row["n_true"]:
        return None
    return row["found"] / row["n_true"]


def measured_ivf_recall(spark: SparkSession, sf_dir: str,
                        threshold: float = COSINE_DUP_THRESHOLD
                        ) -> float | None:
    """IVF-cell-arm recall on the labeled capped domain — the router's
    third read, taken only when both banded arms miss the floor. Same
    shape as the banded gate: capped truth joined against the capped
    restriction of the production cell assignment (centroids and K
    from the FULL corpus). None on an empty truth set."""
    _require_cached_threshold(threshold)
    base = capped_exact_pairs(spark, sf_dir) \
        .filter(F.col("cosine") >= threshold).select("vec_a", "vec_b")
    ivf = (ivf_cell_pairs(spark, sf_dir, threshold)
           .filter((F.col("vec_a") < COSINE_BASELINE_CAP)
                   & (F.col("vec_b") < COSINE_BASELINE_CAP))
           .select("vec_a", "vec_b").withColumn("_hit", F.lit(1)))
    row = (base.join(ivf, ["vec_a", "vec_b"], "left")
           .agg(F.count(F.lit(1)).alias("n_true"),
                F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("found"))
           .first())
    if not row["n_true"]:
        return None
    return row["found"] / row["n_true"]


class NeardupRoute(NamedTuple):
    """The router's full decision record: the served candidate frame,
    the route name, the served rung's band count (None for the IVF
    arm), the threshold-derived floor, per-rung measured recalls
    aligned with BAND_LADDER (None = rung never measured, the oracle's
    NULL), and the IVF arm's recall (None unless the last resort
    measured it)."""
    pairs: DataFrame
    route: str
    served_bands: int | None
    floor: float
    rung_recalls: tuple[float | None, ...]
    ivf_recall: float | None


def neardup_candidate_pairs(spark: SparkSession, sf_dir: str,
                            threshold: float = COSINE_DUP_THRESHOLD
                            ) -> NeardupRoute:
    """The production near-dup candidate entry point.

    Climbs the band-escalation LADDER (12 → 18 → 27 → 36 → 54 → 81
    bands, VERDICT r7 next-#1): at each rung, measure pair recall on
    the labeled capped domain (one filter of the session ladder frame
    — the whole climb shares two persisted sample-sized tables) and
    serve the first rung that holds the threshold-derived floor.
    Recall is monotone in the rung (higher rungs only add seeded
    bands), so the climb terminates at the cheapest adequate
    generator. Rung 81 is TERMINAL by construction (see the
    EMB_BANDS_ESC5 comment): its expected recall clears the floor at
    the clamped plane count P=10 for every valid threshold, so the
    ladder cannot be exhausted on expectation at any corpus size.
    When the MEASURED top rung nonetheless misses the floor (a
    small-sample dip on the labeled domain — binomial sd ≈ 0.09 at
    ~26 labeled pairs), NO generator meets spec — the router then
    measures the IVF-cell arm too and serves the BEST measured
    generator (ties to IVF cells, the cheaper build), rather than
    assuming the fallback: the r7 sf2.0 ledger showed
    escalated-banded 0.346 vs IVF 0.269, i.e. an unconditional IVF
    fallback served the WORSE generator exactly where it mattered.
    The IVF-WINS outcome fired ORGANICALLY at the sf8.0 fixture
    before rung 81 existed (round 10: rungs
    0.154/0.192/0.385/0.462/0.538 vs floor 0.576, IVF 0.5769 — route
    ivf_cells, hash-checked end-to-end in
    CORRECTNESS_local_sf8.0_pre81_ivfwins.json), so the arm is pinned
    by real data, not only by stubs. Because the top rung dominates
    every lower rung, the best-of comparison is top-rung vs IVF.
    Recall reads are 1-row collects of the capped monitors (bounded
    driver-side scalars)."""
    _require_cached_threshold(threshold)
    floor = neardup_recall_floor(threshold)
    recalls: list[float | None] = []
    for bands in BAND_LADDER:
        r = measured_banded_recall(spark, sf_dir, bands, threshold)
        recalls.append(r)
        if r is not None and r >= floor:
            pairs = (confirmed_banded_pairs(spark, sf_dir, bands)
                     .filter(F.col("cosine") >= threshold)
                     .select("vec_a", "vec_b", "cosine"))
            recalls += [None] * (len(BAND_LADDER) - len(recalls))
            return NeardupRoute(pairs, ROUTE_BY_BANDS[bands], bands,
                                floor, tuple(recalls), None)
    ivf_recall = measured_ivf_recall(spark, sf_dir, threshold)
    top_recall = recalls[-1]
    if (top_recall is not None and ivf_recall is not None
            and top_recall > ivf_recall):
        pairs = (confirmed_banded_pairs(spark, sf_dir, EMB_BANDS_MAX)
                 .filter(F.col("cosine") >= threshold)
                 .select("vec_a", "vec_b", "cosine"))
        return NeardupRoute(pairs, ROUTE_BY_BANDS[EMB_BANDS_MAX],
                            EMB_BANDS_MAX, floor, tuple(recalls),
                            ivf_recall)
    return NeardupRoute(ivf_cell_pairs(spark, sf_dir, threshold),
                        "ivf_cells", None, floor, tuple(recalls),
                        ivf_recall)


# recall column name per ladder rung (also the route frame's schema)
RECALL_COLS: tuple[str, ...] = ("banded_recall", "esc_recall",
                                "esc27_recall", "esc36_recall",
                                "esc54_recall", "esc81_recall")


def _router_ctes(threshold: float, capped_only: bool = False) -> str:
    """The router's shared DuckDB CTE chain at one threshold: the
    top-rung posting lists (every lower rung is the ``band < rung``
    prefix — rungs only ADD bands), the capped-domain truth set, the
    capped candidate pairs annotated with their lowest generating band
    (one table serves every rung's recall, mirroring the Spark ladder
    frame), per-rung recalls (NULLIF-guarded: an empty truth set
    yields NULL, which falls through every CASE arm to the IVF route
    exactly like the Python router's None), the full-corpus confirmed
    pairs with the same min-band annotation (every rung's routed pair
    count is a filter of it), and the IVF arm. Shared by the
    floor-route oracles and the IVF fallback recall ledger.

    ``capped_only=True`` drops every full-corpus table (``posts``,
    ``full_c``, the n×K assignment, ``ivf_full``) and builds the
    capped postings/assignment DIRECTLY from the capped vectors —
    per-vector band keys and nearest-centroid cells are independent of
    the rest of the corpus, so the capped CTEs are value-identical to
    the full version's filters of the full tables (VERDICT r9 next-#2:
    the full 54-band posting self-join is DuckDB-infeasible at the
    sf4.0+ scales, which is exactly where an oracle for the ROUTE
    decision is most needed)."""
    t = repr(float(threshold))
    rung_recalls = ",\n         ".join(
        f"""CAST((SELECT count(*) FROM base JOIN cand_c
                 ON base.vec_a = cand_c.vec_a
                AND base.vec_b = cand_c.vec_b
               WHERE cand_c.mband < {bands}) AS DOUBLE)
         / NULLIF((SELECT count(*) FROM base), 0) AS r{bands}"""
        for bands in BAND_LADDER)
    if capped_only:
        posts_block = f"""nc AS MATERIALIZED (
  SELECT * FROM n WHERE vec_id < {COSINE_BASELINE_CAP}
), postsc AS MATERIALIZED (
{_banded_posts_sql(EMB_BANDS_MAX, src="nc")}
)"""
        full_c_block = ""
        corpus_block = f"""distsc AS (
  SELECT nc.vec_id, c.centroid_id,
         row_number() OVER (PARTITION BY nc.vec_id
                            ORDER BY nc.norm2 + c.c_norm2
           - 2 * {dot_sql('nc.qv', 'c.c_qv')}, c.centroid_id) AS _rk
  FROM nc, cents c
), corpusc AS (
  SELECT nc.vec_id, nc.qv, nc.norm2, d.centroid_id
  FROM distsc d JOIN nc ON d.vec_id = nc.vec_id WHERE d._rk = 1
)"""
    else:
        posts_block = f"""posts AS MATERIALIZED (
{_banded_posts_sql(EMB_BANDS_MAX)}
), nc AS (
  SELECT * FROM n WHERE vec_id < {COSINE_BASELINE_CAP}
), postsc AS (
  SELECT * FROM posts WHERE vec_id < {COSINE_BASELINE_CAP}
)"""
        full_c_block = f""", full_c AS (
  SELECT a.vec_id AS va, b.vec_id AS vb, min(a.band) AS mband
  FROM posts a JOIN posts b
    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
  WHERE {COSINE_ORACLE_EXPR} >= {t}
  GROUP BY 1, 2
)"""
        corpus_block = f"""dists AS (
  SELECT n.vec_id, c.centroid_id,
         row_number() OVER (PARTITION BY n.vec_id
                            ORDER BY n.norm2 + c.c_norm2
           - 2 * {dot_sql('n.qv', 'c.c_qv')}, c.centroid_id) AS _rk
  FROM n, cents c
), corpus AS (
  SELECT n.vec_id, n.qv, n.norm2, d.centroid_id
  FROM dists d JOIN n ON d.vec_id = n.vec_id WHERE d._rk = 1
), ivf_full AS (
  SELECT count(*) AS c
  FROM corpus a JOIN corpus b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE {COSINE_ORACLE_EXPR} >= {t}
), corpusc AS (
  SELECT vec_id, qv, norm2, centroid_id FROM corpus
  WHERE vec_id < {COSINE_BASELINE_CAP}
)"""
    return f"""q AS (
  SELECT vec_id, {quantize.SQL} AS qv FROM embeddings
), n AS MATERIALIZED (
  SELECT vec_id, qv, {int_norm2.SQL} AS norm2 FROM q
), {posts_block}, base AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM nc a, nc b
  WHERE a.vec_id < b.vec_id
    AND {COSINE_ORACLE_EXPR} >= {t}
), cand_c AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, min(a.band) AS mband
  FROM postsc a JOIN postsc b
    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
  WHERE {COSINE_ORACLE_EXPR} >= {t}
  GROUP BY 1, 2
), rec AS (
  SELECT {rung_recalls}
){full_c_block}, cents AS (
  SELECT vec_id AS centroid_id, qv AS c_qv, norm2 AS c_norm2
  FROM n WHERE vec_id < {sem_centroids_sql()}
), {corpus_block}, ivf_cq AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM corpusc a JOIN corpusc b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE {COSINE_ORACLE_EXPR} >= {t}
), rec_ivf AS (
  SELECT CAST((SELECT count(*) FROM base JOIN ivf_cq
               ON base.vec_a = ivf_cq.vec_a
              AND base.vec_b = ivf_cq.vec_b) AS DOUBLE)
         / NULLIF((SELECT count(*) FROM base), 0) AS ivf_recall
)"""


def _rung_case(f: str, per_rung: list[str], best_of: str,
               otherwise: str) -> str:
    """The router's serve decision as one SQL CASE: first rung whose
    measured recall holds the floor wins; when none does, the top rung
    beats the IVF arm only if its recall measured strictly higher —
    NULL recalls (empty truth set) fall through every arm to the ELSE,
    exactly like the Python router's None handling."""
    whens = "\n            ".join(
        f"WHEN (SELECT r{bands} FROM rec) >= {f} THEN {val}"
        for bands, val in zip(BAND_LADDER, per_rung))
    return f"""CASE {whens}
            WHEN (SELECT r{EMB_BANDS_MAX} FROM rec)
                 > (SELECT ivf_recall FROM rec_ivf) THEN {best_of}
            ELSE {otherwise} END"""


def _rung_recall_cols(f: str) -> str:
    """Per-rung recall output columns with the lazy-measurement gate:
    rung k's recall is NULL unless every lower rung measured below the
    floor (the Python climb never measures past the serving rung)."""
    cols = [f"(SELECT r{BAND_LADDER[0]} FROM rec) AS {RECALL_COLS[0]}"]
    for i in range(1, len(BAND_LADDER)):
        gate = " OR ".join(f"(SELECT r{b} FROM rec) >= {f}"
                           for b in BAND_LADDER[:i])
        cols.append(f"CASE WHEN {gate} THEN NULL ELSE "
                    f"(SELECT r{BAND_LADDER[i]} FROM rec) END "
                    f"AS {RECALL_COLS[i]}")
    gate_all = " OR ".join(f"(SELECT r{b} FROM rec) >= {f}"
                           for b in BAND_LADDER)
    cols.append(f"CASE WHEN {gate_all} THEN NULL ELSE "
                f"(SELECT ivf_recall FROM rec_ivf) END AS ivf_recall")
    return ",\n       ".join(cols)


def _floor_route_oracle(threshold: float) -> str:
    """The router's full DuckDB twin at one threshold: climb the
    ladder's measured recalls, apply the threshold-derived floor, and
    count the winning generator's full-corpus confirmed pairs."""
    t = repr(float(threshold))
    f = repr(neardup_recall_floor(threshold))
    route = _rung_case(
        f, [f"'{ROUTE_BY_BANDS[b]}'" for b in BAND_LADDER],
        f"'{ROUTE_BY_BANDS[EMB_BANDS_MAX]}'", "'ivf_cells'")
    served = _rung_case(f, [str(b) for b in BAND_LADDER],
                        str(EMB_BANDS_MAX), "NULL")
    counts = [f"(SELECT count(*) FROM full_c WHERE mband < {b})"
              for b in BAND_LADDER]
    routed = _rung_case(f, counts, counts[-1], "(SELECT c FROM ivf_full)")
    return f"""
WITH {_router_ctes(threshold)}
SELECT CAST({t} AS DOUBLE) AS threshold,
       CAST({f} AS DOUBLE) AS recall_floor,
       {_rung_recall_cols(f)},
       {route} AS route,
       CAST({served} AS BIGINT) AS served_bands,
       CAST({routed} AS BIGINT) AS routed_pairs"""


def _floor_route_frame(spark: SparkSession, sf_dir: str,
                       threshold: float) -> DataFrame:
    r = neardup_candidate_pairs(spark, sf_dir, threshold)
    recall_cols = [F.lit(v).cast("double").alias(name)
                   for name, v in zip(RECALL_COLS, r.rung_recalls)]
    return (
        r.pairs.agg(F.count(F.lit(1)).cast("long").alias("routed_pairs"))
        .select(F.lit(float(threshold)).cast("double").alias("threshold"),
                F.lit(r.floor).cast("double").alias("recall_floor"),
                *recall_cols,
                F.lit(r.ivf_recall).cast("double").alias("ivf_recall"),
                F.lit(r.route).alias("route"),
                F.lit(r.served_bands).cast("long").alias("served_bands"),
                "routed_pairs")
    )


@register(
    "dedup_neardup_floor_route",
    oracle=_floor_route_oracle(COSINE_DUP_THRESHOLD),
    doc="Recall-floor-ENFORCED near-dup candidate generation over a "
        "band-escalation LADDER (12/18/27/36/54/81 bands, rungs sized "
        "~(1/p^P) apart per the LSH rho-analysis) with a best-of last "
        "resort: climb rungs measuring banded-LSH pair recall on the "
        "labeled domain at the production plane parameterization and "
        "serve the FIRST rung that holds the threshold-derived floor "
        "(recall is monotone in the rung — rungs only append seeded "
        "bands); when even the top rung misses, measure the IVF-cell "
        "arm too and serve whichever generator measured HIGHER (ties "
        "to IVF, the cheaper build) — the r7 ledger showed an "
        "unconditional IVF fallback serving the worse generator at "
        "20x. Emits threshold, floor, every measured rung recall, the "
        "route, the served band count and the routed generator's "
        "confirmed full-corpus pair count — all deterministic, so the "
        "driver hash-checks the rung choice itself.",
)
def q_dedup_neardup_floor_route(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    return _floor_route_frame(spark, sf_dir, COSINE_DUP_THRESHOLD)


NEARDUP_THRESHOLD_ALT = 0.48


@register(
    "dedup_neardup_floor_route_t48",
    oracle=_floor_route_oracle(NEARDUP_THRESHOLD_ALT),
    doc="The floor router at a SECOND mining threshold (cosine 0.48): "
        "same generators, same labeled domain, but the floor is "
        "re-derived from the threshold via the sign-LSH collision "
        "model (p = 1 - acos(t)/pi) instead of reusing a constant "
        "tuned for 0.45 — the VERDICT r6 threshold-awareness check. "
        "Truth set, measured recalls, floor, route and routed pair "
        "count all shift with the threshold and every one is "
        "hash-checked on both engines.",
)
def q_dedup_neardup_floor_route_t48(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    return _floor_route_frame(spark, sf_dir, NEARDUP_THRESHOLD_ALT)


DOMAIN_REF_ROWS = 2000


def route_check_domain_mod(n: int) -> int:
    """Sampling modulus for the route domain check: vec_id % M == 0
    keeps ~n/M vectors (~1/M² of the routed pairs), growing the
    modulus as sqrt(n/ref) so the checked pair count stays roughly
    scale-constant. Python twin of the SQL scalar in the oracle —
    IEEE-double sqrt/floor on both engines."""
    return max(2, int(math.floor(math.sqrt(n / float(DOMAIN_REF_ROWS)))))


def _route_domain_check_oracle(threshold: float) -> str:
    """DuckDB twin of the domain check below: the ROUTE decision from
    the capped-only CTE chain (feasible at any scale — no full-corpus
    posting join or assignment), then the served generator's pairs
    recomputed EXACTLY on the deterministic id-sampled domain. Band
    keys and nearest-centroid cells are per-vector functions, so the
    domain-restricted posting join / cell join equals the full-corpus
    pair set filtered to domain endpoints — an exact, independent
    engine check of the routed pairs themselves at scales where the
    full oracle is infeasible (VERDICT r9 next-#2)."""
    t = repr(float(threshold))
    f = repr(neardup_recall_floor(threshold))
    route = _rung_case(
        f, [f"'{ROUTE_BY_BANDS[b]}'" for b in BAND_LADDER],
        f"'{ROUTE_BY_BANDS[EMB_BANDS_MAX]}'", "'ivf_cells'")
    served = _rung_case(f, [str(b) for b in BAND_LADDER],
                        str(EMB_BANDS_MAX), "NULL")
    return f"""
WITH {_router_ctes(threshold, capped_only=True)}, m AS (
  SELECT GREATEST(2, CAST(floor(sqrt(count(*) / {DOMAIN_REF_ROWS}.0))
                     AS INT)) AS mm FROM embeddings
), nd AS MATERIALIZED (
  SELECT * FROM n WHERE vec_id % (SELECT mm FROM m) = 0
), postsd AS MATERIALIZED (
{_banded_posts_sql(EMB_BANDS_MAX, src="nd")}
), cand_d AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {COSINE_ORACLE_EXPR} AS cosine, min(a.band) AS mband
  FROM postsd a JOIN postsd b
    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
  WHERE {COSINE_ORACLE_EXPR} >= {t}
  GROUP BY 1, 2, 3
), distsd AS (
  SELECT nd.vec_id, c.centroid_id,
         row_number() OVER (PARTITION BY nd.vec_id
                            ORDER BY nd.norm2 + c.c_norm2
           - 2 * {dot_sql('nd.qv', 'c.c_qv')}, c.centroid_id) AS _rk
  FROM nd, cents c
), corpusd AS (
  SELECT nd.vec_id, nd.qv, nd.norm2, d.centroid_id
  FROM distsd d JOIN nd ON d.vec_id = nd.vec_id WHERE d._rk = 1
), ivf_d AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         {COSINE_ORACLE_EXPR} AS cosine
  FROM corpusd a JOIN corpusd b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE {COSINE_ORACLE_EXPR} >= {t}
)
SELECT {route} AS route, d.vec_a, d.vec_b, d.cosine
FROM (
  SELECT vec_a, vec_b, cosine FROM cand_d WHERE mband < ({served})
  UNION ALL
  SELECT vec_a, vec_b, cosine FROM ivf_d WHERE ({route}) = 'ivf_cells'
) d"""


@register(
    "dedup_floor_route_domain_check",
    oracle=_route_domain_check_oracle(COSINE_DUP_THRESHOLD),
    doc="Sampled-domain EXACT check of the floor router's routed "
        "pairs (VERDICT r9 next-#2): the route decision (capped-"
        "domain ladder climb, identical to dedup_neardup_floor_route) "
        "plus every routed pair whose BOTH endpoints fall in the "
        "deterministic id-sampled domain vec_id % M == 0, M = "
        "max(2, floor(sqrt(n/2000))). Band keys and IVF cells are "
        "per-vector functions, so the oracle recomputes the domain "
        "pairs from scratch on the sampled vectors only — n/M "
        "postings instead of n — and matches the full build's "
        "domain-filtered output value-for-value. This keeps an "
        "independent engine hash on the ROUTED PAIRS THEMSELVES at "
        "corpus sizes where the full-corpus posting self-join is "
        "infeasible in the oracle engine (the sf4.0+ "
        "oracle_infeasible_at_scale waiver this query retires).",
)
def q_dedup_floor_route_domain_check(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    r = neardup_candidate_pairs(spark, sf_dir, COSINE_DUP_THRESHOLD)
    n = load_table(spark, sf_dir, "embeddings").count()
    m = route_check_domain_mod(n)
    return (r.pairs
            .filter((F.col("vec_a") % m == 0) & (F.col("vec_b") % m == 0))
            .select(F.lit(r.route).alias("route"),
                    "vec_a", "vec_b", "cosine"))


def _ivf_ledger_oracle() -> str:
    f = repr(neardup_recall_floor(COSINE_DUP_THRESHOLD))
    route = _rung_case(
        f, [f"'{ROUTE_BY_BANDS[b]}'" for b in BAND_LADDER],
        f"'{ROUTE_BY_BANDS[EMB_BANDS_MAX]}'", "'ivf_cells'")
    return f"""
WITH {_router_ctes(COSINE_DUP_THRESHOLD)}
SELECT {route} AS route,
       (SELECT r{EMB_BANDS} FROM rec) AS banded_recall,
       CAST((SELECT count(*) FROM base) AS BIGINT) AS n_true,
       CAST((SELECT count(*) FROM base JOIN ivf_cq
             ON base.vec_a = ivf_cq.vec_a AND base.vec_b = ivf_cq.vec_b)
            AS BIGINT) AS ivf_found,
       (SELECT ivf_recall FROM rec_ivf) AS ivf_recall"""


@register(
    "dedup_ivf_route_recall",
    oracle=_ivf_ledger_oracle(),
    doc="Recall ledger for the floor router's IVF arm (VERDICT r6 "
        "missing-#1): pair recall of ivf_cell_pairs at "
        "COSINE_DUP_THRESHOLD on the labeled capped domain, measured "
        "REGARDLESS of the route the corpus takes — the number that "
        "decides the router's best-of last resort (its r7 values, "
        "0.269-0.346 across scales and UNDER the escalated banded arm "
        "everywhere the floor broke, are why below-floor corpora now "
        "serve the best measured generator instead of assuming IVF). "
        "Emitted alongside the route actually taken and the base "
        "banded arm's recall for context. The production cell "
        "assignment (centroids and K derived from the FULL corpus) is "
        "evaluated on the capped domain, mirroring the banded monitor "
        "exactly; deterministic, so the driver hash-checks recall AND "
        "routing together.",
)
def q_dedup_ivf_route_recall(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    decision = neardup_candidate_pairs(spark, sf_dir)
    route = decision.route
    banded_recall = decision.rung_recalls[0]
    base = capped_exact_pairs(spark, sf_dir).select("vec_a", "vec_b")
    ivf = (ivf_cell_pairs(spark, sf_dir)
           .filter((F.col("vec_a") < COSINE_BASELINE_CAP)
                   & (F.col("vec_b") < COSINE_BASELINE_CAP))
           .select("vec_a", "vec_b").withColumn("_hit", F.lit(1)))
    return (
        base.join(ivf, ["vec_a", "vec_b"], "left")
        .agg(F.count(F.lit(1)).cast("long").alias("n_true"),
             F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
             .cast("long").alias("ivf_found"))
        .select(F.lit(route).alias("route"),
                F.lit(banded_recall).cast("double").alias("banded_recall"),
                "n_true", "ivf_found",
                F.when(F.col("n_true") > 0,
                       F.col("ivf_found") / F.col("n_true"))
                .cast("double").alias("ivf_recall"))
    )


def _ladder_profile_oracle() -> str:
    t = repr(float(COSINE_DUP_THRESHOLD))
    rungs = ", ".join(str(b) for b in BAND_LADDER)
    return f"""
WITH q AS (
  SELECT vec_id, {quantize.SQL} AS qv FROM embeddings
), n AS (
  SELECT vec_id, qv, {int_norm2.SQL} AS norm2 FROM q
), nc AS MATERIALIZED (
  SELECT * FROM n WHERE vec_id < {COSINE_BASELINE_CAP}
), postsc AS MATERIALIZED (
{_banded_posts_sql(EMB_BANDS_MAX, src="nc")}
), base AS MATERIALIZED (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM nc a, nc b
  WHERE a.vec_id < b.vec_id
    AND {COSINE_ORACLE_EXPR} >= {t}
), cand AS MATERIALIZED (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, min(a.band) AS mband
  FROM postsc a JOIN postsc b
    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
  WHERE {COSINE_ORACLE_EXPR} >= {t}
  GROUP BY 1, 2
), hits AS (
  SELECT c.mband FROM cand c
  JOIN base b ON c.vec_a = b.vec_a AND c.vec_b = b.vec_b
), rungs AS (SELECT unnest([{rungs}]) AS bands)
SELECT CAST(r.bands AS BIGINT) AS bands,
       CAST((SELECT count(*) FROM cand
             WHERE mband < r.bands) AS BIGINT) AS capped_pairs,
       CAST((SELECT count(*) FROM base) AS BIGINT) AS n_true,
       CAST((SELECT count(*) FROM hits
             WHERE mband < r.bands) AS BIGINT) AS found,
       CAST((SELECT count(*) FROM hits WHERE mband < r.bands) AS DOUBLE)
         / NULLIF((SELECT count(*) FROM base), 0) AS recall
FROM rungs r"""


@register(
    "dedup_neardup_ladder_profile",
    oracle=_ladder_profile_oracle(),
    doc="The escalation ladder's full quality curve as a hash-checked "
        "table — one row per rung (12/18/27/36/54/81 bands): confirmed "
        "candidate pair count and pair recall against the exact truth "
        "on the labeled capped domain at the production plane "
        "parameterization. The tuning evidence behind every floor-"
        "route decision (the router serves the first rung whose "
        "recall row here clears the floor), the same role "
        "similarity_ivf_nprobe_sweep plays for the search index — "
        "recall/candidates vs rung, externally pinned, so scaling a "
        "corpus 10x shows exactly which rung the dedup pass will pay "
        "for BEFORE the full index is built. Reads two session-"
        "persisted sample-sized frames (the exact baseline and the "
        "top-rung ladder frame); no full-corpus work.",
)
def q_dedup_neardup_ladder_profile(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    spark_ = spark
    base = capped_exact_pairs(spark_, sf_dir).select("vec_a", "vec_b")
    lad = ladder_capped_pairs(spark_, sf_dir, EMB_BANDS_MAX)
    hits = lad.join(base, ["vec_a", "vec_b"]).select("min_band")
    rungs = spark_.createDataFrame([(b,) for b in BAND_LADDER],
                                   "bands long")
    n_true = base.agg(F.count(F.lit(1)).cast("long").alias("n_true"))
    capped = (rungs.join(lad, F.col("min_band") < F.col("bands"), "left")
              .groupBy("bands")
              .agg(F.count("min_band").alias("capped_pairs")))
    found = (rungs.join(hits, F.col("min_band") < F.col("bands"), "left")
             .groupBy("bands")
             .agg(F.count("min_band").alias("found")))
    return (capped.join(found, "bands").crossJoin(n_true)
            .select("bands", "capped_pairs", "n_true", "found",
                    F.when(F.col("n_true") > 0,
                           F.col("found") / F.col("n_true"))
                    .cast("double").alias("recall")))


@register(
    "dedup_embedding_survivors",
    oracle=f"""
WITH q AS (
  SELECT vec_id, {quantize.SQL} AS qv FROM embeddings
), n AS (
  SELECT vec_id, qv, {int_norm2.SQL} AS norm2 FROM q
), posts AS MATERIALIZED (
{{banded_posts}}
), dups AS (
  SELECT DISTINCT b.vec_id AS dropped
  FROM posts a JOIN posts b
    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
  WHERE {COSINE_ORACLE_EXPR} >= {COSINE_DUP_THRESHOLD}
)
SELECT e.vec_id, CAST(e.label AS INT) AS label
FROM embeddings e
LEFT JOIN dups ON dups.dropped = e.vec_id
WHERE dups.dropped IS NULL""".replace("{banded_posts}",
                                      _banded_posts_sql()),
    doc="The removal stage of embedding near-dedup (the minhash_"
        "survivors twin on the vector side): keep-lowest-vec_id policy "
        "over the BANDED sign-LSH confirmed pairs (the recall-honest "
        "variant — the single-bucket pairs have ~zero recall at this "
        "corpus's dup threshold), corpus produced by one anti-join.",
)
def q_dedup_embedding_survivors(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    dropped = confirmed_banded_pairs(spark, sf_dir) \
        .select(F.col("vec_b").alias("vec_id")).distinct()
    return (emb.join(dropped, "vec_id", "left_anti")
            .select("vec_id", F.col("label").cast("int").alias("label")))


# ---------------------------------------------------------------------------
# SemDeDup: semantic dedup by cluster-then-prune (Abbas et al. 2023,
# arXiv:2303.09540). The third member of the embedding-dedup family,
# with a different contract from the LSH paths: instead of finding ALL
# near-dup pairs, localize the pairwise search inside k-means cells and
# accept the recall loss from cross-cell pairs (measured here: 11 of 59
# eps=0.40 pairs fall within-cell at K=16 on sf0.01 — the paper's
# trade, which works because real semantic dups cluster together; the
# driver fixture's near-random vectors are the worst case). Scale
# story: within-cell pairwise work is O(sum cell_size²); the paper
# (and any production run) grows K ∝ n so cell size stays CONSTANT and
# total work stays linear. That knob is REAL here (similarity.
# sem_n_centroids: K = max(16, n // 512), same integer formula on both
# engines, oracle self-parameterized by a count(*) scalar subquery —
# measured before the knob: sf0.5→sf1.0 doubling exponent 1.74 at
# fixed K=16). At n ≤ 8192 the formula clamps to the shared IVF
# quantizer's 16 cells and the assignment IS the session-persisted
# `_ivf_parts` corpus — one index build per plan, not per operator
# family; above that SemDeDup builds its own K-grown assignment with
# the same broadcast + min_by pass.
#
# Representative choice: the paper keeps the member with LOWEST cosine
# to its centroid; we use keep-lowest-vec_id (a vector is dropped iff
# it has a qualifying neighbor with a smaller id — the same greedy
# every survivor op in this module uses), which keeps the policy a
# pure pairwise predicate, deterministic and engine-identical.

SEM_EPS = 0.40           # SemDeDup epsilon: BELOW the near-dup
                         # threshold — prunes semantic redundancy, not
                         # just copies


def _sem_cell_stats_kernel(pdf):
    """Per-cell SemDeDup stats, one grouped-map call per centroid cell.

    OPTIMIZATION r12 (guide §4.2, the kmeans/capped-kernel pattern):
    the within-cell pairwise cosine used to run as a self-join whose
    dot products evaluated through interpreted higher-order lambdas —
    at sf0.5 that is ~6.5M pairs x 64 interpreted multiplies.
    One numpy int64 Gram matrix per cell computes the identical
    values: exact int64 dots (|dot| <= DIM*(2^21)^2 << 2^63), then the
    SAME IEEE op order as the JVM expression (sqrt each norm, multiply
    the roots, divide) — frame equality asserted at sf0.1 and sf0.5.
    Same-session: 0.65 -> 0.45 s at sf0.1, 2.25 -> 0.57 s at sf0.5.
    Pair order (a.vec_id < b.vec_id) = upper triangle over ids sorted
    ascending; dropped = distinct right-side ids among kept pairs.
    This needs vec_id unique within the cell (true of the embeddings
    table's key): a repeated id would pair with itself, a pair the
    strict ``<`` excludes, so the kernel raises instead."""
    import numpy as np
    import pandas as pd
    ids = pdf["vec_id"].to_numpy()
    o = np.argsort(ids, kind="stable")
    m = len(ids)
    if m < 2:
        return pd.DataFrame({"centroid_id": pdf["centroid_id"].iloc[:1],
                             "members": [m], "dup_pairs": [0],
                             "dropped": [0]})
    if (ids[o][1:] == ids[o][:-1]).any():
        raise ValueError("vec_id repeats within a SemDeDup cell")
    q = np.stack(pdf["qv"].to_numpy()[o]).astype(np.int64)
    n2 = pdf["norm2"].to_numpy()[o].astype(np.int64)
    rt = np.sqrt(n2.astype(np.float64))
    cosm = (q @ q.T) / np.outer(rt, rt)
    iu, ju = np.triu_indices(m, 1)
    keep = cosm[iu, ju] >= SEM_EPS
    return pd.DataFrame({"centroid_id": pdf["centroid_id"].iloc[:1],
                         "members": [m],
                         "dup_pairs": [int(keep.sum())],
                         "dropped": [len(np.unique(ju[keep]))]})



@register(
    "dedup_semantic",
    memo_plan=True,   # pure lazy construction (see registry._PLAN_MEMO)
    oracle=f"""
WITH q AS (
  SELECT vec_id, {quantize.SQL} AS qv FROM embeddings
), n AS (
  SELECT vec_id, qv, {int_norm2.SQL} AS norm2 FROM q
), cents AS (
  SELECT vec_id AS centroid_id, qv AS c_qv, norm2 AS c_norm2
  FROM n WHERE vec_id < {sem_centroids_sql()}
), dists AS (
  SELECT n.vec_id, c.centroid_id,
         row_number() OVER (PARTITION BY n.vec_id
                            ORDER BY n.norm2 + c.c_norm2
           - 2 * {dot_sql('n.qv', 'c.c_qv')}, c.centroid_id) AS _rk
  FROM n, cents c
), corpus AS (
  SELECT n.vec_id, n.qv, n.norm2, d.centroid_id
  FROM dists d JOIN n ON d.vec_id = n.vec_id WHERE d._rk = 1
), pairs AS (
  SELECT a.centroid_id, b.vec_id AS dropped_vec
  FROM corpus a JOIN corpus b
    ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
  WHERE {COSINE_ORACLE_EXPR} >= {SEM_EPS}
), members AS (
  SELECT centroid_id, count(*) AS members FROM corpus GROUP BY 1
), ps AS (
  SELECT centroid_id, count(*) AS dup_pairs,
         count(DISTINCT dropped_vec) AS dropped
  FROM pairs GROUP BY 1
)
SELECT m.centroid_id,
       CAST(m.members AS BIGINT) AS members,
       CAST(coalesce(ps.dup_pairs, 0) AS BIGINT) AS dup_pairs,
       CAST(coalesce(ps.dropped, 0) AS BIGINT) AS dropped,
       CAST(m.members - coalesce(ps.dropped, 0) AS BIGINT) AS kept
FROM members m LEFT JOIN ps ON ps.centroid_id = m.centroid_id""",
    doc="SemDeDup (Abbas et al. 2023): semantic dedup by clustering "
        "embeddings (K = max(16, n//512) seeded cells — the corpus-"
        "size knob that keeps cell size constant; broadcast + min_by "
        "assignment) then pruning pairs with cosine >= 0.40 WITHIN "
        "each cell — per-cell member/pair/dropped/kept counts. "
        "Pairwise work localized to cells; K grows with n so total "
        "within-cell work stays linear (same derivation in the "
        "oracle's count(*) scalar subquery).",
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T
    corpus = sem_corpus(spark, sf_dir)
    schema = T.StructType([T.StructField("centroid_id", T.LongType()),
                           T.StructField("members", T.LongType()),
                           T.StructField("dup_pairs", T.LongType()),
                           T.StructField("dropped", T.LongType())])
    return (corpus.select("centroid_id", "vec_id", "qv", "norm2")
            .groupBy("centroid_id")
            .applyInPandas(_sem_cell_stats_kernel, schema)
            .select("centroid_id", "members", "dup_pairs", "dropped",
                    (F.col("members") - F.col("dropped")).cast("long")
                    .alias("kept")))


# ---------------------------------------------------------------------------
# D6: from dup pairs to a cleaned corpus

@register(
    "dedup_minhash_survivors",
    oracle=f"""
WITH {DOC_SETS_SQL.strip()},
{_minhash_sql().strip()},
dups AS (
  SELECT DISTINCT c.doc_b AS dropped
  FROM candidates c
  JOIN doc_sets_n a ON a.doc_id = c.doc_a
  JOIN doc_sets_n b ON b.doc_id = c.doc_b
  WHERE len(list_intersect(a.sh, b.sh))
          / (a.n + b.n - len(list_intersect(a.sh, b.sh))) >= {JACCARD_THRESHOLD}
)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d
LEFT JOIN dups ON dups.dropped = d.doc_id
WHERE dups.dropped IS NULL""",
    doc="The removal stage of near-dedup: keep-lowest-doc_id policy — "
        "any doc that is the higher id of a confirmed dup pair is "
        "dropped; the corpus is produced by one anti-join. (Chains use "
        "the standard greedy policy, not iterative union-find, so a "
        "single linear pass suffices at any scale.)",
)
def q_dedup_minhash_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = q_dedup_minhash_lsh(spark, sf_dir)
    dropped = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.join(dropped, "doc_id", "left_anti")
        .select("doc_id", "lang", "source", "n_chars")
    )


# ---------------------------------------------------------------------------
# Asymmetric containment near-dup: catches A-contained-in-B pairs
# (sub-document duplication — a doc embedded inside a longer one) that
# symmetric Jaccard under-scores: J = |A|/|B| for full containment, so
# a short doc inside a 10x longer one scores 0.1 and never trips the
# 0.8 Jaccard gate, while containment |A∩B|/min(|A|,|B|) = 1.0.
# Candidate generation is the rare-shingle inverted index: only
# shingles with document frequency in [2, DF_CAP] emit in-bucket pairs
# (work bounded by DF_CAP² per shingle, never by corpus size — the
# same df-capped postings trick Google's near-dup and suffix-index
# dedup pipelines use). Recall caveat (documented, shared by the
# oracle): a pair must share at least one rare shingle; pairs whose
# every common shingle is corpus-frequent are not candidates.

CONTAINMENT_DF_CAP = 5          # max document frequency of an index shingle
CONTAINMENT_NUM = 9             # threshold 9/10: common*10 >= 9*min(n)
CONTAINMENT_DEN = 10


@register(
    "dedup_containment",
    oracle=f"""
WITH {DOC_SETS_SQL.strip()},
posts AS MATERIALIZED (
  SELECT doc_id, unnest(sh) AS s FROM doc_sets
),
rare AS (
  SELECT s FROM posts GROUP BY s
  HAVING count(*) BETWEEN 2 AND {CONTAINMENT_DF_CAP}
),
cand AS (
  SELECT DISTINCT p1.doc_id AS doc_a, p2.doc_id AS doc_b
  FROM posts p1
  JOIN rare r ON p1.s = r.s
  JOIN posts p2 ON p2.s = p1.s AND p1.doc_id < p2.doc_id
)
SELECT c.doc_a, c.doc_b,
       len(list_intersect(a.sh, b.sh)) AS n_common,
       len(list_intersect(a.sh, b.sh))
         / (CASE WHEN a.n < b.n THEN a.n ELSE b.n END) AS containment
FROM cand c
JOIN doc_sets_n a ON a.doc_id = c.doc_a
JOIN doc_sets_n b ON b.doc_id = c.doc_b
WHERE len(list_intersect(a.sh, b.sh)) * {CONTAINMENT_DEN}
      >= {CONTAINMENT_NUM} * (CASE WHEN a.n < b.n THEN a.n ELSE b.n END)""",
    doc="Containment (asymmetric) near-dup: |A∩B|/min(|A|,|B|) >= 0.9 "
        "over candidates that share a rare shingle (df <= 5 inverted "
        "index). Finds sub-document duplication Jaccard misses. The "
        "threshold is an integer-product compare; verification joins "
        "the persisted shingle index for candidates only. Work ∝ "
        "df-capped collisions, not Σdf² and not corpus².",
)
def q_dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    sets = _persisted_shingle_sets(spark, sf_dir)
    posts = sets.select("doc_id", F.explode("sh").alias("s"))
    # one pass over the postings: group by shingle, keep rare buckets,
    # emit sorted in-bucket pair combinations (same combination expr as
    # the LSH band buckets — no postings self-join, the 16-byte shingle
    # keys shuffle once)
    cand = (
        posts.groupBy("s")
        .agg(F.sort_array(F.collect_set("doc_id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= CONTAINMENT_DF_CAP))
        .select(F.explode(F.expr(
            "flatten(transform(ids, (x, i) -> "
            "transform(slice(ids, i + 2, size(ids) - i - 1), "
            "y -> struct(x AS doc_a, y AS doc_b))))")).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )
    sa = sets.alias("ca")
    sb = sets.alias("cb")
    left = sa.join(cand, F.col("doc_a") == F.col("ca.doc_id")) \
             .select("doc_a", "doc_b",
                     F.col("ca.sh").alias("sh_a"), F.col("ca.n").alias("n_a"))
    # OPTIMIZATION r12 (VERDICT r11 next-#9, the sf0.5 profile): the
    # verify — NOT the candidate volume — is the cost (sf0.5:
    # candidates 0.89 s, joins 1.0 s, per-pair intersect ~2.4 s over
    # 488k pairs). The intersect expression used to appear in THREE
    # output expressions (n_common, containment, the keep predicate);
    # materializing it ONCE in an intermediate projection and deriving
    # the rest measured 3.89 -> 3.40 s same-session at sf0.5. Measured
    # and REJECTED alternatives (same session, same pairs): a
    # mapInPandas set-intersection kernel 7.6 s (Arrow transfer of the
    # fat string arrays dominates — the §4.2 boundary rule cuts the
    # other way here); filter+array_contains 30.7 s and
    # aggregate+array_contains 32.7 s (O(n·m) scans vs the hash
    # intersect); broadcasting the sets frame into both joins 3.57 s
    # (and not scale-correct — the sets frame is the corpus).
    common = F.size(F.array_intersect(F.col("sh_a"), F.col("cb.sh")))
    min_n = F.least(F.col("n_a"), F.col("cb.n"))
    return (
        sb.join(left, F.col("doc_b") == F.col("cb.doc_id"))
        .select("doc_a", "doc_b",
                common.alias("_c"), min_n.alias("_m"))
        .filter(F.col("_c") * CONTAINMENT_DEN >= CONTAINMENT_NUM * F.col("_m"))
        .select("doc_a", "doc_b",
                F.col("_c").cast("long").alias("n_common"),
                (F.col("_c") / F.col("_m")).alias("containment"))
    )


# ---------------------------------------------------------------------------
# Manku-style SimHash Hamming-distance near-dup (Manku, Jain & Sarma,
# WWW'07 — the production Google near-dup algorithm). The 16-bit
# dedup_simhash groups only IDENTICAL fingerprints; real near-dups
# differ in a few bits. This operator widens the fingerprint to 60
# bits (15 md5 hex chars; stays positive in int64) and counts all doc
# pairs at Hamming distance <= 3, reported as a distance histogram.
#
# Scale design (the Manku table construction): docs collapse to
# DISTINCT codes with multiplicities first (identical-code groups are
# exactly the dup clusters), then candidates come from C(6,3) = 20
# super-block keys — each key concatenates 3 of the 6 ten-bit blocks
# into a 30-bit value. Any <= 3 differing bits ruin at most 3 blocks,
# leaving 3 intact blocks whose combination is one of the 20 keys, so
# recall is exact (pigeonhole); 30-bit agreement makes random
# collisions ~2^-30, so candidate volume tracks true near-dups, not
# block-level noise (the first cut used single 10-bit block keys and
# drowned in 8M candidates on a clustered corpus). The ORACLE is the
# all-code-pairs brute force over the distinct-code groups — candidate
# generation does not appear in it at all, so the hash gate
# independently PROVES the pigeonhole recall claim, not just
# consistency with the same candidate rule.

SIMHASH_NBITS = 60
SIMHASH_BLOCK_BITS = 10
SIMHASH_NBLOCKS = 6            # 60 / 10; >= HAMMING_MAX + 1 (pigeonhole)
HAMMING_MAX = 3
_BLOCK_MASK = (1 << SIMHASH_BLOCK_BITS) - 1
_BLOCK_TRIPLES = [(a, b, c)
                  for a in range(SIMHASH_NBLOCKS)
                  for b in range(a + 1, SIMHASH_NBLOCKS)
                  for c in range(b + 1, SIMHASH_NBLOCKS)]   # C(6,3) = 20


def _simhash60_sql() -> str:
    """DuckDB CTEs: distinct-code groups of the 60-bit sign-sum
    simhash. Bit b of md5's leading 15 hex chars via one integer
    parse + shift/and (cheap), sign-summed over distinct tokens."""
    sums = ",\n         ".join(
        f"sum(2 * ((hv >> {b}) & 1) - 1) AS s{b}"
        for b in range(SIMHASH_NBITS))
    code = " + ".join(
        f"(CASE WHEN s{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(SIMHASH_NBITS))
    return f"""
toks AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
),
tv AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS hv FROM toks
),
bits AS (
  SELECT doc_id,
         {sums}
  FROM tv GROUP BY doc_id
),
codes AS (
  SELECT doc_id, CAST({code} AS BIGINT) AS code FROM bits
),
groups AS (
  SELECT code, count(*) AS cnt FROM codes GROUP BY code
)"""


def _simhash60_codes_kernel(pdfs):
    """Per-doc 60-bit sign-sum simhash, one code per input row.

    OPTIMIZATION r12 (guide §4.2): the JVM formulation exploded every
    distinct token, md5'd it, and ran SIXTY per-bit sum aggregates
    over the 5M-row (doc_id, hv) stream plus a per-doc shuffle — the
    single most expensive stage of the query (same-session: 1.00 s at
    sf0.1 / 1.29 s at sf0.5 for the groups frame). Here each task
    computes its docs' codes locally (hashlib md5 == JVM md5; int64
    bit counting in numpy) and ships ONE code per doc back — no
    (doc, token) stream, no per-doc exchange. 0.65 s / 0.69 s at the
    two scales, group table bit-identical (asserted both scales).

    Exactness: md5 of the UTF-8 token bytes, leading 15 hex chars
    parsed base-16 — identical to conv(substring(md5(tok),1,15),16,10)
    (values < 2^60 fit int64 exactly); per-bit sign sum over DISTINCT
    tokens (set(text.split(' ')), the same set array_distinct built,
    empty tokens included on both paths); bit set iff the signed sum
    is positive, i.e. 2*count_of_ones > n_tokens — integer compares
    only, no tie-breaking ambiguity, order-independent. A NULL text
    has no tokens and emits no code, as explode(split(NULL)) did."""
    import hashlib

    import numpy as np
    import pandas as pd
    shifts = np.arange(SIMHASH_NBITS, dtype=np.uint64)
    for pdf in pdfs:
        pdf = pdf[pdf["text"].notna()]
        out = np.empty(len(pdf), dtype=np.int64)
        for i, text in enumerate(pdf["text"]):
            toks = set(text.split(" "))
            hvs = np.fromiter(
                (int(hashlib.md5(tk.encode("utf-8")).hexdigest()[:15], 16)
                 for tk in toks), dtype=np.uint64, count=len(toks))
            ones = ((hvs[:, None] >> shifts) & 1).sum(axis=0, dtype=np.int64)
            out[i] = int(((2 * ones > len(toks)).astype(np.uint64)
                          << shifts).sum())
        yield pd.DataFrame({"code": out})


def simhash60_groups(docs: DataFrame) -> DataFrame:
    """(code, cnt): distinct 60-bit sign-sum simhash codes with their
    multiplicities. One narrow Arrow map (code per doc, computed
    task-locally — see _simhash60_codes_kernel) plus one combinable
    groupBy — linear at any scale; the group table is
    |distinct codes| rows, the dup-compressed corpus."""
    from pyspark.sql import types as T
    codes = ensure_parallelism(docs).select("text").mapInPandas(
        _simhash60_codes_kernel,
        T.StructType([T.StructField("code", T.LongType())]))
    return codes.groupBy("code").agg(F.count(F.lit(1)).alias("cnt"))


@register(
    "dedup_simhash_hamming",
    memo_plan=True,   # pure lazy construction (see registry._PLAN_MEMO)
    oracle=f"""
WITH {_simhash60_sql().strip()},
inter AS (
  SELECT bit_count(xor(a.code, b.code)) AS hamming,
         a.cnt * b.cnt AS w
  FROM groups a JOIN groups b ON a.code < b.code
  WHERE bit_count(xor(a.code, b.code)) <= {HAMMING_MAX}
),
rows_ AS (
  SELECT 0 AS hamming, cnt * (cnt - 1) // 2 AS w FROM groups WHERE cnt > 1
  UNION ALL
  SELECT hamming, w FROM inter
)
SELECT CAST(hamming AS BIGINT) AS hamming,
       CAST(sum(w) AS BIGINT) AS n_pairs
FROM rows_ GROUP BY hamming""",
    doc="Manku/WWW'07 simhash near-dup: 60-bit fingerprints, doc-pair "
        "counts per Hamming distance <= 3. Docs collapse to distinct-"
        "code groups; candidates come from the 20 three-block "
        "super-keys (exact recall by pigeonhole); verify is one "
        "bit_count(xor) per candidate; pair counts weight by group "
        "multiplicities. The oracle brute-forces ALL code pairs — it "
        "never sees the candidate rule, so the gate proves recall.",
)
def q_dedup_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # the group table is consumed twice (posting lists + intra-group
    # counts) but needs no checkpoint: both consumers share one shuffle
    # subtree and Spark reuses the exchange (measured: a localCheckpoint
    # here is net SLOWER — eager materialization costs more than the
    # reuse saves).
    groups = simhash60_groups(docs)
    # the 20 three-block super-keys as ONE parsed expression (py4j-
    # cheap; same shifts the Column loop built before)
    key_structs = []
    for t, (a, b, c) in enumerate(_BLOCK_TRIPLES):
        parts = [
            f"(shiftright(code, {blk * SIMHASH_BLOCK_BITS}) & {_BLOCK_MASK})"
            for blk in (a, b, c)]
        kv = (f"(shiftleft(shiftleft({parts[0]}, {SIMHASH_BLOCK_BITS}) "
              f"+ {parts[1]}, {SIMHASH_BLOCK_BITS}) + {parts[2]})")
        key_structs.append(f"struct({t} AS t, {kv} AS kv)")
    posts = (groups.select(
                 "code", "cnt",
                 F.explode(F.expr("array(" + ", ".join(key_structs) + ")"))
                 .alias("k"))
             .select("code", "cnt", "k.t", "k.kv"))
    # in-bucket combinations over (table, super-key) — candidates are
    # DISTINCT-code pairs agreeing on >= 3 whole blocks
    cand = (
        posts.groupBy("t", "kv")
        .agg(F.sort_array(F.collect_list(F.struct("code", "cnt")))
              .alias("ids"))
        .filter(F.size("ids") > 1)
        .select(F.explode(F.expr(
            "flatten(transform(ids, (x, i) -> "
            "transform(slice(ids, i + 2, size(ids) - i - 1), "
            "y -> struct(x.code AS ca, y.code AS cb, "
            "x.cnt AS cnt_a, y.cnt AS cnt_b))))")).alias("p"))
        .select("p.ca", "p.cb", "p.cnt_a", "p.cnt_b")
        .distinct()
    )
    hamming = F.bit_count(F.col("ca").bitwiseXOR(F.col("cb")))
    inter = (cand.select(hamming.alias("hamming"),
                         (F.col("cnt_a") * F.col("cnt_b")).alias("w"))
             .filter(F.col("hamming") <= HAMMING_MAX))
    intra = (groups.filter(F.col("cnt") > 1)
             .select(F.lit(0).alias("hamming"),
                     (F.col("cnt") * (F.col("cnt") - 1) / F.lit(2))
                     .cast("long").alias("w")))
    return (intra.unionByName(inter)
            .groupBy(F.col("hamming").cast("long").alias("hamming"))
            .agg(F.sum("w").cast("long").alias("n_pairs")))


# ---------------------------------------------------------------------------
# Cross-source duplication overlap: the "how much of source A is
# duplicated in source B" matrix every corpus-curation team builds
# before deciding mixture weights (duplicated web dumps inflate a
# source's apparent size). Consumes the session-persisted confirmed
# MinHash pair set — zero LSH work here, just two dimension joins on
# doc_id and a tiny rollup.


@register(
    "dedup_source_overlap",
    oracle=f"""
WITH {DOC_SETS_SQL.strip()},
{_minhash_sql().strip()},
pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM candidates c
  JOIN doc_sets_n a ON a.doc_id = c.doc_a
  JOIN doc_sets_n b ON b.doc_id = c.doc_b
  WHERE len(list_intersect(a.sh, b.sh))
          / (a.n + b.n - len(list_intersect(a.sh, b.sh)))
        >= {JACCARD_THRESHOLD}
)
SELECT da.source AS source_a, db.source AS source_b,
       CAST(count(*) AS BIGINT) AS n_pairs,
       CAST(count(DISTINCT p.doc_a) AS BIGINT) AS n_docs_a,
       CAST(count(DISTINCT p.doc_b) AS BIGINT) AS n_docs_b
FROM pairs p
JOIN documents da ON da.doc_id = p.doc_a
JOIN documents db ON db.doc_id = p.doc_b
GROUP BY 1, 2""",
    doc="Near-dup overlap matrix between sources: confirmed MinHash "
        "pairs (cached per session) joined to each side's source, "
        "rolled up to pair and distinct-doc counts per (source_a, "
        "source_b). The curation signal for mixture weights. Work = "
        "two doc_id equi-joins over the persisted pair set + one "
        "|sources|² rollup; no LSH recompute.",
)
def q_dedup_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    pairs = confirmed_minhash_pairs(spark, sf_dir).select("doc_a", "doc_b")
    da = docs.select(F.col("doc_id").alias("doc_a"),
                     F.col("source").alias("source_a"))
    db = docs.select(F.col("doc_id").alias("doc_b"),
                     F.col("source").alias("source_b"))
    return (pairs.join(da, "doc_a").join(db, "doc_b")
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"),
                 F.countDistinct("doc_a").cast("long").alias("n_docs_a"),
                 F.countDistinct("doc_b").cast("long").alias("n_docs_b")))


# ---------------------------------------------------------------------------
# Block-level exact-substring dedup: the practical form of ExactSubstr
# (Lee et al. 2022, "Deduplicating Training Data Makes Language Models
# Better", arXiv:2107.06499) at fixed-block granularity. The paper's
# suffix-array construction finds every duplicated 50-token span; the
# scalable dataflow approximation chops each document into consecutive
# W-token blocks, hashes the block text, and keeps only the FIRST
# occurrence of each distinct block corpus-wide (first = smallest
# (doc_id, block_idx)). Catches copy-paste spans that whole-document
# MinHash misses when the containing documents differ, at one
# hash-groupBy instead of a suffix array.
#
# Scale shape: blocks ≈ corpus_tokens / W rows; one groupBy on the
# 128-bit block hash (map-side combinable min), one hash equi-join
# back, one per-source rollup. Linear, no driver state, no windows.
# Occurrence order is packed into one integer key
# (doc_id * 2^20 + block_idx — documents are « 2^20 blocks long) so
# "first occurrence" is a plain MIN on both engines.

BLOCK_W = 16             # tokens per block
BLOCK_IDX_PACK = 1 << 20


@register(
    "dedup_block_exact",
    oracle=f"""
WITH w AS (
  SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
  WHERE text IS NOT NULL
),
b AS (
  SELECT doc_id, source,
         unnest(range(0, (len(w) + {BLOCK_W - 1}) // {BLOCK_W})) AS blk,
         unnest(list_transform(
             range(0, (len(w) + {BLOCK_W - 1}) // {BLOCK_W}),
             i -> array_to_string(
                 list_slice(w, i * {BLOCK_W} + 1, i * {BLOCK_W} + {BLOCK_W}),
                 ' '))) AS btxt,
         len(w) AS n_w
  FROM w
),
occ AS (
  SELECT doc_id, source, blk,
         md5(btxt) AS h,
         least({BLOCK_W}, n_w - blk * {BLOCK_W}) AS n_tok,
         doc_id * {BLOCK_IDX_PACK} + blk AS occ_key
  FROM b
),
firsts AS (SELECT h, min(occ_key) AS first_occ FROM occ GROUP BY h)
SELECT o.source,
       CAST(count(DISTINCT o.doc_id) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_blocks,
       CAST(count(*) FILTER (o.occ_key <> f.first_occ) AS BIGINT)
         AS n_dup_blocks,
       CAST(sum(o.n_tok) AS BIGINT) AS n_tokens,
       CAST(coalesce(sum(o.n_tok) FILTER (o.occ_key <> f.first_occ), 0)
            AS BIGINT) AS n_dup_tokens,
       CAST(count(DISTINCT CASE WHEN o.occ_key <> f.first_occ
                  THEN o.doc_id END) AS BIGINT) AS n_docs_hit
FROM occ o JOIN firsts f ON f.h = o.h
GROUP BY o.source""",
    doc="ExactSubstr-style dedup at fixed 16-token-block granularity "
        "(Lee et al. 2022 made dataflow-shaped): hash every "
        "consecutive block, keep the corpus-wide first occurrence "
        "(min packed (doc_id, block_idx)), report per-source block/"
        "token duplication mass. One combinable hash-groupBy + one "
        "equi-join; linear in corpus tokens.",
)
def q_dedup_block_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # NULL text must emit NO blocks on either engine: Spark's
    # F.size(NULL) = -1 would make nb = 0 yet F.sequence(0, -1) yields
    # a DESCENDING [0, -1] — two spurious rows per NULL doc — while
    # DuckDB's range(0, NULL) emits none. Filter NULLs identically on
    # both sides (oracle: WHERE text IS NOT NULL).
    w = docs.filter(F.col("text").isNotNull()) \
            .select("doc_id", "source", F.split("text", " ").alias("w"))
    nb = F.floor((F.size("w") + F.lit(BLOCK_W - 1)) / F.lit(BLOCK_W)) \
        .cast("int")
    blocks = w.select(
        "doc_id", "source", F.size("w").alias("n_w"),
        F.posexplode(F.transform(
            F.sequence(F.lit(0), nb - 1),
            lambda i: F.array_join(
                F.slice("w", i * BLOCK_W + 1, BLOCK_W), " ")))
        .alias("blk", "btxt"))
    occ = blocks.select(
        "doc_id", "source", "blk",
        F.md5("btxt").alias("h"),
        F.least(F.lit(BLOCK_W),
                F.col("n_w") - F.col("blk") * BLOCK_W).alias("n_tok"),
        (F.col("doc_id") * BLOCK_IDX_PACK + F.col("blk"))
        .alias("occ_key"))
    firsts = occ.groupBy("h").agg(F.min("occ_key").alias("first_occ"))
    dup = F.col("occ_key") != F.col("first_occ")
    return (occ.join(firsts, "h")
            .groupBy("source")
            .agg(F.countDistinct("doc_id").cast("long").alias("n_docs"),
                 F.count(F.lit(1)).cast("long").alias("n_blocks"),
                 F.count(F.when(dup, 1)).cast("long").alias("n_dup_blocks"),
                 F.sum("n_tok").cast("long").alias("n_tokens"),
                 F.coalesce(F.sum(F.when(dup, F.col("n_tok"))), F.lit(0))
                 .cast("long").alias("n_dup_tokens"),
                 F.countDistinct(F.when(dup, F.col("doc_id")))
                 .cast("long").alias("n_docs_hit")))
