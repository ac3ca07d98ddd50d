"""The end-to-end training-data curation pipeline as ONE externally
checkable artifact (VERDICT r4 #3).

Every stage below exists as an individually driver-green operator;
this module composes them into a single funnel and returns the
per-stage accounting manifest — proving the stages agree on schemas,
drop rules and session caches end-to-end, as one hash:

    0 raw              every document
    1 exact_dedup      md5(text) groups keep the lowest doc_id
    2 minhash_dedup    confirmed MinHash near-dup pairs, drop doc_b
    3 embedding_dedup  banded sign-LSH pairs (corpus-size plane knob),
                       drop the higher vec_id where an embedding exists
    4 decontam_verbatim  8-gram overlap >= 50 % of an eval doc
    5 decontam_neardup   MinHash pair crossing the train/eval split
    6 quality          composite quality score >= 0.55
    7 blocklist        C4-style blocked-token ratio <= 5 %
    8 eval_holdout     held-out eval docs (doc_id % 10 = 0) leave the
                       train corpus

The stage ORDER follows The Pile / GPT-3 appendix C: dedup first
(pair tables are corpus-level artifacts), then decontaminate, then
the row-local quality/blocklist filters — so each drop set acts on
the population it was computed over.
    9 temperature_mix  alpha=0.5 source sampling (sqrt(t_min/t_s)
                       hash-Bernoulli gate) — thresholds computed over
                       the STAGE-8 SURVIVORS, not the raw corpus
   10 epoch_shuffle    deterministic shard+position permutation of the
                       final corpus; the checksum pins WHICH doc got
                       which position, not just the counts

Scale shape: one row-local metrics pass over documents; the five drop
sets are the session-cached pair/index tables the standalone operators
already materialize (MinHash pairs, banded embedding pairs, the
contamination shingle index) — each joined once as a left flag, never
re-derived; the funnel position of every document is a single CASE
over the flags, so stages 0–8 aggregate in ONE pass (18 conditional
sums). The mix threshold is a broadcast-size per-source table; the
epoch shuffle sorts per shard only. Nothing here exceeds the cost of
the most expensive constituent stage.

Reference basis: the reference's INSERT-SELECT archive choreography
(usdc-transfers/sql/archive-strategy.sql:41-72) applied to the
LLM-curation surface; stage recipes follow C4/Gopher (quality,
blocklist), Lee et al. 2022 (dedup), GPT-3 appendix C / The Pile
(two-mode decontamination), XLM-R/mT5 (temperature mixing).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..sources.tables import load_table
from .contamination import (CONTAM_THRESHOLD, EVAL_MOD, _SH_SQL,
                            q_contamination_ngram_overlap)
from .dedup import (COSINE_DUP_THRESHOLD, DOC_SETS_SQL, JACCARD_THRESHOLD,
                    _band_planes_sql, _banded_posts_sql, _minhash_sql,
                    confirmed_banded_pairs, confirmed_minhash_pairs)
from .pipeline import (BLOCK_PATTERN, EPOCH_SEED, EPOCH_SHARDS, QUALITY_MIN,
                       TEMP_BUCKETS, TEMP_SALT)
from ..caches import PlanCache
from .registry import register
from .similarity import COSINE_ORACLE_EXPR, int_norm2, quantize

# (stage_id, name, SQL CTE holding its survivors) — single source of
# truth for both engines' stage tables
STAGES = [
    (0, "raw", "s0"),
    (1, "exact_dedup", "s1"),
    (2, "minhash_dedup", "s2"),
    (3, "embedding_dedup", "s3"),
    (4, "decontam_verbatim", "s4"),
    (5, "decontam_neardup", "s5"),
    (6, "quality", "s6"),
    (7, "blocklist", "s7"),
    (8, "eval_holdout", "s8"),
]

# order-sensitive permutation checksum: sum((shard+1)·pos·(doc_id%997))
# — unlike sum(pos) (= k(k+1)/2 per shard, blind to WHICH doc sits
# where), this moves whenever any two docs swap positions. 997 keeps
# the per-row term bounded so the BIGINT sum is safe far beyond the
# fixture scales (mod the sum itself before 10^12-doc corpora).
_CKSUM_MOD = 997

# the contamination shingle fragment reuses CTE names the dedup
# fragment also defines; rename its CTEs for composition
_CSH_SQL = (_SH_SQL
            .replace("words AS (", "cwords AS (")
            .replace("FROM words", "FROM cwords")
            .replace("\nsh AS (", "\ncsh AS ("))


def _funnel_sql() -> str:
    """The DuckDB oracle: the same funnel as the Spark plan, stage
    survivor sets via cumulative NOT IN, stage rows via UNION ALL."""
    not_in = {
        "s1": "doc_id NOT IN (SELECT doc_id FROM exact_dropped)",
        "s2": "doc_id NOT IN (SELECT doc_id FROM mh_dropped)",
        "s3": "doc_id NOT IN (SELECT doc_id FROM emb_dropped)",
        "s4": "doc_id NOT IN (SELECT doc_id FROM contam_verbatim)",
        "s5": "doc_id NOT IN (SELECT doc_id FROM contam_neardup)",
        "s6": f"q >= {QUALITY_MIN}",
        "s7": "n_blocked * 20 <= n_tokens",
        "s8": f"doc_id % {EVAL_MOD} <> 0",
    }
    chain = ",\n".join(
        f"{cte} AS (SELECT * FROM s{i - 1} WHERE {cond})"
        for i, (cte, cond) in enumerate(not_in.items(), start=1))
    stage_rows = "\nUNION ALL\n".join(
        f"SELECT {sid} AS stage_id, '{name}' AS stage, "
        f"count(*) AS n_docs, coalesce(sum(n_tokens), 0) AS ws_tokens, "
        f"0 AS checksum FROM {cte}"
        for sid, name, cte in STAGES)
    return f"""
WITH {DOC_SETS_SQL.strip()},
{_minhash_sql().strip()},
mh_pairs AS (
  SELECT c.doc_a, c.doc_b
  FROM candidates c
  JOIN doc_sets_n a ON a.doc_id = c.doc_a
  JOIN doc_sets_n b ON b.doc_id = c.doc_b
  WHERE len(list_intersect(a.sh, b.sh))
          / (a.n + b.n - len(list_intersect(a.sh, b.sh)))
        >= {JACCARD_THRESHOLD}
),
mh_dropped AS (SELECT DISTINCT doc_b AS doc_id FROM mh_pairs),
exact_dropped AS (
  SELECT doc_id FROM (
    SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep
    FROM documents)
  WHERE doc_id <> keep
),
emb_q AS (SELECT vec_id, {quantize.SQL} AS qv FROM embeddings),
n AS (SELECT vec_id, qv, {int_norm2.SQL} AS norm2 FROM emb_q),
planes AS MATERIALIZED (
{_band_planes_sql()}
),
posts AS MATERIALIZED (
{_banded_posts_sql()}
),
emb_dropped AS (
  SELECT DISTINCT b.vec_id AS doc_id
  FROM posts a JOIN posts b
    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
  WHERE {COSINE_ORACLE_EXPR} >= {COSINE_DUP_THRESHOLD}
),
{_CSH_SQL.strip()},
c_eval AS (
  SELECT doc_id, count(*) AS nsh FROM csh WHERE is_eval GROUP BY 1
),
c_pairs AS (
  SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc, count(*) AS common
  FROM csh t JOIN csh e ON t.h = e.h AND NOT t.is_eval AND e.is_eval
  GROUP BY 1, 2
),
contam_verbatim AS (
  SELECT DISTINCT p.train_doc AS doc_id
  FROM c_pairs p JOIN c_eval ce ON ce.doc_id = p.eval_doc
  WHERE p.common / ce.nsh >= {CONTAM_THRESHOLD}
),
contam_neardup AS (
  SELECT DISTINCT CASE WHEN doc_a % {EVAL_MOD} = 0 THEN doc_b
                       ELSE doc_a END AS doc_id
  FROM mh_pairs
  WHERE (doc_a % {EVAL_MOD} = 0) <> (doc_b % {EVAL_MOD} = 0)
),
s0 AS (
  SELECT doc_id, source,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         0.5 * (CASE WHEN len(string_split(text, ' ')) < 200
                     THEN len(string_split(text, ' ')) ELSE 200 END) / 200.0
         + 0.3 * (CASE WHEN (length(text) - len(string_split(text, ' ')) + 1)
                            / len(string_split(text, ' ')) BETWEEN 3 AND 10
                       THEN 1.0 ELSE 0.0 END)
         + 0.2 * (len(list_distinct(string_split(text, ' ')))
                  / len(string_split(text, ' '))) AS q,
         len(regexp_extract_all(text, '{BLOCK_PATTERN}')) AS n_blocked
  FROM documents
),
{chain},
src AS (SELECT source, sum(n_tokens) AS toks FROM s8 GROUP BY 1),
anchor AS (SELECT min(toks) AS t_min FROM src),
thr AS (
  SELECT source,
         CAST(floor((sqrt(CAST(t_min AS DOUBLE))
                     / sqrt(CAST(toks AS DOUBLE))) * {TEMP_BUCKETS})
              AS BIGINT) AS threshold
  FROM src, anchor
),
s9 AS (
  SELECT s8.* FROM s8 JOIN thr ON thr.source = s8.source
  WHERE (('0x' || substr(md5('{TEMP_SALT}' || CAST(doc_id AS VARCHAR)),
          1, 8))::BIGINT % {TEMP_BUCKETS}) < thr.threshold
),
sh9 AS (
  SELECT doc_id, n_tokens,
         md5('{EPOCH_SEED}' || CAST(doc_id AS VARCHAR)) AS shuffle_hash,
         ('0x' || substr(md5('{EPOCH_SEED}' || CAST(doc_id AS VARCHAR)),
          1, 8))::BIGINT % {EPOCH_SHARDS} AS shard
  FROM s9
),
shuffled AS (
  SELECT shard, n_tokens, doc_id,
         row_number() OVER (PARTITION BY shard
                            ORDER BY shuffle_hash, doc_id) AS pos
  FROM sh9
),
stages AS (
{stage_rows}
UNION ALL
SELECT 9, 'temperature_mix', count(*), coalesce(sum(n_tokens), 0), 0
FROM s9
UNION ALL
SELECT 10, 'epoch_shuffle', count(*), coalesce(sum(n_tokens), 0),
       coalesce(sum((shard + 1) * pos * (doc_id % {_CKSUM_MOD})), 0)
FROM shuffled
)
SELECT CAST(stage_id AS BIGINT) AS stage_id, stage,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(ws_tokens AS BIGINT) AS ws_tokens,
       CAST(checksum AS BIGINT) AS checksum
FROM stages"""


# one persisted annotated-corpus frame per (session, sf_dir): the
# funnel's two output branches (the stage 0-8 single-pass aggregate
# and the s8 -> mix -> shuffle tail) both hang off `ann`, and ONE
# collect of the unioned result executes BOTH lineages — without this
# pin the whole drop-flag join tree runs twice per materialization.
# The frame is one narrow row per document (ids + 4 small numerics),
# exactly the per-doc curation ledger a production pipeline writes
# between the corpus-level passes and the row-local tail.
_ANN_CACHE: dict[tuple[str, str, str], DataFrame] = PlanCache()


def _annotated(spark: SparkSession, sf_dir: str,
               build, kind: str = "funnel") -> DataFrame:
    # `kind` discriminates the cache entry (ADVICE r5): a future caller
    # reusing this helper with a DIFFERENT build function must pass its
    # own kind, or it would silently read the funnel's frame.
    key = (kind, spark.sparkContext.applicationId, sf_dir)
    if key not in _ANN_CACHE:
        _ANN_CACHE[key] = build().persist(StorageLevel.MEMORY_AND_DISK)
    return _ANN_CACHE[key]


@register(
    "pipeline_end_to_end",
    oracle=_funnel_sql(),
    doc="The composed curation pipeline as one artifact: exact+MinHash"
        "+banded-embedding dedup -> verbatim+near-dup decontamination "
        "-> quality -> blocklist -> eval holdout -> temperature mix "
        "(thresholds over the surviving corpus) -> deterministic epoch "
        "shuffle, returning the per-stage (n_docs, ws_tokens, "
        "checksum) manifest. One row-local metrics pass + the session-"
        "cached pair tables as left-joined flags; stages 0-8 aggregate "
        "in a single pass over the annotated corpus.",
)
def q_pipeline_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    avg_tok = ((F.length("text") - F.size(words) + 1)
               / F.size(words))
    quality = (0.5 * F.least(F.size(words), F.lit(200)) / 200.0
               + 0.3 * F.when(avg_tok.between(3, 10), 1.0).otherwise(0.0)
               + 0.2 * (F.size(F.array_distinct(words)) / F.size(words)))
    metrics = docs.select(
        "doc_id", "source",
        F.size(words).cast("long").alias("n_tokens"),
        quality.alias("q"),
        F.regexp_count("text", F.lit(BLOCK_PATTERN)).cast("long")
         .alias("n_blocked"))

    # drop sets — each one the session-cached table its standalone
    # operator already materializes (or a one-shuffle derivation)
    hashed = docs.select(F.md5("text").alias("h"), "doc_id")
    keeps = hashed.groupBy("h").agg(F.min("doc_id").alias("keep"))
    exact_dropped = (hashed.join(keeps, "h")
                     .filter(F.col("doc_id") != F.col("keep"))
                     .select("doc_id"))
    mh_pairs = confirmed_minhash_pairs(spark, sf_dir)
    mh_dropped = mh_pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    emb_dropped = (confirmed_banded_pairs(spark, sf_dir)
                   .select(F.col("vec_b").alias("doc_id")).distinct())
    cv = (q_contamination_ngram_overlap(spark, sf_dir)
          .select(F.col("train_doc").alias("doc_id")).distinct())
    a_eval = F.col("doc_a") % EVAL_MOD == 0
    cn = (mh_pairs
          .filter(a_eval != (F.col("doc_b") % EVAL_MOD == 0))
          .select(F.when(a_eval, F.col("doc_b")).otherwise(F.col("doc_a"))
                  .alias("doc_id")).distinct())

    def flag(df: DataFrame, name: str) -> DataFrame:
        return df.withColumn(name, F.lit(1))

    def build_ann() -> DataFrame:
        joined = (metrics
                  .join(flag(exact_dropped, "_ex"), "doc_id", "left")
                  .join(flag(mh_dropped, "_mh"), "doc_id", "left")
                  .join(flag(emb_dropped, "_emb"), "doc_id", "left")
                  .join(flag(cv, "_cv"), "doc_id", "left")
                  .join(flag(cn, "_cn"), "doc_id", "left"))
        # first failing gate, funnel order (99 = survives stages 1-8)
        ds = (F.when(F.col("_ex").isNotNull(), 1)
              .when(F.col("_mh").isNotNull(), 2)
              .when(F.col("_emb").isNotNull(), 3)
              .when(F.col("_cv").isNotNull(), 4)
              .when(F.col("_cn").isNotNull(), 5)
              .when(~(F.col("q") >= QUALITY_MIN), 6)
              .when(F.col("n_blocked") * 20 > F.col("n_tokens"), 7)
              .when(F.col("doc_id") % EVAL_MOD == 0, 8)
              .otherwise(99))
        return joined.select("doc_id", "source", "n_tokens",
                             ds.alias("ds"))

    ann = _annotated(spark, sf_dir, build_ann)

    # stages 0-8 in ONE aggregation pass: survivors of stage i = ds > i
    aggs = []
    for sid, _name, _cte in STAGES:
        surv = F.col("ds") > sid
        aggs.append(F.sum(F.when(surv, 1).otherwise(0))
                    .cast("long").alias(f"n{sid}"))
        aggs.append(F.coalesce(
            F.sum(F.when(surv, F.col("n_tokens"))), F.lit(0))
            .cast("long").alias(f"t{sid}"))
    one = ann.agg(*aggs)
    stack_args = ", ".join(
        f"{sid}L, '{name}', n{sid}, t{sid}, 0L"
        for sid, name, _cte in STAGES)
    head = one.selectExpr(
        f"stack({len(STAGES)}, {stack_args}) AS "
        "(stage_id, stage, n_docs, ws_tokens, checksum)")

    # temperature mix: thresholds from the STAGE-8 SURVIVORS
    s8 = ann.filter(F.col("ds") > 8).select("doc_id", "source", "n_tokens")
    src = s8.groupBy("source").agg(F.sum("n_tokens").alias("toks"))
    anchor = src.agg(F.min("toks").alias("t_min"))
    thr = src.crossJoin(F.broadcast(anchor)).select(
        "source",
        F.floor((F.sqrt(F.col("t_min").cast("double"))
                 / F.sqrt(F.col("toks").cast("double")))
                * F.lit(TEMP_BUCKETS)).cast("long").alias("threshold"))
    bucket = (F.conv(F.substring(
        F.md5(F.concat(F.lit(TEMP_SALT), F.col("doc_id").cast("string"))),
        1, 8), 16, 10).cast("long") % TEMP_BUCKETS)
    s9 = (s8.join(F.broadcast(thr), "source")
          .filter(bucket < F.col("threshold"))
          .select("doc_id", "n_tokens"))

    # deterministic epoch shuffle of the final corpus + its checksum
    shash = F.md5(F.concat(F.lit(EPOCH_SEED), F.col("doc_id").cast("string")))
    sh9 = s9.select(
        "doc_id", "n_tokens", shash.alias("shuffle_hash"),
        (F.conv(F.substring(shash, 1, 8), 16, 10).cast("long")
         % EPOCH_SHARDS).alias("shard"))
    w = Window.partitionBy("shard").orderBy("shuffle_hash", "doc_id")
    shuffled = sh9.withColumn("pos", F.row_number().over(w).cast("long"))

    # BOTH tail rows from ONE aggregate over `shuffled` (the shuffle
    # permutes, never drops, so stage 9's counts equal stage 10's):
    # one lineage execution instead of two for the funnel's tail
    tail_agg = shuffled.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("n_tokens"), F.lit(0)).cast("long")
         .alias("ws_tokens"),
        F.coalesce(F.sum((F.col("shard") + 1) * F.col("pos")
                         * (F.col("doc_id") % _CKSUM_MOD)), F.lit(0))
         .cast("long").alias("cksum"))
    tails = tail_agg.selectExpr(
        "stack(2, 9L, 'temperature_mix', n_docs, ws_tokens, 0L, "
        "10L, 'epoch_shuffle', n_docs, ws_tokens, cksum) AS "
        "(stage_id, stage, n_docs, ws_tokens, checksum)")

    return (head.select(F.col("stage_id").cast("long"), "stage",
                        F.col("n_docs").cast("long"),
                        F.col("ws_tokens").cast("long"),
                        F.col("checksum").cast("long"))
            .unionByName(tails.select(
                F.col("stage_id").cast("long"), "stage",
                F.col("n_docs").cast("long"),
                F.col("ws_tokens").cast("long"),
                F.col("checksum").cast("long"))))
