"""Text-analysis operators for training-data pipelines
(beyond-reference surface): language-ID, quality scoring, token
counting, document fingerprinting — all over the driver's ``documents``
table, all as native column expressions (no Python in the hot path),
each with a DuckDB oracle.

Determinism: ratios are single divisions of exact integers (IEEE-
identical across engines); fingerprints are md5.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import (Column, DataFrame, SparkSession, Window,
                         functions as F)

from ..sources.tables import load_table
from ..caches import PlanCache
from .registry import register

# Small public stopword lists per candidate language. On the driver's
# synthetic shared-vocabulary corpus the classifier mostly answers
# 'en'/'und' — the operator is the n-gram-heuristic *mechanism*, and
# the oracle checks the mechanism, not linguistic accuracy.
STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "that", "it", "was"),
    "de": ("der", "die", "das", "und", "zu", "den", "von", "ist", "mit", "nicht"),
    "es": ("el", "la", "que", "y", "en", "un", "una", "es", "por", "los"),
    "fr": ("le", "les", "et", "un", "une", "est", "que", "pour", "dans", "au"),
    "zh": ("的", "了", "是", "我", "不", "在", "有", "他", "这", "就"),
}
_LANG_ORDER = tuple(STOPWORDS)     # deterministic argmax tie-break order

BPE_ISH_PATTERN = r"[a-z]+|[0-9]+|[^a-z0-9\s]"


def _score_cols(tokens: Column) -> list[Column]:
    toks = F.array_distinct(tokens)
    return [
        F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
         .alias(f"s_{lang}")
        for lang, words in STOPWORDS.items()
    ]


def _score_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (f"len(list_intersect(list_distinct(string_split(text, ' ')), "
            f"[{words}]))")


def _pred_case_sql() -> str:
    branches = []
    for lang in _LANG_ORDER:
        conds = " AND ".join(
            f"s_{lang} >= s_{other}" for other in _LANG_ORDER if other != lang)
        branches.append(f"WHEN s_{lang} > 0 AND {conds} THEN '{lang}'")
    return "CASE " + " ".join(branches) + " ELSE 'und' END"


def _pred_case_col() -> Column:
    expr = None
    for lang in _LANG_ORDER:
        cond = F.col(f"s_{lang}") > 0
        for other in _LANG_ORDER:
            if other != lang:
                cond = cond & (F.col(f"s_{lang}") >= F.col(f"s_{other}"))
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    return expr.otherwise("und")


@register(
    "text_language_id",
    oracle=f"""
WITH scored AS (
  SELECT doc_id, lang,
         {", ".join(f"{_score_sql(lang)} AS s_{lang}" for lang in _LANG_ORDER)}
  FROM documents
), pred AS (
  SELECT lang AS labeled_lang, {_pred_case_sql()} AS predicted_lang FROM scored
)
SELECT labeled_lang, predicted_lang, count(*) AS n_docs
FROM pred GROUP BY 1, 2""",
    doc="Language-ID heuristic: stopword-overlap argmax per doc, "
        "reported as a (labeled, predicted) confusion matrix. Pure "
        "array_intersect column ops — linear scan, no shuffle beyond "
        "the final small groupBy.",
)
def q_text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select("doc_id", "lang",
                         *_score_cols(F.split("text", " ")))
    pred = scored.select(F.col("lang").alias("labeled_lang"),
                         _pred_case_col().alias("predicted_lang"))
    return pred.groupBy("labeled_lang", "predicted_lang") \
               .agg(F.count(F.lit(1)).alias("n_docs"))


@register(
    "text_quality_score",
    oracle="""
WITH m AS (
  SELECT doc_id,
         length(text) AS n_chars_actual,
         len(string_split(text, ' ')) AS n_tokens,
         len(list_distinct(string_split(text, ' '))) AS n_distinct
  FROM documents
)
SELECT doc_id, n_chars_actual, n_tokens,
       (n_chars_actual - n_tokens + 1) / n_tokens AS avg_token_len,
       n_distinct / n_tokens AS distinct_ratio,
       0.5 * (CASE WHEN n_tokens < 200 THEN n_tokens ELSE 200 END) / 200.0
       + 0.3 * (CASE WHEN (n_chars_actual - n_tokens + 1) / n_tokens
                     BETWEEN 3 AND 10 THEN 1.0 ELSE 0.0 END)
       + 0.2 * (n_distinct / n_tokens) AS quality_score
FROM m""",
    doc="Per-document quality features: length, avg token length, "
        "type-token ratio, composite 0-1 score. All integer-derived "
        "arithmetic → oracle-exact doubles.",
)
def q_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    words = F.split("text", " ")
    m = docs.select(
        "doc_id",
        # long, not int: DuckDB length()/len() return BIGINT and the
        # driver records both schemas
        F.length("text").cast("long").alias("n_chars_actual"),
        F.size(words).cast("long").alias("n_tokens"),
        F.size(F.array_distinct(words)).cast("long").alias("n_distinct"),
    )
    avg_tok = (F.col("n_chars_actual") - F.col("n_tokens") + 1) / F.col("n_tokens")
    distinct_ratio = F.col("n_distinct") / F.col("n_tokens")
    quality = (
        0.5 * F.least(F.col("n_tokens"), F.lit(200)) / 200.0
        + 0.3 * F.when(avg_tok.between(3, 10), 1.0).otherwise(0.0)
        + 0.2 * distinct_ratio
    )
    return m.select("doc_id", "n_chars_actual", "n_tokens",
                    avg_tok.alias("avg_token_len"),
                    distinct_ratio.alias("distinct_ratio"),
                    quality.alias("quality_score"))


@register(
    "text_token_count",
    oracle=f"""
SELECT source,
       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
       CAST(sum(len(regexp_extract_all(text, '{BPE_ISH_PATTERN}'))) AS BIGINT) AS bpe_ish_tokens,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       count(*) AS n_docs
FROM documents
GROUP BY source""",
    doc="Token counting per source: whitespace tokens + BPE-ish regex "
        "tokens ([a-z]+|[0-9]+|punct). regexp_count stays JVM-side.",
)
def q_text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(F.sum(F.size(F.split("text", " "))).alias("ws_tokens"),
             F.sum(F.regexp_count("text", F.lit(BPE_ISH_PATTERN)))
              .alias("bpe_ish_tokens"),
             F.sum(F.length("text")).alias("total_chars"),
             F.count(F.lit(1)).alias("n_docs"))
    )


@register(
    "text_fingerprint",
    oracle="""
WITH norm AS (
  SELECT doc_id,
         trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm_text,
         string_split(text, ' ') AS w
  FROM documents
)
SELECT doc_id,
       substr(md5(norm_text), 1, 16) AS fingerprint,
       substr(md5(array_to_string(w[1:10], ' ')), 1, 16) AS prefix_fingerprint
FROM norm""",
    doc="Document fingerprinting: 64-bit md5 prefix of the whitespace-"
        "normalized text plus a first-10-words prefix fingerprint "
        "(rolling-hash-style locality for boilerplate detection).",
)
def q_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    words = F.split("text", " ")
    return docs.select(
        "doc_id",
        F.substring(F.md5(norm), 1, 16).alias("fingerprint"),
        F.substring(F.md5(F.array_join(F.slice(words, 1, 10), " ")), 1, 16)
         .alias("prefix_fingerprint"),
    )


@register(
    "text_vocab_topk",
    oracle="""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
counted AS (
  SELECT token, CAST(count(*) AS BIGINT) AS freq
  FROM tok WHERE token <> '' GROUP BY token
),
ranked AS (
  SELECT token, freq,
         row_number() OVER (ORDER BY freq DESC, token) AS rank
  FROM counted
)
SELECT rank, token, freq FROM ranked WHERE rank <= 50""",
    doc="Vocabulary build: corpus-wide token frequencies, top-50 by "
        "count (tie-broken lexically). The scale shape is explode -> "
        "two-phase hash aggregate (map-side combine eats the token "
        "explosion before the shuffle) -> TakeOrdered top-k; the "
        "full frequency table this truncates IS the tokenizer-training "
        "input at 100 TB.",
)
def q_text_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counted = (
        docs.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    )
    # top-k FIRST via TakeOrderedAndProject (distributed per-partition
    # top-50 + merge), THEN rank — a global row_number window over the
    # full vocabulary would funnel it through one reducer.
    top = counted.orderBy(F.col("freq").desc(), "token").limit(50)
    w = Window.orderBy(F.col("freq").desc(), "token")
    return (top.withColumn("rank", F.row_number().over(w))
            .select("rank", "token", "freq"))


@register(
    "text_tfidf_topk",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM tok WHERE token <> '' GROUP BY doc_id, token
),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT t.doc_id, t.token,
         CAST(t.tf AS BIGINT) AS tf, CAST(d.df AS BIGINT) AS df,
         CAST(t.tf * n.n AS BIGINT) / d.df AS rarity_score
  FROM tf t JOIN dfreq d ON d.token = t.token, n
  WHERE t.doc_id < 10
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY rarity_score DESC, token) AS rank
  FROM scored
)
SELECT doc_id, rank, token, tf, df, rarity_score
FROM ranked WHERE rank <= 5""",
    doc="tf-idf-style keyword extraction: term frequency per (doc, "
        "token), document frequency per token (one vocab-sized "
        "combinable groupBy), score = tf*N/df as a single exact-int "
        "division (no ln() — engine log implementations aren't "
        "bit-identical), top-5 terms per probe doc. The standard "
        "two-aggregation + token-keyed join dataflow; the df table is "
        "vocabulary-sized, not corpus-sized.",
)
def q_text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (docs.select("doc_id",
                      F.explode(F.split("text", " ")).alias("token"))
          .filter(F.col("token") != "")
          .groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf")))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    scored = (
        tf.filter(F.col("doc_id") < 10)
        .join(dfreq, "token")
        .crossJoin(F.broadcast(n))
        .select("doc_id", "token",
                F.col("tf").cast("long").alias("tf"),
                F.col("df").cast("long").alias("df"),
                ((F.col("tf") * F.col("n")).cast("long") / F.col("df"))
                .alias("rarity_score"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("rarity_score").desc(), "token")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 5)
            .select("doc_id", "rank", "token", "tf", "df", "rarity_score"))


# ---------------------------------------------------------------------------
# Heavy hitters: local-threshold candidate sketch + exact verify.

HH_FRACTION = 200        # heavy hitter = token with freq > n_tokens / 200


def _hh_candidates_partition(pdfs):
    """Per-batch exact local heavy hitters: emits every token that
    could be a global heavy hitter. Pigeonhole guarantee: if a token's
    global frequency satisfies freq * HH_FRACTION > n_total, it must
    satisfy the same strict inequality locally in at least one batch
    (if it failed in every batch, summing the per-batch bounds gives
    freq * HH_FRACTION <= n_total) — so the candidate UNION is a
    superset and the exact verify pass makes the final answer
    deterministic (independent of partitioning and batching), hence
    oracle-checkable. At most HH_FRACTION candidates per batch.

    OPTIMIZATION r12 (guide §4.2): replaces the per-token pure-Python
    Misra-Gries dict loop (~1 dict operation per corpus token) with
    pandas' C-path split/explode/value_counts over the whole batch.
    The candidate SET differs (both are supersets — MG kept decrement
    survivors, this keeps local-threshold passers), but the declared
    output is the exact verified set either way."""
    import pandas as pd
    for pdf in pdfs:
        toks = pdf["text"].str.split(" ").explode()
        # a NULL text explodes to one NaN: no token, so not counted
        toks = toks[toks.notna() & (toks != "")]
        if toks.empty:
            continue
        vc = toks.value_counts()
        cand = vc.index[vc.to_numpy() * HH_FRACTION > len(toks)]
        if len(cand):
            yield pd.DataFrame({"token": cand})


@register(
    "text_heavy_hitters",
    oracle=f"""
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
), nz AS (SELECT token FROM toks WHERE token <> ''),
total AS (SELECT count(*) AS n FROM nz)
SELECT token, CAST(count(*) AS BIGINT) AS freq
FROM nz, total
GROUP BY token, total.n
HAVING count(*) * {HH_FRACTION} > total.n""",
    doc="Frequent-items (ClickHouse topK's exact-answer cousin): "
        "tokens with corpus frequency > n/200 via per-batch exact "
        "local heavy hitters (mapInPandas, vectorized value_counts) "
        "whose candidate union provably contains every global heavy "
        "hitter (pigeonhole), then ONE exact counting pass restricted "
        "to candidates. The sketch bounds the shuffle to <=200 tokens "
        "per batch instead of the full vocabulary; the verify makes "
        "the output deterministic and oracle-exact regardless of "
        "partitioning.",
)
def q_text_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T
    from ..sources.tables import ensure_parallelism
    docs = ensure_parallelism(load_table(spark, sf_dir, "documents"))
    cand = (docs.select("text")
            .mapInPandas(_hh_candidates_partition,
                         T.StructType([T.StructField("token", T.StringType())]))
            .distinct())
    toks = (docs.select(F.explode(F.split("text", " ")).alias("token"))
            .filter(F.col("token") != ""))
    # Measured and REJECTED (r12): riding the global total n on the
    # sketch pass via per-batch marker rows removes this JVM count
    # pass but makes the Python sketch a two-consumer subtree (no
    # exchange between), so the corpus crosses the Python boundary
    # TWICE — faster at sf0.1 (1.64 vs 1.83 s), slower at sf0.5
    # (2.02 vs 1.73 s), i.e. wrong at scale. The JVM pass stays.
    total = toks.agg(F.count(F.lit(1)).alias("n"))
    # no broadcast hint on the candidate side: it is counters x
    # partitions rows — tiny here, but at 100k-partition scale it can
    # reach tens of millions, where AQE's runtime stats must be free
    # to pick the shuffle join (same policy as the contamination join)
    counts = (toks.join(cand, "token")
              .groupBy("token").agg(F.count(F.lit(1)).alias("freq")))
    return (counts.crossJoin(F.broadcast(total))
            .filter(F.col("freq") * HH_FRACTION > F.col("n"))
            .select("token", "freq"))


# ---------------------------------------------------------------------------
# Repetition-based quality rules (the Gopher/C4 repetition family):
# documents dominated by repeated words are boilerplate/spam signals a
# training pipeline drops before tokenization. Two per-document rules:
#   dupwords — distinct-word fraction < 45 %  (heavy word reuse)
#   topword  — most frequent word > 10 % of the document
# Both thresholds compare products of exact integers (never a float
# ratio), so the flags — and therefore the hash gate — are engine-exact.

REP_DISTINCT_NUM, REP_DISTINCT_DEN = 9, 20     # distinct/n < 9/20 = 0.45
REP_TOP_DEN = 10                               # top/n > 1/10


@register(
    "text_repetition_stats",
    oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS token
  FROM documents
), nz AS (SELECT * FROM toks WHERE token <> ''),
per_tok AS (
  SELECT doc_id, lang, token, count(*) AS c FROM nz GROUP BY 1, 2, 3
),
per_doc AS (
  SELECT doc_id, lang, sum(c) AS n_tokens, count(*) AS n_distinct,
         max(c) AS top_freq
  FROM per_tok GROUP BY 1, 2
),
flagged AS (
  SELECT lang, n_tokens,
         n_distinct * {REP_DISTINCT_DEN} < n_tokens * {REP_DISTINCT_NUM}
           AS f_dup,
         top_freq * {REP_TOP_DEN} > n_tokens AS f_top
  FROM per_doc
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(CASE WHEN f_dup THEN 1 END) AS BIGINT) AS n_flag_dupwords,
       CAST(count(CASE WHEN f_top THEN 1 END) AS BIGINT) AS n_flag_topword,
       CAST(count(CASE WHEN NOT f_dup AND NOT f_top THEN 1 END) AS BIGINT)
         AS n_clean,
       CAST(sum(CASE WHEN NOT f_dup AND NOT f_top THEN n_tokens ELSE 0 END)
            AS BIGINT) AS clean_ws_tokens
FROM flagged GROUP BY lang""",
    doc="Gopher-style repetition quality rules: per-document "
        "distinct-word fraction and top-word fraction, flagged by "
        "integer-exact threshold compares and rolled up per language. "
        "Two-phase plan: the (doc, token) count is map-side combinable "
        "(the shuffle moves one row per distinct word per doc, not one "
        "per token), the per-doc collapse reuses the same doc_id "
        "partitioning, and the final per-lang rollup is tiny.",
)
def q_text_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    toks = (docs.select("doc_id", "lang",
                        F.explode(F.split("text", " ")).alias("token"))
            .filter(F.col("token") != ""))
    per_tok = (toks.groupBy("doc_id", "lang", "token")
               .agg(F.count(F.lit(1)).alias("c")))
    per_doc = (per_tok.groupBy("doc_id", "lang")
               .agg(F.sum("c").alias("n_tokens"),
                    F.count(F.lit(1)).alias("n_distinct"),
                    F.max("c").alias("top_freq")))
    f_dup = (F.col("n_distinct") * REP_DISTINCT_DEN
             < F.col("n_tokens") * REP_DISTINCT_NUM)
    f_top = F.col("top_freq") * REP_TOP_DEN > F.col("n_tokens")
    clean = ~f_dup & ~f_top
    return (per_doc.select("lang", "n_tokens",
                           f_dup.alias("f_dup"), f_top.alias("f_top"),
                           clean.alias("f_clean"))
            .groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.count(F.when(F.col("f_dup"), 1)).cast("long")
                  .alias("n_flag_dupwords"),
                 F.count(F.when(F.col("f_top"), 1)).cast("long")
                  .alias("n_flag_topword"),
                 F.count(F.when(F.col("f_clean"), 1)).cast("long")
                  .alias("n_clean"),
                 F.sum(F.when(F.col("f_clean"), F.col("n_tokens"))
                       .otherwise(0)).cast("long")
                  .alias("clean_ws_tokens")))


# ---------------------------------------------------------------------------
# quantileExactWeighted parity: exact quantiles of a value where each
# row carries an integer weight (ClickHouse's value-frequency form).
# Rank rule over cumulative weight: k = ceil(p * W / 100), answer =
# smallest value whose running weight reaches k. The engine first
# collapses rows to a (group, value) -> total-weight rollup — the same
# move ClickHouse's implementation makes — so the quantile window runs
# over the value-frequency table (|groups| x |distinct values| rows),
# never over raw rows. Weights and values are integers, so results are
# engine-exact.

WQ_PCTS = (25, 50, 75)


@register(
    "text_weighted_length_quantiles",
    oracle=f"""
WITH vf AS (
  SELECT lang, CAST(len(string_split(text, ' ')) AS BIGINT) AS v,
         sum(CAST(n_chars AS BIGINT)) AS w
  FROM documents GROUP BY 1, 2
),
cum AS (
  SELECT lang, v, w,
         sum(w) OVER (PARTITION BY lang ORDER BY v) AS cw,
         sum(w) OVER (PARTITION BY lang) AS tw
  FROM vf
),
px AS (SELECT unnest([{", ".join(str(p) for p in WQ_PCTS)}]) AS pct)
SELECT c.lang, CAST(px.pct AS BIGINT) AS pct,
       CAST(min(c.v) AS BIGINT) AS wq_tokens,
       CAST(max(c.tw) AS BIGINT) AS total_weight
FROM cum c, px
WHERE c.cw >= (c.tw * px.pct + 99) // 100
GROUP BY c.lang, px.pct""",
    doc="ClickHouse quantileExactWeighted parity: char-count-weighted "
        "exact token-length quantiles per language. One map-side-"
        "combinable (lang, value) weight rollup, then windows over the "
        "value-frequency table only — the raw corpus is scanned once "
        "and never sorted. Integer rank rule k = ceil(p*W/100) on "
        "cumulative weights; all-integer output.",
)
def q_text_weighted_length_quantiles(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    vf = (docs.select(
            "lang",
            F.size(F.split("text", " ")).cast("long").alias("v"),
            F.col("n_chars").cast("long").alias("w"))
          .groupBy("lang", "v").agg(F.sum("w").alias("w")))
    wcum = (Window.partitionBy("lang").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wall = Window.partitionBy("lang")
    cum = vf.select(
        "lang", "v", "w",
        F.sum("w").over(wcum).alias("cw"),
        F.sum("w").over(wall).alias("tw"))
    pcts = F.explode(F.array(*[F.lit(p) for p in WQ_PCTS])).alias("pct")
    k = F.expr(f"(tw * pct + 99) DIV 100")
    return (cum.select("lang", "v", "cw", "tw", pcts)
            .filter(F.col("cw") >= k)
            .groupBy("lang", F.col("pct").cast("long").alias("pct"))
            .agg(F.min("v").cast("long").alias("wq_tokens"),
                 F.max("tw").cast("long").alias("total_weight")))


# ---------------------------------------------------------------------------
# Cross-document novelty: the fraction of a doc's distinct trigrams
# that are corpus-rare (document frequency <= 2). High novelty = text
# sharing almost no phrasing with the rest of the corpus — the
# gibberish/noise signal quality pipelines pair with the WITHIN-doc
# repetition rules (text_repetition_stats). Same df-index machinery as
# tf-idf, different consumer: a per-doc integer rate + threshold flag
# instead of a per-term score. All compares are integer products.

NOVEL_DF_CAP = 2        # trigram is "rare" when its doc frequency <= 2
NOVEL_NUM = 3           # flag when rare_trigram share > 3/4
NOVEL_DEN = 4


@register(
    "text_novel_trigram_rate",
    oracle=f"""
WITH words AS (
  SELECT doc_id, lang, string_split(text, ' ') AS w FROM documents
  WHERE len(string_split(text, ' ')) >= 3
),
tg AS (
  SELECT doc_id, lang,
         list_distinct(list_transform(range(1, len(w) - 1),
                       i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS tgs
  FROM words
),
posts AS (
  SELECT doc_id, unnest(tgs) AS t FROM tg
),
dfreq AS (
  SELECT t FROM posts GROUP BY t HAVING count(*) <= {NOVEL_DF_CAP}
),
rare_per_doc AS (
  SELECT p.doc_id, count(*) AS n_rare
  FROM posts p JOIN dfreq d ON d.t = p.t
  GROUP BY p.doc_id
),
m AS (
  SELECT tg.doc_id, tg.lang, len(tgs) AS n_tg,
         COALESCE(r.n_rare, 0) AS n_rare
  FROM tg LEFT JOIN rare_per_doc r ON r.doc_id = tg.doc_id
)
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_tg) AS BIGINT) AS sum_trigrams,
       CAST(sum(n_rare) AS BIGINT) AS sum_rare,
       CAST(count(CASE WHEN n_rare * {NOVEL_DEN} > {NOVEL_NUM} * n_tg
                  THEN 1 END) AS BIGINT) AS n_flagged
FROM m GROUP BY lang""",
    doc="Cross-doc novelty rate: share of each doc's distinct trigrams "
        "with corpus df <= 2, flagged when above 3/4 (integer-product "
        "compare), rolled up per lang. The complement of the within-"
        "doc repetition rules — catches text that shares no phrasing "
        "with the corpus. Inverted-index equi-joins only; the df "
        "filter keeps the rare-postings join small.",
)
def q_text_novel_trigram_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # consume the session-persisted trigram-set index (same trigrams as
    # the dedup family: distinct whitespace 3-grams, docs >= 3 words) —
    # three consumers below (df counts, rare join, per-doc totals)
    # would otherwise each recompute the trigram arrays from text
    from .dedup import _persisted_shingle_sets
    docs = load_table(spark, sf_dir, "documents")
    sets = _persisted_shingle_sets(spark, sf_dir)      # doc_id, sh, n
    posts = sets.select("doc_id", F.explode("sh").alias("t"))
    dfreq = posts.groupBy("t").agg(F.count(F.lit(1)).alias("c")) \
                 .filter(F.col("c") <= NOVEL_DF_CAP).select("t")
    rare = (posts.join(dfreq, "t")
            .groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_rare")))
    m = (sets.select("doc_id", F.col("n").alias("n_tg"))
         .join(docs.select("doc_id", "lang"), "doc_id")
         .join(rare, "doc_id", "left")
         .select("lang", "n_tg",
                 F.coalesce(F.col("n_rare"), F.lit(0)).alias("n_rare")))
    return (m.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tg").cast("long").alias("sum_trigrams"),
        F.sum("n_rare").cast("long").alias("sum_rare"),
        F.count(F.when(F.col("n_rare") * NOVEL_DEN
                       > NOVEL_NUM * F.col("n_tg"), 1)).cast("long")
         .alias("n_flagged")))


# ---------------------------------------------------------------------------
# Unigram-LM perplexity proxy: the canonical KenLM-style quality score
# of a training-data pipeline, reduced to its self-contained unigram
# form — per-doc mean negative log2 probability of the doc's tokens
# under the corpus unigram distribution with add-one smoothing:
#
#   bits(doc) = log2(N + V) - (1/n_tokens) * sum_w tf_w * log2(cnt_w+1)
#
# Counts (tf, cnt, N, V) are exact integers; the only floats are log2
# terms, folded per doc in SORTED-TOKEN order on both engines (the
# events_k_entropy recipe) and rounded to 6 decimals, so the score is
# oracle-hash-checkable. (A real KenLM n-gram LM scores with an
# external model file; the unigram form is the piece expressible as a
# pure dataflow and is the standard cheap pre-filter.)

@register(
    "text_unigram_logppl",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM tok WHERE token <> '' GROUP BY doc_id, token
),
cnt AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY token),
tot AS (
  SELECT CAST(sum(cnt) AS BIGINT) AS n, CAST(count(*) AS BIGINT) AS v
  FROM cnt
),
agg AS (
  SELECT t.doc_id,
         CAST(sum(t.tf) AS BIGINT) AS n_tokens,
         list(CAST(t.tf AS DOUBLE) * log2(CAST(c.cnt + 1 AS DOUBLE))
              ORDER BY t.token) AS parts
  FROM tf t JOIN cnt c ON c.token = t.token
  GROUP BY t.doc_id
)
SELECT doc_id, n_tokens,
       round(log2(CAST(tot.n + tot.v AS DOUBLE))
             - list_sum(parts) / CAST(n_tokens AS DOUBLE), 6)
         AS unigram_logppl_bits
FROM agg, tot""",
    doc="Unigram-LM perplexity proxy per document (add-one smoothing): "
        "the KenLM-style quality pre-filter as pure dataflow. Two "
        "combinable aggregations (per-(doc,token) tf, vocab-sized "
        "cnt), one token-keyed equi-join, one per-doc sorted fold — "
        "all counts exact integers, float log2 terms folded in sorted-"
        "token order on both engines and rounded to 6 decimals.",
)
def q_text_unigram_logppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (docs.select("doc_id",
                      F.explode(F.split("text", " ")).alias("token"))
          .filter(F.col("token") != "")
          .groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf")))
    cnt = tf.groupBy("token").agg(F.sum("tf").cast("long").alias("cnt"))
    tot = cnt.agg(F.sum("cnt").cast("long").alias("n"),
                  F.count(F.lit(1)).cast("long").alias("v"))
    agg = (tf.join(cnt, "token")
           .groupBy("doc_id")
           .agg(F.sum("tf").cast("long").alias("n_tokens"),
                F.sort_array(F.collect_list(
                    F.struct("token", "tf", "cnt"))).alias("tcs")))
    fold = F.aggregate(
        F.col("tcs"), F.lit(0.0),
        lambda acc, s: acc + s["tf"].cast("double")
        * F.log2((s["cnt"] + 1).cast("double")))
    return (agg.crossJoin(F.broadcast(tot))
            .select("doc_id", "n_tokens",
                    F.round(F.log2((F.col("n") + F.col("v")).cast("double"))
                            - fold / F.col("n_tokens").cast("double"), 6)
                    .alias("unigram_logppl_bits")))


# ---------------------------------------------------------------------------
# Vocabulary coverage curve: fraction of corpus token OCCURRENCES
# covered by the top-V most frequent tokens, for V in {100, 1k, 10k} —
# the standard tokenizer-budget / OOV-rate diagnostic when sizing a
# vocabulary for a training corpus (the empirical Zipf CDF at three
# budget points). Ties broken (cnt DESC, token ASC) so the curve is
# deterministic.
#
# Scale shape: ONE combinable vocab aggregate; the ranking never sorts
# the full vocabulary — a TakeOrdered(max V = 10k) pulls the head,
# and the row_number window runs over that bounded 10k-row set (single
# partition by construction, explicitly not a full-vocab sort). Totals
# are a second combinable pass. At 100 TB the vocab table is the only
# shuffle and it is ~|distinct tokens| « corpus.

VOCAB_BUDGETS = (100, 1_000, 10_000)


@register(
    "text_vocab_coverage",
    oracle=f"""
WITH tok AS (
  SELECT unnest(string_split(text, ' ')) AS token FROM documents
),
cnt AS (SELECT token, count(*) AS cnt FROM tok
        WHERE token <> '' GROUP BY token),
tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total_tokens,
               CAST(count(*) AS BIGINT) AS vocab_size FROM cnt),
head AS (
  SELECT token, cnt,
         row_number() OVER (ORDER BY cnt DESC, token) AS r
  FROM (SELECT token, cnt FROM cnt
        ORDER BY cnt DESC, token LIMIT {max(VOCAB_BUDGETS)})
),
vs AS (SELECT unnest([{", ".join(str(v) for v in VOCAB_BUDGETS)}]) AS top_v)
SELECT vs.top_v,
       CAST(coalesce(sum(h.cnt) FILTER (h.r <= vs.top_v), 0) AS BIGINT)
         AS covered_tokens,
       tot.total_tokens, tot.vocab_size,
       round(CAST(coalesce(sum(h.cnt) FILTER (h.r <= vs.top_v), 0)
                  AS DOUBLE) / CAST(tot.total_tokens AS DOUBLE), 6)
         AS coverage
FROM vs, head h, tot
GROUP BY vs.top_v, tot.total_tokens, tot.vocab_size""",
    doc="Zipf-CDF vocabulary coverage at three budget points (top-100/"
        "1k/10k tokens): share of corpus token occurrences a V-sized "
        "vocab covers. One combinable vocab aggregate + TakeOrdered "
        "head + a window over the bounded 10k-row head only — the "
        "full vocabulary is never globally sorted.",
)
def q_text_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    docs = load_table(spark, sf_dir, "documents")
    cnt = (docs.select(F.explode(F.split("text", " ")).alias("token"))
           .filter(F.col("token") != "")
           .groupBy("token").agg(F.count(F.lit(1)).alias("cnt")))
    tot = cnt.agg(F.sum("cnt").cast("long").alias("total_tokens"),
                  F.count(F.lit(1)).cast("long").alias("vocab_size"))
    head = (cnt.orderBy(F.col("cnt").desc(), "token")
            .limit(max(VOCAB_BUDGETS))
            .withColumn("r", F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), "token"))))
    vs = (F.explode(F.array(*[F.lit(v) for v in VOCAB_BUDGETS]))
          .alias("top_v"))
    budgets = head.sparkSession.range(1).select(vs)
    return (budgets.crossJoin(head)
            .crossJoin(F.broadcast(tot))
            .groupBy("top_v", "total_tokens", "vocab_size")
            .agg(F.coalesce(F.sum(F.when(F.col("r") <= F.col("top_v"),
                                         F.col("cnt"))), F.lit(0))
                 .cast("long").alias("covered_tokens"))
            .select("top_v", "covered_tokens", "total_tokens",
                    "vocab_size",
                    F.round(F.col("covered_tokens").cast("double")
                            / F.col("total_tokens").cast("double"), 6)
                    .alias("coverage")))


# ---------------------------------------------------------------------------
# BM25 retrieval (Robertson/Sparck-Jones; the Lucene idf variant, which
# is always positive): score documents against a query-term set and
# return the top-10 — the standard lexical-retrieval primitive of a
# corpus pipeline (quality probes, more-like-this mining, eval-set
# retrieval baselines).
#
#   idf(t)     = ln( (N - df + 0.5)/(df + 0.5) + 1 )
#   score(d)   = sum_t idf(t) * tf*(k1+1) / (tf + k1*(1-b + b*dl/avgdl))
#   with k1 = 1.2, b = 0.75.
#
# The query is corpus-derived so the operator is self-contained on any
# corpus: terms ranked BM25_QLO..BM25_QHI by (df DESC, token) — pulled
# via TakeOrdered over the vocabulary-sized df table, never a full
# sort. dl/avgdl is kept exact-rational as (dl*N)/total_tokens (one
# float division); the per-term contributions are folded in
# sorted-token order on both engines (the logppl recipe) and the final
# score rounded to 6 decimals, so the ranking is hash-checkable.
#
# Scale shape: tf and df are the two combinable token aggregates the
# tf-idf family already shuffles; the query table is <=8 rows
# (broadcast), so the corpus is never shuffled on the token key for
# scoring — only the per-doc groupBy; dl joins doc-keyed; the final
# top-10 is TakeOrdered.

BM25_K1 = 1.2
BM25_B = 0.75
BM25_QLO, BM25_QHI = 5, 12     # query = vocab ranks 5..12 by df
BM25_TOPK = 10


@register(
    "text_bm25_topk",
    oracle=f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
),
tf AS (
  SELECT doc_id, token, count(*) AS tf
  FROM tok WHERE token <> '' GROUP BY doc_id, token
),
dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
dfreq AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
tots AS (
  SELECT CAST((SELECT count(*) FROM documents) AS BIGINT) AS n_docs,
         CAST((SELECT sum(dl) FROM dl) AS BIGINT) AS t_tokens
),
q AS (
  SELECT token, df FROM (
    SELECT token, df, row_number() OVER (ORDER BY df DESC, token) AS r
    FROM (SELECT token, df FROM dfreq ORDER BY df DESC, token
          LIMIT {BM25_QHI})
  ) WHERE r BETWEEN {BM25_QLO} AND {BM25_QHI}
),
scored AS (
  SELECT t.doc_id,
         CAST(count(*) AS BIGINT) AS n_terms_matched,
         list(struct_pack(token := t.token, tf := t.tf, df := q.df)
              ORDER BY t.token) AS parts
  FROM tf t JOIN q ON q.token = t.token
  GROUP BY t.doc_id
)
SELECT s.doc_id, s.n_terms_matched, d.dl AS doc_len,
       round(list_sum(list_transform(parts, p ->
           ln((CAST(n_docs AS DOUBLE) - p.df + 0.5) / (p.df + 0.5) + 1.0)
           * (CAST(p.tf AS DOUBLE) * {BM25_K1 + 1})
             / (p.tf + {BM25_K1} * (1.0 - {BM25_B}
                + {BM25_B} * (CAST(d.dl * n_docs AS DOUBLE) / t_tokens)))
       )), 6) AS bm25_score
FROM scored s JOIN dl d ON d.doc_id = s.doc_id, tots
ORDER BY bm25_score DESC, s.doc_id
LIMIT {BM25_TOPK}""",
    doc="BM25 top-10 retrieval (Lucene idf variant, k1=1.2, b=0.75) "
        "for a corpus-derived 8-term query (vocab ranks 5..12 by df). "
        "Combinable tf/df aggregates, broadcast query join, exact-"
        "rational length norm (dl*N)/T, sorted-token fold rounded to "
        "6 decimals, TakeOrdered final ranking.",
)
def q_text_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    tf = (docs.select("doc_id",
                      F.explode(F.split("text", " ")).alias("token"))
          .filter(F.col("token") != "")
          .groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf")))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").cast("long").alias("dl"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    tots = (docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
            .crossJoin(dl.agg(F.sum("dl").cast("long").alias("t_tokens"))))
    q = (dfreq.orderBy(F.col("df").desc(), "token")
         .limit(BM25_QHI)
         .withColumn("r", F.row_number().over(
             Window.orderBy(F.col("df").desc(), "token")))
         .filter((F.col("r") >= BM25_QLO) & (F.col("r") <= BM25_QHI))
         .select("token", "df"))
    scored = (tf.join(F.broadcast(q), "token")
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).cast("long").alias("n_terms_matched"),
                   F.sort_array(F.collect_list(
                       F.struct("token", "tf", "df"))).alias("parts")))
    norm = (F.col("dl") * F.col("n_docs")).cast("double") / F.col("t_tokens")
    fold = F.aggregate(
        F.col("parts"), F.lit(0.0),
        lambda acc, p: acc
        + F.log((F.col("n_docs").cast("double") - p["df"] + 0.5)
                / (p["df"] + 0.5) + 1.0)
        * (p["tf"].cast("double") * (BM25_K1 + 1))
        / (p["tf"] + BM25_K1 * (1.0 - BM25_B + BM25_B * norm)))
    return (scored.join(dl, "doc_id")
            .crossJoin(F.broadcast(tots))
            .select("doc_id", "n_terms_matched",
                    F.col("dl").alias("doc_len"),
                    F.round(fold, 6).alias("bm25_score"))
            .orderBy(F.col("bm25_score").desc(), "doc_id")
            .limit(BM25_TOPK))


# ---------------------------------------------------------------------------
# BPE pair counting — the inner loop of tokenizer training (Sennrich et
# al. 2016, arXiv:1508.07909): count adjacent symbol pairs over the
# whitespace-pretokenized corpus; the most frequent pair becomes the
# next merge. This is THE aggregation a 100 TB tokenizer-training run
# repeats per merge, and its scale shape is the point: the corpus
# collapses to DISTINCT words with frequencies FIRST (map-side
# combinable; the pair explosion then runs over the vocabulary, which
# grows ~Heaps-law sublinearly, never over corpus tokens), and the
# shuffle carries one row per distinct pair. Overlapping occurrences
# ("aaa" -> two "aa") count per position, the standard counting rule
# before merge conflicts are resolved.

BPE_TOPK = 20

# shared CTE: full (pair, pair_count) table — consumed by the batch
# top-k oracle and verbatim by the streaming rollup façade's oracle
BPE_PAIRS_SQL = """
words AS (
  SELECT word, count(*) AS freq FROM (
    SELECT unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE length(word) >= 2 GROUP BY word
),
bpe_pairs AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count FROM (
    SELECT unnest(list_transform(range(1, length(word)),
                  i -> substr(word, CAST(i AS INT), 2))) AS pair,
           freq
    FROM words)
  GROUP BY pair
)"""


def bpe_pair_counts(batch: DataFrame) -> DataFrame:
    """Full (pair, pair_count) table for a document frame — the batch
    aggregate AND the streaming rollup's per-batch partial (pair counts
    are additive, so replayed epochs merge to exactly this)."""
    words = (batch.select(F.explode(F.split("text", " ")).alias("word"))
             .filter(F.length("word") >= 2)
             .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))
    pairs = words.select(
        F.explode(F.expr(
            "transform(sequence(1, length(word) - 1), "
            "i -> substring(word, i, 2))")).alias("pair"),
        "freq")
    return (pairs.groupBy("pair")
            .agg(F.sum("freq").cast("long").alias("pair_count")))


@register(
    "text_bpe_pair_counts",
    oracle=f"""
WITH {BPE_PAIRS_SQL.strip()}
SELECT CAST(row_number() OVER (ORDER BY pair_count DESC, pair) AS BIGINT)
         AS rank,
       pair, pair_count
FROM bpe_pairs
ORDER BY pair_count DESC, pair
LIMIT {BPE_TOPK}""",
    doc="BPE tokenizer-training pair counts (Sennrich 2016): adjacent "
        "character pairs over whitespace-pretokenized words, weighted "
        "by word frequency — the top pair is the next BPE merge. "
        "Corpus collapses to distinct words first (vocabulary-sized "
        "pair explosion, never corpus-sized), TakeOrdered top-k, "
        "bounded rank window over k rows.",
)
def q_text_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    counts = bpe_pair_counts(docs)
    top = counts.orderBy(F.col("pair_count").desc(), "pair").limit(BPE_TOPK)
    w = Window.orderBy(F.col("pair_count").desc(), "pair")
    return (top.withColumn("rank", F.row_number().over(w).cast("long"))
            .select("rank", "pair", "pair_count"))


# ---------------------------------------------------------------------------
# BPE merge TRAINING loop (Sennrich et al. 2016, arXiv:1508.07909,
# algorithm 1): not just one round of pair counts but the actual
# iteration — count weighted adjacent symbol pairs over the vocabulary,
# take the argmax as the next merge, APPLY it to every word, repeat.
# Symbols are multi-character after the first merge, so words carry a
# FRAMED representation: every symbol s is stored as <US>s<US> (US =
# chr(31), absent from the corpus), i.e. "hello" starts as
# "\x1fh\x1f\x1fe\x1f\x1fl\x1f\x1fl\x1f\x1fo\x1f". Under this framing,
# one leftmost non-overlapping string replace of <US>x<US><US>y<US> ->
# <US>xy<US> is EXACTLY BPE's greedy left-to-right merge of the pair
# (x, y): occurrences never share characters (each consumes its own
# frames), so "a a a" merges to "aa a" and "x y x y" to "xy xy" — the
# same result as the classic fold, which tests/test_bpe_reference.py
# pins against an independent pure-Python BPE implementation (the
# third-reference discipline for every oracle of this shape).
#
# Scale shape per round: the corpus collapsed to DISTINCT words once
# (map-side combinable, Heaps-sublinear vocabulary), each round is one
# vocabulary-sized pair aggregation + a 1-row broadcast of the argmax
# into the merge projection — no corpus-sized shuffle anywhere, and
# the round count is the (fixed) number of merges being trained.

BPE_MERGE_ROUNDS = 3
_US = "\x1f"


def _framed_vocab(docs: DataFrame) -> DataFrame:
    """(word, w framed, freq) over distinct words of length >= 2 — the
    same corpus collapse as bpe_pair_counts; the raw word rides along
    as the join key for corpus encoding."""
    words = (docs.select(F.explode(F.split("text", " ")).alias("word"))
             .filter(F.length("word") >= 2)
             .groupBy("word").agg(F.count(F.lit(1)).alias("freq")))
    return words.select(
        "word",
        F.regexp_replace("word", "(.)", f"{_US}$1{_US}").alias("w"), "freq")


# one persisted round-0 framed vocabulary per (session, sf_dir): both
# BPE queries (train and encode) hang every merge round off this frame,
# and its BUILD is the only corpus-sized pass in the family. Persisting
# it per INVOCATION (ADVICE r6) pinned a fresh duplicate copy in the
# block manager on every warm bench call / multi-scale sweep; the memo
# makes it the same build-once-read-many cache as the shingle index,
# evicted by caches.clear_plan_caches.
_VOCAB_CACHE: dict[tuple[str, str], DataFrame] = PlanCache()


def _persisted_framed_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _VOCAB_CACHE:
        _VOCAB_CACHE[key] = _framed_vocab(
            load_table(spark, sf_dir, "documents")
        ).persist(StorageLevel.MEMORY_AND_DISK)
    return _VOCAB_CACHE[key]


def _bpe_round_top(vocab: DataFrame) -> DataFrame:
    """1-row (x, y, pair_count): the weighted argmax adjacent pair,
    ties broken by ascending pair key on both engines."""
    toks = F.split(F.btrim(F.col("w"), F.lit(_US)), _US + _US)
    # guard the single-symbol case (a word fully merged into one
    # token): Spark's sequence(1, 0) infers step -1 and yields [1, 0]
    # instead of an empty array — DuckDB's range(1, 1) is empty
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 1),
            lambda i: F.concat(F.element_at(toks, i), F.lit(_US),
                               F.element_at(toks, i + 1)))
    ).otherwise(F.array().cast("array<string>"))
    counted = (vocab.select(F.explode(pairs).alias("pair"), "freq")
               .groupBy("pair")
               .agg(F.sum("freq").cast("long").alias("pair_count")))
    return (counted.orderBy(F.col("pair_count").desc(), "pair").limit(1)
            .select(F.split_part("pair", F.lit(_US), F.lit(1)).alias("x"),
                    F.split_part("pair", F.lit(_US), F.lit(2)).alias("y"),
                    "pair_count"))


def _bpe_apply(vocab: DataFrame, top: DataFrame) -> DataFrame:
    """Merge the round's pair in every word: one broadcast of the 1-row
    argmax into a leftmost non-overlapping replace."""
    pat = F.concat(F.lit(_US), F.col("x"), F.lit(_US + _US),
                   F.col("y"), F.lit(_US))
    rep = F.concat(F.lit(_US), F.col("x"), F.col("y"), F.lit(_US))
    return (vocab.crossJoin(F.broadcast(top))
            .select("word", F.replace(F.col("w"), pat, rep).alias("w"),
                    "freq"))


def _bpe_cte_chain(rounds: int = BPE_MERGE_ROUNDS,
                   through_final: bool = False) -> list[str]:
    """The shared DuckDB CTE chain of the merge-training loop: framed
    vocabulary v0, then per round r the pair counts p{r}, argmax t{r},
    and merged vocabulary v{r} (the final v{rounds} only when
    ``through_final`` — the encode oracle needs it, the train oracle
    stops at the last argmax)."""
    us = "chr(31)"
    toks = f"string_split(trim(w, {us}), {us} || {us})"
    pairs = (f"list_transform(range(1, len({toks})), "
             f"i -> {toks}[i] || {us} || {toks}[i + 1])")
    parts = [f"""v0 AS (
  SELECT word, regexp_replace(word, '(.)', {us} || '\\1' || {us}, 'g') AS w,
         freq
  FROM (
    SELECT word, count(*) AS freq FROM (
      SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE length(word) >= 2 GROUP BY word)
)"""]
    for r in range(1, rounds + 1):
        parts.append(f"""p{r} AS (
  SELECT pair, CAST(sum(freq) AS BIGINT) AS pair_count
  FROM (SELECT unnest({pairs}) AS pair, freq FROM v{r - 1})
  GROUP BY pair
), t{r} AS (
  SELECT split_part(pair, {us}, 1) AS x, split_part(pair, {us}, 2) AS y,
         pair_count
  FROM p{r} ORDER BY pair_count DESC, pair LIMIT 1
)""")
        if r < rounds or through_final:
            parts.append(f"""v{r} AS (
  SELECT word,
         replace(w, (SELECT {us} || x || {us} || {us} || y || {us} FROM t{r}),
                    (SELECT {us} || x || y || {us} FROM t{r})) AS w, freq
  FROM v{r - 1}
)""")
    return parts


def _bpe_train_oracle(rounds: int = BPE_MERGE_ROUNDS) -> str:
    selects = "\nUNION ALL\n".join(
        f"SELECT CAST({r} AS BIGINT) AS round, x AS merge_left, "
        f"y AS merge_right, pair_count FROM t{r}"
        for r in range(1, rounds + 1))
    return "WITH " + ",\n".join(_bpe_cte_chain(rounds)) + "\n" + selects


@register(
    "text_bpe_train_merges",
    memo_plan=True,   # pure lazy construction (see registry._PLAN_MEMO)
    oracle=_bpe_train_oracle(),
    doc="The BPE tokenizer-training LOOP (Sennrich 2016, alg. 1): "
        f"{BPE_MERGE_ROUNDS} rounds of weighted argmax adjacent-pair "
        "selection, each merge APPLIED to the whole vocabulary before "
        "the next count — multi-character symbols, deterministic "
        "tie-break, emitted as the learned merge table (round, left, "
        "right, count). Framed-string replace == greedy BPE merge "
        "(see module comment; pinned against an independent Python "
        "BPE in tests/test_bpe_reference.py). Per round: one "
        "vocabulary-sized combinable aggregation + a 1-row broadcast "
        "argmax into the merge projection.",
)
def q_text_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # session-persisted round-0 vocabulary: its BUILD is the only
    # corpus-sized pass (explode + groupBy word); every round's argmax
    # broadcast subtree re-executes its lineage otherwise, turning 3
    # rounds into ~6 corpus collapses. The frame itself is
    # vocabulary-sized (Heaps-sublinear), so pinning it is the same
    # trade every session cache in this module makes.
    vocab = _persisted_framed_vocab(spark, sf_dir)
    outs = []
    for r in range(1, BPE_MERGE_ROUNDS + 1):
        top = _bpe_round_top(vocab)
        outs.append(top.select(
            F.lit(r).cast("long").alias("round"),
            F.col("x").alias("merge_left"),
            F.col("y").alias("merge_right"), "pair_count"))
        if r < BPE_MERGE_ROUNDS:
            vocab = _bpe_apply(vocab, top)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


def _bpe_encode_oracle(rounds: int = BPE_MERGE_ROUNDS) -> str:
    us = "chr(31)"
    parts = _bpe_cte_chain(rounds, through_final=True)
    parts.append(f"""enc AS (
  SELECT word,
         CAST(len(string_split(trim(w, {us}), {us} || {us})) AS BIGINT)
           AS toks
  FROM v{rounds}
)""")
    parts.append("""sw AS (
  SELECT source, word, count(*) AS n_occ FROM (
    SELECT source, unnest(string_split(text, ' ')) AS word FROM documents)
  WHERE length(word) >= 2 GROUP BY source, word
)""")
    return ("WITH " + ",\n".join(parts) + """
SELECT sw.source,
       CAST(sum(sw.n_occ) AS BIGINT) AS n_words,
       CAST(sum(sw.n_occ * length(sw.word)) AS BIGINT) AS n_chars,
       CAST(sum(sw.n_occ * enc.toks) AS BIGINT) AS bpe_tokens,
       CAST(sum(sw.n_occ * length(sw.word)) AS DOUBLE)
         / sum(sw.n_occ * enc.toks) AS chars_per_token
FROM sw JOIN enc ON sw.word = enc.word
GROUP BY sw.source""")


@register(
    "text_bpe_encode_corpus",
    memo_plan=True,   # pure lazy construction (see registry._PLAN_MEMO)
    oracle=_bpe_encode_oracle(),
    doc="Apply the trained BPE merges to the corpus — the encode half "
        "of tokenizer training: the same merge loop runs to completion "
        "on the vocabulary (including the final merge application), "
        "each distinct word's encoded token count is computed ONCE, "
        "and the corpus joins against that encoding table — per-source "
        "word/char/BPE-token totals and the resulting chars-per-token "
        "compression. Encoding work is vocabulary-sized; the corpus "
        "contributes one (source, word) aggregation and an equi-join, "
        "never per-occurrence re-encoding — exactly how a 100 TB "
        "token-count forecast under a candidate tokenizer is done.",
)
def q_text_bpe_encode_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    vocab = _persisted_framed_vocab(spark, sf_dir)
    for _ in range(BPE_MERGE_ROUNDS):
        vocab = _bpe_apply(vocab, _bpe_round_top(vocab))
    toks = F.split(F.btrim(F.col("w"), F.lit(_US)), _US + _US)
    enc = vocab.select("word", F.size(toks).cast("long").alias("toks"))
    sw = (docs.select("source",
                      F.explode(F.split("text", " ")).alias("word"))
          .filter(F.length("word") >= 2)
          .groupBy("source", "word")
          .agg(F.count(F.lit(1)).alias("n_occ")))
    return (sw.join(enc, "word")
            .groupBy("source")
            .agg(F.sum("n_occ").cast("long").alias("n_words"),
                 F.sum(F.col("n_occ") * F.length("word")).cast("long")
                 .alias("n_chars"),
                 F.sum(F.col("n_occ") * F.col("toks")).cast("long")
                 .alias("bpe_tokens"))
            .select("source", "n_words", "n_chars", "bpe_tokens",
                    (F.col("n_chars").cast("double") / F.col("bpe_tokens"))
                    .alias("chars_per_token")))


# ---------------------------------------------------------------------------
# Robust per-source quality calibration: median/MAD z-scores. Mean/std
# thresholds break on the skewed, outlier-heavy quality distributions
# real corpora have (one boilerplate-spam domain drags the mean);
# median + median-absolute-deviation is the standard robust alternative
# (Hampel filter), and per-SOURCE calibration is how production
# curation sets per-domain filtering thresholds instead of one global
# cutoff. Exact medians on both engines (Spark median() == DuckDB
# median(), interpolated identically on even counts — verified to 0.0
# divergence at the gated scale), so the whole calibration is
# hash-checkable. Scale shape: two combinable per-source aggregations
# plus two broadcast joins of the n_sources-row stats frame — the
# corpus is scanned twice and never shuffled on a wide key.

MAD_K = 3.0        # Hampel threshold: |q - median| > 3 * MAD


def _quality_expr() -> Column:
    words = F.split("text", " ")
    n_tokens = F.size(words)
    avg_tok = (F.length("text") - n_tokens + 1) / n_tokens
    return (0.5 * F.least(n_tokens, F.lit(200)) / 200.0
            + 0.3 * F.when(avg_tok.between(3, 10), 1.0).otherwise(0.0)
            + 0.2 * (F.size(F.array_distinct(words)) / n_tokens))


_QUALITY_SQL = """
  0.5 * (CASE WHEN t < 200 THEN t ELSE 200 END) / 200.0
  + 0.3 * (CASE WHEN (c - t + 1) / t BETWEEN 3 AND 10 THEN 1.0 ELSE 0.0 END)
  + 0.2 * (d / t)"""


@register(
    "text_quality_robust_calibration",
    oracle=f"""
WITH b AS (
  SELECT source, length(text) AS c, len(string_split(text, ' ')) AS t,
         len(list_distinct(string_split(text, ' '))) AS d
  FROM documents
), m AS (
  SELECT source, {_QUALITY_SQL} AS q FROM b
), med AS (
  SELECT source, median(q) AS median_q FROM m GROUP BY source
), dev AS (
  SELECT m.source, abs(q - median_q) AS dev, median_q
  FROM m JOIN med ON m.source = med.source
), mad AS (
  SELECT source, median(dev) AS mad_q FROM dev GROUP BY source
)
SELECT dev.source,
       CAST(count(*) AS BIGINT) AS n_docs,
       min(dev.median_q) AS median_q,
       min(mad.mad_q) AS mad_q,
       CAST(sum(CASE WHEN dev.dev > {MAD_K} * mad.mad_q
                THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
FROM dev JOIN mad ON dev.source = mad.source
GROUP BY dev.source""",
    doc="Robust per-source quality calibration (Hampel filter): exact "
        "median and MAD of the composite quality score per source, "
        "plus the count of |q - median| > 3*MAD outliers — the "
        "per-domain threshold-setting pass a curation pipeline runs "
        "instead of one global cutoff. Two combinable aggregations + "
        "two broadcast stats joins; medians are engine-exact.",
)
def q_text_quality_robust_calibration(spark: SparkSession,
                                      sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select("source", _quality_expr().alias("q"))
    med = per_doc.groupBy("source").agg(F.median("q").alias("median_q"))
    dev = (per_doc.join(F.broadcast(med), "source")
           .select("source", F.abs(F.col("q") - F.col("median_q"))
                   .alias("dev"), "median_q"))
    mad = dev.groupBy("source").agg(F.median("dev").alias("mad_q"))
    return (dev.join(F.broadcast(mad), "source")
            .groupBy("source")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 F.min("median_q").alias("median_q"),
                 F.min("mad_q").alias("mad_q"),
                 F.sum((F.col("dev") > MAD_K * F.col("mad_q"))
                       .cast("long")).cast("long").alias("n_outliers")))
