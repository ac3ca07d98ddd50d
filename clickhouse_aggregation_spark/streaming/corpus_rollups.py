"""Incrementally-maintained corpus rollups: the SummingMergeTree-style
maintainer machinery (``maintainer.IncrementalRollup``) applied to a
DOCUMENT stream — per-source token accounting and a live vocabulary.

This is the streaming half of the training-data pipeline surface: as
corpus shards land, the pipeline needs running token budgets per source
(`text_token_count`'s online twin) and an up-to-date token frequency
table (`text_vocab_topk`'s online twin — the tokenizer-training input).
Both are additive counters, so the exact same partial-append +
lazy-merge + compact machinery the reference MVs use applies unchanged;
state lives in the rollup store, not executor memory, and each batch
contributes one rollup-sized parquet append.

Invariant (tests/test_corpus_rollups.py): replaying the corpus in
chunks and reading the rollup equals the batch recompute over the full
corpus — for the vocabulary, equality holds over the ENTIRE frequency
table, not just the top-k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.multimodal import media_stats_partial
from ..operators.text import BPE_ISH_PATTERN, bpe_pair_counts
from ..schemas import DOCUMENTS
from .maintainer import IncrementalRollup, run_rollup_stream


def _source_tokens_partial(batch: DataFrame) -> DataFrame:
    return (
        batch.groupBy("source")
        .agg(F.sum(F.size(F.split("text", " "))).alias("ws_tokens"),
             F.sum(F.regexp_count("text", F.lit(BPE_ISH_PATTERN)))
              .alias("bpe_ish_tokens"),
             F.sum(F.length("text")).alias("total_chars"),
             F.count(F.lit(1)).alias("n_docs"))
    )


def _vocab_partial(batch: DataFrame) -> DataFrame:
    return (
        batch.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token").agg(F.count(F.lit(1)).alias("freq"))
    )


def _quality_partial(batch: DataFrame) -> DataFrame:
    """Per-source quality envelope (the drift monitor): min/max of the
    composite quality score plus doc counts. min/max are mergeable but
    NOT additive — merge_exprs below carry them with min()/max() while
    counts still sum (same mechanism as the HLL sketch rollup)."""
    words = F.split("text", " ")
    n_tokens = F.size(words)
    n_chars = F.length("text")
    avg_tok = (n_chars - n_tokens + 1) / n_tokens
    quality = (
        0.5 * F.least(n_tokens, F.lit(200)) / 200.0
        + 0.3 * F.when(avg_tok.between(3, 10), 1.0).otherwise(0.0)
        + 0.2 * (F.size(F.array_distinct(words)) / n_tokens)
    )
    return (batch.select("source", quality.alias("_q"))
            .groupBy("source")
            .agg(F.min("_q").alias("min_quality"),
                 F.max("_q").alias("max_quality"),
                 F.count(F.lit(1)).alias("n_docs")))


CORPUS_ROLLUPS: tuple[IncrementalRollup, ...] = (
    IncrementalRollup("source_tokens", ("source",),
                      ("ws_tokens", "bpe_ish_tokens", "total_chars",
                       "n_docs"), _source_tokens_partial, DOCUMENTS),
    IncrementalRollup("vocab", ("token",), ("freq",), _vocab_partial,
                      DOCUMENTS),
    # live BPE pair counts (operators/text.bpe_pair_counts — the SAME
    # aggregate as the batch operator, so replay ≡ recompute is exact):
    # the tokenizer-training input stays current as shards land, without
    # ever re-scanning the corpus for the next merge round
    IncrementalRollup("bpe_pairs", ("pair",), ("pair_count",),
                      bpe_pair_counts, DOCUMENTS),
    IncrementalRollup(
        "quality_envelope", ("source",),
        ("min_quality", "max_quality", "n_docs"), _quality_partial,
        DOCUMENTS,
        merge_exprs=("min(min_quality) AS min_quality",
                     "max(max_quality) AS max_quality",
                     "sum(n_docs) AS n_docs")),
    # live per-kind media decode accounting: each arriving shard's
    # media bytes go through the REAL decode stage
    # (operators/multimodal.decode_media) and contribute one additive
    # per-kind partial — the running byte/pixel/sample ledger a
    # multimodal ingest pipeline keeps without ever re-decoding old
    # shards
    IncrementalRollup("media_stats", ("kind",),
                      ("n_items", "total_bytes", "px_sum", "amp_sum"),
                      media_stats_partial, DOCUMENTS),
)


def run_corpus_rollup_stream(spark: SparkSession, docs_dir: str,
                             store_root: str, available_now: bool = True):
    """Tail a documents directory and maintain the corpus rollups."""
    return run_rollup_stream(spark, docs_dir, store_root, CORPUS_ROLLUPS,
                             available_now)
