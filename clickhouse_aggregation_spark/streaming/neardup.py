"""Streaming near-duplicate detection: incremental MinHash-LSH over a
document stream (beyond-reference; the incremental form of
``operators/dedup.py::q_dedup_minhash_lsh``).

The batch operator answers "which pairs in this corpus are near-dups";
a training-data pipeline also needs the ONLINE form — as documents
arrive, find their near-dups against everything already ingested
without rescanning the corpus. This maintainer keeps two epoch-
partitioned parquet stores (the persisted LSH index):

  band_index/epoch=N/   (doc_id, band_id, band_key)
  doc_sets/epoch=N/     (doc_id, sh array<string>, n)

and per micro-batch:

  1. shingle-sets + band keys for the batch (narrow, per-row — the
     same linear signature path as the batch operator),
  2. candidates = in-batch bucket collisions  UNION  batch-vs-index
     equi-join on (band_id, band_key) — the index read prunes to
     epochs < current (partition pruning on the epoch directory),
  3. exact-Jaccard verification of candidates only, against the stored
     shingle sets,
  4. dup pairs and the batch's index rows land in epoch=N directories
     (overwrite): replays of an epoch are idempotent, and because the
     index read excludes epochs >= N, a replayed batch joins against
     exactly the index it saw the first time.

Every unordered pair is emitted exactly once — when its LATER document
arrives — so the union of all epochs equals the batch operator's
answer over the union of all batches (tests/test_streaming_neardup.py
asserts equality).

At scale: state grows as the corpus (that is inherent — it IS the
index); each batch's work is ∝ batch size + collisions, never ∝ corpus
size, and the index joins are equi-joins on 16-byte band keys.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.dedup import (JACCARD_THRESHOLD, doc_shingle_sets,
                               minhash_band_keys)
from ..schemas import DOCUMENTS
from .maintainer import read_epochs, write_epoch

BAND_DIR = "band_index"
SETS_DIR = "doc_sets"
PAIRS_DIR = "dup_pairs"


def _canon(pairs: DataFrame) -> DataFrame:
    return pairs.select(
        F.least("doc_a", "doc_b").alias("doc_a"),
        F.greatest("doc_a", "doc_b").alias("doc_b"))


def process_batch(spark: SparkSession, batch: DataFrame, root: str,
                  epoch_id: int) -> None:
    sets = doc_shingle_sets(batch).persist()
    bk = minhash_band_keys(sets).persist()
    try:
        # in-batch candidates: bucket collisions within this batch
        in_batch = (
            bk.groupBy("band_id", "band_key")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
            .filter(F.size("ids") > 1)
            .select(F.explode(F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids) - i - 1), "
                "y -> struct(x AS doc_a, y AS doc_b))))")).alias("p"))
            .select("p.doc_a", "p.doc_b"))

        prior_bk = read_epochs(spark, os.path.join(root, BAND_DIR), epoch_id)
        prior_sets = read_epochs(spark, os.path.join(root, SETS_DIR), epoch_id)
        cand = _canon(in_batch)
        all_sets = sets
        if prior_bk is not None:
            cross = (bk.alias("new")
                     .join(prior_bk.alias("old"), ["band_id", "band_key"])
                     .select(F.col("new.doc_id").alias("doc_a"),
                             F.col("old.doc_id").alias("doc_b"))
                     .filter(F.col("doc_a") != F.col("doc_b")))
            cand = cand.unionByName(_canon(cross))
            all_sets = sets.unionByName(prior_sets)
        cand = cand.distinct()

        sa, sb = all_sets.alias("sa"), all_sets.alias("sb")
        left = (sa.join(cand, F.col("doc_a") == F.col("sa.doc_id"))
                .select("doc_a", "doc_b", F.col("sa.sh").alias("sh_a"),
                        F.col("sa.n").alias("n_a")))
        common = F.size(F.array_intersect(F.col("sh_a"), F.col("sb.sh")))
        jaccard = common / (F.col("n_a") + F.col("sb.n") - common)
        pairs = (sb.join(left, F.col("doc_b") == F.col("sb.doc_id"))
                 .select("doc_a", "doc_b", jaccard.alias("jaccard"))
                 .filter(F.col("jaccard") >= JACCARD_THRESHOLD))

        write_epoch(pairs, os.path.join(root, PAIRS_DIR), epoch_id)
        write_epoch(bk, os.path.join(root, BAND_DIR), epoch_id)
        write_epoch(sets, os.path.join(root, SETS_DIR), epoch_id)
    finally:
        sets.unpersist()
        bk.unpersist()


def run_neardup_stream(spark: SparkSession, docs_dir: str, store_root: str,
                       available_now: bool = True):
    """Tail a documents directory and maintain the dup-pair store.
    One file per micro-batch, so arrival order defines "later"."""
    checkpoint = os.path.join(store_root, "_checkpoint")
    stream = (spark.readStream.schema(DOCUMENTS)
              .option("maxFilesPerTrigger", 1).parquet(docs_dir))
    writer = (stream.writeStream
              .foreachBatch(lambda b, e: process_batch(spark, b,
                                                       store_root, e))
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_dup_pairs(spark: SparkSession, store_root: str) -> DataFrame:
    """All near-dup pairs found so far (each unordered pair once)."""
    return (spark.read.parquet(os.path.join(store_root, PAIRS_DIR))
            .drop("epoch"))
