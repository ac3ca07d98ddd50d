"""Streaming benchmark-contamination monitoring: the online form of
``operators/contamination.py::q_contamination_ngram_overlap`` (same
epoch-partitioned persisted-index pattern as ``streaming/neardup.py``).

A training pipeline doesn't contamination-check once — new corpus
shards AND new benchmark documents keep arriving, and each arrival must
be checked against everything already ingested without rescanning the
corpus. Two epoch-partitioned parquet stores:

  train_index/epoch=N/   (doc_id, h)         train-doc shingle hashes
  eval_index/epoch=N/    (doc_id, h, n)      eval-doc hashes + set size

Per micro-batch N:

  1. shingle the batch (the shared linear index path),
  2. collisions = batch-train × (prior eval ∪ batch eval)
               ∪ batch-eval × prior train
     — both equi-joins on the md5 key; a (train, eval) pair collides in
     exactly ONE epoch (the epoch its later member arrives), because a
     document's full shingle set arrives in one batch,
  3. per-pair overlap vs the eval doc's total shingle count; flagged
     pairs land in flags/epoch=N (overwrite → replay-idempotent, and
     the index reads prune to epochs < N, so a replayed batch sees
     exactly the index it saw the first time).

The union of all epochs equals the batch operator's answer over the
union of all batches (tests/test_streaming_contamination.py), and each
flagged pair is emitted exactly once.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from ..operators.contamination import (CONTAM_THRESHOLD,
                                       doc_shingle_hashes_df)
from ..schemas import DOCUMENTS
from .maintainer import read_epochs, write_epoch

TRAIN_DIR = "train_index"
EVAL_DIR = "eval_index"
FLAGS_DIR = "flags"


def _flag_pairs(train: DataFrame, ev: DataFrame) -> DataFrame:
    """(train_doc, eval_doc, common, n, overlap >= threshold) from a
    train-side (doc_id, h) frame and an eval-side (doc_id, h, n)."""
    pairs = (train.select(F.col("doc_id").alias("train_doc"), "h")
             .join(ev.select(F.col("doc_id").alias("eval_doc"), "h"), "h")
             .groupBy("train_doc", "eval_doc")
             .agg(F.count(F.lit(1)).alias("common")))
    totals = ev.select(F.col("doc_id").alias("eval_doc"), "n").distinct()
    overlap = F.col("common") / F.col("n")
    return (pairs.join(totals, "eval_doc")
            .select("train_doc", "eval_doc",
                    F.col("common").cast("long").alias("common_shingles"),
                    F.col("n").cast("long").alias("n_eval_shingles"),
                    overlap.alias("overlap"))
            .filter(F.col("overlap") >= CONTAM_THRESHOLD))


def process_batch(spark: SparkSession, batch: DataFrame, root: str,
                  epoch_id: int) -> None:
    sh = doc_shingle_hashes_df(batch).persist()
    try:
        train = sh.filter(~F.col("is_eval")).select("doc_id", "h")
        ev = (sh.filter(F.col("is_eval")).select("doc_id", "h")
              .withColumn("n", F.count(F.lit(1))
                          .over(Window.partitionBy("doc_id"))))
        prior_train = read_epochs(spark, os.path.join(root, TRAIN_DIR),
                                  epoch_id)
        prior_eval = read_epochs(spark, os.path.join(root, EVAL_DIR),
                                 epoch_id)

        all_eval = ev if prior_eval is None else ev.unionByName(prior_eval)
        flags = _flag_pairs(train, all_eval)
        if prior_train is not None:
            flags = flags.unionByName(_flag_pairs(prior_train, ev))

        write_epoch(flags, os.path.join(root, FLAGS_DIR), epoch_id)
        write_epoch(train, os.path.join(root, TRAIN_DIR), epoch_id)
        write_epoch(ev, os.path.join(root, EVAL_DIR), epoch_id)
    finally:
        sh.unpersist()


def run_contamination_stream(spark: SparkSession, docs_dir: str,
                             store_root: str, available_now: bool = True):
    """Tail a documents directory and maintain the flagged-pair store.
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


def read_flags(spark: SparkSession, store_root: str) -> DataFrame:
    """All contamination flags found so far (each pair once)."""
    return (spark.read.parquet(os.path.join(store_root, FLAGS_DIR))
            .drop("epoch"))
