"""Streaming ANN index maintenance: incremental IVF-Flat cell
assignment over an embedding stream (the index-build side of
``operators/similarity.py::similarity_ivf_topk``, made continuous).

Production shape: a trained ANN index ingests new vectors as they
arrive (fresh crawl shards, new model outputs) WITHOUT rebuilding —
the coarse quantizer (centroids) is fixed at index-creation time and
each arriving shard is assigned to cells independently. That is
exactly what makes the maintainer trivial to make exactly-once: cell
assignment is a pure per-row function of (vector, centroids), so
epochs never interact and union-of-epochs ≡ the batch index by
construction. The interesting guarantees are operational and checked
by tests + the driver façade:

  * the persisted store is epoch-partitioned parquet
    (``cell_index/epoch=N/`` holding vec_id, centroid_id, qv, norm2)
    — replayed batches overwrite their own epoch (idempotent restart),
  * SEARCH against the incrementally-built store returns exactly what
    search against the batch-built index returns (the façade
    ``streaming_ivf_search_epochs`` hash-checks this against the batch
    operator's DuckDB oracle),
  * centroids are read once from the index-config location, never
    refit mid-stream (refitting is the separate offline
    ``similarity_ivf_kmeans_refine`` job, after which a full reindex
    runs — the standard FAISS operational split).

At 100 TB: per-batch work is |batch| × K centroid distances collapsed
map-side by the min_by partial aggregate; the store grows as the
corpus (it IS the index) and search prunes on the cell key as usual.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.similarity import (N_CENTROIDS, int_dot, int_norm2,
                                    quantize)
from ..schemas import EMBEDDINGS
from .maintainer import write_epoch

CELLS_DIR = "cell_index"


def _centroids(spark: SparkSession, vecs_dir: str) -> DataFrame:
    """The fixed coarse quantizer: same rule as the batch index build
    (first N_CENTROIDS vec_ids), read from the index-config source."""
    emb = spark.read.schema(EMBEDDINGS).parquet(vecs_dir)
    q = emb.filter(F.col("vec_id") < N_CENTROIDS) \
           .select(F.col("vec_id").alias("centroid_id"),
                   quantize(F.col("embedding")).alias("c_qv"))
    return q.withColumn("c_norm2", int_norm2(F.col("c_qv")))


def load_centroids_once(spark: SparkSession, vecs_dir: str) -> DataFrame:
    """Materialize the coarse quantizer ONCE, at stream start.

    The quantizer is part of the index *configuration*: re-reading it
    from the (still-arriving) streaming source per micro-batch would
    let an early batch join a PARTIAL centroid set — and since epochs
    are never revisited, those cell assignments would be permanently
    wrong, breaking union-of-epochs ≡ batch-index. So the rows are
    collected here (K is small by construction — it IS the broadcast
    side of every assignment join), the count is asserted to be the
    full N_CENTROIDS, and every micro-batch closes over this frozen
    local copy.
    """
    rows = _centroids(spark, vecs_dir).collect()
    if len(rows) != N_CENTROIDS:
        raise RuntimeError(
            f"coarse quantizer incomplete: expected {N_CENTROIDS} "
            f"centroids in {vecs_dir}, found {len(rows)} — refusing to "
            "start the index maintainer against a partial quantizer")
    schema = "centroid_id bigint, c_qv array<bigint>, c_norm2 bigint"
    return spark.createDataFrame(rows, schema=schema)


def assign_cells(batch: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, centroid_id, qv, norm2): nearest-cell assignment via
    the min_by aggregation (map-side combinable; no window over the
    K-times expansion), identical to the batch operator's rule
    including the (dist, centroid_id) tie-break."""
    n = batch.select("vec_id", quantize(F.col("embedding")).alias("qv"))
    n = n.withColumn("norm2", int_norm2(F.col("qv")))
    dist = (F.col("norm2") + F.col("c_norm2")
            - 2 * int_dot(F.col("qv"), F.col("c_qv")))
    return (
        n.join(F.broadcast(cents))
        .select("vec_id", "qv", "norm2", "centroid_id", dist.alias("dist"))
        .groupBy("vec_id")
        .agg(F.min_by("centroid_id",
                      F.struct("dist", "centroid_id")).alias("centroid_id"),
             F.first("qv").alias("qv"), F.first("norm2").alias("norm2"))
    )


def process_batch(batch: DataFrame, cents: DataFrame,
                  root: str, epoch_id: int) -> None:
    """Assign one micro-batch against the FROZEN quantizer ``cents``
    (loaded once by ``load_centroids_once`` — never re-read from the
    still-arriving stream source mid-stream)."""
    write_epoch(assign_cells(batch, cents), os.path.join(root, CELLS_DIR),
                epoch_id)


def run_ann_index_stream(spark: SparkSession, vecs_dir: str,
                         store_root: str, available_now: bool = True):
    """Tail an embeddings directory and maintain the IVF cell store.

    The coarse quantizer is materialized ONCE here, before the stream
    starts (count-asserted = N_CENTROIDS), and every micro-batch closes
    over it — in live tailing a batch can otherwise arrive before all
    centroid vectors have and be permanently mis-assigned (epochs are
    never revisited)."""
    cents = load_centroids_once(spark, vecs_dir)
    checkpoint = os.path.join(store_root, "_checkpoint")
    stream = (spark.readStream.schema(EMBEDDINGS)
              .option("maxFilesPerTrigger", 1).parquet(vecs_dir))
    writer = (stream.writeStream
              .foreachBatch(lambda b, e: process_batch(b, cents,
                                                       store_root, e))
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_cells(spark: SparkSession, store_root: str) -> DataFrame:
    """The full incremental index: every ingested vector with its cell
    (epoch partition column dropped — reads prune on it when a replay
    or compaction targets specific epochs)."""
    return (spark.read.parquet(os.path.join(store_root, CELLS_DIR))
            .drop("epoch"))
