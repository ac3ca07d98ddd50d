"""Incrementally-maintained embedding rollups: the Gram matrix and the
per-dimension marginals as streaming state.

Both batch operators (`embedding_gram_matrix`, `embedding_dim_stats`)
are pure combinable aggregates over row-local expansions — which makes
them PERFECT incremental rollups: the per-batch partial is the same
expansion + partial sum the batch plan's map side runs, the state is
one row per matrix cell (2 080 / 64 rows — constant, independent of
corpus size), and the merge is additive (sums) or mergeable (min/max),
the exact SummingMergeTree contract the maintainer machinery
implements. As embedding shards land, a whitening/PCA/normalization
stage always has the current second-moment matrix without ever
re-scanning the corpus.

Invariant (the façade's driver-checked oracle): replaying the
embeddings table in chunks and reading the rollup equals the batch
operator over the full table — additive state, so equality is exact
integer equality.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.similarity import gram_partial, quantize
from ..schemas import EMBEDDINGS
from .maintainer import IncrementalRollup, run_rollup_stream

# per-batch Gram partial = the SAME Arrow-batched numpy Q^T.Q the batch
# operator runs (operators/similarity.gram_partial) — stream ≡ batch is
# exact integer equality by construction, not by parallel maintenance
# of two expansions.
_gram_partial = gram_partial


def _dim_partial(batch: DataFrame) -> DataFrame:
    q = batch.select(quantize(F.col("embedding")).alias("qv"))
    return (q.select(F.posexplode("qv").alias("i", "x"))
            .groupBy(F.col("i").cast("long").alias("i"))
            .agg(F.count(F.lit(1)).cast("long").alias("n"),
                 F.sum("x").cast("long").alias("dim_sum"),
                 F.sum(F.col("x") * F.col("x")).cast("long")
                 .alias("dim_sumsq"),
                 F.min("x").cast("long").alias("dim_min"),
                 F.max("x").cast("long").alias("dim_max")))


EMBEDDING_ROLLUPS: tuple[IncrementalRollup, ...] = (
    IncrementalRollup("gram", ("i", "j"), ("sum_prod",), _gram_partial,
                      EMBEDDINGS),
    IncrementalRollup(
        "dim_stats", ("i",),
        ("n", "dim_sum", "dim_sumsq", "dim_min", "dim_max"),
        _dim_partial, EMBEDDINGS,
        # counts/sums are additive; min/max are mergeable-not-additive
        merge_exprs=("sum(n) AS n",
                     "sum(dim_sum) AS dim_sum",
                     "sum(dim_sumsq) AS dim_sumsq",
                     "min(dim_min) AS dim_min",
                     "max(dim_max) AS dim_max")),
)


def run_embedding_rollup_stream(spark: SparkSession, emb_dir: str,
                                store_root: str,
                                available_now: bool = True):
    """Tail an embeddings directory and maintain the matrix rollups."""
    return run_rollup_stream(spark, emb_dir, store_root, EMBEDDING_ROLLUPS,
                             available_now)
