"""Operational monitoring (SURVEY.md §2.1 S11) — the Spark equivalents
of the reference's system.* catalog scans (usdc-transfers/sql/
monitoring.sql:5-29): replication status → StreamingQuery progress;
table sizes → catalog + filesystem stats with formatReadableSize;
rollup store sizes and compaction age → ``rollup_stores``.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, Row, SparkSession, functions as F

from ..functions.misc import format_readable_size
from ..streaming.maintainer import BASE_PARTITION, IncrementalRollup


def _footprint(path: str) -> tuple[int, int]:
    """The parquet files and bytes a table occupies: ``path`` is one
    file or a directory tree. Like Spark's file listing, it skips
    directories whose names start with ``_`` or ``.`` (a write's
    ``_temporary``, a stream's ``_checkpoint``)."""
    if os.path.isfile(path):
        return 1, os.path.getsize(path)
    n_files = n_bytes = 0
    for dirpath, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(dirpath, f))
    return n_files, n_bytes


def table_sizes(spark: SparkSession, paths: dict[str, str]) -> DataFrame:
    """monitoring.sql:20-29: per-table bytes/rows/files, largest first,
    with a human-readable size column (formatReadableSize, F8)."""
    rows = []
    for name, path in paths.items():
        n_files, total = _footprint(path)
        n_rows = spark.read.parquet(path).count() if n_files else 0
        rows.append(Row(table=name, total_bytes=total, n_files=n_files,
                        n_rows=n_rows))
    df = spark.createDataFrame(rows)
    return (
        df.withColumn("size", format_readable_size(F.col("total_bytes")))
        .orderBy(F.col("total_bytes").desc())
    )


def rollup_stores(store_root: str,
                  rollups: tuple[IncrementalRollup, ...]) -> list[dict]:
    """Per maintained rollup: the parquet files and bytes its store holds
    (the bytes ``IncrementalRollup.read_state`` sizes its merge plan by)
    and the seconds since its last compaction, from the compacted base's
    mtime (``None`` before the first one). A store whose file count
    keeps growing is one compaction is not keeping up with."""
    now = time.time()
    out = []
    for r in rollups:
        store = r.store(store_root)
        n_files, total = _footprint(store)
        base = os.path.join(store, BASE_PARTITION)
        since = now - os.path.getmtime(base) if os.path.isdir(base) else None
        out.append({"rollup": r.name, "n_files": n_files,
                    "total_bytes": total, "since_compaction_s": since})
    return out


def streaming_progress(query) -> dict:
    """monitoring.sql:5-18 (replication status/queue) → the maintainer
    StreamingQuery's lastProgress: rows/sec, batch durations, state."""
    p = query.lastProgress
    if p is None:
        return {"status": "no-progress-yet"}
    return {
        "id": str(p.get("id")),
        "batchId": p.get("batchId"),
        "numInputRows": p.get("numInputRows"),
        "inputRowsPerSecond": p.get("inputRowsPerSecond"),
        "processedRowsPerSecond": p.get("processedRowsPerSecond"),
        "durationMs": p.get("durationMs"),
    }


def catalog_tables(spark: SparkSession) -> DataFrame:
    """SHOW TABLES analog over the session catalog."""
    return spark.createDataFrame(
        [Row(name=t.name, isTemporary=t.isTemporary, tableType=t.tableType)
         for t in spark.catalog.listTables()])
