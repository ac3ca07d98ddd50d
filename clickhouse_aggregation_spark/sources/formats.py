"""Source/sink format parity (SURVEY.md §2.1): beyond parquet, the
engine reads/writes ORC, JSON-lines, and CSV with EXPLICIT schemas
(never inferSchema — the reference's model is schema-declared-up-front,
§1.1). Timestamp columns round-trip as ISO-8601 strings in the text
formats (marshal F10) and natively in ORC.

Timestamp semantic: the engine is **TIMESTAMP_NTZ end-to-end** (UTC
wall-clock with no zone, the same semantic as DuckDB's naive TIMESTAMP
— see sources/tables.py). Spark applies the ``timestampFormat`` option
only to TIMESTAMP_LTZ columns; NTZ columns are governed by the separate
``timestampNTZFormat`` option, whose default truncates to milliseconds.
Both options are therefore set to the same microsecond pattern here so
text-format round-trips preserve full microsecond precision (reference
marshal validates RFC-3339 with sub-second precision:
usdc-transfers/src/model/generated/marshal.ts:80-98).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, types as T

TS_FORMAT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def _ts_options(rw):
    return (rw.option("timestampFormat", TS_FORMAT)
              .option("timestampNTZFormat", TS_FORMAT))


def write_as(df: DataFrame, path: str, fmt: str) -> None:
    w = df.write.mode("overwrite")
    if fmt == "csv":
        w = _ts_options(w.option("header", "true"))
    elif fmt == "json":
        w = _ts_options(w)
    w.format(fmt).save(path)


def read_as(spark: SparkSession, path: str, fmt: str,
            schema: T.StructType) -> DataFrame:
    """Schema is mandatory: inference is banned engine-wide."""
    r = spark.read.schema(schema)
    if fmt == "csv":
        r = _ts_options(r.option("header", "true"))
    elif fmt == "json":
        r = _ts_options(r)
    return r.format(fmt).load(path)


def roundtrip(df: DataFrame, root: str, fmt: str) -> DataFrame:
    path = os.path.join(root, fmt)
    write_as(df, path, fmt)
    return read_as(df.sparkSession, path, fmt, df.schema)
