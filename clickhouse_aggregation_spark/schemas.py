"""Explicit StructType schemas (SURVEY.md §1) — never ``inferSchema``.

The canonical ``transfers`` schema unifies the reference's actual DDL
(reference: usdc-transfers/db/migrations/1691424065505-Data.js:5 —
``id, block, "from", "to", value, txn_hash``) with the enriched columns
its analytics SQL expects (usdc-transfers/sql/analytics.sql:15-19,96-103)
and the CDC bookkeeping columns ``_sign``/``_version`` produced by the
MaterializedPostgreSQL mirror (usdc-transfers/README.md:150).

uint256 token amounts are carried as Decimal(38,0): USDC values are
integer micro-dollars and fit comfortably; full uint256 (78 digits)
exceeds Spark Decimal — documented limitation, see SURVEY.md §1.2.
"""

from __future__ import annotations

from pyspark.sql import types as T

TRANSFERS = T.StructType([
    T.StructField("log_id", T.StringType(), False),
    T.StructField("block_number", T.IntegerType(), False),
    T.StructField("block_timestamp", T.TimestampType(), False),
    T.StructField("log_index", T.IntegerType(), False),
    T.StructField("transaction_hash", T.StringType(), False),
    T.StructField("from_address", T.StringType(), False),
    T.StructField("to_address", T.StringType(), False),
    T.StructField("value", T.DecimalType(38, 0), False),
    T.StructField("_sign", T.IntegerType(), False),
    T.StructField("_version", T.LongType(), False),
])

# Driver synthetic tables (TESTDATA.md; schemas read from the parquet
# footers — kept here so streaming readers never infer).
EVENTS = T.StructType([
    T.StructField("event_id", T.LongType(), True),
    T.StructField("ts", T.TimestampType(), True),
    T.StructField("user_id", T.LongType(), True),
    T.StructField("event_type", T.StringType(), True),
    T.StructField("value", T.DoubleType(), True),
    T.StructField("props", T.StringType(), True),
])

DOCUMENTS = T.StructType([
    T.StructField("doc_id", T.LongType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("source", T.StringType(), True),
    T.StructField("n_chars", T.LongType(), True),
])

EMBEDDINGS = T.StructType([
    T.StructField("vec_id", T.LongType(), True),
    T.StructField("embedding", T.ArrayType(T.FloatType()), True),
    T.StructField("label", T.IntegerType(), True),
])

# All tables the driver pre-registers as DuckDB views.
DRIVER_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
