"""Local mirror of the driver's correctness gate: run a Spark DataFrame
and a DuckDB SQL string over the same parquet tables, canonicalize both
results (columns sorted by name, rows sorted, values normalized), and
compare. Mirrors the driver's row-count + schema + order-insensitive
value-hash check so failures show up before the round boundary."""

from __future__ import annotations

import datetime
import decimal
import math
import os

import duckdb
import pandas as pd

from clickhouse_aggregation_spark.schemas import DRIVER_TABLES
from clickhouse_aggregation_spark.session import physical_memory_bytes


def oracle_memory_limit() -> str:
    """DuckDB ``memory_limit`` for an oracle connection:
    ``ORACLE_MEMORY_LIMIT`` when set, else a quarter of physical RAM.
    Spark's heap defaults to half (``session.default_driver_memory``),
    so the two ceilings together stay under the host's memory."""
    return os.environ.get("ORACLE_MEMORY_LIMIT") or (
        f"{physical_memory_bytes() // 4 // 2**20}MiB")


def duckdb_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    # resource guard, not semantics: an over-budget oracle (e.g. a
    # designed-quadratic truth set at a 20x fixture) must fail FAST
    # with a clean out-of-temp error instead of spilling until the
    # host disk fills (observed: >200 GiB of duckdb_temp_storage from
    # one uncapped Σdf² pair join before ENOSPC took the box down)
    con.execute("SET max_temp_directory_size='40GiB'")
    # cap DuckDB's buffer memory too (default is 80% of RAM): an
    # over-budget oracle must SPILL (into the capped temp dir above,
    # then fail cleanly) rather than balloon the process toward the
    # OOM killer while Spark's JVM holds its own multi-GiB heap in
    # the same box (observed round 11: an uncapped monolithic router
    # oracle at 80 GiB RSS alongside a 17 GiB JVM). The cap is derived
    # from the host's RAM (oracle_memory_limit); a flat figure above
    # it cannot make DuckDB spill. Env-overridable for scale-artifact
    # runs whose n x K window materializations legitimately need more
    # (e.g. the sf16 domain check's 26.7k x 625-centroid assignment —
    # a pin-heavy window DuckDB cannot fully spill).
    con.execute("SET memory_limit='%s'" % oracle_memory_limit())
    for name in DRIVER_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def _norm_cell(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == int(v) and abs(v) < 1e15:
            return str(int(v))
        # round to 9 significant digits: absorbs summation-order noise
        return f"{v:.9g}"
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return str(int(v))
        return f"{float(v):.9g}"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
        # DuckDB hands DATE back as midnight datetime64; Spark as date —
        # canonicalize both to the midnight form
        return v.isoformat() + "T00:00:00"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
        return "[" + ",".join(_norm_cell(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


def canon(pdf: pd.DataFrame) -> list[tuple]:
    cols = sorted(pdf.columns)
    rows = [tuple(_norm_cell(v) for v in row)
            for row in pdf[cols].itertuples(index=False, name=None)]
    return sorted(rows)


def compare(spark_df, sql: str, sf_dir: str, name: str = "query") -> None:
    """Assert the Spark result and the DuckDB-oracle result match."""
    spdf = spark_df.toPandas()
    con = duckdb_con(sf_dir)
    try:
        ddf = con.execute(sql).df()
    finally:
        con.close()

    assert len(spdf) == len(ddf), (
        f"{name}: row count spark={len(spdf)} duckdb={len(ddf)}")
    assert sorted(spdf.columns) == sorted(ddf.columns), (
        f"{name}: columns spark={sorted(spdf.columns)} duckdb={sorted(ddf.columns)}")
    a, b = canon(spdf), canon(ddf)
    if a != b:
        diffs = [(i, x, y) for i, (x, y) in enumerate(zip(a, b)) if x != y][:5]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diffs}")
