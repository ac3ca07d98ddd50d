"""The memory ceilings derived from the host: Spark's driver heap and
the DuckDB oracle's buffer cap. Pure Python — no JVM is started."""

from __future__ import annotations

import duckdb

from clickhouse_aggregation_spark.session import (default_driver_memory,
                                                   physical_memory_bytes)
from .oracle import duckdb_con, oracle_memory_limit


def _bytes(size: str) -> int:
    units = {"m": 2**20, "g": 2**30, "MiB": 2**20, "GiB": 2**30}
    for suffix, mult in units.items():
        if size.endswith(suffix):
            return int(size[:-len(suffix)]) * mult
    raise ValueError(size)


def test_driver_memory_default_fits_the_host(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    heap = _bytes(default_driver_memory())
    assert 0 < heap <= physical_memory_bytes() // 2
    assert heap <= 16 * 2**30


def test_driver_memory_env_override_wins(monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    assert default_driver_memory() == "2g"


def test_oracle_memory_limit_default_fits_the_host(monkeypatch):
    monkeypatch.delenv("ORACLE_MEMORY_LIMIT", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    cap = _bytes(oracle_memory_limit())
    assert 0 < cap < physical_memory_bytes()
    heap = _bytes(default_driver_memory())
    assert heap + cap < physical_memory_bytes()


def test_oracle_memory_limit_env_override_wins(monkeypatch, tmp_path):
    monkeypatch.setenv("ORACLE_MEMORY_LIMIT", "1GB")
    assert oracle_memory_limit() == "1GB"
    ref = duckdb.connect()
    ref.execute("SET memory_limit='1GB'")
    want = ref.execute("SELECT current_setting('memory_limit')").fetchone()
    con = duckdb_con(str(tmp_path))
    try:
        got = con.execute("SELECT current_setting('memory_limit')").fetchone()
    finally:
        con.close()
        ref.close()
    assert got == want
