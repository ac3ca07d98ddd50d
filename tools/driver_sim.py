"""Simulate the driver: vanilla session, fresh import of __spark_entry__,
entry() smoke + queries()/oracle_sql() hash-compare at sf0.01 via DuckDB.

STRICT on purpose (round-1 lesson): the real driver hashes raw pandas
cell representations, so this sim must NOT normalize Decimal -> int or
date -> datetime — a mismatch the driver would flag has to show up here.
A cell passes only if ``str(value)`` AND the cell's Python type family
agree between the Spark and DuckDB frames.
"""
import math
import os
import sys
from pathlib import Path

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))
import __spark_entry__ as mod

spark = (SparkSession.builder.master("local[8]")
         .appName("driver-sim").getOrCreate())   # NO engine confs on purpose

# 1. entry() smoke
df = mod.entry(spark)
rows = df.collect()
print("entry(): rows =", len(rows), "schema =", df.schema.simpleString())
assert len(rows) > 0

# 2. queries vs oracles at sf0.01
SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
con = duckdb.connect()
# same over-budget guard the test oracle harness carries (round 7:
# an uncapped truth-set build at sf2.0 once spilled >200 GiB of DuckDB
# temp and ENOSPC'd the host) — fail fast instead of filling the disk
con.execute("SET max_temp_directory_size='40GiB'")
for t in ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]:
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')")


def cell(v):
    """(type-family, raw string) — NO value normalization."""
    if v is None or (isinstance(v, float) and math.isnan(v)) or v is pd.NaT:
        return ("null", "null")
    fam = type(v).__name__
    if fam in ("int", "int8", "int16", "int32", "int64"):
        fam = "int"
    elif fam in ("float", "float32", "float64"):
        fam = "float"
    return (fam, str(v))


def canon(pdf):
    cols = sorted(pdf.columns)
    return sorted(
        tuple(cell(v) for v in r)
        for r in pdf[cols].itertuples(index=False, name=None))


qs, os_ = mod.queries(), mod.oracle_sql()
assert len(qs) <= 50, f"driver checks at most 50 queries, {len(qs)} declared"
# extras are not driver-checked but must stay correct: sweep them too
qs = dict(qs)
qs.update(mod.extra_queries())
os_ = dict(os_)
os_.update(mod.extra_oracle_sql())
# targeted re-verify after an edit: SPARK_GRAFT_ONLY=name1,name2
_only = os.environ.get("SPARK_GRAFT_ONLY", "")
if _only:
    keep = set(_only.split(","))
    missing = keep - qs.keys()
    assert not missing, f"unknown query names: {missing}"
    qs = {k: v for k, v in qs.items() if k in keep}
ok = bad = weak = 0
for name, fn in qs.items():
    try:
        spdf = fn(spark, SF).toPandas()
    except Exception as e:  # noqa: BLE001
        print(f"  ERROR {name}: {e}")
        bad += 1
        continue
    if name not in os_:
        # rows-only: still must canonicalize (driver hashes these too)
        try:
            canon(spdf)
            print(f"  rows-only {name}: {len(spdf)} rows")
            weak += 1
        except Exception as e:  # noqa: BLE001
            print(f"  ERROR rows-only {name}: canonicalize failed: {e}")
            bad += 1
        continue
    ddf = con.execute(os_[name]).df()
    a, b = canon(spdf), canon(ddf)
    match = len(spdf) == len(ddf) and a == b
    print(f"  {'MATCH' if match else 'MISMATCH'} {name}: "
          f"spark={len(spdf)} duckdb={len(ddf)}")
    if not match and len(a) == len(b):
        diffs = [(x, y) for x, y in zip(a, b) if x != y][:2]
        for x, y in diffs:
            print(f"    spark : {x}\n    duckdb: {y}")
    ok += match
    bad += (not match)
print(f"RESULT: {ok} match, {bad} mismatch/error, {weak} rows-only")
sys.exit(1 if bad else 0)
