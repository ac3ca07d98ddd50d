#!/usr/bin/env python
"""Generate a larger-SF throwaway fixture by deterministic, NON-SATURATING
amplification of /root/testdata/sf0.1 (VERDICT r3 #7: pin the scaling
exponent of the rollup/join/dedup families at a genuinely larger scale,
without the saturation caveat of plain 100x replicas).

Amplification rules (factor R replicas, replica 0 = the original):

* every table's keys get per-replica offsets of (max_key + 1), with
  FOREIGN KEYS offset consistently (lineitem.l_orderkey tracks
  orders.o_orderkey, orders.o_custkey tracks customer.c_custkey, ...),
  so join fan-outs scale linearly like a real bigger TPC-H SF;
* documents: replica texts are WORD-MUTATED (every 5th word gets a
  replica suffix) so cross-replica pairs fall well below the 0.8
  jaccard near-dup threshold — dup density per doc stays that of the
  base corpus instead of growing linearly with R (which would make
  every pair-emitting answer quadratic in R and invalidate the
  exponent measurement);
* embeddings: replica vectors are component-ROTATED (np.roll) with a
  sign flip on odd replicas — same norm, same marginal distribution,
  low cross-replica cosine, so LSH-bucket and IVF-cell densities scale
  like a bigger corpus, not like R copies of the same corpus. At
  DIM=64 the (roll, parity) pair cycles with period 64 — the first
  collision is replica 64 ≡ replica 0 bit-exactly (7·64 ≡ 0 mod 64
  and 64 is even, so both roll and parity repeat; ADVICE r10
  corrected the previously stated period of 128) — which would seed
  one exact-dup pair per base vector;
  replicas ≥ 64 therefore ALSO get a seeded per-replica component
  sign pattern (norm- and marginal-preserving, cross-replica cosine
  low in expectation). r < 64 is untouched, so every fixture
  generated before R=80 existed stays bit-identical;
* nation/region stay fixed (true dimensions); every other table
  replicates (customer/supplier/part scale with SF in TPC-H too);
* events replicate with offset event_id/user_id and unchanged
  timestamps: same time range, R times the traffic — the realistic
  way row counts grow for the reference's rollup surface.

Usage:  python tools/gen_scale_fixture.py [R] [OUT_DIR]
        (defaults: R=5, OUT_DIR=/tmp/testdata_sf0.5)
Then:   SPARK_GRAFT_SF_DIR=OUT_DIR python bench.py

The output directory name should end in sf<x> so bench.py records the
right sf. The fixture is throwaway — never committed.
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SRC = "/root/testdata/sf0.1"

# (table, {column: fk_domain}) — fk_domain names the table whose max
# key defines the per-replica offset, so FKs stay consistent
KEY_OFFSETS: dict[str, dict[str, str]] = {
    "events": {"event_id": "events", "user_id": "users"},
    "documents": {"doc_id": "documents"},
    "embeddings": {"vec_id": "embeddings"},
    "customer": {"c_custkey": "customer"},
    "supplier": {"s_suppkey": "supplier"},
    "part": {"p_partkey": "part"},
    "orders": {"o_orderkey": "orders", "o_custkey": "customer"},
    "lineitem": {"l_orderkey": "orders", "l_partkey": "part",
                 "l_suppkey": "supplier"},
}
DIMS = ("nation", "region")


def _mutate_text(text: str, r: int) -> str:
    """Every 5th word gets a replica suffix: ~60% of 3-gram shingles
    change, so replica-pair jaccard ≈ 0.25 « 0.8 — never a near-dup."""
    words = text.split(" ")
    for i in range(0, len(words), 5):
        words[i] = f"{words[i]}r{r}"
    return " ".join(words)


def _replica(table: str, t: pa.Table, r: int,
             domains: dict[str, int]) -> pa.Table:
    if r == 0:
        return t
    cols = {}
    for name in t.column_names:
        col = t.column(name)
        fk = KEY_OFFSETS.get(table, {}).get(name)
        if fk is not None:
            off = r * domains[fk]
            cols[name] = pa.compute.add(col, off)
        else:
            cols[name] = col
    out = pa.table(cols)
    if table == "documents":
        texts = [_mutate_text(x, r) for x in out.column("text").to_pylist()]
        out = out.set_column(out.column_names.index("text"), "text",
                             pa.array(texts, pa.string()))
        n_chars = pa.array([len(x) for x in texts], pa.int64())
        out = out.set_column(out.column_names.index("n_chars"), "n_chars",
                             n_chars)
    elif table == "embeddings":
        mat = np.array(out.column("embedding").to_pylist(),
                       dtype=np.float32)
        mat = np.roll(mat, 7 * r, axis=1)
        if r % 2 == 1:
            mat = -mat
        if r >= 64:
            # break the period-64 (roll, parity) cycle (see module
            # docstring) without touching any r < 64 replica
            signs = np.random.RandomState(909000 + r).choice(
                np.array([-1.0, 1.0], dtype=np.float32),
                size=mat.shape[1])
            mat = mat * signs
        emb = pa.array(list(mat), pa.list_(pa.float32()))
        out = out.set_column(out.column_names.index("embedding"),
                             "embedding", emb)
    return out.cast(t.schema)


def main() -> None:
    factor = int(sys.argv[1]) if len(sys.argv) > 1 else 5
    out_dir = sys.argv[2] if len(sys.argv) > 2 \
        else f"/tmp/testdata_sf0.{factor}"
    os.makedirs(out_dir, exist_ok=True)

    tables = {name: pq.read_table(os.path.join(SRC, f"{name}.parquet"))
              for name in list(KEY_OFFSETS) + list(DIMS)}
    domains = {
        name: int(pa.compute.max(t.column(keycol)).as_py()) + 1
        for name, t in tables.items()
        for keycol, dom in KEY_OFFSETS.get(name, {}).items()
        if dom == name
    }
    domains["users"] = int(pa.compute.max(
        tables["events"].column("user_id")).as_py()) + 1

    for name, t in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        if name in DIMS:
            pq.write_table(t, path)
            print(f"{name}: {t.num_rows} -> {t.num_rows}")
            continue
        # stream one replica at a time through a ParquetWriter instead
        # of concat_tables: peak memory stays ONE replica regardless of
        # R (the old concat held all R in RAM — at R=160 lineitem alone
        # is ~100M rows). Same replicas in the same order, so every
        # VALUE is identical to the concat output; only row-group
        # boundaries differ, which nothing reads.
        total = 0
        writer = pq.ParquetWriter(path, t.schema)
        try:
            for r in range(factor):
                rep = _replica(name, t, r, domains)
                writer.write_table(rep)
                total += rep.num_rows
        finally:
            writer.close()
        print(f"{name}: {t.num_rows} -> {total}")
    print(f"wrote {out_dir}")


if __name__ == "__main__":
    main()
