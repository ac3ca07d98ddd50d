"""Seeded input generator for the benchmark: pyarrow and numpy only, no Spark.

Everything a run reads comes from here and is a pure function of the
seed: the live chain tail (canonical transfers landing as parquet
shards, with reorg retraction pairs held back and delivered late), the
dashboard parameter stream, and the raw star-schema tables the ad-hoc
registry queries scan.

Shards are written to a staging directory and renamed into the landing
directory, so a file-source reader never sees a half-written file.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Same chain constants as the engine's transfers synthesis
# (sources/transfers.py): 12 s blocks from the reference backfill block.
GENESIS_EPOCH = 946_684_800
BLOCK0 = 6_082_465
SECONDS_PER_BLOCK = 12

TRANSFERS_SCHEMA = pa.schema([
    pa.field("log_id", pa.string(), False),
    pa.field("block_number", pa.int32(), False),
    pa.field("block_timestamp", pa.timestamp("us", tz="UTC"), False),
    pa.field("log_index", pa.int32(), False),
    pa.field("transaction_hash", pa.string(), False),
    pa.field("from_address", pa.string(), False),
    pa.field("to_address", pa.string(), False),
    pa.field("value", pa.decimal128(38, 0), False),
    pa.field("_sign", pa.int32(), False),
    pa.field("_version", pa.int64(), False),
])


def _hex_strings(rng: np.random.Generator, n: int, n_bytes: int) -> list[str]:
    raw = rng.integers(0, 256, size=(n, n_bytes), dtype=np.uint8)
    return ["0x" + row.tobytes().hex() for row in raw]


def _zipf_weights(n: int, exponent: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n + 1) ** exponent
    return w / w.sum()


class TransferTail:
    """The chain tail as a sequence of shards in block order.

    Shard ``i`` carries the canonical (``_sign=+1, _version=1``) logs of
    ``blocks_per_shard`` consecutive blocks. A ``reorg_rate`` share of
    those logs is later reorged: a retraction (``-1, v2``) and a
    replacement (``+1, v3``, new value) that arrive together, held back
    1..``max_hold`` shards, so retractions land late and out of order.
    """

    rows_per_shard = 2000
    blocks_per_shard = 1800           # a quarter of a day
    n_addresses = 3000
    reorg_rate = 0.02
    max_hold = 4

    def __init__(self, seed: int) -> None:
        self.rng = np.random.default_rng(seed)
        self.addresses = np.array(
            _hex_strings(self.rng, self.n_addresses, 20))
        # skewed senders, so top-k answers have a real head
        self.sender_p = _zipf_weights(self.n_addresses, 0.9)
        self.next_index = 0
        # held-back reorg pairs: (shard they are due in, rows)
        self.pending: list[tuple[int, pa.Table]] = []

    def _values(self, n: int) -> np.ndarray:
        # micro-USDC spanning the four size-histogram buckets
        mant = self.rng.integers(100, 1000, size=n)
        scale = 10 ** self.rng.integers(5, 9, size=n)
        return mant * scale

    def _canonical(self, shard: int) -> pa.Table:
        n = self.rows_per_shard
        first = BLOCK0 + shard * self.blocks_per_shard
        blocks = np.sort(self.rng.integers(
            first, first + self.blocks_per_shard, size=n))
        # log_index = position of the log within its block
        starts = np.searchsorted(blocks, blocks, side="left")
        log_index = np.arange(n) - starts
        senders = self.addresses[self.rng.choice(
            len(self.addresses), size=n, p=self.sender_p)]
        receivers = self.addresses[self.rng.integers(
            0, len(self.addresses), size=n)]
        ts_us = (GENESIS_EPOCH + (blocks - BLOCK0) * SECONDS_PER_BLOCK) \
            * 1_000_000
        return self._table(blocks, ts_us, log_index,
                           _hex_strings(self.rng, n, 32), senders, receivers,
                           self._values(n), np.ones(n, np.int32), 1)

    @staticmethod
    def _table(blocks, ts_us, log_index, tx_hash, senders, receivers,
               values, signs, version: int) -> pa.Table:
        n = len(blocks)
        log_id = [f"{b:010d}-{i:06d}" for b, i in zip(blocks, log_index)]
        return pa.table({
            "log_id": pa.array(log_id, pa.string()),
            "block_number": pa.array(blocks, pa.int32()),
            "block_timestamp": pa.array(ts_us, pa.int64()).cast(
                pa.timestamp("us", tz="UTC")),
            "log_index": pa.array(log_index, pa.int32()),
            "transaction_hash": pa.array(tx_hash, pa.string()),
            "from_address": pa.array(senders, pa.string()),
            "to_address": pa.array(receivers, pa.string()),
            "value": pa.array(values, pa.int64()).cast(
                pa.decimal128(38, 0)),
            "_sign": pa.array(signs, pa.int32()),
            "_version": pa.array(np.full(n, version), pa.int64()),
        }, schema=TRANSFERS_SCHEMA)

    def next_shard(self) -> pa.Table:
        """The next shard: this span's canonical logs plus every held-back
        reorg pair that falls due now."""
        i = self.next_index
        self.next_index += 1
        canon = self._canonical(i)
        reorged = np.flatnonzero(
            self.rng.random(canon.num_rows) < self.reorg_rate)
        if len(reorged):
            old = canon.take(pa.array(reorged))
            cols = {c: old.column(c).to_numpy() for c in
                    ("block_number", "log_index", "from_address",
                     "to_address")}
            ts_us = old.column("block_timestamp").cast(pa.int64()) \
                .to_numpy()
            tx = old.column("transaction_hash").to_pylist()
            old_values = np.array(
                [int(v) for v in old.column("value").to_pylist()])
            n = len(reorged)
            retract = self._table(
                cols["block_number"], ts_us, cols["log_index"], tx,
                cols["from_address"], cols["to_address"], old_values,
                -np.ones(n, np.int32), 2)
            replace = self._table(
                cols["block_number"], ts_us, cols["log_index"], tx,
                cols["from_address"], cols["to_address"],
                self._values(n), np.ones(n, np.int32), 3)
            hold = int(self.rng.integers(1, self.max_hold + 1))
            self.pending.append(
                (i + hold, pa.concat_tables([retract, replace])))
        due = [t for d, t in self.pending if d <= i]
        self.pending = [(d, t) for d, t in self.pending if d > i]
        return pa.concat_tables([canon, *due])


def land(table: pa.Table, landing_dir: str, name: str) -> str:
    """Write ``table`` atomically into ``landing_dir``: the file is fully
    written under a staging directory and then renamed into place."""
    staging = landing_dir.rstrip("/") + ".staging"
    os.makedirs(staging, exist_ok=True)
    os.makedirs(landing_dir, exist_ok=True)
    tmp = os.path.join(staging, name)
    pq.write_table(table, tmp)
    final = os.path.join(landing_dir, name)
    os.rename(tmp, final)
    return final


# ---------------------------------------------------------------------------
# dashboard parameter stream

# one query per maintained rollup (perfbench/dashboard.py builds them)
DASHBOARD_QUERIES = ("daily_volume_7d", "hourly_volume_24h", "top_senders",
                     "top_receivers_day", "size_histogram", "hourly_uniques",
                     "address_pivot")


def dashboard_params(seed: int, n: int,
                     tail: TransferTail) -> list[tuple[str, object]]:
    """A seeded stream of (query, tip-relative parameter), the queries in
    round-robin order: days back for ``top_receivers_day``, hours back
    for ``hourly_uniques``, an address drawn like a sender for
    ``address_pivot``."""
    rng = np.random.default_rng([seed, 1])
    out: list[tuple[str, object]] = []
    for i in range(n):
        q = DASHBOARD_QUERIES[i % len(DASHBOARD_QUERIES)]
        if q == "top_receivers_day":
            p: object = int(rng.integers(0, 3))
        elif q == "hourly_uniques":
            p = int(rng.integers(0, 24))
        elif q == "address_pivot":
            p = str(tail.addresses[rng.choice(len(tail.addresses),
                                              p=tail.sender_p)])
        else:
            p = None
        out.append((q, p))
    return out


# ---------------------------------------------------------------------------
# raw star-schema tables for the ad-hoc registry queries

_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_DAY_US = 86_400 * 1_000_000
# events span 16 days (past the tiered-union query's 100 000-block hot
# window, so both tiers hold rows) and come from one user per 600
# events, so per-day and per-address answers stay small next to the
# rows scanned
EVENT_DAYS = 16
EVENTS_PER_USER = 600


def _ts_us(epoch_day0: datetime.date, offsets_us: np.ndarray) -> pa.Array:
    base = int(datetime.datetime(epoch_day0.year, epoch_day0.month,
                                 epoch_day0.day,
                                 tzinfo=datetime.timezone.utc).timestamp())
    return pa.array(base * 1_000_000 + offsets_us, pa.int64()).cast(
        pa.timestamp("us"))


def write_star_tables(out_dir: str, seed: int, n_events: int,
                      n_orders: int) -> dict[str, int]:
    """Write the star-schema tables the registry queries read, with the
    column names and types of the repository's synthetic test fixture
    (one parquet file per table). Returns the row count per table."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    n_users = max(n_events // EVENTS_PER_USER, 10)
    n_cust = max(n_orders // 10, 10)
    n_supp = max(n_orders // 150, 5)
    n_part = max(n_orders // 8, 10)

    tables: dict[str, pa.Table] = {}
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": _ts_us(datetime.date(2024, 1, 1), np.sort(
            rng.integers(0, EVENT_DAYS * _DAY_US, size=n_events))),
        "user_id": pa.array(rng.integers(0, n_users, size=n_events),
                            pa.int64()),
        "event_type": pa.array(np.array(_EVENT_TYPES)[rng.integers(
            0, len(_EVENT_TYPES), size=n_events)], pa.string()),
        "value": pa.array(np.round(rng.uniform(0.01, 490.0, n_events), 2),
                          pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, size=n_events)], pa.string()),
    })
    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(_REGIONS, pa.string()),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)],
                           pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2),
                              pa.float64()),
        "c_mktsegment": pa.array(np.array(_SEGMENTS)[rng.integers(
            0, 5, size=n_cust)], pa.string()),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)],
                           pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp), pa.int32()),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2),
                              pa.float64()),
    })
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array([f"part {i % 64}" for i in range(n_part)],
                           pa.string()),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, size=n_part)], pa.string()),
        "p_type": pa.array(np.array(("ECONOMY", "LARGE", "MEDIUM", "PROMO",
                                     "SMALL", "STANDARD"))[
            rng.integers(0, 6, size=n_part)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, size=n_part), pa.int32()),
        "p_retailprice": pa.array(900 + np.arange(n_part) % 1000 / 10.0,
                                  pa.float64()),
    })
    order_day = rng.integers(0, 2400, size=n_orders)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, size=n_orders),
                              pa.int64()),
        "o_orderstatus": pa.array(np.array(("F", "O", "P"))[rng.integers(
            0, 3, size=n_orders)], pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000,
                                                      n_orders), 2),
                                 pa.float64()),
        "o_orderdate": _ts_us(datetime.date(1995, 1, 1),
                              order_day * _DAY_US),
        "o_orderpriority": pa.array(np.array(_PRIORITIES)[rng.integers(
            0, 5, size=n_orders)], pa.string()),
    })
    lines = rng.integers(1, 8, size=n_orders)
    n_li = int(lines.sum())
    li_order = np.repeat(np.arange(n_orders), lines)
    li_num = np.arange(n_li) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, size=n_li).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(li_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, size=n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n_li), pa.int64()),
        "l_linenumber": pa.array(li_num, pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(
            np.round(qty * rng.uniform(900, 2100, n_li), 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, size=n_li) / 100.0,
                               pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, size=n_li) / 100.0,
                          pa.float64()),
        "l_returnflag": pa.array(np.array(("A", "N", "R"))[rng.integers(
            0, 3, size=n_li)], pa.string()),
        "l_linestatus": pa.array(np.array(("F", "O"))[rng.integers(
            0, 2, size=n_li)], pa.string()),
        "l_shipdate": _ts_us(datetime.date(1995, 1, 1), (
            order_day[li_order] + rng.integers(1, 122, size=n_li)) * _DAY_US),
    })
    # unread by the ad-hoc queries, but the SQL surface registers every
    # fixture table as a view, so they must exist
    n_docs = 50
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array([f"document {i} text" for i in range(n_docs)],
                         pa.string()),
        "lang": pa.array(["en"] * n_docs, pa.string()),
        "source": pa.array(["web"] * n_docs, pa.string()),
        "n_chars": pa.array(np.full(n_docs, 16), pa.int64()),
    })
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_docs), pa.int64()),
        "embedding": pa.array(list(rng.standard_normal(
            (n_docs, 64)).astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(np.arange(n_docs) % 4, pa.int32()),
    })
    for name, t in tables.items():
        land(t, out_dir, f"{name}.parquet")
    return {name: t.num_rows for name, t in tables.items()}
