"""The workloads: live_tail and adhoc_scan.

Each workload runs its operation shape once untimed on a throwaway
store, sets up several times, runs a closed loop with one client for
the run's seconds, and then checks its outputs outside the timed phase.
Layers are timed from here, by wrapping calls to their public functions.
"""

from __future__ import annotations

import itertools
import os
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from urllib.parse import urlparse

import pyarrow.compute as pc

from clickhouse_aggregation_spark.operators import REGISTRY
from clickhouse_aggregation_spark.plans.monitoring import streaming_progress
from clickhouse_aggregation_spark.schemas import TRANSFERS
from clickhouse_aggregation_spark.sources.transfers import transfers_df
from clickhouse_aggregation_spark.streaming.maintainer import (
    INCREMENTAL_ROLLUPS, run_maintainer_stream)

import dashboard
import gen
from measure import (JobCounter, Tracer, calibration_probe, cpu_seconds,
                     jvm_gc_seconds, median)

ROLLUP_NAMES = tuple(r.name for r in INCREMENTAL_ROLLUPS)

# live_tail
LIVE_HISTORY_SHARDS = 4         # backlog the maintainer absorbs at start
COMPACT_EVERY = 2               # shards per compaction round
TREND_LIMIT = 1.5               # cycle-time growth that fails the run
# adhoc_scan: the reference-surface registry queries
ADHOC_QUERIES = (
    "mv_usdc_daily_block", "mv_top_senders", "mv_top_addresses",
    "readme_daily_volume_7d", "retraction_net_daily", "dedup_latest_version",
    "sql_adhoc_whale_report", "tiered_union_stats",
    "tpch_q3_shipping_priority", "tpch_q5_local_supplier_volume",
)
# sized so executor work is most of a query's time (see README.md)
ADHOC_EVENTS = 100_000
ADHOC_ORDERS = 50_000


class Phase:
    """The samples of one timed phase."""

    def __init__(self, seconds: float, min_rounds: int,
                 freshness: list[float]) -> None:
        self.seconds = seconds
        self.min_rounds = min_rounds
        self.rounds = 0
        self.latency: list[float] = []
        self.freshness = freshness
        self.cycles: list[float] = []   # live_tail: absorb + reads
        self.rows = 0                   # rows ingested or scanned
        self.wall_start = time.time()
        self.cpu0 = cpu_seconds()
        self.t0 = time.perf_counter()

    def running(self) -> bool:
        """Whether to start another round: at least ``min_rounds``, then
        until ``seconds`` have passed."""
        go = (self.rounds < self.min_rounds
              or time.perf_counter() - self.t0 < self.seconds)
        self.rounds += go
        return go

    def finish(self) -> None:
        self.wall = time.perf_counter() - self.t0
        self.wall_end = time.time()
        self.cpu_s = cpu_seconds() - self.cpu0


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    seconds: float
    min_rounds: int             # rounds per phase at least
    setups: int                 # set-ups per run
    baseline: bool              # live_tail's single-core pass: figures
                                # only, no warm-up and no gate
    jobs: JobCounter = None
    attempted: int = 0
    failed: int = 0
    setup_reps: list = field(default_factory=list)
    phases: list = field(default_factory=list)
    info: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        self.jobs = JobCounter(self.spark, self.tracer)

    @contextmanager
    def phase(self, traced: bool, freshness: list[float] | None = None):
        """One timed phase of ``seconds``; the tracer is on iff ``traced``.
        ``freshness`` passes in samples the workload took in set-up."""
        self.tracer.enabled = traced
        gc0 = jvm_gc_seconds(self.spark)
        ph = Phase(self.seconds, self.min_rounds, list(freshness or []))
        try:
            yield ph
        finally:
            ph.finish()
            ph.gc_s = jvm_gc_seconds(self.spark) - gc0
            self.phases.append(ph)

    def calibrate(self, when: str) -> None:
        """The fixed-cost host probe, next to the timed phases."""
        self.info.setdefault("host.calibration_s", {})[when] = \
            calibration_probe(self.spark)

    def mark(self, stage: str) -> None:
        """Record when a stage of the run ended (seconds since start)."""
        self.info.setdefault("stages_s", {})[stage] = round(
            time.perf_counter() - self.tracer.t0, 2)

    def dir(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def op_failed(self, what: str) -> None:
        self.failed += 1
        print(f"perfbench: {what} failed", file=sys.stderr)
        traceback.print_exc(file=sys.stderr)

    def check(self, ok: bool, what: str) -> None:
        """One correctness-gate check; a failure counts against the run."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)


# ---------------------------------------------------------------------------
# the maintainer, timed from outside

class _TimedRollup:
    """Delegates to an IncrementalRollup, timing ``process_batch`` and
    putting its Spark jobs in a job group of their own."""

    def __init__(self, rollup, maintainer: "Maintainer") -> None:
        self._rollup = rollup
        self._m = maintainer

    def __getattr__(self, name):
        return getattr(self._rollup, name)

    def process_batch(self, batch, root, epoch_id=0):
        m = self._m
        m.last_batch = epoch_id
        m.ctx.spark.sparkContext.setJobGroup(
            m.batch_group(epoch_id), self._rollup.name)
        with m.ctx.tracer.span(
                f"rollup.process_batch_s.{self._rollup.name}"):
            self._rollup.process_batch(batch, root, epoch_id)


class Maintainer:
    """One ``run_maintainer_stream(available_now=False)`` query."""

    _ids = itertools.count()

    def __init__(self, ctx: Ctx, src: str, store: str) -> None:
        self.ctx = ctx
        self.group = f"maintainer{next(self._ids)}"
        self.last_batch = None       # the newest batch the rollups saw
        rollups = INCREMENTAL_ROLLUPS
        if ctx.tracer.enabled:
            rollups = tuple(_TimedRollup(r, self) for r in rollups)
        self.query = run_maintainer_stream(ctx.spark, src, store, rollups,
                                           available_now=False)
        self.run_id = str(self.query.runId)

    def batch_group(self, batch_id: int) -> str:
        return f"{self.group}#{batch_id}"

    def stream_jobs(self) -> int | None:
        """Jobs run so far on the stream's own thread (traced only); take
        it before a shard lands, so none of its batch's jobs are missed."""
        if not self.ctx.tracer.enabled:
            return None
        return self.ctx.jobs.in_group(self.run_id)

    def absorb(self, stream_jobs0: int | None = None) -> None:
        """Process every landed shard."""
        self.last_batch = None
        with self.ctx.tracer.span("maintainer.batch_s"):
            self.query.processAllAvailable()
        if self.ctx.tracer.enabled and self.last_batch is not None:
            self._record_progress(self.last_batch, stream_jobs0)

    def _record_progress(self, batch_id: int,
                         stream_jobs0: int | None) -> None:
        """Per-batch figures of the batch just absorbed, looked up by its
        own id (an idle trigger can report after it)."""
        progress = streaming_progress(self.query)
        if progress.get("batchId") != batch_id:
            progress = next((p for p in self.query.recentProgress
                             if p["batchId"] == batch_id), {})
        dur = progress.get("durationMs") or {}
        if "addBatch" not in dur:
            return
        t = self.ctx.tracer
        t.add("maintainer.add_batch_s", dur["addBatch"] / 1e3)
        t.add("maintainer.trigger_overhead_s",
              (dur["triggerExecution"] - dur["addBatch"]) / 1e3)
        t.add("maintainer.latest_offset_s", dur.get("latestOffset", 0) / 1e3)
        t.add("maintainer.wal_commit_s", dur.get("walCommit", 0) / 1e3)
        t.add("maintainer.commit_offsets_s",
              dur.get("commitOffsets", 0) / 1e3)
        if stream_jobs0 is not None:
            # jobs on the stream's own thread, plus the foreachBatch writes
            jobs = self.ctx.jobs
            t.add("maintainer.jobs_per_batch",
                  jobs.in_group(self.run_id) - stream_jobs0
                  + jobs.in_group(self.batch_group(batch_id)))

    def stop(self) -> None:
        self.query.stop()


def compact_all(ctx: Ctx, store: str) -> None:
    for r in INCREMENTAL_ROLLUPS:
        with ctx.tracer.span("rollup.compact_s"):
            r.compact(ctx.spark, store)


def store_stats(store: str) -> tuple[int, float]:
    """Parquet files and MiB in a rollup store, checkpoint excluded."""
    n, size = 0, 0
    for dirpath, _dirs, files in os.walk(store):
        if "_checkpoint" in dirpath:
            continue
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, f))
    return n, size / 2 ** 20


def dashboard_read(ctx: Ctx, store: str, query: str, value):
    """One dashboard answer: read + filter/top-k + collect()."""
    with ctx.jobs.group("rollup.read_jobs"):
        t0 = time.perf_counter()
        df = dashboard.build(ctx.spark, store, query, value)
        t1 = time.perf_counter()
        rows = df.collect()
    ctx.tracer.add("rollup.read_plan_s", t1 - t0)
    ctx.tracer.add("rollup.read_exec_s", time.perf_counter() - t1)
    return [tuple(r) for r in rows], df.columns


# ---------------------------------------------------------------------------
# correctness gates

def gate_rollups(ctx: Ctx, src: str, store: str) -> dict:
    """Every rollup's read() must equal recompute() over all landed rows,
    late retractions included. Returns the recomputed states as pandas
    frames for the answer check."""
    from tests.oracle import canon

    landed = ctx.spark.read.schema(TRANSFERS).parquet(src)
    states = {}
    for r in INCREMENTAL_ROLLUPS:
        want = r.recompute(landed).toPandas()
        got = r.read(ctx.spark, store).toPandas()
        ctx.check(canon(got) == canon(want),
                  f"rollup {r.name}: read() != recompute()")
        states[r.name] = want
    return states


def gate_answers(ctx: Ctx, states: dict, answers: dict) -> None:
    """Dashboard answers must equal the same queries run by DuckDB over
    the recomputed rollup states."""
    import decimal

    import duckdb
    import pandas as pd
    from tests.oracle import canon

    con = duckdb.connect()
    try:
        for name, pdf in states.items():
            pdf = pdf.copy()
            for col in pdf.columns:     # Decimal -> exact Python int
                if len(pdf) and isinstance(pdf[col].iloc[0], decimal.Decimal):
                    pdf[col] = pdf[col].map(int)
            con.register(name, pdf)
        for (query, value), (rows, cols) in answers.items():
            sql = dashboard.ORACLE_SQL[query]
            res = con.execute(sql, {"p": value} if "$p" in sql else {})
            want = pd.DataFrame(res.fetchall(),
                                columns=[d[0] for d in res.description])
            ctx.check(canon(pd.DataFrame(rows, columns=cols)) == canon(want),
                      f"dashboard answer {query}({value!r})")
    finally:
        con.close()


# ---------------------------------------------------------------------------
# live_tail

def _shard_name(i: int) -> str:
    return f"shard-{i:05d}.parquet"


def _tip(shard) -> dashboard.Tip:
    return dashboard.Tip(pc.max(shard["block_number"]).as_py())


def _freshness_cycle(ctx: Ctx, m: Maintainer, src: str, store: str,
                     shard, name: str, params, ph: Phase | None) -> dict:
    """Land one shard, absorb it and issue the dashboard reads. The
    shard's freshness is timed from it becoming visible to the last of
    the answers that include it."""
    stream_jobs0 = m.stream_jobs()
    gen.land(shard, src, name)
    visible = time.perf_counter()
    m.absorb(stream_jobs0)
    tip = _tip(shard)
    answers = {}
    for query, p in params:
        value = tip.resolve(query, p)
        t0 = time.perf_counter()
        answers[(query, value)] = dashboard_read(ctx, store, query, value)
        if ph is not None:
            ph.latency.append(time.perf_counter() - t0)
    if ph is not None:
        ph.freshness.append(time.perf_counter() - visible)
    return answers


def live_tail(ctx: Ctx, phases: list[bool]) -> None:
    tail = gen.TransferTail(ctx.seed)
    shards = [tail.next_shard()
              for _ in range(LIVE_HISTORY_SHARDS + COMPACT_EVERY)]
    n_reads = len(gen.DASHBOARD_QUERIES)
    param_stream = gen.dashboard_params(ctx.seed, 50 * n_reads, tail)

    def params(k: int):
        k %= len(param_stream) // n_reads
        return param_stream[k * n_reads:(k + 1) * n_reads]

    m = None
    for rep in range(ctx.setups):
        src = ctx.dir(f"live{rep}", "src")
        store = ctx.dir(f"live{rep}", "store")
        for i in range(LIVE_HISTORY_SHARDS):
            gen.land(shards[i], src, _shard_name(i))
        landed = LIVE_HISTORY_SHARDS     # shards in this store
        t0 = time.perf_counter()
        m = Maintainer(ctx, src, store)
        m.absorb()
        ctx.setup_reps.append(time.perf_counter() - t0)
        if rep == 0 and not ctx.baseline:
            # untimed warm-up, on a throwaway store unless the run sets
            # up once: the operation shape of a round (compaction, then
            # a cycle)
            compact_all(ctx, store)
            _freshness_cycle(ctx, m, src, store, shards[landed],
                             _shard_name(landed), params(0), None)
            landed += 1
        if rep < ctx.setups - 1:     # the last set-up's store is timed
            m.stop()

    ctx.mark("setup")
    ctx.calibrate("pre")
    answers: dict = {}               # the last cycle's
    k = 0                            # timed cycles so far
    files_after_compact: list[int] = []
    try:
        for traced in phases:
            if traced:               # per-layer figures from this phase only
                ctx.tracer.values.clear()
            with ctx.phase(traced) as ph:
                # whole rounds only (a compaction between batches, then
                # COMPACT_EVERY shards), so every run has the same mix
                while ph.running():
                    ctx.attempted += 1
                    try:
                        compact_all(ctx, store)
                        files_after_compact.append(store_stats(store)[0])
                        for _ in range(COMPACT_EVERY):
                            if landed >= len(shards):
                                shards.append(tail.next_shard())
                            c0 = time.perf_counter()
                            answers = _freshness_cycle(
                                ctx, m, src, store, shards[landed],
                                _shard_name(landed), params(k), ph)
                            ph.cycles.append(time.perf_counter() - c0)
                            ph.rows += shards[landed].num_rows
                            landed += 1
                            k += 1
                    except Exception:
                        ctx.op_failed(f"live_tail cycle {k}")
                        break
    finally:
        m.stop()
    ctx.calibrate("post")

    # growth within the untraced phase, so tracing cost is not read as
    # growth (compaction excluded)
    cycles = ctx.phases[0].cycles
    half = len(cycles) // 2
    trend = median(cycles[half:]) / median(cycles[:half]) if half else 1.0
    files, mb = store_stats(store)
    ctx.tracer.add("maintainer.cycle_trend", trend)
    ctx.tracer.add("rollup.store_files", files)
    ctx.tracer.add("rollup.store_mb", mb)
    ctx.info.update(cycles=[len(ph.cycles) for ph in ctx.phases],
                    cycle_trend=round(trend, 3),
                    files_after_compact=files_after_compact)
    # unbounded growth fails the run
    ctx.check(trend <= TREND_LIMIT,
              f"maintainer cycle time grew {trend:.2f}x over the run")
    ctx.check(all(n <= files_after_compact[0]
                  for n in files_after_compact[1:]),
              f"store files grow across compactions: {files_after_compact}")

    ctx.mark("timed")
    if ctx.baseline:
        return
    states = gate_rollups(ctx, src, store)
    # the last cycle's answers were read over the final store
    gate_answers(ctx, states, answers)
    ctx.mark("gate")


# ---------------------------------------------------------------------------
# adhoc_scan

def _run_query(ctx: Ctx, name: str, fixture: str) -> None:
    """One ad-hoc query to completion with the ``noop`` sink."""
    with ctx.jobs.group("adhoc.jobs"):
        t0 = time.perf_counter()
        df = REGISTRY[name].fn(ctx.spark, fixture)
        t1 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
    ctx.tracer.add("adhoc.plan_s", t1 - t0)
    ctx.tracer.add("adhoc.exec_s", time.perf_counter() - t1)


def adhoc_scan(ctx: Ctx, phases: list[bool]) -> None:
    import numpy as np

    rng = np.random.default_rng([ctx.seed, 3])
    # untimed warm-up: every query once over a throwaway fixture of the
    # same size, so the code the timed queries run is compiled
    warm = ctx.dir("adhoc-warmup")
    gen.write_star_tables(warm, ctx.seed, ADHOC_EVENTS, ADHOC_ORDERS)
    for name in ADHOC_QUERIES:
        REGISTRY[name].fn(ctx.spark, warm).write.format("noop") \
            .mode("overwrite").save()

    fixture, rows = None, {}
    for rep in range(ctx.setups):
        fixture = ctx.dir(f"adhoc{rep}")
        t0 = time.perf_counter()
        rows = gen.write_star_tables(fixture, ctx.seed, ADHOC_EVENTS,
                                     ADHOC_ORDERS)
        ctx.setup_reps.append(time.perf_counter() - t0)

    # the first answer of each query over the newly landed tables, in a
    # fixed order so each query meets the same JIT state in every run;
    # the answers are kept for the oracle check. ``scanned``: the rows
    # of the files each query's plan reads
    file_rows = {os.path.join(fixture, f"{t}.parquet"): n
                 for t, n in rows.items()}
    fresh, answers, scanned = [], {}, {}
    for name in ADHOC_QUERIES:
        t0 = time.perf_counter()
        df = REGISTRY[name].fn(ctx.spark, fixture)
        answers[name] = df.toPandas()
        fresh.append(time.perf_counter() - t0)
        scanned[name] = sum(file_rows.get(urlparse(f).path, 0)
                            for f in df.inputFiles())
    ctx.mark("setup")
    ctx.calibrate("pre")
    for traced in phases:
        with ctx.phase(traced, fresh) as ph:
            # whole permutations only, so every query runs equally often
            while ph.running():
                for name in rng.permutation(ADHOC_QUERIES):
                    ctx.attempted += 1
                    t0 = time.perf_counter()
                    try:
                        _run_query(ctx, name, fixture)
                    except Exception:
                        ctx.op_failed(f"adhoc {name}")
                        continue
                    ph.latency.append(time.perf_counter() - t0)
                    ph.rows += scanned[name]
    ctx.calibrate("post")

    if ctx.tracer.enabled:           # traced run: time the synthesis alone
        synth = []
        for _ in range(3):
            t0 = time.perf_counter()
            transfers_df(ctx.spark, fixture).write.format("noop") \
                .mode("overwrite").save()
            synth.append(time.perf_counter() - t0)
        ctx.tracer.add("sources.transfers_synth_s", median(synth))
    ctx.mark("timed")

    # correctness: each first answer against the query's DuckDB oracle
    from tests.oracle import canon, duckdb_con

    con = duckdb_con(fixture)
    try:
        for name, got in answers.items():
            want = con.execute(REGISTRY[name].oracle).df()
            ctx.check(sorted(got.columns) == sorted(want.columns)
                      and canon(got) == canon(want),
                      f"adhoc {name} differs from its oracle")
    finally:
        con.close()
    ctx.mark("gate")


WORKLOADS = {
    "live_tail": live_tail,
    "adhoc_scan": adhoc_scan,
}
