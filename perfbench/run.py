#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload live_tail --seed 1 --seconds 10 \
        --trace 0

Runs one workload against ``local[<all cores>]`` from the root of a
checkout and prints, as its last line, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it carries run details (host probe, sample counts,
set-up repetitions). All inputs come from ``--seed``; everything the
run writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
# a fixed heap well below physical RAM (the engine's default is 16g)
DRIVER_MEM = "2g"
SETUPS = 3
# whole rounds (live_tail: a compaction and two cycles; adhoc_scan: a
# permutation of the queries) an untraced run measures at least, so a
# slow host window cannot leave a run with one round of samples
MIN_ROUNDS = 2


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("live_tail", "adhoc_scan"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--single-core", action="store_true",
                   help="live_tail's single-core baseline pass of a traced "
                        "run: local[1], set up once, no warm-up, no checks")
    return p.parse_args(argv)


def _isolate(work: str, cpus: int) -> None:
    """Pin the engine's environment and keep every file inside ``work``."""
    for d in ("tmp", "spark-local", "warehouse", "eventlog"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["ORACLE_MEMORY_LIMIT"] = "1GB"


def _spark_conf(work: str, event_log: bool) -> dict[str, str]:
    conf = {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap: peak RSS then tracks what the engine touches,
        # not when the collector chose to grow the heap
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEM} -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    return conf


def _stop_jvm() -> None:
    """End the JVM this process started and wait for it: it exits when
    its stdin, a pipe from this process, closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is None or proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def run(args: argparse.Namespace, work: str) -> tuple[dict, dict, dict]:
    """Returns (result line, per-layer values, run details)."""
    from measure import (TAIL_PCT, RssSampler, Tracer, event_log_totals,
                         median, pct)

    traced = bool(args.trace)
    tracer = Tracer(traced)
    from clickhouse_aggregation_spark.session import get_spark
    import workloads

    with RssSampler() as rss:
        t0 = time.perf_counter()
        # the event log (task CPU, shuffle bytes) is read for adhoc_scan
        # only; on live_tail it would slow every batch about twofold
        spark = get_spark("perfbench", extra_conf=_spark_conf(
            work, traced and args.workload == "adhoc_scan"))
        session_s = time.perf_counter() - t0
        try:
            # the traced run times an untraced and a traced phase of half
            # the length each, so it can report what tracing costs
            # setup_s, the median of SETUPS set-ups, is reported by
            # untraced runs only; the others set up once
            ctx = workloads.Ctx(
                spark, tracer, work, args.seed,
                args.seconds / 2 if traced else args.seconds,
                min_rounds=1 if traced or args.single_core else MIN_ROUNDS,
                setups=1 if traced or args.single_core else SETUPS,
                baseline=args.single_core)
            workloads.WORKLOADS[args.workload](
                ctx, [False, True] if traced else [False])
        finally:
            spark.stop()
            _stop_jvm()

    base = ctx.phases[0]
    lat, fresh = base.latency, base.freshness
    e2e = {
        "setup_s": (session_s + median(ctx.setup_reps), "s"),
        "freshness_p50_s": (median(fresh), "s"),
        "freshness_tail_s": (pct(fresh, TAIL_PCT), "s"),
        "ingest_rows_per_s": (base.rows / base.wall, "rows/s"),
        "latency_p50_s": (median(lat), "s"),
        "latency_tail_s": (pct(lat, TAIL_PCT), "s"),
        "queries_per_s": (len(lat) / base.wall, "1/s"),
        "peak_rss_mb": (rss.peak / 2 ** 20, "MB"),
    }
    details = {
        "workload": args.workload, "seed": args.seed,
        "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "session_start_s": session_s,
        "peak_rss_mb_by_process": {k: round(v / 2 ** 20)
                                   for k, v in rss.peak_by_pid.items()},
        "setup_reps_s": ctx.setup_reps,
        "samples": {"latency": len(lat), "freshness": len(fresh)},
        "tail_percentile": TAIL_PCT,
        **ctx.info,
    }

    layers: dict[str, tuple[float, str]] = {}
    if traced:
        ph = ctx.phases[-1]
        v = tracer.values

        def med(name: str) -> float:
            return median(v.get(name, []))

        ev = event_log_totals(os.path.join(work, "eventlog"),
                              ph.wall_start * 1e3, ph.wall_end * 1e3,
                              "adhoc.jobs")
        n_adhoc = max(len(v.get("adhoc.exec_s", [])), 1)
        layers = {
            "session.start_s": (session_s, "s"),
            "maintainer.batch_s": (med("maintainer.batch_s"), "s"),
            "maintainer.jobs_per_batch": (med("maintainer.jobs_per_batch"),
                                          "count"),
            "maintainer.add_batch_s": (med("maintainer.add_batch_s"), "s"),
            "maintainer.trigger_overhead_s":
                (med("maintainer.trigger_overhead_s"), "s"),
            "maintainer.latest_offset_s":
                (med("maintainer.latest_offset_s"), "s"),
            "maintainer.wal_commit_s": (med("maintainer.wal_commit_s"), "s"),
            "maintainer.commit_offsets_s":
                (med("maintainer.commit_offsets_s"), "s"),
            **{f"rollup.process_batch_s.{r}":
               (med(f"rollup.process_batch_s.{r}"), "s")
               for r in workloads.ROLLUP_NAMES},
            "rollup.compact_s": (med("rollup.compact_s"), "s"),
            "maintainer.cycle_trend": (med("maintainer.cycle_trend"),
                                       "ratio"),
            "rollup.store_files": (med("rollup.store_files"), "count"),
            "rollup.store_mb": (med("rollup.store_mb"), "MB"),
            "rollup.read_plan_s": (med("rollup.read_plan_s"), "s"),
            "rollup.read_exec_s": (med("rollup.read_exec_s"), "s"),
            "rollup.read_jobs": (med("rollup.read_jobs"), "count"),
            "adhoc.plan_s": (med("adhoc.plan_s"), "s"),
            "adhoc.exec_s": (med("adhoc.exec_s"), "s"),
            "adhoc.jobs": (med("adhoc.jobs"), "count"),
            "adhoc.shuffle_mb": (ev["shuffle_mb"] / n_adhoc, "MB"),
            "adhoc.task_cpu_s": (ev["cpu_s"] / n_adhoc, "s"),
            "sources.transfers_synth_s":
                (med("sources.transfers_synth_s"), "s"),
            "jvm.gc_s": (ph.gc_s, "s"),
            "process.cpu_s": (ph.cpu_s, "s"),
            "host.calibration_s":
                (median(list(ctx.info["host.calibration_s"].values())), "s"),
            "trace.overhead_s": (median(ph.latency) - median(lat), "s"),
        }
        tracer.write(os.path.join(
            WORK_ROOT, f"trace-{args.workload}-{args.seed}.json"))

    result = {"correct": ctx.failed == 0,
              "attempted": ctx.attempted,
              "failed": ctx.failed}
    return result, (layers if traced else e2e), details


def single_core_pass(args: argparse.Namespace, deadline: float) -> dict:
    """The single-core baseline: this workload again on ``local[1]``."""
    # a third of the timed phase keeps the traced run within its budget
    cmd = [sys.executable, os.path.abspath(__file__),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(max(args.seconds / 3, 1)), "--trace", "0",
           "--single-core"]
    try:
        proc = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT,
                              timeout=max(deadline - time.monotonic(), 1))
    finally:                         # a killed pass leaves its run directory
        for d in glob.glob(os.path.join(
                WORK_ROOT, f"{args.workload}-{args.seed}-*")):
            shutil.rmtree(d, ignore_errors=True)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise RuntimeError("single-core pass failed")
    return json.loads(proc.stdout.strip().splitlines()[-1])["metrics"]


def main(argv=None) -> int:
    started = time.monotonic()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "clickhouse_aggregation_spark")):
        print("perfbench: run from a checkout of the engine "
              "(clickhouse_aggregation_spark/ not found)", file=sys.stderr)
        return 2
    cpus = 1 if args.single_core else len(os.sched_getaffinity(0))
    work = os.path.join(WORK_ROOT,
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work, cpus)
    sys.path[:0] = [ROOT, HERE]
    try:
        result, metrics, details = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace and args.workload == "live_tail":
        single = single_core_pass(args, started + 170)
        metrics["single_core.freshness_p50_s"] = (
            single["freshness_p50_s"]["value"], "s")
        metrics["single_core.ingest_rows_per_s"] = (
            single["ingest_rows_per_s"]["value"], "rows/s")
    elif args.trace:
        metrics["single_core.freshness_p50_s"] = (0.0, "s")
        metrics["single_core.ingest_rows_per_s"] = (0.0, "rows/s")
    print(json.dumps(details))
    result["metrics"] = {k: {"value": v, "unit": u}
                         for k, (v, u) in metrics.items()}
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
