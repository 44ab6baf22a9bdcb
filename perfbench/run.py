#!/usr/bin/env python3
"""Seeded, oracle-checked benchmark of the splade_spark engine.

    python3 perfbench/run.py --workload build|query --seed N --seconds S \
        --trace 0|1 [--size full|tiny]

Run from the repository root. One process, one closed-loop client, one
``local[<cores>]`` session made by ``splade_spark.session.get_spark``.
The run generates its inputs from ``--seed`` (perfbench/gen.py), sets up
the workload, runs whole rounds of its operations until ``--seconds`` have
passed (at least one), checks every output against an oracle, and prints
two lines: a ``{"detail": ...}`` line (host, sizes, per-operation
latencies under per-operation names such as ``query_single_p50_s``,
percentiles with sample counts) and, last, the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json; ``--trace
1`` enables the Spark event log, runs one more round with every engine
call tagged, and reports the per-layer metrics instead. The exit code is
1 when any output is wrong or no round completed.

All scratch data lives in ``.perfbench_work/`` under the current
directory and is removed at exit; Spark local dirs go there too (on disk,
not tmpfs). The driver heap is sized from host RAM through
``SPLADE_SPARK_DRIVER_MEM``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# this file's own directory would shadow stdlib modules; the repo root
# makes both perfbench and splade_spark importable
if sys.path and os.path.abspath(sys.path[0]) == os.path.dirname(os.path.abspath(__file__)):
    sys.path.pop(0)
sys.path.insert(0, ROOT)

import pandas  # noqa: E402
import pyarrow  # noqa: E402
import pyspark  # noqa: E402

from splade_spark.session import get_spark  # noqa: E402

from perfbench import layers, procs, workloads  # noqa: E402

E2E_UNITS = {"setup_s": "s", "peak_rss_mb": "MB", "op_p50_s": "s", "rate_per_s": "1/s"}

PER_LAYER_UNITS = {
    "documents.s": "s", "tokenize.s": "s", "stats.s": "s", "bm25.s": "s",
    "index.build.encode_s": "s", "index.build.write_s": "s",
    "index.build.shuffle_write_bytes": "B", "index.build.spill_bytes": "B",
    "query.wand.call_s": "s", "query.wand.driver_s": "s",
    "query.wand.kernel_tasks": "count", "query.wand.scheduler_delay_s": "s",
    "query.wand.scan_rows": "count", "query.wand.exchange_bytes": "B",
    "query.wand.kernel_run_s": "s", "query.wand.kernel_cpu_s": "s",
    "query.wand.python_bytes_sent": "B", "query.wand.merge_s": "s",
    "query.served_drift": "ratio",
    "streaming.incremental.segment_s": "s", "index.merge.s": "s",
    "index.merge.bytes_rewritten": "B", "ingest.write_amp": "ratio",
    "ingest.segments_live": "count",
    "pipeline.dedup.exact_s": "s", "pipeline.dedup.ngram_jaccard_s": "s",
    "pipeline.dedup.minhash_s": "s", "pipeline.dedup.simhash_s": "s",
    "pipeline.dedup.minhash_candidates_per_pair": "ratio",
    "pipeline.ann_index.probe_s": "s", "pipeline.ann_index.index_files": "count",
    "spark.jobs": "count", "spark.tasks": "count", "spark.executor_run_s": "s",
    "spark.gc_s": "s", "spark.shuffle_fetch_wait_s": "s", "spark.spill_bytes": "B",
    "trace.overhead_s": "s",
}


def host() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(next(line for line in fh if line.startswith("MemTotal")).split()[1])
    ram_mb = mem_kb // 1024
    return {
        "cores": len(os.sched_getaffinity(0)),
        "ram_mb": ram_mb,
        # an eighth of RAM, at most 2 GiB: ample for these inputs, and it
        # bounds the JVM's share of peak RSS
        "driver_heap_mb": max(1024, min(2048, ram_mb // 8)),
        "spark": pyspark.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "python": platform.python_version(),
    }


class PeakRss:
    """Samples the RSS of this process tree (driver JVM, Python workers)
    and keeps the peak."""

    def __init__(self, interval: float = 0.1):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(interval,), daemon=True)

    def _run(self, interval: float) -> None:
        while not self._stop.wait(interval):
            self.peak = max(self.peak, procs.tree_rss(os.getpid()))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def make_spark(workload: str, workdir: str, facts: dict, evdir: str | None):
    """The session users get (session.get_spark), with a heap sized to the host,
    local dirs on disk under workdir, and the event log when tracing."""
    local = os.path.join(workdir, "spark-local")
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    os.environ["SPLADE_SPARK_DRIVER_MEM"] = f"{facts['driver_heap_mb']}m"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
    }
    if evdir:
        os.makedirs(evdir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + evdir,
            "spark.eventLog.compress": "false",
        })
    return get_spark(f"perfbench-{workload}", cores=facts["cores"], extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and every process under it, and wait
    for each to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    children = [p for p in procs.descendants(os.getpid()) if p != os.getpid()]
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def run_rounds(wl, seconds: float) -> list[float]:
    """Whole rounds until `seconds` have passed; at least one is tried,
    and up to three while none has completed."""
    walls: list[float] = []
    t_start = time.perf_counter()
    tries = 0
    while time.perf_counter() - t_start < seconds or (not walls and tries < 3):
        tries += 1
        t0 = time.perf_counter()
        try:
            wl.round(layers.NullTracer())
            walls.append(time.perf_counter() - t0)
        except workloads.OpFailed:
            pass
        wl.rounds += 1
    return walls


def layer_metrics(wl, spans, log, overhead_s: float) -> dict:
    table = layers.layer_table(spans, log)
    out = {name: 0.0 for name in PER_LAYER_UNITS}
    out.update(wl.layers(table))
    every = [m for ms in table.values() for m in ms]
    out.update({
        "spark.jobs": sum(m["jobs"] for m in every),
        "spark.tasks": sum(m["tasks"] for m in every),
        "spark.executor_run_s": sum(m["run_s"] for m in every),
        "spark.gc_s": sum(m["gc_s"] for m in every),
        "spark.shuffle_fetch_wait_s": sum(m["fetch_wait_s"] for m in every),
        "spark.spill_bytes": sum(m["spill_bytes"] for m in every),
        "trace.overhead_s": overhead_s,
    })
    return out


def run(spark, args, workdir: str, facts: dict):
    """Set up, measure and check one workload on an existing session.

    Returns (workload, tracer, result, detail). For a traced run the
    metrics are left to the caller, which reads the event log once the
    session has stopped and flushed it."""
    wl = workloads.WORKLOADS[args.workload](
        spark, workdir, args.seed, workloads.SIZES[args.size])
    t0 = time.perf_counter()
    wl.setup()
    setup_s = time.perf_counter() - t0
    walls = run_rounds(wl, args.seconds)
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "size": args.size, "host": facts, "sizes": wl.sz,
        "setup_s": setup_s, "rounds": len(walls), "round_walls_s": walls,
    }
    metrics: dict = {}
    tracer = layers.Tracer(spark) if args.trace else None
    if walls and tracer:
        t0 = time.perf_counter()
        try:
            wl.round(tracer)
            detail["traced_round_s"] = time.perf_counter() - t0
            wl.traced_extras(tracer)
        except workloads.OpFailed:
            pass
    elif walls:
        metrics = {"setup_s": (setup_s, "s"), **wl.e2e()}
    if walls:
        detail["named"] = {k: {"value": v, "unit": u} for k, (v, u) in wl.named().items()}
    detail["inputs"] = wl.facts
    detail["ops"] = wl.detail()
    detail["errors"] = wl.errors[:20]
    detail["raised"] = wl.raised[:20]
    result = {
        "correct": not wl.errors,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return wl, tracer, result, detail


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=sorted(workloads.SIZES), default="full")
    args = p.parse_args(argv)

    workdir = os.path.abspath(os.path.join(
        ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}"))
    os.makedirs(workdir)
    evdir = os.path.join(workdir, "events") if args.trace else None
    facts = host()
    try:
        with PeakRss() as rss:
            spark = make_spark(args.workload, workdir, facts, evdir)
            app_id = spark.sparkContext.applicationId
            try:
                wl, tracer, result, detail = run(spark, args, workdir, facts)
            finally:
                stop_spark(spark)
        if args.trace and "traced_round_s" in detail and not wl.failed:
            log = layers.parse_event_log(os.path.join(evdir, app_id))
            overhead = detail["traced_round_s"] - statistics.median(detail["round_walls_s"])
            result["metrics"] = {
                k: {"value": v, "unit": PER_LAYER_UNITS[k]}
                for k, v in layer_metrics(wl, tracer.spans, log, overhead).items()
            }
        if result["metrics"] and not args.trace:
            result["metrics"]["peak_rss_mb"] = {"value": rss.peak / 2**20, "unit": "MB"}
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(workdir))
        except OSError:
            pass
    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps(result), flush=True)
    complete = result["metrics"] and (
        set(result["metrics"]) >= set(PER_LAYER_UNITS if args.trace else E2E_UNITS))
    return 0 if result["correct"] and complete else 1


if __name__ == "__main__":
    sys.exit(main())
