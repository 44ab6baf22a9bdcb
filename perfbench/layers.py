"""Spans recorded around engine calls, and the event-log parser that turns
them into per-layer numbers.

A traced run tags every engine call with ``setJobDescription(<tag>)``,
where the tag is ``<layer>#<n>``, and keeps the call's wall-clock span in
memory. After the session stops, ``layer_table`` joins the spans with the
Spark event log by that tag: jobs, stages and task metrics per span.
Untraced runs use ``NullTracer``, which tags nothing.

The event-log reading and per-task accumulation reuse
``experiments/scale_probe.py`` (``_evlog_lines``, ``_accum``).
"""

from __future__ import annotations

import contextlib
import importlib.util
import json
import os
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# SQL metric the Python-UDF exec nodes report per task: bytes handed from
# the JVM to the Python workers (Arrow batches)
PY_SENT = "data sent to Python workers"


def _scale_probe():
    spec = importlib.util.spec_from_file_location(
        "scale_probe", os.path.join(ROOT, "experiments", "scale_probe.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class Span:
    __slots__ = ("layer", "tag", "t0", "t1")

    def __init__(self, layer: str, tag: str, t0: float):
        self.layer, self.tag, self.t0, self.t1 = layer, tag, t0, t0


class NullTracer:
    """Untraced runs: no job tags, no spans."""

    enabled = False

    @contextlib.contextmanager
    def span(self, layer: str):
        yield None


class Tracer:
    enabled = True

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []

    @contextlib.contextmanager
    def span(self, layer: str):
        s = Span(layer, f"{layer}#{len(self.spans)}", time.time())
        self.sc.setJobDescription(s.tag)
        try:
            yield s
        finally:
            s.t1 = time.time()
            self.sc.setJobDescription(None)
            self.spans.append(s)


def parse_event_log(path: str) -> dict:
    """{jobs: {id: {desc, t0, t1, stages}}, stages: {id: metrics}}.

    Stage metrics are scale_probe's ``_accum`` totals (run_ms, cpu_ms,
    gc_ms, fetch_wait_ms, sched_gap_ms, n_tasks, ...) plus exact byte
    counts: shuffle_write_bytes, spill_bytes, py_sent_bytes, and the
    stage's completion time t1 (epoch s)."""
    probe = _scale_probe()
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for line in probe._evlog_lines(path):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        e = ev.get("Event")
        if e == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "desc": props.get("spark.job.description"),
                "t0": ev["Submission Time"] / 1e3,
                "t1": None,
                "stages": list(ev.get("Stage IDs", [])),
            }
        elif e == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1e3
        elif e == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            st = stages.setdefault(si["Stage ID"], {})
            if si.get("Completion Time"):
                st["t1"] = si["Completion Time"] / 1e3
        elif e == "SparkListenerTaskEnd":
            st = stages.setdefault(ev["Stage ID"], {})
            tm = ev.get("Task Metrics") or {}
            ti = ev.get("Task Info") or {}
            probe._accum(st, tm, ti)
            swm = tm.get("Shuffle Write Metrics") or {}
            st["shuffle_write_bytes"] = (
                st.get("shuffle_write_bytes", 0) + swm.get("Shuffle Bytes Written", 0)
            )
            st["spill_bytes"] = (
                st.get("spill_bytes", 0)
                + tm.get("Memory Bytes Spilled", 0)
                + tm.get("Disk Bytes Spilled", 0)
            )
            sent = sum(
                int(a.get("Update") or 0)
                for a in ti.get("Accumulables") or []
                if a.get("Name") == PY_SENT
            )
            st["py_sent_bytes"] = st.get("py_sent_bytes", 0) + sent
    return {"jobs": jobs, "stages": stages}


def _covered(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Length of [t0, t1] covered by the union of intervals."""
    total, end = 0.0, t0
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, t1)
        if b > a:
            total += b - a
            end = b
    return total


def span_metrics(span: Span, log: dict) -> dict:
    """Spark-side numbers of one span, from the jobs tagged with its tag.

    A stage listed by several jobs (a reused, skipped stage) is counted
    once; only stages that ran tasks contribute."""
    jobs = [j for j in log["jobs"].values() if j["desc"] == span.tag]
    sids = sorted({s for j in jobs for s in j["stages"]})
    stages = [log["stages"][s] for s in sids if log["stages"].get(s, {}).get("n_tasks")]
    kernel = [st for st in stages if st.get("py_sent_bytes", 0) > 0]
    wall = span.t1 - span.t0
    job_iv = [(j["t0"], j["t1"] or span.t1) for j in jobs]

    def tot(key, sts=stages):
        return float(sum(st.get(key, 0) for st in sts))

    kernel_end = max((st.get("t1", span.t0) for st in kernel), default=None)
    return {
        "wall_s": wall,
        "driver_s": wall - _covered(job_iv, span.t0, span.t1),
        "jobs": float(len(jobs)),
        "tasks": tot("n_tasks"),
        "run_s": tot("run_ms") / 1e3,
        "cpu_s": tot("cpu_ms") / 1e3,
        "gc_s": tot("gc_ms") / 1e3,
        "fetch_wait_s": tot("fetch_wait_ms") / 1e3,
        "scheduler_delay_s": tot("sched_gap_ms") / 1e3,
        "shuffle_write_bytes": tot("shuffle_write_bytes"),
        "spill_bytes": tot("spill_bytes"),
        "py_sent_bytes": tot("py_sent_bytes"),
        "kernel_tasks": tot("n_tasks", kernel),
        "kernel_run_s": tot("run_ms", kernel) / 1e3,
        "kernel_cpu_s": tot("cpu_ms", kernel) / 1e3,
        "after_kernel_s": (span.t1 - kernel_end) if kernel_end else 0.0,
    }


def layer_table(spans: list[Span], log: dict) -> dict[str, list[dict]]:
    """layer -> one span_metrics dict per span of that layer, in order."""
    out: dict[str, list[dict]] = {}
    for s in spans:
        out.setdefault(s.layer, []).append(span_metrics(s, log))
    return out
