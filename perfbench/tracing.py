"""Spans around the benchmark's calls into the package, and the Spark
engine numbers folded onto them.

A span records name, start, end, parent and the op index (the request id)
in memory; :meth:`Tracer.write` writes them out when the run ends. While a
span is open its id is the Spark job description, so the event log can be
folded back onto spans: jobs, stages, tasks, executor run/CPU/GC time,
shuffle writes, spill, and the driver-only time (the span's self time minus
the union of its own job intervals). Codegen compile time is the delta of
Spark's ``CodegenMetrics`` histogram across the span, less its children's.

With ``enabled=False`` a span is a no-op, so the timed runs pay nothing.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from collections import defaultdict

DESC_PREFIX = "perfbench:"

SPARK_FIELDS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "spill_bytes", "codegen_compile_ms", "driver_only_s",
)


class Tracer:
    def __init__(self, enabled: bool = False, spark=None) -> None:
        self.enabled = enabled
        self.spark = spark
        self.spans: list[dict] = []
        self.request: int | None = None
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "req": self.request,
            "start": time.time(),
        }
        self.spans.append(rec)
        self._stack.append(sid)
        if self.spark is not None:
            rec["codegen0"] = codegen_compile_ms(self.spark)
            self.spark.sparkContext.setJobDescription(f"{DESC_PREFIX}{sid}")
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()
            if self.spark is not None:
                outer = f"{DESC_PREFIX}{self._stack[-1]}" if self._stack else None
                self.spark.sparkContext.setJobDescription(outer)
                rec["codegen_compile_ms"] = (
                    codegen_compile_ms(self.spark) - rec.pop("codegen0")
                )

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part its (sequential) children cover."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["dur"]
    return {s["id"]: s["dur"] - child[s["id"]] for s in spans}


def codegen_compile_ms(spark) -> float:
    """Total whole-stage codegen compile time so far in this JVM. The
    histogram's reservoir holds every sample up to 1028 compiles, so
    mean × count is exact until then and an estimate after."""
    h = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return float(h.getSnapshot().getMean()) * int(h.getCount())


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def find_event_log(directory: str) -> str:
    files = [
        os.path.join(directory, f) for f in os.listdir(directory)
        if not f.startswith(".")
    ]
    if len(files) != 1 or not os.path.isfile(files[0]):
        raise RuntimeError(f"expected one event log file in {directory}, got {files}")
    return files[0]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def fold_event_log(path: str, spans: list[dict]) -> dict[int, dict]:
    """Per span id: the engine numbers of the Spark jobs tagged with it.
    Jobs belong to the innermost open span when they were submitted."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stage_done: dict[int, int] = defaultdict(int)
    tasks: list[dict] = []
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                desc = (ev.get("Properties") or {}).get("spark.job.description") or ""
                if not desc.startswith(DESC_PREFIX):
                    continue
                jid = ev["Job ID"]
                jobs[jid] = {
                    "span": int(desc[len(DESC_PREFIX):]),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                }
                for st in ev.get("Stage IDs", []):
                    stage_job.setdefault(st, jid)
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                stage_done[ev["Stage Info"]["Stage ID"]] += 1
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)

    out = {s["id"]: {f: 0.0 for f in SPARK_FIELDS} for s in spans}
    intervals: dict[int, list] = defaultdict(list)
    for j in jobs.values():
        if j["span"] in out:
            out[j["span"]]["jobs"] += 1
            intervals[j["span"]].append((j["start"], j["end"] or j["start"]))
    for st, n in stage_done.items():
        jid = stage_job.get(st)
        if jid is not None and jobs[jid]["span"] in out:
            out[jobs[jid]["span"]]["stages"] += n
    for ev in tasks:
        jid = stage_job.get(ev["Stage ID"])
        if jid is None or jobs[jid]["span"] not in out:
            continue
        o = out[jobs[jid]["span"]]
        m = ev.get("Task Metrics") or {}
        o["tasks"] += 1
        o["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
        o["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        o["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        o["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0
        )
        o["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
    selfs = self_times(spans)
    child_codegen: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_codegen[s["parent"]] += s.get("codegen_compile_ms", 0.0)
    for s in spans:
        o = out[s["id"]]
        # the JVM-wide counter also ticks inside child spans: keep self only
        o["codegen_compile_ms"] = s.get("codegen_compile_ms", 0.0) - child_codegen[s["id"]]
        clipped = [
            (max(a, s["start"]), min(b, s["end"]))
            for a, b in intervals[s["id"]]
            if min(b, s["end"]) > max(a, s["start"])
        ]
        o["job_s"] = _union_s(clipped)
        # self time, not wall: a child span's jobs belong to the child
        o["driver_only_s"] = max(0.0, selfs[s["id"]] - o["job_s"])
    return out
