"""Spans and the Spark job/stage ledger, read from outside the engine.

A ``Tracer`` records spans (name, start, end, parent) in memory. Layer
spans come from wrapping a layer's public function; job and stage spans
come from Spark's own status store (``AppStatusStore``), which stays live
with the UI disabled. Jobs are attributed to the innermost span whose
time window holds their submission time, never by job group: streaming
micro-batches and ``overlap_jobs`` threads run under groups of their own.

All span times are epoch seconds (``time.time()``), the clock Spark's
status store stamps submissions and completions with (milliseconds).
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

from py4j.protocol import Py4JJavaError

# stage fields summed into the ledger, status-store name -> ledger name
STAGE_SUMS = {
    "numTasks": "tasks",
    "numFailedTasks": "failed_tasks",
    "executorRunTime": "executor_run_ms",
    "jvmGcTime": "gc_ms",
    "inputBytes": "input_bytes",
    "outputBytes": "output_bytes",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "diskBytesSpilled": "spill_bytes",
}


_MS = 0.002  # status-store stamps are whole milliseconds


class Tracer:
    """In-memory span recorder; a no-op while ``on`` is False."""

    def __init__(self):
        self.on = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield None
            return
        s = {"id": len(self.spans), "name": name, "t0": time.time(), "t1": None,
             "parent": self._stack[-1]["id"] if self._stack else None, **attrs}
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s["t1"] = time.time()
            self._stack.pop()

    def wrap(self, name: str, fn):
        """``fn`` with a span named ``name`` around every call."""

        @functools.wraps(fn)
        def wrapped(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return wrapped

    def subtree(self, root: dict) -> list[dict]:
        """``root`` and every span below it (spans are appended in start
        order, so descendants follow their ancestor)."""
        ids, out = {root["id"]}, [root]
        for s in self.spans[root["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                out.append(s)
        return out

    def adopt(self, root: dict, records: list[dict], kind: str) -> list[dict]:
        """Attach status-store records as child spans of the innermost
        span under ``root`` whose window holds their submission time."""
        scope = [s for s in self.subtree(root) if s["t1"] is not None]
        lo, hi = root["t0"] - _MS, root["t1"] + _MS
        out = []
        for r in records:
            t0 = r["t0"]
            if not lo <= t0 <= hi:
                continue
            holders = [s for s in scope if s["t0"] <= t0 <= s["t1"]] or [root]
            parent = max(holders, key=lambda s: s["t0"])
            s = {"id": len(self.spans), "name": kind, "parent": parent["id"], **r}
            self.spans.append(s)
            out.append(s)
        return out


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [t0, t1] intervals."""
    total, end = 0.0, float("-inf")
    for t0, t1 in sorted(intervals):
        if t1 <= end:
            continue
        total += t1 - max(t0, end)
        end = t1
    return total


def clip(intervals, lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part its children cover."""
    cov = clip([(c["t0"], c["t1"]) for c in children], span["t0"], span["t1"])
    return (span["t1"] - span["t0"]) - union_s(cov)


class StatusLedger:
    """Reads jobs and stages the status store gained since the last read.

    Job ids are dense from 0 per SparkContext, so new jobs are fetched by
    id until the store has none; each job's stages come with it. Records
    are serialized by Jackson inside the JVM (one py4j round trip each).
    """

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        jvm = spark._jvm
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_mod, "MODULE$"))
        self.next_job = 0

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def drain(self) -> list[dict]:
        """Every job submitted since the last call, completed, with its
        stages' summed metrics. Waits for the listener bus first, so the
        store has seen the last job's end event."""
        self._bus.waitUntilEmpty(30_000)
        jobs = []
        while True:
            try:
                j = self._json(self._store.job(self.next_job))
            except Py4JJavaError:
                break
            self.next_job += 1
            stages = []
            for sid in j["stageIds"]:
                for st in self._json(self._store.stageData(sid, False, None, False, None)):
                    stages.append(_stage_record(st))
            sub = j["submissionTime"] / 1000.0
            done = (j["completionTime"] or j["submissionTime"]) / 1000.0
            rec = {"t0": sub, "t1": done, "job_id": j["jobId"], "status": j["status"],
                   "group": j["jobGroup"], "stages": stages}
            for k in set(STAGE_SUMS.values()):
                rec[k] = sum(st[k] for st in stages)
            rec["n_stages"] = sum(1 for st in stages if st["status"] != "SKIPPED")
            jobs.append(rec)
        return jobs


def _stage_record(st: dict) -> dict:
    rec = {"stage_id": st["stageId"], "attempt": st["attemptId"], "status": st["status"]}
    for k in set(STAGE_SUMS.values()):
        rec[k] = 0
    for src, dst in STAGE_SUMS.items():
        rec[dst] += st.get(src) or 0
    if st["status"] == "SKIPPED":
        rec["tasks"] = 0
    t0 = st.get("submissionTime")
    rec["t0"] = t0 / 1000.0 if t0 else None
    t1 = st.get("completionTime")
    rec["t1"] = t1 / 1000.0 if t1 else rec["t0"]
    return rec
