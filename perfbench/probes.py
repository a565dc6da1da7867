"""Measurement from outside the engine: an in-memory span tracer, Spark's
status store read through py4j (works with the UI disabled), and peak
resident memory of the Spark JVM plus this Python process."""

from __future__ import annotations

import os
import resource
import threading
import time
from contextlib import contextmanager


class Tracer:
    """Spans kept in memory and written out at the end. Times are epoch
    seconds so they line up with Spark's job submission/completion
    times. A disabled tracer records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"name": name, "parent": None, "start": time.time(), **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, **attrs) -> dict:
        rec = {"name": name, "parent": None, "start": start, "end": end,
               **attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        return rec

    def self_time(self, rec: dict) -> float:
        """Duration minus the part of its interval its children cover
        (children may overlap: they run on a thread pool)."""
        kids = [(c["start"], c["end"]) for c in self.spans
                if c["parent"] == rec["id"]]
        return (rec["end"] - rec["start"]) - union_len(
            kids, rec["start"], rec["end"])


def union_len(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class SparkStatus:
    """Jobs and stages from the Spark status store, newer than a
    watermark taken before the measured work."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self.mark = self._watermark()

    def _stages(self):
        empty = self._jvm.java.util.ArrayList
        return self._store.stageList(
            empty(), False, False,
            self._sc._gateway.new_array(self._jvm.double, 0), empty())

    def _watermark(self) -> tuple[int, int]:
        jobs = self._store.jobsList(None).iterator()   # descending ids
        jid = jobs.next().jobId() if jobs.hasNext() else -1
        it = self._stages().iterator()                 # descending ids
        sid = it.next().stageId() if it.hasNext() else -1
        return jid, sid

    def settle(self, timeout_s: float = 2.0) -> None:
        """Wait (bounded) until the asynchronous listener bus has
        delivered every job's end event."""
        end = time.time() + timeout_s
        while time.time() < end:
            it = self._store.jobsList(None).iterator()
            running = False
            while it.hasNext() and not running:
                running = str(it.next().status()) == "RUNNING"
            if not running:
                return
            time.sleep(0.02)

    def collect(self) -> tuple[list[dict], dict[int, dict]]:
        """Jobs (id, submit/complete epoch seconds, stage ids) and
        non-skipped stages (id -> metrics) newer than the watermark."""
        self.settle()
        jid0, sid0 = self.mark
        jobs = []
        it = self._store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            if j.jobId() <= jid0:
                break
            sub, comp = j.submissionTime(), j.completionTime()
            if not (sub.isDefined() and comp.isDefined()):
                continue
            sids = j.stageIds().mkString(",")
            jobs.append({"id": j.jobId(),
                         "start": sub.get().getTime() / 1000.0,
                         "end": comp.get().getTime() / 1000.0,
                         "stages": [int(x) for x in sids.split(",") if x]})
        stages = {}
        it = self._stages().iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() <= sid0:
                break
            if str(s.status()) != "COMPLETE":
                continue
            stages[s.stageId()] = {
                "tasks": s.numCompleteTasks(),
                "task_s": s.executorRunTime() / 1000.0,
                "shuffle_write_mb": s.shuffleWriteBytes() / 1e6,
                "spill_mb": (s.memoryBytesSpilled()
                             + s.diskBytesSpilled()) / 1e6}
        jobs.sort(key=lambda j: j["id"])
        return jobs, stages


def spark_totals(jobs: list[dict], stages: dict[int, dict],
                 lo: float, hi: float, seen: set) -> dict:
    """Totals for the jobs submitted in [lo, hi]. Each job, and each stage
    (for the first job that ran it), is counted once across calls that
    share ``seen``; ``job_wall_s`` covers every job in the window."""
    out = {"jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0,
           "shuffle_write_mb": 0.0, "spill_mb": 0.0, "job_wall_s": 0.0}
    mine = [j for j in jobs if lo <= j["start"] <= hi]
    out["job_wall_s"] = union_len([(j["start"], j["end"]) for j in mine],
                                  lo, hi)
    for j in mine:
        if ("job", j["id"]) in seen:
            continue
        seen.add(("job", j["id"]))
        out["jobs"] += 1
        for sid in j["stages"]:
            if sid in seen or sid not in stages:
                continue
            seen.add(sid)
            st = stages[sid]
            out["stages"] += 1
            for k in ("tasks", "task_s", "shuffle_write_mb", "spill_mb"):
                out[k] += st[k]
    return out


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident set (MB) of the Spark JVM (VmHWM) and of this
    Python process."""
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    jvm_kb = _vm_hwm_kb(proc.pid) if proc is not None else 0
    self_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    return {"jvm": jvm_kb / 1024.0, "python": self_kb / 1024.0}


def loadavg() -> list[float]:
    return [round(x, 2) for x in os.getloadavg()]
