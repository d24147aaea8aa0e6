"""Spans, Spark counters and host facts for the benchmark.

``Tracer`` keeps spans (name, start, end, parent, op id) in memory; a
disabled tracer records nothing but still times ops, so the untraced run
pays one clock read per op boundary.  ``SparkProbe`` tags each op phase
with a Spark job group and reads job / stage / task counts through
``statusTracker``; with the event log on it also sums per-stage shuffle,
spill and executor run time from Spark's own ``SparkListenerTaskEnd``
records.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import platform
import time
from collections import defaultdict


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {"name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        """``fn`` timed under span ``name``; attributes callers rely on
        (monitor input declarations) ride along."""
        def wrapper(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)
        wrapper.__dict__.update(getattr(fn, "__dict__", {}))
        wrapper.__name__ = getattr(fn, "__name__", name)
        return wrapper

    def self_times(self) -> dict[tuple[str, str], float]:
        """(op, layer) -> self seconds: each span's duration minus the part
        its direct children cover (children never overlap: one thread)."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[tuple[str, str], float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[(s["op"], s["name"])] += s["end"] - s["start"] - child[i]
        return out

    def dump(self, path: str) -> None:
        t0 = self.spans[0]["start"] if self.spans else 0.0
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s, "start": s["start"] - t0,
                                    "end": s["end"] - t0}) + "\n")


class SparkProbe:
    """Job-group tagging and Spark-side counters for one session."""

    def __init__(self, spark, eventlog_dir: str | None):
        self.spark = spark
        self.sc = spark.sparkContext
        self.eventlog_dir = eventlog_dir
        self.enabled = False
        self.groups: list[str] = []

    @contextlib.contextmanager
    def group(self, name: str):
        """Tag every job launched inside with job group ``name``."""
        if not self.enabled:
            yield
            return
        self.sc.setJobGroup(name, name)
        self.groups.append(name)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    def counts(self, group: str) -> dict[str, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(group)
        stages = tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            if info is None:
                continue
            for sid in info.stageIds:
                stage = st.getStageInfo(sid)
                if stage is not None:
                    stages += 1
                    tasks += stage.numTasks
        return {"jobs": len(jobs), "stages": stages, "tasks": tasks}

    def leaked(self) -> tuple[int, int]:
        """(cached tables in the CacheManager, persistent RDDs)."""
        jss = self.spark._jsparkSession
        tables = jss.sharedState().cacheManager().numCachedEntries()
        rdds = len(self.sc._jsc.getPersistentRDDs())
        return int(tables), rdds

    def cleanup(self) -> None:
        """What ``bench.py`` does between queries: drop cached tables and
        unpersist checkpointed / persisted RDDs."""
        self.spark.catalog.clearCache()
        for jrdd in self.sc._jsc.getPersistentRDDs().values():
            jrdd.unpersist()

    def jvm_pid(self) -> int:
        return int(self.sc._jvm.java.lang.ProcessHandle.current().pid())

    def eventlog_metrics(self) -> dict[str, dict[str, float]]:
        """job group -> summed task metrics, from the (stopped) session's
        event log."""
        out: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        if not self.eventlog_dir:
            return out
        stage_group: dict[int, str] = {}
        for path in glob.glob(os.path.join(self.eventlog_dir, "*")):
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = g
                    elif kind == "SparkListenerTaskEnd":
                        g = stage_group.get(ev.get("Stage ID"))
                        m = ev.get("Task Metrics") or {}
                        if g is None or not m:
                            continue
                        sw = m.get("Shuffle Write Metrics") or {}
                        sr = m.get("Shuffle Read Metrics") or {}
                        rec = out[g]
                        rec["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                        rec["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                      + sr.get("Local Bytes Read", 0))
                        rec["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                               + m.get("Disk Bytes Spilled", 0))
                        rec["task_run_s"] += m.get("Executor Run Time", 0) / 1000.0
        return out


def _status_kb(pid: int | str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory (VmHWM) of this Python process plus its JVM."""
    return (_status_kb("self", "VmHWM") + _status_kb(jvm_pid, "VmHWM")) / 1024.0


def host_record(spark, master: str, seed: int, floor_s: float) -> dict:
    import pyspark

    jvm = spark.sparkContext._jvm
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "master": master,
        "spark": pyspark.__version__,
        "java": str(jvm.java.lang.System.getProperty("java.version")),
        "python": platform.python_version(),
        "seed": seed,
        "floor.empty_job_s": floor_s,
    }
