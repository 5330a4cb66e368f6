"""Tracing for the benchmark's traced runs.

Three sources, all read from outside the engine:

  * ``Tracer`` — spans (name, start, end, parent, run id) recorded
    around each call into a ``linkgraph`` layer, kept in memory and
    written as JSON lines when the run ends;
  * ``SparkBracket`` — deltas of Spark's status store (executor
    summaries, job groups and the jobs' stages) taken around one
    procedure call;
  * ``manifest_stats`` — durable-checkpoint counts read back from the
    ``<name>_manifest.jsonl`` files a ``SuperstepLoop`` appends.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def total(self, name: str, within: dict | None = None) -> float:
        """Summed duration of the spans called ``name`` (only those
        inside the span ``within`` when given)."""
        out = 0.0
        for s in self.spans:
            if s["name"] == name and s["end"] is not None and (
                within is None or within["start"] <= s["start"] <= within["end"]
            ):
                out += s["end"] - s["start"]
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# every job group a SuperstepLoop of the benchmarked procedures sets
LOOP_GROUPS = ("linkgraph-pagerank", "linkgraph-components", "linkgraph-labelprop")


class SparkBracket:
    """Snapshot of Spark's status store; ``delta`` of two snapshots
    gives the work one procedure call caused.

    The caller tags the call's jobs with its own group; jobs started
    after a ``SuperstepLoop`` retags the thread are counted through the
    loop's ``linkgraph-<name>`` group."""

    def __init__(self, spark, cores: int):
        self.sc = spark.sparkContext
        self.cores = cores

    def snapshot(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()  # noqa: SLF001
        # drain queued listener events so the store has every finished task
        jsc.listenerBus().waitUntilEmpty()
        execs = jsc.statusStore().executorList(True)
        tot = dict.fromkeys(
            ("shuffle_read_bytes", "shuffle_write_bytes", "gc_ms", "tasks", "failed_tasks"), 0
        )
        for i in range(execs.size()):
            e = execs.apply(i)
            tot["shuffle_read_bytes"] += e.totalShuffleRead()
            tot["shuffle_write_bytes"] += e.totalShuffleWrite()
            tot["gc_ms"] += e.totalGCTime()
            tot["tasks"] += e.completedTasks() + e.failedTasks()
            tot["failed_tasks"] += e.failedTasks()
        tracker = self.sc.statusTracker()
        jobs = set()
        for g in (group, *LOOP_GROUPS):
            jobs.update(tracker.getJobIdsForGroup(g))
        tot["jobs"] = jobs
        tot["t"] = time.perf_counter()
        return tot

    def _task_run_s(self, stage_ids) -> float:
        """Summed executor run time of the tasks of ``stage_ids``. (The
        executor summary's totalDuration is wall time with a task
        active, not the sum over parallel tasks.)"""
        from py4j.protocol import Py4JJavaError

        jvm = self.sc._jvm  # noqa: SLF001
        store = self.sc._jsc.sc().statusStore()  # noqa: SLF001
        no_quantiles = self.sc._gateway.new_array(jvm.double, 0)  # noqa: SLF001
        run_ms = 0
        for sid in stage_ids:
            try:
                attempts = store.stageData(sid, False, jvm.java.util.ArrayList(), False, no_quantiles)
            except Py4JJavaError:  # a stage the store no longer (or never) held
                continue
            for i in range(attempts.size()):
                run_ms += attempts.apply(i).executorRunTime()
        return run_ms / 1000.0

    def delta(self, before: dict, after: dict) -> dict:
        tracker = self.sc.statusTracker()
        new_jobs = after["jobs"] - before["jobs"]
        stages = set()
        for j in new_jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        wall = after["t"] - before["t"]
        busy_s = self._task_run_s(stages)
        return {
            "jobs": len(new_jobs),
            "stages": len(stages),
            "tasks": after["tasks"] - before["tasks"],
            "failed_tasks": after["failed_tasks"] - before["failed_tasks"],
            "shuffle_read_bytes": after["shuffle_read_bytes"] - before["shuffle_read_bytes"],
            "shuffle_write_bytes": after["shuffle_write_bytes"] - before["shuffle_write_bytes"],
            "task_busy_s": busy_s,
            "gc_s": (after["gc_ms"] - before["gc_ms"]) / 1000.0,
            "core_util": busy_s / (wall * self.cores) if wall > 0 else 0.0,
        }


def manifest_stats(root: str) -> dict:
    """Durable checkpoint writes under ``root``: how many, their mean
    size, and the median gap between the writes of consecutive
    supersteps of one loop."""
    writes, nbytes, gaps = 0, 0, []
    for dirpath, _dirs, files in os.walk(root):
        for fn in sorted(files):
            if not fn.endswith("_manifest.jsonl"):
                continue
            with open(os.path.join(dirpath, fn)) as f:
                entries = [json.loads(line) for line in f if line.strip()]
            writes += len(entries)
            nbytes += sum(p["bytes"] for e in entries for p in e["partitions"])
            # only gaps between writes of consecutive supersteps: a
            # final write, or the step after a resume, spans other work
            gaps += [
                b["ts"] - a["ts"] for a, b in zip(entries, entries[1:])
                if not (a["final"] or b["final"]) and b["iteration"] == a["iteration"] + 1
            ]
    return {
        "durable_writes": writes,
        "bytes_per_write": nbytes / writes if writes else 0.0,
        "superstep_interval_s": statistics.median(gaps) if gaps else 0.0,
    }
