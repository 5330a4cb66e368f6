#!/usr/bin/env python3
"""Per-job timeline of one procedure call of a benchmark workload.

    python3 tools/job_timeline.py powerlaw-core4 pagerank [--seed 7]

Run from the repository root. Starts a Spark session the way
``perfbench/run.py`` does, builds the workload's inputs from the seed,
makes the workload's warm-up passes, runs the ops that precede ``op``
in a pass (their results feed it, e.g. ``ingest`` before ``pagerank`` on
``codegraph-durable``), then times ONE call of ``op`` — the call into
``linkgraph`` until its result is written — and prints every Spark job
it ran, read from the status store:

    job  offset_s  gap_s  dur_s  stages  skipped  tasks  call site

``offset_s`` is the job's submission time from the start of the call,
``gap_s`` the time since the previous job completed (driver work
between actions: planning, Python, py4j), ``dur_s`` the job's wall
time. The benchmark reports per-call totals only; this view shows
which actions of a call are redundant and where the driver idles.
"""

from __future__ import annotations

import argparse
import functools
import shutil
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))


DATAFRAME_ACTIONS = (
    "collect", "count", "first", "head", "take", "toPandas", "toLocalIterator",
    "foreach", "foreachPartition", "checkpoint", "localCheckpoint",
)
WRITER_ACTIONS = ("save", "parquet", "csv", "json", "orc", "saveAsTable", "insertInto")
# reads whose file listing or schema inference runs a job
READER_ACTIONS = ("load", "parquet", "csv", "json", "orc", "table")


def _caller() -> str:
    """file:line of the innermost frame outside pyspark and this tool,
    followed by the first caller in another file (``pin_table`` is
    called from everywhere; the line that called it is the news)."""
    import pyspark

    skip = (str(Path(pyspark.__file__).parent), __file__)
    sites = []
    for fr in reversed(traceback.extract_stack()):
        if fr.filename.startswith(skip):
            continue
        path = Path(fr.filename)
        if path.is_relative_to(ROOT):
            path = path.relative_to(ROOT)
        if sites and sites[0][0] != path:
            return f"{sites[0][0]}:{sites[0][1]} < {path}:{fr.lineno}"
        sites.append((path, fr.lineno))
    return f"{sites[0][0]}:{sites[0][1]}" if sites else "<unknown>"


def tag_call_sites(spark) -> None:
    """Name every job after the DataFrame action that started it and
    the Python line that called it. PySpark leaves most jobs as
    ``count at <unknown>:0``, and the jobs adaptive execution submits
    for each query stage carry the JVM frame that ran them; the
    ``callSite.short`` local property set here is inherited by both."""
    sc = spark.sparkContext
    active = []

    def wrap(cls, name):
        orig = getattr(cls, name, None)
        if orig is None:
            return

        @functools.wraps(orig)
        def tagged(self, *args, **kwargs):
            if active:  # an action inside an action keeps the outer name
                return orig(self, *args, **kwargs)
            active.append(name)
            sc.setLocalProperty("callSite.short", f"{name} at {_caller()}")
            try:
                return orig(self, *args, **kwargs)
            finally:
                active.pop()
                sc.setLocalProperty("callSite.short", None)

        setattr(cls, name, tagged)

    probe = spark.range(1)  # the session's concrete DataFrame classes
    for name in DATAFRAME_ACTIONS:
        wrap(type(probe), name)
    for name in WRITER_ACTIONS:
        wrap(type(probe.write), name)
    for name in READER_ACTIONS:
        wrap(type(spark.read), name)


def _opt(o):
    """A Scala Option's value, or None."""
    return o.get() if o.isDefined() else None


def _ms(date_opt):
    d = _opt(date_opt)
    return d.getTime() if d is not None else None


def jobs_between(spark, t0_ms: int, t1_ms: int) -> list[dict]:
    """Every job the status store holds that was submitted in
    [t0_ms, t1_ms], oldest first."""
    sc = spark.sparkContext._jsc.sc()  # noqa: SLF001
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        sub = _ms(j.submissionTime())
        if sub is None or not t0_ms <= sub <= t1_ms:
            continue
        out.append({
            "job": j.jobId(),
            "submitted_ms": sub,
            "completed_ms": _ms(j.completionTime()),
            "stages": j.stageIds().size(),
            "skipped": j.numSkippedStages(),
            "tasks": j.numCompletedTasks() + j.numFailedTasks(),
            "call_site": j.name(),
            "status": j.status().toString(),
        })
    return sorted(out, key=lambda r: (r["submitted_ms"], r["job"]))


def format_timeline(rows: list[dict], t0_ms: int, t1_ms: int) -> list[str]:
    """One line per job, then the totals: the call's wall time split
    into time covered by at least one running job and time between
    jobs. A negative gap means the job overlapped the previous one."""
    lines = [f"{'job':>5} {'offset_s':>8} {'gap_s':>6} {'dur_s':>6} {'stages':>6} "
             f"{'skipped':>7} {'tasks':>5}  call site"]
    covered_until = t0_ms
    busy = 0
    for r in rows:
        sub = r["submitted_ms"]
        end = r["completed_ms"] if r["completed_ms"] is not None else sub
        busy += max(0, end - max(sub, covered_until))
        status = "" if r["status"] == "SUCCEEDED" else f"  [{r['status']}]"
        lines.append(
            f"{r['job']:>5} {(sub - t0_ms) / 1e3:>8.3f} {(sub - covered_until) / 1e3:>6.3f} "
            f"{(end - sub) / 1e3:>6.3f} {r['stages']:>6} {r['skipped']:>7} "
            f"{r['tasks']:>5}  {r['call_site']}{status}"
        )
        covered_until = max(covered_until, end)
    lines.append(
        f"jobs {len(rows)}  stages {sum(r['stages'] for r in rows)}"
        f" (skipped {sum(r['skipped'] for r in rows)})"
        f"  tasks {sum(r['tasks'] for r in rows)}  call {(t1_ms - t0_ms) / 1e3:.3f} s"
        f"  in jobs {busy / 1e3:.3f} s  between jobs {(t1_ms - t0_ms - busy) / 1e3:.3f} s"
    )
    return lines


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("workload")
    p.add_argument("op")
    p.add_argument("--seed", type=int, default=7)
    args = p.parse_args(argv)

    from perfbench.run import PARTITIONS, WORK, configure_env, run_pass, stop_spark
    from perfbench.trace import SparkBracket, Tracer
    from perfbench.workloads import WORKLOADS, PassContext

    wl_cls = WORKLOADS.get(args.workload)
    if wl_cls is None or args.op not in wl_cls.OPS:
        print(f"job_timeline: workloads and ops: "
              f"{ {k: v.OPS for k, v in WORKLOADS.items()} }", file=sys.stderr)
        return 2
    config = configure_env()

    from linkgraph.session import get_spark

    spark = get_spark("job-timeline", cores=config["cores"], shuffle_partitions=PARTITIONS,
                      extra_conf=config["extra_conf"])
    try:
        wl = wl_cls(spark, args.seed, str(WORK), PARTITIONS)
        wl.setup_inputs()
        tracer = Tracer("job-timeline", enabled=False)
        bracket = SparkBracket(spark, config["cores"])
        for i in range(wl.WARMUP_PASSES):
            run_pass(spark, wl, tracer, bracket, -1 - i, traced=False, check=False)

        out_dir = WORK / "timeline"
        shutil.rmtree(out_dir, ignore_errors=True)
        ctx = PassContext(tracer=tracer, out_dir=str(out_dir / "out"),
                          ckpt_dir=str(out_dir / "ckpt"))
        for op in wl.OPS[: wl.OPS.index(args.op)]:
            wl.run_op(op, ctx)
        tag_call_sites(spark)
        spark.sparkContext.setJobGroup("job-timeline", f"{args.workload} {args.op}")
        t0 = int(time.time() * 1000)
        out = wl.run_op(args.op, ctx)
        t1 = int(time.time() * 1000)
        rows = jobs_between(spark, t0, t1)
        print(f"{args.workload} {args.op} seed {args.seed} on {config['master']}")
        print("\n".join(format_timeline(rows, t0, t1)))
        release = getattr(out.result, "release", None)
        if callable(release):
            release()
        wl.end_pass()
        shutil.rmtree(out_dir, ignore_errors=True)
    finally:
        stop_spark(spark)
    return 0


if __name__ == "__main__":
    sys.exit(main())
