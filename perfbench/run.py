#!/usr/bin/env python3
"""linkgraph benchmark: seeded workloads of procedure calls, checked
against independent oracles.

    python3 perfbench/run.py --workload powerlaw-core4 --seed 1 --seconds 12 --trace 0

Run from the repository root. One run starts a local Spark session
sized to the host, builds the workload's inputs from ``--seed``, makes
the workload's untimed warm-up passes, then repeats passes over its
procedure calls for ``--seconds``. Every call's written result is
compared with its oracle outside the timed region.

The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1`` (the traced
run alternates traced and untraced passes, so it also reports the
tracing overhead). The line before it carries the details: config,
per-call latencies with sample counts, and every oracle diff.

All scratch data (Spark local dirs, checkpoints, written results,
spans) goes to ``.perfbench-work/`` under the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench-work"
PARTITIONS = 8  # fixed shuffle width, so plans do not vary with the host
DRIVER_MEM = "3g"
# a heap committed at full size with a fixed young generation, so the
# JVM's peak RSS follows the pages the run touches rather than when the
# collector chose to resize the heap
JVM_HEAP_OPTS = f"-Xms{DRIVER_MEM} -Xmn512m"
# ops whose Spark status-store deltas are reported per layer
SPARK_OPS = ("pagerank", "resume", "wcc", "lpa", "triangles", "ingest")
SPARK_KEYS = (
    "jobs", "stages", "tasks", "failed_tasks", "shuffle_read_bytes",
    "shuffle_write_bytes", "task_busy_s", "gc_s", "core_util",
)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def summarize(values: list[float]) -> dict:
    """Median of timings in seconds, plus the highest whole percentile
    with at least ten samples above it (none below 20 samples), with
    the sample count."""
    out = {"unit": "s", "n": len(values), "median": statistics.median(values) if values else None,
           "samples": values}
    if len(values) >= 20:
        p = int(100 * (1 - 10 / len(values)))
        out[f"p{p}"] = statistics.quantiles(values, n=100, method="inclusive")[p - 1]
    return out


def configure_env() -> dict:
    """Fit Spark to the host from outside the engine; returns the config."""
    cores = len(os.sched_getaffinity(0))
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = str(WORK / "spark-local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # the spark-submit launcher JVM
    # Arrow UDFs run in Python workers, which import linkgraph
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    return {
        "master": f"local[{cores}]",
        "cores": cores,
        "shuffle_partitions": PARTITIONS,
        "driver_memory": DRIVER_MEM,
        "local_dir": os.environ["SPARK_GRAFT_LOCAL_DIR"],
        "extra_conf": {
            "spark.ui.showConsoleProgress": "false",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
            "spark.pyspark.python": sys.executable,
            "spark.pyspark.driver.python": sys.executable,
            # no JVM perf-data file outside the checkout: scratch stays in WORK
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData {JVM_HEAP_OPTS}",
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
        },
    }


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()  # noqa: SLF001
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway  # noqa: SLF001
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_pass(spark, wl, tracer, bracket, idx: int, traced: bool, check: bool = True) -> dict:
    """One pass over the workload's ops; with ``check``, each written
    result is compared with its oracle after the timed part."""
    from perfbench.trace import manifest_stats
    from perfbench.workloads import PassContext

    out_dir = WORK / "out" / str(idx)
    ckpt_dir = WORK / "ckpt" / str(idx)
    for d in (out_dir, ckpt_dir):
        shutil.rmtree(d, ignore_errors=True)
    ctx = PassContext(tracer=tracer, out_dir=str(out_dir), ckpt_dir=str(ckpt_dir))
    tracer.enabled = traced
    ops: dict[str, dict] = {}
    t_pass = time.perf_counter()
    with tracer.span("pass") as pass_span:
        for op in wl.OPS:
            group = f"perfbench-{op}-{idx}"
            spark.sparkContext.setJobGroup(group, f"perfbench {wl.NAME} {op}")
            before = bracket.snapshot(group) if traced else None
            t = time.perf_counter()
            try:
                with tracer.span(op):
                    out = wl.run_op(op, ctx)
            except Exception as e:  # a failing call is counted, the pass goes on
                traceback.print_exc(file=sys.stderr)
                ops[op] = {"error": repr(e)}
                continue
            ops[op] = {"s": time.perf_counter() - t, "out": out}
            if traced:
                ops[op]["spark"] = bracket.delta(before, bracket.snapshot(group))
    pass_s = time.perf_counter() - t_pass

    for op, entry in ops.items():
        if "error" in entry:
            continue
        if check:
            try:
                entry["diff"] = wl.check(op, entry["out"])
            except Exception as e:
                traceback.print_exc(file=sys.stderr)
                entry["diff"] = f"check raised {e!r}"
        release = getattr(entry["out"].result, "release", None)
        if callable(release):
            release()
    rec = {"pass_s": pass_s, "traced": traced, "ops": ops}
    if traced:
        rec["checkpoint"] = manifest_stats(str(ckpt_dir))
        rec["spans"] = {
            name: tracer.total(name, within=pass_span)
            for name in ("io.read_table", "io.write_results", "ingest.derive_graph")
        }
    wl.end_pass()
    for d in (out_dir, ckpt_dir):
        shutil.rmtree(d, ignore_errors=True)
    return rec


def pass_layer_metrics(rec: dict) -> dict:
    """Per-layer metrics of one traced pass (0 for layers not called)."""
    ops = rec["ops"]

    def stats(op):
        e = ops.get(op, {})
        return e["out"].stats if "out" in e else {}

    m = {}
    pr = stats("pagerank")
    m["pagerank.load_s"] = pr.get("load_s", 0.0)
    m["pagerank.compute_s"] = pr.get("compute_s", 0.0)
    m["pagerank.superstep_s"] = pr["compute_s"] / pr["iterations"] if pr.get("iterations") else 0.0
    m["pagerank.dynamic_edge_frac"] = pr["dynamic_edges"] / pr["edges"] if pr.get("edges") else 0.0
    cc = stats("wcc")
    for k in ("load_s", "compute_s", "iterations", "hub_split"):
        m[f"components.{k}"] = cc.get(k, 0)
    lp = stats("lpa")
    for k in ("load_s", "compute_s", "hub_split"):
        m[f"labelprop.{k}"] = lp.get(k, 0)
    tc = stats("triangles")
    m["triangles.orient_s"] = tc.get("orient_s", 0.0)
    m["triangles.wedge_s"] = tc["compute_s"] - tc["orient_s"] if tc else 0.0
    m["triangles.oriented_edges"] = tc.get("orientedEdges", 0)
    ing = stats("ingest")
    derive_s = rec["spans"]["ingest.derive_graph"]
    m["ingest.derive_s"] = derive_s
    m["ingest.files_per_s"] = ing["files"] / derive_s if ing else 0.0
    m["ingest.edges"] = ing.get("edges", 0)
    m["io.read_s"] = rec["spans"]["io.read_table"]
    m["io.write_s"] = rec["spans"]["io.write_results"]
    m["io.bytes_written"] = sum(e["out"].write.get("bytes") or 0 for e in ops.values() if "out" in e)
    for k, v in rec["checkpoint"].items():
        m[f"checkpoint.{k}"] = v
    for op in SPARK_OPS:
        sp = ops.get(op, {}).get("spark", {})
        for k in SPARK_KEYS:
            m[f"{op}.spark.{k}"] = sp.get(k, 0)
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "linkgraph" / "__init__.py").is_file():
        print(f"perfbench: no linkgraph package under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    for d in ("out", "ckpt", "spark-local", "tmp", "catalog"):
        shutil.rmtree(WORK / d, ignore_errors=True)
    config = configure_env()

    from linkgraph.session import get_spark
    from perfbench.trace import Tracer

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}-{int(time.time())}"
    tracer = Tracer(run_id, enabled=bool(args.trace))
    with tracer.span("session.start"):
        t = time.perf_counter()
        spark = get_spark(
            "perfbench", cores=config["cores"], shuffle_partitions=PARTITIONS,
            extra_conf=config["extra_conf"],
        )
        session_s = time.perf_counter() - t
    try:
        lines = _run(args, WORKLOADS[args.workload], spark, config, tracer, session_s, run_id)
    finally:
        stop_spark(spark)
    for line in lines:
        print(json.dumps(line, default=str))
    return 0 if "metrics" in lines[-1] else 1


def _run(args, workload_cls, spark, config, tracer, session_s, run_id) -> list[dict]:
    """Set up, warm up, measure; returns the detail and result objects."""
    from perfbench.trace import SparkBracket

    wl = workload_cls(spark, args.seed, str(WORK), PARTITIONS)
    bracket = SparkBracket(spark, config["cores"])

    with tracer.span("synth.gen"):
        t = time.perf_counter()
        wl.setup_inputs()
        gen_s = time.perf_counter() - t
    t = time.perf_counter()
    wl.build_oracles()
    oracle_s = time.perf_counter() - t

    # warm-up results are discarded unchecked; a call that raises still counts
    warm = [
        run_pass(spark, wl, tracer, bracket, -i, traced=False, check=False)
        for i in range(wl.WARMUP_PASSES)
    ]
    setup_s = session_s + gen_s + sum(r["pass_s"] for r in warm)

    # passes until the next one would end past the deadline: at least
    # one, and in a traced run at least one traced and one untraced
    passes = []
    deadline = time.perf_counter() + args.seconds
    while True:
        traced = bool(args.trace) and len(passes) % 2 == 0
        passes.append(run_pass(spark, wl, tracer, bracket, len(passes) + 1, traced))
        enough = len(passes) >= (2 if args.trace else 1)
        if enough and time.perf_counter() + passes[-1]["pass_s"] > deadline:
            break
    peak_rss_mb = jvm_peak_rss_mb(spark)

    attempted, failures = 0, []
    for i, rec in enumerate([*warm, *passes]):
        for op in wl.OPS:
            attempted += 1
            e = rec["ops"].get(op, {"error": "not run"})
            why = e.get("error") or e.get("diff")
            if why:
                failures.append({"pass": i, "op": op, "diff": why})

    untraced = [r for r in passes if not r["traced"]]
    latency = {
        f"{op}_s": summarize([r["ops"][op]["s"] for r in untraced if "s" in r["ops"].get(op, {})])
        for op in wl.OPS
    }
    pr_runs = [r["ops"]["pagerank"] for r in untraced if "s" in r["ops"].get("pagerank", {})]
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "run_id": run_id,
        "config": config,
        "setup": {
            "session_start_s": session_s,
            "input_setup_s": gen_s,
            "warmup_pass_s": [r["pass_s"] for r in warm],
            "oracle_s": oracle_s,
        },
        "passes": {"traced": len(passes) - len(untraced), "untraced": len(untraced)},
        "pass_s": summarize([r["pass_s"] for r in untraced]),
        "latency_s": latency,
        "op_failure_rate": len(failures) / attempted,
        "failures": failures,
    }

    if args.trace:
        traced = [r for r in passes if r["traced"]]
        per_pass = [pass_layer_metrics(r) for r in traced]
        metrics = {k: statistics.median(p[k] for p in per_pass) for k in per_pass[0]}
        metrics["session.start_s"] = session_s
        metrics["synth.gen_s"] = gen_s
        metrics["trace.overhead_s"] = (
            statistics.median(r["pass_s"] for r in traced)
            - statistics.median(r["pass_s"] for r in untraced)
        )
        span_path = WORK / f"spans-{run_id}.jsonl"
        tracer.write(str(span_path))
        detail["spans"] = str(span_path.relative_to(ROOT))
        units = layer_unit
    else:
        if not pr_runs:
            print("perfbench: no successful pagerank call to report", file=sys.stderr)
            return [detail]
        pagerank_s = statistics.median(e["s"] for e in pr_runs)
        metrics = {
            "setup_s": setup_s,
            "pass_s": statistics.median(r["pass_s"] for r in untraced),
            "pagerank_s": pagerank_s,
            "pagerank_edges_per_s": pr_runs[0]["out"].stats["edges"] * wl.PAGERANK_STEPS / pagerank_s,
            "peak_rss_mb": peak_rss_mb,
        }
        units = e2e_unit
    return [detail, {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": units(k)} for k, v in metrics.items()},
    }]


def e2e_unit(name: str) -> str:
    return {"pagerank_edges_per_s": "1/s", "peak_rss_mb": "MB"}.get(name, "s")


def layer_unit(name: str) -> str:
    if "bytes" in name:
        return "bytes"
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith(("core_util", "edge_frac")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
