"""Benchmark entry point.

    python3 loadbench/run.py --workload http_read --seed 1 --seconds 15 --trace 0

Runs one workload against the scratchdb_spark package in this checkout
and prints one JSON line: ``correct``, ``attempted``, ``failed`` and the
metrics (end-to-end with ``--trace 0``, per-layer with ``--trace 1``).
Progress, the drift log and the wall-time latencies go to stderr. See
loadbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import common  # noqa: E402
from common import ROOT, WORK, log  # noqa: E402

WORKLOADS = ("http_read", "catalog")


def _bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _units(kind: str) -> dict[str, str]:
    return {m["name"]: m["unit"] for m in _bench_spec()[kind]}


def _stop_everything() -> None:
    """Stop Spark, if it runs, then wait for the JVM and its Python
    workers. Safe to call twice."""
    from pyspark import SparkContext

    pids = [p for p in common.process_tree() if p != os.getpid()]
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    if _wait_gone(pids, 30):
        return
    for p in pids:
        try:
            os.kill(p, 9)
        except OSError:
            pass
    _wait_gone(pids, 10)


def _wait_gone(pids: list[int], seconds: float) -> bool:
    """Wait until none of ``pids`` runs (zombies count as ended)."""
    deadline = time.time() + seconds
    while time.time() < deadline:
        if not any(_running(p) for p in pids):
            return True
        time.sleep(0.1)
    return False


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "scratchdb_spark")):
        log(f"scratchdb_spark not found under {ROOT}: nothing to measure")
        return 2

    run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    common.prepare_environment(run_dir)
    try:
        return _run(args, run_dir)
    finally:
        # on an error, too: nothing the run started outlives it
        _stop_everything()
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str) -> int:
    import importlib

    import tracing

    workload = importlib.import_module(args.workload)
    tracer = tracing.Tracer() if args.trace else None
    out = common.Outcome()
    data = workload.generate(args.seed, args.seconds)

    with common.RssSampler() as rss:
        t0 = time.perf_counter()
        if tracer:
            import scratchdb_spark.queries  # noqa: F401  (binds table())

            tracing.install(tracer)
        host = workload.launch(run_dir, tracer)
        launch_s = time.perf_counter() - t0
        setup_s = launch_s + workload.setup(host, data)
        log(f"[{args.workload}] launch {launch_s:.2f}s, setup {setup_s:.2f}s")
        spark = host.spark
        gc0 = tracing.gc_millis(spark)
        facts = workload.run(host, data, args.seed, tracer, out)
        gc1 = tracing.gc_millis(spark)
    n_timed = len(facts["timed_ops"])
    extra = workload.finish(host, data, out, facts)

    if tracer:
        m = tracing.layer_metrics(tracer, facts["timed_ops"], host.setup_ops)
        m.update(extra)
        jobs = tasks = failed = 0
        for op in facts["timed_ops"]:
            j, t, f = tracing.jobs_and_tasks(spark, tracing.job_tag(op))
            jobs, tasks, failed = jobs + j, tasks + t, failed + f
        if hasattr(workload, "phase_jobs"):
            m.update(workload.phase_jobs(spark, facts))
        m["spark.jobs_per_op"] = jobs / n_timed
        m["spark.tasks_per_op"] = tasks / n_timed
        m["spark.failed_tasks"] = failed
        m["proc.cpu_ms_per_op"] = facts["cpu_ms_per_op"]
        m["proc.cold_pass_cpu_s"] = facts["cold_pass_cpu_s"]
        m["proc.gc_ms_per_op"] = (gc1 - gc0) / n_timed
        m["traced.kind_p50_ms"] = facts["kind_p50_ms"]
        m["traced.ops_per_s"] = facts["ops_per_s"]
        m["traced.cold_pass_s"] = facts["cold_pass_s"]
        tracer.dump(os.path.join(
            WORK, f"trace-{args.workload}-{args.seed}.jsonl"))
        units = _units("per_layer")
    else:
        m = {"kind_p50_ms": facts["kind_p50_ms"]}
        m["setup_s"] = setup_s
        m["peak_rss_mb"] = rss.peak / 2**20
        log(f"[{args.workload}] {rss.describe()}")
        units = _units("end_to_end")
    out.metrics = m
    host.close()
    _stop_everything()
    for note in out.notes:
        log(f"[{args.workload}] failed op: {note}")
    log(f"[{args.workload}] attempted {out.attempted}, failed {out.failed} "
        f"({out.wrong} wrong answers, the rest isolation probes)")
    print(common.result_line(out, units), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
