"""catalog: in-process runs of catalog queries at sf0.01, one client.

Each op builds one query's DataFrame (``spec.spark_fn``, which includes
every job the operator fires while building it) and runs its final
action, ``collect()``.

The cold pass runs every query once in the fresh process: the cold JVM,
the condition under which the ROADMAP measures the catalog. Heavy
queries fire many jobs while building the DataFrame; light ones fire
almost none. A warm-up pass and the timed passes follow, each with one
heavy query and the light ones: a change that removes construction-time
jobs should speed up the heavy query and leave the light ones alone,
apart from the parquet schema-inference term. The seed sets the order of
every pass. Every op's rows are checked against its DuckDB oracle, or
its golden fixture, after the passes.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import random
import time

from common import (BENCH_DIR, Outcome, log, start_spark, summarize,
                    tree_cpu_seconds)
from tracing import jobs_and_tasks, job_tag

SF_DIR = os.path.join(BENCH_DIR, "data", "sf0.01")
#: queries that fire many jobs while building the DataFrame
HEAVY = (
    "dedup_minhash_near_pairs",
    "warehouse_changes_feed",
)
#: queries that fire almost none
LIGHT = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q9_product_profit",
    "q18_large_volume_customers",
    "window_topk_orders_per_priority",
    "sessionize_events",
    "text_tfidf_top_terms",
    "range_join_click_purchase",
)
QUERIES = HEAVY + LIGHT
#: the passes after the cold one run every query but the first heavy
#: one, which would add 2 s to each
REPEATED = HEAVY[1:] + LIGHT
EXPECTED = os.path.join(BENCH_DIR, "data", "expected.json")
#: the cold pass and one warm-up pass run untimed; the timed passes that
#: follow are as many as fill --seconds at PASS_SECONDS each
WARM_PASSES = 2
PASS_SECONDS = 7.5


class Host:
    def __init__(self, run_dir: str, tracer):
        self.spark = start_spark(run_dir, tracer is not None)
        self.setup_ops: list[int] = []

    def close(self) -> None:
        pass


def generate(seed: int, seconds: int) -> dict:
    """The inputs are the sf0.01 tables shipped with the benchmark; the
    seed sets the order of the queries in every pass. In the cold pass
    the heavy queries take the same slots whatever the seed: the first
    query of a fresh JVM costs several times what it costs later."""
    rnd = random.Random(seed)
    light = list(LIGHT)
    rnd.shuffle(light)
    n = len(QUERIES)
    slots = [round(i * n / len(HEAVY)) for i in range(len(HEAVY))]
    passes = [[HEAVY[slots.index(i)] if i in slots else light.pop()
               for i in range(n)]]
    for _ in range(WARM_PASSES - 1 + max(1, round(seconds / PASS_SECONDS))):
        order = list(REPEATED)
        rnd.shuffle(order)
        passes.append(order)
    return {"passes": passes}


def launch(run_dir: str, tracer) -> Host:
    return Host(run_dir, tracer)


def setup(host: Host, data: dict) -> float:
    """Load the catalog and register the base tables as views."""
    t0 = time.perf_counter()
    from scratchdb_spark import queries
    from scratchdb_spark.tables import register_testdata

    host.registry = queries.registry()
    register_testdata(host.spark, SF_DIR)
    return time.perf_counter() - t0


def run(host: Host, data: dict, seed: int, tracer, out: Outcome) -> dict:
    spark = host.spark
    sc = spark.sparkContext
    passes: list[list[tuple[str, float, float]]] = []
    timed_ops: list[int] = []
    host.results = {}
    op_query = {}
    op_id = 0
    for pass_no, order in enumerate(data["passes"]):
        passes.append([])
        for name in order:
            op_id += 1
            spec = host.registry[name]
            if tracer:
                tracer.begin_op(op_id, query=name)
                sc.addJobTag(job_tag(op_id))
                sc.addJobTag(job_tag(op_id, "construct"))
            c0 = tree_cpu_seconds()
            t0 = time.perf_counter()
            if tracer:
                with tracer.span("catalog.construct"):
                    df = spec.spark_fn(spark, SF_DIR)
                sc.removeJobTag(job_tag(op_id, "construct"))
                sc.addJobTag(job_tag(op_id, "action"))
                with tracer.span("catalog.action"):
                    rows = df.collect()
                sc.removeJobTag(job_tag(op_id, "action"))
                sc.removeJobTag(job_tag(op_id))
            else:
                df = spec.spark_fn(spark, SF_DIR)
                rows = df.collect()
            dt = time.perf_counter() - t0
            cpu = tree_cpu_seconds() - c0
            if tracer:
                tracer.end_op(op_id)
            # untimed, as bench.py does between queries
            spark.catalog.clearCache()
            host.results[op_id] = (name, df.columns, rows)
            op_query[op_id] = name
            passes[-1].append((name, dt * 1000.0, cpu * 1000.0))
            if pass_no >= WARM_PASSES:
                timed_ops.append(op_id)
    log("[catalog] cold pass, wall/CPU s: " + ", ".join(
        f"{k}={ms / 1000.0:.2f}/{c / 1000.0:.2f}" for k, ms, c in passes[0]))
    facts = summarize("catalog", passes, WARM_PASSES)
    facts["timed_ops"] = timed_ops
    facts["op_query"] = op_query
    return facts


# -- answer checks ---------------------------------------------------------


def _cell(v):
    """Canonical form of one cell, as tools/driver_sim.py compares."""
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_cell(x) for x in v) + "]"
    return repr(v)


def digest(cols, rows) -> str:
    """sha256 of the result with columns sorted by name and rows sorted
    by value, every cell compared exactly."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(tuple(_cell(r[i]) for i in order) for r in rows)
    text = json.dumps([sorted(cols), canon])
    return hashlib.sha256(text.encode()).hexdigest()


def finish(host: Host, data: dict, out: Outcome, facts: dict) -> dict:
    """Each query's rows against its oracle's, from data/expected.json
    (tools: make_expected.py runs the DuckDB and golden-fixture oracles
    over the same tables)."""
    with open(EXPECTED) as f:
        expected = json.load(f)
    for name, cols, rows in host.results.values():
        out.record(digest(cols, [tuple(r) for r in rows]) == expected[name],
                   what=f"{name}: result differs from its oracle")
    return {}


def phase_jobs(spark, facts: dict) -> dict:
    """Construction and action jobs and tasks per timed op."""
    n = len(facts["timed_ops"])
    m = {k: 0.0 for k in ("catalog.construct_jobs", "catalog.action_jobs",
                          "catalog.construct_tasks", "catalog.action_tasks")}
    with_jobs = set()
    for op in facts["timed_ops"]:
        for phase in ("construct", "action"):
            jobs, tasks, _f = jobs_and_tasks(spark, job_tag(op, phase))
            m[f"catalog.{phase}_jobs"] += jobs / n
            m[f"catalog.{phase}_tasks"] += tasks / n
            if phase == "construct" and jobs:
                with_jobs.add(facts["op_query"][op])
    m["catalog.queries_with_construct_jobs"] = len(with_jobs)
    return m
