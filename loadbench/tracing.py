"""Per-layer tracing from outside the program.

A traced run wraps the public calls into each module of
``scratchdb_spark`` where the caller looks them up (module attributes
such as ``query.execute``, ``fs.*`` and ``pipeline.infer_types``, and
methods of ``Warehouse``, ``ScratchAPI`` and ``IngestPipeline``). Each
wrapper records a span: name, start, end, parent span and op id. Spans
are kept in memory and written out as JSON lines when the run ends.
Spark jobs are attributed to ops through ``SparkContext.addJobTag``,
set by the wrapper around the HTTP handler (or by the in-process
workload), and read back from the status tracker.
"""

from __future__ import annotations

import functools
import inspect
import json
import statistics
import sys
import threading
import time
from contextlib import contextmanager

#: HTTP header that carries the op id from the client to the server
OP_HEADER = "X-Loadbench-Op"


def job_tag(op: int, phase: str = "") -> str:
    return f"loadbench-op-{op}{'-' + phase if phase else ''}"


class Tracer:
    """Spans are lists ``[name, start, end, parent, op, attrs]``; a
    span's id is its index. The client opens an op span before it sends
    an op; the server thread that handles it joins the op through the
    op id header. A span's parent is the innermost open span of its
    thread, else the op span of the thread's op. Threads the program
    starts itself (pools) join the op begun last."""

    def __init__(self) -> None:
        self.spans: list[list] = []
        self.op_span: dict[int, int] = {}
        self.ops: dict[int, dict] = {}
        self.last_op: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    def _state(self):
        loc = self._local
        if not hasattr(loc, "stack"):
            loc.stack = []
            loc.op = None
        return loc

    def _add(self, rec: list) -> int:
        with self._lock:
            self.spans.append(rec)
            return len(self.spans) - 1

    def begin_op(self, op: int, **info) -> None:
        self.ops[op] = info
        self.op_span[op] = self._add(
            ["op", time.perf_counter(), None, None, op, info])
        self._state().op = self.last_op = op

    def end_op(self, op: int) -> None:
        self.spans[self.op_span[op]][2] = time.perf_counter()
        self._state().op = None

    def join_op(self, op: int | None) -> None:
        """Attribute this thread's spans to ``op`` (None: stop)."""
        self._state().op = op if op in self.op_span else None

    @contextmanager
    def span(self, name: str, **attrs):
        st = self._state()
        op = st.op if st.op is not None else self.last_op
        parent = st.stack[-1] if st.stack else self.op_span.get(op)
        rec = [name, time.perf_counter(), None, parent, op, attrs]
        st.stack.append(self._add(rec))
        try:
            yield rec
        finally:
            st.stack.pop()
            rec[2] = time.perf_counter()

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return traced

    def wrap_stream(self, fn, name: str):
        """A generator function: the span covers the whole iteration and
        counts chunks and bytes."""

        @functools.wraps(fn)
        def traced(*a, **kw):
            gen = fn(*a, **kw)
            with self.span(name) as rec:
                chunks = nbytes = 0
                for chunk in gen:
                    chunks += 1
                    nbytes += len(chunk)
                    yield chunk
                rec[5]["chunks"] = chunks
                rec[5]["bytes"] = nbytes

        return traced

    def dump(self, path: str) -> None:
        selfs = self_times(self.spans)
        with open(path, "w") as f:
            for sid, (name, s, e, parent, op, attrs) in enumerate(self.spans):
                f.write(json.dumps({
                    "id": sid, "name": name, "start": s, "end": e,
                    "parent": parent, "op": op, "self_s": selfs[sid],
                    **attrs,
                }) + "\n")


def self_times(spans: list[list]) -> list[float]:
    """Duration minus the part of the span's interval its children
    cover (children on other threads may overlap; the union counts)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for _name, s, e, parent, _op, _a in spans:
        if parent is not None and e is not None:
            kids.setdefault(parent, []).append((s, e))
    out = []
    for sid, (_name, s, e, _p, _op, _a) in enumerate(spans):
        if e is None:
            out.append(0.0)
            continue
        covered = 0.0
        cur_s = cur_e = None
        for cs, ce in sorted(kids.get(sid, ())):
            cs, ce = max(cs, s), min(ce, e)
            if ce <= cs:
                continue
            if cur_e is None or cs > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = cs, ce
            else:
                cur_e = max(cur_e, ce)
        if cur_e is not None:
            covered += cur_e - cur_s
        out.append((e - s) - covered)
    return out


# -- installing the wrappers -----------------------------------------------


def _patch_class(tracer: Tracer, cls, names: dict[str, str]) -> None:
    for attr, span in names.items():
        setattr(cls, attr, tracer.wrap(getattr(cls, attr), span))


def install(tracer: Tracer) -> None:
    """Wrap the program's public calls. Call once per process, after
    the catalog is imported and before the service starts."""
    from scratchdb_spark import fs, query, snapshots, tables
    from scratchdb_spark.api import app
    from scratchdb_spark.ingest import pipeline

    # api: the handler joins the client's op and tags its Spark jobs
    _patch_class(tracer, app.ScratchAPI, {
        "resolve_destination": "api.auth",
        "_register_views": "api.views",
    })
    make_handler = app.make_handler

    def traced_make_handler(api):
        base = make_handler(api)

        def joined(method):
            def handle(self):
                op = int(self.headers.get(OP_HEADER, "0"))
                sc = api.spark.sparkContext
                tracer.join_op(op)
                sc.addJobTag(job_tag(op))
                try:
                    return method(self)
                finally:
                    sc.removeJobTag(job_tag(op))
                    tracer.join_op(None)

            return handle

        class Handler(base):
            do_GET = joined(base.do_GET)
            do_POST = joined(base.do_POST)

        return Handler

    app.make_handler = traced_make_handler

    # query
    query.execute = tracer.wrap(query.execute, "query.execute")
    query.stream_json = tracer.wrap_stream(query.stream_json, "query.stream")
    query.stream_csv = tracer.wrap_stream(query.stream_csv, "query.stream")

    # tables: Warehouse methods, and table() wherever a module bound it
    _patch_class(tracer, tables.Warehouse, {
        "read": "tables.read",
        "schema": "tables.schema",
        "append_aligned": "tables.append",
        "create_empty_table": "tables.create",
    })
    original_table = tables.table
    traced_table = tracer.wrap(original_table, "tables.table")
    for mod in list(sys.modules.values()):
        if (
            getattr(mod, "__name__", "").startswith("scratchdb_spark")
            and getattr(mod, "table", None) is original_table
        ):
            mod.table = traced_table

    # fs: every public function of the module
    for name, fn in list(vars(fs).items()):
        if (
            inspect.isfunction(fn)
            and not name.startswith("_")
            and fn.__module__ == fs.__name__
        ):
            setattr(fs, name, tracer.wrap(fn, f"fs.{name}"))

    # ingest
    _patch_class(tracer, pipeline.IngestPipeline, {
        "insert": "ingest.insert",
        "flush": "ingest.flush",
    })
    pipeline.flatten_item = tracer.wrap(pipeline.flatten_item,
                                        "ingest.flatten")
    pipeline.infer_types = tracer.wrap(pipeline.infer_types, "ingest.infer")

    # snapshots: the constraint gate every ingest append passes
    snapshots._enforce_constraints = tracer.wrap(
        snapshots._enforce_constraints, "snapshots.enforce"
    )


# -- Spark and process counters --------------------------------------------


def jobs_and_tasks(spark, tag: str) -> tuple[int, int, int]:
    """(jobs, tasks run, failed tasks) of every job carrying ``tag``."""
    st = spark.sparkContext._jsc.sc().statusTracker()
    jobs = tasks = failed = 0
    for jid in st.getJobIdsForTag(tag):
        jobs += 1
        info = st.getJobInfo(jid)
        if info.isEmpty():
            continue
        for sid in info.get().stageIds():
            si = st.getStageInfo(sid)
            if si.isEmpty():
                continue
            si = si.get()
            tasks += si.numCompletedTasks() + si.numFailedTasks()
            failed += si.numFailedTasks()
    return jobs, tasks, failed


def gc_millis(spark) -> int:
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(max(0, b.getCollectionTime()) for b in beans)


# -- per-layer metrics -----------------------------------------------------

#: every per-layer metric and its unit; a workload that does not reach
#: a layer reports 0 for it
LAYER_UNITS = {
    "api.auth_ms": "ms",
    "api.views_ms": "ms",
    "api.views_ms_tenant_a": "ms",
    "api.views_ms_tenant_b": "ms",
    "api.views_per_query": "count",
    "api.self_ms": "ms",
    "query.execute_ms": "ms",
    "query.stream_ms": "ms",
    "query.rows_out_per_op": "count",
    "query.bytes_out_per_op": "bytes",
    "tables.read_ms": "ms",
    "tables.schema_ms": "ms",
    "tables.schema_calls_per_op": "count",
    "tables.table_ms": "ms",
    "tables.table_calls_per_op": "count",
    "tables.append_ms": "ms",
    "tables.create_ms": "ms",
    "tables.files_per_table": "count",
    "tables.stored_bytes_per_input_byte": "ratio",
    "fs.calls_per_op": "count",
    "fs.ms_per_op": "ms",
    "fs.list_calls_per_op": "count",
    "fs.rename_calls_per_op": "count",
    "ingest.insert_ms": "ms",
    "ingest.flatten_ms": "ms",
    "ingest.infer_ms": "ms",
    "ingest.flush_ms": "ms",
    "ingest.rows_per_op": "count",
    "snapshots.enforce_ms": "ms",
    "catalog.construct_ms": "ms",
    "catalog.action_ms": "ms",
    "catalog.construct_jobs": "count",
    "catalog.action_jobs": "count",
    "catalog.construct_tasks": "count",
    "catalog.action_tasks": "count",
    "catalog.queries_with_construct_jobs": "count",
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.failed_tasks": "count",
    "proc.cpu_ms_per_op": "ms",
    "proc.cold_pass_cpu_s": "s",
    "proc.gc_ms_per_op": "ms",
    "traced.kind_p50_ms": "ms",
    "traced.ops_per_s": "1/s",
    "traced.cold_pass_s": "s",
}

#: span name -> metric: time in the outermost span of that name, per op
_SPAN_MS = {
    "api.auth": "api.auth_ms",
    "api.views": "api.views_ms",
    "query.execute": "query.execute_ms",
    "query.stream": "query.stream_ms",
    "tables.read": "tables.read_ms",
    "tables.schema": "tables.schema_ms",
    "tables.table": "tables.table_ms",
    "tables.append": "tables.append_ms",
    "tables.create": "tables.create_ms",
    "ingest.insert": "ingest.insert_ms",
    "ingest.flatten": "ingest.flatten_ms",
    "ingest.infer": "ingest.infer_ms",
    "ingest.flush": "ingest.flush_ms",
    "snapshots.enforce": "snapshots.enforce_ms",
    "catalog.construct": "catalog.construct_ms",
    "catalog.action": "catalog.action_ms",
}

#: metrics of the write path, averaged over the set-up inserts; every
#: other metric is averaged over the timed ops
WRITE_PATH = {
    "tables.append_ms", "tables.create_ms", "ingest.insert_ms",
    "ingest.flatten_ms", "ingest.infer_ms", "ingest.flush_ms",
    "snapshots.enforce_ms",
}


def _ancestors(spans: list[list], sid: int):
    p = spans[sid][3]
    while p is not None:
        yield p
        p = spans[p][3]


def layer_metrics(tracer: Tracer, timed_ops: list[int],
                  setup_ops: list[int]) -> dict[str, float]:
    """Per-op averages from the spans. A span nested in a span of the
    same name (a public call re-entering itself) is not counted again."""
    timed, setup = set(timed_ops), set(setup_ops)
    spans = tracer.spans
    selfs = self_times(spans)
    m = {k: 0.0 for k in LAYER_UNITS}
    op_views: dict[int, float] = {}
    views_tables = 0
    for sid, (name, s, e, _parent, op, attrs) in enumerate(spans):
        if e is None or (op not in timed and op not in setup):
            continue
        ancestors = [spans[p][0] for p in _ancestors(spans, sid)]
        dur_ms = (e - s) * 1000.0
        metric = _SPAN_MS.get(name)
        if metric and name not in ancestors and (
            (op in setup) == (metric in WRITE_PATH)
        ):
            m[metric] += dur_ms
        if op not in timed:
            continue
        if name == "op" and tracer.ops[op].get("http"):
            m["api.self_ms"] += selfs[sid] * 1000.0
        elif name == "api.views" and "api.views" not in ancestors:
            op_views[op] = op_views.get(op, 0.0) + dur_ms
        elif name == "tables.read" and "api.views" in ancestors:
            views_tables += 1
        elif name == "tables.schema":
            m["tables.schema_calls_per_op"] += 1
        elif name == "tables.table":
            m["tables.table_calls_per_op"] += 1
        elif name == "query.stream":
            csv = tracer.ops[op].get("format") == "csv"
            # json: "[" + one chunk per row + "]"; csv: header + rows
            m["query.rows_out_per_op"] += max(
                0, attrs.get("chunks", 0) - (1 if csv else 2))
            m["query.bytes_out_per_op"] += attrs.get("bytes", 0)
        elif name.startswith("fs."):
            m["fs.calls_per_op"] += 1
            m["fs.list_calls_per_op"] += name == "fs.list_names"
            m["fs.rename_calls_per_op"] += name == "fs.rename"
            if not any(a.startswith("fs.") for a in ancestors):
                m["fs.ms_per_op"] += dur_ms
    for k in m:
        if k.endswith("_ms") or k.endswith("_per_op"):
            m[k] /= max(1, len(setup if k in WRITE_PATH else timed))
    m["api.views_per_query"] = views_tables / max(1, len(op_views))
    by_tenant: dict[str, list[float]] = {}
    for op, ms in op_views.items():
        by_tenant.setdefault(tracer.ops[op].get("tenant"), []).append(ms)
    for tenant in ("a", "b"):
        xs = by_tenant.get(tenant)
        m[f"api.views_ms_tenant_{tenant}"] = statistics.mean(xs) if xs else 0.0
    return m
