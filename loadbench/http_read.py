"""http_read: read-only HTTP traffic from one closed-loop client over a
warehouse landed during set-up.

Two tenants whose tables share names: tenant a has 2 tables, tenant b
has 12. The client alternates tenants. A pass holds every op kind once
per tenant, in an order the seed shuffles, then the two isolation
probes. The cold pass and a warm-up pass run before the timed passes.
Every answer is computed here from the generated rows.
"""

from __future__ import annotations

import csv
import io
import json
import math
import random
import time
import urllib.parse

from common import Outcome, summarize, tree_cpu_seconds
from service import Service, dumps

EVENTS = 6000
USERS = 300
SMALL_ROWS = 20
BIG = 5000
KINDS = ("view", "click", "cart", "buy", "share")
COUNTRIES = ("de", "fr", "in", "jp", "us", "br", "ng")
SOURCES = ("web", "ios", "android")
TENANTS = {"a": "key-a", "b": "key-b"}
#: tables only tenant b has (tenant a has events and users)
B_ONLY = [f"t{i:02d}" for i in range(3, 13)]
OP_KINDS = ("filter_count", "group_top10", "join", "window_topk",
            "big_json", "big_csv", "tables", "columns")

#: the cold pass and one warm-up pass run untimed; the timed passes
#: that follow are as many as fill --seconds at PASS_SECONDS each
WARM_PASSES = 2
PASS_SECONDS = 5.0


def generate(seed: int, seconds: int) -> dict:
    rnd = random.Random(seed)
    tenants = {}
    for tenant in TENANTS:
        users = [
            {"user_id": u, "country": rnd.choice(COUNTRIES),
             "tier": rnd.randrange(1, 4)}
            for u in range(USERS)
        ]
        events = [
            {"event_id": i, "user_id": rnd.randrange(USERS),
             "kind": rnd.choice(KINDS),
             "value": round(rnd.uniform(0.0, 1000.0), 3),
             "meta": {"src": rnd.choice(SOURCES), "n": rnd.randrange(100)}}
            for i in range(EVENTS)
        ]
        tables = {"events": events, "users": users}
        if tenant == "b":
            for t in B_ONLY:
                tables[t] = [{"id": i, "label": f"{t}-{rnd.randrange(10**6)}"}
                             for i in range(SMALL_ROWS)]
        tenants[tenant] = tables
    return {"tenants": tenants,
            "timed_passes": max(1, round(seconds / PASS_SECONDS))}


def _sql(kind: str, p: dict) -> str:
    if kind == "filter_count":
        return (f"SELECT count(*) AS n FROM events "
                f"WHERE value > {p['v']} AND kind = '{p['k']}'")
    if kind == "group_top10":
        return ("SELECT user_id, count(*) AS n, sum(value) AS s FROM events "
                f"WHERE kind = '{p['k']}' GROUP BY user_id "
                "ORDER BY n DESC, user_id LIMIT 10")
    if kind == "join":
        return ("SELECT u.country, count(*) AS n, sum(e.value) AS s "
                "FROM events e JOIN users u ON e.user_id = u.user_id "
                f"WHERE e.value < {p['v']} GROUP BY u.country "
                "ORDER BY u.country")
    if kind == "window_topk":
        return ("SELECT user_id, event_id, value FROM ("
                "SELECT user_id, event_id, value, row_number() OVER ("
                "PARTITION BY user_id ORDER BY value DESC, event_id) AS rn "
                f"FROM events WHERE user_id < {p['u']}) t "
                "WHERE rn <= 3 ORDER BY user_id, rn")
    if kind in ("big_json", "big_csv"):
        return ("SELECT event_id, user_id, kind, value FROM events "
                f"WHERE event_id >= {p['s']} AND event_id < {p['s'] + BIG} "
                "ORDER BY event_id")
    raise ValueError(kind)


def _expected(kind: str, p: dict, tables: dict):
    ev = tables["events"]
    if kind == "filter_count":
        return [[sum(1 for e in ev if e["value"] > p["v"] and e["kind"] == p["k"])]]
    if kind == "group_top10":
        agg: dict[int, list] = {}
        for e in ev:
            if e["kind"] == p["k"]:
                a = agg.setdefault(e["user_id"], [0, 0.0])
                a[0] += 1
                a[1] += e["value"]
        top = sorted(agg.items(), key=lambda kv: (-kv[1][0], kv[0]))[:10]
        return [[u, n, s] for u, (n, s) in top]
    if kind == "join":
        country = {u["user_id"]: u["country"] for u in tables["users"]}
        agg = {}
        for e in ev:
            if e["value"] < p["v"]:
                a = agg.setdefault(country[e["user_id"]], [0, 0.0])
                a[0] += 1
                a[1] += e["value"]
        return [[c, n, s] for c, (n, s) in sorted(agg.items())]
    if kind == "window_topk":
        per: dict[int, list] = {}
        for e in ev:
            if e["user_id"] < p["u"]:
                per.setdefault(e["user_id"], []).append(e)
        out = []
        for u in sorted(per):
            best = sorted(per[u], key=lambda e: (-e["value"], e["event_id"]))
            out += [[u, e["event_id"], e["value"]] for e in best[:3]]
        return out
    if kind in ("big_json", "big_csv"):
        return [[e["event_id"], e["user_id"], e["kind"], e["value"]]
                for e in ev if p["s"] <= e["event_id"] < p["s"] + BIG]
    raise ValueError(kind)


def _same(got, want) -> bool:
    if len(got) != len(want):
        return False
    for g_row, w_row in zip(got, want):
        if len(g_row) != len(w_row):
            return False
        for g, w in zip(g_row, w_row):
            if isinstance(w, float):
                if not isinstance(g, (int, float)) or not math.isclose(
                    g, w, rel_tol=1e-9, abs_tol=1e-9
                ):
                    return False
            elif g != w:
                return False
    return True


#: the landed events table: flattened nested object, stamped row id
EVENTS_COLUMNS = {("__row_id", "bigint"), ("event_id", "bigint"),
                  ("user_id", "bigint"), ("kind", "string"),
                  ("value", "double"), ("meta_src", "string"),
                  ("meta_n", "bigint")}


def _check(op: dict, status: int, body: bytes, tables: dict) -> bool:
    kind = op["kind"]
    if kind == "probe":
        # a refusal is the correct answer; any rows are a leak
        return status != 200
    if status != 200:
        return False
    if kind == "tables":
        return json.loads(body) == sorted(tables)
    if kind == "columns":
        got = {(c["name"], c["type"]) for c in json.loads(body)}
        return got == EVENTS_COLUMNS
    want = _expected(kind, op["p"], tables)
    if kind == "big_csv":
        rows = list(csv.reader(io.StringIO(body.decode())))
        if rows[:1] != [["event_id", "user_id", "kind", "value"]]:
            return False
        got = [[int(r[0]), int(r[1]), r[2], float(r[3])] for r in rows[1:]]
        return _same(got, want)
    got = [list(r.values()) for r in json.loads(body)]
    return _same(got, want)


def _plan(seed: int, passes: int, root: str) -> list[list[dict]]:
    rnd = random.Random(seed * 7919 + 1)
    plan = []
    for _ in range(passes):
        per_tenant = {}
        for tenant in TENANTS:
            kinds = list(OP_KINDS)
            rnd.shuffle(kinds)
            per_tenant[tenant] = kinds
        ops = []
        for i in range(len(OP_KINDS)):
            for tenant in TENANTS:
                kind = per_tenant[tenant][i]
                p = {"k": rnd.choice(KINDS),
                     "v": round(rnd.uniform(100.0, 900.0), 1),
                     "u": rnd.randrange(20, 60),
                     "s": rnd.randrange(0, EVENTS - BIG)}
                ops.append({"tenant": tenant, "kind": kind, "p": p})
        # isolation probes, sent by tenant a after tenant b's queries
        ops.append({"tenant": "a", "kind": "probe", "name": "leftover_view",
                    "sql": f"SELECT count(*) AS n FROM {rnd.choice(B_ONLY)}"})
        ops.append({"tenant": "a", "kind": "probe", "name": "path_read",
                    "sql": "SELECT count(*) AS n FROM "
                           f"parquet.`{root}/b/events`"})
        plan.append(ops)
    return plan


def _path(op: dict) -> str:
    key = TENANTS[op["tenant"]]
    kind = op["kind"]
    if kind == "tables":
        return f"/api/tables?api_key={key}"
    if kind == "columns":
        return f"/api/tables/events/columns?api_key={key}"
    sql = op["sql"] if kind == "probe" else _sql(kind, op["p"])
    fmt = "csv" if kind == "big_csv" else "json"
    return (f"/api/data/query?api_key={key}&format={fmt}&query="
            + urllib.parse.quote(sql))


def launch(run_dir: str, tracer) -> Service:
    return Service(run_dir, TENANTS, tracer)


def setup(svc, data: dict) -> float:
    t0 = time.perf_counter()
    posts = [
        (TENANTS[tenant], table, dumps(rows))
        for tenant, tables in data["tenants"].items()
        for table, rows in tables.items()
    ]
    # biggest first, so the threads finish together
    posts.sort(key=lambda p: -len(p[2]))
    svc.land(posts, threads=4)
    return time.perf_counter() - t0


def finish(svc, data: dict, out: Outcome, facts: dict) -> dict:
    stored, files, tables = svc.stored_bytes()
    rows = sum(len(t) for ts in data["tenants"].values() for t in ts.values())
    return {"tables.files_per_table": files / tables,
            "tables.stored_bytes_per_input_byte": stored / svc.posted_bytes,
            "ingest.rows_per_op": rows / len(svc.setup_ops)}


def run(svc, data: dict, seed: int, tracer, out: Outcome) -> dict:
    """The cold pass, the warm-up pass, then the timed passes. Returns
    timing facts."""
    plan = _plan(seed, WARM_PASSES + data["timed_passes"], svc.root)
    op_id = 0
    passes: list[list[tuple[str, float, float]]] = []
    timed_ops: list[int] = []
    for pass_no, ops in enumerate(plan):
        passes.append([])
        for op in ops:
            op_id += 1
            path = _path(op)
            if tracer:
                tracer.begin_op(op_id, http=True, tenant=op["tenant"],
                                kind=op["kind"],
                                format="csv" if op["kind"] == "big_csv"
                                else "json")
            c0 = tree_cpu_seconds()
            t0 = time.perf_counter()
            status, body = svc.request(op_id, "GET", path)
            dt = time.perf_counter() - t0
            cpu = tree_cpu_seconds() - c0
            if tracer:
                tracer.end_op(op_id)
            ok = _check(op, status, body, data["tenants"][op["tenant"]])
            out.record(ok, probe=op["kind"] == "probe",
                       what=f"{op['tenant']}:{op['kind']}:{status}")
            kind = f"{op['tenant']}:{op.get('name', op['kind'])}"
            passes[-1].append((kind, dt * 1000.0, cpu * 1000.0))
            if pass_no >= WARM_PASSES:
                timed_ops.append(op_id)
    facts = summarize("http_read", passes, WARM_PASSES)
    facts["timed_ops"] = timed_ops
    return facts
