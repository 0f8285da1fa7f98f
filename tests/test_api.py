"""API-surface tests (routes of api/router.go:48-70, FIXTURES.md F8/F9)."""

from __future__ import annotations

import json
import urllib.error
import urllib.parse
import urllib.request
from concurrent.futures import ThreadPoolExecutor

import pytest

from scratchdb_spark.api.app import ScratchAPI, serve_background
from scratchdb_spark.tables import Warehouse


@pytest.fixture(scope="module")
def server(spark, tmp_path_factory):
    wh = Warehouse(spark, str(tmp_path_factory.mktemp("api_wh")))
    api = ScratchAPI(spark=spark, warehouse=wh)
    api.add_api_key("key1", "dest1")
    api.set_admin_key("adminkey")
    srv, port = serve_background(api)
    yield f"http://127.0.0.1:{port}"
    srv.shutdown()


def _get(url: str):
    try:
        with urllib.request.urlopen(url) as r:
            return r.status, r.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


def _post(url: str, body: bytes):
    req = urllib.request.Request(url, data=body, method="POST")
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, r.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


def test_healthcheck(server):
    assert _get(f"{server}/healthcheck") == (200, "true")


def test_auth_required(server):
    code, _ = _get(f"{server}/api/tables")
    assert code == 401
    code, _ = _get(f"{server}/api/tables?api_key=wrong")
    assert code == 401


def test_round_trip_f8(server):
    code, body = _post(
        f"{server}/api/data/insert/tbl?api_key=key1",
        b'{"msg":"hello world"}',
    )
    assert (code, body) == (200, "ok")
    code, body = _get(
        f"{server}/api/data/query?api_key=key1&query=select+*+from+tbl"
    )
    assert code == 200
    rows = json.loads(body)
    assert len(rows) == 1
    assert rows[0]["msg"] == "hello world"
    assert isinstance(rows[0]["__row_id"], int)


def test_csv_format_null_literal(server):
    _post(
        f"{server}/api/data/insert/csvt?api_key=key1",
        b'[{"a":1,"b":"x"},{"a":2}]',
    )
    code, body = _get(
        f"{server}/api/data/query?api_key=key1&format=csv"
        "&query=select+a,b+from+csvt+order+by+a"
    )
    assert code == 200
    lines = body.strip().splitlines()
    assert lines[0] == "a,b"
    assert lines[1] == "1,x"
    assert lines[2] == "2,null"  # NULL renders as literal null


def test_invalid_json_400(server):
    code, _ = _post(f"{server}/api/data/insert/tbl?api_key=key1", b"{bad")
    assert code == 400


def test_partial_failure_500(server):
    code, body = _post(
        f"{server}/api/data/insert/pf?api_key=key1", b'[{"x":1}, 7]'
    )
    assert code == 500
    assert body == "Partially inserted data"
    code, body = _get(
        f"{server}/api/data/query?api_key=key1&query=select+x+from+pf"
    )
    assert json.loads(body) == [{"x": 1}]


def test_query_guard_400(server):
    code, _ = _get(
        f"{server}/api/data/query?api_key=key1&query=drop+table+tbl"
    )
    assert code == 400


def test_tables_and_columns(server):
    code, body = _get(f"{server}/api/tables?api_key=key1")
    assert code == 200
    assert "tbl" in json.loads(body)
    code, body = _get(f"{server}/api/tables/tbl/columns?api_key=key1")
    cols = {c["name"]: c["type"] for c in json.loads(body)}
    assert cols["msg"] == "string"
    assert cols["__row_id"] == "bigint"


def test_vertical_flatten_param(server):
    _post(
        f"{server}/api/data/insert/vt?api_key=key1&flatten=vertical",
        b'{"a":[1,2],"k":"c"}',
    )
    code, body = _get(
        f"{server}/api/data/query?api_key=key1&query="
        "select+a,k,__order_a+from+vt+order+by+a"
    )
    rows = json.loads(body)
    assert [(r["a"], r["k"], r["__order_a"]) for r in rows] == [
        (1, "c", 0), (2, "c", 1),
    ]


def test_share_lifecycle(server):
    _post(
        f"{server}/api/data/insert/sh_tbl?api_key=key1",
        b'{"msg":"hello world"}',
    )
    code, body = _post(
        f"{server}/api/data/query/share?api_key=key1",
        json.dumps({"query": "select msg from sh_tbl", "duration": 3600}).encode(),
    )
    assert code == 200
    share_id = json.loads(body)["id"]
    # public fetch, no api_key
    code, body = _get(f"{server}/share/{share_id}/data.json")
    assert code == 200
    assert json.loads(body)[0]["msg"] == "hello world"
    code, body = _get(f"{server}/share/{share_id}/data.csv")
    assert code == 200 and body.splitlines()[0] == "msg"
    # unknown uuid -> 404; garbage -> 400
    code, _ = _get(f"{server}/share/00000000-0000-0000-0000-000000000000/data.json")
    assert code == 404
    code, _ = _get(f"{server}/share/nope/data.json")
    assert code == 400


def test_share_expiry(server):
    code, body = _post(
        f"{server}/api/data/query/share?api_key=key1",
        json.dumps({"query": "select 1 as one", "duration": -1}).encode(),
    )
    share_id = json.loads(body)["id"]
    code, _ = _get(f"{server}/share/{share_id}/data.json")
    assert code == 404  # already expired


def test_destination_create_and_key_mint(server):
    code, body = _post(
        f"{server}/api/destinations?api_key=key1",
        json.dumps({"id": "dest_new"}).encode(),
    )
    assert code == 200 and json.loads(body)["id"] == "dest_new"
    code, body = _post(
        f"{server}/api/destinations/dest_new/keys?api_key=key1", b""
    )
    assert code == 200
    minted = json.loads(body)
    assert minted["destination_id"] == "dest_new"
    # minted key works for its destination
    code, _ = _post(
        f"{server}/api/data/insert/kt?api_key={minted['key']}", b'{"v":1}'
    )
    assert code == 200
    code, body = _get(f"{server}/api/tables?api_key={minted['key']}")
    assert "kt" in json.loads(body)


def test_metrics_exposed(server):
    _get(f"{server}/healthcheck")
    code, body = _get(f"{server}/metrics")
    assert code == 200
    assert "scratchdb_requests_total" in body


def test_admin_key_destination_override(server):
    code, body = _post(
        f"{server}/api/data/insert/adm?api_key=adminkey&destination_id=dest9",
        b'{"z": 1}',
    )
    assert code == 200
    code, body = _get(
        f"{server}/api/data/query?api_key=adminkey&destination_id=dest9"
        "&query=select+z+from+adm"
    )
    assert json.loads(body) == [{"z": 1}]
    # dest1's catalog must NOT contain adm (tenant isolation)
    code, body = _get(f"{server}/api/tables?api_key=key1")
    assert "adm" not in json.loads(body)


def test_metrics_histograms(server):
    """N20 parity: /metrics publishes exponential-bucket latency and
    size histograms (reference pkg/api/router.go:18-28), cumulative
    with a +Inf terminal bucket and a _count."""
    _get(f"{server}/healthcheck")
    # self-arm: /metrics observes itself AFTER rendering, so the
    # route=/metrics assertions below need one prior call — without
    # this the test is order-dependent on the earlier share test's
    # /metrics hit (fails under pytest -k selection)
    _get(f"{server}/metrics")
    code, body = _get(f"{server}/metrics")
    assert code == 200
    assert 'scratchdb_request_seconds_bucket{route=/healthcheck,le="0.001"}' in body
    assert 'scratchdb_request_seconds_bucket{route=/healthcheck,le="+Inf"}' in body
    assert "scratchdb_request_seconds_count{route=/healthcheck}" in body
    assert 'scratchdb_response_bytes_bucket{route=/healthcheck,le="+Inf"}' in body
    # buckets are cumulative: +Inf count >= any finite bucket, == _count
    import re as _re

    infs = dict(
        _re.findall(
            r'scratchdb_request_seconds_bucket\{route=(/metrics),le="\+Inf"\} (\d+)',
            body,
        )
    )
    counts = dict(
        _re.findall(
            r"scratchdb_request_seconds_count\{route=(/metrics)\} (\d+)", body
        )
    )
    assert infs == counts and infs


def test_destination_validation_rejects_unwritable(spark, tmp_path):
    """N19: create_destination probes the store through the Hadoop FS
    API and rejects the destination when the write fails
    (destinations.go:61-126 TestCredentials semantics)."""
    wh = Warehouse(spark, str(tmp_path / "wh"))
    api = ScratchAPI(spark=spark, warehouse=wh)
    api.create_destination("ok_dest")  # probe passes on writable root

    wh_bad = Warehouse(spark, str(tmp_path / "wh2"))
    # point the warehouse at an unusable scheme after construction
    wh_bad.root = "nosuchscheme://bucket/prefix"
    api_bad = ScratchAPI(spark=spark, warehouse=wh_bad)
    with pytest.raises(ValueError, match="failed credential"):
        api_bad.create_destination("bad_dest")


def test_shares_and_keys_survive_restart(spark, tmp_path):
    """Reference parity (gorm.go:93-129, 202-205): shares and API keys
    persist in the warehouse _control store, so a REBUILT ScratchAPI
    over the same warehouse resolves them — the first-service-restart
    scenario the in-memory-only design lost."""
    import time as _time

    wh = Warehouse(spark, str(tmp_path / "wh_restart"))
    api1 = ScratchAPI(spark=spark, warehouse=wh)
    api1.add_api_key("durakey", "destA")
    api1.set_admin_key("adminkey")
    live_id = api1.create_share("destA", "select 1 as one", 3600)
    dead_id = api1.create_share("destA", "select 2 as two", -1)

    # simulate restart: fresh facade, same warehouse, nothing carried
    api2 = ScratchAPI(spark=spark, warehouse=wh)
    # key survives: resolves to its destination (warm-cache + lookup)
    assert api2.resolve_destination({"api_key": ["durakey"]}) == "destA"
    # admin key survives
    assert api2.resolve_destination(
        {"api_key": ["adminkey"], "destination_id": ["destB"]}
    ) == "destB"
    # live share resolves; expired share is gone (gorm.go:112 predicate)
    link = api2.get_share(live_id)
    assert link is not None and link.query == "select 1 as one"
    assert api2.get_share(dead_id) is None
    # and over HTTP on the restarted instance: live 200, expired 404
    srv, port = serve_background(api2)
    try:
        base = f"http://127.0.0.1:{port}"
        code, body = _get(f"{base}/share/{live_id}/data.json")
        assert code == 200 and json.loads(body) == [{"one": 1}]
        code, _ = _get(f"{base}/share/{dead_id}/data.json")
        assert code == 404
    finally:
        srv.shutdown()

    # expiry is evaluated against the durable record too: a share that
    # expires BETWEEN restarts 404s even though it was live when minted
    api3 = ScratchAPI(spark=spark, warehouse=wh)
    short_id = api3.create_share("destA", "select 3 as three", 1)
    _time.sleep(1.2)
    api4 = ScratchAPI(spark=spark, warehouse=wh)
    assert api4.get_share(short_id) is None


# -- query guard -----------------------------------------------------------


def test_guard_refuses_write_behind_with(server, spark, tmp_path):
    """The subquery wrap (clickhouse/query.go:11) makes anything but one
    query fail to parse: a WITH-prefixed INSERT OVERWRITE DIRECTORY,
    which a first-keyword check let through, writes nothing."""
    from scratchdb_spark import query as q

    hole = tmp_path / "hole"
    for sql in (
        "WITH x AS (SELECT 1 AS a) INSERT OVERWRITE DIRECTORY "
        f"'{hole}' USING parquet SELECT * FROM x",
        # closing the wrap's parenthesis early does not escape it
        f"SELECT 1) t INSERT OVERWRITE DIRECTORY '{hole}' USING parquet "
        "SELECT * FROM (SELECT 1",
        "SELECT 1; SELECT 2",
    ):
        with pytest.raises(q.QueryError):
            q.execute(spark, sql)
        code, _ = _get(
            f"{server}/api/data/query?api_key=key1&query="
            + urllib.parse.quote(sql)
        )
        assert code == 400
    assert not hole.exists()


def test_guard_keeps_names_order_and_literals(spark):
    """Wrapped, a query keeps its column names and ORDER BY output
    order (SELECT, WITH, VALUES, TABLE); a ';' inside a literal and a
    trailing line comment are fine."""
    from scratchdb_spark import query as q

    s = spark.newSession()
    s.range(50).createOrReplaceTempView("tv")

    def rows(sql):
        return json.loads(q.query_json(s, sql))

    assert rows("SELECT 'a;b' AS s") == [{"s": "a;b"}]
    assert rows("SELECT 1 AS a -- trailing comment") == [{"a": 1}]
    got = rows("SELECT id, id * 2 AS d FROM tv ORDER BY id DESC")
    assert got == [{"id": i, "d": 2 * i} for i in range(49, -1, -1)]
    got = rows("WITH x AS (SELECT id FROM tv) SELECT id AS k FROM x "
               "ORDER BY k DESC LIMIT 5")
    assert got == [{"k": k} for k in (49, 48, 47, 46, 45)]
    assert rows("VALUES (2, 'b'), (1, 'a')") == [
        {"col1": 2, "col2": "b"}, {"col1": 1, "col2": "a"},
    ]
    assert rows("TABLE tv") == [{"id": i} for i in range(50)]
    with pytest.raises(q.QueryError):
        q.execute(s, "   ;  ")


# -- tenant isolation and named-table views ----------------------------------

B_SMALL = [f"b{i:02d}" for i in range(1, 11)]


@pytest.fixture(scope="module")
def tenants(spark, tmp_path_factory):
    """Two destinations whose tables share a name: destA holds
    ``secret`` and ``shared`` (3 rows); destB holds ``shared`` (5 rows),
    ``events`` and ten 2-row tables, 12 tables in all."""
    root = str(tmp_path_factory.mktemp("iso_wh"))
    api = ScratchAPI(spark=spark, warehouse=Warehouse(spark, root))
    api.add_api_key("keyA", "destA")
    api.add_api_key("keyB", "destB")
    api.insert("destA", "secret", b'{"ssn": "111-22-3333"}', "horizontal")
    api.insert("destA", "shared", json.dumps([{"v": i} for i in range(3)])
               .encode(), "horizontal")
    api.insert("destB", "shared", json.dumps([{"v": i} for i in range(5)])
               .encode(), "horizontal")
    api.insert("destB", "events", b'[{"kind": "a"}, {"kind": "b"}]',
               "horizontal")
    for t in B_SMALL:
        api.insert("destB", t, b'[{"id": 1}, {"id": 2}]', "horizontal")
    srv, port = serve_background(api)
    yield f"http://127.0.0.1:{port}", root, api
    srv.shutdown()


def _query(base: str, key: str, sql: str):
    code, body = _get(
        f"{base}/api/data/query?api_key={key}&query="
        + urllib.parse.quote(sql)
    )
    return code, (json.loads(body) if code == 200 else body)


def _rows(api: ScratchAPI, dest: str, sql: str):
    _ctype, chunks = api.run_query(dest, sql, "json")
    return json.loads("".join(chunks))


def test_leftover_view_invisible_to_other_tenant(tenants):
    """A's views live in A's request session only: after A queries
    ``secret``, B asking for ``secret`` is refused, not answered."""
    base, _root, _api = tenants
    assert _query(base, "keyA", "SELECT ssn FROM secret") == (
        200, [{"ssn": "111-22-3333"}]
    )
    code, _ = _query(base, "keyB", "SELECT ssn FROM secret")
    assert code == 400


def test_path_qualified_read_refused(tenants):
    """runSQLOnFiles is off in the request session: B cannot read A's
    files by path."""
    base, root, _api = tenants
    code, _ = _query(
        base, "keyB", f"SELECT * FROM parquet.`{root}/destA/secret`"
    )
    assert code == 400


def test_concurrent_tenants_same_table_name(tenants):
    """Two tenants, one table name, two threads of 50 queries each:
    every count is the asking tenant's own."""
    base, _root, _api = tenants
    want = {"keyA": 3, "keyB": 5}

    def count(key):
        return _query(base, key, "SELECT count(*) AS n FROM shared")

    keys = ["keyA", "keyB"] * 50
    with ThreadPoolExecutor(2) as pool:
        got = list(pool.map(count, keys))
    assert [(code, rows[0]["n"]) for code, rows in got] == [
        (200, want[k]) for k in keys
    ]


def test_only_named_tables_registered(tenants, monkeypatch):
    """A query naming 1 of B's 12 tables reads 1 table."""
    _base, _root, api = tenants
    read, seen = api.warehouse.read, []

    def spy(dest, table, spark=None):
        seen.append((dest, table))
        return read(dest, table, spark=spark)

    monkeypatch.setattr(api.warehouse, "read", spy)
    assert len(api.warehouse.tables("destB")) == 12
    assert _rows(api, "destB", "SELECT count(*) AS n FROM b07") == [{"n": 2}]
    assert seen == [("destB", "b07")]
    seen.clear()
    assert _rows(api, "destB", "SELECT 1 AS one") == [{"one": 1}]
    assert seen == []


def test_named_tables_case_backticks_and_cte(tenants):
    """Upper-case and backtick-quoted references resolve; a CTE named
    like a tenant table still shadows it."""
    _base, _root, api = tenants
    for sql in ("SELECT count(*) AS n FROM SHARED",
                "SELECT count(*) AS n FROM `Shared`",
                "select count(*) as n from (TABLE `SHARED`)"):
        assert _rows(api, "destB", sql) == [{"n": 5}]
    assert _rows(
        api, "destB", "WITH shared AS (SELECT 42 AS n) SELECT n FROM shared"
    ) == [{"n": 42}]


def test_share_link_reads_named_table(tenants):
    base, _root, _api = tenants
    code, body = _post(
        f"{base}/api/data/query/share?api_key=keyB",
        json.dumps({"query": "SELECT count(*) AS n FROM b03",
                    "duration": 3600}).encode(),
    )
    assert code == 200
    code, body = _get(f"{base}/share/{json.loads(body)['id']}/data.json")
    assert (code, json.loads(body)) == (200, [{"n": 2}])


def test_request_session_keeps_runtime_sql_conf(spark, tmp_path):
    """A time zone set on the service session at runtime carries into
    the request session: timestamps render the same."""
    from scratchdb_spark import query as q

    service = spark.newSession()
    service.conf.set("spark.sql.session.timeZone", "America/New_York")
    api = ScratchAPI(spark=service, warehouse=Warehouse(service, str(tmp_path)))
    sql = ("SELECT timestamp_seconds(0) AS t, "
           "CAST(timestamp_seconds(0) AS STRING) AS s")
    got = _rows(api, "d", sql)
    assert got == json.loads(q.query_json(service, sql))
    assert got[0]["s"] == "1969-12-31 19:00:00"


def test_request_sessions_add_no_listeners(tenants):
    """200 request sessions leave the SparkContext's listener count
    where it was."""
    _base, _root, api = tenants
    bus = api.spark.sparkContext._jsc.sc().listenerBus()
    _rows(api, "destB", "SELECT 1 AS one")
    before = bus.listeners().size()
    for _ in range(200):
        assert _rows(api, "destB", "SELECT 1 AS one") == [{"one": 1}]
    assert bus.listeners().size() == before


def test_metrics_count_concurrent_requests(spark, tmp_path):
    """observe() runs under a lock: N concurrent requests count N, and
    so do N observe() calls from more threads than cores with a short
    switch interval."""
    import sys

    api = ScratchAPI(spark=spark, warehouse=Warehouse(spark, str(tmp_path)))
    srv, port = serve_background(api)
    n, threads = 200, 16
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(threads) as pool:
            codes = list(pool.map(
                lambda _: _get(f"http://127.0.0.1:{port}/healthcheck")[0],
                range(n),
            ))
            per_thread = 2000
            list(pool.map(
                lambda _: [api.observe("/x", 0.01, 10)
                           for _ in range(per_thread)],
                range(threads),
            ))
    finally:
        sys.setswitchinterval(interval)
        srv.shutdown()
    assert codes == [200] * n
    body = api.render_metrics()
    for route, want in (("/healthcheck", n), ("/x", threads * per_thread)):
        assert f"scratchdb_requests_total{{route={route}}} {want}\n" in body
        assert (
            f"scratchdb_request_seconds_count{{route={route}}} {want}\n"
            in body
        )


@pytest.fixture
def sql_context_records():
    """Records that reach the handlers of pyspark's SQLQueryContextLogger
    (it does not propagate, so caplog does not see them)."""
    import logging

    from pyspark.logger import PySparkLogger

    seen = []
    handler = logging.Handler()
    handler.emit = seen.append
    ctx = PySparkLogger.getLogger("SQLQueryContextLogger")
    ctx.addHandler(handler)
    yield seen
    ctx.removeHandler(handler)


def test_refusal_logs_one_info_line(server, caplog, sql_context_records):
    """A refused query answers 400 and logs one INFO line on the
    service's logger: no ERROR record, no JVM stack."""
    import logging

    caplog.set_level(logging.INFO, logger="scratchdb_spark.api")
    code, _ = _get(
        f"{server}/api/data/query?api_key=key1&query=select+*+from+nope"
    )
    assert code == 400
    assert sql_context_records == []
    assert [r for r in caplog.records if r.levelno >= logging.ERROR] == []
    lines = [r for r in caplog.records if r.name == "scratchdb_spark.api"]
    assert [r.levelno for r in lines] == [logging.INFO]
    assert "\n" not in lines[0].getMessage()
    assert "-> 400" in lines[0].getMessage()


def test_server_error_answers_an_id(spark, tmp_path, caplog, monkeypatch):
    """A 500 answers an error id, not the exception's text; the log
    holds the traceback under that id."""
    import logging

    api = ScratchAPI(spark=spark, warehouse=Warehouse(spark, str(tmp_path)))
    api.add_api_key("k", "d")

    def boom(*_a):
        raise RuntimeError("/secret/server/path")

    monkeypatch.setattr(api, "run_query", boom)
    srv, port = serve_background(api)
    try:
        code, body = _get(f"http://127.0.0.1:{port}/api/data/query"
                          "?api_key=k&query=select+1")
    finally:
        srv.shutdown()
    assert code == 500 and "/secret" not in body
    err_id = body.rsplit("error id ", 1)[1].rstrip(")")
    (rec,) = [r for r in caplog.records if r.levelno >= logging.ERROR]
    assert rec.name == "scratchdb_spark.api"
    assert err_id in rec.getMessage() and rec.exc_info[0] is RuntimeError


def test_quiet_refusal_is_faster(spark, sql_context_records):
    """Dropping pyspark's log record of a refused query saves the JVM
    stack's formatting: at least 30 ms a refusal (about 45 ms measured
    on a 4-core host, local[2])."""
    import statistics
    import time

    from pyspark.errors import AnalysisException

    from scratchdb_spark import query as q
    from scratchdb_spark.session import child_session

    session = child_session(spark)
    sql = "select * from no_such_table"

    def loud():
        try:
            session.sql(q.guard_query(sql))
        except AnalysisException:
            pass

    def quiet():
        try:
            q.execute(session, sql)
        except q.QueryError:
            pass

    def timed(fn):
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    for _ in range(3):
        loud()
        quiet()
    n_loud = len(sql_context_records)
    assert n_loud >= 3  # the records the quiet path drops exist
    gaps = [timed(loud) - timed(quiet) for _ in range(15)]
    assert len(sql_context_records) == n_loud + 15
    assert statistics.median(gaps) >= 0.030
