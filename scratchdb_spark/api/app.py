"""HTTP service over the engine (reference: pkg/api/*).

stdlib-only (the container has no FastAPI/Flask): a ThreadingHTTPServer
whose handler dispatches on the reference's route table. Query results
stream chunk-by-chunk (``query.stream_json`` / ``stream_csv`` ->
chunked responses), mirroring the reference's no-full-materialization
design.

Each query, share links included, runs in a request-scoped child of
the service session (``session.child_session``): it shares the
SparkContext and cache but has its own temp-view namespace, so the
views registered for one tenant's request are invisible to every
other request, and ``spark.sql.runSQLOnFiles`` is off in it, so a
query cannot read ``parquet.`<path>``` around the views. Only the
tenant tables whose names occur in the query text are registered
(compared with ``casefold``): a query names a table by spelling it, so
the check can register too many views but not too few.
"""

from __future__ import annotations

import hashlib
import json
import logging
import re
import threading
import time
import uuid as uuidlib
from dataclasses import dataclass, field
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import SparkSession

from .. import query as q
from ..ingest.pipeline import IngestPipeline, PartialInsertError
from ..session import child_session
from ..tables import Warehouse
from .control import ControlStore, ShareLink

log = logging.getLogger("scratchdb_spark.api")


def _hash_key(key: str) -> str:
    return hashlib.sha256(key.encode()).hexdigest()


@dataclass
class ScratchAPI:
    """Engine facade bound to one SparkSession + warehouse.

    API keys: hashed-key -> destination id (gorm.go:202-205 semantics);
    an optional admin key selects the destination via the
    ``destination_id`` query param (auth.go:29-40).

    Keys, shares, and the admin key are DURABLE: every mutation
    writes through to the warehouse's ``_control/`` store (reference
    parity — gorm persists both, storage/database/gorm/gorm.go:93-129,
    202-205 — so links survive a restart). The in-memory dicts are a
    read cache warmed on construction; lookups fall back to the store,
    so a second ScratchAPI over the same warehouse (a restarted
    service, or a peer worker) resolves records minted by the first.
    """

    spark: SparkSession
    warehouse: Warehouse
    api_keys: dict[str, str] = field(default_factory=dict)  # hash -> dest
    admin_key_hash: str | None = None
    shares: dict[str, ShareLink] = field(default_factory=dict)
    healthy: bool = True

    def __post_init__(self) -> None:
        self.control = ControlStore(self.spark, self.warehouse.root)
        # warm the cache from the durable store (restart path)
        self.api_keys.update(self.control.all_keys())
        if self.admin_key_hash is None:
            self.admin_key_hash = self.control.get_admin()

    #: request metrics (reference N20: Prometheus middleware,
    #: api/router.go:18-28 / prometheus.go) — counters + sums +
    #: exponential-bucket histograms, text-format at /metrics
    metrics: dict[str, float] = field(default_factory=dict)
    #: (metric, route) -> cumulative bucket counts, parallel to *_BUCKETS
    hists: dict = field(default_factory=dict)
    #: handler threads update ``metrics``/``hists`` read-modify-write
    _metrics_lock: threading.Lock = field(
        default_factory=threading.Lock, repr=False, compare=False
    )

    #: exponential bucket edges (reference router.go:18-28 publishes
    #: latency/size histograms with exponential buckets)
    LATENCY_BUCKETS = (0.001, 0.005, 0.025, 0.1, 0.5, 2.5, 10.0)
    SIZE_BUCKETS = (256.0, 4096.0, 65536.0, 1048576.0, 16777216.0)

    def observe(self, route: str, seconds: float, resp_bytes: int) -> None:
        with self._metrics_lock:
            m = self.metrics
            k = f"{{route={route}}}"
            m["requests_total" + k] = m.get("requests_total" + k, 0) + 1
            m["request_seconds_sum" + k] = round(
                m.get("request_seconds_sum" + k, 0.0) + seconds, 6
            )
            m["response_bytes_sum" + k] = (
                m.get("response_bytes_sum" + k, 0) + resp_bytes
            )
            for name, edges, v in (
                ("request_seconds", self.LATENCY_BUCKETS, seconds),
                ("response_bytes", self.SIZE_BUCKETS, float(resp_bytes)),
            ):
                counts = self.hists.setdefault(
                    (name, route), [0] * (len(edges) + 1)
                )
                for i, le in enumerate(edges):
                    if v <= le:
                        counts[i] += 1
                counts[-1] += 1  # +Inf

    def render_metrics(self) -> str:
        """Prometheus text format: counters/sums plus histogram buckets
        in ascending le order with the +Inf terminal bucket."""
        with self._metrics_lock:
            metrics = sorted(self.metrics.items())
            hists = sorted((k, list(v)) for k, v in self.hists.items())
        lines = [f"scratchdb_{k} {v}" for k, v in metrics]
        edges_of = {
            "request_seconds": self.LATENCY_BUCKETS,
            "response_bytes": self.SIZE_BUCKETS,
        }
        for (name, route), counts in hists:
            for le, c in zip(edges_of[name], counts):
                lines.append(
                    f'scratchdb_{name}_bucket{{route={route},le="{le}"}} {c}'
                )
            lines.append(
                f'scratchdb_{name}_bucket{{route={route},le="+Inf"}} '
                f"{counts[-1]}"
            )
            lines.append(
                f"scratchdb_{name}_count{{route={route}}} {counts[-1]}"
            )
        return "\n".join(lines) + "\n"

    def add_api_key(self, key: str, destination_id: str) -> None:
        h = _hash_key(key)
        self.control.put_key(h, str(destination_id))
        self.api_keys[h] = str(destination_id)

    def create_destination(self, dest_id: str) -> None:
        """N19: register a destination namespace AND validate it is
        actually usable before accepting it — the reference pool's
        TestCredentials step (pkg/destinations/destinations.go:61-126)
        opens a connection on create and rejects the destination if it
        fails. Here the credential is the warehouse location: probe a
        write+delete through the Hadoop FS API and raise ValueError
        (HTTP 400) when the store refuses."""
        from .. import fs as hfs

        dest_root = f"{self.warehouse.root}/{dest_id}"
        probe = f"{dest_root}/_probe_{uuidlib.uuid4().hex}"
        try:
            hfs.mkdirs(self.spark, dest_root)
            hfs.write_text(self.spark, probe, "ok")
            if hfs.read_text(self.spark, probe) != "ok":
                raise IOError("probe read-back mismatch")
            hfs.delete(self.spark, probe, recursive=False)
        except Exception as e:
            raise ValueError(
                f"destination '{dest_id}' failed credential/storage "
                f"validation: {e}"
            ) from e

    def set_admin_key(self, key: str) -> None:
        self.admin_key_hash = _hash_key(key)
        self.control.put_admin(self.admin_key_hash)

    def resolve_destination(self, params: dict) -> str | None:
        key = (params.get("api_key") or [""])[0]
        h = _hash_key(key)
        if self.admin_key_hash and h == self.admin_key_hash:
            return (params.get("destination_id") or ["-1"])[0]
        dest = self.api_keys.get(h)
        if dest is None:
            # a peer/previous instance may have minted the key
            dest = self.control.get_key(h)
            if dest is not None:
                self.api_keys[h] = dest
        return dest

    # -- engine ops --------------------------------------------------------

    def insert(self, dest: str, table: str, body: bytes, flatten: str) -> int:
        pipe = IngestPipeline(self.spark, self.warehouse)
        try:
            n = pipe.insert(dest, table, body, flatten)
        except PartialInsertError:
            # valid items must still be stored (data.go:140-150)
            pipe.flush()
            raise
        pipe.flush()  # synchronous mode for the local API
        return n

    def _register_views(
        self, session: SparkSession, dest: str, sql: str
    ) -> None:
        """Register, in ``session``, a view for each of ``dest``'s
        tables whose name occurs in ``sql``. A backtick in a name is
        doubled when quoted, so that spelling counts too."""
        text = sql.casefold()
        for t in self.warehouse.tables(dest):
            name = t.casefold()
            if name in text or name.replace("`", "``") in text:
                df = self.warehouse.read(dest, t, spark=session)
                df.createOrReplaceTempView(t)

    def run_query(self, dest: str, sql: str, fmt: str):
        session = child_session(self.spark)
        session.conf.set("spark.sql.runSQLOnFiles", "false")
        self._register_views(session, dest, sql)
        df = q.execute(session, sql)
        if fmt == "csv":
            return "text/csv", q.stream_csv(df)
        return "application/json", q.stream_json(df)

    def create_share(self, dest: str, sql: str, duration_s: int) -> str:
        share_id = str(uuidlib.uuid4())
        link = ShareLink(
            uuid=share_id,
            destination_id=dest,
            query=sql,
            expires_at=time.time() + duration_s,
        )
        self.control.put_share(link)
        self.shares[share_id] = link
        return share_id

    def get_share(self, share_id: str) -> ShareLink | None:
        link = self.shares.get(share_id)
        if link is None:
            # restart / peer-instance path: durable store lookup
            link = self.control.get_share(share_id)
            if link is not None:
                self.shares[share_id] = link
            return link
        if link.expires_at <= time.time():  # gorm.go:112
            self.shares.pop(share_id, None)
            self.control.get_share(share_id)  # lazily deletes expired doc
            return None
        return link


def make_handler(api: ScratchAPI):
    class Handler(BaseHTTPRequestHandler):
        # -- plumbing ------------------------------------------------------
        def log_message(self, *a):  # silence default stderr logging
            pass

        def _send(self, code: int, body: str | bytes,
                  ctype: str = "text/plain") -> None:
            data = body.encode() if isinstance(body, str) else body
            self.send_response(code)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)
            self._observe(len(data))
            if 400 <= code < 500:
                # the client's error: one line, no stack
                text = data.decode(errors="replace")
                log.info("%s %s -> %d: %s", self.command, self._route(),
                         code, " ".join(text.split())[:300])

        def _server_error(self) -> None:
            """Answer 500 with an error id; the traceback goes to the log
            under that id, not to the client (it can hold JVM text and
            server paths)."""
            err_id = uuidlib.uuid4().hex[:12]
            log.error("%s %s failed (error id %s)", self.command,
                      self._route(), err_id, exc_info=True)
            self._send(500, f"Internal server error (error id {err_id})")

        def _send_stream(self, ctype: str, chunks) -> None:
            self.send_response(200)
            self.send_header("Content-Type", ctype)
            self.send_header("Transfer-Encoding", "chunked")
            self.end_headers()
            sent = 0
            for chunk in chunks:
                data = chunk.encode()
                if not data:
                    continue
                self.wfile.write(f"{len(data):X}\r\n".encode())
                self.wfile.write(data + b"\r\n")
                sent += len(data)
            self.wfile.write(b"0\r\n\r\n")
            self._observe(sent)

        def _observe(self, resp_bytes: int) -> None:
            t0 = getattr(self, "_t0", None)
            if t0 is not None:
                route = re.sub(r"/[0-9a-fA-F-]{8,}", "/{id}", self._route())
                api.observe(route, time.perf_counter() - t0, resp_bytes)

        def _params(self) -> dict:
            return parse_qs(urlparse(self.path).query)

        def _route(self) -> str:
            return urlparse(self.path).path

        def _auth(self) -> str | None:
            dest = api.resolve_destination(self._params())
            if dest is None:
                self._send(401, "Unauthorized")
            return dest

        def _body(self) -> bytes:
            n = int(self.headers.get("Content-Length") or 0)
            return self.rfile.read(n) if n else b""

        # -- routes ----------------------------------------------------------
        def do_GET(self):
            self._t0 = time.perf_counter()
            path = self._route()
            if path == "/metrics":
                self._send(200, api.render_metrics())
                return
            if path == "/healthcheck":
                if api.healthy:
                    self._send(200, json.dumps(True), "application/json")
                else:
                    self._send(503, "unhealthy")
                return
            m = re.fullmatch(r"/share/([^/]+)/data\.(\w+)", path)
            if m:
                return self._share_data(m.group(1), m.group(2))
            if path == "/api/data/query":
                return self._query()
            if path == "/api/tables":
                return self._tables()
            m = re.fullmatch(r"/api/tables/([^/]+)/columns", path)
            if m:
                return self._columns(m.group(1))
            if path == "/api/destinations":
                dest = self._auth()
                if dest is None:
                    return
                dests = sorted(set(api.api_keys.values()))
                self._send(200, json.dumps(dests), "application/json")
                return
            self._send(404, "not found")

        def do_POST(self):
            self._t0 = time.perf_counter()
            path = self._route()
            m = re.fullmatch(r"/api/data/insert/([^/]+)", path)
            if m:
                return self._insert(m.group(1))
            if path == "/api/data/query":
                return self._query()
            if path == "/api/data/query/share":
                return self._create_share()
            if path == "/api/destinations":
                return self._create_destination()
            m = re.fullmatch(r"/api/destinations/([^/]+)/keys", path)
            if m:
                return self._add_key(m.group(1))
            self._send(404, "not found")

        def _create_destination(self):
            dest = self._auth()
            if dest is None:
                return
            try:
                body = json.loads(self._body())
                new_id = str(body["id"])
            except (json.JSONDecodeError, KeyError, TypeError):
                self._send(400, "Invalid request body")
                return
            try:
                api.create_destination(new_id)
            except ValueError as e:
                # destinations.go:61-126: credential test failed on
                # create -> destination rejected
                self._send(400, str(e))
                return
            self._send(
                200, json.dumps({"id": new_id}), "application/json"
            )

        def _add_key(self, dest_id: str):
            """Mint a fresh API key for a destination
            (api/destinations.go:14-21 — key is a server-generated
            uuid, returned once)."""
            caller = self._auth()
            if caller is None:
                return
            key = str(uuidlib.uuid4())
            api.add_api_key(key, dest_id)
            self._send(
                200,
                json.dumps({"key": key, "destination_id": dest_id}),
                "application/json",
            )

        # -- handlers ----------------------------------------------------
        def _insert(self, table: str):
            dest = self._auth()
            if dest is None:
                return
            flatten = (self._params().get("flatten") or ["horizontal"])[0]
            flatten = "vertical" if flatten == "vertical" else "horizontal"
            try:
                api.insert(dest, table, self._body(), flatten)
                self._send(200, "ok")
            except PartialInsertError:
                # data.go:140-150: valid items stored, 500 returned
                self._send(500, "Partially inserted data")
            except ValueError as e:
                self._send(400, str(e))
            except Exception:
                self._server_error()

        def _query(self):
            dest = self._auth()
            if dest is None:
                return
            params = self._params()
            sql = (params.get("query") or [""])[0]
            if self.command == "POST" and not sql:
                body = self._body()
                try:
                    parsed = json.loads(body)
                    sql = parsed.get("query", "") if isinstance(parsed, dict) else ""
                except json.JSONDecodeError:
                    sql = body.decode()
            fmt = (params.get("format") or ["json"])[0]
            try:
                ctype, chunks = api.run_query(dest, sql, fmt)
                self._send_stream(ctype, chunks)
            except q.QueryError as e:
                self._send(400, str(e))
            except Exception:
                self._server_error()

        def _tables(self):
            dest = self._auth()
            if dest is None:
                return
            self._send(
                200, json.dumps(api.warehouse.tables(dest)), "application/json"
            )

        def _columns(self, table: str):
            dest = self._auth()
            if dest is None:
                return
            try:
                cols = [
                    {"name": n, "type": t}
                    for n, t in api.warehouse.columns(dest, table)
                ]
            except Exception:
                self._send(404, "table not found")
                return
            self._send(200, json.dumps(cols), "application/json")

        def _create_share(self):
            dest = self._auth()
            if dest is None:
                return
            try:
                body = json.loads(self._body())
                sql = body.get("query", "")
                duration = int(body.get("duration", 0))
            except (json.JSONDecodeError, TypeError, ValueError):
                self._send(400, "Invalid request body")
                return
            if not sql:
                self._send(400, "Query cannot be empty")
                return
            share_id = api.create_share(dest, sql, duration)
            self._send(200, json.dumps({"id": share_id}), "application/json")

        def _share_data(self, share_id: str, fmt: str):
            try:
                uuidlib.UUID(share_id)
            except ValueError:
                self._send(400, "invalid uuid")
                return
            link = api.get_share(share_id)
            if link is None:
                self._send(404, "Query not found")
                return
            try:
                ctype, chunks = api.run_query(
                    link.destination_id, link.query, fmt
                )
                self._send_stream(ctype, chunks)
            except q.QueryError as e:
                self._send(400, str(e))
            except Exception:
                self._server_error()

    return Handler


def make_server(api: ScratchAPI, port: int = 0) -> ThreadingHTTPServer:
    """Bind a threading HTTP server (port=0 -> ephemeral)."""
    return ThreadingHTTPServer(("127.0.0.1", port), make_handler(api))


def serve_background(api: ScratchAPI, port: int = 0) -> tuple[ThreadingHTTPServer, int]:
    srv = make_server(api, port)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, srv.server_address[1]
