"""The program under test, launched the way a deployment launches it:
one SparkSession, a warehouse, API keys, and the stdlib HTTP server on
an ephemeral port."""

from __future__ import annotations

import json
import os
from concurrent.futures import ThreadPoolExecutor

from common import http_request, start_spark
from tracing import OP_HEADER


class Service:
    def __init__(self, run_dir: str, tenants: dict[str, str], tracer):
        """``tenants`` maps destination id -> API key."""
        from scratchdb_spark.api.app import ScratchAPI, serve_background
        from scratchdb_spark.tables import Warehouse

        self.spark = start_spark(run_dir, tracer is not None)
        self.tracer = tracer
        self.root = os.path.join(run_dir, "warehouse")
        self.api = ScratchAPI(
            spark=self.spark, warehouse=Warehouse(self.spark, self.root)
        )
        for dest, key in tenants.items():
            self.api.add_api_key(key, dest)
        self.server, self.port = serve_background(self.api)
        self.posted_bytes = 0
        self.setup_ops: list[int] = []

    def request(self, op: int, method: str, path: str,
                body: bytes | None = None) -> tuple[int, bytes]:
        return http_request(self.port, method, path, body,
                            {OP_HEADER: str(op)})

    def land(self, posts: list[tuple[str, str, bytes]], threads: int) -> None:
        """Set-up inserts: (api key, table, JSON body) posted by a few
        threads. They are ops -1, -2, ..."""
        tracer = self.tracer

        def post(op_item):
            op, (key, table, body) = op_item
            if tracer:
                tracer.begin_op(op, http=True, kind="insert")
            status, reply = self.request(
                op, "POST", f"/api/data/insert/{table}?api_key={key}", body)
            if tracer:
                tracer.end_op(op)
            if status != 200:
                raise RuntimeError(
                    f"set-up insert into {table} failed: {status} "
                    f"{reply[:200]!r}"
                )

        ops = [-(i + 1) for i in range(len(posts))]
        with ThreadPoolExecutor(threads) as pool:
            list(pool.map(post, zip(ops, posts)))
        self.setup_ops += ops
        self.posted_bytes += sum(len(b) for _k, _t, b in posts)

    def stored_bytes(self) -> tuple[int, int, int]:
        """(bytes on disk under every tenant's tables, parquet files,
        tables) — the control store is not counted."""
        total = files = tables = 0
        for dest in os.listdir(self.root):
            if dest.startswith("_"):
                continue
            for table in os.listdir(os.path.join(self.root, dest)):
                tdir = os.path.join(self.root, dest, table)
                if not os.path.isdir(tdir):
                    continue
                tables += 1
                for dirpath, _dirs, names in os.walk(tdir):
                    for n in names:
                        total += os.path.getsize(os.path.join(dirpath, n))
                        files += n.endswith(".parquet")
        return total, files, tables

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()


def dumps(rows) -> bytes:
    return json.dumps(rows, separators=(",", ":")).encode()
