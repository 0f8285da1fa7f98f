"""Round-trip ingest tests (FIXTURES.md F1-F8; model:
destinations/clickhouse/clickhouse_test.go round-trip pattern)."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from scratchdb_spark.ingest.ids import SnowflakeGenerator
from scratchdb_spark.ingest.pipeline import IngestPipeline, PartialInsertError
from scratchdb_spark.ingest.writer import BufferedWriter
from scratchdb_spark.tables import Warehouse


@pytest.fixture()
def pipe(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "warehouse"))
    return IngestPipeline(spark, wh)


def rows_of(pipe, db, tbl):
    return [r.asDict() for r in pipe.warehouse.read(db, tbl).collect()]


def test_f8_round_trip(pipe):
    pipe.insert("db1", "tbl", '{"msg":"hello world"}')
    pipe.flush()
    rows = rows_of(pipe, "db1", "tbl")
    assert len(rows) == 1
    assert rows[0]["msg"] == "hello world"
    assert isinstance(rows[0]["__row_id"], int)


def test_f1_types(pipe):
    pipe.insert("db1", "t1", '{"s":"hi","i":42,"f":1.5,"b":true,"n":null}')
    pipe.flush()
    schema = {f.name: f.dataType.simpleString()
              for f in pipe.warehouse.schema("db1", "t1").fields}
    assert schema == {
        "__row_id": "bigint", "s": "string", "i": "bigint",
        "f": "double", "b": "boolean", "n": "string",
    }
    r = rows_of(pipe, "db1", "t1")[0]
    assert (r["s"], r["i"], r["f"], r["b"], r["n"]) == ("hi", 42, 1.5, True, None)


def test_f2_array_body(pipe):
    n = pipe.insert("db1", "t2", '[{"x":1},{"x":2}]')
    assert n == 2
    pipe.flush()
    assert sorted(r["x"] for r in rows_of(pipe, "db1", "t2")) == [1, 2]


def test_f2_invalid_json(pipe):
    with pytest.raises(ValueError):
        pipe.insert("db1", "t2", "{not json")


def test_f2_partial_failure(pipe):
    # non-object item fails, valid items still stored (data.go:140-150)
    with pytest.raises(PartialInsertError):
        pipe.insert("db1", "t3", '[{"x":1}, 5, {"x":2}]')
    pipe.flush()
    assert sorted(r["x"] for r in rows_of(pipe, "db1", "t3")) == [1, 2]


def test_f3_horizontal(pipe):
    pipe.insert("db1", "t4", '{"user":{"name":"alice","tags":["a","b"]},"n":1}')
    pipe.flush()
    r = rows_of(pipe, "db1", "t4")[0]
    assert r["user_name"] == "alice"
    assert (r["user_tags_0"], r["user_tags_1"], r["n"]) == ("a", "b", 1)


def test_f4_vertical(pipe):
    pipe.insert("db1", "t5", '{"a":[1,2],"b":["x","y"],"k":"c"}', flatten="vertical")
    pipe.flush()
    rows = rows_of(pipe, "db1", "t5")
    assert len(rows) == 4
    assert {(r["a"], r["b"]) for r in rows} == {(1, "x"), (1, "y"), (2, "x"), (2, "y")}
    assert len({r["___document_id"] for r in rows}) == 1
    assert len({r["__row_id"] for r in rows}) == 4  # each exploded row gets an id


def test_f6_schema_evolution(pipe):
    pipe.insert("db1", "t6", '{"a":1}')
    pipe.flush()
    pipe.insert("db1", "t6", '{"a":2,"b":"x"}')
    pipe.flush()
    rows = rows_of(pipe, "db1", "t6")
    schema = {f.name: f.dataType.simpleString()
              for f in pipe.warehouse.schema("db1", "t6").fields}
    assert schema["a"] == "bigint" and schema["b"] == "string"
    by_a = {r["a"]: r for r in rows}
    assert by_a[1]["b"] is None and by_a[2]["b"] == "x"
    # batch3: conflicting type -> first wins, value coerced (cast-else-null)
    pipe.insert("db1", "t6", '{"a":"oops"}')
    pipe.flush()
    schema = {f.name: f.dataType.simpleString()
              for f in pipe.warehouse.schema("db1", "t6").fields}
    assert schema["a"] == "bigint"
    vals = sorted((r["a"] is None) for r in rows_of(pipe, "db1", "t6"))
    assert vals == [False, False, True]


def test_f7_caller_row_id(pipe):
    pipe.insert("db1", "t7", '{"__row_id":7,"x":1}')
    pipe.flush()
    assert rows_of(pipe, "db1", "t7")[0]["__row_id"] == 7


def test_catalog_endpoints(pipe):
    pipe.insert("db9", "zeta", '{"x":1}')
    pipe.insert("db9", "alpha", '{"y":"s"}')
    pipe.flush()
    assert pipe.warehouse.tables("db9") == ["alpha", "zeta"]
    cols = dict(pipe.warehouse.columns("db9", "alpha"))
    assert cols == {"__row_id": "bigint", "y": "string"}


def test_buffered_writer_rotation(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    done = []
    writer = BufferedWriter(
        str(tmp_path / "buf"), max_rows=3, max_age_seconds=0,
        on_closed=lambda db, tbl, p: done.append((db, tbl, p)),
    )
    pipe = IngestPipeline(spark, wh, writer=writer)
    for i in range(7):
        pipe.insert("db1", "t", json.dumps({"i": i}))
    assert len(done) == 2  # two rotations at 3 rows each
    writer.flush_all()
    assert len(done) == 3
    for db, tbl, path in done:
        pipe.append_ndjson_file(db, tbl, path)
    assert sorted(r["i"] for r in rows_of(pipe, "db1", "t")) == list(range(7))


def test_snowflake_unique_and_ordered():
    g = SnowflakeGenerator(node_id=5)
    ids = [g.next_id() for _ in range(5000)]
    assert len(set(ids)) == 5000
    assert ids == sorted(ids)
    assert all(0 < i < 2**63 for i in ids)


def test_distributed_vote_matches_driver_path(pipe, spark):
    """append_lines_df (mapInPandas vote + from_json read) must produce
    the same schema and rows as the driver-side append_ndjson_lines."""
    lines = [
        json.dumps({"a": 1, "b": "x", "__row_id": 1}),
        json.dumps({"a": 2.5, "c": True, "__row_id": 2}),   # a -> float
        json.dumps({"a": None, "b": 3, "__row_id": 3}),     # b -> string
        json.dumps({"d": 2**63, "__row_id": 4}),            # overflow -> float
    ]
    pipe.append_ndjson_lines("db", "drv", lines)
    pipe.append_lines_df(
        "db", "dist", spark.createDataFrame([(l,) for l in lines], "value string")
    )

    drv = pipe.warehouse.read("db", "drv")
    dist = pipe.warehouse.read("db", "dist")
    assert dict(drv.dtypes) == dict(dist.dtypes)
    key = lambda r: r["__row_id"]  # noqa: E731
    drv_rows = sorted([r.asDict() for r in drv.collect()], key=key)
    dist_rows = sorted([r.asDict() for r in dist.collect()], key=key)
    assert drv_rows == dist_rows


def test_distributed_vote_schema_evolution_first_wins(pipe, spark):
    df1 = spark.createDataFrame(
        [(json.dumps({"a": 1, "__row_id": 1}),)], "value string"
    )
    pipe.append_lines_df("db", "t", df1)
    # second batch: conflicting type for a (string) + a new column
    df2 = spark.createDataFrame(
        [(json.dumps({"a": "not-an-int", "b": "x", "__row_id": 2}),)],
        "value string",
    )
    pipe.append_lines_df("db", "t", df2)

    out = pipe.warehouse.read("db", "t")
    assert dict(out.dtypes)["a"] == "bigint"  # first batch wins
    rows = {r["__row_id"]: r.asDict() for r in out.collect()}
    assert rows[1]["a"] == 1 and rows[1]["b"] is None
    assert rows[2]["a"] is None  # cast-else-null coercion
    assert rows[2]["b"] == "x"


# -- object-store posture: sidecar schema + Hadoop FS landing zone --------


def test_sidecar_schema_written_and_authoritative(pipe, spark):
    pipe.insert("db1", "t", '{"a": 1}')
    pipe.flush()
    wh = pipe.warehouse
    side = wh._sidecar("db1", "t")
    from scratchdb_spark import fs as hfs

    assert hfs.exists(spark, side)
    stored = json.loads(hfs.read_text(spark, side))
    names = [f["name"] for f in stored["fields"]]
    assert names == [f.name for f in wh.schema("db1", "t").fields]
    assert set(names) == {"__row_id", "a"}

    # evolution updates the sidecar (metadata-only)
    pipe.insert("db1", "t", '{"b": "x"}')
    pipe.flush()
    stored = json.loads(hfs.read_text(spark, side))
    assert {f["name"] for f in stored["fields"]} == {"__row_id", "a", "b"}

    # the sidecar is the read schema's source of truth: old parquet
    # files (written before b existed) project b as NULL
    rows = {r["a"]: r["b"] for r in wh.read("db1", "t").collect()}
    assert rows[1] is None


def test_sidecar_migration_from_legacy_table(pipe, spark):
    """Tables created before the sidecar existed migrate on first
    touch via a one-time mergeSchema read."""
    pipe.insert("db1", "t", '{"a": 1}')
    pipe.flush()
    wh = pipe.warehouse
    from scratchdb_spark import fs as hfs

    hfs.delete(spark, wh._sidecar("db1", "t"), recursive=False)
    schema = wh.schema("db1", "t")  # falls back, then re-materializes
    assert {f.name for f in schema.fields} == {"__row_id", "a"}
    assert hfs.exists(spark, wh._sidecar("db1", "t"))


def test_buffered_writer_uploads_to_landing_zone(spark, tmp_path):
    """Rotation with a landing zone uploads the closed file through
    the Hadoop FS API and removes the local spool file (reference
    filesystem.go:95-171: local buffer -> blob store)."""
    import os

    from scratchdb_spark.fs import HadoopLanding

    landing_root = str(tmp_path / "landing")
    writer = BufferedWriter(
        str(tmp_path / "buf"), max_rows=2, max_age_seconds=0,
        landing=HadoopLanding(spark, landing_root),
    )
    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = IngestPipeline(spark, wh, writer=writer)
    for i in range(4):
        pipe.insert("db1", "t", json.dumps({"i": i}))
    closed = writer.flush_all()
    closed_dir = os.path.join(landing_root, "closed", "db1", "t")
    remote_files = sorted(os.listdir(closed_dir))
    assert len(remote_files) >= 2
    # local spool is empty (files moved, not copied)
    open_dir = os.path.join(str(tmp_path / "buf"), "open", "db1", "t")
    assert not os.path.isdir(open_dir) or os.listdir(open_dir) == []
    _ = closed

    # worker half reads straight from the landing zone
    for name in remote_files:
        pipe.append_ndjson_file("db1", "t", os.path.join(closed_dir, name))
    assert sorted(r["i"] for r in rows_of(pipe, "db1", "t")) == list(range(4))


def test_landing_zone_on_non_file_scheme_viewfs(spark, tmp_path):
    """The "Hadoop FS covers object stores" claim, tested rather than
    asserted: mount a ``viewfs://`` cell — a real non-file FileSystem
    implementation from hadoop-common, with its own scheme handling,
    URI authority resolution, and mount-table indirection — over a
    local backing directory, and run the full landing-zone surface
    (upload via moveFromLocalFile, exists, list, write/read_text, and
    a Spark scan) against viewfs:// URIs. Matches the reference's
    upload-then-enqueue flow (filesystem.go:95-171) on a store whose
    paths are NOT local paths."""
    from scratchdb_spark import fs as hfs
    from scratchdb_spark.fs import HadoopLanding

    backing = tmp_path / "viewfs-backing"
    backing.mkdir()
    spark._jsc.hadoopConfiguration().set(
        "fs.viewfs.mounttable.testcell.link./landing", f"file://{backing}"
    )
    root = "viewfs://testcell/landing"
    landing = HadoopLanding(spark, root)

    spool = tmp_path / "spool.ndjson"
    spool.write_text('{"i": 1}\n{"i": 2}\n')
    remote = landing.upload("db1", "t", str(spool))
    assert remote == f"{root}/closed/db1/t/spool.ndjson"
    assert not spool.exists()  # moved, not copied
    assert hfs.exists(spark, remote)
    assert hfs.list_names(spark, landing.closed_dir("db1", "t")) == [
        "spool.ndjson"
    ]
    assert hfs.read_text(spark, remote) == '{"i": 1}\n{"i": 2}\n'
    # the bytes really landed on the mounted backing store
    assert (backing / "closed" / "db1" / "t" / "spool.ndjson").is_file()
    # sidecar-style small-file round trip on the non-file scheme
    hfs.write_text(spark, f"{root}/closed/db1/t/_meta.json", '{"ok":1}')
    assert hfs.read_text(spark, f"{root}/closed/db1/t/_meta.json") == '{"ok":1}'
    # and Spark's own scan path reads through viewfs too (what the
    # streaming worker does with the closed dir)
    assert spark.read.text(remote).count() == 2


def test_snapshot_versioning_time_travel(spark, tmp_path):
    """Manifest snapshots: version-pinned reads see the exact file set
    (and SCHEMA) of their commit; later appends don't shift them."""
    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    b1 = spark.createDataFrame([(1, "a"), (2, "b")], "__row_id long, v string")
    v1 = snap.append_versioned(wh, "db", "t", b1)
    # second batch evolves the schema (new column w)
    b2 = spark.createDataFrame(
        [(3, "c", 7.5)], "__row_id long, v string, w double"
    )
    v2 = snap.append_versioned(wh, "db", "t", b2)
    assert (v1, v2) == (1, 2)

    s1 = snap.read_snapshot(wh, "db", "t", version=1)
    assert s1.count() == 2
    assert "w" not in s1.columns  # pre-evolution schema
    s2 = snap.read_snapshot(wh, "db", "t")  # latest
    assert s2.count() == 3 and "w" in s2.columns

    # a reader PINNED to v2's plan is unaffected by a later append
    pinned = snap.read_snapshot(wh, "db", "t", version=2)
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame([(4, "d", 1.0)],
                              "__row_id long, v string, w double"),
    )
    assert pinned.count() == 3
    assert snap.read_snapshot(wh, "db", "t").count() == 4

    assert snap.versions(wh, "db", "t") == [1, 2, 3]
    assert snap.expire_snapshots(wh, "db", "t", keep_last=1) == [1, 2]
    assert snap.versions(wh, "db", "t") == [3]
    # expiry drops metadata only — the latest read still sees all rows
    assert snap.read_snapshot(wh, "db", "t").count() == 4


def test_delete_where_copy_on_write(spark, tmp_path):
    """Row-level delete: only files containing matches rewrite; the
    pre-delete version still shows the rows (audit trail); counts and
    survivors are exact."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    # two separate appends -> two disjoint file sets
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(i, f"u{i}") for i in range(5)], "__row_id long, who string"
        ),
    )
    v2 = snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(i, f"u{i}") for i in range(5, 10)],
            "__row_id long, who string",
        ),
    )
    files_before = set(
        snap.read_snapshot(wh, "db", "t")
        .withColumn("f", F.input_file_name()).select("f")
        .toPandas()["f"]
    )

    new_v, n_deleted = snap.delete_where(
        wh, "db", "t", F.col("who").isin("u2", "u3")
    )
    assert n_deleted == 2 and new_v == v2 + 1
    latest = snap.read_snapshot(wh, "db", "t")
    assert latest.count() == 8
    assert latest.filter(F.col("who").isin("u2", "u3")).count() == 0
    # audit trail: the pre-delete version still has all 10
    assert snap.read_snapshot(wh, "db", "t", version=v2).count() == 10
    # COW locality: batch-2 files (no matches) carried over untouched
    files_after = set(
        latest.withColumn("f", F.input_file_name()).select("f")
        .toPandas()["f"]
    )
    assert files_before & files_after, "unaffected files must carry over"
    # no-match delete is a no-op version-wise
    same_v, zero = snap.delete_where(
        wh, "db", "t", F.col("who") == "nobody"
    )
    assert zero == 0 and same_v == new_v


def test_delete_where_null_predicate_rows_survive(spark, tmp_path):
    """Delta DELETE semantics: rows where the predicate evaluates to
    NULL are NOT deleted — delete/keep must be exact complements.
    Previously filter(p)/filter(~p) both dropped NULL rows, physically
    deleting them while never emitting them to the change files, so the
    CDC feed silently diverged from the table state and n_deleted
    undercounted."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    v1 = snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, None), (4, None), (5, "b")],
            "__row_id long, who string",
        ),
    )
    # predicate is NULL on rows 3 and 4 -> they must SURVIVE
    v2, n_deleted = snap.delete_where(wh, "db", "t", F.col("who") == "b")
    assert n_deleted == 2
    latest = snap.read_snapshot(wh, "db", "t")
    assert latest.count() == 3
    assert latest.filter(F.col("who").isNull()).count() == 2
    # change files contain exactly the deleted rows (ids 2 and 5)
    changed = snap.read_changes(wh, "db", "t", v1, v2)
    rows = {
        (r["__row_id"], r["_change_type"]) for r in changed.collect()
    }
    assert rows == {(2, "delete"), (5, "delete")}
    # string predicates are normalized the same way
    v3, n2 = snap.delete_where(wh, "db", "t", "who = 'a'")
    assert n2 == 1
    assert snap.read_snapshot(wh, "db", "t").count() == 2


def test_merge_upsert_latest_wins(spark, tmp_path):
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    snap.append_versioned(
        wh, "db", "dim",
        spark.createDataFrame(
            [(1, "old1", 10.0), (2, "old2", 20.0)],
            "__row_id long, name string, bal double",
        ),
    )
    pre_v = snap.append_versioned(
        wh, "db", "dim",
        spark.createDataFrame(
            [(3, "old3", 30.0)], "__row_id long, name string, bal double"
        ),
    )
    updates = spark.createDataFrame(
        [(2, "NEW2", 99.0), (4, "new4", 40.0)],
        "__row_id long, name string, bal double",
    )
    v, n_upd, n_ins = snap.merge_upsert(
        wh, "db", "dim", updates, "__row_id"
    )
    assert (n_upd, n_ins) == (1, 1) and v == pre_v + 1
    latest = {
        r["__row_id"]: (r["name"], r["bal"])
        for r in snap.read_snapshot(wh, "db", "dim").collect()
    }
    assert latest == {
        1: ("old1", 10.0), 2: ("NEW2", 99.0),
        3: ("old3", 30.0), 4: ("new4", 40.0),
    }
    # pre-merge version unchanged
    pre = {
        r["__row_id"]: r["name"]
        for r in snap.read_snapshot(wh, "db", "dim", version=pre_v).collect()
    }
    assert pre == {1: "old1", 2: "old2", 3: "old3"}


def test_maintain_table_compacts_and_recommits(spark, tmp_path):
    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    for i in range(4):  # 4 appends -> >= 4 files
        snap.append_versioned(
            wh, "db", "t",
            spark.createDataFrame(
                [(i * 10 + j, float(j)) for j in range(5)],
                "__row_id long, v double",
            ),
        )
    before = snap.read_snapshot(wh, "db", "t")
    rows_before = sorted(map(tuple, before.collect()))
    res = snap.maintain_table(wh, "db", "t")
    assert snap.versions(wh, "db", "t") == [res["version"]]
    after = snap.read_snapshot(wh, "db", "t")
    assert sorted(map(tuple, after.collect())) == rows_before
    assert res["files_after"] <= res["files_before"]


def test_incremental_distinct_rollup_merges_across_batches(spark, tmp_path):
    """Sketch partials must merge to the same estimate as a one-shot
    sketch over all rows — including users seen in BOTH batches (the
    case additive partials get wrong)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from scratchdb_spark.operators.incremental import (
        append_distinct_partials,
        read_distinct_rollup,
    )
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    day = dt.datetime(2024, 1, 1, 12)
    b1 = spark.createDataFrame(
        [(day, "click", u) for u in range(100)],
        "ts timestamp_ntz, event_type string, user_id long",
    )
    # second batch overlaps users 50-99 and adds 100-149
    b2 = spark.createDataFrame(
        [(day, "click", u) for u in range(50, 150)],
        "ts timestamp_ntz, event_type string, user_id long",
    )
    append_distinct_partials(wh, "db", "du", b1)
    append_distinct_partials(wh, "db", "du", b2)
    merged = read_distinct_rollup(wh, "db", "du").collect()
    assert len(merged) == 1
    est = merged[0]["approx_distinct"]
    oneshot = (
        b1.unionAll(b2)
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")))
        .collect()[0][0]
    )
    assert est == oneshot            # identical sketch algebra
    assert abs(est - 150) <= 5       # and near the true 150


def test_read_changes_cdc_between_snapshots(spark, tmp_path):
    """read_changes: appends surface as inserts, COW deletes as
    deletes with survivors cancelling, merge updates as their
    delete/insert pair, schema evolution aligns old rows, and an
    identical from==to diff is empty."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh_cdc"))
    v1 = snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(1, 10), (2, 20), (3, 30)], "__row_id long, amount long"
        ),
    )
    v2 = snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame([(4, 40)], "__row_id long, amount long"),
    )
    # append-only diff: pure inserts
    ch12 = snap.read_changes(wh, "db", "t", v1, v2).collect()
    assert {(r["_change_type"], r["__row_id"]) for r in ch12} == {
        ("insert", 4)
    }
    # self-diff is empty
    assert snap.read_changes(wh, "db", "t", v1, v1).count() == 0

    v3, n_del = snap.delete_where(
        wh, "db", "t", F.col("__row_id") == 2
    )
    assert n_del == 1
    ch23 = snap.read_changes(wh, "db", "t", v2, v3).collect()
    # survivors of the rewritten file cancel; only the delete remains
    assert {(r["_change_type"], r["__row_id"], r["amount"])
            for r in ch23} == {("delete", 2, 20)}

    v4, _, _ = snap.merge_upsert(
        wh, "db", "t",
        spark.createDataFrame(
            [(3, 99), (5, 50)], "__row_id long, amount long"
        ),
        "__row_id",
    )
    ch34 = snap.read_changes(wh, "db", "t", v3, v4).collect()
    # update = preimage delete + postimage insert; new key = insert
    assert {(r["_change_type"], r["__row_id"], r["amount"])
            for r in ch34} == {
        ("delete", 3, 30), ("insert", 3, 99), ("insert", 5, 50),
    }

    # cumulative feed v1 -> v4
    ch14 = snap.read_changes(wh, "db", "t", v1, v4).collect()
    assert {(r["_change_type"], r["__row_id"], r["amount"])
            for r in ch14} == {
        ("insert", 4, 40), ("insert", 5, 50), ("insert", 3, 99),
        ("delete", 2, 20), ("delete", 3, 30),
    }

    # schema evolution: new column appears; old-side rows align NULL
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(6, 60, "x")], "__row_id long, amount long, tag string"
        ),
    )
    ch45 = snap.read_changes(wh, "db", "t", v4).collect()
    assert {(r["_change_type"], r["__row_id"], r["tag"])
            for r in ch45} == {("insert", 6, "x")}


def test_append_after_cow_delete_does_not_resurrect(spark, tmp_path):
    """Regression: commit_snapshot used to rebuild the manifest from
    the directory listing, so the first append after a copy-on-write
    delete re-adopted the replaced files and the deleted rows came
    back. Manifests now carry a cumulative retired set."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh_res"))
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(1, 10), (2, 20)], "__row_id long, amount long"
        ),
    )
    snap.delete_where(wh, "db", "t", F.col("__row_id") == 2)
    v = snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame([(3, 30)], "__row_id long, amount long"),
    )
    rows = {
        r["__row_id"]
        for r in snap.read_snapshot(wh, "db", "t", v).collect()
    }
    assert rows == {1, 3}, f"deleted row resurrected: {rows}"
    # and the same holds after a merge rewrite + append
    snap.merge_upsert(
        wh, "db", "t",
        spark.createDataFrame([(1, 99)], "__row_id long, amount long"),
        "__row_id",
    )
    v2 = snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame([(4, 40)], "__row_id long, amount long"),
    )
    got = {
        (r["__row_id"], r["amount"])
        for r in snap.read_snapshot(wh, "db", "t", v2).collect()
    }
    assert got == {(1, 99), (3, 30), (4, 40)}, got


def test_maintain_table_does_not_compact_deleted_rows_back(
    spark, tmp_path
):
    """Regression (sibling of the append-resurrection bug):
    compact_path reads the whole directory, so maintenance must
    physically drop COW-retired files before rewriting — otherwise
    deleted rows compact back into the live data."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh_mt"))
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(i, i * 10) for i in range(1, 6)],
            "__row_id long, amount long",
        ),
    )
    snap.delete_where(wh, "db", "t", F.col("__row_id").isin(2, 4))
    res = snap.maintain_table(wh, "db", "t")
    assert res["reclaimed_files"] >= 1
    rows = {
        r["__row_id"]
        for r in snap.read_snapshot(wh, "db", "t").collect()
    }
    assert rows == {1, 3, 5}, f"deleted rows compacted back: {rows}"
    # retired set drains once the dead files are physically gone
    v = snap.versions(wh, "db", "t")[-1]
    assert snap._manifest(wh, "db", "t", v).get("retired") == []


def test_version_numbering_monotonic_across_maintenance(
    spark, tmp_path
):
    """Maintenance truncates history but must never REUSE version
    numbers (a reused number would make a CDC consumer's saved
    from_version silently diff unrelated snapshots); the schema
    sidecar and snapshot metadata survive compaction's directory
    swap."""
    import pytest as _pytest

    from scratchdb_spark import fs as hfs
    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh_mono"))
    for i in range(3):
        last = snap.append_versioned(
            wh, "db", "t",
            spark.createDataFrame(
                [(i, i * 10)], "__row_id long, amount long"
            ),
        )
    assert last == 3
    res = snap.maintain_table(wh, "db", "t")
    # history truncated to ONE fresh snapshot, numbered PAST the old
    assert snap.versions(wh, "db", "t") == [res["version"]]
    assert res["version"] == 4
    # schema sidecar survived the swap (authoritative reads intact)
    assert hfs.exists(
        spark, f"{wh._path('db', 't')}/_schema.json"
    )
    # a stale CDC cursor fails loudly instead of diffing reused numbers
    with _pytest.raises(ValueError, match="not in"):
        snap.read_changes(wh, "db", "t", from_version=2)
    # numbering keeps climbing afterwards
    v5 = snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame([(9, 90)], "__row_id long, amount long"),
    )
    assert v5 == 5
    ch = snap.read_changes(wh, "db", "t", from_version=4).collect()
    assert {(r["_change_type"], r["__row_id"]) for r in ch} == {
        ("insert", 9)
    }


def test_pinned_reader_across_maintenance_errs_loudly(spark, tmp_path):
    """The documented invalidation contract: maintenance truncates
    history, and a reader pinned to a truncated version must get an
    EXPLICIT error — never a silently wrong (partial/empty) result.
    Also proves a valid manifest exists after every step: the latest
    version stays readable through the whole cycle."""
    import pytest as _pytest

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh_pin"))
    for i in range(3):
        snap.append_versioned(
            wh, "db", "t",
            spark.createDataFrame(
                [(i * 10 + j, j) for j in range(4)],
                "__row_id long, amount long",
            ),
        )
    # pin version 2 BEFORE maintenance: plan + collect both work
    pinned = snap.read_snapshot(wh, "db", "t", version=2)
    assert pinned.count() == 8
    rows_latest = sorted(
        map(tuple, snap.read_snapshot(wh, "db", "t").collect())
    )

    res = snap.maintain_table(wh, "db", "t")

    # (1) pinned version is GONE loudly at the manifest level
    with _pytest.raises(ValueError, match="not in"):
        snap.read_snapshot(wh, "db", "t", version=2)
    # (2) a pre-maintenance DataFrame handle references deleted files:
    # executing it raises (loud), it does not return partial rows
    with _pytest.raises(Exception):
        pinned.collect()
    # (3) the latest version never stopped being readable and is intact
    assert snap.versions(wh, "db", "t") == [res["version"]]
    after = sorted(
        map(tuple, snap.read_snapshot(wh, "db", "t").collect())
    )
    assert after == rows_latest
    # (4) maintenance is re-runnable (idempotent over its own output)
    res2 = snap.maintain_table(wh, "db", "t")
    assert res2["version"] > res["version"]
    assert sorted(
        map(tuple, snap.read_snapshot(wh, "db", "t").collect())
    ) == rows_latest


def test_read_changes_casts_type_changed_columns(spark, tmp_path):
    """Schema evolution that WIDENS a column type between two
    snapshots: read_changes must cast the old rows to the new type so
    unchanged rows cancel in the diff, instead of throwing or
    reporting a spurious full delete+insert."""
    import json as _json
    import uuid as _uuid

    from scratchdb_spark import fs as hfs
    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh_tc"))
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(1, 10), (2, 20)], "__row_id long, amount long"
        ),
    )
    # hand-roll a COW rewrite that widens amount long -> double and
    # adds one row (the manifest layer is the contract under test)
    base = wh._path("db", "t")
    new_df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (3, 30.0)],
        "__row_id long, amount double",
    )
    tmp = f"{base}/_snapshots/rw-{_uuid.uuid4().hex}"
    new_df.coalesce(1).write.mode("overwrite").parquet(tmp)
    rewritten = []
    for n in hfs.list_names(spark, tmp):
        if n.endswith(".parquet"):
            name = f"cow-{_uuid.uuid4().hex}-{n}"
            hfs.rename(spark, f"{tmp}/{n}", f"{base}/{name}")
            rewritten.append(name)
    hfs.delete(spark, tmp)
    prev = snap._manifest(wh, "db", "t", 1)
    snap._put_manifest(
        wh, "db", "t",
        {
            "version": 2,
            "files": sorted(rewritten),
            "retired": prev["files"],
            "schema": _json.dumps(
                _json.loads(new_df.schema.json())
            ),
        },
    )
    ch = snap.read_changes(wh, "db", "t", from_version=1, to_version=2)
    got = {
        (r["_change_type"], r["__row_id"], r["amount"])
        for r in ch.collect()
    }
    # rows 1 and 2 cancel after the cast; only the genuine insert shows
    assert got == {("insert", 3, 30.0)}, got


def test_read_changes_replays_any_dml_sequence(spark, tmp_path):
    """CDC soundness invariant: for ANY versions i < j,
    snapshot(i) + inserts(i->j) - deletes(i->j) == snapshot(j) as a
    multiset. Exercised over a seeded random sequence of appends,
    COW deletes, and merges."""
    import random

    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    rng = random.Random(0xC0C)
    wh = Warehouse(spark, str(tmp_path / "wh_replay"))
    next_id = [0]

    def mk(n):
        rows = [
            (next_id[0] + k, rng.randrange(1000)) for k in range(n)
        ]
        next_id[0] += n
        return spark.createDataFrame(rows, "__row_id long, amount long")

    vs = [snap.append_versioned(wh, "db", "t", mk(6))]
    for _ in range(6):
        op = rng.choice(["append", "delete", "merge"])
        if op == "append":
            vs.append(snap.append_versioned(wh, "db", "t", mk(3)))
        elif op == "delete":
            cut = rng.randrange(next_id[0])
            v, _n = snap.delete_where(
                wh, "db", "t",
                (F.col("__row_id") % 7) == (cut % 7),
            )
            vs.append(v)
        else:
            ups = spark.createDataFrame(
                [
                    (rng.randrange(next_id[0]), rng.randrange(1000))
                    for _ in range(2)
                ]
                + [(next_id[0], rng.randrange(1000))],
                "__row_id long, amount long",
            )
            next_id[0] += 1
            v, _u, _i = snap.merge_upsert(wh, "db", "t", ups, "__row_id")
            vs.append(v)

    def multiset(df):
        out: dict = {}
        for r in df.collect():
            k = (r["__row_id"], r["amount"])
            out[k] = out.get(k, 0) + 1
        return out

    snaps = {v: multiset(snap.read_snapshot(wh, "db", "t", v)) for v in vs}
    pairs = [(vs[0], vs[-1]), (vs[1], vs[3]), (vs[2], vs[-1]),
             (vs[0], vs[1])]
    for i, j in pairs:
        if i >= j:
            continue
        replay = dict(snaps[i])
        for r in snap.read_changes(wh, "db", "t", i, j).collect():
            k = (r["__row_id"], r["amount"])
            if r["_change_type"] == "insert":
                replay[k] = replay.get(k, 0) + 1
            else:
                replay[k] = replay.get(k, 0) - 1
        replay = {k: c for k, c in replay.items() if c}
        assert replay == snaps[j], f"replay {i}->{j} diverged"


def test_snapshot_commit_optimistic_concurrency(spark, tmp_path):
    """The manifest PUT is create-if-absent: a concurrent writer racing
    to the same version number loses the CAS loudly instead of
    silently last-write-winning, and commit_snapshot retries with a
    recomputed manifest so concurrent appenders linearize."""
    import threading

    import pytest as _pytest

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh_occ"))
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame([(1, 10)], "__row_id long, amount long"),
    )
    # direct double-PUT of one version: the second loses the CAS
    m = snap._manifest(wh, "db", "t", 1)
    with _pytest.raises(snap.CommitConflictError, match="v1"):
        snap._put_manifest(wh, "db", "t", m)

    # four racing committers all succeed with DISTINCT version numbers
    got, errs = [], []

    def commit():
        try:
            got.append(snap.commit_snapshot(wh, "db", "t"))
        except Exception as e:  # pragma: no cover - diagnostic
            errs.append(e)

    threads = [threading.Thread(target=commit) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs, errs
    assert len(set(got)) == 4, got
    assert snap.versions(wh, "db", "t") == [1] + sorted(got)


def test_manifest_zone_maps_prune_files(spark, tmp_path):
    """Per-file min/max stats in the manifest skip files at PLAN time:
    a range read over disjoint-keyed batches plans only the
    overlapping files, never drops rows, and stats survive appends,
    COW deletes, and maintenance."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh_zm"))
    # three single-file batches with disjoint key ranges
    for lo in (0, 100, 200):
        snap.append_versioned(
            wh, "db", "t",
            spark.createDataFrame(
                [(lo + i, lo + i) for i in range(10)],
                "__row_id long, k long",
            ).coalesce(1),
            stat_cols=["k"],
        )
    full = snap.read_snapshot(wh, "db", "t")
    # three batch files (r9: table creation is mkdirs + schema
    # sidecar only — no initial empty parquet file to truncate in a
    # creation race, see create_empty_table)
    assert len(full.inputFiles()) == 3

    pruned = snap.read_snapshot(wh, "db", "t", prune=("k", 100, 109))
    assert len(pruned.inputFiles()) == 1  # only the middle file plans
    # superset contract: caller still filters; rows match the full scan
    assert sorted(
        r["k"] for r in pruned.filter(F.col("k").between(100, 109)).collect()
    ) == list(range(100, 110))
    # open-ended bounds
    assert len(
        snap.read_snapshot(wh, "db", "t", prune=("k", 200, None)).inputFiles()
    ) == 1
    assert len(
        snap.read_snapshot(wh, "db", "t", prune=("k", None, 99)).inputFiles()
    ) == 1

    # stat_cols inherit on later appends (no explicit opt-in again)
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame([(300, 300)], "__row_id long, k long")
        .coalesce(1),
    )
    v = snap.versions(wh, "db", "t")[-1]
    m = snap._manifest(wh, "db", "t", v)
    assert m["stat_cols"] == ["k"]
    assert len(m["stats"]) == 4  # carried 3 + fresh 1

    # COW delete rewrites one file; stats carry + refresh
    snap.delete_where(wh, "db", "t", F.col("k") == 105)
    v = snap.versions(wh, "db", "t")[-1]
    m = snap._manifest(wh, "db", "t", v)
    assert set(m["stats"]) == set(m["files"])
    pruned2 = snap.read_snapshot(wh, "db", "t", prune=("k", 100, 109))
    got = sorted(
        r["k"]
        for r in pruned2.filter(F.col("k").between(100, 109)).collect()
    )
    assert got == [k for k in range(100, 110) if k != 105]

    # maintenance recomputes stats over the compacted clustered layout
    snap.maintain_table(wh, "db", "t", sort_col="k")
    v = snap.versions(wh, "db", "t")[-1]
    m = snap._manifest(wh, "db", "t", v)
    assert m["stat_cols"] == ["k"] and set(m["stats"]) == set(m["files"])
    after = snap.read_snapshot(wh, "db", "t", prune=("k", None, None))
    assert after.count() == 30  # 31 appended - 1 deleted

    # non-portable stat column type is rejected loudly
    import pytest as _pytest

    wh2 = Warehouse(spark, str(tmp_path / "wh_zm2"))
    with _pytest.raises(ValueError, match="not in table schema"):
        snap.append_versioned(
            wh2, "db", "t",
            spark.createDataFrame([(1, 1)], "__row_id long, k long"),
            stat_cols=["missing"],
        )


def test_manifest_dict_stats_prune_equality(spark, tmp_path):
    """Low-cardinality per-file dictionaries skip files for EQUALITY
    predicates where min/max ranges can't (categorical columns):
    point lookups plan only the files whose dict holds the value, and
    a column over the cap falls back to range-only, never dropping
    rows."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh_dict"))
    # three single-file batches, each holding ONE region value
    for i, reg in enumerate(["emea", "apac", "amer"]):
        snap.append_versioned(
            wh, "db", "t",
            spark.createDataFrame(
                [(i * 10 + j, reg) for j in range(5)],
                "__row_id long, region string",
            ).coalesce(1),
            stat_cols=["region"],
        )
    pruned = snap.read_snapshot(wh, "db", "t", prune_eq=("region", "apac"))
    assert len(pruned.inputFiles()) == 1
    rows = pruned.filter(F.col("region") == "apac").collect()
    assert sorted(r["__row_id"] for r in rows) == [10, 11, 12, 13, 14]
    # absent value -> zero files plan (empty frame, correct schema)
    none = snap.read_snapshot(wh, "db", "t", prune_eq=("region", "nope"))
    assert none.count() == 0 and "region" in none.columns

    # dict caps out -> falls back to range, keeps the file
    wh2 = Warehouse(spark, str(tmp_path / "wh_dict2"))
    snap.append_versioned(
        wh2, "db", "t",
        spark.createDataFrame(
            [(i, f"u{i:04d}") for i in range(200)],
            "__row_id long, uid string",
        ).coalesce(1),
        stat_cols=["uid"],
    )
    v = snap.versions(wh2, "db", "t")[-1]
    m = snap._manifest(wh2, "db", "t", v)
    big = next(
        rec for f, rec in m["stats"].items() if rec["uid"][0] is not None
    )
    assert "uid__dict" not in big  # over _DICT_CAP -> no dict recorded
    got = snap.read_snapshot(wh2, "db", "t", prune_eq=("uid", "u0150"))
    assert got.filter(F.col("uid") == "u0150").count() == 1


def test_incremental_mv_matches_recompute_on_random_dml(spark, tmp_path):
    """maintain_sum_mv over the CDC feed must equal a full recompute
    after ANY DML history — appends, COW deletes, and merge upserts
    (whose updates arrive as delete/insert pairs and must net out)."""
    import random

    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.operators.incremental import (
        maintain_sum_mv,
        sum_mv_of,
    )
    from scratchdb_spark.tables import Warehouse

    rng = random.Random(0xC0FFEE)
    wh = Warehouse(spark, str(tmp_path / "wh_mv"))
    next_id = [0]

    def batch(n):
        rows = []
        for _ in range(n):
            next_id[0] += 1
            rows.append(
                (next_id[0], rng.choice("abcd"), rng.randint(1, 9))
            )
        return spark.createDataFrame(
            rows, "__row_id long, k string, amount long"
        )

    v1 = snap.append_versioned(wh, "db", "t", batch(12))
    mv = sum_mv_of(
        snap.read_snapshot(wh, "db", "t", version=v1), ["k"], "amount"
    )
    last = v1
    for step in range(6):
        op = rng.choice(["append", "delete", "merge"])
        if op == "append":
            snap.append_versioned(wh, "db", "t", batch(rng.randint(1, 6)))
        elif op == "delete":
            snap.delete_where(
                wh, "db", "t", F.col("amount") == rng.randint(1, 9)
            )
        else:
            current = snap.read_snapshot(wh, "db", "t")
            ids = [r[0] for r in current.select("__row_id").collect()]
            upd = []
            for rid in rng.sample(ids, min(3, len(ids))):
                upd.append((rid, rng.choice("abcd"), rng.randint(1, 9)))
            next_id[0] += 1
            upd.append((next_id[0], "e", rng.randint(1, 9)))
            snap.merge_upsert(
                wh, "db", "t",
                spark.createDataFrame(
                    upd, "__row_id long, k string, amount long"
                ),
                "__row_id",
            )
        # advance the MV by the changes since the last checkpoint
        now = snap.versions(wh, "db", "t")[-1]
        mv = maintain_sum_mv(
            mv, snap.read_changes(wh, "db", "t", last, now), ["k"], "amount"
        )
        last = now
        want = sorted(
            map(
                tuple,
                sum_mv_of(
                    snap.read_snapshot(wh, "db", "t"), ["k"], "amount"
                ).collect(),
            )
        )
        got = sorted(map(tuple, mv.collect()))
        assert got == want, f"step {step} ({op}): {got} != {want}"


def test_orphan_files_report(spark, tmp_path):
    """orphan_files classifies disk files: referenced by live
    manifests, COW-retired (audit trail), true orphans (crash
    debris), and missing (manifest names a vanished file)."""
    from pyspark.sql import functions as F

    from scratchdb_spark import fs as hfs
    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(i, i) for i in range(4)], "__row_id long, amount long"
        ).coalesce(1),
    )
    snap.delete_where(wh, "db", "t", F.col("amount") == 2)
    base = wh._path("db", "t")
    # crash debris: a stray data file no manifest knows about
    hfs.write_text(spark, f"{base}/cow-deadbeef-stray.parquet", "junk")

    rep = snap.orphan_files(wh, "db", "t")
    assert rep["orphaned"] == ["cow-deadbeef-stray.parquet"]
    assert rep["missing"] == []
    # the COW-replaced file is still REFERENCED while v1 is retained
    # (it is v1's audit trail), so nothing is retired-only yet
    assert rep["retired"] == []
    assert set(rep["referenced"]) >= set(
        snap._manifest(wh, "db", "t", snap.versions(wh, "db", "t")[-1])[
            "files"
        ]
    )
    # expire v1: the replaced file is now retired-only (held on disk
    # solely by the latest manifest's retired set)
    snap.expire_snapshots(wh, "db", "t", keep_last=1)
    rep1 = snap.orphan_files(wh, "db", "t")
    assert len(rep1["retired"]) >= 1
    assert rep1["orphaned"] == ["cow-deadbeef-stray.parquet"]
    # maintenance reclaims old + retired files; the stray (unknown to
    # any manifest) is younger than the default grace window, so it
    # stays, visible as an orphan
    snap.maintain_table(wh, "db", "t")
    rep2 = snap.orphan_files(wh, "db", "t")
    assert rep2["retired"] == [] and rep2["missing"] == []
    assert rep2["orphaned"] == ["cow-deadbeef-stray.parquet"]


def test_rollback_and_timestamp_time_travel(spark, tmp_path):
    """rollback_table restores an old version as a NEW zero-copy
    commit that flows through the CDC feed as ordinary change rows;
    read_snapshot(as_of_timestamp=) resolves Delta-style TIMESTAMP AS
    OF; rollback past maintenance refuses loudly."""
    import time as _time

    import pytest as _pytest
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    v1 = snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(1, 10), (2, 20)], "__row_id long, amount long"
        ),
    )
    t_after_v1 = _time.time()
    _time.sleep(0.05)
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame([(3, 30)], "__row_id long, amount long"),
    )
    snap.delete_where(wh, "db", "t", F.col("__row_id") == 1)

    # timestamp time travel resolves to v1
    asof = snap.read_snapshot(
        wh, "db", "t", as_of_timestamp=t_after_v1
    )
    assert {r["__row_id"] for r in asof.collect()} == {1, 2}
    with _pytest.raises(ValueError, match="at or before"):
        snap.version_as_of(wh, "db", "t", 0.0)

    # rollback to v1: new version, old content, zero copy
    rb_v = snap.rollback_table(wh, "db", "t", v1)
    assert rb_v == snap.versions(wh, "db", "t")[-1]
    now = snap.read_snapshot(wh, "db", "t")
    assert {r["__row_id"] for r in now.collect()} == {1, 2}
    # the rollback is CDC-visible as ordinary change rows
    ch = snap.read_changes(wh, "db", "t", from_version=3, to_version=rb_v)
    got = {(r["_change_type"], r["__row_id"]) for r in ch.collect()}
    assert got == {("insert", 1), ("delete", 3)}
    # and a later commit does not resurrect the rolled-off batch
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame([(9, 90)], "__row_id long, amount long"),
    )
    assert {
        r["__row_id"]
        for r in snap.read_snapshot(wh, "db", "t").collect()
    } == {1, 2, 9}

    # maintenance reclaims old files -> rollback refuses loudly
    pre_maint = snap.versions(wh, "db", "t")[-1]
    snap.maintain_table(wh, "db", "t")
    with _pytest.raises(ValueError, match="not in"):
        snap.rollback_table(wh, "db", "t", pre_maint)


def test_manifest_sharding_reuse_cow_and_maintenance(
    spark, tmp_path, monkeypatch
):
    """Above _SHARD_THRESHOLD a manifest becomes a manifest-list of
    immutable shard files (Iceberg's public design): appends REUSE
    untouched shards by reference (O(churn) commit metadata), COW
    deletes rewrite only the shards whose name range covers an
    affected file, reads resolve transparently, and maintenance
    re-inlines a shrunken table and reclaims unreferenced shards."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    monkeypatch.setattr(snap, "_SHARD_THRESHOLD", 6)
    monkeypatch.setattr(snap, "_SHARD_SIZE", 4)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df1 = spark.range(0, 80).select(
        F.col("id").alias("__row_id"), F.col("id").alias("k")
    )
    v1 = snap.append_versioned(
        wh, "db", "t",
        df1.repartitionByRange(8, "k"),
        stat_cols=["k"],
    )
    m1 = snap._manifest(wh, "db", "t", v1)
    assert "shards" in m1 and "files" not in m1
    n1 = snap._manifest_n_files(m1)
    assert n1 >= 7  # crossed the (monkeypatched) threshold
    assert len(m1["shards"]) == (n1 + 3) // 4  # _SHARD_SIZE chunks
    assert snap.read_snapshot(wh, "db", "t").count() == 80

    # append: one new shard; both old shards shared BY REFERENCE
    v2 = snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(1000, 1000)], "__row_id long, k long"
        ).coalesce(1),
    )
    m2 = snap._manifest(wh, "db", "t", v2)
    names1 = {r["name"] for r in m1["shards"]}
    names2 = {r["name"] for r in m2["shards"]}
    assert names1 < names2 and len(names2) == len(names1) + 1
    # stats carried: the new version still prunes on k (zone maps
    # stayed current without recomputing old files)
    assert (
        snap.read_snapshot(wh, "db", "t", prune=("k", 1000, None)).count()
        == 1
    )

    # streaming CDC planner diffs SHARD RECORDS: the append
    # transition between two sharded manifests plans exactly the one
    # added file without opening the shared shards
    from scratchdb_spark.sources import ScratchCdcDataSource

    ds = ScratchCdcDataSource(
        {"path": str(tmp_path / "wh"), "database": "db", "table": "t"}
    )
    reader = ds.streamReader(ds.schema())
    app = reader.partitions({"v": v1}, {"v": v2})
    assert len(app) == 1 and app[0].role == "insert"

    # COW delete of one row rewrites ONLY the covering shard
    v3, n_del = snap.delete_where(wh, "db", "t", F.col("k") == 5)
    assert n_del == 1
    m3 = snap._manifest(wh, "db", "t", v3)
    names3 = {r["name"] for r in m3["shards"]}
    assert len(names2 - names3) == 1  # one shard retired...
    assert len(names2 & names3) == len(names2) - 1  # ...the rest shared
    assert snap.read_snapshot(wh, "db", "t").count() == 80
    # CDC across the sharded DML replays from change files
    chg = snap.read_changes(wh, "db", "t", v2, v3).collect()
    assert [(r["k"], r["_change_type"]) for r in chg] == [(5, "delete")]

    # maintenance compacts + re-inlines (small table) + reclaims
    # every unreferenced shard file
    res = snap.maintain_table(wh, "db", "t", sort_col="k")
    m4 = snap._manifest(wh, "db", "t", res["version"])
    assert "files" in m4
    assert snap.read_snapshot(wh, "db", "t").count() == 80
    from scratchdb_spark import fs as hfs

    left = hfs.list_names(
        spark, f"{wh._path('db', 't')}/_snapshots/shards"
    )
    assert left == []


def test_sharded_pruning_never_parses_full_manifest(
    spark, tmp_path, monkeypatch
):
    """10,052-file sharded table (file names synthesized; only the
    probed shard's two files exist physically): a selective pruned
    read opens exactly ONE shard JSON — shard-level rolled-up stats
    skip the other ~10k files without the driver ever parsing their
    records, and DESCRIBE HISTORY reads no shard at all."""
    import json as js
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    base = wh._path("db", "t")
    os.makedirs(f"{base}/_snapshots/shards")
    schema = T.StructType(
        [
            T.StructField("__row_id", T.LongType()),
            T.StructField("k", T.LongType()),
        ]
    )
    for i, k in enumerate([1, 2]):
        pq.write_table(
            pa.table({"__row_id": [i], "k": [k]}),
            f"{base}/aaa-{i}.parquet",
        )
    recs = []
    real = {
        "files": ["aaa-0.parquet", "aaa-1.parquet"],
        "stats": {
            "aaa-0.parquet": {"k": [1, 1], "k__dict": [1]},
            "aaa-1.parquet": {"k": [2, 2], "k__dict": [2]},
        },
    }
    with open(f"{base}/_snapshots/shards/s-real.json", "w") as f:
        js.dump(real, f)
    recs.append(
        {
            "name": "s-real.json",
            "n": 2,
            "first": "aaa-0.parquet",
            "last": "aaa-1.parquet",
            "agg": {"k": [1, 2], "k__dict": [1, 2]},
        }
    )
    for s in range(10):
        names = [f"zzz-{s:02d}-{i:04d}.parquet" for i in range(1005)]
        with open(f"{base}/_snapshots/shards/s-fake{s}.json", "w") as f:
            js.dump({"files": names, "stats": {}}, f)
        recs.append(
            {
                "name": f"s-fake{s}.json",
                "n": 1005,
                "first": names[0],
                "last": names[-1],
                "agg": {"k": [100, 200]},
            }
        )
    manifest = {
        "version": 1,
        "retired": [],
        "schema": schema.json(),
        "shards": recs,
        "n_files": 10052,
    }
    manifest["stat_cols"] = ["k"]
    with open(f"{base}/_snapshots/v{1:012d}.json", "w") as f:
        js.dump(manifest, f)

    opened: list[str] = []
    orig = snap._read_shard
    monkeypatch.setattr(
        snap,
        "_read_shard",
        lambda w, d, t, name: (opened.append(name), orig(w, d, t, name))[1],
    )
    out = snap.read_snapshot(wh, "db", "t", prune=("k", 1, 2))
    assert sorted(r["k"] for r in out.collect()) == [1, 2]
    assert opened == ["s-real.json"]

    # equality prune on a value no shard dictionary contains: zero
    # shards opened, empty plan
    opened.clear()
    assert snap.read_snapshot(wh, "db", "t", prune_eq=("k", 7)).count() == 0
    assert opened == []

    # history never opens a shard (n_files from the manifest record)
    opened.clear()
    h = snap.history(wh, "db", "t").collect()
    assert h[0]["n_files"] == 10052 and opened == []


def test_append_versioned_two_writer_race_linearizes(spark, tmp_path):
    """TRUE-concurrency OCC (VERDICT r5 #4): two threads run
    append_versioned with different batches through a barrier; under
    every interleaving BOTH batches are in the final snapshot — the
    CAS loser's retry recomputes its manifest from the directory, so
    it adopts the winner's files instead of clobbering them
    (linearize-on-retry, snapshots.commit_snapshot). Repeated runs
    shake out different interleavings."""
    import threading

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    for it in range(3):
        wh = Warehouse(spark, str(tmp_path / f"wh{it}"))
        snap.append_versioned(
            wh, "db", "t",
            spark.createDataFrame([(0, 0)], "__row_id long, amount long"),
        )
        barrier = threading.Barrier(2)
        errs: list = []

        def writer(lo):
            try:
                df = spark.createDataFrame(
                    [(lo, lo * 10), (lo + 1, lo * 10 + 10)],
                    "__row_id long, amount long",
                )
                barrier.wait()
                snap.append_versioned(wh, "db", "t", df)
            except Exception as e:  # pragma: no cover - diagnostic
                errs.append(e)

        threads = [
            threading.Thread(target=writer, args=(lo,)) for lo in (10, 20)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert not errs, errs
        got = {
            r["__row_id"]
            for r in snap.read_snapshot(wh, "db", "t").collect()
        }
        assert got == {0, 10, 11, 20, 21}, f"iteration {it}: {got}"


def test_snapshot_schema_evolution_random_histories(spark, tmp_path):
    """Schema evolution x snapshots (VERDICT r5 #5), randomized:
    across histories mixing appends, column-adding appends, and COW
    deletes —
    - time travel to a pre-add version replays the OLD schema (the
      column does not exist there, not even as NULLs);
    - CDC replay read_changes(i, j) applied to snapshot(i), aligned
      to snapshot(j)'s schema, reproduces snapshot(j) exactly (the
      evolved-reader cast alignment), for every version pair."""
    import itertools
    import random

    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    rng = random.Random(20260814)
    for case in range(4):
        ops = ["append"] + [
            rng.choice(["append", "evolve", "delete"]) for _ in range(4)
        ]
        wh = Warehouse(spark, str(tmp_path / f"wh{case}"))
        vs: list[int] = []
        evolved = False
        next_id = itertools.count(1)

        for op in ops:
            if op == "evolve":
                evolved = True
                op = "append"  # the add happens via the wider batch
            if op == "append":
                rows = [
                    (next(next_id), rng.randrange(5))
                    for _ in range(rng.randrange(1, 4))
                ]
                if evolved:
                    df = spark.createDataFrame(
                        [(i, a, f"b{i}") for i, a in rows],
                        "__row_id long, a long, b string",
                    )
                else:
                    df = spark.createDataFrame(
                        rows, "__row_id long, a long"
                    )
                vs.append(snap.append_versioned(wh, "db", "t", df))
            else:  # delete
                if not vs:
                    continue
                v, _n = snap.delete_where(
                    wh, "db", "t",
                    F.col("a") == rng.randrange(5),
                )
                vs.append(v)

        # time travel: a version committed before the add must NOT
        # have the column
        schemas = {
            v: set(snap.read_snapshot(wh, "db", "t", v).columns)
            for v in vs
        }
        pre_add = [v for v in vs if "b" not in schemas[v]]
        for v in pre_add:
            assert schemas[v] == {"__row_id", "a"}

        def multiset(df, cols):
            out: dict = {}
            for r in df.collect():
                d = r.asDict()
                k = tuple(d.get(c) for c in cols)
                out[k] = out.get(k, 0) + 1
            return out

        for i, j in itertools.combinations(vs, 2):
            cols = sorted(schemas[j])
            replay = multiset(snap.read_snapshot(wh, "db", "t", i), cols)
            for r in snap.read_changes(wh, "db", "t", i, j).collect():
                d = r.asDict()
                k = tuple(d.get(c) for c in cols)
                if d["_change_type"] == "insert":
                    replay[k] = replay.get(k, 0) + 1
                else:
                    replay[k] = replay.get(k, 0) - 1
            replay = {k: c for k, c in replay.items() if c}
            want = multiset(snap.read_snapshot(wh, "db", "t", j), cols)
            assert replay == want, (
                f"case {case} ops {ops}: replay {i}->{j} diverged"
            )


def test_append_lines_auto_switch_boundary_parity(pipe, spark, monkeypatch):
    """VERDICT r5 #6: append_ndjson_lines auto-switches to the
    distributed vote above the rows/bytes thresholds. At the exact
    boundary (one batch just under -> driver path, one just over ->
    distributed path) both tables end up with IDENTICAL schema and
    rows — the switch is invisible except for where the CPU runs."""
    from scratchdb_spark.ingest import pipeline as pl

    monkeypatch.setattr(pl, "DISTRIBUTED_ROWS_THRESHOLD", 4)
    lines_under = [
        json.dumps({"a": i, "b": f"x{i}", "__row_id": i}) for i in range(4)
    ]
    lines_over = [
        json.dumps({"a": i, "b": f"x{i}", "__row_id": i}) for i in range(5)
    ]
    # type-conflict line exercises the vote in both paths
    lines_under[2] = json.dumps({"a": 2.5, "b": 7, "__row_id": 2})
    lines_over[2] = json.dumps({"a": 2.5, "b": 7, "__row_id": 2})

    pipe.append_ndjson_lines("db", "under", lines_under)   # driver vote
    pipe.append_ndjson_lines("db", "over", lines_over)     # distributed

    under = pipe.warehouse.read("db", "under")
    over = pipe.warehouse.read("db", "over")
    assert dict(under.dtypes) == dict(over.dtypes)
    assert dict(under.dtypes)["a"] == "double"  # vote: int+float -> double
    assert dict(under.dtypes)["b"] == "string"  # vote: string+int -> string
    key = lambda r: r["__row_id"]  # noqa: E731
    u = sorted([r.asDict() for r in under.collect()], key=key)
    o = sorted([r.asDict() for r in over.collect()], key=key)
    assert u == o[: len(u)]

    # byte-bound switch too
    monkeypatch.setattr(pl, "DISTRIBUTED_ROWS_THRESHOLD", 10_000)
    monkeypatch.setattr(pl, "DISTRIBUTED_BYTES_THRESHOLD", 10)
    pipe.append_ndjson_lines("db", "bytes", lines_over)
    b = sorted(
        [r.asDict() for r in pipe.warehouse.read("db", "bytes").collect()],
        key=key,
    )
    assert b == o


def test_maintain_table_zorder_prunes_both_dims(spark, tmp_path):
    """maintain_table(zorder_cols=...): the compacted layout is
    range-clustered on the Morton key, manifest zone maps refresh for
    BOTH columns, and pruned snapshot reads on either dimension plan
    strictly fewer files than the table holds — content unchanged."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    grid = spark.range(0, 1024).select(
        F.col("id").alias("__row_id"),
        (F.col("id") % 32).alias("x"),
        (F.col("id") / 32).cast("long").alias("y"),
    )
    snap.append_versioned(
        wh, "db", "t", grid.repartition(8), stat_cols=["x", "y"]
    )
    res = snap.maintain_table(
        wh, "db", "t", zorder_cols=["x", "y"], target_file_bytes=2048
    )
    assert res["files_after"] > 2  # enough files for pruning to matter
    full = snap.read_snapshot(wh, "db", "t")
    assert full.count() == 1024
    assert set(full.columns) == {"__row_id", "x", "y"}  # helpers dropped
    total = full.select(F.input_file_name()).distinct().count()
    for col in ("x", "y"):
        pruned = snap.read_snapshot(wh, "db", "t", prune=(col, 0, 7))
        assert pruned.filter(F.col(col) <= 7).count() == 256
        assert (
            pruned.select(F.input_file_name()).distinct().count() < total
        )


def test_compact_small_files_binpack_preserves_history_and_cdc(
    spark, tmp_path
):
    """Incremental bin-pack (snapshots.compact_small_files): only the
    small-file backlog rewrites; big files keep their names; history
    is preserved (pinned read of the pre-compaction version still
    works); the commit is CDC-silent (explicit empty change set); a
    later commit_snapshot does not resurrect the packed-away files."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.sources import ScratchCdcDataSource
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    # one "big" file + a backlog of small single-row appends
    snap.append_versioned(
        wh, "db", "t",
        spark.range(0, 50000).select(
            F.col("id").alias("__row_id"), F.col("id").alias("v")
        ).coalesce(1),
    )
    import os as _os

    base = wh._path("db", "t")
    # the one file >= the binpack threshold (create_empty_table also
    # leaves a legitimately-small zero-row file that SHOULD pack)
    big = {
        n
        for n in snap._manifest_files(
            wh, "db", "t", snap._manifest(wh, "db", "t", 1)
        )
        if _os.path.getsize(f"{base}/{n}") >= 20 * 1024
    }
    assert len(big) == 1
    for i in (100000, 100001, 100002, 100003):
        snap.append_versioned(
            wh, "db", "t",
            spark.createDataFrame(
                [(i, i)], "__row_id long, v long"
            ).coalesce(1),
        )
    pre_v = snap.versions(wh, "db", "t")[-1]
    n_before = len(snap._manifest_files(
        wh, "db", "t", snap._manifest(wh, "db", "t", pre_v)
    ))

    res = snap.compact_small_files(
        wh, "db", "t", small_file_bytes=20 * 1024
    )
    assert res["files_rewritten"] == n_before - len(big)
    m = snap._manifest(wh, "db", "t", res["version"])
    live = set(snap._manifest_files(wh, "db", "t", m))
    assert big <= live  # the big file untouched, same name
    assert len(live) < n_before  # backlog packed down
    assert m["changes"] == []  # CDC-silent commit
    assert snap.read_snapshot(wh, "db", "t").count() == 50004
    # history preserved: the pre-compaction version still reads
    assert snap.read_snapshot(wh, "db", "t", pre_v).count() == 50004

    # the CDC stream crosses the binpack without emitting a row
    ds = ScratchCdcDataSource(
        {"path": str(tmp_path / "wh"), "database": "db", "table": "t"}
    )
    reader = ds.streamReader(ds.schema())
    assert reader.partitions({"v": pre_v}, {"v": res["version"]}) == []

    # a later plain commit does not resurrect the packed-away files
    v_next = snap.commit_snapshot(wh, "db", "t")
    assert snap.read_snapshot(wh, "db", "t", v_next).count() == 50004


def test_orphan_files_reports_metadata_debris(spark, tmp_path):
    """orphan_files also audits _snapshots/ metadata: unreferenced
    change dirs and shards (expiry leftovers / CAS-loser writes) and
    interrupted-rewrite temp dirs; referenced metadata is NOT
    flagged, and maintenance clears the flagged debris."""
    from pyspark.sql import functions as F

    from scratchdb_spark import fs as hfs
    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(i, i) for i in range(4)], "__row_id long, amount long"
        ).coalesce(1),
    )
    snap.delete_where(wh, "db", "t", F.col("amount") == 2)
    rep = snap.orphan_files(wh, "db", "t")
    # the delete's change dir is referenced by the live manifest
    assert rep["change_dirs_orphaned"] == []
    assert rep["shards_orphaned"] == []
    assert rep["rewrite_tmp_dirs"] == []

    # fabricate debris: a CAS-loser change dir, a stray shard, an
    # interrupted rewrite dir
    base = wh._path("db", "t")
    hfs.write_text(
        spark, f"{base}/_snapshots/changes/cd-loser/part-0.parquet", "x"
    )
    hfs.write_text(spark, f"{base}/_snapshots/shards/s-stray.json", "{}")
    hfs.mkdirs(spark, f"{base}/_snapshots/rw-crashed")
    rep = snap.orphan_files(wh, "db", "t")
    assert rep["change_dirs_orphaned"] == ["cd-loser"]
    assert rep["shards_orphaned"] == ["s-stray.json"]
    assert "_snapshots/rw-crashed" in rep["rewrite_tmp_dirs"]

    # under the DEFAULT reclaim grace window, never-referenced fresh
    # metadata survives maintenance: it may belong to a commit in
    # flight (change files / shards are written before the manifest
    # PUT), so deleting it young would break that commit's files
    snap.maintain_table(wh, "db", "t")
    rep = snap.orphan_files(wh, "db", "t")
    assert rep["change_dirs_orphaned"] == ["cd-loser"]
    assert rep["shards_orphaned"] == ["s-stray.json"]
    # with grace 0 (quiesced table), maintenance reclaims the debris
    # (rw- tmp dirs of a LIVE rewrite can't be distinguished from
    # crashed ones, so they stay reported until manually removed)
    snap.maintain_table(wh, "db", "t", reclaim_grace_ms=0)
    rep = snap.orphan_files(wh, "db", "t")
    assert rep["change_dirs_orphaned"] == []
    assert rep["shards_orphaned"] == []


def test_expire_snapshots_older_than_window(spark, tmp_path):
    """Age-based retention (Delta/Iceberg's expire-by-timestamp form):
    older_than restricts expiry to versions committed before the
    cutoff, so keep_last=1 + a window keeps the latest version PLUS
    everything inside the promised time-travel window."""
    import time as _time

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))

    def add(i):
        return snap.append_versioned(
            wh, "db", "t",
            spark.createDataFrame([(i, i)], "__row_id long, amount long"),
        )

    v1 = add(1)
    _time.sleep(0.05)
    cutoff = _time.time()
    _time.sleep(0.05)
    v2, v3 = add(2), add(3)

    # v2 is a keep_last candidate but inside the window -> retained
    expired = snap.expire_snapshots(
        wh, "db", "t", keep_last=1, older_than=cutoff
    )
    assert expired == [v1]
    assert snap.versions(wh, "db", "t") == [v2, v3]
    # moving the cutoff forward expires v2 too (keep_last still holds)
    expired = snap.expire_snapshots(
        wh, "db", "t", keep_last=1, older_than=_time.time()
    )
    assert expired == [v2]
    assert snap.versions(wh, "db", "t") == [v3]


def test_write_audit_publish_staging(spark, tmp_path):
    """WAP (stage_append/read_staged/publish_staged/discard_staged):
    a staged batch is durable and auditable but invisible — to
    readers, to commit_snapshot's directory listing, and to the CDC
    feed — until publish, which lands it as one ordinary append
    version; discard never touches the table."""
    import pytest

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(1, 10), (2, 20)], "__row_id long, amount long"
        ),
    )
    sid = snap.stage_append(
        wh, "db", "t",
        spark.createDataFrame([(3, 30), (4, 40)], "__row_id long, amount long"),
    )
    # audit: staged rows readable; table + plain commits unaffected
    assert snap.read_staged(wh, "db", "t", sid).count() == 2
    assert snap.read_snapshot(wh, "db", "t").count() == 2
    v_noop = snap.commit_snapshot(wh, "db", "t")
    assert snap.read_snapshot(wh, "db", "t", v_noop).count() == 2

    # new columns must not leak before publish
    with pytest.raises(ValueError, match="cannot add columns"):
        snap.stage_append(
            wh, "db", "t",
            spark.createDataFrame([(9, "x")], "__row_id long, extra string"),
        )

    v_pub = snap.publish_staged(wh, "db", "t", sid)
    assert snap.read_snapshot(wh, "db", "t", v_pub).count() == 4
    # CDC: publish is one ordinary append transition
    chg = snap.read_changes(wh, "db", "t", v_noop, v_pub)
    assert sorted(
        (r["__row_id"], r["_change_type"]) for r in chg.collect()
    ) == [(3, "insert"), (4, "insert")]
    # the staged dir is gone; double-publish errs loudly, as does a
    # wholly bogus staging id (the is_dir guard runs BEFORE any
    # listing, so the error is the documented one on every FS)
    with pytest.raises(ValueError, match="no staged batch"):
        snap.publish_staged(wh, "db", "t", sid)
    with pytest.raises(ValueError, match="no staged batch"):
        snap.publish_staged(wh, "db", "t", "wap-does-not-exist")

    # provenance: DESCRIBE HISTORY shows the publish as a WAP commit
    # carrying its staging id; ordinary commits carry neither
    hrows = {r["version"]: r for r in snap.history(wh, "db", "t").collect()}
    assert hrows[v_pub]["operation"] == "wap-publish"
    assert hrows[v_pub]["staging_id"] == sid
    assert hrows[v_noop]["operation"] is None

    # discard: never touches the table
    sid2 = snap.stage_append(
        wh, "db", "t",
        spark.createDataFrame([(5, 50)], "__row_id long, amount long"),
    )
    assert snap.discard_staged(wh, "db", "t", sid2)
    assert snap.read_snapshot(wh, "db", "t").count() == 4

def test_expire_older_than_stops_at_first_retained(spark, tmp_path):
    """Clock-skew safety: older_than expiry removes a CONTIGUOUS
    PREFIX of history only. A middle version stamped by a skewed
    (future) clock must act as a barrier — expiring around it would
    punch a hole that the CDC planner then merges across, silently
    dropping the expired intermediate's inserts instead of raising
    the loud retention error."""
    import json as js
    import time as _time

    from scratchdb_spark import fs as hfs
    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    vs = []
    for i in range(4):
        vs.append(
            snap.append_versioned(
                wh, "db", "t",
                spark.createDataFrame(
                    [(i, i * 10)], "__row_id long, amount long"
                ).coalesce(1),
            )
        )
    # v2's committing host has a skewed clock: stamp it in the future
    sd = snap._snap_dir(wh, "db", "t")
    p = f"{sd}/v{vs[1]:012d}.json"
    m = js.loads(hfs.read_text(spark, p))
    m["committed_at"] = _time.time() + 3600
    hfs.put_text_atomic(spark, p, js.dumps(m), overwrite=True)

    # v1 and v3 are old enough to expire; v2 is "from the future".
    # Per-version filtering would expire v1 AND v3, leaving a hole at
    # v2; the contiguous-prefix rule stops at v2 and expires only v1.
    expired = snap.expire_snapshots(
        wh, "db", "t", keep_last=1, older_than=_time.time() + 1
    )
    assert expired == [vs[0]]
    assert snap.versions(wh, "db", "t") == vs[1:]


def test_stat_cols_widening_backfills_kept_shards(
    spark, tmp_path, monkeypatch
):
    """Widening stat_cols on a SHARDED table force-opens shards whose
    rolled-up agg lacks a requested column, so the transition commit's
    freshly computed stats actually land in rewritten shards (instead
    of being discarded for kept-by-reference shards) and the new
    column prunes from then on; the one-time O(table) stats scan is
    the inherent cost of stats for a new column."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    monkeypatch.setattr(snap, "_SHARD_THRESHOLD", 6)
    monkeypatch.setattr(snap, "_SHARD_SIZE", 4)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(0, 80).select(
        F.col("id").alias("__row_id"),
        F.col("id").alias("k"),
        (F.col("id") * 100).alias("k2"),
    )
    v1 = snap.append_versioned(
        wh, "db", "t", df.repartitionByRange(8, "k"), stat_cols=["k"]
    )
    m1 = snap._manifest(wh, "db", "t", v1)
    assert "shards" in m1
    assert all("k2" not in r.get("agg", {}) for r in m1["shards"])

    # widen the stat set: every kept shard lacks k2 -> all force-open
    v2 = snap.commit_snapshot(wh, "db", "t", stat_cols=["k", "k2"])
    m2 = snap._manifest(wh, "db", "t", v2)
    assert m2["stat_cols"] == ["k", "k2"]
    assert all("k2" in r["agg"] for r in m2["shards"])

    # the new column actually prunes (file-level: only the one
    # range-partition file whose k2 zone map reaches 7900 is read)
    pruned = snap.read_snapshot(wh, "db", "t", prune=("k2", 7900, None))
    assert pruned.count() == 10  # one 10-row file of the 8
    assert pruned.agg(F.min("k2")).collect()[0][0] >= 7000
    # and the NEXT commit takes the covering shortcut legitimately:
    # appended batch gets k2 stats, carried shards keep theirs
    v3 = snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(1000, 1000, 123456)], "__row_id long, k long, k2 long"
        ).coalesce(1),
    )
    m3 = snap._manifest(wh, "db", "t", v3)
    assert all("k2" in r["agg"] for r in m3["shards"])
    assert (
        snap.read_snapshot(
            wh, "db", "t", prune=("k2", 123456, None)
        ).count()
        == 1
    )


def test_delete_keys_matches_delete_where_and_feeds_cdc(spark, tmp_path):
    """delete_keys (keys-frame COW delete): same semantics as a
    delete_where isin over the same ids — rows gone, old versions
    still see them, exact delete preimages in the change feed — but
    the key set rides a JOIN, never a Catalyst IN-list literal.
    Also pins summary provenance in DESCRIBE HISTORY."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap

    wh = Warehouse(spark, str(tmp_path / "wh"))
    rows = [(i, i % 7) for i in range(500)]
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(rows, "__row_id long, grp long"),
    )
    v1 = snap.versions(wh, "db", "t")[-1]
    keys = spark.range(100, 200).select(F.col("id").alias("__row_id"))
    v2, n = snap.delete_keys(
        wh, "db", "t", keys, "__row_id",
        summary={"operation": "keyed-delete", "reason": "test"},
    )
    assert n == 100
    live = snap.read_snapshot(wh, "db", "t")
    assert live.count() == 400
    assert live.filter(
        (F.col("__row_id") >= 100) & (F.col("__row_id") < 200)
    ).count() == 0
    # time travel: the pre-delete version still sees every row
    assert snap.read_snapshot(wh, "db", "t", version=v1).count() == 500
    # CDC: exactly the deleted rows, as delete preimages
    ch = snap.read_changes(wh, "db", "t", v1, v2)
    assert ch.filter(F.col("_change_type") == "delete").count() == 100
    assert ch.filter(F.col("_change_type") == "insert").count() == 0
    # provenance surfaced by DESCRIBE HISTORY
    hist = {
        r["version"]: r["operation"]
        for r in snap.history(wh, "db", "t").collect()
    }
    assert hist[v2] == "keyed-delete"
    # a keys frame with a differently-named single column still works
    v3, n3 = snap.delete_keys(
        wh, "db", "t", spark.range(200, 210), "__row_id"
    )
    assert n3 == 10 and snap.read_snapshot(wh, "db", "t").count() == 390
    # no-match key set: no new version, zero deleted
    v4, n4 = snap.delete_keys(
        wh, "db", "t", spark.range(10_000, 10_100), "__row_id"
    )
    assert (v4, n4) == (v3, 0)


def test_delete_keys_mass_takedown_no_driver_literal(spark, tmp_path):
    """The GDPR/mass-opt-out shape: a 100k-id delete set. The key set
    is a DataFrame end-to-end (spark.range here — the ids NEVER
    exist driver-side), so this plans as an anti-join; the old
    collect+isin funnel would have built a 100k-element Catalyst
    literal. Correctness pinned by exact counts and survivors."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap

    wh = Warehouse(spark, str(tmp_path / "wh"))
    snap.append_versioned(
        wh, "db", "big",
        spark.range(200_000).select(
            F.col("id").alias("__row_id"),
            (F.col("id") % 97).alias("grp"),
        ),
    )
    keys = spark.range(0, 200_000, 2).select(
        F.col("id").alias("__row_id")
    )  # 100k even ids, never materialized on the driver
    v, n = snap.delete_keys(wh, "db", "big", keys, "__row_id")
    assert n == 100_000
    live = snap.read_snapshot(wh, "db", "big")
    assert live.count() == 100_000
    assert live.filter(F.col("__row_id") % 2 == 0).count() == 0


def test_overwrite_versioned_is_one_atomic_commit(spark, tmp_path):
    """overwrite_versioned: the entire table content swaps in ONE
    manifest PUT — exactly one new version appears, time travel
    still serves the old content, batch CDC yields the full
    delete+insert transition, and the summary lands in history.
    The delete-everything-then-append sequence this replaces took
    two commits with an empty-table window between them."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap

    wh = Warehouse(spark, str(tmp_path / "wh"))
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(1, "a"), (2, "b")], "__row_id long, tag string"
        ),
    )
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame([(3, "c")], "__row_id long, tag string"),
    )
    vs_before = snap.versions(wh, "db", "t")
    v_old = vs_before[-1]
    new = spark.createDataFrame(
        [(10, "x"), (11, "y")], "__row_id long, tag string"
    )
    v_new = snap.overwrite_versioned(
        wh, "db", "t", new, summary={"operation": "rebuild"}
    )
    vs_after = snap.versions(wh, "db", "t")
    # exactly ONE commit — no intermediate empty-table version
    assert vs_after == vs_before + [v_new]
    got = sorted(
        (r["__row_id"], r["tag"])
        for r in snap.read_snapshot(wh, "db", "t").collect()
    )
    assert got == [(10, "x"), (11, "y")]
    # old version intact
    assert snap.read_snapshot(wh, "db", "t", version=v_old).count() == 3
    # CDC across the overwrite: 3 deletes + 2 inserts
    ch = snap.read_changes(wh, "db", "t", v_old, v_new)
    assert ch.filter(F.col("_change_type") == "delete").count() == 3
    assert ch.filter(F.col("_change_type") == "insert").count() == 2
    hist = {
        r["version"]: r["operation"]
        for r in snap.history(wh, "db", "t").collect()
    }
    assert hist[v_new] == "rebuild"
    # schema contract: new columns are refused (evolve via append)
    with pytest.raises(ValueError, match="cannot add columns"):
        snap.overwrite_versioned(
            wh, "db", "t",
            spark.createDataFrame([(1, 2)], "__row_id long, extra long"),
        )
    # a fresh (never-committed) table: overwrite IS the creating
    # append, still one commit, summary preserved
    v0 = snap.overwrite_versioned(
        wh, "db", "t2", new, summary={"operation": "rebuild"}
    )
    assert snap.read_snapshot(wh, "db", "t2").count() == 2
    assert snap.versions(wh, "db", "t2") == [v0]


def test_overwrite_versioned_cdc_false_manifest_diff_still_exact(
    spark, tmp_path
):
    """cdc=False (derived tables nobody streams): no change files are
    written, but batch read_changes still reconstructs the exact
    transition from the manifest diff alone — and the overwrite
    keeps its clustering, so zone-map stats prune on the new layout."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap

    wh = Warehouse(spark, str(tmp_path / "wh"))
    snap.append_versioned(
        wh, "db", "t",
        spark.range(100).select(
            F.col("id").alias("__row_id"), (F.col("id") % 5).alias("cell")
        ),
        stat_cols=["cell"],
    )
    v1 = snap.versions(wh, "db", "t")[-1]
    new = spark.range(100, 160).select(
        F.col("id").alias("__row_id"), (F.col("id") % 3).alias("cell")
    )
    v2 = snap.overwrite_versioned(
        wh, "db", "t",
        new.repartitionByRange(3, "cell").sortWithinPartitions("cell"),
        cdc=False,
    )
    m = snap._manifest(wh, "db", "t", v2)
    # the changes key must be ABSENT (not []): [] means
    # "content-preserving" to the streaming planner, which would
    # silently emit nothing for a content-REPLACING commit; absence
    # makes a streaming cursor err loudly (test_sources pins it)
    assert "changes" not in m
    ch = snap.read_changes(wh, "db", "t", v1, v2)
    assert ch.filter(F.col("_change_type") == "delete").count() == 100
    assert ch.filter(F.col("_change_type") == "insert").count() == 60
    # stats carried: equality pruning plans fewer files than the table
    all_files = snap._manifest_files(wh, "db", "t", m)
    planned = snap._plan_files(
        wh, "db", "t", m, None, ("cell", 0)
    )
    assert len(planned) < len(all_files)


def test_fs_list_names_local_fast_path_matches_jvm(spark, tmp_path):
    """fs.list_names local os.scandir fast path (new r8: the JVM walk
    costs ~0.3 ms of py4j per entry — 30 s per commit at 100k files,
    measured in the metadata rehearsal) must return exactly what the
    Hadoop walk returns, for files+dirs, dirs_only, missing paths,
    file:/file:// spellings, and listStatus-on-a-file."""
    import scratchdb_spark.fs as hfs

    d = tmp_path / "lst"
    d.mkdir()
    (d / "a.parquet").write_text("x")
    (d / "_SUCCESS").write_text("")
    (d / ".hidden").write_text("")
    (d / "sub").mkdir()
    # a Hadoop-path write creates a .b.json.crc checksum sidecar,
    # which ChecksumFileSystem HIDES from listStatus — the fast path
    # must hide it too (caught live by the orphan-audit test)
    hfs.write_text(spark, str(d / "b.json"), "{}")
    assert (d / ".b.json.crc").exists()  # the sidecar is really there

    def jvm_list(path, dirs_only=False):
        fs, hpath, _ = hfs._jfs(spark, str(path))
        if not fs.exists(hpath):
            return []
        out = []
        for st in fs.listStatus(hpath):
            if dirs_only and not st.isDirectory():
                continue
            out.append(st.getPath().getName())
        return out

    for p in (str(d), f"file:{d}", f"file://{d}"):
        assert sorted(hfs.list_names(spark, p)) == sorted(
            jvm_list(d)
        ), p
        assert sorted(hfs.list_names(spark, p, dirs_only=True)) == (
            sorted(jvm_list(d, dirs_only=True))
        ), p
    # missing path -> [] on both
    assert hfs.list_names(spark, str(d / "nope")) == jvm_list(d / "nope")
    # listing a FILE: Hadoop yields that file's own status
    assert hfs.list_names(spark, str(d / "a.parquet")) == jvm_list(
        d / "a.parquet"
    )
    # list_data_files parity (name, size) on the same dir
    from scratchdb_spark.operators.compaction import list_data_files

    got = sorted(
        (p.rsplit("/", 1)[-1], sz)
        for p, sz in list_data_files(spark, str(d))
    )
    assert got == [("a.parquet", 1), ("b.json", 2)]


def test_dml_retries_serializably_after_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """DML conflict retry (snapshots._retry_dml, new r8): a
    copy-on-write DELETE whose manifest PUT loses the version-number
    CAS to a concurrent append must RECOMPUTE against the winner's
    state and land serializably after it — the takedown-racing-the-
    ingest-stream case. The race is injected deterministically: the
    delete's first _put_manifest first lets an append commit (taking
    the version number), then attempts the original PUT, which
    CAS-fails; the retry must see the appended row too."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap

    wh = Warehouse(spark, str(tmp_path / "wh"))
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(i, i % 5) for i in range(100)], "__row_id long, grp long"
        ),
    )

    orig = snap._put_manifest
    state = {"raced": 0}

    def racing_put(wh_, db_, t_, manifest, overwrite=False):
        if not state["raced"] and not overwrite and "changes" in manifest:
            state["raced"] = 1
            # the concurrent writer lands first — note grp=2: the
            # appended row MATCHES the delete predicate, so only a
            # true recompute (not a blind version-bump re-PUT of the
            # stale manifest) removes it
            snap.append_versioned(
                wh_, db_, t_,
                spark.createDataFrame(
                    [(777, 2)], "__row_id long, grp long"
                ),
            )
        return orig(wh_, db_, t_, manifest, overwrite)

    monkeypatch.setattr(snap, "_put_manifest", racing_put)
    v, n = snap.delete_where(wh, "db", "t", F.col("grp") == 2)
    monkeypatch.setattr(snap, "_put_manifest", orig)

    assert state["raced"] == 1  # the race really fired
    assert n == 21  # 20 original grp=2 rows + the racer's row
    live = snap.read_snapshot(wh, "db", "t")
    assert live.count() == 80
    assert live.filter(F.col("grp") == 2).count() == 0
    assert live.filter(F.col("__row_id") == 777).count() == 0
    # history: append and delete are BOTH versions, in that order
    vs = snap.versions(wh, "db", "t")
    assert v == vs[-1] and len(vs) == 3
    # the CDC feed across the delete carries all 21 preimages
    ch = snap.read_changes(wh, "db", "t", vs[-2], v)
    assert ch.filter(F.col("_change_type") == "delete").count() == 21


def test_dml_random_op_sequences_match_model(spark, tmp_path):
    """Model-based DML check (new r8): seeded random sequences of
    append / delete_where / delete_keys / merge_upsert /
    overwrite_versioned against a plain-dict model {__row_id: val}.
    After every op the live snapshot must equal the model; pinned
    versions must time-travel to their historical model states; and
    the CDC net effect between consecutive versions must equal the
    model diff (inserts - deletes = state delta). Deterministic seeds
    keep it fast and reproducible — this is the cross-operator
    interaction coverage the per-operator tests can't give."""
    import random

    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap

    def run_sequence(seed: int, n_ops: int = 8) -> None:
        rng = random.Random(seed)
        wh = Warehouse(spark, str(tmp_path / f"wh{seed}"))
        model: dict[int, int] = {i: i * 10 for i in range(60)}
        snap.append_versioned(
            wh, "db", "t",
            spark.createDataFrame(
                sorted(model.items()), "__row_id long, val long"
            ),
        )
        history = [(snap.versions(wh, "db", "t")[-1], dict(model))]

        for _ in range(n_ops):
            op = rng.choice(
                ["append", "del_where", "del_keys", "merge", "overwrite"]
            )
            if op == "append":
                base = rng.randrange(1000, 100_000)
                rows = {base + i: rng.randrange(1000) for i in range(7)}
                rows = {k: v for k, v in rows.items() if k not in model}
                snap.append_versioned(
                    wh, "db", "t",
                    spark.createDataFrame(
                        sorted(rows.items()), "__row_id long, val long"
                    ),
                )
                model.update(rows)
            elif op == "del_where":
                m = rng.choice([3, 5, 7])
                r = rng.randrange(m)
                snap.delete_where(
                    wh, "db", "t", F.col("val") % m == r
                )
                model = {
                    k: v for k, v in model.items() if v % m != r
                }
            elif op == "del_keys":
                if model:
                    ks = rng.sample(
                        sorted(model), k=min(9, len(model))
                    ) + [999_999_999]  # plus a no-match key
                    snap.delete_keys(
                        wh, "db", "t",
                        spark.createDataFrame(
                            [(k,) for k in ks], "__row_id long"
                        ),
                        "__row_id",
                    )
                    for k in ks:
                        model.pop(k, None)
            elif op == "merge":
                upd = {}
                if model:
                    for k in rng.sample(
                        sorted(model), k=min(5, len(model))
                    ):
                        upd[k] = rng.randrange(1000)
                for i in range(3):
                    upd[rng.randrange(500_000, 600_000)] = rng.randrange(
                        1000
                    )
                snap.merge_upsert(
                    wh, "db", "t",
                    spark.createDataFrame(
                        sorted(upd.items()), "__row_id long, val long"
                    ),
                    "__row_id",
                )
                model.update(upd)
            else:  # overwrite
                new = {
                    rng.randrange(10_000): rng.randrange(1000)
                    for _ in range(12)
                }
                snap.overwrite_versioned(
                    wh, "db", "t",
                    spark.createDataFrame(
                        sorted(new.items()), "__row_id long, val long"
                    ),
                )
                model = dict(new)

            got = {
                r["__row_id"]: r["val"]
                for r in snap.read_snapshot(wh, "db", "t").collect()
            }
            assert got == model, f"seed={seed} after {op}"
            history.append(
                (snap.versions(wh, "db", "t")[-1], dict(model))
            )

        # time travel: pinned versions still read their states
        for v, state in [history[0], history[len(history) // 2]]:
            got = {
                r["__row_id"]: r["val"]
                for r in snap.read_snapshot(
                    wh, "db", "t", version=v
                ).collect()
            }
            assert got == state, f"seed={seed} time travel v{v}"

        # CDC: net effect between consecutive RECORDED versions equals
        # the model diff (consecutive ops may be several commits apart
        # when DML retried or refreshed — use the recorded pins)
        for (v_a, st_a), (v_b, st_b) in zip(history, history[1:]):
            ch = snap.read_changes(wh, "db", "t", v_a, v_b).collect()
            after = dict(st_a)
            for r in ch:
                if r["_change_type"] == "delete":
                    # a delete preimage removes the exact (k, v) pair
                    if after.get(r["__row_id"]) == r["val"]:
                        after.pop(r["__row_id"], None)
            for r in ch:
                if r["_change_type"] == "insert":
                    after[r["__row_id"]] = r["val"]
            assert after == st_b, f"seed={seed} CDC {v_a}->{v_b}"

    for seed in (11, 23, 37):
        run_sequence(seed)


def test_bloom_file_skipping_point_lookup(spark, tmp_path):
    """Per-file bloom filters (bloom_cols=): equality skipping on a
    HIGH-cardinality unclustered column where dicts saturate and
    min/max ranges cover everything. Pins (a) completeness — every
    present key's file is always planned (bloom misses are sound),
    (b) a definite miss plans ZERO files, (c) inheritance on later
    commits, (d) multi-point IN-list probing, (e) cross-engine hash
    parity incl. non-ASCII keys (Python probe vs Spark-side sha2)."""
    import hashlib

    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    # keys = sha256 strings (cardinality >> _DICT_CAP), spread across
    # files by an unrelated partition column — zone maps are useless
    df = spark.range(2000).select(
        F.col("id").alias("__row_id"),
        F.sha2(F.col("id").cast("string"), 256).alias("k"),
        (F.col("id") % 8).alias("part"),
    ).repartition(8, "part")
    v1 = snap.append_versioned(
        wh, "db", "t", df, stat_cols=["k"], bloom_cols=["k"]
    )
    m1 = snap._manifest(wh, "db", "t", v1)
    assert m1.get("bloom_cols") == ["k"]
    total = len(snap._plan_files(wh, "db", "t", m1, None, None))
    assert total > 1

    # (a) completeness over a sample of present keys — and the read
    # path returns exactly the right row through the pruned plan
    for i in (0, 7, 99, 1234, 1999):
        key = hashlib.sha256(str(i).encode()).hexdigest()
        got = (
            snap.read_snapshot(wh, "db", "t", prune_eq=("k", key))
            .filter(F.col("k") == key)
            .collect()
        )
        assert [r["__row_id"] for r in got] == [i]

    # (b) absent keys plan (almost) nothing — blooms permit false
    # positives, so pin the aggregate: over 20 absent probes, at
    # least 15 plan ZERO files and the total planned stays far below
    # 20 * total (a sound-but-useless bloom would plan everything)
    miss_counts = [
        len(snap._plan_files(wh, "db", "t", m1, None, ("k", f"miss-{i}")))
        for i in range(20)
    ]
    assert sum(1 for c in miss_counts if c == 0) >= 15
    assert sum(miss_counts) <= total * 2
    keys = [
        hashlib.sha256(str(i).encode()).hexdigest() for i in (3, 888)
    ]
    multi = snap._plan_files(wh, "db", "t", m1, None, ("k", keys))
    assert 1 <= len(multi) < total

    # (c) a plain append inherits bloom_cols and stays current
    v2 = snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(9001, "klüç-ünïcode", 0)], "__row_id long, k string, part long"
        ).coalesce(1),
    )
    m2 = snap._manifest(wh, "db", "t", v2)
    assert m2.get("bloom_cols") == ["k"]
    # (e) non-ASCII key round-trips through both hash sides
    got = (
        snap.read_snapshot(wh, "db", "t", prune_eq=("k", "klüç-ünïcode"))
        .filter(F.col("k") == "klüç-ünïcode")
        .collect()
    )
    assert [r["__row_id"] for r in got] == [9001]
    hit = snap._plan_files(
        wh, "db", "t", m2, None, ("k", "klüç-ünïcode")
    )
    assert len(hit) < len(snap._plan_files(wh, "db", "t", m2, None, None))

    # type guard: bloom on a double column is refused loudly
    import pytest as _pytest

    df_bad = spark.range(5).select(
        F.col("id").alias("__row_id"),
        (F.col("id") * 1.5).alias("x"),
    )
    with _pytest.raises(ValueError, match="bloom column"):
        snap.append_versioned(
            wh, "db", "t2", df_bad, bloom_cols=["x"]
        )


def test_bloom_sharded_saturation_and_widening(
    spark, tmp_path, monkeypatch
):
    """Bloom skipping across the sharded-manifest path: (a) shard
    aggs carry OR-merged blooms so whole shards skip UNOPENED, (b) a
    saturated per-file bloom records null (must-scan, still counts as
    covered — no recompute churn), (c) enabling bloom_cols on an
    EXISTING table backfills every file that round (widening), (d)
    results through the pruned plan stay exact after COW deletes."""
    import hashlib

    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    monkeypatch.setattr(snap, "_SHARD_THRESHOLD", 6)
    monkeypatch.setattr(snap, "_SHARD_SIZE", 4)
    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(80).select(
        F.col("id").alias("__row_id"),
        F.sha2(F.col("id").cast("string"), 256).alias("k"),
    )
    # (c) start WITHOUT blooms, then widen
    v1 = snap.append_versioned(
        wh, "db", "t", df.repartitionByRange(8, "__row_id"),
        stat_cols=["k"],
    )
    m1 = snap._manifest(wh, "db", "t", v1)
    assert "shards" in m1 and "bloom_cols" not in m1
    v2 = snap.commit_snapshot(
        wh, "db", "t", bloom_cols=["k"]
    )  # widening commit: backfills blooms for every live file
    m2 = snap._manifest(wh, "db", "t", v2)
    assert m2.get("bloom_cols") == ["k"]
    # (a) every shard agg carries a merged bloom, and a probe for one
    # key survives only a strict subset of shards
    aggs = [r.get("agg", {}) for r in m2["shards"]]
    assert all("k__bloom" in a for a in aggs)
    key = hashlib.sha256(b"42").hexdigest()
    surviving = [
        a for a in aggs if snap._file_survives(a, None, ("k", key))
    ]
    assert 1 <= len(surviving) < len(aggs)
    planned = snap._plan_files(wh, "db", "t", m2, None, ("k", key))
    assert 1 <= len(planned) < snap._manifest_n_files(m2)
    got = (
        snap.read_snapshot(wh, "db", "t", prune_eq=("k", key))
        .filter(F.col("k") == key)
        .collect()
    )
    assert [r["__row_id"] for r in got] == [42]

    # (d) COW delete keeps blooms current on the rewritten shard
    v3, n_del = snap.delete_where(
        wh, "db", "t",
        F.col("k") == hashlib.sha256(b"7").hexdigest(),
    )
    assert n_del == 1
    m3 = snap._manifest(wh, "db", "t", v3)
    gone = snap._plan_files(
        wh, "db", "t", m3, None,
        ("k", hashlib.sha256(b"7").hexdigest()),
    )
    # deleted key may still bloom-hit its old (rewritten) file's
    # successor — completeness only promises no false negatives; the
    # read itself must find nothing
    assert (
        snap.read_snapshot(wh, "db", "t", version=v3)
        .filter(F.col("k") == hashlib.sha256(b"7").hexdigest())
        .count()
        == 0
    )
    assert len(gone) <= snap._manifest_n_files(m3)

    # (b) saturation: with a tiny position cap every file records a
    # null bloom — covered (no recompute) but never skipped
    monkeypatch.setattr(snap, "_BLOOM_POS_CAP", 2)
    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    v = snap.append_versioned(
        wh2, "db", "t",
        # > _DICT_CAP distinct per file so the exact dictionary is
        # out of play and the null bloom is the deciding record
        spark.range(500).select(
            F.col("id").alias("__row_id"),
            F.sha2(F.col("id").cast("string"), 256).alias("k"),
        ).coalesce(2),
        stat_cols=["k"], bloom_cols=["k"],
    )
    m = snap._manifest(wh2, "db", "t", v)
    recs = m["stats"]
    # files WITH rows saturate to null (must-scan); a rowless file
    # (e.g. the table-create artifact) gets an all-zero bloom and is
    # legitimately skipped — distinguish by the [min,max] stat
    data_files = {
        n for n, r in recs.items() if r.get("k", [None, None])[0] is not None
    }
    assert data_files and all(
        recs[n].get("k__bloom") is None for n in data_files
    )
    # probe inside the lexical [min,max] of the hex keys (so the
    # range check can't skip either): null blooms must fall back to
    # scanning every data file — saturated is never wrong, just slow
    assert set(
        snap._plan_files(wh2, "db", "t", m, None, ("k", "a" * 64))
    ) == data_files
    # and a follow-up commit does NOT recompute (covered): manifest
    # still carries null blooms rather than dropping the key
    v_next = snap.append_versioned(
        wh2, "db", "t",
        spark.createDataFrame([(99, "x")], "__row_id long, k string"),
    )
    m_next = snap._manifest(wh2, "db", "t", v_next)
    carried = {
        n: r for n, r in m_next["stats"].items() if n in data_files
    }
    assert set(carried) == data_files and all(
        "k__bloom" in r and r["k__bloom"] is None
        for r in carried.values()
    )


def test_table_constraints_gate_and_quarantine(spark, tmp_path):
    """Write-time constraints (snapshots.set_constraints — Delta
    CHECK + DLT expectations): 'fail' rejects the whole batch before
    anything lands, 'drop' diverts violators to <table>__quarantine
    with per-constraint labels and commits only clean rows, NULL
    follows SQL CHECK (passes unless the expr says otherwise),
    declaration validates against the schema, config survives DML +
    rollback, {} clears, and overwrite_versioned enforces too."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    v1 = snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(1, 10.0, "en", 0.5), (2, 5.0, "de", 0.9)],
            "__row_id long, price double, lang string, score double",
        ),
    )
    snap.set_constraints(wh, "db", "t", {
        "price_pos": "price IS NOT NULL AND price > 0",
        "lang_known": {
            "expr": "lang IN ('en','de','fr')", "on_violation": "drop"
        },
        "score_range": {
            "expr": "score BETWEEN 0 AND 1", "on_violation": "drop"
        },
    })

    # fail mode: batch rejected atomically — no version, no rows
    n_vs = len(snap.versions(wh, "db", "t"))
    with _pytest.raises(snap.ConstraintViolationError, match="price_pos"):
        snap.append_versioned(
            wh, "db", "t",
            spark.createDataFrame(
                [(3, -1.0, "en", 0.5)],
                "__row_id long, price double, lang string, score double",
            ),
        )
    assert len(snap.versions(wh, "db", "t")) == n_vs
    assert snap.read_snapshot(wh, "db", "t").count() == 2

    # drop mode: row 4 fails one constraint, row 6 fails BOTH, row 7's
    # NULL score PASSES score_range (SQL CHECK: only FALSE violates)
    v3 = snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [
                (4, 2.0, "xx", 0.5),
                (5, 3.0, "fr", 0.7),
                (6, 4.0, "yy", 7.0),
                (7, 5.0, "en", None),
            ],
            "__row_id long, price double, lang string, score double",
        ),
    )
    assert sorted(
        r["__row_id"]
        for r in snap.read_snapshot(wh, "db", "t").collect()
    ) == [1, 2, 5, 7]
    q = {
        r["__row_id"]: r["__violated"]
        for r in wh.read("db", "t__quarantine").collect()
    }
    assert q == {4: "lang_known", 6: "lang_known,score_range"}
    # per-constraint counts ride the commit summary
    viol = snap._manifest(wh, "db", "t", v3)["summary"]["violations"]
    assert viol == {"lang_known": 2, "score_range": 1}

    # declaration-time validation
    with _pytest.raises(ValueError, match="does not resolve"):
        snap.set_constraints(wh, "db", "t", {"broken": "nope > 0"})
    with _pytest.raises(ValueError, match="on_violation"):
        snap.set_constraints(
            wh, "db", "t",
            {"m": {"expr": "price > 0", "on_violation": "explode"}},
        )

    # config survives COW DML and rollback (data un-does, gate stays)
    snap.delete_where(wh, "db", "t", F.col("__row_id") == 1)
    assert set(snap.table_constraints(wh, "db", "t")) == {
        "price_pos", "lang_known", "score_range"
    }
    snap.rollback_table(wh, "db", "t", v3)
    assert set(snap.table_constraints(wh, "db", "t")) == {
        "price_pos", "lang_known", "score_range"
    }

    # overwrite enforces the same gate
    with _pytest.raises(snap.ConstraintViolationError):
        snap.overwrite_versioned(
            wh, "db", "t",
            spark.createDataFrame(
                [(8, -2.0, "en", 0.1)],
                "__row_id long, price double, lang string, score double",
            ),
        )

    # {} clears: the bad batch now commits
    snap.set_constraints(wh, "db", "t", {})
    assert snap.table_constraints(wh, "db", "t") == {}
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(9, -1.0, "zz", 9.0)],
            "__row_id long, price double, lang string, score double",
        ),
    )
    assert 9 in {
        r["__row_id"]
        for r in snap.read_snapshot(wh, "db", "t").collect()
    }


def test_constraints_guard_ndjson_ingest_paths(spark, tmp_path, monkeypatch):
    """The quality gate holds at EVERY write entry point: both NDJSON
    ingest paths (driver-vote and distributed-vote — the streaming
    insert executor funnels through the latter) enforce the table's
    constraints, quarantining drop-mode violators and rejecting
    fail-mode batches. A constraint on a column ABSENT from the
    incoming batch evaluates as NULL (SQL CHECK: passes) instead of
    failing analysis."""
    import pytest as _pytest

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.ingest import pipeline as pl
    from scratchdb_spark.ingest.pipeline import IngestPipeline
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    pipe = IngestPipeline(spark, wh)
    pipe.append_ndjson_lines(
        "db", "t", ['{"price": 1.5, "lang": "en"}']
    )
    snap.commit_snapshot(wh, "db", "t")
    snap.set_constraints(wh, "db", "t", {
        "price_pos": "price IS NOT NULL AND price > 0",
        "lang_known": {
            "expr": "lang IN ('en','de','fr')", "on_violation": "drop"
        },
    })

    # driver-vote path: drop-mode quarantines, clean rows land
    pipe.append_ndjson_lines(
        "db", "t",
        ['{"price": 2.0, "lang": "xx"}', '{"price": 3.0, "lang": "de"}'],
    )
    assert sorted(
        r["lang"] for r in wh.read("db", "t").collect()
    ) == ["de", "en"]
    q = wh.read("db", "t__quarantine").collect()
    assert [(r["lang"], r["__violated"]) for r in q] == [("xx", "lang_known")]

    # fail-mode rejects the batch (both rows, atomically)
    with _pytest.raises(snap.ConstraintViolationError):
        pipe.append_ndjson_lines(
            "db", "t",
            ['{"price": -9.0, "lang": "en"}', '{"price": 4.0, "lang": "en"}'],
        )
    assert wh.read("db", "t").count() == 2

    # distributed-vote path (what streaming foreachBatch runs):
    # force the threshold down so two lines take the mapInPandas path
    monkeypatch.setattr(pl, "DISTRIBUTED_ROWS_THRESHOLD", 1)
    pipe.append_ndjson_lines(
        "db", "t",
        ['{"price": 5.0, "lang": "zz"}', '{"price": 6.0, "lang": "fr"}'],
    )
    assert sorted(
        r["lang"] for r in wh.read("db", "t").collect()
    ) == ["de", "en", "fr"]
    assert sorted(
        r["lang"] for r in wh.read("db", "t__quarantine").collect()
    ) == ["xx", "zz"]

    # batch missing a constrained column: price absent -> NULL ->
    # price_pos (IS NOT NULL...) FAILS it; a score-less constraint
    # on a brand-new column would pass. Verify the documented
    # semantics rather than an analysis crash:
    with _pytest.raises(snap.ConstraintViolationError, match="price_pos"):
        pipe.append_ndjson_lines("db", "t", ['{"lang": "en"}'])


def test_stats_agg_metadata_only(spark, tmp_path, monkeypatch):
    """stats_agg answers COUNT(*)/MIN/MAX/null-counts from the
    manifest alone (Iceberg record_count / value-counts rollup):
    exact vs a real query, zero data-file IO (proved by answering
    after the parquet files are GONE), shard-rollup answers without
    opening shard files, legacy manifests back-fill with one bounded
    scan, and non-stat columns are refused."""
    import json as _json
    import shutil

    import pytest as _pytest
    from pyspark.sql import functions as F

    from scratchdb_spark import fs as hfs
    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(500).select(
        F.col("id").alias("__row_id"),
        F.when(F.col("id") % 5 == 0, None)
        .otherwise(F.col("id") * 3)
        .alias("v"),
        F.lit(None).cast("string").alias("allnull"),
    ).repartition(4)
    snap.append_versioned(
        wh, "db", "t", df, stat_cols=["v", "allnull"]
    )
    truth = (
        snap.read_snapshot(wh, "db", "t")
        .agg(
            F.count(F.lit(1)).alias("rc"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
            F.sum(F.col("v").isNull().cast("long")).alias("nc"),
        )
        .collect()[0]
    )
    r = snap.stats_agg(wh, "db", "t").collect()[0]
    assert r["row_count"] == truth["rc"] == 500
    assert r["min_v"] == truth["mn"] and r["max_v"] == truth["mx"]
    assert r["null_count_v"] == truth["nc"] == 100
    # all-NULL column: SQL aggregate semantics
    assert r["min_allnull"] is None and r["max_allnull"] is None
    assert r["null_count_allnull"] == 500
    with _pytest.raises(ValueError, match="not stat columns"):
        snap.stats_agg(wh, "db", "t", cols=["__row_id"])

    # ZERO-IO proof: physically remove every data file — the
    # metadata-only path still answers; a real read cannot
    base = wh._path("db", "t")
    moved = tmp_path / "moved"
    moved.mkdir()
    import os

    for n in os.listdir(base):
        if n.endswith(".parquet"):
            shutil.move(os.path.join(base, n), str(moved / n))
    r2 = snap.stats_agg(wh, "db", "t", allow_scan=False).collect()[0]
    assert r2["row_count"] == 500 and r2["max_v"] == r["max_v"]
    for n in os.listdir(moved):
        shutil.move(str(moved / n), os.path.join(base, n))

    # SHARDED table: additive rollups answer from the shard RECORDS
    # (proved by hiding the shard files themselves)
    monkeypatch.setattr(snap, "_SHARD_THRESHOLD", 6)
    monkeypatch.setattr(snap, "_SHARD_SIZE", 4)
    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    big = spark.range(100).select(
        F.col("id").alias("__row_id"), F.col("id").alias("k")
    )
    snap.append_versioned(
        wh2, "db", "s", big.repartitionByRange(10, "k"),
        stat_cols=["k"],
    )
    m = snap._manifest(wh2, "db", "s", snap.versions(wh2, "db", "s")[-1])
    assert "shards" in m
    sh_dir = f"{wh2._path('db', 's')}/_snapshots/shards"
    shutil.move(sh_dir, str(tmp_path / "shards_hidden"))
    rs = snap.stats_agg(wh2, "db", "s", allow_scan=False).collect()[0]
    assert rs["row_count"] == 100
    assert rs["min_k"] == 0 and rs["max_k"] == 99
    shutil.move(str(tmp_path / "shards_hidden"), sh_dir)

    # LEGACY manifest (pre-row-count stats): strip the new keys from
    # the inline stats — allow_scan=False refuses loudly,
    # allow_scan=True back-fills with one bounded aggregation
    vs = snap.versions(wh, "db", "t")
    mp = f"{snap._snap_dir(wh, 'db', 't')}/v{vs[-1]:012d}.json"
    man = _json.loads(hfs.read_text(spark, mp))
    for rec in man["stats"].values():
        rec.pop("__rows", None)
        rec.pop("v__nulls", None)
        rec.pop("allnull__nulls", None)
    hfs.put_text_atomic(spark, mp, _json.dumps(man), overwrite=True)
    with _pytest.raises(ValueError, match="lack row/null-count"):
        snap.stats_agg(wh, "db", "t", allow_scan=False)
    r3 = snap.stats_agg(wh, "db", "t").collect()[0]
    assert r3["row_count"] == 500 and r3["null_count_v"] == 100


def test_token_bloom_file_skipping(spark, tmp_path, monkeypatch):
    """Token blooms (bloom_cols=["<col>:tokens"], ClickHouse
    tokenbf_v1 lifted to manifest level): full-word search plans
    only the files that can contain ALL probed tokens, with no
    false negatives; non-ASCII splits identically on the write
    (Spark) and probe (Python) sides; shard rollups OR-merge so
    whole shards skip; inheritance keeps blooms current on later
    commits."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    rows = []
    for fpart in range(8):
        for i in range(40):
            rows.append(
                (
                    fpart * 100 + i,
                    fpart,
                    f"common filler plus marker{fpart} "
                    f"MixedCase{fpart} Ünïcode-tail{fpart}",
                )
            )
    df = spark.createDataFrame(
        rows, "__row_id long, part long, body string"
    ).repartitionByRange(8, "part")
    v1 = snap.append_versioned(
        wh, "db", "t", df, bloom_cols=["body:tokens"]
    )
    m1 = snap._manifest(wh, "db", "t", v1)
    total = len(snap._plan_files(wh, "db", "t", m1, None, None))
    assert total >= 8  # range partitioner may add an empty file

    # exact-marker probes: 1 file; absent token: 0; common: all
    for probe, want in [
        (["marker3"], 1),
        (["mixedcase5"], 1),  # write side lowercases
        (["zebra-not-there"], 0),
        (["common"], 8),  # empty files' all-zero blooms skip
        (["marker3", "zebraxyz"], 0),  # AND semantics
        (["marker2", "common"], 1),
    ]:
        got = len(
            snap._plan_files(
                wh, "db", "t", m1, None, None, ("body", probe)
            )
        )
        assert got == want, (probe, got, want)

    # NO FALSE NEGATIVES: every token of every row's body must plan
    # the file holding that row — including the non-ASCII-split
    # tails ("tail3" from "Ünïcode-tail3")
    for fpart in (0, 5):
        for tok in snap._tokenize(
            f"common marker{fpart} mixedcase{fpart} tail{fpart}"
        ):
            hits = snap._plan_files(
                wh, "db", "t", m1, None, None, ("body", [tok])
            )
            found = (
                snap.read_snapshot(
                    wh, "db", "t", prune_tokens=("body", [tok])
                )
                .filter(
                    F.array_contains(
                        F.split(F.lower("body"), "[^a-z0-9]+"), tok
                    )
                )
                .count()
            )
            assert found >= 40, (fpart, tok, len(hits))

    # read_snapshot tokenizes a query STRING with the same rule
    n = (
        snap.read_snapshot(
            wh, "db", "t", prune_tokens=("body", "MARKER3 Common")
        )
        .filter(F.col("body").contains("marker3"))
        .count()
    )
    assert n == 40

    # inheritance: a later append keeps token blooms current
    v2 = snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(9000, 99, "freshword only here")],
            "__row_id long, part long, body string",
        ).coalesce(1),
    )
    m2 = snap._manifest(wh, "db", "t", v2)
    assert m2["bloom_cols"] == ["body:tokens"]
    got = snap._plan_files(
        wh, "db", "t", m2, None, None, ("body", ["freshword"])
    )
    assert len(got) == 1

    # sharded manifests: rolled-up token blooms skip WHOLE shards
    monkeypatch.setattr(snap, "_SHARD_THRESHOLD", 6)
    monkeypatch.setattr(snap, "_SHARD_SIZE", 4)
    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    big = spark.createDataFrame(
        [
            (i, i % 10, f"shardtok{i % 10} base")
            for i in range(200)
        ],
        "__row_id long, part long, body string",
    ).repartitionByRange(10, "part")
    v = snap.append_versioned(
        wh2, "db", "s", big, bloom_cols=["body:tokens"]
    )
    ms = snap._manifest(wh2, "db", "s", v)
    assert "shards" in ms
    assert all(
        "body:tokens__bloom" in rec["agg"] for rec in ms["shards"]
    )
    hit = snap._plan_files(
        wh2, "db", "s", ms, None, None, ("body", ["shardtok7"])
    )
    assert len(hit) == 1
    assert (
        snap.read_snapshot(
            wh2, "db", "s", prune_tokens=("body", ["shardtok7"])
        ).count()
        == 20
    )

    # saturation: a file whose token set drives bit density past the
    # cap records null (must-scan, never wrong)
    wh3 = Warehouse(spark, str(tmp_path / "wh3"))
    import random

    rnd = random.Random(7)
    blob = " ".join(
        "".join(rnd.choices("abcdefghijklmnop", k=8))
        for _ in range(30000)
    )
    v = snap.append_versioned(
        wh3, "db", "big",
        spark.createDataFrame(
            [(0, blob)], "__row_id long, body string"
        ).coalesce(1),
        bloom_cols=["body:tokens"],
    )
    mb = snap._manifest(wh3, "db", "big", v)
    rec = next(iter(snap._manifest_stats(wh3, "db", "big", mb).values()))
    assert rec["body:tokens__bloom"] is None  # saturated
    # and a probe still scans the file (no false skip)
    assert (
        len(
            snap._plan_files(
                wh3, "db", "big", mb, None, None,
                ("body", ["anything"]),
            )
        )
        == 1
    )


def test_snapshot_tags_retention_barrier(spark, tmp_path):
    """Tags (Iceberg's public design): named pointers resolved by
    read_snapshot(tag=...), immutable unless replace=True, and a
    RETENTION BARRIER — expire_snapshots stops its contiguous prefix
    at the first tagged version, maintain_table keeps the tagged
    version's files readable across compaction, and deleting the
    tag releases everything on the next maintenance."""
    import pytest as _pytest

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))

    def add(batch):
        return snap.append_versioned(
            wh, "db", "t",
            spark.createDataFrame(
                [(batch * 100 + i, batch) for i in range(10)],
                "__row_id long, batch long",
            ).coalesce(1),
        )

    v1, v2, v3 = add(1), add(2), add(3)
    with _pytest.raises(ValueError, match="invalid tag name"):
        snap.tag_snapshot(wh, "db", "t", "../escape")
    assert snap.tag_snapshot(wh, "db", "t", "audit", version=v2) == v2
    with _pytest.raises(ValueError, match="already exists"):
        snap.tag_snapshot(wh, "db", "t", "audit", version=v1)
    # replace=True moves it; move it back
    snap.tag_snapshot(wh, "db", "t", "audit", version=v3, replace=True)
    snap.tag_snapshot(wh, "db", "t", "audit", version=v2, replace=True)
    assert snap.list_tags(wh, "db", "t") == {"audit": v2}
    assert snap.read_snapshot(wh, "db", "t", tag="audit").count() == 20
    with _pytest.raises(ValueError, match="exactly one of"):
        snap.read_snapshot(wh, "db", "t", tag="audit", version=v1)
    with _pytest.raises(ValueError, match="no tag"):
        snap.read_snapshot(wh, "db", "t", tag="nope")

    # expiry: contiguous prefix STOPS at the tagged version
    assert snap.expire_snapshots(wh, "db", "t", keep_last=1) == [v1]
    assert snap.versions(wh, "db", "t") == [v2, v3]

    # maintenance keeps the tagged version and its files; the
    # compacted latest still reads fully
    add(4)
    res = snap.maintain_table(wh, "db", "t")
    assert v2 in snap.versions(wh, "db", "t")
    assert snap.read_snapshot(wh, "db", "t", tag="audit").count() == 20
    assert snap.read_snapshot(wh, "db", "t").count() == 40
    assert res["expired_versions"] == []

    # rollback to the tagged version works ACROSS maintenance —
    # its files were protected, so the manifest swap succeeds
    rb = snap.rollback_table(wh, "db", "t", v2)
    assert snap.read_snapshot(wh, "db", "t").count() == 20
    snap.rollback_table(wh, "db", "t", snap.versions(wh, "db", "t")[-2])

    # deleting the tag releases the barrier: the next maintenance
    # truncates history and reclaims the old files
    assert snap.delete_tag(wh, "db", "t", "audit")
    assert not snap.delete_tag(wh, "db", "t", "audit")
    snap.maintain_table(wh, "db", "t")
    assert len(snap.versions(wh, "db", "t")) == 1
    assert snap.read_snapshot(wh, "db", "t").count() == 40


def test_files_table_metadata_view(spark, tmp_path, monkeypatch):
    """files_table: one row per live file with size/rows/min-max from
    manifests only; sharded tables resolve through shard JSONs; a
    legacy file without row-count stats shows null rows rather than
    lying; retired (COW-replaced) files never appear."""
    import json as _json

    from pyspark.sql import functions as F

    from scratchdb_spark import fs as hfs
    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(300).select(
        F.col("id").alias("__row_id"), (F.col("id") % 3).alias("k")
    ).repartition(3)
    snap.append_versioned(wh, "db", "t", df, stat_cols=["k"])
    ft = snap.files_table(wh, "db", "t")
    rows = {r["file"]: r for r in ft.collect()}
    assert sum(r["rows"] for r in rows.values()) == 300
    assert all(r["size_bytes"] > 0 for r in rows.values())
    # empty writer partitions produce 0-row files: null min/max
    # (all-null semantics), never a lie
    assert all(
        (
            r["min_k"] == "0"
            and r["max_k"] == "2"
            and r["null_count_k"] == 0
        )
        if r["rows"]
        else (r["min_k"] is None and r["max_k"] is None)
        for r in rows.values()
    )

    # COW delete: replaced files drop out, survivors' rows shrink
    snap.delete_where(wh, "db", "t", F.col("k") == 1)
    ft2 = snap.files_table(wh, "db", "t")
    assert ft2.agg(F.sum("rows")).collect()[0][0] == 200
    assert snap.read_snapshot(wh, "db", "t").count() == 200

    # legacy manifest: strip __rows from one file -> null rows
    vs = snap.versions(wh, "db", "t")
    mp = f"{snap._snap_dir(wh, 'db', 't')}/v{vs[-1]:012d}.json"
    man = _json.loads(hfs.read_text(spark, mp))
    first = sorted(man["stats"])[0]
    man["stats"][first].pop("__rows", None)
    hfs.put_text_atomic(spark, mp, _json.dumps(man), overwrite=True)
    ft3 = snap.files_table(wh, "db", "t")
    got = {r["file"]: r["rows"] for r in ft3.collect()}
    assert got[first] is None
    assert sum(v for v in got.values() if v is not None) > 0

    # sharded: per-file rows resolve through shard JSONs
    monkeypatch.setattr(snap, "_SHARD_THRESHOLD", 6)
    monkeypatch.setattr(snap, "_SHARD_SIZE", 4)
    wh2 = Warehouse(spark, str(tmp_path / "wh2"))
    snap.append_versioned(
        wh2, "db", "s",
        spark.range(100).select(
            F.col("id").alias("__row_id"), F.col("id").alias("k")
        ).repartitionByRange(10, "k"),
        stat_cols=["k"],
    )
    fts = snap.files_table(wh2, "db", "s")
    assert fts.count() >= 7
    assert fts.agg(F.sum("rows")).collect()[0][0] == 100


def test_stats_agg_ndv_metadata_only(spark, tmp_path):
    """Per-file HLL sketches (bloom_cols=['<col>:ndv']) union into
    metadata-only approximate distinct counts: within HLL error of
    exact, tracking appends AND COW deletes (rewritten files carry
    fresh sketches), answering with the data files gone, inheriting
    across commits, and refusing unsketched columns."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(50000).select(
        F.col("id").alias("__row_id"),
        (F.col("id") % 4321).alias("u"),
    ).repartition(6)
    snap.append_versioned(wh, "db", "t", df, bloom_cols=["u:ndv"])
    est = snap.stats_agg_ndv(
        wh, "db", "t", allow_scan=False
    ).collect()[0]["approx_ndv_u"]
    assert abs(est - 4321) / 4321 < 0.05
    with _pytest.raises(ValueError, match="no NDV sketches"):
        snap.stats_agg_ndv(wh, "db", "t", cols=["__row_id"])

    # inheritance: plain append keeps sketches current; new
    # distincts show up
    snap.append_versioned(
        wh, "db", "t",
        spark.range(2000).select(
            (F.col("id") + 100000).alias("__row_id"),
            (F.col("id") + 10000).alias("u"),
        ).coalesce(1),
    )
    est2 = snap.stats_agg_ndv(
        wh, "db", "t", allow_scan=False
    ).collect()[0]["approx_ndv_u"]
    assert abs(est2 - 6321) / 6321 < 0.05

    # COW delete: rewritten files re-sketch, estimate shrinks back
    snap.delete_where(wh, "db", "t", F.col("u") >= 10000)
    est3 = snap.stats_agg_ndv(
        wh, "db", "t", allow_scan=False
    ).collect()[0]["approx_ndv_u"]
    assert abs(est3 - 4321) / 4321 < 0.05

    # zero-IO proof: data files physically gone, estimate unchanged
    base = wh._path("db", "t")
    for n in os.listdir(base):
        if n.endswith(".parquet"):
            os.rename(f"{base}/{n}", str(tmp_path / n))
    est4 = snap.stats_agg_ndv(
        wh, "db", "t", allow_scan=False
    ).collect()[0]["approx_ndv_u"]
    assert est4 == est3


def test_ttl_policy_expiry(spark, tmp_path):
    """Row-level TTL (set_ttl/apply_ttl): expiry is an ordinary COW
    DELETE — atomic, CDC-visible, auditable; a no-expiry cycle
    commits NOTHING (cadence-safe); config survives rollback and
    maintenance and validates its column; clear_ttl stops expiry."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    t0 = 1_700_000_000
    snap.append_versioned(
        wh, "db", "t",
        spark.range(100).select(
            F.col("id").alias("__row_id"),
            F.timestamp_seconds(
                F.lit(t0) + F.col("id") * 86400
            ).alias("ts"),
        ),
    )
    with _pytest.raises(ValueError, match="not in table schema"):
        snap.set_ttl(wh, "db", "t", "nope", 10.0)
    with _pytest.raises(ValueError, match="must be timestamp"):
        snap.set_ttl(wh, "db", "t", "__row_id", 10.0)
    snap.set_ttl(wh, "db", "t", "ts", 30 * 86400.0)

    now = t0 + 100 * 86400
    res = snap.apply_ttl(wh, "db", "t", now=now)
    assert res["rows_expired"] == 70
    assert snap.read_snapshot(wh, "db", "t").count() == 30

    # CDC: downstream consumers see the expiry as deletes
    ch = snap.read_changes(wh, "db", "t", from_version=1)
    assert (
        ch.filter(F.col("_change_type") == "delete").count() == 70
    )

    # no-op cycle: no commit
    vs = snap.versions(wh, "db", "t")
    assert snap.apply_ttl(wh, "db", "t", now=now)["version"] is None
    assert snap.versions(wh, "db", "t") == vs

    # config survives rollback and maintenance
    snap.rollback_table(wh, "db", "t", vs[0])
    assert snap.table_ttl(wh, "db", "t") is not None
    snap.maintain_table(wh, "db", "t")
    assert snap.table_ttl(wh, "db", "t") is not None
    # after rollback the old rows are back; expiry reapplies
    res2 = snap.apply_ttl(wh, "db", "t", now=now)
    assert res2["rows_expired"] == 70

    assert snap.clear_ttl(wh, "db", "t")
    with _pytest.raises(ValueError, match="no TTL policy"):
        snap.apply_ttl(wh, "db", "t", now=now)


def test_savepoints_cross_table_cut(spark, tmp_path):
    """Savepoints: one named cut pinning versions across tables,
    tag-backed (retention barrier: maintenance cannot reclaim any
    member), readable per member, atomic create (partial failure
    rolls back the tags), released on delete."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    for t, n in (("docs", 10), ("emb", 20)):
        snap.append_versioned(
            wh, "db", t,
            spark.range(n).select(
                F.col("id").alias("__row_id"), F.col("id").alias("v")
            ),
        )
    pins = snap.create_savepoint(
        wh, "cut1", [("db", "docs"), ("db", "emb")]
    )
    assert pins == {"db.docs": 1, "db.emb": 1}
    assert snap.list_tags(wh, "db", "docs") == {"sp-cut1": 1}

    # atomic create: a member without snapshots fails the WHOLE
    # savepoint and rolls back the tags already taken
    with _pytest.raises(ValueError, match="no snapshots"):
        snap.create_savepoint(
            wh, "cut2", [("db", "docs"), ("db", "ghost")]
        )
    assert "sp-cut2" not in snap.list_tags(wh, "db", "docs")
    with _pytest.raises(ValueError, match="already exists"):
        snap.create_savepoint(wh, "cut1", [("db", "docs")])

    # advance + maintain both tables: the cut still reads exactly
    for t in ("docs", "emb"):
        snap.append_versioned(
            wh, "db", t,
            spark.createDataFrame([(999, 999)], "__row_id long, v long"),
        )
        snap.maintain_table(wh, "db", t)
    assert snap.read_savepoint(wh, "cut1", "db", "docs").count() == 10
    assert snap.read_savepoint(wh, "cut1", "db", "emb").count() == 20
    assert snap.read_snapshot(wh, "db", "docs").count() == 11
    with _pytest.raises(ValueError, match="does not pin"):
        snap.read_savepoint(wh, "cut1", "db", "ghost")

    # release: tags drop, the next maintenance reclaims history
    assert snap.delete_savepoint(wh, "cut1")
    assert not snap.delete_savepoint(wh, "cut1")
    for t in ("docs", "emb"):
        assert snap.list_tags(wh, "db", t) == {}
        snap.maintain_table(wh, "db", t)
        assert len(snap.versions(wh, "db", t)) == 1


def test_token_bloom_sidecar_externalization(spark, tmp_path):
    """Oversized filter bitmaps (token blooms, 16 KB/file) must NOT
    live inline in manifest/shard JSON (r9 — measured 22 KB/file of
    driver-parsed metadata at 1000 files, ~2.2 GB at 100k): commits
    externalize them to one sidecar per batch, the inline record
    keeps a ~60 B reference, token probes resolve lazily and plan the
    SAME files, rollback carries the sidecar refs, and maintenance
    GCs unreferenced sidecars without breaking retained versions."""
    import json as _json
    import os as _os

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    rows = []
    for fpart in range(6):
        for i in range(30):
            rows.append(
                (fpart * 100 + i, fpart,
                 f"common filler plus marker{fpart}")
            )
    df = spark.createDataFrame(
        rows, "__row_id long, part long, body string"
    ).repartitionByRange(6, "part")
    v1 = snap.append_versioned(
        wh, "db", "t", df, bloom_cols=["body:tokens"]
    )
    m1 = snap._manifest(wh, "db", "t", v1)

    # inline records hold references, not bitmaps — and the whole
    # inline stats stay bounded (~hundreds of bytes per file, not
    # the 22 KB the inline bitmap cost)
    stats = snap._manifest_stats(wh, "db", "t", m1)
    refs = [r["body:tokens__bloom"] for r in stats.values()]
    assert all(isinstance(b, dict) and "sc" in b for b in refs)
    inline_bytes = len(_json.dumps(stats)) / len(stats)
    assert inline_bytes < 2048, inline_bytes
    assert m1.get("bloom_sidecars"), "manifest must name its sidecars"

    # probes still plan exactly the right files through the sidecar
    for probe, want in [
        (["marker3"], 1),
        (["zebra-not-there"], 0),
        (["common"], 6),
    ]:
        got = len(
            snap._plan_files(wh, "db", "t", m1, None, None,
                             ("body", probe))
        )
        assert got == want, (probe, got, want)

    # rollback keeps the refs resolvable
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(900, 99, "freshword")],
            "__row_id long, part long, body string",
        ).coalesce(1),
    )
    rb = snap.rollback_table(wh, "db", "t", v1)
    mrb = snap._manifest(wh, "db", "t", rb)
    assert mrb.get("bloom_sidecars") == m1["bloom_sidecars"]
    assert len(
        snap._plan_files(wh, "db", "t", mrb, None, None,
                         ("body", ["marker3"]))
    ) == 1

    # maintenance: rewritten files get fresh sidecars; old ones are
    # unreferenced after expiry and reclaimed (grace window forced
    # to zero), and probes still work on the maintained table
    bl_dir = _os.path.join(
        snap._snap_dir(wh, "db", "t").replace("file:", ""),
        snap._BLOOMS_DIR,
    )
    before = set(_os.listdir(bl_dir))
    snap.maintain_table(wh, "db", "t", reclaim_grace_ms=0)
    after = set(_os.listdir(bl_dir))
    mfinal = snap._manifest(
        wh, "db", "t", snap.versions(wh, "db", "t")[-1]
    )
    assert set(mfinal.get("bloom_sidecars", [])) <= after
    assert not (before & after), "expired sidecars must be reclaimed"
    got = snap.read_snapshot(
        wh, "db", "t", prune_tokens=("body", ["marker3"])
    )
    assert got.filter(got.body.contains("marker3")).count() == 30


def test_concurrent_append_no_lost_update(spark, tmp_path, monkeypatch):
    """r9 concurrent-writer rehearsal caught a SILENT LOST UPDATE:
    a writer whose versions() listing was stale could still claim an
    UNCONTESTED version number through the fresh watermark read
    (bumped by the racer's PUT) — its manifest, built from the stale
    prev, dropped the racer's files with zero CAS conflicts
    (measured: 7/16 batches lost). _next_version(vs=...) must now
    (a) raise CommitConflictError when the watermark is ahead of the
    caller's snapshot with a live manifest, and (b) the commit retry
    loops must absorb it, re-read, and adopt the racer's files."""
    import pytest as _pytest

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))

    def df(rows):
        return spark.createDataFrame(rows, "__row_id long, v long")

    snap.append_versioned(wh, "db", "t", df([(1, 10)]))

    # (a) the primitive: a racer committing after our listing makes
    # same-snapshot numbering refuse, not leapfrog
    vs_stale = snap.versions(wh, "db", "t")
    snap.append_versioned(wh, "db", "t", df([(2, 20)]))
    with _pytest.raises(snap.CommitConflictError, match="advanced"):
        snap._next_version(wh, "db", "t", vs=vs_stale)

    # (b) end-to-end: inject the race inside the victim's first
    # versions() read — the racer lands after the listing returns
    real_versions = snap.versions
    state = {"fired": False}

    def racing_versions(wh_, database, table):
        out = real_versions(wh_, database, table)
        if not state["fired"] and table == "t":
            state["fired"] = True
            snap.append_versioned(wh_, database, "t", df([(3, 30)]))
        return out

    monkeypatch.setattr(snap, "versions", racing_versions)
    snap.append_versioned(wh, "db", "t", df([(4, 40)]))
    monkeypatch.setattr(snap, "versions", real_versions)
    assert state["fired"]
    got = sorted(
        r["__row_id"] for r in snap.read_snapshot(wh, "db", "t").collect()
    )
    assert got == [1, 2, 3, 4]  # nobody's batch was dropped


def test_file_stats_arrow_fast_path_parity(spark, tmp_path, monkeypatch):
    """_file_stats_arrow (r9) must produce JSON-identical records to
    the Spark-agg path across the full stat-column type surface
    (long/double/string/boolean, nulls, all-null files, empty files,
    over-cap dictionaries) — the fidelity the manifest itself has."""
    import json as _json

    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(600).select(
        F.col("id").alias("__row_id"),
        (F.col("id") % 7).alias("k"),
        F.when(F.col("id") % 5 == 0, None)
        .otherwise(F.col("id") * 1.5)
        .alias("d"),
        F.when(F.col("id") % 11 == 0, None)
        .otherwise(F.concat(F.lit("s"), (F.col("id") % 100)))
        .alias("s"),
        (F.col("id") % 2 == 0).alias("b"),
        F.col("id").alias("wide"),  # 600 distinct: over the dict cap
    ).repartition(6)
    wh.create_empty_table("db", "t")
    wh.append_aligned("db", "t", df)
    # one empty + one all-null-column file
    wh.append_aligned(
        "db", "t",
        spark.createDataFrame(
            [(10_000, None, None, None, None, None)],
            "__row_id long, k long, d double, s string, b boolean, "
            "wide long",
        ).coalesce(1),
    )
    base = wh._path("db", "t")
    import os as _os

    names = sorted(
        n
        for n in _os.listdir(base.replace("file:", ""))
        if n.endswith(".parquet")
    )
    schema = wh.schema("db", "t")
    cols = ["k", "d", "s", "b", "wide"]
    fast = snap._file_stats_arrow(wh, base, names, schema, cols)
    monkeypatch.setattr(snap, "_ARROW_STATS_MIN_FILES", 10**9)
    slow = snap._file_stats(wh, base, names, schema, cols)
    assert set(fast) == set(slow) == set(names)
    for n in names:
        a = _json.dumps(fast[n], sort_keys=True)
        b = _json.dumps(slow[n], sort_keys=True)
        assert a == b, (n, a, b)


def test_file_stats_arrow_tolerates_missing_stat_column(
    spark, tmp_path, monkeypatch
):
    """r10 ADVICE fix: a commit batch can contain adopted/legacy files
    written BEFORE a stat column was added (stat-col widening is a
    supported flow). The Spark path reads them with the table schema
    and null-fills; the pyarrow fast path must do the same instead of
    raising on pq read of an absent column."""
    import json as _json
    import os as _os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from scratchdb_spark import snapshots as snap
    from scratchdb_spark.tables import Warehouse

    wh = Warehouse(spark, str(tmp_path / "wh"))
    wh.create_empty_table("db", "t")
    wh.append_aligned(
        "db", "t",
        spark.createDataFrame(
            [(1, 10, "x"), (2, 20, None)],
            "__row_id long, v long, s string",
        ).coalesce(1),
    )
    base = wh._path("db", "t")
    local = base.replace("file:", "")
    # a legacy file lacking BOTH stat columns' younger sibling: write
    # it with only (__row_id, v) — no "s"
    pq.write_table(
        pa.table({"__row_id": [3, 4], "v": [30, 40]}),
        _os.path.join(local, "legacy-0.parquet"),
    )
    names = sorted(
        n for n in _os.listdir(local) if n.endswith(".parquet")
    )
    schema = wh.schema("db", "t")
    cols = ["v", "s"]
    fast = snap._file_stats_arrow(wh, base, names, schema, cols)
    monkeypatch.setattr(snap, "_ARROW_STATS_MIN_FILES", 10**9)
    slow = snap._file_stats(wh, base, names, schema, cols)
    assert set(fast) == set(slow) == set(names)
    for n in names:
        a = _json.dumps(fast[n], sort_keys=True)
        b = _json.dumps(slow[n], sort_keys=True)
        assert a == b, (n, a, b)
    legacy = fast["legacy-0.parquet"]
    assert legacy["s"] == [None, None]
    assert legacy["s__nulls"] == 2
    assert legacy["s__dict"] == []


def test_retry_dml_escalates_retries_to_table_lock(monkeypatch):
    """r13 commit-queue escalation: the FIRST attempt of a DML runs
    lock-free; every retry serializes through the per-table in-process
    lock, so same-driver contenders converge instead of re-racing
    (pure OCC with multi-second recompute windows has no progress
    guarantee — one writer starved past the whole budget in the
    mor_concurrent_churn rehearsal before this). Cross-process racers
    still serialize through the manifest CAS."""
    from scratchdb_spark import snapshots as snap

    import threading

    class SpyLock:
        def __init__(self):
            self._inner = threading.RLock()
            self.depth = 0

        def __enter__(self):
            self._inner.acquire()
            self.depth += 1
            return self

        def __exit__(self, *exc):
            self.depth -= 1
            self._inner.release()

    spy = SpyLock()
    monkeypatch.setattr(snap, "_dml_lock", lambda key: spy)
    calls = []

    def attempt():
        calls.append(spy.depth > 0)
        if len(calls) < 3:
            raise snap.CommitConflictError("synthetic")
        return 42

    monkeypatch.setattr(snap, "_cas_backoff", lambda a: None)
    assert (
        snap._retry_dml(attempt, lock_key="k-escalation-test") == 42
    )
    assert calls == [False, True, True]

    # budget exhaustion still surfaces the last conflict
    def always(_n=[0]):
        raise snap.CommitConflictError("storm")

    import pytest as _pytest

    with _pytest.raises(snap.CommitConflictError):
        snap._retry_dml(
            always, attempts=3, lock_key="k-escalation-test"
        )


# --- r14: rebase-on-disjoint-files logical conflict detection --------


def _race_once_with(snap, monkeypatch, racer):
    """Monkeypatch _put_manifest so the FIRST DML commit attempt (the
    one carrying 'changes') is preceded by ``racer()`` landing a
    concurrent commit — the deterministic conflict-injection shape of
    the r8 serializability test. Returns the state dict."""
    orig = snap._put_manifest
    state = {"raced": 0, "puts": 0}

    def racing_put(wh_, db_, t_, manifest, overwrite=False):
        state["puts"] += 1
        if not state["raced"] and not overwrite and "changes" in manifest:
            state["raced"] = 1
            racer()
        return orig(wh_, db_, t_, manifest, overwrite)

    monkeypatch.setattr(snap, "_put_manifest", racing_put)
    return state


def test_cow_delete_rebases_over_disjoint_append(
    spark, tmp_path, monkeypatch
):
    """r14 logical conflict detection: a COW DELETE whose manifest PUT
    loses the CAS to a concurrent append of NON-matching rows must
    REBASE onto the winner — same rewritten files re-committed against
    the winner's manifest, no second Spark recompute — instead of the
    r13 full-recompute retry. Serializability is preserved because the
    validation scan proves no winner-added row matches the predicate
    (Iceberg validateNoConflictingData, public design)."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap

    wh = Warehouse(spark, str(tmp_path / "wh"))
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(i, i % 5) for i in range(100)], "__row_id long, grp long"
        ),
    )

    state = _race_once_with(
        snap, monkeypatch,
        lambda: snap.append_versioned(
            wh, "db", "t",
            # grp=4: does NOT match the delete predicate below
            spark.createDataFrame(
                [(777, 4)], "__row_id long, grp long"
            ),
        ),
    )
    rewrites = []
    orig_rw = snap._cow_rewrite
    monkeypatch.setattr(
        snap, "_cow_rewrite",
        lambda *a, **k: rewrites.append(1) or orig_rw(*a, **k),
    )
    v, n = snap.delete_where(wh, "db", "t", F.col("grp") == 2)

    assert state["raced"] == 1
    assert n == 20  # only the 20 original grp=2 rows
    # ONE rewrite job total: the rebase re-used the first attempt's
    # files — a recompute would have rewritten a second time
    assert rewrites == [1]
    live = snap.read_snapshot(wh, "db", "t")
    assert live.count() == 81  # 100 - 20 + the winner's row
    assert live.filter(F.col("grp") == 2).count() == 0
    assert live.filter(F.col("__row_id") == 777).count() == 1
    # provenance: the landed manifest says it rebased, and onto what
    m = snap._manifest(wh, "db", "t", v)
    assert m["summary"]["rebased_from"] == 1
    assert m["summary"]["rebased_onto"] == 2
    # CDC across the delete carries exactly the 20 preimages
    ch = snap.read_changes(wh, "db", "t", 2, v)
    assert ch.filter(F.col("_change_type") == "delete").count() == 20


def test_cow_delete_recomputes_when_added_rows_match(
    spark, tmp_path, monkeypatch
):
    """The serializable complement: when the winner's appended row
    MATCHES the delete predicate, the validation scan must reject the
    rebase and the full recompute must delete that row too — the r8
    pinned semantics, now reached via an explicit validator verdict
    (and the landed manifest must carry NO rebase provenance)."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap

    wh = Warehouse(spark, str(tmp_path / "wh"))
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(i, i % 5) for i in range(100)], "__row_id long, grp long"
        ),
    )
    state = _race_once_with(
        snap, monkeypatch,
        lambda: snap.append_versioned(
            wh, "db", "t",
            spark.createDataFrame(
                [(777, 2)], "__row_id long, grp long"
            ),
        ),
    )
    v, n = snap.delete_where(wh, "db", "t", F.col("grp") == 2)
    assert state["raced"] == 1
    assert n == 21  # recompute saw the winner's matching row
    live = snap.read_snapshot(wh, "db", "t")
    assert live.count() == 80
    assert live.filter(F.col("__row_id") == 777).count() == 0
    assert "rebased_from" not in snap._manifest(
        wh, "db", "t", v
    ).get("summary", {})


def test_merge_rebase_respects_key_overlap(spark, tmp_path, monkeypatch):
    """MERGE's existence-dependence under rebase: a winner append with
    DISJOINT keys rebases (one rewrite job, winner's row intact); a
    winner append whose key OVERLAPS the merge's key set forces the
    recompute, so latest-wins replaces the winner's row instead of
    duplicating the key."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap

    def seed(name):
        wh = Warehouse(spark, str(tmp_path / name))
        snap.append_versioned(
            wh, "db", "t",
            spark.createDataFrame(
                [(i, 0) for i in range(50)], "__row_id long, val long"
            ),
        )
        return wh

    # disjoint: merge keys 10..19, winner appends key 900
    wh = seed("wh_disj")
    state = _race_once_with(
        snap, monkeypatch,
        lambda: snap.append_versioned(
            wh, "db", "t",
            spark.createDataFrame([(900, 9)], "__row_id long, val long"),
        ),
    )
    ups = spark.createDataFrame(
        [(k, 1) for k in range(10, 20)], "__row_id long, val long"
    )
    v, n_up, n_ins = snap.merge_upsert(wh, "db", "t", ups, "__row_id")
    assert state["raced"] == 1 and (n_up, n_ins) == (10, 0)
    live = snap.read_snapshot(wh, "db", "t")
    assert live.count() == 51
    assert live.filter(F.col("__row_id") == 900).count() == 1
    assert snap._manifest(wh, "db", "t", v)["summary"][
        "rebased_from"
    ] == 1

    # overlap: winner appends key 15 BEFORE the merge's commit lands —
    # recompute must replace it (exactly one row per key, merged val)
    monkeypatch.undo()
    wh2 = seed("wh_ovl")
    state2 = _race_once_with(
        snap, monkeypatch,
        lambda: snap.append_versioned(
            wh2, "db", "t",
            spark.createDataFrame([(15, 9)], "__row_id long, val long"),
        ),
    )
    v2, *_ = snap.merge_upsert(wh2, "db", "t", ups, "__row_id")
    assert state2["raced"] == 1
    live2 = snap.read_snapshot(wh2, "db", "t")
    k15 = live2.filter(F.col("__row_id") == 15).collect()
    assert len(k15) == 1 and k15[0]["val"] == 1  # merge latest-wins
    assert "rebased_from" not in snap._manifest(
        wh2, "db", "t", v2
    ).get("summary", {})


def test_compact_rebases_over_concurrent_append(
    spark, tmp_path, monkeypatch
):
    """Compaction racing an append — the exact shape that lost 6/7
    races in the r13 churn rehearsal — now rebases without any
    validation scan (content-preserving: winner-added rows are
    untouched either way), and the final state carries both the
    packed layout and the winner's rows."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap

    wh = Warehouse(spark, str(tmp_path / "wh"))
    for b in range(4):  # 4 small files -> compaction candidates
        snap.append_versioned(
            wh, "db", "t",
            spark.createDataFrame(
                [(b * 100 + i, b) for i in range(50)],
                "__row_id long, grp long",
            ),
        )
    state = _race_once_with(
        snap, monkeypatch,
        lambda: snap.append_versioned(
            wh, "db", "t",
            spark.createDataFrame(
                [(9999, 99)], "__row_id long, grp long"
            ),
        ),
    )
    # compaction's commit carries changes=[] ('changes' in manifest),
    # so the injected racer fires on its PUT too
    res = snap.compact_small_files(
        wh, "db", "t", small_file_bytes=10**9, target_file_bytes=10**9
    )
    assert state["raced"] == 1
    live = snap.read_snapshot(wh, "db", "t")
    assert live.count() == 201
    assert live.filter(F.col("__row_id") == 9999).count() == 1
    m = snap._manifest(wh, "db", "t", res["version"])
    assert m["summary"]["rebased_from"] == 4
    # CDC: content-preserving commit emitted nothing for the pack
    ch = snap.read_changes(wh, "db", "t", 5, res["version"])
    assert ch.count() == 0


def test_compact_recomputes_after_losing_to_maintenance(
    spark, tmp_path, monkeypatch
):
    """maintain_table replaces every live file, and its manifest must
    record them as ``removed``: a compaction that loses its CAS to
    maintenance must then recompute against the compacted layout. With
    ``removed`` empty it rebased its pack files onto that layout and
    every row landed twice (40 rows -> 80)."""
    from scratchdb_spark import snapshots as snap

    wh = Warehouse(spark, str(tmp_path / "wh"))
    for b in range(4):
        snap.append_versioned(
            wh, "db", "t",
            spark.createDataFrame(
                [(b * 10 + i, b) for i in range(10)],
                "__row_id long, grp long",
            ),
        )
    maint = []
    state = _race_once_with(
        snap, monkeypatch,
        lambda: maint.append(
            snap.maintain_table(wh, "db", "t", reclaim_grace_ms=0)
        ),
    )
    snap.compact_small_files(wh, "db", "t", auto_fold_dvs=False)
    assert state["raced"] == 1
    live = snap.read_snapshot(wh, "db", "t")
    assert live.count() == 40
    assert live.select("__row_id").distinct().count() == 40
    m_maint = maint[0]["version"]
    assert snap._manifest(wh, "db", "t", m_maint)["removed"]
    for v in snap.versions(wh, "db", "t"):
        summ = snap._manifest(wh, "db", "t", v).get("summary", {})
        assert summ.get("rebased_onto") != m_maint


def test_maintenance_reclaims_cas_loser_data_files(
    spark, tmp_path, monkeypatch
):
    """A compaction that loses its CAS to maintenance leaves its first
    attempt's pack files named by no manifest; the next maintenance
    deletes them. A plain appended file no manifest names yet stays for
    the next listing commit to adopt."""
    from scratchdb_spark import snapshots as snap

    wh = Warehouse(spark, str(tmp_path / "wh"))
    for b in range(4):
        snap.append_versioned(
            wh, "db", "t",
            spark.createDataFrame(
                [(b * 10 + i, b) for i in range(10)],
                "__row_id long, grp long",
            ),
        )
    # default grace: the losing attempt's pack files are in flight
    state = _race_once_with(
        snap, monkeypatch, lambda: snap.maintain_table(wh, "db", "t"),
    )
    snap.compact_small_files(wh, "db", "t", auto_fold_dvs=False)
    monkeypatch.undo()
    assert state["raced"] == 1
    assert any(
        n.startswith("pack-")
        for n in snap.orphan_files(wh, "db", "t")["orphaned"]
    )
    for _ in range(2):
        snap.maintain_table(wh, "db", "t", reclaim_grace_ms=0)
    assert snap.orphan_files(wh, "db", "t")["orphaned"] == []
    assert snap.read_snapshot(wh, "db", "t").count() == 40

    landed = wh.append_aligned(
        "db", "t", spark.createDataFrame([(40, 9)], "__row_id long, grp long")
    )
    snap.maintain_table(wh, "db", "t", reclaim_grace_ms=0)
    assert snap.orphan_files(wh, "db", "t")["orphaned"] == landed
    snap.commit_snapshot(wh, "db", "t")
    assert snap.read_snapshot(wh, "db", "t").count() == 41


@pytest.mark.parametrize("readds_match", [False, True])
def test_cow_delete_races_rollback(
    spark, tmp_path, monkeypatch, readds_match
):
    """A rollback records its file deltas like any commit, so a COW
    DELETE that loses its CAS to one is judged by them: it rebases
    when the files the rollback re-adds hold no matching row, and
    recomputes (deleting the re-added matches too) when they do."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap

    a = [(i, 2 if readds_match and i < 5 else 1) for i in range(10)]
    b = [(i, 2 if i < 15 else 1) for i in range(10, 20)]
    wh = Warehouse(spark, str(tmp_path / "wh"))
    for rows in (a, b):  # v1, v2
        snap.append_versioned(
            wh, "db", "t",
            spark.createDataFrame(rows, "__row_id long, grp long"),
        )
    snap.delete_where(wh, "db", "t", F.col("__row_id") < 10)  # v3
    state = _race_once_with(
        snap, monkeypatch,
        lambda: snap.rollback_table(wh, "db", "t", 2),  # v4
    )
    v, _n = snap.delete_where(wh, "db", "t", F.col("grp") == 2)
    assert state["raced"] == 1 and v == 5
    summ = snap._manifest(wh, "db", "t", v).get("summary", {})
    if readds_match:
        assert "rebased_from" not in summ
    else:
        assert (summ["rebased_from"], summ["rebased_onto"]) == (3, 4)
    assert _rows(snap.read_snapshot(wh, "db", "t"), ["__row_id", "grp"]) == [
        r for r in a + b if r[1] != 2
    ]
    ch = snap.read_changes(wh, "db", "t", 4, v)
    assert _rows(ch, ["_change_type", "__row_id", "grp"]) == [
        ("delete", *r) for r in a + b if r[1] == 2
    ]


def test_rebase_carries_winner_txn_watermark(spark, tmp_path, monkeypatch):
    """A rebase must take txns from the WINNER's manifest: when the
    intervening commit is an exactly-once txn append, the rebased DML
    carries the advanced per-app watermark forward — a replay of the
    same (app, version) after the rebase stays zero-write."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap

    wh = Warehouse(spark, str(tmp_path / "wh"))
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(i, i % 5) for i in range(100)], "__row_id long, grp long"
        ),
    )
    state = _race_once_with(
        snap, monkeypatch,
        lambda: snap.append_versioned(
            wh, "db", "t",
            spark.createDataFrame(
                [(777, 4)], "__row_id long, grp long"
            ),
            txn=("appA", 7),
        ),
    )
    v, n = snap.delete_where(wh, "db", "t", F.col("grp") == 2)
    assert state["raced"] == 1 and n == 20
    m = snap._manifest(wh, "db", "t", v)
    assert m["summary"]["rebased_from"] == 1
    assert m["txns"] == {"appA": 7}  # winner's watermark, not prev's
    # exact replay after the rebase: zero-write, version unchanged
    monkeypatch.undo()
    v_replay = snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame([(777, 4)], "__row_id long, grp long"),
        txn=("appA", 7),
    )
    assert v_replay == v
    assert snap.read_snapshot(wh, "db", "t").filter(
        F.col("__row_id") == 777
    ).count() == 1


def test_mor_update_rebases_over_disjoint_mor_update(
    spark, tmp_path, monkeypatch
):
    """r15 DV-aware rebase (the r14 verdict's carried-weak item): a
    MoR UPDATE losing the CAS to a concurrent MoR UPDATE on DISJOINT
    rows must REBASE — its dv delta re-assembled onto the winner's
    grown vector set, row-level disjointness proven by one semi-join
    of the two sidecars — instead of the r14 full recompute (the old
    dv-equality precondition refused every MoR-vs-MoR conflict)."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap

    wh = Warehouse(spark, str(tmp_path / "wh"))
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(i, i % 5, i) for i in range(100)],
            "__row_id long, grp long, val long",
        ),
    )
    state = _race_once_with(
        snap, monkeypatch,
        lambda: snap.update_where_mor(
            wh, "db", "t", F.col("grp") == 4,
            {"val": F.col("val") + 1000},
        ),
    )
    rewrites = []
    orig_rw = snap._cow_rewrite
    monkeypatch.setattr(
        snap, "_cow_rewrite",
        lambda *a, **k: rewrites.append(1) or orig_rw(*a, **k),
    )
    v, n = snap.update_where_mor(
        wh, "db", "t", F.col("grp") == 2, {"val": F.col("val") + 100}
    )
    assert state["raced"] == 1
    assert n == 20
    # TWO rewrites total — the loser's first attempt + the winner's
    # own (the racer runs inside the loser's first PUT, after the
    # patch): the rebase re-used the loser's files; a recompute would
    # have made it three
    assert rewrites == [1, 1]
    m = snap._manifest(wh, "db", "t", v)
    assert m["summary"]["rebased_from"] == 1
    assert m["summary"]["rebased_onto"] == 2
    # dv state = winner's entries + ours, rows summed, coverage union
    assert m["dv_rows"] == 40
    winner_m = snap._manifest(wh, "db", "t", 2)
    assert set(winner_m["dvs"]) < set(m["dvs"])
    assert set(winner_m.get("dv_files", [])) <= set(m["dv_files"])
    # payload: BOTH updates visible, nothing else changed
    live = snap.read_snapshot(wh, "db", "t")
    assert live.count() == 100
    assert (
        live.filter(F.col("grp") == 2)
        .filter(F.col("val") != F.col("__row_id") + 100).count() == 0
    )
    assert (
        live.filter(F.col("grp") == 4)
        .filter(F.col("val") != F.col("__row_id") + 1000).count() == 0
    )
    assert (
        live.filter(~F.col("grp").isin(2, 4))
        .filter(F.col("val") != F.col("__row_id")).count() == 0
    )
    # CDC at the rebased commit: exactly our 20 pre+post pairs
    ch = snap.read_changes(wh, "db", "t", 2, v)
    assert ch.count() == 40
    assert ch.filter(F.col("_change_type") == "delete").count() == 20


def test_mor_update_recomputes_when_same_row_raced(
    spark, tmp_path, monkeypatch
):
    """The serializable complement: when the concurrent MoR UPDATE
    touched an OVERLAPPING row set, the dv sidecar semi-join finds the
    intersection, the rebase refuses, and the loser's recompute
    applies to the winner's POSTIMAGE — last-writer-wins per row,
    exactly as if the ops ran sequentially. No rebase provenance."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap

    wh = Warehouse(spark, str(tmp_path / "wh"))
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(i, i % 5, i) for i in range(100)],
            "__row_id long, grp long, val long",
        ),
    )
    state = _race_once_with(
        snap, monkeypatch,
        # winner: rows 0..49 get +1000 — overlaps grp==2 (10, 15, ...)
        lambda: snap.update_where_mor(
            wh, "db", "t", F.col("__row_id") < 50,
            {"val": F.col("val") + 1000},
        ),
    )
    v, n = snap.update_where_mor(
        wh, "db", "t", F.col("grp") == 2, {"val": F.col("val") + 100}
    )
    assert state["raced"] == 1
    assert n == 20
    assert "rebased_from" not in snap._manifest(
        wh, "db", "t", v
    ).get("summary", {})
    live = snap.read_snapshot(wh, "db", "t")
    assert live.count() == 100
    # grp==2 rows under 50 saw BOTH updates (serialized after winner)
    assert (
        live.filter((F.col("grp") == 2) & (F.col("__row_id") < 50))
        .filter(F.col("val") != F.col("__row_id") + 1100).count() == 0
    )
    assert (
        live.filter((F.col("grp") == 2) & (F.col("__row_id") >= 50))
        .filter(F.col("val") != F.col("__row_id") + 100).count() == 0
    )


def _mor_seed(spark, tmp_path):
    from scratchdb_spark import snapshots as snap

    wh = Warehouse(spark, str(tmp_path / "wh"))
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(i, i % 5, i) for i in range(100)],
            "__row_id long, grp long, val long",
        ),
    )
    return wh


def _count_dv_writes(snap, monkeypatch):
    calls = []
    orig = snap._write_dv
    monkeypatch.setattr(
        snap, "_write_dv",
        lambda *a, **k: calls.append(1) or orig(*a, **k),
    )
    return calls


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_mor_delete_rebases_over_disjoint_mor_delete(
    spark, tmp_path, monkeypatch
):
    """A MoR DELETE that loses the CAS to a concurrent MoR DELETE of
    disjoint rows rebases like a MoR UPDATE does: its tombstones are
    re-assembled onto the winner's grown vector set, with no second
    tombstone write, and the landed state holds both deletes."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap

    wh = _mor_seed(spark, tmp_path)
    state = _race_once_with(
        snap, monkeypatch,
        lambda: snap.delete_where_mor(wh, "db", "t", F.col("grp") == 4),
    )
    dv_writes = _count_dv_writes(snap, monkeypatch)
    v, n = snap.delete_where_mor(wh, "db", "t", F.col("grp") == 2)
    assert state["raced"] == 1 and n == 20
    # the loser's first attempt + the winner's; a recompute makes 3
    assert dv_writes == [1, 1]
    m = snap._manifest(wh, "db", "t", v)
    assert m["summary"]["rebased_from"] == 1
    assert m["summary"]["rebased_onto"] == 2
    assert m["dv_rows"] == 40
    live = snap.read_snapshot(wh, "db", "t")
    assert _rows(live, ["__row_id", "grp", "val"]) == [
        (i, i % 5, i) for i in range(100) if i % 5 not in (2, 4)
    ]
    ch = snap.read_changes(wh, "db", "t", 2, v)
    assert _rows(ch, ["_change_type", "__row_id", "val"]) == [
        ("delete", i, i) for i in range(2, 100, 5)
    ]


def test_mor_merge_rebases_over_disjoint_mor_update(
    spark, tmp_path, monkeypatch
):
    """A MoR MERGE that loses the CAS to a concurrent MoR UPDATE of
    rows it does not match rebases: the winner's postimage files hold
    none of the merge's keys and the two tombstone sets are disjoint,
    so the first attempt's files re-commit onto the winner."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap

    wh = _mor_seed(spark, tmp_path)
    state = _race_once_with(
        snap, monkeypatch,
        lambda: snap.update_where_mor(
            wh, "db", "t", F.col("__row_id") >= 50,
            {"val": F.col("val") + 1000},
        ),
    )
    dv_writes = _count_dv_writes(snap, monkeypatch)
    ups = spark.createDataFrame(
        [(k, 7, -k) for k in list(range(10, 20)) + list(range(500, 505))],
        "__row_id long, grp long, val long",
    )
    v, n_up, n_ins = snap.merge_upsert_mor(wh, "db", "t", ups, "__row_id")
    assert state["raced"] == 1 and (n_up, n_ins) == (10, 5)
    assert dv_writes == [1, 1]
    m = snap._manifest(wh, "db", "t", v)
    assert m["summary"]["rebased_from"] == 1
    assert m["summary"]["rebased_onto"] == 2
    assert m["dv_rows"] == 60
    want = sorted(
        [(i, i % 5, i) for i in range(10)]
        + [(k, 7, -k) for k in list(range(10, 20)) + list(range(500, 505))]
        + [(i, i % 5, i) for i in range(20, 50)]
        + [(i, i % 5, i + 1000) for i in range(50, 100)]
    )
    live = snap.read_snapshot(wh, "db", "t")
    assert _rows(live, ["__row_id", "grp", "val"]) == want


def test_mor_merge_recomputes_when_same_row_raced(
    spark, tmp_path, monkeypatch
):
    """The serializable complement: the concurrent MoR UPDATE touched
    rows the merge also matches, so the rebase refuses and the merge
    recomputes against the winner's postimage — latest-wins per key,
    and no rebase provenance on the landed manifest."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap

    wh = _mor_seed(spark, tmp_path)
    state = _race_once_with(
        snap, monkeypatch,
        lambda: snap.update_where_mor(
            wh, "db", "t", F.col("__row_id") < 50,
            {"val": F.col("val") + 1000},
        ),
    )
    ups = spark.createDataFrame(
        [(k, 7, -k) for k in list(range(10, 20)) + list(range(500, 505))],
        "__row_id long, grp long, val long",
    )
    v, n_up, n_ins = snap.merge_upsert_mor(wh, "db", "t", ups, "__row_id")
    assert state["raced"] == 1 and (n_up, n_ins) == (10, 5)
    assert "rebased_from" not in snap._manifest(
        wh, "db", "t", v
    ).get("summary", {})
    want = sorted(
        [(i, i % 5, i + 1000) for i in range(10)]
        + [(k, 7, -k) for k in list(range(10, 20)) + list(range(500, 505))]
        + [(i, i % 5, i + 1000) for i in range(20, 50)]
        + [(i, i % 5, i) for i in range(50, 100)]
    )
    live = snap.read_snapshot(wh, "db", "t")
    assert _rows(live, ["__row_id", "grp", "val"]) == want


def test_mor_concurrent_churn_converges(spark, tmp_path):
    """Three writer threads, each on its own key range, run MoR
    updates, merges and deletes plus plain appends, while a fourth
    thread compacts with auto_fold_dvs. Every op lands inside the
    retry budget; the final table equals each thread's sequential
    replay; the net read_changes feed equals the snapshot diff; the
    manifest's dv_rows equals the tombstones on disk; and applying
    the vectors afterwards keeps the visible rows and clears them."""
    import threading

    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap

    n_threads, span, cycles = 3, 100, 2
    cols = ["__row_id", "grp", "payload"]
    schema = "__row_id long, grp long, payload string"
    wh = Warehouse(spark, str(tmp_path / "wh"))
    base_rows = [
        (i, i % 7, f"b{i}") for i in range(n_threads * span)
    ]
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            spark.sparkContext.parallelize(base_rows, 12), schema
        ),
    )
    v0 = snap.versions(wh, "db", "t")[-1]

    def ops(t):
        """Thread t's ops, in order, as (kind, arg) pairs."""
        lo = t * span
        out = []
        for i in range(cycles):
            fresh = [
                (10_000 + t * 1000 + i * 10 + j, 1, f"a{t}_{i}")
                for j in range(5)
            ]
            upd = (lo + i * 10, lo + i * 10 + 10, f"u{t}_{i}")
            mrg = [
                (k, 2, f"m{t}_{i}")
                for k in range(lo + 40 + i * 5, lo + 45 + i * 5)
            ] + [
                (20_000 + t * 1000 + i * 10 + j, 3, f"n{t}_{i}")
                for j in range(3)
            ]
            # a key range plus two of this cycle's appended rows
            dele = (
                lo + 60 + i * 5, lo + 65 + i * 5, fresh[0][0], fresh[1][0]
            )
            out += [
                ("append", fresh),
                ("update", upd),
                ("merge", mrg),
                ("delete", dele),
            ]
        return out

    errors: list = []
    done = threading.Event()

    def writer(t):
        for kind, arg in ops(t):
            try:
                if kind == "append":
                    snap.append_versioned(
                        wh, "db", "t", spark.createDataFrame(arg, schema)
                    )
                elif kind == "update":
                    a, b, p = arg
                    snap.update_where_mor(
                        wh, "db", "t",
                        f"__row_id >= {a} AND __row_id < {b}",
                        {"payload": F.lit(p)},
                    )
                elif kind == "merge":
                    snap.merge_upsert_mor(
                        wh, "db", "t",
                        spark.createDataFrame(arg, schema), "__row_id",
                    )
                else:
                    a, b, x, y = arg
                    snap.delete_where_mor(
                        wh, "db", "t",
                        f"(__row_id >= {a} AND __row_id < {b}) "
                        f"OR __row_id IN ({x}, {y})",
                    )
            except Exception as e:  # noqa: BLE001
                errors.append(f"t{t} {kind}: {type(e).__name__}: {e}")

    def compactor():
        while not done.wait(1.5):
            try:
                snap.compact_small_files(
                    wh, "db", "t",
                    small_file_bytes=1024 * 1024 * 1024,
                    auto_fold_dvs=True,
                )
            except snap.CommitConflictError:
                pass  # a cadence job: a lost CAS re-runs next tick
            except Exception as e:  # noqa: BLE001
                errors.append(f"compact: {type(e).__name__}: {e}")

    threads = [
        threading.Thread(target=writer, args=(t,))
        for t in range(n_threads)
    ]
    comp = threading.Thread(target=compactor)
    comp.start()
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=600)
    done.set()
    comp.join(timeout=600)
    assert not any(th.is_alive() for th in [*threads, comp])
    assert errors == []

    # sequential replay per thread: ranges never cross threads, and
    # compaction never changes rows, so interleaving must not matter
    want = {r[0]: r for r in base_rows}
    for t in range(n_threads):
        for kind, arg in ops(t):
            if kind in ("append", "merge"):
                want.update({r[0]: r for r in arg})
            elif kind == "update":
                a, b, p = arg
                for k in range(a, b):
                    if k in want:
                        want[k] = (k, want[k][1], p)
            else:
                a, b, x, y = arg
                for k in [*range(a, b), x, y]:
                    want.pop(k, None)
    cur = snap.read_snapshot(wh, "db", "t")
    assert _rows(cur, cols) == sorted(want.values())

    # net CDC across the whole concurrent span == the snapshot diff
    old = snap.read_snapshot(wh, "db", "t", version=v0)
    ch = snap.read_changes(wh, "db", "t", v0)
    for ct, a, b in (("insert", cur, old), ("delete", old, cur)):
        assert _rows(
            ch.filter(F.col("_change_type") == ct), cols
        ) == _rows(a.select(cols).exceptAll(b.select(cols)), cols)

    # vector bookkeeping matches the tombstones on disk
    m = snap._manifest(wh, "db", "t", snap.versions(wh, "db", "t")[-1])
    dvf = snap._dv_frame(wh, "db", "t", m.get("dvs", []))
    assert m.get("dv_rows", 0) == (dvf.count() if dvf is not None else 0)

    before = _rows(cur, cols)
    v_apply, _nf = snap.apply_deletion_vectors(wh, "db", "t")
    assert _rows(snap.read_snapshot(wh, "db", "t"), cols) == before
    assert not snap._manifest(wh, "db", "t", v_apply).get("dvs")


def test_dml_locks_self_evict(spark, tmp_path):
    """r14 advisory: the per-table commit-gate registry must not
    retain entries for the lifetime of the driver — after every DML
    completes, _DML_LOCKS is empty (entries exist only while held or
    waited on), so short-lived temp warehouses leak nothing."""
    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap

    wh = Warehouse(spark, str(tmp_path / "wh"))
    snap.append_versioned(
        wh, "db", "t",
        spark.createDataFrame(
            [(i, i % 3) for i in range(30)], "__row_id long, grp long"
        ),
    )
    snap.delete_where(wh, "db", "t", F.col("grp") == 1)
    snap.merge_upsert(
        wh, "db", "t",
        spark.createDataFrame([(2, 9)], "__row_id long, grp long"),
        "__row_id",
    )
    assert snap._DML_LOCKS == {}


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver(script, args, cwd, stderr=subprocess.PIPE):
    """A second Spark driver: ``python -c script REPO *args`` run from
    ``cwd`` with one core, a 1 GB heap and no PYTHONPATH, so the
    package reaches its Python workers only through the session."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g")
    return subprocess.Popen(
        [sys.executable, "-c", script, REPO, *args],
        stdout=subprocess.PIPE,
        stderr=stderr,
        text=True,
        cwd=str(cwd),
        env=env,
    )


_WORKER_IMPORT_PROBE = r"""
import sys
sys.path.insert(0, sys.argv[1])
from scratchdb_spark.session import get_spark


def rows(batches):
    import scratchdb_spark  # noqa: F401  (runs in the Python worker)
    yield from batches


spark = get_spark("worker-import")
spark.sparkContext.setLogLevel("OFF")
print("ROWS", spark.range(3).mapInPandas(rows, "id long").count())
"""


def test_workers_import_package_from_foreign_cwd(tmp_path):
    """A driver started outside the checkout, with the package only
    on its own sys.path, runs a mapInPandas kernel that imports the
    package: get_spark hands the package's parent directory to the
    Python workers (spark.executorEnv.PYTHONPATH)."""
    proc = _driver(_WORKER_IMPORT_PROBE, [], tmp_path)
    try:
        out, err = proc.communicate(timeout=300)
    finally:
        proc.kill()
    assert "ROWS 3" in out.splitlines(), err[-3000:]


_XPROC_WRITER = r"""
import json, os, sys, time
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F
from scratchdb_spark import snapshots as snap
from scratchdb_spark.session import get_spark
from scratchdb_spark.tables import Warehouse

root, go, lo = sys.argv[2], sys.argv[3], int(sys.argv[4])
spark = get_spark("xproc-writer")
spark.sparkContext.setLogLevel("OFF")
wh = Warehouse(spark, root)


def wait_for(phase):
    print("READY " + phase, flush=True)
    while not os.path.exists(os.path.join(go, phase)):
        time.sleep(0.01)


wait_for("txn")
batch = spark.range(1000).select(
    (F.col("id") + 10_000).alias("__row_id"),
    (F.col("id") % 97).alias("amount"),
)
try:
    snap.append_versioned(wh, "db", "txn", batch, txn=("stream-app", 1))
    print("TXN returned", flush=True)
except snap.ConcurrentTxnError:
    print("TXN concurrent_txn_error", flush=True)

wait_for("dml")
counts = []
for c in range(2):
    w0 = lo + c * 1000
    _v, n = snap.update_where_mor(
        wh, "db", "mor",
        (F.col("__row_id") >= w0) & (F.col("__row_id") < w0 + 1000),
        {"amount": F.col("amount") + 1},
    )
    counts.append(n)
print("DML " + json.dumps(counts), flush=True)
"""


def test_cross_process_writers_converge(spark, tmp_path):
    """Two separate driver processes write one warehouse, where no
    in-process lock applies and only the manifest CAS orders them.
    (a) Both replay the same (app_id, version) txn append: its rows
    land exactly once and the watermark is that version. (b) Each runs
    two MoR updates on its own key range of a 10k-row table: every op
    reports its rows and the final table equals the commuted
    expectation. How many commits rebased depends on timing and is
    only reported."""
    import queue
    import threading
    import time

    from pyspark.sql import functions as F

    from scratchdb_spark import snapshots as snap

    root, go = tmp_path / "wh", tmp_path / "go"
    go.mkdir()
    procs, logs, lines = [], [], [queue.Queue(), queue.Queue()]
    deadline = time.monotonic() + 300

    def pump(p, q):
        for line in p.stdout:
            q.put(line.strip())
        q.put(None)

    def both(prefix):
        """The rest of each writer's next line that starts with
        ``prefix``; other lines are skipped."""
        got = []
        for i, q in enumerate(lines):
            line = ""
            while not line.startswith(prefix):
                try:
                    line = q.get(
                        timeout=max(0.1, deadline - time.monotonic())
                    )
                except queue.Empty:
                    pytest.fail(f"no {prefix!r} from writer {i} in time")
                if line is None:
                    tail = (tmp_path / f"writer{i}.log").read_text()
                    pytest.fail(
                        f"writer {i} exited before {prefix!r}:\n"
                        + tail[-3000:]
                    )
            got.append(line[len(prefix):].strip())
        return got

    def run(phase, prefix):
        both("READY " + phase)
        (go / phase).touch()
        return both(prefix)

    try:
        for i, lo in enumerate((0, 5000)):
            logs.append(open(tmp_path / f"writer{i}.log", "w"))
            procs.append(_driver(
                _XPROC_WRITER, [str(root), str(go), str(lo)], tmp_path,
                stderr=logs[i],
            ))
            threading.Thread(
                target=pump, args=(procs[i], lines[i]), daemon=True
            ).start()
        wh = Warehouse(spark, str(root))
        snap.append_versioned(
            wh, "db", "txn",
            spark.createDataFrame([(0, 0)], "__row_id long, amount long"),
        )
        base = spark.range(0, 10_000, 1, 4).select(
            F.col("id").alias("__row_id"), (F.col("id") % 97).alias("amount")
        )
        snap.append_versioned(wh, "db", "mor", base)
        v0 = snap.versions(wh, "db", "mor")[-1]

        outcomes = run("txn", "TXN")
        assert set(outcomes) <= {"returned", "concurrent_txn_error"}
        window = snap.read_snapshot(wh, "db", "txn").filter(
            F.col("__row_id").between(10_000, 10_999)
        )
        assert window.count() == 1000
        assert window.select("__row_id").distinct().count() == 1000
        m = snap._manifest(
            wh, "db", "txn", snap.versions(wh, "db", "txn")[-1]
        )
        assert m["txns"] == {"stream-app": 1}

        counts = run("dml", "DML")
        assert [json.loads(c) for c in counts] == [[1000, 1000]] * 2
        touched = (F.col("__row_id") < 2000) | F.col("__row_id").between(
            5000, 6999
        )
        expected = base.withColumn(
            "amount", F.col("amount") + F.when(touched, 1).otherwise(0)
        )
        final = snap.read_snapshot(wh, "db", "mor").select(
            "__row_id", "amount"
        )
        assert final.count() == 10_000
        assert final.exceptAll(expected).limit(1).count() == 0
        assert expected.exceptAll(final).limit(1).count() == 0
        commits = [
            snap._manifest(wh, "db", "mor", v)
            for v in snap.versions(wh, "db", "mor") if v > v0
        ]
        rebased = sum(
            (c.get("summary") or {}).get("rebased_onto") is not None
            for c in commits
        )
        print(f"cross-process MoR: {rebased} of {len(commits)} commits "
              "rebased")
    finally:
        for p in procs:
            p.kill()
            p.wait()
        for f in logs:
            f.close()
