"""``tables.table()``'s schema cache: a warm reference runs no Spark job,
answers what an uncached ``spark.read.parquet`` answers, and infers
again when the file or a schema-inference conf changes."""

from __future__ import annotations

import contextlib
import os
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from scratchdb_spark import queries, tables

#: the light catalog queries of the repo benchmark (loadbench/catalog.py)
LIGHT_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q9_product_profit",
    "q18_large_volume_customers",
    "window_topk_orders_per_priority",
    "sessionize_events",
    "text_tfidf_top_terms",
    "range_join_click_purchase",
)


@contextlib.contextmanager
def _jobs(spark):
    """Collect the ids of the Spark jobs this thread runs in the block."""
    sc = spark.sparkContext
    group = f"schema-cache-{uuid.uuid4().hex}"
    ids: list[int] = []
    sc.setJobGroup(group, group)
    try:
        yield ids
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))


def _uncached(spark, sf_dir, name):
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    for c in tables._nanos_timestamp_cols(path):
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df


def _rows(df) -> list[str]:
    return sorted(map(repr, df.collect()))


def test_table_equals_uncached_read(spark, sf_dir):
    for name in tables.TESTDATA_TABLES:
        tables.table(spark, sf_dir, name)  # warm
        got = tables.table(spark, sf_dir, name)
        want = _uncached(spark, sf_dir, name)
        assert got.schema == want.schema, name
        assert _rows(got) == _rows(want), name


def test_warm_table_and_register_fire_no_jobs(spark, sf_dir):
    tables.register_testdata(spark, sf_dir)  # warm every table
    with _jobs(spark) as one:
        tables.table(spark, sf_dir, "lineitem")
    with _jobs(spark) as every:
        tables.register_testdata(spark, sf_dir)
    assert one == [] and every == []


def _write(path, columns: dict) -> None:
    pq.write_table(pa.table(columns), path)


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _write(path, {"a": pa.array([1, 2], pa.int64())})
    assert tables.table(spark, str(tmp_path), "t").columns == ["a"]
    _write(path, {"b": pa.array(["x"]), "c": pa.array([1.5])})
    df = tables.table(spark, str(tmp_path), "t")
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        ("b", T.StringType()), ("c", T.DoubleType()),
    ]
    assert df.collect() == [("x", 1.5)]


def test_infer_ntz_conf_changes_the_type(spark, tmp_path):
    import datetime as dt

    path = str(tmp_path / "ts.parquet")
    _write(path, {"ts": pa.array([dt.datetime(2024, 1, 2, 3, 4, 5)],
                                 pa.timestamp("us"))})
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    before = spark.conf.get(key)
    try:
        types = []
        for value in ("true", "false", "true"):
            spark.conf.set(key, value)
            df = tables.table(spark, str(tmp_path), "ts")
            types.append(type(df.schema["ts"].dataType))
    finally:
        spark.conf.set(key, before)
    assert types == [T.TimestampNTZType, T.TimestampType, T.TimestampNTZType]


def test_self_join_of_two_table_calls(spark, sf_dir):
    def pairs(left, right):
        return (
            left.alias("l")
            .join(right.alias("r"),
                  F.col("l.n_regionkey") == F.col("r.n_regionkey"))
            .select(F.col("l.n_nationkey").alias("a"),
                    F.col("r.n_nationkey").alias("b"))
            .collect()
        )

    tables.table(spark, sf_dir, "nation")  # warm
    got = pairs(tables.table(spark, sf_dir, "nation"),
                tables.table(spark, sf_dir, "nation"))
    want = pairs(_uncached(spark, sf_dir, "nation"),
                 _uncached(spark, sf_dir, "nation"))
    assert sorted(got) == sorted(want) and len(got) > 25


def test_light_catalog_queries_build_without_jobs(spark, sf_dir):
    """Building a light catalog query, once its tables' schemas are
    known, runs no Spark job: the work is all in its action."""
    registry = queries.registry()
    for name in LIGHT_QUERIES:
        registry[name].spark_fn(spark, sf_dir)  # warm
    fired = {}
    for name in LIGHT_QUERIES:
        with _jobs(spark) as ids:
            registry[name].spark_fn(spark, sf_dir)
        fired[name] = len(ids)
    assert fired == dict.fromkeys(LIGHT_QUERIES, 0)
