"""SparkSession construction.

One shared SparkContext is the engine; the reference's per-destination
connection pool (pkg/destinations/destinations.go:85-126) maps to
per-destination warehouse prefixes under it. The service builds one
session with :func:`get_spark` and serves each query from a
:func:`child_session` of it: same SparkContext and cache, same SQL
conf, but its own temp-view namespace, so one request's views are
invisible to every other request.

Config posture is scale-first: AQE on (runtime re-plan, skew-join
splitting, partition coalescing), Arrow on (fast pandas/Pandas-UDF
interchange), shuffle partitions sized for the local test harness but
overridable via env for cluster deployments.
"""

from __future__ import annotations

import functools
import os

from pyspark import SparkContext
from pyspark.sql import SparkSession


def _install_rightsized_parallelize() -> None:
    """Cap ``sc.parallelize``'s DEFAULT slice count at the collection
    length (r15, guide §6 small-files/§1.2 per-task overhead).

    ``SparkSession.createDataFrame(list, schema)`` funnels through
    ``sc.parallelize(data)`` with numSlices=None, i.e. one slice per
    core — so every tiny literal frame (warehouse demo batches, ingest
    micro-batches, test fixtures) carries ``defaultParallelism``
    partitions, and every downstream WRITE schedules that many tasks,
    almost all empty (measured: a 2-row append's stage write job
    0.84 s at 32 slices vs 0.38 s at 2 on local[32]).

    Result-invariant by construction: for len(c) < defaultParallelism
    the stock contiguous chunking already yields exactly len(c)
    non-empty slices of one element each, so capping numSlices at
    len(c) produces the IDENTICAL non-empty slice contents (same rows,
    same order) and merely drops empty slices — which contribute
    nothing to any fold with an identity element (all sketch/bitmap
    merges here) and produce no output files. For len(c) >=
    defaultParallelism the cap is inert. Explicit numSlices callers
    and un-sized iterables are untouched. Pinned by
    tests/test_operators.py::test_parallelize_rightsized_default.
    """
    if getattr(SparkContext.parallelize, "_rightsized", False):
        return
    orig = SparkContext.parallelize

    def parallelize(self, c, numSlices=None):
        if numSlices is None:
            try:
                n = len(c)
            except TypeError:
                n = None
            if n is not None:
                numSlices = max(1, min(n, self.defaultParallelism))
        return orig(self, c, numSlices)

    parallelize._rightsized = True  # type: ignore[attr-defined]
    SparkContext.parallelize = parallelize


_install_rightsized_parallelize()

_DEFAULTS = {
    # Runtime adaptivity: coalesce small shuffle partitions, split skewed
    # ones, convert SMJ->broadcast when a side turns out small. These are
    # the knobs that make the same plan survive a 100x scale-up.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow-batched transfer for pandas UDFs / toPandas (10-100x over
    # row-at-a-time pickling).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # 10 MB is Spark's default broadcast threshold; dims like region/
    # nation/supplier stay broadcastable far beyond sf0.1, so raise it.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Local-mode shuffle sizing; a real cluster overrides via
    # SPARK_GRAFT_SHUFFLE_PARTITIONS (rule of thumb: 2-3x total cores,
    # or input_bytes / 128MB at 100TB scale -> AQE coalesces down).
    "spark.sql.shuffle.partitions": os.environ.get(
        "SPARK_GRAFT_SHUFFLE_PARTITIONS", "32"
    ),
    # Keep scan partitions aligned with file row-groups.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    # The snapshot layer always reads EXPLICIT file lists (manifest-
    # planned scans, per-batch stats jobs). Above 32 paths Spark
    # lists them with a distributed job whose default parallelism is
    # 10,000 tasks — ~2 paths per task of pure scheduling overhead on
    # an 80k-file batch (measured: 23 s of a 48 s commit was this
    # listing job; 7 s at 128). 128 tasks x ~600 paths each keeps the
    # job bounded on local AND cluster (per-path FileStatus calls are
    # the work; more tasks than executors buys nothing).
    "spark.sql.sources.parallelPartitionDiscovery.parallelism": "128",
    "spark.sql.session.timeZone": "UTC",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
    "spark.ui.enabled": "false",
    # Parquet TIMESTAMP(NANOS) columns (events.ts in the test data)
    # surface as epoch-nanos longs; tables.table() converts them.
    # Set once at build time — a read path mutating session conf would
    # race on a shared engine.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Python workers import the package (UDFs, mapInPandas kernels)
    # whatever the driver's working directory; Spark merges this path
    # with its own and with the PYTHONPATH the JVM was started with.
    "spark.executorEnv.PYTHONPATH": os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    ),
}


def get_spark(app_name: str = "scratchdb-spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the shared SparkSession.

    Master defaults to ``local[$SPARK_GRAFT_CPUS]`` (driver contract);
    on a cluster, set SPARK_GRAFT_MASTER or submit with --master.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_DEFAULTS)
    conf.update({k: str(v) for k, v in overrides.items()})
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


@functools.lru_cache(maxsize=1)
def _sql_conf_object(jvm):
    # the Scala ``object SQLConf``: its mergeNonStaticSQLConfigs is what
    # Spark itself uses to apply session options to a new session
    return getattr(getattr(jvm.org.apache.spark.sql.internal, "SQLConf$"),
                   "MODULE$")


def child_session(spark: SparkSession) -> SparkSession:
    """A new session over ``spark``'s SparkContext that carries
    ``spark``'s current SQL conf.

    ``newSession()`` alone starts from the SparkContext's conf, so a
    setting made on ``spark`` at runtime (say
    ``spark.sql.session.timeZone``) would be lost. Static confs are
    skipped: they are shared already. Temp views and UDFs are not
    carried. Costs a few milliseconds: a handful of py4j calls.
    """
    child = spark.newSession()
    _sql_conf_object(spark._jvm).mergeNonStaticSQLConfigs(
        child._jsparkSession.sessionState().conf(),
        spark._jsparkSession.sessionState().conf().getAllConfs(),
    )
    return child
