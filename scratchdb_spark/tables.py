"""Table catalog utilities.

Two concerns:

1. Test-data loading: register the driver's parquet tables
   (``/root/testdata/sf*/<name>.parquet``) as temp views so queries can
   reference them by name. Scans stay lazy — Catalyst pushes filters and
   prunes columns into the parquet reader.

2. Managed-table lifecycle for the ingest path — the reference's
   auto-DDL (N4 create / N5 evolve / N6 aligned append;
   destinations/duckdb/insert.go:12-110): Parquet tables under a
   warehouse dir, one database per destination ID, schema that only
   grows, first-batch-wins column types.
"""

from __future__ import annotations

import json
import os
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import fs as hfs

TESTDATA_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def register_testdata(
    spark: SparkSession,
    sf_dir: str,
    tables: Iterable[str] = TESTDATA_TABLES,
) -> None:
    """Register each parquet table in ``sf_dir`` as a temp view."""
    for name in tables:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            table(spark, sf_dir, name).createOrReplaceTempView(name)


#: the SQL confs Spark 4.1's ParquetToSparkSchemaConverter reads, plus
#: the one its variant conversion reads: a file's inferred schema is a
#: function of its footer and these values
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.caseSensitive",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.fieldId.read.enabled",
    "spark.sql.parquet.ignoreVariantAnnotation",
    "spark.sql.parquet.reader.respectUnknownTypeAnnotation.enabled",
    "spark.sql.variant.allowReadingShredded",
)

#: (path, st_size, st_mtime_ns, *conf values) -> (the schema Spark
#: inferred, the TIMESTAMP(NANOS) column names). Inference runs a Spark
#: job on every ``spark.read.parquet``; reading with the cached schema
#: runs none. The StructType is cached, never a DataFrame: each table()
#: call needs fresh attribute ids, or a self-join would not resolve.
_SCHEMA_CACHE: dict[tuple, tuple[T.StructType, tuple[str, ...]]] = {}


def _nanos_timestamp_cols(path: str) -> tuple[str, ...]:
    """Parquet TIMESTAMP(NANOS) columns — Spark cannot read these as
    timestamps (PARQUET_TYPE_ILLEGAL); detected from the footer."""
    import pyarrow.parquet as pq

    return tuple(
        f.name for f in pq.read_schema(path) if str(f.type) == "timestamp[ns]"
    )


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Lazy DataFrame over one test-data parquet table.

    Handles nanosecond-precision parquet timestamps (e.g. events.ts):
    read as epoch-nanos long (``nanosAsLong`` is set at session build,
    session.py), then convert with integer division (``div`` keeps
    int64 precision; a double round-trip would corrupt epoch-nanos
    above 2^53).

    The schema is inferred once per file and session conf
    (``_SCHEMA_CACHE``); a file rewritten in place changes its size or
    mtime and is inferred again.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    file_id = (path, st.st_size, st.st_mtime_ns)

    def key() -> tuple:
        return file_id + tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)

    hit = _SCHEMA_CACHE.get(key())
    if hit is not None:
        schema, ns_cols = hit
        df = spark.read.schema(schema).parquet(path)
    else:
        ns_cols = _nanos_timestamp_cols(path)
        if ns_cols and (
            spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") != "true"
        ):
            # a session built outside session.py: set the conf once,
            # guarded so the shared-engine path never re-mutates
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        # entries of an earlier version of the file
        stale = [k for k in _SCHEMA_CACHE if k[0] == path and k[:3] != file_id]
        for k in stale:
            _SCHEMA_CACHE.pop(k, None)
        _SCHEMA_CACHE[key()] = (df.schema, ns_cols)
    for c in ns_cols:
        df = df.withColumn(c, F.expr(f"timestamp_micros(`{c}` div 1000)"))
    return df


def epoch_us(df: DataFrame, col: str) -> F.Column:
    """Integer epoch microseconds for a timestamp column, NTZ-safe.

    Spark 4 infers tz-less parquet timestamps as TIMESTAMP_NTZ (conf
    ``spark.sql.parquet.inferTimestampNTZ.enabled`` defaults true) and
    ``unix_micros`` rejects NTZ input. For NTZ we take the wall-clock
    difference from the NTZ epoch — timezone-independent, and equal to
    DuckDB's ``epoch_us`` over the same naive value, so oracle hashes
    match regardless of the host session timezone. For TIMESTAMP (LTZ)
    the plain ``unix_micros`` is already the same instant-based number.
    """
    dt = df.schema[col].dataType
    if isinstance(dt, T.TimestampNTZType):
        return F.expr(
            "timestampdiff(MICROSECOND, "
            f"TIMESTAMP_NTZ '1970-01-01 00:00:00', `{col}`)"
        )
    return F.unix_micros(F.col(col))


# ---------------------------------------------------------------------------
# Managed tables (ingest destination), reference parity:
#   CREATE TABLE IF NOT EXISTS t (__row_id BIGINT)   duckdb/insert.go:72-76
#   ALTER TABLE ADD COLUMN IF NOT EXISTS             duckdb/insert.go:12-26
#   INSERT ... BY NAME (missing cols -> NULL)        duckdb/insert.go:56-70
# ---------------------------------------------------------------------------

#: ingest type tag -> Spark type (SURVEY.md §1.2 lattice)
_TAG_TO_SPARK: dict[str, T.DataType] = {
    "string": T.StringType(),
    "int": T.LongType(),
    "float": T.DoubleType(),
    "bool": T.BooleanType(),
    "null": T.StringType(),  # all-null column defaults to string
    "undefined": T.StringType(),
}


def spark_type_for_tag(tag: str) -> T.DataType:
    return _TAG_TO_SPARK.get(tag, T.StringType())


class Warehouse:
    """Parquet-backed managed tables, one subdir per (database, table).

    Spark-first notes: tables are plain parquet directories; appends are
    new parquet files (the reference's append-only model — no UPDATE or
    DELETE exists in ScratchDB). The authoritative schema lives in a
    ``_schema.json`` sidecar per table (leading underscore = invisible
    to Spark's file listing), updated only when the schema evolves, so
    neither reads nor appends ever union parquet footers — at millions
    of files a per-append ``mergeSchema`` scan would make ingest
    metadata-bound. All path operations go through the Hadoop
    FileSystem API (:mod:`scratchdb_spark.fs`), so ``root`` may be a
    local dir in tests or ``s3a://...`` on a cluster.
    """

    SCHEMA_SIDECAR = "_schema.json"

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = str(root).rstrip("/")
        hfs.mkdirs(spark, self.root)

    def _path(self, database: str, table: str) -> str:
        return f"{self.root}/{database}/{table}"

    def _sidecar(self, database: str, table: str) -> str:
        return f"{self._path(database, table)}/{self.SCHEMA_SIDECAR}"

    def exists(self, database: str, table: str) -> bool:
        p = self._path(database, table)
        if not hfs.is_dir(self.spark, p):
            return False
        names = hfs.list_names(self.spark, p)
        return self.SCHEMA_SIDECAR in names or any(
            n.endswith(".parquet") for n in names
        )

    def create_empty_table(self, database: str, table: str) -> None:
        """N4: auto-create with the single ``__row_id BIGINT`` column.

        Concurrency-hardened (r9, caught by the concurrent-writer txn
        rehearsal): two first-batch writers racing here both ran the
        mode("overwrite") write and one died on the other's temporary
        files. The overwrite is now retried once behind a re-check —
        whichever racer wins, the table exists with the identical
        one-column schema (the operation is idempotent by content),
        so the loser proceeding is correct."""
        if self.exists(database, table):
            return
        schema = T.StructType([T.StructField("__row_id", T.LongType())])
        # mkdirs + atomic sidecar PUT — deliberately NOT a
        # mode("overwrite") empty-frame write: overwrite TRUNCATES the
        # directory, so a racer still inside create could delete a
        # faster writer's already-appended batch files (data loss the
        # txn rehearsal's thread race exposed). mkdirs is idempotent;
        # the sidecar rename is atomic and both racers write identical
        # bytes. Readers use the sidecar schema, so an empty dir reads
        # as an empty one-column table exactly like the old empty
        # parquet write did.
        hfs.mkdirs(self.spark, self._path(database, table))
        # create-IF-ABSENT: a racing creator losing the rename is
        # fine — the winner wrote the identical one-column schema
        hfs.create_text(
            self.spark, self._sidecar(database, table), schema.json()
        )

    def _write_schema(
        self, database: str, table: str, schema: T.StructType
    ) -> None:
        hfs.write_text(
            self.spark, self._sidecar(database, table), schema.json()
        )

    def schema(self, database: str, table: str) -> T.StructType:
        """Authoritative schema: one small sidecar read, never a footer
        union. Tables created before the sidecar existed migrate on
        first touch via a one-time mergeSchema read."""
        side = self._sidecar(database, table)
        if hfs.exists(self.spark, side):
            return T.StructType.fromJson(
                json.loads(hfs.read_text(self.spark, side))
            )
        schema = (
            self.spark.read.option("mergeSchema", "true")
            .parquet(self._path(database, table))
            .schema
        )
        self._write_schema(database, table, schema)
        return schema

    def read(
        self, database: str, table: str, spark: SparkSession | None = None
    ) -> DataFrame:
        """The table as a DataFrame of ``spark`` (default: the
        warehouse's session); the API reads through a request's own
        session so the view it registers stays in that session."""
        # explicit sidecar schema: no footer reads at plan time, and
        # files written before a column existed project it as NULL
        # (same contract mergeSchema gave, without the per-file scan)
        return (spark or self.spark).read.schema(
            self.schema(database, table)
        ).parquet(self._path(database, table))

    def tables(self, database: str) -> list[str]:
        """N11 tables catalog."""
        return sorted(
            hfs.list_names(
                self.spark, f"{self.root}/{database}", dirs_only=True
            )
        )

    def columns(self, database: str, table: str) -> list[tuple[str, str]]:
        """N12 columns catalog: (name, spark sql type) pairs."""
        return [
            (f.name, f.dataType.simpleString())
            for f in self.schema(database, table).fields
        ]

    def append_aligned(
        self,
        database: str,
        table: str,
        batch: DataFrame,
        file_prefix: str = "b",
    ) -> list[str]:
        """N5+N6: evolve schema (add new columns) then append by name.

        First-batch-wins typing: a column already in the table keeps its
        type; incoming values are cast best-effort (``try_cast``
        semantics — non-coercible becomes NULL), matching our documented
        divergence from per-backend coercion (SURVEY.md §1.3). Columns
        in the table but absent from the batch become NULL; brand-new
        columns are added with the batch's inferred type.
        """
        self.create_empty_table(database, table)
        existing = self.schema(database, table)
        existing_names = {f.name for f in existing.fields}
        batch_fields = {f.name: f for f in batch.schema.fields}

        cols = []
        # existing columns keep their table type (first wins)
        for f in existing.fields:
            if f.name in batch_fields:
                cols.append(
                    F.col(f.name).try_cast(f.dataType).alias(f.name)
                )
            else:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
        # new columns append with batch type (schema grows monotonically)
        for name, f in batch_fields.items():
            if name not in existing_names:
                cols.append(F.col(name).alias(name))

        aligned = batch.select(*cols)
        # sort-on-write by __row_id: parquet min/max stats then prune
        # row-groups for id-range scans — the Spark analogue of the
        # reference's MergeTree PRIMARY KEY(__row_id)
        # (clickhouse/destination.go:16-17)
        if "__row_id" in aligned.columns:
            aligned = aligned.sortWithinPartitions("__row_id")
        if len(aligned.schema.fields) > len(existing.fields):
            # schema grew: persist the evolved sidecar BEFORE the data
            # append. Sidecar-first is crash-safe in both orders of
            # failure: old files already project the new columns as
            # NULL, so a sidecar with no matching data yet reads fine —
            # whereas data-first would leave the new columns permanently
            # invisible (the explicit sidecar schema projects them away)
            # if the process died between the two writes.
            self._write_schema(database, table, aligned.schema)
        # stage-then-rename instead of a direct mode("append"): two
        # concurrent appenders to one directory would otherwise race
        # on the shared FileOutputCommitter staging dir (_temporary/0
        # — one job's commit cleanup deletes the other's in-flight
        # task output). Writing each batch into its OWN dot-prefixed
        # staging dir (invisible to parquet readers) and renaming the
        # files in under unique names makes concurrent appends safe —
        # the multi-writer posture append_versioned's OCC commit
        # already promises at the manifest level, now honored at the
        # data-file level too. Cost: one rename per output file.
        import uuid as _uuid

        path = self._path(database, table)
        stage = f"{path}/.stage-{_uuid.uuid4().hex}"
        aligned.write.mode("overwrite").parquet(stage)
        try:
            # pooled renames (r10): one rename per landed file is the
            # commit path's O(files) driver metadata chain at object-
            # store latencies — overlap them (fs.rename_many)
            names = [
                (n, f"{file_prefix}{_uuid.uuid4().hex[:12]}-{n}")
                for n in hfs.list_names(self.spark, stage)
                if n.endswith(".parquet")
            ]
            hfs.rename_many(
                self.spark,
                [(f"{stage}/{n}", f"{path}/{name}") for n, name in names],
            )
            return [name for _n, name in names]
        finally:
            hfs.delete(self.spark, stage)
