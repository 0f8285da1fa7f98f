"""Interactive query path (reference N8/N9/N10).

The reference trims the query (pkg/util/sql.go:9-13), wraps it as
``SELECT * FROM (q)`` for single-statement safety, hands it verbatim to
the backend, and streams results as a JSON array or CSV-with-header
(destinations/clickhouse/query.go:9-70, duckdb/query.go:14-113).

Here the backend is Catalyst: ``spark.sql`` of the wrapped query. The
caller picks the session, so what the query can name is what that
session holds. Serialization streams via ``toLocalIterator`` —
partition-at-a-time fetch, never a full ``collect()`` — mirroring the
reference's explicit no-full-materialization design (its fifo pipe /
linked-list readers).
"""

from __future__ import annotations

import logging
import threading
from typing import Iterator

from pyspark.errors import AnalysisException
from pyspark.logger import PySparkLogger
from pyspark.sql import DataFrame, SparkSession


def trim_query(query: str) -> str:
    """Port of util/sql.go:9-13: strip whitespace and trailing ';'."""
    return query.strip().rstrip(";").strip()


class QueryError(ValueError):
    pass


def guard_query(query: str) -> str:
    """Single-query guard: the reference's subquery wrap
    (clickhouse/query.go:11).

    Whatever is not one query fails to parse inside the parentheses:
    DDL, DML, ``INSERT OVERWRITE DIRECTORY`` behind a ``WITH``, a
    second statement. The ``)`` goes on its own line so a trailing
    ``-- comment`` cannot swallow it. A bare ``SELECT *`` keeps the
    inner query's column names and ``ORDER BY`` output order.
    """
    q = trim_query(query)
    if not q:
        raise QueryError("empty query")
    return f"SELECT * FROM (\n{q}\n)"


_analyzing = threading.local()


class _NotWhileAnalyzing(logging.Filter):
    def filter(self, record: logging.LogRecord) -> bool:
        return not getattr(_analyzing, "on", False)


# pyspark logs every captured SQL exception at ERROR, with the full JVM
# stack, through this logger; a query that fails to analyze is the
# client's error, which the caller reports. The logger is fetched the
# way pyspark fetches it: a plain ``logging.Logger`` in its place would
# raise TypeError on pyspark's ``errorClass=`` keyword.
PySparkLogger.getLogger("SQLQueryContextLogger").addFilter(
    _NotWhileAnalyzing()
)


def execute(spark: SparkSession, query: str) -> DataFrame:
    """Trim, guard, and analyze the query through Catalyst. A query
    that does not parse or analyze (unknown table or column, not a
    query) raises :class:`QueryError`; pyspark's log record of it is
    dropped."""
    _analyzing.on = True
    try:
        return spark.sql(guard_query(query))
    except AnalysisException as e:
        raise QueryError(str(e)) from e
    finally:
        _analyzing.on = False


def stream_json(df: DataFrame) -> Iterator[str]:
    """Yield chunks of a single JSON array (reference N9).

    Rows serialize JVM-side via ``to_json`` with
    ``ignoreNullFields=false`` — NULL columns must appear as ``null``
    (JSONEachRow convention); we only join with commas and brackets,
    like the reference's linked-list line reader
    (clickhouse/query.go:19-54) that exists to avoid a trailing comma.
    """
    from pyspark.sql import functions as F

    json_col = df.select(
        F.to_json(
            F.struct(*df.columns), {"ignoreNullFields": "false"}
        ).alias("j")
    )
    yield "["
    first = True
    for (line,) in json_col.toLocalIterator(prefetchPartitions=True):
        if first:
            first = False
            yield line
        else:
            yield "," + line
    yield "]"


def query_json(spark: SparkSession, query: str) -> str:
    return "".join(stream_json(execute(spark, query)))


def stream_csv(df: DataFrame) -> Iterator[str]:
    """Yield CSV lines: header + rows, NULL rendered as the literal
    ``null`` (redshift/query.go:120-125 convention)."""
    cols = df.columns
    yield ",".join(_csv_cell(c) for c in cols) + "\r\n"
    for row in df.toLocalIterator(prefetchPartitions=True):
        yield ",".join(
            "null" if v is None else _csv_cell(_plain(v)) for v in row
        ) + "\r\n"


def _plain(v) -> str:
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def _csv_cell(s: str) -> str:
    if any(c in s for c in (",", '"', "\n", "\r")):
        return '"' + s.replace('"', '""') + '"'
    return s


def query_csv(spark: SparkSession, query: str) -> str:
    return "".join(stream_csv(execute(spark, query)))
