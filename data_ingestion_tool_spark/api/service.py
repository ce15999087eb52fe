"""Engine-level service mirroring the reference's five HTTP endpoints.

Each function returns the same JSON-shaped dict the corresponding
reference endpoint returns, so a FastAPI wrapper (``api.app``) is a
one-line delegation per route and a reference user sees identical
response bodies:

- :func:`connect` ↔ ``POST /connect-clickhouse``
  (`/root/reference/backend/main.py:88-118`)
- :func:`get_columns` ↔ ``POST /get-columns`` (main.py:120-161)
- :func:`export_flatfile` ↔ ``POST /clickhouse-to-flatfile``
  (main.py:163-208)
- :func:`import_flatfile` ↔ ``POST /flatfile-to-clickhouse``
  (main.py:210-302)
- :func:`health` ↔ ``GET /health`` (main.py:304-334)

Error mapping keeps the reference's status codes via
:class:`ApiError(status_code, detail)` — 400 invalid input, 404 missing
table, 500 export/import failure, 503 unhealthy.

Spark-first differences (deliberate, documented):
- "connection" is the shared SparkSession + its catalog; the pool keyed
  by host:port:db:user (main.py:64-87) collapses into
  ``SparkSession.getOrCreate`` semantics. The connection model and its
  host-regex validation are kept for API-compatible 400s.
- the export query is built as a DataFrame plan (comma-join + WHERE →
  ``crossJoin`` + ``filter``), so Catalyst recovers equi-joins and
  pushes predicates/projections into the scan instead of shipping an
  opaque SQL string to a server.
- ingest lands in the session catalog as a Parquet-backed table with the
  reference's first-writer-defines-schema, append-wins policy
  (``CREATE TABLE IF NOT EXISTS`` + insert, main.py:263-286). The upload
  body is already in driver memory, so it is parsed there once with the
  reference's own pandas call and written from there as one Parquet
  file into the table's directory (``sources.ingest.append_upload``);
  the 10k-row insert loop goes away.

Each request runs only the Spark jobs its answer needs: ``connect``,
``get_columns`` and ``import_flatfile`` read or write through the
session catalog without a job. A single-table ``export_flatfile`` of
plain string columns from a persistent, unpartitioned, unbucketed
Parquet table on a local filesystem reads that table's files on the
driver without a job (``sources.ingest.read_columns``). Every other
export runs one bounded collect, after whatever jobs its join needs (a
broadcast comma-join adds one, to build the broadcast side): a join, a
temp view, a non-string or ``char``/``varchar`` column, a partitioned,
bucketed or non-Parquet table, a location that is not ``file:`` or
that holds a subdirectory, a nested or qualified column name, and a
table with several files of which one is big enough for Spark to split.
``health`` runs its ``SELECT 1``.
"""

from __future__ import annotations

from datetime import datetime, timezone
from io import BytesIO
from typing import Any

import pandas as pd
from pyspark.sql import SparkSession

from ..catalog import TableNotFoundError, describe_table, list_tables
from ..sources import csv_io
from ..sources.csv_io import csv_text, export_csv_rows, validate_upload_extension
from ..sources.ingest import append_upload, read_columns
from .connector import route
from .models import ColumnSelection, ConnectionInfo, build_export_dataframe


class ApiError(Exception):
    """Carries the HTTP status the reference maps each failure to."""

    def __init__(self, status_code: int, detail: str) -> None:
        super().__init__(detail)
        self.status_code = status_code
        self.detail = detail


def _now() -> str:
    return datetime.now(timezone.utc).isoformat()


def connect(spark: SparkSession, conn: ConnectionInfo) -> dict[str, Any]:
    """List tables + connection echo (main.py:96-111). The SHOW TABLES
    probe is capped at 1000 names like the reference's
    ``max_result_rows`` setting (main.py:102). When external routing is
    enabled (connector.route), the listing comes from the real server
    ``conn`` names; otherwise from the session catalog's memory
    (:func:`catalog.list_tables`: no SQL command and no Spark job)."""
    try:
        be = route(conn)
        names = be.list_tables() if be is not None else list_tables(spark)
    except Exception as e:  # noqa: BLE001 — mirror blanket 400 (main.py:112-118)
        raise ApiError(400, f"Connection failed: {e}") from e
    return {
        "status": "success",
        "tables": names,
        "connection": f"{conn.host}:{conn.port}",
        "timestamp": _now(),
    }


def get_columns(spark: SparkSession, conn: ConnectionInfo, table: str) -> dict[str, Any]:
    """EXISTS guard + DESCRIBE (main.py:128-153): 404 when absent, else
    per-column name/type/default/comment — from the routed server when
    external routing is enabled, else from the session catalog."""
    try:
        be = route(conn)
        if be is None:
            cols = describe_table(spark, table)
        elif not be.table_exists(table):
            raise TableNotFoundError(table)
        else:
            cols = be.columns(table)
    except TableNotFoundError as e:
        raise ApiError(404, f"Table {table} does not exist") from e
    except Exception as e:  # noqa: BLE001
        raise ApiError(400, f"Failed to get columns: {e}") from e
    return {"status": "success", "columns": cols, "count": len(cols)}


def export_flatfile(
    spark: SparkSession, conn: ConnectionInfo, selection: ColumnSelection
) -> dict[str, Any]:
    """Query → inline CSV (main.py:163-208): the zero-row "No data
    found" short-circuit (main.py:185-191), else CSV string with header
    = exactly the selected columns (BOM-less, matching the reference's
    actual response body — see csv_io.export_csv_rows).

    A single-table export reads the table's Parquet files on the driver
    where ``sources.ingest.read_columns`` can be sure of Spark's answer
    (plain string columns of a persistent, unpartitioned, unbucketed
    local Parquet table; see the module docstring), and runs no Spark
    job. Otherwise one bounded collect of the DataFrame plan answers
    both: one Spark job, and a broadcast comma-join adds one job to
    build its broadcast side. Both apply the same row bound
    (``csv_io.EXPORT_MAX_ROWS``, 500 over it) and the same ``to_csv``.

    The ``query`` echo field reproduces the SQL text the reference
    would have generated (main.py:176-180) — the actual execution is
    the Catalyst-planned DataFrame, not this string.
    """
    query = f"SELECT {', '.join(selection.columns)} FROM {selection.table}"
    joined = bool(selection.join_tables and selection.join_condition)
    if joined:
        tables_str = ", ".join([selection.table, *selection.join_tables])
        query = (
            f"SELECT {', '.join(selection.columns)} FROM {tables_str} "
            f"WHERE {selection.join_condition}"
        )
    be = route(conn)
    if be is not None:
        # routed export (main.py:184-201): the SQL string runs on the
        # real server; rows → CSV exactly like the reference (pandas
        # to_csv to a string — its utf-8-sig arg is dead there, see
        # csv_io.export_csv_rows)
        try:
            rows = be.query_rows(query)
            if not rows:
                return {"status": "success", "data": "", "count": 0,
                        "message": "No data found"}
            csv_data = pd.DataFrame(
                rows, columns=selection.columns
            ).to_csv(index=False)
            return {
                "status": "success",
                "data": csv_data,
                "count": len(rows),
                "query": query,
                "exported_at": _now(),
            }
        except Exception as e:  # noqa: BLE001 — reference maps all to 500
            raise ApiError(500, f"Export failed: {e}") from e
    try:
        # row count from the collected frame, like the reference's
        # len(result_rows) — counting '\n' in the CSV overcounts when
        # field values carry quoted embedded newlines
        pdf = None if joined else read_columns(
            spark, selection.table, selection.columns, csv_io.EXPORT_MAX_ROWS
        )
        if pdf is None:
            csv_data, count = export_csv_rows(build_export_dataframe(spark, selection))
        else:
            csv_data, count = csv_text(pdf), len(pdf)
        if count == 0:
            return {"status": "success", "data": "", "count": 0,
                    "message": "No data found"}
        return {
            "status": "success",
            "data": csv_data,
            "count": count,
            "query": query,
            "exported_at": _now(),
        }
    except Exception as e:  # noqa: BLE001 — reference maps all to 500
        raise ApiError(500, f"Export failed: {e}") from e


def import_flatfile(
    spark: SparkSession,
    conn: ConnectionInfo,
    filename: str,
    contents: bytes,
    table: str = "imported_data",
    delimiter: str = ",",
) -> dict[str, Any]:
    """CSV upload → catalog table (main.py:210-302).

    Keeps every reference semantic: .csv/.txt extension gate (400),
    empty-file 400, first-writer-defines-schema append policy, and the
    ``{count, columns, table}`` response. The body is parsed once, on
    the driver, with the reference's own call (main.py:234-239):
    ``pd.read_csv(..., dtype=str, na_filter=False)``, so every column is
    a string, an empty cell stays ``''`` and a ragged row fails with
    pandas' ``ParserError`` (500) instead of being repaired. The rows
    are written from the driver as one Parquet file, without a Spark
    job; an append that ``saveAsTable`` would refuse (column count or
    names, a non-string column, a table that is not plain Parquet)
    fails with 500 and writes nothing.
    """
    try:
        validate_upload_extension(filename)
    except ValueError as e:
        raise ApiError(400, "Only CSV files are supported") from e
    try:
        try:
            pdf = pd.read_csv(
                BytesIO(contents), delimiter=delimiter, dtype=str, na_filter=False
            )
        except pd.errors.EmptyDataError:  # not even a header line
            pdf = pd.DataFrame()
        if pdf.empty:
            raise ApiError(400, "File is empty or invalid format")
        columns = list(pdf.columns)
        be = route(conn)
        if be is not None:
            # routed import (main.py:258-286): all-String IF NOT
            # EXISTS auto-DDL + 10k-row batched inserts against the
            # real server
            be.create_table_all_string(table, columns)
            count = be.insert_rows(table, columns, pdf.values.tolist())
        else:
            # append-wins / IF NOT EXISTS policy: first writer defines
            # the schema; later ingests append (main.py:263-268)
            append_upload(spark, pdf, table)
            count = len(pdf)  # inserted rows this call, like the reference
        return {
            "status": "success",
            "count": count,
            "columns": columns,
            "table": table,
            "imported_at": _now(),
        }
    except ApiError:
        raise
    except Exception as e:  # noqa: BLE001
        raise ApiError(500, f"Import failed: {e}") from e


def health(spark: SparkSession) -> dict[str, Any]:
    """SELECT 1 probe (main.py:304-334) against the session instead of a
    localhost ClickHouse."""
    try:
        assert spark.sql("SELECT 1").collect()[0][0] == 1
        return {
            "status": "healthy",
            "timestamp": _now(),
            "services": {"database": "available", "storage": "ok"},
        }
    except Exception as e:  # noqa: BLE001
        raise ApiError(503, f"Service unavailable: {e}") from e
