"""Catalog introspection (reference R1/R2).

Reference: ``SHOW TABLES`` capped at 1000 rows
(`backend/main.py:102-103`) and ``EXISTS TABLE`` + ``DESCRIBE TABLE``
returning per-column name/type/default/comment (`backend/main.py:134-147`).

Spark-first: the session catalog answers both without a server round
trip. For path-based (non-registered) tables we describe the Parquet
footer schema — still metadata-only, no data scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MAX_LIST_TABLES = 1000  # reference main.py:102 max_result_rows


class TableNotFoundError(KeyError):
    """Maps to the reference's 404 on a missing table (main.py:136-139)."""


def list_tables(spark: SparkSession, db: str | None = None) -> list[str]:
    """``SHOW TABLES`` names, capped at :data:`MAX_LIST_TABLES`.

    Same names in the same order as ``spark.catalog.listTables()``,
    temp views included, but without resolving every table's metadata:
    ``listTables`` looks each table up (Spark jobs per table), while the
    ``SHOW TABLES`` command answers from the catalog without a job."""
    sql = f"SHOW TABLES IN {db}" if db else "SHOW TABLES"
    return [r.tableName for r in spark.sql(sql).collect()][:MAX_LIST_TABLES]


def table_exists(spark: SparkSession, name: str) -> bool:
    return spark.catalog.tableExists(name)


def describe_table(spark: SparkSession, name: str) -> list[dict[str, str]]:
    """DESCRIBE TABLE → [{name, type, default, comment}] (main.py:141-147)."""
    if not table_exists(spark, name):
        raise TableNotFoundError(f"Table '{name}' not found")
    return schema_to_columns(spark.table(name).schema)


def schema_to_columns(schema: T.StructType) -> list[dict[str, str]]:
    return [
        {
            "name": f.name,
            "type": f.dataType.simpleString(),
            "default": "",
            "comment": str(f.metadata.get("comment", "")) if f.metadata else "",
        }
        for f in schema.fields
    ]


def columns_df(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Schema of ``df`` as a (name, type) DataFrame — the engine-level
    DESCRIBE result used by the ``catalog_list_columns`` query."""
    rows = [(f.name, f.dataType.simpleString()) for f in df.schema.fields]
    return spark.createDataFrame(rows, "col_name string, data_type string")
