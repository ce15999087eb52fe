"""Catalog introspection (reference R1/R2).

Reference: ``SHOW TABLES`` capped at 1000 rows
(`backend/main.py:102-103`) and ``EXISTS TABLE`` + ``DESCRIBE TABLE``
returning per-column name/type/default/comment (`backend/main.py:134-147`).

Spark-first: the session catalog answers both without a server round
trip. For path-based (non-registered) tables we describe the Parquet
footer schema — still metadata-only, no data scan.
"""

from __future__ import annotations

from collections.abc import Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MAX_LIST_TABLES = 1000  # reference main.py:102 max_result_rows
# field metadata that marks a string column as char(n) or varchar(n)
CHAR_VARCHAR_KEY = "__CHAR_VARCHAR_TYPE_STRING"


class TableNotFoundError(KeyError):
    """Maps to the reference's 404 on a missing table (main.py:136-139)."""


def _session_catalog(spark: SparkSession):
    """The JVM ``SessionCatalog``: it answers from catalog memory, with
    no SQL to parse or plan and no Spark job."""
    return spark._jsparkSession.sessionState().catalog()


def _table_identifier(spark: SparkSession, name: str):
    """``name`` parsed as SQL parses a table name; raises if malformed."""
    return spark._jsparkSession.sessionState().sqlParser().parseTableIdentifier(name)


def list_tables(spark: SparkSession, db: str | None = None) -> list[str]:
    """``SHOW TABLES`` names, capped at :data:`MAX_LIST_TABLES`.

    Taken from ``SessionCatalog.listTables(db)``, the call the
    ``SHOW TABLES`` command makes, so the names and their order are the
    same as ``spark.catalog.listTables()``, temp views included; an
    unknown ``db`` raises. Only the first :data:`MAX_LIST_TABLES`
    identifiers cross to Python."""
    sc = _session_catalog(spark)
    idents = sc.listTables(db or sc.getCurrentDatabase()).take(MAX_LIST_TABLES)
    return [idents.apply(i).table() for i in range(idents.size())]


@dataclass(frozen=True)
class TableMetadata:
    """What the session catalog records of one persistent table."""

    location: str  # URI of the table's directory, "" for a view
    provider: str  # data source, "" for a view
    partitioned: bool
    bucketed: bool
    schema: T.StructType

    @property
    def plain_parquet(self) -> bool:
        """An unpartitioned, unbucketed Parquet table: its rows are the
        Parquet files directly in :attr:`location`."""
        return self.provider.lower() == "parquet" and not (self.partitioned or self.bucketed)


def persistent_table(spark: SparkSession, name: str) -> tuple[str, TableMetadata | None]:
    """``name`` as ``saveAsTable`` resolves it, and its metadata.

    The name is qualified with the current database and never matches
    a temp view. Returns the quoted ``db.table`` name, which this
    function and ``spark.catalog`` accept back, and the table's
    metadata, or ``None`` when no such persistent table exists.
    A malformed name or an unknown database raises. No Spark job."""
    sc = _session_catalog(spark)
    ident = sc.qualifyIdentifier(_table_identifier(spark, name))
    qualified = ".".join(
        "`" + part.replace("`", "``") + "`" for part in (ident.database().get(), ident.table())
    )
    if not sc.tableExists(ident):
        return qualified, None
    t = sc.getTableMetadata(ident)
    location, provider = t.storage().locationUri(), t.provider()
    return qualified, TableMetadata(
        location=location.get().toString() if location.isDefined() else "",
        provider=provider.get() if provider.isDefined() else "",
        partitioned=t.partitionColumnNames().nonEmpty(),
        bucketed=t.bucketSpec().isDefined(),
        schema=T._parse_datatype_json_string(t.schema().json()),
    )


def temp_view_exists(spark: SparkSession, name: str) -> bool:
    """Whether ``name`` is a temp view, which ``spark.table(name)``
    reads in place of a persistent table of that name. No Spark job."""
    return _session_catalog(spark).isTempView(_table_identifier(spark, name))


def case_sensitive(spark: SparkSession) -> bool:
    return spark.conf.get("spark.sql.caseSensitive") == "true"


def resolve_column(name: str, names: Sequence[str], exact_case: bool) -> int:
    """Position of the one entry of ``names`` that column ``name``
    resolves to, the way Spark matches a column by name: equal, or
    equal ignoring case unless ``exact_case`` (the session's
    :func:`case_sensitive`). Raises ``ValueError`` unless exactly one
    entry matches."""
    key = (lambda c: c) if exact_case else str.lower
    hits = [i for i, c in enumerate(names) if key(c) == key(name)]
    if len(hits) != 1:
        raise ValueError(f"Cannot resolve '{name}' given input columns: {list(names)}")
    return hits[0]


def string_rule(field: T.StructField) -> str | None:
    """``"string"`` for a plain string column, its ``char(n)`` or
    ``varchar(n)`` rule for a char/varchar one (Spark stores those as
    strings and marks them with :data:`CHAR_VARCHAR_KEY`), ``None``
    for any other type."""
    if not isinstance(field.dataType, T.StringType):
        return None
    return field.metadata.get(CHAR_VARCHAR_KEY, "string")


def describe_table(spark: SparkSession, name: str) -> list[dict[str, str]]:
    """DESCRIBE TABLE → [{name, type, default, comment}] (main.py:141-147)."""
    if not spark.catalog.tableExists(name):
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
