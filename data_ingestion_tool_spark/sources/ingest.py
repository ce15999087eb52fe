"""Table ingest: auto-create + append.

Reference semantics (`/root/reference/backend/main.py:249-286`):
``CREATE TABLE IF NOT EXISTS`` then insert in fixed 10,000-row batches
from the driver process. The Spark-first equivalent keeps the policy —
first writer defines the schema, later ingests append — in two forms:

- :func:`ingest_append` is the bulk path. Its batching becomes
  per-partition task writes on the executors, which is what actually
  scales: no driver-side row loop and no single-node memory ceiling.
- :func:`append_upload` is the API import path. An upload is already
  parsed into driver memory, so it is encoded there and written as one
  Parquet file, without a Spark job. Its size is bounded by the upload
  the driver already holds.
"""

from __future__ import annotations

import re
import uuid

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..catalog import TableMetadata, persistent_table

# bytes per py4j call when the encoded file crosses to the JVM
_WRITE_CHUNK = 4 << 20
# field metadata that marks a string column as char(n) or varchar(n)
_CHAR_VARCHAR_KEY = "__CHAR_VARCHAR_TYPE_STRING"


def ingest_append(
    df: DataFrame,
    path: str,
    *,
    max_records_per_file: int | None = None,
) -> None:
    """Append ``df`` to a Parquet table directory, creating it on first
    write (the IF NOT EXISTS / append-wins policy, main.py:263-268).

    ``max_records_per_file`` is the connector-parity knob for the
    reference's 10k insert batch (main.py:274) — it bounds file size the
    way the batch loop bounded insert size, without serializing through
    the driver.
    """
    writer = df.write.mode("append")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_records_per_file))
    writer.parquet(path)


def append_upload(spark: SparkSession, pdf: pd.DataFrame, table: str) -> None:
    """Append the all-string frame ``pdf`` to catalog table ``table`` as
    one Parquet file, creating the table from ``pdf``'s header when it is
    absent, the way ``df.write.mode("append").format("parquet")
    .saveAsTable(table)`` does (main.py:263-268). No Spark job runs.

    ``table`` is the persistent table in the current database; a temp
    view of that name is ignored. An existing table's columns are
    matched by name, honouring ``spark.sql.caseSensitive``. Where that
    ``saveAsTable`` raises, this raises before anything is written: a
    table that is not plain Parquet (another format, partitioned or
    bucketed), a different column count, a name that does not resolve,
    or a column that is not a string. The file is written under a
    ``_``-prefixed name, which Spark's file listing skips, and renamed
    into place, so readers never see a partial file. Like Spark's
    write, a ``char(n)``/``varchar(n)`` column takes values of at most
    ``n`` characters once trailing spaces are trimmed, and ``char``
    pads them to ``n``.
    """
    name, meta = persistent_table(spark, table)
    if meta is None:
        names, columns = list(pdf.columns), [pdf.iloc[:, i] for i in range(pdf.shape[1])]
    else:
        names, columns = meta.schema.fieldNames(), _columns_by_name(spark, name, meta, pdf)
    arrays = [pa.Array.from_pandas(c, type=pa.string()) for c in columns]
    buf = pa.BufferOutputStream()
    pq.write_table(pa.Table.from_arrays(arrays, names=names), buf, compression="snappy")
    if meta is None:
        schema = T.StructType([T.StructField(c, T.StringType()) for c in names])
        spark.catalog.createTable(name, source="parquet", schema=schema)
        _, meta = persistent_table(spark, name)
    _write_file(spark, meta.location, buf.getvalue().to_pybytes())
    spark.catalog.refreshTable(name)


def _columns_by_name(
    spark: SparkSession, name: str, meta: TableMetadata, pdf: pd.DataFrame
) -> list[pd.Series]:
    """``pdf``'s column for each of the table's columns, in table order;
    raises where an append by name cannot go in."""
    if meta.provider.lower() != "parquet" or meta.partitioned or meta.bucketed:
        raise ValueError(f"Table {name} is not an unpartitioned, unbucketed Parquet table")
    fields, columns = meta.schema.fields, list(pdf.columns)
    if len(columns) != len(fields):
        raise ValueError(
            f"The column number of the existing table {name} ({len(fields)}) "
            f"doesn't match the data ({len(columns)})"
        )
    case_sensitive = spark.conf.get("spark.sql.caseSensitive") == "true"
    key = (lambda c: c) if case_sensitive else str.lower
    out = []
    for f in fields:
        hits = [i for i, c in enumerate(columns) if key(c) == key(f.name)]
        if len(hits) != 1:
            raise ValueError(f"Cannot resolve '{f.name}' given input columns: {columns}")
        if not isinstance(f.dataType, T.StringType):
            raise ValueError(f"Cannot safely cast '{f.name}': string to {f.dataType.simpleString()}")
        values = pdf.iloc[:, hits[0]]
        rule = f.metadata.get(_CHAR_VARCHAR_KEY)
        out.append(_fit_length(values, rule) if rule else values)
    return out


def _fit_length(values: pd.Series, rule: str) -> pd.Series:
    """``values`` as Spark writes them into a ``char(n)`` or
    ``varchar(n)`` column (``rule``): trailing spaces past ``n`` are
    trimmed, a value still longer raises, and ``char`` pads to ``n``."""
    kind, n = re.fullmatch(r"(char|varchar)\((\d+)\)", rule).groups()
    n = int(n)
    long = values.str.len() > n
    if (values[long].str.rstrip(" ").str.len() > n).any():
        raise ValueError(f"Exceeds char/varchar type length limitation: {n}")
    values = values.where(~long, values.str[:n])
    return values.str.pad(n, side="right") if kind == "char" else values


def _write_file(spark: SparkSession, location: str, data: bytes) -> None:
    """Write ``data`` as a new Parquet file in directory ``location``
    through its Hadoop ``FileSystem``, so any filesystem Spark writes to
    works: first under a name readers skip, then renamed into place."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    directory = Path(location)
    fs = directory.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration())
    tag = uuid.uuid4()
    staged = Path(directory, f"_{tag}.parquet.tmp")
    try:
        out = fs.create(staged, False)
        try:
            for i in range(0, len(data), _WRITE_CHUNK):
                out.write(data[i : i + _WRITE_CHUNK])
        finally:
            out.close()
        final = Path(directory, f"part-00000-{tag}-c000.snappy.parquet")
        if not fs.rename(staged, final):
            raise OSError(f"could not rename {staged} to {final}")
    except Exception:
        fs.delete(staged, False)
        raise
