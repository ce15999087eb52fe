"""Table ingest (auto-create + append) and its driver-side read twin.

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

:func:`read_columns` is its read-side twin, the API export path for a
single table: the rows an inline export returns end up on the driver
anyway, so where the table is plain Parquet on a local filesystem its
files are read there, without a Spark job, bounded by the export's row
limit before any data page is read.
"""

from __future__ import annotations

import os
import re
import uuid
from contextlib import ExitStack
from urllib.parse import unquote, urlsplit

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..catalog import (
    TableMetadata,
    case_sensitive,
    persistent_table,
    resolve_column,
    string_rule,
    temp_view_exists,
)
from .csv_io import check_export_rows

# bytes per py4j call when the encoded file crosses to the JVM
_WRITE_CHUNK = 4 << 20


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
    if not meta.plain_parquet:
        raise ValueError(f"Table {name} is not an unpartitioned, unbucketed Parquet table")
    fields, columns = meta.schema.fields, list(pdf.columns)
    if len(columns) != len(fields):
        raise ValueError(
            f"The column number of the existing table {name} ({len(fields)}) "
            f"doesn't match the data ({len(columns)})"
        )
    exact = case_sensitive(spark)
    out = []
    for f in fields:
        values = pdf.iloc[:, resolve_column(f.name, columns, exact)]
        rule = string_rule(f)
        if rule is None:
            raise ValueError(f"Cannot safely cast '{f.name}': string to {f.dataType.simpleString()}")
        out.append(values if rule == "string" else _fit_length(values, rule))
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


def read_columns(
    spark: SparkSession, table: str, columns: list[str], max_rows: int
) -> pd.DataFrame | None:
    """The rows of ``spark.table(table).select(*map(F.col, columns))``,
    read from the table's Parquet files on the driver without a Spark
    job, or ``None`` where this read cannot be sure to give Spark's
    answer. It reads only where all of these hold:

    - no temp view is named ``table``, and ``table`` is a persistent
      unpartitioned, unbucketed Parquet table at a ``file:`` location
      that holds no subdirectory;
    - each of ``columns`` parses as ``F.col`` parses it to one name,
      which resolves by Spark's rule (:func:`catalog.resolve_column`)
      to a plain ``string`` column, not ``char``/``varchar``;
    - every file holds those columns as Arrow strings;
    - with more than one file, none is big enough for Spark to split.

    Like Spark's scan it reads every file but the hidden ones (names
    starting with ``_`` or ``.``, or ending in ``._COPYING_``) and the
    empty ones, file by file, the largest first and equal sizes in
    listing order. The header is the parsed names, as Spark prints
    them. The footers' row counts are summed before any data page is
    read: over ``max_rows`` this raises the ``ValueError`` of
    :func:`csv_io.check_export_rows`.

    Spark keeps a table's file listing until the table is refreshed;
    this lists the directory on every call. The engine's own writes
    refresh the table, but files that another writer adds or removes
    without ``REFRESH TABLE`` show here at once.
    """
    if temp_view_exists(spark, table):
        return None
    _, meta = persistent_table(spark, table)
    if meta is None or not meta.plain_parquet:
        return None
    location = urlsplit(meta.location)
    names = [_column_name(spark, c) for c in columns]
    if location.scheme != "file" or location.netloc or None in names:
        return None
    exact, fields = case_sensitive(spark), meta.schema.fields
    try:
        picked = [fields[resolve_column(n, [f.name for f in fields], exact)] for n in names]
    except ValueError:
        return None
    if any(string_rule(f) != "string" for f in picked):
        return None
    try:
        paths = _scan_order(spark, unquote(location.path))
        if paths is None:
            return None
        return _read_strings(paths, [f.name for f in picked], names, exact, max_rows)
    except (OSError, pa.ArrowException):  # Spark decides, e.g. on a corrupt file
        return None


def _column_name(spark: SparkSession, name: str) -> str | None:
    """The one name ``F.col(name)`` refers to; ``None`` for a star, a
    qualified or nested reference, or a name that does not parse."""
    if name == "*":
        return None
    if "`" not in name and "." not in name:
        return name
    parse = spark._jvm.org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute.parseAttributeName
    try:
        parts = parse(name)
    except Py4JError:
        return None
    return parts.head() if parts.size() == 1 else None


def _hidden(name: str) -> bool:
    """A name Spark's file listing skips (a ``_`` name that holds ``=``
    looks like a partition and is kept)."""
    return (
        (name.startswith("_") and "=" not in name)
        or name.startswith(".")
        or name.endswith("._COPYING_")
    )


def _scan_order(spark: SparkSession, directory: str) -> list[str] | None:
    """The files a scan of the table in ``directory`` reads, in the
    order of its rows: by size, largest first, ties in listing order.
    ``None`` if ``directory`` holds a subdirectory, or if more than one
    file exists and one is big enough that Spark may split it, which
    interleaves its pieces with other files."""
    found = []
    with os.scandir(directory) as entries:
        for e in entries:
            if e.is_dir():
                return None
            size = 0 if _hidden(e.name) else e.stat().st_size
            if size:
                found.append((size, e.path))
    found.sort(key=lambda f: -f[0])  # stable, as Spark's sort of the splits
    if len(found) > 1:
        conf = spark._jsparkSession.sessionState().conf()
        # Spark's split size is at least the smaller of these two
        if found[0][0] > min(conf.filesMaxPartitionBytes(), conf.filesOpenCostInBytes()):
            return None
    return [path for _, path in found]


def _read_strings(
    paths: list[str], fields: list[str], header: list[str], exact: bool, max_rows: int
) -> pd.DataFrame | None:
    """Table columns ``fields`` of the Parquet files ``paths``, in file
    order, as a frame with column names ``header``; ``None`` unless
    each file holds each field, matched the way Spark's Parquet reader
    matches it, as an Arrow string."""
    wanted = list(dict.fromkeys(fields))
    with ExitStack() as stack:
        files = [stack.enter_context(pq.ParquetFile(p)) for p in paths]
        leaves = []
        for f in files:
            schema = f.schema_arrow
            try:
                found = [schema.field(resolve_column(n, schema.names, exact)) for n in wanted]
            except ValueError:
                return None
            if any(field.type != pa.string() for field in found):
                return None
            paths_in_file = {tuple(p): i for i, p in enumerate(f.reader.column_paths)}
            leaves.append([paths_in_file[(field.name,)] for field in found])
        check_export_rows(sum(f.metadata.num_rows for f in files), max_rows)
        chunks: dict[str, list[pa.Array]] = {n: [] for n in wanted}
        for f, leaf in zip(files, leaves):
            read = f.reader.read_all(column_indices=leaf, use_threads=False)
            for n, column in zip(wanted, read.columns):
                chunks[n].extend(column.chunks)
    arrays = [pa.chunked_array(chunks[n], pa.string()) for n in fields]
    return pa.Table.from_arrays(arrays, names=header).to_pandas()
