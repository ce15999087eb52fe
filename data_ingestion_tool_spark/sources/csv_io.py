"""CSV source/sink with reference-compatible semantics.

Reference behavior being re-expressed (all cites into
`/root/reference/backend/main.py`):

- Ingest reads with ``pd.read_csv(..., delimiter=d, dtype=str,
  na_filter=False)`` (main.py:234-239): every column is a string and an
  empty cell stays ``''`` — never NULL. Spark's CSV reader maps empty to
  null by default, so compat mode pins ``inferSchema=False`` and maps
  nulls back to ``''`` post-read (Spark 4 treats an unquoted empty field
  as null regardless of ``emptyValue``).
- Only ``.csv`` / ``.txt`` uploads are accepted (main.py:227-231).
- Export: header row = exactly the selected column list, no index, NO
  BOM — main.py:194 asks for ``utf-8-sig`` but ``to_csv`` without a
  path ignores ``encoding``, so the reference's actual response body is
  BOM-less (see :func:`export_csv_rows`).

Scale note: :func:`read_csv_compat`/:func:`read_csv_inferred` are
distributed scans (executors read splits — the reference's
whole-file-into-backend-memory at main.py:233 is gone).
:func:`export_csv_rows` intentionally collects (it reproduces the
reference's inline-response API) with an enforced row bound;
:func:`write_csv` is the scale path.
"""

from __future__ import annotations

import io

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

ALLOWED_UPLOAD_EXTENSIONS = (".csv", ".txt")


def validate_upload_extension(filename: str) -> None:
    """Extension gate, reference main.py:227-231."""
    if not filename.lower().endswith(ALLOWED_UPLOAD_EXTENSIONS):
        raise ValueError("Only CSV and TXT files are supported")


def read_csv_compat(
    spark: SparkSession,
    path: str,
    delimiter: str = ",",
    header: bool = True,
    multiline: bool = False,
) -> DataFrame:
    """All-string read; empty cells are ``''``, never NULL (compat with
    ``dtype=str, na_filter=False``).

    Quoting is RFC-4180 (``""`` inside a quoted field = one ``"``),
    matching pandas' reader in the reference (main.py:234) -- Spark's
    default backslash escape would mis-read doubled quotes.

    ``multiline=True`` additionally accepts quoted embedded newlines --
    but makes files UNSPLITTABLE (one task per file, no intra-file
    parallelism), so it's opt-in; the 100 TB scan path must not use it.
    The API upload path (``api.service.import_flatfile``) no longer
    reads through here with ``multiline=True``: the request body is
    already in driver memory, so it is parsed once with the reference's
    own ``pd.read_csv`` call.

    Known limitation: NUL bytes (``\\x00``) inside QUOTED fields are
    stripped by Spark's uniVocity parser ('\\0' is its internal
    "no character" sentinel; no read option disables that). Unquoted
    NULs survive. Data with embedded NULs should use parquet/JSON.
    """
    df = (
        spark.read.option("header", header)
        .option("sep", delimiter)
        .option("inferSchema", False)
        .option("nullValue", "\u0000NEVER\u0000")  # nothing maps to null
        .option("emptyValue", "")
        .option("escape", '"')
        .option("multiLine", multiline)
        .csv(path)
    )
    # Spark still yields null for truly-missing trailing fields; pin ''.
    return df.select(
        *[F.coalesce(F.col(c).cast("string"), F.lit("")).alias(c) for c in df.columns]
    )


def read_csv_inferred(
    spark: SparkSession, path: str, delimiter: str = ",", header: bool = True
) -> DataFrame:
    """Real schema inference — what the reference's dead pandas→CH
    type-mapping (main.py:250-256) intended."""
    return (
        spark.read.option("header", header)
        .option("sep", delimiter)
        .option("inferSchema", True)
        .option("escape", '"')
        .csv(path)
    )


def write_csv(
    df: DataFrame,
    path: str,
    delimiter: str = ",",
    compression: str | None = None,
) -> None:
    """Distributed CSV sink (the 100 TB path — one file per task).
    Writes RFC-4180 quote doubling so round-trips through
    :func:`read_csv_compat` (and pandas/DuckDB readers) are lossless.

    ``compression``: any Spark codec name ('gzip', 'bzip2', 'zstd',
    'lz4', 'snappy'). Scale note: gzip output is NOT splittable — each
    .csv.gz becomes exactly one read task, so size the write's
    partitions (one file per task) to the downstream read parallelism;
    bzip2/zstd(+seekable) are the splittable alternatives when single
    files must be large."""
    w = (
        df.write.mode("overwrite")
        .option("header", True)
        .option("sep", delimiter)
        .option("escape", '"')
        # Spark's CSV *writer* trims cell whitespace by default --
        # pandas' to_csv (the reference exporter) does not; be lossless
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
    )
    if compression:
        w = w.option("compression", compression)
    w.csv(path)


EXPORT_MAX_ROWS = 100_000


def export_csv_rows(
    df: DataFrame,
    columns: list[str] | None = None,
    max_rows: int = EXPORT_MAX_ROWS,
) -> tuple[str, int]:
    """API-compatible inline export → ``(csv_string, row_count)``.

    Header = selected columns, no index (reference main.py:193-194).
    NO BOM: the reference passes ``encoding='utf-8-sig'`` but calls
    ``to_csv`` without a path, which returns a ``str`` where encoding is
    ignored — its actual JSON ``data`` field carries no BOM, so neither
    do we (behavior over documented intent).

    Collects to the driver, so the bound is ENFORCED: more than
    ``max_rows`` result rows raises ``ValueError`` (the API layer maps
    it to a 500, mirroring the reference's implicit inline-response
    ceiling at main.py:233). The unbounded path is :func:`write_csv`.
    """
    bounded = df.select(*columns) if columns else df
    pdf = bounded.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        raise ValueError(
            f"inline CSV export exceeds max_rows={max_rows}; "
            "use write_csv() for unbounded results"
        )
    buf = io.StringIO()
    pdf.to_csv(buf, index=False)
    return buf.getvalue(), len(pdf)


def export_csv_string(
    df: DataFrame,
    columns: list[str] | None = None,
    max_rows: int = EXPORT_MAX_ROWS,
) -> str:
    """String-only variant of :func:`export_csv_rows`."""
    return export_csv_rows(df, columns, max_rows)[0]
