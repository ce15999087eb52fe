"""Sources and sinks.

Re-expresses the reference's data movement surface
(`/root/reference/backend/main.py`):

- R7 CSV ingest (``pd.read_csv(dtype=str, na_filter=False)``,
  main.py:233-239)  -> :func:`read_csv_compat` (all-string, empty stays
  ``''``) and :func:`read_csv_inferred` (the behavior the dead
  type-mapping at main.py:250-256 *intended*).
- R6 CSV export (``df.to_csv(index=False, encoding='utf-8-sig')``,
  main.py:193-194) -> :func:`export_csv_rows` (bounded, API-compatible,
  BOM-less like the reference's actual str response) and
  :func:`write_csv` (distributed, for scale).
- R8/R9 auto-create + batched append (main.py:249-286) ->
  :func:`ingest_append` (per-partition task writes replace the 10k-row
  driver-side loop; first-writer-defines-schema append policy) and, for
  an API upload already parsed on the driver, ``ingest.append_upload``
  (one Parquet file into the catalog table, no Spark job).
"""

from .csv_io import (
    ALLOWED_UPLOAD_EXTENSIONS,
    export_csv_rows,
    export_csv_string,
    read_csv_compat,
    read_csv_inferred,
    validate_upload_extension,
    write_csv,
)
from .ingest import ingest_append
from .parquet_io import read_table, read_tables

__all__ = [
    "ALLOWED_UPLOAD_EXTENSIONS",
    "export_csv_rows",
    "export_csv_string",
    "ingest_append",
    "read_csv_compat",
    "read_csv_inferred",
    "read_table",
    "read_tables",
    "validate_upload_extension",
    "write_csv",
]
