"""Table ingest: auto-create + append.

Reference semantics (`/root/reference/backend/main.py:249-286`):
``CREATE TABLE IF NOT EXISTS`` then insert in fixed 10,000-row batches
from the driver process. The Spark-first equivalent keeps the policy —
first writer defines the schema, later ingests append — but the batching
becomes per-partition task writes on the executors, which is what
actually scales: there is no driver-side row loop and no single-node
memory ceiling.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame


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


def table_exists(path: str) -> bool:
    return os.path.isdir(path) and any(
        f.endswith(".parquet") for f in os.listdir(path)
    )
