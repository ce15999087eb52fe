"""Continuous aggregate — incrementally-maintained materialized rollup.

The "hypertable continuous aggregate" / materialized-view-maintenance
pattern: a stream lands in a PRE-AGGREGATED table that is kept current
per micro-batch, so readers pay O(windows) instead of O(events), and
the raw event history never needs rescanning.

Mechanics (parquet has no point-updates, so maintenance is
append-a-version + compact-on-read — the same LSM-style shape Delta/
Hudi implement under their MERGE):

1. update-mode windowed aggregation: each micro-batch emits ONLY the
   (window, key) rows whose aggregate changed in that batch;
2. ``foreachBatch`` appends those rows under a ``_v = batch_id``
   partition (dynamic partition overwrite → replayed batch ids
   overwrite themselves: replay-idempotent, same guard as
   streaming/ingest.py);
3. the read-side compaction view keeps the LATEST version per
   (window, key) — a row_number window over a table whose size is
   O(updated windows × batches), not O(events).

At scale the per-batch write touches only changed windows (time
locality keeps that small), and the view compacts per key — the
continuous-ingest path for dashboards over 100 TB event history.
The watermark is deliberately generous here: lateness/eviction
semantics are pinned separately (tests/test_streaming_watermark.py);
this operator's contract is that the compacted view equals the batch
answer over everything ingested.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .windows import DEFAULT_STATE_PARTITIONS
from ..session import ckpt_dir


def continuous_rollup(
    spark: SparkSession,
    source_path: str,
    schema,
    dest_path: str,
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "365 days",
    max_files_per_trigger: int | None = 1,
    state_partitions: int = DEFAULT_STATE_PARTITIONS,
    reader_options: dict[str, str] | None = None,
) -> list[int]:
    """Maintain ``dest_path`` as an incrementally-updated per-window
    rollup of the stream at ``source_path``; returns the micro-batch
    ids processed (len > 1 ⇒ genuinely incremental maintenance)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    for k, v in (reader_options or {}).items():
        reader = reader.option(k, v)
    if os.path.isfile(source_path):
        reader = reader.option("pathGlobFilter", os.path.basename(source_path))
        source_path = os.path.dirname(source_path)
    stream = reader.parquet(source_path)

    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
        .select(F.col("win.start").alias("window_start"), key_col, "cnt")
    )

    seen: list[int] = []

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        seen.append(batch_id)
        (
            batch_df.withColumn("_v", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_v")
            .parquet(dest_path)
        )

    ckpt = ckpt_dir("cagg")
    # State-store width must be set through the SESSION conf before the
    # stream starts (the partition count is frozen into the checkpoint
    # at creation) — a writeStream .option() of the same key is
    # silently ignored. Same set/restore dance as
    # streaming/windows.py::run_stream_to_table.
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            agg.writeStream.foreachBatch(write_batch)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return seen


def rollup_view(
    spark: SparkSession, dest_path: str, key_col: str = "event_type"
) -> DataFrame:
    """Compacted read over the versioned rollup: latest ``_v`` wins per
    (window_start, key). The input is O(updated windows × batches) —
    already aggregated — so this window pass is tiny next to the raw
    events it replaces."""
    t = spark.read.parquet(dest_path)
    w = Window.partitionBy("window_start", key_col).orderBy(F.col("_v").desc())
    return (
        t.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select("window_start", key_col, "cnt")
    )
