"""Structured Streaming ingest + windowed aggregation.

The reference is batch-only (SURVEY.md §1.1); streaming is the
north-star "batch or streaming loads" extension (BASELINE.json). The
pattern: ``readStream`` on a file source → event-time tumbling window +
watermark → sink. ``Trigger.AvailableNow`` closes the stream over the
finite input so results are exactly the batch answer — which is also how
the DuckDB oracle checks it (a ``date_trunc``-bucketed GROUP BY).

At scale this is the continuous-ingest path: the same watermarked plan
runs unmodified against a Kafka/file stream with state kept in the
streaming state store, late data dropped past the watermark.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..session import ckpt_dir


def tumbling_window_counts(
    events: DataFrame,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked tumbling-window counts; works on batch or streaming
    DataFrames identically (same logical plan)."""
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("win"), F.col(key_col))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("win.start").alias("window_start"), key_col, "cnt")
    )


DEFAULT_STATE_PARTITIONS = 8


def run_stream_to_table(
    spark: SparkSession,
    source_path: str,
    schema,
    transform,
    table_name: str | None = None,
    output_mode: str = "complete",
    state_partitions: int = DEFAULT_STATE_PARTITIONS,
    reader_options: dict[str, str] | None = None,
) -> DataFrame:
    """Run a finite streaming job: readStream(parquet) → transform →
    memory sink with an AvailableNow trigger; returns the materialized
    result as a (batch) DataFrame.

    ``source_path`` may be a single file: the file-stream source only
    accepts directories, so a file path is split into (parent dir,
    pathGlobFilter=filename).

    ``state_partitions`` sizes the streaming state store: a stateful
    query creates one state store per shuffle partition PER STATEFUL
    OPERATOR per micro-batch, so state width should track state volume,
    not the relational shuffle width (inheriting 32 costs ~2x wall
    clock on modest streams; a high-volume production stream would set
    this to cores×executors). The partition count is baked into the
    checkpoint at first start — it is a per-stream, not per-restart,
    choice, which is why it's a parameter here and not session state.
    """
    name = table_name or f"stream_out_{uuid.uuid4().hex[:8]}"
    reader = spark.readStream.schema(schema)
    for k, v in (reader_options or {}).items():
        reader = reader.option(k, v)  # e.g. maxFilesPerTrigger for
        # multi-micro-batch runs (AvailableNow honors it as rate limit)
    if os.path.isfile(source_path):
        reader = reader.option("pathGlobFilter", os.path.basename(source_path))
        source_path = os.path.dirname(source_path)
    stream = reader.parquet(source_path)
    out = transform(stream)
    ckpt = ckpt_dir("win")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = (
            out.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
    return spark.table(name)
