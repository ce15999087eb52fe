"""Bucketed-table layout: pre-shuffle a table ONCE on its join key so
every later join/aggregate on that key runs shuffle-free.

This is the storage-layout half of the 100 TB story: a fact⋈fact join
(lineitem⋈orders) otherwise shuffles BOTH tables every query. Writing
each table bucketed (hash-partitioned into fixed bucket files) by the
join key moves that shuffle to ingest time — Spark's scan then reports
the bucketing as its output partitioning and SortMergeJoin needs no
Exchange on either side (asserted in tests/test_plans.py).

The reference keeps no physical layout at all (``ORDER BY tuple()``,
/root/reference/backend/main.py:266-267); bucketing is the Spark-native
upgrade path.
"""

from __future__ import annotations

import re
import shutil
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

from ..catalog import persistent_table
from ..sources.parquet_io import read_table


def write_bucketed(
    df: DataFrame, table: str, key: str, buckets: int = 8
) -> None:
    """Persist ``df`` as a bucketed+sorted managed table. One file per
    bucket (the repartition matches the bucket hash), sorted within so
    merge joins skip the per-task sort."""
    (
        df.repartition(buckets, key)
        .write.bucketBy(buckets, key)
        .sortBy(key)
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(table)
    )


def ensure_bucketed(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    key: str,
    buckets: int = 8,
) -> DataFrame:
    """Idempotent bucketed copy of a testdata table, named per scale
    factor (ingest-once semantics: reruns in the same session reuse the
    existing layout)."""
    tag = re.sub(r"[^0-9a-zA-Z]", "_", sf_dir.rstrip("/").rsplit("/", 1)[-1])
    name = f"{table}_bkt{buckets}_{tag}"
    _, meta = persistent_table(spark, name)
    if meta is None or not meta.bucketed:
        # the in-memory catalog dies with the session but the warehouse
        # dir survives: a session from get_spark registers it again as
        # plain Parquet, another session leaves it orphaned. Drop and
        # clear either, or saveAsTable raises LOCATION_ALREADY_EXISTS
        # (with a real metastore the bucketed check alone is the
        # idempotence)
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
        leftover = Path(wh) / name
        if leftover.exists():
            shutil.rmtree(leftover, ignore_errors=True)
        write_bucketed(read_table(spark, sf_dir, table), name, key, buckets)
    return spark.table(name)
