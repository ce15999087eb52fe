"""SparkSession factory for the engine.

The reference (`/root/reference/backend/main.py:64-87`) pools
`clickhouse_connect` clients keyed by host:port:db:user; in a Spark-first
design that collapses into a single shared :class:`SparkSession` per
process (``getOrCreate`` is the pool). All scale-relevant defaults live
here so every entry point (tests, bench, driver) runs the same way:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  on a 1000-executor cluster this is what absorbs skewed keys and
  mis-estimated shuffle sizes.
- ``spark.sql.shuffle.partitions`` sized from the local core count; on a
  real cluster AQE's coalescing makes the static number a ceiling, not a
  tuning knob.
- Session timezone pinned UTC so timestamp semantics are stable across
  driver/executors and match the DuckDB oracle.
- Arrow enabled for every pandas interchange (Pandas UDFs, toPandas).

Scratch the engine writes on its own account (streaming checkpoints,
sink outputs, the default warehouse) lives under one root per process,
:func:`scratch_base`, removed at normal exit; a killed process leaves
its root on disk. The ``SPARK_GRAFT_*`` variables set deployment sizes
and paths; without ``SPARK_GRAFT_LOCAL_DIR`` Spark picks its own
``spark.local.dir``.
"""

from __future__ import annotations

import atexit
import functools
import os
import shutil
import tempfile
import uuid

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


@functools.cache
def scratch_base() -> str:
    """This process's scratch root, made by the first call under
    ``$SPARK_GRAFT_SCRATCH_DIR`` (else the temp directory) and removed at
    normal interpreter exit; a killed process leaves it on disk. Made
    lazily, so Python workers, which import the engine, make none."""
    parent = os.environ.get("SPARK_GRAFT_SCRATCH_DIR") or None
    root = tempfile.mkdtemp(prefix="spark-graft-", dir=parent)
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    return root


def ckpt_dir(prefix: str) -> str:
    """A fresh streaming-checkpoint path under ``<root>/ckpt``. It goes
    with the root at exit, so a stream that must resume in a later
    process passes a checkpoint path of its own."""
    return os.path.join(scratch_base(), "ckpt", f"{prefix}-{uuid.uuid4().hex}")


def _conf(master: str | None, shuffle_partitions: int | None) -> dict[str, str]:
    conf = {
        "spark.master": master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.parquet.filterPushdown": "true",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        "spark.ui.enabled": "false",
        # per process: sessions sharing one warehouse race on overwrites
        "spark.sql.warehouse.dir": os.environ.get("SPARK_GRAFT_WAREHOUSE")
        or os.path.join(scratch_base(), "warehouse"),
    }
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        conf["spark.local.dir"] = local_dir
    return conf


def _register_warehouse_tables(spark: SparkSession) -> None:
    """Register each table directory of a local warehouse that the
    default database lacks: the in-memory catalog starts empty, so a
    reused warehouse would list nothing and re-creating a table would
    fail with ``LOCATION_ALREADY_EXISTS``. Tables come back as external
    Parquet (schema read from the files, one Spark job each; bucket and
    partition specs are lost; ``DROP TABLE`` keeps the files). A
    directory without a data file has no schema and is left alone."""
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    if not os.path.isdir(warehouse):
        return
    with os.scandir(warehouse) as entries:
        tables = [e for e in entries if e.is_dir() and not e.name.startswith(("_", "."))]
    for entry in tables:
        table = "default.`" + entry.name.replace("`", "``") + "`"
        if (
            not entry.name.endswith(".db")
            and not spark.catalog.tableExists(table)
            and any(not f.startswith(("_", ".")) for f in os.listdir(entry.path))
        ):
            spark.catalog.createTable(table, path=entry.path, source="parquet")


def get_spark(
    app_name: str = "data-ingestion-tool-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the shared SparkSession with engine defaults and
    the warehouse's tables registered."""
    conf = {**_conf(master, shuffle_partitions), **(extra_conf or {})}
    spark = SparkSession.builder.appName(app_name).config(map=conf).getOrCreate()
    _register_warehouse_tables(spark)
    return spark


def apply_session_defaults(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-created
    session (the driver passes us its own SparkSession in ``entry``)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
        spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    except Exception:
        pass  # non-runtime-settable on some builds; static conf already covers ours
    return spark
