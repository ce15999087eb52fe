"""Source/sink + catalog queries (reference R1/R2/R5-R9).

The CSV roundtrips exercise the engine's reference-compatible reader/
writer semantics end-to-end: distributed write to a scratch dir, then a
distributed re-read, checked against DuckDB reading the original
parquet. ``ingest_append_count`` exercises the auto-create + append
policy (R8/R9)."""

from __future__ import annotations

import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import columns_df
from ..plans.pin import pin
from ..sources import (
    ingest_append,
    read_csv_compat,
    read_csv_inferred,
    read_table,
    write_csv,
)
from .registry import dsum, query, sql_dsum
from ..session import scratch_base


def _scratch(name: str) -> str:
    """Unique scratch dir for a sink/roundtrip query, under this
    process's own scratch root (``session.scratch_base``), which is
    removed at normal exit. The caller returns a LAZY DataFrame over
    the path, so the query itself never cleans up."""
    d = os.path.join(scratch_base(), "spark-graft-scratch", f"{name}-{uuid.uuid4().hex[:8]}")
    os.makedirs(d, exist_ok=True)
    return d


@query(
    "csv_roundtrip_strings",
    oracle="""
    SELECT CAST(c_custkey AS VARCHAR) AS c_custkey, c_name,
           CAST(c_nationkey AS VARCHAR) AS c_nationkey, c_mktsegment
    FROM customer
    """,
)
def csv_roundtrip_strings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R6+R7 compat roundtrip: export to CSV, re-read all-string
    (``dtype=str, na_filter=False`` semantics — empty stays '')."""
    out = _scratch("csvrt")
    try:
        c = read_table(spark, sf_dir, "customer").select(
            "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
        )
        write_csv(c, out)
        return read_csv_compat(spark, out).select(
            "c_custkey", "c_name", "c_nationkey", "c_mktsegment"
        )
    except Exception:
        shutil.rmtree(out, ignore_errors=True)
        raise


@query(
    "csv_gzip_roundtrip",
    oracle="""
    SELECT CAST(o_orderkey AS VARCHAR) AS o_orderkey, o_orderstatus,
           o_orderpriority, strftime(o_orderdate, '%Y-%m-%d') AS o_date
    FROM orders
    """,
)
def csv_gzip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compressed-text ingest/export: the same lossless CSV roundtrip
    through gzip — at 100 TB compressed text is the NORM for flat-file
    interchange, and gzip's non-splittability is the scale trap this
    query documents: each .csv.gz is exactly one read task, so write
    parallelism (one file per task) must be sized to the downstream
    read (write_csv docstring; bzip2/zstd are the splittable outs).
    The read back is all-string compat semantics, hash-checked against
    the source table."""
    out = _scratch("csvgz")
    try:
        from ..operators.partitioning import spread

        # Round 14: keyed spread before the gzip write — one .csv.gz
        # per task means the write AND the non-splittable read back
        # both run cores-wide instead of at the single-row-group scan
        # width (solo 0.82 -> 0.51s); exactly the "size write
        # parallelism to the downstream read" rule this query documents.
        o = spread(
            read_table(spark, sf_dir, "orders").select(
                "o_orderkey",
                "o_orderstatus",
                "o_orderpriority",
                F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_date"),
            ),
            by=["o_orderkey"],
        )
        write_csv(o, out, compression="gzip")
        gz = [f for f in os.listdir(out) if f.endswith(".csv.gz")]
        if not gz:  # guard: silent no-compression would still hash-match
            raise RuntimeError(f"expected .csv.gz part files in {out}")
        return read_csv_compat(spark, out).select(
            "o_orderkey", "o_orderstatus", "o_orderpriority", "o_date"
        )
    except Exception:
        shutil.rmtree(out, ignore_errors=True)
        raise


@query(
    "csv_infer_types",
    oracle="SELECT c_custkey, c_acctbal, c_mktsegment FROM customer",
)
def csv_infer_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same roundtrip with real inference — the behavior the reference's
    dead type-mapping (main.py:250-256) intended. Doubles round-trip
    exactly (shortest-repr write, exact parse)."""
    out = _scratch("csvinf")
    c = read_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_acctbal", "c_mktsegment"
    )
    write_csv(c, out)
    df = read_csv_inferred(spark, out)
    return df.select(
        F.col("c_custkey").cast("bigint").alias("c_custkey"),
        F.col("c_acctbal").cast("double").alias("c_acctbal"),
        F.col("c_mktsegment").cast("string").alias("c_mktsegment"),
    )


@query(
    "ingest_append_count",
    oracle="SELECT CAST(2 * COUNT(*) AS BIGINT) AS cnt FROM orders",
)
def ingest_append_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R8+R9: auto-create on first append, append again (first-writer-
    defines-schema policy), count the result."""
    out = os.path.join(_scratch("ingest"), "orders_tbl")
    o = read_table(spark, sf_dir, "orders")
    ingest_append(o, out, max_records_per_file=10_000)
    ingest_append(o, out, max_records_per_file=10_000)
    n = spark.read.parquet(out).count()
    return spark.createDataFrame([(n,)], "cnt bigint")


@query(
    "catalog_list_columns",
    oracle="""
    SELECT * FROM (VALUES
      ('l_orderkey', 'bigint'), ('l_partkey', 'bigint'),
      ('l_suppkey', 'bigint'), ('l_linenumber', 'int'),
      ('l_quantity', 'double'), ('l_extendedprice', 'double'),
      ('l_discount', 'double'), ('l_tax', 'double'),
      ('l_returnflag', 'string'), ('l_linestatus', 'string'),
      ('l_shipdate', 'timestamp')
    ) AS t(col_name, data_type)
    """,
)
def catalog_list_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2 DESCRIBE equivalent as a DataFrame of (col_name, data_type),
    now oracle-PINNED: the expected schema rides in a VALUES constant,
    so a silent reader-level type drift (a parquet upgrade flipping a
    column's logical type) breaks the gate instead of passing a
    rows-only count. `timestamp_ntz` normalizes to `timestamp` in the
    output — Spark ≥4.1 reads the parquet µs column as NTZ where ≤4.0
    said timestamp; the DESCRIBE surface reports the version-stable
    logical name (the session is pinned UTC, so they denote the same
    instants — sources/parquet_io.read_events applies the same
    equivalence to the data itself)."""
    cols = columns_df(spark, read_table(spark, sf_dir, "lineitem"))
    return cols.select(
        "col_name",
        F.when(F.col("data_type") == "timestamp_ntz", "timestamp")
        .otherwise(F.col("data_type"))
        .alias("data_type"),
    )


@query(
    "json_roundtrip",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey FROM nation
    """,
)
def json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + source: distributed write of nation to
    newline-delimited JSON, schema-pinned re-read (no sampling pass —
    at scale, explicit schemas make JSON reads single-pass)."""
    out = _scratch("jsonrt")
    n = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    n.write.mode("overwrite").json(out)
    return spark.read.schema(
        "n_nationkey bigint, n_name string, n_regionkey bigint"
    ).json(out)


@query(
    "orc_roundtrip",
    oracle="SELECT s_suppkey, s_name, s_acctbal FROM supplier",
)
def orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + source — the third columnar interchange format a
    switcher might hold data in (schema travels in the ORC footer)."""
    out = _scratch("orcrt")
    s = read_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_acctbal"
    )
    s.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@query(
    "datasource_python_connector",
    oracle="""
    SELECT user_id,
           COUNT(*) AS cnt,
           CAST(SUM(CAST(amount AS DECIMAL(18,1))) AS DOUBLE) AS total_amount
    FROM (SELECT i AS event_id, i % 97 AS user_id,
                 (i * 31) % 1000 / 10.0 AS amount
          FROM range(10000) t(i))
    GROUP BY user_id
    """,
)
def datasource_python_connector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource end-to-end: register the connector,
    plan 8 row-range partitions driver-side, generate executor-side,
    aggregate. The oracle replays the connector's pure arithmetic over
    DuckDB's range() — a hash-checked connector correctness gate."""
    from ..sources.pyds import register_synthetic_source

    register_synthetic_source(spark)
    df = (
        spark.read.format("synthetic_rows")
        .option("rows", 10_000)
        .option("partitions", 8)
        .load()
    )
    return df.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum(F.col("amount").cast("decimal(18,1)")).cast("double").alias(
            "total_amount"
        ),
    )


@query(
    "ingest_bucketed_join",
    oracle=f"""
    SELECT o_orderpriority, COUNT(*) AS n_lines,
           {sql_dsum('l_extendedprice')} AS sum_price
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def ingest_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact join over BUCKETED tables: both sides pre-hashed into
    8 buckets on the join key at ingest, so the SortMergeJoin runs with
    NO Exchange on either side (tests/test_plans.py asserts it) — at
    100 TB this converts the dominant per-query shuffle into a one-time
    ingest cost. merge hint keeps the comparison honest (a broadcast
    would hide the layout win at toy scale)."""
    from ..operators.bucketing import ensure_bucketed

    lb = ensure_bucketed(spark, sf_dir, "lineitem", "l_orderkey")
    ob = ensure_bucketed(spark, sf_dir, "orders", "o_orderkey")
    return (
        lb.hint("merge")
        .join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            dsum("l_extendedprice").alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "ingest_compact_small_files",
    oracle="""
    SELECT CAST(64 AS INT) AS n_files_before,
           CAST(CEIL(COUNT(*) / 20000.0) AS INT) AS n_files_after,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS keysum
    FROM orders
    """,
)
def ingest_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table maintenance: fragment orders into 64 tiny appended files
    (the shape a micro-batched ingest leaves behind), compact to
    20k-row targets, and report layout before/after + content checksum.
    Compaction is coalesce-based — NO shuffle (operators/compaction.py);
    the checksum (count + keysum) proves the rewrite is lossless.

    Promoted from rows-only to a full DuckDB-hash oracle (round-4
    verdict item 6): file counts are now assertable because the layout
    is deterministic BY CONSTRUCTION — repartition(64) writes exactly
    64 non-empty files, and the row-targeted compactor writes exactly
    ceil(n_rows / 20000) files regardless of encodings or compression
    (the byte-targeted compact_parquet stays unit-tested in
    tests/test_compaction.py — its file count depends on physical
    bytes, which no engine-independent oracle can know)."""
    from ..operators.compaction import compact_parquet_rows, parquet_file_stats

    o = read_table(spark, sf_dir, "orders")
    frag = _scratch("frag")
    dst = _scratch("compact")
    o.repartition(64).write.mode("overwrite").parquet(frag)
    n_before, _ = parquet_file_stats(frag)
    compacted = compact_parquet_rows(spark, frag, dst, target_rows=20_000)
    n_after, _ = parquet_file_stats(dst)
    return spark.createDataFrame(
        [(n_before, n_after)], "n_files_before int, n_files_after int"
    ).crossJoin(
        compacted.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("o_orderkey").cast("bigint").alias("keysum"),
        )
    )


@query(
    "quality_profile_table",
    oracle="""
    SELECT 'l_orderkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN l_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(MIN(l_orderkey) AS DOUBLE) AS min_num,
           CAST(MAX(l_orderkey) AS DOUBLE) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
    FROM lineitem
    UNION ALL
    SELECT 'l_quantity', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN l_quantity IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(MIN(l_quantity) AS DOUBLE), CAST(MAX(l_quantity) AS DOUBLE),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
    FROM lineitem
    UNION ALL
    SELECT 'l_extendedprice', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN l_extendedprice IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(MIN(l_extendedprice) AS DOUBLE), CAST(MAX(l_extendedprice) AS DOUBLE),
           CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR)
    FROM lineitem
    UNION ALL
    SELECT 'l_returnflag', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN l_returnflag IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           MIN(l_returnflag), MAX(l_returnflag)
    FROM lineitem
    """,
)
def quality_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality profile of lineitem (completeness + range per
    column) in ONE scan — all metrics live in a single agg() so a
    100 TB table pays one pass, not one per column, and the DEFAULT
    approx-distinct path plans NO Expand (exact count_distinct over k
    columns replicates every row k times — the r2 scale-killer).

    ``n_distinct`` is HLL-approximate here, so it is dropped from the
    hash-compared output (cross-engine HLL values differ); its accuracy
    is pinned by a unit test and its exact twin is oracle-checked on
    `quality_profile_exact_distinct`. The oracle's four-scan UNION ALL
    computes the same numbers the slow way."""
    from ..operators.profile import profile_table

    l = read_table(spark, sf_dir, "lineitem")
    return profile_table(
        l, ["l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag"]
    ).drop("n_distinct")


@query(
    "quality_profile_exact_distinct",
    oracle="""
    SELECT 'o_custkey' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           CAST(MIN(o_custkey) AS DOUBLE) AS min_num,
           CAST(MAX(o_custkey) AS DOUBLE) AS max_num,
           CAST(NULL AS VARCHAR) AS min_str, CAST(NULL AS VARCHAR) AS max_str
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus', CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT),
           CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
           MIN(o_orderstatus), MAX(o_orderstatus)
    FROM orders
    """,
)
def quality_profile_exact_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-cardinality profile (``exact_distinct=True``) on the
    smaller orders table — the opt-in path for uniqueness audits where
    exact distinct counts are worth the Expand (k× shuffle volume for k
    profiled columns; fine here, not for a 100 TB profiling pass)."""
    from ..operators.profile import profile_table

    o = read_table(spark, sf_dir, "orders")
    return profile_table(
        o, ["o_custkey", "o_orderstatus"], exact_distinct=True
    )


@query(
    "ingest_zorder_prune",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(l_quantity * 100 AS BIGINT)) AS BIGINT) AS qty_c
    FROM lineitem
    WHERE l_partkey <= 100 AND l_suppkey <= 10
    """,
)
def ingest_zorder_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) layout round-trip: lineitem re-written
    clustered on (l_partkey, l_suppkey), then a two-dimensional filter
    aggregated from the copy — values must equal the original-table
    oracle exactly. The LAYOUT benefit (every file a tight bounding box
    in both dims, so footer stats prune on either predicate — plain
    ORDER BY only prunes its first key) is measured against parquet
    metadata in tests/test_zorder.py; at 100 TB this is the OPTIMIZE
    ZORDER BY primitive that turns multi-dim point queries from
    full-table scans into a handful of files."""
    from ..operators.zorder import zorder_write

    l = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    dest = _scratch("zo")
    zorder_write(l, ["l_partkey", "l_suppkey"], dest)
    z = spark.read.parquet(dest).filter(
        (F.col("l_partkey") <= 100) & (F.col("l_suppkey") <= 10)
    )
    return z.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum((F.col("l_quantity") * 100).cast("bigint"))
        .cast("bigint")
        .alias("qty_c"),
    )


@query(
    "ingest_checksum_validation",
    oracle="""
    WITH h AS (
      SELECT CAST(CONCAT('0x', substring(md5(
               concat_ws('|', CAST(l_orderkey AS VARCHAR),
                              CAST(l_linenumber AS VARCHAR),
                              l_returnflag,
                              CAST(l_shipdate AS VARCHAR))
             ), 1, 15)) AS BIGINT) % 1000000007 AS hv
      FROM lineitem
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(hv) AS BIGINT) AS checksum
    FROM h
    """,
)
def ingest_checksum_validation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive content checksum for migration validation —
    the step after the reference's row-count check (`backend/main.py`
    ingest returns only counts): md5 each row's canonical
    pipe-delimited key-column string, fold the first 15 hex digits to
    a bigint mod 1e9+7, SUM. Equal counts AND equal checksums ⇒ the
    copy moved the right rows, not just the right number of rows.
    Canonical strings stick to int/string/date renderings (identical
    across engines; float formatting is not).

    Scale shape: embarrassingly parallel map + one scalar aggregate —
    runs at scan speed, no shuffle beyond the final partial-sum merge.
    Round 14: keyed :func:`spread` of the 4 key columns fans the
    per-row md5 off the single-row-group scan task (solo
    1.09 -> 0.51s); a plan no-op on multi-row-group layouts.
    """
    from ..operators.partitioning import spread

    li = spread(
        read_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_linenumber", "l_returnflag", "l_shipdate"
        ),
        by=["l_orderkey", "l_linenumber"],
    )
    canon = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_returnflag"),
        F.col("l_shipdate").cast("string"),
    )
    hv = F.expr(
        "CAST(conv(substring(md5(concat_ws('|', CAST(l_orderkey AS STRING),"
        " CAST(l_linenumber AS STRING), l_returnflag,"
        " CAST(l_shipdate AS STRING))), 1, 15), 16, 10) AS BIGINT)"
        " % 1000000007"
    )
    return li.select(hv.alias("hv")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("hv").cast("bigint").alias("checksum"),
    )


@query(
    "ingest_schema_evolution",
    oracle="""
    WITH merged AS (
      SELECT o_orderkey, o_orderstatus, NULL AS o_totalprice
      FROM orders WHERE o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, o_totalprice
      FROM orders WHERE o_orderkey % 2 = 1
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(o_totalprice) AS BIGINT) AS n_with_price
    FROM merged GROUP BY o_orderstatus
    """,
)
def ingest_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: batch 1 lands WITHOUT the price
    column (an early producer), batch 2 adds it; `mergeSchema=true`
    unions the footers so old files surface NULLs for the new column —
    the append-only lake's answer to ALTER TABLE. The count/non-null
    profile proves which rows carry the evolved column.

    Scale shape: schema merge is a footer-only planning step (no data
    rewrite); the aggregate is one map-side-combinable pass. In
    production you'd cap mergeSchema's footer sampling or pin the
    schema in the catalog — noted because at 100 TB footer listing is
    itself a job.
    """
    o = read_table(spark, sf_dir, "orders")
    dest = _scratch("evo")
    (
        o.where(F.col("o_orderkey") % 2 == 0)
        .select("o_orderkey", "o_orderstatus")
        .write.mode("overwrite")
        .parquet(os.path.join(dest, "b=1"))
    )
    (
        o.where(F.col("o_orderkey") % 2 == 1)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.mode("overwrite")
        .parquet(os.path.join(dest, "b=2"))
    )
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(dest, "b=1"), os.path.join(dest, "b=2")
    )
    return merged.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("o_totalprice").alias("n_with_price"),
    )


@query(
    "ingest_dynamic_partition_overwrite",
    oracle="""
    WITH final AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      FROM orders WHERE o_orderstatus <> 'O'
      UNION ALL
      SELECT o_orderkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 2
      FROM orders WHERE o_orderstatus = 'O'
    )
    SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM final GROUP BY o_orderstatus
    """,
)
def ingest_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition overwrite — the idempotent-backfill primitive:
    seed a status-partitioned table, then rewrite ONLY the 'O'
    partition (doubled cents mark the rewrite); partitions the second
    write doesn't touch survive untouched. With the static (default)
    mode the second write would have wiped them — this is the
    difference between re-running one day's backfill and deleting the
    table.

    Scale shape: both writes shuffle-free (partitionBy on write);
    overwrite granularity is the partition directory, so a backfill
    rewrites only the partitions it produces.
    """
    o = read_table(spark, sf_dir, "orders")
    cents = F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
    base = o.select("o_orderkey", "o_orderstatus", cents.alias("cents"))
    dest = _scratch("dpo")
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        base.write.partitionBy("o_orderstatus").mode("overwrite").parquet(dest)
        (
            base.where(F.col("o_orderstatus") == "O")
            .withColumn("cents", F.col("cents") * 2)
            .write.partitionBy("o_orderstatus")
            .mode("overwrite")
            .parquet(dest)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    out = spark.read.parquet(dest)
    return out.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )


@query(
    "catalog_row_counts_all_tables",
    oracle="""
    SELECT 'region' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows FROM region
    UNION ALL SELECT 'nation', COUNT(*) FROM nation
    UNION ALL SELECT 'customer', COUNT(*) FROM customer
    UNION ALL SELECT 'supplier', COUNT(*) FROM supplier
    UNION ALL SELECT 'part', COUNT(*) FROM part
    UNION ALL SELECT 'orders', COUNT(*) FROM orders
    UNION ALL SELECT 'lineitem', COUNT(*) FROM lineitem
    UNION ALL SELECT 'events', COUNT(*) FROM events
    UNION ALL SELECT 'documents', COUNT(*) FROM documents
    UNION ALL SELECT 'embeddings', COUNT(*) FROM embeddings
    """,
)
def catalog_row_counts_all_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-catalog row-count audit — the reference's signature
    operation (count-after-load, `backend/main.py:289-291`) run across
    every table at once. Parquet COUNT(*) resolves from footer
    statistics (no data pages read), so this audits a 100 TB catalog
    in metadata time.
    """
    from functools import reduce

    from ..sources.parquet_io import TPCH_TABLES

    parts = [
        read_table(spark, sf_dir, t).agg(
            F.lit(t).alias("table_name"), F.count(F.lit(1)).alias("n_rows")
        )
        for t in TPCH_TABLES
    ]
    return reduce(lambda a, b: a.unionByName(b), parts)


@query(
    "ingest_file_metadata_stats",
    oracle="""
    SELECT o_orderstatus,
           CAST(1 AS BIGINT) AS n_files,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(o_orderkey) AS BIGINT) AS max_key
    FROM orders GROUP BY o_orderstatus
    """,
)
def ingest_file_metadata_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-FILE ingest accounting via the ``_metadata`` hidden column
    (Spark's file-source metadata struct): write orders
    hive-partitioned by status with one file per partition (repartition
    on the partition key first — each status lands in exactly one task,
    so exactly one data file), read back selecting
    ``_metadata.file_name``, and report rows/key-range per partition
    with the observed distinct-file count. The oracle restates the
    semantic content (per-status counts + the one-file-per-partition
    invariant) over the source view — file NAMES are engine-private,
    file STATS are not.

    Scale shape: the repartition is the one shuffle; `_metadata` is
    scan-local (no extra read). The one-file-per-partition layout is
    the compaction contract small-file-sensitive lakes want anyway.
    """
    out = os.path.join(_scratch("fmeta"), "orders_by_status")
    orders = read_table(spark, sf_dir, "orders")
    (
        orders.repartition("o_orderstatus")
        .write.mode("overwrite")
        .partitionBy("o_orderstatus")
        .parquet(out)
    )
    back = spark.read.parquet(out).select(
        "o_orderstatus",
        "o_orderkey",
        F.col("_metadata.file_name").alias("fname"),
    )
    return back.groupBy("o_orderstatus").agg(
        F.count_distinct("fname").cast("bigint").alias("n_files"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
        F.max("o_orderkey").cast("bigint").alias("max_key"),
    )


@query(
    "ingest_row_level_delete",
    oracle="""
    WITH del AS (
      SELECT o_orderkey FROM orders WHERE o_orderkey % 97 = 0
    ),
    kept AS (
      SELECT o.* FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM del d
                        WHERE d.o_orderkey = o.o_orderkey)
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS revenue_cents
    FROM kept GROUP BY o_orderstatus
    """,
)
def ingest_row_level_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level delete in an immutable parquet lake (the GDPR
    right-to-be-forgotten / CCPA purge shape): a deletion keyset
    anti-joins the table and the SURVIVORS rewrite to a new snapshot;
    the verified read comes from the rewritten files, so the oracle
    (NOT EXISTS over the source view) proves the delete touched exactly
    the requested keys and nothing else.

    Scale shape: the deletion list is the small side — Catalyst plans
    the anti-join broadcast; the rewrite is a straight scan→filter→
    write with no shuffle. Production refinement (same code): partition
    the lake so the rewrite touches only files containing victims
    (_metadata.file_name prefilter), which is Delta/Iceberg's
    delete-file strategy re-expressed as plain parquet rewrite.
    """
    out = os.path.join(_scratch("rld"), "orders_purged")
    orders = read_table(spark, sf_dir, "orders")
    victims = orders.filter(F.col("o_orderkey") % 97 == 0).select("o_orderkey")
    kept = orders.join(F.broadcast(victims), "o_orderkey", "left_anti")
    kept.write.mode("overwrite").parquet(out)
    back = spark.read.parquet(out)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
        F.sum(F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
        .cast("bigint")
        .alias("revenue_cents"),
    )


@query(
    "ingest_csv_malformed_permissive",
    oracle="""
    WITH src AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 50 = 0 THEN NULL ELSE o_orderkey END
               AS k_parsed
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN k_parsed IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_corrupt,
           CAST(SUM(k_parsed) AS BIGINT) AS sum_good_keys
    FROM src
    """,
)
def ingest_csv_malformed_permissive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-row tolerance on CSV ingest (PERMISSIVE mode + corrupt-
    record column — the error posture a production loader needs where
    the reference's pandas path would abort the whole file,
    backend/main.py:234): every 50th order row is written with a
    non-numeric key ('BAD<k>'), the typed re-read parses what it can,
    quarantines the rest into ``_corrupt_record``, and the counts —
    total rows, corrupt rows, and the sum of successfully-parsed keys —
    hash against the closed-form oracle. Row-level error isolation, not
    job failure.

    Scale shape: write + re-read are one pass each; the corrupt-record
    column is scan-local. The quarantine pattern (filter on corrupt IS
    NOT NULL → dead-letter sink) drops straight out of this plan.
    """
    out = _scratch("csvperm")
    o = read_table(spark, sf_dir, "orders").select("o_orderkey")
    dirty = o.select(
        F.when(
            F.col("o_orderkey") % 50 == 0,
            F.concat(F.lit("BAD"), F.col("o_orderkey").cast("string")),
        )
        .otherwise(F.col("o_orderkey").cast("string"))
        .alias("k")
    )
    dirty.write.mode("overwrite").option("header", True).csv(out)
    back = (
        spark.read.schema("k LONG, _corrupt_record STRING")
        .option("header", True)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    )
    return back.groupBy().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("n_corrupt"),
        F.sum("k").cast("bigint").alias("sum_good_keys"),
    )


@query(
    "ingest_snapshot_diff",
    oracle="""
    WITH v1 AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
      WHERE o_orderkey % 11 <> 0
    ),
    v2 AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice + 1.0
                  ELSE o_totalprice END AS o_totalprice
      FROM orders WHERE o_orderkey % 13 <> 0
    ),
    d AS (
      SELECT COALESCE(a.o_orderkey, b.o_orderkey) AS k,
             CASE WHEN a.o_orderkey IS NULL THEN 'added'
                  WHEN b.o_orderkey IS NULL THEN 'removed'
                  WHEN a.o_totalprice <> b.o_totalprice
                       OR a.o_orderstatus <> b.o_orderstatus THEN 'changed'
                  ELSE 'unchanged' END AS change
      FROM v1 a FULL OUTER JOIN v2 b ON a.o_orderkey = b.o_orderkey
    )
    SELECT change, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(MIN(k) AS BIGINT) AS min_key,
           CAST(MAX(k) AS BIGINT) AS max_key
    FROM d GROUP BY change
    """,
)
def ingest_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot reconciliation (the nightly "what changed between
    loads" diff): two versions of the orders table — v2 drops some
    keys, adds others back, and perturbs some prices — full-outer join
    on the key classifies every row added / removed / changed /
    unchanged, rolled up with key ranges. The change predicate compares
    the 2-decimal price directly (exact equality of identically-derived
    doubles; a +1.0 perturbation can't land within an ulp).

    Scale shape: ONE full-outer shuffle join on the key — the minimal
    plan for a keyed diff; at 100 TB both sides bucket/sort by the same
    key so the join co-locates. Row-level hashes (md5 of concatenated
    columns) swap in for the column compares when schemas are wide.
    """
    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    v1 = o.filter(F.col("o_orderkey") % 11 != 0)
    v2 = o.filter(F.col("o_orderkey") % 13 != 0).select(
        "o_orderkey",
        "o_orderstatus",
        F.when(
            F.col("o_orderkey") % 7 == 0, F.col("o_totalprice") + 1.0
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    a = v1.alias("a")
    b = v2.alias("b")
    j = a.join(b, F.col("a.o_orderkey") == F.col("b.o_orderkey"), "full_outer")
    change = (
        F.when(F.col("a.o_orderkey").isNull(), "added")
        .when(F.col("b.o_orderkey").isNull(), "removed")
        .when(
            (F.col("a.o_totalprice") != F.col("b.o_totalprice"))
            | (F.col("a.o_orderstatus") != F.col("b.o_orderstatus")),
            "changed",
        )
        .otherwise("unchanged")
    )
    d = j.select(
        F.coalesce(F.col("a.o_orderkey"), F.col("b.o_orderkey")).alias("k"),
        change.alias("change"),
    )
    return d.groupBy("change").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("k").cast("bigint").alias("min_key"),
        F.max("k").cast("bigint").alias("max_key"),
    )


# ---------------------------------------------------------------------------
# Binary-file source (opaque file ingest + byte-exact checksum)
# ---------------------------------------------------------------------------


@query(
    "ingest_binaryfile_source",
    oracle="""
    SELECT CAST(strlen(s) AS BIGINT) AS n_bytes, md5(s) AS content_md5
    FROM (
      SELECT string_agg(
               CAST(c_custkey AS VARCHAR) || ',' || c_name,
               chr(10) ORDER BY c_custkey) || chr(10) AS s
      FROM customer
    )
    """,
)
def ingest_binaryfile_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque binary-file ingestion via Spark's ``binaryFile`` source —
    the entry point for multimodal/raw-asset pipelines (images, audio,
    model shards) where files are rows. Round-trip proof: export
    customer keys+names as ONE deterministic CSV file (global sort,
    single partition), re-ingest it as bytes, and emit the byte length
    + md5 — which the oracle reproduces by concatenating the same
    ordered lines in SQL. Byte-exact equality across the writer, the
    binary reader, and an independent engine. Lines are built with
    ``concat_ws`` and written via the ``text`` sink so CSV quoting/
    escaping can never engage (the oracle's plain string_agg has no
    quoting notion; ADVICE r4 — previously this silently relied on
    c_name containing no commas/quotes/newlines).

    Scale shape: the single-file export is a deliberate fixture-scale
    choice so content is byte-addressable; at fleet scale you keep one
    file per partition and aggregate per-file digests instead (the
    logical-content twin is ingest_checksum_validation). The binaryFile
    scan itself is embarrassingly parallel — one task per file,
    payloads never hit the driver.
    """
    out = _scratch("binsrc")
    c = (
        read_table(spark, sf_dir, "customer")
        .select(
            "c_custkey",
            F.concat_ws(
                ",", F.col("c_custkey").cast("string"), F.col("c_name")
            ).alias("line"),
        )
        .repartition(1)
        .sortWithinPartitions("c_custkey")
        .select("line")
    )
    c.write.mode("overwrite").text(out)
    files = spark.read.format("binaryFile").option(
        "pathGlobFilter", "part-*"
    ).load(out)
    return files.select(
        F.col("length").cast("bigint").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


# ---------------------------------------------------------------------------
# Referential / key constraint audit (dbt-test-style data contracts)
# ---------------------------------------------------------------------------


@query(
    "quality_constraint_audit",
    oracle="""
    WITH dim AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 97 <> 0
    ),
    fact AS (
      SELECT o_orderkey, o_custkey FROM orders
      UNION ALL
      SELECT o_orderkey, o_custkey FROM orders WHERE o_orderkey % 101 = 0
    )
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM fact f
        WHERE NOT EXISTS (SELECT 1 FROM dim d
                           WHERE d.c_custkey = f.o_custkey)) AS orphan_rows,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM
        (SELECT o_orderkey FROM fact GROUP BY o_orderkey
          HAVING COUNT(*) > 1)) AS duplicate_keys,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM fact
        WHERE o_custkey IS NULL) AS null_fks,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM fact) AS n_rows
    """,
)
def quality_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract audit (the dbt-tests of an ingest pipeline) over a
    deliberately degraded fixture: a dimension with ~1% of customers
    MISSING (late-arriving dim) and a fact stream with ~1% of orders
    DOUBLE-DELIVERED (at-least-once ingest). Reports referential
    orphans (fact FK with no dim row), duplicate primary keys, NULL
    FKs, and total rows — nonzero, data-derived counts, so the hash
    check proves the audit actually detects the corruption rather than
    rubber-stamping zeros.

    Scale shape: orphans = LEFT ANTI join shuffled on the FK (dim may
    be huge — no broadcast assumption; AQE will broadcast when it IS
    small); duplicate keys = map-side-combinable groupBy on the PK;
    null/total counts ride the same scan. Each audit is one
    shuffle-bounded pass — no windows, no driver-side state.
    """
    o = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    dim = (
        read_table(spark, sf_dir, "customer")
        .select("c_custkey")
        .where(F.col("c_custkey") % 97 != 0)
    )
    # double-delivery via explode, not union-of-two-scans, and pinned:
    # three audit branches off one fact frame read orders ONCE (the
    # union form cost 6 scans in the static plan — round-10 audit)
    fact = (
        o.select(
            "o_orderkey",
            "o_custkey",
            F.explode(
                F.when(
                    F.col("o_orderkey") % 101 == 0,
                    F.array(F.lit(1), F.lit(2)),
                ).otherwise(F.array(F.lit(1)))
            ).alias("_copy"),
        )
        .drop("_copy")
        .transform(pin)
    )
    orphans = fact.join(
        dim, fact.o_custkey == dim.c_custkey, "left_anti"
    ).agg(F.count(F.lit(1)).cast("bigint").alias("orphan_rows"))
    dups = (
        fact.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("c"))
        .where(F.col("c") > 1)
        .agg(F.count(F.lit(1)).cast("bigint").alias("duplicate_keys"))
    )
    base = fact.agg(
        F.sum(F.when(F.col("o_custkey").isNull(), 1).otherwise(0))
        .cast("bigint")
        .alias("null_fks"),
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
    )
    return orphans.crossJoin(dups).crossJoin(base)


# ---------------------------------------------------------------------------
# Idempotent backfill (re-running a partition overwrite changes nothing)
# ---------------------------------------------------------------------------


@query(
    "ingest_backfill_idempotent",
    oracle="""
    SELECT CAST(strftime(o_orderdate, '%Y') AS INT) AS year,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS keysum,
           TRUE AS second_run_identical
    FROM orders
    WHERE strftime(o_orderdate, '%Y') IN ('1996', '1997')
    GROUP BY year
    """,
)
def ingest_backfill_idempotent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent backfill — the property that makes reruns safe: a
    year-partitioned table receives the same two-year backfill TWICE
    via dynamic partition overwrite, and the final state (per-year
    count + keysum) must equal one clean load — the oracle pins the
    counts AND the second run's no-op-ness as a value (the flag
    compares the table checksum between runs in INTEGERS). Append-mode
    backfills double rows on retry; overwrite-by-partition is the
    rerunnable primitive (the streaming twin is the foreachBatch
    batch-id guard in streaming/ingest.py).

    Scale shape: each backfill is a distributed write that touches
    ONLY the backfilled partitions (partitionOverwriteMode=dynamic);
    the state probe is a partition-pruned scan.
    """
    out = os.path.join(_scratch("backfill"), "orders_by_year")
    o = read_table(spark, sf_dir, "orders").withColumn(
        "year", F.year("o_orderdate").cast("int")
    )
    two_years = o.where(F.col("year").isin(1996, 1997))

    def run_backfill() -> None:
        (
            two_years.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("year")
            .parquet(out)
        )

    def state():
        return (
            spark.read.parquet(out)
            .groupBy("year")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("o_orderkey").cast("bigint").alias("keysum"),
            )
        )

    run_backfill()
    first = {
        r["year"]: (r["n_rows"], r["keysum"]) for r in state().collect()
    }
    run_backfill()  # the retry — must be a no-op state-wise
    second = state()
    same = F.lit(
        first
        == {r["year"]: (r["n_rows"], r["keysum"]) for r in second.collect()}
    )
    return second.select(
        F.col("year").cast("int").alias("year"),
        "n_rows",
        "keysum",
        same.alias("second_run_identical"),
    )


# ---------------------------------------------------------------------------
# Batch incremental view maintenance (partition-delta rollup merge)
# ---------------------------------------------------------------------------


@query(
    "ingest_incremental_rollup_merge",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                AS BIGINT) AS value_cents
    FROM events GROUP BY day, event_type
    """,
)
def ingest_incremental_rollup_merge(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Batch incremental view maintenance — the "never rescan history"
    discipline a 100 TB rollup table lives by: a day-partitioned
    (day, event_type) rollup is first built from HISTORY (everything
    before a mid-day cutoff), then a late DELTA arrives (the cutoff
    day's remainder plus the newest day) and is merged by re-
    aggregating ONLY the affected day partitions (read-prune existing
    partitions → union the delta rollup → dynamic partition overwrite
    of just those days). The cutoff lands mid-day on purpose so one
    partition must MERGE existing + delta rows, not just append. The
    oracle is the full recompute over all events — hash-equality
    proves the incremental path reconstructs it exactly (bigint counts
    and exact integer cents; no float drift possible).

    Scale shape: history is aggregated once; the merge touches only
    |affected days| partitions end to end (pruned read, delta
    aggregate, dynamic overwrite). Driver collects: the 1-row max-day
    probe and the ≤|affected-days| distinct-day list — documented
    bounds. The streaming twin is stream_continuous_rollup.
    """
    import datetime

    from ..sources.parquet_io import read_events

    out = os.path.join(_scratch("ivm"), "events_rollup")
    e = read_events(spark, sf_dir).select(
        F.col("ts").cast("date").alias("day"),
        "event_type",
        F.expr("CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)").alias(
            "vc"
        ),
        "ts",
    )

    def rollup(df: DataFrame) -> DataFrame:
        return df.groupBy("day", "event_type").agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("vc").cast("bigint").alias("value_cents"),
        )

    maxd = e.agg(F.max("day")).collect()[0][0]  # 1-row probe
    cutoff = datetime.datetime.combine(
        maxd - datetime.timedelta(days=1), datetime.time(12)
    )
    hist = e.filter(F.col("ts") < F.lit(cutoff))
    delta = e.filter(F.col("ts") >= F.lit(cutoff))

    rollup(hist).write.mode("overwrite").partitionBy("day").parquet(out)

    affected = [
        r["day"] for r in delta.select("day").distinct().collect()
    ]  # ≤ |delta days| (2 here)
    existing = (
        spark.read.parquet(out)
        .filter(F.col("day").isin(affected))
        .select(F.col("day").cast("date").alias("day"), "event_type",
                "n_events", "value_cents")
    )
    merged = (
        existing.unionByName(rollup(delta))
        .groupBy("day", "event_type")
        .agg(
            F.sum("n_events").cast("bigint").alias("n_events"),
            F.sum("value_cents").cast("bigint").alias("value_cents"),
        )
    )
    (
        merged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day")
        .parquet(out)
    )
    final = spark.read.parquet(out)
    return final.select(
        F.col("day").cast("date").alias("day"),
        "event_type",
        "n_events",
        "value_cents",
    )


@query(
    "ingest_txn_log_time_travel",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    v0 AS (SELECT * FROM base WHERE o_orderkey % 3 = 0),
    v1 AS (SELECT * FROM base WHERE o_orderkey % 3 = 1),
    v2 AS (SELECT o_orderkey, o_orderstatus, cents * 2 AS cents
           FROM base WHERE o_orderkey % 3 = 0 AND o_orderstatus <> 'O'),
    snaps AS (
      SELECT 0 AS version, * FROM v0
      UNION ALL SELECT 1, * FROM v0
      UNION ALL SELECT 1, * FROM v1
      UNION ALL SELECT 2, * FROM v1
      UNION ALL SELECT 2, * FROM v2
    )
    SELECT version, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key
    FROM snaps GROUP BY version
    """,
)
def ingest_txn_log_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction-log table format with TIME TRAVEL
    (sources/txnlog.py): three commits — append v0, append v1, then a
    replace that retires v0's batch and adds a recomputed one — and the
    query reads all three SNAPSHOTS after the fact, proving historical
    versions stay readable (v0/v1 are resolved from the log AFTER v2
    retired v0's file) and that replace semantics are exact.

    Scale shape: the log is kilobytes of driver-side JSON (same as a
    Delta/Iceberg manifest head); every snapshot read is a normal
    distributed parquet scan of exactly the live files, so pruning and
    pushdown are unchanged. Commit is atomic put-if-absent on the log
    entry — optimistic concurrency, reads never block."""
    from ..sources.txnlog import TxnLogTable

    o = read_table(spark, sf_dir, "orders")
    cents = F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
    base = o.select("o_orderkey", "o_orderstatus", cents.alias("cents"))
    t = TxnLogTable(spark, _scratch("txnlog"))
    _, b0 = t.commit(base.where(F.col("o_orderkey") % 3 == 0))
    t.commit(base.where(F.col("o_orderkey") % 3 == 1))
    t.commit(
        base.where(
            (F.col("o_orderkey") % 3 == 0) & (F.col("o_orderstatus") != "O")
        ).withColumn("cents", F.col("cents") * 2),
        remove=[b0],
    )
    snaps = [
        t.snapshot(v).withColumn("version", F.lit(v)) for v in (0, 1, 2)
    ]
    allv = snaps[0].unionByName(snaps[1]).unionByName(snaps[2])
    return allv.groupBy("version").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
    )


@query(
    "ingest_txn_log_compact_evolve",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    merged AS (
      SELECT o_orderkey, cents, NULL AS o_orderstatus
      FROM base WHERE o_orderkey % 4 = 0
      UNION ALL
      SELECT o_orderkey, cents, o_orderstatus
      FROM base WHERE o_orderkey % 4 IN (1, 2)
    )
    SELECT COALESCE(o_orderstatus, 'none') AS status,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(4 AS INT) AS n_versions
    FROM merged GROUP BY COALESCE(o_orderstatus, 'none')
    """,
)
def ingest_txn_log_compact_evolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution + log-driven compaction on the transaction-log
    table format: batch 0 has (key, cents), batches 1-2 add a status
    column (ADD COLUMN evolution — merge_schema backfills NULL for old
    rows), then a compaction rewrites all three small batches as ONE
    and commits it atomically with their removal. The final census must
    be byte-identical to the pre-compaction content — compaction is a
    metadata swap, never a data change — and the version count proves
    the log recorded all four commits.

    Scale shape: compaction reads the live set once and writes once
    (the small-files fix at manifest level — at 100 TB this runs
    per-partition with the same one-commit atomicity); the schema
    merge is a footer-only operation per file."""
    from ..sources.txnlog import TxnLogTable

    o = read_table(spark, sf_dir, "orders")
    cents = F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
    base = o.select("o_orderkey", "o_orderstatus", cents.alias("cents"))
    t = TxnLogTable(spark, _scratch("txnev"))
    t.commit(
        base.where(F.col("o_orderkey") % 4 == 0).select("o_orderkey", "cents")
    )
    t.commit(
        base.where(F.col("o_orderkey") % 4 == 1).select(
            "o_orderkey", "cents", "o_orderstatus"
        )
    )
    t.commit(
        base.where(F.col("o_orderkey") % 4 == 2).select(
            "o_orderkey", "cents", "o_orderstatus"
        )
    )
    live = t.live_batches()
    compacted = t.snapshot(merge_schema=True).coalesce(1)
    t.commit(compacted, remove=live)
    final = t.snapshot()
    return (
        final.groupBy(
            F.coalesce("o_orderstatus", F.lit("none")).alias("status")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .withColumn(
            "n_versions", F.lit(len(t.versions())).cast("int")
        )
    )


@query(
    "ingest_txn_log_vacuum",
    oracle="""
    WITH base AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders WHERE o_orderkey % 3 < 2
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(2 AS INT) AS n_removed,
           CAST(1 AS INT) AS n_live_files,
           CAST(3 AS INT) AS n_versions
    FROM base
    """,
)
def ingest_txn_log_vacuum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VACUUM / expire-snapshots on the transaction-log format: two
    appended batches are compacted into one (their tombstones make them
    unreachable from the latest snapshot), then vacuum(retain=1)
    physically deletes exactly the two unreachable batch dirs — never
    a live one — while the log keeps all three versions for audit. The
    post-vacuum snapshot must still serve the full pre-compaction
    content: storage reclaim is invisible to readers of retained
    versions.

    Scale shape: reachability is driver-side manifest math over
    kilobytes of JSON; the data deletes are per-batch object-store
    removals. The snapshot read stays one distributed parquet scan."""
    from ..sources.txnlog import TxnLogTable

    o = read_table(spark, sf_dir, "orders")
    cents = F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
    base = o.select("o_orderkey", cents.alias("cents"))
    t = TxnLogTable(spark, _scratch("txnvac"))
    t.commit(base.where(F.col("o_orderkey") % 3 == 0))
    t.commit(base.where(F.col("o_orderkey") % 3 == 1))
    live = t.live_batches()
    t.commit(t.snapshot().coalesce(1), remove=live)
    removed = t.vacuum(retain_versions=1)
    n_live = len(t.live_batches())
    # Eager summary: the snapshot must be readable AFTER the physical
    # deletes, which is the property under test.
    return t.snapshot().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.lit(len(removed)).cast("int").alias("n_removed"),
        F.lit(n_live).cast("int").alias("n_live_files"),
        F.lit(len(t.versions())).cast("int").alias("n_versions"),
    )


@query(
    "ingest_txn_log_mor_deletes",
    oracle="""
    WITH base AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    a AS (SELECT * FROM base WHERE o_orderkey % 4 IN (0, 1)),
    b AS (SELECT * FROM base WHERE o_orderkey % 4 IN (1, 2)),
    survivors AS (
      SELECT * FROM a WHERE o_orderkey % 8 NOT IN (0, 1)
      UNION ALL
      SELECT * FROM b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
           CAST(SUM(cents) AS BIGINT) AS sum_cents
    FROM survivors
    """,
)
def ingest_txn_log_mor_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read row-level deletes with SEQUENCE semantics on the
    transaction-log format: v0 appends keys {0,1 mod 4}, v1 commits an
    equality-delete file for {0,1 mod 8} (no data rewrite), v2 appends
    keys {1,2 mod 4}. The MoR snapshot must drop the deleted keys from
    the v0 batch ONLY — the v2 batch RE-INSERTS some of the same keys
    (1 mod 8 ⊂ 1 mod 4) and those survive because their batch postdates
    the delete (Iceberg sequence-number semantics; a naive global
    anti-join would wrongly kill them, which is exactly the bug this
    oracle would catch).

    Scale shape: the delete file is broadcast against one scan of the
    live set; nothing is rewritten until compaction folds tombstones
    in."""
    from ..sources.txnlog import TxnLogTable

    o = read_table(spark, sf_dir, "orders")
    cents = F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
    base = o.select("o_orderkey", cents.alias("cents"))
    t = TxnLogTable(spark, _scratch("txnmor"))
    t.commit(base.where(F.col("o_orderkey") % 4 <= 1))
    t.commit_deletes(
        base.where(F.col("o_orderkey") % 8 <= 1).select("o_orderkey")
    )
    t.commit(
        base.where(
            (F.col("o_orderkey") % 4 == 1) | (F.col("o_orderkey") % 4 == 2)
        )
    )
    snap = t.snapshot_mor("o_orderkey")
    return snap.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.count_distinct("o_orderkey").cast("bigint").alias("n_keys"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
    )


@query(
    "ingest_txn_log_changefeed",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    removed AS (SELECT * FROM base WHERE o_orderkey % 4 = 0),
    added AS (
      SELECT o_orderkey, o_orderstatus, cents * 2 AS cents
      FROM base WHERE o_orderkey % 4 = 0 AND o_orderstatus <> 'O'
      UNION ALL
      SELECT * FROM base WHERE o_orderkey % 4 = 2
    ),
    changes AS (
      SELECT 'insert' AS change_type, a.* FROM added a
      WHERE a.o_orderkey NOT IN (SELECT o_orderkey FROM removed)
      UNION ALL
      SELECT 'delete', r.* FROM removed r
      WHERE r.o_orderkey NOT IN (SELECT o_orderkey FROM added)
      UNION ALL
      SELECT 'update_preimage', r.* FROM removed r
      WHERE r.o_orderkey IN (SELECT o_orderkey FROM added)
      UNION ALL
      SELECT 'update_postimage', a.* FROM added a
      WHERE a.o_orderkey IN (SELECT o_orderkey FROM removed)
    )
    SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS sum_cents,
           CAST(MIN(o_orderkey) AS BIGINT) AS min_key
    FROM changes GROUP BY change_type
    """,
)
def ingest_txn_log_changefeed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed read of the transaction-log format
    (sources/txnlog.py:changefeed): three commits — append evens
    (%4==0), append %4==1, then one commit that REPLACES the first
    batch with recomputed rows (non-'O' orders at doubled cents) while
    appending fresh %4==2 rows — and the feed between v1 and v2
    classifies every changed row as insert / delete /
    update_pre+postimage. The v1 batch (%4==1) is live at both
    versions and is NEVER scanned: the feed's cost is the churn, not
    the table — the property that makes downstream incremental
    consumers (rollup merges, CDC mirrors, index refreshers) viable at
    100 TB.

    Scale shape: manifest math resolves the delta file set driver-side
    (kilobytes of JSON); the classification is four hash semi/anti
    joins over just the delta batches, all on the upsert key."""
    from ..sources.txnlog import TxnLogTable

    o = read_table(spark, sf_dir, "orders")
    cents = F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
    base = o.select("o_orderkey", "o_orderstatus", cents.alias("cents"))
    t = TxnLogTable(spark, _scratch("txnlog_cdf"))
    _, b0 = t.commit(base.where(F.col("o_orderkey") % 4 == 0))
    t.commit(base.where(F.col("o_orderkey") % 4 == 1))
    replacement = base.where(
        (F.col("o_orderkey") % 4 == 0) & (F.col("o_orderstatus") != "O")
    ).withColumn("cents", F.col("cents") * 2)
    fresh = base.where(F.col("o_orderkey") % 4 == 2)
    t.commit(replacement.unionByName(fresh), remove=[b0])
    feed = t.changefeed(1, 2, ["o_orderkey"])
    return feed.groupBy("change_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents"),
        F.min("o_orderkey").cast("bigint").alias("min_key"),
    )


@query(
    "ingest_txn_log_zone_map_skip",
    oracle="""
    SELECT
      CAST((SELECT COUNT(DISTINCT year(o_orderdate)) FROM orders)
           AS BIGINT) AS n_files_total,
      CAST((SELECT COUNT(DISTINCT year(o_orderdate)) FROM orders
            WHERE year(o_orderdate) IN (1995, 1996)) AS BIGINT)
        AS n_files_scanned,
      CAST((SELECT COUNT(*) FROM orders
            WHERE year(o_orderdate) IN (1995, 1996)) AS BIGINT)
        AS rows_read,
      CAST((SELECT COUNT(*) FROM orders
            WHERE o_orderdate BETWEEN DATE '1995-04-01'
                                  AND DATE '1996-03-31') AS BIGINT)
        AS rows_matched
    """,
)
def ingest_txn_log_zone_map_skip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Zone-map data skipping on the transaction-log format: orders
    are committed one immutable batch per o_orderdate YEAR, each
    commit carrying its [zmin, zmax] date range in the log meta
    (Delta/Iceberg per-file stats), and a range query for
    1995-04-01..1996-03-31 consults ONLY the manifest to decide that
    5 of 7 files cannot contain matches. Reports files total/scanned
    and rows read/matched — the skip-ratio audit of any lakehouse
    query profile. All counts exact.

    Scale shape: the prune is driver-side JSON math
    (TxnLogTable.zone_map_prune) — zero data files opened to decide;
    the read is a distributed scan of only the overlapping batches,
    with the residual predicate pushed into the parquet scan. This
    composes with partition pruning: zone maps catch what directory
    layout doesn't."""
    import os as _os

    from ..sources.txnlog import TxnLogTable

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate"
    ).withColumn("y", F.year("o_orderdate"))
    years = sorted(
        r["y"] for r in o.select("y").distinct().collect()
    )  # bounded: TPC-H spans 7 years
    t = TxnLogTable(spark, _scratch("txnlog_zm"))
    for y in years:
        t.commit(
            o.filter(F.col("y") == y).drop("y"),
            meta={"zmin": f"{y}-01-01", "zmax": f"{y}-12-31"},
        )
    lo, hi = "1995-04-01", "1996-03-31"
    scanned, total = t.zone_map_prune(lo, hi)
    df = spark.read.parquet(
        *(_os.path.join(t.root, "data", b) for b in scanned)
    )
    rows_read = df.agg(F.count(F.lit(1)).cast("bigint").alias("rows_read"))
    rows_matched = df.filter(
        F.col("o_orderdate").between(lo, hi)
    ).agg(F.count(F.lit(1)).cast("bigint").alias("rows_matched"))
    head = spark.range(1).select(
        F.lit(total).cast("bigint").alias("n_files_total"),
        F.lit(len(scanned)).cast("bigint").alias("n_files_scanned"),
    )
    return head.crossJoin(rows_read).crossJoin(rows_matched)


@query(
    "ingest_txn_log_ref_pinning",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders WHERE o_orderkey % 2 = 0
    ),
    main AS (
      SELECT o_orderkey, cents * 2 AS cents
      FROM base WHERE o_orderstatus <> 'O'
    )
    SELECT 'train-v1' AS ref_name,
           CAST((SELECT COUNT(*) FROM base) AS BIGINT) AS n_rows,
           CAST((SELECT SUM(cents) FROM base) AS BIGINT) AS sum_cents
    UNION ALL
    SELECT 'main',
           CAST((SELECT COUNT(*) FROM main) AS BIGINT),
           CAST((SELECT SUM(cents) FROM main) AS BIGINT)
    """,
)
def ingest_txn_log_ref_pinning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Named refs (Iceberg tags/branches) on the transaction-log
    format: the curation run tags its output ('train-v1' — the exact
    corpus snapshot a model trained on) and the table keeps evolving
    under it (a replace commit rewrites the data); reading BY NAME
    afterwards returns the pinned bytes while 'main' returns the new
    state. This is the provenance primitive every reproducible
    training pipeline needs — 'rerun eval on what v1 actually saw'
    resolves a name, not a version number someone wrote down.

    Scale shape: a ref is a one-pointer JSON read; both reads are
    normal distributed scans of their snapshot's live files."""
    from ..sources.txnlog import TxnLogTable

    o = read_table(spark, sf_dir, "orders")
    cents = F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
    base = o.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_orderstatus", cents.alias("cents")
    )
    t = TxnLogTable(spark, _scratch("txnlog_refs"))
    _, b0 = t.commit(base)
    t.set_ref("train-v1", 0)
    t.commit(
        base.filter(F.col("o_orderstatus") != "O")
        .withColumn("cents", F.col("cents") * 2)
        .drop("o_orderstatus"),
        remove=[b0],
    )

    def summarize(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("ref_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )

    return summarize(t.snapshot_ref("train-v1"), "train-v1").unionByName(
        summarize(t.snapshot(), "main")
    )


@query(
    "csv_quoted_multiline_roundtrip",
    oracle="""
    WITH t AS (
      SELECT doc_id,
             '"' || text || '",' || chr(10) || text AS tricky
      FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(length(tricky)) AS BIGINT) AS sum_len,
           CAST(SUM(CAST('0x' || substring(md5(tricky), 1, 15) AS BIGINT)
                    % 1000003) AS BIGINT) AS checksum
    FROM t
    """,
)
def csv_quoted_multiline_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """CSV round-trip under the format's nastiest inputs: every value
    embeds double quotes, commas, AND a raw newline (built from
    document text), is written as multi-file quoted CSV with RFC 4180
    double-quote escaping, and read back with multiLine parsing. The
    oracle never touches the files — it computes the count / length /
    md5-checksum aggregate from the source table directly, so the
    differential passes ONLY if the writer+reader pair preserved every
    byte of every value (mangled quoting or newline splitting shifts
    the md5 sum). The checksum folds md5int60 % 1000003 so the sum
    stays in int64 at any row count.

    Scale shape: the round-trip is embarrassingly parallel per file
    (4-way here); the audit aggregate is one map-side-combinable
    reduction. This is the bridge-quality check the reference's CSV
    surface (backend/main.py:217-239) never had."""
    d = read_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        F.expr(
            "'\"' || text || '\",' || char(10) || text"
        ).alias("tricky"),
    )
    out = _scratch("csv_tricky")
    (
        t.repartition(4)
        .write.mode("overwrite")
        .option("header", True)
        .option("escape", '"')
        .csv(out)
    )
    back = (
        spark.read.option("header", True)
        .option("multiLine", True)
        .option("escape", '"')
        .csv(out)
    )
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.length("tricky")).cast("bigint").alias("sum_len"),
        F.sum(
            F.conv(F.substring(F.md5("tricky"), 1, 15), 16, 10).cast(
                "bigint"
            )
            % 1000003
        )
        .cast("bigint")
        .alias("checksum"),
    )


@query(
    "ingest_right_to_be_forgotten",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    erased AS (SELECT * FROM base WHERE o_custkey % 97 = 3),
    kept AS (SELECT * FROM base WHERE o_custkey % 97 <> 3)
    SELECT
      CAST((SELECT COUNT(*) FROM base) AS BIGINT) AS rows_before,
      CAST((SELECT COUNT(*) FROM erased) AS BIGINT) AS rows_erased,
      CAST((SELECT COUNT(*) FROM kept) AS BIGINT) AS rows_after,
      CAST((SELECT COUNT(*) FROM kept WHERE o_custkey % 97 = 3)
           AS BIGINT) AS residual_rows,
      CAST((SELECT SUM(cents) FROM kept) AS BIGINT) AS sum_cents_after
    """,
)
def ingest_right_to_be_forgotten(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The GDPR erasure pipeline on the transaction-log format,
    end-to-end: tombstone a subject's rows (merge-on-read equality
    deletes — instant, no rewrite), COMPACT the merged view into fresh
    batches that physically exclude them, then VACUUM so the original
    files holding the subject's bytes are actually deleted from
    storage — and audit the result by re-scanning the final snapshot
    for the subject (residual_rows must be 0). The three-step split
    matters operationally: the tombstone satisfies the read-path
    immediately; the compaction+vacuum bound the physical-erasure SLA
    independently of query traffic.

    Scale shape: tombstones are a broadcast anti-join at read;
    compaction is one distributed rewrite of affected batches; vacuum
    is driver-side manifest math + parallel file deletes."""
    from ..sources.txnlog import TxnLogTable

    o = read_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        "o_custkey",
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .alias("cents"),
    )
    t = TxnLogTable(spark, _scratch("txnlog_rtbf"))
    t.commit(base)
    rows_before = t.snapshot().count()
    subject = t.snapshot().filter(F.col("o_custkey") % 97 == 3)
    rows_erased = subject.count()
    t.commit_deletes(subject.select("o_custkey").distinct())
    # compact the MoR view into clean batches, retiring everything prior
    merged = t.snapshot_mor("o_custkey")
    t.commit(merged, mode="overwrite")
    t.vacuum(retain_versions=1)
    final = t.snapshot()
    audit = final.agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_after"),
        F.sum(F.when(F.col("o_custkey") % 97 == 3, 1).otherwise(0))
        .cast("bigint")
        .alias("residual_rows"),
        F.sum("cents").cast("bigint").alias("sum_cents_after"),
    )
    head = spark.range(1).select(
        F.lit(rows_before).cast("bigint").alias("rows_before"),
        F.lit(rows_erased).cast("bigint").alias("rows_erased"),
    )
    return head.crossJoin(audit).select(
        "rows_before", "rows_erased", "rows_after", "residual_rows",
        "sum_cents_after",
    )


@query(
    "quality_referential_integrity_audit",
    oracle="""
    SELECT 'lineitem->orders' AS fk_edge,
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS child_rows,
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
                AS BIGINT) AS orphan_rows,
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_orderkey NOT IN
                   (SELECT l_orderkey FROM lineitem)) AS BIGINT)
             AS childless_parents
    UNION ALL
    SELECT 'lineitem->part',
           CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
           CAST((SELECT COUNT(*) FROM lineitem
                 WHERE l_partkey NOT IN (SELECT p_partkey FROM part))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM part
                 WHERE p_partkey NOT IN
                   (SELECT l_partkey FROM lineitem)) AS BIGINT)
    UNION ALL
    SELECT 'orders->customer',
           CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
           CAST((SELECT COUNT(*) FROM orders
                 WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM customer
                 WHERE c_custkey NOT IN
                   (SELECT o_custkey FROM orders)) AS BIGINT)
    UNION ALL
    SELECT 'customer->nation',
           CAST((SELECT COUNT(*) FROM customer) AS BIGINT),
           CAST((SELECT COUNT(*) FROM customer
                 WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation))
                AS BIGINT),
           CAST((SELECT COUNT(*) FROM nation
                 WHERE n_nationkey NOT IN
                   (SELECT c_nationkey FROM customer)) AS BIGINT)
    """,
)
def quality_referential_integrity_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-table referential-integrity audit — the data-quality
    sweep a warehouse runs after every load: for each FK edge, orphan
    child rows (FK value with no parent) and childless parents
    (parent never referenced). Keys are non-null here so NOT IN is
    safe (CLAUDE.md's null-semantics caveat); all counts exact.

    Scale shape (round-9): per edge, the child collapses to (key, cnt)
    with map-side combine, the parent to distinct keys, and ONE
    full-outer join of the two key frames answers all three counts in
    a single aggregate — the former three child scans (count, orphan
    anti-join, childless anti-join on a second distinct) are gone, and
    the join reuses the groupBy's hash partitioning (no extra
    exchange). At 100 TB the shuffle carries distinct keys, never
    child rows."""
    li = read_table(spark, sf_dir, "lineitem")
    o = read_table(spark, sf_dir, "orders")
    p = read_table(spark, sf_dir, "part")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")

    def edge(name, child, ckey, parent, pkey):
        ckc = (
            child.groupBy(F.col(ckey).alias("k"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        pk = (
            parent.select(F.col(pkey).alias("k"))
            .distinct()
            .withColumn("__p", F.lit(1))
        )
        return (
            ckc.join(pk, "k", "full_outer")
            .agg(
                F.sum("cnt").cast("bigint").alias("child_rows"),
                F.sum(
                    F.when(F.col("__p").isNull(), F.col("cnt")).otherwise(0)
                )
                .cast("bigint")
                .alias("orphan_rows"),
                F.sum(F.when(F.col("cnt").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("childless_parents"),
            )
            .select(
                F.lit(name).alias("fk_edge"),
                "child_rows",
                "orphan_rows",
                "childless_parents",
            )
        )

    return (
        edge("lineitem->orders", li, "l_orderkey", o, "o_orderkey")
        .unionByName(edge("lineitem->part", li, "l_partkey", p, "p_partkey"))
        .unionByName(edge("orders->customer", o, "o_custkey", c, "c_custkey"))
        .unionByName(
            edge("customer->nation", c, "c_nationkey", n, "n_nationkey")
        )
    )


@query(
    "ingest_txn_log_ivm_aggregate",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderstatus,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
               AS cents
      FROM orders
    ),
    v0 AS (SELECT * FROM base WHERE o_orderkey % 4 <> 3),
    v1 AS (
      SELECT o_orderkey, o_orderstatus,
             CASE WHEN o_orderkey % 8 = 0 THEN cents * 3 ELSE cents END
               AS cents
      FROM base
      WHERE o_orderkey % 4 <> 3 AND o_orderkey % 5 <> 0
      UNION ALL
      SELECT o_orderkey, o_orderstatus, cents FROM base
      WHERE o_orderkey % 4 = 3
    ),
    full_agg AS (
      SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n_full,
             CAST(SUM(cents) AS BIGINT) AS sum_full
      FROM v1 GROUP BY o_orderstatus
    ),
    a0 AS (
      SELECT o_orderstatus, CAST(COUNT(*) AS BIGINT) AS n0,
             CAST(SUM(cents) AS BIGINT) AS s0
      FROM v0 GROUP BY o_orderstatus
    ),
    delta AS (
      SELECT o_orderstatus,
             CAST(SUM(sign) AS BIGINT) AS dn,
             CAST(SUM(sign * cents) AS BIGINT) AS ds
      FROM (
        SELECT o_orderstatus, cents, -1 AS sign FROM v0
        WHERE o_orderkey % 5 = 0 OR o_orderkey % 8 = 0
        UNION ALL
        SELECT o_orderstatus, cents * 3, 1 FROM v0
        WHERE o_orderkey % 8 = 0 AND o_orderkey % 5 <> 0
        UNION ALL
        SELECT o_orderstatus, cents, 1 FROM base WHERE o_orderkey % 4 = 3
      ) d GROUP BY o_orderstatus
    ),
    incr AS (
      SELECT COALESCE(a0.o_orderstatus, delta.o_orderstatus)
               AS o_orderstatus,
             CAST(COALESCE(n0, 0) + COALESCE(dn, 0) AS BIGINT) AS n_incr,
             CAST(COALESCE(s0, 0) + COALESCE(ds, 0) AS BIGINT) AS sum_incr
      FROM a0 FULL OUTER JOIN delta
        ON a0.o_orderstatus = delta.o_orderstatus
    )
    SELECT f.o_orderstatus, i.n_incr, i.sum_incr, f.n_full, f.sum_full,
           i.n_incr = f.n_full AND i.sum_incr = f.sum_full AS ivm_matches
    FROM full_agg f JOIN incr i ON f.o_orderstatus = i.o_orderstatus
    """,
)
def ingest_txn_log_ivm_aggregate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental view maintenance driven by the CHANGE FEED: a
    revenue-by-status aggregate is maintained by applying ONLY the
    feed's signed deltas (delete → −row, update → −pre +post,
    insert → +row) to the previous aggregate state, and the query
    emits BOTH the incrementally-maintained and the fully-recomputed
    aggregate with an equality flag — the correctness proof rides in
    the result hash. The v0→v1 transition exercises all three change
    types (drops %5 keys, triples %8 keys' cents, inserts the %4==3
    keys held out of v0).

    Scale shape: the maintenance cost is churn-sized (changefeed reads
    only replaced batches; the delta aggregate is map-side-combinable
    over feed rows), while the recompute it replaces scans the world —
    at 100 TB this is the difference between maintaining a dashboard
    per commit and per day. COUNT/SUM are self-maintainable; MIN/MAX
    would need the standard re-scan-on-retraction escape."""
    from ..sources.txnlog import TxnLogTable

    o = read_table(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey", "o_orderstatus",
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)")
        .alias("cents"),
    )
    v0 = base.filter(F.col("o_orderkey") % 4 != 3)
    v1_survivors = v0.filter(F.col("o_orderkey") % 5 != 0).withColumn(
        "cents",
        F.when(F.col("o_orderkey") % 8 == 0, F.col("cents") * 3).otherwise(
            F.col("cents")
        ),
    )
    v1_inserts = base.filter(F.col("o_orderkey") % 4 == 3)
    t = TxnLogTable(spark, _scratch("txnlog_ivm"))
    _, b0 = t.commit(v0)
    t.commit(v1_survivors.unionByName(v1_inserts), remove=[b0])

    a0 = v0.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n0"),
        F.sum("cents").cast("bigint").alias("s0"),
    )
    feed = t.changefeed(0, 1, ["o_orderkey"])
    sign = F.when(
        F.col("change_type").isin("delete", "update_preimage"), F.lit(-1)
    ).otherwise(F.lit(1))
    delta = feed.groupBy("o_orderstatus").agg(
        F.sum(sign).cast("bigint").alias("dn"),
        F.sum(sign * F.col("cents")).cast("bigint").alias("ds"),
    )
    incr = (
        a0.join(delta, "o_orderstatus", "full_outer")
        .select(
            "o_orderstatus",
            (F.coalesce(F.col("n0"), F.lit(0)) + F.coalesce(F.col("dn"), F.lit(0)))
            .cast("bigint")
            .alias("n_incr"),
            (F.coalesce(F.col("s0"), F.lit(0)) + F.coalesce(F.col("ds"), F.lit(0)))
            .cast("bigint")
            .alias("sum_incr"),
        )
    )
    full = t.snapshot().groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_full"),
        F.sum("cents").cast("bigint").alias("sum_full"),
    )
    return full.join(incr, "o_orderstatus").select(
        "o_orderstatus", "n_incr", "sum_incr", "n_full", "sum_full",
        (
            (F.col("n_incr") == F.col("n_full"))
            & (F.col("sum_incr") == F.col("sum_full"))
        ).alias("ivm_matches"),
    )


@query(
    "datasource_python_sink_roundtrip",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST('0x' || substring(md5(
                    CAST(doc_id AS VARCHAR) || ':' || md5(text)), 1, 15)
                    AS BIGINT) % 1000003) AS BIGINT) AS checksum
    FROM documents
    """,
)
def datasource_python_sink_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Custom Python DataSource WRITE path (sources/pyds.py
    ChecksumSinkWriter): documents flow through the V2 write protocol
    — executor tasks stage uniquely-named files and return commit
    messages, the driver's commit() manifests exactly the committed
    set — and the query reads back ONLY manifested files and
    aggregates a row checksum the oracle computes from the source
    table. A sink that lost a split, wrote one twice, or leaked an
    uncommitted file shifts the count or the md5 fold and fails the
    hash. Completes the connector story: datasource_python_connector
    is the read path, this is the write path.

    Scale shape: writes are per-task and embarrassingly parallel; the
    commit is one driver-side manifest rename (object-store
    conditional-put in production)."""
    from ..sources.pyds import read_manifested, register_checksum_sink

    register_checksum_sink(spark)
    d = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("k"),
        F.md5("text").alias("v"),
    )
    root = _scratch("pysink")
    d.repartition(6).write.format("checksum_sink").option(
        "path", root
    ).mode("append").save()
    back = read_manifested(spark, root)
    return back.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(
            F.conv(
                F.substring(
                    F.md5(F.concat_ws(":", F.col("k"), F.col("v"))), 1, 15
                ),
                16,
                10,
            ).cast("bigint")
            % 1000003
        )
        .cast("bigint")
        .alias("checksum"),
    )


@query(
    "quality_freshness_report",
    oracle="""
    WITH marks AS (
      SELECT 'orders' AS table_name,
             CAST(MAX(o_orderdate) AS DATE) AS max_date,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM orders
      UNION ALL
      SELECT 'lineitem', CAST(MAX(l_shipdate) AS DATE), CAST(COUNT(*) AS BIGINT)
      FROM lineitem
      UNION ALL
      SELECT 'events', CAST(MAX(CAST(ts AS DATE)) AS DATE),
             CAST(COUNT(*) AS BIGINT)
      FROM events
    ),
    hw AS (SELECT MAX(max_date) AS corpus_max FROM marks)
    SELECT m.table_name, m.max_date, m.n_rows,
           CAST(datediff('day', m.max_date, h.corpus_max) AS BIGINT)
             AS staleness_days,
           datediff('day', m.max_date, h.corpus_max) <= 30 AS is_fresh
    FROM marks m, hw h
    """,
)
def quality_freshness_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Freshness SLO report — the first page of any data-quality
    dashboard: each table's event-time high-water mark, its staleness
    in days behind the freshest table in the lake, and an integer
    30-day SLO flag. Date arithmetic is exact on both engines
    (datediff on DATE values).

    Scale shape: MAX/COUNT are map-side-combinable scans (at
    production scale the high-water mark comes free from partition or
    zone-map metadata — ingest_txn_log_zone_map_skip's stats serve it
    without touching data)."""
    from ..sources.parquet_io import read_events

    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    e = read_events(spark, sf_dir)

    def mark(df, name, col):
        return df.agg(
            F.lit(name).alias("table_name"),
            F.max(col).cast("date").alias("max_date"),
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        )

    marks = (
        mark(o, "orders", F.col("o_orderdate"))
        .unionByName(mark(li, "lineitem", F.col("l_shipdate")))
        .unionByName(mark(e, "events", F.col("ts").cast("date")))
    )
    hw = marks.agg(F.max("max_date").alias("corpus_max"))
    return marks.crossJoin(F.broadcast(hw)).select(
        "table_name",
        "max_date",
        "n_rows",
        F.datediff("corpus_max", "max_date").cast("bigint").alias(
            "staleness_days"
        ),
        (F.datediff("corpus_max", "max_date") <= 30).alias("is_fresh"),
    )


@query(
    "ingest_txn_log_partition_evolution",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(month(o_orderdate) AS INT) AS o_month,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                AS BIGINT)) AS BIGINT) AS sum_cents
    FROM orders
    WHERE (year(o_orderdate) = 1996 AND month(o_orderdate) >= 6)
       OR (year(o_orderdate) = 1997 AND month(o_orderdate) <= 3)
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def ingest_txn_log_partition_evolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PARTITION EVOLUTION on the transaction-log table format
    (sources/txnlog.py): commit 1 lands half of orders partitioned by
    YEAR only; commit 2 lands the other half under an evolved
    (YEAR, MONTH) spec — no rewrite of the old batch, the spec rides
    the log entry exactly like Iceberg's per-manifest spec-id.  The
    read (``snapshot_evolved``) groups live batches by spec, scans each
    group with its own partition discovery, unions by name, and the
    date-range predicate pushes through the union so EACH group prunes
    at its own granularity (year dirs in batch 1, year+month dirs in
    batch 2; tests/test_txnlog_partition_evolution.py pins the pruned
    file counts).

    Determinism: exact integer cents and counts at (year, month) grain.

    Scale shape: the log walk is driver-side kilobytes; both scans are
    distributed parquet reads with partition pruning — the whole point
    of evolving a too-coarse spec at 100 TB without rewriting history."""
    from ..sources.txnlog import TxnLogTable

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(year(o_orderdate) AS INT)").alias("o_year"),
        F.expr("CAST(month(o_orderdate) AS INT)").alias("o_month"),
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("cents"),
    )
    t = TxnLogTable(spark, _scratch("txnevo"))
    t.commit(
        o.where(F.col("o_orderkey") % 2 == 0), partition_by=["o_year"]
    )
    t.commit(
        o.where(F.col("o_orderkey") % 2 == 1),
        partition_by=["o_year", "o_month"],
    )
    snap = t.snapshot_evolved()
    return (
        snap.where(
            ((F.col("o_year") == 1996) & (F.col("o_month") >= 6))
            | ((F.col("o_year") == 1997) & (F.col("o_month") <= 3))
        )
        .groupBy("o_year", "o_month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("sum_cents"),
        )
        .orderBy("o_year", "o_month")
    )


@query(
    "quality_partition_checksums",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(month(o_orderdate) AS INT) AS o_month,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST('0x' || substr(md5(
                  CAST(o_orderkey AS VARCHAR) || '|' ||
                  CAST(o_custkey AS VARCHAR) || '|' ||
                  o_orderstatus || '|' ||
                  CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                       AS BIGINT) AS VARCHAR)), 1, 14) AS BIGINT))
                % 4611686018427387904 AS BIGINT) AS checksum
    FROM orders GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def quality_partition_checksums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PER-PARTITION order-independent content checksums: every row
    hashes its normalized field rendering to an md5-prefix int56 and
    each (year, month) partition sums them — the incremental-validation
    primitive that localizes WHICH partition drifted after a backfill
    or replication (the whole-table twin is ingest_checksum_validation).

    Determinism: md5 of a decimal-string rendering is bit-identical
    cross-engine (the CLAUDE.md checksum rule).  The int56 prefixes
    are summed EXACTLY (DECIMAL(38,0) in Spark, HUGEINT in DuckDB —
    a raw bigint sum would overflow past ~128 rows/partition) and
    reduced mod 2^62; modular equality is the standard checksum
    contract and the exact sum stays inside 38 digits to ~1e20 rows.

    Scale shape: ONE map-side-combinable groupBy on the partition key
    over a 5-column scan; no joins, no windows."""
    o = read_table(spark, sf_dir, "orders")
    row_str = F.expr(
        "concat(CAST(o_orderkey AS STRING), '|',"
        " CAST(o_custkey AS STRING), '|', o_orderstatus, '|',"
        " CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        " AS STRING))"
    )
    return (
        o.select(
            F.expr("CAST(year(o_orderdate) AS INT)").alias("o_year"),
            F.expr("CAST(month(o_orderdate) AS INT)").alias("o_month"),
            F.expr(
                "CAST(conv(substr(md5({s}), 1, 14), 16, 10) AS BIGINT)".format(
                    s="concat(CAST(o_orderkey AS STRING), '|',"
                    " CAST(o_custkey AS STRING), '|', o_orderstatus, '|',"
                    " CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100"
                    " AS BIGINT) AS STRING))"
                )
            ).alias("h"),
        )
        .groupBy("o_year", "o_month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.expr(
                "CAST(SUM(CAST(h AS DECIMAL(38,0)))"
                " % 4611686018427387904 AS BIGINT)"
            ).alias("checksum"),
        )
        .orderBy("o_year", "o_month")
    )


@query(
    "ingest_corrupt_file_skip",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                AS BIGINT)) AS BIGINT) AS sum_cents,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT) AS n_statuses
    FROM orders WHERE o_orderkey % 4 <> 3
    """,
)
def ingest_corrupt_file_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CORRUPT-FILE RESILIENCE: land four parquet shards, overwrite one
    with garbage bytes (a truncated/bit-rotted object — the thing that
    WILL eventually exist in any 100 TB lake), and read the directory
    with ``spark.sql.files.ignoreCorruptFiles=true``: the scan must
    yield exactly the three healthy shards' rows instead of failing the
    whole table.  The oracle is the healthy-shard subset by
    construction (o_orderkey %% 4 <> 3).

    Determinism: exact integer counts/cents over a deterministic
    key split; the corrupt shard contributes nothing on both sides.

    Scale shape: a plain distributed parquet scan; the skip decision
    is per-file at footer-read time, so healthy splits proceed in
    parallel unaffected.  The option is scoped to this read and
    restored after — silent row loss is NOT an acceptable default
    (quality_partition_checksums is the audit that would catch it)."""
    import os
    import uuid

    o = read_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderstatus",
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("cents"),
    )
    root = _scratch("corrupt")
    for i in range(4):
        o.filter(F.col("o_orderkey") % 4 == i).coalesce(1).write.parquet(
            os.path.join(root, f"s{i}")
        )
    # bit-rot shard 3: overwrite its data file with garbage that still
    # looks like a parquet object by name
    s3 = os.path.join(root, "s3")
    for f in os.listdir(s3):
        if f.endswith(".parquet"):
            with open(os.path.join(s3, f), "wb") as fh:
                fh.write(b"PAR1 this is not a parquet file" * 64)
    prev = spark.conf.get("spark.sql.files.ignoreCorruptFiles", "false")
    spark.conf.set("spark.sql.files.ignoreCorruptFiles", "true")
    try:
        healthy = (
            spark.read.option("recursiveFileLookup", "true")
            .parquet(root)
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.sum("cents").cast("bigint").alias("sum_cents"),
                F.countDistinct("o_orderstatus")
                .cast("bigint")
                .alias("n_statuses"),
            )
        )
        # force materialization while the option is set (the returned
        # frame is re-evaluated lazily by the driver, so pin the rows)
        rows = healthy.collect()
    finally:
        spark.conf.set("spark.sql.files.ignoreCorruptFiles", prev)
    return spark.createDataFrame(
        rows, "n_rows bigint, sum_cents bigint, n_statuses bigint"
    )


@query(
    "ingest_text_lines_roundtrip",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(strlen(text)) AS BIGINT) AS sum_bytes,
           CAST(SUM(CAST('0x' || substr(md5(
                  CAST(doc_id AS VARCHAR) || '|' || source || '|' || text),
                  1, 12) AS BIGINT)) % 4611686018427387904 AS BIGINT)
             AS checksum
    FROM documents GROUP BY source ORDER BY source
    """,
)
def ingest_text_lines_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-TEXT source/sink roundtrip — the last built-in Spark file
    format the engine hadn't exercised (parquet/CSV/JSON/ORC/binaryFile
    already have roundtrips): documents serialize to pipe-delimited
    lines via ``df.write.text`` (one string column, the log-file
    shape), read back with ``spark.read.text`` and parsed by split;
    per-source counts, byte totals and an order-independent md5-prefix
    checksum prove field-level fidelity.  Fields are verified
    delimiter-free at this corpus (ASCII word soup, no tabs/pipes) —
    a production text sink would escape or length-prefix.

    Determinism: the checksum is the quality_partition_checksums
    scheme (md5 int48 prefixes, exact HUGEINT/DECIMAL sum, mod 2^62).

    Scale shape: text read/write are splittable distributed scans;
    parse is a codegen split projection; the rollup map-side combines."""
    import os
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    out = os.path.join(_scratch("textlines"), "lines")
    d.select(
        F.concat_ws(
            "|", F.col("doc_id").cast("string"), "source", "text"
        ).alias("value")
    ).write.text(out)
    lines = spark.read.text(out)
    parsed = lines.select(
        F.expr("CAST(split(value, '\\\\|', 3)[0] AS BIGINT)").alias("doc_id"),
        F.expr("split(value, '\\\\|', 3)[1]").alias("source"),
        F.expr("split(value, '\\\\|', 3)[2]").alias("text"),
    )
    return (
        parsed.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.length("text")).cast("bigint").alias("sum_bytes"),
            F.expr(
                "CAST(SUM(CAST(CAST(conv(substr(md5(concat("
                "CAST(doc_id AS STRING), '|', source, '|', text)), 1, 12),"
                " 16, 10) AS BIGINT) AS DECIMAL(38,0)))"
                " % 4611686018427387904 AS BIGINT)"
            ).alias("checksum"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Null-like sentinel scan: the disguised-missing-value audit
# ---------------------------------------------------------------------------


@query(
    "quality_sentinel_value_scan",
    oracle="""
    WITH cells AS (
      SELECT 'lang' AS col_name, lang AS v FROM documents
      UNION ALL SELECT 'source', source FROM documents
      UNION ALL SELECT 'text', text FROM documents
      UNION ALL SELECT 'o_orderstatus', o_orderstatus FROM orders
      UNION ALL SELECT 'o_orderpriority', o_orderpriority FROM orders
    )
    SELECT col_name,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null,
           CAST(SUM(CASE WHEN v = '' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_empty,
           CAST(SUM(CASE WHEN v <> '' AND trim(v) = '' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_blank,
           CAST(SUM(CASE WHEN lower(v) IN
                ('null', 'none', 'n/a', 'na', 'nan', '-', '?', 'unknown')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_sentinel
    FROM cells GROUP BY col_name ORDER BY col_name
    """,
)
def quality_sentinel_value_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disguised-missing-value audit: per string column, how many cells
    are real NULL, empty string, whitespace-only, or a null-LIKE
    sentinel token ('null', 'n/a', '-', 'unknown', …) — the data-
    quality scan that catches the reference's own `na_filter=False`
    policy (empty CSV cells become '' not NULL, SURVEY §1.2) leaking
    disguised missingness into a lake. SQL `trim` strips spaces only
    (CLAUDE.md), identically on both engines.

    Determinism: pure integer predicate counts over exact strings.

    Scale shape: per-column predicates fold into ONE pass per table
    via the unpivoted cell stream (map-side combinable counts on a
    5-row output domain); no shuffle of raw data beyond the tiny
    grouped combine.
    """
    d = read_table(spark, sf_dir, "documents")
    o = read_table(spark, sf_dir, "orders")
    cells = (
        d.select(F.lit("lang").alias("col_name"), F.col("lang").alias("v"))
        .unionByName(
            d.select(F.lit("source").alias("col_name"), F.col("source").alias("v"))
        )
        .unionByName(
            d.select(F.lit("text").alias("col_name"), F.col("text").alias("v"))
        )
        .unionByName(
            o.select(
                F.lit("o_orderstatus").alias("col_name"),
                F.col("o_orderstatus").alias("v"),
            )
        )
        .unionByName(
            o.select(
                F.lit("o_orderpriority").alias("col_name"),
                F.col("o_orderpriority").alias("v"),
            )
        )
    )
    sentinels = ["null", "none", "n/a", "na", "nan", "-", "?", "unknown"]
    return (
        cells.groupBy("col_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("n_null"),
            F.sum(F.when(F.col("v") == "", 1).otherwise(0))
            .cast("bigint")
            .alias("n_empty"),
            F.sum(
                F.when(
                    (F.col("v") != "") & (F.trim(F.col("v")) == ""), 1
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_blank"),
            F.sum(
                F.when(F.lower(F.col("v")).isin(sentinels), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_sentinel"),
        )
        .orderBy("col_name")
    )


# ---------------------------------------------------------------------------
# ANALYZE TABLE statistics: CBO inputs land in the catalog
# ---------------------------------------------------------------------------


@query(
    "catalog_analyze_table_stats",
    oracle="""
    SELECT 'orders_stats_tbl' AS table_name,
           CAST(COUNT(*) AS BIGINT) AS stats_row_count,
           CAST(COUNT(*) AS BIGINT) AS exact_row_count,
           CAST(1 AS INT) AS stats_match,
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT)
             AS status_distinct_stat
    FROM orders
    """,
)
def catalog_analyze_table_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE COMPUTE STATISTICS end-to-end: save a managed
    table, run table-level AND column-level ANALYZE, then read the
    optimizer's recorded statistics back out of the catalog
    (DESCRIBE EXTENDED / column stats) and cross-check them against
    exact recomputation — the cost-based-optimizer feed step every
    warehouse runs after large loads (join reordering and broadcast
    decisions at 100 TB are only as good as these numbers).

    Determinism: row count and the status NDV are exact at this
    cardinality (Spark stores column NDV from HLL++; at 3 distinct
    values it is exact on both engines' semantics — the oracle
    recomputes COUNT(DISTINCT)).

    Scale shape: ANALYZE is one distributed scan per statistics pass;
    the catalog read is driver-side metadata.
    """
    o = read_table(spark, sf_dir, "orders")
    spark.sql("DROP TABLE IF EXISTS orders_stats_tbl")
    o.write.mode("overwrite").saveAsTable("orders_stats_tbl")
    spark.sql("ANALYZE TABLE orders_stats_tbl COMPUTE STATISTICS")
    spark.sql(
        "ANALYZE TABLE orders_stats_tbl COMPUTE STATISTICS"
        " FOR COLUMNS o_orderstatus"
    )
    det = spark.sql("DESCRIBE TABLE EXTENDED orders_stats_tbl").collect()
    stats_line = next(
        (r.data_type for r in det if r.col_name == "Statistics"), ""
    )
    import re

    m = re.search(r"(\d+) rows", stats_line)
    stats_rows = int(m.group(1)) if m else -1
    cdesc = spark.sql(
        "DESCRIBE EXTENDED orders_stats_tbl o_orderstatus"
    ).collect()
    ndv = next(
        (int(r.info_value) for r in cdesc if r.info_name == "distinct_count"),
        -1,
    )
    exact = spark.table("orders_stats_tbl").count()
    return spark.createDataFrame(
        [
            (
                "orders_stats_tbl",
                stats_rows,
                exact,
                1 if stats_rows == exact else 0,
                ndv,
            )
        ],
        "table_name string, stats_row_count bigint, exact_row_count bigint,"
        " stats_match int, status_distinct_stat bigint",
    )
