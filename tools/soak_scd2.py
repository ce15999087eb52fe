"""SCD2 adaptive-merge regime soak (round-13 verdict item 1).

Round 12 rewrote `stream_cdc_scd2_txnlog`'s per-batch full overwrite
into an adaptive CoW/MoR merge, claiming the MoR path (tombstone +
touched-keys-only append) is the 100 TB dimension-maintenance win —
but the bench feed (batches touching 25-50% of the key space) measured
SLOWER, and no soak existed for the claimed win regime. This tool pins
BOTH regimes empirically:

1. **Small-slice feed** (the claimed MoR regime): a K-key dimension
   takes an initial bulk load, then U update batches each touching
   0.5% of the keys. Run three ways — adaptive (default cow_factor=8,
   picks MoR), forced CoW (cow_factor huge: every batch rewrites the
   table), forced MoR (cow_factor=0) — and compare wall seconds, ROWS
   WRITTEN and BYTES WRITTEN (write amplification is the term that
   scales to 100 TB; a local[32] wall-clock mostly measures per-batch
   scheduling overhead). All runs must produce identical final tables.
2. **Feed-length linearity**: the adaptive run repeated at U and 2U
   update batches — per-batch cost must stay flat (total ~2x), i.e.
   the merge is O(touched) per batch, not O(accumulated feed) like the
   round-11 overwrite (quadratic) was.

Usage: python tools/soak_scd2.py [K] [U]   (defaults 150000, 10)
Writes tools/soak_scd2.json and prints a markdown table for
BASELINE.md.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SCHEMA = "k bigint, status string, eff_ts date"


def _write_feed(spark, root: str, k_keys: int, n_upd: int, touched: int):
    """One bulk-insert batch (all keys, day 1) then n_upd update batches
    each touching `touched` distinct keys (rotating slices, strictly
    increasing eff_ts so every update opens a new interval)."""
    from pyspark.sql import functions as F

    src = os.path.join(root, "src")
    now = time.time()

    def put(df, i):
        d = os.path.join(src, f"b{i:03d}")
        df.coalesce(1).write.parquet(d)
        ts = now - 7200 + i * 10
        for r, _, files in os.walk(d):
            for f in files:
                os.utime(os.path.join(r, f), (ts, ts))

    bulk = spark.range(k_keys).select(
        F.col("id").alias("k"),
        F.lit("A").alias("status"),
        F.to_date(F.lit("2024-01-01")).alias("eff_ts"),
    )
    put(bulk, 0)
    for u in range(n_upd):
        lo = (u * touched) % k_keys
        upd = spark.range(lo, lo + touched).select(
            (F.col("id") % k_keys).alias("k"),
            F.lit(f"U{u}").alias("status"),
            F.date_add(F.to_date(F.lit("2024-01-01")), u + 1).alias(
                "eff_ts"
            ),
        )
        put(upd, u + 1)
    return src


def _data_stats(table_root: str) -> tuple[int, int]:
    """(rows_written, bytes_written) over EVERY batch dir ever written
    under data/ — including batches later retired by overwrites, since
    write amplification is about what was written, not what survived."""
    import pyarrow.parquet as pq

    rows = 0
    size = 0
    for f in glob.glob(
        os.path.join(table_root, "data", "**", "*.parquet"), recursive=True
    ):
        rows += pq.ParquetFile(f).metadata.num_rows
        size += os.path.getsize(f)
    return rows, size


def _run(spark, src: str, root: str, cow_factor: int):
    from data_ingestion_tool_spark.streaming.ingest import (
        stream_cdc_scd2_txnlog,
    )

    t0 = time.time()
    t = stream_cdc_scd2_txnlog(
        spark, src, SCHEMA, root, cow_factor=cow_factor
    )
    secs = round(time.time() - t0, 1)
    rows_w, bytes_w = _data_stats(root)
    snap = t.snapshot_mor("k")
    from pyspark.sql import functions as F

    chk = snap.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.crc32(F.concat_ws("|", "k", "status", "valid_from"))).alias(
            "crc"
        ),
    ).collect()[0]
    entries = [t._entry(v) for v in t.versions()]
    n_mor = sum(1 for e in entries if e.get("add_deletes"))
    n_cow = sum(
        1 for e in entries if e.get("remove") and not e.get("add_deletes")
    )
    return {
        "secs": secs,
        "rows_written": rows_w,
        "mb_written": round(bytes_w / 1e6, 2),
        "final_rows": chk["n"],
        "crc": int(chk["crc"]),
        "mor_commits": n_mor,
        "cow_commits": n_cow,
    }


def main() -> None:
    from data_ingestion_tool_spark.session import get_spark

    k_keys = int(sys.argv[1]) if len(sys.argv) > 1 else 150_000
    n_upd = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    touched = max(k_keys // 200, 1)  # 0.5% of the key space
    spark = get_spark(app_name="soak-scd2", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="soak-scd2-")
    results: dict[str, dict] = {}
    try:
        # JVM/codegen warmup so the first measured run isn't biased
        warm = _write_feed(spark, os.path.join(work, "warm"), 1000, 1, 5)
        _run(spark, warm, os.path.join(work, "table-warm"), 8)
        src = _write_feed(spark, work, k_keys, n_upd, touched)
        for label, factor in (
            ("adaptive", 8),
            ("forced_cow", 10**9),
            ("forced_mor", 0),
        ):
            root = os.path.join(work, f"table-{label}")
            results[label] = _run(spark, src, root, factor)
        # feed-length linearity: half the update feed, adaptive
        src_half = _write_feed(
            spark, os.path.join(work, "half"), k_keys, n_upd // 2, touched
        )
        results["adaptive_half_feed"] = _run(
            spark, src_half, os.path.join(work, "table-half"), 8
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    crcs = {r["crc"] for k, r in results.items() if k != "adaptive_half_feed"}
    rows = {
        r["final_rows"]
        for k, r in results.items()
        if k != "adaptive_half_feed"
    }
    out = {
        "k_keys": k_keys,
        "n_update_batches": n_upd,
        "touched_per_batch": touched,
        "touched_pct": round(100.0 * touched / k_keys, 2),
        "runs": results,
        "all_final_tables_identical": len(crcs) == 1 and len(rows) == 1,
    }
    (Path(__file__).resolve().parent / "soak_scd2.json").write_text(
        json.dumps(out, indent=2)
    )
    print(json.dumps(out, indent=2))
    print()
    print(
        f"| run | secs | rows written | MB written | MoR/CoW commits |"
    )
    print("|---|---|---|---|---|")
    for label, r in results.items():
        print(
            f"| {label} | {r['secs']} | {r['rows_written']:,} | "
            f"{r['mb_written']} | {r['mor_commits']}/{r['cow_commits']} |"
        )


if __name__ == "__main__":
    main()
