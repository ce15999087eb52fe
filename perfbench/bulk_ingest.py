"""``bulk_ingest``: a multi-file CSV directory goes through
``read_csv_compat`` and ``read_csv_inferred``, then ``ingest_append`` to
Parquet; the result is read back and exported with ``write_csv``.
Parse, encode and scan throughput dominate and per-job overhead does
not — the opposite of ``api_requests``."""

from __future__ import annotations

import os
import time
from contextlib import nullcontext

import checks
import inputs
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.csv as pacsv
import pyarrow.parquet as pq
from data_ingestion_tool_spark.sources import csv_io, ingest
from measure import median
from pyspark.sql import functions as F
from workload import Workload

ROWS = 200_000
WARM_ROWS = 100_000  # a warm-up round half the size of a measured one


def _dir_files(path: str, suffix: str) -> list[str]:
    return [os.path.join(dp, f) for dp, _, fs in os.walk(path) for f in fs if f.endswith(suffix)]


def _file_sums(table: pa.Table) -> tuple[int, dict[str, int]]:
    """Row count and checksums of written files, read with pyarrow so
    the check does not go through the engine's own readers."""
    return table.num_rows, {c: pc.sum(table[c]).as_py() for c in ("id", "qty")}


class BulkIngest(Workload):
    name = "bulk_ingest"
    item = "CSV row"
    op = "round (compat read, inferred read, ingest, export)"

    def generate(self) -> None:
        self.data = inputs.gen_bulk(os.path.join(self.inputs, "bulk"), self.seed, ROWS)
        self.warm = inputs.gen_bulk(os.path.join(self.inputs, "bulk-warm"), self.seed + 1, WARM_ROWS)
        self.rounds = 0
        self.ingest_s = self.export_s = 0.0
        self.bytes_out = 0
        self.files_out: list[int] = []
        self.out_per_in: list[float] = []

    def install(self) -> None:
        t = self.tracer
        t.wrap(csv_io, "read_csv_inferred", "sources.read_csv_inferred")

    def warm_up(self, spark) -> None:
        self._round(spark, self.warm, "warm", nullcontext())

    def _sums(self, df) -> tuple[int, dict[str, int]]:
        r = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("id").cast("long")).alias("id"),
            F.sum(F.col("qty").cast("long")).alias("qty"),
        ).collect()[0]
        return r["n"], {"id": r["id"], "qty": r["qty"]}

    def _round(self, spark, data: dict, tag: str, op) -> tuple[float, float, int, list[str]]:
        """One round, its timed part inside the context ``op``; returns
        (ingest seconds, export seconds, CSV bytes exported, problems)."""
        t = self.tracer
        pq_dir = os.path.join(self.out, f"parquet-{tag}")
        csv_dir = os.path.join(self.out, f"csv-{tag}")
        want = {"id": data["id_sum"], "qty": data["qty_sum"]}
        with op:
            t0 = time.perf_counter()
            with t.span("sources.read_csv_compat"):
                compat = self._sums(csv_io.read_csv_compat(spark, data["path"]))
            inferred = csv_io.read_csv_inferred(spark, data["path"])
            with t.span("sources.ingest_append", own_jobs=True):
                ingest.ingest_append(inferred, pq_dir)
            t1 = time.perf_counter()
            with t.span("sources.write_csv", own_jobs=True):
                csv_io.write_csv(spark.read.parquet(pq_dir), csv_dir)
            t2 = time.perf_counter()

        problems = checks.check_rows("compat read", *compat, data["rows"], want)
        types = dict(inferred.dtypes)
        for col, typ in (("id", "int"), ("qty", "int"), ("price", "double"), ("day", "date")):
            checks.expect(problems, f"inferred type of {col}", types.get(col), typ)
        pq_files = _dir_files(pq_dir, ".parquet")
        csv_files = _dir_files(csv_dir, ".csv")
        cols = ["id", "qty"]
        problems += checks.check_rows(
            "parquet", *_file_sums(pa.concat_tables(pq.read_table(f, columns=cols) for f in pq_files)),
            data["rows"], want,
        )
        problems += checks.check_rows(
            "csv round trip",
            *_file_sums(pa.concat_tables(
                pacsv.read_csv(f, convert_options=pacsv.ConvertOptions(include_columns=cols)) for f in csv_files
            )),
            data["rows"], want,
        )
        csv_bytes = sum(os.path.getsize(f) for f in csv_files)
        if tag != "warm":
            self.files_out.append(len(pq_files) + len(csv_files))
            self.out_per_in.append((sum(os.path.getsize(f) for f in pq_files) + csv_bytes) / data["bytes"])
        self.reset_outputs()
        return t1 - t0, t2 - t1, csv_bytes, problems

    def step(self, spark) -> None:
        try:
            ingest_s, export_s, csv_bytes, problems = self._round(
                spark, self.data, str(self.rounds), self.tracer.op("round")
            )
        except Exception as e:  # noqa: BLE001 - a failed round is counted, not fatal
            problems = [f"round raised {type(e).__name__}: {e}"]
        self.rounds += 1
        self.record(problems)
        if not problems:
            self.ingest_s += ingest_s
            self.export_s += export_s
            self.bytes_out += csv_bytes
            self.items += self.data["rows"]
            self.busy_s += ingest_s + export_s
            self.add_unit(self.data["rows"], ingest_s + export_s)

    def report(self):
        n = len(self.latencies_ms)
        mb_in = self.data["bytes"] * n / 1e6
        return [
            ("ingest_mb_per_s", mb_in / self.ingest_s if self.ingest_s else 0.0, "MB/s", n),
            ("export_mb_per_s", self.bytes_out / 1e6 / self.export_s if self.export_s else 0.0, "MB/s", n),
        ]

    def layer_values(self) -> dict[str, float]:
        writes = self.tracer.finished("sources.ingest_append") + self.tracer.finished("sources.write_csv")
        tasks = [s["tasks"] for s in writes]
        return {
            "sources.files_out": median(self.files_out),
            "sources.bytes_out_per_byte_in": median(self.out_per_in),
            "sources.tasks_per_write": sum(tasks) / len(tasks) if tasks else 0.0,
        }
