"""``stream_ingest``: a backlog of small events-shaped Parquet files
drained by ``streaming.ingest.stream_ingest_txnlog`` (closed loop,
``availableNow``, one file per micro-batch). It uses the same Parquet
write path as ``bulk_ingest``, but per-commit cost dominates:
checkpointing, ``TxnLogTable.commit`` and ``has_meta``, which re-reads
every log entry on every batch."""

from __future__ import annotations

import json
import os
import time
from contextlib import nullcontext

import checks
import inputs
from data_ingestion_tool_spark.sources import txnlog
from data_ingestion_tool_spark.sources.txnlog import TxnLogTable
from data_ingestion_tool_spark.streaming import ingest as streaming
from measure import median, tail_percentile
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType, LongType, StringType, StructField, StructType, TimestampType,
)
from workload import Workload

FILES, EVENTS_PER_FILE = 12, 5000
WARM_FILES, WARM_EVENTS_PER_FILE = 3, 500

SCHEMA = StructType([
    StructField("event_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("user_id", LongType()),
    StructField("event_type", StringType()),
    StructField("value", DoubleType()),
    StructField("props", StringType()),
])


def _is_log_entry(path) -> bool:
    """A committed log entry: ``<table>/_log/<version>.json``."""
    head, name = os.path.split(os.fspath(path))
    return os.path.basename(head) == "_log" and name.endswith(".json")


def _log_src_batches(root: str) -> list:
    """``meta.src_batch`` of every committed log entry, read straight
    from the log files so the check does not trust the engine's reader."""
    logdir = os.path.join(root, "_log")
    out = []
    for f in sorted(os.listdir(logdir)):
        if f.endswith(".json"):
            with open(os.path.join(logdir, f)) as fh:
                out.append(json.load(fh).get("meta", {}).get("src_batch"))
    return out


class StreamIngest(Workload):
    name = "stream_ingest"
    item = "event"
    op = "micro-batch (previous commit end to this commit end)"

    def generate(self) -> None:
        self.data = inputs.gen_stream(os.path.join(self.inputs, "stream"), self.seed, FILES, EVENTS_PER_FILE)
        self.warm = inputs.gen_stream(
            os.path.join(self.inputs, "stream-warm"), self.seed + 1, WARM_FILES, WARM_EVENTS_PER_FILE
        )
        self.rounds = 0
        self.batches: list[int] = []
        self.commit_ends: list[float] = []

    def install(self) -> None:
        t = self.tracer
        t.wrap(streaming, "stream_ingest_txnlog", "streaming.stream_ingest_txnlog")
        t.wrap(TxnLogTable, "has_meta", "txnlog.has_meta")
        t.wrap(TxnLogTable, "commit", "txnlog.commit")
        if t.enabled:
            # Log entries read are counted as the log files the txn-log
            # module opens, not as calls to one of its methods, so the
            # count holds however that module reads the log.
            def counting_open(file, mode="r", *args, **kwargs):
                if "r" in mode and _is_log_entry(file):
                    with t.span("txnlog.log_entry_read"):
                        pass
                return open(file, mode, *args, **kwargs)

            txnlog.open = counting_open
        # Micro-batch latency needs each commit's end in every mode, so
        # this hook is not part of tracing. It stays installed for the
        # life of the process.
        commit = TxnLogTable.commit

        def timed_commit(table, *args, **kwargs):
            t.note_current_group()
            out = commit(table, *args, **kwargs)
            self.commit_ends.append(time.perf_counter())
            return out

        TxnLogTable.commit = timed_commit

    def warm_up(self, spark) -> None:
        self._round(spark, self.warm, "warm", nullcontext())

    def _round(self, spark, data: dict, tag: str, op) -> tuple[float, list[float], list[str]]:
        """Drain the backlog once into a fresh table, inside the context
        ``op``; returns (seconds, micro-batch latencies in ms, problems)."""
        root = os.path.join(self.out, f"table-{tag}")
        self.commit_ends = []
        with op:
            t0 = time.perf_counter()
            table = streaming.stream_ingest_txnlog(
                spark, data["path"], SCHEMA, root, checkpoint=os.path.join(self.out, f"ckpt-{tag}")
            )
            elapsed = time.perf_counter() - t0
        ends = [t0] + self.commit_ends
        lat = [(b - a) * 1000 for a, b in zip(ends, ends[1:])]
        snap = table.snapshot().agg(F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("s")).collect()[0]
        problems = checks.check_txnlog(
            snap["n"], snap["s"], _log_src_batches(root), len(lat), data["rows"], data["id_sum"]
        )
        checks.expect(problems, "micro-batches", len(lat), data["files"])
        self.reset_outputs()
        return elapsed, lat, problems

    def step(self, spark) -> None:
        try:
            elapsed, lat, problems = self._round(
                spark, self.data, str(self.rounds), self.tracer.op("stream_round")
            )
        except Exception as e:  # noqa: BLE001 - a failed round is counted, not fatal
            lat, problems = [], [f"round raised {type(e).__name__}: {e}"]
        self.rounds += 1
        self.record(problems, max(1, len(lat)))
        if not problems:
            self.items += self.data["rows"]
            self.busy_s += elapsed
            for ms in lat:
                self.add_unit(EVENTS_PER_FILE, ms / 1000)
            self.batches.append(len(lat))

    def report(self):
        lat = self.latencies_ms
        tail = tail_percentile(lat)
        return [
            ("events_per_s", self.items / self.busy_s if self.busy_s else 0.0, "1/s", len(self.batches)),
            ("microbatch_p50_ms", median(lat), "ms", len(lat)),
            (f"microbatch_p90_ms (as p{tail[0]})" if tail else "microbatch_p90_ms (too few samples)",
             tail[1] if tail else float("nan"), "ms", len(lat)),
        ]

    def layer_values(self) -> dict[str, float]:
        t = self.tracer
        rounds = [o["id"] for o in t.ops if o["kind"] == "stream_round"]
        entries, ratios = [], []
        for op in rounds:
            entries.append(len(t.finished("txnlog.log_entry_read", op)))
            # the first call scans an empty log, so it is left out
            hm = t.durations("txnlog.has_meta", op)[1:]
            k = max(1, len(hm) // 10)
            if len(hm) >= 2:
                ratios.append((sum(hm[-k:]) / k) / (sum(hm[:k]) / k))
        return {
            "streaming.micro_batches": median(self.batches),
            "streaming.rows_per_batch": self.data["rows"] / median(self.batches) if self.batches else 0.0,
            "txnlog.log_entries_read": median(entries),
            "txnlog.has_meta.last_over_first": median(ratios),
        }
