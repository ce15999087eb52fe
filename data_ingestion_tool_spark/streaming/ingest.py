"""Streaming ingest: readStream → foreachBatch → table.

The streaming half of the reference's ingest surface ("batch or
streaming loads", BASELINE.json): a file/Kafka stream lands in a
Parquet table through ``foreachBatch``, which hands each micro-batch to
the same batch writer the batch path uses — one code path for both
load modes, exactly-once per micro-batch via the checkpoint (a replayed
batch id overwrites instead of double-appending... for parquet sinks
Spark's foreachBatch replays are at-least-once; idempotence here comes
from the batch-id guard pattern below).

At scale: each micro-batch write is a normal distributed parquet write
(per-partition task files); backpressure comes from
``maxFilesPerTrigger`` / source rate limits; the checkpoint directory
is the restart token.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from ..session import ckpt_dir


def stream_ingest_parquet(
    spark: SparkSession,
    source_path: str,
    schema,
    dest_path: str,
    transform=None,
    max_files_per_trigger: int | None = None,
) -> list[int]:
    """Ingest a (finite) parquet file stream into ``dest_path``.

    Returns the list of micro-batch ids processed. ``transform`` maps
    each streaming DataFrame before the write (projection/cleansing —
    the streaming twin of ingest-time column mapping).
    """
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if os.path.isfile(source_path):
        reader = reader.option("pathGlobFilter", os.path.basename(source_path))
        source_path = os.path.dirname(source_path)
    stream = reader.parquet(source_path)
    if transform is not None:
        stream = transform(stream)

    seen: list[int] = []

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        # batch-id guard: a replayed id must not double-append. Parquet
        # has no atomic MERGE, so partition the output by batch id and
        # overwrite just that partition — replay-idempotent.
        seen.append(batch_id)
        (
            batch_df.withColumn("_ingest_batch", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_ingest_batch")
            .parquet(dest_path)
        )

    ckpt = ckpt_dir("ingest")
    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return seen


def stream_ingest_txnlog(
    spark: SparkSession,
    source_path: str,
    schema,
    table_root: str,
    transform=None,
    max_files_per_trigger: int = 1,
    checkpoint: str | None = None,
):
    """Stream a (finite) parquet source into a transaction-log table,
    EXACTLY-ONCE: each micro-batch commits as one table version tagged
    ``meta={"src_batch": id}``, and a replayed batch id is detected by
    scanning the log (``has_meta``) and skipped — the put-if-absent
    idempotence pattern Delta's ``txnAppId/txnVersion`` implements.
    Returns the TxnLogTable.

    ``checkpoint`` pins the checkpoint location so a killed run can be
    RESUMED (the restart token); default is a fresh temp dir per call
    (one-shot ingest). tests/test_streaming_restart.py proves both the
    offset-log resume and the has_meta replay guard across restarts.

    At scale the log scan is kilobytes of driver-side JSON per commit;
    each batch write is a normal distributed parquet write."""
    from ..sources.txnlog import TxnLogTable

    t = TxnLogTable(spark, table_root)
    reader = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", max_files_per_trigger
    )
    stream = reader.parquet(source_path)
    if transform is not None:
        stream = transform(stream)

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if t.has_meta("src_batch", batch_id):
            return  # replayed micro-batch: already committed
        t.commit(batch_df, meta={"src_batch": batch_id})

    ckpt = checkpoint or ckpt_dir("txn")
    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return t


def stream_cdc_scd2_txnlog(
    spark: SparkSession,
    source_path: str,
    schema,
    table_root: str,
    key_col: str = "k",
    status_col: str = "status",
    ts_col: str = "eff_ts",
    max_files_per_trigger: int = 1,
    compact_every: int = 16,
    cow_factor: int = 8,
):
    """Stream a CDC change feed into an SCD TYPE-2 dimension on the
    transaction-log format: each micro-batch MERGES its changes into
    the current interval table TOUCHED-KEYS-ONLY — ONE ATOMIC log
    entry (:meth:`TxnLogTable.commit_merge`) carries both the MoR
    equality tombstone retiring every touched key's prior rows AND the
    append of those keys' refolded intervals, tagged with the
    micro-batch id. Atomicity matters: with tombstone and append as
    two log versions, a driver dying between them leaves an orphaned
    tombstone hiding the touched keys' prior rows, so the replay
    (which sees ``has_meta=False`` and rebuilds its input from
    ``snapshot_mor``) would permanently lose those keys' history.
    With one entry the replay either sees the full merge (skipped via
    ``has_meta``) or a table without any trace of it.

    The merge is ORDER-INSENSITIVE across micro-batches AND idempotent
    under duplicate delivery: for each touched key the current rows
    are rewound to their underlying change events
    (``valid_from``/status pairs), unioned with the batch's incoming
    changes, DEDUPED on (key, status, valid_from) — an at-least-once
    feed re-delivering the same change in a different micro-batch
    would otherwise duplicate the history row — and the key's
    intervals are refolded by effective-ts order (lead() closes each
    but the last). A late batch carrying an EARLIER change therefore
    splices into history correctly instead of silently closing the
    wrong row — no reliance on file mtime / FileStreamSource arrival
    order.

    Scale — ADAPTIVE copy-on-write vs merge-on-read, decided per batch
    (the Delta/Iceberg MERGE strategy choice, round 12) from two
    near-free numbers: the batch's row count and the table's
    parquet-footer rows (driver-side metadata, no probe job),

    - **MoR** when the batch is a small slice (batch_rows·cow_factor
      < table_rows): EXACT equality tombstones (derived from the prior
      rows that actually exist, so insert-only batches tombstone
      nothing and later anti-joins never carry useless key sets) +
      an append of only the refolded touched keys — WRITE is
      O(touched keys), the 100 TB dimension-maintenance regime, where
      the round-11 full-overwrite made total work quadratic in the
      feed.
    - **CoW overwrite** when the batch is a large fraction (the
      bulk-restate regime): untouched rows pass through an anti-join
      and ONE overwrite commit rewrites the table — cheaper than
      tombstoning a large slice of the key space, and it
      auto-compacts.

    ``cow_factor`` (round-13 tune, default 8 → CoW when the batch
    touches ≳12.5% of the table): MoR's per-batch saving is the write
    volume (touched vs table), but it pays a second commit's overhead
    plus tombstone read-debt on every later snapshot until compaction
    (amortized ~table/compact_every per batch) — so the break-even is
    touched ≪ table, not touched < table/3. Round-12's factor 3 sent
    25%-of-keyspace batches down MoR and measured SLOWER than CoW on
    the bench feed; ``tools/soak_scd2.py`` pins both regimes (a
    0.5%-touched feed where MoR beats forced CoW, and the bench-shaped
    feed where CoW wins).

    On the MoR path ``prior`` is a touched-keys-bounded persist reused
    by the emptiness probe, the tombstone and the fold. Joins carry no
    broadcast hint —
    AQE picks broadcast while the key set is small and a shuffle join
    once it isn't. Stream end does NOT force compaction — consumers
    read :meth:`TxnLogTable.snapshot_mor` (which IS ``snapshot`` when
    no tombstones are live); compaction triggers when
    ``compact_every`` delete batches accumulate, bounding live-file
    count on long streams."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..sources.txnlog import TxnLogTable

    t = TxnLogTable(spark, table_root)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("recursiveFileLookup", "true")
        .parquet(source_path)
    )

    out_cols = [key_col, status_col, "valid_from", "valid_to"]

    def live_deletes() -> int:
        return len(t._live_with_versions(None, "add_deletes"))

    def compact() -> None:
        # fold MoR tombstones into one data batch; overwrite retires
        # both the superseded data batches and the delete batches
        t.commit(
            t.snapshot_mor(key_col).select(out_cols), mode="overwrite"
        )

    def table_rows() -> int:
        """Live-row UPPER BOUND from parquet footers — driver-side
        metadata only, no Spark job (tombstoned rows overcount, fine
        for the CoW/MoR heuristic)."""
        import glob as _glob

        import pyarrow.parquet as pq

        n = 0
        for b in t.live_batches():
            for f in _glob.glob(
                os.path.join(table_root, "data", b, "**", "*.parquet"),
                recursive=True,
            ):
                n += pq.ParquetFile(f).metadata.num_rows
        return n

    def fold(changes: DataFrame) -> DataFrame:
        w = Window.partitionBy(key_col).orderBy("valid_from", status_col)
        # dedup duplicate (key, status, valid_from) deliveries INSIDE
        # the fold's window sort (duplicates are adjacent under w) —
        # an at-least-once feed re-delivering a change in a different
        # micro-batch must not duplicate the history row, and a
        # separate dropDuplicates would cost a second shuffle
        dup = (F.lag("valid_from").over(w) == F.col("valid_from")) & (
            F.lag(status_col).over(w) == F.col(status_col)
        )
        return (
            changes.withColumn("__dup", F.coalesce(dup, F.lit(False)))
            .filter(~F.col("__dup"))
            .withColumn("valid_to", F.lead("valid_from").over(w))
            .select(out_cols)
        )

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        if t.has_meta("src_batch", batch_id):
            return  # replayed micro-batch: already merged
        changes = batch_df.select(
            key_col, status_col, F.col(ts_col).alias("valid_from")
        )
        if not t.versions():
            t.commit(fold(changes), mode="append",
                     meta={"src_batch": batch_id})
            return
        cur = t.snapshot_mor(key_col)
        tk = changes.select(key_col).distinct()
        # rewind touched keys' intervals to their change events and
        # refold with the incoming changes — valid_to is fully
        # determined by the per-key ts order, so the result is the
        # batch SCD2 construction regardless of arrival order
        prior = cur.join(tk, key_col, "left_semi").select(
            key_col, status_col, "valid_from"
        )
        # CoW/MoR decision from two near-free numbers: the batch's own
        # row count and the table's rows, BOTH from parquet footers
        # (driver-side metadata; a file-source micro-batch exposes its
        # backing files) — zero probe jobs either way
        def batch_rows() -> int:
            import pyarrow.parquet as pq

            files = [
                f[7:] if f.startswith("file://") else f
                for f in batch_df.inputFiles()
            ]
            if not files:
                return batch_df.count()  # non-file source: one count job
            return sum(pq.ParquetFile(f).metadata.num_rows for f in files)

        if batch_rows() * cow_factor >= table_rows():
            # CoW: bulk-restate batch — rewriting the table once beats
            # tombstoning a large slice of the key space (and the
            # overwrite retires any accumulated tombstones for free)
            untouched = cur.join(tk, key_col, "left_anti")
            t.commit(
                untouched.select(out_cols).unionByName(
                    fold(prior.unionByName(changes))
                ),
                mode="overwrite",
                meta={"src_batch": batch_id},
            )
        else:
            # touched-keys-bounded cache: prior feeds the emptiness
            # probe, the tombstone AND the fold — one materialization
            prior = prior.persist()
            if prior.count():
                # EXACT tombstone — only keys with prior rows, so an
                # insert-only batch tombstones nothing and later
                # anti-joins never carry useless key sets. Tombstone +
                # refolded append land as ONE atomic log entry so a
                # crash between them cannot orphan the tombstone.
                t.commit_merge(
                    fold(prior.unionByName(changes)),
                    prior.select(key_col).distinct(),
                    meta={"src_batch": batch_id},
                )
            else:
                t.commit(
                    fold(prior.unionByName(changes)),
                    mode="append",
                    meta={"src_batch": batch_id},
                )
            prior.unpersist()
        if live_deletes() >= compact_every:
            compact()

    ckpt = ckpt_dir("scd2")
    q = (
        stream.writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return t
