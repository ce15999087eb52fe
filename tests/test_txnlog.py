"""Transaction-log table format: commit atomicity, time travel,
replace/overwrite semantics — the edges the differential oracle of
``ingest_txn_log_time_travel`` cannot see."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_ingestion_tool_spark.sources.txnlog import (
    CommitConflict,
    TxnLogTable,
)


def test_append_and_time_travel(spark, tmp_path):
    t = TxnLogTable(spark, str(tmp_path / "t"))
    v0, _ = t.commit(spark.range(10))
    v1, _ = t.commit(spark.range(10, 25))
    assert (v0, v1) == (0, 1)
    assert t.snapshot(0).count() == 10
    assert t.snapshot(1).count() == 25
    assert t.snapshot().count() == 25  # latest


def test_replace_retires_batch_but_history_survives(spark, tmp_path):
    t = TxnLogTable(spark, str(tmp_path / "t"))
    _, b0 = t.commit(spark.range(10))
    t.commit(spark.range(100, 105), remove=[b0])
    assert t.live_batches() != [b0]
    assert t.snapshot().count() == 5
    # v0 still readable after its batch was retired from the head
    assert t.snapshot(0).count() == 10


def test_overwrite_drops_all_live(spark, tmp_path):
    t = TxnLogTable(spark, str(tmp_path / "t"))
    t.commit(spark.range(10))
    t.commit(spark.range(20))
    t.commit(spark.range(3), mode="overwrite")
    assert t.snapshot().count() == 3
    assert len(t.live_batches()) == 1
    assert t.snapshot(1).count() == 30


def test_commit_conflict_retries_to_next_version(spark, tmp_path):
    t = TxnLogTable(spark, str(tmp_path / "t"))
    t.commit(spark.range(5))
    # Simulate a racing writer grabbing version 1 between the version
    # probe and the log put: pre-create 1.json, then commit.
    t._put_entry(1, {"version": 1, "add": [], "remove": []})
    v, _ = t.commit(spark.range(7))
    assert v == 2
    assert t.snapshot().count() == 12  # 5 + 0 + 7


def test_put_entry_is_put_if_absent(spark, tmp_path):
    t = TxnLogTable(spark, str(tmp_path / "t"))
    t._put_entry(0, {"version": 0, "add": [], "remove": []})
    with pytest.raises(CommitConflict):
        t._put_entry(0, {"version": 0, "add": ["x"], "remove": []})


def test_unknown_version_and_empty_table_raise(spark, tmp_path):
    t = TxnLogTable(spark, str(tmp_path / "t"))
    with pytest.raises(ValueError):
        t.snapshot()
    t.commit(spark.range(1))
    with pytest.raises(ValueError):
        t.live_batches(99)


def test_unreferenced_data_is_invisible(spark, tmp_path):
    """A failed writer's orphan parquet dir never shows up in a read."""
    t = TxnLogTable(spark, str(tmp_path / "t"))
    t.commit(spark.range(4))
    orphan = str(tmp_path / "t" / "data" / "batch-orphan")
    spark.range(1000).write.parquet(orphan)
    assert t.snapshot().count() == 4


def test_schema_projection_pushdown_reaches_scan(spark, tmp_path):
    t = TxnLogTable(spark, str(tmp_path / "t"))
    t.commit(spark.range(100).withColumn("v", F.col("id") * 2))
    plan = (
        t.snapshot()
        .filter(F.col("id") > 90)
        .select("v")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,90)]" in plan


def test_vacuum_deletes_only_unreachable(spark, tmp_path):
    t = TxnLogTable(spark, str(tmp_path / "t"))
    _, b0 = t.commit(spark.range(10))
    _, b1 = t.commit(spark.range(10, 30))
    t.commit(t.snapshot().coalesce(1), remove=[b0, b1])
    removed = t.vacuum(retain_versions=1)
    assert sorted(removed) == sorted([b0, b1])
    # latest snapshot unaffected; log keeps full history
    assert t.snapshot().count() == 30
    assert t.versions() == [0, 1, 2]
    # time travel past the retention horizon now fails on missing files
    with pytest.raises(Exception):
        t.snapshot(0).count()


def test_vacuum_retain_two_keeps_previous_snapshot(spark, tmp_path):
    t = TxnLogTable(spark, str(tmp_path / "t"))
    _, b0 = t.commit(spark.range(5))
    t.commit(spark.range(100, 103), mode="overwrite")
    assert t.vacuum(retain_versions=2) == []
    assert t.snapshot(0).count() == 5  # still reachable: retained
    assert t.vacuum(retain_versions=1) == [b0]


def test_vacuum_sweeps_orphans(spark, tmp_path):
    """A failed writer's orphan batch dir is reclaimed by vacuum."""
    t = TxnLogTable(spark, str(tmp_path / "t"))
    t.commit(spark.range(4))
    orphan = str(tmp_path / "t" / "data" / "batch-orphan")
    spark.range(10).write.parquet(orphan)
    assert t.vacuum(retain_versions=1) == ["batch-orphan"]
    assert t.snapshot().count() == 4


def test_commit_meta_roundtrip_and_has_meta(spark, tmp_path):
    t = TxnLogTable(spark, str(tmp_path / "t"))
    t.commit(spark.range(3), meta={"src_batch": 0})
    t.commit(spark.range(3, 6))  # no meta
    assert t.has_meta("src_batch", 0)
    assert not t.has_meta("src_batch", 1)
    assert not t.has_meta("other", 0)


def test_streaming_sink_skips_replayed_batch(spark, tmp_path):
    """The exactly-once guard: a second run over the SAME source with a
    fresh checkpoint re-delivers every micro-batch; all must be skipped."""
    from data_ingestion_tool_spark.streaming.ingest import (
        stream_ingest_txnlog,
    )

    src = str(tmp_path / "src")
    spark.range(20).repartition(2).write.parquet(src)
    schema = spark.read.parquet(src).schema
    root = str(tmp_path / "table")
    t = stream_ingest_txnlog(spark, src, schema, root)
    assert len(t.versions()) == 2
    assert t.snapshot().count() == 20
    # fresh checkpoint => foreachBatch re-delivers ids 0..1 (replay)
    t2 = stream_ingest_txnlog(spark, src, schema, root)
    assert len(t2.versions()) == 2  # nothing double-appended
    assert t2.snapshot().count() == 20


def test_commit_merge_is_one_atomic_version(spark, tmp_path):
    """commit_merge lands tombstone + append as ONE log entry (crash
    can never orphan the tombstone), carries the meta token, and the
    same-version tombstone hides only strictly-older batches — never
    its own append."""
    from pyspark.sql import functions as F

    t = TxnLogTable(spark, str(tmp_path / "t"))
    t.commit(spark.range(10).select(F.col("id").alias("k")))  # v0
    n_before = len(t.versions())
    v, _ = t.commit_merge(
        spark.range(3).select((F.col("id") + 100).alias("k")),
        spark.range(3).select(F.col("id").alias("k")),
        meta={"src_batch": 7},
    )
    assert len(t.versions()) == n_before + 1  # exactly one new version
    e = t._entry(v)
    assert e["add"] and e["add_deletes"] and e["meta"] == {"src_batch": 7}
    assert t.has_meta("src_batch", 7)
    out = sorted(r.k for r in t.snapshot_mor("k").collect())
    # 0..2 tombstoned from v0; 3..9 survive; 100..102 appended at v —
    # NOT hidden by the same-version tombstone (strict _del_v > _data_v)
    assert out == [3, 4, 5, 6, 7, 8, 9, 100, 101, 102]
    # overwrite compaction retires the merge's data AND delete batches
    t.commit(t.snapshot_mor("k"), mode="overwrite")
    assert t._live_with_versions(None, "add_deletes") == []
    assert sorted(r.k for r in t.snapshot_mor("k").collect()) == out


def test_mor_delete_is_sequence_aware(spark, tmp_path):
    t = TxnLogTable(spark, str(tmp_path / "t"))
    t.commit(spark.range(10))                       # v0: keys 0..9
    t.commit_deletes(spark.range(5).select("id"))   # v1: delete 0..4
    t.commit(spark.range(3))                        # v2: re-insert 0..2
    out = sorted(r.id for r in t.snapshot_mor("id").collect())
    # 0..4 gone from the v0 batch; 5..9 survive; 0..2 re-inserted at v2
    assert out == [0, 1, 2, 5, 6, 7, 8, 9]
    # time travel to v1 sees only the post-delete v0 batch
    assert sorted(
        r.id for r in t.snapshot_mor("id", version=1).collect()
    ) == [5, 6, 7, 8, 9]
    # plain snapshot ignores tombstones (the raw-files view)
    assert t.snapshot().count() == 13


def test_mor_compaction_folds_tombstones_and_vacuum_keeps_live_deletes(
    spark, tmp_path
):
    t = TxnLogTable(spark, str(tmp_path / "t"))
    _, b0 = t.commit(spark.range(10))
    _, d0 = t.commit_deletes(spark.range(4).select("id"))
    # compaction: materialize the MoR view, retire data AND delete file
    t.commit(t.snapshot_mor("id").coalesce(1), remove=[b0, d0])
    assert sorted(r.id for r in t.snapshot_mor("id").collect()) == list(
        range(4, 10)
    )
    removed = t.vacuum(retain_versions=1)
    assert sorted(removed) == sorted([b0, d0])
    assert t.snapshot_mor("id").count() == 6


def test_vacuum_retains_live_delete_files(spark, tmp_path):
    t = TxnLogTable(spark, str(tmp_path / "t"))
    t.commit(spark.range(10))
    _, d0 = t.commit_deletes(spark.range(2).select("id"))
    assert t.vacuum(retain_versions=1) == []  # delete file still live
    assert t.snapshot_mor("id").count() == 8


def test_changefeed_classifies_insert_delete_update(spark, tmp_path):
    t = TxnLogTable(spark, str(tmp_path / "t"))
    base = spark.range(6).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("val")
    )
    _, b0 = t.commit(base.where("k < 4"))  # v0: keys 0-3
    # v1: replace b0 with keys 2-3 doubled, plus fresh keys 4-5
    repl = base.where("k >= 2").withColumn("val", F.col("val") * 2)
    t.commit(repl, remove=[b0])
    feed = t.changefeed(0, 1, ["k"])
    got = {
        (r["change_type"], r["k"]): r["val"] for r in feed.collect()
    }
    assert got == {
        ("delete", 0): 0,
        ("delete", 1): 10,
        ("update_preimage", 2): 20,
        ("update_preimage", 3): 30,
        ("update_postimage", 2): 40,
        ("update_postimage", 3): 60,
        ("insert", 4): 80,
        ("insert", 5): 100,
    }


def test_changefeed_insert_only_and_no_churn(spark, tmp_path):
    t = TxnLogTable(spark, str(tmp_path / "t"))
    t.commit(spark.range(3).select(F.col("id").alias("k")))
    t.commit(spark.range(10, 12).select(F.col("id").alias("k")))
    feed = t.changefeed(0, 1, ["k"])
    assert {r["change_type"] for r in feed.collect()} == {"insert"}
    assert feed.count() == 2
    # same version on both sides: no batch churn
    with pytest.raises(ValueError):
        t.changefeed(1, 1, ["k"])


def test_changefeed_skips_unchanged_batches(spark, tmp_path):
    """Batches live at both versions must not appear in the feed —
    the cost-is-the-churn property."""
    t = TxnLogTable(spark, str(tmp_path / "t"))
    t.commit(spark.range(100).select(F.col("id").alias("k")))  # stays live
    _, b1 = t.commit(spark.range(100, 104).select(F.col("id").alias("k")))
    t.commit(
        spark.range(200, 202).select(F.col("id").alias("k")), remove=[b1]
    )
    feed = t.changefeed(1, 2, ["k"])
    keys = {r["k"] for r in feed.collect()}
    assert keys == {100, 101, 102, 103, 200, 201}  # none of 0-99


def test_changefeed_spans_tombstone_only_commit(spark, tmp_path):
    """A feed window whose only churn is an ``add_deletes`` commit
    emits ``delete`` rows for the newly-tombstoned keys (with their
    full preimage values) instead of raising 'no batch churn'."""
    t = TxnLogTable(spark, str(tmp_path / "t"))
    base = spark.range(6).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("val")
    )
    t.commit(base)  # v0
    t.commit_deletes(spark.range(2).select(F.col("id").alias("k")))  # v1
    feed = t.changefeed(0, 1, ["k"])
    got = {(r["change_type"], r["k"]): r["val"] for r in feed.collect()}
    assert got == {("delete", 0): 0, ("delete", 1): 10}


def test_changefeed_tombstone_plus_reinsert_is_update(spark, tmp_path):
    """Tombstone + re-insert of the same key inside one feed window
    nets to an update pair; keys only tombstoned net to deletes."""
    t = TxnLogTable(spark, str(tmp_path / "t"))
    base = spark.range(4).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("val")
    )
    t.commit(base)  # v0: keys 0-3
    t.commit_deletes(spark.range(2).select(F.col("id").alias("k")))  # v1
    # v2: re-insert key 0 with a new value
    t.commit(
        spark.range(1).select(F.col("id").alias("k"), F.lit(99).alias("val"))
    )
    feed = t.changefeed(0, 2, ["k"])
    got = {(r["change_type"], r["k"]): r["val"] for r in feed.collect()}
    assert got == {
        ("update_preimage", 0): 0,
        ("update_postimage", 0): 99,
        ("delete", 1): 10,
    }


def test_changefeed_retired_tombstone_resurrects_keys(spark, tmp_path):
    """Retiring a live delete batch (without touching its data batch)
    makes the hidden rows visible again — the feed reports inserts."""
    t = TxnLogTable(spark, str(tmp_path / "t"))
    base = spark.range(4).select(
        F.col("id").alias("k"), (F.col("id") * 10).alias("val")
    )
    t.commit(base)  # v0
    _, d0 = t.commit_deletes(
        spark.range(2).select(F.col("id").alias("k"))
    )  # v1
    # v2: retire the tombstone file alongside an unrelated append
    t.commit(
        spark.range(10, 11).select(
            F.col("id").alias("k"), F.lit(-1).alias("val")
        ),
        remove=[d0],
    )
    feed = t.changefeed(1, 2, ["k"])
    got = {(r["change_type"], r["k"]): r["val"] for r in feed.collect()}
    assert got == {
        ("insert", 0): 0,
        ("insert", 1): 10,
        ("insert", 10): -1,
    }


def test_overwrite_retires_tombstones_so_vacuum_reclaims_them(
    spark, tmp_path
):
    """The GDPR-erasure property end-to-end: overwrite-compaction
    retires the MoR delete batch, so vacuum physically deletes both
    the original data files AND the tombstone file holding the erased
    subject's key values."""
    import os

    t = TxnLogTable(spark, str(tmp_path / "t"))
    _, b0 = t.commit(spark.range(10))
    _, d0 = t.commit_deletes(spark.range(3).select("id"))
    t.commit(t.snapshot_mor("id"), mode="overwrite")
    removed = t.vacuum(retain_versions=1)
    assert set(removed) == {b0, d0}
    datadir = tmp_path / "t" / "data"
    assert b0 not in os.listdir(datadir) and d0 not in os.listdir(datadir)
    assert sorted(r.id for r in t.snapshot_mor("id").collect()) == list(
        range(3, 10)
    )


def test_zone_map_prune_overlap_and_conservative_keep(spark, tmp_path):
    t = TxnLogTable(spark, str(tmp_path / "t"))
    t.commit(spark.range(3), meta={"zmin": "1992-01-01", "zmax": "1992-12-31"})
    t.commit(spark.range(3), meta={"zmin": "1995-01-01", "zmax": "1995-12-31"})
    t.commit(spark.range(3))  # no zone map: must be kept conservatively
    keep, total = t.zone_map_prune("1995-06-01", "1996-06-30")
    assert total == 3
    assert len(keep) == 2  # 1995 batch + the unmapped batch
    # boundary inclusivity: zmax == lo still overlaps
    keep2, _ = t.zone_map_prune("1992-12-31", "1993-01-05")
    assert len(keep2) == 2  # 1992 (touching) + unmapped


def test_zone_map_prune_ignores_retired_batches(spark, tmp_path):
    t = TxnLogTable(spark, str(tmp_path / "t"))
    _, b0 = t.commit(
        spark.range(3), meta={"zmin": "1995-01-01", "zmax": "1995-12-31"}
    )
    t.commit(
        spark.range(5),
        remove=[b0],
        meta={"zmin": "1997-01-01", "zmax": "1997-12-31"},
    )
    keep, total = t.zone_map_prune("1995-01-01", "1995-12-31")
    assert total == 1  # only the replacement batch is live
    assert keep == []  # and it does not overlap 1995


def test_refs_pin_snapshots_while_main_advances(spark, tmp_path):
    t = TxnLogTable(spark, str(tmp_path / "t"))
    t.commit(spark.range(10))
    t.set_ref("release-1", 0)
    _, b0 = t.commit(spark.range(100, 120))
    t.commit(spark.range(200, 205), remove=[b0])
    assert t.resolve_ref("release-1") == 0
    assert t.snapshot_ref("release-1").count() == 10  # pinned
    assert t.snapshot().count() == 15  # main moved on
    # refs advance (branch-head semantics)
    t.set_ref("release-1", 2)
    assert t.snapshot_ref("release-1").count() == 15
    with pytest.raises(ValueError):
        t.set_ref("bogus", 99)
    with pytest.raises(ValueError):
        t.resolve_ref("never-created")


import random


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_changefeed_equals_visible_diff_random_ops(spark, tmp_path, seed):
    """Algebraic invariant of the MoR-aware changefeed: for ANY pair of
    committed versions, inserts == visible(v2) − visible(v1), deletes ==
    visible(v1) − visible(v2), and every emitted pre/postimage carries
    the exact value visible at its endpoint — under random sequences of
    appends, re-inserts, equality-delete commits, batch replaces, and
    overwrite compactions (which retire tombstones)."""
    from data_ingestion_tool_spark.sources.txnlog import TxnLogTable

    rng = random.Random(seed)
    t = TxnLogTable(spark, str(tmp_path / "t"))
    next_key = 0

    def mk(rows):
        return spark.createDataFrame(rows, "k long, v long")

    def visible(version):
        try:
            return {
                r.k: r.v
                for r in t.snapshot_mor("k", version=version).collect()
            }
        except ValueError:  # empty table
            return {}

    live_keys: set[int] = set()
    dead_keys: set[int] = set()
    batches: list[str] = []

    # seed batch
    rows = [(i, i * 10) for i in range(8)]
    next_key = 8
    live_keys |= {k for k, _ in rows}
    _, b = t.commit(mk(rows))
    batches.append(b)

    for _ in range(7):
        op = rng.choice(["append", "reinsert", "delete", "replace", "compact"])
        if op == "append":
            rows = [
                (next_key + i, (next_key + i) * 10 + rng.randrange(5))
                for i in range(rng.randrange(1, 5))
            ]
            next_key += len(rows)
            live_keys |= {k for k, _ in rows}
            _, b = t.commit(mk(rows))
            batches.append(b)
        elif op == "reinsert" and dead_keys:
            ks = rng.sample(sorted(dead_keys), min(2, len(dead_keys)))
            dead_keys -= set(ks)
            live_keys |= set(ks)
            _, b = t.commit(mk([(k, k * 100 + 7) for k in ks]))
            batches.append(b)
        elif op == "delete" and live_keys:
            ks = rng.sample(sorted(live_keys), min(3, len(live_keys)))
            live_keys -= set(ks)
            dead_keys |= set(ks)
            t.commit_deletes(mk([(k, 0) for k in ks]).select("k"))
        elif op == "replace" and batches:
            old = rng.choice(batches)
            batches.remove(old)
            rows = [
                (next_key, next_key * 10), (next_key + 1, next_key * 10 + 1)
            ]
            next_key += 2
            live_keys |= {k for k, _ in rows}
            _, b = t.commit(mk(rows), remove=[old])
            batches.append(b)
        elif op == "compact":
            merged = t.snapshot_mor("k")
            _, b = t.commit(merged, mode="overwrite")
            batches = [b]
            dead_keys |= set()  # tombstones retired; visibility unchanged
        # (ops that can't run this step — e.g. reinsert with no dead
        # keys — just skip; version history still grows elsewhere)

    versions = t.versions()
    # check several random version pairs plus the full span
    pairs = {(versions[0], versions[-1])}
    for _ in range(4):
        a, b2 = sorted(rng.sample(versions, 2))
        pairs.add((a, b2))
    for v1, v2 in pairs:
        before, after = visible(v1), visible(v2)
        try:
            feed = t.changefeed(v1, v2, ["k"]).collect()
        except ValueError:
            # legal only when literally nothing churned
            assert before == after
            continue
        ins = {r.k: r.v for r in feed if r.change_type == "insert"}
        dels = {r.k: r.v for r in feed if r.change_type == "delete"}
        pre = {r.k: r.v for r in feed if r.change_type == "update_preimage"}
        post = {r.k: r.v for r in feed if r.change_type == "update_postimage"}
        assert set(ins) == set(after) - set(before), (v1, v2, "inserts")
        assert set(dels) == set(before) - set(after), (v1, v2, "deletes")
        assert set(pre) == set(post), (v1, v2, "update pairing")
        for k, v in ins.items():
            assert after[k] == v, (v1, v2, "insert value", k)
        for k, v in dels.items():
            assert before[k] == v, (v1, v2, "delete value", k)
        for k in pre:
            assert k in before and k in after, (v1, v2, "update key", k)
            assert pre[k] == before[k] and post[k] == after[k], (
                v1, v2, "update values", k,
            )


def test_log_read_budget(spark, tmp_path, monkeypatch):
    """Every state read replays the log once: at V committed versions a
    call opens at most V log entries, and an append opens none. Entries
    are counted as ``_log/*.json`` opens through the module's ``open``,
    the way ``perfbench/stream_ingest.py`` counts them."""
    import builtins
    import os

    from data_ingestion_tool_spark.sources import txnlog

    def keys(lo, hi):
        return spark.range(lo, hi).select(F.col("id").alias("k"))

    t = TxnLogTable(spark, str(tmp_path / "t"))
    for i in range(5):
        zone = {"zmin": str(i), "zmax": str(i)}
        t.commit(keys(10 * i, 10 * i + 10), meta=zone)
    t.commit_deletes(keys(0, 3))
    t.commit(keys(100, 103))
    n_versions = len(t.versions())
    opened: list[str] = []

    def counting_open(file, mode="r", *args, **kwargs):
        head, name = os.path.split(os.fspath(file))
        if "r" in mode and os.path.basename(head) == "_log":
            if name.endswith(".json"):
                opened.append(name)
        return builtins.open(file, mode, *args, **kwargs)

    monkeypatch.setattr(txnlog, "open", counting_open, raising=False)

    def reads(call) -> int:
        opened.clear()
        call()
        return len(opened)

    got = {
        "has_meta": reads(lambda: t.has_meta("src_batch", 0)),
        "live_batches": reads(t.live_batches),
        "snapshot_mor": reads(lambda: t.snapshot_mor("k")),
        "zone_map_prune": reads(lambda: t.zone_map_prune("1", "2")),
        "changefeed": reads(lambda: t.changefeed(0, n_versions - 1, ["k"])),
        "vacuum": reads(lambda: t.vacuum(1)),
        "overwrite": reads(lambda: t.commit(keys(0, 1), mode="overwrite")),
    }
    assert all(n <= n_versions for n in got.values()), (n_versions, got)
    assert reads(lambda: t.commit(keys(5, 6))) == 0


def test_snapshot_mor_under_a_root_containing_data(spark, tmp_path):
    """Each row's batch is read from its file's parent directory, so a
    table root that itself has a ``data`` component still gets its
    tombstones applied (an unanchored match took that component for
    the batch and resurrected the deleted keys)."""
    t = TxnLogTable(spark, str(tmp_path / "data" / "t"))
    t.commit(spark.range(6).select(F.col("id").alias("k")))
    t.commit_deletes(spark.range(2).select(F.col("id").alias("k")))
    t.commit(spark.range(10, 12).select(F.col("id").alias("k")))
    assert sorted(r.k for r in t.snapshot_mor("k").collect()) == [
        2, 3, 4, 5, 10, 11,
    ]
