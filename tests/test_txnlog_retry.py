"""The commit retry path: a rival writer puts its entry AFTER this
commit probed its version and wrote its parquet, so the first log put
loses with ``CommitConflict`` and the commit retries at the next
version without writing its data again."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from data_ingestion_tool_spark.sources.txnlog import (
    CommitConflict,
    TxnLogTable,
)


def _keys(spark, *ks):
    return spark.createDataFrame([(k,) for k in ks], "k bigint")


def _race(monkeypatch, t, rival_df, times=1):
    """Before each of ``t``'s next ``times`` log puts, a second writer on
    the same root appends ``rival_df`` at the version ``t`` probed.
    Returns the rivals' ``(version, batch)`` list."""
    rival = TxnLogTable(t.spark, t.root)
    put = t._put_entry
    won: list[tuple[int, str]] = []

    def racing_put(v, entry):
        if len(won) < times:
            won.append(rival.commit(rival_df))
        return put(v, entry)

    monkeypatch.setattr(t, "_put_entry", racing_put)
    return won


def _batch_dirs(t) -> set[str]:
    return set(os.listdir(os.path.join(t.root, "data")))


def test_append_retries_after_rival(spark, tmp_path, monkeypatch):
    t = TxnLogTable(spark, str(tmp_path / "t"))
    t.commit(_keys(spark, 1, 2))
    won = _race(monkeypatch, t, _keys(spark, 3))
    v, batch = t.commit(_keys(spark, 4, 5))
    assert [w for w, _ in won] == [1] and v == 2
    # the batch keeps its probed name: its parquet was written once
    assert batch.startswith("batch-00001-")
    assert _batch_dirs(t) == set(t.live_batches())
    assert t._entry(2) == {"version": 2, "add": [batch], "remove": []}
    assert sorted(r.k for r in t.snapshot().collect()) == [1, 2, 3, 4, 5]


def test_overwrite_retry_drops_rival_batch(spark, tmp_path, monkeypatch):
    t = TxnLogTable(spark, str(tmp_path / "t"))
    _, b0 = t.commit(_keys(spark, 1, 2))
    won = _race(monkeypatch, t, _keys(spark, 3))
    v, batch = t.commit(_keys(spark, 9), mode="overwrite")
    assert v == 2
    assert t._entry(2)["remove"] == sorted([b0, won[0][1]])
    assert t.live_batches() == [batch]
    assert [r.k for r in t.snapshot().collect()] == [9]


def test_commit_deletes_retries_after_rival(spark, tmp_path, monkeypatch):
    t = TxnLogTable(spark, str(tmp_path / "t"))
    t.commit(_keys(spark, 1, 2, 3))
    _race(monkeypatch, t, _keys(spark, 2, 7))
    v, dbatch = t.commit_deletes(_keys(spark, 2))
    assert v == 2 and "-del-" in dbatch
    assert t._entry(2) == {"version": 2, "add_deletes": [dbatch], "remove": []}
    # the tombstone lands after the rival, so it hides the rival's 2 too
    assert sorted(r.k for r in t.snapshot_mor("k").collect()) == [1, 3, 7]


def test_commit_merge_retries_after_rival(spark, tmp_path, monkeypatch):
    t = TxnLogTable(spark, str(tmp_path / "t"))
    t.commit(_keys(spark, 1, 2))
    _race(monkeypatch, t, _keys(spark, 1, 8))
    v, batch = t.commit_merge(
        _keys(spark, 1).withColumn("k", F.col("k") + 100),
        _keys(spark, 1),
        meta={"src_batch": 4},
    )
    assert v == 2
    e = t._entry(2)
    assert e["add"] == [batch] and len(e["add_deletes"]) == 1
    assert e["meta"] == {"src_batch": 4} and e["remove"] == []
    assert sorted(r.k for r in t.snapshot_mor("k").collect()) == [2, 8, 101]


def test_retries_exhausted_raise(spark, tmp_path, monkeypatch):
    t = TxnLogTable(spark, str(tmp_path / "t"))
    t.commit(_keys(spark, 1))
    won = _race(monkeypatch, t, _keys(spark, 2), times=3)
    with pytest.raises(CommitConflict, match="gave up after 3 retries"):
        t.commit(_keys(spark, 3), max_retries=3)
    assert [w for w, _ in won] == [1, 2, 3]
    assert t.versions() == [0, 1, 2, 3]
    assert sorted(r.k for r in t.snapshot().collect()) == [1, 2, 2, 2]
