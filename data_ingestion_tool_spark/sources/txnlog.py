"""Minimal transaction-log table format (Delta/Iceberg-shaped).

The lakehouse primitive a 100 TB deployment needs under every
``ingest_*`` pattern in this repo: writers commit immutable parquet
batches plus a tiny JSON log entry; readers resolve a SNAPSHOT (latest
or any historical version — time travel) from the log and read exactly
the live data files. The reference (``backend/main.py``) delegates
storage to a database and has no table format; this extension gives the
engine's own parquet tables the same append / replace / read-consistent
semantics.

Design points, scaled down but real:

- **The log is the table.** A version is committed iff ``_log/<v>.json``
  exists; data files unreferenced by the log are invisible (a failed
  writer leaves garbage, never corruption).
- **Optimistic concurrency.** A commit materializes its entry at
  ``<v>.json`` via hard-link-from-temp (atomic put-if-absent on POSIX;
  object stores use the same conditional-put). A losing racer retries
  at ``v+1`` — reads never block.
- **Snapshots are manifest math.** live(v) = union of ``add`` minus
  ``remove`` over entries ≤ v, resolved driver-side over kilobytes of
  JSON; the DATA read is a normal distributed parquet scan of the live
  files, so partition pruning / predicate pushdown apply unchanged.
- **One fold, one commit loop.** Every state read replays the log in
  ``TxnLogTable._fold`` (each entry ≤ v read once; ``has_meta`` alone
  scans every entry, live or retired), and every write goes through
  ``TxnLogTable._commit`` (parquet written once, entry put, rebuilt at
  the next version on a lost race).
"""

from __future__ import annotations

import json
import os
import tempfile
from collections.abc import Iterator
from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession


class CommitConflict(RuntimeError):
    """Another writer committed this version first."""


class _Batch(NamedTuple):
    """A live batch as the log fold sees it: name, the version that added
    it (its sequence number) and the adding entry's spec and meta."""

    name: str
    version: int
    spec: tuple = ()
    meta: dict = {}


class TxnLogTable:
    """A parquet table with a JSON transaction log and time travel."""

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        self._logdir = os.path.join(root, "_log")
        os.makedirs(self._logdir, exist_ok=True)
        os.makedirs(os.path.join(root, "data"), exist_ok=True)

    # -- log internals -------------------------------------------------

    def versions(self) -> list[int]:
        return sorted(
            int(f[: -len(".json")])
            for f in os.listdir(self._logdir)
            if f.endswith(".json")
        )

    def _entry(self, v: int) -> dict:
        with open(os.path.join(self._logdir, f"{v}.json")) as fh:
            return json.load(fh)

    def _put_entry(self, v: int, entry: dict) -> None:
        """Atomic put-if-absent: hard-link a temp file into place; EEXIST
        means a concurrent writer won this version."""
        fd, tmp = tempfile.mkstemp(dir=self._logdir, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as fh:
                json.dump(entry, fh)
            try:
                os.link(tmp, os.path.join(self._logdir, f"{v}.json"))
            except FileExistsError as exc:
                raise CommitConflict(f"version {v} already committed") from exc
        finally:
            os.unlink(tmp)

    def _path(self, batch: str) -> str:
        return os.path.join(self.root, "data", batch)

    def _fold(
        self, version: int | None = None
    ) -> Iterator[tuple[int, list[_Batch], list[_Batch]]]:
        """The one replay of the log: walk the entries ≤ ``version``
        (default: latest) in order, reading each once, and yield
        ``(v, data, deletes)`` after each — the live ``add`` and
        ``add_deletes`` batches as of v. An empty table yields nothing;
        an unknown ``version`` raises ``ValueError``."""
        versions = self.versions()
        if version is None:
            version = versions[-1] if versions else -1
        elif versions and version not in versions:
            raise ValueError(f"unknown version {version}")
        data, dels = [], []
        for v in versions:
            if v > version:
                break
            e = self._entry(v)
            gone = set(e.get("remove", []))
            # new lists each step: a caller may keep an earlier state
            data = [b for b in data if b.name not in gone] + [
                _Batch(b, v, tuple(e.get("spec", ())), e.get("meta", {}))
                for b in e.get("add", [])
            ]
            dels = [b for b in dels if b.name not in gone] + [
                _Batch(b, v) for b in e.get("add_deletes", [])
            ]
            yield v, data, dels

    def _live(
        self, version: int | None = None
    ) -> tuple[list[_Batch], list[_Batch]]:
        """The fold's last state: live (data, deletes) as of ``version``."""
        data, dels = [], []
        for _, data, dels in self._fold(version):
            pass
        return data, dels

    def _scan(
        self, batches: list[_Batch], tag: str | None = None
    ) -> DataFrame:
        """One read of ``batches``; with ``tag``, each row carries the
        version that added its batch in that column (the sequence
        number the tombstone join compares)."""
        from pyspark.sql import functions as F

        if not any(b.spec for b in batches):
            # ONE multi-path scan for ALL batches; each row's commit
            # version recovered from input_file_name() via a broadcast
            # literal map — round-13: the old per-batch scan-union made
            # every MoR snapshot O(live batches) scan nodes, so a
            # B-batch merge feed paid O(B²) scan instantiations before
            # compaction (measured 25-45% of MoR merge wall in
            # tools/soak_scd2.py)
            paths = [self._path(b.name) for b in batches]
            df = self.spark.read.parquet(*paths)
            if tag is None:
                return df
            vmap = F.create_map(
                *[F.lit(x) for b in batches for x in (b.name, b.version)]
            )
            # the batch is the file's parent directory: anchored at the
            # end, so a table root that itself contains "/data/" (which
            # an unanchored match would take for the batch) still maps
            batch_of = F.regexp_extract(
                F.input_file_name(), r"/data/([^/]+)/[^/]+$", 1
            )
            return df.withColumn(tag, vmap[batch_of])
        # batches committed with a partition spec carry partition trees
        # that a multi-root scan can't discover together
        # (CONFLICTING_DIRECTORY_STRUCTURES): one scan per batch, each
        # still pruning on its own spec
        parts = [self.spark.read.parquet(self._path(b.name)) for b in batches]
        if tag is not None:
            parts = [
                p.withColumn(tag, F.lit(b.version))
                for p, b in zip(parts, batches)
            ]
        return reduce(DataFrame.unionByName, parts)

    def _tombstoned(
        self, df: DataFrame, dels: list[_Batch], key: str, how: str
    ) -> DataFrame:
        """The sequence-aware tombstone join: a delete batch committed at
        version d matches ``key`` only in rows whose ``_data_v`` is
        < d, so a key re-inserted AFTER its deletion survives (Iceberg
        sequence-number semantics). ``left_anti`` keeps the visible
        rows, ``left_semi`` the hidden ones. One distributed hash join on
        the key with the version comparison as residual; the tombstone
        side is usually broadcast-sized."""
        from pyspark.sql import functions as F

        dk = self._scan(dels, "_del_v").select(
            F.col(key).alias("_del_key"), "_del_v"
        )
        cond = (F.col(key) == F.col("_del_key")) & (
            F.col("_del_v") > F.col("_data_v")
        )
        return df.join(F.broadcast(dk), cond, how)

    def _commit(
        self,
        data: DataFrame | None,
        deletes: DataFrame | None,
        max_retries: int,
        overwrite: bool = False,
        remove: list[str] | None = None,
        meta: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> tuple[int, str]:
        """The one commit loop: probe the next version, write each
        parquet batch ONCE, then put the entry; on ``CommitConflict``
        rebuild the entry at the next version — only the cheap log put
        retries. An overwrite recomputes its drop list from the fold on
        every try, so a rival's batch committed meanwhile is retired
        too. Returns ``(version, first batch written)``."""
        versions = self.versions()
        v = (versions[-1] + 1) if versions else 0
        batch = dbatch = None
        fields: dict = {}  # the entry's lists and tags, fixed across tries
        if data is not None:
            batch = f"batch-{v:05d}-{os.urandom(4).hex()}"
            writer = data.write.mode("error")
            if partition_by:
                # PARTITION EVOLUTION: each batch carries its own physical
                # layout spec (Iceberg spec-id semantics — the spec lives
                # in the log entry, not table-global state), so later
                # commits may partition differently without rewriting old
                # batches.
                writer = writer.partitionBy(*partition_by)
            writer.parquet(self._path(batch))
            fields["add"] = [batch]
        if deletes is not None:
            dbatch = f"batch-{v:05d}-del-{os.urandom(4).hex()}"
            deletes.write.mode("error").parquet(self._path(dbatch))
            fields["add_deletes"] = [dbatch]
        if meta:
            fields["meta"] = meta
        if partition_by:
            fields["spec"] = list(partition_by)
        for _ in range(max_retries):
            if overwrite:
                live, live_dels = self._live()
                remove = [b.name for b in live + live_dels]
            entry = {"version": v, "remove": sorted(remove or []), **fields}
            try:
                self._put_entry(v, entry)
                return v, batch or dbatch
            except CommitConflict:
                v = self.versions()[-1] + 1
        raise CommitConflict(f"gave up after {max_retries} retries")

    # -- public API ----------------------------------------------------

    def commit(
        self,
        df: DataFrame,
        mode: str = "append",
        remove: list[str] | None = None,
        max_retries: int = 5,
        meta: dict | None = None,
        partition_by: list[str] | None = None,
    ) -> tuple[int, str]:
        """Write ``df`` as a new immutable batch and commit a log entry.

        ``mode='append'`` adds the batch; ``mode='overwrite'`` also
        removes every batch live at commit time — data AND MoR
        tombstone (``add_deletes``) batches, since an overwrite
        supersedes the rows the tombstones pointed at; retiring them
        here is what lets a later ``vacuum`` physically reclaim the
        tombstoned key values (the GDPR-erasure requirement).
        ``remove`` names specific batches to retire (replace/compact). ``meta`` attaches
        writer metadata to the log entry (e.g. a streaming micro-batch
        id — the idempotence token an exactly-once sink scans with
        ``has_meta``). Returns ``(version, batch_name)``. The parquet
        write happens ONCE; only the cheap log put retries on a version
        race.
        """
        return self._commit(
            df, None, max_retries, mode == "overwrite", remove, meta,
            partition_by,
        )

    def has_meta(self, key: str, value) -> bool:
        """True iff some committed entry carries ``meta[key] == value``
        — the put-if-absent dedup scan an exactly-once streaming sink
        runs before committing a (possibly replayed) micro-batch. The
        scan is over the tiny driver-side log."""
        return any(
            self._entry(v).get("meta", {}).get(key) == value
            for v in self.versions()
        )

    def live_batches(self, version: int | None = None) -> list[str]:
        return [b.name for b in self._live(version)[0]]

    def commit_deletes(
        self, keys_df: DataFrame, max_retries: int = 5
    ) -> tuple[int, str]:
        """Merge-on-read row-level delete: write the key set as a
        DELETE batch and log it under ``add_deletes``. No data file is
        rewritten — readers apply the tombstones at scan time
        (``snapshot_mor``), and a later compaction folds them in. The
        Iceberg equality-delete-file pattern on this format."""
        return self._commit(None, keys_df, max_retries)

    def commit_merge(
        self,
        data_df: DataFrame,
        delete_keys_df: DataFrame,
        meta: dict | None = None,
        max_retries: int = 5,
    ) -> tuple[int, str]:
        """ATOMIC MoR merge commit: ONE log entry carrying both the
        refolded-rows append (``add``) and the equality tombstone
        (``add_deletes``), plus the writer ``meta`` idempotency token.

        Two separate commits (``commit_deletes`` then ``commit``) are
        not crash-atomic: a writer dying between them leaves an
        orphaned tombstone that already hides the touched keys' prior
        rows, so a replay that rebuilds its merge input from
        ``snapshot_mor`` sees those keys as absent and permanently
        loses their history. One ``_put_entry`` makes tombstone+append
        all-or-nothing — the log fold already resolves both the
        ``add`` and ``add_deletes`` lists per entry.

        Sequence semantics: both sides carry the SAME version v, and
        :meth:`snapshot_mor` applies a tombstone only to data batches
        with strictly smaller version (``_del_v > _data_v``), so the
        entry's own append is never hidden by its own tombstone while
        every prior batch's touched rows are."""
        return self._commit(data_df, delete_keys_df, max_retries, meta=meta)

    def _live_with_versions(
        self, version: int | None, key: str
    ) -> list[tuple[str, int]]:
        """Live batches under log-entry list ``key`` ('add' or
        'add_deletes'), each with the version that added it."""
        data, dels = self._live(version)
        live = dels if key == "add_deletes" else data
        return [(b.name, b.version) for b in live]

    def snapshot_mor(
        self, key_col: str, version: int | None = None
    ) -> DataFrame:
        """Merge-on-read snapshot: live data batches with live delete
        batches applied SEQUENCE-AWARE — a delete committed at version
        d tombstones ``key_col`` matches only in data batches added at
        versions < d, so a key re-inserted AFTER its deletion survives
        (Iceberg sequence-number semantics; see :meth:`_tombstoned`)."""
        data, dels = self._live(version)
        if not data:
            raise ValueError("empty table has no snapshot")
        if not dels:
            # tombstone-free table: no per-batch version tagging, no
            # anti-join — on an unpartitioned table the ONE multi-path
            # scan of snapshot, so callers can always use snapshot_mor
            return self._scan(data)
        df = self._scan(data, "_data_v")
        return self._tombstoned(df, dels, key_col, "left_anti").drop("_data_v")

    def changefeed(
        self, v_from: int, v_to: int, key_cols: list[str]
    ) -> DataFrame:
        """Row-level change feed between two committed versions (Delta
        CDF / Iceberg incremental-read semantics, derived purely from
        the log — no extra change files written).

        Reads ONLY the batches whose liveness changed between the two
        snapshots: rows in added-but-not-removed batches whose key is
        absent from the removed side are ``insert``s, removed-side-only
        keys are ``delete``s, and keys present on both sides emit an
        ``update_preimage`` / ``update_postimage`` pair. Batches live
        at BOTH versions are never scanned — the feed's cost is the
        churn between versions, not the table size, which is the whole
        point of incremental consumption at 100 TB.

        Keys are assumed unique per side (the upsert key of the
        table); the four classification joins are hash semi/anti joins
        on the delta-sized frames only.

        MoR tombstones (``add_deletes`` commits) are part of the diff:
        newly-visible rows are the added batches minus v_to tombstones
        (sequence-aware, as in :meth:`snapshot_mor`); newly-hidden rows
        are the removed batches (minus v_from tombstones) plus rows in
        batches live at BOTH endpoints that a tombstone committed
        inside the window now hides — and symmetrically, rows a
        tombstone's retirement resurrects. The both-live-batch scans
        run only when delete-batch liveness actually churned, filtered
        by a broadcast semi-join on the tombstone keys, so the feed's
        cost stays proportional to churn. Tombstone handling needs a
        single-column upsert key (the delete batches' key column).
        """
        from pyspark.sql import functions as F

        # both endpoints from ONE replay up to the later of them
        at = {
            v: (data, dels)
            for v, data, dels in self._fold(max(v_from, v_to))
            if v in (v_from, v_to)
        }
        missing = {v_from, v_to} - at.keys()
        if missing:
            raise ValueError(f"unknown version {min(missing)}")
        data_before, dels_before = at[v_from]
        data_after, dels_after = at[v_to]
        new_dels = [d for d in dels_after if d not in dels_before]
        gone_dels = [d for d in dels_before if d not in dels_after]

        def read_tagged(batches: list[_Batch]) -> DataFrame | None:
            return self._scan(batches, "_data_v") if batches else None

        if (dels_after or dels_before) and len(key_cols) != 1:
            raise ValueError(
                "changefeed over MoR tombstones needs a single key column"
            )
        kc = key_cols[0]

        def apply_tombs(
            df: DataFrame | None, dels: list[_Batch], how: str
        ) -> DataFrame | None:
            """'left_anti' keeps visible rows, 'left_semi' keeps the
            hidden ones."""
            if df is None or not dels:
                return df if how == "left_anti" else None
            return self._tombstoned(df, dels, kc, how)

        before = {b.name for b in data_before}
        after = {b.name for b in data_after}
        added = [b for b in data_after if b.name not in before]
        removed = [b for b in data_before if b.name not in after]
        both = [b for b in data_before if b.name in after]

        if not (added or removed or new_dels or gone_dels):
            raise ValueError("no batch churn between versions")

        # Newly-visible rows: new batches minus v_to tombstones, plus
        # rows a retired tombstone resurrects in both-live batches.
        vis_add = apply_tombs(read_tagged(added), dels_after, "left_anti")
        resurrect = None
        if gone_dels and both:
            hidden_before = apply_tombs(
                read_tagged(both), dels_before, "left_semi"
            )
            resurrect = apply_tombs(hidden_before, dels_after, "left_anti")
        # Newly-hidden rows: dropped batches minus v_from tombstones,
        # plus both-live rows a new tombstone hides.
        vis_rem = apply_tombs(read_tagged(removed), dels_before, "left_anti")
        tombstoned = None
        if new_dels and both:
            visible_before = apply_tombs(
                read_tagged(both), dels_before, "left_anti"
            )
            tombstoned = apply_tombs(visible_before, new_dels, "left_semi")

        def merge(*dfs: DataFrame | None) -> DataFrame | None:
            parts = [d.drop("_data_v") for d in dfs if d is not None]
            return reduce(DataFrame.unionByName, parts) if parts else None

        add_df = merge(vis_add, resurrect)
        rem_df = merge(vis_rem, tombstoned)

        def tag(df: DataFrame, t: str) -> DataFrame:
            return df.withColumn("change_type", F.lit(t))

        if add_df is None and rem_df is None:
            raise ValueError("no batch churn between versions")
        if rem_df is None:
            return tag(add_df, "insert")
        if add_df is None:
            return tag(rem_df, "delete")
        add_keys = add_df.select(*key_cols)
        rem_keys = rem_df.select(*key_cols)
        return reduce(
            DataFrame.unionByName,
            (
                tag(df.join(keys, key_cols, how), t)
                for df, keys, how, t in [
                    (add_df, rem_keys, "left_anti", "insert"),
                    (rem_df, add_keys, "left_anti", "delete"),
                    (rem_df, add_keys, "left_semi", "update_preimage"),
                    (add_df, rem_keys, "left_semi", "update_postimage"),
                ]
            ),
        )

    def set_ref(self, name: str, version: int) -> None:
        """Create/advance a named ref (Iceberg tag/branch head): a tiny
        JSON pointer to a committed version, stored beside the log.
        Refs pin releases ('the corpus snapshot model v3 trained on')
        while main advances; vacuum retention and ref lifetimes are
        managed together in production."""
        if version not in self.versions():
            raise ValueError(f"unknown version {version}")
        refdir = os.path.join(self._logdir, "refs")
        os.makedirs(refdir, exist_ok=True)
        tmp = os.path.join(refdir, f".{name}.tmp")
        with open(tmp, "w") as fh:
            json.dump({"version": version}, fh)
        os.replace(tmp, os.path.join(refdir, f"{name}.json"))

    def resolve_ref(self, name: str) -> int:
        refpath = os.path.join(self._logdir, "refs", f"{name}.json")
        if not os.path.exists(refpath):
            raise ValueError(f"unknown ref {name!r}")
        with open(refpath) as fh:
            return int(json.load(fh)["version"])

    def snapshot_ref(self, name: str, **kw) -> DataFrame:
        """Time travel by NAME: the snapshot the ref points at."""
        return self.snapshot(self.resolve_ref(name), **kw)

    def zone_map_prune(
        self, lo: str, hi: str, version: int | None = None
    ) -> tuple[list[str], int]:
        """File skipping from commit-meta zone maps (Delta/Iceberg
        data-skipping stats): returns the live batches whose
        ``meta["zmin"]``/``meta["zmax"]`` interval overlaps [lo, hi]
        (string comparison — ISO dates order lexicographically), plus
        the TOTAL live batch count, so the caller can report skipped
        files. Batches committed without a zone map are conservatively
        kept (unknown range could overlap anything).

        The decision is manifest math over the driver-side JSON log —
        no file is opened to decide; at 100 TB this is what turns a
        full-table scan into a read of the few overlapping files."""
        live, _ = self._live(version)
        keep: list[str] = []
        for b in live:
            zmin, zmax = b.meta.get("zmin"), b.meta.get("zmax")
            if zmin is None or zmax is None or (zmin <= hi and zmax >= lo):
                keep.append(b.name)
        return sorted(keep), len(live)

    def vacuum(self, retain_versions: int = 1) -> list[str]:
        """Delete data batches unreachable from the newest
        ``retain_versions`` snapshots (Delta/Iceberg VACUUM / expire-
        snapshots). The log stays intact — history remains auditable —
        but time travel older than the retention horizon afterwards
        fails on missing files, exactly the documented trade. Returns
        the deleted batch names (sorted).

        Scale shape: reachability is manifest math over the tiny JSON
        log (driver-side); the deletes are per-batch and embarrassingly
        parallel on an object store."""
        import shutil

        retained = set(
            self.versions()[-retain_versions:] if retain_versions else []
        )
        keep: set[str] = set()
        # every retained snapshot from ONE replay
        for v, data, dels in self._fold() if retained else ():
            if v in retained:
                keep.update(b.name for b in data + dels)
        datadir = os.path.join(self.root, "data")
        removed = sorted(
            b
            for b in os.listdir(datadir)
            if b.startswith("batch-") and b not in keep
        )
        for b in removed:
            shutil.rmtree(os.path.join(datadir, b))
        return removed

    def snapshot(
        self, version: int | None = None, merge_schema: bool = False
    ) -> DataFrame:
        """The table AS OF ``version`` (default: latest) — time travel.

        Resolves the live file set from the log (driver-side, tiny) and
        reads it as one distributed parquet scan. ``merge_schema=True``
        unions evolved batch schemas (added columns backfill NULL),
        the add-column path of schema evolution under this format."""
        live = self.live_batches(version)
        if not live:
            raise ValueError("empty table has no snapshot")
        reader = self.spark.read
        if merge_schema:
            reader = reader.option("mergeSchema", "true")
        return reader.parquet(*map(self._path, live))

    def snapshot_evolved(
        self, version: int | None = None, key_col: str | None = None
    ) -> DataFrame:
        """The table AS OF ``version`` under PARTITION EVOLUTION: live
        batches are grouped by the partition spec recorded in their
        commit entry (Iceberg spec-id semantics), each spec group is
        read as its own parquet scan (mixed directory layouts cannot
        share one partition-discovery pass), and the groups union by
        name with NULL backfill for columns another spec materializes
        differently.

        Filters applied by the CALLER push through the union into every
        per-spec scan, so each group gets its own partition pruning —
        a date predicate prunes month directories in month-partitioned
        batches and day directories in day-partitioned ones.  The log
        walk is driver-side kilobytes; every scan stays distributed.

        MoR tables: live ``add_deletes`` tombstones are applied
        sequence-aware exactly as :meth:`snapshot_mor` does, which
        requires ``key_col``. Reading a MOR-delete table without
        ``key_col`` raises instead of silently resurrecting deleted
        rows."""
        live, dels = self._live(version)
        if not live:
            raise ValueError("empty table has no snapshot")
        if dels and key_col is None:
            raise ValueError(
                "table has live MoR delete batches; pass key_col= so "
                "snapshot_evolved can apply them (or use snapshot_mor)"
            )
        groups: dict[tuple, list[_Batch]] = {}
        for b in live:
            groups.setdefault(b.spec, []).append(b)
        # the MoR residual needs each row tagged with its batch's
        # sequence number; an untombstoned read needs no tag
        tag = "_data_v" if dels else None
        df = reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True),
            (self._scan(groups[spec], tag) for spec in sorted(groups)),
        )
        if not dels:
            return df
        return self._tombstoned(df, dels, key_col, "left_anti").drop("_data_v")
