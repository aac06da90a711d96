"""Snapshot-committed table store — the engine's state layer.

The north rule puts frontier / seen / host_policy / articles and the
per-wave ledger wave_log in **Iceberg tables** so any wave is resumable
from a snapshot. This sandbox has no Iceberg runtime jar (offline), so
this module provides the same contract over parquet + an atomic JSON
manifest, with a 1:1 mapping to the Iceberg calls a cluster deployment
would use:

    SnapshotStore.commit(df, table, wave)   ⇔  df.writeTo(tbl).overwritePartitions()
    SnapshotStore.commit(df, table, wave,
                         mode='delta',
                         key=['url_hash'])  ⇔  MERGE INTO tbl USING df ON key
                                               (merge-on-read: equality-delete
                                               + data files, no base rewrite)
    SnapshotStore.commit(..., mode='delta',
                         key=['host'],
                         delete_where='n_urls = 0')
                                            ⇔  MERGE INTO tbl USING df ON key
                                               WHEN MATCHED AND n_urls = 0
                                               THEN DELETE — a delta row
                                               matching the predicate is a
                                               tombstone: it shadows every
                                               earlier row with its key and
                                               then drops out itself
    SnapshotStore.read(table)               ⇔  spark.read.format('iceberg').load(tbl)
    SnapshotStore.read(table, snapshot=k)   ⇔  ...option('snapshot-id', k)  (time travel)
    SnapshotStore.read(table, as_of_wave=w) ⇔  time travel by wave metadata
    SnapshotStore.latest_wave(table)        ⇔  snapshot summary metadata

Why deltas: the reference's status sink is already per-row UPDATE
(reference src/database_manager.py:105-131) — O(changed rows), never a table
rewrite. At a 10^10-row frontier with ~10^6-row waves, committing the full
frontier each wave is ~10,000× write amplification; ``mode='delta'`` commits
only this wave's changed rows and ``read`` composes them merge-on-read:

    base (newest full snapshot)
      ⊕ deltas in snapshot order
        key=None  → append (plain union; rows may duplicate a key)
        key=[...] → upsert: replaces every EARLIER row with the same key —
                    base rows, earlier upserts, and earlier appends alike
                    (one MERGE key per table; chains mixing keys raise)

The upsert compose is scale-shaped: the newest-wins window runs over the
*delta union only* (O(waves-since-compaction × wave size)), and the base is
filtered with a ``left_anti`` join on the delta key set — a narrow key-only
side that AQE broadcasts, so the O(total) base never shuffles. Compaction
(a periodic ``mode='full'`` commit from the crawl loop) bounds the delta
chain; ``expire_snapshots`` keeps the newest ``keep`` FULL snapshots plus
every delta after the oldest kept full, so any retained snapshot is still
composable (Iceberg: expireSnapshots never drops files a live snapshot
references).

Commit protocol (crash-safe, idempotent — SURVEY.md §7 hard part #5):
1. write parquet to ``root/table/snap-<n>/`` (a re-run of a failed wave
   rewrites the same directory — keyed by wave number, so it's a no-op
   overwrite, like an idempotent MERGE);
2. atomically rename a temp manifest over ``root/table/MANIFEST.json``
   pointing at the new snapshot. Readers only ever see a fully-written
   snapshot.
"""

from __future__ import annotations

import json
import os
import tempfile
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest helpers ---------------------------------------------------
    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.root, table, "MANIFEST.json")

    def _load_manifest(self, table: str) -> dict:
        try:
            with open(self._manifest_path(table)) as f:
                return json.load(f)
        except FileNotFoundError:
            return {"snapshots": []}

    def _write_manifest(self, table: str, manifest: dict) -> None:
        path = self._manifest_path(table)
        fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump(manifest, f, indent=1)
        os.replace(tmp, path)  # atomic on POSIX

    # -- durable wave pointer: the multi-table transaction boundary ----------
    #
    # One crawl wave commits ~10 tables sequentially; each per-table commit
    # is individually atomic (manifest rename), but a crash BETWEEN two of
    # them tears the wave — e.g. the frontier snapshot marks URLs done while
    # their articles snapshot never landed, and a naive resume at
    # latest_wave+1 silently loses those rows forever. The Iceberg analogue
    # is a multi-table transaction: stage every table's snapshot, then flip
    # ONE pointer. Here the pointer is ``COMMITTED.json`` at the store root,
    # atomically renamed AFTER the wave's last per-table commit. Per-table
    # snapshots with wave > pointer were never acknowledged: resume calls
    # ``rollback_to_committed`` to drop them and re-runs the torn wave from
    # the committed boundary (commits are wave-keyed idempotent overwrites,
    # built for exactly this re-run).

    def _committed_path(self) -> str:
        return os.path.join(self.root, "COMMITTED.json")

    def mark_wave_committed(self, wave: int) -> None:
        """Atomically advance the durable wave pointer: every per-table
        snapshot of ``wave`` is now acknowledged as one transaction. Call
        AFTER the wave's last per-table commit and BEFORE expiry (expiring
        first could drop the base a rollback of this wave would need)."""
        fd, tmp = tempfile.mkstemp(dir=self.root, suffix=".tmp")
        with os.fdopen(fd, "w") as f:
            json.dump({"wave": wave}, f)
        os.replace(tmp, self._committed_path())

    def committed_wave(self) -> int | None:
        """Newest durably-committed wave, or None (no crawl has run)."""
        try:
            with open(self._committed_path()) as f:
                return json.load(f)["wave"]
        except FileNotFoundError:
            return None

    def rollback_to_committed(self) -> int | None:
        """Drop every snapshot of every table newer than the committed wave
        pointer (torn by a mid-wave crash — never acknowledged, so removing
        them is invisible to any reader that followed the protocol), and
        return the committed wave (−1 = the crash landed inside wave 0:
        resume restarts from wave 0).

        A store without the pointer file was never written by the crawl
        loop (it arms the pointer before its first commit), so it holds
        only external seeding — e.g. a frontier or a host_policy dimension
        committed directly: nothing is dropped, and the return value is
        the frontier's latest wave (None: no frontier, start at wave 0).
        """
        import shutil

        cw = self.committed_wave()
        if cw is None:
            # only crawl() writes deltas, and it writes the pointer first:
            # a delta without a pointer means the pointer was lost (partial
            # copy?), and the wave it named cannot be recovered from here
            if any(s.get("mode", "full") == "delta"
                   for t in self.tables() for s in self.snapshots(t)):
                raise RuntimeError(
                    "store has delta snapshots but no COMMITTED.json wave "
                    "pointer (lost in a partial copy?): refusing to guess "
                    "the committed wave. Restore the pointer file, or "
                    "write one naming the last known good wave, and "
                    "resume again.")
            return self.latest_wave("frontier")
        for t in self.tables():
            manifest = self._load_manifest(t)
            snaps = manifest["snapshots"]
            kept = [s for s in snaps if s["wave"] <= cw]
            if len(kept) == len(snaps):
                continue
            manifest["snapshots"] = kept
            # manifest first (atomic rename), THEN delete dirs: a kill in
            # between leaves only unreferenced orphan dirs, which the torn
            # wave's re-run overwrites (same snap id over the pruned
            # manifest) — never a manifest pointing at deleted files
            self._write_manifest(t, manifest)
            live = {s["path"] for s in kept}
            tdir = os.path.join(self.root, t)
            for d in os.listdir(tdir):
                if d.startswith("snap-") and d not in live:
                    shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
        return cw

    # -- public API ----------------------------------------------------------
    def commit(self, df: DataFrame, table: str, wave: int,
               meta: dict | None = None,
               mode: str = "full",
               key: list[str] | None = None,
               partition_by: list[str] | None = None,
               delete_where: str | None = None) -> int:
        """Write df as the table's next snapshot; returns snapshot id.
        Re-committing the same wave overwrites its snapshot (idempotent
        re-run of a failed wave).

        ``mode='full'`` (default): df is the complete table state.
        ``mode='delta'``: df carries only this wave's changed rows —
        ``key=None`` appends them on read; ``key=[cols]`` upserts them
        (a delta row replaces any earlier row with the same key; within one
        delta, keys are expected unique). O(wave) write, merge-on-read.

        ``delete_where`` (keyed deltas only): a SQL predicate over the
        delta's own columns marking tombstone rows — the Iceberg
        ``MERGE ... WHEN MATCHED AND <pred> THEN DELETE`` analogue. A
        matching row still shadows every earlier row with its key, then
        drops out of the composed read itself, so a key can be *removed*
        in O(changed rows) without rewriting the base (a later delta may
        re-add it). Evaluated against each delta's surviving rows only —
        rows a newer delta already shadows are unaffected.

        ``partition_by`` hive-partitions the snapshot files (⇔ Iceberg
        ``PARTITIONED BY``): a reader filtering on those columns prunes
        whole files at the source — e.g. the frontier's full snapshots
        partition by ``status`` so the per-wave eligible-pending admission
        scan never reads done/failed rows. Low-cardinality columns only
        (a partition per value); deltas are wave-sized and stay
        unpartitioned.
        """
        if mode not in ("full", "delta"):
            raise ValueError(f"mode must be 'full' or 'delta', got {mode!r}")
        if key is not None and mode != "delta":
            raise ValueError("key is only meaningful with mode='delta'")
        if delete_where is not None and key is None:
            raise ValueError("delete_where needs a keyed delta (mode='delta', "
                             "key=[...]): a tombstone identifies its victim "
                             "rows by MERGE key")
        tdir = os.path.join(self.root, table)
        os.makedirs(tdir, exist_ok=True)
        manifest = self._load_manifest(table)
        existing = [s for s in manifest["snapshots"] if s["wave"] == wave]
        # max+1, NOT len(): after expire_snapshots the manifest is shorter
        # than the id space, and len() would re-issue a LIVE snapshot's id
        # and overwrite its files under readers
        snap_id = (existing[0]["id"] if existing else
                   max((s["id"] for s in manifest["snapshots"]), default=-1) + 1)
        path = os.path.join(tdir, f"snap-{snap_id}")
        if partition_by and df.isEmpty():
            # a partitioned write of ZERO rows emits no data files at all
            # (only _SUCCESS), and reading such a directory cannot infer a
            # schema — fall back to a plain write, whose empty part file
            # carries the schema (one limit-1 job, compaction waves only)
            partition_by = None
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(*partition_by)
        writer.parquet(path)
        # manifests record the snapshot dir relative to the table dir, so
        # a copied store directory reads its own files (_snap_dir)
        entry = {"id": snap_id, "wave": wave, "path": f"snap-{snap_id}",
                 "mode": mode, "meta": meta or {}}
        if key is not None:
            entry["key"] = list(key)
        if delete_where is not None:
            entry["delete_where"] = delete_where
        if partition_by:
            entry["partition_by"] = list(partition_by)
        manifest["snapshots"] = [s for s in manifest["snapshots"] if s["wave"] != wave]
        manifest["snapshots"].append(entry)
        manifest["snapshots"].sort(key=lambda s: s["id"])
        self._write_manifest(table, manifest)
        return snap_id

    @staticmethod
    def _compose(spark: SparkSession, snaps: list[dict]) -> DataFrame:
        """Merge-on-read composition of an ordered snapshot chain whose first
        entry is the base, folding each delta under ITS OWN mode:

        - a keyed (upsert) delta's row replaces every earlier row with the
          same key — in the base, in earlier keyed deltas, AND in earlier
          append deltas;
        - an append delta's rows simply accumulate (they may duplicate an
          existing key) until a later keyed delta touches that key;
        - a keyed delta row matching its commit's ``delete_where`` is a
          tombstone: it shadows like any upsert, then drops out itself —
          applied AFTER shadowing (only a key's newest surviving version
          can be a deletion; a later re-add of the key wins over it),
          while the base anti-join key set is taken BEFORE the tombstones
          drop (so a tombstone still removes its base row).

        A single chain must not mix different key column lists (one MERGE
        key per table, as in Iceberg) — raises ValueError if it does.

        Scale shape: the shadowing window runs over the DELTA UNION ONLY
        (never the base — explain_audit pins every Window input to carry
        ``__ord``, which only delta rows have); the base joins the KEYED
        deltas' key set as a left_anti whose key-only build side AQE
        broadcasts, so the O(total) base never shuffles."""
        base = spark.read.parquet(snaps[0]["path"])
        if len(snaps) == 1:
            return base
        deltas = snaps[1:]
        keys = {tuple(s["key"]) for s in deltas if s.get("key")}
        if len(keys) > 1:
            raise ValueError(
                f"delta chain mixes merge keys {sorted(keys)}; a table has "
                "one MERGE key")
        key = list(keys.pop()) if keys else None
        du = reduce(
            lambda a, b: a.unionByName(b),
            (spark.read.parquet(s["path"])
             .withColumn("__ord", F.lit(i))
             .withColumn("__keyed", F.lit(bool(s.get("key"))))
             for i, s in enumerate(deltas, start=1)))
        if key:
            # newest KEYED occurrence per key shadows everything older;
            # append rows at or after it (and keys never upserted) survive.
            # Both window functions share one partitioning — a single
            # key-hash exchange over the delta union, same as a plain
            # newest-wins row_number.
            w = Window.partitionBy(*key)
            # keys are documented unique WITHIN a keyed delta; if a caller
            # violates that, collapse the duplicates to one row (keyed rows
            # sort first, newest delta first) rather than silently
            # returning several state rows for one key. WHICH duplicate
            # survives is arbitrary (row_number over tied sort keys — the
            # value can differ across recomputations of this lazy plan,
            # same as the pre-delta-mode compose): a guard rail against the
            # violated precondition, not a deterministic merge of it
            wk = w.orderBy(F.col("__keyed").desc(), F.col("__ord").desc())
            du = (du.withColumn(
                      "__last",
                      F.max(F.when(F.col("__keyed"), F.col("__ord"))).over(w))
                  .withColumn("__rn", F.row_number().over(wk))
                  .filter((F.col("__last").isNull()
                           | (F.col("__ord") >= F.col("__last")))
                          & (~F.col("__keyed") | (F.col("__rn") == 1)))
                  .drop("__last", "__rn"))
            upserted = (du.filter(F.col("__keyed")).select(*key).distinct())
            base = base.join(upserted, on=key, how="left_anti")
            for i, s in enumerate(deltas, start=1):
                pred = s.get("delete_where")
                if pred:
                    # tombstones: drop delta i's surviving rows matching its
                    # predicate (null-safe — a null predicate value deletes
                    # nothing). Rows of other deltas pass untouched.
                    du = du.filter(
                        (F.col("__ord") != F.lit(i))
                        | ~F.coalesce(F.expr(pred), F.lit(False)))
        return base.unionByName(du.drop("__ord", "__keyed"))

    def _snap_dir(self, table: str, entry: dict) -> str:
        """A snapshot entry's directory resolved against THIS store's root,
        so a store directory stays relocatable (backup/restore and
        crash-copy resume read a COPY of the root)."""
        return os.path.join(self.root, table, entry["path"])

    def read(self, spark: SparkSession, table: str,
             snapshot: int | None = None,
             as_of_wave: int | None = None) -> DataFrame | None:
        """Table state as a DataFrame (merge-on-read over base ⊕ deltas);
        None if the table has no committed snapshot yet. ``snapshot=k``
        time-travels to snapshot k (composing the delta chain up to it);
        ``as_of_wave=w`` time-travels to the last snapshot with wave ≤ w —
        the resume path: re-running an interrupted wave w reads state
        exactly as wave w-1 left it."""
        snaps = self._load_manifest(table)["snapshots"]
        if snapshot is not None:
            idx = next((i for i, s in enumerate(snaps)
                        if s["id"] == snapshot), None)
            if idx is None:  # unknown or expired id: loud, not StopIteration
                raise ValueError(
                    f"table {table!r} has no snapshot id {snapshot} "
                    f"(ids: {[s['id'] for s in snaps]})")
            snaps = snaps[:idx + 1]
        if as_of_wave is not None:
            snaps = [s for s in snaps if s["wave"] <= as_of_wave]
        if not snaps:
            return None
        base_idx = max(
            (i for i, s in enumerate(snaps) if s.get("mode", "full") == "full"),
            default=0)
        if snaps[base_idx].get("mode", "full") != "full":
            # no full in the chain: composing with a delta as the base
            # would return tombstone rows as live state and drop the
            # oldest delta's upsert semantics — fail loudly instead (the
            # loop always commits a table's first snapshot full; only an
            # externally assembled chain can get here)
            raise ValueError(
                f"table {table!r} snapshot chain has no full base "
                f"(oldest surviving mode="
                f"{snaps[base_idx].get('mode', 'full')!r})")
        resolved = [dict(s, path=self._snap_dir(table, s))
                    for s in snaps[base_idx:]]
        return self._compose(spark, resolved)

    def read_snapshot_raw(self, spark: SparkSession, table: str,
                          wave: int) -> DataFrame | None:
        """The raw rows of wave w's snapshot file alone (a delta's change
        set, a full's complete state) — the O(wave)-commit evidence surface;
        no composition."""
        entry = next((s for s in self._load_manifest(table)["snapshots"]
                      if s["wave"] == wave), None)
        return (spark.read.parquet(self._snap_dir(table, entry))
                if entry else None)

    def snapshots(self, table: str) -> list[dict]:
        return self._load_manifest(table)["snapshots"]

    def latest_wave(self, table: str) -> int | None:
        snaps = self.snapshots(table)
        return snaps[-1]["wave"] if snaps else None

    def tables(self) -> list[str]:
        return sorted(
            t for t in os.listdir(self.root)
            if os.path.isfile(self._manifest_path(t)))

    def expire_snapshots(self, table: str | None = None,
                         keep: int = 2) -> int:
        """Drop old snapshots — the Iceberg ``expireSnapshots`` analogue.

        Keeps the newest ``keep`` FULL snapshots plus every delta newer than
        the oldest kept full (a retained delta is only readable with its
        base chain, so expiry never orphans one — the same invariant as
        Iceberg never deleting files a live snapshot references). For a
        table of all-full snapshots this is exactly "keep the newest
        ``keep``". Deltas are O(wave)-sized, so storage stays bounded at
        ``keep × table size + deltas-since-last-compaction``; the crawl
        loop's periodic full commit (``compact_every``) bounds the tail.

        Crash-safe ordering: the manifest is atomically rewritten FIRST
        (readers never see an expired entry), then the orphaned snapshot
        directories are deleted — a crash in between leaves unreachable
        dirs that the next expiry removes. Returns snapshots expired.
        """
        import shutil

        keep = max(1, keep)
        n = 0
        for t in ([table] if table is not None else self.tables()):
            manifest = self._load_manifest(t)
            snaps = manifest["snapshots"]
            full_idx = [i for i, s in enumerate(snaps)
                        if s.get("mode", "full") == "full"]
            # cutoff = first index to keep: the keep-th-newest full snapshot
            # (or 0 if fewer fulls exist — nothing before a base can go)
            cutoff = full_idx[-keep] if len(full_idx) >= keep else 0
            if cutoff == 0:
                continue
            kept, dropped = snaps[cutoff:], snaps[:cutoff]
            manifest["snapshots"] = kept
            self._write_manifest(t, manifest)
            live = {s["path"] for s in kept}
            tdir = os.path.join(self.root, t)
            for d in os.listdir(tdir):  # includes prior-crash orphans
                if d.startswith("snap-") and d not in live:
                    shutil.rmtree(os.path.join(tdir, d), ignore_errors=True)
            n += len(dropped)
        return n
