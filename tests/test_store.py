"""SnapshotStore delta-commit semantics (the Iceberg MERGE-on-read analogue).

The reference's status sink is per-row UPDATE (src/database_manager.py:105-131)
— O(changed rows). These tests pin the store-layer contract that makes the
wave loop O(wave) instead of O(total state): append deltas, keyed upserts
(newest wins), time travel across a delta chain, compaction as a mid-chain
full commit, and expiry that never orphans a delta from its base.
"""

import os

import pytest
from pyspark.sql import Row

from s_crawler_spark.sources.store import SnapshotStore


def _df(spark, rows):
    return spark.createDataFrame([Row(**r) for r in rows])


def _state(spark, store, table, **kw):
    df = store.read(spark, table, **kw)
    return sorted((r["k"], r["v"]) for r in df.collect())


def test_append_delta_compose(spark, tmp_path):
    st = SnapshotStore(str(tmp_path / "s"))
    st.commit(_df(spark, [{"k": 1, "v": "a"}]), "t", wave=0)
    st.commit(_df(spark, [{"k": 2, "v": "b"}]), "t", wave=1, mode="delta")
    st.commit(_df(spark, [{"k": 3, "v": "c"}]), "t", wave=2, mode="delta")
    assert _state(spark, st, "t") == [(1, "a"), (2, "b"), (3, "c")]


def test_keyed_delta_upsert_newest_wins(spark, tmp_path):
    st = SnapshotStore(str(tmp_path / "s"))
    st.commit(_df(spark, [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}]), "t", wave=0)
    # wave 1 updates k=1 and inserts k=3; wave 2 updates k=1 again
    st.commit(_df(spark, [{"k": 1, "v": "a1"}, {"k": 3, "v": "c"}]),
              "t", wave=1, mode="delta", key=["k"])
    st.commit(_df(spark, [{"k": 1, "v": "a2"}]), "t", wave=2, mode="delta",
              key=["k"])
    assert _state(spark, st, "t") == [(1, "a2"), (2, "b"), (3, "c")]


def test_time_travel_across_delta_chain(spark, tmp_path):
    st = SnapshotStore(str(tmp_path / "s"))
    st.commit(_df(spark, [{"k": 1, "v": "a"}]), "t", wave=0)
    sid1 = st.commit(_df(spark, [{"k": 1, "v": "a1"}]), "t", wave=1,
                     mode="delta", key=["k"])
    st.commit(_df(spark, [{"k": 2, "v": "b"}]), "t", wave=2, mode="delta",
              key=["k"])
    assert _state(spark, st, "t", as_of_wave=0) == [(1, "a")]
    assert _state(spark, st, "t", as_of_wave=1) == [(1, "a1")]
    assert _state(spark, st, "t", snapshot=sid1) == [(1, "a1")]
    assert _state(spark, st, "t") == [(1, "a1"), (2, "b")]


def test_compaction_full_commit_resets_base(spark, tmp_path):
    """A mid-chain full commit becomes the new read base; older snapshots
    stay readable for time travel until expired."""
    st = SnapshotStore(str(tmp_path / "s"))
    st.commit(_df(spark, [{"k": 1, "v": "a"}]), "t", wave=0)
    st.commit(_df(spark, [{"k": 2, "v": "b"}]), "t", wave=1, mode="delta",
              key=["k"])
    # compaction: materialized full state at wave 2
    st.commit(_df(spark, [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}]), "t", wave=2)
    st.commit(_df(spark, [{"k": 2, "v": "b1"}]), "t", wave=3, mode="delta",
              key=["k"])
    assert _state(spark, st, "t") == [(1, "a"), (2, "b1")]
    assert _state(spark, st, "t", as_of_wave=1) == [(1, "a"), (2, "b")]


def test_delta_commit_is_wave_idempotent(spark, tmp_path):
    """Re-running a failed wave overwrites its own delta, never stacks a
    second copy (crash-resume re-executes the interrupted wave)."""
    st = SnapshotStore(str(tmp_path / "s"))
    st.commit(_df(spark, [{"k": 1, "v": "a"}]), "t", wave=0)
    st.commit(_df(spark, [{"k": 2, "v": "b"}]), "t", wave=1, mode="delta",
              key=["k"])
    st.commit(_df(spark, [{"k": 2, "v": "b"}]), "t", wave=1, mode="delta",
              key=["k"])
    assert len(st.snapshots("t")) == 2
    assert _state(spark, st, "t") == [(1, "a"), (2, "b")]


def test_read_snapshot_raw_is_the_delta_alone(spark, tmp_path):
    st = SnapshotStore(str(tmp_path / "s"))
    st.commit(_df(spark, [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}]), "t", wave=0)
    st.commit(_df(spark, [{"k": 1, "v": "a1"}]), "t", wave=1, mode="delta",
              key=["k"])
    raw = st.read_snapshot_raw(spark, "t", wave=1)
    assert [(r["k"], r["v"]) for r in raw.collect()] == [(1, "a1")]


def test_expire_keeps_fulls_plus_trailing_deltas(spark, tmp_path):
    """Expiry keeps the newest ``keep`` FULL snapshots and every delta after
    the oldest kept full — a retained delta always has its base chain."""
    st = SnapshotStore(str(tmp_path / "s"))
    st.commit(_df(spark, [{"k": 1, "v": "a"}]), "t", wave=0)            # full
    st.commit(_df(spark, [{"k": 2, "v": "b"}]), "t", wave=1,
              mode="delta")                                             # delta
    st.commit(_df(spark, [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}]),
              "t", wave=2)                                              # full
    st.commit(_df(spark, [{"k": 3, "v": "c"}]), "t", wave=3,
              mode="delta")                                             # delta
    st.commit(_df(spark, [{"k": i, "v": v} for i, v in
                          [(1, "a"), (2, "b"), (3, "c")]]), "t", wave=4)  # full
    st.commit(_df(spark, [{"k": 4, "v": "d"}]), "t", wave=5,
              mode="delta")                                             # delta
    n = st.expire_snapshots("t", keep=2)
    waves = [s["wave"] for s in st.snapshots("t")]
    assert waves == [2, 3, 4, 5]  # fulls 2,4 + every delta after full 2
    assert n == 2
    # expired dirs are really gone, kept ones readable
    live = {os.path.basename(s["path"]) for s in st.snapshots("t")}
    on_disk = {d for d in os.listdir(tmp_path / "s" / "t")
               if d.startswith("snap-")}
    assert on_disk == live
    assert _state(spark, st, "t") == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]


def test_expire_never_strands_a_delta_without_base(spark, tmp_path):
    """With fewer than ``keep`` fulls nothing expires (a delta before the
    only base would become unreadable)."""
    st = SnapshotStore(str(tmp_path / "s"))
    st.commit(_df(spark, [{"k": 1, "v": "a"}]), "t", wave=0)
    for w in range(1, 5):
        st.commit(_df(spark, [{"k": 10 + w, "v": "x"}]), "t", wave=w,
                  mode="delta")
    assert st.expire_snapshots("t", keep=2) == 0
    assert len(st.snapshots("t")) == 5


def test_all_full_expiry_matches_old_semantics(spark, tmp_path):
    st = SnapshotStore(str(tmp_path / "s"))
    for w in range(5):
        st.commit(_df(spark, [{"k": w, "v": "x"}]), "t", wave=w)
    st.expire_snapshots("t", keep=2)
    assert [s["wave"] for s in st.snapshots("t")] == [3, 4]


def test_mode_key_validation(spark, tmp_path):
    st = SnapshotStore(str(tmp_path / "s"))
    with pytest.raises(ValueError):
        st.commit(_df(spark, [{"k": 1, "v": "a"}]), "t", 0, mode="merge")
    with pytest.raises(ValueError):
        st.commit(_df(spark, [{"k": 1, "v": "a"}]), "t", 0, key=["k"])
    with pytest.raises(ValueError, match="delete_where"):
        st.commit(_df(spark, [{"k": 1, "v": "a"}]), "t", 0, mode="delta",
                  delete_where="v = 'DEL'")


def test_delete_where_tombstone_removes_key_and_readd_revives(spark, tmp_path):
    """MERGE ... WHEN MATCHED AND <pred> THEN DELETE: a keyed delta row
    matching its commit's delete_where removes its key from the composed
    read (base row included) in O(changed rows); a LATER keyed delta can
    re-add the key; time travel before the re-add still sees the
    deletion. Non-matching rows in the same delta upsert normally."""
    st = SnapshotStore(str(tmp_path / "s"))
    st.commit(_df(spark, [{"k": 1, "v": "a"}, {"k": 2, "v": "b"},
                          {"k": 3, "v": "c"}]), "t", wave=0)
    # one delta mixing a tombstone (k=1), an update (k=2) and an insert (k=4)
    st.commit(_df(spark, [{"k": 1, "v": "DEL"}, {"k": 2, "v": "b1"},
                          {"k": 4, "v": "d"}]),
              "t", wave=1, mode="delta", key=["k"], delete_where="v = 'DEL'")
    assert _state(spark, st, "t") == [(2, "b1"), (3, "c"), (4, "d")]
    # delete a key that exists only in an earlier DELTA, not the base
    st.commit(_df(spark, [{"k": 4, "v": "DEL"}]),
              "t", wave=2, mode="delta", key=["k"], delete_where="v = 'DEL'")
    assert _state(spark, st, "t") == [(2, "b1"), (3, "c")]
    # re-add a deleted key: the newer upsert wins over the tombstone
    st.commit(_df(spark, [{"k": 1, "v": "back"}]), "t", wave=3, mode="delta",
              key=["k"])
    assert _state(spark, st, "t") == [(1, "back"), (2, "b1"), (3, "c")]
    assert _state(spark, st, "t", as_of_wave=2) == [(2, "b1"), (3, "c")]
    assert _state(spark, st, "t", as_of_wave=1) == [(2, "b1"), (3, "c"),
                                                    (4, "d")]


def test_partitioned_full_commit_composes_and_prunes(spark, tmp_path):
    """partition_by hive-partitions a full snapshot (Iceberg PARTITIONED BY
    analogue): the composed read is value-identical to the unpartitioned
    form, keyed deltas still win, and a filter on the partition column
    reaches the base scan as a PartitionFilter (file-level pruning for the
    admission scan)."""
    st = SnapshotStore(str(tmp_path / "p"))
    rows = [{"k": i, "v": f"r{i}", "status": "pending" if i % 3 else "done"}
            for i in range(30)]
    st.commit(_df(spark, rows), "t", wave=0, partition_by=["status"])
    st.commit(_df(spark, [{"k": 1, "v": "upd", "status": "done"}]),
              "t", wave=1, mode="delta", key=["k"])
    got = {(r["k"], r["v"], r["status"])
           for r in st.read(spark, "t").collect()}
    exp = {(r["k"], "upd" if r["k"] == 1 else r["v"],
            "done" if r["k"] == 1 else r["status"]) for r in rows}
    assert got == exp
    pend = st.read(spark, "t").filter("status = 'pending'")
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        pend.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan and "pending" in plan
    assert {r["status"] for r in pend.collect()} == {"pending"}


def test_randomized_commit_sequences_match_fold_oracle(spark, tmp_path):
    """Seeded randomized sequences of full / append-delta / keyed-delta /
    tombstone commits, interleaved with expiry, always compose to the same
    state as a plain per-delta fold over a row MULTISET — appends may
    collide with existing keys (the rows coexist), an upsert removes EVERY
    earlier row with its key (appended duplicates included), and a
    delete_where tombstone removes its key outright until a later delta
    re-adds it. The MERGE-on-read semantics hold under arbitrary commit
    orders and mode mixes, not just the crawl loop's mode-homogeneous
    pattern."""
    import random

    rng = random.Random(20260818)
    for trial in range(6):
        st = SnapshotStore(str(tmp_path / f"r{trial}"))
        oracle: list[tuple[int, str]] = []
        n_waves = rng.randint(3, 7)
        for wave in range(n_waves):
            kind = ("full" if wave == 0 else
                    rng.choice(["full", "delta_append", "delta_upsert",
                                "delta_delete"]))
            if kind == "full":
                # full snapshots rewrite complete state
                oracle = [(rng.randint(0, 20), f"w{wave}.{i}")
                          for i in range(rng.randint(1, 5))]
                df = _df(spark, [{"k": k, "v": v} for k, v in oracle])
                st.commit(df, "t", wave=wave)
            elif kind == "delta_append":
                # keys deliberately overlap live state: append must
                # ACCUMULATE the duplicate, never shadow or be shadowed
                rows = [{"k": rng.randint(0, 25), "v": f"a{wave}.{i}"}
                        for i in range(rng.randint(1, 3))]
                oracle.extend((r["k"], r["v"]) for r in rows)
                st.commit(_df(spark, rows), "t", wave=wave, mode="delta")
            elif kind == "delta_upsert":
                live = sorted({k for k, _ in oracle}) or [0]
                ks = set(rng.sample(live, min(len(live), rng.randint(1, 3))))
                rows = [{"k": k, "v": f"u{wave}.{k}"} for k in sorted(ks)]
                oracle = ([kv for kv in oracle if kv[0] not in ks]
                          + [(r["k"], r["v"]) for r in rows])
                st.commit(_df(spark, rows), "t", wave=wave, mode="delta",
                          key=["k"])
            else:
                # one keyed delta mixing tombstones (v matches the
                # predicate) with plain upsert rows on other keys; a
                # tombstone may also target a key that does not exist
                # (a MERGE with no match — must be a no-op)
                live = sorted({k for k, _ in oracle}) or [0]
                dks = set(rng.sample(live, min(len(live), rng.randint(1, 2))))
                if rng.random() < 0.3:
                    dks.add(77)  # never-live key: deleting it is a no-op
                uks = {rng.randint(0, 25) for _ in range(rng.randint(0, 2))} \
                    - dks
                rows = ([{"k": k, "v": "DEL"} for k in sorted(dks)]
                        + [{"k": k, "v": f"u{wave}.{k}"} for k in sorted(uks)])
                oracle = ([kv for kv in oracle if kv[0] not in dks | uks]
                          + [(k, f"u{wave}.{k}") for k in sorted(uks)])
                st.commit(_df(spark, rows), "t", wave=wave, mode="delta",
                          key=["k"], delete_where="v = 'DEL'")
            if rng.random() < 0.3:
                st.expire_snapshots("t", keep=rng.randint(1, 2))
            got = sorted((r["k"], r["v"])
                         for r in st.read(spark, "t").collect())
            assert got == sorted(oracle), (trial, wave, kind)


def test_keyed_delta_with_duplicate_keys_self_heals(spark, tmp_path):
    """Keys are documented unique within one keyed delta; if a caller
    violates that, compose collapses the duplicates to ONE state row per
    key rather than silently returning several frontier rows for one
    url_hash. WHICH duplicate survives is arbitrary and may differ across
    recomputations of the lazy read — a guard rail, not a deterministic
    merge (materialize the read before fanning it out to multiple
    consumers if the precondition might be violated)."""
    st = SnapshotStore(str(tmp_path / "d"))
    st.commit(_df(spark, [{"k": 1, "v": "a"}, {"k": 2, "v": "b"}]),
              "t", wave=0)
    st.commit(_df(spark, [{"k": 1, "v": "x"}, {"k": 1, "v": "y"}]),
              "t", wave=1, mode="delta", key=["k"])
    rows = st.read(spark, "t").collect()
    assert len(rows) == 2
    got = {r["k"]: r["v"] for r in rows}
    assert got[2] == "b"
    assert got[1] in {"x", "y"}


def test_mixed_merge_keys_in_one_chain_raise(spark, tmp_path):
    """A table has ONE MERGE key: a delta chain whose keyed deltas disagree
    on key columns is a caller bug and must fail loudly at read, not pick
    one key silently."""
    import pytest

    st = SnapshotStore(str(tmp_path / "m"))
    st.commit(_df(spark, [{"k": 1, "v": "a"}]), "t", wave=0)
    st.commit(_df(spark, [{"k": 1, "v": "b"}]), "t", wave=1, mode="delta",
              key=["k"])
    st.commit(_df(spark, [{"k": 2, "v": "c"}]), "t", wave=2, mode="delta",
              key=["v"])
    with pytest.raises(ValueError, match="MERGE key"):
        st.read(spark, "t")


def test_empty_partitioned_commit_reads_back_empty(spark, tmp_path):
    """A zero-row full commit with partition_by must stay readable: a
    partitioned empty write emits no data files (schema becomes
    uninferrable), so the store falls back to a plain schema-bearing
    empty write."""
    st = SnapshotStore(str(tmp_path / "e"))
    df = _df(spark, [{"k": 1, "v": "a", "status": "pending"}]).filter("k > 99")
    st.commit(df, "t", wave=0, partition_by=["status"])
    out = st.read(spark, "t")
    assert out.count() == 0
    assert set(out.columns) == {"k", "v", "status"}


def test_recommit_overwrites_mid_commit_orphan_dir(spark, tmp_path):
    """A driver kill MID-commit (parquet dir written, manifest rename not
    yet done) leaves an orphan snap dir no manifest references. Resume
    rolls the manifest back to the pointer, so the torn wave's re-run
    recomputes the SAME snap id (max+1 over the restored manifest) and its
    overwrite-mode write must clobber the orphan — reads stay manifest-
    driven and the re-run leaks no stale files."""
    st = SnapshotStore(str(tmp_path / "s"))
    st.commit(_df(spark, [{"k": 1, "v": "a"}]), "t", wave=0)
    # simulate the torn wave-1 commit: snap-1 written with garbage rows,
    # manifest never updated (the kill window before _write_manifest)
    orphan = os.path.join(str(tmp_path / "s"), "t", "snap-1")
    _df(spark, [{"k": 99, "v": "torn"}]).write.parquet(orphan)
    assert st.latest_wave("t") == 0  # manifest never saw the torn commit
    # the re-run of wave 1 must land on the same id and replace the orphan
    sid = st.commit(_df(spark, [{"k": 2, "v": "b"}]), "t", wave=1,
                    mode="delta", key=["k"])
    assert sid == 1
    assert _state(spark, st, "t") == [(1, "a"), (2, "b")]
    raw = st.read_snapshot_raw(spark, "t", 1).collect()
    assert [(r["k"], r["v"]) for r in raw] == [(2, "b")]


def test_read_unknown_snapshot_id_raises(spark, tmp_path):
    st = SnapshotStore(str(tmp_path / "s"))
    st.commit(_df(spark, [{"k": 1, "v": "a"}]), "t", wave=0)
    with pytest.raises(ValueError, match="no snapshot id 99"):
        st.read(spark, "t", snapshot=99)


def test_read_chain_without_full_base_raises(spark, tmp_path):
    """Composing a chain whose oldest survivor is a DELTA would return
    tombstone rows as live state and drop the base delta's upsert
    semantics — read() must fail loudly (the loop always commits a
    table's first snapshot full; only external assembly can get here)."""
    st = SnapshotStore(str(tmp_path / "s"))
    st.commit(_df(spark, [{"k": 1, "v": "a"}]), "t", wave=0, mode="delta",
              key=["k"])
    with pytest.raises(ValueError, match="no full base"):
        st.read(spark, "t")
