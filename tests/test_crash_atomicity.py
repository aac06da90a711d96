"""Mid-wave crash atomicity (SURVEY §8 / round-4 verdict "What's wrong" #1).

One crawl wave commits ~10 tables sequentially; each per-table commit is
individually atomic, but a driver kill BETWEEN two of them tears the wave.
Under the old resume rule (latest_wave("frontier") + 1, frontier committed
FIRST) a kill after the frontier commit but before the articles commit
resumed past the torn wave with its URLs marked done and their article rows
lost forever. The store now flips a durable wave pointer only AFTER a
wave's last commit (the Iceberg multi-table-transaction analogue), and
resume rolls back any unacknowledged snapshots and re-runs the torn wave —
wave-keyed commits are idempotent overwrites built for exactly that re-run.

The main test reproduces every adjacent-commit crash window exactly: an
instrumented reference crawl copies the WHOLE store directory right after
each per-table commit (commits and the pointer flip are atomic renames, so
each copy is byte-for-byte the durable state a kill in that window leaves
behind), then every torn copy is resumed and must reproduce the
uninterrupted crawl's catalog, frontier, and learned policy exactly.
"""

import os
import shutil
import threading

import pytest
from pyspark.sql import functions as F

from s_crawler_spark.corpus import seed_search_url
from s_crawler_spark.plans.reference_sim import simulate_crawl
from s_crawler_spark.plans.wave import crawl
from s_crawler_spark.sources.store import SnapshotStore
from test_wave_parity import assert_parity

# full production composition: every state table in play, including the
# host-dimensioned keyed deltas and tombstones; compact_every=2 puts a
# FULL wave (0), a DELTA wave (1) and a COMPACTION wave (2) all in scope
KW = dict(wave_seconds=100, n_shards=4,
          adaptive_delay=True, trap_guard=True, compact_every=2)


class CopyOnCommitStore(SnapshotStore):
    """Copies the whole store root after every per-table commit — each copy
    is exactly the durable state a driver kill in the window after that
    commit (and before the next / before the pointer flip) would leave.

    The lock is held across the WHOLE commit, serializing the crawl loop's
    pooled per-wave commits in this instrumented store only: a copytree of
    a root another pool thread is mid-commit mutating can fail on vanishing
    Spark temp files. Serialized, each copy is a quiesced post-commit state
    — still exactly a crash window the pointer protocol must recover (the
    protocol rolls back EVERY snapshot past the pointer, so it is agnostic
    to which subset of a torn wave's commits landed)."""

    def __init__(self, root, copies_dir):
        super().__init__(root)
        self.copies_dir = copies_dir
        self.log = []  # (copy_path, table, wave)
        self._lock = threading.Lock()  # commits fan out over a thread pool

    def commit(self, df, table, wave, **kw):
        with self._lock:
            snap = super().commit(df, table, wave, **kw)
            dst = os.path.join(self.copies_dir, f"{len(self.log):03d}")
            shutil.copytree(self.root, dst)
            self.log.append((dst, table, wave))
        return snap


def frontier_state(spark, store):
    return sorted(
        (r["url_hash"], r["status"], r["attempts"], r["robots_ok"])
        for r in store.read(spark, "frontier").collect())


def policy_state(spark, store):
    return sorted((r["host"], r["crawl_delay_ms"])
                  for r in store.read(spark, "host_policy").collect())


def ledger_state(spark, store):
    """wave_log's status counts and per-(wave, hop, metric) lineage count
    totals: a torn wave's ledger rows left beside its re-run's would
    double a total. parse_ms and commit ms are wall-clock, so left out."""
    log = store.read(spark, "wave_log").filter(
        (F.col("phase") != "commit") & (F.col("metric") != "parse_ms"))
    return sorted(tuple(r) for r in log.groupBy("wave", "phase", "metric")
                  .agg(F.sum("value")).collect())


def test_resume_after_crash_between_every_adjacent_commit_pair(
        spark, pages, pages_dict, tmp_path):
    sim, _ = simulate_crawl(pages_dict, seed_search_url(), max_count=10**9)
    rec = CopyOnCommitStore(str(tmp_path / "ref"), str(tmp_path / "copies"))
    cat_ref = crawl(spark, pages, seed_search_url(), rec, max_waves=30, **KW)
    assert_parity(cat_ref.collect(), sim)
    n_waves = rec.latest_wave("frontier") + 1
    assert n_waves >= 3  # full + delta + compaction waves all exercised
    ref_frontier = frontier_state(spark, rec)
    ref_policy = policy_state(spark, rec)
    ref_ledger = ledger_state(spark, rec)

    # every copy of the wave-1 (delta) chain, plus the first / middle / last
    # windows of the full (0) and compaction (2) waves — the recovery path
    # (drop every wave-w snapshot, re-run wave w) is identical across
    # windows of one wave, so sampling the edge windows of the structurally
    # distinct waves keeps the runtime bounded without losing a shape
    per_wave = {}
    for i, (path, table, wave) in enumerate(rec.log):
        per_wave.setdefault(wave, []).append((path, table, wave))
    legs = list(per_wave.get(1, []))
    for w in (0, 2):
        chain = per_wave.get(w, [])
        for j in {0, len(chain) // 2, len(chain) - 1}:
            legs.append(chain[j])

    for path, table, wave in legs:
        st = SnapshotStore(path)
        # really torn: the pointer lags the newest snapshot of this wave
        assert (st.committed_wave() or -1) < wave, (table, wave)
        cat = crawl(spark, pages, seed_search_url(), st, max_waves=30, **KW)
        assert_parity(cat.collect(), sim, ctx=(table, wave))
        assert frontier_state(spark, st) == ref_frontier, (table, wave)
        assert policy_state(spark, st) == ref_policy, (table, wave)
        assert ledger_state(spark, st) == ref_ledger, (table, wave)
        assert st.committed_wave() == n_waves - 1, (table, wave)
        shutil.rmtree(path)  # bound tmp usage across ~16 legs


def test_resume_after_crash_with_expiry_pruned_history(
        spark, pages, pages_dict, tmp_path):
    """Crash windows on a store whose history expiry has already pruned.

    The loop's ordering contract — pointer flip BEFORE expiry — exists so
    expiry can never drop the base a rollback of the current wave needs.
    The main test leaves expiry off; this one runs `expire_keep=1` (the
    tightest bound: one full per state table survives each compaction) and
    resumes from crash windows of the LAST two waves, where history is
    maximally pruned — every rollback must recompose from the single
    remaining full + deltas."""
    sim, _ = simulate_crawl(pages_dict, seed_search_url(), max_count=10**9)
    kw = dict(KW, expire_keep=1)
    rec = CopyOnCommitStore(str(tmp_path / "ref"), str(tmp_path / "copies"))
    cat_ref = crawl(spark, pages, seed_search_url(), rec, max_waves=30, **kw)
    assert_parity(cat_ref.collect(), sim)
    n_waves = rec.latest_wave("frontier") + 1
    assert n_waves >= 3
    ref_frontier = frontier_state(spark, rec)
    ref_policy = policy_state(spark, rec)
    ref_ledger = ledger_state(spark, rec)

    per_wave = {}
    for path, table, wave in rec.log:
        per_wave.setdefault(wave, []).append((path, table, wave))
    last, prev = max(per_wave), max(per_wave) - 1
    legs = list(per_wave[last])  # every window of the final wave
    chain = per_wave.get(prev, [])
    for j in {0, len(chain) // 2, len(chain) - 1}:  # edges of the one before
        legs.append(chain[j])

    for path, table, wave in legs:
        st = SnapshotStore(path)
        assert (st.committed_wave() or -1) < wave, (table, wave)
        cat = crawl(spark, pages, seed_search_url(), st, max_waves=30, **kw)
        assert_parity(cat.collect(), sim, ctx=(table, wave))
        assert frontier_state(spark, st) == ref_frontier, (table, wave)
        assert policy_state(spark, st) == ref_policy, (table, wave)
        assert ledger_state(spark, st) == ref_ledger, (table, wave)
        shutil.rmtree(path)


def test_rollback_drops_only_uncommitted(spark, tmp_path):
    st = SnapshotStore(str(tmp_path / "s"))
    one = spark.range(1).select(F.lit("a").alias("k"))
    for t in ("frontier", "articles"):
        st.commit(one, t, 0)
    st.mark_wave_committed(0)
    st.commit(one, "frontier", 1)  # torn: articles wave-1 never landed
    assert st.latest_wave("frontier") == 1
    assert st.rollback_to_committed() == 0
    assert st.latest_wave("frontier") == 0
    assert st.latest_wave("articles") == 0
    # the torn snapshot's files are gone too
    dirs = os.listdir(os.path.join(str(tmp_path / "s"), "frontier"))
    assert sorted(d for d in dirs if d.startswith("snap-")) == ["snap-0"]


def test_rollback_preserves_external_frontier_seed(spark, tmp_path):
    """An externally-seeded store (a frontier committed directly, no
    sibling tables) is not a torn wave — the seed must survive rollback."""
    st = SnapshotStore(str(tmp_path / "seeded"))
    one = spark.range(1).select(F.lit("a").alias("k"))
    st.commit(one, "frontier", 0)
    assert st.rollback_to_committed() == 0
    assert st.latest_wave("frontier") == 0


def test_relocated_store_reads_its_own_files(spark, tmp_path):
    """Reads resolve snapshot paths against the CURRENT root: a copied
    store (backup/restore, crash-copy resume) read from its new location
    must never reach back into the original root — with the original
    deleted that dangles (PATH_NOT_FOUND), and with it alive it silently
    reads another store's files."""
    src = SnapshotStore(str(tmp_path / "orig"))
    one = spark.range(3).select(F.col("id").alias("k"),
                                F.lit("v0").alias("v"))
    src.commit(one, "t", 0)
    src.commit(
        spark.range(1).select(F.col("id").alias("k"), F.lit("v1").alias("v")),
        "t", wave=1, mode="delta", key=["k"])
    shutil.copytree(str(tmp_path / "orig"), str(tmp_path / "moved"))
    shutil.rmtree(str(tmp_path / "orig"))
    moved = SnapshotStore(str(tmp_path / "moved"))
    got = sorted((r["k"], r["v"]) for r in moved.read(spark, "t").collect())
    assert got == [(0, "v1"), (1, "v0"), (2, "v0")]
    raw = moved.read_snapshot_raw(spark, "t", 1).collect()
    assert [(r["k"], r["v"]) for r in raw] == [(0, "v1")]


def test_rollback_empty_store_is_noop(tmp_path):
    st = SnapshotStore(str(tmp_path / "empty"))
    assert st.rollback_to_committed() is None
    assert st.committed_wave() is None


def test_rollback_preserves_nonwave_only_seed(spark, tmp_path):
    """A store holding ONLY dimension tables (e.g. a pre-seeded host_policy
    dimension, committed before the loop ever ran) has no pointer and no
    frontier — that is external seeding, not a torn wave. rollback (which
    crawl always runs first) must leave it untouched, not wipe it."""
    st = SnapshotStore(str(tmp_path / "dims"))
    one = spark.range(1).select(F.lit("h").alias("host"))
    st.commit(one, "host_policy", 0)
    st.commit(one, "trap_state", 3)
    assert st.rollback_to_committed() is None
    assert st.latest_wave("host_policy") == 0
    assert st.latest_wave("trap_state") == 3


def test_armed_pointer_rolls_back_torn_wave_zero(spark, tmp_path):
    """crawl() arms the pointer at −1 before its first commit, so a kill
    inside wave 0 (some tables committed, pointer never flipped) must roll
    back to an empty store instead of resuming past a torn first wave."""
    st = SnapshotStore(str(tmp_path / "w0"))
    st.mark_wave_committed(-1)
    one = spark.range(1).select(F.lit("a").alias("k"))
    st.commit(one, "frontier", 0)
    st.commit(one, "articles", 0)
    assert st.rollback_to_committed() == -1
    assert st.latest_wave("frontier") is None
    assert st.latest_wave("articles") is None


def test_pointerless_delta_store_refuses_min_wave_rollback(spark, tmp_path):
    """Only the crawl loop writes deltas, and it writes the pointer before
    its first commit: a store with DELTA snapshots but no pointer lost it
    (partial copy). Its per-table numbering legitimately lags (unchanged
    tables skip commits), so no committed wave can be inferred from it —
    rollback must refuse instead of guessing and deleting data."""
    st = SnapshotStore(str(tmp_path / "sparse"))
    one = spark.range(1).select(F.lit("a").alias("k"))
    for t in ("frontier", "articles", "seen", "candidates"):
        st.commit(one, t, 0)
    # sparse delta era: only the frontier moved on waves 1-2
    st.commit(one, "frontier", wave=1, mode="delta", key=["k"])
    st.commit(one, "frontier", wave=2, mode="delta", key=["k"])
    assert st.committed_wave() is None
    with pytest.raises(RuntimeError, match="delta snapshots but no"):
        st.rollback_to_committed()
    # with the pointer restored the same store rolls back fine
    st.mark_wave_committed(1)
    assert st.rollback_to_committed() == 1
    assert st.latest_wave("frontier") == 1
