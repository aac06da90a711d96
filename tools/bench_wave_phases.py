"""Per-wave fixed-cost profile of the crawl loop's pooled commits.

VERDICT r04 "What's wrong" #2: the multiwave loop carries ~6-8 s/wave of
orchestration at small waves — ~9 separate per-table commit jobs plus the
compose-read barriers — unmeasured per phase. One composed crawl keeps its
store; the commit rows of the wave_log ledger the loop already writes (one
per per-table commit job, ms of that job's write action) are pivoted into
a wave x table breakdown, plus the wave's commit-critical-path wall (time
from first commit start to the durable pointer flip, sampled by an
instrumented store).

Usage: taskset -c 0-7 python tools/bench_wave_phases.py [sf_dir]
       (default sf_dir: the sf0.01 fixture; SPARK_GRAFT_CPUS sets local[N])

Prints the phase table and ONE JSON summary line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
WAVE_KW = dict(wave_seconds=1000, max_waves=12, n_shards=8,
               adaptive_delay=True, trap_guard=True, expire_keep=2,
               compact_every=4)


def main() -> None:
    from s_crawler_spark.corpus import seed_search_url, synthesize_pages
    from s_crawler_spark.plans.wave import crawl
    from s_crawler_spark.session import get_spark
    from s_crawler_spark.sources.store import SnapshotStore

    spark = get_spark("bench-wave-phases", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    pages = synthesize_pages(spark, SF_DIR).localCheckpoint()
    seed = seed_search_url()

    # ---- phase profile (one pooled run, store kept until read) ---------
    commit_walls: dict[int, float] = {}    # wave -> first-commit..pointer s

    class ProfiledStore(SnapshotStore):
        _t0: float | None = None

        def commit(self, df, table, wave, **kw):
            if self._t0 is None:
                self._t0 = time.perf_counter()
            return super().commit(df, table, wave, **kw)

        def mark_wave_committed(self, wave: int) -> None:
            super().mark_wave_committed(wave)
            if wave >= 0 and self._t0 is not None:
                commit_walls[wave] = time.perf_counter() - self._t0
            self._t0 = None

    root = tempfile.mkdtemp(prefix="bench_phases_")
    store = ProfiledStore(root)
    try:
        t0 = time.perf_counter()
        crawl(spark, pages, seed, store, **WAVE_KW)
        profile_wall = time.perf_counter() - t0
        # one read of the ledger holds every wave's commit rows
        plog = [(r["wave"], r["metric"], r["value"])
                for r in store.read(spark, "wave_log")
                .filter("phase = 'commit'").collect()]
    finally:
        shutil.rmtree(root, ignore_errors=True)

    waves = sorted({w for w, _, _ in plog})
    tables = sorted({p for _, p, _ in plog})
    cell = {(w, p): ms for w, p, ms in plog}
    print(f"== per-wave commit-phase ms ({len(waves)} waves, "
          f"total loop wall {profile_wall:.1f}s) ==")
    print("NOTE: pooled phases overlap — rows sum to MORE than the wave's")
    print("commit critical path (the `commit_wall_s` column).")
    hdr = "wave  " + "  ".join(f"{t[:12]:>12s}" for t in tables) + "  commit_wall_s"
    print(hdr)
    for w in waves:
        row = "  ".join(f"{cell.get((w, t), 0):12d}" for t in tables)
        print(f"{w:4d}  {row}  {commit_walls.get(w, 0):13.2f}")

    print(json.dumps({
        "metric": "wave_phase_profile",
        "sf_dir": SF_DIR, "cpus": CPUS, "waves": len(waves),
        "commit_wall_s": {str(w): round(commit_walls.get(w, 0), 2) for w in waves},
        "phase_ms": {str(w): {t: cell.get((w, t), 0) for t in tables} for w in waves},
    }))


if __name__ == "__main__":
    main()
