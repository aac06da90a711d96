"""Long-chain soak: evidence that merge-on-read compose cost is
O(waves-since-compaction × wave) — flat across compaction cycles — and that
expiry bounds store bytes. VERDICT r04 called the flatness claim "argued,
not plotted"; this plots it.

Runs ONE tight-budget crawl for 20+ waves at compact_every=8 /
expire_keep=2 (two-plus full compaction cycles) and records, at every wave
boundary (inside the durable-pointer flip, i.e. right after the wave's
commits land):

  - chain_len: live frontier snapshots the next composed read must merge
    (1 full + deltas since; saw-tooths with the compaction cycle)
  - compose_ms: wall of a composed frontier read + count (the loop's own
    per-wave read shape)
  - store_bytes: du over the store root (expiry keeps it bounded)

Usage: python tools/bench_soak.py [sf_dir] [wave_seconds] [max_waves]
       (defaults: /root/testdata/sf0.01, 60, 40)

Prints a per-wave table and ONE JSON summary line.
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
WAVE_SECONDS = int(sys.argv[2]) if len(sys.argv) > 2 else 60
MAX_WAVES = int(sys.argv[3]) if len(sys.argv) > 3 else 40
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))
COMPACT_EVERY = 8
EXPIRE_KEEP = 2


def du_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def main() -> None:
    from s_crawler_spark.corpus import seed_search_url, synthesize_pages
    from s_crawler_spark.plans.wave import crawl
    from s_crawler_spark.session import get_spark
    from s_crawler_spark.sources.store import SnapshotStore

    spark = get_spark("bench-soak", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    pages = synthesize_pages(spark, SF_DIR).localCheckpoint()

    samples: list[dict] = []

    class SoakStore(SnapshotStore):
        """Samples the compose cost at every durable wave boundary — the
        exact moment the loop's next-wave reads will see this chain."""

        def mark_wave_committed(self, wave: int) -> None:
            super().mark_wave_committed(wave)
            if wave < 0:  # the armed pointer before wave 0
                return
            snaps = self.snapshots("frontier")
            t0 = time.perf_counter()
            n_rows = self.read(spark, "frontier").count()
            compose_ms = int((time.perf_counter() - t0) * 1000)
            samples.append({
                "wave": wave,
                "chain_len": len(snaps),
                "mode": snaps[-1]["mode"] if snaps else "-",
                "compose_ms": compose_ms,
                "frontier_rows": n_rows,
                "store_bytes": du_bytes(self.root),
            })

    root = tempfile.mkdtemp(prefix="soak_store_")
    store = SoakStore(root)
    try:
        cat = crawl(spark, pages, seed_search_url(), store,
                    wave_seconds=WAVE_SECONDS, max_waves=MAX_WAVES,
                    n_shards=8, compact_every=COMPACT_EVERY,
                    expire_keep=EXPIRE_KEEP,
                    adaptive_delay=True, trap_guard=True)
        n_articles = cat.count()
    finally:
        shutil.rmtree(root, ignore_errors=True)

    print(f"\n== soak: {len(samples)} waves, {n_articles} articles, "
          f"compact_every={COMPACT_EVERY}, expire_keep={EXPIRE_KEEP}, "
          f"wave_seconds={WAVE_SECONDS}, sf={SF_DIR} ==")
    print("wave  mode   chain_len  compose_ms  frontier_rows  store_KiB")
    for s in samples:
        print(f"{s['wave']:4d}  {s['mode']:5s}  {s['chain_len']:9d}  "
              f"{s['compose_ms']:10d}  {s['frontier_rows']:13d}  "
              f"{s['store_bytes'] // 1024:9d}")

    # flatness: compare compose_ms of same-chain-position waves across
    # cycles (e.g. every wave with chain_len == 2 — one full + one delta)
    by_pos: dict[int, list[int]] = {}
    for s in samples:
        by_pos.setdefault(s["chain_len"], []).append(s["compose_ms"])
    cycles = {k: v for k, v in sorted(by_pos.items()) if len(v) >= 2}
    summary = {
        "waves": len(samples),
        "articles": n_articles,
        "compose_ms": [s["compose_ms"] for s in samples],
        "chain_len": [s["chain_len"] for s in samples],
        "store_bytes": [s["store_bytes"] for s in samples],
        "max_store_bytes": max((s["store_bytes"] for s in samples), default=0),
        "compose_ms_by_chain_pos": cycles,
    }
    print()
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
