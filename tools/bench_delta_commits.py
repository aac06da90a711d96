"""Evidence for O(wave) state commits: run the SAME tight-budget crawl in
all-full mode (compact_every=1, the legacy shape) and delta mode (default),
and report per-wave frontier rows written, frontier commit wall, and final
store bytes. The delta rows-written column must track the wave's admission
size while the full column tracks total state — the write-amplification gap
that motivated the MERGE-on-read store (VERDICT r03 #1).

Usage: python tools/bench_delta_commits.py [sf_dir] [wave_seconds]
       (defaults: /root/testdata/sf0.1, 500)

Prints a per-wave table per mode and ONE JSON summary line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
WAVE_SECONDS = int(sys.argv[2]) if len(sys.argv) > 2 else 500
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "8"))


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

    spark = get_spark("bench-delta-commits", master=f"local[{CPUS}]",
                      shuffle_partitions=CPUS)
    spark.sparkContext.setLogLevel("ERROR")
    pages = synthesize_pages(spark, SF_DIR).localCheckpoint()

    summary: dict[str, dict] = {}
    for mode, compact_every in (("full_every_wave", 1), ("delta", 8)):
        root = tempfile.mkdtemp(prefix=f"delta_bench_{mode}_")
        store = SnapshotStore(root)
        cat = crawl(spark, pages, seed_search_url(), store,
                    wave_seconds=WAVE_SECONDS, max_waves=40, n_shards=8,
                    compact_every=compact_every)
        n_articles = cat.count()
        ms = {r["wave"]: r["value"] for r in store.read(spark, "wave_log")
              .filter("phase = 'commit' AND metric = 'frontier'").collect()}
        rows_per_wave, ms_per_wave, modes = [], [], []
        for s in store.snapshots("frontier"):
            w = s["wave"]
            rows_per_wave.append(
                store.read_snapshot_raw(spark, "frontier", w).count())
            ms_per_wave.append(ms[w])
            modes.append(s["mode"])
        total_rows = store.read(spark, "frontier").count()
        print(f"\n== {mode} (compact_every={compact_every}) — "
              f"{len(rows_per_wave)} waves, {n_articles} articles, "
              f"frontier={total_rows} rows ==")
        print("wave  mode   rows_written  frontier_commit_ms")
        for w, (r, m, md) in enumerate(zip(rows_per_wave, ms_per_wave, modes)):
            print(f"{w:4d}  {md:5s}  {r:12d}  {m:18d}")
        delta_waves = [r for r, md in zip(rows_per_wave, modes)
                       if md == "delta"]
        summary[mode] = {
            "waves": len(rows_per_wave),
            "articles": n_articles,
            "frontier_rows": total_rows,
            "rows_written_total": sum(rows_per_wave),
            "rows_written_per_delta_wave": delta_waves,
            "frontier_commit_ms": ms_per_wave,
            "store_bytes": du_bytes(root),
        }
        shutil.rmtree(root, ignore_errors=True)  # no stranded /tmp stores

    f_rows = summary["full_every_wave"]["rows_written_total"]
    d_rows = summary["delta"]["rows_written_total"]
    summary["write_amplification_removed"] = round(f_rows / max(1, d_rows), 2)
    print()
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
