"""Tests of the benchmark itself: its output check catches a wrong output,
and the crawl it times stores what the reference simulator stores.

Run from the root of a checkout: ``python3 -m pytest perfbench -q``.  The
first run builds the pages cache under ``.bench_build/perfbench``.  Every
Spark session runs in a child process with ``run.child_env()``'s
environment; this process's environment is left as it was.

``python3 perfbench/test_perfbench.py SF_DIR STORE_DIR WAVE_SECONDS`` is the
child of ``test_crawl_matches_reference_simulator``: it crawls the pages of
``SF_DIR/documents.parquet`` and prints the differences from
``simulate_crawl`` as one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import inputs  # noqa: E402
import run  # noqa: E402
import sample  # noqa: E402


@pytest.fixture(scope="module")
def env():
    return run.child_env()


@pytest.mark.parametrize("workload", ["crawl_loop", "hygiene"])
def test_dropped_row_lowers_ok_rate(env, workload):
    run.prepare(workload, seed=7, env=env)
    res = run.sample(workload, env, ops=2, trace=False, drop_row_op=1)
    assert res["errors"] == []
    assert (res["attempted"], res["failed"]) == (2, 1)
    assert run.end_to_end(res)["ok_rate"] == 0.5


CMP_KEYS = ["title", "url", "doi", "journal", "abstract", "download_link",
            "content_md5", "publication_date"]


def crawl_vs_reference(sf_dir: str, store: str, wave_seconds: int) -> dict:
    from s_crawler_spark.corpus import seed_search_url, synthesize_pages
    from s_crawler_spark.plans.reference_sim import simulate_crawl
    from s_crawler_spark.plans.wave import crawl
    from s_crawler_spark.session import get_spark
    from s_crawler_spark.sources.store import SnapshotStore

    spark = get_spark("perfbench-test", master=f"local[{sample.CORES}]",
                      shuffle_partitions=sample.CORES)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        pages = synthesize_pages(spark, sf_dir).localCheckpoint(eager=True)
        pages_dict = {r["url"]: bytes(r["html"])
                      for r in pages.select("url", "html").collect()}
        sim, _ = simulate_crawl(pages_dict, seed_search_url(), max_count=10**9)
        rows = crawl(spark, pages, seed_search_url(), SnapshotStore(store),
                     wave_seconds=wave_seconds, **sample.CRAWL_KW).collect()
    finally:
        spark.stop()
    diffs = []
    for got, exp in zip(rows, sim):
        diffs += [[k, got[k], exp[k]] for k in CMP_KEYS if got[k] != exp[k]]
        if list(got["authors"] or []) != exp["authors"]:
            diffs.append(["authors", got["url"]])
        if list(got["keywords"] or []) != list(exp["keywords"] or []):
            diffs.append(["keywords", got["url"]])
    return {"crawled": len(rows), "simulated": len(sim), "diffs": diffs[:20]}


def test_crawl_matches_reference_simulator(env, tmp_path):
    """crawl_loop's crawl, on the sf0.001 documents, stores the articles
    ``simulate_crawl`` stores, in its order."""
    # the benchmark's politeness budget, scaled from sf0.1's 5,000 documents
    # to sf0.001's 500, so this crawl also takes 4 waves
    wave_seconds = sample.WAVE_SECONDS * 500 // 5000
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), inputs.SF0001,
         str(tmp_path / "store"), str(wave_seconds)],
        env=env, cwd=run.WORK, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-4000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got == {"crawled": 500, "simulated": 500, "diffs": []}


if __name__ == "__main__":
    print(json.dumps(crawl_vs_reference(sys.argv[1], sys.argv[2],
                                        int(sys.argv[3])), default=str))
