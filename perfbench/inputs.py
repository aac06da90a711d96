"""Benchmark inputs: the documents tables, the pages corpus, per-seed layouts.

The documents are the engine's sf0.1 and sf0.001 ``documents`` fixture
tables, copied into ``data/`` unchanged.  Content is fixed, so every expected
fingerprint in ``expected.json`` holds for every workload seed.  The workload
seed only decides the *physical layout* Spark reads: the row order and which
rows land in which parquet file (``write_layout``).  Equal results across
seeds therefore also show that the engine's outputs do not depend on input
layout.

Cache build (``build_caches``) runs in its own Spark process before any
sample starts, so no timed or ``setup_s`` window ever pays for it.  It calls
the engine's own ``corpus.synthesize_pages`` on the sf0.1 documents.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
SF01 = os.path.join(DATA, "sf0.1")      # 5,000 documents
SF0001 = os.path.join(DATA, "sf0.001")  # 500 documents
N_FILES = 8


def cache_dir(root: str) -> str:
    return os.path.join(root, "canonical")


def cache_ready(root: str) -> bool:
    return os.path.exists(os.path.join(cache_dir(root), "READY.json"))


def build_caches(root: str) -> None:
    """Write the crawl's pages corpus under ``root``: 15,256 pages, one
    article per sf0.1 document (a search card, a detail page, a viewer page
    and a PDF payload).

    Runs in a process of its own (``python3 perfbench/inputs.py <root>``)."""
    import shutil

    from s_crawler_spark.corpus import synthesize_pages
    from s_crawler_spark.session import get_spark

    out = cache_dir(root)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    spark = get_spark("perfbench-prep", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        synthesize_pages(spark, SF01) \
            .coalesce(1).write.mode("overwrite").parquet(os.path.join(out, "pages"))
    finally:
        spark.stop()
    with open(os.path.join(out, "READY.json"), "w") as f:
        json.dump({"documents": "sf0.1"}, f)


def write_layout(src: str, dst: str, seed: int) -> int:
    """Copy the parquet table at ``src`` to ``dst`` with its rows permuted
    by ``seed`` and split over ``N_FILES`` files; returns the row count."""
    import shutil

    table = pq.read_table(src)
    perm = np.random.default_rng(seed).permutation(table.num_rows)
    table = table.take(pa.array(perm))
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    bounds = np.linspace(0, table.num_rows, N_FILES + 1).astype(int)
    for k in range(N_FILES):
        pq.write_table(table.slice(bounds[k], bounds[k + 1] - bounds[k]),
                       os.path.join(dst, f"part-{k:03d}.parquet"))
    return table.num_rows


if __name__ == "__main__":
    import sys

    build_caches(sys.argv[1])
