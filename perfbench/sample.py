"""One benchmark sample: a fresh Spark process with a fixed schedule.

Schedule (the same in every sample, so every value is taken at the same
position in the process's life):

1. start a ``local[CORES]`` session and load the workload's inputs;
2. one warm-up operation (not timed, not checked);
3. ``--ops`` timed operations, each checked against ``expected.json``.

``run.py`` pins the process to ``CORES`` cores before it starts it.

Everything before the first timed operation is set-up.  JIT, codegen and
Python-worker start keep getting cheaper for many repetitions, so the
position of a timed operation matters; the schedule fixes it.

With ``--trace`` each timed operation runs inside a ``StageMeter`` span,
and afterwards each layer's public function is called once more on its
own, inside a span of its own (see ``trace_layers``).  Results go to
``--out`` as JSON; spans are written there too, when the sample ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
from contextlib import nullcontext
from datetime import timedelta

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected.json")
CORES = 4

# crawl_loop, with bench.py's multiwave_loop arguments: waves admit at most
# this many URLs per host (1 s crawl delay); the main host holds 70% of the
# 5,000 articles, so the crawl takes 4 waves
WAVE_SECONDS = 1000
CRAWL_KW = dict(max_waves=12, n_shards=8)

TEXTDEDUP_OPS = ("exact_dedup", "simhash_table", "duplicated_spans",
                 "minhash_lsh_pairs")


# ---------------------------------------------------------------- outputs --

def fingerprint_cols(df):
    """Columns hashed by the output check: ``(url, doi, seq)`` for articles,
    every column for a hygiene table (doubles rounded to 9 digits, so a
    summation order that depends on the partitioning cannot flip a bit)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    if "doi" in df.columns and "seq" in df.columns:
        return [F.col("url"), F.col("doi"), F.col("seq")]
    return [F.round(F.col(f.name), 9)
            if isinstance(f.dataType, (T.DoubleType, T.FloatType))
            else F.col(f.name) for f in df.schema.fields]


def materialize(df, name: str) -> list:
    """Write ``df`` to the ``noop`` sink and return its fingerprint
    ``[count, sum(pmod(xxhash64, 2^31)), bit_xor(xxhash64)]`` — the scheme of
    ``plans.wave._content_fp`` — observed on the same job, so the output is
    computed once."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    h = F.xxhash64(*fingerprint_cols(df))
    obs = Observation(f"fp-{name}-{time.perf_counter_ns()}")
    df.observe(obs, F.count(F.lit(1)).alias("n"),
               F.sum(F.pmod(h, F.lit(1 << 31))).alias("h"),
               F.bit_xor(h).alias("x")) \
        .write.format("noop").mode("overwrite").save()
    got = obs.get
    return [int(got["n"]), int(got["h"] or 0), int(got["x"] or 0)]


# -------------------------------------------------------------- workloads --

class Workload:
    """Inputs, warm-up and one timed operation of a workload.

    ``op()`` returns ``(fingerprints, rows, steps)``: a dict of output
    fingerprints, the output row count, and the wall times of the
    operation's steps (waves for crawl_loop, the operation for hygiene)."""

    def __init__(self, spark, inputs: str, work: str, trace: bool):
        self.spark, self.inputs, self.work, self.trace = spark, inputs, work, trace
        self.drop_row = False  # test hook: drop one row of each output
        self.store = None

    def out(self, df, name):
        if self.drop_row:
            df = df.exceptAll(df.limit(1))
        return materialize(df, name)


class CrawlLoop(Workload):
    def load(self):
        self.pages = self.spark.read.parquet(os.path.join(self.inputs, "pages"))
        self.pages.count()

    def new_store(self, store_cls):
        root = tempfile.mkdtemp(prefix="store-", dir=self.work)
        return store_cls(root)

    def warm_up(self):
        from s_crawler_spark.corpus import seed_search_url
        from s_crawler_spark.plans import wave as wv
        from s_crawler_spark.sources.store import SnapshotStore

        store = self.new_store(SnapshotStore)
        wv.crawl(self.spark, self.pages, seed_search_url(), store,
                 wave_seconds=WAVE_SECONDS, **{**CRAWL_KW, "max_waves": 1})
        shutil.rmtree(store.root, ignore_errors=True)

    def op(self, span=None):
        from s_crawler_spark.corpus import seed_search_url
        from s_crawler_spark.plans import wave as wv

        if self.store is not None:
            shutil.rmtree(self.store.root, ignore_errors=True)
        self.store = self.new_store(make_store_cls(record_commits=self.trace))
        out = wv.crawl(self.spark, self.pages, seed_search_url(), self.store,
                       wave_seconds=WAVE_SECONDS, **CRAWL_KW)
        fp = self.out(out, "articles")
        marks = self.store.marks
        return {"articles": fp}, fp[0], [b - a for a, b in zip(marks, marks[1:])]


class Hygiene(Workload):
    def load(self):
        from pyspark.sql import functions as F

        self.docs = self.spark.read.parquet(os.path.join(self.inputs, "docs"))
        self.n_docs = self.docs.count()
        self.bench = (self.docs.filter(F.col("doc_id") % 37 == 1)
                      .select(F.col("doc_id").alias("bench_id"), "text"))

    def tables(self):
        """name -> builder, with bench.py's arguments."""
        from pyspark.sql import functions as F

        from s_crawler_spark.operators import textdedup as td
        from s_crawler_spark.operators import textstats as ts

        d = self.docs
        return {
            "exact_dedup": lambda: td.exact_dedup(d),
            "simhash_table": lambda: td.simhash_table(d),
            "duplicated_spans": lambda: td.duplicated_spans(d),
            "minhash_lsh_pairs": lambda: td.minhash_lsh_pairs(
                d.filter(F.col("doc_id") < 2000), threshold=0.7),
            "quality_table": lambda: ts.quality_table(d),
            "lang_id_table": lambda: ts.lang_id_table(d),
            "fingerprint_table": lambda: ts.fingerprint_table(d),
            "repetition_table": lambda: ts.repetition_table(d),
            "contamination_table": lambda: ts.contamination_table(d, self.bench),
        }

    def warm_up(self):
        self.op()

    def op(self, span=None):
        fps = {}
        t0 = time.perf_counter()
        for name, build in self.tables().items():
            module = "textdedup" if name in TEXTDEDUP_OPS else "textstats"
            with span(f"operators.{module}.{name}") if span else nullcontext():
                fps[name] = self.out(build(), name)
        return fps, self.n_docs, [time.perf_counter() - t0]


WORKLOADS = {"crawl_loop": CrawlLoop, "hygiene": Hygiene}


def make_store_cls(record_commits: bool):
    """SnapshotStore subclass that timestamps ``mark_wave_committed`` (the
    wave boundary) and, when tracing, times every ``commit`` and sizes its
    snapshot (``overhead_s`` is the time spent sizing)."""
    from s_crawler_spark.sources.store import SnapshotStore

    class TimedStore(SnapshotStore):
        def __init__(self, root):
            super().__init__(root)
            self.marks: list[float] = []
            self.commits: list[tuple[float, int]] = []
            self.overhead_s = 0.0

        def mark_wave_committed(self, wave):
            super().mark_wave_committed(wave)
            self.marks.append(time.perf_counter())

        if record_commits:
            def commit(self, df, table, wave, **kw):
                t0 = time.perf_counter()
                snap = super().commit(df, table, wave, **kw)
                t1 = time.perf_counter()
                size = _dir_bytes(os.path.join(self.root, table, f"snap-{snap}"))
                self.overhead_s += time.perf_counter() - t1
                self.commits.append((t1 - t0, size))
                return snap

    return TimedStore


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


# ------------------------------------------------------------------- trace --

def trace_layers(wl: CrawlLoop, meter) -> dict:
    """Call each crawl layer's public function on its own, materialize its
    output at the boundary, and return the per-layer metrics.  The layers
    that only run inside ``crawl()`` are replayed from the committed state
    of the traced crawl's store after wave 0."""
    from pyspark.sql import functions as F

    from s_crawler_spark.corpus import seed_search_url
    from s_crawler_spark.functions import scalars
    from s_crawler_spark.operators import dedup as dd
    from s_crawler_spark.operators import frontier as fr
    from s_crawler_spark.operators import politeness as po
    from s_crawler_spark.operators import seen as sn
    from s_crawler_spark.plans import wave as wv

    m: dict = {}
    spark, pages, seed, store = wl.spark, wl.pages, seed_search_url(), wl.store

    # wave chain: collect_candidates -> fetch_parse -> tiered_insert_dedup
    with meter.span("operators.extract.collect_candidates") as s1:
        cand = wv.collect_candidates(pages, seed).localCheckpoint(eager=True)
    with meter.span("operators.extract.fetch_parse") as s2:
        fetched = wv.fetch_parse(pages, cand).localCheckpoint(eager=True)
    ok = fetched.filter(F.col("downloaded")).select(*wv.ARTICLE_COLS) \
        .localCheckpoint(eager=True)
    with meter.span("operators.dedup.tiered_insert_dedup") as s3:
        out = dd.tiered_insert_dedup(ok, seq_col="seq").localCheckpoint(eager=True)
    n_fetched = fetched.count()
    m["operators.extract.pyworker_cpu_s"] = s1["pyworkers_cpu_s"] + s2["pyworkers_cpu_s"]
    m["operators.extract.task_cpu_s"] = s1["task_cpu_s"] + s2["task_cpu_s"]
    m["operators.extract.pages_parsed"] = (
        wv.search_pages(pages, seed).count()
        + cand.select("url").distinct().count()
        + fetched.filter(F.col("pdf_page_url").isNotNull())
        .select("pdf_page_url").distinct().count())
    m["operators.extract.parse_ok_ratio"] = ok.count() / max(1, n_fetched)
    m["operators.dedup.rows_in"] = ok.count()
    m["operators.dedup.rows_out"] = out.count()
    m["operators.dedup.shuffle_bytes"] = s3["shuffle_bytes"]
    m["operators.dedup.task_cpu_s"] = s3["task_cpu_s"]

    # seen filter: wave-1 discovery probed against the shards built from the
    # seen set committed by wave 0, then the exact backstop
    seen0 = store.read(spark, "seen", as_of_wave=0)
    n_shards = CRAWL_KW["n_shards"]
    cand1 = wv.collect_candidates(pages, seed, wave=1) \
        .withColumn("url_hash", scalars.canonical_url_hash(F.col("url"))) \
        .localCheckpoint(eager=True)
    with meter.span("operators.seen.build_shards") as b:
        shards = sn.build_shards(seen0, n_shards, headroom=2.0) \
            .localCheckpoint(eager=True)
    with meter.span("operators.seen.probe_shards") as p:
        probed = sn.probe_shards(cand1, shards, key_col="url_hash",
                                 n_shards=n_shards).localCheckpoint(eager=True)
    with meter.span("operators.seen.dedup_against_seen") as d:
        fresh = sn.dedup_against_seen(cand1, seen0, shards, key_col="url_hash",
                                      n_shards=n_shards).localCheckpoint(eager=True)
    n_probed = cand1.count()
    suspects = probed.filter(F.col("maybe_seen")).count()
    true_hits = n_probed - fresh.count()
    m["operators.seen.task_cpu_s"] = sum(s["task_cpu_s"] for s in (b, p, d))
    m["operators.seen.probed"] = n_probed
    m["operators.seen.suspects"] = suspects
    # realized false-positive rate: suspects that were not in the seen set
    # (the exact backstop passes them on), over the really unseen candidates
    m["operators.seen.backstop_fp_ratio"] = (
        (suspects - true_hits) / max(1, n_probed - true_hits))

    # admission: wave 1's eligible-pending scan and politeness budgets
    frontier0 = store.read(spark, "frontier", as_of_wave=0)
    now1 = wv.LOGICAL_T0 + timedelta(seconds=WAVE_SECONDS)
    with meter.span("operators.frontier.eligible_pending") as e:
        pending = fr.eligible_pending(frontier0, now1).localCheckpoint(eager=True)
    robots = pages.filter(F.col("url").endswith("/robots.txt")).select(
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.col("html").cast("string").alias("robots_txt"))
    policy = po.parse_robots_policy(robots, default_delay_ms=1000) \
        .localCheckpoint(eager=True)
    with meter.span("operators.politeness.compose_wave") as c:
        batch = po.compose_wave(pending, policy, WAVE_SECONDS,
                                robots_col="robots_ok").localCheckpoint(eager=True)
    n_eligible, n_admitted = pending.count(), batch.count()
    m["operators.frontier.scanned"] = frontier0.count()
    m["operators.frontier.task_cpu_s"] = e["task_cpu_s"]
    m["operators.politeness.admitted"] = n_admitted
    m["operators.politeness.admit_ratio"] = n_admitted / max(1, n_eligible)
    m["operators.politeness.task_cpu_s"] = c["task_cpu_s"]
    return m


# -------------------------------------------------------------------- main --

def main() -> None:
    """Run one sample and write its results to ``--out``."""
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--ops", type=int, required=True)
    ap.add_argument("--t-spawn", type=float, required=True,
                    help="time.time() when the caller spawned this process")
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace", action="store_true")
    ap.add_argument("--drop-row-op", type=int, default=None,
                    help="test hook: drop one row of every output of this "
                         "timed operation (0-based) before its check")
    args = ap.parse_args()

    from s_crawler_spark.session import get_spark
    from spans import StageMeter, tree_cpu

    spark = get_spark("perfbench", master=f"local[{CORES}]",
                      shuffle_partitions=CORES)
    spark.sparkContext.setLogLevel("ERROR")
    with open(EXPECTED) as f:
        expected = json.load(f).get(args.workload, {})
    res = {"setup_s": None, "attempted": 0, "failed": 0, "errors": [],
           "op_wall_s": [], "op_cpu_s": [], "rows": [], "steps": [],
           "fingerprints": []}
    wl = None
    try:
        wl = WORKLOADS[args.workload](spark, args.inputs, args.work, args.trace)
        wl.load()
        wl.warm_up()
        meter = StageMeter(spark) if args.trace else None
        span = meter.span if meter is not None else None
        for i in range(args.ops):
            wl.drop_row = i == args.drop_row_op
            if res["setup_s"] is None:
                res["setup_s"] = time.time() - args.t_spawn
            res["attempted"] += 1
            cpu0, t0 = tree_cpu()["total"], time.perf_counter()
            try:
                with (span(f"op.{args.workload}") if span else nullcontext()):
                    fps, rows, steps = wl.op(span=span)
            except Exception as e:  # noqa: BLE001 - a raising op counts as failed
                res["failed"] += 1
                res["errors"].append(repr(e)[:500])
                continue
            wall = time.perf_counter() - t0
            cpu = tree_cpu()["total"] - cpu0
            res["fingerprints"].append(fps)
            if any(fps[k] != expected.get(k) for k in fps):
                res["failed"] += 1
                continue
            res["op_wall_s"].append(wall)
            res["op_cpu_s"].append(cpu)
            res["rows"].append(rows)
            res["steps"].extend(steps)
        if meter is not None and res["failed"] == 0:
            res["layers"] = layer_metrics(args.workload, wl, meter)
            res["spans"] = meter.spans
    finally:
        if wl is not None and wl.store is not None:
            shutil.rmtree(wl.store.root, ignore_errors=True)
        spark.stop()
    with open(args.out, "w") as f:
        json.dump(res, f)


def layer_metrics(workload: str, wl: Workload, meter) -> dict:
    """Per-layer metrics of a traced sample: medians over the timed
    operations' spans (and their per-operator spans), plus the layer
    replays of ``trace_layers``."""
    by_name: dict[str, list[dict]] = {}
    for s in meter.spans:
        by_name.setdefault(s["name"], []).append(s)

    def med(name: str, key: str) -> float:
        return statistics.median(s[key] for s in by_name[name])

    op = f"op.{workload}"
    # process.jvm_outside_tasks_cpu_s is the JVM's CPU minus its task CPU
    # (planning, codegen, JIT, GC, commit orchestration) on both workloads
    m = {f"process.{k}": med(op, k) for k in (
        "wall_s", "driver_py_cpu_s", "jvm_outside_tasks_cpu_s", "task_cpu_s",
        "pyworkers_cpu_s", "total_cpu_s")}
    # time the instrumentation itself spent inside the operation's window
    m["process.tracing_overhead_s"] = med(op, "overhead_s")
    if workload == "crawl_loop":
        # the store wrapper's sizing, per crawl (only the last store is kept)
        m["process.tracing_overhead_s"] += wl.store.overhead_s
        m["plans.wave.jobs"] = med(op, "jobs")
        m["plans.wave.stages"] = med(op, "stages")
        commits = wl.store.commits
        m["sources.store.commit_s"] = sum(dt for dt, _ in commits)
        m["sources.store.commit_calls"] = len(commits)
        m["sources.store.bytes_written"] = sum(b for _, b in commits)
        m.update(trace_layers(wl, meter))
    else:
        for name in by_name:
            if name.startswith("operators."):
                for k in ("wall_s", "task_cpu_s", "input_bytes", "shuffle_bytes"):
                    m[f"{name}.{k}"] = med(name, k)
    return m


if __name__ == "__main__":
    sys.path.insert(0, HERE)
    main()
