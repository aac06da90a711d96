"""Streaming face: windowed host metrics + stateful politeness admission
(SURVEY.md §2.9) driven with availableNow triggers over committed frontier
snapshots."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from s_crawler_spark.corpus import seed_search_url
from s_crawler_spark.plans import wave as wv
from s_crawler_spark.operators import dedup as dd
from s_crawler_spark.operators import frontier as fr
from s_crawler_spark.streaming import frontier_stream as fs


@pytest.fixture(scope="module")
def frontier_dir(spark, pages, tmp_path_factory):
    """Two committed waves 10 minutes apart: the second advances the
    event-time watermark past the first wave's windows so append-mode
    windowed aggregates actually emit."""
    root = tmp_path_factory.mktemp("frontier_snapshots")
    cand = wv.collect_candidates(pages, seed_search_url())
    fresh = dd.first_occurrence(cand, "doi", "seq")
    rows = fr.enqueue(fresh, wave=0, logical_now="2024-06-01 00:00:00")
    rows.write.parquet(str(root / "wave=0"))
    late = fr.enqueue(fresh.limit(5), wave=1, logical_now="2024-06-01 00:10:00")
    late.write.parquet(str(root / "wave=1"))
    return str(root)


def test_metrics_stream_matches_batch(spark, frontier_dir, tmp_path):
    fs.run_metrics_stream(spark, frontier_dir,
                          str(tmp_path / "out"), str(tmp_path / "ckpt"))
    got = (spark.read.parquet(str(tmp_path / "out"))
           .filter(F.col("window_start") == "2024-06-01 00:00:00")
           .groupBy("host").agg(F.sum("n_discovered").alias("n")))
    batch = (spark.read.parquet(frontier_dir + "/wave=0")
             .groupBy("host").count())
    g = {r["host"]: r["n"] for r in got.collect()}
    b = {r["host"]: r["count"] for r in batch.collect()}
    assert g == b


def test_metrics_stream_resume_is_incremental(spark, frontier_dir, tmp_path):
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    fs.run_metrics_stream(spark, frontier_dir, out, ckpt)
    n1 = spark.read.parquet(out).count()
    # re-run with same checkpoint and no new files -> no duplicate output
    fs.run_metrics_stream(spark, frontier_dir, out, ckpt)
    assert spark.read.parquet(out).count() == n1


def test_politeness_admission_budget(spark, frontier_dir, tmp_path):
    """Token bucket: first micro-batch admits at most `burst` per host, in
    seq order."""
    src = fs.stream_discoveries(spark, frontier_dir)
    admitted = fs.politeness_admission(src, crawl_delay_ms=1000, burst=25)
    q = (admitted.writeStream.format("parquet")
         .option("path", str(tmp_path / "adm"))
         .option("checkpointLocation", str(tmp_path / "adm_ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    out = spark.read.parquet(str(tmp_path / "adm"))
    per_host = {r["host"]: r["count"]
                for r in out.groupBy("host").count().collect()}
    pending = spark.read.parquet(frontier_dir + "/wave=0")
    avail = {r["host"]: r["count"]
             for r in pending.groupBy("host").count().collect()}
    assert per_host, "nothing admitted"
    for host, n in per_host.items():
        assert n <= 25
        assert n == min(25, avail[host])
    # admitted rows are the seq-smallest per host (FIFO politeness)
    adm = out.toPandas()
    pend = pending.toPandas()
    for host, grp in adm.groupby("host"):
        expect = (pend[pend.host == host].sort_values("seq")
                  .head(len(grp))["seq"].tolist())
        assert sorted(grp["seq"].tolist()) == expect


def test_politeness_admission_per_host_policy(spark, tmp_path):
    """Per-host policy rates (parity with compose_wave): two hosts with the
    same availability but different crawl delays admit different counts —
    both admit `burst` in batch 1; over the 600 s to batch 2 the 1 s-delay
    host accrues 600 tokens (capped at burst=3) while the 300 s-delay host
    accrues only 2."""
    import datetime as dt
    root = tmp_path / "snaps"
    t0 = dt.datetime(2024, 6, 1, 0, 0, 0)
    t1 = t0 + dt.timedelta(seconds=600)

    def rows(ts, wave, seq0):
        out = []
        for h in ("fast.org", "slow.org"):
            for i in range(10):
                out.append((f"https://{h}/{wave}/{i}", None, h, 0, wave,
                            seq0 + i, "pending", 0, None, ts, ts))
        return out

    spark.createDataFrame(rows(t0, 0, 0), fs.FRONTIER_STREAM_SCHEMA) \
        .coalesce(1).write.parquet(str(root / "wave=0"))
    spark.createDataFrame(rows(t1, 1, 100), fs.FRONTIER_STREAM_SCHEMA) \
        .coalesce(1).write.parquet(str(root / "wave=1"))
    src = fs.stream_discoveries(spark, str(root), max_files_per_trigger=1)
    admitted = fs.politeness_admission(
        src, crawl_delay_ms=1000, burst=3,
        host_policy={"slow.org": 300_000})
    q = (admitted.writeStream.format("parquet")
         .option("path", str(tmp_path / "adm2"))
         .option("checkpointLocation", str(tmp_path / "adm2_ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    out = spark.read.parquet(str(tmp_path / "adm2"))
    per_host = {r["host"]: r["count"]
                for r in out.groupBy("host").count().collect()}
    assert per_host == {"fast.org": 6, "slow.org": 5}


def test_politeness_admission_duplicate_policy_rows(spark, tmp_path):
    """A host with several policy rows must be collapsed to its LARGEST
    delay before the join (most-polite wins): a plain left join would fan
    each discovery out per duplicate row — the same URL admitted twice and
    the token bucket double-charged — where the old driver-dict form kept
    one row. Duplicated 1000ms+300000ms policy for slow.org must behave
    exactly like a single 300000ms row (5 admissions over two batches),
    with zero duplicate (url, seq) outputs anywhere."""
    import datetime as dt
    root = tmp_path / "snaps"
    t0 = dt.datetime(2024, 6, 1, 0, 0, 0)
    t1 = t0 + dt.timedelta(seconds=600)

    def rows(ts, wave, seq0):
        out = []
        for h in ("fast.org", "slow.org"):
            for i in range(10):
                out.append((f"https://{h}/{wave}/{i}", None, h, 0, wave,
                            seq0 + i, "pending", 0, None, ts, ts))
        return out

    spark.createDataFrame(rows(t0, 0, 0), fs.FRONTIER_STREAM_SCHEMA) \
        .coalesce(1).write.parquet(str(root / "wave=0"))
    spark.createDataFrame(rows(t1, 1, 100), fs.FRONTIER_STREAM_SCHEMA) \
        .coalesce(1).write.parquet(str(root / "wave=1"))
    pol = spark.createDataFrame(
        [("slow.org", 1000), ("slow.org", 300_000)],
        "host string, crawl_delay_ms int")
    src = fs.stream_discoveries(spark, str(root), max_files_per_trigger=1)
    admitted = fs.politeness_admission(
        src, crawl_delay_ms=1000, burst=3, host_policy=pol)
    q = (admitted.writeStream.format("parquet")
         .option("path", str(tmp_path / "adm3"))
         .option("checkpointLocation", str(tmp_path / "adm3_ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    out = spark.read.parquet(str(tmp_path / "adm3"))
    assert out.count() == out.select("url", "seq").distinct().count()
    per_host = {r["host"]: r["count"]
                for r in out.groupBy("host").count().collect()}
    assert per_host == {"fast.org": 6, "slow.org": 5}


def test_dedup_discoveries_first_occurrence(spark, frontier_dir, tmp_path):
    """Within-watermark streaming dedup: each url_hash appears once, and the
    survivor is the MIN-seq row (first occurrence in crawl order), even
    though wave=1 re-enqueues 5 of wave=0's urls."""
    src = fs.stream_discoveries(spark, frontier_dir)
    q = (fs.dedup_discoveries(src, watermark_seconds=3600)
         .writeStream.format("parquet")
         .option("path", str(tmp_path / "ded"))
         .option("checkpointLocation", str(tmp_path / "ded_ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    out = spark.read.parquet(str(tmp_path / "ded"))
    both = (spark.read.parquet(frontier_dir + "/wave=0")
            .unionByName(spark.read.parquet(frontier_dir + "/wave=1")))
    n_distinct_src = both.select("url_hash").distinct().count()
    assert out.count() == n_distinct_src
    assert out.select("url_hash").distinct().count() == n_distinct_src
    # first-occurrence-by-seq, never an arbitrary survivor
    min_seq = {r["url_hash"]: r["m"] for r in
               both.groupBy("url_hash").agg(F.min("seq").alias("m")).collect()}
    for r in out.collect():
        assert r["seq"] == min_seq[r["url_hash"]]


def test_stream_recovers_status_from_partitioned_snapshots(spark, tmp_path):
    """Full frontier snapshots are hive-partitioned by status (the column
    lives only in the directory name) while deltas carry it as data;
    recursiveFileLookup disables partition discovery, so stream_discoveries
    must recover the partition value from the file path — a NULL status
    would silently drop every base-snapshot row at the pending filters."""
    import datetime as dt

    from s_crawler_spark.sources.store import SnapshotStore

    t0 = dt.datetime(2024, 6, 1, 0, 0, 0)
    rows = [(f"https://h{i % 2}.org/{i}", None, f"h{i % 2}.org", 0, 0,
             i, "pending" if i % 3 else "done", 0, None, t0, t0)
            for i in range(12)]
    base = spark.createDataFrame(rows, fs.FRONTIER_STREAM_SCHEMA)
    st = SnapshotStore(str(tmp_path / "snaps"))
    st.commit(base, "frontier", wave=0, partition_by=["status"])
    delta = spark.createDataFrame(
        [("https://h0.org/d", None, "h0.org", 0, 1, 100, "pending",
          0, None, t0, t0)], fs.FRONTIER_STREAM_SCHEMA)
    st.commit(delta, "frontier", wave=1, mode="delta", key=["url_hash"])

    src = fs.stream_discoveries(spark, str(tmp_path / "snaps" / "frontier"))
    q = (src.writeStream.format("parquet")
         .option("path", str(tmp_path / "out"))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.read.parquet(str(tmp_path / "out"))
    assert got.filter(F.col("status").isNull()).count() == 0
    counts = {r["status"]: r["count"]
              for r in got.groupBy("status").count().collect()}
    assert counts == {"pending": 9, "done": 4}


def test_stream_status_decode_roundtrip_hive_escapes(spark, tmp_path):
    """Path-recovered status must equal the raw column value even for
    hive-escaped chars. Two %-encode layers stack on the path (hive dir
    escaping, then input_file_name's URI encoding) so one url_decode
    leaves hive escapes intact ('100%done' read back as '100%25done');
    and url_decode's form semantics turn a literal '+' — which NEITHER
    layer escapes — into a space. Both must round-trip exactly or the
    same logical status splits into two values vs delta rows."""
    import datetime as dt

    from s_crawler_spark.sources.store import SnapshotStore

    t0 = dt.datetime(2024, 6, 1, 0, 0, 0)
    statuses = ["100%done", "a+b", "v=1:x*", "pending"]
    rows = [(f"https://h.org/{i}", None, "h.org", 0, 0, i, s, 0, None, t0, t0)
            for i, s in enumerate(statuses)]
    base = spark.createDataFrame(rows, fs.FRONTIER_STREAM_SCHEMA)
    st = SnapshotStore(str(tmp_path / "snaps"))
    st.commit(base, "frontier", wave=0, partition_by=["status"])

    src = fs.stream_discoveries(spark, str(tmp_path / "snaps" / "frontier"))
    q = (src.writeStream.format("parquet")
         .option("path", str(tmp_path / "out"))
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r["seq"]: r["status"]
           for r in spark.read.parquet(str(tmp_path / "out")).collect()}
    assert got == {i: s for i, s in enumerate(statuses)}


def test_streaming_admission_matches_batch_crawl_order(spark, pages, tmp_path):
    """Streaming↔batch cross-check: the stateful token-bucket admission,
    driven epoch-by-epoch over the SAME corpus under ONE uniform policy,
    must admit exactly the batch crawl loop's (host, url, wave) triples.

    Alignment argument: with a uniform delay d and wave cadence s where
    b = s·1000/d is an integer ≤ burst, compose_wave's per-host wave budget
    is b and the token bucket accrues exactly b tokens per epoch (capped at
    burst = b), both draining in seq order — so the two faces must pick the
    same rows every wave. The streaming feed is SELF-driven: each epoch
    re-offers only the urls the STREAM has not yet admitted (the frontier's
    pending set), so the batch side never leaks into the streaming input —
    only the final triple sets are compared."""
    import datetime as dt
    from urllib.parse import urlparse

    from s_crawler_spark.operators import politeness as po
    from s_crawler_spark.plans.wave import crawl
    from s_crawler_spark.sources.store import SnapshotStore

    # --- batch face: real loop, uniform 1 s delay, 100 s waves → b = 100
    hosts = sorted(r["host"] for r in pages.select(
        F.parse_url("url", F.lit("HOST")).alias("host")).distinct().collect())
    policy = po.default_host_policy(spark, hosts, crawl_delay_ms=1000)
    store = SnapshotStore(str(tmp_path / "batch"))
    crawl(spark, pages, seed_search_url(), store, wave_seconds=100,
          max_waves=30, n_shards=4, host_policy=policy)
    batch_triples = set()
    for s in store.snapshots("articles"):
        for r in store.read_snapshot_raw(spark, "articles", s["wave"]) \
                      .select("url").collect():
            batch_triples.add((urlparse(r["url"]).netloc, r["url"], s["wave"]))
    n_waves = max(w for _, _, w in batch_triples) + 1
    assert n_waves >= 3  # the budget genuinely spreads the head host out

    # --- streaming face: one epoch per wave, self-driven pending re-offers
    frontier = {r["url"]: (r["host"], r["seq"]) for r in
                store.read(spark, "frontier")
                .select("url", "host", "seq").collect()}
    t0 = dt.datetime(2024, 6, 1)
    offers = tmp_path / "offers"
    out, ckpt = str(tmp_path / "adm"), str(tmp_path / "adm_ckpt")
    admitted: set[str] = set()
    for epoch in range(n_waves + 2):
        pending = sorted(u for u in frontier if u not in admitted)
        if not pending:
            break
        ts = t0 + dt.timedelta(seconds=100 * epoch)
        rows = [(u, None, frontier[u][0], 0, epoch, frontier[u][1],
                 "pending", 0, None, ts, ts) for u in pending]
        spark.createDataFrame(rows, fs.FRONTIER_STREAM_SCHEMA) \
            .coalesce(1).write.parquet(str(offers / f"epoch={epoch}"))
        adm = fs.politeness_admission(
            fs.stream_discoveries(spark, str(offers)),
            crawl_delay_ms=1000, burst=100)
        q = (adm.writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        admitted = {r["url"]
                    for r in spark.read.parquet(out).select("url").collect()}

    stream_triples = {
        (r["host"], r["url"],
         int((r["admitted_at"] - t0).total_seconds()) // 100)
        for r in spark.read.parquet(out).collect()}
    assert len(stream_triples) == len(frontier)
    assert stream_triples == batch_triples


def test_admission_fn_clock_is_monotone_and_zero_delay_safe():
    """Unit pins on the token-bucket kernel (no streaming query needed —
    the state fn is a plain closure):
    - an out-of-order micro-batch (retry-only frontier delta carrying
      ORIGINAL discovered_at older than state's clock) must not rewind
      last_epoch — a rewound clock re-accrues the already-credited
      interval next batch, refilling to burst and over-admitting;
    - a policy delay of 0 must mean unbounded rate, not ZeroDivisionError;
    - a batch whose discovered_at are all null (NaN epoch) must keep the
      existing clock."""
    import pandas as pd
    import numpy as np
    from s_crawler_spark.streaming.frontier_stream import _make_admission_fn

    class FakeState:
        def __init__(self):
            self._v, self.exists = None, False
        @property
        def get(self):
            return self._v
        def update(self, v):
            self._v, self.exists = v, True

    def batch(n, epoch, delay=1000.0):
        return pd.DataFrame({
            "host": ["h"] * n, "url": [f"u{i}" for i in range(n)],
            "seq": list(range(n)),
            "discovered_at": [pd.Timestamp(epoch, unit="s")] * n,
            "__delay_ms": [delay] * n,
            "__epoch": [float(epoch)] * n,
        })

    admit = _make_admission_fn(crawl_delay_ms=1000, burst=5)
    st = FakeState()
    out1 = pd.concat(list(admit(("h",), iter([batch(5, 100.0)]), st)))
    assert len(out1) == 5 and st.get[0] == 0.0     # burst drained
    assert st.get[1] == 100.0
    # out-of-order batch: clock must NOT rewind, and (5s of backdated
    # "elapsed" time) must not be credited
    out2 = pd.concat(list(admit(("h",), iter([batch(5, 95.0)]), st)))
    assert len(out2) == 0, "backdated batch must not refill the bucket"
    assert st.get[1] == 100.0, "clock rewound by out-of-order batch"
    # 2 seconds really elapse → exactly 2 tokens accrue
    out3 = pd.concat(list(admit(("h",), iter([batch(5, 102.0)]), st)))
    assert len(out3) == 2, len(out3)
    # all-null event times: NaN epoch keeps the clock
    nb = batch(1, 102.0)
    nb["__epoch"] = np.nan
    nb["discovered_at"] = pd.NaT
    list(admit(("h",), iter([nb]), st))
    assert st.get[1] == 102.0
    # zero delay: unbounded rate, no ZeroDivisionError
    st0 = FakeState()
    out = pd.concat(list(admit(("h",), iter([batch(5, 10.0, delay=0.0)]), st0)))
    assert len(out) == 5
