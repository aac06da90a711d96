"""traps.py: URL shape features and the per-host trap flag vs hand cases."""

from s_crawler_spark.operators import traps as tp


def _feats(spark, urls):
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    return {r["url"]: (r["path_depth"], r["max_repeat_seg"],
                       r["n_query_params"])
            for r in tp.url_trap_features(df).collect()}


def test_url_trap_features_hand(spark):
    got = _feats(spark, [
        "https://h.org/a/b/c",
        "https://h.org/a/b/a/a",            # 'a' x3
        "https://h.org/",                   # empty path
        "https://h.org/p?x=1&y=2&x=3",
        "https://h.org/p?x=1#f&g",          # fragment params don't count
        "https://h.org/cal/2024/01/01/2024/01/01",
    ])
    assert got["https://h.org/a/b/c"] == (3, 1, 0)
    assert got["https://h.org/a/b/a/a"] == (4, 3, 0)
    assert got["https://h.org/"] == (0, 0, 0)
    assert got["https://h.org/p?x=1&y=2&x=3"] == (1, 1, 3)
    assert got["https://h.org/p?x=1#f&g"] == (1, 1, 1)
    assert got["https://h.org/cal/2024/01/01/2024/01/01"] == (7, 4, 0)


def test_trap_hosts_flag(spark):
    # trap.org: 3 of 4 URLs suspicious (>= 50%); ok.org: 0 of 2
    urls = ["https://trap.org/" + "/".join(["loop"] * 8),
            "https://trap.org/a/b/a/a/a",
            "https://trap.org/p?" + "&".join(f"k{i}=1" for i in range(9)),
            "https://trap.org/fine",
            "https://ok.org/a/b",
            "https://ok.org/c?x=1"]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r["host"]: r.asDict() for r in tp.trap_hosts(df).collect()}
    t = got["trap.org"]
    assert (t["n_urls"], t["n_deep"], t["n_repeat"], t["n_query_heavy"],
            t["n_suspicious"], t["is_trap"]) == (4, 1, 2, 1, 3, 1)
    o = got["ok.org"]
    assert (o["n_suspicious"], o["is_trap"]) == (0, 0)


def test_trap_guard_withholds_admission(spark):
    """The crawl-loop guard composition: flagged hosts' pending rows are
    excluded from admission, clean hosts unaffected."""
    from pyspark.sql import functions as F
    pending = spark.createDataFrame(
        [("https://trap.org/" + "/".join(["p"] * 9), "trap.org", i)
         for i in range(4)]
        + [("https://ok.org/a%d" % i, "ok.org", 10 + i) for i in range(3)],
        "url string, host string, seq long")
    flagged = (tp.trap_hosts(pending)
               .filter(F.col("is_trap") == 1).select("host"))
    kept = pending.join(flagged, on="host", how="left_anti")
    assert {r["host"] for r in kept.collect()} == {"ok.org"}
    assert kept.count() == 3


def test_trap_guard_noop_on_clean_corpus(spark, pages, pages_dict, tmp_path):
    from s_crawler_spark.corpus import seed_search_url
    from s_crawler_spark.plans.reference_sim import simulate_crawl
    from s_crawler_spark.plans.wave import crawl
    from s_crawler_spark.sources.store import SnapshotStore
    from tests.test_wave_parity import assert_parity
    sim, _ = simulate_crawl(pages_dict, seed_search_url(), max_count=10**9)
    store = SnapshotStore(str(tmp_path / "tg"))
    cat = crawl(spark, pages, seed_search_url(), store, wave_seconds=3600,
                max_waves=10, n_shards=4, trap_guard=True)
    assert_parity(cat.collect(), sim)


def test_update_trap_state_touched_only_matches_recompute(spark):
    """touched_only folds return EXACTLY the touched hosts' rows: values
    equal to a one-shot recompute over the live backlog for hosts still
    holding URLs, an n_urls = 0 tombstone for a fully drained host, and no
    row at all for untouched hosts (the store carries them forward)."""
    def mk(urls):
        return spark.createDataFrame([(u,) for u in urls], "url string")

    a_urls = ["https://a.org/x/y", "https://a.org/" + "loop/" * 7 + "z"]
    b_urls = ["https://b.org/1", "https://b.org/2"]
    c_urls = ["https://c.org/only"]
    state = tp.trap_hosts(mk(a_urls + b_urls + c_urls))
    b_new = ["https://b.org/" + "r/" * 8 + "t"]
    d_new = ["https://d.org/fresh"]
    got = {r["host"]: r.asDict() for r in tp.update_trap_state(
        state, added=mk(b_new + d_new), removed=mk(c_urls),
        touched_only=True).collect()}
    assert set(got) == {"b.org", "c.org", "d.org"}  # a.org untouched: absent
    drained = got["c.org"]
    assert (drained["n_urls"], drained["n_suspicious"],
            drained["is_trap"]) == (0, 0, 0)
    live = {r["host"]: r.asDict()
            for r in tp.trap_hosts(mk(a_urls + b_urls + b_new
                                      + d_new)).collect()}
    assert got["b.org"] == live["b.org"]
    assert got["d.org"] == live["d.org"]


def test_trap_state_delta_commits_touch_only_wave_hosts(spark, pages,
                                                        tmp_path):
    """Non-compaction waves commit trap_state as a keyed-host delta with
    n_urls = 0 tombstones: wave 0 is the full base, each delta's hosts are
    a subset of that wave's frontier-delta hosts (the wave's enqueues and
    departures — never the whole host dimension), and the composed read
    still drains to empty when the crawl completes."""
    from s_crawler_spark.corpus import seed_search_url
    from s_crawler_spark.plans.wave import crawl
    from s_crawler_spark.sources.store import SnapshotStore
    store = SnapshotStore(str(tmp_path / "td"))
    crawl(spark, pages, seed_search_url(), store, wave_seconds=100,
          max_waves=30, n_shards=4, trap_guard=True)
    snaps = store.snapshots("trap_state")
    assert snaps[0]["mode"] == "full"
    deltas = [s for s in snaps if s["mode"] == "delta"]
    assert deltas, "expected delta trap_state commits on non-compaction waves"
    assert all(s["key"] == ["host"]
               and s["delete_where"] == "n_urls = 0" for s in deltas)
    for s in deltas:
        raw_hosts = {r["host"] for r in
                     store.read_snapshot_raw(spark, "trap_state",
                                             s["wave"]).collect()}
        wave_hosts = {r["host"] for r in
                      store.read_snapshot_raw(spark, "frontier",
                                              s["wave"]).collect()}
        assert raw_hosts <= wave_hosts, s["wave"]
    assert store.read(spark, "trap_state").count() == 0


def test_trap_state_drains_to_empty_on_completion(spark, pages, pages_dict,
                                                  tmp_path):
    """The committed trap_state is maintained by exact integer folds
    (enqueues add, departures subtract). A crawl that runs to completion
    departs every row it enqueued, so the folds must cancel to exactly
    zero — the state table ends empty, not near-empty."""
    from s_crawler_spark.corpus import seed_search_url
    from s_crawler_spark.plans.wave import crawl
    from s_crawler_spark.sources.store import SnapshotStore
    store = SnapshotStore(str(tmp_path / "ts"))
    crawl(spark, pages, seed_search_url(), store, wave_seconds=3600,
          max_waves=10, n_shards=4, trap_guard=True)
    assert store.read(spark, "trap_state").count() == 0


def test_trap_state_seeded_on_resume_matches_recompute(spark, tmp_path):
    """Resuming a pre-trap_state store seeds the counts with one pending
    scan; thereafter the committed state must equal a direct
    trap_hosts(pending backlog) recompute, row for row."""
    from pyspark.sql import functions as F

    from s_crawler_spark import corpus as cp
    from s_crawler_spark.operators import frontier as fr
    from s_crawler_spark.plans.wave import crawl
    from s_crawler_spark.sources.store import SnapshotStore

    trap_urls = [f"https://trap.example/{'loop/' * 7}d{i}" for i in range(4)]
    docs = [dict(doc_id=i, detail_href=u, title=f"Trap doc {i}",
                 journal="J. Traps", has_journal_span=True,
                 date_text="01 Jan 2020", authors=["A B"])
            for i, u in enumerate(trap_urls)]
    seed_html = cp.render_search_page(
        1, [cp.render_card(d) for d in docs], has_next=False)
    pages = spark.createDataFrame(
        [(cp.seed_search_url(), bytearray(seed_html.encode()))],
        "url string, html binary")

    store = SnapshotStore(str(tmp_path / "sr"))
    # phase 1: no trap_guard, stop after the enqueue wave — the store has
    # a pending backlog but no trap_state table
    crawl(spark, pages, cp.seed_search_url(), store,
          wave_seconds=3600, max_waves=2, n_shards=2, trap_guard=False)
    assert store.latest_wave("trap_state") is None
    # phase 2: resume WITH the guard — trap_state is seeded from pending
    crawl(spark, pages, cp.seed_search_url(), store,
          wave_seconds=3600, max_waves=8, n_shards=2, trap_guard=True)

    pending = store.read(spark, "frontier") \
        .filter(F.col("status") == fr.STATUS_PENDING)
    assert pending.count() == 4  # guard withheld the trap host
    want = {r["host"]: r.asDict()
            for r in tp.trap_hosts(pending.select("url")).collect()}
    got = {r["host"]: r.asDict()
           for r in store.read(spark, "trap_state").collect()}
    assert got == want


def test_trap_state_reseeded_when_lagging_frontier(spark, tmp_path):
    """A stored trap_state that LAGS the frontier (guard toggled off for
    some waves, or a crash between the frontier and trap_state commits)
    has drifted from the actual backlog and must be re-seeded on resume,
    not read as-is and folded forward."""
    from pyspark.sql import functions as F

    from s_crawler_spark import corpus as cp
    from s_crawler_spark.operators import frontier as fr
    from s_crawler_spark.plans.wave import crawl
    from s_crawler_spark.sources.store import SnapshotStore

    trap_urls = [f"https://trap.example/{'loop/' * 7}d{i}" for i in range(4)]
    docs = [dict(doc_id=i, detail_href=u, title=f"Trap doc {i}",
                 journal="J. Traps", has_journal_span=True,
                 date_text="01 Jan 2020", authors=["A B"])
            for i, u in enumerate(trap_urls)]
    seed_html = cp.render_search_page(
        1, [cp.render_card(d) for d in docs], has_next=False)
    pages = spark.createDataFrame(
        [(cp.seed_search_url(), bytearray(seed_html.encode()))],
        "url string, html binary")

    store = SnapshotStore(str(tmp_path / "lag"))
    # phase 1: guard ON — trap_state commits the 4 withheld trap URLs
    crawl(spark, pages, cp.seed_search_url(), store,
          wave_seconds=3600, max_waves=8, n_shards=2, trap_guard=True)
    assert store.read(spark, "trap_state").count() == 1  # trap.example
    ts_wave_1 = store.latest_wave("trap_state")
    # phase 2: guard OFF — the trap URLs are admitted, fail (no such
    # pages), and retire at MAX_ATTEMPTS; trap_state is never touched and
    # now lags the frontier with 4 phantom pending URLs
    crawl(spark, pages, cp.seed_search_url(), store,
          wave_seconds=3600, max_waves=12, n_shards=2, trap_guard=False)
    pending = store.read(spark, "frontier") \
        .filter(F.col("status") == fr.STATUS_PENDING)
    assert pending.count() == 0
    assert store.latest_wave("trap_state") == ts_wave_1
    assert store.latest_wave("frontier") > ts_wave_1
    # phase 3: guard ON again — the lagging state must be re-seeded from
    # the (now empty) backlog, not folded forward with 4 ghost URLs
    crawl(spark, pages, cp.seed_search_url(), store,
          wave_seconds=3600, max_waves=20, n_shards=2, trap_guard=True)
    assert store.read(spark, "trap_state").count() == 0


def test_trap_guard_fixpoint_break(spark, tmp_path):
    """A frontier whose every pending host is trap-contained reaches a
    no-progress fixpoint (empty wave delta, no future next_eligible) and the
    crawl loop must STOP there — not burn max_waves empty barriers, each
    committing state (plans/wave.py fixpoint break; ADVICE r3)."""
    from pyspark.sql import functions as F

    from s_crawler_spark import corpus as cp
    from s_crawler_spark.operators import frontier as fr
    from s_crawler_spark.plans.wave import crawl
    from s_crawler_spark.sources.store import SnapshotStore

    # every discovered card URL sits on one host with trap-shaped paths
    # (8 segments > DEPTH_THRESHOLD=6, 7x repeated segment)
    trap_urls = [f"https://trap.example/{'loop/' * 7}d{i}" for i in range(4)]
    docs = [dict(doc_id=i, detail_href=u, title=f"Trap doc {i}",
                 journal="J. Traps", has_journal_span=True,
                 date_text="01 Jan 2020", authors=["A B"])
            for i, u in enumerate(trap_urls)]
    seed_html = cp.render_search_page(
        1, [cp.render_card(d) for d in docs], has_next=False)
    pages = spark.createDataFrame(
        [(cp.seed_search_url(), bytearray(seed_html.encode()))],
        "url string, html binary")

    store = SnapshotStore(str(tmp_path / "fx"))
    crawl(spark, pages, cp.seed_search_url(), store,
          wave_seconds=3600, max_waves=8, n_shards=2, trap_guard=True)

    waves = sorted(r["wave"] for r in store.read(spark, "wave_log")
                   .select("wave").distinct().collect())
    # wave 0: seed admitted+fetched; wave 1: cards enqueued (delta!) but
    # withheld; wave 2: no delta, nothing future-eligible -> break
    assert waves[-1] <= 2 and len(waves) <= 3, waves
    pending = store.read(spark, "frontier") \
        .filter(F.col("status") == fr.STATUS_PENDING)
    assert pending.count() == 4  # rows stay pending => re-admittable later
