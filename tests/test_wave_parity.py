"""North-rule parity gate: the distributed wave job must match the reference
simulator's crawl order, extracted bytes, and URL-seen set on the same seed
(SURVEY.md §7 Phase 6). Includes failure injection + resume-from-checkpoint."""

import pytest
from pyspark.sql import functions as F

from s_crawler_spark.corpus import seed_search_url
from s_crawler_spark.plans.reference_sim import simulate_crawl
from s_crawler_spark.plans.wave import crawl, run_wave
from s_crawler_spark.sources.store import SnapshotStore

CMP_KEYS = ["title", "url", "doi", "journal", "abstract", "download_link",
            "content_md5", "publication_date"]


def assert_parity(rows, sim, ctx=()):
    # ctx: caller context (e.g. which crash-window leg) echoed in failures
    assert len(rows) == len(sim), (len(rows), len(sim), *ctx)
    for got, exp in zip(rows, sim):
        for k in CMP_KEYS:
            assert got[k] == exp[k], (k, got[k], exp[k], *ctx)
        assert list(got["authors"] or []) == exp["authors"], ctx
        assert list(got["keywords"] or []) == list(exp["keywords"] or []), ctx


def test_run_wave_full_parity(pages, pages_dict):
    sim, _ = simulate_crawl(pages_dict, seed_search_url(), max_count=10**9)
    rows = run_wave(pages, seed_search_url()).orderBy("seq").collect()
    assert_parity(rows, sim)


def test_run_wave_max_count_truncation(pages, pages_dict):
    # MAX_COUNT counts collected candidates (incl. within-run dup cards that
    # later fail insert dedup) — the stored count may be below the cap
    sim, _ = simulate_crawl(pages_dict, seed_search_url(), max_count=25)
    rows = run_wave(pages, seed_search_url(), max_count=25).orderBy("seq").collect()
    assert_parity(rows, sim)


def test_run_wave_catalog_anti_join(spark, pages, pages_dict):
    # prior-wave catalog: first 7 DOIs already stored → collection skips them
    sim_full, _ = simulate_crawl(pages_dict, seed_search_url(), max_count=10**9)
    prior = {a["doi"] for a in sim_full[:7]}
    sim, _ = simulate_crawl(pages_dict, seed_search_url(), max_count=10**9,
                            db_dois=prior)
    catalog = spark.createDataFrame(
        [(d, "t", "m") for d in prior], "doi string, content_md5 string, title string")
    rows = run_wave(pages, seed_search_url(), catalog=catalog).orderBy("seq").collect()
    assert_parity(rows, sim)


def test_multiwave_crawl_parity_and_fifo(spark, pages, pages_dict, tmp_path):
    sim, sim_seen = simulate_crawl(pages_dict, seed_search_url(), max_count=10**9)
    store = SnapshotStore(str(tmp_path / "store"))
    # tight politeness budget → many waves; order must still hold
    cat = crawl(spark, pages, seed_search_url(), store,
                wave_seconds=100, max_waves=30, n_shards=4)
    rows = cat.collect()
    assert_parity(rows, sim)
    # final URL-seen set: every simulator-stored article's detail URL is seen
    seen_urls = {r["url"] for r in store.read(spark, "seen").collect()}
    assert {a["url"] for a in sim} <= seen_urls
    # final stored set MATCHES the reference's (north rule): the reference's
    # seen set is its stored-DOI set (database_manager dedup state) — the
    # engine's committed catalog must carry exactly those DOIs, no more
    assert {r["doi"] for r in rows if r["doi"]} == \
        {d for d in sim_seen if d is not None}
    # >1 wave actually ran (politeness budget respected)
    assert store.latest_wave("frontier") >= 1


def test_resume_from_checkpoint(spark, pages, pages_dict, tmp_path):
    """Kill after wave k, restart → identical final state (north rule)."""
    sim, _ = simulate_crawl(pages_dict, seed_search_url(), max_count=10**9)
    store = SnapshotStore(str(tmp_path / "resume"))
    # run only the first 2 waves, then "crash"
    crawl(spark, pages, seed_search_url(), store,
          wave_seconds=100, max_waves=2, n_shards=4)
    assert store.latest_wave("frontier") == 1
    pending_mid = store.read(spark, "frontier") \
        .filter(F.col("status") == "pending").count()
    assert pending_mid > 0  # genuinely interrupted mid-crawl
    # restart: picks up from wave 2
    cat = crawl(spark, pages, seed_search_url(), store,
                wave_seconds=100, max_waves=30, n_shards=4)
    assert_parity(cat.collect(), sim)


def test_resume_parity_at_every_wave_boundary(spark, pages, pages_dict,
                                              tmp_path):
    """Killing the driver after ANY wave and resuming — with the full
    production composition on (adaptive delays + trap guard, i.e. every
    state table incl. the host-dimensioned keyed deltas) — must reproduce
    the uninterrupted crawl exactly: article catalog, terminal frontier
    state, and the learned per-host delays, at every split point across
    the delta chain."""
    sim, _ = simulate_crawl(pages_dict, seed_search_url(), max_count=10**9)
    kw = dict(wave_seconds=100, n_shards=4,
              adaptive_delay=True, trap_guard=True)
    ref_store = SnapshotStore(str(tmp_path / "ref"))
    crawl(spark, pages, seed_search_url(), ref_store, max_waves=30, **kw)
    n_waves = ref_store.latest_wave("frontier") + 1
    assert n_waves >= 3  # several boundaries to split at

    def frontier_state(store):
        return sorted(
            (r["url_hash"], r["status"], r["attempts"], r["robots_ok"])
            for r in store.read(spark, "frontier").collect())

    def policy_state(store):
        return sorted((r["host"], r["crawl_delay_ms"])
                      for r in store.read(spark, "host_policy").collect())

    ref_frontier = frontier_state(ref_store)
    ref_policy = policy_state(ref_store)
    for k in range(1, n_waves):
        st = SnapshotStore(str(tmp_path / f"k{k}"))
        crawl(spark, pages, seed_search_url(), st, max_waves=k, **kw)
        assert st.latest_wave("frontier") == k - 1, k  # really interrupted
        cat = crawl(spark, pages, seed_search_url(), st, max_waves=30, **kw)
        assert_parity(cat.collect(), sim)
        assert frontier_state(st) == ref_frontier, k
        assert policy_state(st) == ref_policy, k


def test_crawl_idempotent_rerun(spark, pages, pages_dict, tmp_path):
    store = SnapshotStore(str(tmp_path / "idem"))
    cat1 = crawl(spark, pages, seed_search_url(), store, wave_seconds=3600,
                 max_waves=10, n_shards=4).collect()
    cat2 = crawl(spark, pages, seed_search_url(), store, wave_seconds=3600,
                 max_waves=10, n_shards=4).collect()
    assert len(cat1) == len(cat2)


def test_failure_injection_and_retry_retirement(spark, pages, pages_dict, tmp_path):
    """Articles whose viewer page is missing can never complete: the
    simulator skips them; the engine must retry then retire them at
    MAX_ATTEMPTS without polluting the catalog."""
    broken = pages.filter(
        ~(F.col("url").contains("/doi/epdf/") & (F.xxhash64("url") % 17 == 0)))
    n_removed = pages.count() - broken.count()
    assert n_removed > 0
    broken_dict = {r["url"]: bytes(r["html"])
                   for r in broken.select("url", "html").collect()}
    sim, _ = simulate_crawl(broken_dict, seed_search_url(), max_count=10**9)
    store = SnapshotStore(str(tmp_path / "fail"))
    cat = crawl(spark, broken.cache(), seed_search_url(), store,
                wave_seconds=3600, max_waves=12, n_shards=4)
    assert_parity(cat.collect(), sim)
    frontier = store.read(spark, "frontier")
    failed = frontier.filter(F.col("status") == "failed")
    assert failed.count() > 0
    assert failed.filter(F.col("attempts") != 3).count() == 0
    assert failed.filter(F.col("last_error").isNull()).count() == 0


def test_fetch_parse_lineage_shape(spark, pages):
    """A3: lineage table carries per-partition fetch/parse counts + kernel
    wall-clock; counts reconcile with the batch, timings are sane."""
    from pyspark.sql import functions as F
    from s_crawler_spark.corpus import seed_search_url
    from s_crawler_spark.operators import dedup as dd
    from s_crawler_spark.plans import wave as wv

    cand = wv.collect_candidates(pages, seed_search_url())
    fresh = dd.first_occurrence(cand, "doi", "seq")
    n = fresh.count()
    fetched, lineage = wv.fetch_parse(pages, fresh, return_lineage=True)
    rows = lineage.collect()
    assert set(lineage.columns) == {"stage", "partition_id", "n_fetched",
                                    "n_parsed", "parse_ms"}
    stages = {r["stage"] for r in rows}
    assert stages == {"detail", "viewer", "payload"}
    by_stage = {}
    for r in rows:
        assert r["partition_id"] >= 0
        if r["stage"] != "payload":
            assert r["parse_ms"] is not None and r["parse_ms"] >= 0
        by_stage.setdefault(r["stage"], [0, 0])
        by_stage[r["stage"]][0] += r["n_fetched"]
        by_stage[r["stage"]][1] += r["n_parsed"]
    assert by_stage["detail"] == [n, n]
    assert by_stage["payload"][1] == fetched.filter(F.col("downloaded")).count()


class JobCountingStore(SnapshotStore):
    """Counts the Spark jobs of each wave: the job ids the status tracker
    knows at a wave's pointer flip minus those it knew at the previous flip
    (the arming flip at wave -1 opens the count, so wave 0 includes the
    crawl's set-up). No crawl test sets a job group, so every job of the
    crawl, the commit pool's included, is ungrouped."""

    def __init__(self, root, sc):
        super().__init__(root)
        self.sc = sc
        self.known: set[int] = set()
        self.wave_jobs: dict[int, int] = {}

    def mark_wave_committed(self, wave):
        # job starts reach the status tracker through the listener bus
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids = set(self.sc.statusTracker().getJobIdsForGroup(None))
        self.wave_jobs[wave] = len(ids - self.known)
        self.known = ids
        super().mark_wave_committed(wave)


@pytest.fixture(scope="module")
def wave_log_store(spark, pages, tmp_path_factory):
    """A composed crawl whose one ledger, ``wave_log``, the tests below
    read: per wave its frontier status counts, the per-partition
    fetch/parse lineage of the three hops, and one commit row per table
    the wave committed. Its store also counts each wave's Spark jobs."""
    store = JobCountingStore(str(tmp_path_factory.mktemp("wl")),
                             spark.sparkContext)
    crawl(spark, pages, seed_search_url(), store, wave_seconds=100,
          max_waves=12, n_shards=4, adaptive_delay=True, trap_guard=True,
          compact_every=2)
    n_waves = store.committed_wave() + 1
    assert n_waves >= 3
    return store, n_waves, store.read(spark, "wave_log").collect()


def test_crawl_commits_lineage_table(spark, wave_log_store):
    """The lineage rows of every wave live in ``wave_log``: one composed
    read gives each hop's per-partition counts beside the wave's status
    counts. The store's first ledger snapshot is full, every later one an
    appended delta."""
    store, n_waves, rows = wave_log_store
    snaps = store.snapshots("wave_log")
    assert [s["wave"] for s in snaps] == list(range(n_waves))
    assert [s["mode"] for s in snaps] == ["full"] + ["delta"] * (n_waves - 1)
    assert not any(s.get("key") for s in snaps)
    assert store.read(spark, "wave_log").columns == \
        ["phase", "part", "metric", "value", "wave"]

    for w in range(n_waves):
        mine = [r for r in rows if r["wave"] == w]
        status = {(r["metric"], r["value"]) for r in mine
                  if r["phase"] == "status"}
        exp = {(r["status"], r["count"]) for r in
               store.read(spark, "frontier", as_of_wave=w)
               .groupBy("status").count().collect()}
        assert status == exp, (w, status, exp)
        assert all(r["part"] is None for r in mine if r["phase"] == "status")

        hops = [r for r in mine if r["phase"] in ("detail", "viewer",
                                                  "payload")]
        assert {r["phase"] for r in hops} == {"detail", "viewer",
                                               "payload"}, w
        for hop in ("detail", "viewer", "payload"):
            parts = {r["part"] for r in hops if r["phase"] == hop}
            assert all(p is not None and p >= 0 for p in parts)
            want = {"n_fetched", "n_parsed"} | (
                set() if hop == "payload" else {"parse_ms"})
            got = [(r["part"], r["metric"]) for r in hops
                   if r["phase"] == hop]
            assert sorted(got) == sorted((p, m) for p in parts
                                         for m in want), (w, hop)
        assert all(r["value"] >= 0 for r in hops)
    assert {r["phase"] for r in rows} == {"status", "commit", "detail",
                                          "viewer", "payload"}


def test_crawl_commits_phase_log(wave_log_store):
    """The per-wave commit timings (reference step-timing analogue) live in
    ``wave_log``: one row per table each wave committed."""
    store, n_waves, rows = wave_log_store
    tables = [t for t in store.tables() if t != "wave_log"]
    for w in range(n_waves):
        mine = [r for r in rows if r["wave"] == w and r["phase"] == "commit"]
        committed = [t for t in tables
                     if any(s["wave"] == w for s in store.snapshots(t))]
        assert sorted(r["metric"] for r in mine) == sorted(committed), w
        assert all(r["part"] is None for r in mine)
        assert all(r["value"] >= 0 for r in mine)


# Spark jobs per wave of the wave_log_store crawl. Lower an entry when a
# change removes jobs; raise one only with a change that adds a job on
# purpose, and say why there. The counts still grow with the delta chain:
# every snapshot read runs one schema-inference job. Wave 0 ran 61 jobs
# when only the wave_log_store tests ran and 62 in a full-suite session.
WAVE_JOB_BUDGET = [62, 78, 100]


def test_crawl_jobs_per_wave_within_budget(wave_log_store):
    """No wave of the composed crawl runs more Spark jobs than its entry
    in WAVE_JOB_BUDGET."""
    store, n_waves, _ = wave_log_store
    jobs = [store.wave_jobs[w] for w in range(n_waves)]
    assert len(jobs) == len(WAVE_JOB_BUDGET), jobs
    assert all(j <= b for j, b in zip(jobs, WAVE_JOB_BUDGET)), \
        (jobs, WAVE_JOB_BUDGET)


def test_adaptive_delay_crawl(spark, pages, pages_dict, tmp_path):
    """AIMD politeness control loop: the adapted per-host delays are wave
    state (committed + resumed), and the final article catalog is still
    byte-identical to the reference simulator — adaptation changes pacing,
    never the result set (seq is discovery-assigned)."""
    from s_crawler_spark.operators import politeness as po

    sim, _ = simulate_crawl(pages_dict, seed_search_url(), max_count=10**9)
    store = SnapshotStore(str(tmp_path / "adapt"))
    # crash after 2 waves, resume: the learned delays must survive
    crawl(spark, pages, seed_search_url(), store, wave_seconds=100,
          max_waves=2, n_shards=4, adaptive_delay=True)
    pol_mid = {r["host"]: r["crawl_delay_ms"]
               for r in store.read(spark, "host_policy").collect()}
    assert pol_mid, "host_policy snapshot missing after wave commit"
    assert all(po.MIN_CRAWL_DELAY_MS <= v <= po.MAX_CRAWL_DELAY_MS
               for v in pol_mid.values())
    # the corpus crawl succeeds on every admitted URL, so every host with
    # outcomes decays below the 1 s robots-default delay
    assert any(v < 1000 for v in pol_mid.values())
    cat = crawl(spark, pages, seed_search_url(), store, wave_seconds=100,
                max_waves=30, n_shards=4, adaptive_delay=True)
    assert_parity(cat.collect(), sim)
    pol_end = {r["host"]: r["crawl_delay_ms"]
               for r in store.read(spark, "host_policy").collect()}
    # monotone decay for all-success hosts: no host got slower
    assert all(pol_end[h] <= d for h, d in pol_mid.items() if h in pol_end)


def test_resume_rescans_discovery_once_per_process(spark, tmp_path):
    """The discovery fingerprint gate is per-process: a resumed crawl()'s
    first wave always re-scans, so corpus changes between crawl() calls —
    including new cards on an EXISTING page URL, which the url-column
    fingerprint cannot see mid-process — are discovered on resume."""
    from s_crawler_spark import corpus as cp
    from s_crawler_spark.sources.store import SnapshotStore

    def mk_pages(n_docs):
        docs = [dict(doc_id=i, detail_href=f"https://h.example/d{i}",
                     title=f"Doc {i}", journal="J", has_journal_span=True,
                     date_text="01 Jan 2020", authors=["A B"])
                for i in range(n_docs)]
        html = cp.render_search_page(
            1, [cp.render_card(d) for d in docs], has_next=False)
        return spark.createDataFrame(
            [(cp.seed_search_url(), bytearray(html.encode()))],
            "url string, html binary")

    store = SnapshotStore(str(tmp_path / "grow"))
    crawl(spark, mk_pages(2), cp.seed_search_url(), store,
          wave_seconds=3600, max_waves=1, n_shards=2)
    assert store.read(spark, "frontier").count() == 2
    # same page URL, new body with 2 extra cards: a fresh crawl() call
    # must pick them up (its first wave scans unconditionally)
    crawl(spark, mk_pages(4), cp.seed_search_url(), store,
          wave_seconds=3600, max_waves=3, n_shards=2)
    urls = {r["url"] for r in store.read(spark, "frontier").collect()}
    assert urls == {f"https://h.example/d{i}" for i in range(4)}


def test_resume_with_changed_rules_rebinds_stored_robots_bits(spark,
                                                              tmp_path):
    """The stored robots_ok bits are valid only for the rules they were
    computed under: a resume whose CURRENT rules differ (detected via the
    rules fingerprint in the frontier snapshot metadata) must re-decorate
    the pending backlog — old pending rows must obey the NEW rules, as
    the pre-stored-bit loop did by re-folding every wave."""
    from pyspark.sql import functions as F

    from s_crawler_spark import corpus as cp
    from s_crawler_spark.operators import frontier as fr
    from s_crawler_spark.operators import politeness as po

    card_urls = [f"https://h.example/blockme/d{i}" for i in range(4)]
    docs = [dict(doc_id=i, detail_href=u, title=f"Doc {i}",
                 journal="J", has_journal_span=True,
                 date_text="01 Jan 2020", authors=["A B"])
            for i, u in enumerate(card_urls)]
    seed_html = cp.render_search_page(
        1, [cp.render_card(d) for d in docs], has_next=False)
    pages2 = spark.createDataFrame(
        [(cp.seed_search_url(), bytearray(seed_html.encode()))],
        "url string, html binary")

    p1 = po.default_host_policy(spark, ["h.example"], crawl_delay_ms=25_000)
    p2 = spark.createDataFrame(
        [("h.example", 25_000, ["/blockme"], [], "ua")],
        po.HOST_POLICY_SCHEMA)

    store = SnapshotStore(str(tmp_path / "rules"))
    # phase 1 under P1 (everything allowed): 4 cards enqueue; the 1-slot
    # budget admits one, whose fetch fails (no detail pages) -> 4 pending
    crawl(spark, pages2, cp.seed_search_url(), store, wave_seconds=1,
          max_waves=1, n_shards=2, host_policy=p1)
    pend1 = store.read(spark, "frontier") \
        .filter(F.col("status") == fr.STATUS_PENDING)
    assert pend1.count() == 4
    attempts1 = sum(r["attempts"] for r in pend1.collect())
    assert attempts1 == 1
    assert all(r["robots_ok"] for r in pend1.collect())
    # phase 2 under P2 (now disallowed): the stored True bits must rebind
    # to False and NO further fetch attempt may happen on those rows
    crawl(spark, pages2, cp.seed_search_url(), store, wave_seconds=1,
          max_waves=8, n_shards=2, host_policy=p2)
    pend2 = store.read(spark, "frontier") \
        .filter(F.col("status") == fr.STATUS_PENDING).collect()
    assert len(pend2) == 4                       # nothing retired/admitted
    assert all(not r["robots_ok"] for r in pend2)
    assert sum(r["attempts"] for r in pend2) == attempts1  # no new fetches


def test_adaptive_policy_delta_commits_are_outcome_hosts(spark, pages,
                                                         pages_dict, tmp_path):
    """Non-compaction waves commit host_policy as a keyed-host delta of
    EXACTLY the hosts with fetch outcomes that wave (only they can change
    delay; untouched hosts ride the manifest), and the composed policy
    equals the legacy all-full commits' policy wave for wave."""
    from pyspark.sql import functions as F
    sim, _ = simulate_crawl(pages_dict, seed_search_url(), max_count=10**9)
    store = SnapshotStore(str(tmp_path / "pd"))
    cat = crawl(spark, pages, seed_search_url(), store, wave_seconds=100,
                max_waves=30, n_shards=4, adaptive_delay=True)
    assert_parity(cat.collect(), sim)
    snaps = store.snapshots("host_policy")
    assert snaps[0]["mode"] == "full"
    deltas = [s for s in snaps if s["mode"] == "delta"]
    assert deltas, "expected delta host_policy commits on non-compaction waves"
    assert all(s["key"] == ["host"] for s in deltas)
    for s in deltas:
        pol_hosts = {r["host"] for r in
                     store.read_snapshot_raw(spark, "host_policy",
                                             s["wave"]).collect()}
        fraw = store.read_snapshot_raw(spark, "frontier", s["wave"])
        # outcome rows = frontier-delta rows that are not pure enqueues
        outcome_hosts = {r["host"] for r in fraw.filter(
            ~((F.col("status") == "pending") & (F.col("attempts") == 0))
        ).collect()}
        assert pol_hosts == outcome_hosts, s["wave"]
    # legacy all-full run produces the identical final policy
    store2 = SnapshotStore(str(tmp_path / "pf"))
    crawl(spark, pages, seed_search_url(), store2, wave_seconds=100,
          max_waves=30, n_shards=4, adaptive_delay=True, compact_every=1)
    pol_delta = {(r["host"], r["crawl_delay_ms"])
                 for r in store.read(spark, "host_policy").collect()}
    pol_full = {(r["host"], r["crawl_delay_ms"])
                for r in store2.read(spark, "host_policy").collect()}
    assert pol_delta == pol_full


def test_snapshot_expiry_bounds_storage_and_resumes(spark, pages, pages_dict,
                                                    tmp_path):
    """expire_keep bounds every state table to `keep` snapshots while the
    per-wave ledger (wave_log) keeps full history, and
    a crash-resume from the expired store still reproduces the reference
    crawl exactly."""
    import os
    sim, _ = simulate_crawl(pages_dict, seed_search_url(), max_count=10**9)
    store = SnapshotStore(str(tmp_path / "exp"))
    # compact_every=1 = all-full commits (the legacy shape this test pins);
    # delta-mode expiry is covered by test_delta_crawl_storage_bounded
    crawl(spark, pages, seed_search_url(), store, wave_seconds=100,
          max_waves=3, n_shards=4, expire_keep=2, compact_every=1)
    n_waves = store.latest_wave("frontier") + 1
    assert n_waves == 3
    for t in ("frontier", "articles", "seen", "candidates", "seen_shards"):
        assert len(store.snapshots(t)) == 2, t
        # expired parquet dirs are really gone (manifest paths are
        # root-relative basenames — stores are relocatable)
        live = {os.path.basename(s["path"]) for s in store.snapshots(t)}
        on_disk = {d for d in os.listdir(tmp_path / "exp" / t)
                   if d.startswith("snap-")}
        assert on_disk == live, t
    assert len(store.snapshots("wave_log")) == n_waves  # ledger untouched
    cat = crawl(spark, pages, seed_search_url(), store, wave_seconds=100,
                max_waves=30, n_shards=4, expire_keep=2, compact_every=1)
    assert_parity(cat.collect(), sim)


def test_delta_crawl_storage_bounded(spark, pages, pages_dict, tmp_path):
    """Delta-mode expiry: with compact_every=2 and expire_keep=1, every
    state table holds at most the newest full + the deltas after it at
    any point, the ledgers keep full history, and a crash-resume from the
    expired store still reproduces the reference crawl exactly."""
    sim, _ = simulate_crawl(pages_dict, seed_search_url(), max_count=10**9)
    store = SnapshotStore(str(tmp_path / "db"))
    crawl(spark, pages, seed_search_url(), store, wave_seconds=100,
          max_waves=3, n_shards=4, expire_keep=1, compact_every=2)
    n_waves = store.latest_wave("frontier") + 1
    assert n_waves == 3
    for t in ("frontier", "articles", "seen", "candidates", "seen_shards"):
        snaps = store.snapshots(t)
        fulls = [s for s in snaps if s["mode"] == "full"]
        assert len(fulls) == 1, t
        # every retained delta is newer than its base full (composable)
        assert all(s["id"] > fulls[0]["id"]
                   for s in snaps if s["mode"] == "delta"), t
        assert len(snaps) <= 2, t  # newest full + at most one delta here
    assert len(store.snapshots("wave_log")) == n_waves  # ledger untouched
    cat = crawl(spark, pages, seed_search_url(), store, wave_seconds=100,
                max_waves=30, n_shards=4, expire_keep=1, compact_every=2)
    assert_parity(cat.collect(), sim)


def test_delta_commits_are_wave_sized(spark, pages, pages_dict, tmp_path):
    """O(wave) state I/O: wave 0 is the full base; later waves commit ONLY
    the change set (outcome rows + that wave's discoveries) — never an
    unchanged row — and reads compose back to the exact reference crawl."""
    sim, _ = simulate_crawl(pages_dict, seed_search_url(), max_count=10**9)
    store = SnapshotStore(str(tmp_path / "delta"))
    cat = crawl(spark, pages, seed_search_url(), store,
                wave_seconds=100, max_waves=30, n_shards=4)
    assert_parity(cat.collect(), sim)
    snaps = store.snapshots("frontier")
    assert len(snaps) >= 3
    assert snaps[0]["mode"] == "full"
    assert all(s["mode"] == "delta" for s in snaps[1:] if s["wave"] % 8)
    total = store.read(spark, "frontier").count()
    delta_rows = 0
    for s in snaps[1:]:
        raw = store.read_snapshot_raw(spark, "frontier", s["wave"])
        n = raw.count()
        assert 0 < n < total, s["wave"]
        # a pending, attempt-0 row discovered in an earlier wave is an
        # UNCHANGED row — deltas must never carry one
        assert raw.filter((F.col("status") == "pending")
                          & (F.col("attempts") == 0)
                          & (F.col("wave") != s["wave"])).count() == 0
        delta_rows += n
        # shard deltas carry only the touched shards
        sh = store.read_snapshot_raw(spark, "seen_shards", s["wave"])
        assert 0 < sh.count() <= 4
    # every admitted row transitions at most MAX_ATTEMPTS times; with the
    # corpus' all-success fetches each URL appears in exactly one delta
    assert delta_rows <= total


def test_delta_shards_compose_and_untouched_blobs_stable(spark, pages,
                                                         pages_dict, tmp_path):
    """Across a delta wave, shards NOT touched by new keys stay
    byte-identical in the composed view, and the composed shard table keeps
    the exact-seen contract (probe ∪ backstop == plain anti-join)."""
    from s_crawler_spark.operators import seen as sn
    store = SnapshotStore(str(tmp_path / "sh"))
    crawl(spark, pages, seed_search_url(), store,
          wave_seconds=100, max_waves=30, n_shards=4)
    snaps = store.snapshots("seen_shards")
    deltas = [s for s in snaps if s["mode"] == "delta"]
    assert deltas, "expected at least one delta shard commit"
    w = deltas[-1]["wave"]
    before = {r["shard_id"]: bytes(r["bits"])
              for r in store.read(spark, "seen_shards",
                                  as_of_wave=w - 1).collect()}
    after = {r["shard_id"]: bytes(r["bits"])
             for r in store.read(spark, "seen_shards").collect()}
    touched = {r["shard_id"] for r in
               store.read_snapshot_raw(spark, "seen_shards", w).collect()}
    untouched_stable = [sid for sid in before
                        if sid not in touched and sid in after]
    for sid in untouched_stable:
        assert before[sid] == after[sid], sid
    # composed filter still gives the exact seen semantics
    seen = store.read(spark, "seen")
    shards = store.read(spark, "seen_shards")
    cand = seen.select("url_hash").unionByName(
        spark.range(1000, 1050).select(F.col("id").alias("url_hash")))
    got = sn.dedup_against_seen(cand, seen, shards)
    exact = cand.join(seen.select("url_hash"), "url_hash", "left_anti")
    assert sorted(r["url_hash"] for r in got.collect()) == \
        sorted(r["url_hash"] for r in exact.collect())


def test_trap_guard_fixpoint_break(spark, tmp_path):
    """A frontier whose whole pending set is trap-contained reaches a
    fixpoint: no admissions, no discoveries, nothing waiting on backoff —
    the loop must stop after one empty wave, not run max_waves barriers."""
    from s_crawler_spark.operators import frontier as fr
    from s_crawler_spark.plans.wave import LOGICAL_T0

    trap_urls = ["https://trap.org/" + "/".join(["loop"] * 9) + f"/p{i}"
                 for i in range(5)]
    cand = spark.createDataFrame(
        [(u, 1, i) for i, u in enumerate(trap_urls)],
        "url string, page_num int, card_idx int")
    store = SnapshotStore(str(tmp_path / "fx"))
    store.commit(fr.enqueue(cand, 0, LOGICAL_T0), "frontier", 0)
    # a corpus with no seed cards: nothing new can ever be discovered
    barren = spark.createDataFrame(
        [("https://elsewhere.org/x", bytearray(b"<html></html>"))],
        "url string, html binary")
    cat = crawl(spark, barren, seed_search_url(), store,
                wave_seconds=3600, max_waves=10, n_shards=4, trap_guard=True)
    assert cat is None or cat.count() == 0  # nothing ever admitted
    assert store.latest_wave("frontier") <= 2  # broke at the fixpoint
    pend = store.read(spark, "frontier").filter(F.col("status") == "pending")
    assert pend.count() == 5  # contained rows stay pending (re-admittable)


def test_fetch_log_incremental_counts_exact(spark, pages, pages_dict, tmp_path):
    """wave_log status counts are maintained incrementally (O(wave)
    arithmetic per wave, no full-frontier groupBy scan) — every committed
    wave's rows must equal a from-scratch recount of the frontier as of
    that wave, including across a crash/resume (the counter re-seeds from
    the committed state, so a crash between the frontier and wave_log
    commits can never leave drift)."""
    sim, _ = simulate_crawl(pages_dict, seed_search_url(), max_count=10**9)
    store = SnapshotStore(str(tmp_path / "fl"))
    # crash after 2 waves, then resume — the resume leg exercises the
    # seed-from-state path, the first leg the from-zero path
    crawl(spark, pages, seed_search_url(), store,
          wave_seconds=100, max_waves=2, n_shards=4)
    cat = crawl(spark, pages, seed_search_url(), store,
                wave_seconds=100, max_waves=30, n_shards=4)
    assert_parity(cat.collect(), sim)
    status = store.read(spark, "wave_log") \
        .filter(F.col("phase") == "status").collect()
    n_waves = store.committed_wave() + 1
    assert n_waves >= 3
    for w in range(n_waves):
        got = {(r["metric"], r["value"]) for r in status if r["wave"] == w}
        exp = {(r["status"], r["count"]) for r in
               store.read(spark, "frontier", as_of_wave=w)
               .groupBy("status").count().collect()}
        assert got == exp, (w, got, exp)


def test_resume_with_different_n_shards_rebuilds_layout(spark, pages,
                                                        pages_dict, tmp_path):
    """Resuming a crawl with a different n_shards must not fold new keys
    into blobs laid out under the old modulus: the wave probes with the
    STORED layout (snapshot meta), then rebuilds the shard table once
    under the new one — and the crawl still matches the reference."""
    sim, _ = simulate_crawl(pages_dict, seed_search_url(), max_count=10**9)
    store = SnapshotStore(str(tmp_path / "ns"))
    crawl(spark, pages, seed_search_url(), store,
          wave_seconds=100, max_waves=2, n_shards=4)
    meta0 = [s["meta"].get("n_shards")
             for s in store.snapshots("seen_shards")]
    assert meta0 and all(m == 4 for m in meta0)
    cat = crawl(spark, pages, seed_search_url(), store,
                wave_seconds=100, max_waves=30, n_shards=8)
    assert_parity(cat.collect(), sim)
    snaps = store.snapshots("seen_shards")
    assert snaps[-1]["meta"].get("n_shards") == 8
    # the final committed layout spans the full new id range
    shards = store.read(spark, "seen_shards")
    assert sorted(r["shard_id"] for r in
                  shards.select("shard_id").distinct().collect()) \
        == list(range(8))


def test_crawl_with_no_matching_seed_terminates_gracefully(spark, tmp_path):
    """A corpus where nothing matches the seed listing: wave 0 commits
    EMPTY state (incl. the status-partitioned frontier) and the loop must
    return None/empty instead of failing to re-read its own snapshot."""
    barren = spark.createDataFrame(
        [("https://elsewhere.org/x", bytearray(b"<html></html>"))],
        "url string, html binary")
    store = SnapshotStore(str(tmp_path / "empty"))
    cat = crawl(spark, barren, seed_search_url(), store,
                wave_seconds=3600, max_waves=5, n_shards=4)
    assert cat is None or cat.count() == 0
    assert store.read(spark, "frontier").count() == 0


def test_adaptation_persists_on_samewave_enqueue_only_wave(spark, tmp_path):
    """A non-compaction wave whose batch is ENTIRELY same-wave enqueues
    (enqueue stamps next_eligible = logical_now, so discoveries are
    admitted immediately) still has fetch outcomes: its AIMD policy
    update must be committed as a keyed delta, not skipped as
    'no outcomes' just because no PRIOR pending row changed."""
    from s_crawler_spark import corpus as cp

    def mk_pages(hosts):
        docs = [dict(doc_id=i, detail_href=f"https://{h}/d{i}",
                     title=f"Doc {i}", journal="J", has_journal_span=True,
                     date_text="01 Jan 2020", authors=["A B"])
                for i, h in enumerate(hosts)]
        html = cp.render_search_page(
            1, [cp.render_card(d) for d in docs], has_next=False)
        return spark.createDataFrame(
            [(cp.seed_search_url(), bytearray(html.encode()))],
            "url string, html binary")

    store = SnapshotStore(str(tmp_path / "samewave"))
    # wave 0 (compaction): d0 on h1 is admitted (budget 1s/1000ms = 1),
    # its detail page is absent so the fetch fails -> attempts=1, backoff
    # pushes next_eligible 2s out, beyond wave 1's logical_now (+1s)
    crawl(spark, mk_pages(["h1.example"]), seed_search_url(), store,
          wave_seconds=1, max_waves=1, n_shards=2, adaptive_delay=True)
    assert store.latest_wave("host_policy") == 0
    pol0 = {r["host"]: r["crawl_delay_ms"]
            for r in store.read(spark, "host_policy").collect()}
    assert pol0 == {"h1.example": 2000}  # failure doubled the default
    # wave 1 (resumed, NOT a compaction wave): the grown corpus adds d1 on
    # a fresh host; d0 is still backoff-delayed, so the wave's batch is
    # exactly the same-wave enqueue {d1} -> n_prior_changed == 0 while a
    # real fetch outcome (failure on h2) exists
    crawl(spark, mk_pages(["h1.example", "h2.example"]), seed_search_url(),
          store, wave_seconds=1, max_waves=2, n_shards=2,
          adaptive_delay=True)
    assert store.latest_wave("host_policy") == 1, \
        "same-wave-enqueue outcomes must commit a policy update"
    pol1 = {r["host"]: r["crawl_delay_ms"]
            for r in store.read(spark, "host_policy").collect()}
    assert pol1["h2.example"] == 2000  # default 1000 doubled by the failure
    assert pol1["h1.example"] == 2000  # no outcome for h1 -> unchanged
    snaps = [s for s in store.snapshots("host_policy") if s["wave"] == 1]
    assert snaps and snaps[0]["mode"] == "delta"


def test_retry_only_wave_keeps_trap_state_incremental_on_resume(
        spark, pages, pages_dict, tmp_path):
    """Per-table wave numbering is sparse: a retry-only wave (failures
    re-fetched, nothing enqueued, nothing terminal) skips the trap_state
    commit because the counts did not move. A resume right after such a
    wave must recognize the stored counts as current — not force an
    O(pending) re-seed plus a full all-hosts rewrite."""
    broken = pages.filter(
        ~(F.col("url").contains("/doi/epdf/") & (F.xxhash64("url") % 17 == 0)))
    broken_dict = {r["url"]: bytes(r["html"])
                   for r in broken.select("url", "html").collect()}
    sim, _ = simulate_crawl(broken_dict, seed_search_url(), max_count=10**9)
    store = SnapshotStore(str(tmp_path / "retryonly"))
    # wave 0: enqueue everything, mixed outcomes; wave 1: ONLY retries
    # (backoff 2s < wave_seconds) -> frontier delta commits, trap_state
    # (and seen/candidates) legitimately stay at wave 0
    broken = broken.localCheckpoint()
    crawl(spark, broken, seed_search_url(), store,
          wave_seconds=3600, max_waves=2, n_shards=4, trap_guard=True)
    assert store.latest_wave("frontier") == 1
    assert store.latest_wave("trap_state") == 0
    assert store.latest_wave("candidates") == 0
    assert store.latest_wave("seen") == 0
    # resume: wave 2 retires the retried rows (attempts=3) -> trap_state
    # commits; with the stored base recognized as current it must be a
    # touched-host keyed DELTA, not a re-seeded full snapshot
    cat = crawl(spark, broken, seed_search_url(), store,
                wave_seconds=3600, max_waves=12, n_shards=4, trap_guard=True)
    assert_parity(cat.collect(), sim)
    snaps = [s for s in store.snapshots("trap_state") if s["wave"] == 2]
    assert snaps and snaps[0]["mode"] == "delta", \
        "resume after a retry-only wave must not re-seed trap_state"


def test_duplicate_dimension_rows_do_not_fan_out(spark, pages, tmp_path):
    """Caller-supplied dimensions with duplicate keys must not multiply
    rows: a host listed twice in host_policy would fan every pending row
    of that host through compose_wave's broadcast left join (duplicate
    batch/result rows persisting as duplicate url_hash keys in the keyed
    frontier delta), and a url listed twice in priority_df would fan each
    discovery the same way. The loop collapses both dimensions once per
    crawl (po.collapse_policy / min-priority groupBy) — pinned by running
    the same crawl with clean and with duplicated dimensions and
    asserting identical catalogs, identical frontier state, and unique
    frontier keys."""
    from pyspark.sql import functions as F

    from s_crawler_spark.corpus import seed_search_url
    from s_crawler_spark.functions import scalars
    from s_crawler_spark.operators import politeness as po

    hosts = [r["host"] for r in pages.select(
        F.parse_url("url", F.lit("HOST")).alias("host")).distinct().collect()]
    pol = po.default_host_policy(spark, hosts, crawl_delay_ms=100)
    pol_dup = pol.unionByName(pol)  # every host twice
    some_urls = [r["url"] for r in pages.select("url").limit(3).collect()]
    pr = spark.createDataFrame([(u, 5) for u in some_urls],
                               "url string, priority int")
    # one url twice with DIFFERENT priorities: min (the strongest) must win
    pr_dup = pr.unionByName(spark.createDataFrame(
        [(some_urls[0], 7)], "url string, priority int"))
    pr_clean = pr_dup.groupBy("url").agg(F.min("priority").alias("priority"))

    kw = dict(wave_seconds=150, max_waves=20, n_shards=4)
    st_a = SnapshotStore(str(tmp_path / "clean"))
    cat_a = crawl(spark, pages, seed_search_url(), st_a,
                  host_policy=pol, priority_df=pr_clean, **kw)
    rows_a = [tuple(r) for r in cat_a.orderBy("seq").collect()]
    st_b = SnapshotStore(str(tmp_path / "dup"))
    cat_b = crawl(spark, pages, seed_search_url(), st_b,
                  host_policy=pol_dup, priority_df=pr_dup, **kw)
    rows_b = [tuple(r) for r in cat_b.orderBy("seq").collect()]
    assert rows_a == rows_b and len(rows_a) > 0

    for st in (st_a, st_b):
        fr_df = st.read(spark, "frontier")
        n, nk = fr_df.count(), fr_df.select("url_hash").distinct().count()
        assert n == nk, (n, nk)  # unique keys — no persisted fan-out
    fa = {(r["url_hash"], r["status"], r["attempts"], r["priority"])
          for r in st_a.read(spark, "frontier").collect()}
    fb = {(r["url_hash"], r["status"], r["attempts"], r["priority"])
          for r in st_b.read(spark, "frontier").collect()}
    assert fa == fb


def test_resume_with_old_filter_rev_rebuilds_and_skips_stale_probe(
        spark, pages, pages_dict, tmp_path):
    """Filter blobs are probe-able only by the kernel revision that built
    them (seen.FILTER_REV): an old-rev blob probed with the current
    kernels yields false NEGATIVES, which bypass the exact backstop and
    re-crawl seen URLs. A resume over a store whose seen_shards metadata
    carries a different (or absent, = rev 1) filter_rev must ignore the
    stored blobs for that wave's probe (exact-only fallback) and
    full-rebuild the shard table under the current revision — and the
    crawl still matches the reference."""
    import json

    sim, _ = simulate_crawl(pages_dict, seed_search_url(), max_count=10**9)
    store = SnapshotStore(str(tmp_path / "rev"))
    crawl(spark, pages, seed_search_url(), store,
          wave_seconds=100, max_waves=2, n_shards=4)
    # simulate a store written by the rev-1 engine: strip filter_rev from
    # every seen_shards snapshot's metadata
    mpath = store._manifest_path("seen_shards")
    man = json.loads(open(mpath).read())
    for s in man["snapshots"]:
        s["meta"].pop("filter_rev", None)
    open(mpath, "w").write(json.dumps(man))

    cat = crawl(spark, pages, seed_search_url(), store,
                wave_seconds=100, max_waves=30, n_shards=4)
    assert_parity(cat.collect(), sim)
    from s_crawler_spark.operators import seen as sn
    snaps = store.snapshots("seen_shards")
    assert snaps[-1]["meta"].get("filter_rev") == sn.FILTER_REV
    # the rebuild was a FULL commit (a delta onto stale-rev blobs would
    # fold new-kernel positions into old-kernel tables)
    rev_commits = [s for s in snaps if s["meta"].get("filter_rev") is not None]
    assert rev_commits and rev_commits[0].get("mode", "full") == "full"
