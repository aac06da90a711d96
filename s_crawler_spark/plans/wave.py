"""The crawl wave — one DataFrame job per wave, plus the resumable wave loop.

Dataflow per wave (north rule): frontier dequeue → bloom dedup →
fetch → parse/extract → link discovery → frontier enqueue, all state
committed as one snapshot set per wave (store.SnapshotStore).

This is the Spark lifecycle equivalent of the reference's three entry points
(SURVEY.md §3): discovery = collect_meta.py's enqueue, drain =
pdf_downloader.py's batch loop, and the combined ``run_wave`` = the
science_crawler_main.py full pass. The reference's per-article sequential
loop (src/driver_manager.py:49-66) becomes three hash joins against ``pages``
with Arrow-vectorized extraction between them.

Plan shape / scale notes (verified via .explain — see BENCH notes):

- column pruning: the dedup/ordering stages never touch ``html``; the binary
  column is only read by the three fetch joins, each projecting it away
  immediately after its extraction kernel.
- the three fetch hops are shuffle hash joins on url; candidates are tiny
  relative to ``pages``, so AQE picks broadcast when the wave is small —
  at 10^10 scale, bucketing ``pages`` by url hash makes them shuffle-free
  on the pages side.
- crawl-order ``seq`` is a composite key (frontier.composite_seq): no global
  window anywhere in the per-wave plan.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timedelta
from time import perf_counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import scalars
from ..operators import dedup as dd
from ..operators import extract as ex
from ..operators import frontier as fr
from ..operators import lineage as lg
from ..operators import politeness as po
from ..operators import seen as sn
from ..operators import traps as tp
from ..sources.store import SnapshotStore

LOGICAL_T0 = datetime(2024, 6, 1)

# the crawl's one ledger, long form: per wave the frontier status counts
# (phase "status"), the three hops' per-partition fetch/parse lineage
# (phase = hop, part = partition id) and each commit's ms (phase "commit")
WAVE_LOG_SCHEMA = "phase string, part int, metric string, value long, wave int"


def _content_fp(df: DataFrame, *cols) -> tuple:
    """Order-insensitive content fingerprint of a column-expression set:
    ``(row_count, sum of per-row pmod'ed xxhash64, bit_xor of the FULL
    64-bit hashes)``. The pmod keeps the ANSI sum far from bigint overflow
    even at 10^8 rows; the xor component keeps all 64 hash bits in play
    (xor has no overflow concern), so a collision needs to match count,
    truncated sum AND full-width xor — rules_fp gates a correctness
    decision (re-binding stored robots_ok bits on resume), which a
    31-bit-sum-only scheme made needlessly collidable. One bounded
    collect."""
    h = F.xxhash64(*cols)
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.pmod(h, F.lit(1 << 31))).alias("h"),
        F.bit_xor(h).alias("x"),
    ).collect()[0]
    return (row["n"],
            int(row["h"]) if row["h"] is not None else None,
            int(row["x"]) if row["x"] is not None else None)


def search_pages(pages: DataFrame, seed_url: str) -> DataFrame:
    """The seed's paginated search listing: same URL minus the startPage
    param (the reference walks the pager links from the seed,
    src/link_collector.py:27-77; the set of pages it can reach is exactly
    this prefix family, so a declarative filter — which Catalyst pushes into
    the parquet scan — replaces the sequential pagination loop)."""
    prefix = seed_url.split("startPage=")[0]
    return pages.filter(F.col("url").startswith(prefix))


def collect_candidates(pages: DataFrame, seed_url: str,
                       wave: int = 0,
                       max_count: int | None = None,
                       catalog: DataFrame | None = None) -> DataFrame:
    """Discovery: search pages → deduped, crawl-ordered candidate cards.

    Matches reference collection semantics (SURVEY.md §2.8 + reference_sim):
    cards in (page_num, card_idx) order; DOI-ful cards already in the stored
    *catalog* are dropped (the collection-time check probes the DB,
    src/link_collector.py:49-55); within-run duplicates survive (they are
    insert-time deduped later); MAX_COUNT truncates after the catalog check,
    in crawl order.
    """
    cards = ex.explode_cards(search_pages(pages, seed_url))
    cards = cards.withColumn(
        "seq", fr.composite_seq(F.lit(wave), F.col("page_num"), F.col("card_idx")))
    if catalog is not None:
        # catalog is O(total): prune it to this wave's card DOIs with a
        # broadcast semi-join (catalog scanned, never shuffled). The
        # extraction output is checkpointed first — the pruned anti-join
        # references it twice (key set + left side)
        cards = cards.localCheckpoint(eager=False)
        cards = dd.pruned_anti_join(
            cards, catalog.filter(F.col("doi").isNotNull()), "doi")
    if max_count is not None:
        # top-k in crawl order (T1): TakeOrdered, not a global sort
        cards = cards.orderBy("seq").limit(max_count)
    return cards


def fetch_parse(pages: DataFrame, batch: DataFrame,
                return_lineage: bool = False):
    """The two-hop fetch + extraction pipeline for one wave's batch.

    batch: candidate rows with (url, seq, title, doi, journal,
    publication_date, authors). Returns one row per candidate with extracted
    fields, ``downloaded`` flag and ``content_md5``; candidates whose hops
    miss keep NULLs and downloaded=false (→ retry bookkeeping). With
    ``return_lineage`` also returns the per-partition lineage table
    (stage, partition_id, n_fetched, n_parsed, parse_ms) for the three
    fetch hops (A3; operators/lineage.py) — the extraction kernels
    self-time per Arrow batch, so lineage costs one small aggregation, not
    a re-run.

    Join shape (the load-bearing scale decision): the ``html`` column must
    NEVER enter a shuffle or a broadcast. An outer join that preserves the
    candidate side cannot broadcast it (Spark builds only the non-preserved
    side), so a naive ``batch.join(pages, 'left')`` shuffles the whole heavy
    corpus per hop. Instead each hop is:

      1. broadcast LEFT-SEMI join of the hop's key set against ``pages`` —
         streams the corpus, keeps only fetched rows, no shuffle;
      2. extraction UDF on the surviving rows, html projected away;
      3. broadcast left join of the (small) extracted table back to the
         batch — preserves unmatched candidates with NULLs.

    Each intermediate is lazily localCheckpoint'ed: the next hop's key set
    and the final join both consume it, and the checkpoint stops the heavy
    extraction from executing once per consumer.
    """
    detail = pages.select(F.col("url"), F.col("html"))
    viewer = pages.select(F.col("url").alias("pdf_page_url"),
                          F.col("html").alias("viewer_html"))
    payload = pages.select(F.col("url").alias("download_link"),
                           F.col("html").alias("payload"))

    batch = batch.localCheckpoint(eager=False)

    # Hop chaining: the viewer hop's key set needs only d1 (the candidate
    # join cannot introduce non-NULL pdf_page_urls), and the payload hop's
    # only v1 — so the three extracted tables chain directly and the batch
    # is decorated by three broadcast left joins in ONE final stage. This
    # removes the two intermediate step-checkpoint rounds the naive
    # batch→step1→step2 ladder pays (a latency tax at small waves; at scale
    # it also halves the number of barrier jobs per wave).
    d1 = lg.detail_extract_timed(
        detail.join(F.broadcast(batch.select("url").distinct()),
                    on="url", how="left_semi")
    ).localCheckpoint(eager=False)  # consumers: v1 keys, final join(, lineage)
    v1 = lg.viewer_extract_timed(
        viewer.join(F.broadcast(
            d1.filter(F.col("pdf_page_url").isNotNull())
            .select("pdf_page_url").distinct()), on="pdf_page_url", how="left_semi")
    ).localCheckpoint(eager=False)  # consumers: p1 keys, final join(, lineage)
    p1 = (
        payload.join(F.broadcast(
            v1.filter(F.col("download_link").isNotNull())
            .select("download_link").distinct()), on="download_link", how="left_semi")
        .select("download_link",
                ex.valid_pdf_content(F.col("payload")).alias("pdf_valid"),
                F.when(ex.valid_pdf_content(F.col("payload")),
                       scalars.content_md5(F.col("payload"))).alias("payload_md5"))
    )
    if return_lineage:  # second consumer (metrics) only exists with lineage
        p1 = p1.localCheckpoint(eager=False)
    result = (
        batch
        .join(F.broadcast(
            d1.select("url", "abstract", "pdf_page_url", "keywords")
            .withColumn("fetched_detail", F.lit(True))), on="url", how="left")
        .withColumn("fetched_detail",
                    F.coalesce(F.col("fetched_detail"), F.lit(False)))
        .join(F.broadcast(v1.select("pdf_page_url", "download_link")),
              on="pdf_page_url", how="left")
        .join(F.broadcast(p1), on="download_link", how="left")
        .withColumn("pdf_valid", F.coalesce(F.col("pdf_valid"), F.lit(False)))
        .withColumn("content_md5", F.col("payload_md5"))
        .drop("payload_md5")
        .withColumn(
            "downloaded",
            F.col("fetched_detail") & F.col("pdf_valid")
            & F.col("pdf_page_url").isNotNull() & F.col("download_link").isNotNull())
        .drop("fetched_detail", "pdf_valid")
        .localCheckpoint(eager=False)
    )
    if not return_lineage:
        return result
    lineage = (
        lg.stage_metrics(d1, "detail", "abstract")
        .unionByName(lg.stage_metrics(v1, "viewer", "download_link"))
        .unionByName(lg.jvm_stage_metrics(p1, "payload", "payload_md5")))
    return result, lineage


ARTICLE_COLS = ["seq", "title", "url", "doi", "journal", "publication_date",
                "authors", "abstract", "keywords", "pdf_page_url",
                "download_link", "downloaded", "content_md5"]


def hydrate_batch(batch: DataFrame, candidates: DataFrame) -> DataFrame:
    """J2 re-hydration in O(wave): decorate the admitted batch with its
    stored card metadata (the reference re-reads article rows from the DB
    before download, pdf_downloader.py:34-46).

    ``candidates`` is the O(total) store table; the batch keys prune it
    with a broadcast left-semi join FIRST, so candidates are *scanned*
    (key filter only), never hash-partitioned — then the wave-sized
    survivor set dedups and broadcast-joins back onto the batch. Joining
    ``candidates.dropDuplicates([...])`` directly would hash-shuffle the
    whole table every wave: dropDuplicates is an aggregation barrier
    Catalyst cannot push the batch join through (explain_audit pins this
    plan: no SortMergeJoin, one wave-sized Exchange).

    ``batch`` must be safe to reference twice (the crawl loop lazily
    localCheckpoints it — it feeds both the key set and the join left
    side)."""
    hydr = (candidates
            .join(F.broadcast(batch.select("url")), on="url", how="left_semi")
            .dropDuplicates(["url"]))
    return batch.select("url", "seq").join(F.broadcast(hydr), on="url", how="left")


def run_wave(pages: DataFrame, seed_url: str,
             max_count: int | None = None,
             catalog: DataFrame | None = None,
             wave: int = 0) -> DataFrame:
    """Single-job full pass (reference science_crawler_main.py §3.1):
    discover → fetch/parse → validate → tiered insert dedup. Returns the
    newly stored articles in crawl order (``seq``)."""
    cand = collect_candidates(pages, seed_url, wave=wave,
                              max_count=max_count, catalog=catalog)
    # fetch_parse returns a checkpointed frame, so the four-way branch in the
    # tiered insert dedup re-reads materialized blocks instead of re-running
    # the discover→fetch→extract pipeline per branch
    fetched = fetch_parse(pages, cand)
    # the reference skips (does not store) articles whose fetch chain failed
    # (process_article returns None → no callback, science_crawler_main.py:242)
    ok = fetched.filter(F.col("downloaded")).select(*ARTICLE_COLS)
    return dd.tiered_insert_dedup(ok, seq_col="seq", catalog=catalog)


# --------------------------------------------------------------------------
# Resumable multi-wave loop (reference §3.2 enqueue + §3.3 drain, decoupled)
# --------------------------------------------------------------------------

def crawl(spark: SparkSession, pages: DataFrame, seed_url: str,
          store: SnapshotStore,
          max_count: int | None = None,
          wave_seconds: int = 3600,
          host_policy: DataFrame | None = None,
          n_shards: int = 8,
          max_waves: int = 50,
          adaptive_delay: bool = False,
          expire_keep: int | None = None,
          trap_guard: bool = False,
          compact_every: int = 8,
          priority_df: DataFrame | None = None) -> DataFrame:
    """Run (or resume) a full crawl to completion. Every wave commits
    frontier / seen / seen_shards / articles snapshots and appends its rows
    to the ``wave_log`` ledger; killing the driver between waves and
    calling crawl() again continues from the last committed wave (pytest:
    tests/test_wave_parity.py::test_resume_from_checkpoint).

    State commits are O(wave), not O(total): each wave writes only its
    *change set* — status transitions + new enqueues for ``frontier``
    (keyed delta on url_hash, the Iceberg MERGE shape and the reference's
    per-row UPDATE sink, src/database_manager.py:105-131), appended rows
    for ``articles``/``seen``/``candidates``, only the *touched* filter
    shards (keyed delta on shard_id; operators/seen.update_shards), and —
    for the host-dimensioned control-loop state — only the hosts the wave
    touched (``host_policy``/``trap_state``: keyed delta on host; drained
    trap hosts ride along as tombstone rows, store delete_where). Reads
    compose base ⊕ deltas merge-on-read (sources/store.py). Every
    ``compact_every``-th wave commits full snapshots instead (compaction —
    bounds the delta chain read cost); ``compact_every=1`` forces the
    all-full legacy behavior. At a 10^10-row frontier with 10^6-row waves
    this removes ~10,000× per-wave write amplification.

    The per-wave *reads* are O(wave)-shaped too: candidate re-hydration
    prunes the O(total) candidates table with a broadcast semi-join on the
    wave's batch keys before any shuffle (candidates are scanned, never
    hash-partitioned), and the wave_log status counts + loop-termination
    counts are maintained incrementally from the wave delta (one seed scan
    per process, then pure O(wave) arithmetic). The only remaining
    full-table operation per wave is the eligible-pending admission scan —
    inherent to frontier dequeue, shuffle-free, and partition-prunable by
    status/next_eligible on an Iceberg deployment.

    ``priority_df`` (url, priority) primes enqueue priorities — e.g.
    linkgraph PageRank via ``priority_from_rank``'s mapping; rows absent
    from it keep the default 0. compose_wave admits by ascending
    (priority, seq), so lower = sooner.

    ``adaptive_delay=True`` turns on the AIMD politeness control loop
    (politeness.adapt_host_policy): after each wave, any host with a failed
    fetch doubles its crawl delay and an all-success host decays to 3/4.
    The adapted policy is wave state — committed as a ``host_policy``
    snapshot and restored on resume, so a killed-and-resumed crawl keeps
    its learned delays; non-compaction waves commit only the adapted rows
    (hosts with outcomes) as a keyed delta. The final article SET is
    unchanged (seq is assigned at discovery and survives any admission
    order); only the per-wave admission pacing shifts. Off by default: the
    reference-parity contract (same politeness budget ⇒ same crawl order)
    is the non-adaptive mode.

    ``trap_guard=True`` withholds this wave's admission from hosts whose
    pending-backlog URL shapes trip the spider-trap heuristics
    (operators/traps.py) — containment is an anti-join on the flagged
    host set; a no-op on corpora without trap-shaped URL spaces. The
    per-host rollup is committed wave state (``trap_state``), maintained
    incrementally from the wave's enqueues/departures (O(wave) feature
    extraction, touched-host fold and commit — never a pending-sized scan
    or an all-hosts rewrite); a resume from a store without the table
    re-seeds it with one scan (and the next commit is full, re-anchoring
    the delta chain).

    ``n_shards`` is the seen-filter shard modulus (pmod of url_hash). Pick
    it from the expected seen-set size: about 2^27 keys per shard keeps
    each blob near 160 MB (operators/seen.py). A resume with a different
    value rebuilds the shard table once under the new modulus; probes
    always use the stored layout until then.

    ``compact_every`` is the compaction cadence in absolute wave numbers,
    so a resumed crawl compacts on the waves an uninterrupted one would.
    Each full commit rewrites the O(total) base once per ``compact_every``
    waves; choose it so that rewrite stays amortised over the deltas in
    between (SCALE.md).

    Returns the final articles catalog in crawl order.
    """
    start_wave = 0
    frontier_df = catalog = seen_df = cand_store = policy_df = None
    trap_state_df = None  # per-host pending-backlog trap counts (trap_guard)
    # False until the STORED trap_state table matches trap_state_df (fresh
    # table, or a re-seed recomputed the counts in memory): the next commit
    # must then be a full snapshot — a keyed delta would compose over a
    # stale/absent base. True after every commit and on an in-sync resume.
    trap_base_ok = False
    # per-status frontier row counts, maintained incrementally (O(wave)
    # arithmetic per wave, seeded by ONE scan on the first wave of this
    # process — see the status-count update below). Keyed by status.
    status_counts: dict[str, int] | None = None
    # a wave's ~10 per-table commits are individually atomic but not
    # jointly: a crash between two of them leaves a TORN wave (e.g.
    # frontier rows marked done whose articles snapshot never landed —
    # rows a latest_wave+1 resume would silently lose). The store's
    # durable wave pointer is flipped only after a wave's LAST commit;
    # roll back any unacknowledged snapshots and re-run the torn wave
    # from the committed boundary (commits are wave-keyed idempotent
    # overwrites, built for exactly this re-run).
    boundary = store.rollback_to_committed()
    if store.committed_wave() is None:
        # first crawl over this store: stamp an external frontier seed's
        # wave, or arm the pointer at −1 on an empty store so even a crash
        # inside wave 0 rolls back cleanly instead of leaving a torn wave
        store.mark_wave_committed(boundary if boundary is not None else -1)
    if store.latest_wave("frontier") is not None:
        # resume from the COMMITTED pointer, not latest_wave: empty-delta
        # waves skip their frontier commit, so a table's newest wave can
        # legitimately lag the last completed wave
        start_wave = boundary + 1
        frontier_df = store.read(spark, "frontier")
        catalog = store.read(spark, "articles")
        seen_df = store.read(spark, "seen")
        cand_store = store.read(spark, "candidates")
        if adaptive_delay and store.latest_wave("host_policy") is not None:
            policy_df = store.read(spark, "host_policy") \
                .localCheckpoint(eager=False)
        if trap_guard:
            ts_wave = store.latest_wave("trap_state")
            # per-table wave numbering is SPARSE (unchanged tables skip
            # their commit), so trap_state legitimately lags the frontier
            # after retry-only waves (n_delta > 0 but no enqueues and no
            # departures — counts unmoved, commit skipped). The counts
            # have actually drifted only if some later wave DID move them
            # without folding (guard toggled off): enqueues commit
            # `candidates` and departures commit `seen`, so those tables'
            # latest waves bound the last count movement. Torn waves are
            # already rolled back above, so no crash window reaches here.
            moved = max((w for w in (store.latest_wave("candidates"),
                                     store.latest_wave("seen"))
                         if w is not None), default=None)
            if ts_wave is not None and (moved is None or ts_wave >= moved):
                trap_state_df = store.read(spark, "trap_state") \
                    .localCheckpoint(eager=False)
                trap_base_ok = True
            else:
                # table absent (earlier crawl() calls ran without the
                # guard) or lagging a wave that moved the counts (guard
                # toggled off for waves whose enqueues/departures were
                # never folded):
                # the stored counts have drifted from the actual backlog,
                # so re-seed from the frontier with ONE O(pending) scan
                # this process — the same recovery rule as status_counts
                # below. Incremental thereafter.
                trap_state_df = tp.update_trap_state(
                    None, added=frontier_df.filter(
                        F.col("status") == fr.STATUS_PENDING)) \
                    .localCheckpoint(eager=False)  # 3 first-wave consumers

    meta_cols = ["url", "title", "doi", "journal", "publication_date", "authors"]
    # every seen_shards snapshot records the layout and kernel it was built
    # under; the probe and the rebuild check below read them back
    shard_meta = {"n_shards": n_shards, "filter_rev": sn.FILTER_REV}

    if host_policy is not None:
        # ONE row per host before anything consumes the dimension:
        # duplicate host rows in a caller-supplied policy would fan out
        # every pending row of that host through compose_wave's broadcast
        # left join and persist as duplicate url_hash keys in the keyed
        # frontier delta (po.collapse_policy). Collapsed once per crawl.
        host_policy = po.collapse_policy(host_policy) \
            .localCheckpoint(eager=False)
    if priority_df is not None:
        # same hazard, url dimension: a duplicate url row (unioned rank
        # sources) would fan each discovery into several frontier rows
        # with the same url_hash. min() keeps the strongest priority
        # (admission sorts ascending) and is deterministic.
        priority_df = priority_df.groupBy("url") \
            .agg(F.min("priority").alias("priority")) \
            .localCheckpoint(eager=False)
    if host_policy is None:
        # north rule: robots.txt rules materialized ONCE as the broadcast
        # host-policy table — parse each host's /robots.txt page from the
        # corpus (group-aware, CRLF-safe; operators/politeness.py). Parsed
        # once per crawl, not per wave: one pages scan, checkpointed.
        robots = pages.filter(F.col("url").endswith("/robots.txt")) \
            .select(F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
                    F.col("html").cast("string").alias("robots_txt"))
        robots_policy = po.parse_robots_policy(robots, default_delay_ms=1000) \
            .localCheckpoint(eager=False)
    else:
        robots_policy = None

    # robots rules are STATIC within one crawl (parsed once above, or the
    # caller's host_policy dimension — adaptation changes only delays), so
    # the admission decision is evaluated ONCE per URL at enqueue and
    # stored on the frontier row (robots_ok). compose_wave then filters
    # the O(pending) admission scan on the stored bit: the rule arrays and
    # the interpreted per-row prefix fold — the dominant per-row CPU of
    # the one remaining full-frontier scan at 10^10 rows — are paid once
    # per URL ever, not once per pending URL per wave.
    rules_src = robots_policy if robots_policy is not None else host_policy
    # fingerprint of the rule content, committed as frontier snapshot
    # metadata (a JSON-stable string): a resume whose CURRENT rules differ
    # from the rules the stored bits were computed under must re-decorate —
    # otherwise old pending rows would keep being admitted under the OLD
    # rules (the pre-stored-bit loop re-evaluated current rules per wave).
    # One bounded collect per crawl(); also warms the robots checkpoint.
    rules_fp = "%s:%s:%s" % _content_fp(
        rules_src, F.col("host"), F.to_json(F.col("robots_disallow")),
        F.to_json(F.col("robots_allow")))
    # rules are STATIC per crawl, so the duplicate-host collapse of the
    # dimension (a host-dimensioned aggregate + exchange) is paid once
    # here, not inside every per-wave decorate_robots_ok call
    rules_collapsed = po.collapse_rules(rules_src).localCheckpoint(eager=False)
    frontier_needs_full = False
    if frontier_df is not None:
        stored_fp = next(
            (s["meta"].get("rules_fp")
             for s in reversed(store.snapshots("frontier"))
             if s.get("meta", {}).get("rules_fp") is not None), None)
        if stored_fp != rules_fp:
            # the rules CHANGED since the bits were stored: re-decorate with
            # the current rules — one O(total) pass per change — and force
            # the next frontier commit FULL so the re-decorated values
            # persist. The re-decorated frame feeds several consumers this
            # wave (eligible_pending scan, the `changed` semi-join, the full
            # record_results commit, the n_future check): checkpoint so the
            # interpreted O(total) robots fold runs once, not per consumer
            frontier_df = po.decorate_robots_ok(
                frontier_df.drop("robots_ok"), rules_collapsed,
                pre_collapsed=True).localCheckpoint(eager=False)
            frontier_needs_full = True

    # discovery runs once per crawl() call. ``pages`` is an IMMUTABLE
    # snapshot within one call (the engine's corpus contract), so after the
    # call's first scan re-running discovery yields nothing new — every
    # card of every scanned page is in candidates/seen, and the catalog
    # anti-join only ever REMOVES candidates — and later waves skip the
    # O(listing) HTML parse outright. Corpus changes arrive via a new
    # crawl() call, whose first wave always scans (idempotent —
    # enqueue-dedup drops re-discoveries; pytest pins the grown-corpus
    # resume). With max_count set every wave re-scans: truncation picks
    # the top-k of the CURRENT candidate set, which changes as the
    # catalog grows.
    discovered = False
    cand_schema = None  # discovery output schema — wave-invariant,
    # resolved once (analysis only) the first time a wave skips

    for wave in range(start_wave, max_waves):
        logical_now = LOGICAL_T0 + timedelta(seconds=wave * wave_seconds)
        # wave 0 (or the first commit after an empty store) writes the base;
        # every compact_every-th wave compacts the delta chain into a fresh
        # full snapshot — absolute wave number, so a resumed crawl compacts
        # on the same schedule it would have uninterrupted
        is_full = (frontier_df is None or frontier_needs_full
                   or compact_every <= 1 or wave % compact_every == 0)

        # --- discovery + enqueue (idempotent: seen-set dedups re-discovery) ---
        if discovered and max_count is None:
            # this call already scanned the (immutable) pages: discovery
            # is a no-op by construction — schema-only empty stand-in
            # (catalog=None path: analysis only, nothing executes)
            if cand_schema is None:
                cand_schema = collect_candidates(pages, seed_url, wave=wave,
                                                 catalog=None).schema
            cand = spark.createDataFrame([], cand_schema)
        else:
            cand = collect_candidates(pages, seed_url, wave=wave,
                                      max_count=max_count, catalog=catalog)
            discovered = True
        cand = cand.withColumn("url_hash", scalars.canonical_url_hash(F.col("url")))
        shards_df = store.read(spark, "seen_shards")
        # the committed shard layout's modulus (None: no table yet, or a
        # legacy store without layout metadata). The probe MUST use the
        # layout the blobs were built under — on a resume with a different
        # n_shards the stored blobs are still exact under their own
        # modulus, and the commit below rebuilds them once under the new one
        stored_meta = next(
            (s["meta"] for s in reversed(store.snapshots("seen_shards"))
             if s.get("meta", {}).get("n_shards") is not None), {})
        stored_ns = stored_meta.get("n_shards")
        if (shards_df is not None
                and stored_meta.get("filter_rev", 1) != sn.FILTER_REV):
            # blobs built by a DIFFERENT kernel revision: probing them
            # with the current kernels would yield false negatives that
            # bypass the exact backstop (duplicate crawls). Fall back to
            # the exact-only probe this wave; the commit below sees
            # shards_df None and full-rebuilds under the current revision.
            shards_df, stored_ns = None, None
        if seen_df is not None:
            fresh = sn.dedup_against_seen(cand, seen_df, shards_df,
                                          key_col="url_hash",
                                          n_shards=stored_ns)
        else:
            fresh = cand
        # already-enqueued (still pending) URLs must not re-enqueue either.
        # cand_store is O(total): broadcast semi-prune (scan, no shuffle);
        # fresh is checkpointed first — inside pruned_anti_join it feeds
        # BOTH the prune key set and the join's left side
        fresh = fresh.localCheckpoint(eager=False)
        if cand_store is not None:
            fresh = dd.pruned_anti_join(fresh, cand_store, "url")
        # within-run duplicate cards enqueue once per URL (the frontier is
        # URL-keyed; the *insert-time* tiered dedup below is doi/md5/title-keyed)
        fresh = dd.first_occurrence(fresh, "url_hash", "seq")
        # checkpointed AGAIN above the anti-join + window: fresh now feeds
        # the enqueue chain AND the metadata projection (new_meta →
        # hydration + candidates commit) — without this, each consumer
        # re-executes the O(total) candidates semi-prune scan and the
        # first-occurrence shuffle per wave
        fresh = fresh.localCheckpoint(eager=False)
        new_frontier_rows = po.decorate_robots_ok(
            fr.enqueue(fresh.drop("url_hash"), wave, logical_now),
            rules_collapsed, pre_collapsed=True)
        if priority_df is not None:
            # rank-primed admission order: authority priorities decorate the
            # new rows via a broadcast dimension join (J4 shape) — never a
            # frontier-sized shuffle (collapsed to one row per url above)
            pr = F.broadcast(priority_df.select(
                "url", F.col("priority").alias("__prio")))
            new_frontier_rows = (
                new_frontier_rows.join(pr, on="url", how="left")
                .withColumn("priority",
                            F.coalesce(F.col("__prio"), F.col("priority")))
                .drop("__prio"))
        # many consumers (pending scan, trap partials, frontier delta,
        # commits): the checkpoint stops the enqueue-time robots fold and
        # discovery plan re-executing per consumer
        new_frontier_rows = new_frontier_rows.localCheckpoint(eager=False)

        frontier_all = (new_frontier_rows if frontier_df is None
                        else frontier_df.unionByName(new_frontier_rows))
        # the candidates table carries card metadata for drain-time
        # re-hydration — the analogue of the reference re-reading article
        # rows from the DB before download (pdf_downloader.py:34-46, J2)
        new_meta = fresh.select(*meta_cols)
        cand_all = (new_meta if cand_store is None
                    else cand_store.unionByName(new_meta))

        # --- politeness-budgeted wave composition + skew salting ---
        pending = fr.eligible_pending(frontier_all, logical_now)
        if trap_guard:
            # spider-trap containment as an admission filter: hosts whose
            # pending URL shapes trip the trap heuristics stop consuming
            # budget this wave (operators/traps.py; rows stay pending, so
            # a host that recovers is re-admitted automatically). The
            # rollup is maintained INCREMENTALLY and at TOUCHED-HOST scope:
            # fold this wave's enqueues onto only the hosts they touch
            # (state pruned by a broadcast semi-join — scanned, never
            # shuffled), then flag = re-flagged touched hosts ∪ the prior
            # state's still-untouched flags. Feature extraction touches
            # only O(wave) rows, the fold only O(touched-host) rows.
            # the wave's enqueue partials feed BOTH the admission flag fold
            # here and the commit fold below — computed and checkpointed
            # once (per-URL feature extraction is the expensive part)
            add_counts = tp.host_trap_counts(new_frontier_rows) \
                .localCheckpoint(eager=False)
            # checkpointed: two consumers (flag rows + touched-host key set)
            pre_touched = tp.update_trap_state(
                trap_state_df, added_counts=add_counts, touched_only=True) \
                .localCheckpoint(eager=False)
            flagged = pre_touched.filter(F.col("is_trap") == 1).select("host")
            if trap_state_df is not None:
                flagged = (trap_state_df.filter(F.col("is_trap") == 1)
                           .select("host")
                           .join(F.broadcast(pre_touched.select("host")),
                                 on="host", how="left_anti")
                           .unionByName(flagged))
            # host-dimensioned build side: broadcast so the O(pending) left
            # never sort-merge-shuffles past the auto-broadcast threshold
            pending = pending.join(F.broadcast(flagged), on="host",
                                   how="left_anti")
        if adaptive_delay and policy_df is not None:
            # adapted state from previous waves (or a resumed snapshot);
            # hosts first seen this wave join at the same default a fresh
            # policy would have given them, then adapt like the rest
            fill_ms = (1000 if robots_policy is not None
                       else po.DEFAULT_CRAWL_DELAY_MS)
            missing = pending.select("host").distinct() \
                .join(policy_df.select("host"), on="host", how="left_anti")
            policy = policy_df.unionByName(
                po.default_host_policy(spark, missing, crawl_delay_ms=fill_ms))
        elif robots_policy is not None:
            # hosts with no robots.txt fall back to a 1 s default delay
            missing = pending.select("host").distinct() \
                .join(robots_policy.select("host"), on="host", how="left_anti")
            policy = robots_policy.unionByName(
                po.default_host_policy(spark, missing, crawl_delay_ms=1000))
        else:
            policy = host_policy
        batch = po.compose_wave(pending, policy, wave_seconds,
                                robots_col="robots_ok")
        # two consumers below (hydration key set + join left side): lazy
        # checkpoint stops the two-window admission plan re-executing
        batch = batch.localCheckpoint(eager=False)

        # --- fetch + parse (re-hydrate card metadata, J2, O(wave)) ---
        batch_meta = hydrate_batch(batch, cand_all)
        # fetch_parse returns a lazily-checkpointed frame (never .cache():
        # cache is logical-plan-keyed and aliases across invocations)
        fetched, lineage = fetch_parse(pages, batch_meta, return_lineage=True)

        ok = fetched.filter(F.col("downloaded")).select(*ARTICLE_COLS)
        new_articles = dd.tiered_insert_dedup(ok, seq_col="seq", catalog=catalog)

        # --- bookkeeping: the wave's O(wave) change set ---
        results = fetched.select(
            scalars.canonical_url_hash(F.col("url")).alias("url_hash"),
            F.col("downloaded").alias("success"),
            F.when(~F.col("downloaded"), F.lit("fetch/parse/validate failed"))
            .alias("error"),
        )
        # changed frontier rows = this wave's enqueues + prior rows with an
        # outcome (batch ⊆ pending, so the semi-join key set IS the batch);
        # record_results leaves unmatched rows untouched, so applying it to
        # the changed subset produces exactly the rows a MERGE would write
        changed = (new_frontier_rows if frontier_df is None
                   else new_frontier_rows.unionByName(
                       frontier_df.join(F.broadcast(results.select("url_hash")),
                                        on="url_hash", how="left_semi")))
        frontier_delta = fr.record_results(changed, results, logical_now) \
            .localCheckpoint(eager=False)  # consumers: commit, seen, count, traps
        # terminal transitions happen exactly once per url_hash (done and
        # retired rows never re-enter a batch), so seen deltas are appends
        seen_delta = frontier_delta \
            .filter(F.col("status") != fr.STATUS_PENDING) \
            .select("url_hash", "url", "wave")

        # --- per-wave status metrics, O(wave), BEFORE the commits:
        # counts(w) = counts(w-1) + this delta's per-status rows − the
        # prior rows it re-states. Every prior row in the delta was PENDING
        # when the wave started (batch ⊆ eligible_pending and new enqueues
        # carry wave == w, so `wave < w` identifies the prior rows), which
        # makes the update exact: a retried row nets 0, a transition moves
        # 1, an enqueue adds 1. Seeded ONCE per process from the frontier
        # (and re-seeded on resume from the actual state, so a crash
        # between the frontier and wave_log commits can never leave
        # drift). Replaces a full frontier groupBy scan per wave — the same
        # O(total)→O(wave) move as the delta commits. The ≤4-row collect
        # is a bounded dimension, and it does double duty: it tells exactly
        # which state tables this wave actually changed (empty deltas skip
        # their commit job outright — a zero-row parquet write still costs
        # a full job), and it materializes frontier_delta's lazy checkpoint
        # so the pooled commit jobs below read it instead of racing to
        # compute it.
        if status_counts is None:
            seed_df = (None if start_wave == 0 else
                       store.read(spark, "frontier", as_of_wave=wave - 1))
            status_counts = {} if seed_df is None else {
                r["status"]: r["count"]
                for r in seed_df.groupBy("status").count().collect()}
        delta_agg = frontier_delta.groupBy("status").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col("wave") < wave, 1).otherwise(0))
            .alias("n_prior"),
            # same-wave enqueues that were NOT fetched this wave: still
            # pending with zero attempts (a fetched one is either terminal
            # or carries attempts >= 1). Prior rows enter the delta only
            # via the results semi-join, so every one of them HAS an
            # outcome — n_outcomes below falls out of the same aggregate.
            F.sum(F.when((F.col("wave") == wave) & (F.col("attempts") == 0),
                         1).otherwise(0)).alias("n_virgin")).collect()
        n_prior_changed = sum(r["n_prior"] for r in delta_agg)
        if n_prior_changed:
            status_counts[fr.STATUS_PENDING] = (
                status_counts.get(fr.STATUS_PENDING, 0) - n_prior_changed)
        for r in delta_agg:
            status_counts[r["status"]] = status_counts.get(r["status"], 0) + r["n"]
        n_delta = sum(r["n"] for r in delta_agg)
        n_enq = n_delta - n_prior_changed        # new frontier enqueues
        n_term = sum(r["n"] for r in delta_agg   # pending-set departures
                     if r["status"] != fr.STATUS_PENDING)
        n_done = sum(r["n"] for r in delta_agg
                     if r["status"] == fr.STATUS_DONE)
        # fetch outcomes this wave = every delta row except the unfetched
        # same-wave enqueues. The batch can be ENTIRELY same-wave rows
        # (enqueue stamps next_eligible = logical_now, so discoveries are
        # admitted immediately) — n_prior_changed alone misses those.
        n_outcomes = n_delta - sum(
            r["n_virgin"] for r in delta_agg
            if r["status"] == fr.STATUS_PENDING)

        # commit this wave's state (checkpoint = resumability) as ONE
        # multi-table transaction: the task list is built single-threaded
        # (all plan construction on the driver), then the per-table writes
        # fan out over a small thread pool — they are independent jobs on
        # disjoint tables whose shared lazy checkpoints are already
        # materialized, and Spark schedules concurrent jobs from one
        # session natively, so the wave's ~9 commit barriers overlap
        # instead of serializing (the dominant small-wave fixed cost).
        # Durability is unchanged: the wave pointer flips only after EVERY
        # task (and the wave_log ledger) lands, so a crash anywhere inside
        # the pool rolls the whole wave back. Each commit is a real
        # materialization boundary, so timing it yields the per-wave phase
        # ledger the reference keeps (science_crawler_main.py:268-281) —
        # under the pool the per-phase walls overlap, so they sum to more
        # than the wave's commit wall.
        tasks: list[tuple[str, DataFrame, dict]] = []

        def commit_task(df, name, **kw):
            tasks.append((name, df, kw))

        seen_all = (seen_delta if seen_df is None
                    else seen_df.unionByName(seen_delta))
        if is_full:
            # compaction: materialize full state (= what merge-on-read
            # would compose) so the next delta chain starts from a fresh
            # base. The frontier base partitions by status (⇔ Iceberg
            # PARTITIONED BY): at a mostly-done 10^10-row frontier the
            # eligible-pending admission scan then reads ONLY the pending
            # files — the last full-table read per wave becomes
            # partition-pruned (audit-pinned PartitionFilters)
            # partition by (status, next_eligible_bucket): the per-wave
            # admission scan prunes done/failed files AND pending files
            # whose rows are backoff/trap-delayed into future buckets
            commit_task(fr.record_results(frontier_all, results, logical_now),
                        "frontier",
                        partition_by=["status", "next_eligible_bucket"],
                        meta={"rules_fp": rules_fp})
            commit_task(new_articles if catalog is None
                        else catalog.unionByName(new_articles), "articles")
            commit_task(seen_all, "seen")
            commit_task(cand_all, "candidates")
            # headroom so the following delta waves can fold keys in place
            commit_task(sn.build_shards(seen_all, n_shards, headroom=2.0),
                        "seen_shards", meta=shard_meta)
        else:
            # empty-delta skips: delta_agg told us exactly what changed.
            # A skipped table keeps its composed view from the last barrier
            # (state identical), and resume restarts from the COMMITTED
            # pointer, not latest_wave — so sparse per-table wave numbering
            # is fine.
            if n_delta:
                commit_task(frontier_delta, "frontier",
                            mode="delta", key=["url_hash"],
                            meta={"rules_fp": rules_fp})
            if n_done:
                commit_task(new_articles, "articles", mode="delta")
            if n_term:
                commit_task(seen_delta, "seen", mode="delta")
            if n_enq:
                commit_task(new_meta, "candidates", mode="delta")
            if shards_df is None or stored_ns != n_shards:
                # no shard table yet (externally seeded store), a layout
                # predating the n_shards metadata, or a resume with a
                # DIFFERENT n_shards: incremental folds would OR keys into
                # blobs laid out under the old modulus (persistent false
                # negatives) — rebuild the whole table once under the
                # current layout, O(seen) exactly once per layout change
                commit_task(sn.build_shards(seen_all, n_shards, headroom=2.0),
                            "seen_shards", meta=shard_meta)
            elif n_term:
                # fold this wave's new keys into ONLY the shards they touch;
                # untouched blobs are carried forward by the manifest, unread
                commit_task(sn.update_shards(shards_df,
                                             seen_delta.select("url_hash"),
                                             seen_all, n_shards,
                                             headroom=2.0),
                            "seen_shards", mode="delta", key=["shard_id"],
                            meta=shard_meta)

        if adaptive_delay:
            # AIMD politeness update from this wave's per-host outcomes;
            # committed as wave state so resume keeps the learned delays.
            # Only hosts WITH an outcome can change their delay, so the
            # non-compaction commit is a keyed delta of exactly those rows
            # (policy pruned by a broadcast semi-join on the wave's hosts —
            # the host dimension is scanned, never shuffled or rewritten).
            # Hosts first seen this wave without an outcome re-derive the
            # same default row next wave, so not persisting them is exact.
            # Compaction waves commit the full policy (incl. robots rows).
            host_results = fetched.select(
                scalars.url_host(F.col("url")).alias("host"),
                F.col("downloaded").alias("success"))
            if is_full or store.latest_wave("host_policy") is None:
                commit_task(po.adapt_host_policy(policy, host_results),
                            "host_policy")
            elif n_outcomes:
                touched = policy.join(
                    F.broadcast(host_results.select("host").distinct()),
                    on="host", how="left_semi")
                commit_task(po.adapt_host_policy(touched, host_results),
                            "host_policy", mode="delta", key=["host"])
            # else: zero fetch outcomes this wave (prior OR same-wave
            # rows) — no host's delay can change, so the delta would be
            # empty; the stored policy stays current
        if trap_guard:
            # fold this wave's enqueues in and its pending-set departures
            # (done/retired rows — retried rows stay pending and stay
            # counted) out of the trap counts. Committed wave state,
            # restored on resume; on non-compaction waves the commit is a
            # keyed delta of ONLY the touched hosts — drained hosts ride
            # along as n_urls = 0 tombstones (MERGE ... THEN DELETE), so
            # the composed read drops them exactly like the full form.
            # Full on compaction waves and whenever the stored base can't
            # anchor a delta (fresh table / re-seeded state).
            departed = frontier_delta.filter(
                F.col("status") != fr.STATUS_PENDING).select("url")
            if is_full or not trap_base_ok:
                commit_task(tp.update_trap_state(
                    trap_state_df, added_counts=add_counts, removed=departed),
                    "trap_state")
            elif n_enq or n_term:
                commit_task(tp.update_trap_state(
                    trap_state_df, added_counts=add_counts, removed=departed,
                    touched_only=True),
                    "trap_state", mode="delta", key=["host"],
                    delete_where="n_urls = 0")
            # else: no enqueues and no departures — no host's counts moved

        # fan the wave's independent per-table writes out over a small
        # thread pool (plan construction all happened above, on the driver
        # thread; the pool threads only run write actions). Any failure
        # propagates before the pointer flip, so the wave rolls back whole.
        def _run_commit(task):
            name, df, kw = task
            t0 = perf_counter()
            store.commit(df, name, wave, **kw)
            return "commit", None, name, int((perf_counter() - t0) * 1000), wave

        # the wave's ledger rows, held on the driver. The lineage (A3)
        # aggregate runs in the pool beside the commit jobs, off the
        # critical path; the payload hop's NULL parse_ms drops out
        ledger = [("status", None, s, n, wave)
                  for s, n in sorted(status_counts.items()) if n]
        with ThreadPoolExecutor(max_workers=min(8, len(tasks) + 1)) as pool:
            lineage_rows = pool.submit(lineage.unpivot(
                lineage.columns[:2], lineage.columns[2:], "metric", "value")
                .dropna().collect)
            ledger += pool.map(_run_commit, tasks)
        ledger += [(*r, wave) for r in lineage_rows.result()]
        # the first ledger snapshot is full, later ones unkeyed deltas:
        # they append, so one read returns the whole crawl
        store.commit(spark.createDataFrame(ledger, WAVE_LOG_SCHEMA), "wave_log",
                     wave, mode="delta" if store.snapshots("wave_log") else "full")
        # the wave's multi-table transaction boundary: every snapshot above
        # becomes durable in ONE atomic pointer flip. Before this line a
        # crash rolls the whole wave back (resume re-runs it); after it the
        # wave can never tear. Must precede expiry — expiring first could
        # drop the base a rollback of this very wave would need to compose.
        store.mark_wave_committed(wave)

        # wave barrier: state views now come from the committed snapshots —
        # but only tables this wave actually changed are re-read (re-reading
        # an unchanged table would rebuild an identical compose plan; the
        # retained view is the same state, so cross-wave lineage stays
        # bounded either way)
        committed_tables = {name for name, _, _ in tasks}
        frontier_needs_full = False  # any forced re-decoration full landed
        if "frontier" in committed_tables:
            frontier_df = store.read(spark, "frontier")
        if "articles" in committed_tables:
            catalog = store.read(spark, "articles")
        if "seen" in committed_tables:
            seen_df = store.read(spark, "seen")
        if "candidates" in committed_tables:
            cand_store = store.read(spark, "candidates")
        if adaptive_delay and "host_policy" in committed_tables:
            # consumed next wave by the missing-host anti-join, the policy
            # union and the commit fold: checkpoint the composed read once
            policy_df = store.read(spark, "host_policy") \
                .localCheckpoint(eager=False)
        if trap_guard:
            trap_base_ok = True
            if "trap_state" in committed_tables:
                # three consumers next wave (prune, flag union, commit
                # fold): checkpoint the composed read once
                trap_state_df = store.read(spark, "trap_state") \
                    .localCheckpoint(eager=False)

        if expire_keep is not None:
            # bound snapshot storage: per state table the store keeps the
            # newest `keep` FULL snapshots + the deltas after the oldest
            # kept full (≤ compact_every−1 of them, each O(wave)). Only the
            # state tables expire — wave_log is the per-wave ledger whose
            # history IS the data, never dropped.
            for t in ("frontier", "articles", "seen", "candidates",
                      "seen_shards", "host_policy", "trap_state"):
                store.expire_snapshots(t, keep=expire_keep)

        n_pending = status_counts.get(fr.STATUS_PENDING, 0)
        if n_pending == 0:
            break
        if n_delta == 0:
            # nothing changed this wave (no discoveries, no admissions —
            # e.g. every eligible host is trap-contained; n_delta comes
            # free from the status-count aggregate). If no pending row
            # is waiting on a future next_eligible either, the state is at a
            # fixpoint: later waves would replay this one forever. Stop
            # instead of burning max_waves empty barriers (rows stay
            # pending, so a corpus change on the next crawl() re-admits).
            n_future = frontier_df.filter(
                (F.col("status") == fr.STATUS_PENDING)
                & (F.col("next_eligible") > F.lit(logical_now).cast("timestamp"))
            ).count()
            if n_future == 0:
                break

    return catalog.orderBy("seq") if catalog is not None else None
