"""Physical-plan audit: dump .explain(formatted) for the load-bearing plans
and grep for the scale invariants the engine promises:

- no Exchange carries the ``html`` column (fetch joins are semi-join +
  broadcast-back; heavy bytes never shuffle);
- parquet scans under dedup/ordering stages prune ``html`` out of ReadSchema;
- the candidate/extracted exchanges are BroadcastExchange, not shuffle;
- filters reach the scan (PushedFilters) for the search-page prefix scan.

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import contextlib
import io
import re
import sys

sys.path.insert(0, ".")


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def exchange_inputs(plan: str) -> list[str]:
    """Input-column strings of every Exchange block in a formatted plan.
    Callers asserting "no Exchange carries X" should ALSO assert the list
    is non-empty when the plan is known to shuffle — an empty scrape makes
    any not-any() check vacuously true."""
    return [re.search(r"Input \[\d+\]: \[([^\]]*)\]", b).group(1)
            for b in re.split(r"\n\n", plan)
            if re.match(r"\(\d+\) Exchange",
                        (b.splitlines()[0] if b.strip() else "").strip())
            and re.search(r"Input \[\d+\]: \[([^\]]*)\]", b)]


def audit(name: str, plan: str, checks: list[tuple[str, bool]]) -> bool:
    print(f"\n=== {name} ===")
    ok = True
    for desc, passed in checks:
        # coerce: short-circuit expressions like `lst and lst[0] < x` yield
        # [] when the list is empty — `ok &= []` would TypeError mid-report
        # exactly when a clean FAIL summary is needed
        passed = bool(passed)
        print(("  PASS " if passed else "  FAIL ") + desc)
        ok &= passed
    return ok


def main(sf_dir: str = "/root/testdata/sf0.001") -> int:
    """Run every audit; 0 when all checks pass. Reuses the active Spark
    session if there is one (tests/test_explain_audit.py)."""
    from pyspark.sql import functions as F

    from s_crawler_spark.corpus import seed_search_url, synthesize_pages
    from s_crawler_spark.plans import wave as wv
    from s_crawler_spark.session import get_spark

    spark = get_spark("explain-audit", master="local[4]", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")

    # audit against a parquet-backed corpus (the real input shape)
    import tempfile
    tmp = tempfile.mkdtemp(prefix="audit_corpus_")
    synthesize_pages(spark, sf_dir).write.mode("overwrite").parquet(tmp)
    pages = spark.read.parquet(tmp)

    all_ok = True

    cand = wv.collect_candidates(pages, seed_search_url())
    p = plan_of(cand)
    # html feeds only the extraction project above the scan; no exchange rows
    # mention it
    exchange_blocks = re.findall(r"Exchange[^\n]*\n(?:.*\n)*?", p)
    all_ok &= audit("collect_candidates", p, [
        ("search-prefix filter pushed to scan (PushedFilters StringStartsWith)",
         "StringStartsWith" in p),
        ("no shuffle exchange in discovery (narrow scan→extract→project)",
         "Exchange hashpartitioning" not in p),
    ])

    wave = wv.run_wave(pages, seed_search_url())
    # run_wave internally checkpoints; explain shows the final segment only.
    p2 = plan_of(wave)
    all_ok &= audit("run_wave (post-checkpoint segment)", p2, [
        ("tiered dedup windows are key-partitioned, no global sort",
         "rangepartitioning" not in p2.lower() or "row_number" not in p2.lower()),
    ])

    fetch_keys = pages.select("url")
    p3 = plan_of(fetch_keys)
    all_ok &= audit("frontier/url-only scans", p3, [
        ("ReadSchema prunes html for url-only projections",
         "html" not in re.search(r"ReadSchema: [^\n]*", p3).group(0)),
    ])

    from s_crawler_spark.functions import scalars
    from s_crawler_spark.operators import seen as sn
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    urls = docs.select(
        "doc_id",
        F.concat(F.lit("https://x.com/"), F.col("doc_id").cast("string")).alias("url"))
    urls = urls.withColumn("url_hash", scalars.canonical_url_hash(F.col("url")))
    shards = sn.build_shards(urls.filter(F.col("doc_id") < 100).select("url_hash"),
                             n_shards=4)
    p5 = plan_of(sn.probe_shards(urls, shards, n_shards=4))
    # every Exchange that carries the filter blob must carry ONLY shard
    # columns (blob crosses once per shard, never per candidate row)
    bits_ok = True
    for block in re.split(r"\n\n", p5):
        first = block.splitlines()[0] if block.strip() else ""
        if re.match(r"\(\d+\) Exchange", first.strip()):
            m_in = re.search(r"Input \[\d+\]: \[([^\]]*)\]", block)
            cols = {c.split("#")[0].strip() for c in m_in.group(1).split(",")} \
                if m_in else set()
            if "bits" in cols and not cols <= {"shard_id", "kind", "bits", "n_items"}:
                bits_ok = False
    all_ok &= audit("probe_shards (cogroup)", p5, [
        ("filter blob never exchanged alongside candidate rows", bits_ok),
        ("probe is a cogroup, not a row join",
         "FlatMapCoGroupsInPandas" in p5 and "SortMergeJoin" not in p5),
    ])

    # W-beyond-broadcast fetch-hop variant (SCALE.md): pages + wave key set
    # both bucketed by url ⇒ the semi join is storage-partitioned — no
    # exchange on EITHER side, html never shuffled, by construction
    wh = tempfile.mkdtemp(prefix="audit_bucketed_")
    spark.sql("DROP TABLE IF EXISTS pages_bucketed")
    spark.sql("DROP TABLE IF EXISTS keys_bucketed")
    pages.write.bucketBy(8, "url").sortBy("url") \
        .option("path", f"{wh}/pages_b").mode("overwrite") \
        .saveAsTable("pages_bucketed")
    pages.select("url").write.bucketBy(8, "url").sortBy("url") \
        .option("path", f"{wh}/keys_b").mode("overwrite") \
        .saveAsTable("keys_bucketed")
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        hop = (spark.table("pages_bucketed")
               .join(spark.table("keys_bucketed"), on="url", how="left_semi")
               .select("url"))
        p6 = plan_of(hop)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    all_ok &= audit("bucketed fetch hop (beyond-broadcast wave sizes)", p6, [
        ("storage-partitioned semi join: no Exchange on either side",
         "Exchange" not in p6),
        ("ReadSchema prunes html out of the url-only hop",
         "html" not in re.search(r"ReadSchema: [^\n]*", p6).group(0)),
    ])

    from s_crawler_spark.operators import textdedup as td
    p4 = plan_of(td.minhash_lsh_pairs(docs))
    all_ok &= audit("minhash_lsh_pairs", p4, [
        ("band bucket join shuffles on (band, sig) hash",
         "hashpartitioning" in p4),
        ("no cartesian/BNLJ anywhere",
         "CartesianProduct" not in p4 and "BroadcastNestedLoopJoin" not in p4),
    ])

    # ---- ANN plans: every bucketed path must be an equi-key join ---------
    from s_crawler_spark.operators import similarity as sim
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"))
    for name, df in [
        ("ann_lsh_topk", sim.lsh_topk(emb, queries, k=5, dim=64)),
        ("ann_ivf_topk", sim.ivf_topk(emb, queries, k=5, dim=64)),
        ("ann_lsh_near_dup", sim.lsh_near_dup_pairs(emb, 0.4, dim=64)),
    ]:
        pa = plan_of(df)
        checks = [
            ("no BroadcastNestedLoopJoin/CartesianProduct in the ANN plan",
             "BroadcastNestedLoopJoin" not in pa
             and "CartesianProduct" not in pa),
        ]
        if name == "ann_lsh_near_dup":
            # candidate generation is id-only: no Exchange may carry an
            # embedding/vector column alongside candidate ids (vectors join
            # back only at the exact-verify step, keyed on a bare id)
            vec_ok = True
            for block in re.split(r"\n\n", pa):
                first = block.splitlines()[0] if block.strip() else ""
                if re.match(r"\(\d+\) Exchange", first.strip()):
                    m_in = re.search(r"Input \[\d+\]: \[([^\]]*)\]", block)
                    cols = {c.split("#")[0].strip()
                            for c in m_in.group(1).split(",")} if m_in else set()
                    if ({"v", "embedding", "a_v", "b_v", "n_vec", "query_vec"}
                            & cols) and ({"t", "b", "a_id", "b_id"} & cols):
                        vec_ok = False
            checks.append(
                ("no Exchange carries vectors alongside candidate keys",
                 vec_ok))
        all_ok &= audit(name, pa, checks)

    # ---- text-pipeline corpus-hygiene plans ------------------------------
    from s_crawler_spark.operators import textstats as tst
    docs_audit = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p_rep = plan_of(tst.repetition_table(docs_audit))
    all_ok &= audit("repetition_table", p_rep, [
        ("shuffle-free (per-doc gram mode is a map-side sort+fold)",
         "Exchange" not in p_rep),
    ])
    bench_docs = docs_audit.filter(F.col("doc_id") % 37 == 1) \
        .select(F.col("doc_id").alias("bench_id"), "text")
    p_con = plan_of(tst.contamination_table(docs_audit, bench_docs))
    all_ok &= audit("contamination_table", p_con, [
        ("gram probe is a broadcast equi-join (no BNLJ, no sort-merge "
         "of the corpus)", "BroadcastHashJoin" in p_con
         and "BroadcastNestedLoop" not in p_con
         and "SortMergeJoin" not in p_con),
        ("no Exchange carries document text (only gram hashes / counts "
         "shuffle)", not any(
             "text" in re.search(r"Input \[\d+\]: \[([^\]]*)\]", b).group(1)
             for b in re.split(r"\n\n", p_con)
             if re.match(r"\(\d+\) Exchange",
                         (b.splitlines()[0] if b.strip() else "").strip())
             and re.search(r"Input \[\d+\]: \[([^\]]*)\]", b))),
    ])

    # ---- politeness admission: two-phase bounded top-k -------------------
    from s_crawler_spark.operators import frontier as frn
    from s_crawler_spark.operators import politeness as po
    cand2 = wv.collect_candidates(pages, seed_search_url())
    from s_crawler_spark.operators import dedup as ddp
    pend = frn.enqueue(ddp.first_occurrence(cand2, "doi", "seq"), wave=0,
                       logical_now="2024-06-01 00:00:00")
    policy = po.default_host_policy(
        spark, pend.select("host").distinct(), crawl_delay_ms=1000)
    p7 = plan_of(po.compose_wave(pend, policy, wave_seconds=60))
    n_windows = len(re.findall(r"\(\d+\) Window", p7))
    all_ok &= audit("compose_wave (two-phase admission)", p7, [
        ("local (host, partition) pre-rank bounds the global window's input "
         "(two Window nodes, __lrank prune present)",
         n_windows >= 2 and "__lrank" in p7),
        ("no global sort in admission", "rangepartitioning" not in p7.lower()),
    ])

    # ---- crawl-loop admission fast path: stored robots bit ---------------
    # the loop evaluates robots ONCE per URL at enqueue (decorate_robots_ok)
    # and compose_wave(robots_col=...) filters the per-wave O(pending) scan
    # on the stored boolean: the plan must carry NO rule arrays and run no
    # per-row prefix fold (interpreted HOF `aggregate` — the cost this path
    # exists to remove), while keeping the two-phase bounded-top-k shape.
    # The decoration is materialized first so its own (one-time) fold does
    # not appear in the per-wave plan under audit.
    pend_bit = po.decorate_robots_ok(pend, policy).localCheckpoint()
    p7b = plan_of(po.compose_wave(pend_bit, policy, wave_seconds=60,
                                  robots_col="robots_ok"))
    all_ok &= audit("compose_wave robots_col (stored-bit admission)", p7b, [
        ("no rule arrays or prefix fold in the per-wave scan",
         "robots_disallow" not in p7b and "robots_allow" not in p7b
         and "aggregate(" not in p7b),
        ("two-phase admission shape preserved",
         len(re.findall(r"\(\d+\) Window", p7b)) >= 2 and "__lrank" in p7b),
    ])

    # ---- J2 batch hydration: O(wave), candidates never shuffle ------------
    # batch stand-in: a narrow (url, seq) frame with no exchanges of its
    # own, so every Exchange in the plan belongs to hydrate_batch itself
    batch_audit = pages.select(
        "url", F.xxhash64("url").alias("seq"))
    cand_meta = cand2.select("url", "title", "doi", "journal",
                             "publication_date", "authors")
    p_hyd = plan_of(wv.hydrate_batch(batch_audit, cand_meta))
    # tree section only (node order = parent-before-child); shuffle
    # Exchanges print as "+- Exchange (n)", broadcasts as BroadcastExchange
    hyd_tree = p_hyd.split("\n\n")[0].splitlines()
    shuf_idx = [i for i, l in enumerate(hyd_tree)
                if re.search(r"[+:]- Exchange \(\d+\)", l)
                or re.match(r"Exchange \(\d+\)", l.strip())]
    semi_idx = [i for i, l in enumerate(hyd_tree) if "LeftSemi" in l]
    all_ok &= audit("hydrate_batch (J2, O(wave))", p_hyd, [
        ("candidates pruned by a broadcast LEFT-SEMI on the batch keys "
         "(scan-side filter, no candidates-sized shuffle join)",
         len(semi_idx) == 1 and "SortMergeJoin" not in p_hyd),
        ("both joins broadcast (semi prune + metadata join-back)",
         sum("BroadcastHashJoin" in l for l in hyd_tree) >= 2),
        ("exactly one shuffle, the wave-sized dedup — ABOVE the semi prune "
         "(its input is the pruned set, never the candidates table)",
         len(shuf_idx) == 1 and semi_idx and shuf_idx[0] < semi_idx[0]),
    ])

    # ---- exact-membership backstops: O(total) side scans, never shuffles --
    def tree_lines(plan: str) -> list[str]:
        return plan.split("\n\n")[0].splitlines()

    def anti_joins_broadcast(plan: str) -> bool:
        lines = [l for l in tree_lines(plan) if "LeftAnti" in l]
        return bool(lines) and all("BroadcastHashJoin" in l for l in lines)

    seen_fixture = urls.filter(F.col("doc_id") < 100).select("url_hash")
    p_seen = plan_of(sn.dedup_against_seen(urls, seen_fixture, shards,
                                           key_col="url_hash"))
    all_ok &= audit("dedup_against_seen (pruned exact backstop)", p_seen, [
        ("seen table pruned by a broadcast LEFT-SEMI on the suspect keys "
         "(scan-side filter — 10^10 seen keys never hash-partitioned)",
         any("LeftSemi" in l for l in tree_lines(p_seen))
         and "SortMergeJoin" not in p_seen),
        ("the exact anti-join builds on the wave-bounded hit set "
         "(BroadcastHashJoin LeftAnti)", anti_joins_broadcast(p_seen)),
    ])

    art_fixture = cand2.select("seq", "doi", "title",
                               F.md5(F.col("title")).alias("content_md5"))
    p_tier = plan_of(ddp.tiered_insert_dedup(art_fixture,
                                             catalog=art_fixture.limit(50)))
    n_semi = sum("LeftSemi" in l for l in tree_lines(p_tier))
    all_ok &= audit("tiered_insert_dedup (pruned catalog blockers)", p_tier, [
        ("all three catalog block-sets (doi/md5/title) are broadcast "
         "semi-prunes — the growing catalog's keys never re-shuffle",
         n_semi >= 3),
        ("every catalog anti-join is a BroadcastHashJoin on the "
         "wave-bounded hit set", anti_joins_broadcast(p_tier)),
    ])

    # ---- near-dup cluster round: id-only star contraction ----------------
    pairs_audit = td.minhash_lsh_pairs(docs_audit, threshold=0.7)
    round_df = td._small_star(td._large_star(
        pairs_audit.select(F.col("a_id").cast("long").alias("u"),
                           F.col("b_id").cast("long").alias("v"))))
    p8 = plan_of(round_df)
    exch_inputs = exchange_inputs(p8)
    all_ok &= audit("near_dup_clusters (one star round)", p8, [
        ("star joins are equi-hash joins (no BNLJ/cartesian anywhere in "
         "the round)", "NestedLoop" not in p8 and "Cartesian" not in p8),
        ("every Exchange carries only node-id columns (u/v/m/mn longs — "
         "no text, no grams, no vectors)",
         bool(exch_inputs) and all(
             not any(w in cols for w in ("text", "grams", "embedding", "sig"))
             for cols in exch_inputs)),
    ])

    # ---- pagerank iteration: (url, long) rows only, equi-joins -----------
    from s_crawler_spark.operators import linkgraph as lg
    from s_crawler_spark.plans import contract as ct
    p9 = plan_of(lg.pagerank(ct._url_edges(spark, sf_dir), n_iter=2))
    all_ok &= audit("url_pagerank (2 iterations)", p9, [
        ("rank propagation is equi-join + hash aggregate only (no "
         "BNLJ/cartesian beyond the bounded 1-row max_page broadcast)",
         "NestedLoop" not in p9.replace(
             "BroadcastNestedLoopJoin BuildRight, Cross", "", 2)
         and "CartesianProduct" not in p9),
        ("no Exchange carries text/html/vectors (iteration state is "
         "(url, rank) pairs)", not any(
             w in cols for w in ("text", "html", "embedding")
             for cols in exchange_inputs(p9))),
    ])

    # ---- rank-fed admission: authority join + two-phase budget -----------
    ranked = lg.priority_from_rank(
        pend, lg.pagerank(ct._url_edges(spark, sf_dir), n_iter=2))
    p10 = plan_of(po.compose_wave(ranked, policy, wave_seconds=10))
    exch10 = exchange_inputs(p10)
    all_ok &= audit("rank_admission (pagerank -> priority -> compose_wave)", p10, [
        ("rank joins onto the frontier as an equi hash join (no "
         "BNLJ/cartesian beyond pagerank's bounded 1-row max_page "
         "broadcast)",
         "NestedLoop" not in p10.replace(
             "BroadcastNestedLoopJoin BuildRight, Cross", "", 2)
         and "CartesianProduct" not in p10),
        ("two-phase admission survives the priority rewrite "
         "(2 Window nodes, __lrank prune)",
         len(re.findall(r"\(\d+\) Window", p10)) >= 2 and "__lrank" in p10),
        ("no Exchange carries html/text (rank state is (url, rank) longs)",
         not any(w in cols for w in ("html", "text", "embedding")
                 for cols in exch10)),
    ])

    # ---- sitemap scan: pushable coarse filter reaches the parquet scan ---
    from s_crawler_spark.operators import sitemap as smp
    p14 = plan_of(smp.ingest_sitemaps(pages, max_depth=1))
    all_ok &= audit("sitemap_ingest (scan pushdown)", p14, [
        ("the .xml suffix filter is pushed to the parquet scan "
         "(StringEndsWith in PushedFilters — rlike alone would not push)",
         "StringEndsWith(url,.xml)" in p14.replace(" ", "")),
    ])
    # depth-2 ingest exercises the index child-pointer hop: the child key
    # set must join as an explicit broadcast so the pages side (with html)
    # never shuffles — pin it like the crawl fetch hops. Disable the
    # auto-broadcast threshold so only the explicit hint can save us.
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        # _checkpoint=False: the operator's lazy checkpoints hide the hop
        # joins from .explain; the seam exposes the identical plan
        p15 = plan_of(smp.ingest_sitemaps(pages, max_depth=2,
                                          _checkpoint=False))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
    exch15 = exchange_inputs(p15)
    all_ok &= audit("sitemap_ingest depth-2 (index child hop)", p15, [
        ("child-pointer hop is a BroadcastHashJoin even with auto-broadcast"
         " off (explicit hint present)",
         "BroadcastHashJoin" in p15 and "SortMergeJoin" not in p15),
        ("no Exchange carries html (pages side never shuffles)",
         not any("html" in cols for cols in exch15)),
    ])

    # ---- corpusops: hierarchical cumsum + domain-bounded quantiles ------
    # Machine-pin the two docstring claims: (a) pack_shards' only
    # single-partition exchange carries BLOCK TOTALS, never corpus rows —
    # the global cumsum is hierarchical; (b) score_quantiles' window input
    # is the score-domain histogram, never the scored corpus.
    from s_crawler_spark.operators import corpusops as co
    from s_crawler_spark.operators import textstats as ts2

    def single_partition_inputs(plan: str) -> list[str]:
        # formatted explain puts the partitioning in the Arguments line,
        # not the node header — match blocks whose header is an Exchange
        # and whose body says SinglePartition
        return [re.search(r"Input \[\d+\]: \[([^\]]*)\]", b).group(1)
                for b in re.split(r"\n\n", plan)
                if re.match(r"\(\d+\) Exchange",
                            (b.splitlines()[0] if b.strip() else "").strip())
                and "SinglePartition" in b
                and re.search(r"Input \[\d+\]: \[([^\]]*)\]", b)]

    tok = ts2.token_stats_table(docs_audit).select("doc_id", "ws_tokens")
    p16 = plan_of(co.pack_shards(tok))
    sp16 = single_partition_inputs(p16)
    sp16_cols = [{c.split("#")[0].strip() for c in s.split(",")} for s in sp16]
    all_ok &= audit("pack_shards (hierarchical two-level cumsum)", p16, [
        ("two Window nodes (per-block local + block-offset)",
         len(re.findall(r"\(\d+\) Window", p16)) >= 2),
        ("the single-partition exchange carries only block totals "
         "(__blk columns), never doc rows",
         bool(sp16_cols) and all(
             cols <= {"__blk", "__blk_tokens"} for cols in sp16_cols)),
        ("no range partitioning (no corpus-sized global sort)",
         "rangepartitioning" not in p16.lower()),
    ])

    scored = docs_audit.select(
        "doc_id", (F.xxhash64("doc_id") % 10000).cast("int")
        .alias("quality_score_bp"))
    p17 = plan_of(co.score_quantiles(scored))
    sp17 = single_partition_inputs(p17)
    sp17_cols = [{c.split("#")[0].strip() for c in s.split(",")} for s in sp17]
    all_ok &= audit("score_quantiles (domain-bounded histogram)", p17, [
        ("the cumulative window's single-partition exchange carries only "
         "histogram rows (score, count) or the total's per-partition "
         "partial sums, never scored corpus rows",
         bool(sp17_cols) and all(
             cols <= {"quality_score_bp", "__n", "sum"}
             for cols in sp17_cols)),
        ("quantile probe joins are broadcast (no corpus-sized shuffle join)",
         "SortMergeJoin" not in p17),
    ])

    # ---- redirect resolution: path doubling over id-only triples ---------
    p13 = plan_of(lg.resolve_redirects(ct._redirect_edges(spark, sf_dir)))
    exch13 = exchange_inputs(p13)
    all_ok &= audit("resolve_redirects (path doubling)", p13, [
        ("every doubling round is an equi hash join (no BNLJ/cartesian)",
         "NestedLoop" not in p13 and "CartesianProduct" not in p13),
        ("no Exchange carries html/text (state is (url, url, hops))",
         not any(w in cols for w in ("html", "text", "embedding")
                 for cols in exch13)),
    ])

    # ---- authority budget: two-phase bounded top-r apportionment ---------
    roll = lg.host_rank_rollup(lg.pagerank(ct._url_edges(spark, sf_dir),
                                           n_iter=2))
    p12 = plan_of(po.apportion_budget(roll, total_budget=100))
    all_ok &= audit("apportion_budget (largest-remainder)", p12, [
        ("leftover top-r is two-phase (local __lrank prune before the "
         "global remainder window)",
         "__lrank" in p12 and len(re.findall(r"\(\d+\) Window", p12)) >= 2),
        ("only the bounded 1-row total joins as a broadcast cross (no "
         "unbounded BNLJ/cartesian)",
         "NestedLoop" not in p12.replace(
             "BroadcastNestedLoopJoin BuildRight, Cross", "", 3)
         and "CartesianProduct" not in p12),
    ])

    # ---- recrawl schedule: ONE url-keyed shuffle of (wave, md5) ----------
    from s_crawler_spark.operators import recrawl as rcw
    hist = ct._fetch_history(spark, sf_dir)
    p11 = plan_of(rcw.recrawl_schedule(hist))
    exch11 = exchange_inputs(p11)
    all_ok &= audit("recrawl_schedule (AIMD freshness fold)", p11, [
        ("no joins at all — one groupBy-url aggregation",
         "Join" not in p11),
        ("no Exchange carries page content (history rows are "
         "(url, wave, md5))", not any(
             w in cols for w in ("html", "text", "embedding")
             for cols in exch11)),
    ])

    # ---- snapshot store merge-on-read compose (delta chain) ---------------
    # The O(total) base must never feed the newest-wins window (which is
    # delta-sized) and must rejoin only via a broadcastable key-only
    # anti-join — the invariants that make per-wave reads O(wave)-shuffled.
    from s_crawler_spark.sources.store import SnapshotStore
    st = SnapshotStore(tempfile.mkdtemp(prefix="audit_store_"))
    fr_aud = pages.select(F.xxhash64("url").alias("url_hash"), "url",
                          F.lit("pending").alias("status"))
    st.commit(fr_aud, "frontier", 0)
    st.commit(fr_aud.limit(20).withColumn("status", F.lit("done")),
              "frontier", 1, mode="delta", key=["url_hash"])
    st.commit(fr_aud.limit(5).withColumn("status", F.lit("failed")),
              "frontier", 2, mode="delta", key=["url_hash"])
    p18 = plan_of(st.read(spark, "frontier"))
    win18 = [re.search(r"Input \[\d+\]: \[([^\]]*)\]", b).group(1)
             for b in re.split(r"\n\n", p18)
             if re.match(r"\(\d+\) Window",
                         (b.splitlines()[0] if b.strip() else "").strip())
             and re.search(r"Input \[\d+\]: \[([^\]]*)\]", b)]
    all_ok &= audit("SnapshotStore.read (merge-on-read compose)", p18, [
        ("every newest-wins Window input carries __ord — the window runs "
         "over the delta union only, never the O(total) base",
         bool(win18) and all("__ord" in cols for cols in win18)),
        ("base rejoins via broadcast anti-join on the key set (no "
         "sort-merge of the base)",
         "BroadcastHashJoin" in p18 and "SortMergeJoin" not in p18),
    ])

    # the frontier's full snapshots partition by (status,
    # next_eligible_bucket) (wave.crawl's compaction commit): the
    # eligible-pending admission scan must reach the base scan with BOTH
    # partition filters, so done/failed files AND pending files whose rows
    # are backoff/trap-delayed into future buckets are never read at a
    # mostly-done 10^10-row frontier
    from s_crawler_spark.operators import frontier as fr_ops
    t_aud = F.lit("2024-06-01 00:00:00").cast("timestamp")
    fr_audp = fr_aud.withColumn("next_eligible", t_aud).withColumn(
        "next_eligible_bucket", fr_ops.eligible_bucket(F.col("next_eligible")))
    st.commit(fr_audp, "frontier_p", 0,
              partition_by=["status", "next_eligible_bucket"])
    st.commit(fr_audp.limit(20).withColumn("status", F.lit("done")),
              "frontier_p", 1, mode="delta", key=["url_hash"])
    p18b = plan_of(fr_ops.eligible_pending(st.read(spark, "frontier_p"),
                                           "2024-06-01 01:00:00"))
    all_ok &= audit("partitioned frontier base (admission pruning)", p18b, [
        ("status filter reaches the base scan as a PartitionFilter "
         "(pending-only file reads for admission)",
         bool(re.search(r"PartitionFilters: \[[^\]]*status[^\]]*pending",
                        p18b))),
        ("the coarse next_eligible bucket rides the same PartitionFilters "
         "(future-delayed pending files pruned too)",
         bool(re.search(r"PartitionFilters: \[[^\]]*next_eligible_bucket",
                        p18b))),
    ])

    # ---- S10 outcome merge: results broadcast, frontier never shuffles ----
    # record_results merges wave-sized outcomes into the O(total) frontier;
    # the hint must hold (results broadcast, zero shuffle Exchanges) or
    # compaction waves reintroduce a full-frontier hash partition.
    fr_full = fr_aud.select(
        "url_hash", "url", "status", F.lit(0).alias("attempts"),
        F.lit(None).cast("string").alias("last_error"),
        F.lit("2024-06-01 00:00:00").cast("timestamp").alias("next_eligible"))
    res_aud = fr_full.filter(F.xxhash64("url") % 7 == 0).select(
        "url_hash", F.lit(False).alias("success"),
        F.lit("timeout").alias("error"))
    p21 = plan_of(frn.record_results(fr_full, res_aud,
                                     "2024-06-01 00:01:00"))
    tree21 = p21.split("\n\n")[0].splitlines()
    shuf21 = [l for l in tree21 if re.search(r"[+:]- Exchange \(\d+\)", l)
              or re.match(r"Exchange \(\d+\)", l.strip())]
    all_ok &= audit("record_results (S10 outcome merge)", p21, [
        ("wave outcomes broadcast onto the frontier (BroadcastHashJoin, "
         "no SortMergeJoin)",
         "BroadcastHashJoin" in p21 and "SortMergeJoin" not in p21),
        ("zero shuffle Exchanges — the O(total) frontier side is never "
         "hash-partitioned by the merge", not shuf21),
    ])

    # ---- streaming admission: broadcast policy join, one host shuffle -----
    # The per-host rate must ride ON the micro-batch rows via a broadcast
    # dimension join BEFORE the host shuffle (round-3 verdict #3: no
    # driver-collected host map pickled into the state closure). The plan
    # shows it directly: one Exchange (the groupBy("host") state shuffle)
    # with the BroadcastHashJoin below it.
    from s_crawler_spark.streaming import frontier_stream as fstr
    sdir = tempfile.mkdtemp(prefix="audit_stream_")
    pages.select(
        "url", F.xxhash64("url").alias("url_hash"),
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.lit(0).alias("priority"), F.lit(0).alias("wave"),
        F.xxhash64("url").alias("seq"), F.lit("pending").alias("status"),
        F.lit(0).alias("attempts"), F.lit(None).cast("string").alias("last_error"),
        F.current_timestamp().alias("next_eligible"),
        F.current_timestamp().alias("discovered_at"),
    ).limit(50).write.parquet(sdir + "/wave=0")
    pol_aud = spark.createDataFrame([("x.org", 500)],
                                    "host string, crawl_delay_ms int")
    p20 = plan_of(fstr.politeness_admission(
        fstr.stream_discoveries(spark, sdir), crawl_delay_ms=1000, burst=3,
        host_policy=pol_aud))
    # classify each Exchange by its input: the host state shuffle carries
    # discovery rows (url present); the only other allowed shuffle is the
    # tiny policy-side most-polite aggregation (host + delay, never url)
    ex20_blocks = []
    for b in re.split(r"\n\n", p20):
        first = (b.splitlines()[0] if b.strip() else "").strip()
        m = re.match(r"\((\d+)\) Exchange", first)
        mi = re.search(r"Input \[\d+\]: \[([^\]]*)\]", b)
        if m and mi:
            ex20_blocks.append(
                (m.group(1),
                 {c.split("#")[0].strip() for c in mi.group(1).split(",")}))
    disc_ex20 = [nid for nid, cols in ex20_blocks if "url" in cols]
    tree20 = p20.split("\n\n")[0].splitlines()
    dix20 = ([i for i, l in enumerate(tree20)
              if re.search(rf"Exchange \({disc_ex20[0]}\)", l)]
             if disc_ex20 else [])
    bj20 = [i for i, l in enumerate(tree20) if "BroadcastHashJoin" in l]
    all_ok &= audit("politeness_admission (stream-static policy join)", p20, [
        ("policy decorates rows via BroadcastHashJoin (no driver host map)",
         len(bj20) == 1 and "SortMergeJoin" not in p20),
        ("exactly ONE Exchange carries discovery rows — the host state "
         "shuffle; any other Exchange is the policy-side host aggregation",
         bool(ex20_blocks) and len(disc_ex20) == 1),
        ("the policy join sits below the state shuffle (rows decorated "
         "before they shuffle)", dix20 and bj20 and dix20[0] < bj20[0]),
        ("stateful operator present (applyInPandasWithState)",
         "FlatMapGroupsInPandasWithState" in p20),
    ])

    # ---- incremental seen-shard maintenance (update_shards) ---------------
    seen_aud = urls.select("url_hash")
    shards_aud = sn.build_shards(
        seen_aud.filter(F.xxhash64("url_hash") % 3 == 0), 8, headroom=2.0)
    newk_aud = seen_aud.filter(F.xxhash64("url_hash") % 3 == 1)
    # the operator lazily localCheckpoints its cogroup stage (two consumers);
    # a checkpoint truncates the visible plan, so neutralize it HERE ONLY to
    # audit the full lineage including the cogroup's exchanges
    from pyspark.sql.classic.dataframe import DataFrame as _DF  # concrete cls
    _orig_lc = _DF.localCheckpoint
    _DF.localCheckpoint = lambda self, eager=True: self
    try:
        p19 = plan_of(sn.update_shards(shards_aud, newk_aud, seen_aud, 8))
    finally:
        _DF.localCheckpoint = _orig_lc
    bits19_ok = True
    exch19 = exchange_inputs(p19)
    for s in exch19:
        cols = {c.split("#")[0].strip() for c in s.split(",")}
        if "bits" in cols and not cols <= {"shard_id", "kind", "bits",
                                           "n_items"}:
            bits19_ok = False
    all_ok &= audit("update_shards (incremental, touched shards only)", p19, [
        ("blob rows never exchanged alongside key rows (cogroup discipline, "
         "same rule as probe_shards)", bool(exch19) and bits19_ok),
        ("touched-shard prune and rebuild prune are broadcast semi-joins "
         "(blob table and seen scan stream past a tiny id set)",
         "BroadcastHashJoin" in p19 and "SortMergeJoin" not in p19),
        ("fold is a cogroup, not a row join",
         "FlatMapCoGroupsInPandas" in p19),
    ])

    # ---- incremental trap state: O(wave) folds, no pending-sized join -----
    # update_trap_state must merge (state ⊎ added ⊎ −removed) as a UNION +
    # map-side-partial hash aggregate: feature extraction and the partial
    # counts happen before the only shuffle (which carries host-keyed
    # partials, never url rows), and there is no join of delta rows against
    # the state table (a host-keyed join would be fine at host dimension,
    # but the union shape is strictly cheaper and what the docstring claims)
    from s_crawler_spark.operators import traps as tp
    state_aud = tp.trap_hosts(urls.filter(F.col("doc_id") % 3 == 0)
                              .select("url"))
    p21 = plan_of(tp.update_trap_state(
        state_aud,
        added=urls.filter(F.col("doc_id") % 3 == 1).select("url"),
        removed=urls.filter(F.col("doc_id") % 3 == 2).select("url")))
    exch21 = exchange_inputs(p21)
    url_in_exch21 = any(
        "url" in {c.split("#")[0].strip() for c in s.split(",")}
        for s in exch21)
    all_ok &= audit("update_trap_state (incremental trap rollup)", p21, [
        ("merge is union + aggregate, never a join",
         "Union" in p21 and "Join" not in p21),
        ("no Exchange carries url rows (features fold map-side; shuffles "
         "are host-dimensioned partials only)",
         bool(exch21) and not url_in_exch21),
    ])

    # ---- touched-only trap fold: the keyed-delta commit form --------------
    # the prior state must enter through a broadcast LEFT-SEMI prune on the
    # wave's touched hosts (the host dimension is scanned past a wave-sized
    # key set — at 10^8 hosts a sort-merge or full-state shuffle here would
    # put the whole dimension back on the wire every wave), and url rows
    # still never reach an Exchange
    # the operator lazily checkpoints its partial-union (two consumers);
    # neutralize HERE ONLY to audit the full lineage (same pattern as the
    # update_shards section above)
    _DF.localCheckpoint = lambda self, eager=True: self
    try:
        p22 = plan_of(tp.update_trap_state(
            state_aud,
            added=urls.filter(F.col("doc_id") % 3 == 1).select("url"),
            removed=urls.filter(F.col("doc_id") % 3 == 2).select("url"),
            touched_only=True))
    finally:
        _DF.localCheckpoint = _orig_lc
    exch22 = exchange_inputs(p22)
    url_in_exch22 = any(
        "url" in {c.split("#")[0].strip() for c in s.split(",")}
        for s in exch22)
    all_ok &= audit("update_trap_state touched_only (delta-commit fold)", p22, [
        ("state pruned by a broadcast semi-join, never sort-merged",
         "BroadcastHashJoin" in p22 and "LeftSemi" in p22
         and "SortMergeJoin" not in p22),
        ("no Exchange carries url rows",
         bool(exch22) and not url_in_exch22),
    ])

    # ---- adaptive policy delta commit: outcome-host prune ----------------
    # the crawl loop's non-compaction host_policy commit prunes the
    # host-dimensioned policy to the wave's outcome hosts BEFORE adapting
    # (plans/wave.py): the prune must be a broadcast semi-join — the
    # policy dimension is scanned past a wave-sized host set, never
    # hash-partitioned. Post-prune joins are wave-sized and unconstrained.
    pol_dim = po.default_host_policy(
        spark, urls.select(F.parse_url(F.col("url"), F.lit("HOST"))
                           .alias("host")).distinct())
    outcomes_aud = urls.limit(50).select(
        F.parse_url(F.col("url"), F.lit("HOST")).alias("host"),
        F.lit(True).alias("success"))
    p23 = plan_of(po.adapt_host_policy(
        pol_dim.join(F.broadcast(outcomes_aud.select("host").distinct()),
                     on="host", how="left_semi"),
        outcomes_aud))
    all_ok &= audit("adapt_host_policy delta (outcome-host prune)", p23, [
        ("policy dimension pruned by a broadcast LEFT-SEMI join",
         bool(re.search(r"BroadcastHashJoin .*LeftSemi", p23))),
    ])

    # ---- duplicated_spans: the occurrence table is computed once ---------
    # (doc_id, pos, gram hash) rows feed both the corpus-wide gram count and
    # the mark join; the operator checkpoints them, so the posexplode → md5
    # scan must not appear in the plan, and both branches must read the
    # SAME checkpointed RDD
    p24 = plan_of(td.duplicated_spans(docs))
    occ_rdds = re.findall(r"Arguments: .*?(\w+RDD\[\d+\]) at localCheckpoint",
                          p24)
    all_ok &= audit("duplicated_spans (occurrence table scanned once)", p24, [
        ("no Generate/posexplode node: the gram scan runs inside the "
         "checkpoint", "Generate" not in p24 and "posexplode" not in p24),
        ("gram count and mark join read one checkpointed RDD",
         len(occ_rdds) >= 2 and len(set(occ_rdds)) == 1),
    ])

    print("\n" + ("ALL CHECKS PASS" if all_ok else "SOME CHECKS FAILED"))
    return 0 if all_ok else 1


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:2]))
