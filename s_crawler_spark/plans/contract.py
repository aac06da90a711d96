"""Driver contract: named queries + exact DuckDB oracles.

Every operator family from SURVEY.md §2 (and the training-data pipeline
additions) is exposed as a ``(spark, sf_dir) -> DataFrame`` callable with a
matching ANSI/DuckDB SQL oracle over the same parquet tables. The synthetic
crawl corpus (corpus.py) derives every page deterministically from
``documents.parquet`` by pure arithmetic, so the oracle can reconstruct the
*expected extraction output* without parsing any HTML — the Spark side earns
its values by actually running the extraction kernels / crawl plan over the
rendered pages; the SQL side recomputes them from first principles.

Column parity rules honored throughout:
- identical column names on both sides (driver sorts columns by name);
- no raw floats where an integer encoding is exact (ratios are basis points,
  jaccard is (n_inter, n_union)); floats only where unavoidable (cosine),
  rounded to 4dp with data-verified gaps around every threshold/rank cut.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..corpus import (CARDS_PER_PAGE, DUP_CARRYOVER, MONTHS, SUBJECTS,
                      seed_search_url, synthesize_pages)
from ..functions import scalars
from ..functions.texthash import MERSENNE_31, perm_coeffs, sql_hash60
from ..operators import corpusops as co
from ..operators import linkgraph as lg
from ..operators import dedup as dd
from ..operators import frontier as fr
from ..operators import multimodal as mm
from ..operators import politeness as po
from ..operators import recrawl as rc
from ..operators import similarity as sim
from ..operators import textdedup as td
from ..operators import textstats as ts
from ..plans import wave as wv

LOGICAL_NOW = "2024-06-01 00:00:00"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def _pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    return synthesize_pages(spark, sf_dir)


# --------------------------------------------------------------------------
# Spark-side derived-doc expressions (inputs for scalar-kernel queries; the
# same arithmetic as corpus.derive_doc, used only to *construct inputs* —
# queries that test extraction run the real kernels over rendered HTML)
# --------------------------------------------------------------------------

def _derived(docs: DataFrame) -> DataFrame:
    d = F.col("doc_id")
    w = F.split(F.col("text"), " ")
    doi = F.concat(F.lit("10.1126/scrawl."), d.cast("string"))
    title = F.concat(F.lit("Study "), d.cast("string"), F.lit(": "),
                     F.concat_ws(" ", F.slice(w, 1, 6)))
    host = F.when(d % 10 < 7, F.lit("www.science.org")).otherwise(
        F.concat(F.lit("mirror"), (d % 5).cast("string"), F.lit(".science.org")))
    detail_url = F.concat(F.lit("https://"), host, F.lit("/doi/"), doi)
    months = F.array(*[F.lit(m) for m in MONTHS])
    day1 = (F.lit(10) + d % 18).cast("int")
    day2 = (d % 28 + 1).cast("int")
    month = (d % 12 + 1).cast("int")
    year = (F.lit(2010) + d % 15).cast("int")
    date_text = (
        F.when(d % 7 <= 3, F.concat(F.lpad(day1.cast("string"), 2, "0"), F.lit(" "),
                                    F.element_at(months, month), F.lit(" "),
                                    year.cast("string")))
        .when(d % 7 <= 5, F.concat(year.cast("string"), F.lit("-"),
                                   F.lpad(month.cast("string"), 2, "0"), F.lit("-"),
                                   F.lpad(day2.cast("string"), 2, "0")))
        .otherwise(F.concat(F.lit("Vol "), d.cast("string"))))
    download_link = F.concat(
        F.lit("https://www.science.org/doi/pdf/"), doi, F.lit("?download=true"))
    return docs.select(
        "doc_id", "text", "lang", "n_chars",
        doi.alias("doi"), title.alias("title"), host.alias("host"),
        detail_url.alias("url"), date_text.alias("date_text"),
        download_link.alias("download_link"),
    )


# --------------------------------------------------------------------------
# SQL oracle building blocks
# --------------------------------------------------------------------------

MONTHS_SQL = "['" + "','".join(MONTHS) + "']"
SUBJECTS_SQL = "['" + "','".join(SUBJECTS) + "']"
P = CARDS_PER_PAGE
C = DUP_CARRYOVER

# fully-derived article attributes, straight from corpus.derive_doc arithmetic
D_CTE = f"""
d AS (
  SELECT
    doc_id, lang, text, n_chars,
    string_split(text, ' ') AS words,
    '10.1126/scrawl.' || doc_id AS doi,
    'Study ' || doc_id || ': ' || array_to_string((string_split(text, ' '))[1:6], ' ') AS title,
    CASE WHEN doc_id % 10 < 7 THEN 'www.science.org'
         ELSE 'mirror' || (doc_id % 5) || '.science.org' END AS host,
    'https://' || (CASE WHEN doc_id % 10 < 7 THEN 'www.science.org'
         ELSE 'mirror' || (doc_id % 5) || '.science.org' END)
      || '/doi/10.1126/scrawl.' || doc_id AS url,
    CASE WHEN doc_id % 3 = 0 THEN 'Science Advances' ELSE 'Science' END AS journal,
    CASE WHEN doc_id % 7 <= 3 THEN
           lpad((10 + doc_id % 18)::VARCHAR, 2, '0') || ' ' || {MONTHS_SQL}[(doc_id % 12 + 1)::INT] || ' ' || (2010 + doc_id % 15)
         WHEN doc_id % 7 <= 5 THEN
           (2010 + doc_id % 15) || '-' || lpad((doc_id % 12 + 1)::VARCHAR, 2, '0') || '-' || lpad((doc_id % 28 + 1)::VARCHAR, 2, '0')
         ELSE 'Vol ' || doc_id END AS date_text,
    CASE WHEN doc_id % 7 <= 3 THEN make_timestamp((2010 + doc_id % 15)::BIGINT, (doc_id % 12 + 1)::BIGINT, (10 + doc_id % 18)::BIGINT, 0, 0, 0)
         WHEN doc_id % 7 <= 5 THEN make_timestamp((2010 + doc_id % 15)::BIGINT, (doc_id % 12 + 1)::BIGINT, (doc_id % 28 + 1)::BIGINT, 0, 0, 0)
         ELSE NULL END AS publication_date,
    CASE doc_id % 4
         WHEN 0 THEN NULL
         WHEN 1 THEN 'Author ' || doc_id || 'A'
         WHEN 2 THEN 'Author ' || doc_id || 'A, Author ' || doc_id || 'B'
         ELSE 'Author ' || doc_id || 'A, Author ' || doc_id || 'B, Author ' || doc_id || 'C' END AS authors_csv,
    'Abstract ' || doc_id || '. ' || array_to_string((string_split(text, ' '))[1:12], ' ') AS abstract,
    CASE WHEN doc_id % 3 = 0 THEN NULL
         WHEN doc_id % 3 = 1 THEN {SUBJECTS_SQL}[(doc_id % 7)::INT + 1]
         ELSE {SUBJECTS_SQL}[(doc_id % 7)::INT + 1] || ', '
              || {SUBJECTS_SQL}[((doc_id % 7 + 1 + doc_id % 6) % 7)::INT + 1] END AS keywords_csv,
    'https://www.science.org/doi/epdf/10.1126/scrawl.' || doc_id AS pdf_page_url,
    'https://www.science.org/doi/pdf/10.1126/scrawl.' || doc_id || '?download=true' AS download_link,
    md5('%PDF-1.4' || chr(10) || 'scrawl 10.1126/scrawl.' || doc_id || ' ' || repeat('x', (doc_id % 1500)::INT)) AS content_md5,
    doc_id // {P} AS page_num,
    (CASE WHEN doc_id // {P} > 0 THEN {C} ELSE 0 END) + doc_id % {P} AS card_idx,
    (doc_id // {P}) * {1 << fr.SEQ_PAGE_SHIFT} + (CASE WHEN doc_id // {P} > 0 THEN {C} ELSE 0 END) + doc_id % {P} AS seq
  FROM documents
)
"""

# every card occurrence on the search pages: own slot + the carried-over
# re-listing of each page's last {C} cards on the following page
CARDS_CTE = f"""
cards AS (
  SELECT page_num, card_idx, seq, title, url, doi, journal, publication_date, authors_csv
  FROM d
  UNION ALL
  SELECT page_num + 1 AS page_num,
         (doc_id % {P}) - ({P} - {C}) AS card_idx,
         (page_num + 1) * {1 << fr.SEQ_PAGE_SHIFT} + (doc_id % {P}) - ({P} - {C}) AS seq,
         title, url, doi, journal, publication_date, authors_csv
  FROM d
  WHERE doc_id % {P} >= {P} - {C}
    AND page_num < (SELECT max(doc_id) FROM documents) // {P}
)
"""

ARTICLE_OUT = ("seq, doi, title, url, journal, publication_date, "
               "authors_csv, abstract, keywords_csv, pdf_page_url, "
               "download_link, content_md5")


# ==========================================================================
# Crawl-engine queries (run real kernels over rendered HTML; SURVEY.md §2)
# ==========================================================================

def q_crawl_catalog(spark, sf_dir):
    """Flagship: one full crawl wave — discover → fetch → parse → dedup →
    store (S1-S8, P1-P11, J1-J3, §2.8 ordering)."""
    pages = _pages(spark, sf_dir)
    cat = wv.run_wave(pages, seed_search_url())
    return cat.select(
        "seq", "doi", "title", "url", "journal", "publication_date",
        scalars.authors_to_csv(F.col("authors")).alias("authors_csv"),
        "abstract",
        scalars.authors_to_csv(F.col("keywords")).alias("keywords_csv"),
        "pdf_page_url", "download_link", "content_md5")


SQL_CRAWL_CATALOG = f"WITH {D_CTE} SELECT {ARTICLE_OUT} FROM d"


def q_search_cards(spark, sf_dir):
    """P1/S2: card extraction with page/slot provenance, duplicates and all
    (the raw posexploded extraction output, pre-dedup)."""
    from ..operators import extract as ex
    pages = _pages(spark, sf_dir)
    cards = ex.explode_cards(wv.search_pages(pages, seed_search_url()))
    return cards.select(
        "page_num", "card_idx", "title", "url", "doi", "journal",
        "publication_date",
        scalars.authors_to_csv(F.col("authors")).alias("authors_csv"))


SQL_SEARCH_CARDS = (
    f"WITH {D_CTE}, {CARDS_CTE} SELECT page_num, card_idx, title, url, doi, "
    "journal, publication_date, authors_csv FROM cards")


def q_cards_dedup_first(spark, sf_dir):
    """A5/J1: first-occurrence dedup by DOI in crawl order (§2.8 — keeps the
    earliest (page, slot), not an arbitrary dropDuplicates)."""
    pages = _pages(spark, sf_dir)
    cand = wv.collect_candidates(pages, seed_search_url())
    return dd.first_occurrence(cand, "doi", "seq") \
        .select("seq", "doi", "title", "url")


SQL_CARDS_DEDUP_FIRST = (
    f"WITH {D_CTE}, {CARDS_CTE} SELECT seq, doi, title, url FROM "
    "(SELECT *, row_number() OVER (PARTITION BY doi ORDER BY seq) AS rn FROM cards) "
    "WHERE rn = 1")


def q_crawl_topk(spark, sf_dir):
    """T1: first-k candidates in crawl order (orderBy(seq).limit —
    TakeOrdered, no global sort)."""
    pages = _pages(spark, sf_dir)
    cand = wv.collect_candidates(pages, seed_search_url(), max_count=50)
    return cand.select("seq", "doi", "title")


SQL_CRAWL_TOPK = (
    f"WITH {D_CTE}, {CARDS_CTE} SELECT seq, doi, title FROM "
    "(SELECT *, row_number() OVER (ORDER BY seq) AS rn FROM cards) WHERE rn <= 50")


def q_recency_topk(spark, sf_dir):
    """T3: recency sort — newest-first catalog listing (reference
    src/database_manager.py:160-162, ORDER BY created_at DESC LIMIT n) as a
    TakeOrdered over the deduped candidate set (no global sort).
    publication_date ties and NULLs ("Vol N" dates) break deterministically
    by seq, NULLS LAST on both engines."""
    pages = _pages(spark, sf_dir)
    cand = wv.collect_candidates(pages, seed_search_url())
    fresh = dd.first_occurrence(cand, "doi", "seq")
    return (fresh
            .orderBy(F.desc_nulls_last("publication_date"), F.asc("seq"))
            .limit(50)
            .select("seq", "doi", "title", "publication_date"))


SQL_RECENCY_TOPK = f"""
WITH {D_CTE},
r AS (SELECT seq, doi, title, publication_date,
             row_number() OVER (ORDER BY publication_date DESC NULLS LAST, seq) AS rn
      FROM d)
SELECT seq, doi, title, publication_date FROM r WHERE rn <= 50
"""


def q_frontier_enqueue(spark, sf_dir):
    """S8-analogue: deduped candidates → pending frontier rows with host,
    crawl-order seq, retry bookkeeping columns."""
    pages = _pages(spark, sf_dir)
    cand = wv.collect_candidates(pages, seed_search_url())
    fresh = dd.first_occurrence(cand, "doi", "seq")
    rows = fr.enqueue(fresh, wave=0, logical_now=LOGICAL_NOW)
    return rows.select("url", "host", "priority", "wave", "seq", "status",
                       "attempts", "next_eligible")


SQL_FRONTIER_ENQUEUE = (
    f"WITH {D_CTE} SELECT url, host, 0 AS priority, 0 AS wave, seq, "
    f"'pending' AS status, 0 AS attempts, TIMESTAMP '{LOGICAL_NOW}' AS next_eligible FROM d")


def q_frontier_fifo(spark, sf_dir):
    """S9/T2: FIFO batch dequeue — first 100 eligible pending rows by seq
    (reference ORDER BY id ASC LIMIT n)."""
    pages = _pages(spark, sf_dir)
    cand = wv.collect_candidates(pages, seed_search_url())
    fresh = dd.first_occurrence(cand, "doi", "seq")
    rows = fr.enqueue(fresh, wave=0, logical_now=LOGICAL_NOW)
    return fr.fifo_dequeue(rows, LOGICAL_NOW, batch=100).select("url", "seq")


SQL_FRONTIER_FIFO = (
    f"WITH {D_CTE} SELECT url, seq FROM "
    "(SELECT url, seq, row_number() OVER (ORDER BY seq) rn FROM d) WHERE rn <= 100")


def q_host_skew_stats(spark, sf_dir):
    """A1/A4-analogue: per-host frontier mass (the Zipf skew the scheduler
    must rebalance)."""
    pages = _pages(spark, sf_dir)
    cand = wv.collect_candidates(pages, seed_search_url())
    fresh = dd.first_occurrence(cand, "doi", "seq")
    return (fresh.select(scalars.url_host(F.col("url")).alias("host"))
            .groupBy("host").agg(F.count("*").alias("n_urls")))


SQL_HOST_SKEW = f"WITH {D_CTE} SELECT host, count(*) AS n_urls FROM d GROUP BY host"


def q_politeness_budget(spark, sf_dir):
    """§2.9: per-host politeness wave composition — 1000 ms crawl delay,
    60 s wave ⇒ at most 60 URLs per host admitted, FIFO by (priority, seq)."""
    pages = _pages(spark, sf_dir)
    cand = wv.collect_candidates(pages, seed_search_url())
    fresh = dd.first_occurrence(cand, "doi", "seq")
    pending = fr.enqueue(fresh, wave=0, logical_now=LOGICAL_NOW)
    policy = po.default_host_policy(
        spark, pending.select("host").distinct(), crawl_delay_ms=1000)
    batch = po.compose_wave(pending, policy, wave_seconds=60)
    return batch.groupBy("host").agg(F.count("*").alias("n_scheduled"))


SQL_POLITENESS = (
    f"WITH {D_CTE} SELECT host, least(count(*), 60) AS n_scheduled "
    "FROM d GROUP BY host")


def q_retry_backoff(spark, sf_dir):
    """F14: exponential backoff as frontier *eligibility time* —
    next_eligible = last_attempt + 2^attempts seconds."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        (F.col("doc_id") % 4).cast("int").alias("attempts"),
        scalars.backoff_next_eligible(
            F.timestamp_add("SECOND", F.col("doc_id").cast("int"),
                            F.lit(LOGICAL_NOW).cast("timestamp")),
            F.col("doc_id") % 4).alias("next_eligible"))


SQL_RETRY_BACKOFF = (
    f"SELECT doc_id, (doc_id % 4)::INT AS attempts, "
    f"TIMESTAMP '{LOGICAL_NOW}' + to_seconds(doc_id) "
    "+ to_seconds(pow(2, doc_id % 4)::BIGINT) AS next_eligible FROM documents")


def q_scalar_suite(spark, sf_dir):
    """F1/F3/F9/F10/F11: filename sanitization, DOI regex, file-size
    formatting, URL basename, safe-title — all JVM column expressions."""
    der = _derived(_docs(spark, sf_dir))
    return der.select(
        "doc_id",
        scalars.sanitize_filename(
            F.concat(F.col("title"), F.lit(' <a>/b:c?*'))).alias("fname"),
        scalars.safe_title_50(F.col("title")).alias("safe50"),
        scalars.format_file_size(F.col("n_chars") * 1024).alias("fsize_kb"),
        scalars.format_file_size(F.col("n_chars") * 1024 * 1024).alias("fsize_mb"),
        scalars.filename_from_url(F.col("download_link")).alias("dl_filename"),
        scalars.extract_doi_from_url(F.col("url")).alias("doi_extracted"))


SQL_SCALAR_SUITE = f"""
WITH {D_CTE}
SELECT doc_id,
  substr(trim(regexp_replace(regexp_replace(title || ' <a>/b:c?*', '[<>:"/\\\\|?*]', '_', 'g'), '\\s+', ' ', 'g')), 1, 200) AS fname,
  trim(regexp_replace(substr(title, 1, 50), '[^A-Za-z0-9 _\\-]', '', 'g')) AS safe50,
  (n_chars::DOUBLE)::VARCHAR || ' KB' AS fsize_kb,
  (n_chars::DOUBLE)::VARCHAR || ' MB' AS fsize_mb,
  (string_split(string_split(download_link, '?')[1], '/'))[-1] AS dl_filename,
  nullif(regexp_extract(url, '/doi/(10\\.[0-9]+/[^/]+)', 1), '') AS doi_extracted
FROM d
"""


def q_date_parsing(spark, sf_dir):
    """F5: two-format date parse with NULL fallthrough (try_to_timestamp
    cascade, ANSI-safe)."""
    der = _derived(_docs(spark, sf_dir))
    return der.select(
        "doc_id", "date_text",
        scalars.parse_publication_date(F.col("date_text")).alias("publication_date"))


SQL_DATE_PARSING = f"WITH {D_CTE} SELECT doc_id, date_text, publication_date FROM d"


def q_content_hashes(spark, sf_dir):
    """F6/P11: payload fetch + MD5 over the binary column (the pdf_md5
    analogue), with the %PDF magic-byte validity predicate."""
    pages = _pages(spark, sf_dir)
    from ..operators import extract as ex
    return (pages.filter(F.col("url").endswith("?download=true"))
            .select(F.col("url").alias("download_link"),
                    scalars.content_md5(F.col("html")).alias("content_md5"),
                    ex.valid_pdf_content(F.col("html")).alias("pdf_valid")))


SQL_CONTENT_HASHES = (
    f"WITH {D_CTE} SELECT download_link, content_md5, TRUE AS pdf_valid FROM d")


def q_keyword_search(spark, sf_dir):
    """P10: LIKE-across-columns catalog search (reference
    src/database_manager.py:157-162: title OR abstract OR keywords) on the
    *extracted* catalog — keywords searched as the stored CSV string,
    exactly like the reference's keywords column."""
    pages = _pages(spark, sf_dir)
    cat = wv.run_wave(pages, seed_search_url()).withColumn(
        "keywords_csv", scalars.authors_to_csv(F.col("keywords")))
    return ts.keyword_search(cat, "key", ("title", "abstract", "keywords_csv")) \
        .select("doi", "title", "abstract", "keywords_csv")


SQL_KEYWORD_SEARCH = (
    f"WITH {D_CTE} SELECT doi, title, abstract, keywords_csv FROM d "
    "WHERE title LIKE '%key%' OR abstract LIKE '%key%' "
    "OR keywords_csv LIKE '%key%'")


def q_title_jaccard(spark, sf_dir):
    """J5/F13: all-pairs title-token Jaccard ≥ 0.5 on a bounded slice
    (reference check_duplicates.py:50-57); integer (n_inter, n_union) out."""
    der = _derived(_docs(spark, sf_dir)).filter(F.col("doc_id") < 120)
    base = der.select(F.col("doc_id").alias("id"),
                      F.array_distinct(scalars.title_tokens(F.col("title"))).alias("toks"))
    a = base.select(F.col("id").alias("a_id"), F.col("toks").alias("a_toks"))
    b = base.select(F.col("id").alias("b_id"), F.col("toks").alias("b_toks"))
    inter, union = td.jaccard_counts(F.col("a_toks"), F.col("b_toks"))
    return (a.join(b, F.col("a_id") < F.col("b_id"))
            .withColumn("n_inter", inter).withColumn("n_union", union)
            .filter(F.col("n_inter") * 2 >= F.col("n_union"))
            .select("a_id", "b_id", "n_inter", "n_union"))


SQL_TITLE_JACCARD = f"""
WITH {D_CTE},
t AS (SELECT doc_id, list_distinct(string_split_regex(lower(trim(title)), '\\s+')) AS toks
      FROM d WHERE doc_id < 120)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       len(list_intersect(a.toks, b.toks)) AS n_inter,
       len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS n_union
FROM t a JOIN t b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.toks, b.toks)) * 2 >= len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks))
"""


def q_fetch_lineage(spark, sf_dir):
    """A3: per-partition fetch/parse lineage (stage, partition_id,
    n_fetched, n_parsed, parse_ms), rolled up per stage. The partition
    split and kernel wall-clock are operational (pytest-gated,
    tests/test_frontier.py); the stage totals are deterministic and
    oracle-checked here."""
    pages = _pages(spark, sf_dir)
    cand = wv.collect_candidates(pages, seed_search_url())
    fresh = dd.first_occurrence(cand, "doi", "seq")
    _, lineage = wv.fetch_parse(pages, fresh, return_lineage=True)
    return (lineage.groupBy("stage")
            .agg(F.sum("n_fetched").alias("n_fetched"),
                 F.sum("n_parsed").alias("n_parsed")))


SQL_FETCH_LINEAGE = f"""
WITH {D_CTE}
SELECT 'detail' AS stage, count(*)::BIGINT AS n_fetched, count(*)::BIGINT AS n_parsed FROM d
UNION ALL
SELECT 'viewer', count(*)::BIGINT, count(*)::BIGINT FROM d
UNION ALL
SELECT 'payload', count(*)::BIGINT, count(*)::BIGINT FROM d
"""


def q_unique_filenames(spark, sf_dir):
    """F12: filename-collision counter (reference pdf_processor.py:231-240)
    as a ranking window over sanitize_filename(title) in crawl order; input
    titles collide on doc_id % 37 (≈13-deep groups) and carry characters
    the sanitizer must rewrite."""
    from ..sources import export as ex
    docs = _docs(spark, sf_dir)
    base = docs.select(
        F.col("doc_id").alias("seq"),
        F.concat(F.lit("Paper <"), (F.col("doc_id") % 37).cast("string"),
                 F.lit(">")).alias("title"))
    return ex.assign_unique_filenames(base).select("seq", "filename")


SQL_UNIQUE_FILENAMES = """
WITH t AS (
  SELECT doc_id AS seq,
         substr(trim(regexp_replace(regexp_replace('Paper <' || (doc_id % 37) || '>', '[<>:"/\\\\|?*]', '_', 'g'), '\\s+', ' ', 'g')), 1, 200) AS b
  FROM documents),
r AS (SELECT seq, b, row_number() OVER (PARTITION BY b ORDER BY seq) AS rn FROM t)
SELECT seq,
       CASE WHEN rn = 1 THEN b || '.pdf'
            ELSE b || '_' || (rn - 1) || '.pdf' END AS filename
FROM r
"""


def q_artifact_stats(spark, sf_dir):
    """S13/A2: artifact-store rollup — downloaded payload count + byte totals
    (reference get_download_stats, src/download_manager.py:65-81)."""
    pages = _pages(spark, sf_dir)
    return (pages.filter(F.col("url").endswith("?download=true"))
            .agg(F.count("*").alias("n_files"),
                 F.sum(F.length("html")).alias("total_bytes"),
                 F.expr("sum(length(html)) div count(*)").alias("avg_bytes")))


SQL_ARTIFACT_STATS = f"""
WITH {D_CTE},
p AS (SELECT length('%PDF-1.4' || chr(10) || 'scrawl ' || doi || ' ')
             + (doc_id % 1500) AS n FROM d)
SELECT count(*) AS n_files, sum(n)::BIGINT AS total_bytes,
       sum(n)::BIGINT // count(*) AS avg_bytes FROM p
"""


def _seen_dedup(spark, sf_dir, kind):
    from ..operators import seen as sn
    der = _derived(_docs(spark, sf_dir))
    urls = der.select("doc_id", "url",
                      scalars.canonical_url_hash(F.col("url")).alias("url_hash"))
    seen = urls.filter(F.col("doc_id") < 300).select("url_hash")
    shards = sn.build_shards(seen, n_shards=4, kind=kind)
    fresh = sn.dedup_against_seen(urls, seen, shards)
    return fresh.select("doc_id", "url")


SQL_SEEN_DEDUP = (f"WITH {D_CTE} SELECT doc_id, url FROM d WHERE doc_id >= 300")


def q_seen_dedup_bloom(spark, sf_dir):
    """P6/J1 at scale: partitioned Bloom-shard probe + exact anti-join
    backstop — result is exactly candidates ∖ seen (false positives cannot
    drop a URL; the SQL oracle is the exact set difference)."""
    return _seen_dedup(spark, sf_dir, "bloom")


def q_seen_dedup_cuckoo(spark, sf_dir):
    """Same dedup via cuckoo-filter shards (deletable-filter variant)."""
    return _seen_dedup(spark, sf_dir, "cuckoo")


def q_robots_filter(spark, sf_dir):
    """North-rule robots rules as data: disallow prefix table, JVM-side
    path-prefix predicate (operators/politeness.robots_allowed)."""
    der = _derived(_docs(spark, sf_dir))
    urls = der.select("doc_id", F.col("url")).unionByName(
        der.select("doc_id", F.col("download_link").alias("url")))
    return urls.withColumn(
        "allowed",
        po.robots_allowed(F.col("url"),
                          F.array(F.lit("/doi/pdf"), F.lit("/admin"))))


SQL_ROBOTS_FILTER = f"""
WITH {D_CTE},
u AS (SELECT doc_id, url FROM d UNION ALL SELECT doc_id, download_link AS url FROM d)
SELECT doc_id, url,
       NOT (strpos(replace(url, 'https://', ''), '/') > 0
            AND (substr(url, strpos(replace(url, 'https://', ''), '/') + 8) LIKE '/doi/pdf%'
                 OR substr(url, strpos(replace(url, 'https://', ''), '/') + 8) LIKE '/admin%')) AS allowed
FROM u
"""


def q_robots_policy(spark, sf_dir):
    """North rule: robots.txt rules materialized as a host-policy table —
    parse synthetic CRLF robots bodies (multi-group: a UA-specific group
    overrides the ``*`` group on every fifth host) into (host,
    crawl_delay_ms, disallow/allow prefixes), all JVM-side."""
    docs = _docs(spark, sf_dir)
    body = F.concat(
        F.lit("User-agent: *\r\nCrawl-delay: "),
        (F.col("doc_id") % 30 + 1).cast("string"),
        F.lit("\r\nDisallow: /doi/pdf\r\n"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("Disallow: /admin\r\n"))
        .otherwise(F.lit("")),
        F.when(F.col("doc_id") % 5 == 0, F.lit(
            "\r\nUser-agent: s-crawler-spark\r\nCrawl-delay: 2\r\n"
            "Allow: /doi/pdf/open\r\nDisallow: /private\r\n"))
        .otherwise(F.lit("")))
    robots = docs.select(
        F.concat(F.lit("h"), F.col("doc_id").cast("string"), F.lit(".com")).alias("host"),
        body.alias("robots_txt"))
    pol = po.parse_robots_policy(robots)
    return pol.select(
        "host", "crawl_delay_ms",
        F.array_join("robots_disallow", ",").alias("disallow_csv"),
        F.array_join("robots_allow", ",").alias("allow_csv"))


SQL_ROBOTS_POLICY = """
SELECT 'h' || doc_id || '.com' AS host,
       (CASE WHEN doc_id % 5 = 0 THEN 2000 ELSE (doc_id % 30 + 1) * 1000 END)::INT AS crawl_delay_ms,
       CASE WHEN doc_id % 5 = 0 THEN '/private'
            ELSE '/doi/pdf' || (CASE WHEN doc_id % 3 = 0 THEN ',/admin' ELSE '' END) END AS disallow_csv,
       CASE WHEN doc_id % 5 = 0 THEN '/doi/pdf/open' ELSE '' END AS allow_csv
FROM documents
"""


def q_page_health(spark, sf_dir):
    """P12/P13: page-readiness + captcha/abnormal predicates over fetched
    detail pages (boolean pandas UDFs over html)."""
    from ..operators import extract as ex
    pages = _pages(spark, sf_dir)
    detail = pages.filter(F.col("url").rlike("/doi/10\\."))
    return detail.select(
        "url",
        ex.is_page_normal_udf(F.col("html")).alias("is_normal"),
        ex.is_page_abnormal_udf(F.col("html")).alias("is_abnormal"))


# detail-page body text concatenates title+abstract(+'PDF' for the pv=3
# variant)+keyword terms with no separators (single text node per leaf,
# corpus.py)
SQL_PAGE_HEALTH = f"""
WITH {D_CTE},
b AS (SELECT url, doc_id,
             title || abstract || (CASE WHEN doc_id % 4 = 3 THEN 'PDF' ELSE '' END)
             || coalesce(replace(keywords_csv, ', ', ''), '') AS body
      FROM d)
SELECT url,
       (doc_id % 4 <> 3) OR length(body) > 100 AS is_normal,
       (lower(body) LIKE '%captcha%' OR lower(body) LIKE '%cloudflare%'
        OR lower(body) LIKE '%verify%' OR lower(body) LIKE '%robot%'
        OR lower(body) LIKE '%unusual traffic%' OR lower(body) LIKE '%access denied%'
        OR lower(body) LIKE '%blocked%') AS is_abnormal
FROM b
"""


def q_scalar_suite2(spark, sf_dir):
    """F4/F7/P14 + error truncation: doi.org href split, cookie-string map,
    pdf-url predicate, last_error[:1000]."""
    der = _derived(_docs(spark, sf_dir))
    cookie = F.concat(F.lit("sid="), F.col("doc_id").cast("string"),
                      F.lit("; theme=dark"))
    cmap = scalars.cookie_str_to_map(cookie)
    err = F.expr("repeat('e', cast(doc_id % 1200 as int) + 50)")
    return der.select(
        "doc_id",
        scalars.doi_from_doiorg_href(
            F.concat(F.lit("https://doi.org/"), F.col("doi"))).alias("doi_from_href"),
        F.element_at(cmap, "sid").alias("cookie_sid"),
        F.element_at(cmap, "theme").alias("cookie_theme"),
        scalars.is_valid_pdf_url(F.col("download_link")).alias("dl_is_pdf"),
        scalars.is_valid_pdf_url(F.col("url")).alias("detail_is_pdf"),
        F.length(scalars.truncate_error(err)).alias("err_len"))


SQL_SCALAR_SUITE2 = f"""
WITH {D_CTE}
SELECT doc_id,
       doi AS doi_from_href,
       doc_id::VARCHAR AS cookie_sid,
       'dark' AS cookie_theme,
       TRUE AS dl_is_pdf,
       FALSE AS detail_is_pdf,
       least(doc_id % 1200 + 50, 1000) AS err_len
FROM d
"""


# ==========================================================================
# Training-data pipeline queries (documents / embeddings tables)
# ==========================================================================

def q_dedup_exact(spark, sf_dir):
    """Exact dedup: md5(text) hash-groupBy, min-id survivor."""
    return td.exact_dedup(_docs(spark, sf_dir)) \
        .select("text_hash", "doc_id", "n_copies")


SQL_DEDUP_EXACT = ("SELECT md5(text) AS text_hash, min(doc_id) AS doc_id, "
                   "count(*) AS n_copies FROM documents GROUP BY md5(text)")


def q_dedup_ngram(spark, sf_dir):
    """Word-3-gram Jaccard near-dup pairs ≥ 0.2 (exact verification kernel;
    bounded all-pairs slice)."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 150)
    return td.ngram_jaccard_pairs(docs, n=3, threshold=0.2)


SQL_DEDUP_NGRAM = """
WITH g AS (
  SELECT doc_id, list_distinct(list_transform(
    generate_series(1, greatest(1, len(string_split(lower(text), ' ')) - 2)),
    i -> array_to_string((string_split(lower(text), ' '))[i:i+2], ' '))) AS grams
  FROM documents WHERE doc_id < 150)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       len(list_intersect(a.grams, b.grams)) AS n_inter,
       len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) AS n_union
FROM g a JOIN g b ON a.doc_id < b.doc_id
WHERE len(list_intersect(a.grams, b.grams)) * 10000
      >= 2000 * (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
"""


def _sql_token_hashes(text_expr: str) -> str:
    from ..functions.texthash import sql_hash60
    return ("list_transform(list_distinct(string_split(lower(" + text_expr
            + "), ' ')), t -> " + sql_hash60("t") + ")")


def _sql_grams(text_expr: str, n: int = 3) -> str:
    w = f"string_split(lower({text_expr}), ' ')"
    return (f"list_distinct(list_transform("
            f"generate_series(1, greatest(1, len({w}) - {n - 1})), "
            f"i -> array_to_string(({w})[i:i+{n - 1}], ' ')))")


def q_dedup_minhash(spark, sf_dir):
    """MinHash(16) + LSH(4 bands × 4 rows) over word-3-gram shingles,
    verified at shingle Jaccard ≥ 0.7 — the scale path (no all-pairs
    stage, shingle semantics end-to-end)."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    return td.minhash_lsh_pairs(docs, threshold=0.7)


def _sql_minhash() -> str:
    from ..functions.texthash import sql_hash60
    coeffs = perm_coeffs(td.N_PERMS)
    th = f"list_transform({_sql_grams('text', td.SHINGLE_N)}, t -> {sql_hash60('t')})"
    mins = ", ".join(
        f"list_min(list_transform(th, h -> ({a} * h + {b}) % {MERSENNE_31})) AS m{j}"
        for j, (a, b) in enumerate(coeffs))
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {bi} AS band, "
        + " || ',' || ".join(f"m{bi * td.ROWS_PER_BAND + r}"
                             for r in range(td.ROWS_PER_BAND))
        + " AS sig FROM sig"
        for bi in range(td.N_BANDS))
    return f"""
WITH base AS (
  SELECT doc_id, {th} AS th,
         {_sql_grams('text', td.SHINGLE_N)} AS grams
  FROM documents WHERE doc_id < 200),
sig AS (SELECT doc_id, grams, {mins} FROM base),
bands AS ({bands}),
cand AS (
  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id
  FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id)
SELECT c.a_id, c.b_id,
       len(list_intersect(a.grams, b.grams)) AS n_inter,
       len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)) AS n_union
FROM cand c
JOIN sig a ON a.doc_id = c.a_id
JOIN sig b ON b.doc_id = c.b_id
WHERE len(list_intersect(a.grams, b.grams)) * 10000
      >= 7000 * (len(a.grams) + len(b.grams) - len(list_intersect(a.grams, b.grams)))
"""


def q_dedup_simhash(spark, sf_dir):
    """16-bit SimHash signature per document (vectorized bit votes)."""
    return td.simhash_table(_docs(spark, sf_dir))


def _sql_simhash() -> str:
    th = _sql_token_hashes("text")
    bits = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(th, h -> (h // {1 << i}) % 2 = 1)) > len(th) "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(td.SIMHASH_BITS))
    return (f"WITH base AS (SELECT doc_id, {th} AS th FROM documents) "
            f"SELECT doc_id, ({bits})::BIGINT AS simhash FROM base")


def q_dedup_substring(spark, sf_dir):
    """Substring-level dedup (Lee et al. 2022): per-document coverage of
    word spans whose 20-grams occur >= 2 times corpus-wide, merged to
    maximal spans — the rung below document/near-dup dedup (two unique
    documents can still share a verbatim passage). Oracle replays the
    same md5-60 gram hashing, the same corpus-wide count, and the same
    gaps-and-islands merge relationally."""
    return td.duplicated_spans(_docs(spark, sf_dir))


def _sql_dedup_substring() -> str:
    n = td.DUP_SPAN_N
    gh = sql_hash60(f"array_to_string(w[i:i+{n - 1}], ' ')")
    return f"""
WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
o AS (SELECT doc_id, unnest(list_transform(
        generate_series(1, len(w) - {n - 1}),
        i -> struct_pack(pos := i - 1, gh := {gh}))) AS u FROM w),
occ AS (SELECT doc_id, u.pos AS pos, u.gh AS gh FROM o),
dup AS (SELECT gh FROM occ GROUP BY gh HAVING count(*) >= 2),
m AS (SELECT occ.doc_id, occ.pos FROM occ JOIN dup USING (gh)),
f AS (SELECT doc_id, pos,
        CASE WHEN lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL
              OR pos > lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) + {n}
             THEN 1 ELSE 0 END AS nw
      FROM m),
i AS (SELECT doc_id, pos, sum(nw) OVER (PARTITION BY doc_id ORDER BY pos
        ROWS UNBOUNDED PRECEDING) AS isl FROM f),
sp AS (SELECT doc_id, isl, min(pos) AS s, max(pos) + {n} AS e
       FROM i GROUP BY 1, 2),
pd AS (SELECT doc_id, sum(e - s)::BIGINT AS dup_tokens,
              count(*) AS n_spans FROM sp GROUP BY 1),
t AS (SELECT doc_id, len(w) AS n_tokens FROM w)
SELECT t.doc_id, n_tokens,
       coalesce(n_spans, 0)::BIGINT AS n_spans,
       coalesce(dup_tokens, 0)::BIGINT AS dup_tokens,
       (coalesce(dup_tokens, 0)::BIGINT * 10000) // n_tokens AS dup_token_bp
FROM t LEFT JOIN pd USING (doc_id)
"""


def q_lang_id(spark, sf_dir):
    """Stopword-heuristic language ID with per-language scores."""
    return ts.lang_id_table(_docs(spark, sf_dir))


def _sql_lang_id() -> str:
    score_cols = []
    for lg in ts.LANG_ORDER:
        lst = ", ".join(f"'{w}'" for w in ts.STOPWORDS[lg])
        score_cols.append(
            f"len(list_filter(string_split(lower(text), ' '), w -> w IN ({lst}))) AS score_{lg}")
    best = "greatest(" + ", ".join(f"score_{lg}" for lg in ts.LANG_ORDER) + ")"
    case = "CASE WHEN " + best + " = 0 THEN 'und' " + " ".join(
        f"WHEN score_{lg} = {best} THEN '{lg}'" for lg in ts.LANG_ORDER) + " END"
    return (f"WITH s AS (SELECT doc_id, {', '.join(score_cols)} FROM documents) "
            f"SELECT doc_id, {case} AS pred_lang, "
            + ", ".join(f"score_{lg}" for lg in ts.LANG_ORDER) + " FROM s")


def q_text_quality(spark, sf_dir):
    """Quality-filter features: word/char counts, stopword & punctuation
    ratios, composite score (integer basis points)."""
    return ts.quality_table(_docs(spark, sf_dir))


def _sql_text_quality() -> str:
    en = ", ".join(f"'{w}'" for w in ts.STOPWORDS["en"])
    return f"""
WITH b AS (
  SELECT doc_id, length(text) AS n_chars,
         len(string_split(lower(text), ' ')) AS n_words,
         list_sum(list_transform(string_split(lower(text), ' '), w -> length(w)))::BIGINT AS sum_len,
         len(list_filter(string_split(lower(text), ' '), w -> w IN ({en}))) AS n_stop,
         len(string_split_regex(text, '{ts.PUNCT_REGEX}')) - 1 AS n_punct
  FROM documents),
r AS (
  SELECT doc_id, n_chars, n_words,
         (sum_len * 100) // n_words AS avg_word_len_c,
         (n_stop * 10000) // n_words AS stopword_ratio_bp,
         (n_punct * 10000) // n_chars AS punct_ratio_bp
  FROM b)
SELECT doc_id, n_chars, n_words, avg_word_len_c, stopword_ratio_bp, punct_ratio_bp,
       (4 * least(n_words * 100, 10000) + 4 * least(5 * stopword_ratio_bp, 10000)
        + 2 * (10000 - least(10 * punct_ratio_bp, 10000))) // 10 AS quality_score_bp
FROM r
"""


def q_token_stats(spark, sf_dir):
    """Token counting: whitespace + BPE-ish regex pre-tokenizer + TTR."""
    return ts.token_stats_table(_docs(spark, sf_dir))


SQL_TOKEN_STATS = f"""
WITH b AS (
  SELECT doc_id,
         len(string_split_regex(text, '\\s+')) AS ws_tokens,
         len(regexp_extract_all(text, '{ts.TOKEN_REGEX}')) AS bpe_tokens,
         len(list_distinct(string_split_regex(text, '\\s+'))) AS distinct_ws_tokens
  FROM documents)
SELECT doc_id, ws_tokens, bpe_tokens, distinct_ws_tokens,
       (distinct_ws_tokens * 10000) // ws_tokens AS ttr_bp
FROM b
"""


def q_fingerprint(spark, sf_dir):
    """Rolling-hash fingerprint: min md5-hash over 8-char shingles, stride 4
    (winnowing-style min-sampling)."""
    return ts.fingerprint_table(_docs(spark, sf_dir))


def _sql_fingerprint() -> str:
    from ..functions.texthash import sql_hash60
    h = sql_hash60(f"substr(text, i, {ts.SHINGLE_LEN})")
    return (f"SELECT doc_id, list_min(list_transform("
            f"generate_series(1, greatest(1, length(text) - {ts.SHINGLE_LEN - 1}), {ts.SHINGLE_STRIDE}), "
            f"i -> {h})) AS fingerprint FROM documents")


def q_doc_chunks(spark, sf_dir):
    """Training-data chunking: overlapping 32-token windows at stride 24,
    one row per chunk (map-side only — no shuffle)."""
    return ts.chunk_table(_docs(spark, sf_dir))


SQL_DOC_CHUNKS = f"""
WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
s AS (SELECT doc_id, words, unnest(generate_series(
        1, greatest(1, len(words) - {ts.CHUNK_TOKENS - ts.CHUNK_STRIDE}),
        {ts.CHUNK_STRIDE})) AS st FROM w)
SELECT doc_id, (st - 1) // {ts.CHUNK_STRIDE} AS chunk_idx, st - 1 AS token_start,
       array_to_string(words[st:st + {ts.CHUNK_TOKENS - 1}], ' ') AS chunk_text
FROM s
"""


def q_pii_scrub(spark, sf_dir):
    """PII scrubbing for training corpora: mask emails / phone numbers /
    long digit runs (chained JVM regexp_replace; input decorated with
    synthetic PII so every pattern is exercised)."""
    docs = _docs(spark, sf_dir)
    dirty = F.concat(
        F.col("text"), F.lit(" contact user"), F.col("doc_id").cast("string"),
        F.lit("@mail.example.com or 555-123-4567 card 4111111111111111"))
    return docs.select(
        "doc_id",
        ts.scrub_pii(dirty).alias("clean_text"),
        (ts.scrub_pii(dirty) != dirty).alias("was_scrubbed"))


SQL_PII_SCRUB = """
WITH d AS (SELECT doc_id,
  text || ' contact user' || doc_id || '@mail.example.com or 555-123-4567 card 4111111111111111' AS dirty
  FROM documents),
s AS (SELECT doc_id, dirty,
  regexp_replace(regexp_replace(regexp_replace(dirty,
    '[A-Za-z0-9._%+\\-]+@[A-Za-z0-9.\\-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
    '\\b\\d{3}[\\-.]\\d{3}[\\-.]\\d{4}\\b', '<PHONE>', 'g'),
    '\\b\\d{13,19}\\b', '<CARDNUM>', 'g') AS clean_text
  FROM d)
SELECT doc_id, clean_text, clean_text <> dirty AS was_scrubbed FROM s
"""


def q_doc_repetition(spark, sf_dir):
    """Gopher-style intra-document repetition signals: duplicate-word /
    duplicate-sentence fractions and the share of the most-repeated 2-/3-
    gram, integer basis points (operators/textstats.py:repetition_table).
    Spark computes the per-doc gram mode with a map-side sort+fold (no
    shuffle); the oracle computes the same integers relationally."""
    return ts.repetition_table(_docs(spark, sf_dir))


def _sql_gram(n: int) -> str:
    """unnest'ed word n-grams per doc (inclusive-end DuckDB slices ==
    Spark's zip_with-of-shifted-slices construction; docs shorter than n
    words produce no grams on either side)."""
    return (f"SELECT doc_id, unnest(list_transform("
            f"generate_series(1, len(w) - {n - 1}),"
            f" i -> array_to_string(w[i:i+{n - 1}], ' '))) AS g FROM w")


def _sql_doc_repetition() -> str:
    return f"""
WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w,
                  string_split(text, '. ') AS s FROM documents),
c2 AS (SELECT doc_id, max(c) AS r2 FROM
        (SELECT doc_id, g, count(*) AS c FROM ({_sql_gram(2)}) GROUP BY 1, 2)
       GROUP BY 1),
c3 AS (SELECT doc_id, max(c) AS r3 FROM
        (SELECT doc_id, g, count(*) AS c FROM ({_sql_gram(3)}) GROUP BY 1, 2)
       GROUP BY 1),
b AS (SELECT doc_id, len(w) AS nw, len(list_distinct(w)) AS nd,
             len(s) AS ns, len(list_distinct(s)) AS nds FROM w)
SELECT b.doc_id, nw AS n_words,
       ((nw - nd)::BIGINT * 10000) // nw AS dup_word_bp,
       (coalesce(r2, 0)::BIGINT * 2 * 10000) // nw AS top2gram_bp,
       (coalesce(r3, 0)::BIGINT * 3 * 10000) // nw AS top3gram_bp,
       ((ns - nds)::BIGINT * 10000) // ns AS dup_sent_bp
FROM b LEFT JOIN c2 USING (doc_id) LEFT JOIN c3 USING (doc_id)
"""


def q_benchmark_contam(spark, sf_dir):
    """Benchmark-contamination pass: count each document's distinct word
    8-grams that appear in the 'evaluation set' — deterministically chosen
    as the doc_id % 37 == 1 slice of the corpus itself, so contamination is
    guaranteed present (those docs self-hit) without any external data
    (operators/textstats.py:contamination_table; broadcast gram-set join)."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 37 == 1) \
        .select(F.col("doc_id").alias("bench_id"), "text")
    return ts.contamination_table(docs, bench)


def _sql_benchmark_contam() -> str:
    n = ts.CONTAM_NGRAM
    gh = sql_hash60(f"array_to_string(w[i:i+{n - 1}], ' ')")
    return f"""
WITH w AS (SELECT doc_id, string_split(lower(text), ' ') AS w FROM documents),
g AS (SELECT doc_id, list_distinct(list_transform(
        generate_series(1, len(w) - {n - 1}), i -> {gh})) AS gh FROM w),
b AS (SELECT DISTINCT gh FROM
       (SELECT unnest(gh) AS gh FROM g WHERE doc_id % 37 = 1)),
e AS (SELECT doc_id, unnest(gh) AS gh FROM g),
h AS (SELECT e.doc_id, count(*) AS n_hit_grams FROM e JOIN b USING (gh)
      GROUP BY 1),
t AS (SELECT doc_id, len(gh) AS n_grams FROM g)
SELECT t.doc_id, n_grams, coalesce(n_hit_grams, 0)::INT AS n_hit_grams,
       CASE WHEN n_grams = 0 THEN 0
            ELSE (coalesce(n_hit_grams, 0)::BIGINT * 10000) // n_grams
       END AS contam_bp
FROM t LEFT JOIN h USING (doc_id)
"""


def q_quality_quantiles(spark, sf_dir):
    """Exact distributed quantiles of the integer quality score by counting
    (threshold selection for corpus filtering): histogram bounded by the
    score domain, never by corpus size — the only data-sized op is one
    partial-agg groupBy."""
    return co.score_quantiles(ts.quality_table(_docs(spark, sf_dir)))


def _sql_quality_quantiles() -> str:
    qs = ", ".join(str(q) for q in co.DEFAULT_QUANTILES_BP)
    return f"""
WITH qt AS ({_sql_text_quality()}),
h AS (SELECT quality_score_bp AS s, count(*) AS n FROM qt GROUP BY 1),
c AS (SELECT s, sum(n) OVER (ORDER BY s)::BIGINT AS cum,
             sum(n) OVER ()::BIGINT AS total FROM h),
qs AS (SELECT unnest([{qs}])::INT AS q_bp)
SELECT q_bp, min(s) AS score_at_q
FROM c JOIN qs ON cum * 10000 >= q_bp::BIGINT * total
GROUP BY q_bp
"""


SAMPLE_RATES_BP = {"en": 5000, "de": 2500, "es": 1000}
SAMPLE_DEFAULT_BP = 500


def q_sample_stratified(spark, sf_dir):
    """Deterministic stratified sampling for training-mixture construction:
    per-language keep rates in basis points over a salted md5 hash — a pure
    map-side filter (no shuffle, no RNG), identical under retry/replay and
    regenerated exactly by the SQL oracle."""
    return co.stratified_sample(
        _docs(spark, sf_dir), SAMPLE_RATES_BP,
        default_bp=SAMPLE_DEFAULT_BP).select("doc_id", "lang")


def _sql_sample_stratified() -> str:
    from ..functions.texthash import sql_hash60
    h = sql_hash60(f"'{co.SAMPLE_SALT}' || doc_id")
    case = ("CASE lang "
            + " ".join(f"WHEN '{k}' THEN {v}"
                       for k, v in sorted(SAMPLE_RATES_BP.items()))
            + f" ELSE {SAMPLE_DEFAULT_BP} END")
    return (f"SELECT doc_id, lang FROM documents "
            f"WHERE {h} % 10000 < {case}")


SHARD_TOKENS_TEST = 2000


def q_shard_packing(spark, sf_dir):
    """Token-budget shard packing (documents → ~N-token training shards in
    canonical doc_id order) via the hierarchical two-level cumsum —
    bit-identical to the naive single global window the oracle runs."""
    stats = ts.token_stats_table(_docs(spark, sf_dir))
    return co.pack_shards(stats, shard_tokens=SHARD_TOKENS_TEST)


SQL_SHARD_PACKING = f"""
WITH t AS (SELECT doc_id, len(string_split_regex(text, '\\s+')) AS ws_tokens
           FROM documents),
c AS (SELECT doc_id, ws_tokens,
             coalesce(sum(ws_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS tb
      FROM t)
SELECT doc_id, ws_tokens AS n_tokens,
       (tb // {SHARD_TOKENS_TEST})::BIGINT AS shard_id,
       tb AS tokens_before
FROM c
"""


def q_embedding_norms(spark, sf_dir):
    """array<float> plumbing: dimension + L2 norm per vector (zip_with /
    aggregate higher-order functions, JVM-side)."""
    return sim.embedding_norms(_emb(spark, sf_dir))


SQL_EMBEDDING_NORMS = """
SELECT vec_id, len(embedding) AS dim,
       round(sqrt(list_sum(list_transform(embedding, x -> cast(x AS DOUBLE) * cast(x AS DOUBLE)))), 4) AS l2_norm
FROM embeddings
"""


def q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 neighbors for query vectors (vec_id < 8):
    broadcast queries, per-query top-k window."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    return sim.brute_force_topk(emb, queries, k=5)


SQL_ANN_TOPK = """
WITH c AS (
  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
         list_sum(list_transform(list_zip(n.embedding, q.embedding),
                                 p -> cast(p[1] AS DOUBLE) * cast(p[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(n.embedding, x -> cast(x AS DOUBLE) * cast(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(q.embedding, x -> cast(x AS DOUBLE) * cast(x AS DOUBLE))))) AS cos
  FROM embeddings q JOIN embeddings n ON n.vec_id <> q.vec_id
  WHERE q.vec_id < 8),
r AS (SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
      FROM c)
SELECT query_id, rank, neighbor_id, round(cos, 4) AS cos_sim FROM r WHERE rank <= 5
"""


def q_ann_topk_vectorized(spark, sf_dir):
    """Arrow/numpy fast path for exact cosine top-k: per-batch BLAS matmul
    + local top-k, global rank window over tiny triples. Same result
    contract as ann_cosine_topk — the oracle is shared."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    return sim.topk_vectorized(emb, queries, k=5)


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs ≥ 0.425 (threshold sits in a
    data-verified 0.005-wide gap so engine float drift cannot flip a pair)."""
    return td.embedding_near_dup_pairs(_emb(spark, sf_dir), threshold=0.425)


SQL_EMBEDDING_NEAR_DUP = """
WITH c AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         list_sum(list_transform(list_zip(a.embedding, b.embedding),
                                 p -> cast(p[1] AS DOUBLE) * cast(p[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(a.embedding, x -> cast(x AS DOUBLE) * cast(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(b.embedding, x -> cast(x AS DOUBLE) * cast(x AS DOUBLE))))) AS cos
  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
SELECT a_id, b_id, round(cos, 4) AS cos_sim FROM c WHERE cos >= 0.425
"""


def q_embedding_label_stats(spark, sf_dir):
    """groupBy label rollup over the embedding table (partial-agg friendly:
    count/min/max only, engine-exact)."""
    return (_emb(spark, sf_dir).groupBy("label")
            .agg(F.count("*").alias("n_vecs"),
                 F.min("vec_id").alias("min_vec_id"),
                 F.max("vec_id").alias("max_vec_id")))


SQL_EMBEDDING_LABEL_STATS = (
    "SELECT label, count(*) AS n_vecs, min(vec_id) AS min_vec_id, "
    "max(vec_id) AS max_vec_id FROM embeddings GROUP BY label")


def q_multimodal_meta(spark, sf_dir):
    """Multimodal plumbing: binary payload + typed metadata via Arrow-batched
    mapInPandas decode. Image/audio payloads carry REAL PNG / RIFF-WAVE
    headers (packed JVM-side from the body length n) and the kernel parses
    them back with stdlib struct reads (functions/mediahdr.py) — the oracle
    recomputes the same fields in closed form from n, so a broken encoder
    OR parser breaks the match. Video stays the documented byte-blob stub."""
    media = mm.media_from_documents(_docs(spark, sf_dir))
    return mm.extract_media_meta(media)


SQL_MULTIMODAL_META = """
WITH m AS (SELECT doc_id, ['image','audio','video'][(doc_id % 3 + 1)::INT] AS media_type,
                  octet_length(encode(text))::INT AS n
           FROM documents)
SELECT doc_id, media_type,
  (n + CASE media_type WHEN 'image' THEN 33 WHEN 'audio' THEN 44 ELSE 0 END)::INT AS n_bytes,
  CASE media_type WHEN 'image' THEN 16 + n % 640 WHEN 'video' THEN 16 + n % 320 END::INT AS width,
  CASE media_type WHEN 'image' THEN 16 + (n * 7) % 480 WHEN 'video' THEN 16 + (n * 3) % 240 END::INT AS height,
  CASE media_type WHEN 'audio' THEN 8000 + (n % 5) * 8000 END::INT AS sample_rate,
  CASE media_type WHEN 'audio' THEN n // 2 WHEN 'video' THEN 1 + n % 5 END::INT AS n_frames,
  CASE media_type WHEN 'image' THEN 'png' WHEN 'audio' THEN 'wav' ELSE 'fake/h264' END AS codec
FROM m
"""


# ==========================================================================
# Formerly rows-only queries — each now has an exact oracle
# ==========================================================================

def q_ann_lsh_topk(spark, sf_dir):
    """Approximate ANN: deterministic random-hyperplane LSH buckets, exact
    re-rank within probed buckets. Oracle-exact: the planes are md5-derived,
    so the SQL oracle regenerates them from first principles and replays the
    same probe/rank construction (recall vs brute force pytest-gated)."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    return sim.lsh_topk(emb, queries, k=5, dim=64)


def q_ann_lsh_near_dup(spark, sf_dir):
    """Embedding near-dup at scale: multi-table LSH bucket self-join +
    exact verify (no all-pairs stage; emitted pairs exact, recall
    pytest-gated). Oracle replays the identical deterministic-plane
    construction in SQL."""
    return sim.lsh_near_dup_pairs(_emb(spark, sf_dir), threshold=0.4)


def q_simhash_near_pairs(spark, sf_dir):
    """SimHash hamming-≤2 pairs via 3-piece pigeonhole banding."""
    return td.simhash_near_pairs(_docs(spark, sf_dir).filter(F.col("doc_id") < 200))


def q_dedup_agreement(spark, sf_dir):
    """Cross-operator pin: SimHash hamming-≤2 adjacency vs MinHash+LSH
    Jaccard-≥0.7 pairs on the same doc slice, as one full-outer-joined
    membership table — ties the two near-dup ladders' semantics to each
    other (both constructions are deterministic, so the oracle composes
    their exact SQL replays)."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    sh = td.simhash_near_pairs(docs).select(
        "a_id", "b_id", F.lit(True).alias("in_simhash"))
    mh = td.minhash_lsh_pairs(docs, threshold=0.7).select(
        "a_id", "b_id", F.lit(True).alias("in_minhash"))
    return (sh.join(mh, ["a_id", "b_id"], "full_outer")
            .select("a_id", "b_id",
                    F.coalesce("in_simhash", F.lit(False)).alias("in_simhash"),
                    F.coalesce("in_minhash", F.lit(False)).alias("in_minhash")))


def _sql_dedup_agreement() -> str:
    return f"""
WITH sh AS ({_sql_simhash_near_pairs()}),
mh AS ({_sql_minhash()})
SELECT coalesce(sh.a_id, mh.a_id) AS a_id,
       coalesce(sh.b_id, mh.b_id) AS b_id,
       sh.a_id IS NOT NULL AS in_simhash,
       mh.a_id IS NOT NULL AS in_minhash
FROM sh FULL OUTER JOIN mh ON sh.a_id = mh.a_id AND sh.b_id = mh.b_id
"""


def q_dedup_clusters(spark, sf_dir):
    """Transitive closure of the MinHash near-dup pairs → canonical-survivor
    assignment for every doc in the slice (the closure step the reference's
    check_duplicates.py report performs implicitly by printing mutually-
    similar title groups). Alternating large-star/small-star contraction
    (id-only shuffles, O(log² n) rounds); singletons are their own roots;
    n_members sizes each cluster so downstream keep/drop policy is a
    filter, not another join."""
    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 200)
    pairs = td.minhash_lsh_pairs(docs, threshold=0.7)
    cc = td.near_dup_clusters(pairs)
    assign = (docs.select("doc_id")
              .join(cc, "doc_id", "left")
              .select("doc_id",
                      F.coalesce("cluster_id", F.col("doc_id")).alias("cluster_id")))
    sizes = assign.groupBy("cluster_id").agg(F.count("*").alias("n_members"))
    return (assign.join(sizes, "cluster_id")
            .select("doc_id", "cluster_id", "n_members"))


def _sql_dedup_clusters() -> str:
    # Exact closure oracle: reachability via a recursive CTE (min reachable
    # id == component root), replaying the identical MinHash pair SQL.
    return f"""
WITH RECURSIVE mh AS ({_sql_minhash()}),
edges AS (SELECT a_id AS u, b_id AS v FROM mh
          UNION SELECT b_id, a_id FROM mh),
walk(u, lbl) AS (
    SELECT u, u FROM (SELECT DISTINCT u FROM edges)
  UNION
    SELECT e.u, w.lbl FROM edges e JOIN walk w ON e.v = w.u),
cc AS (SELECT u AS doc_id, min(lbl) AS cluster_id FROM walk GROUP BY u),
assign AS (
  SELECT d.doc_id, coalesce(cc.cluster_id, d.doc_id) AS cluster_id
  FROM (SELECT doc_id FROM documents WHERE doc_id < 200) d
  LEFT JOIN cc ON cc.doc_id = d.doc_id)
SELECT a.doc_id, a.cluster_id, s.n_members
FROM assign a
JOIN (SELECT cluster_id, count(*) AS n_members
      FROM assign GROUP BY cluster_id) s ON s.cluster_id = a.cluster_id
"""


SEARCH_PFX = "https://www.science.org/action/doSearch?query=scrawl&startPage="


def _url_edges(spark, sf_dir) -> DataFrame:
    """Edge list of the corpus's URL universe — the real link structure the
    crawl traverses: search page p → each listed card's detail URL (incl.
    the carried-over re-listings, which correctly give those details two
    in-links), p → p+1 pagination, detail → PDF page → download."""
    der = _derived(_docs(spark, sf_dir))
    d = der.select(
        "doc_id", "url", "download_link",
        F.expr(f"doc_id div {P}").alias("page_num"),
        F.concat(F.lit("https://www.science.org/doi/epdf/"),
                 F.col("doi")).alias("pdf_page_url"))
    mx = _docs(spark, sf_dir).agg(
        F.expr(f"max(doc_id) div {P}").alias("max_page"))

    def sp(c):
        return F.concat(F.lit(SEARCH_PFX), c.cast("string"))

    listed = d.select(sp(F.col("page_num")).alias("src"),
                      F.col("url").alias("dst"))
    carry = (d.crossJoin(F.broadcast(mx))
             .filter((F.col("doc_id") % P >= P - C)
                     & (F.col("page_num") < F.col("max_page")))
             .select(sp(F.col("page_num") + 1).alias("src"),
                     F.col("url").alias("dst")))
    pag = (d.select("page_num").distinct().crossJoin(F.broadcast(mx))
           .filter(F.col("page_num") < F.col("max_page"))
           .select(sp(F.col("page_num")).alias("src"),
                   sp(F.col("page_num") + 1).alias("dst")))
    hop1 = d.select(F.col("url").alias("src"),
                    F.col("pdf_page_url").alias("dst"))
    hop2 = d.select(F.col("pdf_page_url").alias("src"),
                    F.col("download_link").alias("dst"))
    return listed.union(carry).union(pag).union(hop1).union(hop2)


def q_url_pagerank(spark, sf_dir):
    """Integer fixed-point PageRank (5 iterations) over the URL link graph —
    authority scores for frontier prioritization (operators/linkgraph.py).
    Exact: all-integer arithmetic makes the iteration order- and
    engine-independent, so the oracle replays it in 5 chained CTEs."""
    return lg.pagerank(_url_edges(spark, sf_dir), n_iter=5)


def q_host_authority(spark, sf_dir):
    """Host-level authority rollup of the URL PageRank (integer sums)."""
    return lg.host_rank_rollup(lg.pagerank(_url_edges(spark, sf_dir),
                                           n_iter=5))


def _sql_pagerank_cte(n_iter: int = 5) -> str:
    """Shared oracle scaffolding: edges + integer PageRank chained CTEs
    (identical arithmetic to linkgraph.pagerank — `//` ≡ `div`, sums cast
    back to BIGINT so the compare sees int64 on both sides)."""
    damp, scale = lg.DAMPING_BP, lg.RANK_SCALE
    iters = ""
    for i in range(1, n_iter + 1):
        iters += f""",
r{i} AS (
  SELECT n.url,
         (({scale} // nn.n) * (10000 - {damp}) // 10000
          + ({damp} * coalesce(s.s, 0)) // 10000)::BIGINT AS rank
  FROM nodes n CROSS JOIN nn
  LEFT JOIN (SELECT e.dst AS url, sum(r.rank // e.outdeg)::BIGINT AS s
             FROM e JOIN r{i - 1} r ON r.url = e.src GROUP BY e.dst) s
    ON s.url = n.url)"""
    return f"""{D_CTE},
mx AS (SELECT max(doc_id) // {P} AS max_page FROM documents),
edges AS (
  SELECT '{SEARCH_PFX}' || page_num AS src, url AS dst FROM d
  UNION ALL
  SELECT '{SEARCH_PFX}' || (page_num + 1) AS src, url AS dst
    FROM d CROSS JOIN mx
   WHERE doc_id % {P} >= {P} - {C} AND page_num < max_page
  UNION ALL
  SELECT '{SEARCH_PFX}' || page_num, '{SEARCH_PFX}' || (page_num + 1)
    FROM (SELECT DISTINCT page_num FROM d) CROSS JOIN mx
   WHERE page_num < max_page
  UNION ALL
  SELECT url, pdf_page_url FROM d
  UNION ALL
  SELECT pdf_page_url, download_link FROM d),
nodes AS (SELECT DISTINCT url
          FROM (SELECT src AS url FROM edges
                UNION ALL SELECT dst FROM edges)),
nn AS (SELECT count(*) AS n FROM nodes),
outd AS (SELECT src, count(*) AS outdeg FROM edges GROUP BY src),
e AS (SELECT edges.src, edges.dst, outd.outdeg
      FROM edges JOIN outd ON outd.src = edges.src),
r0 AS (SELECT url, ({scale} // nn.n)::BIGINT AS rank
       FROM nodes CROSS JOIN nn){iters}"""


def _sql_url_pagerank() -> str:
    return f"WITH {_sql_pagerank_cte()} SELECT url, rank FROM r5"


def _sql_host_authority() -> str:
    # host = parse_url(url, 'HOST') semantics: userinfo and port stripped
    # (the frontier/politeness key — linkgraph.host_rank_rollup docstring)
    return f"""WITH {_sql_pagerank_cte()}
SELECT regexp_extract(url, '^https?://(?:[^/?#@]*@)?([^/?#:]+)', 1) AS host,
       sum(rank)::BIGINT AS host_rank, count(*) AS n_urls
FROM r5 GROUP BY 1"""


def q_rank_admission(spark, sf_dir):
    """End-to-end authority-prioritized admission: PageRank over the URL
    graph → frontier priority (linkgraph.priority_from_rank) → per-host
    politeness budget (compose_wave, 10 s wave / 1000 ms delay ⇒ 10 per
    host). The admitted set is the per-host top-10 by (-rank, seq) — the
    carried-over re-listings (2 in-links) outrank single-listing pages."""
    pages = _pages(spark, sf_dir)
    cand = wv.collect_candidates(pages, seed_search_url())
    fresh = dd.first_occurrence(cand, "doi", "seq")
    pending = fr.enqueue(fresh, wave=0, logical_now=LOGICAL_NOW)
    ranked = lg.priority_from_rank(
        pending, lg.pagerank(_url_edges(spark, sf_dir), n_iter=5))
    policy = po.default_host_policy(
        spark, ranked.select("host").distinct(), crawl_delay_ms=1000)
    return (po.compose_wave(ranked, policy, wave_seconds=10)
            .select("url", "host", "priority", "seq"))


def _sql_rank_admission() -> str:
    return f"""WITH {_sql_pagerank_cte()},
pend AS (
  SELECT d.url, d.host, d.seq,
         CASE WHEN r.rank IS NOT NULL THEN (-(r.rank // 1024))::INT
              ELSE 0 END AS priority
  FROM d LEFT JOIN r5 r ON r.url = d.url),
adm AS (
  SELECT url, host, priority, seq,
         row_number() OVER (PARTITION BY host
                            ORDER BY priority, seq) AS rn
  FROM pend)
SELECT url, host, priority, seq FROM adm WHERE rn <= 10"""


def _fetch_history(spark, sf_dir, n_waves: int = 5) -> DataFrame:
    """Synthetic fetch-history table (url, wave, content_md5): every catalog
    URL fetched in waves 0..n-1, content version bumped by the deterministic
    change pattern (doc_id*7 + wave*13) % 5 == 0 — pure arithmetic, so the
    oracle reconstructs the identical md5 stream."""
    w = Window.partitionBy("url").orderBy("wave")
    return (_derived(_docs(spark, sf_dir))
            .select("url", "doc_id")
            .withColumn("wave", F.explode(F.sequence(F.lit(0),
                                                     F.lit(n_waves - 1))))
            .withColumn("chg", F.expr(
                "if(wave > 0 AND (doc_id * 7 + wave * 13) % 5 = 0, 1, 0)"))
            .withColumn("version", F.sum("chg").over(w))
            .select("url", "wave",
                    F.md5(F.concat_ws("#", "url", "version"))
                    .alias("content_md5")))


def q_authority_budget(spark, sf_dir):
    """Largest-remainder apportionment of a 100-slot global wave budget
    across hosts proportional to PageRank authority
    (politeness.apportion_budget over linkgraph.host_rank_rollup) —
    all-integer Hamilton method, so the slot split is engine-exact."""
    roll = lg.host_rank_rollup(lg.pagerank(_url_edges(spark, sf_dir),
                                           n_iter=5))
    return po.apportion_budget(roll, total_budget=100) \
        .select("host", "host_budget")


def _sql_authority_budget() -> str:
    return f"""WITH {_sql_pagerank_cte()},
hr AS (
  SELECT regexp_extract(url, '^https?://(?:[^/?#@]*@)?([^/?#:]+)', 1) AS host,
         sum(rank)::BIGINT AS host_rank
  FROM r5 GROUP BY 1),
b AS (
  SELECT host, host_rank,
         (100 * host_rank) // (SELECT sum(host_rank) FROM hr) AS base,
         (100 * host_rank) % (SELECT sum(host_rank) FROM hr) AS rem
  FROM hr),
t AS (
  SELECT host, base,
         row_number() OVER (ORDER BY rem DESC, host ASC) AS rk,
         (SELECT 100 - sum(base) FROM b) AS leftover
  FROM b)
SELECT host,
       (base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)::INT AS host_budget
FROM t"""


_TRAP_URL = (
    "concat('https://', host, '/d', cast(doc_id % 7 as string), "
    " repeat('/loop', cast(doc_id % 9 as int)), "
    " if(doc_id % 4 = 0, concat('?k=1', "
    "    repeat('&k=1', cast(doc_id % 11 as int))), ''))")


def q_trap_features(spark, sf_dir):
    """Spider-trap URL shape features (operators/traps.py): path depth,
    max repeated-segment multiplicity (sorted single-pass fold), query
    parameter count — over arithmetic-rendered loopy URLs; the Spark side
    earns the features by parsing the URL string, the oracle writes the
    expected integers down directly."""
    from ..operators import traps as tp

    d = _derived(_docs(spark, sf_dir))
    urls = d.select(F.expr(_TRAP_URL).alias("url"))
    return tp.url_trap_features(urls).select(
        "url", "path_depth", "max_repeat_seg", "n_query_params")


def _sql_trap_features() -> str:
    return f"""WITH {D_CTE}
SELECT 'https://' || host || '/d' || (doc_id % 7) ||
         repeat('/loop', (doc_id % 9)::INT) ||
         (CASE WHEN doc_id % 4 = 0
               THEN '?k=1' || repeat('&k=1', (doc_id % 11)::INT)
               ELSE '' END) AS url,
       (1 + doc_id % 9)::INT AS path_depth,
       greatest(1, doc_id % 9)::INT AS max_repeat_seg,
       (CASE WHEN doc_id % 4 = 0 THEN 1 + doc_id % 11 ELSE 0 END)::INT
         AS n_query_params
FROM d"""


def q_trap_hosts(spark, sf_dir):
    """Per-host trap rollup over the same loopy URLs: threshold counts and
    the basis-point is_trap flag (traps.trap_hosts)."""
    from ..operators import traps as tp

    d = _derived(_docs(spark, sf_dir))
    urls = d.select(F.expr(_TRAP_URL).alias("url"))
    return tp.trap_hosts(urls).select(
        "host", "n_urls", "n_deep", "n_repeat", "n_query_heavy",
        "n_suspicious", "is_trap")


def _sql_trap_hosts() -> str:
    return f"""WITH {D_CTE},
f AS (
  SELECT host,
         CASE WHEN 1 + doc_id % 9 >= 6 THEN 1 ELSE 0 END AS deep,
         CASE WHEN greatest(1, doc_id % 9) >= 3 THEN 1 ELSE 0 END AS rep,
         CASE WHEN doc_id % 4 = 0 AND 1 + doc_id % 11 >= 8
              THEN 1 ELSE 0 END AS qh
  FROM d)
SELECT host, count(*)::BIGINT AS n_urls,
       sum(deep)::BIGINT AS n_deep, sum(rep)::BIGINT AS n_repeat,
       sum(qh)::BIGINT AS n_query_heavy,
       sum(CASE WHEN deep = 1 OR rep = 1 OR qh = 1 THEN 1 ELSE 0 END)::BIGINT
         AS n_suspicious,
       (CASE WHEN (sum(CASE WHEN deep = 1 OR rep = 1 OR qh = 1
                       THEN 1 ELSE 0 END) * 10000) // count(*) >= 5000
             THEN 1 ELSE 0 END)::INT AS is_trap
FROM f GROUP BY host"""


def q_url_canonical(spark, sf_dir):
    """URL canonicalization (scalars.canonicalize_url): messy aliases —
    uppercased scheme/host, explicit :443, unsorted query params,
    fragments, empty paths — are rendered by arithmetic and the Spark side
    earns the canonical form by running the normalization kernel; the
    oracle writes down the expected canonical string directly."""
    d = _derived(_docs(spark, sf_dir))
    messy = F.expr(
        "concat(if(doc_id % 2 = 0, 'HTTPS', 'https'), '://', "
        " if(doc_id % 3 = 0, upper(host), host), "
        " if(doc_id % 5 = 0, ':443', ''), "
        " if(doc_id % 11 = 7, '', concat('/doi/', doi)), "
        " if(doc_id % 4 != 0, concat('?b=', doc_id, '&a=1'), ''), "
        " if(doc_id % 7 = 0, concat('#sec', doc_id), ''))")
    return d.select(
        "doc_id", messy.alias("url_messy"),
        scalars.canonicalize_url(messy).alias("canonical_url"))


def _sql_url_canonical() -> str:
    return f"""WITH {D_CTE}
SELECT doc_id,
       (CASE WHEN doc_id % 2 = 0 THEN 'HTTPS' ELSE 'https' END) || '://' ||
       (CASE WHEN doc_id % 3 = 0 THEN upper(host) ELSE host END) ||
       (CASE WHEN doc_id % 5 = 0 THEN ':443' ELSE '' END) ||
       (CASE WHEN doc_id % 11 = 7 THEN '' ELSE '/doi/' || doi END) ||
       (CASE WHEN doc_id % 4 <> 0 THEN '?b=' || doc_id || '&a=1' ELSE '' END) ||
       (CASE WHEN doc_id % 7 = 0 THEN '#sec' || doc_id ELSE '' END)
         AS url_messy,
       'https://' || host ||
       (CASE WHEN doc_id % 11 = 7 THEN '/' ELSE '/doi/' || doi END) ||
       (CASE WHEN doc_id % 4 <> 0 THEN '?a=1&b=' || doc_id ELSE '' END)
         AS canonical_url
FROM d"""


def _redirect_edges(spark, sf_dir) -> DataFrame:
    """Synthetic redirect table: each doc gets a hop chain
    redir.org/<id>/0 → … → /<L-1> → its canonical detail URL
    (L = doc_id % 5 + 1); docs with doc_id % 97 == 11 close the chain into
    a cycle instead — pure arithmetic, reproduced verbatim by the oracle."""
    d = _derived(_docs(spark, sf_dir))
    return (d.select("doc_id", "url")
            .withColumn("L", (F.col("doc_id") % 5 + 1).cast("int"))
            .withColumn("i", F.explode(F.sequence(F.lit(0), F.col("L") - 1)))
            .select(
                F.expr("concat('https://redir.org/', doc_id, '/', i)")
                .alias("src_url"),
                F.expr(
                    "if(i < L - 1, concat('https://redir.org/', doc_id, '/', i + 1), "
                    "   if(doc_id % 97 = 11, "
                    "      concat('https://redir.org/', doc_id, '/0'), url))")
                .alias("dst_url")))


def q_redirect_resolve(spark, sf_dir):
    """Redirect-chain terminal resolution by path doubling
    (linkgraph.resolve_redirects): acyclic chains land on the canonical
    detail URL with their true hop distance, cyclic chains are capped at
    max_hops=16 with resolved=0 and the position after exactly 16 steps —
    the oracle walks the same edges with a hop-bounded recursive CTE."""
    return lg.resolve_redirects(_redirect_edges(spark, sf_dir)) \
        .select("src_url", "final_url", "hops", "resolved")


def _sql_redirect_resolve() -> str:
    return f"""WITH RECURSIVE {D_CTE},
e AS (
  SELECT 'https://redir.org/' || doc_id || '/' || i AS src_url,
         CASE WHEN i < (doc_id % 5)
              THEN 'https://redir.org/' || doc_id || '/' || (i + 1)
              WHEN doc_id % 97 = 11
              THEN 'https://redir.org/' || doc_id || '/0'
              ELSE url END AS dst_url
  FROM d, (SELECT unnest(range(0, 5)) AS i) s
  WHERE i <= doc_id % 5),
m AS (SELECT src_url AS u, min(dst_url) AS v FROM e GROUP BY 1),
walk(u, cur, hops) AS (
  SELECT u, v, 1 FROM m
  UNION ALL
  SELECT w.u, m.v, w.hops + 1 FROM walk w JOIN m ON m.u = w.cur
  WHERE w.hops < 16),
fin AS (
  SELECT u, cur, hops,
         row_number() OVER (PARTITION BY u ORDER BY hops DESC) AS rn
  FROM walk)
SELECT f.u AS src_url, f.cur AS final_url, f.hops::INT AS hops,
       CASE WHEN m2.u IS NULL THEN 1 ELSE 0 END::INT AS resolved
FROM fin f LEFT JOIN m m2 ON m2.u = f.cur
WHERE f.rn = 1"""


def q_sitemap_ingest(spark, sf_dir):
    """Sitemap seed ingestion (operators/sitemap.py): the query renders one
    100-entry sitemap.xml per doc_id block — lastmod present for
    doc_id % 3 != 0, priority for doc_id % 4 != 1 — and the Spark side
    earns its values by actually parsing the XML (regexp block extraction,
    posexplode, decimal→basis-point priority); the oracle recomputes the
    expected rows from the same arithmetic without parsing."""
    from ..operators import sitemap as sm

    d = _derived(_docs(spark, sf_dir))
    ent = d.select(
        F.expr("doc_id div 100").alias("sm_id"), "doc_id",
        F.concat(
            F.lit("<url>\n  <loc> "), F.col("url"), F.lit(" </loc>"),
            F.expr(
                "if(doc_id % 3 != 0, concat('<lastmod>2024-', "
                " lpad(cast(doc_id % 12 + 1 as string), 2, '0'), '-', "
                " lpad(cast(doc_id % 28 + 1 as string), 2, '0'), "
                " '</lastmod>'), '')"),
            F.expr(
                "if(doc_id % 4 != 1, concat('<priority>', "
                " if(doc_id % 11 = 10, '1.0', "
                "    concat('0.', cast(doc_id % 11 as string))), "
                " '</priority>'), '')"),
            F.lit("\n</url>")).alias("entry"))
    xml = ent.groupBy("sm_id").agg(F.concat(
        F.lit('<?xml version="1.0"?><urlset>'),
        F.expr("array_join(transform(array_sort(collect_list("
               "struct(doc_id, entry))), x -> x.entry), '\\n')"),
        F.lit("</urlset>")).alias("xml"))
    sitemaps = xml.select(
        F.concat(F.lit("https://www.science.org/sitemap"),
                 F.col("sm_id").cast("string"), F.lit(".xml")).alias("url"),
        "xml")
    return sm.parse_sitemaps(sitemaps).select(
        "sitemap_url", "pos", "seed_url", "lastmod", "priority_bp")


def _sql_sitemap_ingest() -> str:
    return f"""WITH {D_CTE}
SELECT 'https://www.science.org/sitemap' || (doc_id // 100) || '.xml'
         AS sitemap_url,
       (doc_id % 100)::INT AS pos,
       url AS seed_url,
       CASE WHEN doc_id % 3 <> 0 THEN
            '2024-' || lpad((doc_id % 12 + 1)::VARCHAR, 2, '0') || '-'
                    || lpad((doc_id % 28 + 1)::VARCHAR, 2, '0')
            ELSE NULL END AS lastmod,
       CASE WHEN doc_id % 4 <> 1 THEN ((doc_id % 11) * 1000)::INT
            ELSE NULL END AS priority_bp
FROM d"""


def q_recrawl_schedule(spark, sf_dir):
    """Freshness scheduling: AIMD revisit intervals folded over each URL's
    5-wave content-hash history (operators/recrawl.py) — change halves the
    interval, stability grows it by one wave. The operator derives change
    flags from md5 adjacency itself; the oracle replays the fold with
    lag() + list_reduce over the reconstructed history."""
    return (rc.recrawl_schedule(_fetch_history(spark, sf_dir))
            .select("url", "n_fetches", "n_changes", "interval",
                    "next_fetch_wave"))


def _sql_recrawl_schedule() -> str:
    i0, lo, hi = rc.INTERVAL0, rc.MIN_INTERVAL, rc.MAX_INTERVAL
    return f"""WITH {D_CTE},
h0 AS (
  SELECT d.url, d.doc_id, w.wave,
         CASE WHEN w.wave > 0 AND (d.doc_id * 7 + w.wave * 13) % 5 = 0
              THEN 1 ELSE 0 END AS chg
  FROM d, (SELECT unnest(range(0, 5)) AS wave) w),
h AS (
  SELECT url, wave,
         md5(url || '#' ||
             (sum(chg) OVER (PARTITION BY url ORDER BY wave))::VARCHAR)
           AS content_md5
  FROM h0),
c AS (
  SELECT url, wave,
         row_number() OVER (PARTITION BY url ORDER BY wave) AS rn,
         CASE WHEN content_md5 <>
                   lag(content_md5) OVER (PARTITION BY url ORDER BY wave)
              THEN 1 ELSE 0 END AS f
  FROM h),
g AS (
  SELECT url, count(*)::INT AS n_fetches, max(wave)::INT AS last_wave,
         coalesce(list(f ORDER BY wave) FILTER (WHERE rn > 1), []) AS fl
  FROM c GROUP BY url),
folded AS (
  SELECT url, n_fetches, last_wave, list_sum(fl)::INT AS n_changes,
         list_reduce(list_prepend({i0}, fl),
                     (s, x) -> CASE WHEN x = 1 THEN greatest({lo}, s // 2)
                                    ELSE least({hi}, s + 1) END)::INT AS iv
  FROM g)
SELECT url, n_fetches, n_changes, iv AS interval,
       (last_wave + iv)::INT AS next_fetch_wave
FROM folded"""


def q_adaptive_policy(spark, sf_dir):
    """Two waves of AIMD crawl-delay adaptation (politeness.adapt_host_policy):
    wave-1 outcomes fail where doc_id % 97 == 3, wave-2 where
    doc_id % 89 == 7 — hosts with any failure double their delay (clamped),
    all-success hosts decay to 3/4, so the compounded per-host delays pin
    both branches and their composition."""
    d = _derived(_docs(spark, sf_dir))
    policy = po.default_host_policy(
        spark, d.select("host").distinct(), crawl_delay_ms=1000)
    out1 = d.select("host", (F.col("doc_id") % 97 != 3).alias("success"))
    out2 = d.select("host", (F.col("doc_id") % 89 != 7).alias("success"))
    p1 = po.adapt_host_policy(policy, out1)
    p2 = po.adapt_host_policy(p1, out2)
    return p2.select("host", "crawl_delay_ms")


def _sql_adaptive_policy() -> str:
    lo, hi = po.MIN_CRAWL_DELAY_MS, po.MAX_CRAWL_DELAY_MS
    return f"""WITH {D_CTE},
t1 AS (SELECT host, sum(CASE WHEN doc_id % 97 = 3 THEN 1 ELSE 0 END) AS nf
       FROM d GROUP BY host),
t2 AS (SELECT host, sum(CASE WHEN doc_id % 89 = 7 THEN 1 ELSE 0 END) AS nf
       FROM d GROUP BY host),
p1 AS (SELECT t1.host,
              CASE WHEN t1.nf > 0 THEN least({hi}, 1000 * 2)
                   ELSE greatest({lo}, 1000 * 3 // 4) END AS delay
       FROM t1),
p2 AS (SELECT p1.host,
              CASE WHEN t2.nf > 0 THEN least({hi}, p1.delay * 2)
                   ELSE greatest({lo}, p1.delay * 3 // 4) END AS delay
       FROM p1 JOIN t2 ON t2.host = p1.host)
SELECT host, delay::INT AS crawl_delay_ms FROM p2"""


def q_media_frames(spark, sf_dir):
    """Frame sampling over video payloads (row-multiplying mapInPandas;
    deterministic byte-slicing stub — pure arithmetic, so SQL-checkable)."""
    media = mm.media_from_documents(_docs(spark, sf_dir))
    return (mm.sample_frames(media)
            .select("doc_id", "frame_idx", F.length("frame").alias("frame_bytes")))


def q_multiwave_crawl(spark, sf_dir):
    """Resumable multi-wave crawl (politeness-budgeted waves + snapshot
    checkpoints); returns the final catalog. The loop is stateful, but its
    fixpoint is closed-form: every URL is discovered in wave 0 (the seed
    listing reaches all cards), enqueued once with its wave-0 composite seq,
    and drained across waves until the frontier empties — so the final
    catalog equals the derived-doc table with wave-0 seqs, which is the
    oracle. Parity vs the reference simulator is additionally pytest-gated
    (tests/test_wave_parity.py)."""
    import tempfile
    from ..sources.store import SnapshotStore
    pages = _pages(spark, sf_dir)
    store = SnapshotStore(tempfile.mkdtemp(prefix="scrawl_wave_"))
    # max_waves is a CAP, not a schedule — the loop breaks at the drained
    # fixpoint, so the cap must exceed the drain at every checked sf (the
    # politeness budget admits a fixed count per host per wave, so waves
    # scale with corpus size: ~3 at sf0.01, ~24 at sf0.1; 12 truncated the
    # sf0.1 catalog to 3300/5000 rows). 50 costs nothing at small sf.
    cat = wv.crawl(spark, pages, seed_search_url(), store,
                   wave_seconds=150, max_waves=50, n_shards=4)
    return cat.select("seq", "doi", "title", "content_md5")


SQL_MULTIWAVE = f"WITH {D_CTE} SELECT seq, doi, title, content_md5 FROM d"


def _sql_simhash_near_pairs() -> str:
    th = _sql_token_hashes("text")
    bits = " + ".join(
        f"(CASE WHEN 2 * len(list_filter(th, h -> (h // {1 << i}) % 2 = 1)) > len(th) "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(td.SIMHASH_BITS))
    return f"""
WITH base AS (SELECT doc_id, {th} AS th FROM documents WHERE doc_id < 200),
s AS (SELECT doc_id, ({bits})::BIGINT AS simhash FROM base),
k AS (SELECT doc_id, simhash, simhash % 64 AS p0,
             (simhash // 64) % 32 AS p1, simhash // 2048 AS p2 FROM s),
cand AS (
  SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
         x.simhash AS a_sim, y.simhash AS b_sim
  FROM k x JOIN k y
    ON x.doc_id < y.doc_id AND (x.p0 = y.p0 OR x.p1 = y.p1 OR x.p2 = y.p2))
SELECT a_id, b_id, bit_count(xor(a_sim, b_sim))::INT AS hamming
FROM cand WHERE bit_count(xor(a_sim, b_sim)) <= 2
"""


SQL_MEDIA_FRAMES = """
WITH v AS (SELECT doc_id, octet_length(encode(text)) AS n
           FROM documents WHERE doc_id % 3 = 2),
f AS (SELECT doc_id, n, 1 + n % 5 AS nf,
             greatest(1, n // (1 + n % 5)) AS step FROM v),
u AS (SELECT doc_id, n, step, unnest(generate_series(0, nf - 1)) AS i FROM f)
SELECT doc_id, i::INT AS frame_idx,
       greatest(least((i + 1) * step, n) - i * step, 0)::INT AS frame_bytes
FROM u
"""


# --- deterministic-plane LSH, regenerated in SQL from first principles ----
#
# Bit-exactness argument: every float op is IEEE-754 double with a fixed
# evaluation order on both engines. The plane values are
# int(md5(...)[:8], 16) / 0xFFFFFFFF - 0.5 (exact ints, one correctly
# rounded division, one exact subtraction); normalization and every dot
# product fold left-to-right from 0.0 (Spark `aggregate` ≡ DuckDB
# `list_reduce` with a prepended 0.0); sqrt and / are correctly rounded.
# Identical inputs + identical op sequence ⇒ bit-identical doubles ⇒
# identical bucket signs, identical candidate sets, identical cosine ranks.

def _sql_fold_dot(a: str, b: str, cast_b: bool = True) -> str:
    bb = "CAST(z[2] AS DOUBLE)" if cast_b else "z[2]"
    return (f"list_reduce(list_prepend(0.0::DOUBLE, "
            f"list_transform(list_zip({a}, {b}), z -> CAST(z[1] AS DOUBLE) * {bb})), "
            f"(acc, x) -> acc + x)")


def _sql_cos(a: str, b: str) -> str:
    return (f"{_sql_fold_dot(a, b)} / (sqrt({_sql_fold_dot(a, a)}) "
            f"* sqrt({_sql_fold_dot(b, b)}))")


def _sql_lsh_buckets_cte(dim: int = 64, n_planes: int = 4,
                         n_tables: int = 6) -> str:
    """CTEs pl/pn/vb: vb(vec_id, t, b) = every vector's bucket per table,
    from planes regenerated by the same md5 arithmetic as similarity._plane."""
    raw_v = (f"('0x' || substr(md5('plane:' || t || ':' || p || ':' || d), 1, 8))::BIGINT"
             f" / 4294967295.0 - 0.5")
    ssq = _sql_fold_dot("raw", "raw", cast_b=True)
    dot = _sql_fold_dot("v.embedding", "pn.plane", cast_b=False)
    return f"""
pl AS (
  SELECT ts.t, ps.p,
         list_transform(generate_series(0, {dim - 1}), d -> {raw_v}) AS raw
  FROM (SELECT unnest(generate_series(0, {n_tables - 1})) AS t) ts,
       (SELECT unnest(generate_series(0, {n_planes - 1})) AS p) ps),
pn AS (
  SELECT t, p, list_transform(raw, x ->
    x / (CASE WHEN sqrt({ssq}) = 0 THEN 1.0 ELSE sqrt({ssq}) END)) AS plane
  FROM pl),
vb AS (
  SELECT v.vec_id, pn.t,
         sum(CASE WHEN {dot} >= 0 THEN (1 << pn.p) ELSE 0 END)::BIGINT AS b
  FROM embeddings v CROSS JOIN pn
  GROUP BY v.vec_id, pn.t)
"""


def _sql_ann_lsh_topk() -> str:
    cos = _sql_cos("ne.embedding", "qe.embedding")
    return f"""
WITH {_sql_lsh_buckets_cte()},
q AS (SELECT vec_id AS query_id FROM embeddings WHERE vec_id < 8),
qp AS (
  SELECT q.query_id, vb.t, vb.b FROM q JOIN vb ON vb.vec_id = q.query_id
  UNION ALL
  SELECT q.query_id, vb.t, xor(vb.b, 1) FROM q JOIN vb ON vb.vec_id = q.query_id),
cand AS (
  SELECT DISTINCT qp.query_id, nb.vec_id AS neighbor_id
  FROM qp JOIN vb nb ON nb.t = qp.t AND nb.b = qp.b AND nb.vec_id <> qp.query_id),
scored AS (
  SELECT c.query_id, c.neighbor_id, {cos} AS cos
  FROM cand c
  JOIN embeddings ne ON ne.vec_id = c.neighbor_id
  JOIN embeddings qe ON qe.vec_id = c.query_id),
r AS (SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
SELECT query_id, rank::INT AS rank, neighbor_id, round(cos, 4) AS cos_sim
FROM r WHERE rank <= 5
"""


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN scale path: deterministic md5-derived unit centroids, argmax
    cell assignment (the partition column at scale), n_probe best cells per
    query, exact cosine re-rank. Fully deterministic → exact SQL oracle;
    recall vs brute force pytest-gated."""
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec"))
    return sim.ivf_topk(emb, queries, k=5, dim=64)


def _sql_ann_ivf_topk(dim: int = 64, n_cells: int = 16, n_probe: int = 4,
                      k: int = 5) -> str:
    raw_v = (f"('0x' || substr(md5('plane:{sim.IVF_SALT}:' || cs.c || ':' || d), 1, 8))::BIGINT"
             f" / 4294967295.0 - 0.5")
    ssq = _sql_fold_dot("raw", "raw")
    dot_v = _sql_fold_dot("v.embedding", "cn.cent", cast_b=False)
    cos = _sql_cos("ne.embedding", "qe.embedding")
    return f"""
WITH ce AS (
  SELECT cs.c, list_transform(generate_series(0, {dim - 1}), d -> {raw_v}) AS raw
  FROM (SELECT unnest(generate_series(0, {n_cells - 1})) AS c) cs),
cn AS (
  SELECT c, list_transform(raw, x ->
    x / (CASE WHEN sqrt({ssq}) = 0 THEN 1.0 ELSE sqrt({ssq}) END)) AS cent
  FROM ce),
vd AS (
  SELECT v.vec_id, cn.c, {dot_v} AS dot
  FROM embeddings v CROSS JOIN cn),
va AS (
  SELECT vec_id, c AS cell FROM (
    SELECT vec_id, c,
           row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, c ASC) AS rn
    FROM vd) WHERE rn = 1),
qp AS (
  SELECT vec_id AS query_id, c AS cell FROM (
    SELECT vec_id, c,
           row_number() OVER (PARTITION BY vec_id ORDER BY dot DESC, c DESC) AS rn
    FROM vd WHERE vec_id < 8) WHERE rn <= {n_probe}),
cand AS (
  SELECT qp.query_id, va.vec_id AS neighbor_id
  FROM qp JOIN va ON va.cell = qp.cell AND va.vec_id <> qp.query_id),
scored AS (
  SELECT c2.query_id, c2.neighbor_id, {cos} AS cos
  FROM cand c2
  JOIN embeddings ne ON ne.vec_id = c2.neighbor_id
  JOIN embeddings qe ON qe.vec_id = c2.query_id),
r AS (SELECT query_id, neighbor_id, cos,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rank
      FROM scored)
SELECT query_id, rank::INT AS rank, neighbor_id, round(cos, 4) AS cos_sim
FROM r WHERE rank <= {k}
"""


def _sql_ann_lsh_near_dup(threshold: float = 0.4) -> str:
    cos = _sql_cos("ae.embedding", "be.embedding")
    return f"""
WITH {_sql_lsh_buckets_cte()},
cand AS (
  SELECT DISTINCT x.vec_id AS a_id, y.vec_id AS b_id
  FROM vb x JOIN vb y ON x.t = y.t AND x.b = y.b AND x.vec_id < y.vec_id),
scored AS (
  SELECT c.a_id, c.b_id, {cos} AS cos
  FROM cand c
  JOIN embeddings ae ON ae.vec_id = c.a_id
  JOIN embeddings be ON be.vec_id = c.b_id)
SELECT a_id, b_id, round(cos, 4) AS cos_sim FROM scored WHERE cos >= {threshold}
"""


# ==========================================================================
# Registry
# ==========================================================================

CONTRACT: dict[str, tuple[Callable[[SparkSession, str], DataFrame], str]] = {
    # name -> (Spark query function, exact DuckDB oracle SQL): one entry per
    # query, so no query can exist without its oracle.  The 15 queries
    # missing from CORRECTNESS_r05.json lead the registry: that sweep
    # recorded only the first 50 entries, so the unrecorded ones go first.
    # tools/check_contract.py sweeps all 65 regardless of order.
    "benchmark_contam": (q_benchmark_contam, _sql_benchmark_contam()),
    "quality_quantiles": (q_quality_quantiles, _sql_quality_quantiles()),
    "sample_stratified": (q_sample_stratified, _sql_sample_stratified()),
    "shard_packing": (q_shard_packing, SQL_SHARD_PACKING),
    "embedding_norms": (q_embedding_norms, SQL_EMBEDDING_NORMS),
    "ann_cosine_topk": (q_ann_cosine_topk, SQL_ANN_TOPK),
    "ann_topk_vectorized": (q_ann_topk_vectorized, SQL_ANN_TOPK),
    "embedding_near_dup": (q_embedding_near_dup, SQL_EMBEDDING_NEAR_DUP),
    "embedding_label_stats": (q_embedding_label_stats,
                              SQL_EMBEDDING_LABEL_STATS),
    "multimodal_meta": (q_multimodal_meta, SQL_MULTIMODAL_META),
    "ann_lsh_topk": (q_ann_lsh_topk, _sql_ann_lsh_topk()),
    "ann_ivf_topk": (q_ann_ivf_topk, _sql_ann_ivf_topk()),
    "ann_lsh_near_dup": (q_ann_lsh_near_dup, _sql_ann_lsh_near_dup()),
    "simhash_near_pairs": (q_simhash_near_pairs, _sql_simhash_near_pairs()),
    "dedup_agreement": (q_dedup_agreement, _sql_dedup_agreement()),
    "dedup_clusters": (q_dedup_clusters, _sql_dedup_clusters()),
    "url_pagerank": (q_url_pagerank, _sql_url_pagerank()),
    "host_authority": (q_host_authority, _sql_host_authority()),
    "rank_admission": (q_rank_admission, _sql_rank_admission()),
    "authority_budget": (q_authority_budget, _sql_authority_budget()),
    "sitemap_ingest": (q_sitemap_ingest, _sql_sitemap_ingest()),
    "redirect_resolve": (q_redirect_resolve, _sql_redirect_resolve()),
    "url_canonical": (q_url_canonical, _sql_url_canonical()),
    "trap_features": (q_trap_features, _sql_trap_features()),
    "trap_hosts": (q_trap_hosts, _sql_trap_hosts()),
    "recrawl_schedule": (q_recrawl_schedule, _sql_recrawl_schedule()),
    "adaptive_policy": (q_adaptive_policy, _sql_adaptive_policy()),
    "media_frames": (q_media_frames, SQL_MEDIA_FRAMES),
    "multiwave_crawl": (q_multiwave_crawl, SQL_MULTIWAVE),
    "crawl_catalog": (q_crawl_catalog, SQL_CRAWL_CATALOG),
    "search_cards": (q_search_cards, SQL_SEARCH_CARDS),
    "cards_dedup_first": (q_cards_dedup_first, SQL_CARDS_DEDUP_FIRST),
    "crawl_topk": (q_crawl_topk, SQL_CRAWL_TOPK),
    "recency_topk": (q_recency_topk, SQL_RECENCY_TOPK),
    "frontier_enqueue": (q_frontier_enqueue, SQL_FRONTIER_ENQUEUE),
    "frontier_fifo": (q_frontier_fifo, SQL_FRONTIER_FIFO),
    "host_skew_stats": (q_host_skew_stats, SQL_HOST_SKEW),
    "politeness_budget": (q_politeness_budget, SQL_POLITENESS),
    "retry_backoff": (q_retry_backoff, SQL_RETRY_BACKOFF),
    "scalar_suite": (q_scalar_suite, SQL_SCALAR_SUITE),
    "date_parsing": (q_date_parsing, SQL_DATE_PARSING),
    "content_hashes": (q_content_hashes, SQL_CONTENT_HASHES),
    "keyword_search": (q_keyword_search, SQL_KEYWORD_SEARCH),
    "title_jaccard": (q_title_jaccard, SQL_TITLE_JACCARD),
    "fetch_lineage": (q_fetch_lineage, SQL_FETCH_LINEAGE),
    "unique_filenames": (q_unique_filenames, SQL_UNIQUE_FILENAMES),
    "artifact_stats": (q_artifact_stats, SQL_ARTIFACT_STATS),
    "seen_dedup_bloom": (q_seen_dedup_bloom, SQL_SEEN_DEDUP),
    "seen_dedup_cuckoo": (q_seen_dedup_cuckoo, SQL_SEEN_DEDUP),
    "robots_filter": (q_robots_filter, SQL_ROBOTS_FILTER),
    "robots_policy": (q_robots_policy, SQL_ROBOTS_POLICY),
    "page_health": (q_page_health, SQL_PAGE_HEALTH),
    "scalar_suite2": (q_scalar_suite2, SQL_SCALAR_SUITE2),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_ngram": (q_dedup_ngram, SQL_DEDUP_NGRAM),
    "dedup_minhash_lsh": (q_dedup_minhash, _sql_minhash()),
    "dedup_simhash": (q_dedup_simhash, _sql_simhash()),
    "dedup_substring": (q_dedup_substring, _sql_dedup_substring()),
    "lang_id": (q_lang_id, _sql_lang_id()),
    "text_quality": (q_text_quality, _sql_text_quality()),
    "token_stats": (q_token_stats, SQL_TOKEN_STATS),
    "doc_fingerprint": (q_fingerprint, _sql_fingerprint()),
    "doc_chunks": (q_doc_chunks, SQL_DOC_CHUNKS),
    "pii_scrub": (q_pii_scrub, SQL_PII_SCRUB),
    "doc_repetition": (q_doc_repetition, _sql_doc_repetition()),
}

