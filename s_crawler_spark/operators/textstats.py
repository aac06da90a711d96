"""Text-analysis operators for the training-data pipeline.

Language ID (stopword n-gram heuristic), quality scoring, token counting,
and rolling-hash document fingerprinting over the ``documents`` table. All
pure column expressions (whole-stage codegen; no Python in the hot path),
each with an exact SQL oracle (see plans/contract.py).

The reference's only text analytics are the keyword LIKE search
(src/database_manager.py:151-175) and title-token Jaccard
(check_duplicates.py:50-57); these operators are the 100 TB-pipeline
generalization the engine needs on top.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.texthash import MERSENNE_31
from .textdedup import words

# Tiny public stopword lists (top function words per language). Fixed order =
# deterministic tie-break for argmax.
STOPWORDS = {
    "en": ["the", "of", "and", "to", "in", "is", "was", "for", "on", "as"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"],
    "es": ["el", "la", "los", "y", "es", "no", "por", "para", "un", "con"],
    "fr": ["le", "les", "et", "est", "pas", "pour", "dans", "une", "sur", "que"],
    "zh": ["的", "是", "在", "了", "我", "有", "和", "就", "不", "人"],
}
LANG_ORDER = ["en", "de", "es", "fr", "zh"]

TOKEN_REGEX = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"  # BPE-ish pre-tokenizer split
PUNCT_REGEX = r"[^A-Za-z0-9\s]"


def _in_list(t: Column, values: list[str]) -> Column:
    # Column.isin is not usable inside a higher-order-function lambda;
    # array_contains against a literal array is, and codegens the same.
    return F.array_contains(F.array(*[F.lit(v) for v in values]), t)


def _count_in(w: Column, sw: list[str]) -> Column:
    # NB: the lambda must take exactly one positional arg — Spark counts
    # default-arg params when binding higher-order-function lambdas.
    return F.size(F.filter(w, lambda t: _in_list(t, sw)))


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language stopword hit count (token occurrences, not distinct)."""
    w = words(text)
    return {lang: _count_in(w, sw) for lang, sw in STOPWORDS.items()}


def lang_score_array(text: Column) -> Column:
    """All per-language scores in ONE pass over the token array: fold with a
    5-wide counter accumulator (the stoplist array-of-arrays literal is
    constant-folded, so the inner zip_with reads a static value). The
    per-language ``lang_scores`` forms each re-run their own split+filter —
    HOF expressions are interpreted, with no common-subexpression
    elimination across occurrences."""
    stoplists = F.array(*[
        F.array(*[F.lit(wd) for wd in STOPWORDS[lg]]) for lg in LANG_ORDER])
    return F.aggregate(
        words(text),
        F.array_repeat(F.lit(0), len(LANG_ORDER)),
        lambda acc, t: F.zip_with(
            acc, stoplists,
            lambda c, sl: c + F.when(F.array_contains(sl, t),
                                     F.lit(1)).otherwise(F.lit(0))))


def lang_id(text: Column) -> Column:
    """argmax language by stopword score; ties broken by LANG_ORDER; all-zero
    scores → 'und' (undetermined)."""
    scores = lang_scores(text)
    best = F.greatest(*[scores[lg] for lg in LANG_ORDER])
    out = F.lit("und")
    for lg in reversed(LANG_ORDER):
        out = F.when(scores[lg] == best, F.lit(lg)).otherwise(out)
    return F.when(best > 0, out).otherwise(F.lit("und"))


def _lang_from_scores(sc: Column) -> Column:
    scores = [F.element_at(sc, i + 1) for i in range(len(LANG_ORDER))]
    best = F.greatest(*scores)
    out = F.lit("und")
    for i in reversed(range(len(LANG_ORDER))):
        out = F.when(scores[i] == best, F.lit(LANG_ORDER[i])).otherwise(out)
    return F.when(best > 0, out).otherwise(F.lit("und"))


def lang_id_table(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """One text pass per row: the score array materializes behind a lazy
    checkpoint (CollapseProject would otherwise inline the fold into all
    six output columns), then pred_lang and the per-language columns are
    cheap element_at arithmetic over it."""
    sc = docs.select(
        F.col(id_col),
        lang_score_array(F.col(text_col)).alias("__sc"),
    ).localCheckpoint(eager=False)
    return sc.select(
        F.col(id_col),
        _lang_from_scores(F.col("__sc")).alias("pred_lang"),
        *[F.element_at(F.col("__sc"), i + 1).alias(f"score_{lg}")
          for i, lg in enumerate(LANG_ORDER)],
    )


def quality_table(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    """Length / punctuation / stopword-ratio quality signals + composite
    score; the standard pre-training quality-filter feature set.

    All ratios are integer basis points (``div(x*10000, y)``) — bit-exact
    across engines, so the SQL oracle needs no float tolerance.
    """
    t = F.col(text_col)
    w = words(t)
    n_words = F.size(w)
    sum_len = F.aggregate(w, F.lit(0), lambda acc, x: acc + F.length(x))
    n_stop = F.size(F.filter(w, lambda x: _in_list(x, STOPWORDS["en"])))
    n_punct = F.size(F.split(t, PUNCT_REGEX)) - 1
    awl_c = F.expr("(cast(__sum_len as bigint) * 100) div __n_words")
    stop_bp = F.expr("(cast(__n_stop as bigint) * 10000) div __n_words")
    punct_bp = F.expr("(cast(__n_punct as bigint) * 10000) div __n_chars")
    score_bp = F.expr(
        "(4 * least(__n_words * 100, 10000)"
        " + 4 * least(5 * stopword_ratio_bp, 10000)"
        " + 2 * (10000 - least(10 * punct_ratio_bp, 10000))) div 10")
    return (
        docs.select(
            F.col(id_col),
            F.length(t).alias("__n_chars"),
            n_words.alias("__n_words"),
            sum_len.alias("__sum_len"),
            n_stop.alias("__n_stop"),
            n_punct.alias("__n_punct"),
        )
        .withColumn("avg_word_len_c", awl_c)       # centi-chars per word
        .withColumn("stopword_ratio_bp", stop_bp)  # basis points
        .withColumn("punct_ratio_bp", punct_bp)
        .withColumn("quality_score_bp", score_bp)
        .select(
            id_col,
            F.col("__n_chars").alias("n_chars"),
            F.col("__n_words").alias("n_words"),
            "avg_word_len_c", "stopword_ratio_bp", "punct_ratio_bp",
            "quality_score_bp",
        )
    )


def token_stats_table(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count + type-token ratio
    (integer basis points, engine-exact)."""
    t = F.col(text_col)
    ws = F.split(t, r"\s+")
    # Spark SQL string literals eat single backslashes — double them
    bpe = F.expr(
        f"regexp_extract_all({text_col}, '{TOKEN_REGEX.replace(chr(92), chr(92) * 2)}', 0)")
    return (
        docs.select(
            F.col(id_col),
            F.size(ws).alias("ws_tokens"),
            F.size(bpe).alias("bpe_tokens"),
            F.size(F.array_distinct(ws)).alias("distinct_ws_tokens"),
        )
        .withColumn("ttr_bp", F.expr(
            "(cast(distinct_ws_tokens as bigint) * 10000) div ws_tokens"))
    )


SHINGLE_LEN = 8
SHINGLE_STRIDE = 4


def fingerprint_table(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id") -> DataFrame:
    """Rolling-hash document fingerprint: min md5-hash over 8-char shingles
    at stride 4 (winnowing-style min-sampling; SQL-oracle-exact thanks to
    the texthash.md5_hash60 construction)."""
    shingle_hashes = F.expr(
        f"transform(sequence(1, greatest(1, length({text_col}) - {SHINGLE_LEN - 1}),"
        f" {SHINGLE_STRIDE}),"
        f" i -> cast(conv(substring(md5(encode(substring({text_col}, i, {SHINGLE_LEN}),"
        f" 'UTF-8')), 1, 15), 16, 10) as bigint) % {MERSENNE_31})"
    )
    return docs.select(
        F.col(id_col),
        F.array_min(shingle_hashes).alias("fingerprint"),
    )


def keyword_search(docs: DataFrame, keyword: str,
                   cols: tuple[str, ...] = ("title", "abstract",
                                            "keywords_csv")) -> DataFrame:
    """P10 — LIKE-across-columns search. The default column set matches the
    reference's three search columns (src/database_manager.py:157-162:
    title OR abstract OR keywords), so a default call has reference
    semantics; pass ``cols`` to narrow."""
    pred = None
    for c in cols:
        p = F.col(c).contains(keyword)
        pred = p if pred is None else (pred | p)
    return docs.filter(pred)


CHUNK_TOKENS = 32
CHUNK_STRIDE = 24


def chunk_table(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id",
                chunk_tokens: int = CHUNK_TOKENS,
                stride: int = CHUNK_STRIDE) -> DataFrame:
    """Training-data chunking: overlapping token windows per document
    (chunk_tokens window, stride overlap), one row per chunk with its token
    span. Pure column expressions — sequence + slice + posexplode, fully
    vectorized; at 100 TB this is the map-side-only operator that feeds
    tokenization, so it must not shuffle (and doesn't — the lazy
    localCheckpoint materializes blocks without an exchange).

    The split array materializes behind the checkpoint so the windowing
    lambda's ``slice`` reads a plain column reference per chunk; inlined,
    the split expression would re-run inside the lambda body once per
    chunk start — O(len²/stride) in the interpreted HOF evaluator."""
    base = docs.select(
        F.col(id_col),
        F.split(F.col(text_col), " ").alias("__w"),
    ).localCheckpoint(eager=False)
    w = F.col("__w")
    starts = F.sequence(
        F.lit(1), F.greatest(F.lit(1), F.size(w) - (chunk_tokens - stride)),
        F.lit(stride))
    chunks = F.transform(starts, lambda i: F.struct(
        i.alias("start"),
        F.concat_ws(" ", F.slice(w, i, chunk_tokens)).alias("chunk")))
    return (base.select(F.col(id_col), F.posexplode(chunks).alias("chunk_idx", "c"))
            .select(id_col, "chunk_idx",
                    (F.col("c.start") - 1).alias("token_start"),
                    F.col("c.chunk").alias("chunk_text")))


PII_PATTERNS = [
    (r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"\b\d{3}[\-.]\d{3}[\-.]\d{4}\b", "<PHONE>"),
    (r"\b\d{13,19}\b", "<CARDNUM>"),
]


def scrub_pii(text: Column) -> Column:
    """PII scrubbing for training corpora: email / phone / long-digit-run
    masking via chained JVM-side regexp_replace (order fixed: email first so
    digit runs inside addresses are consumed as emails)."""
    out = text
    for pat, repl in PII_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def scrub_table(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    scrubbed = scrub_pii(F.col(text_col))
    return docs.select(
        F.col(id_col),
        scrubbed.alias("clean_text"),
        (scrubbed != F.col(text_col)).alias("was_scrubbed"))


# --------------------------------------------------------------------------
# Intra-document repetition (Gopher-style quality rules)
# --------------------------------------------------------------------------

def _word_grams(w: Column, n: int) -> Column:
    """Overlapping word n-grams as space-joined strings (one per start
    position; a document shorter than n words has NO n-grams — mirrored
    exactly by the SQL oracle's generate_series bound).

    Built by zip_with over shifted slices, NOT transform(sequence, i ->
    slice(w, i, n)): the slices sit in HOF *argument* position, evaluated
    once per row, while a slice-of-w inside the lambda body would re-run
    the whole split per element — the O(len²) interpreted-HOF trap. The
    zip_with pads the shifted side with NULLs; those non-grams are
    filtered after the chain."""
    sz = F.size(w)
    g = w
    for k in range(1, n):
        g = F.zip_with(
            g, F.slice(w, k + 1, sz),
            lambda a, b: F.when(a.isNotNull() & b.isNotNull(),
                                F.concat(a, F.lit(" "), b)))
    return F.filter(g, lambda x: x.isNotNull())


def _max_run(arr: Column) -> Column:
    """Highest multiplicity of any element: sort, then one fold counting the
    longest equal-run. Map-side only — the per-document mode never shuffles
    (the SQL oracle computes the same integer relationally via
    unnest + GROUP BY + max(count); counts are counts either way)."""
    return F.aggregate(
        F.array_sort(arr),
        F.struct(F.lit("").alias("prev"),
                 F.lit(0).cast("int").alias("run"),
                 F.lit(0).cast("int").alias("best")),
        lambda acc, g: F.struct(
            g.alias("prev"),
            F.when(g == acc["prev"], acc["run"] + 1)
            .otherwise(F.lit(1)).alias("run"),
            F.greatest(acc["best"],
                       F.when(g == acc["prev"], acc["run"] + 1)
                       .otherwise(F.lit(1))).alias("best")),
        lambda acc: acc["best"])


def repetition_table(docs: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Intra-document repetition signals (the Gopher repetition rules,
    token-count basis): duplicate-word fraction, the corpus share of the
    single most-repeated 2-/3-gram, and duplicate-sentence fraction — the
    standard pre-training filters for boilerplate / listicle / generated-
    text pages. All integer basis points (bit-exact cross-engine).

    Plan shape: pure per-row column expressions — no shuffle, no Python;
    at 100 TB this runs map-side inside the same scan as the other quality
    features. Each higher-order fold is used by exactly ONE output column
    (the HOF no-CSE rule), with the shared word array recomputed per
    column by split() — cheap relative to the folds it feeds.
    """
    t = F.col(text_col)
    w = words(t)
    n_words = F.size(w)
    n_distinct = F.size(F.array_distinct(w))
    sents = F.split(t, r"\. ")
    n_sents = F.size(sents)
    n_distinct_sents = F.size(F.array_distinct(sents))
    return (
        docs.select(
            F.col(id_col),
            n_words.alias("__nw"),
            n_distinct.alias("__nd"),
            _max_run(_word_grams(w, 2)).alias("__r2"),
            _max_run(_word_grams(w, 3)).alias("__r3"),
            n_sents.alias("__ns"),
            n_distinct_sents.alias("__nds"),
        )
        .select(
            id_col,
            F.col("__nw").alias("n_words"),
            F.expr("(cast(__nw - __nd as bigint) * 10000) div __nw")
            .alias("dup_word_bp"),
            F.expr("(cast(__r2 as bigint) * 2 * 10000) div __nw")
            .alias("top2gram_bp"),
            F.expr("(cast(__r3 as bigint) * 3 * 10000) div __nw")
            .alias("top3gram_bp"),
            F.expr("(cast(__ns - __nds as bigint) * 10000) div __ns")
            .alias("dup_sent_bp"),
        )
    )


# --------------------------------------------------------------------------
# Benchmark contamination (eval-set n-gram overlap)
# --------------------------------------------------------------------------

CONTAM_NGRAM = 8


def _gram_hash_set(text: Column, n: int) -> Column:
    """Distinct md5-60 hashes of the text's word n-grams (the texthash
    construction, so the SQL oracle regenerates identical values)."""
    from ..functions.texthash import md5_hash60
    return F.array_distinct(
        F.transform(_word_grams(words(text), n), md5_hash60))


def contamination_table(docs: DataFrame, bench: DataFrame,
                        n: int = CONTAM_NGRAM,
                        id_col: str = "doc_id", text_col: str = "text",
                        bench_text_col: str = "text") -> DataFrame:
    """Benchmark-contamination detection: for every document, how many of
    its distinct word ``n``-grams appear anywhere in the evaluation set
    ``bench`` — the standard decontamination pass a pre-training pipeline
    runs before finalizing a corpus (13-gram in the PaLM/GPT-3 reports;
    ``n`` is a knob). Returns (id, n_grams, n_hit_grams, contam_bp).

    Scale shape: the benchmark gram set is small by construction (eval
    suites are ~10^6-10^7 grams) → built once and BROADCAST; the corpus
    side is a map-side explode of per-doc distinct gram hashes into a
    broadcast equi-join, and the only corpus-sized shuffle carries
    (doc_id, count) partial aggregates of the HIT rows only. The per-doc
    gram array is materialized behind a lazy localCheckpoint because two
    consumers derive from it (the size column and the exploded join) —
    CollapseProject would otherwise inline the expensive hash transform
    into both.
    """
    base = docs.select(
        F.col(id_col),
        _gram_hash_set(F.col(text_col), n).alias("__g"),
    ).localCheckpoint(eager=False)
    bench_set = (bench
                 .select(F.explode(
                     _gram_hash_set(F.col(bench_text_col), n)).alias("gh"))
                 .distinct())
    hits = (base.select(F.col(id_col), F.explode("__g").alias("gh"))
            .join(F.broadcast(bench_set), "gh")
            .groupBy(id_col)
            .agg(F.count("*").alias("n_hit_grams")))
    return (base.select(F.col(id_col), F.size("__g").alias("n_grams"))
            .join(hits, id_col, "left")
            .withColumn("n_hit_grams",
                        F.coalesce(F.col("n_hit_grams").cast("int"), F.lit(0)))
            .withColumn("contam_bp", F.expr(
                # a doc shorter than n words has zero grams — ANSI mode
                # makes a bare `div` throw on it, so guard to 0
                "case when n_grams = 0 then 0 else"
                " (cast(n_hit_grams as bigint) * 10000) div n_grams end")))
