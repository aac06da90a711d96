"""Corpus-scale document deduplication operators.

The reference deduplicates its (tiny) catalog three ways — exact unique key
(database/create_science_table.sql:19), content MD5 (src/database_manager.py:
28-46 tier 2), and all-pairs token-Jaccard titles (check_duplicates.py:50-57).
At 100 TB those generalize to the standard training-data dedup ladder, each
implemented here as declarative DataFrame dataflow:

- exact:        md5(text) group-by, first occurrence wins (shuffle on hash,
                map-side partial agg; at scale the hash column is the Iceberg
                partition/bucket key so the groupBy is co-located).
- n-gram Jaccard: exact pairwise verification on *candidate* pairs only.
- MinHash+LSH:  shingle → minhash signature → band → bucket join; the only
                all-pairs-free near-dup join that survives 10^10 docs. Built
                on md5-derived token hashes (functions/texthash.py) so every
                signature is SQL-oracle-checkable.
- SimHash:      16-bit vectorized signature; hamming-adjacent buckets.
- embedding near-dup: cosine >= threshold pair join (brute force for
                correctness; similarity.lsh_buckets for the scale path).

All heavy lifting is JVM-side column expressions (higher-order functions) —
no Python UDFs anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.texthash import MERSENNE_31, md5_hash60, perm_coeffs

N_PERMS = 16
N_BANDS = 4
ROWS_PER_BAND = N_PERMS // N_BANDS


def words(text: Column) -> Column:
    """Whitespace tokens, lowercased (reference check_duplicates.py:52-53
    lowercases before set ops)."""
    return F.split(F.lower(text), " ")


def distinct_token_hashes(text: Column) -> Column:
    """Distinct 60-bit token hashes for one document, sorted (sorting makes
    downstream aggregate() results order-independent of the input)."""
    return F.array_sort(
        F.transform(F.array_distinct(words(text)), md5_hash60))


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------

def exact_dedup(docs: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """First-occurrence exact dedup on md5(text): one survivor per distinct
    content hash (min id = 'first' under the corpus's monotone ids; the crawl
    engine's order-sensitive variant is dedup.first_occurrence)."""
    return (
        docs.select(F.col(id_col),
                    F.md5(F.encode(F.col(text_col), "UTF-8")).alias("text_hash"))
        .groupBy("text_hash")
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("n_copies"))
    )


# --------------------------------------------------------------------------
# Word n-gram Jaccard (exact verification kernel)
# --------------------------------------------------------------------------

def ngram_set(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles of one document (a doc shorter than n
    words yields its single truncated gram — the SQL oracles mirror this).

    Grams come from the zip_with-of-shifted-slices chain
    (textstats._word_grams): the split array sits in HOF *argument*
    position, evaluated ~n times per ROW — the previous
    transform(sequence, i -> slice(w, i, n)) form re-ran the whole split
    inside the lambda body once per start position, O(len²) in the
    interpreted evaluator (the CLAUDE.md HOF trap), which sat under every
    MinHash signature build."""
    from .textstats import _word_grams
    w = words(text)
    return F.array_distinct(
        F.when(F.size(w) < n, F.array(F.concat_ws(" ", w)))
        .otherwise(_word_grams(w, n)))


def jaccard_counts(a: Column, b: Column) -> tuple[Column, Column]:
    """(|a ∩ b|, |a ∪ b|) on distinct-element arrays — integers, so
    thresholding and oracle comparison are engine-exact (no float division
    anywhere in the dedup path; reference check_duplicates.py:52-57
    semantics, generalized from titles)."""
    inter = F.size(F.array_intersect(a, b))
    return inter, F.size(a) + F.size(b) - inter


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3, threshold: float = 0.8,
                        text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """All-pairs n-gram Jaccard >= threshold (a_id < b_id).

    Quadratic — the *verification* kernel. At scale it only ever runs on the
    candidate pairs emitted by minhash_lsh_pairs; run standalone solely on
    bounded slices (the oracle-checked query uses a 150-doc slice).
    """
    base = docs.select(F.col(id_col).alias("id"),
                       ngram_set(F.col(text_col), n).alias("grams"))
    a = base.select(F.col("id").alias("a_id"), F.col("grams").alias("a_grams"))
    b = base.select(F.col("id").alias("b_id"), F.col("grams").alias("b_grams"))
    inter, union = jaccard_counts(F.col("a_grams"), F.col("b_grams"))
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .withColumn("n_inter", inter).withColumn("n_union", union)
        # integer-exact threshold: inter/union >= t  ⇔  inter*10^4 >= t_bp*union
        .filter(F.col("n_inter") * 10000 >= F.lit(int(threshold * 10000)) * F.col("n_union"))
        .select("a_id", "b_id", "n_inter", "n_union")
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

SHINGLE_N = 3  # word n-gram width for minhash signatures


def distinct_shingle_hashes(text: Column, n: int = SHINGLE_N) -> Column:
    """Distinct 60-bit word-n-gram shingle hashes for one document, sorted.

    Shingles (not unigram tokens) are the signature base: token-bag-similar
    but reordered documents then stop colliding in every band, which is both
    the standard near-dup semantic (Gopher/RefinedWeb-style n-gram MinHash)
    and the fix for band-bucket candidate explosion on token-similar corpora.
    """
    return F.array_sort(F.transform(ngram_set(text, n), md5_hash60))


def minhash_signature(text: Column, n_perms: int = N_PERMS) -> Column:
    """Array of n_perms minhash values over the doc's distinct shingle hashes.

    ONE pass over the shingle array: fold with an n_perms-wide running-min
    accumulator. The shingle construction must sit *outside* every lambda —
    a HOF lambda body is re-evaluated per element, so the naive per-perm
    ``array_min(transform(th, ...))`` forms evaluate the whole shingle
    build n_perms times per row (measured 13s vs <1s on the bench corpus).
    """
    th = distinct_shingle_hashes(text)
    coeffs = F.array(*[
        F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
        for a, b in perm_coeffs(n_perms)])
    init = F.array_repeat(F.lit(MERSENNE_31).cast("long"), n_perms)
    return F.aggregate(
        th, init,
        lambda acc, h: F.zip_with(
            acc, coeffs,
            lambda m, c: F.least(m, (c["a"] * h + c["b"]) % F.lit(MERSENNE_31))))


def minhash_bands(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  n_bands: int = N_BANDS,
                  rows_per_band: int = ROWS_PER_BAND) -> DataFrame:
    """One row per (doc, band): band signature = joined minhash slice.

    This is the shuffle-key materialization: at 10^10 docs the band table is
    bucketed by (band, sig) so the candidate self-join is co-located.
    """
    sig = docs.select(
        F.col(id_col).alias("id"),
        minhash_signature(F.col(text_col), n_bands * rows_per_band).alias("mh"))
    # one reference to mh in the whole expression: per-band structs built by
    # a transform over band indices (16 element_at references would make
    # CollapseProject inline — and re-evaluate — the signature 16× per row)
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(n_bands - 1)),
        lambda bi: F.struct(
            bi.cast("int").alias("band"),
            F.array_join(
                F.transform(
                    F.slice(F.col("mh"), bi * rows_per_band + 1,
                            F.lit(rows_per_band)),
                    lambda v: v.cast("string")),
                ",").alias("sig")))
    return (sig.select("id", F.explode(bands).alias("b"))
            .select("id", F.col("b.band").alias("band"), F.col("b.sig").alias("sig")))


def minhash_lsh_pairs(docs: DataFrame, threshold: float = 0.5,
                      text_col: str = "text", id_col: str = "doc_id",
                      n: int = SHINGLE_N) -> DataFrame:
    """Near-dup pairs via LSH banding + exact verification.

    shingle → minhash → band → bucket self-join (candidates share >= 1 band)
    → exact shingle-set Jaccard filter at ``threshold`` (n-gram semantics
    end-to-end — what the signature estimates is what the verifier checks).
    Distinct-pairs set, (a_id < b_id). The bucket join shuffles on
    (band, sig) — skew-safe because a band value that collapses to one giant
    bucket is itself evidence of near-duplicate mass; AQE skew-split handles
    the join, and the verification filter caps output. No all-pairs stage
    anywhere.
    """
    # materialize: both sides of the bucket self-join, and both verify
    # joins, would otherwise recompute the signature/shingle arrays
    bands = minhash_bands(docs, text_col, id_col).localCheckpoint(eager=False)
    cand = (
        bands.alias("x")
        .join(bands.alias("y"),
              (F.col("x.band") == F.col("y.band"))
              & (F.col("x.sig") == F.col("y.sig"))
              & (F.col("x.id") < F.col("y.id")))
        .select(F.col("x.id").alias("a_id"), F.col("y.id").alias("b_id"))
        .distinct()
    )
    base = docs.select(F.col(id_col).alias("id"),
                       ngram_set(F.col(text_col), n).alias("grams")) \
        .localCheckpoint(eager=False)
    inter, union = jaccard_counts(F.col("a_grams"), F.col("b_grams"))
    return (
        cand
        .join(base.select(F.col("id").alias("a_id"), F.col("grams").alias("a_grams")), "a_id")
        .join(base.select(F.col("id").alias("b_id"), F.col("grams").alias("b_grams")), "b_id")
        .withColumn("n_inter", inter).withColumn("n_union", union)
        .filter(F.col("n_inter") * 10000 >= F.lit(int(threshold * 10000)) * F.col("n_union"))
        .select("a_id", "b_id", "n_inter", "n_union")
    )


# --------------------------------------------------------------------------
# Exact repeated-substring coverage (Lee et al., "Deduplicating Training
# Data Makes Language Models Better", ACL 2022 — the substring-level rung
# of the dedup ladder: a doc pair can share a long verbatim passage while
# being document-level unique under every operator above)
# --------------------------------------------------------------------------

DUP_SPAN_N = 20  # minimum duplicated run, in word tokens


def duplicated_spans(docs: DataFrame, n: int = DUP_SPAN_N,
                     min_count: int = 2,
                     text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Per-document coverage of word spans duplicated across the corpus.

    A position is DUPLICATED when the ``n``-gram starting there occurs at
    least ``min_count`` times corpus-wide (within-doc repeats count — the
    Lee et al. semantic: any repeated substring, wherever its twin lives).
    Overlapping/adjacent duplicated grams merge into maximal spans
    (gaps-and-islands: every marked start extends coverage to pos + n, so
    a new span begins only when a start exceeds the previous start by
    more than n). Returns (doc_id, n_tokens, n_spans, dup_tokens,
    dup_token_bp) for EVERY document — clean docs carry zeros — ready to
    drive the standard "drop or trim documents past X% duplicated"
    filter. Integer basis points; exact SQL oracle.

    Gram key: ``md5_hash60`` reduced mod 2^31 − 1, so the key is 31 bits
    wide and distinct grams collide. Two grams that share a key count as
    one, so a gram that occurs once is marked duplicated when its key
    twin occurs at all: with N distinct grams about N² / 2^32 key pairs
    collide. On the sf0.1 documents this puts 169,815 distinct 20-grams
    into 8 colliding buckets and falsely marks 15 grams. The SQL oracle
    uses the same reduced key, so it cannot see these.

    Scale shape: the occurrence table is (doc_id, pos, gh) — one id-only
    row per token position, never gram STRINGS past the map side (the
    key is computed inside the scan projection). Three key-hash
    shuffles, all id-sized: the corpus-wide gram count (map-side partial
    agg on the gram key), the mark join back (key → positions), and
    the per-doc window (positions sort within their own document). No
    all-pairs stage, no suffix array — the n-gram-anchor relaxation of
    the paper's suffix automaton, exact for runs ≥ n by construction
    (every duplicated run of length L ≥ n is covered by its L - n + 1
    duplicated starts; runs < n are invisible, the operator's documented
    resolution floor)."""
    from .textstats import _word_grams

    w = words(F.col(text_col))
    grams = F.transform(_word_grams(w, n), md5_hash60)
    # two consumers (the corpus-wide count and the mark join): checkpoint
    # so the posexplode → md5 scan runs once, not once per branch
    occ = (docs.select(F.col(id_col),
                       F.posexplode(grams).alias("pos", "gh"))
           .localCheckpoint(eager=False))
    dup = (occ.groupBy("gh").agg(F.count("*").alias("__c"))
           .filter(F.col("__c") >= min_count).select("gh"))
    marked = occ.join(dup, "gh").select(id_col, "pos")
    wd = Window.partitionBy(id_col).orderBy("pos")
    isl = (marked
           .withColumn("__prev", F.lag("pos").over(wd))
           .withColumn("__new",
                       F.when(F.col("__prev").isNull()
                              | (F.col("pos") > F.col("__prev") + n),
                              1).otherwise(0))
           .withColumn("__isl", F.sum("__new").over(
               wd.rowsBetween(Window.unboundedPreceding, 0))))
    spans = isl.groupBy(id_col, "__isl").agg(
        F.min("pos").alias("__s"),
        (F.max("pos") + F.lit(n)).alias("__e"))
    perdoc = spans.groupBy(id_col).agg(
        F.sum(F.col("__e") - F.col("__s")).alias("dup_tokens"),
        F.count("*").alias("n_spans"))
    alldocs = docs.select(F.col(id_col), F.size(w).alias("n_tokens"))
    return (alldocs.join(perdoc, id_col, "left")
            .select(
                id_col, "n_tokens",
                F.coalesce(F.col("n_spans"), F.lit(0)).alias("n_spans"),
                F.coalesce(F.col("dup_tokens"), F.lit(0)).alias("dup_tokens"))
            .withColumn("dup_token_bp", F.expr(
                "(dup_tokens * 10000) div n_tokens")))


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

SIMHASH_BITS = 16


def simhash(text: Column, n_bits: int = SIMHASH_BITS) -> Column:
    """n_bits-wide SimHash over distinct token hashes: bit i set iff the
    (+1/-1) vote of all token hashes' bit i is positive.

    ONE pass over the token-hash array: fold with an n_bits-wide *signed*
    vote accumulator (+1 when the hash has bit i, else -1), so no separate
    total is needed (ones > zeros ⇔ 2*ones > total). The token-hash build
    sits outside every lambda — per-bit ``filter(th, ...)`` forms would
    re-evaluate it n_bits times per row (HOF lambda bodies are re-evaluated
    per element)."""
    th = distinct_token_hashes(text)
    masks = F.array(*[F.lit(1 << i).cast("long") for i in range(n_bits)])
    votes = F.aggregate(
        th, F.array_repeat(F.lit(0).cast("long"), n_bits),
        lambda acc, h: F.zip_with(
            acc, masks,
            lambda v, m: v + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1)))
    packed = F.zip_with(votes, masks,
                        lambda v, m: F.when(v > 0, m).otherwise(F.lit(0).cast("long")))
    return F.aggregate(packed, F.lit(0).cast("long"), lambda a, x: a + x)


def simhash_table(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id") -> DataFrame:
    return docs.select(F.col(id_col),
                       simhash(F.col(text_col)).alias("simhash"))


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 2,
                       text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """All pairs within hamming distance ``max_hamming`` (<= 2).

    Pigeonhole banding: <= 2 differing bits over THREE disjoint bit pieces
    means at least one piece matches exactly (two halves would miss the 1+1
    split), so exact-match bucket joins on each 6/5/5-bit piece generate a
    complete candidate set; bit_count on the xor verifies. Three key-hash
    shuffles, no all-pairs stage."""
    t = simhash_table(docs, text_col, id_col)
    pieces = [
        F.col("simhash") % 64,                        # bits 0-5
        (F.col("simhash") / 64).cast("long") % 32,    # bits 6-10
        (F.col("simhash") / 2048).cast("long"),       # bits 11-15
    ]
    # one exploded (piece_idx, piece_val) key → ONE bucket self-join shuffle
    # (three per-piece joins + union would pay three exchanges and three
    # join stages for the same candidate set)
    keyed = t.select(
        id_col, "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("pi"), p.alias("pv"))
            for i, p in enumerate(pieces)])).alias("pc"),
    ).select(id_col, "simhash",
             F.col("pc.pi").alias("pi"), F.col("pc.pv").alias("pv")) \
        .localCheckpoint(eager=False)
    return (
        keyed.alias("x").join(
            keyed.alias("y"),
            (F.col("x.pi") == F.col("y.pi")) & (F.col("x.pv") == F.col("y.pv"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")))
        .select(F.col(f"x.{id_col}").alias("a_id"),
                F.col(f"y.{id_col}").alias("b_id"),
                F.col("x.simhash").alias("a_sim"),
                F.col("y.simhash").alias("b_sim"))
        .distinct()
        .withColumn("hamming", F.bit_count(
            F.col("a_sim").bitwiseXOR(F.col("b_sim"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("a_id", "b_id", "hamming")
    )


# --------------------------------------------------------------------------
# Embedding cosine near-dup
# --------------------------------------------------------------------------

def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(v: Column) -> Column:
    return F.sqrt(_dot(v, v))


def cosine(a: Column, b: Column) -> Column:
    return _dot(a, b) / (l2_norm(a) * l2_norm(b))


def embedding_near_dup_pairs(emb: DataFrame, threshold: float = 0.95,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding") -> DataFrame:
    """Brute-force cosine near-dup pairs (correctness baseline; the scale
    path buckets with similarity.lsh_bucket first so the self-join is
    per-bucket, not all-pairs)."""
    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    a = base.select(F.col("id").alias("a_id"), F.col("v").alias("a_v"))
    b = base.select(F.col("id").alias("b_id"), F.col("v").alias("b_v"))
    return (
        a.join(b, F.col("a_id") < F.col("b_id"))
        .withColumn("cos", cosine(F.col("a_v"), F.col("b_v")))
        .filter(F.col("cos") >= threshold)
        .select("a_id", "b_id", F.round("cos", 4).alias("cos_sim"))
    )


# --------------------------------------------------------------------------
# Near-dup cluster assignment (transitive closure of the pair sets)
# --------------------------------------------------------------------------

def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.union(edges.select(F.col("v").alias("u"),
                                    F.col("u").alias("v")))


def _large_star(edges: DataFrame) -> DataFrame:
    """Attach every strictly-greater neighbor of u to min({u} ∪ Γ(u))."""
    sym = _symmetrize(edges)
    mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
            .select("u", F.least(F.col("u"), F.col("mn")).alias("m")))
    return (sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .distinct())


def _small_star(edges: DataFrame) -> DataFrame:
    """Attach every smaller-or-equal neighbor of u (and u itself) to
    min of u's smaller neighborhood."""
    oriented = (edges.select(F.greatest("u", "v").alias("u"),
                             F.least("u", "v").alias("v"))
                .distinct())
    mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
    leaves = (oriented.join(mins, "u")
              .filter(F.col("v") != F.col("m"))
              .select(F.col("v").alias("u"), F.col("m").alias("v")))
    centers = mins.select("u", F.col("m").alias("v"))
    return leaves.union(centers).distinct()


def near_dup_clusters(pairs: DataFrame, a_col: str = "a_id",
                      b_col: str = "b_id", max_rounds: int = 24) -> DataFrame:
    """Transitive closure of a near-dup pair set → (doc_id, cluster_id).

    The closure step every real dedup pipeline runs after LSH emits pairs
    (the reference's all-pairs check_duplicates.py:50-57 report IS this
    step at toy scale — it prints groups of mutually-similar titles):
    alternating large-star / small-star min-label contraction (Kiveris et
    al., "Connected Components in MapReduce and Beyond", SoCC'14). Each
    round is two groupBy shuffles keyed on a single long node id over
    id-ONLY edges — no text, no vectors, no driver-side graph — and the
    edge set contracts to a star rooted at each component's min id in
    O(log² n) rounds, so a 10⁶-long chain of drifting near-dups needs
    ~⌈log²⌉ rounds, not diameter rounds like naive label propagation.

    The driver-side loop is bounded by max_rounds; its only per-round
    action collects ONE (count, hash-sum) checksum row for convergence
    detection, and each round is lazily localCheckpoint-ed so lineage
    stays flat (the checksum action materializes it). Returns one row per
    non-singleton node: cluster_id = min doc id of the component — the
    same min-wins survivor rule as exact_dedup, so the two rungs of the
    ladder agree on which copy survives. Callers union singletons back as
    their own roots (see plans/contract.q_dedup_clusters).
    """
    edges = (pairs.select(F.col(a_col).cast("long").alias("u"),
                          F.col(b_col).cast("long").alias("v"))
             .filter(F.col("u") != F.col("v"))
             .distinct())
    prev = None
    for _ in range(max_rounds):
        edges = _small_star(_large_star(edges)).localCheckpoint(eager=False)
        row = edges.agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                       F.lit(0).cast("decimal(38,0)")).alias("h")).collect()[0]
        cur = (row["n"], row["h"])
        if cur == prev:     # star fixpoint: every edge is (member, root)
            break
        prev = cur
    roots = edges.select(F.col("v").alias("doc_id"),
                         F.col("v").alias("cluster_id")).distinct()
    members = edges.select(F.col("u").alias("doc_id"),
                           F.col("v").alias("cluster_id"))
    return members.union(roots)
