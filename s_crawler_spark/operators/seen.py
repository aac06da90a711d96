"""Partitioned URL-seen set: Bloom/cuckoo filter shards + exact backstop.

Replaces the reference's ``uk_doi`` unique key + per-row ``SELECT id WHERE
doi=%s`` probes (reference database/create_science_table.sql:19,
src/database_manager.py:177-189) with the north rule's 10^10-key design:

- the *exact* seen table ``seen(url_hash, url, wave)`` is the source of truth
  (correctness gate: Bloom false positives must never drop a URL the
  reference would crawl — SURVEY.md §7 Phase 3);
- *filter shards* ``seen_shards(shard_id, kind, bits, n_items)`` are a
  shuffle-avoidance layer: candidates that miss the filter are definitively
  new and skip the exact anti-join; only filter-positives (true dups + the
  ~1% false positives) shuffle into the exact backstop join.

Sizing: 10^10 keys at 10 bits/key ≈ 12.5 GB of filter split into shards of
about 2^27 keys (~160 MB/shard), so choose ``n_shards`` ≈ expected seen keys
/ 2^27 (10^10 keys → about 75); shards are co-partitioned
with candidates by ``pmod(url_hash, n_shards)`` so the probe is a 1:1
shard-local join + Arrow kernel — no broadcast of the full filter, no skew
(hash sharding is uniform by construction).

Spark's internal BloomFilter aggregate is not exposed as a SQL function in
this build, so the filter kernels are numpy-vectorized pandas UDFs (double
hashing over the already-computed ``xxhash64`` key — zero extra string
hashing). The cuckoo variant adds deletability at ~the same space.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_BITS_PER_KEY = 10     # ~1% fp at k=7
DEFAULT_K = 7

_MIX = np.uint64(0x9E3779B97F4A7C15)

# Bump whenever the position/index derivation below changes: stored blobs
# are only probe-able by the EXACT kernel revision that built them (an old
# blob probed with a new kernel yields false NEGATIVES, which bypass the
# exact backstop). The crawl loop commits this in the seen_shards snapshot
# metadata and full-rebuilds on mismatch, same as an n_shards change.
# rev 2: h1/i1 derive from a mixed key — the raw key's low bits are FIXED
# within a shard under pmod(key, n_shards) routing, so raw-key indexing
# concentrated bloom position 0 (and ALL cuckoo primary buckets) into
# 1/n_shards of each table: ~8x-congested cuckoo primaries fail kick
# chains near design load, and the bloom fp rate ran ~2x its sizing.
# rev 3: cuckoo fingerprints derive from the mixed key too — the raw key's
# top 16 bits are 0 for every key below 2^48, so all such keys shared one
# fingerprint and one bucket pair, and 9 of them overflowed a build.
FILTER_REV = 3


def _mix64(keys: np.ndarray) -> np.ndarray:
    """Full-avalanche 64-bit finalizer (murmur3/splitmix fmix): every
    output bit depends on every input bit, so shard-routing's fixed low
    bits stop constraining table indices."""
    with np.errstate(over="ignore"):
        h = keys.astype(np.uint64).copy()
        h ^= h >> np.uint64(33)
        h *= np.uint64(0xFF51AFD7ED558CCD)
        h ^= h >> np.uint64(33)
        h *= np.uint64(0xC4CEB9FE1A85EC53)
        h ^= h >> np.uint64(33)
        return h


def _h2(keys: np.ndarray) -> np.ndarray:
    """Second hash for double hashing (Kirsch–Mitzenmacher)."""
    with np.errstate(over="ignore"):
        h = keys * _MIX
        return (h ^ (h >> np.uint64(33))) | np.uint64(1)


def _bloom_positions(keys: np.ndarray, n_bits: int, k: int):
    h1 = _mix64(keys)
    h2 = _h2(keys.astype(np.uint64))
    nb = np.uint64(n_bits)
    with np.errstate(over="ignore"):
        for i in range(k):
            yield ((h1 + np.uint64(i) * h2) % nb).astype(np.int64)


def bloom_build(keys: np.ndarray, n_bits: int, k: int = DEFAULT_K) -> bytes:
    n_bits = ((n_bits + 7) // 8) * 8  # byte-aligned so probe recovers it exactly
    bits = np.zeros(n_bits // 8, dtype=np.uint8)
    for pos in _bloom_positions(keys, n_bits, k):
        np.bitwise_or.at(bits, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    return bits.tobytes()


def bloom_add(bits: bytes, keys: np.ndarray, k: int = DEFAULT_K) -> bytes:
    """OR new keys into an existing filter (same n_bits ⇒ same positions, so
    ``bloom_add(bloom_build(A), B) == bloom_build(A ∪ B)`` at equal sizing —
    the incremental-maintenance identity update_shards relies on)."""
    arr = np.frombuffer(bits, dtype=np.uint8).copy()
    n_bits = len(arr) * 8
    for pos in _bloom_positions(keys, n_bits, k):
        np.bitwise_or.at(arr, pos >> 3, np.uint8(1) << (pos & 7).astype(np.uint8))
    return arr.tobytes()


def bloom_probe(bits: bytes, keys: np.ndarray, k: int = DEFAULT_K) -> np.ndarray:
    arr = np.frombuffer(bits, dtype=np.uint8)
    n_bits = len(arr) * 8
    hit = np.ones(len(keys), dtype=bool)
    for pos in _bloom_positions(keys, n_bits, k):
        hit &= (arr[pos >> 3] & (np.uint8(1) << (pos & 7).astype(np.uint8))) != 0
    return hit


# --------------------------------------------------------------------------
# Cuckoo filter (deletable alternative; kind='cuckoo')
# 16-bit fingerprints, 4 slots/bucket, partial-key cuckoo hashing.
# --------------------------------------------------------------------------

_CK_SLOTS = 4
_CK_MAX_KICKS = 500
_CK_MAX_GROWTH = 8  # n_buckets doublings before cuckoo_build gives up


def _ck_fingerprint(keys: np.ndarray) -> np.ndarray:
    fp = ((_mix64(keys) >> np.uint64(48)) & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = 1  # 0 marks an empty slot
    return fp


def _ck_index2(i1: np.ndarray, fp: np.ndarray, n_buckets: int) -> np.ndarray:
    """Partial-key alternate bucket. n_buckets MUST be a power of two so that
    ``alt(alt(i)) == i`` (XOR under a mask is an involution; a modulo is not —
    kicked items would land in buckets the probe never checks)."""
    with np.errstate(over="ignore"):
        return (i1 ^ (fp.astype(np.uint64) * _MIX)) & np.uint64(n_buckets - 1)


def _pow2_at_least(n: int) -> int:
    return 1 << max(4, (n - 1).bit_length())


def _bulk_place(table: np.ndarray, fps: np.ndarray,
                idxs: np.ndarray) -> np.ndarray:
    """Place fps[j] into bucket idxs[j] wherever capacity allows, fully
    vectorized; returns the placed mask. Per bucket, keys fill its free
    slots in input order (stable sort), so the layout is deterministic.
    One numpy pass replaces a per-key Python loop — at the documented
    2^27-keys-per-shard sizing the loop was ~10^8 interpreter iterations
    per shard build."""
    n = len(idxs)
    order = np.argsort(idxs, kind="stable")
    sidx = idxs[order]
    # boundaries from the already-sorted run (np.unique would re-sort)
    first = (np.concatenate(([0], np.flatnonzero(sidx[1:] != sidx[:-1]) + 1))
             if n else np.zeros(0, dtype=np.int64))
    uniq = sidx[first]
    counts = np.diff(np.append(first, n))
    bucket_of = np.repeat(np.arange(len(uniq)), counts)
    rank = np.arange(n) - first[bucket_of]           # 0-based within bucket
    rows = table.reshape(-1, _CK_SLOTS)[uniq]
    free = (rows == 0).sum(axis=1)
    ok = rank < free[bucket_of]                      # fits a free slot
    # the rank-th free slot of each bucket: argsort(occupied) lists free
    # slot positions first, in slot order
    free_pos = np.argsort(rows != 0, axis=1, kind="stable")
    slot = free_pos[bucket_of[ok], rank[ok]]
    table[idxs[order[ok]] * _CK_SLOTS + slot] = fps[order[ok]]
    placed = np.zeros(n, dtype=bool)
    placed[order[ok]] = True
    return placed


def _cuckoo_insert_all(table: np.ndarray, keys: np.ndarray) -> bool:
    """Insert keys into an existing table in place; False on kick failure.
    Deterministic: the bulk rounds fill free slots in input order and the
    kick RNG starts from a fixed seed per call, so the same (table, keys)
    always yields the same layout. Shape: two vectorized rounds (primary
    buckets, then alternates for the spill) place everything below ~0.8
    load; only the residue walks the per-key kick loop."""
    n_buckets = len(table) // _CK_SLOTS
    rng_state = np.uint64(0x2545F4914F6CDD1D)  # deterministic kick choice
    fps = _ck_fingerprint(keys.astype(np.uint64))
    # primary bucket from the MIXED key (FILTER_REV 2): raw-key modulo
    # concentrates every in-shard primary into 1/n_shards of the table
    i1s = _mix64(keys) % np.uint64(n_buckets)
    i2s = _ck_index2(i1s, fps, n_buckets)
    remaining = np.arange(len(fps))
    for idxs in (i1s, i2s):
        if not len(remaining):
            return True
        placed = _bulk_place(table, fps[remaining],
                             idxs[remaining].astype(np.int64))
        remaining = remaining[~placed]
    for j in remaining:
        fp, i1 = fps[j], i1s[j]
        placed = False
        for idx in (int(i1), int(_ck_index2(np.uint64(i1), np.uint16(fp), n_buckets))):
            row = table[idx * _CK_SLOTS:(idx + 1) * _CK_SLOTS]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = fp
                placed = True
                break
        if placed:
            continue
        idx, cur = int(i1), np.uint16(fp)
        for kick in range(_CK_MAX_KICKS):
            with np.errstate(over="ignore"):
                rng_state = rng_state * np.uint64(6364136223846793005) + np.uint64(1442695040888963407)
            slot = int(rng_state >> np.uint64(60)) % _CK_SLOTS
            pos = idx * _CK_SLOTS + slot
            cur, table[pos] = table[pos], cur
            idx = int(_ck_index2(np.uint64(idx), cur, n_buckets))
            row = table[idx * _CK_SLOTS:(idx + 1) * _CK_SLOTS]
            empty = np.nonzero(row == 0)[0]
            if len(empty):
                row[empty[0]] = cur
                cur = None
                break
        if cur is not None:
            return False
    return True


def cuckoo_build(keys: np.ndarray, n_buckets: int) -> bytes:
    """A table of at least ``n_buckets`` buckets holding each distinct key
    once (copies of one key share a bucket pair no size can hold). A kick
    chain failure — skewed keys crowding one bucket pair — doubles the
    table and retries; keys that fit first time keep their layout."""
    keys = keys[np.sort(np.unique(keys, return_index=True)[1])]
    n_buckets = _pow2_at_least(n_buckets)
    for _ in range(_CK_MAX_GROWTH + 1):
        table = np.zeros(n_buckets * _CK_SLOTS, dtype=np.uint16)
        if _cuckoo_insert_all(table, keys):
            return table.tobytes()
        n_buckets *= 2
    raise RuntimeError("cuckoo filter over capacity after "
                       f"{_CK_MAX_GROWTH} doublings")


def cuckoo_add(bits: bytes, keys: np.ndarray) -> bytes | None:
    """Insert new keys into an existing cuckoo table; None when the table
    would exceed the 0.84 load factor its sizing assumed (or a kick chain
    fails) — the caller rebuilds that shard with headroom instead."""
    table = np.frombuffer(bits, dtype=np.uint16).copy()
    if np.count_nonzero(table) + len(keys) > 0.84 * len(table):
        return None
    return table.tobytes() if _cuckoo_insert_all(table, keys) else None


def cuckoo_probe(bits: bytes, keys: np.ndarray) -> np.ndarray:
    table = np.frombuffer(bits, dtype=np.uint16)
    n_buckets = len(table) // _CK_SLOTS
    keys = keys.astype(np.uint64)
    fps = _ck_fingerprint(keys)
    i1 = _mix64(keys) % np.uint64(n_buckets)
    i2 = _ck_index2(i1, fps, n_buckets)
    out = np.zeros(len(keys), dtype=bool)
    for s in range(_CK_SLOTS):
        out |= table[(i1.astype(np.int64)) * _CK_SLOTS + s] == fps
        out |= table[(i2.astype(np.int64)) * _CK_SLOTS + s] == fps
    return out


def cuckoo_delete(bits: bytes, keys: np.ndarray) -> bytes:
    """Remove keys (first matching slot per key). Returns new table bytes."""
    table = np.frombuffer(bits, dtype=np.uint16).copy()
    n_buckets = len(table) // _CK_SLOTS
    for key in keys.astype(np.uint64):
        fp = _ck_fingerprint(np.array([key], dtype=np.uint64))[0]
        i1 = _mix64(np.array([key], dtype=np.uint64))[0] % np.uint64(n_buckets)
        for idx in (int(i1), int(_ck_index2(i1, fp, n_buckets))):
            row = table[idx * _CK_SLOTS:(idx + 1) * _CK_SLOTS]
            hits = np.nonzero(row == fp)[0]
            if len(hits):
                row[hits[0]] = 0
                break
    return table.tobytes()


# --------------------------------------------------------------------------
# DataFrame-level operators
# --------------------------------------------------------------------------

SHARDS_SCHEMA = T.StructType([
    T.StructField("shard_id", T.IntegerType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("bits", T.BinaryType(), False),
    T.StructField("n_items", T.LongType(), False),
])


def _make_blob(keys: np.ndarray, kind: str, bits_per_key: int,
               headroom: float) -> bytes:
    """Size and build ONE filter blob — the single sizing formula for every
    blob-construction site (build_shards and update_shards' born/rebuild
    paths). update_shards' in-place capacity check
    ``(n_items + len(keys)) * bits_per_key <= len(blob) * 8`` is only sound
    while blobs are sized exactly here; never duplicate these formulas."""
    if kind == "cuckoo":
        n_buckets = max(16, int(len(keys) * headroom / (0.84 * _CK_SLOTS)) + 1)
        return cuckoo_build(keys, n_buckets)
    return bloom_build(keys, max(64, int(len(keys) * bits_per_key * headroom)))


def build_shards(seen: DataFrame, n_shards: int,
                 bits_per_key: int = DEFAULT_BITS_PER_KEY,
                 kind: str = "bloom",
                 key_col: str = "url_hash",
                 headroom: float = 1.0) -> DataFrame:
    """seen(url_hash,...) → seen_shards, one filter blob per hash shard.

    ``headroom`` over-sizes each blob by that factor so subsequent
    incremental ``update_shards`` waves can add keys in place before the
    shard's next amortized rebuild (1.0 = exact sizing, the one-shot path).

    Emits a row for EVERY shard id in [0, n_shards) — key-less shards get
    a minimal empty blob — so the table always spans its full id range and
    ``probe_shards``' max(shard_id)+1 inference recovers the build-time
    shard count exactly. (With empty top shards absent, an inferred
    smaller modulus would route candidates to the wrong blobs and produce
    false NEGATIVES that bypass the exact backstop.)
    """
    def make_shard(key, pdf: pd.DataFrame) -> pd.DataFrame:
        # boolean-masked, NOT a NULL sentinel key: a null in an int64
        # column makes pandas coerce the WHOLE column to float64, which
        # silently corrupts 64-bit hashes past 2^53
        keys = (pdf.loc[pdf["__real"].to_numpy(), key_col]
                .to_numpy(dtype=np.int64).astype(np.uint64))
        bits = _make_blob(keys, kind, bits_per_key, headroom)
        return pd.DataFrame({
            "shard_id": [int(key[0])], "kind": [kind],
            "bits": [bits], "n_items": [len(keys)],
        })

    # one marker sentinel per shard id forces every group to exist (masked
    # out by make_shard before hashing), in the same single pass — no
    # second job, no anti-join
    sentinels = (seen.sparkSession.range(n_shards)
                 .select(F.lit(0).cast("long").alias(key_col),
                         F.col("id").cast("int").alias("shard_id"),
                         F.lit(False).alias("__real")))
    return (
        seen.select(key_col)
        .withColumn("shard_id", F.pmod(F.col(key_col), F.lit(n_shards)).cast("int"))
        .withColumn("__real", F.lit(True))
        .unionByName(sentinels)
        .groupBy("shard_id")
        .applyInPandas(make_shard, schema=SHARDS_SCHEMA)
    )


_SHARDS_SCHEMA_NULLABLE = T.StructType([
    T.StructField("shard_id", T.IntegerType(), False),
    T.StructField("kind", T.StringType(), False),
    T.StructField("bits", T.BinaryType(), True),   # NULL = rebuild marker
    T.StructField("n_items", T.LongType(), False),
])


def update_shards(shards: DataFrame, new_keys: DataFrame, seen: DataFrame,
                  n_shards: int,
                  bits_per_key: int = DEFAULT_BITS_PER_KEY,
                  kind: str = "bloom",
                  key_col: str = "url_hash",
                  headroom: float = 2.0) -> DataFrame:
    """Incremental seen-shard maintenance: fold this wave's new keys into
    ONLY the shards they hash to and return those updated rows (the caller
    commits them as a keyed delta on ``shard_id``; untouched blobs are
    carried forward by the store's merge-on-read compose, never re-hashed,
    never shuffled — the O(wave) replacement for rebuilding every shard
    from the full seen set each wave).

    Shape: new keys → touched shard ids (a tiny broadcast) → left-semi
    prune of the blob table → COGROUP of (touched blobs × their new keys),
    same never-join-blobs-onto-rows rule as probe_shards. In-place add
    (bloom OR / cuckoo insert) while the blob has capacity; a shard past
    its sizing emits a rebuild marker and is rebuilt from ``seen``
    (post-wave state) with ``headroom`` over-sizing — the doubling
    amortization, so a hot shard rebuilds O(log growth) times, not every
    wave. ``seen`` is only scanned for marked shards (left-semi on
    shard_id; empty marker set ⇒ empty scan).
    """
    keyed = new_keys.select(
        F.col(key_col),
        F.pmod(F.col(key_col), F.lit(n_shards)).cast("int").alias("shard_id"))
    touched = keyed.select("shard_id").distinct()
    old_touched = shards.join(F.broadcast(touched), on="shard_id", how="left_semi")

    bpk, knd, hr = bits_per_key, kind, headroom  # plain closures only

    def upd(key, shard_pdf: pd.DataFrame, keys_pdf: pd.DataFrame) -> pd.DataFrame:
        ks = keys_pdf[key_col].to_numpy(dtype=np.int64).astype(np.uint64)
        if len(shard_pdf) == 0:
            # shard missing from the table (externally assembled id-gap
            # table — unreachable from the crawl loop, where build_shards
            # emits a row for EVERY id): emit a rebuild marker so the blob
            # is rebuilt from the FULL post-wave seen set below. Building
            # from this wave's new keys alone would drop any pre-existing
            # seen keys hashing here — persistent false negatives, the
            # direction the exact backstop can NOT catch.
            return pd.DataFrame({"shard_id": [int(key[0])], "kind": [knd],
                                 "bits": [None], "n_items": [len(ks)]})
        blob = shard_pdf["bits"].iloc[0]
        n_items = int(shard_pdf["n_items"].iloc[0])
        shard_kind = shard_pdf["kind"].iloc[0]
        if shard_kind == "cuckoo":
            new_bits = cuckoo_add(blob, ks)
        elif (n_items + len(ks)) * bpk <= len(blob) * 8:
            new_bits = bloom_add(blob, ks)
        else:
            new_bits = None  # over sizing capacity → rebuild marker
        return pd.DataFrame({"shard_id": [int(key[0])], "kind": [shard_kind],
                             "bits": [new_bits], "n_items": [n_items + len(ks)]})

    updated = (old_touched.groupBy("shard_id")
               .cogroup(keyed.groupBy("shard_id"))
               .applyInPandas(upd, schema=_SHARDS_SCHEMA_NULLABLE)
               .localCheckpoint(eager=False))  # consumers: ok + markers
    ok = updated.filter(F.col("bits").isNotNull())
    markers = updated.filter(F.col("bits").isNull()).select("shard_id", "kind")
    # rebuild each marked shard with ITS OWN stored kind (a cuckoo shard
    # must not silently come back as bloom just because the caller left
    # `kind` at its default): ONE cogroup of the markers against the
    # marked shards' post-wave keys, building with the marker row's kind —
    # every group has exactly one marker row (the key scan is semi-pruned
    # to marker ids), and an empty marker set prunes the seen scan to
    # nothing, so the common no-overflow wave costs one empty-input stage
    # rather than two full-sentinel build_shards subtrees.
    marked_src = (seen.select(key_col)
                  .withColumn("shard_id",
                              F.pmod(F.col(key_col), F.lit(n_shards)).cast("int"))
                  .join(F.broadcast(markers.select("shard_id")),
                        on="shard_id", how="left_semi"))

    def rebuild(key, marker_pdf: pd.DataFrame, keys_pdf: pd.DataFrame) -> pd.DataFrame:
        ks = keys_pdf[key_col].to_numpy(dtype=np.int64).astype(np.uint64)
        shard_kind = marker_pdf["kind"].iloc[0]
        return pd.DataFrame({
            "shard_id": [int(key[0])], "kind": [shard_kind],
            "bits": [_make_blob(ks, shard_kind, bpk, hr)],
            "n_items": [len(ks)],
        })

    rebuilt = (markers.groupBy("shard_id")
               .cogroup(marked_src.groupBy("shard_id"))
               .applyInPandas(rebuild, schema=SHARDS_SCHEMA))
    return ok.unionByName(rebuilt)


def probe_shards(candidates: DataFrame, shards: DataFrame,
                 key_col: str = "url_hash",
                 n_shards: int | None = None,
                 flag_col: str = "maybe_seen") -> DataFrame:
    """Co-partitioned filter probe: candidates gain a ``maybe_seen`` flag.

    COGROUP on shard_id, never a row join: a join would materialize the
    ~160 MB filter blob onto every candidate row and then shuffle it per
    row (petabyte-scale duplicated exchange bytes at a 10^7-URL wave).
    Cogrouping shuffles the candidate keys and the blobs *separately* —
    each blob crosses the wire exactly once per shard. Candidates whose
    shard has no filter yet get an empty shard group (definitively unseen).
    The explain_audit invariant pins this: no Exchange carries ``bits``
    alongside candidate columns.
    """
    if n_shards is None:
        mx = shards.agg(F.max("shard_id")).collect()[0][0]
        if mx is None:  # no filters built yet → nothing can be seen
            return candidates.withColumn(flag_col, F.lit(False))
        n_shards = mx + 1

    with_shard = candidates.withColumn(
        "shard_id", F.pmod(F.col(key_col), F.lit(n_shards)).cast("int"))

    out_schema = T.StructType(
        candidates.schema.fields + [T.StructField(flag_col, T.BooleanType())])
    cand_cols = list(candidates.columns)  # plain list — closure must not
    # capture the DataFrame itself (SparkContext is driver-only)

    def probe_group(cand_pdf: pd.DataFrame, shard_pdf: pd.DataFrame) -> pd.DataFrame:
        keys = cand_pdf[key_col].to_numpy(dtype=np.int64).astype(np.uint64)
        if len(shard_pdf) == 0:
            hit = np.zeros(len(cand_pdf), dtype=bool)
        elif shard_pdf["kind"].iloc[0] == "cuckoo":
            hit = cuckoo_probe(shard_pdf["bits"].iloc[0], keys)
        else:
            hit = bloom_probe(shard_pdf["bits"].iloc[0], keys)
        out = cand_pdf[cand_cols].copy()
        out[flag_col] = hit
        return out

    return (with_shard.groupBy("shard_id")
            .cogroup(shards.groupBy("shard_id"))
            .applyInPandas(probe_group, schema=out_schema))


def dedup_against_seen(candidates: DataFrame, seen: DataFrame,
                       shards: DataFrame | None = None,
                       key_col: str = "url_hash",
                       n_shards: int | None = None) -> DataFrame:
    """J1 at scale: candidates ∖ seen, exactly.

    Filter-negatives pass straight through (no shuffle against ``seen``);
    filter-positives go through the exact ``left_anti`` backstop so false
    positives never drop a crawlable URL. Without shards (first-wave /
    externally seeded path) the backstop is the whole dedup — still the
    ``pruned_anti_join`` shape, since ``seen`` can already be O(total);
    the candidates frame is consumed twice (prune key set + anti-join
    left), hence the lazy checkpoint, and must stay wave-bounded.

    Pass ``n_shards`` when the build-time shard count is known (the crawl
    loop does): it skips probe_shards' max(shard_id) inference job. The
    inference itself is exact because build_shards emits a row for every
    shard id, empty shards included.
    """
    from .dedup import pruned_anti_join
    if shards is None:
        # no filter table yet (first wave / externally seeded store): the
        # backstop IS the whole dedup — still the pruned shape, since
        # `seen` can already be O(total). Checkpoint: candidates feed both
        # the prune key set and the anti-join left.
        return pruned_anti_join(candidates.localCheckpoint(eager=False),
                                seen, key_col)
    # lazy checkpoint: the cogroup probe has three consumers (the fresh
    # branch, the suspect branch, and the backstop's prune key set) — it
    # must execute once per wave, not once per consumer
    probed = probe_shards(candidates, shards, key_col=key_col,
                          n_shards=n_shards) \
        .localCheckpoint(eager=False)
    fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
    suspect = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
    # exact backstop over the (tiny: true-hits + fp-rate × wave) suspect
    # set. pruned_anti_join scans the O(total) seen table against a
    # broadcast of the suspect keys — a plain left_anti would sort-merge-
    # shuffle all 10^10 seen keys every wave
    survivors = pruned_anti_join(suspect, seen, key_col)
    return fresh.unionByName(survivors)
