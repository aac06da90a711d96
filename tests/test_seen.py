"""URL-seen set: filter kernels + exact-backstop correctness."""

import numpy as np
from pyspark.sql import functions as F

from s_crawler_spark.operators import seen as sn


def rnd_keys(n, seed):
    rng = np.random.default_rng(seed)
    return rng.integers(0, 2**63 - 1, size=n, dtype=np.int64).astype(np.uint64)


def test_bloom_no_false_negatives_and_low_fp():
    keys = rnd_keys(5000, 1)
    other = rnd_keys(5000, 2)
    bits = sn.bloom_build(keys, n_bits=5000 * 10)
    assert sn.bloom_probe(bits, keys).all()          # zero false negatives
    fp = sn.bloom_probe(bits, other).mean()
    assert fp < 0.03                                  # ~1% expected at 10 bits/key


def test_cuckoo_probe_and_delete():
    keys = rnd_keys(4000, 3)
    other = rnd_keys(4000, 4)
    n_buckets = int(len(keys) / (0.84 * 4)) + 16
    bits = sn.cuckoo_build(keys, n_buckets)
    assert sn.cuckoo_probe(bits, keys).all()
    assert sn.cuckoo_probe(bits, other).mean() < 0.02
    # deletability — the property blooms lack
    bits2 = sn.cuckoo_delete(bits, keys[:100])
    assert sn.cuckoo_probe(bits2, keys[100:]).all()
    assert sn.cuckoo_probe(bits2, keys[:100]).mean() < 0.05  # mostly gone (fp noise ok)


def test_build_probe_shards_roundtrip(spark):
    seen = spark.range(1000).select(F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
    shards = sn.build_shards(seen, n_shards=4)
    assert shards.count() == 4
    cand = spark.range(500, 1500).select(
        F.col("id").alias("id"),
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
    probed = sn.probe_shards(cand, shards, n_shards=4)
    rows = {r["id"]: r["maybe_seen"] for r in probed.collect()}
    # no false negatives: every truly-seen candidate flagged
    assert all(rows[i] for i in range(500, 1000))


def test_dedup_against_seen_equals_exact_antijoin(spark):
    seen = spark.range(800).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
    cand = spark.range(400, 1200).select(
        F.col("id").alias("id"),
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
    shards = sn.build_shards(seen, n_shards=4)
    with_filter = sn.dedup_against_seen(cand, seen, shards)
    exact = cand.join(seen, "url_hash", "left_anti")
    assert (sorted(r["id"] for r in with_filter.collect())
            == sorted(r["id"] for r in exact.collect())
            == list(range(800, 1200)))


def test_dedup_against_seen_cuckoo_kind(spark):
    seen = spark.range(300).select(
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
    cand = spark.range(600).select(
        F.col("id").alias("id"),
        F.xxhash64(F.col("id").cast("string")).alias("url_hash"))
    shards = sn.build_shards(seen, n_shards=2, kind="cuckoo")
    out = sn.dedup_against_seen(cand, seen, shards)
    assert sorted(r["id"] for r in out.collect()) == list(range(300, 600))


def test_probe_empty_shards_means_unseen(spark):
    cand = spark.range(10).select(F.col("id").alias("url_hash"), F.col("id"))
    empty = spark.createDataFrame([], sn.SHARDS_SCHEMA)
    probed = sn.probe_shards(cand, empty)
    assert all(not r["maybe_seen"] for r in probed.collect())


# --------------------------------------------------------------------------
# Incremental shard maintenance (update_shards — the O(wave) seen path)
# --------------------------------------------------------------------------

def test_bloom_add_equals_build_union():
    a, b = rnd_keys(3000, 7), rnd_keys(500, 8)
    n_bits = 6 * 3500 * 2
    assert sn.bloom_add(sn.bloom_build(a, n_bits), b) == \
        sn.bloom_build(np.concatenate([a, b]), n_bits)


def test_cuckoo_add_and_overflow():
    a = rnd_keys(30, 9)
    bits = sn.cuckoo_build(a, 32)
    more = rnd_keys(20, 10)
    out = sn.cuckoo_add(bits, more)
    assert out is not None
    assert sn.cuckoo_probe(out, a).all() and sn.cuckoo_probe(out, more).all()
    # past the 0.84 load factor the add refuses (caller rebuilds)
    flood = rnd_keys(32 * 4, 11)
    assert sn.cuckoo_add(bits, flood) is None


# 17 keys of a seeded default_rng(0) draw whose primary bucket is 0 and
# alternate bucket 5 at 16 buckets: 8 slots for 17 fingerprints
CROWDED_KEYS = [
    6323008769749170326, 8553975929585765842, 6160192467058359583,
    7347699561602801667, 7857168467771599756, 4686065105289048260,
    7721773393833882967, 6068816415767455152, 119974610870457359,
    5448381740009542588, 2109020788276450746, 868603798304055390,
    3677967818884012975, 4362164219054614350, 4022584326025605917,
    1382934901332557239, 5412600989045026]


def test_cuckoo_build_grows_past_a_crowded_bucket_pair():
    keys = np.array(CROWDED_KEYS, dtype=np.uint64)
    i1 = sn._mix64(keys) % np.uint64(16)
    assert (i1 == 0).all()
    assert (sn._ck_index2(i1, sn._ck_fingerprint(keys), 16) == 5).all()
    blob = sn._make_blob(keys, "cuckoo", 10, 2.0)  # sized at 16 buckets
    assert len(blob) > 16 * sn._CK_SLOTS * 2
    assert sn.cuckoo_probe(blob, keys).all()
    # a repeated key takes one slot: 20 copies fit the smallest table
    one = np.repeat(keys[:1], 20)
    blob = sn.cuckoo_build(one, 16)
    assert len(blob) == 16 * sn._CK_SLOTS * 2
    assert sn.cuckoo_probe(blob, keys[:1]).all()
    assert not sn.cuckoo_probe(sn.cuckoo_delete(blob, keys[:1]),
                               keys[:1]).any()


def _shards_by_id(df):
    return {r["shard_id"]: r for r in df.collect()}


def test_update_shards_touches_only_hashed_shards(spark):
    seen0 = spark.createDataFrame(
        [(k,) for k in (0, 4, 8, 1, 5, 2)], "url_hash long")
    shards = sn.build_shards(seen0, 4, headroom=2.0).localCheckpoint()
    before = _shards_by_id(shards)
    new = spark.createDataFrame([(12,)], "url_hash long")   # shard 0 only
    seen1 = seen0.unionByName(new)
    upd = sn.update_shards(shards, new, seen1, 4, headroom=2.0)
    got = _shards_by_id(upd)
    # only the touched shard comes back; its blob size is unchanged
    # (in-place add within headroom), count advanced
    assert set(got) == {0}
    assert len(got[0]["bits"]) == len(before[0]["bits"])
    assert got[0]["n_items"] == before[0]["n_items"] + 1
    keys = np.array([0, 4, 8, 12], dtype=np.uint64)
    assert sn.bloom_probe(got[0]["bits"], keys).all()
    # untouched blobs compose forward byte-identical
    assert got.get(1) is None and got.get(2) is None


def test_update_shards_rebuilds_over_capacity(spark):
    seen0 = spark.createDataFrame(
        [(k,) for k in (1, 5)], "url_hash long")            # shard 1
    shards = sn.build_shards(seen0, 4, headroom=2.0).localCheckpoint()
    before = _shards_by_id(shards)
    # 2*10*2=40 -> 64-bit min blob, capacity 6 keys; +5 keys = 7 > 6
    newk = [(4 * i + 1,) for i in range(3, 8)]
    new = spark.createDataFrame(newk, "url_hash long")
    seen1 = seen0.unionByName(new)
    upd = sn.update_shards(shards, new, seen1, 4, headroom=2.0)
    got = _shards_by_id(upd)
    assert set(got) == {1}
    assert len(got[1]["bits"]) > len(before[1]["bits"])     # rebuilt, grown
    assert got[1]["n_items"] == 7
    keys = np.array([k for (k,) in [(1,), (5,)] + newk], dtype=np.uint64)
    assert sn.bloom_probe(got[1]["bits"], keys).all()


def test_update_shards_adds_to_empty_sentinel_shard(spark):
    """Keys landing in a previously key-less shard go through the normal
    in-place path — build_shards emits a (minimal) blob row for EVERY id,
    so the shard row exists even when empty."""
    seen0 = spark.createDataFrame([(0,), (4,)], "url_hash long")  # shard 0
    shards = sn.build_shards(seen0, 4, headroom=2.0).localCheckpoint()
    new = spark.createDataFrame([(3,), (7,)], "url_hash long")    # shard 3
    upd = sn.update_shards(shards, new, seen0.unionByName(new), 4,
                           headroom=2.0)
    got = _shards_by_id(upd)
    assert set(got) == {3}
    assert sn.bloom_probe(got[3]["bits"],
                          np.array([3, 7], dtype=np.uint64)).all()


def test_update_shards_gap_shard_rebuilds_from_seen(spark):
    """A shard id MISSING from an externally assembled table must be
    rebuilt from the full post-wave seen set, not just this wave's new
    keys — otherwise the shard's pre-existing seen keys probe negative
    forever and bypass the exact backstop (the unguarded direction)."""
    # url_hash 3 pre-exists in shard 3; the shards table has an id gap
    seen0 = spark.createDataFrame([(0,), (4,), (3,)], "url_hash long")
    shards = (sn.build_shards(seen0, 4, headroom=2.0)
              .filter("shard_id != 3").localCheckpoint())
    new = spark.createDataFrame([(7,)], "url_hash long")          # shard 3
    upd = sn.update_shards(shards, new, seen0.unionByName(new), 4,
                           headroom=2.0)
    got = _shards_by_id(upd)
    assert set(got) == {3}
    assert got[3]["n_items"] == 2
    # the reborn blob covers the OLD key 3, not only the new key 7
    assert sn.bloom_probe(got[3]["bits"],
                          np.array([3, 7], dtype=np.uint64)).all()


def test_update_shards_cuckoo_kind(spark):
    seen0 = spark.createDataFrame(
        [(int(k),) for k in rnd_keys(40, 12)], "url_hash long")
    shards = sn.build_shards(seen0, 2, kind="cuckoo",
                             headroom=2.0).localCheckpoint()
    new = spark.createDataFrame(
        [(int(k),) for k in rnd_keys(10, 13)], "url_hash long")
    upd = sn.update_shards(shards, new, seen0.unionByName(new), 2,
                           kind="cuckoo", headroom=2.0)
    # probe through the composed (updated ⊕ untouched) shard table
    untouched = shards.join(upd.select("shard_id"), "shard_id", "left_anti")
    composed = upd.unionByName(untouched)
    probed = sn.probe_shards(seen0.unionByName(new), composed,
                             n_shards=2)
    assert probed.filter(~F.col("maybe_seen")).count() == 0


def test_build_shards_spans_full_id_range(spark):
    """build_shards emits a row for EVERY shard id — empty shards get a
    minimal blob — so probe_shards' max(shard_id)+1 inference recovers the
    build-time modulus exactly. With empty top shards absent, an inferred
    smaller modulus would route probes to the wrong blobs and produce
    false NEGATIVES that bypass the exact backstop."""
    from s_crawler_spark.operators import seen as sn

    # keys only in shards {0, 2, 4} of 8 — shards 5-7 (and the max, 7) empty
    seen = spark.createDataFrame(
        [(8 * i + r,) for i in range(20) for r in (0, 2, 4)],
        "url_hash long")
    shards = sn.build_shards(seen, 8)
    rows = shards.collect()
    assert sorted(r["shard_id"] for r in rows) == list(range(8))
    assert {r["n_items"] for r in rows if r["shard_id"] in (0, 2, 4)} == {20}
    assert all(r["n_items"] == 0 for r in rows if r["shard_id"] % 2)
    # inference path (no n_shards passed) must now be exact vs plain anti
    cand = spark.createDataFrame(
        [(k,) for k in range(0, 200)], "url_hash long")
    got = sorted(r["url_hash"] for r in
                 sn.dedup_against_seen(cand, seen, shards).collect())
    exp = sorted(r["url_hash"] for r in
                 cand.join(seen, "url_hash", "left_anti").collect())
    assert got == exp


def test_update_shards_rebuild_keeps_stored_kind(spark):
    """An over-capacity shard rebuilds with ITS OWN stored kind even when
    the caller leaves `kind` at the bloom default, and rebuilt rows cover
    only the marked shards (never resetting untouched ones)."""
    from s_crawler_spark.operators import seen as sn

    seen0 = spark.createDataFrame([(4 * i,) for i in range(50)],
                                  "url_hash long")
    shards = sn.build_shards(seen0, 4, kind="cuckoo", headroom=1.2)
    # shard 0 holds 50 keys sized for ~60: adding 80 more overflows the
    # 0.84 load-factor guard and marks the shard for rebuild
    new = spark.createDataFrame([(4 * i,) for i in range(50, 130)],
                                "url_hash long")
    seen_all = seen0.unionByName(new)
    upd = sn.update_shards(shards, new, seen_all, 4)  # kind default: bloom
    rows = {r["shard_id"]: r for r in upd.collect()}
    assert set(rows) == {0}  # only the touched shard comes back
    assert rows[0]["kind"] == "cuckoo"
    assert rows[0]["n_items"] == 130
    # compose the post-update table the way the store's merge-on-read
    # does (updated rows win, untouched rows carried forward) and probe
    merged = upd.unionByName(
        shards.join(upd.select("shard_id"), "shard_id", "left_anti"))
    probe = sn.probe_shards(seen_all, merged, n_shards=4)
    assert probe.filter(~probe.maybe_seen).count() == 0  # no false negatives


def test_filter_indices_uncorrelated_with_shard_routing():
    """FILTER_REV 2 regression: within a shard every key satisfies
    key ≡ s (mod n_shards), and raw-key indexing (pos0 = key % n_bits,
    i1 = key % n_buckets, both table sizes multiples of 8) inherited that
    congruence — bloom position 0 and EVERY cuckoo primary bucket
    concentrated into 1/n_shards of the table (kick-chain exhaustion near
    design load; ~2x the sized fp rate). Mixed indexing must spread both
    across all residues, and cuckoo_build must succeed at design load on
    shard-correlated keys."""
    rng = np.random.default_rng(7)
    n_shards, s = 8, 3
    # keys of one shard under pmod routing: low bits fixed at s
    keys = (rng.integers(0, 1 << 60, 200_000, dtype=np.uint64)
            * np.uint64(n_shards) + np.uint64(s))

    # bloom: position 0 covers all residues mod n_shards
    n_bits = len(keys) * sn.DEFAULT_BITS_PER_KEY
    pos0 = next(iter(sn._bloom_positions(keys, ((n_bits + 7) // 8) * 8, 1)))
    assert len(np.unique(pos0 % n_shards)) == n_shards
    # and the realized fp rate stays near the ~1% sizing
    blob = sn.bloom_build(keys, n_bits)
    probe = (rng.integers(0, 1 << 60, 100_000, dtype=np.uint64)
             * np.uint64(n_shards) + np.uint64(s - 1))  # disjoint residue
    fp_rate = sn.bloom_probe(blob, probe).mean()
    assert fp_rate < 0.02, fp_rate

    # cuckoo: primary buckets cover all residues, and build succeeds at
    # the exact design sizing (headroom 1.0 → 0.84 load)
    n_buckets = max(16, int(len(keys) / (0.84 * sn._CK_SLOTS)) + 1)
    i1 = sn._mix64(keys) % np.uint64(sn._pow2_at_least(n_buckets))
    assert len(np.unique(i1 % np.uint64(n_shards))) == n_shards
    blob = sn.cuckoo_build(keys, n_buckets)
    # built at the design size: a kick-chain failure would have grown it
    assert len(blob) == sn._pow2_at_least(n_buckets) * sn._CK_SLOTS * 2
    assert sn.cuckoo_probe(blob, keys).all()  # no false negatives
