"""Bloom/cuckoo property tests: zero false negatives, anti-join exactness
independent of bloom contents and shard count."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from newscrawl import seenset
from newscrawl.schema import SEEN


@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=1, max_size=500))
@settings(max_examples=50, deadline=None)
def test_bloom_no_false_negatives(hashes):
    bs = seenset.BloomShardSet(n_shards=4, m_bits=1 << 12, k=5)
    arr = np.array(hashes, dtype=np.int64)
    bs.add_hashes(arr)
    assert bs.maybe_contains(arr).all()


def test_bloom_roundtrip_and_merge():
    a = seenset.BloomShardSet(n_shards=4, m_bits=1 << 12, k=5)
    b = seenset.BloomShardSet(n_shards=4, m_bits=1 << 12, k=5)
    ha = np.arange(0, 1000, dtype=np.int64)
    hb = np.arange(1000, 2000, dtype=np.int64)
    a.add_hashes(ha)
    b.add_hashes(hb)
    merged = seenset.BloomShardSet.from_rows(a.to_rows(), 4, 1 << 12, 5).merge(b)
    assert merged.maybe_contains(ha).all() and merged.maybe_contains(hb).all()
    # fpp sane on fresh values
    fresh = np.arange(10_000, 30_000, dtype=np.int64)
    fp_rate = merged.maybe_contains(fresh).mean()
    assert fp_rate < 0.25


def test_bloom_empty_contains_nothing():
    bs = seenset.BloomShardSet()
    assert not bs.maybe_contains(np.array([1, 2, 3], dtype=np.int64)).any()


@pytest.mark.parametrize("n_shards", [1, 4, 16])
def test_antijoin_exact_regardless_of_shards(spark, n_shards):
    urls = [f"https://h{i % 7}.example.com/p/{i}" for i in range(200)]
    cand = spark.createDataFrame([(u,) for u in urls], "url string").withColumn(
        "url_hash", F.xxhash64("url")
    )
    seen_urls = urls[::3]
    seen = spark.createDataFrame(
        [(u, 0, "w0", "w0", True, None) for u in seen_urls], schema=SEEN
    )
    bloom_rows = seenset.build_bloom_rows(
        cand.filter(F.col("url").isin(seen_urls)), n_shards=n_shards, m_bits=1 << 12
    ).collect()
    bloom = seenset.BloomShardSet.from_rows(
        [(r.shard, r.bitmap, r.n_items) for r in bloom_rows], n_shards, 1 << 12
    )
    got = {r.url for r in seenset.antijoin_unseen(cand, seen, bloom).collect()}
    want = set(urls) - set(seen_urls)
    assert got == want
    # and identical without the bloom (prefilter is an accelerator only)
    got_nobloom = {r.url for r in seenset.antijoin_unseen(cand, seen, None).collect()}
    assert got_nobloom == want


def test_cuckoo_add_contains_delete():
    cf = seenset.CuckooFilter(n_buckets=1 << 10)
    hs = list(range(1, 1500))
    ok = [cf.add(h) for h in hs]
    assert all(ok)  # well under capacity
    assert all(cf.contains(h) for h in hs)
    for h in hs[:500]:
        assert cf.delete(h)
    # no false negatives on the remainder
    assert all(cf.contains(h) for h in hs[500:])


def test_cuckoo_roundtrip():
    cf = seenset.CuckooFilter(n_buckets=1 << 10)
    for h in range(100):
        cf.add(h)
    cf2 = seenset.CuckooFilter.from_rows(cf.to_rows(), n_buckets=1 << 10)
    assert all(cf2.contains(h) for h in range(100))
    assert cf2.n_items == cf.n_items


def test_cuckoo_deterministic_under_eviction_pressure():
    def build():
        cf = seenset.CuckooFilter(n_buckets=1 << 6)  # tiny -> forces kicks
        results = [cf.add(h * 2654435761) for h in range(200)]
        return cf.table.tobytes(), results

    t1, r1 = build()
    t2, r2 = build()
    assert t1 == t2 and r1 == r2  # eviction walk is seeded, not random

def test_cuckoo_overflow_never_loses_added_items():
    """Saturate a tiny filter until add() fails: every item whose add
    succeeded — and the overflow item itself — must remain contained
    (the victim stash catches the final displaced fingerprint)."""
    cf = seenset.CuckooFilter(n_buckets=1 << 2)  # 16 slots
    added = []
    h = 0
    while True:
        h += 1
        key = h * 2654435761
        if cf.add(key):
            added.append(key)
        else:
            overflow_key = key
            break
        assert h < 10_000, "filter never saturated"
    assert all(cf.contains(k) for k in added), "lost a previously-added item"
    assert cf.contains(overflow_key)  # stored across table + stash
    assert cf.victim != 0
    assert cf.n_items == len(added) + 1
    # saturation is sticky until the stash is cleared
    assert cf.add(999_999_999) is False
    # stash survives serialization
    cf2 = seenset.CuckooFilter.from_rows(cf.to_rows(), n_buckets=1 << 2)
    assert all(cf2.contains(k) for k in added) and cf2.contains(overflow_key)
    # deleting the stash's owner frees it
    victims = [k for k in added + [overflow_key] if cf.victim == cf._fp_and_buckets(k)[0]]
    if victims:
        assert cf.delete(victims[0])
        assert cf.victim == 0


# ---------------------------------------------------------------------------
# Cuckoo spill tier wiring (north rule: bloom PLUS cuckoo spill tier)
# ---------------------------------------------------------------------------


def test_cuckoo_contains_many_matches_scalar():
    cf = seenset.CuckooFilter(n_buckets=1 << 8)
    hs = np.arange(-400, 400, 7, dtype=np.int64)
    for h in hs[::2]:
        cf.add(int(h))
    got = cf.contains_many(hs)
    want = np.array([cf.contains(int(h)) for h in hs])
    assert (got == want).all()
    assert got[::2].all()  # added items always hit (no false negatives)


def test_spill_tier_covers_recent_waves_and_bloom_lags(spark, tmp_path):
    """After a crawl, the bloom tier covers only waves that LEFT the
    spill window; the cuckoo rows cover the recent window; their union
    flags every seen url as maybe-seen (no false negatives end-to-end)."""
    from newscrawl import synth, wave
    from newscrawl.storage import ManifestParquetCatalog

    cfg = synth.SynthConfig(n_seed=3, n_total=14)
    cat = ManifestParquetCatalog(str(tmp_path / "sp"))
    wave.run_crawl(spark, cat, cfg, n_waves=3)

    bloom, spill, _ = wave._load_seen_filters(cat)
    assert spill is not None and spill.filters
    # spill window = waves (last - SPILL_WAVES, last]
    waves_in_spill = sorted({wi for wi, _s in spill.filters.keys()})
    assert waves_in_spill == [1, 2]  # wave 0 left the window into the bloom
    assert bloom is not None  # wave 0 folded in

    seen = wave.read_seen(spark, cat).collect()
    assert seen
    hs = np.array([r.url_hash for r in seen], dtype=np.int64)
    flagged = spill.maybe_contains(hs) | bloom.maybe_contains(hs)
    assert flagged.all(), "union of tiers must flag every seen url"
    # the bloom alone must NOT be required to cover the recent waves
    recent = np.array(
        [r.url_hash for r in seen if r.processed_wave > "w0000"], dtype=np.int64
    )
    assert spill.maybe_contains(recent).all()


def test_rollback_removes_rolled_back_waves_from_accelerator(spark, tmp_path):
    """The point of the deletable tier: rolling back drops the rolled-back
    waves' accelerator entries with their snapshots (a merged bloom could
    never un-merge them)."""
    from newscrawl import synth, wave
    from newscrawl.storage import ManifestParquetCatalog

    cfg = synth.SynthConfig(n_seed=3, n_total=14)
    cat = ManifestParquetCatalog(str(tmp_path / "rbsp"))
    wave.run_crawl(spark, cat, cfg, n_waves=3)
    seen_all = wave.read_seen(spark, cat).collect()
    late = [r for r in seen_all if r.processed_wave > "w0000"]
    assert late

    post_w0 = cat.snapshot_ids()[1]
    cat.rollback(post_w0)
    bloom, spill, _ = wave._load_seen_filters(cat)
    assert bloom is None  # nothing has left the spill window by wave 0
    assert sorted({wi for wi, _s in spill.filters.keys()}) == [0]

    late_hs = np.array([r.url_hash for r in late], dtype=np.int64)
    w0_hs = np.array(
        [r.url_hash for r in seen_all if r.processed_wave == "w0000"],
        dtype=np.int64,
    )
    assert spill.maybe_contains(w0_hs).all()
    # rolled-back waves' urls are (almost all) gone from the accelerator;
    # tiny residual collision rate is allowed, zero would overfit
    frac = spill.maybe_contains(late_hs).mean()
    assert frac < 0.2, f"rolled-back urls still flagged: {frac}"


@pytest.mark.parametrize("n_shards", [12, 7])  # deliberately NOT powers of two
def test_accel_rows_no_false_negatives_non_pow2_shards(spark, n_shards):
    """ADVICE r3: Spark groups build_accel_rows by pmod(url_hash, n) but
    the local shard derivation used uint64 mod — they disagree for
    negative hashes whenever n isn't a power of two, silently dropping
    every bitmap but the group's first internal shard.  With _shard_of
    matching pmod semantics, a non-power-of-two shard count must still
    yield zero false negatives on both accelerator tiers."""
    urls = [f"https://h{i % 5}.example.com/a/{i}" for i in range(400)]
    delta = spark.createDataFrame([(u,) for u in urls], "url string").withColumn(
        "url_hash", F.xxhash64("url")
    )
    hashes = np.array(
        [r.url_hash for r in delta.select("url_hash").collect()], dtype=np.int64
    )
    assert (hashes < 0).any(), "fixture must include negative hashes"
    rows = seenset.build_accel_rows(
        delta, n_shards=n_shards, m_bits=1 << 12
    ).collect()
    bloom = seenset.BloomShardSet.from_rows(
        [(r.shard, r.bloom, r.n_items) for r in rows], n_shards, 1 << 12
    )
    assert bloom.maybe_contains(hashes).all()
    cs = seenset.CuckooShardSet.from_rows(
        [(0, r.shard, r.cuckoo, r.n_items) for r in rows], n_shards
    )
    assert cs.maybe_contains(hashes).all()
