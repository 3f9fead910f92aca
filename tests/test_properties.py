"""Property tests (hypothesis) for the pure kernels + global rank."""

from __future__ import annotations

import re

from hypothesis import given, settings, strategies as st

from newscrawl import extract as ex
from newscrawl import functions as fn

text_st = st.text(
    alphabet=st.characters(blacklist_categories=("Cs",)), max_size=500
)


@given(text_st)
@settings(max_examples=200, deadline=None)
def test_clean_text_idempotent(t):
    once = ex.clean_text(t)
    assert ex.clean_text(once) == once


@given(text_st)
@settings(max_examples=200, deadline=None)
def test_clean_text_removes_all_urls(t):
    assert "https://" not in ex.clean_text(t + " https://x.y/z")


@given(st.binary(max_size=2000))
@settings(max_examples=200, deadline=None)
def test_extract_never_throws_on_garbage(b):
    ex.extract_text(b)
    ex.extract_title(b)
    ex.discover_outlinks(b)


@given(text_st)
@settings(max_examples=200, deadline=None)
def test_fingerprint_format_and_determinism(t):
    f1 = ex.rolling_fingerprint(t)
    assert re.fullmatch(r"[0-9a-f]{16}", f1)
    assert ex.rolling_fingerprint(t) == f1


@given(text_st, st.integers(min_value=1, max_value=50))
@settings(max_examples=200, deadline=None)
def test_chunk_paragraphs_bounded_and_lossless(t, mx):
    chunks = fn.chunk_paragraphs(t, max_chars=mx)
    assert all(len(c) <= mx for c in chunks)
    # content preserved modulo whitespace
    squash = lambda s: re.sub(r"\s+", "", s)
    assert squash("".join(chunks)) == squash(t)


@given(st.lists(st.text(min_size=1, max_size=20), max_size=30))
@settings(max_examples=100, deadline=None)
def test_dedupe_preserve_first_is_subset_in_order(names):
    out = fn.dedupe_preserve_first(names)
    it = iter(names)
    assert all(any(o == n for n in it) for o in out)  # order-preserving subsequence
    keys = [fn._norm_key(o) for o in out]
    assert len(keys) == len(set(keys))


def test_global_rank_matches_sorted_order(spark):
    from pyspark.sql import functions as F

    from newscrawl import priority
    from newscrawl.schema import FRONTIER

    rows = [
        (f"https://h/{i}", "s", i % 3, "sec", i % 5, str((i * 7) % 100).zfill(12))
        for i in range(200)
    ]
    df = priority.with_sort_key(
        spark.createDataFrame(rows, schema=FRONTIER).repartition(7)
    )
    ranked = priority.global_rank(df).collect()
    by_rank = [r.url for r in sorted(ranked, key=lambda r: r.rank)]
    want = [r.url for r in df.orderBy(priority.SORT_KEY, "url").collect()]
    # ranks are 1..n, dense, and agree with the global sort order
    assert sorted(r.rank for r in ranked) == list(range(1, 201))
    assert by_rank == want


def _band_keys_python_spec(text: str) -> set:
    """The pure-Python minhash band spec (the gate kernel's twin):
    8 permutations = the four 8-hex-char slices of md5('0|'+s) and
    md5('1|'+s) per word-3-gram shingle, banded 4x2."""
    import hashlib

    toks = re.split(r"\s+", (text or "").lower())
    if len(toks) < 3:
        return set()
    shingles = set(" ".join(toks[i : i + 3]) for i in range(len(toks) - 2))
    d0 = [hashlib.md5(f"0|{s}".encode()).hexdigest() for s in shingles]
    d1 = [hashlib.md5(f"1|{s}".encode()).hexdigest() for s in shingles]
    sig = [
        min(d[8 * k : 8 * k + 8] for d in ds)
        for ds in (d0, d1)
        for k in range(4)
    ]
    return {(b, sig[2 * b] + sig[2 * b + 1]) for b in range(4)}


def _band_kernels():
    """(name, fn) for every band-key path this host can run: the
    pure-Python fallback always, the native kernel when it loads."""
    from newscrawl import _fp_native

    paths = [("fallback", ex.minhash_band_keys)]
    lib = _fp_native._load()
    if lib:
        paths.append(("native", lambda t: _fp_native._band_keys_with(lib, t)))
    return paths


def _assert_band_kernels_match_spec(text: str) -> None:
    want = _band_keys_python_spec(text)
    for name, fn in _band_kernels():
        got = fn(text)
        assert len(got) in (0, 4), name
        assert set(enumerate(got)) == want, (name, text)


_WS = st.sampled_from([" ", "  ", "\t", "\n", "\u00a0", "\u2003", "\x1c", "\u3000"])


@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                blacklist_categories=("Cs", "Zs", "Zl", "Zp", "Cc")
            ),
            min_size=0,
            max_size=8,
        ),
        min_size=0,
        max_size=40,
    ),
    st.lists(_WS, min_size=42, max_size=42),
)
@settings(max_examples=150, deadline=None)
def test_gate_band_kernel_matches_python_spec(words, seps):
    """The gate's band-key kernel — native C md5 AND its pure-Python
    fallback — must agree with the independent spec above on ARBITRARY
    token sequences, joined by assorted Unicode whitespace (edges
    included: re.split keeps empty edge tokens, which the kernel's
    str.split tokenizer must reproduce)."""
    text = seps[0] + "".join(w + sep for w, sep in zip(words, seps[1:]))
    _assert_band_kernels_match_spec(text)


def test_gate_band_kernel_degenerate_inputs():
    """Fixed hazards for both band-key paths: empty / too-short texts
    (no keys), U+017F (lowercases to itself, casefolds to 's'), CJK,
    combining marks, and a shingle longer than 4 KB (multi-block md5)."""
    for text in [
        "",
        "   ",
        "one",
        "one two",
        " one two ",
        "\u017f \u017fo \u017fa \u017f",
        "\u65b0\u95fb \u722c\u866b \u6d4b\u8bd5 \u6570\u636e \u65b0\u95fb",
        "Cafe\u0301 NAI\u0308VE \u0130stanbul stra\u00dfe",
        "x" * 5000 + " y z " + "w" * 4097,
    ]:
        _assert_band_kernels_match_spec(text)
    assert ex.minhash_band_keys("one two") == []


def _gate_spec(wave, prior):
    """Pure-Python near-dup gate: wave = [(url, text, sort_key)], prior =
    [(url, band, key)] -> ({url: (matched_url, n_band_hits, scope)},
    kept (url, band, key) set)."""
    from collections import defaultdict

    keys = {u: set(enumerate(ex.minhash_band_keys(t))) for u, t, _s in wave}
    prior_min: dict = {}
    for u, b, k in prior:
        prior_min[(b, k)] = min(prior_min.get((b, k), u), u)
    first = defaultdict(list)
    for u, _t, s in wave:
        for bk in keys[u]:
            first[bk].append((s, u))
    flags = {}
    for u, _t, s in wave:
        p = [bk for bk in keys[u] if bk in prior_min]
        if p:
            flags[u] = (min(prior_min[bk] for bk in p), len(p), "prior_wave")
            continue
        same = [min(first[bk]) for bk in keys[u] if min(first[bk]) < (s, u)]
        if same:
            flags[u] = (min(same)[1], len(same), "same_wave")
    kept = {(u, b, k) for u, ks in keys.items() if u not in flags for b, k in ks}
    return flags, kept


_GATE_TEXTS = [
    "alpha beta gamma delta",
    "alpha beta gamma delta epsilon",
    "zeta eta theta iota",
    "one two",
    "",
]


@given(
    st.lists(
        st.tuples(
            st.integers(0, len(_GATE_TEXTS) - 1), st.sampled_from(["a", "b"])
        ),
        min_size=1,
        max_size=8,
    ),
    st.lists(st.integers(0, len(_GATE_TEXTS) - 1), max_size=3),
    st.booleans(),
)
@settings(max_examples=12, deadline=None)
def test_gate_wave_flags_match_python_spec(spark, docs, prior_docs, with_prior):
    """The one-window wave_flags equals the pure-Python gate on small
    waves drawn from a 5-text pool (so keys collide), with sort_key ties
    (url breaks them), with and without a prior index."""
    from newscrawl import dedupgate

    wave = [(f"https://h/{i}", _GATE_TEXTS[t], sk) for i, (t, sk) in enumerate(docs)]
    prior = [
        (f"https://p/{i}", b, k)
        for i, t in enumerate(prior_docs)
        for b, k in enumerate(ex.minhash_band_keys(_GATE_TEXTS[t]))
    ]
    want_flags, want_kept = _gate_spec(wave, prior if with_prior else [])
    new = spark.createDataFrame(wave, "url string, text string, sort_key string")
    prior_df = (
        spark.createDataFrame(
            [r + ("w0000",) for r in prior],
            "url string, band int, key string, wave_id string",
        )
        if with_prior
        else None
    )
    flags, kept, cached = dedupgate.wave_flags(new, prior_df)
    got = {r.url: (r.matched_url, r.n_band_hits, r.scope) for r in flags.collect()}
    got_kept = {(r.url, r.band, r.key) for r in kept.collect()}
    flags.unpersist()
    cached.unpersist()
    assert got == want_flags
    assert got_kept == want_kept


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.text(alphabet="abcd", min_size=1, max_size=8),
        min_size=1,
        max_size=20,
    )
)
def test_bpe_driver_loop_matches_naive_spec(words):
    """The driver-resident BPE merge loop (queries._bpe_merge_loop — the
    hot path since the r6 de-jobbing) must equal an independently coded
    naive trainer on arbitrary word lists: same winning merges, same
    final segmentations.  The naive spec re-implements pair counting
    with zip() and merge application with a regex-free split/rebuild —
    different code, same semantics (incl. the count-desc pair-asc
    tie-break and the bounded chained-replace fixpoint)."""
    from collections import Counter

    from newscrawl.queries import (
        BPE_FIX_PASSES,
        N_BPE_MERGES,
        _bpe_merge_loop,
    )

    freqs = Counter(words)
    rows = [
        (w, " " + " ".join(w) + " ", c) for w, c in sorted(freqs.items())
    ]
    merges, final_rows = _bpe_merge_loop(rows)

    # naive spec
    toks = {w: " " + " ".join(w) + " " for w in freqs}
    exp_merges = []
    for step in range(N_BPE_MERGES):
        cnt = Counter()
        for w, t in toks.items():
            syms = t.split()
            for a, b in zip(syms, syms[1:]):
                cnt[f"{a} {b}"] += freqs[w]
        if not cnt:
            break
        pair = sorted(cnt, key=lambda p: (-cnt[p], p))[0]
        exp_merges.append((step, pair, cnt[pair]))
        pat, rep = f" {pair} ", " " + pair.replace(" ", "") + " "
        for w in toks:
            t = toks[w]
            for _ in range(BPE_FIX_PASSES):
                if pat not in t:
                    break
                t = t.replace(pat, rep)
            toks[w] = t
    assert merges == exp_merges
    assert {(w, t) for w, t, _c in final_rows} == set(toks.items())
