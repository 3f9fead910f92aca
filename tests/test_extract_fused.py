"""Equivalence properties of the round-7 fused extract-kernel paths.

The optimization fused (a) extract_title/extract_text/discover_outlinks
into one decode + one <article> search (extract.extract_all), and
(b) analyze_text + enrich_article into one shared tokenization loop
(extract._analyze_enrich), and added guarded fast paths to clean_text.
The per-field spec functions are unchanged and remain the reference
oracle's entry points — these tests pin the fused paths to them
byte-for-byte on synthetic pages AND adversarial corners.
"""

from __future__ import annotations

from newscrawl import extract as ex
from newscrawl import synth

EDGE_HTMLS = [
    None,
    b"",
    "",
    b"no article here",
    b"<article></article>",
    b"<article><h1></h1></article>",
    b"<article><h1>  spaced  title  </h1><p> a </p><p></p><p>b</p></article>",
    b"<article><p>only paras</p></article>",
    '<article><h1>t</h1><p>x</p><div class="related">'
    '<a href="u1"><a href="u2"><a href="u1"></div></article>'.encode(),
    b"<article><h1>A</h1></article><article><h1>B</h1></article>",
    b"\xff\xfe broken utf8 <article><h1>T</h1><p>p</p></article>",
]

EDGE_TEXTS = [
    "",
    " ",
    "one",
    "Visit https://x.example.com/a now",
    "please SUBSCRIBE today",
    "Follow us on things",
    "line with trailing space \nnext",
    "a\n\n\n\nb",
    "word " * 300,  # > summary gate, multiple refine passes
    "cookie subscribe sign up share this follow us",
    "the of and to in storm deal summit minister harbor union court",
    "tab\ttrail\t\nx",
]


def _synth_pages(n=120):
    cfg = synth.SynthConfig(
        n_seed=50, n_total=400, hot_universe=300, n_waves=2, base_paras=8
    )
    pages = []
    for u in synth.iter_urls(cfg, 0, 2000):
        p = synth.page_for_url(u, cfg)
        if p is not None:
            pages.append(p)
        if len(pages) >= n:
            break
    return pages


def test_extract_all_matches_trio():
    htmls = EDGE_HTMLS + [p.html for p in _synth_pages()]
    for h in htmls:
        title, text, outlinks = ex.extract_all(h)
        assert title == ex.extract_title(h)
        assert text == ex.extract_text(h)
        assert outlinks == ex.discover_outlinks(h)


def test_analyze_enrich_matches_pair():
    texts = EDGE_TEXTS + [ex.extract_text(p.html) for p in _synth_pages()]
    for t in texts:
        fused = ex._analyze_enrich(t)
        assert fused[:4] == ex.analyze_text(t)
        assert fused[4:] == ex.enrich_article(t)


def test_clean_text_fast_paths_preserve_spec():
    import re

    # the pre-fast-path spec, re-stated literally
    def spec(text):
        if not text:
            return ""
        t = re.sub(r"https?://\S+", "", text)
        t = re.sub(
            r"(?im)^.*\b(follow us|share this|sign up|subscribe|cookie)\b.*$",
            "",
            t,
        )
        t = re.sub(r"[ \t]+$", "", t, flags=re.M)
        t = re.sub(r"\n{3,}", "\n\n", t)
        return t.strip()

    # non-ASCII letters that re.I matches against the junk words but
    # .lower() does not turn into them: long s, dotted capital I, and
    # the Kelvin sign (which .lower() does fold to 'k')
    non_ascii = [
        "Pleaſe ſubscribe now\nkept line",
        "Click to SİGN UP today\nkept line",
        "Accept our cooKie policy\nkept line",
        "café news\nno junk here",
    ]
    texts = EDGE_TEXTS + non_ascii + [ex.extract_text(p.html) for p in _synth_pages()]
    for t in texts:
        assert ex.clean_text(t) == spec(t), repr(t)
    assert all(ex.clean_text(t).startswith("kept") for t in non_ascii[:3])
