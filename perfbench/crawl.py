"""The ``crawl_gated`` workload: a fresh-catalog, 3-wave crawl with both
sink gates on (``dedup_gate="flag", min_quality=0.2``), timed wave by
wave through ``wave.init_crawl``/``wave.run_wave`` and checked against
``reference_oracle.run_oracle`` for the same corpus.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import random
import shutil
import time

from . import env
from .metrics import attribute_jobs, geomean, median, self_time, tail_percentile

WAVES = 3
GATE = {"dedup_gate": "flag", "min_quality": 0.2}
# bench.py's default crawl shape (seeds and urls per section, hot-host
# universe, paragraphs per page), divided by SCALE to fit the run budget
BASE_SHAPE = {"n_seed": 3000, "n_total": 12000, "hot_universe": 60000}
BASE_PARAS = 30
SCALE = 32
# seeds map onto this many corpus variants, so the corpora and oracle
# answers a checkout generates stay few and are reused across runs
N_VARIANTS = 4
JITTER = 0.03  # each shape figure moves within +-3% between variants
SETUP_REPS = 3


def config_for_seed(seed: int, scale: int = SCALE):
    from newscrawl import synth

    rng = random.Random(f"perfbench-crawl-{seed % N_VARIANTS}")
    shape = {
        k: max(2, round(v / scale * (1 + rng.uniform(-JITTER, JITTER))))
        for k, v in BASE_SHAPE.items()
    }
    n_total = max(shape["n_total"], shape["n_seed"] + 2)
    spread = max(1, n_total // 50)
    cutoff = n_total // 2 + rng.randint(-spread, spread)
    return synth.SynthConfig(
        n_seed=shape["n_seed"],
        n_total=n_total,
        hot_universe=shape["hot_universe"],
        link_cutoff=max(cutoff, shape["n_seed"] + 1),
        n_waves=WAVES,
        base_paras=BASE_PARAS,
    )


def _cache_key(cfg) -> str:
    """Corpus and oracle answers depend on the config and on the code
    that generates pages and runs the oracle."""
    from newscrawl import extract, reference_oracle, synth

    h = hashlib.sha256(repr(cfg).encode())
    for mod in (synth, extract, reference_oracle):
        with open(mod.__file__, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def prepare_inputs(spark, cfg) -> tuple[str, dict]:
    """The corpus as parquet and the oracle's answers, generated once per
    config and cached in the benchmark's directory (not timed)."""
    from newscrawl import reference_oracle, synth

    d = os.path.join(env.CACHE_DIR, "crawl", _cache_key(cfg))
    pages_path = os.path.join(d, "pages.parquet")
    oracle_path = os.path.join(d, "oracle.json")
    if not os.path.exists(os.path.join(pages_path, "_SUCCESS")):
        shutil.rmtree(pages_path, ignore_errors=True)
        parts = spark.sparkContext.defaultParallelism * 4
        synth.build_pages_df(spark, cfg, num_partitions=parts).write.parquet(pages_path)
    if not os.path.exists(oracle_path):
        res = reference_oracle.run_oracle(cfg, WAVES)
        answers = {
            "waves": [
                {
                    "wave_id": w.wave_id,
                    "crawl_order": w.crawl_order,
                    "articles": {a["url"]: res.text_sha[a["url"]] for a in w.articles},
                }
                for w in res.waves
            ]
        }
        tmp = oracle_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(answers, f)
        os.replace(tmp, oracle_path)
    with open(oracle_path) as f:
        return pages_path, json.load(f)


def check_catalog(spark, catalog, oracle: dict) -> list[str]:
    """Names of the waves whose crawl order, seen rows or articles differ
    from the oracle's.  Gated-away articles count through
    ``quality_flags``: articles plus flags must equal the oracle's."""
    from pyspark.sql import functions as F

    from newscrawl import wave

    order: dict[str, list[str]] = {}
    for wid, url in wave.crawl_order(spark, catalog):
        order.setdefault(wid, []).append(url)
    seen = {}
    for r in wave.read_seen(spark, catalog).collect():
        seen.setdefault(r.processed_wave, []).append(
            (r.url, r.discovered_wave, r.is_processed)
        )
    arts: dict[str, dict[str, str]] = {}
    for r in (
        wave.read_articles(spark, catalog)
        .select("wave_id", "url", F.sha2("text", 256).alias("sha"))
        .collect()
    ):
        arts.setdefault(r.wave_id, {})[r.url] = r.sha
    flagged: dict[str, set] = {}
    for r in wave.read_quality_flags(spark, catalog).select("wave_id", "url").collect():
        flagged.setdefault(r.wave_id, set()).add(r.url)

    bad = []
    for w in oracle["waves"]:
        wid, want_arts = w["wave_id"], w["articles"]
        if order.get(wid, []) != w["crawl_order"]:
            bad.append(f"{wid}:crawl_order")
        want_seen = sorted((u, wid, True) for u in w["crawl_order"])
        if sorted(seen.get(wid, [])) != want_seen:
            bad.append(f"{wid}:seen")
        got_arts, got_flags = arts.get(wid, {}), flagged.get(wid, set())
        if (
            got_flags & got_arts.keys()
            or got_flags | got_arts.keys() != want_arts.keys()
            or any(want_arts[u] != sha for u, sha in got_arts.items())
        ):
            bad.append(f"{wid}:articles")
    return bad


def _warm_up(spark) -> None:
    """One gated wave over a throwaway corpus: Python workers, codegen
    and the first parquet write are paid before any timing."""
    from newscrawl import synth, wave
    from newscrawl.storage import ManifestParquetCatalog

    cfg = synth.SynthConfig(n_seed=2, n_total=8, hot_universe=16, n_waves=1)
    d = os.path.join(env.WORK_DIR, "warm")
    shutil.rmtree(d, ignore_errors=True)
    cat = ManifestParquetCatalog(d)
    wave.init_crawl(spark, cat, synth.build_seeds_df(spark, cfg))
    wave.run_wave(spark, cat, synth.build_pages_df(spark, cfg, num_partitions=4), 0, **GATE)
    shutil.rmtree(d, ignore_errors=True)


def set_up(spark, pages_path: str):
    """Warm up once, then load and persist the corpus SETUP_REPS times.
    Returns the persisted pages, their row count, and the set-up
    seconds: the warm-up plus the median load."""
    t0 = time.perf_counter()
    _warm_up(spark)
    warm_s = time.perf_counter() - t0
    times, pages, n = [], None, 0
    for _ in range(SETUP_REPS):
        if pages is not None:
            pages.unpersist(blocking=True)
        t0 = time.perf_counter()
        pages = spark.read.parquet(pages_path).persist()
        n = pages.count()
        times.append(time.perf_counter() - t0)
    return pages, n, warm_s + median(times)


class Rep:
    """One fresh-catalog crawl: per-wave seconds, URLs yielded, and the
    names of failed or mismatched waves."""

    def __init__(self):
        self.wave_s: list[float] = []
        self.urls = 0
        self.failures: list[str] = []


def crawl_rep(spark, cfg, pages, oracle, rep_idx: int, tracer=None) -> Rep:
    from newscrawl import synth, wave
    from newscrawl.reference_oracle import wave_id_for
    from newscrawl.storage import ManifestParquetCatalog

    rep = Rep()
    d = os.path.join(env.WORK_DIR, f"crawl-{rep_idx}")
    shutil.rmtree(d, ignore_errors=True)
    cat = ManifestParquetCatalog(d)
    wave.init_crawl(spark, cat, synth.build_seeds_df(spark, cfg))
    replay = Replay(spark, cat, pages, cfg, tracer) if tracer is not None else None
    for w in range(WAVES):
        try:
            with contextlib.ExitStack() as traced:
                if replay is not None:
                    replay.before_wave(w)
                    traced.enter_context(tracer.span("wave", op=wave_id_for(w), top=True))
                    traced.enter_context(tracer.patched())
                t0 = time.perf_counter()
                m = wave.run_wave(spark, cat, pages, w, min_text_chars=cfg.min_text_chars, **GATE)
                rep.wave_s.append(time.perf_counter() - t0)
            if replay is not None:
                replay.after_wave(w)
            rep.urls += m["n_yielded"]
        except Exception as e:  # a failed wave is counted, named, and ends the rep
            import traceback

            traceback.print_exc()
            rep.failures += [f"{wave_id_for(i)}:{type(e).__name__}" for i in range(w, WAVES)]
            break
    if not rep.failures:
        rep.failures = check_catalog(spark, cat, oracle)
    shutil.rmtree(d, ignore_errors=True)
    return rep


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Replay:
    """Re-runs the lazy layers' public functions on a wave's input
    snapshot, each into a ``noop`` sink inside its own top-level span,
    before the wave itself runs (and the accelerator build after it)."""

    def __init__(self, spark, catalog, pages, cfg, tracer):
        self.spark, self.cat, self.pages, self.cfg, self.tr = spark, catalog, pages, cfg, tracer

    def before_wave(self, w: int) -> None:
        import numpy as np
        from pyspark.sql import Observation, functions as F

        from newscrawl import canonicalize, dedupgate, priority, seenset, wave
        from newscrawl import extract as ex
        from newscrawl.reference_oracle import wave_id_for
        from newscrawl.schema import FRONTIER, MINHASH_BANDS, SEEN

        spark, cat, tr, wid = self.spark, self.cat, self.tr, wave_id_for(w)
        frontier = cat.read(spark, "frontier", FRONTIER)
        seen = cat.read(spark, "seen", SEEN).filter(F.col("is_processed"))

        def observed(df, name, **aggs):
            # the noop sink runs the observed frame; later layers read the
            # persisted base, which that run filled
            obs = Observation(f"{name}_{wid}")
            return df.observe(obs, *[a.alias(k) for k, a in aggs.items()]), obs

        cands = priority.first_wins_dedup(priority.with_sort_key(frontier)).withColumn(
            "url_hash", canonicalize.canonical_hash("url")
        )
        cands = cands.persist()
        probe, obs = observed(cands, "prio", n=F.count(F.lit(1)))
        with tr.span("priority", op=wid, top=True) as sp:
            _noop(probe)
        sp.attrs.update(
            rows_in=cat.table_stats("frontier").get("rows", 0), rows_out=obs.get["n"]
        )

        rows = cat.read_rows("bloom_shards", ["shard", "bitmap", "n_items"])
        bloom = seenset.BloomShardSet.from_rows([(r.shard, r.bitmap, r.n_items) for r in rows]) if rows else None
        spill_rows = cat.read_rows("cuckoo_spill", ["wave_index", "shard", "bitmap", "n_items"])
        spill = (
            seenset.CuckooShardSet.from_rows([(r.wave_index, r.shard, r.bitmap, r.n_items) for r in spill_rows])
            if spill_rows
            else None
        )
        unseen = seenset.antijoin_unseen(cands, seen, bloom, spill).persist()
        probe, obs = observed(unseen, "anti", n=F.count(F.lit(1)))
        with tr.span("seenset.antijoin", op=wid, top=True) as sp:
            _noop(probe)
        # prefilter effectiveness, measured on the driver off the timed path
        cand_rows = cands.select("url", "url_hash").collect()
        hs = np.array([r.url_hash for r in cand_rows], dtype=np.int64)
        maybe = np.zeros(len(hs), dtype=bool)
        if bloom is not None:
            maybe |= bloom.maybe_contains(hs)
        if spill is not None:
            maybe |= spill.maybe_contains(hs)
        seen_urls = {r.url for r in seen.select("url").collect()}
        n_maybe = int(maybe.sum())
        n_false = sum(1 for r, m in zip(cand_rows, maybe) if m and r.url not in seen_urls)
        sp.attrs.update(
            rows_out=obs.get["n"], seen_rows=len(seen_urls), cands=len(cand_rows),
            maybe=n_maybe, false_maybe=n_false,
        )

        fetched = (
            self.pages.select("url", "warc_ts", "html")
            .join(F.broadcast(unseen.select(*wave.FRONTIER_COLS)), "url", "inner")
            .persist()
        )
        probe, obs = observed(fetched, "fetch", n=F.count(F.lit(1)), html=F.sum(F.length("html")))
        with tr.span("wave.fetch", op=wid, top=True) as sp:
            _noop(probe)
        sp.attrs.update(rows=obs.get["n"], html_bytes=obs.get["html"] or 0)

        in_ddl = ", ".join(
            f"{f.name} {f.dataType.simpleString()}" for f in fetched.schema.fields if f.name != "html"
        )
        yielded = F.length(F.coalesce(F.col("text"), F.lit(""))) >= self.cfg.min_text_chars
        ext = fetched.mapInPandas(ex.extract_pages, schema=f"{in_ddl}, {ex.EXTRACT_COLUMNS}").persist()
        probe, obs = observed(
            ext,
            "extract",
            n=F.count(F.lit(1)),
            carry=F.count(F.when(~yielded, 1)),
            articles=F.count(F.when(yielded & ~F.col("skip"), 1)),
            text_bytes=F.sum(F.when(yielded & ~F.col("skip"), F.octet_length("text"))),
        )
        with tr.span("extract", op=wid, top=True) as sp:
            _noop(probe)
        sp.attrs.update(
            rows=obs.get["n"], carry=obs.get["carry"], articles=obs.get["articles"],
            text_bytes=obs.get["text_bytes"] or 0,
        )

        classified = priority.with_sort_key(ext).filter(yielded & ~F.col("skip")).select(
            "url", "text", F.col(priority.SORT_KEY).alias("sort_key")
        )
        probe, obs = observed(dedupgate.band_rows(classified.select("url", "text")), "bands", n=F.count(F.lit(1)))
        with tr.span("dedupgate.band", op=wid, top=True) as sp:
            _noop(probe)
        sp.attrs.update(rows=obs.get["n"])
        index_rows = cat.table_stats("minhash_bands").get("rows", 0)
        prior = cat.read(spark, "minhash_bands", MINHASH_BANDS) if index_rows else None
        flags, _kept, cached = dedupgate.wave_flags(classified, prior)
        probe, obs = observed(flags, "flags", n=F.count(F.lit(1)))
        with tr.span("dedupgate.flags", op=wid, top=True) as sp:
            _noop(probe)
        sp.attrs.update(flags=obs.get["n"], index_rows=index_rows)
        flags.unpersist()
        cached.unpersist()
        for df in (ext, fetched, unseen, cands):
            df.unpersist()

    def after_wave(self, w: int) -> None:
        from newscrawl import seenset
        from newscrawl.reference_oracle import wave_id_for

        files = self.cat.files_added_by_wave("seen", w)
        if not files:
            return
        delta = self.spark.read.parquet(*files)
        with self.tr.span("seenset.accel_build", op=wave_id_for(w), top=True):
            seenset.build_accel_rows(delta).collect()


STORAGE_TABLES = ("articles", "seen", "frontier", "bloom_shards", "cuckoo_spill", "minhash_bands")


def layer_metrics(tracer, jobs, untraced_crawl_s: float, n_pages: int) -> dict[str, float]:
    """Per-layer figures summed over the traced crawl's waves."""
    spans = tracer.spans

    def named(name):
        return [s for s in spans if s.name == name]

    def total(name):
        return sum(s.duration for s in named(name))

    def attr(name, key):
        return sum(s.attrs.get(key, 0) for s in named(name))

    def ratio(a, b):
        return a / b if b else 0.0

    waves = named("wave")
    in_wave = {s.span_id for s in waves}

    def in_wave_total(prefixes):
        return sum(
            s.duration for s in spans if s.parent in in_wave and s.name.startswith(prefixes)
        )

    ext_jobs = [attribute_jobs(s, jobs) for s in named("extract")]
    wave_jobs = [attribute_jobs(s, jobs) for s in waves]
    extract_s = total("extract")
    m = {
        "priority.s": total("priority"),
        "priority.rows_in": attr("priority", "rows_in"),
        "priority.rows_out": attr("priority", "rows_out"),
        "seenset.load_s": in_wave_total(
            ("storage.read_rows.bloom_shards", "storage.read_rows.cuckoo_spill", "seenset.from_rows")
        ),
        "seenset.antijoin_s": total("seenset.antijoin"),
        "seenset.rows_out": attr("seenset.antijoin", "rows_out"),
        "seenset.seen_rows": attr("seenset.antijoin", "seen_rows"),
        "seenset.accel_build_s": total("seenset.accel_build"),
        "seenset.maybe_ratio": ratio(attr("seenset.antijoin", "maybe"), attr("seenset.antijoin", "cands")),
        "seenset.false_maybe_ratio": ratio(
            attr("seenset.antijoin", "false_maybe"), attr("seenset.antijoin", "maybe")
        ),
        "wave.fetch_s": total("wave.fetch"),
        "wave.fetch_scan_rows": float(n_pages * len(named("wave.fetch"))),
        "wave.fetch_rows": attr("wave.fetch", "rows"),
        "extract.s": extract_s,
        "extract.html_bytes": attr("wave.fetch", "html_bytes"),
        "extract.carry_rows": attr("extract", "carry"),
        "extract.task_run_s": sum(j.run_s for j in ext_jobs),
        "extract.jvm_cpu_s": sum(j.cpu_s for j in ext_jobs),
        "extract.articles_ratio": ratio(attr("extract", "articles"), attr("extract", "rows")),
        "dedupgate.band_s": total("dedupgate.band"),
        "dedupgate.flags_s": total("dedupgate.flags"),
        "dedupgate.band_rows": attr("dedupgate.band", "rows"),
        "dedupgate.index_rows": attr("dedupgate.flags", "index_rows"),
        "dedupgate.flag_ratio": ratio(attr("dedupgate.flags", "flags"), attr("extract", "articles")),
    }
    stored = {t: 0 for t in STORAGE_TABLES}
    for c in named("storage.commit"):
        for t, b in c.attrs.get("bytes", {}).items():
            if t in stored:
                stored[t] += b
    for t in STORAGE_TABLES:
        m[f"storage.write_s.{t}"] = in_wave_total((f"storage.write.{t}",))
        m[f"storage.bytes.{t}"] = float(stored[t])
    m["storage.commit_s"] = total("storage.commit")
    m["storage.read_s"] = in_wave_total(("storage.read_rows.",))
    m["storage.bytes_per_text_byte"] = ratio(
        sum(sum(c.attrs.get("bytes", {}).values()) for c in named("storage.commit")),
        attr("extract", "text_bytes"),
    )
    # the fused write carries the extract: its own share is the rest
    m["storage.articles_sink_s"] = m["storage.write_s.articles"] - extract_s
    wave_s = sum(s.duration for s in waves)
    m["wave.s"] = wave_s
    m["wave.jobs"] = float(sum(j.jobs for j in wave_jobs))
    m["wave.stages"] = float(sum(j.stages for j in wave_jobs))
    m["wave.shuffle_bytes"] = float(sum(j.shuffle_bytes for j in wave_jobs))
    m["wave.uncovered_s"] = sum(self_time(s, spans) for s in waves)
    m["trace.overhead_s"] = wave_s - untraced_crawl_s
    return {k: float(v) for k, v in m.items()}


def run(spark, seed: int, seconds: float, trace: bool, scale: int = SCALE) -> dict:
    """Set up, crawl until ``seconds`` have passed, and check every
    crawl; with ``trace`` add one traced crawl."""
    cfg = config_for_seed(seed, scale)
    pages_path, oracle = prepare_inputs(spark, cfg)
    pages, n_pages, setup_s = set_up(spark, pages_path)

    reps: list[Rep] = []
    t0 = time.perf_counter()
    while not reps or time.perf_counter() - t0 < seconds:
        reps.append(crawl_rep(spark, cfg, pages, oracle, len(reps)))
    out = {"setup_s": setup_s, "config": repr(cfg)}
    ok = [r for r in reps if not r.failures]
    suite = [sum(r.wave_s) for r in ok]
    if ok:
        waves = [s for r in ok for s in r.wave_s]
        tail_p, tail = tail_percentile(waves)
        out["e2e"] = {
            "suite_s": median(suite),
            "op_s_p50": median(waves),
            "op_s_geomean": geomean(waves),
            "op_s_tail": tail,
            "items_per_s": ok[0].urls / median(suite),
        }
        out["samples"] = {
            "waves": len(waves), "reps": len(ok), "tail_percentile": tail_p,
            "wave_s": [r.wave_s for r in reps],
        }
    if trace:
        from .env import read_jobs
        from .tracing import Tracer

        tracer = Tracer(spark.sparkContext)
        reps.append(crawl_rep(spark, cfg, pages, oracle, len(reps), tracer=tracer))
        out["tracer"] = tracer
        if ok:
            out["layers"] = layer_metrics(tracer, read_jobs(spark.sparkContext), median(suite), n_pages)
    pages.unpersist()
    out["attempted"] = WAVES * len(reps)
    out["failures"] = [f"rep{i}:{f}" for i, r in enumerate(reps) for f in r.failures]
    # an operation is a wave: several mismatches in one wave fail it once
    out["failed"] = len({f.split(":")[0] + f.split(":")[1] for f in out["failures"]})
    return out
