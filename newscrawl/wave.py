"""One crawl wave as a declarative DataFrame plan, plus the multi-wave loop.

Plan per wave (SURVEY.md §3.2 Spark lifecycle), replacing the
reference's sequential scrape loop (/root/reference/ingest/
get_all_articles.py:6-19 + classifier.py:194-320):

    frontier snapshot
      -> sort_key + first-wins dedup           (Window, F2)
      -> bloom-prefiltered exact seen anti-join (J1/F1)
      -> robots filter + per-host budget gate   (north-rule additions;
                                                 no-ops in reference mode)
      -> pages scan ⋈ broadcast(candidates)     (the "fetch"; J4 —
         html never shuffles; pages_table= switches to the bucketed
         co-located zero-Exchange variant at the pages table's own
         bucket count, bucketing.py)
      -> mapInPandas extract, html dropped in-scan (S14, P8, F4 +
         per-page text analysis + the classify stage: topic/sentiment/
         summary/entities, reference classifier.py:232-277)
      -> split: articles Δ | seen Δ | carry (fetch-fail or <100 chars,
               retried next wave) | child frontier rows
      -> atomic multi-table commit: the articles write is the job that
         runs the extract (in every gate mode — the sink gates' filters
         ride inside it), then the other output jobs submitted
         concurrently (frontier overwrite, seen/metrics append, bloom
         shards overwrite; delta writes coalesced, zstd)

``run_wave`` is a short driver over one function per phase:
``_plan_candidates`` -> ``_load_seen_filters`` -> ``_fetch_extract`` ->
``_sink_frames`` -> ``_commit_wave``.

Crash anywhere before commit leaves state untouched; re-running the wave
is idempotent (the driver loop resumes from the snapshot's wave index).
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import threading
import time
from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession, functions as F
from pyspark.sql.window import Window

from . import extract as ex
from . import (
    _fp_native,
    bucketing,
    canonicalize,
    dedupgate,
    multimodal,
    politeness,
    priority,
    seenset,
    synth,
    webhook,
)
from .reference_oracle import wave_id_for
from .schema import (
    ARTICLES,
    BLOOM_SHARDS,
    CUCKOO_SPILL,
    FRONTIER,
    HOST_STATE,
    MEDIA_FEATURES,
    MINHASH_BANDS,
    NEAR_DUP_FLAGS,
    SEEN,
    WAVE_METRICS,
)
from .storage import ManifestParquetCatalog

FRONTIER_COLS = [f.name for f in FRONTIER.fields]

# Write widths. The extract stage runs wide (one partition per scan
# split), but writing one file per split piles up tiny files wave over
# wave and every later state read pays for it (the classic small-files
# problem), so only the write side narrows. Width per table = estimated
# delta bytes / _MIN_FILE_BYTES, with bytes/row from the catalog's
# manifest stats (all waves so far) — a 10x-bigger wave writes ~10x the
# files instead of a constant count. The divisor is the MINIMUM
# acceptable file size, not a target: the write is zstd-compression-
# bound, so subject to "no file smaller than ~16 MB" it should use as
# MANY cores as possible (a 1.27 GB articles delta on 2-10 of 32 cores
# leaves most compressors idle — measured 25 s vs ~4 s full-width).
# Files land between 16 MB and ~1 GB; compact() bin-packs them later.
# It is also the safety margin for the bytes ESTIMATE: bytes/row observed
# on a tiny seed wave ran 5x under the big-wave reality. A delta smaller
# than one min-file writes ONE file — the r5 scaling residue showed the
# frontier write taking 3.09 s at 32 CPUs for a 1.6 MB delta purely from
# multi-file task scheduling (and getting SLOWER with more cores).
_MIN_FILE_BYTES = 16 << 20
# first wave (no stats yet): a conservative bytes/row, not a
# core-derived constant, for the same reason
_FALLBACK_BYTES_PER_ROW = 256
# deltas at or below this may SHUFFLE into their write tasks
# (repartition keeps the upstream derivation wide); anything bigger must
# coalesce — repartitioning GB-scale article text re-copies the whole
# data plane (measured: the 32-CPU articles write went 6.9 s -> 40.8 s
# when it briefly took the repartition path).
_SMALL_DELTA_BYTES = 64 << 20
# fused articles write: above this estimated delta the carried extract
# stage must not collapse to one core (ADVICE r6)
_FUSED_FLOOR_BYTES = 256 << 10

# Waves covered by the DELETABLE cuckoo tier instead of the immutable
# bloom: a rollback within this window removes those waves' accelerator
# entries with their snapshots (blooms cannot un-merge). The leaving
# wave's delta folds into the bloom via the manifest's per-wave file
# lineage — one bounded delta read, never a seen-table rescan.
SPILL_WAVES = 2


def init_crawl(
    spark: SparkSession,
    catalog: ManifestParquetCatalog,
    seeds: DataFrame,
    host_state_seed: DataFrame | None = None,
) -> None:
    """Commit the seed frontier as snapshot 0 (wave_index=-1). An
    optional host_state seed carries per-host budgets / news scores for
    the scaled scheduler (recency fills in as waves run)."""
    commit = catalog.begin()
    commit.write("frontier", priority.seed_ord(seeds).select(*FRONTIER_COLS), mode="overwrite")
    if host_state_seed is not None:
        commit.write(
            "host_state",
            host_state_seed.select(*[f.name for f in HOST_STATE.fields]),
            mode="overwrite",
        )
    commit.commit(wave_id="init", wave_index=-1)


def _timing() -> bool:
    return bool(os.environ.get("NEWSCRAWL_TIMING"))


def _ticker(wid: str):
    """NEWSCRAWL_TIMING phase clock: ``tick(label)`` prints the seconds
    since the previous tick."""
    on, last = _timing(), [time.perf_counter()]

    def tick(label: str) -> None:
        if on:
            now = time.perf_counter()
            print(f"[{wid}] {label}: {now - last[0]:.2f}s", flush=True)
            last[0] = now

    return tick


def _timed_write(commit, wid: str, table: str, df: DataFrame, mode: str) -> int:
    # NEWSCRAWL_TIMING: per-write wall time + bytes, the evidence behind
    # the commit-residue decomposition in BENCH/BASELINE.md (the commit
    # pool runs writes concurrently — its wall time is the MAX of these)
    t0 = time.perf_counter()
    rows = commit.write(table, df, mode)
    if _timing():
        nbytes = sum(
            f["bytes"] for t, _m, fs, _r in commit._writes if t == table for f in fs
        )
        print(
            f"[{wid}] write:{table}: {time.perf_counter() - t0:.2f}s "
            f"rows={rows} bytes={nbytes}",
            flush=True,
        )
    return rows


def _timed_job(wid: str, label: str, fn):
    t0 = time.perf_counter()
    out = fn()
    if _timing():
        print(f"[{wid}] job:{label}: {time.perf_counter() - t0:.2f}s", flush=True)
    return out


def _write_plan(
    catalog: ManifestParquetCatalog, table: str, n_rows_est: int, cores: int
) -> tuple[int, float]:
    """(file count, estimated bytes) for a delta of ``n_rows_est`` rows."""
    st = catalog.table_stats(table)
    rows = st.get("rows", 0)
    nbytes = sum(f.get("bytes", 0) for f in st.get("files", []))
    bpr = (nbytes / rows) if rows and nbytes else _FALLBACK_BYTES_PER_ROW
    est_bytes = n_rows_est * bpr
    return min(max(1, math.ceil(est_bytes / _MIN_FILE_BYTES)), cores), est_bytes


def _narrowed(df: DataFrame, width: int, est_bytes: float | None = None) -> DataFrame:
    # HOW to narrow matters as much as the width: coalesce(w) collapses
    # the whole UPSTREAM computation to w tasks (a 1-file frontier write
    # would derive carry+children on one core — the serialization
    # measured at 1.2-1.6 s/wave), while repartition keeps the derivation
    # wide and shuffles only the KB-to-MB delta into w write tasks. The
    # shuffle is ONLY for provably small deltas: big frames always
    # coalesce (no shuffle of big bytes — the articles write at scale).
    cores = df.sparkSession.sparkContext.defaultParallelism
    if est_bytes is not None and est_bytes <= _SMALL_DELTA_BYTES and width < cores // 2:
        return df.repartition(width)
    return df.coalesce(width)


def _fused_articles_width(
    catalog: ManifestParquetCatalog, n_frontier: int, cores: int
) -> int:
    """Width of the articles write that CARRIES the extract stage, from a
    pre-execution estimate (the frontier size): every core once the
    delta holds >= 2 min-files (coalesce must not narrow the extract it
    carries). Mid-size waves (ADVICE r6) keep >= half the cores — a
    1-file clamp there would run the whole extract on one core; compact()
    bin-packs the small files. Genuinely tiny waves (KB deltas —
    golden/test crawls) keep the 1-file clamp, where multi-file task
    scheduling costs more than it saves (the r5 inverse-scaling residue)."""
    width, est = _write_plan(catalog, "articles", n_frontier, cores)
    if est >= 2 * _MIN_FILE_BYTES:
        return cores
    if est >= _FUSED_FLOOR_BYTES:
        return max(width, cores // 2)
    return width


def _plan_candidates(
    spark: SparkSession, catalog: ManifestParquetCatalog, wid: str, scheduler: str
) -> tuple:
    """Plan phase: frontier -> scheduler key -> first-wins candidates,
    persisted. Returns ``(cands, n_candidates, sort_key, host_state)``:
    ``n_candidates()`` reads the candidate count, ``sort_key`` is the
    scheduler's key function (the extracted rows are re-keyed with it),
    ``host_state`` the scaled scheduler's table (None otherwise).

    ``scheduler="reference"`` keys by the reference's total order
    (source rank, section rank, ord); ``"scaled"`` by the north-rule
    priority (host budget tier, host idle time, news score, then the
    reference order as tie-break) over the persisted host_state."""
    frontier = catalog.read(spark, "frontier", FRONTIER)
    if scheduler == "scaled":
        host_state = catalog.read(spark, "host_state", HOST_STATE)

        def sort_key(df: DataFrame) -> DataFrame:
            return politeness.scaled_priority_key(df, host_state)

    else:
        host_state = None
        sort_key = priority.with_sort_key
    cands = priority.first_wins_dedup(sort_key(frontier))
    # shard/bloom key = hash of the CANONICAL url (equivalent spellings
    # co-locate); membership equality stays exact on the raw url
    cands = cands.withColumn("url_hash", canonicalize.canonical_hash("url"))
    # n_candidates rides the extract job as an observed metric instead
    # of a dedicated count: the count was a standalone job whose fixed
    # scheduling cost got WORSE with more cores (1.61 s @ 8 CPUs ->
    # 2.30 s @ 32 in the r5 scaling residue) while the extract job
    # traverses cands anyway (broadcast build of the kept candidates
    # fills the cache and fires the observation — verified incl. the
    # cached-frame + broadcast-subtree case).
    obs = Observation(f"n_candidates_{wid}")
    cands = cands.observe(obs, F.count(F.lit(1)).alias("n")).persist()

    def n_candidates() -> int:
        # the extract materialization has executed the observed node by
        # the time metrics are read; the bounded wait + counted fallback
        # only guards a future re-ordering of the wave's jobs
        box = {}

        def get():
            try:
                box["v"] = obs.get
            except Exception:
                # metrics can be unavailable or unconvertible (seen:
                # toPyRow assertion on an empty gated wave) — leave the
                # box empty so the counted fallback below answers
                pass

        t = threading.Thread(target=get, daemon=True)
        t.start()
        t.join(10.0)
        return int(box["v"]["n"]) if "v" in box else cands.count()

    return cands, n_candidates, sort_key, host_state


def _load_seen_filters(catalog: ManifestParquetCatalog) -> tuple:
    """Seen-set load phase: the two prefilter tiers, read driver-side
    with pyarrow (bounded: shards x window rows; a Spark collect costs a
    job per wave). Returns ``(bloom, spill, spill_rows)`` — the merged
    bloom, the cuckoo spill window, and the window's raw rows: cuckoo
    blobs plus each wave's precomputed bloom bitmap (the fold input)."""
    rows = catalog.read_rows("bloom_shards", ["shard", "bitmap", "n_items"])
    bloom = (
        seenset.BloomShardSet.from_rows([(r.shard, r.bitmap, r.n_items) for r in rows])
        if rows
        else None
    )
    spill_rows = catalog.read_rows(
        "cuckoo_spill", ["wave_index", "shard", "bitmap", "bloom_bitmap", "n_items"]
    )
    spill = (
        seenset.CuckooShardSet.from_rows(
            [(r.wave_index, r.shard, r.bitmap, r.n_items) for r in spill_rows]
        )
        if spill_rows
        else None
    )
    return bloom, spill, spill_rows


def _fetch_extract(
    spark: SparkSession,
    pages: DataFrame,
    kept: DataFrame,
    sort_key,
    pages_table: str | None,
    cand_table: str | None,
    enrich_fn,
    dedup_gate: str | None,
    dedup_captures: bool,
    min_text_chars: int,
) -> tuple[DataFrame, DataFrame]:
    """Fetch+extract phase -> ``(fetched, extracted)``; ``extracted`` is
    persisted, and the articles write is the job that fills it.

    The "fetch": frontier x pages on raw url. Default: broadcast only
    the six frontier columns into the pages scan (map-side hash join)
    and extract IMMEDIATELY — html is consumed and dropped inside the
    scan-side pandas UDF and the text inherits the frontier metadata in
    place, so NEITHER the raw bytes NOR the text ever shuffle. sort_key
    and url_hash are deterministic projections, recomputed JVM-side
    after extraction (~25% less broadcast payload per wave). With
    ``pages_table`` the slim candidates are written bucketed like the
    pages table (``cand_table``) and the fetch is a co-located
    sort-merge join with NO Exchange on the pages side."""
    if pages_table is not None:
        bucketing.write_bucketed(
            kept.select(*FRONTIER_COLS),
            cand_table,
            bucketing.bucket_count(spark, pages_table),
        )
        fetched = bucketing.bucketed_fetch(spark, cand_table, pages_table)
    else:
        fetched = pages.select("url", "warc_ts", "html").join(
            F.broadcast(kept.select(*FRONTIER_COLS)), "url", "inner"
        )
    in_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in fetched.schema.fields
        if f.name != "html"
    )
    out_ddl = f"{in_ddl}, {ex.EXTRACT_COLUMNS}"
    if dedup_gate:
        # the gate's MinHash band keys are hashed in THIS pass, which
        # already holds every page's text, and land in the extracted
        # cache — no second Python pass over the articles
        kernel = ex.make_extract_kernel(enrich_fn, band_keys=True)
        out_ddl += f", {ex.BAND_KEYS_COLUMN}"
    elif enrich_fn is None:
        kernel = ex.extract_pages
    else:
        kernel = ex.make_extract_kernel(enrich_fn)
    # re-key with the SAME scheduler key that ordered the candidates
    ext = sort_key(fetched.mapInPandas(kernel, schema=out_ddl)).drop("host")
    if dedup_captures:
        # latest capture per url wins (see run_wave); html is already
        # consumed, so this windows over slim extracted rows only
        w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc(), F.col("fingerprint"))
        ext = (
            ext.withColumn("_cap_rn", F.row_number().over(w))
            .filter(F.col("_cap_rn") == 1)
            .drop("_cap_rn")
        )
    extracted = ext.withColumn(
        "url_hash", canonicalize.canonical_hash("url")
    ).withColumn(
        "yielded", F.length(F.coalesce(F.col("text"), F.lit(""))) >= min_text_chars
    )
    return fetched, extracted.persist()


def _classified(extracted: DataFrame) -> DataFrame:
    """The wave's classified articles: yielded pages that pass the skip
    gate. The articles sink, the near-dup gate and the per-wave
    distributions all read this slice."""
    return extracted.filter(F.col("yielded") & ~F.col("skip"))


def _sink_frames(
    spark: SparkSession,
    catalog: ManifestParquetCatalog,
    wid: str,
    wave_index: int,
    kept: DataFrame,
    deferred: DataFrame | None,
    fetched: DataFrame,
    extracted: DataFrame,
    host_state: DataFrame | None,
    dedup_gate: str | None,
    min_quality: float | None,
    webhook_key: bytes | None,
    media_sink: bool,
) -> dict:
    """Sink-frames phase: table name -> the (lazy) frame this wave
    writes to it. Only the tables the wave's options enable are keys.
    ``near_dup_flags`` is the frame ``dedupgate.wave_flags`` persisted;
    the commit unpersists it."""
    yielded = extracted.filter(F.col("yielded"))
    frames = {
        "seen": yielded.select(
            "url",
            "url_hash",
            F.lit(wid).alias("discovered_wave"),
            F.lit(wid).alias("processed_wave"),
            F.lit(True).alias("is_processed"),
            F.col(priority.SORT_KEY).alias("sort_key"),
        )
    }
    # classified articles (reference classifier.py:214-277): the
    # enrichment columns were computed in-scan by the extract kernel;
    # article rows are the post-skip-gate slice. 'sample' = the
    # reference's per-run metadata id stamped on every classified
    # article (classifier.py:192,254) — the wave id is its deterministic
    # analog; isCleaned inserted False verbatim (classifier.py:262).
    classified = _classified(extracted)
    articles = classified.select(
        "url",
        "title",
        "text",
        "clean_text",
        "source",
        F.lit(wid).alias("wave_id"),
        "warc_ts",
        F.length("text").cast("long").alias("n_chars"),
        "n_tokens",
        "stop_ratio",
        "lang_pred",
        "quality",
        "fingerprint",
        "summary",
        "topic",
        "sentiment_label",
        "sentiment_score",
        "locations",
        "organizations",
        "persons",
        F.lit(wid).alias("sample"),
        F.lit(False).alias("is_cleaned"),
    )
    # incremental near-dup gate: probe the persistent band index BEFORE
    # this wave's commit (reads the previous snapshot), flag prior-wave
    # and first-wins same-wave near-dups, and in drop mode withhold them
    # from the articles sink. seen/frontier semantics are untouched — a
    # near-dup url is still "seen" and its outlinks still schedule (only
    # the article sink dedups). The band keys come from the extract
    # cache, so wave_flags persists nothing but the flags frame.
    kept_bands = None
    if dedup_gate:
        prior_bands = (
            catalog.read(spark, "minhash_bands", MINHASH_BANDS)
            if catalog.table_stats("minhash_bands")
            else None
        )
        nd_flags, kept_bands, _ = dedupgate.wave_flags(
            classified.select(
                "url", "band_keys", F.col(priority.SORT_KEY).alias("sort_key")
            ),
            prior_bands,
        )
        frames["near_dup_flags"] = nd_flags
        if dedup_gate == "drop":
            articles = articles.join(nd_flags.select("url"), "url", "left_anti")
    # quality sink gate (audit-trailed): below-threshold articles go to
    # quality_flags instead of the articles table
    if min_quality is not None:
        frames["quality_flags"] = (
            articles.filter(F.col("quality") < F.lit(float(min_quality)))
            .select("url", "quality")
            .withColumn("wave_id", F.lit(wid))
        )
        articles = articles.filter(F.col("quality") >= F.lit(float(min_quality)))
        if kept_bands is not None:
            # the band index holds canonical SINK articles only — a
            # quality-dropped doc must not become a dedup canonical
            kept_bands = kept_bands.join(
                frames["quality_flags"].select("url"), "url", "left_anti"
            )
    frames["articles"] = articles
    if kept_bands is not None:
        frames["minhash_bands"] = kept_bands.withColumn("wave_id", F.lit(wid))
    # carry = fetch failures (candidates with no page behind them, from
    # the persisted extract output, not a second scan) + too-short pages
    # + budget-deferred rows; all retried next wave (reference scrapers
    # never insert_link for these, custom_scrapers.py:96-108,376-378)
    failed = kept.join(extracted.select("url"), "url", "left_anti")
    carry = (
        extracted.filter(~F.col("yielded"))
        .select(*FRONTIER_COLS)
        .unionByName(failed.select(*FRONTIER_COLS))
    )
    if deferred is not None:
        carry = carry.unionByName(deferred.select(*FRONTIER_COLS))
    children = priority.child_frontier(yielded).select(*FRONTIER_COLS)
    frames["frontier"] = carry.unionByName(children)
    if webhook_key is not None:
        frames["webhook_payloads"] = webhook.signed_payloads(articles, webhook_key)
    if host_state is not None:
        # recency update: hosts fetched this wave get the wave's logical
        # clock (epoch + wave_index + 1 seconds — deterministic,
        # monotone). greatest() keeps any newer caller-seeded timestamp;
        # budgets/scores carry over. Derived from the FETCHED set
        # (extracted), not the yielded filter: a host whose pages were
        # all too short was still hit this wave and must lose recency
        # priority (the politeness signal the idle key encodes).
        fetched_hosts = (
            politeness.with_host(extracted.select("url"))
            .select("host")
            .distinct()
            .withColumn("_fetched_ts", F.lit(wave_index + 1).cast("timestamp"))
        )
        frames["host_state"] = host_state.join(fetched_hosts, "host", "full").select(
            "host",
            "budget",
            "news_score",
            F.greatest("last_fetch_ts", "_fetched_ts").alias("last_fetch_ts"),
        )
    if media_sink:
        frames["media_features"] = multimodal.page_media_features(fetched).withColumn(
            "wave_id", F.lit(wid)
        )
    return frames


def _wave_stats(extracted: DataFrame) -> list:
    # metrics (A1-A3 analogs) in ONE aggregation job over the persisted
    # wave output: per-source yielded counts (count-desc, first-seen
    # tie-break — reference Counter.most_common, classifier.py:295-307),
    # skip counts, and outlink counts.
    yielded = F.col("yielded")
    return (
        extracted.groupBy("source")
        .agg(
            F.count(F.when(yielded, 1)).alias("n"),
            F.count(F.when(yielded & F.col("skip"), 1)).alias("n_skip"),
            F.sum(F.when(yielded, F.size("outlinks")).otherwise(F.lit(0))).alias("n_out"),
            F.count(F.when(~yielded, 1)).alias("n_fail"),
            F.min(F.when(yielded, F.col(priority.SORT_KEY))).alias("first_seen"),
        )
        .collect()
    )


def _wave_dims(extracted: DataFrame) -> list:
    # per-wave topic/sentiment distributions (reference
    # classifier.py:295-318) in ONE aggregation job over the classified
    # articles: both dimensions explode into (kind, label) rows so a
    # single groupBy covers them; min(_sk) is the first-seen tie-break
    # (Counter.most_common ties = insertion order = crawl order of the
    # first article with that label).
    return (
        _classified(extracted)
        .select(
            F.col(priority.SORT_KEY).alias("_sk"),
            F.explode(
                F.array(
                    F.struct(F.lit("topic").alias("kind"), F.col("topic").alias("label")),
                    F.struct(
                        F.lit("sentiment").alias("kind"),
                        F.col("sentiment_label").alias("label"),
                    ),
                )
            ).alias("d"),
        )
        .select("d.kind", "d.label", "_sk")
        .groupBy("kind", "label")
        .agg(F.count("*").alias("n"), F.min("_sk").alias("first_seen"))
        .collect()
    )


def _wave_metrics(
    wid: str,
    n_frontier: int,
    n_candidates: int,
    n_frontier_next: int,
    stat_rows: list,
    dim_rows: list,
) -> dict:
    n_yielded = sum(r.n for r in stat_rows)
    n_skipped = sum(r.n_skip for r in stat_rows)
    n_children = int(sum(r.n_out for r in stat_rows))
    n_articles = n_yielded - n_skipped
    dist = [
        {
            "source": r.source,
            "count": r.n,
            "percentage": round(100.0 * r.n / n_yielded, 2) if n_yielded else 0.0,
        }
        for r in sorted(
            (r for r in stat_rows if r.n), key=lambda r: (-r.n, r.first_seen)
        )
    ]

    def dim_dist(kind: str) -> str:
        # percentage of total classified (= n_articles), count-desc with
        # first-seen tie-break — classifier.py:295-307
        rows = [r for r in dim_rows if r.kind == kind]
        return json.dumps(
            [
                {
                    "label": r.label,
                    "count": r.n,
                    "percentage": round(100.0 * r.n / n_articles, 2)
                    if n_articles
                    else 0.0,
                }
                for r in sorted(rows, key=lambda r: (-r.n, r.first_seen))
            ]
        )

    return {
        "wave_id": wid,
        "n_frontier": n_frontier,
        "n_candidates": n_candidates,
        "n_yielded": n_yielded,
        "n_skipped": n_skipped,
        "n_articles": n_articles,
        "n_carry": n_frontier_next - n_children,
        "n_new_outlinks": n_children,
        "source_distribution": json.dumps(dist),
        "topic_distribution": dim_dist("topic"),
        "sentiment_distribution": dim_dist("sentiment"),
    }


def _commit_wave(
    catalog: ManifestParquetCatalog,
    wid: str,
    wave_index: int,
    frames: dict,
    extracted: DataFrame,
    n_frontier: int,
    n_candidates,
    seen_filters: tuple | None,
    extra_metrics: dict | None,
    tick,
) -> dict:
    """Commit phase: the fused articles write, the other output jobs
    concurrently, the driver-side metrics and seen-filter rows, and the
    one atomic snapshot commit. ``seen_filters`` is
    ``_load_seen_filters``' result, None when the bloom is off."""
    commit = catalog.begin()
    cores = extracted.sparkSession.sparkContext.defaultParallelism

    def write(table: str, df: DataFrame, mode: str = "append") -> int:
        return _timed_write(commit, wid, table, df, mode)

    # THE data-plane fusion, in every gate mode: this write traverses
    # (and fills) the extract cache, so extract CPU and articles sink IO
    # run in ONE job instead of serializing (a real cluster's sink
    # streams from the extract stage; it never materializes-then-
    # rewrites). A gate's filters ride inside it — drop mode's anti-join
    # against the persisted flags frame fills that frame here, on the
    # main thread, before any concurrent job could race an unfilled
    # cache. Never repartition here: that would shuffle the data plane.
    write(
        "articles",
        frames["articles"].coalesce(_fused_articles_width(catalog, n_frontier, cores)),
    )
    tick("extract+articles(fused)")
    n_extracted = extracted.count()  # cache is filled: cheap

    def narrowed_by_rows(table: str, n_rows_est: int) -> DataFrame:
        return _narrowed(frames[table], *_write_plan(catalog, table, n_rows_est, cores))

    def prior_rows(table: str) -> int:
        # overwrite tables are bounded by their own previous size
        # (manifest stats rows); append tables by this wave's extract
        return catalog.table_stats(table).get("rows", 0) or n_extracted

    def gate_writes() -> None:
        # the near-dup gate as ONE chained task, overlapping the other
        # commit jobs: the flags write reads the persisted flags frame,
        # which the band append's anti-join then reads too (two tasks
        # would race to compute it in flag mode)
        write(
            "near_dup_flags",
            _narrowed(frames["near_dup_flags"].withColumn("wave_id", F.lit(wid)), 2),
        )
        write(
            "minhash_bands",
            narrowed_by_rows("minhash_bands", n_extracted * dedupgate.N_BANDS),
        )

    with ThreadPoolExecutor(max_workers=8) as pool:
        # the wave's output jobs are independent of each other — submit
        # them concurrently so the driver doesn't serialize small writes
        # + aggregations behind one another (Spark schedules concurrent
        # jobs across the same executors)
        futures = [
            pool.submit(
                write, "frontier", narrowed_by_rows("frontier", prior_rows("frontier")), "overwrite"
            ),
            pool.submit(write, "seen", narrowed_by_rows("seen", n_extracted)),
        ]
        f_stats = pool.submit(_timed_job, wid, "stats", lambda: _wave_stats(extracted))
        f_dims = pool.submit(_timed_job, wid, "dims", lambda: _wave_dims(extracted))
        if "webhook_payloads" in frames:
            futures.append(
                pool.submit(
                    write, "webhook_payloads", narrowed_by_rows("webhook_payloads", n_extracted)
                )
            )
        if "host_state" in frames:
            futures.append(
                pool.submit(
                    write,
                    "host_state",
                    narrowed_by_rows("host_state", prior_rows("host_state")),
                    "overwrite",
                )
            )
        if "media_features" in frames:
            futures.append(
                pool.submit(
                    write, "media_features", narrowed_by_rows("media_features", n_extracted)
                )
            )
        if "quality_flags" in frames:
            futures.append(
                pool.submit(write, "quality_flags", _narrowed(frames["quality_flags"], 2))
            )
        if "near_dup_flags" in frames:
            futures.append(pool.submit(gate_writes))
        # deletable tier: ONE job builds both accelerator artifacts for
        # this wave's delta — the cuckoo blob (serves the spill window
        # now) and the bloom bitmap (the precomputed fold input for when
        # this wave LEAVES the window — the fold is then a driver-side
        # OR, zero Spark jobs, zero re-reads)
        f_accel = (
            pool.submit(
                _timed_job,
                wid,
                "accel_build",
                lambda: seenset.build_accel_rows(frames["seen"]).collect(),
            )
            if seen_filters is not None
            else None
        )
        n_frontier_next = futures[0].result()
        for f in futures[1:]:
            f.result()
        stat_rows, dim_rows = f_stats.result(), f_dims.result()
        accel_rows = f_accel.result() if f_accel is not None else None
    if "near_dup_flags" in frames:
        frames["near_dup_flags"].unpersist()
    tick("parallel writes+stats")

    metrics = _wave_metrics(
        wid, n_frontier, n_candidates(), n_frontier_next, stat_rows, dim_rows
    )
    # which extract kernels ran (native or pure-Python fallback):
    # snapshot-only, like extra_metrics, so a fallback is visible in
    # scripts/inspect_catalog.py instead of silent
    metrics.update(_fp_native.kernel_flags())
    if extra_metrics:
        # caller-supplied idempotence markers (e.g. the streaming epoch
        # id) ride the snapshot's metrics dict — committed atomically
        # with the wave, snapshot-only (the wave_metrics TABLE keeps its
        # fixed schema below)
        metrics.update(extra_metrics)
    # driver-resident tables (1 metrics row, K bloom shards) write via
    # pyarrow directly — each Spark job here costs ~0.3-0.5 s of the
    # wave's SERIAL tail for a KB-scale payload
    commit.write_rows(
        "wave_metrics",
        [tuple(metrics[f.name] for f in WAVE_METRICS.fields)],
        WAVE_METRICS,
        mode="append",
    )
    if seen_filters is not None:
        bloom, _spill, spill_rows = seen_filters
        leaving = wave_index - SPILL_WAVES
        fold_rows = [r for r in spill_rows if r.wave_index <= leaving]
        if fold_rows:
            merged = seenset.BloomShardSet.from_rows(
                [(r.shard, r.bloom_bitmap, r.n_items) for r in fold_rows]
            )
            if bloom is not None:
                merged.merge(bloom)
            commit.write_rows(
                "bloom_shards", merged.to_rows(), BLOOM_SHARDS, mode="overwrite"
            )
        # spill window: prior recent-wave rows still inside the window +
        # this wave's rows (the leaving wave's rows drop — their coverage
        # just moved into the bloom)
        new_spill = [
            (r.wave_index, r.shard, bytes(r.bitmap), bytes(r.bloom_bitmap), r.n_items)
            for r in spill_rows
            if r.wave_index > leaving
        ] + [
            (wave_index, r.shard, bytes(r.cuckoo), bytes(r.bloom), r.n_items)
            for r in accel_rows
        ]
        commit.write_rows("cuckoo_spill", new_spill, CUCKOO_SPILL, mode="overwrite")
    tick("bloom_merge+metrics")
    commit.commit(wave_id=wid, wave_index=wave_index, metrics=metrics)
    tick("commit")
    return metrics


def run_wave(
    spark: SparkSession,
    catalog: ManifestParquetCatalog,
    pages: DataFrame,
    wave_index: int,
    min_text_chars: int = ex.MIN_TEXT_CHARS,
    budget: int | None = None,
    robots: DataFrame | None = None,
    use_bloom: bool = True,
    webhook_key: bytes | None = None,
    scheduler: str = "reference",
    pages_table: str | None = None,
    enrich_fn=None,
    media_sink: bool = False,
    dedup_gate: str | None = None,
    min_quality: float | None = None,
    extra_metrics: dict | None = None,
    dedup_captures: bool = False,
) -> dict:
    """One crawl wave. ``enrich_fn`` swaps the deterministic classify
    stand-in for real model inference (see extract.make_extract_kernel).

    ``dedup_captures``: the batch pages input carries a unique-url
    contract (a capture table keyed by url), so the fetch join emits one
    article per candidate with zero dedup cost. Streaming micro-batches
    can break that contract — a cross-lineage restart re-delivers files,
    so one batch may hold several captures of the same url. With
    dedup_captures=True the wave keeps the LATEST capture per url
    (max warc_ts, fingerprint tie-break), applied AFTER extraction so
    the window shuffles only the wave-bounded extracted rows and the
    raw html still never moves.

    ``min_quality`` withholds articles whose in-scan quality score falls
    below the threshold from the articles sink (a ``quality_flags``
    table records them with their scores — the audit trail).  Crawl
    semantics (seen set, frontier, outlinks) are untouched, exactly
    like the dedup gate: these are SINK filters for the training-data
    pipeline, not crawl-scheduling changes.

    ``dedup_gate`` enables the incremental near-dup gate (dedupgate.py —
    a persistent MinHash band index probed per wave): ``"flag"`` records
    near-dup decisions in a ``near_dup_flags`` table; ``"drop"``
    additionally withholds flagged articles from the articles sink.
    Either way the kept articles' band rows append to ``minhash_bands``
    atomically with the wave. A gated wave's extract kernel also hashes
    each page's band keys (extract.make_extract_kernel(band_keys=True)),
    so the gate adds no Python pass; ungated waves run the plain
    ``extract_pages``. Every mode writes its articles the same way: the
    articles write is the job that runs the extract, with the gates'
    filters (drop mode's anti-join against the flags) inside it.

    ``media_sink=True`` adds the wave-level multimodal path: the fetched
    pages' raw payloads run through the typed-feature + resize-plan
    kernel (multimodal.page_media_features) and commit as a
    ``media_features`` table alongside the other state. It costs one
    extra pass over the fetched slice (the extract kernel drops the
    bytes, so media needs its own scan) — payloads are never persisted.

    ``scheduler`` picks the candidate ordering: ``"reference"``
    (default) is the reference's total order, required for fixture
    parity; ``"scaled"`` is the north-rule priority queue driven by the
    persisted ``host_state`` table, whose ``last_fetch_ts`` this wave
    updates at commit — hosts idle longest crawl first, never-fetched
    hosts first of all.

    ``pages_table`` switches the fetch join's physical strategy: when
    set (the name of a url-bucketed pages table, see
    ``bucketing.write_bucketed``), the wave's candidates are written
    bucketed on url at that table's own bucket count and the fetch
    becomes a co-located sort-merge join with NO Exchange on the pages
    side — the 10^10-frontier path where the candidate set is too large
    to broadcast and html bytes still never move. A table not bucketed
    on url raises ValueError. Default (None): broadcast the slim
    candidate metadata into the pages scan.
    """
    wid = wave_id_for(wave_index)
    tick = _ticker(wid)
    # frontier row count is free from the snapshot manifest (lineage stats)
    n_frontier = catalog.table_stats("frontier").get("rows", 0)
    cands, n_candidates, sort_key, host_state = _plan_candidates(
        spark, catalog, wid, scheduler
    )
    tick("dedup(plan)")
    seen_filters = _load_seen_filters(catalog) if use_bloom else None
    bloom, spill, _ = seen_filters or (None, None, None)
    tick("bloom_load")
    seen = catalog.read(spark, "seen", SEEN).filter(F.col("is_processed"))
    unseen = seenset.antijoin_unseen(cands, seen, bloom, spill)
    kept, deferred = politeness.budget_gate(
        politeness.robots_filter(unseen, robots), budget
    )
    kept = kept.persist()
    # bucketed fetch: the wave's candidates go to a catalog-scoped table
    cand_table = (
        "newscrawl_cand_" + hashlib.md5(catalog.root.encode("utf-8")).hexdigest()[:10]
        if pages_table is not None
        else None
    )
    extracted = None
    try:
        fetched, extracted = _fetch_extract(
            spark,
            pages,
            kept,
            sort_key,
            pages_table,
            cand_table,
            enrich_fn,
            dedup_gate,
            dedup_captures,
            min_text_chars,
        )
        frames = _sink_frames(
            spark,
            catalog,
            wid,
            wave_index,
            kept,
            deferred,
            fetched,
            extracted,
            host_state,
            dedup_gate,
            min_quality,
            webhook_key,
            media_sink,
        )
        return _commit_wave(
            catalog,
            wid,
            wave_index,
            frames,
            extracted,
            n_frontier,
            n_candidates,
            seen_filters,
            extra_metrics,
            tick,
        )
    finally:
        if extracted is not None:
            extracted.unpersist()
        kept.unpersist()
        cands.unpersist()
        if cand_table is not None:
            spark.sql(f"DROP TABLE IF EXISTS {cand_table}")


def run_crawl(
    spark: SparkSession,
    catalog: ManifestParquetCatalog,
    cfg: synth.SynthConfig,
    n_waves: int | None = None,
    pages: DataFrame | None = None,
    budget: int | None = None,
    robots: DataFrame | None = None,
    use_bloom: bool = True,
    webhook_key: bytes | None = None,
    scheduler: str = "reference",
    host_state_seed: DataFrame | None = None,
    pages_table: str | None = None,
    enrich_fn=None,
    media_sink: bool = False,
    dedup_gate: str | None = None,
    min_quality: float | None = None,
) -> list[dict]:
    """Run (or resume) a crawl. Already-committed waves are skipped —
    replaying is a no-op, which is the resume/idempotence guarantee."""
    n_waves = n_waves if n_waves is not None else cfg.n_waves
    if pages is None and pages_table is None:
        pages = synth.build_pages_df(spark, cfg)
    if catalog.current_snapshot() is None:
        init_crawl(
            spark, catalog, synth.build_seeds_df(spark, cfg), host_state_seed
        )
    out = []
    for w in range(catalog.last_wave_index() + 1, n_waves):
        out.append(
            run_wave(
                spark,
                catalog,
                pages,
                w,
                min_text_chars=cfg.min_text_chars,
                budget=budget,
                robots=robots,
                use_bloom=use_bloom,
                webhook_key=webhook_key,
                scheduler=scheduler,
                pages_table=pages_table,
                enrich_fn=enrich_fn,
                media_sink=media_sink,
                dedup_gate=dedup_gate,
                min_quality=min_quality,
            )
        )
    return out


def read_near_dup_flags(
    spark: SparkSession, catalog: ManifestParquetCatalog
) -> DataFrame:
    return catalog.read(spark, "near_dup_flags", NEAR_DUP_FLAGS)


def read_quality_flags(
    spark: SparkSession, catalog: ManifestParquetCatalog
) -> DataFrame:
    from .schema import QUALITY_FLAGS

    return catalog.read(spark, "quality_flags", QUALITY_FLAGS)


def read_articles(spark: SparkSession, catalog: ManifestParquetCatalog) -> DataFrame:
    return catalog.read(spark, "articles", ARTICLES)


def read_seen(spark: SparkSession, catalog: ManifestParquetCatalog) -> DataFrame:
    return catalog.read(spark, "seen", SEEN)


def read_media(spark: SparkSession, catalog: ManifestParquetCatalog) -> DataFrame:
    return catalog.read(spark, "media_features", MEDIA_FEATURES)


def crawl_order(spark: SparkSession, catalog: ManifestParquetCatalog) -> list[tuple[str, str]]:
    """(wave_id, url) global crawl sequence, reconstructed from the
    persisted per-yield sort keys — the fixture the oracle's
    ``WaveResult.crawl_order`` is diffed against."""
    seen = read_seen(spark, catalog)
    return [
        (r.processed_wave, r.url)
        for r in seen.orderBy("processed_wave", "sort_key").collect()
    ]
