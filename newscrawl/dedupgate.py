"""Incremental near-duplicate gate: a persistent MinHash-LSH band index.

The batch dedup operators (queries.q_minhash_lsh_candidates and friends)
compare a corpus against itself.  A crawl doesn't have that luxury: every
wave must ask "is this article a near-duplicate of ANYTHING crawled
before?" without re-scanning history.  The production shape is an
accreting LSH index — this module implements it over the wave catalog:

- every kept article contributes its 4 band keys (8 minhash
  permutations — the four 32-bit words of two md5 evaluations per
  word-3-gram shingle — banded 4x2; identical parameters and hash
  construction to the batch operators, so the two agree) to the
  ``minhash_bands`` table, committed atomically with the wave.  The
  keys are hashed by the native kernel (_fp_native, pure-Python
  fallback extract.minhash_band_keys) INSIDE the wave's extract pass,
  which already holds each page's text: the gated wave runs no second
  Python pass over its articles;
- the next wave probes the table with a broadcast semi-filter: the
  historical index — the 10^10-row side at web scale — streams
  map-side through a BroadcastHashJoin against the wave's (band, key)
  set and never shuffles;
- the matched history rows and the wave's own band rows then meet in
  ONE window by (band, key) — the minimal prior holder and the
  earliest wave holder of every key — and ONE aggregate by url turns
  those into decisions: prior-wave matches, and same-wave matches
  first-wins by the crawl sort key (the same tie-break as the engine's
  exact first-wins dedup);
- ``flag`` mode records decisions in ``near_dup_flags``; ``drop`` mode
  additionally withholds flagged articles from the articles sink (their
  bands are NOT indexed — the index holds canonical documents only).

Reference parity note: the reference crawler has no near-dup concept at
all (exact url-seen only, lib/repositories/link_pool_repository.py) —
this is one of the training-data-pipeline capabilities layered on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W, functions as F

from .extract import BAND_KEYS_COLUMN, minhash_band_keys

N_MINHASH = 8  # == queries.N_MINHASH; 4 bands x 2 rows
N_BANDS = N_MINHASH // 2


def hash_band_keys(df: DataFrame, text_col: str = "text") -> DataFrame:
    """``df`` with ``text_col`` replaced by ``band_keys array<string>``
    (list index = band; empty for texts below 3 tokens), via one Arrow
    kernel riding the scan — the same kernel function the gated extract
    pass calls, for frames that did not come out of it. The text is not
    shipped back from the Python worker: nothing downstream needs it."""
    in_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema.fields
        if f.name != text_col
    )

    def kernel(batch_iter):
        import pandas as pd

        from ._fp_native import get_band_keys_fn

        bk = get_band_keys_fn(minhash_band_keys)
        for pdf in batch_iter:
            texts = pdf.pop(text_col)
            # object-typed: an empty batch's bare list column is float64
            pdf["band_keys"] = pd.Series(
                [bk(t) for t in texts], index=pdf.index, dtype=object
            )
            yield pdf

    return df.mapInPandas(kernel, schema=f"{in_ddl}, {BAND_KEYS_COLUMN}")


def band_rows(df: DataFrame, id_col: str = "url", text_col: str = "text") -> DataFrame:
    """(id, band, key) LSH band keys — the same signature construction
    as queries._minhash_signatures (min over word-3-gram shingles of
    md5(f'{j}|{shingle}') 32-bit words), emitted as the 4 banded key
    rows. Documents with <3 tokens emit no rows (no shingles -> never
    near-dup by this gate).
    tests/test_dedupgate.py::test_band_spec_matches_batch_minhash diffs
    this kernel against the pure-Python batch kernel, so the two
    implementations cross-validate."""
    return hash_band_keys(df.select(id_col, text_col), text_col).select(
        id_col, F.posexplode("band_keys").alias("band", "key")
    )


# Broadcast ceiling for the probe's wave-key set: ~80 bytes per
# (band, key) row puts 10M distinct keys around 1 GB of driver/executor
# broadcast — the practical limit.  At 4 band keys/article that bounds
# the BROADCAST probe at wave sizes of ~2.5M articles; beyond it, pass
# probe="bucketed" (or "auto", which counts) to switch to the
# co-located band-index join below.
GATE_BROADCAST_MAX_KEYS = 10_000_000


def _clear_orphan_table_dir(spark, table: str) -> None:
    """A warehouse directory surviving from a previous session while the
    (in-memory) metastore forgot the table makes saveAsTable fail with
    LOCATION_ALREADY_EXISTS — an orphan dir is never valid data for a
    table the catalog doesn't know, so remove it.

    The cleanup is scoped to THIS module's ``newscrawl_`` table
    namespace: with a shared warehouse dir (concurrent sessions, or a
    persistent metastore) an unscoped rmtree could delete another
    session's live data for a table this session merely hasn't
    registered. An unprefixed name is refused outright rather than left
    to fail later with LOCATION_ALREADY_EXISTS and no hint why."""
    if not table.lower().startswith("newscrawl_"):
        raise ValueError(
            f"gate table {table!r} must be named with the 'newscrawl_' "
            "prefix (the namespace its orphan-directory cleanup may touch)"
        )
    if spark.catalog.tableExists(table):
        return
    import os
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    for prefix in ("file://", "file:"):
        if wh.startswith(prefix):
            wh = wh[len(prefix):]
            break
    shutil.rmtree(os.path.join(wh, table.lower()), ignore_errors=True)


def write_band_index_bucketed(
    bands: DataFrame, table: str, n_buckets: int = 64
) -> None:
    """Materialize the persistent band index as a Spark table bucketed
    by (band, key) — the storage layout the bucketed probe needs so the
    10^10-row history joins co-located with ZERO Exchange (the
    bucketing.py fetch-join pattern applied to the gate).  Appending a
    wave's kept bands keeps the bucket spec.  ``table`` must carry the
    ``newscrawl_`` prefix (ValueError otherwise)."""
    _clear_orphan_table_dir(bands.sparkSession, table)
    (
        bands.write.bucketBy(n_buckets, "band", "key")
        .sortBy("band", "key")
        .mode("append")
        .format("parquet")
        .saveAsTable(table)
    )


def wave_flags(
    new_articles: DataFrame,
    prior_bands: DataFrame | None,
    sort_col: str = "sort_key",
    probe: str = "broadcast",
    bands_table: str | None = None,
    n_buckets: int = 64,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Gate one wave's articles against the persistent index and against
    each other.  ``new_articles`` needs (url, sort_col) and either the
    ``band_keys`` column the gated extract pass emits or a ``text``
    column (the keys are then hashed here, by the same kernel).

    Returns (flags, kept_bands, cached) — cached is the frame carrying
    the band keys both outputs derive from, persisted when the keys
    were hashed here; the caller unpersists it (and flags) once the
    wave's writes committed.  Output frames:
    - flags(url, matched_url, n_band_hits, scope): articles that near-dup
      a prior-wave canonical (scope=prior_wave; matched_url = the
      minimal prior holder of a shared key) or an earlier-sorted article
      of the SAME wave (scope=same_wave; first-wins on the full
      (sort_col, url) tuple, the engine's exact-dedup tie-break).  An
      article matching both reports prior_wave (the stronger claim).
      n_band_hits counts the article's distinct matching keys.
    - kept_bands(url, band, key): band rows of the NON-flagged articles —
      what the caller appends to the index.

    Plan shape (``probe="broadcast"``, the default): the prior index
    streams map-side through a BroadcastHashJoin left-semi filter
    against the wave's (bounded) band keys — no Exchange, no aggregation
    touches the unmatched history.  The matched rows union with the
    wave's band rows into ONE window by (band, key) — min prior url,
    min (sort_col, url) over the wave's holders — and ONE groupBy(url)
    yields the decisions: two shuffles of wave-bounded rows, nothing
    driver-side.  Every key's holders are reduced to its two minima, so
    k docs sharing one boilerplate key cost k rows, never k^2.

    Broadcast bound: the wave's (band, key) set must fit a broadcast —
    GATE_BROADCAST_MAX_KEYS (~2.5M articles/wave at 4 keys each).
    Beyond it, ``probe="bucketed"`` keeps the history unshuffled a
    different way: maintain the index as a (band, key)-bucketed Spark
    table (write_band_index_bucketed; pass its name as ``bands_table``)
    and the semi-filter becomes a CO-LOCATED sort-merge join — zero
    Exchange on the history side, plan-asserted by tests/test_plans.py.
    Without a bands_table the bucketed path still produces identical
    flags but shuffles the prior frame once (correct, not the scale
    plan).  ``probe="auto"`` counts the wave's distinct keys (one job
    over the persisted band frame) and picks; both paths are
    output-identical (equivalence tests, tests/test_dedupgate.py)."""
    cached = new_articles
    if "band_keys" not in new_articles.columns:
        # keys hashed here, not in the extract pass: persist them, as
        # the probe, the window and kept_bands all read them. (Keys from
        # the extract cache are a cheap projection of an already-filled
        # cache; persisting that copy would only add jobs filling it.)
        cached = new_articles = hash_band_keys(new_articles).persist()
    bands_new = new_articles.select(
        "url",
        F.col(sort_col).alias("_sk"),
        F.posexplode("band_keys").alias("band", "key"),
    )
    wave_rows = bands_new.select(
        "band",
        "key",
        F.lit(None).cast("string").alias("_purl"),
        F.col("url").alias("_nurl"),
        "_sk",
    )

    if prior_bands is not None:
        new_keys = bands_new.select("band", "key")
        mode = probe
        if mode == "auto":
            mode = (
                "broadcast"
                if new_keys.distinct().count() <= GATE_BROADCAST_MAX_KEYS
                else "bucketed"
            )
        prior = prior_bands.select("url", "band", "key")
        if mode == "broadcast":
            matched_prior = prior.join(
                F.broadcast(new_keys), ["band", "key"], "left_semi"
            )
        elif mode == "bucketed":
            # beyond the broadcast bound: write THIS WAVE's key set
            # bucketed by (band, key); against a bands_table maintained
            # with the same bucket spec the semi-filter plans as a
            # co-located sort-merge join — the history side scans
            # straight into the join, no Exchange
            spark = bands_new.sparkSession
            import hashlib as _hl

            keys_table = (
                "newscrawl_gate_keys_"
                + _hl.md5(
                    (bands_table or "adhoc").encode("utf-8")
                ).hexdigest()[:10]
            )
            _clear_orphan_table_dir(spark, keys_table)
            (
                new_keys.write.bucketBy(n_buckets, "band", "key")
                .sortBy("band", "key")
                .mode("overwrite")
                .format("parquet")
                .saveAsTable(keys_table)
            )
            if bands_table is not None:
                prior = spark.table(bands_table).select("url", "band", "key")
            matched_prior = prior.join(
                spark.table(keys_table), ["band", "key"], "left_semi"
            )
        else:
            raise ValueError(f"unknown probe mode {probe!r}")
        rows = matched_prior.select(
            "band",
            "key",
            F.col("url").alias("_purl"),
            F.lit(None).cast("string").alias("_nurl"),
            F.lit(None).cast(bands_new.schema["_sk"].dataType).alias("_sk"),
        ).unionByName(wave_rows)
    else:
        rows = wave_rows

    # ONE window by (band, key): the key's minimal prior holder, and its
    # earliest wave holder by the FULL (sort_key, url) tuple — history
    # rows carry a NULL struct, which min() skips
    by_key = W.partitionBy("band", "key")
    mine = F.struct(F.col("_sk").alias("s"), F.col("_nurl").alias("u"))
    keyed = (
        rows.withColumn("_p", F.min("_purl").over(by_key))
        .withColumn(
            "_f", F.min(F.when(F.col("_nurl").isNotNull(), mine)).over(by_key)
        )
        .filter(F.col("_nurl").isNotNull())
    )
    # per wave row: a prior hit iff the key has a prior holder; a
    # same-wave hit iff the key's earliest wave holder sorts strictly
    # before this article (strict on the tuple: two near-dups sharing
    # an identical sort_key still flag the later url)
    same = F.col("_f") < mine
    hits = keyed.groupBy(F.col("_nurl").alias("url")).agg(
        F.count("_p").alias("_np"),
        F.min("_p").alias("_mp"),
        F.count(F.when(same, 1)).alias("_ns"),
        F.min(F.when(same, F.col("_f"))).getField("u").alias("_ms"),
    )
    # prior_wave outranks same_wave. Transitive same-wave chains flag
    # against the FIRST article only as canonical is defined per pair;
    # an article flagged via a flagged intermediate stays flagged
    # (greedy keep-first, same spec as queries.q_semantic_dedup)
    prior_hit = F.col("_np") > 0
    # flags is persisted because BOTH gate outputs traverse it (the
    # flag-table write directly, the band append via the anti-join).
    # Bounded: one row per flagged article of ONE wave.
    flags = (
        hits.filter(prior_hit | (F.col("_ns") > 0))
        .select(
            "url",
            F.when(prior_hit, F.col("_mp")).otherwise(F.col("_ms")).alias(
                "matched_url"
            ),
            F.when(prior_hit, F.col("_np")).otherwise(F.col("_ns")).alias(
                "n_band_hits"
            ),
            F.when(prior_hit, F.lit("prior_wave")).otherwise(
                F.lit("same_wave")
            ).alias("scope"),
        )
        .persist()
    )
    kept_bands = bands_new.select("url", "band", "key").join(
        flags.select("url"), "url", "left_anti"
    )
    return flags, kept_bands, cached
