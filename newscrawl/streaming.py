"""Structured Streaming wrapper around the wave runner.

The reference's "streaming" is an external 15-minute systemd timer
driving a batch pipeline (SURVEY.md §2.9 — no watermarks, no event-time
windows; state lives in tables). The batch wave loop (wave.run_crawl)
is therefore the primary execution mode. This module adds the idiomatic
Spark continuous-ingestion variant: watch a directory where page
captures (WARC-extract drops) keep arriving, and run one crawl wave per
micro-batch of newly arrived pages via foreachBatch +
Trigger.AvailableNow.

Exactly-once: foreachBatch may retry a batch after a failure; the wave
commit is atomic and ``run_wave`` is keyed by the catalog's
last-committed wave index, so a retried batch re-runs the SAME wave
index against unchanged state — idempotent by the same argument as
batch resume (tests/test_storage.py).
"""

from __future__ import annotations

import os

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import types as T

from . import extract as ex
from .schema import PAGES
from .storage import ManifestParquetCatalog
from .wave import run_wave


def stream_crawl(
    spark: SparkSession,
    catalog: ManifestParquetCatalog,
    pages_dir: str,
    checkpoint_dir: str,
    min_text_chars: int = ex.MIN_TEXT_CHARS,
    budget: int | None = None,
    max_files_per_trigger: int | None = None,
    scheduler: str = "reference",
    webhook_key: bytes | None = None,
    dedup_gate: str | None = None,
) -> int:
    """Process all currently-available page files as a sequence of crawl
    waves (one per micro-batch), then stop. Returns waves executed.

    The seed frontier must already be committed (wave.init_crawl).
    ``dedup_gate`` passes through to run_wave: because the MinHash band
    index lives in the catalog and each micro-batch commits atomically,
    the streaming mode gets INCREMENTAL cross-batch near-dup gating for
    free — a page arriving in a later micro-batch that near-duplicates
    any earlier batch's article is flagged (or dropped) against the
    persisted index, exactly-once under foreachBatch retries: each
    wave's snapshot records its (checkpoint lineage, micro-batch epoch)
    marker committed atomically with the wave — the Delta
    txnAppId+txnVersion pattern — and ``handle`` no-ops when the
    incoming epoch is already committed FOR THIS LINEAGE.  So a driver
    crash between the catalog commit and the streaming checkpoint
    advance replays the batch into a skip instead of a duplicate wave,
    while a restart with a fresh checkpoint (new lineage, epochs
    re-numbered from 0) correctly reprocesses — new pages crawl, and
    already-crawled pages are absorbed by the seen-set anti-join.
    """
    # The exactly-once lineage id (below) is read with plain local-
    # filesystem IO; a remote checkpointLocation (hdfs://, s3a://) would
    # need the Hadoop FS API, so it is refused up front rather than
    # failing with a confusing FileNotFoundError at the first micro-batch.
    local_ckpt = checkpoint_dir
    for prefix in ("file://", "file:"):
        if local_ckpt.startswith(prefix):
            local_ckpt = local_ckpt[len(prefix):]
            break
    if "://" in local_ckpt:
        raise ValueError(
            "stream_crawl reads the exactly-once lineage id via local"
            f" file IO; remote checkpoint '{checkpoint_dir}' is not"
            " supported (use a local checkpointLocation)"
        )
    reader = spark.readStream.schema(PAGES)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(pages_dir)

    n_waves = {"n": 0}

    # Lineage identifier for the exactly-once marker (the Delta
    # txnAppId+txnVersion pattern): foreachBatch epoch ids are only
    # monotone within ONE checkpoint lineage.  A restart with a FRESH
    # checkpoint over a source that gained files re-numbers batches
    # from 0 — comparing raw epoch ids across lineages would silently
    # skip genuinely new data in the first N micro-batches.  The
    # lineage is the streaming QUERY ID Spark persists in the
    # checkpoint's metadata file (same checkpoint -> same id across
    # restarts, even if the directory is relocated; new checkpoint ->
    # new id and a fresh epoch sequence), so the marker is
    # (stream_lineage, stream_epoch) and a batch is skipped only when
    # BOTH the lineage matches and the epoch was committed.
    # Cross-lineage reprocessing of already-crawled pages is idempotent
    # at the ARTICLE level via the seen-set anti-join (no duplicate
    # articles/seen/band rows); it may commit empty waves, which is the
    # correct price for never dropping new data.
    _lineage_box: dict[str, str | None] = {"v": None}

    def _lineage() -> str:
        # read lazily: Spark writes <ckpt>/metadata at query start,
        # which is before the first foreachBatch invocation
        if _lineage_box["v"] is None:
            import json

            with open(os.path.join(local_ckpt, "stream", "metadata")) as fh:
                _lineage_box["v"] = str(json.load(fh)["id"])
        return _lineage_box["v"]

    def _last_committed_epoch() -> int:
        """Walk the snapshot chain back to the newest wave whose
        stream marker belongs to THIS lineage and return its epoch
        (epochs are monotone per lineage, so the first matching hit is
        the max). Markers from other lineages are skipped over —
        normally the current snapshot answers immediately."""
        lineage = _lineage()
        snap = catalog.current_snapshot()
        while snap is not None:
            m = snap.get("metrics") or {}
            ep = m.get("stream_epoch")
            if ep is not None and m.get("stream_lineage") == lineage:
                return int(ep)
            parent = snap.get("parent_snapshot_id")
            snap = catalog.snapshot(parent) if parent is not None else None
        return -1

    def handle(batch_df, epoch_id: int) -> None:
        if not batch_df.head(1):
            return
        if int(epoch_id) <= _last_committed_epoch():
            # foreachBatch replay of a batch whose wave already
            # committed in THIS checkpoint lineage (crash after catalog
            # commit, before checkpoint advance) — reprocessing would
            # duplicate articles/seen/band rows as a NEW wave
            return
        wave_index = catalog.last_wave_index() + 1
        run_wave(
            spark,
            catalog,
            batch_df,
            wave_index,
            min_text_chars=min_text_chars,
            budget=budget,
            scheduler=scheduler,
            webhook_key=webhook_key,
            dedup_gate=dedup_gate,
            extra_metrics={
                "stream_epoch": int(epoch_id),
                "stream_lineage": _lineage(),
            },
            # re-delivered files after a cross-lineage restart can put
            # several captures of one url into a single micro-batch
            dedup_captures=True,
        )
        n_waves["n"] += 1

    q = (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", os.path.join(checkpoint_dir, "stream"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return n_waves["n"]


# ---------------------------------------------------------------------------
# Custom stateful streaming operator: cross-batch URL dedup per host
# (applyInPandasWithState) — the streaming analog of the seen-set
# anti-join for pipelines where pages arrive as an unbounded stream and
# the same url may reappear in later micro-batches.
# ---------------------------------------------------------------------------

DEDUP_OUT_SCHEMA = T.StructType(
    [
        T.StructField("host", T.StringType()),
        T.StructField("url", T.StringType()),
    ]
)

# per-host state: the sorted int64 hash set, as raw bytes (numpy buffer —
# compact, no pickle, O(log n) membership via searchsorted)
DEDUP_STATE_SCHEMA = T.StructType([T.StructField("hashes", T.BinaryType())])


def _in_sorted(sorted_arr: np.ndarray, values: np.ndarray) -> np.ndarray:
    """Vectorized membership of ``values`` in a sorted int64 array."""
    if len(sorted_arr) == 0:
        return np.zeros(len(values), dtype=bool)
    idx = np.searchsorted(sorted_arr, values)
    idx = np.minimum(idx, len(sorted_arr) - 1)
    return sorted_arr[idx] == values


def _dedup_fn(key, pdf_iter, state):
    if state.exists:
        seen = np.frombuffer(bytes(state.get[0]), dtype=np.int64).copy()
    else:
        seen = np.empty(0, dtype=np.int64)
    new = np.empty(0, dtype=np.int64)  # kept sorted across batches
    for pdf in pdf_iter:
        hashes = pdf["url_hash"].to_numpy(dtype=np.int64)
        # one searchsorted per tier (state + this trigger's new hashes),
        # plus a first-occurrence mask for intra-batch duplicates — all
        # vectorized, no per-element Python loop
        dup = _in_sorted(seen, hashes) | _in_sorted(new, hashes)
        first = np.zeros(len(hashes), dtype=bool)
        _, first_idx = np.unique(hashes, return_index=True)
        first[first_idx] = True
        fresh_mask = ~dup & first
        out = pdf.loc[fresh_mask, ["host", "url"]]
        if len(out):
            yield out
        if fresh_mask.any():
            new = np.sort(np.concatenate([new, hashes[fresh_mask]]))
    if len(new):
        merged = np.sort(np.concatenate([seen, new]))
        state.update((merged.tobytes(),))


def windowed_host_counts(
    pages_stream: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time windowed per-host page counts with late-data handling
    — the idiomatic Structured Streaming aggregation the reference's
    timer-driven batch loop has no analog for. ``warc_ts`` (capture
    time) is the event time; rows later than the watermark past the
    window end are dropped and the window's state is reclaimed, so
    state size is bounded by (hosts x open windows), not stream length.
    Use with ``outputMode("append")``: a window emits exactly once,
    when the watermark closes it."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .select(
            F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host"),
            "warc_ts",
        )
        .groupBy(F.window("warc_ts", window).alias("win"), "host")
        .agg(F.count("*").alias("n_pages"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "host",
            "n_pages",
        )
    )


def session_counts_stream(
    pages_stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming gap-sessionization with the NATIVE session_window: one
    session row per (host, burst of captures separated by < gap),
    emitted once when the watermark closes the session. This is the
    streaming twin of the batch lag+cumsum sessionization
    (queries.q_sessionization) — same gap semantics, but state is a
    single open session per key that session_window merges and expires
    by watermark, so memory is bounded by live keys, not history.
    Use with outputMode("append")."""
    return (
        pages_stream.withWatermark("warc_ts", watermark)
        .select(
            F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host"),
            "warc_ts",
        )
        .groupBy(F.session_window("warc_ts", gap).alias("sess"), "host")
        .agg(F.count("*").alias("n_pages"))
        .select(
            "host",
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_pages",
        )
    )


def stateful_dedup_stream(pages_stream: DataFrame) -> DataFrame:
    """Streaming DataFrame of first-ever occurrences of each url,
    grouped by host so state shards horizontally (each host's seen-set
    lives with its group — the same sharding story as the batch bloom
    shards). Use on a readStream of PAGES rows."""
    keyed = pages_stream.select(
        F.regexp_extract("url", r"^https?://([^/]+)", 1).alias("host"),
        "url",
        F.xxhash64("url").alias("url_hash"),
    )
    return keyed.groupBy("host").applyInPandasWithState(
        _dedup_fn,
        DEDUP_OUT_SCHEMA,
        DEDUP_STATE_SCHEMA,
        "append",
        "NoTimeout",
    )
