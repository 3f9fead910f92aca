"""Streaming ingestion mode: waves driven by arriving page files."""

from __future__ import annotations

import hashlib

from newscrawl import streaming, synth, wave
from newscrawl.storage import ManifestParquetCatalog


def test_stream_crawl_processes_arrivals_as_waves(spark, tmp_path):
    cfg = synth.SynthConfig(n_seed=3, n_total=12, hot_links=False)
    pages = synth.build_pages_df(spark, cfg, num_partitions=4)
    pages_dir = str(tmp_path / "pages")
    # 4 parquet files -> maxFilesPerTrigger=2 gives 2 micro-batches
    pages.write.parquet(pages_dir)

    catalog = ManifestParquetCatalog(str(tmp_path / "cat"))
    wave.init_crawl(spark, catalog, synth.build_seeds_df(spark, cfg))
    n = streaming.stream_crawl(
        spark,
        catalog,
        pages_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        max_files_per_trigger=2,
    )
    assert n >= 2  # multiple waves from split arrivals

    arts = wave.read_articles(spark, catalog).collect()
    assert arts
    # every article's text is byte-identical to corpus ground truth
    for r in arts:
        page = synth.page_for_url(r.url, cfg)
        assert hashlib.sha256(r.text.encode()).digest() == hashlib.sha256(
            page.text.encode()
        ).digest()
    # seen set has no duplicate urls across waves
    seen = wave.read_seen(spark, catalog).collect()
    urls = [r.url for r in seen]
    assert len(urls) == len(set(urls))


def test_stateful_dedup_across_batches(spark, tmp_path):
    """applyInPandasWithState seen-state: a url that reappears in a later
    micro-batch is emitted exactly once, per host state."""
    import pandas as pd

    from newscrawl.schema import PAGES
    from newscrawl.streaming import stateful_dedup_stream

    d = str(tmp_path / "arrivals")
    import os

    os.makedirs(d)
    rows1 = pd.DataFrame(
        {
            "url": [f"https://h{i%2}.x.com/p/{i}" for i in range(6)],
            "warc_ts": pd.Timestamp("2026-01-01"),
            "html": [b"x"] * 6,
            "text": ["t"] * 6,
            "lang": ["en"] * 6,
        }
    )
    # batch 2 repeats 4 of batch 1's urls + adds 2 new
    rows2 = pd.concat(
        [
            rows1.iloc[:4],
            pd.DataFrame(
                {
                    "url": ["https://h0.x.com/p/100", "https://h1.x.com/p/101"],
                    "warc_ts": pd.Timestamp("2026-01-02"),
                    "html": [b"y"] * 2,
                    "text": ["t"] * 2,
                    "lang": ["en"] * 2,
                }
            ),
        ]
    )
    spark.createDataFrame(rows1, schema=PAGES).coalesce(1).write.parquet(d + "/b1")
    spark.createDataFrame(rows2, schema=PAGES).coalesce(1).write.parquet(d + "/b2")

    stream = (
        spark.readStream.schema(PAGES)
        .option("maxFilesPerTrigger", 1)
        .parquet(d + "/b*")
    )
    q = (
        stateful_dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = [r.url for r in spark.sql("SELECT url FROM dedup_out").collect()]
    assert len(got) == 8  # 6 unique from b1 + 2 new from b2
    assert len(set(got)) == 8


def test_windowed_host_counts_watermark_drops_late(spark, tmp_path):
    """Event-time windows + watermark: a row arriving after the
    watermark has passed its window's end is DROPPED (append mode);
    on-time rows aggregate into exactly-once window emissions."""
    import datetime as dt

    from pyspark.sql import functions as F

    from newscrawl.schema import PAGES

    src = tmp_path / "pages_in"
    src.mkdir()
    base = dt.datetime(2026, 1, 1, 0, 0, 0)

    def page(url, minutes):
        return (url, base + dt.timedelta(minutes=minutes), b"<html/>", "t", "en")

    # batch 1: two hosts in window [0,10); watermark advances to 60-30=30
    b1 = [
        page("https://a.example.com/1", 1),
        page("https://a.example.com/2", 5),
        page("https://b.example.com/1", 3),
        page("https://a.example.com/adv", 60),  # advances the watermark
    ]
    # batch 2: on-time row; processing it closes window [0,10) (the
    # late-event filter lags the eviction watermark by one micro-batch,
    # so the late row goes in a THIRD batch)
    b2 = [page("https://b.example.com/ontime", 61)]
    # batch 3: a LATE row for window [0,10) — event time 2 is far behind
    # the watermark (>=30) -> dropped, window not re-opened
    b3 = [page("https://a.example.com/late", 2)]
    # flat single-file-per-batch layout with explicit mtimes so the file
    # source forms two ordered micro-batches (maxFilesPerTrigger=1)
    import glob
    import os
    import shutil

    for i, (name, rows) in enumerate((("b1", b1), ("b2", b2), ("b3", b3))):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(rows, schema=PAGES).coalesce(1).write.parquet(
            str(stage)
        )
        part = glob.glob(str(stage / "part-*.parquet"))[0]
        dst = str(src / f"{name}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1000 + i * 100, 1000 + i * 100))

    stream = (
        spark.readStream.schema(PAGES)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming.windowed_host_counts(stream)
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM win_counts").collect()
    got: dict = {}
    for r in rows:
        got.setdefault((r.window_start.minute, r.host), []).append(r.n_pages)
    # window [0,10): late row NOT counted (a=2 not 3), b=1; emitted
    # exactly once each (the dropped late row must not re-open it)
    assert got.get((0, "a.example.com")) == [2]
    assert got.get((0, "b.example.com")) == [1]
    # open windows ([60,70)) have not been closed by a later watermark ->
    # not emitted yet in append mode
    assert (60, "b.example.com") not in got


def test_stream_crawl_forwards_webhook_and_scheduler(spark, tmp_path):
    """Micro-batch waves must honor the forwarded sink/scheduler options:
    every streamed wave appends signed webhook rows and host_state."""
    import hashlib
    import hmac as hmac_mod

    from newscrawl.schema import HOST_STATE, WEBHOOK_PAYLOADS

    cfg = synth.SynthConfig(n_seed=2, n_total=10, n_waves=1)
    pages_dir = tmp_path / "pages"
    synth.build_pages_df(spark, cfg).coalesce(2).write.parquet(str(pages_dir))
    catalog = ManifestParquetCatalog(str(tmp_path / "cat"))
    wave.init_crawl(spark, catalog, synth.build_seeds_df(spark, cfg))
    n = streaming.stream_crawl(
        spark,
        catalog,
        str(pages_dir),
        str(tmp_path / "ckpt"),
        scheduler="scaled",
        webhook_key=b"sk",
    )
    assert n >= 1
    arts = wave.read_articles(spark, catalog).collect()
    rows = catalog.read(spark, "webhook_payloads", WEBHOOK_PAYLOADS).collect()
    assert len(rows) == 2 * len(arts) > 0
    r = rows[0]
    assert r.signature == hmac_mod.new(
        b"sk", r.payload.encode(), hashlib.sha256
    ).hexdigest()
    assert catalog.read(spark, "host_state", HOST_STATE).count() > 0


def test_session_window_stream_merges_and_drops_late(spark, tmp_path):
    """Native session_window streaming: events within the gap merge into
    ONE session (end = last event + gap), the session emits exactly once
    after the watermark passes its end, and a late event cannot re-open
    a closed session."""
    import datetime as dt
    import glob
    import os
    import shutil

    from newscrawl.schema import PAGES

    src = tmp_path / "pages_in"
    src.mkdir()
    base = dt.datetime(2026, 1, 1, 0, 0, 0)

    def page(url, minutes):
        return (url, base + dt.timedelta(minutes=minutes), b"<html/>", "t", "en")

    # batch 1: three host-a captures 10 min apart -> ONE session
    # [0, 20+gap=50); the minute-200 row advances the watermark to 140
    b1 = [
        page("https://a.example.com/1", 0),
        page("https://a.example.com/2", 10),
        page("https://a.example.com/3", 20),
        page("https://adv.example.com/w", 200),
    ]
    # batch 2: on-time row; processing it closes a's session (the late-
    # event filter lags the eviction watermark by one micro-batch)
    b2 = [page("https://adv.example.com/w2", 201)]
    # batch 3: late host-a capture at minute 5 — far behind the
    # watermark -> dropped; the closed session must not re-emit
    b3 = [page("https://a.example.com/late", 5)]
    for i, (name, rows) in enumerate((("b1", b1), ("b2", b2), ("b3", b3))):
        stage = tmp_path / f"stage_{name}"
        spark.createDataFrame(rows, schema=PAGES).coalesce(1).write.parquet(
            str(stage)
        )
        part = glob.glob(str(stage / "part-*.parquet"))[0]
        dst = str(src / f"{name}.parquet")
        shutil.copy(part, dst)
        os.utime(dst, (1000 + i * 100, 1000 + i * 100))

    stream = (
        spark.readStream.schema(PAGES)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming.session_counts_stream(stream)
        .writeStream.format("memory")
        .queryName("sess_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM sess_counts").collect()
    by_host = {r.host: r for r in rows}
    # exactly one emitted session: host a's, merged across all 3 events
    assert set(by_host) == {"a.example.com"}
    a = by_host["a.example.com"]
    assert a.n_pages == 3
    assert a.session_start == base
    assert a.session_end == base + dt.timedelta(minutes=50)
    # adv's session is still open (watermark has not passed its end)
    assert len(rows) == 1


def test_stream_crawl_dedup_gate_across_micro_batches(spark, tmp_path):
    """Cross-BATCH near-dup gating: a page arriving in a later
    micro-batch whose content duplicates an earlier batch's article is
    flagged against the persisted band index (scope=prior_wave) and, in
    drop mode, withheld from the articles sink."""
    from pyspark.sql import functions as F

    cfg = synth.SynthConfig(n_seed=2, n_total=16, n_waves=2)
    # learn wave membership from a reference batch crawl: wave0 articles
    # are the seed fetches (== streaming batch 1), wave1 articles are
    # child fetches (== streaming batch 2)
    ref = ManifestParquetCatalog(str(tmp_path / "ref"))
    wave.run_crawl(spark, ref, cfg, n_waves=2)
    arts = wave.read_articles(spark, ref).select("url", "wave_id").collect()
    src_url = sorted(r.url for r in arts if r.wave_id == "w0000")[0]
    dup_url = sorted(r.url for r in arts if r.wave_id == "w0001")[0]

    pages = synth.build_pages_df(spark, cfg, num_partitions=4)
    donor = pages.filter(F.col("url") == src_url).select(
        F.col("html").alias("_h"), F.col("text").alias("_t")
    )
    doctored = (
        pages.crossJoin(F.broadcast(donor))
        .withColumn(
            "html",
            F.when(F.col("url") == dup_url, F.col("_h")).otherwise(F.col("html")),
        )
        .withColumn(
            "text",
            F.when(F.col("url") == dup_url, F.col("_t")).otherwise(F.col("text")),
        )
        .drop("_h", "_t")
    )
    pages_dir = tmp_path / "pages"
    ckpt = str(tmp_path / "ckpt")
    catalog = ManifestParquetCatalog(str(tmp_path / "cat"))
    wave.init_crawl(spark, catalog, synth.build_seeds_df(spark, cfg))

    # batch 1: only this file exists -> seeds fetched, src_url indexed
    doctored.coalesce(1).write.parquet(str(pages_dir / "batch1"))
    n1 = streaming.stream_crawl(
        spark, catalog, str(pages_dir / "*"), checkpoint_dir=ckpt,
        dedup_gate="drop",
    )
    assert n1 == 1
    # batch 2: a new file arrives with the same universe (children now
    # in the frontier; already-seen urls anti-join away)
    doctored.coalesce(1).write.parquet(str(pages_dir / "batch2"))
    n2 = streaming.stream_crawl(
        spark, catalog, str(pages_dir / "*"), checkpoint_dir=ckpt,
        dedup_gate="drop",
    )
    assert n2 == 1

    flags = {r.url: r for r in wave.read_near_dup_flags(spark, catalog).collect()}
    assert dup_url in flags
    assert flags[dup_url].scope == "prior_wave"
    assert flags[dup_url].matched_url == src_url
    urls = {r.url for r in wave.read_articles(spark, catalog).collect()}
    assert src_url in urls and dup_url not in urls


def test_stream_crawl_same_lineage_replay_is_skipped(spark, tmp_path):
    """Exactly-once under foreachBatch replay WITHIN a checkpoint
    lineage: simulate a driver crash between the catalog commit and the
    streaming checkpoint advance by restarting from a COPY of the
    checkpoint with the newest commit marker removed (same query-id
    lineage — the id rides in the copied metadata file — and exactly
    the on-disk state a crashed driver leaves behind). The restart
    re-delivers that epoch with its original id, and the wave's
    (lineage, epoch) snapshot marker turns the replay into a skip
    (no new waves, byte-identical catalog state)."""
    import os
    import shutil

    cfg = synth.SynthConfig(n_seed=3, n_total=12, hot_links=False)
    pages = synth.build_pages_df(spark, cfg, num_partitions=4)
    pages_dir = str(tmp_path / "pages")
    pages.write.parquet(pages_dir)

    catalog = ManifestParquetCatalog(str(tmp_path / "cat"))
    wave.init_crawl(spark, catalog, synth.build_seeds_df(spark, cfg))
    ckpt = str(tmp_path / "ckpt")
    n1 = streaming.stream_crawl(
        spark, catalog, pages_dir, checkpoint_dir=ckpt,
        max_files_per_trigger=2,
    )
    assert n1 >= 2
    snap_before = catalog.current_snapshot()
    arts_before = sorted(
        (r.url, r.wave_id) for r in wave.read_articles(spark, catalog).collect()
    )

    # crash simulation: the wave committed but the checkpoint did not
    # advance — restart from a copy (fresh path keeps Spark's
    # concurrent-use guard quiet) whose newest commits/<epoch> file is
    # removed, so that micro-batch replays under the SAME lineage and
    # epoch id
    ckpt2 = str(tmp_path / "ckpt_replay")
    shutil.copytree(ckpt, ckpt2)
    commits_dir = os.path.join(ckpt2, "stream", "commits")
    latest = max(
        (f for f in os.listdir(commits_dir) if not f.startswith(".")),
        key=lambda f: int(f),
    )
    os.remove(os.path.join(commits_dir, latest))
    # the stale Hadoop checksum of the removed commit marker would make
    # the restart's rewrite look like a concurrent writer
    crc = os.path.join(commits_dir, f".{latest}.crc")
    if os.path.exists(crc):
        os.remove(crc)

    n2 = streaming.stream_crawl(
        spark, catalog, pages_dir, checkpoint_dir=ckpt2,
        max_files_per_trigger=2,
    )
    assert n2 == 0
    snap_after = catalog.current_snapshot()
    assert snap_after["snapshot_id"] == snap_before["snapshot_id"]
    arts_after = sorted(
        (r.url, r.wave_id) for r in wave.read_articles(spark, catalog).collect()
    )
    assert arts_after == arts_before


def test_stream_crawl_fresh_lineage_does_not_skip_new_work(spark, tmp_path):
    """A FRESH checkpoint is a new lineage whose epoch ids restart at 0
    — those ids must NOT be compared against another lineage's committed
    epochs, or genuinely new work in the first micro-batches is silently
    dropped. Scenario: run 1 (lineage A) crawls the seed pages and
    queues children in the frontier; a new page file then arrives and
    run 2 uses a fresh checkpoint (lineage B, epoch 0). The naive
    cross-lineage guard would skip epoch 0 <= A's committed max and the
    children would never crawl; the lineage-aware guard processes it.
    Already-crawled urls are absorbed by the seen-set anti-join, so
    articles stay duplicate-free."""
    cfg = synth.SynthConfig(n_seed=3, n_total=12, hot_links=False)
    pages = synth.build_pages_df(spark, cfg, num_partitions=1)
    pages_dir = tmp_path / "pages"

    catalog = ManifestParquetCatalog(str(tmp_path / "cat"))
    wave.init_crawl(spark, catalog, synth.build_seeds_df(spark, cfg))
    pages.coalesce(1).write.parquet(str(pages_dir / "batch1"))
    n1 = streaming.stream_crawl(
        spark, catalog, str(pages_dir / "*"),
        checkpoint_dir=str(tmp_path / "ckpt1"),
    )
    assert n1 == 1
    arts1 = wave.read_articles(spark, catalog).select("url").collect()
    urls1 = {r.url for r in arts1}
    assert len(arts1) == len(urls1)

    # new arrival + fresh checkpoint: one micro-batch with epoch id 0
    # carrying BOTH files; frontier still holds the children discovered
    # in run 1, so this batch has genuinely new work
    pages.coalesce(1).write.parquet(str(pages_dir / "batch2"))
    n2 = streaming.stream_crawl(
        spark, catalog, str(pages_dir / "*"),
        checkpoint_dir=str(tmp_path / "ckpt2"),
    )
    assert n2 >= 1
    arts2 = wave.read_articles(spark, catalog).select("url").collect()
    urls2 = {r.url for r in arts2}
    assert len(arts2) == len(urls2)  # seen-set absorbed the replayed pages
    assert urls2 > urls1  # the children actually crawled


def test_stream_crawl_accepts_file_uri_checkpoint(spark, tmp_path):
    """A local checkpoint given as a file: URI (either spelling) crawls:
    the lineage id is read from the path with the scheme stripped."""
    cfg = synth.SynthConfig(n_seed=3, n_total=12, hot_links=False)
    pages_dir = str(tmp_path / "pages")
    synth.build_pages_df(spark, cfg, num_partitions=1).write.parquet(pages_dir)
    for i, prefix in enumerate(("file:", "file://")):
        catalog = ManifestParquetCatalog(str(tmp_path / f"cat{i}"))
        wave.init_crawl(spark, catalog, synth.build_seeds_df(spark, cfg))
        n = streaming.stream_crawl(
            spark, catalog, pages_dir,
            checkpoint_dir=prefix + str(tmp_path / f"ckpt{i}"),
        )
        assert n == 1
        assert wave.read_articles(spark, catalog).count() > 0


def test_stream_crawl_rejects_remote_checkpoint(spark, tmp_path):
    """The lineage id is read with local file IO, so a remote checkpoint
    is refused before the stream starts — with a ValueError, which
    (unlike an assert) survives python -O."""
    import pytest

    catalog = ManifestParquetCatalog(str(tmp_path / "cat"))
    with pytest.raises(ValueError, match="remote checkpoint"):
        streaming.stream_crawl(
            spark, catalog, str(tmp_path / "pages"),
            checkpoint_dir="s3a://bucket/ckpt",
        )
