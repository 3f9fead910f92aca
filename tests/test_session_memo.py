"""The one session memo behind every shared query intermediate and the
driver entry's crawl: entries die with their session, and the entry's
crawled-docs frame follows new waves of the entry crawl."""

from __future__ import annotations

from types import SimpleNamespace

from newscrawl import queries as Q


def test_memo_evicts_and_unpersists_other_sessions(spark, monkeypatch):
    monkeypatch.setattr(Q, "_MEMO", {})
    dead = SimpleNamespace(sparkContext=SimpleNamespace(applicationId="dead-app"))
    frame = spark.range(3).persist()
    member = spark.range(4).persist()
    frame.count()
    member.count()
    assert Q.session_memo(dead, "frame", 1, lambda: frame) is frame
    assert Q.session_memo(dead, "pair", 1, lambda: (["x"], member))[1] is member
    assert frame.is_cached and member.is_cached

    calls = []
    got = Q.session_memo(spark, "frame", 1, lambda: calls.append(1) or "live")
    assert got == "live"
    assert not frame.is_cached and not member.is_cached  # unpersisted
    assert all(k[0] != "dead-app" for k in Q._MEMO)  # and dropped
    # a hit returns the stored value without building again
    assert Q.session_memo(spark, "frame", 1, lambda: calls.append(1)) == "live"
    assert calls == [1]


def test_entry_docs_follow_a_new_wave(spark):
    """_corpus_prepare_crawled memoizes its docs frame per snapshot of
    the entry crawl: a wave appended after the first call shows up in
    the next one (the catalog is rolled back afterwards, so later tests
    see the 2-wave golden crawl)."""
    import __spark_entry__ as em
    from pyspark.sql import functions as F
    from newscrawl import synth, wave
    from newscrawl.reference_oracle import wave_id_for

    SF = "/root/testdata/sf0.01"
    catalog = em._entry_catalog(spark)
    before = {r.doc_id for r in em._corpus_prepare_crawled(spark, SF).collect()}
    snap = catalog.current_snapshot()["snapshot_id"]
    try:
        wave.run_crawl(
            spark, catalog, synth.SynthConfig(n_seed=2, n_total=12, n_waves=3)
        )
        assert catalog.last_wave_index() == 2
        docs = wave.read_articles(spark, catalog).select(
            F.conv(F.substring(F.md5("url"), 1, 15), 16, 10)
            .cast("long")
            .alias("doc_id"),
            F.col("lang_pred").alias("lang"),
            "text",
            "quality",
            "n_tokens",
            "wave_id",
        )
        new_wave = {
            r.doc_id
            for r in docs.filter(F.col("wave_id") == wave_id_for(2)).collect()
        }
        expected = {
            r.doc_id
            for r in em._prepare_crawled_docs(spark, SF, docs.drop("wave_id")).collect()
        }
        after = {r.doc_id for r in em._corpus_prepare_crawled(spark, SF).collect()}
        assert after == expected
        assert after & new_wave  # the new wave's articles made it through
        assert not before & new_wave
    finally:
        catalog.rollback(snap)
    assert {r.doc_id for r in em._corpus_prepare_crawled(spark, SF).collect()} == before
