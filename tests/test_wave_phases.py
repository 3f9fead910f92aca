"""The wave's one articles-write path and its derived bucket count.

Every gate mode writes its articles through the same fused write, the
job that runs the extract kernel; the kernel must then see each fetched
page exactly once per wave (a second concurrent job racing an unfilled
extract cache would run it twice). The bucketed fetch reads its bucket
count from the pages table's own catalog spec.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from newscrawl import extract as ex
from newscrawl import synth, wave
from newscrawl.schema import FRONTIER, SEEN
from newscrawl.storage import ManifestParquetCatalog

CFG = synth.SynthConfig(n_seed=2, n_total=16, n_waves=2)


def _counting(kernel, acc):
    def run(batches):
        def counted():
            for pdf in batches:
                acc.add(len(pdf))
                yield pdf

        return kernel(counted())

    return run


def _fetched_pages(spark, cat, pages, n_waves):
    """Pages each wave fetched, from the catalog's pre-wave snapshots:
    the frontier's distinct urls, minus the seen set, that have a page
    (no budget or robots in these crawls)."""
    page_urls = pages.select("url")
    total = 0
    for snap in cat.snapshot_ids()[:n_waves]:
        frontier = cat.read(spark, "frontier", FRONTIER, snapshot_id=snap)
        seen = cat.read(spark, "seen", SEEN, snapshot_id=snap)
        total += (
            frontier.select("url")
            .distinct()
            .join(seen.filter(F.col("is_processed")).select("url"), "url", "left_anti")
            .join(page_urls, "url", "left_semi")
            .count()
        )
    return total


@pytest.mark.parametrize("dedup_gate", [None, "flag", "drop"])
def test_extract_kernel_runs_once_per_fetched_page(spark, tmp_path, monkeypatch, dedup_gate):
    acc = spark.sparkContext.accumulator(0)
    plain, make = ex.extract_pages, ex.make_extract_kernel
    monkeypatch.setattr(ex, "extract_pages", _counting(plain, acc))
    monkeypatch.setattr(
        ex, "make_extract_kernel", lambda *a, **k: _counting(make(*a, **k), acc)
    )
    pages = synth.build_pages_df(spark, CFG)
    cat = ManifestParquetCatalog(str(tmp_path / "c"))
    metrics = wave.run_crawl(
        spark, cat, CFG, pages=pages, dedup_gate=dedup_gate, min_quality=0.2
    )
    assert len(metrics) == CFG.n_waves and sum(m["n_yielded"] for m in metrics)
    monkeypatch.undo()
    want = _fetched_pages(spark, cat, pages, CFG.n_waves)
    assert want > 0
    assert acc.value == want


def test_unbucketed_pages_table_raises(spark, tmp_path):
    """The bucket count comes from the pages table's spec; a table not
    bucketed on url has none to give (it would plan an Exchange)."""
    cfg = synth.SynthConfig(n_seed=2, n_total=8, n_waves=1)
    synth.build_pages_df(spark, cfg).write.mode("overwrite").saveAsTable(
        "t_pages_unbucketed"
    )
    try:
        cat = ManifestParquetCatalog(str(tmp_path / "u"))
        with pytest.raises(ValueError, match="not bucketed on 'url'"):
            wave.run_crawl(spark, cat, cfg, pages_table="t_pages_unbucketed")
        assert cat.last_wave_index() == -1  # nothing committed
    finally:
        spark.sql("DROP TABLE IF EXISTS t_pages_unbucketed")
