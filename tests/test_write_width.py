"""Manifest-stats-derived write width (VERDICT round 3, item 4).

The per-wave delta writes must size their file count from estimated bytes
(rows x observed bytes/row from the catalog manifest) / the minimum file
size — so a much bigger wave writes more files, instead of a constant
cores//4 fan-in at every wave size.
"""

from __future__ import annotations

from newscrawl import synth, wave
from newscrawl.storage import ManifestParquetCatalog


def test_file_count_tracks_rows_written(spark, tmp_path, monkeypatch):
    # The rows -> bytes-estimate -> file-count contract is pinned on
    # webhook_payloads: it still sizes its width POST-extract from
    # n_extracted x manifest bytes/row. (The articles table is exempt
    # since the r6 fusion: its write runs INSIDE the extract job, so
    # its width is a PRE-execution estimate from the frontier size —
    # a streaming sink cannot know its output size beforehand.)
    # tiny min file size (4 KiB) so wave-size differences show up at
    # test scale without both waves clamping at the cores ceiling
    monkeypatch.setattr(wave, "_MIN_FILE_BYTES", 4 << 10)
    cfg = synth.SynthConfig(n_seed=2, n_total=40, n_waves=3)
    cat = ManifestParquetCatalog(str(tmp_path / "w"))
    wave.run_crawl(spark, cat, cfg, n_waves=3, webhook_key=b"k")

    arts = wave.read_articles(spark, cat)
    rows_by_wave = {
        r["wave_id"]: r["n"]
        for r in arts.groupBy("wave_id").count().withColumnRenamed("count", "n").collect()
    }
    waves = sorted(rows_by_wave)
    files_by_wave = {
        i: len(cat.files_added_by_wave("webhook_payloads", i))
        for i in range(len(waves))
    }
    # wave 0 has no stats -> fallback width; waves 1+ derive from stats.
    # Among the stats-driven waves, a >=2x-bigger wave must write more
    # files than the smallest one (rows -> bytes estimate -> file count).
    stats_waves = list(range(1, len(waves)))
    assert stats_waves, "need >=2 waves"
    rows_ix = {i: rows_by_wave[waves[i]] for i in stats_waves}
    big = max(stats_waves, key=rows_ix.get)
    small = min(stats_waves, key=rows_ix.get)
    assert rows_ix[big] >= 2 * rows_ix[small], (
        f"fixture not skewed enough: {rows_ix}"
    )
    assert files_by_wave[big] > files_by_wave[small], (rows_ix, files_by_wave)


def test_write_width_clamps_small_deltas_to_one_file(spark, tmp_path):
    """A delta smaller than one min-size file writes exactly ONE file —
    EVERY wave, including wave 0 (no manifest stats yet, estimate from
    the conservative bytes/row fallback). Multi-file writes of KB-scale
    state deltas are pure task-scheduling overhead that gets WORSE with
    more cores (the r5 inverse-scaling residue)."""
    cfg = synth.SynthConfig(n_seed=2, n_total=16, n_waves=2)
    cat = ManifestParquetCatalog(str(tmp_path / "c"))
    wave.run_crawl(spark, cat, cfg, n_waves=2)
    for i in (0, 1):
        assert len(cat.files_added_by_wave("articles", i)) == 1
