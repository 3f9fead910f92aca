"""The native extract kernels (_fp_native) and their pure-Python
fallbacks: forcing the fallback must change neither a byte of the
gated extract output nor stay silent — every wave records which path
its kernels resolved to."""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pytest

from newscrawl import _fp_native, synth
from newscrawl import extract as ex

LIST_COLUMNS = ("outlinks", "locations", "organizations", "persons", "band_keys")


@pytest.fixture
def forced_fallback(monkeypatch):
    """Pretend the native library failed to build or load (no ``cc``)."""
    monkeypatch.setattr(_fp_native, "_lib", False)


def _pages_batch(n: int) -> pd.DataFrame:
    cfg = synth.SynthConfig(n_seed=4, n_total=20, base_paras=8)
    pages = [
        p for u in synth.iter_urls(cfg, 0, 4 * n) if (p := synth.page_for_url(u, cfg))
    ][:n]
    return pd.DataFrame(
        {"url": [p.url for p in pages], "html": [p.html for p in pages]}
    )


def _run_gated_kernel(pdf: pd.DataFrame) -> pa.Table:
    kernel = ex.make_extract_kernel(band_keys=True)
    (out,) = list(kernel(iter([pdf])))
    # the conversion Spark applies: list columns must be Arrow
    # list<string>, also for an empty or all-short batch
    cols = {
        c: pa.array(out[c], type=pa.list_(pa.string()), from_pandas=True)
        for c in LIST_COLUMNS
    }
    rest = pa.Table.from_pandas(out.drop(columns=list(LIST_COLUMNS)), preserve_index=False)
    for c, arr in cols.items():
        rest = rest.append_column(c, arr)
    return rest


def test_forced_fallback_extract_output_is_byte_identical(monkeypatch):
    pdf = _pages_batch(40)
    native = _run_gated_kernel(pdf)
    monkeypatch.setattr(_fp_native, "_lib", False)
    fallback = _run_gated_kernel(pdf)
    assert native.equals(fallback)
    keys = native.column("band_keys").to_pylist()
    assert all(len(k) == 4 for k, t in zip(keys, native.column("text").to_pylist()) if len(t.split()) >= 3)


@pytest.mark.parametrize("fallback", [False, True])
def test_gated_kernel_survives_empty_and_short_batches(monkeypatch, fallback):
    """Empty batches and batches where no page has >=3 tokens emit
    list columns Arrow can type as list<string> (pandas would type a
    bare empty list column float64)."""
    if fallback:
        monkeypatch.setattr(_fp_native, "_lib", False)
    empty = _run_gated_kernel(pd.DataFrame({"url": pd.Series([], dtype=object), "html": pd.Series([], dtype=object)}))
    assert empty.num_rows == 0
    short = _run_gated_kernel(
        pd.DataFrame({"url": ["https://h/a"], "html": [b"<article><h1>hi</h1></article>"]})
    )
    assert short.column("band_keys").to_pylist() == [[]]


def test_kernel_flags_report_fallback(forced_fallback):
    assert _fp_native.kernel_flags() == {
        "native_fingerprint": False,
        "native_minhash": False,
    }
    assert _fp_native.get_band_keys_fn(ex.minhash_band_keys) is ex.minhash_band_keys
    assert _fp_native.get_fingerprint_fn(ex.rolling_fingerprint) is ex.rolling_fingerprint


def test_wave_metrics_record_kernel_path(spark, tmp_path, monkeypatch):
    """Each wave's snapshot metrics carry which kernel path the host
    resolves to (read on the driver, which shares the host and the
    compiled-library cache with local-mode workers): the real one on a
    normal run, False/False once the fallback is forced, and the gate
    state does not change. The wave_metrics TABLE keeps its fixed
    schema; the byte-level fallback check is the in-process test above."""
    import sys
    from pathlib import Path

    from newscrawl import wave
    from newscrawl.schema import MINHASH_BANDS
    from newscrawl.storage import ManifestParquetCatalog

    cfg = synth.SynthConfig(n_seed=2, n_total=12, n_waves=1)

    def crawl(name):
        cat = ManifestParquetCatalog(str(tmp_path / name))
        wave.run_crawl(spark, cat, cfg, n_waves=1, dedup_gate="flag")
        bands = sorted(map(tuple, cat.read(spark, "minhash_bands", MINHASH_BANDS).collect()))
        arts = sorted((r.url, r.text, r.fingerprint) for r in wave.read_articles(spark, cat).collect())
        return cat, bands, arts

    cat_n, bands_n, arts_n = crawl("native")
    native = bool(_fp_native._load())
    assert cat_n.current_snapshot()["metrics"]["native_minhash"] is native
    assert cat_n.current_snapshot()["metrics"]["native_fingerprint"] is native

    monkeypatch.setattr(_fp_native, "_lib", False)
    cat_f, bands_f, arts_f = crawl("fallback")
    metrics = cat_f.current_snapshot()["metrics"]
    assert metrics["native_minhash"] is False
    assert metrics["native_fingerprint"] is False
    assert bands_n and bands_f == bands_n
    assert arts_f == arts_n

    # the operator tool shows the fallback without Spark
    sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "scripts"))
    try:
        import inspect_catalog
    finally:
        sys.path.pop(0)
    desc = inspect_catalog.describe(cat_f.current_snapshot(), verbose=False)
    assert desc["metrics"]["native_minhash"] is False
