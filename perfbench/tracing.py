"""In-memory spans around the public calls into the engine's layers.

The tracer records spans from the benchmark's own code: a top-level
span per wave, per replayed layer and per query, and child spans around
the eager calls ``run_wave`` makes, which it reaches by wrapping the
public methods below for the length of a traced run.  Spans are kept in
memory and written out once, at the end of the run.
"""

from __future__ import annotations

import functools
import json
import threading
import time
from contextlib import contextmanager

from .env import job_watermark
from .metrics import Span


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._top: Span | None = None  # parent for spans opened on pool threads
        self.self_s = 0.0  # time spent in the tracer's own bookkeeping

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @contextmanager
    def span(self, name: str, op: str = "", top: bool = False):
        """A span; ``top=True`` marks a span that runs alone on the main
        thread, which also records the Spark job-id watermarks."""
        t0 = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else self._top
        with self._lock:
            sp = Span(
                span_id=len(self.spans),
                name=name,
                start=0.0,
                parent=None if parent is None else parent.span_id,
                op=op or (parent.op if parent is not None else ""),
            )
            self.spans.append(sp)
        if top:
            sp.job_lo = job_watermark(self.sc)
            self._top = sp
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if top:
                sp.job_hi = job_watermark(self.sc)
                self._top = None
            with self._lock:
                self.self_s += (sp.start - t0) + (time.perf_counter() - sp.end)

    def wrap(self, name_of, fn, record=None):
        """``fn`` wrapped in a span named ``name_of(*args)``; ``record``
        may add attributes from the call's arguments and result."""

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name_of(*args, **kwargs)) as sp:
                out = fn(*args, **kwargs)
                if record is not None:
                    sp.attrs.update(record(out, *args, **kwargs))
                return out

        return traced

    @contextmanager
    def patched(self):
        """Wrap the eager public calls ``run_wave`` makes for the length
        of the block: WaveCommit.write/write_rows/commit,
        ManifestParquetCatalog.read_rows and the seen-set filters'
        ``from_rows`` constructors."""
        from newscrawl import seenset, storage

        def staged_bytes(out, commit, *a, **k):
            per_table: dict[str, int] = {}
            for table, _mode, files, _rows in commit._writes:
                per_table[table] = per_table.get(table, 0) + sum(f["bytes"] for f in files)
            return {"bytes": per_table}

        targets = [
            (storage.WaveCommit, "write", lambda self, table, *a, **k: f"storage.write.{table}", None),
            (storage.WaveCommit, "write_rows", lambda self, table, *a, **k: f"storage.write.{table}", None),
            (storage.WaveCommit, "commit", lambda self, *a, **k: "storage.commit", staged_bytes),
            (
                storage.ManifestParquetCatalog,
                "read_rows",
                lambda self, table, *a, **k: f"storage.read_rows.{table}",
                None,
            ),
        ]
        saved = [(cls, attr, cls.__dict__[attr]) for cls, attr, _n, _r in targets]
        classmethods = [seenset.BloomShardSet, seenset.CuckooShardSet]
        saved += [(cls, "from_rows", cls.__dict__["from_rows"]) for cls in classmethods]
        try:
            for cls, attr, name_of, record in targets:
                setattr(cls, attr, self.wrap(name_of, getattr(cls, attr), record))
            for cls in classmethods:
                orig = cls.__dict__["from_rows"].__func__
                label = f"seenset.from_rows.{cls.__name__}"
                setattr(
                    cls,
                    "from_rows",
                    classmethod(self.wrap(lambda *a, _l=label, **k: _l, orig)),
                )
            yield self
        finally:
            for cls, attr, orig in saved:
                setattr(cls, attr, orig)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(
                    json.dumps(
                        {
                            "id": sp.span_id,
                            "name": sp.name,
                            "start": sp.start,
                            "end": sp.end,
                            "parent": sp.parent,
                            "op": sp.op,
                            "job_lo": sp.job_lo,
                            "job_hi": sp.job_hi,
                            "attrs": sp.attrs,
                        }
                    )
                    + "\n"
                )
