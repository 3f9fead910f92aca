"""Scalar/array functions that need Python (Arrow-batched, never per-row
Python UDFs) — the reference's string algorithms that aren't relational.

- chunk_paragraphs: blank-line split, pack <= max_chars, hard-split
  oversize paragraphs (reference call_to_genai.py:76-117, duplicated at
  call_to_ollama.py:58-99)
- chunk_sentences: regex sentence split, pack by token budget
  (reference summarizer.py:114-134; token = whitespace word here, the
  reference uses a HF tokenizer)
- dedupe_preserve_first: stable first-occurrence dedup of entity lists
  on a normalized key (reference call_to_genai.py:44-73)
- drop_contained_names: drop names that are substrings of longer kept
  names, restore input order (reference spacy_demo.py:75-94)
- hmac_sha256_hex: webhook payload signing (reference
  call_to_webhook.py:90-100)
"""

from __future__ import annotations

import hmac
import hashlib
import re
from typing import Iterator

from pyspark.sql import DataFrame

# ---------------------------------------------------------------------------
# pure functions (unit-testable, shared with any oracle)
# ---------------------------------------------------------------------------


def chunk_paragraphs(text: str, max_chars: int = 2000) -> list[str]:
    if not text:
        return []
    paras = [p.strip() for p in re.split(r"\n\s*\n", text) if p.strip()]
    chunks: list[str] = []
    cur = ""
    for p in paras:
        while len(p) > max_chars:  # hard-split oversize paragraphs
            if cur:
                chunks.append(cur)
                cur = ""
            chunks.append(p[:max_chars])
            p = p[max_chars:]
        if not p:
            continue
        if cur and len(cur) + 2 + len(p) > max_chars:
            chunks.append(cur)
            cur = p
        else:
            cur = f"{cur}\n\n{p}" if cur else p
    if cur:
        chunks.append(cur)
    return chunks


_SENT_RE = re.compile(r"(?<=[.!?])\s+")


def chunk_sentences(text: str, max_tokens: int = 512) -> list[str]:
    if not text:
        return []
    sents = [s for s in _SENT_RE.split(text) if s.strip()]
    chunks: list[str] = []
    cur: list[str] = []
    n = 0
    for s in sents:
        t = len(s.split())
        if cur and n + t > max_tokens:
            chunks.append(" ".join(cur))
            cur, n = [], 0
        cur.append(s)
        n += t
    if cur:
        chunks.append(" ".join(cur))
    return chunks


def _norm_key(s: str) -> str:
    s = s.lower()
    s = re.sub(r"'s\b", "", s)
    s = re.sub(r"[\"']", "", s)
    return re.sub(r"\s+", " ", s).strip()


def dedupe_preserve_first(names: list[str]) -> list[str]:
    seen: set[str] = set()
    out: list[str] = []
    for n in names or []:
        k = _norm_key(n)
        if k and k not in seen:
            seen.add(k)
            out.append(n)
    return out


def drop_contained_names(names: list[str]) -> list[str]:
    names = names or []
    keep: list[str] = []
    for i, n in enumerate(names):
        contained = any(
            n != m and n.lower() in m.lower() for m in names
        )
        if not contained and n not in keep:
            keep.append(n)
    return keep


def hmac_sha256_hex(key: bytes, payload: bytes) -> str:
    return hmac.new(key, payload, hashlib.sha256).hexdigest()


# ---------------------------------------------------------------------------
# Spark wrappers: mapInPandas (Arrow batches)
# ---------------------------------------------------------------------------


def with_chunks(df: DataFrame, text_col: str = "text", max_chars: int = 2000) -> DataFrame:
    """Append ``chunks array<string>`` from paragraph packing."""
    in_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )

    def fn(batch_iter: Iterator["pandas.DataFrame"]) -> Iterator["pandas.DataFrame"]:  # noqa: F821
        import pandas as pd

        for pdf in batch_iter:
            pdf = pdf.copy()
            # object-typed: an empty batch's bare list column is float64
            pdf["chunks"] = pd.Series(
                [chunk_paragraphs(t, max_chars) for t in pdf[text_col]],
                index=pdf.index,
                dtype=object,
            )
            yield pdf

    return df.mapInPandas(fn, schema=f"{in_ddl}, chunks array<string>")


def with_hmac_signature(df: DataFrame, key: bytes, payload_col: str) -> DataFrame:
    """Append ``signature string`` = HMAC-SHA256 hex of the payload
    column (reference webhook signing). Key is closed over (small) —
    fine to re-pickle per task."""
    in_ddl = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )

    def fn(batch_iter: Iterator["pandas.DataFrame"]) -> Iterator["pandas.DataFrame"]:  # noqa: F821
        for pdf in batch_iter:
            pdf = pdf.copy()
            pdf["signature"] = [
                hmac_sha256_hex(key, (p or "").encode("utf-8"))
                for p in pdf[payload_col]
            ]
            yield pdf

    return df.mapInPandas(fn, schema=f"{in_ddl}, signature string")
