"""Same-session repeat-invocation sweep: every registered query must be
idempotent when called twice against the same corpus.

This pins the per-session cache class: queries.py memoizes its
expensive shared intermediates (signature, shingle, term and simhash
frames, near-dup clusters, IVF and SRP buckets, the k-means, BPE and
logistic-regression training passes, the corpus scan, the eval set)
through one helper, session_memo, keyed by (applicationId, name,
sf_dir), and the round-5 review found one real bug in exactly this
class (caches keyed by id(spark), which collides after GC).  The second call exercises every cache-hit path; a wrong key, a
stale eviction, or a mutated cached frame shows up as a result diff.

Comparison is order-insensitive (several queries return unordered
aggregates) but exact on values.
"""

from __future__ import annotations

import pytest

from newscrawl import queries as Q

SF = "/root/testdata/sf0.001"


def _canon(df):
    cols = df.columns
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        tuple(repr(r[i]) for i in idx) for r in df.collect()
    )


@pytest.mark.parametrize("name", sorted(Q.QUERIES))
def test_query_repeat_invocation_is_idempotent(spark, name):
    fn, _sql = Q.QUERIES[name]
    first = _canon(fn(spark, SF))
    second = _canon(fn(spark, SF))
    assert first == second
