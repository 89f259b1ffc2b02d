"""Default-lane contract of the synthetic corpus generator
(`operators/scalegen.py`); the slow lane pins its golden hashes and the
scale-growth exponents measured over it."""

from __future__ import annotations

from yaml_pipe_spark.operators.scalegen import (
    synthetic_documents,
    synthetic_embeddings,
)


def test_documents_pair_near_duplicates_by_family(spark):
    """Ids {5k, 5k+1} share a family seed and differ only at the one
    doc-specific token position (7); other ids share nothing by seed.
    Words are letters only, so the \\p{L}+ tokenizer keeps them whole."""
    rows = {
        r.doc_id: r
        for r in synthetic_documents(spark, 10, n_sources=3).collect()
    }
    assert sorted(rows) == list(range(10))
    toks = {i: r.text.split(" ") for i, r in rows.items()}
    assert all(len(t) == 100 for t in toks.values())
    words = [w for t in toks.values() for w in t]
    assert all(w.isalpha() and w.startswith("w") for w in words)
    for a, b in ((0, 1), (5, 6)):
        diff = [i for i, (x, y) in enumerate(zip(toks[a], toks[b])) if x != y]
        assert diff == [7]
    assert sum(x != y for x, y in zip(toks[2], toks[3])) > 50
    assert {i: r.source for i, r in rows.items()} == {
        i: f"src_{i % 3}" for i in range(10)
    }
    again = synthetic_documents(spark, 10, n_sources=3).collect()
    assert {r.doc_id: r for r in again} == rows


def test_embeddings_cluster_around_shared_centres(spark):
    """Each component is 0.8 * (centre - 0.5) + 0.2 * (noise - 0.5),
    rounded to 6 places: within 0.5 of 0, and two vectors of one centre
    (ids 0 and n_centers) differ only by the noise, at most 0.2 apart."""
    rows = {
        r.vec_id: r.embedding
        for r in synthetic_embeddings(spark, 6, dim=16, n_centers=4).collect()
    }
    assert sorted(rows) == list(range(6))
    for v in rows.values():
        assert len(v) == 16
        assert all(abs(x) <= 0.5 and round(x, 6) == x for x in v)
    assert all(abs(x - y) <= 0.2 + 1e-6 for x, y in zip(rows[0], rows[4]))
    assert rows[0] != rows[4]
