"""Round-7 optimization equivalence tests: every gated fast path must be
value-identical to the distributed fallback it replaced, including the
fallback branches the bench corpora never reach."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

import clpspark.operators.dedup as dd

SF_DIR = os.environ.get("CLPSPARK_TEST_SF", "/root/testdata/sf0.01")


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.mark.parametrize("threshold", [0.05, 0.5])
def test_jaccard_join_path_matches_matrix(spark, threshold, monkeypatch):
    docs = _docs(spark)
    fast = sorted(
        map(tuple, dd.ngram_jaccard_pairs(docs, threshold=threshold).collect())
    )
    monkeypatch.setattr(dd, "_JACCARD_MATRIX_MAX_INSTANCES", -1)
    join_path = sorted(
        map(tuple, dd.ngram_jaccard_pairs(docs, threshold=threshold).collect())
    )
    assert fast == join_path and len(fast) > 0


def test_jaccard_matrix_chunk_merge(spark, monkeypatch):
    """Forcing tiny chunk budgets exercises the in-block partial-count
    merge (the mega-doc path) — output must not change."""
    docs = _docs(spark)
    base = sorted(map(tuple, dd.ngram_jaccard_pairs(docs, threshold=0.05).collect()))
    monkeypatch.setattr(dd, "_JACCARD_CHUNK_TOUCHES", 1_000)
    chunked = sorted(
        map(tuple, dd.ngram_jaccard_pairs(docs, threshold=0.05).collect())
    )
    assert base == chunked and len(base) > 0


def test_cc_loop_path_matches_union_find(spark):
    edges = spark.createDataFrame(
        [(1, 0), (1, 2), (3, 2), (4, 3), (7, 8), (9, 9)], "a long, b long"
    )
    docs = spark.createDataFrame([(i,) for i in range(12)], "doc_id long")
    fast = {r["doc_id"]: r["comp"]
            for r in dd.connected_components(edges, docs).collect()}
    loop = {r["doc_id"]: r["comp"]
            for r in dd.connected_components(
                edges, docs, max_collect_edges=0).collect()}
    assert fast == loop
    assert all(fast[i] == 0 for i in range(5))
    assert fast[7] == fast[8] == 7 and fast[9] == 9


def test_cc_nonvertex_endpoints_and_nulls(spark):
    """Edges referencing ids outside ``vertices`` relay connectivity but
    never become labels (r6 propagation semantics); vertexless components
    are silent; null endpoints are inert."""
    edges = spark.createDataFrame(
        [(5, 100), (100, 6),      # 5-6 joined through non-vertex 100
         (200, 201),              # component with no vertex at all
         (None, 7), (8, None)],   # nulls: inert
        "a long, b long",
    )
    docs = spark.createDataFrame([(i,) for i in range(10)], "doc_id long")
    for gate in (10**6, 0):  # union-find path, then the loop path
        comp = {r["doc_id"]: r["comp"]
                for r in dd.connected_components(
                    edges, docs, max_collect_edges=gate).collect()}
        assert set(comp) == set(range(10))  # vertices only, no 100/200/201
        assert comp[5] == comp[6] == 5, (gate, comp)
        assert comp[7] == 7 and comp[8] == 8, (gate, comp)


def test_emb_dup_pairs_chunked_bucket(spark):
    """A degenerate all-one-bucket input must stream through the chunked
    pair loop without changing results."""
    rows = [(i, [1.0 + (i % 7) * 0.01] * 8) for i in range(60)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dd.embedding_dup_pairs(emb, threshold=0.999999, n_planes=2).collect()
    # identical-direction vectors: every in-bucket pair has cosine 1.0
    assert len(out) > 0
    assert all(abs(r["cosine"] - 1.0) < 1e-9 for r in out)


@pytest.mark.parametrize("n", [0, 1, 2, 5, 17, 64])
def test_triu_pair_chunks_equal_triu_indices(n):
    """Per-chunk pair indices concatenate to np.triu_indices(n, k=1), for
    chunks that split rows anywhere."""
    import numpy as np

    ii, jj = np.triu_indices(n, k=1)
    for chunk in (1, 3, n + 1, 10_000):
        parts = list(dd.triu_pair_chunks(n, chunk))
        assert all(len(i) <= chunk for i, _ in parts)
        got_i = np.concatenate([i for i, _ in parts] or [np.empty(0, int)])
        got_j = np.concatenate([j for _, j in parts] or [np.empty(0, int)])
        assert got_i.tolist() == ii.tolist() and got_j.tolist() == jj.tolist()


def test_triu_pair_chunks_memory_tracks_chunk():
    """A 100k-vector bucket (~5e9 pairs; triu_indices would need ~80 GB)
    costs memory proportional to the chunk, not to the pair count."""
    import tracemalloc

    import numpy as np

    n, chunk = 100_000, 20_000
    tracemalloc.start()
    try:
        chunks = dd.triu_pair_chunks(n, chunk)
        for _ in range(3):
            i, j = next(chunks)
        _, peak = tracemalloc.get_traced_memory()
    finally:
        tracemalloc.stop()
    # a few n-sized (row starts) and chunk-sized int64 arrays
    assert peak < 4 * 8 * n + 8 * 8 * chunk, peak
    assert (i < j).all() and i[0] == 0 and j[0] == 2 * chunk + 1


def test_word_hashes_overflow_memo(monkeypatch):
    """Past the executor memo cap, each distinct word of a batch is still
    hashed once (batch-local memo), with the same hashes as uncapped."""
    calls = []

    def counting_hash(w):
        calls.append(w)
        return len(w) * 1_000_003 + ord(w[0])

    docs = [["a", "b", "c", "d", "a"], ["d", "e", "c", "e", "a", "f"]]
    expected = dd._batch_word_hashes(docs, {}, counting_hash)
    calls.clear()
    monkeypatch.setattr(dd, "_WORD_CACHE_MAX", 2)
    cache: dict[str, int] = {}
    got = dd._batch_word_hashes(docs, cache, counting_hash)
    assert got.tolist() == expected.tolist()
    assert sorted(calls) == sorted(set(calls)) == list("abcdef")
    assert len(cache) == 2
    calls.clear()
    dd._batch_word_hashes(docs, cache, counting_hash)  # next batch
    assert sorted(calls) == list("cdef")  # a, b stay memoized
