"""Hybrid (BM25 + cosine, RRF-fused) retrieval through the engine
facade: keyword hits must surface even when the embedding arm smooths
them away, and the fusion must stay deterministic and bounded."""

from __future__ import annotations

import pytest

from converttovectordb_spark.embeddings import hash_embedder
from converttovectordb_spark.engine import VectorEngine


def _engine(spark, tmp_path):
    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "zeph.py").write_text(
        "def zephyrblue_handler():\n    # zephyrblue zephyrblue marker\n"
        + "    return 42\n" * 20
    )
    (repo / "other.py").write_text(
        "def unrelated():\n    return 'plain text with common words'\n" * 20
    )
    eng = VectorEngine(
        spark,
        str(tmp_path / "store"),
        embedder=hash_embedder(16),
        dim=16,
        chunk_size=400,
        overlap=50,
    )
    eng.ingest(str(repo))
    return eng


def test_hybrid_finds_exact_keyword(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    rows = eng.search_hybrid("zephyrblue", top_k=3).collect()
    assert 0 < len(rows) <= 3
    # the keyword-bearing chunk must win the fusion
    assert "zephyrblue" in rows[0].content
    # rrf scores are descending and positive
    scores = [r.rrf for r in rows]
    assert scores == sorted(scores, reverse=True) and scores[-1] > 0


def test_hybrid_is_deterministic(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    a = [(r.path, r.chunk_index, r.rrf) for r in eng.search_hybrid("return value", top_k=5).collect()]
    b = [(r.path, r.chunk_index, r.rrf) for r in eng.search_hybrid("return value", top_k=5).collect()]
    assert a == b and len(a) > 0


def test_hybrid_unknown_terms_fall_back_to_semantic(spark, tmp_path):
    eng = _engine(spark, tmp_path)
    # no document contains this token: the BM25 arm is empty, so the
    # fusion must degrade to the semantic ranking instead of erroring
    # or returning nothing
    rows = eng.search_hybrid("qqqxyzzyunknown", top_k=3).collect()
    assert len(rows) > 0
    assert all(r.lex_rank is None and r.sem_rank is not None for r in rows)


def test_hybrid_empty_store_returns_empty(spark, tmp_path):
    eng = VectorEngine(
        spark, str(tmp_path / "nostore"), embedder=hash_embedder(16), dim=16
    )
    assert eng.search_hybrid("anything").count() == 0


def test_hybrid_empty_store_column_order(spark, tmp_path):
    eng = VectorEngine(
        spark, str(tmp_path / "nostore"), embedder=hash_embedder(16), dim=16
    )
    assert eng.search_hybrid("anything").columns == [
        "sem_rank", "lex_rank", "rrf", "path", "chunk_index",
        "total_chunks", "content", "timestamp", "extension",
    ]


def test_hybrid_schema_same_for_empty_and_populated_store(spark, tmp_path):
    """Round-2 advisory: callers that branch on columns or union
    results must never see a store-state-dependent schema."""
    empty_eng = VectorEngine(
        spark, str(tmp_path / "nostore"), embedder=hash_embedder(16), dim=16
    )
    full_eng = _engine(spark, tmp_path)
    empty_cols = set(empty_eng.search_hybrid("x").columns)
    full_cols = set(full_eng.search_hybrid("x").columns)
    assert empty_cols == full_cols
    assert {"sem_rank", "lex_rank", "rrf"} <= empty_cols
    # unionByName across the two states must be legal
    empty_eng.search_hybrid("x").unionByName(
        full_eng.search_hybrid("x")
    ).collect()


def test_bm25_batch_matches_single(spark, tmp_path):
    """bm25_scores_batch == bm25_scores run per query (same corpus
    statistics; 1e-9 on the fused float sums)."""
    from converttovectordb_spark.operators.search import (
        bm25_scores,
        bm25_scores_batch,
    )

    docs = spark.createDataFrame(
        [
            (0, "spark shuffles data across the cluster"),
            (1, "watermarks bound streaming state"),
            (2, "spark streaming state lives in the state store"),
            (3, "a totally unrelated document about cats"),
            (4, ""),
        ],
        "doc_id int, text string",
    )
    term_lists = [
        ["spark", "state"],
        ["streaming"],
        ["zzz_absent"],
        [],
        ["spark", "spark", "SPARK"],  # dup/case: set semantics
    ]
    batch = bm25_scores_batch(
        docs, term_lists, id_col="doc_id", text_col="text", lowercase=True
    ).collect()
    by_q: dict = {}
    for r in batch:
        by_q.setdefault(r["query_index"], {})[r["doc_id"]] = r["bm25"]
    for qi, terms in enumerate(term_lists):
        want = {
            r["doc_id"]: r["bm25"]
            for r in bm25_scores(
                docs, terms, id_col="doc_id", text_col="text",
                lowercase=True,
            ).collect()
        }
        got = by_q.get(qi, {})
        assert set(got) == set(want), (qi, got, want)
        for d in want:
            assert abs(got[d] - want[d]) < 1e-9


def test_hybrid_batch_matches_single(spark, tmp_path):
    """search_hybrid_batch results[i] == search_hybrid(queries[i]):
    same docs, same sem/lex ranks, rrf to 1e-9, same display order."""
    eng = _engine(spark, tmp_path)
    texts = ["zephyrblue", "plain common words", "return"]
    batch = eng.search_hybrid_batch(texts, top_k=4).collect()
    by_q: dict = {}
    for r in batch:
        by_q.setdefault(r["query_index"], []).append(r)
    for qi, q in enumerate(texts):
        single = eng.search_hybrid(q, top_k=4).collect()
        got = by_q.get(qi, [])
        assert len(got) == len(single)
        for g, w in zip(got, single):
            assert (g["path"], g["chunk_index"]) == (
                w["path"], w["chunk_index"],
            )
            assert g["sem_rank"] == w["sem_rank"]
            assert g["lex_rank"] == w["lex_rank"]
            assert abs(g["rrf"] - w["rrf"]) < 1e-9


def test_hybrid_batch_empty_store_and_validation(spark, tmp_path):
    import pytest

    eng = VectorEngine(
        spark, str(tmp_path / "none"), embedder=hash_embedder(16), dim=16
    )
    rows = eng.search_hybrid_batch(["a", "b"], top_k=3)
    assert rows.count() == 0
    assert "query_index" in rows.columns and "rrf" in rows.columns
    with pytest.raises(ValueError, match="non-empty"):
        eng.search_hybrid_batch([], top_k=3)


@pytest.mark.slow  # 17.1s
def test_hybrid_indexed_arms_match_brute_at_full_probe(spark, tmp_path):
    """r12: with nprobe covering every cluster the IVF semantic arm is
    exact and the postings BM25 arm is float-identical, so the fully
    indexed hybrid (single AND batch) must reproduce the brute door
    row for row — and with neither the store text nor embeddings
    scanned for ranking."""
    eng = _engine(spark, tmp_path)
    eng.build_index(num_clusters=2, transactional=True)
    eng.build_lex_index()
    n_clusters = eng._index.centroids().count()
    texts = ["zephyrblue", "plain common words"]

    for q in texts:
        brute = eng.search_hybrid(q, top_k=4).collect()
        fast = eng.search_hybrid(
            q,
            top_k=4,
            use_index=True,
            nprobe=n_clusters,
            use_lex_index=True,
        ).collect()
        assert len(fast) == len(brute)
        for g, w in zip(fast, brute):
            assert (g["path"], g["chunk_index"]) == (
                w["path"], w["chunk_index"],
            )
            assert g["sem_rank"] == w["sem_rank"]
            assert g["lex_rank"] == w["lex_rank"]
            assert abs(g["rrf"] - w["rrf"]) < 1e-9

    batch = eng.search_hybrid_batch(
        texts,
        top_k=4,
        use_index=True,
        nprobe=n_clusters,
        use_lex_index=True,
    ).collect()
    by_q: dict = {}
    for r in batch:
        by_q.setdefault(r["query_index"], []).append(r)
    for qi, q in enumerate(texts):
        want = eng.search_hybrid(q, top_k=4).collect()
        got = by_q.get(qi, [])
        assert [(g["path"], g["sem_rank"], g["lex_rank"]) for g in got] == [
            (w["path"], w["sem_rank"], w["lex_rank"]) for w in want
        ]

    # mixed modes compose: indexed semantic arm + brute lexical arm
    mixed = eng.search_hybrid(
        "zephyrblue", top_k=4, use_index=True, nprobe=n_clusters
    ).collect()
    want = eng.search_hybrid("zephyrblue", top_k=4).collect()
    assert len(mixed) == len(want)
    for g, w in zip(mixed, want):
        assert g["path"] == w["path"] and abs(g["rrf"] - w["rrf"]) < 1e-9


@pytest.mark.slow  # 7.9s
def test_lex_index_staleness_guard(spark, tmp_path):
    import pytest as _pytest

    eng = _engine(spark, tmp_path)
    with _pytest.raises(RuntimeError, match="no lexical index"):
        eng.search_hybrid("x", use_lex_index=True)
    eng.build_lex_index()
    assert eng.search_hybrid("zephyrblue", use_lex_index=True).collect()
    # a store write invalidates the postings
    repo2 = tmp_path / "repo2"
    repo2.mkdir()
    (repo2 / "c.md").write_text("fresh zephyrblue arrival " * 10)
    eng.ingest(str(repo2))
    with _pytest.raises(RuntimeError, match="stale"):
        eng.search_hybrid("zephyrblue", use_lex_index=True)
    # explicit opt-in serves the old snapshot; rebuild heals
    assert eng.search_hybrid(
        "zephyrblue", use_lex_index=True, allow_stale=True
    ).collect()
    eng.build_lex_index()
    rows = eng.search_hybrid("zephyrblue", use_lex_index=True).collect()
    assert any("c.md" in r["path"] for r in rows)
