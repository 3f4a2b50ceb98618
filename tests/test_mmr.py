"""MMR rerank: greedy diversity semantics, parameter validation, and
the serving-shape contract (per-query groups, bounded candidate sets).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from converttovectordb_spark.operators.search import mmr_rerank


def _cands(spark, rows):
    return spark.createDataFrame(
        rows, "query_id long, vec_id long, score double, embedding array<double>"
    )


def test_first_pick_is_relevance_argmax_then_diversity_demotes(spark):
    # doc 1 and doc 2 are near-duplicates; doc 3 is orthogonal with
    # lower relevance. MMR must pick 1, then 3 (2 is redundant).
    rows = [
        (0, 1, 0.99, [1.0, 0.0]),
        (0, 2, 0.98, [1.0, 0.01]),
        (0, 3, 0.60, [0.0, 1.0]),
    ]
    out = mmr_rerank(_cands(spark, rows), top_k=3).orderBy("mmr_rank").collect()
    assert [r.vec_id for r in out] == [1, 3, 2]
    assert [r.mmr_rank for r in out] == [1, 2, 3]
    # first pick's mmr is λ·rel exactly (empty-set diversity term 0)
    assert out[0].mmr == pytest.approx(0.5 * 0.99)


def test_lambda_one_reduces_to_relevance_ranking(spark):
    rows = [
        (0, 1, 0.9, [1.0, 0.0]),
        (0, 2, 0.8, [1.0, 0.0]),  # duplicate vector: irrelevant at λ=1
        (0, 3, 0.7, [0.0, 1.0]),
    ]
    out = (
        mmr_rerank(_cands(spark, rows), top_k=3, lambda_=1.0)
        .orderBy("mmr_rank")
        .collect()
    )
    assert [r.vec_id for r in out] == [1, 2, 3]


def test_parallel_across_queries_sequential_within(spark):
    rows = [
        (0, 1, 0.9, [1.0, 0.0]),
        (0, 2, 0.8, [0.0, 1.0]),
        (7, 1, 0.9, [1.0, 0.0]),
        (7, 2, 0.8, [0.0, 1.0]),
    ]
    out = mmr_rerank(_cands(spark, rows), top_k=2).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r.vec_id)
    assert set(by_q) == {0, 7}
    assert sorted(by_q[0]) == sorted(by_q[7]) == [1, 2]


def test_fewer_candidates_than_k(spark):
    rows = [(0, 1, 0.9, [1.0, 0.0])]
    out = mmr_rerank(_cands(spark, rows), top_k=5).collect()
    assert len(out) == 1 and out[0].mmr_rank == 1


def test_lambda_validated(spark):
    with pytest.raises(ValueError, match="lambda_"):
        mmr_rerank(_cands(spark, [(0, 1, 0.9, [1.0])]), lambda_=1.5)


def test_negative_similarity_is_not_clipped(spark):
    # anti-correlated docs: max-sim is negative, which REWARDS the
    # second pick (mmr > λ·rel). A 0-clipped implementation would
    # return exactly λ·rel instead.
    rows = [
        (0, 1, 0.9, [1.0, 0.0]),
        (0, 2, 0.5, [-1.0, 0.0]),
    ]
    out = (
        mmr_rerank(_cands(spark, rows), top_k=2).orderBy("mmr_rank").collect()
    )
    assert out[1].vec_id == 2
    assert out[1].mmr == pytest.approx(0.5 * 0.5 - 0.5 * (-1.0))


def test_engine_search_diverse(spark, tmp_path):
    from converttovectordb_spark.engine import VectorEngine

    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "a.txt").write_text("spark joins and shuffles " * 30)
    (repo / "b.txt").write_text("spark joins and shuffles " * 30)  # near-dup
    (repo / "c.txt").write_text("streaming watermarks bound state")
    eng = VectorEngine(spark, str(tmp_path / "store"), dim=16)
    eng.ingest(str(repo))
    out = eng.search_diverse("spark joins", top_k=3, fetch_k=10).collect()
    assert out
    assert "embedding" not in out[0].asDict()
    # threshold-after-selection can DROP a low-relevance pick while the
    # survivors keep their pick position — ranks are strictly
    # increasing but not necessarily contiguous (reference semantics)
    ranks = [r.mmr_rank for r in out]
    assert ranks == sorted(ranks) and len(set(ranks)) == len(ranks)
    assert ranks[0] == 1
    # diversity: the two duplicate files must not BOTH outrank c.txt
    # when three results come back
    if len(out) == 3:
        top2 = {r.path for r in out[:2]}
        assert not top2 <= {f"{repo}/a.txt", f"{repo}/b.txt"}


def test_engine_search_diverse_truncates_and_keeps_empty_shape(
    spark, tmp_path
):
    """The single diverse door applies ``truncate_chars`` (the CLI's
    --truncate) to result content only, and an empty store answers
    with its documented column order."""
    from converttovectordb_spark.engine import VectorEngine

    empty = VectorEngine(spark, str(tmp_path / "none"), dim=16)
    assert empty.search_diverse("anything").columns == [
        "score", "mmr", "mmr_rank", "path", "chunk_index",
        "total_chunks", "content", "timestamp", "extension",
    ]

    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "a.txt").write_text("spark joins and shuffles " * 30)
    (repo / "c.txt").write_text("streaming watermarks bound state")
    eng = VectorEngine(spark, str(tmp_path / "store"), dim=16)
    eng.ingest(str(repo))
    full = eng.search_diverse("spark joins", top_k=2, fetch_k=10)
    cut = eng.search_diverse(
        "spark joins", top_k=2, fetch_k=10, truncate_chars=20
    )
    assert cut.columns == full.columns
    full_rows, cut_rows = full.collect(), cut.collect()
    assert len(cut_rows) == len(full_rows) > 0
    for c, f in zip(cut_rows, full_rows):
        want = f.content if len(f.content) <= 20 else f.content[:20] + "..."
        assert c.content == want
        assert (c.path, c.mmr_rank, c.score) == (f.path, f.mmr_rank, f.score)
    assert any(len(f.content) > 20 for f in full_rows)


def test_diverse_batch_use_index_matches_brute_at_full_probe(
    spark, tmp_path
):
    """search_diverse_batch(use_index=True) with nprobe == num_clusters
    probes every cluster — the candidate set equals the brute scan's,
    so picks and ranks must match exactly (scores to 1e-9: the two
    stages compute cosine in different fold orders)."""
    from converttovectordb_spark.engine import VectorEngine

    repo = tmp_path / "repo"
    repo.mkdir()
    for i in range(6):
        (repo / f"f{i}.txt").write_text(
            f"document {i} about topic {'alpha' if i % 2 else 'beta'} "
            * 8
        )
    eng = VectorEngine(
        spark, str(tmp_path / "store"), dim=16, chunk_size=400, overlap=80
    )
    eng.ingest(str(repo))
    eng.build_index(num_clusters=2)

    texts = ["alpha topic document", "beta topic document"]
    brute = eng.search_diverse_batch(texts, top_k=3, fetch_k=12).collect()
    indexed = eng.search_diverse_batch(
        texts, top_k=3, fetch_k=12, use_index=True, nprobe=2
    ).collect()
    assert len(brute) == len(indexed) > 0

    def key(rows):
        return [
            (r["query_index"], r["path"], r["chunk_index"], r["mmr_rank"])
            for r in rows
        ]

    assert key(indexed) == key(brute)
    for a, b in zip(indexed, brute):
        assert abs(a["score"] - b["score"]) < 1e-9
        assert abs(a["mmr"] - b["mmr"]) < 1e-9
    assert all("embedding" not in r.asDict() for r in indexed)

    # staleness guard rides along: more ingest → indexed path raises
    (repo / "late.txt").write_text("late arrival document " * 8)
    eng.ingest(str(repo))
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="stale"):
        eng.search_diverse_batch(
            texts, top_k=3, use_index=True
        ).collect()


@pytest.mark.slow  # 15.4s
def test_single_diverse_use_index_matches_brute_at_full_probe(
    spark, tmp_path
):
    """r12 single/batch symmetry: search_diverse(use_index=True) at
    nprobe covering every cluster reproduces the brute door (ids,
    ranks, display; scores to 1e-9), and the staleness guard applies."""
    import pytest as _pytest

    from converttovectordb_spark.engine import VectorEngine

    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "a.txt").write_text("spark joins and shuffles " * 30)
    (repo / "b.txt").write_text("spark joins and shuffles " * 30)
    (repo / "c.txt").write_text("streaming watermarks bound state")
    (repo / "d.txt").write_text("cosine vectors rank embeddings")
    eng = VectorEngine(spark, str(tmp_path / "store"), dim=16)
    eng.ingest(str(repo))
    eng.build_index(num_clusters=2, transactional=True)
    n_clusters = eng._index.centroids().count()

    brute = eng.search_diverse("spark joins", top_k=3, fetch_k=10).collect()
    fast = eng.search_diverse(
        "spark joins",
        top_k=3,
        fetch_k=10,
        use_index=True,
        nprobe=n_clusters,
    ).collect()
    assert len(fast) == len(brute) > 0
    for g, w in zip(fast, brute):
        assert (g["path"], g["chunk_index"], g["mmr_rank"]) == (
            w["path"], w["chunk_index"], w["mmr_rank"],
        )
        assert abs(g["score"] - w["score"]) < 1e-9
        assert abs(g["mmr"] - w["mmr"]) < 1e-9
        assert "embedding" not in g.asDict()

    # staleness guard rides along; allow_stale opts out
    (repo / "e.txt").write_text("late arrival")
    eng.ingest(str(repo))
    with _pytest.raises(RuntimeError, match="stale"):
        eng.search_diverse("spark joins", use_index=True)
    assert eng.search_diverse(
        "spark joins", use_index=True, allow_stale=True
    ).collect()
