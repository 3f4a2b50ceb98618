"""knn_join_blas: the BLAS bulk scorer behind the serving batch doors.

Contract under test: float-ulp-level agreement with knn_join (same
prenormalize-then-dot semantics, same tie-breaks, threshold after
limit), exact-tie survival across chunk-local pruning, zero-norm rules,
and the loud dimension guard.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from converttovectordb_spark.operators.search import knn_join, knn_join_blas


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (i, [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)])
        for i in range(200)
    ]
    rows.append((200, [0.0] * 8))  # zero-norm row: must score 0.0
    # exact duplicates of row 5's vector → exact score ties
    rows.append((201, rows[5][1]))
    rows.append((202, rows[5][1]))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(8)  # several Arrow chunks → chunk-local prune engages


def _q(spark, n=4):
    return [
        (i, [float((i + j) % 5) + 0.5 for j in range(8)]) for i in range(n)
    ]


def test_matches_knn_join_semantics(spark, docs):
    qrows = _q(spark)
    queries = spark.createDataFrame(
        qrows, "query_index int, query_vec array<double>"
    )
    want = {
        (r["query_index"], r["vec_id"], r["rank"]): r["score"]
        for r in knn_join(
            queries, docs, top_k=5, query_id_col="query_index",
            doc_id_col="vec_id",
        ).collect()
    }
    got = {
        (r["query_index"], r["vec_id"], r["rank"]): r["score"]
        for r in knn_join_blas(
            qrows, docs, top_k=5, carry_cols=["vec_id"],
        ).collect()
    }
    assert set(got) == set(want)
    for k in want:
        assert abs(got[k] - want[k]) < 1e-9


def test_exact_ties_survive_chunk_prune(spark, docs):
    """The fixture's vectors repeat with period 11 in vec_id, so row
    5's vector is shared by 5, 16, 27, … 199, 201, 202 — far more
    exact ties than top_k, spread across Arrow chunks. The global
    id-asc tie-break must pick the smallest ids; a chunk-local prune
    that dropped a boundary tie would silently break this."""
    probe = [(0, [float(x) for x in docs.filter(F.col("vec_id") == 5)
                  .first()["embedding"]])]
    out = knn_join_blas(probe, docs, top_k=3, carry_cols=["vec_id"]).collect()
    assert [r["vec_id"] for r in sorted(out, key=lambda r: r["rank"])] == [
        5, 16, 27,
    ]
    assert len({round(r["score"], 12) for r in out}) == 1
    # and the knn_join reference agrees on the same tied pick
    queries = spark.createDataFrame(
        [(0, probe[0][1])], "query_index int, query_vec array<double>"
    )
    ref = knn_join(
        queries, docs, top_k=3, query_id_col="query_index",
        doc_id_col="vec_id",
    ).collect()
    assert sorted(r["vec_id"] for r in ref) == [5, 16, 27]


def test_zero_norm_rules(spark, docs):
    # zero-norm doc scores 0.0 for any query
    probe = _q(spark, 1)
    out = knn_join_blas(
        probe, docs, top_k=250, carry_cols=["vec_id"]
    ).collect()
    z = [r for r in out if r["vec_id"] == 200]
    assert z and z[0]["score"] == 0.0
    # zero-norm query dots to 0.0 everywhere
    out0 = knn_join_blas(
        [(0, [0.0] * 8)], docs, top_k=3, carry_cols=["vec_id"]
    ).collect()
    assert out0 and all(r["score"] == 0.0 for r in out0)


def test_threshold_after_limit_and_empty_queries(spark, docs):
    out = knn_join_blas(
        [(0, [-5.0] * 8)], docs, top_k=5, carry_cols=["vec_id"],
        score_threshold=0.99,
    ).collect()
    assert len(out) <= 5  # threshold can only SHRINK the top-k
    empty = knn_join_blas([], docs, top_k=5, carry_cols=["vec_id"])
    assert empty.count() == 0
    assert set(empty.columns) == {"query_index", "score", "rank", "vec_id"}


def test_dim_mismatch_raises_loud(spark, docs):
    with pytest.raises(Exception, match="dimension"):
        knn_join_blas(
            [(0, [1.0, 2.0])], docs, top_k=3, carry_cols=["vec_id"]
        ).collect()


def test_order_cols_must_be_carried(spark, docs):
    with pytest.raises(ValueError, match="order_cols"):
        knn_join_blas(
            [(0, [1.0] * 8)], docs, top_k=3,
            carry_cols=["vec_id"], order_cols=["nope"],
        )


def test_null_embedding_rows_are_excluded_not_fatal(spark):
    """r12 (ADVICE search.py:448): a NULL embedding row must not turn
    the chunk matrix into an object array and kill the batch job — it
    is excluded before the scorer (knn_join's fold gives the same row
    a null score that sorts below every real candidate)."""
    rows = [(i, [float(i + j) for j in range(4)]) for i in range(10)]
    rows.append((99, None))
    docs = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).repartition(3)
    qrows = [(0, [1.0, 2.0, 3.0, 4.0])]
    got = knn_join_blas(
        qrows, docs, top_k=3, carry_cols=["vec_id"], order_cols=["vec_id"]
    ).collect()
    assert len(got) == 3
    assert all(r["vec_id"] != 99 for r in got)


def test_ragged_embeddings_raise_named_error(spark):
    rows = [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0])]
    docs = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).coalesce(1)
    with pytest.raises(Exception, match="mixed"):
        knn_join_blas(
            [(0, [1.0, 2.0, 3.0])],
            docs,
            top_k=2,
            carry_cols=["vec_id"],
        ).collect()


def test_knn_rank_single_and_batch_kernels_agree(spark, docs):
    """knn_rank picks `knn_topk` at Q=1 and `knn_join_blas` for Q>1:
    a query ranks the same rows in the same order either way (exact
    ties broken by id), scores agree to 1e-9, the threshold cuts after
    the limit, and the prefix dial is refused for Q>1."""
    from converttovectordb_spark.operators.search import knn_rank

    qv = docs.filter(F.col("vec_id") == 5).first()["embedding"]
    other = _q(spark, 1)[0][1]

    def ranked(vectors, k=4, **kw):
        rows = knn_rank(docs, vectors, k, id_cols=["vec_id"], **kw).collect()
        return sorted(
            (r.query_index, r.rank, r.vec_id, r.score) for r in rows
        )

    one = ranked([qv], score_threshold=None)
    both = ranked([other, qv], score_threshold=None)
    # rows repeat every 11 ids: the top 4 tie exactly, ids ascending
    assert [r[2] for r in one] == [5, 16, 27, 38]
    assert len({r[3] for r in one}) == 1
    assert [(1, *r[1:3]) for r in one] == [r[:3] for r in both if r[0] == 1]
    for a, b in zip(one, [r for r in both if r[0] == 1]):
        assert a[3] == pytest.approx(b[3], abs=1e-9)
    # threshold after the limit: fewer rows, never replaced
    top = ranked([other], k=20, score_threshold=None)
    t = (top[0][3] + top[-1][3]) / 2
    cut = ranked([other], k=20, score_threshold=t)
    assert 0 < len(cut) < len(top)
    assert cut == [r for r in top if r[3] >= t]
    with pytest.raises(ValueError, match="matrix"):
        knn_rank(docs, [qv, other], 4, id_cols=["vec_id"], mrl_dim=4)
    with pytest.raises(ValueError, match="dimension"):
        knn_rank(docs, [qv[:3]], 4, id_cols=["vec_id"], expected_dim=8)
