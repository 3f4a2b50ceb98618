"""Vector math + search-semantics tests (reference Q1-Q7)."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from converttovectordb_spark.functions.vector import (
    cosine_similarity,
    dot_product,
    l2_norm,
    l2_normalize,
)
from converttovectordb_spark.operators.search import (
    ivf_knn_join,
    knn_join,
    knn_topk,
    validate_top_k,
)


def _vec_df(spark, rows):
    return spark.createDataFrame(rows, ["vec_id", "embedding"])


def test_cosine_basics(spark):
    df = _vec_df(
        spark,
        [
            (1, [1.0, 0.0]),
            (2, [0.0, 2.0]),
            (3, [2.0, 0.0]),
            (4, [0.0, 0.0]),  # zero vector → cosine 0 (reference :50-51)
        ],
    )
    q = F.lit([1.0, 0.0]).cast("array<double>")
    got = {
        r.vec_id: r.c
        for r in df.select(
            "vec_id", cosine_similarity(F.col("embedding"), q).alias("c")
        ).collect()
    }
    assert got[1] == pytest.approx(1.0)
    assert got[2] == pytest.approx(0.0)
    assert got[3] == pytest.approx(1.0)
    assert got[4] == 0.0  # exact zero from the guard


def test_norm_and_normalize(spark):
    df = _vec_df(spark, [(1, [3.0, 4.0]), (2, [0.0, 0.0])])
    rows = {
        r.vec_id: (r.n, r.u)
        for r in df.select(
            "vec_id",
            l2_norm(F.col("embedding")).alias("n"),
            l2_normalize(F.col("embedding")).alias("u"),
        ).collect()
    }
    assert rows[1][0] == pytest.approx(5.0)
    assert rows[1][1] == pytest.approx([0.6, 0.8])
    assert rows[2][1] == [0.0, 0.0]  # zero vector passes through


def test_validate_top_k():
    # reference Q6: non-int or <=0 → 5 (mock_vector_db_api.py:254-256)
    assert validate_top_k(3) == 3
    assert validate_top_k(0) == 5
    assert validate_top_k(-2) == 5
    assert validate_top_k("7") == 5
    assert validate_top_k(True) == 5
    assert validate_top_k(None) == 5


def test_threshold_after_limit(spark):
    """Reference Q4: threshold applies AFTER top-k — low-score rows are
    dropped, NOT replaced by next-best rows."""
    df = _vec_df(
        spark,
        [
            (1, [1.0, 0.0]),
            (2, [0.9, 0.1]),
            (3, [0.0, 1.0]),   # orthogonal: score 0 < 0.1
            (4, [-1.0, 0.0]),  # negative score
        ],
    )
    out = knn_topk(df, [1.0, 0.0], top_k=3, id_cols=["vec_id"],
                   drop_embedding=False)
    rows = out.collect()
    # top-3 by score = [1, 2, 3-or-4...]; threshold kills scores < 0.1
    assert [r.vec_id for r in rows] == [1, 2]
    # vec 4 must NOT appear even though k=3 allowed 3 rows
    assert all(r.score >= 0.1 for r in rows)


def test_topk_tiebreak_deterministic(spark):
    df = _vec_df(
        spark,
        [(i, [1.0, 0.0]) for i in range(10)],  # all identical scores
    )
    out = knn_topk(df, [1.0, 0.0], top_k=4, id_cols=["vec_id"],
                   drop_embedding=False)
    assert [r.vec_id for r in out.collect()] == [0, 1, 2, 3]


def test_dim_mismatch_rejected(spark):
    df = _vec_df(spark, [(1, [1.0, 0.0, 0.0])])
    # Known stored dim (the engine path): driver-side ValueError with
    # ZERO Spark jobs — verified via an isolated job group.
    sc = spark.sparkContext
    sc.setJobGroup("dimcheck", "dim guard must not launch jobs")
    try:
        with pytest.raises(ValueError, match="dimension"):
            knn_topk(df, [1.0, 0.0], top_k=2, expected_dim=3)
        # building the valid-dim plan must not launch a job either
        knn_topk(df, [1.0, 0.0, 0.0], top_k=2, expected_dim=3)
        assert sc.statusTracker().getJobIdsForGroup("dimcheck") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # Unknown stored dim: the lazy in-plan guard surfaces at action time
    # (no separate probe job), with the Q5 message.
    with pytest.raises(Exception, match="dimension"):
        knn_topk(df, [1.0, 0.0], top_k=2).collect()


def test_knn_join_excludes_self_and_ranks(spark):
    docs = _vec_df(
        spark,
        [
            (1, [1.0, 0.0]),
            (2, [0.99, 0.14]),
            (3, [0.0, 1.0]),
        ],
    )
    queries = docs.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = knn_join(queries, docs, top_k=1, exclude_self=True).collect()
    by_q = {r.query_id: r for r in out}
    assert by_q[1].vec_id == 2  # nearest non-self
    assert by_q[2].vec_id == 1
    assert all(r.rank == 1 for r in out)
    # normalized dot == cosine
    expected = (1.0 * 0.99) / math.sqrt(0.99**2 + 0.14**2)
    assert by_q[1].score == pytest.approx(expected)


def test_ivf_matches_bruteforce_on_clustered_data(spark):
    # two tight clusters; nprobe=1 must still find the true neighbors
    rows = [(i, [10.0 + i * 0.01, 0.0, 1.0], 0) for i in range(5)]
    rows += [(10 + i, [0.0, 10.0 + i * 0.01, 1.0], 1) for i in range(5)]
    docs = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    queries = docs.filter(F.col("vec_id").isin(0, 10)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = knn_join(queries, docs, top_k=3).select(
        "query_id", "vec_id", "rank"
    )
    approx = ivf_knn_join(queries, docs, top_k=3, nprobe=1).select(
        "query_id", "vec_id", "rank"
    )
    assert sorted(map(tuple, exact.collect())) == sorted(
        map(tuple, approx.collect())
    )


def test_engine_search_batch(spark, tmp_path):
    """Batch search verb: one embedder call, broadcast join, per-query
    top-k that matches the single-query path row for row."""
    import pytest

    from pyspark.sql import functions as F

    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine

    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "a.py").write_text("def alpha():\n    return 'first'\n" * 15)
    (repo / "b.md").write_text("# beta\nsecond topic entirely\n" * 10)
    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(32),
        dim=32, chunk_size=300, overlap=50,
    )

    with pytest.raises(ValueError, match="non-empty"):
        eng.search_batch([])
    # empty store: empty result with the documented schema
    empty = eng.search_batch(["anything"])
    assert empty.count() == 0
    assert empty.columns == [
        "query_index", "query_text", "path", "chunk_index", "content",
        "score", "rank",
    ]

    eng.ingest(str(repo))
    queries = ["alpha function first", "beta second topic"]
    batch = eng.search_batch(queries, top_k=3).collect()
    assert {r.query_index for r in batch} == {0, 1}
    for i, text in enumerate(queries):
        mine = [r for r in batch if r.query_index == i]
        assert all(r.query_text == text for r in mine)
        assert [r.rank for r in mine] == sorted(r.rank for r in mine)
        # row-for-row parity with the single-query path (no threshold:
        # search applies the reference's 0.1 cutoff, so compare against
        # the same top-k WITHOUT threshold via search_vector semantics)
        single = eng.search_vector(
            [float(x) for x in eng.embedder([text])[0]], top_k=3
        ).collect()
        # single path applies threshold 0.1 after limit; batch with no
        # threshold returns full top-k — the single result must be a
        # prefix-subset of the batch ranks
        single_ids = [(r.path, r.chunk_index) for r in single]
        batch_ids = [
            (r.path, r.chunk_index)
            for r in sorted(mine, key=lambda r: r.rank)
        ]
        assert single_ids == batch_ids[: len(single_ids)]


def test_engine_search_batch_indexed(spark, tmp_path):
    """search_batch(use_index=True): the whole batch rides ONE probe
    pass + one probed-partition scan; with nprobe == num_clusters the
    probe covers everything, so results equal the brute batch path
    row for row. Staleness guard matches search_indexed."""
    import pytest

    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine

    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "a.py").write_text("def alpha():\n    return 'first'\n" * 15)
    (repo / "b.md").write_text("# beta\nsecond topic entirely\n" * 10)
    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(32),
        dim=32, chunk_size=300, overlap=50,
    )
    eng.ingest(str(repo))
    queries = ["alpha function first", "beta second topic"]
    with pytest.raises(RuntimeError, match="no IVF index"):
        eng.search_batch(queries, use_index=True)
    eng.build_index(num_clusters=2)

    brute = eng.search_batch(queries, top_k=3).collect()
    indexed = eng.search_batch(
        queries, top_k=3, use_index=True, nprobe=2
    ).collect()
    key = lambda r: (r.query_index, r.rank)  # noqa: E731
    assert [
        (r.query_index, r.query_text, r.path, r.chunk_index, r.rank)
        for r in sorted(indexed, key=key)
    ] == [
        (r.query_index, r.query_text, r.path, r.chunk_index, r.rank)
        for r in sorted(brute, key=key)
    ]
    for a, b in zip(sorted(indexed, key=key), sorted(brute, key=key)):
        assert a.score == pytest.approx(b.score, abs=1e-9)

    # staleness: an out-of-band write must trip the guard
    (repo / "c.txt").write_text("late arriving text " * 20)
    eng.ingest(str(repo))
    with pytest.raises(RuntimeError, match="stale"):
        eng.search_batch(queries, use_index=True)
    assert (
        len(
            eng.search_batch(
                queries, use_index=True, allow_stale=True
            ).collect()
        )
        > 0
    )


_TEXTS = [
    "def alpha():\n    return 'first'\n" * 3,
    "# beta\nsecond topic entirely\n" * 3,
]

#: every search door of the engine facade, answered for one or two
#: texts (the batch doors at Q>1 run their batch kernels)
_DOORS = {
    "search": lambda e: e.search(_TEXTS[0], top_k=3),
    "search_vector": lambda e: e.search_vector(
        [float(x) for x in e.embedder(_TEXTS[:1])[0]], top_k=3
    ),
    "search_batch": lambda e: e.search_batch(_TEXTS, top_k=3),
    "search_hybrid": lambda e: e.search_hybrid(_TEXTS[0], top_k=3),
    "search_hybrid_batch": lambda e: e.search_hybrid_batch(_TEXTS, top_k=3),
    "search_diverse": lambda e: e.search_diverse(_TEXTS[0], top_k=3),
    "search_diverse_batch": lambda e: e.search_diverse_batch(
        _TEXTS, top_k=3
    ),
}


@pytest.fixture(scope="module")
def ingested_pair(spark, tmp_path_factory):
    """An ingested (extension-partitioned) engine and a never-ingested
    one with the same embedder."""
    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine

    root = tmp_path_factory.mktemp("doors")
    repo = root / "repo"
    repo.mkdir()
    (repo / "a.py").write_text("def alpha():\n    return 'first'\n" * 15)
    (repo / "b.md").write_text("# beta\nsecond topic entirely\n" * 10)

    def engine(name):
        return VectorEngine(
            spark, str(root / name), embedder=hash_embedder(32), dim=32,
            chunk_size=300, overlap=50,
        )

    full = engine("store")
    full.ingest(str(repo))
    return full, engine("none")


@pytest.mark.parametrize("door", sorted(_DOORS))
def test_empty_store_result_unions_positionally(ingested_pair, door):
    """An empty store answers each door with the populated columns in
    the populated order, so a positional ``union`` (not
    ``unionByName``) with a populated answer keeps every value under
    its own column."""
    full_eng, empty_eng = ingested_pair
    full = _DOORS[door](full_eng)
    empty = _DOORS[door](empty_eng)
    assert empty.collect() == []
    assert empty.columns == full.columns
    want = full.collect()
    assert want
    got = empty.union(full).collect()
    assert sorted(map(repr, got)) == sorted(map(repr, want))
