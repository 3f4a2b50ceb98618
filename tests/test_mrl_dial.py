"""The Matryoshka-truncation dial, measured → persisted → resolved →
CONSUMED (r12 verdict #1), plus the sign-bit Hamming prefilter.

The dimension knob gets the full nprobe/ADC treatment: build time
measures recall@k vs prefix dimension on a held-out sample and persists
the curve (`measure_mrl_curve`); ``mrl_dim_for_recall(target)`` resolves
the measured minimal dimension; `VectorEngine.search_indexed(
target_mrl_recall=...)`, `knn_topk(mrl_dim=...)`, and
`DriverMatrixIndex.query(mrl_dim=...)` consume it — scoring candidates
on the prefix and reranking survivors at full dimension. The d'=dim
setting must reproduce the exact path by construction on EVERY tier.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from converttovectordb_spark.plans.ivf_index import (
    MRL_CURVE_FILE,
    build_ivf_index,
    measure_mrl_curve,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return build_ivf_index(
        emb,
        str(tmp_path_factory.mktemp("mrl") / "ivf"),
        cluster_col="label",
    )


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def _probes(emb, n=4):
    return emb.filter(F.col("vec_id") < n).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )


# -- curve lifecycle ------------------------------------------------------


@pytest.mark.slow  # 15.9s
def test_mrl_curve_persisted_stamped_and_ends_exact(index):
    payload = measure_mrl_curve(index, top_k=3, sample=8)
    assert os.path.exists(os.path.join(index.path, MRL_CURVE_FILE))
    assert index.mrl_curve() == payload
    curve = payload["curve"]
    dims = [c["dim"] for c in curve]
    assert dims == sorted(dims) and len(set(dims)) == len(dims)
    # the endpoint is the stored dimension — recall 1.0 by construction
    # (the prefix is the whole vector and the shortlist >= top_k)
    assert dims[-1] == payload["full_dim"]
    assert curve[-1]["recall"] == 1.0
    # contract stamps: the re-measure path and the resolver read these
    assert payload["top_k"] == 3
    assert payload["nprobe"] == 2
    assert payload["shortlist"] == 12  # 4 × top_k default
    assert payload["requested_sample"] == 8
    assert payload["measured_n_docs"] > 0
    # determinism: the hash-ordered sample gives the same curve again
    assert measure_mrl_curve(index, top_k=3, sample=8) == payload


# depend on the mrl curve persisted by the deferred
# test_mrl_curve_persisted_stamped_and_ends_exact
@pytest.mark.slow
def test_mrl_dim_for_recall_resolution_and_validation(spark, index, tmp_path):
    curve = index.mrl_curve()["curve"]
    want = min(c["dim"] for c in curve if c["recall"] >= 1.0)
    assert index.mrl_dim_for_recall(1.0) == want
    with pytest.raises(ValueError, match="target_recall"):
        index.mrl_dim_for_recall(0.0)
    with pytest.raises(ValueError, match="target_recall"):
        index.mrl_dim_for_recall(1.5)
    # unreachable target on a hand-truncated curve → largest measured
    from converttovectordb_spark.plans.ivf_index import IVFIndex

    stub_dir = str(tmp_path / "stub")
    os.makedirs(stub_dir)
    stub = IVFIndex(spark, stub_dir)
    with open(os.path.join(stub_dir, MRL_CURVE_FILE), "w") as fh:
        json.dump(
            {"top_k": 3, "sample": 8, "curve": [
                {"dim": 8, "recall": 0.4},
                {"dim": 16, "recall": 0.7},
            ]},
            fh,
        )
    assert stub.mrl_dim_for_recall(0.9) == 16
    # minimal MEASURED dim meeting the target, even mid-curve
    assert stub.mrl_dim_for_recall(0.5) == 16
    assert stub.mrl_dim_for_recall(0.3) == 8
    bare = IVFIndex(spark, str(tmp_path / "bare"))
    with pytest.raises(ValueError, match="no MRL truncation curve"):
        bare.mrl_dim_for_recall(0.9)


@pytest.mark.slow  # 7.1s
def test_mrl_staleness_budget(spark, tmp_path):
    import warnings

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = build_ivf_index(emb, str(tmp_path / "ivf"), cluster_col="label")
    payload = measure_mrl_curve(idx, top_k=3, sample=8)
    n0 = emb.count()
    assert payload["measured_n_docs"] == n0
    st = idx.mrl_curve_staleness()
    assert st["growth"] == 0.0 and st["current_n_docs"] == n0
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        idx.mrl_dim_for_recall(0.9)
    batch = emb.limit(max(1, n0 // 2)).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    idx.append(batch, cluster_col="label")
    assert idx.mrl_curve_staleness()["growth"] > 0.25
    with pytest.warns(RuntimeWarning, match="stale"):
        idx.mrl_dim_for_recall(0.9)
    with pytest.raises(ValueError, match="stale"):
        idx.mrl_dim_for_recall(0.9, strict=True)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        idx.mrl_dim_for_recall(0.9, max_growth=1.0)


# -- the IVF door consumes the dial ---------------------------------------


@pytest.mark.slow
def test_index_search_fulldim_mrl_equals_exact(index, emb):
    probes = _probes(emb)
    full_dim = int(index.mrl_curve()["full_dim"])
    exact = index.search(probes, top_k=3, nprobe=2).collect()
    via = index.search(
        probes, top_k=3, nprobe=2, mrl_dim=full_dim
    ).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, via))
    # d' past the stored dimension degenerates the same way
    via_big = index.search(
        probes, top_k=3, nprobe=2, mrl_dim=full_dim * 4
    ).collect()
    assert sorted(map(tuple, exact)) == sorted(map(tuple, via_big))


def test_index_search_mrl_validation(index, emb):
    probes = _probes(emb)
    with pytest.raises(ValueError, match="mutually exclusive"):
        index.search(probes, top_k=3, mrl_dim=16, adc_shortlist=8)
    with pytest.raises(ValueError, match="mrl_shortlist requires"):
        index.search(probes, top_k=3, mrl_shortlist=8)
    with pytest.raises(ValueError, match="must be >= top_k"):
        index.search(probes, top_k=5, mrl_dim=16, mrl_shortlist=3)
    with pytest.raises(ValueError, match="mrl_dim must be"):
        index.search(probes, top_k=3, mrl_dim=0)


def test_index_search_mrl_shortlist_bounds_result(index, emb):
    probes = _probes(emb, n=2)
    rows = index.search(
        probes, top_k=3, nprobe=2, mrl_dim=16, mrl_shortlist=3
    ).collect()
    # shortlist = top_k: every survivor ranks; still ≤ k rows per query
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    assert by_q and all(len(v) <= 3 for v in by_q.values())
    # a corpus-sized shortlist keeps every probed candidate — the
    # prefilter degenerates and the result equals the exact path
    # (value-exactness of a REAL truncation is hash-graded by the
    # mrl_prefix_rerank query against the DuckDB oracle)
    n = emb.count()
    wide = index.search(
        probes, top_k=3, nprobe=2, mrl_dim=16, mrl_shortlist=int(n)
    ).collect()
    exact = index.search(probes, top_k=3, nprobe=2).collect()
    assert sorted(map(tuple, wide)) == sorted(map(tuple, exact))


# -- engine resolution ----------------------------------------------------


def _mini_repo(tmp_path):
    repo = tmp_path / "repo"
    repo.mkdir()
    texts = {
        "a.py": "def alpha():\n    return 'spark shuffles data'\n" * 4,
        "b.py": "def beta():\n    return 'watermarks bound state'\n" * 4,
        "c.md": "cosine similarity ranks embedding vectors closely",
        "d.md": "streaming epochs commit through manifest txn ids",
    }
    for name, t in texts.items():
        (repo / name).write_text(t)
    return str(repo)


@pytest.mark.slow  # 10.6s
def test_engine_target_mrl_recall_resolution_and_explicit_wins(
    spark, tmp_path
):
    from converttovectordb_spark.engine import VectorEngine

    eng = VectorEngine(
        spark, str(tmp_path / "store"), dim=16, chunk_size=200, overlap=40
    )
    eng.ingest(_mini_repo(tmp_path))
    index = eng.build_index(num_clusters=2, mrl_recall_sample=4)
    payload = index.mrl_curve()
    assert payload is not None

    resolved = index.mrl_dim_for_recall(1.0)
    via_target = eng.search_indexed(
        "embedding vectors", top_k=3, target_mrl_recall=1.0
    ).collect()
    via_explicit = eng.search_indexed(
        "embedding vectors",
        top_k=3,
        mrl_dim=resolved,
        mrl_shortlist=payload["shortlist"],
    ).collect()
    assert [tuple(r) for r in via_target] == [
        tuple(r) for r in via_explicit
    ]

    # explicit mrl_dim WINS: the curve is never consulted
    def boom(*a, **kw):
        raise AssertionError("curve consulted despite explicit mrl_dim")

    index.mrl_dim_for_recall = boom
    rows = eng.search_indexed(
        "embedding vectors", top_k=3, mrl_dim=8, target_mrl_recall=1.0
    ).collect()
    assert rows is not None


@pytest.mark.slow  # 15.7s
def test_engine_retrain_remeasures_mrl_curve(spark, tmp_path):
    """maybe_retrain's rebuild-and-swap re-measures the truncation
    curve under the old stamped contract — target_mrl_recall keeps
    resolving on the NEW index without a manual re-measure."""
    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine

    def mkdocs(tag, vecs):
        return spark.createDataFrame(
            [
                (f"{tag}/f{i}.txt", ".txt", 0, 1, f"{tag} doc {i}", v, 0.0)
                for i, v in enumerate(vecs)
            ],
            "path string, extension string, chunk_index int, "
            "total_chunks int, content string, embedding array<float>, "
            "timestamp double",
        )

    base_vecs = [
        [1.0 + 0.01 * i, 0.01 * i, 0.0, 0.0] for i in range(10)
    ] + [[0.01 * i, 1.0 + 0.01 * i, 0.0, 0.0] for i in range(10)]
    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(4), dim=4
    )
    eng.store.append(mkdocs("base", base_vecs))
    eng.build_index(
        num_clusters=2, transactional=True, mrl_recall_sample=4
    )
    old_payload = eng._index.mrl_curve()
    assert old_payload is not None
    old_dir = eng._index.path

    eng.store.append(
        mkdocs("drift", [[6.0, 6.0, 0.01 * i, 0.0] for i in range(30)])
    )
    rep = eng.maybe_retrain(0.5)
    assert rep["retrained"] is True
    assert eng._index.path != old_dir
    fresh = eng._index.mrl_curve()
    assert fresh is not None
    assert fresh["top_k"] == old_payload["top_k"]
    assert fresh["shortlist"] == old_payload["shortlist"]
    assert fresh["requested_sample"] == old_payload["requested_sample"]
    assert fresh["measured_n_docs"] == eng.store.load().count()
    rows = eng.search_indexed(
        "base doc", top_k=3, target_mrl_recall=1.0
    ).collect()
    assert rows

    # curve-less indexes stay curve-less across a retrain
    eng2 = VectorEngine(
        spark, str(tmp_path / "store2"), embedder=hash_embedder(4), dim=4
    )
    eng2.store.append(mkdocs("base", base_vecs))
    eng2.build_index(num_clusters=2, transactional=True)
    assert eng2._index.mrl_curve() is None
    eng2.store.append(
        mkdocs("drift", [[6.0, 6.0, 0.01 * i, 0.0] for i in range(30)])
    )
    rep2 = eng2.maybe_retrain(0.5)
    assert rep2["retrained"] is True
    assert eng2._index.mrl_curve() is None


# -- matrix tier ----------------------------------------------------------


def test_matrix_tier_mrl_and_hamming(spark, emb):
    from converttovectordb_spark.operators.serving import DriverMatrixIndex

    mi = DriverMatrixIndex.from_dataframe(emb)
    q = emb.filter(F.col("vec_id") == 3).first()["embedding"]

    exact = mi.query(q, 5, id_cols=["vec_id"])
    assert mi.query(q, 5, id_cols=["vec_id"], mrl_dim=mi.dim) == exact
    assert (
        mi.query(q, 5, id_cols=["vec_id"], hamming_shortlist=mi.n) == exact
    )
    # a real truncation returns k rows and the self-match leads
    trunc = mi.query(q, 5, id_cols=["vec_id"], mrl_dim=16)
    assert len(trunc) == 5 and trunc[0]["vec_id"] == 3
    ham = mi.query(q, 5, id_cols=["vec_id"], hamming_shortlist=32)
    assert len(ham) == 5 and ham[0]["vec_id"] == 3
    # batched doors are bit-identical to the single door
    b = mi.query_batch([q, q], 5, id_cols=["vec_id"], mrl_dim=16)
    assert b == [trunc, trunc]
    bh = mi.query_batch([q], 5, id_cols=["vec_id"], hamming_shortlist=32)
    assert bh == [ham]


def test_matrix_tier_prefilter_validation(spark, emb):
    from converttovectordb_spark.operators.serving import DriverMatrixIndex

    mi = DriverMatrixIndex.from_dataframe(emb)
    q = emb.first()["embedding"]
    with pytest.raises(ValueError, match="mutually exclusive"):
        mi.query(q, 5, mrl_dim=16, hamming_shortlist=32)
    with pytest.raises(ValueError, match="mrl_shortlist requires"):
        mi.query(q, 5, mrl_shortlist=8)
    with pytest.raises(ValueError, match="must be >= top_k"):
        mi.query(q, 5, mrl_dim=16, mrl_shortlist=2)
    with pytest.raises(ValueError, match="must be >= top_k"):
        mi.query(q, 5, hamming_shortlist=2)
    with pytest.raises(ValueError, match="mrl_dim must be"):
        mi.query(q, 5, mrl_dim=0)
    with pytest.raises(ValueError, match="mrl_shortlist requires"):
        mi.query_batch([q], 5, mrl_shortlist=8)


# -- distributed brute door -----------------------------------------------


def test_knn_topk_mrl_fulldim_equals_exact(spark, emb):
    from converttovectordb_spark.operators.search import knn_topk

    q = list(emb.filter(F.col("vec_id") == 3).first()["embedding"])
    exact = knn_topk(emb, q, 5, id_cols=["vec_id"]).collect()
    via = knn_topk(emb, q, 5, id_cols=["vec_id"], mrl_dim=len(q)).collect()
    assert [tuple(r) for r in exact] == [tuple(r) for r in via]
    trunc = knn_topk(emb, q, 5, id_cols=["vec_id"], mrl_dim=16).collect()
    assert len(trunc) <= 5 and trunc[0]["vec_id"] == 3
    with pytest.raises(ValueError, match="mrl_shortlist requires"):
        knn_topk(emb, q, 5, mrl_shortlist=8)
    with pytest.raises(ValueError, match="must be >= top_k"):
        knn_topk(emb, q, 5, mrl_dim=16, mrl_shortlist=2)


def test_knn_topk_matches_matrix_tier_on_truncation(spark, emb):
    """Cross-tier pin: the distributed prefix-rerank and the matrix
    prefix-rerank pick the same rows in the same order at the same
    dial setting (scores agree to float tolerance)."""
    from converttovectordb_spark.operators.search import knn_topk
    from converttovectordb_spark.operators.serving import DriverMatrixIndex

    mi = DriverMatrixIndex.from_dataframe(emb)
    q = list(emb.filter(F.col("vec_id") == 7).first()["embedding"])
    a = knn_topk(
        emb, q, 5, id_cols=["vec_id"], mrl_dim=16, mrl_shortlist=20
    ).collect()
    b = mi.query(
        q, 5, id_cols=["vec_id"], mrl_dim=16, mrl_shortlist=20
    )
    assert [r["vec_id"] for r in a] == [r["vec_id"] for r in b]
    for ra, rb in zip(a, b):
        assert abs(ra["score"] - rb["score"]) < 1e-9


# -- REST door (r12 verdict #1's "endpoint test") --------------------------


def test_rest_query_mrl_dim_both_tiers(spark, tmp_path):
    """/query with mrl_dim=dim reproduces the plain answer on BOTH
    serving tiers (matrix and forced-df), and a real truncation still
    finds the exact match; malformed dials are 400s, never silent
    full-dim answers."""
    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine
    from converttovectordb_spark.server import VectorDBServer
    from tests.test_server import DIM, _call, _seed, _unit

    def mk(tag, **kw):
        eng = VectorEngine(
            spark,
            str(tmp_path / tag),
            embedder=hash_embedder(DIM),
            dim=DIM,
        )
        return VectorDBServer(eng, port=0, **kw).start()

    for kw in ({}, {"matrix_max_cells": 0}):
        srv = mk("store_m" if not kw else "store_d", **kw)
        try:
            _seed(srv)
            st, plain = _call(
                srv, "POST", "/query",
                {"query_embedding": _unit(2), "top_k": 3},
            )
            st2, full = _call(
                srv, "POST", "/query",
                {"query_embedding": _unit(2), "top_k": 3,
                 "mrl_dim": DIM},
            )
            assert st == st2 == 200
            assert full["results"] == plain["results"], kw
            # a real truncation: _unit(2)'s hot dim sits inside the
            # 4-dim prefix, so the exact match still leads
            st3, trunc = _call(
                srv, "POST", "/query",
                {"query_embedding": _unit(2), "top_k": 3, "mrl_dim": 4},
            )
            assert st3 == 200
            assert trunc["results"][0]["content"] == "document number 2"
            # malformed dials are loud
            for bad in (
                {"query_embedding": _unit(2), "mrl_dim": 0},
                {"query_embedding": _unit(2), "mrl_dim": "x"},
                {"query_embedding": _unit(2), "mrl_dim": True},
                {"query_embedding": _unit(2), "mrl_shortlist": 8},
            ):
                st4, err = _call(srv, "POST", "/query", bad)
                assert st4 == 400, bad
            # shortlist < top_k surfaces the engine's ValueError as 400
            st5, err = _call(
                srv, "POST", "/query",
                {"query_embedding": _unit(2), "top_k": 5,
                 "mrl_dim": 4, "mrl_shortlist": 2},
            )
            assert st5 == 400 and "top_k" in err["error"]
        finally:
            srv.stop()


def test_rest_query_batch_mrl_dim_matrix_only(spark, tmp_path):
    """/query_batch turns the dial on the matrix tier; on the
    distributed tier it answers one vector as /query does and refuses
    (400, named reason) a batch of more rather than silently serving
    full-dim answers to an mrl_dim request."""
    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine
    from converttovectordb_spark.server import VectorDBServer
    from tests.test_server import DIM, _call, _seed, _unit

    eng = VectorEngine(
        spark, str(tmp_path / "bm"), embedder=hash_embedder(DIM), dim=DIM
    )
    srv = VectorDBServer(eng, port=0).start()
    try:
        _seed(srv)
        st, out = _call(
            srv, "POST", "/query_batch",
            {"query_embeddings": [_unit(2), _unit(5)], "top_k": 3,
             "mrl_dim": DIM},
        )
        st2, plain = _call(
            srv, "POST", "/query_batch",
            {"query_embeddings": [_unit(2), _unit(5)], "top_k": 3},
        )
        assert st == st2 == 200
        assert out["results"] == plain["results"]
    finally:
        srv.stop()

    eng2 = VectorEngine(
        spark, str(tmp_path / "bd"), embedder=hash_embedder(DIM), dim=DIM
    )
    srv2 = VectorDBServer(eng2, port=0, matrix_max_cells=0).start()
    try:
        _seed(srv2)
        st, err = _call(
            srv2, "POST", "/query_batch",
            {"query_embeddings": [_unit(2), _unit(5)], "top_k": 3,
             "mrl_dim": 4},
        )
        assert st == 400 and "matrix" in err["error"]
        # one vector is the single-probe plan, whose prefix arm /query
        # shares
        st, one = _call(
            srv2, "POST", "/query_batch",
            {"query_embeddings": [_unit(2)], "top_k": 3, "mrl_dim": 4},
        )
        st2, single = _call(
            srv2, "POST", "/query",
            {"query_embedding": _unit(2), "top_k": 3, "mrl_dim": 4},
        )
        assert st == st2 == 200
        assert one["results"] == [single["results"]]
    finally:
        srv2.stop()


def test_engine_search_batch_mrl_symmetry(spark, tmp_path):
    """search_batch(use_index=True, mrl_dim=full) equals the plain
    indexed batch; the dial on the brute batch path raises instead of
    silently answering full-width."""
    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine

    dim = 8

    def mkdocs(tag, n=10):
        vecs = [[float(i == j % dim) + 0.01 * j for i in range(dim)]
                for j in range(n)]
        return spark.createDataFrame(
            [(f"{tag}/f{j}.txt", ".txt", 0, 1, f"{tag} doc {j}", v, 0.0)
             for j, v in enumerate(vecs)],
            "path string, extension string, chunk_index int, "
            "total_chunks int, content string, embedding array<float>, "
            "timestamp double",
        )

    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(dim),
        dim=dim,
    )
    eng.store.append(mkdocs("base"))
    eng.build_index(num_clusters=2)
    texts = ["base doc 1", "base doc 7"]
    plain = eng.search_batch(texts, top_k=3, use_index=True).collect()
    via = eng.search_batch(
        texts, top_k=3, use_index=True, mrl_dim=dim,
    ).collect()
    assert sorted(map(tuple, plain)) == sorted(map(tuple, via))
    with pytest.raises(ValueError, match="use_index"):
        eng.search_batch(texts, top_k=3, mrl_dim=4)


@pytest.mark.slow  # 20.4s
def test_engine_diverse_and_hybrid_mrl_symmetry(spark, tmp_path):
    """Every indexed door turns the dial: diverse/hybrid (single and
    batch) at mrl_dim=full reproduce their plain indexed results; the
    dial without use_index raises on all four."""
    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine

    dim = 8

    def mkdocs(tag, n=10):
        vecs = [[float(i == j % dim) + 0.01 * j for i in range(dim)]
                for j in range(n)]
        return spark.createDataFrame(
            [(f"{tag}/f{j}.txt", ".txt", 0, 1, f"{tag} doc {j}", v, 0.0)
             for j, v in enumerate(vecs)],
            "path string, extension string, chunk_index int, "
            "total_chunks int, content string, embedding array<float>, "
            "timestamp double",
        )

    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(dim),
        dim=dim,
    )
    eng.store.append(mkdocs("base"))
    eng.build_index(num_clusters=2)
    eng.build_lex_index()

    q = "base doc 3"
    plain_d = eng.search_diverse(q, top_k=3, use_index=True).collect()
    via_d = eng.search_diverse(
        q, top_k=3, use_index=True, mrl_dim=dim
    ).collect()
    assert sorted(map(tuple, plain_d)) == sorted(map(tuple, via_d))

    plain_db = eng.search_diverse_batch(
        [q], top_k=3, use_index=True
    ).collect()
    via_db = eng.search_diverse_batch(
        [q], top_k=3, use_index=True, mrl_dim=dim
    ).collect()
    assert sorted(map(tuple, plain_db)) == sorted(map(tuple, via_db))

    plain_h = eng.search_hybrid(q, top_k=3, use_index=True).collect()
    via_h = eng.search_hybrid(
        q, top_k=3, use_index=True, mrl_dim=dim
    ).collect()
    assert sorted(map(tuple, plain_h)) == sorted(map(tuple, via_h))

    plain_hb = eng.search_hybrid_batch(
        [q], top_k=3, use_index=True
    ).collect()
    via_hb = eng.search_hybrid_batch(
        [q], top_k=3, use_index=True, mrl_dim=dim
    ).collect()
    assert sorted(map(tuple, plain_hb)) == sorted(map(tuple, via_hb))

    for fn in (
        lambda: eng.search_diverse(q, top_k=3, mrl_dim=4),
        lambda: eng.search_diverse_batch([q], top_k=3, mrl_dim=4),
        lambda: eng.search_hybrid(q, top_k=3, mrl_dim=4),
        lambda: eng.search_hybrid_batch([q], top_k=3, mrl_dim=4),
    ):
        with pytest.raises(ValueError, match="use_index"):
            fn()
