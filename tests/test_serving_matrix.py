"""The driver-matrix serving tier must be semantically indistinguishable
from the distributed knn_topk path — same rows, same order, same scores
(to float tolerance), same reference Q1/Q3/Q4/Q5 behaviors — and the
server must pick the right tier and notice out-of-band store writes."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from converttovectordb_spark.functions.vector import (
    NORM_COL,
    with_query_norms,
)
from converttovectordb_spark.operators.search import knn_topk
from converttovectordb_spark.operators.serving import DriverMatrixIndex

SF_DIR = "/root/testdata/sf0.001"


def _corpus(spark):
    return (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("vec_id", "embedding")
        .filter(F.col("embedding").isNotNull())
    )


def test_matrix_matches_knn_topk(spark):
    df = _corpus(spark)
    probe = [float(x) for x in df.select("embedding").first()[0]]
    idx = DriverMatrixIndex.from_dataframe(df)
    got = idx.query(probe, 7, score_threshold=-2.0, id_cols=["vec_id"])
    want = knn_topk(
        df,
        probe,
        7,
        id_cols=["vec_id"],
        expected_dim=len(probe),
        score_threshold=-2.0,
    ).collect()
    assert [r["vec_id"] for r in got] == [r["vec_id"] for r in want]
    for g, w in zip(got, want):
        assert g["score"] == pytest.approx(w["score"], abs=1e-12)


def test_matrix_tie_break_and_threshold_after_limit(spark):
    rows = [
        ("b", 1, [1.0, 0.0]),
        ("a", 2, [1.0, 0.0]),  # exact tie with b/1 → 'a' wins on id
        ("a", 1, [1.0, 0.0]),
        ("c", 1, [0.0, 1.0]),  # orthogonal: score 0 < threshold
        ("d", 1, [0.0, 0.0]),  # zero norm → score 0.0 (Q1)
    ]
    df = spark.createDataFrame(rows, "path string, chunk_index int, embedding array<double>")
    idx = DriverMatrixIndex.from_dataframe(df)
    # top_k=4 admits one sub-threshold row; threshold drops it AFTER
    # the limit (Q4), so only the 3 tied rows come back — id-ordered.
    got = idx.query([1.0, 0.0], 4, id_cols=["path", "chunk_index"])
    assert [(r["path"], r["chunk_index"]) for r in got] == [
        ("a", 1),
        ("a", 2),
        ("b", 1),
    ]
    want = knn_topk(
        df, [1.0, 0.0], 4, id_cols=["path", "chunk_index"], expected_dim=2
    ).collect()
    assert [(r["path"], r["chunk_index"]) for r in got] == [
        (r["path"], r["chunk_index"]) for r in want
    ]


def test_matrix_zero_query_and_dim_guard(spark):
    df = spark.createDataFrame(
        [("a", [1.0, 2.0])], "path string, embedding array<double>"
    )
    idx = DriverMatrixIndex.from_dataframe(df)
    assert idx.query([0.0, 0.0], 3, id_cols=["path"]) == []  # all 0 < 0.1
    with pytest.raises(ValueError, match="query dimension 3 != stored dimension 2"):
        idx.query([1.0, 0.0, 0.0], 3)
    with pytest.raises(ValueError, match="non-finite"):
        idx.query([math.nan, 0.0], 3)


def test_budget_fallback_returns_none(spark):
    df = _corpus(spark)
    assert DriverMatrixIndex.from_dataframe(df, max_cells=10) is None


def test_payload_budget_fallback(spark):
    """VERDICT r9 #1: the admission gate must count PAYLOAD bytes, not
    just embedding cells — a small-N corpus with huge content strings
    passes the cell budget yet would OOM the driver at materialize
    time, so it must fall back to the distributed tier (None)."""
    big = "x" * 50_000
    df = spark.createDataFrame(
        [(f"p{i}", big, [float(i), 1.0]) for i in range(100)],
        "path string, content string, embedding array<double>",
    )
    # 200 cells — far inside the cell budget; ~5 MB of content against
    # a 1 MB payload budget → distributed tier.
    assert (
        DriverMatrixIndex.from_dataframe(df, max_payload_bytes=1_000_000)
        is None
    )
    # Same corpus under the default budget is admitted and serves.
    idx = DriverMatrixIndex.from_dataframe(df)
    assert idx is not None and idx.n == 100
    got = idx.query([0.0, 1.0], 3, id_cols=["path"])
    assert len(got) == 3 and all(len(r["content"]) == 50_000 for r in got)


def test_server_payload_budget_serves_distributed(spark, tmp_path):
    """The REST door under a tight payload budget must serve the same
    results through the distributed (cached DataFrame) tier."""
    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine
    from converttovectordb_spark.server import VectorDBApi

    docs = spark.createDataFrame(
        [
            (f"d{i}.txt", ".txt", 0, 1, "y" * 10_000, [float(i), 1.0], 0.0)
            for i in range(20)
        ],
        "path string, extension string, chunk_index int, total_chunks int, "
        "content string, embedding array<float>, timestamp double",
    )
    store = str(tmp_path / "store")
    eng = VectorEngine(spark, store, embedder=hash_embedder(2), dim=2)
    eng.store.append(docs)

    tight = VectorDBApi(eng, matrix_max_payload_bytes=1_000)
    roomy = VectorDBApi(eng)
    body = {"query_embedding": [1.0, 1.0], "top_k": 4}
    got = tight.query(dict(body))
    want = roomy.query(dict(body))
    assert tight._matrix is None and tight._corpus is not None
    assert roomy._matrix is not None
    assert [r["path"] for r in got["results"]] == [
        r["path"] for r in want["results"]
    ]
    for g, w in zip(got["results"], want["results"]):
        assert g["score"] == pytest.approx(w["score"], abs=1e-9)


def test_empty_corpus(spark):
    df = _corpus(spark).filter(F.lit(False))
    idx = DriverMatrixIndex.from_dataframe(df)
    assert idx.n == 0 and idx.query([1.0, 0.0], 5) == []


def test_knn_topk_prenormed_scores_match_inline(spark):
    """The distributed tier's cached-norm scorer must reproduce the
    inline (cold-path) scores bit-for-bit — same fold, same casts."""
    df = _corpus(spark)
    probe = [float(x) for x in df.select("embedding").first()[0]]
    cold = knn_topk(
        df, probe, 9, id_cols=["vec_id"], expected_dim=len(probe)
    ).collect()
    warm = knn_topk(
        with_query_norms(df),
        probe,
        9,
        id_cols=["vec_id"],
        expected_dim=len(probe),
    ).collect()
    assert [r["vec_id"] for r in warm] == [r["vec_id"] for r in cold]
    assert [r["score"] for r in warm] == [r["score"] for r in cold]
    assert all(NORM_COL not in r.asDict() for r in warm)


def test_server_sees_out_of_band_store_write(spark, tmp_path):
    """ADVICE r5: a server pointed at a store that another writer (CLI
    ingest) appends to must serve the new rows on the next query, not a
    stale cache."""
    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine
    from converttovectordb_spark.server import VectorDBApi

    store = str(tmp_path / "store")

    def mkdocs(tag, n):
        return spark.createDataFrame(
            [
                (
                    f"{tag}/f{i}.py",
                    ".py",
                    0,
                    1,
                    f"{tag} doc {i}",
                    [float(i + 1), 1.0],
                    0.0,
                )
                for i in range(n)
            ],
            "path string, extension string, chunk_index int, "
            "total_chunks int, content string, embedding array<float>, "
            "timestamp double",
        )

    eng = VectorEngine(spark, store, embedder=hash_embedder(2), dim=2)
    eng.store.append(mkdocs("a", 3))
    api = VectorDBApi(eng)
    out = api.query({"query_embedding": [1.0, 0.0]})
    assert out["total_documents_searched"] == 3

    # out-of-band writer: a second engine handle, not the API
    eng2 = VectorEngine(spark, store, embedder=hash_embedder(2), dim=2)
    eng2.store.append(mkdocs("b", 2))
    out = api.query({"query_embedding": [1.0, 0.0]})
    assert out["total_documents_searched"] == 5


def test_hybrid_query_matches_engine_on_varied_corpus(spark, tmp_path):
    """BM25 tf/idf and RRF fusion in the matrix tier vs the Spark
    path, on a corpus with repeated terms, varied doc lengths, and
    cosine/lexical disagreement."""
    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine
    from converttovectordb_spark.operators.serving import DriverMatrixIndex

    texts = [
        "spark join join join shuffle",
        "vector scan cosine topk scan",
        "join scan vector",
        "the quick brown fox jumps over the lazy dog repeatedly " * 5,
        "join",
        "completely unrelated words here banana apple",
    ]
    emb = hash_embedder(8)
    vecs = emb(texts)
    docs = spark.createDataFrame(
        [
            (f"d{i}.txt", ".txt", 0, 1, t, [float(x) for x in vecs[i]], 0.0)
            for i, t in enumerate(texts)
        ],
        "path string, extension string, chunk_index int, total_chunks int, "
        "content string, embedding array<float>, timestamp double",
    )
    store = str(tmp_path / "store")
    eng = VectorEngine(spark, store, embedder=hash_embedder(8), dim=8)
    eng.store.append(docs)

    query = "join scan vector"
    qv = [float(x) for x in emb([query])[0]]
    idx = DriverMatrixIndex.from_dataframe(eng.store.load())
    got = idx.hybrid_query(
        qv, query.split(), 5, id_cols=["path", "chunk_index"]
    )
    want = eng.search_hybrid(query, 5).collect()

    got_ids = sorted((r["path"], r["chunk_index"]) for r in got)
    want_ids = sorted((r["path"], r["chunk_index"]) for r in want)
    assert got_ids == want_ids
    want_by_id = {(r["path"], r["chunk_index"]): r for r in want}
    for r in got:
        w = want_by_id[(r["path"], r["chunk_index"])]
        assert r["sem_rank"] == w["sem_rank"], r["path"]
        assert r["lex_rank"] == w["lex_rank"], r["path"]
        assert abs(r["rrf"] - w["rrf"]) < 1e-9


def test_hybrid_query_boundary_ties_rank_like_a_full_sort():
    """Both hybrid arms cut to ``candidates`` before sorting; with more
    rows tied at the cut than ``candidates``, each arm's ranks must
    still equal a (score desc, rid asc) sort of every row."""
    import numpy as np

    from converttovectordb_spark.operators.search import cosine_scores

    rng = np.random.default_rng(5)
    n, candidates = 60, 10
    q = np.zeros(8)
    q[0] = 1.0
    tied = np.full(8, 0.5)
    groups = ["top"] * 4 + ["tied"] * 36 + ["rest"] * 20
    vecs = np.array(
        [q if g == "top" else tied if g == "tied" else -rng.random(8)
         for g in groups]
    )
    texts = {"top": "alpha alpha gamma", "tied": "alpha beta gamma",
             "rest": "delta epsilon zeta"}
    # rid order differs from matrix order
    paths = [f"d{j:02d}.txt" for j in rng.permutation(n)]
    payload = [
        {"path": p, "chunk_index": 0, "content": texts[g]}
        for p, g in zip(paths, groups)
    ]
    norms = np.sqrt((vecs * vecs).sum(axis=1))
    idx = DriverMatrixIndex(vecs, norms, payload, 8)
    got = idx.hybrid_query(
        q.tolist(), ["alpha"], 2 * candidates, candidates=candidates,
        id_cols=["path", "chunk_index"],
    )

    rid = [f"{p}#0" for p in paths]
    sem = cosine_scores(vecs, norms, q[None, :])[:, 0]
    tf = [texts[g].split().count("alpha") for g in groups]
    touched = [i for i in range(n) if tf[i]]
    want_sem = sorted(range(n), key=lambda i: (-sem[i], rid[i]))
    want_lex = sorted(touched, key=lambda i: (-tf[i], rid[i]))
    want = {
        paths[i]: (r + 1, None) for r, i in enumerate(want_sem[:candidates])
    }
    for r, i in enumerate(want_lex[:candidates]):
        want[paths[i]] = (want.get(paths[i], (None,))[0], r + 1)
    assert {r["path"]: (r["sem_rank"], r["lex_rank"]) for r in got} == want


def test_serving_scan_partitions_bounds():
    from converttovectordb_spark.operators.serving import (
        SERVING_SCAN_TARGET_ROWS,
        serving_scan_partitions,
    )

    assert serving_scan_partitions(0, 32) == 1  # empty corpus: 1 task
    assert serving_scan_partitions(100, 32) == 1  # sub-target: 1 task
    assert (
        serving_scan_partitions(13_515, 32)
        == round(13_515 / SERVING_SCAN_TARGET_ROWS)
    )
    # boundary of the small regime: exactly cpus x target still sizes
    assert (
        serving_scan_partitions(32 * SERVING_SCAN_TARGET_ROWS, 32) == 32
    )
    # past it: keep the source (file-based) partitioning — collapsing a
    # big corpus into <=cpus cached partitions builds giant blocks
    assert serving_scan_partitions(10_000_000, 32) is None
    assert serving_scan_partitions(10_000_000, 8) is None


def test_point_query_mode_restores_aqe(spark):
    from converttovectordb_spark.operators.serving import point_query_mode

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    with point_query_mode(spark):
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        # queries still run (and the plan is non-adaptive) inside
        assert spark.range(10).count() == 10
    assert spark.conf.get("spark.sql.adaptive.enabled") == prev
    # restores even when the body raises
    try:
        with point_query_mode(spark):
            raise RuntimeError("boom")
    except RuntimeError:
        pass
    assert spark.conf.get("spark.sql.adaptive.enabled") == prev


def test_point_query_mode_concurrent_interleave(spark):
    """Interleaved entries (the threaded REST server) must restore the
    OUTSIDE value, not whatever a mid-flight entrant observed: a naive
    per-entry save/restore would leave AQE off session-wide after the
    A-enter/B-enter/A-exit/B-exit ordering."""
    from converttovectordb_spark.operators.serving import point_query_mode

    prev = spark.conf.get("spark.sql.adaptive.enabled")
    a = point_query_mode(spark)
    b = point_query_mode(spark)
    a_active = b_active = False
    try:
        a.__enter__()
        a_active = True
        b.__enter__()  # nested entrant sees AQE already off
        b_active = True
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        a.__exit__(None, None, None)
        a_active = False
        # B still active: stays off
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        b.__exit__(None, None, None)
        b_active = False
    finally:
        # an assertion failure must not leak depth into later tests
        if a_active:
            a.__exit__(None, None, None)
        if b_active:
            b.__exit__(None, None, None)
    assert spark.conf.get("spark.sql.adaptive.enabled") == prev


def test_point_query_mode_sessions_are_isolated(spark):
    """Depth/saved-value state is PER SESSION: an exit on session A
    must restore A (and only A) even while session B is mid-flight —
    a process-global counter would skip A's restore and then clobber
    B's conf with A's saved value."""
    from converttovectordb_spark.operators.serving import point_query_mode

    s2 = spark.newSession()
    prev1 = spark.conf.get("spark.sql.adaptive.enabled")
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    a = point_query_mode(spark)
    b = point_query_mode(s2)
    a_active = b_active = False
    try:
        a.__enter__()
        a_active = True
        b.__enter__()
        b_active = True
        assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert s2.conf.get("spark.sql.adaptive.enabled") == "false"
        a.__exit__(None, None, None)
        a_active = False
        # A restored immediately; B untouched and still off
        assert spark.conf.get("spark.sql.adaptive.enabled") == prev1
        assert s2.conf.get("spark.sql.adaptive.enabled") == "false"
        b.__exit__(None, None, None)
        b_active = False
        assert s2.conf.get("spark.sql.adaptive.enabled") == "true"
    finally:
        if a_active:
            a.__exit__(None, None, None)
        if b_active:
            b.__exit__(None, None, None)


def _neardup_corpus_rows(emb):
    """Six docs in two tight embedding clusters plus a stray — MMR must
    actually reorder (a pure-relevance top-k would return one cluster's
    near-duplicates back to back). Tests must query with a vector that
    is NOT a stored doc's: if q == d0 exactly, every λ=0.5 key is
    0.5·(rel−sim) ≡ 0 in exact math and the tier comparison degrades
    to float-noise coin flips."""
    base_a = emb(["alpha cluster seed"])[0]
    base_b = emb(["beta cluster seed"])[0]

    def _nudge(v, eps, j):
        out = [float(x) for x in v]
        out[j % len(out)] += eps
        return out

    vecs = [
        _nudge(base_a, 0.0, 0),
        _nudge(base_a, 0.01, 1),
        _nudge(base_a, 0.02, 2),
        _nudge(base_b, 0.0, 3),
        _nudge(base_b, 0.015, 4),
        emb(["stray unrelated document"])[0],
    ]
    return [
        (
            f"d{i}.txt", ".txt", 0, 1,
            f"content of document {i}",
            [float(x) for x in vecs[i]],
            float(1000 + i),
        )
        for i in range(6)
    ]


def test_diverse_query_matches_engine(spark, tmp_path):
    """Matrix-tier /diverse vs the engine's Spark door on a corpus
    where MMR genuinely reorders: same picks, same order, same
    newest-copy display rows; scores/mmr within the tier's 1e-9
    contract (BLAS vs JVM-fold relevance; the greedy kernel itself is
    shared, `operators.search.mmr_greedy`)."""
    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine

    emb = hash_embedder(8)
    rows = _neardup_corpus_rows(emb)
    schema = (
        "path string, extension string, chunk_index int, total_chunks int, "
        "content string, embedding array<float>, timestamp double"
    )
    docs = spark.createDataFrame(rows, schema)
    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=emb, dim=8
    )
    eng.store.append(docs)
    # blind re-ingest: duplicate copies of d1 with a NEWER timestamp —
    # both tiers must dedupe to the newest copy after selection
    dup = [r[:6] + (2000.0,) for r in rows if r[0] == "d1.txt"]
    eng.store.append(spark.createDataFrame(dup, schema))

    query = "alpha cluster probe"
    qv = [float(x) for x in emb([query])[0]]
    idx = DriverMatrixIndex.from_dataframe(eng.store.load())
    for lam in (0.3, 0.5, 0.9):
        got = idx.diverse_query(
            qv, 4, fetch_k=10, lambda_=lam,
            id_cols=["path", "chunk_index"],
        )
        want = eng.search_diverse(
            query, 4, fetch_k=10, mmr_lambda=lam
        ).collect()
        assert [r["path"] for r in got] == [r["path"] for r in want]
        assert [r["mmr_rank"] for r in got] == [
            r["mmr_rank"] for r in want
        ]
        for g, w in zip(got, want):
            assert abs(g["score"] - w["score"]) < 1e-9
            assert abs(g["mmr"] - w["mmr"]) < 1e-9
            assert g["content"] == w["content"]
            assert g["timestamp"] == w["timestamp"]
            if g["path"] == "d1.txt":  # the duplicated rid
                assert g["timestamp"] == 2000.0


def test_diverse_query_contracts(spark, tmp_path):
    """Matrix-tier diverse door edge contracts: lambda range raises
    the engine's ValueError, empty corpus returns [], the relevance
    threshold applies AFTER selection (an irrelevant pick is dropped,
    not replaced), and results never carry embeddings."""
    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine

    emb = hash_embedder(8)
    eng = VectorEngine(spark, str(tmp_path / "s2"), embedder=emb, dim=8)
    rows = _neardup_corpus_rows(emb)
    eng.store.append(spark.createDataFrame(
        rows,
        "path string, extension string, chunk_index int, total_chunks int, "
        "content string, embedding array<float>, timestamp double",
    ))
    idx = DriverMatrixIndex.from_dataframe(eng.store.load())
    qv = [float(x) for x in emb(["alpha cluster probe"])[0]]

    with pytest.raises(ValueError, match="lambda"):
        idx.diverse_query(qv, 3, lambda_=1.5, id_cols=["path"])

    empty = DriverMatrixIndex.from_dataframe(
        eng.store.load().limit(0)
    )
    assert empty.diverse_query(qv, 3, id_cols=["path"]) == []

    got = idx.diverse_query(
        qv, 6, fetch_k=10, lambda_=0.5,
        id_cols=["path", "chunk_index"],
    )
    want = eng.search_diverse(
        "alpha cluster probe", 6, fetch_k=10, mmr_lambda=0.5
    ).collect()
    # threshold-after-selection: both doors drop the same
    # below-threshold picks instead of backfilling
    assert len(got) == len(want)
    assert all(r["score"] >= 0.1 for r in got)
    assert all("embedding" not in r for r in got)


def test_diverse_query_nonfinite_guard_and_batch_parity(spark, tmp_path):
    """diverse_query rejects NaN/Inf queries with the same ValueError
    as query()/query_batch (NaN scores would corrupt every greedy
    comparison AND slip past the threshold); diverse_query_batch (one
    GEMM) returns exactly the single door's answer per query."""
    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine

    emb = hash_embedder(8)
    rows = _neardup_corpus_rows(emb)
    eng = VectorEngine(spark, str(tmp_path / "s3"), embedder=emb, dim=8)
    eng.store.append(spark.createDataFrame(
        rows,
        "path string, extension string, chunk_index int, total_chunks int, "
        "content string, embedding array<float>, timestamp double",
    ))
    idx = DriverMatrixIndex.from_dataframe(eng.store.load())
    qv = [float(x) for x in emb(["alpha cluster probe"])[0]]

    bad = list(qv)
    bad[0] = float("nan")
    with pytest.raises(ValueError, match="non-finite"):
        idx.diverse_query(bad, 3, id_cols=["path", "chunk_index"])
    with pytest.raises(ValueError, match="non-finite"):
        idx.diverse_query_batch([qv, bad], 3,
                                id_cols=["path", "chunk_index"])

    qv2 = [float(x) for x in emb(["beta cluster probe"])[0]]
    batch = idx.diverse_query_batch(
        [qv, qv2], 4, fetch_k=10, lambda_=0.4,
        id_cols=["path", "chunk_index"],
    )
    for j, q in enumerate([qv, qv2]):
        single = idx.diverse_query(
            q, 4, fetch_k=10, lambda_=0.4,
            id_cols=["path", "chunk_index"],
        )
        assert [r["path"] for r in batch[j]] == [
            r["path"] for r in single
        ]
        for g, w in zip(batch[j], single):
            assert abs(g["mmr"] - w["mmr"]) < 1e-12


def test_diverse_modified_reingest_tier_parity(spark, tmp_path):
    """A re-ingest that MODIFIED a document (same (path, chunk_index),
    different embedding+content+timestamp): both tiers must pick the
    BEST-SCORE copy for relevance/MMR and the NEWEST-timestamp copy
    for display — deterministically, run to run (the engine door used
    to keep whichever copy landed last in the Arrow group)."""
    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine

    emb = hash_embedder(8)
    rows = _neardup_corpus_rows(emb)
    schema = (
        "path string, extension string, chunk_index int, total_chunks int, "
        "content string, embedding array<float>, timestamp double"
    )
    eng = VectorEngine(spark, str(tmp_path / "s4"), embedder=emb, dim=8)
    eng.store.append(spark.createDataFrame(rows, schema))
    # modified copy of d0: embedding far from the probe (low score),
    # newer timestamp, new content — display must show THIS text while
    # scoring keeps the original (higher-score) vector
    mod = [(
        "d0.txt", ".txt", 0, 1, "MODIFIED content of document 0",
        [float(x) for x in emb(["totally different now"])[0]], 5000.0,
    )]
    eng.store.append(spark.createDataFrame(mod, schema))

    query = "alpha cluster probe"
    qv = [float(x) for x in emb([query])[0]]
    idx = DriverMatrixIndex.from_dataframe(eng.store.load())
    got = idx.diverse_query(
        qv, 4, fetch_k=20, lambda_=0.5, id_cols=["path", "chunk_index"]
    )
    want = eng.search_diverse(query, 4, fetch_k=20, mmr_lambda=0.5).collect()
    assert [r["path"] for r in got] == [r["path"] for r in want]
    for g, w in zip(got, want):
        assert abs(g["score"] - w["score"]) < 1e-9
        assert abs(g["mmr"] - w["mmr"]) < 1e-9
        assert g["content"] == w["content"]
        if g["path"] == "d0.txt":
            # newest copy displayed, best-score copy ranked
            assert g["content"] == "MODIFIED content of document 0"
            assert g["timestamp"] == 5000.0


def test_connected_components_empty_edges(spark):
    """Zero near-dup pairs must yield a typed EMPTY labeling — not a
    createDataFrame([]) schema-inference crash — on BOTH strategies."""
    from converttovectordb_spark.operators.dedup import (
        connected_components,
    )

    edges = spark.createDataFrame([], "a bigint, b bigint")
    for thr in (500_000, 0):
        stats: dict = {}
        out = connected_components(
            edges, src="a", dst="b", driver_threshold=thr, stats=stats
        )
        assert out.columns == ["node", "comp"]
        assert out.count() == 0
        assert stats["strategy"] == "empty" and stats["n_edges"] == 0

