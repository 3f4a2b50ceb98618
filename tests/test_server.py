"""REST facade tests — endpoint parity with the reference's Flask API
(reference mock_vector_db_api.py: /add_documents :150, /query :230,
/stats :314, /clear :381, /health :431) over an in-process
ThreadingHTTPServer on an ephemeral port."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from converttovectordb_spark.embeddings import hash_embedder
from converttovectordb_spark.engine import VectorEngine
from converttovectordb_spark.server import VectorDBServer

DIM = 8


def _unit(i: int) -> list[float]:
    v = [0.0] * DIM
    v[i % DIM] = 1.0
    return v


@pytest.fixture()
def server(spark, tmp_path):
    eng = VectorEngine(
        spark,
        str(tmp_path / "store"),
        embedder=hash_embedder(DIM),
        dim=DIM,
    )
    srv = VectorDBServer(eng, port=0).start()
    yield srv
    srv.stop()


def _call(srv, method, path, body=None, *, content_type="application/json"):
    host, port = srv.address
    req = urllib.request.Request(
        f"http://{host}:{port}{path}", method=method
    )
    data = None
    if body is not None:
        data = json.dumps(body).encode()
        req.add_header("Content-Type", content_type)
    try:
        with urllib.request.urlopen(req, data=data, timeout=120) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _seed(srv, n=6):
    docs = [
        {
            "path": f"src/f{i}.py",
            "content": f"document number {i}",
            "embedding": _unit(i),
            "chunk_index": 0,
            "total_chunks": 1,
        }
        for i in range(n)
    ]
    return _call(srv, "POST", "/add_documents", {"documents": docs})


def test_add_documents_validates_and_counts(server):
    status, out = _call(
        server,
        "POST",
        "/add_documents",
        {
            "documents": [
                {"path": "a.py", "content": "alpha", "embedding": _unit(0)},
                {"content": "no embedding"},  # invalid: missing embedding
                "not a dict",  # invalid: not a dict
            ]
        },
    )
    assert status == 200
    assert out["success"] is True
    assert out["total_documents"] == 1
    assert out["skipped_invalid"] == 2

    status, out = _call(server, "POST", "/add_documents", {"documents": []})
    assert status == 400 and "No documents" in out["error"]

    status, out = _call(
        server, "POST", "/add_documents", {"documents": [{"content": "x"}]}
    )
    assert status == 400 and "No valid documents" in out["error"]


def test_add_documents_dim_mismatch_diagnosable(server):
    # an all-wrong-dimension batch 400s with the expected dim in the message
    status, out = _call(
        server,
        "POST",
        "/add_documents",
        {"documents": [{"path": "a.py", "content": "a", "embedding": [1.0, 2.0]}]},
    )
    assert status == 400 and f"expected {DIM}" in out["error"]

    # a mixed batch succeeds and reports dim-mismatch skips separately
    status, out = _call(
        server,
        "POST",
        "/add_documents",
        {
            "documents": [
                {"path": "a.py", "content": "a", "embedding": _unit(0)},
                {"path": "b.py", "content": "b", "embedding": [1.0, 2.0]},
            ]
        },
    )
    assert status == 200
    assert out["skipped_invalid"] == 1
    assert out["skipped_dim_mismatch"] == 1


def test_add_documents_extension_fallback_matches_splitext(server):
    # fallback follows os.path.splitext: "x.py" → ".py", dotfiles and
    # extension-less names → the null/'unknown' bucket
    docs = [
        {"path": "src/x.py", "content": "a", "embedding": _unit(0)},
        {"path": "src/.gitignore", "content": "b", "embedding": _unit(1)},
        {"path": "Makefile", "content": "c", "embedding": _unit(2)},
    ]
    status, _ = _call(server, "POST", "/add_documents", {"documents": docs})
    assert status == 200
    _, stats = _call(server, "GET", "/stats")
    assert stats["documents_by_extension"] == {".py": 1, "unknown": 2}


def test_query_roundtrip_and_envelope(server):
    _seed(server)
    status, out = _call(
        server, "POST", "/query", {"query_embedding": _unit(2), "top_k": 3}
    )
    assert status == 200
    assert out["total_documents_searched"] == 6
    assert out["results"], "expected at least the exact match"
    top = out["results"][0]
    assert top["content"] == "document number 2"
    assert top["score"] == pytest.approx(1.0)
    assert "embedding" not in top  # T5: embeddings never leave the engine
    # threshold 0.1 AFTER limit (Q4): orthogonal unit vectors score 0,
    # so only the exact match survives even though top_k=3
    assert len(out["results"]) == 1


def test_search_embedder_width_mismatch_is_400_on_both_tiers(
    spark, tmp_path
):
    """A /search whose embedder yields vectors of another width than
    the engine's ``dim`` is a client-visible 400 on the matrix tier and
    on the distributed tier alike, not a 500 from the scan."""
    for name, cells in (("matrix", None), ("df", 0)):
        eng = VectorEngine(
            spark, str(tmp_path / name), embedder=hash_embedder(DIM), dim=DIM
        )
        srv = VectorDBServer(eng, port=0, matrix_max_cells=cells).start()
        try:
            _seed(srv)
            eng.embedder = hash_embedder(DIM + 1)
            status, out = _call(
                srv, "POST", "/search", {"query": "document", "top_k": 3}
            )
            assert status == 400 and "dimension mismatch" in out["error"]
        finally:
            srv.stop()


def test_query_error_semantics(server):
    # empty store → 200 with empty results (reference :259-260)
    status, out = _call(server, "POST", "/query", {"query_embedding": _unit(0)})
    assert status == 200 and out["results"] == []

    _seed(server)
    status, out = _call(server, "POST", "/query", {})
    assert status == 400 and "No query embedding" in out["error"]

    status, out = _call(
        server, "POST", "/query", {"query_embedding": [1.0, 2.0]}
    )
    assert status == 400 and "dimension mismatch" in out["error"]

    # invalid top_k falls back to default, not an error (reference :254)
    status, out = _call(
        server, "POST", "/query", {"query_embedding": _unit(1), "top_k": -3}
    )
    assert status == 200 and len(out["results"]) == 1

    # non-JSON body → 400 (reference :164-166)
    status, out = _call(
        server, "POST", "/query", {"query_embedding": _unit(1)},
        content_type="text/plain",
    )
    assert status == 400 and out["error"] == "Request must be JSON"


def test_add_documents_content_only_rows_get_positional_identity(server):
    """ADVICE r9: content-only rows (no path, no chunk_index) must not
    collapse onto the ("", 0) identity and shadow each other — each
    gets its batch position as chunk_index, like the CLI push door."""
    docs = [
        {"content": f"standalone snippet {i}", "embedding": _unit(0)}
        for i in range(4)
    ]
    status, out = _call(server, "POST", "/add_documents", {"documents": docs})
    assert status == 200 and out["total_documents"] == 4
    status, out = _call(
        server, "POST", "/query",
        {"query_embedding": _unit(0), "top_k": 10},
    )
    assert status == 200
    # all four rows are live and distinguishable
    assert out["total_documents_searched"] == 4
    idx = {(r["path"], r["chunk_index"]) for r in out["results"]}
    assert idx == {("", 0), ("", 1), ("", 2), ("", 3)}
    # explicit chunk_index / path rows keep their own identity
    docs2 = [
        {"content": "explicit", "embedding": _unit(5), "chunk_index": 9},
        {"content": "pathed", "embedding": _unit(6), "path": "x.py"},
    ]
    status, out = _call(
        server, "POST", "/add_documents", {"documents": docs2}
    )
    assert status == 200 and out["total_documents"] == 6


def test_query_batch_matches_single_queries_both_tiers(spark, tmp_path):
    """/query_batch answers Q vectors per POST; results[i] must equal
    the single /query answer for query i — on the matrix tier (one
    GEMM) AND the distributed tier (one broadcast join job)."""
    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(DIM), dim=DIM
    )
    srv = VectorDBServer(eng, port=0).start()
    # tight payload budget → second server serves the df tier
    srv_df = VectorDBServer(
        eng, port=0, matrix_max_payload_bytes=1
    ).start()
    try:
        _seed(srv, n=6)
        probes = [_unit(0), _unit(3), [0.5] * DIM]
        for s in (srv, srv_df):
            status, out = _call(
                s, "POST", "/query_batch",
                {"query_embeddings": probes, "top_k": 3},
            )
            assert status == 200
            assert len(out["results"]) == 3
            assert out["total_documents_searched"] == 6
            for i, probe in enumerate(probes):
                st1, single = _call(
                    s, "POST", "/query",
                    {"query_embedding": probe, "top_k": 3},
                )
                assert st1 == 200
                got = [
                    (r["path"], r["chunk_index"], round(r["score"], 9))
                    for r in out["results"][i]
                ]
                want = [
                    (r["path"], r["chunk_index"], round(r["score"], 9))
                    for r in single["results"]
                ]
                assert got == want, f"batch[{i}] != single (tier {s})"
        # tier sanity: the two servers really sat on different tiers
        assert srv.api._matrix is not None
        assert srv_df.api._matrix is None and srv_df.api._corpus is not None
    finally:
        srv.stop()
        srv_df.stop()


def test_search_batch_matches_single_search(server):
    """/search_batch embeds Q texts in one embedder call and rides the
    /query_batch path; each result list must equal the single /search
    answer for that text."""
    _seed(server, n=6)
    texts = ["document number 2", "document number 5", "nothing alike"]
    status, out = _call(
        server, "POST", "/search_batch", {"queries": texts, "top_k": 3}
    )
    assert status == 200 and len(out["results"]) == 3
    for i, q in enumerate(texts):
        st, single = _call(
            server, "POST", "/search", {"query": q, "top_k": 3}
        )
        assert st == 200
        got = [
            (r["path"], round(r["score"], 9)) for r in out["results"][i]
        ]
        want = [
            (r["path"], round(r["score"], 9)) for r in single["results"]
        ]
        assert got == want, f"batch[{i}] != single"
    # validation: empty / non-string entries are a 400
    for bad in ({}, {"queries": []}, {"queries": ["ok", 7]}):
        status, out = _call(server, "POST", "/search_batch", bad)
        assert status == 400


def test_query_batch_duplicate_identities_stay_paired(spark, tmp_path):
    """Code-review r10: a blind re-push leaves duplicate (path,
    chunk_index) rows in a plain store; the batch door must return one
    row PER COPY with its OWN content (as /query does), never a join
    fan-out pairing one copy's score with another's content."""
    from converttovectordb_spark.engine import VectorEngine
    from converttovectordb_spark.server import VectorDBApi

    def batch(content, vec):
        return spark.createDataFrame(
            [("a.py", ".py", 0, 1, content, vec, 0.0)],
            "path string, extension string, chunk_index int, "
            "total_chunks int, content string, embedding array<float>, "
            "timestamp double",
        )

    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(DIM), dim=DIM
    )
    # both copies must clear the 0.1 threshold for BOTH probes, or the
    # post-limit filter (Q4) hides the fan-out this test exists to
    # catch: old = e0, new = 0.6*e0 + 0.8*e1
    old_v, new_v = _unit(0), [0.6, 0.8] + [0.0] * (DIM - 2)
    eng.store.append(batch("old copy", old_v))
    eng.store.append(batch("new copy", new_v))  # blind re-push

    # force the distributed tier — the join-back fan-out lived there
    api = VectorDBApi(eng, matrix_max_payload_bytes=1)
    out = api.query_batch(
        {"query_embeddings": [old_v, new_v], "top_k": 5}
    )
    single0 = api.query({"query_embedding": old_v, "top_k": 5})
    assert api._matrix is None  # really on the df tier
    for i, res in enumerate(out["results"]):
        assert len(res) == 2, res  # one row per copy, never 4
        pairing = {r["content"]: round(r["score"], 6) for r in res}
        # each copy scored against ITS OWN embedding: the probed copy
        # scores 1.0, the other cos(e0, 0.6e0+0.8e1) = 0.6
        own = "old copy" if i == 0 else "new copy"
        other = "new copy" if i == 0 else "old copy"
        assert pairing[own] == 1.0, pairing
        assert pairing[other] == 0.6, pairing
    got0 = sorted(
        (r["content"], round(r["score"], 6)) for r in out["results"][0]
    )
    want0 = sorted(
        (r["content"], round(r["score"], 6)) for r in single0["results"]
    )
    assert got0 == want0  # batch == single on the same corpus


def test_query_batch_time_travel(spark, tmp_path):
    """/query_batch honors the same 'version' key as /query (snapshot
    read, cache bypassed) instead of silently serving CURRENT."""
    from converttovectordb_spark.engine import VectorEngine
    from converttovectordb_spark.server import VectorDBApi

    eng = VectorEngine(
        spark,
        str(tmp_path / "store"),
        embedder=hash_embedder(DIM),
        dim=DIM,
        transactional=True,
    )
    mk = lambda p, v: spark.createDataFrame(  # noqa: E731
        [(p, ".py", 0, 1, f"doc {p}", v, 0.0)],
        "path string, extension string, chunk_index int, total_chunks int, "
        "content string, embedding array<float>, timestamp double",
    )
    eng.store.append(mk("a.py", _unit(0)))  # version 0
    eng.store.append(mk("b.py", _unit(0)))  # version 1
    api = VectorDBApi(eng)
    body = {"query_embeddings": [_unit(0)], "top_k": 5}
    now = api.query_batch(dict(body))
    assert {r["path"] for r in now["results"][0]} == {"a.py", "b.py"}
    past = api.query_batch({**body, "version": 0})
    assert {r["path"] for r in past["results"][0]} == {"a.py"}
    assert past["total_documents_searched"] == 1
    from converttovectordb_spark.server import _ApiError

    with pytest.raises(_ApiError, match="version"):
        api.query_batch({**body, "version": "zero"})


def test_query_batch_error_semantics(server):
    _seed(server, n=3)
    # empty batch
    status, out = _call(server, "POST", "/query_batch", {})
    assert status == 400 and "No query embeddings" in out["error"]
    # one bad vector poisons nothing silently — indexed 400
    status, out = _call(
        server, "POST", "/query_batch",
        {"query_embeddings": [_unit(0), [1.0] * (DIM + 1)]},
    )
    assert status == 400 and "index 1" in out["error"]
    status, out = _call(
        server, "POST", "/query_batch",
        {"query_embeddings": [_unit(0), ["x"] * DIM]},
    )
    assert status == 400 and "index 1" in out["error"]
    # empty store: one empty result list per query, 200
    status, out = _call(server, "POST", "/clear", None)
    assert status == 200
    status, out = _call(
        server, "POST", "/query_batch",
        {"query_embeddings": [_unit(0), _unit(1)]},
    )
    assert status == 200 and out["results"] == [[], []]


def test_stats_health_clear_lifecycle(server):
    status, health = _call(server, "GET", "/health")
    assert status == 200 and health["status"] == "healthy"
    assert health["documents_count"] == 0

    _seed(server)
    status, stats = _call(server, "GET", "/stats")
    assert status == 200
    assert stats["total_documents"] == 6
    assert stats["unique_files"] == 6
    assert stats["documents_by_extension"] == {".py": 6}

    status, out = _call(server, "POST", "/clear")
    assert status == 200 and out["success"] is True
    assert "removed 6 documents" in out["message"]

    status, out = _call(server, "POST", "/query", {"query_embedding": _unit(0)})
    assert status == 200 and out["results"] == []


def test_query_corpus_cache_invalidation(server, monkeypatch):
    def _add(tag, n):
        docs = [
            {
                "path": f"{tag}/f{i}.py",
                "content": f"{tag} doc {i}",
                "embedding": _unit(i),
            }
            for i in range(n)
        ]
        return _call(server, "POST", "/add_documents", {"documents": docs})

    _add("a", 3)
    status, out = _call(
        server, "POST", "/query", {"query_embedding": _unit(0)}
    )
    assert status == 200 and out["total_documents_searched"] == 3
    # warm path: a tiny corpus lands in the driver-matrix tier after
    # the first query (the distributed tier would set _corpus instead)
    assert server.api._matrix is not None

    # a write extends the warm matrix in place of a refill: a NEW
    # index object (readers of the old one keep their snapshot) that
    # already holds the written rows, built without a store re-read;
    # the next query sees all of them
    from converttovectordb_spark.operators.serving import DriverMatrixIndex

    before = server.api._matrix
    fills = []
    orig = DriverMatrixIndex.from_dataframe.__func__

    def counting(cls, *a, **kw):
        fills.append(1)
        return orig(cls, *a, **kw)

    monkeypatch.setattr(
        DriverMatrixIndex, "from_dataframe", classmethod(counting)
    )
    status, out = _add("b", 4)
    assert status == 200 and out["total_documents"] == 7
    after = server.api._matrix
    assert after is not None and after is not before
    assert after.n == 7 and before.n == 3
    status, out = _call(
        server, "POST", "/query", {"query_embedding": _unit(0)}
    )
    assert status == 200 and out["total_documents_searched"] == 7
    assert fills == []

    _call(server, "POST", "/clear")
    assert server.api._matrix is None and server.api._corpus is None
    status, out = _call(
        server, "POST", "/query", {"query_embedding": _unit(0)}
    )
    assert status == 200 and out["results"] == []


def test_engine_native_verbs(server):
    _seed(server)
    # /search and /hybrid go through the text embedder seam
    status, out = _call(
        server, "POST", "/search", {"query": "document number", "top_k": 2}
    )
    assert status == 200 and isinstance(out["results"], list)

    status, out = _call(
        server, "POST", "/hybrid", {"query": "document number 3", "top_k": 2}
    )
    assert status == 200
    if out["results"]:
        assert "rrf" in out["results"][0]

    status, out = _call(server, "POST", "/answer", {"query": "document"})
    assert status == 200 and "generation" in out

    status, out = _call(server, "POST", "/search", {})
    assert status == 400

    status, out = _call(server, "GET", "/nope")
    assert status == 404


def test_store_token_sees_nested_inplace_rewrite(server):
    """The plain store is partitioned (extension=… subdirs); an
    in-place rewrite of a nested parquet file leaves the top-level
    directory entries untouched, so the token must walk recursively."""
    import os

    _seed(server)
    api = server.api
    tok0 = api._store_token()
    assert tok0 is not None and tok0[0] == "ls"
    # the partitioned layout means data files are NESTED — the token
    # must fingerprint them, not just the top-level partition dirs
    assert any(os.sep in rel for rel, _, _ in tok0[1])

    # rewrite one nested parquet file in place: same name, same parent
    # dir entries — only the file's own mtime/content change
    store_path = api.engine.store.path
    nested = []
    for dirpath, _, files in os.walk(store_path):
        for f in files:
            if f.endswith(".parquet"):
                nested.append(os.path.join(dirpath, f))
    assert nested, "expected partitioned parquet data files"
    target = nested[0]
    with open(target, "ab") as fh:
        fh.write(b"x")
    tok1 = api._store_token()
    assert tok1 != tok0, "in-place nested rewrite must change the token"


def test_out_of_band_ingest_visible_to_next_query(server, spark, tmp_path):
    """CLI-style ingest that bypasses the API (writes into the same
    store directory out-of-band) must be picked up by the next /query
    instead of served stale from the warm cache."""
    from converttovectordb_spark.engine import VectorEngine

    _seed(server, 3)
    status, out = _call(
        server, "POST", "/query", {"query_embedding": _unit(0)}
    )
    assert status == 200 and out["total_documents_searched"] == 3
    assert server.api._matrix is not None  # warm cache filled

    # out-of-band writer: a second engine over the SAME store path
    other = VectorEngine(
        spark,
        server.api.engine.store.path,
        embedder=server.api.engine.embedder,
        dim=DIM,
    )
    from converttovectordb_spark.schema import DOCUMENTS_SCHEMA

    rows = [
        (f"oob/g{i}.py", ".py", 0, 1, f"oob doc {i}", _unit(i), 1.0)
        for i in range(4)
    ]
    other.store.append(spark.createDataFrame(rows, DOCUMENTS_SCHEMA))

    status, out = _call(
        server, "POST", "/query", {"query_embedding": _unit(0)}
    )
    assert status == 200 and out["total_documents_searched"] == 7


def test_search_and_hybrid_df_tier_reuse_cache(spark, tmp_path):
    """ADVICE r6 (medium): on the non-matrix tier /search and /hybrid
    must serve from the cached prenormed corpus — one store.load at
    cache fill, ZERO further loads per query — and still match the
    cold engine paths row-for-row."""
    from converttovectordb_spark.engine import VectorEngine
    from converttovectordb_spark.server import VectorDBServer

    eng = VectorEngine(
        spark,
        str(tmp_path / "dfstore"),
        embedder=hash_embedder(DIM),
        dim=DIM,
    )
    srv = VectorDBServer(eng, port=0, matrix_max_cells=0).start()
    try:
        _seed(srv)
        # cold references BEFORE instrumenting load
        cold_search = eng.search("document number", 4).collect()
        cold_hybrid = eng.search_hybrid("document number 3", 4).collect()

        loads = {"n": 0}
        real_load = eng.store.load

        def counting_load(*a, **kw):
            loads["n"] += 1
            return real_load(*a, **kw)

        eng.store.load = counting_load
        try:
            status, out = _call(
                srv, "POST", "/search",
                {"query": "document number", "top_k": 4},
            )
            assert status == 200
            assert srv.api._corpus is not None  # df tier, cache filled
            assert srv.api._matrix is None
            fill_loads = loads["n"]
            assert fill_loads == 1  # exactly the cache fill

            status, out2 = _call(
                srv, "POST", "/search",
                {"query": "document number", "top_k": 4},
            )
            assert status == 200
            status, out3 = _call(
                srv, "POST", "/hybrid",
                {"query": "document number 3", "top_k": 4},
            )
            assert status == 200
            assert loads["n"] == fill_loads, (
                "warm /search and /hybrid must not re-load the store"
            )
        finally:
            eng.store.load = real_load

        got = [(r["path"], r["chunk_index"], r["score"]) for r in out["results"]]
        want = [(r["path"], r["chunk_index"], r["score"]) for r in cold_search]
        assert [g[:2] for g in got] == [w[:2] for w in want]
        for g, w in zip(got, want):
            assert abs(g[2] - w[2]) < 1e-9
        assert out2["results"] == out["results"]

        got_h = [
            (r["path"], r["chunk_index"], r["sem_rank"], r["lex_rank"])
            for r in out3["results"]
        ]
        want_h = [
            (r["path"], r["chunk_index"], r["sem_rank"], r["lex_rank"])
            for r in cold_hybrid
        ]
        assert got_h == want_h
        for g, w in zip(out3["results"], cold_hybrid):
            assert abs(g["rrf"] - w["rrf"]) < 1e-9
            assert "embedding" not in g and "_emb_norm" not in g
    finally:
        srv.stop()


def test_search_text_matrix_tier_matches_engine_path(server):
    """/search served from the matrix tier must return exactly what the
    cold engine.search Spark path returns (rows, order, scores)."""
    _seed(server)
    status, out = _call(
        server, "POST", "/search", {"query": "document number", "top_k": 4}
    )
    assert status == 200
    assert server.api._matrix is not None  # served from the matrix tier

    cold = server.api.engine.search("document number", 4).collect()
    got = [(r["path"], r["chunk_index"]) for r in out["results"]]
    want = [(r["path"], r["chunk_index"]) for r in cold]
    assert got == want
    for g, w in zip(out["results"], cold):
        assert abs(g["score"] - w["score"]) < 1e-9
        assert "embedding" not in g


def test_hybrid_matrix_tier_matches_engine_path(server):
    """/hybrid served from the matrix tier must reproduce the Spark
    search_hybrid results: same docs, same sem/lex ranks, same RRF."""
    _seed(server)
    status, out = _call(
        server, "POST", "/hybrid", {"query": "document number 3", "top_k": 4}
    )
    assert status == 200
    assert server.api._matrix is not None

    cold = server.api.engine.search_hybrid("document number 3", 4).collect()
    got = sorted(
        ((r["path"], r["chunk_index"]) for r in out["results"]),
    )
    want = sorted(((r["path"], r["chunk_index"]) for r in cold))
    assert got == want
    cold_by_id = {(r["path"], r["chunk_index"]): r for r in cold}
    for r in out["results"]:
        w = cold_by_id[(r["path"], r["chunk_index"])]
        assert r["sem_rank"] == w["sem_rank"]
        assert r["lex_rank"] == w["lex_rank"]
        assert abs(r["rrf"] - w["rrf"]) < 1e-9
        assert "embedding" not in r


def test_diverse_endpoint(server):
    """/diverse runs the MMR verb end-to-end and enforces the lambda
    range with the 400 contract."""
    _seed(server)
    status, out = _call(
        server,
        "POST",
        "/diverse",
        {"query": "document number 3", "top_k": 3, "fetch_k": 6},
    )
    assert status == 200
    assert out["results"]
    ranks = [r["mmr_rank"] for r in out["results"]]
    assert ranks == sorted(ranks) and len(set(ranks)) == len(ranks)
    for r in out["results"]:
        assert "embedding" not in r and "mmr" in r

    status, err = _call(
        server, "POST", "/diverse", {"query": "x", "mmr_lambda": 2.0}
    )
    assert status == 400 and "lambda" in err["error"]

    status, err = _call(server, "POST", "/diverse", {})
    assert status == 400


def test_add_documents_dedup_on_arrival(server):
    """The /add_documents door's dedup extension: a re-push whose
    embedding matches a committed row at cosine >= t is dropped
    (semantic), an exact-text re-push under another path is dropped
    (lexical), fresh rows land, and the response counts the drops.
    Plain calls (no dedup keys) keep the reference-parity append."""
    text = " ".join(f"word{i}" for i in range(40))
    first = {
        "path": "a.py", "content": text, "embedding": _unit(0),
        "chunk_index": 0, "total_chunks": 1,
    }
    status, out = _call(
        server, "POST", "/add_documents", {"documents": [first]}
    )
    assert status == 200 and out["total_documents"] == 1

    # semantic: same embedding, different path -> dropped
    dup_sem = dict(first, path="b.py", content="changed words here")
    # lexical: same text, different path, orthogonal embedding
    dup_lex = dict(first, path="c.py", embedding=_unit(1))
    fresh = {
        "path": "d.py",
        "content": "completely different content about galaxies",
        "embedding": _unit(2), "chunk_index": 0, "total_chunks": 1,
    }
    status, out = _call(
        server, "POST", "/add_documents",
        {
            "documents": [dup_sem, dup_lex, fresh],
            "semantic_dedup": 0.99,
            "lexical_dedup": 0.8,
        },
    )
    assert status == 200, out
    assert out["skipped_duplicates"] == 2, out
    assert out["total_documents"] == 2
    # bad flag -> loud 400, nothing written
    status, out = _call(
        server, "POST", "/add_documents",
        {"documents": [fresh], "lexical_dedup": 1.5},
    )
    assert status == 400 and "lexical_dedup" in out["error"]


def test_add_documents_dedup_guards(server):
    """The push door's dedup guards: colliding (path, chunk_index)
    identities are refused with a 400 naming the wire contract, a
    malformed dedup_nprobe is a 400 (not a 500), and a fully-
    deduplicated push reports its drops without committing an empty
    write (total_documents unchanged)."""
    text = " ".join(f"guard{i}" for i in range(40))
    base = {
        "path": "g.py", "content": text, "embedding": _unit(3),
        "chunk_index": 0, "total_chunks": 1,
    }
    status, out = _call(
        server, "POST", "/add_documents", {"documents": [base]}
    )
    assert status == 200 and out["total_documents"] == 1

    # genuinely colliding identities (same explicit path + chunk_index;
    # content-only rows no longer collide — they get positional
    # chunk_index defaults since the r10 ADVICE fix)
    status, out = _call(
        server, "POST", "/add_documents",
        {
            "documents": [
                {"path": "h.py", "chunk_index": 0,
                 "content": "one thing", "embedding": _unit(4)},
                {"path": "h.py", "chunk_index": 0,
                 "content": "another thing", "embedding": _unit(5)},
            ],
            "lexical_dedup": 0.8,
        },
    )
    assert status == 400 and "chunk_index" in out["error"]

    # malformed nprobe: 400, not 500
    status, out = _call(
        server, "POST", "/add_documents",
        {
            "documents": [base],
            "semantic_dedup": 0.9,
            "dedup_nprobe": "two",
        },
    )
    assert status == 400

    # fully-deduplicated push: no empty commit, caches stay warm
    status, out = _call(
        server, "POST", "/add_documents",
        {
            "documents": [dict(base, path="g_copy.py")],
            "lexical_dedup": 0.8,
        },
    )
    assert status == 200, out
    assert out["skipped_duplicates"] == 1
    assert out["total_documents"] == 1


def test_add_documents_null_content_is_invalid(server):
    """content: null (a failed extraction) must be COUNTED invalid,
    never ingested as the literal text 'None'."""
    status, out = _call(
        server, "POST", "/add_documents",
        {"documents": [
            {"path": "n.py", "content": None, "embedding": _unit(0)},
            {"path": "ok.py", "content": "real words", "embedding": _unit(1)},
        ]},
    )
    assert status == 200
    assert out["skipped_invalid"] == 1
    status, st = _call(server, "GET", "/stats")
    # the null-content row never landed
    assert st["total_documents"] == 1


def test_add_documents_non_string_extension_counts_one_skip(server):
    """A non-string 'extension' must be rejected in per-row
    normalization (one skipped_invalid), not explode later in
    createDataFrame and 500 the whole batch — the door's contract is
    per-row accounting."""
    status, out = _call(
        server,
        "POST",
        "/add_documents",
        {
            "documents": [
                {"path": "a.py", "content": "ok", "embedding": _unit(0)},
                {
                    "path": "b.py",
                    "content": "bad ext",
                    "embedding": _unit(1),
                    "extension": 5,
                },
            ]
        },
    )
    assert status == 200
    assert out["total_documents"] == 1
    assert out["skipped_invalid"] == 1


def test_diverse_batch_matches_single_diverse(server):
    """/diverse_batch answers Q texts per POST with /diverse semantics;
    results[i] must equal the single /diverse answer for queries[i]
    (ids, rank order, and display columns exactly; score/mmr to 1e-9 —
    the batch candidate stage rides the prenormalize-then-dot plan, so
    the last float ulp may differ from the single door's inline-cosine
    form, same contract as /query vs /query_batch)."""
    _seed(server, n=6)
    texts = ["document number 1", "document number 4", "nothing alike"]
    status, out = _call(
        server,
        "POST",
        "/diverse_batch",
        {"queries": texts, "top_k": 3, "fetch_k": 6},
    )
    assert status == 200 and len(out["results"]) == 3
    for i, q in enumerate(texts):
        st, single = _call(
            server, "POST", "/diverse",
            {"query": q, "top_k": 3, "fetch_k": 6},
        )
        assert st == 200
        batch_i = out["results"][i]
        assert len(batch_i) == len(single["results"])
        for got, want in zip(batch_i, single["results"]):
            assert got["path"] == want["path"]
            assert got["chunk_index"] == want["chunk_index"]
            assert got["mmr_rank"] == want["mmr_rank"]
            assert got["content"] == want["content"]
            assert abs(got["score"] - want["score"]) < 1e-9
            assert abs(got["mmr"] - want["mmr"]) < 1e-9
            assert "embedding" not in got

    # per-query rank lists are well-formed
    for res in out["results"]:
        ranks = [r["mmr_rank"] for r in res]
        assert ranks == sorted(ranks) and len(set(ranks)) == len(ranks)

    # validation contract: bad lambda and empty/non-string queries
    status, err = _call(
        server, "POST", "/diverse_batch",
        {"queries": ["x"], "mmr_lambda": 2.0},
    )
    assert status == 400 and "lambda" in err["error"]
    for bad in ({}, {"queries": []}, {"queries": ["ok", 7]}):
        status, err = _call(server, "POST", "/diverse_batch", bad)
        assert status == 400


def test_diverse_batch_empty_store(server):
    status, out = _call(
        server, "POST", "/diverse_batch", {"queries": ["a", "b"]}
    )
    assert status == 200
    assert out["results"] == [[], []]


def test_hybrid_batch_matches_single_hybrid(server):
    """/hybrid_batch answers Q texts per POST with /hybrid semantics;
    results[i] must equal the single /hybrid answer for queries[i]
    (ids, sem/lex ranks, display columns exactly; rrf to 1e-9 — the
    established batch-door contract)."""
    _seed(server, n=6)
    texts = ["document number 1", "document number 4", "nothing alike"]
    status, out = _call(
        server, "POST", "/hybrid_batch",
        {"queries": texts, "top_k": 3},
    )
    assert status == 200 and len(out["results"]) == 3
    for i, q in enumerate(texts):
        st, single = _call(
            server, "POST", "/hybrid", {"query": q, "top_k": 3}
        )
        assert st == 200
        batch_i = out["results"][i]
        assert len(batch_i) == len(single["results"])
        for got, want in zip(batch_i, single["results"]):
            assert got["path"] == want["path"]
            assert got["chunk_index"] == want["chunk_index"]
            assert got["sem_rank"] == want["sem_rank"]
            assert got["lex_rank"] == want["lex_rank"]
            assert abs(got["rrf"] - want["rrf"]) < 1e-9
            assert "embedding" not in got
    # validation contract
    for bad in ({}, {"queries": []}, {"queries": ["ok", 7]}):
        status, err = _call(server, "POST", "/hybrid_batch", bad)
        assert status == 400


def test_hybrid_batch_distributed_tier_matches_single(spark, tmp_path):
    """Force the df tier (matrix_max_cells=0, same lever as the cache
    reuse test): the batch door must route through
    engine.search_hybrid_batch and still match the single door."""
    from converttovectordb_spark.engine import VectorEngine
    from converttovectordb_spark.server import VectorDBServer

    eng = VectorEngine(
        spark,
        str(tmp_path / "dfstore"),
        embedder=hash_embedder(DIM),
        dim=DIM,
    )
    srv = VectorDBServer(eng, port=0, matrix_max_cells=0).start()
    try:
        _seed(srv)
        texts = ["document number 2", "document number 5"]
        status, out = _call(
            srv, "POST", "/hybrid_batch",
            {"queries": texts, "top_k": 3},
        )
        assert status == 200
        for i, q in enumerate(texts):
            st, single = _call(
                srv, "POST", "/hybrid", {"query": q, "top_k": 3}
            )
            assert st == 200
            got, want = out["results"][i], single["results"]
            assert len(got) == len(want)
            for g, w in zip(got, want):
                assert g["path"] == w["path"]
                assert g["sem_rank"] == w["sem_rank"]
                assert g["lex_rank"] == w["lex_rank"]
                assert abs(g["rrf"] - w["rrf"]) < 1e-9
    finally:
        srv.stop()


def test_diverse_tier_parity(spark, tmp_path):
    """/diverse and /diverse_batch must answer identically from the
    matrix tier (DriverMatrixIndex.diverse_query, no Spark job — r12)
    and the forced df tier (matrix_max_cells=0 → engine.search_diverse
    through the warm cache): same picks, same order, same newest-copy
    rows, scores/mmr within the 1e-9 tier contract."""
    eng = VectorEngine(
        spark,
        str(tmp_path / "store"),
        embedder=hash_embedder(DIM),
        dim=DIM,
    )
    # two embedding near-clusters so MMR genuinely reorders (seed docs
    # share most tokens within a cluster under the hash embedder)
    docs = [
        {
            "path": f"src/f{i}.py",
            "content": t,
            "embedding": None,  # filled below
            "chunk_index": 0,
            "total_chunks": 1,
        }
        for i, t in enumerate(
            [
                "alpha shared tokens one",
                "alpha shared tokens two",
                "alpha shared tokens three",
                "beta different story one",
                "beta different story two",
                "gamma stray unrelated",
            ]
        )
    ]
    emb = hash_embedder(DIM)
    for d in docs:
        d["embedding"] = [float(x) for x in emb([d["content"]])[0]]

    srv_matrix = VectorDBServer(eng, port=0).start()
    srv_df = VectorDBServer(eng, port=0, matrix_max_cells=0).start()
    try:
        status, _ = _call(
            srv_matrix, "POST", "/add_documents", {"documents": docs}
        )
        assert status == 200
        body = {
            "query": "alpha shared probe",
            "top_k": 4,
            "fetch_k": 10,
            "mmr_lambda": 0.4,
        }
        st_m, out_m = _call(srv_matrix, "POST", "/diverse", body)
        st_d, out_d = _call(srv_df, "POST", "/diverse", body)
        assert st_m == 200 and st_d == 200
        got, want = out_m["results"], out_d["results"]
        assert [r["path"] for r in got] == [r["path"] for r in want]
        for g, w in zip(got, want):
            assert g["mmr_rank"] == w["mmr_rank"]
            assert g["content"] == w["content"]
            assert abs(g["score"] - w["score"]) < 1e-9
            assert abs(g["mmr"] - w["mmr"]) < 1e-9
            assert "embedding" not in g

        batch = {
            "queries": ["alpha shared probe", "beta story probe"],
            "top_k": 3,
            "mmr_lambda": 0.4,
        }
        st_m, bm = _call(srv_matrix, "POST", "/diverse_batch", batch)
        st_d, bd = _call(srv_df, "POST", "/diverse_batch", batch)
        assert st_m == 200 and st_d == 200
        assert len(bm["results"]) == len(bd["results"]) == 2
        for rm, rd in zip(bm["results"], bd["results"]):
            assert [r["path"] for r in rm] == [r["path"] for r in rd]
            for g, w in zip(rm, rd):
                assert g["mmr_rank"] == w["mmr_rank"]
                assert abs(g["mmr"] - w["mmr"]) < 1e-9

        # lambda validation keeps the 400 contract on the matrix tier
        st, err = _call(
            srv_matrix, "POST", "/diverse",
            {"query": "x", "mmr_lambda": -0.1},
        )
        assert st == 400 and "lambda" in err["error"]
    finally:
        srv_matrix.stop()
        srv_df.stop()


def test_hybrid_and_diverse_df_tier_match_engine_doors(spark, tmp_path):
    """On the forced df tier (matrix_max_cells=0) /hybrid and /diverse
    are the batch doors at Q=1 over the warm cache: row for row what
    the engine's single doors return from a cold store read."""
    eng = VectorEngine(
        spark,
        str(tmp_path / "dfstore"),
        embedder=hash_embedder(DIM),
        dim=DIM,
    )
    srv = VectorDBServer(eng, port=0, matrix_max_cells=0).start()
    try:
        _seed(srv)
        for route, door, body in (
            ("/hybrid", eng.search_hybrid, {"top_k": 4}),
            ("/diverse", eng.search_diverse, {"top_k": 3, "fetch_k": 6}),
        ):
            for q in ("document number 3", "number"):
                status, out = _call(srv, "POST", route, {"query": q, **body})
                assert status == 200
                assert srv.api._matrix is None
                want = [
                    r.asDict(recursive=True)
                    for r in door(
                        q, body["top_k"], **{
                            k: v for k, v in body.items() if k != "top_k"
                        }
                    ).collect()
                ]
                assert out["results"] == want and want
    finally:
        srv.stop()


def test_500_is_logged_with_traceback(server, monkeypatch, caplog):
    """An unexpected error still answers 500 with only its message, and
    the server logs it with its traceback, method and path."""
    import logging

    def boom():
        raise RuntimeError("stats exploded")

    monkeypatch.setattr(server.api, "stats", boom)
    with caplog.at_level(logging.ERROR, logger="converttovectordb_spark.server"):
        status, out = _call(server, "GET", "/stats")
    assert status == 500 and out == {"error": "stats exploded"}
    recs = [
        r for r in caplog.records
        if r.name == "converttovectordb_spark.server"
    ]
    assert len(recs) == 1
    assert "GET /stats" in recs[0].getMessage()
    assert recs[0].exc_info is not None
    assert "RuntimeError: stats exploded" in caplog.text
