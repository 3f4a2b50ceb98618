"""Write-through serving: a plain ``/add_documents`` extends the warm
matrix tier (`DriverMatrixIndex.extended`) instead of dropping it, and
every write it cannot prove to be the store's only change refills.

The equivalence property: after N writes the extended index equals
``DriverMatrixIndex.from_dataframe(store.load())`` — rows, vectors,
norms, answers and the BM25 cache."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from converttovectordb_spark.embeddings import hash_embedder
from converttovectordb_spark.engine import VectorEngine
from converttovectordb_spark.operators.serving import DriverMatrixIndex
from converttovectordb_spark.schema import DOCUMENTS_SCHEMA
from converttovectordb_spark.server import VectorDBApi
from converttovectordb_spark.sources.store import DocumentStore

#: not a multiple of 8: matrix rows start at varying alignments
DIM = 12
WORDS = "alpha beta gamma delta epsilon zeta eta theta iota kappa".split()


@pytest.fixture()
def fill_calls(monkeypatch):
    """Counts `DriverMatrixIndex.from_dataframe` calls (refills)."""
    calls = []
    orig = DriverMatrixIndex.from_dataframe.__func__

    def counting(cls, *a, **kw):
        calls.append(1)
        return orig(cls, *a, **kw)

    monkeypatch.setattr(
        DriverMatrixIndex, "from_dataframe", classmethod(counting)
    )
    return calls


def _text(rng, n_words: int) -> str:
    return " ".join(rng.choice(WORDS, n_words))


def _docs(rng, tag: str, n: int) -> list[dict]:
    """Random doubles (float32 cannot hold them exactly), mixed
    extensions, multi-word contents."""
    return [
        {
            "path": f"{tag}/f{i}.{('py', 'md', 'txt')[i % 3]}",
            "chunk_index": i % 2,
            "total_chunks": 2,
            "content": _text(rng, 3 + i % 5),
            "embedding": rng.standard_normal(DIM).tolist(),
        }
        for i in range(n)
    ]


def _edge_docs(rng, tag: str, dup_of: dict) -> list[dict]:
    return [
        # a zero vector
        {"path": f"{tag}/zero.py", "content": "zero", "embedding": [0.0] * DIM},
        # an explicit empty extension: the hive default partition
        {
            "path": f"{tag}/noext",
            "extension": "",
            "content": _text(rng, 4),
            "embedding": rng.standard_normal(DIM).tolist(),
        },
        # a second copy of an existing identity
        {
            **{k: dup_of[k] for k in ("path", "chunk_index", "total_chunks")},
            "content": "duplicate " + _text(rng, 3),
            "embedding": rng.standard_normal(DIM).tolist(),
        },
        # positional content-only rows: identity ("", batch position)
        {"content": _text(rng, 5), "embedding": rng.standard_normal(DIM).tolist()},
        {"content": _text(rng, 2), "embedding": rng.standard_normal(DIM).tolist()},
    ]


def _rows(idx: DriverMatrixIndex) -> list[tuple]:
    """(payload JSON in key order, matrix row bytes, norm) per row,
    sorted: the row multiset with vectors and norms bit for bit."""
    return sorted(
        (json.dumps(p), idx.matrix[i].tobytes(), float(idx.norms[i]))
        for i, p in enumerate(idx.payload)
    )


def _ids(results: list[dict]) -> list[tuple]:
    return [(r["path"], r["chunk_index"]) for r in results]


def _assert_same_answers(a: list[dict], b: list[dict], key: str) -> None:
    assert _ids(a) == _ids(b)
    for x, y in zip(a, b):
        assert abs(x[key] - y[key]) <= 1e-12


def _assert_lex_fresh(idx: DriverMatrixIndex) -> None:
    """The extended BM25 cache equals a fresh build over the same rows."""
    assert idx._lex is not None, "the write should have extended BM25"
    postings, dl, avgdl = idx._lex_cache("content")
    fresh = DriverMatrixIndex(idx.matrix, idx.norms, idx.payload, idx.dim)
    f_postings, f_dl, f_avgdl = fresh._lex_cache("content")
    assert postings.keys() == f_postings.keys()
    for t, (i, tf) in postings.items():
        assert np.array_equal(i, f_postings[t][0])
        assert np.array_equal(tf, f_postings[t][1])
    assert np.array_equal(dl, f_dl) and avgdl == f_avgdl


def test_extended_index_equals_refill(spark, tmp_path, fill_calls):
    rng = np.random.default_rng(7)
    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(DIM), dim=DIM
    )
    api = VectorDBApi(eng)
    first = _docs(rng, "seed", 9)
    api.add_documents({"documents": first})
    # a stored row without an embedding: not indexed, but counted in
    # total_documents
    eng.store.append(
        spark.createDataFrame(
            [("bare.py", ".py", 0, 1, "no vector", None, 1.0)],
            DOCUMENTS_SCHEMA,
        ),
        validate=False,
    )
    api.query({"query_embedding": rng.standard_normal(DIM).tolist()})
    api.hybrid({"query": "alpha beta"})  # builds the BM25 cache
    assert api._matrix is not None and api._matrix._lex is not None
    fills = len(fill_calls)

    stored = 10
    for w in range(3):
        batch = _docs(rng, f"w{w}", 6) + _edge_docs(rng, f"w{w}", first[w])
        before = api._matrix
        out = api.add_documents({"documents": batch})
        stored += len(batch)
        assert out["total_documents"] == stored
        idx = api._matrix
        assert idx is not None and idx is not before
        assert idx.n == before.n + len(batch)
        assert len(fill_calls) == fills, "the write refilled"
        _assert_lex_fresh(idx)

    assert eng.store.load(require_embedding=False).count() == stored
    ref = DriverMatrixIndex.from_dataframe(eng.store.load())
    assert _rows(idx) == _rows(ref)
    assert [list(p) for p in idx.payload[-3:]] == [
        list(p) for p in ref.payload[:3]
    ], "payload key order differs from a refill's"
    assert idx.stored_rows == ref.n + 1
    assert idx.payload_bytes == ref.payload_bytes

    ids = ["path", "chunk_index"]
    queries = rng.standard_normal((6, DIM)).tolist()
    queries.append(first[0]["embedding"])
    for q in queries:
        _assert_same_answers(
            idx.query(q, 8, id_cols=ids), ref.query(q, 8, id_cols=ids), "score"
        )
    for a, b in zip(
        idx.query_batch(queries, 5, id_cols=ids),
        ref.query_batch(queries, 5, id_cols=ids),
    ):
        _assert_same_answers(a, b, "score")
    for q in queries:
        terms = list(rng.choice(WORDS, 2))
        _assert_same_answers(
            idx.hybrid_query(q, terms, 6, id_cols=ids),
            ref.hybrid_query(q, terms, 6, id_cols=ids),
            "rrf",
        )
    # the REST reply is byte-identical to a refilled server's
    fresh = VectorDBApi(eng)
    body = {"query_embedding": queries[0], "top_k": 10}
    got, want = api.query(body), fresh.query(body)
    assert json.dumps(got["results"]) == json.dumps(want["results"])


def test_out_of_band_append_between_tokens_refills(spark, tmp_path, fill_calls):
    """A write that lands beside this server's own append (between the
    pre- and post-write tokens) is not this write's: the handler drops
    the cache, and the next /query refills and sees every row."""
    rng = np.random.default_rng(3)
    path = str(tmp_path / "store")
    eng = VectorEngine(spark, path, embedder=hash_embedder(DIM), dim=DIM)
    api = VectorDBApi(eng)
    api.add_documents({"documents": _docs(rng, "seed", 4)})
    api.query({"query_embedding": rng.standard_normal(DIM).tolist()})
    assert api._matrix is not None
    other = DocumentStore(spark, path, partition_by=("extension",))
    oob = spark.createDataFrame(
        [("oob/x.py", ".py", 0, 1, "out of band", [1.0] * DIM, 1.0)],
        DOCUMENTS_SCHEMA,
    )
    orig = eng.store.append

    def append_and_race(df, **kw):
        written = orig(df, **kw)
        other.append(oob)
        return written

    eng.store.append = append_and_race
    out = api.add_documents({"documents": _docs(rng, "w", 3)})
    assert out["total_documents"] == 8
    assert api._matrix is None
    fills = len(fill_calls)
    out = api.query({"query_embedding": [1.0] * DIM, "top_k": 1})
    assert out["total_documents_searched"] == 8
    assert out["results"][0]["path"] == "oob/x.py"
    assert len(fill_calls) == fills + 1


def test_transactional_commit_extends_and_compaction_refills(
    spark, tmp_path, fill_calls
):
    rng = np.random.default_rng(5)
    eng = VectorEngine(
        spark,
        str(tmp_path / "store"),
        embedder=hash_embedder(DIM),
        dim=DIM,
        transactional=True,
        auto_compact_after=3,
    )
    api = VectorDBApi(eng)
    api.add_documents({"documents": _docs(rng, "seed", 4)})
    api.query({"query_embedding": rng.standard_normal(DIM).tolist()})
    fills = len(fill_calls)
    # v0 → v1: a +1 commit in the same store lifetime extends
    before = api._matrix
    api.add_documents({"documents": _docs(rng, "w1", 3)})
    assert api._matrix is not None and api._matrix is not before
    assert api._matrix.n == 7 and len(fill_calls) == fills
    assert api._corpus_token == eng.store.state_token()
    # v1 → v3: the append (v2) brings the live count to 3, and the
    # auto-compaction commits v3 — not this write's alone: refill
    out = api.add_documents({"documents": _docs(rng, "w2", 2)})
    assert eng.store.version() == 3 and out["total_documents"] == 9
    assert api._matrix is None
    out = api.query({"query_embedding": [1.0] * DIM})
    assert out["total_documents_searched"] == 9
    assert len(fill_calls) == fills + 1


def test_dedup_flags_and_over_budget_batches_invalidate(spark, tmp_path):
    rng = np.random.default_rng(11)
    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(DIM), dim=DIM
    )
    # the 6-row fill fits 6 × DIM cells; the next 2-row batch does not
    api = VectorDBApi(eng, matrix_max_cells=7 * DIM)
    api.add_documents({"documents": _docs(rng, "seed", 6)})
    api.query({"query_embedding": rng.standard_normal(DIM).tolist()})
    assert api._matrix is not None
    api.add_documents(
        {"documents": _docs(rng, "dedup", 1), "semantic_dedup": 0.999}
    )
    assert api._matrix is None
    api.query({"query_embedding": rng.standard_normal(DIM).tolist()})
    assert api._matrix is not None and api._matrix.n == 7
    out = api.add_documents({"documents": _docs(rng, "big", 2)})
    assert out["total_documents"] == 9 and api._matrix is None
    out = api.query({"query_embedding": rng.standard_normal(DIM).tolist()})
    assert out["total_documents_searched"] == 9
    assert api._matrix is None and api._corpus is not None  # df tier


def test_plain_state_token_equals_os_walk(spark, tmp_path):
    """The scandir token is the exact value of the os.walk + os.stat +
    relpath walk it replaced: persisted token digests stay valid."""
    root = tmp_path / "store"
    for rel in (
        "extension=.py/part-0.parquet",
        "extension=.py/_hidden.parquet",
        "extension=.py/.part-0.parquet.crc",
        "extension=.md/deeper/part-1.parquet",
        "_temporary/0/part-9.parquet",
        ".staging/part-8.parquet",
        "_SUCCESS",
        "top.parquet",
    ):
        p = root / rel
        p.parent.mkdir(parents=True, exist_ok=True)
        p.write_bytes(b"x" * len(rel))

    def reference(path):
        entries = set()
        for dirpath, dirnames, filenames in os.walk(path):
            dirnames[:] = [d for d in dirnames if not d.startswith(("_", "."))]
            for name in filenames:
                if name.startswith(("_", ".")):
                    continue
                full = os.path.join(dirpath, name)
                st = os.stat(full)
                entries.add(
                    (os.path.relpath(full, path), st.st_mtime_ns, st.st_size)
                )
        return ("ls", frozenset(entries))

    store = DocumentStore(spark, str(root))
    token = store.state_token()
    assert token == reference(str(root))
    assert {rel for rel, _, _ in token[1]} == {
        os.path.join("extension=.py", "part-0.parquet"),
        os.path.join("extension=.md", "deeper", "part-1.parquet"),
        "top.parquet",
    }


def test_concurrent_writes_lose_no_rows(spark, tmp_path):
    """Writers racing on one server: whichever writes extend and
    whichever refill, the installed matrix never misses a stored row.
    Transactional: each batch stages its own directory, where plain
    appends into one directory clash in Spark's output committer."""
    import sys
    import threading

    rng = np.random.default_rng(13)
    eng = VectorEngine(
        spark,
        str(tmp_path / "store"),
        embedder=hash_embedder(DIM),
        dim=DIM,
        transactional=True,
    )
    api = VectorDBApi(eng)
    api.add_documents({"documents": _docs(rng, "seed", 4)})
    api.query({"query_embedding": rng.standard_normal(DIM).tolist()})
    batches = [_docs(rng, f"t{i}", 3) for i in range(6)]  # > cores
    errors = []

    def write(batch):
        try:
            api.add_documents({"documents": batch})
            api.query({"query_embedding": batch[0]["embedding"]})
        except Exception as e:  # reported below
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=write, args=(b,)) for b in batches]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not errors and not any(t.is_alive() for t in threads)
    stored = eng.store.load().count()
    assert stored == 4 + 3 * len(batches)
    if api._matrix is not None:
        assert api._corpus_token == eng.store.state_token()
        assert api._matrix.n == stored
    out = api.query({"query_embedding": batches[-1][0]["embedding"]})
    assert out["total_documents_searched"] == stored


def test_concurrent_plain_writes_lose_no_rows(spark, tmp_path):
    """Six concurrent 3-document ``/add_documents`` on one PLAIN store:
    appends into one directory are serialized per store path, so no
    request fails in Spark's shared ``_temporary`` committer and every
    row lands."""
    import sys
    import threading
    import urllib.error
    import urllib.request

    from converttovectordb_spark.server import VectorDBServer

    rng = np.random.default_rng(17)
    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(DIM), dim=DIM
    )
    srv = VectorDBServer(eng, port=0).start()
    host, port = srv.address

    def post(docs) -> int:
        req = urllib.request.Request(
            f"http://{host}:{port}/add_documents",
            data=json.dumps({"documents": docs}).encode(),
            headers={"Content-Type": "application/json"},
            method="POST",
        )
        try:
            with urllib.request.urlopen(req, timeout=120) as resp:
                return resp.status
        except urllib.error.HTTPError as e:
            return e.code

    old = sys.getswitchinterval()
    try:
        assert post(_docs(rng, "seed", 4)) == 200
        batches = [_docs(rng, f"t{i}", 3) for i in range(6)]  # > cores
        statuses = []
        threads = [
            threading.Thread(target=lambda b=b: statuses.append(post(b)))
            for b in batches
        ]
        sys.setswitchinterval(1e-5)
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=180)
    finally:
        sys.setswitchinterval(old)
        srv.stop()
    assert not any(t.is_alive() for t in threads)
    assert statuses == [200] * len(batches)
    got = {
        (r.path, r.chunk_index)
        for r in eng.store.load().select("path", "chunk_index").collect()
    }
    want = {
        (d["path"], d["chunk_index"])
        for b in batches
        for d in b
    }
    assert want <= got and len(got) == 4 + 3 * len(batches)


def test_pushed_nan_is_stored_as_nan(spark, tmp_path):
    """json.loads accepts NaN: a pushed NaN is stored as NaN, not NULL,
    and the extended matrix holds what a refill reads back."""
    import math

    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(DIM), dim=DIM
    )
    api = VectorDBApi(eng)
    api.add_documents({"documents": _docs(np.random.default_rng(1), "s", 2)})
    api.query({"query_embedding": [1.0] * DIM})
    doc = {
        "path": "nan.py",
        "content": "not a number",
        "embedding": [float("nan")] + [1.0] * (DIM - 1),
        "timestamp": float("nan"),
    }
    out = api.add_documents({"documents": [doc]})
    assert out["total_documents"] == 3
    row = eng.store.load().filter("path = 'nan.py'").first()
    assert math.isnan(row["embedding"][0]) and math.isnan(row["timestamp"])
    ref = DriverMatrixIndex.from_dataframe(eng.store.load())
    got = api._matrix
    assert got is not None and got.n == 3
    i, j = got.n - 1, [p["path"] for p in ref.payload].index("nan.py")
    assert got.matrix[i].tobytes() == ref.matrix[j].tobytes()
    assert math.isnan(got.payload[i]["timestamp"])
