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
from pyspark.sql.types import StructType

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


# -- shared row buffers between index generations ------------------------

#: the fill's schema: DOCUMENTS_SCHEMA with the partition column last
FILL_SCHEMA = StructType(
    [f for f in DOCUMENTS_SCHEMA.fields if f.name != "extension"]
    + [DOCUMENTS_SCHEMA["extension"]]
)
IDS = ["path", "chunk_index"]


def _base_index(rng, n: int) -> DriverMatrixIndex:
    """An index as a fill would build it over ``n`` random documents,
    without a store: float32-rounded vectors, fill key order."""
    docs = _docs(rng, "base", n)
    vecs = np.array(
        [d["embedding"] for d in docs], dtype=np.float32
    ).astype(np.float64)
    payload = [
        {
            "path": d["path"],
            "chunk_index": d["chunk_index"],
            "total_chunks": d["total_chunks"],
            "content": d["content"],
            "timestamp": 1.0,
            "extension": os.path.splitext(d["path"])[1],
        }
        for d in docs
    ]
    norms = np.sqrt(np.einsum("ij,ij->i", vecs, vecs))
    return DriverMatrixIndex(vecs, norms, payload, DIM, schema=FILL_SCHEMA)


def _grow(idx: DriverMatrixIndex, docs: list[dict]) -> DriverMatrixIndex:
    rows = [
        {
            **d,
            "extension": os.path.splitext(d["path"])[1],
            "timestamp": 1.0,
        }
        for d in docs
    ]
    out = idx.extended(
        rows,
        [d["embedding"] for d in docs],
        schema=DOCUMENTS_SCHEMA,
        partition_cols=("extension",),
    )
    assert out is not None
    return out


def _refill(idx: DriverMatrixIndex) -> DriverMatrixIndex:
    """A fresh index over private copies of ``idx``'s rows."""
    return DriverMatrixIndex(
        idx.matrix.copy(), idx.norms.copy(), list(idx.payload), idx.dim
    )


def _snapshot(idx: DriverMatrixIndex, rng) -> dict:
    """Everything a reader of ``idx`` can see, as private copies."""
    postings, dl, avgdl = idx._lex_cache("content")
    queries = rng.standard_normal((4, DIM)).tolist()
    terms = [list(rng.choice(WORDS, 2)) for _ in queries]
    return {
        "matrix": idx.matrix.copy(),
        "norms": idx.norms.copy(),
        "postings": {t: (i.copy(), tf.copy()) for t, (i, tf) in postings.items()},
        "dl": dl.copy(),
        "avgdl": avgdl,
        "queries": queries,
        "terms": terms,
        "answers": [idx.query(q, 5, id_cols=IDS) for q in queries],
        "hybrid": [
            idx.hybrid_query(q, t, 5, id_cols=IDS)
            for q, t in zip(queries, terms)
        ],
    }


def _assert_snapshot(idx: DriverMatrixIndex, snap: dict) -> None:
    assert idx.matrix.tobytes() == snap["matrix"].tobytes()
    assert idx.norms.tobytes() == snap["norms"].tobytes()
    postings, dl, avgdl = idx._lex_cache("content")
    assert postings.keys() == snap["postings"].keys()
    for t, (i, tf) in postings.items():
        assert np.array_equal(i, snap["postings"][t][0])
        assert np.array_equal(tf, snap["postings"][t][1])
    assert dl.tobytes() == snap["dl"].tobytes() and avgdl == snap["avgdl"]
    for q, want in zip(snap["queries"], snap["answers"]):
        assert idx.query(q, 5, id_cols=IDS) == want
    for q, t, want in zip(snap["queries"], snap["terms"], snap["hybrid"]):
        assert idx.hybrid_query(q, t, 5, id_cols=IDS) == want


def test_generations_share_buffers_between_growths():
    rng = np.random.default_rng(19)
    gens = [_base_index(rng, 40)]
    gens[0]._lex_cache("content")
    for w in range(12):
        gens.append(_grow(gens[-1], _docs(rng, f"g{w}", 5)))
    shared = grown = 0
    for old, new in zip(gens, gens[1:]):
        same_buffer = new._matrix_rows is old._matrix_rows
        assert np.shares_memory(old.matrix, new.matrix) == same_buffer
        assert np.shares_memory(old.norms, new.norms) == same_buffer
        old_dl, new_dl = old._lex_cache("content")[1], new._lex_cache("content")[1]
        assert np.shares_memory(old_dl, new_dl) == (new._lex[3] is old._lex[3])
        shared += same_buffer
        grown += not same_buffer
    # the first extension grows the fill's exact-size buffer; the
    # headroom then takes several batches before the next growth
    assert grown >= 2 and shared >= 2 * grown
    _assert_lex_fresh(gens[-1])
    assert _rows(gens[-1]) == _rows(_refill(gens[-1]))


def test_older_generation_unchanged_by_later_extensions():
    rng = np.random.default_rng(23)
    idx = _base_index(rng, 30)
    idx._lex_cache("content")
    idx._rid_cache(IDS)
    old = _grow(idx, _docs(rng, "a", 4))
    snap = _snapshot(old, rng)
    later = [old]
    for w in range(3):
        later.append(_grow(later[-1], _docs(rng, f"later{w}", 4)))
        _assert_snapshot(old, snap)
    # a branch from the old generation copies instead of writing over
    # rows that the later generations' readers see
    snaps = [_snapshot(g, rng) for g in later]
    _grow(old, _docs(rng, "branch", 4))
    for g, s in zip(later, snaps):
        _assert_snapshot(g, s)


def test_two_extensions_from_one_generation_both_equal_a_refill():
    rng = np.random.default_rng(31)
    base = _grow(_base_index(rng, 25), _docs(rng, "pre", 3))
    base._lex_cache("content")
    base._rid_cache(IDS)
    first = _grow(base, _docs(rng, "first", 4))
    second = _grow(base, _docs(rng, "second", 6))
    assert second._matrix_rows is not first._matrix_rows
    for idx in (first, second):
        ref = _refill(idx)
        assert idx.matrix.tobytes() == ref.matrix.tobytes()
        assert idx.norms.tobytes() == ref.norms.tobytes()
        _assert_lex_fresh(idx)
        assert idx._rid_cache(IDS)[1].tolist() == ref._rid_cache(IDS)[1].tolist()
        q = rng.standard_normal(DIM).tolist()
        assert idx.query(q, 6, id_cols=IDS) == ref.query(q, 6, id_cols=IDS)
        assert idx.hybrid_query(q, ["alpha", "beta"], 6, id_cols=IDS) == (
            ref.hybrid_query(q, ["alpha", "beta"], 6, id_cols=IDS)
        )
    assert [p["path"] for p in first.payload[-4:]] == [
        f"first/f{i}.{('py', 'md', 'txt')[i % 3]}" for i in range(4)
    ]


def _assert_rid_cache_fresh(idx: DriverMatrixIndex) -> None:
    """The cache ``idx`` holds equals a fresh build, bit for bit."""
    _, rid_rows, order, perm = idx._rids
    ref = _refill(idx)
    rids, ref_order = ref._rid_cache(IDS)
    assert list(rid_rows.buf[: idx.n]) == list(rids)
    assert order.dtype == ref_order.dtype
    assert order.tobytes() == ref_order.tobytes()
    assert perm.dtype == ref._rids[3].dtype
    assert perm.tobytes() == ref._rids[3].tobytes()


def test_extension_carries_the_rid_cache():
    rng = np.random.default_rng(37)
    idx = _base_index(rng, 30)
    # stored copies of one rid: their ranks come from _rank_copies
    idx.payload[7] = dict(idx.payload[3], content="a stored copy")
    idx._rid_cache(IDS)
    for w in range(3):
        idx = _grow(idx, _docs(rng, f"w{w}", 5))
        assert idx._rids is not None, "the rid cache was dropped"
        _assert_rid_cache_fresh(idx)
    # a new rid equal to a stored one: the cache is rebuilt lazily,
    # and the rebuild ranks the copies by payload
    dup = dict(_docs(rng, "w0", 1)[0], content="a re-push")
    idx = _grow(idx, [dup])
    assert idx._rids is None
    idx._rid_cache(IDS)
    _assert_rid_cache_fresh(idx)
    # so does a batch holding one rid twice
    twice = _docs(rng, "twice", 2)
    twice[1]["chunk_index"] = twice[0]["chunk_index"]
    twice[1]["path"] = twice[0]["path"]
    assert _grow(idx, twice)._rids is None
