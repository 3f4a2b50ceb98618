"""TransactionalDocumentStore: atomic manifest commits, concurrent
appends, schema enforcement, snapshot isolation of staged data."""

from __future__ import annotations

import os
import threading

import pytest

from converttovectordb_spark.embeddings import hash_embedder
from converttovectordb_spark.engine import VectorEngine
from converttovectordb_spark.sources.store import TransactionalDocumentStore

SCHEMA = (
    "path string, extension string, chunk_index int, total_chunks int,"
    " content string, embedding array<double>, timestamp double"
)


def _batch(spark, tag: str, n: int = 3):
    return spark.createDataFrame(
        [(f"{tag}{i}.py", ".py", 0, 1, f"c{i}", [0.1, 0.2], 1.0) for i in range(n)],
        SCHEMA,
    )


def test_append_commits_and_counts(spark, tmp_path):
    store = TransactionalDocumentStore(spark, str(tmp_path / "t"))
    assert not store.exists() and store.version() == -1
    assert store.append(_batch(spark, "a")) == 3
    assert store.append(_batch(spark, "b", 2)) == 2
    assert store.version() == 1
    assert store.load().count() == 5
    hist = store.history()
    assert [h["rows"] for h in hist] == [3, 2]


def test_staged_data_invisible_until_committed(spark, tmp_path):
    store = TransactionalDocumentStore(spark, str(tmp_path / "t"))
    store.append(_batch(spark, "a"))
    # simulate a writer that died mid-stage: data dir, no manifest
    orphan = os.path.join(store.path, store.DATA_DIR, "deadbeef")
    _batch(spark, "orphan", 7).write.parquet(orphan)
    assert store.load().count() == 3  # orphan rows never surface


def test_schema_mismatch_rejected(spark, tmp_path):
    store = TransactionalDocumentStore(spark, str(tmp_path / "t"))
    store.append(_batch(spark, "a"))
    bad = spark.createDataFrame(
        [("x.py", "c", [0.1], 1.0)],
        "path string, content string, embedding array<double>, ts double",
    )
    with pytest.raises(ValueError, match="schema mismatch"):
        store.append(bad)


def test_concurrent_appends_all_commit(spark, tmp_path):
    store = TransactionalDocumentStore(spark, str(tmp_path / "t"))
    errs: list[Exception] = []

    def work(tag: str):
        try:
            store.append(_batch(spark, tag, 4))
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    threads = [threading.Thread(target=work, args=(f"w{i}_",)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []
    # every writer won a distinct version; no rows lost
    assert store.version() == 3
    assert store.load().count() == 16
    assert len({h["batch_dir"] for h in store.history()}) == 4


def test_engine_transactional_end_to_end(spark, tmp_path):
    (tmp_path / "repo").mkdir()
    (tmp_path / "repo" / "a.py").write_text("def f():\n    return 1\n" * 30)
    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(16),
        dim=16, chunk_size=400, overlap=50, transactional=True,
    )
    eng.ingest(str(tmp_path / "repo"))
    v0 = eng.store.version()
    eng.ingest(str(tmp_path / "repo"))
    assert eng.store.version() == v0 + 1
    assert eng.stats()["total_documents"] == eng.store.load().count()
    eng.clear(backup=False)
    assert not eng.store.exists()


def test_time_travel_snapshot_reads(spark, tmp_path):
    store = TransactionalDocumentStore(spark, str(tmp_path / "t"))
    store.append(_batch(spark, "a", 3))
    store.append(_batch(spark, "b", 2))
    store.append(_batch(spark, "c", 4))
    assert store.load(at_version=0).count() == 3
    assert store.load(at_version=1).count() == 5
    assert store.load().count() == 9
    # snapshot content is exactly the first batch
    v0 = {r.path for r in store.load(at_version=0).collect()}
    assert v0 == {"a0.py", "a1.py", "a2.py"}


def test_compact_and_vacuum(spark, tmp_path):
    store = TransactionalDocumentStore(spark, str(tmp_path / "t"))
    store.append(_batch(spark, "a", 3))
    store.append(_batch(spark, "b", 2))
    assert store.compact() == 5
    # snapshot unchanged, now served by ONE live batch dir
    assert store.load().count() == 5
    live = store._live_versions(store._versions())
    assert len(live) == 1
    # time travel to pre-compaction versions still works (dirs retained)
    assert store.load(at_version=0).count() == 3
    # appends continue on top of the compacted snapshot
    store.append(_batch(spark, "c", 4))
    assert store.load().count() == 9
    # vacuum drops the two superseded dirs
    assert store.vacuum() == 2
    assert store.load().count() == 9


def test_append_dedup_skips_already_committed(spark, tmp_path):
    # _batch reuses content strings across tags, so key on (path, content)
    key = ("path", "content")
    store = TransactionalDocumentStore(spark, str(tmp_path / "t"))
    assert store.append_dedup(_batch(spark, "a"), key_cols=key) == 3
    # re-deliver the same batch plus 2 new rows: only the new rows land
    again = _batch(spark, "a").unionByName(_batch(spark, "b", 2))
    assert store.append_dedup(again, key_cols=key) == 2
    assert store.load().count() == 5
    # intra-batch duplicates collapse before the store anti-join
    tripled = _batch(spark, "c", 1)
    tripled = tripled.unionByName(tripled).unionByName(tripled)
    assert store.append_dedup(tripled, key_cols=key) == 1
    assert store.load().count() == 6


def test_append_dedup_null_positions_do_not_collide(spark, tmp_path):
    """('x', NULL) and (NULL, 'x') multi-column keys are DIFFERENT rows:
    the NULL sentinel stops concat_ws from silently skipping NULLs and
    collapsing them into the same dedup key (round-2 advisory). NULL is
    also distinct from the empty string."""
    store = TransactionalDocumentStore(spark, str(tmp_path / "t"))
    rows = [
        ("x", None, 0, 1, "a", [0.1], 1.0),
        (None, "x", 0, 1, "b", [0.1], 1.0),
        ("", "x", 0, 1, "c", [0.1], 1.0),  # empty string vs NULL path
    ]
    batch = spark.createDataFrame(rows, SCHEMA)
    assert store.append_dedup(
        batch, key_cols=("path", "extension"), validate=False
    ) == 3
    # re-delivery of the same keys is still fully deduped
    assert store.append_dedup(
        batch, key_cols=("path", "extension"), validate=False
    ) == 0
    assert store.load(require_embedding=False).count() == 3


def test_upsert_replaces_rows_by_key(spark, tmp_path):
    store = TransactionalDocumentStore(spark, str(tmp_path / "t"))
    store.append(_batch(spark, "a"))  # a0 a1 a2
    # re-ingest a1 with TWO new chunks: old a1 row must vanish
    new = spark.createDataFrame(
        [("a1.py", ".py", i, 2, f"new{i}", [0.9, 0.9], 2.0) for i in range(2)],
        SCHEMA,
    )
    assert store.upsert(new) == 2
    rows = store.load().collect()
    assert len(rows) == 4  # a0, a2 + two new a1 chunks
    a1 = sorted(r.content for r in rows if r.path == "a1.py")
    assert a1 == ["new0", "new1"]
    # time travel still sees the pre-upsert row
    old = [r.content for r in store.load(at_version=0).collect() if r.path == "a1.py"]
    assert old == ["c1"]


def test_upsert_then_compact_materializes_merge(spark, tmp_path):
    store = TransactionalDocumentStore(spark, str(tmp_path / "t"))
    store.append(_batch(spark, "a"))
    new = spark.createDataFrame(
        [("a0.py", ".py", 0, 1, "replaced", [0.5, 0.5], 2.0)], SCHEMA
    )
    store.upsert(new)
    assert store.load().count() == 3
    assert store.compact() == 3
    assert store.load().count() == 3
    assert {r.content for r in store.load().collect() if r.path == "a0.py"} == {
        "replaced"
    }
    # vacuum drops superseded batch dirs AND orphan tombstone key dirs
    assert store.vacuum() >= 2
    assert store.load().count() == 3


def test_upsert_key_cols_must_be_consistent(spark, tmp_path):
    import pytest as _pytest

    store = TransactionalDocumentStore(spark, str(tmp_path / "t"))
    store.upsert(_batch(spark, "a"), key_cols=("path",))
    with _pytest.raises(ValueError):
        store.upsert(_batch(spark, "b"), key_cols=("path", "chunk_index"))


def test_engine_reingest_replace(spark, tmp_path):
    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "a.py").write_text("def f():\n    return 1\n" * 30)
    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(16),
        dim=16, chunk_size=400, overlap=50, transactional=True,
    )
    eng.ingest(str(repo))
    n0 = eng.store.load().count()
    # file changes; replace-mode re-ingest must not duplicate chunks
    (repo / "a.py").write_text("def g():\n    return 2\n" * 30)
    eng.ingest(str(repo), replace=True)
    got = eng.store.load()
    assert got.count() == n0
    assert got.filter("content LIKE '%return 2%'").count() == n0
    # plain append-mode would have doubled it (the thing replace avoids)


def test_zero_row_batches_never_commit(spark, tmp_path):
    """r12 review: a zero-row batch must NOT commit — with partition_by
    the staged dir holds only _SUCCESS and unioning it used to poison
    every later load() with UNABLE_TO_INFER_SCHEMA (a fully-deduped
    re-crawl or an empty streaming epoch bricked the store)."""
    from converttovectordb_spark.sources.store import (
        TransactionalDocumentStore,
    )

    store = TransactionalDocumentStore(
        spark, str(tmp_path / "t"), partition_by=("extension",)
    )
    schema = (
        "path string, extension string, chunk_index int, total_chunks "
        "int, content string, embedding array<float>, timestamp double"
    )
    empty = spark.createDataFrame([], schema)
    # first-ever write of zero rows: store stays absent
    assert store.append(empty) == 0
    assert not store.exists()
    # real batch, then a fully-deduped (zero-row) one: version count
    # unchanged, load() keeps working
    docs = spark.createDataFrame(
        [("a.py", ".py", 0, 1, "alpha", [1.0, 0.0], 1.0)], schema
    )
    assert store.append(docs) == 1
    v = store.version()
    assert store.append(empty) == 0
    assert store.version() == v
    assert store.load().count() == 1
    # all-invalid batch (validation drops every row) behaves the same
    bad = spark.createDataFrame(
        [("b.py", ".py", 0, 1, None, None, 1.0)], schema
    )
    assert store.append(bad) == 0
    assert store.version() == v and store.load().count() == 1


def test_plain_store_zero_row_first_write_stays_absent(spark, tmp_path):
    from converttovectordb_spark.sources.store import DocumentStore

    store = DocumentStore(
        spark, str(tmp_path / "p"), partition_by=("extension",)
    )
    schema = (
        "path string, extension string, chunk_index int, total_chunks "
        "int, content string, embedding array<float>, timestamp double"
    )
    assert store.append(spark.createDataFrame([], schema)) == 0
    assert not store.exists()


def test_upsert_invalid_rows_do_not_tombstone(spark, tmp_path):
    """r12 review: tombstone keys derive from the VALIDATED batch —
    a key whose every row fails validation must not silently delete
    its committed rows."""
    from converttovectordb_spark.sources.store import (
        TransactionalDocumentStore,
    )

    store = TransactionalDocumentStore(spark, str(tmp_path / "u"))
    schema = (
        "path string, extension string, chunk_index int, total_chunks "
        "int, content string, embedding array<float>, timestamp double"
    )
    store.append(spark.createDataFrame(
        [("a.py", ".py", 0, 1, "alpha", [1.0, 0.0], 1.0),
         ("b.py", ".py", 0, 1, "beta", [0.0, 1.0], 1.0)], schema))
    # an upsert whose every row for a.py is INVALID: nothing written,
    # nothing tombstoned — a.py's committed chunk survives
    bad = spark.createDataFrame(
        [("a.py", ".py", 0, 1, "new text", None, 2.0)], schema
    )
    assert store.upsert(bad, key_cols=("path",)) == 0
    rows = {r["path"]: r["content"] for r in store.load().collect()}
    assert rows == {"a.py": "alpha", "b.py": "beta"}
    # a VALID upsert still replaces
    good = spark.createDataFrame(
        [("a.py", ".py", 0, 1, "alpha v2", [0.5, 0.5], 3.0)], schema
    )
    assert store.upsert(good, key_cols=("path",)) == 1
    rows = {r["path"]: r["content"] for r in store.load().collect()}
    assert rows == {"a.py": "alpha v2", "b.py": "beta"}


def test_state_token_differs_across_store_lifetimes(spark, tmp_path):
    """r12 review: the transactional token carries a store-lifetime
    uid — a bare version counter repeats across clear()/overwrite()
    lifetimes, so persisted artifact tokens (lex/IVF _TOKEN) minted
    against a deleted corpus would bless its replacement."""
    from converttovectordb_spark.sources.store import (
        TransactionalDocumentStore,
    )

    schema = (
        "path string, extension string, chunk_index int, total_chunks "
        "int, content string, embedding array<float>, timestamp double"
    )
    docs1 = spark.createDataFrame(
        [("a.py", ".py", 0, 1, "first corpus", [1.0, 0.0], 1.0)], schema
    )
    store = TransactionalDocumentStore(spark, str(tmp_path / "s"))
    store.append(docs1)
    tok1 = store.state_token()
    store.clear(backup=False)
    docs2 = spark.createDataFrame(
        [("z.py", ".py", 0, 1, "second corpus", [0.0, 1.0], 1.0)], schema
    )
    store.append(docs2)  # back at the same version number
    tok2 = store.state_token()
    assert store.version() == 0 and tok1 != tok2
    # overwrite() resets the log: token must change too
    store.overwrite(docs1)
    assert store.state_token() not in (tok1, tok2)


def test_load_reads_the_recorded_schema(spark, tmp_path):
    """load() reads every batch and tombstone-key dir with the schema
    its manifest records: planning runs no Spark job, and a partition
    column keeps its type even when one batch's only value looks
    numeric (".5", a man page) — inferred, it read as double and the
    union with a ".py" batch failed at run time."""
    store = TransactionalDocumentStore(
        spark, str(tmp_path / "t"), partition_by=("extension",)
    )
    man = spark.createDataFrame(
        [("ls.1", ".5", 0, 1, "man page", [0.1, 0.2], 1.0)], SCHEMA
    )
    store.append(man)
    store.append(_batch(spark, "a", 2))
    store.upsert(
        spark.createDataFrame(
            [("a0.py", ".py", 0, 1, "new", [0.3, 0.4], 2.0)], SCHEMA
        ),
        key_cols=["path"],
    )
    sc = spark.sparkContext
    sc.setJobGroup("load_plan", "load() planning")
    try:
        head = store.load()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("load_plan")) == []
    assert dict(head.dtypes)["extension"] == "string"
    assert head.columns[-1] == "extension"  # partition column last
    want = {("ls.1", ".5", "man page"), ("a0.py", ".py", "new"),
            ("a1.py", ".py", "c1")}
    assert {(r.path, r.extension, r.content) for r in head.collect()} == want
    assert {
        (r.path, r.extension)
        for r in store.load(at_version=1).collect()
    } == {("ls.1", ".5"), ("a0.py", ".py"), ("a1.py", ".py")}
    assert store.compact() == 3
    after = store.load()
    assert dict(after.dtypes)["extension"] == "string"
    assert {(r.path, r.extension, r.content) for r in after.collect()} == want
