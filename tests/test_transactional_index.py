"""TransactionalIVFIndex: manifest-committed index appends.

Contracts under test: atomic visibility (uncommitted dirs invisible),
txn-id idempotence (epoch replays are no-ops), corpus/codes published
in one commit, compaction superseding prior versions while results
stay identical, and the exactly-once streaming sink that keeps a store
and an index in lockstep under epoch replay.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from converttovectordb_spark.plans.ivf_index import TransactionalIVFIndex


def _emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def _build(spark, tmp_path, docs=None, **kw):
    emb = docs if docs is not None else _emb(spark)
    kw.setdefault("num_clusters", 4)
    kw.setdefault("seed", 7)
    return TransactionalIVFIndex.build(emb, str(tmp_path / "tivf"), **kw)


def test_build_then_append_versions_and_counts(spark, tmp_path):
    emb = _emb(spark)
    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    index = _build(spark, tmp_path, docs=old)
    assert index.version() == 0
    assert index.corpus().count() == old.count()
    wrote = index.append(new)
    assert wrote == new.count()
    assert index.version() == 1
    assert index.corpus().count() == emb.count()


def test_txn_replay_is_noop(spark, tmp_path):
    emb = _emb(spark)
    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    index = _build(spark, tmp_path, docs=old)
    assert index.append(new, txn_id="epoch-0") == new.count()
    n = index.corpus().count()
    assert index.append(new, txn_id="epoch-0") == 0  # replayed epoch
    assert index.corpus().count() == n
    assert index.version() == 1


def test_staged_but_uncommitted_is_invisible(spark, tmp_path):
    """A crash between staging and commit must leave readers on the
    old snapshot: simulate by writing a batch dir without a manifest
    entry."""
    import os
    import shutil

    emb = _emb(spark)
    index = _build(spark, tmp_path, docs=emb)
    n = index.corpus().count()
    # orphan dir: a copy of an existing committed batch, never committed
    committed = index._read_manifest(0)["corpus_dir"]
    orphan = os.path.join(index.path, index.CORPUS_BATCHES, "deadbeef")
    shutil.copytree(committed, orphan)
    assert index.corpus().count() == n  # unchanged: manifest is truth


@pytest.mark.slow  # 22.0s
def test_corpus_and_codes_commit_together(spark, tmp_path):
    emb = _emb(spark)
    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    index = _build(spark, tmp_path, docs=old, pq_m=8, pq_k=4)
    assert index.has_pq()
    assert index.pq_codes().count() == old.count()
    index.append(new)
    m = index._read_manifest(1)
    assert "corpus_dir" in m and "codes_dir" in m  # one commit, both sides
    assert index.pq_codes().count() == emb.count()
    sample = (
        index.pq_codes().join(new.select("vec_id"), on="vec_id").limit(3)
    ).collect()
    assert sample and all(len(r.codes) == 8 for r in sample)


def test_search_and_pruning_over_batches(spark, tmp_path):
    emb = _emb(spark)
    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    index = _build(spark, tmp_path, docs=old)
    index.append(new)
    probe_rows = new.limit(2).collect()
    probes = spark.createDataFrame(
        [(r.vec_id, r.embedding) for r in probe_rows],
        "query_id long, query_vec array<float>",
    )
    hits = index.search(probes, top_k=1, nprobe=1).collect()
    assert {r.vec_id for r in hits} == {r.vec_id for r in probe_rows}
    pruned = index.pruned_corpus([0])
    assert 0 < pruned.count() < index.corpus().count()


@pytest.mark.slow  # 31.2s
def test_compact_supersedes_but_preserves_results(spark, tmp_path):
    emb = _emb(spark)
    index = _build(
        spark, tmp_path, docs=emb.filter(F.col("vec_id") < 200), pq_m=8,
        pq_k=4,
    )
    for lo in (200, 300, 400):
        index.append(
            emb.filter(
                (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 100)
            ),
            txn_id=f"e{lo}",
        )
    before_corpus = index.corpus().count()
    before_codes = index.pq_codes().count()
    rows = index.compact()
    assert rows == before_corpus
    assert len(index._live_versions()) == 1
    assert index.corpus().count() == before_corpus
    assert index.pq_codes().count() == before_codes
    # a replayed pre-compaction epoch must STILL dedupe (manifest keeps
    # superseded commits' txn ids)
    assert (
        index.append(
            emb.filter((F.col("vec_id") >= 200) & (F.col("vec_id") < 300)),
            txn_id="e200",
        )
        == 0
    )


@pytest.mark.slow  # 17.4s
def test_stream_ingest_indexed_exactly_once(spark, tmp_path):
    """Store and index share the epoch txn id; replaying the epoch
    against BOTH sinks (the crash-recovery path) changes nothing."""
    import json

    from converttovectordb_spark.sources.store import (
        TransactionalDocumentStore,
    )
    from converttovectordb_spark.streaming.jobs import (
        stream_ingest_indexed,
        stream_txn_id,
    )

    drop = tmp_path / "drop"
    drop.mkdir()
    rec = {
        "path": "a.txt",
        "extension": "txt",
        "content": "streaming keeps the vector index fresh " * 20,
    }
    (drop / "a.json").write_text(json.dumps(rec))

    store = TransactionalDocumentStore(spark, str(tmp_path / "store"))
    # seed the store+index with one batch so the index has a schema
    from converttovectordb_spark.sources.chunker import chunk_embed

    seed_raw = spark.createDataFrame(
        [("seed.txt", "txt", "initial corpus document " * 30)],
        "path string, extension string, content string",
    )
    seed = chunk_embed(
        seed_raw, chunk_size=200, overlap=50, dim=16
    ).withColumn("timestamp", F.lit(0.0))
    store.append(seed)
    index = TransactionalIVFIndex.build(
        store.load(), str(tmp_path / "tivf"), num_clusters=2
    )

    ckpt = str(tmp_path / "ckpt")
    q = stream_ingest_indexed(
        spark, str(drop), store, index, ckpt, dim=16,
        chunk_size=200, overlap=50,
    )
    q.awaitTermination(120)
    n_store = store.load().count()
    n_index = index.corpus().count()
    assert n_store == n_index > seed.count()

    # crash-replay simulation: re-apply epoch 0's sink by hand
    docs = chunk_embed(
        spark.read.schema(
            "path string, extension string, content string"
        ).json(str(drop)),
        chunk_size=200,
        overlap=50,
        dim=16,
    ).withColumn("timestamp", F.lit(0.0))
    txn = stream_txn_id(ckpt, 0)
    assert store.append(docs, txn_id=txn) == 0
    assert index.append(docs, txn_id=txn) == 0
    assert store.load().count() == n_store
    assert index.corpus().count() == n_index


@pytest.mark.slow  # 14.6s
def test_compact_race_preserves_concurrent_epoch(spark, tmp_path):
    """An epoch committed WHILE compact() rewrites must survive: the
    replaces list covers only the versions captured at entry, so the
    late commit stays live beside the compacted snapshot."""
    emb = _emb(spark)
    index = _build(spark, tmp_path, docs=emb.filter(F.col("vec_id") < 300))
    index.append(
        emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)),
        txn_id="e1",
    )
    late = emb.filter(F.col("vec_id") >= 400)
    orig_commit = index._commit
    state = {"fired": False}

    def racing_commit(commit):
        if "replaces" in commit and not state["fired"]:
            state["fired"] = True
            index.append(late, txn_id="late-epoch")  # lands mid-compaction
        return orig_commit(commit)

    index._commit = racing_commit
    n_before = index.corpus().count()
    index.compact()
    assert state["fired"]
    assert index.corpus().count() == n_before + late.count()
    # the late epoch is still live AND its replay still dedupes
    assert index.append(late, txn_id="late-epoch") == 0


def test_build_refuses_populated_path(spark, tmp_path):
    emb = _emb(spark)
    _build(spark, tmp_path, docs=emb)
    with pytest.raises(ValueError, match="fresh path"):
        _build(spark, tmp_path, docs=emb)


@pytest.mark.slow  # 23.2s
def test_engine_transactional_index_rebuild_and_swap(spark, tmp_path):
    """build_index(transactional=True) publishes via a CURRENT pointer;
    a rebuild lands in a fresh dir and swaps the pointer; open_index
    attaches a fresh engine and heals missed rows before earning the
    staleness token."""
    import os

    from converttovectordb_spark.engine import VectorEngine

    repo = tmp_path / "repo"
    repo.mkdir()
    for i, text in enumerate(
        [
            "alpha document about spark joins",
            "shuffle partitions and broadcast sides",
            "catalyst pushes filters into the parquet scan",
            "watermarks bound streaming state growth",
        ]
    ):
        (repo / f"f{i}.txt").write_text(text)

    eng = VectorEngine(spark, str(tmp_path / "store"), dim=16)
    eng.ingest(str(repo))
    eng.build_index(num_clusters=2, transactional=True)
    hits = eng.search_indexed("broadcast sides", top_k=2, nprobe=2)
    assert hits.count() >= 1
    first_dir = eng._index.path

    # rebuild: fresh dir, pointer swapped, old dir untouched on disk
    eng.build_index(num_clusters=2, transactional=True)
    assert eng._index.path != first_dir
    assert os.path.isdir(first_dir)
    cur = open(
        os.path.join(str(tmp_path / "store") + "_tivf", "CURRENT")
    ).read()
    assert cur == eng._index.path

    # fresh-process attach: new engine, more data, open_index heals
    repo2 = tmp_path / "repo2"
    repo2.mkdir()
    (repo2 / "new.txt").write_text("a brand new late-arriving document")
    eng2 = VectorEngine(spark, str(tmp_path / "store"), dim=16)
    eng2.ingest(str(repo2))
    eng2.open_index()
    assert eng2._index.corpus().count() == eng2.store.load().count()
    got = eng2.search_indexed("late-arriving", top_k=3, nprobe=2)
    assert any("new.txt" in r.path for r in got.collect())


@pytest.mark.slow  # 11.4s
def test_maybe_retrain_rebuilds_on_drift(spark, tmp_path):
    """VERDICT r9 #3: the drift→retrain wiring. Below threshold the
    verb is a no-op; injected drift triggers a rebuild that advances
    CURRENT atomically (old dir intact); an immediate replay is a
    no-op again because the rebuild re-trained the geometry —
    idempotence by measurement, not by memory."""
    import os

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
    eng.build_index(num_clusters=2, transactional=True)
    first_dir = eng._index.path

    rep = eng.maybe_retrain(0.5)
    assert rep["retrained"] is False and rep["max_shift"] <= 0.5
    assert eng._index.path == first_dir

    # inject drift: a mass of far-away rows pulls one cluster's mean
    eng.store.append(
        mkdocs("drift", [[6.0, 6.0, 0.01 * i, 0.0] for i in range(30)])
    )
    rep = eng.maybe_retrain(0.5)
    assert rep["retrained"] is True and rep["max_shift"] > 0.5
    assert rep["clusters"] == 2
    new_dir = eng._index.path
    assert new_dir != first_dir and os.path.isdir(first_dir)
    cur = open(
        os.path.join(str(tmp_path / "store") + "_tivf", "CURRENT")
    ).read()
    assert cur == new_dir
    # the rebuild indexed the WHOLE current store
    assert eng._index.corpus().count() == eng.store.load().count()

    # replay: geometry now fits the corpus → no-op, pointer unchanged
    rep2 = eng.maybe_retrain(0.5)
    assert rep2["retrained"] is False and rep2["max_shift"] <= 0.5
    assert eng._index.path == new_dir

    # the verb refuses to run without an index
    eng_fresh = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(4), dim=4
    )
    with pytest.raises(RuntimeError, match="no IVF index"):
        eng_fresh.maybe_retrain(0.5)


@pytest.mark.slow  # 13.6s
def test_maybe_retrain_preserves_pq_family(spark, tmp_path):
    """A drift rebuild must carry the index family: PQ (m, k) is
    inferred from the live codebooks when the caller does not pass it."""
    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine

    vecs = [
        [1.0 + 0.1 * i, 0.1 * (i % 3), 0.2 * (i % 5), 0.3 * (i % 7)]
        for i in range(24)
    ]
    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(4), dim=4
    )
    eng.store.append(
        spark.createDataFrame(
            [
                (f"p/f{i}.txt", ".txt", 0, 1, f"doc {i}", v, 0.0)
                for i, v in enumerate(vecs)
            ],
            "path string, extension string, chunk_index int, "
            "total_chunks int, content string, embedding array<float>, "
            "timestamp double",
        )
    )
    eng.build_index(num_clusters=2, transactional=True, pq_m=2, pq_k=4)
    # force the rebuild branch regardless of converged-kmeans residue
    rep = eng.maybe_retrain(-1.0)
    assert rep["retrained"] is True
    assert eng._index.has_pq()
    cb = (
        eng._index.pq_codebooks()
        .agg(
            F.countDistinct("sub").alias("m"), (F.max("code") + 1).alias("k")
        )
        .first()
    )
    assert (cb["m"], cb["k"]) == (2, 4)


def test_engine_open_index_without_publish_raises(spark, tmp_path):
    from converttovectordb_spark.engine import VectorEngine

    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "a.txt").write_text("hello world document")
    eng = VectorEngine(spark, str(tmp_path / "store"), dim=16)
    eng.ingest(str(repo))
    with pytest.raises(RuntimeError, match="no published"):
        eng.open_index()


def test_open_index_unverified_token_blocks_search(spark, tmp_path):
    """refresh=False attaches WITHOUT earning the staleness token — the
    unverified sentinel must fail the guard (None == None for an
    absent/cleared store would otherwise silently pass it)."""
    from converttovectordb_spark.engine import VectorEngine

    repo = tmp_path / "repo"
    repo.mkdir()
    for i in range(3):
        (repo / f"f{i}.txt").write_text(f"document {i} about spark " * 10)
    eng = VectorEngine(spark, str(tmp_path / "store"), dim=16)
    eng.ingest(str(repo))
    eng.build_index(num_clusters=2, transactional=True)

    eng2 = VectorEngine(spark, str(tmp_path / "store"), dim=16)
    eng2.open_index(refresh=False)
    with pytest.raises(RuntimeError, match="stale"):
        eng2.search_indexed("spark", top_k=2)
    # explicit opt-in still serves the attached snapshot
    assert (
        eng2.search_indexed("spark", top_k=2, allow_stale=True).count() >= 1
    )


def test_vacuum_reclaims_superseded_dirs_keeps_replay_dedup(spark, tmp_path):
    import os

    emb = _emb(spark)
    index = _build(spark, tmp_path, docs=emb.filter(F.col("vec_id") < 300))
    index.append(
        emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)),
        txn_id="e1",
    )
    n = index.corpus().count()
    index.compact()
    removed = index.vacuum()
    assert removed >= 2  # the two pre-compaction corpus dirs
    # results unchanged, superseded dirs gone, manifests kept
    assert index.corpus().count() == n
    ms = index._manifests()
    assert len(ms) == 3  # v0, v1, compaction commit
    for v in index._live_of(ms):
        assert os.path.isdir(ms[v]["corpus_dir"])
    # a vacuumed epoch replay must STILL be a no-op
    assert (
        index.append(
            emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)),
            txn_id="e1",
        )
        == 0
    )
    assert index.vacuum() == 0  # idempotent


def test_concurrent_index_appends_all_commit(spark, tmp_path):
    """Racing appenders: the O_EXCL manifest protocol must give every
    writer a distinct version with no rows lost (same contract the
    store's concurrent-writers test pins)."""
    import threading

    emb = _emb(spark)
    index = _build(spark, tmp_path, docs=emb.filter(F.col("vec_id") < 100))
    errs: list = []

    def work(lo: int):
        try:
            index.append(
                emb.filter(
                    (F.col("vec_id") >= lo) & (F.col("vec_id") < lo + 100)
                )
            )
        except Exception as e:  # pragma: no cover - failure reporting
            errs.append(e)

    threads = [
        threading.Thread(target=work, args=(lo,))
        for lo in (100, 200, 300, 400)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errs == []
    assert index.version() == 4  # build + 4 racing appends
    assert index.corpus().count() == emb.count()
    ms = index._manifests()
    assert len({m["corpus_dir"] for m in ms.values()}) == 5


def test_commit_rechecks_txn_dedup_at_create_time(spark, tmp_path):
    """The manifest commit re-checks the txn id just before O_EXCL —
    a caller whose early dedup check went stale (concurrent identical
    heal) must become a no-op commit, not a duplicate version."""
    emb = _emb(spark)
    index = _build(spark, tmp_path, docs=emb.filter(F.col("vec_id") < 300))
    index.append(emb.filter(F.col("vec_id") >= 300), txn_id="heal-x")
    v = index.version()
    assert (
        index._commit({"corpus_dir": "/nonexistent", "rows": 0,
                       "txn_id": "heal-x"})
        == -1
    )
    assert index.version() == v  # nothing new committed


@pytest.mark.slow  # 8.0s
def test_blind_reingest_store_builds_unique_index(spark, tmp_path):
    """Duplicate (path, chunk_index) rows from a blind re-ingest must
    collapse (newest copy) at index build AND on the heal path, so
    search_indexed never returns the same chunk at two ranks."""
    from converttovectordb_spark.engine import VectorEngine

    repo = tmp_path / "repo"
    repo.mkdir()
    for i in range(3):
        (repo / f"f{i}.txt").write_text(f"document {i} about spark " * 10)
    eng = VectorEngine(spark, str(tmp_path / "store"), dim=16)
    eng.ingest(str(repo))
    eng.ingest(str(repo))  # blind re-ingest: duplicated rows
    store_rows = eng.store.load().count()
    eng.build_index(num_clusters=2, transactional=True)
    corpus = eng._index.corpus()
    assert corpus.count() == corpus.select("_row_id").distinct().count()
    assert corpus.count() < store_rows
    hits = eng.search_indexed("spark", top_k=4, nprobe=2).collect()
    ids = [f"{r.path}#{r.chunk_index}" for r in hits]
    assert len(ids) == len(set(ids))  # no chunk at two ranks

    # heal path: another blind double-ingest, then append_to_index
    repo2 = tmp_path / "repo2"
    repo2.mkdir()
    (repo2 / "new.txt").write_text("a late document about joins " * 10)
    eng.ingest(str(repo2))
    eng.ingest(str(repo2))
    eng.append_to_index()
    corpus = eng._index.corpus()
    assert corpus.count() == corpus.select("_row_id").distinct().count()


@pytest.mark.slow  # 6.0s
def test_carry_txn_ids_dedups_and_is_invisible_to_readers(spark, tmp_path):
    """A carried-txn commit (rebuild inheritance) blocks replays of the
    predecessor's epochs but contributes no rows, no histogram noise,
    and survives compaction of everything around it."""
    emb = _emb(spark)
    old = _build(spark, tmp_path, docs=emb.filter(F.col("vec_id") < 300))
    old.append(
        emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)),
        txn_id="e0",
    )
    fresh = TransactionalIVFIndex.build(
        emb.filter(F.col("vec_id") < 400),
        str(tmp_path / "tivf2"),
        num_clusters=4,
        seed=7,
    )
    n = fresh.corpus().count()
    assert fresh.carry_txn_ids(old.committed_txn_ids()) >= 0
    assert "e0" in fresh.committed_txn_ids()
    # the carried epoch replays as a no-op on the NEW index
    assert (
        fresh.append(
            emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)),
            txn_id="e0",
        )
        == 0
    )
    assert fresh.corpus().count() == n
    # readers and stats are untouched by the data-less commit
    stats = fresh.cluster_stats()
    assert stats is not None and stats["n_docs"] == n
    # re-carrying the same ids is a no-op commit
    assert fresh.carry_txn_ids(old.committed_txn_ids()) == -1
    # compaction coexists: fold, then the carried dedup still holds
    fresh.append(emb.filter(F.col("vec_id") >= 400), txn_id="e1")
    fresh.compact()
    assert (
        fresh.append(
            emb.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 400)),
            txn_id="e0",
        )
        == 0
    )


@pytest.mark.slow  # 8.6s
def test_stream_indexed_retrain_on_drift(spark, tmp_path):
    """Injected-drift streaming retrain: an epoch of off-manifold docs
    pushes the drift report past the threshold → EXACTLY ONE
    rebuild-and-swap inside the stream; post-swap epoch replays stay
    no-ops on BOTH sinks (txn-id carry), and an immediate re-check
    does not rebuild again (idempotence by measurement)."""
    import json
    import os

    from converttovectordb_spark.sources.chunker import chunk_embed
    from converttovectordb_spark.sources.store import (
        TransactionalDocumentStore,
    )
    from converttovectordb_spark.streaming.jobs import (
        retrain_index_if_drifted,
        stream_ingest_indexed,
        stream_txn_id,
    )

    def _kw_embedder(texts):
        # deterministic keyword embedder (dim 4): geometric drift
        # control — AAA/BBB/CCC content maps to fixed axes. Nested so
        # cloudpickle ships it by VALUE (a module-level test function
        # is pickled by reference, which Spark workers cannot import).
        import numpy as np

        out = []
        for t in texts:
            v = [0.0, 0.0, 0.0, 0.0]
            if "AAA" in t:
                v[0] = 1.0
            elif "BBB" in t:
                v[1] = 1.0
            elif "CCC" in t:
                v[2] = 1.0
            else:
                v[3] = 1.0
            out.append(v)
        return np.asarray(out)

    store = TransactionalDocumentStore(spark, str(tmp_path / "store"))
    seed_raw = spark.createDataFrame(
        [("a.txt", "txt", "AAA seed doc"), ("b.txt", "txt", "BBB seed doc")],
        "path string, extension string, content string",
    )
    seed = chunk_embed(
        seed_raw, chunk_size=200, overlap=50,
        embedder=_kw_embedder, dim=4,
    ).withColumn("timestamp", F.lit(0.0))
    store.append(seed)
    base = str(tmp_path / "tivf_base")
    os.makedirs(base)
    first_dir = os.path.join(base, "v0")
    index = TransactionalIVFIndex.build(
        store.load(), first_dir, num_clusters=2
    )
    TransactionalIVFIndex.publish_current(base, first_dir)

    drop = tmp_path / "drop"
    drop.mkdir()
    recs = [
        {"path": f"c{i}.txt", "extension": "txt",
         "content": f"CCC drift doc {i}"}
        for i in range(6)
    ]
    (drop / "b1.json").write_text("\n".join(json.dumps(r) for r in recs))
    ckpt = str(tmp_path / "ckpt")
    q = stream_ingest_indexed(
        spark, str(drop), store, index, ckpt,
        embedder=_kw_embedder, dim=4, chunk_size=200, overlap=50,
        retrain_shift_threshold=0.5,
    )
    q.awaitTermination(180)

    # exactly one rebuild: CURRENT moved off v0, exactly one new dir
    with open(os.path.join(base, "CURRENT")) as fh:
        cur = fh.read().strip()
    assert cur != first_dir
    dirs = [
        d for d in os.listdir(base)
        if os.path.isdir(os.path.join(base, d))
    ]
    assert len(dirs) == 2, dirs
    new_index = TransactionalIVFIndex.open_current(spark, base)
    n_store = store.load().count()
    assert new_index.corpus().count() == n_store == 8

    # stale-epoch dedup preserved across the swap: replay epoch 0
    docs = chunk_embed(
        spark.read.schema(
            "path string, extension string, content string"
        ).json(str(drop)),
        chunk_size=200, overlap=50,
        embedder=_kw_embedder, dim=4,
    ).withColumn("timestamp", F.lit(0.0))
    txn = stream_txn_id(ckpt, 0)
    assert store.append(docs, txn_id=txn) == 0
    assert new_index.append(docs, txn_id=txn) == 0
    assert new_index.corpus().count() == n_store

    # idempotent by measurement: post-rebuild drift is under threshold
    again = retrain_index_if_drifted(store, new_index, 0.5)
    assert again.path == new_index.path


@pytest.mark.slow  # 9.3s
def test_engine_rebuild_carries_txn_ids(spark, tmp_path):
    """The OFFLINE rebuild path (`build_index(transactional=True)` /
    `maybe_retrain`) carries the replaced index's txn ids exactly like
    the streaming retrain: after a forced retrain, a replay of a
    pre-rebuild epoch stays a no-op on the new manifest."""
    from converttovectordb_spark.engine import VectorEngine
    from converttovectordb_spark.sources.chunker import chunk_embed

    eng = VectorEngine(
        spark, str(tmp_path / "store"), dim=16, transactional=True
    )
    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "a.txt").write_text("alpha corpus document " * 30)
    (repo / "b.txt").write_text("beta corpus document " * 30)
    eng.ingest(str(repo))
    eng.build_index(num_clusters=2, transactional=True)

    # one manifest-committed epoch on the live index
    batch_raw = spark.createDataFrame(
        [("c.txt", ".txt", "gamma streamed document " * 30)],
        "path string, extension string, content string",
    )
    batch = chunk_embed(
        batch_raw, chunk_size=200, overlap=50,
        embedder=eng.embedder, dim=16,
    ).withColumn("timestamp", F.lit(1.0)).withColumn(
        "_row_id", F.concat_ws("#", F.col("path"), F.col("chunk_index"))
    )
    store_cols = [
        "path", "extension", "chunk_index", "total_chunks",
        "content", "embedding", "timestamp",
    ]
    eng.store.append(batch.select(*store_cols), txn_id="epoch-7")
    old = eng._index
    old.append(batch, txn_id="epoch-7")
    n_old = old.corpus().count()

    # forced retrain (threshold below any measurable drift)
    rep = eng.maybe_retrain(-1.0)
    assert rep["retrained"]
    new = eng._index
    assert new.path != old.path
    assert "epoch-7" in new.committed_txn_ids()
    # replayed epoch no-ops on the NEW manifest
    assert new.append(batch, txn_id="epoch-7") == 0
    assert new.corpus().count() == n_old


@pytest.mark.slow  # 16.3s
def test_stream_retrain_carries_recall_curve(spark, tmp_path):
    """r12 (VERDICT #1 / ADVICE jobs.py:121): the streaming drift
    retrain re-measures the persisted recall curve on the rebuilt
    index under the old stamped contract, so
    `nprobe_for_recall(target)` resolves on the new CURRENT without a
    manual re-measure — and stays absent when never measured."""
    import os

    from converttovectordb_spark.plans.ivf_index import (
        measure_recall_curve,
    )
    from converttovectordb_spark.sources.store import (
        TransactionalDocumentStore,
    )
    from converttovectordb_spark.streaming.jobs import (
        retrain_index_if_drifted,
    )

    def mk(rows):
        return spark.createDataFrame(
            [
                (p, ".txt", 0, 1, f"doc {p}", v, 0.0)
                for p, v in rows
            ],
            "path string, extension string, chunk_index int, "
            "total_chunks int, content string, embedding array<double>, "
            "timestamp double",
        )

    store = TransactionalDocumentStore(spark, str(tmp_path / "store"))
    seed = mk(
        [
            (f"s{i}.txt", [1.0 + 0.01 * i, 0.01 * i, 0.0, 0.0])
            for i in range(10)
        ]
        + [
            (f"t{i}.txt", [0.01 * i, 1.0 + 0.01 * i, 0.0, 0.0])
            for i in range(10)
        ]
    )
    store.append(seed)
    base = str(tmp_path / "tivf")
    os.makedirs(base)
    first_dir = os.path.join(base, "v0")
    index = TransactionalIVFIndex.build(
        store.load(), first_dir, num_clusters=2
    )
    TransactionalIVFIndex.publish_current(base, first_dir)
    measure_recall_curve(index, top_k=3, sample=6, doc_id_col="path")
    assert index.recall_curve() is not None

    # inject drift, then run the per-epoch retrain step directly
    store.append(
        mk([(f"d{i}.txt", [6.0, 6.0, 0.01 * i, 0.0]) for i in range(30)])
    )
    new_index = retrain_index_if_drifted(store, index, 0.5)
    assert new_index.path != index.path
    fresh = new_index.recall_curve()
    assert fresh is not None
    assert fresh["top_k"] == 3
    assert fresh["requested_sample"] == 6
    assert fresh["doc_id_col"] == "path"
    assert fresh["measured_n_docs"] == store.load().count() == 50
    # the knob resolves on the published index with zero manual steps
    cur = TransactionalIVFIndex.open_current(spark, base)
    assert cur.nprobe_for_recall(1.0) >= 1

    # curve-less twin: a retrain must not invent a measurement
    base2 = str(tmp_path / "tivf2")
    os.makedirs(base2)
    bare_dir = os.path.join(base2, "v0")
    bare = TransactionalIVFIndex.build(
        store.load().filter(~F.col("path").startswith("d")),
        bare_dir,
        num_clusters=2,
    )
    TransactionalIVFIndex.publish_current(base2, bare_dir)
    bare_new = retrain_index_if_drifted(store, bare, 0.5)
    assert bare_new.path != bare.path
    assert bare_new.recall_curve() is None
