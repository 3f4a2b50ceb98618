"""Adaptive nprobe from persisted recall curves.

The index's one magic knob becomes a stated contract: build time
measures recall@k vs nprobe on a held-out sample and persists the
curve; ``nprobe_for_recall(target)`` resolves the measured minimal
nprobe; ``VectorEngine.search_indexed(target_recall=...)`` consumes
it, with an explicit nprobe always winning.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from converttovectordb_spark.plans.ivf_index import (
    RECALL_CURVE_FILE,
    build_ivf_index,
    measure_recall_curve,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def index(spark, tmp_path_factory):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return build_ivf_index(
        emb,
        str(tmp_path_factory.mktemp("rc") / "ivf"),
        cluster_col="label",
    )


def test_curve_is_persisted_monotone_and_ends_exact(index):
    payload = measure_recall_curve(index, top_k=3, sample=12)
    assert os.path.exists(os.path.join(index.path, RECALL_CURVE_FILE))
    assert index.recall_curve() == payload
    curve = payload["curve"]
    nprobes = [c["nprobe"] for c in curve]
    recalls = [c["recall"] for c in curve]
    assert nprobes == sorted(nprobes) and len(set(nprobes)) == len(nprobes)
    # monotone non-decreasing: probing more clusters only adds
    # candidates, and a true top-k member always survives re-scoring
    assert all(a <= b for a, b in zip(recalls, recalls[1:])), curve
    # the endpoint probes every cluster — an exact scan, recall 1.0,
    # so every target is resolvable
    assert nprobes[-1] == index.centroids().count()
    assert recalls[-1] == 1.0
    # determinism: the hash-ordered sample gives the same curve again
    assert measure_recall_curve(index, top_k=3, sample=12) == payload


def test_nprobe_for_recall_resolves_minimal_measured(index):
    curve = index.recall_curve()["curve"]
    # target 1.0 → the first measured point that reaches 1.0
    want = min(c["nprobe"] for c in curve if c["recall"] >= 1.0)
    assert index.nprobe_for_recall(1.0) == want
    # a target just above a mid-curve point resolves to the NEXT point
    rising = [
        (a, b) for a, b in zip(curve, curve[1:]) if b["recall"] > a["recall"]
    ]
    assert rising, f"flat curve cannot exercise resolution: {curve}"
    lo, hi = rising[0]
    target = (lo["recall"] + hi["recall"]) / 2
    got = index.nprobe_for_recall(target)
    assert got == min(
        c["nprobe"] for c in curve if c["recall"] >= target
    )
    assert got > lo["nprobe"]


def test_nprobe_for_recall_validation_and_fallback(spark, index, tmp_path):
    with pytest.raises(ValueError, match="target_recall"):
        index.nprobe_for_recall(0.0)
    with pytest.raises(ValueError, match="target_recall"):
        index.nprobe_for_recall(1.5)
    # unreachable target on a hand-truncated curve → largest measured
    from converttovectordb_spark.plans.ivf_index import IVFIndex

    stub_dir = str(tmp_path / "stub")
    os.makedirs(stub_dir)
    stub = IVFIndex(spark, stub_dir)
    with open(os.path.join(stub_dir, RECALL_CURVE_FILE), "w") as fh:
        json.dump(
            {"top_k": 3, "sample": 8, "curve": [
                {"nprobe": 1, "recall": 0.4},
                {"nprobe": 2, "recall": 0.7},
            ]},
            fh,
        )
    assert stub.nprobe_for_recall(0.9) == 2
    # no curve at all → loud error, never a guess
    bare = IVFIndex(spark, str(tmp_path / "bare"))
    with pytest.raises(ValueError, match="no recall curve"):
        bare.nprobe_for_recall(0.9)


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


@pytest.mark.slow  # 14.7s
def test_engine_target_recall_resolution_and_explicit_wins(
    spark, tmp_path
):
    from converttovectordb_spark.engine import VectorEngine

    eng = VectorEngine(
        spark, str(tmp_path / "store"), dim=16, chunk_size=200, overlap=40
    )
    eng.ingest(_mini_repo(tmp_path))
    index = eng.build_index(num_clusters=2, recall_sample=4)
    assert index.recall_curve() is not None

    resolved = index.nprobe_for_recall(1.0)
    via_target = eng.search_indexed(
        "embedding vectors", top_k=3, target_recall=1.0
    ).collect()
    via_explicit = eng.search_indexed(
        "embedding vectors", top_k=3, nprobe=resolved
    ).collect()
    assert [tuple(r) for r in via_target] == [
        tuple(r) for r in via_explicit
    ]

    # explicit nprobe WINS: the curve is never consulted when nprobe
    # is given (pinned by making consultation an error)
    def boom(_):
        raise AssertionError("curve consulted despite explicit nprobe")

    index.nprobe_for_recall = boom
    rows = eng.search_indexed(
        "embedding vectors", top_k=3, nprobe=1, target_recall=1.0
    ).collect()
    assert rows is not None

    # neither given → historical default (nprobe=2) still works
    assert (
        eng.search_indexed("embedding vectors", top_k=3).collect()
        is not None
    )


@pytest.mark.slow  # 6.5s
def test_staleness_stamp_and_budget(spark, tmp_path):
    """r12 (VERDICT #1): the curve is stamped with the corpus size at
    measurement; appends past the drift budget make resolution WARN
    (raise under strict=True), and a generous budget stays silent."""
    import warnings

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = build_ivf_index(
        emb, str(tmp_path / "ivf"), cluster_col="label"
    )
    payload = measure_recall_curve(idx, top_k=3, sample=8)
    n0 = emb.count()
    assert payload["measured_n_docs"] == n0
    assert payload["doc_id_col"] == "vec_id"
    assert payload["requested_sample"] == 8
    st = idx.recall_curve_staleness()
    assert st["growth"] == 0.0 and st["current_n_docs"] == n0
    # fresh curve resolves silently
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        idx.nprobe_for_recall(0.9)
    # grow the corpus ~50% (> default 25% budget)
    batch = emb.limit(max(1, n0 // 2)).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    idx.append(batch, cluster_col="label")
    st = idx.recall_curve_staleness()
    assert st["growth"] > 0.25
    with pytest.warns(RuntimeWarning, match="stale"):
        idx.nprobe_for_recall(0.9)
    with pytest.raises(ValueError, match="stale"):
        idx.nprobe_for_recall(0.9, strict=True)
    # explicit generous budget: the caller owns the tradeoff
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        idx.nprobe_for_recall(0.9, max_growth=1.0)


@pytest.mark.slow  # 18.6s
def test_engine_retrain_remeasures_curve(spark, tmp_path):
    """r12 (VERDICT #1): maybe_retrain's rebuild-and-swap re-measures
    the curve under the old stamped contract — target_recall keeps
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
        num_clusters=2, transactional=True, recall_sample=4
    )
    old_payload = eng._index.recall_curve()
    assert old_payload is not None
    old_dir = eng._index.path

    eng.store.append(
        mkdocs("drift", [[6.0, 6.0, 0.01 * i, 0.0] for i in range(30)])
    )
    rep = eng.maybe_retrain(0.5)
    assert rep["retrained"] is True
    assert eng._index.path != old_dir
    fresh = eng._index.recall_curve()
    assert fresh is not None
    # same contract, new corpus stamp
    assert fresh["top_k"] == old_payload["top_k"]
    assert fresh["requested_sample"] == old_payload["requested_sample"]
    assert fresh["measured_n_docs"] == eng.store.load().count()
    # the knob still turns, no manual re-measure
    rows = eng.search_indexed(
        "base doc", top_k=3, target_recall=1.0
    ).collect()
    assert rows

    # curve-less indexes stay curve-less across a retrain: nobody
    # turned the knob, the rebuild must not invent a measurement
    eng2 = VectorEngine(
        spark, str(tmp_path / "store2"), embedder=hash_embedder(4), dim=4
    )
    eng2.store.append(mkdocs("base", base_vecs))
    eng2.build_index(num_clusters=2, transactional=True)
    assert eng2._index.recall_curve() is None
    eng2.store.append(
        mkdocs("drift", [[6.0, 6.0, 0.01 * i, 0.0] for i in range(30)])
    )
    rep2 = eng2.maybe_retrain(0.5)
    assert rep2["retrained"] is True
    assert eng2._index.recall_curve() is None


@pytest.mark.slow  # 11.9s
def test_plain_inplace_rebuild_replaces_stale_curve(spark, tmp_path):
    """A plain (non-transactional) rebuild lands in place, where the
    old _recall_curve.json would survive as a silently stale file —
    build_index must re-measure it under the old contract."""
    from converttovectordb_spark.engine import VectorEngine

    eng = VectorEngine(
        spark, str(tmp_path / "store"), dim=16, chunk_size=200, overlap=40
    )
    eng.ingest(_mini_repo(tmp_path))
    eng.build_index(num_clusters=2, recall_sample=4)
    first = eng._index.recall_curve()
    n0 = first["measured_n_docs"]

    repo2 = tmp_path / "repo2"
    repo2.mkdir()
    for i in range(4):
        (repo2 / f"x{i}.md").write_text(
            f"fresh corpus growth document number {i} with extra text"
        )
    eng.ingest(str(repo2))
    eng.build_index(num_clusters=2)  # rebuild WITHOUT recall_sample
    fresh = eng._index.recall_curve()
    assert fresh is not None
    assert fresh["measured_n_docs"] == eng.store.load().count() > n0
    assert fresh["top_k"] == first["top_k"]
    # and resolution works against the fresh measurement
    assert eng.search_indexed(
        "growth document", top_k=3, target_recall=1.0
    ).collect() is not None


@pytest.mark.slow  # 7.4s
def test_rebuild_publishes_only_after_remeasure(spark, tmp_path, monkeypatch):
    """Transactional rebuild ordering (r12 review fix): the CURRENT
    pointer swaps only AFTER the carried recall curve is re-measured —
    a reader in the old publish→remeasure window used to hit 'no
    recall curve measured', and a crash mid-measure published an index
    that permanently lost the knob. With the re-measure failing, the
    rebuild must raise AND the previously published index (curve
    intact) must still be what open_current resolves."""
    import pytest as _pytest

    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine
    from converttovectordb_spark.plans.ivf_index import (
        TransactionalIVFIndex,
    )

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

    vecs = [[1.0, 0.01 * i, 0.0, 0.0] for i in range(8)] + [
        [0.01 * i, 1.0, 0.0, 0.0] for i in range(8)
    ]
    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(4), dim=4
    )
    eng.store.append(mkdocs("base", vecs))
    eng.build_index(num_clusters=2, transactional=True, recall_sample=4)
    published = TransactionalIVFIndex.open_current(
        spark, f"{eng.store.path}_tivf"
    )
    old_dir = published.path
    assert published.recall_curve() is not None

    def _boom(*a, **kw):
        raise RuntimeError("simulated re-measure crash")

    import converttovectordb_spark.plans.ivf_index as ivf_mod

    monkeypatch.setattr(
        ivf_mod, "remeasure_recall_curve_like", _boom
    )
    eng.store.append(mkdocs("more", [[5.0, 5.0, 0.0, 0.0]] * 4))
    with _pytest.raises(RuntimeError, match="simulated"):
        eng.build_index(num_clusters=2, transactional=True)
    # the crash never published: CURRENT still points at the old dir
    # and its curve still resolves
    still = TransactionalIVFIndex.open_current(
        spark, f"{eng.store.path}_tivf"
    )
    assert still.path == old_dir
    assert still.recall_curve() is not None


def test_release_pins_frees_query_pins(spark):
    """queries._pin persists shared subtrees for the life of the plan;
    a long-lived caller (engine/notebook/server) must be able to drop
    them via pins.release_pins() so repeated query invocations do not
    grow the persisted-RDD set (r15 advisory; the bench's clearCache
    covers only the bench)."""
    from converttovectordb_spark import pins
    from converttovectordb_spark.queries import QUERIES

    sc = spark.sparkContext
    pins.release_pins()
    base = sc._jsc.sc().getPersistentRDDs().size()
    for _ in range(2):
        # dsir_weights still pins (its multi-consumer bucket table won
        # its r16 A/B); the recall family's pins are conf-gated off
        QUERIES["dsir_weights"](spark, SF_DIR).count()
        assert sc._jsc.sc().getPersistentRDDs().size() > base
        assert pins.release_pins() >= 1
        assert sc._jsc.sc().getPersistentRDDs().size() == base
