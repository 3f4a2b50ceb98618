"""Adaptive ADC shortlist from persisted shortlist→recall curves.

r12 (VERDICT #4): the IVFADC plan's second magic knob gets the nprobe
treatment — build time measures recall@k vs ``adc_shortlist`` against
the exact-rerank path at the same nprobe and persists the curve beside
the codebooks; ``adc_shortlist_for_recall(target)`` resolves the
measured minimal shortlist; ``VectorEngine.search_indexed(
target_adc_recall=...)`` consumes it, with an explicit shortlist always
winning; rebuild-and-swap retrains re-measure under the old contract.
"""

from __future__ import annotations

import warnings

import pytest
from pyspark.sql import functions as F

from converttovectordb_spark.plans.ivf_index import (
    ADC_CURVE_FILE,
    build_ivf_index,
    measure_adc_curve,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def pq_index(spark, tmp_path_factory):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return build_ivf_index(
        emb,
        str(tmp_path_factory.mktemp("adc") / "ivfpq"),
        cluster_col="label",
        pq_m=4,
        pq_k=8,
        pq_id_cols=("vec_id",),
    )


@pytest.mark.slow  # 79.3s
def test_curve_is_persisted_monotone_and_ends_exact(pq_index):
    import os

    payload = measure_adc_curve(pq_index, top_k=3, nprobe=2, sample=8)
    assert os.path.exists(os.path.join(pq_index.path, ADC_CURVE_FILE))
    assert pq_index.adc_curve() == payload
    curve = payload["curve"]
    shortlists = [c["shortlist"] for c in curve]
    recalls = [c["recall"] for c in curve]
    assert shortlists == sorted(shortlists)
    assert len(set(shortlists)) == len(shortlists)
    # monotone non-decreasing: a larger shortlist is a prefix-superset
    # of a smaller one under the deterministic ADC ordering
    assert all(a <= b for a, b in zip(recalls, recalls[1:])), curve
    # endpoint shortlists the whole corpus → exact path → recall 1.0
    assert shortlists[-1] == payload["measured_n_docs"]
    assert recalls[-1] == 1.0
    # contract stamps for staleness + rebuild re-measurement
    assert payload["nprobe"] == 2
    assert payload["requested_sample"] == 8
    assert payload["doc_id_col"] == "vec_id"
    # determinism: hash-ordered sample → same curve again
    assert measure_adc_curve(pq_index, top_k=3, nprobe=2, sample=8) == payload


# depends on the curve persisted by test_curve_is_persisted_* above
@pytest.mark.slow
def test_shortlist_resolution_and_validation(spark, pq_index, tmp_path):
    curve = pq_index.adc_curve()["curve"]
    want = min(c["shortlist"] for c in curve if c["recall"] >= 1.0)
    assert pq_index.adc_shortlist_for_recall(1.0) == want
    with pytest.raises(ValueError, match="target_recall"):
        pq_index.adc_shortlist_for_recall(0.0)
    with pytest.raises(ValueError, match="target_recall"):
        pq_index.adc_shortlist_for_recall(1.5)
    # no curve → loud error, never a guess
    from converttovectordb_spark.plans.ivf_index import IVFIndex

    bare = IVFIndex(spark, str(tmp_path / "bare"))
    with pytest.raises(ValueError, match="no ADC shortlist curve"):
        bare.adc_shortlist_for_recall(0.9)
    # a non-PQ index refuses to measure
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    plain = build_ivf_index(
        emb, str(tmp_path / "plain"), cluster_col="label"
    )
    with pytest.raises(ValueError, match="PQ-enabled"):
        measure_adc_curve(plain)


@pytest.mark.slow  # 29.9s
def test_staleness_budget(spark, tmp_path):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    idx = build_ivf_index(
        emb,
        str(tmp_path / "ivfpq"),
        cluster_col="label",
        pq_m=4,
        pq_k=8,
        pq_id_cols=("vec_id",),
    )
    measure_adc_curve(idx, top_k=3, nprobe=2, sample=6)
    assert idx.adc_curve_staleness()["growth"] == 0.0
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        idx.adc_shortlist_for_recall(0.9)
    n0 = emb.count()
    batch = emb.limit(max(1, n0 // 2)).withColumn(
        "vec_id", F.col("vec_id") + 1_000_000
    )
    idx.append(batch, cluster_col="label")
    assert idx.adc_curve_staleness()["growth"] > 0.25
    with pytest.warns(RuntimeWarning, match="stale"):
        idx.adc_shortlist_for_recall(0.9)
    with pytest.raises(ValueError, match="stale"):
        idx.adc_shortlist_for_recall(0.9, strict=True)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        idx.adc_shortlist_for_recall(0.9, max_growth=1.0)


def _mkdocs(spark, tag, vecs):
    return spark.createDataFrame(
        [
            (f"{tag}/f{i}.txt", ".txt", 0, 1, f"{tag} doc {i}", v, 0.0)
            for i, v in enumerate(vecs)
        ],
        "path string, extension string, chunk_index int, "
        "total_chunks int, content string, embedding array<float>, "
        "timestamp double",
    )


@pytest.mark.slow  # 41.8s
def test_engine_target_adc_recall_and_retrain_carry(spark, tmp_path):
    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine

    base_vecs = [
        [1.0 + 0.01 * i, 0.01 * i, 0.2, 0.1] for i in range(10)
    ] + [[0.01 * i, 1.0 + 0.01 * i, 0.1, 0.2] for i in range(10)]
    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(4), dim=4
    )
    eng.store.append(_mkdocs(spark, "base", base_vecs))
    eng.build_index(
        num_clusters=2,
        transactional=True,
        pq_m=2,
        pq_k=4,
        adc_recall_sample=4,
    )
    payload = eng._index.adc_curve()
    assert payload is not None and payload["doc_id_col"] == "_row_id"

    resolved = eng._index.adc_shortlist_for_recall(1.0)
    via_target = eng.search_indexed(
        "base doc", top_k=3, nprobe=2, target_adc_recall=1.0
    ).collect()
    via_explicit = eng.search_indexed(
        "base doc", top_k=3, nprobe=2, adc_shortlist=resolved
    ).collect()
    assert [tuple(r) for r in via_target] == [
        tuple(r) for r in via_explicit
    ]

    # explicit shortlist WINS: consultation becomes an error
    def boom(*a, **k):
        raise AssertionError("curve consulted despite explicit shortlist")

    eng._index.adc_shortlist_for_recall = boom
    assert (
        eng.search_indexed(
            "base doc",
            top_k=3,
            nprobe=2,
            adc_shortlist=4,
            target_adc_recall=1.0,
        ).collect()
        is not None
    )
    del eng._index.adc_shortlist_for_recall  # restore the class method

    # a probe-width mismatch between the curve's stamp and the serving
    # nprobe is surfaced (the shortlist's recall is conditional on it)
    with pytest.warns(RuntimeWarning, match="nprobe"):
        eng.search_indexed(
            "base doc", top_k=3, nprobe=1, target_adc_recall=1.0
        ).collect()

    # drift retrain re-measures the ADC curve under the old contract
    eng.store.append(
        _mkdocs(
            spark,
            "drift",
            [[6.0, 6.0, 0.01 * i, 0.3] for i in range(30)],
        )
    )
    rep = eng.maybe_retrain(0.5)
    assert rep["retrained"] is True
    fresh = eng._index.adc_curve()
    assert fresh is not None
    assert fresh["requested_sample"] == payload["requested_sample"]
    assert fresh["measured_n_docs"] == eng.store.load().count()
    assert (
        eng.search_indexed(
            "base doc", top_k=3, nprobe=2, target_adc_recall=1.0
        ).collect()
        is not None
    )
