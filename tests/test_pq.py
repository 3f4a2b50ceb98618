"""Product-quantization codec: training, encoding, ADC scoring, and
the recall query's two dials (pure ADC vs shortlist rerank)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

M, K = 4, 8
DIM = 16


@pytest.fixture(scope="module")
def corpus(spark):
    import random

    rng = random.Random(11)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(DIM)]) for i in range(300)
    ]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    )


def test_train_encode_shapes(spark, corpus):
    from converttovectordb_spark.plans.pq_index import (
        codebooks_df,
        pq_encode,
        train_pq,
    )

    models = train_pq(corpus, m=M, k=K, seed=3, max_iter=10)
    assert len(models) == M
    books = codebooks_df(spark, models)
    assert books.count() == M * K
    ds = DIM // M
    assert all(len(r["centroid"]) == ds for r in books.collect())

    coded = pq_encode(corpus, models)
    rows = coded.select("vec_id", "codes").collect()
    assert len(rows) == 300
    for r in rows:
        assert len(r["codes"]) == M
        assert all(0 <= c < K for c in r["codes"])
    # codec must not disturb the input columns
    assert set(coded.columns) == {"vec_id", "embedding", "codes"}


def test_adc_score_matches_reconstruction_dot(spark, corpus):
    """ADC score via the literal-lut codegen expression must equal the
    dot of the normalized query with the reconstructed (decoded)
    normalized vector, computed independently in Python."""
    import math

    from converttovectordb_spark.plans.pq_index import (
        adc_lut,
        adc_score,
        codebooks_df,
        pq_encode,
        train_pq,
    )

    models = train_pq(corpus, m=M, k=K, seed=3, max_iter=10)
    books = codebooks_df(spark, models)
    book_rows = books.collect()
    cent = {(r["sub"], r["code"]): list(r["centroid"]) for r in book_rows}

    q = [float(i % 5 - 2) for i in range(DIM)]
    lut = adc_lut(q, book_rows, m=M, k=K)

    coded = pq_encode(corpus, models).limit(50)
    got = {
        r["vec_id"]: r["s"]
        for r in coded.select(
            "vec_id", adc_score(lut, K).alias("s")
        ).collect()
    }

    qn = math.sqrt(sum(x * x for x in q))
    qq = [x / qn for x in q]
    for r in coded.select("vec_id", "codes").collect():
        recon = []
        for s, c in enumerate(r["codes"]):
            recon.extend(cent[(s, c)])
        want = sum(a * b for a, b in zip(qq, recon))
        assert got[r["vec_id"]] == pytest.approx(want, abs=1e-12)


def test_train_rejects_bad_shapes(spark, corpus):
    from converttovectordb_spark.plans.pq_index import train_pq

    with pytest.raises(ValueError, match="not divisible"):
        train_pq(corpus, m=5, k=K)
    empty = spark.createDataFrame(
        [], "vec_id bigint, embedding array<double>"
    )
    with pytest.raises(ValueError, match="empty"):
        train_pq(empty, m=M, k=K)


def test_ivfadc_end_to_end_recall(spark):
    """The composed IVFADC serving query (probe -> ADC shortlist ->
    exact rerank) must clear the measured recall bar against exact
    brute force (0.708 at both test SFs; slack for kmeans variation),
    and its per-query output must be exactly top-3 ranked rows."""
    from converttovectordb_spark.operators.search import knn_join
    from converttovectordb_spark.queries import load, q_ivfadc_knn

    sf = "/root/testdata/sf0.001"
    rows = q_ivfadc_knn(spark, sf).collect()
    by_q = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(range(8))
    for q, rs in by_q.items():
        assert sorted(r.rank for r in rs) == [1, 2, 3]
        scores = [r.score for r in sorted(rs, key=lambda r: r.rank)]
        assert scores == sorted(scores, reverse=True)

    emb = load(spark, sf, "embeddings")
    probes = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    exact = {
        (r.query_id, r.vec_id)
        for r in knn_join(probes, emb, top_k=3).collect()
    }
    got = {(r.query_id, r.vec_id) for r in rows}
    assert len(exact & got) / len(exact) >= 0.55


@pytest.mark.slow  # 36.4s
def test_engine_ivfadc_index_path(spark, tmp_path, corpus):
    """build_ivf_index(pq_m=...) materializes the cluster-partitioned
    codes table; search(adc_shortlist=N) returns the same top hit as
    the exact IVF path on the same probed clusters, and a generous
    shortlist reproduces the IVF result exactly (the shortlist only
    reorders which rows get exact-scored, never the exact scores)."""
    from converttovectordb_spark.plans.ivf_index import build_ivf_index

    idx = build_ivf_index(
        corpus,
        str(tmp_path / "ivfadc"),
        num_clusters=4,
        seed=3,
        pq_m=M,
        pq_k=K,
        pq_id_cols=("vec_id",),
    )
    assert idx.has_pq()
    codes = idx.pq_codes()
    assert set(codes.columns) == {"vec_id", "codes", "cluster_id"}

    probes = corpus.limit(3).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    exact_ivf = idx.search(probes, top_k=3, nprobe=2).collect()
    adc = idx.search(probes, top_k=3, nprobe=2, adc_shortlist=300).collect()
    # shortlist covers every probed row → identical results
    key = lambda r: (r["query_id"], r["rank"])  # noqa: E731
    assert sorted(
        (r["query_id"], r["rank"], r["vec_id"]) for r in exact_ivf
    ) == sorted((r["query_id"], r["rank"], r["vec_id"]) for r in adc)
    for a, b in zip(sorted(exact_ivf, key=key), sorted(adc, key=key)):
        assert a["score"] == pytest.approx(b["score"], abs=1e-12)

    # tight shortlist still finds each query's own vector first
    tight = idx.search(probes, top_k=1, nprobe=2, adc_shortlist=5).collect()
    assert {(r["query_id"], r["vec_id"]) for r in tight} == {
        (r["query_id"], r["query_id"]) for r in probes.collect()
    }

    # empty queries: ADC mode returns empty like the exact mode (no
    # IndexError from zero shortlist legs)
    empty = probes.limit(0)
    assert idx.search(empty, top_k=3, nprobe=2, adc_shortlist=5).count() == 0
    assert idx.search(empty, top_k=3, nprobe=2).count() == 0

    # adc_shortlist on a PQ-less index raises
    plain = build_ivf_index(
        corpus, str(tmp_path / "plain"), num_clusters=4, seed=3
    )
    with pytest.raises(ValueError, match="PQ-enabled"):
        plain.search(probes, top_k=1, adc_shortlist=5)


@pytest.mark.slow  # 17.0s
def test_adc_query_batch_guard(spark, tmp_path, corpus, monkeypatch):
    """The IVFADC mode builds one driver-side plan leg per query, so a
    curation-sized query batch must be refused loudly (pointing at the
    shuffled corpus-scale join), not accepted into a Q-legged plan.
    The exact (non-ADC) mode has no such cap. The cap is patched small
    so the boundary case stays a fast test."""
    import converttovectordb_spark.plans.ivf_index as ivf_mod

    idx = ivf_mod.build_ivf_index(
        corpus,
        str(tmp_path / "ivfadc_guard"),
        num_clusters=4,
        seed=3,
        pq_m=M,
        pq_k=K,
        pq_id_cols=("vec_id",),
    )
    monkeypatch.setattr(ivf_mod, "ADC_MAX_QUERIES", 4)
    big = corpus.limit(5).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    with pytest.raises(ValueError, match="ivf_knn_join_shuffled"):
        idx.search(big, top_k=1, nprobe=1, adc_shortlist=5)
    # at the cap exactly: allowed
    at_cap = corpus.limit(4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    assert (
        idx.search(at_cap, top_k=1, nprobe=1, adc_shortlist=5).count() > 0
    )
    # the exact path takes the same batch without a cap
    assert idx.search(big, top_k=1, nprobe=1).count() > 0


def test_pq_recall_query_dials(spark):
    """The suite query: shortlist-rerank recall must dominate pure-ADC
    recall and clear the measured bar (0.75 at both test SFs; slack
    for kmeans partition-order variation)."""
    from converttovectordb_spark.queries import q_pq_recall

    rows = q_pq_recall(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 8
    adc = sum(r.recall_adc for r in rows) / len(rows)
    rr = sum(r.recall_rerank for r in rows) / len(rows)
    assert rr >= adc
    assert rr >= 0.6


def test_train_pq_clamps_k_to_corpus_size(spark):
    """r12: Spark 4.1's block-mode KMeans AIOOBEs when k exceeds the
    row count (hit via CLI build-index --pq-m on a 3-chunk corpus) —
    train_pq clamps k to n with a warning, and the clamped codebook
    stays self-consistent (codes reference only trained centers)."""
    import pytest as _pytest

    from converttovectordb_spark.plans.pq_index import (
        pq_encode,
        train_pq,
    )

    df = spark.createDataFrame(
        [([float(i + j) for j in range(8)],) for i in range(3)],
        "embedding array<double>",
    )
    with _pytest.warns(RuntimeWarning, match="exceeds the corpus size"):
        models = train_pq(df, m=2, k=16, seed=7)
    assert all(len(m.clusterCenters()) <= 3 for m in models)
    coded = pq_encode(df, models).collect()
    k_eff = max(len(m.clusterCenters()) for m in models)
    for r in coded:
        assert all(0 <= c < k_eff for c in r["codes"])
