"""Materialized IVF index: build once, search with partition pruning.

The scale contract under test: after `build_ivf_index`, a search must
(a) return the same rows as the inline IVF join (same centroids, same
tie-breaks), and (b) read ONLY the probed cluster partitions — the
cluster filter must appear in PartitionFilters (directory pruning),
never as a post-scan row filter.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from converttovectordb_spark.operators.search import ivf_knn_join
from converttovectordb_spark.plans import physical_plan
from converttovectordb_spark.plans.ivf_index import build_ivf_index


def _emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def _probes(emb):
    return emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )


def test_indexed_search_matches_inline_ivf(spark, tmp_path):
    emb = _emb(spark)
    index = build_ivf_index(emb, str(tmp_path / "ivf"), cluster_col="label")
    got = index.search(_probes(emb), top_k=3, nprobe=2)
    want = ivf_knn_join(_probes(emb), emb, top_k=3, nprobe=2)
    key = lambda r: (r.query_id, r.rank)
    got_rows = sorted(got.collect(), key=key)
    want_rows = sorted(want.collect(), key=key)
    assert [(r.query_id, r.vec_id, r.rank) for r in got_rows] == [
        (r.query_id, r.vec_id, r.rank) for r in want_rows
    ]
    for g, w in zip(got_rows, want_rows):
        assert abs(g.score - w.score) < 1e-9


def test_index_search_prunes_partitions(spark, tmp_path):
    emb = _emb(spark)
    index = build_ivf_index(emb, str(tmp_path / "ivf"), cluster_col="label")
    probed = index.pruned_corpus([1, 3])
    plan = physical_plan(probed)
    assert "PartitionFilters: [" in plan
    assert "cluster_id" in plan.split("PartitionFilters:")[1].split("]")[0]
    # pruning is real: fewer rows than the full corpus
    assert 0 < probed.count() < index.corpus().count()


def test_centroids_are_materialized_not_recomputed(spark, tmp_path):
    emb = _emb(spark)
    index = build_ivf_index(emb, str(tmp_path / "ivf"), cluster_col="label")
    # the centroid table is a plain parquet scan — C rows, no agg in plan
    plan = physical_plan(index.centroids())
    assert "HashAggregate" not in plan
    assert index.centroids().count() == emb.select("label").distinct().count()


def test_kmeans_index_recall_on_separated_clusters(spark, tmp_path):
    # unlabeled corpus → k-means training; two well-separated clusters
    rows = [(i, [10.0 + i * 0.01, 0.0, 1.0]) for i in range(20)]
    rows += [(100 + i, [0.0, 10.0 + i * 0.01, 1.0]) for i in range(20)]
    docs = spark.createDataFrame(rows, ["vec_id", "embedding"])
    index = build_ivf_index(
        docs, str(tmp_path / "ivf_km"), num_clusters=2, seed=7
    )
    probes = docs.filter(F.col("vec_id").isin(0, 100)).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = index.search(probes, top_k=3, nprobe=1).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r.query_id, []).append(r.vec_id)
    # nprobe=1 must stay inside the query's own cluster
    assert all(v < 100 for v in by_q[0])
    assert all(v >= 100 for v in by_q[100])


def test_engine_indexed_search(spark, tmp_path):
    """build_index + search_indexed on the engine: results agree with
    the brute-force path when nprobe covers the probed cluster."""
    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine

    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "a.py").write_text("def alpha():\n    return 'first'\n" * 20)
    (repo / "b.md").write_text("# beta document\nsecond topic entirely\n" * 10)
    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(32),
        dim=32, chunk_size=400, overlap=50,
    )
    eng.ingest(str(repo))
    import pytest as _pytest
    with _pytest.raises(RuntimeError, match="no IVF index"):
        eng.search_indexed("alpha")
    eng.build_index(num_clusters=2)
    sample = eng.store.load().select("content").limit(1).collect()[0].content
    hits = eng.search_indexed(sample, top_k=3, nprobe=2).collect()
    brute = eng.search(sample, top_k=3).collect()
    assert hits[0].content == brute[0].content  # same best match
    assert hits[0].score == _pytest.approx(brute[0].score)
    assert "embedding" not in hits[0].asDict()


@pytest.mark.slow  # 9.1s
def test_engine_indexed_search_staleness_guard(spark, tmp_path):
    """Out-of-band store changes after build_index must be detected:
    search_indexed raises on a stale index instead of silently serving
    results over the old corpus; allow_stale=True opts back in, and a
    rebuild clears the guard."""
    import pytest as _pytest

    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine

    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "a.py").write_text("def alpha():\n    return 'first'\n" * 20)
    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(32),
        dim=32, chunk_size=400, overlap=50,
    )
    eng.ingest(str(repo))
    eng.build_index(num_clusters=2)
    assert eng.search_indexed("alpha", top_k=1).collect()

    (repo / "b.md").write_text("# beta document\nnew content\n" * 10)
    eng.ingest(str(repo))  # store moved past the index
    with _pytest.raises(RuntimeError, match="stale"):
        eng.search_indexed("alpha", top_k=1)
    # explicit opt-in serves the old snapshot
    assert eng.search_indexed("alpha", top_k=1, allow_stale=True).collect()
    # rebuild clears the guard
    eng.build_index(num_clusters=2)
    assert eng.search_indexed("alpha", top_k=1).collect()


def test_store_state_tokens(spark, tmp_path):
    """state_token(): None when absent; changes on append for both
    store flavors; transactional tokens are manifest versions (no file
    walk), plain tokens see nested in-place rewrites."""
    from converttovectordb_spark.schema import DOCUMENTS_SCHEMA
    from converttovectordb_spark.sources.store import (
        DocumentStore,
        TransactionalDocumentStore,
    )

    def batch(tag, n=2):
        rows = [
            (f"{tag}/f{i}.py", ".py", 0, 1, f"{tag} {i}", [1.0] * 4, 1.0)
            for i in range(n)
        ]
        return spark.createDataFrame(rows, DOCUMENTS_SCHEMA)

    plain = DocumentStore(
        spark, str(tmp_path / "plain"), partition_by=("extension",)
    )
    assert plain.state_token() is None
    plain.append(batch("a"))
    t1 = plain.state_token()
    assert t1 is not None and t1[0] == "ls"
    plain.append(batch("b"))
    t2 = plain.state_token()
    assert t2 != t1

    txn = TransactionalDocumentStore(spark, str(tmp_path / "txn"))
    assert txn.state_token() is None
    txn.append(batch("a"))
    v1 = txn.state_token()
    # (version, store-lifetime uid) since r12: a bare version counter
    # repeats across clear()/overwrite() lifetimes
    assert v1[:2] == ("v", txn.version()) and v1[2]
    txn.append(batch("b"))
    assert txn.state_token() != v1
    assert txn.state_token()[2] == v1[2]  # same lifetime, same uid


def test_kmeans_recall_query_exports_and_clears_bar(spark):
    """ivf_recall_kmeans: trained-centroid IVF reaches the recall the
    label partition cannot (VERDICT r4 ask #8) and exports the index to
    this corpus's fingerprint-tagged dir so the SQL oracle reranks the
    same probes."""
    import os

    from converttovectordb_spark.queries import (
        _kmeans_ivf_export,
        q_ivf_recall_kmeans,
    )

    rows = q_ivf_recall_kmeans(spark, "/root/testdata/sf0.001").collect()
    assert len(rows) == 8
    mean = sum(r.recall for r in rows) / len(rows)
    # measured 0.833 at sf0.001 and sf0.01 (k=16, seed 7, nprobe=5);
    # small slack for kmeans sum-order variation across partitionings
    assert mean >= 0.75
    export = _kmeans_ivf_export(spark, "/root/testdata/sf0.001")
    assert os.path.isdir(f"{export}/centroids")
    assert os.path.isdir(f"{export}/assign")


def test_kmeans_oracle_interleaved_sf_dirs_stay_green(spark):
    """r6 advisory: interleaved runs across sf_dirs must each oracle-
    match their OWN corpus. Spark queries for two sf_dirs run FIRST
    (both exports published), then both oracles — with the old mutable
    single-alias export, the first corpus's oracle would rerank the
    second corpus's index and hash-mismatch."""
    import duckdb

    from converttovectordb_spark.queries import (
        ORACLES,
        q_ivf_recall_kmeans,
    )

    sf_a, sf_b = "/root/testdata/sf0.001", "/root/testdata/sf0.01"
    spark_rows = {}
    for sf in (sf_a, sf_b):  # both Spark runs before either oracle
        rows = q_ivf_recall_kmeans(spark, sf).collect()
        spark_rows[sf] = sorted(
            (r.query_id, r.n_overlap, round(r.recall, 6)) for r in rows
        )

    for sf in (sf_a, sf_b):
        con = duckdb.connect()
        con.execute(
            f"CREATE VIEW embeddings AS SELECT * FROM '{sf}/embeddings.parquet'"
        )
        oracle = sorted(
            (int(q), int(n), round(float(r), 6))
            for q, n, r in con.sql(ORACLES["ivf_recall_kmeans"]).fetchall()
        )
        con.close()
        assert oracle == spark_rows[sf], f"oracle mismatch for {sf}"


def test_filtered_ann_search_predicate_pushdown(spark, tmp_path):
    """Filtered ANN: the metadata predicate must land in the probed
    scan's PushedFilters NEXT TO the cluster PartitionFilters, and
    results must satisfy it."""
    emb = _emb(spark)
    index = build_ivf_index(emb, str(tmp_path / "ivf"), cluster_col="label")
    probes = _probes(emb)
    out = index.search(probes, top_k=3, nprobe=2, predicate="vec_id >= 100")
    rows = out.collect()
    assert rows and all(r.vec_id >= 100 for r in rows)
    # unfiltered returns some vec_id < 100 (sanity that the filter bit)
    assert any(
        r.vec_id < 100
        for r in index.search(probes, top_k=3, nprobe=2).collect()
    )
    from converttovectordb_spark.plans import physical_plan

    plan = physical_plan(out)
    scan = [
        seg for seg in plan.split("Scan parquet")
        if "PartitionFilters" in seg and "cluster_id" in seg
    ]
    assert scan, plan
    assert any("vec_id" in seg.split("PushedFilters:")[1][:200]
               for seg in scan if "PushedFilters:" in seg), plan


@pytest.mark.slow  # 17.5s
def test_filtered_ann_on_adc_path(spark, tmp_path):
    emb = _emb(spark)
    index = build_ivf_index(
        emb, str(tmp_path / "ivf_pq"), cluster_col="label", pq_m=8, pq_k=4
    )
    probes = _probes(emb)
    out = index.search(
        probes, top_k=3, nprobe=2, adc_shortlist=20,
        predicate="vec_id >= 100",
    ).collect()
    assert out and all(r.vec_id >= 100 for r in out)
