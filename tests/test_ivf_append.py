"""Incremental IVF index maintenance: `IVFIndex.append` /
`pq_encode_frozen` / `VectorEngine.append_to_index`.

The 100 TB contract under test: an append batch is routed into the
EXISTING layout in O(batch) work — frozen-centroid assignment must
match what the build would have produced, frozen-codebook PQ encoding
must match the model-based build encoding, partition pruning must keep
working over mixed old+new files, and the engine's staleness token
must go green again after an incremental append (and ONLY then).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from converttovectordb_spark.plans.ivf_index import (
    IVFIndex,
    build_ivf_index,
    kmeans_centroids,
)
from converttovectordb_spark.plans.pq_index import (
    pq_encode,
    pq_encode_frozen,
    train_pq,
)


def _emb(spark):
    return spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")


def test_assign_clusters_matches_kmeans_transform(spark, tmp_path):
    emb = _emb(spark)
    _, assigned = kmeans_centroids(emb, num_clusters=4, seed=7)
    want = {r.vec_id: r.cluster_id for r in assigned.collect()}
    index = build_ivf_index(emb, str(tmp_path / "ivf"), num_clusters=4, seed=7)
    got = {
        r.vec_id: r.cluster_id
        for r in index.assign_clusters(emb).select(
            "vec_id", "cluster_id"
        ).collect()
    }
    assert got == want


def test_append_rows_become_searchable_in_place(spark, tmp_path):
    emb = _emb(spark)
    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    index = build_ivf_index(old, str(tmp_path / "ivf"), num_clusters=4, seed=7)
    before = index.corpus().count()
    index.append(new)
    assert index.corpus().count() == before + new.count()
    # an appended row's own vector must find that row as the top hit
    probe_rows = new.limit(3).collect()
    probes = spark.createDataFrame(
        [(r.vec_id, r.embedding) for r in probe_rows],
        "query_id long, query_vec array<float>",
    )
    hits = index.search(probes, top_k=1, nprobe=1).collect()
    assert {r.query_id for r in hits} == {r.vec_id for r in probe_rows}
    for r in hits:
        assert r.vec_id == r.query_id and r.score > 0.999999


def test_append_preserves_partition_pruning(spark, tmp_path):
    emb = _emb(spark)
    index = build_ivf_index(
        emb.filter(F.col("vec_id") < 400),
        str(tmp_path / "ivf"),
        num_clusters=4,
        seed=7,
    )
    index.append(emb.filter(F.col("vec_id") >= 400))
    from converttovectordb_spark.plans import physical_plan

    pruned = index.pruned_corpus([0, 1])
    plan = physical_plan(pruned)
    assert "PartitionFilters: [" in plan
    assert "cluster_id" in plan.split("PartitionFilters:")[1].split("]")[0]
    assert 0 < pruned.count() < index.corpus().count()


def test_append_dimension_mismatch_raises(spark, tmp_path):
    emb = _emb(spark)
    index = build_ivf_index(emb, str(tmp_path / "ivf"), num_clusters=4)
    bad = spark.createDataFrame(
        [(9999, [1.0, 2.0, 3.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="dimension"):
        index.append(bad)


@pytest.mark.slow  # 15.1s
def test_pq_frozen_encode_matches_model_encode(spark, tmp_path):
    emb = _emb(spark)
    models = train_pq(emb, m=8, k=4, seed=7)
    want = {
        r.vec_id: list(r.codes)
        for r in pq_encode(emb, models).select("vec_id", "codes").collect()
    }
    from converttovectordb_spark.plans.pq_index import codebooks_df

    books = codebooks_df(spark, models)
    got = {
        r.vec_id: list(r.codes)
        for r in pq_encode_frozen(emb, books)
        .select("vec_id", "codes")
        .collect()
    }
    assert got == want


@pytest.mark.slow  # 18.7s
def test_append_extends_pq_codes_table(spark, tmp_path):
    emb = _emb(spark)
    old = emb.filter(F.col("vec_id") < 400)
    new = emb.filter(F.col("vec_id") >= 400)
    index = build_ivf_index(
        old, str(tmp_path / "ivf"), num_clusters=4, seed=7, pq_m=8, pq_k=4
    )
    before = index.pq_codes().count()
    index.append(new)
    codes = index.pq_codes()
    assert codes.count() == before + new.count()
    sample = codes.join(new.select("vec_id"), on="vec_id").limit(5).collect()
    assert sample
    for r in sample:
        assert len(r.codes) == 8 and all(0 <= c < 4 for c in r.codes)


def test_empty_append_is_a_noop(spark, tmp_path):
    emb = _emb(spark)
    index = build_ivf_index(emb, str(tmp_path / "ivf"), num_clusters=4)
    before = index.corpus().count()
    index.append(emb.filter(F.lit(False)))
    assert index.corpus().count() == before


def _mk_repo(root, name, texts):
    repo = root / name
    repo.mkdir()
    for i, text in enumerate(texts):
        (repo / f"f{i}.txt").write_text(text)
    return repo


@pytest.mark.slow  # 8.6s
def test_engine_append_to_index_clears_staleness(spark, tmp_path):
    from converttovectordb_spark.engine import VectorEngine

    repo_a = _mk_repo(
        tmp_path,
        "repo_a",
        [
            "alpha document about spark joins",
            "shuffle partitions and broadcast sides",
            "catalyst pushes filters into the parquet scan",
            "watermarks bound streaming state growth",
        ],
    )
    repo_b = tmp_path / "repo_b"
    repo_b.mkdir()
    (repo_b / "b.txt").write_text("beta document about vector indexes")

    eng = VectorEngine(spark, str(tmp_path / "store"), dim=16)
    eng.ingest(str(repo_a))
    eng.build_index(num_clusters=2)
    eng.ingest(str(repo_b))
    with pytest.raises(RuntimeError, match="stale"):
        eng.search_indexed("vector indexes", top_k=3)
    added = eng.append_to_index()
    assert added > 0
    hits = eng.search_indexed("vector indexes", top_k=5, nprobe=2)
    assert any("b.txt" in r.path for r in hits.collect())
    # idempotent: a second call finds nothing missing
    assert eng.append_to_index() == 0


@pytest.mark.slow  # 9.3s
def test_engine_append_heals_interleaved_ingests_but_not_deletes(
    spark, tmp_path
):
    """The delta is derived from the STORE, so an interleaved foreign
    ingest is simply included; rows the store dropped (replace/clear)
    cannot be healed by appending and must raise for a rebuild."""
    from converttovectordb_spark.engine import VectorEngine

    repo_a = _mk_repo(
        tmp_path,
        "repo_a",
        [
            "alpha document about spark joins",
            "shuffle partitions and broadcast sides",
            "catalyst pushes filters into the parquet scan",
        ],
    )
    repo_b = tmp_path / "repo_b"
    repo_b.mkdir()
    (repo_b / "b.txt").write_text("beta document about vector indexes")
    repo_c = tmp_path / "repo_c"
    repo_c.mkdir()
    (repo_c / "c.txt").write_text("gamma document that sneaks in")

    eng = VectorEngine(spark, str(tmp_path / "store"), dim=16)
    eng.ingest(str(repo_a))
    eng.build_index(num_clusters=2)
    eng.ingest(str(repo_b))
    eng.ingest(str(repo_c))  # interleaved foreign write: healed, not fatal
    eng.append_to_index()
    assert (
        eng._index.corpus().count() == eng.store.load().count()
    )
    hits = eng.search_indexed("sneaks", top_k=5, nprobe=2)
    assert any("c.txt" in r.path for r in hits.collect())

    # store-side deletion: clear + re-ingest a subset → index has
    # orphans → append cannot heal, must demand a rebuild
    eng.clear(backup=False)
    eng.ingest(str(repo_a))
    with pytest.raises(RuntimeError, match="rebuild"):
        eng.append_to_index()


def test_engine_search_indexed_where(spark, tmp_path):
    from converttovectordb_spark.engine import VectorEngine

    repo = _mk_repo(
        tmp_path,
        "repo_w",
        [
            "alpha document about spark joins",
            "shuffle partitions and broadcast sides",
            "catalyst pushes filters into the parquet scan",
            "watermarks bound streaming state growth",
        ],
    )
    (repo / "extra.md").write_text("a markdown document about spark joins")
    eng = VectorEngine(spark, str(tmp_path / "store_w"), dim=16)
    eng.ingest(str(repo))
    eng.build_index(num_clusters=2)
    hits = eng.search_indexed(
        "spark joins", top_k=5, nprobe=2, where="extension = '.md'"
    ).collect()
    assert hits and all(r.extension == ".md" for r in hits)


def test_index_drift_report_flags_shifted_corpus(spark, tmp_path):
    """Drift ~0 against the training corpus; large against a corpus
    whose vectors moved — the retrain trigger a curator schedules."""
    from converttovectordb_spark.plans.ivf_index import index_drift_report

    emb = _emb(spark)
    index = build_ivf_index(emb, str(tmp_path / "ivf"), num_clusters=4, seed=7)
    base = index_drift_report(index, emb).collect()
    assert len(base) == 4
    assert all(r.n_rows > 0 for r in base)
    base_max = max(r.centroid_shift for r in base)

    shifted = emb.withColumn(
        "embedding",
        F.transform(F.col("embedding"), lambda x: x + F.lit(5.0)),
    )
    moved = index_drift_report(index, shifted).collect()
    moved_shifts = [
        r.centroid_shift for r in moved if r.centroid_shift is not None
    ]
    assert moved_shifts and min(moved_shifts) > base_max


def test_engine_append_updates_histogram_through_cache_invalidation(
    spark, tmp_path
):
    """r13 regression: the engine's append batch is an anti-join that
    READS the corpus path; writing the batch into that path invalidates
    the cached plan, and a histogram computed AFTER the write saw its
    own appended rows and merged an empty batch — n_docs stayed at the
    old count until the next verify_stats heal. The histogram must be
    taken from the batch BEFORE the corpus write."""
    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine

    dim = 8

    def mkdocs(tag, n=8):
        vecs = [[float(i == j % dim) for i in range(dim)] for j in range(n)]
        return spark.createDataFrame(
            [
                (f"{tag}/f{j}.txt", ".txt", 0, 1, f"{tag} doc {j}", v, 0.0)
                for j, v in enumerate(vecs)
            ],
            "path string, extension string, chunk_index int, "
            "total_chunks int, content string, embedding array<float>, "
            "timestamp double",
        )

    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(dim), dim=dim
    )
    eng.store.append(mkdocs("base"))
    eng.build_index(num_clusters=2)
    assert eng._index.cluster_stats()["n_docs"] == 8
    eng.store.append(mkdocs("grow"))
    assert eng.append_to_index() == 8
    stats = eng._index.cluster_stats()
    assert stats["n_docs"] == 16, stats
    assert sum(stats["cluster_sizes"].values()) == 16
    # and the heal finds nothing left to fix
    assert eng._index.verify_stats() is False


@pytest.mark.slow  # 9.4s
def test_engine_append_pq_codes_survive_cache_invalidation(spark, tmp_path):
    """r13 regression (staging.py): same invalidation class as the
    histogram bug, PQ edition — the corpus write dropped the cached
    heal delta, the codes action re-executed it empty, and a
    PQ-enabled plain index silently lost every appended batch's codes.
    The staged append must keep corpus/codes/stats in lockstep."""
    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine

    dim = 8

    def mkdocs(tag, n=8):
        vecs = [
            [float(i == j % dim) + 0.01 * j for i in range(dim)]
            for j in range(n)
        ]
        return spark.createDataFrame(
            [(f"{tag}/f{j}.txt", ".txt", 0, 1, f"{tag} doc {j}", vecs[j],
              0.0) for j in range(n)],
            "path string, extension string, chunk_index int, "
            "total_chunks int, content string, embedding array<float>, "
            "timestamp double",
        )

    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(dim), dim=dim
    )
    eng.store.append(mkdocs("base"))
    eng.build_index(num_clusters=2, pq_m=2, pq_k=4)
    eng.store.append(mkdocs("grow"))
    assert eng.append_to_index() == 8
    assert eng._index.corpus().count() == 16
    assert eng._index.pq_codes().count() == 16
    assert eng._index.cluster_stats()["n_docs"] == 16
    # and the ADC path actually serves the appended rows
    hits = eng.search_indexed(
        "grow doc 3", top_k=3, nprobe=2, adc_shortlist=8, allow_stale=False
    ).collect()
    assert hits
