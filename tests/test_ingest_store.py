"""Ingest path (scan → chunk → embed → store) + engine facade tests."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from converttovectordb_spark.embeddings import hash_embed_one, hash_embedder
from converttovectordb_spark.engine import VectorEngine
from converttovectordb_spark.sources.repo_scan import scan_repo_files
from converttovectordb_spark.sources.store import DocumentStore


@pytest.fixture()
def repo_tree(tmp_path):
    (tmp_path / "src" / ".hidden").mkdir(parents=True)
    (tmp_path / "docs").mkdir()
    (tmp_path / "src" / "main.py").write_text("def main():\n    pass\n" * 80)
    (tmp_path / "src" / "util.py").write_text("x = 1\n")
    (tmp_path / "docs" / "readme.md").write_text("# docs\nvector search\n")
    (tmp_path / "src" / ".hidden" / "s.py").write_text("hidden\n")
    (tmp_path / "logo.png").write_bytes(b"\x89PNG\x00binary")
    (tmp_path / "blank.txt").write_text("  \n\t\n")
    return str(tmp_path)


def test_scan_filters(spark, repo_tree):
    got = sorted(
        r.path for r in scan_repo_files(spark, repo_tree).select("path").collect()
    )
    # hidden dir, .png (extension not allowed), whitespace-only file: out
    assert got == ["docs/readme.md", "src/main.py", "src/util.py"]


def test_scan_size_filter(spark, tmp_path):
    (tmp_path / "big.py").write_text("x" * (11 * 1024 * 1024))
    (tmp_path / "ok.py").write_text("y = 2\n")
    got = [r.path for r in scan_repo_files(spark, str(tmp_path)).collect()]
    assert got == ["ok.py"]


def test_hash_embedder_deterministic():
    a = hash_embed_one("hello", 16)
    b = hash_embed_one("hello", 16)
    c = hash_embed_one("world", 16)
    assert a == b
    assert a != c
    # unit norm
    assert sum(x * x for x in a) == pytest.approx(1.0)


def test_store_append_load_validation(spark, tmp_path):
    store = DocumentStore(spark, str(tmp_path / "docs"))
    df = spark.createDataFrame(
        [
            ("a.py", ".py", 0, 1, "content", [0.1, 0.2], 1.0),
            ("b.py", ".py", 0, 1, None, [0.1, 0.2], 1.0),     # invalid
            ("c.py", ".py", 0, 1, "content", None, 1.0),       # invalid
        ],
        "path string, extension string, chunk_index int, total_chunks int,"
        " content string, embedding array<double>, timestamp double",
    )
    written = store.append(df)
    assert written == 1  # REAL count, observed on the write job itself
    assert store.load().count() == 1  # validation dropped 2 rows


def test_scan_strips_prefix_with_weird_repo_path(spark, tmp_path):
    # regex metacharacters + a space in the repo path must still strip
    # to repo-relative paths (binaryFile URI-encodes the space)
    weird = tmp_path / "re+po (v2)" / "with space"
    weird.mkdir(parents=True)
    (weird / "a.py").write_text("x = 1\n")
    (weird / "sub dir").mkdir()
    (weird / "sub dir" / "b.py").write_text("y = 2\n")
    got = sorted(
        r.path for r in scan_repo_files(spark, str(weird)).collect()
    )
    assert got == ["a.py", "sub dir/b.py"]


def test_engine_end_to_end(spark, repo_tree, tmp_path):
    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(32),
        dim=32, chunk_size=500, overlap=100,
    )
    eng.ingest(repo_tree)
    docs = eng.store.load()
    assert docs.count() > 0
    assert docs.filter(F.col("path").contains(".hidden")).count() == 0

    # search returns the most similar chunk for its own content
    sample = docs.select("content").limit(1).collect()[0].content
    res = eng.search(sample, top_k=3).collect()
    assert 0 < len(res) <= 3
    assert res[0].score == pytest.approx(1.0)  # self-similarity
    assert "embedding" not in res[0].asDict()  # reference T5: dropped
    # scores non-increasing
    scores = [r.score for r in res]
    assert scores == sorted(scores, reverse=True)

    stats = eng.stats()
    assert stats["total_documents"] == docs.count()
    assert stats["unique_files"] == 3
    assert ".py" in stats["documents_by_extension"]

    health = eng.health()
    assert health["documents_count"] == health["embeddings_count"]

    eng.clear(backup=False)
    assert not eng.store.exists()
    assert eng.health()["documents_count"] == 0


def test_ingest_metrics_observed(spark, repo_tree, tmp_path_factory):
    """A9 (reference repo_to_vector.py:58-64,452-467): pipeline metrics
    ride the single ingest job as observe metrics + an accumulator."""
    # store OUTSIDE the scanned tree (repo_tree shares tmp_path)
    store_dir = tmp_path_factory.mktemp("metrics_store")
    eng = VectorEngine(
        spark, str(store_dir / "store"), embedder=hash_embedder(32),
        dim=32, chunk_size=500, overlap=100,
    )
    eng.ingest(repo_tree)
    m = eng.last_ingest_metrics
    # fixture tree: 6 files on disk, but Spark's file index drops
    # dot-prefixed paths at LISTING time (.hidden/s.py is never
    # enumerated) → 5 listed, 3 survive the scan filters
    assert m["files_listed"] == 5
    assert m["files_processed"] == 3
    assert m["files_skipped"] == 2
    assert m["chunks_created"] == eng.store.load().count()
    assert m["rows_written"] == m["chunks_created"]
    assert m["embedding_time"] > 0.0
    assert m["total_time"] > 0.0



def test_ingest_lists_and_skips_an_empty_file(spark, repo_tree, tmp_path_factory):
    """A 0-byte file is listed and counted as skipped, as the
    reference's walk counts it (a binaryFile row count has no row for
    an empty file)."""
    open(os.path.join(repo_tree, "src", "empty.py"), "wb").close()
    store_dir = tmp_path_factory.mktemp("empty_file_store")
    eng = VectorEngine(
        spark, str(store_dir / "store"), embedder=hash_embedder(32),
        dim=32, chunk_size=500, overlap=100,
    )
    eng.ingest(repo_tree)
    m = eng.last_ingest_metrics
    assert m["files_listed"] == 6
    assert m["files_processed"] == 3
    assert m["files_skipped"] == 3

def test_stats_runs_at_most_two_actions(spark, repo_tree, tmp_path_factory,
                                        monkeypatch):
    """Round-3 perf contract: VectorEngine.stats() fuses A1/A3/A4/A5
    into one aggregate action + one per-extension groupBy — exactly two
    Spark ACTIONS (table scans) at serving time, was three in round 2,
    mirroring the reference's single-pass loop
    (mock_vector_db_api.py:314-379). Actions, not job IDs: AQE splits
    one action into a job per query stage, so job counts are
    plan-dependent noise."""
    store_dir = tmp_path_factory.mktemp("stats_jobs")
    eng = VectorEngine(
        spark, str(store_dir / "store"), embedder=hash_embedder(16),
        dim=16, chunk_size=500, overlap=100,
    )
    eng.ingest(repo_tree)

    try:  # Spark 4: the concrete class overrides collect
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # Spark 3 fallback
        from pyspark.sql import DataFrame

    calls = []
    real_collect = DataFrame.collect
    monkeypatch.setattr(
        DataFrame, "collect",
        lambda self: (calls.append(1), real_collect(self))[1],
    )
    stats = eng.stats()
    monkeypatch.undo()
    assert 0 < len(calls) <= 2, f"stats() ran {len(calls)} collect actions"

    # fused aggregate must agree with independently-computed values
    docs = eng.store.load()
    assert stats["total_documents"] == docs.count()
    assert stats["unique_files"] == (
        docs.filter(F.col("path") != "").select("path").distinct().count()
    )
    exp_avg_chunks = (
        docs.groupBy("path").agg(F.max("total_chunks").alias("c"))
        .agg(F.avg("c")).collect()[0][0]
    )
    assert stats["avg_chunks_per_file"] == pytest.approx(exp_avg_chunks)
    exp_chars = docs.agg(F.avg(F.length("content"))).collect()[0][0]
    assert stats["avg_content_chars"] == pytest.approx(exp_chars)
    assert stats["total_content_kb"] == pytest.approx(
        docs.agg(F.sum(F.length("content"))).collect()[0][0] / 1024.0
    )


def test_empty_store_search_and_stats(spark, tmp_path):
    """Reference behavior: a never-ingested database answers queries
    with empty results and zero stats, not an error."""
    eng = VectorEngine(
        spark, str(tmp_path / "nope"), embedder=hash_embedder(8), dim=8
    )
    assert eng.search("anything", top_k=3).collect() == []
    assert eng.search_vector([0.0] * 8).collect() == []
    st = eng.stats()
    assert st["total_documents"] == 0
    assert st["documents_by_extension"] == {}


def test_search_truncates_content(spark, tmp_path):
    """Reference T6 (query_vector_db.py:204-206): display truncation to
    500 chars + '...'."""
    (tmp_path / "repo").mkdir()
    (tmp_path / "repo" / "long.md").write_text("A" * 900)
    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=hash_embedder(16),
        dim=16, chunk_size=1000, overlap=0,
    )
    eng.ingest(str(tmp_path / "repo"))
    res = eng.search("A" * 900, top_k=1, truncate_chars=500).collect()
    assert len(res) == 1
    assert res[0].content == "A" * 500 + "..."
    full = eng.search("A" * 900, top_k=1).collect()
    assert full[0].content == "A" * 900


def test_sentence_transformer_embedder_contract(spark, tmp_path):
    """Real-model path: runs end-to-end wherever sentence-transformers
    is installed; in this container it auto-skips (the seam raises a
    documented NotImplementedError instead of failing mid-pipeline)."""
    import pytest

    from converttovectordb_spark.embeddings import (
        sentence_transformer_embedder,
    )

    embedder = sentence_transformer_embedder()
    try:
        out = embedder(["hello world", "vector engines"])
    except NotImplementedError:
        pytest.skip("sentence-transformers not installed in this env")
    # contract: (batch, dim) float array, row-aligned with the input
    assert out.shape[0] == 2 and out.shape[1] > 0
    eng_dim = int(out.shape[1])
    from converttovectordb_spark.engine import VectorEngine

    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "a.py").write_text("def f():\n    return 1\n" * 10)
    eng = VectorEngine(
        spark, str(tmp_path / "store"), embedder=embedder, dim=eng_dim
    )
    eng.ingest(str(repo))
    assert eng.search("return one", top_k=2).count() >= 0


def test_push_file_path_alias_defaults_chunk_index_zero(spark, tmp_path):
    """A JSONL row keyed by the 'file_path' alias must get the same
    chunk_index default (0) as a 'path'-keyed row — NOT its line
    number — or the same logical document pushed from a different
    line would mint a new path#line identity and break the store's
    newest-per-rid shadowing and dedup compaction."""
    import json
    from types import SimpleNamespace

    from converttovectordb_spark.__main__ import _push_file

    f = tmp_path / "batch.jsonl"
    f.write_text(
        "\n".join(
            json.dumps(d)
            for d in [
                {"content": "anon row one"},  # line 1: no path → ci=1
                {"file_path": "a.txt", "content": "aliased row"},
                {"path": "b.txt", "content": "plain row"},
                # null-valued alias resolves to path "": must keep a
                # line-number identity, not collapse onto ("", 0)
                {"file_path": None, "content": "anon row two"},
            ]
        )
    )
    eng = VectorEngine(spark, str(tmp_path / "store"), dim=16)
    args = SimpleNamespace(
        file=str(f),
        semantic_dedup=None,
        semantic_dedup_nprobe=None,
        within_batch_dedup=False,
        lexical_dedup=None,
    )
    out = _push_file(eng, args)
    assert out["rows_written"] == 4
    got = {
        (r["path"], r["chunk_index"])
        for r in eng.store.load().select("path", "chunk_index").collect()
    }
    assert got == {
        ("a.txt", 0),  # alias-keyed: NOT line number 2
        ("b.txt", 0),
        ("", 1),  # content-only keeps its line-number identity
        ("", 4),  # null alias too — distinct from line 1's row
    }
