"""An ingest and a ``replace=True`` re-crawl each run one Spark job,
in whole task waves (`repo_scan.whole_waves`)."""

from __future__ import annotations

import uuid
from collections import Counter

import pytest

from converttovectordb_spark.embeddings import hash_embedder
from converttovectordb_spark.engine import VectorEngine
from converttovectordb_spark.sources.chunker import chunk_embed
from converttovectordb_spark.sources.repo_scan import scan_repo_files, whole_waves

DIM = 16
CHUNKING = {"chunk_size": 300, "overlap": 50}


def _engine(spark, store):
    return VectorEngine(
        spark,
        str(store),
        embedder=hash_embedder(DIM),
        dim=DIM,
        transactional=True,
        **CHUNKING,
    )


def _write_tree(root, n_files):
    for i in range(n_files):
        (root / f"d{i % 3}").mkdir(parents=True, exist_ok=True)
        (root / f"d{i % 3}" / f"f{i}.py").write_text(f"def f{i}():\n    return {i}\n" * 30)


def _jobs_of(sc, fn):
    """Run ``fn`` under a fresh job group; return that group's job ids."""
    group = f"ingest-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "one ingest call")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _splits(df):
    return df.rdd.getNumPartitions()


def test_ingest_and_recrawl_each_run_one_spark_job(spark, tmp_path):
    repo = tmp_path / "repo"
    _write_tree(repo, 5)
    eng = _engine(spark, tmp_path / "store")
    sc = spark.sparkContext
    assert len(_jobs_of(sc, lambda: eng.ingest(str(repo)))) == 1
    (repo / "d0" / "f0.py").write_text("def edited():\n    pass\n")
    assert len(_jobs_of(sc, lambda: eng.ingest(str(repo), replace=True))) == 1
    f0 = [
        r.content
        for r in eng.store.load().filter("path = 'd0/f0.py'").collect()
    ]
    assert f0 == ["def edited():\n    pass\n"]


@pytest.fixture()
def one_split_per_file(spark):
    """Files smaller than the split size each get a split of their own,
    so a small tree yields more splits than cores."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "1k")
    yield
    spark.conf.set(key, old)


def test_scan_of_at_most_c_splits_keeps_its_plan(spark, tmp_path, one_split_per_file):
    c = spark.sparkContext.defaultParallelism
    for n in (1, c):
        repo = tmp_path / f"repo{n}"
        _write_tree(repo, n)
        files = scan_repo_files(spark, str(repo))
        assert _splits(files) == n
        assert whole_waves(files) is files


def test_whole_waves_write_runs_a_multiple_of_parallelism(
    spark, tmp_path, one_split_per_file
):
    """With more splits than cores, the ingest write runs whole waves
    and writes the rows the uncoalesced plan yields."""
    sc = spark.sparkContext
    c = sc.defaultParallelism
    repo = tmp_path / "repo"
    _write_tree(repo, 2 * c + 1)
    files = scan_repo_files(spark, str(repo))
    assert _splits(files) == 2 * c + 1
    assert _splits(whole_waves(files)) == 2 * c
    eng = _engine(spark, tmp_path / "store")
    [job] = _jobs_of(sc, lambda: eng.ingest(str(repo)))
    tracker = sc.statusTracker()
    tasks = sum(
        tracker.getStageInfo(s).numTasks for s in tracker.getJobInfo(job).stageIds
    )
    assert tasks % c == 0
    cols = ("path", "chunk_index", "content", "embedding")

    def multiset(df):
        return Counter(
            tuple(tuple(v) if isinstance(v, list) else v for v in r)
            for r in df.select(*cols).collect()
        )

    uncoalesced = chunk_embed(files, embedder=hash_embedder(DIM), dim=DIM, **CHUNKING)
    assert multiset(eng.store.load()) == multiset(uncoalesced)
