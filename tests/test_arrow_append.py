"""The two writers of one store: a ``pyarrow.Table`` batch is appended
from the driver (`sources/store.py:_write_arrow`), a DataFrame by
Spark's partitioned parquet writer. The same batches written either way
must read back alike, on a plain and on a transactional store: equal
schemas, equal row multisets, and one directory per partition value
(Spark's own escaping and default partition, never pyarrow's)."""

from __future__ import annotations

import argparse
import json
import os

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from converttovectordb_spark.__main__ import _push_file
from converttovectordb_spark.embeddings import hash_embedder
from converttovectordb_spark.engine import VectorEngine
from converttovectordb_spark.schema import DOCUMENTS_SCHEMA
from converttovectordb_spark.server import VectorDBApi, _sole_write
from converttovectordb_spark.sources.store import (
    DocumentStore,
    TransactionalDocumentStore,
)

DIM = 6
#: every kind of partition value the two writers could name apart
EXTENSIONS = ["", None, ".a b", ".x%2F", ".q=1", ".c:d", ".5", ".héllo"]


def _table(rng, tag: str, n: int) -> pa.Table:
    rows = []
    for i in range(n):
        emb = rng.standard_normal(DIM).astype(np.float32).tolist()
        if i == 3:
            emb[1] = float("nan")
        rows.append(
            {
                "path": f"{tag}/f{i}",
                "extension": EXTENSIONS[i % len(EXTENSIONS)],
                "chunk_index": i % 3,
                "total_chunks": 3,
                "content": f"{tag} text {i}",
                # a row without an embedding: dropped by either writer
                "embedding": None if i == 5 else emb,
                "timestamp": float(i),
            }
        )
    return pa.Table.from_pylist(rows, schema=to_arrow_schema(DOCUMENTS_SCHEMA))


def _batches() -> list[pa.Table]:
    rng = np.random.default_rng(29)
    return [_table(rng, f"b{k}", n) for k, n in enumerate((11, 9, 16))]


def _rows(df) -> list[str]:
    """The row multiset, NaN-safe: repr of each row, sorted."""
    return sorted(repr(r) for r in df.collect())


def _partition_dirs(root: str) -> set[str]:
    return {
        d
        for _, dirs, _ in os.walk(root)
        for d in dirs
        if d.startswith("extension=")
    }


def _hidden_files(root: str) -> list[str]:
    return [
        f
        for _, _, files in os.walk(root)
        for f in files
        if f.startswith(".") and not f.endswith(".crc")
    ]


STORES = [DocumentStore, TransactionalDocumentStore]


@pytest.mark.parametrize("store_cls", STORES)
def test_arrow_and_spark_writers_read_back_alike(spark, tmp_path, store_cls):
    def store(name):
        return store_cls(spark, str(tmp_path / name), ("extension",))

    by_spark, by_arrow, mixed = store("spark"), store("arrow"), store("mixed")
    written = {"spark": 0, "arrow": 0, "mixed": 0}
    for k, table in enumerate(_batches()):
        written["spark"] += by_spark.append(spark.createDataFrame(table))
        written["arrow"] += by_arrow.append(table)
        written["mixed"] += mixed.append(
            table if k % 2 else spark.createDataFrame(table)
        )
    assert written["arrow"] == written["spark"] == written["mixed"] == 33

    want = by_spark.load()
    for other in (by_arrow, mixed):
        got = other.load()
        assert got.schema == want.schema
        assert _rows(got) == _rows(want)
    assert _rows(by_arrow.load(require_embedding=False)) == _rows(
        by_spark.load(require_embedding=False)
    )

    # one directory per partition value ("" and NULL share Spark's
    # default partition), whichever writer named it
    dirs = _partition_dirs(by_spark.path)
    assert len(dirs) == len(EXTENSIONS) - 1
    assert "extension=__HIVE_DEFAULT_PARTITION__" in dirs
    assert _partition_dirs(by_arrow.path) == dirs
    assert _partition_dirs(mixed.path) == dirs
    if store_cls is DocumentStore:
        for _, subdirs, _ in os.walk(mixed.path):
            assert len(subdirs) == len(set(subdirs))
    # no temporary file left behind
    assert _hidden_files(by_arrow.path) == []


@pytest.mark.parametrize("store_cls", STORES)
def test_zero_row_arrow_append_leaves_no_store(spark, tmp_path, store_cls):
    store = store_cls(spark, str(tmp_path / "s"), ("extension",))
    empty = _batches()[0].slice(0, 0)
    assert store.append(empty) == 0
    invalid = _batches()[0].slice(5, 1)  # its one row has no embedding
    assert store.append(invalid) == 0
    assert not store.exists()
    assert not os.path.exists(store.path)


def test_arrow_append_is_one_sole_write(spark, tmp_path):
    store = DocumentStore(spark, str(tmp_path / "s"), ("extension",))
    first, second, _ = _batches()
    store.append(spark.createDataFrame(first))
    before = store.state_token()
    store.append(second)
    after = store.state_token()
    new = after[1] - before[1]
    assert new and before[1] < after[1]
    assert _sole_write(before, after)
    assert all(
        os.path.basename(rel).startswith("part-00000-")
        and rel.endswith(".c000.snappy.parquet")
        for rel, _, _ in new
    )
    # a second Arrow append is a second write
    store.append(second)
    assert not _sole_write(before, store.state_token())


def test_arrow_file_is_no_larger_than_sparks(spark, tmp_path):
    """A 100-row batch of 384-d documents in one partition: the Arrow
    writer's file is no larger than Spark's (dictionary-encoding the
    float vectors, pyarrow's default, would make it ~40% larger)."""
    rng = np.random.default_rng(3)
    words = np.array([f"w{i}" for i in range(500)])
    table = pa.Table.from_pylist(
        [
            {
                "path": f"docs/d{i:03d}.txt",
                "extension": ".txt",
                "chunk_index": 0,
                "total_chunks": 1,
                "content": " ".join(rng.choice(words, 180)),
                "embedding": rng.standard_normal(384).astype(np.float32).tolist(),
                "timestamp": 1.7e9 + i,
            }
            for i in range(100)
        ],
        schema=to_arrow_schema(DOCUMENTS_SCHEMA),
    )

    def data_bytes(root):
        return sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(root)
            for f in files
            if f.endswith(".parquet")
        )

    by_spark = DocumentStore(spark, str(tmp_path / "spark"), ("extension",))
    by_arrow = DocumentStore(spark, str(tmp_path / "arrow"), ("extension",))
    by_spark.append(spark.createDataFrame(table).coalesce(1))
    by_arrow.append(table)
    assert data_bytes(by_arrow.path) <= data_bytes(by_spark.path)


@pytest.mark.parametrize("transactional", [False, True])
def test_driver_resident_writes_run_no_spark_job(spark, tmp_path, transactional):
    """A plain ``/add_documents`` on a warm server and a ``push`` of
    embedded rows without dedup flags write through the Arrow writer:
    no Spark job, and every row lands."""
    rng = np.random.default_rng(41)

    def docs(tag, n):
        return [
            {
                "path": f"{tag}/f{i}.py",
                "content": f"{tag} words {i}",
                "embedding": rng.standard_normal(DIM).tolist(),
            }
            for i in range(n)
        ]

    eng = VectorEngine(
        spark,
        str(tmp_path / "store"),
        embedder=hash_embedder(DIM),
        dim=DIM,
        transactional=transactional,
    )
    api = VectorDBApi(eng)
    api.add_documents({"documents": docs("seed", 4)})
    api.query({"query_embedding": [1.0] * DIM})  # the warm matrix tier
    jsonl = tmp_path / "push.jsonl"
    jsonl.write_text("".join(json.dumps(d) + "\n" for d in docs("push", 3)))
    args = argparse.Namespace(
        file=str(jsonl),
        semantic_dedup=None,
        semantic_dedup_nprobe=2,
        within_batch_dedup=False,
        lexical_dedup=None,
    )
    sc = spark.sparkContext
    sc.setJobGroup("arrow_writes", "driver-side appends")
    try:
        out = api.add_documents({"documents": docs("rest", 5)})
        pushed = _push_file(eng, args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup("arrow_writes")) == []
    assert out["total_documents"] == 9 and api._matrix.n == 9
    assert pushed == {"rows_in": 3, "rows_written": 3, "skipped_duplicates": 0}
    assert eng.store.load().count() == 12
