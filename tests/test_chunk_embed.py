"""The fused chunk → embed operator and the single-pass ingest writes.

`chunk_embed` replaced a chain of two Arrow UDFs with a ``posexplode``
between them; that chain is kept here as the reference the operator
must equal row for row, with bit-identical float32 embeddings."""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import struct

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from converttovectordb_spark.embeddings import hash_embed_one, hash_embedder
from converttovectordb_spark.engine import VectorEngine
from converttovectordb_spark.operators.stats import corpus_stats_full
from converttovectordb_spark.sources.chunker import chunk_embed, chunk_string
from converttovectordb_spark.sources.store import TransactionalDocumentStore

DIM = 24
MULTIBYTE = "héllo wörld — 世界 🎉 naïve café\n" * 60


def _old_chain(files, *, chunk_size, overlap, embedder):
    """The pre-fusion ingest plan: a chunk UDF, ``posexplode``, then an
    embed UDF over the exploded rows."""

    @pandas_udf("array<string>")
    def chunk(texts: pd.Series) -> pd.Series:
        return texts.map(
            lambda t: chunk_string(t if isinstance(t, str) else "", chunk_size, overlap)
        )

    @pandas_udf("array<float>")
    def embed(texts: pd.Series) -> pd.Series:
        vals = embedder(["" if t is None else t for t in texts.tolist()])
        return pd.Series([np.asarray(v, dtype=np.float32) for v in vals])

    chunked = files.withColumn("_chunks", chunk(F.col("content")))
    exploded = (
        chunked.withColumn("total_chunks", F.size("_chunks").cast("int"))
        .select(
            *[c for c in files.columns if c != "content"],
            "total_chunks",
            F.posexplode("_chunks").alias("chunk_index", "content"),
        )
        .withColumn("chunk_index", F.col("chunk_index").cast("int"))
    )
    return exploded.withColumn("embedding", embed(F.col("content")))


def _files(spark):
    rows = [
        ("empty.py", ".py", "", 7, 1.5),
        ("nows.py", ".py", "x" * 2500, 8, 2.5),
        ("exact.md", ".md", ("abc " * 250)[:1000], 9, None),
        ("utf8.txt", ".txt", MULTIBYTE, 10, 3.5),
        ("null.txt", ".txt", None, 11, 4.5),
        ("short.md", None, "short", 12, 5.5),
    ]
    return spark.createDataFrame(
        rows,
        "path string, extension string, content string, size bigint,"
        " score double",
    ).withColumn("seen", F.to_timestamp(F.lit("2026-01-02 03:04:05")))


def _rows(df):
    return sorted(
        (tuple(r) for r in df.collect()), key=lambda r: (r[0], r[-3])
    )


def _assert_same(got, want):
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in want.schema.fields
    ]
    g, w = _rows(got), _rows(want)
    assert [r[:-1] for r in g] == [r[:-1] for r in w]
    for a, b in zip(g, w):
        assert np.asarray(a[-1], np.float32).tobytes() == np.asarray(
            b[-1], np.float32
        ).tobytes()


def test_chunk_embed_equals_old_chain(spark):
    files = _files(spark)
    enc = hash_embedder(DIM)
    got = chunk_embed(files, chunk_size=1000, overlap=200, embedder=enc, dim=DIM)
    want = _old_chain(files, chunk_size=1000, overlap=200, embedder=enc)
    _assert_same(got, want)
    counts = {r.path: r.total_chunks for r in got.collect()}
    assert "empty.py" not in counts and "null.txt" not in counts
    assert counts["exact.md"] == 1 and counts["nows.py"] == 4
    assert counts["utf8.txt"] == len(chunk_string(MULTIBYTE, 1000, 200)) > 1


@contextlib.contextmanager
def _max_records(spark, n: int):
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, old)


def test_chunk_embed_frames_hold_at_most_max_records(spark):
    """One file of many chunks still encodes in frames of at most
    maxRecordsPerBatch chunks, and the output is unchanged."""
    calls = spark.sparkContext.accumulator(0)
    oversize = spark.sparkContext.accumulator(0)
    base = hash_embedder(DIM)

    def counting(texts):
        calls.add(1)
        oversize.add(int(len(texts) > 4))
        return base(texts)

    files = _files(spark).coalesce(1)
    with _max_records(spark, 4):
        got = chunk_embed(
            files, chunk_size=100, overlap=20, embedder=counting, dim=DIM
        )
        n = got.count()
        want = _old_chain(files, chunk_size=100, overlap=20, embedder=base)
        _assert_same(got, want)
    assert n > 4 * 5
    assert oversize.value == 0
    assert calls.value >= 2 * -(-n // 4)  # count() and collect() both encode


def _hash_embed_loop(text: str, dim: int) -> list[float]:
    """The original per-block loop of the hash embedder."""
    out = np.empty(dim, dtype=np.float64)
    counter = 0
    buf = b""
    while len(buf) < dim * 4:
        h = hashlib.md5(
            f"{counter}|".encode() + text.encode("utf-8", "ignore")
        ).digest()
        buf += h
        counter += 1
    ints = struct.unpack(f"<{dim}I", buf[: dim * 4])
    for i, v in enumerate(ints):
        out[i] = (v / 2147483647.5) - 1.0
    n = float(np.sqrt((out * out).sum()))
    if n > 0:
        out /= n
    return [float(x) for x in out]


@pytest.mark.parametrize("dim", [16, 10, 384])
def test_hash_embedder_matches_reference_loop(dim):
    texts = ["", "hello", "héllo 世界 🎉", "lone \ud800 surrogate", "x" * 3000]
    want = [_hash_embed_loop(t, dim) for t in texts]
    assert [hash_embed_one(t, dim) for t in texts] == want
    got = hash_embedder(dim)(texts)
    assert got.dtype == np.float32 and got.shape == (len(texts), dim)
    assert got.tobytes() == np.array(want, dtype=np.float32).tobytes()


def test_recrawl_embeds_each_chunk_once(spark, tmp_path):
    """ingest(replace=True) runs scan → chunk → embed once: the
    embedder sees exactly ``chunks_created`` texts."""
    calls = spark.sparkContext.accumulator(0)
    base = hash_embedder(DIM)

    def counting(texts):
        calls.add(len(texts))
        return base(texts)

    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "a.py").write_text("def a():\n    return 1\n" * 120)
    (repo / "b.md").write_text("# notes\nsome words here\n" * 40)
    eng = VectorEngine(
        spark,
        str(tmp_path / "store"),
        embedder=counting,
        dim=DIM,
        chunk_size=300,
        overlap=50,
        transactional=True,
    )
    eng.ingest(str(repo))
    assert calls.value == eng.last_ingest_metrics["chunks_created"]
    (repo / "b.md").write_text("# edited\nother words\n" * 50)
    before = calls.value
    eng.ingest(str(repo), replace=True)
    m = eng.last_ingest_metrics
    assert calls.value - before == m["chunks_created"] == m["rows_written"]
    assert eng.store.load().count() == m["rows_written"]


def _docs(spark, rows):
    return spark.createDataFrame(
        rows,
        "path string, extension string, chunk_index int, total_chunks int,"
        " content string, embedding array<float>, timestamp double",
    )


def test_upsert_tombstones_written_paths_and_skips_empty(spark, tmp_path):
    store = TransactionalDocumentStore(
        spark, str(tmp_path / "store"), partition_by=("extension",)
    )
    v = [0.5, 0.5]
    store.append(_docs(spark, [("a.py", ".py", 0, 1, "old a", v, 0.0)]))
    batch = _docs(
        spark,
        [
            ("a.py", ".py", 0, 2, "new a0", v, 1.0),
            ("a.py", ".py", 1, 2, "new a1", v, 1.0),
            ("b.md", ".md", 0, 1, "new b", v, 1.0),
            ("c.md", ".md", 0, 1, "no vector", None, 1.0),  # invalid
        ],
    )
    assert store.upsert(batch) == 3
    m = store._read_manifest(store.version())
    assert set(m) >= {"batch_dir", "rows", "schema", "tombstone_keys", "key_cols"}
    assert m["key_cols"] == ["path"]
    key_set = spark.read.parquet(m["tombstone_keys"])
    assert key_set.columns == ["path"]  # no discovered partition column
    assert sorted(r.path for r in key_set.collect()) == ["a.py", "b.md"]
    assert sorted(r.content for r in store.load().collect()) == [
        "new a0",
        "new a1",
        "new b",
    ]

    data_dir = os.path.join(store.path, store.DATA_DIR)
    entries = set(os.listdir(data_dir))
    version = store.version()
    invalid = _docs(spark, [("a.py", ".py", 0, 1, "x", None, 2.0)])
    assert store.upsert(invalid) == 0
    assert store.upsert(invalid.limit(0)) == 0
    assert store.version() == version
    assert set(os.listdir(data_dir)) == entries  # no batch, no _keys dir


def test_upsert_reads_stores_with_keys_from_the_batch_lineage(spark, tmp_path):
    """A store whose earlier upsert wrote its key set from the batch
    DataFrame (``docs.select(*key_cols).distinct()``) still loads, at
    the head and by time travel, after an upsert that reads its keys
    back from the staged parquet."""
    import uuid

    store = TransactionalDocumentStore(
        spark, str(tmp_path / "store"), partition_by=("extension",)
    )
    v = [0.5, 0.5]
    store.append(
        _docs(
            spark,
            [
                ("a.py", ".py", 0, 1, "a v0", v, 0.0),
                ("b.md", ".md", 0, 1, "b v0", v, 0.0),
            ],
        )
    )
    first = _docs(spark, [("a.py", ".py", 0, 1, "a v1", v, 1.0)])
    staged = store._stage(first)
    keys_dir = os.path.join(store.path, store.DATA_DIR, uuid.uuid4().hex + "_keys")
    first.select("path").distinct().write.parquet(keys_dir)
    store._publish(*staged, {"tombstone_keys": keys_dir, "key_cols": ["path"]})
    old_version = store.version()

    second = _docs(spark, [("b.md", ".md", 0, 1, "b v1", v, 2.0)])
    assert store.upsert(second) == 1
    assert sorted(r.content for r in store.load().collect()) == ["a v1", "b v1"]
    assert sorted(
        r.content for r in store.load(at_version=old_version).collect()
    ) == ["a v1", "b v0"]



def _upsert_with_distinct_key_set(store, docs, key_cols):
    """An upsert whose key set is written from the batch DataFrame
    (``docs.select(*key_cols).distinct()``), as stores were written
    before the write job observed its keys."""
    import uuid

    staged = store._stage(docs)
    keys_dir = os.path.join(store.path, store.DATA_DIR, uuid.uuid4().hex + "_keys")
    docs.select(*key_cols).distinct().write.parquet(keys_dir)
    store._publish(*staged, {"tombstone_keys": keys_dir, "key_cols": list(key_cols)})


@pytest.mark.parametrize(
    "key_cols, base, batches",
    [
        (  # a NULL path: the observed set drops it; it matches no row
            ("path",),
            [
                ("a.py", ".py", 0, 1, "a v0"),
                ("b.md", ".md", 0, 1, "b v0"),
                (None, ".py", 0, 1, "null v0"),
            ],
            [
                [
                    ("a.py", ".py", 0, 2, "a0 v1"),
                    ("a.py", ".py", 1, 2, "a1 v1"),
                    (None, ".py", 0, 1, "null v1"),
                ],
                [(None, ".md", 0, 1, "null v2"), ("b.md", ".md", 0, 1, "b v2")],
                [(None, ".md", 0, 1, "null v3"), (None, ".py", 0, 1, "null v3")],
            ],
        ),
        (  # a two-column key, with a key repeated inside one batch
            ("path", "chunk_index"),
            [
                ("a.py", ".py", 0, 2, "a0 v0"),
                ("a.py", ".py", 1, 2, "a1 v0"),
                ("b.md", ".md", 0, 1, "b v0"),
            ],
            [
                [
                    ("a.py", ".py", 1, 2, "a1 v1"),
                    ("b.md", ".md", 0, 1, "b v1"),
                    ("b.md", ".md", 0, 1, "b v1 again"),
                ],
                [("a.py", ".py", 0, 2, "a0 v2")],
            ],
        ),
    ],
    ids=["null_path", "two_column_key"],
)
@pytest.mark.parametrize("past_grid", [False, True], ids=["observed", "read_back"])
def test_observed_key_set_answers_as_the_distinct_key_set(
    spark, tmp_path, monkeypatch, key_cols, base, batches, past_grid
):
    """The key set the write job observes holds the keys of one
    written from ``select(*key_cols).distinct()``, but for a NULL
    key, and both stores load the same rows at the head and at every
    version; an all-NULL batch commits no key set. Past the
    ``OBSERVED_KEY_*`` grid the keys are read back, NULL included."""
    from collections import Counter

    if past_grid:
        monkeypatch.setattr(TransactionalDocumentStore, "OBSERVED_KEY_ROWS", 0)
    v = [0.5, 0.5]

    def docs(rows):
        return _docs(spark, [r + (v, float(i)) for i, r in enumerate(rows)])

    observed, distinct = (
        TransactionalDocumentStore(
            spark, str(tmp_path / name), partition_by=("extension",)
        )
        for name in ("observed", "distinct")
    )
    for store in (observed, distinct):
        store.append(docs(base))
    for rows in batches:
        assert observed.upsert(docs(rows), key_cols=key_cols) == len(rows)
        _upsert_with_distinct_key_set(distinct, docs(rows), key_cols)

    def key_set(store, version):
        kd = store._read_manifest(version).get("tombstone_keys")
        if kd is None:
            return Counter()
        return Counter(tuple(r) for r in spark.read.parquet(kd).collect())

    def rows(store, version=None):
        return Counter(
            tuple(r)
            for r in store.load(at_version=version)
            .select("path", "extension", "chunk_index", "content")
            .collect()
        )

    assert observed.version() == distinct.version() == len(batches)
    null_key = Counter() if past_grid else Counter({(None,): 1})
    for version in range(1, len(batches) + 1):
        assert key_set(observed, version) == key_set(distinct, version) - null_key
    for version in (None, *range(len(batches) + 1)):
        assert rows(observed, version) == rows(distinct, version)
    assert rows(observed) != rows(observed, 0)


def test_upsert_reads_the_keys_of_an_arrow_table_back(spark, tmp_path):
    """A ``pyarrow.Table`` batch is written from the driver, so no job
    observes its keys: they are read back from the staged parquet."""
    import pyarrow as pa

    store = TransactionalDocumentStore(
        spark, str(tmp_path / "store"), partition_by=("extension",)
    )
    v = [0.5, 0.5]
    store.append(
        _docs(
            spark,
            [
                ("a.py", ".py", 0, 1, "a v0", v, 0.0),
                ("b.md", ".md", 0, 1, "b v0", v, 0.0),
            ],
        )
    )
    schema = pa.schema(
        [
            ("path", pa.string()),
            ("extension", pa.string()),
            ("chunk_index", pa.int32()),
            ("total_chunks", pa.int32()),
            ("content", pa.string()),
            ("embedding", pa.list_(pa.float32())),
            ("timestamp", pa.float64()),
        ]
    )
    row = dict(zip(schema.names, ("a.py", ".py", 0, 1, "a v1", v, 1.0)))
    assert store.upsert(pa.Table.from_pylist([row, row], schema)) == 2
    kd = store._read_manifest(store.version())["tombstone_keys"]
    assert [tuple(r) for r in spark.read.parquet(kd).collect()] == [("a.py",)]
    assert sorted(r.content for r in store.load().collect()) == [
        "a v1",
        "a v1",
        "b v0",
    ]

def test_stats_one_action_exact_for_mixed_extensions(spark, monkeypatch):
    """One path under two extensions, NULL extensions ('unknown'),
    NULL and empty paths and NULL content: the one-action roll-up
    equals the per-statistic aggregates."""
    docs = spark.createDataFrame(
        [
            ("p1", ".py", 3, "aaaa"),
            ("p1", ".py", 3, "bb"),
            ("p1", ".md", 3, "c"),
            ("p2", None, 5, "dddddd"),
            ("p2", None, 2, None),
            ("", ".txt", 1, "e"),
            (None, ".py", None, "ffff"),
            ("p3", ".md", 4, "ggg"),
        ],
        "path string, extension string, total_chunks int, content string",
    )
    try:  # Spark 4: the concrete class overrides collect
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # Spark 3 fallback
        from pyspark.sql import DataFrame
    calls = []
    real_collect = DataFrame.collect
    monkeypatch.setattr(
        DataFrame, "collect", lambda self: (calls.append(1), real_collect(self))[1]
    )
    got = corpus_stats_full(docs)
    monkeypatch.undo()
    assert len(calls) == 1
    lengths = [4, 2, 1, 6, 1, 4, 3]
    assert got == {
        "total_documents": 8,
        "unique_files": 3,
        "total_content_kb": sum(lengths) / 1024.0,
        "avg_content_chars": sum(lengths) / len(lengths),
        "avg_chunks_per_file": (3 + 5 + 1 + 4) / 4,
        "documents_by_extension": {".py": 3, ".md": 2, "unknown": 2, ".txt": 1},
    }
    assert json.dumps(got)  # plain Python values, as the REST door returns them
    empty = corpus_stats_full(docs.limit(0))
    assert empty == {
        "total_documents": 0,
        "unique_files": 0,
        "total_content_kb": 0.0,
        "avg_content_chars": None,
        "avg_chunks_per_file": None,
        "documents_by_extension": {},
    }
