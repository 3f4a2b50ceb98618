"""Persisted cluster-size stats on the IVF index artifacts.

The r10 finding: `ivf_knn_join_shuffled(salt_buckets="auto")` re-derived
per call (a grouped corpus count + a query count) what the index
artifact already knows at write time. These tests pin the write-time
half: build/append/compact keep an exact histogram manifest, readers
get it with zero Spark jobs, and pre-stats artifacts degrade to None
(fallback) instead of a silently partial histogram.
"""

from __future__ import annotations

import json
import math
import os

import pytest
from pyspark.sql import functions as F

from converttovectordb_spark.plans.ivf_index import (
    IVFIndex,
    TransactionalIVFIndex,
    build_ivf_index,
)


def _docs(spark, n_per=((0, 12), (1, 5), (2, 3)), start=0):
    rows = []
    vid = start
    for label, n in n_per:
        for i in range(n):
            a = 0.1 * i + label * 10.0
            rows.append((vid, label, [math.cos(a), math.sin(a), 1.0 + label]))
            vid += 1
    return spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )


def _corpus_hist(index):
    return {
        int(r["cluster_id"]): int(r["n"])
        for r in index.corpus()
        .groupBy("cluster_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def test_build_persists_exact_histogram(spark, tmp_path):
    docs = _docs(spark)
    index = build_ivf_index(docs, str(tmp_path / "ivf"), cluster_col="label")
    stats = index.cluster_stats()
    assert stats is not None
    assert stats["cluster_sizes"] == {0: 12, 1: 5, 2: 3}
    assert stats["n_docs"] == 20
    assert stats["cluster_sizes"] == _corpus_hist(index)


def test_plain_append_merges_stats(spark, tmp_path):
    docs = _docs(spark)
    index = build_ivf_index(docs, str(tmp_path / "ivf"), cluster_col="label")
    batch = _docs(spark, n_per=((0, 2), (2, 1)), start=100)
    index.append(batch, cluster_col="label")
    stats = index.cluster_stats()
    assert stats["cluster_sizes"] == {0: 14, 1: 5, 2: 4}
    assert stats["n_docs"] == 23
    assert stats["cluster_sizes"] == _corpus_hist(index)


def test_pre_stats_artifact_degrades_to_none(spark, tmp_path):
    docs = _docs(spark)
    index = build_ivf_index(docs, str(tmp_path / "ivf"), cluster_col="label")
    os.remove(index._stats_path())  # simulate an artifact built pre-stats
    assert index.cluster_stats() is None
    # append must NOT fabricate a batch-only histogram (it would
    # undercount the base corpus and mis-size salts)
    index.append(_docs(spark, n_per=((1, 2),), start=200), cluster_col="label")
    assert index.cluster_stats() is None


def test_txn_append_and_compact_keep_stats(spark, tmp_path):
    docs = _docs(spark)
    index = TransactionalIVFIndex.build(
        docs, str(tmp_path / "txn"), cluster_col="label"
    )
    assert index.cluster_stats()["cluster_sizes"] == {0: 12, 1: 5, 2: 3}
    index.append(
        _docs(spark, n_per=((0, 1), (1, 4)), start=100), cluster_col="label"
    )
    want = {0: 13, 1: 9, 2: 3}
    assert index.cluster_stats()["cluster_sizes"] == want
    assert index.cluster_stats()["n_docs"] == 25
    # a replayed txn epoch must not double-count the histogram
    batch = _docs(spark, n_per=((2, 2),), start=300)
    index.append(batch, cluster_col="label", txn_id="e1")
    index.append(batch, cluster_col="label", txn_id="e1")
    want = {0: 13, 1: 9, 2: 5}
    assert index.cluster_stats()["cluster_sizes"] == want
    # compaction is manifest arithmetic — same totals, no recount drift
    index.compact()
    assert index.cluster_stats()["cluster_sizes"] == want
    assert index.cluster_stats()["cluster_sizes"] == _corpus_hist(index)


def test_txn_legacy_manifest_none_then_compact_heals(spark, tmp_path):
    docs = _docs(spark)
    index = TransactionalIVFIndex.build(
        docs, str(tmp_path / "txn"), cluster_col="label"
    )
    index.append(_docs(spark, n_per=((1, 2),), start=100), cluster_col="label")
    # strip stats from one live commit: a pre-stats epoch in the chain
    mpath = os.path.join(index._manifest_path(), "0.json")
    with open(mpath) as fh:
        m = json.load(fh)
    del m["cluster_sizes"]
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    assert index.cluster_stats() is None  # partial sum refused
    index.compact()  # recomputes from the rewritten snapshot
    stats = index.cluster_stats()
    assert stats is not None
    assert stats["cluster_sizes"] == _corpus_hist(index)


def test_stats_survive_json_roundtrip_key_types(spark, tmp_path):
    """JSON stringifies keys; cluster_stats restores ints so the salt
    map joins against an int cluster column."""
    docs = _docs(spark)
    index = build_ivf_index(docs, str(tmp_path / "ivf"), cluster_col="label")
    assert all(
        isinstance(k, int) for k in index.cluster_stats()["cluster_sizes"]
    )


def test_missing_path_is_none(spark, tmp_path):
    assert IVFIndex(spark, str(tmp_path / "nope")).cluster_stats() is None

def test_digit_string_labels_round_trip_as_strings(spark, tmp_path):
    """r12 (ADVICE ivf_index.py:614): a string-labeled corpus whose
    labels happen to be digit strings must restore STRING stats keys —
    the salt map `ivf_knn_join_shuffled` builds from them is typed
    against the caller's string cluster column."""
    rows = [
        (i, str(i % 2), [float(i % 3), 1.0, 0.5]) for i in range(9)
    ]
    docs = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    index = build_ivf_index(
        docs, str(tmp_path / "ivf"), cluster_col="label"
    )
    sizes = index.cluster_stats()["cluster_sizes"]
    assert sizes == {"0": 5, "1": 4}
    assert all(isinstance(k, str) for k in sizes)
    # txn twin: marker rides each commit and survives append + compact
    tix = TransactionalIVFIndex.build(
        docs, str(tmp_path / "txn"), cluster_col="label"
    )
    batch = spark.createDataFrame(
        [(100, "0", [0.0, 1.0, 0.5])],
        "vec_id long, label string, embedding array<double>",
    )
    tix.append(batch, cluster_col="label")
    assert tix.cluster_stats()["cluster_sizes"] == {"0": 6, "1": 4}
    tix.compact()
    sizes = tix.cluster_stats()["cluster_sizes"]
    assert sizes == {"0": 6, "1": 4}
    assert all(isinstance(k, str) for k in sizes)


def test_string_label_stats_feed_salt_map(spark, tmp_path):
    """End to end: manifest stats from a digit-string-labeled corpus
    drive salt_buckets="auto" against a string cluster column without
    a createDataFrame type failure, and results stay salt-invariant."""
    from converttovectordb_spark.operators.search import (
        ivf_knn_join_shuffled,
    )

    rows = [
        (i, str(i % 2), [float(i % 7) + 1.0, float(i % 3), 1.0])
        for i in range(40)
    ]
    docs = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    index = build_ivf_index(
        docs, str(tmp_path / "ivf"), cluster_col="label"
    )
    stats = index.cluster_stats()
    queries = spark.createDataFrame(
        [(i, [float(i % 7) + 1.0, float(i % 3), 1.0]) for i in range(6)],
        "query_id long, query_vec array<double>",
    )
    got = ivf_knn_join_shuffled(
        queries,
        docs,
        top_k=3,
        nprobe=1,
        salt_buckets="auto",
        cluster_sizes=stats["cluster_sizes"],
        n_queries=6,
        # force salting so the map is actually built
        target_pairs_per_task=4,
    ).collect()
    want = ivf_knn_join_shuffled(
        queries, docs, top_k=3, nprobe=1, salt_buckets=1
    ).collect()
    assert sorted(
        [(r["query_id"], r["rank"], r["vec_id"]) for r in got]
    ) == sorted([(r["query_id"], r["rank"], r["vec_id"]) for r in want])


def test_verify_stats_heals_undercount(spark, tmp_path):
    """r12 review: a crashed plain append (corpus files landed, the
    histogram rewrite didn't) used to undercount FOREVER — every later
    read-merge-write based itself on the stale manifest.
    verify_stats() detects the mismatch against the written layout and
    recomputes; the transactional override is a no-op."""
    import json
    import os

    from converttovectordb_spark.plans.ivf_index import (
        IVFIndex,
        build_ivf_index,
    )

    docs = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 2) for i in range(10)],
        "vec_id bigint, embedding array<double>, label int",
    )
    idx = build_ivf_index(
        docs, str(tmp_path / "ivf"), cluster_col="label"
    )
    assert idx.verify_stats() is False  # consistent: no heal
    # simulate the crash window: corpus rows landed, manifest did not
    # get the append's histogram merge
    stale = {"n_docs": 4, "cluster_sizes": {"0": 2, "1": 2},
             "key_type": "int"}
    with open(os.path.join(idx.path, "_stats.json"), "w") as fh:
        json.dump(stale, fh)
    assert IVFIndex(spark, idx.path).verify_stats() is True
    healed = IVFIndex(spark, idx.path).cluster_stats()
    assert healed["n_docs"] == 10
    assert healed["cluster_sizes"] == {0: 5, 1: 5}  # key_type kept


@pytest.mark.slow  # 15.6s
def test_build_ivf_index_drops_previous_metadata(spark, tmp_path):
    """r12 review: an in-place rebuild must not leave curves measured
    on the OLD centroids (their n_docs stamp can match — no staleness
    signal would fire) or a stale _stats.json blessing a crashed
    rebuild's half-overwritten corpus."""
    import json
    import os

    from converttovectordb_spark.plans.ivf_index import (
        RECALL_CURVE_FILE,
        build_ivf_index,
        measure_recall_curve,
    )

    docs = spark.createDataFrame(
        [(i, [float(i), 1.0], i % 2) for i in range(8)],
        "vec_id bigint, embedding array<double>, label int",
    )
    path = str(tmp_path / "ivf2")
    idx = build_ivf_index(docs, path, cluster_col="label")
    measure_recall_curve(idx, sample=2, top_k=2)
    assert idx.recall_curve() is not None
    # direct rebuild (no engine wrapper): the old curve must NOT
    # survive to describe the new centroids
    idx2 = build_ivf_index(docs, path, cluster_col="label")
    assert idx2.recall_curve() is None
    assert not os.path.exists(os.path.join(path, RECALL_CURVE_FILE))
    assert idx2.cluster_stats()["n_docs"] == 8  # stats rewritten
