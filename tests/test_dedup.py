"""Dedup operator tests: exact, Jaccard, MinHash-LSH, SimHash,
embedding near-dup."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from converttovectordb_spark.operators.dedup import (
    dup_stats,
    embedding_neardup_pairs,
    exact_dedup,
    jaccard_neardup_pairs,
    minhash_lsh_candidates,
    minhash_lsh_neardup,
    simhash_fingerprints,
    simhash_neardup_pairs,
)

DOC = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill in the afternoon sun"
)
NEAR = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill in the evening sun"
)
OTHER = "completely different words about spark engines and parquet files here"


def _docs(spark):
    return spark.createDataFrame(
        [
            (1, DOC, "s1"),
            (2, DOC, "s1"),      # exact duplicate of 1
            (3, NEAR, "s2"),     # near duplicate of 1
            (4, OTHER, "s2"),
        ],
        ["doc_id", "text", "source"],
    )


def test_exact_dedup_keeps_min_id(spark):
    kept = exact_dedup(_docs(spark)).select("doc_id").collect()
    ids = sorted(r.doc_id for r in kept)
    assert ids == [1, 3, 4]  # doc 2 (dup of 1) removed, lowest id kept


def test_dup_stats(spark):
    rows = {r.source: r for r in dup_stats(_docs(spark)).collect()}
    assert rows["s1"].n_docs == 2 and rows["s1"].n_dups == 1
    assert rows["s2"].n_docs == 2 and rows["s2"].n_dups == 0


def test_jaccard_pairs(spark):
    out = jaccard_neardup_pairs(
        _docs(spark), threshold=0.5, max_shingle_df=None
    ).collect()
    pairs = {(r.a, r.b): r.jaccard for r in out}
    assert pairs[(1, 2)] == pytest.approx(1.0)  # identical docs
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.5  # near dup
    assert not any(4 in p for p in pairs)  # unrelated doc in no pair


def test_minhash_lsh_finds_near_dups(spark):
    cands = {
        (r.a, r.b) for r in minhash_lsh_candidates(_docs(spark)).collect()
    }
    assert (1, 2) in cands
    verified = {
        (r.a, r.b): r.jaccard
        for r in minhash_lsh_neardup(_docs(spark), threshold=0.5).collect()
    }
    assert verified[(1, 2)] == pytest.approx(1.0)
    assert (1, 3) in verified


def test_simhash_identical_and_near(spark):
    df = simhash_fingerprints(_docs(spark))
    sh = {r.doc_id: r.simhash for r in df.collect()}
    assert sh[1] == sh[2]  # identical text → identical fingerprint
    assert sh[1] != sh[4]
    pairs = {
        (r.a, r.b): r.hamming
        for r in simhash_neardup_pairs(_docs(spark), max_hamming=10).collect()
    }
    assert pairs[(1, 2)] == 0


def test_embedding_neardup(spark):
    vecs = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.0], 0),
            (2, [0.999, 0.04, 0.0], 0),   # near dup of 1
            (3, [0.0, 1.0, 0.0], 1),
        ],
        ["vec_id", "embedding", "label"],
    )
    out = embedding_neardup_pairs(vecs, threshold=0.95).collect()
    assert [(r.a, r.b) for r in out] == [(1, 2)]
    # bucketed variant finds the same pair (same cluster)
    out_b = embedding_neardup_pairs(
        vecs, threshold=0.95, bucket_col="label"
    ).collect()
    assert [(r.a, r.b) for r in out_b] == [(1, 2)]


def test_embedding_lsh_recall_and_pair_space_reduction(spark):
    """Hyperplane-LSH sub-buckets: true near-dups (cosine ≥0.98) must
    survive the band filter, and the candidate pair space must be
    strictly smaller than the coarse bucket's quadratic join."""
    import random

    from converttovectordb_spark.operators.dedup import embedding_lsh_bands

    rng = random.Random(0)
    dim = 16
    rows = []
    # 40 random base vectors in one coarse bucket + 10 planted near-dups
    bases = []
    for i in range(40):
        v = [rng.gauss(0, 1) for _ in range(dim)]
        bases.append(v)
        rows.append((i, v, 0))
    for i in range(10):
        v = [x + rng.gauss(0, 0.005) for x in bases[i]]  # tiny perturbation
        rows.append((100 + i, v, 0))
    vecs = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])

    exact = embedding_neardup_pairs(
        vecs, threshold=0.98, bucket_col="label"
    ).collect()
    lsh = embedding_neardup_pairs(
        vecs, threshold=0.98, bucket_col="label",
        lsh_bands=8, lsh_band_bits=3, lsh_seed=42, dim=dim,
    ).collect()
    want = sorted((r.a, r.b) for r in exact)
    got = sorted((r.a, r.b) for r in lsh)
    assert want == [(i, 100 + i) for i in range(10)]
    assert got == want  # full recall on genuine near-dups

    # pair-space accounting: Σ per-(band,key) n² must undercut n²/2
    bands = embedding_lsh_bands(
        vecs, bucket_col="label", num_bands=8, band_bits=3, seed=42, dim=dim
    )
    from pyspark.sql import functions as F
    sizes = bands.groupBy("label", "band_id", "band_key").count().collect()
    cand_space = sum(r["count"] * (r["count"] - 1) // 2 for r in sizes)
    n = vecs.count()
    quad_space = n * (n - 1) // 2 * 8  # 8 bands of the full bucket
    assert cand_space < quad_space / 2


def test_connected_components_both_strategies_agree(spark):
    """Driver union-find (small-graph path) and distributed label
    propagation must produce identical components; labels are the
    component minimum."""
    from converttovectordb_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        # two chains and an isolated pair: {1,2,3,4}, {10,11}, {20,21,22}
        [(2, 1), (2, 3), (4, 3), (10, 11), (21, 20), (21, 22)],
        ["a", "b"],
    )
    want = {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    small = {r.node: r.comp for r in connected_components(edges).collect()}
    big = {
        r.node: r.comp
        for r in connected_components(edges, driver_threshold=0).collect()
    }
    assert small == want
    assert big == want


def test_connected_components_distributed_at_1e5_edges(spark):
    """r6 VERDICT ask #6: exercise the Pregel-lite branch at honest
    size — 105,000 edges (3,500 stars of 30 nodes + 500 chains of 8
    nodes), forced distributed via driver_threshold=0 — and pin both
    the labels (vs the driver union-find on the same graph) and the
    ROUND COUNT (chain diameter 7 + 1 detection round) before anyone
    trusts the path's convergence behavior at 100 TB."""
    from pyspark.sql import functions as F

    from converttovectordb_spark.operators.dedup import connected_components

    stars = (
        spark.range(3500)
        .select((F.col("id") * 40).alias("base"))
        .select(
            "base",
            F.explode(F.sequence(F.lit(1), F.lit(29))).alias("j"),
        )
        .select(
            F.col("base").alias("a"), (F.col("base") + F.col("j")).alias("b")
        )
    )
    chains = (
        spark.range(500)
        .select((F.lit(200_000) + F.col("id") * 10).alias("base"))
        .select(
            "base", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i")
        )
        .select(
            (F.col("base") + F.col("i")).alias("a"),
            (F.col("base") + F.col("i") + 1).alias("b"),
        )
    )
    edges = stars.union(chains)
    assert edges.count() == 3500 * 29 + 500 * 7  # 105,000

    stats: dict = {}
    dist = connected_components(
        edges, driver_threshold=0, stats=stats
    )
    got = {r.node: r.comp for r in dist.collect()}

    # expected labels derive from the construction: every node's
    # component minimum is its group's base id
    want = {}
    for c in range(3500):
        base = c * 40
        for j in range(30):
            want[base + j] = base
    for c in range(500):
        base = 200_000 + c * 10
        for i in range(8):
            want[base + i] = base
    assert got == want

    assert stats["strategy"] == "distributed"
    assert stats["n_edges"] == 105_000
    # synchronous 1-hop min propagation: the 8-node chains (diameter 7)
    # dominate → 7 spreading rounds + 1 no-change detection round
    assert stats["rounds"] == 8

    # and the driver union-find agrees on the identical edge list
    small_stats: dict = {}
    small = {
        r.node: r.comp
        for r in connected_components(edges, stats=small_stats).collect()
    }
    assert small_stats["strategy"] == "driver"
    assert small == want


def test_connected_components_raises_on_nonconvergence(spark):
    """A chain whose diameter exceeds max_iter must RAISE, not silently
    return a partial fixpoint (round-2 advisory)."""
    import pytest

    from converttovectordb_spark.operators.dedup import connected_components

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["a", "b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(chain, driver_threshold=0, max_iter=2)
    # same graph converges with budget to spare
    ok = {
        r.node: r.comp
        for r in connected_components(
            chain, driver_threshold=0, max_iter=15
        ).collect()
    }
    assert set(ok.values()) == {0}


def test_minhash_injected_candidates_match_direct_path(spark):
    """The candidates= seam (fed by the persisted signature artifact in
    queries.py) must give bit-identical results to the self-contained
    path — the artifact is a physical cache, never a semantic fork."""
    docs = _docs(spark)
    direct = sorted(
        map(tuple, minhash_lsh_neardup(docs, threshold=0.2).collect())
    )
    cands = minhash_lsh_candidates(
        docs, shingle_words=3, num_hashes=16, bands=4
    ).select("a", "b")
    injected = sorted(
        map(
            tuple,
            minhash_lsh_neardup(
                docs, threshold=0.2, candidates=cands
            ).collect(),
        )
    )
    assert direct == injected and len(direct) > 0


def test_simhash_injected_fingerprints_match_direct_path(spark):
    docs = _docs(spark)
    direct = sorted(
        map(tuple, simhash_neardup_pairs(docs, max_hamming=30).collect())
    )
    fp = simhash_fingerprints(docs)
    injected = sorted(
        map(
            tuple,
            simhash_neardup_pairs(
                docs, max_hamming=30, fingerprints=fp
            ).collect(),
        )
    )
    assert direct == injected and len(direct) > 0


def test_embedding_banded_injection_matches_direct_path(spark):
    from converttovectordb_spark.operators.dedup import embedding_lsh_bands

    emb = spark.createDataFrame(
        [
            (1, [1.0, 0.0, 0.2, 0.1], 0),
            (2, [0.9, 0.05, 0.21, 0.1], 0),   # near-dup of 1, same bucket
            (3, [-1.0, 0.5, -0.2, 0.3], 0),
            (4, [0.0, 1.0, 0.0, 0.0], 1),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    direct = sorted(
        map(
            tuple,
            embedding_neardup_pairs(
                emb, threshold=0.9, bucket_col="label",
                lsh_bands=4, lsh_band_bits=2, lsh_seed=7, dim=4,
            ).collect(),
        )
    )
    banded = embedding_lsh_bands(
        emb, bucket_col="label", num_bands=4, band_bits=2, seed=7, dim=4
    )
    injected = sorted(
        map(
            tuple,
            embedding_neardup_pairs(
                emb, threshold=0.9, bucket_col="label", banded=banded
            ).collect(),
        )
    )
    assert direct == injected and len(direct) > 0


def test_ingest_semantic_dedup_drops_near_dup_arrivals(spark, tmp_path):
    """dedup-on-arrival: a re-crawled file whose content already sits
    in the store (under ANOTHER path, so content-hash append_dedup by
    (path,content) identity aside — byte-equal embeddings) is dropped
    before the write; genuinely new content lands."""
    from converttovectordb_spark.engine import VectorEngine

    repo_a = tmp_path / "repo_a"
    repo_a.mkdir()
    (repo_a / "orig.txt").write_text("spark shuffles partition data " * 20)
    repo_b = tmp_path / "repo_b"
    repo_b.mkdir()
    # same bytes, different path → same embedding → near-dup arrival
    (repo_b / "copy.txt").write_text("spark shuffles partition data " * 20)
    (repo_b / "fresh.txt").write_text("watermarks bound streaming state")

    eng = VectorEngine(spark, str(tmp_path / "store"), dim=16)
    eng.ingest(str(repo_a))
    n0 = eng.store.load().count()
    eng.ingest(str(repo_b), semantic_dedup=0.999)
    rows = eng.store.load().collect()
    paths = {r.path for r in rows}
    assert any("fresh.txt" in p for p in paths)
    assert not any("copy.txt" in p for p in paths)
    assert eng.last_ingest_metrics["rows_written"] == len(rows) - n0

    # threshold validated; empty store is a no-op path
    with pytest.raises(ValueError, match="semantic_dedup"):
        eng.ingest(str(repo_b), semantic_dedup=1.5)
    eng2 = VectorEngine(spark, str(tmp_path / "store2"), dim=16)
    eng2.ingest(str(repo_b), semantic_dedup=0.9)  # no corpus yet: all land
    assert eng2.store.load().count() > 0


def _crawl(tmp_path, name, files):
    repo = tmp_path / name
    repo.mkdir()
    for fname, text in files.items():
        (repo / fname).write_text(text)
    return str(repo)


ORIG = "spark shuffles partition data across executors " * 20
FRESH = "watermarks bound the streaming state store growth"


@pytest.mark.slow  # 7.9s
def test_ingest_semantic_dedup_pruned_matches_brute(spark, tmp_path):
    """The IVF-bucketed dedup-on-arrival path (a fresh index attached)
    must make the SAME drop decisions as the brute full-scan fallback
    on a fixture where the near-dup lands in its copy's cluster (an
    identical vector always routes to the identical nearest frozen
    centroid, so nprobe=1 suffices)."""
    from converttovectordb_spark.engine import VectorEngine

    seed = {
        "orig.txt": ORIG,
        "a.txt": "completely different words about parquet file footers",
        "b.txt": "a third topic entirely the catalyst optimizer rules",
    }
    arrival = {"copy.txt": ORIG, "fresh.txt": FRESH}

    # brute engine: no index anywhere
    eb = VectorEngine(spark, str(tmp_path / "store_brute"), dim=16)
    eb.ingest(_crawl(tmp_path, "seed_b", seed))
    eb.ingest(
        _crawl(tmp_path, "arr_b", arrival), semantic_dedup=0.999
    )
    brute_paths = sorted(
        r.path.rsplit("/", 1)[-1] for r in eb.store.load().collect()
    )

    # indexed engine: same corpus, fresh IVF index attached
    ei = VectorEngine(spark, str(tmp_path / "store_ivf"), dim=16)
    ei.ingest(_crawl(tmp_path, "seed_i", seed))
    ei.build_index(num_clusters=3)
    ei.ingest(
        _crawl(tmp_path, "arr_i", arrival),
        semantic_dedup=0.999,
        semantic_dedup_nprobe=1,
    )
    ivf_paths = sorted(
        r.path.rsplit("/", 1)[-1] for r in ei.store.load().collect()
    )
    assert ivf_paths == brute_paths
    assert "fresh.txt" in ivf_paths and "copy.txt" not in ivf_paths


def test_ingest_semantic_dedup_pruned_plan_has_partition_filter(
    spark, tmp_path
):
    """The indexed dedup threshold test must scan ONLY probed cluster
    partitions: the corpus read carries a cluster_id PartitionFilter
    (directory pruning) — never a full-corpus scan node."""
    from converttovectordb_spark.engine import VectorEngine, _row_id
    from converttovectordb_spark.functions.vector import l2_normalize
    from converttovectordb_spark.plans import physical_plan

    eng = VectorEngine(spark, str(tmp_path / "store"), dim=16)
    eng.ingest(
        _crawl(
            tmp_path,
            "seed",
            {
                "orig.txt": ORIG,
                "a.txt": "completely different words about parquet footers",
                "b.txt": "a third topic entirely the catalyst rules",
            },
        )
    )
    index = eng.build_index(num_clusters=3)
    probes = eng.store.load().limit(1).select(
        _row_id().alias("_bid"),
        l2_normalize(F.col("embedding")).alias("_bq"),
    )
    dup_ids = eng._dup_ids_pruned(probes, index, 0.999, 1)
    plan = physical_plan(dup_ids)
    assert "PartitionFilters: [" in plan
    pruned_scans = [
        seg.split("]")[0]
        for seg in plan.split("PartitionFilters:")[1:]
    ]
    assert any("cluster_id" in seg for seg in pruned_scans)
    # with nprobe=1 of 3 clusters, the pruned path really drops the dup
    assert dup_ids.count() == 1


@pytest.mark.slow  # 8.7s
def test_ingest_semantic_dedup_heals_stale_index(spark, tmp_path):
    """A store that moved past the index (an ingest after build_index)
    must NOT silently miss duplicates of the newest rows: the dedup
    path heals the index first (append_to_index), so a near-dup of the
    post-build content is still caught, pruned."""
    from converttovectordb_spark.engine import VectorEngine

    eng = VectorEngine(
        spark, str(tmp_path / "store"), dim=16, transactional=True
    )
    eng.ingest(
        _crawl(
            tmp_path,
            "seed",
            {
                "a.txt": "completely different words about parquet footers",
                "b.txt": "a third topic entirely the catalyst rules",
            },
        )
    )
    eng.build_index(num_clusters=2, transactional=True)
    # index is now stale relative to this second commit
    eng.ingest(_crawl(tmp_path, "late", {"orig.txt": ORIG}))
    eng.ingest(
        _crawl(tmp_path, "arr", {"copy.txt": ORIG, "fresh.txt": FRESH}),
        semantic_dedup=0.999,
    )
    names = {
        r.path.rsplit("/", 1)[-1] for r in eng.store.load().collect()
    }
    assert "fresh.txt" in names and "copy.txt" not in names
    # the heal really indexed the late row (not just scanned it brute)
    assert {
        r["_row_id"].rsplit("/", 1)[-1]
        for r in eng._index.corpus().select("_row_id").collect()
    } >= {"orig.txt#0"}


@pytest.mark.slow  # 6.0s
def test_ingest_semantic_dedup_opens_published_index(spark, tmp_path):
    """Fresh process: nothing attached, but a CURRENT transactional
    index is published — the dedup path opens it (with the healing
    refresh) instead of falling back to the brute full scan."""
    from converttovectordb_spark.engine import VectorEngine

    store = str(tmp_path / "store")
    e1 = VectorEngine(spark, store, dim=16, transactional=True)
    e1.ingest(
        _crawl(
            tmp_path,
            "seed",
            {
                "orig.txt": ORIG,
                "a.txt": "completely different words about parquet footers",
            },
        )
    )
    e1.build_index(num_clusters=2, transactional=True)

    e2 = VectorEngine(spark, store, dim=16, transactional=True)
    assert getattr(e2, "_index", None) is None
    e2.ingest(
        _crawl(tmp_path, "arr", {"copy.txt": ORIG, "fresh.txt": FRESH}),
        semantic_dedup=0.999,
    )
    assert e2._index is not None  # opened CURRENT, not brute
    names = {
        r.path.rsplit("/", 1)[-1] for r in e2.store.load().collect()
    }
    assert "fresh.txt" in names and "copy.txt" not in names


def test_ingest_within_batch_dedup_keeps_lowest_key(spark, tmp_path):
    """Two paraphrase copies arriving in ONE batch: the keep-lowest
    (path, chunk_index) rule lands exactly the lexicographically
    first copy — deterministic, re-runnable."""
    from converttovectordb_spark.engine import VectorEngine

    eng = VectorEngine(spark, str(tmp_path / "store"), dim=16)
    eng.ingest(
        _crawl(
            tmp_path,
            "arr",
            {"dup1.txt": ORIG, "dup2.txt": ORIG, "fresh.txt": FRESH},
        ),
        semantic_dedup=0.999,
        semantic_dedup_within_batch=True,
    )
    names = sorted(
        r.path.rsplit("/", 1)[-1] for r in eng.store.load().collect()
    )
    assert names == ["dup1.txt", "fresh.txt"]
    # default (opt-out) keeps both copies — the documented behavior
    eng2 = VectorEngine(spark, str(tmp_path / "store2"), dim=16)
    eng2.ingest(
        _crawl(
            tmp_path,
            "arr2",
            {"dup1.txt": ORIG, "dup2.txt": ORIG},
        ),
        semantic_dedup=0.999,
    )
    assert eng2.store.load().count() == 2


def test_pruned_dedup_exhaustive_probe_equals_brute(spark, tmp_path):
    """Invariant, not fixture luck: with nprobe = num_clusters the
    probed union is the whole corpus, so the pruned path's decisions
    must equal brute ON ANY DATA — random vectors, thresholds both
    loose and tight. Pins the two code paths to one semantics."""
    import random

    from converttovectordb_spark.engine import VectorEngine
    from converttovectordb_spark.functions.vector import l2_normalize
    from converttovectordb_spark.plans.ivf_index import build_ivf_index

    rng = random.Random(23)
    dim, n, k = 8, 120, 5
    corpus = spark.createDataFrame(
        [
            (i, [rng.uniform(-1, 1) for _ in range(dim)])
            for i in range(n)
        ],
        "vec_id bigint, embedding array<double>",
    )
    index = build_ivf_index(
        corpus, str(tmp_path / "ivf"), num_clusters=k, seed=5
    )
    # batch: some corpus rows (guaranteed dups at high threshold),
    # some fresh randoms, one zero vector (must never be a dup)
    batch_rows = (
        [(f"dup{i}", [float(x) for x in r["embedding"]])
         for i, r in enumerate(corpus.limit(10).collect())]
        + [
            (f"new{i}", [rng.uniform(-1, 1) for _ in range(dim)])
            for i in range(10)
        ]
        + [("zero", [0.0] * dim)]
    )
    probes = spark.createDataFrame(
        batch_rows, "_bid string, embedding array<double>"
    ).select("_bid", l2_normalize(F.col("embedding")).alias("_bq"))
    for t in (0.99, 0.6, 0.2):
        brute = {
            r["_bid"]
            for r in VectorEngine._dup_ids_brute(
                probes, corpus, t
            ).collect()
        }
        pruned = {
            r["_bid"]
            for r in VectorEngine._dup_ids_pruned(
                probes, index, t, nprobe=k
            ).collect()
        }
        assert pruned == brute, (t, pruned ^ brute)
        assert "zero" not in brute


def test_ingest_dedup_dimension_mismatch_is_loud(spark, tmp_path):
    """An engine re-created with a different dim over an existing store
    must fail the dedup threshold test with a clear dimension error,
    not an opaque matmul shape error from inside an executor."""
    from converttovectordb_spark.engine import VectorEngine

    store = str(tmp_path / "store")
    e16 = VectorEngine(spark, store, dim=16)
    e16.ingest(_crawl(tmp_path, "seed", {"a.txt": ORIG}))
    e8 = VectorEngine(spark, store, dim=8)
    with pytest.raises(Exception, match="dimension mismatch"):
        e8.ingest(
            _crawl(tmp_path, "arr", {"b.txt": FRESH}),
            semantic_dedup=0.9,
        )


def test_ingest_dedup_flag_validation(spark, tmp_path):
    """Misconfigured dedup knobs must refuse loudly BEFORE any work:
    within-batch without a threshold would silently write every
    duplicate; nprobe<1 would silently disable the indexed dedup."""
    from converttovectordb_spark.engine import VectorEngine

    repo = _crawl(tmp_path, "repo", {"a.txt": ORIG})
    eng = VectorEngine(spark, str(tmp_path / "store"), dim=16)
    with pytest.raises(ValueError, match="within_batch"):
        eng.ingest(repo, semantic_dedup_within_batch=True)
    with pytest.raises(ValueError, match="nprobe"):
        eng.ingest(repo, semantic_dedup=0.9, semantic_dedup_nprobe=0)
    assert not eng.store.exists()  # both refused before any write


@pytest.mark.slow  # 6.4s
def test_ingest_dedup_failed_index_open_restores_no_index_state(
    spark, tmp_path
):
    """A published CURRENT index that cannot be healed (orphaned rows
    after a clear) must fall back to brute AND leave the engine in the
    no-index state — not half-attached with the sentinel token, which
    would flip later search_indexed calls onto the orphaned snapshot."""
    from converttovectordb_spark.engine import VectorEngine

    store = str(tmp_path / "store")
    e1 = VectorEngine(spark, store, dim=16, transactional=True)
    e1.ingest(
        _crawl(
            tmp_path,
            "seed",
            {
                "old.txt": "content that will be cleared away entirely",
                "b.txt": "another doomed seed file with words",
            },
        )
    )
    e1.build_index(num_clusters=2, transactional=True)
    e1.clear(backup=False)
    e1.ingest(_crawl(tmp_path, "re", {"orig.txt": ORIG}))
    # fresh process: CURRENT points at an index holding rows the store
    # no longer has — open succeeds, heal raises (rebuild territory)
    e2 = VectorEngine(spark, store, dim=16, transactional=True)
    e2.ingest(
        _crawl(tmp_path, "arr", {"copy.txt": ORIG, "fresh.txt": FRESH}),
        semantic_dedup=0.999,
    )
    names = {
        r.path.rsplit("/", 1)[-1] for r in e2.store.load().collect()
    }
    # brute fallback still made the right decisions
    assert "fresh.txt" in names and "copy.txt" not in names
    # and the engine is back in the documented no-index state
    assert getattr(e2, "_index", None) is None
    with pytest.raises(RuntimeError, match="no IVF index built"):
        e2.search_indexed("anything", allow_stale=True)


def test_ingest_semantic_dedup_rejects_replace_combo(spark, tmp_path):
    """replace tombstones every old chunk of a touched path; dedup
    would drop the unchanged chunks from the batch so they'd never be
    rewritten — the combination must refuse loudly, before any work."""
    from converttovectordb_spark.engine import VectorEngine

    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "a.txt").write_text("some document content here")
    eng = VectorEngine(
        spark, str(tmp_path / "store"), dim=16, transactional=True
    )
    eng.ingest(str(repo))
    with pytest.raises(ValueError, match="replace"):
        eng.ingest(str(repo), replace=True, semantic_dedup=0.9)


def test_duplicate_spans_merges_overlapping_grams(spark):
    from converttovectordb_spark.operators.dedup import duplicate_spans

    # 10 shared tokens -> duplicated 8-grams at pos 0,1,2 in doc 1 and
    # pos 2,3,4 in doc 2: one merged island each, covering exactly the
    # 10 shared tokens (pos overlap-merge, not naive per-gram sums).
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    d1 = shared + " uniqueone uniquetwo uniquethree"
    d2 = "prefixa prefixb " + shared
    d3 = "totally unrelated words " * 3
    docs = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: r
        for r in duplicate_spans(docs, k=8).collect()
    }
    assert out[1]["dup_spans"] == 1
    assert out[1]["dup_tokens"] == 10
    assert out[1]["n_tokens"] == 13
    assert out[1]["dup_frac"] == pytest.approx(10 / 13, abs=1e-6)
    assert out[2]["dup_spans"] == 1
    assert out[2]["dup_tokens"] == 10
    assert out[3]["dup_spans"] == 0
    assert out[3]["dup_tokens"] == 0
    assert out[3]["dup_frac"] == 0.0


def test_duplicate_spans_gap_starts_new_island(spark):
    from converttovectordb_spark.operators.dedup import duplicate_spans

    # Two shared 8-token passages separated by >8 unique tokens in the
    # probe doc -> two spans of 8 tokens each, never merged.
    p1 = "a1 a2 a3 a4 a5 a6 a7 a8"
    p2 = "b1 b2 b3 b4 b5 b6 b7 b8"
    gap = " ".join(f"g{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, f"{p1} {gap} {p2}"),
            (2, p1),
            (3, p2),
        ],
        ["doc_id", "text"],
    )
    row = {r["doc_id"]: r for r in duplicate_spans(docs, k=8).collect()}[1]
    assert row["dup_spans"] == 2
    assert row["dup_tokens"] == 16

    # short docs (< k tokens) are reported with zero coverage, and the
    # parameter guards are loud
    assert {r["doc_id"]: r["dup_spans"] for r in duplicate_spans(
        spark.createDataFrame([(9, "too short")], ["doc_id", "text"]), k=8
    ).collect()} == {9: 0}
    with pytest.raises(ValueError, match="k >= 2"):
        duplicate_spans(docs, k=1)
    with pytest.raises(ValueError, match="min_occ"):
        duplicate_spans(docs, min_occ=1)


def test_cut_duplicate_spans_keeps_first_copy(spark):
    from converttovectordb_spark.operators.dedup import cut_duplicate_spans

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # exactly 8
    docs = spark.createDataFrame(
        [
            (1, shared + " tail1 tail2"),
            (2, "head1 head2 " + shared),
            (3, "no duplicated passages in here at all friends"),
        ],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in cut_duplicate_spans(docs, k=8).collect()}
    # doc 1 holds the corpus-first copy: nothing cut
    assert out[1]["n_cut"] == 0
    assert out[1]["text_clean"] == shared + " tail1 tail2"
    # doc 2's copy is excess: the 8 shared tokens go, the head survives
    assert out[2]["n_cut"] == 8
    assert out[2]["text_clean"] == "head1 head2"
    assert out[2]["n_kept"] == 2
    # untouched doc passes through whitespace-normalized but intact
    assert out[3]["n_cut"] == 0
    assert out[3]["text_clean"] == "no duplicated passages in here at all friends"


def test_cut_duplicate_spans_cuts_within_doc_repeat(spark):
    from converttovectordb_spark.operators.dedup import cut_duplicate_spans

    p = "r1 r2 r3 r4 r5 r6 r7 r8"
    docs = spark.createDataFrame(
        [(1, f"{p} mid1 mid2 mid3 mid4 mid5 mid6 mid7 mid8 mid9 {p}")],
        ["doc_id", "text"],
    )
    row = cut_duplicate_spans(docs, k=8).collect()[0]
    # the first in-doc occurrence is the keeper, the second is cut
    assert row["n_tokens"] == 25
    assert row["n_cut"] == 8
    assert row["text_clean"].startswith(p + " mid1")
    assert row["text_clean"].endswith("mid9")


LEX_BASE = " ".join(f"tok{i}" for i in range(60))


def test_ingest_lexical_dedup_drops_near_dup_keeps_fresh(spark, tmp_path):
    """MinHash dedup-on-arrival: a high-Jaccard re-crawl (same text
    plus two trailing words, under ANOTHER path) is dropped before the
    write; unrelated content lands; an exact re-crawl is fully
    deduped. The corpus side is the persisted signature artifact —
    asserted present after the first flagged ingest."""
    import os

    from converttovectordb_spark.engine import VectorEngine

    r1 = _crawl(tmp_path, "lex_r1", {
        "a.txt": LEX_BASE,
        "b.txt": "totally different content about cooking recipes today",
    })
    r2 = _crawl(tmp_path, "lex_r2", {
        "c.txt": LEX_BASE + " extra ending",
        "d.txt": "unrelated astronomy telescope galaxies observation notes",
    })
    store = str(tmp_path / "lex_store")
    eng = VectorEngine(spark, store, dim=16)
    eng.ingest(r1, lexical_dedup=0.7)
    assert os.path.exists(store + "_minhash_sigs")
    eng.ingest(r2, lexical_dedup=0.7)
    paths = {r.path for r in eng.store.load().select("path").collect()}
    assert not any("c.txt" in p for p in paths)
    assert any("d.txt" in p for p in paths)
    # exact re-crawl: every chunk already committed → zero survivors
    out = eng.ingest(r1, lexical_dedup=0.7)
    assert out.count() == 0

    # flag validation
    with pytest.raises(ValueError, match="lexical_dedup"):
        eng.ingest(r1, lexical_dedup=1.5)
    eng_t = VectorEngine(spark, str(tmp_path / "lex_t"), dim=16,
                         transactional=True)
    eng_t.ingest(r1)
    with pytest.raises(ValueError, match="replace"):
        eng_t.ingest(r1, lexical_dedup=0.7, replace=True)


@pytest.mark.slow  # 8.7s
def test_ingest_lexical_dedup_heals_stale_artifact(spark, tmp_path):
    """An UNFLAGGED ingest between two flagged ones leaves the artifact
    stale; the next flagged ingest must heal it by _row_id delta so the
    interim rows also dedupe arrivals."""
    from converttovectordb_spark.engine import VectorEngine

    interim = "interim corpus text about streaming watermark semantics " * 3
    r1 = _crawl(tmp_path, "heal_r1", {"a.txt": LEX_BASE})
    r2 = _crawl(tmp_path, "heal_r2", {"mid.txt": interim})
    r3 = _crawl(tmp_path, "heal_r3", {
        "mid_copy.txt": interim,   # dup of the UNFLAGGED interim ingest
        "fresh.txt": "genuinely new words about bucketed co-located joins",
    })
    store = str(tmp_path / "heal_store")
    eng = VectorEngine(spark, store, dim=16)
    eng.ingest(r1, lexical_dedup=0.8)        # builds the artifact
    eng.ingest(r2)                            # unflagged → artifact stale
    eng.ingest(r3, lexical_dedup=0.8)         # must heal, then dedup
    paths = {r.path for r in eng.store.load().select("path").collect()}
    assert not any("mid_copy.txt" in p for p in paths)
    assert any("fresh.txt" in p for p in paths)


def test_ingest_lexical_dedup_rebuilds_after_clear(spark, tmp_path):
    """clear() drops the artifact with the store: a post-clear ingest
    must NOT drop arrivals against the vanished corpus."""
    import os

    from converttovectordb_spark.engine import VectorEngine

    r1 = _crawl(tmp_path, "clr_r1", {"a.txt": LEX_BASE})
    store = str(tmp_path / "clr_store")
    eng = VectorEngine(spark, store, dim=16)
    eng.ingest(r1, lexical_dedup=0.8)
    eng.clear(backup=False)
    assert not os.path.exists(store + "_minhash_sigs")
    out = eng.ingest(r1, lexical_dedup=0.8)   # same content, empty store
    assert out.count() == 1                   # lands — nothing to dedup against
    assert eng.store.load().count() == 1


@pytest.mark.slow  # 25.4s
def test_ingest_lexical_and_semantic_compose(spark, tmp_path):
    """Both flags together: the drop sets union — a lexical-only dup
    (same words, hash-embedder sees same bytes → also semantic) and a
    semantic-only dup are both dropped, fresh content lands."""
    from converttovectordb_spark.engine import VectorEngine

    r1 = _crawl(tmp_path, "both_r1", {"a.txt": LEX_BASE})
    r2 = _crawl(tmp_path, "both_r2", {
        "copy.txt": LEX_BASE,       # exact dup: both paths would drop it
        "fresh.txt": "new material on adaptive query execution behavior",
    })
    store = str(tmp_path / "both_store")
    eng = VectorEngine(spark, store, dim=16)
    eng.ingest(r1, lexical_dedup=0.8, semantic_dedup=0.999)
    eng.ingest(r2, lexical_dedup=0.8, semantic_dedup=0.999)
    paths = {r.path for r in eng.store.load().select("path").collect()}
    assert not any("copy.txt" in p for p in paths)
    assert any("fresh.txt" in p for p in paths)


LEX_ALT = " ".join(f"word{i}" for i in range(60))


@pytest.mark.slow  # 17.0s
def test_ingest_lexical_recrawl_changed_content_supersedes_sig(
    spark, tmp_path
):
    """A re-crawl that CHANGES content under an existing
    path#chunk_index must supersede the old signature, not sit beside
    it: the live corpus (newest copy per rid) no longer contains the
    old text, so a later arrival of the OLD text is NOT a duplicate
    and must land — a stale signature would wrongly drop it. The NEW
    text's copies must still be dropped, and duplicate-rid rows must
    not accumulate across re-ingests."""
    from converttovectordb_spark.engine import VectorEngine, LEX_BANDS

    repo = tmp_path / "recrawl"
    repo.mkdir()
    (repo / "a.txt").write_text(LEX_BASE)
    store = str(tmp_path / "recrawl_store")
    eng = VectorEngine(spark, store, dim=16)
    eng.ingest(str(repo), lexical_dedup=0.7)
    # same path, different content → same rid, survives the threshold
    (repo / "a.txt").write_text(LEX_ALT)
    out = eng.ingest(str(repo), lexical_dedup=0.7)
    # evaluating the RETURNED batch after the compaction swapped the
    # artifact files must work: the drop set is materialized driver-
    # side, so no caller-held plan pins the deleted parquet files
    assert out.count() == 1
    # the artifact must hold exactly ONE signature set for the rid
    sigs = eng._sig_store().load()
    per_rid = sigs.groupBy("rid").count().collect()
    assert per_rid and all(r["count"] <= LEX_BANDS for r in per_rid)
    # old text at a NEW path: not in the live corpus → must land
    r_old = _crawl(tmp_path, "recrawl_old", {"old_copy.txt": LEX_BASE})
    assert eng.ingest(r_old, lexical_dedup=0.7).count() == 1
    # new text at a NEW path: live duplicate → must be dropped
    r_new = _crawl(tmp_path, "recrawl_new", {"new_copy.txt": LEX_ALT})
    assert eng.ingest(r_new, lexical_dedup=0.7).count() == 0


@pytest.mark.slow  # 12.7s
def test_ingest_lexical_heal_detects_content_change(spark, tmp_path):
    """An UNFLAGGED re-crawl that rewrites a chunk's content leaves
    the artifact stale in a way a rid-only delta cannot see (the rid
    set is unchanged). The next flagged ingest must heal by
    (rid, chash): the old text is no longer live → its copy lands;
    the new text is live → its copy is dropped."""
    from converttovectordb_spark.engine import VectorEngine

    repo = tmp_path / "healc"
    repo.mkdir()
    (repo / "a.txt").write_text(LEX_BASE)
    store = str(tmp_path / "healc_store")
    eng = VectorEngine(spark, store, dim=16)
    eng.ingest(str(repo), lexical_dedup=0.7)   # builds the artifact
    (repo / "a.txt").write_text(LEX_ALT)
    eng.ingest(str(repo))                      # UNFLAGGED content change
    r_old = _crawl(tmp_path, "healc_old", {"old_copy.txt": LEX_BASE})
    out = eng.ingest(r_old, lexical_dedup=0.7)  # heal, then decide
    assert out.count() == 1                     # old text not live → lands
    r_new = _crawl(tmp_path, "healc_new", {"new_copy.txt": LEX_ALT})
    assert eng.ingest(r_new, lexical_dedup=0.7).count() == 0


@pytest.mark.slow  # 6.5s
def test_ingest_lexical_stale_params_artifact_self_invalidates(
    spark, tmp_path
):
    """An artifact committed under different SIG_PARAMS (e.g. the v1
    schema without chash) must read as absent — the next flagged
    ingest rebuilds wholesale instead of trusting rows whose recipe
    (hash count, bands, schema) no longer matches the decision
    code's."""
    import json
    import os

    from converttovectordb_spark.engine import VectorEngine
    from converttovectordb_spark.sources.sigstore import (
        MinHashSignatureStore,
    )

    r1 = _crawl(tmp_path, "v1_r1", {"a.txt": LEX_BASE})
    r2 = _crawl(tmp_path, "v1_r2", {"copy.txt": LEX_BASE})
    store = str(tmp_path / "v1_store")
    eng = VectorEngine(spark, store, dim=16)
    eng.ingest(r1, lexical_dedup=0.7)
    # forge an old-params token over the committed artifact
    sig = MinHashSignatureStore(spark, store + "_minhash_sigs")
    tok_path = os.path.join(sig.path, sig.TOKEN_FILE)
    meta = json.load(open(tok_path))
    meta["params"] = "nh=32|bands=8|sw=3|v1"
    json.dump(meta, open(tok_path, "w"))
    assert sig.token() is None  # params mismatch reads as absent
    # flagged ingest must rebuild and still dedup correctly
    out = eng.ingest(r2, lexical_dedup=0.7)
    assert out.count() == 0
    assert sig.token() is not None  # rebuilt under current params


def test_lexical_short_text_blind_spot_is_harmless(spark, tmp_path):
    """Chunks under 3 words have no MinHash signature: they are never
    dropped and never drop others — the documented blind spot must not
    crash the pipeline or produce empty-signature candidates."""
    from converttovectordb_spark.engine import VectorEngine

    r1 = _crawl(tmp_path, "short_r1", {"a.txt": "hi there"})
    r2 = _crawl(tmp_path, "short_r2", {"b.txt": "hi there"})
    store = str(tmp_path / "short_store")
    eng = VectorEngine(spark, store, dim=16)
    eng.ingest(r1, lexical_dedup=0.5)
    eng.ingest(r2, lexical_dedup=0.5)
    assert eng.store.load().count() == 2  # both land: no signatures


def test_jaccard_verify_cross_two_sided(spark):
    """Cross-corpus exact-Jaccard verify: only candidate pairs are
    scored, Jaccard is computed over distinct 3-shingles of the two
    SIDES' own texts, threshold applies."""
    from converttovectordb_spark.operators.dedup import jaccard_verify_cross

    docs_a = spark.createDataFrame(
        [("x", DOC), ("y", OTHER)], ["a", "text"]
    )
    docs_b = spark.createDataFrame(
        [("p", DOC), ("q", NEAR), ("r", OTHER)], ["b", "text"]
    )
    cands = spark.createDataFrame(
        [("x", "p"), ("x", "q"), ("x", "r"), ("y", "r")], ["a", "b"]
    )
    out = {(r["a"], r["b"]): r["jaccard"]
           for r in jaccard_verify_cross(
               docs_a, docs_b, cands, threshold=0.5).collect()}
    assert out[("x", "p")] == pytest.approx(1.0)          # identical text
    assert ("x", "r") not in out                           # unrelated
    assert out[("y", "r")] == pytest.approx(1.0)
    assert 0.5 <= out[("x", "q")] < 1.0                    # near-dup


def test_append_documents_dedup_transactional(spark, tmp_path):
    """engine.append_documents (the push door) applies the same drop
    semantics as flagged ingest on a TRANSACTIONAL store: an exact
    text re-push is dropped lexically, a same-embedding paraphrase is
    dropped semantically, fresh rows land, and the signature artifact
    advances so a LATER push still dedups."""
    import os

    from converttovectordb_spark.engine import VectorEngine
    from converttovectordb_spark.schema import DOCUMENTS_SCHEMA

    def row(path, content, axis):
        emb = [0.0] * 16
        emb[axis] = 1.0
        return (path, ".txt", 0, 1, content, emb, 1.0)

    store = str(tmp_path / "push_store")
    eng = VectorEngine(spark, store, dim=16, transactional=True)
    first = spark.createDataFrame(
        [row("a.txt", LEX_BASE, 0)], DOCUMENTS_SCHEMA
    )
    assert eng.append_documents(
        first, lexical_dedup=0.8, semantic_dedup=0.99
    ) == 1
    assert os.path.exists(store + "_minhash_sigs")

    batch = spark.createDataFrame(
        [
            row("copy.txt", LEX_BASE, 1),              # lexical dup
            row("para.txt", "unrelated words here", 0),  # semantic dup
            row("fresh.txt", "genuinely new content", 2),
        ],
        DOCUMENTS_SCHEMA,
    )
    assert eng.append_documents(
        batch, lexical_dedup=0.8, semantic_dedup=0.99
    ) == 1
    paths = {r.path for r in eng.store.load().select("path").collect()}
    assert paths == {"a.txt", "fresh.txt"}
    # artifact advanced: a later exact re-push of the fresh row drops
    later = spark.createDataFrame(
        [row("fresh2.txt", "genuinely new content", 3)], DOCUMENTS_SCHEMA
    )
    assert eng.append_documents(later, lexical_dedup=0.8) == 0
    # flag validation is shared with ingest
    with pytest.raises(ValueError, match="within_batch"):
        eng.append_documents(later, semantic_dedup_within_batch=True)


def test_append_documents_first_write_collision_guard(spark, tmp_path):
    """ADVICE r9: semantic_dedup against an ABSENT store runs no drop
    decision, but a first-write batch with colliding (path,
    chunk_index) identities must still be refused loudly — colliding
    pushes shadow each other in newest-per-rid reads."""
    from converttovectordb_spark.engine import VectorEngine
    from converttovectordb_spark.schema import DOCUMENTS_SCHEMA

    def row(path, content, axis):
        emb = [0.0] * 16
        emb[axis] = 1.0
        return (path, ".txt", 0, 1, content, emb, 1.0)

    eng = VectorEngine(
        spark, str(tmp_path / "store"), dim=16, transactional=True
    )
    colliding = spark.createDataFrame(
        [row("a.txt", "first copy", 0), row("a.txt", "second copy", 1)],
        DOCUMENTS_SCHEMA,
    )
    with pytest.raises(ValueError, match="distinct identities"):
        eng.append_documents(colliding, semantic_dedup=0.95)
    assert not eng.store.exists()  # nothing landed
    # non-colliding first write under the same flag goes through
    ok = spark.createDataFrame(
        [row("a.txt", "first copy", 0), row("b.txt", "second copy", 1)],
        DOCUMENTS_SCHEMA,
    )
    assert eng.append_documents(ok, semantic_dedup=0.95) == 2


def test_dedup_row_ids_equal_timestamp_tiebreak_matches_heal(spark):
    """ADVICE r9: two same-rid copies with EQUAL timestamps must
    resolve to the same copy in `_dedup_row_ids` (full rows) and the
    signature heal's compact (rid, chash) window — the artifact must
    never sign a non-surviving copy's content."""
    from pyspark.sql import Window

    from converttovectordb_spark.engine import VectorEngine, _row_id

    rows = [
        ("a.txt", ".txt", 0, 1, c, [1.0, 0.0], 5.0)
        for c in ("zebra content", "alpha content", "mid content")
    ]
    df = spark.createDataFrame(
        rows,
        "path string, extension string, chunk_index int, total_chunks int, "
        "content string, embedding array<double>, timestamp double",
    ).withColumn("_row_id", _row_id())
    survivor = VectorEngine._dedup_row_ids(df).collect()
    assert len(survivor) == 1
    # the heal window's rule: newest timestamp, then chash asc
    keys = df.select(
        F.col("_row_id").alias("rid"),
        F.xxhash64("content").alias("chash"),
        "timestamp",
    )
    w = Window.partitionBy("rid").orderBy(
        F.col("timestamp").desc(), F.col("chash").asc()
    )
    signed = (
        keys.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .collect()
    )
    assert len(signed) == 1
    got_hash = df.filter(
        F.col("content") == survivor[0]["content"]
    ).select(F.xxhash64("content")).first()[0]
    assert signed[0]["chash"] == got_hash


@pytest.mark.slow  # 10.3s
def test_append_documents_concurrent_pushes_serialized(spark, tmp_path):
    """Two dedup-flagged pushes racing from threads (the REST door's
    ThreadingHTTPServer reality) must serialize under the engine write
    lock: both land (or dedup) correctly, the signature artifact
    covers both batches, and a follow-up duplicate of EITHER batch is
    dropped."""
    import threading

    from converttovectordb_spark.engine import VectorEngine
    from converttovectordb_spark.schema import DOCUMENTS_SCHEMA

    t1 = " ".join(f"alpha{i}" for i in range(40))
    t2 = " ".join(f"beta{i}" for i in range(40))

    def row(path, content, axis):
        emb = [0.0] * 16
        emb[axis] = 1.0
        return (path, ".txt", 0, 1, content, emb, 1.0)

    store = str(tmp_path / "race_store")
    eng = VectorEngine(spark, store, dim=16)
    eng.append_documents(
        spark.createDataFrame(
            [row("seed.txt", "seed content words", 0)], DOCUMENTS_SCHEMA
        ),
        lexical_dedup=0.8,
    )

    results, errors = {}, []

    def push(name, content, axis):
        try:
            df = spark.createDataFrame(
                [row(f"{name}.txt", content, axis)], DOCUMENTS_SCHEMA
            )
            results[name] = eng.append_documents(df, lexical_dedup=0.8)
        except Exception as exc:  # pragma: no cover - diagnostic
            errors.append((name, exc))

    threads = [
        threading.Thread(target=push, args=("a", t1, 1)),
        threading.Thread(target=push, args=("b", t2, 2)),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert results == {"a": 1, "b": 1}
    assert eng.store.load().count() == 3
    # the artifact covers both racing batches: copies of each drop
    assert eng.append_documents(
        spark.createDataFrame(
            [row("a_copy.txt", t1, 3)], DOCUMENTS_SCHEMA
        ),
        lexical_dedup=0.8,
    ) == 0
    assert eng.append_documents(
        spark.createDataFrame(
            [row("b_copy.txt", t2, 4)], DOCUMENTS_SCHEMA
        ),
        lexical_dedup=0.8,
    ) == 0


def test_append_documents_never_signs_unwritten_rows(spark, tmp_path):
    """store.append drops null-content/embedding rows; the signature
    advance must see the SAME filtered batch, or a signature for a
    never-written row would wrongly drop a future non-duplicate
    arrival of that text (review finding: signing the pre-validation
    batch)."""
    from converttovectordb_spark.engine import VectorEngine
    from converttovectordb_spark.schema import DOCUMENTS_SCHEMA

    phantom = " ".join(f"ghost{i}" for i in range(60))

    def row(path, content, axis, emb_ok=True):
        emb = None
        if emb_ok:
            emb = [0.0] * 16
            emb[axis] = 1.0
        return (path, ".txt", 0, 1, content, emb, 1.0)

    eng = VectorEngine(spark, str(tmp_path / "store"), dim=16)
    batch = spark.createDataFrame(
        [
            row("a.txt", LEX_BASE, 0),
            row("ghost.txt", phantom, 1, emb_ok=False),  # never written
        ],
        DOCUMENTS_SCHEMA,
    )
    # reported count excludes the invalid row too
    assert eng.append_documents(batch, lexical_dedup=0.8) == 1
    assert eng.store.load().count() == 1
    # the phantom text arriving later WITH a valid embedding is not a
    # duplicate of anything in the store — it must land
    retry = spark.createDataFrame(
        [row("real.txt", phantom, 2)], DOCUMENTS_SCHEMA
    )
    assert eng.append_documents(retry, lexical_dedup=0.8) == 1
    paths = {r.path for r in eng.store.load().select("path").collect()}
    assert paths == {"a.txt", "real.txt"}


@pytest.mark.slow  # 7.4s
def test_ingest_racing_push_keeps_both_writers_sig_coverage(spark, tmp_path):
    """Race a flagged ingest() against a flagged append_documents() on
    an initially EMPTY store (the TOCTOU shape: had_store must be read
    under the write lock — read before it, a first-ingest artifact
    rebuild could wipe the racing push's signature coverage). After
    both land, a duplicate of EITHER writer's content must drop."""
    import threading

    from converttovectordb_spark.engine import VectorEngine
    from converttovectordb_spark.schema import DOCUMENTS_SCHEMA

    repo = tmp_path / "repo"
    repo.mkdir()
    ingest_text = " ".join(f"gamma{i}" for i in range(60))
    (repo / "doc.txt").write_text(ingest_text)
    push_text = " ".join(f"delta{i}" for i in range(60))

    def row(path, content, axis):
        emb = [0.0] * 16
        emb[axis] = 1.0
        return (path, ".txt", 0, 1, content, emb, 1.0)

    eng = VectorEngine(spark, str(tmp_path / "store"), dim=16)
    errors = []

    def do_ingest():
        try:
            eng.ingest(str(repo), lexical_dedup=0.8)
        except Exception as exc:  # pragma: no cover - diagnostic
            errors.append(("ingest", exc))

    def do_push():
        try:
            eng.append_documents(
                spark.createDataFrame(
                    [row("pushed.txt", push_text, 1)], DOCUMENTS_SCHEMA
                ),
                lexical_dedup=0.8,
            )
        except Exception as exc:  # pragma: no cover - diagnostic
            errors.append(("push", exc))

    threads = [
        threading.Thread(target=do_ingest),
        threading.Thread(target=do_push),
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert eng.store.load().count() == 2
    # BOTH writers are signature-covered regardless of commit order
    assert eng.append_documents(
        spark.createDataFrame(
            [row("copy_i.txt", ingest_text, 2)], DOCUMENTS_SCHEMA
        ),
        lexical_dedup=0.8,
    ) == 0
    assert eng.append_documents(
        spark.createDataFrame(
            [row("copy_p.txt", push_text, 3)], DOCUMENTS_SCHEMA
        ),
        lexical_dedup=0.8,
    ) == 0
