"""ivf_knn_join_shuffled: the corpus-scale (non-broadcast-probe) IVF
KNN join. Correctness is pinned against the broadcast variant (shared
oracle semantics) and, bit for bit, against a test-local JVM-fold
reference plan (`_fold_reference`); the plan shape against the 100 TB
design: cogrouped (cluster, salt) scoring, zero-shuffle HOF centroid
probe, one final per-query exchange.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from converttovectordb_spark.operators.search import (
    ivf_knn_join,
    ivf_knn_join_shuffled,
)

SF_DIR = "/root/testdata/sf0.001"


def _rows(df):
    return sorted(
        (r.query_id, r.vec_id, round(r.score, 9), r.rank) for r in df.collect()
    )


def _fold_reference(
    queries, docs, *, top_k, nprobe, exclude_self=False, query_label_col=None
):
    """The plan the Arrow scorer must reproduce bit for bit, in plain
    Spark: nprobe nearest centroids per (normalized) query with the
    (csim desc, cluster asc) tie-break, equi-join on the cluster, the
    self and label disqualifiers as Spark filters (three-valued NULL
    logic), the `aggregate(zip_with)` left-fold dot over prenormalized
    vectors, and the (score desc, vec_id asc) top-k window."""
    from converttovectordb_spark.functions.vector import (
        cosine_similarity,
        dot_product,
        l2_normalize,
    )
    from converttovectordb_spark.plans.ivf_index import mean_centroids

    cents = mean_centroids(docs, cluster_col="label").select(
        F.col("cluster_id").alias("label"),
        F.col("centroid").cast("array<double>").alias("cvec"),
    )
    extra = [query_label_col] if query_label_col else []
    q = queries.select(
        "query_id", l2_normalize(F.col("query_vec")).alias("_qvec"), *extra
    )
    wc = Window.partitionBy("query_id").orderBy(
        F.col("csim").desc(), F.col("label").asc()
    )
    probe = (
        q.crossJoin(cents)
        .withColumn("csim", cosine_similarity(F.col("_qvec"), F.col("cvec")))
        .withColumn("crank", F.row_number().over(wc))
        .filter(F.col("crank") <= nprobe)
        .select("query_id", "_qvec", "label", *extra)
    )
    d = docs.select(
        "label", "vec_id", l2_normalize(F.col("embedding")).alias("_dvec")
    )
    cand = probe.join(d, on="label")
    if exclude_self:
        cand = cand.filter(F.col("query_id") != F.col("vec_id"))
    if query_label_col:
        cand = cand.filter(F.col(query_label_col) != F.col("label"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn("score", dot_product(F.col("_qvec"), F.col("_dvec")))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "vec_id", "score", "rank")
    )


def _exact(df):
    """Full-precision (score, rank) per (query, doc) — no rounding."""
    return {(r.query_id, r.vec_id): (r.score, r.rank) for r in df.collect()}


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


@pytest.fixture(scope="module")
def probes(emb):
    return emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )


def test_matches_broadcast_variant_and_salt_invariant(emb, probes):
    ref = _rows(ivf_knn_join(probes, emb, top_k=3, nprobe=2))
    assert len(ref) == 3 * emb.count()
    for salt in (1, 3):
        got = _rows(
            ivf_knn_join_shuffled(
                probes, emb, top_k=3, nprobe=2, salt_buckets=salt
            )
        )
        assert got == ref, f"salt_buckets={salt} diverged"


def test_exclude_self(emb, probes):
    out = ivf_knn_join_shuffled(
        probes, emb, top_k=3, nprobe=2, salt_buckets=2, exclude_self=True
    ).collect()
    assert out and all(r.query_id != r.vec_id for r in out)


def test_salt_buckets_validated(emb, probes):
    with pytest.raises(ValueError, match="salt_buckets"):
        ivf_knn_join_shuffled(probes, emb, salt_buckets=0)


def test_empty_query_side(emb, probes):
    out = ivf_knn_join_shuffled(
        probes.filter(F.lit(False)), emb, top_k=3, nprobe=2
    )
    assert out.count() == 0


def test_plan_arrow_cogroup_scorer_default(spark, emb, probes):
    """Scoring + the partial per-group top-k run as ONE cogrouped
    Arrow stage over the (cluster, salt) groups — the interpreted
    aggregate(zip_with) fold is gone from the per-pair path; the only
    per-query exchange is the final pruned one, fed by at most
    nprobe·S·k rows per query."""
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = ivf_knn_join_shuffled(
            probes, emb, top_k=3, nprobe=2, salt_buckets=2
        )
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "FlatMapCoGroupsInPandas" in plan
        # the per-pair join + fold is gone (the zip_with that remains
        # is the C-sized centroid probe, which stays a JVM HOF on
        # purpose — its volume is Q×C, not Q×N)
        assert "SortMergeJoin" not in plan
        assert "ShuffledHashJoin" not in plan
        exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
        assert sum(e.startswith("query_id") for e in exchanges) == 1, exchanges
        # map-side top-k pushdown below the final exchange
        assert "WindowGroupLimit" in plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.enabled")


def test_arrow_scorer_bit_identical_to_fold(spark, emb, probes):
    """The numpy column-loop dot must reproduce the JVM left fold's
    rounding sequence EXACTLY — full-precision float equality, not
    rounded: one multiply-round + one add-round per element, ascending
    index, both plans."""
    fold = _exact(
        _fold_reference(probes, emb, top_k=3, nprobe=2, exclude_self=True)
    )
    arrow = _exact(
        ivf_knn_join_shuffled(
            probes, emb, top_k=3, nprobe=2, salt_buckets=2, exclude_self=True
        )
    )
    assert fold == arrow  # exact float64 equality, no rounding


def test_exclude_self_rejects_mixed_id_types(emb, probes):
    """numpy's == has no implicit cast: string query ids against long
    doc ids would compare all-False and silently keep every self-pair.
    The plan refuses the mix, naming both Spark types."""
    mixed = probes.withColumn("query_id", F.col("query_id").cast("string"))
    with pytest.raises(ValueError, match=r"string.*bigint"):
        ivf_knn_join_shuffled(mixed, emb, exclude_self=True)
    # without exclude_self the ids are never compared: no error
    ivf_knn_join_shuffled(mixed, emb, top_k=1)


def test_composes_with_materialized_index(spark, emb, probes, tmp_path):
    """The shuffled join over a MATERIALIZED index corpus (cluster-
    partitioned scan + persisted centroids) must equal the inline-label
    run — the production composition: partition-pruned reads feeding
    the shuffle join, no training pass at query time."""
    from converttovectordb_spark.plans.ivf_index import build_ivf_index

    index = build_ivf_index(emb, str(tmp_path / "ivf"), cluster_col="label")
    ref = _rows(ivf_knn_join_shuffled(probes, emb, top_k=3, nprobe=2))
    got = _rows(
        ivf_knn_join_shuffled(
            probes,
            index.corpus(),
            top_k=3,
            nprobe=2,
            cluster_col="cluster_id",
            centroids=index.centroids(),
            salt_buckets=2,
        )
    )
    assert got == ref


def test_query_label_disqualifier(emb, spark):
    """query_label_col drops same-label pairs BEFORE the top-k, so
    every returned neighbor has a different label than its query."""
    labeled = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("query_vec"),
    )
    out = ivf_knn_join_shuffled(
        labeled, emb, top_k=2, nprobe=2, query_label_col="qlabel"
    )
    got = out.join(
        emb.select("vec_id", "label"), on="vec_id"
    ).join(
        emb.select(
            F.col("vec_id").alias("query_id"),
            F.col("label").alias("qlabel"),
        ),
        on="query_id",
    )
    assert got.filter(F.col("label") == F.col("qlabel")).count() == 0
    # implied exclude_self: a row can never be its own negative
    assert out.filter(F.col("query_id") == F.col("vec_id")).count() == 0

    # FULL-k guarantee needs guaranteed reachability, so pin it on a
    # constructed two-cluster corpus: nprobe=2 of 2 probes BOTH
    # clusters for every query and each foreign cluster has >= k rows
    # (the natural-fixture variant would silently depend on sf0.001's
    # label geometry).
    two = spark.createDataFrame(
        [
            (i, i % 2, [1.0 + i, float(i % 2), 0.5 * i])
            for i in range(10)
        ],
        "vec_id long, label int, embedding array<double>",
    )
    q2 = two.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("query_vec"),
    )
    out2 = ivf_knn_join_shuffled(
        q2, two, top_k=2, nprobe=2, query_label_col="qlabel"
    )
    per_q = out2.groupBy("query_id").count()
    assert per_q.count() == 10  # every query returned
    assert per_q.filter(F.col("count") != 2).count() == 0  # full k each


@pytest.mark.parametrize(
    "bad", ["label", "vec_id", "query_id", "_qvec", "_dvec", "_salt", "_nsalt"]
)
def test_query_label_reserved_names_rejected(emb, probes, bad):
    with pytest.raises(ValueError, match="collides"):
        ivf_knn_join_shuffled(
            probes.withColumn(bad, F.lit(0)),
            emb,
            query_label_col=bad,
        )


def test_auto_salt_with_provided_stats_zero_jobs_same_result(
    spark, emb, probes
):
    """cluster_sizes/n_queries from the index manifest make auto salt
    sizing ZERO extra Spark actions (the r10 finding: two plan-time
    jobs per call), and the result is identical to self-derived stats.
    """
    target = 2_000  # small enough that salting actually engages
    ref = _rows(
        ivf_knn_join_shuffled(
            probes,
            emb,
            top_k=3,
            nprobe=2,
            salt_buckets="auto",
            target_pairs_per_task=target,
        )
    )
    stats = {
        r["label"]: r["n"]
        for r in emb.groupBy("label").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    nq = probes.count()
    sc = spark.sparkContext
    group = "auto-salt-stats-plan"
    sc.setJobGroup(group, "plan construction with provided stats")
    try:
        df = ivf_knn_join_shuffled(
            probes,
            emb,
            top_k=3,
            nprobe=2,
            salt_buckets="auto",
            target_pairs_per_task=target,
            cluster_sizes=stats,
            n_queries=nq,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
    assert _rows(df) == ref


def test_hard_negatives_corpus_entry_no_extra_plan_time_jobs(spark):
    """The graded `hard_negatives_corpus` entry threads the index
    artifact's persisted histogram into auto salting — constructing its
    plan must launch no MORE jobs than its fixed-salt sibling
    `vector_knn_selfjoin_ivf` (same reads, no stats derivation). The
    r10 finding was +2 jobs here (corpus histogram + query count)."""
    from converttovectordb_spark.queries import (
        q_hard_negatives_corpus,
        q_vector_knn_selfjoin_ivf,
    )

    sf_dir = SF_DIR
    q_hard_negatives_corpus(spark, sf_dir)  # warm the index artifact
    sc = spark.sparkContext

    def plan_jobs(fn, group):
        sc.setJobGroup(group, f"{group} plan construction")
        try:
            fn(spark, sf_dir)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    control = plan_jobs(q_vector_knn_selfjoin_ivf, "selfjoin-plan")
    auto = plan_jobs(q_hard_negatives_corpus, "hnc-plan")
    assert auto <= control, (
        f"auto-salt entry launched {auto} plan-time jobs vs the "
        f"fixed-salt sibling's {control} — stats are being re-derived"
    )


def test_auto_salt_buckets_sizing():
    """Pure arithmetic of the per-cluster salt sizing."""
    from converttovectordb_spark.operators.search import (
        DEFAULT_MAX_SALT_BUCKETS,
        auto_salt_buckets,
    )

    # cold cluster under the pair budget → 1 (no replication)
    assert auto_salt_buckets(100, 10_000, 10_000, 2) == 1
    # self-join hot cluster: q_c ≈ min(Q, Q·nprobe·d/N) pairs > target
    # 900-row cluster of 1000 docs, 1000 queries, nprobe=2:
    # est_q = min(1000, 1800) = 1000 → 900k pairs / 10k target = 90 → cap
    assert (
        auto_salt_buckets(900, 1000, 1000, 2, target_pairs_per_task=10_000)
        == DEFAULT_MAX_SALT_BUCKETS
    )
    assert (
        auto_salt_buckets(900, 1000, 1000, 2, target_pairs_per_task=100_000)
        == 9
    )
    # tiny query side bounds est_q at Q even for a huge cluster
    assert (
        auto_salt_buckets(
            1_000_000, 1_000_000, 10, 2, target_pairs_per_task=10_000_000
        )
        == 1
    )
    # degenerate inputs never salt
    assert auto_salt_buckets(0, 0, 0, 2) == 1


def test_auto_salt_bounds_hot_cluster_and_matches_unsalted(spark):
    """salt_buckets="auto" on a constructed hot-cluster corpus: the hot
    cluster gets >1 buckets sized to the pair budget, the max per-
    (cluster, salt) bucket's pair count is bounded, cold clusters skip
    replication, and results equal the unsalted run (salt invariance).
    """
    import math

    from converttovectordb_spark.operators.search import auto_salt_buckets

    # 3 clusters: one hot (60 rows), two cold (5 rows each); every row
    # is a query. Distinct angles make scores/tie-breaks deterministic.
    rows = []
    vid = 0
    for label, n in ((0, 60), (1, 5), (2, 5)):
        for i in range(n):
            a = 0.1 * i + label * 10.0
            rows.append((vid, label, [math.cos(a), math.sin(a), 1.0 + label]))
            vid += 1
    docs = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    q = docs.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    target = 2_000  # hot: est_q=70·2·60/70→120→min(70,…)=70? see below
    ref = _rows(
        ivf_knn_join_shuffled(q, docs, top_k=3, nprobe=2, salt_buckets=1)
    )
    got = _rows(
        ivf_knn_join_shuffled(
            q,
            docs,
            top_k=3,
            nprobe=2,
            salt_buckets="auto",
            target_pairs_per_task=target,
        )
    )
    assert got == ref

    # the sizing the operator applied, recomputed from the same stats
    n_docs, n_q = 70, 70
    s_hot = auto_salt_buckets(60, n_docs, n_q, 2, target_pairs_per_task=target)
    s_cold = auto_salt_buckets(5, n_docs, n_q, 2, target_pairs_per_task=target)
    assert s_hot > 1 and s_cold == 1
    # bound: worst bucket's pairs ≈ est_q_hot · d_hot / S ≤ target, with
    # 2× slack for the xxhash split's unevenness at this small n
    per_bucket_docs = (
        docs.filter(F.col("label") == 0)
        .withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("vec_id")), F.lit(s_hot))
        )
        .groupBy("_salt")
        .count()
        .agg(F.max("count"))
        .first()[0]
    )
    est_q_hot = min(n_q, max(n_q * 2 * 60 / n_docs, min(n_q, 60)))
    assert est_q_hot * per_bucket_docs <= 2 * target


@pytest.mark.parametrize("seed", [3, 17])
def test_arrow_scorer_property_random_ties_and_zeros(spark, seed):
    """Property guard for the bit-exactness claim: random corpora with
    DUPLICATED vectors (forced score ties → tie-break path), zero
    vectors (norm-0 passthrough), negative components and NULL labels
    (a NULL cluster key joins nothing; a NULL query label fails the
    disqualifier) must give full-precision-identical (score, rank)
    sets from the operator and the test-local fold reference — under
    both the self-exclusion and the label disqualifier."""
    import random

    rng = random.Random(seed)
    d, n = 7, 60
    rows = []
    for i in range(n):
        if i % 13 == 0:
            v = [0.0] * d  # zero vector: l2_normalize passes through
        elif i % 5 == 0 and i > 5:
            v = rows[i - 1][2]  # duplicate of previous: score ties
        else:
            v = [rng.uniform(-2, 2) for _ in range(d)]
        label = None if i % 11 == 4 else i % 3
        rows.append((i, label, v))
    docs = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    probes = docs.select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("query_vec"),
    )
    for kw in (dict(exclude_self=True), dict(query_label_col="qlabel")):
        fold = _exact(_fold_reference(probes, docs, top_k=4, nprobe=2, **kw))
        arrow = _exact(
            ivf_knn_join_shuffled(
                probes, docs, top_k=4, nprobe=2, salt_buckets=3, **kw
            )
        )
        assert fold, kw
        assert fold == arrow, kw
