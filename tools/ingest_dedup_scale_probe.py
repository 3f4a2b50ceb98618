"""Ingest-time semantic dedup scaling probe: brute batch x corpus
threshold test vs the IVF-pruned path as the COMMITTED corpus grows.

The r7 review flagged the ingest `semantic_dedup` as the one all-pairs
dedup path: every arriving batch paid a full corpus scan. The r8 fix
routes the threshold test through the engine's IVF index (probe the
frozen centroids per batch row, scan only the probed cluster
partitions). The 100 TB claim is the same as the ANN serving probe's:
per-batch cost should follow the PROBED fraction, not N. This probe
measures BOTH paths — the exact `VectorEngine._dup_ids_brute` /
`_dup_ids_pruned` code the ingest calls — for a FIXED arriving batch
against corpora grown by replication, both sides reading parquet from
disk. Index builds happen OUTSIDE the timed region (they are the
amortized offline/maintenance job, same condition as bench.py). Run:

    python tools/ingest_dedup_scale_probe.py
"""

from __future__ import annotations

import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
MULTS = [1, 8, 32]
NUM_CLUSTERS = 64
NPROBE = 2
BATCH = 200  # arriving chunks per ingest batch (fixed across N)
SMALL_BATCH = 8  # concentrated re-crawl: probes << C clusters
THRESHOLD = 0.95


def main() -> int:
    from pyspark.sql import SparkSession

    from converttovectordb_spark.engine import VectorEngine
    from converttovectordb_spark.functions.vector import l2_normalize
    from converttovectordb_spark.plans.ivf_index import build_ivf_index
    from converttovectordb_spark.sources.chunker import chunk_embed

    spark = (
        SparkSession.builder.appName("ingest-dedup-scale-probe")
        .master("local[32]")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .selectExpr("cast(doc_id as string) AS path", "text AS content")
        .repartition(32)
    )
    base = (
        chunk_embed(docs, chunk_size=100, overlap=30, dim=384)
        .select(F.monotonically_increasing_id().alias("vec_id"), "embedding")
        .cache()
    )
    n_base = base.count()
    print(f"base corpus: {n_base} vectors, d=384", flush=True)

    # The arriving batch: half re-crawled duplicates (corpus rows),
    # half fresh content — the shape dedup-on-arrival exists for.
    dup_half = base.limit(BATCH // 2).select(
        F.concat(F.lit("dup#"), F.col("vec_id")).alias("_bid"), "embedding"
    )
    fresh_half = (
        base.limit(BATCH)
        .select(
            F.concat(F.lit("fresh#"), F.col("vec_id")).alias("_bid"),
            F.reverse(F.col("embedding")).alias("embedding"),
        )
        .limit(BATCH // 2)
    )
    batch = (
        dup_half.unionByName(fresh_half)
        .select("_bid", l2_normalize(F.col("embedding")).alias("_bq"))
        .cache()
    )
    batch.count()
    # Concentrated re-crawl condition: a small batch probes far fewer
    # than C distinct clusters, so the static partition filter actually
    # prunes FILES (a diverse 200-row batch at nprobe 2 covers most of
    # C=64 — its saving is the per-pair restriction, not the scan).
    small_batch = batch.limit(SMALL_BATCH).cache()
    small_batch.count()

    print(
        f"| N | brute B={BATCH} | pruned B={BATCH} "
        f"(nprobe {NPROBE}/{NUM_CLUSTERS}) | brute B={SMALL_BATCH} | "
        f"pruned B={SMALL_BATCH} | dups found (B={BATCH}) |",
        flush=True,
    )
    print("|---|---|---|---|---|---|", flush=True)

    for mult in MULTS:
        rep = base
        for k in range(1, mult):
            rep = rep.unionByName(
                base.withColumn("vec_id", F.col("vec_id") + F.lit(k * n_base))
            )
        rep = rep.repartition(32)

        with tempfile.TemporaryDirectory(prefix="dedup_probe_") as tmp:
            rep.write.mode("overwrite").parquet(f"{tmp}/flat")
            flat = spark.read.parquet(f"{tmp}/flat")
            n = flat.count()
            # TRAINED layout (k-means), the engine's real build_index
            # path: a duplicate arrival probes (cosine) toward the
            # cluster its committed copy was assigned to (Euclidean),
            # so the dups-found column measures the pruned path's
            # real recall, not an arbitrary-layout artifact. Build is
            # outside the timed region (offline-job condition).
            index = build_ivf_index(
                flat, f"{tmp}/ivf", num_clusters=NUM_CLUSTERS, seed=7
            )

            def timed(fn):
                fn()  # warm
                return min(
                    (lambda t0=time.time(): (fn(), time.time() - t0)[1])()
                    for _ in range(3)
                )

            n_dups = VectorEngine._dup_ids_brute(
                batch, flat, THRESHOLD
            ).count()
            n_dups_pruned = VectorEngine._dup_ids_pruned(
                batch, index, THRESHOLD, NPROBE
            ).count()
            brute = timed(
                lambda: VectorEngine._dup_ids_brute(
                    batch, flat, THRESHOLD
                ).count()
            )
            pruned = timed(
                lambda: VectorEngine._dup_ids_pruned(
                    batch, index, THRESHOLD, NPROBE
                ).count()
            )
            brute_s = timed(
                lambda: VectorEngine._dup_ids_brute(
                    small_batch, flat, THRESHOLD
                ).count()
            )
            pruned_s = timed(
                lambda: VectorEngine._dup_ids_pruned(
                    small_batch, index, THRESHOLD, NPROBE
                ).count()
            )
        print(
            f"| {n} | {brute:.3f} | {pruned:.3f} | {brute_s:.3f} | "
            f"{pruned_s:.3f} | {n_dups} brute / {n_dups_pruned} pruned |",
            flush=True,
        )

    batch.unpersist()
    base.unpersist()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
