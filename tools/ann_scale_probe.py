"""ANN serving-path scaling probe: brute-force KNN vs persisted-IVF
probe cost as the corpus grows on fixed hardware.

The 100 TB claim for the IVF index is that query cost follows the
PROBED fraction (nprobe/C of the files, via partition pruning), while
brute force follows N. This probe measures both on the same corpora —
document chunks hash-embedded at d=384 (the reference's serving dim),
replicated with disjoint ids — and writes the observed numbers to
stdout for SCALING.md. Index builds happen OUTSIDE the timed region
(offline-job condition, same as bench.py). Run:

    python tools/ann_scale_probe.py
"""

from __future__ import annotations

import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
MULTS = [1, 8, 32]
NUM_CLUSTERS = 16
NPROBE = 2


def main() -> int:
    from pyspark.sql import SparkSession

    from converttovectordb_spark.operators.search import knn_topk
    from converttovectordb_spark.plans.ivf_index import build_ivf_index
    from converttovectordb_spark.sources.chunker import chunk_embed

    spark = (
        SparkSession.builder.appName("ann-scale-probe")
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
    print(
        "| N | brute sec (full parquet scan) | "
        f"IVF probe sec (nprobe {NPROBE}/{NUM_CLUSTERS}) | "
        "matrix-tier warm sec | cached-DF warm sec |",
        flush=True,
    )
    print("|---|---|---|---|---|", flush=True)

    # BOTH sides read parquet from disk — the serving comparison is
    # files-scanned vs files-pruned, so neither side gets executor cache
    for mult in MULTS:
        rep = base
        for k in range(1, mult):
            rep = rep.unionByName(
                base.withColumn("vec_id", F.col("vec_id") + F.lit(k * n_base))
            )
        # cluster id for PHYSICAL layout only — probe cost depends on the
        # partition fraction read, not on assignment quality
        rep = rep.withColumn(
            "label", (F.col("vec_id") % NUM_CLUSTERS).cast("int")
        ).repartition(32)
        probe = [float(x) for x in base.select("embedding").first()[0]]

        with tempfile.TemporaryDirectory(prefix="ann_probe_") as tmp:
            rep.write.mode("overwrite").parquet(f"{tmp}/flat")
            flat = spark.read.parquet(f"{tmp}/flat")
            n = flat.count()

            def brute_once():
                knn_topk(
                    flat, probe, 5, id_cols=["vec_id"], expected_dim=384
                ).collect()

            brute_once()
            brute = min(
                (lambda t0=time.time(): (brute_once(), time.time() - t0)[1])()
                for _ in range(3)
            )

            index = build_ivf_index(rep, f"{tmp}/ivf", cluster_col="label")
            probes_df = spark.createDataFrame(
                [(0, probe)], "query_id int, query_vec array<double>"
            )

            def ivf_once():
                index.search(probes_df, top_k=5, nprobe=NPROBE).collect()

            ivf_once()
            ivf = min(
                (lambda t0=time.time(): (ivf_once(), time.time() - t0)[1])()
                for _ in range(3)
            )

            # CACHED-SERVING condition — the REST door's tiers (fills
            # outside the timed region, like the server's cache fill):
            # driver-matrix while the corpus fits the cell budget,
            # cached prenormed DataFrame beyond it.
            from converttovectordb_spark.functions.vector import (
                NORM_COL,
                with_query_norms,
            )
            from converttovectordb_spark.operators.serving import (
                DriverMatrixIndex,
            )

            midx = DriverMatrixIndex.from_dataframe(flat)
            if midx is not None:
                midx.query(probe, 5, id_cols=["vec_id"])
                matrix = min(
                    (
                        lambda t0=time.time(): (
                            midx.query(probe, 5, id_cols=["vec_id"]),
                            time.time() - t0,
                        )[1]
                    )()
                    for _ in range(3)
                )
                matrix_s = f"{matrix:.4f}"
            else:
                matrix_s = "— (over budget)"

            # the REST door's own fill + query config, via the SAME
            # helper the server uses (fill_serving_cache) so the probe
            # cannot desynchronize from production
            from converttovectordb_spark.operators.serving import (
                fill_serving_cache,
                point_query_mode,
            )

            cached, _ = fill_serving_cache(
                with_query_norms(flat),
                spark.sparkContext.defaultParallelism,
            )

            def cached_once():
                knn_topk(
                    cached, probe, 5, id_cols=["vec_id"], expected_dim=384
                ).collect()

            with point_query_mode(spark):
                cached_once()
                cached_t = min(
                    (
                        lambda t0=time.time(): (
                            cached_once(), time.time() - t0,
                        )[1]
                    )()
                    for _ in range(3)
                )
            cached.unpersist()
        print(
            f"| {n} | {brute:.3f} | {ivf:.3f} | {matrix_s} | "
            f"{cached_t:.3f} |",
            flush=True,
        )

    base.unpersist()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
