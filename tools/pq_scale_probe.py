"""PQ serving probe: ADC scan over compressed codes vs full-vector
cosine scan as the corpus grows — the measured basis for the
product-quantization memory/throughput claims in SCALING.md.

Same corpus construction as ann_scale_probe (document chunks
hash-embedded at d=384, the reference's serving dim, replicated with
disjoint ids); the PQ codec (m=8 subspaces × k=16 codes) is trained
ONCE on the base corpus and the replicated corpus is encoded offline.
Both paths read parquet from disk and end in the same top-5
TakeOrderedAndProject. Run:

    python tools/pq_scale_probe.py
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
MULTS = [1, 8, 32]
M, K = 8, 16


def _du(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def main() -> int:
    from pyspark.sql import SparkSession, Window

    from converttovectordb_spark.operators.search import knn_topk
    from converttovectordb_spark.plans.pq_index import (
        adc_lut,
        adc_score,
        codebooks_df,
        pq_encode,
        train_pq,
    )
    from converttovectordb_spark.sources.chunker import chunk_embed

    spark = (
        SparkSession.builder.appName("pq-scale-probe")
        .master("local[32]")
        .config("spark.driver.memory", "24g")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

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

    models = train_pq(base, m=M, k=K, seed=7, max_iter=10)
    books = codebooks_df(spark, models)
    probe = [float(x) for x in base.select("embedding").first()[0]]
    lut = adc_lut(probe, books.collect(), m=M, k=K)

    rows = []
    for mult in MULTS:
        rep = base
        for j in range(1, mult):
            rep = rep.unionByName(
                base.withColumn("vec_id", F.col("vec_id") + F.lit(j * n_base))
            )
        rep = rep.repartition(32)
        with tempfile.TemporaryDirectory(prefix="pq_probe_") as tmp:
            rep.write.mode("overwrite").parquet(f"{tmp}/flat")
            # tinyint codes: the honest compressed width (m bytes/row)
            pq_encode(rep, models).select(
                "vec_id",
                F.transform(
                    F.col("codes"), lambda c: c.cast("tinyint")
                ).alias("codes"),
            ).write.mode("overwrite").parquet(f"{tmp}/codes")
            flat = spark.read.parquet(f"{tmp}/flat")
            codes = spark.read.parquet(f"{tmp}/codes")
            n = flat.count()
            sz_flat, sz_codes = _du(f"{tmp}/flat"), _du(f"{tmp}/codes")

            def brute_once():
                knn_topk(
                    flat, probe, 5, id_cols=["vec_id"], expected_dim=384
                ).collect()

            brute_once()
            brute = min(
                (lambda t0=time.time(): (brute_once(), time.time() - t0)[1])()
                for _ in range(3)
            )

            def adc_once():
                (
                    codes.withColumn("score", adc_score(lut, K))
                    .orderBy(F.col("score").desc(), F.col("vec_id").asc())
                    .limit(5)
                    .collect()
                )

            adc_once()
            adc = min(
                (lambda t0=time.time(): (adc_once(), time.time() - t0)[1])()
                for _ in range(3)
            )
        print(
            f"x{mult}: N={n} brute {brute:.3f}s adc {adc:.3f}s "
            f"flat {sz_flat/1e6:.1f}MB codes {sz_codes/1e6:.1f}MB",
            flush=True,
        )
        rows.append((n, brute, adc, sz_flat, sz_codes))
    base.unpersist()

    lines = [
        "",
        "## PQ: compressed-code ADC scan vs full-vector scan — measured",
        "",
        "`python tools/pq_scale_probe.py`: document chunks hash-embedded",
        f"at d=384 (the reference's serving dim), PQ m={M}/k={K} trained",
        "once on the base corpus, replicated corpora encoded offline;",
        "both paths read parquet from disk and end in the same top-5",
        "TakeOrderedAndProject. ADC replaces 384 multiplies/row with",
        f"{M} array lookups + {M} adds, and the code column is the",
        "storage lever that lets a 100 TB corpus's search structure sit",
        "in executor memory:",
        "",
        "| N | full-vector scan sec | ADC code scan sec | "
        "vectors MB | codes MB |",
        "|---|---|---|---|---|",
    ]
    for n, brute, adc, szf, szc in rows:
        lines.append(
            f"| {n:,} | {brute:.3f} | {adc:.3f} | {szf / 1e6:.1f} "
            f"| {szc / 1e6:.1f} |"
        )
    lines += [
        "",
        "Accuracy at this operating point is the `pq_recall` suite query",
        "(ADC recall@3 ≈ 0.42-0.46 alone; 0.75 with a 20-candidate exact",
        "rerank) — at scale the codec composes with IVF pruning (IVFADC)",
        "so the ADC scan itself only covers the probed clusters.",
        "",
    ]
    with open("SCALING.md") as fh:
        doc = fh.read()
    marker = "\n## PQ: compressed-code ADC scan vs full-vector scan"
    if marker in doc:
        doc = doc[: doc.index(marker)].rstrip() + "\n"
    with open("SCALING.md", "w") as fh:
        fh.write(doc.rstrip() + "\n" + "\n".join(lines))
    print("appended PQ section to SCALING.md")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
