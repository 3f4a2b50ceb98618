"""The reference-matched serving corpus, built ONE way.

The reference's largest logged serving condition is N=13,515 chunks at
d=384 (vector_db_api.log:736-738, 0.11 s warm scan). `bench.py`'s
headline `knn_matched_*` numbers and `tools/serving_latency_probe.py`'s
floor decomposition must measure the SAME corpus — this module is the
single copy of that recipe so they cannot desynchronize.
"""

from __future__ import annotations

MATCHED_N = 13_515
MATCHED_DIM = 384
CHUNK_SIZE = 100
OVERLAP = 30


def matched_reference_corpus(spark, sf_dir: str, cpus: int):
    """documents.parquet → chunk → hash-embed at d=384 → first
    MATCHED_N rows, prenormed for the serving cache (`_emb_norm` +
    float64 embeddings). Caller picks partitioning and caches."""
    from pyspark.sql import functions as F

    from converttovectordb_spark.functions.vector import with_query_norms
    from converttovectordb_spark.sources.chunker import chunk_embed

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .selectExpr("cast(doc_id as string) AS path", "text AS content")
        .repartition(int(cpus))  # parallelize the embed stage
    )
    return with_query_norms(
        chunk_embed(
            docs, chunk_size=CHUNK_SIZE, overlap=OVERLAP, dim=MATCHED_DIM
        )
        .select(
            F.monotonically_increasing_id().alias("vec_id"),
            "content",
            "embedding",
        )
        .limit(MATCHED_N)
    )
