"""Streaming index-upkeep cost probe: what does keeping the ANN index
fresh add to an exactly-once ingest epoch?

Runs the same drop-dir ingest twice on identical data — once through
`stream_ingest_transactional` (store only) and once through
`stream_ingest_indexed` (store + TransactionalIVFIndex commit per
epoch) — and reports per-epoch wall clock. The delta is the index
upkeep price: one frozen-centroid assignment + (PQ) frozen-codebook
encode + one partitioned parquet write + one manifest commit, all
O(batch). Output feeds SCALING.md.

    python tools/stream_index_probe.py
"""

from __future__ import annotations

import json
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

ROWS_PER_EPOCH = [200, 800]
DIM = 64


def main() -> int:
    from pyspark.sql import SparkSession

    from converttovectordb_spark.plans.ivf_index import TransactionalIVFIndex
    from converttovectordb_spark.sources.chunker import chunk_embed
    from converttovectordb_spark.sources.store import (
        TransactionalDocumentStore,
    )
    from converttovectordb_spark.streaming.jobs import (
        stream_ingest_indexed,
        stream_ingest_transactional,
    )

    spark = (
        SparkSession.builder.appName("stream-index-probe")
        .master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    print("| rows/epoch | store-only epoch sec | store+index epoch sec |")
    print("|---|---|---|")
    for rows in ROWS_PER_EPOCH:
        with tempfile.TemporaryDirectory(prefix="sip_") as tmp:
            # identical drop payload for both runs
            recs = [
                {
                    "path": f"doc{i}.txt",
                    "extension": "txt",
                    "content": f"document {i} " + ("spark streaming " * 40),
                }
                for i in range(rows)
            ]
            for mode in ("store", "indexed"):
                drop = f"{tmp}/drop_{mode}"
                import os

                os.makedirs(drop)
                with open(f"{drop}/batch.json", "w") as fh:
                    for r in recs:
                        fh.write(json.dumps(r) + "\n")
                store = TransactionalDocumentStore(
                    spark, f"{tmp}/store_{mode}"
                )
                # seed so the index has schema + centroids
                seed_raw = spark.createDataFrame(
                    [
                        (f"seed{i}.txt", "txt", f"seed doc {i} " * 60)
                        for i in range(40)
                    ],
                    "path string, extension string, content string",
                )
                seed = chunk_embed(
                    seed_raw, chunk_size=500, overlap=100, dim=DIM
                ).withColumn("timestamp", F.lit(0.0))
                store.append(seed)
                common = dict(
                    dim=DIM, chunk_size=500, overlap=100, available_now=True
                )
                t0 = time.time()
                if mode == "store":
                    q = stream_ingest_transactional(
                        spark, drop, store, f"{tmp}/ckpt_{mode}", **common
                    )
                else:
                    index = TransactionalIVFIndex.build(
                        store.load(), f"{tmp}/tivf", num_clusters=4,
                        pq_m=8, pq_k=4,
                    )
                    t0 = time.time()  # build is offline; time the epoch
                    q = stream_ingest_indexed(
                        spark, drop, store, index, f"{tmp}/ckpt_{mode}",
                        **common,
                    )
                q.awaitTermination(300)
                sec = time.time() - t0
                if mode == "store":
                    store_sec = sec
                else:
                    print(
                        f"| {rows} | {store_sec:.2f} | {sec:.2f} |",
                        flush=True,
                    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
