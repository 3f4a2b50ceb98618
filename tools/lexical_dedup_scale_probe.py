"""Lexical (MinHash) dedup-on-arrival scaling probe: per-batch decision
cost, one-off artifact build cost, and (rid, chash) heal cost as the
COMMITTED corpus grows.

The 100 TB claim for `ingest(lexical_dedup=j)` is that a steady-state
flagged ingest never re-reads the corpus TEXT: the decision is one
map-side scan of the persisted signature artifact (bands x ~50 B per
committed chunk) against the broadcast batch signatures. This probe
measures the three cost classes separately, for a FIXED arriving batch
against corpora grown by replication (disjoint rids):

  build_sec   one-off full artifact build (shingle + minhash over the
              corpus text) — O(corpus text), amortized offline, same
              condition as the IVF builds in bench.py
  decide_sec  steady-state per-batch `_dup_ids_lexical` decision —
              O(artifact), the number that must stay tiny per batch
  heal_sec    the r9 (rid, chash) freshness heal on a token-stale but
              content-identical store — ONE content-column hash pass
              plus compact key anti-joins; no shingling, no text
              shuffle. This only fires when an unflagged write
              interleaved; steady-state flagged ingests skip it.

Expected slopes: decide_sec and heal_sec grow linearly with corpus
rows but with constants orders below build_sec (no shingle recompute);
build_sec is the only O(corpus text compute) pass. Run:

    python tools/lexical_dedup_scale_probe.py
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"
MULTS = [1, 8, 32]
BATCH = 200  # arriving chunks per ingest batch (fixed across N)
THRESHOLD = 0.8


def main() -> int:
    from pyspark.sql import SparkSession

    from converttovectordb_spark.engine import VectorEngine
    from converttovectordb_spark.sources.chunker import chunk_string
    from converttovectordb_spark.sources.sigstore import token_digest

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .selectExpr("cast(doc_id as string) AS path", "text AS content")
        .repartition(32)
    )
    # chunking only: `chunk_embed` would also run the embedder on every
    # action over `chunks` (a mapInArrow output is not column-pruned)
    @F.pandas_udf("array<string>")
    def chunk(texts):
        return texts.map(lambda t: chunk_string(t or "", 200, 0))

    chunks = docs.select("path", chunk("content").alias("_c")).select(
        "path",
        F.posexplode("_c").alias("chunk_index", "content"),
        F.size("_c").alias("total_chunks"),
    ).select(
        "path",
        F.col("chunk_index").cast("int").alias("chunk_index"),
        F.col("total_chunks").cast("int").alias("total_chunks"),
        "content",
    )
    n_base = chunks.count()

    # fixed arriving batch: half re-crawl duplicates of 1x content,
    # half fresh strings no corpus shingle matches
    half = BATCH // 2
    dup_rows = (
        chunks.limit(half)
        .select(
            F.concat(F.lit("arriving/"), F.col("path")).alias("path"),
            "chunk_index",
            "total_chunks",
            "content",
        )
        .collect()
    )
    fresh_rows = [
        (
            f"arriving/fresh_{i}.txt",
            0,
            1,
            " ".join(f"fresh{i}tok{j}" for j in range(40)),
        )
        for i in range(half)
    ]
    batch = spark.createDataFrame(
        [(r.path, r.chunk_index, r.total_chunks, r.content) for r in dup_rows]
        + fresh_rows,
        "path string, chunk_index int, total_chunks int, content string",
    ).persist()
    batch.count()

    results = []
    tmp = tempfile.mkdtemp(prefix="lexprobe_")
    for m in MULTS:
        rep = None
        for i in range(m):
            c = chunks.select(
                F.concat(F.lit(f"rep{i}/"), F.col("path")).alias("path"),
                "chunk_index",
                "total_chunks",
                "content",
            )
            rep = c if rep is None else rep.unionByName(c)
        rep = rep.withColumn("extension", F.lit(".txt")).withColumn(
            "embedding", F.array(F.lit(0.1), F.lit(0.2))
        ).withColumn("timestamp", F.lit(1.0))

        store_path = os.path.join(tmp, f"store_{m}x")
        eng = VectorEngine(spark, store_path, dim=2)
        eng.store.append(rep)
        n_rows = eng.store.load().count()

        t0 = time.time()
        eng._fresh_sigs_for_dedup()  # token absent -> full build
        build_sec = round(time.time() - t0, 3)

        t0 = time.time()
        n_dups = eng._dup_ids_lexical(batch, THRESHOLD).count()
        decide_sec = round(time.time() - t0, 3)

        # stale the token without changing the store: the heal must
        # hash the content column, find zero (rid, chash) drift, and
        # recommit — the exact cost an interleaved unflagged write adds
        sig = eng._sig_store()
        sig._write_token("deadbeef")
        t0 = time.time()
        eng._fresh_sigs_for_dedup()
        heal_sec = round(time.time() - t0, 3)
        assert sig.token() == token_digest(eng.store.state_token())

        results.append(
            {
                "mult": m,
                "corpus_rows": n_rows,
                "batch_rows": BATCH,
                "batch_dups_found": n_dups,
                "build_sec": build_sec,
                "decide_sec": decide_sec,
                "heal_sec": heal_sec,
            }
        )
        print(json.dumps(results[-1]))

    print(json.dumps({"base_chunks": n_base, "results": results}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
