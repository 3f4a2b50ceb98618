"""Structured Streaming upgrades of the engine's batch paths.

The reference has no streaming at all (SURVEY §2.5) — its "incremental"
ingest is append + full-file JSON rewrite. These jobs are the Spark-
native continuous versions:

  * stream_ingest_documents — file-source stream over a drop directory
    → the same chunk→embed lineage as batch ingest → parquet/Delta
    append via foreachBatch (exactly-once per epoch on a transactional
    sink).
  * stream_events_hourly — watermarked tumbling-window aggregate, the
    streaming twin of queries.q_events_hourly; late rows beyond the
    watermark are dropped deterministically.

Scale posture: the file source tracks processed files in the checkpoint
(no re-listing of old data); state for the windowed agg is bounded by
the watermark horizon; `availableNow` triggers let the same job run as
a catch-up batch.
"""

from __future__ import annotations

import time
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from converttovectordb_spark.sources.chunker import chunk_embed
from converttovectordb_spark.sources.store import DocumentStore


def stream_txn_id(checkpoint_dir: str, epoch_id: int) -> str:
    """Namespaced exactly-once transaction id for a streaming epoch.

    Mirrors Delta's (txnAppId, txnVersion) pair: the checkpoint dir is
    the stable per-query identity, the epoch is the version. A bare
    `stream-epoch-{n}` id would collide across queries — if the
    checkpoint is recreated (epoch counter restarts at 0) or a second
    stream writes to the same store, new batches would match old
    manifest txn ids and be silently dropped as replays."""
    import hashlib
    import os

    ns = hashlib.sha256(
        os.path.abspath(checkpoint_dir).encode()
    ).hexdigest()[:12]
    return f"stream-{ns}-epoch-{epoch_id}"

#: Schema for streamed raw text-file records dropped into the ingest dir
#: (one JSON per file batch: {path, content, extension}).
RAW_FILES_SCHEMA = StructType(
    [
        StructField("path", StringType(), False),
        StructField("content", StringType(), True),
        StructField("extension", StringType(), True),
    ]
)

EVENTS_SCHEMA = StructType(
    [
        StructField("event_id", LongType(), False),
        StructField("ts", TimestampType(), False),
        StructField("user_id", LongType(), True),
        StructField("event_type", StringType(), True),
        StructField("value", DoubleType(), True),
    ]
)


def stream_ingest_documents(
    spark: SparkSession,
    drop_dir: str,
    store_path: str,
    checkpoint_dir: str,
    *,
    embedder: Callable | None = None,
    dim: int = 384,
    chunk_size: int = 1000,
    overlap: int = 200,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuous ingest: JSON records land in ``drop_dir``; each
    micro-batch runs the batch chunk→embed lineage and appends to the
    parquet store via foreachBatch."""
    raw = (
        spark.readStream.schema(RAW_FILES_SCHEMA)
        .json(drop_dir)
        .filter(F.col("content").isNotNull())
    )

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        docs = chunk_embed(
            batch_df,
            chunk_size=chunk_size,
            overlap=overlap,
            embedder=embedder,
            dim=dim,
        )
        # wall-clock stamp like every other write door (an epoch-id
        # stamp always LOSES the newest-copy race in _dedup_row_ids
        # against wall-clock-stamped pushes/ingests — a streamed
        # re-crawl could never supersede its old copy)
        # through DocumentStore.append: its per-store lock serializes
        # this epoch's write with a REST append into the same directory
        DocumentStore(spark, store_path).append(
            docs.withColumn("timestamp", F.lit(time.time())), validate=False
        )

    writer = (
        raw.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def retrain_index_if_drifted(
    store, index, shift_threshold: float, *, seed: int = 7
):
    """The scheduled-retrain step for a STREAM-maintained index:
    measure drift against the committed store (`index_drift_report`,
    one linear corpus pass) and, past ``shift_threshold`` (max L2
    shift of any frozen centroid to its routed rows' current mean),
    rebuild-and-swap under the CURRENT protocol. Returns the index to
    use from now on (the new one after a rebuild, else the input).

    The raw store/index twin of `VectorEngine.maybe_retrain`, with one
    extra correctness step the streaming context forces:
    ``carry_txn_ids`` — the rebuild trains on the committed corpus,
    which already contains every applied epoch's rows, so the new
    index inherits the old one's txn ids and a post-swap replay of an
    old epoch stays a no-op (without it the replay would double-insert
    into the fresh manifest). Idempotent by measurement: post-rebuild
    drift is ~0, so a replayed trigger of the same epoch re-measures
    and no-ops instead of rebuilding twice.

    Build parameters mirror the live index's own shape (centroid
    count; PQ (m, k) and code id columns when present) — a drift
    rebuild must not silently change the index family."""
    import os
    import uuid

    from converttovectordb_spark.plans.ivf_index import (
        CLUSTER_COL,
        TransactionalIVFIndex,
        index_drift_report,
    )

    if not isinstance(index, TransactionalIVFIndex):
        raise ValueError(
            "retrain-on-drift needs a TransactionalIVFIndex (the "
            "rebuild-and-swap CURRENT protocol and txn-id carry live "
            "on the manifest)"
        )
    # newest-copy-per-identity, exactly like the offline door
    # (maybe_retrain → build_index → _dedup_row_ids): the streamed
    # store is append-only, so a re-crawled (path, chunk_index) holds
    # old+new copies — training on the raw load would rebuild an index
    # that serves the same identity twice and measures its recall
    # curve against duplicate-laden ground truth. The dedup column set
    # follows the OLD index's corpus schema so later epoch appends
    # (which select corpus columns) keep landing.
    from converttovectordb_spark.engine import VectorEngine, _row_id

    docs = VectorEngine._dedup_row_ids(
        store.load().withColumn("_row_id", _row_id())
    )
    corpus_cols = [c for c in index.corpus().columns if c != CLUSTER_COL]
    docs = docs.select(*corpus_cols)
    report = index_drift_report(index, docs).collect()
    shifts = [r for r in report if r["centroid_shift"] is not None]
    max_shift = max(
        (float(r["centroid_shift"]) for r in shifts), default=0.0
    )
    if max_shift <= shift_threshold:
        return index
    from converttovectordb_spark.plans.ivf_index import index_family_params

    fam = index_family_params(index)
    base = os.path.dirname(os.path.abspath(index.path))
    new_dir = os.path.join(base, uuid.uuid4().hex)
    new_index = TransactionalIVFIndex.build(
        docs,
        new_dir,
        num_clusters=len(report),
        seed=seed,
        pq_m=fam["pq_m"],
        pq_k=fam["pq_k"],
        pq_id_cols=fam["pq_id_cols"],
    )
    # the maintainer's attach-time policies ride along to the new handle
    new_index.auto_compact_after = index.auto_compact_after
    new_index.carry_txn_ids(index.committed_txn_ids())
    # recall-curve carry (r11 verdict #1): when the replaced index had
    # a measured nprobe→recall curve, re-measure the fresh one under
    # the same stamped contract BEFORE publishing, so
    # search_indexed(target_recall=...) keeps resolving across the
    # very retrain cadence the curve exists to serve
    old_curve = index.recall_curve()
    if old_curve is not None:
        from converttovectordb_spark.plans.ivf_index import (
            remeasure_recall_curve_like,
        )

        remeasure_recall_curve_like(
            old_curve, new_index, default_doc_id_col="_row_id"
        )
    old_adc = index.adc_curve()
    if old_adc is not None:
        from converttovectordb_spark.plans.ivf_index import (
            remeasure_adc_curve_like,
        )

        remeasure_adc_curve_like(
            old_adc, new_index, default_doc_id_col="_row_id"
        )
    old_mrl = index.mrl_curve()
    if old_mrl is not None:
        from converttovectordb_spark.plans.ivf_index import (
            remeasure_mrl_curve_like,
        )

        remeasure_mrl_curve_like(
            old_mrl, new_index, default_doc_id_col="_row_id"
        )
    TransactionalIVFIndex.publish_current(base, new_dir)
    return new_index


def stream_ingest_transactional(
    spark: SparkSession,
    drop_dir: str,
    store,
    checkpoint_dir: str,
    *,
    embedder: Callable | None = None,
    dim: int = 384,
    chunk_size: int = 1000,
    overlap: int = 200,
    available_now: bool = True,
    index=None,
    retrain_shift_threshold: float | None = None,
    retrain_seed: int = 7,
    retrain_check_every: int = 1,
) -> StreamingQuery:
    """EXACTLY-ONCE continuous ingest into a TransactionalDocumentStore:
    each micro-batch commits through `append(txn_id=epoch)` — an epoch
    replayed after a sink-succeeded/checkpoint-failed crash dedupes on
    the manifest's txn id instead of double-writing (the Delta
    txnAppId/txnVersion idempotent-sink pattern). Checkpoint tracks
    which input files are consumed; the manifest guards the replay
    window between sink success and checkpoint write.

    ``index`` (a `TransactionalIVFIndex`) additionally commits every
    epoch to the ANN index under the SAME txn id — see
    `stream_ingest_indexed` for the two-idempotent-sinks argument.

    ``retrain_shift_threshold`` arms the drift check: after both
    commits, `retrain_index_if_drifted` measures the frozen centroids
    against the committed corpus and rebuilds-and-swaps when the worst
    shift exceeds the threshold; subsequent epochs append to the NEW
    index. Costs, measured at sf0.1 (tools/retrain_stall_probe.py,
    SCALING.md): the check alone is one linear corpus pass — ~2.4 s
    at 7.5k docs, comparable to the epoch commit itself — and a
    triggered rebuild runs INSIDE the micro-batch, stalling the stream
    for the full rebuild (~11 s at that scale, linear in corpus size;
    epochs queue behind it and replay-dedup keeps them exactly-once).
    ``retrain_check_every=K`` amortizes the armed cost by running the
    check only on epochs where ``epoch_id % K == 0`` — epoch ids are
    monotone and replay-stable, so the cadence is deterministic under
    recovery; drift detection lags by at most K-1 epochs, which is the
    honest tradeoff (appends stay CORRECT under drift — only recall
    decays — so a bounded detection lag is safe). Leave the threshold
    unset to run the verb on an offline schedule instead."""
    if retrain_shift_threshold is not None and index is None:
        raise ValueError(
            "retrain_shift_threshold requires index= (there is nothing "
            "to retrain on the store-only door)"
        )
    if retrain_check_every < 1:
        raise ValueError(
            f"retrain_check_every must be >= 1, got {retrain_check_every}"
        )
    raw = (
        spark.readStream.schema(RAW_FILES_SCHEMA)
        .json(drop_dir)
        .filter(F.col("content").isNotNull())
    )
    # mutable cell: a drift rebuild swaps the handle mid-stream, and
    # later epochs must commit to the published index, not the replaced
    # one (closures rebind through the cell)
    index_ref = {"index": index}

    def _resolve_current(idx):
        """Re-resolve the handle against the published CURRENT pointer
        at each epoch: the in-memory cell does not survive a stream
        RESTART, and a caller re-seeding from a pre-retrain handle
        would (a) commit epochs to an abandoned index that
        open_current() readers never see, and (b) re-measure drift
        against the replaced centroids — still past threshold — and
        rebuild AGAIN on a replayed trigger. One pointer-file read per
        epoch; no Spark job."""
        import os

        from converttovectordb_spark.plans.ivf_index import (
            TransactionalIVFIndex,
        )

        if idx is None or not isinstance(idx, TransactionalIVFIndex):
            return idx
        base = os.path.dirname(os.path.abspath(idx.path))
        try:
            cur = TransactionalIVFIndex.open_current(idx.spark, base)
        except FileNotFoundError:
            return idx  # never published at this base: handle is it
        if os.path.abspath(cur.path) != os.path.abspath(idx.path):
            cur.auto_compact_after = idx.auto_compact_after
            return cur
        return idx

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        index_ref["index"] = _resolve_current(index_ref["index"])
        # wall-clock stamp, like every other write door: an epoch-id
        # stamp (the r12.0 behavior) always LOSES the newest-copy race
        # in _dedup_row_ids against wall-clock-stamped pushes/ingests,
        # so a streamed re-crawl could never supersede its old copy.
        # Replay-safe: a replayed epoch dedups on the manifest txn id
        # BEFORE any write, so the nondeterministic stamp is never
        # written twice (the stream_ingest_dedup door's argument).
        docs = chunk_embed(
            batch_df,
            chunk_size=chunk_size,
            overlap=overlap,
            embedder=embedder,
            dim=dim,
        ).withColumn("timestamp", F.lit(time.time()))
        txn = stream_txn_id(checkpoint_dir, epoch_id)
        if index_ref["index"] is None:
            store.append(docs, txn_id=txn)
            return
        # Two sinks + the index's assignment/encode jobs would re-run
        # the chunk+embed lineage once per action — materialize the
        # epoch ONCE (batch-sized, bounded by the trigger) instead.
        docs = docs.persist()
        try:
            store.append(docs, txn_id=txn)
            index_ref["index"].append(docs, txn_id=txn, materialized=True)
        finally:
            docs.unpersist()
        if (
            retrain_shift_threshold is not None
            and int(epoch_id) % retrain_check_every == 0
        ):
            index_ref["index"] = retrain_index_if_drifted(
                store,
                index_ref["index"],
                retrain_shift_threshold,
                seed=retrain_seed,
            )

    writer = (
        raw.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_ingest_dedup(
    engine,
    drop_dir: str,
    checkpoint_dir: str,
    *,
    semantic_dedup: float | None = None,
    semantic_dedup_nprobe: int = 2,
    semantic_dedup_within_batch: bool = False,
    lexical_dedup: float | None = None,
    available_now: bool = True,
) -> StreamingQuery:
    """Continuous ingest WITH dedup-on-arrival: each micro-batch runs
    the engine's chunk→embed lineage and lands through
    `VectorEngine.append_documents`, so the stream gets the same drop
    semantics as the repo-ingest and push doors (semantic threshold
    against the committed corpus, IVF-pruned when a fresh index
    covers the store; lexical MinHash against the persisted signature
    artifact; optional within-batch collapse). The engine write lock
    serializes stream epochs against other writers SHARING THIS
    ENGINE OBJECT (e.g. the REST server's request threads when it
    serves the same instance); a separate-process CLI push is NOT
    serialized — cross-process the artifact falls back to its
    crash-safe staleness contract (a concurrent rebuild fails loudly
    on the directory swap; a concurrent append leaves the token
    stale, and the next flagged write heals by (rid, chash)).

    A micro-batch may legally contain the SAME path twice — a crawl
    and its re-crawl both pending when the trigger fires land in one
    epoch under availableNow — so the sink collapses to the newest
    file version per path first (by the file source's
    `_metadata.file_modification_time`, content as the deterministic
    tiebreak for same-mtime drops); without this, duplicate
    (path, chunk_index) identities would trip `append_documents`'
    collision guard and kill the stream. Rows are stamped with the
    epoch's wall-clock time, so streamed re-crawls correctly WIN the
    newest-per-identity race against earlier REST/CLI pushes of the
    same path (an epoch-id stamp would always lose it).

    Delivery semantics, honestly: this is EFFECTIVELY-once, not
    exactly-once. A replayed epoch (sink succeeded, checkpoint write
    crashed) re-runs the dedup decision against the now-committed
    rows — its own copies score cosine 1.0 / Jaccard 1.0 and are
    dropped — EXCEPT chunks under 3 words when only ``lexical_dedup``
    is set (no signature: the family's blind spot), which would land
    twice. Producers needing the strict guarantee for signature-less
    rows should use `stream_ingest_transactional` (manifest txn ids)
    and run dedup as a separate concern.

    SHRINKING-document blind spot (ADVICE r9): a re-crawl that
    SHORTENS a document appends fewer chunks than the old version,
    and the old version's higher chunk_index rows stay live under
    newest-per-identity reads — dedup flags are mutually exclusive
    with replace semantics on this door, so nothing tombstones the
    stale tail chunks. Re-crawls that only GROW or edit-in-place
    resolve correctly (every old identity is shadowed). Producers of
    shrinking documents should use the replace-capable door
    (`VectorEngine.ingest(replace=True)` over a transactional store,
    whose upsert tombstones the whole path) instead of this sink."""
    spark = engine.spark
    raw = (
        spark.readStream.schema(RAW_FILES_SCHEMA)
        .json(drop_dir)
        .select(
            "*",
            F.col("_metadata.file_modification_time").alias("_mtime"),
        )
        .filter(F.col("content").isNotNull())
    )

    def _sink(batch_df: DataFrame, epoch_id: int) -> None:
        w = Window.partitionBy("path").orderBy(
            F.col("_mtime").desc(), F.col("content").asc()
        )
        latest = (
            batch_df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_mtime")
        )
        docs = (
            chunk_embed(
                latest,
                chunk_size=engine.chunk_size,
                overlap=engine.overlap,
                embedder=engine.embedder,
                dim=engine.dim,
            )
            .withColumn("timestamp", F.lit(time.time()))
            .select(
                "path",
                "extension",
                "chunk_index",
                "total_chunks",
                "content",
                "embedding",
                "timestamp",
            )
        )
        engine.append_documents(
            docs,
            semantic_dedup=semantic_dedup,
            semantic_dedup_nprobe=semantic_dedup_nprobe,
            semantic_dedup_within_batch=semantic_dedup_within_batch,
            lexical_dedup=lexical_dedup,
        )

    writer = (
        raw.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def stream_events_hourly(
    spark: SparkSession,
    source_dir: str,
    *,
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-hour aggregate over a parquet event stream.
    Returns the streaming DataFrame; caller attaches the sink."""
    ev = spark.readStream.schema(EVENTS_SCHEMA).parquet(source_dir)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("win"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
        )
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def run_stream_to_memory(
    stream_df: DataFrame, name: str, *, output_mode: str = "append"
) -> StreamingQuery:
    """Attach a memory sink and drain all available input synchronously
    (test/dev helper)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    return q


def stream_ingest_indexed(
    spark: SparkSession,
    drop_dir: str,
    store,
    index,
    checkpoint_dir: str,
    *,
    embedder: Callable | None = None,
    dim: int = 384,
    chunk_size: int = 1000,
    overlap: int = 200,
    available_now: bool = True,
    retrain_shift_threshold: float | None = None,
    retrain_seed: int = 7,
    retrain_check_every: int = 1,
) -> StreamingQuery:
    """Exactly-once continuous ingest that keeps the ANN index FRESH:
    each micro-batch commits to the `TransactionalDocumentStore` AND to
    a `TransactionalIVFIndex`, both under the SAME epoch txn id.

    Why both sides must be manifest-committed: a bare parquet append on
    the index would double-write on an epoch replay (sink succeeded,
    checkpoint write crashed) and has a corpus/codes crash window. With
    two idempotent sinks sharing the txn id, any replay converges —
    whichever side already committed the epoch skips it, the other
    catches up — so a search over the index never sees a half-applied
    epoch, and the store and index can only disagree transiently
    BETWEEN the two commits of an in-flight epoch, never durably.

    Index cost per epoch is O(batch): frozen-centroid assignment +
    frozen-codebook encoding (`TransactionalIVFIndex.append`), no
    retraining. Small-files debt from the micro-batch cadence is
    policy-managed: construct the store/index with
    ``auto_compact_after=K`` and every Kth epoch compacts inside its
    own commit (the compaction's captured-set contract tolerates a
    concurrent epoch; a replayed epoch dedups on its txn id BEFORE the
    trigger, so replays never compact). Retraining under drift is
    either offline (`engine.maybe_retrain` on a schedule) or wired
    into the stream itself: ``retrain_shift_threshold=t`` checks the
    drift report after each armed epoch's commits (every
    ``retrain_check_every``-th epoch — see
    `stream_ingest_transactional` for the measured check/stall costs
    and the cadence tradeoff) and rebuilds-and-swaps past the
    threshold (`retrain_index_if_drifted` — the new index inherits
    the old manifest's txn ids, so stale-epoch replays still dedup
    after the swap).

    Thin wrapper over `stream_ingest_transactional(index=...)` — one
    sink implementation, two entry points.
    """
    return stream_ingest_transactional(
        spark,
        drop_dir,
        store,
        checkpoint_dir,
        embedder=embedder,
        dim=dim,
        chunk_size=chunk_size,
        overlap=overlap,
        available_now=available_now,
        index=index,
        retrain_shift_threshold=retrain_shift_threshold,
        retrain_seed=retrain_seed,
        retrain_check_every=retrain_check_every,
    )
