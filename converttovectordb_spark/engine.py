"""The engine facade — the reference's CLI verbs as one Python API.

Reference surface (run_vector_db.py subcommands + HTTP endpoints):
  convert → ingest(repo_path)     clone/scan → chunk → embed → store
  query   → search(text, top_k)   encode → brute-force cosine top-k
  stats   → stats()               A1-A5 aggregate suite
  clear   → clear()               drop table (with backup)
  health  → health()

One SparkSession, one DataFrame lineage per verb — the reference's
process/HTTP boundaries (subprocess Popen + Flask) collapse into Spark
stages.
"""

from __future__ import annotations

import threading
import time
from typing import Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from converttovectordb_spark.embeddings import DEFAULT_DIM, hash_embedder
from converttovectordb_spark.operators.search import (
    DEFAULT_SCORE_THRESHOLD,
    cosine_scores,
    knn_rank,
    take_order_rank,
    truncate_content,
    validate_top_k,
)
from converttovectordb_spark.operators.stats import (
    corpus_stats_full,
    health as _health,
)
from converttovectordb_spark.sources.chunker import chunk_embed
from converttovectordb_spark.sources.repo_scan import (
    clone_repository,
    scan_repo_files,
    whole_waves,
)
from converttovectordb_spark.sources.store import (
    DocumentStore,
    TransactionalDocumentStore,
)


#: lexical dedup-on-arrival signature config: r = 32/8 = 4 rows per
#: band like the 16/4 query family, but 8 bands lift candidate recall
#: to ~0.985 at true Jaccard 0.8 (vs 0.88 at 4 bands) and halve the
#: estimate granularity to 1/32 — the artifact is tiny either way.
#: Must stay in lockstep with sigstore.SIG_PARAMS.
LEX_NUM_HASHES = 32
LEX_BANDS = 8


def _row_id():
    """The engine-wide row identity: path#chunk_index. ONE definition —
    joins across the store, the IVF index, and the dedup paths all key
    on this expression and must stay byte-identical."""
    return F.concat_ws("#", F.col("path"), F.col("chunk_index"))


class VectorEngine:
    def __init__(
        self,
        spark: SparkSession,
        store_path: str,
        *,
        embedder: Callable | None = None,
        dim: int = DEFAULT_DIM,
        chunk_size: int = 1000,
        overlap: int = 200,
        transactional: bool = False,
        auto_compact_after: int | None = None,
    ):
        self.spark = spark
        if transactional:
            self.store = TransactionalDocumentStore(
                spark,
                store_path,
                partition_by=("extension",),
                auto_compact_after=auto_compact_after,
            )
        else:
            if auto_compact_after is not None:
                raise ValueError(
                    "auto_compact_after requires transactional=True "
                    "(plain stores have no commit log to compact)"
                )
            self.store = DocumentStore(
                spark, store_path, partition_by=("extension",)
            )
        # also the lexical signature artifact's fold cadence (when set);
        # unset engines take the sigstore's own default — the artifact
        # is internal, so it self-compacts regardless of store flavor
        self.auto_compact_after = auto_compact_after
        self.embedder = embedder or hash_embedder(dim)
        self.dim = dim
        self.chunk_size = chunk_size
        self.overlap = overlap
        # serializes dedup-flagged writes: the decision + store append
        # + signature/index artifact swap must be atomic per engine —
        # the REST door serves from ThreadingHTTPServer threads, and
        # two interleaved compaction swaps could drop one batch's
        # signature coverage (single-writer is the artifact contract)
        self._write_lock = threading.RLock()

    # -- ingest ----------------------------------------------------------
    def ingest(
        self,
        repo_path: str,
        *,
        repo_url: str | None = None,
        replace: bool = False,
        semantic_dedup: float | None = None,
        semantic_dedup_nprobe: int = 2,
        semantic_dedup_within_batch: bool = False,
        lexical_dedup: float | None = None,
    ) -> DataFrame:
        """scan → chunk + embed → append. Returns the written batch.

        Chunking and embedding are ONE Arrow operator
        (`sources.chunker.chunk_embed`): each file row is chunked and
        its chunks embedded in the same Python worker, so the write job
        runs one Python evaluation per task, not two with a
        ``posexplode`` between them.

        ``replace=True`` upserts by file path (transactional store
        only): re-ingesting a changed repo replaces each file's old
        chunks via merge-on-read tombstones instead of duplicating
        them — the incremental re-crawl story. The write job observes
        the tombstone key set (up to about 2k files; a bigger tree reads
        it back, see `upsert`), so a re-crawl, like an ingest, is one
        Spark job in whole task waves (`repo_scan.whole_waves`).

        ``semantic_dedup=t`` drops batch rows whose nearest committed
        neighbor has cosine ≥ t BEFORE the write — dedup-on-arrival
        for paraphrase/boilerplate re-crawls the store-level
        content-hash `append_dedup` cannot catch (it needs byte
        equality). Scale shape: when an IVF index covers the store
        (attached via `build_index`/`open_index`, healed to freshness
        — see `_fresh_index_for_dedup`), the threshold test scans ONLY
        the batch's probed cluster partitions: probe the frozen
        centroids (broadcast × broadcast), turn the probed cluster ids
        into a static partition filter (directory-level pruning, the
        `vector_ivf_knn_filtered` shape), and run the cosine test as a
        cluster-id equi-join — per-batch cost O(batch × nprobe/C of
        the corpus FILES), never a full corpus read. Without a usable
        index the documented fallback broadcasts the prenormalized
        batch against one full corpus scan (map-side filter, the only
        exchange carries the distinct duplicate ids — the corpus never
        shuffles) — fine for small stores, O(corpus) per batch at
        scale, which is why the indexed path exists. The duplicate
        DECISIONS of the indexed path are those of SemDeDup-style
        cluster-pruned search: a committed near-neighbor outside the
        probed clusters is invisible (raise ``semantic_dedup_nprobe``
        for more recall); the indexed corpus is the serving corpus
        (newest copy per `_row_id` — see `_dedup_row_ids`).

        Mutually exclusive with ``replace=True`` (upsert tombstones
        every old chunk of a touched path; dedup would stop the
        unchanged ones from being rewritten).

        ``semantic_dedup_within_batch=True`` additionally collapses
        near-dups INSIDE the arriving batch (two paraphrase copies in
        one crawl batch) with the deterministic keep-lowest rule: a
        batch row is dropped when ANY batch row with a lower
        ``(path, chunk_index)`` key lies within the threshold —
        independent of whether that lower row itself survives the
        corpus test, so the decision is a local one-pass rule with no
        order sensitivity. Off by default: the within-corpus
        `embedding_neardup` family remains the bulk tool. Cost is one
        batch × batch broadcast pass — bounded by the ingest batch
        contract (the batch is the SMALL side by construction), never
        corpus-sized.

        ``lexical_dedup=j`` is the MinHash twin: drop batch rows whose
        estimated Jaccard against ANY committed chunk reaches ``j``.
        The corpus side lives entirely in a persisted signature
        artifact (`sources/sigstore.py`: band keys for the candidate
        join + the full 32-component signature for the decision): a
        steady-state flagged ingest costs O(batch) signature work plus
        ONE map-side scan of the compact artifact (~bands × 50 B per
        committed chunk — three orders smaller than the corpus text,
        and the broadcast batch side means no shuffle anywhere);
        estimate = matching components / 32 on the candidate pairs —
        the corpus TEXT is never re-read. The estimate is the same statistic
        `minhash_accuracy` measures (granularity 1/32; candidate
        recall at the 32/8 ingest config ≈ 0.985 at true Jaccard 0.8,
        ≈ 0.999 at 0.9 — re-crawl near-dups are high-j, which is where
        the curve is; see LEX_NUM_HASHES/LEX_BANDS).
        The artifact heals like the IVF index: absent → one corpus
        build pass; stale by token → keyed on ``(rid, chash)`` (chash
        = xxhash64 of the chunk content), so a heal distinguishes
        brand-new rids (delta append) from rids whose CONTENT changed
        under an existing path#chunk_index or vanished from the store
        (compaction: the superseded signature rows are dropped in the
        same atomic swap that lands the recomputed ones — a stale
        signature could wrongly drop a future non-duplicate arrival,
        and blind re-appends would otherwise grow duplicate-rid rows
        without bound). Shares the blind spot of the family: chunks
        under 3 words have no signature (never dropped, never
        dropping). Composable with ``semantic_dedup`` (the drop sets
        union); mutually exclusive with ``replace=True`` for the same
        reason semantic is.

        A9 pipeline metrics (reference repo_to_vector.py:58-64,452-467)
        ride the single write job as `df.observe` metrics plus an
        embed-time accumulator — see ``last_ingest_metrics``. Divergence
        from the reference documented per SURVEY §7: the reference
        under-counts ``chunks_created`` when a file ends exactly on a
        chunk boundary; ours is the true written-row count. And
        ``embedding_time`` here is aggregate worker encode seconds (the
        encode runs data-parallel), not serial driver wall-clock.
        Timestamps are likewise ONE batch-level stamp, not the
        reference's per-row time.time() during its serial loop — in a
        parallel write there is no meaningful per-row wall order."""
        from pyspark.sql import Observation

        # precondition: before the clone side effect
        self._validate_dedup_flags(
            semantic_dedup,
            semantic_dedup_nprobe,
            semantic_dedup_within_batch,
            lexical_dedup,
        )
        if replace and semantic_dedup is not None:
            raise ValueError(
                "semantic_dedup cannot be combined with replace=True: "
                "upsert tombstones EVERY old chunk of a path while "
                "dedup drops the unchanged chunks from the batch — "
                "the surviving old chunks would never be rewritten "
                "and silently vanish from the live snapshot"
            )
        if replace and lexical_dedup is not None:
            raise ValueError(
                "lexical_dedup cannot be combined with replace=True "
                "for the same reason semantic_dedup cannot: upsert "
                "tombstones EVERY old chunk of a touched path while "
                "dedup drops the unchanged chunks from the batch"
            )
        t0 = time.time()
        if repo_url:
            clone_repository(repo_url, repo_path)
        obs_files = Observation()
        obs_chunks = Observation()
        embed_acc = self.spark.sparkContext.accumulator(0.0)
        files = scan_repo_files(self.spark, repo_path)
        # files_skipped counts the scan's own file index: no job, no
        # file opened, one py4j call
        files_listed = len(files._jdf.inputFiles())
        files = whole_waves(files).observe(
            obs_files, F.count(F.lit(1)).alias("files_processed")
        )
        docs = (
            chunk_embed(
                files,
                chunk_size=self.chunk_size,
                overlap=self.overlap,
                embedder=self.embedder,
                dim=self.dim,
                time_acc=embed_acc,
            )
            .observe(obs_chunks, F.count(F.lit(1)).alias("chunks_created"))
            .withColumn("timestamp", F.lit(time.time()))
        )
        batch = docs.select(
            "path",
            "extension",
            "chunk_index",
            "total_chunks",
            "content",
            "embedding",
            "timestamp",
        )
        # finally-guarded: a dedup or write failure (dimension
        # mismatch, storage error) must still release the persisted
        # batch — a long-lived engine retrying failed ingests would
        # otherwise accumulate orphaned cached embedding batches for
        # the SparkSession lifetime
        # same single-writer contract as append_documents: the dedup
        # decision, store write, and artifact advance are atomic per
        # engine (RLock — harmless when the caller is single-threaded).
        # had_store is read INSIDE the lock: read before it, a racing
        # writer committing first would make a first-ingest rebuild
        # wipe that writer's signature coverage (TOCTOU).
        persisted = None
        self._write_lock.acquire()
        try:
            had_store = self.store.exists()
            # persist condition mirrors _dedup_drop_ids' need_sem plus
            # the lexical artifact-build read after the write
            need_sem = semantic_dedup is not None and (
                had_store or semantic_dedup_within_batch
            )
            if need_sem or lexical_dedup is not None:
                # Materialize the batch ONCE: it appears on both sides
                # of the dedup decision (broadcast probe + anti-join
                # left), so an uncached lineage would run the embed UDF
                # twice and double-fire the metrics observations/
                # accumulator. Lexical ingests persist even on a FIRST
                # ingest (no prior store → nothing to dedup against):
                # `_append_sigs_after_ingest` still reads the batch to
                # build the artifact AFTER the write, which would
                # otherwise re-execute the scan→chunk→embed lineage.
                batch = batch.persist()
                persisted = batch
                # Materialize the cache with a DIRECT action on the
                # observed plan before any dedup job consumes it: an
                # Observation binds to the FIRST action touching its
                # CollectMetrics node, and a dedup decision plan can
                # legally skip the batch subtree entirely (AQE
                # propagates an empty artifact/signature side through
                # the join), which would consume the observation with
                # EMPTY metrics and break A9 ingest metrics. The scan
                # fills the cache every later job reads — not an extra
                # pass over the data.
                batch.count()
            dup_ids = self._dedup_drop_ids(
                batch,
                semantic_dedup=semantic_dedup,
                semantic_dedup_nprobe=semantic_dedup_nprobe,
                semantic_dedup_within_batch=semantic_dedup_within_batch,
                lexical_dedup=lexical_dedup,
                had_store=had_store,
            )
            if dup_ids is not None:
                batch = batch.join(
                    dup_ids, on=_row_id() == F.col("_bid"), how="left_anti"
                )
            if replace:
                if not isinstance(self.store, TransactionalDocumentStore):
                    raise ValueError(
                        "replace=True requires a transactional store "
                        "(VectorEngine(..., transactional=True))"
                    )
                rows_written = self.store.upsert(batch, key_cols=("path",))
            else:
                rows_written = self.store.append(batch)
            files_processed = int(obs_files.get["files_processed"])
            self.last_ingest_metrics = {
                "files_listed": files_listed,
                "files_processed": files_processed,
                "files_skipped": files_listed - files_processed,
                "chunks_created": int(obs_chunks.get["chunks_created"]),
                "rows_written": rows_written,
                "embedding_time": float(embed_acc.value),
                "total_time": time.time() - t0,
            }
            if lexical_dedup is not None:
                self._append_sigs_after_ingest(
                    batch, store_existed_before=had_store
                )
        finally:
            # release the lock even if unpersist itself raises (a
            # dying Py4J session) — a leaked lock deadlocks every
            # later write on this engine
            try:
                if persisted is not None:
                    persisted.unpersist()
            finally:
                self._write_lock.release()
        return batch

    def append_documents(
        self,
        docs: DataFrame,
        *,
        semantic_dedup: float | None = None,
        semantic_dedup_nprobe: int = 2,
        semantic_dedup_within_batch: bool = False,
        lexical_dedup: float | None = None,
    ) -> int:
        """Append a PRE-BUILT document batch (DOCUMENTS_SCHEMA rows —
        the REST /add_documents door's shape) with the same
        dedup-on-arrival flags `ingest()` offers for repo crawls, so
        push-style producers get the identical drop semantics:
        ``semantic_dedup=t`` drops rows whose nearest committed
        neighbor has cosine ≥ t (IVF-pruned when a fresh index covers
        the store, brute fallback otherwise), ``lexical_dedup=j``
        drops rows whose estimated Jaccard against any committed chunk
        reaches j (persisted signature artifact, corpus text never
        re-read), ``semantic_dedup_within_batch`` collapses same-batch
        near-dups deterministically. Returns the number of rows
        actually written. The batch is persisted for the decision's
        lifetime (it sits on both sides of the anti-join) and the
        signature artifact is advanced after the write exactly as a
        flagged ingest would.

        Thread-safe: the decision + append + artifact advance run
        under the engine's write lock (the REST door serves from
        ThreadingHTTPServer threads; artifact swaps are single-writer
        by contract) and the persist handle is method-local, never
        shared state. Two guards the repo-ingest door doesn't need:
        duplicate (path, chunk_index) identities within a dedup-
        flagged batch are refused loudly — the anti-join keys on that
        identity, so a colliding non-duplicate would be silently
        dragged down with its twin (and colliding pushes shadow each
        other in the store's newest-per-rid reads regardless); and a
        fully-deduplicated batch skips the store write entirely — an
        empty commit would churn the state token and invalidate every
        warm serving cache for a no-op."""
        self._validate_dedup_flags(
            semantic_dedup,
            semantic_dedup_nprobe,
            semantic_dedup_within_batch,
            lexical_dedup,
        )
        dedup_requested = (
            semantic_dedup is not None or lexical_dedup is not None
        )
        with self._write_lock:
            had_store = self.store.exists()
            # apply the store's row validation BEFORE the decision and
            # the signature advance: store.append drops null
            # content/embedding rows, and signing a never-written row
            # would leave a signature free to wrongly drop a future
            # non-duplicate arrival of the same text
            batch = docs.filter(
                F.col("content").isNotNull()
                & F.col("embedding").isNotNull()
            )
            persisted = None
            try:
                # keyed on dedup_requested, NOT on whether a drop
                # decision will actually run: semantic_dedup against an
                # absent store runs no anti-join, but a first-write
                # batch with colliding identities must get the same
                # loud refusal the lexical flag gives (ADVICE r9 —
                # those rows shadow each other in newest-per-rid reads)
                if dedup_requested:
                    batch = batch.persist()
                    persisted = batch
                    n_in = batch.count()
                    n_ids = batch.select(_row_id()).distinct().count()
                    if n_ids != n_in:
                        raise ValueError(
                            "append_documents with dedup flags "
                            "requires unique (path, chunk_index) "
                            f"identities per batch: got {n_in} rows "
                            f"but {n_ids} distinct identities — the "
                            "drop decision keys on that identity, so "
                            "a colliding non-duplicate would be "
                            "silently dropped with its twin"
                        )
                dup_ids = self._dedup_drop_ids(
                    batch,
                    semantic_dedup=semantic_dedup,
                    semantic_dedup_nprobe=semantic_dedup_nprobe,
                    semantic_dedup_within_batch=semantic_dedup_within_batch,
                    lexical_dedup=lexical_dedup,
                    had_store=had_store,
                )
                if dup_ids is not None:
                    n_dropped = dup_ids.count()  # driver-local sets
                    if n_dropped >= n_in:
                        # every row is a duplicate: skip the write (an
                        # empty commit churns the state token and every
                        # warm cache) — the artifact is still fresh
                        # because the store did not change
                        return 0
                    batch = batch.join(
                        dup_ids,
                        on=_row_id() == F.col("_bid"),
                        how="left_anti",
                    )
                written = self.store.append(batch)
                if lexical_dedup is not None:
                    self._append_sigs_after_ingest(
                        batch, store_existed_before=had_store
                    )
                return written
            finally:
                if persisted is not None:
                    persisted.unpersist()

    # -- ingest semantic-dedup internals ----------------------------------
    @staticmethod
    def _validate_dedup_flags(
        semantic_dedup,
        semantic_dedup_nprobe,
        semantic_dedup_within_batch,
        lexical_dedup,
    ) -> None:
        """Shared flag validation for the two dedup-on-arrival doors
        (`ingest` and `append_documents`); replace-interaction checks
        stay in `ingest`, the only caller that upserts."""
        if semantic_dedup is not None:
            if not 0.0 < semantic_dedup <= 1.0:
                raise ValueError(
                    f"semantic_dedup must be in (0, 1], got {semantic_dedup}"
                )
            if semantic_dedup_nprobe < 1:
                # nprobe=0 would silently disable the indexed dedup
                # (empty probe set → empty dup set) and a negative one
                # would slice from the tail — both loud errors, not
                # silently-no-dedup ingests
                raise ValueError(
                    "semantic_dedup_nprobe must be >= 1, got "
                    f"{semantic_dedup_nprobe}"
                )
        elif semantic_dedup_within_batch:
            # the flag is meaningless without a threshold — refusing
            # beats silently writing every within-batch duplicate
            raise ValueError(
                "semantic_dedup_within_batch requires semantic_dedup=t "
                "(the cosine threshold the collapse tests against)"
            )
        if lexical_dedup is not None and not 0.0 < lexical_dedup <= 1.0:
            raise ValueError(
                f"lexical_dedup must be in (0, 1], got {lexical_dedup}"
            )

    def _dedup_drop_ids(
        self,
        batch: DataFrame,
        *,
        semantic_dedup,
        semantic_dedup_nprobe,
        semantic_dedup_within_batch,
        lexical_dedup,
        had_store: bool,
    ) -> DataFrame | None:
        """The dedup-on-arrival decision shared by both doors: the
        union of semantic (corpus + optional within-batch) and lexical
        drop id sets for a PERSISTED batch, or None when no flag
        applies. Caller persists the batch first — it appears on both
        sides of every decision below."""
        need_sem = semantic_dedup is not None and (
            had_store or semantic_dedup_within_batch
        )
        need_lex = lexical_dedup is not None and had_store
        dup_ids = None
        if need_sem:
            from converttovectordb_spark.functions.vector import (
                l2_normalize,
            )

            probes = batch.select(
                _row_id().alias("_bid"),
                F.col("path"),
                F.col("chunk_index"),
                l2_normalize(F.col("embedding")).alias("_bq"),
            )
            # ONE driver collect serves every decision path below
            # (ids, keys, prenormalized vectors) — the batch is the
            # bounded side by the ingest contract, and each helper
            # re-collecting it would add a Spark job plus a
            # duplicate O(B×d) transfer per ingest
            batch_rows = probes.collect()
            if had_store:
                threshold = float(semantic_dedup)
                index = self._fresh_index_for_dedup()
                if index is not None:
                    dup_ids = self._dup_ids_pruned(
                        probes,
                        index,
                        threshold,
                        semantic_dedup_nprobe,
                        rows=batch_rows,
                    )
                else:
                    dup_ids = self._dup_ids_brute(
                        probes,
                        self.store.load(),
                        threshold,
                        rows=batch_rows,
                    )
            if semantic_dedup_within_batch:
                wb = self._dup_ids_within_batch(
                    batch, float(semantic_dedup), rows=batch_rows
                )
                dup_ids = (
                    wb if dup_ids is None
                    else dup_ids.unionByName(wb).distinct()
                )
        if need_lex:
            lex_ids = self._dup_ids_lexical(
                batch, float(lexical_dedup)
            )
            dup_ids = (
                lex_ids if dup_ids is None
                else dup_ids.unionByName(lex_ids).distinct()
            )
        if dup_ids is None:
            return None
        # Materialize the union DRIVER-SIDE (bounded by the ingest-
        # batch contract): the semantic drop sets are lazy plans over
        # the pruned IVF scan / corpus, so a lazy return would (a)
        # re-run that scan once for the caller's count and again in
        # the write's anti-join, and (b) hand callers plans pinning
        # index parquet files that a later rebuild/compaction swaps
        # out — the same stale-file hazard the lexical path documents,
        # closed centrally here for every decision path.
        rows = dup_ids.collect()
        return batch.sparkSession.createDataFrame(
            [(r["_bid"],) for r in rows], "_bid string"
        )

    def _fresh_index_for_dedup(self):
        """Best-effort FRESH index for the ingest-dedup pruned scan;
        None → the caller uses the brute full-scan fallback.

        Fresh means the index corpus provably covers the committed
        store (the staleness token is earned, the same guard
        `search_indexed` enforces): an index missing recently committed
        rows would silently miss duplicates against exactly the newest
        content — the rows a re-crawl is most likely to duplicate. So
        a stale attached index is HEALED here via `append_to_index`
        (O(store delta), idempotent, the sanctioned maintenance path —
        dedup-on-arrival at scale implies the index tracks the corpus),
        and when nothing is attached the published CURRENT pointer is
        opened with the same healing refresh. Failures — no index
        anywhere, or orphaned index rows after a replace/clear (rebuild
        territory) — degrade to None rather than failing the ingest:
        the index is purely the pruning vehicle for the threshold test,
        never a correctness dependency (the brute path is always
        available and always sound)."""
        if getattr(self, "_index", None) is None:
            try:
                self.open_index(refresh=True)
            except RuntimeError:
                # restore: open_index ATTACHES the index before its
                # healing refresh, so a failed heal (orphaned rows —
                # rebuild territory) would otherwise leave a
                # half-opened index attached with the sentinel token,
                # silently flipping later search_indexed calls from
                # "no IVF index built" to staleness/allow_stale paths
                # over a snapshot the caller never opted into
                self._index = None
                self._index_token = None
                return None
        if self.store.state_token() != getattr(self, "_index_token", None):
            try:
                self.append_to_index()
            except RuntimeError:
                return None
        if self.store.state_token() != getattr(self, "_index_token", None):
            return None
        return self._index

    @staticmethod
    def _dup_hits_map(batch_rows: list, threshold: float, by_cluster):
        """Build the mapInPandas scorer shared by the brute and pruned
        dedup paths: each Arrow chunk of corpus rows is matmul'd (BLAS)
        against the in-closure batch matrix and the surviving batch ids
        are emitted. Vectorized ON PURPOSE: a per-pair column-expression
        dot (`F.aggregate`/`zip_with`) is evaluated interpreted, ~µs per
        pair — measured 416 s for a 200-row batch against 850k vectors
        (tools/ingest_dedup_scale_probe.py), where one matmul is
        milliseconds. The batch side is driver-collected — bounded by
        the ingest batch contract, the same assumption the previous
        broadcast carried.

        ``by_cluster`` None → test every (batch, corpus-chunk) pair
        (brute). Otherwise a dict cluster_id → batch-row indices: each
        corpus chunk is grouped by its cluster and tested only against
        the batch rows that PROBED that cluster (the IVF contract).

        Float semantics: `cosine_scores` (a zero vector scores 0 and
        can never pass a positive threshold). This path has no SQL
        oracle — the engine-level tests compare pruned vs brute
        DECISIONS, which both use this scorer."""
        qids = [r["_bid"] for r in batch_rows]
        qmat = np.array([r["_bq"] for r in batch_rows], dtype=np.float64)

        def find_dups(chunks):
            import pandas as pd

            hit = np.zeros(len(qids), dtype=bool)
            for pdf in chunks:
                if len(pdf) == 0:
                    continue
                groups = (
                    [(None, pdf)]
                    if by_cluster is None
                    else pdf.groupby("cluster_id", sort=False)
                )
                for cid, grp in groups:
                    qidx = (
                        None
                        if by_cluster is None
                        else by_cluster.get(int(cid))
                    )
                    if by_cluster is not None and not qidx:
                        continue
                    cmat = np.array(
                        list(grp["embedding"]), dtype=np.float64
                    )
                    if cmat.shape[1] != qmat.shape[1]:
                        # loud, not an opaque matmul shape error from
                        # deep inside an executor — the Q5 dim-guard
                        # courtesy, dedup edition (an engine re-created
                        # with a different dim over an existing store)
                        raise ValueError(
                            f"semantic_dedup dimension mismatch: batch "
                            f"d={qmat.shape[1]} vs corpus "
                            f"d={cmat.shape[1]} — re-embed or use a "
                            "matching VectorEngine dim"
                        )
                    q = qmat if qidx is None else qmat[qidx]
                    sims = cosine_scores(cmat, None, q)
                    matched = (sims >= threshold).any(axis=0)
                    if qidx is None:
                        hit |= matched
                    else:
                        hit[np.asarray(qidx)[matched]] = True
            yield pd.DataFrame(
                {
                    "_bid": pd.Series(
                        [i for i, h in zip(qids, hit) if h],
                        dtype="object",  # empty hit set must stay a string column
                    )
                }
            )

        return find_dups

    @staticmethod
    def _dup_ids_pruned(
        probes: DataFrame,
        index,
        threshold: float,
        nprobe: int,
        rows: list | None = None,
    ) -> DataFrame:
        """IVF-pruned dedup threshold test: batch ids whose committed
        near-neighbor (cosine ≥ threshold) sits inside the batch's
        probed clusters.

        Shape (the `vector_ivf_knn_filtered` scan pattern): probe the
        frozen centroids per batch row DRIVER-SIDE — both sides are
        tiny by contract (one ingest batch × C centroids), so a numpy
        B×C product replaces the two Spark jobs `probe_clusters` +
        collect would cost per ingest batch, with the identical
        deterministic tie-break (similarity desc, cluster id asc) and
        the identical zero-norm→0 cosine rule. The probed cluster ids
        become a *static* partition filter Catalyst applies at
        planning time: scan ONLY those cluster partitions
        (directory-level PartitionFilters, plan-asserted in
        `test_dedup.py`) and matmul each scanned cluster's rows against
        exactly the batch rows that probed it (`_dup_hits_map`). Pure
        map-side over the pruned scan; the only exchange carries the
        distinct duplicate ids."""
        from converttovectordb_spark.plans.ivf_index import CLUSTER_COL

        # bounded: one ingest batch; ``rows`` lets the caller share one
        # collect across the decision paths
        batch_rows = probes.collect() if rows is None else rows
        if not batch_rows:
            return probes.select("_bid").limit(0)
        cents = index.centroids().collect()  # C rows — tiny
        cids = np.array([int(r[CLUSTER_COL]) for r in cents])
        cmat = np.array([r["centroid"] for r in cents], dtype=np.float64)
        qmat = np.array([r["_bq"] for r in batch_rows], dtype=np.float64)
        if qmat.shape[1] != cmat.shape[1]:
            raise ValueError(
                f"semantic_dedup dimension mismatch: batch "
                f"d={qmat.shape[1]} vs index centroids "
                f"d={cmat.shape[1]} — rebuild the index or use a "
                "matching VectorEngine dim"
            )
        sims = cosine_scores(qmat, None, cmat)  # (batch, C)
        by_cluster: dict[int, list[int]] = {}
        k = min(int(nprobe), len(cents))
        for i in range(len(batch_rows)):
            # ties: similarity desc, then cluster id asc (lexsort keys
            # are applied last-first) — byte-identical to probe_clusters
            order = np.lexsort((cids, -sims[i]))[:k]
            for j in order:
                by_cluster.setdefault(int(cids[j]), []).append(i)
        if not by_cluster:
            return probes.select("_bid").limit(0)
        corpus_scan = index.pruned_corpus(sorted(by_cluster)).select(
            CLUSTER_COL, "embedding"
        )
        return corpus_scan.mapInPandas(
            VectorEngine._dup_hits_map(batch_rows, threshold, by_cluster),
            "_bid string",
        ).distinct()

    @staticmethod
    def _dup_ids_brute(
        probes: DataFrame,
        corpus: DataFrame,
        threshold: float,
        rows: list | None = None,
    ) -> DataFrame:
        """No-index fallback: ONE full corpus scan, each Arrow chunk
        matmul'd against the batch matrix map-side (`_dup_hits_map`).
        Sound at any size but O(corpus) per ingest batch — the indexed
        path (`_dup_ids_pruned`) is the 100 TB shape."""
        batch_rows = probes.collect() if rows is None else rows
        if not batch_rows:
            return probes.select("_bid").limit(0)
        return corpus.select("embedding").mapInPandas(
            VectorEngine._dup_hits_map(batch_rows, threshold, None),
            "_bid string",
        ).distinct()

    @staticmethod
    def _dup_ids_within_batch(
        batch: DataFrame,
        threshold: float,
        rows: list,
    ) -> DataFrame:
        """Within-batch collapse, keep-lowest rule: a batch row is a
        duplicate when ANY batch row with a strictly lower
        ``(path, chunk_index)`` key is within the cosine threshold —
        whether or not that lower row itself survives. Local, one-pass,
        deterministic (the key order is total).

        ``rows`` is the shared ingest collect — Row(_bid, path,
        chunk_index, _bq) with ``_bq`` unit-normalized (zero-norm
        vectors pass through unchanged and score 0) — required, so
        this path can never silently drift from the probes the
        corpus-facing paths saw.

        Computed DRIVER-SIDE in blocked BLAS: the batch is the bounded
        small side by the ingest contract (the corpus-facing paths
        already collect it), and the batch² pair space expressed as a
        crossJoin with a per-pair HOF dot would evaluate interpreted —
        the ~µs/pair pathology `_dup_hits_map` documents, which at a
        10k-chunk batch is 10⁸ interpreted folds. Block rows so the
        similarity matrix stays bounded (block × B), never a full
        B×B materialization."""
        spark = batch.sparkSession
        if len(rows) < 2:
            return spark.createDataFrame([], "_bid string")
        vmat = np.array([r["_bq"] for r in rows], dtype=np.float64)
        keys = sorted(
            range(len(rows)),
            key=lambda i: (rows[i]["path"], rows[i]["chunk_index"]),
        )
        rank = np.empty(len(rows), dtype=np.int64)
        rank[keys] = np.arange(len(rows))
        dropped = []
        for start in range(0, len(rows), 2048):
            stop = min(start + 2048, len(rows))
            sims = cosine_scores(vmat[start:stop], None, vmat)  # block × B
            hit = (
                (sims >= threshold) & (rank[None, :] < rank[start:stop, None])
            ).any(axis=1)
            dropped.extend(
                rows[i]["_bid"] for i in range(start, stop) if hit[i - start]
            )
        return spark.createDataFrame(
            [(b,) for b in dropped], "_bid string"
        )

    # -- ingest lexical-dedup internals ------------------------------------
    def build_bits_artifact(self, *, max_cells: int | None = None) -> dict:
        """Explicitly (re)build the persisted bits-tier artifact (the
        r15 'explicit fill' door): one corpus pass writes the sidecar
        + packed sign words + row ids under `bits_artifact_path`,
        stamped with the CURRENT store token, so a serving process's
        first dialed request LOADS (0.00-0.03 s measured) instead of
        blocking on the 63-123 s fill. Idempotent per store state —
        re-running against an unchanged store rebuilds (the fill IS
        the artifact; staleness is what the token guards). Raises
        ``ValueError`` when the corpus exceeds the bits admission
        budget or the store is absent."""
        from converttovectordb_spark.operators.serving import (
            DEFAULT_MAX_CELLS,
            BitsMatrixIndex,
        )
        from converttovectordb_spark.sources.sigstore import token_digest

        from converttovectordb_spark.operators.serving import BitsFillRace

        if not self.store.exists():
            raise ValueError("no store to build the bits artifact from")
        budget = DEFAULT_MAX_CELLS if max_cells is None else int(max_cells)
        idx = None
        for attempt in range(2):
            try:
                idx = BitsMatrixIndex.build_current(
                    self.store.load(),
                    self.bits_artifact_path,
                    store_token=token_digest(self.store.state_token()),
                    max_cells=budget,
                )
                break
            except BitsFillRace:
                # a writer raced the fill (probe vs collect mismatch):
                # transient by construction — retry once against the
                # new store state, then surface as the documented
                # ValueError so CLI/json callers keep one error shape
                if attempt == 1:
                    raise ValueError(
                        "store changed during the bits-artifact build "
                        "twice; retry when writers are quiet"
                    )
        if idx is None:
            raise ValueError(
                "corpus exceeds the bits tier's admission budget "
                f"(max_cells={budget}); dialed queries need the "
                "distributed exact door at this size"
            )
        out = {
            "path": self.bits_artifact_path,
            "rows": idx.n,
            "dim": idx.dim,
            "resident_bytes": int(
                idx.words.nbytes + idx.row_ids.nbytes
            ),
            "store_token": idx.store_token,
        }
        idx.release()  # keep the artifact; drop the driver arrays
        return out

    @property
    def bits_artifact_path(self) -> str:
        """Root of the persisted bits-tier artifact (packed sign words
        + row ids + full-precision sidecar under a CURRENT-pointered
        version dir — `operators/serving.py` `BitsMatrixIndex`). Same
        derive-from-store-path convention as the minhash signature
        artifact; store-token staleness + fsck lifecycle like the
        IVF/lex artifacts."""
        return self.store.path.rstrip("/") + "_bits"

    def _sig_store(self):
        from converttovectordb_spark.sources.sigstore import (
            MinHashSignatureStore,
        )

        kwargs = (
            {}
            if self.auto_compact_after is None
            else {"auto_compact_after": self.auto_compact_after}
        )
        return MinHashSignatureStore(
            self.spark,
            self.store.path.rstrip("/") + "_minhash_sigs",
            **kwargs,
        )

    def _corpus_for_sigs(self) -> DataFrame:
        """The serving corpus keyed for the signature artifact: newest
        copy per _row_id (same `_dedup_row_ids` rule every corpus-facing
        dedup path uses)."""
        return self._dedup_row_ids(
            self.store.load().withColumn("_row_id", _row_id())
        ).select(F.col("_row_id").alias("rid"), "content")

    def _sig_rows(self, docs: DataFrame) -> DataFrame:
        """Signature rows for the persisted artifact from (rid,
        content) input: the banded MinHash surface plus ``chash``
        (xxhash64 of the content) — the column that lets the heal
        detect a content CHANGE under an existing rid, which a
        rid-only delta is blind to. The chash join shuffles only the
        compact banded rows (bands × ~50 B per chunk) and the 16-byte
        key pairs, never text. NOTE the bands and keys subtrees
        consume ``docs`` independently: heal/append callers pass a
        PERSISTED input (delta rows, the ingest batch) so the source
        is read once; the full build's second content pass is a small
        constant next to its dominant shingle+minhash aggregation."""
        from converttovectordb_spark.operators.dedup import (
            minhash_signature_rows,
        )

        bands = minhash_signature_rows(
            docs,
            id_col="rid",
            text_col="content",
            num_hashes=LEX_NUM_HASHES,
            bands=LEX_BANDS,
        )
        keys = docs.select("rid", F.xxhash64("content").alias("chash"))
        return bands.join(keys, "rid")

    def _fresh_sigs_for_dedup(self) -> DataFrame:
        """The lexical signature artifact, provably covering the
        committed store — build / heal / compact as needed, then load.

        Same freshness contract as `_fresh_index_for_dedup`: absent (or
        params-mismatched) → one full build pass over the store; stale
        by token → heal keyed on ``(rid, chash)``. Artifact pairs no
        longer in the live corpus (rid vanished, or content CHANGED
        under an existing path#chunk_index — a stale signature could
        WRONGLY drop an arriving non-duplicate, so both are correctness
        hazards, not garbage) trigger a compaction: surviving rows are
        kept as-is, only changed/new rids are re-signed, and the swap
        is atomic. Otherwise the heal is the cheap delta append
        (O(store delta) signature work).

        Heal cost accounting, honestly: TWO map-side corpus passes —
        one to hash (rid, chash, timestamp) into the persisted compact
        key table (the newest-per-rid window runs on that 24-byte
        projection, so NO text is ever shuffled), one to fetch the
        changed/new rids' content (semi-join on rid, persisted before
        the two signature subtrees consume it) — plus streaming
        artifact scans: one for the key diff always, two more (kept
        rows + staging) only on the rare compaction branch. No shingle
        recompute for unchanged rows.
        Heals only fire when an unflagged write interleaved. Unlike
        the IVF index there is no degrade-to-brute: the artifact build
        IS the brute pass, done once and persisted."""
        from converttovectordb_spark.sources.sigstore import token_digest

        sig = self._sig_store()
        digest = token_digest(self.store.state_token())
        tok = sig.token()
        if tok is None:
            sig.rebuild(self._sig_rows(self._corpus_for_sigs()), digest)
            return sig.load()
        if tok == digest:
            return sig.load()
        raw = self.store.load().withColumn("_rid", _row_id())
        # newest chash per rid WITHOUT shuffling text: project to the
        # compact (rid, chash, timestamp) triple BEFORE the
        # newest-per-rid window (same rule as _dedup_row_ids). The
        # chash-asc tiebreak is the DETERMINISM contract shared with
        # _dedup_row_ids: two same-rid copies with equal timestamps
        # (one REST batch stamped with a single now) must resolve to
        # the same copy in BOTH windows, or the artifact could sign a
        # non-surviving copy's content and wrongly drop a future
        # non-duplicate arrival until the next heal (ADVICE r9).
        w = Window.partitionBy("rid").orderBy(
            F.col("timestamp").desc(), F.col("chash").asc()
        )
        corpus_keys = (
            raw.select(
                F.col("_rid").alias("rid"),
                F.xxhash64("content").alias("chash"),
                "timestamp",
            )
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("rid", "chash")
            .persist()
        )
        art = sig.load()
        delta_docs = None
        try:
            art_keys = art.select("rid", "chash").distinct()
            stale_rids = (
                art_keys.join(corpus_keys, ["rid", "chash"], "left_anti")
                .select("rid")
                .distinct()
            )
            # rids needing (re-)signing: brand new, or content changed.
            # Filter the store to those rids FIRST, then resolve
            # newest-per-rid on the (small) filtered rows — the text
            # window runs over the delta only, never the corpus.
            missing_rids = (
                corpus_keys.join(art_keys, ["rid", "chash"], "left_anti")
                .select("rid")
                .distinct()
            )
            delta_docs = self._dedup_row_ids(
                raw.join(missing_rids, F.col("_rid") == F.col("rid"), "left_semi")
                .withColumn("_row_id", F.col("_rid"))
            ).select(F.col("_rid").alias("rid"), "content").persist()
            if stale_rids.limit(1).count():
                kept = art.join(stale_rids, "rid", "left_anti")
                sig.rebuild(
                    kept.unionByName(self._sig_rows(delta_docs)), digest
                )
            else:
                sig.append(self._sig_rows(delta_docs), digest)
        finally:
            # unpersist delta_docs here too: a rebuild/append that
            # throws mid-heal must not leak the cached delta batch for
            # the SparkSession lifetime (same leak class ingest's
            # finally-unpersist guards against)
            if delta_docs is not None:
                delta_docs.unpersist()
            corpus_keys.unpersist()
        return sig.load()

    def _dup_ids_lexical(self, batch: DataFrame, threshold: float) -> DataFrame:
        """Batch ids whose ESTIMATED Jaccard — matching MinHash
        components / LEX_NUM_HASHES (32), the statistic
        `minhash_accuracy` measures — against any committed chunk
        reaches the threshold.

        The corpus side is ONLY the persisted signature artifact:
        batch signatures (bounded) broadcast into the (band_id,
        band_key) equi-join — one STREAMING map-side scan of the
        compact artifact per batch (deliberately not Spark-cached: the
        sig arrays make artifact rows ~1 KB, and materializing them
        into executor memory to save the post-write supersede probe's
        second scan measured 2.3× SLOWER at 32× corpus than just
        scanning twice — tools/lexical_dedup_scale_probe.py); the
        committed corpus TEXT is never re-read, which is what makes
        lexical dedup-on-arrival hold at 100 TB. Chunks with fewer
        than 3 words have no signature: never dropped, never dropping
        (the family's documented short-text blind spot).

        Returns the LAZY drop-set plan; `_dedup_drop_ids` materializes
        the union of all decision paths driver-side (bounded by the
        ingest-batch contract) — a lazy plan pinning the artifact's
        parquet files would crash — or with ignoreMissingFiles,
        silently un-dedup — any later evaluation of the returned batch
        after a compaction swaps those files out
        (`_append_sigs_after_ingest`)."""
        from converttovectordb_spark.operators.dedup import (
            minhash_signature_rows,
        )

        sigs = self._fresh_sigs_for_dedup()
        bb = minhash_signature_rows(
            batch.select(_row_id().alias("_bid"), "content"),
            id_col="_bid",
            text_col="content",
            num_hashes=LEX_NUM_HASHES,
            bands=LEX_BANDS,
        ).select(
            F.col("_bid"), F.col("sig").alias("_bsig"), "band_id", "band_key"
        )
        pairs = sigs.join(
            F.broadcast(bb), on=["band_id", "band_key"]
        ).dropDuplicates(["_bid", "rid"])
        matches = F.size(
            F.filter(
                F.zip_with("_bsig", "sig", lambda x, y: x == y),
                lambda v: v,
            )
        )
        return (
            pairs.withColumn(
                "_est", matches / F.size("_bsig").cast("double")
            )
            .filter(F.col("_est") >= threshold)
            .select("_bid")
            .distinct()
        )

    def _append_sigs_after_ingest(
        self, written: DataFrame, *, store_existed_before: bool
    ) -> None:
        """Advance the signature artifact to the post-commit store
        state: survivors' signatures appended, token rewritten. When
        the store did NOT exist before this ingest, the written batch
        IS the store — rebuild wholesale (this also invalidates any
        artifact orphaned by a store clear(), whose old token would
        otherwise look committed). A survivor whose rid ALREADY has
        artifact rows is a re-crawl that changed content under an
        existing path#chunk_index (an unchanged copy would have been
        dropped as a duplicate): blind-appending would leave BOTH the
        old and new signatures live — the stale one free to wrongly
        drop a future non-duplicate arrival — and duplicate-rid rows
        would grow without bound across re-ingests. So the append path
        probes the artifact for incoming rids and compacts on overlap:
        old rows for the incoming rids are dropped in the same atomic
        swap that lands the new ones. The probe is a second streaming
        map-side scan of the compact artifact (broadcast batch side);
        Spark-caching the artifact to share the decision's scan
        measured strictly slower — the ~1 KB sig rows cost more to
        materialize than to re-stream (see `_dup_ids_lexical`).
        Crash-safe: a miss here just leaves the artifact stale; the
        next flagged ingest heals by (rid, chash) delta."""
        from converttovectordb_spark.sources.sigstore import token_digest

        sig = self._sig_store()
        digest = token_digest(self.store.state_token())
        docs = written.select(_row_id().alias("rid"), "content")
        bands = self._sig_rows(docs)
        if not store_existed_before:
            sig.rebuild(bands, digest)
            return
        if sig.token() is None:
            # artifact vanished or params changed mid-ingest (external
            # interference) — a batch-only rebuild would silently lose
            # corpus coverage; rebuild from the committed store instead
            sig.rebuild(self._sig_rows(self._corpus_for_sigs()), digest)
            return
        art = sig.load()
        incoming = docs.select("rid").distinct()
        superseded = art.join(F.broadcast(incoming), "rid", "left_semi")
        if superseded.limit(1).count():
            kept = art.join(F.broadcast(incoming), "rid", "left_anti")
            sig.rebuild(kept.unionByName(bands), digest)
        else:
            sig.append(bands, digest)

    @staticmethod
    def _dedup_row_ids(docs: DataFrame) -> DataFrame:
        """Deterministic one-copy-per-_row_id: blind re-ingest copies
        differ in `timestamp` (each ingest stamps its batch), so a bare
        dropDuplicates would keep an arbitrary copy and make results
        run-to-run nondeterministic — keep the NEWEST instead.

        Tiebreak on EQUAL timestamps (one REST batch stamped with a
        single now): xxhash64(content) asc FIRST — the same key the
        signature heal's compact (rid, chash) window can see, so both
        windows always crown the same copy (ADVICE r9) — then content
        asc to stay deterministic even across a hash collision."""
        w = Window.partitionBy("_row_id").orderBy(
            F.col("timestamp").desc(),
            F.xxhash64("content").asc(),
            F.col("content").asc(),
        )
        return (
            docs.withColumn("_rn_dedup", F.row_number().over(w))
            .filter(F.col("_rn_dedup") == 1)
            .drop("_rn_dedup")
        )

    def _corpus(
        self, corpus: DataFrame | None = None, at_version: int | None = None
    ) -> DataFrame:
        """The corpus a search door ranks: ``corpus`` when given, else
        the store as of ``at_version``. An absent store reads as zero
        rows in the store's column order (partition columns last), so
        each door answers a never-ingested database from its populated
        plan: empty results, not an error (mock_vector_db_api.py query
        short-circuit), in the columns a populated store gives."""
        from pyspark.sql.types import StructType

        from converttovectordb_spark.schema import DOCUMENTS_SCHEMA

        if corpus is not None:
            return corpus
        if self.store.exists():
            return self.load_corpus(at_version)
        part = list(self.store.partition_by)
        names = [n for n in DOCUMENTS_SCHEMA.names if n not in part] + part
        return self.spark.createDataFrame(
            [], StructType([DOCUMENTS_SCHEMA[n] for n in names])
        )

    def _embed(self, texts: list) -> list:
        """Query texts → float64 vectors, one embedder call."""
        return np.asarray(self.embedder(list(texts)), dtype=np.float64).tolist()

    def _search_vectors(
        self,
        query_vectors: list,
        top_k: int,
        *,
        score_threshold: float | None,
        carry_cols: list[str] | None = None,
        corpus: DataFrame | None = None,
        at_version: int | None = None,
    ) -> DataFrame:
        """(query_index, *display, score, rank) for each query vector:
        `knn_rank` over `_corpus`, ties broken by (path, chunk_index)
        ascending. The one body of the KNN verb behind `search`,
        `search_vector` and `search_batch`."""
        if corpus is not None and at_version is not None:
            raise ValueError("corpus and at_version are mutually exclusive")
        return knn_rank(
            self._corpus(corpus, at_version),
            query_vectors,
            validate_top_k(top_k),
            id_cols=["path", "chunk_index"],
            carry_cols=carry_cols,
            score_threshold=score_threshold,
            expected_dim=self.dim,  # engine knows its dim → zero-job Q5 guard
        )

    # -- query -----------------------------------------------------------
    def load_corpus(self, at_version: int | None = None) -> DataFrame:
        """The store's committed corpus; ``at_version`` gives a
        time-travel snapshot read as of that commit (transactional
        stores only — the plain store keeps no version history, so
        asking it for one is an error, not a silent latest-read)."""
        if at_version is None:
            return self.store.load()
        if not isinstance(self.store, TransactionalDocumentStore):
            raise ValueError(
                "at_version requires a transactional store "
                "(VectorEngine(..., transactional=True))"
            )
        return self.store.load(at_version=at_version)

    def snapshot_diff(
        self, from_version: int, to_version: int | None = None
    ) -> dict:
        """Row-level diff between two committed snapshots of a
        transactional store (``to_version=None`` = current): counts of
        rows ADDED (identity new in `to`), REMOVED (identity gone),
        and CHANGED (same (path, chunk_index) identity, different
        content hash) — the ops verb that tells a curator what a
        re-crawl/push window actually did, riding the same manifest
        time travel as ``search(at_version=...)``.

        Scale shape: each side projects to the compact (rid, chash)
        pair map-side (no content bytes move — the signature heal's
        projection discipline), newest-per-rid resolved with the
        shared deterministic tiebreak, then ONE full-outer join on rid
        and a single counting aggregate."""
        from converttovectordb_spark.sources.store import (
            TransactionalDocumentStore,
        )

        if not isinstance(self.store, TransactionalDocumentStore):
            raise ValueError(
                "snapshot_diff requires a transactional store "
                "(VectorEngine(..., transactional=True))"
            )
        # resolve + validate ONCE: an out-of-range version would be
        # silently clamped by the manifest filter to the full current
        # snapshot, reporting "nothing changed" for a version that does
        # not exist; and resolving "current" up front keeps the
        # reported to_version describing the data actually diffed even
        # if a writer commits mid-job
        current = self.store.version()
        if to_version is None:
            to_version = current
        for name, v in (
            ("from_version", from_version),
            ("to_version", to_version),
        ):
            if not isinstance(v, int) or isinstance(v, bool) or not (
                0 <= v <= current
            ):
                raise ValueError(
                    f"{name} {v!r} out of range: store is at version "
                    f"{current}"
                )
        frm = self._dedup_row_ids(
            self.load_corpus(at_version=from_version).withColumn(
                "_row_id", _row_id()
            )
        ).select(
            F.col("_row_id").alias("rid"),
            F.xxhash64("content").alias("_c_from"),
        )
        to = self._dedup_row_ids(
            self.load_corpus(at_version=to_version).withColumn(
                "_row_id", _row_id()
            )
        ).select(
            F.col("_row_id").alias("rid"),
            F.xxhash64("content").alias("_c_to"),
        )
        row = (
            frm.join(to, on="rid", how="full_outer")
            .agg(
                F.count(
                    F.when(F.col("_c_from").isNull(), 1)
                ).alias("added"),
                F.count(F.when(F.col("_c_to").isNull(), 1)).alias("removed"),
                F.count(
                    F.when(
                        F.col("_c_from").isNotNull()
                        & F.col("_c_to").isNotNull()
                        & (F.col("_c_from") != F.col("_c_to")),
                        1,
                    )
                ).alias("changed"),
                F.count(
                    F.when(F.col("_c_from") == F.col("_c_to"), 1)
                ).alias("unchanged"),
            )
            .first()
        )
        return {
            "from_version": int(from_version),
            "to_version": int(to_version),
            "added": int(row["added"]),
            "removed": int(row["removed"]),
            "changed": int(row["changed"]),
            "unchanged": int(row["unchanged"]),
        }

    def history(self) -> list[dict]:
        """Commit log of the transactional store (empty for the plain
        store — it has no versions to travel to)."""
        if not isinstance(self.store, TransactionalDocumentStore):
            return []
        return self.store.history()

    def search(
        self,
        query_text: str,
        top_k: int = 5,
        *,
        truncate_chars: int | None = None,
        at_version: int | None = None,
        corpus: DataFrame | None = None,
    ) -> DataFrame:
        """Encode the query driver-side (one string), then the
        single-probe top-k with threshold-after-limit semantics: a
        batch of one through `_search_vectors`.

        ``truncate_chars`` applies the reference's display truncation
        (T6, query_vector_db.py:204-206) to result content.
        ``at_version`` searches a time-travel snapshot of the store.
        ``corpus`` substitutes an already-loaded (possibly cached /
        prenormed — knn_topk auto-detects ``_emb_norm``) corpus
        DataFrame for the store read. Mutually exclusive with
        ``at_version``."""
        out = self._search_vectors(
            self._embed([query_text]),
            top_k,
            score_threshold=DEFAULT_SCORE_THRESHOLD,
            corpus=corpus,
            at_version=at_version,
        ).drop("query_index", "rank")
        if truncate_chars is not None:
            out = truncate_content(out, max_chars=truncate_chars)
        return out

    def search_diverse(
        self,
        query_text: str,
        top_k: int = 5,
        *,
        fetch_k: int = 50,
        mmr_lambda: float = 0.5,
        truncate_chars: int | None = None,
        corpus: DataFrame | None = None,
        use_index: bool = False,
        nprobe: int = 2,
        mrl_dim: int | None = None,
        mrl_shortlist: int | None = None,
        allow_stale: bool = False,
    ) -> DataFrame:
        """Two-stage diverse retrieval for one query: a batch of one
        through `search_diverse_batch`, without its ``query_index``
        column. ``truncate_chars`` applies the reference's display
        truncation (T6) to result content."""
        out = self.search_diverse_batch(
            [query_text],
            top_k,
            fetch_k=fetch_k,
            mmr_lambda=mmr_lambda,
            corpus=corpus,
            use_index=use_index,
            nprobe=nprobe,
            mrl_dim=mrl_dim,
            mrl_shortlist=mrl_shortlist,
            allow_stale=allow_stale,
        ).drop("query_index")
        if truncate_chars is not None:
            out = truncate_content(out, max_chars=truncate_chars)
        return out

    def search_diverse_batch(
        self,
        query_texts: list,
        top_k: int = 5,
        *,
        fetch_k: int = 50,
        mmr_lambda: float = 0.5,
        corpus: DataFrame | None = None,
        use_index: bool = False,
        nprobe: int = 2,
        mrl_dim: int | None = None,
        mrl_shortlist: int | None = None,
        allow_stale: bool = False,
    ) -> DataFrame:
        """Two-stage diverse retrieval for Q query texts — the one
        implementation behind `search_diverse` (a batch of one) and
        /diverse_batch. ONE embedder call for all texts, ONE
        `knn_rank` pass fetches every query's relevance
        top-``fetch_k`` (the only stage that touches the corpus), then
        `mmr_rerank` (λ=``mmr_lambda``) runs the per-query greedy loops
        as parallel Arrow groups over those bounded candidate sets.
        Near-duplicate chunks (the overlap chunker guarantees some)
        stop crowding out distinct results.

        Keeps the reference's observable search contract where it
        applies: relevance threshold 0.1 applied AFTER selection (so a
        diverse-but-irrelevant pick is still dropped), embeddings
        stripped, newest-copy dedupe on duplicate identities.
        ``query_index`` labels each result row with its probe's
        position. ``corpus`` substitutes an already-loaded corpus (the
        serving facade's warm df-tier cache; its norm column is dropped
        so it cannot leak into display columns).

        ``use_index=True`` replaces the full-corpus candidate scan
        with the IVF index's batch probe (same approximate-recall
        contract, staleness guard and nprobe knob as `search_indexed`;
        with nprobe covering every cluster the result equals the brute
        door) — at 100 TB the candidate stage then reads ~Q·nprobe/C
        of the corpus files, and the MMR rerank's embedding join-back
        touches only the ≤ Q·fetch_k survivors (bounded; `_row_id` is
        unique in the index by write-time contract, so it cannot fan
        out). ``mrl_dim``/``mrl_shortlist`` turn the Matryoshka
        truncation dial on that indexed stage; on the brute stage they
        raise."""
        from converttovectordb_spark.functions.vector import NORM_COL
        from converttovectordb_spark.operators.search import mmr_rerank

        if not 0.0 <= mmr_lambda <= 1.0:
            raise ValueError(
                f"lambda_ must be in [0, 1], got {mmr_lambda}"
            )
        if not query_texts:
            raise ValueError("query_texts must be non-empty")
        if (mrl_dim is not None or mrl_shortlist is not None) and (
            not use_index
        ):
            raise ValueError(
                "mrl_dim/mrl_shortlist require use_index=True — the "
                "brute candidate stage scores full-width"
            )
        top_k = validate_top_k(top_k)
        qvs = self._embed(query_texts)
        if use_index and self.store.exists():
            queries_df = self.spark.createDataFrame(
                list(enumerate(qvs)), "query_index int, query_vec array<double>"
            )
            index = self._require_index(allow_stale=allow_stale)
            # cluster-pruned candidate fetch; embedding joined back for
            # the rerank over the bounded survivor set only
            corpus_df = index.corpus().drop("cluster_id").withColumn(
                "_rid", F.col("_row_id")
            ).drop("_row_id")
            cands = (
                index.search(
                    queries_df,
                    top_k=max(int(fetch_k), top_k),
                    nprobe=nprobe,
                    query_id_col="query_index",
                    doc_id_col="_row_id",
                    mrl_dim=mrl_dim,
                    mrl_shortlist=mrl_shortlist,
                )
                .withColumnRenamed("_row_id", "_rid")
                .join(
                    corpus_df.select(
                        "_rid",
                        F.col("embedding")
                        .cast("array<double>")
                        .alias("embedding"),
                    ),
                    on="_rid",
                )
                .select("query_index", "_rid", "score", "embedding")
            )
        else:
            # an absent store ranks zero rows through this stage
            corpus_df = self._corpus(corpus).withColumn("_rid", _row_id())
            cands = knn_rank(
                corpus_df,
                qvs,
                max(int(fetch_k), top_k),
                id_cols=["_rid"],
                carry_cols=["_rid", "embedding"],
                score_threshold=None,
                expected_dim=self.dim,
            )
        # collapse duplicate-rid candidates DETERMINISTICALLY (best
        # score wins) before the rerank: mmr_rerank's per-group dict
        # would otherwise keep whichever copy lands last in the Arrow
        # group — nondeterministic when a re-ingest MODIFIED the doc —
        # and the matrix tier's first-in-(score desc) collapse could
        # disagree. Bounded: ≤ Q·fetch_k rows enter the window.
        wc = Window.partitionBy("query_index", "_rid").orderBy(
            F.col("score").desc()
        )
        cands = (
            cands.withColumn("_rn_c", F.row_number().over(wc))
            .filter(F.col("_rn_c") == 1)
            .drop("_rn_c")
        )
        picked = mmr_rerank(
            cands.select("query_index", "_rid", "score", "embedding"),
            top_k=top_k,
            lambda_=mmr_lambda,
            query_id_col="query_index",
            doc_id_col="_rid",
        )
        joined = picked.filter(
            F.col("score") >= DEFAULT_SCORE_THRESHOLD
        ).join(corpus_df.drop("embedding", "score", NORM_COL), on="_rid")
        # bounded post-join dedupe, per (query, identity): a plain
        # store can hold repeated (path, chunk_index) rows (blind
        # re-ingest) and the display join fans each pick out per copy
        # (<= Q·k×copies rows, newest copy kept deterministically;
        # content asc breaks EQUAL timestamps — a bare timestamp desc
        # crowns an arbitrary copy per run, and the matrix tier's
        # stable rule would disagree)
        wdup = Window.partitionBy("query_index", "_rid").orderBy(
            F.col("timestamp").desc(), F.col("content").asc()
        )
        return (
            joined.withColumn("_rn_dedup", F.row_number().over(wdup))
            .filter(F.col("_rn_dedup") == 1)
            .drop("_rn_dedup", "_rid")
            .orderBy(F.col("query_index").asc(), F.col("mmr_rank").asc())
        )

    def search_hybrid(
        self,
        query_text: str,
        top_k: int = 5,
        *,
        candidates: int = 50,
        k_rrf: int = 60,
        corpus: DataFrame | None = None,
        use_index: bool = False,
        nprobe: int = 2,
        mrl_dim: int | None = None,
        mrl_shortlist: int | None = None,
        use_lex_index: bool = False,
        allow_stale: bool = False,
    ) -> DataFrame:
        """Hybrid (BM25 + cosine, RRF-fused) retrieval for one query: a
        batch of one through `search_hybrid_batch`, without its
        ``query_index`` column."""
        return self.search_hybrid_batch(
            [query_text],
            top_k,
            candidates=candidates,
            k_rrf=k_rrf,
            corpus=corpus,
            use_index=use_index,
            nprobe=nprobe,
            mrl_dim=mrl_dim,
            mrl_shortlist=mrl_shortlist,
            use_lex_index=use_lex_index,
            allow_stale=allow_stale,
        ).drop("query_index")

    def search_hybrid_batch(
        self,
        query_texts: list,
        top_k: int = 5,
        *,
        candidates: int = 50,
        k_rrf: int = 60,
        corpus: DataFrame | None = None,
        use_index: bool = False,
        nprobe: int = 2,
        mrl_dim: int | None = None,
        mrl_shortlist: int | None = None,
        use_lex_index: bool = False,
        allow_stale: bool = False,
    ) -> DataFrame:
        """Hybrid retrieval for Q query texts — the one implementation
        behind `search_hybrid` (a batch of one) and /hybrid_batch:
        reciprocal-rank fusion of the cosine semantic arm (same scoring
        as `search`, no score threshold) and a BM25 keyword arm over
        chunk content (lowercased whitespace terms). Each arm reduces
        to ``candidates`` rows per query BEFORE ranks fuse — top-k
        reductions, never a global sort — then the ≤ Q·candidates·2
        fused rows join back to the store for display columns.
        ``query_index`` labels each result row with its probe's
        position.

        RRF (Cormack et al. 2009): score = Σ 1/(k_rrf + rank); a doc
        found by only one arm still scores. BM25 catches exact
        identifiers the embedding may smooth away; cosine catches
        paraphrase BM25 cannot see.

        Cost shape: ONE embedder call. The semantic arm is `knn_rank`
        (the JVM `knn_topk` fold at Q=1; for Q>1 ONE corpus pass,
        `knn_join_blas`, one matmul per Arrow chunk instead of Q fold
        scans). At Q=1 the lexical arm is `bm25_scores`, and it and
        the fused list are cut by TakeOrderedAndProject; for Q>1 ONE
        corpus tokenize serves all Q BM25 arms (`bm25_scores_batch`,
        postings filtered to the term union before the shuffle) and
        per-query windows cut. The batch kernels' Python worker and
        the per-query windows cost more than they save for one query
        (measured at 13,515 × 384: 558 vs 340 ms semantic, 938 vs
        649 ms lexical). Both shapes produce the same ranks under the
        same (score desc, _rid asc) tie-break; scores agree to ~1e-9
        (float summation order only).

        ``corpus`` substitutes an already-loaded corpus DataFrame for
        the store read (the serving facade's warm cache) — both arms
        and the display join-back then reuse one cached lineage.

        100 TB arms: ``use_index=True`` serves the semantic candidates
        from the IVF index (same approximate-recall contract,
        staleness guard and nprobe knob as `search_indexed`; the whole
        batch routes through ONE probe pass); ``use_lex_index=True``
        serves the BM25 candidates from the persisted postings
        (`build_lex_index` — reads only the query terms' buckets, zero
        corpus tokenize). With both on, neither RANKING arm scans the
        corpus; only the display join-back fetches the fused
        survivors' columns. With nprobe covering every cluster the
        indexed result is IDENTICAL to the brute door (tests pin it).
        ``mrl_dim``/``mrl_shortlist`` turn the truncation dial on the
        indexed semantic arm and raise on the brute arm."""
        from converttovectordb_spark.functions.vector import NORM_COL
        from converttovectordb_spark.operators.search import (
            bm25_scores,
            bm25_scores_batch,
        )

        if not query_texts:
            raise ValueError("query_texts must be non-empty")
        if (mrl_dim is not None or mrl_shortlist is not None) and (
            not use_index
        ):
            raise ValueError(
                "mrl_dim/mrl_shortlist require use_index=True — the "
                "brute semantic arm scores full-width"
            )
        top_k = validate_top_k(top_k)
        if corpus is None and not self.store.exists():
            # an absent store has no index: its zero rows rank through
            # the brute arms
            use_index = use_lex_index = False
        single = len(query_texts) == 1
        ivf = (
            self._require_index(allow_stale=allow_stale)
            if use_index
            else None
        )
        docs = None
        if not (use_index and use_lex_index):
            docs = self._corpus(corpus).withColumn("_rid", _row_id())
        qvs = self._embed(query_texts)
        if ivf is not None:
            queries_df = self.spark.createDataFrame(
                list(enumerate(qvs)), "query_index int, query_vec array<double>"
            )
            # one probe pass + one pruned scan serves every query;
            # index.search's rank is (score desc, _row_id asc) — the
            # same tie-break as the brute arms
            sem = ivf.search(
                queries_df,
                top_k=validate_top_k(candidates),
                nprobe=nprobe,
                query_id_col="query_index",
                doc_id_col="_row_id",
                mrl_dim=mrl_dim,
                mrl_shortlist=mrl_shortlist,
            ).select(
                "query_index",
                F.col("_row_id").alias("_rid"),
                F.col("rank").alias("sem_rank"),
            )
        else:
            sem = knn_rank(
                docs,
                qvs,
                validate_top_k(candidates),
                id_cols=["_rid"],
                carry_cols=["_rid"],
                score_threshold=None,  # fusion wants ranks, not a cutoff
                expected_dim=self.dim,
            ).select("query_index", "_rid", F.col("rank").alias("sem_rank"))
        term_lists = [
            [t for t in q.lower().split() if t] for q in query_texts
        ]
        lex_index = (
            self._require_lex_index(allow_stale=allow_stale)
            if use_lex_index
            else None
        )
        if single:
            if lex_index is not None:
                lex = lex_index.bm25(term_lists[0]).withColumnRenamed(
                    "_row_id", "_rid"
                )
            else:
                lex = bm25_scores(
                    docs, term_lists[0], id_col="_rid",
                    text_col="content", lowercase=True,
                )
            lex = (
                lex.orderBy(F.col("bm25").desc(), F.col("_rid").asc())
                .limit(candidates)
                .select(
                    F.lit(0).alias("query_index"),
                    "_rid",
                    take_order_rank().alias("lex_rank"),
                )
            )
        else:
            # one corpus tokenize (or one postings probe over the
            # batch's term union) for every query's terms
            if lex_index is not None:
                lex_all = lex_index.bm25_batch(
                    term_lists
                ).withColumnRenamed("_row_id", "_rid")
            else:
                lex_all = bm25_scores_batch(
                    docs, term_lists, id_col="_rid", text_col="content",
                    lowercase=True,
                )
            w_lex = Window.partitionBy("query_index").orderBy(
                F.col("bm25").desc(), F.col("_rid").asc()
            )
            lex = (
                lex_all.withColumn("lex_rank", F.row_number().over(w_lex))
                .filter(F.col("lex_rank") <= candidates)
                .select("query_index", "_rid", "lex_rank")
            )
        fused = (
            sem.join(lex, on=["query_index", "_rid"], how="full_outer")
            .withColumn(
                "rrf",
                F.coalesce(1.0 / (k_rrf + F.col("sem_rank")), F.lit(0.0))
                + F.coalesce(1.0 / (k_rrf + F.col("lex_rank")), F.lit(0.0)),
            )
        )
        by_rrf = [F.col("rrf").desc(), F.col("_rid").asc()]
        if single:
            # TakeOrderedAndProject gathers inside the next stage; the
            # per-query window adds a shuffle stage of its own
            fused = fused.orderBy(*by_rrf).limit(top_k)
        else:
            w_rrf = Window.partitionBy("query_index").orderBy(*by_rrf)
            fused = (
                fused.withColumn("_rrf_rank", F.row_number().over(w_rrf))
                .filter(F.col("_rrf_rank") <= top_k)
                .drop("_rrf_rank")
            )
        # Display join-back never ships the embedding nor the serving
        # cache's internal norm column. Final order carries the same
        # `_rid` ascending tiebreak the matrix-tier serving path uses
        # (operators/serving.py hybrid_query), so equal-RRF rows come
        # back in the identical order on both tiers. With both indexes
        # on, the store was never loaded — fetch display columns from
        # the IVF corpus (same rows, _row_id-unique by write contract).
        if docs is None:
            display = (
                ivf.corpus()
                .drop("cluster_id", "embedding", NORM_COL)
                .withColumnRenamed("_row_id", "_rid")
            )
        else:
            display = docs.drop("embedding", NORM_COL)
        return (
            fused.join(display, on="_rid")
            .orderBy(
                F.col("query_index").asc(),
                F.col("rrf").desc(),
                F.col("_rid").asc(),
            )
            .drop("_rid")
        )

    def answer(
        self,
        query_text: str,
        top_k: int = 5,
        *,
        generator=None,
        max_chars_per_result: int = 2000,
    ) -> DataFrame:
        """Retrieval-augmented generation: top-k search → in-plan
        prompt assembly → injectable LLM stage (the reference's
        downstream estimate_time.py:30-78 flow — read results, frame
        them under a context heading, call the model — expressed as one
        engine verb). Returns DataFrame(prompt, generation, n_results);
        the generator defaults to the deterministic fake, and nothing
        here joins ``queries()`` — generation is nondeterministic by
        nature (SURVEY §2.5)."""
        from converttovectordb_spark.operators.generate import (
            ai_generate,
            assemble_context,
            rag_prompt,
        )

        hits = self.search(query_text, top_k)
        ctx = assemble_context(
            hits, max_chars_per_result=max_chars_per_result
        ).withColumn("prompt", rag_prompt(query_text))
        return ai_generate(ctx, "prompt", generator=generator).select(
            "prompt", "generation", "n_results"
        )

    def search_batch(
        self,
        query_texts: list[str],
        top_k: int = 5,
        *,
        score_threshold: float | None = None,
        use_index: bool = False,
        nprobe: int = 2,
        mrl_dim: int | None = None,
        mrl_shortlist: int | None = None,
        allow_stale: bool = False,
    ) -> DataFrame:
        """Many-queries-at-once search — the join-shaped bulk operator
        SURVEY §7 phase 4 prescribes (bulk paths are where Spark wins;
        single-query latency is the serving tiers' job). All query
        texts embed in ONE embedder call and rank through
        `_search_vectors` (`knn_rank`: the single-probe plan for one
        text, one BLAS pass over the corpus for Q>1). Returns
        (query_index, query_text, path, chunk_index, content, score,
        rank) — `query_index` is the position in ``query_texts``.

        ``use_index=True``: the whole batch routes through the IVF
        index's batch `search` — ONE probe pass and ONE scan of the
        union of probed cluster partitions serves every query
        (approximate, same recall contract and staleness guard as
        `search_indexed`; `score_threshold` still applies after each
        query's top-k). At 100 TB this is the difference between the
        brute path's full-corpus stream and reading ~Q·nprobe/C of the
        files. ``mrl_dim``/``mrl_shortlist`` turn the Matryoshka
        truncation dial on that indexed path (single/batch symmetry
        with `search_indexed` — same prefix-score→rerank plan, same
        validation); requesting the dial on the brute path raises —
        its batch kernel is full-width by design (knn_join_blas), and
        a silent full-dim answer would misreport the dial as turned."""
        if not query_texts:
            raise ValueError("query_texts must be non-empty")
        if (mrl_dim is not None or mrl_shortlist is not None) and (
            not use_index
        ):
            raise ValueError(
                "mrl_dim/mrl_shortlist require use_index=True — the "
                "brute batch kernel scores full-width"
            )
        vecs = self._embed(query_texts)
        if use_index and self.store.exists():
            index = self._require_index(allow_stale=allow_stale)
            hits = index.search(
                self.spark.createDataFrame(
                    list(enumerate(vecs)),
                    "query_index int, query_vec array<double>",
                ),
                top_k=validate_top_k(top_k),
                nprobe=nprobe,
                query_id_col="query_index",
                doc_id_col="_row_id",
                mrl_dim=mrl_dim,
                mrl_shortlist=mrl_shortlist,
            )
            if score_threshold is not None:
                hits = hits.filter(F.col("score") >= score_threshold)
            # _row_id uniqueness is enforced at index-write time
            # (build/heal route through _dedup_row_ids), so this
            # join-back cannot fan out
            hits = hits.join(
                index.corpus().drop("cluster_id", "embedding"), on="_row_id"
            )
        else:
            # payload CARRIED through the scoring, never joined back on
            # the identity: a blind re-push's duplicate (path,
            # chunk_index) copies would fan each hit out across every
            # same-id copy, pairing one copy's score with another's
            # content (the same fix the REST batch door carries)
            hits = self._search_vectors(
                vecs,
                top_k,
                score_threshold=score_threshold,
                carry_cols=["path", "chunk_index", "content"],
            )
        # the texts ride the plan as a literal array: a broadcast join
        # of them costs a Spark job of its own (~250 ms per call)
        texts = F.array(*[F.lit(t) for t in query_texts])
        return hits.select(
            "query_index",
            texts[F.col("query_index")].alias("query_text"),
            "path", "chunk_index", "content", "score", "rank",
        ).orderBy(F.col("query_index").asc(), F.col("rank").asc())

    def search_vector(
        self,
        query_vector: list[float],
        top_k: int = 5,
        *,
        at_version: int | None = None,
    ) -> DataFrame:
        """`search` for a caller-embedded vector: a batch of one
        through `_search_vectors`, threshold 0.1 after the limit."""
        return self._search_vectors(
            [query_vector],
            top_k,
            score_threshold=DEFAULT_SCORE_THRESHOLD,
            at_version=at_version,
        ).drop("query_index", "rank")

    # -- ANN index -------------------------------------------------------
    def build_index(
        self,
        num_clusters: int = 16,
        *,
        seed: int = 7,
        pq_m: int | None = None,
        pq_k: int = 16,
        transactional: bool = False,
        recall_sample: int | None = None,
        adc_recall_sample: int | None = None,
        mrl_recall_sample: int | None = None,
    ):
        """Train + materialize the IVF index beside the store (offline
        job, one corpus pass). Search with use_index=True afterwards —
        each query then touches ~nprobe/num_clusters of the corpus
        FILES via partition pruning instead of scanning everything.
        ``pq_m`` additionally materializes the product-quantization
        codes table (IVFADC layout) so `search_indexed` can ADC-scan
        compressed codes via ``adc_shortlist=N``.

        ``transactional=True`` builds a `TransactionalIVFIndex` under
        the rebuild-and-swap protocol: each build lands in a fresh
        versioned dir under ``<store>_tivf/`` and a CURRENT pointer
        file is atomically replaced — a rebuild under drift never
        touches the index readers are on, and `open_index()` attaches
        a fresh process to whatever CURRENT points at. Incremental
        maintenance (`append_to_index`) then commits through the index
        manifest instead of bare parquet appends.

        ``recall_sample=N`` additionally measures recall@5 vs nprobe on
        an N-probe held-out sample and persists the curve in the index
        (`measure_recall_curve`) — `search_indexed(target_recall=0.9)`
        then resolves nprobe from the measurement instead of a guess.
        Off by default: it costs an exact-KNN pass at build time.
        ``adc_recall_sample=N`` (PQ-enabled builds) is the same
        treatment for the second knob: measure recall@5 vs
        ``adc_shortlist`` (`measure_adc_curve`) so
        `search_indexed(target_adc_recall=...)` resolves the shortlist
        from a measurement. ``mrl_recall_sample=N`` is the same
        treatment for the THIRD knob — recall@5 vs Matryoshka prefix
        dimension (`measure_mrl_curve`) so
        `search_indexed(target_mrl_recall=...)` resolves the truncation
        dimension from a measurement. Rebuilds of an index that
        carried any curve RE-MEASURE it under the old stamped
        contract — the target knobs survive the retrain cadence."""
        from converttovectordb_spark.plans.ivf_index import (
            TransactionalIVFIndex,
            build_ivf_index,
        )

        # Staleness stamp: captured BEFORE the build reads the store —
        # the build is multiple passes (kmeans fit, corpus rewrite, PQ
        # fits, encode), each re-scanning the source, so a write
        # landing mid-build yields an index mixing store states. With
        # the pre-build token, that write makes the token mismatch and
        # search_indexed raises stale instead of silently serving the
        # inconsistent index (same hazard class as the REST warm-cache
        # bug fixed in r7).
        token = self.store.state_token()
        # _row_id must be unique in the index: a blind re-ingest can
        # duplicate (path, chunk_index) rows in the plain store — keep
        # the newest copy (deterministic) so ranks and display joins
        # stay k-sized and repeatable
        docs = self._dedup_row_ids(
            self.store.load().withColumn(
                "_row_id",
                _row_id(),
            )
        )
        prev_curve = None
        prev_adc_curve = None
        prev_mrl_curve = None
        if transactional:
            import os
            import uuid

            base = f"{self.store.path}_tivf"
            os.makedirs(base, exist_ok=True)
            new_dir = os.path.join(base, uuid.uuid4().hex)
            self._index = TransactionalIVFIndex.build(
                docs,
                new_dir,
                num_clusters=num_clusters,
                seed=seed,
                pq_m=pq_m,
                pq_k=pq_k,
                pq_id_cols=("_row_id",),
            )
            # txn-id carry across the swap (same correctness step the
            # streaming retrain applies): the rebuild trained on the
            # committed store, which already holds every applied
            # epoch/heal, so the replaced index's txn ids must keep
            # deduping on the NEW manifest — a post-swap replay of an
            # old streaming epoch would otherwise double-insert
            try:
                prev = TransactionalIVFIndex.open_current(self.spark, base)
                self._index.carry_txn_ids(prev.committed_txn_ids())
                prev_curve = prev.recall_curve()
                prev_adc_curve = prev.adc_curve()
                prev_mrl_curve = prev.mrl_curve()
            except FileNotFoundError:
                pass  # first publish at this base — nothing to carry
            # publish is DEFERRED until after the recall/ADC curve
            # re-measures below (the streaming retrain's ordering,
            # streaming/jobs.py): publishing first opens a window —
            # minutes at scale, the re-measure is a corpus pass —
            # where a reader's search_indexed(target_recall=...) hits
            # "no recall curve measured", and a crash mid-measure
            # would publish an index that permanently lost the knob.
            pending_publish = (base, new_dir)
        else:
            from converttovectordb_spark.plans.ivf_index import IVFIndex

            # plain rebuilds land IN PLACE, so the old curve files
            # would survive the overwrite as silently stale — capture
            # them so the re-measure below replaces them
            prev_plain = IVFIndex(self.spark, f"{self.store.path}_ivf")
            prev_curve = prev_plain.recall_curve()
            prev_adc_curve = prev_plain.adc_curve()
            prev_mrl_curve = prev_plain.mrl_curve()
            self._index = build_ivf_index(
                docs,
                f"{self.store.path}_ivf",
                num_clusters=num_clusters,
                seed=seed,
                pq_m=pq_m,
                pq_k=pq_k,
                pq_id_cols=("_row_id",),
            )
        if recall_sample is not None:
            from converttovectordb_spark.plans.ivf_index import (
                measure_recall_curve,
            )

            measure_recall_curve(
                self._index,
                sample=int(recall_sample),
                doc_id_col="_row_id",
            )
        elif prev_curve is not None:
            # rebuild-and-swap of an index that carried a measured
            # curve: re-measure under the SAME contract so
            # search_indexed(target_recall=...) keeps resolving after
            # the retrain (the build just paid a full corpus pass; the
            # measurement is the same order of cost)
            from converttovectordb_spark.plans.ivf_index import (
                remeasure_recall_curve_like,
            )

            remeasure_recall_curve_like(
                prev_curve, self._index, default_doc_id_col="_row_id"
            )
        if adc_recall_sample is not None:
            from converttovectordb_spark.plans.ivf_index import (
                measure_adc_curve,
            )

            measure_adc_curve(
                self._index,
                sample=int(adc_recall_sample),
                doc_id_col="_row_id",
            )
        elif prev_adc_curve is not None:
            from converttovectordb_spark.plans.ivf_index import (
                ADC_CURVE_FILE,
                remeasure_adc_curve_like,
            )

            if remeasure_adc_curve_like(
                prev_adc_curve, self._index, default_doc_id_col="_row_id"
            ) is None:
                # the rebuild dropped PQ: an in-place rebuild would
                # otherwise leave the old shortlist curve describing a
                # codec that no longer exists
                import contextlib
                import os

                with contextlib.suppress(OSError):
                    os.remove(
                        os.path.join(self._index.path, ADC_CURVE_FILE)
                    )
        if mrl_recall_sample is not None:
            from converttovectordb_spark.plans.ivf_index import (
                measure_mrl_curve,
            )

            measure_mrl_curve(
                self._index,
                sample=int(mrl_recall_sample),
                doc_id_col="_row_id",
            )
        elif prev_mrl_curve is not None:
            # same carry as the other two curves — the truncation knob
            # must survive the retrain cadence (no family guard: MRL
            # works on any index, unlike the ADC/PQ coupling)
            from converttovectordb_spark.plans.ivf_index import (
                remeasure_mrl_curve_like,
            )

            remeasure_mrl_curve_like(
                prev_mrl_curve, self._index, default_doc_id_col="_row_id"
            )
        if transactional:
            # publish: atomic pointer replace — readers attached to the
            # old dir keep working, new open_index() calls see this
            # one, curves already measured above
            TransactionalIVFIndex.publish_current(*pending_publish)
        self._index_token = token
        return self._index

    def open_index(self, *, refresh: bool = True):
        """Attach to the PUBLISHED transactional index (the CURRENT
        pointer `build_index(transactional=True)` swaps) — the fresh-
        process path: a serving replica opens the index a maintenance
        job built elsewhere. ``refresh=True`` then runs
        `append_to_index()` so the attach heals any store rows the
        index missed and the staleness token is earned, not assumed
        (raises for a rebuild if the store dropped indexed rows)."""
        from converttovectordb_spark.plans.ivf_index import (
            TransactionalIVFIndex,
        )

        try:
            self._index = TransactionalIVFIndex.open_current(
                self.spark, f"{self.store.path}_tivf"
            )
        except FileNotFoundError:
            raise RuntimeError(
                "no published transactional index; run "
                "build_index(transactional=True) first"
            ) from None
        # sentinel, NOT None: an absent/cleared store's state_token()
        # is None, and None == None would silently pass the staleness
        # guard — the unverified marker must compare unequal to every
        # real token until append_to_index() earns a fresh one.
        self._index_token = object()
        if refresh:
            self.append_to_index()
        return self._index

    def build_lex_index(self):
        """Offline build of the persisted BM25 inverted index for the
        store (`plans/lex_index.py`) — the lexical twin of
        `build_index`: one corpus tokenize pays for every later
        keyword probe, which then reads only its query terms' postings
        buckets instead of re-tokenizing the store
        (`search_hybrid(use_lex_index=True)` consumes it).

        Freshness contract mirrors the IVF one: the store token is
        digested BEFORE the build reads the store and earned into the
        artifact's `_TOKEN` file after the postings land —
        `_require_lex_index` raises on any later store change.
        Incremental maintenance is `append_to_lex_index` (O(new rows),
        the IVF heal contract); the full rebuild — ONE tokenize pass,
        no embedding inference — remains the answer to deletions and
        to the append-cadence small-file debt."""
        import json
        import os
        import uuid

        from converttovectordb_spark.plans.lex_index import (
            build_lexical_index,
        )
        from converttovectordb_spark.sources.sigstore import token_digest

        token = self.store.state_token()
        docs = self._dedup_row_ids(
            self.store.load().withColumn("_row_id", _row_id())
        )
        path = f"{self.store.path}_lexidx"
        # drop the commit marker BEFORE overwriting the postings: a
        # crash mid-rebuild must read back as "no lexical index" (the
        # old token would otherwise bless half-overwritten postings
        # whenever the store itself hadn't changed)
        import contextlib

        with contextlib.suppress(OSError):
            os.remove(os.path.join(path, "_TOKEN"))
        idx = build_lexical_index(
            docs,
            path,
            id_col="_row_id",
            text_col="content",
            lowercase=True,
        )
        tmp = os.path.join(path, f".token.{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump({"digest": token_digest(token)}, fh)
        os.replace(tmp, os.path.join(path, "_TOKEN"))
        return idx

    def append_to_lex_index(self) -> int:
        """Incrementally index whatever the STORE has that the lexical
        index does not — the `append_to_index` contract applied to the
        postings, replacing the r12.0 rebuild-on-every-ingest policy
        with an O(new rows) heal. The delta comes from the committed
        store itself (a `_row_id` anti-join against the artifact's
        doclens table), never from a caller-held batch. Rows present
        in the index but GONE from the store (replace/clear) cannot be
        healed by appending — raise for a rebuild, exactly like the
        IVF heal. Earns a fresh `_TOKEN` on success. Returns rows
        appended."""
        import json
        import os
        import uuid

        from converttovectordb_spark.plans.lex_index import LexicalIndex
        from converttovectordb_spark.sources.sigstore import token_digest

        path = f"{self.store.path}_lexidx"
        idx = LexicalIndex(self.spark, path)
        try:
            idx.meta()
        except (OSError, ValueError):
            raise RuntimeError(
                "no lexical index built; call build_lex_index() first"
            ) from None
        # torn-maintenance guard BEFORE the delta anti-join: a crashed
        # append leaves doclens ahead of the manifest — blindly healing
        # on top of it would earn a token over silently-missing
        # postings/stale stats. Also restores a crashed compact swap
        # (dir absent, .old. copy parked).
        idx.verify_integrity()
        token = self.store.state_token()
        docs = self._dedup_row_ids(
            self.store.load().withColumn("_row_id", _row_id())
        )
        from converttovectordb_spark.plans.lex_index import chash_expr

        doclens = idx.doclens()
        if "chash" not in doclens.columns:
            raise RuntimeError(
                f"lexical index at {path} predates content-keyed heals "
                "(doclens has no chash column) — a rid-only delta is "
                "blind to content changes; rebuild with "
                "build_lex_index()"
            )
        # freshness key = (rid, chash) — the sigstore's v2 lesson: a
        # rid-only delta heals a CHANGED document as a no-op and earns
        # a token over the old file's postings. Deletions AND content
        # changes both surface as indexed keys absent from the store;
        # neither can be healed by appending (old postings must go).
        store_keys = docs.select(
            "_row_id",
            chash_expr("content", bool(idx.meta().get("lowercase"))).alias(
                "chash"
            ),
        )
        stale = doclens.select("_row_id", "chash").join(
            store_keys, on=["_row_id", "chash"], how="left_anti"
        ).count()
        if stale:
            raise RuntimeError(
                f"lexical index holds {stale} rows whose (id, content) "
                "no longer matches the store (replace/clear/re-crawl "
                "happened); appending cannot remove or rewrite "
                "postings — rebuild with build_lex_index()"
            )
        missing = docs.join(
            doclens.select("_row_id"), on="_row_id", how="left_anti"
        )
        added = idx.append(missing, text_col="content")
        tmp = os.path.join(path, f".token.{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            json.dump({"digest": token_digest(token)}, fh)
        os.replace(tmp, os.path.join(path, "_TOKEN"))
        # write-door compaction policy, post-commit and warn-don't-fail
        # (the store/IVF/sigstore policy applied to the fourth
        # write-side artifact): one doclens file lands per append, so
        # the doclens file count IS the append count — fold once 16
        # appends accumulate. The token is already earned; a failed
        # fold costs nothing but the deferred rewrite.
        from converttovectordb_spark.plans.lex_index import (
            DOCLENS_SUBDIR,
        )

        if len(idx._data_files(DOCLENS_SUBDIR)) >= 16:
            try:
                idx.compact()
            except Exception as exc:  # noqa: BLE001
                import warnings

                warnings.warn(
                    f"auto-compaction of {path} failed (heal already "
                    f"committed; next heal retries): {exc}",
                    RuntimeWarning,
                    stacklevel=2,
                )
        return added

    def _require_lex_index(self, *, allow_stale: bool):
        """Presence + staleness guard for the lexical artifact — the
        `_require_index` contract applied to the postings: a keyword
        arm served from postings that predate a store write would
        silently miss (or resurrect) documents."""
        import json
        import os

        from converttovectordb_spark.plans.lex_index import LexicalIndex
        from converttovectordb_spark.sources.sigstore import token_digest

        path = f"{self.store.path}_lexidx"
        try:
            with open(os.path.join(path, "_TOKEN")) as fh:
                built = json.load(fh).get("digest")
        except (OSError, ValueError):
            raise RuntimeError(
                "no lexical index built; call build_lex_index() first"
            ) from None
        # cheap os-level presence check (no Spark job on the read
        # path): a compact swap crashed between renames leaves a data
        # dir absent while _TOKEN is still valid (compaction is
        # content-neutral) — raise the documented recovery message
        # instead of a mid-query AnalysisException
        from converttovectordb_spark.plans.lex_index import (
            DOCLENS_SUBDIR,
            POSTINGS_SUBDIR,
        )

        for sub in (POSTINGS_SUBDIR, DOCLENS_SUBDIR):
            if not os.path.isdir(os.path.join(path, sub)):
                raise RuntimeError(
                    f"lexical index data dir '{sub}' is missing (a "
                    "maintenance swap crashed); run "
                    "append_to_lex_index() to recover, or "
                    "build_lex_index()"
                )
        if not allow_stale and built != token_digest(
            self.store.state_token()
        ):
            raise RuntimeError(
                "lexical index is stale: the store changed since it "
                "was built/healed; run append_to_lex_index() (O(new "
                "rows)) or build_lex_index(), or pass allow_stale=True "
                "to search the old snapshot"
            )
        return LexicalIndex(self.spark, path)

    def append_to_index(self) -> int:
        """Incrementally index whatever the STORE has that the index
        does not — the O(new rows) maintenance path that keeps
        `search_indexed`'s staleness guard green across ingests.

        The delta comes from the committed store itself (a `_row_id`
        anti-join against the index corpus), never from a caller-held
        batch DataFrame: a lazy ingest lineage re-executed at index
        time could silently produce different rows than the ones the
        store committed, and the token would bless the divergence.
        Deriving from the store also makes the call idempotent and
        self-healing — interleaved ingests are simply included.

        Rows present in the index but GONE from the store (a replace/
        upsert or clear) cannot be healed by appending — that asks for
        a rebuild, and raising here beats silently serving deleted
        rows. Centroids/codebooks stay frozen (see `IVFIndex.append`);
        under drift recall degrades gracefully and a periodic
        `build_index` rebuild re-trains. Returns the number of rows
        appended."""
        index = getattr(self, "_index", None)
        if index is None:
            raise RuntimeError("no IVF index built; call build_index() first")
        # heal-time stats integrity (the lex-index verify_integrity
        # pattern): a crashed plain append can leave the histogram
        # manifest permanently undercounting — derivable here, so it
        # self-heals instead of raising (no-op on the transactional
        # index, whose histogram rides the committed manifests)
        index.verify_stats()
        token = self.store.state_token()
        docs = self._dedup_row_ids(
            self.store.load().withColumn(
                "_row_id",
                _row_id(),
            )
        )
        indexed_ids = index.corpus().select("_row_id")
        orphans = indexed_ids.join(
            docs.select("_row_id"), on="_row_id", how="left_anti"
        ).count()
        if orphans:
            raise RuntimeError(
                f"index holds {orphans} rows no longer in the store "
                f"(replace/clear happened); appending cannot remove "
                f"them — rebuild with build_index()"
            )
        missing = docs.join(indexed_ids, on="_row_id", how="left_anti")
        missing = missing.persist()
        try:
            added = missing.count()
            if added:
                from converttovectordb_spark.plans.ivf_index import (
                    TransactionalIVFIndex,
                )

                if isinstance(index, TransactionalIVFIndex):
                    # token-DIGEST txn id: two replicas healing the same
                    # store state dedupe on the manifest (best-effort —
                    # the commit re-checks the txn just before O_EXCL).
                    # The digest is stable across processes: the plain
                    # store's token embeds a frozenset whose repr order
                    # is hash-salted, so it must be canonicalized first.
                    import hashlib

                    basis = token
                    if (
                        isinstance(token, tuple)
                        and len(token) == 2
                        and isinstance(token[1], frozenset)
                    ):
                        basis = (token[0], tuple(sorted(token[1])))
                    txn = "heal-" + hashlib.sha256(
                        repr(basis).encode()
                    ).hexdigest()[:16]
                    # honest count: a deduped replay commits 0 rows
                    added = index.append(
                        missing, txn_id=txn, materialized=True
                    )
                else:
                    index.append(missing, materialized=True)
        finally:
            missing.unpersist()
        self._index_token = token
        return added

    def maybe_retrain(
        self,
        shift_threshold: float,
        *,
        num_clusters: int | None = None,
        seed: int = 7,
        pq_m: int | None = None,
        pq_k: int | None = None,
    ) -> dict:
        """The scheduled-retrain verb: measure drift
        (`index_drift_report`, one linear corpus pass), and if the
        worst frozen centroid has shifted past ``shift_threshold`` (L2
        distance to its routed rows' current mean), rebuild the index
        and publish it — otherwise a no-op. Connects the two halves
        that already existed: the drift diagnostic and the
        rebuild-and-swap protocol (`build_index`'s fresh-dir build +
        atomic CURRENT pointer replace for transactional indexes).

        Self-stabilizing on a schedule: a rebuild re-trains centroids
        on the current corpus, so the post-rebuild drift is ~0 and an
        immediate replay is a no-op — idempotence comes from the
        measurement, not from remembering that a retrain happened.
        Readers attached to the old index keep serving through the
        swap; `open_index()` picks up the new one.

        Build parameters default to the live index's own shape:
        ``num_clusters`` from its centroid count, PQ (m, k) from its
        codebook table when present — a retrain must not silently
        change the index family (dropping PQ on a drift rebuild would
        break every ADC consumer). Returns a report dict; ``retrained``
        says whether a rebuild+publish happened."""
        index = getattr(self, "_index", None)
        if index is None:
            raise RuntimeError(
                "no IVF index built or opened; call build_index() or "
                "open_index() first"
            )
        from converttovectordb_spark.plans.ivf_index import (
            TransactionalIVFIndex,
            index_drift_report,
        )

        docs = self._dedup_row_ids(
            self.store.load().withColumn("_row_id", _row_id())
        )
        report = index_drift_report(index, docs).collect()
        shifts = [r for r in report if r["centroid_shift"] is not None]
        max_shift = max((r["centroid_shift"] for r in shifts), default=0.0)
        total = sum(r["n_rows"] for r in report)
        mean_shift = (
            sum(r["centroid_shift"] * r["n_rows"] for r in shifts) / total
            if total
            else 0.0
        )
        out = {
            "retrained": False,
            "max_shift": float(max_shift),
            "mean_shift": float(mean_shift),
            "starved_clusters": sum(1 for r in report if r["n_rows"] == 0),
            "clusters": len(report),
            "shift_threshold": float(shift_threshold),
        }
        if max_shift <= shift_threshold:
            return out
        if num_clusters is None:
            num_clusters = len(report)
        # family probe shared with the streaming retrain door (caller-
        # provided overrides win)
        from converttovectordb_spark.plans.ivf_index import (
            index_family_params,
        )

        fam = index_family_params(index)
        if pq_m is None:
            pq_m = fam["pq_m"]
        if pq_k is None and fam["pq_m"] is not None:
            pq_k = fam["pq_k"]
        self.build_index(
            num_clusters=num_clusters,
            seed=seed,
            pq_m=pq_m,
            pq_k=pq_k if pq_k is not None else 16,
            transactional=isinstance(index, TransactionalIVFIndex),
        )
        out["retrained"] = True
        out["index_path"] = self._index.path
        return out

    def _require_index(self, *, allow_stale: bool):
        """The index-presence + staleness guard shared by every
        index-serving verb (`search_indexed`, `search_batch
        (use_index=True)`): one copy, so the two paths cannot drift on
        what 'stale' means (the open_index sentinel-token subtlety
        lives behind this check)."""
        index = getattr(self, "_index", None)
        if index is None:
            raise RuntimeError("no IVF index built; call build_index() first")
        if not allow_stale and self.store.state_token() != getattr(
            self, "_index_token", None
        ):
            raise RuntimeError(
                "IVF index is stale: the store changed since "
                "build_index(); rebuild the index or pass "
                "allow_stale=True to search the old snapshot"
            )
        return index

    def search_indexed(
        self,
        query_text: str,
        top_k: int = 5,
        nprobe: int | None = None,
        *,
        target_recall: float | None = None,
        adc_shortlist: int | None = None,
        target_adc_recall: float | None = None,
        mrl_dim: int | None = None,
        target_mrl_recall: float | None = None,
        mrl_shortlist: int | None = None,
        allow_stale: bool = False,
        where: str | None = None,
    ) -> DataFrame:
        """IVF-indexed search: same scoring as `search`, but the corpus
        scan is pruned to the probed cluster partitions. Requires
        `build_index()` (raises otherwise — an un-built index silently
        falling back to a full scan would hide the regression).
        ``adc_shortlist=N`` (PQ-enabled index) reranks an N-row ADC
        shortlist instead of exact-scoring every probed row.

        Staleness guard: if the store changed since `build_index()`
        (more ingest, clear, out-of-band writes), the index would
        silently return results over the OLD corpus — raise instead,
        unless the caller explicitly opts into ``allow_stale=True``
        (a legitimate serving mode while a rebuild runs offline).

        ``where`` is a SQL predicate over document columns (e.g.
        "extension = '.py'") — FILTERED ANN: pushed into the probed
        partitions' parquet scan next to the cluster pruning. A
        selective filter can leave fewer than k matches inside the
        probed clusters; raise nprobe for more recall under heavy
        filters.

        nprobe resolution: an EXPLICIT ``nprobe`` always wins;
        otherwise ``target_recall=r`` resolves it from the index's
        persisted recall curve (`build_index(recall_sample=...)` must
        have measured one — `IVFIndex.nprobe_for_recall`); with
        neither, the historical default of 2 applies. The ADC
        shortlist resolves the same way: explicit ``adc_shortlist``
        wins, else ``target_adc_recall=r`` consults the persisted
        shortlist curve (`build_index(pq_m=...,
        adc_recall_sample=...)` — `IVFIndex.adc_shortlist_for_recall`),
        warning when the effective nprobe differs from the one the
        curve was measured at (the shortlist's recall is conditional
        on the probe width).

        The MRL truncation dial resolves the same way: explicit
        ``mrl_dim`` wins; else ``target_mrl_recall=r`` consults the
        persisted truncation curve (`build_index(mrl_recall_sample=...)`
        — `IVFIndex.mrl_dim_for_recall`), also adopting the curve's
        stamped shortlist unless ``mrl_shortlist`` overrides it (the
        measured recall is conditional on BOTH), and warning on an
        nprobe mismatch like the ADC path. Mutually exclusive with the
        ADC shortlist (see `IVFIndex.search`)."""
        index = self._require_index(allow_stale=allow_stale)
        if nprobe is None:
            nprobe = (
                index.nprobe_for_recall(float(target_recall))
                if target_recall is not None
                else 2
            )
        if adc_shortlist is None and target_adc_recall is not None:
            adc_shortlist = index.adc_shortlist_for_recall(
                float(target_adc_recall)
            )
            curve_nprobe = (index.adc_curve() or {}).get("nprobe")
            if curve_nprobe is not None and int(curve_nprobe) != int(nprobe):
                import warnings

                warnings.warn(
                    f"target_adc_recall resolved against a shortlist "
                    f"curve measured at nprobe={curve_nprobe}, but this "
                    f"search probes nprobe={nprobe} — re-measure "
                    "(measure_adc_curve) at the serving nprobe for an "
                    "honest contract",
                    RuntimeWarning,
                    stacklevel=2,
                )
        if mrl_dim is None and target_mrl_recall is not None:
            mrl_dim = index.mrl_dim_for_recall(float(target_mrl_recall))
            mrl_payload = index.mrl_curve() or {}
            if mrl_shortlist is None:
                # the measured recall is conditional on the shortlist
                # the curve was measured with — adopt it
                mrl_shortlist = mrl_payload.get("shortlist")
            curve_nprobe = mrl_payload.get("nprobe")
            if curve_nprobe is not None and int(curve_nprobe) != int(nprobe):
                import warnings

                warnings.warn(
                    f"target_mrl_recall resolved against a truncation "
                    f"curve measured at nprobe={curve_nprobe}, but this "
                    f"search probes nprobe={nprobe} — re-measure "
                    "(measure_mrl_curve) at the serving nprobe for an "
                    "honest contract",
                    RuntimeWarning,
                    stacklevel=2,
                )
        qv = self.embedder([query_text])
        qv = np.asarray(qv, dtype=np.float64).reshape(-1).tolist()
        probes = self.spark.createDataFrame([(0, qv)], "query_id int, query_vec array<double>")
        hits = index.search(
            probes,
            top_k=validate_top_k(top_k),
            nprobe=nprobe,
            doc_id_col="_row_id",
            adc_shortlist=adc_shortlist,
            mrl_dim=mrl_dim,
            mrl_shortlist=mrl_shortlist,
            predicate=where,
        )  # → (query_id, _row_id, score, rank)
        # no display-side dedupe needed: _row_id uniqueness is enforced
        # at WRITE time (build_index and the append_to_index heal both
        # route through _dedup_row_ids), and a per-query corpus-wide
        # dropDuplicates here would add a full shuffle to a path whose
        # contract is ~nprobe/C of the files
        docs = index.corpus().drop("cluster_id", "embedding")
        return (
            hits.join(docs, on="_row_id")
            .drop("query_id", "_row_id")
            .orderBy(F.col("rank").asc())
        )

    # -- stats / admin ---------------------------------------------------
    def stats(self) -> dict:
        if not self.store.exists():
            return {
                "total_documents": 0,
                "unique_files": 0,
                "total_content_kb": None,
                "avg_content_chars": None,
                "documents_by_extension": {},
                "avg_chunks_per_file": None,
            }
        # One action over the store's `load()` plan (see
        # `corpus_stats_full`): the plan is built and run once, and the
        # driver rolls up one collected row per extension plus one
        # holding the per-path sums.
        return corpus_stats_full(self.store.load(require_embedding=False))

    def fsck(self, *, heal: bool = False) -> list[dict]:
        """One integrity door over every persisted artifact this
        engine writes (store commit log, IVF index + measured-dial
        curves, lexical index, minhash signature store) — the typed
        findings list `converttovectordb_spark.fsck.fsck` documents.
        Detect-only by default; ``heal=True`` applies the repairs the
        artifact modules define as safe. Offline maintenance verb:
        single-maintainer contract, never run beside writers."""
        from converttovectordb_spark.fsck import fsck as _fsck

        return _fsck(self, heal=heal)

    def health(self) -> dict:
        if not self.store.exists():
            return {"status": "healthy", "documents_count": 0, "embeddings_count": 0}
        return _health(self.store.load(require_embedding=False))

    def clear(self, *, backup: bool = True) -> None:
        self.store.clear(backup=backup)
        # the lexical signature artifact describes the cleared corpus —
        # dropping it here (not just relying on the rebuild guards)
        # keeps a later unflagged store rebuild from racing a stale one
        import shutil

        shutil.rmtree(self._sig_store().path, ignore_errors=True)
        # the bits-tier artifact likewise snapshots the cleared corpus
        shutil.rmtree(self.bits_artifact_path, ignore_errors=True)
