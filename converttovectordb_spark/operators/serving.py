"""Driver-resident serving tier for the warm KNN door.

The reference serves /query from an in-process NumPy matrix
(mock_vector_db_api.py:37-52,308: documents kept in server memory,
cosine via dot/argsort — its logged 0.11 s at N=13,515/d=384 is that
in-memory scan). A distributed Spark job cannot match that at small N:
the job floor (scheduling + task launch + collect) is ~0.15 s on
local[32] regardless of how cheap the scan is.

So serving is TIERED, exactly like Spark's own join strategy choice:

- corpus fits the driver budget → materialize ONCE (Arrow collect at
  cache fill) into a float64 matrix and serve each query as a BLAS
  matrix-vector product + top-k — the same plan the reference runs,
  minus its per-query norm recomputation (norms are cached at fill);
- bigger → the distributed prenormed scan (``knn_topk`` over a cached
  DataFrame carrying ``_emb_norm`` — see ``with_query_norms``);
- bigger still / latency-bound → the IVF index (``plans/ivf_index.py``),
  which prunes to nprobe clusters (SCALING.md measures the crossover).

Spark remains the system of record and the builder at every tier; the
matrix is just a cache of the store's ``load()`` view: refilled when the
store moves, or extended row for row by a write-through append
(``DriverMatrixIndex.extended``). Semantics match ``knn_topk`` bit-for-bit where it matters:
zero-norm→0.0 (Q1), deterministic ascending-id tie-break (Q3),
threshold AFTER limit (Q4), and the Q5 dimension-mismatch message.
"""

from __future__ import annotations

import math
import os
import re
import threading
import uuid
from bisect import bisect_left
from collections.abc import Mapping
from contextlib import contextmanager
from itertools import chain

import numpy as np

from pyspark.sql import DataFrame

from converttovectordb_spark.operators.search import (
    cosine_scores,
    topk_with_ties,
)
from converttovectordb_spark.sources.store import _HIVE_DEFAULT_PARTITION

#: Default driver-memory budget for the matrix tier, in float64 cells
#: (rows × dim). 200M cells = 1.6 GB — a broadcast-table-sized cache.
#: Above this the server falls back to the distributed scan tier.
DEFAULT_MAX_CELLS = 200_000_000

#: Default driver-memory budget for the NON-embedding payload the
#: matrix tier materializes alongside the matrix (content strings,
#: paths, binary media columns). The cell budget alone is not a safe
#: admission gate: a 100k-doc corpus at d=384 is only 38M cells, but
#: with ~1 MB contents it is ~100 GB of driver payload. Measured as
#: serialized variable-width bytes (octet_length of string/binary
#: columns) plus a small fixed per-row term; Python dict/str overhead
#: inflates that by a few ×, so 256 MB raw keeps the resident payload
#: around a GB. The reference's matched condition (13.5k docs × ~1 KB,
#: vector_db_api.log:736-738) is ~14 MB — comfortably matrix-tier.
DEFAULT_MAX_PAYLOAD_BYTES = 256 * 1024 * 1024

#: Estimated serialized bytes per row for the fixed-width payload
#: columns (ints, doubles, timestamps) — generous so the estimate errs
#: toward the distributed tier.
_FIXED_WIDTH_ROW_BYTES = 16

def _popcount64(x: np.ndarray) -> np.ndarray:
    """Vectorized SWAR popcount over uint64 words (numpy in this
    container predates np.bitwise_count). Chosen over a 256-entry byte
    LUT after measuring: the LUT's fancy-indexed gather over (n, d/8)
    bytes cost MORE than the full-dimension GEMV it was meant to
    undercut (2.4 ms vs 0.5 ms at N=13.5k, d=384); six arithmetic ops
    on (n, d/64) words run at memory speed."""
    x = x - ((x >> np.uint64(1)) & np.uint64(0x5555555555555555))
    x = (x & np.uint64(0x3333333333333333)) + (
        (x >> np.uint64(2)) & np.uint64(0x3333333333333333)
    )
    x = (x + (x >> np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    return (x * np.uint64(0x0101010101010101)) >> np.uint64(56)


def _pack_bits64(bits_2d: np.ndarray) -> np.ndarray:
    """(n, d) boolean sign bits → (n, ⌈d/64⌉) uint64 words — the
    binary_quant_recall query's documented production layout (one
    BIGINT word per 64 dims, Hamming = popcount(xor))."""
    packed = np.packbits(bits_2d, axis=1)  # (n, ceil(d/8)) uint8
    pad = (-packed.shape[1]) % 8
    if pad:
        packed = np.pad(packed, ((0, 0), (0, pad)))
    return np.ascontiguousarray(packed).view(np.uint64)


def _hamming_distances(words: np.ndarray, q: np.ndarray) -> np.ndarray:
    """(n,) Hamming distance of every packed sign-bit row to query
    vector ``q``'s sign bits. Blocked: the SWAR popcount allocates ~3
    full-size temporaries of its input, so the scan runs
    `BITS_SCAN_BLOCK_ROWS` rows at a time — the transient stays a
    block's working set whatever the corpus size."""
    qbits = _pack_bits64((q > 0).reshape(1, -1))
    ham = np.empty(words.shape[0], dtype=np.int64)
    for lo in range(0, words.shape[0], BITS_SCAN_BLOCK_ROWS):
        hi = lo + BITS_SCAN_BLOCK_ROWS
        ham[lo:hi] = _popcount64(np.bitwise_xor(words[lo:hi], qbits)).sum(
            axis=1, dtype=np.int64
        )
    return ham

#: Admission multiple of the bits tier over the float matrix tier:
#: one packed sign bit per dimension vs one float64 cell — the SAME
#: byte budget admits 64× the cells (the r13 measurement that the
#: packed layout's value is BYTES, not FLOPs: SCALING.md r13 "The
#: consumed dials"). A corpus past ``max_cells`` float64 cells but
#: within ``64 × max_cells`` sign bits serves Hamming-prefiltered
#: queries from driver memory, reranking survivors via a bounded
#: sidecar fetch (:class:`BitsMatrixIndex`).
BITS_ADMISSION_MULTIPLE = 64

#: Separate (smaller) budget for the hybrid lexical cache: per-doc
#: token Counters cost far more per row than embedding cells, so the
#: BM25 arm only materializes up to this many docs; past it the server
#: serves /hybrid from the Spark path even while /query stays matrix.
DEFAULT_HYBRID_MAX_DOCS = 100_000


#: Target rows per task for the distributed serving scan. ~1k rows of
#: dot-product work (≈0.4M fused multiply-adds at d=384) costs a few ms
#: per task — comfortably above the ~1 ms task-launch overhead, so the
#: scan stays parallel without paying 32 task launches to score 13k
#: rows. Large corpora never hit this path's repartition: the helper
#: caps at the core count and file-based partitioning takes over.
SERVING_SCAN_TARGET_ROWS = 1_000


def serving_scan_partitions(n_rows: int, cpus: int) -> int | None:
    """Partition count for a cached distributed-tier serving corpus,
    or ``None`` when the corpus should keep its source partitioning.

    Serving-latency partition sizing is COMPUTE-based, not byte-based:
    ``spark.sql.files.maxPartitionBytes`` would put a 13.5k×384 corpus
    (≈40 MB as float64) in a single partition, serializing the scan,
    while a blanket ``repartition(cpus)`` schedules 32 tasks of ~400
    rows whose launch overhead exceeds their compute (measured: 16
    partitions beats 32 by ~10 ms/query and 1 by ~300 ms at N=13,515,
    d=384 on local[32]). Aim for :data:`SERVING_SCAN_TARGET_ROWS` rows
    per task, clamped to [1, cpus].

    The sizing only applies in the SMALL-corpus regime (fewer than
    cpus × target rows, where task launch dominates compute): past it,
    returns ``None`` — collapsing a multi-GB corpus into ≤cpus cached
    partitions would build giant blocks for no latency gain, and the
    source (file-based) partitioning is already the right shape."""
    if n_rows > int(cpus) * SERVING_SCAN_TARGET_ROWS:
        return None
    return max(1, min(int(cpus), round(n_rows / SERVING_SCAN_TARGET_ROWS)))


#: Guards the session-global AQE flag across overlapping point queries
#: (the REST server is threaded): per SESSION, the first entrant saves
#: the outside value and the last exiter restores it. A naive per-entry
#: save/restore would interleave under concurrency and could restore
#: "false" permanently; a process-global counter would cross-corrupt
#: two SparkSessions sharing the process. State: {session: [depth,
#: saved_prev]}, entries removed at depth 0 so nothing leaks.
_POINT_QUERY_LOCK = threading.Lock()
_point_query_state: dict = {}


def fill_serving_cache(df: DataFrame, cpus: int):
    """The distributed serving tier's cache fill, in one place (REST
    door and probes share it so benchmarks cannot desynchronize from
    production): cache → materializing count (which doubles as the
    sizing count — no separate scan) → compute-sized re-cache in the
    small regime, where the re-read comes from the just-filled cache,
    not the store. Returns ``(cached_df, n_rows)``; the caller owns
    unpersisting."""
    cached = df.cache()
    n_rows = cached.count()
    parts = serving_scan_partitions(n_rows, cpus)
    if parts is not None and cached.rdd.getNumPartitions() != parts:
        resized = cached.repartition(parts).cache()
        resized.count()
        cached.unpersist()
        cached = resized
    return cached, n_rows


@contextmanager
def point_query_mode(spark):
    """Run shuffle-free point-serving queries with AQE disabled.

    A single-probe serving plan is scan → project(score) →
    TakeOrderedAndProject: no exchange, nothing for adaptive execution
    to re-plan. AQE still wraps it in an AdaptiveSparkPlan whose query-
    stage materialization adds a measured ~10–40 ms per query — pure
    overhead at serving latency (the reference's matched condition is
    0.11 s total). Analytics and ingest jobs keep AQE; only the serving
    door's point queries run inside this context.

    The flag is session-global: concurrent point queries on the SAME
    session share one save/restore via a per-session depth counter
    (threaded REST server), and an analytics job that PLANS while a
    point query executes skips AQE for that one run — a transient
    optimization loss, never a correctness issue. The value from
    OUTSIDE the outermost entry is always restored; a failure while
    entering (e.g. a stopped session) mutates no state, so the
    mechanism never wedges."""
    conf = spark.conf
    entered = False
    try:
        with _POINT_QUERY_LOCK:
            st = _point_query_state.get(spark)
            if st is None:
                # get/set may raise (stopped session) — nothing is
                # recorded until both succeed, so depth never skews
                prev = conf.get("spark.sql.adaptive.enabled", "true")
                conf.set("spark.sql.adaptive.enabled", "false")
                st = _point_query_state[spark] = [0, prev]
            st[0] += 1
            entered = True
        yield
    finally:
        if entered:
            with _POINT_QUERY_LOCK:
                st = _point_query_state[spark]
                st[0] -= 1
                if st[0] == 0:
                    del _point_query_state[spark]
                    conf.set(
                        "spark.sql.adaptive.enabled", st[1] or "true"
                    )


def _var_width_cols(schema, embedding_col: str) -> list[str]:
    """The string/binary payload columns the admission budget prices
    by their serialized bytes."""
    from pyspark.sql import types as T

    return [
        f.name
        for f in schema.fields
        if f.name != embedding_col
        and isinstance(f.dataType, (T.StringType, T.BinaryType))
    ]


def _size_probe(df: DataFrame, embedding_col: str):
    """(n_rows, first_dim, payload_bytes, stored_rows) for the MATRIX
    tier's admission (the bits tier keeps no payload resident — r15 —
    and probes with its own single aggregate, `BitsMatrixIndex._probe`).
    One combined count+bytes aggregate plus one first-row dim
    probe, BEFORE any collect (the transfer itself is the OOM a
    post-hoc check would arrive too late for). The first three figures
    cover the rows that carry an embedding; ``stored_rows`` counts
    every row of ``df`` in the same aggregate. ``first_dim`` is 0 when
    no row carries an embedding."""
    from pyspark.sql import functions as F

    has_emb = F.col(embedding_col).isNotNull()
    var_cols = _var_width_cols(df.schema, embedding_col)
    aggs = [F.count(F.lit(1)).alias("n_all"), F.count(embedding_col).alias("n")]
    for c in var_cols:
        aggs.append(
            F.sum(
                F.when(has_emb, F.coalesce(F.octet_length(F.col(c)), F.lit(0)))
            ).alias(f"_b_{c}")
        )
    sizes = df.agg(*aggs).first()
    n = sizes["n"]
    if n == 0:
        return 0, 0, 0, sizes["n_all"]
    first_dim = len(df.filter(has_emb).select(embedding_col).first()[0])
    payload_bytes = n * _FIXED_WIDTH_ROW_BYTES + sum(
        int(sizes[f"_b_{c}"] or 0) for c in var_cols
    )
    return n, first_dim, payload_bytes, sizes["n_all"]


def _as_query_matrix(query_vectors, dim: int) -> np.ndarray:
    """(Q, d) float64 matrix from a batch of query vectors, with every
    door's shared validation: ragged input raises the intended
    equal-length message (a bare ``np.asarray`` would surface numpy's
    inhomogeneous-shape text through the server's 400), non-finite
    values raise, and a width other than the corpus's ``dim`` raises
    the Q5 message (``dim=0`` is an empty corpus: no guard, every query
    answers with no rows)."""
    rows = [[float(x) for x in v] for v in query_vectors]
    if rows and len({len(r) for r in rows}) != 1:
        raise ValueError(
            "query embeddings must be equal-length numeric vectors"
        )
    Q = np.asarray(rows, dtype=np.float64)
    if Q.ndim != 2:
        raise ValueError(
            "query embeddings must be equal-length numeric vectors"
        )
    if not np.all(np.isfinite(Q)):
        raise ValueError(
            "query embedding contains non-finite values (NaN/Infinity)"
        )
    if dim and Q.shape[1] != dim:
        raise ValueError(
            f"query dimension {Q.shape[1]} != stored dimension {dim}"
        )
    return Q


#: Capacity factor of a :class:`_Rows` buffer when it must grow: the
#: new buffer holds this many times the rows it starts with. The
#: headroom of a numeric buffer is not written until rows land there,
#: so its pages cost no memory before then.
_GROWTH = 1.25


class _Rows:
    """An over-allocated array shared by the generations of one
    :class:`DriverMatrixIndex`: a generation of ``n`` rows reads
    ``buf[:n]``, and ``used`` is the most rows any generation has
    claimed. Rows at and past ``used`` belong to no generation, so an
    extension from the generation that holds all ``used`` rows may
    write there without a copy. Any other extension (a second one from
    an older generation, or one that does not fit) copies into a NEW
    buffer — never ``ndarray.resize``, since older generations hold
    views of this one."""

    __slots__ = ("buf", "used", "lock")

    def __init__(self, buf: np.ndarray, used: int | None = None):
        self.buf = buf
        self.used = len(buf) if used is None else used
        self.lock = threading.Lock()

    def append(self, n: int, rows: np.ndarray) -> "_Rows":
        """The rows of a generation holding ``buf[:n]`` followed by
        ``rows``; read them as ``result.buf[:n + len(rows)]``."""
        end = n + len(rows)
        with self.lock:
            claimed = self.used == n and end <= len(self.buf)
            if claimed:
                self.used = end
        if claimed:
            self.buf[n:end] = rows
            return self
        buf = np.empty(
            (math.ceil(end * _GROWTH),) + self.buf.shape[1:], self.buf.dtype
        )
        buf[:n] = self.buf[:n]
        buf[n:end] = rows
        return _Rows(buf, end)


def _object_array(items) -> np.ndarray:
    """``items`` (dicts or strings) as a 1-D object array, the form a
    :class:`_Rows` buffer of Python objects takes."""
    if isinstance(items, np.ndarray):
        return items
    out = np.empty(len(items), dtype=object)
    out[:] = items
    return out


_WS = re.compile(r"[ \t\n\x0b\f\r]+")
#: What ``str.split()`` splits ASCII text on besides ``_WS``.
_ASCII_SPLIT_ONLY = re.compile(r"[\x1c-\x1f]")


def _tokens(text) -> list:
    """functions/text.py's ASCII_WS split of lowercased ``text``,
    empty tokens dropped. ``str.split()`` gives the same tokens for
    ASCII text free of the separators \\x1c-\\x1f, at a fraction of the
    regex's cost."""
    text = (text or "").lower()
    if text.isascii() and not _ASCII_SPLIT_ONLY.search(text):
        return text.split()
    return [t for t in _WS.split(text) if t]


class _Vocab:
    """Term → id, append-only, shared by every generation of one BM25
    cache so that their posting segments index terms alike. An id
    handed out by one generation's extension is absent from the others'
    segments, which is what a lookup there finds."""

    def __init__(self):
        self.ids: dict = {}
        self.lock = threading.Lock()

    def ids_of(self, terms: list) -> np.ndarray:
        """The id of each of ``terms``; unseen ones get the next ids,
        in sorted order."""
        with self.lock:
            ids = self.ids
            new = sorted(set(terms).difference(ids))
            ids.update(zip(new, range(len(ids), len(ids) + len(new))))
            return np.fromiter(
                map(ids.__getitem__, terms), dtype=np.int64, count=len(terms)
            )


#: Documents tokenized at a time by `_lex_postings`.
_LEX_BLOCK_DOCS = 4096


def _lex_postings(texts: list, vocab: _Vocab, first_doc: int = 0):
    """BM25 postings of ``texts``, numbered from ``first_doc``, as one
    segment ``(doc-index int64, tf float64, indptr)``: term id ``t``
    (``vocab``'s) owns entries ``indptr[t]:indptr[t + 1]``, docs
    ascending; ids past ``len(indptr) - 1`` have none. Plus the per-doc
    token counts. Tokenization (`_tokens`) mirrors functions/text.py's
    ASCII_WS split exactly. The one tokenizer of both the fill-time
    build (`DriverMatrixIndex._lex_cache`) and the write-through
    extension (`DriverMatrixIndex.extended`). Term frequencies come
    from one ``np.unique`` over (term, doc) keys, which also sorts the
    entries by term, then doc. Texts are tokenized ``_LEX_BLOCK_DOCS``
    at a time, so a fill holds one block's token strings at once,
    beside 8 bytes per token of ids."""
    n = len(texts)
    dls, tids = [], []
    for lo in range(0, n, _LEX_BLOCK_DOCS):
        tokens = [_tokens(t) for t in texts[lo : lo + _LEX_BLOCK_DOCS]]
        dls.append(np.fromiter(map(len, tokens), dtype=np.float64))
        tids.append(vocab.ids_of(list(chain.from_iterable(tokens))))
    dl = np.concatenate(dls) if dls else np.zeros(0)
    tid = np.concatenate(tids) if tids else np.zeros(0, dtype=np.int64)
    doc = np.repeat(np.arange(n, dtype=np.int64), dl.astype(np.int64))
    width = max(n, 1)
    keys, tf = np.unique(tid * width + doc, return_counts=True)
    term = keys // width
    n_ids = int(term[-1]) + 1 if len(term) else 0
    indptr = np.zeros(n_ids + 1, dtype=np.int64)
    np.cumsum(np.bincount(term, minlength=n_ids), out=indptr[1:])
    return (keys % width + first_doc, tf.astype(np.float64), indptr), dl


def _merge_segments(old, new):
    """One segment holding ``old``'s entries, then ``new``'s, per term
    — ``new``'s docs all follow ``old``'s, so docs stay ascending. A
    scatter over both entry arrays, no sort."""
    lens = [np.diff(ptr) for _, _, ptr in (old, new)]
    n_ids = max(len(lens[0]), len(lens[1]))
    total = np.zeros(n_ids, dtype=np.int64)
    for ln in lens:
        total[: len(ln)] += ln
    indptr = np.zeros(n_ids + 1, dtype=np.int64)
    np.cumsum(total, out=indptr[1:])
    size = int(indptr[-1])
    docs = np.empty(size, dtype=np.int64)
    tf = np.empty(size, dtype=np.float64)
    start = indptr[:-1].copy()  # next free slot per term
    for (d, f, ptr), ln in zip((old, new), lens):
        k = len(ln)
        dest = np.arange(len(d)) + np.repeat(start[:k] - ptr[:-1], ln)
        docs[dest] = d
        tf[dest] = f
        start[:k] += ln
    return docs, tf, indptr


def _push_segment(segments: tuple, seg) -> tuple:
    """``segments`` (oldest first) plus ``seg``, merged log-structured:
    while the newest segment holds at least half the entries of the
    one before it, the two merge. Each segment then holds more than
    twice the entries of the next, so a term has O(log writes) chunks,
    and an entry is copied O(log writes) times over its life."""
    out = list(segments) + [seg]
    while len(out) > 1 and len(out[-2][0]) <= 2 * len(out[-1][0]):
        new = out.pop()
        out[-1] = _merge_segments(out[-1], new)
    return tuple(out)


class _Postings(Mapping):
    """A generation's BM25 postings: term → (doc-index int64 array, tf
    float64 array), docs ascending — the concatenation of the term's
    chunk in each of the generation's segments."""

    def __init__(self, vocab: _Vocab, segments: tuple):
        self._vocab = vocab
        self._segments = segments

    def __getitem__(self, term):
        t = self._vocab.ids.get(term)
        parts = []
        if t is not None:
            for docs, tf, ptr in self._segments:
                if t + 1 < len(ptr) and ptr[t] < ptr[t + 1]:
                    lo, hi = ptr[t], ptr[t + 1]
                    parts.append((docs[lo:hi], tf[lo:hi]))
        if not parts:
            raise KeyError(term)
        if len(parts) == 1:
            return parts[0]
        return (
            np.concatenate([p[0] for p in parts]),
            np.concatenate([p[1] for p in parts]),
        )

    def _present(self) -> np.ndarray:
        return np.unique(
            np.concatenate(
                [np.flatnonzero(np.diff(ptr)) for _, _, ptr in self._segments]
            )
        )

    def __iter__(self):
        present = set(self._present().tolist())
        with self._vocab.lock:
            items = list(self._vocab.ids.items())
        return iter([t for t, i in items if i in present])

    def __len__(self) -> int:
        return len(self._present())


def _infers_as_string(value) -> bool:
    """True when partition type inference must keep ``value`` a string
    on read: Spark tries int, long, decimal, double, timestamp and date
    first. None of them parses without a digit except Java's
    ``[+-]?(NaN|Infinity)`` (after trimming control characters), which
    Python's float() accepts too (case-insensitively, a superset)."""
    if not isinstance(value, str) or value == _HIVE_DEFAULT_PARTITION:
        return False
    if any(ch.isdigit() for ch in value):
        return False
    try:
        float(value.strip("".join(map(chr, range(33)))))
    except ValueError:
        return True
    return False


def _octets(value) -> int:
    """Serialized bytes of one payload value, as Spark's octet_length
    counts them for the admission estimate (NULL → 0)."""
    if isinstance(value, str):
        return len(value.encode("utf-8", "surrogatepass"))
    if isinstance(value, bytes):
        return len(value)
    return 0


def select_among(
    payload: list[dict],
    idx: "np.ndarray | None",
    scores: np.ndarray,
    top_k: int,
    score_threshold: float,
    id_cols: list[str] | None,
) -> list[dict]:
    """The ONE per-query selection rule every driver tier shares
    (matrix and bits tiers MUST not drift): top-k with the
    deterministic tie-break — ALL rows tied with the k-th score stay
    candidates, then ascending ``id_cols`` break ties (Q3) — and the
    score threshold applied AFTER the limit (Q4). ``scores[j]`` scores
    ``payload[idx[j]]`` (``idx=None`` → ``payload[j]``)."""
    k = min(int(top_k), len(scores))
    cand = topk_with_ties(scores, k)

    def _row(j: int) -> dict:
        return payload[int(idx[j]) if idx is not None else j]

    ids = id_cols or []
    ordered = sorted(
        cand.tolist(),
        key=lambda j: (-scores[j], *[_row(j)[c] for c in ids]),
    )[:k]
    out = []
    for j in ordered:
        if scores[j] < score_threshold:  # threshold AFTER limit (Q4)
            continue
        row = dict(_row(j))
        row["score"] = float(scores[j])
        out.append(row)
    return out


def _rank_cut(
    idx: np.ndarray, scores: np.ndarray, rid_order: np.ndarray, k: int
) -> np.ndarray:
    """The ``k`` best of rows ``idx`` by (score desc, rid asc), with
    ``scores`` aligned to ``idx`` and ``rid_order`` each row's rid
    rank. `topk_with_ties` cuts to the top ``k`` plus the rows tied
    with the k-th first, and only those survivors are sorted (lexsort:
    last key primary), so the ranks equal a sort of every row at
    O(n + k log k) instead of O(n log n)."""
    cut = topk_with_ties(scores, k)
    idx, scores = idx[cut], scores[cut]
    return idx[np.lexsort((rid_order[idx], -scores))][:k]


def _merge_rids(
    rows: _Rows, order: np.ndarray, perm: np.ndarray, n: int, new: list
):
    """A rid cache over ``n`` rows (rids ``rows.buf[:n]``, ``order``
    their ranks, ``perm`` the rows in rank order) grown by the rows
    whose rids are ``new``, as ``(rows, order, perm)``: each new rid
    finds its rank by binary search, the new rows are inserted into
    ``perm`` there, and the ranks are re-read off ``perm`` — integer
    arrays only. ``None`` when a new rid equals a stored one or
    another new one: copies of a rid rank by their payloads
    (`DriverMatrixIndex._rank_copies`), so that cache is rebuilt."""
    rids = rows.buf
    fresh = _object_array(new)
    by_rid = np.argsort(fresh, kind="stable")
    ranked = fresh[by_rid]
    if len(new) > 1 and (ranked[1:] == ranked[:-1]).any():
        return None
    pos = np.array(
        [bisect_left(perm, r, key=rids.__getitem__) for r in ranked],
        dtype=np.int64,
    )
    inside = pos < n
    if (rids[perm[pos[inside]]] == ranked[inside]).any():
        return None
    perm = np.insert(perm, pos, n + by_rid)
    order = np.empty(n + len(new), dtype=np.int64)
    order[perm] = np.arange(n + len(new))
    return rows.append(n, fresh), order, perm


class DriverMatrixIndex:
    """A query-many snapshot of a corpus DataFrame. Its rows never
    change in place: :meth:`extended` returns a NEW index for a
    write-through append, so readers holding this object keep a
    consistent snapshot.

    Build with :meth:`from_dataframe` (returns ``None`` when the corpus
    exceeds the cell budget OR the payload-bytes budget — callers then
    use the distributed tier).
    """

    def __init__(
        self,
        matrix: np.ndarray,
        norms: np.ndarray,
        payload: list[dict],
        dim: int,
        *,
        schema=None,
        embedding_col: str = "embedding",
        payload_bytes: int = 0,
        stored_rows: int | None = None,
    ):
        self.matrix = matrix  # (n, dim) float64
        self.norms = norms  # (n,) float64, 0.0 for zero vectors
        # row dicts WITHOUT the embedding column, as an object array
        self.payload = _object_array(payload)
        # the buffers `matrix`, `norms` and `payload` are views of,
        # shared with the generations `extended` derives from this one
        self._matrix_rows = _Rows(matrix)
        self._norm_rows = _Rows(norms)
        self._payload_rows = _Rows(self.payload)
        self.dim = dim
        # what `extended` needs to reproduce a refill: the source's
        # Spark schema (None: unknown, never extended), the admission
        # estimate of the resident payload, and the source's row count
        # including rows without an embedding
        self._schema = schema
        self._embedding_col = embedding_col
        self.payload_bytes = payload_bytes
        self.stored_rows = self.n if stored_rows is None else stored_rows
        # lazy BM25 cache: (content_col, vocab, segments, dl rows, dl sum)
        self._lex = None
        self._rids = None  # lazy rid cache: (id_cols, rid rows, order, perm)
        self._newest = None  # lazy display cache: (id_cols, rid -> idx)
        self._mrl_norms: dict[int, np.ndarray] = {}  # d' -> prefix norms
        self._bits = None  # lazy sign-bit cache: (n, ceil(dim/8)) uint8
        # guards the lazy caches above: the REST server is threaded,
        # and an unlocked check-then-rebuild lets a concurrent caller
        # with DIFFERENT id_cols publish its cache between another
        # caller's key check and read — the reader would consume the
        # wrong key's rids. Builders compute into locals and re-check
        # under the lock; readers return the local, never re-read the
        # attribute after publish.
        self._cache_lock = threading.Lock()

    @property
    def n(self) -> int:
        return self.matrix.shape[0]

    @classmethod
    def from_dataframe(
        cls,
        df: DataFrame,
        *,
        embedding_col: str = "embedding",
        max_cells: int = DEFAULT_MAX_CELLS,
        max_payload_bytes: int = DEFAULT_MAX_PAYLOAD_BYTES,
    ) -> "DriverMatrixIndex | None":
        """Materialize ``df`` if it fits BOTH budgets, else ``None``.

        Admission is two-termed: embedding cells (``n × dim``) AND
        payload bytes (everything else the tier keeps driver-side).
        The payload term is estimated with a Spark aggregate BEFORE any
        collect (`_size_probe`) — the
        Arrow transfer itself is the OOM, so a post-hoc ``tbl.nbytes``
        check would arrive too late. One combined count+bytes
        aggregate + one Arrow collect — both at cache-fill time, never
        on the query path. Rows whose embedding length disagrees with
        the first row's are a corrupt store; they raise here (the
        distributed path raises the same Q5-shaped error lazily).
        Rows without an embedding are not indexed; the same aggregate
        counts them into ``stored_rows``.
        """
        n, first_dim, payload_bytes, stored_rows = _size_probe(
            df, embedding_col
        )
        if n == 0:
            return cls(
                np.zeros((0, 0)), np.zeros(0), [], 0, stored_rows=stored_rows
            )
        if n * first_dim > max_cells:
            return None
        if payload_bytes > max_payload_bytes:
            return None
        schema = df.schema
        df = df.filter(df[embedding_col].isNotNull())
        try:
            # Arrow path: one batched transfer, vectors land as a flat
            # float buffer — ~10× faster fill than Row collection.
            tbl = df.toArrow()
            emb_arr = tbl.column(embedding_col).combine_chunks()
            lens = np.diff(emb_arr.offsets.to_numpy())
            if not np.all(lens == first_dim):
                raise ValueError(
                    f"stored embeddings have inconsistent dimensions "
                    f"({first_dim} vs {int(lens[lens != first_dim][0])})"
                )
            flat = emb_arr.flatten().to_numpy(zero_copy_only=False)
            vecs = np.ascontiguousarray(
                flat.reshape(n, first_dim), dtype=np.float64
            )
            payload = tbl.drop_columns([embedding_col]).to_pylist()
        except ValueError:
            raise
        except Exception:
            # Arrow unavailable for this schema — Row fallback.
            rows = df.collect()
            payload = []
            vecs = np.empty((n, first_dim), dtype=np.float64)
            for i, r in enumerate(rows):
                d = r.asDict(recursive=True)
                emb = d.pop(embedding_col)
                if len(emb) != first_dim:
                    raise ValueError(
                        f"stored embeddings have inconsistent dimensions "
                        f"({first_dim} vs {len(emb)})"
                    )
                vecs[i] = emb
                payload.append(d)
        norms = np.sqrt(np.einsum("ij,ij->i", vecs, vecs))
        return cls(
            vecs,
            norms,
            payload,
            first_dim,
            schema=schema,
            embedding_col=embedding_col,
            payload_bytes=payload_bytes,
            stored_rows=stored_rows,
        )

    def extended(
        self,
        rows: list[dict],
        vectors,
        *,
        schema,
        partition_cols: tuple[str, ...] = (),
        max_cells: int = DEFAULT_MAX_CELLS,
        max_payload_bytes: int = DEFAULT_MAX_PAYLOAD_BYTES,
    ) -> "DriverMatrixIndex | None":
        """A NEW index: this one plus ``rows`` (payload dicts keyed by
        ``schema``'s column names) with embeddings ``vectors``, just
        appended to the source under ``schema`` — row for row what
        :meth:`from_dataframe` over the grown source would read back.
        ``None`` when that cannot be guaranteed, or when the grown
        corpus would cross either admission budget; callers then
        refill. Copy-on-write: this index is left as it was, so
        in-flight readers keep their snapshot.

        The read-back rules it mirrors:

        - embeddings round through the stored element type (float32
          for ``ArrayType(FloatType)``); norms use the fill's einsum;
        - payload dicts take the fill's key order, which is ``schema``
          with the partition columns last (partition discovery appends
          them) — any other fill schema returns ``None``;
        - a partition value of ``""`` or ``None`` reads back as
          ``None`` (the hive default partition). Any other partition
          value must be a string that partition type inference cannot
          read as a number, date or timestamp (`_infers_as_string`):
          a typed value could retype the column on read.

        The cost is O(batch), not O(corpus), apart from a buffer's
        growth: the matrix, the norms, the payload rows, the rids and
        the BM25 ``dl`` live in :class:`_Rows` buffers, over-allocated
        and shared with this index, so the new rows are written past
        this index's last row when no other extension has claimed that
        space yet, and copied with the old rows into a grown buffer
        otherwise. A built BM25 cache gains one posting segment for
        the batch (`_push_segment`), and ``avgdl`` grows from a running
        token total. A built rid cache is carried over when no new rid
        equals a stored one (`_merge_rids`, whose rank arrays are the
        one O(n) integer pass); otherwise it, like the newest,
        MRL-norm and sign-bit caches, starts empty and rebuilds
        lazily."""
        emb_col = self._embedding_col
        if self.n == 0 or self._schema is None or not rows:
            return None
        part = tuple(partition_cols)
        fields = [f for f in schema.fields if f.name not in part] + [
            schema[c] for c in part
        ]
        if [(f.name, f.dataType.simpleString()) for f in fields] != [
            (f.name, f.dataType.simpleString()) for f in self._schema.fields
        ]:
            return None
        keys = [f.name for f in fields if f.name != emb_col]
        payload = []
        for r in rows:
            row = {c: r[c] for c in keys}
            for c in part:
                if row[c] == "":
                    row[c] = None
            payload.append(row)
        for c in part:
            if not all(
                v is None or _infers_as_string(v)
                for v in {row[c] for row in payload}
            ):
                return None
        if len(vectors) != len(rows) or any(
            len(v) != self.dim for v in vectors
        ):
            return None
        n = self.n + len(rows)
        if n * self.dim > max_cells:
            return None
        payload_bytes = self.payload_bytes + len(rows) * _FIXED_WIDTH_ROW_BYTES
        for c in _var_width_cols(self._schema, emb_col):
            payload_bytes += sum(_octets(row[c]) for row in payload)
        if payload_bytes > max_payload_bytes:
            return None
        stored = self._schema[emb_col].dataType.elementType.simpleString()
        vecs = np.asarray(
            vectors, dtype=np.float32 if stored == "float" else np.float64
        ).astype(np.float64)
        norms = np.sqrt(np.einsum("ij,ij->i", vecs, vecs))
        matrix_rows = self._matrix_rows.append(self.n, vecs)
        norm_rows = self._norm_rows.append(self.n, norms)
        payload_rows = self._payload_rows.append(
            self.n, _object_array(payload)
        )
        out = DriverMatrixIndex(
            matrix_rows.buf[:n],
            norm_rows.buf[:n],
            payload_rows.buf[:n],
            self.dim,
            schema=self._schema,
            embedding_col=emb_col,
            payload_bytes=payload_bytes,
            stored_rows=self.stored_rows + len(rows),
        )
        out._matrix_rows, out._norm_rows = matrix_rows, norm_rows
        out._payload_rows = payload_rows
        lex = self._lex
        if lex is not None:
            content_col, vocab, segments, dl_rows, dl_sum = lex
            seg, add_dl = _lex_postings(
                [row.get(content_col) for row in payload], vocab, self.n
            )
            out._lex = (
                content_col,
                vocab,
                _push_segment(segments, seg),
                dl_rows.append(self.n, add_dl),
                dl_sum + float(add_dl.sum()),
            )
        rid_cache = self._rids
        if rid_cache is not None:
            key, rid_rows, order, perm = rid_cache
            merged = _merge_rids(
                rid_rows,
                order,
                perm,
                self.n,
                ["#".join(str(row[c]) for c in key) for row in payload],
            )
            if merged is not None:
                out._rids = (key, *merged)
        return out

    def query(
        self,
        query_vector: list[float],
        top_k: int,
        *,
        score_threshold: float = 0.1,
        id_cols: list[str] | None = None,
        mrl_dim: int | None = None,
        mrl_shortlist: int | None = None,
        hamming_shortlist: int | None = None,
    ) -> list[dict]:
        """Top-k rows as dicts with a ``score`` key — the same contract
        (and the same reference semantics Q1/Q3/Q4/Q5) as
        ``knn_topk(...).collect()`` on this corpus. A batch of one
        through :meth:`query_batch`, so the two doors cannot drift.

        ``mrl_dim=d'`` turns the Matryoshka truncation dial
        (`IVFIndex.search`'s prefix-score-then-rerank, matrix edition):
        candidates are scored on the FIRST d' dimensions (one
        O(n·d') matvec against cached prefix norms), the top
        ``mrl_shortlist`` (default 4×top_k) survive, and only the
        survivors are re-scored at full dimension. ``hamming_shortlist
        =N`` is the sign-bit edition: vectors quantize to 1 bit/dim
        (packed uint64 words, cached), candidates rank by Hamming
        distance (xor + popcount — ~d/8 bytes touched per row instead
        of d float64s), and the N nearest rerank exactly. Latency
        note, measured (SCALING.md r13/r14): at matrix-tier N the
        Hamming prefilter is SLOWER than the straight BLAS matvec —
        the dial exists here for cross-tier semantic parity; the
        regime where it pays is the corpus the matrix tier cannot
        admit, served by :class:`BitsMatrixIndex`. Both
        prefilters keep ALL rows tied at the shortlist boundary
        (`topk_with_ties`), so results are deterministic and a
        d'=dim / N≥n setting reproduces the exact path by
        construction. Recall for both dials is a measured contract
        (`mrl_recall_curve` / `binary_quant_recall` grade them;
        `measure_mrl_curve` persists the resolvable curve). Mutually
        exclusive — stacked prefilters compound unmeasured loss."""
        return self.query_batch(
            [query_vector],
            top_k,
            score_threshold=score_threshold,
            id_cols=id_cols,
            mrl_dim=mrl_dim,
            mrl_shortlist=mrl_shortlist,
            hamming_shortlist=hamming_shortlist,
        )[0]

    def query_batch(
        self,
        query_vectors: list[list[float]],
        top_k: int,
        *,
        score_threshold: float = 0.1,
        id_cols: list[str] | None = None,
        mrl_dim: int | None = None,
        mrl_shortlist: int | None = None,
        hamming_shortlist: int | None = None,
    ) -> list[list[dict]]:
        """:meth:`query` for Q vectors: ONE GEMM scores all Q queries
        against the corpus (``matrix @ Q.T``), then each query runs the
        shared selection. Per-query cost amortizes the matrix traversal
        — BLAS reuses each corpus row across all Q columns while it is
        in cache, which a Q-times loop of matrix-vector products cannot.

        With a prefilter dial turned (``mrl_dim`` /
        ``hamming_shortlist``), the full-corpus GEMM is SKIPPED: each
        query runs the prefix/Hamming prefilter (O(n·d') or O(n·d/8)
        per query) and full-width arithmetic touches only its
        shortlist rows."""
        Q = _as_query_matrix(query_vectors, self.dim)
        if self.n == 0:
            return [[] for _ in range(Q.shape[0])]
        dialed = mrl_dim is not None or hamming_shortlist is not None
        if not dialed and mrl_shortlist is not None:
            raise ValueError("mrl_shortlist requires mrl_dim")
        full = None if dialed else cosine_scores(self.matrix, self.norms, Q)
        out = []
        for j in range(Q.shape[0]):
            if full is not None:
                cand, scores = None, np.ascontiguousarray(full[:, j])
            else:
                q = Q[j : j + 1]
                cand = self._prefilter_candidates(
                    q,
                    top_k=top_k,
                    mrl_dim=mrl_dim,
                    mrl_shortlist=mrl_shortlist,
                    hamming_shortlist=hamming_shortlist,
                )
                # exact rerank over the shortlist only — the full-width
                # matvec runs for |cand| rows, never the corpus
                scores = cosine_scores(
                    self.matrix[cand], self.norms[cand], q
                )[:, 0]
            out.append(
                select_among(
                    self.payload, cand, scores, top_k, score_threshold, id_cols
                )
            )
        return out

    def _prefilter_candidates(
        self,
        q: np.ndarray,
        *,
        top_k: int,
        mrl_dim: int | None,
        mrl_shortlist: int | None,
        hamming_shortlist: int | None,
    ) -> np.ndarray:
        """Candidate row indices for one (1, d) query from the requested
        prefilter dial — validation plus the boundary-tie shortlist."""
        if mrl_dim is not None and hamming_shortlist is not None:
            raise ValueError(
                "mrl_dim and hamming_shortlist are mutually exclusive — "
                "each is a separately measured prefilter; pick the dial "
                "whose curve you measured"
            )
        k = max(int(top_k), 1)
        if mrl_dim is not None:
            if int(mrl_dim) < 1:
                raise ValueError(f"mrl_dim must be >= 1, got {mrl_dim}")
            n_short = (
                int(mrl_shortlist) if mrl_shortlist is not None else 4 * k
            )
            if n_short < k:
                raise ValueError(
                    f"mrl_shortlist ({n_short}) must be >= top_k ({k})"
                )
            d = min(int(mrl_dim), self.dim)
            pre = cosine_scores(
                self.matrix[:, :d], self._prefix_norms(d), q[:, :d]
            )
            return topk_with_ties(pre[:, 0], n_short)
        n_short = int(hamming_shortlist)
        if n_short < k:
            raise ValueError(
                f"hamming_shortlist ({n_short}) must be >= top_k ({k})"
            )
        ham = _hamming_distances(self._sign_bits(), q[0])
        return topk_with_ties(-ham, n_short)

    def _prefix_norms(self, d: int) -> np.ndarray:
        """Cached ‖row[:d]‖ per corpus row (one O(n·d') pass per
        distinct d', then free). Same locked build-into-local pattern
        as the other lazy caches — the REST server is threaded."""
        got = self._mrl_norms.get(d)
        if got is not None:
            return got
        sub = self.matrix[:, :d]
        norms = np.sqrt(np.einsum("ij,ij->i", sub, sub))
        with self._cache_lock:
            return self._mrl_norms.setdefault(d, norms)

    def _sign_bits(self) -> np.ndarray:
        """Cached 1-bit/dim sign quantization, packed 64 dims per
        uint64 word — the binary_quant_recall query's documented
        production layout (Hamming = popcount(xor), SWAR; see
        `_popcount64` for why not a byte LUT)."""
        got = self._bits
        if got is not None:
            return got
        bits = _pack_bits64(self.matrix > 0)
        with self._cache_lock:
            if self._bits is None:
                self._bits = bits
            return self._bits

    def _lex_cache(self, content_col: str):
        """Inverted-index BM25 cache: a term → (doc-index array, tf
        array) mapping of postings, plus doc lengths and avgdl — built
        once per ``content_col``, on the first hybrid query (same
        lazy-fill contract as the matrix itself), and grown by
        :meth:`extended` instead of rebuilt. Postings replace the r11
        per-doc Counter list: a hybrid query then touches only ITS
        terms' postings (document frequency is len(idx), O(1)) instead
        of scanning every doc's Counter per term — the loop shape the
        /hybrid_batch door would otherwise pay Q times per POST.
        Guarded by the shared cache lock like the rid caches."""
        with self._cache_lock:
            if self._lex is None or self._lex[0] != content_col:
                vocab = _Vocab()
                seg, dl = _lex_postings(
                    [row.get(content_col) for row in self.payload], vocab
                )
                self._lex = (
                    content_col, vocab, (seg,), _Rows(dl), float(dl.sum())
                )
            _, vocab, segments, dl_rows, dl_sum = self._lex
        avgdl = dl_sum / self.n if self.n else 0.0
        return _Postings(vocab, segments), dl_rows.buf[: self.n], avgdl

    def _rid_cache(self, id_cols: list[str]):
        """'#'-joined rid per row plus its ascending-order rank array
        (for C-speed lexsort tie-breaks) — cached per id_cols tuple;
        the rid join used to be rebuilt O(n) per hybrid query. Copies
        of one rid (a blind re-push) rank by their other payload values
        (NULL first), so a score tie between them does not depend on
        where each copy sits in the matrix: a refill (file order) and a
        write-through extension (write order) break it alike. Copies
        equal in every payload value keep matrix order. The rids live
        in a :class:`_Rows` buffer and the cache also keeps the rows in
        rank order, so that `extended` can merge a batch in."""
        key = tuple(id_cols)
        with self._cache_lock:
            if self._rids is None or self._rids[0] != key:
                rids = _object_array(
                    [
                        "#".join(str(row[c]) for c in id_cols)
                        for row in self.payload
                    ]
                )
                perm = np.argsort(rids, kind="stable")
                ranked = rids[perm]
                if self.n > 1 and (ranked[1:] == ranked[:-1]).any():
                    self._rank_copies(perm, ranked, key)
                order = np.empty(self.n, dtype=np.int64)
                order[perm] = np.arange(self.n)
                self._rids = (key, _Rows(rids), order, perm)
            cached = self._rids
        return cached[1].buf[: self.n], cached[2]

    def _rank_copies(self, perm: np.ndarray, ranked: np.ndarray, id_cols):
        """Re-order, in place, each run of ``perm`` (rows sorted by
        rid, ``ranked`` their rids) that holds copies of one rid by the
        copies' other payload values, NULL first."""
        rest = [c for c in self.payload[0] if c not in id_cols]

        def payload_key(i: int) -> tuple:
            row = self.payload[i]
            return tuple((row[c] is not None, row[c]) for c in rest)

        lo = 0
        for hi in range(1, len(perm) + 1):
            if hi == len(perm) or ranked[hi] != ranked[lo]:
                if hi - lo > 1:
                    perm[lo:hi] = sorted(perm[lo:hi], key=payload_key)
                lo = hi

    def _newest_cache(
        self,
        id_cols: list[str],
        timestamp_col: str,
        content_col: str = "content",
    ):
        """rid → payload index of the NEWEST copy — the matrix-tier
        twin of the engine's bounded post-join dedupe window in
        `search_diverse_batch` (a plain store can hold repeated
        (path, chunk_index) rows after a blind re-ingest). The rule is
        the SAME on both tiers so cross-tier parity survives duplicate
        stores: max timestamp, then MIN content among equal stamps
        (the engine window orders ``timestamp desc, content asc`` — a
        bare timestamp would crown an arbitrary copy per run), then
        first-seen. Built once per id_cols, O(n)."""
        key = (tuple(id_cols), timestamp_col, content_col)
        rids, _ = self._rid_cache(id_cols)  # outside the lock: reentry
        with self._cache_lock:
            if self._newest is None or self._newest[0] != key:
                newest: dict = {}
                for i, row in enumerate(self.payload):
                    ts = row.get(timestamp_col)
                    ct = row.get(content_col)
                    prev = newest.get(rids[i])
                    if prev is None or self._fresher(
                        ts, ct, prev[0], prev[1]
                    ):
                        newest[rids[i]] = (ts, ct, i)
                self._newest = (
                    key,
                    {r: i for r, (_, _, i) in newest.items()},
                )
            cached = self._newest
        return cached[1]

    @staticmethod
    def _fresher(ts, ct, pts, pct) -> bool:
        """True when (ts, ct) beats the incumbent under the engine's
        display-dedupe ordering: timestamp DESC (None = oldest),
        content ASC (None = smallest, mirroring Spark's nulls-first on
        asc), first-seen keeps ties."""
        if ts is None and pts is not None:
            return False
        if pts is None and ts is not None:
            return True
        if ts is not None and pts is not None and ts != pts:
            return ts > pts
        # equal timestamps: min content wins; None sorts first
        if ct is None:
            return pct is not None
        if pct is None:
            return False
        return ct < pct

    def diverse_query(
        self,
        query_vector: list[float],
        top_k: int,
        *,
        fetch_k: int = 50,
        lambda_: float = 0.5,
        id_cols: list[str],
        score_threshold: float = 0.1,
        timestamp_col: str = "timestamp",
    ) -> list[dict]:
        """MMR-diversified search over the cached corpus — the same
        two-stage semantics as ``VectorEngine.search_diverse`` (top-
        ``fetch_k`` relevance candidates tie-broken rid-ascending,
        greedy MMR via the SHARED `operators.search.mmr_greedy`
        kernel, relevance threshold applied AFTER selection, newest
        copy per rid in the display), without a Spark job. Duplicate-
        rid candidate rows collapse to one candidate per rid keeping
        the BEST score — the same deterministic rule the engine door
        applies before its rerank. A batch of one through
        :meth:`diverse_query_batch`.

        The relevance scores come from the BLAS matvec, so they sit
        within the established ~1e-9 tier contract of the other
        matrix-tier doors; the MMR loop itself is the bit-identical
        shared kernel."""
        return self.diverse_query_batch(
            [query_vector],
            top_k,
            fetch_k=fetch_k,
            lambda_=lambda_,
            id_cols=id_cols,
            score_threshold=score_threshold,
            timestamp_col=timestamp_col,
        )[0]

    def diverse_query_batch(
        self,
        query_vectors: list[list[float]],
        top_k: int,
        *,
        fetch_k: int = 50,
        lambda_: float = 0.5,
        id_cols: list[str],
        score_threshold: float = 0.1,
        timestamp_col: str = "timestamp",
    ) -> list[list[dict]]:
        """:meth:`diverse_query` for Q vectors: ONE GEMM scores all Q
        queries (``matrix @ Q.T`` — the `query_batch` shape, where a
        Q-times loop of matvecs re-traverses the corpus per query),
        then each query's candidate cutoff + greedy MMR runs the
        shared per-query tail."""
        from converttovectordb_spark.operators.search import validate_top_k

        if not 0.0 <= lambda_ <= 1.0:
            raise ValueError(f"lambda_ must be in [0, 1], got {lambda_}")
        k = validate_top_k(top_k)
        # non-finite queries raise here: NaN scores would corrupt every
        # greedy comparison AND survive the threshold (NaN < t is
        # False), shipping RFC-invalid JSON
        Q = _as_query_matrix(query_vectors, self.dim)
        if self.n == 0:
            return [[] for _ in range(Q.shape[0])]
        scores = cosine_scores(self.matrix, self.norms, Q)
        return [
            self._diverse_from_scores(
                np.ascontiguousarray(scores[:, j]),
                k,
                fetch_k=fetch_k,
                lambda_=lambda_,
                id_cols=id_cols,
                score_threshold=score_threshold,
                timestamp_col=timestamp_col,
            )
            for j in range(Q.shape[0])
        ]

    def _diverse_from_scores(
        self,
        scores: np.ndarray,
        k: int,
        *,
        fetch_k: int,
        lambda_: float,
        id_cols: list[str],
        score_threshold: float,
        timestamp_col: str,
    ) -> list[dict]:
        """Shared per-query tail of the diverse doors (single and
        batched MUST not drift): fetch_k row-level cutoff by (score
        desc, rid asc), best-score-per-rid collapse, the shared
        `mmr_greedy` kernel, relevance threshold AFTER selection,
        newest-copy display rows."""
        from converttovectordb_spark.operators.search import mmr_greedy

        rids, rid_order = self._rid_cache(id_cols)
        # candidate stage: first fetch_k ROWS by (score desc, rid asc)
        # — row-level like the engine's orderBy+limit, so a duplicated
        # rid consumes candidate slots identically on both tiers —
        # then collapse to distinct rids for the kernel (first in this
        # ordering = best score per rid, the engine's collapse rule)
        limit = min(max(int(fetch_k), k), self.n)
        order = np.lexsort((rid_order, -scores))[:limit]
        cand: dict = {}
        for i in order:
            rid = rids[int(i)]
            if rid not in cand:
                cand[rid] = (
                    float(scores[i]),
                    [float(x) for x in self.matrix[int(i)]],
                )
        newest = self._newest_cache(id_cols, timestamp_col)
        out = []
        for rid, rel, mmr, rank in mmr_greedy(cand, k, float(lambda_)):
            if rel < score_threshold:  # threshold AFTER selection
                continue
            row = dict(self.payload[newest[rid]])
            row["score"] = rel
            row["mmr"] = mmr
            row["mmr_rank"] = rank
            out.append(row)
        return out

    def hybrid_query(
        self,
        query_vector: list[float],
        terms: list[str],
        top_k: int,
        *,
        candidates: int = 50,
        k_rrf: int = 60,
        id_cols: list[str],
        content_col: str = "content",
        k1: float = 1.2,
        b: float = 0.75,
    ) -> list[dict]:
        """Reciprocal-rank fusion of the cosine arm and a BM25 arm over
        the cached corpus — the same semantics (ranking, tie-breaks,
        RRF constant, join-back columns) as ``VectorEngine.
        search_hybrid``, without a Spark job. Both arms reduce to
        ``candidates`` ranks before fusing; ids fuse on the same
        '#'-joined rid the engine builds."""
        if self.n == 0:
            return []
        rids, rid_order = self._rid_cache(id_cols)
        keep = max(int(candidates), 1)
        # semantic arm: rank by (score desc, rid asc), top `candidates`
        Q = _as_query_matrix([query_vector], self.dim)
        scores = cosine_scores(self.matrix, self.norms, Q)[:, 0]
        sem_order = _rank_cut(np.arange(self.n), scores, rid_order, keep)
        sem_rank = {int(i): r + 1 for r, i in enumerate(sem_order)}
        # lexical arm: BM25 accumulated over the QUERY terms' postings
        # only (inverted index — df is len(postings), never a corpus
        # scan per term)
        postings, dl, avgdl = self._lex_cache(content_col)
        n_docs = self.n
        qterms = sorted({t.lower() for t in terms})
        bm25 = np.zeros(self.n, dtype=np.float64)
        touched = np.zeros(self.n, dtype=bool)
        for t in qterms:
            pl = postings.get(t)
            if pl is None:
                continue
            idx, tf = pl
            idf = math.log((n_docs - len(idx) + 0.5) / (len(idx) + 0.5) + 1.0)
            denom = tf + k1 * (1 - b + b * dl[idx] / avgdl)
            bm25[idx] += idf * (tf * (k1 + 1)) / denom
            touched[idx] = True
        nz = np.flatnonzero(touched)
        lex_order = _rank_cut(nz, bm25[nz], rid_order, keep)
        lex_rank = {int(i): r + 1 for r, i in enumerate(lex_order)}
        # fuse: rrf over the union, top_k by (rrf desc, rid asc)
        fused = {}
        for i, r in sem_rank.items():
            fused[i] = fused.get(i, 0.0) + 1.0 / (k_rrf + r)
        for i, r in lex_rank.items():
            fused[i] = fused.get(i, 0.0) + 1.0 / (k_rrf + r)
        picked = sorted(fused, key=lambda i: (-fused[i], rids[i]))[
            : max(int(top_k), 1)
        ]
        out = []
        for i in picked:
            row = dict(self.payload[i])
            row["sem_rank"] = sem_rank.get(i)
            row["lex_rank"] = lex_rank.get(i)
            row["rrf"] = float(fused[i])
            out.append(row)
        return out


#: Sidecar column carrying each corpus row's fill-time position — the
#: join key between the driver-resident packed bits + row ids and the
#: on-disk full-precision embeddings + display payloads the rerank
#: fetches.
BITS_ROW_COL = "_bits_row"

#: Row-block size for the bits tier's Hamming scan. The SWAR popcount
#: allocates ~3 full-size temporaries of its input; an unblocked scan
#: over a ceiling-admitted corpus (packed words = the WHOLE driver
#: byte budget) would transiently triple it — the admission gate would
#: be a lie on the first dialed query. 1M rows × 6 words (d=384) is a
#: 48 MB working set per temporary, amortizing numpy dispatch while
#: bounding the transient regardless of corpus size.
BITS_SCAN_BLOCK_ROWS = 1_048_576

#: Upper bound on rows a single bits-tier rerank fetch may collect.
#: The tier's whole premise is that full-precision vectors do NOT fit
#: driver memory — a shortlist approaching the corpus size would turn
#: the "bounded fetch" into exactly the Arrow-collect OOM the tier
#: exists to avoid (and build a corpus-sized IN plan on the way).
#: 100k rows at d=384 float64 is ~300 MB transient — safely under the
#: budgets — while every sane shortlist (a few × top_k) sits orders of
#: magnitude below it.
BITS_FETCH_MAX_ROWS = 100_000


class BitsTierInvalidated(RuntimeError):
    """The bits tier was closed (cache invalidation) while a request
    was arriving — the request raced a write; retrying resolves
    against the refilled cache. Servers map this to a retryable
    status, never a client error."""


class BitsFillRace(RuntimeError):
    """The corpus changed between the bits-tier fill's admission probe
    and its collect (row count / word-buffer shape no longer match the
    probe). Transient by construction — the store moved under the fill
    — so servers route this to the same retry/503 path as a
    token-moved invalidation, NEVER to a negative-cached client error
    (ADVICE r14: only genuine corpus corruption, the inconsistent-
    dimension ValueError, deserves the 400 + negative cache)."""


def bits_resident_cells(n_rows: int, dim: int) -> int:
    """Driver-resident footprint of a bits-tier corpus, priced in BIT
    cells against ``max_cells × BITS_ADMISSION_MULTIPLE`` (the same
    byte budget as ``max_cells`` float64 cells). Per row: the packed
    sign words (word-padded — padding is real memory), the int64
    sidecar row id, and the per-query int64 Hamming-distance scratch
    array, each 64-bit item priced as 64 bit-cells. Nothing else is
    resident — display payloads ride the SAME bounded sidecar fetch
    that reranks the shortlist (r14 verdict #1: the r14 design kept
    `to_pylist()` payload dicts driver-side, and their ~256-400 B/row
    gated admission ~5× below what the bit layout could hold)."""
    n_words = (int(dim) + 63) // 64
    return int(n_rows) * (n_words + 2) * 64


#: Artifact-layout names for the persisted bits tier (r14 verdict #1):
#: ``<root>/CURRENT`` names the live version dir (atomic pointer swap,
#: the `TransactionalIVFIndex.publish_current` recipe);
#: ``<root>/v-<hex>/`` holds {sidecar parquet, packed words, row ids,
#: meta}. The packed words and row ids are deterministic functions of
#: the store, so they persist under the same store-token staleness +
#: fsck lifecycle as the IVF/lex artifacts — a server restart loads
#: them (zero corpus jobs) instead of re-paying the measured 54-100 s
#: fill at 0.6-2.4M rows.
BITS_CURRENT_FILE = "CURRENT"
BITS_META_FILE = "_meta.json"
BITS_SIDECAR_DIR = "sidecar"
BITS_WORDS_FILE = "words.npy"
BITS_ROWIDS_FILE = "row_ids.npy"
BITS_FORMAT = 1

#: Per-PROCESS refcount of live index objects per artifact version dir,
#: plus the set of dirs some owner has doomed (asked removed). Two
#: in-process objects can share one dir — e.g. a deferred-close index
#: still draining readers while `_bits_handle` re-loads the same
#: CURRENT and finds it stale — and an unguarded `close()` on either
#: would rmtree the files under the other's in-flight sidecar fetch.
#: Rule: every owner retires exactly once (unref; doom if it wanted
#: removal); the LAST retiree performs the rmtree iff the dir is
#: doomed. `build_current`'s orphan sweep also skips dirs with live
#: refs. Cross-PROCESS coordination is out of scope — the artifact
#: follows the same single-writer/maintainer convention as the
#: IVF/lex/sigstore artifacts (see `build_current`).
_BITS_DIR_REFS: dict[str, int] = {}
_BITS_DIR_DOOMED: set[str] = set()
_BITS_DIR_LOCK = threading.Lock()


def _bits_dir_ref(path: str) -> None:
    with _BITS_DIR_LOCK:
        _BITS_DIR_REFS[path] = _BITS_DIR_REFS.get(path, 0) + 1


def _bits_dir_unref(path: str, doom: bool) -> bool:
    """Drop one owner; returns True when the caller (the last owner
    out) must remove the doomed dir."""
    with _BITS_DIR_LOCK:
        if doom:
            _BITS_DIR_DOOMED.add(path)
        left = _BITS_DIR_REFS.get(path, 1) - 1
        if left > 0:
            _BITS_DIR_REFS[path] = left
            return False
        _BITS_DIR_REFS.pop(path, None)
        if path in _BITS_DIR_DOOMED:
            _BITS_DIR_DOOMED.discard(path)
            return True
        return False


def _bits_dirs_live() -> set:
    with _BITS_DIR_LOCK:
        return set(_BITS_DIR_REFS)


class BitsMatrixIndex:
    """Bits-resident serving tier: packed sign bits + sidecar row ids
    in driver memory; full-precision embeddings AND display payloads
    in an on-disk parquet sidecar.

    The r13 measurement (SCALING.md "The consumed dials") showed the
    sign-bit layout's value is BYTES, not FLOPs: integer multi-pass
    Hamming loses to one BLAS GEMV at every N the float matrix tier
    admits, but the packed layout is 64× smaller — the SAME driver
    byte budget admits 64× the rows (:data:`BITS_ADMISSION_MULTIPLE`).
    This tier serves exactly that regime: a corpus past the float
    matrix's admission budget answers ``hamming_shortlist`` queries
    from a memory-speed popcount scan (n × d/8 bytes touched), then
    reranks ONLY the shortlist at full precision via a bounded sidecar
    fetch (a row-id ``IN`` filter over parquet whose monotone row ids
    give row-group pruning — the job reads ~shortlist rows, never the
    corpus). That ONE fetch also returns the display columns, so the
    resident set is packed words + row ids alone
    (:func:`bits_resident_cells` — ~56 B/row at d=384; the r14 design
    kept per-row payload dicts resident and its own 256 B/row pricing
    gated admission ~5× below the bit layout's capacity, r14 verdict
    #1). Admission is therefore genuinely bits-bound.

    Semantics are pinned to
    ``DriverMatrixIndex.query(hamming_shortlist=...)`` — same packed
    layout (`_pack_bits64`), same SWAR popcount, same keep-boundary-
    ties shortlist rule, same exact-cosine rerank (Q1 zero-norm → 0.0)
    and the SHARED :func:`select_among` (Q3 tie-break, Q4 threshold
    after limit) — so the graded ``hamming_prefilter_knn`` composition
    describes both tiers. The reference analog is the memory ceiling
    its in-RAM store hits (mock_vector_db_api.py:29-30): it has no
    answer past that ceiling; this tier is ours.

    Two lifecycles share one implementation:

    * :meth:`from_dataframe` — EPHEMERAL (tests/probes): a uuid
      version dir under the caller's temp root, removed by
      :meth:`close` / GC.
    * :meth:`build_current` / :meth:`load_current` — PERSISTED (the
      serving door): versioned dirs under a stable root with an
      atomic ``CURRENT`` pointer and a store-token-stamped meta, so a
      restart against an unchanged store loads the packed words +
      row ids from disk with ZERO corpus jobs (the fill is 54-100 s
      at 0.6-2.4M rows — ~5 min at the documented ~7M-docs/replica
      envelope). Staleness/heal/fsck follow the IVF/lex artifact
      rules (`fsck._fsck_bits`).
    """

    def __init__(
        self,
        words: np.ndarray,
        row_ids: np.ndarray,
        dim: int,
        *,
        spark=None,
        artifact_path: str | None = None,
        embedding_col: str = "embedding",
        store_token: str | None = None,
        ephemeral: bool = True,
    ):
        self.words = words  # (n, ceil(dim/64)) uint64 sign bits
        self.row_ids = row_ids  # (n,) int64 sidecar row ids
        self.dim = dim
        self._spark = spark
        self.artifact_path = artifact_path  # version dir (sidecar+npy+meta)
        self.store_token = store_token  # token digest the fill saw
        self._ephemeral = ephemeral
        self._embedding_col = embedding_col
        self._side = None  # lazy sidecar DataFrame handle
        self._removed = False
        self._lock = threading.Lock()
        # close() is DEFERRED while queries are in flight: invalidation
        # must not rmtree the sidecar out from under a live fetch (the
        # reader would 500 on a request that was valid when it
        # started). Queries refcount _active; close() marks pending
        # and the last finisher removes the artifact.
        self._active = 0
        self._close_pending = False
        self._keep_artifact = False  # release() vs close() intent
        self._retired = False  # this owner's single unref happened
        if artifact_path is not None:
            _bits_dir_ref(artifact_path)
        if artifact_path is not None and ephemeral:
            import shutil
            import weakref

            # GC / interpreter-exit backstop for the EPHEMERAL
            # lifecycle only: a probe that never closes its tier must
            # not leak a full-precision corpus copy in the temp dir.
            # Persisted artifacts are the opposite contract — they
            # must SURVIVE process exit so the next server loads them.
            self._finalizer = weakref.finalize(
                self, shutil.rmtree, artifact_path, True
            )

    @property
    def n(self) -> int:
        return self.words.shape[0]

    @property
    def sidecar_path(self) -> str | None:
        if self.artifact_path is None or self._removed:
            return None
        return os.path.join(self.artifact_path, BITS_SIDECAR_DIR)

    # -- build / load ---------------------------------------------------

    @staticmethod
    def _probe(df: DataFrame, embedding_col: str) -> tuple[int, int]:
        """(n_rows, dim) in ONE aggregate that doubles as the
        dim-consistency check — a corrupt store must raise BEFORE the
        sidecar write pays (then discards) a full corpus pass,
        especially since a failed fill is retried by callers."""
        from pyspark.sql import functions as F

        agg = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.min(F.size(F.col(embedding_col))).alias("lo"),
            F.max(F.size(F.col(embedding_col))).alias("hi"),
        ).first()
        n = int(agg["n"])
        if n == 0:
            return 0, 0
        lo, hi = int(agg["lo"]), int(agg["hi"])
        if lo != hi:
            raise ValueError(
                f"stored embeddings have inconsistent dimensions "
                f"({hi} vs {lo})"
            )
        return n, hi

    @classmethod
    def _build_at(
        cls,
        df: DataFrame,
        version_dir: str,
        *,
        store_token: str | None,
        embedding_col: str,
        max_cells: int,
        ephemeral: bool,
    ) -> "BitsMatrixIndex | None":
        import json
        import shutil

        from pyspark.sql import functions as F

        n, dim = cls._probe(df, embedding_col)
        if n == 0:
            return cls(
                np.zeros((0, 0), dtype=np.uint64),
                np.zeros(0, dtype=np.int64),
                0,
                embedding_col=embedding_col,
                store_token=store_token,
                ephemeral=ephemeral,
            )
        if bits_resident_cells(n, dim) > max_cells * BITS_ADMISSION_MULTIPLE:
            return None
        spark = df.sparkSession
        os.makedirs(version_dir, exist_ok=True)
        try:
            sidecar = os.path.join(version_dir, BITS_SIDECAR_DIR)
            # the write IS the lineage cut: monotonically_increasing_id
            # is only stable within one job, so the ids are assigned
            # once, persisted, and every later read (fill collect +
            # every rerank fetch) sees the same mapping.
            # default (128 MiB) row groups, measured: shrinking them to
            # 4 MiB to cut per-candidate decode ballooned the fetch 4×
            # (450 row groups' footers/stats beat the decode saving) —
            # the bounded fetch is footer-bound, not decode-bound
            df.withColumn(
                BITS_ROW_COL, F.monotonically_increasing_id()
            ).write.parquet(sidecar, mode="overwrite")
            side = spark.read.parquet(sidecar)

            from pyspark.sql.functions import pandas_udf

            @pandas_udf("array<long>")
            def _pack(col):
                import pandas as pd

                if len(col) == 0:
                    return pd.Series([], dtype=object)
                arr = np.vstack(
                    [np.asarray(v, dtype=np.float64) for v in col]
                )
                words = _pack_bits64(arr > 0).view(np.int64)
                return pd.Series(list(words))

            # the transfer ships n × (8 + d/8) bytes — row ids plus
            # packed words, never payload strings or n×d×8 floats
            tbl = side.select(
                BITS_ROW_COL,
                _pack(F.col(embedding_col)).alias("_words"),
            ).toArrow()
            n_words = (dim + 63) // 64
            try:
                row_ids = (
                    tbl.column(BITS_ROW_COL).to_numpy().astype(np.int64)
                )
                wcol = tbl.column("_words").combine_chunks()
                flat = wcol.flatten().to_numpy(zero_copy_only=False)
                if len(row_ids) != n or flat.shape[0] != n * n_words:
                    raise BitsFillRace(
                        f"bits-tier fill collected {len(row_ids)} rows "
                        f"where the admission probe counted {n} — the "
                        "store changed during the fill; retry"
                    )
                words = (
                    np.ascontiguousarray(flat.reshape(n, n_words))
                    .astype(np.int64)
                    .view(np.uint64)
                )
            except BitsFillRace:
                raise
            except ValueError as e:
                # numpy shape errors here mean the collect no longer
                # matches the probe — a racing write, not corruption
                raise BitsFillRace(
                    f"store changed during the bits-tier fill ({e}); "
                    "retry"
                ) from e
            order = np.argsort(row_ids, kind="stable")
            words = np.ascontiguousarray(words[order])
            row_ids = np.ascontiguousarray(row_ids[order])
            np.save(os.path.join(version_dir, BITS_WORDS_FILE), words)
            np.save(os.path.join(version_dir, BITS_ROWIDS_FILE), row_ids)
            with open(
                os.path.join(version_dir, BITS_META_FILE), "w"
            ) as fh:
                json.dump(
                    {
                        "format": BITS_FORMAT,
                        "n": n,
                        "dim": dim,
                        "n_words": n_words,
                        "embedding_col": embedding_col,
                        "built_from": store_token,
                    },
                    fh,
                )
            return cls(
                words,
                row_ids,
                dim,
                spark=spark,
                artifact_path=version_dir,
                embedding_col=embedding_col,
                store_token=store_token,
                ephemeral=ephemeral,
            )
        except Exception:
            shutil.rmtree(version_dir, ignore_errors=True)
            raise

    @classmethod
    def from_dataframe(
        cls,
        df: DataFrame,
        sidecar_dir: str,
        *,
        embedding_col: str = "embedding",
        max_cells: int = DEFAULT_MAX_CELLS,
    ) -> "BitsMatrixIndex | None":
        """EPHEMERAL build (tests/probes): materialize the bits tier
        under a uuid dir in ``sidecar_dir`` if the corpus fits the
        bits budget, else ``None``. Removed by :meth:`close` / GC."""
        version_dir = os.path.join(
            sidecar_dir, f"bits-{uuid.uuid4().hex}"
        )
        return cls._build_at(
            df,
            version_dir,
            store_token=None,
            embedding_col=embedding_col,
            max_cells=max_cells,
            ephemeral=True,
        )

    @staticmethod
    def _read_current(root: str) -> str | None:
        try:
            with open(os.path.join(root, BITS_CURRENT_FILE)) as fh:
                name = fh.read().strip()
            return name or None
        except OSError:
            return None

    @classmethod
    def build_current(
        cls,
        df: DataFrame,
        root: str,
        *,
        store_token: str | None,
        embedding_col: str = "embedding",
        max_cells: int = DEFAULT_MAX_CELLS,
    ) -> "BitsMatrixIndex | None":
        """PERSISTED build: sweep crash orphans, build a fresh version
        dir, atomically repoint ``CURRENT``. Returns ``None`` past the
        bits budget (the root is left as-is — fsck reports any stale
        survivor). The previous CURRENT version is NOT swept here: its
        owner removes it via the deferred :meth:`close`, or the next
        build / ``fsck --heal`` sweeps it once unreferenced. The sweep
        also skips any version dir a live in-process index still owns
        (`_BITS_DIR_REFS`) — a deferred-close index draining readers
        must not lose its files to a concurrent refill. Cross-PROCESS:
        same single-writer/maintainer convention as the other persisted
        artifacts — do not run two builders (or a builder beside
        another process's serving fill) against one store root."""
        import shutil

        os.makedirs(root, exist_ok=True)
        cur = cls._read_current(root)
        live = _bits_dirs_live()
        for name in os.listdir(root):
            full = os.path.join(root, name)
            if name.startswith("v-") and name != cur and full not in live:
                shutil.rmtree(full, ignore_errors=True)
            elif name.startswith(".current."):
                try:
                    os.remove(os.path.join(root, name))
                except OSError:
                    pass
        version = f"v-{uuid.uuid4().hex}"
        idx = cls._build_at(
            df,
            os.path.join(root, version),
            store_token=store_token,
            embedding_col=embedding_col,
            max_cells=max_cells,
            ephemeral=False,
        )
        if idx is None or idx.n == 0:
            # over budget, or empty corpus (nothing worth persisting —
            # the empty index needs no files and re-probing is one
            # cheap aggregate)
            return idx
        tmp = os.path.join(root, f".current.{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            fh.write(version)
        os.replace(tmp, os.path.join(root, BITS_CURRENT_FILE))
        return idx

    @classmethod
    def load_current(
        cls,
        spark,
        root: str,
        *,
        embedding_col: str = "embedding",
        max_cells: int | None = None,
    ) -> "BitsMatrixIndex | None":
        """Open the persisted bits artifact with ZERO Spark jobs: read
        ``CURRENT`` → meta → mmap the packed words + row ids. Returns
        ``None`` when absent, dangling, or unreadable — the artifact
        is a derivable cache, so every load failure resolves to
        'rebuild' (fsck reports the corruption separately); staleness
        is the CALLER's check (compare :attr:`store_token` against the
        live store's digest). ``max_cells`` re-applies the CALLER's
        admission budget from the meta alone, BEFORE any array touch:
        a prebuilt artifact (e.g. `build-bits` under the default
        budget) must not bypass a smaller serving process's driver
        gate — the row-id array and per-query distance scratch load
        eagerly, so admitting by 'it exists on disk' would reintroduce
        the OOM the budget exists to prevent."""
        import json

        cur = cls._read_current(root)
        if cur is None:
            return None
        vdir = os.path.join(root, cur)
        try:
            with open(os.path.join(vdir, BITS_META_FILE)) as fh:
                meta = json.load(fh)
            if meta.get("format") != BITS_FORMAT:
                return None
            if max_cells is not None and bits_resident_cells(
                int(meta["n"]), int(meta["dim"])
            ) > int(max_cells) * BITS_ADMISSION_MULTIPLE:
                return None
            # mmap: instant open, lazy page-in — the restart-cheap
            # contract. The blocked Hamming scan reads it like any
            # ndarray; removal under live readers is safe on POSIX
            # (the inode outlives the unlink).
            words = np.load(
                os.path.join(vdir, BITS_WORDS_FILE), mmap_mode="r"
            )
            row_ids = np.load(os.path.join(vdir, BITS_ROWIDS_FILE))
            n, dim, n_words = (
                int(meta["n"]),
                int(meta["dim"]),
                int(meta["n_words"]),
            )
            if (
                words.shape != (n, n_words)
                or words.dtype != np.uint64
                or row_ids.shape != (n,)
                or meta.get("embedding_col") != embedding_col
                or not os.path.isdir(
                    os.path.join(vdir, BITS_SIDECAR_DIR)
                )
            ):
                return None
        except Exception:
            return None
        return cls(
            words,
            row_ids,
            dim,
            spark=spark,
            artifact_path=vdir,
            embedding_col=embedding_col,
            store_token=meta.get("built_from"),
            ephemeral=False,
        )

    # -- lifecycle ------------------------------------------------------

    def close(self) -> None:
        """Remove the artifact (sidecar + packed words; the driver
        arrays die with the object). Idempotent. Deferred twice over:
        while THIS object's queries are in flight (the mark blocks NEW
        entries — retryable `BitsTierInvalidated` — and the last
        in-flight query retires), and while ANY other in-process index
        object still owns the same version dir (the per-process dir
        refcount: the LAST owner out performs the rmtree, so a live
        fetch never has its files deleted underneath it — not even a
        fetch running on a different object over the same dir). For a
        PERSISTED index this is the staleness path (the store moved;
        the artifact is dead weight) — shutdown with a fresh store
        uses :meth:`release` instead, which keeps the files."""
        with self._lock:
            self._close_pending = True
            self._keep_artifact = False
            if self._active == 0:
                self._retire_locked()

    def release(self) -> None:
        """Detach without removing: block new queries (retryable
        `BitsTierInvalidated`), keep every on-disk file — even if a
        query is in flight RIGHT NOW (the retire path honors the keep
        intent; before r15's review pass an in-flight query at
        release time would run the close-style removal and delete the
        artifact the release promised to keep). The shutdown path for
        PERSISTED indexes — the artifact's whole point is that the
        next server start loads it instead of re-paying the fill."""
        with self._lock:
            self._close_pending = True
            self._keep_artifact = True
            if self._active == 0:
                self._retire_locked()

    def _retire_locked(self) -> None:
        """This owner's single exit from the dir refcount (idempotent);
        the last owner out removes the dir iff any owner doomed it."""
        import shutil

        if self._retired:
            return
        self._retired = True
        fin = getattr(self, "_finalizer", None)
        if fin is not None:
            fin.detach()
        if self.artifact_path is None:
            return
        self._side = None
        if _bits_dir_unref(
            self.artifact_path, doom=not self._keep_artifact
        ):
            shutil.rmtree(self.artifact_path, ignore_errors=True)
            self._removed = True

    def _enter_serving(self) -> None:
        with self._lock:
            if self._close_pending:
                raise BitsTierInvalidated(
                    "bits tier cache was invalidated by a concurrent "
                    "write; retry the request"
                )
            self._active += 1

    def _exit_serving(self) -> None:
        with self._lock:
            self._active -= 1
            if self._close_pending and self._active == 0:
                self._retire_locked()

    def _sidecar(self):
        if self._side is None:
            path = self.sidecar_path
            if self._spark is None or path is None:
                raise RuntimeError(
                    "bits tier has no sidecar (closed or empty-built); "
                    "rebuild with from_dataframe/build_current"
                )
            with self._lock:
                if self._side is None:
                    self._side = self._spark.read.parquet(path)
        return self._side

    # -- serving --------------------------------------------------------

    def _shortlist(
        self, q: np.ndarray, top_k: int, hamming_shortlist: int | None
    ) -> np.ndarray:
        """Candidate row indices by Hamming distance on the packed sign
        bits — the matrix tier's `_prefilter_candidates` hamming branch
        verbatim (keep ALL rows tied at the boundary), with the same
        validation messages. ``hamming_shortlist=None`` defaults to
        4×top_k (the prefilter IS this tier's serving plan, not an
        opt-in)."""
        k = max(int(top_k), 1)
        n_short = (
            int(hamming_shortlist)
            if hamming_shortlist is not None
            else 4 * k
        )
        if n_short < k:
            raise ValueError(
                f"hamming_shortlist ({n_short}) must be >= top_k ({k})"
            )
        if n_short >= self.n:
            return np.arange(self.n)
        # the distance array is n × 8 bytes, priced in
        # bits_resident_cells
        cand = topk_with_ties(-_hamming_distances(self.words, q), n_short)
        if len(cand) > BITS_FETCH_MAX_ROWS:
            raise ValueError(
                f"hamming_shortlist={n_short} keeps {len(cand)} "
                f"candidate rows after the boundary-tie rule — a "
                f"degenerate sign-pattern cluster (e.g. many zero or "
                f"constant-sign embeddings) is tied at the k-th "
                f"Hamming distance, past the bits tier's bounded-"
                f"fetch budget ({BITS_FETCH_MAX_ROWS}); this corpus "
                "slice needs the distributed exact door"
            )
        return cand

    def _fetch_rows(
        self, cand: np.ndarray
    ) -> tuple[np.ndarray, list[dict]]:
        """Full-precision embeddings AND display payloads for the
        candidate rows — ONE bounded Spark job: a row-id ``IN`` filter
        over the sidecar (pushed to parquet; the monotone ids give
        row-group pruning). Reads ~|cand| rows; the corpus is never
        scanned at full width, and nothing row-shaped is resident
        outside this call (the r14 verdict-#1 change: the payload used
        to live driver-side and gated admission)."""
        from pyspark.sql import functions as F

        if len(cand) > BITS_FETCH_MAX_ROWS:
            raise ValueError(
                f"hamming_shortlist resolves to {len(cand)} candidate "
                f"rows, past the bits tier's bounded-fetch budget "
                f"({BITS_FETCH_MAX_ROWS}); a corpus-sized rerank fetch "
                "would collect the full-precision vectors this tier "
                "exists to keep on disk — lower the shortlist, or use "
                "the distributed exact door"
            )
        ids = [int(self.row_ids[int(j)]) for j in cand]
        tbl = (
            self._sidecar()
            .filter(F.col(BITS_ROW_COL).isin(ids))
            .toArrow()
        )
        rows = tbl.to_pylist()
        by_id = {int(r[BITS_ROW_COL]): r for r in rows}
        if len(by_id) != len(ids):
            raise RuntimeError(
                f"bits-tier sidecar fetch returned {len(by_id)} of "
                f"{len(ids)} rows — the sidecar no longer matches the "
                "fill (it is immutable by contract; rebuild the cache)"
            )
        vecs = np.asarray(
            [by_id[i][self._embedding_col] for i in ids],
            dtype=np.float64,
        )
        payload = [
            {
                k: v
                for k, v in by_id[i].items()
                if k not in (self._embedding_col, BITS_ROW_COL)
            }
            for i in ids
        ]
        return vecs, payload

    def query(
        self,
        query_vector: list[float],
        top_k: int,
        *,
        score_threshold: float = 0.1,
        id_cols: list[str] | None = None,
        hamming_shortlist: int | None = None,
    ) -> list[dict]:
        """Top-k rows as dicts with a ``score`` key — the
        ``DriverMatrixIndex.query(hamming_shortlist=...)`` contract
        served from the bits-resident layout: memory-speed Hamming
        shortlist, ONE bounded sidecar fetch (vectors + payload),
        exact rerank, shared selection. A batch of one through
        :meth:`query_batch`."""
        return self.query_batch(
            [query_vector],
            top_k,
            score_threshold=score_threshold,
            id_cols=id_cols,
            hamming_shortlist=hamming_shortlist,
        )[0]

    def query_batch(
        self,
        query_vectors: list[list[float]],
        top_k: int,
        *,
        score_threshold: float = 0.1,
        id_cols: list[str] | None = None,
        hamming_shortlist: int | None = None,
    ) -> list[list[dict]]:
        """Batched twin of :meth:`query`: per-query Hamming shortlists
        (the popcount scan is the cheap part), then ONE sidecar fetch
        for the UNION of all candidates — the batch pays one Spark job,
        not Q — then each query's exact rerank + shared selection.
        ``results[i]`` answers ``query_vectors[i]`` and equals the
        single door's answer exactly (same arithmetic, same rules)."""
        Q = _as_query_matrix(query_vectors, self.dim)
        if self.n == 0:
            return [[] for _ in range(Q.shape[0])]
        self._enter_serving()
        try:
            cands = [
                self._shortlist(
                    np.ascontiguousarray(Q[j]), top_k, hamming_shortlist
                )
                for j in range(Q.shape[0])
            ]
            union = np.unique(np.concatenate(cands))
            uvecs, upayload = self._fetch_rows(union)
            pos = {int(c): i for i, c in enumerate(union)}
            out = []
            for j, cand in enumerate(cands):
                sel = [pos[int(c)] for c in cand]
                scores = cosine_scores(uvecs[sel], None, Q[j : j + 1])
                out.append(
                    select_among(
                        [upayload[i] for i in sel],
                        None,
                        scores[:, 0],
                        top_k,
                        score_threshold,
                        id_cols,
                    )
                )
            return out
        finally:
            self._exit_serving()
