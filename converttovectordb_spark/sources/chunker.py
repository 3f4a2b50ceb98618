"""Overlap text chunker — reference operator T1.

Behavioral contract (reference repo_to_vector.py:256-306, re-derived,
not copied):
  * empty text → no chunks; text of length <= chunk_size → one chunk,
    the text itself, unmodified (:271-272).
  * otherwise windows of at most ``chunk_size`` chars; when the window
    does not reach end-of-text, the cut point snaps to:
      - one past the LAST newline inside [start, end) — but only if
        that newline lies strictly after start + chunk_size//2 (:282-284);
      - else one past the last space inside [start+chunk_size//2, end)
        if any (:286-289).
  * the next window starts at ``end - overlap`` unless that would not
    advance past ``start``, in which case it starts at ``end`` (:298).

The function is pure Python (it is inherently sequential per document)
and is applied distributedly by ``chunk_embed``: ONE Arrow pass per
partition in which each file row is chunked and its chunks embedded in
the same Python worker. One input row fans out to N chunk rows whose
chunk index / total count come from the chunk list's positions and
length — no window function, no shuffle (reference operator T2 for
free), and no second Python evaluation for the embedder (the operator
fusion FuseME argues for, applied to the ingest plan).
"""

from __future__ import annotations

import time
from typing import Callable

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from converttovectordb_spark.embeddings import DEFAULT_DIM, hash_embedder
from converttovectordb_spark.schema import (
    DEFAULT_CHUNK_OVERLAP,
    DEFAULT_CHUNK_SIZE,
)


def chunk_string(
    text: str,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    overlap: int = DEFAULT_CHUNK_OVERLAP,
) -> list[str]:
    """Chunk one document. Pure function; see module docstring for the
    exact cut-point rules."""
    if not text:
        return []
    n = len(text)
    if n <= chunk_size:
        return [text]

    half = chunk_size // 2
    out: list[str] = []
    start = 0
    while start < n:
        end = min(start + chunk_size, n)
        if end < n:
            nl = text.rfind("\n", start, end)
            if nl > start + half:
                end = nl + 1
            else:
                sp = text.rfind(" ", start + half, end)
                if sp != -1:
                    end = sp + 1
        out.append(text[start:end])
        nxt = end - overlap
        start = nxt if nxt > start else end
    return out


def chunk_fixed_expr(
    text: Column,
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    overlap: int = DEFAULT_CHUNK_OVERLAP,
) -> Column:
    """Fixed-stride overlap chunker as a NATIVE Catalyst expression
    (sequence → transform → substr): windows of ``chunk_size`` chars
    starting every ``chunk_size - overlap`` chars; empty text → no
    chunks. No boundary snapping (that variant needs per-char scanning
    — see chunk_string); in exchange this one stays in whole-stage
    codegen and is ANSI-SQL-expressible for the oracle.
    """
    stride = chunk_size - overlap
    if stride <= 0:
        raise ValueError("chunk_size must exceed overlap")
    starts = F.sequence(F.lit(1), F.length(text), F.lit(stride))
    return F.when(
        F.length(text) <= 0, F.array().cast("array<string>")
    ).otherwise(
        F.transform(starts, lambda i: F.substr(text, i, F.lit(chunk_size)))
    )


def chunk_embed(
    files: DataFrame,
    *,
    content_col: str = "content",
    chunk_size: int = DEFAULT_CHUNK_SIZE,
    overlap: int = DEFAULT_CHUNK_OVERLAP,
    embedder: Callable | None = None,
    dim: int = DEFAULT_DIM,
    time_acc=None,
) -> DataFrame:
    """files(path, content, …) → one row per chunk: every other input
    column passed through, then ``total_chunks`` and ``chunk_index``
    (int), the chunk ``content`` and its float32 ``embedding``.

    One ``mapInArrow`` pass: each file row goes through
    ``chunk_string`` and then the embedder in the same Python worker.
    NULL or empty content yields no rows. Each ``embedder(texts)``
    call and each emitted frame holds at most
    ``spark.sql.execution.arrow.maxRecordsPerBatch`` chunks, the
    batch bound Spark gives an Arrow UDF, so one huge file cannot
    blow a worker's memory. ``time_acc`` (a SparkContext accumulator)
    sums the encode wall time across workers — aggregate worker
    seconds, the A9 ``embedding_time`` metric."""
    import pyarrow as pa

    enc = embedder or hash_embedder(dim)
    keep = [c for c in files.columns if c != content_col]
    schema = StructType(
        [files.schema[c] for c in keep]
        + [
            StructField("total_chunks", IntegerType(), False),
            StructField("chunk_index", IntegerType(), False),
            StructField("content", StringType()),
            StructField("embedding", ArrayType(FloatType())),
        ]
    )
    names = schema.fieldNames()
    max_rows = int(
        files.sparkSession.conf.get(
            "spark.sql.execution.arrow.maxRecordsPerBatch", "10000"
        )
    )
    if max_rows <= 0:  # Spark's "no limit"
        max_rows = 1 << 62

    def frame(rb, rows, index, total, chunks):
        t0 = time.perf_counter()
        vecs = np.asarray(enc(chunks), dtype=np.float32)
        vecs = vecs.reshape(len(chunks), -1)
        if time_acc is not None:
            time_acc.add(time.perf_counter() - t0)
        offsets = np.arange(len(chunks) + 1, dtype=np.int32) * vecs.shape[1]
        embedding = pa.ListArray.from_arrays(offsets, vecs.reshape(-1))
        return pa.RecordBatch.from_arrays(
            rb.select(keep).take(pa.array(rows, type=pa.int64())).columns
            + [
                pa.array(total, type=pa.int32()),
                pa.array(index, type=pa.int32()),
                pa.array(chunks, type=rb.schema.field(content_col).type),
                embedding,
            ],
            names=names,
        )

    def fused(batches):
        for rb in batches:
            rows, index, total, chunks = [], [], [], []
            for i, text in enumerate(rb.column(content_col).to_pylist()):
                cs = chunk_string(text or "", chunk_size, overlap)
                rows += [i] * len(cs)
                index += range(len(cs))
                total += [len(cs)] * len(cs)
                chunks += cs
                while len(chunks) >= max_rows:
                    yield frame(
                        rb,
                        rows[:max_rows],
                        index[:max_rows],
                        total[:max_rows],
                        chunks[:max_rows],
                    )
                    del rows[:max_rows], index[:max_rows]
                    del total[:max_rows], chunks[:max_rows]
            if chunks:
                yield frame(rb, rows, index, total, chunks)

    return files.mapInArrow(fused, schema)
