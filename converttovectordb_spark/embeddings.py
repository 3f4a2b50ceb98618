"""Embedding generation — reference operator T3, Spark-first.

The reference encodes chunks one at a time on the driver
(repo_to_vector.py:341-343, ~32-74 chunks/s). Here the repo-ingest and
streaming doors embed inside the fused chunk → embed operator
(`sources.chunker.chunk_embed`): one Arrow-batched Python pass per
partition, one ``encode`` call per frame of at most
``spark.sql.execution.arrow.maxRecordsPerBatch`` chunks, one model
instance per Python worker (lazy singleton) — the canonical Spark
batch-inference pattern. ``embed_column`` embeds a column that is
already chunked (the CLI push door).

The embedder is injectable (the reference hardcodes
SentenceTransformer at repo_to_vector.py:78): tests and the oracle use
the deterministic hash embedder; production plugs the sentence-
transformers model through the same interface. The heavyweight model
import is gated — this container does not ship sentence-transformers.
"""

from __future__ import annotations

import hashlib
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

#: reference default model + dimension (repo_to_vector.py:28, README.md:75)
DEFAULT_MODEL_NAME = "all-MiniLM-L6-v2"
DEFAULT_DIM = 384


def _hash_vector(text: str, dim: int) -> np.ndarray:
    """``hash_embed_one`` as a float64 array: the text is encoded once,
    the md5 blocks ``md5(b"<counter>|" + text)`` are joined once and
    read as little-endian uint32 words."""
    data = text.encode("utf-8", "ignore")
    blocks = b"".join(
        hashlib.md5(b"%d|" % counter + data).digest()
        for counter in range(-(-dim // 4))
    )
    out = np.frombuffer(blocks, dtype="<u4", count=dim) / 2147483647.5 - 1.0
    n = float(np.sqrt((out * out).sum()))
    if n > 0:
        out /= n
    return out


def hash_embed_one(text: str, dim: int = DEFAULT_DIM) -> list[float]:
    """Deterministic pseudo-embedding: md5-seeded floats in [-1, 1],
    L2-normalized. Platform-independent (pure hashlib, explicit byte
    order), so test goldens and oracle fixtures are stable everywhere."""
    return _hash_vector(text, dim).tolist()


def hash_embedder(dim: int = DEFAULT_DIM) -> Callable[[list[str]], np.ndarray]:
    """Batch interface: list[str] → (n, dim) float32 ndarray."""

    def encode(texts: list[str]) -> np.ndarray:
        return np.array(
            [_hash_vector(t, dim) for t in texts], dtype=np.float32
        )

    return encode


def sentence_transformer_embedder(
    model_name: str = DEFAULT_MODEL_NAME,
) -> Callable[[list[str]], np.ndarray]:
    """Real-model embedder behind the same batch interface; the model is
    a per-process lazy singleton so each Spark Python worker loads it
    once, not once per batch."""
    state: dict = {}

    def encode(texts: list[str]) -> np.ndarray:
        if "model" not in state:
            try:
                from sentence_transformers import SentenceTransformer
            except ImportError as e:  # pragma: no cover - not in container
                raise NotImplementedError(
                    "sentence-transformers is not installed in this "
                    "environment; inject hash_embedder() or another "
                    "encode(texts)->ndarray callable instead"
                ) from e
            state["model"] = SentenceTransformer(model_name)
        return np.asarray(state["model"].encode(list(texts)))

    return encode


def embed_column(
    df,
    text_col: str = "content",
    out_col: str = "embedding",
    embedder=None,
    dim: int = DEFAULT_DIM,
):
    """Embed an already-chunked text column: string → array<float>.
    Each Arrow batch (spark.sql.execution.arrow.maxRecordsPerBatch
    rows) becomes ONE ``encode`` call — batched inference, not per-row.
    A repo or streaming ingest chunks and embeds in one pass instead
    (`sources.chunker.chunk_embed`)."""
    enc = embedder or hash_embedder(dim)

    @pandas_udf("array<float>")
    def _embed(texts: pd.Series) -> pd.Series:
        vals = enc(["" if t is None else t for t in texts.tolist()])
        return pd.Series([np.asarray(v, dtype=np.float32) for v in vals])

    return df.withColumn(out_col, _embed(F.col(text_col)))
