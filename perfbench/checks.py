"""Correctness checks, computed apart from the program.

Each check returns ``None`` when the answer is right and a one-line
reason when it is not. ``test_checks.py`` feeds every check a planted
wrong answer to show that it can fail.
"""

from __future__ import annotations

import bisect

import numpy as np

THRESHOLD = 0.1  # the reference's score threshold, applied after the limit
SCORE_TOL = 1e-9


class Oracle:
    """Brute-force top-k over the generated corpus plus every document
    written so far: float64 cosine, zero norm -> 0, order by score
    descending then (path, chunk_index), threshold after the limit."""

    def __init__(self, embedding: np.ndarray, ids: list[tuple[str, int]]):
        self.matrix = np.ascontiguousarray(embedding, dtype=np.float64)
        self.norms = np.sqrt(np.einsum("ij,ij->i", self.matrix, self.matrix))
        self.ids = list(ids)
        self.version = 0  # bumped by every add(), keys result caches

    def add(self, embedding: np.ndarray, ids: list[tuple[str, int]]) -> None:
        emb = np.asarray(embedding, dtype=np.float32).astype(np.float64)
        self.matrix = np.vstack([self.matrix, emb])
        self.norms = np.concatenate([self.norms, np.sqrt(np.einsum("ij,ij->i", emb, emb))])
        self.ids.extend(ids)
        self.version += 1

    @property
    def n(self) -> int:
        return len(self.ids)

    def scores(self, queries: np.ndarray) -> np.ndarray:
        """(n, q) cosine scores for a (q, dim) query block."""
        q = np.asarray(queries, dtype=np.float64)
        qn = np.sqrt(np.einsum("ij,ij->i", q, q))
        denom = np.outer(self.norms, qn)
        with np.errstate(divide="ignore", invalid="ignore"):
            return np.where(denom == 0.0, 0.0, (self.matrix @ q.T) / denom)

    def topk(self, scores: np.ndarray, top_k: int) -> list[tuple[str, int, float]]:
        k = min(top_k, len(scores))
        kth = np.partition(scores, len(scores) - k)[len(scores) - k]
        cand = np.nonzero(scores >= kth)[0]
        ranked = sorted(cand.tolist(), key=lambda i: (-scores[i], self.ids[i]))[:k]
        return [(*self.ids[i], float(scores[i])) for i in ranked if scores[i] >= THRESHOLD]


def check_topk(results: list[dict], expected: list[tuple[str, int, float]]) -> str | None:
    got = [(r.get("path"), r.get("chunk_index")) for r in results]
    want = [(p, c) for p, c, _ in expected]
    if got != want:
        return f"ids {got[:3]}... != oracle {want[:3]}..."
    for r, (_, _, s) in zip(results, expected):
        if abs(float(r["score"]) - s) > SCORE_TOL:
            return f"score {r['score']!r} != oracle {s!r} for {r['path']}#{r['chunk_index']}"
    return None


def check_hybrid(results: list[dict], top_k: int, known: set) -> str | None:
    """At most top_k unique corpus rows, fused score non-increasing."""
    if len(results) > top_k:
        return f"{len(results)} rows > top_k {top_k}"
    ids = [(r.get("path"), r.get("chunk_index")) for r in results]
    if len(set(ids)) != len(ids):
        return f"duplicate rows {ids}"
    unknown = [i for i in ids if i not in known]
    if unknown:
        return f"rows not in the corpus: {unknown[:3]}"
    rrf = [float(r["rrf"]) for r in results]
    if any(b > a for a, b in zip(rrf, rrf[1:])):
        return f"fused scores not non-increasing: {rrf}"
    return None


def check_write(reply: dict, expected_total: int, batch: int) -> str | None:
    if not reply.get("success"):
        return f"write failed: {reply}"
    if reply.get("message") != f"Added {batch} documents to the database":
        return f"unexpected write message {reply.get('message')!r}"
    if reply.get("total_documents") != expected_total:
        return f"total_documents {reply.get('total_documents')} != {expected_total}"
    return None


def check_readback(results: list[dict], path: str, chunk_index: int) -> str | None:
    """A just-written document's own embedding finds it at rank 1 with
    score 1."""
    if not results:
        return f"read-back of {path} returned nothing"
    top = results[0]
    if (top.get("path"), top.get("chunk_index")) != (path, chunk_index):
        return f"read-back rank 1 is {top.get('path')}, not {path}"
    if abs(float(top["score"]) - 1.0) > SCORE_TOL:
        return f"read-back score {top['score']!r} != 1"
    return None


# -- ingest --------------------------------------------------------------


def check_live_rows(rows: list[tuple[str, int, str]], files: dict[str, str]) -> str | None:
    """Live store rows after the re-crawl against the current tree:
    every file present, every row a substring of its file's text,
    chunk indices dense per path, and each file's chunks re-assembling
    its text once the overlaps are removed."""
    by_path: dict[str, dict[int, str]] = {}
    for path, ci, content in rows:
        if path not in files:
            return f"live row for unknown file {path}"
        if ci in by_path.setdefault(path, {}):
            return f"duplicate live chunk {path}#{ci}"
        by_path[path][ci] = content
    missing = sorted(set(files) - set(by_path))
    if missing:
        return f"files with no live rows: {missing[:3]}"
    for path, chunks in by_path.items():
        text = files[path]
        if sorted(chunks) != list(range(len(chunks))):
            return f"chunk indices of {path} not dense: {sorted(chunks)[:8]}"
        for ci, content in chunks.items():
            if content not in text:
                return f"{path}#{ci} is not a substring of the file's current text"
        err = _reassemble(text, [chunks[i] for i in range(len(chunks))])
        if err:
            return f"{path}: {err}"
    return None


def _reassemble(text: str, chunks: list[str]) -> str | None:
    """Is there a placement of the chunks, in order, each starting
    after the previous one's start and no later than its end (an
    overlap, never a gap), that begins at 0 and ends the text?
    Repetitive text can place a chunk in several spots, so every
    reachable start is carried forward."""
    if not chunks or not all(chunks) or not text.startswith(chunks[0]):
        return "first chunk does not start the file"
    starts, prev_len = [0], len(chunks[0])
    for i, chunk in enumerate(chunks[1:], 1):
        nxt = []
        p = text.find(chunk, starts[0] + 1)
        while p != -1 and p <= starts[-1] + prev_len:
            j = bisect.bisect_left(starts, p - prev_len)
            if j < len(starts) and starts[j] < p:
                nxt.append(p)
            p = text.find(chunk, p + 1)
        if not nxt:
            return f"chunk {i} does not continue chunk {i - 1}"
        starts, prev_len = nxt, len(chunk)
    if starts[-1] + prev_len != len(text):
        return f"chunks end at {starts[-1] + prev_len} of {len(text)} chars"
    return None


def check_stats(stats: dict, n_files: int, n_live: int) -> str | None:
    if stats.get("total_documents") != n_live:
        return f"stats total_documents {stats.get('total_documents')} != live rows {n_live}"
    if stats.get("unique_files") != n_files:
        return f"stats unique_files {stats.get('unique_files')} != eligible files {n_files}"
    return None
