"""Seeded input generators for the benchmark.

Everything here is a pure function of its seed: the serving corpus and
its request mix, the 100-document write batches, and the repository
tree with its ~10% re-crawl edit. The program under test only ever sees
the generated inputs (files and request bodies), never the seed.
"""

from __future__ import annotations

import os

import numpy as np

DIM = 384
#: The reference's largest logged serving corpus (BASELINE.md).
CORPUS_DOCS = 13_515
CHUNKS_PER_FILE = 4
CLUSTERS = 135
#: Share of a vector's energy along its cluster centroid, drawn per
#: vector from this range. Chosen so the query mix's mean top-5 cosine
#: lands in the reference's logged 0.30-0.38 (BASELINE.md).
CLUSTER_WEIGHT = (0.15, 0.30)
VOCAB = 20_000
ZIPF_S = 1.1
EXTENSIONS = (".md", ".py", ".txt", ".json")
#: Documents per /add_documents: the reference's batch size.
WRITE_BATCH = 100
BATCH_QUERIES = 16
ROUND = 100  # requests per round of the serving mix


def _word(rank: int) -> str:
    # Pronounceable ASCII. No "z" among the consonants, so the re-crawl's
    # "zz" words occur nowhere in a generated tree.
    cons, vow = "bcdfghjklmnprstvw", "aeiou"
    out = []
    rank += 1
    while rank:
        rank, r = divmod(rank, len(cons) * len(vow))
        out.append(cons[r % len(cons)] + vow[r // len(cons)])
    return "".join(out)


class Zipf:
    """A Zipf(s) vocabulary: word i is drawn with weight 1 / (i+1)^s."""

    def __init__(self, rng: np.random.Generator, size: int = VOCAB, s: float = ZIPF_S):
        w = 1.0 / np.arange(1, size + 1) ** s
        self.cdf = np.cumsum(w / w.sum())
        self.words = [_word(i) for i in range(size)]
        self.rng = rng

    def draw(self, n: int) -> list[str]:
        idx = np.searchsorted(self.cdf, self.rng.random(n), side="right")
        idx = np.minimum(idx, len(self.words) - 1)
        words = self.words
        return [words[i] for i in idx.tolist()]

    def text(self, n_words: int) -> str:
        return " ".join(self.draw(n_words))


def _unit(v: np.ndarray) -> np.ndarray:
    return v / np.linalg.norm(v, axis=-1, keepdims=True)


class Corpus:
    """The serving corpus: clustered 384-d float32 embeddings and Zipf
    text, plus everything needed to generate queries and writes against
    it from the same seed."""

    def __init__(self, seed: int, n: int = CORPUS_DOCS):
        self.rng = np.random.default_rng([seed, 1])
        rng = self.rng
        self.centroids = _unit(rng.standard_normal((CLUSTERS, DIM)))
        self.zipf = Zipf(np.random.default_rng([seed, 2]))
        emb = self._vectors(rng.integers(0, CLUSTERS, n))
        # Exact duplicate vectors under different paths exercise the
        # (path, chunk_index) tie-break; one zero vector exercises the
        # zero-norm -> score 0 rule.
        dups = rng.choice(n, size=40, replace=False)
        emb[dups[20:]] = emb[dups[:20]]
        self.tie_rows = dups[:20]
        emb[rng.integers(0, n)] = 0.0
        self.embedding = emb
        files = [f"corpus/d{i // 40:03d}/f{i:05d}" for i in range(n // CHUNKS_PER_FILE + 1)]
        self.path = [
            files[i // CHUNKS_PER_FILE] + EXTENSIONS[(i // CHUNKS_PER_FILE) % len(EXTENSIONS)]
            for i in range(n)
        ]
        self.chunk_index = [i % CHUNKS_PER_FILE for i in range(n)]
        lens = rng.integers(110, 260, n)
        self.content = [self.zipf.text(int(k)) for k in lens]

    def _vectors(self, clusters: np.ndarray) -> np.ndarray:
        rng = self.rng
        w = rng.uniform(*CLUSTER_WEIGHT, len(clusters))[:, None]
        noise = _unit(rng.standard_normal((len(clusters), DIM)))
        v = np.sqrt(w) * self.centroids[clusters] + np.sqrt(1 - w) * noise
        return _unit(v).astype(np.float32)

    def write_to(self, path: str) -> None:
        """The store build input: one .npz the program-side process
        turns into a DataFrame for ``store.append``."""
        ext = [os.path.splitext(p)[1] for p in self.path]
        np.savez(
            path,
            embedding=self.embedding,
            path=np.array(self.path),
            extension=np.array(ext),
            chunk_index=np.array(self.chunk_index, dtype=np.int32),
            total_chunks=np.full(len(self.path), CHUNKS_PER_FILE, dtype=np.int32),
            content=np.array(self.content, dtype=object),
            timestamp=1.7e9 + np.arange(len(self.path), dtype=np.float64),
        )

    # -- request mix ---------------------------------------------------
    def query_vector(self) -> np.ndarray:
        if self.rng.random() < 0.02:  # a stored vector: exact tie cases
            return self.embedding[self.rng.choice(self.tie_rows)]
        return self._vectors(self.rng.integers(0, CLUSTERS, 1))[0]

    def read_request(self) -> tuple[str, dict]:
        """One read of the mix: ~80% /query (mostly top_k 5), 10%
        /query_batch of 16 vectors, 10% /hybrid."""
        u = self.rng.random()
        if u < 0.8:
            top_k = int(self.rng.choice([5] * 14 + [1, 10, 20]))
            return "/query", {"query_embedding": _floats(self.query_vector()), "top_k": top_k}
        if u < 0.9:
            vecs = [_floats(self.query_vector()) for _ in range(BATCH_QUERIES)]
            return "/query_batch", {"query_embeddings": vecs, "top_k": 5}
        n = int(self.rng.integers(2, 5))
        return "/hybrid", {"query": " ".join(self.zipf.draw(n)), "top_k": 5}

    def write_batch(self, tag: str) -> list[dict]:
        emb = self._vectors(self.rng.integers(0, CLUSTERS, WRITE_BATCH))
        lens = self.rng.integers(110, 260, WRITE_BATCH)
        return [
            {
                "path": f"written/{tag}/w{j:03d}.txt",
                "chunk_index": 0,
                "total_chunks": 1,
                "content": self.zipf.text(int(lens[j])),
                "embedding": _floats(emb[j]),
            }
            for j in range(WRITE_BATCH)
        ]


def _floats(v: np.ndarray) -> list[float]:
    # float32 values as Python floats: exact through JSON and back.
    return [float(x) for x in v]


# -- repository tree -----------------------------------------------------

TREE_FILES = 200
TREE_DIRS = 24
#: all in the ingest door's allowed extensions (schema.DEFAULT_ALLOWED_EXTENSIONS)
TREE_EXT = (".py", ".py", ".py", ".js", ".ts", ".md", ".json", ".yaml", ".txt", ".go")
EDIT_SHARE = 0.10


def _code_text(z: Zipf, rng: np.random.Generator, n_chars: int) -> str:
    lines, size = [], 0
    while size < n_chars:
        indent = "    " * int(rng.integers(0, 3))
        line = indent + z.text(int(rng.integers(2, 12)))
        lines.append(line)
        size += len(line) + 1
    return "\n".join(lines) + "\n"


class RepoTree:
    """A generated repository: ``files`` maps repo-relative path to
    text for every file the ingest door must index; edge-case files
    (a hidden dir, a .png, an empty and a whitespace-only file) are
    written beside them and must be skipped."""

    def __init__(self, seed: int, n_files: int = TREE_FILES):
        self.rng = np.random.default_rng([seed, 3])
        self.zipf = Zipf(np.random.default_rng([seed, 4]), size=4000)
        rng = self.rng
        self.files: dict[str, str] = {}
        sizes = rng.lognormal(8.3, 0.7, n_files).astype(int) + 40
        for i, size in enumerate(sizes):
            ext = TREE_EXT[int(rng.integers(0, len(TREE_EXT)))]
            path = f"src/m{i % TREE_DIRS:02d}/file{i:04d}{ext}"
            self.files[path] = _code_text(self.zipf, rng, int(size))
        # one file past chunk_size with no whitespace at all
        self.files["src/blob/minified.js"] = "x" * 2500
        self.skipped = {
            ".hidden/secret.py": b"print('never indexed')\n",
            "src/.cache/tmp.md": b"hidden dir inside the tree\n",
            "assets/logo.png": bytes(range(256)) * 8,
            "src/empty.py": b"",
            "src/blank.md": b"   \n\t \n",
        }

    def write(self, root: str) -> None:
        write_files(root, self.files)
        for rel, data in self.skipped.items():
            _write(os.path.join(root, rel), data)

    def edit(self) -> tuple[dict[str, str], set[str]]:
        """The re-crawl: ~10% of the files get one line replaced by
        words that occur nowhere in the original tree.
        Returns the new file map and the set of edited paths."""
        rng = self.rng
        paths = sorted(self.files)
        picked = rng.choice(len(paths), size=max(1, int(len(paths) * EDIT_SHARE)), replace=False)
        new = dict(self.files)
        edited = set()
        for i in sorted(picked):
            p = paths[i]
            lines = new[p].split("\n")
            j = int(rng.integers(0, max(1, len(lines) - 1)))
            lines[j] = "zz" + "zz ".join(self.zipf.draw(int(rng.integers(3, 8)))) + "zz"
            new[p] = "\n".join(lines)
            edited.add(p)
        return new, edited


def write_files(root: str, files: dict[str, str]) -> None:
    for rel, text in files.items():
        _write(os.path.join(root, rel), text.encode())


def _write(path: str, data: bytes) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        fh.write(data)
