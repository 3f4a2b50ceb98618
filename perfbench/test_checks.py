"""Check the checker: every correctness check must pass a right answer
and fail a planted wrong one.

    python3 -m pytest perfbench/test_checks.py -q
"""

from __future__ import annotations

import copy
import os
import sys

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import checks, gen  # noqa: E402


def _oracle(n: int = 300, seed: int = 7):
    rng = np.random.default_rng(seed)
    emb = rng.standard_normal((n, 16)).astype(np.float32)
    emb[3] = emb[5]  # an exact tie, broken by (path, chunk_index)
    emb[9] = 0.0
    ids = [(f"f{i // 4:03d}.md", i % 4) for i in range(n)]
    return checks.Oracle(emb, ids), emb


def _answer(expected):
    return [{"path": p, "chunk_index": c, "score": s, "content": "x"} for p, c, s in expected]


def _expected(oracle, q, k=5):
    return oracle.topk(oracle.scores([q])[:, 0], k)


def test_topk_passes_the_oracle_answer_and_fails_planted_ones():
    oracle, emb = _oracle()
    expected = _expected(oracle, emb[5], 5)
    good = _answer(expected)
    assert checks.check_topk(good, expected) is None
    # the tie: both copies score 1 and the lower path comes first
    assert [(r["path"], r["chunk_index"]) for r in good[:2]] == [("f000.md", 3), ("f001.md", 1)]

    swapped = copy.deepcopy(good)
    swapped[1], swapped[2] = swapped[2], swapped[1]
    assert checks.check_topk(swapped, expected)

    tie_swapped = copy.deepcopy(good)
    tie_swapped[0], tie_swapped[1] = tie_swapped[1], tie_swapped[0]
    assert checks.check_topk(tie_swapped, expected)

    off = copy.deepcopy(good)
    off[2]["score"] += 1e-6
    assert checks.check_topk(off, expected)

    assert checks.check_topk(good[:-1], expected)


def test_oracle_applies_the_threshold_after_the_limit():
    oracle, emb = _oracle()
    scores = oracle.scores([emb[5]])[:, 0]
    expected = oracle.topk(scores, oracle.n)
    assert 0 < len(expected) < oracle.n  # rows under 0.1 are dropped
    assert all(s >= checks.THRESHOLD for _, _, s in expected)
    assert scores[9] == 0.0  # zero-norm row
    assert oracle.topk(oracle.scores([np.zeros(16)])[:, 0], 5) == []  # zero query


def test_a_dropped_written_document_is_caught():
    oracle, emb = _oracle()
    written = np.full((1, 16), 0.25, dtype=np.float32)
    oracle.add(written, [("written/w000.txt", 0)])
    reply = {"success": True, "message": "Added 1 documents to the database",
             "total_documents": oracle.n}
    assert checks.check_write(reply, oracle.n, 1) is None
    assert checks.check_write({**reply, "total_documents": oracle.n - 1}, oracle.n, 1)

    expected = _expected(oracle, written[0])
    good = _answer(expected)
    assert checks.check_readback(good, "written/w000.txt", 0) is None
    assert checks.check_topk(good, expected) is None
    dropped = [r for r in good if r["path"] != "written/w000.txt"]
    assert checks.check_readback(dropped, "written/w000.txt", 0)
    assert checks.check_topk(dropped, expected)


def test_hybrid_check_fails_duplicates_unknown_rows_and_rising_scores():
    known = {("a.md", 0): "x", ("a.md", 1): "y", ("b.md", 0): "z"}
    good = [{"path": "a.md", "chunk_index": 0, "rrf": 0.03},
            {"path": "b.md", "chunk_index": 0, "rrf": 0.02}]
    assert checks.check_hybrid(good, 5, known) is None
    assert checks.check_hybrid(good, 1, known)
    assert checks.check_hybrid([good[0], good[0]], 5, known)
    assert checks.check_hybrid([good[1], good[0]], 5, known)
    assert checks.check_hybrid([{"path": "c.md", "chunk_index": 0, "rrf": 0.01}], 5, known)


def _chunks(text: str, size: int = 40, step: int = 30) -> list[str]:
    out, start = [], 0
    while True:
        out.append(text[start:start + size])
        if start + size >= len(text):
            return out
        start += step


def test_live_rows_fail_a_chunk_from_the_pre_edit_file():
    tree = gen.RepoTree(5, n_files=6)
    new, edited = tree.edit()
    rows = [(p, i, c) for p, t in new.items() for i, c in enumerate(_chunks(t))]
    assert checks.check_live_rows(rows, new) is None
    assert checks.check_stats({"total_documents": len(rows), "unique_files": len(new)},
                              len(new), len(rows)) is None

    path = sorted(edited)[0]
    stale = _chunks(tree.files[path])
    fresh = _chunks(new[path])
    j = next(i for i, (a, b) in enumerate(zip(stale, fresh)) if a != b)
    planted = [(p, i, stale[i] if (p, i) == (path, j) else c) for p, i, c in rows]
    assert checks.check_live_rows(planted, new)


def test_live_rows_fail_gaps_holes_and_missing_files():
    files = {"a.py": "".join(f"line {i}\n" for i in range(40))}
    chunks = _chunks(files["a.py"])
    rows = [("a.py", i, c) for i, c in enumerate(chunks)]
    assert checks.check_live_rows(rows, files) is None
    assert checks.check_live_rows(rows[:1] + rows[2:], files)  # a hole in the indices
    gap = [("a.py", i, c) for i, c in enumerate(chunks[:1] + chunks[2:])]
    assert checks.check_live_rows(gap, files)  # dense indices, text missing
    assert checks.check_live_rows(rows[:-1] + [("a.py", len(rows) - 1, "line 3")], files)
    assert checks.check_live_rows(rows, {**files, "b.py": "text"})
    assert checks.check_stats({"total_documents": len(rows), "unique_files": 2}, 1, len(rows))
