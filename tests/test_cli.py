"""CLI smoke tests — `python -m converttovectordb_spark <verb>`
(reference parity: run_vector_db.py:119-290 subcommands)."""

from __future__ import annotations

import json
import subprocess
import sys

import pytest


def _run(*argv: str) -> dict:
    out = subprocess.run(
        [sys.executable, "-m", "converttovectordb_spark", *argv],
        capture_output=True,
        text=True,
        timeout=300,
        check=True,
    )
    # last stdout line is the JSON document (Spark may log above it)
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.slow  # 270.8s
def test_cli_ingest_search_stats_clear(tmp_path):
    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "a.py").write_text("def f():\n    return 42\n" * 30)
    store = str(tmp_path / "store")
    common = ["--store", store, "--dim", "16", "--master", "local[2]"]

    ing = _run("ingest", "--repo", str(repo), *common)
    assert ing["files_processed"] == 1
    assert ing["rows_written"] > 0

    st = _run("stats", *common)
    assert st["total_documents"] == ing["rows_written"]

    se = _run("search", "--query", "return 42", "--top-k", "2", *common)
    assert isinstance(se["results"], list)

    # dedup-on-arrival: re-ingesting the same repo with a semantic
    # threshold writes nothing (every chunk's nearest neighbor is its
    # own committed copy at cosine 1.0)
    re_ing = _run(
        "ingest", "--repo", str(repo), "--semantic-dedup", "0.999", *common
    )
    assert re_ing["rows_written"] == 0
    assert _run("stats", *common)["total_documents"] == ing["rows_written"]

    # within-batch collapse flag wiring: a second copy inside ONE batch
    # collapses to the keep-lowest survivor; fresh content still lands
    repo2 = tmp_path / "repo2"
    repo2.mkdir()
    (repo2 / "m.txt").write_text("within batch duplicate content here " * 10)
    (repo2 / "n.txt").write_text("within batch duplicate content here " * 10)
    wb = _run(
        "ingest", "--repo", str(repo2), "--semantic-dedup", "0.999",
        "--semantic-dedup-nprobe", "2", "--within-batch-dedup", *common,
    )
    assert wb["rows_written"] == 1  # m.txt survives, n.txt collapsed

    # lexical (MinHash) dedup-on-arrival flag wiring: re-crawling the
    # same batch under new paths writes nothing (estimated Jaccard 1.0
    # against the committed copies)
    repo3 = tmp_path / "repo3"
    repo3.mkdir()
    (repo3 / "m_copy.txt").write_text(
        "within batch duplicate content here " * 10
    )
    lx = _run(
        "ingest", "--repo", str(repo3), "--lexical-dedup", "0.8", *common
    )
    assert lx["rows_written"] == 0

    hy = _run("hybrid", "--query", "return 42", "--top-k", "2", *common)
    assert isinstance(hy["results"], list) and len(hy["results"]) <= 2

    dv = _run(
        "diverse", "--query", "return 42", "--top-k", "2", "--fetch-k", "10",
        *common,
    )
    assert isinstance(dv["results"], list) and len(dv["results"]) <= 2
    for r in dv["results"]:
        assert "mmr_rank" in r and "embedding" not in r

    an = _run("answer", "--query", "return 42", "--top-k", "2", *common)
    assert an["n_results"] >= 1
    assert an["generation"].startswith("FAKE[")

    # --report renders via format_report; the fake generator's output
    # is not JSON, so the renderer's documented degradation applies
    rep = _run(
        "answer", "--query", "return 42", "--top-k", "2", "--report", *common
    )
    assert "generation" not in rep
    assert rep["report"].startswith(
        "Error: Could not parse LLM response as JSON."
    )
    assert "FAKE[" in rep["report"]  # raw response included

    he = _run("health", *common)
    # repo ingest + the within-batch survivor (m.txt) landed after the
    # early stats snapshot
    assert he["documents_count"] == ing["rows_written"] + 1

    cl = _run("clear", "--no-backup", *common)
    assert cl["cleared"]
    assert _run("stats", *common)["total_documents"] == 0


def _run_fail(*argv: str) -> tuple[int, dict]:
    out = subprocess.run(
        [sys.executable, "-m", "converttovectordb_spark", *argv],
        capture_output=True,
        text=True,
        timeout=300,
    )
    return out.returncode, json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.slow  # 222.7s
def test_cli_build_index_and_retrain(tmp_path):
    """The scheduled-maintenance loop end-to-end from the CLI:
    build-index --transactional publishes, retrain below threshold is
    a no-op, a forced retrain (threshold -1) rebuilds and reports the
    new index path, and retrain without a published index exits 1."""
    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "a.py").write_text("def f():\n    return 42\n" * 30)
    (repo / "b.md").write_text("completely different document text " * 20)
    store = str(tmp_path / "store")
    common = [
        "--store", store, "--dim", "16", "--master", "local[2]",
        "--transactional",
    ]

    rc, out = _run_fail("retrain", "--shift-threshold", "0.5", *common)
    assert rc == 1 and "no published" in out["error"]

    _run("ingest", "--repo", str(repo), *common)
    bi = _run(
        "build-index", "--num-clusters", "2",
        "--pq-m", "2", "--pq-k", "4",
        "--recall-sample", "4", "--adc-recall-sample", "4",
        *common,
    )
    assert bi["transactional"] and bi["index_path"]
    # r12: both measured-contract curves are built and reported
    assert bi["recall_curve"]["curve"][-1]["recall"] == 1.0
    assert bi["adc_curve"]["curve"][-1]["recall"] == 1.0

    noop = _run("retrain", "--shift-threshold", "1000.0", *common)
    assert noop["retrained"] is False and noop["clusters"] == 2

    forced = _run("retrain", "--shift-threshold", "-1", *common)
    assert forced["retrained"] is True
    assert forced["index_path"] != bi["index_path"]


@pytest.mark.slow  # 34.4s
def test_cli_transactional_verbs_fail_clean_on_plain_store(tmp_path):
    """--at-version / --replace on a non-transactional store must exit 1
    with the same JSON-error envelope compact/vacuum use — a traceback
    is a contract violation (r5 advisory)."""
    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "a.py").write_text("def f():\n    return 42\n" * 10)
    store = str(tmp_path / "store")
    common = ["--store", store, "--dim", "16", "--master", "local[2]"]

    _run("ingest", "--repo", str(repo), *common)

    rc, out = _run_fail(
        "search", "--query", "q", "--at-version", "0", *common
    )
    assert rc == 1 and out["command"] == "search"
    assert "transactional" in out["error"]

    rc, out = _run_fail("ingest", "--repo", str(repo), "--replace", *common)
    assert rc == 1 and out["command"] == "ingest"
    assert "transactional" in out["error"]


def test_cli_diverse_bad_lambda_fails_clean(tmp_path):
    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "a.py").write_text("def f():\n    return 42\n" * 10)
    store = str(tmp_path / "store")
    common = ["--store", store, "--dim", "16", "--master", "local[2]"]
    _run("ingest", "--repo", str(repo), *common)
    rc, out = _run_fail(
        "diverse", "--query", "q", "--mmr-lambda", "1.5", *common
    )
    assert rc == 1 and out["command"] == "diverse"
    assert "lambda" in out["error"]


@pytest.mark.slow  # 63.3s
def test_cli_push_jsonl_with_dedup(tmp_path):
    """`push` appends a JSONL batch: rows without embeddings are
    hash-embedded, dedup flags drop a re-push, malformed files fail
    clean with a line number."""
    store = str(tmp_path / "push_store")
    common = ["--store", store, "--dim", "16", "--master", "local[2]"]
    text = " ".join(f"cli{i}" for i in range(40))

    f1 = tmp_path / "batch1.jsonl"
    f1.write_text(
        json.dumps({"path": "a.txt", "content": text}) + "\n"
        + json.dumps({"path": "b.txt", "content": "other words entirely"})
        + "\n"
    )
    out = _run("push", "--file", str(f1), *common)
    assert out["rows_written"] == 2

    # re-push: one exact copy (dropped), one fresh row
    f2 = tmp_path / "batch2.jsonl"
    f2.write_text(
        json.dumps({"path": "a_copy.txt", "content": text}) + "\n"
        + json.dumps({"path": "c.txt", "content": "fresh content here now"})
        + "\n"
    )
    out = _run("push", "--file", str(f2), "--lexical-dedup", "0.8", *common)
    assert out == {
        "command": "push",
        "rows_in": 2,
        "rows_written": 1,
        "skipped_duplicates": 1,
    }

    st = _run("stats", *common)
    assert st["total_documents"] == 3

    # malformed line fails clean, naming the line
    bad = tmp_path / "bad.jsonl"
    bad.write_text('{"path": "x"}\n')
    proc = subprocess.run(
        [sys.executable, "-m", "converttovectordb_spark", "push",
         "--file", str(bad), *common],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 1
    err = json.loads(proc.stdout.strip().splitlines()[-1])
    assert "line 1" in err["error"]


@pytest.mark.slow  # 40.9s
def test_cli_push_content_only_rows_get_unique_identities(tmp_path):
    """Rows with neither path nor chunk_index get chunk_index = line
    number: dedup-flagged content-only batches work instead of
    tripping the identity-collision guard, and nulls fail clean with
    a line number."""
    store = str(tmp_path / "co_store")
    common = ["--store", store, "--dim", "16", "--master", "local[2]"]

    f = tmp_path / "content_only.jsonl"
    f.write_text(
        json.dumps({"content": " ".join(f"left{i}" for i in range(40))})
        + "\n"
        + json.dumps({"content": "totally different right side words"})
        + "\n"
    )
    out = _run("push", "--file", str(f), "--lexical-dedup", "0.8", *common)
    assert out["rows_written"] == 2

    bad = tmp_path / "nulls.jsonl"
    bad.write_text('{"content": null}\n')
    proc = subprocess.run(
        [sys.executable, "-m", "converttovectordb_spark", "push",
         "--file", str(bad), *common],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 1
    err = json.loads(proc.stdout.strip().splitlines()[-1])
    assert "line 1" in err["error"] and "content" in err["error"]

    bad2 = tmp_path / "badint.jsonl"
    bad2.write_text('{"content": "x words here", "chunk_index": null}\n')
    proc = subprocess.run(
        [sys.executable, "-m", "converttovectordb_spark", "push",
         "--file", str(bad2), *common],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 1
    err = json.loads(proc.stdout.strip().splitlines()[-1])
    assert "line 1" in err["error"]

    # missing file: clean JSON error, not a traceback
    proc = subprocess.run(
        [sys.executable, "-m", "converttovectordb_spark", "push",
         "--file", str(tmp_path / "nope.jsonl"), *common],
        capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 1
    err = json.loads(proc.stdout.strip().splitlines()[-1])
    assert "cannot read" in err["error"]


@pytest.mark.slow  # 185.9s
def test_cli_indexed_hybrid_lifecycle(tmp_path):
    """r12: build-lex-index + hybrid --use-lex-index/--use-index from
    fresh processes — missing indexes error cleanly (exit 1), the
    fully indexed door serves after both builds, and a store write
    makes the postings arm stale (rebuild heals)."""
    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "a.md").write_text("zephyr vector join scan document " * 40)
    (repo / "b.py").write_text("def g():\n    return 1\n" * 30)
    store = str(tmp_path / "store")
    common = [
        "--store", store, "--dim", "16", "--master", "local[2]",
        "--transactional",
    ]
    _run("ingest", "--repo", str(repo), *common)

    rc, out = _run_fail(
        "hybrid", "--query", "vector", "--use-lex-index", *common
    )
    assert rc == 1 and "no lexical index" in out["error"]

    bl = _run("build-lex-index", *common)
    assert bl["index_path"].endswith("_lexidx") and bl["n_docs"] >= 2

    _run("build-index", "--num-clusters", "2", *common)
    out = _run(
        "hybrid", "--query", "vector scan",
        "--use-lex-index", "--use-index", "--nprobe", "2", *common,
    )
    assert out["results"] and out["results"][0]["lex_rank"] == 1

    # store write → stale postings; --allow-stale serves the snapshot
    (repo / "c.md").write_text("new arrival vector " * 10)
    _run("ingest", "--repo", str(repo), *common)
    rc, err = _run_fail(
        "hybrid", "--query", "vector", "--use-lex-index", *common
    )
    assert rc == 1 and "stale" in err["error"]
    ok = _run(
        "hybrid", "--query", "vector", "--use-lex-index",
        "--allow-stale", *common,
    )
    assert ok["results"]
