"""The one integrity door (r12 verdict #3): `VectorEngine.fsck()` runs
every artifact's integrity/recovery pass and reports a typed findings
list. Each test injects one documented corruption class and asserts the
single verb finds it (and, where the repair is safe, heals it)."""

from __future__ import annotations

import json
import os
import shutil

import pytest

from converttovectordb_spark.embeddings import hash_embedder
from converttovectordb_spark.engine import VectorEngine

DIM = 8


def _mkdocs(spark, tag, n=8):
    vecs = [[float(i == j % DIM) for i in range(DIM)] for j in range(n)]
    return spark.createDataFrame(
        [
            (f"{tag}/f{j}.txt", ".txt", 0, 1, f"{tag} doc {j} words", v, 0.0)
            for j, v in enumerate(vecs)
        ],
        "path string, extension string, chunk_index int, "
        "total_chunks int, content string, embedding array<float>, "
        "timestamp double",
    )


@pytest.fixture()
def eng(spark, tmp_path):
    e = VectorEngine(
        spark,
        str(tmp_path / "store"),
        embedder=hash_embedder(DIM),
        dim=DIM,
        transactional=True,
    )
    e.store.append(_mkdocs(spark, "base"))
    return e


def _by_check(findings, check):
    return [f for f in findings if f["check"] == check]


def test_clean_tree_is_empty(eng):
    assert eng.fsck() == []


def test_torn_manifest_found(eng):
    mdir = eng.store._manifest_path()
    with open(os.path.join(mdir, "7.json"), "w") as fh:
        fh.write('{"batch_dir": "trunc')  # torn JSON
    hits = _by_check(eng.fsck(), "torn_manifest")
    assert hits and hits[0]["severity"] == "error"
    assert "7.json" in hits[0]["detail"]


def test_missing_batch_dir_found(eng):
    v = eng.store._versions()[0]
    m = eng.store._read_manifest(v)
    shutil.rmtree(m["batch_dir"])
    hits = _by_check(eng.fsck(), "missing_batch_dir")
    assert hits and hits[0]["severity"] == "error"


def test_orphan_batch_dir_reported_never_removed(eng):
    data_root = os.path.join(eng.store.path, eng.store.DATA_DIR)
    orphan = os.path.join(data_root, "deadbeefcafe")
    os.makedirs(orphan)
    hits = _by_check(eng.fsck(heal=True), "orphan_batch_dir")
    assert hits and hits[0]["severity"] == "warn"
    assert not hits[0]["healed"]
    assert os.path.isdir(orphan)  # a mid-flight append must survive


def test_commit_tmp_debris_healed(eng):
    mdir = eng.store._manifest_path()
    tmp = os.path.join(mdir, ".commit.deadbeef.tmp")
    with open(tmp, "w") as fh:
        json.dump({}, fh)
    hits = _by_check(eng.fsck(), "commit_tmp_debris")
    assert hits and not hits[0]["healed"] and os.path.exists(tmp)
    hits = _by_check(eng.fsck(heal=True), "commit_tmp_debris")
    assert hits and hits[0]["healed"] and not os.path.exists(tmp)


def test_vacuum_debt_info(eng, spark):
    eng.store.append(_mkdocs(spark, "more"))
    eng.store.compact()
    hits = _by_check(eng.fsck(), "vacuum_debt")
    assert hits and hits[0]["severity"] == "info"
    eng.store.vacuum()
    assert not _by_check(eng.fsck(), "vacuum_debt")


def test_ivf_stats_mismatch_detected_and_healed(spark, tmp_path):
    # plain (non-transactional) index: the histogram crash window
    eng = VectorEngine(
        spark, str(tmp_path / "s2"), embedder=hash_embedder(DIM), dim=DIM
    )
    eng.store.append(_mkdocs(spark, "base"))
    eng.build_index(num_clusters=2)
    stats_path = eng._index._stats_path()
    with open(stats_path) as fh:
        stats = json.load(fh)
    stats["n_docs"] = 999  # simulate the crashed-append stale count
    with open(stats_path, "w") as fh:
        json.dump(stats, fh)
    hits = _by_check(eng.fsck(), "stats_histogram_mismatch")
    assert hits and hits[0]["severity"] == "error" and not hits[0]["healed"]
    hits = _by_check(eng.fsck(heal=True), "stats_histogram_mismatch")
    assert hits and hits[0]["healed"]
    assert not _by_check(eng.fsck(), "stats_histogram_mismatch")


@pytest.mark.slow  # 9.8s
def test_stale_curve_stamp_found(spark, tmp_path):
    eng = VectorEngine(
        spark, str(tmp_path / "s3"), embedder=hash_embedder(DIM), dim=DIM
    )
    eng.store.append(_mkdocs(spark, "base"))
    eng.build_index(num_clusters=2, recall_sample=4, mrl_recall_sample=4)
    assert eng.fsck() == []
    # grow the store far past the 25% budget without re-measuring
    eng.store.append(_mkdocs(spark, "grow"))
    eng.append_to_index()
    findings = eng.fsck()
    assert _by_check(findings, "stale_recall_curve")
    assert _by_check(findings, "stale_mrl_curve")
    assert all(f["severity"] == "warn" for f in findings
               if f["check"].startswith("stale_"))


def test_ivf_orphan_rids_found(spark, tmp_path):
    eng = VectorEngine(
        spark, str(tmp_path / "s4"), embedder=hash_embedder(DIM), dim=DIM,
        transactional=True,
    )
    eng.store.append(_mkdocs(spark, "base"))
    eng.build_index(num_clusters=2, transactional=True)
    assert eng.fsck() == []
    # upsert away some rows: the index now carries identities the
    # store dropped
    keep = _mkdocs(spark, "base", n=2)
    eng.store.overwrite(keep)
    hits = _by_check(eng.fsck(), "orphan_rids")
    assert hits and hits[0]["artifact"] == "ivf_index"
    assert hits[0]["severity"] == "error"
    assert "6" in hits[0]["detail"]  # 8 built − 2 kept


def test_lex_orphan_rids_found(spark, tmp_path):
    eng = VectorEngine(
        spark, str(tmp_path / "s5"), embedder=hash_embedder(DIM), dim=DIM,
        transactional=True,
    )
    eng.store.append(_mkdocs(spark, "base"))
    eng.build_lex_index()
    assert eng.fsck() == []
    eng.store.overwrite(_mkdocs(spark, "base", n=3))
    hits = _by_check(eng.fsck(), "orphan_rids")
    assert hits and hits[0]["artifact"] == "lex_index"


def test_lex_crashed_swap_recovered(spark, tmp_path):
    from converttovectordb_spark.plans.lex_index import POSTINGS_SUBDIR

    eng = VectorEngine(
        spark, str(tmp_path / "s6"), embedder=hash_embedder(DIM), dim=DIM,
        transactional=True,
    )
    eng.store.append(_mkdocs(spark, "base"))
    eng.build_lex_index()
    lex_path = f"{eng.store.path}_lexidx"
    target = os.path.join(lex_path, POSTINGS_SUBDIR)
    os.rename(target, target + ".old.deadbeef")  # the parked pre-swap copy
    hits = _by_check(eng.fsck(), "crashed_swap")
    assert hits and hits[0]["severity"] == "error" and not hits[0]["healed"]
    hits = _by_check(eng.fsck(heal=True), "crashed_swap")
    assert hits and hits[0]["healed"]
    assert os.path.isdir(target)
    assert eng.fsck() == []


def test_lex_torn_append_found(spark, tmp_path):
    from converttovectordb_spark.plans.lex_index import META_FILE

    eng = VectorEngine(
        spark, str(tmp_path / "s7"), embedder=hash_embedder(DIM), dim=DIM,
        transactional=True,
    )
    eng.store.append(_mkdocs(spark, "base"))
    eng.build_lex_index()
    lex_path = f"{eng.store.path}_lexidx"
    meta_path = os.path.join(lex_path, META_FILE)
    with open(meta_path) as fh:
        meta = json.load(fh)
    meta["n_docs"] = meta["n_docs"] - 1  # doclens ahead of the manifest
    with open(meta_path, "w") as fh:
        json.dump(meta, fh)
    hits = _by_check(eng.fsck(), "torn_append")
    assert hits and hits[0]["severity"] == "error"
    assert "rebuild" in hits[0]["detail"]


def test_sigstore_swap_and_debris(spark, tmp_path):
    eng = VectorEngine(
        spark, str(tmp_path / "s8"), embedder=hash_embedder(DIM), dim=DIM,
        transactional=True,
    )
    repo = tmp_path / "repo"
    repo.mkdir()
    (repo / "a.txt").write_text("alpha beta gamma delta " * 20)
    (repo / "b.txt").write_text("epsilon zeta eta theta " * 20)
    eng.ingest(str(repo), lexical_dedup=0.8)
    sig = eng._sig_store()
    assert sig.exists()
    # crashed swap: rename data away, leaving one parked copy
    data = sig._data_path()
    os.rename(data, data + ".old.cafebabe")
    hits = _by_check(eng.fsck(), "crashed_swap")
    assert [h["artifact"] for h in hits] == ["sigstore"]
    assert not hits[0]["healed"]
    hits = _by_check(eng.fsck(heal=True), "crashed_swap")
    assert hits and hits[0]["healed"] and sig.exists()
    # plain debris beside live data sweeps under heal
    os.makedirs(os.path.join(sig.path, "tmp-junk"))
    hits = _by_check(eng.fsck(), "swap_debris")
    assert hits and not hits[0]["healed"]
    hits = _by_check(eng.fsck(heal=True), "swap_debris")
    assert hits and hits[0]["healed"]
    assert eng.fsck() == []


def test_cli_fsck_verb(spark, tmp_path, capsys):
    from converttovectordb_spark import __main__ as cli

    store = str(tmp_path / "s9")
    eng = VectorEngine(
        spark, store, embedder=hash_embedder(DIM), dim=DIM,
        transactional=True,
    )
    eng.store.append(_mkdocs(spark, "base"))
    rc = cli.main(
        ["fsck", "--store", store, "--dim", str(DIM), "--transactional"]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["command"] == "fsck"
    assert out["healthy"] is True and out["findings"] == []
    # inject a torn manifest → healthy flips
    with open(os.path.join(store, "_manifest", "9.json"), "w") as fh:
        fh.write("{broken")
    rc = cli.main(
        ["fsck", "--store", store, "--dim", str(DIM), "--transactional"]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["healthy"] is False
    assert any(f["check"] == "torn_manifest" for f in out["findings"])


def test_lex_torn_meta_is_a_finding_not_a_crash(spark, tmp_path):
    from converttovectordb_spark.plans.lex_index import META_FILE

    eng = VectorEngine(
        spark, str(tmp_path / "s10"), embedder=hash_embedder(DIM), dim=DIM,
        transactional=True,
    )
    eng.store.append(_mkdocs(spark, "base"))
    eng.build_lex_index()
    with open(
        os.path.join(f"{eng.store.path}_lexidx", META_FILE), "w"
    ) as fh:
        fh.write("{torn")
    hits = _by_check(eng.fsck(), "torn_meta")
    assert hits and hits[0]["severity"] == "error"


def test_ivf_stage_debris_swept(spark, tmp_path):
    eng = VectorEngine(
        spark, str(tmp_path / "s11"), embedder=hash_embedder(DIM), dim=DIM
    )
    eng.store.append(_mkdocs(spark, "base"))
    eng.build_index(num_clusters=2)
    debris = os.path.join(f"{eng.store.path}_ivf", "tmp-stage-deadbeef")
    os.makedirs(debris)
    hits = _by_check(eng.fsck(), "stage_debris")
    assert hits and not hits[0]["healed"] and os.path.isdir(debris)
    hits = _by_check(eng.fsck(heal=True), "stage_debris")
    assert hits and hits[0]["healed"] and not os.path.isdir(debris)
    assert eng.fsck() == []
