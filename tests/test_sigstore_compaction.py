"""Write-door auto-compaction for the lexical signature artifact.

r10's last unbounded small-file producer: `MinHashSignatureStore.append`
landed one parquet dir per lexical-dedup batch, folded only by a full
`rebuild`. The policy mirrors the store's and the IVF index's: fold
post-commit (the token is already durable), warn-don't-fail, and keep
the data-then-token crash-window semantics — including the new reverse
window (token present, data dir renamed away mid-swap), which must
read as "artifact absent", never crash a reader or bless missing rows.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from converttovectordb_spark.sources.sigstore import (
    DEFAULT_AUTO_COMPACT_AFTER,
    MinHashSignatureStore,
)

SIG_SCHEMA = (
    "rid string, sig array<int>, band_id int, band_key bigint, chash bigint"
)


def _sigs(spark, rids):
    return spark.createDataFrame(
        [(r, [1, 2, 3, 4], b, hash(r) % 97, hash(r)) for r in rids for b in (0, 1)],
        SIG_SCHEMA,
    )


def _rows(store):
    return sorted(
        (r.rid, tuple(r.sig), r.band_id, r.band_key, r.chash)
        for r in store.load().collect()
    )


def _ndirs(store):
    return len(store._batch_dirs())


def test_appends_fold_at_k_rows_and_token_preserved(spark, tmp_path):
    sig = MinHashSignatureStore(
        spark, str(tmp_path / "sigs"), auto_compact_after=3
    )
    ctl = MinHashSignatureStore(
        spark, str(tmp_path / "ctl"), auto_compact_after=None
    )
    for i in range(5):
        batch = _sigs(spark, [f"p{i}#0", f"p{i}#1"])
        sig.append(batch, digest=f"d{i}")
        ctl.append(batch, digest=f"d{i}")
    # control accrues one dir per append; the policy bounds the live
    # count below K and the fold is content-neutral
    assert _ndirs(ctl) == 5
    assert _ndirs(sig) < 3
    assert _rows(sig) == _rows(ctl)
    assert sig.token() == "d4" == ctl.token()


def test_compact_is_content_and_token_neutral(spark, tmp_path):
    sig = MinHashSignatureStore(
        spark, str(tmp_path / "sigs"), auto_compact_after=None
    )
    for i in range(4):
        sig.append(_sigs(spark, [f"p{i}#0"]), digest=f"d{i}")
    before = _rows(sig)
    tok_before = sig.token()
    assert sig.compact() == 4
    assert _ndirs(sig) == 1
    assert _rows(sig) == before
    assert sig.token() == tok_before
    # nothing left to fold
    assert sig.compact() == 0


def test_compact_absent_artifact_is_noop(spark, tmp_path):
    sig = MinHashSignatureStore(spark, str(tmp_path / "nope"))
    assert sig.compact() == 0


def test_token_without_data_reads_absent(spark, tmp_path):
    """The swap's rename-away crash window: token file present, data
    dir gone → token() is None (callers rebuild) instead of a fresh
    digest over vanished rows."""
    import shutil

    sig = MinHashSignatureStore(spark, str(tmp_path / "sigs"))
    sig.append(_sigs(spark, ["a#0"]), digest="d0")
    assert sig.token() == "d0"
    shutil.rmtree(sig._data_path())
    assert sig.token() is None
    assert not sig.exists()


def test_append_commits_despite_fold_failure(spark, tmp_path, monkeypatch):
    sig = MinHashSignatureStore(
        spark, str(tmp_path / "sigs"), auto_compact_after=2
    )
    sig.append(_sigs(spark, ["a#0"]), digest="d0")
    monkeypatch.setattr(
        sig, "compact", lambda: (_ for _ in ()).throw(OSError("disk"))
    )
    with pytest.warns(RuntimeWarning, match="auto-compaction"):
        sig.append(_sigs(spark, ["b#0"]), digest="d1")
    assert sig.token() == "d1"  # the commit preceded (and survived) the fold
    assert _ndirs(sig) == 2


def test_auto_compact_after_validated(spark, tmp_path):
    with pytest.raises(ValueError, match="auto_compact_after"):
        MinHashSignatureStore(
            spark, str(tmp_path / "s"), auto_compact_after=1
        )


def test_default_policy_is_armed():
    assert DEFAULT_AUTO_COMPACT_AFTER >= 2


LEX = " ".join(f"w{i}" for i in range(40))


def _crawl(tmp_path, name, files):
    repo = tmp_path / name
    repo.mkdir()
    for fname, text in files.items():
        (repo / fname).write_text(text)
    return str(repo)


@pytest.mark.slow  # 73.9s
def test_engine_lexical_batches_fold_and_decisions_unchanged(
    spark, tmp_path
):
    """Model test at the engine door: K lexical-dedup ingests against a
    compacting engine vs a non-folding control — identical drop
    decisions and store contents, identical artifact rows, bounded dir
    count; and a post-fold near-dup arrival is still dropped (the heal
    and candidate joins read the folded artifact transparently)."""
    from converttovectordb_spark.engine import VectorEngine

    crawls = [
        _crawl(tmp_path, "c0", {"a.txt": LEX}),
        _crawl(tmp_path, "c1", {"b.txt": "alpha beta gamma delta " * 10}),
        _crawl(tmp_path, "c2", {"c.txt": "epsilon zeta eta theta " * 10}),
        _crawl(tmp_path, "c3", {"d.txt": "iota kappa lambda mu " * 10}),
    ]
    eng = VectorEngine(
        spark, str(tmp_path / "st"), dim=16,
        transactional=True, auto_compact_after=2,
    )
    ctl = VectorEngine(spark, str(tmp_path / "st_ctl"), dim=16)
    ctl_sig = ctl._sig_store()
    ctl_sig.auto_compact_after = None  # control never folds

    def ctl_store():
        return ctl_sig

    ctl._sig_store = ctl_store
    for c in crawls:
        eng.ingest(c, lexical_dedup=0.7)
        ctl.ingest(c, lexical_dedup=0.7)
    assert _ndirs(eng._sig_store()) < _ndirs(ctl_sig)

    def content_set(e):
        return sorted(
            (os.path.basename(r.path), r.content)
            for r in e.store.load().select("path", "content").collect()
        )

    assert content_set(eng) == content_set(ctl)
    assert (
        sorted(map(tuple, eng._sig_store().load().collect()))
        == sorted(map(tuple, ctl_sig.load().collect()))
    )
    # post-fold behavior: a near-dup of batch-0 content under a new
    # path is still dropped, a fresh doc still lands
    probe = _crawl(
        tmp_path, "c4",
        {"dup.txt": LEX + " tail", "new.txt": "totally novel telescope notes"},
    )
    out_e = eng.ingest(probe, lexical_dedup=0.7)
    assert {os.path.basename(r.path) for r in out_e.select("path").collect()} \
        == {"new.txt"}
    # the orphan-rid rebuild path is untouched by folding: clear, then
    # a flagged ingest of already-seen content must land (empty store)
    eng.clear()
    again = eng.ingest(crawls[0], lexical_dedup=0.7)
    assert again.count() == 1


@pytest.mark.slow  # 8.3s
def test_heal_after_fold(spark, tmp_path):
    """An unflagged ingest between flagged ones AFTER a compaction:
    the (rid, chash) delta heal reads the folded artifact and the
    interim rows dedupe arrivals."""
    from converttovectordb_spark.engine import VectorEngine

    eng = VectorEngine(spark, str(tmp_path / "st"), dim=16)
    r0 = _crawl(tmp_path, "h0", {"a.txt": LEX})
    r1 = _crawl(tmp_path, "h1", {"b.txt": "nu xi omicron pi rho " * 8})
    eng.ingest(r0, lexical_dedup=0.7)
    eng._sig_store().compact()
    eng.ingest(r1)  # unflagged → artifact goes stale
    # near-dup of the UNFLAGGED batch's content: the heal must cover it
    probe = _crawl(
        tmp_path, "h2", {"c.txt": "nu xi omicron pi rho " * 8 + " zz"}
    )
    out = eng.ingest(probe, lexical_dedup=0.7)
    assert out.count() == 0


def test_crash_debris_swept_on_next_compact(spark, tmp_path):
    """r12 (ADVICE sigstore.py:650): orphaned tmp-*/data.old.* dirs
    from a crashed swap are garbage-collected at the head of the next
    compact/rebuild instead of accumulating forever."""
    store = MinHashSignatureStore(
        spark, str(tmp_path / "sigs"), auto_compact_after=None
    )
    store.rebuild(_sigs(spark, ["a#0", "a#1"]), "d0")
    store.append(_sigs(spark, ["b#0", "b#1"]), "d1")
    # plant crash debris from a hypothetical killed swap
    os.makedirs(os.path.join(store.path, "tmp-deadbeef"))
    os.makedirs(os.path.join(store.path, "data.old.cafef00d"))
    with open(os.path.join(store.path, ".token.feed"), "w") as fh:
        fh.write("{}")
    n = store.load().count()
    assert store.compact() == 2
    names = set(os.listdir(store.path))
    assert not any(x.startswith("tmp-") for x in names)
    assert not any(x.startswith("data.old.") for x in names)
    assert not any(x.startswith(".token.") for x in names)
    # content and token untouched by the sweep
    assert store.load().count() == n
    assert store.token() == "d1"


def test_crashed_swap_empty_shell_recovers(spark, tmp_path):
    """r12 review: a compact/rebuild killed between renames used to
    leave a PRESENT-but-empty data dir with a valid token — blessed
    but unloadable, and the next sweep destroyed the parked recovery
    copy. Now: an empty shell reads ABSENT (exists/token), and the
    next maintenance pass RESTORES the single parked .old. copy before
    any sweep."""
    import os
    import shutil

    from converttovectordb_spark.sources.sigstore import (
        MinHashSignatureStore,
    )

    sig = MinHashSignatureStore(spark, str(tmp_path / "sigs"))
    rows = spark.createDataFrame(
        [(f"r{i}", [i, i + 1], 0, i, i * 7) for i in range(6)],
        "rid string, sig array<int>, band_id int, band_key bigint, "
        "chash bigint",
    )
    sig.append(rows, digest="d1")
    want = sorted(r["rid"] for r in sig.load().collect())

    # simulate the crash window: data renamed away, empty shell made,
    # staged rename never ran
    data = sig._data_path()
    os.rename(data, data + ".old.deadbeef")
    os.makedirs(data)
    assert sig.exists() is False
    assert sig.token() is None  # blessed-but-unloadable is gone

    # next maintenance restores the parked copy before sweeping
    sig.compact()
    assert sig.exists() is True
    assert sig.token() == "d1"
    assert sorted(r["rid"] for r in sig.load().collect()) == want
    names = set(os.listdir(str(tmp_path / "sigs")))
    assert not any(".old." in n or n.startswith("tmp-") for n in names)

    # ambiguous double-park: nothing restored, artifact reads absent
    os.rename(data, data + ".old.aaaa")
    shutil.copytree(data + ".old.aaaa", data + ".old.bbbb")
    assert sig.exists() is False and sig.token() is None
