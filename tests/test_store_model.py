"""Model-based randomized test of TransactionalDocumentStore.

A pure-Python commit-log model (a list of commits, each with rows,
optional tombstone keys, and a `replaces` set) replays the SAME
semantics the store documents — merge-on-read tombstones with the
`_sv >= _tv` own-commit-survives rule, compaction superseding prior
versions, vacuum deleting only non-live dirs — and every operation in
a seeded random sequence is checked against the real store's
`load()` / `load(at_version=...)` / `compact()` / `vacuum()` results.

The model is ~40 lines and trusts nothing from the implementation
(no shared code), so divergence in file handling, manifest logic, the
tombstone join, or snapshot reconstruction surfaces as a mismatch.
"""

from __future__ import annotations

import random

import pytest

from converttovectordb_spark.sources.store import (
    TransactionalDocumentStore,
)

KEY_POOL = ["a.txt", "b.txt", "c.txt", "d.txt"]


class ModelStore:
    """Commit log: [(version, rows, tombstone_keys_or_None, replaces)].
    rows = [(key, payload)] — duplicates allowed (append never dedupes).
    """

    def __init__(self):
        self.commits: list[tuple[int, list, set | None, set]] = []
        self.vacuumed: set[int] = set()

    def _next_version(self) -> int:
        return self.commits[-1][0] + 1 if self.commits else 0

    def append(self, rows):
        self.commits.append((self._next_version(), list(rows), None, set()))

    def upsert(self, rows):
        keys = {k for k, _ in rows}
        self.commits.append((self._next_version(), list(rows), keys, set()))

    def _live_versions(self, at=None):
        vs = [c for c in self.commits if at is None or c[0] <= at]
        replaced = set()
        for _, _, _, reps in vs:
            replaced.update(reps)
        return [c for c in vs if c[0] not in replaced]

    def snapshot(self, at=None):
        live = self._live_versions(at)
        tomb_max: dict[str, int] = {}
        for v, _, keys, _ in live:
            for k in keys or ():
                tomb_max[k] = max(tomb_max.get(k, -1), v)
        out = []
        for v, rows, _, _ in live:
            for k, payload in rows:
                if k not in tomb_max or v >= tomb_max[k]:
                    out.append((k, payload))
        return sorted(out)

    def compact(self):
        snap = self.snapshot()
        replaced = {c[0] for c in self.commits}
        self.commits.append((self._next_version(), list(snap), None, replaced))
        return len(snap)

    def compact_range(self, rng):
        """Mirror of the store's L0 policy step: a tombstone-free live
        suffix is rewritten verbatim — its rows are never shadowed by
        older tombstones, so raw concatenation IS their visible form."""
        rows = [r for _v, rws, _k, _r in rng for r in rws]
        self.commits.append(
            (self._next_version(), rows, None, {c[0] for c in rng})
        )
        return len(rows)

    def vacuum(self):
        live = {c[0] for c in self._live_versions()}
        n = 0
        for v, _, keys, _ in self.commits:
            if v in live or v in self.vacuumed:
                continue
            self.vacuumed.add(v)
            n += 1 + (1 if keys is not None else 0)  # batch dir + keys dir
        return n

    def travel_versions(self):
        """Versions still safely time-travelable (no vacuumed dir is
        reachable from them)."""
        ok = []
        for v, _, _, _ in self.commits:
            reach = {c[0] for c in self._live_versions(at=v)}
            if not (reach & self.vacuumed):
                ok.append(v)
        return ok


def _mk_batch(spark, rows):
    return spark.createDataFrame(
        [(k, 0, p, [1.0, 2.0]) for k, p in rows],
        "path string, chunk_index int, content string, "
        "embedding array<float>",
    )


def _store_rows(store, at=None):
    df = store.load(require_embedding=False, at_version=at)
    return sorted(
        (r["path"], r["content"])
        for r in df.select("path", "content").collect()
    )


@pytest.mark.parametrize("seed", [11, 47])
def test_store_matches_model_with_auto_compaction(spark, tmp_path, seed):
    """VERDICT r9 #4: the write-door compaction policy, checked against
    the same model — every append/upsert that brings the live version
    count to K triggers exactly one compaction inside the write, and
    snapshots/time-travel stay identical to the model's replay."""
    K = 3
    rng = random.Random(seed)
    store = TransactionalDocumentStore(
        spark, str(tmp_path / "store"), auto_compact_after=K
    )
    model = ModelStore()
    payload_n = 0

    def fresh_rows(n):
        nonlocal payload_n
        out = []
        for _ in range(n):
            payload_n += 1
            out.append((rng.choice(KEY_POOL), f"p{payload_n}"))
        return out

    def model_write(kind, rows):
        getattr(model, kind)(rows)
        live = model._live_versions()
        if len(live) >= K:
            # two-level mirror: L0 = plain commits after the last live
            # compaction product (replaces non-empty), head never in L0
            blob_idx = [i for i, c in enumerate(live) if c[3]]
            cut = blob_idx[-1] + 1 if blob_idx else 1
            fresh = live[cut:]
            if (
                len(blob_idx) < K
                and len(fresh) >= 2
                and all(c[2] is None for c in fresh)
            ):
                model.compact_range(fresh)
            else:
                model.compact()  # blob-saturated / tombstoned → fold

    ops = ["append"] + [
        rng.choice(["append", "upsert", "append", "travel"])
        for _ in range(11)
    ]
    for op in ops:
        if op == "travel":
            travelable = model.travel_versions()
            if travelable:
                v = rng.choice(travelable)
                assert _store_rows(store, at=v) == model.snapshot(at=v)
            continue
        rows = fresh_rows(rng.randint(1, 2))
        if op == "append":
            store.append(_mk_batch(spark, rows))
        else:
            store.upsert(_mk_batch(spark, rows), key_cols=("path",))
        model_write(op, rows)
        assert _store_rows(store) == model.snapshot(), (
            f"snapshot diverged after {op} (seed {seed})"
        )
        assert store.version() == model.commits[-1][0]
    # the policy actually fired: compaction commits exist, and the live
    # set stays bounded under K + the in-flight batch
    compactions = [
        m for m in store.history() if m.get("replaces")
    ]
    assert compactions
    assert len(store._live_versions(store._versions())) <= K


def test_auto_compaction_exactly_once_and_replay_dedup(spark, tmp_path):
    """K tiny appends → exactly ONE compaction, and it is TIERED: the
    tail [1..K-1] is rewritten, the head batch dir is untouched on
    disk; a txn replay of a superseded (compacted-away) epoch is still
    a no-op, because manifests are superseded, never deleted."""
    import os

    K = 4
    store = TransactionalDocumentStore(
        spark, str(tmp_path / "store"), auto_compact_after=K
    )
    for i in range(K):
        store.append(
            _mk_batch(spark, [("a.txt", f"p{i}")]), txn_id=f"epoch-{i}"
        )
    hist = store.history()
    compactions = [m for m in hist if m.get("replaces")]
    assert len(compactions) == 1
    # tiered: only the tail superseded, head blob's dir still live
    assert compactions[0]["replaces"] == list(range(1, K))
    assert compactions[0]["snapshot_of"] == K - 1
    head_dir = store._read_manifest(0)["batch_dir"]
    assert os.path.isdir(head_dir)
    assert len(hist) == K + 1
    # replay of a compacted-away epoch: still deduped
    assert (
        store.append(
            _mk_batch(spark, [("a.txt", "dup")]), txn_id="epoch-1"
        )
        == 0
    )
    assert _store_rows(store) == sorted(
        ("a.txt", f"p{i}") for i in range(K)
    )
    # policy validation: a rewrite-every-append cadence is rejected
    with pytest.raises(ValueError, match="auto_compact_after"):
        TransactionalDocumentStore(
            spark, str(tmp_path / "s2"), auto_compact_after=1
        )


def test_engine_auto_compaction_passthrough(spark, tmp_path):
    """VectorEngine(transactional=True, auto_compact_after=K) arms the
    store policy; without transactional it is a loud ValueError."""
    from converttovectordb_spark.engine import VectorEngine

    eng = VectorEngine(
        spark,
        str(tmp_path / "s"),
        dim=4,
        transactional=True,
        auto_compact_after=3,
    )
    assert eng.store.auto_compact_after == 3
    with pytest.raises(ValueError, match="transactional"):
        VectorEngine(
            spark, str(tmp_path / "s2"), dim=4, auto_compact_after=3
        )


def test_auto_compaction_failure_does_not_fail_the_append(
    spark, tmp_path, monkeypatch
):
    """The append is durable BEFORE the rewrite fires; a compaction
    failure must surface as a warning, not as the append's failure —
    a raising append would make the (txn-less) REST caller retry a
    write that already landed, double-writing it."""
    import warnings

    store = TransactionalDocumentStore(
        spark, str(tmp_path / "store"), auto_compact_after=2
    )
    store.append(_mk_batch(spark, [("a.txt", "p0")]))

    def boom(self):
        raise OSError("disk full mid-rewrite")

    monkeypatch.setattr(TransactionalDocumentStore, "compact", boom)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        written = store.append(_mk_batch(spark, [("b.txt", "p1")]))
    assert written == 1  # the append itself succeeded
    assert any("auto-compaction" in str(w.message) for w in caught)
    assert _store_rows(store) == [("a.txt", "p0"), ("b.txt", "p1")]
    monkeypatch.undo()
    # next append retries the compaction and succeeds
    store.append(_mk_batch(spark, [("c.txt", "p2")]))
    assert any(m.get("replaces") for m in store.history())


def test_compaction_concurrent_upsert_not_resurrected(
    spark, tmp_path, monkeypatch
):
    """Code-review r10: an upsert that commits WHILE a compaction
    rewrite runs must keep winning after the compacted commit lands —
    the rewritten pre-upsert rows carry the snapshot's basis version
    (snapshot_of), not the compacted commit's own version, so the
    interleaved tombstone still beats them."""
    store = TransactionalDocumentStore(spark, str(tmp_path / "store"))
    store.upsert(_mk_batch(spark, [("a.txt", "v1")]), key_cols=("path",))
    store.append(_mk_batch(spark, [("b.txt", "x")]))

    orig_load = TransactionalDocumentStore.load
    fired = {}

    def racing_load(self, **kw):
        df = orig_load(self, **kw)
        if not fired:
            fired["x"] = True
            # a second writer wins the next manifest version while the
            # rewrite is in flight
            writer = TransactionalDocumentStore(spark, store.path)
            writer.upsert(
                _mk_batch(spark, [("a.txt", "v2")]), key_cols=("path",)
            )
        return df

    monkeypatch.setattr(TransactionalDocumentStore, "load", racing_load)
    store.compact()
    monkeypatch.undo()
    rows = _store_rows(store)
    assert ("a.txt", "v2") in rows, rows  # the upsert won
    assert ("a.txt", "v1") not in rows, rows  # not resurrected
    assert ("b.txt", "x") in rows


def test_compact_tail_resurrection_guard(spark, tmp_path):
    """Code-review r10 (2nd pass): a compaction product INSIDE a
    compact_tail range whose snapshot_of is OLDER than a live tombstone
    OUTSIDE the range must be refused — re-stamping its rows to the
    range's max would lift them past the tombstone and resurrect
    replaced content. The state is forged here to simulate the
    cross-process race that creates it (an upsert winning a manifest
    version between a tail-compaction's basis capture and its commit)."""
    import json
    import os

    store = TransactionalDocumentStore(spark, str(tmp_path / "store"))
    store.append(_mk_batch(spark, [("d.txt", "head")]))  # v0
    store.append(_mk_batch(spark, [("a.txt", "v1")]))  # v1
    store.upsert(_mk_batch(spark, [("a.txt", "v2")]), key_cols=("path",))  # v2
    store.append(_mk_batch(spark, [("b.txt", "x")]))  # v3
    store.append(_mk_batch(spark, [("c.txt", "y")]))  # v4
    assert store.compact_tail([3, 4]) == 2  # B at v5, snapshot_of=4
    store.append(_mk_batch(spark, [("e.txt", "z")]))  # v6

    # forge the racy end-state: B claims a basis OLDER than the live
    # tombstone at v2
    mpath = os.path.join(store._manifest_path(), "5.json")
    m = json.load(open(mpath))
    m["snapshot_of"] = 1
    json.dump(m, open(mpath, "w"))

    with pytest.raises(ValueError, match="resurrect"):
        store.compact_tail([5, 6])
    # the full merge-materializing path handles it
    before = _store_rows(store)
    store.compact()
    assert _store_rows(store) == before


def test_index_auto_compaction(spark, tmp_path):
    """The index twin: K append epochs → one compaction commit, replay
    dedup intact, corpus identical."""
    from converttovectordb_spark.plans.ivf_index import (
        TransactionalIVFIndex,
    )

    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet"
    ).limit(120)
    index = TransactionalIVFIndex.build(
        emb.filter("vec_id < 40"), str(tmp_path / "tivf"), num_clusters=2
    )
    index.auto_compact_after = 3
    index.append(emb.filter("vec_id >= 40 and vec_id < 80"), txn_id="e1")
    hist_before = index._manifests()
    assert not any(m.get("replaces") for m in hist_before.values())
    index.append(emb.filter("vec_id >= 80"), txn_id="e2")  # live hits 3
    ms = index._manifests()
    compactions = [m for m in ms.values() if m.get("replaces")]
    assert len(compactions) == 1
    assert index.corpus().count() == emb.count()
    # replay of a superseded epoch still dedupes
    assert index.append(emb.limit(5), txn_id="e1") == 0
    assert index.corpus().count() == emb.count()


@pytest.mark.parametrize(
    "seed",
    [
        pytest.param(7, marks=pytest.mark.slow),  # 9.3s
        pytest.param(23, marks=pytest.mark.slow),  # 8.3s
        pytest.param(91, marks=pytest.mark.slow),  # 12.9s
    ],
)
def test_store_matches_model_over_random_ops(spark, tmp_path, seed):
    rng = random.Random(seed)
    store = TransactionalDocumentStore(spark, str(tmp_path / "store"))
    model = ModelStore()
    payload_n = 0

    def fresh_rows(n):
        nonlocal payload_n
        out = []
        for _ in range(n):
            payload_n += 1
            out.append((rng.choice(KEY_POOL), f"p{payload_n}"))
        return out

    # first op must be an append/upsert so the store exists
    ops = ["append"] + [
        rng.choice(["append", "upsert", "append", "upsert",
                    "compact", "vacuum", "travel"])
        for _ in range(13)
    ]
    for op in ops:
        if op == "append":
            rows = fresh_rows(rng.randint(1, 3))
            store.append(_mk_batch(spark, rows))
            model.append(rows)
        elif op == "upsert":
            rows = fresh_rows(rng.randint(1, 2))
            store.upsert(_mk_batch(spark, rows), key_cols=("path",))
            model.upsert(rows)
        elif op == "compact":
            got = store.compact()
            want = model.compact()
            assert got == want, f"compact rows {got} != model {want}"
        elif op == "vacuum":
            got = store.vacuum()
            want = model.vacuum()
            assert got == want, f"vacuum dirs {got} != model {want}"
        elif op == "travel":
            travelable = model.travel_versions()
            if travelable:
                v = rng.choice(travelable)
                assert _store_rows(store, at=v) == model.snapshot(at=v), (
                    f"time travel to v{v} diverged (ops so far: {ops})"
                )
            continue
        # after every mutating op: current snapshot + version agree
        assert _store_rows(store) == model.snapshot(), (
            f"snapshot diverged after {op} (seed {seed})"
        )
        assert store.version() == model.commits[-1][0]
