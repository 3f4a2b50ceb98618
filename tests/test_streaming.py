"""Structured Streaming job tests (memory sink + availableNow drain)."""

from __future__ import annotations

import datetime as dt
import json

import pytest

from converttovectordb_spark.embeddings import hash_embedder
from converttovectordb_spark.streaming.jobs import (
    EVENTS_SCHEMA,
    run_stream_to_memory,
    stream_events_hourly,
    stream_ingest_documents,
)


def test_stream_ingest_documents(spark, tmp_path):
    drop = tmp_path / "drop"
    drop.mkdir()
    recs = [
        {"path": "a.py", "content": "alpha " * 300, "extension": ".py"},
        {"path": "b.md", "content": "beta doc", "extension": ".md"},
    ]
    (drop / "batch1.json").write_text("\n".join(json.dumps(r) for r in recs))

    q = stream_ingest_documents(
        spark,
        str(drop),
        str(tmp_path / "store"),
        str(tmp_path / "ckpt"),
        embedder=hash_embedder(16),
        dim=16,
        chunk_size=500,
        overlap=100,
    )
    q.awaitTermination(60)

    out = spark.read.parquet(str(tmp_path / "store"))
    paths = {r.path for r in out.select("path").distinct().collect()}
    assert paths == {"a.py", "b.md"}
    multi = out.filter(out.path == "a.py").count()
    assert multi > 1  # long doc chunked
    assert out.filter(out.embedding.isNull()).count() == 0

    # idempotent restart: same checkpoint, no new files → no new rows
    n = out.count()
    q2 = stream_ingest_documents(
        spark, str(drop), str(tmp_path / "store"), str(tmp_path / "ckpt"),
        embedder=hash_embedder(16), dim=16,
    )
    q2.awaitTermination(60)
    assert spark.read.parquet(str(tmp_path / "store")).count() == n

    # incremental restart: a NEW drop file → only its rows are added,
    # already-processed files are not re-ingested (checkpoint tracking)
    (drop / "batch2.json").write_text(
        json.dumps({"path": "c.py", "content": "gamma doc", "extension": ".py"})
    )
    q3 = stream_ingest_documents(
        spark, str(drop), str(tmp_path / "store"), str(tmp_path / "ckpt"),
        embedder=hash_embedder(16), dim=16,
    )
    q3.awaitTermination(60)
    out3 = spark.read.parquet(str(tmp_path / "store"))
    assert {r.path for r in out3.select("path").distinct().collect()} == {
        "a.py", "b.md", "c.py",
    }
    assert out3.filter(out3.path == "a.py").count() == multi


def test_stream_events_hourly(spark, tmp_path):
    src = tmp_path / "events"
    base = dt.datetime(2024, 1, 1, 0, 5, 0)
    rows = [
        (1, base, 1, "click", 1.0),
        (2, base + dt.timedelta(minutes=10), 1, "click", 2.0),
        (3, base + dt.timedelta(hours=1), 2, "view", 5.0),
    ]
    spark.createDataFrame(rows, EVENTS_SCHEMA).write.parquet(str(src))

    agg = stream_events_hourly(spark, str(src))
    q = run_stream_to_memory(agg, "hourly_test")
    q.stop()
    got = {
        (r.hour, r.event_type): (r.n_events, r.total_value)
        for r in spark.sql("SELECT * FROM hourly_test").collect()
    }
    # append mode only emits windows closed by the watermark; with
    # availableNow + 2h watermark the first window may be withheld, so
    # just assert the plan runs and state keys are sane.
    for (hour, etype), (n, v) in got.items():
        assert hour.minute == 0 and hour.second == 0
        assert etype in {"click", "view"}
        assert n >= 1


def test_stream_sessionize_state_across_batches(spark, tmp_path):
    """Sessions persist in state across micro-batches and are emitted
    exactly once, when closed by a later event (maxFilesPerTrigger=1
    forces the two files into separate micro-batches of one run)."""
    import json as _json
    import os
    import time as _time

    from converttovectordb_spark.streaming.stateful import stream_sessionize

    src = tmp_path / "sess_src"
    src.mkdir()
    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def rec(eid, uid, minutes, value):
        ts = base + dt.timedelta(minutes=minutes)
        return {"event_id": eid, "ts": ts.isoformat(), "user_id": uid,
                "event_type": "click", "value": value, "props": "{}"}

    # batch 1: user 1 opens a session (2 events, 10 min apart); batch 2
    # (newer mtime): a 40-min gap closes it and opens a new one.
    b1 = src / "b1.json"
    b1.write_text(
        "\n".join(_json.dumps(r) for r in [rec(1, 1, 0, 1.0), rec(2, 1, 10, 2.0)])
    )
    b2 = src / "b2.json"
    b2.write_text(_json.dumps(rec(3, 1, 50, 5.0)))
    now = _time.time()
    os.utime(b1, (now - 60, now - 60))
    os.utime(b2, (now, now))

    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    ev = (spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).json(str(src)))
    out = stream_sessionize(ev, gap_s=1800)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("sessions_out")
         .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
         .trigger(availableNow=True).start())
    q.processAllAvailable()
    q.stop()

    rows = spark.table("sessions_out").collect()
    # only the CLOSED session is emitted; the one opened by event 3 stays in state
    assert len(rows) == 1
    r = rows[0]
    assert r["user_id"] == 1 and r["n_events"] == 2
    assert r["total_value"] == 3.0
    assert r["session_start"] == base
    assert r["session_end"] == base + dt.timedelta(minutes=10)


def test_stream_ingest_transactional_exactly_once(spark, tmp_path):
    """foreachBatch into the transactional store: replayed epochs dedupe
    on the manifest txn id (the idempotent-sink contract)."""
    from converttovectordb_spark.sources.store import (
        TransactionalDocumentStore,
    )
    from converttovectordb_spark.streaming.jobs import (
        stream_ingest_transactional,
    )

    drop = tmp_path / "drop"
    drop.mkdir()
    recs = [{"path": "a.py", "content": "alpha " * 300, "extension": ".py"}]
    (drop / "b1.json").write_text("\n".join(json.dumps(r) for r in recs))
    store = TransactionalDocumentStore(spark, str(tmp_path / "tstore"))

    q = stream_ingest_transactional(
        spark, str(drop), store, str(tmp_path / "ck"),
        embedder=hash_embedder(16), dim=16, chunk_size=500, overlap=100,
    )
    q.awaitTermination(120)
    n = store.load().count()
    assert n > 0
    # simulate an epoch REPLAY (sink succeeded, checkpoint lost): the
    # same epoch's append must no-op on the txn id
    from converttovectordb_spark.streaming.jobs import stream_txn_id

    batch = store.load(at_version=0)
    replay_id = stream_txn_id(str(tmp_path / "ck"), 0)
    assert store.append(batch, txn_id=replay_id) == 0
    assert store.load().count() == n
    # a DIFFERENT query's checkpoint must NOT collide with this one's
    # epoch ids (the round-2 advisory: bare epoch counters silently
    # drop new data as replays after checkpoint recreation)
    other_id = stream_txn_id(str(tmp_path / "other_ck"), 0)
    assert other_id != replay_id
    # a NEW drop file is a new epoch → appended normally
    (drop / "b2.json").write_text(json.dumps(
        {"path": "c.md", "content": "gamma doc", "extension": ".md"}))
    q2 = stream_ingest_transactional(
        spark, str(drop), store, str(tmp_path / "ck"),
        embedder=hash_embedder(16), dim=16, chunk_size=500, overlap=100,
    )
    q2.awaitTermination(120)
    assert store.load().count() == n + 1


def test_stream_quality_gate_matches_batch_filter(spark):
    """The streamed Gopher gate must keep exactly the docs the batch
    filter keeps — same transform, two execution modes."""
    from pyspark.sql import functions as F

    from converttovectordb_spark.queries import (
        q_gopher_quality,
        q_stream_quality_gate,
    )

    sf = "/root/testdata/sf0.001"
    streamed = q_stream_quality_gate(spark, sf).collect()[0]
    batch_kept = q_gopher_quality(spark, sf).filter(F.col("keep")).count()
    assert streamed["n_kept"] == batch_kept


def test_stream_ingest_dedup_on_arrival(spark, tmp_path):
    """Streaming dedup-on-arrival: epoch 1 lands and builds the
    signature artifact; epoch 2's exact re-crawl of the same text
    under another path is dropped while fresh content lands — the
    stream gets the same drop semantics as the batch doors."""
    from converttovectordb_spark.engine import VectorEngine
    from converttovectordb_spark.streaming.jobs import stream_ingest_dedup

    text = " ".join(f"stream{i}" for i in range(60))
    drop = tmp_path / "drop_dedup"
    drop.mkdir()
    (drop / "e1.json").write_text(
        json.dumps({"path": "a.txt", "content": text, "extension": ".txt"})
    )
    eng = VectorEngine(
        spark, str(tmp_path / "dedup_store"), dim=16, chunk_size=500,
        overlap=100,
    )
    ckpt = str(tmp_path / "dedup_ckpt")
    q = stream_ingest_dedup(eng, str(drop), ckpt, lexical_dedup=0.8)
    q.awaitTermination(60)
    n1 = eng.store.load().count()
    assert n1 >= 1
    assert {r.path for r in eng.store.load().select("path").collect()} == {
        "a.txt"
    }

    (drop / "e2.json").write_text(
        json.dumps(
            {"path": "copy.txt", "content": text, "extension": ".txt"}
        )
        + "\n"
        + json.dumps(
            {
                "path": "fresh.txt",
                "content": "genuinely different streaming content",
                "extension": ".txt",
            }
        )
    )
    q2 = stream_ingest_dedup(eng, str(drop), ckpt, lexical_dedup=0.8)
    q2.awaitTermination(60)
    paths = {r.path for r in eng.store.load().select("path").collect()}
    assert paths == {"a.txt", "fresh.txt"}
    # every copy.txt chunk dropped; fresh.txt is one short chunk
    assert eng.store.load().count() == n1 + 1


@pytest.mark.slow  # 7.9s
def test_stream_ingest_dedup_same_path_recrawl_one_epoch(spark, tmp_path):
    """A crawl and its re-crawl of the SAME path pending in one
    availableNow epoch must not kill the stream on the identity
    guard: the sink collapses to the newest file version per path
    (file modification time), and the streamed row's wall-clock stamp
    wins the newest-per-identity race against an earlier push."""
    import time as _time

    from converttovectordb_spark.engine import VectorEngine
    from converttovectordb_spark.schema import DOCUMENTS_SCHEMA
    from converttovectordb_spark.streaming.jobs import stream_ingest_dedup

    eng = VectorEngine(spark, str(tmp_path / "rc_store"), dim=16)
    # earlier push of a.txt (old content, wall-clock stamp)
    emb = [0.0] * 16
    emb[0] = 1.0
    eng.append_documents(
        spark.createDataFrame(
            [("a.txt", ".txt", 0, 1, "old pushed words here", emb,
              _time.time())],
            DOCUMENTS_SCHEMA,
        )
    )

    drop = tmp_path / "rc_drop"
    drop.mkdir()
    (drop / "crawl.json").write_text(
        json.dumps({"path": "a.txt",
                    "content": "first crawl version content",
                    "extension": ".txt"})
    )
    _time.sleep(1.1)  # distinct mtime for the re-crawl file
    (drop / "recrawl.json").write_text(
        json.dumps({"path": "a.txt",
                    "content": "second crawl version content",
                    "extension": ".txt"})
    )
    q = stream_ingest_dedup(
        eng, str(drop), str(tmp_path / "rc_ckpt"), lexical_dedup=0.8
    )
    q.awaitTermination(60)

    rows = eng.store.load().filter("path = 'a.txt'").collect()
    # push copy + ONE collapsed stream copy
    assert len(rows) == 2
    newest = max(rows, key=lambda r: r.timestamp)
    assert newest.content == "second crawl version content"


@pytest.mark.slow  # 10.0s
def test_retrain_check_cadence(spark, tmp_path, monkeypatch):
    """r12: retrain_check_every=K runs the drift check only on epochs
    with epoch_id % K == 0 (deterministic under replay), and the
    default K=1 checks every epoch; K<1 is rejected."""
    import json

    import converttovectordb_spark.streaming.jobs as jobs
    from converttovectordb_spark.plans.ivf_index import (
        TransactionalIVFIndex,
    )
    from converttovectordb_spark.sources.store import (
        TransactionalDocumentStore,
    )

    store = TransactionalDocumentStore(spark, str(tmp_path / "store"))
    seed = spark.createDataFrame(
        [("s.txt", ".txt", 1, 0, "seed", [1.0, 0.0], 0.0),
         ("t.txt", ".txt", 1, 0, "seed2", [0.0, 1.0], 0.0)],
        "path string, extension string, total_chunks int, "
        "chunk_index int, content string, embedding array<float>, "
        "timestamp double",
    )
    store.append(seed)
    base = str(tmp_path / "tivf")
    import os

    os.makedirs(base)
    idx_dir = os.path.join(base, "v0")
    index = TransactionalIVFIndex.build(
        store.load(), idx_dir, num_clusters=2
    )
    TransactionalIVFIndex.publish_current(base, idx_dir)

    checked = []

    def fake_retrain(store_, index_, threshold, *, seed=7):
        checked.append(True)
        return index_

    monkeypatch.setattr(jobs, "retrain_index_if_drifted", fake_retrain)

    drop = tmp_path / "drop"
    drop.mkdir()

    def run_epochs(n_files, every, ckpt_name):
        checked.clear()
        for i in range(n_files):
            (drop / f"{ckpt_name}_{i}.json").write_text(
                json.dumps(
                    {"path": f"{ckpt_name}{i}.txt", "extension": "txt",
                     "content": f"doc {ckpt_name} {i}"}
                )
            )
            q = jobs.stream_ingest_indexed(
                spark,
                str(drop),
                store,
                index,
                str(tmp_path / f"ckpt_{ckpt_name}"),
                dim=2,
                chunk_size=100,
                overlap=10,
                retrain_shift_threshold=99.0,
                retrain_check_every=every,
            )
            q.awaitTermination(120)
        return len(checked)

    # K=2 over epochs 0,1,2 → checks on epochs 0 and 2 only
    assert run_epochs(3, 2, "a") == 2
    # default-equivalent K=1 checks every epoch
    assert run_epochs(2, 1, "b") == 2

    import pytest

    with pytest.raises(ValueError, match="retrain_check_every"):
        jobs.stream_ingest_transactional(
            spark,
            str(drop),
            store,
            str(tmp_path / "ckpt_bad"),
            index=index,
            retrain_shift_threshold=1.0,
            retrain_check_every=0,
        )


def test_stream_funnel_state_across_batches(spark, tmp_path):
    """The funnel step machine persists per-user progress across
    micro-batches (view in batch 1, qualifying click in batch 2 →
    stage 2 emits in batch 2), enforces the strict-order + 24h-window
    contract (a click BEFORE the first view never counts; neither
    does a purchase past the window), and emits each stage at most
    once per user."""
    import json as _json
    import os
    import time as _time

    from converttovectordb_spark.streaming.stateful import stream_funnel

    src = tmp_path / "funnel_src"
    src.mkdir()
    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def rec(eid, uid, minutes, etype):
        ts = base + dt.timedelta(minutes=minutes)
        return {"event_id": eid, "ts": ts.isoformat(), "user_id": uid,
                "event_type": etype, "value": 0.0, "props": "{}"}

    # user 1: view(b1) → click(b2, +30min, in window) → purchase(b2,
    #   +25h after the click, OUT of window → stage 3 never fires)
    # user 2: click BEFORE any view, then view — only stage 1 fires
    # user 3: full funnel inside one batch, plus a SECOND qualifying
    #   click that must not re-emit stage 2
    b1 = src / "b1.json"
    b1.write_text("\n".join(_json.dumps(r) for r in [
        rec(1, 1, 0, "view"),
        rec(10, 2, 0, "click"),
        rec(11, 2, 5, "view"),
    ]))
    b2 = src / "b2.json"
    b2.write_text("\n".join(_json.dumps(r) for r in [
        rec(2, 1, 30, "click"),
        rec(3, 1, 30 + 25 * 60, "purchase"),
        rec(20, 3, 0, "view"),
        rec(21, 3, 10, "click"),
        rec(22, 3, 15, "click"),
        rec(23, 3, 20, "purchase"),
    ]))
    now = _time.time()
    os.utime(b1, (now - 60, now - 60))
    os.utime(b2, (now, now))

    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    ev = (spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).json(str(src))
          .select("user_id", "event_id", "ts", "event_type"))
    out = stream_funnel(ev, window_s=86_400)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("funnel_out")
         .option("checkpointLocation", str(tmp_path / "funnel_ckpt"))
         .trigger(availableNow=True).start())
    q.processAllAvailable()
    q.stop()

    rows = spark.table("funnel_out").collect()
    got = sorted((r["user_id"], r["stage_order"]) for r in rows)
    assert got == [(1, 1), (1, 2), (2, 1), (3, 1), (3, 2), (3, 3)]
    by = {(r["user_id"], r["stage_order"]): r["stage_ts"] for r in rows}
    assert by[(1, 2)] == base + dt.timedelta(minutes=30)
    assert by[(3, 2)] == base + dt.timedelta(minutes=10)  # FIRST click


def test_stream_sink_resolves_published_current(spark, tmp_path):
    """r12 review: the epoch sink re-resolves the CURRENT pointer
    before committing — a stream (re)started with a pre-retrain handle
    must commit its epochs to the PUBLISHED index, not the abandoned
    one. Also pins the wall-clock timestamp fix: streamed rows must
    carry a real stamp (an epoch-id stamp always lost the newest-copy
    race against wall-clock-stamped pushes)."""
    import time as _time

    from converttovectordb_spark.plans.ivf_index import (
        TransactionalIVFIndex,
    )
    from converttovectordb_spark.sources.store import (
        TransactionalDocumentStore,
    )
    from converttovectordb_spark.streaming.jobs import (
        stream_ingest_indexed,
    )

    store = TransactionalDocumentStore(spark, str(tmp_path / "store"))
    seed = spark.createDataFrame(
        [("s.txt", ".txt", 1, 0, "seed one", [1.0] + [0.0] * 15, 0.0),
         ("t.txt", ".txt", 1, 0, "seed two", [0.0, 1.0] + [0.0] * 14, 0.0)],
        "path string, extension string, total_chunks int, "
        "chunk_index int, content string, embedding array<float>, "
        "timestamp double",
    )
    store.append(seed)
    base = tmp_path / "tivf"
    base.mkdir()
    v0 = TransactionalIVFIndex.build(
        store.load(), str(base / "v0"), num_clusters=2
    )
    TransactionalIVFIndex.publish_current(str(base), str(base / "v0"))
    # a retrain happened elsewhere: v1 is now CURRENT; the caller still
    # holds the stale v0 handle
    v1 = TransactionalIVFIndex.build(
        store.load(), str(base / "v1"), num_clusters=2
    )
    v1.carry_txn_ids(v0.committed_txn_ids())
    TransactionalIVFIndex.publish_current(str(base), str(base / "v1"))

    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "b1.json").write_text(json.dumps(
        {"path": "n.md", "content": "new arrival doc", "extension": ".md"}
    ))
    before = _time.time()
    q = stream_ingest_indexed(
        spark, str(drop), store, v0, str(tmp_path / "ck"),
        embedder=hash_embedder(16), dim=16, chunk_size=500, overlap=100,
    )
    q.awaitTermination(120)
    # the epoch landed in the PUBLISHED index, not the stale handle
    cur = TransactionalIVFIndex.open_current(spark, str(base))
    assert cur.path.endswith("v1")
    assert (
        cur.corpus().filter("path = 'n.md'").count() == 1
    )
    assert (
        TransactionalIVFIndex(spark, str(base / "v0"))
        .corpus().filter("path = 'n.md'").count() == 0
    )
    # wall-clock stamp (not float(epoch_id))
    row = store.load().filter("path = 'n.md'").first()
    assert row["timestamp"] >= before - 1


def _state_user_ids(spark, ckpt: str) -> set[int]:
    """Distinct grouping keys left in a query's state store (the state
    data source reads the LAST committed batch's store)."""
    rows = (
        spark.read.format("statestore").load(str(ckpt))
        .select("key.user_id").collect()
    )
    return {r["user_id"] for r in rows}


def test_stream_sessionize_idle_user_times_out(spark, tmp_path):
    """r13 verdict #2: a user whose last event is followed only by
    OTHER users' later events must still have their session emitted —
    the event-time timeout closes it once the watermark passes the gap
    deadline — and their state must be DROPPED (bounded state), while
    a still-live user's open session stays."""
    import json as _json
    import os
    import time as _time

    from converttovectordb_spark.streaming.stateful import stream_sessionize

    src = tmp_path / "idle_src"
    src.mkdir()
    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def rec(eid, uid, minutes, value):
        ts = base + dt.timedelta(minutes=minutes)
        return {"event_id": eid, "ts": ts.isoformat(), "user_id": uid,
                "event_type": "click", "value": value, "props": "{}"}

    # batch 1: user 1's ONLY events (0, +10 min); user 2 opens too.
    # batch 2: only user 2 events, 2h later — their arrival advances
    # the watermark past user 1's gap deadline (12:10 + 30 min).
    b1 = src / "b1.json"
    b1.write_text("\n".join(_json.dumps(r) for r in [
        rec(1, 1, 0, 1.0), rec(2, 1, 10, 2.0), rec(10, 2, 0, 7.0),
    ]))
    b2 = src / "b2.json"
    b2.write_text("\n".join(_json.dumps(r) for r in [
        rec(11, 2, 120, 1.0), rec(12, 2, 121, 1.0),
    ]))
    now = _time.time()
    os.utime(b1, (now - 60, now - 60))
    os.utime(b2, (now, now))

    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    ev = (spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).json(str(src)))
    ckpt = tmp_path / "idle_ckpt"
    out = stream_sessionize(ev, gap_s=1800)  # default: timeout mode
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("idle_sessions_out")
         .option("checkpointLocation", str(ckpt))
         .trigger(availableNow=True).start())
    q.processAllAvailable()
    q.stop()

    rows = spark.table("idle_sessions_out").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    # user 1 went idle: the timeout emitted their session with exactly
    # the values a closing event would have (the batch oracle's rows)
    assert len(by_user[1]) == 1
    s = by_user[1][0]
    assert s["session_start"] == base
    assert s["session_end"] == base + dt.timedelta(minutes=10)
    assert s["n_events"] == 2 and s["total_value"] == 3.0
    # user 2's first session closed by their own 2h gap; the open one
    # (120/121 min) is NOT emitted
    assert len(by_user[2]) == 1 and by_user[2][0]["n_events"] == 1
    # bounded state: user 1's entry is GONE; user 2's open session stays
    assert _state_user_ids(spark, ckpt) == {2}


def test_stream_funnel_dead_state_freed_on_timeout(spark, tmp_path):
    """Funnel state for completed (terminal) and expired (window
    passed without the next stage) machines is dropped once the
    watermark passes their deadline; live machines stay. Emitted rows
    are unchanged — the timeout frees state, it never emits."""
    import json as _json
    import os
    import time as _time

    from converttovectordb_spark.streaming.stateful import stream_funnel

    src = tmp_path / "dead_src"
    src.mkdir()
    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def rec(eid, uid, minutes, etype):
        ts = base + dt.timedelta(minutes=minutes)
        return {"event_id": eid, "ts": ts.isoformat(), "user_id": uid,
                "event_type": etype, "value": 0.0, "props": "{}"}

    # user 1: view only → expires 24h after the view
    # user 3: full funnel in-batch → terminal, freed 24h after purchase
    # user 4: click with no view → no state at all (all-None machine)
    b1 = src / "b1.json"
    b1.write_text("\n".join(_json.dumps(r) for r in [
        rec(1, 1, 0, "view"),
        rec(30, 3, 0, "view"), rec(31, 3, 5, "click"),
        rec(32, 3, 10, "purchase"),
        rec(40, 4, 0, "click"),
    ]))
    # user 2's view 3 days later advances the watermark past every
    # deadline above; their own machine stays live
    b2 = src / "b2.json"
    b2.write_text(_json.dumps(rec(20, 2, 3 * 24 * 60, "view")))
    now = _time.time()
    os.utime(b1, (now - 60, now - 60))
    os.utime(b2, (now, now))

    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")
    ev = (spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).json(str(src))
          .select("user_id", "event_id", "ts", "event_type"))
    ckpt = tmp_path / "dead_ckpt"
    out = stream_funnel(ev, window_s=86_400)  # default: timeout mode
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("dead_funnel_out")
         .option("checkpointLocation", str(ckpt))
         .trigger(availableNow=True).start())
    q.processAllAvailable()
    q.stop()

    rows = spark.table("dead_funnel_out").collect()
    got = sorted((r["user_id"], r["stage_order"]) for r in rows)
    assert got == [(1, 1), (2, 1), (3, 1), (3, 2), (3, 3)]
    # state bounded: 1 (expired) and 3 (terminal) freed, 4 never
    # parked an all-None machine; only live user 2 remains
    assert _state_user_ids(spark, ckpt) == {2}


def test_bucketed_sessionize_matches_per_user_door(spark, tmp_path):
    """The bucket-routed high-cardinality door must emit EXACTLY the
    per-user door's rows across micro-batches — carry merge (gap
    held), carry close (gap exceeded), multi-session batches — in
    replay mode and in timeout mode (idle users flushed)."""
    import json as _json
    import os
    import time as _time

    from converttovectordb_spark.streaming.stateful import (
        stream_sessionize,
        stream_sessionize_bucketed,
    )

    src = tmp_path / "bkt_src"
    src.mkdir()
    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def rec(eid, uid, minutes, value):
        ts = base + dt.timedelta(minutes=minutes)
        return {"event_id": eid, "ts": ts.isoformat(), "user_id": uid,
                "event_type": "click", "value": value, "props": "{}"}

    # user 1: open in b1, merged by b2 (gap held), then closed by a
    #   big gap inside b2 → 1 emitted session spanning batches
    # user 2: open in b1, b2 arrives past the gap → carry CLOSED, new
    #   session opens (stays in state in replay mode; timeout-flushed
    #   in timeout mode)
    # user 3: two sessions entirely inside b1
    # user 4: only in b1, idle afterwards (the timeout-mode flush case)
    # FRACTIONAL values on purpose: interleaved users in one bucket
    # would fold each other's values into a bucket-wide prefix sum and
    # diverge from the per-user door in float ulps — the equality
    # assertion below is the regression pin for the per-user-cumsum
    # segment arithmetic
    b1 = src / "b1.json"
    b1.write_text("\n".join(_json.dumps(r) for r in [
        rec(1, 1, 0, 0.1), rec(2, 1, 10, 0.2),
        rec(10, 2, 0, 0.3),
        rec(20, 3, 0, 0.1), rec(21, 3, 50, 0.7), rec(22, 3, 55, 0.3),
        rec(30, 4, 0, 0.9), rec(31, 4, 5, 0.1),
    ]))
    b2 = src / "b2.json"
    b2.write_text("\n".join(_json.dumps(r) for r in [
        rec(3, 1, 35, 0.4), rec(4, 1, 120, 0.8),
        rec(11, 2, 240, 0.6),
    ]))
    now = _time.time()
    os.utime(b1, (now - 60, now - 60))
    os.utime(b2, (now, now))

    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")

    def run(door, tag):
        ev = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).json(str(src)))
        name = f"bkt_eq_{tag}"
        q = (door(ev).writeStream.outputMode("append").format("memory")
             .queryName(name)
             .option("checkpointLocation", str(tmp_path / f"ck_{tag}"))
             .trigger(availableNow=True).start())
        q.processAllAvailable()
        q.stop()
        rows = sorted(
            (r["user_id"], r["session_start"], r["session_end"],
             r["n_events"], r["total_value"])
            for r in spark.table(name).collect()
        )
        spark.catalog.dropTempView(name)
        return rows

    # replay mode (NoTimeout): closed-by-event sessions only
    per_user = run(
        lambda ev: stream_sessionize(ev, gap_s=1800, watermark_delay=None),
        "user_nt",
    )
    bucketed = run(
        lambda ev: stream_sessionize_bucketed(
            ev, gap_s=1800, buckets=2, watermark_delay=None
        ),
        "bkt_nt",
    )
    # closed-by-event: user 1's merged span, user 2's carry close,
    # user 3's first session (its second stays open, as do 4's and
    # every user's final one)
    assert bucketed == per_user and len(per_user) == 3
    # timeout mode (default): idle users 3 and 4 flush too once user
    # 2's minute-240 event drags the watermark past their deadlines
    per_user_t = run(
        lambda ev: stream_sessionize(ev, gap_s=1800), "user_to"
    )
    bucketed_t = run(
        lambda ev: stream_sessionize_bucketed(ev, gap_s=1800, buckets=2),
        "bkt_to",
    )
    assert bucketed_t == per_user_t
    assert len(per_user_t) > len(per_user)
    # bounded state both shapes: only still-live opens remain. The
    # bucket door's state is array-packed — explode to count users.
    from pyspark.sql import functions as F

    left_user = set(
        r["user_id"]
        for r in spark.read.format("statestore")
        .load(str(tmp_path / "ck_user_to"))
        .select("key.user_id").collect()
    )
    # timeout-enabled state nests the user schema under `groupState`
    # (beside the store-managed `timeoutTimestamp`)
    left_bkt = set(
        r["uid"]
        for r in spark.read.format("statestore")
        .load(str(tmp_path / "ck_bkt_to"))
        .select(F.explode("value.groupState.uids").alias("uid")).collect()
    )
    assert left_bkt == left_user


def test_bucketed_funnel_matches_per_user_door(spark, tmp_path):
    """The bucket-routed funnel door must emit EXACTLY the per-user
    door's rows across micro-batches — cross-batch stage completion,
    strict order, window expiry, at-most-once per stage — in replay
    mode and in timeout mode, and leave the same live machines in
    state (array-packed)."""
    import json as _json
    import os
    import time as _time

    from converttovectordb_spark.streaming.stateful import (
        stream_funnel,
        stream_funnel_bucketed,
    )

    src = tmp_path / "bkt_funnel_src"
    src.mkdir()
    base = dt.datetime(2024, 1, 1, 12, 0, 0)

    def rec(eid, uid, minutes, etype):
        ts = base + dt.timedelta(minutes=minutes)
        return {"event_id": eid, "ts": ts.isoformat(), "user_id": uid,
                "event_type": etype, "value": 0.0, "props": "{}"}

    # user 1: view(b1) → click(b2, in window) → purchase(b2, 25h after
    #   the click, OUT of window) — cross-batch advance, stage 3 never
    # user 2: click BEFORE any view (b1), view later → stage 1 only
    # user 3: full funnel inside b1 + a second qualifying click that
    #   must not re-emit stage 2 → terminal, timeout-freed
    # user 4: click with no view → no state at all
    # user 5: view only in b1, idle → expired by the watermark in
    #   timeout mode (state freed; nothing extra emitted)
    b1 = src / "b1.json"
    b1.write_text("\n".join(_json.dumps(r) for r in [
        rec(1, 1, 0, "view"),
        rec(10, 2, 0, "click"), rec(11, 2, 5, "view"),
        rec(30, 3, 0, "view"), rec(31, 3, 10, "click"),
        rec(32, 3, 15, "click"), rec(33, 3, 20, "purchase"),
        rec(40, 4, 0, "click"),
        rec(50, 5, 0, "view"),
    ]))
    # user 1's click lands in-window in b2; their late purchase and a
    # 3-days-later view from user 6 drag the watermark past every b1
    # deadline (timeout mode) while user 6's own machine stays live
    b2 = src / "b2.json"
    b2.write_text("\n".join(_json.dumps(r) for r in [
        rec(2, 1, 30, "click"),
        rec(3, 1, 30 + 25 * 60, "purchase"),
        rec(60, 6, 3 * 24 * 60, "view"),
    ]))
    now = _time.time()
    os.utime(b1, (now - 60, now - 60))
    os.utime(b2, (now, now))

    schema = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double, props string")

    def run(door, tag):
        ev = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).json(str(src))
              .select("user_id", "event_id", "ts", "event_type"))
        name = f"bkt_funnel_{tag}"
        q = (door(ev).writeStream.outputMode("append").format("memory")
             .queryName(name)
             .option("checkpointLocation", str(tmp_path / f"fck_{tag}"))
             .trigger(availableNow=True).start())
        q.processAllAvailable()
        q.stop()
        rows = sorted(
            (r["user_id"], r["stage_order"], r["stage_ts"])
            for r in spark.table(name).collect()
        )
        spark.catalog.dropTempView(name)
        return rows

    per_user = run(
        lambda ev: stream_funnel(ev, window_s=86_400, watermark_delay=None),
        "user_nt",
    )
    bucketed = run(
        lambda ev: stream_funnel_bucketed(
            ev, window_s=86_400, buckets=2, watermark_delay=None
        ),
        "bkt_nt",
    )
    assert bucketed == per_user
    assert sorted(set((u, s) for u, s, _ in per_user)) == [
        (1, 1), (1, 2), (2, 1), (3, 1), (3, 2), (3, 3), (5, 1), (6, 1),
    ]
    # r15 review F6: the per-user door must not park (None,None,None)
    # state for view-less users in NoTimeout mode either — user 4
    # (click only) is absent from BOTH doors' replay state, so the
    # doors' state footprints agree in every mode
    from pyspark.sql import functions as F

    nt_user_state = set(
        r["user_id"]
        for r in spark.read.format("statestore")
        .load(str(tmp_path / "fck_user_nt"))
        .select("key.user_id").collect()
    )
    assert 4 not in nt_user_state
    bkt_nt = spark.read.format("statestore").load(
        str(tmp_path / "fck_bkt_nt")
    )
    uids_col = (
        "value.groupState.uids"
        if "groupState" in bkt_nt.select("value.*").columns
        else "value.uids"
    )
    nt_bkt_state = set(
        r["uid"]
        for r in bkt_nt.select(F.explode(uids_col).alias("uid")).collect()
    )
    assert nt_bkt_state == nt_user_state
    # timeout mode: SAME emitted rows (a funnel timeout only frees
    # state), and the same live machines left on both shapes
    per_user_t = run(
        lambda ev: stream_funnel(ev, window_s=86_400), "user_to"
    )
    bucketed_t = run(
        lambda ev: stream_funnel_bucketed(ev, window_s=86_400, buckets=2),
        "bkt_to",
    )
    assert bucketed_t == per_user_t == per_user
    from pyspark.sql import functions as F

    left_user = set(
        r["user_id"]
        for r in spark.read.format("statestore")
        .load(str(tmp_path / "fck_user_to"))
        .select("key.user_id").collect()
    )
    left_bkt = set(
        r["uid"]
        for r in spark.read.format("statestore")
        .load(str(tmp_path / "fck_bkt_to"))
        .select(F.explode("value.groupState.uids").alias("uid")).collect()
    )
    assert left_bkt == left_user
