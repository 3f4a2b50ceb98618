"""Serving, write-through and ingest benchmark.

    python3 perfbench/run.py --workload serve_read|serve_write|ingest|all \
        --seed N --seconds S --trace 0|1

Each run generates its inputs from the seed, starts the program in a
fresh process and working directory (``.perfbench_tmp/`` under the
checkout), pays session start, store build and warm-ups inside
``setup_s``, runs a closed loop of whole rounds for ``--seconds``,
checks every answer against ``checks.py`` and prints one JSON object as
its last line. ``--trace 1`` runs an untraced and then a traced phase
in the same process and prints the per-layer figures instead. See
README.md for the workloads, metrics and layer mapping.
"""

from __future__ import annotations

import argparse
import json
import os
import select
import shlex
import shutil
import signal
import socket
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import checks, gen  # noqa: E402
from perfbench.trace import read_event_log, self_times  # noqa: E402

WORKLOADS = ("serve_read", "serve_write", "ingest")
DEADLINE_S = 170  # every run ends inside the 180 s limit
READ_POOL_ROUNDS = 5

E2E_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "store_bytes_per_user_byte": "ratio",
    "ops_per_s": "1/s",
    "p50_ms": "ms",
}
SPARK_KINDS = ("ingest", "recrawl", "stats", "add_documents", "fill")
SPARK_FIGURES = {
    "jobs": "count",
    "tasks": "count",
    "executor_run_ms": "ms",
    "executor_cpu_ms": "ms",
    "shuffle_write_bytes": "B",
    "driver_gap_ms": "ms",
}
LAYERS = ("server", "serving", "store", "embeddings", "engine")
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "server.query.handler_p50_ms": "ms",
    "server.query_batch.handler_p50_ms": "ms",
    "server.hybrid.handler_p50_ms": "ms",
    "server.add_documents.handler_p50_ms": "ms",
    "server.transport_p50_ms": "ms",
    "server.cpu_ms_per_op": "ms",
    "serving.query_p50_ms": "ms",
    "serving.query_batch_p50_ms": "ms",
    "serving.hybrid_query_p50_ms": "ms",
    "serving.fills": "count",
    "serving.fill_ms": "ms",
    "serving.refill_rows_per_written_row": "ratio",
    "store.state_token_p50_ms": "ms",
    "store.append_ms": "ms",
    "store.upsert_ms": "ms",
    "store.data_files": "count",
    "embeddings.query_encode_p50_ms": "ms",
    "embeddings.udf_encode_s": "s",
    "engine.ingest_ms": "ms",
    "engine.recrawl_ms": "ms",
    "engine.stats_ms": "ms",
    "engine.recrawl_rows_written_per_changed_chunk": "ratio",
    **{f"spark.{k}.{f}": u for k in SPARK_KINDS for f, u in SPARK_FIGURES.items()},
    **{f"self.{layer}_ms_per_op": "ms" for layer in LAYERS},
    "trace.overhead_ops_per_s_pct": "%",
    "trace.overhead_p50_pct": "%",
}


class BenchError(RuntimeError):
    pass


def _log(msg: str) -> None:
    print(f"perfbench {time.strftime('%H:%M:%S')} {msg}", file=sys.stderr, flush=True)


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# -- the program-side process ------------------------------------------------


class Host:
    """``host.py`` in its own session and working directory. Everything
    it writes (store, warehouse, Spark local dirs, the content-keyed
    cache under $HOME, temp files, the event log) is under ``workdir``."""

    def __init__(self, workdir: str, trace: bool, deadline: float):
        self.deadline = deadline
        self.trace = trace
        self.spans = os.path.join(workdir, "spans.json")
        self.event_log = os.path.join(workdir, "eventlog")
        dirs = {k: os.path.join(workdir, k) for k in ("home", "tmp", "local", "warehouse")}
        for d in [*dirs.values(), self.event_log]:
            os.makedirs(d, exist_ok=True)
        confs = [
            f"spark.sql.warehouse.dir={dirs['warehouse']}",
            f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        ]
        if trace:
            confs += [
                "spark.eventLog.enabled=true",
                "spark.eventLog.compress=false",
                f"spark.eventLog.dir=file://{self.event_log}",
            ]
        env = dict(os.environ)
        env.update(
            HOME=dirs["home"],
            TMPDIR=dirs["tmp"],
            SPARK_LOCAL_DIRS=dirs["local"],
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            PYTHONPATH=os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p),
            PYSPARK_PYTHON=sys.executable,
            PYSPARK_DRIVER_PYTHON=sys.executable,
            PYSPARK_SUBMIT_ARGS=" ".join(f"--conf {shlex.quote(c)}" for c in confs)
            + " pyspark-shell",
        )
        self.log_path = os.path.join(workdir, "host.log")
        self._logfile = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "host.py"),
             "--trace", str(int(trace)), "--spans", self.spans],
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self._logfile,
            cwd=workdir,
            env=env,
            text=True,
            start_new_session=True,
        )
        try:
            self._read()  # the session is up
        except BaseException:
            _kill_group(self.proc)
            self._logfile.close()
            raise

    def _read(self) -> dict:
        left = self.deadline - time.monotonic()
        ready, _, _ = select.select([self.proc.stdout], [], [], max(left, 0))
        line = self.proc.stdout.readline() if ready else ""
        if not line:
            raise BenchError(f"the program process gave no reply; log tail:\n{self.log_tail()}")
        out = json.loads(line)
        if not out.get("ok"):
            raise BenchError(f"program error: {out.get('error')}\n{self.log_tail()}")
        return out

    def call(self, op: str, **kw) -> dict:
        self.proc.stdin.write(json.dumps({"op": op, **kw}) + "\n")
        self.proc.stdin.flush()
        out = self._read()
        _log(f"  {op} {out['host_s']:.2f} s")
        return out

    def log_tail(self) -> str:
        self._logfile.flush()
        with open(self.log_path, errors="replace") as fh:
            return "".join(fh.readlines()[-30:])

    def close(self) -> None:
        """Stop the process group (host, JVM, Python workers) and wait
        until it is gone. A traced run first quits cleanly, so the
        spans are written and the event log is complete."""
        try:
            if self.trace and self.proc.poll() is None:
                self.call("quit")
                self.proc.wait(timeout=max(5, min(30, self.deadline - time.monotonic())))
        except (BenchError, OSError, ValueError, subprocess.TimeoutExpired):
            pass
        finally:
            _kill_group(self.proc)
            self._logfile.close()
            _log("program stopped")


def _kill_group(proc: subprocess.Popen) -> None:
    """SIGKILL the process group ``proc`` leads, reap ``proc``, and wait
    until none of the group (JVM, Python workers) is left."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    try:
        for _ in range(100):
            os.killpg(proc.pid, 0)
            time.sleep(0.1)
    except ProcessLookupError:
        pass


def _dir_bytes(path: str) -> tuple[int, int]:
    """(bytes on disk under path, parquet data files)."""
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(d, n))
            files += n.endswith(".parquet")
    return total, files


def _spans_in(spans: list[dict], name: str, since: float = float("-inf")) -> list[dict]:
    return [s for s in spans if s["name"] == name and s["start"] >= since]


def _p50_ms(spans: list[dict]) -> float:
    return _median([(s["end"] - s["start"]) * 1e3 for s in spans])


def _spark_layers(spans: list[dict], event_log: str, since: float) -> dict:
    """Per-call Spark figures for each kind of job group opened since
    ``since``: jobs, tasks, executor run and CPU ms, shuffle bytes
    written, and the driver gap (the call's wall time minus the union
    of its jobs)."""
    groups = read_event_log(event_log)
    kind_of = {
        "engine.ingest": "ingest",
        "engine.recrawl": "recrawl",
        "engine.stats": "stats",
        "server.add_documents.handler": "add_documents",
        "serving.fill": "fill",
    }
    sums = {k: {f: 0.0 for f in SPARK_FIGURES} for k in SPARK_KINDS}
    calls = dict.fromkeys(SPARK_KINDS, 0)
    for s in spans:
        kind = kind_of.get(s["name"])
        if kind is None or not s["group"] or s["start"] < since:
            continue
        g = groups.get(s["group"], {})
        calls[kind] += 1
        for f in ("jobs", "tasks", "executor_run_ms", "executor_cpu_ms", "shuffle_write_bytes"):
            sums[kind][f] += g.get(f, 0)
        sums[kind]["driver_gap_ms"] += (s["end"] - s["start"]) * 1e3 - g.get("jobs_ms", 0.0)
    return {
        f"spark.{k}.{f}": sums[k][f] / calls[k] if calls[k] else 0.0
        for k in SPARK_KINDS
        for f in SPARK_FIGURES
    }


def _self_layers(spans: list[dict], since: float, ops: int) -> dict:
    own = self_times([s for s in spans if s["start"] >= since])
    return {f"self.{layer}_ms_per_op": own.get(layer, 0.0) * 1e3 / ops for layer in LAYERS}


def _overhead(a: dict, b: dict) -> dict:
    return {
        "trace.overhead_ops_per_s_pct": (a["ops_per_s"] - b["ops_per_s"]) / a["ops_per_s"] * 100,
        "trace.overhead_p50_pct": (b["p50_ms"] - a["p50_ms"]) / a["p50_ms"] * 100,
    }


# -- serving workloads ---------------------------------------------------------


def _raw_request(route: str, body: dict) -> tuple[str, bytes, bytes]:
    data = json.dumps(body).encode()
    head = (
        f"POST {route} HTTP/1.0\r\nHost: 127.0.0.1\r\n"
        f"Content-Type: application/json\r\nContent-Length: {len(data)}\r\n"
        "X-Request-Id: "
    ).encode()
    return route, head, data


def _send(addr, head: bytes, data: bytes, rid: int) -> bytes:
    sock = socket.create_connection(addr)
    try:
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        sock.sendall(b"".join((head, str(rid).encode(), b"\r\n\r\n", data)))
        parts = []
        while True:  # the server speaks HTTP/1.0: it closes after the reply
            chunk = sock.recv(1 << 16)
            if not chunk:
                break
            parts.append(chunk)
    finally:
        sock.close()
    return b"".join(parts)


def _parse(raw: bytes) -> tuple[int, dict | None]:
    head, _, body = raw.partition(b"\r\n\r\n")
    try:
        return int(head.split(b" ", 2)[1]), json.loads(body)
    except (IndexError, ValueError):
        return 0, None


class Serving:
    """Request streams, the closed loop and the answer checks of the
    two serving workloads. A record is (kind, route, index, t0, t1,
    raw reply, request id); kind is warm, read, write or readback."""

    def __init__(self, workload: str, seed: int, workdir: str):
        self.write = workload == "serve_write"
        c = self.corpus = gen.Corpus(seed)
        self.oracle = checks.Oracle(c.embedding, list(zip(c.path, c.chunk_index)))
        self.content = dict(zip(zip(c.path, c.chunk_index), c.content))
        self.corpus_file = os.path.join(workdir, "corpus.npz")
        c.write_to(self.corpus_file)
        # Every request body is encoded here, before any timing.
        pool = [c.read_request() for _ in range(READ_POOL_ROUNDS * gen.ROUND)]
        self.warm = [next(r for r in pool if r[0] == route)
                     for route in ("/query", "/query_batch", "/hybrid")]
        self.pool = pool
        self.warm_raw = [_raw_request(*r) for r in self.warm]
        self.pool_raw = [_raw_request(*r) for r in pool]
        # write batches are made per round, outside the timed requests
        self.writes: list[list[dict]] = []
        self.next_read = self.rid = 0
        self.records: list[tuple] = []
        self.writes_done: list[float] = []  # completion times, for refill sizes

    def _do(self, addr, kind: str, idx: int, route: str, head: bytes, data: bytes) -> None:
        self.rid += 1
        t0 = time.perf_counter()
        raw = _send(addr, head, data, self.rid)
        t1 = time.perf_counter()
        self.records.append((kind, route, idx, t0, t1, raw, self.rid))

    def _write_round(self, addr) -> None:
        i = len(self.writes)
        batch = self.corpus.write_batch(f"r{i:04d}")
        self.writes.append(batch)
        write = _raw_request("/add_documents", {"documents": batch})
        readback = _raw_request("/query", {"query_embedding": batch[0]["embedding"], "top_k": 5})
        self._do(addr, "write", i, *write)
        self.writes_done.append(time.perf_counter())
        self._do(addr, "readback", i, *readback)

    def warm_up(self, addr) -> None:
        """One request per route, and on serve_write one throwaway
        write: the first matrix fill, BM25 build and write are paid
        here. The refill and BM25 rebuild after a write recur in every
        round, so they stay in the measured loop."""
        for i, req in enumerate(self.warm_raw):
            self._do(addr, "warm", i, *req)
        if self.write:
            self._write_round(addr)

    def loop(self, addr, seconds: float) -> list[tuple]:
        """Whole rounds of the mix until ``seconds`` have passed: 100
        reads, or on serve_write one write, its read-back and 98 reads.
        Returns the phase's records."""
        first = len(self.records)
        t_start = time.perf_counter()
        while True:
            n_reads = gen.ROUND
            if self.write:
                self._write_round(addr)
                n_reads -= 2
            for _ in range(n_reads):
                j = self.next_read % len(self.pool)
                self.next_read += 1
                self._do(addr, "read", j, *self.pool_raw[j])
            if time.perf_counter() - t_start >= seconds:
                break
        return self.records[first:]

    # -- checks ------------------------------------------------------------
    def verify(self) -> tuple[set, str | None]:
        """Check every recorded answer in order, growing the oracle with
        each write. Returns (request ids that failed, first wrong answer
        among those that did not)."""
        failed, error, cache = set(), None, {}
        for kind, route, idx, _, _, raw, rid in self.records:
            status, body = _parse(raw)
            if status != 200 or body is None:
                failed.add(rid)
                _log(f"{kind} {route} {idx}: HTTP {status}")
                continue
            err = self._check(kind, route, idx, body, cache)
            if err and error is None:
                error = f"{kind} {route} {idx}: {err}"
        return failed, error

    def _check(self, kind, route, idx, body, cache) -> str | None:
        if kind == "write":
            batch = self.writes[idx]
            ids = [(d["path"], d["chunk_index"]) for d in batch]
            self.oracle.add([d["embedding"] for d in batch], ids)
            self.content.update(zip(ids, (d["content"] for d in batch)))
            cache.clear()
            return checks.check_write(body, self.oracle.n, len(batch))
        if kind == "readback":
            doc = self.writes[idx][0]
            scores = self.oracle.scores([doc["embedding"]])[:, 0]
            return checks.check_readback(
                body["results"], doc["path"], doc["chunk_index"]
            ) or checks.check_topk(body["results"], self.oracle.topk(scores, 5))
        req = (self.warm if kind == "warm" else self.pool)[idx][1]
        if route == "/hybrid":
            return checks.check_hybrid(body["results"], req["top_k"], self.content)
        vecs = req.get("query_embeddings") or [req["query_embedding"]]
        results = body["results"] if route == "/query_batch" else [body["results"]]
        if len(results) != len(vecs):
            return f"{len(results)} answers for {len(vecs)} queries"
        key = (kind, idx)
        if key not in cache:
            scores = self.oracle.scores(vecs)
            cache[key] = [self.oracle.topk(scores[:, j], req["top_k"]) for j in range(len(vecs))]
        for j, (res, expected) in enumerate(zip(results, cache[key])):
            err = checks.check_topk(res, expected)
            if err:
                return f"entry {j}: {err}"
        return None


def _serving_summary(recs: list[tuple]) -> dict:
    """Client-side figures of one phase. Throughput is requests per
    second of request time: the closed loop's own work between requests
    (making the next write batch) is left out."""
    lat: dict[str, list] = {}
    for _, route, _, t0, t1, *_ in recs:
        lat.setdefault(route, []).append((t1 - t0) * 1e3)
    out = {
        "ops_per_s": len(recs) / sum(r[4] - r[3] for r in recs),
        "p50_ms": _median([(r[4] - r[3]) * 1e3 for r in recs]),
        "requests": len(recs),
    }
    for route, name in (("/query", "query"), ("/query_batch", "batch_query"),
                        ("/hybrid", "hybrid"), ("/add_documents", "write")):
        xs = lat.get(route, [])
        out[f"{name}_p50_ms"] = _median(xs)
        out[f"{name}_n"] = len(xs)
        if name == "query" and len(xs) >= 1000:
            out["query_p99_ms"] = statistics.quantiles(xs, n=100)[98]
    return out


def run_serving(workload, seed, seconds, trace, workdir, deadline) -> dict:
    sv = Serving(workload, seed, workdir)
    store = os.path.join(workdir, "store")
    t_setup = time.perf_counter()
    _log("inputs generated")
    host = Host(workdir, trace, deadline)
    try:
        _log("session started")
        addr = ("127.0.0.1", host.call("serve", corpus=sv.corpus_file, store=store)["port"])
        _log("store built, server up")
        sv.warm_up(addr)
        setup_s = time.perf_counter() - t_setup
        _log(f"warmed up, setup {setup_s:.1f} s")
        if trace:
            host.call("trace", on=False)
        u0 = host.call("usage")
        phase_a = sv.loop(addr, seconds)
        u1 = host.call("usage")
        if trace:
            host.call("trace", on=True)
            t_b = time.perf_counter()
            phase_b = sv.loop(addr, seconds)
            host.call("trace", on=False)
        usage = host.call("usage")
    finally:
        host.close()
    _log("measured, program stopped")
    failed, error = sv.verify()
    _log("verified")
    measured = phase_b if trace else phase_a
    summary = _serving_summary(phase_a)
    result = {
        "correct": error is None,
        "attempted": len(measured),
        "failed": sum(1 for r in measured if r[6] in failed),
        "error": error,
        "detail": summary,
    }
    if not trace:
        store_bytes, _ = _dir_bytes(store)
        user = sum(len(t.encode()) for t in sv.content.values()) + 4 * gen.DIM * len(sv.content)
        result["metrics"] = {
            "setup_s": setup_s,
            "peak_rss_mb": usage["peak_rss_mb"],
            "store_bytes_per_user_byte": store_bytes / user,
            "ops_per_s": summary["ops_per_s"],
            "p50_ms": summary["p50_ms"],
        }
        return result
    spans = _load_spans(host.spans)
    m = {}
    session = _spans_in(spans, "session.start")
    m["session.start_s"] = session[0]["end"] - session[0]["start"] if session else 0.0
    for route in ("query", "query_batch", "hybrid", "add_documents"):
        m[f"server.{route}.handler_p50_ms"] = _p50_ms(_spans_in(spans, f"server.{route}.handler", t_b))
    handler = {s["rid"]: s["end"] - s["start"] for s in spans
               if s["name"].startswith("server.") and s["start"] >= t_b}
    m["server.transport_p50_ms"] = _median(
        [(r[4] - r[3] - handler[str(r[6])]) * 1e3
         for r in phase_b if r[1] == "/query" and str(r[6]) in handler]
    )
    m["server.cpu_ms_per_op"] = (u1["cpu_s"] - u0["cpu_s"]) * 1e3 / len(phase_a)
    for fn in ("query", "query_batch", "hybrid_query"):
        m[f"serving.{fn}_p50_ms"] = _p50_ms(_spans_in(spans, f"serving.{fn}", t_b))
    fills = _spans_in(spans, "serving.fill")
    m["serving.fills"] = len(fills)  # set-up and traced phase
    m["serving.fill_ms"] = _p50_ms(fills)
    # each refill re-reads the corpus as it stood: base rows plus the
    # writes completed before the fill started
    base = len(sv.corpus.path)
    refill_rows = sum(base + gen.WRITE_BATCH * sum(t < f["start"] for t in sv.writes_done)
                      for f in fills if f["start"] >= t_b)
    written = gen.WRITE_BATCH * sum(t >= t_b for t in sv.writes_done)
    m["serving.refill_rows_per_written_row"] = refill_rows / written if written else 0.0
    m["store.state_token_p50_ms"] = _p50_ms(_spans_in(spans, "store.state_token", t_b))
    m["store.append_ms"] = _p50_ms(_spans_in(spans, "store.append", t_b))
    m["store.data_files"] = _dir_bytes(store)[1]
    m["embeddings.query_encode_p50_ms"] = _p50_ms(_spans_in(spans, "embeddings.query_encode", t_b))
    m.update(_spark_layers(spans, host.event_log, t_b))
    m.update(_self_layers(spans, t_b, len(phase_b)))
    m.update(_overhead(summary, _serving_summary(phase_b)))
    result["metrics"] = m
    return result


def _load_spans(path: str) -> list[dict]:
    with open(path) as fh:
        return json.load(fh)


# -- ingest workload -----------------------------------------------------------


class Ingest:
    """Rounds of: ingest the generated tree into a fresh transactional
    store, re-crawl it with ~10% of the files edited, read stats()."""

    def __init__(self, seed: int, workdir: str):
        self.workdir = workdir
        self.tree = gen.RepoTree(seed)
        self.edited_files, self.edited = self.tree.edit()
        self.warm_tree = gen.RepoTree(seed + 1_000_003, n_files=6)
        self.rounds: list[dict] = []

    def warm_up(self, host: Host, trace: bool) -> None:
        """One small ingest, which starts the Python worker pool. The
        JVM keeps compiling through the first full-size round (the
        second runs ~25% faster), so a traced run also runs one whole
        round first: its untraced and traced phases then both run warm,
        and their difference is the tracing overhead."""
        repo = os.path.join(self.workdir, "warm_repo")
        self.warm_tree.write(repo)
        host.call("ingest", store=os.path.join(self.workdir, "warm_store"), repo=repo, replace=False)
        if trace:
            self.rounds.append(self._round(host, 0, dump_before=False))

    def loop(self, host: Host, seconds: float, dump_before: bool) -> list[dict]:
        """Whole rounds until ``seconds`` of timed calls have passed."""
        done, timed = [], 0.0
        while timed < seconds:
            r = self._round(host, len(self.rounds), dump_before)
            self.rounds.append(r)
            done.append(r)
            timed += r["ingest_s"] + r["recrawl_s"] + r["stats_s"]
        return done

    def _round(self, host: Host, i: int, dump_before: bool) -> dict:
        repo = os.path.join(self.workdir, f"repo{i}")
        store = os.path.join(self.workdir, f"store{i}")
        self.tree.write(repo)
        r = {"store": store}
        t0 = time.perf_counter()
        r["ingest"] = host.call("ingest", store=store, repo=repo, replace=False)["metrics"]
        r["ingest_s"] = time.perf_counter() - t0
        if dump_before:
            r["before"] = self._dump(host, store, f"before{i}")
        gen.write_files(repo, {p: self.edited_files[p] for p in self.edited})
        t0 = time.perf_counter()
        r["recrawl"] = host.call("ingest", store=store, repo=repo, replace=True)["metrics"]
        r["recrawl_s"] = time.perf_counter() - t0
        t0 = time.perf_counter()
        r["stats"] = host.call("stats", store=store)["stats"]
        r["stats_s"] = time.perf_counter() - t0
        r["live"] = self._dump(host, store, f"live{i}")
        return r

    def _dump(self, host: Host, store: str, name: str) -> list[tuple]:
        out = os.path.join(self.workdir, name + ".json")
        host.call("dump", store=store, out=out)
        with open(out) as fh:
            return [tuple(r) for r in json.load(fh)]

    def check(self, r: dict) -> str | None:
        n_files = len(self.tree.files)
        m = r["ingest"]
        if m["files_processed"] != n_files:
            return f"ingest processed {m['files_processed']} files, tree has {n_files} eligible"
        if m["rows_written"] != m["chunks_created"]:
            return f"ingest wrote {m['rows_written']} of {m['chunks_created']} chunks"
        return checks.check_live_rows(r["live"], self.edited_files) or checks.check_stats(
            r["stats"], n_files, len(r["live"])
        )


def _ingest_summary(rounds: list[dict]) -> dict:
    t_in = sum(r["ingest_s"] for r in rounds)
    t_re = sum(r["recrawl_s"] for r in rounds)
    ingested = sum(r["ingest"]["rows_written"] for r in rounds)
    live = sum(len(r["live"]) for r in rounds)
    return {
        "ops_per_s": (ingested + live) / (t_in + t_re),
        "p50_ms": _median([(r["ingest_s"] + r["recrawl_s"] + r["stats_s"]) * 1e3 for r in rounds]),
        "ingest_chunks_per_s": ingested / t_in,
        "recrawl_chunks_per_s": live / t_re,
        "stats_ms": _median([r["stats_s"] * 1e3 for r in rounds]),
        "rounds": len(rounds),
        "chunks": live // len(rounds),
    }


def run_ingest(seed, seconds, trace, workdir, deadline) -> dict:
    ing = Ingest(seed, workdir)
    _log("inputs generated")
    t_setup = time.perf_counter()
    host = Host(workdir, trace, deadline)
    try:
        _log("session started")
        ing.warm_up(host, trace)
        setup_s = time.perf_counter() - t_setup
        _log(f"warmed up, setup {setup_s:.1f} s")
        if trace:
            host.call("trace", on=False)
        phase_a = ing.loop(host, seconds, dump_before=False)
        if trace:
            host.call("trace", on=True)
            t_b = time.perf_counter()
            phase_b = ing.loop(host, seconds, dump_before=True)
            host.call("trace", on=False)
        usage = host.call("usage")
    finally:
        host.close()
    _log("measured, program stopped")
    error = next(filter(None, (ing.check(r) for r in ing.rounds)), None)
    _log("verified")
    measured = phase_b if trace else phase_a
    summary = _ingest_summary(phase_a)
    result = {
        "correct": error is None,
        "attempted": 3 * len(measured),
        "failed": 0,
        "error": error,
        "detail": summary,
    }
    last = measured[-1]
    store_bytes, data_files = _dir_bytes(last["store"])
    if not trace:
        user = sum(len(c.encode()) + 4 * gen.DIM for _, _, c in last["live"])
        result["metrics"] = {
            "setup_s": setup_s,
            "peak_rss_mb": usage["peak_rss_mb"],
            "store_bytes_per_user_byte": store_bytes / user,
            "ops_per_s": summary["ops_per_s"],
            "p50_ms": summary["p50_ms"],
        }
        return result
    spans = _load_spans(host.spans)
    m = {}
    session = _spans_in(spans, "session.start")
    m["session.start_s"] = session[0]["end"] - session[0]["start"] if session else 0.0
    m["store.upsert_ms"] = _p50_ms(_spans_in(spans, "store.upsert", t_b))
    upserts = {s["id"] for s in _spans_in(spans, "store.upsert", t_b)}
    m["store.append_ms"] = _p50_ms(
        [s for s in _spans_in(spans, "store.append", t_b) if s["parent"] not in upserts]
    )
    m["store.state_token_p50_ms"] = _p50_ms(_spans_in(spans, "store.state_token", t_b))
    m["store.data_files"] = data_files
    m["embeddings.udf_encode_s"] = _median([r["ingest"]["embedding_time"] for r in phase_b])
    for name in ("ingest", "recrawl", "stats"):
        m[f"engine.{name}_ms"] = _p50_ms(_spans_in(spans, f"engine.{name}", t_b))
    changed = sum(len(set(r["live"]) - set(r["before"])) for r in phase_b)
    rewritten = sum(r["recrawl"]["rows_written"] for r in phase_b)
    m["engine.recrawl_rows_written_per_changed_chunk"] = rewritten / changed if changed else 0.0
    m.update(_spark_layers(spans, host.event_log, t_b))
    m.update(_self_layers(spans, t_b, 3 * len(phase_b)))
    m.update(_overhead(summary, _ingest_summary(phase_b)))
    result["metrics"] = m
    return result


# -- entry point ---------------------------------------------------------------


def run_one(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    deadline = time.monotonic() + DEADLINE_S
    base = os.path.join(ROOT, ".perfbench_tmp")
    workdir = os.path.join(base, f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    try:
        if workload == "ingest":
            result = run_ingest(seed, seconds, trace, workdir, deadline)
        else:
            result = run_serving(workload, seed, seconds, trace, workdir, deadline)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
        if os.path.isdir(base) and not os.listdir(base):
            os.rmdir(base)
    units = PER_LAYER_UNITS if trace else E2E_UNITS
    values = result.pop("metrics")
    result["metrics"] = {k: {"value": float(values.get(k, 0.0)), "unit": u} for k, u in units.items()}
    return result


def _print(workload: str, result: dict) -> None:
    print(f"== {workload}: attempted {result['attempted']}, failed {result['failed']}, "
          f"correct {result['correct']}")
    if result["error"]:
        print(f"   first wrong answer: {result['error']}")
    for k, v in result["metrics"].items():
        print(f"   {k:48s} {v['value']:14.4f} {v['unit']}")
    for k, v in result["detail"].items():
        print(f"   detail {k:41s} {v:14.4f}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "converttovectordb_spark", "__init__.py")):
        print("perfbench: converttovectordb_spark is not in this checkout", file=sys.stderr)
        return 2
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    names = WORKLOADS if args.workload == "all" else (args.workload,)
    results = {}
    for name in names:
        try:
            results[name] = run_one(name, args.seed, args.seconds, bool(args.trace))
        except BenchError as e:
            print(f"perfbench: {name}: {e}", file=sys.stderr)
            return 1
        _print(name, results[name])
    if len(results) == 1:
        final = {k: results[names[0]][k] for k in ("correct", "attempted", "failed", "metrics")}
    else:  # every workload's metrics, prefixed with its name
        final = {
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{k}": v for w, r in results.items() for k, v in r["metrics"].items()},
        }
    print(json.dumps(final))
    return 0 if final["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
