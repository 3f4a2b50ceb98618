"""The program-side process of the benchmark.

``run.py`` starts this script in a fresh working directory and drives
it with one JSON command per line on stdin; each command gets one JSON
reply line. The process holds the SparkSession (``session.get_spark``)
and either a REST server built the way the ``serve`` CLI builds it, or
a transactional ``VectorEngine`` for the ingest commands.

    python perfbench/host.py --trace 0|1 --spans FILE
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time


def _proc_usage(pid: int) -> tuple[float, float]:
    """(CPU seconds, peak RSS MB) of one process, from /proc."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    cpu = (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")
    hwm = 0.0
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                hwm = int(line.split()[1]) / 1024
    return cpu, hwm


class Host:
    def __init__(self, trace: bool, spans_path: str):
        from converttovectordb_spark import session

        from perfbench.trace import Tracer

        self.tracer = Tracer()
        self.trace_mode = trace
        self.spans_path = spans_path
        if trace:
            self.tracer.wrap(session, "get_spark", "session.start")
            self.tracer.enabled = True
        self.spark = session.get_spark()
        self.tracer.sc = self.spark.sparkContext
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.server = None
        self.engines: dict[str, object] = {}
        if trace:
            self._wrap_layers()

    def _wrap_layers(self) -> None:
        from converttovectordb_spark import engine, server
        from converttovectordb_spark.operators import serving
        from converttovectordb_spark.sources import store

        w = self.tracer.wrap
        for route in ("query", "query_batch", "hybrid"):
            w(server.VectorDBApi, route, f"server.{route}.handler")
        w(server.VectorDBApi, "add_documents", "server.add_documents.handler", job_group=True)
        w(serving.DriverMatrixIndex, "from_dataframe", "serving.fill", job_group=True)
        for fn in ("query", "query_batch", "hybrid_query"):
            w(serving.DriverMatrixIndex, fn, f"serving.{fn}")
        for cls in (store.DocumentStore, store.TransactionalDocumentStore):
            for fn in ("state_token", "append", "load"):
                if fn in cls.__dict__:
                    w(cls, fn, f"store.{fn}")
        w(store.TransactionalDocumentStore, "upsert", "store.upsert")
        w(
            engine.VectorEngine,
            "ingest",
            lambda a, kw: "engine.recrawl" if kw.get("replace") else "engine.ingest",
            job_group=True,
        )
        w(engine.VectorEngine, "stats", "engine.stats", job_group=True)

    # -- commands --------------------------------------------------------
    def serve(self, corpus: str, store: str) -> dict:
        """Build the store from the generated corpus and start the REST
        server on an ephemeral port."""
        import numpy as np
        import pandas as pd

        from converttovectordb_spark.engine import VectorEngine
        from converttovectordb_spark.schema import DOCUMENTS_SCHEMA
        from converttovectordb_spark.server import VectorDBServer

        data = np.load(corpus, allow_pickle=True)
        # the serve CLI's engine: plain store, hash embedder at the corpus dim
        eng = VectorEngine(self.spark, store, dim=data["embedding"].shape[1])
        if self.trace_mode:
            self.tracer.wrap(eng, "embedder", "embeddings.query_encode")
        pdf = pd.DataFrame(
            {
                "path": data["path"],
                "extension": data["extension"],
                "chunk_index": data["chunk_index"],
                "total_chunks": data["total_chunks"],
                "content": data["content"],
                "embedding": list(data["embedding"]),
                "timestamp": data["timestamp"],
            }
        )
        rows = eng.store.append(self.spark.createDataFrame(pdf, schema=DOCUMENTS_SCHEMA))
        self.server = VectorDBServer(eng, host="127.0.0.1", port=0).start()
        if self.trace_mode:
            # spans of one request carry the client's X-Request-Id
            handler = self.server._httpd.RequestHandlerClass
            orig, tracer = handler.do_POST, self.tracer

            def do_post(h):
                tracer.set_request(h.headers.get("X-Request-Id"))
                return orig(h)

            handler.do_POST = do_post
        return {"port": self.server.address[1], "rows": rows}

    def _engine(self, store: str):
        from converttovectordb_spark.engine import VectorEngine

        if store not in self.engines:  # hash embedder at the default d=384
            self.engines[store] = VectorEngine(self.spark, store, transactional=True)
        return self.engines[store]

    def ingest(self, store: str, repo: str, replace: bool) -> dict:
        eng = self._engine(store)
        eng.ingest(repo, replace=replace)
        return {"metrics": eng.last_ingest_metrics}

    def stats(self, store: str) -> dict:
        return {"stats": self._engine(store).stats()}

    def dump(self, store: str, out: str) -> dict:
        """Write the live rows (path, chunk_index, content) to ``out``."""
        df = self._engine(store).store.load(require_embedding=False)
        rows = [
            (r["path"], r["chunk_index"], r["content"])
            for r in df.select("path", "chunk_index", "content").collect()
        ]
        with open(out, "w") as fh:
            json.dump(rows, fh)
        return {"rows": len(rows)}

    def trace(self, on: bool) -> dict:
        self.tracer.enabled = on
        return {}

    def usage(self) -> dict:
        cpu_h, hwm_h = _proc_usage(os.getpid())
        cpu_j, hwm_j = _proc_usage(self.jvm_pid)
        return {"cpu_s": cpu_h + cpu_j, "peak_rss_mb": hwm_h + hwm_j}

    def quit(self) -> dict:
        if self.server is not None:
            self.server.stop()
        self.tracer.enabled = False
        self.tracer.dump(self.spans_path)
        self.spark.stop()
        return {}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--spans", required=True)
    args = ap.parse_args()
    # Replies go to the original stdout; anything else that writes to
    # fd 1 (the JVM inherits it) lands in the stderr log instead.
    reply = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    host = Host(bool(args.trace), args.spans)
    reply.write(json.dumps({"ok": True}) + "\n")
    reply.flush()
    for line in sys.stdin:
        cmd = json.loads(line)
        op = cmd.pop("op")
        t0 = time.perf_counter()
        try:
            out = {"ok": True, **getattr(host, op)(**cmd)}
        except Exception as e:  # report to run.py, keep serving
            import traceback

            traceback.print_exc()
            out = {"ok": False, "error": f"{type(e).__name__}: {e}"}
        out["host_s"] = time.perf_counter() - t0
        reply.write(json.dumps(out) + "\n")
        reply.flush()
        if op == "quit":
            break
    return 0


if __name__ == "__main__":
    sys.exit(main())
