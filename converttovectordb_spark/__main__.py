"""CLI entry point — the reference's `run_vector_db.py` verbs over the
Spark engine.

Reference surface (run_vector_db.py:119-290): `start | convert | query |
stats | demo` against a Flask server. Here there is no server — the
SparkSession IS the engine — so `start` collapses away and the verbs map
to::

    python -m converttovectordb_spark ingest --repo PATH [--repo-url URL] --store DIR
    python -m converttovectordb_spark search --query TEXT [--top-k K] [--at-version N] --store DIR
    python -m converttovectordb_spark stats --store DIR
    python -m converttovectordb_spark health --store DIR
    python -m converttovectordb_spark history --store DIR --transactional
    python -m converttovectordb_spark compact --store DIR --transactional
    python -m converttovectordb_spark vacuum --store DIR --transactional
    python -m converttovectordb_spark clear --store DIR [--no-backup]
    python -m converttovectordb_spark demo --store DIR

`demo` mirrors the reference's demo flow (ingest a tiny sample tree,
run one query, print stats). Output is one JSON document per command so
the CLI is scriptable.
"""

from __future__ import annotations

import argparse
import json
import sys
import tempfile


def _build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="converttovectordb_spark",
        description="PySpark vector/document engine CLI "
        "(reference parity: run_vector_db.py verbs)",
    )
    sub = p.add_subparsers(dest="command", required=True)

    def common(sp):
        sp.add_argument("--store", required=True, help="store directory")
        sp.add_argument("--dim", type=int, default=64)
        sp.add_argument("--chunk-size", type=int, default=1000)
        sp.add_argument("--overlap", type=int, default=200)
        sp.add_argument("--transactional", action="store_true")
        sp.add_argument(
            "--auto-compact-after", type=int, default=None, metavar="K",
            help="with --transactional: when an append brings the live "
            "version count to K, compact inside the write (bounds the "
            "manifest/small-file growth of push/stream cadences)",
        )
        sp.add_argument("--master", default="local[*]")

    sp = sub.add_parser("ingest", help="scan+chunk+embed+store a repo")
    sp.add_argument("--repo", required=True, help="local repo path")
    sp.add_argument("--repo-url", default=None, help="git URL to clone first")
    sp.add_argument(
        "--replace", action="store_true",
        help="upsert by file path (requires --transactional): changed "
        "files replace their old chunks instead of duplicating them",
    )
    sp.add_argument(
        "--semantic-dedup", type=float, default=None, metavar="T",
        help="drop arriving chunks whose nearest committed neighbor "
        "has cosine >= T (dedup-on-arrival for re-crawls); scans only "
        "the probed IVF cluster partitions when a fresh index covers "
        "the store, full corpus otherwise",
    )
    sp.add_argument(
        "--semantic-dedup-nprobe", type=int, default=2, metavar="N",
        help="clusters probed per arriving chunk on the indexed "
        "dedup path (recall/cost dial; ignored without an index)",
    )
    sp.add_argument(
        "--within-batch-dedup", action="store_true",
        help="also collapse near-dups INSIDE the arriving batch "
        "(keep-lowest (path, chunk_index) rule)",
    )
    sp.add_argument(
        "--lexical-dedup", type=float, default=None, metavar="J",
        help="drop arriving chunks whose estimated MinHash Jaccard "
        "against any committed chunk reaches J; the corpus side is a "
        "persisted signature artifact (one shuffle-free map-side scan "
        "per batch, corpus text never re-read) — composable with "
        "--semantic-dedup",
    )
    common(sp)

    sp = sub.add_parser(
        "push",
        help="append pre-built document rows from a JSONL file — the "
        "CLI twin of REST /add_documents; rows without an 'embedding' "
        "are embedded with the store's embedder",
    )
    sp.add_argument(
        "--file", required=True,
        help="JSONL path: one document per line, at least {'content'}; "
        "optional path/extension/chunk_index/total_chunks/embedding/"
        "timestamp. Rows with neither path nor chunk_index get "
        "chunk_index = line number (unique identity)",
    )
    sp.add_argument(
        "--semantic-dedup", type=float, default=None, metavar="T",
        help="drop rows whose nearest committed neighbor has "
        "cosine >= T (same semantics as ingest)",
    )
    sp.add_argument(
        "--semantic-dedup-nprobe", type=int, default=2, metavar="N",
        help="clusters probed per row on the indexed dedup path",
    )
    sp.add_argument(
        "--within-batch-dedup", action="store_true",
        help="also collapse near-dups INSIDE the pushed batch",
    )
    sp.add_argument(
        "--lexical-dedup", type=float, default=None, metavar="J",
        help="drop rows whose estimated MinHash Jaccard against any "
        "committed chunk reaches J",
    )
    common(sp)

    sp = sub.add_parser("search", help="top-k similarity search")
    sp.add_argument("--query", required=True)
    sp.add_argument("--top-k", type=int, default=5)
    sp.add_argument(
        "--truncate", type=int, default=500,
        help="display truncation (reference T6); 0 disables",
    )
    sp.add_argument(
        "--at-version", type=int, default=None,
        help="time-travel: search the store snapshot as of this commit "
        "version (requires --transactional)",
    )
    common(sp)

    sp = sub.add_parser(
        "hybrid", help="BM25+cosine reciprocal-rank-fusion search"
    )
    sp.add_argument("--query", required=True)
    sp.add_argument("--top-k", type=int, default=5)
    sp.add_argument(
        "--use-index", action="store_true",
        help="serve the semantic arm from the PUBLISHED transactional "
        "IVF index (build-index --transactional first; approximate at "
        "--nprobe, staleness-guarded)",
    )
    sp.add_argument("--nprobe", type=int, default=2)
    sp.add_argument(
        "--use-lex-index", action="store_true",
        help="serve the BM25 arm from the persisted postings "
        "(build-lex-index first; staleness-guarded)",
    )
    sp.add_argument(
        "--allow-stale", action="store_true",
        help="serve from stale index snapshots instead of raising",
    )
    common(sp)

    sp = sub.add_parser(
        "build-lex-index",
        help="tokenize the store once into the persisted BM25 inverted "
        "index (bucket-partitioned postings; hybrid --use-lex-index "
        "then reads only the query terms' buckets)",
    )
    common(sp)

    sp = sub.add_parser(
        "diverse",
        help="MMR-diversified search: relevance top-fetch-k, then a "
        "maximal-marginal-relevance rerank",
    )
    sp.add_argument("--query", required=True)
    sp.add_argument("--top-k", type=int, default=5)
    sp.add_argument("--fetch-k", type=int, default=50)
    sp.add_argument(
        "--mmr-lambda", type=float, default=0.5,
        help="relevance/diversity tradeoff in [0,1]; 1 = pure relevance",
    )
    sp.add_argument(
        "--truncate", type=int, default=500,
        help="display truncation (reference T6); 0 disables",
    )
    common(sp)

    sp = sub.add_parser(
        "answer",
        help="RAG answer: top-k retrieval + prompt assembly + LLM seam "
        "(deterministic fake generator in this environment)",
    )
    sp.add_argument("--query", required=True)
    sp.add_argument("--top-k", type=int, default=5)
    sp.add_argument(
        "--report", action="store_true",
        help="render the generation as the reference's markdown "
        "estimate report (estimate_time.py format_output) instead of "
        "raw JSON output",
    )
    common(sp)

    sp = sub.add_parser("stats", help="corpus statistics")
    common(sp)

    sp = sub.add_parser("health", help="store health counters")
    common(sp)

    sp = sub.add_parser(
        "fsck",
        help="integrity check over every persisted artifact (store "
        "commit log, IVF index, lexical index, signature store, bits "
        "serving artifact); --heal applies the safe repairs",
    )
    sp.add_argument(
        "--heal",
        action="store_true",
        help="apply safe repairs (swap recovery, debris sweeps, "
        "histogram recompute); data-losing or corpus-pass repairs "
        "are only ever reported",
    )
    common(sp)

    sp = sub.add_parser(
        "history",
        help="commit log of a transactional store (version ids usable "
        "with search --at-version)",
    )
    common(sp)

    sp = sub.add_parser(
        "compact",
        help="OPTIMIZE a transactional store: rewrite the current "
        "snapshot as one batch (old versions stay time-travelable)",
    )
    common(sp)

    sp = sub.add_parser(
        "vacuum",
        help="drop batch dirs superseded by compaction (frees disk, "
        "ends time travel to pre-compaction versions)",
    )
    common(sp)

    sp = sub.add_parser(
        "diff",
        help="row-level diff between two committed store versions "
        "(added/removed/changed/unchanged identities; requires "
        "--transactional)",
    )
    sp.add_argument("--from-version", type=int, required=True)
    sp.add_argument(
        "--to-version", type=int, default=None,
        help="default: the current version",
    )
    common(sp)

    sp = sub.add_parser(
        "build-index",
        help="train + materialize the IVF ANN index beside the store "
        "(with --transactional: rebuild-and-swap protocol, atomic "
        "CURRENT pointer)",
    )
    sp.add_argument("--num-clusters", type=int, default=16)
    sp.add_argument(
        "--pq-m", type=int, default=None,
        help="also train product-quantization codes (IVFADC layout)",
    )
    sp.add_argument("--pq-k", type=int, default=16)
    sp.add_argument(
        "--recall-sample", type=int, default=None, metavar="N",
        help="measure recall@5 vs nprobe on an N-probe held-out sample "
        "and persist the curve in the index — search_indexed("
        "target_recall=r) then resolves nprobe from the measurement",
    )
    sp.add_argument(
        "--adc-recall-sample", type=int, default=None, metavar="N",
        help="(with --pq-m) measure recall@5 vs adc_shortlist against "
        "the exact-rerank path and persist the curve — search_indexed("
        "target_adc_recall=r) then resolves the shortlist from the "
        "measurement",
    )
    common(sp)

    sp = sub.add_parser(
        "build-bits",
        help="explicitly (re)build the persisted bits-tier serving "
        "artifact (packed sign words + row ids + sidecar under "
        "<store>_bits) so a server's first hamming-dialed request "
        "loads in milliseconds instead of paying the corpus-pass fill",
    )
    sp.add_argument(
        "--max-cells", type=int, default=None,
        help="override the driver cell budget the admission check "
        "prices the packed bits against (default: the serving tier's)",
    )
    common(sp)

    sp = sub.add_parser(
        "retrain",
        help="scheduled-maintenance verb: measure centroid drift on the "
        "PUBLISHED transactional index; past --shift-threshold, rebuild "
        "and atomically swap CURRENT (below it: no-op). Idempotent — a "
        "rebuild zeroes the drift, so replays are no-ops",
    )
    sp.add_argument("--shift-threshold", type=float, required=True)
    sp.add_argument(
        "--num-clusters", type=int, default=None,
        help="override the rebuilt cluster count (default: keep the "
        "live index's)",
    )
    common(sp)

    sp = sub.add_parser("clear", help="drop the store")
    sp.add_argument("--no-backup", action="store_true")
    common(sp)

    sp = sub.add_parser("demo", help="ingest a sample tree + run a query")
    common(sp)

    sp = sub.add_parser(
        "serve",
        help="REST facade over the engine (reference "
        "mock_vector_db_api.py endpoints)",
    )
    sp.add_argument("--host", default="127.0.0.1")
    sp.add_argument("--port", type=int, default=5000)
    common(sp)
    return p


def _engine(args):
    from pyspark.sql import SparkSession

    from converttovectordb_spark.embeddings import hash_embedder
    from converttovectordb_spark.engine import VectorEngine

    spark = (
        SparkSession.builder.master(args.master)
        .appName("converttovectordb_spark-cli")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    try:
        return VectorEngine(
            spark,
            args.store,
            embedder=hash_embedder(args.dim),
            dim=args.dim,
            chunk_size=args.chunk_size,
            overlap=args.overlap,
            transactional=args.transactional,
            auto_compact_after=args.auto_compact_after,
        )
    except ValueError as e:  # e.g. --auto-compact-after without
        import json as _json  # --transactional, or K < 2

        print(_json.dumps({"command": args.command, "error": str(e)}))
        raise SystemExit(1)


def _push_file(eng, args) -> dict:
    """Read a JSONL document batch, fill missing embeddings with the
    store's embedder, and append through `engine.append_documents`
    (dedup-on-arrival included). Validation is loud and line-numbered
    (shared row rule: `schema.normalize_push_row` — the same one the
    REST door applies): a malformed producer file should fail before
    any Spark job. Rows with NEITHER a path NOR a chunk_index get
    chunk_index = their line number, so content-only batches keep
    unique (path, chunk_index) identities instead of collapsing onto
    ("", 0) — which the dedup anti-join would refuse and the store's
    newest-per-identity reads would silently shadow. Line numbers are
    only unique within ONE file: pushing a second pathless JSONL file
    reuses ("", ln) and shadows the first under newest-per-identity
    reads — cross-batch pathless producers must carry their own path
    or chunk_index."""
    import time as _time

    from pyspark.sql import functions as F

    from converttovectordb_spark.embeddings import embed_column
    from converttovectordb_spark.schema import (
        DOCUMENTS_SCHEMA,
        normalize_push_row,
    )

    rows = []
    try:
        fh = open(args.file)
    except OSError as e:
        raise ValueError(f"cannot read --file: {e}")
    with fh:
        for ln, line in enumerate(fh, 1):
            line = line.strip()
            if not line:
                continue
            try:
                doc = json.loads(line)
            except ValueError as e:
                raise ValueError(f"line {ln}: invalid JSON ({e})")
            if not isinstance(doc, dict) or "content" not in doc:
                raise ValueError(
                    f"line {ln}: each row needs at least a 'content' key"
                )
            rows.append((ln, doc))
    if not rows:
        raise ValueError("no documents in file")

    now = _time.time()
    tuples = []
    for ln, doc in rows:
        # 'file_path' is an accepted alias for 'path' (see
        # normalize_push_row): a row keyed either way must default to
        # chunk_index 0, or the same document pushed from a different
        # line would mint a new path#line identity and break rid-keyed
        # shadowing/dedup. Test the RESOLVED path (same or-chain as
        # normalize_push_row), not key presence: a null/empty value
        # normalizes to path "" and must keep a unique line-number
        # identity like a pathless row, never collapse onto ("", 0)
        has_path = bool(doc.get("path") or doc.get("file_path"))
        default_ci = 0 if (has_path or "chunk_index" in doc) else ln
        try:
            tuples.append(
                normalize_push_row(
                    doc, dim=eng.dim, now=now, default_chunk_index=default_ci
                )
            )
        except ValueError as e:
            raise ValueError(f"line {ln}: {e}")

    dedup = (
        args.semantic_dedup is not None
        or args.lexical_dedup is not None
        or args.within_batch_dedup
    )
    if not dedup and all(t[5] is not None for t in tuples):
        # a driver-resident batch with nothing to decide or embed: the
        # store's driver-side Arrow writer appends it with no Spark job
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema

        written = eng.store.append(
            pa.Table.from_pylist(
                [dict(zip(DOCUMENTS_SCHEMA.names, t)) for t in tuples],
                schema=to_arrow_schema(DOCUMENTS_SCHEMA),
            )
        )
    else:
        df = eng.spark.createDataFrame(tuples, DOCUMENTS_SCHEMA)
        if any(t[5] is None for t in tuples):
            missing = df.filter(F.col("embedding").isNull()).drop("embedding")
            embedded = embed_column(
                missing, "content", "embedding", eng.embedder, eng.dim
            ).select(*DOCUMENTS_SCHEMA.fieldNames())
            df = (
                df.filter(F.col("embedding").isNotNull())
                .unionByName(embedded)
            )
        written = eng.append_documents(
            df,
            semantic_dedup=args.semantic_dedup,
            semantic_dedup_nprobe=args.semantic_dedup_nprobe,
            semantic_dedup_within_batch=args.within_batch_dedup,
            lexical_dedup=args.lexical_dedup,
        )
    return {
        "rows_in": len(tuples),
        "rows_written": written,
        "skipped_duplicates": len(tuples) - written,
    }


def main(argv: list[str] | None = None) -> int:
    args = _build_parser().parse_args(argv)
    eng = _engine(args)

    if args.command == "ingest":
        try:
            eng.ingest(
                args.repo,
                repo_url=args.repo_url,
                replace=args.replace,
                semantic_dedup=args.semantic_dedup,
                semantic_dedup_nprobe=args.semantic_dedup_nprobe,
                semantic_dedup_within_batch=args.within_batch_dedup,
                lexical_dedup=args.lexical_dedup,
            )
        except ValueError as e:
            # e.g. --replace on a non-transactional store: the clean
            # JSON-error + exit-1 pattern compact/vacuum use, not a
            # traceback (the help text promises --transactional).
            print(json.dumps({"command": "ingest", "error": str(e)}))
            return 1
        print(json.dumps({"command": "ingest", **eng.last_ingest_metrics}))
    elif args.command == "push":
        try:
            out = _push_file(eng, args)
        except ValueError as e:
            print(json.dumps({"command": "push", "error": str(e)}))
            return 1
        print(json.dumps({"command": "push", **out}))
    elif args.command == "search":
        try:
            res = eng.search(
                args.query,
                args.top_k,
                truncate_chars=args.truncate or None,
                at_version=args.at_version,
            )
        except ValueError as e:  # e.g. --at-version without --transactional
            print(json.dumps({"command": "search", "error": str(e)}))
            return 1
        rows = [r.asDict() for r in res.collect()]
        print(json.dumps({"command": "search", "results": rows}))
    elif args.command == "hybrid":
        try:
            if args.use_index:
                # fresh-process attach: the PUBLISHED transactional
                # index (same contract as the retrain verb — a plain
                # index has no pointer a new process can trust)
                eng.open_index()
            res = eng.search_hybrid(
                args.query,
                args.top_k,
                use_index=args.use_index,
                nprobe=args.nprobe,
                use_lex_index=args.use_lex_index,
                allow_stale=args.allow_stale,
            )
            rows = [r.asDict() for r in res.collect()]
        except RuntimeError as e:  # missing/stale index contracts
            print(json.dumps({"command": "hybrid", "error": str(e)}))
            return 1
        print(json.dumps({"command": "hybrid", "results": rows}))
    elif args.command == "build-lex-index":
        idx = eng.build_lex_index()
        print(
            json.dumps(
                {
                    "command": "build-lex-index",
                    "index_path": idx.path,
                    "n_docs": idx.meta()["n_docs"],
                    "n_buckets": idx.meta()["n_buckets"],
                }
            )
        )
    elif args.command == "diverse":
        try:
            res = eng.search_diverse(
                args.query,
                args.top_k,
                fetch_k=args.fetch_k,
                mmr_lambda=args.mmr_lambda,
                truncate_chars=args.truncate or None,
            )
        except ValueError as e:  # e.g. --mmr-lambda outside [0, 1]
            print(json.dumps({"command": "diverse", "error": str(e)}))
            return 1
        rows = [r.asDict() for r in res.collect()]
        print(json.dumps({"command": "diverse", "results": rows}))
    elif args.command == "answer":
        row = eng.answer(args.query, args.top_k).collect()[0]
        if args.report:
            from converttovectordb_spark.operators.generate import (
                format_report,
            )

            print(
                json.dumps(
                    {
                        "command": "answer",
                        "n_results": row["n_results"],
                        "report": format_report(row["generation"]),
                    }
                )
            )
        else:
            print(
                json.dumps(
                    {
                        "command": "answer",
                        "n_results": row["n_results"],
                        "generation": row["generation"],
                    }
                )
            )
    elif args.command == "stats":
        print(json.dumps({"command": "stats", **eng.stats()}))
    elif args.command == "health":
        print(json.dumps({"command": "health", **eng.health()}))
    elif args.command == "fsck":
        findings = eng.fsck(heal=args.heal)
        print(json.dumps({
            "command": "fsck",
            "healthy": not any(
                f["severity"] == "error" and not f["healed"]
                for f in findings
            ),
            "findings": findings,
        }))
    elif args.command == "history":
        print(json.dumps({"command": "history", "commits": eng.history()}))
    elif args.command in ("compact", "vacuum"):
        from converttovectordb_spark.sources.store import (
            TransactionalDocumentStore,
        )

        if not isinstance(eng.store, TransactionalDocumentStore):
            print(
                json.dumps(
                    {"command": args.command,
                     "error": "requires --transactional"}
                )
            )
            return 1
        if args.command == "compact":
            n = eng.store.compact()
            print(json.dumps({"command": "compact", "rows_compacted": n}))
        else:
            n = eng.store.vacuum()
            print(json.dumps({"command": "vacuum", "dirs_removed": n}))
    elif args.command == "diff":
        try:
            out = eng.snapshot_diff(args.from_version, args.to_version)
        except (ValueError, FileNotFoundError) as e:
            print(json.dumps({"command": "diff", "error": str(e)}))
            return 1
        print(json.dumps({"command": "diff", **out}))
    elif args.command == "build-index":
        try:
            idx = eng.build_index(
                num_clusters=args.num_clusters,
                pq_m=args.pq_m,
                pq_k=args.pq_k,
                transactional=args.transactional,
                recall_sample=args.recall_sample,
                adc_recall_sample=args.adc_recall_sample,
            )
        except Exception as e:
            print(json.dumps({"command": "build-index", "error": str(e)}))
            return 1
        out = {
            "command": "build-index",
            "index_path": idx.path,
            "num_clusters": args.num_clusters,
            "pq": args.pq_m is not None,
            "transactional": args.transactional,
        }
        if args.recall_sample is not None:
            out["recall_curve"] = idx.recall_curve()
        if args.adc_recall_sample is not None:
            out["adc_curve"] = idx.adc_curve()
        print(json.dumps(out))
    elif args.command == "build-bits":
        try:
            out = eng.build_bits_artifact(max_cells=args.max_cells)
        except ValueError as e:
            print(json.dumps({"command": "build-bits", "error": str(e)}))
            return 1
        print(json.dumps({"command": "build-bits", **out}))
    elif args.command == "retrain":
        try:
            eng.open_index()  # attach (and heal) the published index
            rep = eng.maybe_retrain(
                args.shift_threshold, num_clusters=args.num_clusters
            )
        except RuntimeError as e:  # no published transactional index
            print(json.dumps({"command": "retrain", "error": str(e)}))
            return 1
        print(json.dumps({"command": "retrain", **rep}))
    elif args.command == "clear":
        eng.clear(backup=not args.no_backup)
        print(json.dumps({"command": "clear", "cleared": True}))
    elif args.command == "serve":
        from converttovectordb_spark.server import VectorDBServer

        srv = VectorDBServer(eng, host=args.host, port=args.port)
        host, port = srv.address
        print(json.dumps({"command": "serve", "host": host, "port": port}))
        try:
            srv.serve_forever()
        except KeyboardInterrupt:
            srv.stop()
    elif args.command == "demo":
        demo_dir = tempfile.mkdtemp(prefix="cvdb_demo_")
        with open(f"{demo_dir}/sample.py", "w") as fh:
            fh.write("def greet(name):\n    return f'hello {name}'\n" * 20)
        with open(f"{demo_dir}/readme.md", "w") as fh:
            fh.write("# demo corpus\nvector search over code chunks\n")
        eng.ingest(demo_dir)
        hits = eng.search("hello greeting function", 3).collect()
        print(
            json.dumps(
                {
                    "command": "demo",
                    "ingest": eng.last_ingest_metrics,
                    "search_hits": len(hits),
                    "stats": eng.stats(),
                }
            )
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
