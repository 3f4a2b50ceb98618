"""Parquet-backed document store — the engine's persistent table.

Replaces the reference's whole-file JSON persistence
(mock_vector_db_api.py:54-148: every 100-row append rewrites the entire
growing table — the O(N²) ingest bottleneck visible in its logs as
0.03 s→0.34 s+ per batch). Here appends are new immutable parquet
files: O(batch), columnar, splittable, schema-enforced.

Validation semantics kept from the reference (minus its pop-the-wrong-
row bug at mock_vector_db_api.py:205-210, documented divergence):
rows must carry non-null `content` and `embedding` to be accepted on
append (:181-190); loads drop rows with null embeddings (:107-115).

Scale posture: the store is partitioned by `extension` (low-cardinality,
query-aligned — stats and per-filetype pipelines prune partitions), and
a higher-cardinality layout (e.g. IVF cluster id) can be layered per
table for similarity-search partition pruning.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
import uuid

import pyarrow as pa
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

_APPEND_LOCKS: dict[str, threading.Lock] = {}
_APPEND_LOCKS_GUARD = threading.Lock()


def _append_lock(path: str) -> threading.Lock:
    """The in-process lock of one plain store directory, taken by both
    of its writers: the Spark writer (a Spark-resident batch) and the
    driver-side Arrow writer (a ``pyarrow.Table``). Two Spark append
    jobs into one directory share Spark's ``<path>/_temporary``
    committer dir, so one job's commit or cleanup breaks the other's
    task writes; holding the same lock around the Arrow writer keeps
    one order of appends, whichever writer runs. Serialized per
    ``realpath``."""
    with _APPEND_LOCKS_GUARD:
        return _APPEND_LOCKS.setdefault(
            os.path.realpath(path), threading.Lock()
        )


def _valid_rows(docs):
    """The reference's append validation: rows must carry non-null
    ``content`` and ``embedding`` (mock_vector_db_api.py:181-190). One
    rule for a DataFrame and for a ``pyarrow.Table``."""
    if isinstance(docs, pa.Table):
        import pyarrow.compute as pc

        return docs.filter(
            pc.and_(
                pc.is_valid(docs.column("content")),
                pc.is_valid(docs.column("embedding")),
            )
        )
    return docs.filter(
        F.col("content").isNotNull() & F.col("embedding").isNotNull()
    )


#: Code points Spark escapes as ``%XX`` in a partition directory name:
#: ``ExternalCatalogUtils.escapePathName``'s set off Windows (read back
#: from the JVM for every char below 256). Others, non-ASCII included,
#: stay as they are.
_SPARK_ESCAPED = frozenset(
    [*range(1, 32), *map(ord, "\"#%'*/:=?[\\]^{"), 127]
)

#: Spark's directory for a NULL or empty partition value; both read
#: back as NULL.
_HIVE_DEFAULT_PARTITION = "__HIVE_DEFAULT_PARTITION__"

#: Columns written without a dictionary or statistics: long per-row
#: text and the float vectors, whose values rarely repeat. pyarrow's
#: defaults dictionary-encode them, and a 100-row batch of 384-d
#: documents then takes about 40% more bytes than Spark's file.
_PLAIN_COLUMNS = ("content", "embedding")


def _escape_path_name(name: str) -> str:
    return "".join(
        f"%{ord(c):02X}" if ord(c) in _SPARK_ESCAPED else c for c in name
    )


def _partition_dir(col: str, value) -> str:
    """One ``col=value`` directory name, as Spark's partitioned
    writer names it."""
    v = _HIVE_DEFAULT_PARTITION if value in (None, "") else value
    return f"{_escape_path_name(col)}={_escape_path_name(v)}"


def _write_arrow(table: pa.Table, root: str, partition_by: tuple) -> None:
    """Write a driver-resident batch under ``root`` as Spark's
    partitioned parquet writer would lay it out, with no Spark job:
    one file per partition directory, named
    ``part-00000-<one uuid per append>.c000.snappy.parquet``, holding
    the non-partition columns. Each file is written under a
    ``.``-prefixed name in its directory, which Spark's listing and
    ``state_token`` skip, and renamed into place once complete.
    Partition columns must be strings: a directory is named from the
    value itself, where Spark would name it from its own cast of a
    number or date to string."""
    import pyarrow.parquet as pq

    for c in partition_by:
        if not pa.types.is_string(table.schema.field(c).type):
            raise TypeError(
                f"partition column {c!r} is {table.schema.field(c).type}; "
                "the Arrow writer names directories from strings only"
            )
    name = f"part-00000-{uuid.uuid4()}.c000.snappy.parquet"
    data_cols = [c for c in table.column_names if c not in partition_by]
    values = [table.column(c).to_pylist() for c in partition_by]
    groups: dict[str, list[int]] = {}
    for i in range(table.num_rows):
        names = [_partition_dir(c, v[i]) for c, v in zip(partition_by, values)]
        groups.setdefault(os.path.join("", *names), []).append(i)
    coded = [c for c in data_cols if c not in _PLAIN_COLUMNS]
    for rel, rows in groups.items():
        part = table if len(groups) == 1 else table.take(rows)
        directory = os.path.join(root, rel)
        os.makedirs(directory, exist_ok=True)
        tmp = os.path.join(directory, f".{name}.tmp")
        pq.write_table(
            part.select(data_cols),
            tmp,
            compression="snappy",
            use_dictionary=coded,
            write_statistics=coded,
            store_schema=False,
        )
        os.rename(tmp, os.path.join(directory, name))


class DocumentStore:
    """A directory of partitioned parquet holding the documents table."""

    def __init__(self, spark: SparkSession, path: str, partition_by: tuple[str, ...] = ()):
        self.spark = spark
        self.path = path
        self.partition_by = partition_by

    # -- write path ------------------------------------------------------
    def append(self, docs, *, validate: bool = True) -> int:
        """Append a batch; returns the REAL number of rows written.
        Invalid rows (null content/embedding) are dropped, mirroring
        reference ingest validation (mock_vector_db_api.py:181-190).

        Two writers, one layout. A ``pyarrow.Table`` (a batch already
        on the driver: the REST ``/add_documents`` and CLI ``push``
        doors) is written from this process by `_write_arrow`, with no
        Spark job. A DataFrame (a Spark-resident batch: ingest, the
        dedup-on-arrival path) goes through Spark's writer, and the
        count rides the write job itself as a `df.observe` metric
        (CollectMetrics) — no second pass over the data. Both hold
        `_append_lock`, so appends to one store directory are
        serialized inside the process; other processes need their own
        coordination or a transactional store. A zero-row first write
        leaves no store behind."""
        if isinstance(docs, pa.Table):
            if validate:
                docs = _valid_rows(docs)
            with _append_lock(self.path):
                if docs.num_rows:
                    _write_arrow(docs, self.path, self.partition_by)
            return docs.num_rows

        if validate:
            docs = _valid_rows(docs)
        obs = Observation()
        docs = docs.observe(obs, F.count(F.lit(1)).alias("rows_written"))
        with _append_lock(self.path):
            self._write(docs, self.path, "append")
            rows = int(obs.get["rows_written"])
            if rows == 0:
                # a zero-row FIRST write leaves a dir holding only
                # _SUCCESS: exists() then reads True while load()
                # raises UNABLE_TO_INFER_SCHEMA — restore "absent"
                # when the store holds no data files at all (an
                # established store is untouched: append added nothing)
                has_data = any(
                    f.endswith(".parquet")
                    for _, _, files in os.walk(self.path)
                    for f in files
                )
                if not has_data:
                    shutil.rmtree(self.path, ignore_errors=True)
        return rows

    def overwrite(self, docs: DataFrame) -> None:
        self._write(docs, self.path)

    def _write(self, docs: DataFrame, path: str, mode: str = "overwrite") -> None:
        """One Spark job writing ``docs`` to ``path`` in the store's layout."""
        writer = docs.write.mode(mode)
        if self.partition_by:
            writer = writer.partitionBy(*self.partition_by)
        writer.parquet(path)

    def clear(self, *, backup: bool = True) -> None:
        """Drop the table; optional timestamped backup directory mirrors
        the reference's pre-clear .bak behavior
        (mock_vector_db_api.py:395-403)."""
        if not os.path.exists(self.path):
            return
        if backup:
            shutil.move(self.path, f"{self.path}.bak.{int(time.time())}")
        else:
            shutil.rmtree(self.path)

    # -- read path -------------------------------------------------------
    def load(self, *, require_embedding: bool = True) -> DataFrame:
        """Load the table; rows without embeddings are dropped as in the
        reference's load (mock_vector_db_api.py:107-115)."""
        df = self.spark.read.parquet(self.path)
        if require_embedding:
            df = df.filter(F.col("embedding").isNotNull())
        return df

    def exists(self) -> bool:
        return os.path.exists(self.path)

    def state_token(self):
        """Cheap fingerprint of the store's current data — hashable,
        comparable; ``None`` when the store is absent. Plain stores
        walk the (partitioned) layout RECURSIVELY and fingerprint
        every data file's (relpath, mtime, size): an in-place rewrite
        of a nested parquet file changes the token even though the
        top-level directory entries don't move. One ``os.scandir``
        recursion with ``DirEntry.stat()`` and prefix-built relpaths,
        no Spark job, returning exactly the value of an ``os.walk`` +
        ``os.stat`` + ``relpath`` walk (persisted ``token_digest``s
        depend on it) at about a third of its cost. Like ``os.walk``,
        it skips a directory that cannot be listed and does not
        descend symlinked directories; a file that cannot be stat'ed
        makes the token ``None``. Consumers: the REST facade's
        warm-cache invalidation and the IVF index staleness guard."""
        if not self.exists():
            return None
        entries = set()

        def walk(dirpath: str, prefix: str) -> None:
            try:
                with os.scandir(dirpath) as it:
                    listing = list(it)
            except OSError:
                return
            for e in listing:
                if e.name.startswith(("_", ".")):
                    continue
                try:
                    is_dir = e.is_dir()
                except OSError:
                    is_dir = False
                if is_dir:
                    if not e.is_symlink():
                        walk(e.path, prefix + e.name + os.sep)
                    continue
                st = e.stat()
                entries.add((prefix + e.name, st.st_mtime_ns, st.st_size))

        try:
            walk(self.path, "")
        except OSError:
            return None
        return ("ls", frozenset(entries))


class TransactionalDocumentStore(DocumentStore):
    """Manifest-committed store: atomic appends, snapshot reads, schema
    enforcement — a minimal Delta-style commit log without the
    dependency (on a production cluster this role is played by
    Delta/Iceberg; the contract here is the same, standalone).

    Layout::

        <path>/data/<batch-uuid>/part-*.parquet   one dir per batch
        <path>/_manifest/<version>.json           O_EXCL commit files

    Writers stage a whole batch directory first, then publish it with a
    single create-exclusive manifest file — version conflicts from
    concurrent writers retry with the next version, and a writer that
    dies mid-stage leaves an orphan data dir that NO reader ever sees
    (readers list the tiny manifest dir, never the data tree). The
    reference's append semantics (mock_vector_db_api.py:54-85: rewrite
    whole JSON + .bak backup) offered no concurrent-writer safety at
    all; this is the distributed-native replacement.
    """

    MANIFEST_DIR = "_manifest"
    DATA_DIR = "data"
    #: An upsert's write job gathers the keys of the first
    #: OBSERVED_KEY_ROWS rows of each of its first OBSERVED_KEY_PARTITIONS
    #: partitions (`_stage`); a batch past that grid reads its keys back
    #: in two more jobs. Whole upsert, all keys gathered vs read back
    #: (4-core VM, median of 3): 2 rows a key, 10k keys 383 vs 512 ms,
    #: 30k 357 vs 470, 60k 562 vs 550; 8 rows a key, 15k keys 317 vs 410;
    #: 100k keys 1,078 vs 817; 1M 8.8 vs 3.1 s. So it holds 65,536 rows.
    OBSERVED_KEY_ROWS, OBSERVED_KEY_PARTITIONS = 1024, 64

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        partition_by: tuple[str, ...] = (),
        *,
        auto_compact_after: int | None = None,
    ):
        """``auto_compact_after=K`` turns on the write-door compaction
        policy: when an append commit brings the LIVE version count to
        K or more, the append runs `compact()` before returning. The
        push and streaming doors produce one commit per batch — at
        scale the manifest and small-file count grow unbounded without
        a policy, and relying on an operator to call compact() is an
        outage waiting to happen. Amortized cost: one snapshot rewrite
        per K appends; time travel and txn replay dedup are unaffected
        (manifests are never deleted, only superseded)."""
        super().__init__(spark, path, partition_by)
        if auto_compact_after is not None and auto_compact_after < 2:
            raise ValueError(
                f"auto_compact_after must be >= 2 (every-append rewrites "
                f"are the reference's O(N²) bug), got {auto_compact_after}"
            )
        self.auto_compact_after = auto_compact_after

    def _manifest_path(self) -> str:
        return os.path.join(self.path, self.MANIFEST_DIR)

    def _versions(self) -> list[int]:
        mdir = self._manifest_path()
        if not os.path.isdir(mdir):
            return []
        return sorted(
            int(f[: -len(".json")])
            for f in os.listdir(mdir)
            if f.endswith(".json")
        )

    def _read_manifest(self, version: int) -> dict:
        import json

        with open(os.path.join(self._manifest_path(), f"{version}.json")) as fh:
            return json.load(fh)

    def _commit_exclusive(
        self,
        commit: dict,
        start_version: int,
        *,
        require_live: list[int] | None = None,
    ) -> int:
        """Publish one manifest atomically: stage the FULL json to a
        tmp file, then ``os.link`` it to the next free version — the
        link either exposes complete content or nothing. The previous
        ``open(target, 'x')`` + buffered dump could die (or be read)
        mid-write, leaving a torn ``N.json`` that bricked every later
        `_read_manifest` with JSONDecodeError, permanently.

        Per ATTEMPT (the log's documented check-then-commit
        discipline, re-run after every lost race): ``require_live``
        (compaction products) verifies the replaced versions are all
        STILL live — two concurrent compactions over overlapping bases
        would otherwise both commit, neither superseding the other,
        and every overlapped row would load twice forever; a commit
        carrying ``key_cols`` verifies no live manifest committed a
        DIFFERENT key set (two racing upserts with different keys
        would brick load()'s tombstone union)."""
        import contextlib
        import json

        mdir = self._manifest_path()
        os.makedirs(mdir, exist_ok=True)
        tmp = os.path.join(mdir, f".commit.{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as fh:
            json.dump(commit, fh)
        version = start_version
        try:
            while True:
                ms = None
                if require_live is not None:
                    ms = self._manifests()
                    if not set(require_live) <= set(self._live_of(ms)):
                        raise RuntimeError(
                            f"compaction basis {require_live} was "
                            "superseded by a concurrent commit — "
                            "aborting this product (the next compaction "
                            "re-captures the live set)"
                        )
                if "key_cols" in commit:
                    if ms is None:
                        ms = self._manifests()
                    for v in self._live_of(ms):
                        m = ms[v]
                        if (
                            "key_cols" in m
                            and m["key_cols"] != commit["key_cols"]
                        ):
                            raise ValueError(
                                f"upsert key_cols {commit['key_cols']} "
                                f"!= previously committed "
                                f"{m['key_cols']}"
                            )
                target = os.path.join(mdir, f"{version}.json")
                try:
                    os.link(tmp, target)
                    return version
                except FileExistsError:
                    version += 1
        finally:
            with contextlib.suppress(OSError):
                os.unlink(tmp)

    def _schema_fingerprint(self, docs) -> list[list[str]]:
        if isinstance(docs, pa.Table):
            from pyspark.sql.pandas.types import from_arrow_schema

            schema = from_arrow_schema(docs.schema)
        else:
            schema = docs.schema
        return [[f.name, f.dataType.simpleString()] for f in schema.fields]

    def append(
        self,
        docs,
        *,
        validate: bool = True,
        txn_id: str | None = None,
    ) -> int:
        """Stage the batch, then atomically publish it. Returns rows
        written. Raises ValueError when the batch schema diverges from
        the table schema recorded at version 0.

        ``txn_id`` makes the append IDEMPOTENT (the Delta txnAppId/
        txnVersion pattern): if a committed manifest already carries
        this id, the call is a no-op returning 0. This is what gives a
        streaming foreachBatch sink exactly-once semantics — an epoch
        replayed after a sink-succeeded/checkpoint-failed crash dedupes
        instead of double-writing. Epochs of one streaming query are
        serialized, so the check-then-commit here needs no extra lock."""
        if txn_id is not None and any(
            self._read_manifest(v).get("txn_id") == txn_id
            for v in self._versions()
        ):
            return 0
        if validate:
            docs = _valid_rows(docs)
        staged = self._stage(docs)
        if staged is None:
            return 0
        extra = {} if txn_id is None else {"txn_id": txn_id}
        return self._publish(*staged, extra)

    def _stage(self, docs, key_cols: tuple[str, ...] = ()) -> tuple | None:
        """Write the batch to a fresh, unpublished batch dir. Returns
        ``(batch_dir, rows, schema fingerprint)``, or None for a
        zero-row batch, whose dir is removed. Raises ValueError when
        the batch schema diverges from the one recorded at version 0.
        A ``pyarrow.Table`` is written by the driver-side Arrow writer
        (`_write_arrow`); a DataFrame by one Spark job, whose row count
        rides it as a `df.observe` metric; with ``key_cols`` so do the
        distinct keys, fourth (Rows, or values for one key column), or
        None for a table or a batch past the ``OBSERVED_KEY_*`` grid.

        NEVER commit a zero-row batch: with partition_by the staged
        dir holds only _SUCCESS, and unioning it poisons every later
        load() with UNABLE_TO_INFER_SCHEMA — a fully-deduped re-crawl
        or empty streaming epoch used to brick the store permanently.
        Nothing to replay either: a replayed zero-row epoch
        re-produces zero rows."""
        fingerprint = self._schema_fingerprint(docs)
        versions = self._versions()
        if versions:
            recorded = self._read_manifest(versions[0])["schema"]
            if recorded != fingerprint:
                raise ValueError(
                    f"schema mismatch: table has {recorded}, batch has "
                    f"{fingerprint}"
                )
        batch_dir = os.path.join(self.path, self.DATA_DIR, uuid.uuid4().hex)
        if isinstance(docs, pa.Table):
            if not docs.num_rows:
                return None
            _write_arrow(docs, batch_dir, self.partition_by)
            return (batch_dir, docs.num_rows, fingerprint) + (None,) * bool(key_cols)
        obs = Observation()
        metrics = [F.count(F.lit(1)).alias("rows_written")]
        if key_cols:  # one key column is gathered bare: half a struct's cost
            key = F.struct(*key_cols) if len(key_cols) > 1 else F.col(key_cols[0])
            # the grid, as a column: observe() leaves nondeterministic ids unseeded
            row = F.monotonically_increasing_id() % (1 << 33)
            kept = (F.spark_partition_id() < self.OBSERVED_KEY_PARTITIONS) & (
                row < self.OBSERVED_KEY_ROWS
            )
            docs, kept = docs.withColumn("_key_kept", kept), F.col("_key_kept")
            metrics.append(F.collect_set(F.when(kept, key)).alias("keys"))
            metrics.append(F.count_if(~kept).alias("missed"))
        self._write(docs.observe(obs, *metrics).drop("_key_kept"), batch_dir)
        got = obs.get
        if not got["rows_written"]:
            shutil.rmtree(batch_dir, ignore_errors=True)
            return None
        staged = batch_dir, int(got["rows_written"]), fingerprint
        if not key_cols:
            return staged
        return staged + (None if got["missed"] else got["keys"],)

    def _publish(
        self, batch_dir: str, rows: int, fingerprint: list, extra: dict
    ) -> int:
        """Commit a staged batch dir as the next version; returns rows."""
        self._ensure_uid()
        commit = {"batch_dir": batch_dir, "rows": rows, "schema": fingerprint}
        commit.update(extra)
        self._commit_exclusive(commit, (self._versions() or [-1])[-1] + 1)
        self._maybe_auto_compact()
        return rows

    def _manifests(self) -> dict[int, dict]:
        """One pass over the manifest dir (the index layer's
        read-once discipline): every committed-read step of an
        operation works from this dict instead of re-opening each JSON
        several times — after thousands of micro-batch commits the
        repeated small-file opens are real I/O."""
        return {v: self._read_manifest(v) for v in self._versions()}

    @staticmethod
    def _live_of(manifests: dict[int, dict]) -> list[int]:
        replaced: set[int] = set()
        for m in manifests.values():
            replaced.update(m.get("replaces", []))
        return [v for v in sorted(manifests) if v not in replaced]

    def _maybe_auto_compact(self) -> None:
        """The version-count compaction trigger (see ``__init__``):
        fires AFTER a successful commit, so the appended batch is
        already durable whether or not the rewrite succeeds — which is
        why a rewrite failure must NOT propagate as the append's
        failure: the caller would retry a write that already landed
        (the REST door has no txn id) and double-write it. A failed
        compaction is an ops warning, and the next append simply
        re-triggers it.

        TWO-LEVEL (leveled compaction, manifest edition): L0 is the
        run of plain-append commits SINCE the last compaction product
        in the live list — only those are rewritten (`compact_tail`),
        so each row is folded into an L1 blob exactly once per level
        and prior blobs are never re-read by the L0 step. When the
        live list is mostly blobs (or the fresh run is too short, or
        it carries an upsert's tombstone — superseding a tombstone
        commit without applying its merge would resurrect the rows it
        replaced), the policy folds EVERYTHING with the full
        merge-materializing `compact()` — the L1→L2 step that also
        retires tombstone debt."""
        k = self.auto_compact_after
        if k is None:
            return
        ms = self._manifests()
        live = self._live_of(ms)
        if len(live) < k:
            return
        blobs = [v for v in live if ms[v].get("replaces")]
        # fresh L0 run: strictly after the last live blob; never
        # include the head batch (it plays the blob role pre-first-fire)
        cut = live.index(blobs[-1]) + 1 if blobs else 1
        fresh = live[cut:]
        try:
            if (
                len(blobs) < k
                and len(fresh) >= 2
                and not any("tombstone_keys" in ms[v] for v in fresh)
            ):
                self.compact_tail(fresh)
            else:
                self.compact()
        except Exception as exc:  # noqa: BLE001 — deliberately broad
            import warnings

            warnings.warn(
                f"auto-compaction of {self.path} failed (append already "
                f"committed; next append will retry): {exc}",
                RuntimeWarning,
                stacklevel=2,
            )

    def compact_tail(self, versions: list[int]) -> int:
        """Rewrite ONLY the given tombstone-free SUFFIX of the live
        version list as one batch dir, superseding exactly those
        versions — the leveled-compaction step that retires small-file
        debt without re-reading the (big) head of the store.

        Soundness (see the merge-on-read note in `load`): the rewritten
        rows are stamped ``snapshot_of = max(versions)``, so a live
        tombstone at tv < min(versions) still loses to them (their
        originals all had version ≥ min > tv, and max ≥ min > tv), a
        tombstone at tv > max still beats them, and no tombstone can
        sit INSIDE the range (rejected below) — superseding a tombstone
        commit without materializing its merge would resurrect the
        rows it replaced. The range must also be a SUFFIX of the live
        list: rewriting an interior range would reorder nothing today,
        but only the suffix guarantee keeps "outside the range" ==
        "strictly older", which the tombstone argument above relies on.
        """
        all_ms = self._manifests()
        live = self._live_of(all_ms)
        ms = {v: all_ms[v] for v in versions if v in all_ms}
        if versions != live[-len(versions):]:
            raise ValueError(
                f"compact_tail requires a suffix of the live versions "
                f"{live}, got {versions}"
            )
        if any("tombstone_keys" in m for m in ms.values()):
            raise ValueError(
                "compact_tail cannot supersede tombstone commits — use "
                "compact() (full merge materialization)"
            )
        # Resurrection guard: a compaction product INSIDE the range can
        # carry rows whose effective version (its snapshot_of) is OLDER
        # than a live tombstone OUTSIDE the range (a racy upsert that
        # won a manifest version between that compaction's basis and
        # its commit). Re-stamping such rows to this range's max would
        # lift them past the tombstone and resurrect replaced content —
        # so every range member's effective version must be >= the
        # newest live outside tombstone.
        out_tombs = [
            v
            for v in live
            if v not in ms and "tombstone_keys" in all_ms[v]
        ]
        max_t = max(out_tombs, default=-1)
        for v, m in ms.items():
            if m.get("snapshot_of", v) < max_t:
                raise ValueError(
                    f"compact_tail range contains a compaction product "
                    f"(v{v}, snapshot_of={m.get('snapshot_of')}) older "
                    f"than a live tombstone at v{max_t} outside the "
                    "range — superseding it would resurrect replaced "
                    "rows; use compact()"
                )
        import json

        from functools import reduce

        parts = [
            self.spark.read.parquet(ms[v]["batch_dir"]) for v in versions
        ]
        snapshot = reduce(lambda x, y: x.unionByName(y), parts)
        batch_dir = os.path.join(self.path, self.DATA_DIR, uuid.uuid4().hex)
        obs = Observation()
        self._write(snapshot.observe(obs, F.count(F.lit(1)).alias("rows")), batch_dir)
        rows = int(obs.get["rows"])
        commit = {
            "batch_dir": batch_dir,
            "rows": rows,
            "schema": self._read_manifest(self._versions()[0])["schema"],
            "replaces": list(versions),
            "snapshot_of": versions[-1],
        }
        self._commit_exclusive(
            commit,
            (self._versions() or [-1])[-1] + 1,
            require_live=list(versions),
        )
        return rows

    def append_dedup(
        self,
        docs: DataFrame,
        *,
        key_cols: tuple[str, ...] = ("content",),
        validate: bool = True,
        txn_id: str | None = None,
    ) -> int:
        """Incremental-ingest dedup: append only rows whose dedup key is
        NOT already committed — the cross-snapshot twin of `exact_dedup`
        (each new crawl/batch dedupes against the whole store, not just
        itself). Returns rows actually written.

        Key = md5 over ``key_cols``; batch-internal duplicates collapse
        first, then a left-anti join against the DISTINCT keys of the
        committed snapshot drops re-ingested rows. Scale shape: the
        store side is pruned to the 32-byte key column at the scan
        (column pruning), both sides hash-shuffle on the key — one
        linear exchange, same as exact dedup; no content bytes move for
        rows that are dropped. Which physical row survives an
        intra-batch duplicate is unspecified (keys are equal by
        construction)."""
        # NULL-sentinel each column BEFORE concat: concat_ws silently
        # skips NULLs, so ('x', NULL, 'y') and ('x', 'y', NULL) would
        # otherwise collide and one row be wrongly dropped. The sentinel
        # also disambiguates NULL from the empty string.
        key = F.md5(
            F.concat_ws(
                "\x1f",
                *[
                    F.coalesce(F.col(c).cast("string"), F.lit("\x00<null>"))
                    for c in key_cols
                ],
            )
        )
        batch = docs.withColumn("_dedup_key", key).dropDuplicates(
            ["_dedup_key"]
        )
        if self.exists():
            existing = (
                self.load(require_embedding=False)
                .select(key.alias("_dedup_key"))
                .distinct()
            )
            batch = batch.join(existing, on="_dedup_key", how="left_anti")
        return self.append(
            batch.drop("_dedup_key"), validate=validate, txn_id=txn_id
        )

    def upsert(
        self,
        docs: DataFrame,
        *,
        key_cols: tuple[str, ...] = ("path",),
        validate: bool = True,
    ) -> int:
        """MERGE-on-read: append the batch AND commit a tombstone key
        set in the same manifest — readers drop any EARLIER row whose
        key is tombstoned at a later version, so re-ingesting a changed
        file replaces all of its old chunks without rewriting the table
        (the Delta/Iceberg merge-on-read delete-vector idea, manifest
        edition). `compact()` materializes the merge and retires the
        tombstone debt; `load(at_version=...)` still time-travels to
        the pre-upsert rows.

        Scale shape: one Spark job writes the batch and, within the
        ``OBSERVED_KEY_*`` grid, observes its distinct keys, which
        the driver writes as a tiny key parquet (`_write_arrow`); a
        bigger batch reads them back from the staged parquet. One
        manifest publishes both; the read-side anti-filter is a
        broadcast join against accumulated LIVE tombstone keys
        (proportional to replaced files, not corpus rows) — the
        compaction cadence is what bounds it."""

        for v in self._live_versions(self._versions()):
            m = self._read_manifest(v)
            if "key_cols" in m and m["key_cols"] != list(key_cols):
                raise ValueError(
                    f"upsert key_cols {list(key_cols)} != previously "
                    f"committed {m['key_cols']}"
                )
        # tombstone keys derive from the VALIDATED batch: validation's
        # contract is "invalid rows are DROPPED" — a key whose every
        # row fails validation must not tombstone (= silently delete)
        # its committed rows with nothing written in their place
        if validate:
            docs = _valid_rows(docs)
        staged = self._stage(docs, key_cols)
        if staged is None:
            return 0  # zero valid rows: no commit, no key set
        *staged, keys = staged
        if keys == []:  # a NULL key matches no row: nothing to tombstone
            return self._publish(*staged, {})
        keys_dir = os.path.join(self.path, self.DATA_DIR, uuid.uuid4().hex + "_keys")
        if keys is None:  # past the grid: read the staged parquet (not
            # `docs`, whose lineage would run again), key columns only
            types = dict(staged[2])
            keys = self._read(staged[0], [(c, types[c]) for c in key_cols])
            keys.select(*key_cols).distinct().write.parquet(keys_dir)
        else:
            from pyspark.sql.pandas.types import to_arrow_schema
            from pyspark.sql.types import StructType

            schema = to_arrow_schema(StructType([docs.schema[c] for c in key_cols]))
            columns = zip(*keys) if len(key_cols) > 1 else [keys]
            columns = [pa.array(c, f.type) for c, f in zip(columns, schema)]
            _write_arrow(pa.Table.from_arrays(columns, schema=schema), keys_dir, ())
        return self._publish(
            *staged, {"tombstone_keys": keys_dir, "key_cols": list(key_cols)}
        )

    def overwrite(self, docs: DataFrame) -> None:
        self.clear(backup=False)
        self.append(docs, validate=False)

    def load(
        self,
        *,
        require_embedding: bool = True,
        at_version: int | None = None,
    ) -> DataFrame:
        """Union of all COMMITTED batch dirs — staged-but-unpublished
        data is invisible by construction. ``at_version`` gives a
        snapshot read as of that commit (time travel): immutable batch
        dirs + the manifest log make every historical version free to
        reconstruct."""
        versions = self._versions()
        if at_version is not None:
            versions = [v for v in versions if v <= at_version]
        # honor compaction commits visible at this version: superseded
        # batches drop out of the snapshot (their dirs stay on disk for
        # time travel until vacuum()).
        versions = self._live_versions(versions)
        manifests = {v: self._read_manifest(v) for v in versions}
        if not manifests:
            raise FileNotFoundError(f"no committed batches under {self.path}")
        # One read per batch dir, unioned by name: each dir carries its
        # own partition-column discovery (a single multi-root read can't
        # infer partitions across different base paths). The union is a
        # plan-level concat of scans — no shuffle, and Catalyst pushes
        # filters/pruning into every branch. Each dir is read with the
        # schema its manifest records: no footer-inference job per dir,
        # and a partition column keeps its recorded type (inferred, an
        # `extension` whose only value is ".5" would read as double and
        # break the union). Discovery still puts partition columns last.
        from functools import reduce

        tomb = [
            (v, m["tombstone_keys"], m["key_cols"])
            for v, m in manifests.items()
            if "tombstone_keys" in m
        ]
        if tomb:
            # merge-on-read: each row carries its commit version; a row
            # is live unless a LATER live commit tombstoned its key
            # (a commit's own rows survive its own tombstone: >=).
            # A compaction commit's rows carry its SNAPSHOT basis
            # version ("snapshot_of"), not its own commit version: an
            # upsert that won the O_EXCL race mid-rewrite tombstones at
            # a version between the basis and the compacted commit, and
            # stamping the rewritten (pre-upsert) rows with the commit
            # version would resurrect them past that tombstone.
            key_cols = tomb[0][2]
            parts = [
                self._read(m["batch_dir"], m["schema"]).withColumn(
                    "_sv", F.lit(m.get("snapshot_of", v))
                )
                for v, m in manifests.items()
            ]
            df = reduce(lambda x, y: x.unionByName(y), parts)
            types = dict(manifests[tomb[0][0]]["schema"])
            tparts = [
                self._read(kd, [(c, types[c]) for c in key_cols]).withColumn(
                    "_tv", F.lit(v)
                )
                for v, kd, _ in tomb
            ]
            tmax = (
                reduce(lambda x, y: x.unionByName(y), tparts)
                .groupBy(*key_cols)
                .agg(F.max("_tv").alias("_tv"))
            )
            # the tombstone key set grows with delete/replace volume,
            # so no broadcast hint — AQE broadcasts it while small and
            # shuffles on the key once it isn't
            df = (
                df.join(tmax, on=list(key_cols), how="left")
                .filter(F.col("_tv").isNull() | (F.col("_sv") >= F.col("_tv")))
                .drop("_tv", "_sv")
            )
        else:
            parts = [
                self._read(m["batch_dir"], m["schema"]) for m in manifests.values()
            ]
            df = reduce(lambda x, y: x.unionByName(y), parts)
        if require_embedding:
            df = df.filter(F.col("embedding").isNotNull())
        return df

    def _read(self, path: str, fields) -> DataFrame:
        """``path`` read with a manifest's ``(name, type)`` schema (see `load`)."""
        ddl = ", ".join("`{}` {}".format(n.replace("`", "``"), t) for n, t in fields)
        return self.spark.read.schema(ddl).parquet(path)

    def exists(self) -> bool:
        return bool(self._versions())

    def version(self) -> int:
        """Latest committed version, -1 when empty."""
        return (self._versions() or [-1])[-1]

    def _uid_path(self) -> str:
        return os.path.join(self.path, "_uid")

    def _ensure_uid(self) -> None:
        """Store-lifetime identity, minted once at the first commit
        (O_EXCL — racing writers keep the winner's). Lives inside the
        store dir so clear()/overwrite() drop it with the log."""

        os.makedirs(self.path, exist_ok=True)
        try:
            with open(self._uid_path(), "x") as fh:
                fh.write(uuid.uuid4().hex)
        except FileExistsError:
            pass

    def _uid(self) -> str | None:
        try:
            with open(self._uid_path()) as fh:
                return fh.read().strip()
        except OSError:
            return None

    def state_token(self):
        """Committed-state fingerprint: (manifest version, store uid) —
        one dir listing plus one tiny read, no file walk (the manifest
        IS the committed truth, so data-file mtimes are irrelevant).

        The uid term closes a lifetime-collision hole: a bare version
        counter repeats across clear()/overwrite() lifetimes (delete
        the store, re-ingest back to version N → identical token), so
        a PERSISTED artifact token (lex index, IVF `_TOKEN`) minted
        against the old corpus would bless the new one and silently
        serve deleted content. Every clear/overwrite drops the uid
        file with the log; the next commit mints a fresh one."""
        if not self.exists():
            return None
        return ("v", self.version(), self._uid())

    def history(self) -> list[dict]:
        return [
            {"version": v, **self._read_manifest(v)} for v in self._versions()
        ]

    def _live_versions(self, versions: list[int]) -> list[int]:
        """Versions not superseded by a later compaction commit."""
        replaced: set[int] = set()
        for v in versions:
            replaced.update(self._read_manifest(v).get("replaces", []))
        return [v for v in versions if v not in replaced]

    def compact(self) -> int:
        """OPTIMIZE-style compaction: rewrite the current snapshot as
        ONE new batch dir and publish a commit that supersedes all
        prior versions. Many small append batches mean many small
        parquet files — at scale that is listing pressure and tiny
        scan tasks; compaction restores fat splits. Old batch dirs are
        left in place (time travel keeps working) until `vacuum()`.
        Returns the rows compacted."""
        import json

        versions = self._versions()
        if not versions:
            return 0
        # conflict-detection basis: the versions LIVE at capture (the
        # full `replaces` list legitimately contains already-superseded
        # history; only the live subset must still be live at commit)
        live_at_capture = self._live_versions(versions)
        # Snapshot is capped at the CAPTURED version set (same contract
        # as TransactionalIVFIndex.compact): a batch committed while
        # the rewrite runs is neither in the snapshot nor in
        # ``replaces`` — it stays live beside the compacted commit. An
        # uncapped load() here could include that batch's rows in the
        # snapshot while leaving its version live → duplicates.
        snapshot = self.load(require_embedding=False, at_version=versions[-1])
        batch_dir = os.path.join(self.path, self.DATA_DIR, uuid.uuid4().hex)
        obs = Observation()
        self._write(snapshot.observe(obs, F.count(F.lit(1)).alias("rows")), batch_dir)
        rows = int(obs.get["rows"])
        fingerprint = self._read_manifest(versions[0])["schema"]
        commit = {
            "batch_dir": batch_dir,
            "rows": rows,
            "schema": fingerprint,
            "replaces": versions,
            # tombstone-comparison version for the rewritten rows: the
            # captured basis, NOT this commit's own version (see
            # load()'s merge-on-read note — a concurrent upsert's
            # tombstone must still beat the pre-upsert rows this
            # snapshot carries)
            "snapshot_of": versions[-1],
        }
        self._commit_exclusive(
            commit, versions[-1] + 1, require_live=live_at_capture
        )
        return rows

    def vacuum(self) -> int:
        """Delete batch dirs no longer referenced by any LIVE version
        (i.e. only reachable through time travel). Returns the number
        of directories removed. Run after `compact()` once historical
        snapshots are no longer needed."""
        versions = self._versions()
        live = set(self._live_versions(versions))
        removed = 0
        for v in versions:
            if v in live:
                continue
            m = self._read_manifest(v)
            for d in [m["batch_dir"], m.get("tombstone_keys")]:
                if d and os.path.isdir(d):
                    shutil.rmtree(d)
                    removed += 1
        return removed
