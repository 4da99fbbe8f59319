"""Transactional partitioned parquet table with an Iceberg-style commit log.

The image has no Iceberg/Delta runtime jar, so the engine ships its own
minimal table format with the same *semantics* the reference relies on:

- snapshot isolation via an append-only log of immutable version files
  (``_log/v%012d.json``) — no log replay. Each version is an
  Iceberg-style manifest list: per-partition content-addressed blobs
  under ``_log/manifests/``, so a commit rewrites O(touched partitions)
  manifest bytes and a pruned read loads only its partitions' blobs
  (see Snapshot docstring);
- atomic commits through a pluggable ``CommitProtocol`` (create-if-
  absent of the next version file; POSIX ``O_CREAT|O_EXCL`` default,
  object-store variants documented on the class); losers re-read the
  fresh snapshot, rebase their partition-level changes, and retry with
  exponential backoff + jitter — the same protocol as the reference's
  Iceberg committer
  (reference: radiant/tasks/iceberg/utils.py:61-96 ``commit_files``);
- partition-scoped copy-on-write replace (``overwrite_partitions``) —
  the reference's copy-unchanged + insert-delta + atomic partition swap
  (reference: radiant/tasks/starrocks/operator.py:282-355) collapses to
  "rewrite only touched partitions, swap manifest pointers";
- additive schema evolution: the snapshot carries the authoritative
  schema; old data files missing newer columns read back as NULL
  because scans always pass the snapshot schema explicitly
  (reference analog: migrations adding columns, SURVEY.md §1.2);
- exactly-once change application: the snapshot records
  ``applied[source_id] = last_epoch`` so replaying a micro-batch is a
  manifest-level no-op (reference analog: the ``ingested_at`` watermark
  advanced post-run, radiant/dags/sql/radiant/sequencing_experiment_update.sql:1-3).

Scale notes (100 TB / 1000 executors):
- Data files are written by Spark executors in parallel
  (``partitionBy`` layout); only the manifest swap is driver-side.
- Manifest write cost per commit is O(touched partitions), read cost
  follows pruning, and compaction bounds files/bucket so each blob
  stays small.
- Partition values are hash buckets of the merge key, so commit
  conflicts between writers of disjoint buckets rebase cleanly.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time
import uuid
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LOG_DIR = "_log"
_DATA_DIR = "data"
_PB_COL = "_pb"  # directory-layout duplicate of the partition column
MAX_COMMIT_RETRIES = 20


class CommitConflict(RuntimeError):
    """Raised when the optimistic commit loses MAX_COMMIT_RETRIES times."""


class CommitProtocol:
    """The ONE primitive the lake's transactionality rests on:
    *publish these bytes under this name atomically, or fail if the
    name exists* (plus durable reads and a name listing). Everything
    else — snapshot isolation, optimistic rebase, partition-replace
    validation — is layered on top and backend-agnostic.

    ``PosixCommitProtocol`` (default) implements it with
    O_CREAT|O_EXCL + fsync + hard link — valid on any POSIX
    filesystem, NOT on S3. An object-store deployment substitutes one
    of (all industry-standard, none available in this sandbox):

    - conditional PUT (S3 ``If-None-Match: *``, GCS
      ``x-goods-if-generation-match: 0`` analog) — same contract;
    - a catalog/locking service holding the latest-version pointer
      (Iceberg's REST catalog or DynamoDB commit lock — the
      reference's own committer goes through a catalog,
      radiant/tasks/iceberg/utils.py:61-96).

    ``list_names`` must be strongly consistent for correctness of
    ``latest_version`` (S3 LIST is strongly consistent since 2020)."""

    def publish(self, target: str, data: bytes) -> None:
        """Atomically create ``target`` with ``data``; raise
        FileExistsError if it already exists (the commit race)."""
        raise NotImplementedError

    def read(self, target: str) -> str:
        raise NotImplementedError

    def list_names(self, directory: str) -> list[str]:
        raise NotImplementedError

    def delete(self, target: str) -> None:
        """Remove a published name (snapshot expiry / blob GC only —
        never called on the path a concurrent commit could be
        publishing)."""
        raise NotImplementedError

    def age_seconds(self, target: str) -> float | None:
        """Seconds since ``target`` was published, or None if unknown
        / not published. GC (vacuum) uses this for its grace window —
        age MUST come through the protocol: protocol-managed objects
        (manifest blobs on an object store) have no local-filesystem
        mtime, and a local stat would make every blob look eternally
        in-flight (never GC'd). The conservative default (None =
        unknown) makes vacuum KEEP the object; override to enable
        blob GC."""
        return None


class PosixCommitProtocol(CommitProtocol):
    def publish(self, target: str, data: bytes) -> None:
        tmp = f"{target}.tmp-{uuid.uuid4().hex}"
        fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        try:
            off = 0
            while off < len(data):
                off += os.write(fd, data[off:])
            os.fsync(fd)
        finally:
            os.close(fd)
        try:
            os.link(tmp, target)  # atomic; FileExistsError on race
        finally:
            os.unlink(tmp)

    def read(self, target: str) -> str:
        with open(target) as fh:
            return fh.read()

    def list_names(self, directory: str) -> list[str]:
        return os.listdir(directory)

    def delete(self, target: str) -> None:
        os.remove(target)

    def age_seconds(self, target: str) -> float | None:
        try:
            return time.time() - os.path.getmtime(target)
        except OSError:
            return None


class InMemoryCommitProtocol(CommitProtocol):
    """Second, non-POSIX implementation of the contract — a conditional-
    PUT object store in memory (S3 ``If-None-Match: *`` semantics over a
    dict, strongly consistent LIST). Exists to prove the lake's
    transactionality rests ONLY on the CommitProtocol contract, not on
    POSIX details, and to let tests inject races deterministically:
    ``inject_before_put(store, target)`` runs once, on the publishing
    thread, right before that publish's existence check — a hook can
    publish a competing name there and force the exact lost-update
    interleaving optimistic commits must survive. The hook runs
    OUTSIDE the store lock, so a hooked commit may publish from other
    threads (the multi-blob publish pool) without deadlocking. Share
    ONE instance across every handle of a table (the dict IS the
    store)."""

    def __init__(self, inject_before_put=None):
        import threading

        self._store: dict[str, bytes] = {}
        self._published_at: dict[str, float] = {}  # for age_seconds / GC grace
        self._lock = threading.Lock()
        self.inject_before_put = inject_before_put

    def publish(self, target: str, data: bytes) -> None:
        with self._lock:  # one-shot: re-arm explicitly if needed
            hook, self.inject_before_put = self.inject_before_put, None
        if hook is not None:
            hook(self, target)
        with self._lock:
            if target in self._store:
                raise FileExistsError(target)
            self._store[target] = bytes(data)
            self._published_at[target] = time.time()

    def read(self, target: str) -> str:
        with self._lock:  # consistent point-in-time GET
            try:
                return self._store[target].decode()
            except KeyError:
                raise FileNotFoundError(target) from None

    def list_names(self, directory: str) -> list[str]:
        prefix = directory.rstrip("/") + "/"
        # the lock makes LIST a consistent snapshot — iterating the
        # dict unlocked races publish() ("dict changed size during
        # iteration") in exactly the concurrent-writer scenarios this
        # class exists to test
        with self._lock:
            return [
                t[len(prefix):]
                for t in self._store
                if t.startswith(prefix) and "/" not in t[len(prefix):]
            ]

    def delete(self, target: str) -> None:
        with self._lock:
            if target not in self._store:
                raise FileNotFoundError(target)
            del self._store[target]
            self._published_at.pop(target, None)

    def age_seconds(self, target: str) -> float | None:
        with self._lock:
            t = self._published_at.get(target)
        return None if t is None else time.time() - t


class ConcurrentModification(RuntimeError):
    """Raised when a partition-replace commit discovers the partitions
    it computed from were modified by a concurrent commit — the caller
    must recompute from a fresh snapshot (Iceberg's validation-abort,
    never a silent rebase that would drop the concurrent files)."""


def _json_safe(v):
    """Stats values must round-trip through the JSON manifest; ISO
    strings keep timestamp ordering under plain string comparison."""
    import datetime as _dt

    if isinstance(v, (_dt.datetime, _dt.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return v


def _collect_file_stats(
    root: str, rel_paths: list[str], stat_cols: list[str]
) -> dict[str, dict[str, Any]]:
    """Per-file size + min/max for ``stat_cols``, read from parquet
    footers only (no data pages). Mirrors the reference's per-column
    stats collection on every write (radiant/tasks/iceberg/
    utils.py:196-243). Files whose footer lacks min/max for a column
    simply carry no entry for it — scans keep them (conservative)."""
    from concurrent.futures import ThreadPoolExecutor

    import pyarrow.parquet as pq

    def one(rel: str) -> tuple[str, dict[str, Any]]:
        fp = os.path.join(root, rel)
        entry: dict[str, Any] = {"_bytes": os.path.getsize(fp)}
        if stat_cols:
            md = pq.ParquetFile(fp).metadata
            names = {md.schema.column(i).path: i for i in range(md.num_columns)}
            for c in stat_cols:
                i = names.get(c)
                if i is None:
                    continue
                mn = mx = None
                ok = True
                for rg in range(md.num_row_groups):
                    st = md.row_group(rg).column(i).statistics
                    if st is None or not st.has_min_max:
                        ok = False
                        break
                    mn = st.min if mn is None or st.min < mn else mn
                    mx = st.max if mx is None or st.max > mx else mx
                if ok and mn is not None:
                    entry[c] = [_json_safe(mn), _json_safe(mx)]
        return rel, entry

    if not rel_paths:
        return {}
    # footer reads are IO-bound; a commit writes O(buckets) files, so
    # collect in parallel to keep driver-side commit latency flat in
    # the bucket count
    with ThreadPoolExecutor(max_workers=min(16, len(rel_paths))) as ex:
        return dict(ex.map(one, rel_paths))


def _file_may_match(stat_entry: dict[str, Any], skip: dict[str, tuple]) -> bool:
    """False only when the file's [min,max] for some column PROVABLY
    misses the requested [lo,hi] range (None bound = unbounded). Rows
    with NULL in the column never satisfy a range predicate, so
    dropping the file cannot lose matching rows."""
    for col, (lo, hi) in skip.items():
        rng = stat_entry.get(col)
        if not rng:
            continue
        mn, mx = rng
        if lo is not None and _json_safe(lo) > mx:
            return False
        if hi is not None and _json_safe(hi) < mn:
            return False
    return True


def _versions(path: str, protocol: "CommitProtocol | None" = None) -> list[int]:
    """Sorted snapshot version numbers present in the log."""
    log = os.path.join(path, _LOG_DIR)
    names = protocol.list_names(log) if protocol is not None else os.listdir(log)
    out = []
    for f in names:
        if f.startswith("v") and f.endswith(".json"):
            try:
                out.append(int(f[1:-5]))
            except ValueError:
                continue  # stray non-version file
    return sorted(out)


class Snapshot:
    """A table version. The version file carries only
    ``refs: {partition -> blob name}`` (Iceberg's manifest list),
    pointing at immutable per-partition manifest blobs
    ``{"files": [...], "stats": {...}}`` under ``_log/manifests/``
    named by content hash. A commit writes blobs ONLY for partitions it
    touched (unchanged partitions keep their hash — same content, same
    name, no write), so commit cost is O(touched), not O(table); a
    partition-pruned read loads only the requested partitions' blobs.
    ``files`` / ``stats`` materialize lazily (and fully) for consumers
    that want the whole map — the commit and pruned-read paths never do.

    Version files of the older inline layout (whole ``files``/``stats``
    maps, no ``refs``) are not read: ``from_json`` rejects them.
    """

    def __init__(
        self,
        version: int,
        schema: T.StructType,
        partition_col: str,
        refs: dict[str, str],
        applied: dict[str, int] | None = None,
        properties: dict[str, Any] | None = None,
        blob_loader=None,
    ):
        self.version = version
        self.schema = schema
        self.partition_col = partition_col
        self.applied = applied or {}
        self.properties = properties or {}
        self.refs = refs
        self._blob_loader = blob_loader  # name -> {"files": [...], "stats": {...}}
        self._files: dict[str, list[str]] | None = None
        self._stats: dict[str, dict[str, Any]] | None = None
        # {partition -> files this commit wrote}: set on the snapshot a
        # data commit returns, held in memory only (never serialized)
        self.added: dict[str, list[str]] = {}

    # --- lazy full materialization

    def _materialize(self) -> None:
        if self._files is not None:
            return
        files: dict[str, list[str]] = {}
        stats: dict[str, dict[str, Any]] = {}
        for pv, name in self.refs.items():
            blob = self._blob_loader(name)
            files[pv] = list(blob["files"])
            stats.update(blob.get("stats", {}))
        self._files, self._stats = files, stats

    @property
    def files(self) -> dict[str, list[str]]:
        """partition value (as str) -> relative file paths."""
        self._materialize()
        return self._files

    @property
    def stats(self) -> dict[str, dict[str, Any]]:
        """per-file column statistics for scan-time file skipping
        (Iceberg's column metrics; reference collects them on every
        write, radiant/tasks/iceberg/utils.py:196-243):
        ``{rel_path: {"_bytes": int, col: [min, max], ...}}`` —
        min/max JSON-safe (timestamps as ISO strings); only columns in
        ``properties["stats_cols"]`` are collected."""
        self._materialize()
        return self._stats

    def part_entry(self, pv: str) -> tuple[list[str], dict[str, dict[str, Any]]]:
        """(files, stats) of ONE partition — loads only that partition's
        blob."""
        name = self.refs.get(pv)
        if name is None:
            return [], {}
        blob = self._blob_loader(name)
        return list(blob["files"]), dict(blob.get("stats", {}))

    def partition_values(self) -> list[str]:
        return sorted(self.refs)

    def to_json(self) -> str:
        return json.dumps(
            {
                "version": self.version,
                "schema": self.schema.json(),
                "partition_col": self.partition_col,
                "applied": self.applied,
                "properties": self.properties,
                "refs": self.refs,
            }
        )

    @staticmethod
    def from_json(raw: str, blob_loader=None) -> "Snapshot":
        d = json.loads(raw)
        if "refs" not in d:
            # outside input: a version file from another writer or an
            # older release must fail by name, not with a bare KeyError
            raise ValueError(
                f"version {d.get('version')} has no 'refs': it is in the "
                f"inline manifest layout (whole files/stats maps in the "
                f"version file), which is no longer read"
            )
        return Snapshot(
            version=d["version"],
            schema=T.StructType.fromJson(json.loads(d["schema"])),
            partition_col=d["partition_col"],
            refs=d["refs"],
            applied=d.get("applied", {}),
            properties=d.get("properties", {}),
            blob_loader=blob_loader,
        )


def _already_applied(snap: Snapshot, source_id: str | None, epoch: int | None) -> bool:
    """The exactly-once guard: ``(source_id, epoch)`` is at or below the
    snapshot's applied watermark for that source."""
    return (
        source_id is not None
        and epoch is not None
        and snap.applied.get(source_id, -1) >= epoch
    )


def _version_path(root: str, version: int) -> str:
    return os.path.join(root, _LOG_DIR, f"v{version:012d}.json")


class LakeTable:
    """A named transactional table rooted at ``path``."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        commit_protocol: CommitProtocol | None = None,
    ):
        self.spark = spark
        self.path = path
        self.commit_protocol = commit_protocol or PosixCommitProtocol()
        self._blob_cache: dict[str, dict] = {}  # manifest blobs are immutable

    # ------------------------------------------------- manifest blobs

    def _manifest_path(self, name: str) -> str:
        return os.path.join(self.path, _LOG_DIR, "manifests", name)

    def _write_blob(self, content: dict) -> str:
        """Publish a content-addressed immutable manifest blob; return
        its name. Same content → same name, so an untouched partition
        is never rewritten."""
        data = json.dumps(content, sort_keys=True).encode()
        name = f"m-{hashlib.sha1(data).hexdigest()}.json"
        target = self._manifest_path(name)
        os.makedirs(os.path.dirname(target), exist_ok=True)
        try:
            self.commit_protocol.publish(target, data)
        except FileExistsError:
            pass  # identical content already published
        self._blob_cache[name] = content
        return name

    def _load_blob(self, name: str) -> dict:
        blob = self._blob_cache.get(name)
        if blob is None:
            blob = json.loads(self.commit_protocol.read(self._manifest_path(name)))
            self._blob_cache[name] = blob
        return blob

    def _publish_blobs(
        self, entries: dict[str, tuple[list[str], dict[str, dict[str, Any]]]]
    ) -> dict[str, str]:
        """``{partition: (files, stats)}`` -> ``{partition: blob name}``.
        Blob publishes fsync — thread them so the driver-side commit
        latency stays flat in the bucket count. A single blob (a side
        table's usual commit) publishes on the caller's thread."""
        from concurrent.futures import ThreadPoolExecutor

        def build(item):
            pv, (fs, st) = item
            return pv, self._write_blob({"files": list(fs), "stats": st})

        if len(entries) <= 1:
            return dict(map(build, entries.items()))
        with ThreadPoolExecutor(max_workers=min(16, len(entries))) as ex:
            return dict(ex.map(build, entries.items()))

    # ---------------------------------------------------------------- DDL

    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        schema: T.StructType,
        partition_col: str,
        properties: dict[str, Any] | None = None,
        commit_protocol: "CommitProtocol | None" = None,
    ) -> "LakeTable":
        if partition_col not in schema.fieldNames():
            raise ValueError(f"partition column {partition_col!r} not in schema")
        os.makedirs(os.path.join(path, _LOG_DIR), exist_ok=True)
        os.makedirs(os.path.join(path, _DATA_DIR), exist_ok=True)
        snap = Snapshot(
            version=0,
            schema=schema,
            partition_col=partition_col,
            refs={},
            properties=properties,
        )
        tbl = LakeTable(spark, path, commit_protocol=commit_protocol)
        tbl._write_version(snap)
        return tbl

    @staticmethod
    def exists(path: str) -> bool:
        log = os.path.join(path, _LOG_DIR)
        return os.path.isdir(log) and bool(_versions(path))

    # ---------------------------------------------------------- snapshots

    def latest_version(self) -> int:
        versions = _versions(self.path, self.commit_protocol)
        if not versions:
            raise FileNotFoundError(f"no snapshots under {self.path}")
        return versions[-1]

    def snapshot(self, version: int | None = None) -> Snapshot:
        v = self.latest_version() if version is None else version
        return Snapshot.from_json(
            self.commit_protocol.read(_version_path(self.path, v)),
            blob_loader=self._load_blob,
        )

    def _write_version(self, snap: Snapshot) -> None:
        """Atomically publish the version file through the commit
        protocol; raises FileExistsError on race. The POSIX protocol
        writes + fsyncs a temp file FIRST, then hard-links it to the
        final name — a concurrent reader can never observe a truncated
        manifest; an object-store protocol gets the same guarantee from
        conditional PUT (see CommitProtocol)."""
        self.commit_protocol.publish(
            _version_path(self.path, snap.version), snap.to_json().encode()
        )

    # ------------------------------------------------------------- reads

    def read(
        self,
        partitions: list[Any] | None = None,
        version: int | None = None,
        skip: dict[str, tuple] | None = None,
    ) -> DataFrame:
        """Scan live files (optionally pruned to specific partition values).

        The snapshot schema is passed explicitly so files written before
        an additive schema change surface NULL for the new columns.
        Partition pruning here is file-list pruning at plan time — the
        scan never opens files outside the requested partitions.

        ``skip={col: (lo, hi)}`` additionally prunes files whose
        manifest min/max for ``col`` cannot intersect [lo, hi] (either
        bound may be None). This is a PRUNING HINT: the caller still
        applies the real filter; skipping only removes files that
        provably contain no matching rows. At 100 TB this is the
        difference between opening 64 files and 64,000 for an
        lsn/ts-range read (reference: min/max scan pruning over Iceberg
        column metrics, SURVEY.md X8/X12)."""
        snap = self.snapshot(version)
        return self.read_files(self._select_files(snap, partitions, skip), snap.schema)

    def read_files(self, files: list[str], schema: T.StructType) -> DataFrame:
        """Scan exactly ``files`` (paths relative to the table root, e.g.
        the ones a commit added, ``Snapshot.added``) under ``schema``."""
        if not files:
            return self.spark.createDataFrame([], schema)
        paths = [os.path.join(self.path, f) for f in files]
        return self.spark.read.schema(schema).parquet(*paths)

    def _select_files(
        self,
        snap: Snapshot,
        partitions: list[Any] | None,
        skip: dict[str, tuple] | None,
    ) -> list[str]:
        """File selection with partition pruning + stats skipping. A
        PRUNED selection loads only the requested partitions' manifest
        blobs — the whole point of the manifest list at 10^6+ files."""
        if partitions is None:
            wanted = snap.partition_values()
        else:
            w = {str(p) for p in partitions}
            wanted = [pv for pv in snap.partition_values() if pv in w]
        rel: list[str] = []
        for pv in wanted:
            fs, st = snap.part_entry(pv)
            if skip:
                fs = [f for f in fs if _file_may_match(st.get(f, {}), skip)]
            rel.extend(fs)
        return rel

    def live_files(
        self,
        partitions: list[Any] | None = None,
        skip: dict[str, tuple] | None = None,
    ) -> list[str]:
        """The relative file list a read() with the same arguments would
        scan — lets tests and planners assert file-skipping directly."""
        return sorted(self._select_files(self.snapshot(), partitions, skip))

    def partitions(self) -> list[str]:
        return self.snapshot().partition_values()

    # ------------------------------------------------------------ writes

    def _write_data_files(
        self,
        df: DataFrame,
        pcol: str,
        layout_ready: bool = False,
        stat_cols: list[str] | None = None,
    ) -> tuple[dict[str, list[str]], dict[str, dict[str, Any]]]:
        """Write a commit's data files; return ({partition -> rel
        paths}, {rel path -> file stats}).

        Executors write in parallel via ``partitionBy`` on a duplicated
        layout column; the partition column itself stays as a regular
        data column inside every file (so explicit-schema scans work on
        arbitrary file lists, and parquet min/max stats still prune).

        Repartition on the layout column first: without it every task
        holds rows of every partition value and partitionBy fans out
        tasks x values tiny files. Callers whose plan is ALREADY
        hash-partitioned on the partition column (e.g. the merge
        engine, which repartitions before its LWW window) pass
        ``layout_ready=True`` to skip the extra exchange.
        """
        commit_dir = f"commit-{uuid.uuid4().hex}"
        out = os.path.join(self.path, _DATA_DIR, commit_dir)
        # NULL partition values would land under Hive's
        # __HIVE_DEFAULT_PARTITION__ sentinel and become untargetable by
        # partition reads/replaces — reject them inside the plan.
        layout = F.when(
            F.col(pcol).isNotNull(), F.col(pcol).cast("string")
        ).otherwise(
            F.raise_error(
                F.lit(f"NULL value in partition column {pcol!r}")
            ).cast("string")
        )
        laid = df.withColumn(_PB_COL, layout)
        if not layout_ready:
            laid = laid.repartition(F.col(_PB_COL))
        laid.write.partitionBy(_PB_COL).mode("overwrite").parquet(out)
        files: dict[str, list[str]] = {}
        if not os.path.isdir(out):
            return files, {}
        for entry in os.listdir(out):
            if not entry.startswith(f"{_PB_COL}="):
                continue
            pv = entry.split("=", 1)[1]
            pdir = os.path.join(out, entry)
            rels = [
                os.path.join(_DATA_DIR, commit_dir, entry, f)
                for f in os.listdir(pdir)
                if f.endswith(".parquet")
            ]
            if rels:
                files[pv] = sorted(rels)
        all_rels = [f for fs in files.values() for f in fs]
        stats = _collect_file_stats(self.path, all_rels, stat_cols or [])
        return files, stats

    def _commit(
        self,
        mutate,
        source_id: str | None = None,
        epoch: int | None = None,
    ) -> Snapshot | None:
        """Optimistic-concurrency commit loop.

        ``mutate(snapshot) -> {"schema": ..., "refs": ..., "applied":
        ...}`` computes the next manifest list from the freshest
        snapshot ("refs" and "applied" default to the snapshot's); on a
        version-file race we re-read and re-apply — partition-level
        changes rebase cleanly (reference:
        radiant/tasks/iceberg/utils.py:73-96 rebuilds the transaction
        against a fresh snapshot the same way).

        Returns the committed snapshot, or None when the epoch guard
        made the commit a no-op (already applied — exactly-once replay).
        """
        for attempt in range(MAX_COMMIT_RETRIES):
            snap = self.snapshot()
            if _already_applied(snap, source_id, epoch):
                return None
            nxt_parts = mutate(snap)
            # mutate may supply a full applied map (watermark adoption);
            # the (source_id, epoch) guard args layer on top of it
            applied = dict(nxt_parts.get("applied", snap.applied))
            if source_id is not None and epoch is not None:
                applied[source_id] = epoch
            nxt = Snapshot(
                version=snap.version + 1,
                schema=nxt_parts["schema"],
                partition_col=snap.partition_col,
                refs=nxt_parts.get("refs", snap.refs),
                applied=applied,
                properties=snap.properties,
                blob_loader=self._load_blob,
            )
            try:
                self._write_version(nxt)
                return nxt
            except FileExistsError:
                time.sleep(min(2**attempt, 5) * 0.01 + random.random() * 0.01)
        raise CommitConflict(
            f"lost commit race {MAX_COMMIT_RETRIES} times at {self.path}"
        )

    _COERCIBLE = {
        # value-preserving casts (session TZ pinned UTC makes NTZ<->LTZ safe)
        (T.TimestampNTZType(), T.TimestampType()),
        (T.TimestampType(), T.TimestampNTZType()),
        (T.IntegerType(), T.LongType()),
        (T.FloatType(), T.DoubleType()),
    }

    def _evolved_schema(self, snap: Snapshot, df: DataFrame) -> T.StructType:
        """Additive-only schema evolution: unknown incoming columns are
        appended; existing columns keep the TABLE's type (incoming data
        is cast when the pair is safely coercible); other type changes
        and drops are rejected (SURVEY.md §1.2)."""
        current = {f.name: f for f in snap.schema.fields}
        out = list(snap.schema.fields)
        for f in df.schema.fields:
            if f.name == _PB_COL:
                continue
            if f.name in current:
                have = current[f.name].dataType
                if have != f.dataType and (f.dataType, have) not in self._COERCIBLE:
                    raise ValueError(
                        f"type change for {f.name}: {have} -> {f.dataType}"
                    )
            else:
                out.append(T.StructField(f.name, f.dataType, nullable=True))
        return T.StructType(out)

    def _conform(self, df: DataFrame, schema: T.StructType) -> DataFrame:
        """Project df onto the table schema (missing columns -> NULL;
        coercible existing columns cast to the table's type)."""
        have = {f.name: f.dataType for f in df.schema.fields}
        cols = []
        for f in schema.fields:
            if f.name not in have:
                cols.append(F.lit(None).cast(f.dataType).alias(f.name))
            elif have[f.name] != f.dataType:
                cols.append(F.col(f.name).cast(f.dataType).alias(f.name))
            else:
                cols.append(F.col(f.name))
        return df.select(*cols)

    def _commit_files(
        self,
        df: DataFrame,
        layout_ready: bool,
        takes: Callable[[dict[str, list[str]]], dict[str, list[str] | None]],
        source_id: str | None = None,
        epoch: int | None = None,
        base_version: int | None = None,
    ) -> Snapshot | None:
        """The one data commit (Iceberg's AppendFiles, ReplacePartitions
        and RewriteFiles differ only in what they take). Staging pins the
        base snapshot, skips an already-applied ``(source_id, epoch)``
        before the (expensive) write, evolves the schema and writes the
        conformed files. The commit then, partition by partition,
        removes the files it takes, adds the new ones, drops a partition
        left with no files and publishes the touched manifest blobs.

        ``takes(new_files)`` gets ``{partition -> files written}`` and
        returns ``{partition -> files taken}``, where a list names live
        files (each must still be live, or a concurrent rewrite took it)
        and None takes the whole partition as of the base snapshot (its
        ref must not have moved since). The returned snapshot's
        ``added`` is ``new_files``; None when the epoch guard made the
        commit a no-op."""
        snap0 = self.snapshot(base_version)
        if _already_applied(snap0, source_id, epoch):
            return None
        new_files, new_stats = self._write_data_files(
            self._conform(df, self._evolved_schema(snap0, df)),
            snap0.partition_col,
            layout_ready=layout_ready,
            stat_cols=snap0.properties.get("stats_cols"),
        )
        taken_by_part = takes(new_files)

        def mutate(snap: Snapshot):
            entries, emptied = {}, set()
            for pv in dict.fromkeys([*new_files, *taken_by_part]):
                taken = taken_by_part.get(pv, [])
                if taken is None:
                    # blob names are content hashes, so ref equality IS
                    # file-list equality: no blob is loaded to validate
                    if snap.refs.get(pv) != snap0.refs.get(pv):
                        raise ConcurrentModification(
                            f"partition {pv!r} changed concurrently; recompute "
                            f"from a fresh snapshot before replacing it"
                        )
                    old_files, old_stats = [], {}
                else:
                    old_files, old_stats = snap.part_entry(pv)
                    missing = [f for f in taken if f not in old_files]
                    if missing:
                        raise ConcurrentModification(
                            f"files {missing[:3]} in partition {pv!r} were "
                            f"rewritten concurrently; recompute the fold"
                        )
                    taken_set = set(taken)
                    old_files = [f for f in old_files if f not in taken_set]
                fs = old_files + new_files.get(pv, [])
                if not fs:
                    emptied.add(pv)
                    continue
                st = {**old_stats, **new_stats}
                entries[pv] = (fs, {f: st[f] for f in fs if f in st})
            refs = {k: v for k, v in snap.refs.items() if k not in emptied}
            refs.update(self._publish_blobs(entries))
            return {"schema": self._evolved_schema(snap, df), "refs": refs}

        out = self._commit(mutate, source_id=source_id, epoch=epoch)
        if out is not None:
            out.added = new_files
        return out

    def append(
        self,
        df: DataFrame,
        source_id: str | None = None,
        epoch: int | None = None,
        layout_ready: bool = False,
    ) -> Snapshot | None:
        """Add files; existing partitions keep their files (fast path for
        immutable feeds). Schema evolves additively first."""
        return self._commit_files(
            df, layout_ready, lambda new: {}, source_id=source_id, epoch=epoch
        )

    def overwrite_partitions(
        self,
        df: DataFrame,
        source_id: str | None = None,
        epoch: int | None = None,
        also_replace: list[Any] | None = None,
        layout_ready: bool = False,
        base_version: int | None = None,
    ) -> Snapshot | None:
        """Atomically replace exactly the partitions present in ``df``
        (plus ``also_replace`` values, which become empty if df has no
        rows for them). Untouched partitions keep their files — the
        reference's copy+swap without the copy.

        Conflict validation: if a concurrent commit modified any of the
        replaced partitions after ``base_version`` (the snapshot the
        replacement was COMPUTED from — pass it when the input df was
        read earlier; defaults to the current snapshot), the commit
        ABORTS with ConcurrentModification: the replacement lacks the
        concurrent files and silently rebasing would drop them.
        Disjoint-partition commits still rebase and land."""
        also = [str(p) for p in (also_replace or [])]
        return self._commit_files(
            df,
            layout_ready,
            lambda new: dict.fromkeys([*new, *also]),
            source_id=source_id,
            epoch=epoch,
            base_version=base_version,
        )

    def rewrite_files(
        self,
        df: DataFrame,
        replace: dict[str, list[str]],
        layout_ready: bool = False,
    ) -> Snapshot:
        """FILE-scoped rewrite (Iceberg's RewriteFiles): atomically swap
        exactly the named input files for ``df``'s new files, leaving
        every OTHER file in the touched partitions alive. This is the
        commit shape that lets compaction run CONCURRENTLY with an
        ingest stream: an append adds files it doesn't know about and
        rebases cleanly (the rewritten set and the appended set are
        disjoint), where ``overwrite_partitions`` must abort because a
        partition-level replace computed from a stale snapshot would
        drop the concurrent rows. Conflict rule: every file named in
        ``replace`` must still be live — another rewrite having taken
        any of them aborts with ConcurrentModification (two compactors
        folding the same input would duplicate its rows).

        ``replace`` maps partition value -> input files (as listed by
        the snapshot the fold was computed from). A partition whose
        fold produced no output (e.g. all rows tombstone-purged) simply
        loses its input files; one left with no files at all leaves the
        table, as in ``overwrite_partitions``."""
        # normalize BEFORE the unknown-partition check: _write_data_files
        # returns directory-string keys, and callers may pass raw (e.g.
        # int) partition values in `replace`
        replace = {str(p): list(fs) for p, fs in replace.items()}

        def takes(new_files):
            unknown = set(new_files) - set(replace)
            if unknown:
                raise ValueError(
                    f"rewrite produced rows for partitions it did not read: "
                    f"{sorted(unknown)}"
                )
            return replace

        return self._commit_files(df, layout_ready, takes)

    # ------------------------------------------------------- maintenance

    def carry_applied(self, applied: dict[str, int]) -> Snapshot:
        """Adopt per-source applied-epoch watermarks (table migration /
        rescale: the NEW table must refuse exactly the epochs the old
        one already applied, or a resumed stream double-applies).
        Runs through the standard _commit loop — mutate supplies the
        merged applied map."""

        def mutate(snap: Snapshot):
            merged = dict(snap.applied)
            for src, ep in applied.items():
                merged[src] = max(merged.get(src, -1), ep)
            return {"schema": snap.schema, "applied": merged}

        snap = self._commit(mutate)
        assert snap is not None
        return snap

    def expire_snapshots(self, keep_last: int = 2) -> int:
        """Drop old version files (Iceberg's expire_snapshots): time
        travel is bounded to the newest ``keep_last`` versions; follow
        with ``vacuum()`` to reclaim the data files only those versions
        referenced. The latest version is never dropped."""
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        removed = 0
        for v in _versions(self.path, self.commit_protocol)[:-keep_last]:
            self.commit_protocol.delete(_version_path(self.path, v))
            removed += 1
        return removed

    def vacuum(self, grace_seconds: float = 3600.0) -> int:
        """Delete data files not referenced by ANY remaining snapshot
        (run expire_snapshots first to bound the live set), and remove
        whole dead commit directories — including their _SUCCESS /
        Hadoop .crc droppings, which would otherwise keep one directory
        tree alive per commit forever.
        Version files and manifest blobs go through the commit
        protocol; DATA files are deleted with local fs ops — they are
        written by Spark to the table path's (shared) filesystem
        regardless of which protocol holds the version log.

        ``grace_seconds`` (Iceberg orphan-file style): a concurrent
        committer publishes data files and manifest blobs BEFORE its
        version file, so anything unreferenced but younger than the
        grace window may belong to an in-flight commit and is KEPT —
        deleting it would let the commit land with dangling refs
        (silent data loss on every later read). Age comes from fs
        mtime (object stores expose Last-Modified the same way); an
        unstattable path is treated as young. Pass 0 only when writers
        are known quiesced. Returns the number of parquet data files
        removed."""
        now = time.time()

        def _young(path: str) -> bool:
            try:
                return now - os.path.getmtime(path) < grace_seconds
            except OSError:
                return True  # can't stat -> assume in-flight, keep

        def _tree_young(root: str) -> bool:
            if _young(root):
                return True
            for dirpath, _d, fns in os.walk(root):
                if _young(dirpath) or any(
                    _young(os.path.join(dirpath, f)) for f in fns
                ):
                    return True
            return False

        snaps = [
            self.snapshot(v) for v in _versions(self.path, self.commit_protocol)
        ]
        live = {
            os.path.normpath(f)
            for s in snaps
            for fs in s.files.values()
            for f in fs
        }
        # GC manifest blobs not referenced by any remaining version
        live_blobs = {n for s in snaps for n in s.refs.values()}
        mdir = os.path.join(self.path, _LOG_DIR, "manifests")
        try:
            blob_names = self.commit_protocol.list_names(mdir)
        except FileNotFoundError:
            blob_names = []
        def _blob_young(target: str) -> bool:
            # blobs are PROTOCOL-managed: their age must come through
            # the protocol (a local stat on an object-store deployment
            # would always fail and make every dead blob look
            # eternally in-flight — unbounded store growth)
            age = self.commit_protocol.age_seconds(target)
            return age is None or age < grace_seconds

        for fn in blob_names:
            if (
                fn.endswith(".json")
                and fn not in live_blobs
                and not _blob_young(os.path.join(mdir, fn))
            ):
                self.commit_protocol.delete(os.path.join(mdir, fn))
                self._blob_cache.pop(fn, None)
        live_commit_dirs = {os.path.normpath(f).split(os.sep)[1] for f in live}
        removed = 0
        data_root = os.path.join(self.path, _DATA_DIR)
        for entry in os.listdir(data_root):
            cdir = os.path.join(data_root, entry)
            if not os.path.isdir(cdir):
                continue
            if entry not in live_commit_dirs:
                if _tree_young(cdir):
                    continue  # possibly an in-flight commit's files
                # whole commit is dead: count its parquet files, drop the tree
                for dirpath, _d, filenames in os.walk(cdir):
                    removed += sum(1 for f in filenames if f.endswith(".parquet"))
                shutil.rmtree(cdir, ignore_errors=True)
                continue
            # commit partially live: remove only dead parquet files
            for dirpath, _d, filenames in os.walk(cdir, topdown=False):
                for fn in filenames:
                    rel = os.path.relpath(os.path.join(dirpath, fn), self.path)
                    if (
                        fn.endswith(".parquet")
                        and os.path.normpath(rel) not in live
                        and not _young(os.path.join(dirpath, fn))
                    ):
                        os.remove(os.path.join(dirpath, fn))
                        removed += 1
        return removed
