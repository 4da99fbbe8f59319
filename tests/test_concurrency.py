"""Optimistic-concurrency: racing writers must all land (the reference's
fresh-snapshot commit retry, radiant/tasks/iceberg/utils.py:61-96, and
the single-committer race it guards against,
design/SJRA-1751-snv-vcf-ingestion-fan-out.md:40-60)."""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import pyspark.sql.types as T
import pytest

from radiant_portal_pipeline_spark.lake import LakeTable
from radiant_portal_pipeline_spark.lake.s3_protocol import S3ConditionalPutProtocol
from radiant_portal_pipeline_spark.lake.table import (
    ConcurrentModification,
    InMemoryCommitProtocol,
)


class _ClientError(Exception):
    """botocore.ClientError shape: .response['Error']['Code']."""

    def __init__(self, code):
        super().__init__(code)
        self.response = {"Error": {"Code": code}}


class FakeS3Client:
    """In-process S3 with the boto3 client surface the protocol uses:
    conditional PUT (IfNoneMatch='*' -> 412 on existing key, checked
    under a lock like the real service's per-key arbitration),
    PAGINATED ListObjectsV2 (small page size so pagination is actually
    exercised), 404-shaped misses. The protocol must translate these
    request/response shapes — a deployment swaps in boto3.client('s3')
    with zero protocol changes."""

    def __init__(self, page_size=3):
        import threading

        self._objects = {}
        self._mtimes = {}
        self._lock = threading.Lock()
        self.page_size = page_size

    def put_object(self, Bucket, Key, Body, IfNoneMatch=None, **kw):
        import datetime as dt

        with self._lock:
            if IfNoneMatch == "*" and (Bucket, Key) in self._objects:
                raise _ClientError("PreconditionFailed")
            self._objects[(Bucket, Key)] = bytes(Body)
            self._mtimes[(Bucket, Key)] = dt.datetime.now(dt.timezone.utc)

    def get_object(self, Bucket, Key):
        import io

        with self._lock:
            if (Bucket, Key) not in self._objects:
                raise _ClientError("NoSuchKey")
            return {"Body": io.BytesIO(self._objects[(Bucket, Key)])}

    @staticmethod
    def _etag(body: bytes) -> str:
        import hashlib

        return f'"{hashlib.md5(body).hexdigest()}"'

    def head_object(self, Bucket, Key):
        with self._lock:
            if (Bucket, Key) not in self._objects:
                raise _ClientError("404")
            return {
                "LastModified": self._mtimes[(Bucket, Key)],
                "ETag": self._etag(self._objects[(Bucket, Key)]),
            }

    def delete_object(self, Bucket, Key, IfMatch=None):
        with self._lock:
            if IfMatch is not None:
                if (Bucket, Key) not in self._objects:
                    raise _ClientError("404")
                if self._etag(self._objects[(Bucket, Key)]) != IfMatch:
                    raise _ClientError("PreconditionFailed")
            self._objects.pop((Bucket, Key), None)
            self._mtimes.pop((Bucket, Key), None)

    def list_objects_v2(self, Bucket, Prefix, Delimiter="/",
                        ContinuationToken=None):
        with self._lock:
            keys = sorted(
                k for (b, k) in self._objects
                if b == Bucket and k.startswith(Prefix)
                and Delimiter not in k[len(Prefix):]
            )
        start = int(ContinuationToken) if ContinuationToken else 0
        page = keys[start:start + self.page_size]
        out = {"Contents": [{"Key": k} for k in page]}
        if start + self.page_size < len(keys):
            out["IsTruncated"] = True
            out["NextContinuationToken"] = str(start + self.page_size)
        return out


def _proto(kind):
    """One shared protocol instance per table (the in-memory dict /
    fake bucket IS the store); None = the POSIX default."""
    if kind == "memory":
        return InMemoryCommitProtocol()
    if kind == "s3":
        return S3ConditionalPutProtocol("test-bucket", FakeS3Client())
    return None

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
        T.StructField("part", T.IntegerType(), False),
    ]
)


@pytest.mark.parametrize("proto_kind", ["posix", "memory", "s3"])
def test_racing_appends_all_land(spark, tmp_path, proto_kind):
    """Same racing-writer guarantees over BOTH CommitProtocol
    implementations — the transactionality must rest on the contract
    (conditional PUT + consistent LIST), not on POSIX details."""
    path = str(tmp_path / "t")
    proto = _proto(proto_kind)
    LakeTable.create(spark, path, SCHEMA, "part", commit_protocol=proto)
    n_writers, rows_each = 6, 5

    def writer(i: int) -> int:
        # separate handle per "writer"; in-memory handles share the store
        tbl = LakeTable(spark, path, commit_protocol=proto)
        df = spark.createDataFrame(
            [(f"w{i}-{j}", i * 100 + j, i % 3) for j in range(rows_each)], SCHEMA
        )
        snap = tbl.append(df)
        return snap.version

    with ThreadPoolExecutor(max_workers=n_writers) as ex:
        versions = list(ex.map(writer, range(n_writers)))

    # every commit landed under its own version; all rows present
    assert sorted(versions) == list(range(1, n_writers + 1))
    tbl = LakeTable(spark, path, commit_protocol=proto)
    assert tbl.read().count() == n_writers * rows_each
    ks = {r["k"] for r in tbl.read().select("k").collect()}
    assert len(ks) == n_writers * rows_each


@pytest.mark.parametrize("proto_kind", ["posix", "memory", "s3"])
def test_racing_partition_overwrites_disjoint(spark, tmp_path, proto_kind):
    """Writers replacing DISJOINT partitions rebase cleanly — neither
    clobbers the other's partition (partition-swap isolation) — over
    both protocol implementations."""
    path = str(tmp_path / "t")
    proto = _proto(proto_kind)
    tbl0 = LakeTable.create(spark, path, SCHEMA, "part", commit_protocol=proto)
    tbl0.append(
        spark.createDataFrame([("seed0", 0, 0), ("seed1", 0, 1)], SCHEMA)
    )

    def overwrite(part: int):
        tbl = LakeTable(spark, path, commit_protocol=proto)
        df = spark.createDataFrame([(f"new{part}", part, part)], SCHEMA)
        return tbl.overwrite_partitions(df).version

    with ThreadPoolExecutor(max_workers=2) as ex:
        list(ex.map(overwrite, [0, 1]))

    rows = {
        tuple(r)
        for r in LakeTable(spark, path, commit_protocol=proto).read().collect()
    }
    assert rows == {("new0", 0, 0), ("new1", 1, 1)}


def test_overlapping_replace_aborts_not_loses_data(spark, tmp_path):
    """A partition-replace computed from a stale snapshot must ABORT
    (ConcurrentModification) when a concurrent commit added files to
    that partition — silent rebase would drop the concurrent rows."""
    path = str(tmp_path / "t")
    tbl = LakeTable.create(spark, path, SCHEMA, "part")
    tbl.append(spark.createDataFrame([("seed", 0, 0)], SCHEMA))

    replacer = LakeTable(spark, path)
    base = replacer.latest_version()  # the snapshot the fold is computed from
    folded = spark.createDataFrame([("folded", 1, 0)], SCHEMA)
    # ... meanwhile a concurrent append lands in the same partition
    LakeTable(spark, path).append(spark.createDataFrame([("late", 2, 0)], SCHEMA))
    with pytest.raises(ConcurrentModification, match="changed concurrently"):
        replacer.overwrite_partitions(folded, base_version=base)
    # nothing lost: both the seed and the late row are still live
    assert {r["k"] for r in LakeTable(spark, path).read().collect()} == {
        "seed",
        "late",
    }
    # recomputing from a fresh snapshot succeeds
    fresh = LakeTable(spark, path)
    fresh.overwrite_partitions(spark.createDataFrame([("folded2", 3, 0)], SCHEMA))
    assert {r["k"] for r in LakeTable(spark, path).read().collect()} == {"folded2"}


def test_vacuum_removes_dead_commit_dirs_entirely(spark, tmp_path):
    """Dead commits must disappear including _SUCCESS/.crc droppings —
    unbounded directory growth is the failure mode."""
    path = str(tmp_path / "t")
    tbl = LakeTable.create(spark, path, SCHEMA, "part")
    tbl.append(spark.createDataFrame([("a", 1, 0)], SCHEMA))
    tbl.overwrite_partitions(spark.createDataFrame([("b", 2, 0)], SCHEMA))
    data_root = os.path.join(path, "data")
    assert len(os.listdir(data_root)) == 2  # two commit dirs
    tbl.expire_snapshots(keep_last=1)
    removed = tbl.vacuum(grace_seconds=0)
    assert removed == 1
    live_dirs = os.listdir(data_root)
    assert len(live_dirs) == 1  # dead commit dir fully gone, crc and all
    assert [tuple(r) for r in tbl.read().collect()] == [("b", 2, 0)]


def test_racing_appends_all_land_split_manifests(spark, tmp_path):
    """The refs-level rebase path: racing appends to a SPLIT-manifest
    table must all land, with untouched partitions' blob refs carried
    through every rebase (losing a race and re-applying must not drop a
    concurrent writer's blobs)."""
    path = str(tmp_path / "t")
    LakeTable.create(
        spark, path, SCHEMA, "part",
        properties={"stats_cols": ["v"]},
    )
    n_writers, rows_each = 6, 5

    def writer(i: int) -> int:
        tbl = LakeTable(spark, path)
        df = spark.createDataFrame(
            [(f"w{i}-{j}", i * 100 + j, i % 3) for j in range(rows_each)], SCHEMA
        )
        return tbl.append(df).version

    with ThreadPoolExecutor(max_workers=n_writers) as ex:
        versions = list(ex.map(writer, range(n_writers)))

    assert sorted(versions) == list(range(1, n_writers + 1))
    tbl = LakeTable(spark, path)
    assert tbl.read().count() == n_writers * rows_each
    snap = tbl.snapshot()
    assert snap.refs is not None
    # every partition's blob holds ALL its writers' files
    per_part = {p: len(fs) for p, fs in snap.files.items()}
    assert per_part == {"0": 2, "1": 2, "2": 2}  # 2 writers per part value


def test_split_disjoint_overwrites_rebase_cleanly(spark, tmp_path):
    path = str(tmp_path / "t")
    tbl0 = LakeTable.create(spark, path, SCHEMA, "part")
    tbl0.append(
        spark.createDataFrame([("seed0", 0, 0), ("seed1", 0, 1)], SCHEMA)
    )

    def overwrite(part: int):
        tbl = LakeTable(spark, path)
        tbl.overwrite_partitions(
            spark.createDataFrame([(f"new{part}", 1, part)], SCHEMA)
        )

    with ThreadPoolExecutor(max_workers=2) as ex:
        list(ex.map(overwrite, [0, 1]))

    rows = {tuple(r) for r in LakeTable(spark, path).read().collect()}
    assert rows == {("new0", 1, 0), ("new1", 1, 1)}


def test_vacuum_grace_keeps_inflight_commit_artifacts(spark, tmp_path):
    """A concurrent committer publishes data files + manifest blobs
    BEFORE its version file; vacuum running in that window must keep
    them (age-based grace), else the commit lands with dangling refs.
    Simulated by hand-placing young unreferenced files."""
    import os

    path = str(tmp_path / "t")
    tbl = LakeTable.create(spark, path, SCHEMA, "part")
    tbl.append(spark.createDataFrame([("a", 1, 0)], SCHEMA))

    # "in-flight" artifacts: an unreferenced data dir + manifest blob
    stray_dir = os.path.join(path, "data", "inflight-commit")
    os.makedirs(stray_dir)
    stray_parquet = os.path.join(stray_dir, "part-0.parquet")
    open(stray_parquet, "wb").write(b"x")
    mdir = os.path.join(path, "_log", "manifests")
    os.makedirs(mdir, exist_ok=True)
    stray_blob = os.path.join(mdir, "m-deadbeef.json")
    open(stray_blob, "w").write("{}")

    tbl.vacuum()  # default grace: everything young survives
    assert os.path.exists(stray_parquet)
    assert os.path.exists(stray_blob)

    # age them past the grace window -> now they are orphans
    old = 1_000_000_000
    os.utime(stray_parquet, (old, old))
    os.utime(stray_dir, (old, old))
    os.utime(stray_blob, (old, old))
    tbl.vacuum()
    assert not os.path.exists(stray_parquet)
    assert not os.path.exists(stray_blob)


def test_inmemory_protocol_contract():
    """The raw conditional-PUT contract: create-if-absent, durable read,
    consistent prefix list, delete."""
    proto = InMemoryCommitProtocol()
    proto.publish("/t/_log/v0.json", b"a")
    with pytest.raises(FileExistsError):
        proto.publish("/t/_log/v0.json", b"b")
    assert proto.read("/t/_log/v0.json") == "a"
    proto.publish("/t/_log/v1.json", b"c")
    assert sorted(proto.list_names("/t/_log")) == ["v0.json", "v1.json"]
    proto.delete("/t/_log/v0.json")
    assert proto.list_names("/t/_log") == ["v1.json"]
    with pytest.raises(FileNotFoundError):
        proto.read("/t/_log/v0.json")


@pytest.mark.parametrize("rival_parts", [1, 2])
def test_injected_race_forces_rebase_and_both_commits_land(
    spark, tmp_path, rival_parts
):
    """Deterministic lost-update interleaving: the hook publishes a
    competing version right before writer A's first PUT, so A MUST
    lose exactly once, rebase, and land at the next version — no retry
    luck involved. A rival touching 2 partitions publishes its blobs
    from the publish pool's threads while the victim's PUT is pending;
    the victim runs in a daemon thread so a deadlock fails the test
    instead of hanging the suite."""
    import threading

    path = str(tmp_path / "t")
    proto = InMemoryCommitProtocol()
    LakeTable.create(spark, path, SCHEMA, "part", commit_protocol=proto)
    tbl = LakeTable(spark, path, commit_protocol=proto)

    rival_rows = spark.createDataFrame(
        [("rival", 1, p) for p in range(rival_parts)], SCHEMA
    )
    rival = LakeTable(spark, path, commit_protocol=proto)

    state = {"fired": False}

    def hook(store, target):
        # publish the rival's commit at the exact name the victim wants
        state["fired"] = True
        rival.append(rival_rows)

    proto.inject_before_put = hook
    out = {}

    def victim():
        try:
            out["snap"] = tbl.append(
                spark.createDataFrame([("victim", 2, 0)], SCHEMA)
            )
        except Exception as e:  # noqa: BLE001
            out["err"] = e

    th = threading.Thread(target=victim, daemon=True)
    th.start()
    th.join(timeout=120)
    assert not th.is_alive(), "hooked commit deadlocked"
    assert "err" not in out, out["err"]
    assert state["fired"]
    assert out["snap"].version == 2  # lost v1 to the rival, rebased onto it
    ks = {r["k"] for r in tbl.read().collect()}
    assert ks == {"rival", "victim"}


def test_merge_engine_runs_on_inmemory_protocol(spark, tmp_path):
    """The CDC engine end-to-end over the non-POSIX protocol: the whole
    lake stack (snapshots, manifests, epoch guards) is backend-agnostic."""
    from radiant_portal_pipeline_spark.cdc.feed import synthetic_feed
    from radiant_portal_pipeline_spark.cdc.merge import TranscriptMergeEngine
    from radiant_portal_pipeline_spark.cdc import schemas as S

    proto = InMemoryCommitProtocol()
    path = str(tmp_path / "cdc")
    tbl = LakeTable.create(
        spark, path, S.sink_schema(), S.PART_COL,
        commit_protocol=proto,
        properties={"num_buckets": 8},
    )
    eng = TranscriptMergeEngine(tbl, num_buckets=8)
    feed = synthetic_feed(spark, 3000)
    st = eng.merge_batch(feed, epoch=0)
    assert not st.skipped
    assert eng.merge_batch(feed, epoch=0).skipped  # epoch guard holds
    assert eng.current_state().count() > 0


def test_s3_protocol_contract_and_pagination():
    """The contract surface through REAL boto3 request/response shapes:
    conditional-PUT race -> FileExistsError, missing key ->
    FileNotFoundError, LIST correct across pagination boundaries,
    age_seconds from LastModified."""
    proto = S3ConditionalPutProtocol("b", FakeS3Client(page_size=2))
    proto.publish("/tbl/_manifests/v1.json", b"one")
    with pytest.raises(FileExistsError):
        proto.publish("/tbl/_manifests/v1.json", b"two")
    assert proto.read("/tbl/_manifests/v1.json") == "one"
    with pytest.raises(FileNotFoundError):
        proto.read("/tbl/_manifests/v9.json")
    for i in range(2, 7):
        proto.publish(f"/tbl/_manifests/v{i}.json", b"x")
    # 6 names over page_size=2 -> 3 pages
    assert sorted(proto.list_names("/tbl/_manifests")) == [
        f"v{i}.json" for i in range(1, 7)
    ]
    age = proto.age_seconds("/tbl/_manifests/v1.json")
    assert age is not None and 0 <= age < 60
    proto.delete("/tbl/_manifests/v1.json")
    with pytest.raises(FileNotFoundError):
        proto.delete("/tbl/_manifests/v1.json")
    assert proto.age_seconds("/tbl/_manifests/v1.json") is None


def test_s3_publish_own_retried_put_is_success():
    """The SDK-retry ambiguity (round-4 advisor, medium): boto3's
    default retry of a timed-out-but-landed conditional PUT sees 412
    for the writer's OWN object. publish() must treat a byte-identical
    existing object as success (the commit IS in effect), and only a
    DIFFERENT body as the genuine lost race."""
    proto = S3ConditionalPutProtocol("b", FakeS3Client())
    proto.publish("/t/_m/v1.json", b"commit-A")
    # the retried duplicate of our own PUT: same bytes -> success
    proto.publish("/t/_m/v1.json", b"commit-A")
    # a real race: different bytes -> FileExistsError
    with pytest.raises(FileExistsError):
        proto.publish("/t/_m/v1.json", b"commit-B")


def test_s3_conditional_delete_closes_toctou():
    """delete() is HEAD-then-DELETE; with If-Match the DELETE fails
    412 when another actor replaced the object in between, instead of
    silently deleting the replacement."""

    class RacingClient(FakeS3Client):
        """Replaces the object between the protocol's HEAD and its
        DELETE — the raced-delete shape."""

        def __init__(self):
            super().__init__()
            self.race_key = None

        def delete_object(self, Bucket, Key, IfMatch=None):
            if (Bucket, Key) == self.race_key:
                self.race_key = None  # fire once
                self._objects[(Bucket, Key)] = b"replacement"
            return super().delete_object(Bucket, Key, IfMatch=IfMatch)

    client = RacingClient()
    proto = S3ConditionalPutProtocol("b", client)
    proto.publish("/t/_m/v1.json", b"victim")
    client.race_key = ("b", "t/_m/v1.json")
    with pytest.raises(FileNotFoundError):
        proto.delete("/t/_m/v1.json")
    # the replacement survived the raced delete
    assert proto.read("/t/_m/v1.json") == "replacement"


def test_s3_delete_falls_back_without_ifmatch_support():
    """An injected client predating conditional deletes (TypeError on
    the IfMatch kwarg) still gets the documented GC-only path."""

    class LegacyClient(FakeS3Client):
        def delete_object(self, Bucket, Key):  # no IfMatch kwarg
            return super().delete_object(Bucket, Key)

    proto = S3ConditionalPutProtocol("b", LegacyClient())
    proto.publish("/t/_m/v1.json", b"x")
    proto.delete("/t/_m/v1.json")
    with pytest.raises(FileNotFoundError):
        proto.read("/t/_m/v1.json")


@pytest.mark.parametrize("proto_kind", ["posix", "memory", "s3"])
def test_rewrite_files_survives_concurrent_append(spark, tmp_path, proto_kind):
    """The file-scoped rewrite (Iceberg RewriteFiles shape): a
    compaction computed from snapshot V swaps exactly V's files while
    a concurrent append lands new files in the SAME partition — the
    rewrite commits (appended files stay live) where the
    partition-level replace must abort. Over all three protocols."""
    path = str(tmp_path / "t")
    proto = _proto(proto_kind)
    tbl = LakeTable.create(spark, path, SCHEMA, "part", commit_protocol=proto)
    tbl.append(spark.createDataFrame([("a", 1, 0), ("b", 2, 0)], SCHEMA))
    tbl.append(spark.createDataFrame([("a", 9, 0)], SCHEMA))

    snap = tbl.snapshot()
    base_files = {p: list(fs) for p, fs in snap.files.items()}
    # the "fold": latest v per k over the pinned snapshot
    folded = spark.createDataFrame([("a", 9, 0), ("b", 2, 0)], SCHEMA)

    # ... meanwhile an ingest batch appends to the same partition
    LakeTable(spark, path, commit_protocol=proto).append(
        spark.createDataFrame([("c", 3, 0)], SCHEMA)
    )

    tbl.rewrite_files(folded, replace=base_files)
    rows = {tuple(r) for r in tbl.read().collect()}
    assert rows == {("a", 9, 0), ("b", 2, 0), ("c", 3, 0)}

    # the swapped input files are gone from the manifest
    live = {f for fs in tbl.snapshot().files.values() for f in fs}
    taken = {f for fs in base_files.values() for f in fs}
    assert not (live & taken)


def test_rewrite_files_conflicts_with_concurrent_rewrite(spark, tmp_path):
    """Two compactors folding the SAME input files: the second commit
    must abort (its fold duplicates rows the first already wrote)."""
    path = str(tmp_path / "t")
    tbl = LakeTable.create(spark, path, SCHEMA, "part")
    tbl.append(spark.createDataFrame([("a", 1, 0), ("b", 2, 0)], SCHEMA))
    base_files = {p: list(fs) for p, fs in tbl.snapshot().files.items()}
    folded = spark.createDataFrame([("a", 1, 0), ("b", 2, 0)], SCHEMA)

    tbl.rewrite_files(folded, replace=base_files)
    with pytest.raises(ConcurrentModification, match="rewritten concurrently"):
        LakeTable(spark, path).rewrite_files(folded, replace=base_files)


def test_rewrite_files_drops_emptied_partitions(spark, tmp_path):
    """A rewrite that leaves a partition with no files (every row of
    its fold purged) removes the partition, as a partition overwrite
    does — no dead bucket stays listed behind an empty manifest."""
    path = str(tmp_path / "t")
    tbl = LakeTable.create(spark, path, SCHEMA, "part")
    tbl.append(spark.createDataFrame([("a", 1, 0), ("b", 2, 1)], SCHEMA))
    snap = tbl.snapshot()
    gone = list(snap.files["0"])
    tbl.rewrite_files(spark.createDataFrame([], SCHEMA), replace={"0": gone})
    assert tbl.partitions() == ["1"]
    assert tbl.live_files() == snap.files["1"]
    assert tbl.live_files(partitions=[0]) == []
    assert {tuple(r) for r in tbl.read().collect()} == {("b", 2, 1)}


def test_rewrite_files_rejects_unread_partitions(spark, tmp_path):
    """A fold emitting rows for a partition it never read is a bug in
    the caller — refuse instead of silently adding files."""
    path = str(tmp_path / "t")
    tbl = LakeTable.create(spark, path, SCHEMA, "part")
    tbl.append(spark.createDataFrame([("a", 1, 0)], SCHEMA))
    base_files = {p: list(fs) for p, fs in tbl.snapshot().files.items()}
    stray = spark.createDataFrame([("z", 1, 7)], SCHEMA)
    with pytest.raises(ValueError, match="did not read"):
        tbl.rewrite_files(stray, replace=base_files)


def test_compaction_overlaps_ingest(spark, tmp_path):
    """Engine-level overlap: compact() runs in a
    background thread WHILE merge batches keep applying to the same
    buckets. The compaction must commit (not abort), and the final
    read state must equal a replay with no compaction at all."""
    from radiant_portal_pipeline_spark.cdc import schemas as S
    from radiant_portal_pipeline_spark.cdc.merge import TranscriptMergeEngine

    def batch(lo, n, v):
        rows = [
            (
                f"c{i % 50}", (i // 50) % 20, "user", f"t{v}-{i}",
                None, None, "U", lo + i, 0,
            )
            for i in range(n)
        ]
        return spark.createDataFrame(rows, S.CHANGE_EVENT_SCHEMA)

    def final_state(path, batches):
        t = TranscriptMergeEngine.create_table(spark, path, num_buckets=8)
        e = TranscriptMergeEngine(t, num_buckets=8)
        for ep, b in enumerate(batches):
            e.merge_batch(b, epoch=ep)
        return e

    batches = [batch(i * 5_000, 5_000, i) for i in range(4)]

    # reference: plain replay, no compaction
    ref = final_state(str(tmp_path / "ref"), batches)
    expect = sorted(
        tuple(r)
        for r in ref.current_state()
        .select("conv_id", "turn_idx", "text", "lsn")
        .collect()
    )

    tbl = TranscriptMergeEngine.create_table(
        spark, str(tmp_path / "t"), num_buckets=8
    )
    eng = TranscriptMergeEngine(tbl, num_buckets=8)
    eng.merge_batch(batches[0], epoch=0)
    eng.merge_batch(batches[1], epoch=1)

    compacted: list = []
    errs: list = []

    def compactor():
        try:
            compacted.extend(eng.compact())
        except Exception as e:  # noqa: BLE001
            errs.append(e)

    import threading

    th = threading.Thread(target=compactor)
    th.start()
    eng.merge_batch(batches[2], epoch=2)  # overlaps the fold/commit
    th.join()
    eng.merge_batch(batches[3], epoch=3)

    assert not errs, errs
    assert compacted  # it actually folded partitions
    got = sorted(
        tuple(r)
        for r in eng.current_state()
        .select("conv_id", "turn_idx", "text", "lsn")
        .collect()
    )
    assert got == expect


def test_compaction_rebases_over_append_landing_mid_fold(spark, tmp_path):
    """Deterministic form of the overlap: a merge batch commits to the
    compacted buckets after the fold read its snapshot and before the
    compaction commits. The compaction rebases over it — the batch's
    files stay live — instead of aborting, and the state equals a
    replay with no compaction."""
    from pyspark.sql import functions as F

    from radiant_portal_pipeline_spark.cdc.feed import synthetic_feed
    from radiant_portal_pipeline_spark.cdc.merge import TranscriptMergeEngine

    feed = synthetic_feed(spark, 6000, dup_frac=0.05).localCheckpoint(eager=True)
    batches = [feed.filter(F.col("commit_epoch") == e) for e in range(3)]

    def engine(name):
        t = TranscriptMergeEngine.create_table(
            spark, str(tmp_path / name), num_buckets=4
        )
        return TranscriptMergeEngine(t, num_buckets=4)

    ref = engine("ref")
    for ep, b in enumerate(batches):
        ref.merge_batch(b, epoch=ep)

    eng = engine("t")
    eng.merge_batch(batches[0], epoch=0)
    eng.merge_batch(batches[1], epoch=1)
    ingest = TranscriptMergeEngine(LakeTable(spark, eng.table.path), num_buckets=4)
    fold = eng._lww_layout
    ingested = []

    def fold_then_ingest(*args, **kwargs):
        out = fold(*args, **kwargs)
        before = set(ingest.table.live_files())
        ingest.merge_batch(batches[2], epoch=2)
        # a MoR merge only adds files
        ingested.extend(set(ingest.table.live_files()) - before)
        return out

    eng._lww_layout = fold_then_ingest
    assert eng.compact()
    assert ingested and set(ingested) <= set(eng.table.live_files())
    assert sorted(map(tuple, eng.current_state().collect())) == sorted(
        map(tuple, ref.current_state().collect())
    )


def test_s3_delete_param_validation_fallback():
    """A real botocore predating conditional deletes rejects the
    IfMatch kwarg with ParamValidationError (not TypeError); delete()
    must fall back to the unconditional path, never leak the botocore
    type (round-5 review)."""

    class ParamValidationError(Exception):
        pass

    class OldBotoClient(FakeS3Client):
        def delete_object(self, Bucket, Key, **kw):
            if "IfMatch" in kw:
                raise ParamValidationError(
                    'Unknown parameter in input: "IfMatch"'
                )
            return super().delete_object(Bucket, Key)

    proto = S3ConditionalPutProtocol("b", OldBotoClient())
    proto.publish("/t/_m/v1.json", b"x")
    proto.delete("/t/_m/v1.json")
    with pytest.raises(FileNotFoundError):
        proto.read("/t/_m/v1.json")


def test_s3_publish_412_get_retries_transport_errors():
    """The 412-disambiguation GET retries transient transport failures
    instead of misclassifying them as a lost race; a persistent
    transport failure surfaces rather than guessing."""

    class FlakyGetClient(FakeS3Client):
        def __init__(self, fail_n):
            super().__init__()
            self.fail_n = fail_n

        def get_object(self, Bucket, Key):
            if self.fail_n > 0:
                self.fail_n -= 1
                raise _ClientError("SlowDown")
            return super().get_object(Bucket, Key)

    # transient: 2 failures then success — own retried PUT is a success
    c = FlakyGetClient(fail_n=2)
    proto = S3ConditionalPutProtocol("b", c)
    proto.publish("/t/_m/v1.json", b"same")
    proto.publish("/t/_m/v1.json", b"same")  # SDK-retry shape, flaky GET

    # persistent: the transport error surfaces (no FileExistsError guess)
    c2 = FlakyGetClient(fail_n=99)
    proto2 = S3ConditionalPutProtocol("b", c2)
    proto2.publish("/t/_m/v1.json", b"one")
    with pytest.raises(_ClientError):
        proto2.publish("/t/_m/v1.json", b"one")
