from __future__ import annotations

import pyspark.sql.types as T
import pytest
from pyspark.sql import functions as F

from radiant_portal_pipeline_spark.lake import LakeTable

SCHEMA = T.StructType(
    [
        T.StructField("k", T.StringType(), False),
        T.StructField("v", T.LongType(), True),
        T.StructField("part", T.IntegerType(), False),
    ]
)


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_create_append_read(spark, tmp_path):
    tbl = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, "part")
    tbl.append(_df(spark, [("a", 1, 0), ("b", 2, 1)]))
    tbl.append(_df(spark, [("c", 3, 0)]))
    assert tbl.snapshot().version == 2
    rows = {tuple(r) for r in tbl.read().collect()}
    assert rows == {("a", 1, 0), ("b", 2, 1), ("c", 3, 0)}
    # partition-pruned read only sees bucket 0 files
    assert {r["k"] for r in tbl.read(partitions=[0]).collect()} == {"a", "c"}


def test_overwrite_partitions_is_partition_scoped(spark, tmp_path):
    tbl = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, "part")
    tbl.append(_df(spark, [("a", 1, 0), ("b", 2, 1), ("c", 3, 2)]))
    tbl.overwrite_partitions(_df(spark, [("a2", 10, 0)]))
    rows = {tuple(r) for r in tbl.read().collect()}
    assert rows == {("a2", 10, 0), ("b", 2, 1), ("c", 3, 2)}
    # also_replace empties a partition with no incoming rows
    tbl.overwrite_partitions(_df(spark, [("b2", 20, 1)]), also_replace=[2])
    rows = {tuple(r) for r in tbl.read().collect()}
    assert rows == {("a2", 10, 0), ("b2", 20, 1)}


def test_time_travel_expire_vacuum(spark, tmp_path):
    tbl = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, "part")
    tbl.append(_df(spark, [("a", 1, 0)]))
    tbl.overwrite_partitions(_df(spark, [("a2", 2, 0)]))
    assert [tuple(r) for r in tbl.read(version=1).collect()] == [("a", 1, 0)]
    # v1's file is still referenced by snapshot v1 -> vacuum keeps it
    assert tbl.vacuum(grace_seconds=0) == 0
    assert [tuple(r) for r in tbl.read(version=1).collect()] == [("a", 1, 0)]
    # expire old snapshots, then vacuum reclaims the orphaned file
    assert tbl.expire_snapshots(keep_last=1) == 2  # v0, v1 dropped
    assert tbl.vacuum(grace_seconds=0) == 1
    assert [tuple(r) for r in tbl.read().collect()] == [("a2", 2, 0)]
    with pytest.raises(FileNotFoundError):
        tbl.read(version=1).collect()


def test_epoch_guard_idempotent(spark, tmp_path):
    tbl = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, "part")
    assert tbl.append(_df(spark, [("a", 1, 0)]), source_id="s", epoch=1) is not None
    # replaying the same epoch is a no-op
    assert tbl.append(_df(spark, [("a", 1, 0)]), source_id="s", epoch=1) is None
    assert tbl.read().count() == 1
    assert tbl.append(_df(spark, [("b", 2, 0)]), source_id="s", epoch=2) is not None
    assert tbl.read().count() == 2


def test_additive_schema_evolution(spark, tmp_path):
    tbl = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, "part")
    tbl.append(_df(spark, [("a", 1, 0)]))
    wider = spark.createDataFrame(
        [("b", 2, 0, "meta")],
        T.StructType(SCHEMA.fields + [T.StructField("extra", T.StringType(), True)]),
    )
    tbl.append(wider)
    out = {tuple(r) for r in tbl.read().select("k", "extra").collect()}
    assert out == {("a", None), ("b", "meta")}
    # type changes are rejected
    bad = spark.createDataFrame([("c", "notlong", 0)], "k string, v string, part int")
    with pytest.raises(ValueError, match="type change"):
        tbl.append(bad)


def test_schema_passed_to_scan_prunes_columns(spark, tmp_path):
    tbl = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, "part")
    tbl.append(_df(spark, [("a", 1, 0)]))
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        tbl.read().select("k").explain("formatted")
    plan = buf.getvalue()
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "k" in read_schema and "v" not in read_schema


# ------------------------------------------------------- stats & skipping


def test_manifest_stats_and_file_skipping(spark, tmp_path):
    """X8/X12: per-file min/max land in the manifest and an lsn-style
    range read opens strictly fewer files than a full scan."""
    tbl = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, "part",
        properties={"stats_cols": ["v"]},
    )
    # 4 commits with disjoint v-ranges -> 4 files per bucket, prunable
    for base in (0, 100, 200, 300):
        tbl.append(_df(spark, [(f"k{base}", base + i, 0) for i in range(10)]))
    snap = tbl.snapshot()
    all_files = tbl.live_files(partitions=[0])
    assert len(all_files) == 4
    for f in all_files:
        st = snap.stats[f]
        assert "_bytes" in st and st["_bytes"] > 0
        assert "v" in st and st["v"][0] <= st["v"][1]
    # range read [200, 250]: only the third commit's file may match
    pruned = tbl.live_files(partitions=[0], skip={"v": (200, 250)})
    assert len(pruned) == 1
    got = tbl.read(partitions=[0], skip={"v": (200, 250)}).filter(
        F.col("v").between(200, 250)
    )
    assert {r["v"] for r in got.collect()} == set(range(200, 210))
    # half-open range: v > 295
    assert len(tbl.live_files(partitions=[0], skip={"v": (296, None)})) == 1
    # files without stats for the column are kept (conservative)
    assert len(tbl.live_files(partitions=[0], skip={"missing": (0, 1)})) == 4


def test_stats_follow_partition_replace(spark, tmp_path):
    tbl = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, "part",
        properties={"stats_cols": ["v"]},
    )
    tbl.append(_df(spark, [("a", 1, 0), ("b", 1000, 1)]))
    old_files = set(tbl.snapshot().stats.keys())
    tbl.overwrite_partitions(_df(spark, [("a2", 5, 0)]))
    snap = tbl.snapshot()
    # replaced partition's old file stats dropped, new ones present,
    # untouched partition's stats retained
    assert set(snap.stats.keys()) == {f for fs in snap.files.values() for f in fs}
    assert old_files - set(snap.stats.keys())  # something was dropped


def test_custom_commit_protocol_seam(spark, tmp_path):
    """The transactional layer runs unchanged over a non-POSIX commit
    backend — here an in-memory conditional-PUT double (the S3/catalog
    deployment shape documented on CommitProtocol)."""
    from radiant_portal_pipeline_spark.lake.table import CommitProtocol, LakeTable

    class MemoryPut(CommitProtocol):
        def __init__(self):
            self.blobs: dict[str, bytes] = {}

        def publish(self, target, data):
            if target in self.blobs:
                raise FileExistsError(target)  # conditional PUT failed
            self.blobs[target] = data

        def read(self, target):
            return self.blobs[target].decode()

        def list_names(self, directory):
            import os

            return [
                os.path.basename(k)
                for k in self.blobs
                if os.path.dirname(k) == directory
            ]

        def delete(self, target):
            del self.blobs[target]

    proto = MemoryPut()
    path = str(tmp_path / "t")
    # create() publishes v0 through the supplied protocol
    tbl = LakeTable.create(spark, path, SCHEMA, "part", commit_protocol=proto)
    tbl.append(_df(spark, [("a", 1, 0)]))
    import os
    # no version files on the real filesystem — all in the backend
    assert not any(f.endswith(".json") for f in os.listdir(os.path.join(path, "_log")))
    reader = LakeTable(spark, path, commit_protocol=proto)
    assert [tuple(r) for r in reader.read().collect()] == [("a", 1, 0)]
    # losing a conditional PUT race surfaces as FileExistsError -> retried
    import pytest

    with pytest.raises(FileExistsError):
        proto.publish(list(proto.blobs)[0], b"x")


# ------------------------------------------------- split-manifest layout


def _split_tbl(spark, tmp_path, name="ts"):
    return LakeTable.create(
        spark, str(tmp_path / name), SCHEMA, "part",
        properties={"stats_cols": ["v"]},
    )


def _latest_version_json(path):
    import json
    import os

    log = os.path.join(path, "_log")
    latest = max(f for f in os.listdir(log) if f.startswith("v"))
    with open(os.path.join(log, latest)) as fh:
        return json.load(fh)


def test_split_manifest_roundtrip_and_blob_reuse(spark, tmp_path):
    """Iceberg-style manifest-list: the version file carries only
    per-partition content-hash refs; a commit touching one bucket
    reuses every other bucket's blob (same hash, no rewrite). This is
    the default layout of every table, side tables included."""
    import os

    from radiant_portal_pipeline_spark.cdc.analytics import ConversationStats
    from radiant_portal_pipeline_spark.cdc.lineage import LineageWriter
    from radiant_portal_pipeline_spark.cdc.merge import TranscriptMergeEngine

    tbl = LakeTable.create(spark, str(tmp_path / "ts"), SCHEMA, "part")
    tbl.append(_df(spark, [("a", 1, 0), ("b", 2, 1), ("c", 3, 2)]))
    snap1 = tbl.snapshot()
    assert snap1.refs is not None and set(snap1.refs) == {"0", "1", "2"}
    # rows read back identical through lazy materialization
    assert {tuple(r) for r in tbl.read().collect()} == {
        ("a", 1, 0), ("b", 2, 1), ("c", 3, 2)
    }
    tbl.append(_df(spark, [("a2", 10, 0)]))
    snap2 = tbl.snapshot()
    # untouched partitions keep the SAME blob name; touched one changed
    assert snap2.refs["1"] == snap1.refs["1"]
    assert snap2.refs["2"] == snap1.refs["2"]
    assert snap2.refs["0"] != snap1.refs["0"]
    # version file itself contains no file lists
    import json

    raw = json.loads(open(
        os.path.join(str(tmp_path / "ts"), "_log",
                     f"v{snap2.version:012d}.json")).read())
    assert "files" not in raw and "refs" in raw
    sink = TranscriptMergeEngine.create_table(spark, str(tmp_path / "sink"), 4)
    ConversationStats(spark, str(tmp_path / "stats"), TranscriptMergeEngine(sink))
    LineageWriter(spark, str(tmp_path / "lineage"))
    for side in ("stats", "lineage"):
        raw = _latest_version_json(str(tmp_path / side))
        assert "refs" in raw and "files" not in raw, side


def test_inline_version_file_is_rejected_by_name(spark, tmp_path):
    """A version file in the old inline layout (whole files/stats maps,
    no refs) is outside input the table no longer reads: opening it
    fails with a ValueError that names the layout, not a KeyError."""
    import json
    import os

    tbl = _split_tbl(spark, tmp_path)
    tbl.append(_df(spark, [("a", 1, 0), ("b", 2, 1)]))
    snap = tbl.snapshot()
    raw = _latest_version_json(tbl.path)
    del raw["refs"]
    raw["files"], raw["stats"] = snap.files, snap.stats
    with open(os.path.join(tbl.path, "_log", f"v{snap.version:012d}.json"), "w") as fh:
        json.dump(raw, fh)

    fresh = LakeTable(spark, tbl.path)
    with pytest.raises(ValueError, match="inline manifest layout"):
        fresh.snapshot()
    with pytest.raises(ValueError, match="inline manifest layout"):
        fresh.read()


def test_split_manifest_pruned_read_loads_only_needed_blobs(spark, tmp_path):
    tbl = _split_tbl(spark, tmp_path)
    tbl.append(_df(spark, [("a", 1, 0), ("b", 2, 1), ("c", 3, 2)]))
    fresh = LakeTable(spark, tbl.path)  # cold blob cache
    assert {r["k"] for r in fresh.read(partitions=[1]).collect()} == {"b"}
    snap = fresh.snapshot()
    loaded = set(fresh._blob_cache.keys())
    assert snap.refs["1"] in loaded
    assert snap.refs["0"] not in loaded and snap.refs["2"] not in loaded
    # stats skipping works through part_entry too
    assert fresh.live_files(partitions=[1], skip={"v": (100, None)}) == []


def test_commit_added_names_exactly_the_files_it_wrote(spark, tmp_path):
    """The snapshot a data commit returns names, per partition, exactly
    the files that commit wrote: for an append, for an overwrite whose
    also_replace empties a partition, and for a file-scoped rewrite.
    ``added`` is held in memory only; a re-read snapshot has none."""
    tbl = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, "part")

    def written(snap):
        return {f for fs in snap.added.values() for f in fs}

    snap = tbl.append(_df(spark, [("a", 1, 0), ("b", 2, 1)]))
    assert snap.added == tbl.snapshot().files
    assert sorted(snap.added) == ["0", "1"]
    before = set(tbl.live_files())
    snap = tbl.append(_df(spark, [("c", 3, 1)]))
    assert list(snap.added) == ["1"]
    assert written(snap) == set(tbl.live_files()) - before

    snap = tbl.overwrite_partitions(_df(spark, [("a2", 4, 0)]), also_replace=[1])
    assert list(snap.added) == ["0"]  # partition 1 emptied, nothing written
    assert tbl.partitions() == ["0"]
    assert written(snap) == set(tbl.live_files())

    taken = tbl.snapshot().files
    snap = tbl.rewrite_files(_df(spark, [("a2", 4, 0)]), replace=taken)
    assert list(snap.added) == ["0"]
    assert written(snap) == set(tbl.live_files())
    assert not written(snap) & set(taken["0"])

    assert tbl.append(_df(spark, [("d", 5, 2)]), source_id="s", epoch=1).added
    assert tbl.append(_df(spark, [("d", 5, 2)]), source_id="s", epoch=1) is None
    assert tbl.snapshot().added == {}


def test_split_manifest_overwrite_replace_and_conflict(spark, tmp_path):
    import pytest

    from radiant_portal_pipeline_spark.lake.table import ConcurrentModification

    tbl = _split_tbl(spark, tmp_path)
    tbl.append(_df(spark, [("a", 1, 0), ("b", 2, 1)]))
    base = tbl.snapshot().version
    tbl.overwrite_partitions(_df(spark, [("a2", 5, 0)]))
    assert {tuple(r) for r in tbl.read().collect()} == {("a2", 5, 0), ("b", 2, 1)}
    # replace computed from the stale base aborts (partition 0 changed)
    with pytest.raises(ConcurrentModification):
        tbl.overwrite_partitions(
            _df(spark, [("a3", 6, 0)]), base_version=base
        )
    # epoch guard + exactly-once still hold in split mode
    tbl.append(_df(spark, [("d", 7, 1)]), source_id="s", epoch=3)
    assert tbl.append(_df(spark, [("dup", 8, 1)]), source_id="s", epoch=3) is None


def test_split_manifest_vacuum_gcs_blobs(spark, tmp_path):
    import os

    tbl = _split_tbl(spark, tmp_path)
    tbl.append(_df(spark, [("a", 1, 0)]))
    tbl.overwrite_partitions(_df(spark, [("a2", 2, 0)]))
    mdir = os.path.join(tbl.path, "_log", "manifests")
    n_before = len(os.listdir(mdir))
    tbl.expire_snapshots(keep_last=1)
    tbl.vacuum(grace_seconds=0)
    n_after = len(os.listdir(mdir))
    assert n_after < n_before  # v1's blob collected
    assert {tuple(r) for r in tbl.read().collect()} == {("a2", 2, 0)}


def test_maintenance_ops_honor_commit_protocol(spark, tmp_path):
    """expire_snapshots/vacuum must go through the protocol: on a
    backend-held version log they would otherwise see zero snapshots
    and delete every live data file (round-2 review finding)."""
    from radiant_portal_pipeline_spark.lake.table import CommitProtocol

    class MemoryPut(CommitProtocol):
        def __init__(self):
            self.blobs: dict[str, bytes] = {}

        def publish(self, target, data):
            if target in self.blobs:
                raise FileExistsError(target)
            self.blobs[target] = data

        def read(self, target):
            return self.blobs[target].decode()

        def list_names(self, directory):
            import os

            return [
                os.path.basename(k)
                for k in self.blobs
                if os.path.dirname(k) == directory
            ]

        def delete(self, target):
            del self.blobs[target]

    proto = MemoryPut()
    tbl = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, "part", commit_protocol=proto
    )
    tbl.append(_df(spark, [("a", 1, 0)]))
    tbl.overwrite_partitions(_df(spark, [("a2", 2, 0)]))
    # vacuum with all versions alive: the superseded data file survives
    assert tbl.vacuum(grace_seconds=0) == 0
    assert tbl.expire_snapshots(keep_last=1) == 2
    assert tbl.vacuum(grace_seconds=0) == 1  # now v1's file goes; current data intact
    assert [tuple(r) for r in tbl.read().collect()] == [("a2", 2, 0)]


def test_blob_gc_on_protocol_managed_store(spark, tmp_path):
    """Vacuum's blob grace must come from the PROTOCOL, not a local
    stat: on an object-store protocol the blobs have no filesystem
    mtime, and a local getmtime would make every dead blob look
    eternally in-flight — the store grows without bound (round-3
    review finding)."""
    from radiant_portal_pipeline_spark.lake.table import (
        InMemoryCommitProtocol,
    )

    proto = InMemoryCommitProtocol()
    tbl = LakeTable.create(
        spark, str(tmp_path / "t"), SCHEMA, "part", commit_protocol=proto
    )
    tbl.append(_df(spark, [("a", 1, 0)]))
    tbl.overwrite_partitions(_df(spark, [("a2", 2, 0)]))
    mdir_prefix = str(tmp_path / "t" / "_log" / "manifests")
    n_before = len(proto.list_names(mdir_prefix))
    tbl.expire_snapshots(keep_last=1)
    tbl.vacuum(grace_seconds=0)
    n_after = len(proto.list_names(mdir_prefix))
    assert n_after < n_before  # dead blob actually left the store
    assert {tuple(r) for r in tbl.read().collect()} == {("a2", 2, 0)}
    # grace window still honored: a fresh dead blob survives a graced run
    tbl.append(_df(spark, [("b", 3, 0)]))
    tbl.overwrite_partitions(_df(spark, [("b2", 4, 0)]))
    tbl.expire_snapshots(keep_last=1)
    n_pre = len(proto.list_names(mdir_prefix))
    tbl.vacuum(grace_seconds=3600)
    assert len(proto.list_names(mdir_prefix)) == n_pre
