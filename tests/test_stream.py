from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from radiant_portal_pipeline_spark.cdc import TranscriptMergeEngine
from radiant_portal_pipeline_spark.cdc.feed import feed_from_events
from radiant_portal_pipeline_spark.cdc.lineage import LineageWriter
from radiant_portal_pipeline_spark.cdc.stream import (
    run_cdc_stream,
    write_feed_partitions,
)
from radiant_portal_pipeline_spark.lake import LakeTable


def _final(engine):
    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn"]
    return sorted(map(tuple, engine.current_state().select(cols).collect()))


def test_stream_end_to_end_with_resume(spark, tmp_path, sf_smoke):
    """Stream the feed in 1-file micro-batches; kill between runs; a
    restart with the same checkpoint must not reprocess applied batches
    and must converge to the one-shot batch state."""
    feed = feed_from_events(spark, sf_smoke).cache()
    feed_dir = str(tmp_path / "feed")

    # stage only the first half of the feed, stream it
    half = feed.filter(F.col("lsn") < 500)
    rest = feed.filter(F.col("lsn") >= 500)
    write_feed_partitions(half.withColumn("slice", F.col("lsn") % 2), feed_dir, "slice")

    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=8)
    engine = TranscriptMergeEngine(tbl)
    lineage = LineageWriter(spark, str(tmp_path / "lineage"))
    ckpt = str(tmp_path / "ckpt")

    r1 = run_cdc_stream(
        spark, feed_dir, engine, ckpt, lineage=lineage, max_files_per_trigger=1
    )
    applied_1 = [b.epoch for b in r1.batches if not b.skipped]
    assert len(applied_1) == 2  # two files, one per micro-batch

    # "crash": new engine object; new files arrive; resume from checkpoint
    engine2 = TranscriptMergeEngine(LakeTable(spark, str(tmp_path / "t")))
    write_feed_partitions(rest.withColumn("slice", F.lit(9)), feed_dir, "slice")
    r2 = run_cdc_stream(
        spark, feed_dir, engine2, ckpt, lineage=lineage, max_files_per_trigger=1
    )
    # resumed batch ids continue after the applied ones; none re-applied
    assert all(b.epoch >= len(applied_1) for b in r2.batches)

    # reference state: one-shot merge of the whole feed
    tbl_ref = TranscriptMergeEngine.create_table(spark, str(tmp_path / "ref"), num_buckets=8)
    ref = TranscriptMergeEngine(tbl_ref)
    ref.merge_batch(feed, epoch=0)
    assert _final(engine2) == _final(ref)

    # a third run with nothing new applies nothing
    r3 = run_cdc_stream(spark, feed_dir, engine2, ckpt, max_files_per_trigger=1)
    assert [b for b in r3.batches if not b.skipped] == []

    # lineage has rows for every applied batch; the cumulative per-bucket
    # max of the per-batch watermarks equals the sink's watermark view;
    # I/U/D counts are populated
    lin = lineage.read()
    assert lin.count() > 0
    cum = {
        r["part_bucket"]: r["wm"]
        for r in lin.groupBy("part_bucket")
        .agg(F.max("applied_lsn_watermark").alias("wm"))
        .collect()
    }
    sink_wm = {
        r["part"]: r["applied_lsn"]
        for r in engine2.raw_state()
        .groupBy("part")
        .agg(F.max("lsn").alias("applied_lsn"))
        .collect()
    }
    assert cum == sink_wm
    totals = lin.agg(
        F.sum(F.col("rows_inserted") + F.col("rows_updated") + F.col("rows_deleted"))
    ).head()[0]
    assert totals > 0


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_lineage_iud_counts_exact(spark, tmp_path, mode):
    """Precise I/U/D accounting per batch (FIXTURES F4), in both merge
    modes."""
    import datetime as dt

    from radiant_portal_pipeline_spark.cdc import TranscriptMergeEngine
    from radiant_portal_pipeline_spark.cdc.lineage import LineageWriter
    from radiant_portal_pipeline_spark.cdc.schemas import CHANGE_EVENT_SCHEMA

    TS = dt.datetime(2024, 1, 1)

    def ev(conv, turn, op, lsn):
        return (conv, turn, "user", f"t{lsn}", None, TS, op, lsn, 0)

    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4)
    lineage = LineageWriter(spark, str(tmp_path / "lin"))
    eng = TranscriptMergeEngine(tbl, mode=mode, lineage=lineage)

    b0 = spark.createDataFrame(
        [ev("c1", 0, "I", 1), ev("c2", 0, "I", 2), ev("c3", 0, "D", 3)],
        CHANGE_EVENT_SCHEMA,
    )
    eng.merge_batch(b0, epoch=0)
    b1 = spark.createDataFrame(
        [ev("c1", 0, "U", 4), ev("c4", 0, "I", 5), ev("c2", 0, "D", 6)],
        CHANGE_EVENT_SCHEMA,
    )
    eng.merge_batch(b1, epoch=1)

    agg = {
        r["batch_id"]: (r["i"], r["u"], r["d"])
        for r in lineage.read()
        .groupBy("batch_id")
        .agg(
            F.sum("rows_inserted").alias("i"),
            F.sum("rows_updated").alias("u"),
            F.sum("rows_deleted").alias("d"),
        )
        .collect()
    }
    # batch 0: two inserts + one delete of an unseen key (tombstone)
    assert agg[0] == (2, 0, 1)
    # batch 1: c1 update (existed), c4 insert (new), c2 delete
    assert agg[1] == (1, 1, 1)


# The batch shapes are named after the write plans that once served
# them: an insert-dominant batch (~no duplicate keys) and an update-heavy
# batch with a hot key. Both now run the one LWW operator.
_COMMITTED_BYTES_FEEDS = {
    "append_only": dict(n_convs=5000, hot_every=10**9),
    "argmax_broadcast": dict(n_convs=97, dup_frac=0.05, hot_every=2),
}


@pytest.mark.parametrize("shape", list(_COMMITTED_BYTES_FEEDS))
def test_lineage_describes_committed_bytes(spark, tmp_path, shape):
    """A non-deterministic batch (every evaluation keeps a different
    random subset) must be counted as COMMITTED: the batch's lineage
    I+U+D equals the number of keys in the files that batch wrote.
    Recomputing the batch for lineage would count another subset."""
    import os
    import random

    from radiant_portal_pipeline_spark.cdc.feed import synthetic_feed

    keep = F.udf(lambda: random.random() < 0.5, "boolean").asNondeterministic()
    feed = synthetic_feed(spark, 4000, **_COMMITTED_BYTES_FEEDS[shape])
    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4)
    lineage = LineageWriter(spark, str(tmp_path / "lin"))
    eng = TranscriptMergeEngine(tbl, lineage=lineage)
    for epoch in range(2):
        before = set(tbl.live_files())
        eng.merge_batch(feed.filter(F.col("commit_epoch") == epoch).filter(keep()), epoch)
        written = sorted(set(tbl.live_files()) - before)
        keys = (
            spark.read.schema(tbl.snapshot().schema)
            .parquet(*[os.path.join(tbl.path, f) for f in written])
            .select("conv_id", "turn_idx")
            .distinct()
            .count()
        )
        row = (
            lineage.read()
            .filter(F.col("batch_id") == epoch)
            .agg(F.sum(F.col("rows_inserted") + F.col("rows_updated") + F.col("rows_deleted")))
            .head()
        )
        assert keys > 0 and row[0] == keys, (epoch, row[0], keys)


def test_lineage_layout_one_file_per_batch(spark, tmp_path):
    """A fresh lineage table writes ONE data file per applied batch; a
    table created with the older part_bucket partitioning still takes
    record() through the same append and holds the same rows."""
    from radiant_portal_pipeline_spark.cdc.feed import synthetic_feed
    from radiant_portal_pipeline_spark.cdc.lineage import LINEAGE_SCHEMA

    feed = synthetic_feed(spark, 6000, n_convs=97, dup_frac=0.05).localCheckpoint(
        eager=True
    )
    LakeTable.create(spark, str(tmp_path / "lin_bucket"), LINEAGE_SCHEMA, "part_bucket")
    writers = {}
    for name in ("lin_batch", "lin_bucket"):
        tbl = TranscriptMergeEngine.create_table(
            spark, str(tmp_path / f"t_{name}"), num_buckets=4
        )
        writers[name] = LineageWriter(spark, str(tmp_path / name))
        eng = TranscriptMergeEngine(tbl, lineage=writers[name])
        for epoch in range(3):
            st = eng.merge_batch(feed.filter(F.col("commit_epoch") == epoch), epoch)
            assert st.parts_touched == 4
    fresh, legacy = writers["lin_batch"].table, writers["lin_bucket"].table
    assert fresh.snapshot().partition_col == "batch_id"
    assert sorted(fresh.partitions()) == ["0", "1", "2"]
    assert len(fresh.live_files()) == 3
    assert legacy.snapshot().partition_col == "part_bucket"
    assert sorted(legacy.partitions()) == ["0", "1", "2", "3"]
    cols = ["batch_id", "part_bucket", "applied_lsn_watermark",
            "rows_inserted", "rows_updated", "rows_deleted"]
    rows = {
        name: sorted(map(tuple, w.read().select(cols).collect()))
        for name, w in writers.items()
    }
    assert len(rows["lin_batch"]) == 12
    assert rows["lin_bucket"] == rows["lin_batch"]


def test_feed_files_mtime_ordered_by_epoch(spark, tmp_path):
    """The file stream source orders by MODIFICATION time; the feed
    writer must therefore hand it per-epoch files whose mtimes follow
    epoch order, or maxFilesPerTrigger=1 delivers epochs interleaved
    (round-2 review finding — the parallel write finishes tasks in
    arbitrary order)."""
    import glob
    import os
    import re

    from radiant_portal_pipeline_spark.cdc.feed import synthetic_feed
    from radiant_portal_pipeline_spark.cdc.stream import write_feed_partitions

    feed = synthetic_feed(spark, 20000)  # 10 epochs at EPOCH_SIZE=2000
    n = write_feed_partitions(feed, str(tmp_path / "feed"))
    assert n == 10
    files = sorted(
        glob.glob(str(tmp_path / "feed" / "*.parquet")), key=os.path.getmtime
    )
    epochs = [int(re.match(r"ep-(\d+)-", os.path.basename(f)).group(1)) for f in files]
    assert epochs == sorted(epochs), epochs


def test_stream_with_inline_compaction_policy(spark, tmp_path, sf_correct):
    """The full production loop: streaming merge with the incremental
    compaction policy running after each batch keeps files/bucket
    bounded WHILE the stream is live, and the final state still equals
    the plain LWW fold of the feed."""
    from pyspark.sql import functions as F

    from radiant_portal_pipeline_spark.cdc.dedup import lww_dedup
    from radiant_portal_pipeline_spark.cdc.feed import feed_from_events
    from radiant_portal_pipeline_spark.cdc.merge import TranscriptMergeEngine
    from radiant_portal_pipeline_spark.cdc.stream import (
        run_cdc_stream,
        write_feed_partitions,
    )

    feed = feed_from_events(spark, sf_correct)
    write_feed_partitions(feed, str(tmp_path / "feed"))
    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=8)
    eng = TranscriptMergeEngine(tbl)
    run_cdc_stream(
        spark,
        str(tmp_path / "feed"),
        eng,
        str(tmp_path / "ckpt"),
        max_files_per_trigger=1,
        on_batch=lambda st: None if st.skipped else eng.compact(min_files_per_bucket=3),
    )
    snap = tbl.snapshot()
    assert max(len(fs) for fs in snap.files.values()) <= 3
    got = sorted(
        map(tuple, eng.current_state().select("conv_id", "turn_idx", "lsn").collect())
    )
    want = sorted(
        map(
            tuple,
            lww_dedup(feed, ["conv_id", "turn_idx"], ["lsn"])
            .filter(F.col("op") != "D")
            .select("conv_id", "turn_idx", "lsn")
            .collect(),
        )
    )
    assert got == want


def test_feed_mtimes_monotone_across_calls(spark, tmp_path):
    """Two write_feed_partitions calls in quick succession must assign
    strictly increasing mtimes ACROSS calls — otherwise the file source
    (which orders by modification time) can interleave the second
    call's early epochs with the first call's late ones."""
    import os

    from radiant_portal_pipeline_spark.cdc.feed import synthetic_feed

    out = str(tmp_path / "feed")
    feed = synthetic_feed(spark, 2000)
    write_feed_partitions(feed.withColumn("s", F.col("lsn") % 3), out, "s")
    first = {
        f: os.path.getmtime(os.path.join(out, f))
        for f in os.listdir(out)
        if f.endswith(".parquet")
    }
    write_feed_partitions(feed.withColumn("s", F.col("lsn") % 3 + 3), out, "s")
    second = {
        f: os.path.getmtime(os.path.join(out, f))
        for f in os.listdir(out)
        if f.endswith(".parquet") and f not in first
    }
    assert second, "second call wrote no files"
    assert min(second.values()) > max(first.values())


def test_tombstone_gc_low_watermark_from_lineage(spark, tmp_path):
    """The lineage-derived purge watermark: tombstones below
    (max applied lsn - ooo_window) vanish on the maintenance hook;
    guards above it survive and keep suppressing stragglers."""
    import datetime

    from radiant_portal_pipeline_spark.cdc import schemas as S
    from radiant_portal_pipeline_spark.cdc.stream import tombstone_gc_hook

    ts = datetime.datetime(2024, 1, 1)

    def ev(conv, turn, op, lsn):
        return (conv, turn, "user", f"t-{lsn}", None, ts, op, lsn, 0)

    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=8)
    lineage = LineageWriter(spark, str(tmp_path / "lin"))
    eng = TranscriptMergeEngine(tbl, num_buckets=8, lineage=lineage)
    hook = tombstone_gc_hook(eng, lineage, ooo_window=100, min_files_per_bucket=None)

    batch0 = spark.createDataFrame(
        [
            ev("c1", 1, "U", 10), ev("c1", 1, "D", 50),   # tombstone far below wm
            ev("c2", 1, "U", 20), ev("c2", 1, "D", 990),  # tombstone above wm
            ev("c3", 1, "U", 1000),                        # advances the watermark
        ],
        S.CHANGE_EVENT_SCHEMA,
    )
    st = eng.merge_batch(batch0, epoch=0)
    hook(st)  # wm = 1000 - 100 = 900

    assert lineage.safe_purge_watermark(100) == 900
    raw = {(r["conv_id"], r["_deleted"]) for r in eng.raw_state().collect()}
    assert ("c1", True) not in raw, "purgeable tombstone survived"
    assert ("c2", True) in raw, "guard above the watermark was lost"

    # straggler above the watermark but below the surviving tombstone:
    # must stay suppressed
    st1 = eng.merge_batch(
        spark.createDataFrame([ev("c2", 1, "U", 950)], S.CHANGE_EVENT_SCHEMA),
        epoch=1,
    )
    hook(st1)
    live = {r["conv_id"] for r in eng.current_state().collect()}
    assert "c2" not in live
    assert live == {"c3"}


def test_wal_source_non_file_offsets_exactly_once(spark, tmp_path):
    """The CDC loop over a NON-FILE source (round-3 'what's missing'
    #5): an LSN-offset WAL tail implemented as a PySpark custom data
    source. Proves the offset model generalizes beyond file listings:
    >=3 micro-batches drain through run_cdc_stream, a restart with the
    same checkpoint resumes from the persisted LSN offset (no
    reprocessing), and the final state equals an independent DuckDB
    oracle computed from the WAL arithmetic alone."""
    import duckdb

    from radiant_portal_pipeline_spark.cdc.wal_source import (
        wal_oracle_sql,
        wal_readstream,
    )

    tbl = TranscriptMergeEngine.create_table(
        spark, str(tmp_path / "t"), num_buckets=8
    )
    ckpt = str(tmp_path / "ckpt")

    # the WAL grows 2,000 LSNs between drains; each drain resumes from
    # the checkpointed LSN offset (a FRESH engine each time — nothing
    # in-process survives), applies exactly the tail as one
    # micro-batch, and never re-reads served offsets
    applied_epochs: list[int] = []
    for grown_to in (2_000, 4_000, 6_000):
        eng = TranscriptMergeEngine(
            LakeTable(spark, str(tmp_path / "t")), num_buckets=8
        )
        r = run_cdc_stream(
            spark, None, eng, ckpt,
            source_df=wal_readstream(spark, n_events=grown_to, batch_size=2_000),
        )
        applied = [b for b in r.batches if not b.skipped]
        assert len(applied) == 1, [b.epoch for b in r.batches]
        applied_epochs.append(applied[0].epoch)
    assert len(applied_epochs) >= 3
    assert applied_epochs == sorted(set(applied_epochs))  # monotone batch_ids

    # drained: a further restart applies zero batches
    eng = TranscriptMergeEngine(LakeTable(spark, str(tmp_path / "t")), num_buckets=8)
    r = run_cdc_stream(
        spark, None, eng, ckpt,
        source_df=wal_readstream(spark, n_events=6_000, batch_size=2_000),
    )
    assert not [b for b in r.batches if not b.skipped]

    got = sorted(
        (r["conv_id"], r["turn_idx"], r["text"], r["lsn"])
        for r in eng.current_state().collect()
    )
    oracle = sorted(
        map(tuple, duckdb.connect().execute(wal_oracle_sql(6_000)).fetchall())
    )
    assert got == oracle and len(got) > 0
