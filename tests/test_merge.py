from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from radiant_portal_pipeline_spark.cdc import TranscriptMergeEngine, lww_dedup
from radiant_portal_pipeline_spark.cdc.feed import feed_from_events
from radiant_portal_pipeline_spark.cdc.schemas import CHANGE_EVENT_SCHEMA

TS = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ev(conv, turn, op, lsn, text, tool=None, role="user", epoch=0):
    return (conv, turn, role, text, tool, TS, op, lsn, epoch)


def _batch(spark, rows):
    return spark.createDataFrame(rows, CHANGE_EVENT_SCHEMA)


@pytest.fixture(params=["mor", "cow"])
def engine(spark, tmp_path, request):
    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "transcripts"), num_buckets=8)
    return TranscriptMergeEngine(tbl, mode=request.param)


def state(engine):
    return {
        (r["conv_id"], r["turn_idx"]): (r["text"], r["lsn"])
        for r in engine.current_state().collect()
    }


def test_lww_dedup_agg_matches_window(spark):
    """The window's winners equal an independent aggregate,
    ``max(lsn)`` per key, and the hand-computed winners."""
    rows = [
        _ev("c1", 0, "U", 5, "new"),
        _ev("c1", 0, "U", 3, "old"),
        _ev("c1", 1, "U", 1, "only"),
        _ev("c2", 0, "D", 9, "del"),
        _ev("c2", 0, "U", 8, "upd"),
    ]
    df = _batch(spark, rows)
    a = lww_dedup(df, ["conv_id", "turn_idx"], ["lsn"])
    got = {(r["conv_id"], r["turn_idx"]): r["lsn"] for r in a.collect()}
    agg = df.groupBy("conv_id", "turn_idx").agg(F.max("lsn").alias("lsn"))
    assert got == {(r["conv_id"], r["turn_idx"]): r["lsn"] for r in agg.collect()}
    assert got == {("c1", 0): 5, ("c1", 1): 1, ("c2", 0): 9}
    assert a.filter(F.col("conv_id") == "c2").head()["op"] == "D"


def test_lww_dedup_verbatim_dups_one_row_per_key(spark):
    """Verbatim duplicates (at-least-once replay: same key, same lsn,
    same payload) collapse to one row per key, even where the winner
    itself was replayed, and the winner is the key's max lsn."""
    from radiant_portal_pipeline_spark.cdc.feed import synthetic_feed

    feed = synthetic_feed(spark, 5_000, dup_frac=0.1)
    out = lww_dedup(feed, ["conv_id", "turn_idx"], ["lsn"])
    assert out.columns == feed.columns
    assert feed.count() > feed.distinct().count()  # the feed does replay rows
    assert out.count() == out.select("conv_id", "turn_idx").distinct().count()
    want = feed.groupBy("conv_id", "turn_idx").agg(F.max("lsn").alias("lsn"))
    assert sorted(map(tuple, out.select("conv_id", "turn_idx", "lsn").collect())) == (
        sorted(map(tuple, want.collect()))
    )


def test_lww_argmax_rejects_ineligible_schema(spark):
    """A map payload can be neither grouped nor ordered, so no argmax
    plan can serve it. ``lww_dedup`` has no strategy selector left: a
    ``via=`` request is rejected, and the window dedups the map payload
    to the key's one row."""
    df = _batch(spark, [_ev("c1", 0, "U", 5, "x")]).withColumn(
        "attrs", F.create_map(F.lit("k"), F.lit("v"))
    )
    with pytest.raises(TypeError, match="via"):
        lww_dedup(df, ["conv_id", "turn_idx"], ["lsn"], via="argmax")
    assert lww_dedup(df, ["conv_id", "turn_idx"], ["lsn"]).count() == 1


def test_merge_upsert_update_delete(engine, spark):
    engine.merge_batch(
        _batch(spark, [_ev("c1", 0, "I", 1, "hello"), _ev("c1", 1, "I", 2, "world")]),
        epoch=0,
    )
    assert state(engine) == {("c1", 0): ("hello", 1), ("c1", 1): ("world", 2)}
    engine.merge_batch(
        _batch(spark, [_ev("c1", 0, "U", 3, "hello!"), _ev("c1", 1, "D", 4, "x")]),
        epoch=1,
    )
    assert state(engine) == {("c1", 0): ("hello!", 3)}


def test_merge_exactly_once_replay(engine, spark):
    b0 = _batch(spark, [_ev("c1", 0, "I", 1, "v1")])
    b1 = _batch(spark, [_ev("c1", 0, "U", 2, "v2")])
    assert not engine.merge_batch(b0, epoch=0).skipped
    assert not engine.merge_batch(b1, epoch=1).skipped
    # replaying either batch (same epoch) is a no-op
    assert engine.merge_batch(b0, epoch=0).skipped
    assert engine.merge_batch(b1, epoch=1).skipped
    assert state(engine) == {("c1", 0): ("v2", 2)}


def test_out_of_order_lsn_across_batches(engine, spark):
    engine.merge_batch(_batch(spark, [_ev("c1", 0, "U", 10, "newest")]), epoch=0)
    # a straggler with a lower lsn must NOT overwrite
    engine.merge_batch(_batch(spark, [_ev("c1", 0, "U", 5, "stale")]), epoch=1)
    assert state(engine) == {("c1", 0): ("newest", 10)}


def test_tombstone_blocks_resurrection(engine, spark):
    engine.merge_batch(_batch(spark, [_ev("c1", 0, "D", 10, "gone")]), epoch=0)
    # out-of-order update older than the delete arrives later
    engine.merge_batch(_batch(spark, [_ev("c1", 0, "U", 5, "zombie")]), epoch=1)
    assert state(engine) == {}
    # but a genuinely newer write revives the key
    engine.merge_batch(_batch(spark, [_ev("c1", 0, "U", 11, "back")]), epoch=2)
    assert state(engine) == {("c1", 0): ("back", 11)}


def test_schema_evolution_mid_stream(engine, spark):
    engine.merge_batch(_batch(spark, [_ev("c1", 0, "I", 1, "plain")]), epoch=0)
    wider = _batch(spark, [_ev("c2", 0, "I", 2, "rich")]).withColumn(
        "model", F.lit("m-1")
    )
    engine.merge_batch(wider, epoch=1)
    out = {
        r["conv_id"]: r["model"]
        for r in engine.current_state(include_meta=True).collect()
    }
    assert out == {"c1": None, "c2": "m-1"}


def test_replay_from_scratch_equals_incremental(engine, spark, tmp_path, sf_smoke):
    """Byte-identical final state: applying the feed in epoch batches
    equals applying it in one batch (per BASELINE.json north_rule), in
    BOTH physical modes, and compaction must not change the state."""
    feed = feed_from_events(spark, sf_smoke).cache()
    epochs = sorted(r[0] for r in feed.select("commit_epoch").distinct().collect())
    for e in epochs:
        engine.merge_batch(feed.filter(F.col("commit_epoch") == e), epoch=e)

    tbl2 = TranscriptMergeEngine.create_table(spark, str(tmp_path / "oneshot"), num_buckets=8)
    eng2 = TranscriptMergeEngine(tbl2)
    eng2.merge_batch(feed, epoch=0)

    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn"]
    a = sorted(map(tuple, engine.current_state().select(cols).collect()))
    b = sorted(map(tuple, eng2.current_state().select(cols).collect()))
    assert a == b and len(a) > 0

    engine.compact()
    c = sorted(map(tuple, engine.current_state().select(cols).collect()))
    assert c == a


def test_mor_cow_equivalence_with_interleaved_deletes(spark, tmp_path):
    rows = [
        _ev("c1", 0, "I", 1, "a"),
        _ev("c1", 0, "D", 4, "x"),
        _ev("c1", 0, "U", 3, "late"),
        _ev("c2", 1, "U", 2, "keep"),
    ]
    finals = {}
    for mode in ("mor", "cow"):
        tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / mode), num_buckets=4)
        eng = TranscriptMergeEngine(tbl, mode=mode)
        for i, r in enumerate(rows):  # one event per batch, worst case
            eng.merge_batch(_batch(spark, [r]), epoch=i)
        finals[mode] = sorted(map(tuple, eng.current_state().collect()))
    assert finals["mor"] == finals["cow"]
    assert len(finals["mor"]) == 1  # only c2 survives


def test_null_key_batch_rejected(spark, tmp_path):
    import pyspark.errors

    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4)
    eng = TranscriptMergeEngine(tbl)
    import pyspark.sql.types as T

    nullable = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in CHANGE_EVENT_SCHEMA.fields]
    )
    bad = spark.createDataFrame(
        [(None, 0, "user", "x", None, TS, "U", 1, 0)], nullable
    )
    with pytest.raises(Exception, match="NULL in a key column"):
        eng.merge_batch(bad, epoch=0)
    # table untouched
    assert eng.current_state().count() == 0


def test_compact_purges_old_tombstones(spark, tmp_path):
    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4)
    eng = TranscriptMergeEngine(tbl, mode="mor")
    eng.merge_batch(
        _batch(spark, [_ev("c1", 0, "D", 5, "dead"), _ev("c2", 0, "U", 10, "live")]),
        epoch=0,
    )
    assert eng.raw_state().count() == 2  # tombstone retained
    eng.compact(purge_tombstones_below=6)
    rows = eng.raw_state().collect()
    assert len(rows) == 1 and rows[0]["conv_id"] == "c2"
    # a tombstone at/above the low-watermark survives compaction
    eng.merge_batch(_batch(spark, [_ev("c3", 0, "D", 20, "recent")]), epoch=1)
    eng.compact(purge_tombstones_below=6)
    assert eng.raw_state().filter("_deleted").count() == 1


def test_lineage_watermarks(engine, spark):
    engine.merge_batch(
        _batch(
            spark,
            [_ev("c1", 0, "I", 1, "a"), _ev("c2", 0, "I", 2, "b"), _ev("c2", 1, "D", 3, "c")],
        ),
        epoch=0,
    )
    rows = engine.raw_state().collect()  # tombstones included
    assert len(rows) == 3
    assert sum(r["_deleted"] for r in rows) == 1
    assert max(r["lsn"] for r in rows) == 3


def test_incremental_compaction_policy_bounds_files(spark, tmp_path):
    """X12: a long-running MoR table converges to bounded files/bucket
    under the min_files policy, with partition-scoped rewrites only."""
    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4)
    eng = TranscriptMergeEngine(tbl, mode="mor")
    for e in range(12):
        eng.merge_batch(
            _batch(spark, [
                _ev(f"c{i}", 0, "U", e * 100 + i, f"t{e}-{i}") for i in range(8)
            ]),
            epoch=e,
        )
        done = eng.compact(min_files_per_bucket=5)
        snap = tbl.snapshot()
        assert max(len(fs) for fs in snap.files.values()) < 6
        if done:  # compaction rewrote ONLY qualifying buckets
            assert all(len(snap.files[str(p)]) == 1 for p in done)
    # a fully-compacted table: policy pass is a no-op (no version bump)
    eng.compact(min_files_per_bucket=5)
    v = tbl.snapshot().version
    assert eng.compact(min_files_per_bucket=5) == []
    assert tbl.snapshot().version == v


def test_pruned_compaction_loads_only_its_own_blobs(spark, tmp_path):
    """compact(partitions=[p]) on a cold handle loads the manifest blob
    of p only (it reads, selects and swaps p's files), and the fold
    leaves the state as it was."""
    from radiant_portal_pipeline_spark.lake import LakeTable

    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4)
    eng = TranscriptMergeEngine(tbl, num_buckets=4)
    for e in range(2):
        eng.merge_batch(
            _batch(spark, [
                _ev(f"c{i}", 0, "U", e * 100 + i, f"t{e}-{i}") for i in range(40)
            ]),
            epoch=e,
        )
    want = state(eng)
    cold = TranscriptMergeEngine(LakeTable(spark, tbl.path), num_buckets=4)
    snap = cold.table.snapshot()
    target, *others = snap.partition_values()
    assert others
    assert cold.compact(partitions=[int(target)]) == [int(target)]
    loaded = set(cold.table._blob_cache)
    assert snap.refs[target] in loaded
    assert not loaded & {snap.refs[p] for p in others}
    assert len(tbl.live_files(partitions=[target])) == 1
    assert state(eng) == want


def test_changes_since_prunes_files_and_is_lww_correct(spark, tmp_path):
    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=2)
    eng = TranscriptMergeEngine(tbl, mode="mor")
    eng.merge_batch(_batch(spark, [_ev("c1", 0, "U", 1, "a"), _ev("c2", 0, "U", 2, "b")]), epoch=0)
    eng.merge_batch(_batch(spark, [_ev("c1", 0, "U", 10, "a2")]), epoch=1)
    eng.merge_batch(_batch(spark, [_ev("c3", 0, "U", 20, "c")]), epoch=2)
    # delta read above lsn=5: only epochs 1-2 rows, LWW folded
    delta = {
        (r["conv_id"], r["turn_idx"]): r["lsn"]
        for r in eng.changes_since(5).collect()
    }
    assert delta == {("c1", 0): 10, ("c3", 0): 20}
    # file skipping really pruned: scanned files < live files
    skipped = tbl.live_files(skip={"lsn": (6, None)})
    assert len(skipped) < len(tbl.live_files())


def test_table_diff_surfaces_duplicate_keys(spark):
    """A replica carrying a merge key twice must show up in the diff
    summary, not fan out into plausible-looking totals (round-2 review
    finding on the row-level full-outer join)."""
    from radiant_portal_pipeline_spark.cdc.queries import table_diff

    a = spark.createDataFrame(
        [("c1", 0, "x", 1), ("c2", 0, "y", 2)],
        "conv_id string, turn_idx int, text string, lsn long",
    )
    b = spark.createDataFrame(
        # c1 duplicated: one row matches, one diverged; c2 matches
        [("c1", 0, "x", 1), ("c1", 0, "DIVERGED", 9), ("c2", 0, "y", 2)],
        "conv_id string, turn_idx int, text string, lsn long",
    )
    r = table_diff(a, b, keys=["conv_id", "turn_idx"], compare_cols=["text", "lsn"]).first()
    assert r["n_dup_keys_b"] == 1 and r["n_dup_keys_a"] == 0
    assert r["n_differing"] == 1  # c1 payload SETS differ (1 vs 2 rows)
    assert r["n_equal"] == 1 and r["n_only_a"] == 0 and r["n_only_b"] == 0


def test_rescale_buckets_preserves_state_and_exactly_once(spark, tmp_path, sf_smoke):
    """Bucket count is table identity — growing the cluster means a
    one-pass re-bucketing migration. The new table must hold identical
    live state (tombstones carried), identify with the new count, and
    REFUSE epochs the old table already applied (stream resume stays
    exactly-once across the cutover)."""
    feed = feed_from_events(spark, sf_smoke)
    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t8"), num_buckets=8)
    eng = TranscriptMergeEngine(tbl)
    eng.merge_batch(feed, epoch=3)

    eng32 = eng.rescale(str(tmp_path / "t32"), new_buckets=32)
    assert eng32.num_buckets == 32
    assert eng32.table.snapshot().properties["num_buckets"] == 32
    old = sorted(map(tuple, eng.current_state().collect()))
    new = sorted(map(tuple, eng32.current_state().collect()))
    assert old == new
    # tombstones survived the migration (raw includes deleted keys)
    assert eng32.raw_state().filter("_deleted").count() == eng.raw_state().filter(
        "_deleted"
    ).count()
    # epoch guard carried: replaying an applied epoch is a no-op...
    assert eng32.merge_batch(feed, epoch=3).skipped
    # ...and new epochs still apply
    assert not eng32.merge_batch(feed.limit(10), epoch=4).skipped
    # physical layout really is 32-bucket now
    assert len(eng32.table.partitions()) > len(eng.table.partitions())


def test_rescale_aborts_if_source_advances_mid_migration(spark, tmp_path):
    """Epochs committed during the migration window must not be marked
    applied on the new table without their data — the rescale pins one
    snapshot and raises if the source advanced past it."""
    import pytest

    from radiant_portal_pipeline_spark.lake.table import ConcurrentModification

    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4)
    eng = TranscriptMergeEngine(tbl)
    eng.merge_batch(_batch(spark, [_ev("c1", 0, "U", 1, "a")]), epoch=0)

    orig_carry = type(tbl).carry_applied

    def racing_carry(self, applied):
        # a concurrent writer lands on the OLD table mid-migration
        eng.merge_batch(_batch(spark, [_ev("c2", 0, "U", 2, "b")]), epoch=1)
        return orig_carry(self, applied)

    import unittest.mock as mock

    with mock.patch.object(type(tbl), "carry_applied", racing_carry):
        with pytest.raises(ConcurrentModification, match="advanced"):
            eng.rescale(str(tmp_path / "t2"), new_buckets=8)


def test_rescale_abort_is_self_cleaning(spark, tmp_path):
    """On ConcurrentModification the half-built target table must be
    deleted (a retry re-copies from scratch), and a pre-existing target
    is refused up front."""
    import os

    import pytest
    import unittest.mock as mock

    from radiant_portal_pipeline_spark.lake.table import ConcurrentModification

    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4)
    eng = TranscriptMergeEngine(tbl)
    eng.merge_batch(_batch(spark, [_ev("c1", 0, "U", 1, "a")]), epoch=0)

    orig_carry = type(tbl).carry_applied

    def racing_carry(self, applied):
        eng.merge_batch(_batch(spark, [_ev("c2", 0, "U", 2, "b")]), epoch=1)
        return orig_carry(self, applied)

    target = str(tmp_path / "t2")
    with mock.patch.object(type(tbl), "carry_applied", racing_carry):
        with pytest.raises(ConcurrentModification, match="deleted"):
            eng.rescale(target, new_buckets=8)
    assert not os.path.exists(target), "abort left the stale target behind"

    # a retry against the SAME path now works (nothing stale in the way)
    eng2 = eng.rescale(target, new_buckets=8)
    assert eng2.current_state().count() == eng.current_state().count()

    # and an occupied path is refused with an actionable error
    with pytest.raises(ValueError, match="already exists"):
        eng.rescale(target, new_buckets=16)


def test_rescale_carries_engine_settings(spark, tmp_path):
    """The rescaled engine keeps every engine setting: a batch with a
    NULL key still goes to the dead-letter table instead of failing."""
    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4)
    q = TranscriptMergeEngine.create_quarantine_table(spark, str(tmp_path / "q"))
    eng = TranscriptMergeEngine(tbl, quarantine=q)
    eng.merge_batch(_batch(spark, [_ev("c1", 0, "U", 1, "a")]), epoch=0)

    eng8 = eng.rescale(str(tmp_path / "t8"), new_buckets=8)
    assert eng8.num_buckets == 8
    assert eng8.quarantine is q
    batch = _batch(
        spark, [_ev("c2", 0, "U", 2, "good"), _ev("c3", 0, "U", 3, "bad-key")]
    ).withColumn("conv_id", F.when(F.col("text") != "bad-key", F.col("conv_id")))
    assert not eng8.merge_batch(batch, epoch=1).skipped
    assert {r["conv_id"] for r in eng8.current_state().collect()} == {"c1", "c2"}
    assert {(r["_reason"], r["text"]) for r in q.read().collect()} == {
        ("null_merge_key", "bad-key")
    }


def test_map_payload_merges_in_both_modes(spark, tmp_path):
    """A map payload can be neither a grouping key nor ordered; the
    merge's window operator never compares payloads, so such batches
    merge in BOTH modes (the CoW fold adds a second order column on
    top) and read back equal to the public ``lww_dedup`` of the feed,
    under the one plan label."""
    from radiant_portal_pipeline_spark.cdc.feed import synthetic_feed
    from radiant_portal_pipeline_spark.cdc.lineage import LineageWriter

    feed = (
        synthetic_feed(spark, 2000, n_convs=23, dup_frac=0.05)
        .withColumn("attrs", F.create_map(F.lit("k"), F.col("role")))
        .localCheckpoint(eager=True)
    )
    ref = lww_dedup(feed, ["conv_id", "turn_idx"], ["lsn"])

    def by_key(df):
        return {
            (r["conv_id"], r["turn_idx"]): (r["lsn"], r["text"], r["attrs"])
            for r in df.collect()
        }

    want = by_key(ref.filter(F.col("op") != "D"))
    assert want
    for mode in ("mor", "cow"):
        tbl = TranscriptMergeEngine.create_table(
            spark, str(tmp_path / mode), num_buckets=8
        )
        lineage = LineageWriter(spark, str(tmp_path / f"lin_{mode}"))
        eng = TranscriptMergeEngine(tbl, mode=mode, lineage=lineage)
        for e in range(2):
            st = eng.merge_batch(feed.filter(F.col("commit_epoch") % 2 == e), epoch=e)
            assert st.plan == "lww_window", (mode, st.plan)
        assert by_key(eng.current_state()) == want, mode
        plans = {r["plan"] for r in lineage.read().select("plan").collect()}
        assert plans == {"lww_window"}, (mode, plans)


def test_nested_map_detection(spark):
    """Map payloads (top-level map, array<map<...>>, struct-wrapped
    map) can be neither grouped nor ordered; the window never compares
    payloads, so each dedups to the key's one newest row."""
    base = _batch(spark, [_ev("c1", 0, "U", 5, "new"), _ev("c1", 0, "U", 3, "old")])
    m = F.create_map(F.lit("k"), F.lit("v"))
    for df in (
        base.withColumn("attrs", m),
        base.withColumn("tags", F.array(m)),
        base.withColumn("meta", F.struct(m.alias("m"))),
    ):
        out = lww_dedup(df, ["conv_id", "turn_idx"], ["lsn"])
        assert out.count() == 1 and out.head()["lsn"] == 5, df.columns


def test_lineage_counts_per_key_with_intra_batch_duplicates(spark, tmp_path):
    """Lineage I/U/D counts are per KEY when a batch carries several
    rows of one key: an update folded with its predecessor counts once,
    and an update followed by a delete counts only as deleted."""
    from radiant_portal_pipeline_spark.cdc.lineage import LineageWriter

    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4)
    lineage = LineageWriter(spark, str(tmp_path / "lin"))
    eng = TranscriptMergeEngine(tbl, num_buckets=4, lineage=lineage)
    # key (c1,0): two update rows (a dup to fold); key (c2,0): update
    # then delete (must count ONLY as deleted); key (c3,0): one insert
    eng.merge_batch(
        _batch(
            spark,
            [
                _ev("c1", 0, "U", 1, "a"),
                _ev("c1", 0, "U", 2, "b"),
                _ev("c2", 0, "U", 3, "c"),
                _ev("c2", 0, "D", 4, "d"),
                _ev("c3", 0, "I", 5, "e"),
            ],
        ),
        epoch=0,
    )
    row = (
        lineage.read()
        .groupBy()
        .sum("rows_inserted", "rows_updated", "rows_deleted")
        .head()
    )
    ins, upd, dele = row[0], row[1], row[2]
    assert (ins, upd, dele) == (2, 0, 1), (ins, upd, dele)


def test_lww_dedup_all_null_order_one_row_per_key(spark):
    """A key whose rows are ALL NULL in the order column has no defined
    winner; the window still keeps exactly one row of it, so the
    one-row-per-key invariant holds."""
    rows = [
        _ev("c1", 0, "U", 1, "a"),
        _ev("c1", 0, "U", 2, "b"),
        _ev("c2", 0, "U", 7, "c"),
    ]
    # CHANGE_EVENT_SCHEMA declares lsn non-null; nullify inside the plan
    df = _batch(spark, rows).withColumn(
        "lsn",
        F.when(F.col("conv_id") != "c1", F.col("lsn")).cast("bigint"),
    )
    got = lww_dedup(df, ["conv_id", "turn_idx"], ["lsn"])
    assert got.count() == 2  # one row per key, NULL-order key included
    assert got.filter(F.col("conv_id") == "c2").head()["lsn"] == 7


def test_cow_extreme_lsn_elects_right_winner(spark, tmp_path):
    """CoW orders the fold by (lsn, batch-beats-existing) directly, so
    an lsn at 2^62 or 2^63-1 elects the right winner, and at equal lsn
    the batch row beats the existing row."""
    top = (1 << 63) - 1
    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4)
    eng = TranscriptMergeEngine(tbl, mode="cow")
    steps = [
        ([_ev("c1", 0, "U", 10, "a"), _ev("c2", 0, "U", top, "keep")],
         {"c1": ("a", 10), "c2": ("keep", top)}),
        ([_ev("c1", 0, "U", 1 << 62, "b"), _ev("c2", 0, "U", 1 << 62, "stale")],
         {"c1": ("b", 1 << 62), "c2": ("keep", top)}),
        ([_ev("c1", 0, "U", top, "c")], {"c1": ("c", top), "c2": ("keep", top)}),
        ([_ev("c1", 0, "U", top, "tie"), _ev("c2", 0, "U", top, "tie")],
         {"c1": ("tie", top), "c2": ("tie", top)}),
    ]
    for epoch, (rows, want) in enumerate(steps):
        eng.merge_batch(_batch(spark, rows), epoch=epoch)
        got = {conv: v for (conv, _), v in state(eng).items()}
        assert got == want, (epoch, got)


def _keyed_batch(spark, rows_per_key: dict[tuple[str, int], int], lsn0: int):
    rows, lsn = [], lsn0
    for (conv, turn), n in rows_per_key.items():
        for i in range(n):
            rows.append(_ev(conv, turn, "U", lsn, f"t-{lsn}"))
            lsn += 1
    return _batch(spark, rows)


def test_mor_commit_holds_one_row_per_key(spark, tmp_path):
    """Every MoR commit is deduped: the files one merge_batch writes
    hold exactly one row per (part, conv_id, turn_idx), for an
    insert-dominant batch with a few duplicate keys as for a batch
    whose duplicates sit on a handful of hot keys."""
    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=8)
    eng = TranscriptMergeEngine(tbl, num_buckets=8)
    insert_dominant = {(f"c-{i}", 0): 1 for i in range(2000)}
    insert_dominant.update({(f"dup-{i}", 0): 2 for i in range(20)})
    hot = {(f"hot-{j}", 0): 650 for j in range(3)}
    hot.update({(f"d-{i}", 0): 1 for i in range(100)})
    for epoch, spec in enumerate([insert_dominant, hot]):
        before = set(tbl.live_files())
        eng.merge_batch(_keyed_batch(spark, spec, lsn0=epoch * 10_000), epoch=epoch)
        # a MoR merge only adds files
        added = sorted(set(tbl.live_files()) - before)
        committed = tbl.read_files(added, tbl.snapshot().schema)
        per_key = committed.groupBy("part", "conv_id", "turn_idx").count()
        assert per_key.count() == len(spec), epoch
        assert per_key.agg(F.max("count")).head()[0] == 1, epoch


def test_quarantine_dead_letters_instead_of_failing(spark, tmp_path):
    """With a quarantine table configured, contract-violating rows
    (NULL merge key / NULL lsn) are split out with a reason and the
    valid remainder merges; without one, the batch fails (the round-3
    in-plan guard). Exactly-once extends to the dead letters: replaying
    the batch quarantines nothing twice."""
    tbl = TranscriptMergeEngine.create_table(spark, str(tmp_path / "t"), num_buckets=4)
    q = TranscriptMergeEngine.create_quarantine_table(spark, str(tmp_path / "q"))
    eng = TranscriptMergeEngine(tbl, num_buckets=4, quarantine=q)
    batch = _batch(
        spark,
        [
            _ev("c1", 0, "U", 1, "good"),
            _ev("c2", 0, "U", 2, "bad-key"),
            _ev("c3", 0, "U", 3, "bad-lsn"),
            _ev("c4", 0, "U", 4, "also-good"),
        ],
    ).withColumn(
        "conv_id", F.when(F.col("text") != "bad-key", F.col("conv_id"))
    ).withColumn(
        "lsn", F.when(F.col("text") != "bad-lsn", F.col("lsn")).cast("bigint")
    )
    st = eng.merge_batch(batch, epoch=0)
    assert not st.skipped
    state = {r["conv_id"]: r["text"] for r in eng.current_state().collect()}
    assert state == {"c1": "good", "c4": "also-good"}
    dead = {(r["_reason"], r["text"]) for r in q.read().collect()}
    assert dead == {("null_merge_key", "bad-key"), ("null_lsn", "bad-lsn")}

    # replay: both tables untouched (no duplicate dead letters)
    st2 = eng.merge_batch(batch, epoch=0)
    assert st2.skipped
    assert q.read().count() == 2

    # without a quarantine table the same batch fails loudly
    tbl2 = TranscriptMergeEngine.create_table(
        spark, str(tmp_path / "t2"), num_buckets=4
    )
    eng2 = TranscriptMergeEngine(tbl2, num_buckets=4)
    with pytest.raises(Exception, match="NULL"):
        eng2.merge_batch(batch, epoch=0)
