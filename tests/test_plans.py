"""Physical-plan audits: the optimizations we claim must be visible in
the executed plan, not just intended (broadcast joins broadcast, filters
reach the parquet scan, the merge pipeline shuffles exactly once,
whole-stage codegen covers the hot expressions)."""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

from radiant_portal_pipeline_spark.cdc.feed import synthetic_feed
from radiant_portal_pipeline_spark.cdc.merge import TranscriptMergeEngine
from radiant_portal_pipeline_spark.operators.registry import REGISTRY, load_table
import radiant_portal_pipeline_spark.operators.relational  # noqa: F401
import radiant_portal_pipeline_spark.operators.relational2  # noqa: F401


def plan_of(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_broadcast_dim_join_is_broadcast(spark, sf_smoke):
    plan = plan_of(REGISTRY["q05_broadcast_dim_enrich"].fn(spark, sf_smoke))
    assert "BroadcastHashJoin" in plan
    # the fact table must NOT be exchanged for the join (only broadcast
    # exchanges before the join; the single hashpartitioning exchange is
    # the groupBy's)
    assert plan.count("Exchange hashpartitioning") <= 1


def test_semi_and_anti_joins_planned(spark, sf_smoke):
    anti = plan_of(REGISTRY["q03_anti_join_unseen"].fn(spark, sf_smoke))
    semi = plan_of(REGISTRY["q04_semi_join_pruning"].fn(spark, sf_smoke))
    assert "LeftAnti" in anti
    assert "LeftSemi" in semi


def test_filter_and_projection_pushdown(spark, sf_smoke):
    li = load_table(spark, sf_smoke, "lineitem")
    q = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_extendedprice" not in read_schema


def _bare_engine(merge_plan: str):
    eng = TranscriptMergeEngine.__new__(TranscriptMergeEngine)
    eng.num_buckets = 16
    eng.key_cols = ["conv_id", "turn_idx"]
    eng.lsn_col = "lsn"
    eng.merge_plan = merge_plan
    return eng


def test_top1_window_vs_agg_same_result_different_plan(spark, sf_smoke):
    """The engine's LWW (aggregate) and the reference's row_number
    (window+sort) are plan-distinct but result-identical."""
    from radiant_portal_pipeline_spark.cdc.dedup import lww_dedup

    feed = synthetic_feed(spark, 2000)
    agg = lww_dedup(feed, ["conv_id", "turn_idx"], ["lsn"])
    win = lww_dedup(feed, ["conv_id", "turn_idx"], ["lsn"], use_window=True)
    assert "Window" in plan_of(win, "simple")
    assert "Window" not in plan_of(agg, "simple")
    assert sorted(map(tuple, agg.collect())) == sorted(map(tuple, win.collect()))


def test_bucketed_tables_join_without_shuffle(spark, sf_smoke):
    """X7/J9: co-located storage joins — two tables bucketed on the join
    key join with NO exchange (the reference's colocate_with groups,
    init/germline_snv_occurrence_create_table.sql:64-66)."""
    o = load_table(spark, sf_smoke, "orders")
    c = load_table(spark, sf_smoke, "customer")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    spark.sql("DROP TABLE IF EXISTS b_customer")
    o.write.bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("b_orders")
    c.write.bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("b_customer")
    j = spark.table("b_orders").join(
        spark.table("b_customer"),
        F.col("o_custkey") == F.col("c_custkey"),
    )
    plan = plan_of(j)
    assert "Exchange hashpartitioning" not in plan, plan
    assert j.count() > 0


def test_lake_scan_prunes_partitions_at_file_level(spark, tmp_path):
    import pyspark.sql.types as T

    from radiant_portal_pipeline_spark.lake import LakeTable

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("part", T.IntegerType()),
        ]
    )
    tbl = LakeTable.create(spark, str(tmp_path / "t"), schema, "part")
    tbl.append(
        spark.createDataFrame([(f"r{i}", i % 4) for i in range(100)], schema)
    )
    pruned = tbl.read(partitions=[1])
    # file-list pruning: the scan's file count is the single bucket's
    files_scanned = plan_of(pruned).count(".parquet") or 1
    assert pruned.count() == 25
    full = tbl.read()
    assert full.count() == 100
    snap = tbl.snapshot()
    assert len(snap.files["1"]) < sum(len(v) for v in snap.files.values())


def test_aqe_splits_skewed_join_partition(spark):
    """ST9/X15: the session enables AQE skew-join handling — prove it
    fires. A 90%-hot-key sort-merge join at tiny skew thresholds must
    show skew=true in the FINAL adaptive plan (the hot partition was
    split instead of landing in one task)."""
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "256KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        # payload must be INCOMPRESSIBLE (skew detection reads compressed
        # shuffle sizes) and dim must be INDEPENDENT of fact (a dim
        # derived from fact reuses fact's exchange, and exchange reuse
        # blocks the skew split — both discovered empirically)
        pay = F.concat(
            F.sha2(F.col("id").cast("string"), 256),
            F.sha2((F.col("id") + 1).cast("string"), 256),
        )
        fact = spark.range(0, 300000, 1, 8).select(
            F.when(F.col("id") % 10 < 9, F.lit("hot"))
            .otherwise(F.col("id").cast("string"))
            .alias("k"),
            pay.alias("pad"),
        )
        dim = (
            spark.range(0, 400, 1, 4)
            .select(F.col("id").cast("string").alias("k"))
            .union(spark.createDataFrame([("hot",)], "k string"))
            .withColumn("v", F.sha2("k", 256))
        )
        j = fact.join(dim, "k")
        # execute THIS DataFrame's plan (count() would adapt a different
        # query) so its AdaptiveSparkPlan finalizes
        assert len(j.collect()) > 0
        plan = plan_of(j, "formatted")
        assert "skew=true" in plan, plan[:4000]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_merge_prepare_argmax_is_all_hash(spark):
    """The argmax plan's whole point: NO sort anywhere (max-struct
    aggregation buffers force SortAggregate; argmax is hash-agg +
    shuffled-hash semi join + elided-exchange distinct). The winners
    aggregation must still get its map-side partial combine."""
    feed = synthetic_feed(spark, 1000)
    plan = plan_of(
        TranscriptMergeEngine._prepare_batch(_bare_engine("argmax"), feed)[0],
        mode="simple",
    )
    assert "SortAggregate" not in plan, plan
    assert "Sort " not in plan, plan
    assert "ShuffledHashJoin" in plan, plan
    assert plan.count("HashAggregate") >= 4, plan  # winners p+f, distinct p+f


def test_adaptive_plan_selection(spark, tmp_path):
    """The adaptive default resolves per batch: update-heavy batches
    (duplicate keys to fold) take the sort-free argmax plan —
    broadcast variant when the estimated winners set fits, shuffled
    otherwise; insert-dominant batches (~no duplicate keys) elide the
    write-path dedup entirely (append_only — MoR read-side LWW makes
    it equivalent). The choice lands in MergeStats and lineage."""
    from radiant_portal_pipeline_spark.cdc.lineage import LineageWriter

    p = spark.sparkContext.defaultParallelism
    buckets = max(64, 2 * p)
    tbl = TranscriptMergeEngine.create_table(
        spark, str(tmp_path / "t"), num_buckets=buckets
    )
    lineage = LineageWriter(spark, str(tmp_path / "lin"))
    eng = TranscriptMergeEngine(tbl, lineage=lineage)  # adaptive default

    hot = synthetic_feed(spark, 30_000, hot_every=2)  # 50% to one conv
    st_hot = eng.merge_batch(hot, epoch=0)
    assert st_hot.plan == "argmax_broadcast", st_hot  # small winners set

    uniform = synthetic_feed(spark, 30_000, n_convs=5000, hot_every=10**9)
    st_uni = eng.merge_batch(uniform, epoch=1)
    assert st_uni.plan == "append_only", st_uni

    plans = {
        r["batch_id"]: r["plan"]
        for r in lineage.read().select("batch_id", "plan").distinct().collect()
    }
    assert plans[0].startswith("argmax_broadcast(")
    assert plans[1].startswith("append_only(")

    # winners bound 0 -> the shuffled argmax (update-heavy batch whose
    # winners set exceeds what any executor should hold)
    eng_sh = TranscriptMergeEngine(tbl, broadcast_max_winners=0)
    plan, reason = eng_sh._choose_plan(_slim_for_chooser(eng_sh, hot))
    assert plan == "argmax", (plan, reason)


def _slim_for_chooser(eng, feed):
    from radiant_portal_pipeline_spark.cdc import schemas as S
    from radiant_portal_pipeline_spark.cdc.merge import part_expr

    return (
        feed.withColumn(S.PART_COL, part_expr("conv_id", eng.num_buckets))
        .withColumn(S.DELETED_COL, F.col("op") == F.lit("D"))
        .drop("op", "commit_epoch")
    )


def _with_map_payload(feed):
    """An argmax-INeligible batch: map-typed payload columns can't be
    grouping keys for the distinct, so adaptive must take the fallback
    plan."""
    return feed.withColumn(
        "attrs", F.create_map(F.lit("k"), F.col("role"))
    )


def test_adaptive_fallback_chooser_on_ineligible_schema(spark, tmp_path):
    """Argmax-ineligible batches resolve to the one fixed fallback
    label, whatever their skew, with no estimator job."""
    from radiant_portal_pipeline_spark.cdc import schemas as S
    from radiant_portal_pipeline_spark.cdc.merge import FALLBACK_PLAN, part_expr

    p = spark.sparkContext.defaultParallelism
    buckets = max(64, 2 * p)
    tbl = TranscriptMergeEngine.create_table(
        spark, str(tmp_path / "t"), num_buckets=buckets
    )
    eng = TranscriptMergeEngine(tbl, num_buckets=buckets)

    def slim(feed):
        return _with_map_payload(feed).withColumn(
            S.PART_COL, part_expr("conv_id", buckets)
        )

    hot = slim(synthetic_feed(spark, 30_000, hot_every=2))  # 50% to one conv
    plan, reason = eng._choose_plan(hot)
    assert (plan, reason) == (FALLBACK_PLAN, "argmax_ineligible")

    uniform = slim(synthetic_feed(spark, 30_000, n_convs=5000, hot_every=10**9))
    plan, reason = eng._choose_plan(uniform)
    assert (plan, reason) == (FALLBACK_PLAN, "argmax_ineligible")


def test_merge_prepare_argmax_broadcast_zero_fullrow_exchanges(spark):
    """The broadcast variant's whole point: the batch's FULL rows reach
    the layout repartition through a BroadcastHashJoin — the only
    full-row exchange left is the (already-deduped) layout
    repartition. The winners aggregation keeps its partial combine."""
    feed = synthetic_feed(spark, 1000)
    plan = plan_of(
        TranscriptMergeEngine._prepare_batch(
            _bare_engine("argmax_broadcast"), feed
        )[0],
        mode="simple",
    )
    assert "BroadcastHashJoin" in plan, plan
    assert "LeftSemi" in plan, plan
    assert "SortAggregate" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    # exactly ONE row-bearing exchange: the layout repartition (the
    # winners aggregation's exchange + broadcast exchange carry only
    # keys+lsn)
    assert plan.count("Exchange hashpartitioning") == 2, plan  # winners + layout


def test_range_bin_join_shuffles_on_key_and_bin(spark):
    """q38's scale mechanism: with a 24-value equi key the join must
    shuffle on (key, bin), not the bare key — otherwise entire
    chromosomes serialize into single tasks (SURVEY §2.3 J7)."""
    from radiant_portal_pipeline_spark.operators.range_bin import range_bin_join

    pts = spark.range(2000).select(
        (F.col("id") % 24).alias("chrom"), (F.col("id") % 400 * 1.0).alias("pos")
    )
    ivs = spark.range(500).select(
        F.col("id").alias("iv_id"),
        (F.col("id") % 24).alias("chrom"),
        (F.col("id") % 40 * 10.0).alias("lo"),
        (F.col("id") % 40 * 10.0 + 60.0).alias("hi"),
    )
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        out = range_bin_join(pts, ivs, ["chrom"], "pos", "lo", "hi", 60.0)
        plan = plan_of(out, mode="simple")
        assert "hashpartitioning(chrom" in plan and "_bin" in plan, plan

        # equivalence against the direct interval join on the same data
        direct = pts.join(
            ivs,
            (pts.chrom == ivs.chrom) & (pts.pos >= ivs.lo) & (pts.pos <= ivs.hi),
        ).select(pts.chrom, "pos", "iv_id", "lo", "hi")
        got = sorted(map(tuple, out.select("chrom", "pos", "iv_id", "lo", "hi").collect()))
        want = sorted(map(tuple, direct.collect()))
        assert got == want and len(got) > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


@pytest.mark.parametrize("variant", ["join", "overlap"])
def test_range_bin_join_guards_runaway_spans(spark, variant):
    from radiant_portal_pipeline_spark.operators.range_bin import (
        range_bin_join,
        range_bin_overlap_join,
    )

    pts = spark.range(10).select(
        F.lit(1).alias("k"), (F.col("id") * 1.0).alias("pos")
    )
    ivs = spark.range(1).select(
        F.lit(1).alias("k"), F.lit(0.0).alias("lo"), F.lit(1e9).alias("hi")
    )
    joins = {
        "join": lambda: range_bin_join(
            pts, ivs, ["k"], "pos", "lo", "hi", 1.0, max_bins_per_interval=100
        ),
        "overlap": lambda: range_bin_overlap_join(
            pts.withColumn("pos_hi", F.col("pos")), ivs, ["k"],
            "pos", "pos_hi", "lo", "hi", 1.0, max_bins_per_interval=100,
        ),
    }
    with pytest.raises(Exception, match="bins"):
        joins[variant]().collect()


def test_range_bin_overlap_join_canonical_bin_exactly_once(spark):
    """q39's mechanism: interval x interval overlap shuffled on
    (key, bin); a pair sharing k bins must be emitted EXACTLY once
    (canonical-bin rule) with no pair-dedup distinct in the plan."""
    from radiant_portal_pipeline_spark.operators.range_bin import (
        range_bin_overlap_join,
    )

    a = spark.range(3000).select(
        F.col("id").alias("a_id"),
        (F.col("id") % 24).alias("chrom"),
        (F.col("id") % 350 * 1.0).alias("a_lo"),
        (F.col("id") % 350 * 1.0 + 130.0).alias("a_hi"),  # spans >2 bins
    )
    b = spark.range(700).select(
        F.col("id").alias("b_id"),
        (F.col("id") % 24).alias("chrom"),
        (F.col("id") % 40 * 10.0).alias("b_lo"),
        (F.col("id") % 40 * 10.0 + 90.0).alias("b_hi"),
    )
    out = range_bin_overlap_join(
        a, b, ["chrom"], "a_lo", "a_hi", "b_lo", "b_hi", bin_width=60.0
    )
    direct = a.join(
        b,
        (a.chrom == b.chrom) & (a.a_lo <= b.b_hi) & (a.a_hi >= b.b_lo),
    ).select("a_id", "b_id")
    got = sorted(map(tuple, out.select("a_id", "b_id").collect()))
    want = sorted(map(tuple, direct.collect()))
    assert got == want and len(got) > 0
    assert len(got) == len(set(got))  # exactly-once, not distinct'd
    plan = plan_of(out, mode="simple")
    assert "Deduplicate" not in plan and "dropDuplicates" not in plan
