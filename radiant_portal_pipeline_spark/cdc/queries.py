"""CDC engine queries for the driver contract.

These run the REAL engine (LakeTable + TranscriptMergeEngine +
Structured Streaming) against the events-derived change feed and expose
the final table state as a DataFrame, with a pure-SQL DuckDB oracle
computing the same replay semantics independently (window LWW +
tombstone exclusion). This is the flagship correctness surface: if the
merge engine mis-applies a single event, the value hash diverges.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from radiant_portal_pipeline_spark.cdc.feed import feed_from_events, feed_sql
from radiant_portal_pipeline_spark.cdc.dedup import lww_dedup
from radiant_portal_pipeline_spark.cdc.merge import TranscriptMergeEngine
from radiant_portal_pipeline_spark.cdc.lineage import LineageWriter
from radiant_portal_pipeline_spark.cdc.stream import (
    run_cdc_stream,
    write_feed_partitions,
)
from radiant_portal_pipeline_spark.lake import LakeTable
from radiant_portal_pipeline_spark.operators.registry import query

_FINAL_STATE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn"]

_ORACLE_FINAL_STATE = f"""
    WITH feed AS ({feed_sql('duckdb')}),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
      FROM feed)
    SELECT conv_id, turn_idx, role, text, tool, ts, lsn
    FROM ranked WHERE rn = 1 AND op <> 'D'
"""


@query("cdc_feed_derivation", oracle=feed_sql("duckdb"))
def cdc_feed_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The deterministic change-feed derivation itself (projection +
    CASE envelope, SURVEY.md §2.2 P6/P8)."""
    return feed_from_events(spark, sf_dir)


@query(
    "cdc_lww_dedup",
    oracle=f"""
    WITH feed AS ({feed_sql('duckdb')}),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
      FROM feed)
    SELECT conv_id, turn_idx, op, lsn, text FROM ranked WHERE rn = 1
    """,
)
def cdc_lww_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1 through the public ``lww_dedup``: the reference's row_number
    window per (conv_id, turn_idx), newest lsn first, keeping row 1 —
    the plan the merge engine runs inside each bucket — vs the
    oracle's row_number window."""
    feed = feed_from_events(spark, sf_dir)
    return lww_dedup(feed, ["conv_id", "turn_idx"], ["lsn"]).select(
        "conv_id", "turn_idx", "op", "lsn", "text"
    )


@query("cdc_lww_final_state", oracle=_ORACLE_FINAL_STATE)
def cdc_lww_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: full CDC replay — the feed materialized as one file
    per commit_epoch (single Spark job), then micro-batched through the
    streaming path (maxFilesPerTrigger=1 → one epoch per batch) into a
    LakeTable via foreachBatch merge. No driver-side `.collect()` of
    epochs anywhere: at the 10^4-batch design point the stream trigger
    is the loop (round 1 filtered the feed once PER epoch — O(epochs)
    full scans). Matches the reference's end state after its
    incremental import loop (SURVEY.md §3.1-3.2)."""
    work = tempfile.mkdtemp(prefix="cdc_q_")
    feed = feed_from_events(spark, sf_dir)
    write_feed_partitions(feed, f"{work}/feed")
    tbl = TranscriptMergeEngine.create_table(spark, f"{work}/t", num_buckets=16)
    engine = TranscriptMergeEngine(tbl)
    run_cdc_stream(
        spark, f"{work}/feed", engine, f"{work}/ckpt", max_files_per_trigger=1
    )
    return engine.current_state().select(*_FINAL_STATE_COLS)


@query("cdc_cow_final_state", oracle=_ORACLE_FINAL_STATE)
def cdc_cow_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COPY-ON-WRITE merge strategy through the same replay and the
    same oracle: fused union+LWW, touched buckets rewritten, reads are
    pure scans (reference's copy-unchanged + swap, operator.py:282-355).
    MoR (cdc_lww_final_state) and CoW must land on identical state —
    both are now driver-gated, not just pytest-asserted."""
    work = tempfile.mkdtemp(prefix="cdc_c_")
    feed = feed_from_events(spark, sf_dir)
    write_feed_partitions(feed, f"{work}/feed")
    tbl = TranscriptMergeEngine.create_table(spark, f"{work}/t", num_buckets=16)
    engine = TranscriptMergeEngine(tbl, mode="cow")
    run_cdc_stream(
        spark, f"{work}/feed", engine, f"{work}/ckpt", max_files_per_trigger=1
    )
    return engine.current_state().select(*_FINAL_STATE_COLS)


@query("cdc_stream_final_state", oracle=_ORACLE_FINAL_STATE)
def cdc_stream_final_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP (streaming): the same replay through Structured
    Streaming — file-source tail, foreachBatch merge, checkpointed,
    restarted once mid-feed to prove resume — then final state."""
    work = tempfile.mkdtemp(prefix="cdc_s_")
    feed = feed_from_events(spark, sf_dir)
    half = feed.filter(F.col("lsn") % 2 == 0)
    rest = feed.filter(F.col("lsn") % 2 == 1)

    tbl = TranscriptMergeEngine.create_table(spark, f"{work}/t", num_buckets=16)
    engine = TranscriptMergeEngine(tbl)
    lineage = LineageWriter(spark, f"{work}/lineage")

    write_feed_partitions(half.withColumn("s", F.lit(0)), f"{work}/feed", "s")
    run_cdc_stream(spark, f"{work}/feed", engine, f"{work}/ckpt", lineage=lineage)
    # stop/restart: new engine instance, more files, same checkpoint
    engine2 = TranscriptMergeEngine(LakeTable(spark, f"{work}/t"), num_buckets=16)
    write_feed_partitions(rest.withColumn("s", F.lit(1)), f"{work}/feed", "s")
    run_cdc_stream(spark, f"{work}/feed", engine2, f"{work}/ckpt", lineage=lineage)
    return engine2.current_state().select(*_FINAL_STATE_COLS)


@query(
    "cdc_incremental_conv_stats",
    oracle=f"""
    WITH feed AS ({feed_sql('duckdb')}),
    r AS (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn FROM feed),
    live AS (SELECT * FROM r WHERE rn = 1 AND op <> 'D')
    SELECT conv_id,
           COUNT(*) AS n_turns,
           CAST(SUM(CASE WHEN role = 'user' THEN 1 ELSE 0 END) AS BIGINT) AS n_user,
           CAST(SUM(CASE WHEN role = 'assistant' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_assistant,
           CAST(SUM(CASE WHEN tool IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_tool_calls,
           CAST(SUM(LENGTH(text)) AS BIGINT) AS total_chars,
           MAX(lsn) AS max_lsn,
           MAX(ts) AS last_ts
    FROM live GROUP BY conv_id
    """,
)
def cdc_incremental_conv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/X6: incrementally-maintained derived aggregate — after each
    merge batch, per-conversation stats are recomputed ONLY for the
    buckets that batch touched (reference: per-part staging freq
    recompute, germline_snv_staging_variant_freq_insert.sql). The
    oracle recomputes from scratch — equality proves the incremental
    maintenance converges."""
    from radiant_portal_pipeline_spark.cdc.analytics import ConversationStats

    work = tempfile.mkdtemp(prefix="cdc_a_")
    feed = feed_from_events(spark, sf_dir)
    write_feed_partitions(feed, f"{work}/feed")
    tbl = TranscriptMergeEngine.create_table(spark, f"{work}/t", num_buckets=16)
    engine = TranscriptMergeEngine(tbl)
    stats = ConversationStats(spark, f"{work}/stats", engine)
    run_cdc_stream(
        spark,
        f"{work}/feed",
        engine,
        f"{work}/ckpt",
        max_files_per_trigger=1,
        # touched buckets only; an epoch-guard-skipped replay refreshes nothing
        on_batch=lambda st: None if st.skipped else stats.refresh(st.parts),
    )
    return stats.read().drop("part")


def table_diff(a: DataFrame, b: DataFrame, keys: list, compare_cols: list) -> DataFrame:
    """Reconciliation operator: one-row summary of how two table states
    differ — keys only in A, only in B, present in both with differing
    payload, and equal — plus per-side DUPLICATE-key counts, because a
    replica carrying a merge key twice is itself the corruption a
    reconciliation tool must surface (a naive row-level full-outer join
    would fan out and report plausible-looking totals). Each side is
    first folded to one row per key (count + an order-independent SUM
    of row fingerprints), so the join carries two longs per key, not
    wide rows, and duplicate payload sets still compare exactly.
    This is the ops tool behind the engine's own correctness criterion
    (final-state equality after replay) — run it against a replica,
    a backfill, or a pre-migration snapshot."""

    def per_key(df):
        fp = F.xxhash64(
            *[
                F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                for c in compare_cols
            ]
        )
        return (
            df.select(*keys, fp.alias("_fp"))
            .groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("_cnt"), F.sum("_fp").alias("_fpsum"))
        )

    joined = per_key(a).alias("a").join(
        per_key(b).alias("b"),
        [F.col(f"a.{k}").eqNullSafe(F.col(f"b.{k}")) for k in keys],
        "full_outer",
    )
    a_present = F.col("a._cnt").isNotNull()
    b_present = F.col("b._cnt").isNotNull()
    same = (
        (F.col("a._fpsum") == F.col("b._fpsum"))
        & (F.col("a._cnt") == F.col("b._cnt"))
    )
    return joined.agg(
        F.sum(F.when(a_present & ~b_present, 1).otherwise(0)).cast("long").alias("n_only_a"),
        F.sum(F.when(~a_present & b_present, 1).otherwise(0)).cast("long").alias("n_only_b"),
        F.sum(
            F.when(a_present & b_present & ~same, 1).otherwise(0)
        ).cast("long").alias("n_differing"),
        F.sum(
            F.when(a_present & b_present & same, 1).otherwise(0)
        ).cast("long").alias("n_equal"),
        F.sum(F.when(F.col("a._cnt") > 1, 1).otherwise(0)).cast("long").alias("n_dup_keys_a"),
        F.sum(F.when(F.col("b._cnt") > 1, 1).otherwise(0)).cast("long").alias("n_dup_keys_b"),
    )


@query(
    "cdc_reconcile_midstream_vs_final",
    oracle=f"""
    WITH feed AS ({feed_sql('duckdb')}),
    ra AS (SELECT *, ROW_NUMBER() OVER (
             PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
           FROM feed WHERE commit_epoch <= 2),
    sa AS (SELECT conv_id, turn_idx, text, lsn FROM ra WHERE rn = 1 AND op <> 'D'),
    rb AS (SELECT *, ROW_NUMBER() OVER (
             PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
           FROM feed),
    sb AS (SELECT conv_id, turn_idx, text, lsn FROM rb WHERE rn = 1 AND op <> 'D')
    SELECT
      CAST(SUM(CASE WHEN sb.conv_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_only_a,
      CAST(SUM(CASE WHEN sa.conv_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_only_b,
      CAST(SUM(CASE WHEN sa.conv_id IS NOT NULL AND sb.conv_id IS NOT NULL
                AND (sa.text <> sb.text OR sa.lsn <> sb.lsn) THEN 1 ELSE 0 END)
           AS BIGINT) AS n_differing,
      CAST(SUM(CASE WHEN sa.conv_id IS NOT NULL AND sb.conv_id IS NOT NULL
                AND sa.text = sb.text AND sa.lsn = sb.lsn THEN 1 ELSE 0 END)
           AS BIGINT) AS n_equal,
      CAST(0 AS BIGINT) AS n_dup_keys_a,
      CAST(0 AS BIGINT) AS n_dup_keys_b
    FROM sa FULL OUTER JOIN sb
      ON sa.conv_id = sb.conv_id AND sa.turn_idx = sb.turn_idx
    """,
)
def cdc_reconcile_midstream_vs_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconciliation through the REAL engine: replay epochs 0-2 into
    one table, the whole feed into another, then table_diff the two
    live states — keys deleted late show up as only_a, keys created
    late as only_b, keys updated late as differing. The oracle
    recomputes all four counts from the feed with window LWW."""
    work = tempfile.mkdtemp(prefix="cdc_r_")
    feed = feed_from_events(spark, sf_dir)
    ta = TranscriptMergeEngine.create_table(spark, f"{work}/a", num_buckets=16)
    ea = TranscriptMergeEngine(ta)
    ea.merge_batch(feed.filter(F.col("commit_epoch") <= 2), epoch=0)
    tb = TranscriptMergeEngine.create_table(spark, f"{work}/b", num_buckets=16)
    eb = TranscriptMergeEngine(tb)
    eb.merge_batch(feed, epoch=0)
    return table_diff(
        ea.current_state(),
        eb.current_state(),
        keys=["conv_id", "turn_idx"],
        compare_cols=["text", "lsn"],
    )


_EVOLVE_LSN = 5000  # additive columns appear from this lsn on


@query(
    "cdc_schema_evolution_state",
    oracle=f"""
    WITH feed AS ({feed_sql('duckdb')}),
    evolved AS (
      SELECT *,
             CASE WHEN lsn >= {_EVOLVE_LSN} THEN 'm-2' END AS meta_model,
             CASE WHEN lsn >= {_EVOLVE_LSN}
                  THEN CAST(lsn % 512 AS INTEGER) END AS meta_tokens
      FROM feed),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
      FROM evolved)
    SELECT conv_id, turn_idx, text, lsn, meta_model, meta_tokens
    FROM ranked WHERE rn = 1 AND op <> 'D'
    """,
)
def cdc_schema_evolution_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§1.2 / ST-evolution END-TO-END through the engine: the first
    batch carries the original schema; the second adds meta_model /
    meta_tokens columns mid-stream. The table schema evolves additively
    before the merge (reference: columns 'laid in' by migrations,
    SJRA-1751), pre-evolution winners read back NULL for the new
    columns, and post-evolution LWW winners carry them — all of which
    the pure-SQL oracle recomputes independently."""
    work = tempfile.mkdtemp(prefix="cdc_e_")
    feed = feed_from_events(spark, sf_dir)
    early = feed.filter(F.col("lsn") < _EVOLVE_LSN)
    late = (
        feed.filter(F.col("lsn") >= _EVOLVE_LSN)
        .withColumn("meta_model", F.lit("m-2"))
        .withColumn("meta_tokens", (F.col("lsn") % 512).cast("int"))
    )
    tbl = TranscriptMergeEngine.create_table(spark, f"{work}/t", num_buckets=16)
    engine = TranscriptMergeEngine(tbl)
    engine.merge_batch(early, epoch=0)
    engine.merge_batch(late, epoch=1)  # schema widens here
    return engine.current_state().select(
        "conv_id", "turn_idx", "text", "lsn", "meta_model", "meta_tokens"
    )


@query(
    "cdc_delta_vs_state",
    oracle=f"""
    WITH feed AS ({feed_sql('duckdb')}),
    state AS (SELECT DISTINCT conv_id, turn_idx FROM feed WHERE commit_epoch = 0)
    SELECT f.conv_id, f.turn_idx, f.lsn
    FROM feed f ANTI JOIN state s
      ON f.conv_id = s.conv_id AND f.turn_idx = s.turn_idx
    """,
)
def cdc_delta_vs_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST1/J1: change-capture anti-join — new feed rows whose key is
    absent from already-ingested state (the delta view,
    staging_sequencing_experiment_delta_create_table.sql:2-12)."""
    feed = feed_from_events(spark, sf_dir)
    state = (
        feed.filter(F.col("commit_epoch") == 0)
        .select("conv_id", "turn_idx")
        .distinct()
    )
    return feed.join(state, ["conv_id", "turn_idx"], "left_anti").select(
        "conv_id", "turn_idx", "lsn"
    )


@query(
    "cdc_tombstone_counts",
    oracle=f"""
    WITH feed AS ({feed_sql('duckdb')}),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
      FROM feed)
    SELECT conv_id,
           COUNT(*) AS n_turns,
           CAST(SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_tombstones
    FROM ranked WHERE rn = 1 GROUP BY conv_id
    """,
)
def cdc_tombstone_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ST3: delete propagation — per conversation, how many keys ended
    deleted vs live after replay (run through the real engine,
    including tombstone rows)."""
    work = tempfile.mkdtemp(prefix="cdc_t_")
    feed = feed_from_events(spark, sf_dir)
    tbl = TranscriptMergeEngine.create_table(spark, f"{work}/t", num_buckets=16)
    engine = TranscriptMergeEngine(tbl)
    engine.merge_batch(feed, epoch=0)
    return (
        engine.raw_state()  # post-LWW rows INCLUDING tombstones
        .groupBy("conv_id")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.when(F.col("_deleted"), 1).otherwise(0)).alias("n_tombstones"),
        )
    )


_QUARANTINE_ORACLE = f"""
    WITH feed AS ({feed_sql('duckdb')}),
    contaminated AS (
      SELECT CASE WHEN lsn % 97 = 0 THEN NULL ELSE conv_id END AS conv_id,
             turn_idx, role, text, tool, ts, op, commit_epoch,
             CASE WHEN lsn % 97 = 13 THEN NULL ELSE lsn END AS lsn
      FROM feed),
    bad AS (
      SELECT CASE WHEN conv_id IS NULL THEN 'null_merge_key'
                  ELSE 'null_lsn' END AS reason, commit_epoch
      FROM contaminated WHERE conv_id IS NULL OR lsn IS NULL),
    clean AS (
      SELECT * FROM contaminated
      WHERE conv_id IS NOT NULL AND lsn IS NOT NULL),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS rn
      FROM clean),
    state AS (SELECT * FROM ranked WHERE rn = 1 AND op <> 'D')
    SELECT 'quarantine_null_merge_key' AS metric,
           CAST(COUNT(*) AS BIGINT) AS value
      FROM bad WHERE reason = 'null_merge_key'
    UNION ALL SELECT 'quarantine_null_lsn', CAST(COUNT(*) AS BIGINT)
      FROM bad WHERE reason = 'null_lsn'
    UNION ALL SELECT 'quarantine_epochs_with_bad',
           CAST(COUNT(DISTINCT commit_epoch) AS BIGINT) FROM bad
    UNION ALL SELECT 'state_rows', CAST(COUNT(*) AS BIGINT) FROM state
    UNION ALL SELECT 'state_distinct_convs',
           CAST(COUNT(DISTINCT conv_id) AS BIGINT) FROM state
    UNION ALL SELECT 'state_lsn_sum', CAST(SUM(lsn) AS BIGINT) FROM state
    UNION ALL SELECT 'state_text_chars',
           CAST(SUM(LENGTH(text)) AS BIGINT) FROM state
"""


@query("cdc_quarantine_dead_letter", oracle=_QUARANTINE_ORACLE)
def cdc_quarantine_dead_letter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 dead-letter path, externally adjudicated (round-4 verdict
    'what's missing' #2): the feed is deterministically contaminated
    (every lsn%97==0 event loses its merge key, every lsn%97==13 event
    its lsn), replayed through the streaming path with a quarantine
    table attached, and epoch 0 is then RE-APPLIED verbatim (the crash
    -replay shape). The digest the oracle recomputes covers both
    sides of the split: per-reason quarantine counts + how many epochs
    carried bad rows (a replayed epoch quarantining twice would break
    the epoch count and double the reason counts) AND the merged final
    state built from only the clean remainder (rows, distinct convs,
    lsn sum, text mass). Reference analog: malformed records are
    logged and skipped by the extraction pods rather than failing the
    import (SURVEY.md P4)."""
    work = tempfile.mkdtemp(prefix="cdc_dl_")
    feed = feed_from_events(spark, sf_dir)
    contaminated = feed.withColumn(
        "conv_id",
        F.when(F.col("lsn") % 97 == 0, F.lit(None)).otherwise(F.col("conv_id")),
    ).withColumn(
        "lsn",
        F.when(F.col("lsn") % 97 == 13, F.lit(None).cast("long")).otherwise(
            F.col("lsn")
        ),
    )
    write_feed_partitions(contaminated, f"{work}/feed")
    tbl = TranscriptMergeEngine.create_table(spark, f"{work}/t", num_buckets=16)
    qt = TranscriptMergeEngine.create_quarantine_table(spark, f"{work}/q")
    engine = TranscriptMergeEngine(tbl, quarantine=qt)
    run_cdc_stream(
        spark, f"{work}/feed", engine, f"{work}/ckpt", max_files_per_trigger=1
    )
    # replay epoch 0 verbatim: the applied-epoch guard must leave BOTH
    # tables untouched (double-quarantine would show in every count)
    engine.merge_batch(
        contaminated.filter(F.col("commit_epoch") == 0), epoch=0
    )
    bad = qt.read()
    state = engine.current_state()

    def one(metric: str, df: DataFrame) -> DataFrame:
        return df.select(F.lit(metric).alias("metric"),
                         F.col("v").cast("long").alias("value"))

    return (
        one("quarantine_null_merge_key",
            bad.filter(F.col("_reason") == "null_merge_key")
            .agg(F.count(F.lit(1)).alias("v")))
        .unionAll(one("quarantine_null_lsn",
                      bad.filter(F.col("_reason") == "null_lsn")
                      .agg(F.count(F.lit(1)).alias("v"))))
        .unionAll(one("quarantine_epochs_with_bad",
                      bad.agg(F.countDistinct("commit_epoch").alias("v"))))
        .unionAll(one("state_rows", state.agg(F.count(F.lit(1)).alias("v"))))
        .unionAll(one("state_distinct_convs",
                      state.agg(F.countDistinct("conv_id").alias("v"))))
        .unionAll(one("state_lsn_sum", state.agg(F.sum("lsn").alias("v"))))
        .unionAll(one("state_text_chars",
                      state.agg(F.sum(F.length("text")).alias("v"))))
    )


# ONE constant ties the gated WAL query to its oracle — editing the
# event count in only one place would silently fail the gate on a
# value-hash mismatch (round-5 review)
_WAL_GATE_EVENTS = 12_000


def _wal_partitioned_oracle() -> str:
    from radiant_portal_pipeline_spark.cdc.wal_source import wal_oracle_sql

    return wal_oracle_sql(_WAL_GATE_EVENTS)


@query("cdc_wal_partitioned_state", oracle=_wal_partitioned_oracle())
def cdc_wal_partitioned_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1 (round 5): the PARTITION-PARALLEL WAL source, externally
    adjudicated. A 4-shard WAL of 12,000 change events (striped lsn
    space, per-shard record offsets, executor-side range reads —
    cdc/wal_partitioned.py, the full DataSourceStreamReader contract)
    drains through the streaming merge loop; the DuckDB oracle
    recomputes the final LWW state from the WAL arithmetic alone —
    independent of every Spark code path. The source IS the generator,
    so this query is sf-independent by construction (the other cdc_*
    queries cover the sf-scaled events-table feed)."""
    from radiant_portal_pipeline_spark.cdc.wal_partitioned import (
        wal_partitioned_readstream,
    )

    work = tempfile.mkdtemp(prefix="cdc_wp_")
    tbl = TranscriptMergeEngine.create_table(spark, f"{work}/t", num_buckets=16)
    engine = TranscriptMergeEngine(tbl, num_buckets=16)
    run_cdc_stream(
        spark, None, engine, f"{work}/ckpt",
        source_df=wal_partitioned_readstream(
            spark, n_events=_WAL_GATE_EVENTS, n_shards=4, batch_size=1_000
        ),
    )
    return engine.current_state().select("conv_id", "turn_idx", "text", "lsn")
