"""Incremental derived aggregates over the transcript sink — the
reference's partial→final frequency design (SURVEY.md §2.4 A3 / §4 X6:
per-part staging freq tables recomputed only for touched parts, then a
cheap global rollup — germline_snv_staging_variant_freq_insert.sql →
germline_snv_variant_frequency_insert.sql).

``ConversationStats`` maintains a stats LakeTable partitioned by the
same conv-hash bucket as the sink. After each applied merge batch,
``refresh(parts)`` recomputes per-conversation aggregates ONLY for the
touched buckets (partition-pruned read, partition-scoped overwrite).
``global_rollup()`` folds the per-bucket partials — at 10^10 rows the
rollup reads ~buckets × conversations/bucket pre-aggregated rows, never
the raw turns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from radiant_portal_pipeline_spark.cdc import schemas as S
from radiant_portal_pipeline_spark.cdc.merge import TranscriptMergeEngine
from radiant_portal_pipeline_spark.lake import LakeTable

STATS_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("part", T.IntegerType(), False),
        T.StructField("n_turns", T.LongType(), True),
        T.StructField("n_user", T.LongType(), True),
        T.StructField("n_assistant", T.LongType(), True),
        T.StructField("n_tool_calls", T.LongType(), True),
        T.StructField("total_chars", T.LongType(), True),
        T.StructField("max_lsn", T.LongType(), True),
        T.StructField("last_ts", T.TimestampNTZType(), True),
    ]
)


class ConversationStats:
    def __init__(self, spark: SparkSession, path: str, engine: TranscriptMergeEngine):
        self.engine = engine
        if LakeTable.exists(path):
            self.table = LakeTable(spark, path)
        else:
            self.table = LakeTable.create(spark, path, STATS_SCHEMA, S.PART_COL)

    def _aggregate(self, live: DataFrame) -> DataFrame:
        return live.groupBy("conv_id", S.PART_COL).agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum(F.when(F.col("role") == "user", 1).otherwise(0)).alias("n_user"),
            F.sum(F.when(F.col("role") == "assistant", 1).otherwise(0)).alias(
                "n_assistant"
            ),
            F.sum(F.when(F.col("tool").isNotNull(), 1).otherwise(0)).alias(
                "n_tool_calls"
            ),
            F.sum(F.length("text")).alias("total_chars"),
            F.max(S.LSN_COL).alias("max_lsn"),
            F.max("ts").alias("last_ts"),
        )

    def refresh(self, parts: list | None = None) -> None:
        """Recompute stats for ``parts`` only (None = all). The read is
        manifest-pruned to those buckets; untouched buckets keep their
        rows — the reference's 'recompute only the touched part'."""
        if parts is not None and not parts:
            return
        state = self.engine.raw_state(partitions=parts)
        agg = self._aggregate(state.filter(~F.col(S.DELETED_COL)))
        self.table.overwrite_partitions(
            agg, also_replace=list(parts) if parts is not None else self.table.partitions()
        )

    def read(self) -> DataFrame:
        return self.table.read()

    def global_rollup(self) -> DataFrame:
        """Final aggregation over the per-bucket partials only."""
        return self.table.read().agg(
            F.count(F.lit(1)).alias("n_conversations"),
            F.sum("n_turns").alias("n_turns"),
            F.sum("n_tool_calls").alias("n_tool_calls"),
            F.sum("total_chars").alias("total_chars"),
            F.max("max_lsn").alias("max_lsn"),
        )
