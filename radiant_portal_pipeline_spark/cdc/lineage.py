"""Per-batch, per-partition lineage / metrics emission (FIXTURES.md F3/F4).

The reference emits OTel spans around each pipeline phase
(radiant/tasks/tracing/trace.py:1-27) and advances an ``ingested_at``
watermark post-run. Here every applied micro-batch appends one row per
touched partition to a lineage LakeTable: applied-LSN watermark, MERGE
row counts, and merge latency — queryable like any other table and
itself transactional.

Row-count semantics per (batch, bucket):
- ``rows_inserted``  — keys newly created by the batch
- ``rows_updated``   — keys whose winner changed to a batch row
- ``rows_deleted``   — keys tombstoned by the batch
In MoR the pre-image isn't read on the write path (that's the point),
so the split comes from a manifest-pruned anti-join of the batch's keys
against the PRIOR snapshot of only the touched buckets — still
partition-pruned, still no full-table scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from radiant_portal_pipeline_spark.cdc import schemas as S
from radiant_portal_pipeline_spark.lake import LakeTable

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("batch_id", T.LongType(), False),
        T.StructField("part_bucket", T.IntegerType(), False),
        T.StructField("applied_lsn_watermark", T.LongType(), True),
        T.StructField("rows_inserted", T.LongType(), True),
        T.StructField("rows_updated", T.LongType(), True),
        T.StructField("rows_deleted", T.LongType(), True),
        T.StructField("merge_ms", T.DoubleType(), True),
        # resolved physical merge plan + the adaptive chooser's reason,
        # e.g. "argmax_broadcast(dup_share~0.5012, est_keys~5970<=2000000)"
        # — the audit trail for per-batch plan selection (SURVEY ST9)
        T.StructField("plan", T.StringType(), True),
        # which change source produced the batch — the tombstone-GC
        # low-watermark takes the MIN across sources of each source's
        # max applied LSN (a lagging source must keep guards alive)
        T.StructField("source_id", T.StringType(), True),
    ]
)


class LineageWriter:
    def __init__(self, spark: SparkSession, path: str):
        if LakeTable.exists(path):
            self.table = LakeTable(spark, path)
        else:
            self.table = LakeTable.create(spark, path, LINEAGE_SCHEMA, "part_bucket")
        self.spark = spark

    def record(
        self,
        batch_id: int,
        sink: LakeTable,
        prepared_batch: DataFrame,
        parts: list,
        seconds: float,
        prior_version: int,
        key_cols: list[str],
        lsn_col: str = S.LSN_COL,
        plan: str = "",
        source_id: str = "",
    ) -> None:
        """Append watermarks + I/U/D counts for the touched partitions.

        ``prepared_batch`` is the LWW-deduped batch (with part +
        tombstone columns); the pre-image for the I/U split is the
        sink's PRIOR snapshot version, read partition-pruned."""
        if not parts:
            return
        # distinct: a MoR snapshot can hold multiple versions per key
        pre = (
            sink.read(partitions=parts, version=prior_version)
            .select(*key_cols)
            .distinct()
            .withColumn("_existed", F.lit(True))
        )
        wm = (
            prepared_batch.join(pre, key_cols, "left")
            .groupBy(F.col(S.PART_COL).alias("part_bucket"))
            .agg(
                F.max(lsn_col).alias("applied_lsn_watermark"),
                F.sum(
                    F.when(
                        F.col("_existed").isNull() & ~F.col(S.DELETED_COL), 1
                    ).otherwise(0)
                ).alias("rows_inserted"),
                F.sum(
                    F.when(
                        F.col("_existed").isNotNull() & ~F.col(S.DELETED_COL), 1
                    ).otherwise(0)
                ).alias("rows_updated"),
                F.sum(F.when(F.col(S.DELETED_COL), 1).otherwise(0)).alias(
                    "rows_deleted"
                ),
            )
            .select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                "part_bucket",
                "applied_lsn_watermark",
                "rows_inserted",
                "rows_updated",
                "rows_deleted",
                F.lit(float(seconds) * 1000.0).alias("merge_ms"),
                F.lit(plan).alias("plan"),
                F.lit(source_id).alias("source_id"),
            )
        )
        self.table.append(wm)

    def read(self) -> DataFrame:
        return self.table.read()

    def safe_purge_watermark(self, ooo_window: int) -> int | None:
        """The tombstone-GC low-watermark, derived from lineage: no
        future event can carry an LSN below
        ``min over sources of max(applied_lsn_watermark) - ooo_window``
        (the source contract bounds displacement to ooo_window
        positions; a lagging source holds the watermark back). Passing
        the result to ``compact(purge_tombstones_below=...)`` GCs only
        guards nothing can ever need again (reference analog: the final
        DELETE of flagged-deleted rows once the run protocol guarantees
        no stragglers, sequencing_experiment_delete.sql:1-2). Returns
        None when lineage is empty (nothing applied -> nothing safe)."""
        row = (
            self.table.read()
            .groupBy("source_id")
            .agg(F.max("applied_lsn_watermark").alias("mx"))
            .agg(F.min("mx").alias("wm"))
            .head()
        )
        if row is None or row["wm"] is None:
            return None
        return int(row["wm"]) - int(ooo_window)

    def applied_epochs(self, sink: LakeTable, source_id: str) -> DataFrame:
        """F3 view: epochs applied to the sink with max applied LSN per
        epoch (from the lineage rows) + the snapshot guard value."""
        lin = self.table.read()
        guard = sink.snapshot().applied.get(source_id, -1)
        return (
            lin.groupBy("batch_id")
            .agg(F.max("applied_lsn_watermark").alias("max_lsn"))
            .select(
                F.col("batch_id").alias("commit_epoch"),
                "max_lsn",
                F.col("batch_id").alias("applied_at_batch"),
                F.lit(guard).alias("sink_epoch_guard"),
            )
        )
