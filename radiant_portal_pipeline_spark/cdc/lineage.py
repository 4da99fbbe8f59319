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
so the split comes after the commit: the batch's committed rows and the
keys of the PRIOR snapshot's touched buckets (partition-pruned, no
full-table scan) are unioned and shuffled once by bucket, then counted
per key and per bucket.

A fresh lineage table is partitioned by ``batch_id``, so each applied
batch lands as ONE file. Tables created with ``part_bucket``
partitioning keep that layout; the same append serves both.
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
        # the merge's LWW operator (MergeStats.plan, "lww_window");
        # older rows hold the per-batch plan choice of earlier engines
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
            self.table = LakeTable.create(spark, path, LINEAGE_SCHEMA, "batch_id")
        self.spark = spark

    def record(
        self,
        batch_id: int,
        sink: LakeTable,
        prepared_batch: DataFrame,
        parts: list,
        seconds: float,
        prior_version: int,
        plan: str = "",
        source_id: str = "",
    ) -> None:
        """Append watermarks + I/U/D counts for the touched partitions.

        ``prepared_batch`` holds the batch's rows as committed (part,
        key, lsn and tombstone columns); the per-key fold below also
        takes several rows of one key, keeping the highest lsn's op. The
        pre-image is the sink's PRIOR snapshot version of the touched
        buckets. One exchange: both sides are repartitioned by bucket,
        the per-key and per-bucket aggregations reuse that partitioning,
        and the single output partition is written as one append."""
        if not parts:
            return
        keys = [S.PART_COL, *S.KEY_COLS]
        new = prepared_batch.select(
            *keys,
            F.col(S.LSN_COL).alias("_lsn"),
            F.col(S.DELETED_COL).alias("_del"),
            F.lit(False).alias("_old"),
        )
        # the prior snapshot may hold several versions (and tombstones)
        # per key: any of them makes the key "existed"
        old = sink.read(partitions=parts, version=prior_version).select(
            *keys,
            F.lit(None).cast("long").alias("_lsn"),
            F.lit(None).cast("boolean").alias("_del"),
            F.lit(True).alias("_old"),
        )
        per_key = (
            new.unionByName(old)
            .repartition(F.col(S.PART_COL))
            .groupBy(*keys)
            .agg(
                F.max("_lsn").alias("_lsn"),  # NULL: key not in the batch
                F.max_by("_del", "_lsn").alias("_del"),  # the winner's op
                F.max("_old").alias("_existed"),
            )
            .filter(F.col("_lsn").isNotNull())
        )
        wm = (
            per_key.groupBy(S.PART_COL)
            .agg(
                F.max("_lsn").alias("applied_lsn_watermark"),
                F.sum((~F.col("_existed") & ~F.col("_del")).cast("long")).alias(
                    "rows_inserted"
                ),
                F.sum((F.col("_existed") & ~F.col("_del")).cast("long")).alias(
                    "rows_updated"
                ),
                F.sum(F.col("_del").cast("long")).alias("rows_deleted"),
            )
            .select(
                F.lit(batch_id).cast("long").alias("batch_id"),
                F.col(S.PART_COL).alias("part_bucket"),
                "applied_lsn_watermark",
                "rows_inserted",
                "rows_updated",
                "rows_deleted",
                F.lit(float(seconds) * 1000.0).alias("merge_ms"),
                F.lit(plan).alias("plan"),
                F.lit(source_id).alias("source_id"),
            )
        )
        self.table.append(wm.coalesce(1), layout_ready=True)

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
