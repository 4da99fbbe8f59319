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
   (reference W1 row_number pattern) as a hash aggregate with map-side
   partial combine, so hot conversations reduce before the shuffle,
   then a semi join back to the winning rows. Per batch the adaptive
   default picks ``append_only``, ``argmax_broadcast`` or shuffled
   ``argmax`` (see ``_choose_plan``); argmax-ineligible schemas take
   ``FALLBACK_PLAN``.
3. **Partition pruning** — ``part = pmod(xxhash64(conv_id), buckets)``;
   only partitions present in the batch are touched.
4. **Deletes** become tombstones (``_deleted = true``) that keep their
   lsn, so an out-of-order lower-lsn update in a later batch cannot
   resurrect a deleted key (reference ST3/ST7).
5. **Additive schema evolution** — new payload columns in the batch are
   appended to the table schema before the merge (reference §1.2).
6. **Lineage** — per-partition applied-LSN watermarks, row counts and
   merge latency (reference ST2 / OTel spans).

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

Scale notes: the only shuffles are the LWW hash aggregation and the
write repartition by bucket; both are keyed on the hashed conversation
id so they stay balanced under conversation skew. Bucket count should
scale with cluster size (64 here; thousands at 1000 executors).
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

# adaptive chooser constants (see _choose_plan)
_DUP_SHARE_THRESHOLD = 0.03  # below: insert-dominant batch -> append_only
_CHOOSER_RSD = 0.02  # HLL relative error of the distinct-key estimate
# plan label for schemas the argmax plans cannot serve (map payloads,
# multi-column ordering): lww_dedup(via="auto") + layout repartition
FALLBACK_PLAN = "fallback"


@dataclass
class MergeStats:
    epoch: int
    skipped: bool
    parts_touched: int = 0
    parts: list = None
    seconds: float = 0.0
    plan: str = ""  # physical plan actually used (adaptive resolves per batch)


def part_expr(conv_col: str, num_buckets: int):
    return F.pmod(F.xxhash64(F.col(conv_col)), F.lit(num_buckets)).cast("int")


class TranscriptMergeEngine:
    def __init__(
        self,
        table: LakeTable,
        num_buckets: int | None = None,
        source_id: str = "cdc",
        key_cols: tuple[str, ...] = S.KEY_COLS,
        lsn_col: str = S.LSN_COL,
        mode: str = "mor",
        lineage=None,
        merge_plan: str = "adaptive",
        broadcast_max_winners: int = 2_000_000,
        quarantine: "LakeTable | None" = None,
        compact_broadcast_min_bytes: int = 256 << 20,
    ):
        if mode not in ("mor", "cow"):
            raise ValueError(f"unknown merge mode {mode!r}")
        if merge_plan not in ("adaptive", "argmax", "argmax_broadcast", "append_only"):
            raise ValueError(f"unknown merge_plan {merge_plan!r}")
        if merge_plan == "append_only" and mode != "mor":
            raise ValueError(
                "append_only elides the write-path dedup, which is only "
                "correct under MoR read-side LWW — copy-on-write must fold"
            )
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
        self.key_cols = list(key_cols)
        self.lsn_col = lsn_col
        self.mode = mode
        self.merge_plan = merge_plan
        self.lineage = lineage  # optional LineageWriter (cdc.lineage)
        # adaptive chooser: estimated winners above this bound take the
        # shuffled argmax instead of broadcasting them
        self.broadcast_max_winners = int(broadcast_max_winners)
        # compact(): minimum manifest-recorded fold size before the
        # broadcast-upgrade estimator runs (see compact) — small folds
        # are fixed-cost-bound and keep the estimator-free plan
        self.compact_broadcast_min_bytes = int(compact_broadcast_min_bytes)
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
            # lsn/ts/turn-range read opens only intersecting files) +
            # split manifests (per-bucket content-addressed blobs:
            # commits rewrite O(touched buckets) manifest bytes, pruned
            # reads load only their buckets' manifests — the layout
            # that survives 10^6 files)
            properties={
                "num_buckets": num_buckets,
                "stats_cols": [S.LSN_COL, "turn_idx", "ts"],
                "manifest_split": True,
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
                sum(F.col(c).isNull().cast("int") for c in self.key_cols) > 0,
                F.lit("null_merge_key"),
            )
            .when(F.col(self.lsn_col).isNull(), F.lit("null_lsn"))
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

    def _choose_plan(self, df: DataFrame) -> tuple[str, str]:
        """Resolve ``merge_plan="adaptive"`` for ONE batch. Returns
        (plan, reason) — the reason goes to lineage so operators can
        audit choices.

        Schemas the argmax plans cannot serve (map payload columns)
        take ``FALLBACK_PLAN``. Every other batch takes an argmax plan:
        measured (BENCH.md plan table), argmax dominates the max-struct
        plans at every (parallelism, skew, dup-ratio) cell — it is
        all-hash (a struct aggregation buffer forces SortAggregate),
        its winners exchange carries only keys+lsn with a map-side
        partial combine, and its full-row exchange is keyed on
        (keys, lsn) — unique per row, so a hot conversation spreads
        uniformly with no salting.

        Under MoR one FULL-COVERAGE estimator job decides between the
        argmax variants: n rows + HLL distinct keys (approx_count_distinct
        over xxhash64(keys) at rsd=_CHOOSER_RSD — map-side partial
        sketches, one tiny exchange, a thin columnar scan; no key-wise
        shuffle). HLL sees EVERY key, so duplicate mass concentrated in
        a handful of hot keys is detected deterministically. Both
        estimates are deterministic per batch content, so replays
        choose the same plan. Pin ``merge_plan`` to skip the estimator
        on a known feed.

        - dup_share < _DUP_SHARE_THRESHOLD (insert-dominant) ->
          append_only: skip the write-path dedup entirely. MoR
          read-side LWW + compaction already guarantee the same read
          results; eliding measures ~40% faster on a 16M-row
          all-new-keys batch (BENCH.md). A wrong borderline guess costs
          bounded storage until compact, never correctness.
        - est distinct keys <= broadcast_max_winners ->
          argmax_broadcast: the winners (keys+lsn) ship to every task
          and the batch's FULL ROWS move through ZERO exchanges before
          the layout repartition.
        - else -> shuffled argmax (winners too big to broadcast).

        CoW folds the batch with every existing key of the touched
        buckets, so batch-scale estimates do not apply: shuffled argmax.
        """
        from radiant_portal_pipeline_spark.cdc.dedup import argmax_eligible

        if not argmax_eligible(df, [S.PART_COL, *self.key_cols], [self.lsn_col]):
            return FALLBACK_PLAN, "argmax_ineligible"
        if self.mode == "mor":
            row = self._estimate_batch(df)
            if row is not None and row["n"]:
                dup_share = max(0.0, 1.0 - row["nk"] / row["n"])
                if dup_share < _DUP_SHARE_THRESHOLD:
                    return (
                        "append_only",
                        f"dup_share~{dup_share:.4f}<"
                        f"{_DUP_SHARE_THRESHOLD} (insert-dominant)",
                    )
                if row["nk"] <= self.broadcast_max_winners:
                    return (
                        "argmax_broadcast",
                        f"dup_share~{dup_share:.4f}, est_keys~{row['nk']}"
                        f"<={self.broadcast_max_winners}",
                    )
                return "argmax", f"est_keys~{row['nk']}>{self.broadcast_max_winners}"
        return "argmax", "argmax_eligible"

    def _estimate_batch(self, df: DataFrame):
        """The chooser's one full-coverage estimator job: row count +
        HLL distinct keys (shared by the adaptive chooser and compact's
        broadcast upgrade)."""
        return df.agg(
            F.count(F.lit(1)).alias("n"),
            F.approx_count_distinct(
                F.xxhash64(*self.key_cols), _CHOOSER_RSD
            ).alias("nk"),
        ).head()

    def _dedup_and_layout(
        self, df: DataFrame, keys, order_cols, plan: str | None = None
    ) -> DataFrame:
        """LWW + write layout, per ``merge_plan``.

        ``argmax`` (default via adaptive): hash-agg max(lsn) per key
        (exchange carries keys+lsn ONLY, map-side partial combine),
        shuffled-hash LEFT SEMI join back (full-row exchange keyed on
        keys+lsn — unique per row, so hot conversations spread
        uniformly), partition-local distinct for verbatim replays (its
        exchange elides under the subset rule), then repartition the
        deduped output by bucket for the write. Zero sorts.

        ``argmax_broadcast``: the same with the winners broadcast, so
        the semi join is a BroadcastHashJoin and the batch's full rows
        reach the layout repartition through no exchange at all.

        ``append_only`` (MoR only): no write-path dedup; read-side LWW
        resolves duplicates and ``compact()`` folds them.

        ``FALLBACK_PLAN`` (argmax-ineligible schemas): ``lww_dedup``
        with ``via="auto"`` — max-struct for orderable payloads, the
        window plan for map-bearing ones — then the layout
        repartition."""
        plan = plan or self.merge_plan
        if plan == "adaptive":  # callers resolve per batch; stay safe here
            from radiant_portal_pipeline_spark.cdc.dedup import argmax_eligible

            plan = (
                "argmax" if argmax_eligible(df, keys, order_cols) else FALLBACK_PLAN
            )
        if plan == "append_only":
            return df.repartition(self.num_buckets, F.col(S.PART_COL))
        if plan in ("argmax", "argmax_broadcast"):
            from radiant_portal_pipeline_spark.cdc.dedup import argmax_winner_rows

            # layout repartition BETWEEN the semi join and the verbatim-
            # replay distinct: the distinct's ClusteredDistribution is
            # then satisfied by hashpartitioning(part) (subset rule), so
            # it runs partition-local with NO exchange of its own — the
            # null-safe join's coalesce-keyed output partitioning would
            # otherwise force one. In the broadcast variant the semi
            # join is a BroadcastHashJoin, so the batch's full rows
            # reach this repartition WITHOUT any prior exchange — and
            # the repartition itself carries only the already-deduped
            # winners, typically a small fraction of the raw batch.
            rows = argmax_winner_rows(
                df, keys, order_cols[0], broadcast=(plan == "argmax_broadcast")
            )
            laid = rows.repartition(self.num_buckets, F.col(S.PART_COL))
            return laid.dropDuplicates().select(*df.columns)
        deduped = lww_dedup(df, keys, order_cols)
        return deduped.repartition(self.num_buckets, F.col(S.PART_COL))

    def _prepare_batch(self, batch: DataFrame) -> tuple[DataFrame, str, str]:
        """LWW-dedup the batch, fold op -> tombstone flag, add bucket,
        lay out for the partitioned write (see _dedup_and_layout).
        Returns (prepared, plan, reason) — plan is the resolved
        physical strategy (adaptive picks per batch).

        The envelope is slimmed BEFORE the aggregation: ``op`` folds to
        the 1-byte tombstone flag and ``commit_epoch`` is dropped
        up-front, so neither travels through the aggregation exchange
        (they used to ride both exchanges and be dropped at the end —
        dead bytes on the wire, and exchange bytes are the scaling
        ceiling on a memory-bandwidth-bound node)."""
        # data contract: merge keys and lsn must be non-null. Enforced
        # inside the plan (raise_error branch) — no extra pass; the
        # first violating row fails the batch with a clear message.
        key_ok = F.lit(True)
        for c in (*self.key_cols, self.lsn_col):
            key_ok = key_ok & F.col(c).isNotNull()
        checked_part = F.when(
            key_ok, part_expr(self.key_cols[0], self.num_buckets)
        ).otherwise(
            F.raise_error(
                F.lit(
                    f"CDC batch contains NULL in a key column "
                    f"({', '.join(self.key_cols)}, {self.lsn_col})"
                )
            ).cast("int")
        )
        slim = (
            batch.withColumn(S.PART_COL, checked_part)
            .withColumn(S.DELETED_COL, (F.col("op") == F.lit("D")))
            .drop("op", "commit_epoch")
        )
        plan, reason = self.merge_plan, "static"
        if plan == "adaptive":
            plan, reason = self._choose_plan(slim)
        deduped = self._dedup_and_layout(
            slim, [S.PART_COL, *self.key_cols], [self.lsn_col], plan=plan
        )
        return deduped, plan, reason

    def merge_batch(self, batch: DataFrame, epoch: int) -> MergeStats:
        """Apply one micro-batch under ``epoch`` (a replayed epoch is a
        no-op that returns ``skipped=True``)."""
        t0 = time.time()
        snap = self.table.snapshot()
        if snap.applied.get(self.source_id, -1) >= epoch:
            return MergeStats(epoch=epoch, skipped=True)

        if self.quarantine is not None:
            batch = self._split_quarantine(batch, epoch)
        prepared, plan, plan_reason = self._prepare_batch(batch)
        lineage_checkpointed = self.lineage is not None
        if lineage_checkpointed:
            prepared = prepared.localCheckpoint(eager=True)

        if self.mode == "mor":
            # append-only write path: no existing data read or rewritten
            result = self.table.append(
                prepared, source_id=self.source_id, epoch=epoch, layout_ready=True
            )
            parts = [int(p) for p in self.table.last_commit_partitions]
            stats = MergeStats(
                epoch=epoch,
                skipped=result is None,
                parts_touched=len(parts),
                parts=parts,
                seconds=time.time() - t0,
                plan=plan,
            )
            lineage_batch = prepared
            if plan == "append_only" and self.lineage is not None:
                # lineage I/U/D counts are per KEY (LineageWriter.record
                # contract) but append_only writes the UN-deduped batch;
                # fold a SLIM projection just for the metrics — key
                # columns + lsn + tombstone, no payload, so the count
                # pass stays cheap and the write path stays elided
                lineage_batch = lww_dedup(
                    prepared.select(
                        S.PART_COL, *self.key_cols, self.lsn_col, S.DELETED_COL
                    ),
                    [S.PART_COL, *self.key_cols],
                    [self.lsn_col],
                )
            self._record_lineage(stats, lineage_batch, snap.version, plan_reason)
            return stats

        # ---- copy-on-write: fused union + LWW over touched buckets
        if not lineage_checkpointed:  # avoid materializing the batch twice
            prepared = prepared.localCheckpoint(eager=True)
        parts = [r[0] for r in prepared.select(S.PART_COL).distinct().collect()]
        if not parts:
            result = self.table.overwrite_partitions(
                prepared, source_id=self.source_id, epoch=epoch
            )
            return MergeStats(
                epoch=epoch,
                skipped=result is None,
                seconds=time.time() - t0,
                plan=plan,
            )

        existing = self.table.read(partitions=parts, version=snap.version)
        src = prepared.withColumn(_SRC_RANK, F.lit(1))
        tgt = existing.withColumn(_SRC_RANK, F.lit(0))
        unioned = src.unionByName(tgt, allowMissingColumns=True)
        if plan == "argmax_broadcast":
            # CoW folds the batch with ALL existing keys of the touched
            # buckets — the winners set is table-scale, not batch-scale,
            # so the broadcast variant's size estimate does not apply;
            # fall back to the shuffled argmax join.
            plan = "argmax"
        if plan == "argmax":
            # fold the (lsn, src_rank) ordering into ONE bigint so the
            # argmax plan stays eligible (it needs a single order
            # column): batch beats existing at equal lsn. The fold is
            # only order-preserving while lsn < 2^62 (a WAL/binlog
            # offset is far below) — ENFORCED in the plan, not assumed:
            # an overflowing lsn fails the batch instead of silently
            # electing the wrong winner.
            folded = F.when(
                F.col(self.lsn_col) < F.lit(1 << 62),
                F.col(self.lsn_col) * 2 + F.col(_SRC_RANK),
            ).otherwise(
                F.raise_error(
                    F.lit(
                        f"CoW argmax ordering fold requires "
                        f"{self.lsn_col} < 2^62; the batch carries a "
                        f"larger offset"
                    )
                ).cast("bigint")
            )
            unioned = unioned.withColumn("_ord", folded)
            merged = self._dedup_and_layout(
                unioned.drop(_SRC_RANK),
                [S.PART_COL, *self.key_cols],
                ["_ord"],
                plan=plan,
            ).drop("_ord")
        else:
            merged = self._dedup_and_layout(
                unioned,
                [S.PART_COL, *self.key_cols],
                [self.lsn_col, _SRC_RANK],
                plan=plan,
            ).drop(_SRC_RANK)
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
            plan=plan,
        )
        self._record_lineage(stats, prepared, snap.version, plan_reason)
        return stats

    def _record_lineage(
        self, stats: MergeStats, prepared, prior_version: int, plan_reason: str = ""
    ):
        if self.lineage is None or stats.skipped or not stats.parts:
            return
        # raw_state semantics need the LWW over tombstones too, so the
        # pre-image for the insert/update split is the PRIOR snapshot
        # folded per key (partition-pruned to the touched buckets).
        self.lineage.record(
            batch_id=stats.epoch,
            sink=self.table,
            prepared_batch=prepared,
            parts=stats.parts,
            seconds=stats.seconds,
            prior_version=prior_version,
            key_cols=self.key_cols,
            lsn_col=self.lsn_col,
            plan=(f"{stats.plan}({plan_reason})" if plan_reason else stats.plan),
            source_id=self.source_id,
        )

    # ------------------------------------------------------------------

    @staticmethod
    def _bucket_needs_compaction(
        snap, part: str, min_files: int | None, small_bytes: int | None
    ) -> bool:
        fs = snap.files.get(part, [])
        if len(fs) < 2:
            return False  # already one file (or empty) — nothing to fold
        if min_files is not None and len(fs) >= min_files:
            return True
        if small_bytes is not None:
            sizes = [snap.stats.get(f, {}).get("_bytes") for f in fs]
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
        pruned = self.table.read(skip={self.lsn_col: (lsn_exclusive + 1, None)})
        df = pruned.filter(F.col(self.lsn_col) > lsn_exclusive)
        if self.mode == "mor":
            df = lww_dedup(df, self.key_cols, [self.lsn_col])
        return df

    def compact(
        self,
        partitions: list | None = None,
        purge_tombstones_below: int | None = None,
        min_files_per_bucket: int | None = None,
        small_file_bytes: int | None = None,
        concurrent_safe: bool = False,
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

        ``concurrent_safe=True`` commits through the FILE-scoped
        ``LakeTable.rewrite_files`` instead of the partition-level
        replace: only the exact input files of the pinned snapshot are
        swapped for the folded output, so an ingest batch APPENDING to
        the same buckets mid-compaction rebases cleanly instead of
        aborting the compaction — the overlap mode a streaming MoR
        table needs (compaction runs behind the stream; MoR read-side
        LWW keeps reads correct throughout). Result-equal to the
        default: folding a subset of a partition's files is valid under
        MoR because reads LWW-merge files anyway; only a concurrent
        REWRITE of the same files aborts (two compactors)."""
        snap = self.table.snapshot()
        base_version = snap.version  # pin what we fold
        if partitions is not None:
            parts = list(partitions)
        else:
            parts = sorted(snap.files.keys())
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
        from radiant_portal_pipeline_spark.cdc.dedup import argmax_eligible

        fold_in = self.table.read(partitions=parts, version=base_version)
        keys = [S.PART_COL, *self.key_cols]
        # NEVER inherit an append_only engine default here: folding is
        # compaction's entire purpose. But DO give LARGE folds the same
        # broadcast upgrade the apply path has: one thin estimator job
        # bounds the distinct-key count, and a bounded fold runs the
        # broadcast semi join — zero full-row exchanges before the
        # layout repartition — instead of shuffling every table row
        # through the SHUFFLE_HASH join (an update-heavy table folds
        # many appended versions down to few keys, exactly the
        # broadcast shape). Small folds skip the estimator outright:
        # the A/B is a wash up to ~70 MB (fixed costs dominate; the
        # extra job costs what the saved exchange saves) and the
        # broadcast wins 10-35% at an 858 MB / 32M-row fold (round-6
        # measurements). The size gate reads the manifest's per-file
        # _bytes — zero Spark jobs; files with unknown size count as
        # large (conservative toward estimating, never toward skipping
        # a profitable upgrade). Unbounded folds keep shuffled argmax.
        plan = "adaptive"
        fold_bytes = 0
        stats_known = True
        for p in parts:
            for f in snap.files.get(p, []):
                b = snap.stats.get(f, {}).get("_bytes")
                if b is None:
                    stats_known = False
                else:
                    fold_bytes += int(b)
        big_fold = (not stats_known) or fold_bytes >= self.compact_broadcast_min_bytes
        if big_fold and argmax_eligible(fold_in, keys, [self.lsn_col]):
            est = self._estimate_batch(fold_in)
            if (
                est is not None
                and est["n"]
                and est["nk"] <= self.broadcast_max_winners
            ):
                plan = "argmax_broadcast"
        folded = self._dedup_and_layout(
            fold_in,
            keys,
            [self.lsn_col],
            plan=plan,
        )
        if purge_tombstones_below is not None:
            folded = folded.filter(
                ~(
                    F.col(S.DELETED_COL)
                    & (F.col(self.lsn_col) < purge_tombstones_below)
                )
            )
        if concurrent_safe:
            # swap exactly the files the fold READ; files appended
            # after base_version stay live (MoR reads LWW over them)
            self.table.rewrite_files(
                folded,
                replace={p: list(snap.files.get(p, [])) for p in parts},
                layout_ready=True,
            )
        else:
            # base_version makes a concurrent append to these buckets
            # abort the compaction (ConcurrentModification) instead of
            # being lost
            self.table.overwrite_partitions(
                folded,
                also_replace=parts,
                layout_ready=True,
                base_version=base_version,
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
        df = self.table.read(version=snap0.version)
        if self.mode == "mor":
            df = lww_dedup(df, self.key_cols, [self.lsn_col])
        folded = df.drop(S.PART_COL)
        relaid = folded.withColumn(
            S.PART_COL, part_expr(self.key_cols[0], new_buckets)
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
            key_cols=tuple(self.key_cols),
            lsn_col=self.lsn_col,
            mode=self.mode,
            merge_plan=self.merge_plan,
            lineage=self.lineage,
        )

    def current_state(self, include_meta: bool = False) -> DataFrame:
        df = self.table.read()
        if self.mode == "mor":
            df = lww_dedup(df, self.key_cols, [self.lsn_col])
        df = df.filter(~F.col(S.DELETED_COL))
        if include_meta:
            return df
        return df.drop(S.DELETED_COL, S.PART_COL)

    def raw_state(self) -> DataFrame:
        """Post-LWW rows INCLUDING tombstones (lineage/debug view)."""
        df = self.table.read()
        if self.mode == "mor":
            df = lww_dedup(df, self.key_cols, [self.lsn_col])
        return df

    def applied_lsn_watermarks(self) -> DataFrame:
        """Per-partition applied-LSN watermark (lineage view)."""
        return (
            self.raw_state()
            .groupBy(S.PART_COL)
            .agg(
                F.max(self.lsn_col).alias("applied_lsn"),
                F.sum(F.when(F.col(S.DELETED_COL), 1).otherwise(0)).alias(
                    "tombstones"
                ),
                F.count(F.lit(1)).alias("rows_total"),
            )
        )
