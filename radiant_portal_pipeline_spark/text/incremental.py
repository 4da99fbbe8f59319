"""Incrementally maintained MinHash/LSH index — CDC meets dedup.

At 100 TB a training-data pipeline cannot re-shingle the corpus every
time a batch of documents arrives; it needs the near-dup index to be a
TABLE that ingestion maintains and queries prune. This module keeps the
banded MinHash signatures (text/dedup.py ``minhash_signatures`` /
``lsh_candidate_pairs`` — same bands, same hashes, so incremental and
batch results are provably comparable) in TWO bucket-partitioned
:class:`LakeTable`s under one root:

- ``<path>/bands`` — (bucket, doc_id, band_id, band_hash, epoch),
  partitioned by the band-hash bucket: the collision-probe dimension.
- ``<path>/versions`` — (vbucket, doc_id, epoch), partitioned by a
  doc-id bucket: the per-doc latest-epoch watermark that masks rows
  superseded by a re-index. Kept separately so masking NEVER needs the
  full band index: a query reads only the version buckets of the docs
  it actually collided with.

``update(docs, epoch)`` appends to both (same epoch guard — replay is
a no-op on each). ``near_dups_of(batch, corpus)`` bands ONLY the
batch, reads ONLY the band buckets those bands hash into and ONLY the
version buckets of the docs found there (manifest pruning both times —
assertable via ``live_files``), candidate-joins, and verifies with
exact Jaccard over the candidate documents only. Cost scales with the
batch and its collisions, never with the corpus.

Reference analog: the import pipeline's per-part incremental insert —
new parts update derived artifacts without recomputing closed ones
(radiant/dags/import_part.py staged per-part flow, SURVEY.md §3.2).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from radiant_portal_pipeline_spark.lake import LakeTable
from radiant_portal_pipeline_spark.text.dedup import (
    N_BANDS,
    N_HASHES,
    _jaccard_from_shared,
    _shared_counts_for_candidates,
    minhash_signatures,
    word_shingles,
)

_BANDS_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("band_id", T.IntegerType(), False),
        T.StructField("band_hash", T.LongType(), False),
        T.StructField("epoch", T.LongType(), False),
    ]
)

_VERSIONS_SCHEMA = T.StructType(
    [
        T.StructField("vbucket", T.IntegerType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("epoch", T.LongType(), False),
    ]
)


def _vbucket(col, num_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(num_buckets)).cast("int")


def _banded(docs: DataFrame, k: int, num_buckets: int) -> DataFrame:
    """(bucket, doc_id, band_id, band_hash) for a document set — the
    SAME banding as the batch path (minhash_signatures feeds the
    identical band fold used by lsh_candidate_pairs)."""
    sigs = minhash_signatures(docs, k=k)
    rows_per_band = N_HASHES // N_BANDS
    bands = F.transform(
        F.sequence(F.lit(0), F.lit(N_BANDS - 1)),
        lambda bi: F.struct(
            bi.cast("int").alias("band_id"),
            F.xxhash64(
                F.concat_ws(
                    ",",
                    *[
                        F.element_at(
                            F.col("sig"), (bi * rows_per_band + r + 1).cast("int")
                        ).cast("string")
                        for r in range(rows_per_band)
                    ],
                )
            ).alias("band_hash"),
        ),
    )
    return (
        sigs.select("doc_id", F.explode(bands).alias("b"))
        .select("doc_id", "b.band_id", "b.band_hash")
        .withColumn(
            "bucket",
            F.pmod(F.xxhash64("band_id", "band_hash"), F.lit(num_buckets)).cast(
                "int"
            ),
        )
    )


class IncrementalMinHashIndex:
    """LSH band index as lake tables that CDC batches keep current."""

    def __init__(self, bands: LakeTable, versions: LakeTable):
        self.bands = bands
        self.versions = versions
        props = bands.snapshot().properties
        self.num_buckets = int(props["num_buckets"])
        # k determines the stored band hashes — it is part of the
        # index's IDENTITY (a probe with a different k would compute
        # incomparable hashes and silently return ~nothing), so it is
        # persisted at create and never taken from the caller on load
        self.k = int(props["shingle_k"])

    @staticmethod
    def create(
        spark: SparkSession, path: str, num_buckets: int = 32, k: int = 3
    ) -> "IncrementalMinHashIndex":
        bands = LakeTable.create(
            spark,
            f"{path}/bands",
            _BANDS_SCHEMA,
            partition_col="bucket",
            properties={
                "num_buckets": num_buckets,
                "shingle_k": k,
                "stats_cols": ["epoch"],
            },
        )
        versions = LakeTable.create(
            spark,
            f"{path}/versions",
            _VERSIONS_SCHEMA,
            partition_col="vbucket",
            properties={"num_buckets": num_buckets},
        )
        return IncrementalMinHashIndex(bands, versions)

    @staticmethod
    def load(spark: SparkSession, path: str) -> "IncrementalMinHashIndex":
        return IncrementalMinHashIndex(
            LakeTable(spark, f"{path}/bands"), LakeTable(spark, f"{path}/versions")
        )

    # ------------------------------------------------------------ write

    def update(self, docs: DataFrame, epoch: int) -> None:
        """Index (or re-index) a batch of (doc_id, text) documents.
        Append-only: a doc's previous epoch's rows stay until
        ``compact()``; reads mask them via the latest-epoch watermark.
        Idempotent per epoch (the lake's epoch guard skips replays)."""
        rows = _banded(docs, self.k, self.num_buckets).withColumn(
            "epoch", F.lit(epoch).cast("long")
        )
        laid = rows.select([f.name for f in _BANDS_SCHEMA.fields]).repartition(
            self.num_buckets, F.col("bucket")
        )
        self.bands.append(laid, source_id="minhash", epoch=epoch, layout_ready=True)
        vers = docs.select(
            _vbucket(F.col("doc_id"), self.num_buckets).alias("vbucket"),
            F.col("doc_id").cast("long").alias("doc_id"),
            F.lit(epoch).cast("long").alias("epoch"),
        ).repartition(self.num_buckets, F.col("vbucket"))
        self.versions.append(
            vers, source_id="minhash", epoch=epoch, layout_ready=True
        )

    def compact(self) -> None:
        """Fold both tables to each doc's LATEST-epoch rows (drop rows
        superseded by a re-index). Partition-scoped rewrites.

        Safe against a concurrent ``update()`` (round-3 review race):
        an update appends bands first, versions second, so a band row
        can be visible while its version row is still in flight. The
        bands rewrite therefore keeps every band row whose epoch is
        ``>=`` the doc's known-latest version (or whose doc has no
        version row yet) — an in-flight NEW epoch survives the rewrite
        instead of being silently deleted (which would make the doc
        permanently invisible to ``near_dups_of`` once its version row
        landed). Rows that raced in AFTER either snapshot are covered
        by the lake's base_version conflict check: the overwrite aborts
        with ConcurrentModification and the caller retries."""
        vsnap = self.versions.snapshot()
        vcur = self.versions.read(version=vsnap.version)
        vlatest = (
            vcur.groupBy("vbucket", "doc_id")
            .agg(F.max("epoch").alias("epoch"))
            .select([f.name for f in _VERSIONS_SCHEMA.fields])
            .repartition(self.num_buckets, F.col("vbucket"))
        )
        self.versions.overwrite_partitions(
            vlatest,
            also_replace=sorted(vsnap.files.keys()),
            layout_ready=True,
            base_version=vsnap.version,
        )
        bsnap = self.bands.snapshot()
        cur = self.bands.read(version=bsnap.version)
        latest = vcur.groupBy("doc_id").agg(F.max("epoch").alias("_latest"))
        fresh = (
            cur.join(latest, "doc_id", "left")
            .filter(F.col("_latest").isNull() | (F.col("epoch") >= F.col("_latest")))
            .drop("_latest")
            .repartition(self.num_buckets, F.col("bucket"))
        )
        self.bands.overwrite_partitions(
            fresh,
            also_replace=sorted(bsnap.files.keys()),
            layout_ready=True,
            base_version=bsnap.version,
        )

    # ------------------------------------------------------------- read

    def probe_buckets(self, docs: DataFrame) -> list[int]:
        """The band partitions a batch's bands hash into — the read set
        ``near_dups_of`` opens (for pruning assertions)."""
        rows = _banded(docs, self.k, self.num_buckets)
        return sorted(r["bucket"] for r in rows.select("bucket").distinct().collect())

    def near_dups_of(
        self, batch: DataFrame, corpus: DataFrame, threshold: float = 0.4
    ) -> DataFrame:
        """(doc_a, doc_b, jaccard) pairs with at least one side in
        ``batch``, verified by exact Jaccard — same contract as the
        batch ``minhash_lsh_dedup`` restricted to the batch's docs.
        Call ``update(batch, epoch)`` first so within-batch pairs are
        found too. ``corpus`` supplies text for the verify step; only
        candidate docs' rows are read from it (semi join).

        Reads are pruned END TO END: band buckets the batch hashes
        into, then ONLY the version buckets of the docs found there —
        never a full scan of either table."""
        probe = _banded(batch, self.k, self.num_buckets).localCheckpoint(eager=True)
        buckets = sorted(
            r["bucket"] for r in probe.select("bucket").distinct().collect()
        )
        idx = self.bands.read(partitions=buckets).localCheckpoint(eager=True)
        # latest-epoch mask for EXACTLY the docs the probe collided
        # with: their vbuckets are computable in-plan, so the versions
        # read is manifest-pruned to those buckets (O(collisions), not
        # O(corpus) — the round-3 review caught a full-index scan here)
        vbuckets = sorted(
            r["vb"]
            for r in idx.select(
                _vbucket(F.col("doc_id"), self.num_buckets).alias("vb")
            )
            .distinct()
            .collect()
        )
        latest = (
            self.versions.read(partitions=vbuckets)
            .groupBy("doc_id")
            .agg(F.max("epoch").alias("epoch"))
        )
        idx = idx.join(latest, ["doc_id", "epoch"], "left_semi")
        a = probe.alias("a")
        b = idx.alias("b")
        cands = (
            a.join(
                b,
                (F.col("a.band_id") == F.col("b.band_id"))
                & (F.col("a.band_hash") == F.col("b.band_hash"))
                & (F.col("a.doc_id") != F.col("b.doc_id")),
            )
            .select(
                F.least("a.doc_id", "b.doc_id").alias("doc_a"),
                F.greatest("a.doc_id", "b.doc_id").alias("doc_b"),
            )
            .distinct()
        )
        cand_docs = (
            cands.select(F.col("doc_a").alias("doc_id"))
            .union(cands.select(F.col("doc_b").alias("doc_id")))
            .distinct()
        )
        sh = word_shingles(
            corpus.join(cand_docs, "doc_id", "left_semi"), k=self.k
        ).localCheckpoint(eager=True)
        sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
        shared = _shared_counts_for_candidates(cands, sh)
        return _jaccard_from_shared(shared, sizes, threshold)
