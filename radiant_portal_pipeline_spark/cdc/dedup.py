"""Last-writer-wins dedup.

Reference pattern: ``ROW_NUMBER() OVER (PARTITION BY key ORDER BY rank
DESC) = 1`` (radiant/dags/sql/radiant/exomiser_insert_partition_delta.sql:9,
SURVEY.md §2.5 W1), and this module runs exactly that plan: a
``row_number`` window partitioned by the keys, ordered by the order
columns descending, keeping row 1. The window never compares payload
columns, so it serves every schema (map payloads at any nesting depth
included) and any number of order columns. Where the input is already
hash-partitioned on a subset of the keys (the merge engine's bucket
layout, ``TranscriptMergeEngine._lww_layout``), it plans no exchange of
its own: one in-partition sort.

Tie semantics: ``order_cols`` must identify the winner uniquely —
equal-order rows may only be VERBATIM duplicates (the CDC
replay/at-least-once case), so whichever one ``row_number`` numbers
first is the same row. Rows that share key+order but differ in payload
are resolved arbitrarily and are a contract violation upstream.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def lww_dedup(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
) -> DataFrame:
    """Keep, per key, the single row with the greatest ``order_cols``
    tuple (descending lexicographic). ``order_cols`` must make the
    winner unique up to verbatim duplicates (e.g. an lsn) for
    deterministic replay. Output column order matches the input.

    NULL order values: rows whose order tuple is NULL lose to any
    non-NULL row (NULLs sort last under DESC). A key whose rows are ALL
    NULL in the order columns is outside the contract; it still yields
    exactly one (arbitrary) row."""
    w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_cols])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
