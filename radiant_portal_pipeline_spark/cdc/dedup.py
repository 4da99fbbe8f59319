"""Last-writer-wins dedup.

Reference pattern: ``ROW_NUMBER() OVER (PARTITION BY key ORDER BY rank
DESC) = 1`` (radiant/dags/sql/radiant/exomiser_insert_partition_delta.sql:9,
SURVEY.md §2.5 W1). Three physical strategies, one semantics:

- ``argmax`` (default where eligible): hash-aggregate ``max(order)``
  per key — only ``keys + order`` travel through the aggregation
  exchange, with a map-side partial combine — then a shuffled-hash
  LEFT SEMI join selects the winning rows, then a partition-local
  ``distinct`` drops verbatim replays of the winner. Every operator is
  hash-based: max(bigint) is HashAggregate-able, the semi join is
  hinted SHUFFLE_HASH, and the distinct's exchange is ELIDED because
  the join output is already hash-partitioned on a subset of its
  grouping columns. Zero sorts anywhere. The join exchange is keyed on
  ``keys + order`` — the order column is unique per row, so even a
  single hot key spreads uniformly across reducers (skew-immune
  without salting).
- ``max_struct``: one hash aggregation of ``max(struct(order_cols...,
  payload))`` per key. Fewer operators, but a struct aggregation
  buffer is not mutable in Spark's UnsafeRow, so Catalyst plans
  **SortAggregate** — the full input sorts on both sides of the
  exchange. ``via="auto"`` uses it where argmax is ineligible (multiple
  order columns) and the payload is orderable.
- ``window``: the reference's literal ROW_NUMBER plan — the parity
  reference, and what ``via="auto"`` uses for map payloads, which
  neither hash plan can serve.

Tie semantics (identical for all three): ``order_cols`` must identify
the winner uniquely — equal-order rows may only be VERBATIM duplicates
(the CDC replay/at-least-once case), which ``argmax`` collapses via
``distinct`` and ``max_struct`` via lexicographic struct comparison
(equal rows compare equal). Rows that share key+order but differ in
payload would be resolved arbitrarily by either plan and are a contract
violation upstream.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import AtomicType


def _has_map_type(df: DataFrame) -> bool:
    """True if ANY column contains a map type at any nesting depth
    (map<...> directly, array<map<...>>, struct with a map field):
    such columns can neither be grouping keys (set operations) nor be
    ordered inside a max-struct. The type syntax "map<" cannot collide
    with column NAMES in simpleString (names render as "name:type")."""
    return any("map<" in f.dataType.simpleString() for f in df.schema.fields)


def argmax_eligible(df: DataFrame, keys: Sequence[str], order_cols: Sequence[str]) -> bool:
    """The argmax plan needs (a) a single order column whose max() is
    hash-aggregable and (b) every column usable as a grouping key for
    the final distinct (atomic types; arrays/structs group too but maps
    do not — at any nesting depth)."""
    if len(order_cols) != 1:
        return False
    fields = {f.name: f.dataType for f in df.schema.fields}
    if not isinstance(fields[order_cols[0]], AtomicType):
        return False
    return not _has_map_type(df)


def argmax_winner_rows(df: DataFrame, keys: Sequence[str], order: str) -> DataFrame:
    """The argmax core of ``lww_dedup(via="argmax")``: hash-aggregate
    ``max(order)`` per key, then a shuffled-hash LEFT SEMI join selects
    the winning rows. The result may still contain VERBATIM copies of a
    winner (at-least-once replay), so ``lww_dedup`` follows it with a
    distinct. The merge engine does not use it: its writes dedup with
    the window plan inside each bucket (``TranscriptMergeEngine
    ._lww_layout``).

    NULL-SAFE equality: a plain equi-join would let Catalyst infer
    isnotnull() on every join key and push it below the join, silently
    DROPPING null-key rows — where the max-struct plan groups them
    (SQL GROUP BY keeps a NULL group) and where the merge engine's
    null-key raise_error guard must still get to fire. <=> joins are
    still planned as shuffled-hash equi-joins.

    NULL order contract is ENFORCED in the plan: a key whose rows are
    ALL NULL in the order column aggregates to a NULL max, and the
    null-safe semi join would then match every row of the key —
    silently breaking the one-row-per-key invariant the max-struct
    plan keeps. A raise_error guard on the (thin) winners side fails
    the query with a clear message instead; callers with possibly
    all-NULL order keys should use ``via="max_struct"``.
    """
    keys = list(keys)
    winners = df.select(*keys, order).groupBy(*keys).agg(F.max(order).alias(order))
    guarded = F.when(F.col(order).isNotNull(), F.col(order)).otherwise(
        F.raise_error(
            F.lit(
                f"argmax LWW: a key has ALL-NULL {order!r} — the winner is "
                f"undefined and the semi join would return every row of the "
                f"key; enforce a non-null order column or use via='max_struct'"
            )
        ).cast(dict(df.dtypes)[order])
    )
    winners = winners.withColumn(order, guarded)
    lhs, rhs = df.alias("_l"), winners.alias("_r")
    cond = None
    for c in [*keys, order]:
        eq = F.col(f"_l.{c}").eqNullSafe(F.col(f"_r.{c}"))
        cond = eq if cond is None else (cond & eq)
    return lhs.join(rhs.hint("SHUFFLE_HASH"), cond, "left_semi")


def lww_dedup(
    df: DataFrame,
    keys: Sequence[str],
    order_cols: Sequence[str],
    via: str = "auto",
) -> DataFrame:
    """Keep, per key, the single row with the greatest ``order_cols``
    tuple (descending lexicographic). ``order_cols`` must make the
    winner unique up to verbatim duplicates (e.g. an lsn) for
    deterministic replay. Output column order matches the input.

    ``via``: "auto" (argmax where eligible; max_struct otherwise; the
    window for map payloads, which neither hash plan can serve),
    "argmax", "max_struct", "window" (the reference's row_number
    plan).

    NULL order values: rows whose order tuple is NULL lose to any
    non-NULL row (NULLs sort first). A key whose rows are ALL NULL in
    the order column is outside the contract ("order_cols must make
    the winner unique"): max_struct/window pick one row; the argmax
    plan RAISES at runtime (a raise_error branch on the winners side —
    max() ignores NULLs and NULL <=> NULL would otherwise match every
    row of the key, silently losing the one-row-per-key invariant).
    Callers that cannot enforce a non-null order column should pass
    ``via="max_struct"``."""
    keys = list(keys)
    order_cols = list(order_cols)
    if via == "auto":
        if argmax_eligible(df, keys, order_cols):
            via = "argmax"
        elif _has_map_type(df):
            # max(struct(..., payload)) can't ORDER a map payload either
            # (INVALID_ORDERING_TYPE) — the window plan is the only one
            # that never compares payloads
            via = "window"
        else:
            via = "max_struct"
    if via == "window":
        w = Window.partitionBy(*keys).orderBy(*[F.col(c).desc() for c in order_cols])
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    if via == "argmax":
        if not argmax_eligible(df, keys, order_cols):
            raise ValueError(
                "argmax LWW needs one atomic order column and no map-typed "
                f"payload columns; got order={order_cols} schema={df.schema.simpleString()}"
            )
        return argmax_winner_rows(df, keys, order_cols[0]).dropDuplicates().select(
            *df.columns
        )
    payload = [c for c in df.columns if c not in keys]
    winner = F.max(
        F.struct(*[F.col(c) for c in order_cols], F.struct(*payload).alias("_row"))
    ).alias("_w")
    out = df.groupBy(*keys).agg(winner)
    return out.select(*keys, *[F.col(f"_w._row.{c}").alias(c) for c in payload]).select(
        *df.columns
    )
