"""Seeded change-feed generator for the CDC benchmark.

Every feed is a directory of parquet files, one file per commit epoch
(``ep-000000.parquet``, ...), carrying the engine's change-event
envelope. Every column is a pure function of ``(event id, seed)``
through a seeded hash, so the same seed always yields the same files
and the engine under test sees nothing but those files.

The feeds are written by DuckDB (vectorised and multi-threaded, like
Spark) in the benchmark's own process before the worker starts, and
deleted after the run. So every worker JVM starts with the same
history, and a run spends no JVM warm-up on making its inputs. Feeds
are not cached: generating one takes well under a second.
"""

from __future__ import annotations

import os

_BASE_TS = 1704067200  # 2024-01-01T00:00:00Z

# update_stream shape (per batch): one hot conversation carries ~20% of
# events, the rest rewrite up to UPD_ACTIVE conversations drawn from
# UPD_POOL; ~20% of events are deletes.
UPD_HOT_PCT = 20
UPD_HOT_TURNS = 1000
UPD_ACTIVE = 10_000
UPD_POOL = 200_000
UPD_TURNS = 8
UPD_DELETE_PCT = 20

# insert_backfill: two turns per new conversation, no hot conversation;
# from the second batch on, ~1% of events update and ~0.5% delete a key
# of the previous batch.
INS_TURNS = 2
INS_UPDATE_PER_MILLE = 10
INS_DELETE_PER_MILLE = 5

# read_mix: a base load of ``convs`` x RM_TURNS rows (epoch 0), then edit
# batches that each rewrite RM_EDIT_CONVS conversations: RM_TURNS
# rewritten turns + RM_NEW_TURNS appended turns, one of them deleted.
RM_TURNS = 10
RM_NEW_TURNS = 2
RM_EDIT_CONVS = 8

PAYLOAD_CHARS = 160


def _h(seed: int, *cols) -> str:
    """SQL for a non-negative pseudo-random BIGINT keyed by the seed."""
    return f"CAST(hash({seed}, {', '.join(str(c) for c in cols)}) % 1099511627776 AS BIGINT)"


def _envelope(seed: int, rows_sql: str) -> str:
    """Change-event columns over ``rows_sql``, which yields (id, b,
    conv_id, turn, op): role alternates with the turn, text is the event
    id padded to PAYLOAD_CHARS, ts advances one second per event."""
    return f"""
        SELECT conv_id,
               CAST(turn AS INTEGER) AS turn_idx,
               CASE WHEN turn % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
               rpad('t' || id || '-', {PAYLOAD_CHARS}, 'x') AS text,
               CASE WHEN {_h(seed, 'id', 6)} % 10 = 0 THEN 'browser' END AS tool,
               make_timestamp(CAST(({_BASE_TS} + id) * 1000000 AS BIGINT)) AS ts,
               op,
               CAST(id + 1 AS BIGINT) AS lsn,
               CAST(b AS BIGINT) AS commit_epoch
        FROM ({rows_sql})
    """


def update_stream_sql(seed: int, batches: int, events_per_batch: int) -> str:
    return _envelope(seed, f"""
        SELECT id, b,
               CASE WHEN hot THEN 'hot'
                    ELSE 'u' || ({_h(seed, 'b', 'slot', 3)} % {UPD_POOL}) END AS conv_id,
               CASE WHEN hot THEN {_h(seed, 'id', 4)} % {UPD_HOT_TURNS}
                    ELSE {_h(seed, 'id', 4)} % {UPD_TURNS} END AS turn,
               CASE WHEN {_h(seed, 'id', 5)} % 100 < {UPD_DELETE_PCT} THEN 'D' ELSE 'U' END AS op
        FROM (SELECT range AS id, range // {events_per_batch} AS b,
                     {_h(seed, 'range', 1)} % 100 < {UPD_HOT_PCT} AS hot,
                     {_h(seed, 'range', 2)} % {UPD_ACTIVE} AS slot
              FROM range({batches * events_per_batch}))
    """)


def insert_backfill_sql(seed: int, batches: int, events_per_batch: int) -> str:
    # updates and deletes target a key of the PREVIOUS batch, so no key
    # repeats inside a batch (the duplicate share the chooser sees is 0)
    touch = INS_UPDATE_PER_MILLE + INS_DELETE_PER_MILLE
    return _envelope(seed, f"""
        SELECT id, b,
               'c' || hex({_h(seed, 'src // ' + str(INS_TURNS), 3)}) || '-'
                   || (src // {INS_TURNS}) AS conv_id,
               src % {INS_TURNS} AS turn,
               CASE WHEN b > 0 AND pick >= {INS_UPDATE_PER_MILLE} AND pick < {touch}
                    THEN 'D' ELSE 'U' END AS op
        FROM (SELECT id, b, pick,
                     CASE WHEN b > 0 AND pick < {touch}
                          THEN (b - 1) * {events_per_batch}
                               + {_h(seed, 'id', 2)} % {events_per_batch}
                          ELSE id END AS src
              FROM (SELECT range AS id, range // {events_per_batch} AS b,
                           {_h(seed, 'range', 1)} % 1000 AS pick
                    FROM range({batches * events_per_batch})))
    """)


def read_mix_sql(seed: int, convs: int, batches: int) -> str:
    """Epoch 0 is the base load; epochs 1..batches are edit batches."""
    base = convs * RM_TURNS
    per_conv = RM_TURNS + RM_NEW_TURNS
    per_batch = RM_EDIT_CONVS * per_conv
    # the batch's conversations are evenly spaced from a seeded offset, so
    # they are distinct and no key repeats inside an edit batch
    spacing = convs // RM_EDIT_CONVS
    return _envelope(seed, f"""
        SELECT id, b, 'r' || conv_num AS conv_id, turn,
               CASE WHEN id >= {base}
                         AND turn = {_h(seed, 'b', 'conv_num', 2)} % {per_conv}
                    THEN 'D' ELSE 'U' END AS op
        FROM (SELECT id, b,
                     CASE WHEN id < {base} THEN id // {RM_TURNS}
                          ELSE ({_h(seed, 'b', 1)} + local // {per_conv} * {spacing})
                               % {convs} END AS conv_num,
                     CASE WHEN id < {base} THEN id % {RM_TURNS}
                          ELSE local % {per_conv} END AS turn
              FROM (SELECT range AS id,
                           CASE WHEN range < {base} THEN 0
                                ELSE (range - {base}) // {per_batch} + 1 END AS b,
                           (range - {base}) % {per_batch} AS local
                    FROM range({base + batches * per_batch})))
    """)


def epoch_lsn_range(workload: str, sizes: dict, epoch: int) -> tuple[int, int]:
    """(first, last) lsn of one epoch of a feed (lsn = event id + 1)."""
    if workload == "read_mix":
        base = sizes["convs"] * RM_TURNS
        if epoch == 0:
            return 1, base
        per_batch = RM_EDIT_CONVS * (RM_TURNS + RM_NEW_TURNS)
        return base + (epoch - 1) * per_batch + 1, base + epoch * per_batch
    e = sizes["events_per_batch"]
    return epoch * e + 1, (epoch + 1) * e


def feed_sql(workload: str, seed: int, sizes: dict) -> str:
    if workload == "update_stream":
        return update_stream_sql(seed, sizes["batches"], sizes["events_per_batch"])
    if workload == "insert_backfill":
        return insert_backfill_sql(seed, sizes["batches"], sizes["events_per_batch"])
    if workload == "read_mix":
        return read_mix_sql(seed, sizes["convs"], sizes["batches"])
    raise ValueError(f"unknown workload {workload!r}")


def write_feed(workload: str, seed: int, sizes: dict, out_dir: str, threads: int) -> list[str]:
    """Write the feed as one parquet file per commit epoch, rows in lsn
    order, and return the files in epoch order. The files get strictly
    increasing modification times in epoch order, because the file
    stream source orders by mtime.

    The program's ``cdc.stream.write_feed_partitions`` makes the same
    layout, but the benchmark's inputs must not depend on program code:
    a change under test would otherwise change the files it is measured
    on."""
    import duckdb

    os.makedirs(out_dir)
    con = duckdb.connect(config={"threads": threads})
    try:
        con.execute(f"CREATE TEMP TABLE feed AS {feed_sql(workload, seed, sizes)}")
        epochs = [r[0] for r in con.execute(
            "SELECT DISTINCT commit_epoch FROM feed ORDER BY 1").fetchall()]
        files = []
        for k, ep in enumerate(epochs):
            dst = os.path.join(out_dir, f"ep-{ep:06d}.parquet")
            con.execute(f"COPY (SELECT * FROM feed WHERE commit_epoch = {ep} ORDER BY lsn) "
                        f"TO '{dst}' (FORMAT parquet)")
            os.utime(dst, (_BASE_TS + k, _BASE_TS + k))
            files.append(dst)
    finally:
        con.close()
    return files


def feed_files(feed_dir: str) -> list[str]:
    """The epoch files of a feed written by ``write_feed``, in order."""
    return sorted(os.path.join(feed_dir, f) for f in os.listdir(feed_dir)
                  if f.startswith("ep-") and f.endswith(".parquet"))
