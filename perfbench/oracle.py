"""DuckDB oracle for the CDC benchmark: an independent last-writer-wins
reading of the same feed files the engine applied, and the matching
conversation rollup."""

from __future__ import annotations

STATE_COLS = ("conv_id", "turn_idx", "role", "text", "tool", "ts", "lsn")
ROLLUP_COLS = ("n_conversations", "n_turns", "n_tool_calls", "total_chars", "max_lsn")


def _file_list(files) -> str:
    return "[" + ", ".join("'" + f.replace("'", "''") + "'" for f in files) + "]"


def lww_state_sql(feed_files) -> str:
    """Live rows after LWW by lsn per (conv_id, turn_idx); deletes win
    by lsn like any other change and then hide the key."""
    cols = ", ".join(STATE_COLS)
    return f"""
        SELECT {cols} FROM (
            SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx ORDER BY lsn DESC) AS _rn
            FROM read_parquet({_file_list(feed_files)})
        ) WHERE _rn = 1 AND op <> 'D'
    """


def rollup_sql(feed_files) -> str:
    return f"""
        SELECT count(DISTINCT conv_id) AS n_conversations,
               count(*) AS n_turns,
               count(tool) AS n_tool_calls,
               sum(length(text)) AS total_chars,
               max(lsn) AS max_lsn
        FROM ({lww_state_sql(feed_files)})
    """


def diff_counts(con, left_sql: str, right_sql: str, cols) -> tuple[int, int]:
    """(rows in left but not right, rows in right but not left), as
    multisets over ``cols``."""
    c = ", ".join(cols)
    only_left = con.execute(
        f"SELECT count(*) FROM (SELECT {c} FROM ({left_sql}) "
        f"EXCEPT ALL SELECT {c} FROM ({right_sql}))"
    ).fetchone()[0]
    only_right = con.execute(
        f"SELECT count(*) FROM (SELECT {c} FROM ({right_sql}) "
        f"EXCEPT ALL SELECT {c} FROM ({left_sql}))"
    ).fetchone()[0]
    return int(only_left), int(only_right)


def check_state(con, state_glob: str, feed_files) -> dict:
    """Compare the engine's state (parquet written from current_state())
    with the oracle; ok iff both multiset differences are empty."""
    got = f"SELECT * FROM read_parquet('{state_glob}')"
    missing, extra = diff_counts(con, lww_state_sql(feed_files), got, STATE_COLS)
    rows = con.execute(f"SELECT count(*) FROM ({got})").fetchone()[0]
    return {"ok": missing == 0 and extra == 0, "rows": int(rows),
            "missing": missing, "extra": extra}


def check_rollup(con, rollup: dict, feed_files) -> dict:
    row = con.execute(rollup_sql(feed_files)).fetchone()
    want = {k: (int(v) if v is not None else None) for k, v in zip(ROLLUP_COLS, row)}
    got = {k: (int(rollup[k]) if rollup.get(k) is not None else None) for k in ROLLUP_COLS}
    return {"ok": want == got, "want": want, "got": got}
