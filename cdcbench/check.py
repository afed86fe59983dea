"""Correctness gate: the engine's outputs against a DuckDB reduction of the
delivered feed. Runs outside every timed window.

The oracle is last-writer-wins per ``(conv_id, turn_idx)`` ordered by
``(ts, op_seq)``; a key whose winning event is a delete is absent.
Timestamps are compared as integer microseconds.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa

USER_COLS = "conv_id, turn_idx, role, text, tool, epoch_us(ts) AS ts"


def oracle_sql(feed_dir: str, segments: list[str] | None = None) -> str:
    """LWW final state over ``segments`` of ``feed_dir`` (all if None)."""
    if segments is None:
        src = f"'{feed_dir}/*/*.parquet'"
    else:
        src = "[" + ", ".join(f"'{os.path.join(feed_dir, s)}/*.parquet'" for s in segments) + "]"
    return f"""
        SELECT {USER_COLS} FROM (
            SELECT *, row_number() OVER (
                PARTITION BY conv_id, turn_idx ORDER BY ts DESC, op_seq DESC) AS rn
            FROM read_parquet({src})
        ) WHERE rn = 1 AND op <> 'D'
    """


def _diff(con, a_sql: str, b_sql: str) -> int:
    """Rows in one side but not the other (multiset difference, both ways)."""
    return con.sql(
        f"SELECT (SELECT count(*) FROM (({a_sql}) EXCEPT ALL ({b_sql})))"
        f" + (SELECT count(*) FROM (({b_sql}) EXCEPT ALL ({a_sql})))"
    ).fetchone()[0]


def table_vs_oracle(state: pa.Table, feed_dir: str) -> dict:
    """``state``: the table's live rows (user columns) as Arrow."""
    con = duckdb.connect()
    con.register("state", state)
    diff = _diff(con, f"SELECT {USER_COLS} FROM state", oracle_sql(feed_dir))
    n = con.sql("SELECT count(*) FROM state").fetchone()[0]
    return {"check": "table == LWW oracle", "ok": diff == 0, "rows": n, "diff_rows": diff}


def mv_vs_oracle(mv: pa.Table, feed_dir: str) -> dict:
    """The conversation-summary MV against the same rollup of the oracle."""
    con = duckdb.connect()
    con.register("mv", mv)
    want = f"""
        SELECT conv_id, count(*) AS n_turns, count(tool) AS n_tool_turns,
               max(ts) AS last_ts, sum(length(text)) AS total_chars
        FROM ({oracle_sql(feed_dir)}) GROUP BY conv_id
    """
    got = """SELECT conv_id, n_turns, n_tool_turns, epoch_us(last_ts) AS last_ts,
                    total_chars FROM mv"""
    diff = _diff(con, got, want)
    return {"check": "MV == conv_summary(oracle)", "ok": diff == 0, "diff_rows": diff}


def conv_counts(feed_dir: str, segments: list[str], convs: list[str]) -> list[int]:
    """Oracle live-turn count of each conversation after ``segments``."""
    con = duckdb.connect()
    rows = dict(
        con.sql(
            f"SELECT conv_id, count(*) FROM ({oracle_sql(feed_dir, segments)})"
            f" WHERE conv_id IN ({', '.join(repr(c) for c in set(convs))}) GROUP BY conv_id"
        ).fetchall()
    )
    return [rows.get(c, 0) for c in convs]


def point_rows_vs_oracle(rows: pa.Table, feed_dir: str, convs: list[str]) -> dict:
    """Rows returned by point reads of ``convs`` against the oracle's."""
    con = duckdb.connect()
    con.register("got", rows)
    keys = ", ".join(repr(c) for c in set(convs))
    diff = _diff(
        con,
        f"SELECT {USER_COLS} FROM got",
        f"SELECT * FROM ({oracle_sql(feed_dir)}) WHERE conv_id IN ({keys})",
    )
    return {"check": "last point reads == oracle rows", "ok": diff == 0, "diff_rows": diff}
