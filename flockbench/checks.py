"""Output checks against results computed apart from the program.

Batch queries are compared with their registry DuckDB oracle by the
program's order-insensitive comparator (``oracle.compare_frames``).
Stream results are compared with DuckDB SQL over the same replay files,
written here from the queries' definitions, plus conservation
properties every correct run has: a bid lands in exactly size/slide
hopping windows, and each bid joins exactly one q11 session.

Each check returns ``None`` when the output passes, else a message.
"""

from __future__ import annotations

import pandas as pd

#: The reserved replay partition holding the watermark flush sentinel.
SENTINEL_EPOCH = 999_999
_US = 1_000_000


def check_frame(name: str, got: pd.DataFrame, expected: pd.DataFrame) -> str | None:
    from squirtle_spark.oracle import compare_frames

    res = compare_frames(name, got, expected)
    return None if res.ok else res.message()


def check_total(name: str, got: int, expected: int) -> str | None:
    if int(got) == int(expected):
        return None
    return f"{name}: total {got} != expected {expected}"


def _hop_starts(size_s: int, slide_s: int) -> list[str]:
    """The size/slide window starts (microseconds) each bid lands in."""
    last = f"(epoch_us(b_date_time) // {slide_s * _US}) * {slide_s * _US}"
    return [f"{last} - {i * slide_s * _US}" for i in range(size_s // slide_s)]


def stream_oracles(con, dirs: dict[str, str], hop_sql: str, api_window: tuple[int, int]) -> dict:
    """DuckDB results for every stream operation, plus the input counts
    the conservation checks need. ``hop_sql`` is the Query-API statement,
    re-run once per ``api_window`` (size, slide) hopping window over a
    ``bid`` view."""
    for view in ("bids", "bids_api"):
        con.sql(
            f"CREATE OR REPLACE VIEW {view} AS SELECT * EXCLUDE (epoch) FROM read_parquet("
            f"'{dirs[view]}/epoch=*/*.parquet', hive_partitioning = true)"
            f" WHERE epoch <> {SENTINEL_EPOCH}"
        )
    q5_last, q5_prev = _hop_starts(10, 5)
    return {
        "n_bids": con.sql("SELECT COUNT(*) FROM bids").fetchone()[0],
        # q5: per 10 s / 5 s hopping window, the auctions with the most bids
        "q5": con.sql(f"""
            WITH c AS (
              SELECT ws, auction, COUNT(*) AS num FROM (
                SELECT auction, {q5_last} AS ws FROM bids
                UNION ALL SELECT auction, {q5_prev} FROM bids)
              GROUP BY ws, auction),
            m AS (SELECT ws, MAX(num) AS maxn FROM c GROUP BY ws)
            SELECT c.auction, c.num, make_timestamp(c.ws) AS starttime
            FROM c JOIN m USING (ws) WHERE c.num = m.maxn""").df(),
        # q11: per-bidder sessions closed by a 10 s gap
        "q11": con.sql(f"""
            WITH b AS (SELECT bidder, epoch_us(b_date_time) AS t FROM bids),
            s AS (SELECT bidder, t, CASE WHEN t - LAG(t) OVER (PARTITION BY bidder ORDER BY t)
                                         < {10 * _US} THEN 0 ELSE 1 END AS brk FROM b),
            g AS (SELECT bidder, t, SUM(brk) OVER (PARTITION BY bidder ORDER BY t
                                                   ROWS UNBOUNDED PRECEDING) AS sid FROM s)
            SELECT bidder, COUNT(*) AS bid_count, make_timestamp(MIN(t)) AS starttime,
                   make_timestamp(MAX(t) + {10 * _US}) AS endtime
            FROM g GROUP BY bidder, sid""").df(),
        "api_hopping": _per_window(con, hop_sql, _hop_starts(*api_window)),
    }


def _per_window(con, sql: str, window_exprs: list[str]) -> pd.DataFrame:
    """Run ``sql`` once per window over the ``bid`` rows assigned to it,
    the way the Query API fires a window, and stack the results with a
    ``win_start`` column. ``window_exprs`` give each bid's window starts
    (microseconds), size/slide of them for a hopping window."""
    assign = " UNION ALL ".join(f"SELECT *, {w} AS w FROM bids_api" for w in window_exprs)
    con.sql(f"CREATE OR REPLACE TEMP TABLE assigned AS {assign}")
    parts = []
    for (w,) in con.sql("SELECT DISTINCT w FROM assigned ORDER BY w").fetchall():
        con.sql(f"CREATE OR REPLACE VIEW bid AS SELECT * EXCLUDE (w) FROM assigned WHERE w = {w}")
        part = con.sql(sql).df()
        part["win_start"] = pd.Timestamp(w, unit="us")
        parts.append(part)
    return pd.concat(parts, ignore_index=True)
