"""Output checks against references that do not run through the engine's
plans: DuckDB twins of the percentage ETL and the trends endpoint, an
independent window clamp. (The curation queries are compared with the
registry's own oracle SQL by ``tools/check_oracle.py``'s normalisation.)
Nothing here runs inside a timed region.
"""

from __future__ import annotations

import datetime as dt

import duckdb


def clamp_window(d: dt.date, today: dt.date, max_date: dt.date) -> tuple[dt.date, dt.date]:
    """The reference's 7-day window rule, written out independently."""
    one = dt.timedelta(days=1)
    start, end = d - 3 * one, d + 3 * one
    if start < today:
        start, end = today, min(today + 6 * one, max_date)
    if end > max_date:
        end, start = max_date, max(max_date - 6 * one, today)
    return start, end


def pct_twin_diff(con: duckdb.DuckDBPyConnection, hist_path: str, pct_dir: str) -> tuple[int, int]:
    """(rows in the twin, rows that differ) between the engine's written
    percentage table and a DuckDB twin of the reference's loop domain: every
    global move type for every positive (branch, month, day) total, with
    sums on the r2 grid and the share on the r4 grid."""
    twin = f"""
        WITH h AS (SELECT * FROM read_parquet('{hist_path}')),
        totals AS (
          SELECT Branch AS branch, month(Date) AS month, day(Date) AS day,
                 FLOOR(SUM(Count) * 1e2 + 0.5) / 1e2 AS total_count
          FROM h GROUP BY 1, 2, 3
          HAVING FLOOR(SUM(Count) * 1e2 + 0.5) / 1e2 > 0
        ),
        types AS (SELECT DISTINCT MoveType AS move_type FROM h WHERE MoveType IS NOT NULL),
        moves AS (
          SELECT Branch AS branch, MoveType AS move_type, month(Date) AS month,
                 day(Date) AS day, FLOOR(SUM(Count) * 1e2 + 0.5) / 1e2 AS move_count
          FROM h GROUP BY 1, 2, 3, 4
        )
        SELECT t.branch, y.move_type, t.month, t.day,
               COALESCE(m.move_count, 0.0) AS move_count, t.total_count,
               FLOOR(COALESCE(m.move_count, 0.0) / t.total_count * 100.0 * 1e4 + 0.5) / 1e4
                 AS avg_percentage
        FROM totals t CROSS JOIN types y
        LEFT JOIN moves m ON m.branch = t.branch AND m.move_type = y.move_type
                         AND m.month = t.month AND m.day = t.day
    """
    engine = f"""
        SELECT CAST(branch AS BIGINT) AS branch, move_type, CAST(month AS BIGINT) AS month,
               CAST(day AS BIGINT) AS day, move_count, total_count, avg_percentage
        FROM read_parquet('{pct_dir}/**/*.parquet', hive_partitioning = true)
    """
    n_twin = con.sql(f"SELECT COUNT(*) FROM ({twin})").fetchone()[0]
    differ = con.sql(
        f"SELECT COUNT(*) FROM ((({twin}) EXCEPT ALL ({engine}))"
        f" UNION ALL (({engine}) EXCEPT ALL ({twin})))"
    ).fetchone()[0]
    return n_twin, differ


def trends_twin(
    con: duckdb.DuckDBPyConnection, hist_path: str, branch: int, move_type,
    start: dt.date, end: dt.date, years: tuple[int, int],
) -> list[dict]:
    """The /historical_trends/ body's per-year rows, from DuckDB."""
    lo, hi = start.month * 100 + start.day, end.month * 100 + end.day
    md = "(month(Date) * 100 + day(Date))"
    window = f"{md} BETWEEN {lo} AND {hi}" if lo <= hi else f"({md} >= {lo} OR {md} <= {hi})"
    type_filter = "" if move_type is None else "AND MoveType = ?"
    params = [branch] + ([] if move_type is None else [move_type])
    rows = con.execute(
        f"""SELECT year(Date) AS y, strftime(Date, '%m-%d') AS md,
                   FLOOR(SUM(Count) * 1e2 + 0.5) / 1e2 AS moves
            FROM read_parquet('{hist_path}')
            WHERE Branch = ? {type_filter} AND year(Date) BETWEEN {years[0]} AND {years[1]}
              AND {window}
            GROUP BY 1, 2, Date ORDER BY 1, Date""",
        params,
    ).fetchall()
    per_year: dict[int, list] = {}
    for y, md_, moves in rows:
        per_year.setdefault(int(y), []).append(
            {"date": md_, "moves": None if moves is None else float(moves)}
        )
    return [{"year": y, "data": per_year.get(y, [])} for y in range(years[0], years[1] + 1)]
