"""Independent twins the benchmark checks outputs against: the 8
``plans.eda`` analyses, re-stated in DuckDB SQL over the same Parquet
files the pipeline wrote. Every comparison runs outside the timed region.
"""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd

# approx_count_distinct's default relative standard deviation is 0.05;
# the check accepts 3 standard deviations.
HLL_RSD = 0.05
HLL_TOLERANCE = 3 * HLL_RSD

EDA_QUERIES = (
    "total_games",
    "approx_distinct_players",
    "result_proportions",
    "termination_proportions",
    "top_players",
    "games_per_day",
    "high_elo_openings",
    "top_openings",
)

_W = "(SELECT * FROM games WHERE Role_player = 'White')"
EDA_SQL = {
    "total_games": f"SELECT count(*) FROM {_W}",
    "approx_distinct_players": (
        f"SELECT count(DISTINCT Player), count(DISTINCT Opponent) FROM {_W}"
    ),
    "result_proportions": f"""
        WITH w AS (SELECT CASE Result WHEN '0-1' THEN 'black' WHEN '1-0' THEN 'white'
                          WHEN '1/2-1/2' THEN 'draw' END AS winner FROM {_W}),
             g AS (SELECT winner, count(*) AS c FROM w
                   WHERE winner IN ('black', 'white', 'draw') GROUP BY winner)
        SELECT winner, c, c::DOUBLE / (sum(c) OVER ())::DOUBLE FROM g""",
    "termination_proportions": f"""
        WITH g AS (SELECT Termination, count(*) AS c FROM {_W} GROUP BY Termination)
        SELECT Termination, c, c::DOUBLE / (sum(c) OVER ())::DOUBLE FROM g""",
    "top_players": """
        WITH w AS (SELECT Player AS player, count(*) AS cw FROM games
                   WHERE Role_player = 'White' GROUP BY Player),
             b AS (SELECT Player AS player, count(*) AS cb FROM games
                   WHERE Role_player = 'Black' GROUP BY Player)
        SELECT w.player, cw, cb, cw + cb AS n FROM w JOIN b USING (player)
        ORDER BY n DESC, w.player ASC NULLS FIRST LIMIT 20""",
    "games_per_day": (
        f"SELECT CAST(DateTime AS DATE) AS day, count(*) FROM {_W} GROUP BY day"
    ),
    "high_elo_openings": f"""
        SELECT Opening, count(*) FROM {_W}
        WHERE PlayerElo > 2000 AND OpponentElo > 2000 GROUP BY Opening""",
    "top_openings": f"""
        SELECT Opening, count(*) AS c FROM {_W} GROUP BY Opening
        ORDER BY c DESC, Opening ASC NULLS FIRST LIMIT 20""",
}


def _norm(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (float, np.floating)):
        return None if math.isnan(v) else float(v)
    if isinstance(v, (np.integer,)):
        return int(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()[:10] if not hasattr(v, "hour") else v.isoformat()
    return v


def _key(row):
    return tuple((x is None, str(x)) for x in row)


def _same(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        return a is not None and b is not None and math.isclose(a, b, rel_tol=1e-12)
    return a == b


def _same_rows(got: list[tuple], want: list[tuple]) -> bool:
    got = sorted(got, key=_key)
    want = sorted(want, key=_key)
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
        for g, w in zip(got, want)
    )


def eda_twin(parquet_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute(
        "CREATE VIEW games AS SELECT * FROM "
        f"read_parquet('{parquet_dir}/**/*.parquet', hive_partitioning = true)"
    )
    return con


def check_eda(con: duckdb.DuckDBPyConnection, name: str, spark_rows: list) -> bool:
    """True when the collected Spark result of ``name`` equals its twin.
    Row order is not compared; the top-k twins carry the same total-order
    tiebreakers, so the selected set is compared exactly."""
    got = [tuple(_norm(x) for x in r) for r in spark_rows]
    want = [tuple(_norm(x) for x in r) for r in con.execute(EDA_SQL[name]).fetchall()]
    if name == "approx_distinct_players":
        return len(got) == 1 and all(
            abs(g - w) <= HLL_TOLERANCE * w for g, w in zip(got[0], want[0])
        )
    return _same_rows(got, want)


def month_counts(con: duckdb.DuckDBPyConnection) -> dict[tuple[int, int], int]:
    rows = con.execute(
        "SELECT year, month, count(*) FROM games GROUP BY year, month"
    ).fetchall()
    return {(int(y), int(m)): int(c) for y, m, c in rows}

