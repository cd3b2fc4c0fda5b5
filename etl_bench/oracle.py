"""Independent DuckDB checks of what the engine committed.

Expected values are computed by DuckDB straight from the generated input
files; observed values are read back by DuckDB from the engine's output.
Each check returns a list of human-readable mismatches (empty = correct).
"""

from __future__ import annotations

import os

import duckdb
import numpy as np

HORIZON = "1997-01-01"
FLAGSHIP_DAYS = 365  # flagship_pipeline's default horizon
REFEREE_DAYS = 60  # referee_pipeline's default horizon


def _one(con: duckdb.DuckDBPyConnection, sql: str) -> tuple:
    return tuple(con.execute(sql).fetchone())


def nightly_expected(sf_dir: str) -> dict[str, tuple]:
    """Key aggregates of both plans' results, computed from the inputs."""
    con = duckdb.connect()
    try:
        for t in ("orders", "customer", "lineitem"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{os.path.join(sf_dir, t + '.parquet', '*.parquet')}')"
            )
        flagship = _one(con, f"""
            WITH fx AS (
              SELECT * FROM orders WHERE o_orderdate >= TIMESTAMP '{HORIZON}'
                AND o_orderdate < TIMESTAMP '{HORIZON}' + INTERVAL {FLAGSHIP_DAYS} DAY),
            recent AS (
              SELECT l_orderkey, l_linenumber, l_quantity FROM (
                SELECT *, row_number() OVER (PARTITION BY l_orderkey
                  ORDER BY CAST(l_shipdate AS DATE) DESC, l_linenumber DESC) AS rn
                FROM lineitem) WHERE rn <= 3)
            SELECT (SELECT count(*) FROM fx),
                   (SELECT sum(o_orderkey) FROM fx),
                   (SELECT count(*) FROM fx JOIN customer ON o_custkey = c_custkey),
                   (SELECT round(sum(o_totalprice), 2) FROM fx),
                   count(*), sum(l_linenumber), sum(l_quantity)
            FROM recent WHERE l_orderkey IN (SELECT o_orderkey FROM fx)""")
        referee = _one(con, f"""
            WITH fx AS (
              SELECT * FROM orders WHERE o_orderdate >= DATE '{HORIZON}'
                AND o_orderdate < DATE '{HORIZON}' + INTERVAL {REFEREE_DAYS} DAY),
            first_hist AS (
              SELECT o_custkey, min(o_orderkey) AS hist FROM orders GROUP BY 1),
            lines AS (SELECT l_orderkey, count(*) AS n FROM lineitem GROUP BY 1)
            SELECT count(*), sum(fx.o_orderkey),
                   count(c_custkey), sum(first_hist.hist),
                   count(lines.n), coalesce(sum(lines.n), 0)
            FROM fx
            LEFT JOIN customer ON fx.o_custkey = c_custkey
            LEFT JOIN first_hist ON fx.o_custkey = first_hist.o_custkey
            LEFT JOIN lines ON lines.l_orderkey = first_hist.hist""")
    finally:
        con.close()
    return {"flagship": flagship, "referee": referee}


def nightly_observed(flagship_dir: str, referee_dir: str) -> dict[str, tuple]:
    con = duckdb.connect()
    try:
        flagship = _one(con, f"""
            SELECT count(*), sum(o_orderkey),
                   count(*) FILTER (WHERE customer_name <> ''),
                   round(sum(o_totalprice), 2),
                   sum(json_array_length(history_json)),
                   sum(list_sum(CAST(json_extract(history_json, '$[*].line') AS INT[]))),
                   sum(list_sum(CAST(json_extract(history_json, '$[*].qty') AS DOUBLE[])))
            FROM read_parquet('{flagship_dir}/*.parquet')""")
        referee = _one(con, f"""
            SELECT count(*),
                   sum(CAST(split_part(matchlink, '/', 2) AS BIGINT)),
                   count(*) FILTER (WHERE refereelink <> ''),
                   sum(CAST(split_part(json_extract_string(
                       referee_matchistlink, '$."1"[0]'), '/', 2) AS BIGINT)),
                   count(*) FILTER (WHERE referee_matchhistdetails <> '{{}}'),
                   coalesce(sum(json_array_length(
                       referee_matchhistdetails, '$.Date')), 0)
            FROM read_parquet('{referee_dir}/*.parquet')""")
    finally:
        con.close()
    return {"flagship": flagship, "referee": referee}


def compare(expected: dict[str, tuple], observed: dict[str, tuple]) -> list[str]:
    bad = []
    for plan, want in expected.items():
        got = observed[plan]
        for i, (w, g) in enumerate(zip(want, got)):
            if w is None or g is None or abs(float(w) - float(g)) > 1e-6 * max(1.0, abs(float(w))):
                bad.append(f"{plan}[{i}]: expected {w}, got {g}")
    return bad


def merge_check(
    table_dir: str, expected_versions: np.ndarray, partitions: int
) -> list[str]:
    """One row per key, the latest version wins, the live row count holds,
    and every row sits in its key-derived partition."""
    con = duckdb.connect()
    try:
        cols = con.execute(
            f"SELECT match_key, version, part FROM read_parquet("
            f"'{table_dir}/*/*.parquet', hive_partitioning = true) "
            "ORDER BY match_key"
        ).fetchnumpy()
    finally:
        con.close()
    keys, versions, parts = (np.asarray(cols[c]) for c in ("match_key", "version", "part"))
    live = np.flatnonzero(expected_versions > 0)
    bad = []
    n_unique = len(np.unique(keys))
    if n_unique != len(keys):
        bad.append(f"{len(keys) - n_unique} duplicate key rows")
    if len(keys) != len(live):
        bad.append(f"live rows: expected {len(live)}, got {len(keys)}")
    elif not np.array_equal(keys, live):
        bad.append("key set differs from the expected key set")
    elif not np.array_equal(versions, expected_versions[live]):
        bad.append("a stale version won for at least one key")
    if not np.array_equal(parts, keys % partitions):
        bad.append("a row sits outside its key-derived partition")
    return bad


def row_count(*dirs: str) -> int:
    """Rows in every parquet file under ``dirs``."""
    if not dirs:
        return 0
    globs = ", ".join(f"'{d}/**/*.parquet'" for d in dirs)
    con = duckdb.connect()
    try:
        return int(con.execute(f"SELECT count(*) FROM read_parquet([{globs}])").fetchone()[0])
    finally:
        con.close()


PAGE_COLUMNS = ("match_date", "league", "home_club", "away_club", "home_goal", "away_goal")


def sink_rows(sink_dir: str) -> list[tuple]:
    """Every page row the streaming sink committed, duplicates kept."""
    con = duckdb.connect()
    try:
        return con.execute(
            f"SELECT {', '.join(PAGE_COLUMNS)} FROM read_parquet("
            f"'{sink_dir}/*/*.parquet')"
        ).fetchall()
    finally:
        con.close()
