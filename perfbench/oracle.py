"""Correctness checks: query results against their DuckDB oracles, and
the medallion end state against a DuckDB recomputation. Cells are
normalised exactly as the repository's tests compare with the oracles
(``tests/conftest.py``): columns sorted by name, then rows, floats at
full precision."""

from __future__ import annotations

import hashlib

import duckdb
import pyarrow as pa

from football_lakehouse_spark.catalog import TABLES
from tests.conftest import _norm_cell, normalize


def result_hash(columns: list[str], rows: list[tuple]) -> str:
    cols, norm = normalize(columns, rows)
    return hashlib.sha256(repr((cols, norm)).encode()).hexdigest()


def duck_connection(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    return con


def compare(columns: list[str], rows: list[tuple], oracle_sql: str,
            con: duckdb.DuckDBPyConnection) -> str | None:
    """None when the Spark result equals the oracle's, else the reason."""
    res = con.execute(oracle_sql)
    d_cols = [c[0] for c in res.description]
    d_rows = res.fetchall()
    s_cols, s_norm = normalize(columns, rows)
    o_cols, o_norm = normalize(d_cols, d_rows)
    if s_cols != o_cols:
        return f"columns {s_cols} != {o_cols}"
    if len(s_norm) != len(o_norm):
        return f"rows {len(s_norm)} != {len(o_norm)}"
    for a, b in zip(s_norm, o_norm):
        if a != b:
            return f"value {a} != {b}"
    return None


#: latest-wins silver (the last batch a key landed in wins; inside a
#: batch the newest (ts, event_id)), then the gold live state over it
SILVER_SQL = """
SELECT event_id, ts AS event_ts, user_id, event_type, value
FROM (
  SELECT *, row_number() OVER (PARTITION BY event_id
                               ORDER BY batch DESC, ts DESC, event_id DESC) AS rn
  FROM landed)
WHERE rn = 1
"""
GOLD_SQL = f"""
SELECT user_id,
       first(event_type ORDER BY event_ts DESC, event_id DESC) AS last_event_type,
       sum(CAST(round(value * 100) AS BIGINT)) AS total_cents,
       count(*) AS n_events,
       max(event_ts) AS last_seen_ts
FROM ({SILVER_SQL}) GROUP BY user_id
"""


def medallion_mismatches(landed: pa.Table, silver_rows: list, gold_rows: list,
                         quarantined: int, corrupt_landed: int) -> list[str]:
    """Compare the medallion end state with a DuckDB recomputation from
    every landed (well-formed) row. ``landed`` has the event columns
    plus ``batch``; ``silver_rows`` are (event_id, event_ts, user_id,
    event_type, value) and ``gold_rows`` are (user_id, last_event_type,
    total_value, n_events, last_seen_ts)."""
    con = duckdb.connect()
    con.register("landed", landed)
    problems = []
    want = sorted(tuple(map(_norm_cell, r)) for r in con.execute(SILVER_SQL).fetchall())
    got = sorted(tuple(map(_norm_cell, r)) for r in silver_rows)
    if want != got:
        problems.append(f"silver: {len(got)} rows, expected {len(want)}"
                        f" (first diff {next((a, b) for a, b in zip(got, want) if a != b) if len(got) == len(want) else '-'})")
    want = sorted((str(u), t, str(c), str(n), str(ts))
                  for u, t, c, n, ts in con.execute(GOLD_SQL).fetchall())
    got = sorted((str(u), t, str(round(float(v) * 100)), str(n), str(ts))
                 for u, t, v, n, ts in gold_rows)
    if want != got:
        problems.append(f"gold live state: {len(got)} users, expected {len(want)}")
    if quarantined != corrupt_landed:
        problems.append(f"quarantine: {quarantined} rows, expected {corrupt_landed}")
    con.close()
    return problems
