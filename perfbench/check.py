"""Result checks, run outside the timed region.

Query entries are compared with their DuckDB oracle over the same
generated parquet, using the canonical row form of the project's oracle
parity test (``tests/test_oracle_parity.py``, imported, not copied):
columns sorted by name, cells canonicalized, rows as a sorted multiset,
here reduced to one SHA-256 value hash.
"""

from __future__ import annotations

import decimal
import hashlib
import os
import sys

import duckdb

# appended, so that the project's tests/conftest.py cannot shadow ours
sys.path.append(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))
from test_oracle_parity import _canon_rows  # noqa: E402


def row_hash(cols: list[str], rows) -> tuple[int, str]:
    """(row count, value hash) of a result, independent of column and row
    order."""
    cols = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = ["\x1f".join(r) for r in _canon_rows(cols, rows)]
    h = hashlib.sha256()
    h.update("\x1e".join(cols[i] for i in order).encode())
    for line in canon:
        h.update(b"\x1e" + line.encode())
    return len(canon), h.hexdigest()


def duck(sf_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def oracle_hash(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[int, str]:
    cur = con.execute(sql)
    return row_hash([d[0] for d in cur.description], cur.fetchall())


def spark_hash(df) -> tuple[int, str]:
    return row_hash(df.columns, [tuple(r) for r in df.collect()])


# --------------------------------------------------------------------------
# ELT: the staging view and the mart, in DuckDB over the written raw table
# --------------------------------------------------------------------------

_ISO = r"^\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}\.\d{3}Z$"

MART_COUNTS_SQL = f"""
WITH stg AS (
  SELECT CASE WHEN regexp_matches(date_utc, '{_ISO}')
              THEN TRY_CAST(date_utc AS TIMESTAMP) END AS ts,
         success
  FROM read_parquet('<raw>/**/*.parquet')
)
SELECT CAST(year(ts) AS INTEGER) AS year,
       COUNT(*) AS launches,
       CAST(SUM(CASE WHEN success THEN 1 ELSE 0 END) AS BIGINT) AS successes,
       CAST(SUM(CASE WHEN success THEN 0 ELSE 1 END) AS BIGINT) AS failures
FROM stg GROUP BY 1
"""


def _pct(s: int, n: int) -> float | None:
    # Spark's round() on a double goes through the shortest decimal repr
    # with HALF_UP; reproduce that exactly from the integer counts.
    if n == 0:
        return None
    x = 100.0 * s / n
    return float(decimal.Decimal(repr(x)).quantize(decimal.Decimal("0.01"), decimal.ROUND_HALF_UP))


def expected_mart(raw_dir: str) -> tuple[int, str]:
    con = duckdb.connect()
    try:
        rows = con.execute(MART_COUNTS_SQL.replace("<raw>", raw_dir)).fetchall()
    finally:
        con.close()
    full = [(y, n, s, f, _pct(s, n)) for y, n, s, f in rows]
    return row_hash(["year", "launches", "successes", "failures", "success_rate_pct"], full)
