"""Output checks, run outside every timed region.

Query results are compared as exact canonical multisets under the same
rules as the repository's DuckDB parity tests: columns sorted by name,
floats by ``repr`` (bit-exact), timestamps as ISO strings, arrays as tuples.
Pipeline results are row-count dicts, compared with counts DuckDB computes
from the same fixture files.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
from collections import Counter
from datetime import date, datetime
from decimal import Decimal

import numpy as np
import pandas as pd

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def canon_value(v):
    if v is None:
        return None
    if isinstance(v, (np.floating, float)):
        f = float(v)
        return "NaN" if math.isnan(f) else repr(f)
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (np.integer, int)):
        return int(v)
    if isinstance(v, np.bool_):
        return bool(v)
    if isinstance(v, (pd.Timestamp, datetime)):
        if pd.isna(v):
            return None
        return pd.Timestamp(v).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(canon_value(x) for x in v)
    if v is pd.NaT:
        return None
    return v


def canon_frame(df: pd.DataFrame) -> tuple[tuple[str, ...], Counter]:
    """(sorted column names, multiset of canonical rows)."""
    cols = sorted(df.columns)
    rows: Counter = Counter()
    for row in df[cols].itertuples(index=False, name=None):
        rows[tuple(canon_value(v) for v in row)] += 1
    return tuple(cols), rows


def digest(canon: tuple[tuple[str, ...], Counter]) -> str:
    """Order-free hash of a canonical frame: equal iff the multisets are."""
    cols, rows = canon
    h = hashlib.sha256(repr(cols).encode())
    for line in sorted(repr(item) for item in rows.items()):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def counts_digest(counts: dict[str, int]) -> str:
    return json.dumps({k: int(v) for k, v in counts.items()}, sort_keys=True)


def duck_connection(fixtures_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixtures_dir}/{t}.parquet')")
    return con


ETL = "run_etl"
TEXT = "run_text_pipeline"

# Row counts the pipeline functions must report, computed independently.
_ETL_COUNTS = {
    "customer_dim": """
        SELECT count(*) FROM customer c
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey""",
    "time_dim": "SELECT count(DISTINCT o_orderdate) FROM orders",
    "order_fact": """
        SELECT count(*) FROM orders o
        LEFT JOIN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey) m
          ON o.o_orderkey = m.l_orderkey""",
}

_TEXT_KEPT = """
    WITH kept AS (
      SELECT text, row_number() OVER (
        PARTITION BY lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))) ORDER BY doc_id
      ) AS rn
      FROM documents
    )
    SELECT text FROM kept WHERE rn = 1"""

_TEXT_COUNTS = {
    "raw": "SELECT count(*) FROM documents",
    "after_dedup": f"SELECT count(*) FROM ({_TEXT_KEPT})",
    "after_quality": f"""
        SELECT count(*) FROM ({_TEXT_KEPT})
        WHERE len(string_split(text, ' ')) >= 20
          AND len(list_distinct(string_split(text, ' ')))
              / len(string_split(text, ' '))::DOUBLE >= 0.2""",
}


def expected_etl_counts(con) -> dict[str, int]:
    return {k: int(con.sql(q).fetchone()[0]) for k, q in _ETL_COUNTS.items()}


def expected_text_counts(con) -> dict[str, int]:
    out = {k: int(con.sql(q).fetchone()[0]) for k, q in _TEXT_COUNTS.items()}
    out["written"] = out["after_quality"]
    return out


def expected_results(
    checks: dict[str, str], fixtures_dir: str, cache_dir: str
) -> dict[str, str]:
    """Expected digest per operation from DuckDB, for ``checks`` mapping an
    operation to its oracle SQL (or to ``ETL``/``TEXT`` for the pipelines).

    Results are cached under ``cache_dir`` keyed by the SQL and the fixture
    files' size and mtime, so only the first run in a checkout pays for the
    slow oracles.
    """
    files = [os.stat(os.path.join(fixtures_dir, f"{t}.parquet")) for t in TABLES]
    stamp = repr([(t, f.st_size, f.st_mtime_ns) for t, f in zip(TABLES, files)])
    os.makedirs(cache_dir, exist_ok=True)
    out: dict[str, str] = {}
    con = None
    try:
        for op, sql in checks.items():
            key = hashlib.sha256(f"{op}\0{sql}\0{stamp}".encode()).hexdigest()[:32]
            path = os.path.join(cache_dir, key)
            if os.path.exists(path):
                with open(path) as f:
                    out[op] = f.read()
                continue
            if con is None:
                con = duck_connection(fixtures_dir)
            if sql == ETL:
                value = counts_digest(expected_etl_counts(con))
            elif sql == TEXT:
                value = counts_digest(expected_text_counts(con))
            else:
                value = digest(canon_frame(con.sql(sql).df()))
            tmp = f"{path}.{os.getpid()}"
            with open(tmp, "w") as f:
                f.write(value)
            os.replace(tmp, path)
            out[op] = value
    finally:
        if con is not None:
            con.close()
    return out
