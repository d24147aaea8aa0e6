"""Output checks.  None raises: each returns a list of problems, and an op
with problems counts as failed.

- catalog ops: the rule of ``tools/parity.py`` — row count,
  column names, and an order-insensitive value hash against the DuckDB
  oracle over the same generated parquet;
- pipeline stores: the acq store must equal the newest version per key that
  DuckDB computes from the generated rows; the SMS exposure store likewise
  per EXPOSURE; re-deliveries add nothing;
- monitor frames: schema pinned in ``monitor_schemas.json`` and the row
  count the generator implies for each 'data' frame.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

import duckdb

CATALOG_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)
MONITOR_SCHEMAS = os.path.join(os.path.dirname(__file__), "monitor_schemas.json")


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return 0.0  # -0.0 -> 0.0
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def value_hash(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive hash: columns sorted by name, rows sorted by repr."""
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted((repr(tuple(_norm(r[i]) for i in idx)) for r in rows))
    return hashlib.sha256("\n".join(norm).encode()).hexdigest()


class Oracle:
    """DuckDB over the generated catalog tables; results memoised per
    query so repeated passes compare against one oracle run."""

    def __init__(self, data_dir: str):
        self.con = duckdb.connect()
        for t in CATALOG_TABLES:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"'{os.path.join(data_dir, t)}.parquet'")
        self.memo: dict[str, tuple[list[str], int, str]] = {}

    def expect(self, name: str, sql: str) -> tuple[list[str], int, str]:
        if name not in self.memo:
            res = self.con.execute(sql)
            cols = [d[0] for d in res.description]
            rows = res.fetchall()
            self.memo[name] = (sorted(cols), len(rows), value_hash(cols, rows))
        return self.memo[name]

    def compare(self, name: str, sql: str | None, cols: list[str],
                rows: list[tuple]) -> list[str]:
        if sql is None:
            return ["no oracle"]
        ocols, orows, ohash = self.expect(name, sql)
        if sorted(cols) != ocols:
            return [f"schema: spark={sorted(cols)} oracle={ocols}"]
        if len(rows) != orows:
            return [f"rows: spark={len(rows)} oracle={orows}"]
        if value_hash(cols, rows) != ohash:
            return ["values: hash differs"]
        return []


def newest_per_key(rows: list[dict], key: str, version: str) -> tuple[list[str], list[tuple]]:
    """DuckDB's newest version per key over generated rows."""
    import pandas as pd

    con = duckdb.connect()
    con.register("rows_df", pd.DataFrame(rows))
    res = con.execute(
        f"SELECT * EXCLUDE (__rn) FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY {key} ORDER BY {version} DESC) AS __rn FROM rows_df) "
        f"WHERE __rn = 1")
    return [d[0] for d in res.description], res.fetchall()


def compare_store(cols: list[str], rows: list[tuple], expected: tuple[list[str], list[tuple]]) -> list[str]:
    ecols, erows = expected
    if sorted(cols) != sorted(ecols):
        return [f"store schema: {sorted(cols)} != {sorted(ecols)}"]
    if len(rows) != len(erows):
        return [f"store rows: {len(rows)} != {len(erows)}"]
    if value_hash(cols, rows) != value_hash(ecols, erows):
        return ["store values differ from newest-per-key"]
    return []


def load_monitor_schemas() -> dict[str, str]:
    with open(MONITOR_SCHEMAS) as f:
        return json.load(f)


def check_frame(key: str, schema: str, n_rows: int, schemas: dict[str, str],
                expected_rows: int | None) -> list[str]:
    problems = []
    if schemas.get(key) != schema:
        problems.append(f"{key}: schema {schema} != pinned {schemas.get(key)}")
    if expected_rows is not None and n_rows != expected_rows:
        problems.append(f"{key}: {n_rows} rows, generator implies {expected_rows}")
    return problems


def csv_rows(path: str) -> int:
    """Data rows in a CSV sink directory (header line per part file)."""
    import csv
    import glob

    n = 0
    for part in glob.glob(os.path.join(path, "part-*")):
        with open(part, newline="") as f:
            n += max(0, sum(1 for _ in csv.reader(f)) - 1)
    return n
