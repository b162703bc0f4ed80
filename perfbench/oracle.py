"""Independent references for the correctness gate, computed with DuckDB.

None of these use the streaming path under test:
  - CDC: each subscription's filter string is translated to a SQL predicate
    here and evaluated over the released changes' typed values;
  - presence: the window logic of `ORACLE_PRESENCE_DIFFS` runs over the
    released events;
  - batch queries: `__spark_entry__.oracle_sql()` runs over the generated
    tables, and row count plus an order-insensitive digest are compared.
"""

from __future__ import annotations

import hashlib
import math
import re

import duckdb
import pandas as pd

from perfbench.gen import ORDERS_TYPES

_NUMERIC = {"int8": "BIGINT", "float8": "DOUBLE"}
_SQL_OPS = {"eq": "=", "neq": "<>", "lt": "<", "lte": "<=", "gt": ">", "gte": ">="}
_FILTER = re.compile(r"^([^=]+)=(not\.)?(eq|neq|lt|lte|gt|gte|in|like|is)\.(.*)$")


def _split(s: str) -> list[str]:
    """Split a filter string on commas outside parentheses."""
    parts, depth, cur = [], 0, ""
    for ch in s:
        if ch == "," and depth == 0:
            parts.append(cur)
            cur = ""
            continue
        depth += ch == "("
        depth -= ch == ")"
        cur += ch
    parts.append(cur)
    return [p for p in parts if p]


def _literal(value: str, col: str) -> str:
    if ORDERS_TYPES[col] in _NUMERIC:
        return f"CAST('{value}' AS {_NUMERIC[ORDERS_TYPES[col]]})"
    return "'" + value.replace("'", "''") + "'"


def filter_sql(filters: str | None) -> str:
    """SQL predicate over typed columns named like the record keys for a
    PostgREST filter string (only the operators the workloads generate)."""
    preds = []
    for part in _split(filters or ""):
        m = _FILTER.match(part)
        if not m:
            raise ValueError(f"filter outside the benchmark's grammar: {part!r}")
        col, neg, op, val = m.groups()
        if op == "is":
            if val != "null":
                raise ValueError(f"unsupported is-keyword {val!r}")
            pred = f"{col} IS NULL"
        elif op == "in":
            items = val.strip("()").split(",")
            pred = f"{col} IN (" + ", ".join(_literal(v, col) for v in items) + ")"
        elif op == "like":
            pred = f"{col} LIKE {_literal(val, col)}"
        else:
            pred = f"{col} {_SQL_OPS[op]} {_literal(val, col)}"
        preds.append(f"NOT ({pred})" if neg else f"({pred})")
    return " AND ".join(preds) or "TRUE"


def cdc_expected_pairs(truth: pd.DataFrame, specs: list[dict]) -> set[tuple[int, str]]:
    """(change_id, subscription_id) pairs each subscription should receive:
    entity equality, action filter and filters, all over the typed values
    (old record for DELETE). `truth` has change_id, action and one typed
    column per record key."""
    con = duckdb.connect()
    try:
        con.register("released", truth)
        parts = []
        for s in specs:
            if s.get("schema", "public") != "public" or s.get("table") != "orders":
                continue  # every released change is on public.orders
            action = s.get("action", "*")
            where = filter_sql(s.get("filters"))
            if action != "*":
                where = f"action = '{action}' AND {where}"
            parts.append(
                f"SELECT change_id, '{s['subscription_id']}' AS sid FROM released WHERE {where}"
            )
        if not parts:
            return set()
        rows = con.execute(" UNION ALL ".join(parts)).fetchall()
    finally:
        con.close()
    return {(int(c), s) for c, s in rows}


def presence_expected_diffs(events: pd.DataFrame) -> set[tuple]:
    """(topic, presence_key, kind, meta, seq) diffs that the released events
    produce under ORACLE_PRESENCE_DIFFS' window logic."""
    from realtime_spark.plans.realtime_extra import _PRESENCE_CTE, ORACLE_PRESENCE_DIFFS

    head = _PRESENCE_CTE.strip() + ","
    if head not in ORACLE_PRESENCE_DIFFS:
        raise RuntimeError("ORACLE_PRESENCE_DIFFS no longer starts with its event CTE")
    body = ORACLE_PRESENCE_DIFFS.split(head, 1)[1]
    con = duckdb.connect()
    try:
        con.register("released", events)
        sql = "WITH _presence AS (SELECT topic, presence_key, action, meta, seq FROM released)," + body
        return {tuple(r) for r in con.execute(sql).fetchall()}
    finally:
        con.close()


def _norm(v):
    """Engine-neutral form of one value (mirrors tests/oracle_utils._norm):
    floats rounded to 9 places and kept distinct from ints."""
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return ("f", round(v, 9) + 0.0)
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if hasattr(v, "tolist") and not isinstance(v, (str, bytes)):
        return _norm(v.tolist())
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if hasattr(v, "item"):
        return _norm(v.item())
    return v


def frame_digest(df: pd.DataFrame) -> tuple[int, tuple[str, ...], str]:
    """(row count, sorted column names, order-insensitive sha256 of rows)."""
    cols = sorted(df.columns)
    rows = sorted(repr(tuple(_norm(v) for v in row)) for row in df[cols].itertuples(index=False))
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()
    return len(df), tuple(cols), h


def warehouse_con(tables_dir: str, names) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables_dir}/{t}.parquet'")
    return con
