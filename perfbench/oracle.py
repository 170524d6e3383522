"""DuckDB correctness gate: run a query's oracle SQL over the same parquet
files the engine read and compare row multisets (columns sorted by name,
floats rounded to 6 places), the comparison the declared-query parity
harness uses."""

from __future__ import annotations

import datetime
import math
import os

import duckdb

from samba_spark.sources.tables import TABLE_NAMES


def connect(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for name in TABLE_NAMES:
        path = os.path.join(data_dir, f"{name}.parquet")
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def canonical(rows, columns) -> list[tuple]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def check(con, sql: str, rows, columns) -> None:
    """Raise AssertionError unless ``rows``/``columns`` equal the oracle's."""
    res = con.execute(sql)
    want_cols = [d[0] for d in res.description]
    want = res.fetchall()
    if sorted(columns) != sorted(want_cols):
        raise AssertionError(f"columns {columns} != oracle {want_cols}")
    got, exp = canonical(rows, columns), canonical(want, want_cols)
    if len(got) != len(exp):
        raise AssertionError(f"{len(got)} rows != oracle {len(exp)}")
    bad = [(a, b) for a, b in zip(got, exp) if a != b]
    if bad:
        raise AssertionError(f"{len(bad)} rows differ, first {bad[0]}")
