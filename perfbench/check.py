"""Output checks: engine results against DuckDB over the same parquet."""

from __future__ import annotations

import datetime
import math

import duckdb


def connect(data_dir: str, tables: list[str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    return con


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, (datetime.datetime, datetime.date)):
        return str(v)[:19]
    if hasattr(v, "item"):  # numpy scalar
        return _norm(v.item())
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def same_value(a, b, rel: float = 1e-6, abs_: float = 1e-6) -> bool:
    a, b = _norm(a), _norm(b)
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=abs_)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(same_value(x, y, rel, abs_) for x, y in zip(a, b))
    return a == b


def _key(row) -> tuple:
    def one(v):
        v = _norm(v)
        if isinstance(v, float):
            v = round(v, 4)
        return (v is None, str(v))

    return tuple(one(v) for v in row)


def same_rows(got, want, ordered: bool = False, rel: float = 1e-6) -> bool:
    """Row lists equal up to float tolerance (and order unless ``ordered``)."""
    got = [tuple(r) for r in got]
    want = [tuple(r) for r in want]
    if len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got, key=_key), sorted(want, key=_key)
    return all(same_value(g, w, rel) for g, w in zip(got, want))


def frame_rows(pdf) -> list[tuple]:
    """pandas frame -> rows with columns in name order."""
    cols = sorted(pdf.columns)
    return [tuple(r) for r in pdf[cols].itertuples(index=False, name=None)]


def oracle_matches(con, oracle_sql: str, pdf) -> bool:
    """A registry callable's collected result against its DuckDB oracle."""
    want = con.execute(oracle_sql).fetchdf()
    if sorted(want.columns) != sorted(pdf.columns):
        return False
    return same_rows(frame_rows(pdf), frame_rows(want))
