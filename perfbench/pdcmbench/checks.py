"""Output checks, run outside the timed region: a Spark result against
DuckDB over the same parquet, compared as column names, row count and
canonical values (floats to a relative 1e-9)."""

from __future__ import annotations

import datetime
import glob
import hashlib
import math
import os
import pickle
from decimal import Decimal

import duckdb

LAKE_TABLES = [
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
]


def lake_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with one view per lake table (the names oracle SQL uses)."""
    con = duckdb.connect()
    for t in LAKE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def parquet_glob(path: str) -> str | None:
    """Glob over a written dataset's parquet files, or None when the
    directory holds none (an unreadable dataset)."""
    files = glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)
    return os.path.join(path, "**", "*.parquet") if files else None


def release_connection(release_dir: str, entities: list[str]):
    """DuckDB with one view per readable entity of a written release.
    Returns (connection, names of entities with no parquet file)."""
    con = duckdb.connect()
    missing = []
    for name in entities:
        pattern = parquet_glob(os.path.join(release_dir, name))
        if pattern is None:
            missing.append(name)
            continue
        con.execute(
            f'CREATE VIEW "{name}" AS SELECT * FROM read_parquet('
            f"'{pattern}', hive_partitioning = true, union_by_name = true)"
        )
    return con, missing


def _canon(v):
    if v is None:
        return ("none",)
    if isinstance(v, bool):
        return ("i", int(v))
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, float):
        return ("f", v)
    if isinstance(v, Decimal):
        return ("dec", str(v))
    if isinstance(v, datetime.datetime):
        return ("ts", v.replace(tzinfo=None).isoformat())
    if isinstance(v, datetime.date):
        return ("ts", datetime.datetime(v.year, v.month, v.day).isoformat())
    if isinstance(v, (list, tuple)):
        return ("l", tuple(_canon(x) for x in v))
    if isinstance(v, dict):
        return ("d", tuple(sorted((str(k), _canon(x)) for k, x in v.items())))
    return ("s", str(v))


def _close(a, b) -> bool:
    if a == b:
        return True
    if not (isinstance(a, tuple) and isinstance(b, tuple)) or len(a) != len(b):
        return False
    if len(a) == 2 and a[0] == "f" and b[0] == "f":
        return math.isclose(a[1], b[1], rel_tol=1e-9, abs_tol=1e-9)
    if a and a[0] in ("l", "d") and b and b[0] == a[0]:
        return len(a[1]) == len(b[1]) and all(
            _close(x, y) for x, y in zip(a[1], b[1]))
    return all(_close(x, y) for x, y in zip(a, b))


def canonical(cols: list[str], rows, ordered: bool = False) -> tuple:
    """(sorted lower-case columns, canonical rows). Rows are sorted unless
    ``ordered`` (a result whose order is part of the answer)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    out = [tuple(_canon(r[i]) for i in order) for r in rows]
    if not ordered:
        out.sort(key=lambda row: tuple(repr(c) for c in row))
    return [cols[i].lower() for i in order], out


def compare(actual: tuple, expected: tuple, ordered: bool = False) -> str | None:
    """None when the results agree, else a one-line reason.
    ``actual``/``expected`` are (columns, rows)."""
    a_cols, a_rows = canonical(*actual, ordered=ordered)
    e_cols, e_rows = canonical(*expected, ordered=ordered)
    if a_cols != e_cols:
        return f"columns {a_cols} != {e_cols}"
    if len(a_rows) != len(e_rows):
        return f"row count {len(a_rows)} != {len(e_rows)}"
    for i, (x, y) in enumerate(zip(a_rows, e_rows)):
        if not _close(x, y):
            return f"row {i} differs: {x} != {y}"
    return None


def duck_result(con, sql: str) -> tuple[list[str], list[tuple]]:
    rel = con.execute(sql)
    return [d[0] for d in rel.description], rel.fetchall()


def lake_oracle(con, sf_dir: str, sql: str, cache_dir: str):
    """``duck_result`` of an oracle over the fixed lake, cached on disk:
    the lake never changes, and some oracles take seconds."""
    key = hashlib.sha256(f"{os.path.basename(sf_dir)}\n{sql}".encode())
    path = os.path.join(cache_dir, key.hexdigest()[:32] + ".pickle")
    try:
        with open(path, "rb") as fh:
            return pickle.load(fh)
    except FileNotFoundError:
        pass
    result = duck_result(con, sql)
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}"
    with open(tmp, "wb") as fh:
        pickle.dump(result, fh)
    os.replace(tmp, path)
    return result


def spark_result(df) -> tuple[list[str], list]:
    return list(df.columns), df.collect()
