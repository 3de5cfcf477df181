"""Output checks, run once per run outside the timed passes.

Batch queries are compared with their ``oracle_sql()`` text run on
DuckDB over the same generated files: row count, column names and
order-insensitive values, with cells normalised the way
``tools/check_oracles.py`` does (typed, full precision). ``store_rw``
search results are compared with a NumPy brute-force top-k over the
store's own contents.
"""

from __future__ import annotations

import decimal
import math

import numpy as np


def norm_cell(v) -> str:
    """Typed, full-precision canonical form of one result cell."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return f"bool:{v}"
    if isinstance(v, float):
        return "float:nan" if math.isnan(v) else f"float:{v!r}"
    if isinstance(v, int):
        return f"int:{v}"
    if isinstance(v, decimal.Decimal):
        return f"decimal:{format(v.normalize(), 'f')}"
    if isinstance(v, (list, tuple, set, dict, bytes, bytearray)):
        raise TypeError(f"container-typed cell ({type(v).__name__})")
    return f"{type(v).__name__}:{v}"


def norm_rows(cols: list[str], rows: list[tuple]) -> list[str]:
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted("|".join(norm_cell(r[i]) for i in idx) for r in rows)


def duckdb_connection(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'"
        )
    return con


def compare_query(con, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
    """None when Spark's result equals the oracle's, else the reason."""
    res = con.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    if sorted(cols) != sorted(dcols):
        return f"columns spark={sorted(cols)} oracle={sorted(dcols)}"
    if len(rows) != len(drows):
        return f"rows spark={len(rows)} oracle={len(drows)}"
    try:
        a, b = norm_rows(cols, rows), norm_rows(dcols, drows)
    except TypeError as e:
        return str(e)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:2]
        return f"values differ, first: {diff}"
    return None


def exact_topk(ids: np.ndarray, vecs: np.ndarray, q: np.ndarray, k: int):
    """Brute-force L2 top-k, ties by id: (ids, distances)."""
    d = np.sqrt(((vecs.astype(np.float64) - q.astype(np.float64)) ** 2).sum(1))
    order = np.lexsort((ids, d))[:k]
    return ids[order], d[order]


def compare_search(got: list[tuple], ids, vecs, q, k: int) -> str | None:
    """``got`` is the store's ``(id, distance)`` rows for one query."""
    want_ids, want_d = exact_topk(ids, vecs, q, k)
    got_d = np.array([r[1] for r in got], dtype=np.float64)
    if len(got) != len(want_ids):
        return f"rows got={len(got)} want={len(want_ids)}"
    if not np.allclose(got_d, want_d, rtol=1e-5, atol=1e-6):
        return f"distances got={got_d.round(6).tolist()} want={want_d.round(6).tolist()}"
    # ids must match except where distances tie within float error
    for (gid, gd), wid, wd in zip(got, want_ids, want_d):
        if gid != wid and not np.isclose(gd, wd, rtol=1e-5, atol=1e-6):
            return f"ids got={[r[0] for r in got]} want={want_ids.tolist()}"
    return None


def recall(got_ids, want_ids) -> float:
    return len(set(got_ids) & set(want_ids)) / max(1, len(want_ids))
