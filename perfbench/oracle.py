"""Reference answers the benchmark checks the program's results
against: NumPy brute force for vector search, DuckDB for SQL oracles."""

from __future__ import annotations

import os

import numpy as np

from scripts.verify_subset import norm

BASE_TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
               "lineitem", "events", "documents", "embeddings")


def connect(fixture_dir: str):
    """DuckDB with one view per fixture table, as the driver harness
    registers them."""
    import duckdb

    con = duckdb.connect()
    for name in BASE_TABLES:
        path = os.path.join(fixture_dir, f"{name}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
    return con


def connect_events(path: str):
    """DuckDB with an ``events`` view over one events file."""
    import duckdb

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{path}'")
    return con


def cosine_dist(vecs: np.ndarray, q) -> np.ndarray:
    q = np.asarray(q, dtype=np.float64)
    return 1.0 - vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))


def topk_problem(ids: list, dist: np.ndarray, k: int, tol: float = 1e-9) -> str | None:
    """None when ``ids`` (in rank order) is a correct top-``k`` under
    ``dist``; ties within ``tol`` may resolve either way."""
    ids = [int(i) for i in ids]
    finite = int(np.isfinite(dist).sum())
    if len(ids) != min(k, finite) or len(set(ids)) != len(ids):
        return f"expected {min(k, finite)} distinct ids, got {ids}"
    got = dist[ids]
    if not np.all(np.isfinite(got)):
        return f"ids outside the candidate set: {ids}"
    if np.any(np.diff(got) < -tol):
        return "ranks out of distance order"
    kth = np.sort(dist)[len(ids) - 1]
    if got.max() > kth + tol:
        return f"not a top-{k}: worst {got.max():.9f} > {kth:.9f}"
    return None


def _rounded(row) -> tuple:
    return tuple(round(x, 6) if isinstance(x, float) else x for x in row)


def ordered_problem(rows: list, expected: list) -> str | None:
    """Rows must equal the oracle's rows in order (floats to 6 places)."""
    got = [_rounded(r) for r in rows]
    want = [_rounded(r) for r in expected]
    return None if got == want else f"got {got[:3]}... want {want[:3]}..."


def set_problem(rows: list, expected: list) -> str | None:
    """Rows must equal the oracle's rows as a multiset."""
    got = sorted(map(repr, map(_rounded, rows)))
    want = sorted(map(repr, map(_rounded, expected)))
    if got == want:
        return None
    return f"{len(rows)} rows vs oracle {len(expected)}"


def table_problem(cols: list, rows: list, dcols: list, drows: list) -> str | None:
    """The registry comparison (scripts/verify_subset.py): column names,
    row count and order-insensitive rounded values."""
    if sorted(cols) != sorted(dcols):
        return f"columns {sorted(cols)} vs oracle {sorted(dcols)}"
    if len(rows) != len(drows):
        return f"{len(rows)} rows vs oracle {len(drows)}"
    if norm(rows, cols) != norm(drows, dcols):
        return "values differ from the oracle"
    return None

