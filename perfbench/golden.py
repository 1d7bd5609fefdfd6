"""Reference answers, computed outside every timed region.

- K-Means: the program's documented semantics re-done in NumPy -- the
  md5-order Forgy seed, squared-Euclidean argmin with ties to the lowest
  cluster id, float means, empty clusters keep their previous centroid.
  Coordinates are integers below 2^53 / N, so every per-cluster sum is
  exact in a double and the golden is order-independent.
- Dedup: the registry's own DuckDB oracle SQL over the same generated
  parquet files, normalized with ``tests/canon_util.canon``.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np

#: rows per NumPy distance block (~30 MB per k-wide block array)
_BLOCK = 1 << 18


def md5_seed_ids(ids, k: int, seed: int) -> list[int]:
    """The k ids ``seed_centroids_2d`` picks: ORDER BY the first 8 hex
    digits of md5("seed<seed>:<id>"), then id; LIMIT k."""

    def key(i: int) -> tuple[int, int]:
        h = hashlib.md5(f"seed{seed}:{i}".encode()).hexdigest()
        return int(h[:8], 16), i

    return sorted(ids, key=key)[:k]


def lloyd(pts: np.ndarray, init, iters: int) -> np.ndarray:
    """Exactly ``iters`` Lloyd steps from ``init`` (k x 2)."""
    x = pts[:, 0].astype(np.float64)
    y = pts[:, 1].astype(np.float64)
    cents = np.array(init, dtype=np.float64)
    k = len(cents)
    for _ in range(iters):
        sx = np.zeros(k)
        sy = np.zeros(k)
        cnt = np.zeros(k, dtype=np.int64)
        for lo in range(0, len(x), _BLOCK):
            bx, by = x[lo:lo + _BLOCK, None], y[lo:lo + _BLOCK, None]
            dx, dy = bx - cents[:, 0], by - cents[:, 1]
            a = np.argmin(dx * dx + dy * dy, axis=1)
            sx += np.bincount(a, bx[:, 0], k)
            sy += np.bincount(a, by[:, 0], k)
            cnt += np.bincount(a, minlength=k)
        nz = cnt > 0
        cents[nz, 0] = sx[nz] / cnt[nz]
        cents[nz, 1] = sy[nz] / cnt[nz]
    return cents


def centroids_match(got, want, rtol: float = 1e-9) -> bool:
    g = np.asarray(got, dtype=np.float64)
    return g.shape == want.shape and bool(np.allclose(g, want, rtol=rtol, atol=0.0))


def duckdb_oracle(data_dir: str, queries: list[str], repo_root: str) -> dict:
    """``{query: (sorted columns, canon rows)}`` from the registry's
    DuckDB oracle SQL."""
    import duckdb

    from kmeans_with_mapreduce_cuda_spark.plans import REGISTRY
    from kmeans_with_mapreduce_cuda_spark.sources.readers import TABLES

    canon = load_canon(repo_root)
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TABLES:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        out = {}
        for q in queries:
            cur = con.execute(REGISTRY[q].oracle)
            cols = [d[0] for d in cur.description]
            out[q] = (sorted(cols), canon(cols, cur.fetchall()))
        return out
    finally:
        con.close()


def load_canon(repo_root: str):
    """The repo's shared result normalization (tests/canon_util.py)."""
    import importlib.util

    path = os.path.join(repo_root, "tests", "canon_util.py")
    spec = importlib.util.spec_from_file_location("perfbench_canon_util", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon
