"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size: the same
arguments always give byte-identical files, so a workload's inputs (and
the golden answers computed from them) are reproducible from
``--seed`` alone.  The program under test only ever sees the files.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: coordinate range of the reference's birch-shaped input (FIXTURES.md §1)
COORD_MAX = 1_000_000
#: the 15 Gaussians sit on a 5 x 3 grid
GRID = (5, 3)

#: documents vocabulary: the same 31-word bag the sf fixtures draw from,
#: minus the ``dup`` marker that tags a near-duplicate copy
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ("en", "es", "zh", "de", "fr")
LANG_P = (0.41, 0.15, 0.15, 0.14, 0.15)
N_SOURCES = 20
DUP_SHARE = 0.05
EMB_DIM = 64
N_LABELS = 10
#: the dedup tables' content is fixed, like the sf fixtures they stand in
#: for; the workload seed draws the row order and the id re-key
CONTENT_SEED = 20260
#: ids kept as they are by the re-key: the SemDeDup queries seed their
#: k=8 cells on ``vec_id < 8``
PINNED_IDS = 8


def birch_points(seed: int, n: int) -> np.ndarray:
    """``n`` integer points in [0, COORD_MAX]^2 drawn from 15 Gaussians
    on a jittered 5 x 3 grid, shape (n, 2), dtype int64."""
    rng = np.random.default_rng([seed, 1])
    gx, gy = GRID
    cell_x, cell_y = COORD_MAX / gx, COORD_MAX / gy
    centers = np.array(
        [((i + 0.5) * cell_x, (j + 0.5) * cell_y) for i in range(gx) for j in range(gy)]
    )
    centers += rng.uniform(-0.15, 0.15, centers.shape) * (cell_x, cell_y)
    sigma = rng.uniform(0.06, 0.12, (len(centers), 1)) * min(cell_x, cell_y)
    comp = rng.integers(0, len(centers), n)
    pts = centers[comp] + rng.standard_normal((n, 2)) * sigma[comp]
    return np.clip(np.rint(pts), 0, COORD_MAX).astype(np.int64)


def write_points_text(path: str, pts: np.ndarray) -> None:
    """Write points in the reference's right-aligned column layout
    (``data/birch1.txt`` style: leading blanks, runs of spaces between
    the two coordinates)."""
    xs = pts[:, 0].astype(str)
    ys = pts[:, 1].astype(str)
    body = "\n".join(
        f"{x:>9} {y:>9}" for x, y in zip(xs.tolist(), ys.tolist())
    )
    with open(path, "w") as f:
        f.write(body + "\n")


def documents(seed: int, n: int) -> pa.Table:
    """The sf fixtures' ``documents`` shape: bag-of-words text of 10-100
    words, 5% of rows an exact copy of an earlier row's text plus the
    ``dup`` marker.  Rows are written in a seeded permutation under a
    seeded re-key of ``doc_id`` (see :func:`_rekey`)."""
    rng = np.random.default_rng([CONTENT_SEED, 2])
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if originals and rng.random() < DUP_SHARE:
            texts.append(texts[originals[rng.integers(0, len(originals))]] + " dup")
        else:
            words = rng.integers(0, len(VOCAB), rng.integers(10, 101))
            texts.append(" ".join(VOCAB[w] for w in words))
            originals.append(i)
    lang = rng.choice(len(LANGS), n, p=LANG_P)
    ids, order = _rekey(seed, n, 2)
    return pa.table(
        {
            "doc_id": pa.array(ids[order], pa.int64()),
            "text": pa.array([texts[i] for i in order], pa.string()),
            "lang": pa.array([LANGS[lang[i]] for i in order], pa.string()),
            "source": pa.array([f"src{ids[i] % N_SOURCES}" for i in order], pa.string()),
            "n_chars": pa.array([len(texts[i]) for i in order], pa.int64()),
        }
    )


def embeddings(seed: int, n: int) -> pa.Table:
    """The sf fixtures' ``embeddings`` shape: ``n`` random unit vectors
    of dimension 64 (float32) with a label in 0..9, in a seeded row
    permutation under a seeded re-key of ``vec_id`` (see :func:`_rekey`)."""
    rng = np.random.default_rng([CONTENT_SEED, 3])
    v = rng.standard_normal((n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(0, N_LABELS, n).astype(np.int32)
    ids, order = _rekey(seed, n, 3)
    flat = pa.array(v[order].reshape(-1), pa.float32())
    return pa.table(
        {
            "vec_id": pa.array(ids[order], pa.int64()),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * EMB_DIM + 1, EMB_DIM, dtype=np.int32)), flat
            ),
            "label": pa.array(labels[order], pa.int32()),
        }
    )


def _rekey(seed: int, n: int, stream: int) -> tuple[np.ndarray, np.ndarray]:
    """Seeded (new id of content row i, written row order).

    The re-key is a bijection onto sparse ids that keeps their order and
    leaves ids below PINNED_IDS as they are.  The dedup queries choose
    cell seeds, sub-cell seeds and keepers by lowest id, so an order-
    preserving re-key keeps the pair graph -- and with it the work of an
    op -- the same for every seed, while every id and the row order
    change."""
    rng = np.random.default_rng([seed, stream])
    gaps = rng.integers(1, 4, n)
    gaps[:PINNED_IDS] = 1
    return np.cumsum(gaps) - 1, rng.permutation(n)


def write_parquet(path: str, table: pa.Table) -> None:
    """One file, one row group -- the layout of the sf fixtures."""
    pq.write_table(table, path, row_group_size=max(table.num_rows, 1))
