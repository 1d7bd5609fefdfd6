"""Self-tests of the benchmark (not part of the repo's tier-1 suite).

    python3 -m pytest perfbench -q -p no:cacheprovider

The smoke tests run each workload end to end at a tiny size, so they
start a Spark JVM per run (~30 s each).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest

from perfbench import gen, golden, run

ROOT = run.ROOT


def test_birch_points_deterministic_per_seed():
    a, b = gen.birch_points(7, 5000), gen.birch_points(7, 5000)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, gen.birch_points(8, 5000))
    assert a.min() >= 0 and a.max() <= gen.COORD_MAX and a.dtype == np.int64


def test_tables_deterministic_per_seed():
    for make in (gen.documents, gen.embeddings):
        assert make(3, 400).equals(make(3, 400))
        assert not make(3, 400).equals(make(4, 400))


def test_rekey_keeps_id_order_and_pins_the_cell_seed_ids():
    def by_id(table):
        ids = table.column("vec_id").to_pylist()
        pairs = sorted(zip(ids, table.column("embedding").to_pylist()))
        return [i for i, _ in pairs], [v for _, v in pairs]

    ids1, vecs1 = by_id(gen.embeddings(1, 300))
    ids2, vecs2 = by_id(gen.embeddings(2, 300))
    # other ids, same content in the same id order
    assert ids1 != ids2 and vecs1 == vecs2
    for ids in (ids1, ids2):
        assert len(set(ids)) == 300
        assert ids[: gen.PINNED_IDS] == list(range(gen.PINNED_IDS))


def test_points_text_round_trip(tmp_path):
    pts = gen.birch_points(1, 50)
    path = tmp_path / "p.txt"
    gen.write_points_text(str(path), pts)
    back = np.array([[int(v) for v in line.split()] for line in path.read_text().splitlines()])
    assert np.array_equal(back, pts)


def _lloyd_loop(pts, init, iters):
    """Plain-Python Lloyd, the reference for the NumPy golden."""
    cents = [tuple(map(float, c)) for c in init]
    for _ in range(iters):
        sums = {}
        for x, y in pts.tolist():
            d = [(x - cx) * (x - cx) + (y - cy) * (y - cy) for cx, cy in cents]
            c = d.index(min(d))
            sx, sy, n = sums.get(c, (0.0, 0.0, 0))
            sums[c] = (sx + x, sy + y, n + 1)
        cents = [
            (sums[c][0] / sums[c][2], sums[c][1] / sums[c][2]) if c in sums else cents[c]
            for c in range(len(cents))
        ]
    return np.array(cents)


def test_numpy_golden_equals_loop_reference():
    pts = gen.birch_points(2, 600)
    init = [tuple(map(float, pts[i])) for i in golden.md5_seed_ids(range(600), 15, 2)]
    assert np.array_equal(golden.lloyd(pts, init, 4), _lloyd_loop(pts, init, 4))


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOAD_NAMES)


def _run(cwd, workload, trace):
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
        "--seconds", "1", "--trace", str(trace), "--scale", "0.05",
    ]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload,trace", [(w, 0) for w in run.WORKLOAD_NAMES] + [("dedup_chain", 1)])
def test_smoke_op_passes_its_check(workload, trace):
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 2
    names = run.PER_LAYER if trace else run.END_TO_END
    assert set(out["metrics"]) == set(names)
    assert all(isinstance(m["value"], float) for m in out["metrics"].values())


def test_fails_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = _run(tmp_path, "kmeans_loop", 0)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
