"""End-to-end parity on the reference's OWN dataset: birch1.txt, first
10,000 rows (NUM_INPUT, config.cuh:12), k=15 (NUM_OUTPUT, config.cuh:14)
-- the exact workload of `./kmeans_with_mapreduce-cuda data/birch1.txt`,
checked against a NumPy Lloyd's with the documented semantics.

Where the reference checkout is absent, the same checks run on a
birch-shaped file generated with the benchmark's seeded generator
(perfbench.gen: integer points in [0, 10^6] from 15 Gaussians on a
jittered 5 x 3 grid, written in birch1.txt's right-aligned layout).

(The reference's golden file data/birch1.txt.output is NOT comparable:
its run is wall-clock-seeded and its reduce kernel races -- SURVEY.md
§2.1.  Determinism here comes from seeded md5-order Forgy init.)
"""

from __future__ import annotations

import os

import numpy as np
import pytest

from kmeans_with_mapreduce_cuda_spark.operators.kmeans import (
    lloyd_2d,
    seed_centroids_2d,
    sse_2d,
)
from kmeans_with_mapreduce_cuda_spark.sources import read_points_text
from perfbench.gen import birch_points, write_points_text

BIRCH = "/root/reference/data/birch1.txt"
N_INPUT = 10_000  # config.cuh:12
K = 15  # config.cuh:14
#: line count of birch1.txt, and the generated stand-in's seed
N_FILE = 100_000
GEN_SEED = 1


@pytest.fixture(scope="module")
def birch_path(tmp_path_factory):
    """birch1.txt itself when present, else a generated birch-shaped file."""
    if os.path.exists(BIRCH):
        return BIRCH
    path = str(tmp_path_factory.mktemp("birch") / "birch1.txt")
    write_points_text(path, birch_points(GEN_SEED, N_FILE))
    return path


@pytest.fixture(scope="module")
def birch(spark, birch_path):
    df = read_points_text(spark, birch_path, limit=N_INPUT).cache()
    assert df.count() == N_INPUT
    return df


def test_birch_lloyd_matches_numpy(spark, birch):
    init = seed_centroids_2d(birch, k=K, seed=42)
    got = np.array(lloyd_2d(birch, init, max_iter=10))

    pdf = birch.select("x", "y").toPandas()
    xy = pdf.to_numpy(dtype=np.float64)
    cents = np.array(init, dtype=np.float64)
    for _ in range(10):
        d = ((xy[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        lab = d.argmin(axis=1)
        new = cents.copy()
        for i in range(K):
            m = lab == i
            if m.any():
                new[i] = xy[m].mean(axis=0)
        if np.sqrt(((new - cents) ** 2).sum(axis=1)).max() <= 1e-6:
            cents = new
            break
        cents = new

    assert np.allclose(got, cents, rtol=1e-9, atol=1e-6)


def test_birch_sse_improves_substantially(spark, birch):
    """Clustering quality sanity on the real benchmark: 10 rounds must
    cut SSE by a large factor from the seeded init."""
    init = seed_centroids_2d(birch, k=K, seed=42)
    before = sse_2d(birch, init)
    after = sse_2d(birch, lloyd_2d(birch, init, max_iter=10))
    assert after < before * 0.5


def test_cli_driver_runs_birch_sample(spark, tmp_path, birch_path, capsys):
    """The __main__ CLI mirrors the reference binary's contract: reads the
    file, prints k 'Point: (x,y)' lines + three timing spans, --save
    appends the same lines to <input>.output."""
    import shutil

    from kmeans_with_mapreduce_cuda_spark.__main__ import main

    src = tmp_path / "birch_sample.txt"
    shutil.copyfile(birch_path, src)
    lines = main(
        [str(src), "--k", "4", "--limit", "500", "--iters", "3", "--save"],
        spark=spark,
    )
    out = capsys.readouterr().out
    assert len(lines) == 4
    assert all(ln.startswith("Point: (") for ln in lines)
    assert "Kmeans compute time:" in out and "Total time:" in out
    saved = (tmp_path / "birch_sample.txt.output").read_text().splitlines()
    assert saved == lines


def test_cli_parity_ints_floors_coords(spark, tmp_path, birch_path):
    """--parity-ints floors printed centroids (the reference's uint64
    floor-division means, kmeans_with_mapreduce-cuda.cu:105-121 /
    o13_sink_format semantics); without it coords truncate toward zero.
    On the non-negative birch domain the two agree, so assert the flag
    at least reproduces the same contract and stays parseable."""
    import re
    import shutil

    from kmeans_with_mapreduce_cuda_spark.__main__ import main

    src = tmp_path / "birch_sample2.txt"
    shutil.copyfile(birch_path, src)
    args = [str(src), "--k", "3", "--limit", "300", "--iters", "2"]
    plain = main(args, spark=spark)
    floored = main(args + ["--parity-ints"], spark=spark)
    pat = re.compile(r"^Point: \((-?\d+),(-?\d+)\)$")
    assert all(pat.match(ln) for ln in floored), floored
    # non-negative domain: floor == truncate
    assert floored == plain


def test_cli_follow_streams_incrementally(spark, tmp_path, birch_path, capsys):
    """--follow: fit on the batch prefix, then drain the SAME file
    through the streaming source + scorer into parquet.  Re-running
    after the file grows must process only the appended lines (offsets
    checkpointed under OUT/_checkpoint), keeping the output exactly-once."""
    import shutil

    from kmeans_with_mapreduce_cuda_spark.__main__ import main

    src = tmp_path / "birch_follow.txt"
    shutil.copyfile(birch_path, src)
    # trim to a known prefix so append counts are exact
    lines = src.read_text().splitlines()[:400]
    src.write_text("\n".join(lines) + "\n")
    out = str(tmp_path / "scored")

    args = [str(src), "--k", "3", "--limit", "300", "--iters", "2",
            "--follow", out]
    main(args, spark=spark)
    first = spark.read.parquet(out).count()
    assert first == 400  # whole current file scored (not just --limit)

    with open(src, "a") as f:
        f.writelines(ln + "\n" for ln in lines[:50])
    main(args, spark=spark)
    assert spark.read.parquet(out).count() == 450  # +50, nothing re-shipped
    assert set(spark.read.parquet(out).columns) == {"x", "y", "cluster_id"}
