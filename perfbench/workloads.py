"""The benchmark's workloads: inputs, set-up, one timed op, and its check.

Each workload is driven the same way by ``run.py``:

1. ``prepare()``   -- generate the inputs from the seed and compute what
   the reference answers need (untimed);
2. ``setup(spark)`` -- the user-visible set-up: input load, cache fill
   and, on K-Means, seeding (timed as ``setup_s`` with the session start);
3. ``after_setup()`` -- finish the reference answers that depend on the
   set-up (untimed);
4. ``op(spark)``   -- one timed user operation;
5. ``check(result)`` -- compare the set-up's and the op's outputs to the
   reference (untimed); returns an error string or None.
"""

from __future__ import annotations

import os

import numpy as np

from . import gen, golden

K = 15


class Workload:
    """Shared plumbing: per-span job counts and defaults."""

    probe = None
    span_jobs: dict = {}
    #: Lloyd iterations per op (0: the op runs no Lloyd fit of its own)
    iters = 0
    #: warm ops per run at least, whatever --seconds says; enough that
    #: the median sits past the first warm ops, which the JIT still slows
    min_warm = 6

    def trace_jobs(self, probe) -> None:
        """Count jobs per build/action span in the next op (None: off)."""
        self.probe = probe
        self.span_jobs = {}
        self._mark = probe.mark() if probe is not None else 0

    def _count_jobs(self, span: str) -> None:
        """Traced ops only: jobs launched since the previous count."""
        if self.probe is not None:
            m = self.probe.mark()
            self.span_jobs[span] = m - self._mark
            self._mark = m

    def after_setup(self) -> None:
        pass

    def frames(self, result) -> list:
        """The DataFrames an op returned unexecuted (planned again for
        their Catalyst phase times in traced runs)."""
        return []


class KMeansWorkload(Workload):
    """Lloyd fits over a cached, seeded birch-shaped point set."""

    k = K

    def __init__(self, seed: int, scale: float, work: str, tracer, repo_root: str):
        self.seed = seed
        self.tracer = tracer
        self.path = os.path.join(work, "points.txt")
        self._size(scale)

    def _size(self, scale: float) -> None:
        raise NotImplementedError

    @property
    def rows(self) -> int:
        """Input rows processed per op: every iteration scans all N."""
        return self.n_used * self.iters

    @property
    def dist_evals(self) -> int:
        return self.n_used * self.k * self.iters

    def prepare(self) -> None:
        pts = gen.birch_points(self.seed, self.n_file)
        gen.write_points_text(self.path, pts)
        self.pts = pts[: self.n_used]

    def setup(self, spark) -> None:
        from kmeans_with_mapreduce_cuda_spark.operators.kmeans import seed_centroids_2d
        from kmeans_with_mapreduce_cuda_spark.sources import read_points_text

        with self.tracer.span("sources.read_points_text"):
            self.points = read_points_text(spark, self.path, limit=self.limit).cache()
            self.n_loaded = self.points.count()
        with self.tracer.span("kmeans.seed_centroids_2d"):
            self.init = seed_centroids_2d(self.points, self.k, seed=self.seed)

    def after_setup(self) -> None:
        self.golden = golden.lloyd(self.pts, self.golden_init(), self.iters)

    def golden_init(self) -> list:
        raise NotImplementedError

    def init_error(self) -> str | None:
        raise NotImplementedError

    def op(self, spark):
        from kmeans_with_mapreduce_cuda_spark.operators.kmeans import lloyd_2d

        # tol < 0 turns the convergence test off: a fit that converges
        # early would do less work on some seeds than on others
        with self.tracer.span("kmeans.lloyd_2d"):
            return lloyd_2d(self.points, self.init, max_iter=self.iters, tol=-1.0)

    def check(self, result) -> str | None:
        if self.n_loaded != self.n_used:
            return f"read_points_text loaded {self.n_loaded} rows, expected {self.n_used}"
        err = self.init_error()
        if err is not None:
            return err
        if not golden.centroids_match(result, self.golden):
            diff = np.max(np.abs(np.asarray(result) - self.golden))
            return f"centroids differ from the NumPy golden (max abs diff {diff:.3g})"
        return None


class KMeansLoop(KMeansWorkload):
    """The paper's shape: the first 10k lines of a birch-sized file."""

    name = "kmeans_loop"

    def _size(self, scale: float) -> None:
        self.n_file = max(int(100_000 * scale), 200)
        self.n_used = self.limit = max(int(10_000 * scale), 100)
        self.iters = 20 if scale >= 1 else 3

    def golden_init(self) -> list:
        # with a limit, ids are line numbers, so the md5 order replays
        ids = golden.md5_seed_ids(range(self.n_used), self.k, self.seed)
        return [tuple(map(float, self.pts[i])) for i in ids]

    def init_error(self) -> str | None:
        if list(self.init) != self.golden_init():
            return "seed_centroids_2d picked other rows than the md5 order"
        return None


class KMeansBulk(KMeansWorkload):
    """The same generator at scale, read on the parallel path."""

    name = "kmeans_bulk"
    min_warm = 5

    def _size(self, scale: float) -> None:
        self.n_file = self.n_used = max(int(1_000_000 * scale), 1000)
        self.limit = None
        self.iters = 5 if scale >= 1 else 2

    def golden_init(self) -> list:
        # ids on the parallel path are partition-encoded, so the md5
        # order cannot be replayed; init_error checks the init instead
        return self.init

    def init_error(self) -> str | None:
        have = {tuple(p) for p in self.pts.tolist()}
        init = {(float(x), float(y)) for x, y in self.init}
        if len(init) != self.k or any((int(x), int(y)) not in have or x != int(x) for x, y in init):
            return "seed_centroids_2d did not return k distinct input points"
        return None


class DedupChain(Workload):
    """SemDeDup survivors then MinHash components, from the registry."""

    name = "dedup_chain"
    queries = ("dedup_semantic_survivors", "dedup_components")
    min_warm = 5

    def __init__(self, seed: int, scale: float, work: str, tracer, repo_root: str):
        self.seed = seed
        self.tracer = tracer
        self.repo_root = repo_root
        self.n_docs = max(int(5000 * scale), 200)
        self.n_emb = max(int(2000 * scale), 100)
        self.base = os.path.join(work, "base")

    @property
    def rows(self) -> int:
        return self.n_docs + self.n_emb

    @property
    def dist_evals(self) -> int:
        # the stage-1 K-Means cell assignment: every embedding against
        # the k=8 SemDeDup cells
        return self.n_emb * 8

    def prepare(self) -> None:
        os.makedirs(self.base)
        gen.write_parquet(
            os.path.join(self.base, "documents.parquet"), gen.documents(self.seed, self.n_docs)
        )
        gen.write_parquet(
            os.path.join(self.base, "embeddings.parquet"), gen.embeddings(self.seed, self.n_emb)
        )
        self.golden = golden.duckdb_oracle(self.base, list(self.queries), self.repo_root)
        self._canon = golden.load_canon(self.repo_root)

    def setup(self, spark) -> None:
        from kmeans_with_mapreduce_cuda_spark.sources.readers import load_table

        with self.tracer.span("sources.load_table"):
            self.n_loaded = sum(
                load_table(spark, self.base, t).count() for t in ("documents", "embeddings")
            )

    def op(self, spark):
        from kmeans_with_mapreduce_cuda_spark.plans import REGISTRY

        out = []
        for q in self.queries:
            with self.tracer.span(f"plans.{q}.build"):
                df = REGISTRY[q].fn(spark, self.base)
            self._count_jobs(f"plans.{q}.build")
            with self.tracer.span(f"plans.{q}.action"):
                df.write.format("noop").mode("overwrite").save()
            self._count_jobs(f"plans.{q}.action")
            out.append(df)
        return out

    def frames(self, result) -> list:
        return list(result)

    def check(self, result) -> str | None:
        if self.n_loaded != self.rows:
            return f"load_table loaded {self.n_loaded} rows, expected {self.rows}"
        for q, df in zip(self.queries, result):
            cols, want = self.golden[q]
            if sorted(df.columns) != cols:
                return f"{q}: columns {sorted(df.columns)} != oracle {cols}"
            got = self._canon(df.columns, [tuple(r) for r in df.collect()])
            if got != want:
                return f"{q}: {len(got)} rows differ from the DuckDB oracle ({len(want)} rows)"
        return None


WORKLOADS = {w.name: w for w in (KMeansLoop, KMeansBulk, DedupChain)}
