"""K-Means primitive layer: each reference MapReduce stage as an explicit,
oracle-checkable DataFrame transformation.

Reference pipeline per iteration (kmeans_mapreduce_core.cu:237-259):
  map: nearest-centroid assignment           (:21-35)   -> assign_2d/assign_nd
  shuffle: thrust sort by cluster_id         (:248)     -> implicit in groupBy
  segment index: per-key [start,len)         (:71-107)  -> implicit (hash agg)
  reduce: per-cluster sum/mean               (:108-139) -> update_2d / update_nd
  driver loop x ITERATIONS                   (:237)     -> lloyd_2d / lloyd_nd

Physical shape of lloyd_2d, chosen per fit from the optimizer's size
estimate for the points against spark.sql.autoBroadcastJoinThreshold
(the bound Spark already trusts to pull a relation to the driver):
- Within the threshold: the coordinates are collected to the driver ONCE
  (one Arrow collect, one Spark job per fit) and every iteration runs in
  NumPy in fixed-size row blocks -- the reference's copy-once-then-iterate
  shape (:232-235), with zero Spark jobs per iteration.
- Above it (or with the threshold at -1): one SQL statement per
  iteration.  Centroids are k literal values baked into a projection --
  the "broadcast" is the query plan itself -- so assignment is a pure
  narrow map: zero joins, zero shuffles.  The only shuffle is the
  groupBy(cluster_id) update, whose map-side partial aggregation (Spark's
  analog of the reference's shared-memory block reduction, :108-139)
  keeps it at k * num_partitions rows, not N; exactly k rows cross to the
  driver per iteration, the reference's cluster_info D2H copy (:250-251).
lloyd_nd and the seeding passes always take the Spark path.  Both
Lloyd entry points share one driver loop (_lloyd) and differ only in
the step function they hand it.

Semantics choices (SURVEY.md §2.1 fine print): float means (the documented
algorithm, README.md:43-61, not the racy block-partial reduce), ties to the
lowest cluster_id (strict < at :27), empty clusters keep the previous
centroid, seeded deterministic init (not the wall-clock RNG with its
inclusive-bound off-by-one, random_num_generator.hpp:17-28).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import stable_sample_key
from ..session import session_confs

#: 2-D centroids: ordered list of (x, y); index == cluster_id.
Centroids2D = Sequence[tuple[float, float]]
#: n-D centroids: ordered list of coordinate vectors; index == cluster_id.
CentroidsND = Sequence[Sequence[float]]


#: Session confs for the loops that plan one throwaway Spark job per pass
#: (lloyd_2d's SQL path, lloyd_nd, farthest-point seeding, k-means||,
#: mini-batch), applied with ``session_confs``: AQE off (its per-job
#: re-planning costs ~0.15 s and buys nothing on a k-row shuffle), a
#: narrow reduce stage (post-combine the shuffle carries k rows per map
#: partition; 32 reduce tasks for 15 keys is pure task-launch overhead),
#: and whole-stage codegen OFF: every iteration bakes new centroid
#: literals into the plan, so each Janino compile (~0.3 s) is thrown away
#: after one job -- expression-level codegen alone runs the 600k-row pass
#: at the same speed without the per-iteration compile.  Measured on
#: sf0.1: 0.62 -> 0.33 s/iteration cold (warm same-trajectory runs hit
#: the Janino cache either way).  Session-global by design (Spark confs
#: are session state), so the session must not plan unrelated queries
#: concurrently during the loop -- true for every harness/gate/bench
#: entry point, all single-threaded.
ITERATION_CONFS = {
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.codegen.wholeStage": "false",
}


# ---------------------------------------------------------------------------
# Map stage: nearest-centroid assignment (O3 + O4)
# ---------------------------------------------------------------------------

def _double_sql(v: float) -> str:
    """An exact double literal: CAST(repr AS DOUBLE) round-trips the
    double (plain SQL decimals would parse as DECIMAL type); nan/inf,
    which are not SQL tokens, go through the string cast."""
    v = float(v)
    return f"CAST({v!r} AS DOUBLE)" if math.isfinite(v) else f"CAST('{v!r}' AS DOUBLE)"


def _dists_sql_2d(centroids: Centroids2D, x: str, y: str) -> str:
    """Literal distance-array expression as ONE SQL string: a k=15 loop
    of Python Column algebra costs ~100 py4j round trips per iteration;
    one expr() parse is ~free."""
    terms = []
    for cx, cy in centroids:
        lx, ly = _double_sql(cx), _double_sql(cy)
        terms.append(
            f"((`{x}` - {lx}) * (`{x}` - {lx}) + (`{y}` - {ly}) * (`{y}` - {ly}))"
        )
    return f"array({','.join(terms)})"


def assign_2d(
    points: DataFrame,
    centroids: Centroids2D,
    x: str = "x",
    y: str = "y",
    out: str = "cluster_id",
    keep_dist: bool = False,
) -> DataFrame:
    """Assign each point to its nearest centroid (squared Euclidean).

    The k distances are one literal array expression; argmin-with-
    ties-to-lowest-id is ``array_position(d, array_min(d)) - 1`` (first
    occurrence == lowest index == reference's strict ``<`` at
    kmeans_mapreduce_core.cu:27).  Narrow transformation: no shuffle.
    """
    d = points.withColumn("_dists", F.expr(_dists_sql_2d(centroids, x, y)))
    d = d.withColumn(
        out, (F.array_position("_dists", F.array_min("_dists")) - 1).cast("int")
    )
    if keep_dist:
        d = d.withColumn("_mindist", F.array_min("_dists"))
    return d.drop("_dists")


def _dists_sql_nd(centroids: CentroidsND, feats: str) -> str:
    """n-D literal distance-array as ONE SQL string over a pre-cast
    array<double> column ``feats``.

    Same zip_with/aggregate fold as functions.distance.sq_dist_arrays
    (identical float addition order -> bit-identical results), but
    rendered as SQL text: the Column-API formulation costs ~k*dim py4j
    round trips per plan build (~0.8 s for k=8, dim=64 before a single
    row moves); one parse is JVM-side and ~free.  Measured: build
    0.84 -> 0.25 s, exec unchanged.  (An explicit k*dim-term polynomial
    expansion was measured WORSE on both axes -- the 3000-node tree
    slows analysis and evaluation; keep the HOF form.)
    """
    entries = []
    for c in centroids:
        lits = ",".join(_double_sql(v) for v in c)
        entries.append(
            f"aggregate(zip_with(`{feats}`, array({lits}),"
            " (p, q) -> (p-q)*(p-q)),"
            " CAST(0.0 AS DOUBLE), (acc, v) -> acc+v)"
        )
    return f"array({','.join(entries)})"


def assign_nd(
    points: DataFrame,
    centroids: CentroidsND,
    features: str = "embedding",
    out: str = "cluster_id",
    keep_dist: bool = False,
) -> DataFrame:
    """n-D variant over an array<float/double> column (embeddings table)."""
    d = points.withColumn("_e", F.col(features).cast("array<double>"))
    d = d.withColumn("_dists", F.expr(_dists_sql_nd(centroids, "_e"))).drop(
        "_e"
    )
    d = d.withColumn(
        out, (F.array_position("_dists", F.array_min("_dists")) - 1).cast("int")
    )
    if keep_dist:
        d = d.withColumn("_mindist", F.array_min("_dists"))
    return d.drop("_dists")


# ---------------------------------------------------------------------------
# Reduce stage: per-cluster mean (O7 + O8/O9)
# ---------------------------------------------------------------------------

def update_2d(
    assigned: DataFrame, x: str = "x", y: str = "y", cluster: str = "cluster_id"
) -> DataFrame:
    """groupBy(cluster).agg(avg, count): Spark's partial+final hash
    aggregation IS the reference's two-level block reduction
    (kmeans_mapreduce_core.cu:108-139) -- map-side combine shrinks the
    shuffle to k rows per partition.
    """
    return assigned.groupBy(cluster).agg(
        F.avg(x).alias("cx"), F.avg(y).alias("cy"), F.count(F.lit(1)).alias("n")
    )


def update_nd(
    assigned: DataFrame,
    dim: int,
    features: str = "embedding",
    cluster: str = "cluster_id",
) -> DataFrame:
    """Per-cluster element-wise mean of an array column.

    Projects each dimension to its own column first so the aggregation is
    a plain multi-column avg with map-side combine -- the shuffle carries
    k * partitions rows of d doubles, never the N x d explode that a
    posexplode formulation would pay.

    Driver-side economy: expressions are passed as string batches
    (selectExpr / dict-agg), not per-dim Column objects -- for dim=64
    that is ~4 py4j round trips instead of ~200 (measured ~0.5 s of
    plan-build per call at dim=64).
    """
    proj = assigned.selectExpr(
        f"`{cluster}`", f"CAST(`{features}` AS ARRAY<DOUBLE>) AS _e"
    ).selectExpr(
        f"`{cluster}`", *[f"_e[{i}] AS _f{i}" for i in range(dim)]
    )
    agged = proj.groupBy(cluster).agg(
        {**{f"_f{i}": "avg" for i in range(dim)}, "*": "count"}
    )
    return agged.selectExpr(
        f"`{cluster}`",
        *[f"`avg(_f{i})` AS c{i}" for i in range(dim)],
        "`count(1)` AS n",
    )


# ---------------------------------------------------------------------------
# One step + driver loop (O12)
# ---------------------------------------------------------------------------

def _step_sql_2d(view: str, centroids: Centroids2D, x: str, y: str) -> str:
    """One assign+update iteration as a single SQL statement over a temp
    view.  Same expressions as assign_2d/update_2d (same _dists_sql_2d
    literal array, same first-occurrence argmin, same avg/count), so the
    result is bit-identical -- but the per-iteration driver cost is ONE
    spark.sql parse instead of ~10 py4j DataFrame-building round trips,
    which is the measured difference between 2.3 s and 2.0 s for the
    birch-10k 20-iteration parity run (the per-job floor, NOTES.md)."""
    dists = _dists_sql_2d(centroids, x, y)
    return f"""
        SELECT cluster_id, avg(`{x}`) AS cx, avg(`{y}`) AS cy,
               count(1) AS n
        FROM (SELECT `{x}`, `{y}`,
                     array_position(d, array_min(d)) - 1 AS cluster_id
              FROM (SELECT `{x}`, `{y}`, {dists} AS d FROM {view}))
        GROUP BY cluster_id
    """


#: rows per block of the driver-side Lloyd step: bounds its (block, k)
#: double temporaries to block * k * 8 bytes each (~1 MB at k=15, so they
#: stay in cache: 1M points, k=15 took 145 ms/step at 2^13 rows vs 239 ms
#: at 2^16 on a 4-core x86 host)
_DRIVER_BLOCK = 1 << 13


def _fits_on_driver(points: DataFrame) -> bool:
    """True when the optimizer's size estimate for ``points`` is within
    ``spark.sql.autoBroadcastJoinThreshold`` -- the bound Spark already
    trusts to pull a relation to the driver (``-1``: never).  Reads plan
    statistics only; launches no job."""
    jconf = points.sparkSession._jsparkSession.sessionState().conf()
    limit = int(jconf.autoBroadcastJoinThreshold())
    if limit < 0:
        return False
    size = points._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
    return int(size) <= limit


def _argmin_nan_last(d):
    """Row argmin under Spark's double ordering (NaN above +inf, NaN ==
    NaN): what ``array_position(d, array_min(d)) - 1`` picks when a
    distance is NaN.  Ties still go to the lowest index."""
    import numpy as np

    nan = np.isnan(d)
    lab = np.where(nan, np.inf, d).argmin(axis=1)
    # a NaN won only because every non-NaN entry is +inf: take the first
    # non-NaN one (an all-NaN row stays at 0, like Spark's)
    fix = nan[np.arange(len(d)), lab] & ~nan.all(axis=1)
    lab[fix] = (~nan[fix]).argmax(axis=1)
    return lab


def _driver_step_2d(points: DataFrame, x: str, y: str):
    """Collect ``points``' coordinates once (one Spark job) and return
    the Lloyd step over them in NumPy: the same double distance
    ``(x-cx)*(x-cx)+(y-cy)*(y-cy)``, first-occurrence argmin and
    sum / count means as _step_sql_2d.  Rows with a NULL coordinate are
    dropped.  Returns {cluster_id: (cx, cy)} for non-empty clusters."""
    import numpy as np

    tbl = (
        points.select(F.col(x).cast("double"), F.col(y).cast("double"))
        .toArrow()
        .drop_null()
    )
    xs = tbl.column(0).to_numpy()
    ys = tbl.column(1).to_numpy()
    finite = bool(np.isfinite(xs).all() and np.isfinite(ys).all())

    def step(cents):
        c = np.array(cents, dtype=np.float64).reshape(-1, 2)
        k = len(c)
        # finite points and centroids give no NaN distance
        plain = finite and bool(np.isfinite(c).all())
        sx, sy, n = np.zeros(k), np.zeros(k), np.zeros(k, dtype=np.int64)
        for lo in range(0, len(xs), _DRIVER_BLOCK):
            bx, by = xs[lo:lo + _DRIVER_BLOCK], ys[lo:lo + _DRIVER_BLOCK]
            d = bx[:, None] - c[:, 0]
            d *= d
            dy = by[:, None] - c[:, 1]
            dy *= dy
            d += dy
            lab = d.argmin(axis=1) if plain else _argmin_nan_last(d)
            sx += np.bincount(lab, weights=bx, minlength=k)
            sy += np.bincount(lab, weights=by, minlength=k)
            n += np.bincount(lab, minlength=k)
        return {
            int(i): (float(sx[i] / n[i]), float(sy[i] / n[i]))
            for i in np.flatnonzero(n)
        }

    return step


def _spark_step_2d(points: DataFrame, x: str, y: str):
    """The distributed Lloyd step: one _step_sql_2d statement, i.e. one
    Spark job, per call.  Returns {cluster_id: (cx, cy)} for non-empty
    clusters; the NULL group (points with a NULL coordinate) is skipped
    here rather than filtered in the plan."""
    spark = points.sparkSession
    # The view is deliberately NOT dropped afterwards: dropTempView on a
    # view over a cached DataFrame invalidates the cache's materialized
    # buffers even though the registration survives -- every subsequent
    # pass over ``points`` (this loop's next call, the caller's own
    # queries) re-scans the source, measured 0.17 -> 0.7 s/iteration at
    # sf0.1, permanently.  The per-object name makes re-registration
    # idempotent; the leaked catalog entry is metadata only.
    view = f"_lloyd2d_pts_{id(points)}"
    points.createOrReplaceTempView(view)

    def step(cents):
        rows = spark.sql(_step_sql_2d(view, cents, x, y)).collect()
        return {
            int(r["cluster_id"]): (float(r["cx"]), float(r["cy"]))
            for r in rows
            if r["cluster_id"] is not None
        }

    return step


def _lloyd(step, init, max_iter: int, tol: float):
    """Lloyd's driver loop: ``step`` maps the current centroids to
    {cluster_id: new centroid} for the non-empty clusters; empty
    clusters keep their previous centroid, and the loop stops once no
    centroid moved more than ``tol``."""
    cents = init
    for _ in range(max_iter):
        got = step(cents)
        new = [got.get(i, c) for i, c in enumerate(cents)]
        shift = max(math.dist(n, o) for n, o in zip(new, cents))
        cents = new
        if shift <= tol:
            break
    return cents


def lloyd_2d(
    points: DataFrame,
    init: Centroids2D,
    max_iter: int = 20,
    tol: float = 1e-6,
    x: str = "x",
    y: str = "y",
) -> list[tuple[float, float]]:
    """Lloyd's iterations with an actual convergence test (the reference's
    README documents one but the loop is a fixed 999 rounds,
    config.cuh:11 vs README.md:20-22 -- we expose both maxIter and tol).

    Two physical paths, chosen by :func:`_fits_on_driver` (the plan's
    size estimate against ``spark.sql.autoBroadcastJoinThreshold``):

    - within the threshold, the coordinates are collected ONCE (one
      Arrow collect, one Spark job per fit) and every iteration runs in
      NumPy on the driver, in fixed-size row blocks -- the reference's
      copy-once-then-iterate shape (kmeans_mapreduce_core.cu:232-235),
      with no per-iteration parse, plan or job;
    - above it (or with the threshold at -1), each iteration is one SQL
      statement, i.e. one Spark job, over ``points`` (cached by the
      caller), under ``ITERATION_CONFS``; the k new centroid literals
      are re-baked into the plan each time, so lineage stays one stage
      deep.

    Both compute the same double distances, ties to the lowest
    cluster_id, sum / count means and keep-previous empty clusters, so
    on integer coordinates (exact sums) they return equal centroids.
    Points with a NULL coordinate are skipped.
    """
    cents = [tuple(map(float, c)) for c in init]
    if _fits_on_driver(points):
        return _lloyd(_driver_step_2d(points, x, y), cents, max_iter, tol)
    step = _spark_step_2d(points, x, y)
    with session_confs(points.sparkSession, ITERATION_CONFS):
        return _lloyd(step, cents, max_iter, tol)


def _step_sql_nd(
    view: str, centroids: CentroidsND, dim: int, features: str
) -> str:
    """One n-D assign+update iteration as a single SQL statement (the
    n-D twin of _step_sql_2d; same expressions as assign_nd/update_nd
    so results are bit-identical)."""
    dists = _dists_sql_nd(centroids, "_e")
    avgs = ",".join(f"avg(_e[{i}]) AS c{i}" for i in range(dim))
    return f"""
        SELECT cluster_id, {avgs}, count(1) AS n
        FROM (SELECT _e,
                     array_position(d, array_min(d)) - 1 AS cluster_id
              FROM (SELECT _e, {dists} AS d
                    FROM (SELECT CAST(`{features}` AS ARRAY<DOUBLE>) AS _e
                          FROM {view})))
        GROUP BY cluster_id
    """


def _spark_step_nd(points: DataFrame, dim: int, features: str):
    """The n-D twin of _spark_step_2d: one _step_sql_nd statement (one
    Spark job) per call, returning {cluster_id: centroid} for non-empty
    clusters; the NULL group (rows with a NULL embedding) is skipped."""
    spark = points.sparkSession
    # not dropped afterwards -- see _spark_step_2d for why (dropTempView
    # invalidates the caller's cache buffers)
    view = f"_lloydnd_pts_{id(points)}"
    points.createOrReplaceTempView(view)

    def step(cents):
        rows = spark.sql(_step_sql_nd(view, cents, dim, features)).collect()
        return {
            int(r["cluster_id"]): [float(r[f"c{i}"]) for i in range(dim)]
            for r in rows
            if r["cluster_id"] is not None
        }

    return step


def lloyd_nd(
    points: DataFrame,
    init: CentroidsND,
    max_iter: int = 20,
    tol: float = 1e-6,
    features: str = "embedding",
) -> list[list[float]]:
    """n-D Lloyd loop over an array column: one SQL statement (one Spark
    job) per iteration, see _step_sql_2d for why.  Rows with a NULL
    embedding are skipped."""
    cents = [list(map(float, c)) for c in init]
    step = _spark_step_nd(points, len(cents[0]), features)
    with session_confs(points.sparkSession, ITERATION_CONFS):
        return _lloyd(step, cents, max_iter, tol)


def sse_2d(
    points: DataFrame, centroids: Centroids2D, x: str = "x", y: str = "y"
) -> float:
    """Sum of squared distances to assigned centroids (Lloyd's monotone
    objective -- the property tests assert it never increases).  0.0 on
    an empty input."""
    a = assign_2d(points, centroids, x, y, keep_dist=True)
    return float(a.agg(F.sum("_mindist")).collect()[0][0] or 0.0)


# ---------------------------------------------------------------------------
# Seeding (O2)
# ---------------------------------------------------------------------------

def seed_centroids_2d(
    points: DataFrame, k: int, seed: int = 42, key: str = "id", x: str = "x", y: str = "y"
) -> list[tuple[float, float]]:
    """Deterministic Forgy init: k rows by md5-order of the key column --
    uniform-ish, seeded, WITHOUT replacement, and reproducible across
    engines (replaces random_num_generator.hpp:17-28; fixes its inclusive
    upper bound and with-replacement draws, SURVEY.md §2.1).
    """
    rows = (
        points.select(key, x, y, stable_sample_key(key, seed).alias("_k"))
        .orderBy("_k", key)
        .limit(k)
        .collect()
    )
    return [(float(r[x]), float(r[y])) for r in rows]


def seed_centroids_farthest(
    points: DataFrame,
    k: int,
    key: str = "id",
    x: str = "x",
    y: str = "y",
) -> list[tuple[float, float]]:
    """Deterministic farthest-point (maxmin) init -- the k-means++ idea
    with the weighted RNG draw replaced by the argmax, so it is exactly
    reproducible and SQL-oracle-checkable (k-means++ picks ~the same
    spread in expectation; MLlib's k-means|| is the sampled scale-out
    variant).  Start = lowest-key row; each step picks the point
    farthest from its nearest chosen centroid, ties to the lowest key.

    Cost: k narrow scans, each ending in one max_by aggregate (partial
    agg -> 1 row per partition -> 1 row to the driver).  Nothing but k
    rows ever leaves the executors, so the 100 TB path is k passes over
    a cached projection.  The loop runs under ``ITERATION_CONFS`` --
    the lloyd_2d discipline (r10): every pass bakes fresh centroid
    literals into a throwaway plan and ends in a 1-row aggregate, so
    per-pass AQE re-planning and Janino compiles are pure overhead.
    """
    with session_confs(points.sparkSession, ITERATION_CONFS):
        first = points.select(key, x, y).orderBy(key).limit(1).collect()[0]
        cents: list[tuple[float, float]] = [(float(first[x]), float(first[y]))]
        for _ in range(k - 1):
            d = points.withColumn("_d", F.expr(_dists_sql_2d(cents, x, y)))
            best = d.select(
                F.expr(
                    f"max_by(struct(`{x}`, `{y}`), "
                    f"struct(array_min(_d), -`{key}`))"
                ).alias("s")
            ).collect()[0]["s"]
            cents.append((float(best[x]), float(best[y])))
    return cents


def seed_centroids_nd(
    points: DataFrame, k: int, seed: int = 42, key: str = "vec_id", features: str = "embedding"
) -> list[list[float]]:
    rows = (
        points.select(
            F.col(features).cast("array<double>").alias("_f"),
            stable_sample_key(key, seed).alias("_k"),
            key,
        )
        .orderBy("_k", key)
        .limit(k)
        .collect()
    )
    return [[float(v) for v in r["_f"]] for r in rows]
