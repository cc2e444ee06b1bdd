"""Distributed K-Means (Lloyd's) over an embedding column.

Second iterative-fixpoint operator next to graph.connected_components:
embedding-space clustering for corpus curation (topic balancing,
diversity sampling, IVF coarse quantizers — similarity.assign_ivf_buckets
consumes exactly this shape). No reference counterpart (north-star
extension, BASELINE.json).

Determinism contract (same result on any partitioning / cluster size):
- init: centroids = the k smallest vec_ids (no RNG);
- update: centroid sums accumulate as floor(x * 1e9) int64 — integer
  addition is associative, so the new centroids are bit-identical no
  matter how the shuffle splits the rows (a float SUM is not);
- assign: per-row float64 math against identical centroid values, ties
  broken by lowest centroid index (numpy argmin semantics);
- converge: fixpoint on the SCALED-INT centroid representation — exact
  equality, no epsilon.

Scale design, per iteration:
- centroids are k*dim values — METADATA-sized; they ship to executors
  inside the Arrow-serialized closure (the standard distributed-KMeans
  shape, same as Spark MLlib): the data-path never collects; the k*dim
  partial-sum collect is O(kB).
- ONE mapInPandas pass per iteration computes assignments AND per-batch
  partial sums with vectorized numpy (||x-c||^2 via matrix ops) —
  dense-vector arithmetic is the documented Pandas-UDF case where JVM
  expression trees lose (interpreted higher-order functions were ~50x
  slower here); each Arrow batch emits only k*dim partial rows, so
  shuffle/collect volume is independent of row count;
- convergence needs NO extra job: centroid equality is checked on the
  driver against the previous iteration's scaled sums.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

SCALE = 1_000_000_000


def _sq_dist(vec: Column, centroid: list[float]) -> Column:
    """Squared L2 distance to a literal centroid (pure-expression path,
    used by assign_expr for callers that must avoid Python workers)."""
    c = F.array(*[F.lit(float(x)) for x in centroid])
    return F.aggregate(
        F.zip_with(vec.cast("array<double>"), c, lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def assign_expr(vec_col: str, centroids: list[list[float]]) -> Column:
    """Nearest-centroid index as a pure JVM expression chain (no Python
    worker). O(k*dim) interpreted work per row — fine for small k*dim or
    one-shot assignment; the kmeans loop uses the numpy path instead."""
    vec = F.col(vec_col)
    # one `least` over (distance, index) structs: lexicographic struct
    # ordering = min distance, ties to the lowest index — each distance
    # expression appears once (a sequential WHEN fold would nest every
    # prior step inside the next, doubling the tree per centroid)
    return F.least(
        *[
            F.struct(_sq_dist(vec, c).alias("d"), F.lit(j).alias("j"))
            for j, c in enumerate(centroids)
        ]
    )["j"]


def _assign_batches(id_col: str, vec_col: str, centroids: list[list[float]]):
    """mapInPandas fn: (id, cluster) rows via vectorized sq-distances."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)  # k x d
    c_sq = (C * C).sum(axis=1)  # k

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)  # n x d
            # ||x-c||^2 = x.x + c.c - 2 x.c ; x.x constant per row -> skip
            d2 = c_sq[None, :] - 2.0 * (X @ C.T)  # n x k
            yield pd.DataFrame(
                {"id": pdf[id_col].to_numpy(), "cluster": d2.argmin(axis=1)}
            )

    return fn


def _assign_and_partial_sums(vec_col: str, centroids: list[list[float]]):
    """mapInPandas fn: per-batch (cluster, dim, s, n) scaled-int partial
    sums — k*dim rows out per Arrow batch, row-count independent."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.float64)
    k, dim = C.shape
    c_sq = (C * C).sum(axis=1)

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            d2 = c_sq[None, :] - 2.0 * (X @ C.T)
            a = d2.argmin(axis=1)  # n
            Xs = np.floor(X * SCALE).astype(np.int64)  # scaled ints
            sums = np.zeros((k, dim), dtype=np.int64)
            counts = np.zeros(k, dtype=np.int64)
            for j in range(k):
                mask = a == j
                if mask.any():
                    sums[j] = Xs[mask].sum(axis=0)
                    counts[j] = int(mask.sum())
            idx = np.nonzero(counts)[0]
            yield pd.DataFrame(
                {
                    "cluster": np.repeat(idx, dim).astype(np.int32),
                    "dim": np.tile(np.arange(dim, dtype=np.int32), len(idx)),
                    "s": sums[idx].reshape(-1),
                    "n": np.repeat(counts[idx], dim),
                }
            )

    return fn


QSCALE = 1_000_000


def _quantized_assign_partials(vec_col: str, centroids: list[list[int]]):
    """mapInPandas fn for the quantized loop: per-batch (cluster, dim,
    s, n) int64 partial sums, all arithmetic exact integer."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.int64)  # k x d
    k, dim = C.shape

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            Xs = np.floor(X * QSCALE).astype(np.int64)
            d2 = np.empty((len(Xs), k), dtype=np.int64)
            for j in range(k):
                diff = Xs - C[j]
                d2[:, j] = (diff * diff).sum(axis=1)
            a = d2.argmin(axis=1)  # ties -> lowest index
            sums = np.zeros((k, dim), dtype=np.int64)
            counts = np.zeros(k, dtype=np.int64)
            for j in range(k):
                mask = a == j
                if mask.any():
                    sums[j] = Xs[mask].sum(axis=0)
                    counts[j] = int(mask.sum())
            idx = np.nonzero(counts)[0]
            yield pd.DataFrame(
                {
                    "cluster": np.repeat(idx, dim).astype(np.int32),
                    "dim": np.tile(np.arange(dim, dtype=np.int32), len(idx)),
                    "s": sums[idx].reshape(-1),
                    "n": np.repeat(counts[idx], dim),
                }
            )

    return fn


def _quantized_cluster_stats(vec_col: str, centroids: list[list[int]]):
    """mapInPandas fn: per-batch (cluster, n, inertia) partials against
    the FINAL centroids — exact int64 squared distances."""
    import numpy as np

    C = np.asarray(centroids, dtype=np.int64)
    k, _ = C.shape

    def fn(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.vstack(pdf[vec_col].to_numpy()).astype(np.float64)
            Xs = np.floor(X * QSCALE).astype(np.int64)
            d2 = np.empty((len(Xs), k), dtype=np.int64)
            for j in range(k):
                diff = Xs - C[j]
                d2[:, j] = (diff * diff).sum(axis=1)
            a = d2.argmin(axis=1)
            best = d2[np.arange(len(Xs)), a]
            idx = np.unique(a)
            yield pd.DataFrame(
                {
                    "cluster": idx.astype(np.int32),
                    "n": [int((a == j).sum()) for j in idx],
                    "inertia": [int(best[a == j].sum()) for j in idx],
                }
            )

    return fn


def kmeans_quantized_train(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    k: int = 8,
    iters: int = 3,
    init: list[list[int]] | None = None,
) -> list[list[int]]:
    """The training loop of `kmeans_quantized`, returning the FINAL
    integer centroids (scaled by QSCALE) — the piece IVF coarse
    quantizers consume (similarity.train_centroids_exact). Every
    quantity is exact int64 (quantize / argmin / floor-div update), so
    an independent engine unrolling the same `iters` reproduces these
    centroids bit-for-bit — which is what lets the oracle gate queries
    whose index was TRAINED, not just mod-sampled. Init = the k
    smallest ids, or `init` (scaled-int centroids — the WARM START a
    periodic offline retrain uses: resume from the serving centroids
    so the refreshed quantizer tracks data drift without re-deriving
    structure from scratch); empty clusters keep their previous
    centroid."""
    if init is not None:
        centroids = [[int(v) for v in c] for c in init]
        if len(centroids) != k:
            raise ValueError(
                f"init has {len(centroids)} centroids, expected k={k}"
            )
        dims = {len(c) for c in centroids}
        if len(dims) != 1:
            raise ValueError(
                f"init centroids have mixed dimensions {sorted(dims)}"
            )
    else:
        first = (
            df.select(id_col, vec_col)
            .orderBy(F.col(id_col).asc())
            .limit(k)
            .collect()
        )
        if len(first) < k:
            raise ValueError(
                f"need >= {k} rows to seed centroids, got {len(first)}"
            )
        centroids = [
            [
                int(__import__("math").floor(float(v) * QSCALE))
                for v in r[vec_col]
            ]
            for r in first
        ]
    dim = len(centroids[0])
    for _ in range(iters):
        parts = (
            df.select(vec_col)
            .mapInPandas(
                _quantized_assign_partials(vec_col, centroids),
                schema="cluster int, dim int, s long, n long",
            )
            .groupBy("cluster", "dim")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        sums: dict[int, list[int]] = {}
        counts: dict[int, int] = {}
        for r in parts:
            sums.setdefault(r["cluster"], [0] * dim)[r["dim"]] = r["s"]
            counts[r["cluster"]] = r["n"]
        centroids = [
            [sums[j][d] // counts[j] for d in range(dim)]  # exact floor div
            if j in sums
            else centroids[j]  # empty cluster keeps its old centroid
            for j in range(k)
        ]
    return centroids


def kmeans_quantized(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    k: int = 8,
    iters: int = 3,
) -> DataFrame:
    """Integer-exact quantized Lloyd's: cross-engine reproducible to the
    last bit, so a SQL oracle can replay it (the float variant below is
    deterministic within Spark but its argmin depends on float summation
    order, which no second engine reproduces).

    Every quantity is an integer: vectors quantize once as
    floor(double(x) * 1e6) (exact for |x| < 2^53 / 1e6); assignment is
    exact int64 argmin of squared distances with ties to the lowest
    cluster index; the centroid update is elementwise exact FLOOR
    division of the int sums by the member count (a deliberately
    quantized variant of the mean — the fixpoint argument is unchanged).
    `iters` is pinned with no early exit: once a fixpoint is reached,
    further iterations are identity, so a fixed count equals
    converge-then-stop whenever convergence happens earlier.

    Scale shape is identical to `kmeans`: one Arrow-batched mapInPandas
    pass per iteration emitting k*dim int partial-sum rows per batch
    (row-count independent), k*dim driver traffic, and a final pass
    emitting k-row (cluster, n_members, inertia_scaled) partials.

    Returns DataFrame(cluster, n_members, inertia_scaled) — the gateable
    derived result (sizes + integer inertia).
    """
    centroids = kmeans_quantized_train(
        df, vec_col, id_col, k=k, iters=iters
    )
    return (
        df.select(vec_col)
        .mapInPandas(
            _quantized_cluster_stats(vec_col, centroids),
            schema="cluster int, n long, inertia long",
        )
        .groupBy("cluster")
        .agg(
            F.sum("n").alias("n_members"),
            F.sum("inertia").alias("inertia_scaled"),
        )
    )


def kmeans(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    *,
    k: int = 8,
    max_iter: int = 20,
) -> tuple[DataFrame, list[list[float]], int]:
    """Returns (assignments DataFrame(id, cluster), centroids, n_iter).

    Converges when the scaled-int centroid representation reaches a
    fixpoint (exact, driver-side — no extra Spark job). The assignments
    DataFrame is lazily recomputable from the final centroids — safe to
    join downstream.
    """
    first = df.select(id_col, vec_col).orderBy(F.col(id_col).asc()).limit(k).collect()
    centroids = [list(map(float, r[vec_col])) for r in first]
    dim = len(centroids[0])
    # scaled-int fixpoint key for the initial centroids
    prev_key = None

    n_iter = 0
    for n_iter in range(1, max_iter + 1):
        parts = (
            df.select(vec_col)
            .mapInPandas(
                _assign_and_partial_sums(vec_col, centroids),
                schema="cluster int, dim int, s long, n long",
            )
            .groupBy("cluster", "dim")
            .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
            .collect()
        )
        sums: dict[int, list[int]] = {}
        counts: dict[int, int] = {}
        for r in parts:
            sums.setdefault(r["cluster"], [0] * dim)[r["dim"]] = r["s"]
            counts[r["cluster"]] = r["n"]
        key = tuple(
            (j, tuple(sums[j]), counts[j]) for j in sorted(sums)
        )
        centroids = [
            [sums[j][d] / SCALE / counts[j] for d in range(dim)]
            if j in sums
            else centroids[j]  # empty cluster keeps its old centroid
            for j in range(k)
        ]
        if key == prev_key:
            break
        prev_key = key

    assignments = df.select(id_col, vec_col).mapInPandas(
        _assign_batches(id_col, vec_col, centroids),
        schema="id long, cluster int",
    )
    return assignments, centroids, n_iter
