"""Similarity search over embedding columns (array<float>).

Three tiers:
  * brute_force_topk      — exact top-k for one query vector; the scan is
                            embarrassingly parallel, reduction is a top-k
                            (TakeOrdered, no full sort shuffle).
  * ivf_topk              — IVF-style probed search: deterministic
                            centroid set, cluster assignment as a
                            broadcast nested-loop against a tiny centroid
                            table, then brute force inside probed buckets.
                            The scale path: at 100 TB the bucket id is a
                            partition key, so a probe touches only
                            nprobe/nlist of the data (partition pruning).
  * cosine_pairs          — near-duplicate pairs within a blocking key.

All cosine math uses sequential-order double accumulation
(functions.portable.dot_product) so an independent engine reproduces the
numbers bit-for-bit. Norms are precomputed once per vector (a narrow
projection) — cosine(a,b) = dot(a,b) / (norm_a * norm_b) yields the exact
same double either way, but pair joins then cost one dot product per
pair instead of three.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from fb_ads_bigquery_etl_spark.functions.portable import dot_product, l2_norm
from fb_ads_bigquery_etl_spark.operators.pq import _centroid_df, _write_centroid_sidecar
from fb_ads_bigquery_etl_spark.session import local_df


def _prepared(df: DataFrame, id_col: str, vec_col: str, *extra: str) -> DataFrame:
    """(id, vec: array<double>, norm, *extra) — one narrow pass."""
    from fb_ads_bigquery_etl_spark.operators.fuzzy_dedup import spread

    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    return spread(df).select(
        F.col(id_col).alias("id"),
        vec_d.alias("vec"),
        l2_norm(vec_d).alias("norm"),
        *[F.col(c) for c in extra],
    )


def brute_force_topk(
    df: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Exact cosine top-k against a literal query vector.

    The query vector is a literal array baked into the plan (the
    degenerate broadcast; its norm constant-folds). Scoring is a narrow
    projection; the reduction is TakeOrdered — no full-sort shuffle.
    Ties broken by id ascending for determinism.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    prep = _prepared(df, id_col, vec_col)
    scored = prep.select(
        F.col("id").alias(id_col),
        (dot_product(F.col("vec"), q) / (F.col("norm") * l2_norm(q))).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Batch k-nearest-neighbors: for EVERY query vector, the k nearest
    corpus vectors by cosine (self-matches on equal ids excluded).

    Shape: the query set broadcasts (batch similarity search — query
    batches are orders of magnitude smaller than the corpus), scoring is
    one narrow pass over the corpus, and the per-query top-k is a window
    over |queries| groups — parallelism scales with the query batch, not
    a handful of static keys. For corpus-vs-corpus kNN, route through
    IVF buckets (`assign_ivf_buckets`) as the blocking key instead of
    broadcasting.

    Returns (query_id, neighbor_id, score), k rows per query, ties
    broken by neighbor id ascending.
    """
    prep_c = _prepared(corpus, id_col, vec_col)
    prep_q = _prepared(queries, id_col, vec_col).select(
        F.col("id").alias("qid"),
        F.col("vec").alias("qvec"),
        F.col("norm").alias("qnorm"),
    )
    scored = (
        prep_c.join(F.broadcast(prep_q), F.col("id") != F.col("qid"))
        .select(
            F.col("qid").alias("query_id"),
            F.col("id").alias("neighbor_id"),
            (
                dot_product(F.col("vec"), F.col("qvec"))
                / (F.col("norm") * F.col("qnorm"))
            ).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def train_centroids(
    df: DataFrame,
    *,
    k: int = 32,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    max_iter: int = 20,
) -> DataFrame:
    """Train IVF centroids with the distributed k-means (clustering.kmeans)
    and return them in the (centroid_id, cvec, cnorm) shape every IVF
    entry point accepts. Trained centroids track the data distribution,
    so at a fixed nprobe more of each query's true neighbors fall inside
    probed buckets than with the deterministic mod-sample."""
    from fb_ads_bigquery_etl_spark.operators.clustering import kmeans

    _, cents, _ = kmeans(df, vec_col, id_col, k=k, max_iter=max_iter)
    rows = [(i, [float(x) for x in c]) for i, c in enumerate(cents)]
    cdf = local_df(
        df.sparkSession, rows, "centroid_id bigint, cvec array<double>"
    )
    return cdf.select(
        "centroid_id", "cvec", l2_norm(F.col("cvec")).alias("cnorm")
    )


def train_centroids_exact(
    df: DataFrame,
    *,
    k: int = 16,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    init: DataFrame | None = None,
) -> DataFrame:
    """Engine-exact TRAINED IVF centroids: integer-quantized Lloyd's
    (clustering.kmeans_quantized_train — quantize floor(x*1e6), exact
    int64 argmin with ties to the lowest index, floor-division update,
    a fixed iteration count) emitted in the (centroid_id, cvec, cnorm)
    shape every IVF entry point accepts; cvec = qc/1e6 — one IEEE
    division per coordinate, so an oracle unrolling the same training
    derives bit-identical doubles and every downstream cosine /
    tie-break replays exactly.

    This is the production IVF coarse-quantizer shape: nlist is FIXED
    (independent of corpus size, retrained offline as the corpus
    drifts), so bucket assignment is O(N * nlist) — linear in the
    corpus — where the deterministic id-mod sample's nlist grows with
    N and assignment goes quadratic. Training itself is also linear:
    one Arrow-batched partial-sum pass per iteration with k*dim-sized
    shuffle/collect traffic.

    Pass `init` (a previous train_centroids_exact result) to WARM-START
    the retrain — the periodic offline refresh this module's IVF
    docstrings promise: resume Lloyd's from the serving centroids over
    the grown corpus. cvec = qc/1e6 inverts EXACTLY via round(cvec*1e6)
    (the product is within 1 ulp of the integer), so a warm start
    round-trips bit-identically and the oracle chains two unrolled
    training blocks."""
    from fb_ads_bigquery_etl_spark.operators.clustering import (
        QSCALE,
        kmeans_quantized_train,
    )

    init_ints = None
    if init is not None:
        rows = sorted(
            init.select("centroid_id", "cvec").collect(),
            key=lambda r: r["centroid_id"],
        )
        init_ints = [
            [round(v * QSCALE) for v in r["cvec"]] for r in rows
        ]
    cents = kmeans_quantized_train(
        df, vec_col, id_col, k=k, iters=iters, init=init_ints
    )
    rows = [(j, [c / float(QSCALE) for c in cv]) for j, cv in enumerate(cents)]
    cdf = local_df(
        df.sparkSession, rows, "centroid_id bigint, cvec array<double>"
    )
    return cdf.select(
        "centroid_id", "cvec", l2_norm(F.col("cvec")).alias("cnorm")
    )


def assign_ivf_buckets(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_mod: int = 50,
    centroids: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """IVF clustering: assignment = broadcast nested-loop join vectors ×
    centroids keeping the nearest (max cosine, tie-break smallest
    centroid id). One dot product per (vector, centroid): both sides
    carry precomputed norms; the argmax aggregate is keyed on id alone
    (see inline note) so the hash aggregate never hashes the vector
    payload, and map-side combine collapses the nlist candidate rows
    per vector before the one exchange.

    Centroid source: pass `centroids` (the (centroid_id, cvec, cnorm)
    shape `train_centroids` produces) for k-means-trained buckets —
    better recall at fixed nprobe; default is the deterministic
    id % centroid_mod sample (reproducible without training, which the
    oracle-parity gate relies on).

    Returns (centroids, assigned); assigned = (id, vec, norm, bucket).
    """
    prep = _prepared(df, id_col, vec_col)
    if centroids is None:
        centroids = prep.filter((F.col("id") % centroid_mod) == 0).select(
            F.col("id").alias("centroid_id"),
            F.col("vec").alias("cvec"),
            F.col("norm").alias("cnorm"),
        )
    scored = prep.crossJoin(F.broadcast(centroids)).select(
        "id",
        "vec",
        "norm",
        "centroid_id",
        (
            dot_product(F.col("vec"), F.col("cvec"))
            / (F.col("norm") * F.col("cnorm"))
        ).alias("c_score"),
    )
    # argmax keyed on id ALONE (r14; was groupBy(id, vec, norm)): the
    # payload columns ride as first() aggregates instead of grouping
    # keys, so the hash aggregate hashes one long per candidate row
    # rather than a 64-double array — the map-side combine already
    # collapsed the nlist candidate rows per vector before the
    # exchange in both shapes (crossJoin output is partition-local),
    # so the exchange carries each vector once either way. (An r14
    # experiment replacing the join+agg with an nlist-literal argmax
    # projection removed the exchange but measured SLOWER end-to-end —
    # lazy 16-dot expressions re-evaluate per consumer and bloat every
    # plan with k*dim literals; reverted, evidence in
    # OPTIMIZATION_r14.md.)
    best = scored.groupBy("id").agg(
        F.first("vec").alias("vec"),
        F.first("norm").alias("norm"),
        F.max_by(
            F.col("centroid_id"), F.struct(F.col("c_score"), -F.col("centroid_id"))
        ).alias("bucket"),
    ).select("id", "vec", "norm", "bucket")
    return centroids, best


def ivf_topk(
    df: DataFrame,
    query_vec: list[float],
    *,
    k: int = 10,
    nprobe: int = 2,
    centroid_mod: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """IVF probed top-k: search only the nprobe buckets nearest the query.

    At scale the assigned table is written partitioned by bucket, so the
    probe is a partition-pruned scan of nprobe/nlist of the corpus.
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    centroids, assigned = assign_ivf_buckets(
        df,
        vec_col=vec_col,
        id_col=id_col,
        centroid_mod=centroid_mod,
        centroids=centroids,
    )
    probed = (
        centroids.select(
            "centroid_id",
            (dot_product(F.col("cvec"), q) / (F.col("cnorm") * l2_norm(q))).alias(
                "q_score"
            ),
        )
        .orderBy(F.col("q_score").desc(), F.col("centroid_id").asc())
        .limit(nprobe)
        .select("centroid_id")
    )
    in_buckets = assigned.join(
        F.broadcast(probed), assigned["bucket"] == probed["centroid_id"]
    )
    scored = in_buckets.select(
        F.col("id").alias(id_col),
        (dot_product(F.col("vec"), q) / (F.col("norm") * l2_norm(q))).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def build_ivf_index(
    df: DataFrame,
    path: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_mod: int = 50,
    centroids: DataFrame | None = None,
) -> None:
    """Materialize the IVF index: vectors parquet-partitioned BY BUCKET,
    centroids as a tiny sibling table.

    Pass `centroids=train_centroids(df, k=...)` to build the index over
    k-means-trained buckets (the recall path); default is the
    deterministic mod-sample (the reproducibility path).

    This is what makes ANN sublinear at 100 TB: a probe reads only the
    nprobe matching partition directories (Catalyst partition pruning on
    the `bucket` filter — no data files outside probed buckets are even
    listed), instead of re-scoring the whole corpus per query.
    """
    centroids, assigned = assign_ivf_buckets(
        df,
        vec_col=vec_col,
        id_col=id_col,
        centroid_mod=centroid_mod,
        centroids=centroids,
    )
    # one shuffle puts each bucket in exactly one task -> ONE file per
    # bucket (read-optimal: a probe opens nprobe files, not nprobe x
    # writer-task-count; same discipline as pq.build_ivfpq_index), STATIC
    # like it: a full rebuild leaves no vacated bucket behind
    assigned.repartition("bucket").write.mode("overwrite").option(
        "partitionOverwriteMode", "static"
    ).partitionBy("bucket").parquet(path)
    # nlist-sized sidecar, written through `storage`
    _write_centroid_sidecar(df.sparkSession, centroids, f"{path}_centroids")


def append_ivf_index(
    spark,
    delta: DataFrame,
    path: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """O(batch) IVF index maintenance: assign ONLY the new vectors
    against the index's FROZEN centroid table (the standard IVF
    append discipline — centroids retrain offline, appends route into
    the existing lists) and append them to their bucket partitions.
    Nothing existing is read or rewritten: the only data pass is over
    `delta`, and the parquet append adds files to touched bucket dirs
    without touching prior files (pytest-pinned). At 100 TB this is
    what keeps a vector index maintainable — a rebuild is a full
    corpus re-assignment; an append is one narrow pass over the new
    batch."""
    centroids = _centroid_df(spark, path)
    _, assigned = assign_ivf_buckets(
        delta, vec_col=vec_col, id_col=id_col, centroids=centroids
    )
    # one file per TOUCHED bucket per batch (see build_ivf_index)
    assigned.repartition("bucket").write.mode("append").partitionBy(
        "bucket"
    ).parquet(path)


def query_ivf_index(
    spark,
    path: str,
    query_vec: list[float],
    *,
    k: int = 10,
    nprobe: int = 2,
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe a persisted IVF index: pick nprobe nearest centroids
    (driver-side over the tiny centroid table), then partition-pruned
    scan + exact re-scoring inside those buckets only."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    cents = _centroid_df(spark, path)
    probed = [
        r["centroid_id"]
        for r in cents.select(
            "centroid_id",
            (dot_product(F.col("cvec"), q) / (F.col("cnorm") * l2_norm(q))).alias(
                "q_score"
            ),
        )
        .orderBy(F.col("q_score").desc(), F.col("centroid_id").asc())
        .limit(nprobe)
        .collect()
    ]
    data = spark.read.parquet(path).filter(F.col("bucket").isin(probed))
    scored = data.select(
        F.col("id").alias(id_col),
        (dot_product(F.col("vec"), q) / (F.col("norm") * l2_norm(q))).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def cosine_pairs(
    df: DataFrame,
    *,
    threshold: float = 0.99,
    block_col: str | None = "label",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    allow_full_cross: bool = False,
) -> DataFrame:
    """Embedding near-duplicate pairs with cosine >= threshold.

    ``block_col`` is the blocking key (pairs are only considered within a
    block — e.g. a coarse cluster/label, or an IVF bucket from
    `assign_ivf_buckets`). ``block_col=None`` is an exact-but-quadratic
    full cross product that cannot survive real corpus sizes, so it
    raises unless the caller explicitly opts in with
    ``allow_full_cross=True`` (test scales only).
    """
    if block_col is None and not allow_full_cross:
        raise ValueError(
            "cosine_pairs(block_col=None) is an unbounded quadratic "
            "cross-join; pass allow_full_cross=True to run it on test-"
            "scale data, or block on a label/IVF bucket column"
        )
    prep = _prepared(df, id_col, vec_col, *( [block_col] if block_col else [] ))
    left = prep.select(
        F.col("id").alias("id_a"),
        F.col("vec").alias("vec_a"),
        F.col("norm").alias("norm_a"),
        *([F.col(block_col).alias("blk_a")] if block_col else []),
    )
    right = prep.select(
        F.col("id").alias("id_b"),
        F.col("vec").alias("vec_b"),
        F.col("norm").alias("norm_b"),
        *([F.col(block_col).alias("blk_b")] if block_col else []),
    )
    cond = F.col("id_a") < F.col("id_b")
    if block_col:
        joined = left.join(right, (F.col("blk_a") == F.col("blk_b")) & cond)
    else:
        joined = left.crossJoin(right).filter(cond)
    return (
        joined.select(
            "id_a",
            "id_b",
            (
                dot_product(F.col("vec_a"), F.col("vec_b"))
                / (F.col("norm_a") * F.col("norm_b"))
            ).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    scale: int = 1_000_000_000,
) -> DataFrame:
    """Per-label centroid as (label, dim, sum_scaled, n) rows.

    posexplode -> groupBy(label, dim) is the scale path: map-side partial
    aggregation collapses each task's rows to |labels|*|dims| partials
    before the shuffle, so shuffle volume is independent of row count.

    Sums accumulate as floor(value * scale) BIGINTs — integer addition is
    associative, so the result is bit-identical for any partitioning and
    any engine (a double SUM is not); callers divide sum_scaled/(n*scale)
    for the centroid value.
    """
    return (
        df.select(label_col, F.posexplode(vec_col).alias("dim", "x"))
        .groupBy(label_col, "dim")
        .agg(
            F.sum(F.floor(F.col("x").cast("double") * scale).cast("long")).alias(
                "sum_scaled"
            ),
            F.count("*").alias("n"),
        )
    )


def zscore_norms(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    *extra: str,
) -> DataFrame:
    """Per-dimension z-score normalization, reported as the L2 norm of
    each normalized vector — the feature-scaling pass ahead of distance-
    based work (k-means, ANN) where raw dimensions have unequal spread.

    Two-phase, both scale-safe:
      1. posexplode -> groupBy(dim): per-dimension SUM/SUMSQ/COUNT with
         map-side partial aggregation, so shuffle volume is |dims| *
         #tasks partials regardless of row count. Sums accumulate as
         DECIMAL(28,12) — exact and associative, hence bit-identical
         across partitionings and engines (a double SUM is neither).
      2. The |dims|-row stats frame collapses to ONE row of (means[],
         stds[]) arrays (array_sort over collect_list — deterministic
         order by dim) and broadcasts back; per-row normalization is a
         narrow expression, no second shuffle over the data.

    Sums accumulate as floor(x * 1e12) integers widened to DECIMAL(28,0)
    — floor of a double is bit-identical everywhere, whereas a raw
    double->DECIMAL cast rounds HALF_UP in Spark and half-even in DuckDB
    (a real tie surfaced at the 12th digit in testing). mean/std then
    derive in a fixed double-op sequence (mean = s/n/1e12; var =
    sq/n/1e12 - mean*mean, clamped at 0), and the norm is a sequential
    in-order fold — DuckDB replays every step bit-for-bit. Dimensions
    with std == 0 contribute 0 to the norm.

    No reference counterpart (north-star extension, BASELINE.json).
    """
    from fb_ads_bigquery_etl_spark.functions.portable import bind

    # deliberately NOT _prepared(): its spread() round-robin repartition
    # exists for hash/shingle-heavy projections; here both consumers are
    # cheap narrow expressions, and on the stats branch the posexplode
    # partial-agg combines map-side AT THE SCAN — an extra shuffle ahead
    # of it would move |rows|*|dims| exploded values for nothing.
    e = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
        *[F.col(c) for c in extra],
    )
    pe = e.select(F.posexplode("vec").alias("dim", "x"))
    stats = pe.groupBy("dim").agg(
        F.sum(F.floor(F.col("x") * F.lit(1e12)).cast("decimal(28,0)")).alias("s"),
        F.sum(
            F.floor(F.col("x") * F.col("x") * F.lit(1e12)).cast("decimal(28,0)")
        ).alias("sq"),
        F.count("*").alias("n"),
    )

    def mean_of(r):
        return r["s"].cast("double") / r["n"] / F.lit(1e12)

    packed = (
        stats.agg(F.array_sort(F.collect_list(F.struct("dim", "s", "sq", "n"))).alias("a"))
        .select(
            F.transform("a", mean_of).alias("_means"),
            F.transform(
                "a",
                lambda r: F.sqrt(
                    F.greatest(
                        r["sq"].cast("double") / r["n"] / F.lit(1e12)
                        - mean_of(r) * mean_of(r),
                        F.lit(0.0),
                    )
                ),
            ).alias("_stds"),
        )
    )
    normed = e.join(F.broadcast(packed))
    z2 = F.transform(
        F.sequence(F.lit(0), F.size("vec") - 1),
        lambda i: bind(
            F.struct(
                F.get("vec", i).alias("x"),
                F.get("_means", i).alias("m"),
                F.get("_stds", i).alias("sd"),
            ),
            lambda b: F.when(
                b["sd"] > 0.0,
                ((b["x"] - b["m"]) / b["sd"]) * ((b["x"] - b["m"]) / b["sd"]),
            ).otherwise(F.lit(0.0)),
        ),
    )
    return normed.select(
        F.col("id").alias(id_col),
        *extra,
        F.sqrt(F.aggregate(z2, F.lit(0.0), lambda acc, v: acc + v)).alias("znorm"),
    )


def hyperplane_coeffs(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 random-hyperplane matrix for cosine LSH.

    Coefficients derive from md5 of "hp{plane}:{dim}" — reproducible on
    any engine/driver with no RNG state, so an independent oracle can
    embed the identical matrix as literals. ±1 entries keep the
    projection exact: each term is ±x (no rounding), so the hyperplane
    side decision is bit-identical everywhere.
    """
    import hashlib

    return [
        [
            1.0
            if int(hashlib.md5(f"hp{j}:{i}".encode()).hexdigest()[:8], 16) % 2
            else -1.0
            for i in range(dim)
        ]
        for j in range(num_planes)
    ]


def lsh_bucket(vec: Column, coeffs: list[list[float]]) -> Column:
    """Random-hyperplane LSH bucket id (SimHash over the vector): bit j
    set iff the plane-j projection is > 0. Narrow expression — one
    in-order fold per plane; at scale the bucket is the partition key
    of a persisted index (mirroring build_ivf_index)."""
    bits = []
    for j, row in enumerate(coeffs):
        lit = F.array(*[F.lit(c) for c in row])
        dot = F.aggregate(
            F.zip_with(vec, lit, lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(dot > 0.0, F.lit(1 << j)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out + b
    return out.cast("long")


def lsh_topk(
    df: DataFrame,
    query_id: int,
    *,
    k: int = 10,
    num_planes: int = 8,
    dim: int = 64,
    max_hamming: int = 1,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Hyperplane-LSH probed top-k: score only vectors whose bucket is
    within `max_hamming` bits of the query's bucket (multi-probe LSH),
    then exact cosine inside the candidate set.

    The third ANN tier next to brute_force_topk (exact baseline) and
    ivf_topk (trained partitions): LSH needs NO training pass — the
    bucket is a pure per-row expression, so ingest-time indexing is a
    narrow projection and a partitioned write. The probe condition
    (bit_count(bucket XOR q_bucket) <= h) prunes to ~sum_{i<=h} C(b,i)
    / 2^b of the corpus; the 1-row query side broadcasts.
    """
    coeffs = hyperplane_coeffs(num_planes, dim)
    prep = _prepared(df, id_col, vec_col)
    cand = prep.withColumn("bucket", lsh_bucket(F.col("vec"), coeffs))
    q = (
        cand.filter(F.col("id") == query_id)
        .select(
            F.col("vec").alias("qvec"),
            F.col("norm").alias("qnorm"),
            F.col("bucket").alias("qbucket"),
        )
    )
    probed = cand.join(
        F.broadcast(q),
        F.bit_count(F.col("bucket").bitwiseXOR(F.col("qbucket")))
        <= F.lit(max_hamming),
    )
    scored = probed.select(
        F.col("id").alias(id_col),
        (
            dot_product(F.col("vec"), F.col("qvec"))
            / (F.col("norm") * F.col("qnorm"))
        ).alias("score"),
    )
    return scored.orderBy(F.col("score").desc(), F.col(id_col).asc()).limit(k)


def semdedup(
    df: DataFrame,
    *,
    threshold: float = 0.99,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroid_mod: int = 50,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic dedup via embedding
    clusters — cluster the corpus, compare pairs ONLY within a cluster,
    drop every vector with a >= threshold neighbor of smaller id in its
    cluster (the cluster-local min-id representative of each near-dup
    relation survives).

    Composition of existing machinery, no new shuffles invented:
    `assign_ivf_buckets` (broadcast nested-loop against a tiny centroid
    table; pass `centroids` from `train_centroids` for k-means buckets,
    default is the deterministic mod-sample the oracle replays) feeds
    `cosine_pairs` blocked on the bucket, so the quadratic pair step is
    bounded by the largest CLUSTER, never the corpus — the property
    that makes SemDeDup run where all-pairs cosine cannot. Returns one
    row per vector: (id, bucket, n_dup_neighbors, is_kept) —
    integer/boolean verdict columns only, so the gate is independent of
    last-ulp float formatting.
    """
    _, assigned = assign_ivf_buckets(
        df,
        vec_col=vec_col,
        id_col=id_col,
        centroid_mod=centroid_mod,
        centroids=centroids,
    )
    # assigned = (id, vec, norm, bucket); reuse the pair machinery on a
    # renamed view so cosine_pairs' _prepared pass is a no-op projection
    blocked = assigned.select(
        F.col("id").alias(id_col), F.col("vec").alias(vec_col), "bucket"
    )
    pairs = cosine_pairs(
        blocked,
        threshold=threshold,
        block_col="bucket",
        vec_col=vec_col,
        id_col=id_col,
    )
    # a vector is removed iff it is the LARGER id of any qualifying pair
    dup_counts = pairs.groupBy(F.col("id_b").alias("id")).agg(
        F.count("*").alias("n_dup_neighbors")
    )
    return (
        assigned.select("id", "bucket")
        .join(dup_counts, "id", "left")
        .select(
            "id",
            "bucket",
            F.coalesce(F.col("n_dup_neighbors"), F.lit(0))
            .cast("long")
            .alias("n_dup_neighbors"),
            (F.coalesce(F.col("n_dup_neighbors"), F.lit(0)) == 0).alias(
                "is_kept"
            ),
        )
    )


def int_dot(a, b):
    """Exact integer dot product of two int arrays (BIGINT accumulate)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def quantize_int8(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Symmetric per-vector int8 quantization: q_i = floor(x_i * 127/m)
    with m = max|x_i| (q in [-128, 127]).

    The memory-bandwidth lever real 100 TB vector search pulls: int8
    vectors are 4-8x smaller than float32/64, so a scan-heavy ANN pass
    moves 4-8x less data, and the scoring dot product is exact INTEGER
    arithmetic (engine-bit-identical by construction — no float
    accumulation order to match). Returns (id, qvec array<long>,
    qnorm2 long) — qnorm2 is the integer self-dot, so downstream
    cosine = dot / (sqrt(qnorm2_a) * sqrt(qnorm2_b)) touches floats
    only in IEEE-correctly-rounded sqrt/div/mul, which every engine
    reproduces bit-for-bit.
    """
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))

    def q_of(v):
        m = F.array_max(F.transform(v, F.abs))
        return F.when(
            m > 0,
            F.transform(v, lambda x: F.floor(x * (F.lit(127.0) / m))),
        ).otherwise(F.transform(v, lambda x: F.lit(0).cast("long")))

    from fb_ads_bigquery_etl_spark.functions.portable import bind

    qvec = bind(vec_d, q_of)
    return df.select(
        F.col(id_col).alias("id"),
        qvec.alias("qvec"),
    ).withColumn("qnorm2", int_dot(F.col("qvec"), F.col("qvec")))


def quantized_knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """knn_join over int8-quantized vectors: same broadcast-queries /
    narrow-scan / per-query-top-k shape, but the scoring dot product is
    exact integer arithmetic over 4-8x smaller vectors. Returns
    (query_id, neighbor_id, qscore)."""
    qc = quantize_int8(corpus, vec_col=vec_col, id_col=id_col)
    qq = quantize_int8(queries, vec_col=vec_col, id_col=id_col).select(
        F.col("id").alias("qid"),
        F.col("qvec").alias("qqvec"),
        F.col("qnorm2").alias("qqnorm2"),
    )
    scored = qc.join(F.broadcast(qq), F.col("id") != F.col("qid")).select(
        F.col("qid").alias("query_id"),
        F.col("id").alias("neighbor_id"),
        (
            int_dot(F.col("qvec"), F.col("qqvec")).cast("double")
            / (
                F.sqrt(F.col("qnorm2").cast("double"))
                * F.sqrt(F.col("qqnorm2").cast("double"))
            )
        ).alias("qscore"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("qscore").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def quantized_recall(
    df: DataFrame,
    *,
    k: int = 10,
    n_queries: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of int8-quantized ANN against the exact float top-k —
    the accuracy-vs-bandwidth audit a production corpus runs before
    switching its retrieval scan to quantized vectors. One row per
    query: (query_id, n_exact, n_overlap); both sides are broadcast-
    query scans, so the whole audit is two narrow corpus passes."""
    queries = df.filter(F.col(id_col) < n_queries)
    exact = knn_join(df, queries, k=k, vec_col=vec_col, id_col=id_col)
    quant = quantized_knn_join(
        df, queries, k=k, vec_col=vec_col, id_col=id_col
    )
    # both sides of the recall joins are k x |queries| top-k frames —
    # broadcast them so no sort-merge ever touches these bounded sets
    hits = exact.join(
        F.broadcast(quant.select("query_id", "neighbor_id")),
        ["query_id", "neighbor_id"],
    )
    per_exact = exact.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_exact")
    )
    per_hit = hits.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_overlap")
    )
    return (
        per_exact.join(F.broadcast(per_hit), "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce(F.col("n_overlap"), F.lit(0))
            .cast("long")
            .alias("n_overlap"),
        )
        .orderBy("query_id")
    )


def jl_sign(i: int, j: int) -> int:
    """Deterministic ±1 sign for the (i, j) cell of the JL projection
    matrix — md5 parity of 'jl:i:j', the same construction both the
    Spark expressions and the DuckDB oracle inline as literals."""
    import hashlib

    return 1 - 2 * (
        int(hashlib.md5(f"jl:{i}:{j}".encode()).hexdigest()[:8], 16) % 2
    )


def jl_project(
    df: DataFrame,
    *,
    in_dim: int,
    out_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """Johnson-Lindenstrauss sign-projection to `out_dim` dims — the
    DIMENSION lever of vector-scan bandwidth (complement of
    quantize_int8's dtype lever): p_j = sum_i s_ij * w_i with s_ij a
    deterministic ±1 matrix (Achlioptas 2003 database-friendly JL) and
    w_i = floor(x_i * scale) — integer inputs, so every projected
    coordinate and every downstream dot product is EXACT int64
    arithmetic with no accumulation-order float drift. The scan-
    bandwidth win is out_dim/in_dim (each p_j fits int32 at rest); JL
    bounds the pairwise-geometry distortion at ~sqrt(in/out) noise,
    and `jl_recall` measures the actual hit on this corpus before a
    production scan switches. Overflow headroom: |w_i| <= scale *
    max|x|, |p_j| <= in_dim * that, dot <= out_dim * p^2 — ~5e16 at
    (64, 32, 1e6) with unit-scale inputs, inside int64. Returns
    (id, pvec array<long>, pnorm2 long)."""
    w = F.transform(
        F.col(vec_col), lambda x: F.floor(x.cast("double") * scale).cast("long")
    )

    from fb_ads_bigquery_etl_spark.functions.portable import bind

    def proj(wb):
        return F.array(
            *[
                F.aggregate(
                    F.zip_with(
                        wb,
                        F.array(
                            *[
                                F.lit(jl_sign(i, j)).cast("long")
                                for i in range(in_dim)
                            ]
                        ),
                        lambda a, s: a * s,
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                )
                for j in range(out_dim)
            ]
        )

    return df.select(
        F.col(id_col).alias("id"), bind(w, proj).alias("pvec")
    ).withColumn("pnorm2", int_dot(F.col("pvec"), F.col("pvec")))


def jl_project_pandas(
    df: DataFrame,
    *,
    in_dim: int,
    out_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    scale: int = 1_000_000,
) -> DataFrame:
    """Arrow-batched production twin of `jl_project` — bit-identical
    output (property-tested, tests/test_ivf_index.py), ~10x faster:
    the projection is a dense integer matmul, which is numpy's home
    turf and the interpreted-HOF expression path's worst case (2048
    multiply-adds per row through Catalyst lambda evaluation). One
    W @ S per Arrow batch, exact int64 throughout (|products| and
    row sums both far inside int64 at the documented envelopes);
    zero shuffle, scales as a pure map stage."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    S = np.array(
        [[jl_sign(i, j) for j in range(out_dim)] for i in range(in_dim)],
        dtype=np.int64,
    )

    def _proj_fn(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        W = np.floor(
            np.stack(vecs.to_numpy()).astype(np.float64) * scale
        ).astype(np.int64)
        P = W @ S
        return pd.Series(list(P))

    # real annotation objects (not strings): the module-level
    # `from __future__ import annotations` would stringify inline hints
    # and pandas is imported locally, so Spark's hint inference could
    # not resolve 'pd.Series'
    _proj_fn.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    _proj = pandas_udf(_proj_fn, "array<long>")

    out = df.select(
        F.col(id_col).alias("id"), _proj(F.col(vec_col)).alias("pvec")
    )
    return out.withColumn("pnorm2", int_dot(F.col("pvec"), F.col("pvec")))


def jl_knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 3,
    in_dim: int,
    out_dim: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """knn_join in JL-projected space: broadcast-queries / narrow-scan
    / per-query-top-k over out_dim-wide integer vectors. Returns
    (query_id, neighbor_id, pscore) — pscore is projected cosine,
    floats touched only in IEEE sqrt/div (engine-reproducible).
    Projection runs through the Arrow-batched twin (bit-identical to
    the `jl_project` expression spec by property test)."""
    pc = jl_project_pandas(
        corpus, in_dim=in_dim, out_dim=out_dim, vec_col=vec_col, id_col=id_col
    )
    pq = jl_project_pandas(
        queries, in_dim=in_dim, out_dim=out_dim, vec_col=vec_col, id_col=id_col
    ).select(
        F.col("id").alias("qid"),
        F.col("pvec").alias("qpvec"),
        F.col("pnorm2").alias("qpnorm2"),
    )
    scored = pc.join(F.broadcast(pq), F.col("id") != F.col("qid")).select(
        F.col("qid").alias("query_id"),
        F.col("id").alias("neighbor_id"),
        (
            int_dot(F.col("pvec"), F.col("qpvec")).cast("double")
            / (
                F.sqrt(F.col("pnorm2").cast("double"))
                * F.sqrt(F.col("qpnorm2").cast("double"))
            )
        ).alias("pscore"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("pscore").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def jl_recall(
    df: DataFrame,
    *,
    k: int = 10,
    n_queries: int = 10,
    in_dim: int,
    out_dim: int = 32,
    expand: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of the production JL retrieval shape — projected-space
    top-(k*expand) CANDIDATES, exact float rerank of only those — vs
    the exact float top-k. The dimension-reduction twin of
    quantized_recall: the narrow projected scan does the corpus-sized
    work, the full-width vectors are touched for only k*expand rows per
    query, and this audit prices JL's distortion on THIS corpus before
    a production scan switches. (Direct projected top-k without the
    rerank stage is jl_knn_join — on a near-isotropic corpus its naked
    recall is poor, which is exactly why the rerank stage exists.) One
    row per query: (query_id, n_exact, n_overlap)."""
    queries = df.filter(F.col(id_col) < n_queries)
    exact = knn_join(df, queries, k=k, vec_col=vec_col, id_col=id_col)
    cand = jl_knn_join(
        df,
        queries,
        k=k * expand,
        in_dim=in_dim,
        out_dim=out_dim,
        vec_col=vec_col,
        id_col=id_col,
    ).select("query_id", "neighbor_id")
    # exact rerank of only the candidate rows: the k*expand x n_queries
    # candidate frame broadcasts into the corpus to fetch full-width
    # vectors, then scores with the SAME float cosine as knn_join
    from fb_ads_bigquery_etl_spark.functions.portable import (
        cosine_similarity,
    )

    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cvecs = df.select(
        F.col(id_col).alias("neighbor_id"), vec_d.alias("_cv")
    )
    qvecs = queries.select(
        F.col(id_col).alias("query_id"), vec_d.alias("_qv")
    )
    reranked = (
        cvecs.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("_cv"), F.col("_qv")).alias("rscore"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rscore").desc(), F.col("neighbor_id").asc()
    )
    proj = (
        reranked.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select("query_id", "neighbor_id")
    )
    hits = exact.join(
        F.broadcast(proj.select("query_id", "neighbor_id")),
        ["query_id", "neighbor_id"],
    )
    per_exact = exact.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_exact")
    )
    per_hit = hits.groupBy("query_id").agg(
        F.count("*").cast("long").alias("n_overlap")
    )
    return (
        per_exact.join(F.broadcast(per_hit), "query_id", "left")
        .select(
            "query_id",
            "n_exact",
            F.coalesce(F.col("n_overlap"), F.lit(0))
            .cast("long")
            .alias("n_overlap"),
        )
        .orderBy("query_id")
    )


def mmr_rerank(
    df: DataFrame,
    query_vec: list[float],
    *,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Maximal-marginal-relevance reranking (Carbonell & Goldstein 1998)
    — the diversification step between retrieval and the context
    window: greedily pick k results maximizing
    lam*relevance - (1-lam)*max_similarity_to_already_selected.

    Scale shape: ONE narrow corpus pass reduces to the top-`pool`
    relevance candidates (TakeOrdered); everything after — the pool x
    pool similarity matrix and the k greedy steps — operates on
    pool-bounded frames (metadata-sized), unrolled lazily like the BPE
    fixpoint with a per-step 1-row checkpoint. Ties break on id
    ascending; all scoring is engine-exact double arithmetic. Returns
    (rank, id, score).
    """
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    prep = _prepared(df, id_col, vec_col)
    rel = (
        prep.select(
            "id",
            "vec",
            (dot_product(F.col("vec"), q) / (F.col("norm") * l2_norm(q))).alias(
                "rel"
            ),
            "norm",
        )
        .orderBy(F.col("rel").desc(), F.col("id").asc())
        .limit(pool)
        .localCheckpoint(eager=True)
    )
    sims = (
        rel.select(
            F.col("id").alias("ia"), F.col("vec").alias("va"),
            F.col("norm").alias("na"),
        )
        .join(
            rel.select(
                F.col("id").alias("ib"), F.col("vec").alias("vb"),
                F.col("norm").alias("nb"),
            ),
            F.col("ia") != F.col("ib"),
        )
        .select(
            "ia",
            "ib",
            (
                dot_product(F.col("va"), F.col("vb"))
                / (F.col("na") * F.col("nb"))
            ).alias("sim"),
        )
        .localCheckpoint(eager=True)
    )
    first = (
        rel.orderBy(F.col("rel").desc(), F.col("id").asc())
        .limit(1)
        .select(
            F.lit(1).cast("long").alias("rank"),
            "id",
            F.col("rel").alias("score"),
        )
    )
    selected = first.localCheckpoint(eager=True)
    for step in range(2, k + 1):
        cand = rel.join(selected.select("id"), "id", "left_anti")
        worst = (
            sims.join(selected.select(F.col("id").alias("ib")), "ib")
            .groupBy("ia")
            .agg(F.max("sim").alias("max_sim"))
        )
        scored = cand.join(
            worst, cand["id"] == worst["ia"]
        ).select(
            "id",
            (
                F.lit(lam) * F.col("rel")
                - F.lit(1.0 - lam) * F.col("max_sim")
            ).alias("score"),
        )
        pick = (
            scored.orderBy(F.col("score").desc(), F.col("id").asc())
            .limit(1)
            .select(F.lit(step).cast("long").alias("rank"), "id", "score")
        )
        selected = selected.unionByName(pick).localCheckpoint(eager=True)
    return selected.orderBy("rank")
