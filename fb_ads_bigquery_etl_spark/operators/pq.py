"""Product quantization (PQ) retrieval — the CODEBOOK lever of
vector-scan bandwidth (Jégou, Douze, Schmid 2011, "Product
Quantization for Nearest Neighbor Search"), completing the trio beside
int8's dtype lever (similarity.quantize_int8) and JL's dimension lever
(similarity.jl_project).

Shape at 100 TB: the corpus-sized artifact is the CODE table — M small
integers per vector (here 4 bytes/vec vs 256 for float32x64, a 64x
scan-bandwidth cut). Queries never decode: an asymmetric-distance
lookup table (LUT[m][c] = exact integer dot of the query's m-th
subvector with codeword c) is metadata-sized and BROADCASTS, so the
scoring scan is M array lookups + adds per row. Training is one
mapInPandas pass emitting (m, cluster, dim) partial sums — per-batch
output is M*ksub*sub_dim rows regardless of data size — plus a
metadata-sized driver reduce, exactly the kmeans_quantized scale shape
(clustering.py). Candidates then rerank through full-width vectors for
only k*expand rows per query (the jl_recall pattern).

Engine-exactness (what lets the DuckDB oracle replay the WHOLE
pipeline, training included): vectors enter as floor(x * PQ_SCALE)
int64s; seeds are the first `ksub` rows by id; ONE Lloyd step runs in
exact integer arithmetic with ties to the lowest codeword; the
codeword update is floor(sum / n), computed as pure integer floor
division on BOTH engines (Python // floors; the oracle first
subtracts the non-negative mod so DuckDB's truncating // divides
exactly). Every downstream LUT entry and ADC score is a pure int64
sum.

No reference counterpart (north-star extension, BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F, types as T

from fb_ads_bigquery_etl_spark import storage
from fb_ads_bigquery_etl_spark.session import local_df
from fb_ads_bigquery_etl_spark.sinks import overwrite_partitions

PQ_SCALE = 1_000_000


def _floor_ints(col, scale: int = PQ_SCALE):
    return F.transform(
        col, lambda x: F.floor(x.cast("double") * scale).cast("long")
    )


def pq_train_codebooks(
    df: DataFrame,
    *,
    in_dim: int,
    m: int = 4,
    ksub: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[int]]]:
    """Train per-subspace codebooks: seeds = the sub-vectors of the
    first `ksub` rows by id, refined by ONE exact-integer Lloyd step
    over the corpus (assign every subvector to its nearest codeword by
    integer squared distance, ties to the lowest index; new codeword =
    elementwise floor(sum/count); an emptied codeword keeps its seed).

    Returns codebooks[m][c] = sub_dim ints. One corpus pass; the
    shuffle carries only (m, cluster, dim)-keyed partials
    (M*ksub*sub_dim rows per batch, map-side combined); the collect is
    metadata-sized.
    """
    if in_dim % m:
        raise ValueError(f"in_dim {in_dim} not divisible by m {m}")
    ints = df.select(id_col, _floor_ints(F.col(vec_col)).alias("_w"))
    return train_codebooks_ints(
        ints, dim=in_dim, m=m, ksub=ksub, int_col="_w", id_col=id_col
    )


def train_codebooks_ints(
    df: DataFrame,
    *,
    dim: int,
    m: int = 4,
    ksub: int = 8,
    int_col: str = "_w",
    id_col: str = "vec_id",
    init: list[list[list[int]]] | None = None,
) -> list[list[list[int]]]:
    """`pq_train_codebooks` over PRE-SCALED int64 arrays — the entry
    point residual-domain callers (IVF-PQ) use directly. `init`
    WARM-STARTS the one Lloyd step from existing codebooks instead of
    the first-`ksub`-rows seeds — the offline codebook-retrain cadence
    (retrain_ivfpq_codebooks), symmetric to
    similarity.train_centroids_exact(init=...): the refined codebooks
    stay exactly replayable because the step is the same pure-integer
    assign/floor-div update, just seeded differently."""
    sub = dim // m
    if init is not None:
        # explicit full-structure check: an empty/shallow/ragged init
        # must fail with the shaped error, not an IndexError here or a
        # silent mis-shape inside the numpy kernel later
        ok = (
            len(init) == m
            and all(len(cb_m) == ksub for cb_m in init)
            and all(len(cw) == sub for cb_m in init for cw in cb_m)
        )
        if not ok:
            raise ValueError(
                f"init does not have shape (m, ksub, sub_dim) = "
                f"{(m, ksub, sub)}"
            )
        cb = [[list(cw) for cw in cb_m] for cb_m in init]
    else:
        seed_rows = (
            df.select(id_col, int_col)
            .orderBy(F.col(id_col).asc())
            .limit(ksub)
            .collect()
        )
        if len(seed_rows) < ksub:
            raise ValueError(f"need >= {ksub} rows to seed codebooks")
        cb = [
            [list(r[int_col][mm * sub : (mm + 1) * sub]) for r in seed_rows]
            for mm in range(m)
        ]

    import numpy as np

    C = np.asarray(cb, dtype=np.int64)  # m x ksub x sub

    def _partials(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            Xs = np.vstack(pdf[int_col].to_numpy()).astype(np.int64)
            out_m, out_c, out_d, out_s, out_n = [], [], [], [], []
            for mm in range(m):
                Xm = Xs[:, mm * sub : (mm + 1) * sub]
                d2 = np.empty((len(Xm), ksub), dtype=np.int64)
                for j in range(ksub):
                    diff = Xm - C[mm, j]
                    d2[:, j] = (diff * diff).sum(axis=1)
                a = d2.argmin(axis=1)  # ties -> lowest index
                for j in range(ksub):
                    mask = a == j
                    if not mask.any():
                        continue
                    s = Xm[mask].sum(axis=0)
                    n = int(mask.sum())
                    out_m.extend([mm] * sub)
                    out_c.extend([j] * sub)
                    out_d.extend(range(sub))
                    out_s.extend(int(v) for v in s)
                    out_n.extend([n] * sub)
            yield pd.DataFrame(
                {"m": out_m, "cluster": out_c, "dim": out_d,
                 "s": out_s, "n": out_n}
            )

    parts = (
        df.select(int_col)
        .mapInPandas(
            _partials,
            schema="m int, cluster int, dim int, s long, n long",
        )
        .groupBy("m", "cluster", "dim")
        .agg(F.sum("s").alias("s"), F.sum("n").alias("n"))
        .collect()
    )
    new_cb = [[list(cw) for cw in cb_m] for cb_m in cb]  # default: seeds
    sums: dict[tuple[int, int], list[int]] = {}
    counts: dict[tuple[int, int], int] = {}
    for r in parts:
        key = (r["m"], r["cluster"])
        sums.setdefault(key, [0] * sub)[r["dim"]] = r["s"]
        counts[key] = r["n"]
    for (mm, j), svec in sums.items():
        n = counts[(mm, j)]
        # exact integer floor division (Python // floors); the oracle
        # states the same value as (s - ((s%n)+n)%n) // n, which makes
        # the numerator divisible so DuckDB's truncating // is exact —
        # no double arithmetic anywhere in the update
        new_cb[mm][j] = [sv // n for sv in svec]
    return new_cb


def pq_encode(
    df: DataFrame,
    codebooks: list[list[list[int]]],
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """(id, codes array<int>) — codes[m] = argmin codeword of subspace
    m by exact integer squared distance, ties to the lowest index.
    Arrow-batched narrow map (the corpus-sized pass that makes the
    64x-smaller code table); zero shuffle."""
    ints = df.select(
        F.col(id_col), _floor_ints(F.col(vec_col)).alias("_w")
    )
    return encode_ints(ints, codebooks, int_col="_w", id_col=id_col)


def encode_ints(
    df: DataFrame,
    codebooks: list[list[list[int]]],
    *,
    int_col: str = "_w",
    id_col: str = "vec_id",
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """`pq_encode` over PRE-SCALED int64 arrays, optionally carrying
    passthrough columns (e.g. the IVF bucket) through the narrow map —
    no join back to recover them."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(codebooks, dtype=np.int64)  # m x ksub x sub
    m, ksub, sub = C.shape

    def _enc_fn(vecs):
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        Xs = np.vstack(vecs.to_numpy()).astype(np.int64)
        codes = np.empty((len(Xs), m), dtype=np.int32)
        for mm in range(m):
            Xm = Xs[:, mm * sub : (mm + 1) * sub]
            d2 = np.empty((len(Xm), ksub), dtype=np.int64)
            for j in range(ksub):
                diff = Xm - C[mm, j]
                d2[:, j] = (diff * diff).sum(axis=1)
            codes[:, mm] = d2.argmin(axis=1)
        return pd.Series(list(codes))

    _enc_fn.__annotations__ = {"vecs": pd.Series, "return": pd.Series}
    _enc = pandas_udf(_enc_fn, "array<int>")
    return df.select(
        F.col(id_col).alias("id"),
        *[F.col(c) for c in extra_cols],
        _enc(F.col(int_col)).alias("codes"),
    )


def _long_sum(arr):
    """Left-to-right int64 sum of an integer array column."""
    return F.aggregate(arr, F.lit(0).cast("long"), lambda acc, v: acc + v)


def _long_dot(a, b):
    """Exact int64 dot product of two integer array columns."""
    return _long_sum(F.zip_with(a, b, lambda x, y: x * y))


def _adc():
    """ADC score of a row carrying `codes` and its query's `lut`:
    sum over m of lut[m][codes[m]], a pure int64 sum."""
    return _long_sum(
        F.zip_with(
            F.col("codes"),
            F.col("lut"),
            lambda c, row: F.element_at(row, c + F.lit(1)),
        )
    )


def _int_dot(a, b) -> int:
    return sum(x * y for x, y in zip(a, b))


def _lut(wq: list[int], cb: list[list[list[int]]]) -> list[list[int]]:
    """Driver-side ADC lookup table of one floor-scaled query:
    lut[m][c] = exact integer dot of its m-th subvector with codeword
    c of subspace m."""
    sub = len(cb[0][0])
    return [
        [_int_dot(wq[mm * sub : (mm + 1) * sub], cw) for cw in cb_m]
        for mm, cb_m in enumerate(cb)
    ]


def _top_k(df: DataFrame, part: str, k: int, *order) -> DataFrame:
    """The first `k` rows of each `part` group in `order` (a
    row_number window; ties are the caller's to break in `order`)."""
    w = Window.partitionBy(part).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def pq_adc_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list[list[list[int]]],
    *,
    k: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Asymmetric-distance top-k candidates: the query side collapses
    to a LUT column (lut[m][c] = exact int64 dot of the query's m-th
    floor-scaled subvector with codeword c — computed driver-side from
    the metadata-sized query batch) that BROADCASTS; the corpus-sized
    scan reads only `codes` and scores with M element_at lookups + adds.
    Returns (query_id, neighbor_id, adc_score) with score ordered DESC
    (approximate dot), ties to lowest neighbor_id."""
    qrows = queries.select(
        F.col(id_col).alias("qid"), _floor_ints(F.col(vec_col)).alias("w")
    ).collect()
    lut_rows = [
        (int(r["qid"]), _lut([int(v) for v in r["w"]], codebooks))
        for r in qrows
    ]
    spark = corpus.sparkSession
    luts = local_df(
        spark, lut_rows, "qid long, lut array<array<long>>"
    )
    codes = pq_encode(corpus, codebooks, vec_col=vec_col, id_col=id_col)
    scored = codes.join(
        F.broadcast(luts), F.col("id") != F.col("qid")
    ).select(
        F.col("qid").alias("query_id"),
        F.col("id").alias("neighbor_id"),
        _adc().alias("adc_score"),
    )
    return _top_k(
        scored, "query_id", k,
        F.col("adc_score").desc(), F.col("neighbor_id").asc(),
    )


def _recall_at_k(
    df: DataFrame,
    queries: DataFrame,
    cand: DataFrame,
    *,
    k: int,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """The recall tally of the audit harnesses: exact float rerank of
    the (query_id, neighbor_id) candidates down to the top k, scored
    against the exact float top-k. One row per query: (query_id,
    n_exact, n_overlap)."""
    from fb_ads_bigquery_etl_spark.functions.portable import (
        cosine_similarity,
    )
    from fb_ads_bigquery_etl_spark.operators.similarity import knn_join

    exact = knn_join(df, queries, k=k, vec_col=vec_col, id_col=id_col)
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cvecs = df.select(F.col(id_col).alias("neighbor_id"), vec_d.alias("_cv"))
    qvecs = queries.select(F.col(id_col).alias("query_id"), vec_d.alias("_qv"))
    reranked = (
        cvecs.join(F.broadcast(cand), "neighbor_id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("_cv"), F.col("_qv")).alias("rscore"),
        )
    )
    picked = _top_k(
        reranked, "query_id", k,
        F.col("rscore").desc(), F.col("neighbor_id").asc(),
    ).select("query_id", "neighbor_id")
    hits = exact.join(
        F.broadcast(picked), ["query_id", "neighbor_id"]
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


def pq_recall(
    df: DataFrame,
    *,
    k: int = 10,
    n_queries: int = 10,
    in_dim: int,
    m: int = 4,
    ksub: int = 8,
    expand: int = 10,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Recall@k of the production PQ retrieval shape — ADC top-
    (k*expand) candidates over the code table, exact float rerank of
    only those — vs the exact float top-k (the jl_recall audit harness
    with PQ as the candidate stage). One row per query:
    (query_id, n_exact, n_overlap)."""
    queries = df.filter(F.col(id_col) < n_queries)
    cb = pq_train_codebooks(
        df, in_dim=in_dim, m=m, ksub=ksub, vec_col=vec_col, id_col=id_col
    )
    cand = pq_adc_topk(
        df, queries, cb, k=k * expand, vec_col=vec_col, id_col=id_col
    ).select("query_id", "neighbor_id")
    return _recall_at_k(
        df, queries, cand, k=k, vec_col=vec_col, id_col=id_col
    )


def ivfpq_recall(
    df: DataFrame,
    *,
    k: int = 10,
    n_queries: int = 10,
    in_dim: int,
    m: int = 4,
    ksub: int = 8,
    nprobe: int = 2,
    expand: int = 10,
    centroid_mod: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """Recall@k of the IVF-PQ retrieval shape — the architecture
    production 100 TB vector indexes actually ship (FAISS IVFPQ,
    Jégou et al. 2011 §V): a coarse quantizer routes each vector to an
    inverted list (the existing IVF cosine buckets), PQ codes encode
    the RESIDUAL (vector minus its coarse centroid — residuals are
    tighter than raw vectors, so the same code budget quantizes
    finer), and a query scans ONLY its nprobe closest lists, scoring
    each candidate as dot(q, c_bucket) + ADC(q, residual codes) — one
    integer per (query, bucket) plus M table lookups per candidate.
    At scale the code table is bucket-partitioned, so the probed scan
    is nprobe/nlist of the corpus and 64x narrower than float rows:
    BOTH levers compose. Exact float rerank of the top k*expand, then
    recall@k vs the exact float top-k.

    Engine-exactness: coarse assignment/probing use the same IEEE
    float cosine with deterministic ties as `ann_ivf` (sequential
    accumulation — identical in Spark expressions and DuckDB
    list_reduce); residuals, the one-Lloyd-step training, codes,
    term1, and every ADC score are pure int64 — the oracle replays
    the whole pipeline, training included. The probe recomputes both
    norms (cosine_similarity), unlike the index probes' stored cnorm;
    the oracle replays exactly this form."""
    from fb_ads_bigquery_etl_spark.functions.portable import (
        cosine_similarity,
    )

    queries = df.filter(F.col(id_col) < n_queries)
    cents, resid = _residuals(
        df,
        centroids,
        centroid_mod=centroid_mod,
        vec_col=vec_col,
        id_col=id_col,
    )
    cb = train_codebooks_ints(
        resid, dim=in_dim, m=m, ksub=ksub, int_col="_r", id_col="id"
    )
    codes = encode_ints(
        resid, cb, int_col="_r", id_col="id", extra_cols=("bucket",)
    )

    # metadata-sized driver work: query ints, centroid ints, probed
    # lists, and the per-(query, bucket) LUT + dot(q, c) correction
    qints = {
        int(r["qid"]): [int(v) for v in r["w"]]
        for r in queries.select(
            F.col(id_col).alias("qid"),
            _floor_ints(F.col(vec_col)).alias("w"),
        ).collect()
    }
    wcs = {
        int(r["centroid_id"]): [int(v) for v in r["_wc"]]
        for r in cents.select(
            "centroid_id", _floor_ints(F.col("cvec")).alias("_wc")
        ).collect()
    }
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    qvecs = queries.select(F.col(id_col).alias("qid"), vec_d.alias("_qv"))
    probed = _top_k(
        qvecs.crossJoin(F.broadcast(cents)).select(
            "qid",
            "centroid_id",
            cosine_similarity(F.col("_qv"), F.col("cvec")).alias("_cs"),
        ),
        "qid", nprobe,
        F.col("_cs").desc(), F.col("centroid_id").asc(),
    ).collect()
    lut_rows = []
    for r in probed:
        qid, b = int(r["qid"]), int(r["centroid_id"])
        wq = qints[qid]
        lut_rows.append((qid, b, _int_dot(wq, wcs[b]), _lut(wq, cb)))
    luts = local_df(
        df.sparkSession,
        lut_rows,
        "qid long, b long, term1 long, lut array<array<long>>",
    )
    scored = codes.join(
        F.broadcast(luts),
        (F.col("bucket") == F.col("b")) & (F.col("id") != F.col("qid")),
    ).select(
        F.col("qid").alias("query_id"),
        F.col("id").alias("neighbor_id"),
        (F.col("term1") + _adc()).alias("adc_score"),
    )
    cand = _top_k(
        scored, "query_id", k * expand,
        F.col("adc_score").desc(), F.col("neighbor_id").asc(),
    ).select("query_id", "neighbor_id")
    return _recall_at_k(
        df, queries, cand, k=k, vec_col=vec_col, id_col=id_col
    )


def _residuals(
    df: DataFrame,
    centroids: DataFrame | None,
    *,
    centroid_mod: int = 50,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[DataFrame, DataFrame]:
    """(centroid frame, residual frame (id, bucket, _r)): assign each
    vector to its nearest coarse centroid and subtract the centroid's
    floor-scaled int form — the shared narrow pass of index build,
    O(batch) append, streaming ingest and the recall audit. One
    broadcast join against the metadata-sized centroid table; zero
    data-sized shuffle. With no `centroids`, assignment samples every
    `centroid_mod`-th id (assign_ivf_buckets)."""
    from fb_ads_bigquery_etl_spark.operators.similarity import (
        assign_ivf_buckets,
    )

    cents, assigned = assign_ivf_buckets(
        df,
        vec_col=vec_col,
        id_col=id_col,
        centroid_mod=centroid_mod,
        centroids=centroids,
    )
    centint = cents.select(
        "centroid_id", _floor_ints(F.col("cvec")).alias("_wc")
    )
    resid = (
        assigned.select("id", "bucket", _floor_ints(F.col("vec")).alias("_w"))
        .join(F.broadcast(centint), F.col("bucket") == F.col("centroid_id"))
        .select(
            "id",
            "bucket",
            F.zip_with(F.col("_w"), F.col("_wc"), lambda a, b: a - b).alias(
                "_r"
            ),
        )
    )
    return cents, resid


_CENTROID_SCHEMA = "centroid_id long, cvec array<double>, cnorm double"
_CODEBOOK_SCHEMA = "m int, c int, cw array<long>"
# the code table: `bucket` is the partition column. Declared, so a read
# never pays a schema-inference job over the code files.
_CODES_SCHEMA = "id long, codes array<int>, bucket int"


def _write_centroid_sidecar(spark, cents: DataFrame, dirpath: str) -> None:
    """Overwrite the centroid sidecar with the collected (nlist-row)
    table. Values round-trip exactly: the collect returns the computed
    doubles."""
    rows = [
        (int(r["centroid_id"]), [float(x) for x in r["cvec"]],
         float(r["cnorm"]))
        for r in cents.select("centroid_id", "cvec", "cnorm").collect()
    ]
    storage.resolve(spark, dirpath).write_rows_atomic(
        dirpath, rows, _CENTROID_SCHEMA, "overwrite"
    )


def _read_centroids(spark, path: str) -> list[dict]:
    """The centroid sidecar as driver-side dicts (nlist rows)."""
    d = f"{path}_centroids"
    rows = storage.resolve(spark, d).read_rows(d, _CENTROID_SCHEMA)
    if rows is None:
        raise FileNotFoundError(f"no IVF-PQ centroid sidecar at {d}")
    return rows


def _centroid_df(spark, path: str) -> DataFrame:
    """The centroid sidecar as a local relation: its rows sit in the
    plan, so a later overwrite of the sidecar cannot change it."""
    return local_df(spark, _read_centroids(spark, path), _CENTROID_SCHEMA)


def _read_codes(spark, path: str, *files: str) -> DataFrame:
    """The code table under its declared schema: all of it, or only
    `files` (full paths of code files under `path`)."""
    reader = spark.read.schema(_CODES_SCHEMA)
    if files:
        return reader.option("basePath", path).parquet(*files)
    return reader.parquet(path)


def load_codebooks(spark, path: str) -> list[list[list[int]]]:
    """Read the codebook sidecar back into the list[m][ksub][sub_dim]
    shape every PQ kernel consumes (m*ksub rows)."""
    d = f"{path}_codebooks"
    cb_rows = storage.resolve(spark, d).read_rows(d, _CODEBOOK_SCHEMA)
    if cb_rows is None:
        raise FileNotFoundError(f"no IVF-PQ codebook sidecar at {d}")
    m = 1 + max(r["m"] for r in cb_rows)
    ksub = 1 + max(r["c"] for r in cb_rows)
    cb: list[list[list[int] | None]] = [[None] * ksub for _ in range(m)]
    for r in cb_rows:
        cb[r["m"]][r["c"]] = [int(x) for x in r["cw"]]
    return cb  # type: ignore[return-value]


def build_ivfpq_index(
    df: DataFrame,
    path: str,
    *,
    in_dim: int,
    m: int = 4,
    ksub: int = 8,
    centroids: DataFrame,
    codebooks: list[list[list[int]]] | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """Materialize the FAISS-style IVF-PQ index on disk — the at-rest
    shape a production 100 TB vector store actually keeps: residual PQ
    CODES parquet-partitioned BY COARSE BUCKET (a probe partition-
    prunes to nprobe/nlist of the files AND each row is m small ints,
    64x narrower than float vectors — both bandwidth levers persist),
    with the centroid table and the trained codebooks as metadata-
    sized sidecars. Raw vectors are NOT duplicated into the index:
    the exact rerank fetches candidates by id from the source table,
    the standard two-tier layout.

    WRITE-SKEW BOUND (deliberate): repartition("bucket") puts each
    bucket in exactly one task, so write parallelism is capped at
    nlist and the largest bucket sets the straggler time and the
    largest output file. That is the price of the one-file-per-bucket
    read layout every probe and the manifest exploit; the designed
    valve is not per-write sharding but capacity maintenance — a
    bucket hot enough to straggle its write is hot enough to straggle
    every probe, and `split_ivfpq_bucket` retires it into children,
    restoring both bounds at once. Size nlist so the expected bucket
    (corpus/nlist rows x m bytes) fits a task comfortably; codes are
    64x narrower than the vectors, so a 100 TB corpus at nlist=64k is
    ~25 MB of codes per bucket-task.

    `codebooks` pins pre-trained residual codebooks instead of
    training on `df`'s residuals — the rebuild-equals-append proof
    harness uses it (an O(batch) append encodes against the FROZEN
    sidecars; a rebuild comparing against it must freeze the same
    ones).

    A full rebuild: the code table is a STATIC overwrite, stated on the
    writer whatever the session's partition-overwrite default, so no
    bucket the new corpus vacates survives from the old index."""
    # a full rebuild supersedes any interrupted split: clear its
    # staged commit so the fresh index is not gated on recovery
    spark = df.sparkSession
    st = storage.resolve(spark, path)
    staged_p, scents_p, commit_p = _split_paths(path)
    for leftover in (staged_p, scents_p, commit_p, f"{commit_p}_tmp"):
        st.delete(leftover)
    cents, resid = _residuals(
        df, centroids, vec_col=vec_col, id_col=id_col
    )
    # three consumers when training here (codebook seeds, partial-sum
    # pass, encode+write) — Spark does not reuse exchanges across
    # actions, so persist the one data-sized intermediate instead of
    # recomputing the assignment join per action
    resid = resid.persist()
    try:
        cb = codebooks if codebooks is not None else train_codebooks_ints(
            resid, dim=in_dim, m=m, ksub=ksub, int_col="_r", id_col="id"
        )
        codes = encode_ints(
            resid, cb, int_col="_r", id_col="id", extra_cols=("bucket",)
        ).persist()  # two actions: the pre-write stats agg + the write
        try:
            # per-bucket stats BEFORE the write — the manifest refresh
            # below never re-reads the files this job creates
            pre = _bucket_stats(codes)
            # one narrow shuffle puts each bucket in exactly one task
            # -> ONE file per bucket (the read-optimal layout every
            # probe and the manifest want), instead of one file per
            # (task, bucket) pair — measured 473 files -> nlist files
            # at sf0.1. STATIC: a dynamic overwrite would leave a
            # vacated bucket's STALE partition on disk, resurrecting
            # retired codes after a retrain migration.
            codes.repartition("bucket").write.mode("overwrite").option(
                "partitionOverwriteMode", "static"
            ).partitionBy("bucket").parquet(path)
        finally:
            codes.unpersist()
    finally:
        resid.unpersist()
    # the rebuilt code table, from the caller's corpus, supersedes any
    # pending delete: stale tombstones would hide a rebuilt id from
    # every probe and refuse its re-append. Cleared only after the
    # write, so a build that fails first leaves the old deletes in force
    st.delete(f"{path}_tombstones")
    _write_centroid_sidecar(spark, cents, f"{path}_centroids")
    cb_rows = [
        (mm, c, [int(x) for x in cw])
        for mm, cb_m in enumerate(cb)
        for c, cw in enumerate(cb_m)
    ]
    st.write_rows_atomic(
        f"{path}_codebooks", cb_rows, _CODEBOOK_SCHEMA, "overwrite"
    )
    # per-file stats sidecar: a fresh seq=0 snapshot from the write-
    # time stats (reset: the overwrite above retired every prior file)
    refresh_ivfpq_manifest(spark, path, precomputed=pre, reset=True)


def append_ivfpq_index(
    spark,
    delta: DataFrame,
    path: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> None:
    """O(batch) maintenance for the PERSISTED IVF-PQ index — the edge
    that completes the production triangle (build / probe / maintain)
    for the index a 100 TB vector store actually serves (the 64x-
    narrower code table, not the raw-vector IVF): new vectors assign
    against the FROZEN centroid sidecar, residual-encode against the
    FROZEN codebook sidecar (quantizers retrain offline on their own
    cadence — train_centroids_exact warm-start + a codebook retrain —
    exactly the FAISS add-vs-train split), and their codes APPEND to
    only the bucket partitions the batch routes to. Nothing existing
    is read or rewritten: the one data pass is over `delta`, both
    sidecar loads are metadata-sized, and a rebuild over the union
    with the same frozen sidecars is file-for-file probe-equal
    (pytest-pinned; the `ivfpq_index_append` oracle gate replays the
    whole pipeline)."""
    _check_no_split_inflight(spark, path)
    _refuse_tombstoned(spark, path, delta, id_col)
    centroids = _centroid_df(spark, path)
    cb = load_codebooks(spark, path)
    _, resid = _residuals(delta, centroids, vec_col=vec_col, id_col=id_col)
    codes = encode_ints(
        resid, cb, int_col="_r", id_col="id", extra_cols=("bucket",)
    ).persist()  # two actions: the pre-write stats agg + the write
    try:
        pre = _bucket_stats(codes)
        # one file per TOUCHED bucket per batch (the contract the
        # compact docstring states), not one per (task, bucket) pair
        codes.repartition("bucket").write.mode("append").partitionBy(
            "bucket"
        ).parquet(path)
    finally:
        codes.unpersist()
    # describe ONLY the files this append added, from the write-time
    # stats (no re-read of just-written files): the manifest appends
    # one segment, O(batch) end-to-end
    refresh_ivfpq_manifest(spark, path, precomputed=pre)


def retrain_ivfpq_codebooks(
    spark,
    df: DataFrame,
    path: str,
    *,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> list[list[list[int]]]:
    """Offline codebook retrain for the persisted IVF-PQ index — the
    quantizer half of the documented 'quantizers retrain offline on
    their own cadence' promise (coarse centroids already have
    train_centroids_exact warm-start): after a run of O(batch) appends
    and streaming ingest, the FROZEN codebooks were trained on the
    original base residuals and quantize the grown corpus's residual
    distribution increasingly loosely. This retrains them over `df`
    (the CURRENT full corpus — the caller's source of truth, since the
    index stores codes, not vectors), SEEDED FROM the current codebook
    sidecar with one exact-integer Lloyd step (train_codebooks_ints
    init= — the same assign/floor-div update, so a SQL oracle replays
    the migration end-to-end), then REBUILDS the code table against
    the new sidecar with centroids untouched. Returns the retrained
    codebooks.

    Cost is a rebuild (one residual pass + one training pass + one
    encode pass over `df`) — the offline cadence, not the serving
    path; appends/probes stay O(batch) between retrains. REFUSES to
    run with pending tombstones: the rebuild re-encodes from `df`, so
    a logically-deleted id still present in `df` would resurrect, and
    one absent from `df` would leave its tombstone a phantom —
    compact_ivfpq_index first (same ordering contract as re-adds).
    Single-writer, like every other index mutation."""
    _check_no_split_inflight(spark, path)
    _refuse_pending_tombstones(spark, path, "retraining")
    # a local relation: the rebuild below OVERWRITES the sidecar it
    # was read from
    centroids = _centroid_df(spark, path)
    old_cb = load_codebooks(spark, path)
    m, ksub, sub = len(old_cb), len(old_cb[0]), len(old_cb[0][0])
    in_dim = m * sub
    _, resid = _residuals(df, centroids, vec_col=vec_col, id_col=id_col)
    new_cb = train_codebooks_ints(
        resid,
        dim=in_dim,
        m=m,
        ksub=ksub,
        int_col="_r",
        id_col="id",
        init=old_cb,
    )
    build_ivfpq_index(
        df,
        path,
        in_dim=in_dim,
        m=m,
        ksub=ksub,
        centroids=centroids,
        codebooks=new_cb,
        vec_col=vec_col,
        id_col=id_col,
    )
    return new_cb


_SPLIT_COMMIT_SCHEMA = (
    "bucket int, op string, n_rows long, min_id long, max_id long"
)


def _split_paths(path: str) -> tuple[str, str, str]:
    return (
        f"{path}_split_staged",
        f"{path}_split_staged_centroids",
        f"{path}_split_commit",
    )


def _check_no_split_inflight(spark, path: str) -> None:
    """Refuse to read or mutate an index whose bucket split crashed
    mid-commit: between the code-bucket swap and the centroid-sidecar
    swap the pair is mutually inconsistent (duplicate or unreachable
    probe results), so the commit marker gates EVERY public verb until
    the staged commit is rolled forward."""
    if storage.resolve(spark, path).exists(_split_paths(path)[2]):
        raise ValueError(
            f"interrupted bucket split/merge on {path}: a staged "
            "commit is in flight — run recover_ivfpq_split(spark, "
            f"{path!r}) to roll it forward before touching the index"
        )


def _replay_split_commit(spark, path: str) -> dict | None:
    """Idempotently execute a staged split commit: per plan row,
    rename the staged bucket dir over the live one ('commit') or
    delete the vacated live dir ('drop'), swap the staged centroid
    sidecar in, refresh the manifest from the plan's precomputed
    stats, then drop the marker + staging. Every step is a driver-side
    FS rename/delete conditioned on what still exists, so a crash at
    ANY point re-replays to the same final state (a staged dir
    disappears exactly when its swap lands). Returns the precomputed
    stats, or None when no commit is in flight."""
    staged, staged_cents, commit = _split_paths(path)
    st = storage.resolve(spark, path)
    rows = st.read_rows(commit, _SPLIT_COMMIT_SCHEMA)
    if rows is None:
        return None
    pre: dict[int, tuple[int, int, int]] = {}
    for r in rows:
        b = int(r["bucket"])
        live = f"{path}/bucket={b}"
        if r["op"] == "commit":
            pre[b] = (int(r["n_rows"]), int(r["min_id"]), int(r["max_id"]))
            src_dir = f"{staged}/bucket={b}"
            if st.exists(src_dir):
                st.delete(live)
                st.rename(src_dir, live)
        else:
            st.delete(live)
    if st.exists(staged_cents):
        st.delete(f"{path}_centroids")
        st.rename(staged_cents, f"{path}_centroids")
    refresh_ivfpq_manifest(spark, path, precomputed=pre)
    st.delete(commit)
    st.delete(staged)
    return pre


def recover_ivfpq_split(spark, path: str) -> bool:
    """Roll forward a bucket split OR merge interrupted after its
    commit point (marker present — both verbs publish through the same
    staged commit): replay the staged swaps, refresh the manifest,
    clear the marker. Returns True if a commit was replayed, False if
    the index was already clean. Crashes BEFORE the commit point left
    the live index untouched (staging without a marker is garbage the
    next split overwrites), so roll-forward is always the right
    direction — there is nothing to roll back."""
    return _replay_split_commit(spark, path) is not None


def split_ivfpq_bucket(
    spark,
    src: DataFrame,
    path: str,
    *,
    bucket: int | None = None,
    nsplit: int = 2,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict:
    """Grow the coarse quantizer: split one bucket (default: the
    hottest by manifest row count) into `nsplit` children — the
    capacity edge the lifecycle lacked (build/append/retrain all keep
    nlist FIXED, so a corpus growing 100x would scan ever-fatter
    lists at fixed nprobe). Child centroids train on the bucket's own
    member VECTORS (fetched from `src`, the caller's source of truth —
    the index stores codes, not vectors) via the same exact-integer
    train_centroids_exact; the parent centroid row is retired and the
    children append with fresh ids, so every other bucket's identity
    and residuals are untouched.

    EXACT BY CONSTRUCTION, not merely local: removing the parent and
    adding children can re-rank assignment for vectors OUTSIDE the
    split bucket (a near-boundary vector of another bucket may prefer
    a child — measured on the gate corpus: a handful per split). A
    split that ignored them would diverge from a rebuild at the grown
    centroid set. So the operator runs ONE narrow full-assignment
    audit pass (broadcast centroid join over `src` — no re-encode, no
    shuffle of vectors), computes the MOVED set = ids whose bucket
    changed (the split bucket's members by construction, plus any
    strays), RE-ENCODES ONLY the moved rows against the frozen
    codebook sidecar, and rewrites ONLY the touched buckets
    (departures anti-joined out, arrivals unioned in; dynamic
    partition overwrite). The result is file-content-equal per bucket
    to build_ivfpq_index over `src` with the grown centroid table and
    the same frozen codebooks (pytest-pinned + oracle-gated); buckets
    with no movement keep their files byte-identical (pytest-pinned).

    Cost: one O(N * nlist) assignment pass (narrow, vectors never
    shuffle) + O(moved) re-encode + O(touched buckets) rewrite — at
    100 TB that is the difference between growing capacity and a full
    rebuild's corpus-sided re-encode + rewrite.

    Tombstone contract (explicit, like retrain): REFUSES with pending
    tombstones — the moved rows re-encode from `src`, so a logically
    deleted id still in `src` would resurrect into a child bucket.
    compact_ivfpq_index first. Single-writer, like every other index
    mutation. A vacated partition dir (the parent always; a donor
    bucket emptied by strays in theory) is deleted through
    `storage`, and the manifest refresh records the drops.

    Crash-consistent publish: the rewritten buckets and the grown
    centroid table are STAGED, a commit marker lands, and only then do
    idempotent FS swaps make them live — so a crash anywhere leaves
    either the old consistent pair (no marker) or a marker every
    public verb refuses on until recover_ivfpq_split rolls the commit
    forward. The mismatched centroid/code window the in-place rewrite
    had cannot be read. (On rename-as-copy object stores the swap is
    still correct, just not cheap — same caveat as the partitioned
    overwrite it replaces.)"""
    from fb_ads_bigquery_etl_spark.operators.similarity import (
        assign_ivf_buckets,
        train_centroids_exact,
    )

    _check_no_split_inflight(spark, path)
    _refuse_pending_tombstones(spark, path, "splitting")
    man = refresh_ivfpq_manifest(spark, path)
    if bucket is None:
        hot = (
            man.groupBy("bucket")
            .agg(F.sum("n_rows").alias("_n"))
            .filter(F.col("_n") > 0)
            .orderBy(F.col("_n").desc(), F.col("bucket").asc())
            .head()
        )
        if hot is None:
            raise ValueError("empty index: nothing to split")
        bucket = int(hot["bucket"])
    # the rebuild below overwrites the centroid sidecar this reads —
    # collected to a local frame (metadata-sized; the max is a Python
    # max, not an agg job)
    crows = _read_centroids(spark, path)
    cents = local_df(spark, crows, _CENTROID_SCHEMA)
    cb = load_codebooks(spark, path)
    max_id = max(int(r["centroid_id"]) for r in crows)

    # member vectors via the index's id set: a partition-pruned scan
    # of ONE bucket's narrow codes, then a semi-join into src
    member_ids = (
        _read_codes(spark, path)
        .filter(F.col("bucket") == bucket)
        .select("id")
    )
    members = src.join(
        member_ids, F.col(id_col) == F.col("id"), "left_semi"
    )
    if members.limit(1).isEmpty():
        raise ValueError(
            f"bucket {bucket} has no member vectors in src: nothing to "
            "train children on (empty bucket, or src is missing the "
            "bucket's indexed ids)"
        )
    sub = train_centroids_exact(
        members, k=nsplit, iters=iters, vec_col=vec_col, id_col=id_col
    )
    children = sub.select(
        (F.col("centroid_id") + F.lit(max_id + 1)).alias("centroid_id"),
        "cvec",
        "cnorm",
    )
    grown = (
        cents.filter(F.col("centroid_id") != bucket)
        .unionByName(children)
        .localCheckpoint(eager=True)
    )

    touched, n_moved = _reassign_and_publish(
        spark, src, path, grown, cb,
        verb="splitting", vec_col=vec_col, id_col=id_col,
    )
    return {
        "bucket": bucket,
        "children": [max_id + 1 + i for i in range(nsplit)],
        "touched": touched,
        "moved": n_moved,
    }


def _reassign_and_publish(
    spark,
    src: DataFrame,
    path: str,
    new_cents: DataFrame,
    cb: list[list[list[int]]],
    *,
    verb: str,
    vec_col: str,
    id_col: str,
) -> tuple[list[int], int]:
    """Shared tail of the centroid-set-changing maintenance verbs
    (split grows nlist, merge shrinks it): full-assignment audit at
    the NEW centroid set, stranded-id refusal, moved-set computation,
    re-encode of ONLY the moved rows against the frozen codebooks, and
    the crash-consistent staged publish of the touched buckets + new
    centroid sidecar. Returns (touched buckets, moved row count)."""
    from fb_ads_bigquery_etl_spark.operators.similarity import (
        assign_ivf_buckets,
    )

    # the full-assignment audit: one narrow broadcast-join pass
    _, new_assign = assign_ivf_buckets(
        src, vec_col=vec_col, id_col=id_col, centroids=new_cents
    )
    old_assign = _read_codes(spark, path).select(
        "id", F.col("bucket").alias("_ob")
    )
    new_assign = new_assign.select("id", F.col("bucket").alias("_nb"))
    # guard the symmetric drift to the tombstone refusal: an indexed id
    # MISSING from src would silently stay behind in the retired parent
    # partition — unreachable by any probe (no centroid), diverging
    # from the pinned rebuild equality. Refuse loudly instead.
    stranded = (
        old_assign.join(new_assign, "id", "left_anti").limit(5).collect()
    )
    if stranded:
        raise ValueError(
            f"ids {sorted(r['id'] for r in stranded)} (first 5) are "
            f"indexed but absent from src; {verb} would strand them "
            "in the retired bucket — delete them from the index (or "
            "pass the full corpus) first"
        )
    moved = (
        old_assign.join(new_assign, "id")
        .filter(F.col("_nb") != F.col("_ob"))
        .localCheckpoint(eager=True)  # reads files the rewrite replaces
    )
    # one job for the touched set AND the moved count: the distinct
    # (_ob, _nb) pairs are bounded by the movement structure
    # (parent->child, parent->other, other->child), not by rows
    pair_rows = moved.groupBy("_ob", "_nb").count().collect()
    touched = sorted(
        {int(r["_ob"]) for r in pair_rows}
        | {int(r["_nb"]) for r in pair_rows}
    )
    n_moved = int(sum(r["count"] for r in pair_rows))

    # re-encode ONLY the moved rows against frozen codebooks
    moved_src = src.join(moved.select("id"), F.col(id_col) == F.col("id"),
                         "left_semi")
    _, resid = _residuals(
        moved_src, new_cents, vec_col=vec_col, id_col=id_col
    )
    arrivals = encode_ints(
        resid, cb, int_col="_r", id_col="id", extra_cols=("bucket",)
    )
    stay = _read_codes(spark, path).filter(
        F.col("bucket").isin(touched)
    ).join(moved.select("id"), "id", "left_anti")
    out = (
        stay.unionByName(arrivals.select(*stay.columns))
        .repartition("bucket")
        .localCheckpoint(eager=True)
    )
    pre = _bucket_stats(out)

    # crash-consistent publish: stage the touched buckets AND the
    # new centroid sidecar, then write a commit marker, then roll
    # the swaps forward (idempotent FS renames/deletes). A crash
    # BEFORE the marker leaves the live index untouched (staging is
    # garbage the next publish overwrites); a crash AFTER it is
    # detected by every public verb (_check_no_split_inflight) and
    # finished by recover_ivfpq_split — the code buckets and the
    # centroid table can never be read as a mismatched pair.
    staged, staged_cents, commit = _split_paths(path)
    st = storage.resolve(spark, path)
    for stale in (staged, staged_cents, f"{commit}_tmp"):
        st.delete(stale)
    out.write.mode("overwrite").partitionBy("bucket").parquet(staged)
    _write_centroid_sidecar(spark, new_cents, staged_cents)
    plan = [
        (b,) + (("commit",) + pre[b] if b in pre else
                ("drop", None, None, None))
        for b in touched
    ]
    # the marker's EXISTENCE is the commit point, but writing its
    # contents is not atomic (a crash mid-write leaves the dir with no
    # plan — recovery would read an EMPTY plan and swap centroids
    # without the bucket swaps). Write the plan to a temp dir and
    # RENAME it into place: the marker path exists iff the plan inside
    # it is complete. NOTE: directory rename is atomic on HDFS and
    # local FS; on rename-as-copy object stores (S3A) this commit
    # protocol needs the store's own committer — same caveat class as
    # every rename-based Spark output committer.
    st.write_rows_atomic(
        f"{commit}_tmp", plan, _SPLIT_COMMIT_SCHEMA, "overwrite"
    )
    st.rename(f"{commit}_tmp", commit)
    _replay_split_commit(spark, path)
    return touched, n_moved


def merge_ivfpq_buckets(
    spark,
    src: DataFrame,
    path: str,
    *,
    buckets: tuple[int, int] | None = None,
    iters: int = 2,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> dict:
    """Shrink the coarse quantizer: fold two cold buckets (default:
    the 2 coldest by live row count, INCLUDING zero-row centroids the
    manifest has no files for) into one centroid trained on the union
    of their member vectors — the inverse capacity valve to
    `split_ivfpq_bucket`. Without it a long-lived index under churn
    (deletes + compactions + splits) accretes near-empty lists that
    each pay per-bucket probe and maintenance overhead forever; with
    it the index CONVERGES: cold lists fold away, nlist tracks the
    live distribution in both directions.

    Same exactness discipline as the split, via the shared
    _reassign_and_publish tail: the merged centroid trains on the
    union members (train_centroids_exact, k=1 — the exact-integer
    mean, so a SQL oracle replays it), the parent centroid rows
    retire, and ONE narrow full-assignment audit computes the true
    moved set — the parents' members by construction, plus any
    near-boundary vectors of OTHER buckets that now prefer the merged
    centroid (it sits between the parents) and, symmetrically, parent
    members that now prefer some OTHER existing centroid. Only moved
    rows re-encode (frozen codebooks), only touched buckets rewrite;
    the result is file-content-equal per bucket to a from-scratch
    build at the shrunk centroid set (pytest-pinned + oracle-gated),
    untouched buckets byte-identical (pytest-pinned).

    Degenerate case: BOTH buckets empty (no member vectors in src) —
    the centroids simply retire with no replacement (no row's nearest
    centroid can be an empty list's, so nothing moves); nlist shrinks
    by 2. Tombstone contract, single-writer, and the crash-consistent
    staged publish (commit marker + recover_ivfpq_split) are exactly
    the split's."""
    from fb_ads_bigquery_etl_spark.operators.similarity import (
        train_centroids_exact,
    )

    _check_no_split_inflight(spark, path)
    _refuse_pending_tombstones(spark, path, "merging")
    # collected to a local frame (metadata-sized): the cold pick, the
    # known-id check and the parent retirement all read it without
    # touching the files the publish below replaces
    crows = _read_centroids(spark, path)
    cents = local_df(spark, crows, _CENTROID_SCHEMA)
    explicit = buckets is not None
    if buckets is None:
        # the manifest is only consulted by the cold pick; an
        # explicit-pair merge skips the refresh (a write) entirely
        man = refresh_ivfpq_manifest(spark, path)
        counts = (
            cents.select("centroid_id")
            .join(
                man.groupBy("bucket").agg(F.sum("n_rows").alias("_n")),
                cents["centroid_id"] == F.col("bucket"),
                "left",
            )
            .select(
                "centroid_id",
                F.coalesce(F.col("_n"), F.lit(0)).alias("_n"),
            )
            .orderBy(F.col("_n").asc(), F.col("centroid_id").asc())
            .limit(2)
            .collect()
        )
        if len(counts) < 2:
            raise ValueError(
                "need at least 2 centroids to merge; nlist is "
                f"{len(counts)}"
            )
        buckets = (int(counts[0]["centroid_id"]),
                   int(counts[1]["centroid_id"]))
    b1, b2 = int(buckets[0]), int(buckets[1])
    if b1 == b2:
        raise ValueError("merge needs two DISTINCT buckets")
    known = {int(r["centroid_id"]) for r in crows}  # nlist-bounded
    if explicit:  # the cold pick draws from cents by construction
        missing = [b for b in (b1, b2) if b not in known]
        if missing:
            raise ValueError(
                f"bucket(s) {missing} not in the centroid set: merging "
                "a nonexistent bucket would silently retrain the other "
                "one"
            )
    cb = load_codebooks(spark, path)
    max_id = max(known)

    member_ids = (
        _read_codes(spark, path)
        .filter(F.col("bucket").isin([b1, b2]))
        .select("id")
    )
    members = src.join(
        member_ids, F.col(id_col) == F.col("id"), "left_semi"
    )
    parents_gone = cents.filter(~F.col("centroid_id").isin([b1, b2]))
    if members.limit(1).isEmpty():
        # both lists empty: retire the centroids, nothing can move
        merged_ids: list[int] = []
        new_cents = parents_gone.localCheckpoint(eager=True)
    else:
        one = train_centroids_exact(
            members, k=1, iters=iters, vec_col=vec_col, id_col=id_col
        )
        merged_ids = [max_id + 1]
        new_cents = parents_gone.unionByName(
            one.select(
                F.lit(max_id + 1).alias("centroid_id"), "cvec", "cnorm"
            )
        ).localCheckpoint(eager=True)

    touched, n_moved = _reassign_and_publish(
        spark, src, path, new_cents, cb,
        verb="merging", vec_col=vec_col, id_col=id_col,
    )
    return {
        "buckets": [b1, b2],
        "merged": merged_ids,
        "touched": touched,
        "moved": n_moved,
    }


def _list_code_files(spark, path: str) -> list[tuple[str, str, int, int]]:
    """Listing of the index's bucket-partitioned code files —
    (full_path, 'bucket=X/name' suffix, size, mtime) per file. The
    suffix (NOT the basename) is the file's identity: streaming
    publishes deterministic b<id>-<seq> names whose seq resets PER
    BUCKET DIR, so basenames alone can collide across buckets."""
    return [
        f for f in storage.resolve(spark, path).list_files(path)
        if f[1].startswith("bucket=") and f[1].count("/") == 1
    ]


_MANIFEST_SCHEMA = (
    "file string, suffix string, size long, mtime long, "
    "bucket int, n_rows long, min_id long, max_id long"
)
_MANIFEST_SEG_SCHEMA = _MANIFEST_SCHEMA + ", seq long, op string"


def _read_manifest_segment_rows(spark, path: str) -> list[dict] | None:
    """Raw rows of the manifest sidecar's append-only SEGMENTS (every
    refresh appends one small file of (seq, op) rows; op is 'add' or
    'drop') as driver-side dicts — the refresh / fold hot path. Legacy
    pre-segment sidecars (plain 8-column snapshots, no seq/op) read as
    one seq=0 all-'add' segment, so an index written by an older build
    keeps working in place. None = no sidecar."""
    rows = storage.resolve(spark, path).read_rows(
        f"{path}_manifest", _MANIFEST_SEG_SCHEMA
    )
    for r in rows or []:
        if r["seq"] is None:
            r["seq"] = 0
        if r["op"] is None:
            r["op"] = "add"
    return rows


def _manifest_row8(r) -> tuple:
    """The 8 live-view columns of a manifest row (dict or Row), in
    _MANIFEST_SCHEMA order."""
    return (
        r["file"], r["suffix"], r["size"], r["mtime"],
        r["bucket"], r["n_rows"], r["min_id"], r["max_id"],
    )


def _reconcile_manifest_rows(rows) -> dict:
    """Fold raw segment rows to the live view: per suffix the
    highest-seq row wins (a later 'add' supersedes an older stat, a
    'drop' retires the file, a re-add after a drop revives it); only
    'add' survivors remain. Pure driver-side metadata fold."""
    best: dict = {}
    for r in rows:
        b = best.get(r["suffix"])
        if b is None or r["seq"] > b["seq"]:
            best[r["suffix"]] = r
    return {s: r for s, r in best.items() if r["op"] == "add"}


def _read_ivfpq_manifest(spark, path: str) -> DataFrame | None:
    """Live view of the per-file stats sidecar (`<path>_manifest`) if
    one exists, else None: segments reconciled to one row per live
    file in the original 8-column schema, so every consumer (stats,
    compaction, envelope pruning, the gates) is segment-agnostic. The
    fold runs on the driver (metadata-sized by construction) and
    returns a local relation (`session.local_df`)."""
    rows = _read_manifest_segment_rows(spark, path)
    if rows is None:
        return None
    live = _reconcile_manifest_rows(rows)
    return local_df(
        spark, [_manifest_row8(live[s]) for s in sorted(live)],
        _MANIFEST_SCHEMA,
    )


def _bucket_stats(codes: DataFrame) -> dict[int, tuple[int, int, int]]:
    """Per-bucket (n_rows, min_id, max_id) of a batch a writer is
    ABOUT to publish — computed from the batch frame itself, so the
    manifest refresh never re-reads the files the writer just wrote
    (the writer knows exactly what it wrote). nlist-bounded collect."""
    rows = (
        codes.groupBy("bucket")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.min("id").cast("long").alias("lo"),
            F.max("id").cast("long").alias("hi"),
        )
        .collect()
    )
    return {
        int(r["bucket"]): (int(r["n"]), int(r["lo"]), int(r["hi"]))
        for r in rows
    }


def _scan_code_file_stats(spark, path: str, files: list[str]) -> dict:
    """Stat code files by READING their id column — the crash-self-heal
    fallback only (a writer died between data publish and manifest
    refresh, or files appeared out-of-band); the normal write path
    passes precomputed stats and never lands here, so the files are
    few by construction. Returns {suffix: (n_rows, min_id, max_id)},
    (0, None, None) for a zero-row file."""
    st = storage.resolve(spark, path)
    out = {}
    for f in files:
        ids = [r["id"] for r in st.read_rows(f, "id long")]
        out["/".join(f.rsplit("/", 2)[-2:])] = (
            len(ids), min(ids, default=None), max(ids, default=None),
        )
    return out


def refresh_ivfpq_manifest(
    spark,
    path: str,
    *,
    precomputed: dict[int, tuple[int, int, int]] | None = None,
    reset: bool = False,
    fold: bool = False,
) -> DataFrame:
    """Incrementally refresh the index's per-file stats sidecar
    (`<path>_manifest`) — O(changed) END-TO-END: one metadata listing
    of the bucket dirs, a diff against the reconciled segment view,
    and ONE new appended segment file holding only 'add' rows for
    new/changed files and 'drop' rows for vanished ones (the Iceberg
    shape: append-only manifest segments, folded periodically by
    compact_ivfpq_manifest). Prior segments are never rewritten; a
    no-change refresh writes nothing at all.

    Stats for new files come from `precomputed` — the per-bucket
    (n_rows, min_id, max_id) every writer computes from the batch
    frame BEFORE publishing (_bucket_stats), valid whenever the bucket
    gained exactly one file (the one-file-per-touched-bucket write
    discipline). Files that can't be attributed that way — a crash
    between a previous publish and its refresh, out-of-band copies —
    fall back to a scan of ONLY those files (_scan_code_file_stats),
    with zero-row files described as (0, NULL, NULL) so they are
    stat'ed ONCE and the manifest converges instead of re-diffing them
    forever. `reset=True` (the full-rebuild writers) skips the diff
    and overwrites the sidecar with a fresh seq=0 snapshot;
    `fold=True` (compaction, whose rewrite always changes files) keeps
    the diff but writes the whole reconciled live view as that one
    snapshot instead of appending a segment.

    Each live row: (file, suffix, size, mtime, bucket, n_rows, min_id,
    max_id). Every index writer (build / append / streaming publish /
    compact) calls this after mutating files, and every manifest
    consumer calls it first, so a writer crash between data publish
    and refresh self-heals at the next touch. Returns the reconciled
    live view. Single-writer contract: like the index mutations
    themselves, refreshes must not race each other (see
    compact_ivfpq_index)."""
    listed = _list_code_files(spark, path)
    if reset:
        known, maxseq, have_sidecar = {}, -1, False
    else:
        raw_rows = _read_manifest_segment_rows(spark, path)  # metadata
        have_sidecar = raw_rows is not None
        raw_rows = raw_rows or []
        maxseq = max((r["seq"] for r in raw_rows), default=-1)
        known = _reconcile_manifest_rows(raw_rows)
    live = {
        suffix: known[suffix]
        for _, suffix, size, mtime in listed
        if suffix in known
        and known[suffix]["size"] == size
        and known[suffix]["mtime"] == mtime
    }
    new = [
        (full, suffix, size, mtime)
        for full, suffix, size, mtime in listed
        if suffix not in live
    ]
    gone = sorted(set(known) - {s for _, s, _, _ in listed})
    if have_sidecar and not new and not gone:
        # nothing changed: no segment written, no files re-stat'ed
        return local_df(
            spark, [_manifest_row8(live[s]) for s in sorted(live)],
            _MANIFEST_SCHEMA,
        )
    add_rows = []
    need_scan = []
    new_per_bucket: dict[int, int] = {}
    parsed = []
    for full, suffix, size, mtime in new:
        b = int(suffix.split("/", 1)[0].split("=", 1)[1])
        parsed.append((full, suffix, size, mtime, b))
        new_per_bucket[b] = new_per_bucket.get(b, 0) + 1
    for full, suffix, size, mtime, b in parsed:
        if (
            precomputed is not None
            and b in precomputed
            and new_per_bucket[b] == 1
        ):
            n, lo, hi = precomputed[b]
            add_rows.append((full, suffix, size, mtime, b, n, lo, hi))
        else:
            need_scan.append((full, suffix, size, mtime, b))
    if need_scan:
        scanned = _scan_code_file_stats(
            spark, path, [full for full, _, _, _, _ in need_scan]
        )
        for full, suffix, size, mtime, b in need_scan:
            n, lo, hi = scanned[suffix]
            add_rows.append((full, suffix, size, mtime, b, n, lo, hi))
    out_rows = [_manifest_row8(live[s]) for s in sorted(live)] + add_rows
    snapshot = reset or fold or not have_sidecar
    if snapshot:
        seg_rows = [r + (0, "add") for r in out_rows]
    else:
        seq = maxseq + 1
        seg_rows = [r + (seq, "add") for r in add_rows] + [
            (
                known[s]["file"], s, None, None, None, None, None, None,
                seq, "drop",
            )
            for s in gone
        ]
    storage.resolve(spark, path).write_rows_atomic(
        f"{path}_manifest", seg_rows, _MANIFEST_SEG_SCHEMA,
        "overwrite" if snapshot else "append",
    )
    if not snapshot:
        # fold piled-up segments HERE, on the writer's own refresh —
        # an append-only/streaming workload that is never compacted
        # must not accumulate one sidecar file per batch forever (the
        # fold threshold bounds the history every refresh replays)
        compact_ivfpq_manifest(spark, path)
    return local_df(spark, out_rows, _MANIFEST_SCHEMA)


def compact_ivfpq_manifest(
    spark, path: str, *, max_segments: int = 8
) -> int:
    """Fold the manifest sidecar's appended segments back into one
    seq=0 snapshot once the dir holds more than `max_segments` parquet
    files — the periodic manifest compaction that bounds the segment
    history the refresh diff replays (the refresh itself is O(changed)
    per call; this keeps its metadata read O(live files) over time).
    Returns the number of segment files folded (0 = under threshold,
    nothing touched). Runs automatically on every appending refresh —
    an append-only/streaming workload that never compacts the INDEX
    still gets its sidecar folded; safe standalone under the same
    single-writer contract."""
    st = storage.resolve(spark, path)
    n_seg = sum(
        1 for _, name, _, _ in st.list_files(f"{path}_manifest")
        if name.endswith(".parquet")
    )
    if n_seg <= max_segments:
        return 0
    live = _reconcile_manifest_rows(
        _read_manifest_segment_rows(spark, path) or []
    )
    rows = [_manifest_row8(live[s]) + (0, "add") for s in sorted(live)]
    st.write_rows_atomic(
        f"{path}_manifest", rows, _MANIFEST_SEG_SCHEMA, "overwrite"
    )
    return n_seg


def _pruned_tombstoned_codes(
    spark, path: str, man: DataFrame, tomb: DataFrame
) -> DataFrame:
    """(id, bucket) of code rows that carry a pending tombstone,
    computed by scanning ONLY the files whose [min_id, max_id]
    envelope intersects a tombstoned id — the manifest-pruned
    replacement for a full code-table scan. The candidate file list
    is a (metadata x delete-batch) join collected driver-side
    (file-count bounded); a tombstoned id present in the index always
    lies inside some file's envelope, so the pruned scan is exact."""
    # the envelope intersect streams the (possibly large) tombstone set
    # past the BROADCAST manifest — never the reverse: a left_semi with
    # a pure range predicate would BNLJ-broadcast the tombstones, and
    # the pending-delete set is not metadata-sized in general. The
    # distinct is bounded by file count. Read paths derive from the
    # SUFFIX identity under the caller's `path`, not the stored
    # absolute `file` column, so a relocated/copied index stays
    # readable (the stored URI is informational).
    env = man.select("suffix", "min_id", "max_id")
    cand = [
        f"{path}/{r['suffix']}"
        for r in tomb.join(
            F.broadcast(env),
            (tomb["id"] >= env["min_id"]) & (tomb["id"] <= env["max_id"]),
        )
        .select("suffix")
        .distinct()
        .collect()
    ]
    if not cand:
        return local_df(spark, [], "id long, bucket int")
    return (
        _read_codes(spark, path, *cand)
        .select("id", "bucket")
        .join(tomb, "id", "left_semi")
    )


def _read_tombstones(spark, path: str) -> DataFrame | None:
    """Read the tombstone sidecar (`<path>_tombstones`, schema
    `id long`) if one exists, else None. The returned frame stays a
    Spark read (the pending-delete set is not metadata-sized in
    general — it feeds distributed joins); only the presence probe,
    which runs per maintenance verb AND per probe query/micro-batch,
    goes through `storage`."""
    d = f"{path}_tombstones"
    if not storage.resolve(spark, path).exists(d):
        return None
    return spark.read.schema("id long").parquet(d)


def _refuse_tombstoned(spark, path: str, batch: DataFrame, id_col: str) -> None:
    """Refuse a batch that re-adds a tombstoned id. Tombstones carry no
    sequence numbers, so a tombstoned id CANNOT be re-added before
    compaction: the sidecar would hide the new row from every probe,
    and clearing it instead would resurrect the id's stale pre-delete
    codes still on disk. Compaction removes the old rows physically and
    releases the tombstone; after it the re-add is clean. (Iceberg
    solves the same problem with per-file sequence numbers — this index
    keeps the sidecar sequence-free and makes the ordering constraint
    explicit.) One O(batch)-sided semi-join, only while deletes are
    pending."""
    tomb = _read_tombstones(spark, path)
    if tomb is None:
        return
    clash = (
        batch.select(F.col(id_col).cast("long").alias("id"))
        .join(tomb, "id", "left_semi")
        .limit(5)
        .collect()
    )
    if clash:
        raise ValueError(
            f"ids {sorted(r['id'] for r in clash)} (first 5) are "
            "tombstoned; compact_ivfpq_index before re-adding them"
        )


def _refuse_pending_tombstones(spark, path: str, verb: str) -> None:
    """Refuse a verb that re-encodes rows from the caller's corpus
    (retrain, split, merge) while tombstones are pending: it would
    bypass logical deletes."""
    tomb = _read_tombstones(spark, path)
    if tomb is not None and tomb.count() > 0:
        raise ValueError(
            f"pending tombstones: compact_ivfpq_index before {verb} "
            "(rows re-encode from the caller's corpus and would bypass "
            "logical deletes)"
        )


def delete_from_ivfpq_index(
    spark,
    ids: DataFrame,
    path: str,
    *,
    id_col: str = "vec_id",
) -> None:
    """O(delete-batch) deletion from the PERSISTED IVF-PQ index — the
    CRUD edge between O(batch) append and offline rebuild: deleted ids
    APPEND to a tombstone sidecar (`<path>_tombstones`), no code file
    is read or rewritten. Probes anti-join the sidecar BEFORE top-k
    candidate selection, so a delete is visible to the next query
    immediately; `compact_ivfpq_index` later applies tombstones
    physically and empties the sidecar (the LSM/Iceberg delete-file
    discipline: logical-now, physical-at-compaction). The one pass is
    over the delete batch itself; the sidecar grows by one small file
    per call and is bounded by compaction cadence."""
    _check_no_split_inflight(spark, path)
    ids.select(F.col(id_col).cast("long").alias("id")).distinct().write.mode(
        "append"
    ).parquet(f"{path}_tombstones")


def compact_ivfpq_index(
    spark, path: str, *, use_manifest: bool | None = None
) -> list[int]:
    """Apply pending tombstones and merge append fragments — the
    maintenance job that keeps the served IVF-PQ index read-optimal
    after a stream of O(batch) appends (each leaves one file per
    touched bucket) and O(batch) deletes (each leaves tombstones the
    probes must anti-join). Work is TOUCHED-BUCKETS-ONLY: a bucket is
    rewritten iff it has at least one LIVE row and holds a tombstoned
    row or more than one code file; everything else's file set is
    untouched (pytest-pinned). A fully-dead bucket (every row
    tombstoned) is NEVER selected or returned: dynamic overwrite
    cannot write an empty partition, so its file set cannot change —
    re-reporting it every call would keep compact from converging to
    [] and overstate work to a scheduler keying off the return value.
    Its rows stay on disk, its tombstones are RETAINED in the sidecar,
    and probes stay correct. Tombstones with NO backing code rows at
    all (phantoms: a delete of a never-indexed id, or a replayed
    delete batch after a prior compaction) are PRUNED even on the
    no-work path — otherwise they would wedge appends/ingest of those
    ids forever behind a compact that never clears them.

    Work discovery reads METADATA when the per-file stats sidecar is
    present (the default for every index this module builds): fragment
    counts come straight from the manifest, and the tombstone-overlap
    scan is envelope-pruned to only the files whose [min_id, max_id]
    intersects a pending delete (_pruned_tombstoned_codes) — at 100 TB
    that is the difference between a corpus-sided 64x-narrow scan per
    maintenance decision and a metadata read plus a delete-bounded
    file subset. `use_manifest=False` forces the catalog-free
    fallback (full narrow scan + one `input_file_name` aggregation);
    None auto-detects the sidecar.

    Rewrites go through `sinks.overwrite_partitions` (dynamic partition
    overwrite) so only touched `bucket=` partitions are replaced, one
    file per bucket (`repartition("bucket")` puts each bucket in
    exactly one task).
    Only tombstones whose rows were physically removed leave the
    sidecar. Returns the rewritten bucket ids (sorted). The
    materialize-before-overwrite is a localCheckpoint: correct here
    (the rewrite must not read the files it replaces), but its blocks
    live on executors — on a real cluster an executor loss
    mid-compaction aborts the job (clean: a retry starts over; stage
    to a temp dir instead if that retry cost ever matters).

    Probe-equality before/after is exact: the anti-join the probe did
    against the sidecar is the same filter compaction bakes into the
    files.

    SINGLE-WRITER contract (the Iceberg-style commit discipline the
    sidecar comments invoke, made explicit): compaction read-modifies-
    overwrites both the bucket partitions and the tombstone sidecar,
    so it must NOT run concurrently with delete_from_ivfpq_index,
    append_ivfpq_index, or a streaming ingest — a delete landing
    between the sidecar read and its overwrite would be silently
    lost (resurrecting rows), and an append's fresh b<id>- fragment
    can be clobbered by the partition overwrite. Serialize all index
    mutations (the ingest ledger/marker directory is a natural lock
    home).

    Operational contract with streaming ingest: compaction folds the
    stream's batch-named b<id>- files into anonymous part- files, so
    the fresh-checkpoint re-drain recovery (streaming/ingest.py) is
    only valid up to the last compaction — after one, recover a lost
    checkpoint+ledger by rebuilding, not by re-draining history."""
    _check_no_split_inflight(spark, path)
    tomb = _read_tombstones(spark, path)
    man = None
    if use_manifest is not False:
        # refresh creates the sidecar if absent, so None/True both land
        # on the metadata path; False forces the catalog-free scan
        man = refresh_ivfpq_manifest(spark, path)

    if man is not None:
        # metadata-only fragment counts; envelope-pruned tombstone scan
        frag = (
            man.groupBy("bucket")
            .agg(F.count("*").alias("_nf"))
            .filter(F.col("_nf") > 1)
            .select("bucket")
        )
        if tomb is not None:
            tombstoned = _pruned_tombstoned_codes(spark, path, man, tomb)
            dead_per_bucket = tombstoned.groupBy("bucket").agg(
                F.count("*").alias("_nd")
            )
            alive = (
                man.groupBy("bucket")
                .agg(F.sum("n_rows").alias("_nt"))
                .join(dead_per_bucket, "bucket", "left")
                .filter(
                    F.col("_nt") > F.coalesce(F.col("_nd"), F.lit(0))
                )
                .select("bucket")
            )
            work = (
                frag.unionByName(dead_per_bucket.select("bucket"))
                .distinct()
                .join(alive, "bucket", "left_semi")
            )
        else:
            work = frag
    else:
        codes = _read_codes(spark, path)
        frag = (
            codes.select("bucket", F.input_file_name().alias("_f"))
            .groupBy("bucket")
            .agg(F.countDistinct("_f").alias("_nf"))
            .filter(F.col("_nf") > 1)
            .select("bucket")
        )
        work = frag
        if tomb is not None:
            dead_buckets = (
                codes.join(tomb, "id", "left_semi")
                .select("bucket")
                .distinct()
            )
            alive_buckets = (
                codes.join(tomb, "id", "left_anti")
                .select("bucket")
                .distinct()
            )
            work = (
                work.unionByName(dead_buckets)
                .distinct()
                .join(alive_buckets, "bucket", "left_semi")
            )
    # bounded by nlist — a metadata-sized collect
    buckets = sorted(int(r[0]) for r in work.collect())
    if not buckets:
        if man is not None:
            compact_ivfpq_manifest(spark, path, max_segments=1)
        _prune_tombstones(spark, path, tomb, man)
        return []

    live = _read_codes(spark, path).filter(F.col("bucket").isin(buckets))
    if tomb is not None:
        live = live.join(tomb, "id", "left_anti")
    # materialize BEFORE overwriting the files being read
    live = live.repartition("bucket").localCheckpoint(eager=True)
    # write-time stats for the rewritten buckets (checkpointed frame:
    # the agg re-reads executor blocks, not files)
    pre = _bucket_stats(live)

    overwrite_partitions(live, path, partition_col="bucket")

    if man is not None:
        # one seq=0 snapshot of the live view, every segment folded
        man = refresh_ivfpq_manifest(spark, path, precomputed=pre, fold=True)
    _prune_tombstones(spark, path, tomb, man)
    return buckets


def _prune_tombstones(
    spark, path: str, tomb: DataFrame | None, man: DataFrame | None
) -> None:
    """Rewrite the tombstone sidecar to only the ids that still have
    backing code rows — applied tombstones AND phantoms (never-indexed
    or already-compacted ids) drop out, so a pending phantom can never
    wedge appends behind a compact that has nothing to rewrite. With a
    manifest the backing-row probe is envelope-pruned; without, it is
    one narrow semi-join against the code table. The no-op case (every
    tombstone still backed) skips the rewrite — both counts are
    delete-batch-sized."""
    if tomb is None:
        return
    if man is not None:
        backing = _pruned_tombstoned_codes(spark, path, man, tomb).select(
            "id"
        )
    else:
        backing = _read_codes(spark, path).select("id")
    remaining = tomb.join(backing, "id", "left_semi").localCheckpoint(
        eager=True
    )
    if remaining.count() == tomb.count():
        return
    remaining.write.mode("overwrite").parquet(f"{path}_tombstones")


def ivfpq_index_stats(
    spark, path: str, *, use_manifest: bool | None = None
) -> DataFrame:
    """Per-bucket audit of the persisted IVF-PQ index — the health
    check a maintenance scheduler keys compaction off: for every
    coarse bucket, how many codes are live and how many are logically
    deleted (tombstoned but not yet compacted away). With the per-file
    stats sidecar present (the default for every index this module
    builds), the totals are a METADATA read (sum of per-file n_rows)
    and only the tombstone overlap touches data — an envelope-pruned
    scan of just the files whose [min_id, max_id] intersects a pending
    delete (_pruned_tombstoned_codes); with zero pending deletes the
    whole audit is metadata. `use_manifest=False` forces the
    catalog-free fallback: one pass over the narrow code table plus a
    join against the tombstone sidecar on id (a plain join — the
    pending-delete set is not metadata-sized in general). Returns
    (bucket, n_live, n_deleted) ordered by bucket — identical between
    the two paths (gated + pytest-pinned).

    WRITE DISCIPLINE: the default (None) audit is strictly READ-ONLY —
    a monitoring poll must stay safe to run concurrently with writers,
    and refresh_ivfpq_manifest overwrites the sidecar. It reads the
    existing manifest and VALIDATES it against one metadata listing;
    if the sidecar is missing or stale (a writer crashed between
    publish and refresh) it falls back to the exact scan instead of
    healing in place. `use_manifest=True` opts into refresh-then-read
    (a WRITE — caller owns the single-writer contract)."""
    _check_no_split_inflight(spark, path)
    man = None
    if use_manifest is True:
        man = refresh_ivfpq_manifest(spark, path)
    elif use_manifest is None:
        man = _read_ivfpq_manifest(spark, path)
        if man is not None:
            listed = {
                (suffix, size, mtime)
                for _, suffix, size, mtime in _list_code_files(spark, path)
            }
            described = {
                (r["suffix"], r["size"], r["mtime"]) for r in man.collect()
            }
            if listed != described:
                man = None  # stale sidecar: use the exact scan
    tomb = _read_tombstones(spark, path)
    if man is not None:
        totals = man.groupBy("bucket").agg(
            F.sum("n_rows").cast("long").alias("_nt")
        )
        if tomb is not None:
            dead = (
                _pruned_tombstoned_codes(spark, path, man, tomb)
                .groupBy("bucket")
                .agg(F.count("*").cast("long").alias("_nd"))
            )
            totals = totals.join(dead, "bucket", "left")
        else:
            totals = totals.withColumn("_nd", F.lit(None).cast("long"))
        return totals.select(
            "bucket",
            (F.col("_nt") - F.coalesce(F.col("_nd"), F.lit(0)))
            .cast("long")
            .alias("n_live"),
            F.coalesce(F.col("_nd"), F.lit(0)).cast("long")
            .alias("n_deleted"),
        ).orderBy("bucket")
    codes = _read_codes(spark, path).select("id", "bucket")
    if tomb is not None:
        flagged = codes.join(
            tomb.withColumn("_dead", F.lit(1)).distinct(), "id", "left"
        )
    else:
        flagged = codes.withColumn("_dead", F.lit(None).cast("int"))
    return (
        flagged.groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("_dead").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_live"),
            F.sum(F.when(F.col("_dead").isNotNull(), 1).otherwise(0))
            .cast("long")
            .alias("n_deleted"),
        )
        .orderBy("bucket")
    )


def _probe_codes(spark, path: str, buckets: list[int]) -> DataFrame:
    """The probes' code scan: refuse an index with a split in flight,
    partition-prune to the probed `buckets`, and anti-join the
    tombstone sidecar BEFORE candidate selection, so a logical delete
    is visible to the next query (plain join — the pending-delete set
    is not metadata-sized in general)."""
    _check_no_split_inflight(spark, path)
    codes = _read_codes(spark, path).filter(F.col("bucket").isin(buckets))
    tomb = _read_tombstones(spark, path)
    if tomb is not None:
        codes = codes.join(tomb, "id", "left_anti")
    return codes


def query_ivfpq_index(
    spark,
    path: str,
    query_vec: list[float],
    *,
    k: int = 10,
    nprobe: int = 2,
    expand: int = 10,
    rerank_src: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe a persisted IVF-PQ index with ONE query: the batch probe
    (query_ivfpq_index_batch) over a one-query batch. Returns
    (id_col, score) top-k, ties to the lowest id, as a snapshot taken
    at call time (a local relation; see query_ivfpq_index_batch)."""
    return _probe_batch(
        spark,
        path,
        [(0, [float(x) for x in query_vec])],
        k=k,
        nprobe=nprobe,
        expand=expand,
        rerank_src=rerank_src,
        vec_col=vec_col,
        id_col=id_col,
    ).drop("query_id")


def query_ivfpq_index_batch(
    spark,
    path: str,
    queries: DataFrame,
    *,
    k: int = 10,
    nprobe: int = 2,
    expand: int = 10,
    rerank_src: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Probe a persisted IVF-PQ index with a BATCH of queries — the
    serving shape: nprobe nearest centroids per query picked
    driver-side over the tiny centroid table, per-query LUTs built
    from the metadata-sized query collect and BROADCAST as ONE
    (qid, bucket, term1, lut) frame (term1 = dot(q, c_bucket); ADC =
    term1 + m table lookups per candidate — no vector math touches the
    corpus), the code scan partition-pruned to the UNION of all
    queries' probed buckets and read ONCE (each probed bucket's files
    scan a single time however many queries probe it), and a
    per-query window keeping the top k*expand candidates.

    The exact rerank runs on the DRIVER: the Q*k*expand candidates are
    metadata-sized, so they are collected, only their vectors are
    fetched from `rerank_src` through ONE pushed `id IN (...)` filter
    (parquet row groups prune on it), and each (query, candidate) pair
    is rescored in `portable.cosine_similarity`'s exact double order
    (see _rerank). Returns (query_id, id_col, score), top-k per query
    ordered by (query_id, score desc, id), ties to the lowest id (the
    oracle replays the whole pipeline per query). The result is a
    SNAPSHOT taken at call time — a local relation whose collect runs
    no Spark job — not a lazy plan over the index and `rerank_src`.

    At 100 TB this is the difference between an index that answers ONE
    query and one that serves a workload: LUT math is per-query
    metadata work, the corpus-sided cost is one pruned scan per BATCH.
    """
    return _probe_batch(
        spark,
        path,
        _query_rows(queries, id_col, vec_col),
        k=k,
        nprobe=nprobe,
        expand=expand,
        rerank_src=rerank_src,
        vec_col=vec_col,
        id_col=id_col,
    )


def _query_rows(
    queries: DataFrame, id_col: str, vec_col: str
) -> list[tuple[int, list[float]]]:
    """The batch's driver-side (qid, vector) rows. The raw array is
    collected: `float` of each element is exactly Spark's cast to
    double."""
    return [
        (int(qid), [float(x) for x in qv])
        for qid, qv in queries.select(id_col, vec_col).collect()
    ]


def _ranked(reranked: DataFrame, k: int, id_col: str) -> DataFrame:
    """The distributed probe's result: the top `k` reranked rows per
    query, ordered by (query_id, score desc, id). Those are Q*k rows,
    so ONE task sorts them; a global orderBy would pay a sampling job
    and a range shuffle to order them."""
    rank = (F.col("score").desc(), F.col(id_col).asc())
    return (
        _top_k(reranked, "query_id", k, *rank)
        .coalesce(1)
        .sortWithinPartitions("query_id", *rank)
    )


def _probe_candidates(
    spark,
    path: str,
    qrows: list[tuple[int, list[float]]],
    *,
    k: int,
    nprobe: int,
    expand: int,
) -> DataFrame:
    """The batch probe's ADC candidate plan over driver-side (qid,
    vector) rows: (query_id, id), the top k*expand codes per query by
    (adc_score desc, id), from one partition-pruned, tombstone
    anti-joined code scan."""
    import math

    cents = _read_centroids(spark, path)
    cb = load_codebooks(spark, path)
    lut_rows = []
    for qid, qv in qrows:
        wq = [math.floor(x * PQ_SCALE) for x in qv]
        qnorm = math.sqrt(sum(x * x for x in qv))

        def cos(row):
            dot = sum(float(a) * b for a, b in zip(row["cvec"], qv))
            return dot / (row["cnorm"] * qnorm)

        probed = sorted(cents, key=lambda r: (-cos(r), r["centroid_id"]))[
            :nprobe
        ]
        lut = _lut(wq, cb)
        for r in probed:
            wc = [math.floor(float(x) * PQ_SCALE) for x in r["cvec"]]
            lut_rows.append((qid, int(r["centroid_id"]), _int_dot(wq, wc), lut))
    luts = local_df(
        spark, lut_rows, "qid long, b long, term1 long, lut array<array<long>>"
    )
    codes = _probe_codes(spark, path, sorted({b for _, b, _, _ in lut_rows}))
    scored = codes.join(
        F.broadcast(luts), F.col("bucket") == F.col("b")
    ).select(
        F.col("qid").alias("query_id"),
        F.col("id"),
        (F.col("term1") + _adc()).alias("adc_score"),
    )
    return _top_k(
        scored, "query_id", k * expand,
        F.col("adc_score").desc(), F.col("id").asc(),
    ).select("query_id", "id")


def _vectors_of(
    rerank_src: DataFrame, ids: list[int], id_col: str, vec_col: str
) -> DataFrame:
    """`rerank_src`'s (id, vec) rows for `ids`, filtered by ONE SQL
    `IN` literal: it lands in the scan's DataFilters (an INSET past
    ten ids), so parquet row groups prune on it, and it costs one
    py4j round trip — `Column.isin(list)` and `F.lit(list)` cost one
    per element."""
    cond = f"id IN ({', '.join(str(int(i)) for i in ids)})" if ids else "false"
    return rerank_src.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("vec")
    ).filter(cond)


def _seq_dot(a, b):
    """Row-wise dot products of two (n, L) float64 arrays accumulated
    one dimension at a time, left to right from 0.0 — the exact order
    of `portable.dot_product`'s `aggregate`. (`np.dot`, `@` and
    `np.sum` add in pairwise or BLAS order and differ in the last
    bits.)"""
    import numpy as np

    acc = np.zeros(a.shape[0])
    for j in range(a.shape[1]):
        acc = acc + a[:, j] * b[:, j]
    return acc


def _rerank(spark, pairs: list[tuple[list[float], list | None]]) -> list:
    """`portable.cosine_similarity(cv, qv)` of each (qv, cv) pair, as
    Spark evaluates it on the raw `cv` cast to double (numpy's float64
    conversion of each element is that cast): a null vector, a null
    element or a length mismatch gives None (zip_with pads the shorter
    array with nulls, and a null propagates through the sum); a zero
    denominator raises under `spark.sql.ansi.enabled`, as Spark's
    Divide does, and gives None otherwise."""
    import numpy as np

    scores: list = [None] * len(pairs)
    by_len: dict[int, list[int]] = {}
    for n, (qv, cv) in enumerate(pairs):
        if cv is not None and len(cv) == len(qv) and None not in cv:
            by_len.setdefault(len(qv), []).append(n)
    for dim, idx in by_len.items():
        q = np.array([pairs[n][0] for n in idx], dtype=np.float64)
        c = np.array([pairs[n][1] for n in idx], dtype=np.float64)
        q, c = q.reshape(len(idx), dim), c.reshape(len(idx), dim)
        with np.errstate(all="ignore"):  # IEEE inf/NaN, as the JVM's
            den = np.sqrt(_seq_dot(c, c)) * np.sqrt(_seq_dot(q, q))
            cos = _seq_dot(c, q) / den
        zero = den == 0.0
        if zero.any() and (
            spark.conf.get("spark.sql.ansi.enabled").lower() == "true"
        ):
            from pyspark.errors import ArithmeticException

            raise ArithmeticException(
                message="[DIVIDE_BY_ZERO] Division by zero: a zero-norm "
                "vector in the IVF-PQ rerank"
            )
        for n, z, s in zip(idx, zero.tolist(), cos.tolist()):
            if not z:
                scores[n] = s
    return scores


def _rank_key(row):
    """Spark's (score desc, id asc) row order: NaN sorts above every
    number, null after every number."""
    _, i, s = row
    if s is None:
        return (2, 0.0, i)
    return (0, 0.0, i) if s != s else (1, -s, i)


def _probe_batch(
    spark,
    path: str,
    qrows: list[tuple[int, list[float]]],
    *,
    k: int,
    nprobe: int,
    expand: int,
    rerank_src: DataFrame,
    vec_col: str,
    id_col: str,
) -> DataFrame:
    """query_ivfpq_index_batch over driver-side (qid, vector) rows.
    The rerank mirrors the inner join it replaces: one row per
    `rerank_src` row carrying a candidate id (none for a missing id),
    and per query row carrying the candidate's query id."""
    cand = _probe_candidates(
        spark, path, qrows, k=k, nprobe=nprobe, expand=expand
    ).collect()
    fetch = _vectors_of(
        rerank_src, sorted({i for _, i in cand}), id_col, vec_col
    )
    vecs: dict = {}
    for i, v in fetch.collect():
        vecs.setdefault(i, []).append(v)
    qvs: dict[int, list] = {}
    for qid, qv in qrows:
        qvs.setdefault(qid, []).append(qv)
    keys, pairs = [], []
    for qid, i in cand:
        for qv in qvs[qid]:
            for cv in vecs.get(i, ()):
                keys.append((qid, i))
                pairs.append((qv, cv))
    per_query: dict[int, list] = {}
    for (qid, i), s in zip(keys, _rerank(spark, pairs)):
        per_query.setdefault(qid, []).append((qid, i, s))
    out = [
        row
        for qid in sorted(per_query)
        for row in sorted(per_query[qid], key=_rank_key)[:k]
    ]
    schema = T.StructType([
        T.StructField("query_id", T.LongType()),
        T.StructField(id_col, fetch.schema["id"].dataType),
        T.StructField("score", T.DoubleType()),
    ])
    return local_df(spark, out, schema)


# the distributed probe's scoring join spreads each bucket over this
# many tasks (see query_ivfpq_index_batch_distributed)
_SCORE_SALT = 8


def query_ivfpq_index_batch_distributed(
    spark,
    path: str,
    queries: DataFrame,
    *,
    k: int = 10,
    nprobe: int = 2,
    expand: int = 10,
    rerank_src: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """`query_ivfpq_index_batch` with the QUERIES kept distributed —
    the index-join shape: when the 'batch' is itself a table (join
    every new document against the index), collecting it driver-side
    to build LUTs (pq.query_ivfpq_index_batch's documented contract,
    fine for serving-sized batches) becomes the bottleneck. Here
    NOTHING query-sided ever reaches the driver: probing is a
    broadcast join of the query frame against the metadata-sized
    centroid table (per-query top-nprobe window), term1 is a column
    expression, and the ADC LUT is built data-sided by crossing the
    query frame with a broadcast (m, c, cw) codebook frame and folding
    the per-(m, c) dots back into array<array<long>> (generated code
    stays flat at every PQ shape). The (qid, bucket, term1, lut) frame
    joins the code scan bucket-keyed (plain join: a query TABLE is not
    broadcastable by assumption; AQE still broadcasts small batches).
    The only driver materialization is the DISTINCT probed bucket list
    (bounded by nlist — metadata, not queries), which keeps the code
    scan partition-pruned. Same tombstone anti-join; candidate
    selection is a TWO-PHASE hash-agg top-(k*expand)
    (topk_per_group_structs — no window over query_id, so one giant
    query cannot serialize a task over ~nprobe/nlist of the corpus);
    the exact rerank stays distributed (a query table's candidates
    are not metadata-sized), a join against `rerank_src` scored with
    `portable.cosine_similarity` whose final window ranks at most
    k*expand survivors per query. Row-for-row equal to the
    collect-based batch path, whose rerank runs on the driver, so the
    pytest pin cross-checks the two rerank implementations (the
    oracle replays the full pipeline per query).

    Probe scoring uses the STORED cnorm column (dot / (cnorm *
    l2(q))), the same float expression the collect-based probe
    evaluates, so a near-tie in centroid similarity cannot make the
    two probe implementations pick different buckets.

    The scoring join is SALTED: `bucket` alone has only nlist
    effective keys, so one hot bucket would serialize a task at
    scale. The LUT side explodes by `_SCORE_SALT` and the join co-keys
    on (bucket, pmod(hash(id), _SCORE_SALT)) — each code row still
    meets each (qid, bucket) LUT exactly once, but a hot bucket
    spreads over that many tasks (plan-pinned in tests)."""
    from fb_ads_bigquery_etl_spark.functions.portable import (
        cosine_similarity,
        dot_product,
    )
    from fb_ads_bigquery_etl_spark.operators.sampling import (
        topk_per_group_structs,
    )

    cents = _centroid_df(spark, path)
    cb = load_codebooks(spark, path)
    sub = len(cb[0][0])
    vec_d = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # materialize ONCE (executor-side blocks, never the driver): qv
    # feeds the probe, the LUT build, the scoring join, AND the
    # rerank, and luts is both collected from (the bucket list) and
    # joined against — a lazy plan would re-evaluate the query subtree
    # per consumer, and a non-deterministic or concurrently-appended
    # query table could then probe one bucket set and score another
    qv = queries.select(
        F.col(id_col).alias("qid"),
        vec_d.alias("_qv"),
        _floor_ints(vec_d).alias("_wq"),
    ).localCheckpoint(eager=True)
    centint = cents.select(
        "centroid_id", "cvec", "cnorm", _floor_ints(F.col("cvec")).alias("_wc")
    )
    # dot / (cnorm * |q|): the STORED cnorm, mirroring the collect-
    # based probe's float expression exactly (a recomputed norm could
    # flip a near-tie and probe a different bucket)
    probe_score = dot_product(F.col("_qv"), F.col("cvec")) / (
        F.col("cnorm") * F.sqrt(dot_product(F.col("_qv"), F.col("_qv")))
    )
    probed = _top_k(
        qv.crossJoin(F.broadcast(centint)),
        "qid", nprobe,
        probe_score.desc(), F.col("centroid_id").asc(),
    )
    cb_rows = [
        (mm, c, [int(x) for x in cw])
        for mm, cb_m in enumerate(cb)
        for c, cw in enumerate(cb_m)
    ]
    cb_df = local_df(spark, cb_rows, _CODEBOOK_SCHEMA)
    sub_dot = _long_dot(
        F.slice(F.col("_wq"), F.col("m") * F.lit(sub) + F.lit(1), sub),
        F.col("cw"),
    )
    lut_df = (
        qv.crossJoin(F.broadcast(cb_df))
        .select("qid", "m", "c", sub_dot.alias("_d"))
        .groupBy("qid", "m")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("c", "_d"))),
                lambda s: s["_d"],
            ).alias("_row")
        )
        .groupBy("qid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("m", "_row"))),
                lambda s: s["_row"],
            ).alias("lut")
        )
    )
    luts = (
        probed.select(
            "qid",
            F.col("centroid_id").alias("b"),
            _long_dot(F.col("_wq"), F.col("_wc")).alias("term1"),
        )
        .join(lut_df, "qid")
        .localCheckpoint(eager=True)
    )
    # the one driver-sided list: DISTINCT probed buckets, bounded by
    # nlist — what keeps the code scan partition-pruned without ever
    # materializing the query table
    buckets = sorted(
        int(r[0]) for r in luts.select("b").distinct().collect()
    )
    codes = _probe_codes(spark, path, buckets)
    # salt the nlist-effective-key bucket join so a hot bucket spreads
    # over _SCORE_SALT tasks instead of serializing one (each code row
    # carries ONE salt value; the LUT side replicates across all of
    # them, so every (qid, bucket) pair still scores each code exactly
    # once)
    salted_luts = luts.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i) for i in range(_SCORE_SALT)]))
    )
    salted_codes = codes.withColumn(
        "_salt", F.pmod(F.hash(F.col("id")), F.lit(_SCORE_SALT)).cast("int")
    )
    scored = salted_codes.join(
        salted_luts,
        (F.col("bucket") == F.col("b")) & (
            salted_codes["_salt"] == salted_luts["_salt"]
        ),
    ).select(
        F.col("qid").alias("query_id"),
        F.col("id"),
        (F.col("term1") + _adc()).alias("adc_score"),
    )
    # two-phase hash-agg top-(k*expand), NO window over query_id: a
    # window would funnel EVERY scored candidate of a query (all codes
    # in its probed buckets — ~nprobe/nlist of the corpus) into one
    # task, so a single giant query serializes at scale. The
    # topk_per_group_structs core keeps only k*expand survivors per
    # (query, subshard) map-side before the per-query merge sees
    # subshards * k * expand structs — metadata-sized. Struct field
    # order IS the ranking: (-adc_score, id) ascending == the window's
    # (adc_score desc, id asc); adc_score is an exact long, so
    # negation is lossless and the two forms are row-identical
    # (pytest-pinned against the collect-based path).
    cand = topk_per_group_structs(
        scored,
        "query_id",
        F.struct(
            (-F.col("adc_score")).alias("_negs"), F.col("id").alias("id")
        ),
        F.hash(F.col("id")),
        k * expand,
    ).select("query_id", F.col("entry.id").alias("id"))
    reranked = (
        rerank_src.select(F.col(id_col).alias("id"), vec_d.alias("_cv"))
        .join(cand, "id")
        .join(qv.select(F.col("qid").alias("query_id"), "_qv"), "query_id")
        .select(
            "query_id",
            F.col("id").alias(id_col),
            cosine_similarity(F.col("_cv"), F.col("_qv")).alias("score"),
        )
    )
    return _ranked(reranked, k, id_col)
