"""Persisted IVF index: probe results must equal the in-memory IVF
query, and the probe scan must be partition-pruned to the probed
buckets (the sublinear-ANN claim, verified on the actual plan).
"""

from __future__ import annotations

import pytest

from fb_ads_bigquery_etl_spark.operators import similarity
from fb_ads_bigquery_etl_spark.plans import inspect as PI
from tests.conftest import SF_DIR, jobs_run_by


@pytest.fixture(scope="module")
def index_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "index")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    similarity.build_ivf_index(emb, path, centroid_mod=50)
    return path


def _qvec(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    from pyspark.sql import functions as F

    return list(emb.filter(F.col("vec_id") == 0).select("embedding").head()[0])


def test_index_probe_matches_inmemory_ivf(spark, index_path):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = _qvec(spark)
    want = [
        (r["vec_id"], round(r["score"], 10))
        for r in similarity.ivf_topk(emb, q, k=10, nprobe=2, centroid_mod=50).collect()
    ]
    got = [
        (r["vec_id"], round(r["score"], 10))
        for r in similarity.query_ivf_index(
            spark, index_path, q, k=10, nprobe=2
        ).collect()
    ]
    assert got == want


def test_index_probe_is_partition_pruned(spark, index_path):
    q = _qvec(spark)
    df = similarity.query_ivf_index(spark, index_path, q, k=10, nprobe=2)
    plan = PI.explain_str(df)
    # the bucket filter must land in PartitionFilters (directory pruning),
    # not in PushedFilters/post-scan Filter over the full corpus
    assert "PartitionFilters: [bucket" in plan.replace("\n", " ") or (
        "PartitionFilters" in plan and "bucket" in plan
    ), plan[:2000]


def test_trained_centroids_improve_probed_recall(spark):
    """k-means-trained centroids must beat (or match) the deterministic
    mod-sample on recall@10 at the same nprobe, and clear a floor."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = list(emb.filter(F.col("vec_id") == 7).select("embedding").head()[0])
    truth = {r["vec_id"] for r in similarity.brute_force_topk(emb, q, k=10).collect()}
    mod = {
        r["vec_id"]
        for r in similarity.ivf_topk(emb, q, k=10, nprobe=2, centroid_mod=50).collect()
    }
    cents = similarity.train_centroids(emb, k=16)
    trained = {
        r["vec_id"]
        for r in similarity.ivf_topk(emb, q, k=10, nprobe=2, centroids=cents).collect()
    }
    recall_mod = len(mod & truth) / 10
    recall_trained = len(trained & truth) / 10
    assert recall_trained >= recall_mod
    assert recall_trained >= 0.8


def test_trained_index_roundtrip(spark, tmp_path):
    """build_ivf_index(centroids=...) persists trained buckets; the probe
    answers from the persisted index match the in-memory query."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = similarity.train_centroids(emb, k=16)
    path = str(tmp_path / "trained_index")
    similarity.build_ivf_index(emb, path, centroids=cents)
    q = list(emb.filter(F.col("vec_id") == 7).select("embedding").head()[0])
    want = [
        (r["vec_id"], round(r["score"], 10))
        for r in similarity.ivf_topk(emb, q, k=10, nprobe=2, centroids=cents).collect()
    ]
    got = [
        (r["vec_id"], round(r["score"], 10))
        for r in similarity.query_ivf_index(spark, path, q, k=10, nprobe=2).collect()
    ]
    assert got == want


def test_cosine_pairs_unblocked_requires_optin(spark):
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    with pytest.raises(ValueError, match="allow_full_cross"):
        similarity.cosine_pairs(emb, block_col=None)
    # the explicit opt-in still works at test scale
    pairs = similarity.cosine_pairs(
        emb.limit(50), block_col=None, threshold=-1.0, allow_full_cross=True
    )
    assert pairs.count() == 50 * 49 / 2


def test_hyperplane_coeffs_deterministic_and_signed():
    from fb_ads_bigquery_etl_spark.operators.similarity import hyperplane_coeffs

    a = hyperplane_coeffs(8, 64)
    b = hyperplane_coeffs(8, 64)
    assert a == b  # no RNG state anywhere
    assert all(c in (1.0, -1.0) for row in a for c in row)
    # planes must differ from each other (md5 keyed by plane index)
    assert len({tuple(r) for r in a}) == 8


def test_lsh_topk_contains_query_and_matches_bruteforce_head(spark):
    """The query vector is its own bucket's nearest neighbor (cosine 1),
    and every LSH hit must also appear in the exact scoring order —
    scores are the same portable cosine on both paths."""
    from fb_ads_bigquery_etl_spark.operators.similarity import (
        brute_force_topk,
        lsh_topk,
    )
    from tests.conftest import SF_DIR

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = lsh_topk(e, 0, k=10, num_planes=8, dim=64, max_hamming=1).collect()
    assert got[0]["vec_id"] == 0 and abs(got[0]["score"] - 1.0) < 1e-12
    qvec = [float(x) for x in e.filter("vec_id = 0").select("embedding").head()[0]]
    exact = {
        r["vec_id"]: r["score"]
        for r in brute_force_topk(e, qvec, k=500).collect()
    }
    for r in got:
        assert exact[r["vec_id"]] == r["score"]


def test_quantized_knn_matches_python_reference(spark):
    """int8 quantization + integer-dot kNN vs an exact Python replay."""
    import math

    import numpy as np

    from fb_ads_bigquery_etl_spark.operators.similarity import (
        quantized_knn_join,
        quantized_recall,
    )

    rng = np.random.RandomState(7)
    vecs = rng.randn(40, 8).round(3)  # round: exact parquet-free doubles
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def quant(v):
        m = max(abs(x) for x in v)
        return [math.floor(x * (127.0 / m)) for x in v] if m > 0 else [0] * len(v)

    q = {i: quant(vecs[i]) for i in range(40)}

    def topk(qid, k=3):
        scored = []
        for j in range(40):
            if j == qid:
                continue
            dot = sum(a * b for a, b in zip(q[j], q[qid]))
            n2a = sum(a * a for a in q[j])
            n2b = sum(b * b for b in q[qid])
            scored.append((-(dot / (math.sqrt(n2a) * math.sqrt(n2b))), j))
        scored.sort()
        return [j for _, j in scored[:k]]

    queries = df.filter("vec_id < 3")
    got = {}
    for r in quantized_knn_join(df, queries, k=3).collect():
        got.setdefault(r["query_id"], []).append((r["qscore"], r["neighbor_id"]))
    for qid in range(3):
        got_ids = [nid for _, nid in sorted(got[qid], key=lambda t: (-t[0], t[1]))]
        assert got_ids == topk(qid), f"query {qid}"

    # recall output shape: one row per query, n_exact == k
    rec = quantized_recall(df, k=3, n_queries=3).collect()
    assert [r["query_id"] for r in rec] == [0, 1, 2]
    assert all(r["n_exact"] == 3 for r in rec)
    assert all(0 <= r["n_overlap"] <= 3 for r in rec)


def test_mmr_rerank_demotes_redundant_results(spark):
    """Two near-identical top-relevance vectors: pure relevance ranks
    them 1-2; MMR must demote the duplicate below a diverse result."""
    from fb_ads_bigquery_etl_spark.operators.similarity import mmr_rerank

    rows = [
        (1, [0.9, 0.1, 0.0]),        # rel ~0.994
        (2, [0.9, 0.11, 0.0]),       # near-dup of 1 (sim ~0.99995)
        (3, [0.7, 0.7, 0.0]),        # diverse, rel ~0.707
        (4, [0.6, 0.0, 0.8]),        # diverse, rel ~0.6
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = [
        (r["rank"], r["id"])
        for r in mmr_rerank(df, [1.0, 0.0, 0.0], k=3, pool=4, lam=0.5).collect()
    ]
    # rank 1 = vec 1 (max rel). rank 2: vec 2's sim to vec 1 exceeds
    # its relevance (0.99995 > 0.993) so its MMR score goes negative
    # while vec 4's stays ~0 -> a diverse vector outranks the near-dup
    assert got[0] == (1, 1)
    assert got[1][1] in (3, 4)
    assert got[2][1] != 2 or got[1][1] != 2


def test_jl_projection_matches_python_reference(spark):
    """JL sign projection + integer-dot kNN vs an exact Python replay,
    and the recall audit's output contract."""
    import math

    import numpy as np

    from fb_ads_bigquery_etl_spark.operators.similarity import (
        jl_knn_join,
        jl_recall,
        jl_sign,
    )

    rng = np.random.RandomState(11)
    vecs = rng.randn(30, 8).round(3)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    signs = [[jl_sign(i, j) for j in range(4)] for i in range(8)]

    def project(v):
        w = [math.floor(x * 1_000_000) for x in v]
        return [sum(signs[i][j] * w[i] for i in range(8)) for j in range(4)]

    p = {i: project(vecs[i]) for i in range(30)}

    def topk(qid, k=3):
        scored = []
        for j in range(30):
            if j == qid:
                continue
            dot = sum(a * b for a, b in zip(p[j], p[qid]))
            n2a = sum(a * a for a in p[j])
            n2b = sum(b * b for b in p[qid])
            scored.append((-(dot / (math.sqrt(n2a) * math.sqrt(n2b))), j))
        scored.sort()
        return [j for _, j in scored[:k]]

    queries = df.filter("vec_id < 3")
    got = {}
    for r in jl_knn_join(df, queries, k=3, in_dim=8, out_dim=4).collect():
        got.setdefault(r["query_id"], []).append((r["pscore"], r["neighbor_id"]))
    for qid in range(3):
        got_ids = [nid for _, nid in sorted(got[qid], key=lambda t: (-t[0], t[1]))]
        assert got_ids == topk(qid), f"query {qid}"

    rec = jl_recall(
        df, k=3, n_queries=3, in_dim=8, out_dim=4, expand=3
    ).collect()
    assert [r["query_id"] for r in rec] == [0, 1, 2]
    assert all(r["n_exact"] == 3 for r in rec)
    assert all(0 <= r["n_overlap"] <= 3 for r in rec)
    # rerank mode with expand covering the whole corpus must be EXACT
    # (candidates = everything -> rerank = the exact float top-k)
    full = jl_recall(
        df, k=3, n_queries=3, in_dim=8, out_dim=4, expand=10
    ).collect()
    assert all(r["n_overlap"] == 3 for r in full), full


def test_jl_project_pandas_twin_matches_expression_spec(spark):
    """The Arrow-batched projection must be BIT-identical to the
    jl_project expression spec (same floor-scaled integers, same sign
    literals, same int64 sums)."""
    import numpy as np

    from fb_ads_bigquery_etl_spark.operators.similarity import (
        jl_project,
        jl_project_pandas,
    )

    rng = np.random.RandomState(23)
    vecs = rng.randn(50, 8) * rng.choice([1e-3, 1.0, 3.0], size=(50, 1))
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    kw = dict(in_dim=8, out_dim=4)
    spec = {r["id"]: (r["pvec"], r["pnorm2"])
            for r in jl_project(df, **kw).collect()}
    twin = {r["id"]: (r["pvec"], r["pnorm2"])
            for r in jl_project_pandas(df, **kw).collect()}
    assert twin == spec


def test_pq_training_and_encode_match_python_reference(spark):
    """PQ codebook training (seeds + one exact-integer Lloyd step) and
    code assignment must equal a pure-Python replay — the same
    determinism contract the DuckDB oracle relies on, pinned here on a
    tiny corpus where the replay is obvious. Includes the emptied-
    codeword rule: a duplicate seed's cluster keeps its seed codeword
    (ties assign to the LOWEST codeword index)."""
    import math

    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        PQ_SCALE,
        pq_encode,
        pq_train_codebooks,
    )

    # 8 vectors of dim 4 -> m=2 subspaces of 2 dims, ksub=2 codewords.
    # Rows 0 and 1 are IDENTICAL: seed codeword 1 duplicates seed 0, so
    # every vector ties to codeword 0 first and cluster 1 stays empty.
    vecs = [
        [0.1, 0.2, -0.3, 0.4],
        [0.1, 0.2, -0.3, 0.4],
        [0.5, -0.1, 0.2, 0.0],
        [-0.2, 0.3, 0.1, -0.4],
        [0.0, 0.0, 0.0, 0.0],
        [0.9, 0.9, -0.9, 0.9],
        [-0.5, -0.5, 0.5, 0.5],
        [0.3, 0.1, 0.2, 0.1],
    ]
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vecs)],
        "vec_id long, embedding array<float>",
    )
    cb = pq_train_codebooks(df, in_dim=4, m=2, ksub=2)

    # pure-Python replay (floats enter through float32 like the table)
    import numpy as np

    W = [
        [int(math.floor(float(np.float32(x)) * PQ_SCALE)) for x in v]
        for v in vecs
    ]
    seeds = [[W[c][mm * 2 : mm * 2 + 2] for c in range(2)] for mm in range(2)]
    want = [[list(c) for c in s] for s in seeds]
    for mm in range(2):
        assign = []
        for w in W:
            sub = w[mm * 2 : mm * 2 + 2]
            d = [
                sum((a - b) ** 2 for a, b in zip(sub, seeds[mm][c]))
                for c in range(2)
            ]
            assign.append(d.index(min(d)))  # ties -> lowest
        for c in range(2):
            members = [W[i][mm * 2 : mm * 2 + 2]
                       for i, a in enumerate(assign) if a == c]
            if members:
                n = len(members)
                want[mm][c] = [
                    sum(col) // n for col in zip(*members)
                ]
    assert cb == want
    # duplicate seed -> cluster 1 empty in every subspace -> keeps seed
    assert cb[0][1] == seeds[0][1] and cb[1][1] == seeds[1][1]

    codes = {
        r["id"]: list(r["codes"])
        for r in pq_encode(df, cb).collect()
    }
    for i, w in enumerate(W):
        for mm in range(2):
            sub = w[mm * 2 : mm * 2 + 2]
            d = [
                sum((a - b) ** 2 for a, b in zip(sub, cb[mm][c]))
                for c in range(2)
            ]
            assert codes[i][mm] == d.index(min(d))


def test_ivf_index_append_is_append_only_and_matches_rebuild(spark, tmp_path):
    """append_ivf_index must (a) never touch existing data files (the
    pre-append file set of EVERY bucket dir is a subset of the
    post-append set — nothing rewritten or deleted, proven per file),
    (b) only add files to buckets the batch actually routes to, and
    (c) leave the index probe-equal to a from-scratch rebuild over the
    union (same frozen centroids)."""
    import os

    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    path = str(tmp_path / "index")
    similarity.build_ivf_index(base, path, centroid_mod=50)

    def files_by_bucket(p):
        out = {}
        for d in os.listdir(p):
            if d.startswith("bucket="):
                out[d] = sorted(
                    f
                    for f in os.listdir(os.path.join(p, d))
                    if f.endswith(".parquet")
                )
        return out

    before = files_by_bucket(path)
    similarity.append_ivf_index(spark, delta, path)
    after = files_by_bucket(path)

    # (a) append-only: every pre-existing file survives untouched
    for d, files in before.items():
        assert set(files) <= set(after.get(d, [])), d
    # (b) files were added only to buckets the delta routes to
    cents = spark.read.parquet(f"{path}_centroids")
    _, dassigned = similarity.assign_ivf_buckets(delta, centroids=cents)
    touched = {
        f"bucket={r[0]}"
        for r in dassigned.select("bucket").distinct().collect()
    }
    grew = {
        d
        for d in after
        if set(after[d]) - set(before.get(d, set()))
    }
    assert grew == touched, (grew, touched)

    # (c) probe equality vs a full rebuild over the union with the
    # SAME centroid source (base's mod-sample)
    qvec = list(
        emb.filter(F.col("vec_id") == 1).select("embedding").head()[0]
    )
    got = similarity.query_ivf_index(spark, path, qvec, k=10, nprobe=2)
    rebuilt = str(tmp_path / "rebuilt")
    similarity.build_ivf_index(
        emb, rebuilt, centroids=cents
    )
    want = similarity.query_ivf_index(spark, rebuilt, qvec, k=10, nprobe=2)
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]


def test_train_centroids_exact_fixed_nlist_and_deterministic(spark):
    """The trained coarse quantizer (integer-exact quantized Lloyd's)
    must (a) emit exactly k centroids regardless of corpus size — the
    fixed-nlist property that keeps bucket assignment O(N * nlist)
    where the id-mod sample's nlist grew with N — (b) be bit-identical
    across input partitionings (integer partial sums are associative),
    and (c) drive ivf_topk to the same head as exact brute force for a
    query that is itself a corpus vector."""
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")

    cents = similarity.train_centroids_exact(emb, k=16, iters=2)
    rows = cents.collect()
    assert len(rows) == 16  # fixed nlist, not |corpus|/mod
    assert all(len(r["cvec"]) == 64 for r in rows)

    again = similarity.train_centroids_exact(
        emb.repartition(13), k=16, iters=2
    )
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again.collect()))

    qvec = list(
        emb.filter(F.col("vec_id") == 7).select("embedding").head()[0]
    )
    got = similarity.ivf_topk(
        emb, qvec, k=5, nprobe=2, centroids=cents
    ).collect()
    assert len(got) == 5
    # the query vector lives in one of its own probed buckets, so the
    # exact-match head must survive the probe
    assert got[0]["vec_id"] == 7 and got[0]["score"] == 1.0


def test_ivfpq_index_probe_is_partition_pruned_and_matches_rebuild(
    spark, tmp_path
):
    """The persisted IVF-PQ probe must (a) push its bucket filter into
    PartitionFilters (directory pruning — only probed buckets' code
    files are even listed; the code scan lives in the candidate plan,
    since the returned top-k is a driver-side snapshot), and (b)
    return the same reranked top-k as re-running the probe against a
    freshly rebuilt index (same trained centroids -> same codes)."""
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        _probe_candidates,
        build_ivfpq_index,
        query_ivfpq_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = similarity.train_centroids_exact(emb, k=16, iters=2)
    cents = cents.localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, path, in_dim=64, m=4, ksub=8, centroids=cents)
    qvec = list(
        emb.filter(F.col("vec_id") == 3).select("embedding").head()[0]
    )
    out = query_ivfpq_index(
        spark, path, qvec, k=10, nprobe=2, expand=10, rerank_src=emb
    )
    plan = PI.explain_str(
        _probe_candidates(
            spark, path, [(0, [float(x) for x in qvec])],
            k=10, nprobe=2, expand=10,
        )
    )
    assert "PartitionFilters" in plan and "bucket" in plan, plan
    got = [tuple(r) for r in out.collect()]
    assert len(got) == 10
    # self is its own nearest (cosine 1 up to one rounding step of
    # dot/(norm*norm))
    assert got[0][0] == 3 and abs(got[0][1] - 1.0) < 1e-12

    path2 = str(tmp_path / "ivfpq2")
    build_ivfpq_index(emb, path2, in_dim=64, m=4, ksub=8, centroids=cents)
    again = [
        tuple(r)
        for r in query_ivfpq_index(
            spark, path2, qvec, k=10, nprobe=2, expand=10, rerank_src=emb
        ).collect()
    ]
    assert got == again


def test_ivfpq_append_is_append_only_and_matches_rebuild(spark, tmp_path, store):
    """append_ivfpq_index must (a) never touch existing code files
    (per-bucket pre-append file sets survive as subsets), (b) add
    files only to buckets the batch routes to, and (c) leave the index
    probe-equal to a from-scratch rebuild over the union with the SAME
    frozen sidecars (centroids + codebooks) — the add-vs-train split
    that makes the served PQ index maintainable in O(batch)."""
    import os

    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        append_ivfpq_index,
        build_ivfpq_index,
        load_codebooks,
        query_ivfpq_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    path = str(tmp_path / "ivfpq")
    cents = similarity.train_centroids_exact(base, k=16, iters=2)
    cents = cents.localCheckpoint(eager=True)
    build_ivfpq_index(base, path, in_dim=64, m=4, ksub=8, centroids=cents)
    cb = load_codebooks(spark, path)

    def files_by_bucket(p):
        out = {}
        for d in os.listdir(p):
            if d.startswith("bucket="):
                out[d] = sorted(
                    f
                    for f in os.listdir(os.path.join(p, d))
                    if f.endswith(".parquet")
                )
        return out

    before = files_by_bucket(path)
    append_ivfpq_index(spark, delta, path)
    after = files_by_bucket(path)

    # (a) append-only: every pre-existing code file survives untouched
    for d, files in before.items():
        assert set(files) <= set(after.get(d, [])), d
    # (b) files added only to buckets the delta routes to
    _, dassigned = similarity.assign_ivf_buckets(delta, centroids=cents)
    touched = {
        f"bucket={r[0]}"
        for r in dassigned.select("bucket").distinct().collect()
    }
    grew = {
        d for d in after if set(after[d]) - set(before.get(d, set()))
    }
    assert grew == touched, (grew, touched)

    # (c) probe equality vs full rebuild with the same frozen sidecars
    qvec = list(
        emb.filter(F.col("vec_id") == 5).select("embedding").head()[0]
    )
    got = query_ivfpq_index(
        spark, path, qvec, k=10, nprobe=2, expand=10, rerank_src=emb
    )
    rebuilt = str(tmp_path / "rebuilt")
    build_ivfpq_index(
        emb, rebuilt, in_dim=64, m=4, ksub=8, centroids=cents, codebooks=cb
    )
    want = query_ivfpq_index(
        spark, rebuilt, qvec, k=10, nprobe=2, expand=10, rerank_src=emb
    )
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]


def test_ivfpq_batch_query_equals_per_query_loop(spark, tmp_path):
    """query_ivfpq_index_batch must return row-for-row what a
    query_ivfpq_index loop returns for the same queries, while its one
    code scan (in the candidate plan) partition-prunes to the union of
    probed buckets."""
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        _probe_candidates,
        _query_rows,
        build_ivfpq_index,
        query_ivfpq_index,
        query_ivfpq_index_batch,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = similarity.train_centroids_exact(emb, k=16, iters=2)
    cents = cents.localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, path, in_dim=64, m=4, ksub=8, centroids=cents)

    qids = [3, 7, 11]
    qs = emb.filter(F.col("vec_id").isin(qids))
    out = query_ivfpq_index_batch(
        spark, path, qs, k=10, nprobe=2, expand=10, rerank_src=emb
    )
    plan = PI.explain_str(
        _probe_candidates(
            spark, path, _query_rows(qs, "vec_id", "embedding"),
            k=10, nprobe=2, expand=10,
        )
    )
    assert "PartitionFilters" in plan and "bucket" in plan, plan
    got = [tuple(r) for r in out.collect()]

    want = []
    for qid in qids:
        qvec = list(
            emb.filter(F.col("vec_id") == qid).select("embedding").head()[0]
        )
        for r in query_ivfpq_index(
            spark, path, qvec, k=10, nprobe=2, expand=10, rerank_src=emb
        ).collect():
            want.append((qid, r[0], r[1]))
    assert got == want

    # and the equality must survive tombstone deletes: both probe
    # shapes anti-join the sidecar before candidate selection
    from fb_ads_bigquery_etl_spark.operators.pq import (
        delete_from_ivfpq_index,
    )

    delete_from_ivfpq_index(
        spark, emb.filter(F.col("vec_id") % 5 == 0).select("vec_id"), path
    )
    got2 = [
        tuple(r)
        for r in query_ivfpq_index_batch(
            spark, path, qs, k=10, nprobe=2, expand=10, rerank_src=emb
        ).collect()
    ]
    assert got2 and all(i % 5 != 0 for _, i, _ in got2), got2
    want2 = []
    for qid in qids:
        qvec = list(
            emb.filter(F.col("vec_id") == qid).select("embedding").head()[0]
        )
        for r in query_ivfpq_index(
            spark, path, qvec, k=10, nprobe=2, expand=10, rerank_src=emb
        ).collect():
            want2.append((qid, r[0], r[1]))
    assert got2 == want2


def test_ivfpq_delete_is_tombstone_only_and_probe_excludes(spark, tmp_path, store):
    """delete_from_ivfpq_index must (a) leave every code file
    untouched (tombstone-only), (b) make deleted ids invisible to the
    very next probe, (c) leave the probe row-for-row equal to an index
    built on the live rows alone with the SAME frozen sidecars (the
    anti-join happens before candidate selection, so logical deletes
    are exact), and (d) append on repeat — earlier tombstone files
    survive a second delete."""
    import os

    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        build_ivfpq_index,
        delete_from_ivfpq_index,
        load_codebooks,
        query_ivfpq_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = similarity.train_centroids_exact(emb, k=16, iters=2)
    cents = cents.localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, path, in_dim=64, m=4, ksub=8, centroids=cents)
    cb = load_codebooks(spark, path)

    def all_code_files(p):
        out = set()
        for d in os.listdir(p):
            if d.startswith("bucket="):
                for f in os.listdir(os.path.join(p, d)):
                    if f.endswith(".parquet"):
                        out.add((d, f))
        return out

    before = all_code_files(path)
    delete_from_ivfpq_index(
        spark, emb.filter(F.col("vec_id") % 7 == 0).select("vec_id"), path
    )
    # (a) tombstone-only: identical code file set
    assert all_code_files(path) == before

    qvec = list(
        emb.filter(F.col("vec_id") == 5).select("embedding").head()[0]
    )
    got = [
        tuple(r)
        for r in query_ivfpq_index(
            spark, path, qvec, k=10, nprobe=2, expand=10, rerank_src=emb
        ).collect()
    ]
    # (b) no deleted id in the top-k
    assert got and all(i % 7 != 0 for i, _ in got), got

    # (c) equality vs a live-only build with the same frozen sidecars
    live = emb.filter(F.col("vec_id") % 7 != 0)
    path2 = str(tmp_path / "liveonly")
    build_ivfpq_index(
        live, path2, in_dim=64, m=4, ksub=8, centroids=cents, codebooks=cb
    )
    want = [
        tuple(r)
        for r in query_ivfpq_index(
            spark, path2, qvec, k=10, nprobe=2, expand=10, rerank_src=emb
        ).collect()
    ]
    assert got == want

    # (d) second delete appends: first tombstone files survive
    tp = f"{path}_tombstones"
    t_before = set(os.listdir(tp))
    delete_from_ivfpq_index(
        spark, emb.filter(F.col("vec_id") == 11).select("vec_id"), path
    )
    assert t_before <= set(os.listdir(tp))


def test_ivfpq_compact_touches_only_dirty_buckets(spark, tmp_path):
    """compact_ivfpq_index must be probe-invariant, merge every dirty
    bucket to ONE file, leave clean buckets' file sets byte-for-byte
    alone, empty the tombstone sidecar once applied, and be a no-op
    when there is no work."""
    import os

    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        build_ivfpq_index,
        compact_ivfpq_index,
        delete_from_ivfpq_index,
        ivfpq_index_stats,
        query_ivfpq_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = similarity.train_centroids_exact(emb, k=16, iters=2)
    cents = cents.localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, path, in_dim=64, m=4, ksub=8, centroids=cents)

    def files_by_bucket(p):
        return {
            d: sorted(
                f
                for f in os.listdir(os.path.join(p, d))
                if f.endswith(".parquet")
            )
            for d in os.listdir(p)
            if d.startswith("bucket=")
        }

    # first compact: collapse build fragments -> 1 file per bucket
    compact_ivfpq_index(spark, path)
    snap = files_by_bucket(path)
    assert all(len(v) == 1 for v in snap.values()), snap
    # idempotent: nothing left to do
    assert compact_ivfpq_index(spark, path) == []
    assert files_by_bucket(path) == snap

    # delete three ids; only their buckets may be rewritten
    ids = [3, 5, 11]
    _, assigned = similarity.assign_ivf_buckets(
        emb.filter(F.col("vec_id").isin(ids)), centroids=cents
    )
    dirty = {
        f"bucket={r[0]}"
        for r in assigned.select("bucket").distinct().collect()
    }
    delete_from_ivfpq_index(
        spark, emb.filter(F.col("vec_id").isin(ids)).select("vec_id"), path
    )
    qvec = list(
        emb.filter(F.col("vec_id") == 7).select("embedding").head()[0]
    )
    pre = [
        tuple(r)
        for r in query_ivfpq_index(
            spark, path, qvec, k=10, nprobe=2, expand=10, rerank_src=emb
        ).collect()
    ]
    compacted = compact_ivfpq_index(spark, path)
    assert {f"bucket={b}" for b in compacted} == dirty, (compacted, dirty)
    after = files_by_bucket(path)
    for d, files in snap.items():
        if d not in dirty:
            assert after[d] == files, d  # clean buckets untouched
        else:
            assert len(after[d]) == 1 and after[d] != files, d
    # tombstones applied -> sidecar empty, audit shows zero deleted
    st = ivfpq_index_stats(spark, path)
    assert st.agg(F.sum("n_deleted")).head()[0] == 0
    post = [
        tuple(r)
        for r in query_ivfpq_index(
            spark, path, qvec, k=10, nprobe=2, expand=10, rerank_src=emb
        ).collect()
    ]
    assert post == pre  # probe-invariant


def test_ivfpq_stats_matches_direct_recount(spark, tmp_path):
    """ivfpq_index_stats must reproduce (per bucket) the live and
    tombstoned counts computed directly from the assignment."""
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        append_ivfpq_index,
        build_ivfpq_index,
        delete_from_ivfpq_index,
        ivfpq_index_stats,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    cents = similarity.train_centroids_exact(base, k=16, iters=2)
    cents = cents.localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(base, path, in_dim=64, m=4, ksub=8, centroids=cents)
    append_ivfpq_index(spark, delta, path)
    delete_from_ivfpq_index(
        spark, emb.filter(F.col("vec_id") % 7 == 0).select("vec_id"), path
    )
    got = {
        int(r["bucket"]): (int(r["n_live"]), int(r["n_deleted"]))
        for r in ivfpq_index_stats(spark, path).collect()
    }
    _, assigned = similarity.assign_ivf_buckets(emb, centroids=cents)
    want = {
        int(r["bucket"]): (int(r["live"]), int(r["dead"]))
        for r in assigned.groupBy("bucket")
        .agg(
            F.sum(F.when(F.col("id") % 7 != 0, 1).otherwise(0)).alias(
                "live"
            ),
            F.sum(F.when(F.col("id") % 7 == 0, 1).otherwise(0)).alias(
                "dead"
            ),
        )
        .collect()
    }
    assert got == want


def test_ivfpq_fully_dead_bucket_retains_tombstones(spark, tmp_path):
    """A bucket whose EVERY row is tombstoned produces no output rows,
    so dynamic partition overwrite cannot clear it — compaction must
    RETAIN its tombstones (probes stay correct) while applying the
    rest."""
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        _read_tombstones,
        build_ivfpq_index,
        compact_ivfpq_index,
        delete_from_ivfpq_index,
        query_ivfpq_index,
    )

    # two well-separated 4-d clusters; bucket of ids 0..3 dies entirely
    rows = [
        (0, [1.0, 0.9, 0.0, 0.0]),
        (1, [0.9, 1.0, 0.0, 0.0]),
        (2, [1.0, 1.0, 0.1, 0.0]),
        (3, [0.9, 0.9, 0.0, 0.1]),
        (10, [0.0, 0.0, 1.0, 0.9]),
        (11, [0.0, 0.1, 0.9, 1.0]),
        (12, [0.0, 0.0, 1.0, 1.0]),
        (13, [0.1, 0.0, 0.9, 0.9]),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    cents = similarity.train_centroids_exact(
        emb, k=2, iters=2
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "tiny")
    build_ivfpq_index(emb, path, in_dim=4, m=2, ksub=2, centroids=cents)
    _, assigned = similarity.assign_ivf_buckets(emb, centroids=cents)
    dead_bucket = assigned.filter(F.col("id") == 0).head()["bucket"]
    dead_ids = [
        int(r["id"])
        for r in assigned.filter(F.col("bucket") == dead_bucket).collect()
    ]
    # kill the whole bucket plus one row of the live one
    live_victim = next(
        int(r["id"])
        for r in assigned.filter(F.col("bucket") != dead_bucket).collect()
    )
    delete_from_ivfpq_index(
        spark,
        emb.filter(
            F.col("vec_id").isin(dead_ids + [live_victim])
        ).select("vec_id"),
        path,
    )
    compact_ivfpq_index(spark, path)
    remaining = {
        int(r["id"]) for r in _read_tombstones(spark, path).collect()
    }
    # tombstones for the unclearable dead bucket retained, the
    # applied one gone
    assert remaining == set(dead_ids), (remaining, dead_ids)
    qvec = [0.95, 0.95, 0.05, 0.05]  # aims straight at the dead bucket
    got = [
        tuple(r)
        for r in query_ivfpq_index(
            spark, path, qvec, k=4, nprobe=2, expand=10, rerank_src=emb
        ).collect()
    ]
    assert got and all(
        i not in set(dead_ids) | {live_victim} for i, _ in got
    ), got


def test_ivfpq_append_refuses_tombstoned_ids_until_compacted(spark, tmp_path):
    """The tombstone sidecar carries no sequence numbers, so
    re-adding a deleted id before compaction would either hide the
    new row (sidecar kept) or resurrect the stale pre-delete codes
    (sidecar cleared) — append must refuse with an explicit error,
    and succeed after compaction physically removes the old rows."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        append_ivfpq_index,
        build_ivfpq_index,
        compact_ivfpq_index,
        delete_from_ivfpq_index,
        query_ivfpq_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = similarity.train_centroids_exact(emb, k=16, iters=2)
    cents = cents.localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, path, in_dim=64, m=4, ksub=8, centroids=cents)
    victim = emb.filter(F.col("vec_id") == 5)
    delete_from_ivfpq_index(spark, victim.select("vec_id"), path)
    with _pytest.raises(ValueError, match="tombstoned"):
        append_ivfpq_index(spark, victim, path)
    compact_ivfpq_index(spark, path)
    append_ivfpq_index(spark, victim, path)  # clean after compaction
    qvec = list(victim.select("embedding").head()[0])
    got = [
        tuple(r)
        for r in query_ivfpq_index(
            spark, path, qvec, k=3, nprobe=2, expand=10, rerank_src=emb
        ).collect()
    ]
    # the re-added row is visible again and is its own nearest
    assert got[0][0] == 5 and abs(got[0][1] - 1.0) < 1e-12, got


def test_ivfpq_compact_prunes_phantom_tombstones(spark, tmp_path):
    """A tombstone for an id with NO backing code rows (a delete of a
    never-indexed id, or a replayed delete after a prior compaction)
    must be pruned by compact even when there is no bucket to rewrite —
    otherwise the re-add guard would refuse that id forever while
    pointing at a compact that is a no-op."""
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        _read_tombstones,
        append_ivfpq_index,
        build_ivfpq_index,
        compact_ivfpq_index,
        delete_from_ivfpq_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = similarity.train_centroids_exact(
        emb, k=16, iters=2
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, path, in_dim=64, m=4, ksub=8, centroids=cents)
    compact_ivfpq_index(spark, path)  # one file per bucket, no pending work
    ghost = int(emb.agg(F.max("vec_id")).head()[0]) + 1000
    delete_from_ivfpq_index(
        spark, spark.createDataFrame([(ghost,)], "vec_id long"), path
    )
    # no bucket holds the ghost id -> nothing to rewrite, but the
    # phantom must still be released
    assert compact_ivfpq_index(spark, path) == []
    tomb = _read_tombstones(spark, path)
    assert tomb is not None and tomb.count() == 0
    # ...so ingesting that id now succeeds instead of wedging
    victim = emb.filter(F.col("vec_id") == 3)
    ghost_row = victim.select(
        F.lit(ghost).cast("long").alias("vec_id"), "embedding"
    )
    append_ivfpq_index(spark, ghost_row, path)
    assert (
        spark.read.parquet(path).filter(F.col("id") == ghost).count() == 1
    )


def test_ivfpq_compact_converges_on_fully_dead_bucket(spark, tmp_path):
    """A fully-dead bucket's file set cannot change (dynamic overwrite
    writes nothing for an empty partition), so compact must not keep
    re-selecting or re-reporting it: the FIRST compact applies what it
    can, the SECOND returns [] with every file byte-identical."""
    import os

    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        _read_tombstones,
        build_ivfpq_index,
        compact_ivfpq_index,
        delete_from_ivfpq_index,
    )

    rows = [
        (0, [1.0, 0.9, 0.0, 0.0]),
        (1, [0.9, 1.0, 0.0, 0.0]),
        (2, [1.0, 1.0, 0.1, 0.0]),
        (3, [0.9, 0.9, 0.0, 0.1]),
        (10, [0.0, 0.0, 1.0, 0.9]),
        (11, [0.0, 0.1, 0.9, 1.0]),
        (12, [0.0, 0.0, 1.0, 1.0]),
        (13, [0.1, 0.0, 0.9, 0.9]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = similarity.train_centroids_exact(
        emb, k=2, iters=2
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "tiny")
    build_ivfpq_index(emb, path, in_dim=4, m=2, ksub=2, centroids=cents)
    _, assigned = similarity.assign_ivf_buckets(emb, centroids=cents)
    dead_bucket = int(assigned.filter(F.col("id") == 0).head()["bucket"])
    dead_ids = [
        int(r["id"])
        for r in assigned.filter(F.col("bucket") == dead_bucket).collect()
    ]
    delete_from_ivfpq_index(
        spark, emb.filter(F.col("vec_id").isin(dead_ids)).select("vec_id"),
        path,
    )

    def snapshot(p):
        out = {}
        for d in os.listdir(p):
            if d.startswith("bucket="):
                full = os.path.join(p, d)
                out[d] = sorted(
                    (f, os.path.getsize(os.path.join(full, f)))
                    for f in os.listdir(full)
                    if f.endswith(".parquet")
                )
        return out

    first = compact_ivfpq_index(spark, path)
    # the dead bucket is unrewritable work and must never be reported
    assert dead_bucket not in first, (first, dead_bucket)
    snap = snapshot(path)
    assert compact_ivfpq_index(spark, path) == []
    assert snapshot(path) == snap
    # its tombstones are retained (rows still on disk)
    remaining = {
        int(r["id"]) for r in _read_tombstones(spark, path).collect()
    }
    assert remaining == set(dead_ids)


def test_ivfpq_manifest_paths_match_scan_paths(spark, tmp_path):
    """The manifest-driven stats and compaction must be row- and
    effect-identical to the catalog-free scan paths: same audit rows,
    same rewritten buckets, same post-compact files-per-bucket, same
    probe results — on twin indexes with appends + pending deletes."""
    import os

    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        append_ivfpq_index,
        build_ivfpq_index,
        compact_ivfpq_index,
        delete_from_ivfpq_index,
        ivfpq_index_stats,
        query_ivfpq_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    cents = similarity.train_centroids_exact(
        base, k=16, iters=2
    ).localCheckpoint(eager=True)
    paths = {}
    for name in ("man", "scan"):
        p = str(tmp_path / name)
        build_ivfpq_index(base, p, in_dim=64, m=4, ksub=8, centroids=cents)
        append_ivfpq_index(spark, delta, p)
        delete_from_ivfpq_index(
            spark, emb.filter(F.col("vec_id") % 7 == 0).select("vec_id"), p
        )
        paths[name] = p

    def rows(df):
        return [tuple(r) for r in df.collect()]

    assert rows(
        ivfpq_index_stats(spark, paths["man"], use_manifest=True)
    ) == rows(ivfpq_index_stats(spark, paths["scan"], use_manifest=False))

    got_man = compact_ivfpq_index(spark, paths["man"], use_manifest=True)
    got_scan = compact_ivfpq_index(
        spark, paths["scan"], use_manifest=False
    )
    assert got_man == got_scan and got_man

    def files_per_bucket(p):
        return {
            d: sorted(
                f
                for f in os.listdir(os.path.join(p, d))
                if f.endswith(".parquet")
            )
            for d in os.listdir(p)
            if d.startswith("bucket=")
        }

    fm, fs = files_per_bucket(paths["man"]), files_per_bucket(paths["scan"])
    assert {k: len(v) for k, v in fm.items()} == {
        k: len(v) for k, v in fs.items()
    }
    qvec = list(
        emb.filter(F.col("vec_id") == 11).select("embedding").head()[0]
    )
    probes = {
        n: rows(
            query_ivfpq_index(
                spark, p, qvec, k=10, nprobe=2, expand=10, rerank_src=emb
            )
        )
        for n, p in paths.items()
    }
    assert probes["man"] == probes["scan"]
    # post-compact audits agree too (manifest refreshed by compact)
    assert rows(ivfpq_index_stats(spark, paths["man"])) == rows(
        ivfpq_index_stats(spark, paths["scan"], use_manifest=False)
    )


def test_ivfpq_manifest_refresh_is_incremental(spark, tmp_path):
    """refresh_ivfpq_manifest must keep prior rows VERBATIM (same file,
    size, mtime — proof it did not re-stat them) and add rows only for
    files an append created; rows for swept files must drop."""
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        _read_ivfpq_manifest,
        append_ivfpq_index,
        build_ivfpq_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    cents = similarity.train_centroids_exact(
        base, k=16, iters=2
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(base, path, in_dim=64, m=4, ksub=8, centroids=cents)
    before = {
        r["suffix"]: tuple(r)
        for r in _read_ivfpq_manifest(spark, path).collect()
    }
    assert before
    append_ivfpq_index(spark, delta, path)
    after = {
        r["suffix"]: tuple(r)
        for r in _read_ivfpq_manifest(spark, path).collect()
    }
    for sfx, row in before.items():
        assert after[sfx] == row  # untouched files kept verbatim
    new = set(after) - set(before)
    assert new  # the append's files are described
    # and the totals agree with the code table
    total = sum(r[5] for r in after.values())
    assert total == spark.read.parquet(path).count()


def test_ivfpq_codebook_retrain_migrates_and_guards(spark, tmp_path):
    """retrain_ivfpq_codebooks must (a) refuse while tombstones are
    pending (the rebuild would bypass logical deletes), (b) actually
    move the codebooks (warm-started step over the grown corpus), (c)
    equal the manually composed train(init=old)+rebuild chain
    probe-for-probe, and (d) not regress aggregate recall@10 vs the
    stale-codebook index it replaces."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        _residuals,
        append_ivfpq_index,
        build_ivfpq_index,
        compact_ivfpq_index,
        delete_from_ivfpq_index,
        load_codebooks,
        query_ivfpq_index,
        retrain_ivfpq_codebooks,
        train_codebooks_ints,
    )
    from fb_ads_bigquery_etl_spark.operators.similarity import knn_join

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    cents = similarity.train_centroids_exact(
        base, k=16, iters=2
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(base, path, in_dim=64, m=4, ksub=8, centroids=cents)
    append_ivfpq_index(spark, delta, path)
    old_cb = load_codebooks(spark, path)

    # (a) pending tombstones must refuse
    delete_from_ivfpq_index(
        spark, emb.filter(F.col("vec_id") == 5).select("vec_id"), path
    )
    with _pytest.raises(ValueError, match="pending tombstones"):
        retrain_ivfpq_codebooks(spark, emb, path)
    compact_ivfpq_index(spark, path)
    live = emb.filter(F.col("vec_id") != 5)

    queries = live.filter(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in knn_join(live, queries, k=10).collect()
    }

    def recall():
        hits = 0
        for q in queries.collect():
            got = query_ivfpq_index(
                spark, path, list(q["embedding"]), k=10, nprobe=2,
                expand=10, rerank_src=live,
            ).collect()
            hits += sum(
                1
                for r in got
                if (q["vec_id"], r["vec_id"]) in exact
                and r["vec_id"] != q["vec_id"]
            )
        return hits

    before = recall()
    new_cb = retrain_ivfpq_codebooks(spark, live, path)
    after = recall()

    assert new_cb != old_cb  # (b) the step moved
    assert after >= before, (after, before)  # (d) recall non-regression

    # (c) the migration equals the manual warm-start + rebuild chain
    path2 = str(tmp_path / "manual")
    _, resid = _residuals(live, cents)
    manual_cb = train_codebooks_ints(
        resid, dim=64, m=4, ksub=8, int_col="_r", id_col="id",
        init=old_cb,
    )
    assert manual_cb == new_cb
    build_ivfpq_index(
        live, path2, in_dim=64, m=4, ksub=8, centroids=cents,
        codebooks=manual_cb,
    )
    qv = list(live.filter(F.col("vec_id") == 13).head()["embedding"])
    a = [
        tuple(r)
        for r in query_ivfpq_index(
            spark, path, qv, k=10, nprobe=2, expand=10, rerank_src=live
        ).collect()
    ]
    b = [
        tuple(r)
        for r in query_ivfpq_index(
            spark, path2, qv, k=10, nprobe=2, expand=10, rerank_src=live
        ).collect()
    ]
    assert a == b


def test_ivfpq_batch_distributed_equals_collect_path(spark, tmp_path):
    """The DataFrame-native batch probe must be row-for-row equal to
    the collect-based batch path on the same index and query set, keep
    the code scan partition-pruned, and keep deletes visible — while
    its plan derives the LUTs from the query FRAME (no driver-side
    query materialization in the function; the only collect is the
    nlist-bounded probed-bucket list)."""
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        build_ivfpq_index,
        delete_from_ivfpq_index,
        query_ivfpq_index_batch,
        query_ivfpq_index_batch_distributed,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = similarity.train_centroids_exact(
        emb, k=16, iters=2
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, path, in_dim=64, m=4, ksub=8, centroids=cents)
    delete_from_ivfpq_index(
        spark, emb.filter(F.col("vec_id") % 11 == 0).select("vec_id"), path
    )
    qs = emb.filter(F.col("vec_id").isin([2, 3, 7, 19]))
    got = query_ivfpq_index_batch_distributed(
        spark, path, qs, k=10, nprobe=2, expand=10, rerank_src=emb
    )
    want = query_ivfpq_index_batch(
        spark, path, qs, k=10, nprobe=2, expand=10, rerank_src=emb
    )
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]
    plan = PI.explain_str(got)
    assert "PartitionFilters" in plan and "bucket" in plan, plan[:2000]
    # candidate selection is the TWO-PHASE hash-agg (partial+final
    # ObjectHashAggregate), not a window over every scored candidate:
    # exactly 2 windows remain — the nlist-bounded probe rank and the
    # k*expand-bounded exact-rerank rank — so one giant query can no
    # longer serialize a single task over its probed buckets' codes
    nc = PI.node_counts(got)
    assert nc["Window"] == 2, nc
    assert nc["ObjectHashAggregate"] >= 2, nc


def test_ivfpq_batch_probes_raise_on_missing_centroid_sidecar(spark, tmp_path):
    """Both batch probe shapes read the centroid sidecar through
    `storage`, so an index whose sidecar is gone fails the same way in
    each: FileNotFoundError, not a Spark AnalysisException from one of
    them."""
    import shutil

    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        build_ivfpq_index,
        query_ivfpq_index_batch,
        query_ivfpq_index_batch_distributed,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = similarity.train_centroids_exact(
        emb, k=8, iters=2
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, path, in_dim=64, m=4, ksub=8, centroids=cents)
    shutil.rmtree(f"{path}_centroids")
    qs = emb.filter(F.col("vec_id").isin([2, 3]))
    for probe in (query_ivfpq_index_batch, query_ivfpq_index_batch_distributed):
        with pytest.raises(FileNotFoundError):
            probe(spark, path, qs, k=10, nprobe=2, expand=10, rerank_src=emb)


def test_ivfpq_maintenance_verbs_raise_on_missing_centroid_sidecar(
    spark, tmp_path
):
    """Append, codebook retrain and streaming ingest read the centroid
    sidecar through `storage` too, so a missing sidecar fails them as it
    fails every probe: FileNotFoundError, before anything is written.
    The same holds for the raw-vector IVF index's append, probe and
    streaming ingest, which share the sidecar format."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        append_ivfpq_index,
        build_ivfpq_index,
        retrain_ivfpq_codebooks,
    )
    from fb_ads_bigquery_etl_spark.streaming.ingest import (
        stream_ivf_ingest,
        stream_ivfpq_ingest,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    cents = similarity.train_centroids_exact(
        base, k=8, iters=2
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(base, path, in_dim=64, m=4, ksub=8, centroids=cents)
    landing = str(tmp_path / "landing")
    delta.limit(8).write.parquet(landing)
    shutil.rmtree(f"{path}_centroids")
    def files():
        return {os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs}

    before = files()
    with pytest.raises(FileNotFoundError):
        append_ivfpq_index(spark, delta, path)
    with pytest.raises(FileNotFoundError):
        retrain_ivfpq_codebooks(spark, emb, path)
    with pytest.raises(FileNotFoundError):
        stream_ivfpq_ingest(
            spark, landing, path, checkpoint_path=str(tmp_path / "ckpt")
        )
    with pytest.raises(FileNotFoundError):
        similarity.append_ivf_index(spark, delta, path)
    with pytest.raises(FileNotFoundError):
        similarity.query_ivf_index(spark, path, [0.0] * 64)
    with pytest.raises(FileNotFoundError):
        stream_ivf_ingest(
            spark, landing, path, checkpoint_path=str(tmp_path / "ckpt")
        )
    assert files() == before


def test_ivfpq_code_table_declared_schema_equals_inferred(spark, tmp_path):
    """`_CODES_SCHEMA`, the schema every code-table read declares, is
    the schema Spark infers from the files after a build, an append, a
    split and a merge, and both reads return the same rows."""
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        _CODES_SCHEMA,
        append_ivfpq_index,
        build_ivfpq_index,
        merge_ivfpq_buckets,
        split_ivfpq_bucket,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    cents = similarity.train_centroids_exact(
        base, k=8, iters=2
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(base, path, in_dim=64, m=4, ksub=8, centroids=cents)
    append_ivfpq_index(spark, emb.filter(F.col("vec_id") % 3 == 0), path)
    split_ivfpq_bucket(spark, emb, path)
    merge_ivfpq_buckets(spark, emb, path)
    inferred = spark.read.parquet(path)
    declared = spark.read.schema(_CODES_SCHEMA).parquet(path)
    assert declared.schema == inferred.schema
    assert sorted(declared.collect()) == sorted(inferred.collect())


def test_ivfpq_manifest_segments_append_only(spark, tmp_path):
    """A refresh after one append must add exactly ONE new file to the
    manifest dir and leave every prior segment file byte-untouched
    (same size + mtime) — the append-only-segments contract that makes
    refresh O(changed) in writes; and compact_ivfpq_manifest must fold
    piled-up segments back to one snapshot with the live view
    unchanged."""
    import os

    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        _read_ivfpq_manifest,
        append_ivfpq_index,
        build_ivfpq_index,
        compact_ivfpq_manifest,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    cents = similarity.train_centroids_exact(
        base, k=16, iters=2
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(base, path, in_dim=64, m=4, ksub=8, centroids=cents)

    def seg_files():
        d = f"{path}_manifest"
        return {
            f: (os.path.getsize(os.path.join(d, f)),
                os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        }

    before = seg_files()
    assert len(before) == 1  # build writes one seq=0 snapshot segment
    # slice the delta into several appends so segments pile up
    deltas = [
        emb.filter((F.col("vec_id") % 3 == 0) & (F.col("vec_id") % 4 == i))
        for i in range(4)
    ]
    for i, d in enumerate(deltas):
        prev = seg_files()
        append_ivfpq_index(spark, d, path)
        cur = seg_files()
        new = set(cur) - set(prev)
        assert len(new) == 1, f"append {i}: expected 1 new segment"
        for f, stat in prev.items():
            assert cur[f] == stat, f"append {i}: old segment {f} rewritten"
    live_before = sorted(
        tuple(r) for r in _read_ivfpq_manifest(spark, path).collect()
    )
    # under threshold: fold is a no-op
    assert compact_ivfpq_manifest(spark, path, max_segments=8) == 0
    assert len(seg_files()) == 5
    # over threshold: folds to one snapshot, live view identical
    assert compact_ivfpq_manifest(spark, path, max_segments=2) == 5
    assert len(seg_files()) == 1
    live_after = sorted(
        tuple(r) for r in _read_ivfpq_manifest(spark, path).collect()
    )
    assert live_after == live_before
    # totals still agree with the code table
    assert sum(r[5] for r in live_after) == spark.read.parquet(path).count()


def test_ivfpq_manifest_write_time_stats_no_rescan(spark, tmp_path, monkeypatch):
    """The production write path (build/append) must describe its new
    files from the write-time per-bucket stats, NEVER by re-reading the
    files it just wrote: the scan fallback is monkeypatched to raise,
    and the resulting manifest must still be row-identical to what a
    forced scan produces."""
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators import pq
    from fb_ads_bigquery_etl_spark.operators.pq import (
        _read_ivfpq_manifest,
        append_ivfpq_index,
        build_ivfpq_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    delta = emb.filter(F.col("vec_id") % 3 == 0)
    cents = similarity.train_centroids_exact(
        base, k=16, iters=2
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq")

    def boom(*a, **k):
        raise AssertionError("write path re-read just-written files")

    monkeypatch.setattr(pq, "_scan_code_file_stats", boom)
    build_ivfpq_index(base, path, in_dim=64, m=4, ksub=8, centroids=cents)
    append_ivfpq_index(spark, delta, path)
    monkeypatch.undo()
    got = sorted(tuple(r) for r in _read_ivfpq_manifest(spark, path).collect())
    # cross-check against a from-scratch scan of the same files: drop
    # the sidecar and refresh with no precomputed stats
    import shutil

    shutil.rmtree(f"{path}_manifest")
    want = sorted(
        tuple(r)
        for r in pq.refresh_ivfpq_manifest(spark, path).collect()
    )
    assert got == want


def test_ivfpq_manifest_zero_row_file_converges(spark, tmp_path):
    """A zero-row code file (out-of-band copy, crashed writer) must be
    described ONCE as (n_rows=0, min_id/max_id NULL) so the no-change
    early-return triggers on the next refresh instead of re-diffing the
    file forever — and the read-only stats validation stays green."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pap
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        build_ivfpq_index,
        ivfpq_index_stats,
        refresh_ivfpq_manifest,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = similarity.train_centroids_exact(
        emb, k=16, iters=2
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, path, in_dim=64, m=4, ksub=8, centroids=cents)
    # drop a zero-row parquet into an existing bucket dir, shaped like
    # the code files (id long, codes array<long>)
    bdir = next(
        d for d in sorted(os.listdir(path)) if d.startswith("bucket=")
    )
    empty = pa.table(
        {"id": pa.array([], pa.int64()),
         "codes": pa.array([], pa.list_(pa.int64()))}
    )
    pap.write_table(empty, os.path.join(path, bdir, "oob-empty.parquet"))
    man = refresh_ivfpq_manifest(spark, path)
    row = next(
        r for r in man.collect() if r["suffix"].endswith("oob-empty.parquet")
    )
    assert row["n_rows"] == 0
    assert row["min_id"] is None and row["max_id"] is None
    # converged: next refresh is the no-change early return (segment
    # count stable)
    segs = [
        f for f in os.listdir(f"{path}_manifest") if f.endswith(".parquet")
    ]
    refresh_ivfpq_manifest(spark, path)
    segs2 = [
        f for f in os.listdir(f"{path}_manifest") if f.endswith(".parquet")
    ]
    assert sorted(segs) == sorted(segs2)
    # the read-only audit must accept the manifest (no stale fallback):
    # totals per bucket unchanged by the empty file
    a = [tuple(r) for r in ivfpq_index_stats(spark, path).collect()]
    b = [
        tuple(r)
        for r in ivfpq_index_stats(spark, path, use_manifest=False).collect()
    ]
    assert a == b


def test_ivfpq_distributed_salted_join_on_hot_bucket(spark, tmp_path):
    """Skew-proofing the distributed probe's scoring join: on a corpus
    where one bucket holds the vast majority of codes (identical
    vectors all assign to one bucket whatever the centroids are), the
    salted join must (a) key on (bucket, _salt) in the physical plan —
    spreading the hot bucket over `_SCORE_SALT` tasks instead of
    serializing one — and (b) stay row-for-row equal to the
    collect-based batch path."""
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        build_ivfpq_index,
        query_ivfpq_index_batch,
        query_ivfpq_index_batch_distributed,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    v0 = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    hot_vec = F.array(*[F.lit(float(x)) for x in v0])
    n = emb.count()
    # 9 copies of v0's embedding per real row -> >=90% of codes in the
    # single bucket v0 assigns to, regardless of where training puts
    # the centroids
    hot = (
        emb.crossJoin(
            spark.range(1, 10).select(F.col("id").alias("_cp"))
        )
        .select(
            (F.col("vec_id") + F.col("_cp") * 100000).alias("vec_id"),
            hot_vec.alias("embedding"),
        )
    )
    corpus = (
        emb.select("vec_id", "embedding")
        .unionByName(hot)
        .localCheckpoint(eager=True)
    )
    cents = similarity.train_centroids_exact(
        corpus, k=16, iters=2
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(corpus, path, in_dim=64, m=4, ksub=8, centroids=cents)
    # the skew is real: one bucket holds >= 80% of all codes
    hist = (
        spark.read.parquet(path).groupBy("bucket").count().collect()
    )
    assert max(r["count"] for r in hist) >= 0.8 * (10 * n)

    qs = emb.filter(F.col("vec_id").isin([0, 3, 7]))
    got = query_ivfpq_index_batch_distributed(
        spark, path, qs, k=10, nprobe=2, expand=10, rerank_src=corpus
    )
    plan = PI.explain_str(got)
    assert "_salt" in plan, plan[:2000]
    want = query_ivfpq_index_batch(
        spark, path, qs, k=10, nprobe=2, expand=10, rerank_src=corpus
    )
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]


def test_ivfpq_bucket_split_exact_and_scoped(spark, tmp_path):
    """split_ivfpq_bucket must (a) refuse with pending tombstones, (b)
    produce a code table + probe results EXACTLY equal to a
    from-scratch build at the grown centroid set with the same frozen
    codebooks (the strays audit: vectors of OTHER buckets that prefer
    a child centroid must migrate too), (c) rewrite ONLY the touched
    buckets — every untouched bucket's file set stays byte-identical —
    and (d) leave the manifest consistent (metadata stats == exact
    scan) with the parent partition dir gone."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        build_ivfpq_index,
        compact_ivfpq_index,
        delete_from_ivfpq_index,
        ivfpq_index_stats,
        load_codebooks,
        query_ivfpq_index_batch,
        split_ivfpq_bucket,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = similarity.train_centroids_exact(
        emb, k=16, iters=2
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, path, in_dim=64, m=4, ksub=8, centroids=cents)
    cb = load_codebooks(spark, path)

    # (a) tombstone refusal
    delete_from_ivfpq_index(
        spark, emb.filter(F.col("vec_id") == 5).select("vec_id"), path
    )
    with _pytest.raises(ValueError, match="pending tombstones"):
        split_ivfpq_bucket(spark, emb, path)
    compact_ivfpq_index(spark, path)
    live = emb.filter(F.col("vec_id") != 5)

    def file_stats():
        out = {}
        for d in os.listdir(path):
            if not d.startswith("bucket="):
                continue
            for f in os.listdir(os.path.join(path, d)):
                p = os.path.join(path, d, f)
                out[f"{d}/{f}"] = (os.path.getsize(p), os.path.getmtime(p))
        return out

    before = file_stats()
    res = split_ivfpq_bucket(spark, live, path)
    after = file_stats()

    # (c) untouched buckets byte-identical; parent dir gone
    untouched = {
        s for s in before
        if int(s.split("/")[0].split("=")[1]) not in res["touched"]
    }
    assert untouched  # the pin is vacuous if everything moved
    for s in untouched:
        assert after[s] == before[s], f"untouched file {s} rewritten"
    assert not os.path.isdir(
        os.path.join(path, f"bucket={res['bucket']}")
    )

    # (b) exact equality to the from-scratch build at grown centroids
    grown = spark.read.parquet(f"{path}_centroids").localCheckpoint(
        eager=True
    )
    assert grown.count() == 17  # 16 - parent + 2 children
    path2 = str(tmp_path / "rebuild")
    build_ivfpq_index(
        live, path2, in_dim=64, m=4, ksub=8, centroids=grown, codebooks=cb
    )
    split_codes = sorted(
        tuple(r)
        for r in spark.read.parquet(path)
        .select("id", "codes", F.col("bucket").cast("long"))
        .collect()
    )
    rebuild_codes = sorted(
        tuple(r)
        for r in spark.read.parquet(path2)
        .select("id", "codes", F.col("bucket").cast("long"))
        .collect()
    )
    assert split_codes == rebuild_codes
    qs = live.filter(F.col("vec_id").isin([2, 3, 7, 19]))
    got = query_ivfpq_index_batch(
        spark, path, qs, k=10, nprobe=2, expand=10, rerank_src=live
    )
    want = query_ivfpq_index_batch(
        spark, path2, qs, k=10, nprobe=2, expand=10, rerank_src=live
    )
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]

    # (d) manifest consistent after the split
    a = [tuple(r) for r in ivfpq_index_stats(spark, path).collect()]
    b = [
        tuple(r)
        for r in ivfpq_index_stats(spark, path, use_manifest=False).collect()
    ]
    assert a == b


def test_ivfpq_manifest_legacy_sidecar_reads_and_upgrades(spark, tmp_path, store):
    """An index whose sidecar predates the segment format (plain
    8-column snapshot, no seq/op) must read as a seq=0 all-'add'
    segment, and the next refresh must diff against it and APPEND a
    normal segment — in-place upgrade, no rebuild."""
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        _MANIFEST_SCHEMA,
        _read_ivfpq_manifest,
        append_ivfpq_index,
        build_ivfpq_index,
        refresh_ivfpq_manifest,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    cents = similarity.train_centroids_exact(
        base, k=16, iters=2
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(base, path, in_dim=64, m=4, ksub=8, centroids=cents)
    live = [tuple(r) for r in _read_ivfpq_manifest(spark, path).collect()]
    # rewrite the sidecar in the LEGACY 8-column shape
    spark.createDataFrame(live, _MANIFEST_SCHEMA).write.mode(
        "overwrite"
    ).parquet(f"{path}_manifest")
    got = sorted(tuple(r) for r in _read_ivfpq_manifest(spark, path).collect())
    assert got == sorted(live)
    # no-change refresh over the legacy sidecar: nothing re-stat'ed
    again = sorted(
        tuple(r)
        for r in refresh_ivfpq_manifest(spark, path).collect()
    )
    assert again == sorted(live)
    # an append DIFFS against the legacy rows and appends one segment
    append_ivfpq_index(
        spark, emb.filter(F.col("vec_id") % 3 == 0), path
    )
    after = _read_ivfpq_manifest(spark, path).collect()
    assert {r["suffix"] for r in after} > {r[1] for r in live}
    assert sum(r["n_rows"] for r in after) == spark.read.parquet(path).count()


def test_ivfpq_manifest_segments_auto_fold_bounds_history(spark, tmp_path, store):
    """An append-only workload that never compacts the INDEX must still
    get its manifest sidecar folded: after many appends the segment
    file count stays bounded by the fold threshold (+1 for the newest
    segment), and the live view stays correct."""
    import os

    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        _read_ivfpq_manifest,
        append_ivfpq_index,
        build_ivfpq_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 13 == 0)
    cents = similarity.train_centroids_exact(
        base, k=4, iters=1
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(base, path, in_dim=64, m=4, ksub=8, centroids=cents)
    for i in range(12):
        append_ivfpq_index(
            spark,
            emb.filter(
                (F.col("vec_id") % 13 != 0) & (F.col("vec_id") % 12 == i)
            ),
            path,
        )
    segs = [
        f
        for f in os.listdir(f"{path}_manifest")
        if f.endswith(".parquet")
    ]
    assert len(segs) <= 9, f"{len(segs)} segment files survived 12 appends"
    man = _read_ivfpq_manifest(spark, path).collect()
    assert sum(r["n_rows"] for r in man) == spark.read.parquet(path).count()


def test_ivfpq_compact_leaves_one_manifest_snapshot(spark, tmp_path, store):
    """Compaction leaves the manifest sidecar as ONE parquet file, the
    seq=0 snapshot of the reconciled live view, on its work path and on
    its no-work path alike: otherwise every append + compact cycle
    adds two segments until the 8-segment auto-fold."""
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark import storage
    from fb_ads_bigquery_etl_spark.operators import pq

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    base = emb.filter(F.col("vec_id") % 3 != 0)
    cents = similarity.train_centroids_exact(
        base, k=8, iters=1
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq")
    pq.build_ivfpq_index(base, path, in_dim=64, m=4, ksub=8, centroids=cents)
    pq.append_ivfpq_index(spark, emb.filter(F.col("vec_id") % 3 == 0), path)
    pq.delete_from_ivfpq_index(
        spark, emb.filter(F.col("vec_id") % 7 == 0).select("vec_id"), path
    )

    def segments():
        return [
            name
            for _, name, _, _ in storage.resolve(spark, path).list_files(
                f"{path}_manifest"
            )
            if name.endswith(".parquet")
        ]

    def live_view():
        return sorted(
            tuple(r) for r in pq._read_ivfpq_manifest(spark, path).collect()
        )

    def from_code_files():
        listed = pq._list_code_files(spark, path)
        stats = pq._scan_code_file_stats(spark, path, [f[0] for f in listed])
        return sorted(
            (full, sfx, size, mtime, int(sfx.split("/")[0][len("bucket="):]))
            + stats[sfx]
            for full, sfx, size, mtime in listed
        )

    assert len(segments()) == 2  # build snapshot + append segment
    assert pq.compact_ivfpq_index(spark, path)
    assert len(segments()) == 1
    assert live_view() == from_code_files()

    # no-work path: a catalog-free compaction applies new deletes
    # behind the manifest's back, a refresh records that as a second
    # segment, and the manifest compaction then has nothing to rewrite
    pq.delete_from_ivfpq_index(
        spark, emb.filter(F.col("vec_id") % 5 == 0).select("vec_id"), path
    )
    assert pq.compact_ivfpq_index(spark, path, use_manifest=False)
    pq.refresh_ivfpq_manifest(spark, path)
    assert len(segments()) == 2
    before = live_view()
    assert pq.compact_ivfpq_index(spark, path) == []
    assert len(segments()) == 1
    assert live_view() == before == from_code_files()


def test_ivfpq_split_crash_recovery(spark, tmp_path, monkeypatch, store):
    """A split interrupted AFTER its commit marker lands must (a) gate
    every public verb with a loud 'interrupted bucket split' error —
    the mismatched centroid/code window can never be read — (b) roll
    forward via recover_ivfpq_split to EXACTLY the state an
    uninterrupted split of the same index produces (codes, centroids,
    manifest-vs-exact stats), and (c) recover is a no-op (False) on a
    clean index and idempotent after a real recovery."""
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators import pq

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = similarity.train_centroids_exact(
        emb, k=16, iters=2
    ).localCheckpoint(eager=True)
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    for p in (a, b):
        pq.build_ivfpq_index(
            emb, p, in_dim=64, m=4, ksub=8, centroids=cents
        )

    # (c) clean index: nothing to recover
    assert pq.recover_ivfpq_split(spark, a) is False

    res_a = pq.split_ivfpq_bucket(spark, emb, a)  # reference outcome

    # crash b's split right after the commit point: the marker and
    # staging are on disk, no live file has been swapped yet
    def boom(spark_, path_):
        raise RuntimeError("simulated crash after commit marker")

    monkeypatch.setattr(pq, "_replay_split_commit", boom)
    with pytest.raises(RuntimeError, match="simulated crash"):
        pq.split_ivfpq_bucket(spark, emb, b)
    monkeypatch.undo()

    # (a) every public verb refuses while the commit is in flight
    qs = emb.filter(F.col("vec_id").isin([2, 3, 7]))
    for fn in (
        lambda: pq.ivfpq_index_stats(spark, b),
        lambda: pq.compact_ivfpq_index(spark, b),
        lambda: pq.append_ivfpq_index(spark, qs, b),
        lambda: pq.delete_from_ivfpq_index(
            spark, qs.select("vec_id"), b
        ),
        lambda: pq.query_ivfpq_index_batch(
            spark, b, qs, k=5, nprobe=2, rerank_src=emb
        ).collect(),
        lambda: pq.split_ivfpq_bucket(spark, emb, b),
    ):
        with pytest.raises(ValueError, match="interrupted bucket split"):
            fn()

    # (b) roll forward, then the two indexes are state-identical
    assert pq.recover_ivfpq_split(spark, b) is True
    assert pq.recover_ivfpq_split(spark, b) is False  # idempotent

    def state(path):
        codes = sorted(
            tuple(r)
            for r in spark.read.parquet(path)
            .select("id", "codes", F.col("bucket").cast("long"))
            .collect()
        )
        cents_rows = sorted(
            tuple(r)
            for r in spark.read.parquet(f"{path}_centroids").collect()
        )
        stats = [
            tuple(r) for r in pq.ivfpq_index_stats(spark, path).collect()
        ]
        return codes, cents_rows, stats

    assert state(b) == state(a)
    # a crash DURING the marker write leaves only the tmp dir (the
    # marker itself lands by FS-rename): that is a PRE-commit crash —
    # no verb refuses, recover is a no-op, and the next split cleans
    # the stale tmp and succeeds
    import os as _os

    tmp_marker = f"{b}_split_commit_tmp"
    _os.makedirs(tmp_marker, exist_ok=True)
    with open(_os.path.join(tmp_marker, "garbage"), "w") as fh:
        fh.write("partial")
    pq.ivfpq_index_stats(spark, b)  # no refusal
    assert pq.recover_ivfpq_split(spark, b) is False
    pq.split_ivfpq_bucket(spark, emb, b)  # cleans stale tmp, succeeds
    assert not _os.path.exists(tmp_marker)
    # manifest agrees with the exact scan after recovery
    exact = [
        tuple(r)
        for r in pq.ivfpq_index_stats(
            spark, b, use_manifest=False
        ).collect()
    ]
    assert [tuple(r) for r in pq.ivfpq_index_stats(spark, b).collect()] == exact
    # the parent partition dir is gone on both
    import os

    assert not os.path.isdir(os.path.join(b, f"bucket={res_a['bucket']}"))


def test_ivfpq_distributed_lut_auto_join_at_realistic_ksub(spark, tmp_path):
    """The distributed probe's data-sided LUT build at a realistic PQ
    shape: m=8, ksub=256, sub=8 (m*ksub*sub = 16384 codeword entries).
    The probe must run end to end ROW-IDENTICAL to the collect-based
    batch path, whose LUTs are built driver-side in plain Python — the
    strongest available cross-check at this shape (recall parity
    follows from row identity). Codebooks are pinned, not trained: the
    shape is what is under test, and build/encode are Arrow-batched
    kernels indifferent to ksub."""
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        build_ivfpq_index,
        load_codebooks,
        query_ivfpq_index_batch,
        query_ivfpq_index_batch_distributed,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = similarity.train_centroids_exact(
        emb, k=8, iters=2
    ).localCheckpoint(eager=True)
    m, ksub, sub = 8, 256, 8
    cb = [
        [
            [((mm * 997 + c * 17 + j * 31) % 2001) - 1000
             for j in range(sub)]
            for c in range(ksub)
        ]
        for mm in range(m)
    ]
    path = str(tmp_path / "ivfpq256")
    build_ivfpq_index(
        emb, path, in_dim=64, m=m, ksub=ksub, centroids=cents,
        codebooks=cb,
    )
    got_cb = load_codebooks(spark, path)
    n_literals = (
        len(got_cb) * len(got_cb[0]) * len(got_cb[0][0])
    )
    assert n_literals == 16384

    qs = emb.filter(F.col("vec_id").isin([2, 3, 7, 19, 42]))
    got = query_ivfpq_index_batch_distributed(
        spark, path, qs, k=10, nprobe=2, expand=10, rerank_src=emb
    )
    want = query_ivfpq_index_batch(
        spark, path, qs, k=10, nprobe=2, expand=10, rerank_src=emb
    )
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]


def test_ivfpq_bucket_merge_exact_scoped_and_degenerate(spark, tmp_path):
    """merge_ivfpq_buckets must (a) refuse with pending tombstones,
    (b) produce a code table + probe results EXACTLY equal to a
    from-scratch build at the SHRUNK centroid set with the same frozen
    codebooks (the audit: parents' members may prefer OTHER existing
    centroids, and other buckets' near-boundary vectors may prefer the
    merged centroid), (c) rewrite ONLY the touched buckets with the
    parents' partition dirs gone and the manifest consistent, and (d)
    handle the degenerate both-parents-empty case — the default cold
    pick must SEE zero-row centroids, retire them with no replacement,
    and move nothing."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        build_ivfpq_index,
        compact_ivfpq_index,
        delete_from_ivfpq_index,
        ivfpq_index_stats,
        load_codebooks,
        merge_ivfpq_buckets,
        query_ivfpq_index_batch,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = similarity.train_centroids_exact(
        emb, k=16, iters=2
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, path, in_dim=64, m=4, ksub=8, centroids=cents)
    cb = load_codebooks(spark, path)

    # (a) tombstone refusal
    delete_from_ivfpq_index(
        spark, emb.filter(F.col("vec_id") == 5).select("vec_id"), path
    )
    with _pytest.raises(ValueError, match="pending tombstones"):
        merge_ivfpq_buckets(spark, emb, path)
    compact_ivfpq_index(spark, path)
    live = emb.filter(F.col("vec_id") != 5)

    # explicit pair must name real centroids (merging a nonexistent
    # bucket would silently retrain the other one)
    with _pytest.raises(ValueError, match="not in the centroid set"):
        merge_ivfpq_buckets(spark, live, path, buckets=(3, 99))

    def file_stats():
        out = {}
        for d in os.listdir(path):
            if not d.startswith("bucket="):
                continue
            for f in os.listdir(os.path.join(path, d)):
                p = os.path.join(path, d, f)
                out[f"{d}/{f}"] = (os.path.getsize(p), os.path.getmtime(p))
        return out

    before = file_stats()
    res = merge_ivfpq_buckets(spark, live, path)
    after = file_stats()

    # (c) untouched buckets byte-identical; both parent dirs gone
    untouched = {
        s for s in before
        if int(s.split("/")[0].split("=")[1]) not in res["touched"]
    }
    assert untouched
    for s in untouched:
        assert after[s] == before[s], f"untouched file {s} rewritten"
    for b in res["buckets"]:
        assert not os.path.isdir(os.path.join(path, f"bucket={b}"))

    # (b) exact equality to the from-scratch build at shrunk centroids
    shrunk = spark.read.parquet(f"{path}_centroids").localCheckpoint(
        eager=True
    )
    assert shrunk.count() == 15  # 16 - 2 parents + 1 merged
    assert res["merged"] == [
        int(shrunk.agg(F.max("centroid_id")).head()[0])
    ]
    path2 = str(tmp_path / "rebuild")
    build_ivfpq_index(
        live, path2, in_dim=64, m=4, ksub=8, centroids=shrunk,
        codebooks=cb,
    )
    merge_codes = sorted(
        tuple(r)
        for r in spark.read.parquet(path)
        .select("id", "codes", F.col("bucket").cast("long"))
        .collect()
    )
    rebuild_codes = sorted(
        tuple(r)
        for r in spark.read.parquet(path2)
        .select("id", "codes", F.col("bucket").cast("long"))
        .collect()
    )
    assert merge_codes == rebuild_codes
    qs = live.filter(F.col("vec_id").isin([2, 3, 7, 19]))
    got = query_ivfpq_index_batch(
        spark, path, qs, k=10, nprobe=2, expand=10, rerank_src=live
    )
    want = query_ivfpq_index_batch(
        spark, path2, qs, k=10, nprobe=2, expand=10, rerank_src=live
    )
    assert [tuple(r) for r in got.collect()] == [
        tuple(r) for r in want.collect()
    ]
    a = [tuple(r) for r in ivfpq_index_stats(spark, path).collect()]
    b = [
        tuple(r)
        for r in ivfpq_index_stats(
            spark, path, use_manifest=False
        ).collect()
    ]
    assert a == b

    # (d) degenerate: an index built over a corpus that leaves two
    # centroids memberless — the default cold pick must find exactly
    # those two, retire them with no replacement, move nothing
    _, assign = similarity.assign_ivf_buckets(
        emb, vec_col="embedding", id_col="vec_id", centroids=cents
    )
    hot2 = [
        int(r["bucket"])
        for r in assign.groupBy("bucket").count()
        .orderBy(F.col("count").asc(), F.col("bucket").asc())
        .limit(2)
        .collect()
    ]
    keep_ids = assign.filter(~F.col("bucket").isin(hot2)).select("id")
    sub_corpus = emb.join(
        keep_ids, emb["vec_id"] == keep_ids["id"], "left_semi"
    ).localCheckpoint(eager=True)
    path3 = str(tmp_path / "holes")
    build_ivfpq_index(
        sub_corpus, path3, in_dim=64, m=4, ksub=8, centroids=cents
    )
    before3 = {
        d for d in os.listdir(path3) if d.startswith("bucket=")
    }
    res3 = merge_ivfpq_buckets(spark, sub_corpus, path3)
    assert sorted(res3["buckets"]) == sorted(hot2)
    assert res3["merged"] == [] and res3["moved"] == 0
    assert res3["touched"] == []
    assert {
        d for d in os.listdir(path3) if d.startswith("bucket=")
    } == before3  # no code dir existed for the empty pair; none touched
    shrunk3 = spark.read.parquet(f"{path3}_centroids")
    assert shrunk3.count() == 14
    assert (
        shrunk3.filter(F.col("centroid_id").isin(hot2)).count() == 0
    )


def _spark_rerank_rows(spark, path, qrows, rerank_src, *, k, nprobe, expand):
    """The Spark reference for the serving probe's driver rerank: the
    candidate frame joined to `rerank_src` and to the query vectors,
    scored with `portable.cosine_similarity`, top k per query."""
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.functions.portable import cosine_similarity
    from fb_ads_bigquery_etl_spark.operators.pq import _probe_candidates, _ranked

    cand = _probe_candidates(spark, path, qrows, k=k, nprobe=nprobe, expand=expand)
    qvecs = spark.createDataFrame(qrows, "query_id long, _qv array<double>")
    reranked = (
        rerank_src.select(
            F.col("vec_id").alias("id"),
            F.transform("embedding", lambda x: x.cast("double")).alias("_cv"),
        )
        .join(F.broadcast(cand), "id")
        .join(F.broadcast(qvecs), "query_id")
        .select(
            "query_id",
            F.col("id").alias("vec_id"),
            cosine_similarity(F.col("_cv"), F.col("_qv")).alias("score"),
        )
    )
    return _ranked(reranked, k, "vec_id")


def _bits(rows):
    return [(q, i, None if s is None else s.hex()) for q, i, s in rows]


def test_ivfpq_driver_rerank_equals_spark_cosine_bit_for_bit(spark, tmp_path):
    """The serving probe reranks on the driver. On adversarial vectors
    its rows equal Spark's own `cosine_similarity` rerank bit for bit,
    in the same order, under the same join semantics: NaN, +-inf,
    subnormals, float32 extremes, double under- and overflow, a null
    element, a length mismatch and a null vector; an id duplicated in
    `rerank_src` (one row per source row), an id missing from it
    (dropped), and a duplicated query id (crossed with every
    candidate of that id). A zero norm raises in both under ANSI mode
    and gives null in both without it."""
    import numpy as np
    from pyspark.errors import ArithmeticException
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        _query_rows,
        build_ivfpq_index,
        query_ivfpq_index_batch,
    )

    dim, n = 8, 40
    rng = np.random.default_rng(11)
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(n)],
        "vec_id long, embedding array<float>",
    )
    cents = similarity.train_centroids_exact(
        corpus, k=2, iters=2
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(corpus, path, in_dim=dim, m=2, ksub=4, centroids=cents)

    inf, nan, f32max = float("inf"), float("nan"), 3.4028234663852886e38

    def normal():
        return [float(x) for x in rng.normal(size=dim)]

    adversarial = {
        0: [[nan] + normal()[1:]],
        1: [[inf] + normal()[1:]],
        2: [[-inf] + normal()[1:]],
        3: [[inf, -inf] + normal()[2:]],
        4: [[1e-45] * dim],  # float32's smallest subnormal
        5: [[1.1754942e-38, -1e-45] + normal()[2:]],
        6: [[f32max] * dim],
        7: [[f32max, -f32max] + normal()[2:]],
        8: [[None] + normal()[1:]],
        9: [normal()[1:]],  # one element short
        10: [None],
        11: [normal(), normal()],  # duplicate id, two source rows
        # 12 is missing from rerank_src
        13: [[1e-200] + normal()[1:]],  # underflows in double
        14: [[1e200] + normal()[1:]],  # overflows in double
    }
    rows = [
        (i, v) for i in range(n) if i != 12
        for v in adversarial.get(i, [normal()])
    ]
    q1, q2, q3 = normal(), normal(), normal()
    queries = spark.createDataFrame(
        [(20, q1), (21, q2), (20, q3)], "vec_id long, embedding array<float>"
    )
    qrows = _query_rows(queries, "vec_id", "embedding")
    # every code is a candidate (twice for the duplicated query id:
    # once per LUT row) and every reranked row is returned
    shape = dict(k=1000, nprobe=2, expand=1)
    for ddl in ("vec_id long, embedding array<float>",
                "vec_id int, embedding array<double>"):
        src = spark.createDataFrame(rows, ddl)
        got = query_ivfpq_index_batch(
            spark, path, queries, rerank_src=src, **shape
        )
        want = _spark_rerank_rows(spark, path, qrows, src, **shape)
        assert got.schema["vec_id"].dataType == want.schema["vec_id"].dataType
        got_rows, want_rows = got.collect(), want.collect()
        assert _bits(got_rows) == _bits(want_rows)
        # query 20: 2 candidate rows x 2 query rows per source row
        assert len(got_rows) == 5 * len(rows)
        assert sum(1 for q, i, _ in got_rows if (q, i) == (20, 11)) == 8
        assert not any(i == 12 for _, i, _ in got_rows)
        scores = [s for _, _, s in got_rows]
        assert None in scores and any(s != s for s in scores if s is not None)

    zero = spark.createDataFrame(
        rows + [(12, [0.0] * dim)], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        query_ivfpq_index_batch(spark, path, queries, rerank_src=zero, **shape)
    with pytest.raises(ArithmeticException, match="DIVIDE_BY_ZERO"):
        _spark_rerank_rows(spark, path, qrows, zero, **shape).collect()
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        got = query_ivfpq_index_batch(
            spark, path, queries, rerank_src=zero, **shape
        ).collect()
        want = _spark_rerank_rows(spark, path, qrows, zero, **shape).collect()
    finally:
        spark.conf.unset("spark.sql.ansi.enabled")
    assert _bits(got) == _bits(want)
    assert any(i == 12 and s is None for _, i, s in got)


def test_ivfpq_rebuild_clears_pending_tombstones(spark, tmp_path, store):
    """A full rebuild from the caller's corpus supersedes pending
    deletes, as it supersedes a staged split: no stale tombstone hides
    a rebuilt id from the probe or counts it as deleted."""
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        build_ivfpq_index,
        delete_from_ivfpq_index,
        ivfpq_index_stats,
        query_ivfpq_index,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").filter(
        F.col("vec_id") < 300
    )
    cents = similarity.train_centroids_exact(
        emb, k=4, iters=2
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, path, in_dim=64, m=4, ksub=8, centroids=cents)
    delete_from_ivfpq_index(
        spark, emb.filter(F.col("vec_id") == 7).select("vec_id"), path
    )
    build_ivfpq_index(emb, path, in_dim=64, m=4, ksub=8, centroids=cents)

    stats = ivfpq_index_stats(spark, path).collect()
    assert sum(r["n_deleted"] for r in stats) == 0, stats
    assert sum(r["n_live"] for r in stats) == 300, stats
    qvec = list(emb.filter(F.col("vec_id") == 7).select("embedding").head()[0])
    got = query_ivfpq_index(
        spark, path, qvec, k=10, nprobe=2, expand=10, rerank_src=emb
    ).collect()
    assert got[0]["vec_id"] == 7, got


def test_ivfpq_warm_batch_query_job_budget(spark, tmp_path):
    """A warm serving batch with pending tombstones runs at most 6
    Spark jobs (query collect, candidate plan, vector fetch), and the
    frame it returns is a driver-side snapshot: collecting it runs
    none."""
    from pyspark.sql import functions as F

    from fb_ads_bigquery_etl_spark.operators.pq import (
        build_ivfpq_index,
        delete_from_ivfpq_index,
        query_ivfpq_index_batch,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cents = similarity.train_centroids_exact(
        emb, k=16, iters=2
    ).localCheckpoint(eager=True)
    path = str(tmp_path / "ivfpq")
    build_ivfpq_index(emb, path, in_dim=64, m=4, ksub=8, centroids=cents)
    delete_from_ivfpq_index(
        spark, emb.filter(F.col("vec_id") % 11 == 0).select("vec_id"), path
    )
    # four live queries and one deleted (22): its own code is gone
    qs = emb.filter(F.col("vec_id").isin([2, 3, 7, 19, 22]))

    def probe():
        return query_ivfpq_index_batch(
            spark, path, qs, k=10, nprobe=2, expand=10, rerank_src=emb
        )

    probe().collect()  # warm
    sc = spark.sparkContext
    out, n_probe = jobs_run_by(sc, "warm_batch_query", probe)
    rows, n_collect = jobs_run_by(sc, "warm_batch_query_collect", out.collect)
    assert n_probe <= 6, n_probe
    assert n_collect == 0, n_collect
    assert len(rows) == 50 and not any(r["vec_id"] % 11 == 0 for r in rows)
