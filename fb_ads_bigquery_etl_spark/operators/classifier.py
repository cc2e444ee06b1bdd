"""Linear text classifier over hashed n-gram features — the
fastText-style quality filter (Joulin et al. 2016; the shape behind
CCNet/GPT-3-style "looks like reference text" corpus filters).

A production curation pass scores every document with a linear model:
hash the document's word uni/bigrams into B buckets, sum the buckets'
learned weights, threshold. At 100 TB the only viable plan is exactly
that shape: one narrow corpus pass to explode features (array-side
n-gram construction, no window), a BROADCAST join against the
vocab-sized weight table, and a map-side-combined per-doc sum. Nothing
data-sized shuffles except the doc-keyed partial aggregate.

Engine-exactness: feature hashing uses portable.hash32 (md5-based,
bit-identical in DuckDB); weights are INTEGER milli-units so the score
is pure BIGINT accumulation — no float order-dependence, no libm. The
`quality_classifier` oracle gate replays the whole pipeline in SQL.

`train_classifier` is the trainer half of the fastText shape:
integer-exact batch gradient descent (squared loss) over the same
hashed features, fixed iteration count, micro-unit weights — the
kmeans/pagerank/BPE unrolled-iteration discipline, so a SQL oracle
replays every gradient step bit-for-bit. `score_documents` consumes
its weight table directly. Production would train on labeled seed
data (e.g. "looks like reference text" vs random crawl) exactly this
way; a liblinear/fastText export remains a drop-in alternative.

No reference counterpart (north-star extension, BASELINE.json).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from fb_ads_bigquery_etl_spark.functions.portable import hash32, tokens
from fb_ads_bigquery_etl_spark.session import local_df


def hashed_text_features(text: Column, *, include_bigrams: bool = True) -> Column:
    """Array of feature strings: word unigrams plus (optionally) space-
    joined bigrams. Array-side construction — no explode until the
    caller chooses, no window, no UDF.

    DuckDB replay: unigrams are the token list; bigrams are
    ``list_transform(generate_series(1, len(t)-1), i -> t[i] || ' ' ||
    t[i+1])`` (guarded to [] for short docs — Spark's sequence(1, 0)
    is DESCENDING, the word_shingles trap).
    """
    tok = tokens(text)

    def feats_of(t: Column) -> Column:
        uni = t
        if not include_bigrams:
            return uni
        big = F.when(
            F.size(t) >= 2,
            F.transform(
                F.slice(t, 1, F.size(t) - 1),
                lambda w, i: F.concat(w, F.lit(" "), F.get(t, i + 1)),
            ),
        ).otherwise(F.array().cast("array<string>"))
        return F.concat(uni, big)

    # bind: evaluate the token array once, not once per lambda element
    from fb_ads_bigquery_etl_spark.functions.portable import bind

    return bind(tok, feats_of)


def feature_bucket(feat: Column, buckets: int) -> Column:
    """Stable bucket in [0, buckets) — hash32 is non-negative, so a
    plain modulus matches DuckDB's ``%``."""
    return (hash32(feat) % F.lit(buckets)).cast("long")


def score_documents(
    df: DataFrame,
    weights: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 1 << 18,
    bias_milli: int = 0,
    include_bigrams: bool = True,
    extra_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Per-document linear score over hashed features.

    `weights` is (bucket: long, weight_milli: long) — vocab-sized, it
    BROADCASTS (plan-pinned by tests/test_plans.py); missing buckets
    weigh 0 (feature hashing leaves most of the table implicit). Output
    one row per input doc: (id, *extra_cols, n_feats, score_milli,
    prediction) with score_milli = bias + sum of feature weights
    (BIGINT-exact) and prediction = score_milli > 0. Docs with no
    features score at bias.

    `extra_cols` are doc-level passthrough columns (functionally
    dependent on the id) carried THROUGH the doc-keyed groupBy — the
    alternative is a second doc-count-sized shuffle join back to the
    corpus just to recover them, a full extra corpus-keyset shuffle at
    100 TB.
    """
    # the tokenize+hash explode below is the CPU-heavy map side; a
    # single-file scan would run it all on one core (no-op at scale)
    from fb_ads_bigquery_etl_spark.operators.fuzzy_dedup import spread

    feats = spread(df).select(
        F.col(id_col),
        *[F.col(c) for c in extra_cols],
        F.explode_outer(
            hashed_text_features(F.col(text_col), include_bigrams=include_bigrams)
        ).alias("_feat"),
    ).select(
        id_col,
        *extra_cols,
        feature_bucket(F.col("_feat"), buckets).alias("_bucket"),
    )
    scored = (
        feats.join(F.broadcast(weights), feats["_bucket"] == weights["bucket"], "left")
        .groupBy(id_col, *extra_cols)
        .agg(
            F.count("_bucket").cast("long").alias("n_feats"),
            (
                F.coalesce(F.sum("weight_milli"), F.lit(0)).cast("long")
                + F.lit(bias_milli).cast("long")
            ).alias("score_milli"),
        )
        .withColumn("prediction", F.col("score_milli") > 0)
    )
    return scored


def train_classifier(
    df: DataFrame,
    *,
    label_col: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    buckets: int = 1 << 12,
    iters: int = 12,
    include_bigrams: bool = True,
    num_partitions: int | None = None,
    variant: str = "pocket",
) -> tuple[DataFrame, int]:
    """Integer-exact POCKET-PERCEPTRON training of the linear quality
    classifier (Gallant 1990; the batch form). Returns (weights
    DataFrame(bucket, weight_milli), pocket_mistakes) — plug the
    table straight into `score_documents` with bias_milli=0
    (prediction = score > 0 against the y in {-1, +1} encoding).

    `variant="both"` returns ({"pocket": weights, "averaged": weights},
    pocket_mistakes) from ONE training pass — the weight trajectory is
    variant-independent, so an A/B of the two iterates costs one
    training, not two.

    `variant="averaged"` returns the AVERAGED-perceptron weights
    instead (Freund & Schapire 1999, the standard fix for the pocket
    iterate memorizing — measured here: the pocket variant hit 80.5%
    train vs 73.3% held-out on the template corpus): the sum of the
    weight vectors AFTER each of the `iters` updates. The INTEGER SUM
    is used un-divided — prediction is sign(score), and dividing by
    the positive constant `iters` cannot change a sign — so the
    averaged iterate stays exactly replayable by a SQL oracle (no
    division, no floats), and the same pocket_mistakes diagnostic is
    returned. Training cost is identical (the accumulation is
    vocab-sized driver work per iteration).

    Algorithm, per fixed iteration t = 0..iters-1 (no early exit, the
    kmeans/pagerank/BPE unrolled-iteration discipline): score every
    doc s_d = sum_b c_db * w_b; a doc is a MISTAKE iff y_d * s_d <= 0
    (zero counts — w0 = 0 misclassifies everything); pocket rule:
    remember the w_t with the fewest mistakes seen so far (strict <,
    so the EARLIEST minimum wins — deterministic); batch update
    w_b += sum_{mistake docs} c_db * y_d. The perceptron update needs
    NO learning rate and NO division — every quantity is a pure int64
    sum, so the unroll is bit-identical on any engine/partitioning
    and a SQL oracle replays training itself. The pocket rule is what
    makes the BATCH perceptron usable: full-batch updates oscillate
    around a separator (measured here: plain batch swings
    0.33<->0.92 accuracy per iteration); keeping the best-scoring
    iterate is the standard deterministic fix.

    Scale shape, per iteration (ONE Spark job): the (doc, bucket,
    multiplicity) feature frame materializes ONCE (one narrow explode
    + pre-agg, persisted hash-partitioned by doc and pre-sorted by
    (doc, bucket)); scoring joins it against the BROADCAST vocab-sized
    weight table and computes the per-doc score as a WINDOW sum over
    the existing doc partitioning (no exchange, no checkpoint — every
    row of a doc carries its score, so the doc-level mistake flag is a
    plain row filter and nothing is computed twice); the bucket-keyed
    update reduce is map-side-combined down to <= `buckets` rows, with
    the mistake count riding the same aggregation (sum of one
    first-row flag per mistake doc) — per-iteration driver traffic is
    vocab-sized (the kmeans partial-sum discipline; weights are the
    in-memory fastText-style vector between iterations). AQE sizes
    that vocab-sized reduce by its bytes (one task while it shuffles
    less than `minPartitionSize`); `num_partitions` sizes the
    persisted feature frame.

    Featureless docs (empty/whitespace text) always score 0, so they
    are mistakes EVERY iteration (y * 0 <= 0); they contribute nothing
    to any weight update (no features), and their count is a CONSTANT
    shift of every iteration's mistake total — the pocket argmin
    (strict <) is shift-invariant, so the loop counts featured docs
    only and the constant is added once to the returned
    pocket_mistakes, matching a replay that scores every input doc.

    Production note: these are FULL-BATCH passes — `iters` complete
    scans of `df` per training run. At 100 TB train on a labeled
    SAMPLE (the standard quality-filter setup: tens of thousands of
    labeled seed docs), then run `score_documents` over the corpus
    exactly once; each pass here is linear, but nothing about the
    algorithm needs the whole corpus as its training set."""
    if variant not in ("pocket", "averaged", "both"):
        raise ValueError(f"unknown variant {variant!r}")
    spark = df.sparkSession
    if not num_partitions:
        # partition count sizes the 2-stage-per-iteration task grid,
        # and EVERY iteration reuses this one cached partitioning —
        # 2*iters stages ride it, so task-launch overhead multiplies.
        # Size it to the data: the input's FILE count (a metadata-only
        # probe — df.rdd.getNumPartitions() would finalize the AQE
        # plan and execute every upstream exchange just to read a
        # number) capped by the session's shuffle parallelism (the
        # cluster-tuned ceiling), floored at 8 so a single-file sample
        # still parallelizes. At 100 TB the cap wins (cluster
        # default); on a small labeled sample the floor wins and 12
        # iterations stop being pure scheduling. Non-file inputs
        # (views, joined, checkpointed, or in-memory frames) report NO
        # files — their size is unknowable from metadata, so they keep
        # the session's shuffle parallelism rather than silently
        # under-parallelizing a large training input down to the
        # 8-partition floor; the floor applies only to genuinely small
        # file-backed samples. Pass num_partitions explicitly when the
        # input is known-small but not file-backed.
        try:
            shuffle_n = int(
                spark.conf.get("spark.sql.shuffle.partitions")
            )
        except (TypeError, ValueError):  # e.g. "auto" under AQE
            shuffle_n = 200
        try:
            n_files = len(df.inputFiles())
        except Exception:
            n_files = 0
        num_partitions = (
            min(shuffle_n, max(8, n_files)) if n_files else shuffle_n
        )
    # spread(): the tokenize+hash explode is the CPU-heavy map side of
    # the feature agg; a single-file scan would run it on one core
    # (no-op at scale — checkpointed eval-split inputs already carry
    # their join parallelism)
    from fb_ads_bigquery_etl_spark.operators.fuzzy_dedup import spread

    feats = (
        spread(df).select(
            F.col(id_col).alias("_doc"),
            (F.col(label_col).cast("long") * 2 - 1).alias("_y"),
            F.explode(
                hashed_text_features(
                    F.col(text_col), include_bigrams=include_bigrams
                )
            ).alias("_feat"),
        )
        .select(
            "_doc",
            "_y",
            feature_bucket(F.col("_feat"), buckets).alias("_bucket"),
        )
        .groupBy("_doc", "_y", "_bucket")
        .agg(F.count("*").cast("long").alias("_c"))
        # pre-sorted within the persisted doc partitions so the
        # per-iteration window's required (_doc, _bucket) order is
        # already established at cache time instead of re-sorted
        # every iteration
        .repartition(num_partitions, "_doc")
        .sortWithinPartitions("_doc", "_bucket")
        .persist()
    )
    # ONE job per iteration (r14: was two — a localCheckpoint of the
    # per-doc scores plus a join-back collect). The per-doc score is a
    # WINDOW sum over the persisted doc-partitioning (no exchange, no
    # checkpoint, nothing computed twice): every row of a mistake doc
    # carries the doc's score, the doc-level mistake flag is a row
    # filter, the bucket-keyed update reduce is the only shuffle
    # (vocab-bounded), and the mistake COUNT rides the same
    # aggregation as sum(_rn == 1) — one row per mistake doc.
    # Featureless docs never enter `feats`; they are permanent mistakes
    # (score 0) adding the SAME constant to every iteration's count, so
    # the pocket argmin is unchanged by counting them at the end only
    # (strict < is shift-invariant) — which removes the up-front
    # df.count()/distinct jobs from the loop entirely; the first
    # iteration's _nd sum IS the featured-doc count.
    wspec = Window.partitionBy("_doc").orderBy("_bucket")
    wfull = wspec.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    try:
        w: dict[int, int] = {}
        pocket: dict[int, int] = {}
        acc: dict[int, int] = {}  # averaged: sum of w_1..w_iters
        pocket_mistakes = None  # featured-doc mistakes only (see above)
        n_feat_docs = 0
        for it in range(iters):
            if w:
                # vocab-sized weight table as a local relation
                # (session.local_df): its broadcast build runs no
                # Python worker, every iteration
                wdf = local_df(
                    spark, sorted(w.items()), "bucket long, w long"
                )
                base = feats.join(
                    F.broadcast(wdf),
                    feats["_bucket"] == wdf["bucket"],
                    "left",
                )
                contrib = F.col("_c") * F.coalesce(
                    F.col("w"), F.lit(0)
                )
            else:
                # w0 = 0: every doc scores 0 and is a mistake
                base = feats
                contrib = F.lit(0)
            scored = base.select(
                "_y",
                "_bucket",
                "_c",
                F.sum(contrib).over(wfull).cast("long").alias("_s"),
                F.row_number().over(wspec).alias("_rn"),
            )
            upd = (
                scored.filter(F.col("_y") * F.col("_s") <= 0)
                .groupBy("_bucket")
                .agg(
                    # _m = _y for every row of a mistake doc
                    F.sum(F.col("_c") * F.col("_y"))
                    .cast("long")
                    .alias("_u"),
                    F.sum(
                        F.when(F.col("_rn") == 1, 1).otherwise(0)
                    )
                    .cast("long")
                    .alias("_nd"),
                )
            )
            w_prev = dict(w)
            n_mis = 0
            for r in upd.collect():
                n_mis += r["_nd"]
                w[r["_bucket"]] = w.get(r["_bucket"], 0) + r["_u"]
            if it == 0:
                n_feat_docs = n_mis
            if pocket_mistakes is None or n_mis < pocket_mistakes:
                pocket_mistakes, pocket = n_mis, dict(w_prev)
            if variant in ("averaged", "both"):
                for b, v in w.items():
                    acc[b] = acc.get(b, 0) + v
        # featureless docs (empty/whitespace text): permanent mistakes,
        # zero update contribution — added once here so the RETURNED
        # count matches a replay that scores every input doc
        n_featureless = df.count() - n_feat_docs
        pocket_mistakes = int(pocket_mistakes) + int(n_featureless)
    finally:
        feats.unpersist()

    def _wdf(d: dict[int, int]) -> DataFrame:
        return local_df(
            spark, sorted(d.items()), "bucket long, weight_milli long"
        )

    if variant == "both":
        # one training pass, both iterates: the weight TRAJECTORY is
        # variant-independent (the variant only selects which snapshot
        # is returned), so callers comparing pocket vs averaged train
        # ONCE instead of twice (r14: halves the eval gates' training)
        return {"pocket": _wdf(pocket), "averaged": _wdf(acc)}, int(
            pocket_mistakes
        )
    chosen = acc if variant == "averaged" else pocket
    return _wdf(chosen), int(pocket_mistakes)


def synthetic_weights(spark, *, buckets: int, seed_mult: int = 2654435761, mod: int = 2001) -> DataFrame:
    """Deterministic pseudo-weight table for tests/gates: weight(b) =
    (b * seed_mult) % mod - (mod-1)/2, i.e. integers in roughly
    [-1000, 1000] milli-units. Arithmetic on both engines — the oracle
    derives the same weights inline instead of shipping a fixture."""
    return spark.range(buckets).select(
        F.col("id").alias("bucket"),
        ((F.col("id") * F.lit(seed_mult)) % F.lit(mod) - F.lit((mod - 1) // 2))
        .cast("long")
        .alias("weight_milli"),
    )
