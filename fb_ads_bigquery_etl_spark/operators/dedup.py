"""Exact deduplication operators (reference T1, Q1) — scale-out versions.

The reference dedups with an in-memory Python set keyed on
`campaign|ad|date_start|platform`, keep-FIRST in arrival order
(main.py:500-515; backfill.py:236-251) — O(dataset) driver memory.
Here every variant is a shuffle-based hash aggregate that spills and
AQE-coalesces, so it scales to 100 TB.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F

from fb_ads_bigquery_etl_spark.schema import DEDUP_KEY


def dedup_any(df: DataFrame, key: Sequence[str] = DEDUP_KEY) -> DataFrame:
    """Cheap key-dedup keeping an arbitrary row per key.

    `dropDuplicates` = partial+final hash aggregate; no total order needed,
    so it is the fastest variant and the right default when the input has
    byte-identical duplicates (e.g. replayed loads).
    """
    return df.dropDuplicates(list(key))


def dedup_keep_first(
    df: DataFrame,
    key: Sequence[str] = DEDUP_KEY,
    order_by: Sequence[str] = ("_ingest_order",),
) -> DataFrame:
    """Exact keep-first-by-arrival dedup (reference main.py:504-509).

    Plain dropDuplicates is order-nondeterministic under shuffle
    (SURVEY.md §7 hard parts), so the exact semantics need a total order:
    row_number over an explicit ingest-order column, keep rank 1.

    Scale note: one shuffle on the key. Skewed keys (hot campaign names)
    are handled by AQE skew mitigation; for pathological skew, pre-salt
    with `salted_dedup_keep_first`.
    """
    w = Window.partitionBy(*key).orderBy(*[F.col(c).asc_nulls_last() for c in order_by])
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def with_ingest_order(df: DataFrame, col_name: str = "_ingest_order") -> DataFrame:
    """Attach a monotonically increasing ingest-order column.

    Stable within each source partition (the unit of arrival order for a
    paginated API read), which is exactly the determinism the reference's
    fetch-order dedup provides.
    """
    return df.withColumn(col_name, F.monotonically_increasing_id())


def salted_dedup_keep_first(
    df: DataFrame,
    key: Sequence[str] = DEDUP_KEY,
    order_by: Sequence[str] = ("_ingest_order",),
    salt_buckets: int = 16,
) -> DataFrame:
    """Two-phase keep-first for skewed keys.

    Phase 1 reduces each (key, salt) bucket to its local first row;
    phase 2 reduces the (tiny) survivors per key. Both phases shuffle,
    but phase 2's input is <= salt_buckets rows per key, so the hot key
    never lands on a single task with its full row volume.
    """
    salted = df.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in order_by]), F.lit(salt_buckets))
    )
    local = dedup_keep_first(salted, [*key, "_salt"], order_by)
    return dedup_keep_first(local, key, order_by).drop("_salt")


def duplicated_gram_positions(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Token positions whose k-gram occurs >= 2 times corpus-wide.

    Returns (id, n_tokens, pos): pos is the 0-based start of a
    duplicated k-gram — each marks tokens [pos, pos+k-1] as duplicated
    text. Shared base of `duplicated_gram_spans` (maximal-span
    reporting) and `strip_duplicated_spans` (removal); see the former
    for the agg+join-vs-window plan rationale.
    """
    from fb_ads_bigquery_etl_spark.functions.portable import bind, hash60, tokens

    tok = df.select(F.col(id_col), tokens(F.col(text_col)).alias("_t"))

    def grams_of(t):
        # Guard: sequence(1, 0) is DESCENDING in Spark ([1, 0]), so a doc
        # shorter than k tokens must map to an explicit empty array or the
        # slice(t, 0, k) it produces raises INVALID_PARAMETER_VALUE.START.
        n = F.size(t) - (k - 1)
        idx = F.when(n >= 1, F.sequence(F.lit(1), n)).otherwise(
            F.array().cast("array<int>")
        )
        return F.transform(
            idx,
            lambda i: hash60(F.concat_ws(" ", F.slice(t, i, k))),
        )

    pos = tok.select(
        F.col(id_col),
        F.size("_t").cast("long").alias("n_tokens"),
        F.posexplode(bind(F.col("_t"), grams_of)).alias("pos", "gh"),
    )
    dup = (
        pos.groupBy("gh")
        .agg(F.count("*").alias("_c"))
        .filter(F.col("_c") >= 2)
        .select("gh")
    )
    return pos.join(dup, "gh").select(id_col, "n_tokens", "pos")


def strip_duplicated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Lee et al. 2022 APPLIED: every token covered by a corpus-
    duplicated k-gram is cut from the document.

    Returns the full corpus as (id, tokens, cleaned_tokens): unaffected
    docs pass through with cleaned == tokens. The duplicated-position
    sets fold to one array per affected doc (bounded by doc length) and
    join back to the corpus id-keyed; removal is a narrow
    filter-with-index over the token array — no second corpus shuffle.
    """
    from fb_ads_bigquery_etl_spark.functions.portable import tokens

    dp = (
        duplicated_gram_positions(df, id_col, text_col, k)
        .groupBy(id_col)
        .agg(F.array_sort(F.collect_list("pos")).alias("_dps"))
    )
    tok = df.select(
        "*", tokens(F.col(text_col)).alias("_tokens")
    ).join(dp, id_col, "left")
    cleaned = F.when(F.col("_dps").isNull(), F.col("_tokens")).otherwise(
        F.filter(
            F.col("_tokens"),
            lambda x, j: ~F.exists(
                F.col("_dps"), lambda p: (p <= j) & (j < p + k)
            ),
        )
    )
    return tok.withColumn("cleaned_tokens", cleaned).drop("_dps")


def duplicated_gram_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
) -> DataFrame:
    """Exact duplicated-substring spans at token granularity (LLM op).

    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better") treat any token k-gram occurring >= 2 times CORPUS-WIDE as
    duplicated text; overlapping/adjacent duplicated k-grams merge into
    maximal spans that a curation pass can cut out of the document.
    Returns one row per maximal span: (id, n_tokens, span_start,
    span_len), token-indexed from 0. Docs shorter than k tokens (or with
    no duplicated gram) emit nothing.

    Plan shape / 100 TB notes:
    - Gram identity is portable.hash60 of the k-token window (md5-based,
      bit-identical in the DuckDB oracle). Only the 8-byte hash
      shuffles, never gram text; collision odds over 2^60 are
      negligible at corpus scale.
    - Duplicated-gram detection is a two-pass agg+join, NOT a
      count-over-window: the count aggregate map-side combines so only
      (hash, partial count) partials shuffle, and the position->dup-set
      join is AQE-skew-splittable (the build side is one row per key),
      whereas a window partitioned on the gram hash would pin a
      boilerplate gram's every occurrence to a single task. The gram
      pipeline is evaluated once per pass (2x CPU) - the deliberate
      trade for a skew-proof exchange.
    - Span merging windows per DOCUMENT (partition bounded by doc token
      count): lag() flags a new span when the gap to the previous
      duplicated position exceeds k, a running sum numbers spans, and a
      hash agg folds each to (start, len).
    """
    marked = duplicated_gram_positions(df, id_col, text_col, k)

    w = Window.partitionBy(id_col).orderBy("pos")
    flagged = marked.withColumn(
        "_new",
        F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(
            F.lit(1)
        ),
    )
    numbered = flagged.withColumn(
        "_span",
        F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return numbered.groupBy(id_col, "n_tokens", "_span").agg(
        F.min("pos").cast("long").alias("span_start"),
        (F.max("pos") - F.min("pos") + k).cast("long").alias("span_len"),
    ).drop("_span")


def exact_content_dedup(
    df: DataFrame,
    content_col: str,
    id_col: str,
    *,
    normalize: bool = True,
) -> DataFrame:
    """Exact content dedup via content-hash group-by (LLM-pipeline op).

    Groups on md5(normalized content) rather than the content itself so the
    shuffle moves a 16-byte key, not the document body; keeps the row with
    the smallest id (deterministic winner).
    """
    content = F.col(content_col)
    if normalize:
        content = F.lower(F.trim(F.regexp_replace(content, r"\s+", " ")))
    hashed = df.withColumn("_content_hash", F.md5(content))
    w = Window.partitionBy("_content_hash").orderBy(F.col(id_col).asc())
    return (
        hashed.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_content_hash")
    )
