"""Text-analysis operators (LLM-pipeline extensions).

Language ID (stopword-overlap heuristic), quality scoring, token
counting (whitespace + BPE-ish regex), and document fingerprinting.
All pure JVM expressions over the `documents` table — a narrow
projection, no shuffle, which is exactly what you want for a 100 TB
text sweep (the scan is the whole job).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from fb_ads_bigquery_etl_spark.functions.portable import (
    tokens,
    winnowing_fingerprints,
)

# Tiny per-language marker lexicons for the n-gram/stopword heuristic.
# Deliberately small + deterministic (shared verbatim with the SQL oracle).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "is", "in", "that", "it"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "zu"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "una"),
    "fr": ("le", "la", "les", "et", "des", "est", "une", "que"),
    "zh": ("de5", "shi4", "le5", "zai4", "you3", "he2", "wo3", "ta1"),
}

# BPE-ish word/number/punctuation pieces (GPT-2-style simplification).
BPE_ISH_PATTERN = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"


def lang_scores_from_tokens(tok: Column) -> dict[str, Column]:
    """Per-language marker-hit counts over a token array."""
    out = {}
    for lang, markers in LANG_MARKERS.items():
        marker_arr = F.array(*[F.lit(m) for m in markers])
        out[lang] = F.size(
            F.filter(tok, lambda t: F.array_contains(marker_arr, t))
        )
    return out


def lang_scores(text: Column) -> dict[str, Column]:
    """Per-language marker-hit counts over the token multiset."""
    return lang_scores_from_tokens(tokens(text))


def language_id_from_tokens(tok: Column) -> Column:
    """argmax language by marker count; tie-break alphabetical; 'und' if 0.

    One `greatest` over (score, -rank, lang) structs: struct ordering is
    lexicographic, so the max score wins and a tie falls to the smallest
    alphabetical rank — the same semantics as a sequential
    strict-`>` fold, but each score expression appears ONCE. (The fold
    formulation nested every WHEN inside the next language's branches,
    doubling the expression tree per language — 5 languages made the
    per-row classifier ~2^5 marker-filter evaluations instead of 5.)
    """
    from fb_ads_bigquery_etl_spark.functions.portable import bind

    scores = lang_scores_from_tokens(tok)
    langs = sorted(scores)  # alphabetical tie-break: first max wins
    best = F.greatest(
        *[
            F.struct(
                scores[lang].alias("s"),
                F.lit(-i).alias("o"),
                F.lit(lang).alias("lang"),
            )
            for i, lang in enumerate(langs)
        ]
    )
    # let-bind the winner so the 5 marker-filter scores evaluate once,
    # not once per reference to `best`
    return bind(
        best,
        lambda b: F.when(b["s"] > 0, b["lang"]).otherwise(F.lit("und")),
    )


def language_id(text: Column) -> Column:
    from fb_ads_bigquery_etl_spark.functions.portable import bind

    return bind(tokens(text), language_id_from_tokens)


def token_count_bpe_ish(text: Column) -> Column:
    """BPE-ish token count: letter runs, digit runs, single punctuation."""
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN))


def quality_features(text: Column) -> dict[str, Column]:
    """Deterministic quality features (all exact integer/ratio math)."""
    tok = tokens(text)
    n_tok = F.size(tok)
    n_chars = F.length(text)
    stop_en = F.array(*[F.lit(m) for m in LANG_MARKERS["en"]])
    n_stop = F.size(F.filter(tok, lambda t: F.array_contains(stop_en, t)))
    n_punct = F.regexp_count(text, F.lit(r"[^\w\s]"))
    return {
        "n_chars": n_chars.cast("long"),
        "n_tokens": n_tok.cast("long"),
        "n_bpe_tokens": token_count_bpe_ish(text).cast("long"),
        "stopword_ratio": n_stop / F.greatest(n_tok, F.lit(1)),
        "punct_ratio": n_punct / F.greatest(n_chars, F.lit(1)),
        "mean_word_len": (n_chars - (n_tok - 1)) / F.greatest(n_tok, F.lit(1)),
    }


def fingerprint_md5(text: Column) -> Column:
    """Whitespace/case-normalized md5 content fingerprint."""
    return F.md5(F.lower(F.trim(F.regexp_replace(text, r"\s+", " "))))


def fingerprint_rolling(text: Column, k: int = 5, w: int = 4) -> Column:
    """Winnowing rolling-hash fingerprint set (array<bigint>).

    Unlike `fingerprint_md5` (whole-document identity), the winnowed set
    supports SUBSTRING-level matching: two documents sharing any run of
    >= k+w-1 normalized characters share at least one fingerprint, so a
    join on exploded fingerprints finds partial-overlap near-dups."""
    return winnowing_fingerprints(text, k=k, w=w)


_ANALYZE_FIELDS = (
    "lang_pred",
    "n_tokens",
    "n_bpe_tokens",
    "stopword_ratio",
    "punct_ratio",
    "quality",
    "fingerprint",
)


def analyze_documents(
    df: DataFrame,
    text_col: str = "text",
    fields: tuple[str, ...] = _ANALYZE_FIELDS,
) -> DataFrame:
    """Text-analysis projection over a documents table.

    The tokenize pipeline is let-bound (portable.bind) and every derived
    column reads the SAME token array — higher-order functions are
    CodegenFallback (interpreted), so codegen common-subexpression
    elimination can't dedupe them; without the bind the split+filter ran
    once per output column (~4x per row).

    ``fields`` selects which derived columns to compute. The let-bound
    struct is opaque to Catalyst's nested-field pruning (the bind hides
    it behind a lambda variable), so pruning must happen HERE, at plan
    construction — a caller that needs only `quality` should not pay for
    language-ID's 30-branch CASE or the md5 fingerprint."""
    from fb_ads_bigquery_etl_spark.functions.portable import bind

    unknown = set(fields) - set(_ANALYZE_FIELDS)
    if unknown:
        raise ValueError(f"unknown analyze fields: {sorted(unknown)}")
    text = F.col(text_col)

    def packed_of(tok: Column) -> Column:
        n_tok = F.size(tok)
        stop_en = F.array(*[F.lit(m) for m in LANG_MARKERS["en"]])
        n_stop = F.size(F.filter(tok, lambda t: F.array_contains(stop_en, t)))
        n_chars = F.length(text)
        n_punct = F.regexp_count(text, F.lit(r"[^\w\s]"))
        stopword_ratio = n_stop / F.greatest(n_tok, F.lit(1))
        punct_ratio = n_punct / F.greatest(n_chars, F.lit(1))
        len_norm = F.least(n_tok, F.lit(256)).cast("double") / F.lit(256.0)
        quality = (
            len_norm * 0.4
            + F.least(stopword_ratio * 4.0, F.lit(1.0)) * 0.4
            + (F.lit(1.0) - punct_ratio) * 0.2
        )
        makers = {
            "lang_pred": lambda: language_id_from_tokens(tok),
            "n_tokens": lambda: n_tok.cast("long"),
            "n_bpe_tokens": lambda: token_count_bpe_ish(text).cast("long"),
            "stopword_ratio": lambda: stopword_ratio,
            "punct_ratio": lambda: punct_ratio,
            "quality": lambda: quality,
            "fingerprint": lambda: fingerprint_md5(text),
        }
        return F.struct(*[makers[c]().alias(c) for c in fields])

    # the tokenize + higher-order derivations are CodegenFallback
    # (interpreted) — CPU-heavy per row. spread(): a single-file scan
    # otherwise runs the whole corpus on ONE core; no-op at real scale
    # (every caller passes a scan-shaped documents frame).
    from fb_ads_bigquery_etl_spark.operators.fuzzy_dedup import spread

    df = spread(df)
    staged = df.select("*", bind(tokens(text), packed_of).alias("_ta"))
    return staged.select(
        *df.columns, *[F.col(f"_ta.{c}").alias(c) for c in fields]
    )


# ---------------------------------------------------------------------------
# Corpus-cleaning operators (LLM training-data curation; north-star
# extensions — no reference counterpart). All pure JVM regexp/array
# expressions: no UDFs in the hot path, patterns chosen to behave
# identically under Java regex and RE2 (DuckDB) for oracle parity.
# ---------------------------------------------------------------------------


def strip_markup(text: Column) -> Column:
    """Remove HTML/XML tags and collapse the resulting whitespace."""
    no_tags = F.regexp_replace(text, r"<[^>]*>", " ")
    return F.trim(F.regexp_replace(no_tags, r"\s+", " "))


def redact_pii(text: Column) -> Column:
    """Replace email addresses and long digit runs (phone/account
    numbers) with typed placeholders — the irreversible-by-construction
    redaction pass a training corpus needs before anything else sees it.
    """
    emails = F.regexp_replace(
        text, r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"
    )
    return F.regexp_replace(emails, r"[0-9][0-9()\-\s]{6,}[0-9]", "<NUMBER>")


def pii_match_count(text: Column) -> Column:
    """How many PII spans redact_pii would replace (audit metric).

    Number spans are counted on the *email-redacted* text, mirroring
    redact_pii's replacement order — a long digit run inside an email
    local-part is one redacted span, not two counted ones.
    """
    email_re = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    after_emails = F.regexp_replace(text, email_re, "<EMAIL>")
    return F.regexp_count(text, F.lit(email_re)) + F.regexp_count(
        after_emails, F.lit(r"[0-9][0-9()\-\s]{6,}[0-9]")
    )


def repetition_ratio(text: Column, k: int = 3) -> Column:
    """Gopher-style repetition signal: fraction of word k-grams that are
    duplicates (1 - distinct/total); 0.0 for docs shorter than k words.

    High values mean boilerplate/spam (repeated headers, keyword
    stuffing) — a standard LLM-corpus quality filter.
    """
    from fb_ads_bigquery_etl_spark.functions.portable import bind, tokens

    def ratio_of(tok: Column) -> Column:
        n = F.size(tok) - (k - 1)
        grams = F.transform(
            F.slice(tok, 1, F.greatest(n, F.lit(0))),
            lambda t, i: F.concat_ws(" ", *([t] + [F.get(tok, i + j) for j in range(1, k)])),
        )
        return F.when(
            n >= 1,
            F.lit(1.0) - F.size(F.array_distinct(grams)) / n.cast("double"),
        ).otherwise(F.lit(0.0))

    return bind(tokens(text), ratio_of)


def canonicalize_url(url: Column) -> Column:
    """URL canonicalization for exact URL-level dedup: lowercase scheme+
    host, strip the scheme, default ports, trailing slash, fragment, and
    common tracking params (utm_*, fbclid, gclid), and sort-insensitive
    handling is NOT attempted (query order is semantic for some sites —
    near-dup layers catch those). Pure JVM regexps, no UDF.

    The reference has no URL handling; this is the standard first pass
    of a web-corpus dedup stack (exact canonical-URL match) ahead of
    content-hash and fuzzy layers (operators/dedup, fuzzy_dedup).
    """
    # scheme://host is case-insensitive; lowercase up to the first
    # path/query/fragment character, keep the rest byte-exact
    trimmed = F.trim(url)
    head = F.regexp_extract(trimmed, r"^([^/?#]*//[^/?#]*)", 1)
    u = F.concat(
        F.lower(head),
        F.substring(trimmed, F.length(head) + 1, 1 << 30),
    )
    # Default ports — scheme-matched and anchored at the authority,
    # BEFORE the scheme is stripped: http://h:443 must stay distinct
    # from https://h (different origins), and a path-internal ":80"
    # (e.g. host/a:80/b) is data, not a port.
    u = F.regexp_replace(u, r"^http://([^/:?#]+):80(?=[/?#]|$)", "http://$1")
    u = F.regexp_replace(u, r"^https://([^/:?#]+):443(?=[/?#]|$)", "https://$1")
    u = F.regexp_replace(u, r"^https?://", "")      # scheme
    u = F.regexp_replace(u, r"#.*$", "")             # fragment
    # tracking params: first drop '&param=v' repeats, then fix the
    # leading '?param=v&' so the next real param keeps a valid '?'
    u = F.regexp_replace(u, r"&(utm_[^=&]*|fbclid|gclid)=[^&]*", "")
    u = F.regexp_replace(u, r"\?(utm_[^=&]*|fbclid|gclid)=[^&]*&?", "?")
    u = F.regexp_replace(u, r"\?$", "")              # empty query left over
    u = F.regexp_replace(u, r"/(\?|$)", "$1")        # path-final slash
    return u


def ngram_lm_doc_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    add_k: int = 1,
) -> DataFrame:
    """Bigram-LM quality scoring (the CCNet/KenLM perplexity-filter
    shape): train an add-k-smoothed bigram model on the corpus's own
    token stream, score every document's bigrams under it, and emit
    per-doc fluency statistics. Documents full of rare or never-seen
    token transitions (boilerplate soup, lorem-style noise, wrong-
    language text) score low and are what a curation pass filters.

    Scale shape: bigrams are built ARRAY-SIDE (zip-with-shifted-self,
    like the bigram_counts query) — no per-doc window, so nothing
    shuffles until the two map-side-combined count aggregates. The
    exploded bigram stream feeds three consumers (bigram counts,
    context counts, scoring join) and is persisted once via
    fuzzy_dedup.shared(); the count tables join ONCE (vocab-sized)
    into the model, and the doc stream joins it on the bigram key
    (AQE-skew-splittable; build side is one row per bigram).

    Engine-exactness: per-bigram probability p = (c_big + k) /
    (c_ctx + k*V) is one IEEE-correctly-rounded divide; the per-doc
    score accumulates floor(1e6 * p) as BIGINT micro-probabilities —
    integer addition, bit-identical in any engine — instead of a
    libm-log perplexity (same dodge as the exact-rational idf). The
    float perplexity is a trailing DOUBLE column for human use; gate
    on the integer columns. V counts the distinct tokens participating
    in bigrams (union of contexts and successors) and is the single
    driver-side scalar of the pipeline (metadata-sized, like k-means
    centroids).
    """
    from fb_ads_bigquery_etl_spark.functions.portable import bind, tokens
    from fb_ads_bigquery_etl_spark.operators.fuzzy_dedup import shared

    def bigrams_of(tok):
        return F.when(
            F.size(tok) >= 2,
            F.transform(
                F.slice(tok, 1, F.size(tok) - 1),
                lambda t, i: F.struct(
                    t.alias("_prev"), F.get(tok, i + 1).alias("_w")
                ),
            ),
        ).otherwise(
            F.array().cast("array<struct<_prev:string,_w:string>>")
        )

    big = shared(
        df.select(
            F.col(id_col),
            F.explode(bind(tokens(F.col(text_col)), bigrams_of)).alias("_b"),
        ).select(id_col, F.col("_b._prev").alias("_prev"), F.col("_b._w").alias("_w"))
    )
    # corpus tables: vocabulary-sized, map-side combined
    big_counts = big.groupBy("_prev", "_w").agg(F.count("*").alias("c_big"))
    ctx_counts = big.groupBy("_prev").agg(F.count("*").alias("c_ctx"))
    vocab_size = (
        big_counts.select("_w").union(big_counts.select("_prev"))
        .distinct()
        .count()
    )
    model = big_counts.join(ctx_counts, "_prev").select(
        "_prev",
        "_w",
        (
            (F.col("c_big") + F.lit(add_k))
            / (F.col("c_ctx") + F.lit(add_k) * F.lit(vocab_size))
        ).alias("_p"),
    )
    scored = big.join(model, ["_prev", "_w"])
    return (
        scored.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_bigrams"),
            F.sum(F.floor(F.col("_p") * 1_000_000))
            .cast("long")
            .alias("total_prob_ppm"),
            # human-facing fluency estimate; NOT engine-exact (libm log)
            F.exp(-F.avg(F.log("_p"))).alias("perplexity"),
        )
    )
