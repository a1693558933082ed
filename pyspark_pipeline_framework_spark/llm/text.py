"""Text-analysis operators: token counting, quality features,
language-ID heuristic, document fingerprinting.

All column expressions are JVM built-ins (whole-stage codegen; no
Python in the hot path) — at 100 TB these run as a single scan with
map-side projection, no shuffle at all unless the caller aggregates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: BPE-ish tokenizer: word pieces, numbers, or single non-space symbols
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"

#: tiny marker-word lists for the n-gram/stopword language heuristic
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "nicht", "ist"],
    "fr": ["le", "la", "et", "les", "est"],
    "es": ["el", "la", "que", "los", "es"],
    "zh": ["de", "shi", "le", "zai", "he"],
}


def normalize_text(col: Column | str) -> Column:
    """Canonical form for exact dedup: lowercase, collapse runs of
    whitespace, trim. Collapse runs BEFORE trim: Spark's (and SQL's)
    ``trim`` strips only the space character, so ``'\\tfoo'`` would
    otherwise canonicalize to ``' foo'`` ≠ ``'foo'`` and two documents
    differing only in edge tabs/newlines would never dedup (r6
    degenerate-text tests)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def token_count_ws(col: Column | str) -> Column:
    """Whitespace token count."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.split(F.trim(c), r"\s+"))


def token_count_regex(col: Column | str, pattern: str = BPE_ISH_PATTERN) -> Column:
    """Token count under a BPE-ish regex (word pieces / digits / symbols)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(pattern), F.lit(0)))


def quality_features(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document quality features: char/token counts, mean word
    length, punctuation/digit/whitespace ratios, max word repetition."""
    t = F.col(text_col)
    words = F.split(F.trim(t), r"\s+")
    n_chars = F.length(t)
    n_tokens = F.size(words)
    # empty text ('' → n_chars 0) defines both char ratios as 0.0: the
    # bare division aborts the whole job under Spark 4's default ANSI
    # mode (DIVIDE_BY_ZERO) the moment one blank document appears in
    # the corpus (r6 degenerate-text tests). NULL text propagates NULL
    # through every feature (NULL condition → otherwise → NULL/NULL).
    # n_tokens is never 0 for non-NULL text (split('') yields ['']).
    def _char_ratio(stripped: Column) -> Column:
        return F.when(n_chars == 0, F.lit(0.0)).otherwise(
            F.length(stripped) / n_chars
        )

    return df.withColumns(
        {
            "q_n_chars": n_chars,
            "q_n_tokens": n_tokens,
            "q_mean_word_len": (n_chars - n_tokens + 1) / n_tokens,
            "q_symbol_ratio": _char_ratio(
                F.regexp_replace(t, r"[A-Za-z0-9\s]", "")
            ),
            "q_digit_ratio": _char_ratio(F.regexp_replace(t, r"[^0-9]", "")),
            "q_uniq_token_ratio": F.size(F.array_distinct(words)) / n_tokens,
        }
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_chars: int = 50,
    max_chars: int = 100_000,
    min_tokens: int = 10,
    max_symbol_ratio: float = 0.3,
    min_uniq_token_ratio: float = 0.1,
) -> DataFrame:
    """Heuristic quality gate (Gopher-rules-style length/symbol/
    repetition bounds) — a pure ``filter`` over :func:`quality_features`
    columns, fully pushed into the scan stage."""
    scored = quality_features(df, text_col)
    return (
        scored.filter(
            (F.col("q_n_chars") >= min_chars)
            & (F.col("q_n_chars") <= max_chars)
            & (F.col("q_n_tokens") >= min_tokens)
            & (F.col("q_symbol_ratio") <= max_symbol_ratio)
            & (F.col("q_uniq_token_ratio") >= min_uniq_token_ratio)
        )
        .drop(*[c for c in scored.columns if c.startswith("q_") and c not in df.columns])
    )


def language_id(
    df: DataFrame,
    text_col: str = "text",
    markers: dict[str, list[str]] | None = None,
    out_col: str = "lang_pred",
) -> DataFrame:
    """Marker-word language heuristic: score = how many of the
    language's marker words occur in the document; argmax with
    lexicographic tiebreak. Pure column expressions (array_intersect
    over the token array) — no UDF, no shuffle."""
    markers = markers or LANG_MARKERS
    words = F.array_distinct(F.split(F.lower(F.col(text_col)), r"\s+"))
    scored = F.array(
        *[
            F.struct(
                F.size(F.array_intersect(words, F.array(*[F.lit(w) for w in ws]))).alias("score"),
                F.lit(lang).alias("lang"),
            )
            for lang, ws in sorted(markers.items())
        ]
    )
    # deterministic argmax: max score, tie broken by smallest lang code
    max_score = F.array_max(F.transform(scored, lambda s: s["score"]))
    winner = F.array_min(
        F.transform(
            F.filter(scored, lambda s: s["score"] == max_score), lambda s: s["lang"]
        )
    )
    return df.withColumn(out_col, winner)


def repetition_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Intra-document repetition signals (the Gopher-style quality
    filters): ``top1_frac`` = occurrences of the most frequent word /
    total words, ``top2_frac`` = same for 2-grams (0.0 for documents
    with fewer than two words). High values flag boilerplate and
    degenerate generations before training.

    Scale: explode → count per (doc, gram) → per-doc max/total.
    Grams shuffle hashed by (doc, gram) with map-side partial
    aggregation, so a hot document spreads across reducers until the
    final tiny per-doc combine — no per-row quadratic expressions, no
    UDFs, all whole-stage codegen."""
    words = df.select(
        F.col(id_col), F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("__w")
    )
    s1 = (
        words.select(id_col, F.explode("__w").alias("__g"))
        .groupBy(id_col, "__g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy(id_col)
        .agg(F.max("__c").alias("__m1"), F.sum("__c").alias("__t1"))
    )
    two_grams = F.zip_with(
        F.slice(F.col("__w"), 1, F.greatest(F.size("__w") - 1, F.lit(0))),
        F.slice(F.col("__w"), 2, F.greatest(F.size("__w") - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    s2 = (
        words.select(id_col, F.explode(two_grams).alias("__g"))
        .groupBy(id_col, "__g")
        .agg(F.count(F.lit(1)).alias("__c"))
        .groupBy(id_col)
        .agg(F.max("__c").alias("__m2"), F.sum("__c").alias("__t2"))
    )
    return s1.join(s2, id_col, "left").select(
        id_col,
        (F.col("__m1").cast("double") / F.col("__t1").cast("double")).alias("top1_frac"),
        F.coalesce(
            F.col("__m2").cast("double") / F.col("__t2").cast("double"), F.lit(0.0)
        ).alias("top2_frac"),
    )


#: PII patterns — deliberately restricted to syntax with IDENTICAL
#: semantics in Java regex (Spark) and RE2 (DuckDB): character classes,
#: bounded repetition, non-capturing groups, \b. No lookaround, no
#: backreferences (RE2 has neither), so an oracle can replay detection
#: and redaction bit-for-bit.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b(?:\d{1,3}\.){3}\d{1,3}\b"
PII_PHONE = r"\+?\d{1,3}[-.\s]\(?\d{3}\)?[-.\s]\d{3,4}\b"
PII_SSN = r"\b\d{3}-\d{2}-\d{4}\b"

#: redaction applies in this fixed order; tokens contain no digits or
#: '@', so earlier redactions can never create later matches
PII_RULES: list[tuple[str, str, str]] = [
    ("email", PII_EMAIL, "[EMAIL]"),
    ("ipv4", PII_IPV4, "[IP]"),
    ("ssn", PII_SSN, "[SSN]"),
    ("phone", PII_PHONE, "[PHONE]"),
]


def pii_stats(
    df: DataFrame, text_col: str = "text", rules: list[tuple[str, str, str]] | None = None
) -> DataFrame:
    """Per-document PII hit counts (``n_email``, ``n_ipv4``, ...), one
    ``regexp_count`` per rule over the ORIGINAL text. Map-only column
    expressions — at 100 TB this is a single scan, no shuffle."""
    t = F.col(text_col)
    return df.withColumns(
        {f"n_{name}": F.regexp_count(t, F.lit(pat)) for name, pat, _ in (rules or PII_RULES)}
    )


def pii_redact(
    df: DataFrame,
    text_col: str = "text",
    out_col: str = "redacted",
    rules: list[tuple[str, str, str]] | None = None,
) -> DataFrame:
    """Replace every PII match with its rule token, applying rules in
    :data:`PII_RULES` order (email → ipv4 → ssn → phone; tokens are
    digit-free so redaction is confluent). Pure ``regexp_replace``
    chain — whole-stage codegen, no Python."""
    out = F.col(text_col)
    for _, pat, token in rules or PII_RULES:
        out = F.regexp_replace(out, pat, token)
    return df.withColumn(out_col, out)


#: URLs: scheme + authority + non-space path (identical in Java/RE2)
URL_PATTERN = r"https?://[^\s]+"


def extract_urls(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One row per (document, url) via ``regexp_extract_all`` +
    ``posexplode`` (position keeps multiple identical URLs distinct).
    Map-side explode — the only shuffle is whatever the caller does
    with the result."""
    urls = F.regexp_extract_all(F.col(text_col), F.lit(URL_PATTERN), F.lit(0))
    return df.select(F.col(id_col), F.posexplode(urls).alias("pos", "url")).withColumn(
        "domain", F.regexp_extract(F.col("url"), r"https?://([^/\s]+)", 1)
    )


def url_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document URL signals: count, distinct-domain count, and the
    lexicographically first domain (deterministic representative).
    Array expressions only — no explode, no shuffle."""
    urls = F.regexp_extract_all(F.col(text_col), F.lit(URL_PATTERN), F.lit(0))
    domains = F.transform(urls, lambda u: F.regexp_extract(u, r"https?://([^/\s]+)", 1))
    return df.select(
        F.col(id_col),
        F.size(urls).alias("n_urls"),
        F.size(F.array_distinct(domains)).alias("n_domains"),
        F.array_min(domains).alias("first_domain"),
    )


def vocab_topk(
    df: DataFrame,
    k: int = 100,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus heavy hitters: the ``k`` most frequent words with total
    term frequency ``tf`` and document frequency ``df_docs``; ties
    broken by term ascending.

    Scale: explode → groupBy(term) with map-side partial aggregation
    (hot words combine locally before the shuffle), df via
    count(DISTINCT doc) inside the same aggregate; the final top-k is
    ``TakeOrderedAndProject`` — only k rows reach the driver side of
    the limit, never the full vocabulary."""
    words = df.select(
        F.col(id_col).alias("__d"),
        F.explode(F.split(F.trim(F.lower(F.col(text_col))), r"\s+")).alias("term"),
    )
    return (
        words.groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("tf"),
            F.count_distinct(F.col("__d")).alias("df_docs"),
        )
        .orderBy(F.col("tf").desc(), F.col("term"))
        .limit(k)
    )


def md5_fingerprint(col: Column | str) -> Column:
    """Content fingerprint: md5 of the normalized text (hex string)."""
    return F.md5(normalize_text(col))


def corpus_stats(
    df: DataFrame,
    by: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Per-domain corpus accounting for data-mix reporting: document
    count, total whitespace tokens, total characters, mean tokens per
    doc, and the domain's share of all corpus tokens.

    All counts are exact integers; the two doubles (mean, share) are
    single divisions of exact integers — engine-portable. One groupBy
    on the domain key with map-side combine, plus a broadcast of the
    one-row corpus total — no second pass over the data."""
    per = df.groupBy(by).agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count_ws(text_col).cast("long")).alias("total_tokens"),
        F.sum(F.length(F.col(text_col)).cast("long")).alias("total_chars"),
    )
    tot = per.agg(F.sum("total_tokens").alias("__corpus_tokens"))
    return per.crossJoin(F.broadcast(tot)).select(
        by,
        "n_docs",
        "total_tokens",
        "total_chars",
        (F.col("total_tokens").cast("double") / F.col("n_docs").cast("double")).alias(
            "mean_tokens"
        ),
        (
            F.col("total_tokens").cast("double") / F.col("__corpus_tokens").cast("double")
        ).alias("token_share"),
    )
