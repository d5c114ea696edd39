"""Text-analysis column functions for training-data pipelines.

Language-ID (stopword-ratio heuristic), quality scoring (length / punct /
stopword ratios), token counting (whitespace split), and document
fingerprinting (normalized md5 + rolling hash). All JVM-side built-ins.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "that", "it",
                "for")


def ws_tokens(text) -> Column:
    return F.split(F.lower(F.trim(text)), r"\s+")


def token_count(text) -> Column:
    return F.size(ws_tokens(text))


def stopword_ratio(text, stopwords=EN_STOPWORDS) -> Column:
    toks = ws_tokens(text)
    sw = F.array(*[F.lit(w) for w in stopwords])
    hits = F.size(F.filter(toks, lambda t: F.array_contains(sw, t)))
    return hits / F.greatest(F.size(toks), F.lit(1))


def punct_ratio(text) -> Column:
    punct = F.length(F.regexp_replace(text, r"[^!-/:-@\[-`{-~]", ""))
    return punct / F.greatest(F.length(text), F.lit(1))


def lang_guess(text, threshold: float = 0.05) -> Column:
    """n-gram/stopword heuristic language id (en vs other)."""
    return F.when(stopword_ratio(text) > threshold, F.lit("en")) \
        .otherwise(F.lit("other"))


def quality_score(text) -> Column:
    """[0,1] composite: token count band + distinct ratio − punct excess."""
    toks = ws_tokens(text)
    n = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)) / F.greatest(n, F.lit(1))
    len_ok = F.when((n >= 10) & (n <= 100000), F.lit(0.5)).otherwise(F.lit(0.0))
    return F.round(len_ok + 0.5 * distinct_ratio - punct_ratio(text), 4)


def fingerprint(text) -> Column:
    """md5 of whitespace-normalized lowercase text."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def rolling_fingerprint(text, window: int = 8) -> Column:
    """Winnowing-style fingerprint: min md5 over token n-gram windows —
    robust to local edits (used for fuzzy doc identity)."""
    toks = ws_tokens(text)
    idx = F.sequence(F.lit(0), F.greatest(F.size(toks) - window, F.lit(0)))
    grams = F.transform(idx, lambda i: F.md5(F.concat_ws(
        " ", F.slice(toks, i + 1, window))))
    return F.array_min(grams)


def text_profile(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Convenience projection with the full signal set."""
    t = F.col(text_col)
    return documents.select(
        "*",
        token_count(t).alias("n_tokens"),
        lang_guess(t).alias("lang_guess"),
        F.round(stopword_ratio(t), 4).alias("stopword_ratio"),
        F.round(punct_ratio(t), 4).alias("punct_ratio"),
        quality_score(t).alias("quality"),
        fingerprint(t).alias("fingerprint"),
    )


# ---------------------------------------------------------------------------
# PII scrubbing (training-data pipelines redact before tokenization)
# ---------------------------------------------------------------------------

# patterns restricted to syntax with identical semantics in Java regex
# (Spark) and RE2 (DuckDB), so the oracle reproduces the scrub exactly
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    "ipv4": (r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b", "<IP>"),
    "phone": (r"\+[0-9]{1,3}[ -][0-9]{2,4}[ -][0-9]{3,4}[ -][0-9]{3,4}",
              "<PHONE>"),
}


def pii_scrub(text) -> Column:
    """Redact emails / IPv4s / international-format phones — one chained
    JVM regexp_replace projection (email first, so user@host never
    half-matches the phone pattern)."""
    out = text if isinstance(text, Column) else F.col(text)
    for name in ("email", "ipv4", "phone"):
        pat, repl = PII_PATTERNS[name]
        out = F.regexp_replace(out, pat, repl)
    return out


def pii_counts(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc redaction counts + scrubbed text (`regexp_count` is
    JVM-side; the scrub itself is pii_scrub's chained projection)."""
    t = F.col(text_col)
    return documents.select(
        "*",
        F.regexp_count(t, F.lit(PII_PATTERNS["email"][0])).alias("n_email"),
        F.regexp_count(t, F.lit(PII_PATTERNS["ipv4"][0])).alias("n_ipv4"),
        F.regexp_count(t, F.lit(PII_PATTERNS["phone"][0])).alias("n_phone"),
        pii_scrub(t).alias("scrubbed"),
    )


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality rules)
# ---------------------------------------------------------------------------

def repetition_signals(documents: DataFrame, text_col: str = "text",
                       key_col: str = "doc_id") -> DataFrame:
    """Per-doc repetition statistics used by Gopher-style quality filters:

    - ``frac_unique_tokens``: distinct/total whitespace tokens
    - ``top_token_frac``: count of the most frequent token / total
    - ``dup_bigram_frac``: fraction of token bigrams that are repeats
      (1 − distinct/total bigrams)

    Shape: one explode + doc-keyed hash aggregates — the groupBy key is
    the doc id (high cardinality, well distributed), partial aggregation
    applies, and nothing leaves the JVM. Bigrams come from a per-doc
    ``lead`` window over the exploded positions rather than nested
    higher-order functions (pyspark 4.1 miscompiles nested HOF trees —
    BASELINE.md round-2 note; the explode form is the audited one).
    """
    stats = repetition_stats(documents, text_col, key_col)
    return stats.select(
        key_col,
        F.round(F.col("n_tok_distinct") /
                F.greatest("n_tok", F.lit(1)), 4)
        .alias("frac_unique_tokens"),
        F.round(F.col("top_tok_n") /
                F.greatest("n_tok", F.lit(1)), 4)
        .alias("top_token_frac"),
        F.round(F.lit(1) - F.col("n_bigram_distinct") /
                F.greatest("n_bigram", F.lit(1)), 4)
        .alias("dup_bigram_frac"),
    )


def repetition_stats(documents: DataFrame, text_col: str = "text",
                     key_col: str = "doc_id") -> DataFrame:
    """Integer repetition counters per doc (exact-comparable, so the
    driver oracle hashes them without float-rounding hazards):
    (key, n_tok, n_tok_distinct, top_tok_n, n_bigram, n_bigram_distinct).
    """
    from pyspark.sql.window import Window
    toks = documents.select(
        key_col,
        F.posexplode(ws_tokens(F.col(text_col))).alias("pos", "tok"))
    w = Window.partitionBy(key_col).orderBy("pos")
    bigrams = toks.withColumn("nxt", F.lead("tok").over(w)).withColumn(
        "bigram", F.when(F.col("nxt").isNotNull(),
                         F.concat_ws(" ", "tok", "nxt")))
    agg = bigrams.groupBy(key_col).agg(
        F.count("tok").alias("n_tok"),
        F.countDistinct("tok").alias("n_tok_distinct"),
        F.count("bigram").alias("n_bigram"),
        F.countDistinct("bigram").alias("n_bigram_distinct"),
    )
    top = (toks.groupBy(key_col, "tok").count()
           .groupBy(key_col).agg(F.max("count").alias("top_tok_n")))
    return agg.join(top, key_col).select(
        key_col, "n_tok", "n_tok_distinct", "top_tok_n",
        "n_bigram", "n_bigram_distinct")
