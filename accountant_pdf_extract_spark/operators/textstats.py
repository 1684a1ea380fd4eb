"""Text-analysis operators for large-scale training-data pipelines:
language-ID (stopword heuristic), token and stopword counts,
document fingerprinting and term statistics.  All pure Catalyst expressions — JVM-side,
whole-stage-codegen-friendly, no Python in the hot path.

Each has a driver-checkable query twin in ``plans/q_text.py``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Tiny per-language stopword profiles for the n-gram/stopword
# heuristic language id.  Public knowledge (most-frequent function
# words); deliberately small so the SQL oracle twin stays readable.
STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "fr": ["le", "la", "les", "et", "est", "une", "des"],
    "es": ["el", "la", "los", "y", "es", "una", "de"],
}


def token_count(col: Column) -> Column:
    """Count of non-blank tokens via the shared token identity — a
    trailing newline must not add a phantom '' token (raw split gave
    'foo bar\n' count 3 while term_stats counted 2 for the same
    doc)."""
    return F.size(_tokens_arr(col))


def stopword_hits(col: Column, lang: str) -> Column:
    """Stopword occurrences via the SHARED token identity
    (``_tokens_arr``): blanks can't be stopwords and lowering matches,
    so this is hit-identical to the old separate tokenizer — but a
    future normalization tweak now moves every consumer together, and
    NULL text counts 0 instead of propagating NULL."""
    words = STOPWORDS[lang]
    arr = F.array(*[F.lit(w) for w in words])
    return F.size(
        F.filter(_tokens_arr(col), lambda t: F.array_contains(arr, t))
    )


def lang_id(col: Column) -> Column:
    """argmax over stopword-hit counts; 'unk' when all zero.  Ties
    break by the fixed language order (deterministic)."""
    hits = {lang: stopword_hits(col, lang) for lang in STOPWORDS}
    best = F.greatest(*hits.values())
    out = F.lit("unk")
    for lang in reversed(list(STOPWORDS)):  # earlier langs win ties
        out = F.when((hits[lang] > 0) & (hits[lang] == best), F.lit(lang)).otherwise(out)
    return out


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of the
    whitespace-collapsed, lowercased text — the SAME content identity
    the dedup operators key on (single-sourced via dedup.norm_text so
    a normalization tweak can never fork the two)."""
    from accountant_pdf_extract_spark.operators.dedup import norm_text

    return F.md5(norm_text(col))


def _tokens_arr(col: Column) -> Column:
    """Lowercased whitespace tokens, blanks dropped — the single
    shared token identity for token counts / stopwords / TF-IDF
    (a normalization tweak here moves all of them together, never
    forks them).  NULL text tokenizes like empty text: the DuckDB
    oracle twins emit 0-rows-then-coalesce for NULL, so the engine
    must not propagate NULL through size()/aggregate()."""
    c = F.coalesce(col, F.lit(""))
    return F.filter(F.split(F.lower(F.trim(c)), r"\s+"), lambda t: t != "")


def term_doc_stats(df: DataFrame, text_col: str = "text", id_col: str = "doc_id", min_df: int = 2) -> DataFrame:
    """Corpus term statistics — the integer-exact base relation for
    TF-IDF / BM25: one row per (term, doc) with term frequency, the
    term's document frequency, the doc's token length, and the corpus
    size.  All integers, so it verifies exactly cross-engine; the
    float weighting (idf = ln(N/df), BM25 saturation) is a trivial
    per-row map on top.

    Plan: token explode map-side → (doc, term, tf) agg → df per term
    (second agg) joined back on term; N and doc lengths ride along as
    window-free aggregates.  Terms below ``min_df`` are dropped (the
    singleton long tail is most of the volume and carries no ranking
    signal)."""
    toks = df.select(
        F.col(id_col).alias("doc"),
        F.explode(_tokens_arr(F.col(text_col))).alias("term"),
    )
    tf = toks.groupBy("doc", "term").agg(F.count("*").alias("tf"))
    doc_len = toks.groupBy("doc").agg(F.count("*").alias("dl"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.select(
        F.countDistinct(F.col(id_col)).alias("n_docs")
    )
    return (
        tf.join(dfreq.where(F.col("df") >= min_df), "term")
        .join(doc_len, "doc")
        .crossJoin(F.broadcast(n_docs))
        .select("term", "doc", "tf", "df", "dl", "n_docs")
    )
