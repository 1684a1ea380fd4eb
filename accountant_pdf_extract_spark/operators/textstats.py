"""Text-analysis operators for large-scale training-data pipelines:
language-ID (stopword heuristic), token and stopword counts,
document fingerprinting, repetition / OOV signals and term
statistics.  All pure Catalyst expressions — JVM-side,
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
    'foo bar\n' count 3 while term_stats/repetition/oov counted 2
    for the same doc)."""
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
    shared token identity for token counts / repetition / OOV / TF-IDF
    (a normalization tweak here moves all of them together, never
    forks them).  NULL text tokenizes like empty text: the DuckDB
    oracle twins emit 0-rows-then-coalesce for NULL, so the engine
    must not propagate NULL through size()/aggregate()."""
    c = F.coalesce(col, F.lit(""))
    return F.filter(F.split(F.lower(F.trim(c)), r"\s+"), lambda t: t != "")


def _run_length_stats(sorted_arr: Column) -> Column:
    """struct(best, dup) over a SORTED string array in ONE linear fold:
    ``best`` = longest run length (= max multiplicity of any element),
    ``dup`` = total elements belonging to runs of length >= 2.  The
    ``dup`` counter is maintained incrementally (a run reaching length
    2 contributes both of its members, each further member adds 1), so
    no finish-pass bookkeeping is needed.  O(n) per row, pure Catalyst
    — the shuffle-free alternative to explode + groupBy(doc, token)."""
    init = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).cast("long").alias("run"),
        F.lit(0).cast("long").alias("best"),
        F.lit(0).cast("long").alias("dup"),
    )

    def step(acc, x):
        run2 = F.when(
            acc.getField("prev").isNotNull() & (x == acc.getField("prev")),
            acc.getField("run") + 1,
        ).otherwise(F.lit(1).cast("long"))
        dup2 = acc.getField("dup") + (
            F.when(run2 == 2, F.lit(2))
            .when(run2 > 2, F.lit(1))
            .otherwise(F.lit(0))
            .cast("long")
        )
        return F.struct(
            x.alias("prev"),
            run2.alias("run"),
            F.greatest(acc.getField("best"), run2).alias("best"),
            dup2.alias("dup"),
        )

    return F.aggregate(
        sorted_arr,
        init,
        step,
        lambda acc: F.struct(
            acc.getField("best").alias("best"), acc.getField("dup").alias("dup")
        ),
    )


def repetition_features(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021
    §A1.1: "fraction of tokens in the most common n-gram" / "fraction
    of duplicate n-grams"), in integer milli-units for cross-engine
    exactness:

    - ``top_token_milli``  — share of tokens that are the single most
      frequent token (1000 = the doc is one token repeated),
    - ``dup_token_milli``  — share of tokens whose token occurs >= 2x,
    - ``top_bigram_milli`` / ``dup_bigram_milli`` — the same over
      adjacent-token bigrams (denominator = n_tokens - 1).

    Plan: everything is computed map-side per row — bigrams via
    zip_with over shifted slices (no token self-join), multiplicity
    stats via array_sort + a linear run-length fold — so the operator
    adds ZERO exchanges at any scale; high-repetition docs can be
    filtered before the first shuffle of a pipeline."""
    toks = _tokens_arr(F.col(text_col))
    n = F.size(toks).cast("long")
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, F.size(toks) - 1),
            F.slice(toks, 2, F.size(toks) - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    ts = _run_length_stats(F.array_sort(toks))
    bs = _run_length_stats(F.array_sort(bigrams))
    nb = (n - 1).cast("long")

    # floor(num*1000/den): num*1000 stays far below 2^53 (docs are
    # bounded), so the double division is exact whenever the true
    # quotient is an integer — floor can never flip on a boundary.
    def milli(num: Column, den: Column) -> Column:
        return (
            F.when(den > 0, F.floor(num * 1000 / den)).otherwise(F.lit(0)).cast("long")
        )

    return df.select(
        F.col(id_col),
        n.alias("n_tokens"),
        milli(ts.getField("best"), n).alias("top_token_milli"),
        milli(ts.getField("dup"), n).alias("dup_token_milli"),
        milli(bs.getField("best"), nb).alias("top_bigram_milli"),
        milli(bs.getField("dup"), nb).alias("dup_bigram_milli"),
    )


def oov_rate(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    vocab_size: int = 20,
) -> DataFrame:
    """Out-of-vocabulary rate per document against a corpus-derived
    vocabulary: the ``vocab_size`` most frequent tokens (ties broken by
    token asc — deterministic cut).  Output ``oov_milli`` = share of
    the doc's tokens outside the vocabulary, integer milli.

    Plan: one explode + hash-agg builds token counts; the vocabulary
    cut is ``orderBy(count desc, token asc).limit(V)`` — planned as
    TakeOrderedAndProject (per-partition partial top-V, then a V·P-row
    reduction, never a global sort).  The V surviving tokens collapse
    to ONE array row, are broadcast, and the per-doc rate is a
    map-side ``size(filter(...))`` over the broadcast array — the
    corpus is never shuffled for the scoring pass."""
    toks_col = _tokens_arr(F.col(text_col))
    counts = (
        df.select(F.explode(toks_col).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("t"))
        .limit(vocab_size)
    )
    vocab = counts.agg(F.sort_array(F.collect_list("t")).alias("vocab"))
    toks = df.select(F.col(id_col), toks_col.alias("toks"))
    n = F.size("toks").cast("long")
    oov = F.size(
        F.filter("toks", lambda t: ~F.array_contains(F.col("vocab"), t))
    ).cast("long")
    return (
        toks.crossJoin(F.broadcast(vocab))
        .select(
            F.col(id_col),
            n.alias("n_tokens"),
            F.when(n > 0, F.floor(oov * 1000 / n))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("oov_milli"),
        )
    )


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
