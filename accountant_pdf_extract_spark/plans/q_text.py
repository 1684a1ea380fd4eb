"""Text-analysis / dedup / similarity driver keys over ``documents``
and ``embeddings`` — these exercise the package operators in
``operators/{textstats,dedup,similarity}.py`` with DuckDB oracle twins.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from accountant_pdf_extract_spark.operators import dedup, similarity, textstats
from accountant_pdf_extract_spark.operators.dedup import ensure_parallelism
from accountant_pdf_extract_spark.plans.driver_queries import register, t


def tp(spark, sf, name):
    """Parallelism-ensured table read for tokenize-heavy queries: the
    driver's sf tables are single-row-group parquet files, so the scan
    (and everything map-side above it — split/regex/HOF folds) runs in
    ONE task without a fan-out exchange (guide §2.5 'input skew: one
    huge unsplittable file — repartition immediately after the read').
    ``ensure_parallelism`` is metadata-driven and a no-op at scale."""
    return ensure_parallelism(t(spark, sf, name))

# ---------------------------------------------------------------- scalar text


@register(
    "q_regex",
    r"""
    SELECT doc_id,
           regexp_extract(text, '\b(s[a-z]+)', 1) AS first_s_word,
           regexp_extract(text, '([a-z]+)$', 1) AS last_word
    FROM documents
    """,
)
def q_regex(spark, sf):
    # \z, not $: Java's $ matches BEFORE a final line terminator while
    # DuckDB's RE2 $ is end-of-text — \z pins Java to RE2's semantics
    # on texts with a trailing newline
    return t(spark, sf, "documents").select(
        "doc_id",
        F.regexp_extract("text", r"\b(s[a-z]+)", 1).alias("first_s_word"),
        F.regexp_extract("text", r"([a-z]+)\z", 1).alias("last_word"),
    )


@register(
    "q_linefreq",
    """
    SELECT word, count(*) AS n, count(DISTINCT doc_id) AS n_docs
    FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
          FROM documents)
    WHERE word <> ''
    GROUP BY word
    """,
)
def q_linefreq(spark, sf):
    return (
        tp(spark, sf, "documents")
        .select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .where(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("n"), F.countDistinct("doc_id").alias("n_docs"))
    )


@register(
    "q_amounts",
    r"""
    SELECT o_orderkey,
           '$' || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR) AS amount_str,
           CAST(TRY_CAST(regexp_extract('$' || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR),
                               '\$([0-9.]+)', 1) AS DECIMAL(18,2)) * 100 AS BIGINT)
             AS parsed_cents
    FROM orders
    """,
)
def q_amounts(spark, sf):
    # Integer cents on both sides: DECIMAL surfaces as float64 through
    # DuckDB's .df()/Arrow path while Spark returns Decimal objects, so a
    # DECIMAL output column can never hash-match across engines.
    amount_str = F.concat(
        F.lit("$"), F.col("o_totalprice").cast("decimal(18,2)").cast("string")
    )
    # try_cast on both sides: under Spark 4's default ANSI mode a
    # non-matching extract ('' from a malformed amount) makes a plain
    # cast THROW and kill the query; NULL mirrors the oracle's
    # TRY_CAST and the UDF twin's unparseable->NULL contract
    return t(spark, sf, "orders").select(
        "o_orderkey",
        amount_str.alias("amount_str"),
        (
            F.regexp_extract(amount_str, r"\$([0-9.]+)", 1)
            .try_cast("decimal(18,2)")
            * 100
        )
        .cast("long")
        .alias("parsed_cents"),
    )


@register(
    "q_bigrams",
    r"""
    WITH tok AS (
      SELECT doc_id, generate_subscripts(l, 1) AS i, unnest(l) AS t
      FROM (SELECT doc_id,
                   list_filter(regexp_split_to_array(lower(trim(text)), '\s+'),
                               x -> x <> '') AS l
            FROM documents))
    SELECT bigram, count(*) AS n, count(DISTINCT doc_id) AS n_docs
    FROM (SELECT a.doc_id, a.t || ' ' || b.t AS bigram
          FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.i = a.i + 1)
    GROUP BY bigram
    HAVING count(*) >= 5
    """,
)
def q_bigrams(spark, sf):
    """Bigram frequency over documents: the n-gram LM-statistics shape.
    Spark side builds bigrams map-side per row (adjacent-pair transform
    — no token self-join, unlike the oracle's pos-join), then one hash
    aggregate.

    r6: the token array is materialized ONCE in its own projection —
    inlining the split expression repeated it 5x inside the generator
    (CollapseProject keeps the projection because the reference is
    non-cheap and multiply-used), and the r5 plan tokenized every doc
    5x in a single scan task.  greatest(size-1, 0) replaces the CASE
    guard (slice with length 0 is just an empty array)."""
    toks = r"filter(split(lower(trim(text)), '\\s+'), x -> x <> '')"
    bigrams = (
        "transform(slice(_toks, 1, greatest(size(_toks) - 1, 0)), "
        "(x, i) -> concat(x, ' ', _toks[i + 1]))"
    )
    return (
        tp(spark, sf, "documents")
        .select("doc_id", F.expr(toks).alias("_toks"))
        .select("doc_id", F.explode(F.expr(bigrams)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("n"), F.countDistinct("doc_id").alias("n_docs"))
        .where(F.col("n") >= 5)
    )


# ---------------------------------------------------------------- textstats ops


@register(
    "q_tokcount",
    """
    SELECT doc_id,
           coalesce(len(list_filter(
             regexp_split_to_array(trim(text), '\\s+'), x -> x <> '')), 0)
             AS n_tokens,
           n_chars
    FROM documents
    """,
)
def q_tokcount(spark, sf):
    return tp(spark, sf, "documents").select(
        "doc_id",
        textstats.token_count(F.col("text")).alias("n_tokens"),
        "n_chars",
    )


@register(
    "q_quality",
    """
    SELECT doc_id,
        len(list_filter(regexp_split_to_array(trim(text), '\\s+'),
            x -> x <> '')) AS n_tokens,
        len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
            w -> list_contains(['the','and','of','to','a','in','is'], w)))
          AS n_stopwords
    FROM documents WHERE length(trim(text)) > 0
    """,
)
def q_quality(spark, sf):
    c = F.col("text")
    return (
        tp(spark, sf, "documents")
        .where(F.length(F.trim(c)) > 0)
        .select(
            "doc_id",
            textstats.token_count(c).alias("n_tokens"),
            textstats.stopword_hits(c, "en").alias("n_stopwords"),
        )
    )


@register(
    "q_langid",
    """
    WITH scored AS (
      SELECT doc_id,
        coalesce(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
            w -> list_contains(['the','and','of','to','a','in','is'], w))), 0) AS s_en,
        coalesce(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
            w -> list_contains(['der','die','das','und','ist','nicht','ein'], w))), 0) AS s_de,
        coalesce(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
            w -> list_contains(['le','la','les','et','est','une','des'], w))), 0) AS s_fr,
        coalesce(len(list_filter(regexp_split_to_array(lower(text), '\\s+'),
            w -> list_contains(['el','la','los','y','es','una','de'], w))), 0) AS s_es
      FROM documents)
    SELECT doc_id,
      CASE
        WHEN s_en = 0 AND s_de = 0 AND s_fr = 0 AND s_es = 0 THEN 'unk'
        WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
        WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
        WHEN s_fr >= s_es THEN 'fr'
        ELSE 'es' END AS lang_guess
    FROM scored
    """,
)
def q_langid(spark, sf):
    return tp(spark, sf, "documents").select(
        "doc_id", textstats.lang_id(F.col("text")).alias("lang_guess")
    )


@register(
    "q_fingerprint",
    """
    SELECT doc_id,
           md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fp
    FROM documents
    """,
)
def q_fingerprint(spark, sf):
    # no fan-out: one regex + md5 per row is cheaper than shuffling
    # the full text (same measurement as dedup.exact_dup_groups)
    return t(spark, sf, "documents").select(
        "doc_id", textstats.fingerprint(F.col("text")).alias("fp")
    )


# ---------------------------------------------------------------- dedup ops


@register(
    "q_dedup_exact",
    """
    SELECT content_hash, count(*) AS n_members, min(doc_id) AS keep_id
    FROM (SELECT doc_id,
                 md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS content_hash
          FROM documents
          WHERE text IS NOT NULL)
    GROUP BY content_hash
    """,
)
def q_dedup_exact(spark, sf):
    return dedup.exact_dup_groups(t(spark, sf, "documents"))


_SHINGLE_SQL = """
    SELECT DISTINCT doc_id AS sid,
           substr(norm, i, 8) AS shingle
    FROM (SELECT doc_id,
                 regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
          FROM documents WHERE doc_id < 40),
         unnest(range(1, greatest(length(norm) - 6, 1))) AS r(i)
"""


@register(
    "q_dedup_jaccard",
    f"""
    WITH sh AS ({_SHINGLE_SQL}),
    sizes AS (SELECT sid, count(*) AS n FROM sh GROUP BY sid),
    inter AS (
      SELECT a.sid AS a, b.sid AS b, count(*) AS n_common
      FROM sh a JOIN sh b USING (shingle)
      WHERE a.sid < b.sid
      GROUP BY a.sid, b.sid)
    SELECT i.a, i.b,
           CAST(floor(1000.0 * i.n_common / (na.n + nb.n - i.n_common)) AS BIGINT)
             AS jaccard_milli
    FROM inter i
    JOIN sizes na ON na.sid = i.a
    JOIN sizes nb ON nb.sid = i.b
    WHERE CAST(floor(1000.0 * i.n_common / (na.n + nb.n - i.n_common)) AS BIGINT) >= 100
    """,
)
def q_dedup_jaccard(spark, sf):
    docs = t(spark, sf, "documents").where(F.col("doc_id") < 40)
    return dedup.jaccard_pairs(docs, k=8, threshold_milli=100)


@register(
    "q_dedup_minhash",
    f"""
    WITH sh AS ({_SHINGLE_SQL}),
    banded AS (SELECT sid, band, shingle
               FROM sh, unnest([0,1,2,3]) AS b(band))
    SELECT sid, band,
           min(md5(CAST(band AS VARCHAR) || '-' || shingle)) AS bucket
    FROM banded GROUP BY sid, band
    """,
)
def q_dedup_minhash(spark, sf):
    docs = t(spark, sf, "documents").where(F.col("doc_id") < 40)
    return dedup.minhash_bands(docs, k=8, bands=4)


@register(
    "q_dedup_lsh_rescored",
    f"""
    WITH sh AS ({_SHINGLE_SQL}),
    banded AS (SELECT sid, band, shingle
               FROM sh, unnest([0,1,2,3]) AS b(band)),
    buckets AS (
      SELECT sid, band,
             min(md5(CAST(band AS VARCHAR) || '-' || shingle)) AS bucket
      FROM banded GROUP BY sid, band),
    cand AS (
      SELECT DISTINCT x.sid AS a, y.sid AS b
      FROM buckets x JOIN buckets y USING (band, bucket)
      WHERE x.sid < y.sid),
    sizes AS (SELECT sid, count(*) AS n FROM sh GROUP BY sid),
    inter AS (
      SELECT c.a, c.b, count(*) AS n_common
      FROM cand c
      JOIN sh sa ON sa.sid = c.a
      JOIN sh sb ON sb.sid = c.b AND sb.shingle = sa.shingle
      GROUP BY c.a, c.b)
    SELECT c.a, c.b,
           CAST(floor(1000.0 * coalesce(i.n_common, 0)
                      / (na.n + nb.n - coalesce(i.n_common, 0))) AS BIGINT)
             AS jaccard_milli
    FROM cand c
    LEFT JOIN inter i ON i.a = c.a AND i.b = c.b
    JOIN sizes na ON na.sid = c.a
    JOIN sizes nb ON nb.sid = c.b
    WHERE CAST(floor(1000.0 * coalesce(i.n_common, 0)
               / (na.n + nb.n - coalesce(i.n_common, 0))) AS BIGINT) >= 10
    """,
)
def q_dedup_lsh_rescored(spark, sf):
    """End-to-end LSH dedup pipeline: MinHash-banded candidates exact-
    rescored per-pair with array set ops — the quadratic shingle
    self-join never happens (100-TB shape end to end)."""
    docs = t(spark, sf, "documents").where(F.col("doc_id") < 40)
    return dedup.minhash_rescored_pairs(
        docs, k=8, bands=4, threshold_milli=10
    )


@register(
    "q_dedup_simhash",
    """
    WITH toks AS (
      SELECT doc_id AS sid,
             unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok
      FROM documents WHERE length(trim(text)) > 0),
    votes AS (
      SELECT sid, pos,
             sum(CASE WHEN strpos('89abcdef', substr(md5(tok), pos + 1, 1)) > 0
                      THEN 1 ELSE -1 END) AS v
      FROM toks, unnest(range(0, 16)) AS p(pos)
      WHERE tok <> ''
      GROUP BY sid, pos)
    SELECT sid,
           CAST(sum(CASE WHEN v > 0 THEN (1 << pos) ELSE 0 END) AS BIGINT) AS simhash
    FROM votes GROUP BY sid
    """,
)
def q_dedup_simhash(spark, sf):
    return dedup.simhash16(t(spark, sf, "documents"))


# ---------------------------------------------------------------- similarity


@register(
    "q_embed_topk",
    """
    WITH comps AS (
      SELECT vec_id AS vid,
             generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS comp
      FROM embeddings),
    dots AS (
      SELECT q.vid AS qid, c.vid AS cid,
             CAST(sum(q.comp * c.comp) AS BIGINT) AS dot_micro
      FROM comps q JOIN comps c USING (pos)
      WHERE q.vid < 10 AND q.vid <> c.vid
      GROUP BY q.vid, c.vid),
    ranked AS (
      SELECT qid, cid, dot_micro,
             row_number() OVER (PARTITION BY qid
                                ORDER BY dot_micro DESC, cid) AS rank
      FROM dots)
    SELECT qid, cid, dot_micro, rank FROM ranked WHERE rank <= 5
    """,
)
def q_embed_topk(spark, sf):
    return similarity.brute_force_topk_df(
        t(spark, sf, "embeddings"), query_max_id=10, k=5
    )


@register(
    "q_dedup_embed",
    """
    WITH comps AS (
      SELECT vec_id AS vid,
             generate_subscripts(embedding, 1) - 1 AS pos,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT) AS comp
      FROM embeddings WHERE vec_id < 100),
    dots AS (
      SELECT a.vid AS a, b.vid AS b, sum(a.comp * b.comp) AS dot
      FROM comps a JOIN comps b USING (pos)
      WHERE a.vid < b.vid
      GROUP BY a.vid, b.vid),
    norms AS (SELECT vid, sum(comp * comp) AS nsq FROM comps GROUP BY vid)
    SELECT d.a, d.b,
           CAST(floor(1000 * d.dot / sqrt(na.nsq * nb.nsq)) AS BIGINT) AS cos_milli
    FROM dots d
    JOIN norms na ON na.vid = d.a
    JOIN norms nb ON nb.vid = d.b
    WHERE CAST(floor(1000 * d.dot / sqrt(na.nsq * nb.nsq)) AS BIGINT) >= 250
    """,
)
def q_dedup_embed(spark, sf):
    return similarity.cosine_near_dup_pairs(
        t(spark, sf, "embeddings"), max_id=100, threshold_milli=250
    )


@register(
    "q_split",
    """
    SELECT split, count(*) AS n, CAST(min(doc_id) AS BIGINT) AS min_id
    FROM (SELECT doc_id,
                 CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                      THEN 'train' ELSE 'test' END AS split
          FROM documents)
    GROUP BY split
    """,
)
def q_split(spark, sf):
    """Deterministic md5-keyed train/test split ('cc' ~ 80/20) — a
    document keeps its split across reruns, engines, partitionings."""
    from accountant_pdf_extract_spark.operators.sampling import hash_split

    return (
        hash_split(t(spark, sf, "documents"), "doc_id", "cc")
        .groupBy("split")
        .agg(F.count("*").alias("n"), F.min("doc_id").alias("min_id"))
    )


@register(
    "q_stratified",
    """
    SELECT label, doc_sel AS vec_id
    FROM (SELECT label, vec_id AS doc_sel,
                 row_number() OVER (PARTITION BY label
                                    ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id)
                   AS rk
          FROM embeddings)
    WHERE rk <= 5
    """,
)
def q_stratified(spark, sf):
    """Deterministic stratified sample: 5 vectors per label, ranked by
    md5(id) — reproducible subsampling with zero RNG."""
    from accountant_pdf_extract_spark.operators.sampling import stratified_sample

    return stratified_sample(
        t(spark, sf, "embeddings").select("label", "vec_id"),
        stratum_col="label", id_col="vec_id", k=5,
    )


@register(
    "q_pack",
    """
    WITH packed AS (
      SELECT doc_id, coalesce(n_chars, 0) AS n_chars,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS pack_group,
             CAST(floor(
               (CAST(sum(coalesce(n_chars, 0)) OVER (
                  PARTITION BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)
                  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                - coalesce(n_chars, 0)) / 2000) AS BIGINT) AS shard_id
      FROM documents)
    SELECT pack_group || '-' || CAST(shard_id AS VARCHAR) AS shard_key,
           count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           CAST(min(doc_id) AS BIGINT) AS min_id
    FROM packed GROUP BY shard_key
    """,
)
def q_pack(spark, sf):
    """Token-budget shard packing (deterministic first-fit inside md5
    groups): per-shard doc count + total size.  The training-pipeline
    step between curation and tokenization."""
    from accountant_pdf_extract_spark.operators.packing import pack_token_shards

    return (
        pack_token_shards(
            t(spark, sf, "documents").select("doc_id", "n_chars"),
            id_col="doc_id", token_col="n_chars", budget=2000,
        )
        .groupBy("shard_key")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("n_chars").cast("long")).alias("total_chars"),
            F.min("doc_id").alias("min_id"),
        )
    )


@register(
    "q_decontaminate",
    f"""
    WITH bench AS (
      SELECT DISTINCT substr(norm, i, 8) AS shingle
      FROM (SELECT regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
            FROM documents WHERE doc_id < 10),
           unnest(range(1, greatest(length(norm) - 6, 1))) AS r(i)
      WHERE length(norm) >= 8),
    doc_sh AS (
      SELECT DISTINCT doc_id AS sid, substr(norm, i, 8) AS shingle
      FROM (SELECT doc_id,
                   regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
            FROM documents WHERE doc_id >= 10),
           unnest(range(1, greatest(length(norm) - 6, 1))) AS r(i)
      WHERE length(norm) >= 8)
    SELECT sid, count(*) AS n_shared
    FROM doc_sh JOIN bench USING (shingle)
    GROUP BY sid
    HAVING count(*) >= 200
    """,
)
def q_decontaminate(spark, sf):
    """Eval-leakage sweep: docs >= 10 sharing >= 200 distinct 8-gram
    shingles with the 'benchmark' (docs < 10) — 200 because the synth
    template vocabulary gives every doc a ~121-shingle shared baseline;
    the threshold must sit above it to discriminate.  Benchmark
    shingles broadcast; the corpus never shuffles for the join."""
    docs = t(spark, sf, "documents")
    return dedup.contamination_check(
        docs.where(F.col("doc_id") >= 10),
        docs.where(F.col("doc_id") < 10),
        k=8, min_shared=200,
    )


@register(
    "q_term_stats",
    """
    WITH toks AS (
      SELECT doc_id AS doc, unnest(list_filter(
               regexp_split_to_array(lower(trim(text)), '\\s+'), x -> x <> ''))
               AS term
      FROM documents),
    tf AS (SELECT doc, term, count(*) AS tf FROM toks GROUP BY doc, term),
    dl AS (SELECT doc, count(*) AS dl FROM toks GROUP BY doc),
    dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM documents)
    SELECT term, doc, tf, df, dl, n_docs
    FROM tf JOIN dfreq USING (term) JOIN dl USING (doc) CROSS JOIN n
    WHERE df >= 50
    """,
)
def q_term_stats(spark, sf):
    """Integer-exact corpus term statistics (the TF-IDF/BM25 base
    relation): (term, doc, tf, df, doc_len, N) — verifies exactly
    cross-engine; float weighting is a per-row map on top."""
    return textstats.term_doc_stats(
        t(spark, sf, "documents"), min_df=50
    )
