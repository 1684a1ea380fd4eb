"""Similarity search over embedding columns (array<float>), pure
Catalyst and oracle-checkable:

* ``brute_force_topk_df`` — exploded-join dot product, exact top-k.
  Fine when the query set is small; the join fans out
  |queries| × |corpus| × dim rows, so gate query count.
* ``cosine_near_dup_pairs`` — embedding-cosine near-duplicate pairs
  over an id-capped pair space.

Quantization note: for engine-vs-oracle determinism the top-k and
near-dup paths work on milli-quantized integer components
(round(x*1000)::bigint) so dot products are exact integers — float
sum order never matters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def quantized_array(c):
    """Milli-quantized component array — THE single quantizer the
    oracle-parity contract depends on."""
    return F.transform(c, lambda x: F.round(x.cast("double") * 1000).cast("long"))


def quantized_components(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """(id, pos, milli-quantized component) — exact-integer base
    relation for deterministic dot products."""
    return df.select(
        F.col(id_col).alias("vid"),
        F.posexplode(quantized_array(F.col(vec_col))).alias("pos", "comp"),
    )


def brute_force_topk_df(
    df: DataFrame,
    query_max_id: int = 20,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by integer-quantized dot product; queries = rows
    with id < query_max_id.  Ties break on candidate id (deterministic).

    r6 plan shape: the QUERY side (bounded by contract) is the hint-
    broadcast build side and the corpus streams through the join —
    r5's plan broadcast the fully-exploded CORPUS (|corpus|·dim rows)
    and probed it from the tiny query explode, so the |q|·|corpus|·dim
    join output and the (qid,cid) partial aggregate all ran inside the
    ONE scan task of the query side (guide §3.1: broadcast the side
    you know is small; §2.5: single-file input skew).  The corpus scan
    is additionally fanned out (single-row-group local parquet)."""
    from accountant_pdf_extract_spark.operators.dedup import ensure_parallelism

    q = quantized_components(df, id_col, vec_col).where(
        F.col("vid") < query_max_id
    ).select(F.col("vid").alias("qid"), "pos", F.col("comp").alias("qc"))
    c = quantized_components(
        ensure_parallelism(df), id_col, vec_col
    ).select(F.col("vid").alias("cid"), "pos", F.col("comp").alias("cc"))
    dots = (
        c.join(F.broadcast(q), "pos")
        .where(F.col("qid") != F.col("cid"))
        .groupBy("qid", "cid")
        .agg(F.sum(F.col("qc") * F.col("cc")).alias("dot_micro"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("dot_micro"), F.asc("cid"))
    return (
        dots.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("qid", "cid", "dot_micro", "rank")
    )


def cosine_near_dup_pairs(
    df: DataFrame,
    max_id: int = 100,
    threshold_milli: int = 250,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup variant): cosine in
    thousandths over milli-quantized components, so both engines
    compute floor(1000 * dot / sqrt(na * nb)) from exact integers.
    The pair space is all-pairs under the ``max_id`` cap."""
    comps = quantized_components(df, id_col, vec_col).where(
        F.col("vid") < max_id
    )
    a = comps.select(F.col("vid").alias("a"), "pos", F.col("comp").alias("ac"))
    b = comps.select(F.col("vid").alias("b"), "pos", F.col("comp").alias("bc"))
    dots = (
        a.join(b, "pos")
        .where(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(F.sum(F.col("ac") * F.col("bc")).alias("dot"))
    )
    norms = comps.groupBy("vid").agg(
        F.sum(F.col("comp") * F.col("comp")).alias("nsq")
    )
    na = norms.select(F.col("vid").alias("a"), F.col("nsq").alias("na"))
    nb = norms.select(F.col("vid").alias("b"), F.col("nsq").alias("nb"))
    return (
        dots.join(na, "a")
        .join(nb, "b")
        # a vector that milli-quantizes to all zeros has nsq=0; under
        # ANSI the division would THROW (the oracle yields NULL and
        # drops the pair) — filter degenerate vectors, same outcome
        .where((F.col("na") > 0) & (F.col("nb") > 0))
        .select(
            "a",
            "b",
            F.floor(
                F.lit(1000) * F.col("dot")
                / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
            )
            .cast("long")
            .alias("cos_milli"),
        )
        .where(F.col("cos_milli") >= threshold_milli)
    )
