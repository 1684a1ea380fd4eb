"""End-to-end training-corpus pipeline: the composition a large-scale
data-curation job actually runs —

    extract (interleaved docs → ordered text spans)
      → per-doc text assembly (concat_ws over ordered spans)
      → fingerprint + exact dedup (keep the min doc_id per content hash)
      → quality scoring + threshold filter
      → (doc_id, text, n_tokens, quality_score) corpus table

Shuffle budget: the extraction exchange (salted), one groupBy for the
per-doc text assembly, one for the dedup hash — each on a different
key, all hash-partitioned; at 100 TB the dedup agg is the small one
(one row per doc) and the quality filter is free (map-side).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from accountant_pdf_extract_spark.operators import textstats
from accountant_pdf_extract_spark.plans.pipeline import extract


def doc_text(flat: DataFrame) -> DataFrame:
    """Ordered span text per doc, newline-joined (X2 collect)."""
    return (
        flat.where(F.col("kind") == "text")
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("order", "text"))),
                    lambda s: s["text"],
                ),
            ).alias("text")
        )
    )


def curate(
    docs: DataFrame,
    salt_buckets: int = 1024,
    num_partitions: int | None = None,
    min_quality: float = 0.3,
    generate=None,
) -> DataFrame:
    """Interleaved docs → deduped, quality-filtered corpus table.

    Derived DataFrames do not inherit extract()'s ``dropped_docs_acc``
    attribute, so the returned frame re-exposes it: curate() callers
    keep a driver-readable drop metric.  ``generate``: ``docs`` is a
    generator proxy, expanded inside the extraction kernel (extract())."""
    flat = extract(
        docs, salt_buckets=salt_buckets, num_partitions=num_partitions,
        generate=generate,
    )
    texts = doc_text(flat)

    # keep-min-doc_id per content hash as a map-side-combinable AGG —
    # a row_number window here would ship every duplicate's full text
    # through the exchange and sort it; min(struct(doc_id, text))
    # collapses duplicates in the partial aggregate, so at most one
    # candidate row per (hash, map task) shuffles.  The hash is the
    # single-sourced content identity (textstats.fingerprint — same
    # key every dedup operator uses).
    deduped = (
        texts.groupBy(textstats.fingerprint(F.col("text")).alias("_h"))
        .agg(F.min(F.struct("doc_id", "text")).alias("_keep"))
        .select(
            F.col("_keep.doc_id").alias("doc_id"),
            F.col("_keep.text").alias("text"),
        )
    )

    scored = textstats.quality_features(deduped)
    out = scored.where(F.col("quality_score") >= min_quality).select(
        "doc_id", "text", "n_tokens", "quality_score"
    )
    out.dropped_docs_acc = flat.dropped_docs_acc
    return out
