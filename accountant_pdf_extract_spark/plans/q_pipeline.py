"""Kernel-backed pipeline entries — not SQL-expressible, so the driver
records rows-only checks; the real correctness gate for these is the
golden span-sequence fixture suite (``tests/test_golden_spans.py``,
``BASELINE.json:15``).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from accountant_pdf_extract_spark.plans.driver_queries import register
from accountant_pdf_extract_spark.plans.pipeline import (
    SALT_COL,
    extract,
    extract_fields_table,
    salt,
    spans_view,
)
from accountant_pdf_extract_spark.sources.synth import (
    documents_source,
    interleaved_from_documents,
)

# salt buckets of every query here; the task count is the pipeline
# default (one per core, ``pipeline._effective_partitions``)
QUERY_SALT_BUCKETS = 256


def _extracted(spark, sf):
    """Generate-and-extract over the ``documents`` table as ONE plan:
    salted proxy shuffle, then one fused generate+kernel runner."""
    proxy, generate = documents_source(spark, sf, seed=42)
    return extract(proxy, salt_buckets=QUERY_SALT_BUCKETS, generate=generate)


@register("q_extract_spans")
def q_extract_spans(spark, sf):
    """Full extraction: ordered span sequences (rows-only check)."""
    return spans_view(_extracted(spark, sf))


@register("q_extract_fields")
def q_extract_fields(spark, sf):
    """Doc-level accounting fields (rows-only check) via the
    fields-only kernel — one output row per doc, span-text Arrow
    columns never built (equivalence with fields_view(extract(...))
    pinned by tests)."""
    proxy, generate = documents_source(spark, sf, seed=42)
    dv = extract_fields_table(
        proxy, salt_buckets=QUERY_SALT_BUCKETS, generate=generate
    )
    return dv.select(
        "doc_id",
        "invoice_id",
        "invoice_date",
        "due_date",
        "currency",
        # CLAUDE.md: never emit DECIMAL output columns — integer cents
        # (decimal*100 is exact, no rounding mode in play)
        (F.col("total") * 100).cast("long").alias("total_cents"),
        F.array_join(
            F.transform("amounts", lambda a: a.cast("string")), ","
        ).alias("amounts_csv"),
        F.array_join("account_codes", ",").alias("codes_csv"),
    )


@register("q_salt")
def q_salt(spark, sf):
    """Salt-bucket distribution evidence (rows-only): per-bucket doc
    counts for the skew-defeating repartition key — computed via the
    SAME salt() the pipeline shuffles on (never a re-implementation of
    the bucketing formula), at the sibling queries' buckets, over the
    generator's proxy rows (same doc_ids, no payload generated)."""
    proxy, _generate = documents_source(spark, sf, seed=42)
    return (
        salt(proxy, QUERY_SALT_BUCKETS)
        .groupBy(F.col(SALT_COL).alias("bucket"))
        .agg(F.count("*").alias("n_docs"))
    )


@register("q_span_stats")
def q_span_stats(spark, sf):
    """Output span mix per kind (rows-only)."""
    flat = _extracted(spark, sf)
    return flat.groupBy("kind").agg(
        F.count("*").alias("n_spans"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


@register("q_attachments")
def q_attachments(spark, sf):
    """Embedded e-invoice attachments (ZUGFeRD/Factur-X shape):
    per-currency count, XML bytes, and ID-presence over the
    ``attachment`` span kind (rows-only; the attachment content
    itself is pinned by golden fixtures).  Post-extraction analytics
    stay JVM-side: regexp_extract/length/groupBy, no Python UDF."""
    flat = _extracted(spark, sf)
    att = flat.where(F.col("kind") == "attachment")
    return (
        att.select(
            F.regexp_extract(
                "text", "<Currency>([A-Z]{3})</Currency>", 1
            ).alias("ccy"),
            F.length("text").alias("xml_len"),
            (
                F.regexp_extract("text", "<ID>(INV[0-9-]+)</ID>", 1)
                != ""
            ).cast("int").alias("has_id"),
        )
        .groupBy("ccy")
        .agg(
            F.count("*").alias("n_att"),
            F.sum("xml_len").alias("total_xml_len"),
            F.min("has_id").alias("all_have_id"),
        )
    )


@register("q_form_fields")
def q_form_fields(spark, sf):
    """AcroForm field values (fillable-invoice shape): per-field-name
    count and distinct-value count over the ``form`` span kind
    (rows-only; values are pinned by golden fixtures).  Analytics stay
    JVM-side; field name rides media_ref, value rides text."""
    flat = _extracted(spark, sf)
    return (
        flat.where(F.col("kind") == "form")
        .groupBy(F.col("media_ref").alias("field_name"))
        .agg(
            F.count("*").alias("n_values"),
            F.countDistinct("text").alias("n_distinct"),
            F.sum(F.length("text")).alias("total_len"),
        )
    )


@register("q_span_filter")
def q_span_filter(spark, sf):
    """P3: span-kind predicate via array HOF — route pdf spans without
    exploding (rows-only; operates on the interleaved input shape)."""
    docs = interleaved_from_documents(spark, sf, seed=42)
    return docs.select(
        "doc_id",
        F.size(F.filter("spans", lambda s: s["kind"] == "pdf")).alias("n_pdf"),
        F.size(F.filter("spans", lambda s: s["kind"] == "media")).alias("n_media"),
        F.size("spans").alias("n_spans"),
    )


@register("q_corpus_pipeline")
def q_corpus_pipeline(spark, sf):
    """Full curation composition: extract -> assemble per-doc text ->
    exact dedup (keep min id) -> quality filter (rows-only check)."""
    from accountant_pdf_extract_spark.plans.corpus_pipeline import curate

    proxy, generate = documents_source(spark, sf, seed=42)
    return curate(
        proxy, salt_buckets=QUERY_SALT_BUCKETS, min_quality=0.3,
        generate=generate,
    )
