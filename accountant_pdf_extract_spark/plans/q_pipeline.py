"""The two kernel-backed views of the extraction output, registered
rows-only: they are not SQL-expressible, so the driver gets no oracle
for them.  Their correctness gate is the golden fixture suite
(``tests/test_golden_spans.py``, ``BASELINE.json:15``), which checks
both ``spans_view`` and ``fields_view`` of ``extract``.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from accountant_pdf_extract_spark.plans.driver_queries import register
from accountant_pdf_extract_spark.plans.pipeline import (
    extract,
    fields_view,
    spans_view,
)
from accountant_pdf_extract_spark.sources.synth import documents_source


def _extracted(spark, sf):
    """Generate-and-extract over the ``documents`` table as ONE plan:
    salted proxy shuffle, then one fused generate+kernel runner, at the
    pipeline's default bucket and task counts."""
    proxy, generate = documents_source(spark, sf, seed=42)
    return extract(proxy, generate=generate)


@register("q_extract_spans")
def q_extract_spans(spark, sf):
    """Full extraction: ordered span sequences (rows-only check)."""
    return spans_view(_extracted(spark, sf))


@register("q_extract_fields")
def q_extract_fields(spark, sf):
    """Doc-level accounting fields (rows-only check): the fields the
    kernel puts on each doc's order==0 span row.  A doc that emits no
    span has no row here."""
    return fields_view(_extracted(spark, sf)).select(
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
