"""The composed curation pipeline: dedup keeps one representative per
content, the quality gate drops junk, survivors keep ordered text."""

from __future__ import annotations

from accountant_pdf_extract_spark.plans.corpus_pipeline import curate, doc_text
from accountant_pdf_extract_spark.plans.pipeline import extract
from accountant_pdf_extract_spark.schema import ARROW_INPUT, INPUT_SCHEMA


def _mkdocs(spark, rows):
    return spark.createDataFrame(
        [
            (
                did,
                [
                    {"kind": "text", "text": t, "media_ref": "", "offset": i}
                    for i, t in enumerate(texts)
                ],
            )
            for did, texts in rows
        ],
        INPUT_SCHEMA,
    )


def test_dedup_keeps_min_and_quality_filters(spark):
    rows = [
        ("a-1", ["the ledger is in the balance today and it is fine"]),
        ("a-2", ["the ledger is in the balance today and it is fine"]),  # dup
        ("b-1", ["!!!"]),  # junk → quality gate
        ("c-1", ["a completely different entry in the journal is here now"]),
    ]
    out = curate(_mkdocs(spark, rows), salt_buckets=8, num_partitions=4).collect()
    ids = sorted(r["doc_id"] for r in out)
    assert ids == ["a-1", "c-1"]
    for r in out:
        assert r["quality_score"] >= 0.3
        assert r["n_tokens"] >= 5


def test_doc_text_preserves_order(spark):
    rows = [("d-1", ["first line", "second line", "third line"])]
    flat = extract(_mkdocs(spark, rows), salt_buckets=4, num_partitions=2)
    txt = doc_text(flat).first()["text"]
    assert txt == "first line\nsecond line\nthird line"


def test_fields_only_kernel_equals_fields_view(spark):
    """extract_fields_table must produce exactly fields_view(extract())
    — same docs, same field values — while never building span rows."""
    from accountant_pdf_extract_spark.plans.pipeline import (
        extract,
        extract_fields_table,
        fields_view,
    )
    from accountant_pdf_extract_spark.sources.synth import synth_interleaved

    inp = synth_interleaved(spark, 120, seed=21, partitions=4)
    via_flat = fields_view(extract(inp, salt_buckets=8, num_partitions=4))
    via_fields = extract_fields_table(inp, salt_buckets=8, num_partitions=4)
    assert via_fields.columns == via_flat.columns
    a = sorted(map(tuple, via_flat.collect()))
    b = sorted(map(tuple, via_fields.collect()))
    assert a == b and len(a) == 120


def test_zero_span_doc_fields_vs_flat(spark):
    """Documented divergence pinned: a doc whose spans all normalize
    to nothing has ONE null-fields row in the fields table but ZERO
    rows in the flat span output (fields ride on span rows)."""
    from accountant_pdf_extract_spark.plans.pipeline import (
        extract,
        extract_fields_table,
        fields_view,
    )
    from accountant_pdf_extract_spark.schema import INPUT_SCHEMA

    inp = spark.createDataFrame(
        [
            ("empty", [{"kind": "text", "text": "   ", "media_ref": "", "offset": 0}]),
            ("real", [{"kind": "text", "text": "invoice body", "media_ref": "", "offset": 0}]),
        ],
        INPUT_SCHEMA,
    )
    flat = extract(inp, salt_buckets=4, num_partitions=2)
    ft = extract_fields_table(inp, salt_buckets=4, num_partitions=2)
    assert sorted(r["doc_id"] for r in ft.select("doc_id").collect()) == [
        "empty", "real"
    ]
    assert sorted(
        r["doc_id"] for r in fields_view(flat).select("doc_id").collect()
    ) == ["real"]
    assert flat.where("doc_id = 'empty'").count() == 0


def test_fused_generation_equals_generate_then_extract(spark):
    """Generating inside the kernel's runner (salted proxy shuffle,
    then ONE generate+extract mapInArrow) yields byte-identical ordered
    span rows to generating first and extracting the materialized
    frame, and the output salt column is the pipeline formula on the
    generated doc_id, recomputed independently."""
    from pyspark.sql import functions as F

    from __spark_entry__ import SF0001 as sf
    from accountant_pdf_extract_spark.plans.pipeline import SALT_COL
    from accountant_pdf_extract_spark.sources.synth import (
        documents_source,
        interleaved_from_documents,
    )

    old = extract(
        interleaved_from_documents(spark, sf, seed=42),
        salt_buckets=16, num_partitions=4,
    )
    proxy, generate = documents_source(spark, sf, seed=42)
    new = extract(
        proxy, salt_buckets=16, num_partitions=4, keep_salt=True,
        generate=generate,
    )
    recheck = new.withColumn(
        "_expect", F.pmod(F.xxhash64(F.col("doc_id")), F.lit(16)).cast("int")
    )
    assert recheck.where(F.col(SALT_COL) != F.col("_expect")).count() == 0
    a = old.drop(SALT_COL).orderBy("doc_id", "order").collect()
    b = new.drop(SALT_COL).orderBy("doc_id", "order").collect()
    assert a == b and len(a) > 0


def test_fused_generator_output_is_checked(spark):
    """A generator whose batches leave the pinned input shape, or
    rename the proxy's doc_ids, fails the task instead of extracting."""
    import pyarrow as pa
    import pytest
    from pyspark.errors import PythonException

    proxy = spark.createDataFrame([("d-1", "x")], "doc_id string, text string")

    def renamed(batch):
        return pa.RecordBatch.from_pylist(
            [{"doc_id": "other", "spans": []}],
            schema=ARROW_INPUT,
        )

    def misshapen(batch):
        return pa.RecordBatch.from_pylist([{"doc_id": "d-1"}])

    for gen, msg in ((renamed, "doc_ids"), (misshapen, "schema mismatch")):
        with pytest.raises(PythonException, match=msg):
            extract(proxy, salt_buckets=4, num_partitions=1, generate=gen).collect()
