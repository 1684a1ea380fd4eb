"""Generation fused into the extraction kernel: the same rows as
generating first, and a generator that breaks the input contract fails
the task."""

from __future__ import annotations

from accountant_pdf_extract_spark.plans.pipeline import extract
from accountant_pdf_extract_spark.schema import ARROW_INPUT


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
