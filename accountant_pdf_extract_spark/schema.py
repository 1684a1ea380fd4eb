"""Pinned schemas for the interleaved-document pipeline.

The input schema is fixed by the driver spec (``BASELINE.json:15``:
``doc_id:string, spans:array<struct<kind,text,media_ref,offset:int32>>``)
and asserted at job start — fail fast before any shuffle.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    DateType,
    DecimalType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

SPAN_IN_STRUCT = StructType(
    [
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
    ]
)

INPUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("spans", ArrayType(SPAN_IN_STRUCT)),
    ]
)

# Arrow twin of INPUT_SCHEMA: what generators emit and the kernel reads.
ARROW_INPUT = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field(
            "spans",
            pa.list_(
                pa.struct(
                    [
                        pa.field("kind", pa.string()),
                        pa.field("text", pa.string()),
                        pa.field("media_ref", pa.string()),
                        pa.field("offset", pa.int32()),
                    ]
                )
            ),
        ),
    ]
)

FIELDS_STRUCT = StructType(
    [
        StructField("invoice_id", StringType()),
        StructField("invoice_date", DateType()),
        StructField("due_date", DateType()),
        StructField("currency", StringType()),
        StructField("total", DecimalType(18, 2)),
        StructField("amounts", ArrayType(DecimalType(18, 2))),
        StructField("account_codes", ArrayType(StringType())),
    ]
)

# Flattened extraction output: one row per output span; the doc's
# extracted accounting fields ride on its order==0 row (null on the
# rest — duplicating them per span wastes Arrow build time).  The
# flat view is what the span-sequence fixtures compare.
FLAT_OUT_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("order", IntegerType()),
    ]
)

# Arrow twin of FLAT_OUT_SCHEMA + fields (what the fused kernel emits).
ARROW_FLAT_FIELDS = pa.schema(
    [
        pa.field("doc_id", pa.string()),
        pa.field("kind", pa.string()),
        pa.field("text", pa.string()),
        pa.field("media_ref", pa.string()),
        pa.field("order", pa.int32()),
        pa.field("invoice_id", pa.string()),
        pa.field("invoice_date", pa.date32()),
        pa.field("due_date", pa.date32()),
        pa.field("currency", pa.string()),
        pa.field("total", pa.decimal128(18, 2)),
        pa.field("amounts", pa.list_(pa.decimal128(18, 2))),
        pa.field("account_codes", pa.list_(pa.string())),
    ]
)

FLAT_FIELDS_SCHEMA = StructType(
    list(FLAT_OUT_SCHEMA.fields) + list(FIELDS_STRUCT.fields)
)

COMMIT_LOG_SCHEMA = StructType(
    [
        StructField("partition_id", IntegerType()),
        StructField("output_fingerprint", StringType()),
        StructField("n_docs", LongType()),
        StructField("n_spans", LongType()),
        StructField("n_fields", LongType()),
        StructField("job_wall_ms", LongType()),
        StructField("lineage", MapType(StringType(), StringType())),
        StructField("snapshot_id", StringType()),
    ]
)


def assert_input_schema(df: DataFrame) -> DataFrame:
    """Fail fast (before any shuffle) if the input shape is wrong.

    Compared by ``simpleString`` — names and types at every nesting
    level, IGNORING nullability/metadata: a source with non-nullable
    columns (Iceberg required fields, post-fillna plans) is strictly
    safer than the pinned contract and must not be rejected
    (StructType equality compares nullable flags too)."""
    if df.schema.simpleString() != INPUT_SCHEMA.simpleString():
        raise ValueError(
            f"input schema mismatch:\n got      {df.schema.simpleString()}\n"
            f" expected {INPUT_SCHEMA.simpleString()}"
        )
    return df
