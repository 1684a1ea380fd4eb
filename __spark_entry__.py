"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` — flagship end-to-end extraction over sf0.001.
``queries()`` / ``oracle_sql()`` — per-operator correctness pairs
checked against DuckDB at sf0.01 (SURVEY.md §2 driver keys).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: wrap sf0.001 ``documents`` into the pinned interleaved
    input shape (deterministic synth keyed on doc_id), run the full
    extraction (decode → pdf layout parse → html strip → boilerplate
    strip → field rules → assemble), return the flattened ordered
    span sequence — the registered ``q_extract_spans`` plan."""
    return queries()["q_extract_spans"](spark, SF0001)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    from accountant_pdf_extract_spark.plans import driver_queries

    return driver_queries.queries()


def oracle_sql() -> dict[str, str]:
    from accountant_pdf_extract_spark.plans import driver_queries

    return driver_queries.oracle_sql()
