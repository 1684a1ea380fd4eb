"""The query battery: the 14 registered non-extraction queries of
``bench.py``'s headline set, timed per query with a noop sink and
checked against their ``oracle_sql()`` DuckDB twins under the typed
comparison of ``tools.parity``.

The battery never enters generation or the extraction kernel, so its
times move with the Spark session and the planner, not with the
kernel.  Every traced run measures it once, over tables generated from
the run's seed.
"""

from __future__ import annotations

import statistics
import time

QUERIES = (
    "tpch_q1", "tpch_q5", "q_agg", "q_join_smj", "q_rownum", "q_linefreq",
    "q_tokcount", "q_asof", "q_bigrams", "q_dedup_exact", "q_dedup_minhash",
    "q_dedup_lsh_rescored", "q_dedup_simhash", "q_embed_topk",
)
REPEATS = 3


def compare(spark_pdf, duck_pdf) -> str | None:
    """``tools.parity``'s check: same columns, same row count, same
    sorted typed rows.  Returns a description of the first difference."""
    from tools.parity import rows_of

    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        return f"columns {sorted(spark_pdf.columns)} != {sorted(duck_pdf.columns)}"
    if len(spark_pdf) != len(duck_pdf):
        return f"{len(spark_pdf)} rows != {len(duck_pdf)}"
    got, want = rows_of(spark_pdf), rows_of(duck_pdf)
    if got != want:
        diff = next((a, b) for a, b in zip(got, want) if a != b)
        return f"typed values differ, first {diff}"
    return None


def run(spark, sf: str, tables: list[str], repeats: int = REPEATS) -> tuple[dict, list[str]]:
    """Check every query once, then time it ``repeats`` times into a
    noop sink.  Returns ``({"battery.<query>_s": median seconds},
    problems)``; a query that fails or differs gets no time."""
    import duckdb

    from accountant_pdf_extract_spark.plans import driver_queries

    queries, oracles = driver_queries.queries(), driver_queries.oracle_sql()
    con = duckdb.connect()
    for name in tables:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{sf}/{name}.parquet'")
    times, problems = {}, []
    for name in QUERIES:
        try:
            problem = compare(queries[name](spark, sf).toPandas(), con.execute(oracles[name]).df())
        except Exception as e:  # noqa: BLE001 - a failing query fails the run
            problem = f"error: {type(e).__name__}: {e}"
        if problem:
            problems.append(f"battery {name}: {problem}")
            continue
        walls = []
        for _ in range(repeats):
            t0 = time.perf_counter()
            queries[name](spark, sf).write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
        times[f"battery.{name}_s"] = statistics.median(walls)
    con.close()
    return times, problems
