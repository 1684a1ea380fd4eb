"""The extraction plan (SURVEY.md §3): declared with the DataFrame API
so Catalyst owns pushdown/pruning/physical strategy; exactly ONE
shuffle in the whole job — the spec-mandated salted repartition on
``hash(doc_id)`` (``BASELINE.json:6,14``) that defeats giant-PDF skew
by spreading docs uniformly over fine-grained salt buckets, grouped
into one wave of tasks (``_effective_partitions``).  Everything
downstream is map-only: the fused Arrow kernel — which for generated
inputs also runs the generator, in the same Python runner — then the
sink.  At 100 TB this shape means: parquet/Iceberg scan with column
pruning → one exchange → embarrassingly parallel extraction.
"""

from __future__ import annotations

import os
import zipimport

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from accountant_pdf_extract_spark.operators.kernel import extract_batches
from accountant_pdf_extract_spark.schema import (
    ARROW_INPUT,
    FLAT_FIELDS_SCHEMA,
    assert_input_schema,
)

SALT_COL = "_salt_bucket"


def salt(df: DataFrame, buckets: int = 1024) -> DataFrame:
    """J5: deterministic salt bucket from the doc id hash.

    If the input already carries a physical ``_salt_bucket`` column
    (written by ``plans.job.write_bucketed_input`` — i.e. the table is
    partitioned by bucket on disk), it is trusted as-is: filters on it
    then prune PARTITIONS at the scan instead of running post-scan.
    Caller contract: the stored bucket must have been computed with the
    same formula and bucket count."""
    if SALT_COL in df.columns:
        return df
    return df.withColumn(
        SALT_COL, F.pmod(F.xxhash64(F.col("doc_id")), F.lit(buckets)).cast("int")
    )


def _stat_checked_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed on disk.

    The PySpark worker calls ``importlib.invalidate_caches()`` at the
    start of every task; under Python 3.11 each zip importer then
    re-reads its whole archive directory.  A kernel worker holds 16 zip
    importers over three archives (``pyspark.zip``, the py4j zip and
    the spark-core jar): 140–230 ms per task.  The wrapper stamps each
    archive with ``(st_mtime_ns, st_size)`` when it reads the directory
    and, while ``os.stat`` shows the same stamp and the directory is
    still cached, only re-points the importer at the cached directory.
    A changed, vanished or unreadable archive is re-read by the stock
    method, so what imports is unchanged.  Installing it again does
    nothing.

    Called inside the Python worker (first statement of the kernel's
    ``mapInArrow`` function), not from a ``spark.python.daemon.module``
    hook: with ``spark-submit --py-files`` the daemon cannot import this
    package, and ``pyspark/daemon.py`` ignores any worker module not
    named ``pyspark*``.  Pooled workers keep the patch, for every UDF
    they later run: a worker's first task pays the stock re-read, its
    second reads each archive once (35–70 ms), later tasks 0.1–0.25 ms
    (local[1] on a 4-core host, after the sf0.001 kernel)."""
    stock = zipimport.zipimporter.invalidate_caches
    if getattr(stock, "stat_checked", False):
        return
    stamps = {}  # archive path -> stamp taken before its last read

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
            stamp = (st.st_mtime_ns, st.st_size)
        except OSError:
            stamp = None
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and stamp == stamps.get(self.archive) \
                and files is not None:
            self._files = files
            return
        stock(self)
        stamps[self.archive] = stamp

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def _with_drop_metric(spark, kernel_fn, acc=None, generate=None):
    """Wrap an Arrow kernel so per-doc extraction failures increment a
    driver-readable accumulator (surfaced as ``dropped_docs_acc`` on
    the result DataFrame and recorded in commit-log lineage) in
    addition to the executor-stdout line — silent data loss is not
    acceptable at 10^12 docs.

    Accumulator caveat (inherent to updates inside transformations):
    counts are AT-LEAST-ONCE — task retries / speculative duplicates
    re-increment, so treat the value as an upper bound / alarm signal,
    not an exact ledger.  The exact ground truth is the commit-log
    n_docs-vs-input delta per bucket.

    ``acc`` lets long-lived callers (streaming foreachBatch) reuse ONE
    accumulator across calls — each extract() otherwise registers a
    fresh entry in the driver's global accumulator registry, which is
    never released (unbounded growth on a continuous stream).

    ``generate`` (see ``_run_kernel``) expands each proxy batch into
    the input shape in the same iterator the kernel consumes."""
    dropped = acc if acc is not None else spark.sparkContext.accumulator(0)

    def run(batches):
        _stat_checked_zip_invalidation()

        def note(doc_id, exc):
            dropped.add(1)
            print(f"extract_doc failed for {doc_id!r}: {exc!r}", flush=True)

        if generate is not None:
            batches = _generated(batches, generate)
        yield from kernel_fn(batches, on_drop=note)

    return run, dropped


def _generated(batches, generate):
    """Run ``generate`` over proxy batches, checked the way
    ``assert_input_schema`` checks a DataFrame input: every generated
    batch must have the pinned Arrow input shape and keep the proxy's
    doc_ids (the salt bucket was hashed from them before the shuffle).
    A mismatch is a generator bug, not a bad document — fail the task."""
    for batch in batches:
        out = generate(batch)
        if not out.schema.equals(ARROW_INPUT):
            raise ValueError(
                f"generated batch schema mismatch:\n got      {out.schema}"
                f"\n expected {ARROW_INPUT}"
            )
        if out.column("doc_id").to_pylist() != batch.column("doc_id").to_pylist():
            raise ValueError(
                "generator changed the proxy doc_ids its rows were salted on"
            )
        yield out


def _run_kernel(df, kernel_fn, out_schema, salt_buckets, num_partitions,
                drop_acc, generate=None):
    """The shared assert → salt → repartition → Arrow-kernel pipeline
    (single-sourced so the clamp/accumulator wiring can never fork
    between the span and fields paths).

    ``generate`` fuses an input generator into the kernel: ``df`` is
    then the narrow proxy of the documents (its ``doc_id`` is the id
    the generated document carries), and ``generate`` maps one proxy
    Arrow batch to one input-shaped batch.  The proxy is salted and
    shuffled before any payload exists (guide §8: shuffle the
    lightweight proxy, not the heavy bytes), and the ONE
    ``mapInArrow`` generates and extracts in the same Python iterator:
    the generated payloads never leave the worker, and each task pays
    for one Python runner, not two (see ``_effective_partitions`` for
    what a runner costs)."""
    if generate is None:
        cols = ["doc_id", "spans"]
        assert_input_schema(df.select(*cols))
    else:
        cols = [c for c in df.columns if c != SALT_COL]
    spark = df.sparkSession
    np = _effective_partitions(spark, num_partitions, salt_buckets)
    salted = salt(df, salt_buckets).repartition(np, SALT_COL)
    run, dropped = _with_drop_metric(spark, kernel_fn, drop_acc, generate)
    out = salted.select(*cols).mapInArrow(run, schema=out_schema)
    return out, dropped


def extract(
    df: DataFrame,
    salt_buckets: int = 1024,
    num_partitions: int | None = None,
    keep_salt: bool = False,
    drop_acc=None,
    generate=None,
) -> DataFrame:
    """Interleaved input table → flattened output spans + fields.

    One row per output span: (doc_id, kind, text, media_ref, order,
    invoice_id, invoice_date, due_date, currency, total, amounts,
    account_codes).  ``drop_acc``: optional shared accumulator for the
    dropped-doc metric (streaming callers pass one per stream).
    ``generate``: ``df`` is a proxy expanded inside the kernel's task
    (``_run_kernel``; ``synth.documents_source`` returns such a pair).

    The returned DataFrame carries ``dropped_docs_acc`` as a plain
    attribute — DERIVED DataFrames do not inherit it, so callers that
    transform the result must keep their own reference (or pass
    ``drop_acc``) to read the metric.
    """
    out, dropped = _run_kernel(
        df, extract_batches, FLAT_FIELDS_SCHEMA, salt_buckets,
        num_partitions, drop_acc, generate,
    )
    if keep_salt:
        # same formula via salt() — the bucketing expression must never
        # fork between the input path and the output column
        out = salt(out, salt_buckets)
    out.dropped_docs_acc = dropped
    return out


def _effective_partitions(
    spark, num_partitions: int | None = None, salt_buckets: int | None = None
) -> int:
    """The task count of every generated or kernel-backed plan, derived
    here and nowhere else: the caller's ``num_partitions`` if given
    (e.g. ``job.py --num-partitions`` on a cluster), otherwise the core
    budget — ``defaultParallelism`` tasks, one wave.

    One wave, because a Python task still has a fixed cost.  The
    largest part, the worker's per-task zip re-read, is paid in full
    only by a worker's first task (``_stat_checked_zip_invalidation``),
    but more tasks still cost more on these inputs.  perfbench
    ``wall_s`` with that fix, local[4] on a 4-core host, warm, three
    interleaved rounds per cell (median):

    =========  =======  =======  ========
    workload   4 tasks  8 tasks  16 tasks
    =========  =======  =======  ========
    flagship   0.86 s   0.91 s   1.22 s
    heavy_job  5.08 s   4.94 s   5.25 s
    =========  =======  =======  ========

    heavy_job's 8-task cell is within its run-to-run spread
    (4.36–5.17 s at 4 tasks).  More tasks per core would let a
    giant-PDF task finish alongside the others instead of being the
    tail; choosing that needs a giant-PDF tail corpus to measure.

    With ``salt_buckets`` the repartition KEY is the salt bucket, so
    partitions beyond ``salt_buckets`` can only sit empty (there are at
    most that many distinct keys) — clamp, and get more parallelism by
    raising ``salt_buckets`` instead.  The exchange hash-maps bucket
    VALUES to partitions, so at np ≈ salt_buckets collisions leave ~1/e
    of partitions empty and pile 3-5 buckets into single tasks (the
    giant-PDF straggler the salt exists to prevent); the DEFAULT
    therefore also caps np at salt_buckets // 4 — ≥4 expected buckets
    per task bounds the collision skew near 2x whp.  An EXPLICIT
    num_partitions is honored up to salt_buckets (callers pinning small
    test plans)."""
    if salt_buckets is None:
        return num_partitions or spark.sparkContext.defaultParallelism
    if num_partitions is not None:
        return min(num_partitions, salt_buckets)
    np = spark.sparkContext.defaultParallelism
    return max(1, min(np, salt_buckets // 4))


def extract_fields_table(
    df: DataFrame,
    salt_buckets: int = 1024,
    num_partitions: int | None = None,
    drop_acc=None,
    generate=None,
) -> DataFrame:
    """Fields-only extraction: one row per document (doc_id +
    accounting fields), same salted single-shuffle plan (``generate``
    as in ``extract``), but the kernel never materializes the
    span-text Arrow columns — the cheap path when only structured
    fields are wanted.

    Equivalence with ``fields_view(extract(df))`` (pinned by
    ``tests/test_corpus_pipeline.py``) holds for every document that
    emits at least one span.  A document whose spans all normalize to
    NOTHING (e.g. one whitespace-only text span) appears HERE with
    null fields but has no rows at all in the flat span output — the
    fields table is per-document, the flat table is per-span, and a
    zero-span doc has no row to carry fields on.  Pinned by
    ``test_zero_span_doc_fields_vs_flat``."""
    from accountant_pdf_extract_spark.operators.kernel import (
        extract_fields_batches,
    )
    from accountant_pdf_extract_spark.schema import DOC_FIELDS_SCHEMA

    # no keep_salt: this is a per-document side table, not the
    # bucket-partitioned sink path — nothing downstream keys on it
    out, dropped = _run_kernel(
        df, extract_fields_batches, DOC_FIELDS_SCHEMA, salt_buckets,
        num_partitions, drop_acc, generate,
    )
    out.dropped_docs_acc = dropped
    return out


def spans_view(flat: DataFrame) -> DataFrame:
    """Span-sequence view: (doc_id, kind, text, media_ref, order) — the
    fixture-comparable projection (``BASELINE.json:15``)."""
    return flat.select("doc_id", "kind", "text", "media_ref", "order")


def fields_view(flat: DataFrame) -> DataFrame:
    """Doc-level accounting fields with ZERO shuffle: the kernel puts
    each doc's fields on its order==0 span row.  (doc_view's groupBy
    is only needed when the nested spans array itself is wanted.)"""
    return flat.where(F.col("order") == 0).select(
        "doc_id",
        "invoice_id",
        "invoice_date",
        "due_date",
        "currency",
        "total",
        "amounts",
        "account_codes",
    )


def doc_view(flat: DataFrame) -> DataFrame:
    """Re-nest the flat output to one row per doc with the ordered
    spans array + fields struct (X2 collect, SURVEY.md §2.3)."""
    return flat.groupBy("doc_id").agg(
        F.transform(
            F.sort_array(
                F.collect_list(F.struct("order", "kind", "text", "media_ref"))
            ),
            # re-project into the pinned span struct order
            # (kind, text, media_ref, order) — schema.SPAN_OUT_STRUCT
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["order"].alias("order"),
            ),
        ).alias("spans"),
        F.first("invoice_id", ignorenulls=True).alias("invoice_id"),
        F.first("invoice_date", ignorenulls=True).alias("invoice_date"),
        F.first("due_date", ignorenulls=True).alias("due_date"),
        F.first("currency", ignorenulls=True).alias("currency"),
        F.first("total", ignorenulls=True).alias("total"),
        F.first("amounts", ignorenulls=True).alias("amounts"),
        F.first("account_codes", ignorenulls=True).alias("account_codes"),
    )
