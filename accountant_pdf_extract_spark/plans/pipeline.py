"""The extraction plan (SURVEY.md §3): declared with the DataFrame API
so Catalyst owns pushdown/pruning/physical strategy; exactly ONE
shuffle in the whole job — the spec-mandated salted repartition on
``hash(doc_id)`` (``BASELINE.json:6,14``) that defeats giant-PDF skew
by spreading docs uniformly over salt buckets, bucket ``b`` placed on
task ``b mod np`` of one wave (``_effective_partitions``).  Everything
downstream is map-only: the fused Arrow kernel — which for generated
inputs also runs the generator, in the same Python runner — then the
sink.  At 100 TB this shape means: parquet/Iceberg scan with column
pruning → one exchange → embarrassingly parallel extraction.
"""

from __future__ import annotations

import os
import zipimport
from hashlib import blake2b
from typing import NamedTuple

import pyarrow as pa
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from accountant_pdf_extract_spark.operators.kernel import extract_batches
from accountant_pdf_extract_spark.schema import (
    ARROW_INPUT,
    FLAT_FIELDS_SCHEMA,
    assert_input_schema,
)

SALT_COL = "_salt_bucket"


def salt(df: DataFrame, buckets: int) -> DataFrame:
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


class BucketTally(NamedTuple):
    """One salt bucket's commit record, counted by ``extract(keep_salt=
    True)`` over the rows the kernel yielded for the bucket."""

    n_docs: int  # rows with order == 0
    n_spans: int  # rows
    n_fields: int  # rows with a non-null invoice_id
    dropped: int  # docs whose extraction raised (no rows)
    fingerprint: int  # sum of row_print(doc_id, order) mod 2**64


def row_print(doc_id: str, order: int) -> int:
    """One row's share of its bucket's fingerprint: the 8-byte BLAKE2b
    digest of ``doc_id``, a NUL and the decimal ``order``, read
    little-endian.  The fingerprint sums these mod 2**64, so it does
    not depend on the order the rows were written in."""
    digest = blake2b(f"{doc_id}\0{order}".encode(), digest_size=8).digest()
    return int.from_bytes(digest, "little")


def merge_tallies(a: dict, b: dict) -> dict:
    """The tally accumulator's merge, into ``a`` in place: per bucket,
    the union of the tallies reported for it.  A bucket is one task's
    (bucket ``b`` runs on task ``b mod np``) and the kernel is deterministic,
    so a retried or speculative attempt reports the same tally and the
    union absorbs it.  A conflicting one is kept beside it and
    ``bucket_tallies`` raises: this merge runs in the driver's
    accumulator-server thread, where an exception makes Spark log and
    drop the whole update."""
    for bucket, seen in b.items():
        a[bucket] = a.get(bucket, frozenset()) | seen
    return a


def bucket_tallies(value: dict) -> dict[int, BucketTally]:
    """The exact per-bucket tallies of a tally accumulator's value;
    raises on a bucket whose attempts reported different tallies."""
    out = {}
    for bucket, seen in value.items():
        if len(seen) != 1:
            raise RuntimeError(
                f"salt bucket {bucket} was reported with {len(seen)} "
                f"different tallies {sorted(seen)}: the kernel is not "
                "deterministic, or the bucket was split across tasks"
            )
        (out[bucket],) = seen
    return out


class _TallyParam(AccumulatorParam):
    def zero(self, value):
        return {}

    def addInPlace(self, a, b):
        return merge_tallies(a, b)


def _tallied(batches, generate, tally):
    """The kernel over salted batches: appends each output row's bucket
    and, once the last row is out, adds one ``BucketTally`` per bucket
    to ``tally``.  A task that fails adds nothing.

    The kernel yields every row of an input batch before it pulls the
    next one, so ``bucket_of`` (the current batch's doc_id → bucket)
    covers every output row and every drop."""
    bucket_of: dict = {}
    counts: dict = {}  # bucket -> [n_docs, n_spans, n_fields, dropped, fp]

    def unsalted():
        for batch in batches:
            bucket_of.clear()
            bucket_of.update(zip(
                batch.column("doc_id").to_pylist(),
                batch.column(SALT_COL).to_pylist(),
            ))
            yield batch.drop_columns([SALT_COL])

    def note(doc_id, _exc):
        counts.setdefault(bucket_of[doc_id], [0, 0, 0, 0, 0])[3] += 1

    src = unsalted()
    if generate is not None:
        src = _generated(src, generate)
    for out in extract_batches(src, on_drop=note):
        doc_ids = out.column("doc_id").to_pylist()
        buckets = [bucket_of[d] for d in doc_ids]
        for b, d, order, has_id in zip(
            buckets, doc_ids,
            out.column("order").to_pylist(),
            out.column("invoice_id").is_valid().to_pylist(),
        ):
            c = counts.setdefault(b, [0, 0, 0, 0, 0])
            c[0] += order == 0
            c[1] += 1
            c[2] += has_id
            c[4] = (c[4] + row_print(d, order)) & 0xFFFF_FFFF_FFFF_FFFF
        yield out.append_column(SALT_COL, pa.array(buckets, pa.int32()))
    tally.add({b: frozenset([BucketTally(*c)]) for b, c in counts.items()})


def extract(
    df: DataFrame,
    salt_buckets: int | None = None,
    num_partitions: int | None = None,
    keep_salt: bool = False,
    generate=None,
) -> DataFrame:
    """Interleaved input table → flattened output spans + fields:
    assert → salt → repartition → the Arrow kernel.

    One row per output span: (doc_id, kind, text, media_ref, order,
    invoice_id, invoice_date, due_date, currency, total, amounts,
    account_codes).

    With no ``salt_buckets`` the count is ``default_salt_buckets`` of
    the same core budget.  The repartition places bucket ``b`` on task
    ``b mod np`` (``repartitionById``): every bucket belongs to exactly
    one task, and the tasks' bucket counts differ by at most one.

    ``keep_salt`` carries the salt bucket through the kernel onto every
    output row (``SALT_COL``) and counts each bucket's rows in the task
    that yields them: after an action, ``bucket_tallies(
    out.bucket_tally.value)`` is the exact ``BucketTally`` of every
    bucket that yielded a row or dropped a doc.  Only tasks that finish
    add to it, and a retried or speculative duplicate adds the same
    tally, so the count is exact whatever Spark's accumulator rules.
    ``bucket_tally`` is a plain attribute: DERIVED DataFrames do not
    inherit it, so callers that transform the result must keep their
    own reference.

    ``generate`` fuses an input generator into the kernel: ``df`` is
    then the narrow proxy of the documents (its ``doc_id`` is the id
    the generated document carries), and ``generate`` maps one proxy
    Arrow batch to one input-shaped batch (``synth.documents_source``
    returns such a pair).  The proxy is salted and shuffled before any
    payload exists (guide §8: shuffle the lightweight proxy, not the
    heavy bytes), and the ONE ``mapInArrow`` generates and extracts in
    the same Python iterator: the generated payloads never leave the
    worker, and each task pays for one Python runner, not two (see
    ``_effective_partitions`` for what a runner costs).
    """
    if generate is None:
        cols = ["doc_id", "spans"]
        assert_input_schema(df.select(*cols))
    else:
        cols = [c for c in df.columns if c != SALT_COL]
    spark = df.sparkSession
    if salt_buckets is None:
        salt_buckets = default_salt_buckets(spark, num_partitions)
    np = _effective_partitions(spark, num_partitions, salt_buckets)
    salted = salt(df, salt_buckets).repartitionById(np, SALT_COL)
    schema, tally = FLAT_FIELDS_SCHEMA, None
    if keep_salt:
        cols.append(SALT_COL)
        schema = StructType(
            schema.fields + [StructField(SALT_COL, IntegerType())]
        )
        tally = spark.sparkContext.accumulator({}, _TallyParam())

    def run(batches):
        _stat_checked_zip_invalidation()
        if keep_salt:
            yield from _tallied(batches, generate, tally)
            return
        if generate is not None:
            batches = _generated(batches, generate)
        yield from extract_batches(batches)

    out = salted.select(*cols).mapInArrow(run, schema=schema)
    if keep_salt:
        out.bucket_tally = tally
    return out


BUCKETS_PER_TASK = 4


def default_salt_buckets(spark, num_partitions: int | None = None) -> int:
    """The salt-bucket count of a plan that does not pin one:
    ``BUCKETS_PER_TASK`` per task of the core budget (``num_partitions``
    if given, else ``defaultParallelism``).  4 cores give 16 buckets
    and 4 tasks; 8,000 cores give 32,000 buckets and 8,000 tasks.

    The bucket is the commit and resume unit and one output file, and
    each bucket file cost about 5.7 ms written and re-read (``run_job``
    over 200 heavy docs, local[4]), so the count follows the task count.
    A few buckets per task keep the resume unit finer than a task's
    share, and let a resume on up to ``BUCKETS_PER_TASK`` times the
    cores still give every task a bucket."""
    return BUCKETS_PER_TASK * (
        num_partitions or spark.sparkContext.defaultParallelism
    )


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

    With ``salt_buckets`` the repartition places bucket ``b`` on task
    ``b mod np``, so a partition beyond ``salt_buckets`` could only sit
    empty: the default is ``min(defaultParallelism, salt_buckets)``,
    an explicit ``num_partitions`` above ``salt_buckets`` raises, and
    more parallelism comes from more buckets (``default_salt_buckets``
    derives them from the same core budget)."""
    if salt_buckets is None:
        return num_partitions or spark.sparkContext.defaultParallelism
    if num_partitions is None:
        return min(spark.sparkContext.defaultParallelism, salt_buckets)
    if num_partitions > salt_buckets:
        raise ValueError(
            f"num_partitions={num_partitions} exceeds "
            f"salt_buckets={salt_buckets}: bucket b runs on task "
            "b mod num_partitions, so the extra partitions would sit "
            "empty — raise salt_buckets or lower num_partitions"
        )
    return num_partitions


def spans_view(flat: DataFrame) -> DataFrame:
    """Span-sequence view: (doc_id, kind, text, media_ref, order) — the
    fixture-comparable projection (``BASELINE.json:15``)."""
    return flat.select("doc_id", "kind", "text", "media_ref", "order")


def fields_view(flat: DataFrame) -> DataFrame:
    """Doc-level accounting fields with ZERO shuffle: the kernel puts
    each doc's fields on its order==0 span row.  A doc whose spans all
    normalize to nothing (e.g. one whitespace-only text span) has no
    span row, so it has no row here either."""
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

