"""The scaled batch job (SURVEY.md §3.3): spark-submit entry with
exact resume from the commit log.

    spark-submit --py-files dist/accountant_pdf_extract_spark.zip \\
        accountant_pdf_extract_spark/plans/job.py \\
        --input /data/interleaved --output /data/extracted \\
        --commit-log /data/extracted/_commit_log \\
        --num-partitions 8000

With no ``--salt-buckets`` the bucket count is derived from the core
budget, 4 per task (``pipeline.default_salt_buckets``): 32,000 buckets
and 8,000 kernel tasks above.  The first run pins the count in the
commit log and every later run reuses it, so a resume on a resized
cluster keeps its modulus.  Bucket ``b`` runs on kernel task ``b`` mod
the task count, so the kernel runs at most ``--salt-buckets`` tasks: a
``--num-partitions`` above it raises.  The first run also pins its
input's file list, and a resume over another input raises.

``--input`` is a parquet directory, a ``write_bucketed_input`` table,
or a ``DocTable`` (a directory holding ``metadata/``), read at its
current snapshot.

Plan shape (one shuffle): scan → anti-join committed buckets (metadata
only — the committed set is a broadcast list, so resume pruning is a
filter that Iceberg/parquet partition pruning can push to the scan) →
salted repartition on hash(doc_id) → fused Arrow kernel → write
partitioned by bucket (dynamic overwrite = idempotent redo) → commit.
The commit records are the rows that the committed tasks wrote, as the
kernel counted them per bucket while yielding them
(``pipeline.BucketTally``), so the commit starts no Spark job and
never lists or re-reads the output.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from accountant_pdf_extract_spark.plans.pipeline import (
    SALT_COL,
    bucket_tallies,
    default_salt_buckets,
    extract,
    salt,
)
from accountant_pdf_extract_spark.sources.commit_log import (
    CommitLog,
    _write_json_atomic,
)


_SALT_META = "_salt_meta.json"


def write_bucketed_input(
    df: DataFrame, path: str, salt_buckets: int | None = None
) -> None:
    """Persist the interleaved input physically partitioned by the salt
    bucket.  Resume then reads this table and the committed-bucket
    anti-filter becomes a PartitionFilter at the scan (verified by
    ``tests/test_resume.py::test_resume_partition_pruning``) — skipped
    buckets are never read, instead of read-then-dropped.

    A ``_salt_meta.json`` sidecar records the bucket count so
    ``read_bucketed_input`` can refuse a job run with a DIFFERENT
    count — the stored column would prune wholesale buckets that were
    only partially committed under the new modulus (silent data loss).
    With no ``salt_buckets`` the count is ``default_salt_buckets``, as
    in ``run_job``."""
    if salt_buckets is None:
        salt_buckets = default_salt_buckets(df.sparkSession)

    # Never pass through a caller-supplied salt column: a foreign-modulus
    # _salt_bucket would make the sidecar lie about the stored bucket
    # count, and resume pruning would silently skip uncommitted docs.
    if SALT_COL in df.columns:
        df = df.drop(SALT_COL)
    salt(df, salt_buckets).write.mode("overwrite").partitionBy(SALT_COL).parquet(
        path
    )
    _write_json_atomic(path, _SALT_META, {"salt_buckets": int(salt_buckets)})


def bucketed_input_salt_buckets(path: str) -> int:
    """The bucket count a ``write_bucketed_input`` table was written
    with — raises on a missing sidecar (never silently trust a foreign
    bucket column)."""
    meta_path = os.path.join(path, _SALT_META)
    if not os.path.exists(meta_path):
        raise ValueError(
            f"{path} has no {_SALT_META}; only tables written by "
            "write_bucketed_input may be trusted for resume pruning"
        )
    with open(meta_path) as f:
        return int(json.load(f)["salt_buckets"])


def read_bucketed_input(
    spark: SparkSession, path: str, salt_buckets: int | None = None
) -> DataFrame:
    """Read a ``write_bucketed_input`` table, validating that the
    stored bucket count matches the job's — raises on mismatch or a
    missing sidecar.  With no ``salt_buckets`` the stored count is the
    job's (``bucketed_input_salt_buckets``)."""
    stored = bucketed_input_salt_buckets(path)
    if salt_buckets is not None and stored != salt_buckets:
        raise ValueError(
            f"input at {path} was bucketed with salt_buckets={stored}, "
            f"but this job runs with salt_buckets={salt_buckets} — "
            "resume pruning would drop partially-committed documents"
        )
    return spark.read.parquet(path)


def run_job(
    spark: SparkSession,
    input_df: DataFrame,
    output_path: str,
    commit_log_path: str,
    salt_buckets: int | None = None,
    num_partitions: int | None = None,
    job_id: str = "job",
    trust_input_bucketing: bool = False,
) -> dict:
    """Returns {"processed_buckets": [...], "skipped": int, "snapshot_id": ...}.

    ``salt_buckets``: the bucket modulus, pinned in the commit log by
    the log's first run, before anything is written.  None reuses the
    pin, or on a fresh log pins ``default_salt_buckets`` (4 per task
    of the core budget).  An explicit value that differs from the pin
    raises, sealed snapshots or not: under another modulus the resume
    filter would skip uncommitted docs whose new bucket id collides
    with a committed one, and bucket directories a crashed first run
    left behind would stay in the output beside the new modulus's.

    The input is pinned too, beside the modulus: the log's first run
    records a SHA-256 of ``sorted(input_df.inputFiles())``, Spark's own
    file index of the input, so taking it lists nothing and starts no
    Spark job.  Spark names every file it writes uniquely, so an append
    to the input or an overwrite of it changes the list.  A resume whose
    list differs raises before any write: a committed bucket covers only
    the documents it was run over, and the new documents that fall in it
    would be skipped.  A frame with no input files (a generated frame,
    ``--synth-docs``) pins the empty list.

    ``trust_input_bucketing``: only set True for input read via
    ``read_bucketed_input`` under this job's bucket count (which
    validates the stored count).  Otherwise a pre-existing
    ``_salt_bucket`` column is DROPPED and recomputed — a column
    bucketed under a different modulus would make resume pruning
    silently skip partially-committed documents."""
    log = CommitLog(commit_log_path)
    input_sha = hashlib.sha256(
        "\n".join(sorted(input_df.inputFiles())).encode()
    ).hexdigest()
    pin = log.pinned()
    if pin is None:
        if log.snapshots():
            raise ValueError(
                f"commit log at {commit_log_path!r} has sealed snapshots "
                "but no pinned salt_buckets and input — it predates the "
                "pin; use a fresh commit log + output path"
            )
        if salt_buckets is None:
            salt_buckets = default_salt_buckets(spark, num_partitions)
    else:
        pinned_buckets, pinned_sha = pin
        if salt_buckets is None:
            salt_buckets = pinned_buckets
        elif salt_buckets != pinned_buckets:
            raise ValueError(
                f"commit log at {commit_log_path!r} is pinned to "
                f"salt_buckets={pinned_buckets} but this run uses "
                f"{salt_buckets}; resuming across a modulus change would "
                "silently skip documents — use the original value or a "
                "fresh commit log + output path"
            )
        if input_sha != pinned_sha:
            raise ValueError(
                f"commit log at {commit_log_path!r} is pinned to another "
                "input: its file list changed since the log's first run, "
                "and resuming would silently skip the new documents in "
                "committed buckets — read the same input, or start a "
                "fresh commit log + output path"
            )
    done = log.committed_buckets()

    if SALT_COL in input_df.columns and not trust_input_bucketing:
        input_df = input_df.drop(SALT_COL)
    salted_in = salt(input_df, salt_buckets)
    if done:
        # J3 resume: drop already-committed buckets.  The committed set
        # is small metadata → broadcast filter (prunes at the scan when
        # the salt is a partition column of the input table).
        salted_in = salted_in.where(~F.col(SALT_COL).isin(sorted(done)))

    t0 = time.monotonic()
    flat = extract(
        salted_in.select("doc_id", "spans"),
        salt_buckets=salt_buckets,
        num_partitions=num_partitions,
        keep_salt=True,
    )
    if pin is None:
        # after extract() has accepted the plan, before the first write
        log.pin(salt_buckets, input_sha)

    # Idempotent per-bucket overwrite: a redone bucket replaces only
    # its own partition directory.  Writer-scoped option, NOT a
    # session conf — flipping the session default would silently turn
    # every later full overwrite in this session into a partial one.
    (
        flat.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(SALT_COL)
        .parquet(output_path)
    )

    wall_ms = int((time.monotonic() - t0) * 1000)

    # The records are the kernel's own per-bucket tally of the rows its
    # tasks yielded to this write (``pipeline.BucketTally``), so sealing
    # starts no Spark job: nothing lists or re-reads the output.  A
    # bucket that yielded no row is not committed and is redone on resume.
    tallies = bucket_tallies(flat.bucket_tally.value)
    records = [
        {
            "partition_id": b,
            "output_fingerprint": str(t.fingerprint),
            "n_docs": t.n_docs,
            "n_spans": t.n_spans,
            "n_fields": t.n_fields,
            # whole-job wall time, identical across this snapshot's
            # buckets (hence the name — per-bucket skew lives in the
            # Spark task metrics, not here)
            "job_wall_ms": wall_ms,
        }
        for b, t in sorted(tallies.items())
        if t.n_spans
    ]
    lineage = {
        "job_id": job_id,
        "salt_buckets": str(salt_buckets),
        "engine": "accountant_pdf_extract_spark",
        # docs whose extraction raised and yielded no spans, exact
        "dropped_docs": str(sum(t.dropped for t in tallies.values())),
    }
    snapshot_id = log.commit(records, lineage) if records else None
    return {
        "processed_buckets": sorted(r["partition_id"] for r in records),
        "skipped": len(done),
        "snapshot_id": snapshot_id,
        "wall_ms": wall_ms,
    }


def main() -> None:
    from accountant_pdf_extract_spark.session import get_spark
    from accountant_pdf_extract_spark.sources.catalog import DocTable
    from accountant_pdf_extract_spark.sources.synth import synth_interleaved

    p = argparse.ArgumentParser()
    p.add_argument("--input", help="parquet dir or DocTable of the "
                   "interleaved table")
    p.add_argument("--synth-docs", type=int, default=0,
                   help="generate the input instead of reading it")
    p.add_argument("--output", required=True)
    p.add_argument("--commit-log", required=True)
    p.add_argument("--salt-buckets", type=int, default=None,
                   help="default: the commit log's pin, else 4 per task")
    p.add_argument("--num-partitions", type=int, default=None)
    p.add_argument("--job-id", default="job")
    p.add_argument("--master", default=None)
    args = p.parse_args()
    if not args.input and not args.synth_docs:
        p.error("one of --input or --synth-docs is required")

    spark = get_spark(app=f"extract-{args.job_id}", master=args.master)
    trusted = False
    salt_buckets = args.salt_buckets
    if args.synth_docs:
        inp = synth_interleaved(spark, args.synth_docs)
    elif os.path.exists(os.path.join(args.input, _SALT_META)):
        # bucket-partitioned input: run under its stored bucket count
        # (an explicit --salt-buckets that differs raises), and let
        # resume prune at the scan
        if salt_buckets is None:
            salt_buckets = bucketed_input_salt_buckets(args.input)
        inp = read_bucketed_input(spark, args.input, salt_buckets)
        trusted = True
    elif os.path.isdir(os.path.join(args.input, "metadata")):
        inp = DocTable(args.input).read(spark)
    else:
        inp = spark.read.parquet(args.input)
    res = run_job(
        spark,
        inp,
        args.output,
        args.commit_log,
        salt_buckets=salt_buckets,
        num_partitions=args.num_partitions,
        job_id=args.job_id,
        trust_input_bucketing=trusted,
    )
    print(res)
    spark.stop()


if __name__ == "__main__":
    main()
