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
``--num-partitions`` above it raises.

Plan shape (one shuffle): scan → anti-join committed buckets (metadata
only — the committed set is a broadcast list, so resume pruning is a
filter that Iceberg/parquet partition pruning can push to the scan) →
salted repartition on hash(doc_id) → fused Arrow kernel → write
partitioned by bucket (dynamic overwrite = idempotent redo) → commit.
The commit records are the rows that the committed tasks wrote, as the
kernel counted them per bucket while yielding them
(``pipeline.BucketTally``), so the commit starts no Spark job and
never lists or re-reads the output.

``run_incremental_job`` writes its sink partitioned by ``_batch_id``
only: a replayed batch is replaced whole, whatever bucket count it ran
under.
"""

from __future__ import annotations

import argparse
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

    ``trust_input_bucketing``: only set True for input read via
    ``read_bucketed_input`` under this job's bucket count (which
    validates the stored count).  Otherwise a pre-existing
    ``_salt_bucket`` column is DROPPED and recomputed — a column
    bucketed under a different modulus would make resume pruning
    silently skip partially-committed documents."""
    log = CommitLog(commit_log_path)
    pinned = log.pinned_salt_buckets()
    if pinned is None:
        if log.snapshots():
            raise ValueError(
                f"commit log at {commit_log_path!r} has sealed snapshots "
                "but no pinned salt_buckets — it predates the pin; use "
                "a fresh commit log + output path"
            )
        if salt_buckets is None:
            salt_buckets = default_salt_buckets(spark, num_partitions)
    elif salt_buckets is None:
        salt_buckets = pinned
    elif salt_buckets != pinned:
        raise ValueError(
            f"commit log at {commit_log_path!r} is pinned to "
            f"salt_buckets={pinned} but this run uses {salt_buckets}; "
            "resuming across a modulus change would silently skip "
            "documents — use the original value or a fresh commit log "
            "+ output path"
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
    if pinned is None:
        # after extract() has accepted the plan, before the first write
        log.pin_salt_buckets(salt_buckets)

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
            "input_fingerprint": str(t.fingerprint),
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


def run_incremental_job(
    spark: SparkSession,
    table,
    output_path: str,
    cursor_path: str,
    num_partitions: int | None = None,
) -> dict:
    """Snapshot-cursor incremental extraction over a ``DocTable``: the
    steady-state driver for a table that grows by commits — each run
    extracts ONLY the rows added since the stored cursor and lands
    them in the batch-keyed sink, then advances the cursor.

    Mechanics:
    - The window (cursor → current) is split into MAXIMAL append-only
      segments at compaction boundaries (``read_incremental`` refuses
      across a compaction; compaction snapshots add no rows, so they
      are skipped, and rows committed before one are still emitted).
    - Each segment writes via the batch-keyed dynamic-overwrite sink
      (``_batch_keyed_sink``), partitioned by ``_batch_id`` only, with
      batch id = the segment's end sequence: a crashed/re-run segment
      REPLACES its whole ``_batch_id`` partition (idempotent, even
      under another core budget and so another salt-bucket count),
      earlier windows are never touched.
    - The cursor file advances by atomic replace only AFTER all
      segment writes committed — crash anywhere re-runs the same
      window idempotently (exactly-once to the sink), however many
      segments and tombstones it holds.
    - An output holding a ``_batch_id`` beyond the table's current
      sequence was written from another table or history: the run
      refuses before it writes anything.

    Key-version semantics: a key appended in one run and upserted in a
    later one appears once per run, under increasing ``_batch_id`` —
    downstream consumers keep the max ``_batch_id`` row per doc (the
    standard CDC contract; within a single window the newest form
    already wins via the window's delete files).

    Deletions (``delete_where``) are retracted as TOMBSTONES: each
    window ``delete_where`` snapshot's keys land under
    ``<output>/_tombstones`` keyed by its sequence, written BEFORE the
    cursor advances.  The full consumer contract is therefore: live
    rows = max-``_batch_id`` row per doc, minus docs carrying a
    tombstone with ``_batch_id`` >= that row's batch.  (Upsert delete
    files need no tombstone — the replacement rows in the same batch
    win the max-batch race on their own.)"""
    cur = table.current_snapshot()
    if cur is None:
        raise FileNotFoundError("table has no snapshots")
    cursor = None
    if os.path.exists(cursor_path):
        with open(cursor_path) as f:
            cursor = json.load(f)["snapshot_id"]
    if cursor == cur["snapshot_id"]:
        return {"segments": [], "skipped": True,
                "cursor": cur["snapshot_id"]}

    sink = _batch_keyed_sink(output_path, cur["sequence"])
    tomb_sink = _batch_keyed_sink(
        os.path.join(output_path, "_tombstones"), cur["sequence"]
    )

    snaps = sorted(table.snapshots(), key=lambda s: s["sequence"])
    by_id = {s["snapshot_id"]: s for s in snaps}
    if cursor is not None and cursor not in by_id:
        raise FileNotFoundError(
            f"cursor snapshot {cursor!r} is not in the table history "
            "(expired?) — expire_snapshots must keep at least the last "
            "consumed snapshot, or delete the cursor file to force a "
            "full re-extraction"
        )
    from_seq = by_id[cursor]["sequence"] if cursor is not None else 0
    window = [s for s in snaps if from_seq < s["sequence"] <= cur["sequence"]]

    # maximal append-only segments, split at compaction snapshots:
    # a compaction closes the open segment and becomes the next
    # segment's from-anchor (it adds no rows itself, so it is skipped)
    segments: list[list] = []  # [from_id_or_None, to_snap]
    if cursor is None:
        # no cursor = first consumption: ONE full merge-on-read scan
        # of the current snapshot is the correct (and minimal) plan.
        # Walking the window segment-wise here was a silent-data-loss
        # trap: a LEADING compaction (the shape expire+compact leaves)
        # became the from-anchor, so the rewritten pre-compaction rows
        # were never extracted — and a compaction-only window produced
        # zero segments while still advancing the cursor.
        segments = [[None, cur]]
    else:
        seg_from: str | None = cursor
        open_seg: list | None = None
        for s in window:
            if "compaction_of" in s:
                open_seg = None
                seg_from = s["snapshot_id"]
            elif open_seg is None:
                open_seg = [seg_from, s]
                segments.append(open_seg)
            else:
                open_seg[1] = s

    done_segments = []
    for frm, to in segments:
        # metadata-only emptiness check: a segment of delete-only
        # snapshots adds no data files — nothing to extract (its
        # retraction is the tombstone pass below), skip the Spark job
        seg_from_seq = by_id[frm]["sequence"] if frm is not None else 0
        if not table.has_data_after(to, seg_from_seq):
            continue
        delta = (
            table.read_incremental(spark, frm, to["snapshot_id"])
            if frm is not None
            else table.read(spark, snapshot_id=to["snapshot_id"])
        )
        sink(
            extract(delta.select("doc_id", "spans"),
                    num_partitions=num_partitions),
            to["sequence"],
        )
        done_segments.append(
            {"from": frm, "to": to["snapshot_id"], "batch_id": to["sequence"]}
        )

    # retract delete_where keys as tombstones (underscore-prefixed dir:
    # invisible to plain parquet reads of the sink).  Written before
    # the cursor advances, idempotent per snapshot like the segments.
    tombstones = []
    for s in window:
        if "deleted_where" not in s:
            continue
        dels = [
            d for d in s.get("delete_entries", [])
            if d["seq"] == s["sequence"]
        ]
        if not dels:
            continue
        keys = spark.read.parquet(*[d["path"] for d in dels]).distinct()
        tomb_sink(keys, s["sequence"])
        tombstones.append(
            {"snapshot": s["snapshot_id"], "batch_id": s["sequence"]}
        )

    # atomic cursor advance, only after every segment write committed
    _write_json_atomic(
        os.path.dirname(cursor_path) or ".",
        os.path.basename(cursor_path),
        {"snapshot_id": cur["snapshot_id"]},
    )
    return {"segments": done_segments, "tombstones": tombstones,
            "skipped": False, "cursor": cur["snapshot_id"]}


def _batch_keyed_sink(output_dir: str, head_sequence: int):
    """Return ``sink(df, batch_id)`` writing ``df`` to ``output_dir``
    partitioned by ``_batch_id`` with dynamic partition overwrite
    scoped to THIS writer (per-write option, never a session-wide
    conf): a batch re-run after a crash REPLACES its own ``_batch_id``
    partition instead of appending duplicates.

    Batch ids are table sequences, so an output whose newest
    ``_batch_id`` is beyond ``head_sequence`` (the table's current
    sequence) was written from another table or history, and writing
    into it would silently mix the two.  That is refused here, once,
    before anything is written.  A replayed window writes batch ids at
    or below the head in any order, so the check is against the head,
    not against each write's predecessor."""
    existing = _max_batch_id(output_dir)
    if existing is not None and existing > head_sequence:
        raise ValueError(
            f"{output_dir!r} holds _batch_id={existing}, beyond the "
            f"table's current sequence {head_sequence} — it was written "
            "from another table or history; use a new output dir"
        )

    def sink(df, batch_id):
        (
            df.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(output_dir)
        )

    return sink


def _max_batch_id(output_dir: str) -> int | None:
    """Largest existing ``_batch_id=`` partition value, driver-side
    listdir only (no Spark job)."""
    try:
        names = os.listdir(output_dir)
    except FileNotFoundError:
        return None
    ids = []
    for n in names:
        if n.startswith("_batch_id="):
            try:
                ids.append(int(float(n.split("=", 1)[1])))
            except ValueError:
                continue
    return max(ids) if ids else None


def main() -> None:
    from accountant_pdf_extract_spark.session import get_spark
    from accountant_pdf_extract_spark.sources.synth import synth_interleaved

    p = argparse.ArgumentParser()
    p.add_argument("--input", help="parquet dir of the interleaved table")
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
