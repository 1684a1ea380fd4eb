"""Iceberg-shaped commit log (S5, SURVEY.md §2.1): per-partition
lineage + metrics records with atomic JSON snapshots for exact resume
(``BASELINE.json:6,14``).

Locally this is one driver-written parquet file of per-bucket records
per snapshot plus an atomic-rename JSON seal — the same protocol
surface an Iceberg commit would serve (append-only metadata, snapshot
pinning, committed-partition listing).  The records are a few hundred
small rows, so they are written with pyarrow on the driver: a Spark
write would schedule a job and a task for them, which cost more than
the rest of the seal.  On a real cluster the sink swaps to
``df.writeTo("catalog.db.log").append()`` with
``iceberg-spark-runtime`` on the classpath (documented swap,
SURVEY.md §0.2: no Iceberg jar + no network in this sandbox).

Protocol (two-level commit):
1. task output for bucket B lands under ``output/bucket=B/`` (dynamic
   partition overwrite → idempotent redo);
2. only after the write action succeeds is a record file for B's
   snapshot written here (to a dot-prefixed temp name, then renamed to
   ``records/<snapshot_id>.parquet``), then a snapshot JSON is
   atomically renamed into place.  A killed job therefore resumes
   exactly: committed buckets are skipped via anti-join, uncommitted
   buckets are redone idempotently (deterministic kernels, seeded
   synth).

A bucket id means something only under one modulus, and a committed
bucket covers only the documents of the input it was run over.  So
the log's first run pins both, its salt-bucket count and a SHA-256 of
its input's file list (``pin.json``, written like a seal), before that
run writes output, and every later run reuses or refuses them.

Durability scope, stated honestly: the exact-resume guarantee covers
PROCESS failure (kill/crash of the job), the case the protocol is
exercised against.  The log's own files are durable in order: the
records file is fsynced, renamed and ``records/`` fsynced before the
snapshot JSON is written; the JSON is fsynced before its rename, and
``snapshots/`` is fsynced after it, so a seal that survives an OS
crash always has its records.  Across an OS crash or power loss the
guarantee is still weaker than a real table format: the
bucket parquet the seal certifies is written by Spark WITHOUT fsync,
so the journal could persist a seal whose data pages were still
dirty.  Production table formats inherit close-durability from
HDFS/S3; on local disk, a power-loss-safe variant would need to fsync
the bucket files (and directories) before sealing.
"""

from __future__ import annotations

import json
import os
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from accountant_pdf_extract_spark.schema import COMMIT_LOG_SCHEMA

_ARROW_SCHEMA = to_arrow_schema(COMMIT_LOG_SCHEMA)
_PIN = "pin.json"


def _fsync_dir(path: str) -> None:
    """Make the renames into ``path`` durable."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)


def _write_json_atomic(dir_path: str, name: str, obj) -> None:
    """Write ``obj`` to ``dir_path/name``: fsynced under a dot-prefixed
    temp name, atomically renamed, then ``dir_path`` fsynced."""
    tmp = os.path.join(dir_path, f".{name}.tmp")
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, os.path.join(dir_path, name))
    _fsync_dir(dir_path)


class CommitLog:
    def __init__(self, path: str) -> None:
        self.path = path
        self.records_dir = os.path.join(path, "records")
        self.snapshot_dir = os.path.join(path, "snapshots")
        os.makedirs(self.records_dir, exist_ok=True)
        os.makedirs(self.snapshot_dir, exist_ok=True)

    # -- read side ---------------------------------------------------------

    def snapshots(self) -> list[dict]:
        out = []
        for name in sorted(os.listdir(self.snapshot_dir)):
            if name.endswith(".json"):
                with open(os.path.join(self.snapshot_dir, name)) as f:
                    out.append(json.load(f))
        return out

    def pinned(self) -> tuple[int, str] | None:
        """``(salt_buckets, input_files_sha256)`` as ``pin`` recorded
        them, or None when the log has no pin."""
        try:
            with open(os.path.join(self.path, _PIN)) as f:
                pin = json.load(f)
        except FileNotFoundError:
            return None
        return int(pin["salt_buckets"]), pin["input_files_sha256"]

    def committed_buckets(self) -> set[int]:
        done: set[int] = set()
        for snap in self.snapshots():
            done.update(snap["buckets"])
        return done

    def records(self, spark: SparkSession) -> DataFrame:
        """Per-bucket records of SEALED snapshots only: a commit that
        crashed after writing its record parquet but before the atomic
        snapshot rename leaves an orphan record file — including it
        would double-count the bucket once it is redone."""
        sealed = {s["snapshot_id"] for s in self.snapshots()}
        files = [
            os.path.join(self.records_dir, f)
            for f in os.listdir(self.records_dir)
            if f.endswith(".parquet")
            and f[: -len(".parquet")] in sealed
        ]
        if not files:
            return spark.createDataFrame([], COMMIT_LOG_SCHEMA)
        return spark.read.schema(COMMIT_LOG_SCHEMA).parquet(*files)

    # -- write side --------------------------------------------------------

    def commit(self, records: list[dict], lineage: dict[str, str]) -> str:
        """Append per-bucket records + seal with an atomic snapshot.
        Returns the snapshot id.

        Runs no Spark job: the records go to one parquet file written
        by pyarrow on the driver (fsynced, then renamed from a
        dot-prefixed temp name that ``records()`` never lists), and
        the snapshot JSON seals them (fsynced, renamed, then
        ``snapshots/`` fsynced)."""
        snapshot_id = f"snap-{int(time.time() * 1000)}-{uuid.uuid4().hex[:8]}"
        table = pa.Table.from_pylist(
            [
                {
                    "partition_id": int(r["partition_id"]),
                    "output_fingerprint": str(r["output_fingerprint"]),
                    "n_docs": int(r["n_docs"]),
                    "n_spans": int(r["n_spans"]),
                    "n_fields": int(r["n_fields"]),
                    "job_wall_ms": int(r["job_wall_ms"]),
                    "lineage": dict(lineage),
                    "snapshot_id": snapshot_id,
                }
                for r in records
            ],
            schema=_ARROW_SCHEMA,
        )
        tmp = os.path.join(self.records_dir, f".{snapshot_id}.parquet.tmp")
        with open(tmp, "wb") as f:
            pq.write_table(table, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self.records_dir, f"{snapshot_id}.parquet"))
        _fsync_dir(self.records_dir)
        snap = {
            "snapshot_id": snapshot_id,
            "buckets": sorted(int(r["partition_id"]) for r in records),
            "lineage": lineage,
            "ts_ms": int(time.time() * 1000),
        }
        _write_json_atomic(self.snapshot_dir, f"{snapshot_id}.json", snap)
        return snapshot_id

    def pin(self, salt_buckets: int, input_files_sha256: str) -> None:
        """Pin the salt-bucket modulus and the input of this log, before
        the job's first write.  Every bucket id the log certifies is
        ``pmod(xxhash64(doc_id), salt_buckets)``, so a run under another
        modulus would skip documents whose new bucket id collides with
        a committed one.  A run over another input would skip the new
        documents that fall in committed buckets.  Written like the
        snapshot seal."""
        _write_json_atomic(
            self.path,
            _PIN,
            {
                "salt_buckets": int(salt_buckets),
                "input_files_sha256": input_files_sha256,
            },
        )

    def drop_snapshots(self, snapshot_ids: set[str]) -> None:
        """Test hook: simulate a crash that lost some commits."""
        for sid in snapshot_ids:
            p = os.path.join(self.snapshot_dir, f"{sid}.json")
            if os.path.exists(p):
                os.remove(p)
