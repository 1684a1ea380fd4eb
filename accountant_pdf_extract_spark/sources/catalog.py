"""Iceberg-shaped document-table layer (S2, SURVEY.md §2.1): an
append-only parquet table whose reads go through snapshot manifests —
the same semantics (atomic append, snapshot pinning / time travel,
file-list pruning) the Iceberg Spark catalog serves.

Why hand-rolled: this sandbox has no network and no
``iceberg-spark-runtime`` jar (SURVEY.md §0.2).  On a real cluster the
swap is one line per call site:

    DocTable(root).read(spark)              →  spark.read.format("iceberg").load(tbl)
    DocTable(root).append(df)               →  df.writeTo(tbl).append()
    DocTable(root).read(spark, snapshot_id) →  spark.read.option("snapshot-id", id)...

Protocol: data files land under ``data/`` with unique names; a
snapshot JSON (atomic rename) lists the complete file set visible at
that snapshot plus the parent pointer.  Readers list files from the
manifest — never from the directory — so a crashed writer can leave
orphan files without corrupting any reader.  ``plans/job.py`` reads an
``--input`` that holds a ``metadata/`` directory through ``read``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
import uuid

from pyspark.sql import DataFrame, SparkSession


class DocTable:
    def __init__(self, root: str, claim_grace_s: float = 60.0) -> None:
        self.root = root
        self.data_dir = os.path.join(root, "data")
        self.meta_dir = os.path.join(root, "metadata")
        # Lease for orphan-claim reclaim: a .claim with no published
        # snapshot at its sequence AND older than this is presumed to
        # belong to a writer that died between claim and publish (that
        # window is microseconds), and may be garbage-collected.
        self.claim_grace_s = claim_grace_s
        os.makedirs(self.data_dir, exist_ok=True)
        os.makedirs(self.meta_dir, exist_ok=True)

    # -- metadata ------------------------------------------------------------

    def snapshots(self) -> list[dict]:
        snaps = []
        for name in os.listdir(self.meta_dir):
            if name.endswith(".json"):
                with open(os.path.join(self.meta_dir, name)) as f:
                    snaps.append(json.load(f))
        # snapshot_id tiebreak keeps ordering deterministic even if a
        # legacy table holds duplicate sequences
        return sorted(snaps, key=lambda s: (s["sequence"], s["snapshot_id"]))

    def current_snapshot(self) -> dict | None:
        snaps = self.snapshots()
        return snaps[-1] if snaps else None

    # -- write ---------------------------------------------------------------

    def _try_seal(self, snap: dict) -> bool:
        """Compare-and-swap seal: the snapshot's SEQUENCE claims a
        unique metadata filename via ``os.link`` (fails with
        FileExistsError if another writer sealed that sequence first)
        — the same lost-update protection Iceberg gets from its CAS on
        the metadata pointer.  Returns False when beaten."""
        tmp = os.path.join(self.meta_dir, f".{snap['snapshot_id']}.tmp")
        final = os.path.join(
            self.meta_dir, f"{snap['sequence']:012d}-{snap['snapshot_id']}.json"
        )
        with open(tmp, "w") as f:
            json.dump(snap, f)
            f.flush()
            os.fsync(f.fileno())
        claim = os.path.join(self.meta_dir, f"{snap['sequence']:012d}.claim")
        try:
            os.link(tmp, claim)  # atomic uniqueness per sequence
        except FileExistsError:
            self._reclaim_orphan_claim(snap["sequence"], claim)
            os.remove(tmp)
            return False
        os.rename(tmp, final)  # atomic publish
        # same-inode corner: if a contender already rolled this claim
        # forward (os.link(claim, final)), rename() over two hard
        # links to ONE inode is a successful no-op and tmp survives —
        # drop the stale directory entry so metadata/ stays clean
        if os.path.exists(tmp):
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass
        return True

    def _reclaim_orphan_claim(self, sequence: int, claim: str) -> None:
        """A writer that crashes between ``os.link(tmp, claim)`` and
        ``os.rename(tmp, final)`` leaves a claim with NO published
        snapshot at that sequence; without this, every later commit
        rebuilds the same sequence, loses the CAS to the dead claim 20
        times, and wedges the table permanently.

        Recovery is ROLL-FORWARD, not steal: the claim is a hard link
        of the dead writer's complete, fsynced snapshot JSON (its data
        files were fully written before sealing), so we publish THAT
        snapshot via ``os.link(claim, final)`` — the claim stays in
        place as the sequence lock.  This is safe without any liveness
        assumption: if the \"dead\" writer was merely paused and later
        runs its own ``os.rename(tmp, final)``, it republishes the
        IDENTICAL content (tmp and claim are links to one inode), so
        there is no forked history — unlike a steal, where a slow
        writer waking after the lease could publish a second,
        different snapshot at the same sequence.  Only a claim with
        unreadable/incomplete JSON (impossible via this writer
        protocol) falls back to a grace-leased steal."""
        published = glob.glob(
            os.path.join(self.meta_dir, f"{sequence:012d}-*.json")
        )
        if published:
            return  # normal lost-CAS: the claim backs a real snapshot
        try:
            with open(claim) as f:
                snap = json.load(f)
            sid = snap["snapshot_id"]
        except (FileNotFoundError, ValueError, KeyError):
            self._steal_corrupt_claim(claim)
            return
        final = os.path.join(self.meta_dir, f"{sequence:012d}-{sid}.json")
        try:
            os.link(claim, final)  # atomic publish of the orphan commit
        except FileExistsError:
            pass  # another reclaimer (or the owner) just published it

    def _steal_corrupt_claim(self, claim: str) -> None:
        """Last-resort path for a claim whose JSON is unreadable — no
        valid snapshot can be rolled forward, so after the grace lease
        the claim is removed via an atomic rename (single winner)."""
        try:
            age = time.time() - os.stat(claim).st_mtime
        except FileNotFoundError:
            return
        if age <= self.claim_grace_s:
            return
        stale = f"{claim}.stale-{uuid.uuid4().hex[:8]}"
        try:
            os.rename(claim, stale)
        except FileNotFoundError:
            return
        os.remove(stale)

    def append(self, df: DataFrame) -> str:
        """Atomic append: write new data files, then seal a snapshot
        whose manifest = parent files + new files.  Concurrent appends
        are linearized by the sequence CAS — the loser re-reads the
        winner's manifest and retries, so no commit's files are lost.
        A commit that loses the CAS 20 times raises and removes its
        staged files: no snapshot references them."""
        staging = os.path.join(
            self.data_dir, f"commit-{uuid.uuid4().hex[:12]}"
        )
        df.write.mode("error").parquet(staging)
        new_files = sorted(glob.glob(os.path.join(staging, "*.parquet")))
        for _ in range(20):
            parent = self.current_snapshot()
            snap = {
                "snapshot_id": f"snap-{uuid.uuid4().hex[:12]}",
                "sequence": (parent["sequence"] + 1) if parent else 1,
                "parent": parent["snapshot_id"] if parent else None,
                "files": (parent["files"] if parent else []) + new_files,
                "added_files": len(new_files),
                "ts_ms": int(time.time() * 1000),
            }
            if self._try_seal(snap):
                return snap["snapshot_id"]
        shutil.rmtree(staging, ignore_errors=True)
        raise RuntimeError("commit contention: lost the CAS 20 times")

    # -- read ----------------------------------------------------------------

    def read(
        self, spark: SparkSession, snapshot_id: str | None = None
    ) -> DataFrame:
        """Manifest-based scan of the current snapshot, or of
        ``snapshot_id`` (snapshot pinning = time travel).  An unknown
        snapshot raises KeyError; an empty table raises — callers
        should create before reading."""
        snaps = self.snapshots()
        if not snaps:
            raise FileNotFoundError(f"table {self.root} has no snapshots")
        if snapshot_id is None:
            snap = snaps[-1]
        else:
            snap = next(
                (s for s in snaps if s["snapshot_id"] == snapshot_id), None
            )
            if snap is None:
                raise KeyError(f"unknown snapshot {snapshot_id!r}")
        return spark.read.parquet(*snap["files"])
