"""Iceberg-shaped table layer: atomic append, snapshot pinning /
time travel, manifest-based reads (orphan files invisible), and the
CAS seal with its orphan-claim recovery."""

from __future__ import annotations

import pathlib

import pytest

from accountant_pdf_extract_spark.sources.catalog import DocTable


def test_append_and_time_travel(spark, tmp_path: pathlib.Path):
    tbl = DocTable(str(tmp_path / "tbl"))
    df1 = spark.range(0, 10).selectExpr("cast(id as string) AS doc_id")
    s1 = tbl.append(df1)
    df2 = spark.range(10, 25).selectExpr("cast(id as string) AS doc_id")
    s2 = tbl.append(df2)

    assert tbl.read(spark).count() == 25                     # current
    assert tbl.read(spark, snapshot_id=s1).count() == 10     # pinned
    assert tbl.read(spark, snapshot_id=s2).count() == 25
    snaps = tbl.snapshots()
    assert [s["sequence"] for s in snaps] == [1, 2]
    assert snaps[1]["parent"] == s1


def test_orphan_files_invisible(spark, tmp_path: pathlib.Path):
    tbl = DocTable(str(tmp_path / "tbl"))
    tbl.append(spark.range(5).selectExpr("cast(id as string) AS doc_id"))
    # a crashed writer leaves data files with no snapshot -> readers
    # must not see them
    orphan_dir = pathlib.Path(tbl.data_dir) / "commit-deadbeef"
    spark.range(100).selectExpr("cast(id as string) AS doc_id").write.parquet(
        str(orphan_dir)
    )
    assert tbl.read(spark).count() == 5


def test_unknown_snapshot_raises(spark, tmp_path: pathlib.Path):
    tbl = DocTable(str(tmp_path / "tbl"))
    tbl.append(spark.range(3).selectExpr("cast(id as string) AS doc_id"))
    with pytest.raises(KeyError):
        tbl.read(spark, snapshot_id="snap-nope")


def test_empty_table_raises(spark, tmp_path: pathlib.Path):
    tbl = DocTable(str(tmp_path / "empty"))
    with pytest.raises(FileNotFoundError):
        tbl.read(spark)


def test_concurrent_append_cas_loses_nothing(spark, tmp_path: pathlib.Path):
    """Two appends racing from the same parent must BOTH land (the
    loser re-reads and retries) — simulated by pre-claiming the next
    sequence the way a concurrent winner would."""
    import json
    import os

    tbl = DocTable(str(tmp_path / "tbl"))
    tbl.append(spark.range(0, 5).selectExpr("cast(id as string) AS doc_id"))

    # simulate a concurrent winner sealing sequence 2 between our
    # parent read and our seal: pre-claim it with a foreign snapshot
    foreign_files = []
    foreign = {
        "snapshot_id": "snap-foreign", "sequence": 2,
        "parent": tbl.current_snapshot()["snapshot_id"],
        "files": tbl.current_snapshot()["files"] + foreign_files,
        "added_files": 0, "ts_ms": 0,
    }
    tmp = os.path.join(tbl.meta_dir, ".foreign.tmp")
    with open(tmp, "w") as f:
        json.dump(foreign, f)
    os.link(tmp, os.path.join(tbl.meta_dir, f"{2:012d}.claim"))
    os.rename(tmp, os.path.join(tbl.meta_dir, f"{2:012d}-snap-foreign.json"))

    # our append loses the CAS at sequence 2, retries at 3, and its
    # manifest includes the foreign snapshot's files (none new here)
    sid = tbl.append(spark.range(5, 8).selectExpr("cast(id as string) AS doc_id"))
    cur = tbl.current_snapshot()
    assert cur["snapshot_id"] == sid and cur["sequence"] == 3
    assert cur["parent"] == "snap-foreign"
    assert tbl.read(spark).count() == 8


def test_orphan_claim_reclaimed_not_wedged(spark, tmp_path: pathlib.Path):
    """A writer that crashes between os.link(tmp, claim) and
    os.rename(tmp, final) leaves a claim with NO published snapshot at
    that sequence.  Later appends must reclaim it (after the grace
    lease) instead of losing the CAS 20 times and wedging the table."""
    import os

    tbl = DocTable(str(tmp_path / "tbl"), claim_grace_s=0.0)
    tbl.append(spark.range(0, 5).selectExpr("cast(id as string) AS doc_id"))

    # simulate the crash: claim for sequence 2 exists, nothing published
    claim = os.path.join(tbl.meta_dir, f"{2:012d}.claim")
    with open(claim, "w") as f:
        f.write("{}")

    sid = tbl.append(spark.range(5, 9).selectExpr("cast(id as string) AS doc_id"))
    cur = tbl.current_snapshot()
    assert cur["snapshot_id"] == sid and cur["sequence"] == 2
    assert tbl.read(spark).count() == 9


def test_fresh_claim_not_stolen_from_live_writer(spark, tmp_path: pathlib.Path):
    """Within the grace lease an unpublished claim may belong to a LIVE
    writer mid-publish — it must NOT be stolen (stealing would allow
    two published snapshots at one sequence = lost files)."""
    import os

    tbl = DocTable(str(tmp_path / "tbl"), claim_grace_s=3600.0)
    tbl.append(spark.range(0, 5).selectExpr("cast(id as string) AS doc_id"))
    claim = os.path.join(tbl.meta_dir, f"{2:012d}.claim")
    with open(claim, "w") as f:
        f.write("{}")

    with pytest.raises(RuntimeError, match="commit contention"):
        tbl.append(spark.range(5, 9).selectExpr("cast(id as string) AS doc_id"))
    assert os.path.exists(claim)  # untouched — the owner may yet publish

    # the refused append's staged files are removed: only the files a
    # snapshot names stay on disk
    live = {f for s in tbl.snapshots() for f in s["files"]}
    on_disk = set()
    for root, _dirs, files in os.walk(tbl.data_dir):
        on_disk |= {
            os.path.join(root, f) for f in files if f.endswith(".parquet")
        }
    assert on_disk == live


def _vals(df):
    return sorted((r["doc_id"], r["v"]) for r in df.collect())


def test_orphan_claim_rolled_forward_not_lost(spark, tmp_path):
    """A REAL orphan claim (full snapshot JSON hard-linked, writer died
    before publish) must be ROLLED FORWARD — the dead writer's commit
    becomes visible, and the next append builds on top of it.  Safe
    with zero grace: a merely-slow writer republishing later writes
    identical bytes, so no forked history."""
    import glob
    import json
    import os

    tbl = DocTable(str(tmp_path / "tbl"), claim_grace_s=3600.0)
    tbl.append(spark.createDataFrame([("a", 1)], "doc_id string, v int"))
    cur = tbl.current_snapshot()

    # simulate writer B: data files written, claim linked, death before
    # the final rename
    staging = os.path.join(tbl.data_dir, "commit-orphan01")
    spark.createDataFrame(
        [("b", 2), ("c", 3)], "doc_id string, v int"
    ).write.parquet(staging)
    staged = sorted(glob.glob(os.path.join(staging, "*.parquet")))
    orphan = {
        "snapshot_id": "snap-orphan01", "sequence": 2,
        "parent": cur["snapshot_id"],
        "files": cur["files"] + staged,
        "added_files": len(staged), "ts_ms": 0,
    }
    tmp = os.path.join(tbl.meta_dir, ".orphan.tmp")
    with open(tmp, "w") as f:
        json.dump(orphan, f)
    os.link(tmp, os.path.join(tbl.meta_dir, f"{2:012d}.claim"))
    os.remove(tmp)  # writer dies: claim exists, nothing published

    sid = tbl.append(spark.createDataFrame([("d", 4)], "doc_id string, v int"))
    cur = tbl.current_snapshot()
    # orphan recovered at seq 2, our append landed at seq 3 on top
    assert cur["snapshot_id"] == sid and cur["sequence"] == 3
    assert cur["parent"] == "snap-orphan01"
    assert _vals(tbl.read(spark)) == [("a", 1), ("b", 2), ("c", 3), ("d", 4)]


