"""Iceberg-shaped table layer: atomic append, snapshot pinning /
time travel, manifest-based reads (orphan files invisible)."""

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


def test_compact_then_expire(spark, tmp_path: pathlib.Path):
    """Maintenance ops: compaction rewrites the live file set into few
    files under a NEW snapshot (history intact until expiry); expiry
    drops old manifests and deletes data files nothing references,
    while the surviving snapshot keeps reading the same rows."""
    import os

    tbl = DocTable(str(tmp_path / "tbl"))
    s1 = None
    for lo in range(0, 40, 10):  # 4 appends -> many small files
        sid = tbl.append(
            spark.range(lo, lo + 10)
            .repartition(4)
            .selectExpr("cast(id as string) AS doc_id")
        )
        s1 = s1 or sid
    n_files_before = len(tbl.current_snapshot()["files"])
    assert n_files_before >= 16

    sc = tbl.compact(spark, target_files=2)
    assert len(tbl.current_snapshot()["files"]) <= 2
    assert sorted(r["doc_id"] for r in tbl.read(spark).collect()) == sorted(
        str(i) for i in range(40)
    )
    # history intact: pre-compaction snapshot still readable
    assert tbl.read(spark, snapshot_id=s1).count() == 10

    dead = tbl.expire_snapshots(keep_last=1)
    assert len(dead) >= 16  # every pre-compaction file reclaimed
    assert all(not os.path.exists(f) for f in dead)
    # current snapshot unaffected; expired pin now fails loudly
    assert tbl.read(spark).count() == 40
    assert tbl.current_snapshot()["snapshot_id"] == sc
    with pytest.raises(KeyError):
        tbl.read(spark, snapshot_id=s1)


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


def test_orphan_record_files_excluded_from_commit_log(spark, tmp_path: pathlib.Path):
    """A record parquet whose snapshot was never sealed (crash between
    record write and snapshot rename) must not appear in records()."""
    from accountant_pdf_extract_spark.sources.commit_log import CommitLog

    log = CommitLog(str(tmp_path / "clog"))
    log.commit(
        [{"partition_id": 1, "input_fingerprint": "a", "n_docs": 1,
          "n_spans": 2, "n_fields": 0, "job_wall_ms": 1}],
        {"job_id": "ok"},
    )
    # orphan: records parquet exists, snapshot JSON does not
    sealed = log.snapshots()[0]["snapshot_id"]
    orphan_sid = "snap-000000000000-deadbeef"
    from accountant_pdf_extract_spark.schema import COMMIT_LOG_SCHEMA

    spark.createDataFrame(
        [{"partition_id": 9, "input_fingerprint": "x", "n_docs": 9,
          "n_spans": 9, "n_fields": 9, "job_wall_ms": 9,
          "lineage": {}, "snapshot_id": orphan_sid}],
        COMMIT_LOG_SCHEMA,
    ).coalesce(1).write.parquet(f"{log.records_dir}/{orphan_sid}.parquet")

    rows = log.records(spark).collect()
    assert {r["snapshot_id"] for r in rows} == {sealed}
    assert {r["partition_id"] for r in rows} == {1}


def _vals(df):
    return sorted((r["doc_id"], r["v"]) for r in df.collect())


def test_upsert_masks_old_versions_time_travel_intact(spark, tmp_path):
    """Merge-on-read upsert: new rows win at read time without any
    data-file rewrite; pinned older snapshots still see the old rows
    (time travel across upsert AND delete)."""
    tbl = DocTable(str(tmp_path / "tbl"))
    s1 = tbl.append(
        spark.createDataFrame(
            [("a", 1), ("b", 1), ("c", 1)], "doc_id string, v int"
        )
    )
    s2 = tbl.upsert(
        spark.createDataFrame([("b", 2), ("d", 2)], "doc_id string, v int"),
        key_col="doc_id",
    )
    assert _vals(tbl.read(spark)) == [("a", 1), ("b", 2), ("c", 1), ("d", 2)]
    assert _vals(tbl.read(spark, s1)) == [("a", 1), ("b", 1), ("c", 1)]

    s3 = tbl.delete_where(spark, "v = 1", key_col="doc_id")
    assert _vals(tbl.read(spark)) == [("b", 2), ("d", 2)]
    assert _vals(tbl.read(spark, s2)) == [
        ("a", 1), ("b", 2), ("c", 1), ("d", 2)
    ]
    assert _vals(tbl.read(spark, s1)) == [("a", 1), ("b", 1), ("c", 1)]

    # a second upsert of an already-upserted key: newest wins
    tbl.upsert(
        spark.createDataFrame([("b", 3)], "doc_id string, v int"),
        key_col="doc_id",
    )
    assert _vals(tbl.read(spark)) == [("b", 3), ("d", 2)]
    assert _vals(tbl.read(spark, s3)) == [("b", 2), ("d", 2)]


def test_compact_materializes_deletes(spark, tmp_path):
    import os

    tbl = DocTable(str(tmp_path / "tbl"))
    tbl.append(
        spark.createDataFrame([("a", 1), ("b", 1)], "doc_id string, v int")
    )
    tbl.upsert(
        spark.createDataFrame([("a", 2)], "doc_id string, v int"),
        key_col="doc_id",
    )
    assert tbl.current_snapshot()["delete_entries"]
    tbl.compact(spark, target_files=1)
    cur = tbl.current_snapshot()
    assert cur["delete_entries"] == []
    assert _vals(tbl.read(spark)) == [("a", 2), ("b", 1)]

    # expiry GCs the now-dead delete files alongside dead data files
    dead = tbl.expire_snapshots(keep_last=1)
    assert any("/delete-" in p for p in dead)
    for p in dead:
        assert not os.path.exists(p)
    assert _vals(tbl.read(spark)) == [("a", 2), ("b", 1)]


def test_delete_where_refuses_concurrent_advance(spark, tmp_path):
    tbl = DocTable(str(tmp_path / "tbl"))
    tbl.append(
        spark.createDataFrame([("a", 1), ("b", 1)], "doc_id string, v int")
    )
    orig_commit = tbl._commit_snapshot

    def racing_commit(build):
        # someone appends between predicate evaluation and our seal
        DocTable(tbl.root).append(
            spark.createDataFrame([("z", 9)], "doc_id string, v int")
        )
        return orig_commit(build)

    tbl._commit_snapshot = racing_commit
    with pytest.raises(RuntimeError, match="advanced during delete_where"):
        tbl.delete_where(spark, "v = 1", key_col="doc_id")
    tbl._commit_snapshot = orig_commit
    # nothing deleted, the racer's row is intact
    assert ("z", 9) in _vals(tbl.read(spark))


def test_upsert_survives_losing_cas(spark, tmp_path):
    """An upsert that loses the sequence CAS retries against the new
    parent and still lands with correct masking."""
    import json
    import os

    tbl = DocTable(str(tmp_path / "tbl"))
    tbl.append(
        spark.createDataFrame([("a", 1), ("b", 1)], "doc_id string, v int")
    )
    cur = tbl.current_snapshot()
    # foreign winner seals sequence 2 adding nothing
    foreign = {
        "snapshot_id": "snap-foreign", "sequence": 2,
        "parent": cur["snapshot_id"], "files": cur["files"],
        "file_entries": [{"path": p, "seq": 1} for p in cur["files"]],
        "delete_entries": [], "added_files": 0, "ts_ms": 0,
    }
    tmp = os.path.join(tbl.meta_dir, ".f.tmp")
    with open(tmp, "w") as f:
        json.dump(foreign, f)
    os.link(tmp, os.path.join(tbl.meta_dir, f"{2:012d}.claim"))
    os.rename(tmp, os.path.join(tbl.meta_dir, f"{2:012d}-snap-foreign.json"))

    tbl.upsert(
        spark.createDataFrame([("a", 7)], "doc_id string, v int"),
        key_col="doc_id",
    )
    cur = tbl.current_snapshot()
    assert cur["sequence"] == 3 and cur["parent"] == "snap-foreign"
    assert _vals(tbl.read(spark)) == [("a", 7), ("b", 1)]


def test_orphan_claim_rolled_forward_not_lost(spark, tmp_path):
    """A REAL orphan claim (full snapshot JSON hard-linked, writer died
    before publish) must be ROLLED FORWARD — the dead writer's commit
    becomes visible, and the next append builds on top of it.  Safe
    with zero grace: a merely-slow writer republishing later writes
    identical bytes, so no forked history."""
    import json
    import os

    tbl = DocTable(str(tmp_path / "tbl"), claim_grace_s=3600.0)
    tbl.append(spark.createDataFrame([("a", 1)], "doc_id string, v int"))
    cur = tbl.current_snapshot()

    # simulate writer B: data files written, claim linked, death before
    # the final rename
    staged = tbl._write_data_files(
        spark.createDataFrame([("b", 2), ("c", 3)], "doc_id string, v int"),
        "commit",
    )
    orphan = {
        "snapshot_id": "snap-orphan01", "sequence": 2,
        "parent": cur["snapshot_id"],
        "files": cur["files"] + staged,
        "file_entries": [{"path": p, "seq": 1} for p in cur["files"]]
        + [{"path": p, "seq": 2} for p in staged],
        "delete_entries": [], "added_files": len(staged), "ts_ms": 0,
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


def test_refused_delete_where_leaves_no_orphan_files(spark, tmp_path):
    import os

    tbl = DocTable(str(tmp_path / "tbl"))
    tbl.append(spark.createDataFrame([("a", 1)], "doc_id string, v int"))
    orig_commit = tbl._commit_snapshot

    def racing_commit(build):
        DocTable(tbl.root).append(
            spark.createDataFrame([("z", 9)], "doc_id string, v int")
        )
        return orig_commit(build)

    tbl._commit_snapshot = racing_commit
    with pytest.raises(RuntimeError):
        tbl.delete_where(spark, "v = 1", key_col="doc_id")
    tbl._commit_snapshot = orig_commit

    live = {f for s in tbl.snapshots() for f in s["files"]}
    on_disk = set()
    for root, _dirs, files in os.walk(tbl.data_dir):
        on_disk |= {
            os.path.join(root, f) for f in files if f.endswith(".parquet")
        }
    assert on_disk == live  # no delete-file staging dirs left behind


def test_expiry_keeps_claims_and_blocks_stale_sequence_reuse(spark, tmp_path):
    """Claims survive expiry (they are the CAS locks): a slow writer
    that read a pre-expiry parent must still LOSE the CAS at the old
    sequence, and a stale claim behind published history is never
    rolled forward by the reclaimer."""
    import os

    tbl = DocTable(str(tmp_path / "tbl"), claim_grace_s=0.0)
    tbl.append(spark.createDataFrame([("a", 1)], "doc_id string, v int"))
    tbl.append(spark.createDataFrame([("b", 2)], "doc_id string, v int"))
    tbl.append(spark.createDataFrame([("c", 3)], "doc_id string, v int"))
    tbl.expire_snapshots(keep_last=1)

    # claims for expired sequences 1..2 are still on disk
    for seq in (1, 2, 3):
        assert os.path.exists(
            os.path.join(tbl.meta_dir, f"{seq:012d}.claim")
        ), seq

    # a slow writer trying to seal at expired sequence 2 loses the CAS
    # (and the reclaimer must NOT roll that stale claim forward into a
    # resurrected manifest)
    stale = {
        "snapshot_id": "snap-slowpoke", "sequence": 2, "parent": None,
        "files": [], "file_entries": [], "delete_entries": [],
        "added_files": 0, "ts_ms": 0,
    }
    assert tbl._try_seal(stale) is False
    assert not os.path.exists(
        os.path.join(tbl.meta_dir, f"{2:012d}-snap-slowpoke.json")
    )
    assert [s["sequence"] for s in tbl.snapshots()] == [3]

    # normal appends still proceed at the next fresh sequence
    tbl.append(spark.createDataFrame([("d", 4)], "doc_id string, v int"))
    assert tbl.current_snapshot()["sequence"] == 4
    assert tbl.read(spark).count() == 4


def test_schema_evolution_merge_read(spark, tmp_path):
    """Additive schema evolution: files appended with a new column
    union with older files (read as null) under merge_schema=True,
    incl. across the merge-on-read upsert path."""
    tbl = DocTable(str(tmp_path / "tbl"))
    tbl.append(spark.createDataFrame([("a", 1)], "doc_id string, v int"))
    tbl.append(
        spark.createDataFrame(
            [("b", 2, "en")], "doc_id string, v int, lang string"
        )
    )
    got = {
        r["doc_id"]: (r["v"], r["lang"])
        for r in tbl.read(spark, merge_schema=True).collect()
    }
    assert got == {"a": (1, None), "b": (2, "en")}

    tbl.upsert(
        spark.createDataFrame(
            [("a", 9, "de")], "doc_id string, v int, lang string"
        ),
        key_col="doc_id",
    )
    got = {
        r["doc_id"]: (r["v"], r["lang"])
        for r in tbl.read(spark, merge_schema=True).collect()
    }
    assert got == {"a": (9, "de"), "b": (2, "en")}


def test_sort_clustered_compaction_skips_files(spark, tmp_path):
    """cluster_by compaction gives each output file a DISJOINT key
    range (verified from the parquet footers), so min/max statistics
    can prune whole files for selective key predicates."""
    import pyarrow.parquet as pq

    tbl = DocTable(str(tmp_path / "tbl"))
    # appends interleave ids so pre-compaction files all span the
    # whole key range (no skipping possible)
    for off in range(4):
        tbl.append(
            spark.range(off, 4000, 4).selectExpr(
                "id AS k", "cast(id as string) AS doc_id"
            )
        )
    tbl.compact(spark, target_files=4, cluster_by=["k"])

    ranges = []
    for f in tbl.current_snapshot()["files"]:
        md = pq.read_metadata(f)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(0)
            assert col.path_in_schema == "k"
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    # disjoint: every file's max < next file's min
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        assert hi1 < lo2, ranges
    # rows intact and a selective filter still answers correctly
    assert tbl.read(spark).count() == 4000
    assert tbl.read(spark).where("k = 1234").count() == 1


def test_incremental_read_appends_and_upserts(spark, tmp_path):
    """read_incremental(from, to) returns rows ADDED in the window —
    appends plus upsert rows, with window deletes masking a key that
    was appended then upserted inside the same window (it reads once,
    in its final form)."""
    tbl = DocTable(str(tmp_path / "tbl"))
    s1 = tbl.append(
        spark.createDataFrame([("a", 1), ("b", 1)], "doc_id string, v int")
    )
    s2 = tbl.append(
        spark.createDataFrame([("c", 1), ("d", 1)], "doc_id string, v int")
    )
    s3 = tbl.upsert(
        spark.createDataFrame([("c", 2), ("e", 1)], "doc_id string, v int"),
        "doc_id",
    )

    def rows(df):
        return sorted((r["doc_id"], r["v"]) for r in df.collect())

    # window s1 -> s3: c appended at s2 then upserted at s3 — final form only
    assert rows(tbl.read_incremental(spark, s1)) == [
        ("c", 2), ("d", 1), ("e", 1)]
    # window s2 -> s3: just the upsert's rows
    assert rows(tbl.read_incremental(spark, s2, s3)) == [("c", 2), ("e", 1)]
    # empty window: same schema, zero rows
    inc = tbl.read_incremental(spark, s3, s3)
    assert inc.count() == 0 and inc.columns == ["doc_id", "v"]
    # full read unchanged by any of this
    assert rows(tbl.read(spark)) == [
        ("a", 1), ("b", 1), ("c", 2), ("d", 1), ("e", 1)]


def test_incremental_read_refuses_compaction_window(spark, tmp_path):
    """A window crossing a compaction must refuse (its files rewrite
    OLD rows — emitting them would replay the table as 'new'), and
    restarting the cursor after the compaction works."""
    tbl = DocTable(str(tmp_path / "tbl"))
    s1 = tbl.append(
        spark.createDataFrame([("a", 1)], "doc_id string, v int"))
    tbl.append(spark.createDataFrame([("b", 1)], "doc_id string, v int"))
    s3 = tbl.compact(spark, target_files=1)
    with pytest.raises(ValueError, match="compaction"):
        tbl.read_incremental(spark, s1)
    s4 = tbl.append(
        spark.createDataFrame([("c", 1)], "doc_id string, v int"))
    got = sorted(
        r["doc_id"] for r in tbl.read_incremental(spark, s3, s4).collect())
    assert got == ["c"]
    with pytest.raises(FileNotFoundError, match="unknown from_snapshot"):
        tbl.read_incremental(spark, "snap-nonexistent")
    with pytest.raises(ValueError, match="predates"):
        tbl.read_incremental(spark, s4, s1)
