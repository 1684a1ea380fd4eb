"""Kill/resume test (SURVEY.md §5.5, FIXTURES.md §3): drop half the
commit snapshots after a full run, re-run, and assert (a) the final
output is identical to an uninterrupted run and (b) only the missing
buckets were recomputed."""

from __future__ import annotations

import pathlib
import shutil
import time
import uuid

import pytest
from pyspark.sql import functions as F

from accountant_pdf_extract_spark.plans.job import run_job
from accountant_pdf_extract_spark.sources.commit_log import CommitLog
from accountant_pdf_extract_spark.sources.synth import synth_interleaved

N_DOCS = 120
BUCKETS = 8


def _ledger_docs(spark, *ids):
    from accountant_pdf_extract_spark.schema import INPUT_SCHEMA

    return spark.createDataFrame(
        [(d, [{"kind": "text", "text": f"ledger {d}", "media_ref": "",
               "offset": 0}]) for d in ids],
        INPUT_SCHEMA,
    )


def _collect(spark, path):
    df = spark.read.parquet(path)
    return sorted(
        tuple(r)
        for r in df.select(
            "doc_id", "kind", "text", "media_ref", "order"
        ).collect()
    )


def _reread_tallies(spark, path, buckets=None):
    """Bucket → (n_docs, n_spans, n_fields, fingerprint) aggregated
    from a re-read of the written output (the test oracle for the
    records the kernel counts while it writes)."""
    from accountant_pdf_extract_spark.plans.pipeline import SALT_COL, row_print

    got = {}
    for r in spark.read.parquet(path).collect():
        if buckets is not None and r[SALT_COL] not in buckets:
            continue
        t = got.setdefault(r[SALT_COL], [0, 0, 0, 0])
        t[0] += r["order"] == 0
        t[1] += 1
        t[2] += r["invoice_id"] is not None
        t[3] = (t[3] + row_print(r["doc_id"], r["order"])) % 2**64
    return {b: tuple(t) for b, t in got.items()}


def _assert_records_match_output(spark, log_path, snapshot_id, out):
    import pyarrow.parquet as pq

    recs = pq.read_table(
        f"{CommitLog(log_path).records_dir}/{snapshot_id}.parquet"
    ).to_pylist()
    got = {
        r["partition_id"]: (r["n_docs"], r["n_spans"], r["n_fields"],
                            int(r["output_fingerprint"]))
        for r in recs
    }
    assert got and got == _reread_tallies(spark, out, set(got))


def test_exact_resume(spark, tmp_path: pathlib.Path):
    inp = synth_interleaved(spark, N_DOCS, seed=11, partitions=8)

    # uninterrupted reference run
    ref_out = str(tmp_path / "ref_out")
    res_ref = run_job(
        spark, inp, ref_out, str(tmp_path / "ref_log"),
        salt_buckets=BUCKETS, num_partitions=8, job_id="ref",
    )
    assert res_ref["skipped"] == 0
    reference = _collect(spark, ref_out)
    assert reference

    # interrupted run: full run, then lose half the committed buckets
    out = str(tmp_path / "out")
    log_path = str(tmp_path / "log")
    res1 = run_job(
        spark, inp, out, log_path,
        salt_buckets=BUCKETS, num_partitions=8, job_id="run1",
    )
    log = CommitLog(log_path)
    all_buckets = set(res1["processed_buckets"])
    lost = sorted(all_buckets)[: len(all_buckets) // 2]

    # simulate the crash: wipe the snapshot AND re-commit only the kept
    # buckets (i.e. the crash happened before the snapshot sealed)
    snaps = log.snapshots()
    assert len(snaps) == 1
    kept_records = [
        {
            "partition_id": b, "output_fingerprint": "x", "n_docs": 0,
            "n_spans": 0, "n_fields": 0, "job_wall_ms": 0,
        }
        for b in sorted(all_buckets - set(lost))
    ]
    log.drop_snapshots({snaps[0]["snapshot_id"]})
    log.commit(kept_records, {"job_id": "run1-partial"})
    assert log.committed_buckets() == all_buckets - set(lost)

    # resume: only the lost buckets may be recomputed
    res2 = run_job(
        spark, inp, out, log_path,
        salt_buckets=BUCKETS, num_partitions=8, job_id="run2",
    )
    assert res2["processed_buckets"] == sorted(lost)
    assert res2["skipped"] == len(all_buckets) - len(lost)

    # byte-identical final result
    assert _collect(spark, out) == reference

    # the records the kernel counted certify the bytes on disk
    _assert_records_match_output(spark, log_path, res2["snapshot_id"], out)
    _assert_records_match_output(
        spark, str(tmp_path / "ref_log"), res_ref["snapshot_id"], ref_out
    )

    # a third run is a no-op
    res3 = run_job(
        spark, inp, out, log_path,
        salt_buckets=BUCKETS, num_partitions=8, job_id="run3",
    )
    assert res3["processed_buckets"] == []


def test_resume_partition_pruning(spark, tmp_path: pathlib.Path):
    """With the input physically partitioned by the salt bucket, the
    committed-bucket anti-filter must prune at the scan (a
    PartitionFilter), not post-scan — plus end-to-end: resuming over
    the bucketed input recomputes only the missing buckets."""
    import pytest

    from accountant_pdf_extract_spark.plans.job import (
        read_bucketed_input,
        write_bucketed_input,
    )
    from accountant_pdf_extract_spark.plans.pipeline import SALT_COL, salt

    inp = synth_interleaved(spark, 80, seed=5, partitions=4)
    bucketed = str(tmp_path / "bucketed_in")
    write_bucketed_input(inp, bucketed, salt_buckets=BUCKETS)
    # bucket-count mismatch must refuse loudly, never prune silently
    with pytest.raises(ValueError, match="salt_buckets"):
        read_bucketed_input(spark, bucketed, BUCKETS * 2)
    binp = read_bucketed_input(spark, bucketed, BUCKETS)
    assert SALT_COL in binp.columns

    done = {0, 1, 2, 3}
    filtered = salt(binp, BUCKETS).where(~F.col(SALT_COL).isin(sorted(done)))
    filtered.createOrReplaceTempView("pruned_in")
    plan = spark.sql("EXPLAIN FORMATTED SELECT * FROM pruned_in").first()[0]
    scan = plan[plan.index("PartitionFilters") :]
    assert SALT_COL in scan.splitlines()[0], scan.splitlines()[0]

    # end-to-end: full run over the bucketed input, lose half the
    # commits, resume — only lost buckets recomputed, output identical
    out = str(tmp_path / "pout")
    log_path = str(tmp_path / "plog")
    res1 = run_job(spark, binp, out, log_path,
                   salt_buckets=BUCKETS, num_partitions=8, job_id="b1",
                   trust_input_bucketing=True)
    reference = _collect(spark, out)
    log = CommitLog(log_path)
    all_buckets = set(res1["processed_buckets"])
    lost = sorted(all_buckets)[: len(all_buckets) // 2]
    snaps = log.snapshots()
    kept = [
        {"partition_id": b, "output_fingerprint": "x", "n_docs": 0,
         "n_spans": 0, "n_fields": 0, "job_wall_ms": 0}
        for b in sorted(all_buckets - set(lost))
    ]
    log.drop_snapshots({snaps[0]["snapshot_id"]})
    log.commit(kept, {"job_id": "b1-partial"})
    res2 = run_job(spark, binp, out, log_path,
                   salt_buckets=BUCKETS, num_partitions=8, job_id="b2",
                   trust_input_bucketing=True)
    assert res2["processed_buckets"] == sorted(lost)
    assert _collect(spark, out) == reference

    # an untrusted frame with a foreign salt column gets re-salted, not
    # silently trusted: a mod-16 column under a mod-8 job still yields
    # the correct full result
    wrong = salt(inp, BUCKETS * 2)
    out2 = str(tmp_path / "wout")
    run_job(spark, wrong, out2, str(tmp_path / "wlog"),
            salt_buckets=BUCKETS, num_partitions=8, job_id="w1")
    assert _collect(spark, out2) == reference

    # write_bucketed_input fed a frame carrying a FOREIGN-modulus salt
    # column must recompute the salt under its own modulus — otherwise
    # the sidecar lies and resume pruning can skip uncommitted docs
    foreign_bucketed = str(tmp_path / "foreign_bucketed")
    write_bucketed_input(wrong, foreign_bucketed, salt_buckets=BUCKETS)
    clean = {
        r["doc_id"]: r[SALT_COL]
        for r in read_bucketed_input(spark, bucketed, BUCKETS)
        .select("doc_id", SALT_COL).collect()
    }
    refed = {
        r["doc_id"]: r[SALT_COL]
        for r in read_bucketed_input(spark, foreign_bucketed, BUCKETS)
        .select("doc_id", SALT_COL).collect()
    }
    assert refed == clean


def test_salt_distribution(spark):
    """Salting evidence: doc counts per bucket stay within a sane
    envelope for uniform ids (no empty/overloaded buckets at 16x
    docs-per-bucket)."""
    inp = synth_interleaved(spark, 400, seed=3, partitions=8)
    counts = (
        inp.select(
            F.pmod(F.xxhash64("doc_id"), F.lit(16)).cast("int").alias("b")
        )
        .groupBy("b")
        .count()
        .collect()
    )
    per = {r["b"]: r["count"] for r in counts}
    assert len(per) == 16
    assert max(per.values()) < 4 * min(per.values())


def test_commit_log_records_roundtrip(spark, tmp_path: pathlib.Path):
    log = CommitLog(str(tmp_path / "clog"))
    recs = [
        {"partition_id": 3, "output_fingerprint": "abc", "n_docs": 10,
         "n_spans": 55, "n_fields": 7, "job_wall_ms": 123},
        {"partition_id": 5, "output_fingerprint": "def", "n_docs": 2,
         "n_spans": 9, "n_fields": 1, "job_wall_ms": 123},
    ]
    sid = log.commit(recs, {"job_id": "t", "attempt": "1"})
    df = log.records(spark)
    rows = {r["partition_id"]: r for r in df.collect()}
    assert set(rows) == {3, 5}
    assert rows[3]["n_spans"] == 55
    assert rows[3]["lineage"]["job_id"] == "t"
    assert rows[5]["snapshot_id"] == sid
    assert log.committed_buckets() == {3, 5}


def test_commit_log_empty_records(spark, tmp_path: pathlib.Path):
    log = CommitLog(str(tmp_path / "clog2"))
    assert log.records(spark).count() == 0
    assert log.committed_buckets() == set()


def test_orphan_record_files_excluded_from_commit_log(spark, tmp_path: pathlib.Path):
    """A record parquet whose snapshot was never sealed (crash between
    record write and snapshot rename) must not appear in records()."""
    log = CommitLog(str(tmp_path / "clog"))
    log.commit(
        [{"partition_id": 1, "output_fingerprint": "a", "n_docs": 1,
          "n_spans": 2, "n_fields": 0, "job_wall_ms": 1}],
        {"job_id": "ok"},
    )
    # orphan: records parquet exists, snapshot JSON does not
    sealed = log.snapshots()[0]["snapshot_id"]
    orphan_sid = "snap-000000000000-deadbeef"
    from accountant_pdf_extract_spark.schema import COMMIT_LOG_SCHEMA

    spark.createDataFrame(
        [{"partition_id": 9, "output_fingerprint": "x", "n_docs": 9,
          "n_spans": 9, "n_fields": 9, "job_wall_ms": 9,
          "lineage": {}, "snapshot_id": orphan_sid}],
        COMMIT_LOG_SCHEMA,
    ).coalesce(1).write.parquet(f"{log.records_dir}/{orphan_sid}.parquet")

    rows = log.records(spark).collect()
    assert {r["snapshot_id"] for r in rows} == {sealed}
    assert {r["partition_id"] for r in rows} == {1}


def _jobs_started_by(spark, fn):
    """Run ``fn`` under a fresh job group; return its result and the
    ids of the Spark jobs it started.  The status listener sees jobs
    in order, so once a sentinel job started afterwards is visible,
    every job ``fn`` started is too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def grouped(group, f):
        sc.setJobGroup(group, group)
        try:
            return f()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    group, sentinel = (f"{p}-{uuid.uuid4().hex}" for p in ("run", "sentinel"))
    out = grouped(group, fn)
    grouped(sentinel, lambda: sc.parallelize([0], 1).count())
    deadline = time.monotonic() + 60
    while not tracker.getJobIdsForGroup(sentinel) and time.monotonic() < deadline:
        time.sleep(0.05)
    assert tracker.getJobIdsForGroup(sentinel), "status listener never saw the sentinel"
    return out, tracker.getJobIdsForGroup(group)


def test_commit_runs_no_spark_job_and_records_roundtrip(spark, tmp_path):
    """The seal is a driver-side write: no Spark job, and the records
    read back exactly through Spark and through pyarrow."""
    import pyarrow.parquet as pq

    from accountant_pdf_extract_spark.schema import COMMIT_LOG_SCHEMA

    log = CommitLog(str(tmp_path / "clog"))
    recs = [
        {"partition_id": b, "output_fingerprint": str(b * 7919),
         "n_docs": b + 1, "n_spans": 10 * b, "n_fields": b % 3,
         "job_wall_ms": 42}
        for b in range(40)
    ]
    lineage = {"job_id": "t", "salt_buckets": "64", "dropped_docs": "0"}
    sid, jobs = _jobs_started_by(spark, lambda: log.commit(recs, lineage))
    assert jobs == []

    def check(rows):
        rows = sorted(rows, key=lambda r: r["partition_id"])
        assert [{k: r[k] for k in recs[0]} for r in rows] == recs
        assert all(dict(r["lineage"]) == lineage for r in rows)
        assert {r["snapshot_id"] for r in rows} == {sid}

    df = log.records(spark)
    assert df.schema == COMMIT_LOG_SCHEMA
    check(r.asDict() for r in df.collect())
    check(pq.read_table(f"{log.records_dir}/{sid}.parquet").to_pylist())

    # a crash between the record write and its rename leaves a temp
    # file (also one named after a sealed snapshot): never a record
    for leftover in (f".{sid}.parquet.tmp", ".snap-0-deadbeef.parquet.tmp"):
        shutil.copy(f"{log.records_dir}/{sid}.parquet",
                    f"{log.records_dir}/{leftover}")
    check(r.asDict() for r in log.records(spark).collect())


def test_partition_listing_sized_by_core_budget(spark, tmp_path):
    """Listing more bucket directories than Spark's parallel-discovery
    threshold (32) runs one wave of tasks, not one task per
    directory."""
    path = str(tmp_path / "wide")
    n_dirs = 48
    (
        spark.range(n_dirs).withColumn("b", F.col("id"))
        .write.partitionBy("b").parquet(path)
    )
    df, jobs = _jobs_started_by(spark, lambda: spark.read.parquet(path))
    assert jobs, "a listing above the threshold runs as a Spark job"
    tracker = spark.sparkContext.statusTracker()
    tasks = [
        tracker.getStageInfo(s).numTasks
        for j in jobs
        for s in tracker.getJobInfo(j).stageIds
    ]
    assert max(tasks) <= spark.sparkContext.defaultParallelism, tasks
    assert df.count() == n_dirs


def test_run_job_refuses_salt_bucket_modulus_change(spark, tmp_path):
    """Resuming a commit log written under a different salt_buckets
    must raise, not silently skip colliding bucket ids."""
    import pytest

    from accountant_pdf_extract_spark.plans.job import run_job
    from accountant_pdf_extract_spark.schema import INPUT_SCHEMA

    inp = spark.createDataFrame(
        [(f"d{i}", [{"kind": "text", "text": f"ledger {i}",
                     "media_ref": "", "offset": 0}]) for i in range(20)],
        INPUT_SCHEMA,
    )
    out = str(tmp_path / "out")
    log = str(tmp_path / "log")
    r1 = run_job(spark, inp, out, log, salt_buckets=16, num_partitions=2)
    assert r1["snapshot_id"] is not None
    with pytest.raises(ValueError, match="salt_buckets"):
        run_job(spark, inp, out, log, salt_buckets=8, num_partitions=2)
    # same modulus resumes fine (no-op: everything committed)
    r2 = run_job(spark, inp, out, log, salt_buckets=16, num_partitions=2)
    assert r2["processed_buckets"] == []


def test_run_job_zero_row_output_returns_empty(spark, tmp_path):
    """A first run whose extraction yields ZERO rows (every span
    invalid) must return an empty result, not crash on the
    unreadable empty output dir."""
    from accountant_pdf_extract_spark.plans.job import run_job
    from accountant_pdf_extract_spark.schema import INPUT_SCHEMA

    inp = spark.createDataFrame(
        [("d1", [{"kind": "bogus", "text": "x", "media_ref": "",
                  "offset": 0}]),
         ("d2", [{"kind": "text", "text": "   ", "media_ref": "",
                  "offset": 0}])],
        INPUT_SCHEMA,
    )
    r = run_job(
        spark, inp, str(tmp_path / "out"), str(tmp_path / "log"),
        salt_buckets=8, num_partitions=2,
    )
    assert r["processed_buckets"] == [] and r["snapshot_id"] is None


def _stub_spark(parallelism):
    """Just enough of a session for the task-count derivations."""
    from types import SimpleNamespace

    return SimpleNamespace(
        sparkContext=SimpleNamespace(defaultParallelism=parallelism))


def test_salt_buckets_and_tasks_follow_core_budget():
    """The derived bucket count is 4 per task of the core budget, and
    the default task count over it is the core budget again: 8,000
    cores give 32,000 buckets and 8,000 tasks, not 1,024 and 256."""
    from accountant_pdf_extract_spark.plans.pipeline import (
        _effective_partitions,
        default_salt_buckets,
    )

    for cores, buckets in ((4, 16), (8000, 32000)):
        spark = _stub_spark(cores)
        assert default_salt_buckets(spark) == buckets
        assert _effective_partitions(spark, None, buckets) == cores
    # an explicit task count is the budget, whatever the session has
    assert default_salt_buckets(_stub_spark(4), 8000) == 32000
    assert _effective_partitions(_stub_spark(4), 8000, 32000) == 8000


def test_num_partitions_above_salt_buckets_raises(spark, tmp_path):
    """More tasks than buckets is refused, naming both values, not cut
    down to the bucket count; on a fresh log the refusal comes before
    the pin and before any output."""
    import os

    import pytest

    from accountant_pdf_extract_spark.plans.pipeline import (
        _effective_partitions,
    )

    with pytest.raises(ValueError, match="num_partitions=4096.*salt_buckets=1024"):
        _effective_partitions(_stub_spark(4), 4096, 1024)
    assert _effective_partitions(_stub_spark(4), 1024, 1024) == 1024

    out, log = str(tmp_path / "out"), str(tmp_path / "log")
    with pytest.raises(ValueError, match="num_partitions=16.*salt_buckets=8"):
        run_job(spark, _ledger_docs(spark, "d1"), out, log,
                salt_buckets=8, num_partitions=16)
    assert CommitLog(log).pinned() is None
    assert not os.path.exists(out)


def _bucket_dirs(path):
    import os

    from accountant_pdf_extract_spark.plans.pipeline import SALT_COL

    return sorted(d for d in os.listdir(path) if d.startswith(SALT_COL + "="))


def test_run_job_derives_and_pins_salt_buckets(spark, tmp_path):
    """With no salt_buckets a fresh log gets 4 × defaultParallelism
    buckets, one directory each, and pins that count."""
    inp = _ledger_docs(spark, *(f"d{i}" for i in range(200)))
    out, log = str(tmp_path / "out"), str(tmp_path / "log")
    res = run_job(spark, inp, out, log)
    n = 4 * spark.sparkContext.defaultParallelism
    assert len(_bucket_dirs(out)) == len(res["processed_buckets"]) == n
    assert CommitLog(log).pinned()[0] == n
    assert CommitLog(log).snapshots()[0]["lineage"]["salt_buckets"] == str(n)


def test_resume_keeps_pinned_salt_buckets(spark, tmp_path):
    """A resume with no salt_buckets runs under the pinned count, not
    the one its own core budget would derive: only the lost buckets
    are redone and the output matches the uninterrupted run."""
    inp = _ledger_docs(spark, *(f"d{i}" for i in range(60)))
    out, log_path = str(tmp_path / "out"), str(tmp_path / "log")
    res1 = run_job(spark, inp, out, log_path, salt_buckets=8,
                   num_partitions=2)
    reference = _collect(spark, out)
    log = CommitLog(log_path)
    all_buckets = set(res1["processed_buckets"])
    lost = sorted(all_buckets)[: len(all_buckets) // 2]
    log.drop_snapshots({s["snapshot_id"] for s in log.snapshots()})
    log.commit(
        [{"partition_id": b, "output_fingerprint": "x", "n_docs": 0,
          "n_spans": 0, "n_fields": 0, "job_wall_ms": 0}
         for b in sorted(all_buckets - set(lost))],
        {"job_id": "partial"},
    )

    from accountant_pdf_extract_spark.plans.pipeline import default_salt_buckets

    assert default_salt_buckets(spark) != 8
    res2 = run_job(spark, inp, out, log_path)
    assert res2["processed_buckets"] == lost
    assert log.pinned()[0] == 8
    assert log.snapshots()[-1]["lineage"]["salt_buckets"] == "8"
    assert len(_bucket_dirs(out)) == len(all_buckets)
    assert _collect(spark, out) == reference


def test_pin_refuses_mismatch_before_first_commit(spark, tmp_path):
    """A first run that crashed before its seal leaves a pin and bucket
    directories but no snapshot: a re-run under another modulus raises
    before it writes anything, and a re-run under the pin redoes every
    bucket.  A log with snapshots but no pin is refused."""
    inp = _ledger_docs(spark, *(f"d{i}" for i in range(20)))
    out, log_path = str(tmp_path / "out"), str(tmp_path / "log")
    res1 = run_job(spark, inp, out, log_path, salt_buckets=8,
                   num_partitions=2)
    log = CommitLog(log_path)
    log.drop_snapshots({s["snapshot_id"] for s in log.snapshots()})
    assert log.snapshots() == [] and log.pinned()[0] == 8

    before = _tree(out)
    with pytest.raises(ValueError, match="salt_buckets=8"):
        run_job(spark, inp, out, log_path, salt_buckets=16,
                num_partitions=2)
    assert _tree(out) == before
    res2 = run_job(spark, inp, out, log_path)
    assert res2["processed_buckets"] == res1["processed_buckets"]

    legacy = CommitLog(str(tmp_path / "legacy"))
    legacy.commit(
        [{"partition_id": 0, "output_fingerprint": "x", "n_docs": 0,
          "n_spans": 0, "n_fields": 0, "job_wall_ms": 0}],
        {"job_id": "old", "salt_buckets": "1024"},
    )
    with pytest.raises(ValueError, match="no pinned salt_buckets"):
        run_job(spark, inp, str(tmp_path / "lout"), legacy.path)


def _tree(*paths):
    """(path, mtime_ns) of every file under ``paths``."""
    import os

    return sorted(
        (os.path.join(d, f), os.stat(os.path.join(d, f)).st_mtime_ns)
        for p in paths for d, _dirs, files in os.walk(p) for f in files
    )


@pytest.mark.parametrize(
    "case", ["parquet_append", "crash_then_append", "doctable_append"])
def test_resume_refuses_a_changed_input(spark, tmp_path, case):
    """A resume over an input that gained docs since the log's first
    run raises before any write: after an append to a parquet input,
    after a crash that lost half the commits and then an append, and
    after an append to a DocTable.  Unpinned, the resume skipped every
    new doc in a committed bucket and reported success.  A resume over
    the unchanged input (the original files, or the DocTable's first
    snapshot) still redoes exactly the lost buckets."""
    from accountant_pdf_extract_spark.sources.catalog import DocTable

    out, log_path = str(tmp_path / "out"), str(tmp_path / "log")
    first = _ledger_docs(spark, *(f"d{i}" for i in range(40)))
    new = _ledger_docs(spark, *(f"n{i}" for i in range(40)))
    if case == "doctable_append":
        tbl = DocTable(str(tmp_path / "tbl"))
        s1 = tbl.append(first)

        def read():
            return tbl.read(spark)

        append = tbl.append
        original = tbl.read(spark, s1)
    else:
        inp = str(tmp_path / "in")
        first.write.parquet(inp)

        def read():
            return spark.read.parquet(inp)

        def append(df):
            df.write.mode("append").parquet(inp)

        original = spark.read.parquet(*read().inputFiles())

    res1 = run_job(spark, read(), out, log_path, salt_buckets=8,
                   num_partitions=2)
    reference = _collect(spark, out)
    lost = []
    if case == "crash_then_append":
        log = CommitLog(log_path)
        done = res1["processed_buckets"]
        lost = done[: len(done) // 2]
        log.drop_snapshots({s["snapshot_id"] for s in log.snapshots()})
        log.commit(
            [{"partition_id": b, "output_fingerprint": "x", "n_docs": 0,
              "n_spans": 0, "n_fields": 0, "job_wall_ms": 0}
             for b in done[len(done) // 2:]],
            {"job_id": "partial"},
        )

    before = _tree(out, log_path)
    append(new)
    with pytest.raises(ValueError, match="pinned to another input"):
        run_job(spark, read(), out, log_path)
    assert _tree(out, log_path) == before

    res2 = run_job(spark, original, out, log_path)
    assert res2["processed_buckets"] == lost
    assert _collect(spark, out) == reference


def test_bucketed_input_defaults_to_stored_count(spark, tmp_path):
    """write_bucketed_input with no count uses the derived one;
    read_bucketed_input with no count takes the stored one, and an
    explicit count that differs still raises."""
    import pytest

    from accountant_pdf_extract_spark.plans.job import (
        bucketed_input_salt_buckets,
        read_bucketed_input,
        write_bucketed_input,
    )
    from accountant_pdf_extract_spark.plans.pipeline import (
        SALT_COL,
        default_salt_buckets,
    )

    path = str(tmp_path / "bin")
    write_bucketed_input(_ledger_docs(spark, "a", "b", "c"), path)
    n = default_salt_buckets(spark)
    assert bucketed_input_salt_buckets(path) == n
    assert SALT_COL in read_bucketed_input(spark, path).columns
    with pytest.raises(ValueError, match="salt_buckets"):
        read_bucketed_input(spark, path, n * 2)


def test_run_job_counts_a_dropped_doc_exactly(spark, tmp_path):
    """A document whose extraction raises is counted once in the
    lineage's dropped_docs, and the other documents are committed.
    (A 30-digit dollar amount makes ``fields.parse_amount`` raise.)"""
    from accountant_pdf_extract_spark.schema import INPUT_SCHEMA

    inp = _ledger_docs(spark, "d1", "d2", "d3").union(spark.createDataFrame(
        [("bad", [{"kind": "text", "text": "Total $" + "9" * 30,
                   "media_ref": "", "offset": 0}])],
        INPUT_SCHEMA,
    ))
    log_path = str(tmp_path / "log")
    res = run_job(spark, inp, str(tmp_path / "out"), log_path,
                  salt_buckets=8, num_partitions=2)
    (snap,) = CommitLog(log_path).snapshots()
    assert snap["snapshot_id"] == res["snapshot_id"]
    assert snap["lineage"]["dropped_docs"] == "1"
    recs = CommitLog(log_path).records(spark).collect()
    assert sum(r["n_docs"] for r in recs) == 3


def test_run_job_starts_only_its_write_jobs(spark, tmp_path):
    """Sealing starts no Spark job: run_job starts exactly the jobs
    that the same extraction's write starts on its own."""
    from accountant_pdf_extract_spark.plans.pipeline import SALT_COL, extract

    inp = _ledger_docs(spark, *(f"d{i}" for i in range(40)))
    res, jobs = _jobs_started_by(spark, lambda: run_job(
        spark, inp, str(tmp_path / "out"), str(tmp_path / "log"),
        salt_buckets=8, num_partitions=2,
    ))
    assert res["snapshot_id"] is not None

    def bare_write():
        (
            extract(inp, salt_buckets=8, num_partitions=2, keep_salt=True)
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(SALT_COL)
            .parquet(str(tmp_path / "bare"))
        )

    _, write_jobs = _jobs_started_by(spark, bare_write)
    assert write_jobs and len(jobs) == len(write_jobs)


def test_bucket_b_runs_on_task_b_mod_tasks(spark):
    """The salted repartition places bucket b on task b mod the task
    count: with 16 buckets on 4 tasks, each output partition holds
    exactly the non-empty buckets congruent to its id mod 4 (hashing
    the bucket values put 3/3/4/6 buckets on the four tasks)."""
    from accountant_pdf_extract_spark.plans.pipeline import SALT_COL, extract

    inp = _ledger_docs(spark, *(f"doc-{i:08d}" for i in range(200)))
    flat = extract(inp, salt_buckets=16, num_partitions=4, keep_salt=True)
    rows = flat.select(
        F.spark_partition_id().alias("p"), SALT_COL).distinct().collect()
    by_task = {}
    for r in rows:
        by_task.setdefault(r["p"], set()).add(r[SALT_COL])
    buckets = set().union(*by_task.values())
    assert len(buckets) == 16
    assert by_task == {p: {b for b in buckets if b % 4 == p} for p in range(4)}


def test_tally_merge_absorbs_duplicates_and_refuses_conflicts():
    """The tally accumulator's merge: a duplicate report of a bucket's
    tally (a retried or speculative attempt) is absorbed; a different
    tally for the same bucket raises when the tallies are read."""
    import pytest

    from accountant_pdf_extract_spark.plans.pipeline import (
        BucketTally,
        bucket_tallies,
        merge_tallies,
    )

    t3, t5 = BucketTally(2, 5, 1, 0, 123), BucketTally(1, 1, 0, 1, 7)
    merged = {}
    for update in ({3: {t3}}, {5: {t5}}, {3: {t3}}, {3: {t3}, 5: {t5}}):
        merged = merge_tallies(merged, {b: frozenset(t) for b, t in update.items()})
    assert bucket_tallies(merged) == {3: t3, 5: t5}
    merge_tallies(merged, {3: frozenset([t3._replace(n_spans=6)])})
    with pytest.raises(RuntimeError, match="salt bucket 3"):
        bucket_tallies(merged)


def _retry_child(work: str) -> None:
    """Subprocess body of ``test_tally_exact_under_task_retry``: a
    clean fused run, then one whose generator raises on attempt 0 of
    partition 0 after that attempt yielded one batch.  Prints both
    tallies and a re-read aggregate of the retried run's output."""
    import json
    import os

    import pyarrow as pa
    from pyspark import TaskContext

    from accountant_pdf_extract_spark.plans.pipeline import (
        SALT_COL,
        bucket_tallies,
        extract,
    )
    from accountant_pdf_extract_spark.schema import ARROW_INPUT
    from accountant_pdf_extract_spark.session import get_spark

    spark = get_spark(app="tally-retry", master="local[2,2]",
                      shuffle_partitions=2,
                      extra_conf={"spark.sql.execution.arrow.maxRecordsPerBatch": "4"})
    proxy = spark.range(40).select(
        F.format_string("d%03d", "id").alias("doc_id"), F.col("id").alias("n"))
    marker = os.path.join(work, "raised")

    def run(out, fail):
        calls = {}

        def generate(batch):
            ctx = TaskContext.get()
            k = ctx.taskAttemptId()
            calls[k] = calls.get(k, 0) + 1
            if (fail and ctx.partitionId() == 0 and ctx.attemptNumber() == 0
                    and calls[k] == 2):
                open(marker, "w").close()
                raise RuntimeError("injected failure after one batch")
            docs = []
            for d, n in zip(batch.column("doc_id").to_pylist(),
                            batch.column("n").to_pylist()):
                text = ("Total $" + "9" * 30 if n == 7 else
                        f"Invoice INV-{n:04d}\nTotal ${n}.00" if n % 3 else
                        f"ledger {d}\nbalance {n}")
                docs.append({"doc_id": d, "spans": [
                    {"kind": "text", "text": text, "media_ref": "", "offset": 0}]})
            return pa.RecordBatch.from_pylist(docs, schema=ARROW_INPUT)

        flat = extract(proxy, salt_buckets=8, num_partitions=2,
                       keep_salt=True, generate=generate)
        flat.write.partitionBy(SALT_COL).parquet(out)
        return {b: list(t) for b, t in bucket_tallies(flat.bucket_tally.value).items()}

    clean = run(os.path.join(work, "clean"), False)
    retried = run(os.path.join(work, "retried"), True)
    reread = _reread_tallies(spark, os.path.join(work, "retried"))
    print("RESULT " + json.dumps({
        "clean": clean, "retried": retried,
        "reread": {b: list(t) for b, t in reread.items()},
        "raised": os.path.exists(marker),
    }))
    spark.stop()


def test_tally_exact_under_task_retry(tmp_path):
    """A task attempt that fails after yielding a batch adds nothing
    to the tally; the retry's tally equals a clean run's and a re-read
    aggregate of the committed output (local[2,2]: two attempts)."""
    import json
    import os
    import subprocess
    import sys

    root = pathlib.Path(__file__).parent.parent
    res = subprocess.run(
        [sys.executable, "-c",
         "import sys; from tests.test_resume import _retry_child; "
         "_retry_child(sys.argv[1])", str(tmp_path)],
        capture_output=True, text=True, timeout=300, cwd=str(root),
        env={**os.environ, "SPARK_DRIVER_MEM": "1g"},
    )
    assert res.returncode == 0, res.stderr[-3000:]
    line = next(ln for ln in res.stdout.splitlines() if ln.startswith("RESULT "))
    got = json.loads(line[len("RESULT "):])
    assert got["raised"]
    assert got["retried"] == got["clean"]
    assert sum(t[3] for t in got["clean"].values()) == 1  # the dropped doc
    assert {b: t[:3] + t[4:] for b, t in got["clean"].items() if t[1]} == (
        got["reread"])
