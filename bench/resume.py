"""Resume pruning at bench scale (VERDICT r2 #7): run the heavy
scaling corpus through ``write_bucketed_input`` → full job → lose half
the commits → resume, and measure the BYTES the resume scan actually
reads.  With the input physically partitioned by the salt bucket, the
committed-bucket anti-filter is a PartitionFilter at the scan —
committed bucket directories are never read on resume, not merely
read-then-dropped.

    python -m bench.resume [--docs 20000] [--buckets 64]

Appends a ``## Resume pruning at bench scale`` section to
BENCH/BASELINE.md and prints one JSON line with the raw numbers.
Bytes are measured from the Spark event log (sum of per-task input
metrics), run in separate sessions so the two runs can't share scan
caches.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import tempfile
import time


def _session(evdir: str):
    from accountant_pdf_extract_spark.session import get_spark

    return get_spark(
        app="resume-bench",
        extra_conf={
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": evdir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        },
    )


def _bytes_read(evdir: str) -> int:
    total = 0
    for fn in glob.glob(os.path.join(evdir, "*")):
        if "appstatus" in fn:
            continue
        with open(fn) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                total += (
                    ev.get("Task Metrics", {})
                    .get("Input Metrics", {})
                    .get("Bytes Read", 0)
                )
    return total


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--docs", type=int, default=20000)
    p.add_argument("--buckets", type=int, default=64)
    # default: one task per core (at most --buckets, the repartition key)
    p.add_argument("--partitions", type=int, default=None)
    args = p.parse_args()

    from pyspark.sql import functions as F

    from accountant_pdf_extract_spark.plans.job import (
        read_bucketed_input,
        run_job,
        write_bucketed_input,
    )
    from accountant_pdf_extract_spark.plans.pipeline import SALT_COL, salt
    from accountant_pdf_extract_spark.sources.commit_log import CommitLog
    from accountant_pdf_extract_spark.sources.synth import synth_interleaved

    work = tempfile.mkdtemp(prefix="resume_bench_")
    inp = os.path.join(work, "bucketed_in")
    out = os.path.join(work, "out")
    log_path = os.path.join(work, "clog")
    ev_full = tempfile.mkdtemp(prefix="ev_full_")
    ev_resume = tempfile.mkdtemp(prefix="ev_resume_")

    # -- materialize the bucket-partitioned input (untimed) ------------------
    spark = _session(ev_full)
    write_bucketed_input(
        synth_interleaved(
            spark, args.docs, seed=42, partitions=args.partitions, heavy=True
        ),
        inp,
        salt_buckets=args.buckets,
    )
    spark.stop()

    # -- full run ------------------------------------------------------------
    for fn in glob.glob(os.path.join(ev_full, "*")):
        os.remove(fn)  # drop the synthesis app's log; count only the job
    spark = _session(ev_full)
    t0 = time.monotonic()
    res1 = run_job(
        spark,
        read_bucketed_input(spark, inp, args.buckets),
        out,
        log_path,
        salt_buckets=args.buckets,
        num_partitions=args.partitions,
        job_id="full",
        trust_input_bucketing=True,
    )
    full_wall = time.monotonic() - t0
    spark.stop()
    full_bytes = _bytes_read(ev_full)

    # -- lose half the commits (simulated crash after partial commit) --------
    spark = _session(ev_resume)
    log = CommitLog(log_path)
    all_buckets = sorted(res1["processed_buckets"])
    lost = all_buckets[: len(all_buckets) // 2]
    kept = [
        {"partition_id": b, "output_fingerprint": "kept", "n_docs": 0,
         "n_spans": 0, "n_fields": 0, "job_wall_ms": 0}
        for b in all_buckets[len(all_buckets) // 2 :]
    ]
    log.drop_snapshots({s["snapshot_id"] for s in log.snapshots()})
    log.commit(kept, {"job_id": "partial"})

    # the resume filter as a PartitionFilter at the scan (plan evidence)
    binp = read_bucketed_input(spark, inp, args.buckets)
    done = sorted(CommitLog(log_path).committed_buckets())
    pruned = salt(binp, args.buckets).where(~F.col(SALT_COL).isin(done))
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    pf_line = next(
        (ln.strip() for ln in plan.splitlines() if "PartitionFilters" in ln),
        "",
    )
    if "PartitionFilters" in pf_line:
        pf_line = pf_line[pf_line.index("PartitionFilters") :]
    spark.stop()

    # -- resume run (fresh session; nothing cached) ---------------------------
    for fn in glob.glob(os.path.join(ev_resume, "*")):
        os.remove(fn)  # drop the log-rewind session's log
    spark = _session(ev_resume)
    t0 = time.monotonic()
    res2 = run_job(
        spark,
        read_bucketed_input(spark, inp, args.buckets),
        out,
        log_path,
        salt_buckets=args.buckets,
        num_partitions=args.partitions,
        job_id="resume",
        trust_input_bucketing=True,
    )
    resume_wall = time.monotonic() - t0
    spark.stop()
    resume_bytes = _bytes_read(ev_resume)

    assert res2["processed_buckets"] == lost, (res2["processed_buckets"], lost)
    result = {
        "docs": args.docs,
        "buckets_total": len(all_buckets),
        "buckets_lost": len(lost),
        "full_bytes_read": full_bytes,
        "resume_bytes_read": resume_bytes,
        "resume_bytes_ratio": round(resume_bytes / max(full_bytes, 1), 3),
        "full_wall_s": round(full_wall, 2),
        "resume_wall_s": round(resume_wall, 2),
        "partition_filter": pf_line[:200],
    }
    print(json.dumps(result))

    section = f"""
## Resume pruning at bench scale (python -m bench.resume)

{args.docs} heavy docs, bucket-partitioned input ({args.buckets}
buckets via write_bucketed_input), full run committed, then the commit
log rewound to half the buckets and the job resumed in a fresh JVM:

| run | buckets processed | bytes read (all scans) | wall (s) |
|---|---|---|---|
| full   | {len(all_buckets)} | {full_bytes:,} | {full_wall:.1f} |
| resume | {len(lost)} | {resume_bytes:,} | {resume_wall:.1f} |

Resume read **{100 * resume_bytes / max(full_bytes, 1):.0f}%** of the
full run's bytes for {100 * len(lost) / len(all_buckets):.0f}% of the
buckets — committed bucket directories are pruned AT THE SCAN, not
read-then-dropped.  Plan evidence (resume scan):

    {pf_line[:160]}
<!-- /resume-section -->
"""
    md_path = os.path.join("BENCH", "BASELINE.md")
    with open(md_path) as f:
        md = f.read()
    # Replace ONLY this script's own section.  The section carries an
    # explicit end sentinel, so EVERYTHING after it survives — prose,
    # H1s, tables, not just H2/PRESERVE-shaped tails (truncating to
    # EOF silently clobbered a hand-written appendix once).  Sections
    # written before the sentinel existed fall back to the next H2 /
    # PRESERVE heuristic.
    marker = "\n## Resume pruning at bench scale"
    end_sentinel = "<!-- /resume-section -->\n"
    tail = ""
    if marker in md:
        start = md.index(marker)
        rest = md[start + len(marker):]
        end = rest.find(end_sentinel)
        if end != -1:
            tail = rest[end + len(end_sentinel):]
        else:
            nexts = [i for m in ("\n<!-- PRESERVE -->", "\n## ")
                     if (i := rest.find(m)) != -1]
            if nexts:
                tail = rest[min(nexts):]
        md = md[:start]
    with open(md_path, "w") as f:
        f.write(md.rstrip() + "\n" + section + tail)


if __name__ == "__main__":
    main()
