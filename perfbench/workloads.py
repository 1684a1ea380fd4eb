"""The benchmark workloads.

Each workload prepares its inputs from the seed (``prepare``, part of
set-up), runs one timed iteration per ``iterate`` call, checks the
program's outputs against an independent reference (``check``) and,
for the traced run, replays its Python work in-process
(``replay``).  Sizes are the defaults below times ``PERFBENCH_SCALE``
(default 1), which only the benchmark's own tests lower.
"""

from __future__ import annotations

import glob
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import check
import layers
import tables

SCALE = float(os.environ.get("PERFBENCH_SCALE", "1"))

FLAGSHIP_DOCS = max(20, int(500 * SCALE))
HEAVY_DOCS = max(20, int(200 * SCALE))
# the battery reads tables of the reference sf0.01 size (500 documents);
# its dedup queries look at doc_id < 40
BATTERY_DOCS = max(40, int(500 * SCALE))
ORACLE_SAMPLE = 8


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _s, files in os.walk(path)
        for f in files
    )


class Workload:
    name = ""
    n_docs = 0

    def __init__(self, seed: int, work: str) -> None:
        self.seed = seed
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def prepare(self, spark) -> None:
        raise NotImplementedError

    def iterate(self, spark, collect: bool) -> dict:
        """One timed iteration; with ``collect`` the output is kept
        for ``check``."""
        raise NotImplementedError

    def check(self) -> bool:
        """Compare the collected or written output with the reference;
        fills ``attempted``, ``failed`` and ``problems``."""
        raise NotImplementedError

    def replay(self) -> dict[str, float]:
        """In-process layer split of the workload's Python work."""
        raise NotImplementedError


class Flagship(Workload):
    """The registered ``q_extract_spans`` over a generated
    ``documents`` table, noop sink."""

    name = "flagship"
    n_docs = FLAGSHIP_DOCS

    def prepare(self, spark) -> None:
        from accountant_pdf_extract_spark.plans import driver_queries

        self.sf = os.path.join(self.work, "sf")
        tables.write_documents(self.sf, self.seed, self.n_docs)
        self.query = driver_queries.queries()["q_extract_spans"]

    def iterate(self, spark, collect: bool) -> dict:
        df = self.query(spark, self.sf)
        if collect:
            self.out = df.toArrow()
        else:
            _noop(df)
        return {}

    def _rows(self) -> list[tuple[int, str]]:
        t = pq.read_table(os.path.join(self.sf, "documents.parquet"), columns=["doc_id", "text"])
        return list(zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist()))

    def check(self) -> bool:
        out = self.out
        rows = self._rows()
        want, dropped = check.reference_prints([check.flagship_docs(rows)])
        bad = set(check.mismatched_docs(check.doc_prints(out), want))
        rng = np.random.default_rng([self.seed, 3])
        pick = sorted(rng.choice(len(rows), min(ORACLE_SAMPLE, len(rows)), replace=False))
        bad_oracle = check.oracle_mismatches(out, check.flagship_docs([rows[i] for i in pick]))
        if bad:
            self.problems.append(f"{len(bad)} docs differ from in-process extract_batches")
        if bad_oracle:
            self.problems.append(f"oracle_extract differs on {bad_oracle}")
        self.attempted = len(rows)
        self.failed = dropped + len(bad | set(bad_oracle))
        return not self.problems

    def replay(self) -> dict[str, float]:
        from accountant_pdf_extract_spark.session import ARROW_BATCH_ROWS
        from accountant_pdf_extract_spark.sources.synth import DEFAULT_WORDS, build_doc

        rows = self._rows()
        t0 = time.perf_counter()
        docs = [
            build_doc(did, check.FLAGSHIP_GEN_SEED, (text or "").split() or DEFAULT_WORDS)
            for did, text in rows
        ]
        gen_s = time.perf_counter() - t0
        batches = [
            check.flagship_docs(rows[i : i + ARROW_BATCH_ROWS])
            for i in range(0, len(rows), ARROW_BATCH_ROWS)
        ]
        out = layers.kernel_layers(batches)
        out["synth.ms_per_doc"] = 1000 * gen_s / len(rows)
        out["synth.kb_per_doc"] = _payload_kb(docs)
        # generation and the kernel both run inside the Python stage
        out["python_work_s"] = gen_s + out["kernel.untraced_s"]
        return out


def _payload_kb(docs: list[list[tuple]]) -> float:
    return sum(len(s[1] or "") for d in docs for s in d) / 1024 / max(1, len(docs))


class HeavyJob(Workload):
    """``plans.job.run_job`` over a heavy generated corpus, written as
    partitioned parquet plus a commit log."""

    name = "heavy_job"
    n_docs = HEAVY_DOCS

    def prepare(self, spark) -> None:
        from accountant_pdf_extract_spark.sources.synth import synth_interleaved

        self.input = os.path.join(self.work, "heavy_in")
        synth_interleaved(spark, self.n_docs, seed=self.seed, heavy=True).write.mode(
            "overwrite"
        ).parquet(self.input)
        self.runs = 0

    def iterate(self, spark, collect: bool) -> dict:
        """Every iteration writes a fresh output and commit log (kept
        until the run ends); ``check`` reads the newest."""
        from accountant_pdf_extract_spark.plans.job import run_job

        self.runs += 1
        self.out = os.path.join(self.work, f"heavy_out{self.runs}")
        self.log = os.path.join(self.work, f"heavy_log{self.runs}")
        t0 = time.monotonic()
        res = run_job(spark, spark.read.parquet(self.input), self.out, self.log)
        total = time.monotonic() - t0
        return {
            "job.extract_write_s": res["wall_ms"] / 1000,
            "job.lineage_s": total - res["wall_ms"] / 1000,
            "commit_log.buckets": len(res["processed_buckets"]),
        }

    def _input_batches(self) -> list[pa.RecordBatch]:
        from accountant_pdf_extract_spark.session import ARROW_BATCH_ROWS

        return pq.read_table(self.input, columns=["doc_id", "spans"]).to_batches(
            max_chunksize=ARROW_BATCH_ROWS
        )

    def check(self) -> bool:
        from accountant_pdf_extract_spark.sources.commit_log import CommitLog

        files = glob.glob(os.path.join(self.out, "*", "*.parquet"))
        got = check.merge_prints(
            check.doc_prints(pq.read_table(f, columns=list(check.SPAN_COLS))) for f in files
        )
        want, dropped = check.reference_prints(self._input_batches())
        bad = check.mismatched_docs(got, want)
        log = CommitLog(self.log)
        recs = [
            pq.read_table(os.path.join(log.records_dir, f"{s['snapshot_id']}.parquet"))
            for s in log.snapshots()
        ]
        n_docs = sum(sum(r.column("n_docs").to_pylist()) for r in recs)
        n_spans = sum(sum(r.column("n_spans").to_pylist()) for r in recs)
        if bad:
            self.problems.append(f"{len(bad)} docs differ from in-process extract_batches")
        if (n_docs, n_spans) != (len(want), check.total_rows(want)):
            self.problems.append(
                f"commit log n_docs/n_spans {n_docs}/{n_spans} != "
                f"in-process {len(want)}/{check.total_rows(want)}"
            )
        self.attempted = self.n_docs
        self.failed = dropped + len(bad)
        return not self.problems

    def replay(self) -> dict[str, float]:
        from accountant_pdf_extract_spark.sources.synth import DEFAULT_WORDS, build_doc

        t0 = time.perf_counter()
        docs = [build_doc(i, self.seed, DEFAULT_WORDS, True) for i in range(self.n_docs)]
        gen_s = time.perf_counter() - t0
        out = layers.kernel_layers(self._input_batches())
        out["synth.ms_per_doc"] = 1000 * gen_s / self.n_docs
        out["synth.kb_per_doc"] = _payload_kb(docs)
        out["job.output_mb"] = _dir_bytes(self.out) / 2**20
        out["job.bytes_out_per_in"] = _dir_bytes(self.out) / _dir_bytes(self.input)
        # generation ran in set-up; only the kernel is in the timed stage
        out["python_work_s"] = out["kernel.untraced_s"]
        return out


WORKLOADS = {w.name: w for w in (Flagship, HeavyJob)}
