"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] (default: the cores this process may run
on) and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

`value` = wall seconds of the flagship end-to-end extraction (decode →
pdf layout parse → html strip → boilerplate strip → fields → assemble)
over the interleaved corpus derived from the sf documents table.

Measurement protocol (de-noised since r3 — single cold unpinned runs
carried ±30% swing, wider than real round-over-round deltas):
  * the process re-execs itself under ``taskset -c 0-(cpus-1)`` so the
    JVM cannot borrow idle cores (same pinning as bench/scaling.py);
  * every query runs THREE times in a fixed order; the reported number
    is the MEDIAN, and all runs are recorded per query under "runs"
    so a re-timing can be checked against the observed spread;
  * automated noise rejection (r4, was a manual protocol note): each
    pass snapshots /proc/stat — a pass whose hypervisor STEAL share
    exceeds 1% is marked polluted and its runs are EXCLUDED from the
    medians (when >= 2 clean runs remain); after the passes, any query
    whose clean-run max/min spread exceeds 2x gets up to two repair
    re-runs, and queries still bimodal after repair are listed under
    "noisy" so a round-over-round delta is never silently trusted.

Scaling-efficiency evidence (local[2] vs local[8] pinned) is produced
separately by ``python -m bench.scaling`` → BENCH/BASELINE.md.

The driver captures only the TAIL of stdout (~2000 chars), so the final
line carries ONLY the compact summary (metric/value/queries/sf/cpus/
policy/noisy/all_polluted — r4's enriched line overflowed the window and
the round's record parsed as null). The run-level evidence (raw runs,
clean subsets, per-pass steal) goes to BENCH/bench_detail.json, or to
$SPARK_GRAFT_BENCH_DETAIL when set.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

N_RUNS = 3

# fixed order: cheap Catalyst queries first, heavy kernel queries last,
# so GC churn from giant-PDF batches doesn't pollute relational timings
HEADLINE = [
    "tpch_q1",
    "tpch_q5",
    "q_agg",
    "q_join_smj",
    "q_rownum",
    "q_linefreq",
    "q_tokcount",
    "q_asof",
    "q_bigrams",
    "q_dedup_exact",
    "q_dedup_minhash",
    "q_dedup_lsh_rescored",
    "q_dedup_simhash",
    "q_embed_topk",
    "q_extract_fields",
    "q_extract_spans",   # flagship end-to-end extraction
]


def _repin(cpus: int) -> None:
    """Re-exec under taskset so the whole JVM/Python tree is confined
    to exactly `cpus` cores (CLAUDE.md: benchmarks must be pinned).
    Pins to the first `cpus` ids of the CURRENTLY allowed set — core
    ids need not start at 0 inside a container cpuset, and a host with
    fewer usable cores than requested just runs on what it has."""
    if os.environ.get("_BENCH_PINNED") == "1":
        return
    try:
        allowed = sorted(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux — run unpinned
        return
    os.environ["_BENCH_PINNED"] = "1"
    if len(allowed) <= cpus:
        return  # already at (or below) the budget — nothing to restrict
    import shutil

    if shutil.which("taskset") is None:
        return
    pick = ",".join(str(c) for c in allowed[:cpus])
    os.execvp(
        "taskset", ["taskset", "-c", pick, sys.executable, *sys.argv]
    )


def _cpu_ticks() -> tuple[int, int] | None:
    """(steal_ticks, total_ticks) from the aggregate /proc/stat line —
    the one external-interference signal visible from inside a pinned
    container (loadavg is dominated by our own JVM threads)."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        return (vals[7] if len(vals) > 7 else 0, sum(vals))
    except (OSError, ValueError, IndexError):
        return None


def _steal_frac(before, after) -> float | None:
    if before is None or after is None:
        return None
    dt = after[1] - before[1]
    return (after[0] - before[0]) / dt if dt > 0 else None


STEAL_LIMIT = 0.01   # >1% stolen CPU during a pass → pass is polluted
SPREAD_LIMIT = 2.0   # max/min > 2x within a query's clean runs → repair
MAX_REPAIRS = 2
MAX_EXTRA_PASSES = 2  # full-pass re-runs when every pass was polluted


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    # parse the scale factor BEFORE the multi-minute run — a dir not
    # ending in sf<number> must not discard three finished passes with
    # a ValueError while building the output dict
    try:
        sf = float(sf_dir.rstrip("/").split("sf")[-1])
    except ValueError:
        sf = None
    _repin(cpus)

    from accountant_pdf_extract_spark.plans import driver_queries
    from accountant_pdf_extract_spark.session import get_spark

    spark = get_spark(app="bench", master=f"local[{cpus}]")
    spark.range(10_000).selectExpr("sum(id)").collect()  # JVM warm-up

    qs = driver_queries.queries()

    def run_one(name: str) -> float:
        t0 = time.monotonic()
        qs[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        return round(time.monotonic() - t0, 3)

    # one UNRECORDED warm-up pass: the first execution of each query
    # pays codegen/broadcast/page-cache costs 2-4x the warm runs, which
    # the spread check would otherwise flag as noise on every query
    for name in HEADLINE:
        run_one(name)

    runs: dict[str, list[float]] = {name: [] for name in HEADLINE}
    pass_steal: list[float | None] = []

    def run_pass() -> None:
        i = len(pass_steal)
        ticks0 = _cpu_ticks()
        for name in HEADLINE:
            runs[name].append(run_one(name))
        sf_ = _steal_frac(ticks0, _cpu_ticks())
        pass_steal.append(sf_)
        print(f"  pass {i + 1}: " + ", ".join(
            f"{n}={runs[n][-1]}s" for n in ("tpch_q1", "q_extract_spans")
        ) + (f" steal={sf_:.4f}" if sf_ is not None else ""), file=sys.stderr)

    for _ in range(N_RUNS):
        run_pass()

    # noise rejection: drop whole passes that ran under hypervisor
    # steal (keep them in "runs" for the record). If fewer than 2
    # clean passes remain, SELF-HEAL: run up to MAX_EXTRA_PASSES more
    # full passes (a steal window usually clears within minutes) before
    # falling back to the full set with an explicit all_polluted flag —
    # r4's window polluted all three passes and the "steal_checked"
    # label silently overstated the medians.
    def clean_passes() -> list[int]:
        return [
            i for i, s in enumerate(pass_steal)
            if s is None or s <= STEAL_LIMIT
        ]

    extra = 0
    while len(clean_passes()) < 2 and extra < MAX_EXTRA_PASSES:
        print("  all passes steal-polluted — running an extra pass",
              file=sys.stderr)
        run_pass()
        extra += 1
    polluted = [
        i for i, s in enumerate(pass_steal)
        if s is not None and s > STEAL_LIMIT
    ]
    keep = clean_passes()
    all_polluted = len(keep) < 2
    if all_polluted:
        keep = list(range(len(pass_steal)))  # flag, don't drop
    clean: dict[str, list[float]] = {
        name: [rs[i] for i in keep] for name, rs in runs.items()
    }

    # per-query bimodality repair: a >2x max/min spread within one
    # process on an identical plan is host noise — re-run up to
    # MAX_REPAIRS times; queries still spread after repair are
    # reported under "noisy" rather than silently averaged over
    noisy: list[str] = []
    for name in HEADLINE:
        for _ in range(MAX_REPAIRS):
            rs = clean[name]
            if min(rs) <= 0 or max(rs) / min(rs) <= SPREAD_LIMIT:
                break
            rerun = run_one(name)
            clean[name].append(rerun)
            runs[name].append(rerun)
        rs = clean[name]
        if min(rs) > 0 and max(rs) / min(rs) > SPREAD_LIMIT:
            noisy.append(name)

    timings = {
        name: round(statistics.median(rs), 3) for name, rs in clean.items()
    }
    # COMPACT summary — the only stdout line; must stay well under the
    # driver's ~2000-char tail-capture window (r4 regression)
    out = {
        "metric": "flagship extraction wall time + headline query medians",
        "value": timings["q_extract_spans"],
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "policy": f"median_of_{len(keep)}_clean_pinned_passes",
        "noisy": noisy,
        "all_polluted": all_polluted,
    }
    line = json.dumps(out)
    assert len(line) < 1500, f"summary line too long ({len(line)} chars)"
    # run-level evidence (raw runs, clean subsets, per-pass steal) goes
    # to a side file the judge can read — NOT the stdout tail
    detail = {
        "summary": out,
        "runs": runs,
        "clean_runs": clean,
        "pass_steal": pass_steal,
        "polluted_passes": polluted,
        "affinity_cores": len(os.sched_getaffinity(0))
        if hasattr(os, "sched_getaffinity")
        else None,
    }
    detail_path = os.environ.get("SPARK_GRAFT_BENCH_DETAIL") or os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH",
        "bench_detail.json",
    )
    try:
        os.makedirs(os.path.dirname(detail_path), exist_ok=True)
        with open(detail_path, "w") as f:
            json.dump(detail, f, indent=1)
        print(f"  detail -> {detail_path}", file=sys.stderr)
    except OSError as e:  # detail is evidence, not the contract
        print(f"  detail write failed: {e}", file=sys.stderr)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
