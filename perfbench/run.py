"""Benchmark for the extraction engine: one workload per run.

    python3 perfbench/run.py --workload flagship --seed 1 --seconds 8 --trace 0

Run from the repository root.  The process re-executes itself under
``taskset`` pinned to its whole affinity set and runs Spark as
``local[<cores>]`` with the program's defaults, setting only
``SPARK_GRAFT_CPUS`` to the core count and ``SPARK_LOCAL_DIRS`` to a
working directory under ``perfbench/.work``.

``--trace 0`` measures the end-to-end metrics: set-up time, the cold
first iteration, the median warm iteration over at least ``--seconds``
seconds and at least three iterations, documents per second and the peak RSS of the process tree.
``--trace 1`` does the same untraced, then restarts Spark with its
event log on, repeats the iterations, runs the query battery
(``battery.py``), and replays the Python work in-process with each
layer's public functions timed; it reports the per-layer metrics
(``layers.py``).  Both modes check the outputs (``check.py``); a
mismatch counts in ``failed`` and fails the run: ``correct`` is false,
no timing is printed and the exit code is 1.  Every run appends one
stamped file under ``perfbench/results``.  The last stdout line is the
JSON result.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_WARM = 3


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    return p.parse_args()


def _pin() -> None:
    """Re-exec under taskset on the whole affinity set, so the pin is
    explicit and recorded even when it restricts nothing."""
    if os.environ.get("_PERFBENCH_PINNED") == "1" or shutil.which("taskset") is None:
        return
    os.environ["_PERFBENCH_PINNED"] = "1"
    cores = ",".join(map(str, sorted(os.sched_getaffinity(0))))
    os.execvp("taskset", ["taskset", "-c", cores, sys.executable, *sys.argv])


def _units(section: str) -> dict[str, str]:
    """Metric name -> unit for ``end_to_end`` or ``per_layer``."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


class Session:
    """One Spark session on its own JVM; ``stop`` ends the JVM and
    waits for it."""

    def __init__(self, extra_conf: dict | None = None) -> None:
        from accountant_pdf_extract_spark.session import get_spark

        self.spark = get_spark(app="perfbench", extra_conf=extra_conf)
        self.spark.range(10_000).selectExpr("sum(id)").collect()  # JVM warm-up

    def tag(self, label: str) -> None:
        import layers

        self.spark.sparkContext.setLocalProperty(layers.ITER_PROP, label)

    def stop(self) -> None:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = gateway.proc
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _timed_iterations(sess: Session, wl, seconds: float, min_warm: int = MIN_WARM) -> dict:
    """Cold iteration, then warm ones until ``seconds`` have passed
    (at least ``min_warm``).  The cold iteration collects its output
    for the check; warm ones use the workload's own sink.  Records
    hypervisor steal per iteration."""
    import sysmon

    its = []
    t_warm = None
    while True:
        label = "cold" if not its else f"warm{len(its)}"
        sess.tag(label)
        ticks = sysmon.cpu_ticks()
        t0 = time.monotonic()
        detail = wl.iterate(sess.spark, collect=not its)
        wall = time.monotonic() - t0
        its.append({
            "label": label, "wall_s": wall,
            "steal": sysmon.steal_frac(ticks, sysmon.cpu_ticks()), **detail,
        })
        if t_warm is None:
            t_warm = time.monotonic()
        elif len(its) - 1 >= min_warm and time.monotonic() - t_warm >= seconds:
            break
    sess.tag("")
    return {"iterations": its, "warm": its[1:]}


def _median_of(items: list[dict], key: str) -> float:
    return statistics.median(it[key] for it in items)


def main() -> int:
    args = _args()
    if not os.path.isdir(os.path.join(ROOT, "accountant_pdf_extract_spark")):
        print("perfbench: run from a checkout of the repository", file=sys.stderr)
        return 2
    _pin()
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))
    stamp = time.strftime("%Y%m%dT%H%M%SZ", time.gmtime()) + f"-{os.getpid()}"
    work = os.path.join(HERE, ".work", stamp)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # keep the JVM's and the workers' temporary files inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    try:
        record = _run(args, work, cores)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    results = os.path.join(HERE, "results")
    os.makedirs(results, exist_ok=True)
    name = f"{stamp}-{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "x") as f:
        json.dump(record, f, indent=1)
    return report(record)


def report(record: dict) -> int:
    """Print the result.  A run whose check failed prints no timings:
    its JSON line has empty ``metrics`` and the exit code is 1."""
    wl = record["workload"]
    if record["correct"]:
        for metric, v in {**record["metrics"], **record["extra_metrics"]}.items():
            print(f"{wl:10s} {metric:34s} {v['value']:14.6f} {v['unit']}")
    print(f"{wl:10s} {'failed_frac':34s} {record['failed_frac']:14.6f} ratio")
    for problem in record["problems"]:
        print(f"{wl:10s} CHECK FAILED: {problem}")
    result = {k: record[k] for k in ("correct", "attempted", "failed")}
    result["metrics"] = record["metrics"] if record["correct"] else {}
    print(json.dumps(result))
    return 0 if record["correct"] else 1


# Layer metrics a traced run prints and records beside ``per_layer``:
# health counters that read 0 on a sound run, and the job and commit-log
# split that only heavy_job has.  BENCHMARK.json lists only metrics that
# every workload reports non-zero.
EXTRA_UNITS = {
    "spark.failed_tasks": "count",
    "pdfparse.zero_page_docs": "count",
    "job.extract_write_s": "s",
    "job.lineage_s": "s",
    "job.output_mb": "MB",
    "job.bytes_out_per_in": "ratio",
    "commit_log.buckets": "count",
}


def _run(args, work: str, cores: int) -> dict:
    import sysmon
    import workloads

    wl = workloads.WORKLOADS[args.workload](args.seed, work)
    sess = Session()
    t_spark = time.monotonic() - T_START
    wl.prepare(sess.spark)
    setup_s = time.monotonic() - T_START
    with sysmon.PeakRss() as rss:
        # a traced run reports no end-to-end metric: it needs the
        # untraced walls only for trace.overhead_frac and the job split
        timed = (_timed_iterations(sess, wl, 0, min_warm=2) if args.trace
                 else _timed_iterations(sess, wl, args.seconds))
    t0 = time.monotonic()
    wl.check()
    check_s = time.monotonic() - t0
    sess.stop()

    wall = _median_of(timed["warm"], "wall_s")
    e2e = {
        "setup_s": setup_s,
        "cold_wall_s": timed["iterations"][0]["wall_s"],
        "wall_s": wall,
        "docs_per_s": wl.n_docs / wall,
        "peak_rss_mb": rss.peak_mb,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": cores, "affinity": sysmon.affinity(),
        "end_to_end": e2e, "spark_start_s": t_spark, "check_s": check_s,
        "untraced": timed, "metrics": {}, "extra_metrics": {},
    }
    # a run whose outputs are wrong is not traced and reports no timings
    if args.trace and not wl.problems:
        values, record["traced"] = _trace(args, wl, work, timed)
        record["traced_values"] = values
    if wl.problems:
        pass
    elif args.trace:
        record["metrics"] = {k: {"value": float(values[k]), "unit": u}
                             for k, u in _units("per_layer").items()}
        record["extra_metrics"] = {k: {"value": float(values[k]), "unit": u}
                                   for k, u in EXTRA_UNITS.items() if k in values}
    else:
        record["metrics"] = {k: {"value": float(e2e[k]), "unit": u}
                             for k, u in _units("end_to_end").items()}
    record.update(
        correct=not wl.problems, attempted=wl.attempted, failed=wl.failed,
        failed_frac=wl.failed / max(1, wl.attempted), problems=wl.problems,
    )
    return record


def _trace(args, wl, work: str, untraced: dict) -> tuple[dict, dict]:
    """Per-layer values: a second session with the event log on, in
    which the workload's iterations and then the query battery run,
    followed by the in-process replay.  Battery queries count as
    attempted operations; one that fails or differs from its oracle
    fails the run."""
    import battery
    import layers
    import sysmon
    import tables
    import workloads

    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    sess = Session({
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    })
    # one warm iteration suffices: the split is per-task and per-stage
    traced = _timed_iterations(sess, wl, 0, min_warm=1)
    sf = os.path.join(work, "battery")
    names = tables.write_battery_tables(sf, args.seed, workloads.BATTERY_DOCS)
    values, problems = battery.run(sess.spark, sf, names)
    sess.stop()
    wl.attempted += len(battery.QUERIES)
    wl.failed += len(problems)
    wl.problems.extend(problems)
    per_iter = layers.spark_layer(layers.read_event_log(log_dir))
    warm = [per_iter[it["label"]] for it in traced["warm"] if it["label"] in per_iter]
    if not warm:
        raise RuntimeError(f"no tagged warm iterations in the event log under {log_dir}")
    values.update({f"spark.{k}": statistics.median(m[k] for m in warm) for k in warm[0]})
    # a warm iteration often triggers no collection at all, so GC time
    # is summed over the cold and the warm iterations
    values["spark.gc_s"] = sum(m["gc_s"] for m in per_iter.values())
    # the job split comes from the untraced iterations
    for key in untraced["warm"][0]:
        if "." in key:
            values[key] = _median_of(untraced["warm"], key)
    with sysmon.one_core():
        values.update(wl.replay())
    values["spark.udf_boundary_s"] = values["spark.task_cpu_s"] - values["python_work_s"]
    values["trace.overhead_frac"] = (
        _median_of(traced["warm"], "wall_s") / _median_of(untraced["warm"], "wall_s") - 1
    )
    return values, traced


if __name__ == "__main__":
    sys.exit(main())
