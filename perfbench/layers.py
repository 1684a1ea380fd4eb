"""Per-layer measurement for the traced run.

Two sources, both outside the program's code:

* ``KernelTrace`` replays generation and the extraction kernel in this
  process and times the calls into each layer's public functions by
  wrapping the module attributes the kernel looks up at call time
  (``kernel.extract_doc``; ``doccore.parse_pdf_full``,
  ``pdf_to_items``, ``strip_html``, ``extract_fields``).  The wrappers
  are removed when the replay ends.
* ``spark_layer`` reads Spark's own stage and task metrics from the
  event log of a session started with event logging on.  Jobs are
  attributed to benchmark iterations through the ``perfbench.iter``
  local property.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

import pyarrow as pa

STAGES = {
    "pdfparse": "parse_pdf_full",
    "layout": "pdf_to_items",
    "htmlstrip": "strip_html",
    "fields": "extract_fields",
}

ITER_PROP = "perfbench.iter"

# physical operators that run Python workers
_PYTHON_NODES = ("InArrow", "InPandas", "EvalPython")


class KernelTrace:
    """Accumulates span time and counts for one replay."""

    def __init__(self) -> None:
        self.total = {name: 0.0 for name in STAGES}
        self.doc_times: list[float] = []
        self.zero_page_pdfs = 0
        self.items = 0
        self.field_hits = 0

    @contextmanager
    def installed(self):
        from accountant_pdf_extract_spark.operators import doccore, kernel

        saved_doc = kernel.extract_doc
        saved = {fn: getattr(doccore, fn) for fn in STAGES.values()}

        def timed(layer, fn, after=None):
            def wrapper(*args):
                t0 = time.perf_counter()
                out = fn(*args)
                self.total[layer] += time.perf_counter() - t0
                if after is not None:
                    after(args, out)
                return out

            return wrapper

        def pdf_seen(args, out):
            if args[0] and not out[0]:
                self.zero_page_pdfs += 1

        def items_seen(_args, out):
            self.items += len(out)

        def fields_seen(_args, out):
            self.field_hits += out.get("invoice_id") is not None

        hooks = {"pdfparse": pdf_seen, "layout": items_seen, "fields": fields_seen}

        def doc_wrapper(spans):
            t0 = time.perf_counter()
            out = saved_doc(spans)
            self.doc_times.append(time.perf_counter() - t0)
            return out

        try:
            for layer, fn in STAGES.items():
                setattr(doccore, fn, timed(layer, saved[fn], hooks.get(layer)))
            kernel.extract_doc = doc_wrapper
            yield self
        finally:
            kernel.extract_doc = saved_doc
            for fn, orig in saved.items():
                setattr(doccore, fn, orig)


def run_kernel(batches: list[pa.RecordBatch]) -> float:
    """Wall seconds of ``extract_batches`` over ``batches``."""
    from accountant_pdf_extract_spark.operators.kernel import extract_batches

    t0 = time.perf_counter()
    for _out in extract_batches(iter(batches), on_drop=lambda d, e: None):
        pass
    return time.perf_counter() - t0


def _pct(values: list[float], q: float) -> float:
    ordered = sorted(values)
    return ordered[min(len(ordered) - 1, int(q * len(ordered)))] if ordered else 0.0


def kernel_layers(batches: list[pa.RecordBatch], pairs: int = 5) -> dict[str, float]:
    """Replay the kernel over ``batches`` in ``pairs`` alternating
    untraced/traced passes and split the fastest traced pass by layer
    (per document, in ms).  Both sides take their fastest pass, the one
    least disturbed by other load on the host."""
    n_docs = sum(b.num_rows for b in batches) or 1
    run_kernel(batches[:1])  # compile regexes, fill caches
    untraced, passes = [], []
    for _ in range(pairs):
        untraced.append(run_kernel(batches))
        trace = KernelTrace()
        with trace.installed():
            passes.append((run_kernel(batches), trace))
    traced_s, trace = min(passes, key=lambda p: p[0])
    untraced_s = min(untraced)
    doc_s = sum(trace.doc_times)
    stage_s = sum(trace.total.values())
    ms = 1000.0 / n_docs
    out = {
        "kernel.ms_per_doc": traced_s * ms,
        "kernel.self_ms_per_doc": (traced_s - doc_s) * ms,
        # the spans (kernel self + doccore self + stages) add up to the
        # traced pass; this is their sum over the untraced kernel wall
        "kernel.span_sum_frac": traced_s / untraced_s,
        "kernel.untraced_s": untraced_s,
        "doccore.self_ms_per_doc": (doc_s - stage_s) * ms,
        "doccore.doc_ms_p50": 1000.0 * _pct(trace.doc_times, 0.50),
        "doccore.doc_ms_p99": 1000.0 * _pct(trace.doc_times, 0.99),
        "pdfparse.zero_page_docs": trace.zero_page_pdfs,
        "layout.items_per_doc": trace.items / n_docs,
        "fields.hit_frac": trace.field_hits / n_docs,
    }
    for layer, total in trace.total.items():
        out[f"{layer}.ms_per_doc"] = total * ms
    return out


# ---------------------------------------------------------------- event log


def read_event_log(log_dir: str) -> list[dict]:
    events = []
    for dirpath, _dirs, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith(".") or name.endswith(".crc"):
                continue
            with open(os.path.join(dirpath, name)) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def spark_layer(events: list[dict]) -> dict[str, dict[str, float]]:
    """Per-iteration Spark metrics keyed by the ``perfbench.iter`` tag."""
    stage_iter: dict[int, str] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            tag = (e.get("Properties") or {}).get(ITER_PROP)
            if tag:
                for sid in e["Stage IDs"]:
                    stage_iter[sid] = tag
    stages: dict[int, dict] = {}
    for e in events:
        if e["Event"] == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            scopes = " ".join(r.get("Scope", "") for r in info["RDD Info"])
            stages[info["Stage ID"]] = {
                "python": any(n in scopes for n in _PYTHON_NODES),
                "dur_s": (info.get("Completion Time", 0) - info.get("Submission Time", 0)) / 1000,
            }
    tasks: dict[int, list[dict]] = {}
    for e in events:
        if e["Event"] == "SparkListenerTaskEnd":
            tasks.setdefault(e["Stage ID"], []).append(e)

    out: dict[str, dict[str, float]] = {}
    for tag in sorted(set(stage_iter.values())):
        sids = [s for s, t in stage_iter.items() if t == tag and s in stages]
        m = dict.fromkeys(
            ("tasks", "map_stage_s", "python_stage_s", "task_cpu_s",
             "task_skew", "shuffle_write_mb", "gc_s", "failed_tasks"), 0.0
        )
        py_run: list[float] = []
        for sid in sids:
            st_tasks = tasks.get(sid, [])
            shuffle_b = 0
            for t in st_tasks:
                tm = t.get("Task Metrics") or {}
                m["tasks"] += 1
                m["gc_s"] += tm.get("JVM GC Time", 0) / 1000
                shuffle_b += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                if t["Task Info"].get("Failed") or t["Task End Reason"]["Reason"] != "Success":
                    m["failed_tasks"] += 1
                elif stages[sid]["python"]:
                    py_run.append(tm.get("Executor Run Time", 0) / 1000)
            m["shuffle_write_mb"] += shuffle_b / 2**20
            if stages[sid]["python"]:
                m["python_stage_s"] += stages[sid]["dur_s"]
            elif shuffle_b:
                m["map_stage_s"] += stages[sid]["dur_s"]
        m["task_cpu_s"] = sum(py_run)
        if py_run and statistics.median(py_run) > 0:
            m["task_skew"] = max(py_run) / statistics.median(py_run)
        out[tag] = m
    return out
