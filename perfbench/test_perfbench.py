"""The benchmark's own tests.  They start Spark, so they are not part of
the repository's test suite; run them from the repository root with

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow as pa
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import battery  # noqa: E402
import check  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import sysmon  # noqa: E402
import tables  # noqa: E402
import workloads  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(workload: str, trace: int) -> tuple[list[str], dict]:
    env = dict(os.environ, PERFBENCH_SCALE="0.05")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    return lines, json.loads(lines[-1])


def _assert_printed(lines: list[str], result: dict, metrics: list[dict]) -> None:
    assert result["correct"] is True
    assert result["attempted"] >= 1 and result["failed"] == 0
    assert set(result["metrics"]) == {m["name"] for m in metrics}
    for m in metrics:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        assert any(
            line.split()[1:2] == [m["name"]] and line.split()[-1] == m["unit"]
            for line in lines[:-1]
        ), m["name"]
    assert any(line.split()[1:2] == ["failed_frac"] for line in lines[:-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_end_to_end(workload):
    lines, result = _run(workload, 0)
    _assert_printed(lines, result, SPEC["end_to_end"])
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_smoke_traced_reports_layers_and_overhead():
    lines, result = _run("heavy_job", 1)
    _assert_printed(lines, result, SPEC["per_layer"])
    got = {k: v["value"] for k, v in result["metrics"].items()}
    assert "trace.overhead_frac" in got
    assert got["spark.tasks"] > 0 and got["spark.python_stage_s"] > 0
    assert got["kernel.ms_per_doc"] > 0 and got["pdfparse.ms_per_doc"] > 0
    assert all(got[f"battery.{q}_s"] > 0 for q in battery.QUERIES)
    # heavy_job's own layers and the health counters print beside them
    printed = {line.split()[1]: line.split()[-1] for line in lines[:-1]}
    for name, unit in run.EXTRA_UNITS.items():
        assert printed.get(name) == unit, name
    # documents (the 20-document floor at the test scale) plus queries
    assert result["attempted"] == 20 + len(battery.QUERIES)


def _flagship(tmp_path) -> workloads.Flagship:
    wl = workloads.Flagship(seed=5, work=str(tmp_path))
    wl.sf = str(tmp_path)
    tables.write_documents(wl.sf, wl.seed, 12)
    return wl


def _in_process_output(wl) -> pa.Table:
    from accountant_pdf_extract_spark.operators.kernel import extract_batches

    out = list(extract_batches(iter([check.flagship_docs(wl._rows())])))
    return pa.Table.from_batches(out).select(list(check.SPAN_COLS))


def test_check_accepts_the_reference(tmp_path):
    wl = _flagship(tmp_path)
    wl.out = _in_process_output(wl)
    assert wl.check() and wl.failed == 0 and wl.attempted == 12


@pytest.mark.parametrize("perturb", ["drop_row", "alter_text"])
def test_check_trips_on_perturbed_output(tmp_path, perturb):
    wl = _flagship(tmp_path)
    good = _in_process_output(wl)
    rows = good.to_pylist()
    if perturb == "drop_row":
        del rows[len(rows) // 2]
    else:
        victim = next(r for r in rows if r["text"])
        victim["text"] += " tampered"
    wl.out = pa.Table.from_pylist(rows, schema=good.schema)
    assert not wl.check()
    assert wl.failed == 1
    assert wl.problems


def test_failed_check_prints_no_timing_and_exits_nonzero(tmp_path, capsys):
    wl = _flagship(tmp_path)
    rows = _in_process_output(wl).to_pylist()
    del rows[0]
    wl.out = pa.Table.from_pylist(rows)
    wl.check()
    record = {
        "workload": "flagship", "correct": False, "attempted": wl.attempted,
        "failed": wl.failed, "failed_frac": wl.failed / wl.attempted,
        "problems": wl.problems,
        "metrics": {"wall_s": {"value": 1.0, "unit": "s"}}, "extra_metrics": {},
    }
    assert run.report(record) != 0
    lines = capsys.readouterr().out.strip().splitlines()
    assert not any(line.split()[1:2] == ["wall_s"] for line in lines)
    assert any("CHECK FAILED" in line for line in lines)
    assert json.loads(lines[-1]) == {
        "correct": False, "attempted": 12, "failed": 1, "metrics": {},
    }


def test_battery_compare_trips_on_changed_value():
    import pandas as pd

    good = pd.DataFrame({"k": [1, 2, 3], "v": [10, 20, 30]})
    assert battery.compare(good, good.iloc[::-1]) is None
    assert battery.compare(good, good.iloc[:2]) is not None
    assert battery.compare(good, good.assign(v=[10, 20, 31])) is not None
    assert battery.compare(good, good.assign(v=[10.0, 20.0, 30.0])) is not None


def test_documents_follow_the_measured_shape():
    got = tables.documents(3, 2000).to_pydict()
    words = [t.split() for t in got["text"]]
    dups = [w for w in words if w[-1] == "dup"]
    assert len(dups) == int(tables.DUP_FRAC * 2000)
    originals = [w for w in words if w[-1] != "dup"]
    assert min(map(len, originals)) >= tables.MIN_WORDS
    assert max(map(len, originals)) <= tables.MAX_WORDS
    assert {x for w in originals for x in w} <= set(tables.VOCAB)
    texts = set(got["text"])
    assert all(" ".join(w[:-1]) in texts for w in dups)
    assert got["n_chars"] == [len(t) for t in got["text"]]
    assert tables.documents(3, 2000).equals(tables.documents(3, 2000))


def test_kernel_stage_spans_cover_kernel_wall():
    from accountant_pdf_extract_spark.sources.synth import (
        DEFAULT_WORDS,
        _spans_to_arrow,
        build_doc,
    )

    docs = [(f"doc-{i:08d}", build_doc(i, 11, DEFAULT_WORDS, True)) for i in range(120)]
    batches = [_spans_to_arrow(docs[i : i + 40]) for i in range(0, len(docs), 40)]
    with sysmon.one_core():
        got = layers.kernel_layers(batches)
    assert 0.9 <= got["kernel.span_sum_frac"] <= 1.1
    stages = sum(got[f"{s}.ms_per_doc"] for s in layers.STAGES)
    parts = stages + got["doccore.self_ms_per_doc"] + got["kernel.self_ms_per_doc"]
    assert parts == pytest.approx(got["kernel.ms_per_doc"], rel=1e-6)
    assert abs(parts / (1000 * got["kernel.untraced_s"] / len(docs)) - 1) <= 0.1
    assert got["pdfparse.ms_per_doc"] > 0 and got["layout.items_per_doc"] > 0
