"""The driver parses bench.py stdout as ONE JSON line with pinned
keys — guard that contract (run at sf0.001 to keep it fast)."""

from __future__ import annotations

import json
import os
import pathlib
import subprocess
import sys

ROOT = pathlib.Path(__file__).parent.parent


def test_bench_one_json_line(tmp_path):
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.001"
    env["SPARK_GRAFT_CPUS"] = "8"
    # keep the tracked BENCH/bench_detail.json out of the test's writes
    detail_path = tmp_path / "bench_detail.json"
    env["SPARK_GRAFT_BENCH_DETAIL"] = str(detail_path)
    out = subprocess.run(
        [sys.executable, "bench.py"],
        capture_output=True,
        text=True,
        cwd=ROOT,
        env=env,
        timeout=500,
        check=True,
    )
    lines = [l for l in out.stdout.strip().splitlines() if l.strip()]
    assert len(lines) == 1, out.stdout
    # the driver captures only a ~2000-char stdout tail: the single
    # line must be compact (r4's enriched line overflowed → parsed:null)
    assert len(lines[0]) < 1500, len(lines[0])
    payload = json.loads(lines[0])
    assert payload["unit"] == "sec"
    assert isinstance(payload["value"], (int, float)) and payload["value"] > 0
    assert payload["sf"] == 0.001
    assert "q_extract_spans" in payload["queries"]
    assert all(v > 0 for v in payload["queries"].values())
    assert payload["policy"].startswith("median_of_")
    assert isinstance(payload["noisy"], list)
    assert isinstance(payload["all_polluted"], bool)
    # run-level evidence moved to the side file; medians must still be
    # computed over the recorded clean subset
    import statistics

    detail = json.loads(detail_path.read_text())
    assert detail["summary"]["queries"] == payload["queries"]
    for name, med in payload["queries"].items():
        rs = detail["runs"][name]
        assert len(rs) >= 3
        clean = detail["clean_runs"][name]
        assert len(clean) >= 2
        assert all(v in rs for v in clean)
        # bench.py rounds medians to 3dp; with an EVEN clean-run
        # count (a pass was steal-excluded) the median averages two
        # runs, so allow the rounding half-step
        assert abs(statistics.median(clean) - med) <= 5.01e-4
    assert isinstance(detail["polluted_passes"], list)


def test_package_zip_matches_source(tmp_path):
    """The --py-files artifact must byte-equal the package tree (built
    fresh — the zip is never committed, so it can't go stale)."""
    import pathlib
    import zipfile

    from tools.package import PKG, ROOT, build

    out = build(tmp_path / "pkg.zip")
    src = {
        str(p.relative_to(ROOT)): p.read_bytes() for p in PKG.rglob("*.py")
    }
    with zipfile.ZipFile(out) as zf:
        names = set(zf.namelist())
        assert names == set(src), names ^ set(src)
        for name in names:
            assert zf.read(name) == src[name], name
    # sanity: the zip actually carries the package (udtfs regression)
    assert "accountant_pdf_extract_spark/operators/udtfs.py" in names
