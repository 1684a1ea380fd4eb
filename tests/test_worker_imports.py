"""The kernel worker's stat-checked zip importer invalidation
(``plans.pipeline._stat_checked_zip_invalidation``): an unchanged
archive is not re-read, a changed one is, and a pooled Python worker
that ran the kernel pays next to nothing for the per-task
``importlib.invalidate_caches()``."""

from __future__ import annotations

import importlib
import inspect
import json
import pathlib
import subprocess
import sys
import zipfile
import zipimport

from accountant_pdf_extract_spark.plans.pipeline import (
    _stat_checked_zip_invalidation,
)

ROOT = pathlib.Path(__file__).parent.parent


def test_zip_invalidation_rereads_only_changed_archives(tmp_path, monkeypatch):
    stock = zipimport.zipimporter.invalidate_caches
    # restore the stock method after the test
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", stock)
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("_zipstamp_a.py", "X = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    try:
        assert importlib.import_module("_zipstamp_a").X == 1
        importer = sys.path_importer_cache[str(archive)]

        _stat_checked_zip_invalidation()
        wrapped = zipimport.zipimporter.invalidate_caches
        _stat_checked_zip_invalidation()
        assert zipimport.zipimporter.invalidate_caches is wrapped
        assert inspect.getclosurevars(wrapped).nonlocals["stock"] is stock

        reads = []
        read_directory = zipimport._read_directory

        def counted(path):
            if path == str(archive):
                reads.append(path)
            return read_directory(path)

        monkeypatch.setattr(zipimport, "_read_directory", counted)
        importer.invalidate_caches()  # no stamp yet: read and stamp
        assert len(reads) == 1
        importer.invalidate_caches()
        importlib.invalidate_caches()
        assert len(reads) == 1  # unchanged archive: not re-read

        with zipfile.ZipFile(archive, "w") as zf:
            zf.writestr("_zipstamp_a.py", "X = 1\n")
            zf.writestr("_zipstamp_b.py", "Y = 2\n")
        importlib.invalidate_caches()
        assert len(reads) == 2
        assert importlib.import_module("_zipstamp_b").Y == 2
    finally:
        for name in ("_zipstamp_a", "_zipstamp_b"):
            sys.modules.pop(name, None)
        sys.path_importer_cache.pop(str(archive), None)


# Runs in its own local[2] JVM so the Python worker pool holds only
# workers this script started.  Prints one JSON line.
_WORKER_SCRIPT = r"""
import json

import pyarrow as pa

from __spark_entry__ import SF0001 as sf
from accountant_pdf_extract_spark.operators.kernel import extract_batches
from accountant_pdf_extract_spark.plans.driver_queries import queries
from accountant_pdf_extract_spark.session import get_spark
from accountant_pdf_extract_spark.sources.synth import documents_source

COLS = ["doc_id", "kind", "text", "media_ref", "order"]


def rows(table):
    return sorted(zip(*(table.column(c).to_pylist() for c in COLS)),
                  key=lambda r: (r[0], r[4]))


def timed_invalidation(batches):
    import importlib
    import time

    for _ in batches:
        pass
    t0 = time.perf_counter()
    importlib.invalidate_caches()
    yield pa.RecordBatch.from_pydict(
        {"ms": [(time.perf_counter() - t0) * 1e3]})


spark = get_spark(app="worker-imports", master="local[2]",
                  shuffle_partitions=2)
for _ in range(2):
    spark_rows = rows(queries()["q_extract_spans"](spark, sf).toArrow())
ms = [r.ms for r in spark.range(1, numPartitions=1)
      .mapInArrow(timed_invalidation, "ms double").collect()]

proxy, generate = documents_source(spark, sf, seed=42)
drops = []
local = pa.Table.from_batches(list(extract_batches(
    (generate(b) for b in proxy.toArrow().to_batches()),
    on_drop=lambda doc_id, exc: drops.append(doc_id),
)))
print(json.dumps({"ms": ms, "n": len(spark_rows), "drops": drops,
                  "same": spark_rows == rows(local)}))
spark.stop()
"""


def test_pooled_kernel_worker_skips_zip_reread():
    """After two runs of the registered q_extract_spans, a task in the
    same pooled worker times ``importlib.invalidate_caches()`` at
    ≤ 5 ms (a stock worker re-reads its zips once per zip importer:
    140–230 ms), and the Spark span output equals the
    in-process ``extract_batches`` over the same generated docs."""
    res = subprocess.run(
        [sys.executable, "-c", _WORKER_SCRIPT],
        capture_output=True,
        text=True,
        cwd=ROOT,
        timeout=400,
    )
    assert res.returncode == 0, res.stderr[-3000:]
    out = json.loads(res.stdout.strip().splitlines()[-1])
    assert out["n"] > 0 and out["drops"] == []
    assert out["same"]
    assert len(out["ms"]) == 1 and out["ms"][0] <= 5.0, out["ms"]
