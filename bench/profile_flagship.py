"""cProfile BOTH halves of the timed flagship path (r6 optimization):

1. corpus generation — ``build_doc`` exactly as q_extract_spans's
   ``documents_source`` generator invokes it (vocab from the sf
   documents table, heavy=False), and
2. the extraction kernel — ``extract_batches`` over that corpus.

Both run inside the timed region of the driver's q_extract_spans /
q_extract_fields, so per-half shares tell us where the optimization
leverage is.  No Spark needed: reads the documents parquet with
pyarrow.  Run pinned::

    taskset -c 0 python -m bench.profile_flagship [n_docs] [sf_dir]
"""
from __future__ import annotations

import cProfile
import io
import pstats
import sys
import time

if "" not in sys.path:
    sys.path.insert(0, "")

import pyarrow.parquet as pq

from accountant_pdf_extract_spark.operators.kernel import extract_batches
from accountant_pdf_extract_spark.sources.synth import (
    DEFAULT_WORDS,
    _spans_to_arrow,
    build_doc,
)


def top(profile: cProfile.Profile, n: int = 20) -> str:
    buf = io.StringIO()
    stats = pstats.Stats(profile, stream=buf)
    stats.sort_stats("cumulative").print_stats(n)
    return buf.getvalue()


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1000
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    ids = tbl.column("doc_id").to_pylist()[:n_docs]
    texts = tbl.column("text").to_pylist()[:n_docs]

    # warm-up (regex compile, lru caches)
    rows = [(f"doc-{d:08d}", build_doc(int(d), 42, (t or "").split() or DEFAULT_WORDS))
            for d, t in zip(ids[:32], texts[:32])]
    list(extract_batches(iter([_spans_to_arrow(rows)])))

    # ---- half 1: synth generation
    t0 = time.perf_counter()
    p1 = cProfile.Profile()
    p1.enable()
    batches = []
    for lo in range(0, n_docs, 256):
        rows = [
            (f"doc-{d:08d}", build_doc(int(d), 42, (t or "").split() or DEFAULT_WORDS))
            for d, t in zip(ids[lo:lo + 256], texts[lo:lo + 256])
        ]
        batches.append(_spans_to_arrow(rows))
    p1.disable()
    gen_wall = time.perf_counter() - t0

    # ---- half 2: extraction kernel
    t0 = time.perf_counter()
    p2 = cProfile.Profile()
    p2.enable()
    n = 0
    for out in extract_batches(iter(batches)):
        n += out.num_rows
    p2.disable()
    ext_wall = time.perf_counter() - t0

    print("==== GEN (build_doc, synth half) ====")
    print(top(p1))
    print("==== EXTRACT (kernel half) ====")
    print(top(p2))
    print(
        f"docs={n_docs} out_rows={n} gen_wall={gen_wall:.3f}s "
        f"extract_wall={ext_wall:.3f}s "
        f"gen_share={gen_wall / (gen_wall + ext_wall):.2%}"
    )


if __name__ == "__main__":
    main()
