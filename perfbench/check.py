"""Correctness references for the benchmark.

Extraction outputs are compared per document: each side is reduced to
``{doc_id: (rows, hash-sum)}`` over ``(doc_id, kind, text, media_ref,
order)``, so row order does not matter and a mismatch names the
documents it touches.  The in-process reference runs the program's own
generator and ``extract_batches`` kernel in this process; dropped
documents are counted exactly through the kernel's ``on_drop``
callback.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterable

import pyarrow as pa

SPAN_COLS = ("doc_id", "kind", "text", "media_ref", "order")
_MASK = (1 << 64) - 1

# q_extract_spans generates its payloads with this fixed seed; the
# in-process reference must use the same one to build the same PDFs
FLAGSHIP_GEN_SEED = 42


def row_hash(row: tuple) -> int:
    digest = hashlib.blake2b(repr(row).encode(), digest_size=8).digest()
    return int.from_bytes(digest, "little")


def doc_prints(table: pa.Table | pa.RecordBatch) -> dict[str, tuple[int, int]]:
    """Per-document (row count, order-independent hash sum)."""
    cols = [table.column(c).to_pylist() for c in SPAN_COLS]
    out: dict[str, tuple[int, int]] = {}
    for row in zip(*cols):
        n, h = out.get(row[0], (0, 0))
        out[row[0]] = (n + 1, (h + row_hash(row)) & _MASK)
    return out


def merge_prints(parts: Iterable[dict]) -> dict[str, tuple[int, int]]:
    out: dict[str, tuple[int, int]] = {}
    for part in parts:
        for doc, (n, h) in part.items():
            n0, h0 = out.get(doc, (0, 0))
            out[doc] = (n0 + n, (h0 + h) & _MASK)
    return out


def mismatched_docs(got: dict, want: dict) -> list[str]:
    return sorted(d for d in set(got) | set(want) if got.get(d) != want.get(d))


def total_rows(prints: dict) -> int:
    return sum(n for n, _h in prints.values())


def reference_prints(batches: list[pa.RecordBatch]) -> tuple[dict, int]:
    """(per-doc prints, dropped docs) of in-process ``extract_batches``."""
    from accountant_pdf_extract_spark.operators.kernel import extract_batches

    dropped = []
    out = list(extract_batches(iter(batches), on_drop=lambda d, e: dropped.append(d)))
    return merge_prints(doc_prints(b) for b in out), len(dropped)


def flagship_docs(rows: list[tuple[int, str]]) -> pa.RecordBatch:
    """The interleaved input ``q_extract_spans`` generates for
    ``documents`` rows ``(doc_id, text)``."""
    from accountant_pdf_extract_spark.sources.synth import (
        DEFAULT_WORDS,
        _spans_to_arrow,
        build_doc,
    )

    return _spans_to_arrow([
        (
            f"doc-{did:08d}",
            build_doc(did, FLAGSHIP_GEN_SEED, (text or "").split() or DEFAULT_WORDS),
        )
        for did, text in rows
    ])


def oracle_mismatches(spark_out: pa.Table, docs: pa.RecordBatch) -> list[str]:
    """Documents of ``docs`` whose Spark span sequence differs from
    ``tests/oracle.py::oracle_extract`` on the same input."""
    from tests.oracle import oracle_extract

    by_doc: dict[str, list[tuple]] = {}
    for row in zip(*(spark_out.column(c).to_pylist() for c in SPAN_COLS)):
        by_doc.setdefault(row[0], []).append(row[1:])
    bad = []
    for doc_id, spans in zip(
        docs.column("doc_id").to_pylist(), docs.column("spans").to_pylist()
    ):
        want, _fields = oracle_extract(
            [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]
        )
        if sorted(by_doc.get(doc_id, []), key=lambda s: s[3]) != want:
            bad.append(doc_id)
    return bad
