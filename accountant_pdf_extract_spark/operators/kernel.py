"""The fused Arrow extraction kernel (SURVEY.md §2.9 U1–U9 as one
``mapInArrow`` pass).

Input batches: (doc_id: string, spans: list<struct<kind,text,media_ref,
offset>>).  ``extract_batches`` runs one per-document loop and emits
one row per output span, the doc's extracted fields riding on its
order==0 row (``schema.ARROW_FLAT_FIELDS``).  Arrow in, Arrow out —
the only Python boundary in the hot path; no per-row Python at the
Spark API level (``BASELINE.json:15``).
"""

from __future__ import annotations

from collections.abc import Iterator
from itertools import repeat
from operator import itemgetter

import pyarrow as pa

from accountant_pdf_extract_spark.operators.doccore import extract_doc
from accountant_pdf_extract_spark.schema import ARROW_FLAT_FIELDS


def _decode_spans_batch(batch: pa.RecordBatch):
    """Arrow decode of one input batch: the list<struct> column
    via flat child arrays + offsets instead of to_pylist() (which
    builds a dict per span — ~2x slower on string-heavy batches).
    .offsets index absolutely into .values (even for sliced arrays and
    null slots, which repeat the offset) — never use .flatten() here,
    it re-bases and breaks on slices."""
    doc_ids = batch.column("doc_id").to_pylist()
    # RecordBatch.column is always a contiguous pa.Array (ChunkedArray
    # exists only on Table) — no combine_chunks case here
    spans_col = batch.column("spans")
    list_offsets = spans_col.offsets.to_pylist()
    flat = spans_col.values
    return (
        doc_ids,
        list_offsets,
        flat.field("kind").to_pylist(),
        flat.field("text").to_pylist(),
        flat.field("media_ref").to_pylist(),
        flat.field("offset").to_pylist(),
    )


# DERIVED from the pinned schema — a hand-maintained copy could drift
# after a schema edit, and (because of the per-doc isolation fallback)
# the drift would surface as every doc silently dropped, not an error
_FLAT_TYPES = [f.type for f in ARROW_FLAT_FIELDS]
# a doc's field values in schema column order (columns 0-4 are the span)
_field_values = itemgetter(*ARROW_FLAT_FIELDS.names[5:])


def _yield_with_doc_isolation(cols, bounds, on_drop):
    """Build the output RecordBatch; if ONE doc's values break Arrow
    conversion (the build runs after all per-doc trys), retry doc by
    doc so only the offender is dropped — per-doc fault isolation must
    hold through the column build too, or one bad value kills the
    whole task.

    Fail-fast guard: if EVERY doc in the batch fails the per-doc
    retry, the failure is systemic (schema drift, a pyarrow behavior
    change, a kernel bug making column lengths unequal), not one bad
    payload — re-raise instead of silently dropping the whole batch
    (a job that 'succeeds' with zero output is the worst failure
    mode at 10^12 docs)."""

    def build(segments):
        return pa.RecordBatch.from_arrays(
            [pa.array(c, t) for c, t in zip(segments, _FLAT_TYPES)],
            schema=ARROW_FLAT_FIELDS,
        )

    try:
        yield build(cols)
        return
    except Exception:  # noqa: BLE001 — isolate the offending doc(s)
        pass
    survived, last_exc = 0, None
    for doc_id, lo, hi in bounds:
        seg = [c[lo:hi] for c in cols]
        try:
            batch = build(seg)
        except Exception as exc:  # noqa: BLE001
            last_exc = exc
            _report_drop(on_drop, doc_id, exc)
            continue
        if hi > lo:
            # zero-span docs must not count as survivors: an EMPTY
            # segment always builds regardless of value-level drift,
            # so it carries no evidence against a systemic failure
            survived += 1
        yield batch
    # threshold 8: an all-fail across >=8 independent docs is
    # vanishingly unlikely to be coincident bad payloads; below it a
    # tail batch of genuinely-bad docs keeps plain per-doc drop
    # semantics (other, larger batches would still raise)
    nonempty = sum(1 for _d, lo, hi in bounds if hi > lo)
    if nonempty >= 8 and survived == 0:
        raise RuntimeError(
            f"Arrow build failed for ALL {nonempty} non-empty docs in "
            "the batch — systemic failure (schema/pyarrow drift?), not "
            "a bad document; refusing to silently drop the batch"
        ) from last_exc


def _refuse_all_fail_batch(failures: list[Exception], n_docs: int) -> None:
    """Same systemic fail-fast as the Arrow-build guard, one stage
    earlier: if extract_doc itself raised for EVERY doc of a >=8-doc
    batch, that is a deploy-level regression (doccore/fields drift),
    not coincident bad payloads — a 10^12-doc job must not complete
    green with zero output on the strength of per-doc isolation."""
    if n_docs >= 8 and len(failures) == n_docs:
        raise RuntimeError(
            f"extract_doc raised for ALL {n_docs} docs in the batch — "
            "systemic failure, refusing to silently drop the batch"
        ) from failures[-1]


def _report_drop(on_drop, doc_id, exc) -> None:
    """Per-doc fault isolation sink: the executor-stdout line, then the
    ``on_drop`` callback when wired."""
    print(f"extract_doc failed for {doc_id!r}: {exc!r}", flush=True)
    if on_drop is not None:
        on_drop(doc_id, exc)


def _span_columns(cols, doc_id, spans, fields):
    """One row per output span.  The fields ride on the doc's order==0
    row only — duplicating Decimal/list cells per span row costs 20-50x
    more Arrow build time for zero information.  Whole-column extends,
    not a tuple per row: per-row tuples made a batch of span-heavy
    documents ~20% slower to assemble, mostly in cyclic-GC passes."""
    start, n = len(cols[0]), len(spans)
    if not n:
        return
    cols[0] += repeat(doc_id, n)
    for col, vals in zip(cols[1:5], zip(*spans)):
        col += vals
    heads = [start + i for i, span in enumerate(spans) if span[3] == 0]
    for col, val in zip(cols[5:], _field_values(fields)):
        col += repeat(None, n)
        for i in heads:
            col[i] = val


def extract_batches(
    batches: Iterator[pa.RecordBatch],
    on_drop=None,
) -> Iterator[pa.RecordBatch]:
    """One row per output span (``schema.ARROW_FLAT_FIELDS``): span
    decode, ``extract_doc`` per document with per-doc fault isolation,
    the all-fail guard, then the isolated Arrow build.

    ``on_drop(doc_id, exc)`` is invoked for each document whose
    extraction raised (per-doc fault isolation), after the
    executor-stdout line.  ``plans.pipeline.extract(keep_salt=True)``
    counts the drops per bucket through it, so they reach the commit
    log, not just a buried print."""
    for batch in batches:
        doc_ids, list_offsets, f_kind, f_text, f_ref, f_off = (
            _decode_spans_batch(batch)
        )
        cols: list[list] = [[] for _ in _FLAT_TYPES]
        bounds: list[tuple[str, int, int]] = []  # per-doc row spans
        doc_failures: list[Exception] = []
        for i, doc_id in enumerate(doc_ids):
            lo, hi = list_offsets[i], list_offsets[i + 1]
            try:
                out, fields = extract_doc(
                    list(
                        zip(f_kind[lo:hi], f_text[lo:hi], f_ref[lo:hi], f_off[lo:hi])
                    )
                )
            except Exception as exc:  # noqa: BLE001 — per-doc fault isolation:
                # one malformed payload must not kill a 100-TB job; the
                # doc yields zero rows and is counted through on_drop.
                _report_drop(on_drop, doc_id, exc)
                doc_failures.append(exc)
                continue
            start = len(cols[0])
            _span_columns(cols, doc_id, out, fields)
            bounds.append((doc_id, start, len(cols[0])))

        _refuse_all_fail_batch(doc_failures, len(doc_ids))
        yield from _yield_with_doc_isolation(cols, bounds, on_drop)
