"""THE correctness gate (``BASELINE.json:15``): per-document
span-sequence equality (kind, text, media_ref, order) between the
engine run under Spark and the committed oracle-generated golden
fixtures, plus extracted-fields equality, and media spans carried
through by ``media_ref`` whatever their payload."""

from __future__ import annotations

from tests.conftest import FIXDIR


def _rows(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_span_sequence_equality(spark):
    from accountant_pdf_extract_spark.plans.pipeline import extract, spans_view

    docs = spark.read.parquet(str(FIXDIR / "fixture_docs.parquet"))
    got = spans_view(extract(docs, salt_buckets=16, num_partitions=8))
    golden = spark.read.parquet(str(FIXDIR / "golden_spans.parquet"))

    cols = ["doc_id", "order", "kind", "text", "media_ref"]
    assert _rows(got, cols) == _rows(golden, cols)


def test_extracted_fields(spark):
    """The doc-level view of the extraction output — ``fields_view``
    (the order==0 rows, what ``q_extract_fields`` projects) — matches
    the golden fields.  A doc with zero output spans has no row: its
    spans all normalized to nothing, and the fields ride on span rows."""
    from accountant_pdf_extract_spark.plans.pipeline import extract, fields_view
    from accountant_pdf_extract_spark.schema import INPUT_SCHEMA

    docs = spark.read.parquet(str(FIXDIR / "fixture_docs.parquet"))
    flat = extract(docs, salt_buckets=16, num_partitions=8)
    golden = spark.read.parquet(str(FIXDIR / "golden_fields.parquet"))

    def key(df):
        rows = df.collect()
        out = {
            r["doc_id"]: (
                r["invoice_id"], r["invoice_date"], r["due_date"],
                r["currency"], r["total"], tuple(r["amounts"] or []),
                tuple(r["account_codes"] or []),
            )
            for r in rows
        }
        assert len(out) == len(rows), "more than one row for a doc"
        return out

    gold_k = key(golden)
    got_k = key(fields_view(flat))
    # docs with zero output spans have no row; golden keeps them with
    # all-null fields
    for doc_id, vals in gold_k.items():
        if doc_id in got_k:
            assert got_k[doc_id] == vals, doc_id
        else:
            assert vals == (None, None, None, None, None, (), ()), doc_id
    assert set(got_k) <= set(gold_k)

    # a doc whose only span is whitespace emits no span, so it has zero
    # rows in extract and none in fields_view
    inp = spark.createDataFrame(
        [
            ("empty", [{"kind": "text", "text": "   ", "media_ref": "", "offset": 0}]),
            ("real", [{"kind": "text", "text": "invoice body", "media_ref": "", "offset": 0}]),
        ],
        INPUT_SCHEMA,
    )
    flat = extract(inp, salt_buckets=4, num_partitions=2)
    assert flat.where("doc_id = 'empty'").count() == 0
    assert [r["doc_id"] for r in fields_view(flat).collect()] == ["real"]


def test_partition_invariance(spark):
    """Identical results at any salt bucket count / partitioning —
    the property that makes rows-only driver checks and cluster-size
    changes safe."""
    from accountant_pdf_extract_spark.plans.pipeline import extract, spans_view

    docs = spark.read.parquet(str(FIXDIR / "fixture_docs.parquet"))
    cols = ["doc_id", "order", "kind", "text", "media_ref"]
    a = _rows(spans_view(extract(docs, salt_buckets=2, num_partitions=2)), cols)
    b = _rows(spans_view(extract(docs, salt_buckets=512, num_partitions=64)), cols)
    assert a == b and len(a) > 0


def test_corrupt_media_payload_skipped_not_fatal(spark):
    """Media spans are carried through by media_ref, never decoded: an
    image XObject whose stream payload is a truncated JPEG, corrupt
    Flate data, or bytes that look like page content yields exactly
    the spans of the payload-free image — the media span by ref plus
    the page text, engine ≡ oracle — and a job over those docs keeps
    every doc."""
    from accountant_pdf_extract_spark.operators.doccore import extract_doc
    from accountant_pdf_extract_spark.plans.pipeline import extract, spans_view
    from accountant_pdf_extract_spark.schema import INPUT_SCHEMA
    from accountant_pdf_extract_spark.sources.pdfwriter import (
        PageBuilder,
        build_pdf,
    )
    from tests.oracle import pdf_spans

    ref = "media://sha/feedface"
    pg = PageBuilder()
    pg.text(72, 700, "Invoice 42")
    pg.image(100, 200, 50, 40, ref)
    pg.text(72, 100, "Total: $10.00")
    clean = build_pdf([pg])
    im_dict = (
        f"<< /Type /XObject /Subtype /Image /Name ({ref}) "
        "/Width 100 /Height 100 >>"
    )
    assert clean.count(im_dict) == 1

    def with_payload(filt: str, payload: bytes) -> str:
        body = payload.decode("latin-1")
        obj = (
            f"<< /Type /XObject /Subtype /Image /Name ({ref}) /Width 100 "
            f"/Height 100{filt} /Length {len(payload)} >>\n"
            f"stream\n{body}\nendstream"
        )
        return clean.replace(im_dict, obj)

    docs = {
        "clean": clean,
        "jpeg": with_payload(
            " /Filter /DCTDecode", b"\xff\xd8\xff\xe0\x00\x10JFIF\x00\x01"
        ),
        "flate": with_payload(" /Filter /FlateDecode", b"\x78\x9cnot zlib"),
        "ghost": with_payload("", b"BT /F1 10 Tf 72 400 Td (ghost) Tj ET"),
    }
    want, _ = extract_doc([("pdf", clean, "", 0)])
    assert ("media", "", ref) in [(k, t, m) for k, t, m, _ in want]
    assert {"Invoice 42", "Total: $10.00"} <= {t for _k, t, _m, _ in want}
    for name, doc in docs.items():
        got, _ = extract_doc([("pdf", doc, "", 0)])
        assert got == want, name
        assert [(k, t, m) for k, t, m, _ in got] == pdf_spans(doc), name

    inp = spark.createDataFrame(
        [
            (name, [{"kind": "pdf", "text": doc, "media_ref": "", "offset": 0}])
            for name, doc in docs.items()
        ],
        INPUT_SCHEMA,
    )
    rows = spans_view(
        extract(inp, salt_buckets=4, num_partitions=2)
    ).select("doc_id", "order", "kind", "text", "media_ref").collect()
    per_doc: dict = {}
    for r in sorted(rows, key=lambda r: (r["doc_id"], r["order"])):
        per_doc.setdefault(r["doc_id"], []).append(
            (r["kind"], r["text"], r["media_ref"])
        )
    assert set(per_doc) == set(docs)
    assert all(spans == per_doc["clean"] for spans in per_doc.values())
    assert ("media", "", ref) in per_doc["clean"]
