"""Unit tests per kernel (SURVEY.md §5.2): tokenizer ops, clustering
tolerances, table heuristics, boilerplate, html, field rules."""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

import pytest

from accountant_pdf_extract_spark.operators.doccore import extract_doc
from accountant_pdf_extract_spark.operators.fields import (
    amounts_in,
    dates_in,
    extract_fields,
    parse_amount,
)
from accountant_pdf_extract_spark.operators.htmlstrip import strip_html
from accountant_pdf_extract_spark.operators.layout import normalize_line
from accountant_pdf_extract_spark.operators.pdfparse import parse_pdf
from accountant_pdf_extract_spark.sources.pdfwriter import PageBuilder, build_pdf


def _pdf(*pages: PageBuilder) -> bytes:
    return build_pdf(list(pages)).encode("latin-1")


def test_tokenizer_td_tj():
    pg = PageBuilder()
    pg.text(72, 700, "hello (world) \\ ok")
    pages = parse_pdf(_pdf(pg))
    assert len(pages) == 1
    assert pages[0].runs[0].text == "hello (world) \\ ok"
    assert pages[0].runs[0].x == 72 and pages[0].runs[0].y == 700


def test_tokenizer_tj_kerning():
    pg = PageBuilder()
    pg.text_tj(72, 700, ["a", -250.0, "b", -100.0, "c"])
    pages = parse_pdf(_pdf(pg))
    assert pages[0].runs[0].text == "a bc"


def test_tokenizer_text_block_tstar():
    pg = PageBuilder()
    pg.text_block(72, 700, ["first", "second", "third"], leading=20)
    pages = parse_pdf(_pdf(pg))
    ys = [r.y for r in pages[0].runs]
    assert ys == [700, 680, 660]


def test_line_clustering_tolerance():
    pg = PageBuilder()
    pg.text(72, 700.0, "left")
    pg.text(120, 701.5, "same line")  # within 2pt tolerance
    pg.text(72, 680.0, "next line")
    out, _ = extract_doc([("pdf", build_pdf([pg]), "", 0)])
    texts = [t for _, t, _, _ in out]
    assert texts == ["left\tsame line", "next line"]  # 48pt gap → tab? no:
    # 72+0.5*10*4=92 end; 120-92=28 > 18 → tab. Correct.


def test_space_vs_concat_gap():
    pg = PageBuilder()
    pg.text(72, 700, "ab")  # end_x = 82
    pg.text(83, 700, "cd")  # gap 1 < 2.5 → concat
    pg.text(72, 680, "ef")  # end_x = 82
    pg.text(90, 680, "gh")  # gap 8 → space (2.5 < 8 <= 18)
    out, _ = extract_doc([("pdf", build_pdf([pg]), "", 0)])
    texts = [t for _, t, _, _ in out]
    assert texts == ["abcd", "ef gh"]


def test_ruled_table_tab():
    pg = PageBuilder()
    pg.text(72, 500, "A")
    pg.text(100, 500, "B")  # gap 100-77=23 > 18 → tab anyway
    pg.text(72, 480, "C")
    pg.text(90, 480, "D")  # gap 13 → space, but vrule at 85 → tab
    pg.vrule(85, 470, 40)
    out, _ = extract_doc([("pdf", build_pdf([pg]), "", 0)])
    texts = [t for _, t, _, _ in out]
    assert texts == ["A\tB", "C\tD"]


def test_boilerplate_strip_multipage():
    pages = []
    for i in range(3):
        pg = PageBuilder()
        pg.text(72, 760, "Corp Header 99")
        pg.text(72, 30, f"Page {i+1} of 3")
        pg.text(72, 500, f"unique body {i}")
        pages.append(pg)
    out, _ = extract_doc([("pdf", build_pdf(pages), "", 0)])
    texts = [t for _, t, _, _ in out]
    assert texts == ["unique body 0", "unique body 1", "unique body 2"]


def test_boilerplate_kept_single_page():
    pg = PageBuilder()
    pg.text(72, 760, "Corp Header")
    pg.text(72, 500, "body")
    out, _ = extract_doc([("pdf", build_pdf([pg]), "", 0)])
    assert [t for _, t, _, _ in out] == ["Corp Header", "body"]


def test_normalize_line():
    # digit RUNS collapse to one # — "Page 9 of 36" and "Page 10 of
    # 36" must normalize identically or >=10-page docs leak footers
    assert normalize_line("Page 3 of 12") == "page # of #"
    assert normalize_line("Page 10 of 12") == "page # of #"


def test_image_media_ref_passthrough():
    pg = PageBuilder()
    pg.text(72, 700, "before")
    pg.image(100, 400, 120, 80, "media://sha/feedface00000000")
    out, _ = extract_doc([("pdf", build_pdf([pg]), "", 0)])
    assert out == [
        ("text", "before", "", 0),
        ("media", "", "media://sha/feedface00000000", 1),
    ]


def test_html_drop_and_entities():
    blocks = strip_html(
        "<body><script>x=1</script><nav><a href='/'>A B C D E</a></nav>"
        "<p>Tom &amp; Jerry keep the books.</p></body>"
    )
    assert blocks == ["Tom & Jerry keep the books."]


def test_html_link_density():
    blocks = strip_html(
        "<div><a href='/'>all of this text is a link here</a></div>"
        "<div>plain long enough content <a href='/'>tiny</a></div>"
    )
    assert blocks == ["plain long enough content tiny"]


def test_parse_amount_locales():
    assert parse_amount("1,234.56") == Decimal("1234.56")
    assert parse_amount("1.234,56") == Decimal("1234.56")
    assert parse_amount("12 345.00") == Decimal("12345.00")
    assert parse_amount("500") == Decimal("500.00")
    assert parse_amount("1,234") == Decimal("1234.00")


def test_amounts_in_forms():
    got = amounts_in("x $1,234.56 and 1.234,56 € and ($987.65) and £12 345.00")
    vals = [(c, v) for _, c, v in got]
    assert ("USD", Decimal("1234.56")) in vals
    assert ("EUR", Decimal("1234.56")) in vals
    assert ("USD", Decimal("-987.65")) in vals
    assert ("GBP", Decimal("12345.00")) in vals


def test_amounts_without_thousands_separators_not_truncated():
    # the old \d{1,3} head silently parsed "$1234.56" as 123.00
    assert [(c, v) for _, c, v in amounts_in("Total: $1234.56")] == [
        ("USD", Decimal("1234.56"))
    ]
    assert [(c, v) for _, c, v in amounts_in("betrag 9876,00 € offen")] == [
        ("EUR", Decimal("9876.00"))
    ]
    assert [(c, v) for _, c, v in amounts_in("$500 and $12.34")] == [
        ("USD", Decimal("500.00")),
        ("USD", Decimal("12.34")),
    ]


def test_dates_in_forms():
    line = "2025-03-07 07.04.2025 07/05/2025 March 7, 2025 Mar 8, 2025"
    ds = [d for _, d in dates_in(line)]
    assert ds == [
        dt.date(2025, 3, 7),
        dt.date(2025, 4, 7),
        dt.date(2025, 5, 7),
        dt.date(2025, 3, 7),
        dt.date(2025, 3, 8),
    ]


def test_account_code_guard_excludes_dates():
    f = extract_fields(["Account opened 2025-03-07 code 1200-4711"])
    assert f["account_codes"] == ["1200-4711"]


def test_due_after_anchor():
    f = extract_fields(["Fecha: 07/03/2025 vencimiento: 15/04/2025"])
    assert f["invoice_date"] == dt.date(2025, 3, 7)
    assert f["due_date"] == dt.date(2025, 4, 15)


def test_total_last_anchor_wins():
    f = extract_fields(["Subtotal: $10.00", "Total: $15.00", "Balance: $5.00"])
    assert f["total"] == Decimal("5.00")


def test_offset_ordering():
    out, _ = extract_doc(
        [("text", "b", "", 1), ("text", "a", "", 0), ("media", "", "m", 2)]
    )
    assert out == [("text", "a", "", 0), ("text", "b", "", 1), ("media", "", "m", 2)]


def _raw_pdf(contents: list[str]) -> str:
    objs = []
    page_contents = " ".join(
        f"{4 + i} 0 R" for i in range(len(contents))
    )
    head = (
        "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n"
        "3 0 obj << /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        f"/Contents [{page_contents}] >> endobj\n"
    )
    for i, c in enumerate(contents):
        objs.append(
            f"{4 + i} 0 obj << /Length {len(c)} >>\nstream\n{c}endstream endobj\n"
        )
    return "%PDF-1.4\n" + head + "".join(objs) + "%%EOF\n"


def test_hex_strings_octal_escapes_contents_array():
    from tests.oracle import pdf_spans

    pdf = _raw_pdf(
        [
            "BT /F1 10 Tf 72 700 Td <48656C6C6F20686578> Tj ET\n",
            "BT /F1 10 Tf 72 680 Td (octal \\101\\102\\103 ok) Tj ET\n"
            "BT /F1 10 Tf 72 660 Td [(hx) -250 <414243>] TJ ET\n",
        ]
    )
    out, _ = extract_doc([("pdf", pdf, "", 0)])
    texts = [t for _, t, _, _ in out]
    assert texts == ["Hello hex", "octal ABC ok", "hx ABC"]
    # oracle mirrors the extended subset
    assert [t for k, t, _ in pdf_spans(pdf)] == texts


def test_footer_only_page():
    pg = PageBuilder()
    pg.text(72, 30, "Page 1 of 1")
    out, _ = extract_doc([("pdf", build_pdf([pg]), "", 0)])
    # single page → no boilerplate strip; footer text survives
    assert [t for _, t, _, _ in out] == ["Page 1 of 1"]


def test_media_in_header_zone_survives_boilerplate():
    pages = []
    for i in range(2):
        pg = PageBuilder()
        pg.text(72, 760, "Repeat Header")
        pg.image(100, 760, 50, 20, f"media://sha/{i:016x}")
        pg.text(72, 400, f"body {i}")
        pages.append(pg)
    out, _ = extract_doc([("pdf", build_pdf(pages), "", 0)])
    kinds = [(k, t or r) for k, t, r, _ in out]
    # header text stripped on both pages; media pass through
    assert ("text", "Repeat Header") not in kinds
    assert ("media", "media://sha/0000000000000000") in kinds
    assert ("media", "media://sha/0000000000000001") in kinds
    assert ("text", "body 0") in kinds and ("text", "body 1") in kinds


def test_two_col_rejected_when_line_crosses_center():
    pg = PageBuilder()
    # 3 left, 3 right, but one long line crosses the center
    for i in range(3):
        pg.text(72, 700 - 30 * i, "left side txt")
        pg.text(340, 685 - 30 * i, "right side txt")
    pg.text(72, 560, "x" * 60)  # 72 + 300 = 372 end → crosses 306
    out, _ = extract_doc([("pdf", build_pdf([pg]), "", 0)])
    texts = [t for _, t, _, _ in out]
    # falls back to strict top-down interleave
    assert texts[0] == "left side txt" and texts[1] == "right side txt"


def test_tj_positive_kerning_no_space():
    pg = PageBuilder()
    pg.text_tj(72, 700, ["a", 120.0, "b"])
    out, _ = extract_doc([("pdf", build_pdf([pg]), "", 0)])
    assert [t for _, t, _, _ in out] == ["ab"]


def test_tj_inside_text_without_bt_state():
    # raw Tj with no BT: defaults place it at y=0 (footer zone), single
    # page → still emitted
    from tests.oracle import pdf_spans

    content = "/F1 10 Tf 72 500 Td (floating) Tj\n"
    pdf = _raw_pdf([content])
    out, _ = extract_doc([("pdf", pdf, "", 0)])
    assert [t for _, t, _, _ in out] == ["floating"]
    assert [t for _k, t, _r in pdf_spans(pdf)] == ["floating"]


def test_html_numeric_entities():
    from tests.oracle import html_spans

    html = "<p>caf&#233; costs &#x24;5 &amp; tax &#39;today&#39; here</p>"
    got = strip_html(html)
    assert got == ["café costs $5 & tax 'today' here"]
    assert [t for _k, t, _r in html_spans(html)] == got


def test_flate_compressed_pdf_roundtrip():
    # Same document compressed and plain must extract identical spans,
    # in both the engine parser and the oracle.
    from accountant_pdf_extract_spark.sources.pdfwriter import PageBuilder, build_pdf
    from tests.oracle import pdf_spans

    pg = PageBuilder()
    pg.text(72, 760, "Acme Corp - Statement")
    pg.text(72, 700, "INVOICE", size=14)
    pg.text(72, 676, "Invoice No: INV-2024-0042")
    pg.text_block(72, 640, ["alpha beta gamma", "delta epsilon"], leading=16)
    pg.hrule(72, 600, 468)
    plain = build_pdf([pg], compress=False)
    comp = build_pdf([pg], compress=True)
    assert comp != plain and "/FlateDecode" in comp
    out_plain, _ = extract_doc([("pdf", plain, "", 0)])
    out_comp, _ = extract_doc([("pdf", comp, "", 0)])
    assert out_comp == out_plain and len(out_comp) > 0
    assert pdf_spans(comp) == pdf_spans(plain)
    assert [t for _k, t, _r in pdf_spans(comp)] == [
        t for _k, t, _r, _o in out_comp
    ]


def test_non_latin1_pdf_span_degrades_not_drops():
    # A stray non-latin-1 char in a pdf payload must degrade to '?' for
    # that char only — the document still extracts, and the oracle
    # (which applies the same replacement) agrees.
    from tests.oracle import pdf_spans

    content = "BT /F1 10 Tf 72 700 Td (café €5 invoice) Tj ET\n"
    pdf = _raw_pdf([content])
    out, _ = extract_doc([("pdf", pdf, "", 0), ("text", "tail", "", 1)])
    assert [t for _, t, _, _ in out] == ["café ?5 invoice", "tail"]
    assert [t for _k, t, _r in pdf_spans(pdf)] == ["café ?5 invoice"]


def test_corrupt_flate_stream_degrades_to_empty_page():
    # Garbage bytes behind a /FlateDecode dict must not raise: the page
    # yields nothing, other pages/spans survive, oracle agrees.
    from tests.oracle import pdf_spans

    good = "BT /F1 10 Tf 72 700 Td (survivor) Tj ET\n"
    pdf = (
        "%PDF-1.4\n"
        "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        "2 0 obj << /Type /Pages /Kids [3 0 R 4 0 R] /Count 2 >> endobj\n"
        "3 0 obj << /Type /Page /Parent 2 0 R /Contents 5 0 R >> endobj\n"
        "4 0 obj << /Type /Page /Parent 2 0 R /Contents 6 0 R >> endobj\n"
        "5 0 obj << /Length 12 /Filter /FlateDecode >>\n"
        "stream\nnot-zlib!!!!endstream endobj\n"
        f"6 0 obj << /Length {len(good)} >>\nstream\n{good}endstream endobj\n"
        "%%EOF\n"
    )
    out, _ = extract_doc([("pdf", pdf, "", 0)])
    assert [t for _, t, _, _ in out] == ["survivor"]
    assert [t for _k, t, _r in pdf_spans(pdf)] == ["survivor"]


def test_html_double_encoded_entities_single_pass():
    # Decoded output must not be rescanned: '&#38;lt;' is '&' + 'lt;'
    # (literal '&lt;' text), NOT '<'.  Same for '&amp;amp;' -> '&amp;'.
    from tests.oracle import html_spans

    html = "<p>escaped tag looks like &#38;lt;b&#38;gt; and &amp;amp; stays text</p>"
    got = strip_html(html)
    assert got == ["escaped tag looks like &lt;b&gt; and &amp; stays text"]
    assert [t for _k, t, _r in html_spans(html)] == got


def test_html_mispaired_overlapping_drop_tags():
    # Malformed HTML: <nav>A<footer>B</nav>C</footer>D — drop tags of
    # DIFFERENT names overlap without nesting.  Agreed semantics
    # (single combined-alternation pass, leftmost match first): the
    # <nav>..</nav> pair is dropped (footer open rides inside it); the
    # dangling </footer> is a bare tag stripped by the tag cleaner, so
    # the surviving text is "C... D...".  Engine and oracle must agree
    # — the oracle used to loop per tag, which on this input could drop
    # the <footer>..</footer> pairing instead.
    from tests.oracle import html_spans

    html = (
        "<p><footer>legal fine print<nav>menu one two</footer>"
        "carried content words</nav> trailing main text</p>"
    )
    # leftmost-first: <footer>..<nav>..</footer> drops as one subtree
    # (the per-tag-loop oracle instead dropped <nav>..</nav> first and
    # kept "legal fine print"); the dangling </nav> is a bare tag.
    got = strip_html(html)
    assert got == ["carried content words trailing main text"]
    assert [t for _k, t, _r in html_spans(html)] == got


def test_surrogate_entity_yields_replacement_char():
    # &#xD800; is an invalid (surrogate) code point: HTML5 maps it to
    # U+FFFD.  A lone surrogate would crash every downstream UTF-8
    # encode (Arrow build, parquet).  Oracle agrees.
    from tests.oracle import html_spans

    html = "<p>bad &#xD800; and &#55296; refs but plenty of text here</p>"
    got = strip_html(html)
    assert got == ["bad � and � refs but plenty of text here"]
    assert [t for _k, t, _r in html_spans(html)] == got
    got[0].encode("utf-8")  # must be encodable


def test_nested_same_drop_tag_fully_removed():
    # innermost-first matching: the outer <nav> pair must not mis-pair
    # with the inner close and leak ' trailing boilerplate'
    from tests.oracle import html_spans

    html = (
        "<nav>menu <nav>sub</nav> trailing boilerplate</nav>"
        "<p>this is the real content of the page right here</p>"
    )
    got = strip_html(html)
    assert got == ["this is the real content of the page right here"]
    assert [t for _k, t, _r in html_spans(html)] == got


def test_giant_amount_rejected_not_crashing():
    # >16 integer digits cannot ride in DecimalType(18,2): treated as a
    # non-amount in both engine and oracle, never an Arrow crash.
    from accountant_pdf_extract_spark.operators.fields import amounts_in
    from tests.oracle import _line_amounts

    line = "total $100,000,000,000,000,000.00 but fee $12.50 applies"
    got = [(c, v) for _p, c, v in amounts_in(line)]
    want = [(c, v) for _p, c, v in _line_amounts(line)]
    from decimal import Decimal

    assert got == want == [("USD", Decimal("12.50"))]


# the kernel entry points the isolation tests run
KERNEL_FNS = ["extract_batches"]


def _kernel_batch(texts):
    """One input batch: doc d{i} holds a single text span texts[i]."""
    import pyarrow as pa

    from accountant_pdf_extract_spark.sources.synth import ARROW_INPUT

    return pa.RecordBatch.from_pydict(
        {
            "doc_id": [f"d{i}" for i in range(len(texts))],
            "spans": [
                [{"kind": "text", "text": t, "media_ref": "", "offset": 0}]
                for t in texts
            ],
        },
        schema=ARROW_INPUT,
    )


def _run_kernel_with(fn, fake_extract, texts):
    """(output batches, dropped doc ids) of kernel ``fn`` over
    ``_kernel_batch(texts)`` with ``extract_doc`` replaced."""
    from accountant_pdf_extract_spark.operators import kernel

    dropped = []
    orig = kernel.extract_doc
    kernel.extract_doc = fake_extract
    try:
        out = list(getattr(kernel, fn)(
            iter([_kernel_batch(texts)]),
            on_drop=lambda d, e: dropped.append(d),
        ))
    finally:
        kernel.extract_doc = orig
    return out, dropped


def _overflow_when_bad(spans):
    """Fake extract_doc: one span; a text starting 'bad' gets a total
    that overflows decimal128(18,2), so only its Arrow build fails."""
    txt = spans[0][1]
    fields = {
        "invoice_id": None, "invoice_date": None, "due_date": None,
        "currency": None,
        "total": Decimal(10) ** 20 if txt.startswith("bad") else Decimal("1.00"),
        "amounts": None, "account_codes": None,
    }
    return [("text", txt, "", 0)], fields


def test_kernel_arrow_build_isolation():
    # If one doc's extracted values break the Arrow column build (after
    # all per-doc extraction trys succeeded), only that doc is dropped.
    for fn in KERNEL_FNS:
        out, dropped = _run_kernel_with(
            fn, _overflow_when_bad, ["ok-one", "bad", "ok-two"]
        )
        kept = [d for b in out for d in b.column("doc_id").to_pylist()]
        assert kept == ["d0", "d2"], fn
        assert dropped == ["d1"], fn


# --------------------------------------------------------------------------
# Engine ≡ oracle on malformed-PDF corners (reviewer-found divergences)
# --------------------------------------------------------------------------


def _engine_content(content, xobjs=None):
    from accountant_pdf_extract_spark.operators import pdfparse

    page = pdfparse._parse_content(content, xobjs or {})
    return (
        [r.text for r in page.runs],
        [im.media_ref for im in page.images],
    )


def _oracle_content(content, xobjs=None):
    from tests import oracle

    runs, _v, _h, images = oracle._interpret(content, xobjs or {})
    return [r[3] for r in runs], [ref for *_a, ref in images]


def test_operand_lifetimes_engine_equals_oracle():
    cases = [
        # name must survive Tf until Do consumes it
        ("/Im0 12 Tf Do", {"Im0": "media://img"}),
        # strings are cleared by EVERY operator incl. q — Tj emits nothing
        ("BT (A) q Tj ET", None),
        # the TJ array survives an intervening Td
        ("BT [(A)] 0 0 Td TJ ET", None),
        # an empty /Name in the XObject map never emits a media span
        ("/Im0 Do", {"Im0": ""}),
        # two arrays before TJ: a new '[' resets the pending array
        ("BT [(A)] [(B)] TJ ET", None),
        # unknown string escapes stay literal backslash pairs
        (r"BT (a\tb) Tj ET", None),
    ]
    for content, xobjs in cases:
        assert _engine_content(content, xobjs) == _oracle_content(
            content, xobjs
        ), content
    # spot semantics, not just parity:
    assert _engine_content("/Im0 12 Tf Do", {"Im0": "media://img"})[1] == [
        "media://img"
    ]
    assert _engine_content("BT (A) q Tj ET")[0] == []
    assert _engine_content("BT [(A)] 0 0 Td TJ ET")[0] == ["A"]
    assert _engine_content("BT [(A)] [(B)] TJ ET")[0] == ["B"]
    # \t became a REAL tab in r4 (full T.81 escape set: n r t b f +
    # line continuation); unrecognized pairs still stay literal
    assert _engine_content(r"BT (a\tb) Tj ET")[0] == ["a\tb"]
    assert _engine_content(r"BT (a\qb) Tj ET")[0] == ["a\\qb"]
    assert _engine_content("BT (a\\\nb) Tj ET")[0] == ["ab"]


def test_empty_kids_falls_back_to_page_scan():
    from tests.oracle import pdf_spans

    body = "BT /F1 10 Tf 72 700 Td (fallback page) Tj ET\n"
    pdf = (
        "%PDF-1.4\n"
        "1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n"
        "2 0 obj << /Type /Pages /Kids [ ] /Count 0 >> endobj\n"
        "3 0 obj << /Type /Page /Parent 2 0 R /Contents 4 0 R >> endobj\n"
        f"4 0 obj << /Length {len(body)} >>\nstream\n{body}endstream endobj\n"
        "%%EOF\n"
    )
    out, _ = extract_doc([("pdf", pdf, "", 0)])
    assert [t for _, t, _, _ in out] == ["fallback page"]
    assert [t for _k, t, _r in pdf_spans(pdf)] == ["fallback page"]


def test_structural_marker_text_survives_roundtrip():
    """Caller text containing 'endstream'/'endobj' must not truncate
    the page: build_pdf forces FlateDecode for such pages (plain
    emission would end the stream at the embedded marker and silently
    drop everything after it)."""
    pg = PageBuilder()
    pg.text(72, 700, "before endstream marker")
    pg.text(72, 680, "after endobj marker still here")
    pdf = build_pdf([pg])  # compress=False: the guard must kick in
    assert "/FlateDecode" in pdf
    pages = parse_pdf(pdf.encode("latin-1"))
    texts = " ".join(r.text for p in pages for r in p.runs)
    assert "endstream marker" in texts
    assert "still here" in texts


def test_parenthesized_negative_amounts_in_corpus_and_rules():
    """The synth corpus must exercise the parens→negative amount rule:
    some invoice rows are credit lines like '($123.45)', and the
    extraction kernel parses them to negative cents."""
    import numpy as np

    from accountant_pdf_extract_spark.sources.synth import make_invoice_pdf

    neg_amounts = []
    for k in range(60):
        rng = np.random.default_rng([7, k])
        pdf = make_invoice_pdf(rng, ["ledger", "balance", "audit"])
        pages = parse_pdf(pdf.encode("latin-1"))
        text = "\n".join(r.text for p in pages for r in p.runs)
        if "($" in text or "(£" in text:
            fields = extract_doc([("pdf", pdf, "", 0)])[1]
            neg_amounts += [a for a in (fields["amounts"] or []) if a < 0]
    assert neg_amounts, "no parenthesized-negative amounts in 60 docs"


def test_kernel_isolation_vs_systemic_failure():
    """One bad doc among good ones drops ONLY the offender; an
    all-docs Arrow failure across >=8 docs re-raises (systemic drift
    must not become a silent zero-output success); tiny all-bad
    batches keep plain per-doc drop semantics."""
    for fn in KERNEL_FNS:
        # mixed: doc d1's total can't convert to decimal128(18,2)
        got, dropped = _run_kernel_with(
            fn, _overflow_when_bad, ["a", "bad", "c"]
        )
        assert dropped == ["d1"], fn
        assert sum(b.num_rows for b in got) == 2, fn

        # systemic: every doc fails across >= 8 docs -> raise
        with pytest.raises(RuntimeError, match="systemic"):
            _run_kernel_with(fn, _overflow_when_bad, ["bad"] * 8)

        # tiny all-bad batch: per-doc drops, no raise
        got, dropped = _run_kernel_with(fn, _overflow_when_bad, ["bad"])
        assert dropped == ["d0"] and got == [], fn


def test_hostile_html_bails_to_plain_text_fast():
    """'<'-dense, '>'-sparse payloads must take the plain-text path
    (quadratic tag scans otherwise wedge the batch task on one doc) —
    and the oracle mirrors the bail exactly."""
    import time

    from accountant_pdf_extract_spark.operators.htmlstrip import strip_html
    from tests.oracle import html_spans

    hostile = ("<script " * 20000) + "payload words here &amp; more"
    t0 = time.monotonic()
    got = strip_html(hostile)
    assert time.monotonic() - t0 < 1.0, "hostile payload not bailed"
    assert got and "payload words here & more" in got[0]
    assert [("text", b, "") for b in got] == html_spans(hostile)

    # well-formed HTML is untouched by the guard
    ok = "<html><body><p>a perfectly normal paragraph of text</p></body></html>"
    assert strip_html(ok) == ["a perfectly normal paragraph of text"]


def test_pdfwriter_numbers_never_use_exponent_notation():
    """%g emitted '1e-05' for tiny coordinates, which the token
    grammar lexes as (1, unknown-op 'e', -05) — geometry silently
    shifted to wrong positions.  The fixed-point formatter keeps every
    number exponent-free and round-trips within 1e-4."""
    from accountant_pdf_extract_spark.sources.pdfwriter import _n

    assert _n(1e-05) == "0" and _n(5e-05) == "0.0001" and _n(-1e-05) == "0"
    assert _n(1234567.0) == "1234567" and _n(0.5) == "0.5"
    assert "e" not in _n(2.5e6).lower()

    pg = PageBuilder()
    pg.text(5e-05, 700, "hello")
    pg.hrule(1e-05, 100, 1.5e6)
    pages = parse_pdf(build_pdf([pg]).encode("latin-1"))
    r = pages[0].runs[0]
    assert abs(r.x) <= 1e-4 and r.y == 700.0  # was x = -5.0 under %g
    rule = pages[0].rules[0]
    assert abs(rule.x) <= 1e-4 and rule.length == 1500000.0


def test_pdfwriter_non_finite_numbers_do_not_raise():
    """The integral fast path's int(v) raised on NaN/inf, which would
    kill the task that generates and extracts the document; a
    non-finite coordinate writes '0' and the PDF still parses."""
    from accountant_pdf_extract_spark.sources.pdfwriter import _n

    for v in (float("nan"), float("inf"), float("-inf")):
        assert _n(v) == "0"
    pg = PageBuilder()
    pg.text(float("nan"), float("inf"), "hello")
    pages = parse_pdf(build_pdf([pg]).encode("latin-1"))
    r = pages[0].runs[0]
    assert (r.x, r.y) == (0.0, 0.0)


def test_rules_fixes_wrong_value_and_missed_match_corners():
    """Shared-rule corners where engine AND oracle previously agreed on
    WRONG financial values (invisible to parity): spaced EUR parens,
    malformed grouping, 'Invoice Number', sentence-ending account
    codes, 'Sept.', and padded symbol gaps."""
    import re

    from accountant_pdf_extract_spark.functions import rules
    from accountant_pdf_extract_spark.operators.fields import (
        amounts_in,
        dates_in,
        extract_fields,
    )

    # spaced parenthesized EUR negative keeps its sign
    got = amounts_in("Refund ( 1.234,56 €)")
    assert got and got[0][2] == Decimal("-1234.56"), got
    got = amounts_in("Refund (1.234,56 € )")
    assert got and got[0][2] == Decimal("-1234.56"), got

    # malformed grouping skips entirely instead of truncating
    assert amounts_in("Total $12,34,567.00") == []
    assert amounts_in("$1,2345") == []
    # ...while legit forms still parse
    assert amounts_in("$1,234.56")[0][2] == Decimal("1234.56")
    assert amounts_in("$1234.56")[0][2] == Decimal("1234.56")
    assert amounts_in("$100 2024")[0][2] == Decimal("100")

    # padded symbol-digit gap (column-aligned invoices)
    assert amounts_in("Total due: $   1,234.56")[0][2] == Decimal("1234.56")

    # 'Invoice Number:' and 'Rechnungsnummer:' extract the id
    f = extract_fields(["Invoice Number: INV-2025-0042"])
    assert f["invoice_id"] == "INV-2025-0042"
    f = extract_fields(["Rechnungsnummer: RE-88123"])
    assert f["invoice_id"] == "RE-88123"

    # sentence-ending account code survives; continuations still refused
    f = extract_fields(["Account 4000.12."])
    assert f["account_codes"] == ["4000.12"]
    assert re.search(rules.ACCOUNT_CODE, "x 4000.12.34 y") is None

    # 'Sept.' month abbreviation parses
    d = dates_in("Sept. 3, 2024")
    assert d and d[0][1].isoformat() == "2024-09-03"


# --------------------------------------------------------------------------
# PDF 1.5 structures: object streams, xref streams, simple fonts (round 4)
# --------------------------------------------------------------------------


def _font_pages():
    from accountant_pdf_extract_spark.sources.pdfwriter import SimpleFont

    font = SimpleFont(
        differences=((0x80, "Euro"), (0x96, "endash")),
        tounicode=((0x8C, "fi"),),
        bfranges=((0xA0, 0xA2, "A"),),
    )
    pg = PageBuilder()
    pg.text(72, 700, font.encode("Total: 1.234,56 €"))
    pg.text(72, 680, "plain ascii")
    pg.text(72, 660, "\x8c\xa0\xa1\xa2")  # ligature + bfrange A,B,C
    pg.image(100, 200, 50, 40, "media://sha/0123456789abcdef")
    pg2 = PageBuilder()
    pg2.text(72, 700, font.encode("page2 – dash"))
    return [pg, pg2], font


def test_objstm_xref_font_all_layouts_match_oracle():
    """Every (objstm, compress) layout of the same logical doc parses
    to identical spans, engine ≡ oracle — covers ObjStm expansion,
    XRef-stream decode, /Differences, /ToUnicode bfchar + bfrange."""
    from tests.oracle import pdf_spans

    pages, font = _font_pages()
    expected = None
    for objstm in (False, True):
        for compress in (False, True):
            pdf = build_pdf(pages, compress=compress, objstm=objstm, font=font)
            if objstm:
                assert "/Type /ObjStm" in pdf and "/Type /XRef" in pdf
                assert "startxref" in pdf
                # page dicts live ONLY inside the compressed ObjStm —
                # the raw bytes must not contain their obj headers
                assert "/Type /Page /Parent" not in pdf
            eng, _ = extract_doc([("pdf", pdf, "", 0)])
            ora = pdf_spans(pdf)
            assert [(k, t, m) for k, t, m, _ in eng] == ora
            texts = [t for k, t, _m, _ in eng if k == "text"]
            assert any("€" in t for t in texts)
            assert any("fiABC" in t for t in texts)
            assert any("–" in t for t in texts)
            assert ("media", "", "media://sha/0123456789abcdef", 3) == eng[3][:4]
            if expected is None:
                expected = eng
            else:
                assert eng == expected


def test_rotated_text_full_tm_semantics():
    """Full text-matrix model (r4 verdict item 4): a 90° 'PAID' stamp,
    an upside-down watermark and a 270° margin banner extract AFTER
    the upright flow (quadrant-ascending, reading-frame clustered); a
    landscape page's table reads title → header → rows with gap-tabs;
    Td after a scaled Tm composes through the line matrix; effective
    size is rotation-invariant (basis-vector magnitude)."""
    from tests.oracle import oracle_extract

    pg = PageBuilder()
    pg.text(72, 760, "Rotated Stamp Co Invoice INV-2025-0077")
    pg.text_block(72, 660, ["first body line", "second body line"])
    pg.text_rot(540, 300, "PAID", quad=1, size=24)
    pg.text_rot(306, 400, "VOID IF ALTERED", quad=2)
    pg.text_rot_block(30, 700, ["ORIGINAL", "COPY 1"], quad=3, size=8)
    land = PageBuilder()
    land.text_rot(60, 60, "Landscape Ledger Statement", quad=1, size=14)
    for row_x, cells in (
        (100, ["Account", "Debit", "Credit"]),
        (120, ["4000.12", "$10.00", "$0.00"]),
    ):
        for col_i, cell in enumerate(cells):
            land.text_rot(row_x, 60 + 140 * col_i, cell, quad=1)
    pdf = build_pdf([pg, land])
    eng, _ = extract_doc([("pdf", pdf, "", 0)])
    texts = [t for k, t, _m, _o in eng if k == "text"]
    assert texts == [
        "Rotated Stamp Co Invoice INV-2025-0077",
        "first body line",
        "second body line",
        "PAID",
        "VOID IF ALTERED",
        "ORIGINAL",
        "COPY 1",
        "Landscape Ledger Statement",
        "Account\tDebit\tCredit",
        "4000.12\t$10.00\t$0.00",
    ]
    ora, _ = oracle_extract([("pdf", pdf, "", 0)])
    assert eng == ora

    # rotated runs carry the rotation-invariant effective size and
    # the right quadrant; scaled-Tm Td composes in text space
    from accountant_pdf_extract_spark.operators.pdfparse import (
        _parse_content,
    )

    page = _parse_content(
        "BT /F1 12 Tf 0 1 -1 0 500 300 Tm (UP) Tj ET "
        "BT /F1 1 Tf 12 0 0 12 72 700 Tm (scaled) Tj 0 -2 Td (next) Tj ET",
        {},
    )
    up, scaled, nxt = page.runs
    assert (up.rot, up.size, up.x, up.y) == (1, 12.0, 500.0, 300.0)
    assert (scaled.rot, scaled.size) == (0, 12.0)
    # Td 0 -2 in text space = 24 device points below the scaled origin
    assert (nxt.x, nxt.y) == (72.0, 700.0 - 24.0)


def test_predictor_pdf15_layout_matches_oracle():
    """predictor=True (PNG-Up-encoded ObjStm payload + xref stream
    with /DecodeParms, the Acrobat PDF-1.5 layout) parses identically
    to the un-predicted layout, engine ≡ oracle (r4 verdict item 3)."""
    from tests.oracle import pdf_spans

    pages, font = _font_pages()
    base = build_pdf(pages, objstm=True, font=font)
    pred = build_pdf(pages, objstm=True, font=font, predictor=True)
    assert "/DecodeParms << /Predictor 12" in pred
    assert "/DecodeParms" not in base
    eng_b, _ = extract_doc([("pdf", base, "", 0)])
    eng_p, _ = extract_doc([("pdf", pred, "", 0)])
    assert eng_p == eng_b
    assert [(k, t, m) for k, t, m, _ in eng_p] == pdf_spans(pred)
    assert any("€" in t for k, t, _m, _ in eng_p if k == "text")


def test_predictor_filters_cross_validated_and_corrupt_degrades():
    """All five PNG row filters + the TIFF predictor reconstruct
    correctly in BOTH the engine and the oracle — cross-validated
    against the independent ``oracle.png_filter_rows`` encoder — and
    corrupt predictor data degrades to an empty stream, never raises."""
    import zlib

    import numpy as np

    from accountant_pdf_extract_spark.operators.pdfparse import (
        _unpredict,
        parse_pdf,
    )
    from tests import oracle

    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (9, 13, 3), dtype=np.uint8)
    parms_b = b"/Predictor 15 /Columns 13 /Colors 3 /BitsPerComponent 8"
    for f in range(5):
        filt = oracle.png_filter_rows(img.tobytes(), 13 * 3, 3, f)
        assert filt[:: 13 * 3 + 1] == bytes([f]) * 9, f
        assert _unpredict(filt, parms_b) == img.tobytes(), f
        assert oracle._unpredict(
            filt.decode("latin-1"), parms_b.decode()
        ).encode("latin-1") == img.tobytes(), f

    # TIFF predictor 2 + short-final-row PNG roundtrip via the writer
    from accountant_pdf_extract_spark.sources.pdfwriter import _png_up

    raw = bytes(range(256)) * 3 + b"xyz"  # short last row
    assert _unpredict(_png_up(raw, 17), b"/Predictor 12 /Columns 17") == raw
    tif = bytearray(raw[:64])
    for r0 in range(0, len(tif), 16):
        for j in range(min(r0 + 16, len(tif)) - 1, r0, -1):
            tif[j] = (tif[j] - tif[j - 1]) & 0xFF
    assert _unpredict(bytes(tif), b"/Predictor 2 /Columns 16") == raw[:64]

    # corrupt: bad filter byte / unknown predictor raise ValueError
    import pytest

    for bad in (b"\x09abc", b"\x05abc"):
        with pytest.raises(ValueError):
            _unpredict(bad, b"/Predictor 12 /Columns 3")
    with pytest.raises(ValueError):
        _unpredict(b"\x00abc", b"/Predictor 7 /Columns 3")

    # in a document, a corrupt predictor stream degrades to an empty
    # page (same contract as corrupt Flate), and /DecodeParms on an
    # UNFILTERED stream is ignored
    content = b"BT /F1 10 Tf 72 700 Td (hi) Tj ET"
    comp = zlib.compress(_png_up(content, 8))
    doc = (
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Filter /FlateDecode /DecodeParms "
        b"<< /Predictor 12 /Columns 8 >> /Length %d >>\n"
        b"stream\n%sendstream\nendobj\n" % (len(comp), comp)
    )
    pages = parse_pdf(doc)
    assert [r.text for r in pages[0].runs] == ["hi"]
    bad_comp = zlib.compress(b"\x09" + b"x" * 8)
    bad_doc = doc.replace(comp, bad_comp).replace(
        b"/Length %d" % len(comp), b"/Length %d" % len(bad_comp)
    )
    assert parse_pdf(bad_doc)[0].runs == []
    plain_doc = (
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /DecodeParms << /Predictor 12 /Columns 8 >> "
        b"/Length %d >>\nstream\n%sendstream\nendobj\n"
        % (len(content), content)
    )
    assert [r.text for r in parse_pdf(plain_doc)[0].runs] == ["hi"]


# ---- PNG / TIFF predictors (ISO 32000-1 §7.4.4.4) ---------------------
# The PNG predictor is the PNG row-filter layer (PNG §9) and predictor 2
# is TIFF horizontal differencing; both are reversed by the engine and
# the oracle independently, checked here against oracle.png_filter_rows.


def _predictor_bpp(colors: int, bpc: int) -> int:
    return max(1, (colors * bpc + 7) // 8)


def _assert_unpredicts(filt: bytes, parms: bytes, want: bytes) -> None:
    """Engine and oracle both reverse ``filt`` under ``parms`` to
    ``want``."""
    from accountant_pdf_extract_spark.operators.pdfparse import _unpredict
    from tests import oracle

    assert _unpredict(filt, parms) == want, parms
    assert oracle._unpredict(
        filt.decode("latin-1"), parms.decode()
    ).encode("latin-1") == want, parms


def _assert_rejected(raw: bytes, parms: bytes) -> None:
    """Engine and oracle both raise ValueError on ``raw`` under
    ``parms``, and inside a Flate stream the whole stream degrades to
    empty in both."""
    import zlib

    from accountant_pdf_extract_spark.operators.pdfparse import (
        _decode_stream,
        _unpredict,
    )
    from tests import oracle

    with pytest.raises(ValueError):
        _unpredict(raw, parms)
    with pytest.raises(ValueError):
        oracle._unpredict(raw.decode("latin-1"), parms.decode())
    dict_part = b"/Filter /FlateDecode /DecodeParms << " + parms + b" >>"
    comp = zlib.compress(raw)
    assert _decode_stream(comp, dict_part) == b"", parms
    assert oracle._decode_stream_oracle(
        comp.decode("latin-1"), dict_part.decode()
    ) == "", parms


def test_png_roundtrip_all_filters_and_colors():
    """The PNG predictor reverses every row filter (None, Sub, Up,
    Average, Paeth) for /Colors 1-4 at 8 bits under every declared
    predictor number 10-15 (the number only names the encoder's
    choice), a stream that switches filter on every row, and a short
    final row; engine ≡ oracle ≡ the unfiltered bytes."""
    import numpy as np

    from tests import oracle

    rng = np.random.default_rng(11)
    cols, nrows = 7, 6
    for colors in (1, 2, 3, 4):
        rowlen = cols * colors
        data = rng.integers(0, 256, nrows * rowlen, dtype=np.uint8).tobytes()
        encs = [oracle.png_filter_rows(data, rowlen, colors, ft) for ft in range(5)]
        for ft, filt in enumerate(encs):
            assert filt[:: rowlen + 1] == bytes([ft]) * nrows
            for pred in range(10, 16):
                parms = b"/Predictor %d /Columns %d /Colors %d" % (
                    pred, cols, colors,
                )
                _assert_unpredicts(filt, parms, data)
        parms = b"/Predictor 15 /Columns %d /Colors %d" % (cols, colors)
        # row i of the ft-encoding is row i filtered with ft against
        # the true previous row, so rows can be spliced across filters
        step = rowlen + 1
        mixed = b"".join(
            encs[i % 5][i * step : (i + 1) * step] for i in range(nrows)
        )
        assert mixed[::step] == bytes(i % 5 for i in range(nrows))
        _assert_unpredicts(mixed, parms, data)
        short = data + bytes(range(3))
        for ft in range(5):
            _assert_unpredicts(
                oracle.png_filter_rows(short, rowlen, colors, ft), parms, short
            )


def test_png_16bit_and_gray_alpha():
    """16-bit components and gray+alpha (/Colors 2) widen the filter's
    bytes-per-pixel to 2, 4 or 8; sub-byte depths (1, 2, 4 bits) clamp
    it to 1 with a rounded-up row length.  Every filter reverses
    exactly in engine and oracle, and a 16-bit gray+alpha Paeth-
    predicted content stream extracts its text."""
    import zlib

    import numpy as np

    from tests import oracle

    rng = np.random.default_rng(16)
    for colors, bpc, cols in (
        (1, 16, 5), (2, 16, 5), (4, 16, 3), (2, 8, 6),
        (1, 1, 13), (1, 2, 7), (3, 4, 5),
    ):
        rowlen = (cols * colors * bpc + 7) // 8
        bpp = _predictor_bpp(colors, bpc)
        data = rng.integers(0, 256, 5 * rowlen, dtype=np.uint8).tobytes()
        parms = b"/Predictor 15 /Columns %d /Colors %d /BitsPerComponent %d" % (
            cols, colors, bpc,
        )
        for ft in range(5):
            filt = oracle.png_filter_rows(data, rowlen, bpp, ft)
            assert len(filt) == 5 * (rowlen + 1)
            _assert_unpredicts(filt, parms, data)

    # in a document: /Columns 4 /Colors 2 /BitsPerComponent 16 makes
    # 16-byte rows with a 4-byte pixel
    content = b"BT /F1 10 Tf 72 700 Td (gray alpha sixteen) Tj ET"
    comp = zlib.compress(oracle.png_filter_rows(content, 16, 4, 4))
    doc = (
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        b"2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n"
        b"3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
        b"4 0 obj\n<< /Filter /FlateDecode /DecodeParms << /Predictor 14 "
        b"/Columns 4 /Colors 2 /BitsPerComponent 16 >> /Length %d >>\n"
        b"stream\n%sendstream\nendobj\n" % (len(comp), comp)
    )
    assert [r.text for r in parse_pdf(doc)[0].runs] == ["gray alpha sixteen"]


def test_png_rejects_unsupported_and_corrupt():
    """Unknown predictor numbers, non-positive /Columns, /Colors or
    /BitsPerComponent, and a filter-type byte above 4 — on full rows,
    on a short stream, or only in a later row — raise ValueError in
    engine and oracle, and degrade the whole Flate stream to empty
    (never partial output).  Predictor 1 or absent passes through."""
    import numpy as np

    from accountant_pdf_extract_spark.operators.pdfparse import _unpredict
    from tests import oracle

    good = oracle.png_filter_rows(bytes(range(24)), 6, 1, 4)
    for pred in (3, 9, 16, 99):
        _assert_rejected(good, b"/Predictor %d /Columns 6" % pred)
    for zeroed in (
        b"/Predictor 12 /Columns 0",
        b"/Predictor 12 /Columns 6 /Colors 0",
        b"/Predictor 12 /Columns 6 /BitsPerComponent 0",
    ):
        _assert_rejected(good, zeroed)
    parms = b"/Predictor 12 /Columns 6"
    for bad_ft in (5, 0x80, 0xFF):
        full = bytes([bad_ft]) + good[1:]        # full rows: fast path
        _assert_rejected(full, parms)
        _assert_rejected(bytes([bad_ft]) + b"ab", parms)  # short stream
        later = good[:14] + bytes([bad_ft]) + good[15:]  # row 3 only
        assert later[: 2 * 7 : 7] == bytes([4, 4])
        _assert_rejected(later, parms)
    # an all-Up stream takes the column-cumsum fast path; one bad byte
    # among Up rows must still be caught there
    up = oracle.png_filter_rows(bytes(range(24)), 6, 1, 2)
    _assert_unpredicts(up, parms, bytes(range(24)))
    _assert_rejected(up[:7] + b"\x07" + up[8:], parms)

    raw = np.arange(10, dtype=np.uint8).tobytes()
    for p in (b"/Predictor 1 /Columns 3", b"/Columns 3", b""):
        assert _unpredict(raw, p) == raw
        assert oracle._unpredict(raw.decode("latin-1"), p.decode()) == (
            raw.decode("latin-1")
        )


def test_tiff_rejects_malformed_and_unsupported():
    """TIFF predictor 2 supports 8-bit components only: 1, 2, 4 and 16
    bits raise ValueError in engine and oracle and degrade the Flate
    stream to empty, as do non-positive /Columns or /Colors.  What it
    does support still reverses: 3-colour 8-bit rows with a short
    final row, engine ≡ oracle ≡ the undifferenced bytes."""
    import numpy as np

    rng = np.random.default_rng(2)
    cols, colors = 5, 3
    rowlen = cols * colors
    raw = rng.integers(0, 256, 4 * rowlen + 4, dtype=np.uint8).tobytes()
    diff = bytearray(raw)
    for r0 in range(0, len(diff), rowlen):
        for j in range(min(r0 + rowlen, len(diff)) - 1, r0 + colors - 1, -1):
            diff[j] = (diff[j] - diff[j - colors]) & 0xFF
    diff = bytes(diff)
    assert diff != raw
    _assert_unpredicts(
        diff, b"/Predictor 2 /Columns %d /Colors %d" % (cols, colors), raw
    )
    for bpc in (1, 2, 4, 16):
        _assert_rejected(
            diff,
            b"/Predictor 2 /Columns %d /Colors %d /BitsPerComponent %d"
            % (cols, colors, bpc),
        )
    _assert_rejected(diff, b"/Predictor 2 /Columns 0")
    _assert_rejected(diff, b"/Predictor 2 /Columns 5 /Colors 0")


def test_encrypted_rc4_roundtrip_matches_oracle():
    """Standard-security encryption (r4 verdict item 6): RC4-40
    (V1/R2) and RC4-128 (V2/R3) with EMPTY user+owner passwords —
    writer encrypts per-object (strings + post-compression streams),
    parser decrypts, engine ≡ oracle ≡ the unencrypted doc; the
    plaintext must not appear in the file bytes; the two independent
    crypto implementations (functions/pdfcrypt.py vs tests/oracle.py)
    cross-validate each other."""
    from tests.oracle import oracle_extract

    pages, font = _font_pages()
    base = build_pdf(pages, font=font)
    e0, f0 = extract_doc([("pdf", base, "", 0)])
    for mode, compress in (
        ("rc4-40", False), ("rc4-40", True),
        ("rc4-128", False), ("rc4-128", True),
    ):
        enc = build_pdf(pages, compress=compress, font=font, encrypt=mode)
        assert "/Filter /Standard" in enc and "/Encrypt" in enc
        assert "/ID [ <" in enc
        # neither page text nor the ToUnicode CMap is readable raw
        assert "Tj" not in enc.split("stream", 1)[1].split("endstream")[0]
        e1, f1 = extract_doc([("pdf", enc, "", 0)])
        o1, of1 = oracle_extract([("pdf", enc, "", 0)])
        assert e1 == e0 == o1, (mode, compress)
        assert f1 == f0 == of1
    # per-object keys actually differ object-to-object
    from accountant_pdf_extract_spark.functions import pdfcrypt

    fk = pdfcrypt.file_key(b"\x11" * 32, -44, b"id", 3, 128)
    assert pdfcrypt.object_key(fk, 1) != pdfcrypt.object_key(fk, 2)
    assert len(fk) == 16
    # the libcrypto fast path (when bound) must equal the pure-Python
    # reference on every size, incl. empty and sub-KSA-length data
    for sz in (0, 1, 16, 300, 4096):
        d = bytes((i * 7 + 3) & 0xFF for i in range(sz))
        assert pdfcrypt.rc4(fk, d) == pdfcrypt._rc4_py(fk, d)
        assert pdfcrypt.rc4(fk, pdfcrypt.rc4(fk, d)) == d


def test_doc_info_metadata_spans():
    """/Info document metadata (§14.3.3): Title/Author/CreationDate
    extract as trailing ("meta", value, key) spans across every
    layout (plain+trailer, compressed, ObjStm, hybrid+predictor,
    encrypted classic, encrypted 1.5); D:YYYYMMDD dates normalize to
    ISO; UTF-16 values decode; engine ≡ oracle; docs without /Info
    emit no meta spans and keep the trailer-free plain layout."""
    from tests.oracle import oracle_extract

    info = [
        ("Title", "Invoice INV-2024-0042"),
        ("Author", "ACME GmbH"),
        ("CreationDate", "D:20240115093000+01'00'"),
    ]
    want = [
        ("Invoice INV-2024-0042", "Title"),
        ("ACME GmbH", "Author"),
        ("2024-01-15", "CreationDate"),
    ]
    for kw in (
        dict(),
        dict(compress=True),
        dict(objstm=True),
        dict(objstm=True, hybrid=True, predictor=True),
        dict(encrypt="rc4-128"),
        dict(objstm=True, encrypt="aes-128"),
    ):
        pg = PageBuilder()
        pg.text(72, 700, "INVOICE body text")
        pdf = build_pdf([pg], info=info, **kw)
        e, _ = extract_doc([("pdf", pdf, "", 0)])
        o, _ = oracle_extract([("pdf", pdf, "", 0)])
        assert e == o, kw
        assert [(t, m) for k, t, m, _ in e if k == "meta"] == want, kw
    pg = PageBuilder()
    pg.text(72, 700, "x")
    plain = build_pdf([pg])
    assert "trailer" not in plain  # no-info layout unchanged
    e, _ = extract_doc([("pdf", plain, "", 0)])
    assert not any(k == "meta" for k, *_ in e)
    # UTF-16 value; meta text never feeds field extraction
    pdf = build_pdf([pg], info=[("Author", "Łukasz €")])
    e, f = extract_doc([("pdf", pdf, "", 0)])
    o, of = oracle_extract([("pdf", pdf, "", 0)])
    assert e == o and f == of
    assert [t for k, t, _, _ in e if k == "meta"] == ["Łukasz €"]


def test_encrypted_objstm_hybrid_layouts():
    """Encrypted PDF-1.5 (the modern Acrobat default, §7.5.8.2):
    the ObjStm's compressed payload encrypts as ONE stream (strings
    inside packed objects not separately encrypted), the xref stream
    and /Encrypt dict stay plaintext, /Encrypt + /ID ride the
    xref-stream dict (and the hybrid trailer); engine ≡ oracle ≡ the
    unencrypted doc across RC4/AES, plain/predictor, 1.5/hybrid."""
    from tests.oracle import oracle_extract

    pages, font = _font_pages()
    base = build_pdf(pages, objstm=True, font=font)
    e0, f0 = extract_doc([("pdf", base, "", 0)])
    assert e0, "objstm base doc must extract"
    for mode in ("rc4-128", "aes-128"):
        for hybrid in (False, True):
            for predictor in (False, True):
                enc = build_pdf(
                    pages, objstm=True, hybrid=hybrid,
                    predictor=predictor, font=font, encrypt=mode,
                )
                assert "/Type /XRef" in enc and "/Encrypt" in enc
                # page text must not be readable raw (it lives in an
                # encrypted content stream / ObjStm)
                assert "INVOICE" not in enc
                e1, f1 = extract_doc([("pdf", enc, "", 0)])
                o1, of1 = oracle_extract([("pdf", enc, "", 0)])
                assert e1 == e0 == o1, (mode, hybrid, predictor)
                assert f1 == f0 == of1, (mode, hybrid, predictor)


def test_encrypted_unreadable_degrades_to_zero_pages():
    """Wrong password, AES (/V 4), non-Standard filters and malformed
    encrypt dicts must degrade to a ZERO-PAGE document (never RC4
    garbage as text), engine ≡ oracle."""
    from tests.oracle import oracle_extract

    pg = PageBuilder()
    pg.text(72, 700, "secret text")
    import re

    enc = build_pdf([pg], encrypt="rc4-128")

    def both_empty(doc):
        e, _ = extract_doc([("pdf", doc, "", 0)])
        o, _ = oracle_extract([("pdf", doc, "", 0)])
        assert e == o == [], (e, o)

    both_empty(enc.replace("/U <", "/U <00", 1))          # wrong pw
    both_empty(enc.replace("/V 2", "/V 4"))               # AES
    both_empty(enc.replace("/Standard", "/Custom"))       # unknown filter
    both_empty(re.sub(r"/O <[0-9A-F]*>", "/O <11>", enc))  # short O
    # a user password that is NOT empty: re-derive U for pw "secret"
    # by flipping P (key input) without updating U — must degrade
    both_empty(enc.replace("/P -44", "/P -4"))


def test_embedded_file_attachments():
    """/EmbeddedFiles name tree (ISO 32000-1 §7.11.4 — the
    ZUGFeRD/Factur-X hybrid e-invoice shape): writer embeds
    (filename, content) pairs via Filespec + EmbeddedFile stream;
    engine and oracle emit ("attachment", content, filename) spans
    after all page items, in sorted name-tree order, across every
    layout (classic/compressed/ObjStm/hybrid/encrypted/filtered).
    Attachment text does NOT feed field extraction."""
    from tests.oracle import oracle_extract

    pg = PageBuilder()
    pg.text(72, 700, "Invoice INV-77 total: $10.00")
    xml = (
        '<?xml version="1.0"?><CrossIndustryInvoice>'
        "<ID>INV-77</ID><GrandTotal>99999.99</GrandTotal>"
        "</CrossIndustryInvoice>"
    )
    atts = [("factur-x.xml", xml), ("meta.txt", "hello world")]
    for opts in (
        {}, {"compress": True}, {"objstm": True},
        {"encrypt": "rc4-128"}, {"encrypt": "aes-128"},
        {"ascii_filter": "a85"}, {"hybrid": True},
    ):
        doc = build_pdf([pg], attachments=atts, **opts)
        e, f = extract_doc([("pdf", doc, "", 0)])
        o, of = oracle_extract([("pdf", doc, "", 0)])
        assert e == o, opts
        got = [(s[1], s[2]) for s in e if s[0] == "attachment"]
        assert got == [(xml, "factur-x.xml"), ("hello world", "meta.txt")], opts
        # attachment order trails page items, dense span order holds
        assert [s[3] for s in e] == list(range(len(e)))
        # the 99999.99 amount lives ONLY in the attachment: fields
        # must not see it (payload-only field extraction)
        assert f == of
        assert all("99999" not in str(v) for v in f.values()), f
    # a /Kids-level name tree (hand-built) resolves identically
    import re as _re

    doc = build_pdf([pg], attachments=[("a.txt", "AAA")])
    m = _re.search(
        r"/Names << /EmbeddedFiles << (/Names \[[^\]]*\]) >> >>", doc
    )
    assert m is not None
    kid = max(int(x) for x in _re.findall(r"(\d+) 0 obj", doc)) + 1
    doc2 = doc.replace(
        m.group(0),
        f"/Names << /EmbeddedFiles << /Kids [ {kid} 0 R ] >> >>",
    ).replace(
        "%%EOF", f"{kid} 0 obj\n<< {m.group(1)} >>\nendobj\n%%EOF"
    )
    e, _ = extract_doc([("pdf", doc2, "", 0)])
    o, _ = oracle_extract([("pdf", doc2, "", 0)])
    assert e == o
    assert [(s[1], s[2]) for s in e if s[0] == "attachment"] == [
        ("AAA", "a.txt")
    ]
    # degrade shapes: dangling filespec ref and missing /EF stream
    # drop that entry (never crash), engine ≡ oracle
    doc3 = doc.replace("/EF <<", "/XX <<")
    e3, _ = extract_doc([("pdf", doc3, "", 0)])
    o3, _ = oracle_extract([("pdf", doc3, "", 0)])
    assert e3 == o3
    assert not [s for s in e3 if s[0] == "attachment"]


def test_page_rotate_normalizes_to_display_frame():
    """Page /Rotate (ISO 32000-1 §7.7.3.3): content written sideways
    with a compensating /Rotate (the scanned-page shape) extracts
    exactly like the upright page — runs, rulings (h/v families swap
    on odd quarters), and image placements all normalize; /Rotate
    inherits from the /Pages node; invalid values degrade."""
    import re as _re

    from tests.oracle import oracle_extract

    up = PageBuilder()
    up.text(72, 700, "Invoice INV-6 total: $4.00")
    up.text(72, 680, "Line two of the body")
    up.vrule(150, 610, 60)
    up.text(80, 620, "cellA")
    up.text(160, 620, "cellB")
    up.image(150, 200, 120, 80, "media://sha/rot")
    ref, _ = extract_doc([("pdf", build_pdf([up]), "", 0)])
    assert ref

    W, H = 612.0, 792.0

    def inv(k, x, y):  # user-space point whose display image is (x, y)
        if k == 1:
            return (W - y, x)
        if k == 2:
            return (W - x, H - y)
        return (y, H - x)

    for k in (1, 2, 3):
        pg = PageBuilder(rotate=90 * k)
        for (x, y, s) in (
            (72, 700, "Invoice INV-6 total: $4.00"),
            (72, 680, "Line two of the body"),
            (80, 620, "cellA"), (160, 620, "cellB"),
        ):
            pg.text_rot(*inv(k, x, y), s, quad=k)
        # rules/images in user space whose display images land where
        # the upright page put them
        if k == 2:
            pg.vrule(W - 150, H - 610 - 60, 60)
            pg.image(W - 150 - 120, H - 200 - 80, 120, 80, "media://sha/rot")
        elif k == 1:
            # display vert (150, 610, 60) <- user horiz: (y, W-x-ln)=(150,610)
            pg.hrule(W - 610 - 60, 150, 60)
            pg.image(W - 200 - 80, 150, 80, 120, "media://sha/rot")
        else:
            # k=3: display vert (150,610,60) <- user horiz (H-y, x): x=610, y=H-150
            pg.hrule(610, H - 150, 60)
            pg.image(200, H - 150 - 120, 80, 120, "media://sha/rot")
        doc = build_pdf([pg])
        e, _ = extract_doc([("pdf", doc, "", 0)])
        o, _ = oracle_extract([("pdf", doc, "", 0)])
        assert e == o, k
        assert e == ref, (k, e, ref)

    # inheritance: /Rotate on the /Pages node applies to pages without
    # their own; a page-level value overrides it
    pg = PageBuilder()
    pg.text_rot(*inv(2, 72, 700), "Inherited rotation page", quad=2)
    doc = build_pdf([pg]).replace(
        "/Type /Pages", "/Type /Pages /Rotate 180", 1
    )
    e, _ = extract_doc([("pdf", doc, "", 0)])
    o, _ = oracle_extract([("pdf", doc, "", 0)])
    assert e == o
    assert e[0][1] == "Inherited rotation page"
    # invalid /Rotate (not a multiple of 90) degrades to inherited/0
    pg2 = PageBuilder(rotate=45)
    pg2.text(72, 700, "Bad rotate value page")
    doc2 = build_pdf([pg2])
    assert _re.search(r"/Rotate 45", doc2)
    e2, _ = extract_doc([("pdf", doc2, "", 0)])
    o2, _ = oracle_extract([("pdf", doc2, "", 0)])
    assert e2 == o2
    assert e2[0][1] == "Bad rotate value page"


def test_encrypt_trigger_scoped_to_trailer():
    """A readable UNencrypted document whose page text merely contains
    '/Encrypt N 0 R' must extract normally — the security handler
    trigger reads trailer dicts (ISO 32000-1 §7.5.5) and /Type /XRef
    stream dicts (§7.5.8.2), never page text.  Real encryption keeps
    triggering from the trailer."""
    from accountant_pdf_extract_spark.operators.pdfparse import _encrypt_ref
    from tests.oracle import oracle_extract

    pg = PageBuilder()
    pg.text(72, 700, "see /Encrypt 99 0 R for details")
    pg.text(72, 680, "Invoice INV-1 total: $5.00")
    doc = build_pdf([pg])
    e, _ = extract_doc([("pdf", doc, "", 0)])
    o, _ = oracle_extract([("pdf", doc, "", 0)])
    assert e == o
    assert any("/Encrypt 99 0 R" in s[1] for s in e), e
    # real encryption (trailer-dict reference) still decrypts
    enc = build_pdf([pg], encrypt="rc4-128")
    e, _ = extract_doc([("pdf", enc, "", 0)])
    o, _ = oracle_extract([("pdf", enc, "", 0)])
    assert e == o
    assert any("INV-1" in s[1] for s in e), e
    # 1.5 layouts carry trailer keys on the /Type /XRef stream dict
    xref_obj = (
        b"9 0 obj\n<< /Type /XRef /Encrypt 5 0 R /W [1 2 1] >>\n"
        b"stream\n\nendstream\nendobj"
    )
    assert _encrypt_ref(xref_obj) == 5
    # ... but an /Encrypt-looking token inside stream DATA never fires
    assert _encrypt_ref(
        b"9 0 obj\n<< /Type /XRef /W [1 2 1] >>\n"
        b"stream\n/Encrypt 5 0 R\nendstream\nendobj"
    ) is None


def test_v5_encrypt_dict_without_O_still_opens():
    """V5/R6 user-password auth never reads /O (it serves owner auth);
    an AES-256 document missing /O must still decrypt — engine and
    oracle agree."""
    import re as _re

    from tests.oracle import oracle_extract

    pg = PageBuilder()
    pg.text(72, 700, "Invoice INV-2 total: $7.00")
    doc = build_pdf([pg], encrypt="aes-256")
    doc2 = _re.sub(r"/O\s*<[^>]*>\s*", "", doc)
    assert doc2 != doc
    e, _ = extract_doc([("pdf", doc2, "", 0)])
    o, _ = oracle_extract([("pdf", doc2, "", 0)])
    assert e == o
    assert any("INV-2" in s[1] for s in e), e


def test_char_word_spacing_ops():
    """Tc/Tw/`\"` (ISO 32000-1 §9.3.2-3, §9.4.3): per-char and
    per-space advances widen the run's true end_x, which drives the
    gap classifier — a Tw-justified left cell can close what the
    fixed-width model calls a tab gap.  Spacing is text STATE
    (persists until changed); the writer scopes it per run.  Engine ≡
    oracle on every shape."""
    from tests.oracle import oracle_extract

    def spans_of(doc):
        e, _ = extract_doc([("pdf", doc, "", 0)])
        o, _ = oracle_extract([("pdf", doc, "", 0)])
        assert e == o
        return e

    # fixed-width: "leftcell" ends at 72+8*5=112; next run at 145 →
    # gap 33 > TAB_GAP_PTS(18) → tab.  With Tc 4 the run really ends
    # at 72 + (5+4)*8 = 144 → gap 1 < 0.25*size → direct concat.
    plain = PageBuilder()
    plain.text(72, 700, "leftcell")
    plain.text(145, 700, "right")
    assert "leftcell\tright" in spans_of(build_pdf([plain]))[0][1]

    tight = PageBuilder()
    tight.text(72, 700, "leftcell", char_space=4.0)
    tight.text(145, 700, "right")
    assert "leftcellright" in spans_of(build_pdf([tight]))[0][1]

    mid = PageBuilder()
    mid.text(72, 700, "left cell", word_space=11.0)  # 36+11+... end 130
    mid.text(145, 700, "right")
    # ends at 72 + 0.5*10*9 + 11 = 128 → gap 17: space, not tab
    assert "left cell right" in spans_of(build_pdf([mid]))[0][1]

    # `"` operator: lands one leading below, sets Tw+Tc
    q = PageBuilder()
    q.text(72, 700, "Invoice INV-3 total: $2.00")
    q.text_quote(72, 660, "Thank you for your business",
                 word_space=2.5, char_space=0.2)
    got = spans_of(build_pdf([q]))
    assert any("Thank you for your business" in s[1] for s in got), got

    # text state persists across BT inside one content stream: raw
    # ops (writer-independent) — second BT block inherits Tc 3.5
    from accountant_pdf_extract_spark.operators.pdfparse import (
        _parse_content,
    )

    pg = _parse_content(
        "BT /F1 10 Tf 3.5 Tc 72 700 Td (leftcell) Tj ET "
        "BT /F1 10 Tf 72 680 Td (leftcell) Tj ET",
        {}, {},
    )
    assert pg.runs[0].adv == pg.runs[1].adv == (5 + 3.5) * 8


def test_markup_annotations():
    """Markup annotations (ISO 32000-1 §12.5): per-page /Annots →
    /Text and /FreeText /Contents emitted as ("annot", contents,
    subtype) after page items and BEFORE form spans; non-note
    subtypes (/Link) and dangling refs skip; UTF-16BE contents
    decode; encrypted docs decrypt annotation strings.  Engine ≡
    oracle throughout."""
    import re as _re

    from tests.oracle import oracle_extract

    def both(doc):
        e, _ = extract_doc([("pdf", doc, "", 0)])
        o, _ = oracle_extract([("pdf", doc, "", 0)])
        assert e == o
        return e

    pg = PageBuilder()
    pg.text(72, 700, "Invoice INV-1 total: $5.00")
    pg.annot("Text", "Approved by AP dept")
    pg.annot("FreeText", "Müller: pay via SEPA €")  # UTF-16BE hex
    doc = build_pdf([pg], form_fields=[("Status", "PAID")])
    spans = both(doc)
    kinds = [s[0] for s in spans]
    assert kinds == ["text", "annot", "annot", "form"], spans
    assert spans[1][1:3] == ("Approved by AP dept", "Text")
    assert spans[2][1:3] == ("Müller: pay via SEPA €", "FreeText")

    # a /Link annotation (no note text) and a dangling ref both skip
    linked = doc.replace("/Subtype /FreeText", "/Subtype /Link")
    spans = both(linked)
    assert [s[0] for s in spans] == ["text", "annot", "form"]
    dangling = _re.sub(
        r"/Annots \[ (\d+) 0 R", r"/Annots [ 999 0 R", doc, count=1
    )
    spans = both(dangling)
    assert sum(s[0] == "annot" for s in spans) == 1

    # encrypted: /Contents strings decrypt like every other string
    enc = build_pdf([pg], encrypt="aes-128")
    assert "Approved by AP dept" not in enc
    spans = both(enc)
    assert any(
        s[0] == "annot" and s[1] == "Approved by AP dept" for s in spans
    ), spans


def test_tj_kern_advance():
    """TJ kern numbers displace the cursor element-wise (§9.4.3:
    -v/1000 x Tfs each, Tz-scaled); an inter-word kern beyond
    TJ_SPACE_THRESH renders as a synthetic space that carries the
    KERN's width, not a phantom glyph width.  Engine ≡ oracle, and a
    following Tj lands at the kern-adjusted x."""
    from tests.oracle import _interpret
    from accountant_pdf_extract_spark.operators.pdfparse import (
        _parse_content,
    )

    content = (
        "BT /F1 10 Tf 72 700 Td "
        "[(Total) -250 (due:) -50 (now)] TJ (X) Tj ET"
    )
    pg = _parse_content(content, {}, {})
    runs, *_ = _interpret(content, {}, {})
    # 12 glyphs x 5 + (2.5 + 0.5) kern = 63; only -250 makes a space
    assert [(r.x, r.text, r.adv) for r in pg.runs] == [
        (72.0, "Total due:now", 63.0),
        (135.0, "X", 5.0),
    ]
    assert [(r[0], r[3], r[5]) for r in runs] == [
        (72.0, "Total due:now", 63.0),
        (135.0, "X", 5.0),
    ]
    # whole-doc equality through the writer path
    from tests.oracle import oracle_extract

    pg2 = PageBuilder()
    pg2.text_tj(72, 700, ["Amount", -300.0, "USD", -40.0, "42.00"])
    pg2.text(240, 700, "right-cell")
    doc = build_pdf([pg2])
    e, _ = extract_doc([("pdf", doc, "", 0)])
    o, _ = oracle_extract([("pdf", doc, "", 0)])
    assert e == o


def test_mediabox_page_sizes():
    """Per-page /MediaBox drives the layout geometry (r5): zone cuts
    are fractions of the page height, so a repeated y=760 header is
    boilerplate on US Letter (cut 728.6) but BODY text on A4 (cut
    774.5); origin-shifted boxes translate; /Pages-node inheritance
    works; malformed boxes degrade to Letter.  Engine ≡ oracle on
    every shape."""
    from tests.oracle import oracle_extract

    def three_pages(size):
        pages = []
        for p in (1, 2, 3):
            pg = PageBuilder(size=size)
            pg.text(72, 760, "MegaCorp - Statement")  # the probe line
            pg.text(72, 700, f"Invoice INV-{p} total: ${p}.00")
            pages.append(pg)
        return pages

    def spans_of(doc):
        e, _ = extract_doc([("pdf", doc, "", 0)])
        o, _ = oracle_extract([("pdf", doc, "", 0)])
        assert e == o
        return e

    letter = spans_of(build_pdf(three_pages((612.0, 792.0))))
    a4 = spans_of(build_pdf(three_pages((595.28, 841.89))))
    assert not any("MegaCorp" in s[1] for s in letter)  # header-zone boiler
    assert sum("MegaCorp" in s[1] for s in a4) == 3     # body text on A4

    # inheritance: the same A4 box on the /Pages node, none per page
    a4_inh = spans_of(
        build_pdf(three_pages((595.28, 841.89)), inherit_mediabox=True)
    )
    assert a4_inh == a4

    # origin-shifted box: content written at +20/+40 normalizes back
    base_pg = PageBuilder()
    base_pg.text(72, 700, "Invoice INV-7 total: $9.00")
    base = spans_of(build_pdf([base_pg]))
    off_pg = PageBuilder(media_origin=(20.0, 40.0))
    off_pg.text(92, 740, "Invoice INV-7 total: $9.00")
    assert spans_of(build_pdf([off_pg])) == base

    # malformed box (x1 < x0) degrades to the Letter default
    import re as _re

    bad = _re.sub(
        r"/MediaBox \[[^\]]*\]", "/MediaBox [0 0 -612 792]",
        build_pdf([three_pages((612.0, 792.0))[0]]),
    )
    good = build_pdf([three_pages((612.0, 792.0))[0]])
    assert spans_of(bad) == spans_of(good)

    # rotated A4: /Rotate 90 swaps the display dims (841.89 x 595.28);
    # display (72, 500) <- user (W - 500, 72) per the k=1 inverse
    rp = PageBuilder(rotate=90, size=(595.28, 841.89))
    rp.text_rot(595.28 - 500, 72, "Sideways scan INV-5 total: $3.00",
                quad=1)
    rot_spans = spans_of(build_pdf([rp]))
    assert any("INV-5" in s[1] for s in rot_spans), rot_spans


def test_v4_encrypt_dict_alphabetical_key_order():
    """Acrobat writes encrypt-dict keys alphabetically, so the /CF
    crypt-filter sub-dict (whose /Length 16 is BYTES) precedes the
    top-level /Length 128 (BITS).  Key lookups must be scoped to the
    top level — a first-match scan reads 16, fails the 40<=bits<=128
    guard, and silently drops every page.  Engine ≡ oracle ≡ the
    writer-ordered document."""
    import re as _re

    from tests.oracle import oracle_extract

    pg = PageBuilder()
    pg.text(72, 700, "Invoice INV-9 total: $42.00")
    doc = build_pdf([pg], encrypt="aes-128")
    m = _re.search(
        r"<< /Filter /Standard /V 4 /R 4 /Length 128 "
        r"/CF (<< /StdCF << /CFM /AESV2 /Length 16 >> >>) "
        r"/StmF /StdCF /StrF /StdCF /O <([0-9A-F]+)> /U <([0-9A-F]+)> "
        r"/P (-?\d+) >>",
        doc,
    )
    assert m, "writer encrypt-dict shape changed — update this test"
    cf, o, u, p = m.groups()
    alpha = (
        f"<< /CF {cf} /Filter /Standard /Length 128 /O <{o}> /P {p} "
        f"/R 4 /StmF /StdCF /StrF /StdCF /U <{u}> /V 4 >>"
    )
    # a token permutation is byte-length-preserving: xref offsets hold
    assert len(alpha) == len(m.group(0))
    doc2 = doc[: m.start()] + alpha + doc[m.end() :]
    e0, f0 = extract_doc([("pdf", doc, "", 0)])
    e1, f1 = extract_doc([("pdf", doc2, "", 0)])
    o1, of1 = oracle_extract([("pdf", doc2, "", 0)])
    assert e1 == e0 == o1
    assert f1 == f0 == of1
    assert any("INV-9" in s[1] for s in e1), e1


def test_acroform_field_values():
    """AcroForm text fields (ISO 32000-1 §12.7): writer emits terminal
    /FT /Tx fields with direct /T and /V; engine and oracle emit
    ("form", value, name) spans after page items (before attachments),
    in /Fields order, across every layout incl. encryption (ALL dict
    strings — literal and UTF-16BE hex — encrypt per §7.6.2).  Form
    values do NOT feed field extraction."""
    from tests.oracle import oracle_extract

    pg = PageBuilder()
    pg.text(72, 700, "Invoice INV-88 total: $10.00")
    ff = [
        ("InvoiceNumber", "INV-88"),
        ("GrandTotal", "USD 77777.77"),  # NOT on the page
        ("Payee", "Müller — café €"),  # UTF-16BE hex + BOM
    ]
    for opts in (
        {}, {"compress": True}, {"objstm": True}, {"hybrid": True},
        {"encrypt": "rc4-40"}, {"encrypt": "rc4-128"},
        {"encrypt": "aes-128"}, {"encrypt": "aes-256"},
        {"ascii_filter": "a85"},
    ):
        doc = build_pdf(
            [pg], form_fields=ff, attachments=[("a.txt", "AAA")], **opts
        )
        e, f = extract_doc([("pdf", doc, "", 0)])
        o, of = oracle_extract([("pdf", doc, "", 0)])
        assert e == o, opts
        assert [(s[2], s[1]) for s in e if s[0] == "form"] == ff, opts
        # order: page items, then forms, then attachments; dense
        assert [s[0] for s in e] == [
            "text", "form", "form", "form", "attachment"
        ], opts
        assert [s[3] for s in e] == list(range(len(e)))
        # the 77777.77 amount lives ONLY in the form value: field
        # extraction stays payload-only
        assert f == of
        assert all("77777" not in str(v) for v in f.values()), f

    # merged-widget /Kids shape: valueless parent carries /T, the kid
    # carries /V — hand-built by splitting one field in two objects
    import re as _re

    doc = build_pdf([pg], form_fields=[("Ref", "R-1")])
    m = _re.search(
        r"/FT /Tx /T \(Ref\) /V \(R-1\)", doc
    )
    assert m is not None
    kid = max(int(x) for x in _re.findall(r"(\d+) 0 obj", doc)) + 1
    doc2 = doc.replace(
        m.group(0), f"/FT /Tx /T (Ref) /Kids [ {kid} 0 R ]"
    ).replace(
        "%%EOF", f"{kid} 0 obj\n<< /V (R-1) >>\nendobj\n%%EOF"
    )
    e, _ = extract_doc([("pdf", doc2, "", 0)])
    o, _ = oracle_extract([("pdf", doc2, "", 0)])
    assert e == o
    assert [(s[2], s[1]) for s in e if s[0] == "form"] == [("Ref", "R-1")]

    # degrade shapes, engine ≡ oracle, never crash: non-text field
    # type skipped; valueless field skipped; dangling field ref skipped
    for mut in (
        lambda d: d.replace("/FT /Tx", "/FT /Btn"),
        lambda d: d.replace("/V (R-1) ", ""),
        lambda d: _re.sub(r"/Fields \[ \d+ 0 R \]", "/Fields [ 999 0 R ]", d),
    ):
        d3 = mut(doc)
        e3, _ = extract_doc([("pdf", d3, "", 0)])
        o3, _ = oracle_extract([("pdf", d3, "", 0)])
        assert e3 == o3
        assert not [s for s in e3 if s[0] == "form"]


def test_ascii_filter_family_roundtrip():
    """/ASCIIHexDecode, the [/ASCII85Decode /FlateDecode] chain and
    /RunLengthDecode (ISO 32000-1 §7.4.2/3/5): writer emits, parser
    chain-decodes, engine ≡ oracle ≡ the plain doc.  Also pins the
    a85 'z' zero-group shortcut and rle repeat/literal framing at the
    primitive level."""
    from accountant_pdf_extract_spark.operators.pdfparse import (
        _ascii85_decode, _asciihex_decode, _rle_decode,
    )
    from accountant_pdf_extract_spark.sources.pdfwriter import (
        _ascii85_encode, _asciihex_encode, _rle_encode,
    )
    from tests.oracle import oracle_extract

    import random

    rnd = random.Random(7)
    for n in (0, 1, 2, 3, 4, 5, 63, 64, 1000):
        data = bytes(rnd.randrange(256) for _ in range(n))
        for enc, dec in (
            (_ascii85_encode, _ascii85_decode),
            (_asciihex_encode, _asciihex_decode),
            (_rle_encode, _rle_decode),
        ):
            assert dec(enc(data).encode("latin-1")) == data, (n, enc)
    assert _ascii85_encode(b"\x00" * 4) == "z~>"
    assert _rle_decode(b"\xfe\x41\x02abc\x80") == b"AAAabc"

    pages, font = _font_pages()
    base = build_pdf(pages, font=font)
    e0, f0 = extract_doc([("pdf", base, "", 0)])
    for mode, tag in (
        ("hex", "/ASCIIHexDecode"),
        ("a85", "/ASCII85Decode"),
        ("rle", "/RunLengthDecode"),
    ):
        doc = build_pdf(pages, font=font, ascii_filter=mode)
        assert tag in doc
        if mode == "a85":  # the two-stage chain, in decode order
            assert "[ /ASCII85Decode /FlateDecode ]" in doc
        e1, f1 = extract_doc([("pdf", doc, "", 0)])
        o1, of1 = oracle_extract([("pdf", doc, "", 0)])
        assert e1 == e0 == o1, mode
        assert f1 == f0 == of1
    # filters compose with standard-security encryption (decrypt
    # happens BEFORE filter decode, ISO 32000-1 §7.6.2)
    doc = build_pdf(pages, font=font, ascii_filter="a85",
                    encrypt="aes-128")
    e1, _ = extract_doc([("pdf", doc, "", 0)])
    o1, _ = oracle_extract([("pdf", doc, "", 0)])
    assert e1 == e0 == o1


def test_filter_chain_array_decodeparms_alignment():
    """A hand-built [/ASCII85Decode /FlateDecode] chain with
    /DecodeParms [null << /Predictor 12 ... >>]: the predictor must
    bind to the FLATE stage (index alignment), not the a85 stage —
    engine ≡ oracle on the recovered text."""
    import zlib

    from accountant_pdf_extract_spark.operators.pdfparse import parse_pdf
    from accountant_pdf_extract_spark.sources.pdfwriter import (
        _ascii85_encode, _png_up,
    )
    from tests.oracle import pdf_spans

    content = b"BT /F0 12 Tf 72 700 Td (chained text) Tj ET"
    cols = 8
    predicted = _png_up(content, cols)
    payload = _ascii85_encode(zlib.compress(predicted, 6))
    doc = (
        "%%PDF-1.4\n"
        "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        "2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n"
        "3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
        "4 0 obj\n<< /Filter [ /ASCII85Decode /FlateDecode ] "
        "/DecodeParms [ null << /Predictor 12 /Columns %d >> ] "
        "/Length %d >>\nstream\n%sendstream\nendobj\n"
        % (cols, len(payload), payload)
    )
    runs = parse_pdf(doc.encode("latin-1"))[0].runs
    assert [r.text for r in runs] == ["chained text"]
    spans = pdf_spans(doc)
    assert [t for _, t, _ in spans if t.strip()] == ["chained text"]


def test_ascii_filter_malformed_degrades():
    """Malformed ASCII-family payloads and unknown filters degrade the
    STREAM to empty (page yields nothing, never garbage), engine ≡
    oracle: bad hex char, z inside an a85 group, a85 single trailing
    char, truncated rle, unknown name inside a chain."""
    from accountant_pdf_extract_spark.operators.pdfparse import parse_pdf
    from tests.oracle import pdf_spans

    def doc_with(filter_decl: str, payload: str) -> str:
        return (
            "%%PDF-1.4\n"
            "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
            "2 0 obj\n<< /Type /Pages /Kids [ 3 0 R ] /Count 1 >>\nendobj\n"
            "3 0 obj\n<< /Type /Page /Contents 4 0 R >>\nendobj\n"
            "4 0 obj\n<< /Filter %s /Length %d >>\n"
            "stream\n%sendstream\nendobj\n"
            % (filter_decl, len(payload), payload)
        )

    cases = [
        ("/ASCIIHexDecode", "48x69>"),             # non-hex char
        ("/ASCII85Decode", "!!z!!~>"),             # z inside group
        ("/ASCII85Decode", "!!!!!!~>"),            # 1-char final group
        ("/ASCII85Decode", "uuuuu~>"),             # group overflow
        ("/RunLengthDecode", "\x05ab"),            # truncated literal
        ("/RunLengthDecode", "\x00a"),             # missing EOD
        ("[ /ASCII85Decode /DCTDecode ]", "z~>"),  # unknown stage
    ]
    for decl, payload in cases:
        doc = doc_with(decl, payload)
        pages = parse_pdf(doc.encode("latin-1"))
        assert len(pages) == 1 and pages[0].runs == [], (decl, payload)
        spans = pdf_spans(doc)
        assert [t for _, t, _ in spans if t.strip()] == [], decl
    # valid payloads with the lenient shapes: odd hex digit pads with
    # 0, missing '>' EOD accepted, whitespace ignored everywhere
    from accountant_pdf_extract_spark.operators.pdfparse import (
        _ascii85_decode, _asciihex_decode,
    )

    assert _asciihex_decode(b"4 16") == b"A`"
    assert _asciihex_decode(b"41") == b"A"
    assert _ascii85_decode(b"z") == b"\x00" * 4


def test_aes_fips197_vectors():
    """FIPS 197 Appendix C known-answer vectors pin BOTH independent
    AES cores (engine functions/aes.py T-table core incl. the
    libcrypto fast path, oracle bitwise state-matrix core) for all
    three key sizes, plus CBC/pad framing cross-checks."""
    from accountant_pdf_extract_spark.functions import aes as A
    from tests import oracle as O

    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    for key, ct_hex in (
        (bytes(range(16)), "69c4e0d86a7b0430d8cdb78070b4c55a"),
        (bytes(range(24)), "dda97ca4864cdfe06eaf70a0ec0d7191"),
        (bytes(range(32)), "8ea2b7ca516745bfeafc49904b496089"),
    ):
        ct = bytes.fromhex(ct_hex)
        w = A._expand_key(key)
        assert A._encrypt_block(w, pt) == ct
        assert A._decrypt_block(A._dec_key(w), ct) == pt
        rks = O._aes_round_keys(key)
        assert O._aes_enc_block(rks, pt) == ct
        assert O._aes_dec_block(rks, ct) == pt
    # CBC framing: engine encrypt == oracle decrypt inverse, incl.
    # the libcrypto path (when bound) vs the pure-Python core
    key, iv = bytes(range(32)), bytes(range(16, 32))
    for sz in (0, 1, 15, 16, 17, 300):
        d = bytes((i * 13 + 7) & 0xFF for i in range(sz))
        ct = A.cbc_encrypt(key, iv, d)
        assert len(ct) % 16 == 0 and len(ct) >= len(d) + 1
        assert A.cbc_decrypt(key, iv, ct) == d
        assert A._cbc_decrypt_py(key, iv, ct) == d
        assert O._aes_cbc_dec(key, iv + ct) == d
    # malformed framing/pad raises in both implementations
    import pytest as _pytest

    for bad in (b"", b"\x00" * 15, b"\x00" * 17, b"\x00" * 16):
        with _pytest.raises(ValueError):
            A.cbc_decrypt(key, iv, bad or b"\x01")
        with _pytest.raises(ValueError):
            O._aes_cbc_dec(key, iv + (bad or b"\x01"))
    # R6 hardened KDF: two independent implementations agree
    from accountant_pdf_extract_spark.functions import pdfcrypt

    assert pdfcrypt.hash_2b(b"", b"abcdefgh") == O._hash_2b(b"", b"abcdefgh")


def test_encrypted_aes_roundtrip_matches_oracle():
    """AES crypt filters (r4 verdict item 6 stretch): /V 4 R4
    /CFM /AESV2 (AES-128-CBC, MD5+sAlT object keys) and /V 5 R6
    /CFM /AESV3 (AES-256, Algorithm-2.B hardened KDF, /UE key
    recovery, /Perms tamper check) with EMPTY passwords — writer
    encrypts per-object (IV||CBC framing, /Length rewritten), parser
    decrypts, engine ≡ oracle ≡ the unencrypted doc."""
    from tests.oracle import oracle_extract

    pages, font = _font_pages()
    base = build_pdf(pages, font=font)
    e0, f0 = extract_doc([("pdf", base, "", 0)])
    for mode, compress in (
        ("aes-128", False), ("aes-128", True),
        ("aes-256", False), ("aes-256", True),
    ):
        enc = build_pdf(pages, compress=compress, font=font, encrypt=mode)
        assert "/Filter /Standard" in enc and "/Encrypt" in enc
        tag = "/AESV2" if mode == "aes-128" else "/AESV3"
        assert tag in enc and "/StmF /StdCF" in enc
        # plaintext unreadable raw (both text operators and streams)
        assert "Tj" not in enc.split("stream", 1)[1].split("endstream")[0]
        e1, f1 = extract_doc([("pdf", enc, "", 0)])
        o1, of1 = oracle_extract([("pdf", enc, "", 0)])
        assert e1 == e0 == o1, (mode, compress)
        assert f1 == f0 == of1
    # per-object AES keys differ object-to-object (AESV2)…
    from accountant_pdf_extract_spark.functions import pdfcrypt

    fk = bytes(range(16))
    assert pdfcrypt.object_key_aes(fk, 1) != pdfcrypt.object_key_aes(fk, 2)
    # …and differ from the RC4 object keys (the sAlT suffix)
    assert pdfcrypt.object_key_aes(fk, 1) != pdfcrypt.object_key(fk, 1)


def test_encrypted_aes_malformed_degrades():
    """AES-specific degrade paths: tampered /Perms or truncated /UE
    (V5) and unknown /CFM (V4) → zero-page doc; a malformed AES value
    inside an otherwise-valid doc degrades that VALUE, never emits
    garbage — engine ≡ oracle everywhere."""
    import re

    from tests.oracle import oracle_extract

    pg = PageBuilder()
    pg.text(72, 700, "secret text")
    enc5 = build_pdf([pg], encrypt="aes-256")
    enc4 = build_pdf([pg], encrypt="aes-128")

    def both_empty(doc):
        e, _ = extract_doc([("pdf", doc, "", 0)])
        o, _ = oracle_extract([("pdf", doc, "", 0)])
        assert e == o == [], (e, o)

    # V5: flip a /Perms byte (tamper check), truncate /UE, wrong /U hash
    both_empty(re.sub(r"/Perms <..", "/Perms <00", enc5, count=1)
               if "/Perms <00" not in enc5 else
               re.sub(r"/Perms <..", "/Perms <11", enc5, count=1))
    both_empty(re.sub(r"/UE <[0-9A-F]*>", "/UE <1122>", enc5))
    both_empty(re.sub(r"/U <..", "/U <00", enc5, count=1)
               if "/U <00" not in enc5 else
               re.sub(r"/U <..", "/U <11", enc5, count=1))
    # V4: unknown crypt-filter method
    both_empty(enc4.replace("/CFM /AESV2", "/CFM /AESV9"))
    # V5 with the wrong R
    both_empty(enc5.replace("/V 5 /R 6", "/V 5 /R 5"))
    # a single truncated AES string value degrades to empty, the rest
    # of the document still extracts (engine ≡ oracle)
    m = re.search(r"stream\r?\n", enc4)
    assert m is not None
    e_full, _ = extract_doc([("pdf", enc4, "", 0)])
    o_full, _ = oracle_extract([("pdf", enc4, "", 0)])
    assert e_full == o_full and e_full  # sanity: doc is readable
    # encryption over the 1.5 layout is supported since r5 — the
    # combo has its own test (test_encrypted_objstm_hybrid_layouts);
    # here just pin that it emits the xref-stream shape
    enc15 = build_pdf([pg], objstm=True, encrypt="aes-128")
    assert "/Type /XRef" in enc15 and "/Encrypt" in enc15


def test_hybrid_xref_layout_matches_oracle():
    """build_pdf(hybrid=True) — Acrobat's classic-xref-table +
    /XRefStm incremental-save layout (r4 verdict item 5) — parses to
    the same spans as the pure-1.5 layout, engine ≡ oracle; composes
    with predictor=True; startxref aims at the classic table and the
    packed objects are FREE entries there."""
    import re

    from tests.oracle import pdf_spans

    pages, font = _font_pages()
    base = build_pdf(pages, objstm=True, font=font)
    hyb = build_pdf(pages, hybrid=True, font=font)
    assert "trailer" in hyb and "/XRefStm" in hyb and "\nxref\n" in hyb
    sx = int(re.search(r"startxref\n(\d+)", hyb).group(1))
    assert hyb.encode("latin-1")[sx : sx + 4] == b"xref"
    assert "0000000000 00000 f " in hyb  # packed objects freed
    eng_b, _ = extract_doc([("pdf", base, "", 0)])
    eng_h, _ = extract_doc([("pdf", hyb, "", 0)])
    assert eng_h == eng_b
    assert [(k, t, m) for k, t, m, _ in eng_h] == pdf_spans(hyb)
    ph = build_pdf(pages, hybrid=True, predictor=True, font=font)
    eng_p, _ = extract_doc([("pdf", ph, "", 0)])
    assert eng_p == eng_b
    assert [(k, t, m) for k, t, m, _ in eng_p] == pdf_spans(ph)


def test_hybrid_xrefstm_only_recovery():
    """In a hybrid file whose ObjStm header objnums are corrupt, the
    packed objects are reachable ONLY through the /XRefStm-pointed
    stream's type-2 entries (the classic table marks them free) —
    the parser must still recover the page, engine ≡ oracle."""
    from tests.oracle import pdf_spans

    content = "BT /F1 10 Tf 72 700 Td (hybrid recovered) Tj ET\n"
    packed = {
        1: "<< /Type /Catalog /Pages 2 0 R >>",
        2: "<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        4: ("<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            "/Contents 3 0 R >>"),
    }
    nums = sorted(packed)
    bodies = [packed[n] for n in nums]
    offs, pos = [], 0
    for b in bodies:
        offs.append(pos)
        pos += len(b) + 1
    header = " ".join(f"{900 + i} {o}" for i, o in enumerate(offs)) + "\n"
    payload = header + "\n".join(bodies)
    objstm = (f"<< /Type /ObjStm /N 3 /First {len(header)} "
              f"/Length {len(payload)} >>\nstream\n{payload}endstream")
    rows = bytearray()
    entries = {0: (0, 0, 65535), 3: (1, 0, 0), 5: (1, 0, 0), 6: (1, 0, 0)}
    for num in range(7):
        if num in entries:
            t, f2, f3 = entries[num]
        else:
            t, f2, f3 = 2, 5, nums.index(num)
        rows += bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
    raw = bytes(rows)
    assert b"endstream" not in raw and b"endobj" not in raw
    xref = (f"<< /Type /XRef /Size 7 /W [ 1 4 2 ] /Index [ 0 7 ] "
            f"/Root 1 0 R /Length {len(raw)} >>\nstream\n"
            f"{raw.decode('latin-1')}endstream")
    body = (
        "%PDF-1.5\n"
        f"3 0 obj\n<< /Length {len(content)} >>\nstream\n{content}endstream\nendobj\n"
        f"5 0 obj\n{objstm}\nendobj\n"
    )
    xref_off = len(body.encode("latin-1"))
    body += f"6 0 obj\n{xref}\nendobj\n"
    classic_off = len(body.encode("latin-1"))
    # classic table: free entries for the packed objnums 1/2/4
    table = [
        "xref", "0 7",
        "0000000000 65535 f ", "0000000000 00000 f ",
        "0000000000 00000 f ", "0000000009 00000 n ",
        "0000000000 00000 f ", "0000000100 00000 n ",
        f"{xref_off:010d} 00000 n ",
    ]
    pdf = (
        body + "\n".join(table)
        + f"\ntrailer\n<< /Size 7 /Root 1 0 R /XRefStm {xref_off} >>\n"
        + f"startxref\n{classic_off}\n%%EOF\n"
    )
    eng, _ = extract_doc([("pdf", pdf, "", 0)])
    assert [(k, t, m) for k, t, m, _ in eng] == [
        ("text", "hybrid recovered", "")
    ]
    assert pdf_spans(pdf) == [("text", "hybrid recovered", "")]


def test_xref_type2_recovers_corrupt_objstm_header_objnums():
    """The ObjStm header's objnum fields are garbage (all 900+) but the
    xref stream's type-2 entries map the true objnums by index — the
    parser must recover every object through the xref, engine ≡
    oracle.  Streams stay UNCOMPRESSED so the corruption is surgical."""
    from tests.oracle import pdf_spans

    content = "BT /F1 10 Tf 72 700 Td (recovered) Tj ET\n"
    packed = {
        1: "<< /Type /Catalog /Pages 2 0 R >>",
        2: "<< /Type /Pages /Kids [4 0 R] /Count 1 >>",
        4: ("<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            "/Contents 3 0 R >>"),
    }
    nums = sorted(packed)
    bodies = [packed[n] for n in nums]
    offs, pos = [], 0
    for b in bodies:
        offs.append(pos)
        pos += len(b) + 1
    # corrupt header: objnums shifted into the 900s
    header = " ".join(f"{900 + i} {o}" for i, o in enumerate(offs)) + "\n"
    payload = header + "\n".join(bodies)
    objstm = (f"<< /Type /ObjStm /N 3 /First {len(header)} "
              f"/Length {len(payload)} >>\nstream\n{payload}endstream")
    rows = bytearray()
    entries = {0: (0, 0, 65535), 3: (1, 0, 0), 5: (1, 0, 0), 6: (1, 0, 0)}
    for num in range(7):
        if num in entries:
            t, f2, f3 = entries[num]
        else:
            t, f2, f3 = 2, 5, nums.index(num)  # type-2: (objstm=5, idx)
        rows += bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
    raw = bytes(rows)
    assert b"endstream" not in raw and b"endobj" not in raw
    xref = (f"<< /Type /XRef /Size 7 /W [ 1 4 2 ] /Index [ 0 7 ] "
            f"/Root 1 0 R /Length {len(raw)} >>\nstream\n"
            f"{raw.decode('latin-1')}endstream")
    pdf = (
        "%PDF-1.5\n"
        f"3 0 obj\n<< /Length {len(content)} >>\nstream\n{content}endstream\nendobj\n"
        f"5 0 obj\n{objstm}\nendobj\n"
        f"6 0 obj\n{xref}\nendobj\n"
        "startxref\n0\n%%EOF\n"
    )
    eng, _ = extract_doc([("pdf", pdf, "", 0)])
    assert [(k, t, m) for k, t, m, _ in eng] == [("text", "recovered", "")]
    assert pdf_spans(pdf) == [("text", "recovered", "")]


def test_corrupt_objstm_degrades_not_raises():
    """A /Type /ObjStm whose Flate payload is corrupt yields an empty
    object set from that stream (doc parses to nothing) — engine and
    oracle both degrade instead of raising."""
    from tests.oracle import pdf_spans

    pages, font = _font_pages()
    pdf = build_pdf(pages, objstm=True, font=font)
    # surgically corrupt the ObjStm zlib payload (flip bytes after its
    # stream marker) while leaving everything else intact
    k = pdf.index("/Type /ObjStm")
    s = pdf.index("stream\n", k) + len("stream\n")
    pdf_bad = pdf[:s] + "\x00\x01\x02\x03" + pdf[s + 4:]
    eng, _ = extract_doc([("pdf", pdf_bad, "", 0)])
    ora = pdf_spans(pdf_bad)
    assert [(k_, t, m) for k_, t, m, _ in eng] == ora == []


def test_objstm_redefined_without_stream_is_not_expanded():
    """An incremental update redefines the ObjStm object as a plain
    dict (last definition wins): the superseded stream must not be
    expanded, so the page packed only in it is gone — engine ≡
    oracle, with the top-level page still read."""
    from tests.oracle import oracle_extract

    kept = "BT /F1 10 Tf 72 700 Td (kept page) Tj ET\n"
    stale = "BT /F1 10 Tf 72 700 Td (stale page) Tj ET\n"
    header = "4 0\n"
    payload = header + (
        "<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        "/Contents 8 0 R >>"
    )
    pdf = (
        "%PDF-1.5\n"
        "1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        "2 0 obj\n<< /Type /Pages /Kids [4 0 R 7 0 R] /Count 2 >>\nendobj\n"
        f"3 0 obj\n<< /Length {len(kept)} >>\nstream\n{kept}endstream\nendobj\n"
        f"5 0 obj\n<< /Type /ObjStm /N 1 /First {len(header)} "
        f"/Length {len(payload)} >>\nstream\n{payload}endstream\nendobj\n"
        "7 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        "/Contents 3 0 R >>\nendobj\n"
        f"8 0 obj\n<< /Length {len(stale)} >>\nstream\n{stale}endstream\nendobj\n"
        "trailer\n<< /Size 9 /Root 1 0 R >>\n%%EOF\n"
        # incremental update: object 5 loses its stream
        "5 0 obj\n<< /Type /Null >>\nendobj\n"
        "trailer\n<< /Size 9 /Root 1 0 R >>\n%%EOF\n"
    )
    spans = [("pdf", pdf, "", 0)]
    eng, _ = extract_doc(spans)
    assert eng == oracle_extract(spans)[0] == [("text", "kept page", "", 0)]


def test_simplefont_encode_rejects_unmappable():
    from accountant_pdf_extract_spark.sources.pdfwriter import SimpleFont

    font = SimpleFont(differences=((0x80, "Euro"),))
    assert font.encode("€") == "\x80"
    import pytest

    with pytest.raises(ValueError, match="not encodable"):
        font.encode("☃")  # U+2603, no code and not latin-1


def test_font_identity_without_resource():
    """No /Font resource → codes decode identity latin-1 (the pre-r4
    closed subset is bit-stable)."""
    pg = PageBuilder()
    pg.text(72, 700, "caf\xe9 \x96 x")  # é latin-1, 0x96 raw
    pdf = build_pdf([pg])
    eng, _ = extract_doc([("pdf", pdf, "", 0)])
    assert eng == [("text", "caf\xe9 \x96 x", "", 0)]


# --------------------------------------------------------------------------
# LZWDecode, WinAnsiEncoding, Tm scale — round 4 realism batch
# --------------------------------------------------------------------------


def test_lzw_roundtrip_and_corrupt():
    from accountant_pdf_extract_spark.operators.pdfparse import _lzw_decode
    from accountant_pdf_extract_spark.sources.pdfwriter import _lzw_encode

    import random

    rng = random.Random(7)
    for case in (b"", b"A", b"-----A---B", b"abc" * 2000,
                 bytes(rng.randrange(256) for _ in range(30_000)),
                 bytes(rng.randrange(4) for _ in range(150_000))):
        assert _lzw_decode(_lzw_encode(case)) == case

    import pytest

    for bad in (b"", b"\x00\x00", _lzw_encode(b"hello")[:-2]):
        with pytest.raises(ValueError):
            _lzw_decode(bad)


def test_lzw_winansi_objstm_pdf_matches_oracle():
    """LZW content streams + bare /WinAnsiEncoding font through every
    layout combination — engine ≡ oracle, € and cp1252 punctuation
    decoded."""
    from accountant_pdf_extract_spark.sources.pdfwriter import SimpleFont
    from tests.oracle import pdf_spans

    font = SimpleFont(winansi=True)
    pg = PageBuilder()
    pg.text(72, 700, font.encode("Total: 1.234,56 € – “quoted”"))
    expected = None
    for objstm in (False, True):
        pdf = build_pdf([pg], lzw=True, objstm=objstm, font=font)
        assert "/LZWDecode" in pdf
        if not objstm:
            assert "/WinAnsiEncoding" in pdf
        else:
            # the font dict lives inside the compressed ObjStm — its
            # name must NOT appear in the raw bytes
            assert "/WinAnsiEncoding" not in pdf
        eng, _ = extract_doc([("pdf", pdf, "", 0)])
        assert [(k, t, m) for k, t, m, _ in eng] == pdf_spans(pdf)
        assert eng[0][1] == "Total: 1.234,56 € – “quoted”"
        expected = expected or eng
        assert eng == expected


def test_tm_scale_drives_width_and_gaps():
    """Tf 1 + Tm scale 10 must behave exactly like size-10 text for
    advance width and gap heuristics (the real-world convention of
    scaling via the text matrix)."""
    from tests.oracle import pdf_spans

    content = (
        "BT /F1 1 Tf 10 0 0 10 72 700 Tm (Invoice No:) Tj ET\n"
        "BT /F1 1 Tf 10 0 0 10 140 700 Tm (INV-2024-0001) Tj ET\n"
        "BT /F1 10 Tf 72 680 Td (plain baseline) Tj ET\n"
    )
    pdf = (
        "%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        "2 0 obj\n<< /Type /Pages /Kids [4 0 R] /Count 1 >>\nendobj\n"
        f"3 0 obj\n<< /Length {len(content)} >>\nstream\n{content}endstream\nendobj\n"
        "4 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        "/Contents 3 0 R >>\nendobj\n%%EOF\n"
    )
    eng, _ = extract_doc([("pdf", pdf, "", 0)])
    assert [(k, t, m) for k, t, m, _ in eng] == pdf_spans(pdf)
    # the two scaled runs join into one line with a gap-ruled space
    assert eng[0][1] == "Invoice No: INV-2024-0001"


def test_cid_identity_h_font_via_tounicode():
    """Composite /Type0 /Identity-H font: 2-byte hex-string codes
    decode through ToUnicode (unmapped codes → chr(code)); engine ≡
    oracle across both file layouts; encode refuses glyphs shadowed
    by a conflicting ToUnicode entry."""
    from accountant_pdf_extract_spark.sources.pdfwriter import SimpleFont
    from tests.oracle import pdf_spans

    font = SimpleFont(cid=True, tounicode=((0x0045, "€"), (0x0100, "X")))
    pg = PageBuilder()
    pg.text_hex(72, 700, font.encode("Total: 12,50 €"))
    pg.text_hex(72, 680, font.encode("XBC"))  # X rides its mapped 0x0100
    for objstm in (False, True):
        pdf = build_pdf([pg], objstm=objstm, font=font)
        eng, _ = extract_doc([("pdf", pdf, "", 0)])
        assert [(k, t, m) for k, t, m, _ in eng] == pdf_spans(pdf)
        assert [t for _, t, _, _ in eng] == ["Total: 12,50 €", "XBC"]

    import pytest

    # identity fallback must refuse glyphs whose codepoint is claimed
    # by a ToUnicode entry meaning something else
    for shadowed in ("Euro: E", "Ā"):  # 'E'=0x45→€, U+0100→X
        with pytest.raises(ValueError, match="shadowed"):
            font.encode(shadowed)


def test_simple_font_widths_advance():
    """Per-glyph /FirstChar+/Widths metrics (§9.2.4): the parser and
    oracle advance per SOURCE CODE; direct and indirect /Widths
    arrays and ObjStm packing all decode identically; a gap sized
    off the proportional advance classifies as intended."""
    from accountant_pdf_extract_spark.sources.pdfwriter import SimpleFont
    from accountant_pdf_extract_spark.sources.synth import PROP_WIDTHS
    from tests.oracle import pdf_spans

    for indirect in (False, True):
        font = SimpleFont(
            widths=PROP_WIDTHS, missing_width=500,
            widths_indirect=indirect,
        )
        pg = PageBuilder()
        pg.text(72, 700, "Invoice total", size=10)
        end = 72 + font.text_advance("Invoice total", 10)
        pg.text(end + 4, 700, "due", size=10)     # > 0.25·size → space
        pg.text(end + 120, 700, "99.00", size=10)  # wide → tab cell
        for objstm in (False, True):
            pdf = build_pdf([pg], objstm=objstm, font=font)
            eng, _ = extract_doc([("pdf", pdf, "", 0)])
            assert [(k, t, m) for k, t, m, _ in eng] == pdf_spans(pdf)
            texts = [t for _, t, _, _ in eng]
            assert texts == ["Invoice total due\t99.00"], (indirect, objstm)


def test_simple_font_missing_width_default():
    """Codes outside [FirstChar, LastChar] advance by the
    /FontDescriptor /MissingWidth — £ (0xA3) under a 32-126 array
    lands exactly where the flat model would put it."""
    from accountant_pdf_extract_spark.sources.pdfwriter import SimpleFont
    from accountant_pdf_extract_spark.operators.pdfparse import parse_pdf

    font = SimpleFont(
        widths=tuple((c, 600) for c in range(32, 127)),
        missing_width=250,
    )
    pg = PageBuilder()
    pg.text(72, 700, "\xa3\xa3ab", size=10)  # 2×250 + 2×600 milli
    pdf = build_pdf([pg], font=font)
    runs = parse_pdf(pdf.encode("latin-1"))[0].runs
    assert len(runs) == 1
    assert abs(runs[0].adv - (2 * 2.5 + 2 * 6.0)) < 1e-9


def test_cid_font_w_dw_advance():
    """CID /DW + /W metrics (§9.7.4.3): writer range-form round-trip
    through engine and oracle, plus both /W grammar forms parsed
    directly (``c [w…]`` and ``c1 c2 w``); Tw never applies inside a
    2-byte CID string."""
    from accountant_pdf_extract_spark.operators.pdfparse import (
        _cid_widths, parse_pdf,
    )
    from accountant_pdf_extract_spark.sources.pdfwriter import SimpleFont
    from tests.oracle import _font_widths, pdf_spans

    font = SimpleFont(
        cid=True,
        tounicode=((0x0045, "€"),),
        cid_dw=480,
        cid_w=((0x30, 0x39, 700), (0x45, 0x45, 900)),
    )
    pg = PageBuilder()
    pg.text_hex(72, 700, font.encode("A1 €"), size=10)
    pdf = build_pdf([pg], font=font)
    eng, _ = extract_doc([("pdf", pdf, "", 0)])
    assert [(k, t, m) for k, t, m, _ in eng] == pdf_spans(pdf)
    assert [t for _, t, _, _ in eng] == ["A1 €"]
    # advance: A(dflt .48) 1(.7) space(dflt .48) €→code 0x45(.9) at 10
    runs = parse_pdf(pdf.encode("latin-1"))[0].runs
    assert abs(runs[0].adv - (0.48 + 0.7 + 0.48 + 0.9) * 10) < 1e-9

    # both /W grammar forms, engine and oracle twins agree
    body_b = b"/DW 1000 /W [ 32 [500 600] 48 57 700 ]"
    for fn, body in ((_cid_widths, body_b),
                     (lambda b: _font_widths(
                         "/Subtype /Type0 /DescendantFonts [ 9 0 R ]",
                         {9: b}, True), body_b.decode())):
        dflt, tab = fn(body)
        assert dflt == 1.0
        assert tab[32] == 0.5 and tab[33] == 0.6 and tab[50] == 0.7
        assert 58 not in tab


def test_widths_ligature_advances_one_glyph():
    """A ToUnicode code mapping to a multi-char string ("ffi")
    advances ONE glyph width under /Widths metrics — not
    len(decoded) chars as in the flat model (§9.2.4 note)."""
    from accountant_pdf_extract_spark.operators.pdfparse import parse_pdf
    from accountant_pdf_extract_spark.sources.pdfwriter import SimpleFont
    from tests.oracle import pdf_spans

    font = SimpleFont(
        tounicode=((0x01, "ffi"),),
        widths=tuple((c, 500) for c in range(1, 127)),
    )
    pg = PageBuilder()
    pg.ops.append("BT /F1 10 Tf 72 700 Td (o\\001ce) Tj ET")
    pdf = build_pdf([pg], font=font)
    runs = parse_pdf(pdf.encode("latin-1"))[0].runs
    assert runs[0].text == "office"  # 4 source codes -> 6 chars
    assert abs(runs[0].adv - 4 * 0.5 * 10) < 1e-9  # 4 codes, not 6 chars
    eng, _ = extract_doc([("pdf", pdf, "", 0)])
    assert [(k, t, m) for k, t, m, _ in eng] == pdf_spans(pdf)


def test_inline_image_segment_skipped():
    """BI..ID..EI inline-image segments (binary payload) are stripped
    before lexing — text before/after survives, garbage never parses,
    engine ≡ oracle."""
    from tests.oracle import pdf_spans

    content = (
        "BT /F1 10 Tf 72 700 Td (before) Tj ET\n"
        "BI /W 4 /H 4 /BPC 8 /CS /G ID \x00\xff(garbage)Tj 99 0 obj\nEI\n"
        "BT /F1 10 Tf 72 680 Td (after) Tj ET\n"
    )
    pdf = (
        "%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        "2 0 obj\n<< /Type /Pages /Kids [4 0 R] /Count 1 >>\nendobj\n"
        f"3 0 obj\n<< /Length {len(content)} >>\nstream\n{content}endstream\nendobj\n"
        "4 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        "/Contents 3 0 R >>\nendobj\n%%EOF\n"
    )
    eng, _ = extract_doc([("pdf", pdf, "", 0)])
    assert [(k, t, m) for k, t, m, _ in eng] == pdf_spans(pdf) == [
        ("text", "before", ""), ("text", "after", ""),
    ]


def test_incremental_update_last_object_wins():
    """Real-world incremental updates append a NEW generation of an
    object after the first %%EOF; the later definition must win (both
    scanners take the last occurrence), so edited PDFs read with their
    edits applied."""
    from tests.oracle import pdf_spans

    content_v1 = "BT /F1 10 Tf 72 700 Td (original) Tj ET\n"
    content_v2 = "BT /F1 10 Tf 72 700 Td (edited) Tj ET\n"
    base = (
        "%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        "2 0 obj\n<< /Type /Pages /Kids [4 0 R] /Count 1 >>\nendobj\n"
        f"3 0 obj\n<< /Length {len(content_v1)} >>\nstream\n{content_v1}endstream\nendobj\n"
        "4 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        "/Contents 3 0 R >>\nendobj\n%%EOF\n"
    )
    update = (
        f"3 0 obj\n<< /Length {len(content_v2)} >>\nstream\n{content_v2}endstream\nendobj\n"
        "%%EOF\n"
    )
    for pdf, want in ((base, "original"), (base + update, "edited")):
        eng, _ = extract_doc([("pdf", pdf, "", 0)])
        assert [(k, t, m) for k, t, m, _ in eng] == pdf_spans(pdf) == [
            ("text", want, "")
        ]


def test_tz_horizontal_scaling_persists_across_bt():
    """Tz (horizontal scaling percent) scales the effective glyph
    size for widths/gaps and — being TEXT STATE — persists across
    BT/ET until changed, unlike the per-object Tm scale."""
    from tests.oracle import pdf_spans

    content = (
        "BT /F1 10 Tf 50 Tz 72 700 Td (cond) Tj ET\n"   # eff 5: ends x=82
        "BT /F1 10 Tf 82 700 Td (next) Tj ET\n"         # Tz persists
        "BT /F1 10 Tf 100 Tz 72 680 Td (ab) Tj ET\n"    # reset: eff 10
        "BT /F1 10 Tf 90 680 Td (cd) Tj ET\n"           # gap 8 -> space
    )
    pdf = (
        "%PDF-1.4\n1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n"
        "2 0 obj\n<< /Type /Pages /Kids [4 0 R] /Count 1 >>\nendobj\n"
        f"3 0 obj\n<< /Length {len(content)} >>\nstream\n{content}endstream\nendobj\n"
        "4 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        "/Contents 3 0 R >>\nendobj\n%%EOF\n"
    )
    eng, _ = extract_doc([("pdf", pdf, "", 0)])
    assert [(k, t, m) for k, t, m, _ in eng] == pdf_spans(pdf) == [
        ("text", "condnext", ""), ("text", "ab cd", ""),
    ]


def test_kernel_systemic_all_fail_guards():
    """Two systemic fail-fast guards (r4 review): (a) extract_doc
    raising for EVERY doc of a >=8-doc batch must raise, not 'succeed'
    with zero output; (b) a zero-span doc in the batch must NOT defeat
    the all-Arrow-build-fail guard (empty segments always build, so
    they carry no evidence)."""

    def always_raise(spans):
        raise RuntimeError("deploy-level drift")

    def bad_fields(spans):
        out, fields = _overflow_when_bad([("text", "bad", "", 0)])
        return ([] if spans[0][1] == "empty" else out), fields

    for fn in KERNEL_FNS:
        # (a) all-extract_doc-fail on a >=8-doc batch raises
        with pytest.raises(RuntimeError, match="ALL 8"):
            _run_kernel_with(fn, always_raise, [f"t{i}" for i in range(8)])
        # below the threshold: per-doc drop semantics, empty output
        out, _ = _run_kernel_with(fn, always_raise, ["a", "b"])
        assert sum(b.num_rows for b in out) == 0, fn

        # (b) 8 bad-build docs + 1 zero-span doc: the build guard must
        # still fire (the empty segment is not a survivor)
        with pytest.raises(RuntimeError, match="non-empty docs"):
            _run_kernel_with(
                fn, bad_fields, [f"t{i}" for i in range(8)] + ["empty"]
            )


def test_total_prefers_amount_after_anchor():
    """A side-by-side totals box tab-joined into one line must yield
    the amount AFTER the Total anchor, not the positionally-first
    Subtotal (r4 both-wrong fix; oracle mirrors)."""
    f = extract_fields(["Subtotal: $90.00\tTotal: $100.00"])
    assert f["total"] == Decimal("100.00")
    # no amount after the anchor: fall back to the line's first
    f2 = extract_fields(["$55.00 due in total"])
    assert f2["total"] == Decimal("55.00")


def test_vrule_tolerance_symmetric():
    """A cell ruling whose BOTTOM sits within LINE_Y_TOL above the
    baseline must still split the cells (the old test only had slack
    at the rule's top end)."""
    pg = PageBuilder()
    pg.text(72, 100, "A")
    pg.text(90, 100, "B")   # gap 13 -> space unless a vrule crosses
    pg.vrule(85, 101, 9)    # rule spans y=101..110, baseline y=100
    out, _ = extract_doc([("pdf", build_pdf([pg]), "", 0)])
    assert [t for _, t, _, _ in out] == ["A\tB"]


# ---- Form XObjects (ISO 32000-1 §8.10) --------------------------------


def test_form_xobject_letterhead_equals_inline():
    """A letterhead emitted as ONE shared /Subtype /Form placed per
    page extracts byte-identically to the same ops written inline —
    including the boilerplate strip across ≥3 pages."""
    from accountant_pdf_extract_spark.sources.pdfwriter import FormXObject

    def build(as_form: bool) -> bytes:
        lh = FormXObject(bbox=(0, 0, 468, 40))
        lh.builder.text(0, 20, "Acme Corp - Statement", size=12)
        lh.builder.hrule(0, 10, 468)
        pages = []
        for p in range(3):
            pg = PageBuilder()
            if as_form:
                pg.place_form(lh, 72, 720)
            else:
                pg.text(72, 740, "Acme Corp - Statement", size=12)
                pg.hrule(72, 730, 468)
            pg.text(72, 650, f"Body line page {p + 1}")
            pages.append(pg)
        return _pdf(*pages)

    inline_out, _ = extract_doc([("pdf", build(False).decode("latin-1"), "", 0)])
    form_out, _ = extract_doc([("pdf", build(True).decode("latin-1"), "", 0)])
    assert form_out == inline_out
    # the in-zone repeated letterhead was boilerplate-stripped
    assert all("Acme Corp" not in t for _, t, _, _ in form_out)
    assert [t for _, t, _, _ in form_out] == [
        "Body line page 1", "Body line page 2", "Body line page 3",
    ]


def test_form_xobject_scaled_and_nested():
    """Nested form placed with a scaling cm: positions compose
    CTM ∘ /Matrix and the glyph size scales with the vertical term."""
    from accountant_pdf_extract_spark.sources.pdfwriter import FormXObject

    stamp = FormXObject(bbox=(0, 0, 100, 30))
    stamp.builder.text(0, 0, "ORIGINAL")
    outer = FormXObject(bbox=(0, 0, 468, 60))
    outer.builder.text(0, 40, "Outer header")
    outer.builder.place_form(stamp, 300, 0, sx=2.0, sy=2.0)
    pg = PageBuilder()
    pg.place_form(outer, 72, 700)
    pages = parse_pdf(_pdf(pg))
    runs = {r.text: r for r in pages[0].runs}
    assert runs["Outer header"].x == 72 and runs["Outer header"].y == 740
    st = runs["ORIGINAL"]
    assert (st.x, st.y) == (372, 700)
    assert st.size == 20.0  # 10pt × sy 2
    assert st.adv is not None and abs(st.adv - 2 * 8 * 0.5 * 10) < 1e-9


def test_form_xobject_matrix_composes_with_cm():
    """A /Matrix on the form dict composes BEFORE the cm at the Do
    site: [2 0 0 2 10 5] under a half-scale placement lands text at
    identity scale, offset by the half-scaled matrix translation."""
    from accountant_pdf_extract_spark.sources.pdfwriter import FormXObject

    fm = FormXObject(bbox=(0, 0, 200, 20), matrix=(2, 0, 0, 2, 10, 5))
    fm.builder.text(4, 0, "Matrix text")
    pg = PageBuilder()
    pg.place_form(fm, 50, 700, sx=0.5, sy=0.5)
    pages = parse_pdf(_pdf(pg))
    r = pages[0].runs[0]
    # x = 0.5·(2·4 + 10) + 50 = 59 ; y = 0.5·(2·0 + 5) + 700 = 702.5
    assert (r.x, r.y, r.size) == (59.0, 702.5, 10.0)


def test_form_xobject_rotated_text_inside_form():
    """Rotated (quad-1) text inside a form keeps its quadrant; size
    and advance scale directionally (height is horizontal for a
    vertical baseline)."""
    from accountant_pdf_extract_spark.sources.pdfwriter import FormXObject

    fm = FormXObject(bbox=(0, 0, 100, 100))
    fm.builder.text_rot(10, 10, "PAID", quad=1, size=24)
    pg = PageBuilder()
    pg.place_form(fm, 500, 300, sx=3.0, sy=1.0)
    pages = parse_pdf(_pdf(pg))
    r = pages[0].runs[0]
    assert r.rot == 1
    assert (r.x, r.y) == (530.0, 310.0)
    assert r.size == 72.0  # glyph height extends along x: 24 × sx 3
    assert r.adv is not None and abs(r.adv - 4 * 0.5 * 24 * 1.0) < 1e-9


def test_form_xobject_shared_object_parses_once():
    """The same FormXObject on N pages serializes as ONE stream object
    (writer dedup) and the engine caches the parsed fragment per doc."""
    from accountant_pdf_extract_spark.sources.pdfwriter import FormXObject

    lh = FormXObject(bbox=(0, 0, 468, 20))
    lh.builder.text(0, 0, "Shared letterhead")
    pages = []
    for _ in range(4):
        pg = PageBuilder()
        pg.place_form(lh, 72, 720)
        pages.append(pg)
    pdf = _pdf(*pages)
    assert pdf.count(b"/Subtype /Form") == 1
    parsed = parse_pdf(pdf)
    assert len(parsed) == 4
    assert all(p.runs and p.runs[0].text == "Shared letterhead" for p in parsed)


# ---- Optional content groups (ISO 32000-1 §8.11) ----------------------


def test_ocg_off_layer_hidden_on_layer_kept():
    """Content inside an /OFF OCG's ``/OC /MCn BDC … EMC`` bracket is
    dropped (text, rules, images); a visible layer's content stays."""
    from accountant_pdf_extract_spark.sources.pdfwriter import OCGLayer

    draft = OCGLayer("Draft", off=True)
    stamps = OCGLayer("Stamps", off=False)
    pg = PageBuilder()
    pg.text(72, 700, "Visible line A")
    pg.begin_layer(draft)
    pg.text(72, 680, "HIDDEN DRAFT TEXT")
    pg.hrule(72, 675, 400)
    pg.image(100, 100, 50, 50, "media://hidden")
    pg.end_layer()
    pg.begin_layer(stamps)
    pg.text(72, 660, "Visible stamp text")
    pg.end_layer()
    out, _ = extract_doc([("pdf", build_pdf([pg]), "", 0)])
    assert [(k, t, r) for k, t, r, _ in out] == [
        ("text", "Visible line A", ""),
        ("text", "Visible stamp text", ""),
    ]


def test_ocg_nested_bracket_stays_hidden():
    """A visible layer nested INSIDE a hidden bracket is still hidden
    (suppression spans until the matching EMC at the depth it began)."""
    from accountant_pdf_extract_spark.sources.pdfwriter import OCGLayer

    draft = OCGLayer("Draft", off=True)
    stamps = OCGLayer("Stamps", off=False)
    pg = PageBuilder()
    pg.begin_layer(draft)
    pg.begin_layer(stamps)
    pg.text(72, 640, "NESTED STILL HIDDEN")
    pg.end_layer()
    pg.text(72, 620, "ALSO HIDDEN")
    pg.end_layer()
    pg.text(72, 600, "visible after")
    out, _ = extract_doc([("pdf", build_pdf([pg]), "", 0)])
    assert [t for _, t, _, _ in out] == ["visible after"]


def test_ocg_hidden_show_still_advances_cursor():
    """Text state advances THROUGH a hidden show: a visible show after
    the bracket lands where the hidden glyphs would have ended."""
    from accountant_pdf_extract_spark.sources.pdfwriter import OCGLayer

    draft = OCGLayer("Draft", off=True)
    pg = PageBuilder()
    pg.layers.append(draft)  # register /MC1 without an op
    pg.ops.append(
        "BT /F1 10 Tf 72 600 Td (AA) Tj /OC /MC1 BDC (XXXX) Tj EMC "
        "(BB) Tj ET"
    )
    pages = parse_pdf(build_pdf([pg]).encode("latin-1"))
    texts = [(r.text, r.x) for r in pages[0].runs]
    assert [t for t, _ in texts] == ["AA", "BB"]
    # BB starts after AA (2 glyphs) + hidden XXXX (4 glyphs) = 6 × 5pt
    assert texts[1][1] == 72 + 6 * 0.5 * 10


def test_ocg_layer_inside_form_xobject():
    """Hidden-layer suppression applies inside Form XObjects via the
    form's own /Properties resources."""
    from accountant_pdf_extract_spark.sources.pdfwriter import (
        FormXObject, OCGLayer,
    )

    draft = OCGLayer("Draft", off=True)
    fm = FormXObject(bbox=(0, 0, 200, 40))
    fm.builder.begin_layer(draft)
    fm.builder.text(0, 20, "FORM HIDDEN")
    fm.builder.end_layer()
    fm.builder.text(0, 0, "Form visible")
    pg = PageBuilder()
    pg.place_form(fm, 72, 540)
    out, _ = extract_doc([("pdf", build_pdf([pg]), "", 0)])
    assert [t for _, t, _, _ in out] == ["Form visible"]


def test_invisible_ocr_text_is_extracted():
    """Render-mode-3 (§9.3.6) OCR-layer text under a scanned page
    image extracts like visible text — it IS the content — and the
    page image rides along as a media span."""
    pg = PageBuilder()
    pg.image(0, 0, 612, 792, "media://scan/abc")
    pg.text_invisible(72, 700, "RECEIPT INV-2024-0001")
    pg.text_invisible(72, 680, "Received payment 2024-05-01")
    out, _ = extract_doc([("pdf", build_pdf([pg]), "", 0)])
    assert [(k, t, r) for k, t, r, _ in out] == [
        ("text", "RECEIPT INV-2024-0001", ""),
        ("text", "Received payment 2024-05-01", ""),
        ("media", "", "media://scan/abc"),
    ]


def test_type3_font_differences_decode():
    """A /Subtype /Type3 glyph-procedure font decodes via its
    /Differences + /ToUnicode tables exactly like a Type1 simple
    font — glyph streams are irrelevant to text extraction."""
    from accountant_pdf_extract_spark.sources.pdfwriter import SimpleFont

    t3 = SimpleFont(differences=((0x80, "Euro"),), type3=True)
    t1 = SimpleFont(differences=((0x80, "Euro"),))
    outs = []
    for font in (t3, t1):
        pg = PageBuilder()
        pg.text(72, 700, "Total: " + font.encode("€123.45"))
        out, _ = extract_doc(
            [("pdf", build_pdf([pg], font=font), "", 0)]
        )
        outs.append([(k, t, r) for k, t, r, _ in out])
    assert outs[0] == outs[1] == [("text", "Total: €123.45", "")]
