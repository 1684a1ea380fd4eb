"""Deterministic synthetic interleaved-document corpus (S3 in
SURVEY.md §2.1).

Everything is keyed on ``(seed, doc_key)`` through
``numpy.random.default_rng`` — no wall clock, no global RNG — so any
doc regenerates bit-identically on any executor (idempotent task
retry, reproducible fixtures).  Spark builders:

* ``documents_source(spark, sf_dir)`` — wraps the read-only
  ``documents`` parquet (``TESTDATA.md``) into the pinned input shape
  ``(doc_id:string, spans:array<struct<kind,text,media_ref,offset>>)``
  using each doc's own text as vocabulary: a narrow proxy frame plus
  the Arrow generator that ``plans.pipeline.extract`` runs inside its
  kernel (``interleaved_from_documents`` materializes it instead).
* ``synth_interleaved(spark, n_docs, seed)`` — standalone corpus from
  ``spark.range`` (used by bench at arbitrary scale).

Both run the per-doc builder over vectorized Arrow batches inside
``mapInArrow``, never per-row Python UDFs (``BASELINE.json:15``).
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable, Iterator
from decimal import Decimal

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession

from accountant_pdf_extract_spark.schema import ARROW_INPUT, INPUT_SCHEMA
from accountant_pdf_extract_spark.sources.pdfwriter import (
    FormXObject,
    OCGLayer,
    PageBuilder,
    SimpleFont,
    build_pdf,
)

# proportional-font glyph widths (milli-em) for the /Widths corpus
# subset: deterministic per code, 350-650 range (mean ≈ 500 so line
# lengths stay near the flat-model layout)
PROP_WIDTHS = tuple(
    (c, 350 + ((c * 7) % 31) * 10) for c in range(32, 127)
)

DEFAULT_WORDS = (
    "ledger balance debit credit journal asset liability revenue expense "
    "equity invoice payment remittance statement quarter fiscal audit "
    "accrual deferral voucher receipt batch posting reconcile trial"
).split()

_COMPANIES = ["ACME GmbH", "Globex Corp", "Initech LLC", "Umbrella SA"]


def _fmt_amount(val: Decimal, ccy: str, neg: bool = False) -> str:
    usd = f"{val:,.2f}"
    if ccy == "USD":
        s = f"${usd}"
    elif ccy == "EUR":
        s = usd.replace(",", "_").replace(".", ",").replace("_", ".") + " €"
    else:
        s = "£" + usd.replace(",", " ")
    return f"({s})" if neg else s


def _fmt_date(d: dt.date, style: int) -> str:
    if style == 0:
        return d.isoformat()
    if style == 1:
        return d.strftime("%d.%m.%Y")
    if style == 2:
        return d.strftime("%d/%m/%Y")
    return f"{d.strftime('%B')} {d.day}, {d.year}"


def _words(rng: np.random.Generator, vocab: list[str], n: int) -> str:
    # .tolist() converts the draw to Python ints in one C call — the
    # per-element int(numpy_scalar) was measurable at corpus scale;
    # the rng draw itself is unchanged (same stream, same output)
    return " ".join(
        map(vocab.__getitem__, rng.integers(0, len(vocab), n).tolist())
    )


def make_invoice_pdf(
    rng: np.random.Generator,
    vocab: list[str],
    min_pages: int = 1,
    max_pages: int = 3,
) -> str:
    """A multi-page invoice in the PDF subset: header/footer
    boilerplate, anchor fields, a ruled or whitespace-gap items table,
    optional image placement / two-column page."""
    giant = rng.random() < 0.01
    n_pages = (
        int(rng.integers(20, 51))
        if giant
        else int(rng.integers(min_pages, max_pages + 1))
    )
    company = _COMPANIES[int(rng.integers(0, len(_COMPANIES)))]
    # € rides the latin-1 byte plane as custom code 0x80 via a simple
    # font (/Differences or /ToUnicode — round-4 PDF 1.5 features);
    # same single rng draw as before, widened to 3 currencies.
    ccy = ["USD", "GBP", "EUR"][int(rng.integers(0, 3))]
    year = 2024 + int(rng.integers(0, 2))
    inv_no = f"INV-{year}-{int(rng.integers(0, 10000)):04d}"
    base = dt.date(year, 1 + int(rng.integers(0, 12)), 1 + int(rng.integers(0, 28)))
    due = base + dt.timedelta(days=int(rng.integers(10, 60)))
    style = int(rng.integers(0, 4))
    ruled = bool(rng.random() < 0.5)
    # EUR docs carry a custom-encoded /F1 exercising all three
    # real-world encoding paths (each maps code 0x80 → €): style 0 =
    # /Encoding /Differences, style 2 = bare named /WinAnsiEncoding
    # (cp1252 base table), styles 1/3 = /ToUnicode CMap.  Derived from
    # already-drawn values — no extra rng draw, corpus stays stable.
    font: SimpleFont | None = None
    if ccy == "GBP" and style % 2 == 1:
        # proportional per-glyph metrics (§9.2.4): real invoices are
        # set in proportional faces, so ~1/6 of docs carry a /Widths
        # font — the parser/oracle advance per SOURCE CODE for these
        # (350–650 milli-em over ASCII, deterministic per code).
        # /MissingWidth 500 keeps £ (0xA3, outside the array) at the
        # flat-model advance.  Half emit /Widths as an indirect
        # object (the other common real-world shape).  Derived from
        # already-drawn values — no rng draw, corpus stays stable.
        font = SimpleFont(
            widths=PROP_WIDTHS,
            missing_width=500,
            widths_indirect=year % 2 == 1,
        )
    elif ccy == "EUR":
        if style == 0:
            # half the Differences fonts are Type3 glyph-procedure
            # fonts (§9.6.5) — same decode tables, different font
            # dict shape; keyed off the drawn due date, no rng draw
            font = SimpleFont(
                differences=((0x80, "Euro"),), type3=due.day % 2 == 0
            )
        elif style == 2:
            font = SimpleFont(winansi=True)
        else:
            font = SimpleFont(tounicode=((0x80, "€"),))
    enc = font.encode if font is not None else (lambda s: s)

    # EUR invoices are A4 sheets (the European norm; exercises the
    # r5 per-page /MediaBox path); others stay US Letter.  Header
    # anchors derive from the page height — on Letter H-32 is the
    # historical 760, so USD/GBP docs are byte-identical — while the
    # footer and body anchors are absolute on both sizes.  Keyed off
    # the already-drawn currency: no rng draw, corpus stays stable.
    W, H = (595.28, 841.89) if ccy == "EUR" else (612.0, 792.0)

    pages: list[PageBuilder] = []

    # ~1/4 of docs carry the per-page header as ONE shared letterhead
    # Form XObject (§8.10) placed on every page — the real-world
    # reusable-asset shape; keyed off already-drawn values, no rng
    # draw.  The form places the same run at the same device position
    # as the inline header, so the extracted spans are byte-identical
    # either way (test_form_xobject_letterhead_equals_inline pins it).
    # Half the form docs carry an explicit identity /Matrix,
    # exercising the matrix parse path in the wild corpus.
    lh_form: FormXObject | None = None
    if (style + len(company)) % 4 == 0:
        lh_form = FormXObject(
            bbox=(0.0, 0.0, 468.0, 16.0),
            matrix=(1, 0, 0, 1, 0, 0) if n_pages % 2 else None,
        )
        lh_form.builder.text(0, 0, f"{company} - Statement")

    def _header(pg: PageBuilder) -> None:
        if lh_form is not None:
            pg.place_form(lh_form, 72, H - 32)
        else:
            pg.text(72, H - 32, f"{company} - Statement")

    pg = PageBuilder(size=(W, H))
    _header(pg)
    pg.text(72, 30, f"Page 1 of {n_pages}")
    # letter-spaced title on a deterministic subset (Tc in the wild
    # corpus; keyed off drawn values — no rng draw)
    pg.text(72, 700, "INVOICE", size=14,
            char_space=0.8 if (style + n_pages) % 4 == 1 else 0.0)
    pg.text(72, 676, f"Invoice No: {inv_no}")
    pg.text(72, 658, f"Date: {_fmt_date(base, style)}")
    pg.text(72, 640, f"Due: {_fmt_date(due, style)}")
    pg.text(72, 622, f"Account: {int(rng.integers(100, 9999))}-{int(rng.integers(10, 9999))}")
    # rotated 90° 'PAID'/'COPY' stamp on a deterministic subset —
    # keyed off already-drawn values (style x due-day), no rng draw;
    # exercises the full-Tm rotated path in the wild corpus
    if (style + due.day) % 5 == 2:
        label = "PAID" if style % 2 == 0 else "COPY"
        if lh_form is not None:
            # on letterhead-form docs the stamp rides its OWN form —
            # two Form XObjects on one page, rotated text inside one
            st_form = FormXObject(bbox=(0.0, 0.0, 40.0, 120.0))
            st_form.builder.text_rot(0, 0, label, quad=1, size=24)
            pg.place_form(st_form, 540, 300)
        else:
            pg.text_rot(540, 300, label, quad=1, size=24)

    n_rows = int(rng.integers(2, 6))
    y = 580.0
    top_y = y + 14
    total = Decimal(0)
    pg.text(72, y, "Item")
    pg.text(300, y, "Qty")
    pg.text(450, y, "Amount")
    if ruled:
        pg.hrule(72, y - 4, 468)
    for _ in range(n_rows):
        y -= 18
        amt = Decimal(int(rng.integers(100, 500000))) / 100
        # ~6% of rows are parenthesized-negative credit lines, derived
        # from the amount itself (no extra rng draw — keeps every other
        # byte of the corpus stable) so the parens→negative rule in
        # functions/rules.py is exercised by the golden corpus
        neg = int(amt * 100) % 17 == 0
        total += -amt if neg else amt
        pg.text(72, y, _words(rng, vocab, int(rng.integers(1, 4))))
        pg.text(300, y, str(int(rng.integers(1, 20))))
        pg.text(450, y, enc(_fmt_amount(amt, ccy, neg=neg)))
    if ruled:
        pg.vrule(290, y - 6, top_y - (y - 6))
        pg.vrule(440, y - 6, top_y - (y - 6))
    y -= 24
    pg.text(72, y, enc(f"Total: {_fmt_amount(abs(total), ccy, neg=total < 0)}"))
    # justified closing line via the `"` operator (sets Tw+Tc) on a
    # deterministic subset — exercises the quote idiom in the corpus
    if int(total * 100) % 5 == 1:
        pg.text_quote(72, y - 20, "Thank you for your business",
                      word_space=2.5, char_space=0.2)
    # sticky-note approval annotation on a deterministic subset —
    # keyed off already-drawn values, no rng draw
    if base.month % 3 == 1:
        pg.annot("Text", f"Approved by {company} AP dept")
    # ~1/7 of docs carry an optional-content watermark layer (§8.11)
    # on page 1 — half of them hidden via the /OCProperties /OFF
    # config (extraction must drop the bracket), half visible (the
    # text extracts like any run).  Keyed off already-drawn values,
    # no rng draw.
    if (due.day + len(company)) % 7 == 4:
        wm = OCGLayer("Watermark", off=style % 2 == 0)
        pg.begin_layer(wm)
        pg.text(180, 420, "DRAFT - NOT FOR PAYMENT", size=18)
        pg.end_layer()
    pages.append(pg)

    for p in range(2, n_pages + 1):
        pg = PageBuilder(size=(W, H))
        _header(pg)
        pg.text(72, 30, f"Page {p} of {n_pages}")
        layout = int(rng.integers(0, 10))
        if layout < 2 and not giant:
            # Two-column page.  Baselines are staggered: same-y runs
            # across the gutter are, by spec, table rows (tab-joined);
            # column-major reading order applies to independent flows.
            for i in range(4):
                pg.text(72, 700 - 18 * i, _words(rng, vocab, 4)[:44])
            for i in range(4):
                pg.text(320, 691 - 18 * i, _words(rng, vocab, 4)[:44])
        else:
            n_lines = int(rng.integers(18, 25)) if giant else int(rng.integers(5, 12))
            lines = [_words(rng, vocab, int(rng.integers(4, 9))) for _ in range(n_lines)]
            pg.text_block(72, 700, lines, leading=16)
        if rng.random() < 0.25:
            ref = f"media://sha/{int(rng.integers(0, 2**62)):016x}"
            pg.image(150, 200, 120, 80, ref)
        pages.append(pg)

    # ~1/6 of docs end with a scanned-upside-down addendum page:
    # content written rotated 180° in user space with a compensating
    # /Rotate 180 (the fax/scanner shape) — extraction must normalize
    # it into the upright reading frame.  Keyed off already-drawn
    # values, no rng draw.
    if due.day % 6 == 3:
        ap = PageBuilder(rotate=180, size=(W, H))
        # 180°-rotated block anchored so the DISPLAY frame reads
        # top-down from (72, 700): display (x,y) <- user (W-x, H-y)
        ap.text_rot_block(
            W - 72, H - 700,
            [
                f"Scanned addendum for {inv_no}",
                "Filed copy - do not pay twice",
            ],
            quad=2,
        )
        pages.append(ap)

    # ~1/4 of docs end with a scanned-receipt page: a full-page image
    # carrying an INVISIBLE (render mode 3, §9.3.6) OCR text layer —
    # the way scanned PDFs carry recognized text.  Extraction keeps
    # the OCR text AND the media ref.  Key residue disjoint from the
    # attachment (%4==1) and AcroForm (%4==2) shapes; no rng draw.
    if int(inv_no[-4:]) % 4 == 3:
        sp = PageBuilder(size=(W, H))
        sp.image(0, 0, W, H, f"media://scan/{inv_no.lower()}")
        sp.text_invisible(72, H - 120, f"RECEIPT {inv_no}")
        sp.text_invisible(
            72, H - 140, f"Received payment {_fmt_date(due, style)}"
        )
        pages.append(sp)

    # Deterministic compressed subset (~1/3 of docs) without consuming
    # an rng draw (which would shift every downstream synth value).
    return build_pdf(
        pages,
        compress=len(pages) % 3 == 0,
        # PDF-1.5 layout (ObjStm + XRef stream) for a deterministic
        # ~20% of docs — again keyed on page count, no rng draw
        objstm=len(pages) % 5 == 1,
        font=font,
        # half the compressed docs use LZWDecode instead of Flate
        lzw=len(pages) % 6 == 0,
        # ~half the PDF-1.5 docs predictor-encode ObjStm + xref stream
        # (predictor 12, the Acrobat layout) — keyed on total op count
        # parity, which varies across 1-page docs where page count
        # cannot (objstm docs are mostly 1-page); no rng draw consumed
        predictor=sum(len(p.ops) for p in pages) % 2 == 0,
        # ~a third of the PDF-1.5 docs use Acrobat's hybrid layout
        # (classic xref table + /XRefStm trailer pointer); keyed off
        # the already-drawn due date (op counts are quantized on the
        # 1-page docs objstm mostly selects), gated on objstm's own
        # key so the corpus layout mix stays stable
        hybrid=len(pages) % 5 == 1 and due.day % 3 == 1,
        # ~1/4 of docs carry a Factur-X/ZUGFeRD-style embedded XML
        # e-invoice (the hybrid-invoice shape) whose values mirror the
        # printed document; keyed off the already-drawn invoice
        # number, no rng draw
        attachments=(
            [(
                "factur-x.xml",
                '<?xml version="1.0"?><CrossIndustryInvoice>'
                f"<ID>{inv_no}</ID>"
                f"<IssueDate>{base.isoformat()}</IssueDate>"
                f"<Currency>{ccy}</Currency>"
                f"<GrandTotal>{abs(total)}</GrandTotal>"
                "</CrossIndustryInvoice>",
            )]
            if int(inv_no[-4:]) % 4 == 1 else None
        ),
        # ~1/4 of docs carry AcroForm text fields (fillable-invoice
        # shape) mirroring the printed values; disjoint key residue
        # from attachments so a doc carries one shape or the other,
        # never both; no rng draw
        form_fields=(
            [
                ("InvoiceNumber", inv_no),
                ("IssueDate", base.isoformat()),
                ("GrandTotal", f"{ccy} {abs(total)}"),
                ("Payee", company),
            ]
            if int(inv_no[-4:]) % 4 == 2 else None
        ),
        # ~3/7 of UNcompressed docs wrap content streams in an
        # ASCII-family filter — hex (/ASCIIHexDecode), the
        # [/ASCII85Decode /FlateDecode] chain, or /RunLengthDecode —
        # keyed off the already-drawn due date, no rng draw
        ascii_filter=(
            None if len(pages) % 3 == 0
            else {1: "hex", 3: "a85", 5: "rle"}.get(due.day % 7)
        ),
        # ~half of ALL docs are standard-security encrypted with an
        # empty user password (the e-mailed-invoice case): base
        # months 1/7 → RC4-40 (V1/R2), 2/8 → RC4-128 (V2/R3), 3/9 →
        # AES-128 (V4/R4 /CFM /AESV2); keyed off the already-drawn
        # invoice date, no rng draw.  PDF-1.5 docs (objstm/hybrid)
        # encrypt in the modern Acrobat layout since r5 — encrypted
        # ObjStm payload, plaintext xref stream, /Encrypt on the xref
        # dict.  AES-256 (V5/R6) stays unit-fixture-only: the
        # oracle's independent Algorithm-2.B KDF is seconds per doc
        # by design (bitwise textbook AES), which would dominate the
        # randomized audit.
        encrypt={1: "rc4-40", 2: "rc4-128", 3: "aes-128"}.get(
            base.month % 6
        ),
        # ~1/3 of docs carry a document-information dict (§14.3.3)
        # mirroring the drawn values — Title/Author/CreationDate ride
        # the trailer's /Info ref and extract as trailing meta spans;
        # keyed off already-drawn values, no rng draw
        info=(
            [
                ("Title", f"Invoice {inv_no}"),
                ("Author", company),
                (
                    "CreationDate",
                    f"D:{base.year:04d}{base.month:02d}"
                    f"{base.day:02d}120000Z",
                ),
            ]
            if (len(company) + n_pages) % 3 == 0 else None
        ),
    )


def make_html(rng: np.random.Generator, vocab: list[str]) -> str:
    company = _COMPANIES[int(rng.integers(0, len(_COMPANIES)))]
    paras = [
        _words(rng, vocab, int(rng.integers(8, 20)))
        for _ in range(int(rng.integers(1, 4)))
    ]
    body = "".join(f"<p>{p} &amp; co</p>\n" for p in paras)
    return (
        "<html><head><title>x</title><style>body{color:#000}</style>"
        "<script>var t=1;</script></head><body>\n"
        '<nav><a href="/">Home</a> <a href="/a">About</a> <a href="/c">Contact</a></nav>\n'
        f"<header><h1>{company} portal</h1></header>\n"
        f"{body}"
        f"<footer>(c) {company}</footer>\n"
        "</body></html>"
    )


def build_doc(
    doc_key: int, seed: int, vocab: list[str], heavy: bool = False
) -> list[tuple[str, str, str, int]]:
    """One interleaved document, bit-deterministic in (seed, doc_key).

    ``heavy=True`` is the bench-corpus profile: every doc carries a
    multi-page PDF plus an HTML span, so per-doc parse compute (not
    per-task overhead) dominates — the realistic shape for measuring
    throughput/scaling of the extraction kernel.
    """
    # SeedSequence accepts arbitrary non-negative ints — do NOT mask
    # doc_key to 31 bits (doc 0 and doc 2^31 would get identical rng
    # streams, i.e. byte-identical duplicate docs at >2G-doc scale)
    rng = np.random.default_rng([seed, doc_key])
    # pdf payloads travel as latin-1 strings: a vocab word with any
    # char > U+00FF would make build_pdf's strict latin-1 encode raise
    # inside the synth generator (killing the task, not one doc) —
    # filter caller-supplied vocab to the latin-1 plane up front
    if vocab:
        # same filter as before (keep words whose chars are all <256 =
        # latin-1-encodable), but str.isascii() short-circuits the
        # overwhelmingly-common case at C speed — the per-char genexpr
        # was ~7% of the whole generation half (profiled r6)
        vocab = [
            w for w in vocab
            if w.isascii() or all(ord(c) < 256 for c in w)
        ]
    vocab = vocab if vocab else DEFAULT_WORDS
    spans: list[tuple[str, str, str, int]] = []
    if heavy:
        spans.append(("text", _words(rng, vocab, 10), "", 0))
        pdf = make_invoice_pdf(rng, vocab, min_pages=4, max_pages=10)
        spans.append(("pdf", pdf, "", 1))
        spans.append(("html", make_html(rng, vocab), "", 2))
        if rng.random() < 0.3:
            ref = f"media://sha/{int(rng.integers(0, 2**62)):016x}"
            spans.append(("media", "", ref, 3))
        return spans
    n = 1 + int(rng.integers(0, 5))
    for i in range(n):
        r = rng.random()
        if i == 0 or r < 0.45:
            kind = "text"
        elif r < 0.70:
            kind = "pdf"
        elif r < 0.85:
            kind = "html"
        else:
            kind = "media"
        if kind == "text":
            if rng.random() < 0.2:
                # EUR invoice snippet as plain text (EUR symbol can't ride in the
                # latin-1 pdf payloads).
                amt = Decimal(int(rng.integers(100, 500000))) / 100
                d = dt.date(2025, 1 + int(rng.integers(0, 12)), 1 + int(rng.integers(0, 28)))
                txt = (
                    f"Rechnung Nr: RE-{int(rng.integers(100, 99999))} "
                    f"Datum: {_fmt_date(d, 1)} "
                    f"Summe: {_fmt_amount(amt, 'EUR')}"
                )
                spans.append(("text", txt, "", i))
            else:
                spans.append(("text", _words(rng, vocab, int(rng.integers(5, 15))), "", i))
        elif kind == "pdf":
            spans.append(("pdf", make_invoice_pdf(rng, vocab), "", i))
        elif kind == "html":
            spans.append(("html", make_html(rng, vocab), "", i))
        else:
            ref = f"media://sha/{int(rng.integers(0, 2**62)):016x}"
            spans.append(("media", "", ref, i))
    return spans


def _spans_to_arrow(rows: list[tuple[str, list]]) -> pa.RecordBatch:
    return pa.RecordBatch.from_arrays(
        [
            pa.array([r[0] for r in rows], pa.string()),
            pa.array(
                [
                    [
                        {"kind": k, "text": t, "media_ref": m, "offset": o}
                        for k, t, m, o in r[1]
                    ]
                    for r in rows
                ],
                ARROW_INPUT.field("spans").type,
            ),
        ],
        schema=ARROW_INPUT,
    )


def documents_source(
    spark: SparkSession, sf_dir: str, seed: int = 42
) -> tuple[DataFrame, Callable[[pa.RecordBatch], pa.RecordBatch]]:
    """The ``documents`` table as a generated source: narrow
    proxy rows ``(doc_id, _num_id, text)`` — ``doc_id`` is already the
    ``doc-%08d`` id the generated document carries — and the per-batch
    generator that expands them into the pinned input shape, keyed on
    ``(seed, _num_id)`` with each doc's own text as vocabulary.

    ``plans.pipeline.extract(proxy, generate=gen)`` salts and shuffles
    the proxy rows and runs ``gen`` inside the kernel's own Python
    runner, so the generated payload (~8x the source text) never
    crosses a shuffle or a second runner."""
    from pyspark.sql import functions as F

    proxy = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        F.format_string("doc-%08d", F.col("doc_id")).alias("doc_id"),
        F.col("doc_id").alias("_num_id"),
        "text",
    )

    def generate(batch: pa.RecordBatch) -> pa.RecordBatch:
        rows = []
        for out_id, did, text in zip(
            batch.column("doc_id").to_pylist(),
            batch.column("_num_id").to_pylist(),
            batch.column("text").to_pylist(),
        ):
            vocab = (text or "").split() or DEFAULT_WORDS
            rows.append((out_id, build_doc(int(did), seed, vocab)))
        return _spans_to_arrow(rows)

    return proxy, generate


def interleaved_from_documents(
    spark: SparkSession, sf_dir: str, seed: int = 42
) -> DataFrame:
    """``documents_source`` materialized as an input-shaped frame, for
    plans that read the spans themselves; extraction plans pass the
    proxy and generator to ``extract`` instead."""
    from accountant_pdf_extract_spark.operators.dedup import ensure_parallelism

    proxy, generate = documents_source(spark, sf_dir, seed)
    # single small local parquet file → one scan task would serialize
    # the whole synth stage; fan out first (no-op at scale)
    return ensure_parallelism(proxy).mapInArrow(
        lambda batches: map(generate, batches), schema=INPUT_SCHEMA
    )


def synth_interleaved(
    spark: SparkSession,
    n_docs: int,
    seed: int = 42,
    partitions: int | None = None,
    heavy: bool = False,
) -> DataFrame:
    """Standalone corpus: ``spark.range`` → per-doc builder, one task
    per core unless ``partitions`` pins the count (each Python task's
    fixed cost is in ``plans.pipeline._effective_partitions``)."""
    from accountant_pdf_extract_spark.plans.pipeline import _effective_partitions

    rng_free = spark.range(
        0, n_docs, numPartitions=_effective_partitions(spark, partitions)
    )

    def gen(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            ids = batch.column("id").to_pylist()
            rows = [
                (f"doc-{i:08d}", build_doc(int(i), seed, DEFAULT_WORDS, heavy))
                for i in ids
            ]
            yield _spans_to_arrow(rows)

    return rng_free.mapInArrow(gen, schema=INPUT_SCHEMA)
