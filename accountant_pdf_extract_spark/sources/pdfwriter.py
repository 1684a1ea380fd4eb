"""Deterministic PDF-subset writer used by the synthetic corpus.

Emits exactly the closed, latin-1-safe PDF subset pinned in
``FIXTURES.md §1.1`` — the same subset ``operators/pdfparse.py``
reads.  Content streams are plain by default; ``compress=True`` emits
FlateDecode (zlib) streams.  Text ops BT/ET Tf Td TD Tm T* Tj TJ ', rect rulings ``re S/f``,
image XObjects via ``q ... cm /ImN Do Q`` whose dict carries the
``media_ref`` in ``/Name``.

Round-4 additions (FIXTURES.md §1.1, PDF 1.5 features):

- ``objstm=True``: every dict-only object (catalog, pages node, page
  dicts, image XObjects, font + encoding dicts) is packed into ONE
  FlateDecode ``/Type /ObjStm`` object stream, and the file carries a
  binary ``/Type /XRef`` cross-reference STREAM (W-field columns,
  type-1 entries for top-level stream objects, type-2 entries for
  compressed objects) + ``startxref`` — the modern layout real-world
  PDFs use, where ``N 0 obj`` headers for most objects do NOT exist
  in the raw bytes.
- ``font=SimpleFont(...)``: a single-byte simple font carrying a
  custom ``/Encoding /Differences`` array and/or a ``/ToUnicode``
  CMap stream (bfchar + bfrange), letting non-latin-1 glyphs (€, –,
  ﬁ …) ride the latin-1 byte plane as custom codes.

This module builds *bytes-as-latin-1 strings* (the span column is
string-typed per ``BASELINE.json:15``); everything stays in the
latin-1 plane.
"""

from __future__ import annotations

import math
import re
import zlib
from dataclasses import dataclass, field

from accountant_pdf_extract_spark import spec


def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _text_str_obj(s: str) -> str:
    """A PDF text string (ISO 32000-1 §7.9.2.2): latin-1-expressible
    text as an escaped literal, anything else as a UTF-16BE hex
    string with leading BOM."""
    try:
        s.encode("latin-1")
    except UnicodeEncodeError:
        return "<FEFF" + s.encode("utf-16-be").hex().upper() + ">"
    return f"({_esc(s)})"


def _annot_obj(subtype: str, contents: str, i: int) -> str:
    """A markup-annotation dict (§12.5.6.4/.6): /Text sticky note or
    /FreeText comment with a /Contents text string (appearance
    streams out of subset).  /Rect is stride-placed — extraction
    reads only /Contents."""
    y = 700 - 24 * i
    return (
        f"<< /Type /Annot /Subtype /{subtype} "
        f"/Rect [500 {_n(y)} 540 {_n(y + 20)}] "
        f"/Contents {_text_str_obj(contents)} >>"
    )


def _field_obj(name: str, value: str) -> str:
    """An AcroForm terminal text-field dict (§12.7.4.3)."""
    return (
        f"<< /FT /Tx /T {_text_str_obj(name)} "
        f"/V {_text_str_obj(value)} >>"
    )


def _n(v: float) -> str:
    """Exponent-free number formatting for content streams: the
    parser's token grammar (and its oracle mirror) has no exponent
    form, while '%g' silently switches to '1e-05'/'1.2e+06' outside
    [1e-4, 1e6) — geometry would corrupt with no error (the lexer
    reads '1e-05' as 1, unknown op 'e', -05).  Fixed-point, 4
    decimals, trailing zeros stripped — identical output to %g for
    every coordinate the synth corpus emits.  A non-finite value
    (NaN/inf) has no content-stream spelling — and ``int(v)`` would
    raise inside the task that also extracts — so it writes '0'."""
    if not math.isfinite(v):
        return "0"
    if v == int(v):
        # integral fast path, same output ('-0.0' still maps to '0');
        # most coordinates are integral and this call is hot (46k/800
        # docs profiled r6)
        return str(int(v))
    s = f"{v:.4f}".rstrip("0").rstrip(".")
    return s if s not in ("", "-", "-0") else "0"


@dataclass(frozen=True)
class SimpleFont:
    """A single-byte simple font (/Type1 shape) for the synth corpus.

    ``differences``: (code, glyph_name) pairs emitted as an
    ``/Encoding << /Differences [...] >>`` array — the parser maps
    codes through ``spec.GLYPH_UNICODE``.
    ``tounicode``: (code, unicode_str) pairs emitted as a /ToUnicode
    CMap ``bfchar`` entries (dst hex is UTF-16BE).
    ``bfranges``: (lo, hi, dst_start_str) triplets emitted as CMap
    ``bfrange`` entries.
    """

    differences: tuple[tuple[int, str], ...] = ()
    tounicode: tuple[tuple[int, str], ...] = ()
    bfranges: tuple[tuple[int, int, str], ...] = ()
    # named /WinAnsiEncoding without a Differences array (the most
    # common real-world simple-font encoding); Differences fonts get
    # WinAnsi as /BaseEncoding automatically
    winansi: bool = False
    # composite /Type0 /Identity-H font: 2-byte codes, text via
    # ToUnicode only (differences/winansi ignored); content strings
    # must be written as hex via PageBuilder.text_hex
    cid: bool = False
    # Type3 glyph-procedure font (§9.6.5): same single-byte decode
    # tables, but the font dict carries /CharProcs + /FontMatrix
    # instead of a /BaseFont (requires a differences table)
    type3: bool = False
    # per-glyph metrics (§9.2.4): (code, milli-em) pairs emitted as a
    # CONTIGUOUS /FirstChar../LastChar /Widths array (gaps filled with
    # the missing-width default); parser and oracle advance per SOURCE
    # CODE for fonts that carry these.  Empty = no metrics (flat
    # spec.CHAR_W_FACTOR model).
    widths: tuple[tuple[int, int], ...] = ()
    # /FontDescriptor /MissingWidth for codes outside the array
    # (default: spec.MISSING_W_MILLI = 0, per the spec)
    missing_width: int | None = None
    # emit /Widths as an indirect object (``/Widths N 0 R``) — the
    # other common real-world shape; decode-identical
    widths_indirect: bool = False
    # CID metrics (§9.7.4.3): /DW default and (lo, hi, milli) /W
    # range-form triplets on the /DescendantFonts CIDFont dict
    cid_dw: int | None = None
    cid_w: tuple[tuple[int, int, int], ...] = ()

    def has_widths(self) -> bool:
        return bool(
            self.widths
            or self.missing_width is not None
            or self.cid_dw is not None
            or self.cid_w
        )

    def width_milli(self, code: int) -> int:
        """Advance (milli-em) the PARSER will compute for ``code`` —
        used by the synth corpus to place multi-run lines so gap
        classification stays intentional under proportional metrics."""
        if self.cid:
            for lo, hi, w in self.cid_w:
                if lo <= code <= hi:
                    return w
            return (
                self.cid_dw
                if self.cid_dw is not None
                else spec.CID_DW_MILLI
            )
        for c, w in self.widths:
            if c == code:
                return w
        if self.widths:
            lo = min(c for c, _ in self.widths)
            hi = max(c for c, _ in self.widths)
            if lo <= code <= hi:
                return self._fill_milli()
        return (
            self.missing_width
            if self.missing_width is not None
            else spec.MISSING_W_MILLI
        )

    def _fill_milli(self) -> int:
        """Width used to fill gaps inside the emitted contiguous
        /Widths array."""
        return (
            self.missing_width
            if self.missing_width is not None
            else spec.MISSING_W_MILLI
        )

    def text_advance(self, s: str, size: float) -> float:
        """Device advance of ``s`` at ``size`` under this font's
        metrics (Tz=100, Tc=Tw=0) — encode first, then per-code sum."""
        enc = self.encode(s)
        if self.cid:
            codes = [
                (ord(enc[i]) << 8) | ord(enc[i + 1])
                for i in range(0, len(enc) - 1, 2)
            ]
        else:
            codes = [ord(c) for c in enc]
        return sum(self.width_milli(c) for c in codes) / 1000.0 * size

    def widths_array(self) -> tuple[int, int, list[int]] | None:
        """(FirstChar, LastChar, contiguous widths) or None."""
        if not self.widths:
            return None
        lo = min(c for c, _ in self.widths)
        hi = max(c for c, _ in self.widths)
        fill = self._fill_milli()
        arr = [fill] * (hi - lo + 1)
        for c, w in self.widths:
            arr[c - lo] = w
        return lo, hi, arr

    def char_map(self) -> dict[int, str]:
        """code → decoded string, in parser precedence order
        (ToUnicode wins over /Differences wins over the WinAnsi base
        table, matching the spec rule that ToUnicode is the
        authoritative text mapping)."""
        m: dict[int, str] = {}
        if not self.cid and (self.winansi or self.differences):
            m.update(spec.WINANSI_HIGH)
        for code, name in self.differences:
            if name in spec.GLYPH_UNICODE:
                m[code] = spec.GLYPH_UNICODE[name]
        for lo, hi, dst in self.bfranges:
            if not dst:
                continue  # engine/oracle skip empty dst (identity)
            for i in range(min(hi - lo + 1, spec.BFRANGE_MAX_SPAN)):
                m[lo + i] = dst[:-1] + chr(ord(dst[-1]) + i)
        for code, s in self.tounicode:
            m[code] = s
        return m

    def encode(self, s: str) -> str:
        """Unicode text → latin-1-safe code string for content
        streams.  Multi-char mappings (ligatures) are NOT reverse-
        applied — only single chars that have a code.  Raises on a
        char that is neither latin-1 nor mapped (same failure mode as
        the strict latin-1 writer path).

        CID fonts: each char becomes a 2-byte code (reverse-ToUnicode
        when mapped, else the codepoint itself for BMP chars) — pass
        the result to ``PageBuilder.text_hex``."""
        if self.cid:
            cmap = self.char_map()
            rev2 = {v: k for k, v in sorted(cmap.items()) if len(v) == 1}
            out2 = []
            for ch in s:
                code = rev2.get(ch)
                if code is None:
                    code = ord(ch)
                    if code > 0xFFFF:
                        raise ValueError(f"char {ch!r} outside the BMP")
                    if cmap.get(code, ch) != ch:
                        # identity fallback would collide with a
                        # ToUnicode entry meaning something else —
                        # the glyph can't be represented by this font
                        raise ValueError(
                            f"char {ch!r} shadowed by ToUnicode "
                            f"entry for code {code:#06x}"
                        )
                out2.append(chr(code >> 8) + chr(code & 0xFF))
            return "".join(out2)
        rev: dict[str, int] = {}
        for code, dec in sorted(self.char_map().items()):
            if len(dec) == 1 and dec not in rev:
                rev[dec] = code
        cmap = self.char_map()
        out = []
        for ch in s:
            if ch in rev:
                out.append(chr(rev[ch]))
            elif ord(ch) < 256:
                if cmap.get(ord(ch), ch) != ch:
                    # same guard as the CID branch: the identity
                    # fallback code is shadowed by a /Differences or
                    # /ToUnicode entry meaning a DIFFERENT glyph —
                    # emitting it would silently round-trip wrong
                    raise ValueError(
                        f"char {ch!r} shadowed by font entry for "
                        f"code {ord(ch):#04x}"
                    )
                out.append(ch)
            else:
                raise ValueError(
                    f"char {ch!r} not encodable by this font/latin-1"
                )
        return "".join(out)

    def encoding_dict(self) -> str | None:
        if not self.differences:
            # name form: /Encoding /WinAnsiEncoding directly on the font
            return "/WinAnsiEncoding" if self.winansi else None
        parts: list[str] = []
        prev = None
        for code, name in sorted(self.differences):
            if prev is None or code != prev + 1:
                parts.append(str(code))
            parts.append(f"/{name}")
            prev = code
        return (
            "<< /Type /Encoding /BaseEncoding /WinAnsiEncoding "
            f"/Differences [ {' '.join(parts)} ] >>"
        )

    def cmap_stream(self) -> str | None:
        if not self.tounicode and not self.bfranges:
            return None
        lines = [
            "/CIDInit /ProcSet findresource begin",
            "12 dict begin",
            "begincmap",
            "/CMapName /Adobe-Identity-UCS def",
            "/CMapType 2 def",
            "1 begincodespacerange",
            "<00> <FF>",
            "endcodespacerange",
        ]
        if self.tounicode:
            lines.append(f"{len(self.tounicode)} beginbfchar")
            for code, s in sorted(self.tounicode):
                dst = s.encode("utf-16-be").hex().upper()
                lines.append(f"<{code:02X}> <{dst}>")
            lines.append("endbfchar")
        if self.bfranges:
            lines.append(f"{len(self.bfranges)} beginbfrange")
            for lo, hi, dst in self.bfranges:
                d = dst.encode("utf-16-be").hex().upper()
                lines.append(f"<{lo:02X}> <{hi:02X}> <{d}>")
            lines.append("endbfrange")
        lines += ["endcmap", "end", "end"]
        return "\n".join(lines) + "\n"


@dataclass
class PageBuilder:
    """Accumulates content-stream ops + image XObjects for one page."""

    ops: list[str] = field(default_factory=list)
    images: list[str] = field(default_factory=list)  # media_refs, -> /Im{i+1}
    # page /Rotate (degrees clockwise at display time, multiple of 90);
    # pair with text_rot(quad=rotate//90) content for the compensated
    # scanned-page shape that displays (and extracts) upright
    rotate: int = 0
    # page /MediaBox: (w, h) sheet size — US Letter default, A4 =
    # (595.28, 841.89) — and an origin offset (nonzero exercises the
    # parser's user-space translation; content coords must be written
    # origin-relative by the caller)
    size: tuple[float, float] = (612.0, 792.0)
    media_origin: tuple[float, float] = (0.0, 0.0)
    # markup annotations: (subtype, contents) — /Text or /FreeText
    annots: list = field(default_factory=list)
    # Form XObjects placed on this page (identity-deduped) -> /Fm{i+1}
    forms: list = field(default_factory=list)
    # optional-content layers referenced by BDC brackets -> /MC{i+1}
    layers: list = field(default_factory=list)

    def text(self, x: float, y: float, s: str, size: float = 10.0,
             char_space: float = 0.0, word_space: float = 0.0) -> None:
        """One text run; optional Tc/Tw spacing is scoped to the run
        (reset inside the same BT — Tc/Tw are TEXT STATE and would
        otherwise leak across pages like Tz)."""
        sp = ""
        reset = ""
        if char_space:
            sp += f"{_n(char_space)} Tc "
            reset += "0 Tc "
        if word_space:
            sp += f"{_n(word_space)} Tw "
            reset += "0 Tw "
        self.ops.append(
            f"BT /F1 {_n(size)} Tf {sp}{_n(x)} {_n(y)} Td "
            f"({_esc(s)}) Tj {reset}ET"
        )

    def annot(self, subtype: str, contents: str) -> None:
        """Attach a /Text (sticky-note) or /FreeText annotation."""
        self.annots.append((subtype, contents))

    def text_invisible(self, x: float, y: float, s: str,
                       size: float = 10.0) -> None:
        """An OCR-layer run: render mode 3 (ISO 32000-1 §9.3.6,
        invisible) — how scanned PDFs carry their recognized text
        under the page image.  Extraction KEEPS it (it IS the
        content); Tr resets inside the block (text state)."""
        self.ops.append(
            f"BT /F1 {_n(size)} Tf 3 Tr {_n(x)} {_n(y)} Td "
            f"({_esc(s)}) Tj 0 Tr ET"
        )

    def text_quote(self, x: float, y: float, s: str,
                   word_space: float = 0.0, char_space: float = 0.0,
                   size: float = 10.0, leading: float = 12.0) -> None:
        """Show a line via the `"` operator (aw ac (s) " — §9.4.3,
        the justified-line idiom): sets word+char spacing, moves one
        leading down from the Td anchor, shows.  Anchored so the text
        lands AT ``y``; spacing reset afterwards (text state)."""
        self.ops.append(
            f"BT /F1 {_n(size)} Tf {_n(leading)} TL "
            f"{_n(x)} {_n(y + leading)} Td "
            f'{_n(word_space)} {_n(char_space)} ({_esc(s)}) " 0 Tw 0 Tc ET'
        )

    def text_hex(self, x: float, y: float, codes: str,
                 size: float = 10.0) -> None:
        """Show a CID-font code string (from SimpleFont.encode with
        cid=True) as a hex string: codes are latin-1 chars carrying
        raw bytes."""
        hexs = "".join(f"{ord(c):02X}" for c in codes)
        self.ops.append(
            f"BT /F1 {_n(size)} Tf {_n(x)} {_n(y)} Td <{hexs}> Tj ET"
        )

    def text_rot(
        self, x: float, y: float, s: str, quad: int = 1,
        size: float = 10.0, scale: float = 1.0,
    ) -> None:
        """Text rotated by ``quad`` × 90° CCW via a full Tm — e.g. a
        vertical 'PAID' stamp (quad=1) or an upside-down watermark
        (quad=2).  ``scale`` additionally scales the matrix (effective
        size = size × scale)."""
        a, b = {
            0: (1.0, 0.0), 1: (0.0, 1.0), 2: (-1.0, 0.0), 3: (0.0, -1.0),
        }[quad % 4]
        a, b = a * scale, b * scale
        self.ops.append(
            f"BT /F1 {_n(size)} Tf {_n(a)} {_n(b)} {_n(-b)} {_n(a)} "
            f"{_n(x)} {_n(y)} Tm ({_esc(s)}) Tj ET"
        )

    def text_rot_block(
        self, x: float, y: float, lines: list[str], quad: int = 1,
        size: float = 10.0, leading: float = 14.0,
    ) -> None:
        """Multi-line rotated block: full Tm then TD/' next-line shows
        — line advances compose through the rotated line matrix."""
        if not lines:
            return
        a, b = {
            0: (1.0, 0.0), 1: (0.0, 1.0), 2: (-1.0, 0.0), 3: (0.0, -1.0),
        }[quad % 4]
        ops = [
            f"BT /F1 {_n(size)} Tf {_n(leading)} TL "
            f"{_n(a)} {_n(b)} {_n(-b)} {_n(a)} {_n(x)} {_n(y)} Tm"
        ]
        ops.append(f"({_esc(lines[0])}) Tj")
        for ln in lines[1:]:
            ops.append(f"({_esc(ln)}) '")
        ops.append("ET")
        self.ops.append(" ".join(ops))

    def text_tj(
        self, x: float, y: float, parts: list[str | float], size: float = 10.0
    ) -> None:
        """[(s1) -250 (s2)] TJ — numbers are kerning (1/1000 em)."""
        body = " ".join(
            f"({_esc(p)})" if isinstance(p, str) else _n(p) for p in parts
        )
        self.ops.append(f"BT /F1 {_n(size)} Tf {_n(x)} {_n(y)} Td [{body}] TJ ET")

    def text_block(
        self, x: float, y: float, lines: list[str], size: float = 10.0,
        leading: float = 14.0,
    ) -> None:
        """One BT block using TD (sets leading) + ' (next-line-show)."""
        if not lines:
            return
        ops = [f"BT /F1 {_n(size)} Tf {_n(leading)} TL {_n(x)} {_n(y)} Td"]
        ops.append(f"({_esc(lines[0])}) Tj")
        for ln in lines[1:]:
            ops.append(f"({_esc(ln)}) '")
        ops.append("ET")
        self.ops.append(" ".join(ops))

    def hrule(self, x: float, y: float, w: float) -> None:
        self.ops.append(f"{_n(x)} {_n(y)} {_n(w)} 0.5 re S")

    def vrule(self, x: float, y: float, h: float) -> None:
        self.ops.append(f"{_n(x)} {_n(y)} 0.5 {_n(h)} re S")

    def image(self, x: float, y: float, w: float, h: float, media_ref: str) -> None:
        idx = len(self.images) + 1
        self.images.append(media_ref)
        self.ops.append(f"q {_n(w)} 0 0 {_n(h)} {_n(x)} {_n(y)} cm /Im{idx} Do Q")

    def place_form(self, form: "FormXObject", x: float = 0.0,
                   y: float = 0.0, sx: float = 1.0, sy: float = 1.0) -> None:
        """Instantiate a Form XObject (ISO 32000-1 §8.10) at (x, y),
        optionally scaled: ``q sx 0 0 sy x y cm /FmN Do Q``.  The SAME
        FormXObject placed on several pages (identity dedup) serializes
        as ONE shared stream object — the letterhead/stamp reuse shape
        real PDFs carry."""
        for i, f in enumerate(self.forms):
            if f is form:
                idx = i + 1
                break
        else:
            self.forms.append(form)
            idx = len(self.forms)
        self.ops.append(
            f"q {_n(sx)} 0 0 {_n(sy)} {_n(x)} {_n(y)} cm /Fm{idx} Do Q"
        )

    def begin_layer(self, layer: "OCGLayer") -> None:
        """Open an optional-content bracket (ISO 32000-1 §8.11.3):
        ``/OC /MCn BDC`` — ops until the matching ``end_layer`` belong
        to ``layer``; a layer in the document's /OFF config is hidden
        (extraction drops its content)."""
        for i, l in enumerate(self.layers):
            if l is layer:
                idx = i + 1
                break
        else:
            self.layers.append(layer)
            idx = len(self.layers)
        self.ops.append(f"/OC /MC{idx} BDC")

    def end_layer(self) -> None:
        self.ops.append("EMC")

    def content(self) -> str:
        return "\n".join(self.ops) + "\n"


@dataclass
class OCGLayer:
    """An optional-content group (§8.11): pages bracket ops with
    ``begin_layer``/``end_layer``; ``off=True`` lists the OCG in the
    default config's /OFF array — viewers (and extraction) hide it.
    Identity-deduped: the SAME OCGLayer used across pages/forms
    serializes as one /Type /OCG object."""

    label: str
    off: bool = False


@dataclass
class FormXObject:
    """A reusable content fragment (ISO 32000-1 §8.10 /Subtype /Form):
    its own content stream + /Resources, placed on pages (or inside
    other forms) via ``place_form``.  ``builder`` holds the local-space
    ops (text/rules/images/nested forms); ``bbox`` is the mandatory
    /BBox (clipping is out of subset — callers keep content inside);
    ``matrix`` optionally emits a /Matrix (form space → placement
    space, composed BEFORE the cm at the Do site; the parser subset
    honors its scale + translate terms)."""

    builder: PageBuilder = field(default_factory=lambda: PageBuilder())
    bbox: tuple[float, float, float, float] = (0.0, 0.0, 612.0, 792.0)
    matrix: tuple[float, float, float, float, float, float] | None = None


def _lzw_encode(data: bytes) -> bytes:
    """PDF LZWDecode-compatible encoder (EarlyChange=1): 9→12-bit
    MSB-first codes, clear(256) first and near table-full, EOD(257)."""
    out = bytearray()
    acc = 0
    nb = 0

    def put(code: int, width: int) -> None:
        nonlocal acc, nb
        acc = (acc << width) | code
        nb += width
        while nb >= 8:
            out.append((acc >> (nb - 8)) & 0xFF)
            nb -= 8
        acc &= (1 << nb) - 1

    def fresh() -> dict[bytes, int]:
        return {bytes([i]): i for i in range(256)}

    table = fresh()
    next_code = 258
    width = 9
    put(256, width)
    w = b""
    for byte in data:
        c = bytes([byte])
        wc = w + c
        if wc in table:
            w = wc
            continue
        put(table[w], width)
        table[wc] = next_code
        next_code += 1
        # EarlyChange=1: bump the code width one code early
        if next_code == (1 << width) - 1 and width < 12:
            width += 1
        elif next_code >= 4093:
            put(256, width)
            table = fresh()
            next_code = 258
            width = 9
        w = c
    if w:
        put(table[w], width)
    put(257, width)
    if nb:
        put(0, 8 - nb)  # zero-pad to a byte boundary
    return bytes(out)


# row width for predictor-encoded ObjStm payloads (arbitrary for
# non-image data — the decoder only needs the declared /Columns)
OBJSTM_PRED_COLUMNS = 64


def _png_up(raw: bytes, columns: int) -> bytes:
    """PNG Up-filter (predictor 12) encode: rows of ``columns`` bytes,
    each prefixed with filter-type byte 2 and differenced against the
    previous row — the layout Acrobat writes for xref streams.  A
    short final row is emitted short (decoders reconstruct by row
    position, not padding)."""
    out = bytearray()
    prev = bytes(columns)
    for i in range(0, len(raw), columns):
        row = raw[i : i + columns]
        out.append(2)
        out += bytes((b - p) & 0xFF for b, p in zip(row, prev))
        prev = row
    return bytes(out)


def _asciihex_encode(raw: bytes) -> str:
    """ASCIIHexDecode payload: hex pairs + the ``>`` EOD marker.
    Marker-safe by charset ([0-9a-f>] cannot spell 'endstream')."""
    return raw.hex() + ">"


def _ascii85_encode(raw: bytes) -> str:
    """ASCII85Decode payload ('!'..'u' base-85, 'z' zero-group
    shortcut, ``~>`` EOD).  NOT inherently marker-safe — the charset
    covers all of 'endstream' — so callers must check."""
    out = []
    for i in range(0, len(raw) - len(raw) % 4, 4):
        v = int.from_bytes(raw[i : i + 4], "big")
        if v == 0:
            out.append("z")
            continue
        grp = []
        for _ in range(5):
            grp.append(chr(33 + v % 85))
            v //= 85
        out += reversed(grp)
    tail = raw[len(raw) - len(raw) % 4 :]
    if tail:
        v = int.from_bytes(tail + bytes(4 - len(tail)), "big")
        grp = []
        for _ in range(5):
            grp.append(chr(33 + v % 85))
            v //= 85
        out += list(reversed(grp))[: len(tail) + 1]
    return "".join(out) + "~>"


def _rle_encode(raw: bytes) -> str:
    """RunLengthDecode payload: repeat runs (≥3) as (257-n, byte),
    literal chunks ≤128 bytes, EOD 128.  Literal copies can embed
    structural markers — callers must check."""
    out = bytearray()
    i = 0
    n = len(raw)
    lit_start = i
    while i < n:
        run = 1
        while i + run < n and run < 128 and raw[i + run] == raw[i]:
            run += 1
        if run >= 3:
            j = lit_start
            while j < i:
                chunk = raw[j : min(j + 128, i)]
                out += bytes([len(chunk) - 1]) + chunk
                j += len(chunk)
            out += bytes([257 - run, raw[i]])
            i += run
            lit_start = i
        else:
            i += run
    j = lit_start
    while j < i:
        chunk = raw[j : min(j + 128, i)]
        out += bytes([len(chunk) - 1]) + chunk
        j += len(chunk)
    out += b"\x80"
    return out.decode("latin-1")


def _flate_body(raw: bytes, extra_dict: str = "") -> str | None:
    """FlateDecode stream body if a marker-free compression exists."""
    for lvl in (6, 9, 1):
        comp = zlib.compress(raw, lvl)
        if b"endstream" not in comp and b"endobj" not in comp:
            return (
                f"<< {extra_dict}/Length {len(comp)} /Filter /FlateDecode >>\n"
                f"stream\n{comp.decode('latin-1')}endstream"
            )
    return None


def _stream_obj(
    content: str,
    compress: bool,
    lzw: bool = False,
    ascii_filter: str | None = None,
    extra_dict: str = "",
) -> str:
    """A stream object body, plain / Flate / LZW / ASCII-family,
    marker-safe.

    ``ascii_filter``: ``"hex"`` → /ASCIIHexDecode, ``"a85"`` →
    the chain [/ASCII85Decode /FlateDecode] (deflate then a85-wrap;
    the decoder un-a85s first), ``"rle"`` → /RunLengthDecode.  a85
    and rle outputs CAN embed structural markers — on collision fall
    through to the Flate path (same contract as LZW).

    A plain stream whose CONTENT embeds a structural marker (caller
    text containing "endstream"/"endobj") would make the parser's lazy
    stream regex terminate early and silently drop the rest of the
    page — force Flate for such pages even when compress=False."""
    raw = content.encode("latin-1")
    plain_ok = b"endstream" not in raw and b"endobj" not in raw
    if ascii_filter == "hex":
        enc = _asciihex_encode(raw)
        return (
            f"<< {extra_dict}/Length {len(enc)} /Filter /ASCIIHexDecode >>\n"
            f"stream\n{enc}endstream"
        )
    if ascii_filter == "a85":
        enc = _ascii85_encode(zlib.compress(raw, 6))
        if "endstream" not in enc and "endobj" not in enc:
            return (
                f"<< {extra_dict}/Length {len(enc)} "
                "/Filter [ /ASCII85Decode /FlateDecode ] >>\n"
                f"stream\n{enc}endstream"
            )
        compress = True  # marker collision: plain Flate fallback
    if ascii_filter == "rle":
        enc = _rle_encode(raw)
        if "endstream" not in enc and "endobj" not in enc:
            return (
                f"<< {extra_dict}/Length {len(enc)} /Filter /RunLengthDecode >>\n"
                f"stream\n{enc}endstream"
            )
        compress = True  # marker collision: plain Flate fallback
    if lzw:
        comp = _lzw_encode(raw)
        if b"endstream" not in comp and b"endobj" not in comp:
            return (
                f"<< {extra_dict}/Length {len(comp)} /Filter /LZWDecode >>\n"
                f"stream\n{comp.decode('latin-1')}endstream"
            )
        # marker collision in LZW output: fall through to Flate/plain
    if compress or lzw or not plain_ok:
        body = _flate_body(raw, extra_dict=extra_dict)
        if body is not None:
            return body
        if not plain_ok:
            raise ValueError(
                "page content embeds PDF structural markers in both "
                "plain and compressed form"
            )
    return f"<< {extra_dict}/Length {len(raw)} >>\nstream\n{content}endstream"


_WRITER_ESC_RE = re.compile(r"\\([\\()])")  # inverse of _esc


def _encrypt_obj_body(
    body: str, okey: bytes, aes_ivseed: bytes | None = None
) -> str | None:
    """Per-object standard-security encryption: dict-part literal
    strings → cipher → hex string; stream payload (post-compression)
    → cipher.  RC4 is length-preserving; AES (``aes_ivseed`` set)
    grows each value by IV+padding, so the stream dict's /Length is
    rewritten to the ciphertext size.  AES IVs are deterministic
    per-value (MD5 of seed + a per-value counter) so fixture bytes
    are reproducible; the seed folds the /ID re-roll attempt, giving
    fresh IVs on marker collisions.  Returns None on a structural-
    marker collision in the ciphertext (caller re-rolls the /ID)."""
    import hashlib

    from accountant_pdf_extract_spark.functions.pdfcrypt import (
        aes_encrypt_value,
        rc4,
    )

    counter = [0]

    def cipher(val: bytes) -> bytes:
        if aes_ivseed is None:
            return rc4(okey, val)
        iv = hashlib.md5(
            aes_ivseed + counter[0].to_bytes(4, "little")
        ).digest()
        counter[0] += 1
        return aes_encrypt_value(okey, iv, val)

    sm = re.search(r"stream\r?\n(.*?)endstream", body, re.S)
    dict_part = body[: sm.start()] if sm else body

    def repl(m: re.Match) -> str:
        if m.group(1) is not None:
            val = _WRITER_ESC_RE.sub(r"\1", m.group(1)).encode("latin-1")
        else:  # hex string (e.g. UTF-16BE form values) — §7.6.2
            # encrypts ALL strings; one combined pass so freshly
            # emitted ciphertext hex is never re-matched (mirrors the
            # parser's _ANYSTR_RE rationale)
            h = re.sub(r"\s", "", m.group(2))
            if len(h) % 2:
                h += "0"
            val = bytes.fromhex(h)
        return "<" + cipher(val).hex().upper() + ">"

    new_dict = re.sub(
        r"\(((?:[^()\\]|\\.)*)\)|<([0-9A-Fa-f\s]*)>",
        repl, dict_part, flags=re.S,
    )
    if sm is None:
        return new_dict
    enc = cipher(sm.group(1).encode("latin-1"))
    if b"endstream" in enc or b"endobj" in enc:
        return None
    if aes_ivseed is not None:
        new_dict = re.sub(
            r"/Length\s+\d+", f"/Length {len(enc)}", new_dict, count=1
        )
    return (
        new_dict
        + body[sm.start() : sm.start(1)]
        + enc.decode("latin-1")
        + body[sm.end(1) :]
    )


def _enc_materials(seed: bytes, mode: str) -> tuple[bytes, bytes, str]:
    """(id0, file key, /Encrypt dict body) for one deterministic
    attempt ``seed`` of a standard-security emission.  Modes:
    ``rc4-40`` (V1/R2), ``rc4-128`` (V2/R3), ``aes-128`` (V4/R4
    /CFM /AESV2), ``aes-256`` (V5/R6 /CFM /AESV3).  R6 keys/salts are
    random per the spec — deterministic here for reproducible
    fixtures."""
    import hashlib

    from accountant_pdf_extract_spark.functions import pdfcrypt

    bits = {"rc4-40": 40, "rc4-128": 128, "aes-128": 128, "aes-256": 256}[
        mode
    ]
    v, r = {
        "rc4-40": (1, 2),
        "rc4-128": (2, 3),
        "aes-128": (4, 4),
        "aes-256": (5, 6),
    }[mode]
    p = -44
    id0 = hashlib.md5(seed).digest()
    if v == 5:
        fkey = hashlib.md5(seed + b"K0").digest() + hashlib.md5(
            seed + b"K1"
        ).digest()
        vs = hashlib.md5(seed + b"VS").digest()[:8]
        ks = hashlib.md5(seed + b"KS").digest()[:8]
        u_val, ue_val = pdfcrypt.r6_user_entries(fkey, vs, ks)
        o_val, oe_val = pdfcrypt.r6_owner_entries(fkey, u_val, vs, ks)
        perms = pdfcrypt.r6_perms(fkey, p)
        enc_dict = (
            "<< /Filter /Standard /V 5 /R 6 /Length 256 "
            "/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
            "/StmF /StdCF /StrF /StdCF "
            f"/O <{o_val.hex().upper()}> /U <{u_val.hex().upper()}> "
            f"/OE <{oe_val.hex().upper()}> /UE <{ue_val.hex().upper()}> "
            f"/Perms <{perms.hex().upper()}> /P {p} >>"
        )
        return id0, fkey, enc_dict
    o_val = pdfcrypt.owner_value(b"", b"", r, bits)
    fkey = pdfcrypt.file_key(o_val, p, id0, r, bits)
    u_val = pdfcrypt.user_value(fkey, id0, r)
    if v == 4:
        enc_dict = (
            "<< /Filter /Standard /V 4 /R 4 /Length 128 "
            "/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> "
            "/StmF /StdCF /StrF /StdCF "
            f"/O <{o_val.hex().upper()}> /U <{u_val.hex().upper()}> "
            f"/P {p} >>"
        )
    else:
        length_part = f"/Length {bits} " if v == 2 else ""
        enc_dict = (
            f"<< /Filter /Standard /V {v} /R {r} {length_part}"
            f"/O <{o_val.hex().upper()}> /U <{u_val.hex().upper()}> /P {p} >>"
        )
    return id0, fkey, enc_dict


def _enc_okey_iv(
    mode: str, fkey: bytes, num: int, id0: bytes
) -> tuple[bytes, bytes | None]:
    """(object key, AES IV seed or None) for object ``num``."""
    from accountant_pdf_extract_spark.functions import pdfcrypt

    if mode == "aes-256":
        okey: bytes = fkey
    elif mode == "aes-128":
        okey = pdfcrypt.object_key_aes(fkey, num)
    else:
        okey = pdfcrypt.object_key(fkey, num)
    ivseed = (
        id0 + num.to_bytes(4, "little") if mode.startswith("aes") else None
    )
    return okey, ivseed


def _emit_encrypted(
    objs: list[str], mode: str, trailer_extra: str = ""
) -> str:
    """Classic layout with /Filter /Standard encryption (empty user +
    owner passwords): every object encrypted per-object, encrypt dict
    appended, classic xref table + trailer with /Encrypt and /ID
    (plus ``trailer_extra`` keys, e.g. an /Info ref)."""
    enc_num = len(objs) + 1
    enc_bodies: list[str] = []
    id0 = b""
    enc_dict = ""
    for attempt in range(64):
        seed = ("\n".join(objs) + f"|{mode}|{attempt}").encode("latin-1")
        id0, fkey, enc_dict = _enc_materials(seed, mode)
        enc_bodies = []
        ok = True
        for i, body in enumerate(objs, start=1):
            okey, ivseed = _enc_okey_iv(mode, fkey, i, id0)
            eb = _encrypt_obj_body(body, okey, aes_ivseed=ivseed)
            if eb is None:
                ok = False
                break
            enc_bodies.append(eb)
        if ok:
            break
    else:  # pragma: no cover — 64 independent keys all colliding
        raise ValueError("could not find a marker-safe /ID")
    out = ["%PDF-1.4\n"]
    byte_pos = len("%PDF-1.4\n")
    offs: dict[int, int] = {}
    for i, body in enumerate(enc_bodies + [enc_dict], start=1):
        offs[i] = byte_pos
        s = f"{i} 0 obj\n{body}\nendobj\n"
        out.append(s)
        byte_pos += len(s.encode("latin-1"))
    size = enc_num + 1
    table = ["xref", f"0 {size}", "0000000000 65535 f "]
    for i in range(1, size):
        table.append(f"{offs[i]:010d} 00000 n ")
    idh = id0.hex().upper()
    out.append(
        "\n".join(table)
        + f"\ntrailer\n<< /Size {size} /Root 1 0 R /Encrypt {enc_num} 0 R "
        + trailer_extra
        + f"/ID [ <{idh}> <{idh}> ] >>\nstartxref\n{byte_pos}\n%%EOF\n"
    )
    return "".join(out)


def build_pdf(
    pages: list[PageBuilder],
    compress: bool = False,
    objstm: bool = False,
    font: SimpleFont | None = None,
    lzw: bool = False,
    predictor: bool = False,
    hybrid: bool = False,
    encrypt: str | None = None,
    ascii_filter: str | None = None,
    attachments: list[tuple[str, str]] | None = None,
    form_fields: list[tuple[str, str]] | None = None,
    inherit_mediabox: bool = False,
    info: list[tuple[str, str]] | None = None,
) -> str:
    """Assemble pages into a PDF-subset document (latin-1 string).

    ``compress=True`` emits FlateDecode content streams (zlib level 6,
    deterministic).  Compressed bytes ride losslessly in the latin-1
    string plane (all 256 byte values map 1:1).  ``objstm=True``
    switches to the PDF-1.5 layout: dict-only objects live in a
    compressed object stream and the cross reference is a binary XRef
    stream.  ``font`` attaches a custom-encoded /F1 to every page;
    ``lzw=True`` compresses content streams with LZWDecode instead of
    Flate (marker-collisions fall back to Flate, then plain).
    ``predictor=True`` (objstm layout only) PNG-Up-predicts (predictor
    12) the ObjStm payload and the xref stream before Flate, declaring
    ``/DecodeParms`` — the layout Acrobat emits for PDF-1.5 files; the
    plain marker-collision fallbacks stay UN-predicted because
    DecodeParms parameterizes a filter that is then absent.
    ``hybrid=True`` (implies the objstm machinery) emits Acrobat's
    incremental-save HYBRID layout: a CLASSIC xref table whose packed
    objects are marked free, a ``trailer`` dict carrying ``/XRefStm``
    pointing at the binary xref stream, and ``startxref`` aimed at the
    classic table — legacy viewers read the table, modern ones the
    stream (ISO 32000-1 §7.5.8.4).
    ``ascii_filter`` = ``"hex"`` / ``"a85"`` / ``"rle"`` wraps CONTENT
    streams in /ASCIIHexDecode, the [/ASCII85Decode /FlateDecode]
    chain, or /RunLengthDecode respectively (a85/rle marker
    collisions fall back to Flate, mirroring lzw).
    ``attachments`` = [(filename, content), ...] embeds files via the
    catalog /Names /EmbeddedFiles name tree (Filespec + EmbeddedFile
    stream — the ZUGFeRD/Factur-X hybrid-invoice shape).
    ``form_fields`` = [(name, value), ...] adds an /AcroForm with one
    terminal /FT /Tx field per pair (direct /T and /V text strings;
    UTF-16BE hex + BOM when the value needs it).
    ``encrypt`` = ``"rc4-40"`` (V1/R2), ``"rc4-128"`` (V2/R3),
    ``"aes-128"`` (V4/R4) or ``"aes-256"`` (V5/R6) emits a
    standard-security-encrypted file with EMPTY user and owner
    passwords (the common e-mailed-invoice case): per-object cipher
    over every stream payload (after compression) and dict-part
    string, a /Filter /Standard encrypt dict, and /Encrypt + /ID on
    the trailer.  The /ID re-rolls deterministically if ciphertext
    collides with a structural marker.  With ``objstm``/``hybrid``
    (the modern Acrobat default, §7.5.8.2): the ObjStm's COMPRESSED
    payload encrypts as one stream (strings inside packed objects are
    NOT separately encrypted), the xref stream and /Encrypt dict stay
    plaintext, and /Encrypt + /ID ride the xref-stream dict (and the
    hybrid trailer)."""
    objs: list[str] = []  # objs[i] = body of object i+1
    is_dict_only: list[bool] = []  # eligible for ObjStm packing

    def add(body: str, dict_only: bool = True) -> int:
        objs.append(body)
        is_dict_only.append(dict_only)
        return len(objs)

    catalog_num = add("<< /Type /Catalog /Pages 2 0 R >>")
    pages_num = add("PLACEHOLDER")  # patched below

    font_res = ""
    if font is not None:
        cmap = font.cmap_stream()
        tounicode_ref = ""
        if cmap is not None:
            cm_num = add(_stream_obj(cmap, compress), dict_only=False)
            tounicode_ref = f" /ToUnicode {cm_num} 0 R"
        if font.cid:
            desc_ref = ""
            if font.cid_dw is not None or font.cid_w:
                # §9.7.4.3: metrics live on the descendant CIDFont
                w_part = ""
                if font.cid_w:
                    trips = " ".join(
                        f"{lo} {hi} {w}" for lo, hi, w in font.cid_w
                    )
                    w_part = f" /W [ {trips} ]"
                dw_part = (
                    f" /DW {font.cid_dw}"
                    if font.cid_dw is not None
                    else ""
                )
                cidfont_num = add(
                    "<< /Type /Font /Subtype /CIDFontType2 "
                    "/BaseFont /Helvetica /CIDSystemInfo "
                    "<< /Registry (Adobe) /Ordering (Identity) "
                    f"/Supplement 0 >>{dw_part}{w_part} >>"
                )
                desc_ref = f" /DescendantFonts [ {cidfont_num} 0 R ]"
            font_num = add(
                "<< /Type /Font /Subtype /Type0 /BaseFont /Helvetica "
                f"/Encoding /Identity-H{desc_ref}{tounicode_ref} >>"
            )
        else:
            # per-glyph metrics (§9.2.4): contiguous /Widths array +
            # optional /FontDescriptor carrying /MissingWidth
            widths_part = ""
            wa = font.widths_array()
            if wa is not None:
                lo_c, hi_c, arr = wa
                arr_s = "[ " + " ".join(str(w) for w in arr) + " ]"
                if font.widths_indirect:
                    w_num = add(arr_s)
                    arr_s = f"{w_num} 0 R"
                widths_part = (
                    f" /FirstChar {lo_c} /LastChar {hi_c} "
                    f"/Widths {arr_s}"
                )
            if font.missing_width is not None:
                fd_num = add(
                    "<< /Type /FontDescriptor /FontName /Helvetica "
                    f"/Flags 32 /MissingWidth {font.missing_width} >>"
                )
                widths_part += f" /FontDescriptor {fd_num} 0 R"
            enc = font.encoding_dict()
            enc_ref = ""
            if enc is not None:
                if enc.startswith("/"):
                    # name form stays inline on the font dict (the
                    # common real-world shape for /WinAnsiEncoding)
                    enc_ref = f" /Encoding {enc}"
                else:
                    enc_num = add(enc)
                    enc_ref = f" /Encoding {enc_num} 0 R"
            if font.type3:
                # Type3 glyph-procedure font (§9.6.5): /CharProcs
                # streams draw the glyphs (content irrelevant to text
                # extraction — decode rides the /Differences +
                # /ToUnicode tables like any simple font); /FontMatrix
                # maps the 1000-unit glyph space
                cps = []
                for _code, gname in font.differences:
                    gs = add(
                        _stream_obj("0 0 d0\n", compress),
                        dict_only=False,
                    )
                    cps.append(f"/{gname} {gs} 0 R")
                cp_num = add(f"<< {' '.join(cps)} >>")
                font_num = add(
                    "<< /Type /Font /Subtype /Type3 "
                    "/FontMatrix [0.001 0 0 0.001 0 0] "
                    "/FontBBox [0 0 1000 1000] "
                    f"/CharProcs {cp_num} 0 R"
                    f"{widths_part}{enc_ref}{tounicode_ref} >>"
                )
            else:
                font_num = add(
                    "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
                    f"{widths_part}{enc_ref}{tounicode_ref} >>"
                )
        font_res = f" /Font << /F1 {font_num} 0 R >>"

    # Optional-content groups (§8.11): one /Type /OCG object per
    # DISTINCT layer (identity dedup across pages and forms); the
    # catalog /OCProperties lists them all, hidden ones in /D /OFF.
    ocg_num_of: dict[int, int] = {}
    ocg_order: list[OCGLayer] = []

    def _layer_num(layer: OCGLayer) -> int:
        if id(layer) not in ocg_num_of:
            ocg_num_of[id(layer)] = add(
                f"<< /Type /OCG /Name ({_esc(layer.label)}) >>"
            )
            ocg_order.append(layer)
        return ocg_num_of[id(layer)]

    def _props_res(layers: list) -> str:
        if not layers:
            return ""
        entries = " ".join(
            f"/MC{i} {_layer_num(l)} 0 R"
            for i, l in enumerate(layers, start=1)
        )
        return f" /Properties << {entries} >>"

    # Form XObjects (§8.10): one stream object per DISTINCT form —
    # identity-deduped across pages AND nesting levels, so a letterhead
    # shared by every page serializes once (the real-world reuse
    # shape).  A form's dict carries /BBox, optional /Matrix and its
    # OWN /Resources (the font + nested image/form XObjects its content
    # references; resource inheritance from the page is out of subset).
    form_num_of: dict[int, int] = {}

    def emit_form(fm: FormXObject, depth: int = 0) -> int:
        if id(fm) in form_num_of:
            return form_num_of[id(fm)]
        if depth > 3:
            raise ValueError("form nesting deeper than the subset's 4")
        fb = fm.builder
        entries = []
        for i, ref in enumerate(fb.images, start=1):
            im_num = add(
                f"<< /Type /XObject /Subtype /Image /Name ({_esc(ref)}) "
                f"/Width 100 /Height 100 >>"
            )
            entries.append(f"/Im{i} {im_num} 0 R")
        for i, sub in enumerate(fb.forms, start=1):
            entries.append(f"/Fm{i} {emit_form(sub, depth + 1)} 0 R")
        res = ""
        props = _props_res(fb.layers)
        if entries or font_res or props:
            xo = f" /XObject << {' '.join(entries)} >>" if entries else ""
            res = f" /Resources <<{font_res}{xo}{props} >>"
        x0, y0, x1, y1 = fm.bbox
        mtx = ""
        if fm.matrix is not None:
            mtx = " /Matrix [" + " ".join(_n(v) for v in fm.matrix) + "]"
        extra = (
            "/Type /XObject /Subtype /Form "
            f"/BBox [{_n(x0)} {_n(y0)} {_n(x1)} {_n(y1)}]{mtx}{res} "
        )
        num = add(
            _stream_obj(fb.content(), compress, lzw, ascii_filter,
                        extra_dict=extra),
            dict_only=False,
        )
        form_num_of[id(fm)] = num
        return num

    page_nums: list[int] = []
    for pg in pages:
        stream_num = add(
            _stream_obj(pg.content(), compress, lzw, ascii_filter),
            dict_only=False,
        )
        xobj_entries = []
        for i, ref in enumerate(pg.images, start=1):
            im_num = add(
                f"<< /Type /XObject /Subtype /Image /Name ({_esc(ref)}) "
                f"/Width 100 /Height 100 >>"
            )
            xobj_entries.append(f"/Im{i} {im_num} 0 R")
        for i, fm in enumerate(pg.forms, start=1):
            xobj_entries.append(f"/Fm{i} {emit_form(fm)} 0 R")
        res = ""
        props = _props_res(pg.layers)
        if xobj_entries or font_res or props:
            xo = (
                f" /XObject << {' '.join(xobj_entries)} >>"
                if xobj_entries else ""
            )
            res = f" /Resources <<{font_res}{xo}{props} >>"
        # /Rotate: display rotation in degrees clockwise (ISO 32000-1
        # §7.7.3.3, Table 30) — the scanned-sideways/upside-down shape
        rot_entry = f"/Rotate {pg.rotate} " if pg.rotate else ""
        # /MediaBox per page, or inherited from the /Pages node
        # (§7.7.3.4) when inherit_mediabox is set
        bx, by = pg.media_origin
        bw, bh = pg.size
        box_entry = (
            "" if inherit_mediabox else
            f"/MediaBox [{_n(bx)} {_n(by)} {_n(bx + bw)} {_n(by + bh)}] "
        )
        annots_entry = ""
        if pg.annots:
            arefs = " ".join(
                f"{add(_annot_obj(st_, c, i))} 0 R"
                for i, (st_, c) in enumerate(pg.annots)
            )
            annots_entry = f"/Annots [ {arefs} ] "
        page_num = add(
            f"<< /Type /Page /Parent 2 0 R {box_entry}"
            f"{rot_entry}{annots_entry}/Contents {stream_num} 0 R{res} >>"
        )
        page_nums.append(page_num)

    kids = " ".join(f"{n} 0 R" for n in page_nums)
    pages_box = ""
    if inherit_mediabox and pages:
        if any(
            (pg.size, pg.media_origin)
            != (pages[0].size, pages[0].media_origin)
            for pg in pages
        ):
            raise ValueError(
                "inherit_mediabox requires every page to share one "
                "size/media_origin (the /Pages box applies to all)"
            )
        bx, by = pages[0].media_origin
        bw, bh = pages[0].size
        pages_box = (
            f" /MediaBox [{_n(bx)} {_n(by)} {_n(bx + bw)} {_n(by + bh)}]"
        )
    objs[pages_num - 1] = (
        f"<< /Type /Pages /Kids [{kids}] /Count {len(page_nums)}"
        f"{pages_box} >>"
    )
    assert catalog_num == 1

    catalog_extra = ""
    if form_fields:
        # AcroForm (ISO 32000-1 §12.7) text fields: one /FT /Tx field
        # dict per (name, value) with direct /T and /V; field dicts
        # are dict-only, so they ride the ObjStm in the 1.5 layout.
        # Non-latin-1 values ride as UTF-16BE hex strings with BOM
        # (§7.9.2.2); widget /Annots are out of subset (value
        # extraction never reads them).
        refs = []
        for name, value in form_fields:
            refs.append(f"{add(_field_obj(name, value))} 0 R")
        catalog_extra += f" /AcroForm << /Fields [ {' '.join(refs)} ] >>"
    if attachments:
        # /EmbeddedFiles name tree (ISO 32000-1 §7.11.4, the
        # ZUGFeRD/Factur-X hybrid-invoice shape): embedded-file
        # stream + /Filespec per attachment (filespecs are dict-only,
        # so they ride the ObjStm in the 1.5 layout), keys sorted as
        # the name-tree contract requires, tree inline on the catalog.
        entries = []
        for name, content in sorted(attachments):
            raw = content.encode("latin-1")
            body = None
            if not compress and b"endstream" not in raw \
                    and b"endobj" not in raw:
                body = (
                    f"<< /Type /EmbeddedFile /Length {len(raw)} >>\n"
                    f"stream\n{content}endstream"
                )
            if body is None:
                body = _flate_body(raw, extra_dict="/Type /EmbeddedFile ")
            if body is None:
                raise ValueError(
                    "attachment embeds structural markers in both "
                    "plain and compressed form"
                )
            snum = add(body, dict_only=False)
            fs = add(
                f"<< /Type /Filespec /F ({_esc(name)}) "
                f"/EF << /F {snum} 0 R >> >>"
            )
            entries.append(f"({_esc(name)}) {fs} 0 R")
        catalog_extra += (
            " /Names << /EmbeddedFiles "
            f"<< /Names [ {' '.join(entries)} ] >> >>"
        )
    if ocg_order:
        # /OCProperties default config (§8.11.4.3): every OCG in
        # /OCGs, hidden ones additionally in /D /OFF
        all_refs = " ".join(
            f"{ocg_num_of[id(l)]} 0 R" for l in ocg_order
        )
        off_refs = " ".join(
            f"{ocg_num_of[id(l)]} 0 R" for l in ocg_order if l.off
        )
        catalog_extra += (
            f" /OCProperties << /OCGs [ {all_refs} ] "
            f"/D << /OFF [ {off_refs} ] >> >>"
        )
    if catalog_extra:
        objs[catalog_num - 1] = (
            f"<< /Type /Catalog /Pages 2 0 R{catalog_extra} >>"
        )

    # document-information dict (§14.3.3): dict-only, so PDF-1.5
    # layouts pack it into the ObjStm; /Info rides whichever trailer
    # shape the layout has
    info_extra = ""
    if info:
        parts = " ".join(f"/{k} {_text_str_obj(v)}" for k, v in info)
        info_num = add(f"<< {parts} >>")
        info_extra = f"/Info {info_num} 0 R "

    if hybrid:
        objstm = True  # hybrid rides the ObjStm + xref-stream machinery
    if encrypt is not None and not objstm:
        return _emit_encrypted(objs, encrypt, trailer_extra=info_extra)
    if not objstm:
        out = ["%PDF-1.4"]
        offs: list[int] = []
        pos = len("%PDF-1.4") + 1
        for i, body in enumerate(objs, start=1):
            offs.append(pos)
            s = f"{i} 0 obj\n{body}\nendobj"
            out.append(s)
            pos += len(s.encode("latin-1")) + 1
        if info_extra:
            # a classic xref table + trailer carries the /Info ref
            # (the plain no-trailer layout has nowhere to put it)
            size = len(objs) + 1
            table = ["xref", f"0 {size}", "0000000000 65535 f "]
            table += [f"{o:010d} 00000 n " for o in offs]
            out.append(
                "\n".join(table)
                + f"\ntrailer\n<< /Size {size} /Root 1 0 R "
                + info_extra
                + f">>\nstartxref\n{pos}\n%%EOF"
            )
        else:
            out.append("%%EOF")
        return "\n".join(out) + "\n"

    # ---- PDF 1.5 layout: ObjStm + XRef stream ------------------------
    packed = [i + 1 for i, d in enumerate(is_dict_only) if d]
    top = [i + 1 for i, d in enumerate(is_dict_only) if not d]
    # encrypted 1.5 layout (the modern Acrobat default): the /Encrypt
    # dict rides as an extra TOP-LEVEL object (never packed, §7.5.8.2)
    enc_num = len(objs) + 1 if encrypt is not None else None
    objstm_num = len(objs) + (2 if encrypt is not None else 1)
    xref_num = objstm_num + 1

    bodies = [objs[n - 1] for n in packed]
    offsets: list[int] = []
    pos = 0
    for b in bodies:
        offsets.append(pos)
        pos += len(b.encode("latin-1")) + 1  # "\n" joiner
    header = " ".join(
        f"{n} {off}" for n, off in zip(packed, offsets)
    ) + "\n"
    objstm_payload = header + "\n".join(bodies)
    objstm_raw = objstm_payload.encode("latin-1")
    objstm_dict = (
        f"/Type /ObjStm /N {len(packed)} "
        f"/First {len(header.encode('latin-1'))} "
    )
    if predictor:
        objstm_body = _flate_body(
            _png_up(objstm_raw, OBJSTM_PRED_COLUMNS),
            extra_dict=objstm_dict
            + "/DecodeParms << /Predictor 12 "
            + f"/Columns {OBJSTM_PRED_COLUMNS} >> ",
        )
    else:
        objstm_body = _flate_body(objstm_raw, extra_dict=objstm_dict)
    if objstm_body is None:
        # marker collision at every zlib level: a PLAIN object stream
        # is legal PDF, and dict-body payloads never contain the
        # structural markers — fall back instead of failing the doc
        if b"endstream" in objstm_raw or b"endobj" in objstm_raw:
            raise ValueError("object stream not marker-safe at any level")
        objstm_body = (
            f"<< {objstm_dict}/Length {len(objstm_raw)} >>\n"
            f"stream\n{objstm_payload}endstream"
        )

    # ---- encrypted 1.5 layout (§7.5.8.2 / §7.6.2) --------------------
    # Top-level objects encrypt per object; the ObjStm's COMPRESSED
    # payload encrypts as one stream under its own object key (the
    # strings inside packed objects ride the stream's protection and
    # are NOT separately encrypted); the xref stream and the /Encrypt
    # dict stay plaintext.  The /ID re-rolls on ciphertext marker
    # collisions, exactly like the classic path.
    top_bodies: dict[int, str] = {n: objs[n - 1] for n in top}
    enc_dict = ""
    xref_enc_extra = ""
    if encrypt is not None:
        for attempt in range(64):
            seed = (
                "\n".join(objs) + f"|{encrypt}|objstm|{attempt}"
            ).encode("latin-1")
            id0, fkey, enc_dict = _enc_materials(seed, encrypt)
            enc_top: dict[int, str] = {}
            ok = True
            for n in top:
                okey, ivseed = _enc_okey_iv(encrypt, fkey, n, id0)
                eb = _encrypt_obj_body(objs[n - 1], okey, aes_ivseed=ivseed)
                if eb is None:
                    ok = False
                    break
                enc_top[n] = eb
            if ok:
                okey, ivseed = _enc_okey_iv(encrypt, fkey, objstm_num, id0)
                enc_objstm = _encrypt_obj_body(
                    objstm_body, okey, aes_ivseed=ivseed
                )
                ok = enc_objstm is not None
            if ok:
                break
        else:  # pragma: no cover — 64 independent keys all colliding
            raise ValueError("could not find a marker-safe /ID")
        top_bodies = enc_top
        objstm_body = enc_objstm
        idh = id0.hex().upper()
        xref_enc_extra = (
            f"/Encrypt {enc_num} 0 R /ID [ <{idh}> <{idh}> ] "
        )

    # serialize top-level objects, tracking byte offsets for the xref
    out_parts: list[str] = ["%PDF-1.5\n"]
    byte_pos = len("%PDF-1.5\n")
    obj_offset: dict[int, int] = {}

    def emit_obj(num: int, body: str) -> None:
        nonlocal byte_pos
        obj_offset[num] = byte_pos
        s = f"{num} 0 obj\n{body}\nendobj\n"
        out_parts.append(s)
        byte_pos += len(s.encode("latin-1"))

    for n in top:
        emit_obj(n, top_bodies[n])
    if enc_num is not None:
        emit_obj(enc_num, enc_dict)
    emit_obj(objstm_num, objstm_body)

    # XRef stream: W=[1 4 2]; entries for objects 0..xref_num.
    size = xref_num + 1
    rows = bytearray()
    idx_of = {n: i for i, n in enumerate(packed)}
    for num in range(size):
        if num == 0:
            t, f2, f3 = 0, 0, 65535  # the mandatory free-list head
        elif num in idx_of:
            t, f2, f3 = 2, objstm_num, idx_of[num]
        elif num == xref_num:
            t, f2, f3 = 1, byte_pos, 0
        else:
            t, f2, f3 = 1, obj_offset[num], 0
        rows += bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
    xref_dict = (
        f"/Type /XRef /Size {size} /W [ 1 4 2 ] /Index [ 0 {size} ] "
        f"/Root 1 0 R {xref_enc_extra}{info_extra}"
    )
    if predictor:
        # predictor-12 rows of sum(W)=7 bytes — Acrobat's xref layout
        xref_body = _flate_body(
            _png_up(bytes(rows), 7),
            extra_dict=xref_dict
            + "/DecodeParms << /Predictor 12 /Columns 7 >> ",
        )
    else:
        xref_body = _flate_body(bytes(rows), extra_dict=xref_dict)
    if xref_body is None:
        raw = bytes(rows)
        if b"endstream" in raw or b"endobj" in raw:
            raise ValueError("xref stream not marker-safe at any level")
        xref_body = (
            f"<< {xref_dict}/Length {len(raw)} >>\n"
            f"stream\n{raw.decode('latin-1')}endstream"
        )
    xref_off = byte_pos
    emit_obj(xref_num, xref_body)
    if not hybrid:
        out_parts.append(f"startxref\n{xref_off}\n%%EOF\n")
        return "".join(out_parts)

    # ---- hybrid layout tail (ISO 32000-1 §7.5.8.4) -------------------
    # classic xref table: in-use entries for top-level objects, FREE
    # entries for ObjStm-packed ones (legacy viewers skip them; modern
    # viewers recover through the /XRefStm-pointed stream's type-2
    # rows); startxref aims at the CLASSIC table.
    classic_off = byte_pos
    table = ["xref", f"0 {size}"]
    for num in range(size):
        if num == 0:
            table.append("0000000000 65535 f ")
        elif num in idx_of:
            table.append("0000000000 00000 f ")  # packed → free
        else:
            table.append(f"{obj_offset[num]:010d} 00000 n ")
    out_parts.append(
        "\n".join(table)
        + f"\ntrailer\n<< /Size {size} /Root 1 0 R "
        + xref_enc_extra
        + info_extra
        + f"/XRefStm {xref_off} >>\n"
        + f"startxref\n{classic_off}\n%%EOF\n"
    )
    return "".join(out_parts)
