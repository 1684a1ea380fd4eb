"""From-scratch PDF-subset tokenizer (U2 in SURVEY.md §2.9).

Parses the closed subset of ``FIXTURES.md §1.1`` (plain or
FlateDecode-compressed content streams; text ops BT/ET Tf Td TD Tm T*
Tj TJ '; ``re`` + S/f rulings;
``cm /ImN Do`` image placements) into per-page glyph runs, ruling
segments, and image placements.  Runs inside the Arrow batch kernel —
one call per PDF byte stream, regex lexing per content stream (no
per-row Python at the Spark API level, per ``BASELINE.json:15``).

Spec source: ``BASELINE.json:6`` ("text-object tokenization").  The
reference repo has no parser to cite (``/root/reference/README.md:1``).
"""

from __future__ import annotations

import functools
import math
import re
import zlib

import numpy as np
from dataclasses import dataclass

from accountant_pdf_extract_spark import spec

_OBJ_RE = re.compile(rb"(\d+)\s+0\s+obj\b(.*?)endobj", re.S)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)endstream", re.S)
_KIDS_RE = re.compile(rb"/Kids\s*\[([^\]]*)\]")
_REF_RE = re.compile(rb"(\d+)\s+0\s+R")
_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+0\s+R")
_CONTENTS_ARR_RE = re.compile(rb"/Contents\s*\[([^\]]*)\]")
_XOBJ_RE = re.compile(rb"/XObject\s*<<(.*?)>>", re.S)
_XOBJ_ENTRY_RE = re.compile(rb"/([A-Za-z][A-Za-z0-9]*)\s+(\d+)\s+0\s+R")
_NAME_RE = re.compile(rb"/Name\s*\(((?:[^()\\]|\\.)*)\)")
# Form XObjects (ISO 32000-1 §8.10): /Matrix maps form space to the
# placement space (subset: scale + translate terms; b/c sheared or
# rotated form matrices are out of subset, like rotated cm)
_MATRIX_RE = re.compile(rb"/Matrix\s*\[([^\]]*)\]")
_FLOAT_RE = re.compile(rb"[-+]?\d*\.?\d+")
_FORM_MAX_DEPTH = 4  # page → form → form → form → form, then stop
# Optional content (ISO 32000-1 §8.11): the catalog /OCProperties
# default config's /OFF array lists hidden OCGs; page/form resources
# map BDC property names to OCG objects via /Properties
_PROPS_RE = re.compile(rb"/Properties\s*<<(.*?)>>", re.S)
_OFF_RE = re.compile(rb"/OFF\s*\[([^\]]*)\]")

# PDF 1.5 structures (object streams + xref streams) and simple fonts
_INT_KEY_RE = {
    k: re.compile(rb"/" + k + rb"\s+(\d+)") for k in
    (b"N", b"First", b"Size")
}
_W_RE = re.compile(rb"/W\s*\[([^\]]*)\]")
_INDEX_RE = re.compile(rb"/Index\s*\[([^\]]*)\]")
# /DecodeParms keys carrying a /Predictor — parameterize the
# Flate/LZW stage they align with (ISO 32000-1 §7.4.4.4, Table 8)
_PRED_KEY_RE = {
    k: re.compile(rb"/" + k + rb"\s+(\d+)") for k in
    (b"Predictor", b"Columns", b"Colors", b"BitsPerComponent")
}
_PAIR_RE = re.compile(rb"(\d+)\s+(\d+)")

# standard security handler (ISO 32000-1 §7.6.3): the trailer's
# /Encrypt reference, the file identifier, and the encrypt dict keys
_ENCRYPT_REF_RE = re.compile(rb"/Encrypt\s+(\d+)\s+0\s+R")
_INFO_REF_RE = re.compile(rb"/Info\s+(\d+)\s+0\s+R")
_ID_RE = re.compile(rb"/ID\s*\[\s*<([0-9A-Fa-f]*)>")
_SIGNED_INT_KEY_RE = {
    k: re.compile(rb"/" + k + rb"\s+(-?\d+)") for k in
    (b"V", b"R", b"P", b"Length")
}
# one combined pass over literal AND hex strings — a decrypted literal
# re-emitted with escapes could itself contain <hex>-looking text, so
# two sequential passes would double-decrypt
_ANYSTR_RE = re.compile(
    rb"\(((?:[^()\\]|\\[\s\S])*)\)|<([0-9A-Fa-f\s]*)>", re.S
)
_FONT_RES_RE = re.compile(rb"/Font\s*<<(.*?)>>", re.S)
_FONT_ENTRY_RE = re.compile(rb"/(F\d+)\s+(\d+)\s+0\s+R")
_TOUNI_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+0\s+R")
_ENC_REF_RE = re.compile(rb"/Encoding\s+(\d+)\s+0\s+R")
_DIFF_RE = re.compile(rb"/Differences\s*\[([^\]]*)\]")
_DIFF_TOK_RE = re.compile(rb"(\d+)|/([A-Za-z0-9.]+)")
_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
_BFCHAR_PAIR_RE = re.compile(rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]*)>")
_BFRANGE_TRIPLE_RE = re.compile(
    rb"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]*)>"
)
# per-glyph width metrics (ISO 32000-1 §9.2.4 / §9.7.4.3)
_WIDTHS_RE = re.compile(rb"/Widths\s*(?:\[([^\]]*)\]|(\d+)\s+0\s+R)")
_FIRSTCHAR_RE = re.compile(rb"/FirstChar\s+(\d+)")
_FONTDESC_RE = re.compile(rb"/FontDescriptor\s+(\d+)\s+0\s+R")
_MISSINGW_RE = re.compile(rb"/MissingWidth\s+([-+]?\d*\.?\d+)")
_DESCFONT_RE = re.compile(
    rb"/DescendantFonts\s*(?:\[\s*(\d+)\s+0\s+R\s*\]|(\d+)\s+0\s+R)"
)
_DW_RE = re.compile(rb"/DW\s+([-+]?\d*\.?\d+)")
_NUM_OR_BRACKET_RE = re.compile(rb"[\[\]]|[-+]?\d*\.?\d+")

# Content-stream token: a (string), a [TJ array], a number, or an op.
# Branch 1 (groups 1-5) is a FUSED fast path for the dominant
# single-run idiom `BT /F1 12 Tf 72 708 Td (text) Tj ET`: one regex
# match instead of ten, which removes ~90% of loop iterations on
# writer-shaped content.  It is semantics-preserving by construction:
# wherever it matches, the plain branches would have produced exactly
# those ten tokens (every operator is whitespace-delimited in the
# match, the string group ends at the same unescaped `)` the plain
# string branch would stop at, and the trailing lookahead keeps `ET`
# from being split off a longer operator run like `ET'`), and the
# handler replays the identical state transitions — including the
# malformed open-TJ-array corner, see _parse_content.
_NUM_PAT = r"[-+]?\d*\.?\d+"
_STR_PAT = r"(?:[^()\\]|\\[\s\S])*"
_TOK_RE = re.compile(
    rf"""\bBT\s+/([A-Za-z0-9]+)\s+({_NUM_PAT})\s+Tf\s+
        ({_NUM_PAT})\s+({_NUM_PAT})\s+Td\s*
        \(({_STR_PAT})\)\s*Tj\s+ET(?![A-Za-z'"*])  # 1-5: fused run
      | \(({_STR_PAT})\)            # 6: literal string (escape may
                                    #    be a line-continuation EOL)
      | (\[)                        # 7: TJ array opens
      | (\])                        # 8: TJ array closes
      | (/[A-Za-z0-9]+)             # 9: name
      | ({_NUM_PAT})                # 10: number
      | ([A-Za-z'"*]+)              # 11: operator
      | <([0-9A-Fa-f\s]*)>          # 12: hex string
    """,
    re.X,
)

# the full ISO 32000-1 §7.3.4.2 literal-string escape set: octal, the named
# escapes n r t b f ( ) \\, and backslash-EOL line continuation
# (which yields NOTHING); any other backslash pair stays literal
_ESC_RE = re.compile(r"\\([0-7]{1,3}|[()\\nrtbf]|\r\n|\r|\n)")

# inline images: BI <dict> ID <binary> EI — the binary payload would
# garble the token grammar, so whole segments are stripped before
# lexing; EI is recognized at a whitespace boundary (the standard
# heuristic — binary containing " EI " is pathological and rare)
_INLINE_IMG_RE = re.compile(r"\bBI\b.*?\bID\b.*?[\s>]EI(?=\s|$)", re.S)


_ESC_NAMED = {"n": "\n", "r": "\r", "t": "\t", "b": "\b", "f": "\f"}


def _unescape(s: str) -> str:
    def repl(m: re.Match) -> str:
        g = m.group(1)
        if g in _ESC_NAMED:
            return _ESC_NAMED[g]
        if g[0] in "01234567":
            return chr(int(g, 8) & 0xFF)
        if g in ("\r\n", "\r", "\n"):
            return ""  # line continuation
        return g

    return _ESC_RE.sub(repl, s)


def _hex_to_str(h: str) -> str:
    h = re.sub(r"\s", "", h)
    if len(h) % 2:
        h += "0"
    return bytes.fromhex(h).decode("latin-1")


@dataclass(slots=True)
class Run:
    x: float
    y: float
    size: float
    text: str
    # baseline rotation quadrant from the text matrix (atan2(b, a)
    # snapped to 90°): 0 upright, 1 = 90° CCW, 2 = 180°, 3 = 270°.
    # Layout clusters each quadrant in its own reading frame.
    rot: int = 0
    # device-frame baseline advance length set by the tokenizer —
    # carries Tc/Tw char/word spacing, which the fixed-width fallback
    # below cannot see.  None only for synthetic sub-runs built
    # outside the tokenizer.
    adv: float | None = None

    @property
    def end_x(self) -> float:
        if self.adv is not None:
            return self.x + self.adv
        return self.x + spec.CHAR_W_FACTOR * self.size * len(self.text)


@dataclass(slots=True)
class Rule:
    horiz: bool
    x: float
    y: float
    length: float


@dataclass(slots=True)
class Image:
    x: float
    y: float
    w: float
    h: float
    media_ref: str


@dataclass(slots=True)
class Page:
    runs: list[Run]
    rules: list[Rule]
    images: list[Image]
    # display-frame page size from /MediaBox (defaults: US Letter,
    # the historical fixed geometry).  Layout zone cuts and column
    # split derive from these — A4 vs Letter moves the header line.
    w: float = spec.PAGE_W
    h: float = spec.PAGE_H


def _utf16be_hex(h: bytes) -> str:
    """CMap dst hex → text.  Odd-length hex pads with '0' (mirrors the
    hex-string rule); decode errors degrade per-char, never raise."""
    hs = h.decode("latin-1")
    if len(hs) % 2:
        hs += "0"
    try:
        b = bytes.fromhex(hs)
    except ValueError:
        return ""
    return b.decode("utf-16-be", errors="replace")


# width tables are (default, {code: w}) in TEXT-SPACE units per 1.0
# font size (milli-em / 1000); None = the font declares no metrics
# and the flat CHAR_W_FACTOR model applies
WidthTab = tuple[float, dict[int, float]]


def _balanced_array(body: bytes, key: bytes) -> bytes | None:
    """Contents of the bracket-balanced array following ``key``
    (``/W`` arrays nest: ``/W [ 32 [500 600] 70 71 450 ]`` — a
    non-greedy regex would stop at the first ``]``)."""
    i = body.find(key)
    if i < 0:
        return None
    i += len(key)
    n = len(body)
    while i < n and body[i : i + 1].isspace():
        i += 1
    if i >= n or body[i : i + 1] != b"[":
        return None
    depth = 0
    start = i + 1
    for j in range(i, n):
        c = body[j : j + 1]
        if c == b"[":
            depth += 1
        elif c == b"]":
            depth -= 1
            if depth == 0:
                return body[start:j]
    return None


def _cid_widths(desc_body: bytes) -> WidthTab | None:
    """CIDFont /W + /DW (§9.7.4.3) → width table.  Both /W forms:
    ``c [w1 … wn]`` assigns consecutive codes, ``c1 c2 w`` assigns a
    range.  Absent codes use /DW (default 1000)."""
    dwm = _DW_RE.search(desc_body)
    arr = _balanced_array(desc_body, b"/W")
    if dwm is None and arr is None:
        return None
    default = (
        float(dwm.group(1)) if dwm else float(spec.CID_DW_MILLI)
    ) / 1000.0
    table: dict[int, float] = {}
    if arr is not None:
        toks = _NUM_OR_BRACKET_RE.findall(arr)
        i = 0
        while i < len(toks):
            t = toks[i]
            if t in (b"[", b"]"):  # malformed stray bracket
                i += 1
                continue
            c = int(float(t))
            if i + 1 < len(toks) and toks[i + 1] == b"[":
                j = i + 2
                code = c
                while j < len(toks) and toks[j] != b"]":
                    table[code] = float(toks[j]) / 1000.0
                    code += 1
                    j += 1
                i = j + 1
            elif (
                i + 2 < len(toks)
                and toks[i + 1] not in (b"[", b"]")
                and toks[i + 2] not in (b"[", b"]")
            ):
                c2 = int(float(toks[i + 1]))
                wv = float(toks[i + 2]) / 1000.0
                for code in range(c, min(c2, c + 0xFFFF) + 1):
                    table[code] = wv
                i += 3
            else:
                break  # malformed tail — keep what parsed
    return default, table


def _simple_widths(
    font_body: bytes, objs: dict[int, bytes]
) -> WidthTab | None:
    """Simple-font /FirstChar + /Widths (+ descriptor /MissingWidth,
    §9.2.4): array entry k is the width of code FirstChar+k; codes
    outside the range use /MissingWidth (default 0)."""
    wm = _WIDTHS_RE.search(font_body)
    if wm is None:
        return None
    if wm.group(2) is not None:  # indirect /Widths N 0 R
        # the referenced object body IS (or contains) the array
        ref = objs.get(int(wm.group(2)), b"")
        lb, rb = ref.find(b"["), ref.rfind(b"]")
        arr = ref[lb + 1 : rb] if 0 <= lb < rb else ref
    else:
        arr = wm.group(1)
    fm = _FIRSTCHAR_RE.search(font_body)
    first = int(fm.group(1)) if fm else 0
    default = float(spec.MISSING_W_MILLI) / 1000.0
    dm = _FONTDESC_RE.search(font_body)
    if dm:
        mw = _MISSINGW_RE.search(objs.get(int(dm.group(1)), b""))
        if mw:
            default = float(mw.group(1)) / 1000.0
    table = {
        first + k: float(tok) / 1000.0
        for k, tok in enumerate(
            t for t in _NUM_OR_BRACKET_RE.findall(arr)
            if t not in (b"[", b"]")
        )
    }
    return default, table


def _font_map(
    font_body: bytes, objs: dict[int, bytes], streams: dict[int, bytes]
) -> tuple[bool, dict[int, str], WidthTab | None]:
    """(is_cid, code → decoded-string map, width table) for one font.

    Simple fonts: single-byte codes; precedence /ToUnicode CMap >
    /Encoding /Differences glyph names (ToUnicode IS the
    text-extraction mapping per the PDF spec) > the /WinAnsiEncoding
    base table (named directly or as /BaseEncoding) > identity
    latin-1.  Unknown glyph names keep the identity char.

    Composite fonts (/Subtype /Type0 with /Identity-H): is_cid=True —
    string bytes pair into 2-byte codes mapped through ToUnicode;
    unmapped codes degrade to chr(code) (deterministic, ASCII-safe
    when code==charcode).

    Width table (third element): per-glyph advances from /FirstChar +
    /Widths (+ /FontDescriptor /MissingWidth) for simple fonts or the
    descendant CIDFont's /W + /DW for Type0 — None when the font
    declares no metrics (flat CHAR_W_FACTOR model applies)."""
    is_cid = (
        b"/Identity-H" in font_body or b"/Subtype /Type0" in font_body
    )
    if is_cid:
        wtab = None
        dfm = _DESCFONT_RE.search(font_body)
        if dfm:
            desc = objs.get(int(dfm.group(1) or dfm.group(2)), b"")
            wtab = _cid_widths(desc)
    else:
        wtab = _simple_widths(font_body, objs)
    m: dict[int, str] = {}
    enc_body = font_body
    em = _ENC_REF_RE.search(font_body)
    if em:
        enc_body = font_body + b"\n" + objs.get(int(em.group(1)), b"")
    if not is_cid and b"/WinAnsiEncoding" in enc_body:
        m.update(spec.WINANSI_HIGH)
    dm = _DIFF_RE.search(enc_body)
    if dm:
        code = 0
        for t in _DIFF_TOK_RE.finditer(dm.group(1)):
            if t.group(1) is not None:
                code = int(t.group(1))
            else:
                name = t.group(2).decode("latin-1")
                uni = spec.GLYPH_UNICODE.get(name)
                if uni is not None:
                    m[code] = uni
                code += 1
    tm = _TOUNI_RE.search(font_body)
    if tm:
        cmap = streams.get(int(tm.group(1)), b"")
        for rm in _BFRANGE_RE.finditer(cmap):
            for trip in _BFRANGE_TRIPLE_RE.finditer(rm.group(1)):
                lo = int(trip.group(1), 16)
                hi = int(trip.group(2), 16)
                dst = _utf16be_hex(trip.group(3))
                if not dst:
                    continue
                for i in range(min(hi - lo + 1, spec.BFRANGE_MAX_SPAN)):
                    m[lo + i] = dst[:-1] + chr(ord(dst[-1]) + i)
        for cm in _BFCHAR_RE.finditer(cmap):
            for pair in _BFCHAR_PAIR_RE.finditer(cm.group(1)):
                code = int(pair.group(1), 16)
                m[code] = _utf16be_hex(pair.group(2))
    return is_cid, m, wtab


def _lzw_decode(data: bytes) -> bytes:
    """PDF LZWDecode (TIFF 6.0 LZW per ISO 32000-1 §7.4.4, EarlyChange=1): 9→12-bit
    MSB-first codes, width bumps ONE CODE EARLY (at table size 511 /
    1023 / 2047), code 256 = clear table, 257 = end of data.  Raises
    ``ValueError`` on malformed streams (caller degrades to empty)."""

    def fresh() -> list[bytes]:
        return [bytes([i]) for i in range(256)] + [b"", b""]

    entries = fresh()
    width = 9
    prev: bytes | None = None
    out = bytearray()
    bitbuf = 0
    nbits = 0
    for byte in data:
        bitbuf = ((bitbuf << 8) | byte) & 0xFFFFFFFF
        nbits += 8
        while nbits >= width:
            code = (bitbuf >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                entries = fresh()
                width = 9
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if prev is None:
                if code >= len(entries):
                    raise ValueError("lzw: bad first code")
                seq = entries[code]
            elif code < len(entries):
                seq = entries[code]
                entries.append(prev + seq[:1])
            elif code == len(entries):  # the KwKwK case
                seq = prev + prev[:1]
                entries.append(seq)
            else:
                raise ValueError("lzw: code beyond table")
            # EarlyChange=1 width bump — one entry EARLIER than the
            # encoder's (1<<w)-1 rule, because the decoder's table
            # lags the encoder's by exactly one emission (it can't
            # append until it has seen the NEXT code)
            if len(entries) == (1 << width) - 2 and width < 12:
                width += 1
            out += seq
            prev = seq
    raise ValueError("lzw: missing EOD marker")


def _unpredict(raw: bytes, parms: bytes) -> bytes:
    """Reverse a /Predictor declared in /DecodeParms over inflated
    stream bytes (ISO 32000-1 §7.4.4.4): 2 = TIFF horizontal
    differencing, 10–15 = PNG row filters (None/Sub/Up/Average/Paeth,
    one filter-type byte per /Columns-wide row — the PNG predictor
    NUMBER only selects the encoder's choice; decoding always reads
    the per-row filter byte).  Acrobat writes xref streams with
    predictor 12, so a PDF-1.5 file in the wild hits this on its very
    first structure.  Raises ValueError on malformed data (caller
    degrades to an empty stream, same contract as Flate/LZW)."""

    def intkey(k: bytes, default: int) -> int:
        m = _PRED_KEY_RE[k].search(parms)
        return int(m.group(1)) if m else default

    pred = intkey(b"Predictor", 1)
    if pred <= 1:
        return raw
    columns = intkey(b"Columns", 1)
    colors = intkey(b"Colors", 1)
    bpc = intkey(b"BitsPerComponent", 8)
    if columns < 1 or colors < 1 or bpc < 1:
        raise ValueError("predictor: bad parameters")
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    if pred == 2:  # TIFF horizontal differencing (8-bit components)
        if bpc != 8:
            raise ValueError("predictor: TIFF needs 8-bit components")
        out = bytearray(raw)
        for r0 in range(0, len(out), rowlen):
            end = min(r0 + rowlen, len(out))
            for j in range(r0 + bpp, end):
                out[j] = (out[j] + out[j - bpp]) & 0xFF
        return bytes(out)
    if not 10 <= pred <= 15:
        raise ValueError(f"predictor: unknown value {pred}")
    n = len(raw)
    if n % (rowlen + 1) == 0 and n:
        # fast path: full rows.  Up-only streams (the shape Acrobat
        # and our writer emit) reduce to one column-wise cumsum.
        arr = np.frombuffer(raw, dtype=np.uint8).reshape(-1, rowlen + 1)
        ftypes = arr[:, 0]
        if (ftypes > 4).any():
            raise ValueError("predictor: bad PNG filter byte")
        if (ftypes == 2).all():
            rows = arr[:, 1:].astype(np.int64)
            np.cumsum(rows, axis=0, out=rows)
            return (rows & 0xFF).astype(np.uint8).tobytes()
    out = bytearray()
    prev = bytes(rowlen)
    i = 0
    while i < n:
        ft = raw[i]
        i += 1
        row = bytearray(raw[i : i + rowlen])
        i += len(row)
        if ft == 0:
            pass
        elif ft == 1:  # Sub
            for j in range(bpp, len(row)):
                row[j] = (row[j] + row[j - bpp]) & 0xFF
        elif ft == 2:  # Up
            for j in range(len(row)):
                row[j] = (row[j] + prev[j]) & 0xFF
        elif ft == 3:  # Average
            for j in range(len(row)):
                a = row[j - bpp] if j >= bpp else 0
                row[j] = (row[j] + ((a + prev[j]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for j in range(len(row)):
                a = row[j - bpp] if j >= bpp else 0
                b = prev[j]
                c = prev[j - bpp] if j >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                row[j] = (row[j] + pr) & 0xFF
        else:
            raise ValueError("predictor: bad PNG filter byte")
        out += row
        # a short final row still reconstructs; pad prev so a
        # (malformed) following row can't index past it
        prev = bytes(row) + bytes(rowlen - len(row))
    return bytes(out)


def _asciihex_decode(data: bytes) -> bytes:
    """ASCIIHexDecode (ISO 32000-1 §7.4.2): whitespace ignored, ``>``
    is EOD, an odd trailing digit is padded with 0.  Any other
    character raises ValueError (caller degrades)."""
    end = data.find(b">")
    h = re.sub(rb"\s", b"", data if end < 0 else data[:end])
    if not re.fullmatch(rb"[0-9A-Fa-f]*", h):
        raise ValueError("asciihex: non-hex character")
    if len(h) % 2:
        h += b"0"
    return bytes.fromhex(h.decode())


def _ascii85_decode(data: bytes) -> bytes:
    """ASCII85Decode (ISO 32000-1 §7.4.3): 5 chars '!'..'u' → 4 bytes
    base-85 big-endian, ``z`` = a zero group (only between groups),
    ``~>`` is EOD, whitespace ignored.  A final partial group of n
    chars yields n-1 bytes ('u'-padded).  Raises ValueError on
    out-of-range chars, 'z' inside a group, a 1-char final group, or
    group value overflow."""
    end = data.find(b"~>")
    body = data if end < 0 else data[:end]
    out = bytearray()
    group: list[int] = []
    for c in body:
        if c in (0x20, 0x09, 0x0A, 0x0D, 0x0C, 0x00):
            continue
        if c == 0x7A:  # 'z'
            if group:
                raise ValueError("ascii85: z inside a group")
            out += b"\x00\x00\x00\x00"
            continue
        if not 0x21 <= c <= 0x75:
            raise ValueError("ascii85: character out of range")
        group.append(c - 33)
        if len(group) == 5:
            v = 0
            for d in group:
                v = v * 85 + d
            if v > 0xFFFFFFFF:
                raise ValueError("ascii85: group overflow")
            out += v.to_bytes(4, "big")
            group = []
    if group:
        if len(group) == 1:
            raise ValueError("ascii85: single trailing character")
        n = len(group)
        v = 0
        for d in group + [84] * (5 - n):  # pad with 'u'
            v = v * 85 + d
        if v > 0xFFFFFFFF:
            raise ValueError("ascii85: group overflow")
        out += v.to_bytes(4, "big")[: n - 1]
    return bytes(out)


def _rle_decode(data: bytes) -> bytes:
    """RunLengthDecode (ISO 32000-1 §7.4.5): length byte L ∈ 0..127
    copies the next L+1 bytes, L ∈ 129..255 repeats the next byte
    257-L times, 128 is EOD.  Truncated data raises ValueError."""
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        ell = data[i]
        i += 1
        if ell == 128:
            return bytes(out)
        if ell < 128:
            chunk = data[i : i + ell + 1]
            if len(chunk) != ell + 1:
                raise ValueError("rle: truncated literal run")
            out += chunk
            i += ell + 1
        else:
            if i >= n:
                raise ValueError("rle: truncated repeat run")
            out += bytes([data[i]]) * (257 - ell)
            i += 1
    raise ValueError("rle: missing EOD marker")


# /Filter declaration: a single name or an array of names, applied in
# ARRAY ORDER when decoding (ISO 32000-1 §7.4, Table 6) — e.g.
# [/ASCII85Decode /FlateDecode] un-a85s first, then inflates.
_FILTER_DECL_RE = re.compile(rb"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)")
_FILTER_NAME_RE = re.compile(rb"/([A-Za-z0-9]+)")
# /DecodeParms may likewise be one dict or an array aligned with the
# filter array (null for parameterless stages)
_DP_DECL_RE = re.compile(
    rb"/(?:DecodeParms|DP)\s*(\[.*?\]|<<.*?>>)", re.S
)
_DP_ITEM_RE = re.compile(rb"<<(.*?)>>|null", re.S)

_STREAM_DECODERS = {
    b"FlateDecode": lambda raw: zlib.decompress(raw),
    b"LZWDecode": lambda raw: _lzw_decode(raw),
    b"ASCIIHexDecode": lambda raw: _asciihex_decode(raw),
    b"ASCII85Decode": lambda raw: _ascii85_decode(raw),
    b"RunLengthDecode": lambda raw: _rle_decode(raw),
}


def _decode_stream(raw: bytes, dict_part: bytes) -> bytes:
    """Apply the stream dict's /Filter chain (with aligned
    /DecodeParms) to the raw payload.  Any malformed stage — unknown
    filter name, corrupt data, bad predictor — degrades the WHOLE
    stream to b\"\" (the page yields nothing, never garbage); the
    oracle mirrors this contract."""
    fm = _FILTER_DECL_RE.search(dict_part)
    if fm is None:
        return raw
    names = [m.group(1) for m in _FILTER_NAME_RE.finditer(fm.group(1))]
    parms: list[bytes | None] = [None] * len(names)
    dm = _DP_DECL_RE.search(dict_part)
    if dm is not None:
        items = [
            m.group(1) for m in _DP_ITEM_RE.finditer(dm.group(1))
        ]
        for i in range(min(len(items), len(names))):
            parms[i] = items[i]  # None for literal `null`
    try:
        for name, parm in zip(names, parms):
            dec = _STREAM_DECODERS.get(name)
            if dec is None:
                raise ValueError(f"unknown filter {name!r}")
            raw = dec(raw)
            # /Predictor parameterizes the Flate/LZW stage it is
            # aligned with; parameterless stages ignore their parms
            if parm is not None and name in (
                b"FlateDecode", b"LZWDecode",
            ):
                raw = _unpredict(raw, parm)
    except (ValueError, zlib.error):
        return b""
    return raw


def _balanced_dict(body: bytes, start: int) -> bytes:
    """The inner bytes of the ``<< ... >>`` dict whose ``<<`` begins
    at ``start``, honoring nesting.  Empty on imbalance."""
    depth = 0
    i = start
    n = len(body)
    while i < n - 1:
        pair = body[i : i + 2]
        if pair == b"<<":
            depth += 1
            i += 2
        elif pair == b">>":
            depth -= 1
            i += 2
            if depth == 0:
                return body[start + 2 : i - 2]
        else:
            i += 1
    return b""


@functools.lru_cache(maxsize=256)
def _dict_value_res(key: bytes):
    """Compiled (indirect-ref, inline-dict) pattern pair for a dict
    key — built per distinct key instead of hitting the re module's
    string-keyed cache on every lookup (hot: several calls per page)."""
    return (
        re.compile(key + rb"\s+(\d+)\s+0\s+R"),
        re.compile(key + rb"\s*<<"),
    )


def _dict_value(body: bytes, key: bytes, objs: dict[int, bytes]) -> bytes:
    """The dict a ``key`` points at — an indirect reference's target
    object body, or the inline ``<< ... >>`` (balanced).  b"" when
    absent."""
    ref_re, inline_re = _dict_value_res(key)
    m = ref_re.search(body)
    if m:
        return objs.get(int(m.group(1)), b"")
    m = inline_re.search(body)
    if m:
        return _balanced_dict(body, m.end() - 2)
    return b""


_NAMES_ARR_RE = re.compile(rb"/Names\s*\[([^\]]*)\]")
_NAME_TREE_ENTRY_RE = re.compile(
    rb"(\((?:[^()\\]|\\[\s\S])*\)|<[0-9A-Fa-f\s]*>)\s*(\d+)\s+0\s+R"
)
_EF_F_RE = re.compile(rb"/(?:UF|F)\s+(\d+)\s+0\s+R")
_FILESPEC_NAME_RE = {
    k: re.compile(
        rb"/" + k + rb"\s*(\((?:[^()\\]|\\[\s\S])*\)|<[0-9A-Fa-f\s]*>)"
    )
    for k in (b"UF", b"F")
}


def _catalog(objs: dict[int, bytes]) -> bytes:
    """The document catalog body (lowest object number wins), or b""."""
    for _num, body in sorted(objs.items()):
        if b"/Type /Catalog" in body:
            return body
    return b""


def _attachments(
    objs: dict[int, bytes], streams: dict[int, bytes]
) -> list[tuple[str, str]]:
    """Embedded files (ISO 32000-1 §7.11.4, the ZUGFeRD/Factur-X
    hybrid-invoice shape): catalog → /Names → /EmbeddedFiles name
    tree (direct /Names array, or one /Kids level of leaves) →
    /Filespec objects → the /EF /F (or /UF) embedded stream.
    Returns (filename, content) in name-tree order; the filename
    prefers the filespec's /UF, then /F, then the tree key.  Streams
    arrive already decrypted and defiltered (``streams``)."""
    cat = _catalog(objs)
    if not cat:
        return []
    names = _dict_value(cat, rb"/Names", objs)
    if not names:
        return []
    tree = _dict_value(names, rb"/EmbeddedFiles", objs)
    if not tree:
        return []
    leaves = [tree]
    km = _KIDS_RE.search(tree)
    if km and not _NAMES_ARR_RE.search(tree):
        leaves = [
            objs.get(int(r.group(1)), b"")
            for r in _REF_RE.finditer(km.group(1))
        ]
    out: list[tuple[str, str]] = []
    for leaf in leaves:
        am = _NAMES_ARR_RE.search(leaf)
        if not am:
            continue
        for em in _NAME_TREE_ENTRY_RE.finditer(am.group(1)):
            key = _string_value(em.group(1)).decode(
                "latin-1", errors="replace"
            )
            fs = objs.get(int(em.group(2)), b"")
            ef = _dict_value(fs, rb"/EF", objs)
            sm = _EF_F_RE.search(ef)
            if sm is None:
                continue
            content = streams.get(int(sm.group(1)))
            if content is None:
                continue
            name = key
            for k in (b"UF", b"F"):
                nm = _FILESPEC_NAME_RE[k].search(fs)
                if nm:
                    name = _string_value(nm.group(1)).decode(
                        "latin-1", errors="replace"
                    )
                    break
            out.append((name, content.decode("latin-1")))
    return out


_FIELDS_ARR_RE = re.compile(rb"/Fields\s*\[([^\]]*)\]")
_FT_TXCH_RE = re.compile(rb"/FT\s*/(?:Tx|Ch)\b")
# markup annotations (ISO 32000-1 §12.5): per-page /Annots array of
# refs; only note-bearing subtypes carry extractable /Contents text
_ANNOTS_RE = re.compile(rb"/Annots\s*\[([^\]]*)\]")
_ANNOT_SUBTYPE_RE = re.compile(rb"/Subtype\s*/(Text|FreeText)\b")
_ANNOT_CONTENTS_RE = re.compile(
    rb"/Contents\s*(<[^>]*>|\((?:[^()\\]|\\[\s\S])*\))", re.S
)
_T_STR_RE = re.compile(
    rb"/T\s*(\((?:[^()\\]|\\[\s\S])*\)|<[0-9A-Fa-f\s]*>)"
)
_V_STR_RE = re.compile(
    rb"/V\s*(\((?:[^()\\]|\\[\s\S])*\)|<[0-9A-Fa-f\s]*>)"
)


def _text_string(raw: bytes) -> str:
    """PDF text string (ISO 32000-1 §7.9.2.2): UTF-16BE when the BOM
    leads, PDFDocEncoding (~latin-1 subset here) otherwise."""
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be", errors="replace")
    return raw.decode("latin-1", errors="replace")


def _info_ref(data: bytes) -> int | None:
    """The document-information dict's object number (§14.3.3) —
    searched where the spec puts /Info: trailer dicts and /Type /XRef
    stream dicts (same scoping rationale as _encrypt_ref)."""
    if b"/Info" not in data:
        return None
    for tm in re.finditer(rb"trailer\b", data):
        m = re.compile(rb"\s*<<").match(data, tm.end())
        if m is None:
            continue
        em = _INFO_REF_RE.search(_balanced_dict(data, m.end() - 2))
        if em:
            return int(em.group(1))
    for om in _OBJ_RE.finditer(data):
        body = om.group(2)
        sm = re.search(rb"stream\r?\n", body)
        dict0 = body[: sm.start()] if sm else body
        if b"/Type /XRef" in dict0:
            em = _INFO_REF_RE.search(dict0)
            if em:
                return int(em.group(1))
    return None


_INFO_DATE_RE = re.compile(r"D:(\d{4})(\d{2})(\d{2})")
_INFO_KEYS = (b"Title", b"Author", b"CreationDate")


def _doc_info(
    data: bytes, objs: dict[int, bytes]
) -> list[tuple[str, str]]:
    """Document-information metadata (§14.3.3): (key, value) for
    /Title /Author /CreationDate in that fixed order, keys absent or
    empty skipped.  Values are BOM-aware text strings (decrypted
    upstream like all strings); /CreationDate normalizes the
    ``D:YYYYMMDD…`` form to an ISO date, anything else stays raw."""
    ref = _info_ref(data)
    if ref is None:
        return []
    body = objs.get(ref, b"")
    out: list[tuple[str, str]] = []
    for key in _INFO_KEYS:
        m = re.search(
            rb"/" + key + rb"\s*(<[^>]*>|\((?:[^()\\]|\\[\s\S])*\))",
            body,
            re.S,
        )
        if m is None:
            continue
        val = _text_string(_string_value(m.group(1)))
        if key == b"CreationDate":
            dm = _INFO_DATE_RE.match(val)
            if dm:
                val = "-".join(dm.groups())
        if val:
            out.append((key.decode(), val))
    return out


def _form_fields(objs: dict[int, bytes]) -> list[tuple[str, str]]:
    """AcroForm text/choice field values (ISO 32000-1 §12.7): catalog
    /AcroForm → /Fields array → field dicts with /FT /Tx or /Ch, /T
    partial name and /V value (direct on the field, or — merged-widget
    shape — on the first /Kids entry carrying one).  Returns
    (name, value) in /Fields order; values are BOM-aware text strings.
    Non-text field types and valueless fields are skipped; dangling
    refs degrade to skip, never raise."""
    cat = _catalog(objs)
    if not cat:
        return []
    acro = _dict_value(cat, rb"/AcroForm", objs)
    if not acro:
        return []
    fm = _FIELDS_ARR_RE.search(acro)
    if not fm:
        return []
    out: list[tuple[str, str]] = []
    for r in _REF_RE.finditer(fm.group(1)):
        fd = objs.get(int(r.group(1)), b"")
        if not _FT_TXCH_RE.search(fd):
            continue
        tm = _T_STR_RE.search(fd)
        if tm is None:
            continue
        vm = _V_STR_RE.search(fd)
        if vm is None:
            km = _KIDS_RE.search(fd)
            if km:
                for kr in _REF_RE.finditer(km.group(1)):
                    vm = _V_STR_RE.search(objs.get(int(kr.group(1)), b""))
                    if vm is not None:
                        break
        if vm is None:
            continue
        out.append((
            _text_string(_string_value(tm.group(1))),
            _text_string(_string_value(vm.group(1))),
        ))
    return out


def _string_value(part: bytes) -> bytes:
    """First string (hex or literal) in ``part``, raw bytes."""
    m = _ANYSTR_RE.search(part)
    if m is None:
        return b""
    if m.group(1) is not None:
        return _unescape(m.group(1).decode("latin-1")).encode("latin-1")
    h = re.sub(rb"\s", b"", m.group(2))
    if len(h) % 2:
        h += b"0"
    return bytes.fromhex(h.decode())


def _esc_literal(b: bytes) -> bytes:
    """Bytes → PDF literal-string content: backslash-escape the three
    specials and emit CR/LF as FIXED-WIDTH octal (3 digits, so a
    following digit byte can't extend the escape)."""
    out = bytearray()
    for c in b:
        if c in (0x28, 0x29, 0x5C):  # ( ) backslash
            out += b"\\" + bytes([c])
        elif c == 0x0D:
            out += b"\\015"
        elif c == 0x0A:
            out += b"\\012"
        else:
            out.append(c)
    return bytes(out)


def _decrypt_strings(part: bytes, decrypt) -> bytes:
    """Decrypt every string object in a dict region with the supplied
    per-value cipher callable (RC4 or AES-CBC), re-emitting as escaped
    literals (Algorithm 1 applies the cipher per string, not per
    object).  A value the cipher rejects (AES framing/pad ValueError)
    degrades to an empty string — never garbage text."""

    def repl(m: re.Match) -> bytes:
        if m.group(1) is not None:
            val = _unescape(
                m.group(1).decode("latin-1")
            ).encode("latin-1")
        else:
            h = re.sub(rb"\s", b"", m.group(2))
            if not h:
                return m.group(0)  # '<>' inside '<<'/'>>' delimiters
            if len(h) % 2:
                h += b"0"
            val = bytes.fromhex(h.decode())
        try:
            return b"(" + _esc_literal(decrypt(val)) + b")"
        except ValueError:
            return b"()"

    return _ANYSTR_RE.sub(repl, part)


_ROTATE_RE = re.compile(rb"/Rotate\s+(-?\d+)")


def _rotate_of(body: bytes, default: int) -> int:
    """Page /Rotate in quarter turns clockwise (0-3).  ISO 32000-1
    §7.7.3.3: degrees clockwise at display time, multiple of 90,
    inheritable (``default`` carries the /Pages-node value); negative
    values normalize mod 360; non-multiples of 90 degrade to the
    inherited default."""
    m = _ROTATE_RE.search(body)
    if m is None:
        return default
    deg = int(m.group(1)) % 360
    return deg // 90 if deg % 90 == 0 else default


_MEDIABOX_RE = re.compile(
    rb"/MediaBox\s*\[\s*([-+0-9.]+)\s+([-+0-9.]+)\s+"
    rb"([-+0-9.]+)\s+([-+0-9.]+)\s*\]"
)

_DEFAULT_BOX = (0.0, 0.0, spec.PAGE_W, spec.PAGE_H)


def _mediabox_of(
    body: bytes, default: tuple[float, float, float, float]
) -> tuple[float, float, float, float]:
    """Page /MediaBox as (x0, y0, w, h).  ISO 32000-1 §7.7.3.3:
    inheritable (``default`` carries the /Pages-node value, itself
    defaulting to US Letter); a malformed or degenerate box (w<=0 or
    h<=0, non-numeric) degrades to the inherited default.  Nonzero
    origins are normalized by translating page content (§8.3: user
    space is unbounded; the box only frames the visible region)."""
    m = _MEDIABOX_RE.search(body)
    if m is None:
        return default
    try:
        x0, y0, x1, y1 = (float(m.group(i)) for i in (1, 2, 3, 4))
    except ValueError:
        return default
    w, h = x1 - x0, y1 - y0
    if w <= 0 or h <= 0:
        return default
    return (x0, y0, w, h)


def _rotate_page(pg: Page, k: int) -> Page:
    """Normalize a /Rotate page into its DISPLAY frame: rotate every
    run, ruling, and image placement by ``k`` quarter turns clockwise
    and subtract ``k`` from each run's rotation quadrant, so content
    written sideways with a compensating /Rotate (the scanned-page
    shape) extracts as an ordinary upright page.  The display sheet's
    dimensions come from the page's /MediaBox; odd ``k`` swaps them,
    so zone cuts and the column split land on the sheet the reader
    actually sees (since r5 — previously a portrait-constants
    degradation)."""
    W, H = pg.w, pg.h
    if k == 1:
        pt = lambda x, y: (y, W - x)  # noqa: E731
    elif k == 2:
        pt = lambda x, y: (W - x, H - y)  # noqa: E731
    else:
        pt = lambda x, y: (H - y, x)  # noqa: E731
    runs = [
        Run(x=px, y=py, size=r.size, text=r.text, rot=(r.rot - k) % 4,
            adv=r.adv)  # rigid transform — advance length is invariant
        for r in pg.runs
        for px, py in (pt(r.x, r.y),)
    ]
    rules: list[Rule] = []
    for r in pg.rules:
        if k == 2:
            if r.horiz:
                rules.append(Rule(True, W - r.x - r.length, H - r.y, r.length))
            else:
                rules.append(Rule(False, W - r.x, H - r.y - r.length, r.length))
        elif k == 1:
            if r.horiz:  # horizontal becomes vertical
                rules.append(Rule(False, r.y, W - r.x - r.length, r.length))
            else:
                rules.append(Rule(True, r.y, W - r.x, r.length))
        else:  # k == 3
            if r.horiz:
                rules.append(Rule(False, H - r.y, r.x, r.length))
            else:
                rules.append(Rule(True, H - r.y - r.length, r.x, r.length))
    images: list[Image] = []
    for im in pg.images:
        if k == 1:
            images.append(Image(im.y, W - im.x - im.w, im.h, im.w, im.media_ref))
        elif k == 2:
            images.append(Image(W - im.x - im.w, H - im.y - im.h,
                                im.w, im.h, im.media_ref))
        else:
            images.append(Image(H - im.y - im.h, im.x, im.h, im.w,
                                im.media_ref))
    nw, nh = (H, W) if k % 2 else (W, H)
    return Page(runs=runs, rules=rules, images=images, w=nw, h=nh)


def _encrypt_ref(data: bytes) -> int | None:
    """The document's /Encrypt object number, or None.

    Searched ONLY where the spec puts it — trailer dicts (§7.5.5) and
    /Type /XRef stream dicts (§7.5.8.2, which carry the trailer keys
    in 1.5 layouts) — never the whole byte stream: a readable
    unencrypted document whose page TEXT merely contains
    "/Encrypt N 0 R" must not trip the security handler and degrade
    to zero pages.  The ``/Encrypt`` substring guard keeps the common
    unencrypted case to one fast scan."""
    if b"/Encrypt" not in data:
        return None
    for tm in re.finditer(rb"trailer\b", data):
        m = re.compile(rb"\s*<<").match(data, tm.end())
        if m is None:
            continue
        em = _ENCRYPT_REF_RE.search(_balanced_dict(data, m.end() - 2))
        if em:
            return int(em.group(1))
    for om in _OBJ_RE.finditer(data):
        body = om.group(2)
        # dict part ends at the stream keyword (endstream may be
        # missing on a truncated object; the dict region must still
        # never include stream data)
        sm = re.search(rb"stream\r?\n", body)
        dict0 = body[: sm.start()] if sm else body
        if b"/Type /XRef" in dict0:
            em = _ENCRYPT_REF_RE.search(dict0)
            if em:
                return int(em.group(1))
    return None


def _strip_subdicts(body: bytes) -> bytes:
    """``body`` with nested ``<< ... >>`` sub-dictionaries removed, so
    top-level key scans over an encrypt dict cannot be shadowed by a
    crypt-filter sub-dict's keys — Acrobat writes keys alphabetically,
    so ``/CF << /StdCF << /Length 16 >> >>`` (key BYTES) precedes the
    top-level ``/Length 128`` (key BITS).  String literals (both
    ``(...)`` with escapes and ``<...>`` hex) are copied or skipped
    atomically: /O and /U values are binary and may contain ``<<``.
    The body spans obj..endobj, so the encrypt dict's OWN ``<< >>``
    is depth 1 — content is kept at depth <= 1 and stripped below."""
    out = bytearray()
    depth = 0
    i, n = 0, len(body)
    while i < n:
        if body.startswith(b"<<", i):
            depth += 1
            i += 2
            continue
        if body.startswith(b">>", i):
            if depth:
                depth -= 1
            i += 2
            continue
        c = body[i : i + 1]
        if c == b"(":  # literal string — atomic (escapes + nesting)
            j, nest = i + 1, 1
            while j < n and nest:
                ch = body[j : j + 1]
                if ch == b"\\":
                    j += 2
                    continue
                if ch == b"(":
                    nest += 1
                elif ch == b")":
                    nest -= 1
                j += 1
            if depth <= 1:
                out += body[i:j]
            i = j
            continue
        if c == b"<":  # hex string (single <) — atomic
            j = body.find(b">", i + 1)
            j = n if j < 0 else j + 1
            if depth <= 1:
                out += body[i:j]
            i = j
            continue
        if depth <= 1:
            out += c
        i += 1
    return bytes(out)


def _encryption_key(data: bytes, enc_num: int) -> tuple[bytes, str] | None:
    """(file key, cipher) for the EMPTY user password — cipher is
    ``"rc4"`` (V1/V2, or V4 with /CFM /V2), ``"aesv2"`` (V4 R4) or
    ``"aesv3"`` (V5 R6) — or None when the document is unreadable here
    (non-Standard filter, unknown V/R/CFM, wrong password, malformed
    dict, failed /Perms tamper check) — the caller degrades to a
    zero-page doc rather than emitting cipher garbage as text."""
    from accountant_pdf_extract_spark.functions import pdfcrypt

    bm = re.search(
        rb"(?<![0-9])" + str(enc_num).encode() + rb"\s+0\s+obj\b(.*?)endobj",
        data,
        re.S,
    )
    if bm is None:
        return None
    ed = bm.group(1)
    if b"/Standard" not in ed:
        return None
    # Top-level view for KEY lookups (/Length /V /R /P /O /U ...);
    # the /CFM cipher markers are checked against the FULL body below
    # because they live inside the /CF sub-dictionary.
    edt = _strip_subdicts(ed)

    def intkey(k: bytes, default: int) -> int:
        m = _SIGNED_INT_KEY_RE[k].search(edt)
        return int(m.group(1)) if m else default

    def strkey(key: bytes) -> bytes | None:
        m = re.search(
            rb"/" + key + rb"\s*(<[^>]*>|\((?:[^()\\]|\\[\s\S])*\))",
            edt,
            re.S,
        )
        return None if m is None else _string_value(m.group(1))

    v = intkey(b"V", 0)
    r = intkey(b"R", 2)
    p = intkey(b"P", -44)
    o_val = strkey(b"O")
    u_val = strkey(b"U")

    if v == 5:
        # ---- AES-256 (ISO 32000-2, /CFM /AESV3, R6) ----------------
        # /O plays no part in user-password auth here (it serves
        # owner-password auth only), so its absence must not make a
        # V5 document unreadable — the oracle's V5 path never reads it
        if r != 6 or b"/AESV3" not in ed:
            return None
        ue_val = strkey(b"UE")
        perms = strkey(b"Perms")
        if u_val is None or ue_val is None or perms is None:
            return None
        fkey = pdfcrypt.r6_auth_user(u_val, ue_val)
        if fkey is None or not pdfcrypt.r6_check_perms(perms, fkey):
            return None
        return fkey, "aesv3"

    if o_val is None or u_val is None:
        return None
    bits = intkey(b"Length", 40)
    if len(o_val) < 32 or len(u_val) < 16:
        return None
    idm = _ID_RE.search(data)
    id0 = b""
    if idm:
        h = idm.group(1)
        if len(h) % 2 == 0:
            id0 = bytes.fromhex(h.decode())

    if v == 4:
        # ---- V4 crypt filters: /StdCF /CFM is AESV2 or V2(RC4) -----
        if r != 4 or not 40 <= bits <= 128:
            return None
        if b"/AESV2" in ed:
            cipher = "aesv2"
        elif re.search(rb"/CFM\s*/V2\b", ed):
            cipher = "rc4"
        else:
            return None
        # /EncryptMetadata false (non-default) changes the Algorithm-2
        # hash; unsupported here — the derived key fails the /U check
        # below and the document degrades rather than mis-decodes.
    elif v in (1, 2):
        if r not in (2, 3) or not 40 <= bits <= 128:
            return None
        cipher = "rc4"
    else:
        return None

    fkey = pdfcrypt.file_key(o_val, p, id0, r, bits)
    if not pdfcrypt.check_user_password(u_val, fkey, id0, r):
        return None
    return fkey, cipher


def _font_resources(
    body: bytes,
    objs: dict[int, bytes],
    streams: dict[int, bytes],
    font_cache: dict[int, tuple[bool, dict[int, str], WidthTab | None]],
) -> dict[str, tuple[bool, dict[int, str], WidthTab | None]]:
    """Resolve a /Resources /Font dict into name → (is_cid, map,
    width table).  Every page (and form) of a doc references the same
    font objects — each CMap/Differences/Widths table resolves once
    per doc via the cache."""
    font_maps: dict[str, tuple[bool, dict[int, str], WidthTab | None]] = {}
    frm = _FONT_RES_RE.search(body)
    if frm:
        for fe in _FONT_ENTRY_RE.finditer(frm.group(1)):
            fnum = int(fe.group(2))
            if fnum not in font_cache:
                font_cache[fnum] = _font_map(
                    objs.get(fnum, b""), objs, streams
                )
            is_cid, fmap, wtab = font_cache[fnum]
            if fmap or is_cid or wtab is not None:
                font_maps[fe.group(1).decode("latin-1")] = (
                    is_cid, fmap, wtab,
                )
    return font_maps


def _hidden_props(body: bytes, off_ocgs: set[int]) -> set[str]:
    """BDC property names (/Properties entries) whose OCG is in the
    catalog's default-config /OFF set — content inside their
    ``/OC /name BDC … EMC`` brackets is hidden (§8.11.3)."""
    hidden: set[str] = set()
    if off_ocgs:
        pm = _PROPS_RE.search(body)
        if pm:
            for em in _XOBJ_ENTRY_RE.finditer(pm.group(1)):
                if int(em.group(2)) in off_ocgs:
                    hidden.add(em.group(1).decode("latin-1"))
    return hidden


def _xobj_resources(
    body: bytes,
    objs: dict[int, bytes],
    streams: dict[int, bytes],
    font_cache: dict[int, tuple[bool, dict[int, str], WidthTab | None]],
    form_cache: dict,
    depth: int,
    off_ocgs: set[int] = frozenset(),
) -> tuple[dict[str, str], dict[str, tuple["Page", tuple]]]:
    """Resolve a /Resources /XObject dict: image entries (/Name target)
    become name → media_ref; /Subtype /Form entries become name →
    (pre-parsed fragment, matrix).  Fragments parse ONCE per
    (object, depth) per doc; ``depth`` caps nesting (reference cycles
    degrade by running out of depth, never recurse forever)."""
    xobj_refs: dict[str, str] = {}
    forms: dict[str, tuple[Page, tuple]] = {}
    xm = _XOBJ_RE.search(body)
    if not xm:
        return xobj_refs, forms
    for em in _XOBJ_ENTRY_RE.finditer(xm.group(1)):
        name = em.group(1).decode("latin-1")
        tnum = int(em.group(2))
        target = objs.get(tnum, b"")
        sm = _STREAM_RE.search(target)
        tdict = target[: sm.start()] if sm else target
        if b"/Subtype /Form" in tdict:
            if depth <= 0:
                continue  # past the nesting cap — skip the placement
            key = (tnum, depth)
            if key not in form_cache:
                form_cache[key] = _form_fragment(
                    tnum, tdict, objs, streams, font_cache, form_cache,
                    depth, off_ocgs,
                )
            forms[name] = form_cache[key]
        else:
            nm = _NAME_RE.search(tdict)
            if nm:
                xobj_refs[name] = _unescape(
                    nm.group(1).decode("latin-1")
                )
    return xobj_refs, forms


def _form_fragment(
    tnum: int,
    tdict: bytes,
    objs: dict[int, bytes],
    streams: dict[int, bytes],
    font_cache: dict[int, tuple[bool, dict[int, str], WidthTab | None]],
    form_cache: dict,
    depth: int,
    off_ocgs: set[int] = frozenset(),
) -> tuple["Page", tuple]:
    """Parse one Form XObject (ISO 32000-1 §8.10) into a Page fragment
    in FORM SPACE plus its /Matrix (a, d, e, f) terms — ``Do``
    instantiates it with the CTM composed on top.  Forms resolve their
    OWN /Resources only (page-resource inheritance is out of subset;
    the oracle mirrors).  /BBox clipping is out of subset — content
    stays inside the box by construction in the writer."""
    content = streams.get(tnum, b"").decode("latin-1")
    mtx = (1.0, 1.0, 0.0, 0.0)
    mm = _MATRIX_RE.search(tdict)
    if mm:
        v = [float(x) for x in _FLOAT_RE.findall(mm.group(1))]
        if len(v) == 6:
            mtx = (v[0], v[3], v[4], v[5])
    fonts = _font_resources(tdict, objs, streams, font_cache)
    xobj_refs, forms = _xobj_resources(
        tdict, objs, streams, font_cache, form_cache, depth - 1, off_ocgs
    )
    hidden = _hidden_props(tdict, off_ocgs)
    return _parse_content(content, xobj_refs, fonts, forms, hidden), mtx


def _place_fragment(
    frag: "Page",
    mtx: tuple,
    ctm: tuple,
    runs: list,
    rules: list,
    images: list,
) -> None:
    """Instantiate a form fragment under CTM ∘ /Matrix (scale +
    translate subset).  Sizes/advances scale directionally: an upright
    run's glyph height is vertical (|D|) and its advance horizontal
    (|A|); quadrant-1/3 runs swap the two."""
    ma, md, me, mf = mtx
    A = ctm[0] * ma
    D = ctm[1] * md
    E = ctm[0] * me + ctm[2]
    F = ctm[1] * mf + ctm[3]
    ax, ay = abs(A), abs(D)
    for r in frag.runs:
        horiz = r.rot % 2 == 0
        runs.append(Run(
            x=A * r.x + E,
            y=D * r.y + F,
            size=r.size * (ay if horiz else ax),
            text=r.text,
            rot=r.rot,
            adv=None if r.adv is None else r.adv * (ax if horiz else ay),
        ))
    for rl in frag.rules:
        rules.append(Rule(
            horiz=rl.horiz,
            x=A * rl.x + E,
            y=D * rl.y + F,
            length=rl.length * (ax if rl.horiz else ay),
        ))
    for im in frag.images:
        images.append(Image(
            x=A * im.x + E,
            y=D * im.y + F,
            w=im.w * A,
            h=im.h * D,
            media_ref=im.media_ref,
        ))


def parse_pdf(data: bytes) -> list[Page]:
    """Tokenize a PDF-subset byte stream into per-page primitives."""
    return parse_pdf_full(data)[0]


def parse_pdf_full(
    data: bytes,
) -> tuple[
    list[Page],
    list[tuple[str, str]],
    list[tuple[str, str]],
    list[tuple[str, str]],
    list[tuple[str, str]],
]:
    """Pages, AcroForm field values (name, value), embedded-file
    attachments (filename, content) — the ZUGFeRD/Factur-X
    hybrid-invoice shape rides /EmbeddedFiles — markup
    annotations (subtype, contents) in page-then-/Annots order
    (sticky notes / free-text comments; §12.5 /Text and /FreeText
    with a direct /Annots array; appearance streams out of subset),
    and document-information metadata (§14.3.3 /Info: Title/Author/
    CreationDate key-value pairs)."""
    # ---- standard security (RC4 / AES, empty user password) ---------
    fkey: bytes | None = None
    cipher = ""
    enc_num = -1
    enc_ref = _encrypt_ref(data)
    if enc_ref is not None:
        enc_num = enc_ref
        fc = _encryption_key(data, enc_num)
        if fc is None:
            return [], [], [], [], []  # unreadable (bad pw/filter)
        fkey, cipher = fc
        from accountant_pdf_extract_spark.functions.pdfcrypt import (
            aes_decrypt_value,
            object_key,
            object_key_aes,
            rc4,
        )

    objs: dict[int, bytes] = {}
    streams: dict[int, bytes] = {}
    # final (post-decryption) stream-dict prefix per stream-carrying
    # object — the ObjStm/XRef expansion loops below need exactly this
    # and used to re-run _STREAM_RE over every object body twice more
    # (~3x the object scans; packed objects cannot carry streams,
    # §7.5.7, so objects absent here have none)
    stream_dicts: dict[int, bytes] = {}
    for m in _OBJ_RE.finditer(data):
        num = int(m.group(1))
        body = m.group(2)
        # one stream scan per object; the decryption branch reuses the
        # match offsets instead of re-searching the rebuilt body
        sm = _STREAM_RE.search(body)
        dict_part = body[: sm.start()] if sm else body
        payload = sm.group(1) if sm else b""
        if fkey is not None and num != enc_num:
            # xref streams are NEVER encrypted (§7.5.8.2)
            if b"/Type /XRef" not in dict_part:
                if cipher == "rc4":
                    okey = object_key(fkey, num)
                    dec = lambda v, k=okey: rc4(k, v)  # noqa: E731
                elif cipher == "aesv2":
                    okey = object_key_aes(fkey, num)
                    dec = lambda v, k=okey: aes_decrypt_value(k, v)  # noqa: E731
                else:  # aesv3: the file key encrypts every object
                    dec = lambda v: aes_decrypt_value(fkey, v)  # noqa: E731
                dict_part = _decrypt_strings(dict_part, dec)
                if sm:
                    try:
                        payload = dec(payload)
                    except ValueError:
                        payload = b""  # malformed AES framing — degrade
                    body = (
                        dict_part
                        + body[sm.start() : sm.start(1)]
                        + payload
                        + body[sm.end(1) :]
                    )
                else:
                    body = dict_part
        objs[num] = body
        if sm:
            stream_dicts[num] = dict_part
            # Filter chain declared in the stream dict (before the
            # 'stream' keyword — never match inside stream data);
            # corrupt/unknown stages degrade to an empty stream (the
            # page yields nothing) instead of raising and losing the
            # whole document; oracle mirrors this.
            streams[num] = _decode_stream(payload, dict_part)
        else:
            # last definition wins for the stream too: an incremental
            # update that redefines an object without a stream must not
            # leave the superseded stream behind (ObjStm/XRef expansion
            # would read it; the oracle gates on the final body)
            stream_dicts.pop(num, None)
            streams.pop(num, None)

    # ---- PDF 1.5: expand object streams (/Type /ObjStm) --------------
    # Embedded objects carry no "N 0 obj" headers in the raw bytes, so
    # the regex scan can't see them; the ObjStm's own header (objnum
    # offset pairs) is the authoritative directory.  First-wins: a
    # top-level object never gets clobbered by a same-numbered packed
    # object.  Processed in ascending stream-object number.
    objstm_entries: dict[int, list[tuple[int, bytes]]] = {}
    for num in sorted(objs):
        dict_part = stream_dicts.get(num)
        if dict_part is None or b"/Type /ObjStm" not in dict_part:
            continue
        payload = streams.get(num, b"")
        nm = _INT_KEY_RE[b"N"].search(dict_part)
        fm = _INT_KEY_RE[b"First"].search(dict_part)
        if nm is None or fm is None:
            continue
        n, first = int(nm.group(1)), int(fm.group(1))
        pairs = _PAIR_RE.findall(payload[:first])[:n]
        entries: list[tuple[int, bytes]] = []
        for i, (onum, off) in enumerate(pairs):
            start = first + int(off)
            end = (
                first + int(pairs[i + 1][1]) if i + 1 < len(pairs)
                else len(payload)
            )
            if start > len(payload):
                continue
            entries.append((int(onum), payload[start:end].strip()))
        objstm_entries[num] = entries
        for onum, ob in entries:
            objs.setdefault(onum, ob)

    # ---- PDF 1.5: xref streams (/Type /XRef) --------------------------
    # Type-2 entries map objnum → (objstm, index); they recover any
    # object the ObjStm header scan did not already establish (e.g. a
    # corrupted header objnum with intact offsets).  W gives the three
    # binary field widths; /Index defaults to [0 Size].
    for num in sorted(objs):
        dict_part = stream_dicts.get(num)
        if dict_part is None or b"/Type /XRef" not in dict_part:
            continue
        payload = streams.get(num, b"")
        wm = _W_RE.search(dict_part)
        szm = _INT_KEY_RE[b"Size"].search(dict_part)
        if wm is None or szm is None:
            continue
        try:
            w = [int(x) for x in wm.group(1).split()]
        except ValueError:
            continue
        if len(w) != 3 or any(x < 0 or x > 8 for x in w) or sum(w) == 0:
            continue
        size = int(szm.group(1))
        im = _INDEX_RE.search(dict_part)
        if im:
            nums_ = [int(x) for x in re.findall(rb"\d+", im.group(1))]
            ranges = list(zip(nums_[0::2], nums_[1::2]))
        else:
            ranges = [(0, size)]
        entry_len = sum(w)
        pos = 0
        for start, count in ranges:
            for objnum in range(start, start + count):
                row = payload[pos : pos + entry_len]
                pos += entry_len
                if len(row) < entry_len:
                    break
                o = 0
                f1 = int.from_bytes(row[: w[0]], "big") if w[0] else 1
                o += w[0]
                f2 = int.from_bytes(row[o : o + w[1]], "big")
                o += w[1]
                f3 = int.from_bytes(row[o : o + w[2]], "big")
                if f1 == 2 and objnum not in objs:
                    entries = objstm_entries.get(f2)
                    if entries is not None and f3 < len(entries):
                        objs[objnum] = entries[f3][1]

    # Page order: the /Pages /Kids list if present, else object order.
    page_nums: list[int] = []
    pages_rot = 0  # /Pages-node /Rotate is inheritable (§7.7.3.4)
    pages_box = _DEFAULT_BOX  # /Pages-node /MediaBox, likewise
    for num, body in objs.items():
        if b"/Type /Pages" in body:
            km = _KIDS_RE.search(body)
            if km:
                page_nums = [int(r.group(1)) for r in _REF_RE.finditer(km.group(1))]
            pages_rot = _rotate_of(body, 0)
            pages_box = _mediabox_of(body, _DEFAULT_BOX)
            break
    if not page_nums:
        page_nums = [
            n for n, b in sorted(objs.items())
            if b"/Type /Page" in b and b"/Type /Pages" not in b
        ]

    pages: list[Page] = []
    annots: list[tuple[str, str]] = []
    font_cache: dict[int, tuple[bool, dict[int, str], WidthTab | None]] = {}
    form_cache: dict = {}  # (objnum, depth) → (fragment, matrix)
    # optional-content default config (§8.11.4.3): OCGs in the /OFF
    # array are hidden; /OFF is an /OCProperties-only key in subset,
    # so the catalog-scoped search is unambiguous
    off_ocgs: set[int] = set()
    cat_body = _catalog(objs)
    if b"/OCProperties" in cat_body:
        om = _OFF_RE.search(cat_body)
        if om:
            off_ocgs = {
                int(r.group(1)) for r in _REF_RE.finditer(om.group(1))
            }
    for pn in page_nums:
        body = objs.get(pn, b"")
        am = _CONTENTS_ARR_RE.search(body)
        if am:
            refs = [int(r.group(1)) for r in _REF_RE.finditer(am.group(1))]
            content = b"\n".join(streams.get(r, b"") for r in refs)
        else:
            cm = _CONTENTS_RE.search(body)
            content = streams.get(int(cm.group(1)), b"") if cm else b""
        xobj_refs, form_frags = _xobj_resources(
            body, objs, streams, font_cache, form_cache, _FORM_MAX_DEPTH,
            off_ocgs,
        )
        font_maps = _font_resources(body, objs, streams, font_cache)
        hidden = _hidden_props(body, off_ocgs)
        am2 = _ANNOTS_RE.search(body)
        if am2:
            for r in _REF_RE.finditer(am2.group(1)):
                ad = objs.get(int(r.group(1)), b"")
                sm2 = _ANNOT_SUBTYPE_RE.search(ad)
                if sm2 is None:  # /Link, /Widget, ... — no note text
                    continue
                cm2 = _ANNOT_CONTENTS_RE.search(ad)
                if cm2 is None:
                    continue
                annots.append((
                    sm2.group(1).decode(),
                    _text_string(_string_value(cm2.group(1))),
                ))
        pg = _parse_content(
            content.decode("latin-1"), xobj_refs, font_maps, form_frags,
            hidden,
        )
        x0, y0, pg.w, pg.h = _mediabox_of(body, pages_box)
        if x0 or y0:
            # normalize a shifted origin so layout sees (0,0)-anchored
            # coordinates; dataclasses are fresh per page (mutable ok)
            for r in pg.runs:
                r.x -= x0
                r.y -= y0
            for rl in pg.rules:
                rl.x -= x0
                rl.y -= y0
            for im in pg.images:
                im.x -= x0
                im.y -= y0
        k = _rotate_of(body, pages_rot)
        if k:
            pg = _rotate_page(pg, k)
        pages.append(pg)
    return (
        pages,
        _form_fields(objs),
        _attachments(objs, streams),
        annots,
        _doc_info(data, objs),
    )


def _parse_content(
    content: str,
    xobj_refs: dict[str, str],
    font_maps: dict[str, tuple[bool, dict[int, str], WidthTab | None]]
    | None = None,
    forms: dict[str, tuple[Page, tuple]] | None = None,
    hidden_props: set[str] | None = None,
) -> Page:
    runs: list[Run] = []
    rules: list[Rule] = []
    images: list[Image] = []

    size = 10.0
    tz = 1.0  # Tz horizontal scaling (percent/100); TEXT STATE — it
    # persists across BT/ET like Tf size, unlike the per-object Tm
    tc = 0.0  # Tc character spacing (text-space units; §9.3.2)
    tw = 0.0  # Tw word spacing — spaces only (§9.3.3)
    leading = 12.0
    # full text matrix model (ISO 32000-1 §9.4.2): Tlm is the line
    # matrix, Tm the current text matrix; Td/TD/T* compose an
    # UNSCALED text-space translation through Tlm, so positions stay
    # right under scaled AND rotated matrices (the old |a|-scale-only
    # model mis-placed a Td following a scaled Tm and collapsed
    # rotated text to size 0)
    _IDENT = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
    tlm = _IDENT
    tm = _IDENT
    ctm = (1.0, 1.0, 0.0, 0.0)  # (a, d, e, f) — only scale+translate used
    stack: list[tuple[float, float, float, float]] = []
    nums: list[float] = []
    names: list[str] = []
    strings: list[str] = []
    tj_parts: list[tuple[bool, object]] = []  # (is_string, val) inside [...]
    in_array = False

    content = _INLINE_IMG_RE.sub(" ", content)
    font_maps = font_maps or {}
    cur_map: dict[int, str] | None = None
    cur_cid = False
    cur_w: WidthTab | None = None
    # optional-content suppression (§8.11.3): inside a hidden-OCG
    # ``/OC /name BDC … EMC`` bracket nothing is APPENDED, but text
    # state still advances (a visible show after the bracket lands
    # where the hidden glyphs would have ended)
    hidden = hidden_props or ()
    mc_depth = 0  # marked-content nesting (BMC/BDC vs EMC)
    sup_from = 0  # depth where suppression began; 0 = visible

    def decode(txt: str) -> str:
        # custom-encoded fonts: map raw codes through the current
        # font's /Differences + /ToUnicode table (identity for
        # unmapped codes / identity-encoded fonts).  Everything
        # downstream (advance width, line clustering) sees the
        # DECODED text — the spec'd rule (FIXTURES.md §1.1).
        # str.translate takes exactly our {ordinal: str} map and runs
        # at C speed (the per-char genexpr was 12% of kernel time).
        if cur_cid:
            # composite font: bytes pair into 2-byte codes (a dangling
            # odd byte is malformed and dropped), text comes from the
            # ToUnicode map with chr(code) as the deterministic default
            return "".join(
                cur_map.get(c, chr(c)) if cur_map else chr(c)
                for c in (
                    (ord(txt[i]) << 8) | ord(txt[i + 1])
                    for i in range(0, len(txt) - 1, 2)
                )
            )
        if cur_map:
            return txt.translate(cur_map)
        return txt

    def adv_units(raw: str) -> float:
        # text-space advance (pre-Tz) of a RAW code string under the
        # current font's /Widths//W metrics (§9.2.4/§9.7.4.3 +
        # §9.3.2-3): per-CODE glyph width + Tc per code; Tw applies
        # only to the single-byte code 32 — never inside a 2-byte CID
        # string (§9.3.3).  Only called when cur_w is not None.
        dflt, wt = cur_w
        if cur_cid:
            total = 0.0
            n = 0
            for i in range(0, len(raw) - 1, 2):
                total += wt.get((ord(raw[i]) << 8) | ord(raw[i + 1]), dflt)
                n += 1
            return total * size + tc * n
        total = 0.0
        for ch in raw:
            total += wt.get(ord(ch), dflt)
        return total * size + tc * len(raw) + tw * raw.count(" ")

    def emit(txt: str, tj_w: float | None = None) -> None:
        # ``tj_w``: precomputed text-space advance (Tz-scaled) for TJ
        # arrays, whose kern numbers displace the cursor per element;
        # the text then arrives PRE-DECODED (synthetic kern spaces
        # must not pass through the font map).
        nonlocal tm
        raw = txt
        if tj_w is None:
            txt = decode(txt)
        if txt:
            # effective glyph size = Tf size x |(a,b)| x Tz (real PDFs
            # often set Tf 1 and scale via the text matrix; the basis-
            # vector magnitude keeps the size right under rotation)
            a, b = tm[0], tm[1]
            mag = math.hypot(a, b)
            eff = size * mag * tz
            if abs(a) >= abs(b):
                q = 0 if a >= 0 else 2
            else:
                q = 1 if b > 0 else 3
            # advance along the baseline direction: text-space width
            # composed through the matrix (device displacement =
            # w·(a, b)).  Per ISO 32000-1 §9.3.2-3 each glyph adds Tc
            # and each space adds Tw, all scaled by Tz.  Fonts with
            # /Widths//W metrics advance per SOURCE CODE (a ToUnicode
            # ligature code advances one glyph); metrics-free fonts
            # keep the flat model over the DECODED text (r4 subset:
            # a code mapping to "ffi" advances 3 chars).
            if tj_w is not None:
                w = tj_w
            elif cur_w is not None:
                w = adv_units(raw) * tz
            else:
                w = (
                    (spec.CHAR_W_FACTOR * size + tc) * len(txt)
                    + tw * txt.count(" ")
                ) * tz
            if not sup_from:
                runs.append(Run(
                    x=tm[4], y=tm[5], size=eff, text=txt, rot=q,
                    adv=w * mag,
                ))
            tm = (a, b, tm[2], tm[3], tm[4] + w * a, tm[5] + w * b)

    # Dispatch on m.lastindex (the highest-numbered group that
    # matched) instead of unpacking all groups per token; branch
    # order = measured token frequency (fused runs collapse ~80% of
    # tokens, then ops, then numbers).
    for m in _TOK_RE.finditer(content):
        gi = m.lastindex
        if gi == 5:  # fused `BT /F sz Tf x y Td (s) Tj ET` run
            fname = m.group(1)
            names.append(fname)
            cur_cid, cur_map, cur_w = font_maps.get(
                fname, (False, None, None)
            )
            if in_array:
                # inside an unclosed TJ array (malformed stream) the
                # plain branches route the three numbers and the
                # string into tj_parts while the operators fire on
                # stacks BT just cleared — replay that exactly
                tlm = tm = _IDENT
                tj_parts.append((False, float(m.group(2))))
                tj_parts.append((False, float(m.group(3))))
                tj_parts.append((False, float(m.group(4))))
                tj_parts.append((True, _unescape(m.group(5))))
            else:
                size = float(m.group(2))
                tlm = tm = (
                    1.0, 0.0, 0.0, 1.0,
                    float(m.group(3)), float(m.group(4)),
                )
                emit(_unescape(m.group(5)))
            if nums:
                nums = []
            if strings:
                strings = []
        elif gi == 11:  # operator
            op = m.group(11)
            if op == "Td":
                if len(nums) >= 2:
                    tx, ty = nums[-2], nums[-1]
                    a, b_, c_, d, e, f = tlm
                    tlm = tm = (
                        a, b_, c_, d,
                        tx * a + ty * c_ + e, tx * b_ + ty * d + f,
                    )
            elif op == "Tj":
                if strings:
                    emit(strings[-1])
            elif op == "Tf":
                if nums:
                    size = nums[-1]
                if names:
                    cur_cid, cur_map, cur_w = font_maps.get(
                        names[-1], (False, None, None)
                    )
            elif op == "BT":
                tlm = tm = _IDENT
            elif op == "ET":
                pass
            elif op == "'":
                a, b_, c_, d, e, f = tlm
                tlm = tm = (
                    a, b_, c_, d, -leading * c_ + e, -leading * d + f
                )
                if strings:
                    emit(strings[-1])
            elif op == "TD":
                if len(nums) >= 2:
                    tx, ty = nums[-2], nums[-1]
                    leading = -ty
                    a, b_, c_, d, e, f = tlm
                    tlm = tm = (
                        a, b_, c_, d,
                        tx * a + ty * c_ + e, tx * b_ + ty * d + f,
                    )
            elif op == "TL":
                if nums:
                    leading = nums[-1]
            elif op == "Tz":
                if nums:
                    tz = abs(nums[-1]) / 100.0
            elif op == "Tc":
                if nums:
                    tc = nums[-1]
            elif op == "Tw":
                if nums:
                    tw = nums[-1]
            elif op == '"':
                # aw ac (s) "  ==  aw Tw  ac Tc  (s) '  (§9.4.3)
                if len(nums) >= 2:
                    tw, tc = nums[-2], nums[-1]
                a, b_, c_, d, e, f = tlm
                tlm = tm = (
                    a, b_, c_, d, -leading * c_ + e, -leading * d + f
                )
                if strings:
                    emit(strings[-1])
            elif op == "Tm":
                if len(nums) >= 6:
                    tlm = tm = tuple(nums[-6:])
            elif op == "T*":
                a, b_, c_, d, e, f = tlm
                tlm = tm = (
                    a, b_, c_, d, -leading * c_ + e, -leading * d + f
                )
            elif op == "TJ":
                # element-wise advance (§9.4.3): each shown string
                # adds its glyph widths (+Tc, +Tw per space), each
                # kern number v adds -v/1000 x Tfs; a kern beyond
                # TJ_SPACE_THRESH ALSO renders as a synthetic space
                # in the text (inter-word kerning), which carries no
                # glyph width of its own — the kern IS its width.
                buf: list[str] = []
                tj_w = 0.0
                for is_str, val in tj_parts:
                    if is_str:
                        s = decode(str(val))
                        buf.append(s)
                        if cur_w is not None:
                            tj_w += adv_units(str(val))
                        else:
                            tj_w += (
                                spec.CHAR_W_FACTOR * size + tc
                            ) * len(s) + tw * s.count(" ")
                    else:
                        v = float(val)
                        tj_w -= v / 1000.0 * size
                        if v <= spec.TJ_SPACE_THRESH:
                            buf.append(" ")
                emit("".join(buf), tj_w=tj_w * tz)
                tj_parts = []
            elif op == "re":
                if len(nums) >= 4 and not sup_from:
                    rx, ry, rw, rh = nums[-4:]
                    if abs(rh) <= spec.RULE_EPS and rw > spec.RULE_EPS:
                        rules.append(Rule(horiz=True, x=rx, y=ry, length=rw))
                    elif abs(rw) <= spec.RULE_EPS and rh > spec.RULE_EPS:
                        rules.append(Rule(horiz=False, x=rx, y=ry, length=rh))
            elif op == "cm":
                if len(nums) >= 6:
                    a, b_, c_, d, e, f = nums[-6:]
                    ctm = (a, d, e, f)
            elif op == "q":
                stack.append(ctm)
            elif op == "Q":
                ctm = stack.pop() if stack else (1.0, 1.0, 0.0, 0.0)
            elif op == "BDC" or op == "BMC":
                mc_depth += 1
                if (
                    op == "BDC" and not sup_from and names
                    and names[-1] in hidden
                ):
                    sup_from = mc_depth
            elif op == "EMC":
                if sup_from == mc_depth:
                    sup_from = 0
                if mc_depth:
                    mc_depth -= 1
            elif op == "Do":
                if names and not sup_from:
                    frag = forms.get(names[-1]) if forms else None
                    if frag is not None:
                        # Form XObject instantiation: splice the pre-
                        # parsed fragment in content order at the Do
                        # point, transformed by CTM ∘ /Matrix
                        _place_fragment(
                            frag[0], frag[1], ctm, runs, rules, images
                        )
                    else:
                        ref = xobj_refs.get(names[-1])
                        if ref:
                            images.append(
                                Image(
                                    x=ctm[2], y=ctm[3],
                                    w=ctm[0], h=ctm[1],
                                    media_ref=ref,
                                )
                            )
            # S, f, W, n etc. need no action beyond operand reset.
            # Operand stacks reset after every operator (q/Q preserve
            # the pending numbers; Do consumes its name).  The `if`
            # guards skip the list re-allocation when already empty.
            if nums and op not in ("q", "Q"):
                nums = []
            if strings:
                strings = []
            if op == "Do" and names:
                names = []
        elif gi == 10:  # number
            v = float(m.group(10))
            if in_array:
                tj_parts.append((False, v))
            else:
                nums.append(v)
        elif gi == 6:  # literal string
            s = _unescape(m.group(6))
            if in_array:
                tj_parts.append((True, s))
            else:
                strings.append(s)
        elif gi == 9:  # /Name
            names.append(m.group(9)[1:])
        elif gi == 7:  # TJ array opens
            in_array = True
            tj_parts = []
        elif gi == 8:  # TJ array closes
            in_array = False
        else:  # gi == 12: hex string
            s = _hex_to_str(m.group(12))
            if in_array:
                tj_parts.append((True, s))
            else:
                strings.append(s)

    return Page(runs=runs, rules=rules, images=images)
