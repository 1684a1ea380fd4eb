"""Pure single-document oracle — deliberately slow, obviously correct,
code-disjoint from the engine (shares only the *spec*: the constants in
``accountant_pdf_extract_spark/spec.py`` and the regex rule strings in
``functions/rules.py``, both of which ARE the specification the golden
fixtures pin).

Implements the same semantics as ``operators/doccore.extract_doc`` in a
straight-line procedural style with no numpy and no shared helper code.
Used to generate ``tests/fixtures/golden_spans.parquet`` /
``golden_fields.parquet`` and by the property tests.
"""

from __future__ import annotations

import datetime as dt
import math
import re
from decimal import Decimal

from accountant_pdf_extract_spark import spec
from accountant_pdf_extract_spark.functions import rules

# --------------------------------------------------------------------------
# PDF-subset reading (independent implementation)
# --------------------------------------------------------------------------


def _pdf_objects(raw: str) -> dict[int, str]:
    objs = {}
    pos = 0
    while True:
        m = re.compile(r"(\d+)\s+0\s+obj\b", re.S).search(raw, pos)
        if not m:
            break
        end = raw.find("endobj", m.end())
        if end < 0:
            break
        objs[int(m.group(1))] = raw[m.end() : end]
        pos = end + 6
    return objs


def _lzw(data: str) -> str:
    """Independent PDF LZWDecode (EarlyChange=1) in the latin-1 string
    domain: dict-based table, bit cursor over the byte string.  Raises
    ValueError on malformed input (pdf_spans degrades to '')."""
    nbytes = len(data)
    bitpos = 0

    def read(width: int) -> int:
        nonlocal bitpos
        if bitpos + width > nbytes * 8:
            raise ValueError("lzw truncated")
        v = 0
        for _ in range(width):
            byte = ord(data[bitpos // 8])
            v = (v << 1) | ((byte >> (7 - bitpos % 8)) & 1)
            bitpos += 1
        return v

    table: dict[int, str] = {i: chr(i) for i in range(256)}
    nxt = 258
    width = 9
    prev: str | None = None
    out: list[str] = []
    while True:
        code = read(width)
        if code == 256:
            table = {i: chr(i) for i in range(256)}
            nxt = 258
            width = 9
            prev = None
            continue
        if code == 257:
            return "".join(out)
        if prev is None:
            if code not in table:
                raise ValueError("lzw bad first code")
            seq = table[code]
        elif code in table or code < 256:
            seq = table[code]
            table[nxt] = prev + seq[0]
            nxt += 1
        elif code == nxt:
            seq = prev + prev[0]
            table[nxt] = seq
            nxt += 1
        else:
            raise ValueError("lzw code beyond table")
        if nxt == (1 << width) - 2 and width < 12:
            width += 1
        out.append(seq)
        prev = seq


def _unpredict(s: str, parms: str) -> str:
    """Independent /DecodeParms predictor reversal in the latin-1
    string plane: 2 = TIFF horizontal differencing, 10-15 = PNG row
    filters (per-row filter byte selects None/Sub/Up/Average/Paeth
    regardless of the declared number).  ValueError on malformed data
    (caller degrades to an empty stream)."""

    def intkey(k: str, default: int) -> int:
        m = re.search(r"/" + k + r"\s+(\d+)", parms)
        return int(m.group(1)) if m else default

    pred = intkey("Predictor", 1)
    if pred <= 1:
        return s
    columns = intkey("Columns", 1)
    colors = intkey("Colors", 1)
    bpc = intkey("BitsPerComponent", 8)
    if columns < 1 or colors < 1 or bpc < 1:
        raise ValueError("bad predictor parameters")
    bpp = max(1, (colors * bpc + 7) // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    data = bytearray(s.encode("latin-1"))
    if pred == 2:
        if bpc != 8:
            raise ValueError("tiff predictor needs 8-bit components")
        for r0 in range(0, len(data), rowlen):
            for j in range(r0 + bpp, min(r0 + rowlen, len(data))):
                data[j] = (data[j] + data[j - bpp]) & 0xFF
        return bytes(data).decode("latin-1")
    if not 10 <= pred <= 15:
        raise ValueError("unknown predictor")
    out = bytearray()
    prev = bytearray(rowlen)
    i = 0
    while i < len(data):
        ft = data[i]
        i += 1
        row = bytearray(data[i : i + rowlen])
        i += len(row)
        for j in range(len(row)):
            a = row[j - bpp] if j >= bpp else 0
            b = prev[j]
            c = prev[j - bpp] if j >= bpp else 0
            if ft == 0:
                pr = 0
            elif ft == 1:
                pr = a
            elif ft == 2:
                pr = b
            elif ft == 3:
                pr = (a + b) // 2
            elif ft == 4:
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
            else:
                raise ValueError("bad png filter byte")
            row[j] = (row[j] + pr) & 0xFF
        out += row
        prev = row + bytearray(rowlen - len(row))
    return bytes(out).decode("latin-1")


def png_filter_rows(data: bytes, rowlen: int, bpp: int, ft: int) -> bytes:
    """Independent PNG row-filter ENCODER (PNG §9.2), the inverse the
    predictor reversals are checked against: every ``rowlen``-byte row
    of ``data`` filtered with ``ft`` (0 None, 1 Sub, 2 Up, 3 Average,
    4 Paeth) behind its filter byte."""
    out = bytearray()
    prev = bytes(rowlen)
    for r0 in range(0, len(data), rowlen):
        row = data[r0 : r0 + rowlen]
        out.append(ft)
        for j, x in enumerate(row):
            a = row[j - bpp] if j >= bpp else 0
            b = prev[j]
            c = prev[j - bpp] if j >= bpp else 0
            p = a + b - c
            pr = (
                0, a, b, (a + b) // 2,
                # nearest of a, b, c to p; ties prefer a, then b
                min((abs(p - a), 0, a), (abs(p - b), 1, b), (abs(p - c), 2, c))[2],
            )[ft]
            out.append((x - pr) & 0xFF)
        prev = row
    return bytes(out)


def _asciihex(s: str) -> str:
    """Independent ASCIIHexDecode in the latin-1 string plane."""
    end = s.find(">")
    h = re.sub(r"\s", "", s if end < 0 else s[:end])
    if re.search(r"[^0-9A-Fa-f]", h):
        raise ValueError("bad hex char")
    if len(h) % 2:
        h += "0"
    return "".join(
        chr(int(h[i : i + 2], 16)) for i in range(0, len(h), 2)
    )


def _ascii85(s: str) -> str:
    """Independent ASCII85Decode (digit-accumulator form, latin-1
    string plane)."""
    end = s.find("~>")
    if end >= 0:
        s = s[:end]
    out = []
    digits: list[int] = []

    def flush(nd: int) -> None:
        v = 0
        for k in range(5):
            v = v * 85 + (digits[k] if k < nd else 84)
        if v > 0xFFFFFFFF:
            raise ValueError("group overflow")
        four = [
            (v >> 24) & 0xFF, (v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF
        ]
        out.extend(chr(b) for b in four[: nd - 1 if nd < 5 else 4])

    for ch in s:
        if ch in " \t\r\n\f\x00":
            continue
        if ch == "z":
            if digits:
                raise ValueError("z inside group")
            out.append("\x00\x00\x00\x00")
            continue
        o = ord(ch)
        if not 33 <= o <= 117:
            raise ValueError("char out of range")
        digits.append(o - 33)
        if len(digits) == 5:
            flush(5)
            digits = []
    if digits:
        if len(digits) == 1:
            raise ValueError("single trailing char")
        flush(len(digits))
    return "".join(out)


def _rle(s: str) -> str:
    """Independent RunLengthDecode (latin-1 string plane)."""
    out = []
    i = 0
    while i < len(s):
        ell = ord(s[i])
        i += 1
        if ell == 128:
            return "".join(out)
        if ell < 128:
            if i + ell + 1 > len(s):
                raise ValueError("truncated literal")
            out.append(s[i : i + ell + 1])
            i += ell + 1
        else:
            if i >= len(s):
                raise ValueError("truncated repeat")
            out.append(s[i] * (257 - ell))
            i += 1
    raise ValueError("no EOD")


def _decode_stream_oracle(s: str, dict_part: str) -> str:
    """The stream dict's /Filter chain with aligned /DecodeParms; any
    malformed stage degrades the whole stream to "" (engine mirrors:
    operators/pdfparse._decode_stream)."""
    import zlib

    fm = re.search(r"/Filter\s*(\[[^\]]*\]|/[A-Za-z0-9]+)", dict_part)
    if not fm:
        return s
    names = re.findall(r"/([A-Za-z0-9]+)", fm.group(1))
    parms: list[str | None] = [None] * len(names)
    dm = re.search(
        r"/(?:DecodeParms|DP)\s*(\[.*?\]|<<.*?>>)", dict_part, re.S
    )
    if dm:
        items = [
            m.group(1)
            for m in re.finditer(r"<<(.*?)>>|null", dm.group(1), re.S)
        ]
        for i in range(min(len(items), len(names))):
            parms[i] = items[i]
    try:
        for name, parm in zip(names, parms):
            if name == "FlateDecode":
                s = zlib.decompress(s.encode("latin-1")).decode("latin-1")
            elif name == "LZWDecode":
                s = _lzw(s)
            elif name == "ASCIIHexDecode":
                s = _asciihex(s)
            elif name == "ASCII85Decode":
                s = _ascii85(s)
            elif name == "RunLengthDecode":
                s = _rle(s)
            else:
                raise ValueError("unknown filter " + name)
            if parm is not None and name in ("FlateDecode", "LZWDecode"):
                s = _unpredict(s, parm)
    except (ValueError, zlib.error):
        return ""
    return s


def _rc4(key: bytes, data: bytes) -> bytes:
    """Independent RC4 (KSA + PRGA written from the cipher definition,
    not shared with the engine's functions/pdfcrypt.py)."""
    state = bytearray(range(256))
    j = 0
    for i in range(256):
        j = (j + state[i] + key[i % len(key)]) % 256
        state[i], state[j] = state[j], state[i]
    res = bytearray()
    x = y = 0
    for b in data:
        x = (x + 1) % 256
        y = (y + state[x]) % 256
        state[x], state[y] = state[y], state[x]
        res.append(b ^ state[(state[x] + state[y]) % 256])
    return bytes(res)


# ---------------------------------------------------------------- AES twin
# Independent AES (FIPS 197) written in the textbook state-matrix
# style: bitwise GF(2^8) multiply, S-box found by brute-force inverse
# search, explicit SubBytes/ShiftRows/MixColumns steps, and the plain
# inverse cipher (InvShiftRows->InvSubBytes->AddRoundKey->InvMixCols)
# — deliberately NOT the engine's log/exp-table + fused-T-table +
# equivalent-inverse-schedule structure (functions/aes.py).  Shares
# only spec.PDF_PAD / spec.PDF_AES_SALT, like the RC4 twin above.


def _gfm(a: int, b: int) -> int:
    r = 0
    while b:
        if b & 1:
            r ^= a
        a <<= 1
        if a & 0x100:
            a ^= 0x11B
        b >>= 1
    return r


def _make_sbox() -> tuple[list[int], list[int]]:
    sbox = [0x63] * 256  # affine of inverse(0)=0 is 0x63
    for a in range(1, 256):
        inv = next(b for b in range(1, 256) if _gfm(a, b) == 1)
        v = 0x63
        for sh in range(5):
            v ^= ((inv << sh) | (inv >> (8 - sh))) & 0xFF
        sbox[a] = v
    invbox = [0] * 256
    for i, s in enumerate(sbox):
        invbox[s] = i
    return sbox, invbox


_SBOX, _INV_SBOX = _make_sbox()


def _aes_round_keys(key: bytes) -> list[list[int]]:
    nk = len(key) // 4
    nr = nk + 6
    w = [list(key[4 * i : 4 * i + 4]) for i in range(nk)]
    rcons = [1]
    while len(rcons) < 14:
        rcons.append(_gfm(rcons[-1], 2))
    for i in range(nk, 4 * (nr + 1)):
        t = list(w[i - 1])
        if i % nk == 0:
            t = [_SBOX[x] for x in t[1:] + t[:1]]
            t[0] ^= rcons[i // nk - 1]
        elif nk == 8 and i % nk == 4:
            t = [_SBOX[x] for x in t]
        w.append([a ^ b for a, b in zip(w[i - nk], t)])
    return [
        sum((w[4 * r + c] for c in range(4)), []) for r in range(nr + 1)
    ]


def _shift_rows(s: list[int], inv: bool = False) -> list[int]:
    out = [0] * 16
    for r in range(4):
        for c in range(4):
            src = (c - r) % 4 if inv else (c + r) % 4
            out[r + 4 * c] = s[r + 4 * src]
    return out


def _mix_cols(s: list[int], inv: bool = False) -> list[int]:
    mat = (14, 11, 13, 9) if inv else (2, 3, 1, 1)
    out = [0] * 16
    for c in range(4):
        col = s[4 * c : 4 * c + 4]
        for r in range(4):
            out[4 * c + r] = (
                _gfm(col[0], mat[(0 - r) % 4])
                ^ _gfm(col[1], mat[(1 - r) % 4])
                ^ _gfm(col[2], mat[(2 - r) % 4])
                ^ _gfm(col[3], mat[(3 - r) % 4])
            )
    return out


def _aes_enc_block(rks: list[list[int]], blk: bytes) -> bytes:
    s = [a ^ b for a, b in zip(blk, rks[0])]
    for rk in rks[1:-1]:
        s = _mix_cols(_shift_rows([_SBOX[x] for x in s]))
        s = [a ^ b for a, b in zip(s, rk)]
    s = _shift_rows([_SBOX[x] for x in s])
    return bytes(a ^ b for a, b in zip(s, rks[-1]))


def _aes_dec_block(rks: list[list[int]], blk: bytes) -> bytes:
    s = [a ^ b for a, b in zip(blk, rks[-1])]
    for rk in reversed(rks[1:-1]):
        s = [_INV_SBOX[x] for x in _shift_rows(s, inv=True)]
        s = _mix_cols([a ^ b for a, b in zip(s, rk)], inv=True)
    s = [_INV_SBOX[x] for x in _shift_rows(s, inv=True)]
    return bytes(a ^ b for a, b in zip(s, rks[0]))


def _aes_cbc_dec(key: bytes, data: bytes) -> bytes:
    """PDF value framing: 16-byte IV || CBC ciphertext, PKCS#7 pad.
    Raises ValueError on malformed framing/pad (caller degrades)."""
    if len(data) < 32 or len(data) % 16:
        raise ValueError("bad AES value framing")
    rks = _aes_round_keys(key)
    iv, ct = data[:16], data[16:]
    out = bytearray()
    prev = iv
    for i in range(0, len(ct), 16):
        blk = ct[i : i + 16]
        out += bytes(a ^ b for a, b in zip(_aes_dec_block(rks, blk), prev))
        prev = blk
    pad = out[-1]
    if not 1 <= pad <= 16 or out[-pad:] != bytes([pad]) * pad:
        raise ValueError("bad AES pad")
    return bytes(out[:-pad])


def _aes_cbc_enc_raw(key: bytes, iv: bytes, data: bytes) -> bytes:
    """No-pad CBC encrypt (exact multiple of 16) — the R6 KDF shape."""
    rks = _aes_round_keys(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        prev = _aes_enc_block(
            rks, bytes(a ^ b for a, b in zip(data[i : i + 16], prev))
        )
        out += prev
    return bytes(out)


def _hash_2b(pw: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B (independent of the engine's
    pdfcrypt.hash_2b): SHA-256 seed, then AES-128-CBC rounds over 64
    reps of (pw+K+udata), digest picked by first-16-bytes mod 3,
    until round >= 64 and last ciphertext byte <= round - 32."""
    import hashlib

    k = hashlib.sha256(pw + salt + udata).digest()
    rounds = 0
    while True:
        rounds += 1
        e = _aes_cbc_enc_raw(k[:16], k[16:32], (pw + k + udata) * 64)
        k = [hashlib.sha256, hashlib.sha384, hashlib.sha512][
            sum(e[:16]) % 3
        ](e).digest()
        if rounds >= 64 and e[-1] <= rounds - 32:
            return k[:32]


def _obj_key_aes(fkey: bytes, num: int) -> bytes:
    import hashlib

    h = hashlib.md5(
        fkey
        + num.to_bytes(3, "little")
        + b"\x00\x00"
        + spec.PDF_AES_SALT
    ).digest()
    return h[: min(len(fkey) + 5, 16)]


def _std_sec_key(payload: str, enc_num: int):
    """(file key, cipher) for the empty user password — cipher is
    "rc4", "aesv2" or "aesv3" — or None (unreadable: wrong pw /
    unknown V/R/CFM / malformed / failed /Perms check).  Independent
    implementation of ISO 32000-1 §7.6.3 Algorithms 2/3/4/5/6 and
    ISO 32000-2 Algorithms 2.A/2.B/8/10; only spec.PDF_PAD and
    spec.PDF_AES_SALT are shared with the engine."""
    import hashlib

    bm = re.search(
        r"(?<![0-9])%d\s+0\s+obj\b(.*?)endobj" % enc_num, payload, re.S
    )
    if not bm or "/Standard" not in bm.group(1):
        return None
    ed = bm.group(1)
    # Key lookups must see only the TOP-LEVEL encrypt dict: a crypt
    # filter sub-dict (/CF << /StdCF << /Length 16 >> >>) precedes the
    # top-level /Length when keys are alphabetical, and its 16 is
    # BYTES, not bits.  Walk the body keeping depth<=1 text (the
    # encrypt dict's own << >> is depth 1); strings copy atomically.
    out, depth, i, n = [], 0, 0, len(ed)
    while i < n:
        if ed.startswith("<<", i):
            depth += 1
            i += 2
            continue
        if ed.startswith(">>", i):
            depth = max(0, depth - 1)
            i += 2
            continue
        c = ed[i]
        if c == "(":
            j, nest = i + 1, 1
            while j < n and nest:
                if ed[j] == "\\":
                    j += 2
                    continue
                if ed[j] == "(":
                    nest += 1
                elif ed[j] == ")":
                    nest -= 1
                j += 1
            if depth <= 1:
                out.append(ed[i:j])
            i = j
            continue
        if c == "<":
            j = ed.find(">", i + 1)
            j = n if j < 0 else j + 1
            if depth <= 1:
                out.append(ed[i:j])
            i = j
            continue
        if depth <= 1:
            out.append(c)
        i += 1
    edt = "".join(out)

    def ik(k, d):
        m = re.search(r"/%s\s+(-?\d+)" % k, edt)
        return int(m.group(1)) if m else d

    v, r, p, bits = ik("V", 0), ik("R", 2), ik("P", -44), ik("Length", 40)

    def strval_of(key):
        m = re.search(
            r"/%s\s*(?:<([0-9A-Fa-f\s]*)>|\(((?:[^()\\]|\\[\s\S])*)\))"
            % key, edt, re.S,
        )
        if not m:
            return None
        if m.group(1) is not None:
            h = re.sub(r"\s", "", m.group(1))
            if len(h) % 2:
                h += "0"
            return bytes.fromhex(h)
        return _unesc(m.group(2)).encode("latin-1")

    if v == 5:
        # ---- AES-256, /CFM /AESV3, R6 (ISO 32000-2) ----------------
        if r != 6 or "/AESV3" not in ed:
            return None
        u_val, ue_val = strval_of("U"), strval_of("UE")
        perms = strval_of("Perms")
        if (
            u_val is None or ue_val is None or perms is None
            or len(u_val) < 48 or len(ue_val) < 32 or len(perms) < 16
        ):
            return None
        vsalt, ksalt = u_val[32:40], u_val[40:48]
        if _hash_2b(b"", vsalt) != u_val[:32]:
            return None  # empty user password does not open the file
        ikey = _hash_2b(b"", ksalt)
        # /UE is AES-256-CBC, zero IV, no padding: invert block-wise
        rks = _aes_round_keys(ikey)
        prev = bytes(16)
        fkey = b""
        for i in (0, 16):
            blk = ue_val[i : i + 16]
            fkey += bytes(
                a ^ b for a, b in zip(_aes_dec_block(rks, blk), prev)
            )
            prev = blk
        # Algorithm 10 tamper check: /Perms decrypts (zero-IV single
        # block) to ... 'adb' at bytes 9..11
        pblk = _aes_dec_block(_aes_round_keys(fkey), perms[:16])
        if pblk[9:12] != b"adb":
            return None
        return fkey, "aesv3"

    if v == 4:
        # ---- V4 crypt filters: /AESV2 or /CFM /V2 (RC4) ------------
        if r != 4 or not 40 <= bits <= 128:
            return None
        if "/AESV2" in ed:
            cipher = "aesv2"
        elif re.search(r"/CFM\s*/V2\b", ed):
            cipher = "rc4"
        else:
            return None
    elif v in (1, 2) and r in (2, 3) and 40 <= bits <= 128:
        cipher = "rc4"
    else:
        return None

    o_val, u_val = strval_of("O"), strval_of("U")
    if o_val is None or u_val is None or len(o_val) < 32 or len(u_val) < 16:
        return None
    idm = re.search(r"/ID\s*\[\s*<([0-9A-Fa-f]*)>", payload)
    id0 = b""
    if idm and len(idm.group(1)) % 2 == 0:
        id0 = bytes.fromhex(idm.group(1))
    n = max(5, min(16, bits // 8))
    h = hashlib.md5()
    h.update((spec.PDF_PAD)[:32])  # empty user password = the pad
    h.update(o_val[:32])
    h.update((p & 0xFFFFFFFF).to_bytes(4, "little"))
    h.update(id0)
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    key = key[:n]
    # Algorithm 6: verify the empty user password against /U
    if r == 2:
        ok = _rc4(key, spec.PDF_PAD) == u_val[:32]
    else:
        u = _rc4(key, hashlib.md5(spec.PDF_PAD + id0).digest())
        for i in range(1, 20):
            u = _rc4(bytes(b ^ i for b in key), u)
        ok = u[:16] == u_val[:16]
    return (key, cipher) if ok else None


def _obj_key(fkey: bytes, num: int) -> bytes:
    import hashlib

    h = hashlib.md5(
        fkey + num.to_bytes(3, "little") + b"\x00\x00"
    ).digest()
    return h[: min(len(fkey) + 5, 16)]


def _esc_lit(b: bytes) -> str:
    out = []
    for c in b:
        if c in (0x28, 0x29, 0x5C):
            out.append("\\" + chr(c))
        elif c == 0x0D:
            out.append("\\015")
        elif c == 0x0A:
            out.append("\\012")
        else:
            out.append(chr(c))
    return "".join(out)


def _decrypt_obj_strings(part: str, dec) -> str:
    # one combined literal+hex pass (a decrypted literal could contain
    # <hex>-looking text; mirrors the engine's single-pass rule).  A
    # value the cipher rejects (AES framing/pad) degrades to ().
    def repl(m):
        if m.group(1) is not None:
            val = _unesc(m.group(1)).encode("latin-1")
        else:
            h = re.sub(r"\s", "", m.group(2))
            if not h:
                return m.group(0)
            if len(h) % 2:
                h += "0"
            val = bytes.fromhex(h)
        try:
            return "(" + _esc_lit(dec(val)) + ")"
        except ValueError:
            return "()"

    return re.sub(
        r"\(((?:[^()\\]|\\[\s\S])*)\)|<([0-9A-Fa-f\s]*)>", repl, part,
        flags=re.S,
    )


def _expand_pdf15(objs: dict[int, str], streams: dict[int, str]) -> None:
    """PDF 1.5 structures, string domain (latin-1: 1 char == 1 byte).

    Object streams: embedded objects have no 'N 0 obj' headers, so the
    scan missed them — the ObjStm header's (objnum, offset) pairs are
    the directory.  First-wins against top-level objects.  Then xref
    streams: type-2 binary entries recover any objnum the ObjStm
    headers did not establish.  Mirrors engine semantics exactly
    (processing order: ascending stream-object number)."""
    tables: dict[int, list[tuple[int, str]]] = {}
    for num in sorted(objs):
        body = objs[num]
        sm = re.search(r"stream\r?\n", body)
        if not sm or "/Type /ObjStm" not in body[: sm.start()]:
            continue
        head = body[: sm.start()]
        nm = re.search(r"/N\s+(\d+)", head)
        fm = re.search(r"/First\s+(\d+)", head)
        payload = streams.get(num, "")
        if not (nm and fm):
            continue
        n, first = int(nm.group(1)), int(fm.group(1))
        pairs = re.findall(r"(\d+)\s+(\d+)", payload[:first])[:n]
        entries: list[tuple[int, str]] = []
        for i, (onum, off) in enumerate(pairs):
            start = first + int(off)
            end = first + int(pairs[i + 1][1]) if i + 1 < len(pairs) else len(payload)
            if start > len(payload):
                continue
            entries.append((int(onum), payload[start:end].strip()))
        tables[num] = entries
        for onum, ob in entries:
            if onum not in objs:
                objs[onum] = ob

    for num in sorted(objs):
        body = objs[num]
        sm = re.search(r"stream\r?\n", body)
        if not sm or "/Type /XRef" not in body[: sm.start()]:
            continue
        head = body[: sm.start()]
        wm = re.search(r"/W\s*\[([^\]]*)\]", head)
        szm = re.search(r"/Size\s+(\d+)", head)
        if not (wm and szm):
            continue
        try:
            w = [int(x) for x in wm.group(1).split()]
        except ValueError:
            continue
        if len(w) != 3 or any(x < 0 or x > 8 for x in w) or sum(w) == 0:
            continue
        size = int(szm.group(1))
        im = re.search(r"/Index\s*\[([^\]]*)\]", head)
        if im:
            ns = [int(x) for x in re.findall(r"\d+", im.group(1))]
            ranges = list(zip(ns[0::2], ns[1::2]))
        else:
            ranges = [(0, size)]
        payload = streams.get(num, "")
        entry_len = sum(w)
        pos = 0
        for start, count in ranges:
            for objnum in range(start, start + count):
                row = payload[pos : pos + entry_len]
                pos += entry_len
                if len(row) < entry_len:
                    break
                vals = []
                o = 0
                for width in w:
                    v = 0
                    for ch in row[o : o + width]:
                        v = v * 256 + ord(ch)
                    vals.append(v)
                    o += width
                t = vals[0] if w[0] else 1
                if t == 2 and objnum not in objs:
                    ents = tables.get(vals[1])
                    if ents is not None and vals[2] < len(ents):
                        objs[objnum] = ents[vals[2]][1]


def _hex_utf16(h: str) -> str:
    """CMap dst hex → text (odd length pads '0'; per-char degrade)."""
    if len(h) % 2:
        h += "0"
    try:
        b = bytes.fromhex(h)
    except ValueError:
        return ""
    return b.decode("utf-16-be", errors="replace")


def _balanced_array(body: str, key: str) -> str | None:
    """Bracket-balanced array contents after ``key`` (/W arrays nest)."""
    i = body.find(key)
    if i < 0:
        return None
    i += len(key)
    n = len(body)
    while i < n and body[i].isspace():
        i += 1
    if i >= n or body[i] != "[":
        return None
    depth = 0
    start = i + 1
    for j in range(i, n):
        if body[j] == "[":
            depth += 1
        elif body[j] == "]":
            depth -= 1
            if depth == 0:
                return body[start:j]
    return None


def _font_widths(
    fbody: str, objs: dict[int, str], is_cid: bool
) -> tuple[float, dict[int, float]] | None:
    """Independent twin of the engine's per-glyph width-table parse
    (ISO 32000-1 §9.2.4 simple /FirstChar+/Widths+/MissingWidth;
    §9.7.4.3 CID /DW + both /W forms).  None = no metrics declared
    (flat CHAR_W_FACTOR model)."""
    if is_cid:
        dm = re.search(
            r"/DescendantFonts\s*(?:\[\s*(\d+)\s+0\s+R\s*\]|(\d+)\s+0\s+R)",
            fbody,
        )
        if not dm:
            return None
        desc = objs.get(int(dm.group(1) or dm.group(2)), "")
        dwm = re.search(r"/DW\s+([-+]?\d*\.?\d+)", desc)
        arr = _balanced_array(desc, "/W")
        if dwm is None and arr is None:
            return None
        default = (
            float(dwm.group(1)) if dwm else float(spec.CID_DW_MILLI)
        ) / 1000.0
        table: dict[int, float] = {}
        toks = re.findall(r"[\[\]]|[-+]?\d*\.?\d+", arr or "")
        i = 0
        while i < len(toks):
            if toks[i] in "[]":
                i += 1
                continue
            c = int(float(toks[i]))
            if i + 1 < len(toks) and toks[i + 1] == "[":
                j = i + 2
                code = c
                while j < len(toks) and toks[j] != "]":
                    table[code] = float(toks[j]) / 1000.0
                    code += 1
                    j += 1
                i = j + 1
            elif (
                i + 2 < len(toks)
                and toks[i + 1] not in "[]"
                and toks[i + 2] not in "[]"
            ):
                c2 = int(float(toks[i + 1]))
                wv = float(toks[i + 2]) / 1000.0
                for code in range(c, min(c2, c + 0xFFFF) + 1):
                    table[code] = wv
                i += 3
            else:
                break
        return default, table
    wm = re.search(r"/Widths\s*(?:\[([^\]]*)\]|(\d+)\s+0\s+R)", fbody)
    if wm is None:
        return None
    if wm.group(2) is not None:
        ref = objs.get(int(wm.group(2)), "")
        lb, rb = ref.find("["), ref.rfind("]")
        arr_s = ref[lb + 1 : rb] if 0 <= lb < rb else ref
    else:
        arr_s = wm.group(1)
    fcm = re.search(r"/FirstChar\s+(\d+)", fbody)
    first = int(fcm.group(1)) if fcm else 0
    default = float(spec.MISSING_W_MILLI) / 1000.0
    dscm = re.search(r"/FontDescriptor\s+(\d+)\s+0\s+R", fbody)
    if dscm:
        mwm = re.search(
            r"/MissingWidth\s+([-+]?\d*\.?\d+)",
            objs.get(int(dscm.group(1)), ""),
        )
        if mwm:
            default = float(mwm.group(1)) / 1000.0
    table = {
        first + k: float(tok) / 1000.0
        for k, tok in enumerate(re.findall(r"[-+]?\d*\.?\d+", arr_s))
    }
    return default, table


def _font_tables(
    page_body: str, objs: dict[int, str], streams: dict[int, str]
) -> dict[str, tuple[bool, dict[int, str], object]]:
    """Per-page font-resource decode tables: code → decoded string.
    /ToUnicode bfchar wins over bfrange wins over /Differences glyph
    names (same precedence as the engine); unmapped codes = identity.
    Third element: the per-glyph width table (or None)."""
    maps: dict[str, tuple[bool, dict[int, str], object]] = {}
    fm = re.search(r"/Font\s*<<(.*?)>>", page_body, re.S)
    if not fm:
        return maps
    for name, ref in re.findall(r"/(F\d+)\s+(\d+)\s+0\s+R", fm.group(1)):
        fbody = objs.get(int(ref), "")
        table: dict[int, str] = {}
        is_cid = "/Identity-H" in fbody or "/Subtype /Type0" in fbody
        wtab = _font_widths(fbody, objs, is_cid)
        enc_src = fbody
        em = re.search(r"/Encoding\s+(\d+)\s+0\s+R", fbody)
        if em:
            enc_src = fbody + "\n" + objs.get(int(em.group(1)), "")
        if not is_cid and "/WinAnsiEncoding" in enc_src:
            table.update(spec.WINANSI_HIGH)
        dm = re.search(r"/Differences\s*\[([^\]]*)\]", enc_src)
        if dm:
            code = 0
            for tok in re.finditer(r"(\d+)|/([A-Za-z0-9.]+)", dm.group(1)):
                if tok.group(1):
                    code = int(tok.group(1))
                else:
                    g = spec.GLYPH_UNICODE.get(tok.group(2))
                    if g is not None:
                        table[code] = g
                    code += 1
        tm = re.search(r"/ToUnicode\s+(\d+)\s+0\s+R", fbody)
        if tm:
            cmap = streams.get(int(tm.group(1)), "")
            for rm in re.finditer(r"beginbfrange(.*?)endbfrange", cmap, re.S):
                for lo, hi, dst in re.findall(
                    r"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]*)>",
                    rm.group(1),
                ):
                    lo_i, hi_i = int(lo, 16), int(hi, 16)
                    d = _hex_utf16(dst)
                    if not d:
                        continue
                    for i in range(
                        min(hi_i - lo_i + 1, spec.BFRANGE_MAX_SPAN)
                    ):
                        table[lo_i + i] = d[:-1] + chr(ord(d[-1]) + i)
            for cm_ in re.finditer(r"beginbfchar(.*?)endbfchar", cmap, re.S):
                for src, dst in re.findall(
                    r"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]*)>", cm_.group(1)
                ):
                    table[int(src, 16)] = _hex_utf16(dst)
        if table or is_cid or wtab is not None:
            maps[name] = (is_cid, table, wtab)
    return maps


def _rotate_quarter(body: str, default: int) -> int:
    """Page /Rotate in quarter turns clockwise (0-3; §7.7.3.3):
    inheritable, negatives normalize mod 360, non-multiples of 90
    degrade to the inherited default — independent twin of
    pdfparse._rotate_of."""
    m = re.search(r"/Rotate\s+(-?\d+)", body)
    if m is None:
        return default
    deg = int(m.group(1)) % 360
    return deg // 90 if deg % 90 == 0 else default


def _pages_node_rotate(objs: dict[int, str]) -> int:
    for body in objs.values():
        if "/Type /Pages" in body:
            return _rotate_quarter(body, 0)
    return 0


_ORACLE_DEFAULT_BOX = (0.0, 0.0, spec.PAGE_W, spec.PAGE_H)


def _mediabox_oracle(body: str, default):
    """(x0, y0, w, h) from /MediaBox — inheritable; malformed or
    degenerate (w<=0 or h<=0) degrades to the inherited default.
    Independent twin of pdfparse._mediabox_of."""
    m = re.search(
        r"/MediaBox\s*\[\s*([-+0-9.]+)\s+([-+0-9.]+)\s+"
        r"([-+0-9.]+)\s+([-+0-9.]+)\s*\]", body,
    )
    if not m:
        return default
    try:
        x0, y0, x1, y1 = (float(m.group(i)) for i in (1, 2, 3, 4))
    except ValueError:
        return default
    if x1 - x0 <= 0 or y1 - y0 <= 0:
        return default
    return (x0, y0, x1 - x0, y1 - y0)


def _pages_node_mediabox(objs: dict[int, str]):
    for body in objs.values():
        if "/Type /Pages" in body:
            return _mediabox_oracle(body, _ORACLE_DEFAULT_BOX)
    return _ORACLE_DEFAULT_BOX


def _rotate_items(runs, vrules, hrules, images, k, W, H):
    """Rotate one page's interpreted items ``k`` quarter turns
    clockwise into the display frame (run quadrants decrease by k;
    odd k swaps the h/v ruling families AND the page dims) — twin of
    pdfparse._rotate_page."""
    if k == 1:
        pt = lambda x, y: (y, W - x)  # noqa: E731
    elif k == 2:
        pt = lambda x, y: (W - x, H - y)  # noqa: E731
    else:
        pt = lambda x, y: (H - y, x)  # noqa: E731
    r2 = [
        (*pt(x, y), eff, txt, (q - k) % 4, adv)
        for (x, y, eff, txt, q, adv) in runs
    ]
    nh, nv = [], []
    for (x, y, ln) in hrules:
        if k == 2:
            nh.append((W - x - ln, H - y, ln))
        elif k == 1:
            nv.append((y, W - x - ln, ln))
        else:
            nv.append((H - y, x, ln))
    for (x, y, ln) in vrules:
        if k == 2:
            nv.append((W - x, H - y - ln, ln))
        elif k == 1:
            nh.append((y, W - x, ln))
        else:
            nh.append((H - y - ln, x, ln))
    ims = []
    for (x, y, w, h, ref) in images:
        if k == 1:
            ims.append((y, W - x - w, h, w, ref))
        elif k == 2:
            ims.append((W - x - w, H - y - h, w, h, ref))
        else:
            ims.append((H - y - h, x, h, w, ref))
    return r2, nv, nh, ims


def _page_object_numbers(objs: dict[int, str]) -> list[int]:
    # mirror engine: stop at the FIRST /Type /Pages object whether or
    # not it carries /Kids, and fall back to the object-order scan
    # whenever the resolved list is EMPTY (empty /Kids included)
    page_nums: list[int] = []
    for body in objs.values():
        if "/Type /Pages" in body:
            km = re.search(r"/Kids\s*\[([^\]]*)\]", body)
            if km:
                page_nums = [
                    int(x) for x in re.findall(r"(\d+)\s+0\s+R", km.group(1))
                ]
            break
    if not page_nums:
        page_nums = [
            n
            for n, b in sorted(objs.items())
            if "/Type /Page" in b and "/Type /Pages" not in b
        ]
    return page_nums


def _unesc(s: str) -> str:
    out = []
    i = 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            nxt = s[i + 1]
            if nxt in "01234567":
                j = i + 1
                while j < len(s) and j < i + 4 and s[j] in "01234567":
                    j += 1
                out.append(chr(int(s[i + 1 : j], 8) & 0xFF))
                i = j
            elif nxt in "()\\":
                out.append(nxt)
                i += 2
            elif nxt in "nrtbf":
                out.append({"n": "\n", "r": "\r", "t": "\t",
                            "b": "\b", "f": "\f"}[nxt])
                i += 2
            elif nxt in "\r\n":
                # backslash-EOL line continuation yields NOTHING
                # (\r\n counts as one EOL)
                i += 3 if s[i + 1 : i + 3] == "\r\n" else 2
            else:
                # anything else stays a LITERAL backslash pair
                out.append("\\")
                out.append(nxt)
                i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


def _hexdec(h: str) -> str:
    h = "".join(h.split())
    if len(h) % 2:
        h += "0"
    return bytes.fromhex(h).decode("latin-1")


class _TextState:
    def __init__(self) -> None:
        self.size = 10.0
        self.tz = 1.0     # Tz percent/100 — persists across BT
        self.tc = 0.0     # Tc char spacing — text state, like Tz
        self.tw = 0.0     # Tw word spacing (spaces only)
        self.leading = 12.0
        # full text/line matrices (a, b, c, d, e, f) — ISO 32000-1
        # §9.4.2; Td/TD/T* compose unscaled text-space translations
        # through the line matrix (mirrors the engine)
        self.tlm = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
        self.tm = self.tlm

    def translate(self, tx: float, ty: float) -> None:
        a, b, c, d, e, f = self.tlm
        self.tlm = self.tm = (
            a, b, c, d, tx * a + ty * c + e, tx * b + ty * d + f
        )


def _hidden_oracle(body: str, off_ocgs: set) -> set:
    """BDC property names mapped (via /Properties) to OCGs in the
    catalog default-config /OFF set — their brackets are hidden."""
    hidden: set[str] = set()
    if off_ocgs:
        pm = re.search(r"/Properties\s*<<(.*?)>>", body, re.S)
        if pm:
            for em in re.finditer(
                r"/([A-Za-z][A-Za-z0-9]*)\s+(\d+)\s+0\s+R", pm.group(1)
            ):
                if int(em.group(2)) in off_ocgs:
                    hidden.add(em.group(1))
    return hidden


def _xobj_res_oracle(
    body: str, objs, streams, depth: int = 4, off_ocgs: set = frozenset()
):
    """/Resources /XObject resolution: image entries (a /Name target)
    → name: media_ref; /Subtype /Form entries → name: (interpreted
    fragment, matrix (a, d, e, f)).  Depth caps nesting like the
    engine (reference cycles run out of depth)."""
    xobjs: dict[str, str] = {}
    forms: dict[str, tuple] = {}
    xm = re.search(r"/XObject\s*<<(.*?)>>", body, re.S)
    if not xm:
        return xobjs, forms
    for em in re.finditer(
        r"/([A-Za-z][A-Za-z0-9]*)\s+(\d+)\s+0\s+R", xm.group(1)
    ):
        tnum = int(em.group(2))
        tbody = objs.get(tnum, "")
        sm = re.search(r"stream\r?\n", tbody)
        tdict = tbody[: sm.start()] if sm else tbody
        if "/Subtype /Form" in tdict:
            if depth <= 0:
                continue
            mtx = (1.0, 1.0, 0.0, 0.0)
            mm = re.search(r"/Matrix\s*\[([^\]]*)\]", tdict)
            if mm:
                v = [
                    float(x)
                    for x in re.findall(r"[-+]?\d*\.?\d+", mm.group(1))
                ]
                if len(v) == 6:
                    mtx = (v[0], v[3], v[4], v[5])
            sub_x, sub_f = _xobj_res_oracle(
                tdict, objs, streams, depth - 1, off_ocgs
            )
            sub_fonts = _font_tables(tdict, objs, streams)
            sub_hidden = _hidden_oracle(tdict, off_ocgs)
            forms[em.group(1)] = (
                _interpret(
                    streams.get(tnum, ""), sub_x, sub_fonts, sub_f,
                    sub_hidden,
                ),
                mtx,
            )
        else:
            nm = re.search(r"/Name\s*\(((?:[^()\\]|\\.)*)\)", tdict)
            if nm:
                xobjs[em.group(1)] = _unesc(nm.group(1))
    return xobjs, forms


def _interpret(
    content: str, xobjs: dict[str, str], fonts=None, forms=None,
    hidden=None,
):
    """Returns (runs, vrules, hrules, images); runs = (x, y, size, txt)."""
    # inline images (BI..ID..EI) stripped before lexing, same
    # whitespace-boundary EI heuristic as the engine
    content = re.sub(r"\bBI\b.*?\bID\b.*?[\s>]EI(?=\s|$)", " ", content, flags=re.S)
    runs, vrules, hrules, images = [], [], [], []
    fonts = fonts or {}
    cur_font: dict[int, str] | None = None
    cur_cid = False
    cur_w = None  # (default, {code: w}) per-glyph widths or None
    st = _TextState()
    ctm = [1.0, 1.0, 0.0, 0.0]
    saved = []
    # Separate operand stacks with ENGINE lifetimes: nums survive q/Q,
    # strings die after EVERY operator, names live until Do, the TJ
    # array lives until TJ consumes it (a new '[' resets it).  The old
    # single-operand-list model cleared everything per op (keeping it
    # on q/Q), which diverged on '/Im0 12 Tf Do', '(A) q Tj' and
    # '[(A)] 0 0 Td TJ'.
    nums: list[float] = []
    strs: list[str] = []
    names_l: list[str] = []
    tj_parts: list[tuple] = []
    in_array = False
    # optional-content suppression (§8.11.3): hidden brackets append
    # nothing, but text state still advances (engine mirrors)
    hidden = hidden or ()
    mc_depth = 0
    sup_from = 0  # marked-content depth where suppression began

    token_pat = re.compile(
        r"\(((?:[^()\\]|\\[\s\S])*)\)|(\[)|(\])|(/[A-Za-z0-9]+)"
        r"|([-+]?\d*\.?\d+)|([A-Za-z'\"*]+)|<([0-9A-Fa-f\s]*)>"
    )

    def fdecode(txt: str) -> str:
        # decode through the current font's code table (identity for
        # unmapped codes); advance width uses the DECODED length
        if cur_cid:
            pairs = []
            i = 0
            while i + 1 < len(txt):
                code = (ord(txt[i]) << 8) | ord(txt[i + 1])
                if cur_font and code in cur_font:
                    pairs.append(cur_font[code])
                else:
                    pairs.append(chr(code))
                i += 2
            return "".join(pairs)
        if cur_font:
            return "".join(cur_font.get(ord(c), c) for c in txt)
        return txt

    def adv_units(raw: str) -> float:
        # per-glyph /Widths//W advance of a RAW code string (engine
        # twin): width + Tc per SOURCE CODE; Tw on single-byte code 32
        # only — never inside 2-byte CID strings (§9.3.3)
        dflt, wt = cur_w
        if cur_cid:
            total = 0.0
            n = 0
            for i in range(0, len(raw) - 1, 2):
                total += wt.get((ord(raw[i]) << 8) | ord(raw[i + 1]), dflt)
                n += 1
            return total * st.size + st.tc * n
        total = 0.0
        for ch in raw:
            total += wt.get(ord(ch), dflt)
        return (
            total * st.size + st.tc * len(raw) + st.tw * raw.count(" ")
        )

    def advance(txt: str, tj_w=None) -> None:
        # tj_w: precomputed Tz-scaled advance for TJ (text arrives
        # pre-decoded; kern numbers displace the cursor per element)
        raw = txt
        if tj_w is None:
            txt = fdecode(txt)
        if txt:
            a, b = st.tm[0], st.tm[1]
            mag = (a * a + b * b) ** 0.5
            eff = st.size * mag * st.tz
            if abs(a) >= abs(b):
                q = 0 if a >= 0 else 2
            else:
                q = 1 if b > 0 else 3
            # §9.3.2-3: each glyph adds Tc, each space adds Tw, the
            # sum scaled by Tz.  /Widths//W fonts advance per SOURCE
            # CODE; metrics-free fonts use the flat decoded-text model
            if tj_w is not None:
                w = tj_w
            elif cur_w is not None:
                w = adv_units(raw) * st.tz
            else:
                w = (
                    (spec.CHAR_W_FACTOR * st.size + st.tc) * len(txt)
                    + st.tw * txt.count(" ")
                ) * st.tz
            if not sup_from:
                runs.append((st.tm[4], st.tm[5], eff, txt, q, w * mag))
            st.tm = (
                a, b, st.tm[2], st.tm[3],
                st.tm[4] + w * a, st.tm[5] + w * b,
            )

    for tok in token_pat.finditer(content):
        string, open_b, close_b, name, number, op, hexs = tok.groups()
        if hexs is not None:
            if in_array:
                tj_parts.append(("str", _hexdec(hexs)))
            else:
                strs.append(_hexdec(hexs))
            continue
        if open_b:
            in_array = True
            tj_parts = []
            continue
        if close_b:
            in_array = False
            continue
        if string is not None:
            s = _unesc(string)
            if in_array:
                tj_parts.append(("str", s))
            else:
                strs.append(s)
            continue
        if name:
            names_l.append(name[1:])
            continue
        if number:
            v = float(number)
            if in_array:
                tj_parts.append(("num", v))
            else:
                nums.append(v)
            continue

        if op == "Tf":
            if nums:
                st.size = nums[-1]
            if names_l:
                cur_cid, cur_font, cur_w = fonts.get(
                    names_l[-1], (False, None, None)
                )
        elif op == "TL" and nums:
            st.leading = nums[-1]
        elif op == "Tz" and nums:
            st.tz = abs(nums[-1]) / 100.0
        elif op == "Tc" and nums:
            st.tc = nums[-1]
        elif op == "Tw" and nums:
            st.tw = nums[-1]
        elif op == "Td" and len(nums) >= 2:
            st.translate(nums[-2], nums[-1])
        elif op == "TD" and len(nums) >= 2:
            st.leading = -nums[-1]
            st.translate(nums[-2], nums[-1])
        elif op == "Tm" and len(nums) >= 6:
            st.tlm = st.tm = tuple(nums[-6:])
        elif op == "T*":
            st.translate(0.0, -st.leading)
        elif op == "BT":
            st.tlm = st.tm = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)
        elif op == "Tj":
            if strs:
                advance(strs[-1])
        elif op == "'":
            st.translate(0.0, -st.leading)
            if strs:
                advance(strs[-1])
        elif op == '"':
            # aw ac (s) "  ==  aw Tw  ac Tc  (s) '
            if len(nums) >= 2:
                st.tw, st.tc = nums[-2], nums[-1]
            st.translate(0.0, -st.leading)
            if strs:
                advance(strs[-1])
        elif op == "TJ":
            parts = []
            w = 0.0
            for t, v in tj_parts:
                if t == "str":
                    s = fdecode(v)
                    parts.append(s)
                    if cur_w is not None:
                        w += adv_units(v)
                    else:
                        w += (
                            spec.CHAR_W_FACTOR * st.size + st.tc
                        ) * len(s) + st.tw * s.count(" ")
                else:
                    w -= v / 1000.0 * st.size
                    if v <= spec.TJ_SPACE_THRESH:
                        parts.append(" ")
            advance("".join(parts), tj_w=w * st.tz)
            tj_parts = []
        elif op in ("BDC", "BMC"):
            mc_depth += 1
            if (
                op == "BDC" and not sup_from and names_l
                and names_l[-1] in hidden
            ):
                sup_from = mc_depth
        elif op == "EMC":
            if sup_from == mc_depth:
                sup_from = 0
            if mc_depth:
                mc_depth -= 1
        elif op == "re" and len(nums) >= 4 and not sup_from:
            rx, ry, rw, rh = nums[-4:]
            if abs(rh) <= spec.RULE_EPS and rw > spec.RULE_EPS:
                hrules.append((rx, ry, rw))
            elif abs(rw) <= spec.RULE_EPS and rh > spec.RULE_EPS:
                vrules.append((rx, ry, rh))
        elif op == "cm" and len(nums) >= 6:
            ctm = [nums[-6], nums[-3], nums[-2], nums[-1]]
        elif op == "q":
            saved.append(list(ctm))
        elif op == "Q":
            ctm = saved.pop() if saved else [1.0, 1.0, 0.0, 0.0]
        elif op == "Do":
            if names_l and not sup_from:
                frag = forms.get(names_l[-1]) if forms else None
                if frag is not None:
                    # form instantiation under CTM ∘ /Matrix (scale +
                    # translate subset); sizes/advances scale
                    # directionally per baseline quadrant, like engine
                    (fr, fvr, fhr, fim), (ma, md, me, mf) = frag
                    A, D = ctm[0] * ma, ctm[1] * md
                    E = ctm[0] * me + ctm[2]
                    F = ctm[1] * mf + ctm[3]
                    ax, ay = abs(A), abs(D)
                    for (x, y, sz, txt, q, adv) in fr:
                        horiz = q % 2 == 0
                        runs.append((
                            A * x + E, D * y + F,
                            sz * (ay if horiz else ax), txt, q,
                            adv * (ax if horiz else ay),
                        ))
                    for (x, y, ln) in fvr:
                        vrules.append((A * x + E, D * y + F, ln * ay))
                    for (x, y, ln) in fhr:
                        hrules.append((A * x + E, D * y + F, ln * ax))
                    for (x, y, w, h, ref) in fim:
                        images.append(
                            (A * x + E, D * y + F, w * A, h * D, ref)
                        )
                else:
                    ref = xobjs.get(names_l[-1], "")
                    if ref:  # falsy (empty /Name) never emits
                        images.append(
                            (ctm[2], ctm[3], ctm[0], ctm[1], ref)
                        )
        # engine operand lifetimes after every operator:
        if op not in ("q", "Q"):
            nums = []
        strs = []
        if op == "Do":
            names_l = []
    return runs, vrules, hrules, images


def _end_x(run) -> float:
    x, _y, size, txt = run[:4]
    if len(run) > 5 and run[5] is not None:
        return x + run[5]  # tokenizer advance (carries Tc/Tw)
    return x + spec.CHAR_W_FACTOR * size * len(txt)


def _rot_lines(runs, quad, W, H):
    """Rotated-quadrant runs clustered in their reading frame (the
    rigid transform onto an upright page; mirrors engine
    rotated_lines): q=1 (y, W-x); q=2 (W-x, H-y); q=3 (H-y, x).
    No rulings in rotated frames."""
    sel = [r for r in runs if r[4] == quad]
    if quad == 1:
        tr = [(r[1], W - r[0], r[2], r[3], 0, r[5]) for r in sel]
    elif quad == 2:
        tr = [(W - r[0], H - r[1], r[2], r[3], 0, r[5]) for r in sel]
    else:
        tr = [(H - r[1], r[0], r[2], r[3], 0, r[5]) for r in sel]
    return _lines_of(tr, [])


def _lines_of(runs, vrules):
    """Cluster UPRIGHT runs into lines; returns (y, x, end_x, text)
    tuples.  Rotated runs go through _rot_lines."""
    runs = [r for r in runs if r[4] == 0]
    ordered = sorted(runs, key=lambda r: (-r[1], r[0]))
    groups: list[list] = []
    for run in ordered:
        if groups and abs(groups[-1][0][1] - run[1]) <= spec.LINE_Y_TOL:
            groups[-1].append(run)
        else:
            groups.append([run])
    lines = []
    for grp in groups:
        grp = sorted(grp, key=lambda r: r[0])
        line_y = max(r[1] for r in grp)
        text = grp[0][3]
        for prev, cur in zip(grp, grp[1:]):
            gap = cur[0] - _end_x(prev)
            has_vrule = False
            for vx, vy, vlen in vrules:
                if (
                    _end_x(prev) <= vx <= cur[0]
                    and vy - spec.LINE_Y_TOL <= line_y <= vy + vlen + spec.LINE_Y_TOL
                ):
                    has_vrule = True
                    break
            if has_vrule or gap > spec.TAB_GAP_PTS:
                text += "\t" + cur[3]
            elif gap > spec.SPACE_GAP_FACTOR * cur[2]:
                text += " " + cur[3]
            else:
                text += cur[3]
        if text.strip():
            lines.append((line_y, grp[0][0], _end_x(grp[-1]), text))
    return lines


def _order_page(lines, images, rot_zoned=(), W=spec.PAGE_W, H=spec.PAGE_H):
    """items: (y, x, end_x, is_media, text, ref, in_zone) in reading
    order; rotated-quadrant lines (already clustered in their reading
    frames with frame-relative in_zone, quadrant-ascending) follow the
    upright flow.  Zone cuts and the column split derive from the
    page's /MediaBox dims."""
    top_y = spec.TOP_ZONE_FRAC * H
    bot_y = spec.BOT_ZONE_FRAC * H
    zone = lambda y: y >= top_y or y <= bot_y  # noqa: E731
    items = [(y, x, ex, False, t, "", zone(y)) for (y, x, ex, t) in lines]
    items += [
        (y, x, x + w, True, "", ref, zone(y))
        for (x, y, w, _h, ref) in images
    ]
    header = [it for it in items if it[0] >= top_y]
    footer = [it for it in items if it[0] <= bot_y]
    body = [it for it in items if bot_y < it[0] < top_y]
    td = lambda seq: sorted(seq, key=lambda it: (-it[0], it[1]))  # noqa: E731
    split = W / 2.0
    left = [it for it in body if it[2] < split]
    right = [it for it in body if it[1] >= split]
    if (
        len(body) >= spec.COL_MIN_TOTAL
        and len(left) >= spec.COL_MIN_SIDE
        and len(right) >= spec.COL_MIN_SIDE
        and len(left) + len(right) == len(body)
    ):
        mid = td(left) + td(right)
    else:
        mid = td(body)
    tail = [
        (y, x, ex, False, t, "", z) for (y, x, ex, t, z) in rot_zoned
    ]
    return td(header) + mid + td(footer) + tail


def _norm(text: str) -> str:
    # digit RUNS -> one '#' (mirrors engine normalize_line)
    return re.sub(r"\s+", " ", re.sub(r"\d+", "#", text.lower())).strip()


def _encrypt_ref_oracle(payload: str) -> int | None:
    """The /Encrypt object number from where the spec puts it —
    trailer dicts (§7.5.5) or /Type /XRef stream dicts (§7.5.8.2) —
    never page text; independent twin of pdfparse._encrypt_ref."""
    if "/Encrypt" not in payload:
        return None
    for tm in re.finditer(r"trailer\b", payload):
        m = re.compile(r"\s*<<").match(payload, tm.end())
        if m is None:
            continue
        em = re.search(
            r"/Encrypt\s+(\d+)\s+0\s+R",
            _balanced_dict_str(payload, m.end() - 2),
        )
        if em:
            return int(em.group(1))
    for om in re.finditer(r"(\d+)\s+0\s+obj\b(.*?)endobj", payload, re.S):
        body = om.group(2)
        sm = re.search(r"stream\r?\n", body)
        dict0 = body[: sm.start()] if sm else body
        if "/Type /XRef" in dict0:
            em = re.search(r"/Encrypt\s+(\d+)\s+0\s+R", dict0)
            if em:
                return int(em.group(1))
    return None


def pdf_spans(payload: str) -> list[tuple[str, str, str]]:
    """PDF payload (latin-1 string) → [(kind, text, media_ref)]."""
    # Mirror the engine's byte-level view: non-latin-1 chars degrade to
    # '?' (the engine encodes with errors="replace" before parsing).
    payload = payload.encode("latin-1", errors="replace").decode("latin-1")
    enc_ref = _encrypt_ref_oracle(payload)
    fkey = None
    cipher = ""
    enc_num = -1
    if enc_ref is not None:
        enc_num = enc_ref
        fc = _std_sec_key(payload, enc_num)
        if fc is None:
            return []  # unreadable — degrade (engine mirrors)
        fkey, cipher = fc
    objs = _pdf_objects(payload)
    streams = {}
    if fkey is not None:
        for n in list(objs):
            if n == enc_num:
                continue
            body = objs[n]
            sm = re.search(r"stream\r?\n(.*?)endstream", body, re.S)
            dict0 = body[: sm.start()] if sm else body
            if "/Type /XRef" in dict0:
                continue  # xref streams are never encrypted
            if cipher == "rc4":
                okey = _obj_key(fkey, n)
                dec_fn = lambda v, k=okey: _rc4(k, v)  # noqa: E731
            elif cipher == "aesv2":
                okey = _obj_key_aes(fkey, n)
                dec_fn = lambda v, k=okey: _aes_cbc_dec(k, v)  # noqa: E731
            else:  # aesv3: the file key encrypts every object
                dec_fn = lambda v: _aes_cbc_dec(fkey, v)  # noqa: E731
            nd = _decrypt_obj_strings(dict0, dec_fn)
            if sm:
                try:
                    dec = dec_fn(
                        sm.group(1).encode("latin-1")
                    ).decode("latin-1")
                except ValueError:
                    dec = ""  # malformed AES framing — degrade
                objs[n] = (
                    nd + body[sm.start() : sm.start(1)] + dec
                    + body[sm.end(1) :]
                )
            else:
                objs[n] = nd
    for n, body in objs.items():
        sm = re.search(r"stream\r?\n(.*?)endstream", body, re.S)
        if sm:
            streams[n] = _decode_stream_oracle(
                sm.group(1), body[: sm.start()]
            )

    _expand_pdf15(objs, streams)

    # optional-content default config: OCGs listed in the catalog
    # /OCProperties /D /OFF array are hidden (lowest-numbered catalog
    # wins, like the engine)
    off_ocgs: set[int] = set()
    for _cn, cbody in sorted(objs.items()):
        if "/Type /Catalog" in cbody:
            if "/OCProperties" in cbody:
                om = re.search(r"/OFF\s*\[([^\]]*)\]", cbody)
                if om:
                    off_ocgs = {
                        int(r)
                        for r in re.findall(r"(\d+)\s+0\s+R", om.group(1))
                    }
            break

    per_page = []
    # inheritable page attributes resolve once per document, not per
    # page (the /Pages scan is O(objs))
    inherited_box = _pages_node_mediabox(objs)
    inherited_rot = _pages_node_rotate(objs)
    for pn in _page_object_numbers(objs):
        body = objs.get(pn, "")
        am = re.search(r"/Contents\s*\[([^\]]*)\]", body)
        if am:
            refs = [int(r) for r in re.findall(r"(\d+)\s+0\s+R", am.group(1))]
            content = "\n".join(streams.get(r, "") for r in refs)
        else:
            cm = re.search(r"/Contents\s+(\d+)\s+0\s+R", body)
            content = streams.get(int(cm.group(1)), "") if cm else ""
        xobjs, forms = _xobj_res_oracle(
            body, objs, streams, off_ocgs=off_ocgs
        )
        fonts = _font_tables(body, objs, streams)
        hidden = _hidden_oracle(body, off_ocgs)
        runs, vrules, hrules, images = _interpret(
            content, xobjs, fonts, forms, hidden
        )
        x0, y0, W, H = _mediabox_oracle(body, inherited_box)
        if x0 or y0:
            runs = [(x - x0, y - y0, *r) for (x, y, *r) in runs]
            vrules = [(x - x0, y - y0, ln) for (x, y, ln) in vrules]
            hrules = [(x - x0, y - y0, ln) for (x, y, ln) in hrules]
            images = [
                (x - x0, y - y0, *im) for (x, y, *im) in images
            ]
        k = _rotate_quarter(body, inherited_rot)
        if k:
            runs, vrules, hrules, images = _rotate_items(
                runs, vrules, hrules, images, k, W, H
            )
            if k % 2:
                W, H = H, W
        rot = []
        if any(r[4] for r in runs):
            for quad in (1, 2, 3):
                fh = W if quad % 2 else H
                ft, fb = spec.TOP_ZONE_FRAC * fh, spec.BOT_ZONE_FRAC * fh
                rot.extend(
                    (y, x, ex, t, y >= ft or y <= fb)
                    for (y, x, ex, t) in _rot_lines(runs, quad, W, H)
                )
        per_page.append(
            _order_page(_lines_of(runs, vrules), images, rot, W, H)
        )

    n_pages = len(per_page)
    # boilerplate bookkeeping
    page_seen: dict[str, set[int]] = {}
    zoned: dict[str, bool] = {}
    for pi, items in enumerate(per_page):
        for (_y, _x, _ex, is_media, text, _ref, in_zone) in items:
            if is_media:
                continue
            key = _norm(text)
            page_seen.setdefault(key, set()).add(pi)
            zoned[key] = zoned.get(key, True) and in_zone
    drop: set[str] = set()
    if n_pages >= spec.BOILER_MIN_PAGES:
        need = max(2, math.ceil(spec.BOILER_FRAC * n_pages))
        for key, pgs in page_seen.items():
            if len(pgs) >= need and zoned[key]:
                drop.add(key)

    out = []
    for items in per_page:
        for (_y, _x, _ex, is_media, text, ref, _z) in items:
            if is_media:
                out.append(("media", "", ref))
            elif _norm(text) not in drop:
                out.append(("text", text, ""))
    out.extend(_annots_oracle(objs))
    out.extend(_forms_oracle(objs))
    out.extend(_attachments_oracle(objs, streams))
    out.extend(_info_oracle(payload, objs))
    return out


def _info_oracle(
    payload: str, objs: dict[int, str]
) -> list[tuple[str, str, str]]:
    """Document-information metadata (§14.3.3): ("meta", value, key)
    for /Title /Author /CreationDate in that order from the /Info
    dict referenced by a trailer or /Type /XRef dict — independent
    twin of pdfparse._doc_info.  CreationDate's D:YYYYMMDD… prefix
    normalizes to an ISO date."""
    if "/Info" not in payload:
        return []
    ref = None
    for tm in re.finditer(r"trailer\b", payload):
        m = re.compile(r"\s*<<").match(payload, tm.end())
        if m is None:
            continue
        em = re.search(
            r"/Info\s+(\d+)\s+0\s+R",
            _balanced_dict_str(payload, m.end() - 2),
        )
        if em:
            ref = int(em.group(1))
            break
    if ref is None:
        for om in re.finditer(
            r"(\d+)\s+0\s+obj\b(.*?)endobj", payload, re.S
        ):
            body = om.group(2)
            sm = re.search(r"stream\r?\n", body)
            dict0 = body[: sm.start()] if sm else body
            if "/Type /XRef" in dict0:
                em = re.search(r"/Info\s+(\d+)\s+0\s+R", dict0)
                if em:
                    ref = int(em.group(1))
                    break
    if ref is None:
        return []
    body = objs.get(ref, "")
    out: list[tuple[str, str, str]] = []
    for key in ("Title", "Author", "CreationDate"):
        m = re.search(r"/" + key + r"\s*(" + _STR_TOK + r")", body, re.S)
        if m is None:
            continue
        val = _pdf_text_str(_str_token(m.group(1)))
        if key == "CreationDate":
            dm = re.match(r"D:(\d{4})(\d{2})(\d{2})", val)
            if dm:
                val = "-".join(dm.groups())
        if val:
            out.append(("meta", val, key))
    return out


def _pdf_text_str(raw: str) -> str:
    """PDF text string semantics (ISO 32000-1 §7.9.2.2) over a
    latin-1-domain value: UTF-16BE when the BOM leads."""
    if raw[:2] == "\xfe\xff":
        return raw[2:].encode("latin-1", errors="replace").decode(
            "utf-16-be", errors="replace"
        )
    return raw


def _annots_oracle(objs: dict[int, str]) -> list[tuple[str, str, str]]:
    """Markup-annotation notes (ISO 32000-1 §12.5): per-page /Annots
    refs → /Text or /FreeText dicts with a /Contents text string,
    emitted as ("annot", contents, subtype) in page-then-array order —
    independent twin of the engine's /Annots walk."""
    out = []
    for pn in _page_object_numbers(objs):
        am = re.search(r"/Annots\s*\[([^\]]*)\]", objs.get(pn, ""))
        if not am:
            continue
        for r in re.finditer(r"(\d+)\s+0\s+R", am.group(1)):
            ad = objs.get(int(r.group(1)), "")
            sm = re.search(r"/Subtype\s*/(Text|FreeText)\b", ad)
            if sm is None:
                continue
            cm = re.search(r"/Contents\s*(" + _STR_TOK + r")", ad)
            if cm is None:
                continue
            out.append((
                "annot",
                _pdf_text_str(_str_token(cm.group(1))),
                sm.group(1),
            ))
    return out


def _forms_oracle(objs: dict[int, str]) -> list[tuple[str, str, str]]:
    """AcroForm field values (ISO 32000-1 §12.7): catalog /AcroForm →
    /Fields → /FT /Tx|/Ch fields with /T and /V (direct, or on the
    first /Kids entry carrying one), emitted as ("form", value, name)
    after page items — independent twin of
    operators/pdfparse._form_fields."""
    cat = ""
    for _n, body in sorted(objs.items()):
        if "/Type /Catalog" in body:
            cat = body
            break
    acro = _dict_value_str(cat, r"/AcroForm", objs)
    if not acro:
        return []
    fm = re.search(r"/Fields\s*\[([^\]]*)\]", acro)
    if not fm:
        return []
    out = []
    for r in re.finditer(r"(\d+)\s+0\s+R", fm.group(1)):
        fd = objs.get(int(r.group(1)), "")
        if not re.search(r"/FT\s*/(?:Tx|Ch)\b", fd):
            continue
        tm = re.search(r"/T\s*(" + _STR_TOK + r")", fd)
        if tm is None:
            continue
        vm = re.search(r"/V\s*(" + _STR_TOK + r")", fd)
        if vm is None:
            km = re.search(r"/Kids\s*\[([^\]]*)\]", fd)
            if km:
                for kr in re.finditer(r"(\d+)\s+0\s+R", km.group(1)):
                    vm = re.search(
                        r"/V\s*(" + _STR_TOK + r")",
                        objs.get(int(kr.group(1)), ""),
                    )
                    if vm is not None:
                        break
        if vm is None:
            continue
        out.append((
            "form",
            _pdf_text_str(_str_token(vm.group(1))),
            _pdf_text_str(_str_token(tm.group(1))),
        ))
    return out


def _balanced_dict_str(body: str, start: int) -> str:
    """Inner text of the << ... >> opening at ``start`` (nesting-aware,
    independent of the engine's byte-domain twin)."""
    depth = 0
    i = start
    while i < len(body) - 1:
        two = body[i : i + 2]
        if two == "<<":
            depth += 1
            i += 2
        elif two == ">>":
            depth -= 1
            i += 2
            if depth == 0:
                return body[start + 2 : i - 2]
        else:
            i += 1
    return ""


def _dict_value_str(body: str, key: str, objs: dict[int, str]) -> str:
    m = re.search(key + r"\s+(\d+)\s+0\s+R", body)
    if m:
        return objs.get(int(m.group(1)), "")
    m = re.search(key + r"\s*<<", body)
    if m:
        return _balanced_dict_str(body, m.end() - 2)
    return ""


def _str_token(tok: str) -> str:
    """A PDF string token — (literal) or <hex> — to its value."""
    if tok.startswith("("):
        return _unesc(tok[1:-1])
    h = re.sub(r"\s", "", tok[1:-1])
    if len(h) % 2:
        h += "0"
    return "".join(chr(int(h[i : i + 2], 16)) for i in range(0, len(h), 2))


_STR_TOK = r"\((?:[^()\\]|\\[\s\S])*\)|<[0-9A-Fa-f\s]*>"


def _attachments_oracle(
    objs: dict[int, str], streams: dict[int, str]
) -> list[tuple[str, str, str]]:
    """Embedded files (ISO 32000-1 §7.11.4): catalog /Names
    /EmbeddedFiles name tree → Filespec → /EF stream, emitted as
    ("attachment", content, filename) after all page items —
    independent twin of operators/pdfparse._attachments."""
    cat = ""
    for _n, body in sorted(objs.items()):
        if "/Type /Catalog" in body:
            cat = body
            break
    tree = _dict_value_str(
        _dict_value_str(cat, r"/Names", objs), r"/EmbeddedFiles", objs
    )
    if not tree:
        return []
    leaves = [tree]
    km = re.search(r"/Kids\s*\[([^\]]*)\]", tree)
    if km and not re.search(r"/Names\s*\[", tree):
        leaves = [
            objs.get(int(r), "")
            for r in re.findall(r"(\d+)\s+0\s+R", km.group(1))
        ]
    out = []
    for leaf in leaves:
        am = re.search(r"/Names\s*\[([^\]]*)\]", leaf)
        if not am:
            continue
        for em in re.finditer(
            r"(" + _STR_TOK + r")\s*(\d+)\s+0\s+R", am.group(1)
        ):
            key = _str_token(em.group(1))
            fs = objs.get(int(em.group(2)), "")
            ef = _dict_value_str(fs, r"/EF", objs)
            sm = re.search(r"/(?:UF|F)\s+(\d+)\s+0\s+R", ef)
            if sm is None:
                continue
            content = streams.get(int(sm.group(1)))
            if content is None:
                continue
            name = key
            for k in ("UF", "F"):
                nm = re.search(r"/" + k + r"\s*(" + _STR_TOK + r")", fs)
                if nm:
                    name = _str_token(nm.group(1))
                    break
            out.append(("attachment", content, name))
    return out


# --------------------------------------------------------------------------
# HTML (independent implementation)
# --------------------------------------------------------------------------

_ENT = {
    "&amp;": "&", "&lt;": "<", "&gt;": ">", "&quot;": '"',
    "&apos;": "'", "&nbsp;": " ",
}


def _decode_entities(s: str) -> str:
    """Single left-to-right pass over the ORIGINAL string: each '&'
    consumes at most one entity (named, &#xHH; or &#NNN;) and decoded
    output is never rescanned — so double-encoded input like '&#38;lt;'
    yields literal '&lt;' (HTML-spec behavior), not '<'.  Independent
    scanner implementation; must stay semantics-equal to the engine's
    one-shot alternation regex substitution."""
    out: list[str] = []
    i, n = 0, len(s)
    while i < n:
        amp = s.find("&", i)
        if amp < 0:
            out.append(s[i:])
            break
        out.append(s[i:amp])
        rest = s[amp:]
        named = next((k for k in _ENT if rest.startswith(k)), None)
        if named:
            out.append(_ENT[named])
            i = amp + len(named)
            continue
        m = re.match(r"&#x([0-9A-Fa-f]{1,6});", rest) or re.match(
            r"&#(\d{1,7});", rest
        )
        if m:
            cp = int(m.group(1), 16) if rest[2] in "x" else int(m.group(1))
            if 0xD800 <= cp <= 0xDFFF:  # surrogate -> U+FFFD (HTML5)
                out.append("�")
            else:
                out.append(chr(cp) if 0 < cp <= 0x10FFFF else "")
            i = amp + m.end()
        else:
            out.append("&")
            i = amp + 1
    return "".join(out)


def _strip_tags(s: str) -> str:
    s = re.sub(r"<[^>]+>", " ", s)
    s = _decode_entities(s)
    return re.sub(r"\s+", " ", s).strip()


def html_spans(payload: str) -> list[tuple[str, str, str]]:
    if not payload:
        return []
    # hostile/not-HTML bail — mirrors the engine's guard exactly
    # (spec.HTML_HOSTILE_*): '<'-dense, '>'-sparse payloads are
    # treated as plain text with entities decoded, no tag stripping
    n_lt, n_gt = payload.count("<"), payload.count(">")
    if (
        n_lt > spec.HTML_HOSTILE_MIN_LT
        and n_lt > spec.HTML_HOSTILE_LT_PER_GT * n_gt
    ):
        text = re.sub(r"\s+", " ", _decode_entities(payload)).strip()
        return [("text", text, "")] if len(text) >= spec.HTML_MIN_CHARS else []
    s = re.sub(r"<!--.*?-->", " ", payload, flags=re.S)
    # One COMBINED alternation per fixed-point pass (not per-tag loops):
    # on malformed HTML with mispaired overlapping drop tags of
    # different names (<nav>A<footer>B</nav>C</footer>D) per-tag order
    # changes which text survives, so the oracle must scan all drop
    # tags left-to-right in a single pass exactly like the engine's
    # _DROP_RE.  Innermost-first backreference keeps nested same-name
    # pairs peeling inside-out.
    drop_re = re.compile(
        r"<(" + "|".join(spec.HTML_DROP_TAGS) + r")\b[^>]*>"
        r"(?:(?!<\1\b).)*?</\1\s*>",
        re.S | re.I,
    )
    while True:
        before = s
        s = drop_re.sub(" ", s)
        if s == before:
            break
    splitter = re.compile(
        r"</?(?:" + "|".join(spec.HTML_BLOCK_TAGS) + r")\b[^>]*/?>", re.I
    )
    out = []
    for frag in splitter.split(s):
        text = _strip_tags(frag)
        if len(text) < spec.HTML_MIN_CHARS:
            continue
        link_len = 0
        for am in re.finditer(r"<a\b[^>]*>(.*?)</a\s*>", frag, re.S | re.I):
            link_len += len(_strip_tags(am.group(1)))
        if link_len and link_len / len(text) > spec.HTML_MAX_LINK_DENSITY:
            continue
        out.append(("text", text, ""))
    return out


# --------------------------------------------------------------------------
# Fields (independent implementation; the regex strings are the spec)
# --------------------------------------------------------------------------

_MONTHS3 = {m[:3]: i + 1 for i, m in enumerate(rules.MONTHS)}


def _parse_num(s: str) -> Decimal:
    s = s.replace("\u00a0", "").replace(" ", "")
    seps = [i for i, c in enumerate(s) if c in ",."]
    if seps and len(s) - seps[-1] - 1 == 2:
        ip = "".join(c for c in s[: seps[-1]] if c.isdigit())
        return Decimal(ip + "." + s[seps[-1] + 1 :]).quantize(Decimal("0.01"))
    return Decimal("".join(c for c in s if c.isdigit())).quantize(Decimal("0.01"))


def _line_dates(line: str) -> list[tuple[int, dt.date]]:
    res = []
    for pat, order in (
        (rules.DATE_ISO, "ymd"),
        (rules.DATE_DOTTED, "dmy"),
        (rules.DATE_SLASH, "dmy"),
        (rules.DATE_MONTHNAME, "mdy"),
    ):
        for m in re.finditer(pat, line):
            g = m.groups()
            try:
                if order == "ymd":
                    d = dt.date(int(g[0]), int(g[1]), int(g[2]))
                elif order == "dmy":
                    d = dt.date(int(g[2]), int(g[1]), int(g[0]))
                else:
                    d = dt.date(int(g[2]), _MONTHS3[g[0].lower()[:3]], int(g[1]))
            except (ValueError, KeyError):
                continue
            res.append((m.start(), d))
    return sorted(res, key=lambda p: p[0])


_AMOUNT_CAP = Decimal(10) ** 16  # DecimalType(18,2) capacity (engine mirrors)


def _line_amounts(line: str) -> list[tuple[int, str, Decimal]]:
    res = []
    for m in re.finditer(rules.AMOUNT_LEAD, line):
        val = _parse_num(m.group(3))
        if val >= _AMOUNT_CAP:
            continue
        if m.group(1) and m.group(4):
            val = -val
        res.append((m.start(), rules.CURRENCY[m.group(2)], val))
    for m in re.finditer(rules.AMOUNT_TRAIL_EUR, line):
        val = _parse_num(m.group(2))
        if val >= _AMOUNT_CAP:
            continue
        if m.group(1) and m.group(4):
            val = -val
        res.append((m.start(), "EUR", val))
    return sorted(res, key=lambda p: p[0])


def doc_fields(text_lines: list[str]) -> dict:
    joined = "\n".join(text_lines)
    idm = re.search(rules.INVOICE_ID, joined)
    inv_date = due = None
    amounts: list[tuple[str, Decimal]] = []
    total = None
    total_ccy = None
    codes: list[str] = []
    for line in text_lines:
        ds = _line_dates(line)
        if ds and inv_date is None:
            inv_date = ds[0][1]
        if ds and due is None:
            dm = re.search(rules.DUE_ANCHOR, line)
            if dm:
                later = [d for p, d in ds if p > dm.start()]
                due = later[0] if later else ds[0][1]
        ams = _line_amounts(line)
        amounts += [(c, v) for _p, c, v in ams]
        tmm = re.search(rules.TOTAL_ANCHOR, line)
        if ams and tmm:
            later_a = [(c, v) for p, c, v in ams if p > tmm.start()]
            if later_a:
                total_ccy, total = later_a[0]
            else:
                total, total_ccy = ams[0][2], ams[0][1]
        if re.search(rules.ACCOUNT_ANCHOR, line):
            for cm in re.finditer(rules.ACCOUNT_CODE, line):
                if cm.group(1) not in codes:
                    codes.append(cm.group(1))
    return {
        "invoice_id": idm.group(1).upper() if idm else None,
        "invoice_date": inv_date,
        "due_date": due,
        "currency": total_ccy or (amounts[0][0] if amounts else None),
        "total": total,
        "amounts": [v for _c, v in amounts],
        "account_codes": codes,
    }


# --------------------------------------------------------------------------
# Whole document
# --------------------------------------------------------------------------


def oracle_extract(spans) -> tuple[list[tuple[str, str, str, int]], dict]:
    """spans: iterable of (kind, text, media_ref, offset)."""
    indexed = list(enumerate(spans))
    indexed.sort(key=lambda p: p[1][3] if p[1][3] is not None else p[0])
    flat: list[tuple[str, str, str]] = []
    for _i, (kind, text, ref, _off) in indexed:
        text = text or ""
        ref = ref or ""
        if kind == "text" and text.strip():
            flat.append(("text", text, ""))
        elif kind == "media" and ref:
            flat.append(("media", "", ref))
        elif kind == "pdf" and text:
            flat.extend(pdf_spans(text))
        elif kind == "html":
            flat.extend(html_spans(text))
    numbered = [(k, t, r, i) for i, (k, t, r) in enumerate(flat)]
    fields = doc_fields([t for (k, t, _r, _i) in numbered if k == "text"])
    return numbered, fields
