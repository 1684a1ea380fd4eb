"""Standard security handler primitives (ISO 32000-1/-2 §7.6): RC4
and AES-CBC crypt filters for /Filter /Standard —

- /V 1 (40-bit RC4, R2) and /V 2 (up to 128-bit RC4, R3),
- /V 4 R4 with /CFM /AESV2 (AES-128-CBC, MD5+sAlT object keys),
- /V 5 R6 with /CFM /AESV3 (AES-256-CBC, SHA-2 hardened KDF of
  ISO 32000-2 Algorithm 2.B; the file key encrypts every object).

Used by the parser (decrypt with the EMPTY user password — the common
e-mailed-invoice case) and by the writer (emit encrypted fixtures).
The test oracle reimplements these algorithms independently in the
latin-1 string plane; only ``spec.PDF_PAD`` / ``spec.PDF_AES_SALT``
are shared.  The AES block cipher itself lives in functions/aes.py
(from-scratch, FIPS-197-vector-tested, libcrypto EVP fast path).
"""

from __future__ import annotations

import hashlib

from accountant_pdf_extract_spark import spec


def _rc4_py(key: bytes, data: bytes) -> bytes:
    """Pure-Python RC4 — reference implementation and portable
    fallback (also the self-check oracle for the libcrypto path)."""
    s = list(range(256))
    j = 0
    kl = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % kl]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for n, b in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[n] = b ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


# libcrypto fast path: the legacy RC4_set_key/RC4 symbols are direct
# (not provider-gated) and ~100x the pure-Python byte loop, which
# otherwise costs ~20% of the whole extraction kernel on an
# encrypted-doc corpus.  Verified against _rc4_py at import; any
# failure (missing lib, stubbed symbols, wrong output) silently keeps
# the portable fallback.
_rc4_native = None
try:  # pragma: no cover - exercised implicitly by every rc4() call
    import ctypes
    import ctypes.util

    _name = ctypes.util.find_library("crypto")
    if _name:
        _lc = ctypes.CDLL(_name)
        _lc.RC4_set_key.argtypes = [
            ctypes.c_void_p, ctypes.c_int, ctypes.c_char_p,
        ]
        _lc.RC4_set_key.restype = None
        _lc.RC4.argtypes = [
            ctypes.c_void_p, ctypes.c_size_t, ctypes.c_char_p,
            ctypes.c_char_p,
        ]
        _lc.RC4.restype = None

        # reusable key-state and output buffers: RC4_set_key fully
        # re-inits rc4_key_st on every call and RC4 overwrites the
        # first len(data) output bytes, and a Spark python worker runs
        # one task at a time, so sharing is safe — allocating+zeroing
        # fresh ctypes buffers per call was ~4% of kernel time on an
        # encrypted-doc corpus.  The output buffer grows geometrically;
        # string_at copies exactly the written length back out.
        _rc4_st = ctypes.create_string_buffer(2048)  # >= rc4_key_st
        _rc4_out = [ctypes.create_string_buffer(1 << 16)]

        def _rc4_ossl(key: bytes, data: bytes) -> bytes:
            n = len(data)
            out = _rc4_out[0]
            if n > len(out):
                out = _rc4_out[0] = ctypes.create_string_buffer(
                    max(n, 2 * len(out))
                )
            _lc.RC4_set_key(_rc4_st, len(key), key)
            _lc.RC4(_rc4_st, n, data, out)
            return ctypes.string_at(out, n)

        _probe_k, _probe_d = b"\x01\x02\x03\x04\x05", bytes(range(64))
        if _rc4_ossl(_probe_k, _probe_d) == _rc4_py(_probe_k, _probe_d):
            _rc4_native = _rc4_ossl
except Exception:
    _rc4_native = None


def rc4(key: bytes, data: bytes) -> bytes:
    """Plain RC4 (the PDF 'V2' cipher) — symmetric, so this is both
    encrypt and decrypt.

    Not reentrant: the native (libcrypto) path reuses one module-level
    key-state buffer and one output buffer across calls.  That is safe
    for a Python worker running one task at a time, but concurrent
    calls from several threads in one process would corrupt each
    other's output."""
    if _rc4_native is not None:
        return _rc4_native(key, data)
    return _rc4_py(key, data)


def _padded(pw: bytes) -> bytes:
    return (pw + spec.PDF_PAD)[:32]


def file_key(
    o_value: bytes,
    p: int,
    id0: bytes,
    r: int,
    length_bits: int = 40,
    user_pw: bytes = b"",
) -> bytes:
    """Algorithm 2: the file encryption key from the (possibly empty)
    user password, /O, /P (as 4-byte little-endian two's complement),
    and the first file identifier."""
    n = max(5, min(16, length_bits // 8))
    h = hashlib.md5()
    h.update(_padded(user_pw))
    h.update(o_value[:32])
    h.update((p & 0xFFFFFFFF).to_bytes(4, "little"))
    h.update(id0)
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    return key[:n]


def object_key(fkey: bytes, num: int, gen: int = 0) -> bytes:
    """Algorithm 1: the per-object RC4 key — MD5(file key + 3 LE bytes
    of the object number + 2 LE bytes of the generation), truncated to
    key length + 5 (max 16)."""
    h = hashlib.md5(
        fkey + num.to_bytes(3, "little") + gen.to_bytes(2, "little")
    ).digest()
    return h[: min(len(fkey) + 5, 16)]


def owner_value(
    owner_pw: bytes, user_pw: bytes, r: int, length_bits: int = 40
) -> bytes:
    """Algorithm 3: the /O entry (an empty owner password falls back
    to the user password per the spec)."""
    n = max(5, min(16, length_bits // 8))
    key = hashlib.md5(_padded(owner_pw or user_pw)).digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key).digest()
    key = key[:n]
    o = rc4(key, _padded(user_pw))
    if r >= 3:
        for i in range(1, 20):
            o = rc4(bytes(b ^ i for b in key), o)
    return o


def user_value(fkey: bytes, id0: bytes, r: int) -> bytes:
    """Algorithms 4 (R2) / 5 (R3): the /U entry."""
    if r == 2:
        return rc4(fkey, spec.PDF_PAD)
    u = rc4(fkey, hashlib.md5(spec.PDF_PAD + id0).digest())
    for i in range(1, 20):
        u = rc4(bytes(b ^ i for b in fkey), u)
    return u + b"\x00" * 16  # 16 bytes of arbitrary padding


def check_user_password(
    u_value: bytes, fkey: bytes, id0: bytes, r: int
) -> bool:
    """Algorithm 6: does the (empty) user password open this file?
    R3 compares only the first 16 bytes (the rest is padding)."""
    expect = user_value(fkey, id0, r)
    if r >= 3:
        return u_value[:16] == expect[:16]
    return u_value[:32] == expect[:32]


# ------------------------------------------------------- AES (V4 / V5)
def object_key_aes(fkey: bytes, num: int, gen: int = 0) -> bytes:
    """Algorithm 1 step a for /AESV2: the RC4 object-key MD5 with the
    extra 4 salt bytes appended."""
    h = hashlib.md5(
        fkey
        + num.to_bytes(3, "little")
        + gen.to_bytes(2, "little")
        + spec.PDF_AES_SALT
    ).digest()
    return h[: min(len(fkey) + 5, 16)]


def aes_decrypt_value(key: bytes, data: bytes) -> bytes:
    """Algorithm 1 step b decrypt: the value is 16-byte IV || CBC
    ciphertext, PKCS#7 padded.  Raises ValueError on malformed framing
    (callers degrade the value/document, never emit garbage)."""
    from accountant_pdf_extract_spark.functions import aes

    if len(data) < 32:
        raise ValueError("AES value too short for IV + one block")
    return aes.cbc_decrypt(key, data[:16], data[16:])


def aes_encrypt_value(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Inverse of aes_decrypt_value (writer side): IV || CBC blocks."""
    from accountant_pdf_extract_spark.functions import aes

    return iv + aes.cbc_encrypt(key, iv, data)


def hash_2b(pw: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B (the R6 hardened hash): SHA-256 of
    (password + salt + udata), then rounds of AES-128-CBC-NoPad over
    64 repetitions of (password + K + udata) keyed by the running
    digest, picking SHA-256/384/512 by the first 16 bytes mod 3,
    until round >= 64 and the last ciphertext byte <= round - 32."""
    from accountant_pdf_extract_spark.functions import aes

    k = hashlib.sha256(pw + salt + udata).digest()
    count = 0
    while True:
        count += 1
        k1 = (pw + k + udata) * 64
        e = aes.cbc_encrypt_nopad(k[:16], k[16:32], k1)
        mod = sum(e[:16]) % 3
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[mod](e).digest()
        if count >= 64 and e[-1] <= count - 32:
            return k[:32]


def r6_auth_user(
    u_val: bytes, ue_val: bytes, user_pw: bytes = b""
) -> bytes | None:
    """ISO 32000-2 Algorithms 2.A / 8: validate the (empty) user
    password against /U (48 bytes: hash || validation salt || key
    salt) and recover the 32-byte file key from /UE.  Returns None
    when the password does not open the file."""
    from accountant_pdf_extract_spark.functions import aes

    if len(u_val) < 48 or len(ue_val) < 32:
        return None
    vsalt, ksalt = u_val[32:40], u_val[40:48]
    if hash_2b(user_pw, vsalt) != u_val[:32]:
        return None
    ikey = hash_2b(user_pw, ksalt)
    # AES-256-CBC, zero IV, NO padding (the spec encrypts the raw
    # 32-byte key)
    return aes.cbc_decrypt_nopad(ikey, bytes(16), ue_val[:32])


def r6_user_entries(
    fkey: bytes, vsalt: bytes, ksalt: bytes, user_pw: bytes = b""
) -> tuple[bytes, bytes]:
    """Writer side of Algorithms 8: the /U (48 bytes) and /UE (32
    bytes) entries for a chosen file key and salts."""
    from accountant_pdf_extract_spark.functions import aes

    u = hash_2b(user_pw, vsalt) + vsalt + ksalt
    ikey = hash_2b(user_pw, ksalt)
    ue = aes.cbc_encrypt_nopad(ikey, bytes(16), fkey)
    return u, ue


def r6_owner_entries(
    fkey: bytes, u48: bytes, vsalt: bytes, ksalt: bytes,
    owner_pw: bytes = b"",
) -> tuple[bytes, bytes]:
    """Writer side of Algorithm 9: /O and /OE (owner hashes fold the
    48-byte /U in as udata)."""
    from accountant_pdf_extract_spark.functions import aes

    o = hash_2b(owner_pw, vsalt, u48) + vsalt + ksalt
    ikey = hash_2b(owner_pw, ksalt, u48)
    oe = aes.cbc_encrypt_nopad(ikey, bytes(16), fkey)
    return o, oe


def r6_perms(fkey: bytes, p: int, encrypt_metadata: bool = True) -> bytes:
    """Algorithm 10: the 16-byte /Perms block, AES-ECB-encrypted with
    the file key (one CBC block with a zero IV is exactly ECB)."""
    from accountant_pdf_extract_spark.functions import aes

    blk = (
        (p & 0xFFFFFFFF).to_bytes(4, "little")
        + b"\xff\xff\xff\xff"
        + (b"T" if encrypt_metadata else b"F")
        + b"adb"
        + b"nrnd"  # 4 bytes the spec leaves to the writer
    )
    return aes.cbc_encrypt_nopad(fkey, bytes(16), blk)


def r6_check_perms(perms: bytes, fkey: bytes) -> bool:
    """Decrypt /Perms and verify the 'adb' signature bytes (the R6
    tamper check; wrong key or tampered perms fails)."""
    from accountant_pdf_extract_spark.functions import aes

    if len(perms) < 16:
        return False
    out = aes.cbc_decrypt_nopad(fkey, bytes(16), perms[:16])
    return out[9:12] == b"adb"
