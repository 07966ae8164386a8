"""PDF standard security handler (RC4 + AES) — decrypt support for pdfx.

Implements the password-based standard security handler for the EMPTY
user password — the overwhelmingly common "encrypted for permissions,
readable by anyone" web PDF — across every spec generation:

- PDF 32000-1 §7.6.3: V=1 (RC4-40), V=2 (RC4 ≤128), R=2/3;
- V=4 crypt filters (§7.6.5): /CFM /V2 (RC4 in the V4 container) and
  /CFM /AESV2 (AES-128-CBC, per-object key salted with ``sAlT``);
- ISO 32000-2 (PDF 2.0) §7.6.4: V=5 R=6 /AESV3 — AES-256-CBC with the
  SHA-2 iterated key-derivation hash (Algorithm 2.B) and the /U //UE
  key-wrapping entries.

Non-empty passwords stay out of scope; the reader falls back to the
skip-encrypted path (emit nothing, never ciphertext garbage).

AES-CBC runs on the ``cryptography`` package (OpenSSL), which the
engine needs the way it needs pyarrow: the R6 key check alone encrypts
at least 64 × 2 KB.  RC4 is ~15 lines of Python, and PDF's key
derivation is seeded MD5/SHA-2 chains (hashlib).

Also provides ``encrypt_pdf_rc4`` / ``encrypt_pdf_aes`` — fixture-side
transforms that turn any ``write_pdf`` output into a REAL
spec-conformant encrypted document (per-object keys, /O //U //UE
entries, rebuilt xref + /Encrypt trailer), so tests can assert
decrypt(encrypt(x)) == x instead of trusting the decoder about itself.
"""

from __future__ import annotations

import hashlib
import re

from cryptography.hazmat.primitives.ciphers import Cipher, algorithms, modes

from ocr_spark.functions.pdfx import _LIT, _lit_bytes

# PDF 32000-1 §7.6.3.3 Algorithm 2: the 32-byte password pad constant
_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41,
    0x64, 0x00, 0x4E, 0x56, 0xFF, 0xFA, 0x01, 0x08,
    0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def rc4(key: bytes, data: bytes) -> bytes:
    """Plain RC4 (KSA + PRGA).  Symmetric: encrypt == decrypt."""
    S = list(range(256))
    j = 0
    kl = len(key)
    for i in range(256):
        j = (j + S[i] + key[i % kl]) & 0xFF
        S[i], S[j] = S[j], S[i]
    out = bytearray(len(data))
    i = j = 0
    for n, b in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + S[i]) & 0xFF
        S[i], S[j] = S[j], S[i]
        out[n] = b ^ S[(S[i] + S[j]) & 0xFF]
    return bytes(out)


def _pad_pw(pw: bytes) -> bytes:
    return (pw + _PAD)[:32]


def file_key(o: bytes, p: int, id0: bytes, user_pw: bytes = b"",
             r: int = 2, n: int = 5) -> bytes:
    """Algorithm 2: the file encryption key from the padded user
    password, /O, /P (4-byte little-endian SIGNED), and /ID[0]."""
    h = hashlib.md5()
    h.update(_pad_pw(user_pw))
    h.update(o[:32])
    h.update((p & 0xFFFFFFFF).to_bytes(4, "little"))
    h.update(id0)
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    return key[:n]


def owner_entry(owner_pw: bytes, user_pw: bytes, r: int = 2,
                n: int = 5) -> bytes:
    """Algorithm 3: the /O entry (RC4 of the padded user password under
    a key derived from the owner password)."""
    key = hashlib.md5(_pad_pw(owner_pw)).digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key).digest()
    key = key[:n]
    out = rc4(key, _pad_pw(user_pw))
    if r >= 3:
        for i in range(1, 20):
            out = rc4(bytes(b ^ i for b in key), out)
    return out


def user_entry(key: bytes, id0: bytes, r: int = 2) -> bytes:
    """Algorithm 4 (R=2) / 5 (R≥3): the /U verification entry."""
    if r == 2:
        return rc4(key, _PAD)
    digest = hashlib.md5(_PAD + id0).digest()
    out = rc4(key, digest)
    for i in range(1, 20):
        out = rc4(bytes(b ^ i for b in key), out)
    return out + b"\x00" * 16  # arbitrary 16-byte padding per spec


def verify_user_pw(u: bytes, o: bytes, p: int, id0: bytes,
                   r: int, n: int, user_pw: bytes = b"") -> bytes | None:
    """Algorithm 6: derive the key for ``user_pw`` and check it against
    /U.  Returns the file key on success, None on wrong password."""
    key = file_key(o, p, id0, user_pw, r, n)
    expect = user_entry(key, id0, r)
    ok = (expect[:16] == u[:16]) if r >= 3 else (expect == u[:32])
    return key if ok else None


def obj_key(key: bytes, num: int, gen: int, aes: bool = False) -> bytes:
    """Algorithm 1: the per-object key — md5(file key + 3 low bytes of
    the object number + 2 low bytes of the generation), truncated to
    min(len(key)+5, 16).  For /AESV2 the spec appends the constant
    ``sAlT`` (0x73416C54) to the hash input.  V=5 does NOT use this:
    AESV3 encrypts every object directly under the file key."""
    h = hashlib.md5(
        key + (num & 0xFFFFFF).to_bytes(3, "little")
        + (gen & 0xFFFF).to_bytes(2, "little")
        + (b"sAlT" if aes else b"")
    ).digest()
    return h[:min(len(key) + 5, 16)]


def cbc_encrypt(key: bytes, data: bytes, iv: bytes,
                pad: bool = True) -> bytes:
    """AES-CBC.  ``pad=True`` applies PKCS#7 (PDF's stream/string mode);
    ``pad=False`` requires block-aligned input, else ``finalize`` raises
    ValueError (the R6 hash rounds and the /UE //OE key wrapping use
    exact 32/64-byte payloads)."""
    if pad:
        p = 16 - len(data) % 16
        data = data + bytes([p]) * p
    enc = Cipher(algorithms.AES(key), modes.CBC(iv)).encryptor()
    return enc.update(data) + enc.finalize()


def cbc_decrypt(key: bytes, data: bytes, iv: bytes,
                unpad: bool = True) -> bytes:
    """AES-CBC decrypt; empty or misaligned ciphertext gives ``b""``.
    With ``unpad``, PKCS#7 is stripped only when structurally valid — a
    wrong key yields garbage padding, and the caller's downstream parse
    (flate/lexer) must see the garbage rather than an exception escaping
    the extract batch."""
    if len(data) % 16 or not data:
        return b""
    dec = Cipher(algorithms.AES(key), modes.CBC(iv)).decryptor()
    out = dec.update(data) + dec.finalize()
    p = out[-1]
    if unpad and 1 <= p <= 16 and out.endswith(bytes([p]) * p):
        out = out[:-p]
    return out


def aes_decrypt_payload(key: bytes, data: bytes) -> bytes:
    """PDF AES stream/string payload: leading 16-byte IV, then
    AES-CBC ciphertext with PKCS#7 padding (§7.6.3.1)."""
    if len(data) < 32:
        return b""
    return cbc_decrypt(key, data[16:], iv=data[:16])


def aes_encrypt_payload(key: bytes, data: bytes, iv: bytes) -> bytes:
    return iv + cbc_encrypt(key, data, iv=iv)


# ---------------------------------------------------------------------------
# PDF 2.0 (ISO 32000-2) V=5 R=6 — AES-256 with SHA-2 key derivation
# ---------------------------------------------------------------------------

def hash_2b(pw: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """Algorithm 2.B: the iterated SHA-256/384/512 password hash.  The
    round hash is chosen by the first AES block mod 3; iteration stops
    at round ≥ 64 once the last byte of E ≤ round - 32."""
    k = hashlib.sha256(pw + salt + udata).digest()
    rnd = 0
    while True:
        k1 = (pw + k + udata) * 64
        e = cbc_encrypt(k[:16], k1, iv=k[16:32], pad=False)
        k = (hashlib.sha256, hashlib.sha384,
             hashlib.sha512)[sum(e[:16]) % 3](e).digest()
        rnd += 1
        if rnd >= 64 and e[-1] <= rnd - 32:
            return k[:32]


def verify_user_pw_r6(u: bytes, ue: bytes,
                      user_pw: bytes = b"") -> bytes | None:
    """Algorithm 2.A (user-password leg): /U is hash(pw, vsalt) ‖
    vsalt(8) ‖ ksalt(8); on match the file key is the AES-256-CBC
    unwrap of /UE under hash(pw, ksalt) with a zero IV, no padding."""
    if len(u) < 48 or len(ue) < 32:
        return None
    if hash_2b(user_pw, u[32:40]) != u[:32]:
        return None
    return cbc_decrypt(hash_2b(user_pw, u[40:48]), ue[:32],
                       iv=b"\x00" * 16, unpad=False)


# ---------------------------------------------------------------------------
# fixture-side encryptor
# ---------------------------------------------------------------------------

_STREAM_RE = re.compile(rb"(stream\r?\n)(.*?)(\r?\nendstream)", re.DOTALL)
_OBJ_SPAN_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b.*?\bendobj", re.DOTALL)


def _escape_bytes(s: bytes) -> bytes:
    """Escape arbitrary (ciphertext) bytes into a PDF literal string
    body: backslash, parens, CR and LF — everything else rides raw."""
    out = bytearray()
    esc = {0x5C: b"\\\\", 0x28: b"\\(", 0x29: b"\\)",
           0x0D: b"\\r", 0x0A: b"\\n"}
    for b in s:
        out += esc.get(b, bytes([b]))
    return bytes(out)


def _rewrite_encrypted(raw: bytes, cipher, enc_dict: str,
                       id0: bytes, header: bytes = b"%PDF-1.4\n") -> bytes:
    """Re-serialize a classic-xref PDF with every stream body AND every
    dict literal string run through ``cipher(num, gen, plaintext)``,
    the given /Encrypt dictionary appended as a new object, and a fresh
    classic xref + trailer (carrying /Encrypt and /ID) — string
    ciphertext needs re-escaping, which shifts offsets, so the xref is
    rebuilt rather than patched.  The /Encrypt dict's own /O //U //UE
    strings are hex and (per spec) never themselves encrypted."""
    root = re.search(rb"/Root\s+(\d+)\s+(\d+)\s+R", raw)
    root_ref = (root.group(0) if root else b"/Root 1 0 R").decode("latin-1")

    objs: list[tuple[int, bytes]] = []
    for om in _OBJ_SPAN_RE.finditer(raw):
        num, gen = int(om.group(1)), int(om.group(2))
        seg = om.group(0)
        sm = _STREAM_RE.search(seg)
        head = seg[:sm.start()] if sm else seg

        def _enc_lit(m: re.Match, _n=num, _g=gen) -> bytes:
            return b"(" + _escape_bytes(
                cipher(_n, _g, _lit_bytes(m.group()))) + b")"

        head = re.sub(_LIT.encode(), _enc_lit, head)
        if sm:
            body = cipher(num, gen, seg[sm.start(2):sm.end(2)])
            # ciphertext length ≠ plaintext length under AES (IV +
            # padding) — rewrite /Length so the reader slices correctly
            # (direct lengths only: `(?!…R)` spares `/Length 8 0 R`)
            head = re.sub(rb"/Length\s+\d+(?![\d\s]*R)",
                          b"/Length %d" % len(body), head)
            seg = (head + seg[sm.start():sm.start(2)] + body
                   + seg[sm.end(2):])
        else:
            seg = head
        objs.append((num, seg))

    enum = max(num for num, _ in objs) + 1
    objs.append((enum, (
        f"{enum} 0 obj\n{enc_dict}\nendobj").encode("latin-1")))

    out = bytearray(header)
    offs: dict[int, int] = {}
    for num, seg in objs:
        offs[num] = len(out)
        out += seg + b"\n"
    xref_off = len(out)
    size = enum + 1
    rows = [b"0000000000 65535 f \n"]
    for i in range(1, size):
        rows.append(f"{offs[i]:010d} 00000 n \n".encode("latin-1")
                    if i in offs else b"0000000000 65535 f \n")
    out += f"xref\n0 {size}\n".encode("latin-1") + b"".join(rows)
    out += (
        f"trailer\n<< /Size {size} {root_ref} /Encrypt {enum} 0 R "
        f"/ID [<{id0.hex()}> <{id0.hex()}>] >>\n"
        f"startxref\n{xref_off}\n%%EOF\n"
    ).encode("latin-1")
    return bytes(out)


def encrypt_pdf_rc4(raw: bytes, user_pw: bytes = b"",
                    owner_pw: bytes = b"owner", r: int = 2,
                    keybits: int = 40) -> bytes:
    """RC4-encrypt a classic-xref PDF (fixture side).  ``r``/``keybits``:
    (2, 40) → V=1; (3, 40..128) → V=2."""
    n = keybits // 8
    v = 1 if (r == 2 and keybits == 40) else 2
    p = -64  # permissions bits; opaque to extraction
    id0 = hashlib.md5(raw).digest()
    o = owner_entry(owner_pw, user_pw, r, n)
    key = file_key(o, p, id0, user_pw, r, n)
    u = user_entry(key, id0, r)
    return _rewrite_encrypted(
        raw,
        lambda num, gen, data: rc4(obj_key(key, num, gen), data),
        f"<< /Filter /Standard /V {v} /R {r} /Length {keybits} /P {p} "
        f"/O <{o.hex()}> /U <{u[:32].hex()}> >>",
        id0)


def encrypt_pdf_aes(raw: bytes, user_pw: bytes = b"",
                    owner_pw: bytes = b"owner", v: int = 4,
                    cfm: str = "AESV2") -> bytes:
    """AES-encrypt a classic-xref PDF (fixture side).

    ``v=4, cfm='AESV2'`` → AES-128-CBC per-object-``sAlT`` keys
    (§7.6.5); ``v=4, cfm='V2'`` → RC4-128 inside the V4 crypt-filter
    container; ``v=5`` → PDF 2.0 AES-256 R6 (cfm forced to AESV3).
    Per-object IVs are deterministic functions of (/ID, num, gen) —
    the spec only asks that they be unpredictable to an attacker, and
    determinism keeps fixtures byte-stable."""
    p = -64
    id0 = hashlib.md5(raw).digest()

    def _iv(num: int, gen: int) -> bytes:
        return hashlib.md5(b"iv" + id0 + bytes([num & 0xFF,
                                                gen & 0xFF])).digest()

    if v == 5:
        fkey = hashlib.sha256(b"filekey" + id0).digest()
        uvs = hashlib.md5(b"uvs" + id0).digest()[:8]
        uks = hashlib.md5(b"uks" + id0).digest()[:8]
        u = hash_2b(user_pw, uvs) + uvs + uks
        ue = cbc_encrypt(hash_2b(user_pw, uks), fkey,
                         iv=b"\x00" * 16, pad=False)
        ovs = hashlib.md5(b"ovs" + id0).digest()[:8]
        oks = hashlib.md5(b"oks" + id0).digest()[:8]
        o = hash_2b(owner_pw, ovs, u) + ovs + oks
        oe = cbc_encrypt(hash_2b(owner_pw, oks, u), fkey,
                         iv=b"\x00" * 16, pad=False)
        perms = cbc_encrypt(fkey, (p & 0xFFFFFFFF).to_bytes(4, "little")
                            + b"\xff\xff\xff\xffTadbnois",
                            iv=b"\x00" * 16, pad=False)
        return _rewrite_encrypted(
            raw,
            lambda num, gen, data:
                aes_encrypt_payload(fkey, data, _iv(num, gen)),
            f"<< /Filter /Standard /V 5 /R 6 /Length 256 /P {p} "
            f"/CF << /StdCF << /CFM /AESV3 /AuthEvent /DocOpen "
            f"/Length 32 >> >> /StmF /StdCF /StrF /StdCF "
            f"/O <{o.hex()}> /U <{u.hex()}> "
            f"/OE <{oe.hex()}> /UE <{ue.hex()}> /Perms <{perms.hex()}> >>",
            id0, header=b"%PDF-2.0\n")

    # V=4 container: AESV2 (AES-128) or V2 (RC4-128) crypt filter
    r, n = 4, 16
    o = owner_entry(owner_pw, user_pw, r, n)
    key = file_key(o, p, id0, user_pw, r, n)
    u = user_entry(key, id0, r)
    if cfm == "AESV2":
        def cipher(num, gen, data):
            return aes_encrypt_payload(
                obj_key(key, num, gen, aes=True), data, _iv(num, gen))
    else:
        def cipher(num, gen, data):
            return rc4(obj_key(key, num, gen), data)
    return _rewrite_encrypted(
        raw, cipher,
        f"<< /Filter /Standard /V 4 /R 4 /Length 128 /P {p} "
        f"/CF << /StdCF << /CFM /{cfm} /AuthEvent /DocOpen "
        f"/Length 16 >> >> /StmF /StdCF /StrF /StdCF "
        f"/O <{o.hex()}> /U <{u[:32].hex()}> >>",
        id0)
