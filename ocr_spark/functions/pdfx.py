r"""Minimal deterministic PDF writer + content-stream text tokenizer.

Spec: BASELINE.json:6 — "tokenizes raw PDF byte-streams ... in batches,
applies layout-region classification (text-block vs figure vs table vs
boilerplate) via line-density and bounding-box heuristics".  Reference
code: REF:unavailable (SURVEY.md §0) — semantics are scoped to the
documented subset below, which our own corpus generator emits.

Supported PDF subset (documented per SURVEY.md §7 "hard parts"):
  - content streams (``stream ... endstream``), raw or /FlateDecode
    (zlib) per the stream object's own /Filter dict entry; a direct
    /Length slices the body exactly, else endstream-scan fallback
  - STRUCTURED (xref-driven) document parse: startxref → classic xref
    tables AND PDF 1.5+ cross-reference streams (/Type /XRef, /W field
    widths, /Index subsections, /Prev chains, PNG predictors 10–15 via
    /DecodeParms), compressed object streams (/Type /ObjStm, type-2
    xref entries), indirect /Length refs, page-tree walk (/Root →
    /Pages → /Kids, nested) with per-page /Contents (ref or array),
    hybrid-reference files (classic trailer /XRefStm → companion xref
    stream resolving the ObjStm-packed objects the classic table marks
    free), /Resources INHERITED from /Pages nodes (inline or indirect,
    page override wins) like /Rotate and /MediaBox.
    Any structural failure falls back to the positional stream scan
    (which skips /ObjStm and /XRef container streams so their bodies
    are never mistaken for page content)
  - text objects ``BT ... ET`` with operators:
      ``Tf`` (font size), ``Td``/``TD`` (translate; TD also sets leading),
      ``TL`` (leading), ``T*`` (next line), ``Tm`` (set matrix — e,f used),
      ``Tj`` (show string), ``TJ`` (show array; kern < tj_space_kern
      inserts one space), ``'`` (T* + Tj), ``"`` (spacing + T* + Tj)
  - literal strings ``( … )``, one rule (``_LIT`` + ``_unescape``) for
    content streams, dict strings and the fixture encryptor: unescaped
    parens balance up to three levels deep (a deeper or unbalanced
    ``(`` starts no string); escapes ``\\``, ``\(``, ``\)``, ``\n``,
    ``\r``, ``\t``, octal of 1–3 digits 0–7 with high-order overflow
    ignored (``\400`` → NUL); any other escaped char stands for itself
    (``\8`` → ``8``).  Not modeled: ``\b``, ``\f``, backslash-EOL line
    continuation
  - hex strings ``<4869>`` (whitespace ignored, odd length zero-padded)
  - UTF-16BE text strings (FE FF BOM), literal or hex — the standard
    real-producer encoding for non-ASCII text
  - Type0/CID composite fonts (the subset-embedded-font form): 2-byte
    Identity-H show strings decoded through the font's /ToUnicode CMap
    (bfchar + both bfrange forms), font resolved per page via
    /Resources /Font — structured-parse path only (the positional
    fallback has no font table, so CID strings stay byte-literal there)
  - multi-page documents: one content stream per page, classified per
    stream so document order never interleaves pages
  - path ops ``x y w h re`` followed by ``f``/``S``/``B`` outside BT..ET
    are figure regions (drawings)
  - inline images ``BI <dict> ID <binary> EI``: the binary payload is
    stripped before tokenizing (its bytes would otherwise parse as
    phantom strings/operators) and the image becomes a figure region
    placed by the current ``cm`` matrix (the ``q w 0 0 h x y cm BI…EI Q``
    producer idiom)
  - XObjects via ``/Name Do`` (structured-parse path, classic layout):
    /Subtype /Image → figure placed by the current ``cm``; /Subtype
    /Form → the form's content stream is tokenized recursively with the
    FORM's own /Resources (fonts + nested XObjects, depth-bounded) and
    its runs/figures translated by the ``cm`` translation — the
    letterhead/stamp/imposition layout real producers emit
  - page ``/Rotate`` 90/180/270 (inheritable, resolved down the page
    tree like /MediaBox): runs/figures are remapped into DISPLAY space
    so reading order and header/footer band classification match what a
    viewer shows (the scanned-sideways/upside-down case); position
    mapping only — glyph orientation is not modeled
  - multi-column reading order: per page, vertical gutters (x-gaps no
    body run crosses, ≥ column_gutter_min) split runs into columns read
    left→right before top→bottom; header/footer-band runs are excluded
    from detection (full-width titles span the gutter by design) but
    ordered with column 0; single-column pages take the untouched path
  - simple-font /Encoding /Differences (structured-parse path): Type1/
    TrueType fonts whose /Encoding dict (inline or indirect) carries a
    /Differences array decode show strings byte-by-byte through the
    mapped codes — glyph names resolved via an AGL subset (European
    Latin, punctuation, currency) plus algorithmic /uniXXXX; unmapped
    names keep their byte-literal meaning.  The WinAnsi/Standard base
    encodings agree with latin-1 on our corpus subset, so only the
    Differences overrides need mapping
  - text rendering mode ``Tr``: mode 3 (invisible) is the OCR-text-layer
    idiom — scanned-PDF producers paint the recognized text invisibly
    over the page image.  Kept by default (for an OCR corpus the
    invisible layer IS the content); cfg.keep_invisible_text=False
    drops mode-3 runs (hidden-keyword-spam defense for web corpora).
    Tr is text STATE: it persists across BT..ET within a stream
  - encrypted documents (/Encrypt in any trailer, classic or
    xref-stream, checked even when the page walk fails): the standard
    security handler's RC4 subset (V≤2, R 2/3, EMPTY user password —
    the "secured but readable" web PDF) is DECRYPTED in-subset
    (functions/pdfcrypt.py: file key from /O //P //ID per §7.6.3,
    verified against /U, per-object keys over stream bodies and dict
    strings); anything else — AES V≥4, a real password, a tampered /U
    — emits ZERO runs/figures, never ciphertext-as-text via the
    positional fallback; the doc still flows through lineage with 0
    spans
  - filled AcroForm text fields (structured-parse path): /Subtype
    /Widget annotations with /FT /Tx and a literal-string /V (merged
    widget+field dicts, the common producer layout) render as
    ``name: value`` text runs at their /Rect — the scanned-form idiom
    where the filled value is page content
  - /Outlines bookmarks (structured-parse path): depth-first /First +
    /Next walk (depth/count/cycle-bounded), /Title strings (UTF-16BE
    decoded) emitted as one 'toc' block leading the document — the
    bookmarks-panel reading of a scanned book
  - link annotations (structured-parse path): page /Annots whose
    /Subtype is /Link with a /Rect and a URI action (/A << /S /URI
    /URI (...) >>, literal-string form) become 'link' blocks placed by
    their Rect in reading order — downstream they emit media spans
    whose media_ref is the URI, so hyperlink targets survive
    main-content extraction.  The positional fallback has no page
    dicts, so raw fragments carry no links (documented subset)

Everything here is pure Python over bytes/str — it runs vectorized over
Arrow batches inside mapInPandas (no Spark imports in this module).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from ocr_spark.config import DEFAULT, ExtractConfig

# ---------------------------------------------------------------------------
# tokenizer
# ---------------------------------------------------------------------------

# The literal string ``( … )`` (PDF 32000 §7.3.4.2), the one definition
# every consumer builds on: backslash escapes, and unescaped parens
# balanced up to three levels deep.  A deeper or unbalanced ``(`` starts
# no string, so every scanner steps over it as one character.  Its own
# (?s:) makes ``\<newline>`` an escape whatever the consumer's flags;
# the alternatives are disjoint, so possessive repeats never change a
# match, they only stop a failing one from backtracking.
_LIT = r"\((?:[^\\()]++|\\.)*+\)"
_LIT = r"\((?:[^\\()]++|\\.|" + _LIT + r")*+\)"
_LIT = r"(?s:\((?:[^\\()]++|\\.|" + _LIT + r")*+\))"

_ESC = {"\\": "\\", "(": "(", ")": ")", "n": "\n", "r": "\r", "t": "\t"}
_ESC_RE = re.compile(r"\\([0-7]{1,3}|.)", re.DOTALL)


def _unescape_one(m: re.Match) -> str:
    e = m.group(1)
    if e[0] in "01234567":
        # octal: 1–3 digits 0–7, high-order overflow ignored (\400 → \0)
        return chr(int(e, 8) & 0xFF)
    return _ESC.get(e, e)  # any other escaped char stands for itself


def _unescape(s: str) -> str:
    """Body of a literal string (latin-1 str) → the bytes it encodes,
    as latin-1 str.  Bytes callers round-trip through latin-1."""
    if "\\" not in s:  # overwhelmingly common case — no escape present
        return s
    return _ESC_RE.sub(_unescape_one, s)


def _lit_bytes(lit: bytes) -> bytes:
    """The bytes a matched ``( … )`` literal string stands for."""
    return _unescape(lit[1:-1].decode("latin-1")).encode("latin-1")


# (?<!end): the bare keyword scan must not match the 'stream' suffix
# inside 'endstream', which would yield a phantom segment duplicating
# the next stream's content in multi-stream PDFs
_STREAM_KW_RE = re.compile(rb"(?<!end)stream\r?\n")
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?![\s\d]*R)")
_FILTER_RE = re.compile(rb"/Filter\s*(?:\[([^\]]*)\]|\s*/([A-Za-z0-9]+))")


def _dict_before(data: bytes, pos: int) -> bytes | None:
    """The ``<< ... >>`` object dictionary immediately preceding the
    ``stream`` keyword at ``pos`` (balanced for nested dicts), or None.

    Parsing the stream's OWN dict — instead of a fixed-size window scan —
    means a long dict can't hide its /Filter, and stray 'FlateDecode'
    bytes in a previous object can't mislabel a raw stream."""
    i = pos
    while i > 0 and data[i - 1 : i].isspace():
        i -= 1
    if data[i - 2 : i] != b">>":
        return None
    depth, j = 1, i - 2
    while j > 0 and depth:
        if data[j - 2 : j] == b">>":
            depth += 1
            j -= 2
        elif data[j - 2 : j] == b"<<":
            depth -= 1
            j -= 2
        else:
            j -= 1
    return data[j : i] if depth == 0 else None


def _stream_segments(data: bytes):
    """Yield (stream_dict, body) per content stream.  When the dict
    carries a direct /Length the body is sliced exactly (robust to
    'endstream' bytes occurring inside compressed payloads); otherwise
    fall back to scanning for the next ``endstream`` keyword.

    Scans with a manual cursor that always advances PAST the consumed
    body: 'stream\\n' byte sequences occurring INSIDE a previous stream's
    compressed payload are never keyword matches, so they can neither
    inject a phantom segment nor shift the positional page index of the
    real streams that follow."""
    pos = 0
    while True:
        m = _STREAM_KW_RE.search(data, pos)
        if m is None:
            return
        d = _dict_before(data, m.start())
        start = m.end()
        body = None
        if d is not None:
            lm = _LENGTH_RE.search(d)
            if lm:
                end = start + int(lm.group(1))
                if end <= len(data) and re.match(rb"\s*endstream", data[end:end + 16]):
                    body = data[start:end]
                    pos = data.find(b"endstream", end) + len(b"endstream")
        if body is None:
            em = data.find(b"endstream", start)
            if em < 0:
                pos = start
                continue
            body = data[start:em]
            if body.endswith(b"\r\n"):
                body = body[:-2]
            elif body.endswith((b"\n", b"\r")):
                body = body[:-1]
            pos = em + len(b"endstream")
        yield d or b"", body


# ---------------------------------------------------------------------------
# structured (xref-driven) document parse — PDF 1.5 xref/object streams
# ---------------------------------------------------------------------------

_OBJ_AT_RE = re.compile(rb"\s*(\d+)\s+(\d+)\s+obj\b")


def _dict_num(d: bytes, key: bytes) -> int | None:
    m = re.search(rb"/" + key + rb"\s+(\d+)(?![\s\d]*R)", d)
    return int(m.group(1)) if m else None


def _dict_ref(d: bytes, key: bytes) -> int | None:
    m = re.search(rb"/" + key + rb"\s+(\d+)\s+\d+\s+R\b", d)
    return int(m.group(1)) if m else None


def _dict_name(d: bytes, key: bytes) -> bytes | None:
    m = re.search(rb"/" + key + rb"\s*/([A-Za-z0-9]+)", d)
    return m.group(1) if m else None


def _dict_lit(d: bytes, key: bytes) -> bytes | None:
    """Unescaped bytes of the literal string ``/Key ( … )``."""
    m = re.search(rb"/" + key + rb"\s*(" + _LIT.encode() + rb")", d)
    return _lit_bytes(m.group(1)) if m else None


def _dict_arr(d: bytes, key: bytes) -> bytes | None:
    """Raw inner bytes of ``/Key [ ... ]`` (balanced for nested arrays)."""
    m = re.search(rb"/" + key + rb"\s*\[", d)
    if not m:
        return None
    i, depth, start = m.end(), 1, m.end()
    while i < len(d) and depth:
        c = d[i:i + 1]
        if c == b"[":
            depth += 1
        elif c == b"]":
            depth -= 1
        i += 1
    return d[start:i - 1] if depth == 0 else None


def _balanced_slice(b: bytes, pos: int) -> bytes | None:
    """The balanced ``<< ... >>`` starting at/after ``pos`` within a
    standalone bytes object (same scan as _Doc._balanced_dict, which
    works on whole-file offsets)."""
    m = re.match(rb"\s*<<", b[pos:pos + 64])
    if not m:
        return None
    i = pos + m.end()
    depth, start = 1, i - 2
    while i < len(b) - 1 and depth:
        two = b[i:i + 2]
        if two == b"<<":
            depth += 1
            i += 2
        elif two == b">>":
            depth -= 1
            i += 2
        else:
            i += 1
    return b[start:i] if depth == 0 else None


def _unpredict(data: bytes, predictor: int, columns: int) -> bytes:
    """PNG row predictors (10–15; 8-bit single-component rows — the form
    xref streams use).  Predictor < 10 → data is unfiltered."""
    if predictor < 10:
        return data
    rowlen = columns
    out = bytearray()
    prev = bytearray(rowlen)
    i = 0
    while i + 1 + rowlen <= len(data) + rowlen and i < len(data):
        ft = data[i]
        row = bytearray(data[i + 1:i + 1 + rowlen])
        i += 1 + rowlen
        if ft == 1:  # Sub
            for j in range(1, len(row)):
                row[j] = (row[j] + row[j - 1]) & 0xFF
        elif ft == 2:  # Up
            for j in range(len(row)):
                row[j] = (row[j] + prev[j]) & 0xFF
        elif ft == 3:  # Average
            for j in range(len(row)):
                a = row[j - 1] if j else 0
                row[j] = (row[j] + (a + prev[j]) // 2) & 0xFF
        elif ft == 4:  # Paeth
            for j in range(len(row)):
                a = row[j - 1] if j else 0
                b, c = prev[j], (prev[j - 1] if j else 0)
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[j] = (row[j] + pred) & 0xFF
        out += row
        prev = row
    return bytes(out)


def _filters_of(d: bytes) -> list[bytes]:
    """/Filter entry as an ordered (decode-order) list of filter names —
    single name or array form; [] when the stream is unfiltered."""
    fm = _FILTER_RE.search(d)
    if not fm:
        return []
    arr, name = fm.groups()
    if name:
        return [name]
    return re.findall(rb"/([A-Za-z0-9]+)", arr or b"")


def _parms_of(d: bytes, n: int) -> list[bytes | None]:
    """/DecodeParms (or /DP) per filter: a single dict applies to the
    first filter; the array form pairs ``null``/dict entries with the
    /Filter array positionally (PDF 32000 §7.3.8.2)."""
    m = re.search(rb"/(?:DecodeParms|DP)\b\s*", d)
    out: list[bytes | None] = []
    if m:
        pos = m.end()
        if d[pos:pos + 1] == b"[":
            pos += 1
            while len(out) < n:
                while pos < len(d) and d[pos:pos + 1].isspace():
                    pos += 1
                if d.startswith(b"null", pos):
                    out.append(None)
                    pos += 4
                elif d.startswith(b"<<", pos):
                    blk = _balanced_slice(d, pos)
                    if blk is None:
                        break
                    out.append(blk)
                    pos += len(blk)
                else:
                    break
        else:
            out.append(_balanced_slice(d, pos))
    out += [None] * (n - len(out))
    return out[:n]


def _decode_stream_body(d: bytes, body: bytes) -> bytes:
    """Apply the /Filter chain (+ per-filter /DecodeParms) to a stream
    body: Flate via zlib, LZW/ASCII85/ASCIIHex/RunLength via the
    from-scratch codecs in ``pdffilters``, PNG row predictors after
    Flate/LZW.  An image-only or unknown filter raises — the structured
    parse then falls back to the positional scan, which skips the
    stream: undecodable bytes must never tokenize as phantom text."""
    import zlib

    from ocr_spark.functions.pdffilters import DECODERS, lzw_decode

    filters = _filters_of(d)
    if not filters:
        return body
    for name, pm in zip(filters, _parms_of(d, len(filters))):
        if name in (b"FlateDecode", b"Fl"):
            body = zlib.decompress(body)
        elif name in (b"LZWDecode", b"LZW"):
            early = _dict_num(pm, b"EarlyChange") if pm else None
            body = lzw_decode(body, 1 if early is None else early)
        elif name in DECODERS:
            body = DECODERS[name](body)
        elif name == b"Crypt":
            continue  # decryption already ran (only /Identity survives)
        else:
            raise ValueError(f"unsupported stream filter {name!r}")
        if pm and name in (b"FlateDecode", b"Fl", b"LZWDecode", b"LZW"):
            pred = _dict_num(pm, b"Predictor") or 1
            cols = _dict_num(pm, b"Columns") or 1
            body = _unpredict(body, pred, cols)
    return body


class _Doc:
    """Xref-driven random-access view of one PDF byte buffer."""

    def __init__(self, data: bytes):
        self.data = data
        self.xref: dict[int, tuple] = {}   # obj → ('n', off) | ('c', stm, idx)
        self.root: int | None = None
        #: trailer declares /Encrypt: strings and stream bodies are
        #: ciphertext (RC4/AES) — decryptable in-subset when the
        #: standard security handler verifies with the EMPTY user
        #: password (V≤2 RC4, the "secured but readable" web PDF);
        #: otherwise callers must emit NO runs rather than garbage
        self.encrypted = False
        self.encrypt_ref: int | None = None   # /Encrypt obj num (newest)
        self.id0: bytes | None = None         # /ID[0] raw bytes (newest)
        self.crypt_key: bytes | None = None   # file key once verified
        self.crypt_aes = False                # cipher: AES-CBC vs RC4
        self.crypt_v5 = False                 # V=5: file key used directly
        self._objstm_cache: dict[int, dict[int, bytes]] = {}
        self._load_xref_chain()
        if self.encrypted:
            self._setup_decryption()

    # -- xref ---------------------------------------------------------------
    def _load_xref_chain(self):
        data = self.data
        i = data.rfind(b"startxref")
        if i < 0:
            raise ValueError("no startxref")
        m = re.match(rb"startxref\s+(\d+)", data[i:])
        if not m:
            raise ValueError("bad startxref")
        off = int(m.group(1))
        seen = set()
        while off is not None and off not in seen and 0 <= off < len(data):
            seen.add(off)
            if re.match(rb"\s*xref\b", data[off:off + 16]):
                off = self._load_classic_xref(off)
            else:
                off = self._load_xref_stream(off)

    def _load_classic_xref(self, off: int) -> int | None:
        data = self.data
        pos = off + data[off:off + 16].find(b"xref") + 4
        while True:
            m = re.match(rb"\s*(\d+)\s+(\d+)\s*[\r\n]+", data[pos:])
            if not m:
                break
            first, count = int(m.group(1)), int(m.group(2))
            pos += m.end()
            # corrupt subsection headers can claim billions of entries;
            # cap by what the remaining bytes can actually hold (20 B
            # per entry) so a truncated/fuzzed table can't hang the parse
            count = min(count, max((len(data) - pos) // 20, 0))
            for k in range(count):
                ent = data[pos:pos + 20]
                pos += 20
                if ent[17:18] == b"n" and (first + k) not in self.xref:
                    self.xref[first + k] = ("n", int(ent[:10]))
        tm = re.search(rb"trailer\s*", data[pos:pos + 256])
        if tm:
            td = self._balanced_dict(pos + tm.end())
            if td:
                if self.root is None:
                    self.root = _dict_ref(td, b"Root")
                if re.search(rb"/Encrypt\b", td):
                    self.encrypted = True
                    self._capture_encrypt_meta(td)
                # hybrid-reference file (PDF 32000 §7.5.8.4): the classic
                # trailer points at a companion xref STREAM holding the
                # entries (typically the objstm-compressed objects) that
                # the classic table omits; classic entries keep
                # precedence (first-loaded wins in self.xref)
                xs = _dict_num(td, b"XRefStm")
                if xs is not None and 0 <= xs < len(self.data):
                    try:
                        self._load_xref_stream(xs)
                    except Exception:
                        pass
                return _dict_num(td, b"Prev")
        return None

    def _load_xref_stream(self, off: int) -> int | None:
        d, body = self._parse_obj_at(off)
        if d is None or body is None or _dict_name(d, b"Type") != b"XRef":
            raise ValueError("startxref does not point at an xref section")
        raw = _decode_stream_body(d, body)
        W = [int(x) for x in re.findall(rb"\d+", _dict_arr(d, b"W") or b"")]
        size = _dict_num(d, b"Size") or 0
        idx = _dict_arr(d, b"Index")
        pairs = ([int(x) for x in re.findall(rb"\d+", idx)] if idx
                 else [0, size])
        rowlen = sum(W)
        if not 0 < rowlen <= 64 or len(W) < 3:
            raise ValueError("implausible xref-stream /W")
        pos = 0
        for first, count in zip(pairs[::2], pairs[1::2]):
            # cap claimed counts by the decoded bytes actually present
            # (corrupt /Index or /Size must not hang the loop)
            count = min(count, max((len(raw) - pos) // rowlen, 0))
            for k in range(count):
                row = raw[pos:pos + rowlen]
                pos += rowlen
                fields, o = [], 0
                for w in W:
                    fields.append(
                        int.from_bytes(row[o:o + w], "big") if w else 1)
                    o += w
                num = first + k
                if num in self.xref:
                    continue  # newer section wins (we walk newest-first)
                if fields[0] == 1:
                    self.xref[num] = ("n", fields[1])
                elif fields[0] == 2:
                    self.xref[num] = ("c", fields[1], fields[2])
        if self.root is None:
            self.root = _dict_ref(d, b"Root")
        if re.search(rb"/Encrypt\b", d):
            self.encrypted = True
            self._capture_encrypt_meta(d)
        return _dict_num(d, b"Prev")

    def _capture_encrypt_meta(self, td: bytes) -> None:
        """Remember the /Encrypt object ref and /ID[0] from the NEWEST
        trailer that carries them (the chain walks newest-first)."""
        if self.encrypt_ref is None:
            self.encrypt_ref = _dict_ref(td, b"Encrypt")
        if self.id0 is None:
            m = re.search(rb"/ID\s*\[\s*<([0-9A-Fa-f]*)>", td)
            if m:
                self.id0 = bytes.fromhex(m.group(1).decode("ascii"))

    def _setup_decryption(self) -> None:
        """Standard security handler, empty user password: resolve the
        /Encrypt dict, derive the file key, verify it against /U, and
        keep it for per-object stream/string decryption.  In-subset:
        V=1/2 RC4 (PDF 32000 §7.6.3), V=4 crypt filters with /CFM /V2
        (RC4) or /AESV2 (AES-128, §7.6.5), and V=5 R=6 /AESV3 (PDF 2.0
        AES-256, ISO 32000-2 Algorithm 2.A/2.B).  Out-of-subset
        handlers (custom security handlers, /Identity or per-stream
        crypt filters, non-empty passwords, deprecated R=5) leave
        ``crypt_key`` None — the caller then takes the emit-nothing
        path, never the ciphertext-as-text one."""
        from ocr_spark.functions import pdfcrypt

        if self.encrypt_ref is None:
            return
        try:
            ed = self.obj(self.encrypt_ref)
        except Exception:
            return
        if not ed or ed[0] is None:
            return
        d = ed[0]
        if _dict_name(d, b"Filter") != b"Standard":
            return
        v = _dict_num(d, b"V") or 0
        rm = re.search(rb"/R\s+(\d+)", d)
        r = int(rm.group(1)) if rm else 0
        o = self._encrypt_str(d, b"O")
        u = self._encrypt_str(d, b"U")
        if o is None or u is None:
            return

        if v == 5:
            # PDF 2.0 AES-256: /ID plays no key role; /U carries the
            # salts, /UE wraps the file key
            if r != 6:
                return
            ue = self._encrypt_str(d, b"UE")
            if ue is None:
                return
            self.crypt_key = pdfcrypt.verify_user_pw_r6(u, ue)
            self.crypt_aes = self.crypt_key is not None
            self.crypt_v5 = self.crypt_aes
            return

        if self.id0 is None:
            return
        n = (_dict_num(d, b"Length") or 40) // 8
        if v == 4:
            # crypt-filter container: only the uniform /StdCF layout
            # with both stream and string filters pointing at it
            if r != 4 or _dict_name(d, b"StmF") != b"StdCF" \
                    or _dict_name(d, b"StrF") != b"StdCF":
                return
            cm = re.search(
                rb"/StdCF\s*<<(.*?)>>", d, re.DOTALL)
            cfm = _dict_name(cm.group(1), b"CFM") if cm else None
            if cfm not in (b"V2", b"AESV2"):
                return
            self.crypt_aes = cfm == b"AESV2"
            n = 16
        elif v not in (1, 2) or r not in (2, 3):
            return
        pm = re.search(rb"/P\s+(-?\d+)", d)
        p = int(pm.group(1)) if pm else -1
        self.crypt_key = pdfcrypt.verify_user_pw(
            u, o, p, self.id0, r, n)
        if self.crypt_key is None:
            self.crypt_aes = False

    @staticmethod
    def _encrypt_str(d: bytes, key: bytes) -> bytes | None:
        """/O //U entry bytes from the encrypt dict — hex or literal
        form (these two strings are never themselves encrypted)."""
        m = re.search(rb"/" + key + rb"\s*<([0-9A-Fa-f\s]*)>", d)
        if m:
            return bytes.fromhex(
                m.group(1).decode("ascii").replace(" ", "")
                .replace("\n", "").replace("\r", ""))
        return _dict_lit(d, key)

    def _dict_str(self, d: bytes, key: bytes, num: int) -> str | None:
        """Decoded text of a literal-string dict entry (e.g. /Title,
        /V), decrypting with the per-object key when the document is
        encrypted.  Objects living INSIDE an object stream are exempt
        (the containing /ObjStm stream was already decrypted — spec
        says their strings are not separately encrypted).  Generation
        is taken as 0: the xref keeps no gen and non-zero gens are
        vanishingly rare in practice."""
        raw = _dict_lit(d, key)
        if raw is None:
            return None
        ent = self.xref.get(num)
        if self.crypt_key is not None and ent is not None and \
                ent[0] == "n":
            raw = self._decrypt_payload(raw, num, 0)
        return _pdf_text(raw.decode("latin-1"))

    # -- objects ------------------------------------------------------------
    def _balanced_dict(self, pos: int) -> bytes | None:
        return _balanced_slice(self.data, pos)

    def _parse_obj_at(self, off: int):
        """(dict_bytes|raw_value_bytes, stream_body|None) at offset."""
        data = self.data
        m = _OBJ_AT_RE.match(data, off)
        if not m:
            return None, None
        pos = m.end()
        d = self._balanced_dict(pos)
        if d is None:  # plain value object (e.g. an indirect /Length int)
            em = data.find(b"endobj", pos)
            return (data[pos:em].strip() if em > 0 else None), None
        pos2 = pos + len(re.match(rb"\s*", data[pos:]).group(0)) + len(d)
        sm = re.match(rb"\s*stream\r?\n", data[pos2:pos2 + 32])
        if not sm:
            return d, None
        start = pos2 + sm.end()
        length = _dict_num(d, b"Length")
        if length is None:  # indirect /Length — resolve through the xref
            ref = _dict_ref(d, b"Length")
            if ref is not None:
                v = self.obj(ref)
                if v and v[1] is None and v[0] and v[0].isdigit():
                    length = int(v[0])
        if length is not None and start + length <= len(data):
            body = data[start:start + length]
        else:
            em = data.find(b"endstream", start)
            body = data[start:em].rstrip(b"\r\n") if em > 0 else None
        return d, self._maybe_decrypt(d, body, int(m.group(1)),
                                      int(m.group(2)))

    def _maybe_decrypt(self, d: bytes, body: bytes | None, num: int,
                       gen: int):
        """RC4-decrypt a stream body with its per-object key once the
        file key is verified.  Cross-reference streams are NEVER
        encrypted (PDF 32000 §7.5.8.2 — they must be readable before
        any key exists), and the /Encrypt dict itself carries no
        stream.  Runs BEFORE _decode_stream_body: on disk the order is
        encrypt(flate(data)), so reading is flate(decrypt(data))."""
        if body is None or self.crypt_key is None or \
                _dict_name(d, b"Type") == b"XRef":
            return body
        return self._decrypt_payload(body, num, gen)

    def _decrypt_payload(self, data: bytes, num: int, gen: int) -> bytes:
        """Per-object decrypt under the verified file key: RC4 with the
        Algorithm-1 key (V≤2, V=4 /CFM /V2); AES-CBC with the sAlT-ed
        Algorithm-1 key (/AESV2) or the file key directly (V=5 /AESV3,
        which skips per-object derivation entirely)."""
        from ocr_spark.functions import pdfcrypt
        if self.crypt_aes:
            key = (self.crypt_key if self.crypt_v5 else
                   pdfcrypt.obj_key(self.crypt_key, num, gen, aes=True))
            return pdfcrypt.aes_decrypt_payload(key, data)
        return pdfcrypt.rc4(pdfcrypt.obj_key(self.crypt_key, num, gen),
                            data)

    def _objstm(self, num: int) -> dict[int, bytes]:
        if num in self._objstm_cache:
            return self._objstm_cache[num]
        out: dict[int, bytes] = {}
        ent = self.xref.get(num)
        if ent and ent[0] == "n":
            d, body = self._parse_obj_at(ent[1])
            if d is not None and body is not None and \
                    _dict_name(d, b"Type") == b"ObjStm":
                raw = _decode_stream_body(d, body)
                n = _dict_num(d, b"N") or 0
                first = _dict_num(d, b"First") or 0
                header = [int(x) for x in raw[:first].split()]
                offs = list(zip(header[::2], header[1::2]))
                for k, (onum, ooff) in enumerate(offs):
                    end = (first + offs[k + 1][1]) if k + 1 < len(offs) else len(raw)
                    out[onum] = raw[first + ooff:end].strip()
        self._objstm_cache[num] = out
        return out

    def obj(self, num: int):
        """(dict_or_value_bytes, stream_body|None) for object ``num``."""
        ent = self.xref.get(num)
        if ent is None:
            return None
        if ent[0] == "n":
            return self._parse_obj_at(ent[1])
        return self._objstm(ent[1]).get(num), None

    # -- page tree ----------------------------------------------------------
    def page_contents(self) -> list[tuple]:
        """7-tuples (decoded content bytes, font map, xobject map,
        rotate, (media W, media H), links, widgets) per page in
        page-tree order.  Font map: font resource name (str, e.g. 'F1')
        → tagged decode table (see _page_fonts).  XObject map: see
        _page_xobjects.  Links: see _page_links; widgets: see
        _page_widgets.  /Rotate, /MediaBox, and /Resources are
        INHERITABLE page attributes (PDF 32000 §7.7.3.4/§7.8.3): a value
        on a /Pages node applies to every descendant page unless
        overridden."""
        if self.root is None:
            raise ValueError("no /Root")
        cat = self.obj(self.root)
        if not cat or cat[0] is None:
            raise ValueError("bad catalog")
        pages_ref = _dict_ref(cat[0], b"Pages")
        out: list[tuple] = []
        self._walk_pages(pages_ref, out, depth=0,
                         rotate=0, media=(612.0, 792.0))
        if not out:
            raise ValueError("empty page tree")
        return out

    def _page_xobjects(self, d: bytes, depth: int = 0) -> dict:
        """XObject resource name → ('form', content str, fonts, nested
        xobjects) for /Subtype /Form, or ('image',) for /Subtype /Image,
        from a page (or form) dict's /Resources /XObject table.  Forms
        carry their own resources, so fonts/xobjects recurse (bounded)."""
        xobjs: dict[str, tuple] = {}
        if depth > 8:
            return xobjs
        rm = re.search(rb"/XObject\s*<<(.*?)>>", d, re.DOTALL)
        if not rm:
            return xobjs
        for xm in re.finditer(rb"/(\w+)\s+(\d+)\s+\d+\s+R\b", rm.group(1)):
            xo = self.obj(int(xm.group(2)))
            if not xo or xo[0] is None:
                continue
            sub = _dict_name(xo[0], b"Subtype")
            name = xm.group(1).decode("latin-1")
            if sub == b"Image":
                xobjs[name] = ("image",)
            elif sub == b"Form" and xo[1] is not None:
                content = _decode_stream_body(xo[0], xo[1]).decode("latin-1")
                xobjs[name] = ("form", content,
                               self._page_fonts(xo[0]),
                               self._page_xobjects(xo[0], depth + 1))
        return xobjs

    def _page_fonts(self, d: bytes) -> dict:
        """Font resource name → tagged decode table from the page's
        /Resources /Font dict:
          ('cid', {cid: unicode})   Type0 fonts with a /ToUnicode CMap
          ('enc', {code: unicode})  simple fonts (Type1/TrueType) whose
                                    /Encoding carries a /Differences
                                    array (glyph names resolved via the
                                    AGL subset + algorithmic /uniXXXX)
        Fonts with neither are omitted — their strings keep byte-literal
        semantics."""
        fonts: dict[str, tuple] = {}
        rm = re.search(rb"/Font\s*<<(.*?)>>", d, re.DOTALL)
        if not rm:
            return fonts
        for fm in re.finditer(rb"/(\w+)\s+(\d+)\s+\d+\s+R\b", rm.group(1)):
            fobj = self.obj(int(fm.group(2)))
            if not fobj or fobj[0] is None:
                continue
            name = fm.group(1).decode("latin-1")
            if _dict_name(fobj[0], b"Subtype") == b"Type0":
                tu = _dict_ref(fobj[0], b"ToUnicode")
                if tu is None:
                    continue
                cm = self.obj(tu)
                if cm and cm[1] is not None:
                    fonts[name] = ("cid", parse_tounicode_cmap(
                        _decode_stream_body(cm[0], cm[1])))
                continue
            enc = self._font_differences(fobj[0])
            if enc:
                fonts[name] = ("enc", enc)
        return fonts

    def _font_differences(self, fd: bytes) -> dict[int, str]:
        """{byte code → unicode} from a simple font's /Encoding
        /Differences array (inline dict or indirect object).  The array
        alternates start codes and glyph names: each number sets the
        next code, each name consumes one code.  Names outside the AGL
        subset (and not /uniXXXX) are skipped — those codes keep their
        byte-literal meaning."""
        er = _dict_ref(fd, b"Encoding")
        if er is not None:
            eo = self.obj(er)
            enc_d = eo[0] if eo else None
        else:
            em = re.search(rb"/Encoding\s*<<(.*?)>>", fd, re.DOTALL)
            enc_d = em.group(0) if em else None
        if not enc_d:
            return {}
        darr = _dict_arr(enc_d, b"Differences")
        if darr is None:
            return {}
        out: dict[int, str] = {}
        code = 0
        for tok in re.finditer(rb"(\d+)|/([A-Za-z0-9.]+)", darr):
            if tok.group(1) is not None:
                code = int(tok.group(1))
            else:
                u = _glyph_to_unicode(tok.group(2).decode("latin-1"))
                if u is not None:
                    out[code] = u
                code += 1
        return out

    def _node_resources(self, d: bytes) -> bytes | None:
        """The node's /Resources dict bytes (inline balanced dict or
        indirect object), or None when the node declares none."""
        ref = _dict_ref(d, b"Resources")
        if ref is not None:
            o = self.obj(ref)
            return o[0] if o else None
        m = re.search(rb"/Resources\b", d)
        if not m:
            return None
        return _balanced_slice(d, m.end())

    def _walk_pages(self, num: int | None, out: list, depth: int,
                    rotate: int = 0, media: tuple = (612.0, 792.0),
                    res: bytes | None = None):
        if num is None or depth > 32:
            return
        node = self.obj(num)
        if not node or node[0] is None:
            raise ValueError(f"missing page-tree node {num}")
        d = node[0]
        # /Resources is INHERITABLE like /Rotate and /MediaBox (PDF
        # 32000 §7.8.3): a /Pages-node dict applies to every descendant
        # page unless the page declares its own
        nr = self._node_resources(d)
        if nr is not None:
            res = nr
        # inheritable attributes: this node's value (if any) overrides
        rm = re.search(rb"/Rotate\s+(-?\d+)", d)
        if rm:
            rotate = int(rm.group(1)) % 360
        mb = re.search(
            rb"/MediaBox\s*\[\s*([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)"
            rb"\s+([\d.+-]+)\s*\]", d)
        if mb:
            x0, y0, x1, y1 = (float(mb.group(i)) for i in range(1, 5))
            media = (x1 - x0, y1 - y0)
        typ = _dict_name(d, b"Type")
        if typ == b"Pages":
            kids = _dict_arr(d, b"Kids") or b""
            for km in re.finditer(rb"(\d+)\s+\d+\s+R\b", kids):
                self._walk_pages(int(km.group(1)), out, depth + 1,
                                 rotate, media, res)
        elif typ == b"Page":
            parts: list[bytes] = []
            carr = _dict_arr(d, b"Contents")
            refs = ([int(m.group(1)) for m in
                     re.finditer(rb"(\d+)\s+\d+\s+R\b", carr)]
                    if carr is not None
                    else ([_dict_ref(d, b"Contents")]
                          if _dict_ref(d, b"Contents") is not None else []))
            for ref in refs:
                c = self.obj(ref)
                if not c or c[1] is None:
                    raise ValueError(f"missing content stream {ref}")
                parts.append(_decode_stream_body(c[0], c[1]))
            # effective resources: the inherited dict unless this page
            # declares its own (res already reflects the override);
            # fall back to scanning the page dict itself (inline
            # /Resources — the legacy single-page writer layout)
            eff = res if res is not None else d
            out.append((b"\n".join(parts), self._page_fonts(eff),
                        self._page_xobjects(eff), rotate, media,
                        self._page_links(d), self._page_widgets(d)))

    def _page_links(self, d: bytes) -> list[tuple]:
        """(x, y, w, h, uri) per /Subtype /Link annotation with a /Rect
        and a literal-string URI action in this page's /Annots array."""
        links: list[tuple] = []
        aarr = _dict_arr(d, b"Annots")
        if aarr is None:
            return links
        for am in re.finditer(rb"(\d+)\s+\d+\s+R\b", aarr):
            ao = self.obj(int(am.group(1)))
            if not ao or ao[0] is None:
                continue
            ad = ao[0]
            if _dict_name(ad, b"Subtype") != b"Link":
                continue
            rm = re.search(
                rb"/Rect\s*\[\s*([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)"
                rb"\s+([\d.+-]+)\s*\]", ad)
            uri = _dict_lit(ad, b"URI")
            if not rm or uri is None:
                continue
            x0, y0, x1, y1 = (float(rm.group(i)) for i in range(1, 5))
            links.append((min(x0, x1), min(y0, y1),
                          abs(x1 - x0), abs(y1 - y0), uri.decode("latin-1")))
        return links

    def outline_titles(self) -> list[str]:
        """Depth-first bookmark titles from the catalog's /Outlines tree
        (/First child + /Next sibling chains, /Title literal strings —
        UTF-16BE decoded like any PDF text string).  Depth- and
        count-bounded so cyclic or corrupt chains terminate."""
        titles: list[str] = []
        if self.root is None:
            return titles
        cat = self.obj(self.root)
        if not cat or cat[0] is None:
            return titles
        oref = _dict_ref(cat[0], b"Outlines")
        if oref is None:
            return titles
        seen: set[int] = set()

        def walk(num: int | None, depth: int):
            while num is not None and depth <= 16 and len(titles) < 1000 \
                    and num not in seen:
                seen.add(num)
                node = self.obj(num)
                if not node or node[0] is None:
                    return
                d = node[0]
                title = self._dict_str(d, b"Title", num)
                if title is not None:
                    titles.append(title)
                walk(_dict_ref(d, b"First"), depth + 1)
                num = _dict_ref(d, b"Next")

        onode = self.obj(oref)
        if onode and onode[0] is not None:
            walk(_dict_ref(onode[0], b"First"), 0)
        return titles

    def _page_widgets(self, d: bytes) -> list[tuple]:
        """(x, y, text) per filled AcroForm text field on this page: a
        /Subtype /Widget annotation whose field dict (merged, the common
        producer layout) carries /FT /Tx and a literal-string value /V.
        The rendered text is ``name: value`` when the field has a
        partial name /T, else the bare value — the scanned-form idiom
        where the filled value is page content a viewer shows at the
        widget's /Rect.  Choice/checkbox fields (/Ch, /Btn) and
        appearance-stream-only widgets are out of subset."""
        fields: list[tuple] = []
        aarr = _dict_arr(d, b"Annots")
        if aarr is None:
            return fields
        for am in re.finditer(rb"(\d+)\s+\d+\s+R\b", aarr):
            anum = int(am.group(1))
            ao = self.obj(anum)
            if not ao or ao[0] is None:
                continue
            ad = ao[0]
            if _dict_name(ad, b"Subtype") != b"Widget" or \
                    _dict_name(ad, b"FT") != b"Tx":
                continue
            rm = re.search(
                rb"/Rect\s*\[\s*([\d.+-]+)\s+([\d.+-]+)\s+([\d.+-]+)"
                rb"\s+([\d.+-]+)\s*\]", ad)
            if not rm:
                continue
            val = self._dict_str(ad, b"V", anum)
            if val is None:
                continue
            x0, y0, x1, y1 = (float(rm.group(i)) for i in range(1, 5))
            name = self._dict_str(ad, b"T", anum)
            if name is not None:
                val = f"{name}: {val}"
            if val:
                fields.append((min(x0, x1), min(y0, y1), val))
        return fields


# Adobe Glyph List subset — the names real producers put in
# /Differences arrays for Latin/European text ([public] AGL spec).
# /uniXXXX names are handled algorithmically in _glyph_to_unicode.
_AGL = {
    "Euro": "€", "bullet": "•", "emdash": "—", "endash": "–",
    "quotedblleft": "“", "quotedblright": "”",
    "quoteleft": "‘", "quoteright": "’",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "ellipsis": "…", "dagger": "†", "daggerdbl": "‡",
    "perthousand": "‰", "guilsinglleft": "‹", "guilsinglright": "›",
    "guillemotleft": "«", "guillemotright": "»", "trademark": "™",
    "copyright": "©", "registered": "®", "degree": "°",
    "plusminus": "±", "section": "§", "paragraph": "¶",
    "middot": "·", "periodcentered": "·", "multiply": "×",
    "divide": "÷", "cent": "¢", "sterling": "£", "yen": "¥",
    "florin": "ƒ", "fraction": "⁄", "onehalf": "½",
    "onequarter": "¼", "threequarters": "¾",
    "exclamdown": "¡", "questiondown": "¿",
    "agrave": "à", "aacute": "á", "acircumflex": "â", "atilde": "ã",
    "adieresis": "ä", "aring": "å", "ae": "æ", "ccedilla": "ç",
    "egrave": "è", "eacute": "é", "ecircumflex": "ê", "edieresis": "ë",
    "igrave": "ì", "iacute": "í", "icircumflex": "î", "idieresis": "ï",
    "eth": "ð", "ntilde": "ñ", "ograve": "ò", "oacute": "ó",
    "ocircumflex": "ô", "otilde": "õ", "odieresis": "ö", "oslash": "ø",
    "ugrave": "ù", "uacute": "ú", "ucircumflex": "û", "udieresis": "ü",
    "yacute": "ý", "thorn": "þ", "ydieresis": "ÿ", "germandbls": "ß",
    "szlig": "ß",
    "Agrave": "À", "Aacute": "Á", "Acircumflex": "Â", "Atilde": "Ã",
    "Adieresis": "Ä", "Aring": "Å", "AE": "Æ", "Ccedilla": "Ç",
    "Egrave": "È", "Eacute": "É", "Ecircumflex": "Ê", "Edieresis": "Ë",
    "Igrave": "Ì", "Iacute": "Í", "Icircumflex": "Î", "Idieresis": "Ï",
    "Eth": "Ð", "Ntilde": "Ñ", "Ograve": "Ò", "Oacute": "Ó",
    "Ocircumflex": "Ô", "Otilde": "Õ", "Odieresis": "Ö", "Oslash": "Ø",
    "Ugrave": "Ù", "Uacute": "Ú", "Ucircumflex": "Û", "Udieresis": "Ü",
    "Yacute": "Ý", "Thorn": "Þ",
    "oe": "œ", "OE": "Œ", "Scaron": "Š", "scaron": "š",
    "Zcaron": "Ž", "zcaron": "ž", "Ydieresis": "Ÿ",
    "fi": "ﬁ", "fl": "ﬂ", "dotlessi": "ı",
    "circumflex": "ˆ", "tilde": "˜", "macron": "¯", "breve": "˘",
    "dotaccent": "˙", "ring": "˚", "cedilla": "¸", "hungarumlaut": "˝",
    "ogonek": "˛", "caron": "ˇ", "grave": "`", "acute": "´",
    "dieresis": "¨", "brokenbar": "¦", "logicalnot": "¬",
    "ordfeminine": "ª", "ordmasculine": "º", "mu": "µ",
    "currency": "¤", "softhyphen": "­", "minus": "−",
}


def _glyph_to_unicode(name: str) -> str | None:
    """AGL-subset glyph name → unicode char; /uniXXXX algorithmic; None
    for names outside the documented subset (the code then keeps its
    byte-literal meaning)."""
    if len(name) == 7 and name.startswith("uni"):
        try:
            return chr(int(name[3:], 16))
        except ValueError:
            return None
    if len(name) == 1:
        return name  # single-letter names (A, a, ...) map to themselves
    return _AGL.get(name)


def parse_tounicode_cmap(data: bytes) -> dict[int, str]:
    """/ToUnicode CMap subset real producers emit: ``bfchar`` pairs and
    ``bfrange`` runs (contiguous and array-destination forms), source
    codes 1–2 bytes, destinations UTF-16BE hex strings."""
    cmap: dict[int, str] = {}
    txt = data.decode("latin-1", errors="replace")

    def _u(hexstr: str) -> str:
        if len(hexstr) % 2:  # odd digit count: implicit leading 0
            hexstr = "0" + hexstr
        raw = bytes.fromhex(hexstr)
        try:
            return raw.decode("utf-16-be")
        except Exception:
            return raw.decode("latin-1")

    for block in re.findall(
            r"beginbfchar(.*?)endbfchar", txt, re.DOTALL):
        for src, dst in re.findall(r"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>",
                                   block):
            cmap[int(src, 16)] = _u(dst)
    for block in re.findall(
            r"beginbfrange(.*?)endbfrange", txt, re.DOTALL):
        for m in re.finditer(
                r"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*"
                r"(?:<([0-9A-Fa-f]+)>|\[((?:\s*<[0-9A-Fa-f]+>)+)\s*\])",
                block):
            lo, hi = int(m.group(1), 16), int(m.group(2), 16)
            if m.group(3) is not None:  # contiguous run from a base dst
                # decode the base THROUGH UTF-16BE and step its last
                # character: a non-BMP base (8-hex-digit surrogate
                # pair) or a multi-char ligature expansion increments
                # the final code point — int(hex) would misread a
                # surrogate pair as one 32-bit scalar
                base_s = _u(m.group(3))
                last = ord(base_s[-1]) if base_s else None
                for c in range(lo, hi + 1):
                    if last is None or last + (c - lo) > 0x10FFFF:
                        break
                    cmap[c] = base_s[:-1] + chr(last + (c - lo))
            else:  # explicit per-code destination array
                dsts = re.findall(r"<([0-9A-Fa-f]+)>", m.group(4))
                for c, dst in zip(range(lo, hi + 1), dsts):
                    cmap[c] = _u(dst)
    return cmap


class _EncryptedPdf(Exception):
    """Trailer declares /Encrypt — strings/streams are ciphertext."""


def _structured_page_contents(
        data: bytes) -> tuple[list[tuple], list[str]] | None:
    """Xref-driven (page tuples, outline titles): page-ordered (decoded
    content string, font map, xobject map, rotate, media, links,
    widgets) tuples plus the document's /Outlines bookmark titles, or
    None when the document has no parseable structure (raw fragments,
    corrupt xref) —
    callers then fall back to the positional stream scan (which has no
    font, xobject, or annotation tables: Type0 decode, /Do dispatch, and
    link/field extraction need the structure).

    Raises _EncryptedPdf for documents whose trailer declares /Encrypt
    (checked even when the page walk fails, so an encrypted document
    never falls through to the positional scan and emits ciphertext
    bytes as phantom text)."""
    try:
        doc = _Doc(data)
        if doc.encrypted and doc.crypt_key is None:
            # declared /Encrypt and the empty-user-password RC4 subset
            # could not verify a key (AES, real password, corrupt dict):
            # emit nothing, never ciphertext garbage
            raise _EncryptedPdf
        return ([(c.decode("latin-1"), fonts, xobjs, rot, media, links, wdg)
                 for c, fonts, xobjs, rot, media, links, wdg
                 in doc.page_contents()], doc.outline_titles())
    except _EncryptedPdf:
        raise
    except Exception:
        # structure unparseable — but a trailer-declared /Encrypt must
        # still preempt the positional fallback (documented subset: the
        # check scans 512 bytes after each classic `trailer` keyword AND
        # 512 bytes around each xref-STREAM dict's /Type /XRef, the only
        # trailer-dict location in the 1.5+ layout — that layout has no
        # `trailer` keyword at all)
        for tm in re.finditer(rb"trailer\b", data):
            if re.search(rb"/Encrypt\b", data[tm.end():tm.end() + 512]):
                raise _EncryptedPdf from None
        for xm in re.finditer(rb"/Type\s*/XRef\b", data):
            lo = max(0, xm.start() - 512)
            if re.search(rb"/Encrypt\b", data[lo:xm.start() + 512]):
                raise _EncryptedPdf from None
        return None

# one token: PDF string (literal or hex), array, number, or operator name
_TOK_RE = re.compile(
    _LIT + r"""                # literal string
      | <[0-9A-Fa-f\s]*>       # hex string (whitespace allowed inside)
      | \[ | \]
      | /[A-Za-z0-9]+
      | [-+]?\d*\.?\d+
      | [A-Za-z'*"]+
    """,
    re.VERBOSE,
)


def _pdf_text(s: str) -> str:
    """PDF text-string semantics: a string beginning with the UTF-16BE
    BOM (FE FF) is UTF-16BE — the standard encoding real producers use
    for any non-ASCII text; a leading UTF-8 BOM (EF BB BF) marks the
    PDF 2.0 UTF-8 text-string form (ISO 32000-2 §7.9.2.2); everything
    else is kept as the byte-literal (PDFDocEncoding ≈ latin-1 for our
    subset).  Malformed payloads under either BOM fall back to the
    byte-literal rather than raising mid-extraction."""
    if s.startswith("\xfe\xff"):
        try:
            return s.encode("latin-1").decode("utf-16-be")[1:]
        except Exception:
            return s
    if s.startswith("\xef\xbb\xbf"):
        try:
            return s.encode("latin-1")[3:].decode("utf-8")
        except Exception:
            return s
    return s


@dataclass
class TextRun:
    x: float
    y: float
    text: str
    size: float
    page: int = 0
    col: int = 0


@dataclass
class PdfLine:
    y: float
    x0: float
    x1: float
    text: str
    size: float
    page: int = 0
    col: int = 0


@dataclass
class PdfBlock:
    kind: str     # 'text-block'|'table'|'boilerplate'|'figure'|'link'|'toc'
    lines: list[PdfLine] = field(default_factory=list)
    bbox: tuple[float, float, float, float] = (0.0, 0.0, 0.0, 0.0)
    page: int = 0
    col: int = 0
    uri: str = ""                  # link blocks only: the /URI action target

    @property
    def text(self) -> str:
        return "\n".join(ln.text for ln in self.lines)


def tokenize_pdf(data: bytes, cfg: ExtractConfig = DEFAULT) -> tuple[
        list[TextRun],
        list[tuple[int, float, float, float, float]],
        list[tuple[int, float, float, float, float, str]],
        list[str],
        list[float]]:
    """Parse content streams → positioned text runs + figure rects +
    link-annotation rects + /Outlines bookmark titles (structured-parse
    path only — raw fragments have no catalog), PAGE-TAGGED: each
    content stream is one page
    with its own coordinate space, so runs carry their stream index,
    figures are (page, x, y, w, h), and links are (page, x, y, w, h,
    uri) — every consumer (group_lines/group_blocks) keys on page first
    and document order never interleaves pages.

    Streams whose object dictionary declares ``/Filter /FlateDecode``
    (the overwhelmingly common real-world encoding) are zlib-inflated
    before tokenizing; raw streams are parsed as-is.

    Page discovery is STRUCTURED first (xref-driven — classic tables and
    PDF 1.5 xref/object streams, page order from the page tree), falling
    back to the positional stream scan for raw fragments or documents
    whose structure fails to parse (no page dicts there, so no links)."""
    runs: list[TextRun] = []
    figures: list[tuple[int, float, float, float, float]] = []
    links: list[tuple[int, float, float, float, float, str]] = []
    toc: list[str] = []
    heights: list[float] = []  # per-page DISPLAY height (post-/Rotate)
    try:
        structured = _structured_page_contents(data)
    except _EncryptedPdf:
        # /Encrypt with no key: every string and stream body is
        # ciphertext — the only honest extraction is the empty one
        # (the doc still flows through lineage with 0 spans)
        return runs, figures, links, toc, heights
    if structured is None:
        pages = [(content, {}, {}, 0, (612.0, 792.0), [], [])
                 for content in _stream_contents(data)]
    else:
        pages, toc = structured
    for page, (content, fonts, xobjs, rot, media, lks,
               wdgs) in enumerate(pages):
        r, f = _parse_content(content, [], [], cfg, fonts, xobjs)
        # filled form-field values render as positioned text runs (what
        # a viewer shows at the widget's rect) and flow through line /
        # block grouping like any other content
        r.extend(TextRun(wx, wy, wtext, 10.0) for wx, wy, wtext in wdgs)
        if rot in (90, 180, 270):
            r, f = _apply_rotation(r, f, rot, media)
            lks = [(*_rot_rect(lx, ly, lw, lh, rot, media), uri)
                   for lx, ly, lw, lh, uri in lks]
        for tr in r:
            tr.page = page
        runs.extend(r)
        figures.extend((page, *fig) for fig in f)
        links.extend((page, *lk) for lk in lks)
        # header/footer bands are fractions of the page's OWN height
        # (A4 ≠ US Letter); rotation swaps the display axes
        heights.append(media[0] if rot in (90, 270) else media[1])
    return runs, figures, links, toc, heights


def _rot_point(x: float, y: float, rot: int, media: tuple) -> tuple:
    """Content-space point → display-space point under the page's
    /Rotate (clockwise degrees).  Display dims: (W, H) for 0/180,
    (H, W) for 90/270."""
    W, H = media
    if rot == 90:
        return (y, W - x)
    if rot == 180:
        return (W - x, H - y)
    if rot == 270:
        return (H - y, x)
    return (x, y)


def _rot_rect(x: float, y: float, w: float, h: float,
              rot: int, media: tuple) -> tuple:
    """Content-space rect → display-space (x, y, w, h) under /Rotate."""
    x0, y0 = _rot_point(x, y, rot, media)
    x1, y1 = _rot_point(x + w, y + h, rot, media)
    return (min(x0, x1), min(y0, y1), abs(x1 - x0), abs(y1 - y0))


def _apply_rotation(runs, figures, rot: int, media: tuple):
    """Remap runs/figures into DISPLAY space so line grouping, reading
    order, and header/footer band classification see the page as a
    viewer does (an upside-down-scanned page with /Rotate 180 keeps its
    header at the display top).  Subset: POSITION mapping only — glyph
    orientation is not modeled (text content comes from the show
    operators either way), consistent with the translation-only
    placement convention of this parser."""
    for tr in runs:
        tr.x, tr.y = _rot_point(tr.x, tr.y, rot, media)
    out_figs = [_rot_rect(fx, fy, fw, fh, rot, media)
                for fx, fy, fw, fh in figures]
    return runs, out_figs


# container-stream types whose bodies are NOT page content — the
# positional fallback must never tokenize them
_CONTAINER_TYPE_RE = re.compile(rb"/Type\s*/(ObjStm|XRef)\b")


def _stream_contents(data: bytes):
    """Decoded (/Filter chain applied) content string per stream — the
    positional fallback path (no xref needed).  Corrupt or unsupported
    (image-only) filters skip the stream deterministically."""
    for sdict, raw in _stream_segments(data):
        if _CONTAINER_TYPE_RE.search(sdict):
            continue  # object/xref container, not page content
        try:
            yield _decode_stream_body(sdict, raw).decode("latin-1")
        except Exception:
            continue


# Inline images (BI <dict> ID <binary> EI): the binary payload must be
# removed BEFORE tokenizing — its bytes would otherwise parse as phantom
# strings/numbers/operators.  Per spec EI follows whitespace; the dict
# part never contains ID as a token.
_BI_HEAD_RE = re.compile(r"BI\b(.*?)\bID[ \r\n]", re.DOTALL)
_EI_RE = re.compile(r"\sEI(?=[\s]|$)")
#: inline-image /ColorSpace → component count (abbreviated names per
#: PDF 32000 §8.9.7; unknown spaces fall back to the delimiter scan)
_CS_COMPONENTS = {"G": 1, "DeviceGray": 1, "RGB": 3, "DeviceRGB": 3,
                  "CMYK": 4, "DeviceCMYK": 4}
#: the strippers' scan: one match per literal string, ``<<``, ``>>``,
#: hex string (an unterminated one runs to the end), name, or operator
#: word.  A word is an operator only where a token can start: at stream
#: start or after a PDF delimiter or whitespace (``5BI`` is none).
_SCAN_RE = re.compile(
    _LIT + r"|<<|>>|<[^>]*>?|/[A-Za-z0-9]*"
    r"""|(?<![^ \t\r\n\f\x00()<>\[\]{}/%])[A-Za-z][A-Za-z'"*]*""")


def _strip_inline_images(content: str) -> str:
    """Replace every ``BI <dict> ID <binary> EI`` with `` INLIMG ``.

    The binary payload can contain the three bytes `` EI `` by chance
    (probability ≈ N/2^24 for an N-byte image — routinely hit at real
    image sizes), so a pure delimiter scan truncates early and leaks
    image bytes into the token stream as phantom operators.  When the
    image dict declares uncompressed dimensions (/W /H /BPC, /CS or
    grayscale default, no /F filter), the payload length is COMPUTED
    (ceil(W·BPC·components/8)·H) and the EI scan starts after it; dicts
    with filters/unknown spaces keep the delimiter-scan fallback.

    The scan walks ``_SCAN_RE`` tokens, so literal and hex strings are
    opaque: prose like ``(the BI dashboard shows user ID 123) Tj`` is
    never mistaken for an image header (a text-only page would lose its
    entire remainder).  BI is only recognized as an operator word."""
    if "BI" not in content:
        return content
    out = []
    pos = i = 0  # start of not-yet-emitted text; scan cursor
    n = len(content)
    while (m := _SCAN_RE.search(content, i)) is not None:
        i = m.end()
        h = (_BI_HEAD_RE.match(content, m.start())
             if content.startswith("BI", m.start()) else None)
        if h is None:
            continue
        d = h.group(1)
        data_start = scan_from = h.end()
        if "/F" not in d:  # no filter → raw samples, length computable
            def _num(key):
                km = re.search(rf"/(?:{key})\s+(\d+)", d)
                return int(km.group(1)) if km else None
            wm, hm, bm = _num("W(?:idth)?"), _num("H(?:eight)?"), \
                _num("BPC|BitsPerComponent")
            cm_ = re.search(r"/CS\s*/(\w+)|/ColorSpace\s*/(\w+)", d)
            comps = _CS_COMPONENTS.get(
                (cm_.group(1) or cm_.group(2)) if cm_ else "G")
            if wm and hm and bm and comps:
                scan_from = min(
                    data_start + ((wm * bm * comps + 7) // 8) * hm, n)
        em = _EI_RE.search(content, scan_from)
        out.append(content[pos:m.start()])
        out.append(" INLIMG ")
        if em is None:
            # unterminated image: drop the remainder (corrupt
            # payload must never tokenize)
            return "".join(out)
        pos = i = em.end()
    out.append(content[pos:])
    return "".join(out)


def _strip_artifacts(content: str) -> str:
    """Remove ``/Artifact … BDC … EMC`` marked-content spans (PDF 32000
    §14.8.2.2): real producers tag running headers/footers, page
    numbers, watermarks, and decorative rules as pagination/layout
    artifacts — by definition NOT part of the page's real content, so a
    main-content extractor drops them (``cfg.keep_artifacts`` keeps
    them for archival extraction).

    The scan walks ``_SCAN_RE`` tokens like ``_strip_inline_images``:
    literal and hex strings are opaque (prose mentioning ``/Artifact
    BDC`` is never stripped), ``<<…>>`` property dicts are skipped
    whole so names inside them can't masquerade as the tag operand, and
    nested marked content inside an artifact (``BMC``/``BDC`` …
    ``EMC``) is counted so the strip ends at the MATCHING ``EMC``.  An
    unterminated artifact drops the stream remainder — corrupt spans
    must never leak as phantom content.  Non-artifact marked content
    (``/Span``, ``/P``, ``/ReversedChars`` …) passes through untouched:
    the main tokenizer treats BMC/BDC/EMC as unknown no-op operators."""
    if "/Artifact" not in content:
        return content
    out: list[str] = []
    pos = 0           # start of not-yet-emitted text
    ddepth = 0        # << >> dict nesting (operands are opaque inside)
    art_depth = 0     # marked-content nesting INSIDE an open artifact
    art_from = 0      # splice start (the /Artifact tag position)
    first_operand: str | None = None
    operand_pos = 0
    for m in _SCAN_RE.finditer(content):
        t = m.group()
        if t == "<<":
            ddepth += 1
        elif t == ">>":
            ddepth = max(0, ddepth - 1)
        elif ddepth or t[0] in "(<":
            pass  # a string, or anything inside a dict
        elif t[0] == "/":
            if first_operand is None:
                first_operand, operand_pos = t[1:], m.start()
        else:
            if t in ("BDC", "BMC"):
                if art_depth:
                    art_depth += 1
                elif first_operand == "Artifact":
                    art_depth, art_from = 1, operand_pos
            elif t == "EMC" and art_depth:
                art_depth -= 1
                if art_depth == 0:
                    out.append(content[pos:art_from])
                    out.append(" ")
                    pos = m.end()
            first_operand = None
    if art_depth:  # unterminated artifact: drop the remainder
        out.append(content[pos:art_from])
        return "".join(out)
    out.append(content[pos:])
    return "".join(out)


def _cid_decode(raw: str, cmap: dict[int, str]) -> str:
    """Type0/CID show-string: consecutive 2-byte codes through the
    font's ToUnicode CMap (Identity-H byte order); unmapped codes keep
    their code point (the Identity fallback)."""
    b = raw.encode("latin-1")
    out = []
    for i in range(0, len(b) - 1, 2):
        code = (b[i] << 8) | b[i + 1]
        out.append(cmap.get(code, chr(code)))
    if len(b) % 2:  # stray trailing byte: keep as-is
        out.append(chr(b[-1]))
    return "".join(out)


def _parse_content(content, runs, figures, cfg, fonts=None, xobjs=None,
                   depth=0, mode0=0):
    # inline images → placeholder operator; placement taken from the
    # current transformation matrix (the standard `q w 0 0 h x y cm
    # BI … EI Q` producer idiom)
    content = _strip_inline_images(content)
    if not cfg.keep_artifacts:
        content = _strip_artifacts(content)
    toks = _TOK_RE.findall(content)
    x = y = 0.0
    size = 12.0
    leading = 14.0
    ctm = (1.0, 1.0, 0.0, 0.0)  # CTM (a, d, e, f) — b=c=0 subset
    gs_stack: list[tuple] = []  # q/Q save/restore: (ctm, Tr mode)
    in_text = False
    stack: list = []  # operand stack (numbers / strings / arrays)
    arr: list | None = None
    last_name = None
    cur_font: tuple | None = None   # ('cid', cmap) | ('enc', {code: ch})
    # text rendering mode (Tr): part of the TEXT STATE in the graphics
    # state, so it persists across BT..ET boundaries within a stream
    # AND is inherited by invoked form XObjects (mode0 — forms snapshot
    # the caller's graphics state; their own changes don't leak back).
    # Mode 3 = invisible — the OCR-text-layer idiom; kept or dropped
    # per cfg.keep_invisible_text.
    mode = mode0

    def decode_str(raw: str) -> str:
        if cur_font is not None:
            tag, table = cur_font
            if tag == "cid":
                return _cid_decode(raw, table)
            # simple font with /Differences: one byte per glyph, mapped
            # codes resolve via the encoding, the rest stay literal
            return "".join(table.get(ord(ch), ch) for ch in raw)
        return _pdf_text(raw)

    def nums(n: int) -> list[float] | None:
        """The top-n operands iff they are ALL numbers — a corrupt
        stream (e.g. decoded binary garbage on the positional fallback)
        can leave strings/arrays on the stack, and extraction must
        degrade by skipping the operator, never raise."""
        vals = stack[-n:]
        if len(vals) == n and all(isinstance(v, float) for v in vals):
            return vals
        return None

    for t in toks:
        if t == "[":
            arr = []
            continue
        if t == "]":
            stack.append(arr if arr is not None else [])
            arr = None
            continue
        if t.startswith("("):
            s = decode_str(_unescape(t[1:-1]))
            if arr is not None:
                arr.append(s)
            else:
                stack.append(s)
            continue
        if t.startswith("<"):
            # hex string: whitespace ignored, odd length padded with 0
            hx = re.sub(r"\s", "", t[1:-1])
            if len(hx) % 2:
                hx += "0"
            s = decode_str(bytes.fromhex(hx).decode("latin-1"))
            if arr is not None:
                arr.append(s)
            else:
                stack.append(s)
            continue
        if t.startswith("/"):
            last_name = t[1:]  # remembered for Tf (font selection)
            continue
        if t[0] in "-+.0123456789":  # _TOK_RE guarantees a valid number here
            v = float(t)
            if arr is not None:
                arr.append(v)
            else:
                stack.append(v)
            continue
        # operator
        if t == "BT":
            in_text, x, y = True, 0.0, 0.0
        elif t == "ET":
            in_text = False
        elif t == "Tf":
            if (v := nums(1)) is not None:
                size = v[0]
            cur_font = (fonts or {}).get(last_name)
        elif t == "TL":
            if (v := nums(1)) is not None:
                leading = v[0]
        elif t in ("Td", "TD"):
            if (v := nums(2)) is not None:
                tx, ty = v
                x, y = x + tx, y + ty
                if t == "TD":
                    leading = -ty if ty else leading
        elif t == "Tm":
            if (v := nums(6)) is not None:
                x, y = v[4], v[5]
        elif t == "T*":
            y -= leading
        elif t == "Tr" and stack and isinstance(stack[-1], float):
            # isinstance guard: a corrupt stream can leave a string on
            # the stack, and extraction must degrade, never raise
            mode = int(stack[-1])
        elif t == "Tj" and stack and isinstance(stack[-1], str):
            if in_text and stack[-1] and (
                    mode != 3 or cfg.keep_invisible_text):
                runs.append(TextRun(x, y, stack[-1], size))
        elif t in ("'", '"') and stack and isinstance(stack[-1], str):
            # ' = next-line + show;  " = aw ac string " (word/char
            # spacing set then next-line + show — spacing ignored here,
            # as for Tc/Tw generally)
            y -= leading
            if in_text and stack[-1] and (
                    mode != 3 or cfg.keep_invisible_text):
                runs.append(TextRun(x, y, stack[-1], size))
        elif t == "TJ" and stack and isinstance(stack[-1], list):
            parts: list[str] = []
            for el in stack[-1]:
                if isinstance(el, str):
                    parts.append(el)
                elif isinstance(el, float) and el < cfg.tj_space_kern:
                    parts.append(" ")
            txt = "".join(parts)
            if in_text and txt and (mode != 3 or cfg.keep_invisible_text):
                runs.append(TextRun(x, y, txt, size))
        elif t == "re":
            if (v := nums(4)) is not None and not in_text:
                figures.append(tuple(v))
        elif t == "cm":
            if (v := nums(6)) is not None:
                # concatenate with the current CTM (PDF 32000 §8.4.4) —
                # replacing instead only looks right when every producer
                # wraps each placement in its own q…cm…Q; diag+translate
                # subset (b=c=0), matching all placement math here
                a, d, e, f = ctm
                ctm = (v[0] * a, v[3] * d, v[4] * a + e, v[5] * d + f)
        elif t == "q":
            if len(gs_stack) < 64:  # bound: corrupt streams can spam q
                gs_stack.append((ctm, mode))
        elif t == "Q":
            if gs_stack:
                ctm, mode = gs_stack.pop()
        elif t == "INLIMG":
            if not in_text:
                # unit image square scaled by (a, d), placed at (e, f)
                figures.append((ctm[2], ctm[3], ctm[0], ctm[1]))
        elif t == "Do" and last_name is not None:
            # XObject invocation: image → figure placed by the current
            # cm (as for inline images); Form → recursively tokenize its
            # content stream with the FORM's own resources, then
            # translate its runs/figures by the cm translation (the
            # `q 1 0 0 1 x y cm /Fm Do Q` producer idiom — subset:
            # translation only, as for all placement here)
            xo = (xobjs or {}).get(last_name)
            if xo is not None and not in_text:
                if xo[0] == "image":
                    figures.append((ctm[2], ctm[3], ctm[0], ctm[1]))
                elif xo[0] == "form" and depth < 8:
                    fr, ff = _parse_content(
                        xo[1], [], [], cfg, xo[2], xo[3], depth + 1,
                        mode0=mode)
                    dx, dy = ctm[2], ctm[3]
                    for tr in fr:
                        tr.x += dx
                        tr.y += dy
                    runs.extend(fr)
                    figures.extend(
                        (fx + dx, fy + dy, fw, fh) for fx, fy, fw, fh in ff)
        if t not in ("[", "]"):
            stack = stack[-8:]  # bound the stack; operands are consumed loosely
    return runs, figures


def assign_columns(runs, figures, cfg: ExtractConfig = DEFAULT,
                   page_heights: list[float] | None = None):
    """Multi-column reading order: per page, find vertical gutters — an
    x-gap at least ``column_gutter_min`` wide that no BODY run's
    estimated extent crosses — and assign every run/figure a column
    index (left→right).  Runs inside the header/footer bands (titles,
    page numbers) are excluded from gutter detection, since full-width
    banners legitimately span the gutter, but are still assigned a
    column so a centered title (col 0) precedes both columns' body.
    Single-column pages (no qualifying gutter) are untouched — the
    whole synthetic corpus and the pinned goldens take that path.

    Figures in: (page, x, y, w, h); out: (page, col, x, y, w, h)."""
    by_page: dict[int, list[TextRun]] = {}
    for r in runs:
        by_page.setdefault(r.page, []).append(r)
    ph = page_heights or []
    bounds_by_page = {
        page: _column_bounds(
            rs, cfg, ph[page] if page < len(ph) else cfg.page_height)
        for page, rs in by_page.items()
    }

    def col_of(page: int, x: float) -> int:
        c = 0
        for b in bounds_by_page.get(page, ()):
            if x >= b:
                c += 1
        return c

    for r in runs:
        r.col = col_of(r.page, r.x)
    out_figs = [(pg, col_of(pg, rx), rx, ry, rw, rh)
                for pg, rx, ry, rw, rh in figures]
    return runs, out_figs


def _column_bounds(rs: list, cfg: ExtractConfig,
                   page_h: float | None = None) -> list[float]:
    """Gutter center x-positions for one page's runs (possibly several —
    3-column layouts split recursively by construction: every gap in the
    merged-interval walk is its own boundary)."""
    if not cfg.column_gutter_min or len(rs) < 2 * cfg.column_min_lines:
        return []
    page_h = page_h or cfg.page_height
    top_band = page_h * (1.0 - cfg.header_footer_band)
    bot_band = page_h * cfg.header_footer_band
    body = [r for r in rs if bot_band < r.y < top_band]
    if len(body) < 2 * cfg.column_min_lines:
        return []
    ivs = sorted((r.x, r.x + 0.5 * r.size * len(r.text)) for r in body)
    merged: list[list[float]] = []
    for a, b in ivs:
        if merged and a <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    bounds = []
    for (_, b0), (a1, _) in zip(merged, merged[1:]):
        if a1 - b0 < cfg.column_gutter_min:
            continue
        center = (b0 + a1) / 2
        left = sum(1 for r in body if r.x < center)
        right = sum(1 for r in body if r.x >= center)
        if left >= cfg.column_min_lines and right >= cfg.column_min_lines:
            bounds.append(center)
    return bounds


def group_lines(runs: list[TextRun],
                cfg: ExtractConfig = DEFAULT) -> list[PdfLine]:
    """Group runs by (page, column, y) (y within 0.5pt) → lines;
    x-ordered text; line order = page, then column left→right, then top
    of page first — two runs at the same y in DIFFERENT columns are
    different lines (merging them interleaves the columns' text).

    Adjacent runs on one line join with a space only when the x-gap
    between the previous run's estimated extent and the next run's
    start is at least ``run_join_space_min`` ems: producers routinely
    split one WORD across several Tj/Td runs for kerning or font
    switches (``(ex) Tj 12.3 0 Td (ample) Tj``), and the unconditional
    space the old join inserted broke those words apart."""
    lines: list[PdfLine] = []
    by_key: dict[tuple[int, int, float], list[TextRun]] = {}
    for r in runs:
        key = (r.page, r.col, round(r.y * 2) / 2)
        by_key.setdefault(key, []).append(r)
    for page, col, y in sorted(by_key, key=lambda k: (k[0], k[1], -k[2])):
        rs = sorted(by_key[(page, col, y)], key=lambda r: r.x)
        parts = [rs[0].text]
        for prev, r in zip(rs, rs[1:]):
            gap = r.x - (prev.x + 0.5 * prev.size * len(prev.text))
            if gap >= cfg.run_join_space_min * prev.size:
                parts.append(" ")
            parts.append(r.text)
        text = "".join(parts)
        width = sum(0.5 * r.size * len(r.text) for r in rs)
        lines.append(PdfLine(y, rs[0].x, rs[0].x + width, text, rs[0].size,
                             page, col))
    return lines


def group_blocks(lines: list[PdfLine], figures, cfg: ExtractConfig = DEFAULT,
                 links=(), page_heights: list[float] | None = None
                 ) -> list[PdfBlock]:
    """Lines (page/column-major, top→bottom) → blocks split on page or
    column change or y-gap; classify each block; final order (page,
    column, descending top-y) — page keys first so multi-page documents
    never interleave, column next so a two-column page reads the whole
    left column before the right.  Figure tuples: (page, x, y, w, h)
    or (page, col, x, y, w, h).  Link tuples: (page, col, x, y, w, h,
    uri) — each becomes a 'link' block placed by its rect, interleaved
    into reading order by the same (page, col, -top_y) sort."""
    blocks: list[PdfBlock] = []
    cur: list[PdfLine] = []
    prev_y = prev_page = prev_col = None
    for ln in lines:
        if prev_y is not None and (
            ln.page != prev_page or ln.col != prev_col
            or (prev_y - ln.y) > cfg.block_gap
        ):
            blocks.append(_finish_block(cur, cfg, page_heights))
            cur = []
        cur.append(ln)
        prev_y, prev_page, prev_col = ln.y, ln.page, ln.col
    if cur:
        blocks.append(_finish_block(cur, cfg, page_heights))
    for fig in figures:
        if len(fig) == 6:
            pg, col, rx, ry, rw, rh = fig
        elif len(fig) == 5:
            (pg, rx, ry, rw, rh), col = fig, 0
        else:
            (rx, ry, rw, rh), pg, col = fig, 0, 0
        blocks.append(
            PdfBlock("figure", [], (rx, ry, rx + rw, ry + rh), pg, col))
    for pg, col, rx, ry, rw, rh, uri in links:
        blocks.append(
            PdfBlock("link", [], (rx, ry, rx + rw, ry + rh), pg, col, uri))
    blocks.sort(key=lambda b: (b.page, b.col, -b.bbox[3]))
    return blocks


def _finish_block(lines: list[PdfLine], cfg: ExtractConfig,
                  page_heights: list[float] | None = None) -> PdfBlock:
    x0 = min(ln.x0 for ln in lines)
    x1 = max(ln.x1 for ln in lines)
    y0 = min(ln.y for ln in lines)
    y1 = max(ln.y for ln in lines) + lines[0].size
    pg, ph = lines[0].page, page_heights or []
    kind = _classify_text_block(
        lines, (x0, y0, x1, y1), cfg,
        ph[pg] if 0 <= pg < len(ph) else cfg.page_height)
    return PdfBlock(kind, lines, (x0, y0, x1, y1), lines[0].page,
                    lines[0].col)


def _classify_text_block(lines, bbox, cfg: ExtractConfig,
                         page_h: float | None = None) -> str:
    # boilerplate: a single short line in the top/bottom page band (header/footer)
    page_h = page_h or cfg.page_height
    top_band = page_h * (1.0 - cfg.header_footer_band)
    bot_band = page_h * cfg.header_footer_band
    if len(lines) == 1 and (lines[0].y >= top_band or lines[0].y <= bot_band):
        return "boilerplate"
    # table: enough lines and most lines columnar (>= 2 runs of 2+ spaces)
    if len(lines) >= cfg.table_min_lines:
        columnar = sum(1 for ln in lines if len(re.findall(r"\s{2,}", ln.text)) >= 2)
        if columnar / len(lines) >= cfg.table_col_gap_frac:
            return "table"
    return "text-block"


def extract_pdf_blocks(data: bytes, cfg: ExtractConfig = DEFAULT) -> list[PdfBlock]:
    """Full E3+E5 for one PDF payload: tokenize → lines → classified
    blocks.  Page-awareness lives in the tokenizer (runs/figures are
    page-tagged and every grouping step keys on page first), so this is
    the plain composition and single-stream documents (the whole
    synthetic corpus) are unchanged from the historical grouping.
    Link rects ride through column assignment as pseudo-figures so a
    link in the right column sorts with that column's reading order."""
    runs, figures, links, toc, heights = tokenize_pdf(data, cfg)
    fig_all = figures + [lk[:5] for lk in links]
    runs, fig_all = assign_columns(runs, fig_all, cfg, heights)
    figures6 = fig_all[:len(figures)]
    links7 = [(*f6, lk[5]) for f6, lk in zip(fig_all[len(figures):], links)]
    blocks = group_blocks(group_lines(runs, cfg), figures6, cfg, links=links7,
                          page_heights=heights)
    if toc:
        # bookmark titles lead the document (the bookmarks-panel reading
        # of a scanned book): one 'toc' block at page -1 sorts before
        # every page block under the (page, col, -top_y) order
        blocks.insert(0, PdfBlock(
            "toc", [PdfLine(0.0, 0.0, 0.0, t, 12.0, -1) for t in toc],
            (0.0, 0.0, 0.0, 0.0), -1))
    return blocks


# ---------------------------------------------------------------------------
# writer (corpus generator side) — emits exactly the subset above
# ---------------------------------------------------------------------------

def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _pdf_string(s: str) -> str:
    """Author ``s`` as a PDF literal text string: plain latin-1 when it
    fits, else the UTF-16BE form with FE FF BOM (what real producers
    emit for non-Latin titles; _pdf_text decodes it back)."""
    try:
        s.encode("latin-1")
        return f"({_esc(s)})"
    except UnicodeEncodeError:
        raw = ("\xfe\xff" + s.encode("utf-16-be").decode("latin-1"))
        return f"({_esc(raw)})"


def _char_table(pages: list[list[dict]]) -> dict[str, int]:
    """Distinct characters across every text line → CID, 1-based in
    first-appearance order (the synthetic Type0 font's code space)."""
    table: dict[str, int] = {}
    for blocks in pages:
        for b in blocks:
            for line in b.get("lines", []):
                for ch in line:
                    if ch not in table:
                        table[ch] = len(table) + 1
    return table


def _cmap_text(table: dict[str, int]) -> str:
    """ToUnicode CMap for the synthetic font: bfchar blocks (≤100
    entries each, per the CMap spec), UTF-16BE destinations."""
    items = sorted(table.items(), key=lambda kv: kv[1])
    blocks = []
    for i in range(0, len(items), 100):
        chunk = items[i:i + 100]
        entries = "\n".join(
            f"<{cid:04X}> <{ch.encode('utf-16-be').hex().upper()}>"
            for ch, cid in chunk)
        blocks.append(f"{len(chunk)} beginbfchar\n{entries}\nendbfchar")
    return ("/CIDInit /ProcSet findresource begin\nbegincmap\n"
            + "\n".join(blocks) + "\nendcmap\nend end\n")


def _page_content(blocks: list[dict], cmap: dict[str, int] | None = None) -> str:
    """``cmap`` set → Type0 form: every show string is a hex string of
    2-byte CIDs (Identity-H), decodable only through the font's
    ToUnicode CMap."""
    parts = ["BT /F1 12 Tf 14 TL\n"]
    figs = []
    for b in blocks:
        if b["kind"] in ("link", "field"):
            continue  # links/widgets are /Annots page objects, not content
        if b["kind"] == "figure":
            figs.append(b)
            continue
        x, y = b["x"], b["y"]
        art = b.get("artifact")
        if art:
            # tagged pagination artifact (PDF 32000 §14.8.2.2): how real
            # producers mark running headers/footers/watermarks as
            # non-content; the extractor strips the whole span unless
            # cfg.keep_artifacts
            parts.append(f"/Artifact <</Type /Pagination /Subtype /{art}>>"
                         " BDC\n")
        if b.get("invisible"):
            # the OCR-layer idiom: text painted in rendering mode 3
            # (invisible) over the scanned page image
            parts.append("3 Tr\n")
        parts.append(f"1 0 0 1 {x:g} {y:g} Tm\n")
        for i, line in enumerate(b["lines"]):
            if i > 0:
                parts.append("T* ")
            if cmap is not None:
                hx = "".join(f"{cmap[ch]:04X}" for ch in line)
                parts.append(f"<{hx}> Tj\n")
            else:
                parts.append(f"({_esc(line)}) Tj\n")
        if b.get("invisible"):
            parts.append("0 Tr\n")
        if art:
            parts.append("EMC\n")
    parts.append("ET\n")
    for b in figs:
        w, h = b.get("w", 100), b.get("h", 80)
        if b.get("inline"):
            # inline image: unit square scaled/placed by cm; payload is
            # deliberately adversarial binary-ish bytes (fake strings,
            # numbers, operators) — the tokenizer must strip it whole
            payload = "(fake) Tj 99 0 0 (x\\) 12 re f BT"
            parts.append(
                f"q {w:g} 0 0 {h:g} {b['x']:g} {b['y']:g} cm "
                f"BI /W 4 /H 4 /BPC 8 /CS /G ID\n{payload}\nEI Q\n")
        else:
            parts.append(f"{b['x']:g} {b['y']:g} {w:g} {h:g} re f\n")
    return "".join(parts)


def _stream_obj(content: str, compress: bool | str) -> str:
    """Serialize one stream object.  ``compress`` is False (raw), True
    (/FlateDecode), or a '+'-joined DECODE-order filter-chain spec
    (e.g. ``"ASCII85Decode+FlateDecode"``) — encoding applies the chain
    in reverse, mirroring how a reader undoes it front-to-back."""
    if not compress:
        return f"<< /Length {len(content)} >>\nstream\n{content}\nendstream"
    import zlib

    from ocr_spark.functions.pdffilters import ENCODERS

    names = ["FlateDecode"] if compress is True else compress.split("+")
    body = content.encode("latin-1")
    for name in reversed(names):
        body = (zlib.compress(body) if name == "FlateDecode"
                else ENCODERS[name.encode("ascii")](body))
    filt = (f"/{names[0]}" if len(names) == 1
            else "[" + " ".join("/" + n for n in names) + "]")
    return (f"<< /Length {len(body)} /Filter {filt} >>\nstream\n"
            + body.decode("latin-1") + "\nendstream")


def _rot_author_blocks(blocks: list[dict], rotate: int) -> list[dict]:
    """Author blocks in rotated content space: inverse-map each DISPLAY
    position through the page /Rotate so a viewer (and the extractor's
    display-space remap) sees the original layout.  Multi-line text
    blocks become per-line blocks with explicit positions — the plain
    writer steps lines via T* (content -y), which is not the display
    'down' direction on a rotated page."""
    W, H = (792.0, 612.0) if rotate in (90, 270) else (612.0, 792.0)
    inv = {90: lambda x, y: (W - y, x),
           180: lambda x, y: (W - x, H - y),
           270: lambda x, y: (y, H - x)}[rotate]
    out = []
    for b in blocks:
        if b["kind"] in ("figure", "link", "field"):
            dh = {"link": 12, "field": 14}.get(b["kind"], 80)
            x0, y0 = inv(b["x"], b["y"])
            x1, y1 = inv(b["x"] + b.get("w", 100), b["y"] + b.get("h", dh))
            nb = {"kind": b["kind"], "x": min(x0, x1), "y": min(y0, y1),
                  "w": abs(x1 - x0), "h": abs(y1 - y0)}
            if b["kind"] == "link":
                nb["uri"] = b["uri"]
            elif b["kind"] == "field":
                nb["name"], nb["value"] = b.get("name"), b["value"]
            out.append(nb)
        else:
            for i, line in enumerate(b["lines"]):
                cx, cy = inv(b["x"], b["y"] - 14.0 * i)
                out.append({"kind": b["kind"], "x": cx, "y": cy,
                            "lines": [line]})
    return out


def write_pdf(blocks: list[dict], compress: bool = False,
              xref_stream: bool = False, type0: bool = False,
              form_xobject: bool = False, rotate: int = 0,
              encoding_diffs: dict[int, str] | None = None) -> bytes:
    """Serialize blocks → a minimal well-formed single-page PDF.

    Each block dict: {"kind": "text"|"table"|"header"|"footer"|"figure",
    "lines": [str, ...], "x": float, "y": float}  (y = top line baseline).
    ``compress=True`` flate-encodes the content stream (the real-world
    default for PDF producers); ``xref_stream=True`` emits the PDF 1.5+
    layout (cross-reference stream + catalog/page objects packed into a
    compressed object stream — the modern-producer default);
    ``type0=True`` shows all text through a synthetic Type0/Identity-H
    font whose CIDs resolve only via its /ToUnicode CMap (how real
    producers embed subset fonts).  ``encoding_diffs`` ({code: glyph
    name}) declares a simple Type1 font with an /Encoding /Differences
    array — lines then carry the raw byte codes and extraction must
    resolve them through the glyph names (classic layout, exclusive
    with type0).  The extractor handles all combinations (Type0 and
    Differences require the structured xref-driven parse).
    """
    return write_pdf_pages([blocks], compress=compress,
                           xref_stream=xref_stream, type0=type0,
                           form_xobject=form_xobject, rotate=rotate,
                           encoding_diffs=encoding_diffs)


def write_pdf_pages(pages: list[list[dict]], compress: bool = False,
                    xref_stream: bool = False, type0: bool = False,
                    form_xobject: bool = False, rotate: int = 0,
                    encoding_diffs: dict[int, str] | None = None,
                    hybrid: bool = False,
                    inherit_fonts: bool = False,
                    outlines: list[str] | None = None,
                    page_size: tuple[float, float] = (612, 792)) -> bytes:
    """Multi-page variant: one content stream per page, each page its
    own coordinate space (the standard producer layout the per-stream
    extractor ordering relies on).  ``form_xobject=True`` moves each
    page's real content into a /Subtype /Form XObject invoked from a
    thin ``q 1 0 0 1 0 0 cm /Fm1 Do Q`` wrapper stream — the layout
    letterheads/stamps/imposition tools emit; extraction must be
    identical to the plain layout (A/B-tested).  ``rotate`` ∈ {90, 180,
    270} authors every page IN ROTATED CONTENT SPACE (the
    scanned-sideways/upside-down producer case): each display line's
    position is inverse-mapped into content coordinates, the MediaBox
    swaps to landscape for 90/270, and /Rotate is declared ONCE on the
    /Pages node (exercising inheritable-attribute resolution).
    Classic layout only (not combined with xref_stream/form_xobject)."""
    if xref_stream:
        return _write_pdf_xref_stream(pages, compress, type0, hybrid)
    if rotate in (90, 180, 270):
        pages = [_rot_author_blocks(blocks, rotate) for blocks in pages]
    pw, ph = page_size
    media = (f"0 0 {ph:g} {pw:g}" if rotate in (90, 270)
             else f"0 0 {pw:g} {ph:g}")
    rot_attr = f" /Rotate {rotate}" if rotate in (90, 180, 270) else ""
    n = len(pages)
    cmap = _char_table(pages) if type0 else None
    font_num, tounicode_num = 3 + 2 * n, 4 + 2 * n
    n_font_objs = 2 if type0 else (1 if encoding_diffs else 0)
    form_base = font_num + n_font_objs
    # link annotation objects come after everything else; each page's
    # /Annots refs are computable up front from the per-page link counts
    annot_base = form_base + (n if form_xobject else 0)
    page_links = [[b for b in blocks if b["kind"] == "link"]
                  for blocks in pages]
    page_fields = [[b for b in blocks if b["kind"] == "field"]
                   for blocks in pages]
    annot_start = [0]
    for pl, pf in zip(page_links, page_fields):
        annot_start.append(annot_start[-1] + len(pl) + len(pf))
    res_parts = []
    pages_node_res = ""
    if type0 or encoding_diffs:
        font_res = f"/Font << /F1 {font_num} 0 R >>"
        if inherit_fonts:
            # declare /Resources ONCE on the /Pages node — the
            # inheritable-attribute layout (PDF 32000 §7.8.3) shared-font
            # producers emit; pages carry no /Resources of their own
            pages_node_res = f" /Resources << {font_res} >>"
        else:
            res_parts.append(font_res)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n))
    # filled text fields also hang off the catalog's /AcroForm /Fields
    # (required by real viewers; our reader resolves them via /Annots)
    acro = ""
    if any(page_fields):
        frefs = []
        for i, pf in enumerate(page_fields):
            base = annot_base + annot_start[i] + len(page_links[i])
            frefs += [f"{base + k} 0 R" for k in range(len(pf))]
        acro = f" /AcroForm << /Fields [{' '.join(frefs)}] >>"
    # bookmark objects trail every annot; the root's number is fixed now
    outline_base = annot_base + annot_start[-1]
    outl = (f" /Outlines {outline_base} 0 R" if outlines else "")
    objs = [
        f"<< /Type /Catalog /Pages 2 0 R{acro}{outl} >>",
        f"<< /Type /Pages /Kids [{kids}] /Count {n}{rot_attr}"
        f"{pages_node_res} >>",
    ]
    for i, blocks in enumerate(pages):
        page_res = list(res_parts)
        if form_xobject:
            page_res.append(f"/XObject << /Fm1 {form_base + i} 0 R >>")
        res = (" /Resources << " + " ".join(page_res) + " >>"
               if page_res else "")
        annots = ""
        if page_links[i] or page_fields[i]:
            refs = " ".join(
                f"{annot_base + annot_start[i] + k} 0 R"
                for k in range(len(page_links[i]) + len(page_fields[i])))
            annots = f" /Annots [{refs}]"
        objs.append(
            f"<< /Type /Page /Parent 2 0 R /MediaBox [{media}] "
            f"/Contents {4 + 2 * i} 0 R{res}{annots} >>"
        )
        objs.append(_stream_obj(
            "q 1 0 0 1 0 0 cm /Fm1 Do Q\n" if form_xobject
            else _page_content(blocks, cmap), compress))
    if type0:
        objs.append(
            f"<< /Type /Font /Subtype /Type0 /BaseFont /Synth "
            f"/Encoding /Identity-H /ToUnicode {tounicode_num} 0 R >>")
        objs.append(_stream_obj(_cmap_text(cmap), compress))
    elif encoding_diffs:
        diffs = " ".join(f"{code} /{name}"
                         for code, name in sorted(encoding_diffs.items()))
        objs.append(
            f"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            f"/Encoding << /Type /Encoding /BaseEncoding /WinAnsiEncoding "
            f"/Differences [{diffs}] >> >>")
    if form_xobject:
        for i, blocks in enumerate(pages):
            content = _page_content(blocks, cmap)
            body = _stream_obj(content, compress)
            # graft the Form XObject keys into the stream's dict; the
            # form re-declares the page's font resources so its own
            # /Resources resolve Type0 strings during the recursive parse
            form_res = (f" /Resources << /Font << /F1 {font_num} 0 R >> >>"
                        if type0 else "")
            body = body.replace(
                "<< /Length",
                "<< /Type /XObject /Subtype /Form "
                f"/BBox [0 0 612 792]{form_res} /Length", 1)
            objs.append(body)
    for pl, pf in zip(page_links, page_fields):
        for b in pl:
            x, y = b["x"], b["y"]
            w, h = b.get("w", 100), b.get("h", 12)
            objs.append(
                f"<< /Type /Annot /Subtype /Link "
                f"/Rect [{x:g} {y:g} {x + w:g} {y + h:g}] /Border [0 0 0] "
                f"/A << /S /URI /URI ({_esc(b['uri'])}) >> >>")
        for b in pf:
            # merged widget+field dict (the common producer layout):
            # a filled AcroForm text field with name /T and value /V
            x, y = b["x"], b["y"]
            w, h = b.get("w", 160), b.get("h", 14)
            name = f"/T ({_esc(b['name'])}) " if b.get("name") else ""
            objs.append(
                f"<< /Type /Annot /Subtype /Widget /FT /Tx "
                f"/Rect [{x:g} {y:g} {x + w:g} {y + h:g}] "
                f"{name}/V ({_esc(b['value'])}) >>")
    if outlines:
        k = len(outlines)
        objs.append(f"<< /Type /Outlines /First {outline_base + 1} 0 R "
                    f"/Last {outline_base + k} 0 R /Count {k} >>")
        for j, title in enumerate(outlines, start=1):
            nxt = (f" /Next {outline_base + j + 1} 0 R" if j < k else "")
            objs.append(f"<< /Title {_pdf_string(title)} "
                        f"/Parent {outline_base} 0 R{nxt} >>")
    out = ["%PDF-1.4\n"]
    offsets = []
    pos = len(out[0])
    for i, o in enumerate(objs, start=1):
        s = f"{i} 0 obj\n{o}\nendobj\n"
        offsets.append(pos)
        out.append(s)
        pos += len(s)
    xref_pos = pos
    xref = [f"xref\n0 {len(objs) + 1}\n0000000000 65535 f \n"]
    xref += [f"{off:010d} 00000 n \n" for off in offsets]
    out.append("".join(xref))
    out.append(f"trailer\n<< /Size {len(objs) + 1} /Root 1 0 R >>\n"
               f"startxref\n{xref_pos}\n%%EOF\n")
    return "".join(out).encode("latin-1")


def write_pdf_encrypted(blocks: list[dict], compress: bool = False) -> bytes:
    """An ENCRYPTED variant of write_pdf's output for negative-path
    tests: the trailer declares /Encrypt and every stream body is
    XOR-scrambled in place (length-preserving, so the xref offsets and
    /Length slices stay valid — structurally a well-formed PDF whose
    strings/streams are ciphertext, exactly the shape a real
    RC4/AES-encrypted document presents without its key).  The
    extractor must emit ZERO runs/figures for it; if /Encrypt detection
    ever regressed, the scrambled bytes — not the original text — would
    leak out and the A/B tests would see garbage."""
    raw = write_pdf(blocks, compress=compress)

    def _xor(m: re.Match) -> bytes:
        return m.group(1) + bytes(b ^ 0xA7 for b in m.group(2)) + m.group(3)

    raw = re.sub(rb"(stream\r?\n)(.*?)(\r?\nendstream)", _xor, raw,
                 flags=re.DOTALL)
    return raw.replace(b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9999 0 R", 1)


def _write_pdf_xref_stream(pages: list[list[dict]], compress: bool,
                           type0: bool = False,
                           hybrid: bool = False) -> bytes:
    """PDF 1.5+ layout: catalog/pages/page objects live in ONE
    FlateDecode /ObjStm (type-2 xref entries); content streams stay
    top-level (streams cannot nest in an object stream); the
    cross-reference is a /Type /XRef stream with /W [1 4 2] (4-byte
    offsets — 2-byte ones overflow past 64 KiB of serialized pages) and the
    trailer fields in its own dict.  Object numbering matches the
    classic writer (1=catalog, 2=pages, 3+2i=page, 4+2i=content) so the
    two layouts of one document differ only structurally.  With
    ``type0`` the synthetic font dict joins the ObjStm and its
    ToUnicode CMap is a top-level stream."""
    import zlib

    n = len(pages)
    cmap = _char_table(pages) if type0 else None
    font_num, tounicode_num = 2 * n + 3, 2 * n + 4
    res = (f" /Resources << /Font << /F1 {font_num} 0 R >> >>"
           if type0 else "")
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n))
    packed = [
        (1, "<< /Type /Catalog /Pages 2 0 R >>"),
        (2, f"<< /Type /Pages /Kids [{kids}] /Count {n} >>"),
    ] + [
        (3 + 2 * i,
         f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
         f"/Contents {4 + 2 * i} 0 R{res} >>")
        for i in range(n)
    ]
    if type0:
        packed.append((
            font_num,
            f"<< /Type /Font /Subtype /Type0 /BaseFont /Synth "
            f"/Encoding /Identity-H /ToUnicode {tounicode_num} 0 R >>"))
    bodies = [o.encode("latin-1") for _, o in packed]
    offs, pos = [], 0
    for b in bodies:
        offs.append(pos)
        pos += len(b) + 1
    header = " ".join(f"{num} {off}"
                      for (num, _), off in zip(packed, offs)) + "\n"
    objstm_payload = header.encode("latin-1") + b"\n".join(bodies) + b"\n"
    objstm_body = zlib.compress(objstm_payload)
    objstm_num = 2 * n + 3 + (2 if type0 else 0)
    xref_num = objstm_num + 1

    out = [b"%PDF-1.5\n"]
    pos = len(out[0])
    offsets: dict[int, int] = {}

    def emit(num: int, payload: str):
        nonlocal pos
        s = f"{num} 0 obj\n{payload}\nendobj\n".encode("latin-1")
        offsets[num] = pos
        out.append(s)
        pos += len(s)

    for i, blocks in enumerate(pages):
        emit(4 + 2 * i, _stream_obj(_page_content(blocks, cmap), compress))
    if type0:
        emit(tounicode_num, _stream_obj(_cmap_text(cmap), compress))
    emit(objstm_num,
         f"<< /Type /ObjStm /N {len(packed)} "
         f"/First {len(header)} /Length {len(objstm_body)} "
         f"/Filter /FlateDecode >>\nstream\n"
         + objstm_body.decode("latin-1") + "\nendstream")

    # xref stream: W=[1,2,2]; entries 0..xref_num in order
    size = xref_num + 1
    rows = bytearray()
    for num in range(size):
        if num == 0:
            t, f2, f3 = 0, 0, 65535
        elif num in offsets:
            t, f2, f3 = 1, offsets[num], 0
        elif num == xref_num:
            t, f2, f3 = 1, pos, 0  # the xref stream itself (emitted next)
        else:  # packed into the object stream
            t = 2
            f2 = objstm_num
            f3 = next(k for k, (pn, _) in enumerate(packed) if pn == num)
        rows += bytes([t]) + f2.to_bytes(4, "big") + f3.to_bytes(2, "big")
    xref_body = zlib.compress(bytes(rows))
    xref_off = pos
    emit(xref_num,
         f"<< /Type /XRef /Size {size} /W [1 4 2] /Root 1 0 R "
         f"/Length {len(xref_body)} /Filter /FlateDecode >>\nstream\n"
         + xref_body.decode("latin-1") + "\nendstream")
    if hybrid:
        # hybrid-reference layout (PDF 32000 §7.5.8.4, the Acrobat 6
        # compatibility format): startxref points at a CLASSIC table
        # that lists only the top-level objects and marks the
        # ObjStm-packed ones FREE; its trailer's /XRefStm points at the
        # xref stream above, which a 1.5-aware reader must consult to
        # resolve the packed catalog/pages/page dicts.
        classic_off = pos
        lines = [f"xref\n0 {size}\n", "0000000000 65535 f \n"]
        for num in range(1, size):
            if num in offsets:
                lines.append(f"{offsets[num]:010d} 00000 n \n")
            else:
                lines.append("0000000000 00000 f \n")
        out.append("".join(lines).encode("latin-1"))
        out.append(
            f"trailer\n<< /Size {size} /Root 1 0 R /XRefStm {xref_off} >>\n"
            f"startxref\n{classic_off}\n%%EOF\n".encode("latin-1"))
        return b"".join(out)
    out.append(f"startxref\n{xref_off}\n%%EOF\n".encode("latin-1"))
    return b"".join(out)
