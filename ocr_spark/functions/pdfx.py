r"""Minimal deterministic PDF writer + content-stream text tokenizer.

Spec: BASELINE.json:6 — "tokenizes raw PDF byte-streams ... in batches,
applies layout-region classification (text-block vs figure vs table vs
boilerplate) via line-density and bounding-box heuristics".  Reference
code: REF:unavailable (SURVEY.md §0) — semantics are scoped to the
documented subset below, which our own corpus generator emits.

Supported PDF subset (documented per SURVEY.md §7 "hard parts"):
  - objects (PDF 32000 §7.3): one iterative parser (``_parse``, one
    token grammar) reads each object ONCE into Python values — dict
    (name keys), list, int/float, bool, None (null), name (str), string
    (bytes) and ``Ref`` — and every reader takes its keys from that
    value; one ``_Doc._resolve`` follows a Ref wherever a value may be
    indirect (/Length, /Resources, /Font, /XObject, /Encoding,
    /Differences, /Annots, /Contents, /Rotate, /MediaBox, …).  Only
    top-level keys are visible (a nested value is reached through its
    dict).  No nesting depth recurses; junk (an unknown keyword, a
    closer that closes nothing, truncation) ends the parse with no
    value — a missing key, never an exception.  Stream bodies are
    kept as file offsets and sliced (and decrypted) only when read, so
    an image XObject's body is never read at all
  - names ``/…``, one rule (``_NAME`` + ``_name_of``) for objects and
    content streams: every regular character of §7.3.5 (``/T1_0``,
    ``/F1.0``), ``#xx`` escapes decoded (``/F#31`` is ``/F1``)
  - streams (``stream ... endstream``) decoded through their own
    /Filter chain (``_decode_stream_body``: Flate, LZW, ASCII85,
    ASCIIHex, RunLength, PNG predictors; ``pdffilters``); a /Length
    followed by ``endstream`` slices the body exactly, else it runs to
    the next ``endstream`` less one end of line (``_body_span``, for
    the structured parse and the positional fallback alike)
  - content streams are read by ``_parse_content`` in ONE walk of the
    object parser's token grammar (``_TOKEN``, as str): strings, names,
    numbers, arrays and operators; ``%`` comments run to the end of the
    line; a dict (a marked-content property list) changes nothing, and
    ``true``/``false``/``null`` are never operators
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
    ``\r``, ``\t``, ``\b``, ``\f``, octal of 1–3 digits 0–7 with
    high-order overflow ignored (``\400`` → NUL), a backslash before an
    end of line (LF, CR or CRLF) joins the lines; any other escaped char
    stands for itself (``\8`` → ``8``).  A delimiter inside a string
    (``(a >> b)``) is part of the string everywhere
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
  - inline images ``BI <dict> ID <binary> EI``: the walk reads the
    dict and jumps past the binary payload (its bytes would otherwise
    parse as phantom strings/operators), and the image becomes a figure
    region placed by the current ``cm`` matrix (the ``q w 0 0 h x y cm
    BI…EI Q`` producer idiom)
  - marked content: an ``/Artifact`` BMC/BDC … matching EMC span
    (running headers/footers, page numbers, watermarks; §14.8.2.2) is
    not main content and changes nothing unless cfg.keep_artifacts
  - XObjects via ``/Name Do`` (structured-parse path, classic layout):
    /Subtype /Image → figure placed by the current ``cm``; /Subtype
    /Form → the form's content stream is tokenized recursively with the
    FORM's own /Resources (fonts + nested XObjects, depth-bounded; a
    form already being built on the path is left out, so a cycle ends)
    and its runs/figures translated by the ``cm`` translation — the
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
    security handler with the EMPTY user password — the "secured but
    readable" web PDF; RC4 V≤2 R 2/3, V=4 /V2 or /AESV2, V=5 R=6
    /AESV3 — is DECRYPTED in-subset
    (functions/pdfcrypt.py: file key from /O //P //ID per §7.6.3,
    verified against /U, per-object keys over stream bodies and EVERY
    string of an object read through the xref — the /Encrypt dict,
    XRef streams and objects inside an /ObjStm excepted); anything
    else — a real password, a tampered /U — emits ZERO runs/figures,
    never ciphertext-as-text via the positional fallback; the doc
    still flows through lineage with 0 spans
  - filled AcroForm text fields (structured-parse path): /Subtype
    /Widget annotations with /FT /Tx and a string /V (merged
    widget+field dicts, the common producer layout) render as
    ``name: value`` text runs at their /Rect — the scanned-form idiom
    where the filled value is page content
  - /Outlines bookmarks (structured-parse path): depth-first /First +
    /Next walk (depth/count/cycle-bounded), /Title strings (UTF-16BE
    decoded) emitted as one 'toc' block leading the document — the
    bookmarks-panel reading of a scanned book
  - link annotations (structured-parse path): page /Annots whose
    /Subtype is /Link with a /Rect and a URI action (/A << /S /URI
    /URI (...) >>, the string read from /A) become 'link' blocks placed by
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
from typing import NamedTuple

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

# a backslash before an end of line joins the lines
_ESC = {"\\": "\\", "(": "(", ")": ")", "n": "\n", "r": "\r", "t": "\t",
        "b": "\b", "f": "\f", "\n": "", "\r": "", "\r\n": ""}
_ESC_RE = re.compile(r"\\(\r\n|[0-7]{1,3}|.)", re.DOTALL)


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


# A name ``/…`` (§7.3.5): every character but white space and the
# delimiters, ``#xx`` standing for the byte xx.  Content streams and
# the object parser read names with this one pattern.
_NAME = r"/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*"
_NAME_ESC_RE = re.compile(r"#([0-9A-Fa-f]{2})")


def _name_of(tok: str) -> str:
    """The name a matched ``/…`` token stands for, ``#xx`` decoded."""
    s = tok[1:]
    if "#" in s:
        s = _NAME_ESC_RE.sub(lambda m: chr(int(m.group(1), 16)), s)
    return s


def _hex_bytes(body: str) -> bytes:
    """The bytes of a hex string ``<…>`` body: white space ignored, an
    odd final digit padded with 0 (§7.3.4.3)."""
    hx = re.sub(r"\s", "", body)
    return bytes.fromhex(hx + "0" if len(hx) % 2 else hx)


# ---------------------------------------------------------------------------
# object parser (§7.3): one token grammar, one pass per object
# ---------------------------------------------------------------------------

# one token (§7.2): literal string, dict or array delimiter, hex string,
# name, number, word (an operator, or a keyword: R, true, obj …) or
# comment.  Objects read it as bytes, content streams as str.
_TOKEN = (_LIT + r"|<<|>>|\[|\]|<[0-9A-Fa-f\s]*>|" + _NAME
          + r"""|[-+]?\d*\.?\d+|[A-Za-z'*"]+|%[^\r\n]*""")
_OBJ_TOK_RE = re.compile(_TOKEN.encode())
_TOK_RE = re.compile(_TOKEN)
_CONST = {b"true": True, b"false": False, b"null": None}
#: open containers past which an object is junk: real producers nest a
#: handful of levels, and every open level holds memory
_MAX_NESTING = 100
#: a run of openers, skipped at once when the nesting cap is hit, so a
#: megabyte of ``<<`` costs one regex match, not a token per opener
#: (possessive: the run never backtracks)
_OPEN_RUN_RE = re.compile(rb"(?:<<|\[|\s)*+")


class Ref(NamedTuple):
    """An indirect reference ``num gen R``; ``_Doc._resolve`` follows it."""
    num: int


def _parse(data: bytes, pos: int, dec=None) -> tuple:
    """(value, end) of the object at ``pos``: a dict (name keys), list,
    int, float, bool, None (null), name (str), string (bytes, passed
    through ``dec`` when given) or Ref; ``end`` is the offset after it.

    An explicit stack, so no nesting depth can recurse.  A keyword
    other than R, true, false and null, a ``>>`` or ``]`` that closes
    nothing, nesting deeper than _MAX_NESTING, or the end of the data
    ends the parse with value None: junk yields a missing key, never an
    exception.  At the nesting cap ``end`` lies past the whole run of
    openers."""
    stack: list[list] = []     # items of each open container
    opens: list[bytes] = []    # its opening token, b"<<" or b"["
    for m in _OBJ_TOK_RE.finditer(data, pos):
        t = m.group()
        c = t[:1]
        if t == b"<<" or t == b"[":
            if len(stack) == _MAX_NESTING:
                return None, _OPEN_RUN_RE.match(data, m.start()).end()
            stack.append([])
            opens.append(t)
            continue
        if t == b">>" or t == b"]":
            if not opens or opens.pop() != (b"[" if t == b"]" else b"<<"):
                return None, m.end()
            v = stack.pop()
            if t == b">>":
                v = {k: x for k, x in zip(v[::2], v[1::2]) if type(k) is str}
        elif c == b"(" or c == b"<":
            v = (_lit_bytes(t) if c == b"(" else
                 _hex_bytes(t[1:-1].decode("latin-1")))
            if dec is not None:
                v = dec(v)
        elif c == b"/":
            v = _name_of(t.decode("latin-1"))
        elif c == b"%":
            continue
        elif t in _CONST:
            v = _CONST[t]
        elif t == b"R":
            cur = stack[-1] if stack else ()
            if len(cur) >= 2 and type(cur[-1]) is type(cur[-2]) is int:
                del cur[-1]
                cur[-1] = Ref(cur[-1])
            continue
        elif c in b"+-.0123456789":
            v = float(t) if b"." in t else int(t)
        else:
            return None, m.start()
        if not stack:
            return v, m.end()
        stack[-1].append(v)
    return None, len(data)


def _int(v, default=None):
    """``v`` when it is an int, else ``default``."""
    return v if type(v) is int else default


def _rect(v) -> tuple | None:
    """(x, y, w, h) of a ``[x0 y0 x1 y1]`` rectangle, else None."""
    if not (isinstance(v, list) and len(v) == 4
            and all(type(x) in (int, float) for x in v)):
        return None
    x0, y0, x1, y1 = map(float, v)
    return min(x0, x1), min(y0, y1), abs(x1 - x0), abs(y1 - y0)


def _text(v) -> str | None:
    """A string value as text (see _pdf_text), else None."""
    return _pdf_text(v.decode("latin-1")) if isinstance(v, bytes) else None


# (?<!end): the bare keyword scan must not match the 'stream' suffix
# inside 'endstream', which would yield a phantom segment duplicating
# the next stream's content in multi-stream PDFs
_STREAM_KW_RE = re.compile(rb"(?<!end)stream\r?\n")
_STREAM_AT_RE = re.compile(rb"\s*stream\r?\n")
_ENDSTREAM_RE = re.compile(rb"\s*endstream")


def _body_span(data: bytes, start: int, n) -> tuple | None:
    """(start, end) of the stream body that begins at ``start``.  A
    /Length ``n`` followed by the ``endstream`` keyword slices it
    exactly (robust to 'endstream' bytes inside compressed payloads);
    otherwise the body runs to the next ``endstream`` less one end of
    line.  None when no ``endstream`` follows."""
    if type(n) is int and 0 <= n <= len(data) - start \
            and _ENDSTREAM_RE.match(data, start + n):
        return start, start + n
    end = data.find(b"endstream", start)
    if end < 0:
        return None
    if data.endswith(b"\r\n", start, end):
        end -= 2
    elif data.endswith((b"\n", b"\r"), start, end):
        end -= 1
    return start, end


def _stream_segments(data: bytes):
    """Yield (stream dict, body) per stream — the positional fallback,
    which needs no xref.  The object parser reads each ``<<`` from the
    cursor on, and a parsed dict skips every ``<<`` nested in it (and
    every ``stream`` inside its strings); a dict followed by the
    ``stream`` keyword is that stream's.  A keyword with no dict before
    it gets ``{}``.  A direct /Length bounds the body (see _body_span).

    The cursor always advances PAST the consumed body: 'stream\\n' byte
    sequences INSIDE a previous stream's payload are never keyword
    matches, so they can neither inject a phantom segment nor shift the
    positional page index of the real streams that follow."""
    pos, m = 0, _STREAM_KW_RE.search(data)
    while m is not None:
        c = data.find(b"<<", pos, m.start())
        if c < 0:
            d, start = {}, m.end()
        else:
            d, pos = _parse(data, c)
            sm = _STREAM_AT_RE.match(data, pos) if isinstance(d, dict) else None
            if sm is None:
                if pos > m.start():  # the keyword lay inside that object
                    m = _STREAM_KW_RE.search(data, pos)
                continue
            start = sm.end()
        span = _body_span(data, start, d.get("Length"))
        pos = (start if span is None else
               data.find(b"endstream", span[1]) + len(b"endstream"))
        m = _STREAM_KW_RE.search(data, pos)
        if span is not None:
            yield d, data[span[0]:span[1]]


# ---------------------------------------------------------------------------
# structured (xref-driven) document parse — PDF 1.5 xref/object streams
# ---------------------------------------------------------------------------

_OBJ_AT_RE = re.compile(rb"\s*(\d+)\s+(\d+)\s+obj\b")
#: the US-Letter /MediaBox (W, H) in points: the page box where a
#: document gives none, or gives one of zero height
_LETTER = (612.0, 792.0)


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


def _decode_stream_body(d: dict, body: bytes) -> bytes:
    """Apply the /Filter chain (+ per-filter /DecodeParms) to a stream
    body: Flate via zlib, LZW/ASCII85/ASCIIHex/RunLength via the
    from-scratch codecs in ``pdffilters``, PNG row predictors after
    Flate/LZW.  A single /DecodeParms dict applies to the first filter;
    the array form pairs ``null``/dict entries with the /Filter array
    positionally (§7.3.8.2).  An image-only or unknown filter raises —
    the structured parse then falls back to the positional scan, which
    skips the stream: undecodable bytes must never tokenize as phantom
    text."""
    import zlib

    from ocr_spark.functions.pdffilters import DECODERS, lzw_decode

    filters = d.get("Filter")
    if filters is None:
        return body
    filters = filters if isinstance(filters, list) else [filters]
    parms = d.get("DecodeParms", d.get("DP"))
    parms = parms if isinstance(parms, list) else [parms]
    for i, name in enumerate(filters):
        pm = parms[i] if i < len(parms) and isinstance(parms[i], dict) else {}
        if name in ("FlateDecode", "Fl"):
            body = zlib.decompress(body)
        elif name in ("LZWDecode", "LZW"):
            body = lzw_decode(body, _int(pm.get("EarlyChange"), 1))
        elif name in DECODERS:
            body = DECODERS[name](body)
        elif name == "Crypt":
            continue  # decryption already ran (only /Identity survives)
        else:
            raise ValueError(f"unsupported stream filter {name!r}")
        if pm and name in ("FlateDecode", "Fl", "LZWDecode", "LZW"):
            body = _unpredict(body, _int(pm.get("Predictor")) or 1,
                              _int(pm.get("Columns")) or 1)
    return body


class _Doc:
    """Xref-driven random-access view of one PDF byte buffer."""

    def __init__(self, data: bytes):
        self.data = data
        self.xref: dict[int, tuple] = {}   # obj → ('n', off) | ('c', stm, idx)
        self.root = None                   # trailer /Root (newest), a Ref
        #: trailer declares /Encrypt: strings and stream bodies are
        #: ciphertext (RC4/AES) — decryptable in-subset when the
        #: standard security handler verifies with the EMPTY user
        #: password (V≤2 RC4, the "secured but readable" web PDF);
        #: otherwise callers must emit NO runs rather than garbage
        self.encrypted = False
        self.encrypt_ref = None               # /Encrypt value (newest)
        self.id0: bytes | None = None         # /ID[0] raw bytes (newest)
        self.crypt_key: bytes | None = None   # file key once verified
        self.crypt_aes = False                # cipher: AES-CBC vs RC4
        self.crypt_v5 = False                 # V=5: file key used directly
        self._objs: dict[int, tuple | None] = {}
        self._objstm_cache: dict[int, dict] = {}
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
        td = _parse(data, pos + tm.end())[0] if tm else None
        if not isinstance(td, dict):
            return None
        self._read_trailer(td)
        # hybrid-reference file (PDF 32000 §7.5.8.4): the classic
        # trailer points at a companion xref STREAM holding the entries
        # (typically the objstm-compressed objects) that the classic
        # table omits; classic entries keep precedence (first-loaded
        # wins in self.xref)
        xs = self._resolve(td.get("XRefStm"), int)
        if xs is not None and 0 <= xs < len(self.data):
            try:
                self._load_xref_stream(xs)
            except Exception:
                pass
        return self._resolve(td.get("Prev"), int)

    def _load_xref_stream(self, off: int) -> int | None:
        d, span = self._parse_obj_at(off)
        if span is None or d.get("Type") != "XRef":
            raise ValueError("startxref does not point at an xref section")
        raw = _decode_stream_body(d, self._body(span))
        W = self._resolve(d.get("W"), list) or []
        if len(W) < 3 or not all(type(w) is int and w >= 0 for w in W) \
                or not 0 < sum(W) <= 64:
            raise ValueError("implausible xref-stream /W")
        rowlen = sum(W)
        size = self._resolve(d.get("Size"), int) or 0
        pairs = self._resolve(d.get("Index"), list) or [0, size]
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
        self._read_trailer(d)
        return self._resolve(d.get("Prev"), int)

    def _read_trailer(self, td: dict) -> None:
        """Take /Root, /Encrypt and /ID[0] from the NEWEST trailer that
        carries them (the chain walks newest-first)."""
        if self.root is None:
            self.root = td.get("Root")
        if "Encrypt" in td:
            self.encrypted = True
            if self.encrypt_ref is None:
                self.encrypt_ref = td["Encrypt"]
            ids = self._resolve(td.get("ID"), list)
            if self.id0 is None and ids and isinstance(ids[0], bytes):
                self.id0 = ids[0]

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
        path, never the ciphertext-as-text one.

        The /Encrypt dict is read (and cached) before any key exists,
        so its own strings are never decrypted."""
        from ocr_spark.functions import pdfcrypt

        d = self._resolve(self.encrypt_ref, dict)
        if d is None or d.get("Filter") != "Standard":
            return
        v = self._resolve(d.get("V"), int) or 0
        r = self._resolve(d.get("R"), int) or 0
        o, u = d.get("O"), d.get("U")
        if not isinstance(o, bytes) or not isinstance(u, bytes):
            return

        if v == 5:
            # PDF 2.0 AES-256: /ID plays no key role; /U carries the
            # salts, /UE wraps the file key
            ue = d.get("UE")
            if r != 6 or not isinstance(ue, bytes):
                return
            self.crypt_key = pdfcrypt.verify_user_pw_r6(u, ue)
            self.crypt_aes = self.crypt_key is not None
            self.crypt_v5 = self.crypt_aes
            return

        if self.id0 is None:
            return
        n = (self._resolve(d.get("Length"), int) or 40) // 8
        if v == 4:
            # crypt-filter container: only the uniform /StdCF layout
            # with both stream and string filters pointing at it
            cf = self._resolve(d.get("CF"), dict) or {}
            std = self._resolve(cf.get("StdCF"), dict) or {}
            cfm = std.get("CFM")
            if r != 4 or d.get("StmF") != "StdCF" \
                    or d.get("StrF") != "StdCF" or cfm not in ("V2", "AESV2"):
                return
            self.crypt_aes = cfm == "AESV2"
            n = 16
        elif v not in (1, 2) or r not in (2, 3):
            return
        p = self._resolve(d.get("P"), int)
        self.crypt_key = pdfcrypt.verify_user_pw(
            u, o, -1 if p is None else p, self.id0, r, n)
        if self.crypt_key is None:
            self.crypt_aes = False

    # -- objects ------------------------------------------------------------
    def _parse_obj_at(self, off: int):
        """(value, body span|None) of the object at ``off``.  Once the
        file key is verified, every string is decrypted with the
        object's key — except in a cross-reference stream, which must be
        readable before any key exists (PDF 32000 §7.5.8.2).  A stream's
        span is (start, end, key): where its body lies in the file, and
        the (num, gen) whose object key decrypts it, None for plaintext
        (see _body)."""
        data = self.data
        m = _OBJ_AT_RE.match(data, off)
        if not m:
            return None, None
        key = dec = None
        if self.crypt_key is not None:
            key = int(m.group(1)), int(m.group(2))

            def dec(s: bytes) -> bytes:
                return self._decrypt_payload(s, *key)
        d, pos = _parse(data, m.end(), dec)
        if key is not None and isinstance(d, dict) and d.get("Type") == "XRef":
            key = None
            d, pos = _parse(data, m.end())
        sm = _STREAM_AT_RE.match(data, pos) if isinstance(d, dict) else None
        span = sm and _body_span(data, sm.end(),
                                 self._resolve(d.get("Length"), int))
        return d, span and (*span, key)

    def _body(self, span) -> bytes | None:
        """The stream body at ``span`` (see _parse_obj_at).  Sliced on
        demand, so the object cache holds no body; on disk the order is
        encrypt(flate(data)), so it is decrypted here, before
        _decode_stream_body."""
        if span is None:
            return None
        start, end, key = span
        body = self.data[start:end]
        return body if key is None else self._decrypt_payload(body, *key)

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

    def _objstm(self, num: int) -> dict:
        """Object number → value of every object packed in the /ObjStm
        ``num`` (its strings are not separately encrypted)."""
        if num in self._objstm_cache:
            return self._objstm_cache[num]
        out = self._objstm_cache[num] = {}  # a stream reaching itself reads empty
        ent = self.xref.get(num)
        if ent and ent[0] == "n":
            d, span = self._parse_obj_at(ent[1])
            if span is not None and d.get("Type") == "ObjStm":
                raw = _decode_stream_body(d, self._body(span))
                first = self._resolve(d.get("First"), int) or 0
                header = [int(x) for x in raw[:first].split()]
                for onum, ooff in zip(header[::2], header[1::2]):
                    out[onum] = _parse(raw, first + ooff)[0]
        return out

    def _entry(self, num: int):
        """(value, body span|None) of object ``num``, parsed once; None
        when the xref has no entry for it."""
        ent = self.xref.get(num)
        if ent is None:
            return None
        if ent[0] == "c":
            return self._objstm(ent[1]).get(num), None
        if num not in self._objs:
            self._objs[num] = None  # an object reaching itself reads missing
            self._objs[num] = self._parse_obj_at(ent[1])
        return self._objs[num]

    def obj(self, num: int):
        """(value, stream body|None) of object ``num``; None when the
        xref has no entry for it."""
        o = self._entry(num)
        return o and (o[0], self._body(o[1]))

    def _resolve(self, v, typ=None):
        """``v``, or the value of the object it refers to when it is a
        Ref; None unless that is exactly a ``typ`` (so no bool reads as
        an int)."""
        if isinstance(v, Ref):
            o = self._entry(v.num)
            v = o[0] if o else None
        return v if typ is None or type(v) is typ else None

    def _stream(self, v) -> tuple | None:
        """(dict, raw body) of the stream object ``v`` refers to, else
        None."""
        o = self.obj(v.num) if isinstance(v, Ref) else None
        return o if o and o[1] is not None else None

    # -- page tree ----------------------------------------------------------
    def page_contents(self) -> list[tuple]:
        """7-tuples (decoded content bytes, font map, xobject map,
        rotate, (media W, media H), links, widgets) per page in
        page-tree order.  Font map: font resource name (str, e.g. 'F1')
        → tagged decode table (see _page_fonts).  XObject map: see
        _page_xobjects.  Links and widgets: see _page_annots.  /Rotate,
        /MediaBox, and /Resources are INHERITABLE page attributes (PDF
        32000 §7.7.3.4/§7.8.3): a value on a /Pages node applies to
        every descendant page unless overridden."""
        if self.root is None:
            raise ValueError("no /Root")
        cat = self._resolve(self.root, dict)
        if cat is None:
            raise ValueError("bad catalog")
        out: list[tuple] = []
        self._walk_pages(cat.get("Pages"), out, depth=0,
                         rotate=0, media=_LETTER)
        if not out:
            raise ValueError("empty page tree")
        return out

    def _page_xobjects(self, res: dict, path: tuple = ()) -> dict:
        """XObject resource name → ('form', content str, fonts, nested
        xobjects) for /Subtype /Form, or ('image',) for /Subtype /Image,
        from a page (or form) /Resources dict's /XObject table.  Forms
        carry their own resources, so fonts/xobjects recurse, at most 8
        deep.  ``path`` holds the object numbers of the forms being
        built: a form that reaches itself, directly or through other
        forms, is left out there (its ``Do`` then draws nothing); else a
        form listing itself under n names is built about n**8 times."""
        xobjs: dict[str, tuple] = {}
        if len(path) > 8:
            return xobjs
        for name, ref in (self._resolve(res.get("XObject"), dict)
                          or {}).items():
            # the stream's dict tells an image: its body is never read
            o = self._entry(ref.num) if isinstance(ref, Ref) else None
            sub = o[0].get("Subtype") if o and o[1] else None
            if sub == "Image":
                xobjs[name] = ("image",)
            elif sub == "Form" and ref.num not in path:
                fres = self._resolve(o[0].get("Resources"), dict) or {}
                body = _decode_stream_body(o[0], self._body(o[1]))
                xobjs[name] = ("form", body.decode("latin-1"),
                               self._page_fonts(fres),
                               self._page_xobjects(fres, (*path, ref.num)))
        return xobjs

    def _page_fonts(self, res: dict) -> dict:
        """Font resource name → tagged decode table from a /Resources
        dict's /Font table:
          ('cid', {cid: unicode})   Type0 fonts with a /ToUnicode CMap
          ('enc', {code: unicode})  simple fonts (Type1/TrueType) whose
                                    /Encoding carries a /Differences
                                    array (glyph names resolved via the
                                    AGL subset + algorithmic /uniXXXX)
        Fonts with neither are omitted — their strings keep byte-literal
        semantics."""
        fonts: dict[str, tuple] = {}
        for name, ref in (self._resolve(res.get("Font"), dict) or {}).items():
            fd = self._resolve(ref, dict)
            if fd is None:
                continue
            if fd.get("Subtype") == "Type0":
                cm = self._stream(fd.get("ToUnicode"))
                if cm:
                    fonts[name] = ("cid", parse_tounicode_cmap(
                        _decode_stream_body(*cm)))
            elif enc := self._font_differences(fd):
                fonts[name] = ("enc", enc)
        return fonts

    def _font_differences(self, fd: dict) -> dict[int, str]:
        """{byte code → unicode} from a simple font's /Encoding
        /Differences array (inline dict or indirect object).  The array
        alternates start codes and glyph names: each number sets the
        next code, each name consumes one code.  Names outside the AGL
        subset (and not /uniXXXX) are skipped — those codes keep their
        byte-literal meaning."""
        enc = self._resolve(fd.get("Encoding"), dict) or {}
        out: dict[int, str] = {}
        code = 0
        for v in self._resolve(enc.get("Differences"), list) or []:
            if type(v) is int:
                code = v
            elif isinstance(v, str):
                u = _glyph_to_unicode(v)
                if u is not None:
                    out[code] = u
                code += 1
        return out

    def _walk_pages(self, node, out: list, depth: int,
                    rotate: int = 0, media: tuple = _LETTER,
                    res: dict | None = None):
        if node is None or depth > 32:
            return
        d = self._resolve(node, dict)
        if d is None:
            raise ValueError(f"missing page-tree node {node}")
        # /Resources is INHERITABLE like /Rotate and /MediaBox (PDF
        # 32000 §7.8.3): a /Pages-node dict applies to every descendant
        # page unless the page declares its own
        own = self._resolve(d.get("Resources"), dict)
        if own is not None:
            res = own
        # inheritable attributes: this node's value (if any) overrides
        rot = self._resolve(d.get("Rotate"), int)
        if rot is not None:
            rotate = rot % 360
        box = _rect(self._resolve(d.get("MediaBox"), list))
        if box is not None:
            media = box[2:]
        if d.get("Type") == "Pages":
            for kid in self._resolve(d.get("Kids"), list) or []:
                self._walk_pages(kid, out, depth + 1, rotate, media, res)
        elif d.get("Type") == "Page":
            # /Contents: one stream, or an array of them (direct or
            # indirect) concatenated
            cont = d.get("Contents")
            parts: list[bytes] = []
            arr = self._resolve(cont, list)
            for ref in (arr if arr is not None else
                        [cont] if cont is not None else []):
                c = self._stream(ref)
                if c is None:
                    raise ValueError(f"missing content stream {ref}")
                parts.append(_decode_stream_body(*c))
            res = res or {}
            out.append((b"\n".join(parts), self._page_fonts(res),
                        self._page_xobjects(res), rotate, media,
                        *self._page_annots(d)))

    def _page_annots(self, d: dict) -> tuple[list, list]:
        """(links, widgets) from this page's /Annots array.

        Links: (x, y, w, h, uri) per /Subtype /Link annotation with a
        /Rect and a string /URI in its action dict /A.

        Widgets: (x, y, text) per filled AcroForm text field — a
        /Subtype /Widget annotation whose field dict (merged, the common
        producer layout) carries /FT /Tx and a string value /V.  The
        rendered text is ``name: value`` when the field has a partial
        name /T, else the bare value — the scanned-form idiom where the
        filled value is page content a viewer shows at the widget's
        /Rect.  Choice/checkbox fields (/Ch, /Btn) and
        appearance-stream-only widgets are out of subset."""
        links: list[tuple] = []
        fields: list[tuple] = []
        for a in self._resolve(d.get("Annots"), list) or []:
            ad = self._resolve(a, dict) or {}
            rect = _rect(self._resolve(ad.get("Rect"), list))
            if rect is None:
                continue
            sub = ad.get("Subtype")
            if sub == "Link":
                act = self._resolve(ad.get("A"), dict) or {}
                uri = act.get("URI")
                if isinstance(uri, bytes):
                    links.append((*rect, uri.decode("latin-1")))
            elif sub == "Widget" and ad.get("FT") == "Tx":
                val, name = _text(ad.get("V")), _text(ad.get("T"))
                if val is not None and name is not None:
                    val = f"{name}: {val}"
                if val:
                    fields.append((rect[0], rect[1], val))
        return links, fields

    def outline_titles(self) -> list[str]:
        """Depth-first bookmark titles from the catalog's /Outlines tree
        (/First child + /Next sibling chains, /Title strings — UTF-16BE
        decoded like any PDF text string).  Depth- and count-bounded so
        cyclic or corrupt chains terminate."""
        titles: list[str] = []
        cat = self._resolve(self.root, dict) or {}
        outlines = self._resolve(cat.get("Outlines"), dict)
        if outlines is None:
            return titles
        seen: set[int] = set()

        def walk(ref, depth: int):
            while isinstance(ref, Ref) and depth <= 16 \
                    and len(titles) < 1000 and ref.num not in seen:
                seen.add(ref.num)
                d = self._resolve(ref, dict)
                if d is None:
                    return
                title = _text(d.get("Title"))
                if title is not None:
                    titles.append(title)
                walk(d.get("First"), depth + 1)
                ref = d.get("Next")

        walk(outlines.get("First"), 0)
        return titles


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

    Each content stream is decoded through its own /Filter chain
    (``_decode_stream_body``) before it is read; raw streams are read
    as-is.

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
        pages = [(content, {}, {}, 0, _LETTER, [], [])
                 for content in _stream_contents(data)]
    else:
        pages, toc = structured
    for page, (content, fonts, xobjs, rot, media, lks,
               wdgs) in enumerate(pages):
        r, f = _parse_content(content, cfg, fonts, xobjs)
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


def _stream_contents(data: bytes):
    """Decoded (/Filter chain applied) content string per stream — the
    positional fallback path (no xref needed).  Corrupt or unsupported
    (image-only) filters skip the stream deterministically."""
    for sdict, raw in _stream_segments(data):
        if sdict.get("Type") in ("ObjStm", "XRef"):
            continue  # object/xref container, not page content
        try:
            yield _decode_stream_body(sdict, raw).decode("latin-1")
        except Exception:
            continue


# Inline images ``BI <dict> ID <binary> EI`` (§8.9.7): per spec EI
# follows white space
_EI_RE = re.compile(r"\sEI(?=[\s]|$)")
#: inline-image /ColorSpace → component count (abbreviated names per
#: PDF 32000 §8.9.7; unknown spaces fall back to the delimiter scan)
_CS_COMPONENTS = {"G": 1, "DeviceGray": 1, "RGB": 3, "DeviceRGB": 3,
                  "CMYK": 4, "DeviceCMYK": 4}
#: words that are values, never operators
_CONST_WORDS = ("true", "false", "null")


def _inline_image_end(content: str, it) -> int | None:
    """Offset past the ``EI`` of the inline image whose ``BI`` was the
    last token taken from ``it``; its binary payload must never
    tokenize (the bytes would read as phantom strings and operators).
    The end of ``content`` when no ``EI`` follows (a corrupt payload
    drops the rest), None when an operator or the end comes before
    ``ID`` (then ``BI`` is no image).

    The dict is read from ``it``: a name outside arrays and dicts is a
    key, the token after it its value.  The payload can hold the bytes
    `` EI `` by chance (probability ≈ N/2^24 for an N-byte image —
    routinely hit at real image sizes), so when the dict declares
    uncompressed samples (/W /H /BPC, a /CS of known component count or
    none, no /F filter) the payload length ceil(W·BPC·comps/8)·H is
    computed and the ``EI`` scan starts after it."""
    vals: dict[str, str] = {}
    key = None
    depth = 0  # open arrays and dicts
    for m in it:
        t = m.group()
        c = t[0]
        if t == "ID":
            break
        if (c.isalpha() or c in "'*\"") and t not in _CONST_WORDS:
            return None
        if c == "%":
            continue
        if depth == 0:
            if key is not None:
                vals.setdefault(key, t)
                key = None
            elif c == "/":
                key = _name_of(t)
        if t == "[" or t == "<<":
            depth += 1
        elif t == "]" or t == ">>":
            depth = max(depth - 1, 0)
    else:
        return None
    n = len(content)
    start = m.end() + 1  # ID and one white-space byte
    scan = start
    w, h = vals.get("W", vals.get("Width")), vals.get("H", vals.get("Height"))
    bpc = vals.get("BPC", vals.get("BitsPerComponent"))
    cs = vals.get("CS", vals.get("ColorSpace", "/G"))
    comps = _CS_COMPONENTS.get(_name_of(cs)) if cs[0] == "/" else None
    if "F" not in vals and "Filter" not in vals and comps \
            and all(v is not None and v.isdigit() for v in (w, h, bpc)):
        scan = start + ((int(w) * int(bpc) * comps + 7) // 8) * int(h)
    em = _EI_RE.search(content, min(scan, n))
    return n if em is None else em.end()


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


def _parse_content(content: str, cfg: ExtractConfig, fonts=None, xobjs=None,
                   depth: int = 0, mode0: int = 0) -> tuple[list, list]:
    """(text runs, figure rects (x, y, w, h)) of one content stream, read
    in one walk of _TOK_RE tokens.

    Inline images are read in the walk: the cursor jumps past the
    payload (see _inline_image_end), and the image is a figure placed by
    the current ``cm`` (the ``q w 0 0 h x y cm BI … EI Q`` producer
    idiom).  ``/Artifact`` marked content (PDF 32000 §14.8.2.2 — how
    real producers tag running headers/footers, page numbers and
    watermarks) is not main content: unless ``cfg.keep_artifacts``, a
    BMC/BDC whose tag (its first name operand) is /Artifact opens a
    span, nested BMC/BDC … EMC are counted, and no token before the
    matching EMC changes any state; an unterminated span drops the rest
    of the stream.  Other marked content, dicts and comments change
    nothing."""
    runs: list[TextRun] = []
    figures: list[tuple] = []
    x = y = 0.0
    size = 12.0
    leading = 14.0
    ctm = (1.0, 1.0, 0.0, 0.0)  # CTM (a, d, e, f) — b=c=0 subset
    gs_stack: list[tuple] = []  # q/Q save/restore: (ctm, Tr mode)
    in_text = False
    stack: list = []  # operand stack (numbers / strings / arrays)
    arr: list | None = None
    last_name = None
    tag = None     # the first name operand since the last operator
    hidden = 0     # depth of open marked content in an /Artifact span
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
            kind, table = cur_font
            if kind == "cid":
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

    it = _TOK_RE.finditer(content)
    while (m := next(it, None)) is not None:
        t = m.group()
        c = t[0]
        if hidden and t != "BI":  # inside an /Artifact span
            if t == "EMC":
                hidden -= 1
            elif t == "BDC" or t == "BMC":
                hidden += 1
            continue
        if c == "(" or c == "<" and t != "<<":
            s = decode_str(_unescape(t[1:-1]) if c == "(" else
                           _hex_bytes(t[1:-1]).decode("latin-1"))
            (stack if arr is None else arr).append(s)
            continue
        if c == "/":
            last_name = _name_of(t)  # remembered for Tf and Do
            if tag is None:
                tag = last_name
            continue
        if c in "-+.0123456789":  # _TOK_RE guarantees a valid number here
            (stack if arr is None else arr).append(float(t))
            continue
        if c == "[":
            arr = []
            continue
        if c == "]":
            stack.append(arr if arr is not None else [])
            arr = None
            continue
        if c in "<>%" or t in _CONST_WORDS:
            continue  # dicts (no operator here reads one), constants, comments
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
                    fr, ff = _parse_content(xo[1], cfg, xo[2], xo[3],
                                            depth + 1, mode0=mode)
                    dx, dy = ctm[2], ctm[3]
                    for tr in fr:
                        tr.x += dx
                        tr.y += dy
                    runs.extend(fr)
                    figures.extend(
                        (fx + dx, fy + dy, fw, fh) for fx, fy, fw, fh in ff)
        elif t == "BI":
            end = _inline_image_end(content, it)
            if end is not None and not (in_text or hidden):
                # unit image square scaled by (a, d), placed at (e, f)
                figures.append((ctm[2], ctm[3], ctm[0], ctm[1]))
            # on past the payload, or after a BI that starts no image
            it = _TOK_RE.finditer(content, m.end() if end is None else end)
        elif (t == "BDC" or t == "BMC") and tag == "Artifact" \
                and not cfg.keep_artifacts:
            hidden = 1
        stack = stack[-8:]  # bound the stack; operands are consumed loosely
        tag = None
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
            rs, cfg, ph[page] if page < len(ph) else _LETTER[1])
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
    page_h = page_h or _LETTER[1]
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
        ph[pg] if 0 <= pg < len(ph) else _LETTER[1])
    return PdfBlock(kind, lines, (x0, y0, x1, y1), lines[0].page,
                    lines[0].col)


def _classify_text_block(lines, bbox, cfg: ExtractConfig,
                         page_h: float | None = None) -> str:
    # boilerplate: a single short line in the top/bottom page band (header/footer)
    page_h = page_h or _LETTER[1]
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
            # numbers, operators) — the content walk must skip it whole
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
                else ENCODERS[name](body))
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
