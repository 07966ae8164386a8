"""PDF stream filter codecs beyond Flate (PDF 32000-1 §7.4).

Both directions for each filter: the extractor DECODES real-world
streams (older producers emit LZW; print pipelines wrap binary in
ASCII85/ASCIIHex armor; fax-era tools use RunLength — often CHAINED,
e.g. ``/Filter [/ASCII85Decode /FlateDecode]``), and the fixture writer
ENCODES so tests assert ``extract(encode(x)) == extract(x)`` instead of
trusting the decoder about itself.

All stdlib.  LZW is the PDF/TIFF variant: 9→12-bit codes MSB-first,
Clear=256, EOD=257, EarlyChange=1 (code width grows one code early) —
pinned to the worked example in PDF 32000-1 §7.4.4.2.  Decoders raise
``ValueError`` on malformed input: the structured parse falls back to
the positional scan, which skips the stream — corrupt payloads must
never tokenize as phantom text.
"""

from __future__ import annotations

# ---------------------------------------------------------------------------
# ASCIIHexDecode (§7.4.2)
# ---------------------------------------------------------------------------

_HEX = b"0123456789abcdefABCDEF"
_WS = b"\x00\t\n\x0c\r "


def ascii_hex_decode(data: bytes) -> bytes:
    digits = []
    for b in data:
        if b == 0x3E:  # '>' EOD
            break
        if b in _WS:
            continue
        if b not in _HEX:
            raise ValueError("non-hex byte in ASCIIHexDecode")
        digits.append(chr(b))
    if len(digits) % 2:  # odd final digit: implicit trailing 0
        digits.append("0")
    return bytes.fromhex("".join(digits))


def ascii_hex_encode(data: bytes) -> bytes:
    return data.hex().encode("ascii") + b">"


# ---------------------------------------------------------------------------
# ASCII85Decode (§7.4.3) — Adobe variant: '!'..'u', 'z' zero group, '~>' EOD
# ---------------------------------------------------------------------------

def ascii85_decode(data: bytes) -> bytes:
    out = bytearray()
    group: list[int] = []
    i, n = 0, len(data)
    while i < n:
        b = data[i]
        if b in _WS:
            i += 1
            continue
        if b == 0x7E:  # '~' → expect '>' EOD
            break
        if b == 0x7A:  # 'z' — only legal between groups
            if group:
                raise ValueError("'z' inside ASCII85 group")
            out += b"\x00\x00\x00\x00"
            i += 1
            continue
        if not 0x21 <= b <= 0x75:
            raise ValueError("byte out of ASCII85 range")
        group.append(b - 0x21)
        if len(group) == 5:
            v = 0
            for d in group:
                v = v * 85 + d
            if v > 0xFFFFFFFF:
                raise ValueError("ASCII85 group overflow")
            out += v.to_bytes(4, "big")
            group = []
        i += 1
    if group:
        if len(group) == 1:
            raise ValueError("single-digit final ASCII85 group")
        k = len(group)
        v = 0
        for d in group + [84] * (5 - k):  # pad with 'u'
            v = v * 85 + d
        out += v.to_bytes(4, "big")[: k - 1]
    return bytes(out)


def ascii85_encode(data: bytes) -> bytes:
    out = bytearray()
    for i in range(0, len(data), 4):
        chunk = data[i:i + 4]
        k = len(chunk)
        v = int.from_bytes(chunk + b"\x00" * (4 - k), "big")
        if v == 0 and k == 4:
            out += b"z"
            continue
        digs = bytearray(5)
        for j in range(4, -1, -1):
            digs[j] = v % 85 + 0x21
            v //= 85
        out += digs[: k + 1]
    return bytes(out) + b"~>"


# ---------------------------------------------------------------------------
# RunLengthDecode (§7.4.5)
# ---------------------------------------------------------------------------

def runlength_decode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        l = data[i]
        i += 1
        if l == 128:  # EOD
            return bytes(out)
        if l < 128:  # copy the next l+1 bytes literally
            if i + l + 1 > n:
                raise ValueError("truncated RunLength literal")
            out += data[i:i + l + 1]
            i += l + 1
        else:  # repeat the next byte 257-l times
            if i >= n:
                raise ValueError("truncated RunLength run")
            out += bytes([data[i]]) * (257 - l)
            i += 1
    return bytes(out)  # spec wants EOD but real producers omit it


def runlength_encode(data: bytes) -> bytes:
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        # find run length at i
        j = i + 1
        while j < n and j - i < 128 and data[j] == data[i]:
            j += 1
        if j - i >= 2:  # worth a run (2 bytes either way at length 2)
            out += bytes([257 - (j - i), data[i]])
            i = j
            continue
        # literal span: until the next ≥2-run or 128 bytes
        j = i + 1
        while j < n and j - i < 128 and not (
                j + 1 < n and data[j] == data[j + 1]):
            j += 1
        out += bytes([j - i - 1]) + data[i:j]
        i = j
    return bytes(out) + b"\x80"


# ---------------------------------------------------------------------------
# LZWDecode (§7.4.4) — TIFF/PDF LZW, MSB-first, EarlyChange=1 default
# ---------------------------------------------------------------------------

def lzw_decode(data: bytes, early: int = 1) -> bytes:
    out = bytearray()
    table: dict[int, bytes] = {}
    next_code = 258
    width = 9
    prev: bytes | None = None
    buf = nbits = 0
    for byte in data:
        buf = (buf << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (buf >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:  # Clear
                table.clear()
                next_code, width, prev = 258, 9, None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if code < 256:
                entry = bytes([code])
            elif code in table:
                entry = table[code]
            elif code == next_code and prev is not None:
                entry = prev + prev[:1]  # the KwKwK case
            else:
                raise ValueError("LZW code out of sequence")
            out += entry
            if prev is not None:
                table[next_code] = prev + entry[:1]
                next_code += 1
                # EarlyChange, PLUS one more: the decoder's table lags
                # the encoder's by one entry at the same stream
                # position, so it must widen one code sooner
                if next_code + early >= (1 << width) and width < 12:
                    width += 1
            prev = entry
    return bytes(out)  # EOD missing: emit what decoded (lenient)


def lzw_encode(data: bytes, early: int = 1) -> bytes:
    out = bytearray()
    buf = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal buf, nbits
        buf = (buf << width) | code
        nbits += width
        while nbits >= 8:
            out.append((buf >> (nbits - 8)) & 0xFF)
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    emit(256, width)  # leading Clear per spec
    w = b""
    for i in range(len(data)):
        c = data[i:i + 1]
        if w + c in table:
            w += c
            continue
        emit(table[w], width)
        table[w + c] = next_code
        next_code += 1
        if next_code + early > (1 << width) and width < 12:
            width += 1
        if next_code >= 4096 - 2:  # table full: reset
            emit(256, width)
            table = {bytes([i]): i for i in range(256)}
            next_code, width = 258, 9
        w = c
    if w:
        emit(table[w], width)
        # the decoder performs an add + width check on every received
        # data code — mirror that bookkeeping for the FINAL code (which
        # adds no real entry) so EOD is written at the width the
        # decoder will read it at
        next_code += 1
        if next_code + early > (1 << width) and width < 12:
            width += 1
    emit(257, width)  # EOD
    if nbits:
        out.append((buf << (8 - nbits)) & 0xFF)
    return bytes(out)


#: decode-order name → decoder; Flate handled by the caller (zlib +
#: predictor), image-only filters (DCT/JPX/CCITT/JBIG2) intentionally
#: absent — a content stream under those is not text
DECODERS = {
    "ASCIIHexDecode": ascii_hex_decode, "AHx": ascii_hex_decode,
    "ASCII85Decode": ascii85_decode, "A85": ascii85_decode,
    "RunLengthDecode": runlength_decode, "RL": runlength_decode,
    "LZWDecode": lzw_decode, "LZW": lzw_decode,
}

ENCODERS = {
    "ASCIIHexDecode": ascii_hex_encode,
    "ASCII85Decode": ascii85_encode,
    "RunLengthDecode": runlength_encode,
    "LZWDecode": lzw_encode,
}
