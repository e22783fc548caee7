"""R8 — minimal pure-stdlib PDF text extractor.

The reference parses PDFs with github.com/ledongthuc/pdf and emits one
plain-text block per page (internal/parser/pdf.go:16-58: GetPlainText
per page, no layout reconstruction).  No PDF library ships in this
container, so this module implements the subset that mainstream word
processors emit — enough to process the committed jean1.pdf fixture
from raw bytes:

* startxref/xref fast path (classic tables, 1.5+ xref streams, /Prev
  revision chains, hybrid /XRefStm) with fallback to a tolerant
  whole-file regex scan for files with broken or absent xref;
  /ObjStm object-stream expansion;
* the five byte-stream filters text content realistically carries —
  FlateDecode (zlib), LZWDecode (9→12-bit TIFF-style with EarlyChange),
  ASCIIHexDecode, ASCII85Decode, RunLengthDecode — chained in /Filter
  order, each with optional PNG predictors;
* page-tree walk in /Kids order;
* content-stream interpretation of the text operators (BT/ET, Tf, Tm,
  Td/TD/T*, Tj, TJ, ', ") — runs on the same baseline concatenate,
  a y-change starts a new line (Word emits absolute Tm per run);
* byte→unicode via the font: Type0/Identity-H through the /ToUnicode
  CMap (bfchar + bfrange, 2-byte codes), simple fonts through
  WinAnsiEncoding (cp1252), MacRomanEncoding, or latin-1, with
  /Differences glyph-name overrides resolved via the Adobe Glyph List
  naming convention (TeX-style custom encodings).

* standard-security-handler decryption (RC4 /V 1-2, /R 2-3) with an
  empty user password — the owner-locked (print/copy-restricted)
  documents web corpora actually contain.

Anything outside the subset (image-codec filters on a content stream,
AES-encrypted files or non-empty user passwords, fonts with neither
ToUnicode nor a standard encoding) raises ``PdfUnsupportedError`` — at
pipeline level a poison document routes to the quarantine table (C5)
instead of killing the job.
"""

from __future__ import annotations

import hashlib
import re
import zlib

__all__ = ["PdfUnsupportedError", "extract_pages", "extract_images", "png_defilter"]


class PdfUnsupportedError(ValueError):
    """Raised for PDF features outside the supported subset."""


def _pdf_int(v, what: str) -> int:
    """A resolved PDF number as an int; any other object is damage."""
    if not isinstance(v, (int, float)):
        raise PdfUnsupportedError(f"{what} is not a number")
    return int(v)


class Name(str):
    """A /Name token — distinct from bare operator keywords so the
    content-stream interpreter can tell `/F1` (operand) from `Tf`
    (operator); hashes/compares as plain str for dict keys."""


class Ref:
    __slots__ = ("num",)

    def __init__(self, num: int):
        self.num = num

    def __repr__(self):  # pragma: no cover - debug aid
        return f"Ref({self.num})"


_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"


class _Lexer:
    """Recursive-descent parser for PDF object syntax over bytes."""

    def __init__(self, data: bytes, pos: int = 0):
        self.data = data
        self.pos = pos

    def _skip_ws(self) -> None:
        d, n = self.data, len(self.data)
        while self.pos < n:
            b = d[self.pos]
            if b == 0x25:  # % comment runs to end of line
                eol = d.find(b"\n", self.pos)
                self.pos = n if eol < 0 else eol + 1
            elif b in _WS:
                self.pos += 1
            else:
                return

    def peek(self) -> bytes:
        self._skip_ws()
        return self.data[self.pos : self.pos + 2]

    def parse(self):
        self._skip_ws()
        d = self.data
        c = d[self.pos : self.pos + 1]
        if c == b"<":
            if d[self.pos : self.pos + 2] == b"<<":
                return self._dict()
            return self._hex_string()
        if c == b"(":
            return self._lit_string()
        if c == b"/":
            return self._name()
        if c == b"[":
            return self._array()
        if c in b"+-.0123456789":
            return self._number_or_ref()
        # bare keyword (true/false/null or a content operator)
        return self._keyword()

    def _dict(self) -> dict:
        self.pos += 2
        out: dict = {}
        while True:
            self._skip_ws()
            if self.data[self.pos : self.pos + 2] == b">>":
                self.pos += 2
                return out
            key = self.parse()
            val = self.parse()
            if isinstance(key, str):
                out[key] = val

    def _array(self) -> list:
        self.pos += 1
        out = []
        while True:
            self._skip_ws()
            if self.data[self.pos : self.pos + 1] == b"]":
                self.pos += 1
                return out
            out.append(self.parse())

    def _name(self) -> str:
        self.pos += 1
        start = self.pos
        d, n = self.data, len(self.data)
        while self.pos < n and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
            self.pos += 1
        raw = d[start : self.pos]
        # #xx hex escapes in names (e.g. /Matisse#20ITC)
        raw = re.sub(rb"#([0-9A-Fa-f]{2})", lambda m: bytes([int(m.group(1), 16)]), raw)
        return Name(raw.decode("latin-1"))

    def _lit_string(self) -> bytes:
        self.pos += 1
        d, n = self.data, len(self.data)
        out = bytearray()
        depth = 1
        while self.pos < n:
            b = d[self.pos]
            if b == 0x5C:  # backslash
                self.pos += 1
                e = d[self.pos : self.pos + 1]
                esc = {b"n": 10, b"r": 13, b"t": 9, b"b": 8, b"f": 12}
                if e in esc:
                    out.append(esc[e])
                    self.pos += 1
                elif e.isdigit():
                    oct_s = b""
                    for _ in range(3):
                        if d[self.pos : self.pos + 1].isdigit():
                            oct_s += d[self.pos : self.pos + 1]
                            self.pos += 1
                        else:
                            break
                    out.append(int(oct_s, 8) & 0xFF)
                elif e in (b"\n", b"\r"):  # line continuation
                    self.pos += 1
                    if e == b"\r" and d[self.pos : self.pos + 1] == b"\n":
                        self.pos += 1
                else:
                    out += e
                    self.pos += 1
            elif b == 0x28:  # (
                depth += 1
                out.append(b)
                self.pos += 1
            elif b == 0x29:  # )
                depth -= 1
                if depth == 0:
                    self.pos += 1
                    return bytes(out)
                out.append(b)
                self.pos += 1
            else:
                out.append(b)
                self.pos += 1
        return bytes(out)

    def _hex_string(self) -> bytes:
        self.pos += 1
        end = self.data.find(b">", self.pos)
        if end < 0:
            raise PdfUnsupportedError("unterminated hex string")
        hexs = re.sub(rb"[^0-9A-Fa-f]", b"", self.data[self.pos : end])
        self.pos = end + 1
        if len(hexs) % 2:
            hexs += b"0"
        return bytes.fromhex(hexs.decode("ascii"))

    def _number_or_ref(self):
        start = self.pos
        d, n = self.data, len(self.data)
        while self.pos < n and d[self.pos : self.pos + 1] in b"+-.0123456789":
            self.pos += 1
        tok = d[start : self.pos]
        # lookahead for "<gen> R" — an indirect reference
        m = re.match(rb"\s+(\d+)\s+R\b", d[self.pos : self.pos + 16])
        if m and b"." not in tok and not tok.startswith((b"+", b"-")):
            self.pos += m.end()
            return Ref(int(tok))
        return float(tok) if b"." in tok else int(tok)

    def _keyword(self) -> str:
        start = self.pos
        d, n = self.data, len(self.data)
        while self.pos < n and d[self.pos] not in _WS and d[self.pos] not in _DELIM:
            self.pos += 1
        if self.pos == start:  # lone delimiter (shouldn't happen) — skip
            self.pos += 1
        return d[start : self.pos].decode("latin-1")


def png_defilter(data: bytes, stride: int, bpp: int, rows: int | None = None) -> bytearray:
    """Undo PNG scanline filters 0-4 (None/Sub/Up/Average/Paeth) over
    rows of a filter-type byte + ``stride`` bytes, ``bpp`` bytes per
    pixel; for the PDF predictors and kgc.media's PNG decoder.
    ``rows=None`` takes every whole row; ``rows`` that ``data`` cannot
    fill are refused, so a damaged header never sizes an allocation."""
    if rows is None:
        rows = len(data) // (stride + 1)
    elif len(data) < rows * (stride + 1):
        raise PdfUnsupportedError("truncated PNG-filtered data")
    out = bytearray()
    if not rows:
        return out
    prev = bytearray(stride)
    for r in range(rows):
        pos = r * (stride + 1)
        ftype = data[pos]
        line = bytearray(data[pos + 1 : pos + 1 + stride])
        if ftype == 1:  # Sub
            for i in range(bpp, stride):
                line[i] = (line[i] + line[i - bpp]) & 0xFF
        elif ftype == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ftype == 3:  # Average
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ftype == 4:  # Paeth
            for i in range(stride):
                a = line[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pr) & 0xFF
        elif ftype != 0:
            raise PdfUnsupportedError(f"unknown PNG filter type {ftype}")
        out += line
        prev = line
    return out


def _unpredict(data: bytes, predictor: int, colors: int, bits: int, columns: int) -> bytes:
    """Undo a /DecodeParms /Predictor: 1 is none, 10-15 are PNG filters
    over rows of ceil(colors × bits × columns / 8) bytes; 2 (TIFF) and
    other values are refused."""
    if predictor == 1:
        return data
    if predictor < 10 or min(colors, bits, columns) < 1:
        raise PdfUnsupportedError(f"predictor {predictor} ({colors}x{bits}x{columns})")
    stride = (colors * bits * columns + 7) // 8
    return bytes(png_defilter(data, stride, max(1, colors * bits // 8)))


def _lzw_decode(data: bytes, early: int = 1) -> bytes:
    """PDF LZWDecode (spec 7.4.4): TIFF-style MSB-first variable-width
    codes, 9→12 bits, clear=256, EOD=257; EarlyChange (default 1) grows
    the code width one entry before the table fills."""
    CLEAR, EOD = 256, 257
    table: dict[int, bytes] = {i: bytes([i]) for i in range(256)}
    next_code, width = 258, 9
    out = bytearray()
    prev: bytes | None = None
    buf = nbits = 0
    for byte in data:
        buf = (buf << 8) | byte
        nbits += 8
        while nbits >= width:
            nbits -= width
            code = (buf >> nbits) & ((1 << width) - 1)
            if code == CLEAR:
                table = {i: bytes([i]) for i in range(256)}
                next_code, width, prev = 258, 9, None
                continue
            if code == EOD:
                return bytes(out)
            if prev is None:
                entry = table.get(code)
                if entry is None:
                    raise PdfUnsupportedError("corrupt LZW stream: bad first code")
            elif code in table:
                entry = table[code]
                table[next_code] = prev + entry[:1]
                next_code += 1
            elif code == next_code:  # KwKwK case
                entry = prev + prev[:1]
                table[next_code] = entry
                next_code += 1
            else:
                raise PdfUnsupportedError("corrupt LZW stream: code out of range")
            out += entry
            prev = entry
            if next_code >= (1 << width) - early and width < 12:
                width += 1
    return bytes(out)


def _ahx_decode(data: bytes) -> bytes:
    """ASCIIHexDecode (spec 7.4.2): hex pairs, whitespace ignored,
    '>' ends the stream, an odd trailing digit is padded with 0."""
    body = data.split(b">", 1)[0]
    hexs = b"".join(body.split())
    if len(hexs) % 2:
        hexs += b"0"
    try:
        return bytes.fromhex(hexs.decode("ascii"))
    except (ValueError, UnicodeDecodeError) as e:
        raise PdfUnsupportedError(f"corrupt ASCIIHex stream: {e}")


def _a85_decode(data: bytes) -> bytes:
    """ASCII85Decode (spec 7.4.3): base-85 groups with the 'z' zero
    shorthand; optional '<~' prefix, '~>' terminator."""
    import base64

    body = bytes(data).strip()
    if body.startswith(b"<~"):
        body = body[2:]
    end = body.find(b"~>")
    if end != -1:
        body = body[:end]
    try:
        return base64.a85decode(body, ignorechars=b" \t\n\r\v\x0c")
    except ValueError as e:
        raise PdfUnsupportedError(f"corrupt ASCII85 stream: {e}")


def _rl_decode(data: bytes) -> bytes:
    """RunLengthDecode (spec 7.4.5): length byte L — L<128 copies the
    next L+1 bytes, L>128 repeats the next byte 257−L times, 128=EOD."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        length = data[i]
        i += 1
        if length == 128:
            break
        if length < 128:
            chunk = data[i : i + length + 1]
            if len(chunk) != length + 1:
                raise PdfUnsupportedError("truncated RunLength stream")
            out += chunk
            i += length + 1
        else:
            if i >= n:
                raise PdfUnsupportedError("truncated RunLength stream")
            out += bytes([data[i]]) * (257 - length)
            i += 1
    return bytes(out)


# ------------------------------------------------- standard encryption ---
# PDF 32000-1:2008 §7.6.3 standard security handler, RC4 variants only
# (/V 1-2, /R 2-3) with an EMPTY user password — the "owner-locked"
# documents web corpora actually contain (copy/print restrictions, no
# open password).  AES (/V ≥ 4) needs a cipher the stdlib doesn't have
# and raises PdfUnsupportedError → quarantine.

_PW_PAD = bytes([
    0x28, 0xBF, 0x4E, 0x5E, 0x4E, 0x75, 0x8A, 0x41, 0x64, 0x00, 0x4E, 0x56,
    0xFF, 0xFA, 0x01, 0x08, 0x2E, 0x2E, 0x00, 0xB6, 0xD0, 0x68, 0x3E, 0x80,
    0x2F, 0x0C, 0xA9, 0xFE, 0x64, 0x53, 0x69, 0x7A,
])


def _rc4(key: bytes, data: bytes) -> bytes:
    """RC4 stream cipher (symmetric: same function encrypts/decrypts)."""
    s = list(range(256))
    j = 0
    klen = len(key)
    for i in range(256):
        j = (j + s[i] + key[i % klen]) & 0xFF
        s[i], s[j] = s[j], s[i]
    out = bytearray(len(data))
    i = j = 0
    for k, b in enumerate(data):
        i = (i + 1) & 0xFF
        j = (j + s[i]) & 0xFF
        s[i], s[j] = s[j], s[i]
        out[k] = b ^ s[(s[i] + s[j]) & 0xFF]
    return bytes(out)


def _std_file_key(pw: bytes, o: bytes, p: int, id0: bytes, r: int, n: int,
                  encrypt_metadata: bool = True) -> bytes:
    """Algorithm 2: the file encryption key from the (padded) user
    password, /O, /P (as a SIGNED int packed little-endian unsigned),
    and the first document ID string (R4 with /EncryptMetadata false
    additionally hashes ffffffff)."""
    h = hashlib.md5()
    h.update((pw + _PW_PAD)[:32])
    h.update((o or b"")[:32])
    h.update((p & 0xFFFFFFFF).to_bytes(4, "little"))
    h.update(id0 or b"")
    if r >= 4 and not encrypt_metadata:
        h.update(b"\xff\xff\xff\xff")
    key = h.digest()
    if r >= 3:
        for _ in range(50):
            key = hashlib.md5(key[:n]).digest()
    return key[:n]


def _check_user_pw(key: bytes, u: bytes, id0: bytes, r: int) -> bool:
    """Algorithms 4/5: does the derived key reproduce /U? (= the tried
    user password is correct)."""
    if r == 2:
        return _rc4(key, _PW_PAD) == (u or b"")[:32]
    x = _rc4(key, hashlib.md5(_PW_PAD + (id0 or b"")).digest())
    for i in range(1, 20):
        x = _rc4(bytes(b ^ i for b in key), x)
    return x == (u or b"")[:16]


# --------------------------------------------------------- AES (decrypt) ---
# Pure-stdlib AES inverse cipher + CBC for /AESV2 (AES-128) and /AESV3
# (AES-256) crypt filters — no cipher library ships in this container.
# Core validated against the FIPS-197 appendix C known-answer vectors
# (tests/test_parsers.py::TestPdfEncryption::test_aes_core_fips197).
# Throughput is irrelevant here: PDF text streams are KBs and decryption
# runs inside the per-document parse UDF, not on the hot columnar path.

_AES_SBOX = bytes.fromhex(
    "637c777bf26b6fc53001672bfed7ab76ca82c97dfa5947f0add4a2af9ca472c0"
    "b7fd9326363ff7cc34a5e5f171d8311504c723c31896059a071280e2eb27b275"
    "09832c1a1b6e5aa0523bd6b329e32f8453d100ed20fcb15b6acbbe394a4c58cf"
    "d0efaafb434d338545f9027f503c9fa851a3408f929d38f5bcb6da2110fff3d2"
    "cd0c13ec5f974417c4a77e3d645d197360814fdc222a908846eeb814de5e0bdb"
    "e0323a0a4906245cc2d3ac629195e479e7c8376d8dd54ea96c56f4ea657aae08"
    "ba78252e1ca6b4c6e8dd741f4bbd8b8a703eb5664803f60e613557b986c11d9e"
    "e1f8981169d98e949b1e87e9ce5528df8ca1890dbfe6426841992d0fb054bb16"
)
_AES_INV_SBOX = bytes(256)
_AES_INV_SBOX = bytearray(256)
for _i, _v in enumerate(_AES_SBOX):
    _AES_INV_SBOX[_v] = _i
_AES_INV_SBOX = bytes(_AES_INV_SBOX)
_AES_RCON = (0x01, 0x02, 0x04, 0x08, 0x10, 0x20, 0x40, 0x80, 0x1B, 0x36,
             0x6C, 0xD8, 0xAB, 0x4D)


def _xt(a: int) -> int:  # GF(2^8) multiply by x
    a <<= 1
    return (a ^ 0x1B) & 0xFF if a & 0x100 else a


def _gmul(a: int, b: int) -> int:
    p = 0
    for _ in range(8):
        if b & 1:
            p ^= a
        a = _xt(a)
        b >>= 1
    return p


def _aes_expand_key(key: bytes) -> list[bytes]:
    nk = len(key) // 4
    nr = nk + 6
    words = [key[4 * i : 4 * i + 4] for i in range(nk)]
    for i in range(nk, 4 * (nr + 1)):
        t = words[i - 1]
        if i % nk == 0:
            t = bytes(
                _AES_SBOX[t[(j + 1) % 4]] ^ (_AES_RCON[i // nk - 1] if j == 0 else 0)
                for j in range(4)
            )
        elif nk > 6 and i % nk == 4:
            t = bytes(_AES_SBOX[b] for b in t)
        words.append(bytes(a ^ b for a, b in zip(words[i - nk], t)))
    return [b"".join(words[4 * r : 4 * r + 4]) for r in range(nr + 1)]


def _aes_decrypt_block(rks: list[bytes], block: bytes) -> bytes:
    s = bytes(a ^ b for a, b in zip(block, rks[-1]))
    for rnd in range(len(rks) - 2, -1, -1):
        # InvShiftRows ∘ InvSubBytes (column-major 4x4 state)
        s = bytes(
            _AES_INV_SBOX[s[(c * 4 + r - 4 * r) % 16]]
            for c in range(4)
            for r in range(4)
        )
        s = bytes(a ^ b for a, b in zip(s, rks[rnd]))
        if rnd > 0:  # InvMixColumns (skipped on the final/first round key)
            out = bytearray(16)
            for c in range(4):
                col = s[4 * c : 4 * c + 4]
                out[4 * c + 0] = (_gmul(col[0], 14) ^ _gmul(col[1], 11)
                                  ^ _gmul(col[2], 13) ^ _gmul(col[3], 9))
                out[4 * c + 1] = (_gmul(col[0], 9) ^ _gmul(col[1], 14)
                                  ^ _gmul(col[2], 11) ^ _gmul(col[3], 13))
                out[4 * c + 2] = (_gmul(col[0], 13) ^ _gmul(col[1], 9)
                                  ^ _gmul(col[2], 14) ^ _gmul(col[3], 11))
                out[4 * c + 3] = (_gmul(col[0], 11) ^ _gmul(col[1], 13)
                                  ^ _gmul(col[2], 9) ^ _gmul(col[3], 14))
            s = bytes(out)
    return s


def _aes_encrypt_block(rks: list[bytes], block: bytes) -> bytes:
    """Forward cipher — needed only for the R6 key-derivation hash
    (Algorithm 2.B encrypts inside the KDF loop) and for tests."""
    s = bytes(a ^ b for a, b in zip(block, rks[0]))
    nr = len(rks) - 1
    for rnd in range(1, nr + 1):
        # SubBytes ∘ ShiftRows
        s = bytes(
            _AES_SBOX[s[(c * 4 + r + 4 * r) % 16]]
            for c in range(4)
            for r in range(4)
        )
        if rnd < nr:  # MixColumns
            out = bytearray(16)
            for c in range(4):
                col = s[4 * c : 4 * c + 4]
                out[4 * c + 0] = _xt(col[0]) ^ _xt(col[1]) ^ col[1] ^ col[2] ^ col[3]
                out[4 * c + 1] = col[0] ^ _xt(col[1]) ^ _xt(col[2]) ^ col[2] ^ col[3]
                out[4 * c + 2] = col[0] ^ col[1] ^ _xt(col[2]) ^ _xt(col[3]) ^ col[3]
                out[4 * c + 3] = _xt(col[0]) ^ col[0] ^ col[1] ^ col[2] ^ _xt(col[3])
            s = bytes(out)
        s = bytes(a ^ b for a, b in zip(s, rks[rnd]))
    return s


def _aes_cbc_decrypt(key: bytes, data: bytes, iv: bytes | None = None,
                     unpad: bool = True) -> bytes:
    """AES-CBC: PDF streams carry the IV as the first 16 bytes unless an
    explicit ``iv`` is given; PKCS#7 padding stripped unless unpad=False
    (the R6 /UE unwrap uses IV=0, no padding)."""
    if iv is None:
        iv, data = data[:16], data[16:]
    if len(data) % 16:
        raise PdfUnsupportedError("AES stream not block-aligned")
    rks = _aes_expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = data[i : i + 16]
        out += bytes(a ^ b for a, b in zip(_aes_decrypt_block(rks, blk), prev))
        prev = blk
    if unpad and out:
        n = out[-1]
        # PKCS#7: all n pad bytes must equal n.  A block-aligned but
        # corrupt stream must route to quarantine, not silently lose
        # up to 16 bytes of tail text.
        if not (1 <= n <= 16) or len(out) < n or any(b != n for b in out[-n:]):
            raise PdfUnsupportedError("bad AES padding")
        out = out[:-n]
    return bytes(out)


def _aes_cbc_encrypt_nopad(key: bytes, iv: bytes, data: bytes) -> bytes:
    """Block-aligned CBC encrypt (no padding) — Algorithm 2.B internal."""
    rks = _aes_expand_key(key)
    out = bytearray()
    prev = iv
    for i in range(0, len(data), 16):
        blk = bytes(a ^ b for a, b in zip(data[i : i + 16], prev))
        prev = _aes_encrypt_block(rks, blk)
        out += prev
    return bytes(out)


def _r6_hash(pw: bytes, salt: bytes, udata: bytes = b"") -> bytes:
    """ISO 32000-2 Algorithm 2.B (the R6 iterated KDF): SHA-256 seed,
    then ≥64 rounds of AES-128-CBC over 64 repetitions of (pw‖K‖udata)
    with the digest algorithm (SHA-256/384/512) chosen by the first 16
    encrypted bytes mod 3; stop once round ≥ 64 and E[-1] ≤ round−32."""
    k = hashlib.sha256(pw + salt + udata).digest()
    rnd = 0
    while True:
        k1 = (pw + k + udata) * 64
        e = _aes_cbc_encrypt_nopad(k[:16], k[16:32], k1)
        mod = sum(e[:16]) % 3
        k = (hashlib.sha256, hashlib.sha384, hashlib.sha512)[mod](e).digest()
        rnd += 1
        if rnd >= 64 and e[-1] <= rnd - 32:
            return k[:32]


# image codecs: the stream bytes at this point in the /Filter chain ARE
# the encoded image (never used for content/text streams)
_IMAGE_CODECS = {"DCTDecode", "DCT", "JPXDecode", "CCITTFaxDecode", "CCF",
                 "JBIG2Decode"}

_OBJ_AT = re.compile(rb"[\r\n\t\x0c\x00 ]*(\d+)\s+\d+\s+obj\b")


class _Doc:
    def __init__(self, data: bytes):
        self.data = data
        self.objs: dict[int, tuple[object, bytes | None]] = {}
        self.trailer: dict = {}
        self._crypt_key: bytes | None = None
        self._crypt_mode = "rc4"
        self.scan_method = "xref"
        self._scan()

    def _scan(self) -> None:
        """Locate every object.  Fast path: walk the startxref → xref
        chain (classic tables, xref streams, /Prev revisions) and parse
        only the objects the cross-reference actually points at — the
        spec-faithful resolution order where the newest revision of an
        object wins.  Any malformation in the chain falls back to the
        tolerant whole-file regex scan (works for files with broken or
        absent xref, which real-world corpora are full of)."""
        try:
            self._scan_xref()
            self._setup_encryption()
            self._expand_objstm()
            if not any(
                isinstance(v, dict) and v.get("Type") == "Catalog"
                for v, _ in self.objs.values()
            ):
                raise PdfUnsupportedError("xref scan found no /Catalog")
            return
        except Exception:
            self.objs = {}
            self.trailer = {}
            self._crypt_key = None
            self._crypt_mode = "rc4"
            self.scan_method = "regex"
        for m in re.finditer(rb"(?<![0-9])(\d+)\s+\d+\s+obj\b", self.data):
            num = int(m.group(1))
            try:
                self.objs[num] = self._parse_obj_body(m.end())
            except Exception:
                continue
        # trailer dicts (newest appended LAST in incrementally-updated
        # files — walk in reverse so the newest /Encrypt and /ID win);
        # xref-stream-only files carry them on the /Type/XRef dict
        for tm in reversed(list(re.finditer(rb"trailer\b", self.data))):
            try:
                t = _Lexer(self.data, tm.end()).parse()
            except Exception:
                continue
            if isinstance(t, dict):
                for k in ("Encrypt", "ID", "Root"):
                    if k in t:
                        self.trailer.setdefault(k, t[k])
        for val, _ in self.objs.values():
            if isinstance(val, dict) and val.get("Type") == "XRef":
                for k in ("Encrypt", "ID", "Root"):
                    if k in val:
                        self.trailer.setdefault(k, val[k])
        self._setup_encryption()
        self._expand_objstm()

    # ------------------------------------------------------- encryption ---
    def _setup_encryption(self) -> None:
        """Resolve the trailer's /Encrypt dict (standard handler: RC4
        /V 1-2, crypt filters /V 4 with /V2 or /AESV2, AES-256 /V 5
        R5/R6 — always with an EMPTY user password) into a file key;
        streams are decrypted per-object in
        ``stream_bytes``/``_expand_objstm``.  Strings in object
        dictionaries stay encrypted — text extraction never reads them
        (page text lives in content STREAMS).  Non-empty user
        passwords and non-Standard handlers raise → quarantine (C5)."""
        enc = self.trailer.get("Encrypt")
        if enc is None:
            return
        e = self.resolve(enc)
        if not isinstance(e, dict):
            raise PdfUnsupportedError("malformed /Encrypt dictionary")
        if self.resolve(e.get("Filter")) != "Standard":
            raise PdfUnsupportedError(
                f"encryption handler {self.resolve(e.get('Filter'))!r}"
            )
        v = _pdf_int(self.resolve(e.get("V")) or 0, "/V")
        r = _pdf_int(self.resolve(e.get("R", 2)), "/R")
        o = self.resolve(e.get("O"))
        u = self.resolve(e.get("U"))
        if not (isinstance(o, bytes) and isinstance(u, bytes)):
            raise PdfUnsupportedError("malformed /O or /U entry")
        if v == 5 and r in (5, 6):
            self._setup_v5(e, u, r)
            return
        if v not in (1, 2, 4) or r not in (2, 3, 4):
            raise PdfUnsupportedError(f"encryption V={v} R={r} unsupported")
        self._crypt_mode = "rc4"
        n = 5
        if r != 2:
            n = max(5, _pdf_int(self.resolve(e.get("Length", 40)), "/Length") // 8)
        if v == 4:
            # crypt filters: the default stream filter (/StmF) names an
            # entry of /CF whose /CFM picks the cipher
            cf = self.resolve(e.get("CF")) or {}
            stmf = self.resolve(e.get("StmF", "Identity"))
            if stmf == "Identity":
                return  # streams pass through unencrypted
            cfd = self.resolve(cf.get(stmf))
            if not isinstance(cfd, dict):
                raise PdfUnsupportedError(f"crypt filter {stmf!r} undefined")
            cfm = self.resolve(cfd.get("CFM"))
            cfl = self.resolve(cfd.get("Length"))
            if isinstance(cfl, int):  # bytes per spec; some writers use bits
                n = cfl // 8 if cfl >= 40 else cfl
            if cfm == "AESV2":
                self._crypt_mode, n = "aes128", 16
            elif cfm != "V2":
                raise PdfUnsupportedError(f"crypt filter method {cfm!r}")
        p = _pdf_int(self.resolve(e.get("P", -1)), "/P")
        ids = self.resolve(self.trailer.get("ID"))
        id0 = self.resolve(ids[0]) if isinstance(ids, list) and ids else b""
        if not isinstance(id0, bytes):
            raise PdfUnsupportedError("malformed /ID entry")
        meta = self.resolve(e.get("EncryptMetadata", True))
        key = _std_file_key(b"", o, p, id0, r, n, encrypt_metadata=bool(meta))
        if not _check_user_pw(key, u, id0, min(r, 3)):
            raise PdfUnsupportedError(
                "password-protected PDF (non-empty user password)"
            )
        self._crypt_key = key

    def _setup_v5(self, e: dict, u: bytes, r: int) -> None:
        """AES-256 (/V 5): R6 per ISO 32000-2 §7.6.4 (Algorithm 2.A/2.B
        iterated KDF), R5 per the deprecated Adobe extension (plain
        SHA-256).  Empty user password only: validate against the /U
        hash+validation-salt, then unwrap the file key from /UE with
        AES-256-CBC (IV=0, no padding)."""
        ue = self.resolve(e.get("UE"))
        if not (isinstance(ue, bytes) and len(u) >= 48 and len(ue) >= 32):
            raise PdfUnsupportedError("malformed /U or /UE entry")
        uhash, vsalt, ksalt = u[:32], u[32:40], u[40:48]
        if r == 6:
            ok = _r6_hash(b"", vsalt) == uhash
            ikey = _r6_hash(b"", ksalt)
        else:  # R5
            ok = hashlib.sha256(b"" + vsalt).digest() == uhash
            ikey = hashlib.sha256(b"" + ksalt).digest()
        if not ok:
            raise PdfUnsupportedError(
                "password-protected PDF (non-empty user password)"
            )
        self._crypt_key = _aes_cbc_decrypt(ikey, ue[:32], iv=b"\x00" * 16,
                                           unpad=False)
        self._crypt_mode = "aes256"

    def _decrypt(self, num: int, val: dict, stream: bytes) -> bytes:
        """Per-object decryption (Algorithm 1/1.A): RC4 and AES-128 key
        = MD5(file_key + objnum_le3 + gen_le2 [+ sAlT for AES])
        [:file_key_len+5]; AES-256 uses the file key directly.  XRef
        streams are never encrypted; generation numbers other than 0
        don't survive a rewrite and are treated as 0 (the regex scanner
        discards them anyway)."""
        if self._crypt_key is None or val.get("Type") == "XRef":
            return stream
        if self._crypt_mode == "aes256":
            return _aes_cbc_decrypt(self._crypt_key, stream)
        ident = self._crypt_key + num.to_bytes(3, "little") + b"\x00\x00"
        if self._crypt_mode == "aes128":
            okey = hashlib.md5(ident + b"sAlT").digest()
            return _aes_cbc_decrypt(okey, stream)
        okey = hashlib.md5(ident).digest()[: min(len(self._crypt_key) + 5, 16)]
        return _rc4(okey, stream)

    def _parse_obj_body(self, pos: int) -> tuple[object, bytes | None]:
        """Parse one object's value (and raw stream bytes if present)
        starting just after its ``N G obj`` header."""
        lex = _Lexer(self.data, pos)
        val = lex.parse()
        stream = None
        lex._skip_ws()
        if self.data[lex.pos : lex.pos + 6] == b"stream":
            p = lex.pos + 6
            if self.data[p : p + 2] == b"\r\n":
                p += 2
            elif self.data[p : p + 1] == b"\n":
                p += 1
            length = val.get("Length") if isinstance(val, dict) else None
            if isinstance(length, Ref):
                length = None  # resolve after full scan; use endstream
            if isinstance(length, int):
                stream = self.data[p : p + length]
            else:
                end = self.data.find(b"endstream", p)
                stream = self.data[p:end].rstrip(b"\r\n")
        return val, stream

    # ------------------------------------------------------ xref walk ---
    def _scan_xref(self) -> None:
        m = list(re.finditer(rb"startxref\s+(\d+)", self.data[-2048:]))
        if not m:
            raise PdfUnsupportedError("no startxref")
        off: int | None = int(m[-1].group(1))
        offsets: dict[int, int] = {}  # objnum -> file offset; first seen wins
        seen: set[int] = set()
        while off is not None and off not in seen:
            seen.add(off)
            if self.data[off : off + 4] == b"xref":
                off = self._read_xref_table(off, offsets)
            else:
                off = self._read_xref_stream(off, offsets)
        for num, o in offsets.items():
            if num in self.objs:
                continue
            hdr = _OBJ_AT.match(self.data, o)
            if hdr is None or int(hdr.group(1)) != num:
                raise PdfUnsupportedError(f"xref offset {o} is not object {num}")
            self.objs[num] = self._parse_obj_body(hdr.end())

    def _read_xref_table(self, off: int, offsets: dict[int, int]) -> int | None:
        """Classic ``xref`` section: subsections of 20-byte entries,
        then a ``trailer`` dict carrying /Prev (and /XRefStm in hybrid
        files).  Returns the previous section's offset or None."""
        lex = _Lexer(self.data, off + 4)
        while True:
            lex._skip_ws()
            if self.data[lex.pos : lex.pos + 7] == b"trailer":
                lex.pos += 7
                trailer = lex.parse()
                if not isinstance(trailer, dict):
                    raise PdfUnsupportedError("malformed xref trailer")
                for k in ("Encrypt", "ID", "Root"):
                    if k in trailer:  # first seen = newest revision
                        self.trailer.setdefault(k, trailer[k])
                if isinstance(trailer.get("XRefStm"), int):
                    self._read_xref_stream(trailer["XRefStm"], offsets)
                prev = trailer.get("Prev")
                return int(prev) if isinstance(prev, int) else None
            m = re.compile(rb"(\d+)\s+(\d+)").match(self.data, lex.pos)
            if m is None:
                raise PdfUnsupportedError("malformed xref subsection header")
            start, count = int(m.group(1)), int(m.group(2))
            p = m.end()
            while self.data[p : p + 1] in b"\r\n ":
                p += 1
            for i in range(count):
                e = self.data[p : p + 20]
                em = re.match(rb"(\d{10})\s+(\d{5})\s+([nf])", e)
                if em is None:
                    raise PdfUnsupportedError("malformed xref entry")
                if em.group(3) == b"n":
                    offsets.setdefault(start + i, int(em.group(1)))
                p += 20
            lex.pos = p

    def _read_xref_stream(self, off: int, offsets: dict[int, int]) -> int | None:
        """PDF 1.5+ cross-reference stream (/Type/XRef, /W field widths,
        /Index subsections).  Type-1 rows carry file offsets; type-2 rows
        live in object streams, which _expand_objstm unpacks once their
        containers (type-1 entries themselves) are loaded."""
        hdr = _OBJ_AT.match(self.data, off)
        if hdr is None:
            raise PdfUnsupportedError(f"no object at startxref offset {off}")
        num = int(hdr.group(1))
        val, stream = self._parse_obj_body(hdr.end())
        if not (isinstance(val, dict) and val.get("Type") == "XRef" and stream):
            raise PdfUnsupportedError("startxref does not point at an XRef stream")
        for k in ("Encrypt", "ID", "Root"):
            if k in val:  # xref streams double as the trailer dict
                self.trailer.setdefault(k, val[k])
        self.objs.setdefault(num, (val, stream))
        body = self._decode(val, stream)
        w = [int(x) for x in val["W"]]
        index = val.get("Index") or [0, int(val["Size"])]
        rowlen = sum(w)
        pos = 0
        for i in range(0, len(index), 2):
            start, count = int(index[i]), int(index[i + 1])
            for j in range(count):
                row = body[pos : pos + rowlen]
                pos += rowlen
                if len(row) < rowlen:
                    raise PdfUnsupportedError("truncated XRef stream")
                o = 0
                fields = []
                for width in w:
                    fields.append(int.from_bytes(row[o : o + width], "big"))
                    o += width
                ftype = fields[0] if w[0] else 1
                if ftype == 1:
                    offsets.setdefault(start + j, fields[1])
        prev = val.get("Prev")
        return int(prev) if isinstance(prev, int) else None

    def _expand_objstm(self) -> None:
        for num in list(self.objs):
            val, stream = self.objs[num]
            if isinstance(val, dict) and val.get("Type") == "ObjStm" and stream:
                body = self._decode(val, self._decrypt(num, val, stream))
                first = self.resolve(val.get("First", 0))
                count = self.resolve(val.get("N", 0))
                header = _Lexer(body[:first])
                pairs = []
                for _ in range(int(count)):
                    onum = header.parse()
                    off = header.parse()
                    pairs.append((int(onum), int(off)))
                for onum, off in pairs:
                    if onum in self.objs:
                        continue  # top-level wins
                    lex = _Lexer(body, first + off)
                    try:
                        self.objs[onum] = (lex.parse(), None)
                    except Exception:
                        pass

    def resolve(self, v):
        seen = 0
        while isinstance(v, Ref):
            v = self.objs.get(v.num, (None, None))[0]
            seen += 1
            if seen > 32:
                raise PdfUnsupportedError("reference cycle")
        return v

    def _decode(self, d: dict, stream: bytes) -> bytes:
        out, codec = self._apply_filters(d, stream, stop_at_image=False)
        return out

    def _apply_filters(
        self, d: dict, stream: bytes, stop_at_image: bool
    ) -> tuple[bytes, str | None]:
        """Run the /Filter chain.  ``stop_at_image=True`` (the image
        XObject path) stops at the first image codec and returns its
        name — the remaining bytes ARE the encoded image (JPEG for
        DCTDecode etc.); text extraction keeps the old behavior of
        raising, since image codecs never encode content streams."""
        filt = self.resolve(d.get("Filter"))
        if filt is None:
            return stream, None
        filters = filt if isinstance(filt, list) else [filt]
        parms = self.resolve(d.get("DecodeParms")) or self.resolve(d.get("DP"))
        parms_list = parms if isinstance(parms, list) else [parms]
        out = stream
        for i, f in enumerate(filters):
            f = self.resolve(f)
            p = self.resolve(parms_list[i]) if i < len(parms_list) else None
            if f in ("FlateDecode", "Fl"):
                try:
                    out = zlib.decompress(out)
                except zlib.error as e:
                    raise PdfUnsupportedError(f"corrupt FlateDecode stream: {e}")
            elif f in ("LZWDecode", "LZW"):
                early = 1
                if isinstance(p, dict) and p.get("EarlyChange") is not None:
                    early = _pdf_int(self.resolve(p["EarlyChange"]), "/EarlyChange")
                out = _lzw_decode(out, early)
            elif f in ("ASCIIHexDecode", "AHx"):
                out = _ahx_decode(out)
            elif f in ("ASCII85Decode", "A85"):
                out = _a85_decode(out)
            elif f in ("RunLengthDecode", "RL"):
                out = _rl_decode(out)
            elif f == "Crypt":
                raise PdfUnsupportedError("filter Crypt (encrypted stream)")
            elif stop_at_image and f in _IMAGE_CODECS:
                return out, f
            else:  # DCT/JPX/CCITT/JBIG2 are image codecs, never text
                raise PdfUnsupportedError(f"filter {f}")
            if isinstance(p, dict) and p.get("Predictor"):
                def parm(key, default):
                    return _pdf_int(self.resolve(p.get(key, default)), f"/{key}")

                out = _unpredict(
                    out, parm("Predictor", 1), parm("Colors", 1),
                    parm("BitsPerComponent", 8), parm("Columns", 1),
                )
        return out, None

    def stream_bytes(self, ref) -> bytes:
        v = ref
        while isinstance(v, Ref):
            num = v.num
            val, stream = self.objs.get(num, (None, None))
            if stream is not None and isinstance(val, dict):
                length = val.get("Length")
                if isinstance(length, Ref):
                    n = self.resolve(length)
                    if isinstance(n, int):
                        stream = stream[:n]
                return self._decode(val, self._decrypt(num, val, stream))
            v = val
        raise PdfUnsupportedError("not a stream")

    # ------------------------------------------------------------ pages ---
    def pages(self) -> list[dict]:
        root = None
        for val, _ in self.objs.values():
            if isinstance(val, dict) and val.get("Type") == "Catalog":
                root = val
                break
        if root is None:
            raise PdfUnsupportedError("no /Catalog")
        out: list[dict] = []

        def walk(node, above: frozenset):
            node = self.resolve(node)
            if not isinstance(node, dict):
                return
            if id(node) in above:
                raise PdfUnsupportedError("/Kids cycle in the page tree")
            if node.get("Type") == "Page":
                out.append(node)
                return
            kids = self.resolve(node.get("Kids", [])) or []
            if not isinstance(kids, list):
                raise PdfUnsupportedError("malformed /Kids entry")
            for kid in kids:
                walk(kid, above | {id(node)})

        walk(root.get("Pages"), frozenset())
        return out


# ------------------------------------------------------------------ fonts ---
def _cmap_decoder(doc: _Doc, to_unicode) -> "callable":
    """2-byte-code decoder from a /ToUnicode CMap (bfchar + bfrange)."""
    body = doc.stream_bytes(to_unicode).decode("latin-1", "replace")
    table: dict[int, str] = {}

    def u16(hexs: str) -> str:
        b = bytes.fromhex(hexs)
        return b.decode("utf-16-be", "replace")

    for m in re.finditer(r"beginbfchar(.*?)endbfchar", body, re.S):
        for src, dst in re.findall(r"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", m.group(1)):
            table[int(src, 16)] = u16(dst)
    for m in re.finditer(r"beginbfrange(.*?)endbfrange", body, re.S):
        chunk = m.group(1)

        # array form FIRST, removing each matched entry so the plain
        # three-hex regex below can't fire on hexes inside the bracket
        # (e.g. "<0355> <0358> [<002C> <003B> <003A> <002E>]" must not
        # read "<002C> <003B> <003A>" as a range entry)
        def _take_array(am: "re.Match") -> str:
            lo_i = int(am.group(1), 16)
            for j, dst in enumerate(re.findall(r"<([0-9A-Fa-f]+)>", am.group(2))):
                table[lo_i + j] = u16(dst)
            return " "

        chunk = re.sub(
            r"<([0-9A-Fa-f]+)>\s*<[0-9A-Fa-f]+>\s*\[(.*?)\]",
            _take_array,
            chunk,
            flags=re.S,
        )
        for lo, hi, dst in re.findall(
            r"<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>\s*<([0-9A-Fa-f]+)>", chunk
        ):
            lo_i, hi_i = int(lo, 16), int(hi, 16)
            base = int(dst, 16)
            width = len(dst)
            for c in range(lo_i, hi_i + 1):
                table[c] = u16(format(base + (c - lo_i), f"0{width}x"))

    def decode(raw: bytes) -> str:
        return "".join(
            table.get(int.from_bytes(raw[i : i + 2], "big"), "�")
            for i in range(0, len(raw) - len(raw) % 2, 2)
        )

    return decode


# Adobe Glyph List subset: the non-letter names word processors and TeX
# put in /Differences arrays.  Accented letters are derived from their
# AGL naming convention (letter + accent) via unicodedata.lookup below.
_GLYPHS = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&", "quotesingle": "'",
    "parenleft": "(", "parenright": ")", "asterisk": "*", "plus": "+",
    "comma": ",", "hyphen": "-", "period": ".", "slash": "/",
    "colon": ":", "semicolon": ";", "less": "<", "equal": "=",
    "greater": ">", "question": "?", "at": "@", "bracketleft": "[",
    "backslash": "\\", "bracketright": "]", "asciicircum": "^",
    "underscore": "_", "grave": "`", "braceleft": "{", "bar": "|",
    "braceright": "}", "asciitilde": "~",
    "zero": "0", "one": "1", "two": "2", "three": "3", "four": "4",
    "five": "5", "six": "6", "seven": "7", "eight": "8", "nine": "9",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "quotesinglbase": "‚", "quotedblbase": "„",
    "guillemotleft": "«", "guillemotright": "»",
    "guilsinglleft": "‹", "guilsinglright": "›",
    "endash": "–", "emdash": "—", "bullet": "•",
    "ellipsis": "…", "dagger": "†", "daggerdbl": "‡",
    "perthousand": "‰", "minus": "−", "multiply": "×",
    "divide": "÷", "plusminus": "±", "degree": "°",
    "fi": "ﬁ", "fl": "ﬂ", "ffi": "ﬃ", "ffl": "ﬄ",
    "ff": "ﬀ", "germandbls": "ß", "ae": "æ",
    "AE": "Æ", "oe": "œ", "OE": "Œ", "oslash": "ø",
    "Oslash": "Ø", "dotlessi": "ı", "lslash": "ł",
    "Lslash": "Ł", "eth": "ð", "Eth": "Ð",
    "thorn": "þ", "Thorn": "Þ", "florin": "ƒ",
    "sterling": "£", "yen": "¥", "cent": "¢",
    "currency": "¤", "Euro": "€", "euro": "€",
    "section": "§", "paragraph": "¶", "copyright": "©",
    "registered": "®", "trademark": "™", "micro": "µ",
    "exclamdown": "¡", "questiondown": "¿",
    "ordfeminine": "ª", "ordmasculine": "º",
    "brokenbar": "¦", "logicalnot": "¬", "macron": "¯",
    "acute": "´", "cedilla": "¸", "dieresis": "¨",
    "circumflex": "ˆ", "tilde": "˜", "caron": "ˇ",
    "breve": "˘", "dotaccent": "˙", "ring": "˚",
    "ogonek": "˛", "hungarumlaut": "˝",
    "onesuperior": "¹", "twosuperior": "²",
    "threesuperior": "³", "onequarter": "¼",
    "onehalf": "½", "threequarters": "¾",
    "periodcentered": "·", "middot": "·", "nbspace": " ",
}

_ACCENT_NAMES = {
    "acute": "ACUTE", "grave": "GRAVE", "circumflex": "CIRCUMFLEX",
    "dieresis": "DIAERESIS", "tilde": "TILDE", "ring": "RING ABOVE",
    "cedilla": "CEDILLA", "caron": "CARON", "breve": "BREVE",
    "macron": "MACRON", "ogonek": "OGONEK", "hungarumlaut":
    "DOUBLE ACUTE", "slash": "STROKE", "dotaccent": "DOT ABOVE",
}

_ACCENTED = re.compile(
    "([A-Za-z])(%s)$" % "|".join(sorted(_ACCENT_NAMES, key=len, reverse=True))
)


def _glyph_to_char(name: str) -> str | None:
    """AGL-convention glyph name → unicode char (None if unknown)."""
    if name in _GLYPHS:
        return _GLYPHS[name]
    if len(name) == 1:
        return name
    if re.fullmatch(r"uni[0-9A-Fa-f]{4}", name):
        return chr(int(name[3:], 16))
    if re.fullmatch(r"u[0-9A-Fa-f]{4,6}", name):
        return chr(int(name[1:], 16))
    m = _ACCENTED.fullmatch(name)
    if m:
        import unicodedata

        case = "CAPITAL" if m.group(1).isupper() else "SMALL"
        try:
            return unicodedata.lookup(
                f"LATIN {case} LETTER {m.group(1).upper()} "
                f"WITH {_ACCENT_NAMES[m.group(2)]}"
            )
        except KeyError:
            return None
    return None


def _simple_decoder(encoding, differences=None) -> "callable":
    if encoding == "WinAnsiEncoding":
        codec = "cp1252"
    elif encoding == "MacRomanEncoding":
        codec = "mac_roman"
    else:
        codec = "latin-1"
    over: dict[int, str] = {}
    if differences:  # [code /name /name code /name ...] (spec 9.6.6.3)
        code = 0
        for item in differences:
            if isinstance(item, (int, float)):
                code = int(item)
            elif isinstance(item, Name):
                ch = _glyph_to_char(str(item))
                if ch is not None:
                    over[code] = ch
                code += 1

    def decode(raw: bytes) -> str:
        if not over:
            return raw.decode(codec, "replace")
        return "".join(
            over.get(b) or bytes([b]).decode(codec, "replace") for b in raw
        )

    return decode


def _font_decoders(doc: _Doc, page: dict) -> dict[str, "callable"]:
    res = doc.resolve(page.get("Resources")) or {}
    fonts = (doc.resolve(res.get("Font")) or {}) if isinstance(res, dict) else None
    if not isinstance(fonts, dict):
        raise PdfUnsupportedError("malformed /Resources or /Font entry")
    out: dict[str, "callable"] = {}
    for name, fref in fonts.items():
        f = doc.resolve(fref)
        if not isinstance(f, dict):
            continue
        if f.get("ToUnicode") is not None:
            try:
                out[name] = _cmap_decoder(doc, f["ToUnicode"])
                continue
            except PdfUnsupportedError:
                pass
        if f.get("Subtype") == "Type0":
            raise PdfUnsupportedError(f"Type0 font {name} without usable ToUnicode")
        enc = doc.resolve(f.get("Encoding"))
        if isinstance(enc, dict):  # /BaseEncoding + /Differences
            base = doc.resolve(enc.get("BaseEncoding"))
            diffs = doc.resolve(enc.get("Differences"))
            out[name] = _simple_decoder(
                base if isinstance(base, str) else None,
                diffs if isinstance(diffs, list) else None,
            )
        else:
            out[name] = _simple_decoder(enc if isinstance(enc, str) else None)
    return out


# ------------------------------------------------------- content streams ---
_TEXT_OPS = {"Tj", "TJ", "'", '"', "Tf", "Tm", "Td", "TD", "T*", "BT", "ET"}


def _page_text(doc: _Doc, page: dict) -> str:
    contents = doc.resolve(page.get("Contents"))
    refs = contents if isinstance(contents, list) else [page.get("Contents")]
    body = b"\n".join(doc.stream_bytes(r) for r in refs if r is not None)
    decoders = _font_decoders(doc, page)

    lex = _Lexer(body)
    stack: list = []
    cur = None  # current decoder
    y = None  # current baseline
    lines: list[list[str]] = [[]]

    def show(raw: bytes) -> None:
        if cur is None:
            lines[-1].append(raw.decode("latin-1", "replace"))
        else:
            lines[-1].append(cur(raw))

    def newline_if_moved(new_y) -> None:
        nonlocal y
        if y is not None and new_y is not None and abs(new_y - y) > 0.5:
            lines.append([])
        y = new_y

    n = len(body)
    while True:
        lex._skip_ws()
        if lex.pos >= n:
            break
        try:
            tok = lex.parse()
        except PdfUnsupportedError:  # damaged stream: quarantine the doc
            raise
        except Exception:
            break
        if isinstance(tok, Name) or not isinstance(tok, str):
            stack.append(tok)  # operand (name, number, string, array)
            continue
        if tok not in _TEXT_OPS:
            # operator we don't interpret — drop its operands
            if tok == "BI":  # inline image: skip to EI
                ei = body.find(b"EI", lex.pos)
                lex.pos = n if ei < 0 else ei + 2
            stack.clear()
            continue
        if tok == "Tf":
            if len(stack) >= 2 and isinstance(stack[-2], Name):
                cur = decoders.get(str(stack[-2]))
            stack.clear()
        elif tok == "Tm":
            if len(stack) >= 6 and isinstance(stack[-1], (int, float)):
                newline_if_moved(float(stack[-1]))
            stack.clear()
        elif tok in ("Td", "TD"):
            if len(stack) >= 1 and isinstance(stack[-1], (int, float)):
                ty = float(stack[-1])
                if abs(ty) > 0.5:
                    newline_if_moved((y or 0.0) + ty)
            stack.clear()
        elif tok == "T*":
            lines.append([])
            stack.clear()
        elif tok == "Tj":
            if stack and isinstance(stack[-1], bytes):
                show(stack[-1])
            stack.clear()
        elif tok in ("'", '"'):
            lines.append([])
            if stack and isinstance(stack[-1], bytes):
                show(stack[-1])
            stack.clear()
        elif tok == "TJ":
            if stack and isinstance(stack[-1], list):
                for el in stack[-1]:
                    if isinstance(el, bytes):
                        show(el)
                    elif isinstance(el, (int, float)) and el < -180:
                        lines[-1].append(" ")
            stack.clear()
        elif tok in ("BT", "ET"):
            stack.clear()

    text = "\n".join("".join(parts) for parts in lines)
    # collapse intra-line runs of spaces; strip decorative-only lines
    out_lines = [re.sub(r"[ \t ]+", " ", ln).strip() for ln in text.split("\n")]
    return "\n".join(ln for ln in out_lines if ln)


def extract_pages(data: bytes) -> list[str]:
    """PDF bytes → one plain-text string per page (pdf.go:38-52 shape)."""
    if not data.startswith(b"%PDF"):
        raise PdfUnsupportedError("not a PDF")
    doc = _Doc(data)
    return [_page_text(doc, p) for p in doc.pages()]


def extract_images(data: bytes) -> list[dict]:
    """Embedded image XObjects → [{page, name, width, height, bits,
    color_space, codec, payload}] (r4; the reference reads no images —
    its `ledongthuc/pdf` is text-only — this feeds the media pipeline).

    The outer stream filters (Flate/LZW/AHx/A85/RL, after decryption)
    are undone; when the chain reaches an image codec the remaining
    bytes ARE that format and ``codec`` names it ('DCTDecode' bytes are
    a ready JPEG, 'JPXDecode' a JPEG-2000 stream).  ``codec='raw'``
    means fully decoded interleaved samples of
    width × height × components at ``bits`` per component — the
    kgc.media adapter wraps the 8-bit gray/RGB case into a PNG the
    stdlib strict decoder reads.  Malformed individual images are
    skipped (poison isolation at the image level, not the doc level).
    """
    if not data.startswith(b"%PDF"):
        raise PdfUnsupportedError("not a PDF")
    doc = _Doc(data)
    out: list[dict] = []
    seen: set[int] = set()
    for pidx, page in enumerate(doc.pages()):
        res = doc.resolve(page.get("Resources")) or {}
        xobj = doc.resolve(res.get("XObject")) if isinstance(res, dict) else None
        if not isinstance(xobj, dict):
            continue
        for name, ref in xobj.items():
            try:
                # follow the Ref chain to the stream-bearing object
                v, num, val, stream = ref, None, None, None
                while isinstance(v, Ref):
                    num = v.num
                    val, stream = doc.objs.get(num, (None, None))
                    if stream is not None:
                        break
                    v = val
                if (
                    stream is None
                    or not isinstance(val, dict)
                    or doc.resolve(val.get("Subtype")) != "Image"
                    or num in seen
                ):
                    continue
                seen.add(num)
                length = val.get("Length")
                if isinstance(length, Ref):
                    n = doc.resolve(length)
                    if isinstance(n, int):
                        stream = stream[:n]
                raw = doc._decrypt(num, val, stream)
                payload, codec = doc._apply_filters(val, raw, stop_at_image=True)
                cs = doc.resolve(val.get("ColorSpace"))
                if isinstance(cs, list) and cs:
                    cs = doc.resolve(cs[0])
                out.append(
                    {
                        "page": pidx,
                        "name": str(name),
                        "width": int(doc.resolve(val.get("Width", 0)) or 0),
                        "height": int(doc.resolve(val.get("Height", 0)) or 0),
                        "bits": int(doc.resolve(val.get("BitsPerComponent", 8)) or 8),
                        "color_space": str(cs) if cs is not None else None,
                        "codec": str(codec) if codec else "raw",
                        "payload": payload,
                    }
                )
            except Exception:
                continue  # one bad image never poisons the document
    return out
