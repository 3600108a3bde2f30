"""PDF text + metadata extraction — the document leg of the
multimodal family (charter extension, SURVEY.md §2.10; reference
analog: none — ref main.py handles tabular blobs only).

A web-crawl training corpus is full of PDFs, and what a 100 TB
pipeline needs from them is (a) cheap structural triage — page
count, version, encryption flag, producer — to route and budget, and
(b) the extracted TEXT, per page, feeding the same dedup / quality /
language-ID operators every HTML document goes through. Both are
pure public-spec structure (ISO 32000-1:2008, freely published; the
section numbers below cite what each piece implements), built
clean-room on the stdlib only (``zlib`` for FlateDecode), and both
run here as map-only Arrow kernels over opaque ``binary`` columns —
no PDF library, no JVM round-trips, no shuffle.

Scope (same exact-or-None discipline as :mod:`.jpeg` / :mod:`.mp4`):

- :func:`parse_pdf_meta` — header version, cross-reference parse
  (classic ``xref`` tables §7.5.4, cross-reference STREAMS §7.5.8
  with PNG predictors, ``/Prev`` chains, hybrid ``/XRefStm``),
  object streams §7.5.7, page-tree walk §7.7.3 with inheritance and
  cycle refusal, ``/Info`` title/producer (PDFDocEncoding and
  UTF-16BE per §7.9.2), ``/Encrypt`` detection. Truncated or
  non-PDF bytes → ``None`` (the S4 skip contract every media parser
  here follows); resource-cap bombs refuse the whole blob. A broken
  or missing xref falls back to a bounded linear ``N G obj`` scan —
  the real-crawl shape where trailers are clipped mid-transfer.
- :func:`extract_pdf_text` — per-page text from the content streams
  (§8.2 operator syntax; §9.4 text-showing and text-positioning
  operators with the full Tm/Td/TD/T*/TL matrix state), decoded
  through each font's actual mapping: ``/ToUnicode`` CMaps
  (bfchar/bfrange, §9.10.3), simple-font base encodings
  (WinAnsi/MacRoman via the stdlib codecs they correspond to,
  Standard via a difference table) + ``/Differences`` glyph names
  (AGL subset + ``uniXXXX``), and composite Type0/Identity-H 2-byte
  codes. Codes with no mapping become U+FFFD and are COUNTED
  (``unmapped_chars``) so a downstream quality gate can filter —
  never silently guessed. Encrypted documents report structure but
  refuse text (strings/streams are ciphertext; decryption without
  the standard security handler's key derivation would be a guess).
- Filters §7.4: FlateDecode (ratio-capped inflate), LZWDecode (the
  PDF 9→12-bit variant incl. EarlyChange), ASCIIHexDecode,
  ASCII85Decode, RunLengthDecode, PNG/TIFF predictors. DCTDecode /
  CCITT / JBIG2 / JPXDecode mark image XObjects and are never
  needed on the text path.
- :func:`pdf_meta` / :func:`pdf_text` — the Arrow ``mapInPandas``
  kernels (one row per document / per page), partition-sized
  upstream like every media kernel here.
- :func:`encode_pdf` — deterministic fixture encoder (classic xref
  AND xref-stream + ObjStm layouts, optional Flate compression,
  WinAnsi simple fonts with Differences, Type0/Identity-H with a
  generated ToUnicode CMap) used by :func:`synthetic_pdf_corpus`
  and the round-trip tests; byte-level hand-built fixtures in
  tests/test_pdf.py keep the parser honest against the spec rather
  than against this encoder.

Bomb caps make a hostile blob cost O(caps), not O(claimed): object
count, xref-section chain length, nesting depth, per-stream and
per-document decompressed bytes, page count, content-stream tokens,
and extracted-text bytes are all bounded below.
"""

from __future__ import annotations

import re
import struct
import zlib

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .fuse import Corpus, MediaFamily

_MAX_OBJECTS = 1 << 18          # 262k indirect objects
_MAX_XREF_SECTIONS = 64         # /Prev chain length
_MAX_DEPTH = 32                 # object nesting / page-tree depth
_MAX_STREAM_INFLATE = 1 << 26   # 64 MiB decompressed per stream
_MAX_DOC_INFLATE = 1 << 28      # 256 MiB decompressed per document
_MAX_PAGES = 1 << 14            # 16k pages
_MAX_CONTENT_TOKENS = 1 << 22   # 4M content-stream tokens per doc
_MAX_TEXT_BYTES = 1 << 24       # 16 MiB extracted text per doc
_MAX_STRING = 1 << 22           # 4 MiB single string literal


class _Truncated(Exception):
    """Blob is cut short / structurally broken → S4 skip (None)."""


class _Bomb(_Truncated):
    """A resource cap tripped — refuse the whole blob. Subclasses
    _Truncated so every tolerant handler skips it too, but handlers
    that deliberately continue past local damage must re-raise it
    first (the mp4.py fragment-fold lesson, ADVICE r9)."""


# ── §7.2 lexical conventions ────────────────────────────────────

_WHITESPACE = b"\x00\t\n\x0c\r "
_DELIMS = b"()<>[]{}/%"
_REGULAR_STOP = _WHITESPACE + _DELIMS


class Name(str):
    """A PDF name object — distinct from a string object so the
    parser's output is unambiguous (``/Type`` vs ``(Type)``)."""

    __slots__ = ()


class Ref(tuple):
    """Indirect reference ``N G R`` (§7.3.10)."""

    __slots__ = ()

    def __new__(cls, num, gen):
        return tuple.__new__(cls, (int(num), int(gen)))

    @property
    def num(self):
        return self[0]

    @property
    def gen(self):
        return self[1]


class Stream:
    """A stream object: its dictionary + the RAW (still encoded)
    bytes. Decoding is explicit via :func:`decode_stream` so the
    per-document inflate budget is charged exactly once."""

    __slots__ = ("dict", "raw")

    def __init__(self, d, raw):
        self.dict = d
        self.raw = raw


class _Kw(bytes):
    """A bare keyword token (``obj``, ``R``, content-stream
    operators) — distinct from a literal-string token, which is
    also ``bytes``. Equality with plain bytes still holds."""

    __slots__ = ()


class _Lexer:
    """Byte-level tokenizer for PDF object syntax (§7.2-7.3).

    Produces Python values for non-compound tokens and marker
    strings ``"<<" ">>" "[" "]"`` plus bare keywords (``obj``,
    ``endobj``, ``stream``, ``R``, operators inside content
    streams) as ``bytes``."""

    __slots__ = ("buf", "pos", "end")

    def __init__(self, buf: bytes, pos: int = 0, end: int | None = None):
        self.buf = buf
        self.pos = pos
        self.end = len(buf) if end is None else end

    def _skip_ws(self):
        buf, end = self.buf, self.end
        p = self.pos
        while p < end:
            c = buf[p]
            if c in _WHITESPACE:
                p += 1
            elif c == 0x25:  # '%' comment to EOL (§7.2.4)
                while p < end and buf[p] not in b"\r\n":
                    p += 1
            else:
                break
        self.pos = p

    def at_end(self) -> bool:
        self._skip_ws()
        return self.pos >= self.end

    def next_token(self):
        """One lexical token, or raise _Truncated at EOF."""
        self._skip_ws()
        buf, end = self.buf, self.end
        p = self.pos
        if p >= end:
            raise _Truncated("eof")
        c = buf[p]
        if c == 0x2F:  # '/'
            return self._name()
        if c == 0x28:  # '('
            return self._literal_string()
        if c == 0x3C:  # '<'
            if p + 1 < end and buf[p + 1] == 0x3C:
                self.pos = p + 2
                return "<<"
            return self._hex_string()
        if c == 0x3E:  # '>'
            if p + 1 < end and buf[p + 1] == 0x3E:
                self.pos = p + 2
                return ">>"
            raise _Truncated("lone >")
        if c == 0x5B:  # '['
            self.pos = p + 1
            return "["
        if c == 0x5D:  # ']'
            self.pos = p + 1
            return "]"
        if c == 0x7B:  # '{' — PostScript calculator, not object syntax
            self.pos = p + 1
            return "{"
        if c == 0x7D:
            self.pos = p + 1
            return "}"
        if (0x30 <= c <= 0x39) or c in b"+-.":
            return self._number()
        # keyword: run of regular characters
        q = p
        while q < end and buf[q] not in _REGULAR_STOP:
            q += 1
        if q == p:
            raise _Truncated("bad byte 0x%02x" % c)
        self.pos = q
        return _Kw(buf[p:q])

    def _number(self):
        buf, end = self.buf, self.end
        p = self.pos
        q = p
        if buf[q] in b"+-":
            q += 1
        is_real = False
        while q < end:
            c = buf[q]
            if 0x30 <= c <= 0x39:
                q += 1
            elif c == 0x2E:
                is_real = True
                q += 1
            else:
                break
        tok = buf[p:q]
        self.pos = q
        try:
            return float(tok) if is_real else int(tok)
        except ValueError:
            # bare '.', '-' etc. — treat as 0 per lenient readers,
            # but a lone sign with no digits is malformed
            raise _Truncated("bad number %r" % tok)

    def _name(self):
        buf, end = self.buf, self.end
        p = self.pos + 1
        out = bytearray()
        while p < end:
            c = buf[p]
            if c in _REGULAR_STOP:
                break
            if c == 0x23 and p + 2 < end:  # '#' hex escape (§7.3.5)
                try:
                    out.append(int(buf[p + 1:p + 3], 16))
                    p += 3
                    continue
                except ValueError:
                    pass
            out.append(c)
            p += 1
        self.pos = p
        return Name(out.decode("latin-1"))

    def _literal_string(self):
        buf, end = self.buf, self.end
        p = self.pos + 1
        out = bytearray()
        depth = 1
        while p < end:
            if len(out) > _MAX_STRING:
                raise _Bomb("string cap")
            c = buf[p]
            if c == 0x5C:  # backslash
                if p + 1 >= end:
                    raise _Truncated("string eof")
                e = buf[p + 1]
                p += 2
                if e == 0x6E:
                    out.append(0x0A)
                elif e == 0x72:
                    out.append(0x0D)
                elif e == 0x74:
                    out.append(0x09)
                elif e == 0x62:
                    out.append(0x08)
                elif e == 0x66:
                    out.append(0x0C)
                elif e in b"()\\":
                    out.append(e)
                elif 0x30 <= e <= 0x37:  # octal, up to 3 digits
                    val = e - 0x30
                    for _ in range(2):
                        if p < end and 0x30 <= buf[p] <= 0x37:
                            val = val * 8 + (buf[p] - 0x30)
                            p += 1
                        else:
                            break
                    out.append(val & 0xFF)
                elif e == 0x0A:
                    pass  # line continuation
                elif e == 0x0D:
                    if p < end and buf[p] == 0x0A:
                        p += 1
                else:
                    out.append(e)  # §7.3.4.2: ignore the backslash
            elif c == 0x28:
                depth += 1
                out.append(c)
                p += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    self.pos = p + 1
                    return bytes(out)
                out.append(c)
                p += 1
            elif c == 0x0D:
                # §7.3.4.2: any EOL inside a literal reads as LF
                out.append(0x0A)
                p += 2 if p + 1 < end and buf[p + 1] == 0x0A else 1
            else:
                out.append(c)
                p += 1
        raise _Truncated("unterminated string")

    def _hex_string(self):
        buf, end = self.buf, self.end
        p = self.pos + 1
        digits = bytearray()
        while p < end:
            c = buf[p]
            if c == 0x3E:
                self.pos = p + 1
                if len(digits) % 2:
                    digits.append(0x30)  # §7.3.4.3: pad with 0
                return bytes.fromhex(digits.decode("latin-1"))
            if c in _WHITESPACE:
                p += 1
                continue
            if (0x30 <= c <= 0x39) or (0x41 <= c <= 0x46) or (
                0x61 <= c <= 0x66
            ):
                if len(digits) > 2 * _MAX_STRING:
                    raise _Bomb("hex string cap")
                digits.append(c)
                p += 1
            else:
                raise _Truncated("bad hex byte")
        raise _Truncated("unterminated hex string")


def _parse_object(lex: _Lexer, depth: int = 0):
    """One PDF object (§7.3), resolving the ``N G R`` lookahead."""
    if depth > _MAX_DEPTH:
        raise _Bomb("nesting cap")
    tok = lex.next_token()
    return _parse_from_token(lex, tok, depth)


def _parse_from_token(lex: _Lexer, tok, depth: int):
    if depth > _MAX_DEPTH:
        raise _Bomb("nesting cap")
    if tok == "<<":
        d = {}
        while True:
            k = lex.next_token()
            if k == ">>":
                return d
            if not isinstance(k, Name):
                raise _Truncated("dict key not a name: %r" % (k,))
            d[str(k)] = _parse_object(lex, depth + 1)
    if tok == "[":
        arr = []
        while True:
            t = lex.next_token()
            if t == "]":
                return arr
            arr.append(_parse_from_token(lex, t, depth + 1))
    if isinstance(tok, int):
        # possible "N G R" indirect reference — lookahead
        save = lex.pos
        try:
            t2 = lex.next_token()
            if isinstance(t2, int):
                t3 = lex.next_token()
                if t3 == b"R":
                    return Ref(tok, t2)
        except _Bomb:
            raise
        except _Truncated:
            pass
        lex.pos = save
        return tok
    if isinstance(tok, (float, bytes, Name)) and not isinstance(
        tok, bool
    ):
        if tok == b"true":
            return True
        if tok == b"false":
            return False
        if tok == b"null":
            return None
        return tok
    return tok


# ── §7.4 filters ────────────────────────────────────────────────


def _flate(data: bytes, budget: list) -> bytes:
    cap = min(_MAX_STREAM_INFLATE, budget[0])
    d = zlib.decompressobj()
    out = bytearray()
    # chunked feed so a mid-stream zlib error (clipped transfer —
    # the common real-crawl damage) still yields the prefix that
    # inflated cleanly, matching lenient readers
    try:
        for i in range(0, len(data), 8192):
            out.extend(d.decompress(data[i:i + 8192]))
            if len(out) > cap:
                raise _Bomb("inflate cap")
        out.extend(d.flush())
    except zlib.error as exc:
        if not out:
            raise _Truncated("flate: %s" % exc)
    if len(out) > cap:
        raise _Bomb("inflate cap")
    budget[0] -= len(out)
    return bytes(out)


def _lzw(data: bytes, budget: list, early: int = 1) -> bytes:
    """PDF LZWDecode (§7.4.4): 9→12-bit codes, Clear=256, EOD=257,
    EarlyChange widens one code early (the default)."""
    cap = min(_MAX_STREAM_INFLATE, budget[0])
    out = bytearray()
    table = None
    width = 9
    prev = None
    acc = 0
    nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            code = (acc >> (nbits - width)) & ((1 << width) - 1)
            nbits -= width
            if code == 256:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
                width = 9
                prev = None
                continue
            if code == 257:
                budget[0] -= len(out)
                return bytes(out)
            if table is None:
                table = [bytes([i]) for i in range(256)] + [b"", b""]
            if prev is None:
                if code >= len(table):
                    raise _Truncated("lzw first code")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise _Truncated("lzw gap code")
            out.extend(entry)
            if len(out) > cap:
                raise _Bomb("lzw cap")
            prev = entry
            if len(table) + early >= (1 << width) and width < 12:
                width += 1
    budget[0] -= len(out)
    return bytes(out)


def _ascii85(data: bytes) -> bytes:
    import base64

    body = bytes(
        c for c in data if c not in _WHITESPACE
    )
    if body.startswith(b"<~"):
        body = body[2:]
    if body.endswith(b"~>"):
        body = body[:-2]
    try:
        return base64.a85decode(body)
    except ValueError as exc:
        raise _Truncated("a85: %s" % exc)


def _asciihex(data: bytes) -> bytes:
    digits = bytearray()
    for c in data:
        if c == 0x3E:
            break
        if c in _WHITESPACE:
            continue
        digits.append(c)
    if len(digits) % 2:
        digits.append(0x30)
    try:
        return bytes.fromhex(digits.decode("latin-1"))
    except ValueError as exc:
        raise _Truncated("ahx: %s" % exc)


def _runlength(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    n = len(data)
    while i < n:
        l = data[i]
        if l == 128:
            break
        if l < 128:
            out.extend(data[i + 1:i + 2 + l])
            i += 2 + l
        else:
            if i + 1 >= n:
                raise _Truncated("rle eof")
            out.extend(data[i + 1:i + 2] * (257 - l))
            i += 2
    return bytes(out)


def _predictor(data: bytes, parms: dict) -> bytes:
    """§7.4.4.4 predictor functions: 2 = TIFF horizontal, ≥10 = the
    PNG row filters (each row carries its own filter byte)."""
    pred = int(parms.get("Predictor", 1) or 1)
    if pred <= 1:
        return data
    colors = int(parms.get("Colors", 1) or 1)
    bpc = int(parms.get("BitsPerComponent", 8) or 8)
    columns = int(parms.get("Columns", 1) or 1)
    if bpc != 8 or colors < 1 or columns < 1:
        raise _Truncated("unsupported predictor layout")
    bpp = colors  # bytes per pixel at 8 bpc
    rowlen = colors * columns
    if pred == 2:
        out = bytearray(data)
        for r in range(0, len(out) - rowlen + 1, rowlen):
            for i in range(bpp, rowlen):
                out[r + i] = (out[r + i] + out[r + i - bpp]) & 0xFF
        return bytes(out)
    # PNG predictors: rows of (1 filter byte + rowlen data bytes)
    stride = rowlen + 1
    nrows = len(data) // stride
    out = bytearray(nrows * rowlen)
    prev = bytearray(rowlen)
    for r in range(nrows):
        ft = data[r * stride]
        row = bytearray(data[r * stride + 1:(r + 1) * stride])
        if ft == 1:  # Sub
            for i in range(bpp, rowlen):
                row[i] = (row[i] + row[i - bpp]) & 0xFF
        elif ft == 2:  # Up
            for i in range(rowlen):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(rowlen):
                left = row[i - bpp] if i >= bpp else 0
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(rowlen):
                a = row[i - bpp] if i >= bpp else 0
                b = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                if pa <= pb and pa <= pc:
                    pr = a
                elif pb <= pc:
                    pr = b
                else:
                    pr = c
                row[i] = (row[i] + pr) & 0xFF
        elif ft != 0:
            raise _Truncated("png filter %d" % ft)
        out[r * rowlen:(r + 1) * rowlen] = row
        prev = row
    return bytes(out)


#: filters that mark encoded IMAGE payloads — never applied on the
#: text path; a stream whose filter chain ends in one of these is
#: returned still-encoded by decode_stream (the caller sees the
#: chain's name via the stream dict).
_IMAGE_FILTERS = frozenset(
    ["DCTDecode", "DCT", "CCITTFaxDecode", "CCF", "JBIG2Decode",
     "JPXDecode"]
)


def decode_stream(stream: Stream, doc=None, budget: list | None = None) -> bytes:
    """Apply the §7.4 filter chain. ``budget`` is the mutable
    one-element per-document inflate allowance; image-codec filters
    terminate the chain with the bytes left encoded (the text path
    never needs them, and the image path hands them to the JPEG
    kernel instead)."""
    if budget is None:
        budget = [_MAX_DOC_INFLATE]
    # shared streams (ToUnicode CMaps, Form XObjects Do'd on many
    # pages) decode ONCE per document — both for the O(pages) CPU
    # and so the inflate budget is charged exactly once (a re-charge
    # per page falsely bombs large documents). Stream objects are
    # held in the doc cache, so id() is stable for the doc lifetime.
    cache_key = ("decoded", id(stream)) if doc is not None else None
    if cache_key is not None:
        hit = doc._cache.get(cache_key)
        if hit is not None:
            return hit
    d = stream.dict
    filters = d.get("Filter")
    if doc is not None:
        filters = doc.resolve(filters)
    if filters is None:
        return stream.raw
    if isinstance(filters, (Name, str)):
        filters = [filters]
    parms = d.get("DecodeParms", d.get("DP"))
    if doc is not None:
        parms = doc.resolve(parms)
    if isinstance(parms, dict) or parms is None:
        parms = [parms]
    data = stream.raw
    for i, f in enumerate(filters):
        if doc is not None:
            f = doc.resolve(f)
        fname = str(f)
        pp = parms[i] if i < len(parms) else None
        if doc is not None:
            pp = doc.resolve(pp)
        pp = pp or {}
        if fname in ("FlateDecode", "Fl"):
            data = _flate(data, budget)
        elif fname in ("LZWDecode", "LZW"):
            data = _lzw(data, budget, int(pp.get("EarlyChange", 1) or 1))
        elif fname in ("ASCII85Decode", "A85"):
            data = _ascii85(data)
        elif fname in ("ASCIIHexDecode", "AHx"):
            data = _asciihex(data)
        elif fname in ("RunLengthDecode", "RL"):
            data = _runlength(data)
        elif fname in _IMAGE_FILTERS:
            # still-encoded image payload
            if cache_key is not None:
                doc._cache[cache_key] = data
            return data
        elif fname == "Crypt":
            raise _Truncated("Crypt filter")
        else:
            raise _Truncated("unknown filter %s" % fname)
        if budget[0] < 0:
            raise _Bomb("doc inflate cap")
        if pp and fname in ("FlateDecode", "Fl", "LZWDecode", "LZW"):
            data = _predictor(data, pp)
    if cache_key is not None:
        doc._cache[cache_key] = data
    return data


# ── §7.5 file structure: xref, trailer, object fetch ────────────


class _PdfDoc:
    """Random-access view of one PDF blob: xref map + lazy object
    cache. ``xref[num] = ("n", offset)`` for a regular object,
    ``("o", objstm_num, idx)`` for a type-2 (object-stream) entry.
    Construction raises _Truncated/_Bomb; the kernels map those to
    the S4 skip."""

    __slots__ = (
        "buf", "xref", "trailer", "_cache", "budget",
        "has_xref_stream", "has_object_streams", "recovered",
        "crypt", "crypt_excluded",
    )

    def __init__(self, buf: bytes):
        self.buf = buf
        self.xref = {}
        self.trailer = {}
        self._cache = {}
        self.budget = [_MAX_DOC_INFLATE]
        self.has_xref_stream = False
        self.has_object_streams = False
        self.recovered = False
        self.crypt = None
        self.crypt_excluded = set()
        try:
            self._load_xref_chain()
        except _Bomb:
            raise
        except _Truncated:
            self._recover_scan()
        if not self.xref or "Root" not in self.trailer:
            # clipped trailer / broken offsets — the crawl shape
            self._recover_scan()
        if "Root" not in self.trailer:
            raise _Truncated("no document catalog")
        self._setup_decryption()

    def _setup_decryption(self):
        """§7.6: if the trailer names an /Encrypt dictionary, try
        the EMPTY-user-password standard handler (the permissions-
        only shape a crawl actually meets; R2-R4 RC4/AES-128 and
        R5/R6 AES-256). Success arms per-object decryption; any
        refusal (non-empty password, exotic handler, failed /Perms
        self-check) leaves crypt None — structure parses, text is
        refused, nothing is guessed."""
        enc_ref = self.trailer.get("Encrypt")
        if enc_ref is None:
            return
        from .pdf_crypt import _Unsupported, build_decryptor

        try:
            enc = self.resolve(enc_ref)
            if not isinstance(enc, dict):
                return
            ids = self.trailer.get("ID")
            id0 = b""
            if isinstance(ids, list) and ids:
                first = self.resolve(ids[0])
                if isinstance(first, bytes):
                    id0 = first
            self.crypt = build_decryptor(
                {k: self.resolve(v) for k, v in enc.items()}, id0
            )
            if isinstance(enc_ref, Ref):
                self.crypt_excluded.add(enc_ref.num)
            # anything fetched before the key existed carries raw
            # ciphertext strings — drop it and re-parse lazily
            self._cache.clear()
        except _Bomb:
            raise
        except (_Unsupported, _Truncated, ValueError, TypeError):
            self.crypt = None

    def _decrypt_object(self, obj, num: int, gen: int):
        """Recursively decrypt the strings (and stream payload) of
        one top-level indirect object (§7.6.2: encryption applies
        per containing object). XRef streams are never encrypted;
        ObjStm MEMBERS are covered by the container's decryption and
        never pass through here (type-2 fetches skip it)."""
        if isinstance(obj, bytes):
            try:
                return self.crypt.decrypt_string(obj, num, gen)
            except ValueError:
                return obj
        if isinstance(obj, list):
            return [self._decrypt_object(x, num, gen) for x in obj]
        if isinstance(obj, Stream):
            if str(obj.dict.get("Type")) == "XRef":
                return obj
            d = self._decrypt_object(obj.dict, num, gen)
            try:
                raw = self.crypt.decrypt_stream(obj.raw, num, gen)
            except ValueError:
                raw = obj.raw
            return Stream(d, raw)
        if isinstance(obj, dict):
            return {
                k: self._decrypt_object(v, num, gen)
                for k, v in obj.items()
            }
        return obj

    # -- xref chain ------------------------------------------------

    def _load_xref_chain(self):
        tail = self.buf[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            raise _Truncated("no startxref")
        offset = int(m.group(1))
        seen = set()
        sections = 0
        while offset is not None:
            if offset in seen or not (0 <= offset < len(self.buf)):
                raise _Truncated("bad xref offset")
            seen.add(offset)
            sections += 1
            if sections > _MAX_XREF_SECTIONS:
                raise _Bomb("xref chain cap")
            offset = self._load_xref_section(offset)

    def _load_xref_section(self, offset: int):
        """One xref section (classic table or xref stream) +
        its trailer; returns the /Prev offset or None."""
        lex = _Lexer(self.buf, offset)
        lex._skip_ws()
        if self.buf[lex.pos:lex.pos + 4] == b"xref":
            lex.pos += 4
            trailer = self._load_xref_table(lex)
        else:
            trailer = self._load_xref_stream(offset)
        for k, v in trailer.items():
            self.trailer.setdefault(k, v)
        # hybrid-reference file (§7.5.8.4): the classic table's
        # trailer points at an xref STREAM carrying the compressed
        # objects' entries
        xstm = trailer.get("XRefStm")
        if isinstance(xstm, int) and 0 <= xstm < len(self.buf):
            try:
                self._load_xref_stream(xstm)
            except _Bomb:
                raise
            except _Truncated:
                pass
        prev = trailer.get("Prev")
        return int(prev) if isinstance(prev, (int, float)) else None

    def _load_xref_table(self, lex: _Lexer) -> dict:
        """Classic ``xref`` table (§7.5.4): subsections of
        ``first count`` then 20-byte entries."""
        while True:
            lex._skip_ws()
            if self.buf[lex.pos:lex.pos + 7] == b"trailer":
                lex.pos += 7
                t = _parse_object(lex)
                if not isinstance(t, dict):
                    raise _Truncated("trailer not a dict")
                return t
            first = lex.next_token()
            if not isinstance(first, int):
                raise _Truncated("xref subsection header")
            count = lex.next_token()
            if not isinstance(count, int) or count < 0:
                raise _Truncated("xref subsection count")
            if len(self.xref) + count > _MAX_OBJECTS:
                raise _Bomb("object cap")
            lex._skip_ws()
            p = lex.pos
            for i in range(count):
                entry = self.buf[p:p + 20]
                if len(entry) < 18:
                    raise _Truncated("xref entry eof")
                try:
                    off = int(entry[0:10])
                    typ = entry[17:18]
                except ValueError:
                    raise _Truncated("xref entry bytes")
                num = first + i
                if num not in self.xref:
                    if typ == b"n":
                        self.xref[num] = ("n", off)
                    elif typ == b"f":
                        # a newer section's FREE entry must shadow
                        # any 'n' entry an older /Prev section still
                        # carries (§7.5.4 — deletion supersedes)
                        self.xref[num] = ("f",)
                # rows are 20 bytes (two-char EOL) or 19 (single EOL,
                # some writers): advance past the 18 data bytes and
                # resync over the EOL/space tail
                p += 18
                while p < len(self.buf) and self.buf[p] in b" \r\n":
                    p += 1
                if p < len(self.buf) and self.buf[p] not in b"0123456789tf":
                    raise _Truncated("xref entry stride")
            lex.pos = p

    def _load_xref_stream(self, offset: int) -> dict:
        """Cross-reference stream (§7.5.8): /W field widths over
        /Index subsections, usually Flate + PNG predictor 12."""
        stream, num, _gen = self._parse_indirect_at(
            offset, want_stream=True
        )
        d = stream.dict
        if str(d.get("Type")) != "XRef":
            raise _Truncated("xref stream type")
        self.has_xref_stream = True
        data = decode_stream(stream, doc=None, budget=self.budget)
        w = d.get("W")
        if not (isinstance(w, list) and len(w) >= 3):
            raise _Truncated("xref stream W")
        w = [int(x) for x in w[:3]]
        if any(x < 0 or x > 8 for x in w):
            raise _Truncated("xref stream widths")
        size = int(d.get("Size", 0))
        index = d.get("Index", [0, size])
        if not isinstance(index, list) or len(index) % 2:
            raise _Truncated("xref stream Index")
        rowlen = sum(w)
        if rowlen == 0:
            raise _Truncated("zero-width xref rows")
        pos = 0

        def field(row, a, b):
            return int.from_bytes(row[a:b], "big") if b > a else None

        for s in range(0, len(index), 2):
            first, count = int(index[s]), int(index[s + 1])
            if count < 0 or len(self.xref) + count > _MAX_OBJECTS:
                raise _Bomb("object cap")
            for i in range(count):
                row = data[pos:pos + rowlen]
                if len(row) < rowlen:
                    raise _Truncated("xref stream rows eof")
                pos += rowlen
                t = field(row, 0, w[0])
                if t is None:
                    t = 1  # §7.5.8.3: absent type defaults to 1
                f2 = field(row, w[0], w[0] + w[1]) or 0
                f3 = field(row, w[0] + w[1], rowlen) or 0
                num = first + i
                if num in self.xref:
                    continue
                if t == 1:
                    self.xref[num] = ("n", f2)
                elif t == 2:
                    self.xref[num] = ("o", f2, f3)
                elif t == 0:
                    # free — recorded so older sections can't
                    # resurrect a deleted object (§7.5.4)
                    self.xref[num] = ("f",)
        return d

    # -- recovery --------------------------------------------------

    def _recover_scan(self):
        """Bounded linear scan for ``N G obj`` headers + the last
        trailer-ish dict — the lenient-reader path for clipped or
        lying xref offsets (real-crawl damage)."""
        self.recovered = True
        self.xref = {}
        for m in re.finditer(rb"(?<![0-9])(\d{1,9})\s+(\d{1,5})\s+obj\b",
                             self.buf):
            if len(self.xref) >= _MAX_OBJECTS:
                raise _Bomb("object cap")
            self.xref[int(m.group(1))] = ("n", m.start())
        if "Root" not in self.trailer:
            for m in re.finditer(rb"trailer", self.buf):
                try:
                    t = _parse_object(_Lexer(self.buf, m.end()))
                except _Bomb:
                    raise
                except _Truncated:
                    continue
                if isinstance(t, dict):
                    for k, v in t.items():
                        self.trailer.setdefault(k, v)
        # ALWAYS expand discovered ObjStm containers: the reset
        # above discarded every type-2 entry the original xref
        # carried, so when recovery fires mid-parse (one lying
        # offset, /Root already in the trailer) objects living
        # inside object streams would resolve to None and a
        # salvageable document would degrade to an S4 skip
        # (advice catch). _load_objstm registers members with
        # setdefault, so header-scan entries are never clobbered.
        for num in list(self.xref):
            entry = self.xref.get(num)
            if not entry or entry[0] != "n":
                continue
            try:
                obj = self.get(Ref(num, 0))
            except _Bomb:
                raise
            except _Truncated:
                continue
            if isinstance(obj, Stream) and str(
                obj.dict.get("Type")
            ) == "ObjStm":
                self._load_objstm(num)
        if "Root" not in self.trailer:
            # hunt for the catalog object itself (xref-stream-only
            # file with a clipped tail)
            for num in list(self.xref):
                try:
                    obj = self.get(Ref(num, 0))
                except _Bomb:
                    raise
                except _Truncated:
                    continue
                if isinstance(obj, dict) and str(obj.get("Type")) == (
                    "Catalog"
                ):
                    self.trailer["Root"] = Ref(num, 0)
                    break

    # -- object fetch ----------------------------------------------

    def _parse_indirect_at(self, offset: int, want_stream: bool = False):
        """Parse ``N G obj <object> [stream]`` at a byte offset;
        returns (object, num)."""
        lex = _Lexer(self.buf, offset)
        num = lex.next_token()
        gen = lex.next_token()
        kw = lex.next_token()
        if not isinstance(num, int) or not isinstance(gen, int) or (
            kw != b"obj"
        ):
            raise _Truncated("not an indirect object at %d" % offset)
        obj = _parse_object(lex)
        gen_num = gen
        lex._skip_ws()
        if self.buf[lex.pos:lex.pos + 6] == b"stream":
            if not isinstance(obj, dict):
                raise _Truncated("stream without dict")
            p = lex.pos + 6
            # §7.3.8.1: keyword followed by CRLF or LF (tolerate CR)
            if self.buf[p:p + 2] == b"\r\n":
                p += 2
            elif self.buf[p:p + 1] in (b"\n", b"\r"):
                p += 1
            length = self.resolve(obj.get("Length"))
            if isinstance(length, (int, float)) and 0 <= int(length) <= (
                len(self.buf) - p
            ):
                raw = self.buf[p:p + int(length)]
                # verify endstream actually follows; writers lie
                tail = self.buf[p + int(length):p + int(length) + 20]
                if b"endstream" not in tail:
                    raw = None
            else:
                raw = None
            if raw is None:
                # /Length broken → scan for endstream (lenient)
                e = self.buf.find(b"endstream", p)
                if e < 0:
                    raise _Truncated("unterminated stream")
                raw = self.buf[p:e]
                if raw.endswith(b"\r\n"):
                    raw = raw[:-2]
                elif raw.endswith(b"\n") or raw.endswith(b"\r"):
                    raw = raw[:-1]
            obj = Stream(obj, bytes(raw))
        if want_stream and not isinstance(obj, Stream):
            raise _Truncated("expected stream object")
        return obj, num, gen_num

    def get(self, ref):
        """Fetch an indirect object (cached); returns None for
        free/absent entries like a lenient reader."""
        if not isinstance(ref, Ref):
            return ref
        key = ref.num
        if key in self._cache:
            return self._cache[key]
        entry = self.xref.get(key)
        if entry is None or entry[0] == "f":
            self._cache[key] = None
            return None
        self._cache[key] = None  # cycle guard during load
        if entry[0] == "n":
            try:
                obj, num, gen = self._parse_indirect_at(entry[1])
            except _Bomb:
                raise
            except _Truncated:
                self._cache[key] = None
                return None
            if num != key:
                # lying offset: fall back to scan-recovered map once
                if not self.recovered:
                    self._recover_scan()
                    self._cache.pop(key, None)
                    return self.get(ref)
                obj = None
            if obj is not None and self.crypt is not None and (
                num not in self.crypt_excluded
            ):
                obj = self._decrypt_object(obj, num, gen)
            self._cache[key] = obj
            return obj
        # type-2: inside an object stream (§7.5.7)
        _, stm_num, idx = entry
        objs = self._load_objstm(stm_num)
        obj = objs.get(idx) if objs else None
        self._cache[key] = obj
        return obj

    def _load_objstm(self, stm_num: int):
        """Parse one /Type /ObjStm: header of N (num, offset) pairs,
        then the objects back-to-back in the decoded bytes."""
        cache_key = ("objstm", stm_num)
        if cache_key in self._cache:
            return self._cache[cache_key]
        self._cache[cache_key] = {}  # cycle guard
        stm = self.get(Ref(stm_num, 0))
        if not isinstance(stm, Stream) or str(
            stm.dict.get("Type")
        ) != "ObjStm":
            return {}
        self.has_object_streams = True
        try:
            data = decode_stream(stm, doc=self, budget=self.budget)
            n = int(self.resolve(stm.dict.get("N", 0)) or 0)
            first = int(self.resolve(stm.dict.get("First", 0)) or 0)
            if n < 0 or n > _MAX_OBJECTS:
                raise _Bomb("objstm N cap")
            hdr = _Lexer(data, 0, min(first, len(data)))
            pairs = []
            for i in range(n):
                onum = hdr.next_token()
                ooff = hdr.next_token()
                if not isinstance(onum, int) or not isinstance(ooff, int):
                    raise _Truncated("objstm header")
                pairs.append((onum, ooff))
                # make members addressable even when the xref that
                # would have pointed here was clipped (recovery path)
                self.xref.setdefault(onum, ("o", stm_num, i))
            out = {}
            for i, (onum, ooff) in enumerate(pairs):
                if not (0 <= first + ooff <= len(data)):
                    continue
                try:
                    out[i] = _parse_object(_Lexer(data, first + ooff))
                except _Bomb:
                    raise
                except _Truncated:
                    continue
        except _Bomb:
            raise
        except _Truncated:
            out = {}
        self._cache[cache_key] = out
        return out

    def resolve(self, obj, depth: int = 0):
        """Follow Ref chains to a direct object."""
        while isinstance(obj, Ref):
            if depth > _MAX_DEPTH:
                raise _Bomb("ref chain cap")
            obj = self.get(obj)
            depth += 1
        return obj


# ── §7.7.3 page tree ────────────────────────────────────────────

#: attributes a Pages node passes down to its kids (§7.7.3.4)
_INHERITABLE = ("Resources", "MediaBox", "CropBox", "Rotate")


def _walk_pages(doc: _PdfDoc):
    """Yield (page_dict, inherited) in document order; cycle-safe,
    depth- and count-capped."""
    root = doc.resolve(doc.trailer.get("Root"))
    if not isinstance(root, dict):
        raise _Truncated("catalog missing")
    pages = doc.resolve(root.get("Pages"))
    if not isinstance(pages, dict):
        raise _Truncated("page tree missing")
    out = []
    seen = set()

    def rec(node, inherited, depth):
        if depth > _MAX_DEPTH:
            raise _Bomb("page tree depth cap")
        if isinstance(node, Ref):
            if node.num in seen:
                raise _Truncated("page tree cycle")
            seen.add(node.num)
            node = doc.resolve(node)
        if not isinstance(node, dict):
            return
        inh = dict(inherited)
        for k in _INHERITABLE:
            if k in node:
                inh[k] = node[k]
        typ = str(node.get("Type", ""))
        kids = node.get("Kids")
        if typ == "Page" or (typ != "Pages" and kids is None):
            if len(out) >= _MAX_PAGES:
                raise _Bomb("page cap")
            out.append((node, inh))
            return
        kids = doc.resolve(kids)
        if not isinstance(kids, list):
            return
        for kid in kids:
            rec(kid, inh, depth + 1)

    rec(pages, {}, 0)
    return out


def _text_string(raw) -> str | None:
    """§7.9.2.2 text string: UTF-16BE with BOM, else PDFDocEncoding
    (≈ latin-1 for the printable range — the deviations are control
    slots a fixture never emits; documented approximation)."""
    if raw is None:
        return None
    if isinstance(raw, str):
        return str(raw)
    if not isinstance(raw, bytes):
        return None
    if raw[:2] == b"\xfe\xff":
        try:
            return raw[2:].decode("utf-16-be")
        except UnicodeDecodeError:
            return None
    if raw[:3] == b"\xef\xbb\xbf":  # PDF 2.0 allows UTF-8
        try:
            return raw[3:].decode("utf-8")
        except UnicodeDecodeError:
            return None
    return raw.decode("latin-1")


def parse_pdf_meta(blob: bytes | None) -> dict | None:
    """Structural triage of one PDF blob. Returns None for
    non-PDF / truncated-beyond-structure / resource-bomb bytes (S4);
    otherwise a dict of deterministic metadata. Encrypted documents
    parse (structure is plaintext) and carry ``encrypted=True``."""
    if not blob or len(blob) < 8:
        return None
    head = blob[:1024]
    h = head.find(b"%PDF-")
    if h < 0:
        return None
    version = blob[h + 5:h + 8].decode("latin-1", "replace")
    if not re.match(r"\d\.\d", version):
        return None
    try:
        doc = _PdfDoc(blob[h:] if h else blob)
        pages = _walk_pages(doc)
        info = doc.resolve(doc.trailer.get("Info"))
        info = info if isinstance(info, dict) else {}
        encrypted = doc.trailer.get("Encrypt") is not None
        # with an armed empty-user-password decryptor the Info
        # strings decode like any other; without one they are
        # ciphertext — don't report garbage
        readable = not encrypted or doc.crypt is not None
        return {
            "version": version[:3],
            "n_pages": len(pages),
            "n_objects": sum(
                1 for v in doc.xref.values() if v[0] != "f"
            ),
            "encrypted": encrypted,
            "decryptable": encrypted and doc.crypt is not None,
            "has_xref_stream": doc.has_xref_stream,
            "has_object_streams": doc.has_object_streams,
            "recovered_xref": doc.recovered,
            "title": _text_string(
                doc.resolve(info.get("Title"))
            ) if readable else None,
            "producer": _text_string(
                doc.resolve(info.get("Producer"))
            ) if readable else None,
        }
    except _Truncated:
        return None
    except (ValueError, TypeError, KeyError, struct.error,
            RecursionError, MemoryError, OverflowError):
        return None


# ── §9 fonts and character decoding ─────────────────────────────

#: AGL (Adobe Glyph List) subset: the names /Differences arrays use
#: in practice. Letters/digits map via the identity rules below;
#: this table carries the punctuation + common Latin-1/typographic
#: names. Unknown names decode to None (counted as unmapped).
_GLYPH_NAMES = {
    "space": " ", "exclam": "!", "quotedbl": '"', "numbersign": "#",
    "dollar": "$", "percent": "%", "ampersand": "&",
    "quotesingle": "'", "parenleft": "(", "parenright": ")",
    "asterisk": "*", "plus": "+", "comma": ",", "hyphen": "-",
    "period": ".", "slash": "/", "colon": ":", "semicolon": ";",
    "less": "<", "equal": "=", "greater": ">", "question": "?",
    "at": "@", "bracketleft": "[", "backslash": "\\",
    "bracketright": "]", "asciicircum": "^", "underscore": "_",
    "grave": "`", "braceleft": "{", "bar": "|", "braceright": "}",
    "asciitilde": "~", "zero": "0", "one": "1", "two": "2",
    "three": "3", "four": "4", "five": "5", "six": "6",
    "seven": "7", "eight": "8", "nine": "9",
    "quoteleft": "‘", "quoteright": "’",
    "quotedblleft": "“", "quotedblright": "”",
    "endash": "–", "emdash": "—", "bullet": "•",
    "ellipsis": "…", "dagger": "†", "daggerdbl": "‡",
    "fi": "ﬁ", "fl": "ﬂ", "germandbls": "ß",
    "adieresis": "ä", "odieresis": "ö",
    "udieresis": "ü", "Adieresis": "Ä",
    "Odieresis": "Ö", "Udieresis": "Ü",
    "eacute": "é", "egrave": "è", "agrave": "à",
    "ccedilla": "ç", "ntilde": "ñ", "aring": "å",
    "oslash": "ø", "ae": "æ", "degree": "°",
    "copyright": "©", "registered": "®",
    "trademark": "™", "Euro": "€", "sterling": "£",
    "yen": "¥", "cent": "¢", "section": "§",
    "paragraph": "¶", "minus": "−", "multiply": "×",
    "divide": "÷", "plusminus": "±",
    "guillemotleft": "«", "guillemotright": "»",
    "questiondown": "¿", "exclamdown": "¡",
}


def _glyph_to_unicode(name: str) -> str | None:
    if len(name) == 1 and (name.isalnum() or name.isascii()):
        return name
    if name in _GLYPH_NAMES:
        return _GLYPH_NAMES[name]
    m = re.fullmatch(r"uni([0-9A-Fa-f]{4})(?:[0-9A-Fa-f]{4})*", name)
    if m:
        # uniXXXX (first group; multi-group forms are rare ligatures)
        try:
            return "".join(
                chr(int(name[i:i + 4], 16))
                for i in range(3, len(name), 4)
            )
        except ValueError:
            return None
    m = re.fullmatch(r"u([0-9A-Fa-f]{4,6})", name)
    if m:
        try:
            return chr(int(m.group(1), 16))
        except ValueError:
            return None
    return None


def _codec_table(codec: str) -> list:
    """256-entry code→str table from a stdlib codec; undefined
    bytes become None (unmapped, counted)."""
    out = []
    for b in range(256):
        try:
            out.append(bytes([b]).decode(codec))
        except UnicodeDecodeError:
            out.append(None)
    return out


#: StandardEncoding (§D.2) deltas vs ASCII for the printable range —
#: the two quote slots plus the high range's common glyphs.
_STANDARD_DELTAS = {
    0x27: "’", 0x60: "‘", 0xA1: "¡", 0xA2: "¢",
    0xA3: "£", 0xA5: "¥", 0xA7: "§", 0xAB: "«",
    0xB1: "–", 0xB4: "·", 0xB6: "¶", 0xB7: "•",
    0xBB: "»", 0xBC: "…", 0xD0: "—",
}


def _base_encoding_table(name: str | None) -> list:
    if name == "WinAnsiEncoding":
        t = _codec_table("cp1252")
        # cp1252's five undefined slots stay None (unmapped)
        return t
    if name == "MacRomanEncoding":
        return _codec_table("mac_roman")
    # StandardEncoding / None: ASCII identity + documented deltas
    t = [chr(b) if 0x20 <= b < 0x7F else None for b in range(256)]
    for k, v in _STANDARD_DELTAS.items():
        t[k] = v
    return t


def _parse_tounicode(data: bytes) -> tuple[dict, set]:
    """Parse a /ToUnicode CMap (§9.10.3): returns
    ({code_int: str}, {code byte lengths}). Tolerant of surrounding
    PostScript boilerplate — only the begin/end sections matter."""
    cmap = {}
    lengths = set()
    lex = _Lexer(data)
    mode = None
    pending = []
    steps = 0
    while True:
        steps += 1
        if steps > _MAX_CONTENT_TOKENS:
            raise _Bomb("cmap token cap")
        try:
            tok = lex.next_token()
        except _Bomb:
            raise
        except _Truncated:
            break
        if tok == b"begincodespacerange":
            mode = "cs"
            pending = []
        elif tok == b"beginbfchar":
            mode = "char"
            pending = []
        elif tok == b"beginbfrange":
            mode = "range"
            pending = []
        elif tok in (b"endcodespacerange", b"endbfchar", b"endbfrange"):
            mode = None
            pending = []
        elif mode == "cs":
            if isinstance(tok, bytes) and not isinstance(tok, _Kw):
                lengths.add(len(tok))
        elif mode == "char":
            pending.append(tok)
            if len(pending) == 2:
                src, dst = pending
                pending = []
                if isinstance(src, bytes) and isinstance(dst, bytes):
                    lengths.add(len(src))
                    try:
                        cmap[int.from_bytes(src, "big")] = dst.decode(
                            "utf-16-be"
                        )
                    except UnicodeDecodeError:
                        pass
        elif mode == "range":
            pending.append(tok)
            if len(pending) == 3 and pending[2] == "[":
                # array form: lo hi [dst dst ...]
                lo, hi = pending[0], pending[1]
                arr = []
                while True:
                    t = lex.next_token()
                    if t == "]":
                        break
                    arr.append(t)
                pending = []
                if isinstance(lo, bytes) and isinstance(hi, bytes):
                    lengths.add(len(lo))
                    base = int.from_bytes(lo, "big")
                    for j, d in enumerate(arr):
                        if isinstance(d, bytes):
                            try:
                                cmap[base + j] = d.decode("utf-16-be")
                            except UnicodeDecodeError:
                                pass
            elif len(pending) == 3:
                lo, hi, dst = pending
                pending = []
                if (isinstance(lo, bytes) and isinstance(hi, bytes)
                        and isinstance(dst, bytes)):
                    lengths.add(len(lo))
                    a = int.from_bytes(lo, "big")
                    b = int.from_bytes(hi, "big")
                    if b - a > 1 << 16:
                        raise _Bomb("bfrange span cap")
                    base = int.from_bytes(dst, "big") if dst else 0
                    width = len(dst)
                    for j in range(b - a + 1):
                        val = base + j
                        try:
                            cmap[a + j] = val.to_bytes(
                                max(width, 2), "big"
                            ).decode("utf-16-be")
                        except (UnicodeDecodeError, OverflowError):
                            pass
        if len(cmap) > 1 << 17:
            raise _Bomb("cmap size cap")
    return cmap, lengths


class _Font:
    """Resolved decoding state for one font resource: code byte
    width + code→unicode mapping. ``decode(bytes)`` returns
    (text, n_unmapped)."""

    __slots__ = ("nbytes", "cmap", "table")

    def __init__(self, nbytes: int, cmap: dict | None, table: list | None):
        self.nbytes = nbytes
        self.cmap = cmap
        self.table = table

    def decode(self, raw: bytes) -> tuple[str, int]:
        out = []
        unmapped = 0
        n = self.nbytes
        if n == 1:
            for b in raw:
                ch = None
                if self.cmap is not None:
                    ch = self.cmap.get(b)
                if ch is None and self.table is not None:
                    ch = self.table[b]
                if ch is None:
                    out.append("�")
                    unmapped += 1
                else:
                    out.append(ch)
        else:
            for i in range(0, len(raw) - (len(raw) % n), n):
                code = int.from_bytes(raw[i:i + n], "big")
                ch = self.cmap.get(code) if self.cmap else None
                if ch is None:
                    out.append("�")
                    unmapped += 1
                else:
                    out.append(ch)
            if len(raw) % n:
                # a dangling partial code is damage — surface it as
                # U+FFFD and COUNT it, per the module contract
                out.append("�")
                unmapped += 1
        return "".join(out), unmapped


#: fallback font when Tf names a missing resource: WinAnsi 1-byte
_FALLBACK_FONT = None


def _fallback_font() -> _Font:
    global _FALLBACK_FONT
    if _FALLBACK_FONT is None:
        _FALLBACK_FONT = _Font(1, None, _base_encoding_table(None))
    return _FALLBACK_FONT


def _load_font(doc: _PdfDoc, font_obj) -> _Font:
    # fonts are shared across pages (one /Font dict referenced by
    # every page's resources) — build the decode table once per
    # document, not once per page (see decode_stream's cache note)
    fkey = (
        ("font", font_obj.num, font_obj.gen)
        if isinstance(font_obj, Ref) else None
    )
    if fkey is not None:
        hit = doc._cache.get(fkey)
        if hit is not None:
            return hit
    font = doc.resolve(font_obj)
    if not isinstance(font, dict):
        return _fallback_font()
    out = _load_font_uncached(doc, font)
    if fkey is not None:
        doc._cache[fkey] = out
    return out


def _load_font_uncached(doc: _PdfDoc, font: dict) -> _Font:
    subtype = str(font.get("Subtype", ""))
    # ToUnicode wins wherever present — it maps the CODES as written
    cmap = None
    tu = doc.resolve(font.get("ToUnicode"))
    lengths = set()
    if isinstance(tu, Stream):
        try:
            cmap, lengths = _parse_tounicode(
                decode_stream(tu, doc, doc.budget)
            )
        except _Bomb:
            raise
        except _Truncated:
            cmap = None
    if subtype == "Type0":
        nbytes = 2
        enc = doc.resolve(font.get("Encoding"))
        if isinstance(enc, (Name, str)) and str(enc) in (
            "Identity-H", "Identity-V"
        ):
            nbytes = 2
        elif lengths:
            nbytes = max(lengths)
        return _Font(nbytes, cmap or {}, None)
    # simple font: 1-byte codes through base encoding + Differences
    enc = doc.resolve(font.get("Encoding"))
    base = None
    diffs = None
    if isinstance(enc, (Name, str)):
        base = str(enc)
    elif isinstance(enc, dict):
        base = enc.get("BaseEncoding")
        base = str(base) if base is not None else None
        diffs = doc.resolve(enc.get("Differences"))
    table = _base_encoding_table(base)
    if isinstance(diffs, list):
        code = 0
        for item in diffs:
            if isinstance(item, (int, float)):
                code = int(item)
            elif isinstance(item, Name):
                if 0 <= code < 256:
                    table[code] = _glyph_to_unicode(str(item))
                code += 1
    return _Font(1, cmap, table)


# ── §9.4 text extraction from content streams ───────────────────

#: TJ adjustment (thousandths of an em, negated) beyond which a
#: space is inserted — the conventional extractor threshold (about
#: half a space width in most fonts). Deterministic and documented;
#: PDF carries no semantic spaces, so ANY extractor picks one.
_TJ_SPACE_THRESHOLD = 180.0

#: how many ems of unexplained x-advance between two show ops on
#: the same baseline reads as an inter-word gap
_GAP_EMS = 0.3

#: estimated glyph advance in ems when no width table is consulted
#: (layout heuristic only — never affects the decoded characters)
_EST_ADVANCE_EMS = 0.5


def _skip_inline_image(lex: _Lexer):
    """BI ... ID <binary> EI (§8.9.7): consume the dict tokens, then
    scan for whitespace-EI-delimiter."""
    while True:
        tok = lex.next_token()
        if tok == b"ID":
            break
    buf, end = lex.buf, lex.end
    p = lex.pos + 1
    while True:
        q = buf.find(b"EI", p)
        if q < 0 or q + 2 > end:
            raise _Truncated("inline image unterminated")
        before_ok = q == 0 or buf[q - 1] in _WHITESPACE
        after_ok = q + 2 >= end or buf[q + 2] in _REGULAR_STOP
        if before_ok and after_ok:
            lex.pos = q + 2
            return
        p = q + 2


def _page_content(doc: _PdfDoc, page: dict) -> bytes:
    contents = doc.resolve(page.get("Contents"))
    if contents is None:
        return b""
    if isinstance(contents, Stream):
        return decode_stream(contents, doc, doc.budget)
    if isinstance(contents, list):
        parts = []
        for c in contents[:1024]:
            c = doc.resolve(c)
            if isinstance(c, Stream):
                parts.append(decode_stream(c, doc, doc.budget))
        return b"\n".join(parts)
    return b""


class _TextSink:
    """Accumulates show-op output with the newline/space layout
    heuristic; shared across Form-XObject recursion on one page."""

    __slots__ = ("parts", "nbytes", "unmapped", "last_y", "end_x")

    def __init__(self):
        self.parts = []
        self.nbytes = 0
        self.unmapped = 0
        self.last_y = None
        self.end_x = None

    def show(self, text: str, unmapped: int, x: float, y: float,
             size: float):
        if self.last_y is not None and abs(y - self.last_y) > 1e-6:
            self.parts.append("\n")
        elif (self.end_x is not None
              and x - self.end_x > _GAP_EMS * max(size, 1e-6)
              and self.parts and not self.parts[-1].endswith((" ", "\n"))):
            self.parts.append(" ")
        self.parts.append(text)
        # charge UTF-8 bytes, not characters: CJK/emoji-heavy pages
        # would otherwise materialize up to ~4x the stated byte
        # budget before the cap trips (advice catch). isascii() is a
        # C-speed scan, so the common Latin path stays encode-free.
        self.nbytes += (
            len(text) if text.isascii() else len(text.encode("utf-8"))
        )
        if self.nbytes > _MAX_TEXT_BYTES:
            raise _Bomb("text cap")
        self.unmapped += unmapped
        self.last_y = y
        self.end_x = x + len(text) * _EST_ADVANCE_EMS * size

    def result(self) -> str:
        return "".join(self.parts)


def _run_content(doc: _PdfDoc, data: bytes, resources: dict,
                 sink: _TextSink, token_budget: list,
                 depth: int = 0):
    """Interpret one content stream's text operators (§9.4.2-3).
    Graphics operators are consumed but only the text matrix state
    is tracked — extraction needs positions, not rendering."""
    if depth > _MAX_DEPTH:
        raise _Bomb("form recursion cap")
    fonts = doc.resolve(resources.get("Font")) or {}
    if not isinstance(fonts, dict):
        fonts = {}
    xobjects = doc.resolve(resources.get("XObject")) or {}
    if not isinstance(xobjects, dict):
        xobjects = {}
    font_cache: dict = {}

    def get_font(name):
        if name not in font_cache:
            font_cache[name] = (
                _load_font(doc, fonts[name]) if name in fonts
                else _fallback_font()
            )
        return font_cache[name]

    lex = _Lexer(data)
    operands: list = []
    font = _fallback_font()
    size = 1.0
    leading = 0.0
    # text matrix: track the translation terms only (e, f); scale
    # terms of Tm feed the effective size for the gap heuristic
    tm = [1.0, 0.0, 0.0, 1.0, 0.0, 0.0]
    tlm = list(tm)

    def fnum(v, default=0.0):
        return float(v) if isinstance(v, (int, float)) else default

    def td(tx, ty):
        # Tlm = [1 0 0 1 tx ty] × Tlm
        tlm[4] = tx * tlm[0] + ty * tlm[2] + tlm[4]
        tlm[5] = tx * tlm[1] + ty * tlm[3] + tlm[5]
        tm[:] = tlm

    def show(raw):
        if not isinstance(raw, bytes):
            return
        text, unmapped = font.decode(raw)
        if text:
            eff = size * abs(tm[0]) if tm[0] else size
            sink.show(text, unmapped, tm[4], tm[5], eff)
            # advance the x translation by the estimated width so
            # the next show's gap heuristic sees where this one ended
            tm[4] += len(text) * _EST_ADVANCE_EMS * size
        elif unmapped:
            sink.unmapped += unmapped

    while True:
        token_budget[0] -= 1
        if token_budget[0] < 0:
            raise _Bomb("content token cap")
        try:
            tok = lex.next_token()
        except _Bomb:
            raise
        except _Truncated:
            break
        if not isinstance(tok, _Kw) or tok in (b"true", b"false",
                                               b"null"):
            if tok == "<<":
                # re-enter the object parser for dict operands
                d = {}
                while True:
                    k = lex.next_token()
                    if k == ">>":
                        break
                    d[str(k)] = _parse_object(lex)
                operands.append(d)
            elif tok == "[":
                arr = []
                while True:
                    t = lex.next_token()
                    if t == "]":
                        break
                    arr.append(_parse_from_token(lex, t, 1))
                operands.append(arr)
            else:
                operands.append(tok)
            if len(operands) > 64:
                operands = operands[-64:]
            continue
        # tok is an operator
        op = tok
        if op == b"BT":
            tm[:] = [1.0, 0.0, 0.0, 1.0, 0.0, 0.0]
            tlm[:] = tm
        elif op == b"Tf" and len(operands) >= 2:
            name = operands[-2]
            size = max(fnum(operands[-1], 1.0), 0.0) or 1.0
            font = get_font(str(name)) if isinstance(
                name, Name
            ) else _fallback_font()
        elif op == b"Td" and len(operands) >= 2:
            td(fnum(operands[-2]), fnum(operands[-1]))
        elif op == b"TD" and len(operands) >= 2:
            leading = -fnum(operands[-1])
            td(fnum(operands[-2]), fnum(operands[-1]))
        elif op == b"Tm" and len(operands) >= 6:
            vals = [fnum(v) for v in operands[-6:]]
            tm[:] = vals
            tlm[:] = vals
        elif op == b"T*":
            td(0.0, -leading)
        elif op == b"TL" and operands:
            leading = fnum(operands[-1])
        elif op == b"Tj" and operands:
            show(operands[-1])
        elif op == b"'" and operands:
            td(0.0, -leading)
            show(operands[-1])
        elif op == b'"' and len(operands) >= 3:
            td(0.0, -leading)
            show(operands[-1])
        elif op == b"TJ" and operands and isinstance(operands[-1], list):
            for el in operands[-1]:
                if isinstance(el, bytes):
                    show(el)
                elif isinstance(el, (int, float)):
                    if -float(el) > _TJ_SPACE_THRESHOLD:
                        if sink.parts and not sink.parts[-1].endswith(
                            (" ", "\n")
                        ):
                            sink.parts.append(" ")
                            sink.nbytes += 1
                    tm[4] -= float(el) / 1000.0 * size
        elif op == b"Do" and operands and isinstance(operands[-1], Name):
            xo = doc.resolve(xobjects.get(str(operands[-1])))
            if isinstance(xo, Stream) and str(
                xo.dict.get("Subtype", "")
            ) == "Form":
                try:
                    sub = decode_stream(xo, doc, doc.budget)
                except _Bomb:
                    raise
                except _Truncated:
                    sub = b""
                sub_res = doc.resolve(xo.dict.get("Resources"))
                _run_content(
                    doc, sub,
                    sub_res if isinstance(sub_res, dict) else resources,
                    sink, token_budget, depth + 1,
                )
        elif op == b"BI":
            _skip_inline_image(lex)
        # every operator clears its operand stack (§8.2)
        operands = []


def extract_pdf_text(blob: bytes | None) -> list[dict] | None:
    """Per-page extracted text. Returns None for non-PDF /
    structurally-broken / bomb blobs (S4); an EMPTY list for
    UNDECRYPTABLE encrypted documents (real user password, R5/R6 —
    structure readable, text ciphertext; permissions-only encryption
    with an empty user password decrypts and extracts normally); else
    one dict per page: {page, text, n_chars, unmapped_chars}. A page
    whose own content stream is damaged yields text=None (pages
    after it still extract) — distinguishable from a genuinely blank
    page's empty string."""
    if not blob or len(blob) < 8:
        return None
    h = blob[:1024].find(b"%PDF-")
    if h < 0:
        return None
    try:
        doc = _PdfDoc(blob[h:] if h else blob)
        if doc.trailer.get("Encrypt") is not None and doc.crypt is None:
            # undecryptable (real password / R5/R6): structure only
            return []
        pages = _walk_pages(doc)
        out = []
        token_budget = [_MAX_CONTENT_TOKENS]
        for i, (page, inh) in enumerate(pages):
            resources = doc.resolve(
                page.get("Resources", inh.get("Resources"))
            )
            if not isinstance(resources, dict):
                resources = {}
            sink = _TextSink()
            try:
                data = _page_content(doc, page)
                _run_content(doc, data, resources, sink, token_budget)
                text = sink.result()
            except _Bomb:
                raise
            except _Truncated:
                text = None
            out.append(
                {
                    "page": i + 1,
                    "text": text,
                    "n_chars": len(text) if text is not None else 0,
                    "unmapped_chars": sink.unmapped,
                }
            )
        return out
    except _Truncated:
        return None
    except (ValueError, TypeError, KeyError, struct.error,
            RecursionError, MemoryError, OverflowError):
        return None


# ── fixture encoder ─────────────────────────────────────────────


def _ser(obj) -> bytes:
    """Serialize a direct object for the fixture encoder."""
    if isinstance(obj, Ref):
        return b"%d %d R" % (obj.num, obj.gen)
    if isinstance(obj, Name):
        return b"/" + str(obj).encode("latin-1")
    if isinstance(obj, bool):
        return b"true" if obj else b"false"
    if obj is None:
        return b"null"
    if isinstance(obj, int):
        return b"%d" % obj
    if isinstance(obj, float):
        return ("%g" % obj).encode("latin-1")
    if isinstance(obj, bytes):
        out = bytearray(b"(")
        for c in obj:
            if c in b"()\\":
                out.append(0x5C)
                out.append(c)
            elif c == 0x0D:
                out += b"\\r"  # raw EOLs normalize to LF on read —
            elif c == 0x0A:
                out += b"\\n"  # escape so binary strings round-trip
            else:
                out.append(c)
        out += b")"
        return bytes(out)
    if isinstance(obj, str):
        return _ser(obj.encode("latin-1", "replace"))
    if isinstance(obj, list):
        return b"[" + b" ".join(_ser(x) for x in obj) + b"]"
    if isinstance(obj, dict):
        return (
            b"<<"
            + b" ".join(
                b"/%s %s" % (k.encode("latin-1"), _ser(v))
                for k, v in obj.items()
            )
            + b">>"
        )
    raise TypeError(type(obj))


def _escape_literal(s: bytes) -> bytes:
    return _ser(s)


def _tounicode_cmap(code_to_char: dict) -> bytes:
    lines = [
        b"/CIDInit /ProcSet findresource begin",
        b"12 dict begin",
        b"begincmap",
        b"/CMapName /Synth-UCS def",
        b"1 begincodespacerange",
        b"<0000> <FFFF>",
        b"endcodespacerange",
    ]
    items = sorted(code_to_char.items())
    for i in range(0, len(items), 100):
        batch = items[i:i + 100]
        lines.append(b"%d beginbfchar" % len(batch))
        for code, ch in batch:
            dst = ch.encode("utf-16-be").hex().encode()
            lines.append(b"<%04x> <%s>" % (code, dst))
        lines.append(b"endbfchar")
    lines += [b"endcmap", b"end", b"end"]
    return b"\n".join(lines)


def encode_pdf(
    pages: list,
    *,
    compress: bool = False,
    xref_stream: bool = False,
    title: str | None = None,
    producer: str | None = None,
    line_height: float = 14.0,
    encrypt: str | None = None,
    owner_pw: bytes = b"fixture-owner",
    user_pw: bytes = b"",
    images: list | None = None,
) -> bytes:
    """Deterministic synthetic PDF: ``pages`` is a list of pages,
    each a list of text lines. Lines that fit WinAnsi (cp1252) use
    the simple /F1 font; any other line routes through the
    Type0/Identity-H /F2 font with a generated ToUnicode CMap —
    exactly the two decode paths :func:`extract_pdf_text` supports.
    ``xref_stream=True`` emits the PDF 1.5 layout: non-stream
    objects packed into an /ObjStm addressed by a cross-reference
    STREAM (Flate, PNG up-predictor) instead of a classic table.
    ``encrypt`` emits a standard-security-handler document
    ('rc4-40' → V1/R2, 'rc4-128' → V2/R3, 'aes-128' → V4/R4 AESV2
    crypt filters): strings and stream payloads are really
    encrypted (deterministic IVs for fixtures); the default empty
    ``user_pw`` is the permissions-only shape the parser decrypts,
    a non-empty one produces a document the parser must refuse.
    ``images`` (optional, one list per page) embeds image XObjects:
    ``{"codec": "jpeg", "data": <jfif bytes>, "width", "height"}``
    stored under /DCTDecode, or ``{"codec": "rgb"|"gray",
    "pixels": <raw samples>, "width", "height"}`` stored raw (Flate
    when ``compress``); each is painted via a ``Do`` in the page's
    content stream."""
    objs: dict[int, object] = {}
    next_num = [1]

    def alloc(obj) -> Ref:
        n = next_num[0]
        next_num[0] += 1
        objs[n] = obj
        return Ref(n, 0)

    catalog_ref = alloc(None)   # patched below
    pages_ref = alloc(None)
    f1_ref = alloc(
        {
            "Type": Name("Font"), "Subtype": Name("Type1"),
            "BaseFont": Name("Helvetica"),
            "Encoding": Name("WinAnsiEncoding"),
        }
    )
    # collect the unicode chars F2 must carry across all pages
    uni_chars: dict[str, int] = {}
    page_lines: list[list[tuple[str, bytes, bool]]] = []
    for lines in pages:
        encoded = []
        for line in lines:
            try:
                encoded.append(("F1", line.encode("cp1252"), False))
            except UnicodeEncodeError:
                codes = bytearray()
                for ch in line:
                    if ch not in uni_chars:
                        uni_chars[ch] = 1 + len(uni_chars)
                    codes += uni_chars[ch].to_bytes(2, "big")
                encoded.append(("F2", bytes(codes), True))
        page_lines.append(encoded)

    f2_ref = None
    if uni_chars:
        cmap_body = _tounicode_cmap(
            {code: ch for ch, code in uni_chars.items()}
        )
        tu_ref = alloc(("stream", {}, cmap_body))
        desc_ref = alloc(
            {
                "Type": Name("Font"), "Subtype": Name("CIDFontType2"),
                "BaseFont": Name("Synth"),
                "CIDSystemInfo": {
                    "Registry": b"Adobe", "Ordering": b"Identity",
                    "Supplement": 0,
                },
            }
        )
        f2_ref = alloc(
            {
                "Type": Name("Font"), "Subtype": Name("Type0"),
                "BaseFont": Name("Synth"),
                "Encoding": Name("Identity-H"),
                "DescendantFonts": [desc_ref],
                "ToUnicode": tu_ref,
            }
        )

    font_res = {"F1": f1_ref}
    if f2_ref is not None:
        font_res["F2"] = f2_ref
    page_refs = []
    for pg_idx, encoded in enumerate(page_lines):
        ops = [b"BT"]
        y = 720.0
        cur_font = None
        first = True
        for fname, payload, is_hex in encoded:
            if fname != cur_font:
                ops.append(b"/%s 12 Tf" % fname.encode())
                cur_font = fname
            ops.append(
                b"72 720 Td" if first
                else b"0 -%g Td" % line_height
            )
            first = False
            if is_hex:
                ops.append(b"<" + payload.hex().encode() + b"> Tj")
            else:
                ops.append(_escape_literal(payload) + b" Tj")
        ops.append(b"ET")
        resources = {"Font": font_res}
        page_imgs = (
            images[pg_idx]
            if images is not None and pg_idx < len(images)
            else None
        )
        if page_imgs:
            xo_res = {}
            for k, spec in enumerate(page_imgs):
                name = spec.get("name", "Im%d" % k)
                w = int(spec["width"])
                hh = int(spec["height"])
                if spec["codec"] == "jpeg":
                    d = {
                        "Type": Name("XObject"),
                        "Subtype": Name("Image"),
                        "Width": w, "Height": hh,
                        "ColorSpace": Name("DeviceRGB"),
                        "BitsPerComponent": 8,
                        "Filter": Name("DCTDecode"),
                    }
                    body = spec["data"]
                else:
                    d = {
                        "Type": Name("XObject"),
                        "Subtype": Name("Image"),
                        "Width": w, "Height": hh,
                        "ColorSpace": Name(
                            "DeviceRGB" if spec["codec"] == "rgb"
                            else "DeviceGray"
                        ),
                        "BitsPerComponent": 8,
                    }
                    body = spec["pixels"]
                xo_res[name] = alloc(("stream", d, body))
                ops.append(
                    b"q %d 0 0 %d %d 100 cm /%s Do Q"
                    % (w, hh, 100 + 80 * k, name.encode())
                )
            resources["XObject"] = xo_res
        content = b"\n".join(ops)
        content_ref = alloc(("stream", {}, content))
        page_refs.append(
            alloc(
                {
                    "Type": Name("Page"), "Parent": pages_ref,
                    "MediaBox": [0, 0, 612, 792],
                    "Resources": resources,
                    "Contents": content_ref,
                }
            )
        )

    objs[pages_ref.num] = {
        "Type": Name("Pages"), "Kids": page_refs,
        "Count": len(page_refs),
    }
    objs[catalog_ref.num] = {
        "Type": Name("Catalog"), "Pages": pages_ref,
    }
    info_ref = None
    if title is not None or producer is not None:
        info = {}
        if title is not None:
            info["Title"] = title.encode("cp1252", "replace")
        if producer is not None:
            info["Producer"] = producer.encode("cp1252", "replace")
        info_ref = alloc(info)

    # -- encryption (§7.6.3, fixture side) ---------------------------
    enc_ref = None
    fkey = None
    id0 = b""
    crypt_method = None
    if encrypt is not None:
        import hashlib

        from .pdf_crypt import file_key, owner_entry, user_entry

        modes = {"rc4-40": (1, 2, 40), "rc4-128": (2, 3, 128),
                 "aes-128": (4, 4, 128), "aes-256": (5, 6, 256)}
        if encrypt not in modes:
            raise ValueError("encrypt mode %r" % encrypt)
        v, r_rev, nbits = modes[encrypt]
        klen = nbits // 8
        p_val = -44
        id0 = hashlib.md5(
            b"fixture-id|" + str(len(objs)).encode() + b"|"
            + (title or "").encode("utf-8", "replace")
        ).digest()
        if v == 5:
            from .pdf_crypt import make_r6_entries

            crypt_method = "aes256"
            fkey = hashlib.sha256(b"fixture-r6-key|" + id0).digest()
            salts = hashlib.sha256(b"fixture-r6-salts|" + id0).digest()
            ent = make_r6_entries(fkey, user_pw, owner_pw, p_val, salts)
            enc_dict = {
                "Filter": Name("Standard"), "V": 5, "R": r_rev,
                "Length": 256, "O": ent["O"], "U": ent["U"],
                "OE": ent["OE"], "UE": ent["UE"],
                "Perms": ent["Perms"], "P": p_val,
                "CF": {"StdCF": {"CFM": Name("AESV3"), "Length": 32}},
                "StmF": Name("StdCF"), "StrF": Name("StdCF"),
            }
        else:
            o_val = owner_entry(owner_pw, user_pw, r_rev, klen)
            fkey = file_key(user_pw, o_val, p_val, id0, r_rev, klen)
            u_val = user_entry(fkey, id0, r_rev)
            crypt_method = "aes" if v == 4 else "rc4"
            enc_dict = {
                "Filter": Name("Standard"), "V": v, "R": r_rev,
                "Length": nbits, "O": o_val, "U": u_val, "P": p_val,
            }
            if v == 4:
                enc_dict["CF"] = {
                    "StdCF": {"CFM": Name("AESV2"), "Length": klen}
                }
                enc_dict["StmF"] = Name("StdCF")
                enc_dict["StrF"] = Name("StdCF")
        enc_ref = alloc(enc_dict)

    def enc_bytes(data: bytes, num: int) -> bytes:
        import hashlib

        from .pdf_crypt import aes_cbc_encrypt, object_key, rc4

        if crypt_method == "aes256":
            iv = hashlib.md5(
                b"fixture-iv|" + num.to_bytes(4, "big")
            ).digest()
            return aes_cbc_encrypt(fkey, data, iv)
        key = object_key(fkey, num, 0, aes=crypt_method == "aes")
        if crypt_method == "rc4":
            return rc4(key, data)
        iv = hashlib.md5(b"fixture-iv|" + num.to_bytes(4, "big")).digest()
        return aes_cbc_encrypt(key, data, iv)

    def enc_strings(o, num: int):
        if fkey is None or num == enc_ref.num:
            return o
        if isinstance(o, bytes):
            return enc_bytes(o, num)
        if isinstance(o, list):
            return [enc_strings(x, num) for x in o]
        if isinstance(o, dict):
            return {k: enc_strings(v, num) for k, v in o.items()}
        return o

    # -- serialize ---------------------------------------------------
    def stream_bytes(num: int, d: dict, body: bytes,
                     encrypt_body: bool = True) -> bytes:
        d = dict(d)
        if compress and "Filter" not in d:
            # never double-wrap a stream that already carries its
            # codec filter (DCTDecode image payloads)
            body = zlib.compress(body, 6)
            d["Filter"] = Name("FlateDecode")
        if fkey is not None and encrypt_body:
            body = enc_bytes(body, num)
        d["Length"] = len(body)
        return (
            b"%d 0 obj\n" % num + _ser(d)
            + b"\nstream\n" + body + b"\nendstream\nendobj\n"
        )

    buf = bytearray(b"%PDF-1.5\n" if xref_stream else b"%PDF-1.4\n")
    offsets: dict[int, int] = {}

    if not xref_stream:
        for num in sorted(objs):
            offsets[num] = len(buf)
            obj = objs[num]
            if isinstance(obj, tuple) and obj[0] == "stream":
                buf += stream_bytes(num, obj[1], obj[2])
            else:
                buf += (b"%d 0 obj\n" % num
                        + _ser(enc_strings(obj, num)) + b"\nendobj\n")
        xref_off = len(buf)
        size = max(objs) + 1
        buf += b"xref\n0 %d\n" % size
        buf += b"0000000000 65535 f \n"
        for num in range(1, size):
            buf += b"%010d 00000 n \n" % offsets[num]
        trailer = {"Size": size, "Root": catalog_ref}
        if info_ref is not None:
            trailer["Info"] = info_ref
        if enc_ref is not None:
            trailer["Encrypt"] = enc_ref
            trailer["ID"] = [id0, id0]
        buf += b"trailer\n" + _ser(trailer)
        buf += b"\nstartxref\n%d\n%%%%EOF" % xref_off
        return bytes(buf)

    # xref-stream layout: dict-only objects into one ObjStm — except
    # the Encrypt dictionary, which a reader must reach BEFORE it can
    # decrypt the (encrypted) ObjStm, so it stays top-level
    plain = [n for n in sorted(objs)
             if not isinstance(objs[n], tuple)
             and not (enc_ref is not None and n == enc_ref.num)]
    streams = [n for n in sorted(objs) if isinstance(objs[n], tuple)]
    objstm_num = next_num[0]
    next_num[0] += 1
    xrefstm_num = next_num[0]

    header_parts = []
    body_parts = []
    pos = 0
    inner_off: dict[int, int] = {}
    for n in plain:
        data = _ser(objs[n]) + b"\n"
        inner_off[n] = pos
        header_parts.append(b"%d %d" % (n, pos))
        body_parts.append(data)
        pos += len(data)
    header = b" ".join(header_parts) + b"\n"
    objstm_body = header + b"".join(body_parts)

    # the Encrypt dictionary (if any) as a standalone top-level
    # object — its own strings stay UNencrypted by definition
    if enc_ref is not None:
        offsets[enc_ref.num] = len(buf)
        buf += (b"%d 0 obj\n" % enc_ref.num
                + _ser(objs[enc_ref.num]) + b"\nendobj\n")
    for num in streams:
        offsets[num] = len(buf)
        _, d, body = objs[num]
        buf += stream_bytes(num, d, body)
    offsets[objstm_num] = len(buf)
    buf += stream_bytes(
        objstm_num,
        {"Type": Name("ObjStm"), "N": len(plain), "First": len(header)},
        objstm_body,
    )

    # xref stream: W [1 ow 2] — the offset width is derived from the
    # largest offset the file will carry (the xref stream itself sits
    # last, so its own offset bounds every other one), like real
    # writers do; a fixed 2 would overflow past a 64 KiB fixture
    xref_off = len(buf)
    ow = max(2, (xref_off.bit_length() + 7) // 8)
    size = xrefstm_num + 1
    rows = bytearray()
    for num in range(size):
        if num == 0:
            rows += bytes([0]) + (0).to_bytes(ow, "big") + (
                65535
            ).to_bytes(2, "big")
        elif num in inner_off:
            rows += bytes([2]) + objstm_num.to_bytes(ow, "big") + (
                plain.index(num)
            ).to_bytes(2, "big")
        elif num == xrefstm_num:
            rows += bytes([1]) + xref_off.to_bytes(ow, "big") + (
                0
            ).to_bytes(2, "big")
        elif num in offsets:
            rows += bytes([1]) + offsets[num].to_bytes(ow, "big") + (
                0
            ).to_bytes(2, "big")
        else:
            rows += bytes([0]) + bytes(ow + 2)
    # PNG up-predictor over the rows, then Flate — the layout real
    # writers emit, so the predictor path is exercised
    stride = 1 + ow + 2
    pred_rows = bytearray()
    prev = bytes(stride)
    for r in range(0, len(rows), stride):
        row = rows[r:r + stride]
        pred_rows.append(2)  # Up
        pred_rows += bytes(
            (row[i] - prev[i]) & 0xFF for i in range(stride)
        )
        prev = row
    xref_body = zlib.compress(bytes(pred_rows), 6)
    xref_dict = {
        "Type": Name("XRef"), "Size": size,
        "W": [1, ow, 2], "Root": catalog_ref,
        "Filter": Name("FlateDecode"),
        "DecodeParms": {"Predictor": 12, "Columns": stride},
        "Length": len(xref_body),
    }
    if info_ref is not None:
        xref_dict["Info"] = info_ref
    if enc_ref is not None:
        xref_dict["Encrypt"] = enc_ref
        xref_dict["ID"] = [id0, id0]
    buf += (
        b"%d 0 obj\n" % xrefstm_num + _ser(xref_dict)
        + b"\nstream\n" + xref_body + b"\nendstream\nendobj\n"
    )
    buf += b"startxref\n%d\n%%%%EOF" % xref_off
    return bytes(buf)


# ── Spark kernels ───────────────────────────────────────────────

PDF_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("version", StringType()),
        StructField("n_pages", LongType()),
        StructField("n_objects", LongType()),
        StructField("encrypted", LongType()),
        StructField("decryptable", LongType()),
        StructField("has_xref_stream", LongType()),
        StructField("has_object_streams", LongType()),
        StructField("recovered_xref", LongType()),
        StructField("title", StringType()),
        StructField("producer", StringType()),
    ]
)

PDF_TEXT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("page", LongType()),
        StructField("text", StringType()),
        StructField("n_chars", LongType()),
        StructField("unmapped_chars", LongType()),
    ]
)

_PDF_META_COLS = [f.name for f in PDF_META_SCHEMA.fields]
_PDF_TEXT_COLS = [f.name for f in PDF_TEXT_SCHEMA.fields]


def pdf_meta(media: DataFrame) -> DataFrame:
    """One row per parseable document: the structural triage as an
    Arrow kernel. Corrupt / truncated / non-PDF blobs emit nothing
    (S4 skip). Expects (doc_id, blob)."""

    def kernel(batches):
        import pandas as pd

        for batch in batches:
            rows = []
            for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
                meta = parse_pdf_meta(
                    bytes(blob) if blob is not None else None
                )
                if meta is None:
                    continue
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "version": meta["version"],
                        "n_pages": meta["n_pages"],
                        "n_objects": meta["n_objects"],
                        "encrypted": int(meta["encrypted"]),
                        "decryptable": int(meta["decryptable"]),
                        "has_xref_stream": int(meta["has_xref_stream"]),
                        "has_object_streams": int(
                            meta["has_object_streams"]
                        ),
                        "recovered_xref": int(meta["recovered_xref"]),
                        "title": meta["title"],
                        "producer": meta["producer"],
                    }
                )
            yield pd.DataFrame(rows, columns=_PDF_META_COLS)

    return media.filter(
        F.col("doc_id").isNotNull() & F.col("blob").isNotNull()
    ).mapInPandas(kernel, PDF_META_SCHEMA)


def pdf_text(media: DataFrame) -> DataFrame:
    """One row per PAGE of extracted text — the column the dedup /
    quality / language-ID operators consume. Corrupt blobs emit
    nothing; encrypted documents emit nothing (their pages are
    ciphertext); a damaged single page emits text=NULL while its
    siblings extract. Expects (doc_id, blob)."""
    return PDF_TEXT.extract(media)


def _text_kernel(batches):
    """mapInPandas body of :func:`pdf_text` (module-level so the
    fused composition can reuse it; null blobs S4-skip in-kernel)."""
    import pandas as pd

    for batch in batches:
        rows = []
        for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
            pages = extract_pdf_text(
                bytes(blob) if blob is not None else None
            )
            if not pages:
                continue
            for pg in pages:
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "page": pg["page"],
                        "text": pg["text"],
                        "n_chars": pg["n_chars"],
                        "unmapped_chars": pg["unmapped_chars"],
                    }
                )
        yield pd.DataFrame(rows, columns=_PDF_TEXT_COLS)


def pdf_text_from_docs(docs: DataFrame) -> DataFrame:
    """Corpus synthesis + per-page extraction in ONE Python hop
    (guide §4.1 via :mod:`.fuse`) — bit-identical rows to
    ``pdf_text(synthetic_pdf_corpus(docs).select(...))``."""
    return PDF_TEXT.from_docs(docs)


def _corpus_pages(d: int) -> list:
    """Deterministic page text for doc_id ``d`` — mixes WinAnsi and
    Type0 lines so both decode paths run in every corpus scan."""
    n_pages = 1 + d % 3
    pages = []
    for pg in range(n_pages):
        lines = [
            "Synthetic corpus document %d page %d." % (d, pg + 1),
            "Quarter results improved by %d basis points." % (
                (d * 7 + pg) % 500
            ),
        ]
        if d % 4 == 1:
            lines.append("Ünïcödé ligne %d → naïve café" % (d % 97))
        if d % 5 == 2:
            lines.append(
                "Totals: %d units, margin %d%%." % (d % 1000, d % 40)
            )
        pages.append(lines)
    return pages


def synthetic_pdf_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic fixture PDFs keyed on doc_id, cycling the wire
    shapes the parser must hold: xref STREAM + ObjStm layout on odd
    docs, Flate-compressed content on d % 3 != 0, 1-3 pages, Type0
    unicode lines on d % 4 == 1, Info strings throughout; every
    13th doc has its trailer CLIPPED (the crawl damage shape —
    exercises the recovery scan), every 17th is non-PDF garbage
    (S4-skipped by the kernels), every 7th ≡ 2 carries a raw-RGB
    image XObject and ≡ 4 a real DCTDecode JPEG (operators/jpeg.py
    encoder), every 19th ≡ 11 ENCRYPTED
    (standard security handler, empty user password, RC4-128 /
    AES-128 alternating — every third of those carries a REAL user
    password and must refuse text while reporting structure). Same
    (doc_id, blob, media_type) contract as the other synthetic
    corpora."""
    return PDF_TEXT.corpus(docs)


def _pdf_corpus_kernel(batches):
    """mapInPandas body of :func:`synthetic_pdf_corpus`."""
    import pandas as pd

    for batch in batches:
        blobs = []
        for doc_id in batch["doc_id"]:
            d = int(doc_id)
            if d % 17 == 5:
                blobs.append(
                    b"\x89GARBAGE not a pdf " + bytes([d % 256]) * 64
                )
                continue
            encrypt = None
            user_pw = b""
            if d % 19 == 11:
                encrypt = "aes-128" if d % 2 == 0 else "rc4-128"
                if d % 3 == 0:
                    user_pw = b"locked"  # undecryptable shape
            images = None
            if d % 7 == 2:
                rawpx = bytes(
                    ((d * 31 + i) % 256) for i in range(6 * 4 * 3)
                )
                images = [[{"codec": "rgb", "pixels": rawpx,
                            "width": 6, "height": 4}]]
            elif d % 7 == 4:
                import numpy as np

                from .jpeg import encode_jpeg

                px = np.full(
                    (8, 8, 3),
                    ((d * 5) % 256, (d * 11) % 256, (d * 17) % 256),
                    dtype=np.uint8,
                )
                images = [[{"codec": "jpeg",
                            "data": encode_jpeg(px, quality=85),
                            "width": 8, "height": 8}]]
            blob = encode_pdf(
                _corpus_pages(d),
                compress=d % 3 != 0,
                xref_stream=d % 2 == 1,
                title="Synthetic %d" % d,
                producer="amante-s-supabase-full-cloud-etl-pipeline-spark fixtures",
                encrypt=encrypt,
                user_pw=user_pw,
                images=images,
            )
            if d % 13 == 7:
                blob = blob[:blob.rfind(b"startxref")]
            blobs.append(blob)
        yield pd.DataFrame(
            {"doc_id": batch["doc_id"], "blob": blobs,
             "media_type": ["application/pdf"] * len(blobs)}
        )


PDF_TEXT = MediaFamily(
    PDF_TEXT_SCHEMA, Corpus(_pdf_corpus_kernel, fan_out=True), _text_kernel
)


# ── §8.9 image XObjects ─────────────────────────────────────────


def extract_pdf_images(blob: bytes | None) -> list[dict] | None:
    """Image XObjects per page: the payloads a training pipeline
    ships to its image-decode stage. Returns None for broken blobs
    (S4), [] for undecryptable docs. Each dict carries the stream
    run through its NON-image filters (so a Flate-wrapped DCT yields
    the raw JPEG bytes) plus the classification a router needs:
    ``codec`` is 'jpeg' (DCTDecode — decodable by operators/jpeg.py),
    'ccitt'/'jbig2'/'jpx' (still-gated codecs, payload preserved),
    or 'raw' (fully decoded samples, e.g. Flate RGB/Gray). A shared
    XObject referenced by several pages emits once per referencing
    page (usage view, deterministic)."""
    if not blob or len(blob) < 8:
        return None
    h = blob[:1024].find(b"%PDF-")
    if h < 0:
        return None
    codec_names = {
        "DCTDecode": "jpeg", "DCT": "jpeg",
        "CCITTFaxDecode": "ccitt", "CCF": "ccitt",
        "JBIG2Decode": "jbig2", "JPXDecode": "jpx",
    }
    try:
        doc = _PdfDoc(blob[h:] if h else blob)
        if doc.trailer.get("Encrypt") is not None and doc.crypt is None:
            return []
        pages = _walk_pages(doc)
        out = []

        def emit_image(s: Stream, page_no: int, name: str):
            try:
                data = decode_stream(s, doc, doc.budget)
            except _Bomb:
                raise
            except _Truncated:
                return  # damaged image: skip it, keep the page
            filters = doc.resolve(s.dict.get("Filter"))
            if isinstance(filters, (Name, str)):
                filters = [filters]
            codec = "raw"
            for f in filters or []:
                fn = str(doc.resolve(f))
                if fn in codec_names:
                    codec = codec_names[fn]
                    break
            cs = doc.resolve(s.dict.get("ColorSpace"))
            if isinstance(cs, list) and cs:
                cs = doc.resolve(cs[0])
            out.append(
                {
                    "page": page_no,
                    "name": name,
                    "width": int(doc.resolve(s.dict.get("Width", 0))
                                 or 0),
                    "height": int(doc.resolve(s.dict.get("Height", 0))
                                  or 0),
                    "bits": int(doc.resolve(
                        s.dict.get("BitsPerComponent", 0)
                    ) or 0),
                    "colorspace": str(cs) if cs is not None else None,
                    "codec": codec,
                    "data": data,
                }
            )

        def walk_xobjects(res: dict, page_no: int, prefix: str,
                          depth: int, seen: frozenset):
            # images painted via Form XObjects (logo/letterhead/
            # stamp wrappers) live in the FORM's resources — recurse
            # like the text path does (review catch); names carry
            # the form path so sibling forms can't collide
            if depth > _MAX_DEPTH:
                raise _Bomb("xobject recursion cap")
            xo = doc.resolve(res.get("XObject"))
            if not isinstance(xo, dict):
                return
            for name in sorted(xo):
                ref = xo[name]
                s = doc.resolve(ref)
                if not isinstance(s, Stream):
                    continue
                subtype = str(s.dict.get("Subtype"))
                if subtype == "Image":
                    emit_image(s, page_no, prefix + str(name))
                elif subtype == "Form":
                    key = ref.num if isinstance(ref, Ref) else None
                    if key is not None and key in seen:
                        continue  # form cycle
                    fres = doc.resolve(s.dict.get("Resources"))
                    if isinstance(fres, dict):
                        walk_xobjects(
                            fres, page_no, prefix + str(name) + "/",
                            depth + 1,
                            seen | {key} if key is not None else seen,
                        )

        for i, (page, inh) in enumerate(pages):
            res = doc.resolve(page.get("Resources", inh.get("Resources")))
            if isinstance(res, dict):
                walk_xobjects(res, i + 1, "", 0, frozenset())
        return out
    except _Truncated:
        return None
    except (ValueError, TypeError, KeyError, struct.error,
            RecursionError, MemoryError, OverflowError):
        return None


PDF_IMAGE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("page", LongType()),
        StructField("name", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("bits", LongType()),
        StructField("colorspace", StringType()),
        StructField("codec", StringType()),
        StructField("blob", BinaryType()),
    ]
)

_PDF_IMAGE_COLS = [f.name for f in PDF_IMAGE_SCHEMA.fields]


def pdf_images(media: DataFrame) -> DataFrame:
    """One row per image XObject per referencing page — the blob
    column feeds the jpeg/multimodal decode kernels downstream
    (jpeg payloads are full JFIF streams). Corrupt docs emit
    nothing (S4). Expects (doc_id, blob)."""

    def kernel(batches):
        import pandas as pd

        for batch in batches:
            rows = []
            for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
                imgs = extract_pdf_images(
                    bytes(blob) if blob is not None else None
                )
                if not imgs:
                    continue
                for im in imgs:
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "page": im["page"],
                            "name": im["name"],
                            "width": im["width"],
                            "height": im["height"],
                            "bits": im["bits"],
                            "colorspace": im["colorspace"],
                            "codec": im["codec"],
                            "blob": im["data"],
                        }
                    )
            yield pd.DataFrame(rows, columns=_PDF_IMAGE_COLS)

    return media.filter(
        F.col("doc_id").isNotNull() & F.col("blob").isNotNull()
    ).mapInPandas(kernel, PDF_IMAGE_SCHEMA)
