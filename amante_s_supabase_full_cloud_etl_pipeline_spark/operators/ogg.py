"""Ogg container metadata walk — the third media container of the
crawl next to :mod:`.mp4` (ISO-BMFF) and :mod:`.mkv` (EBML); charter
extension (SURVEY.md §2.10; reference analog: none).

Clean-room from RFC 3533 (the Ogg page framing) plus the published
Vorbis I spec and RFC 7845 (Opus-in-Ogg): page sync ``OggS``,
version 0, header-type flags, 64-bit granule position, stream
serial, page sequence, CRC-32 (poly 0x04C11DB7, unreflected, init 0,
computed with the CRC field zeroed), and the 255-lacing segment
table whose sub-255 terminators delimit packets. What this module
extracts per logical stream:

- codec identification from the FIRST packet (``\\x01vorbis`` with
  channels + rate from the id header; ``OpusHead`` with channels,
  pre-skip and the 48 kHz granule clock; ``\\x80theora`` with frame
  dimensions — identified, not decoded);
- vendor + tags from the comment header (Vorbis-comment wire format,
  shared verbatim by Vorbis/Opus/FLAC — the parser is reused from
  :mod:`.flac`);
- duration from the LAST page's granule position per RFC 7845 /
  Vorbis I granule semantics (Opus: (granule − pre-skip)/48000;
  Vorbis: granule/rate), plus page/packet counts and a
  continuation-aware packet reassembly bounded by caps;
- per-page CRC verification — a damaged page stops the walk with
  what parsed (lenient-reader semantics), while structural garbage
  before any valid page is an S4 None.

The codec BITSTREAMS (Vorbis floor/residue codebooks, Opus SILK/CELT
tables) are fixed-table codecs and stay ADR-gated exactly like
H.264/AAC (SURVEY §2.10); a triage pipeline wants exactly this
module's output — what is this file, how long, what language tags —
before deciding to ship bytes to a decode fleet.

Spark surface: :func:`ogg_meta` is the usual map-only Arrow kernel
(one row per logical stream), plus a deterministic fixture corpus.
"""

from __future__ import annotations

import struct

from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .fuse import Corpus, MediaFamily

_MAX_PAGES = 1 << 20
_MAX_STREAMS = 16
_MAX_PACKET = 1 << 24
_MAX_TAGS_BYTES = 1 << 22


class _Broken(Exception):
    pass


def _crc_table():
    # RFC 3533 appendix: unreflected CRC-32, poly 0x04C11DB7, init 0
    tab = []
    for b in range(256):
        c = b << 24
        for _ in range(8):
            c = ((c << 1) ^ 0x04C11DB7) & 0xFFFFFFFF if c & (
                0x80000000
            ) else (c << 1) & 0xFFFFFFFF
        tab.append(c)
    return tab


_CRC = _crc_table()


def _crc_tables8():
    """Slicing-by-8 extension of the byte table (the standard
    table-generation identity tab_{k+1}[b] = shift8(tab_k[b]) — pure
    arithmetic on the spec polynomial, no new constants): one Python
    loop iteration then consumes EIGHT bytes, which is the
    difference between the page CRC being ~8% and ~60% of the
    container walk's wall."""
    tabs = [list(_CRC)]
    for _ in range(7):
        prev = tabs[-1]
        tabs.append(
            [((v << 8) & 0xFFFFFFFF) ^ _CRC[(v >> 24) & 0xFF]
             for v in prev]
        )
    # tabs[0] applies to the LAST byte of each 8-byte group
    return tabs


_CRC8X = _crc_tables8()


def ogg_crc(data: bytes) -> int:
    t0, t1, t2, t3, t4, t5, t6, t7 = _CRC8X
    c = 0
    n8 = len(data) & ~7
    i = 0
    while i < n8:
        b0, b1, b2, b3, b4, b5, b6, b7 = data[i:i + 8]
        c = (
            t7[((c >> 24) & 0xFF) ^ b0]
            ^ t6[((c >> 16) & 0xFF) ^ b1]
            ^ t5[((c >> 8) & 0xFF) ^ b2]
            ^ t4[(c & 0xFF) ^ b3]
            ^ t3[b4] ^ t2[b5] ^ t1[b6] ^ t0[b7]
        )
        i += 8
    for byte in data[n8:]:
        c = ((c << 8) & 0xFFFFFFFF) ^ _CRC[((c >> 24) ^ byte) & 0xFF]
    return c


def _parse_page(b: bytes, pos: int):
    """One page at ``pos`` → (header dict, packets-segments, next
    position). CRC-verified with the checksum field zeroed."""
    if b[pos:pos + 4] != b"OggS":
        raise _Broken("no page sync")
    if pos + 27 > len(b):
        raise _Broken("page header eof")
    (version, htype, granule, serial, seq, crc, nsegs
     ) = struct.unpack_from("<BBqIIIB", b, pos + 4)
    if version != 0:
        raise _Broken("ogg version")
    lacing = b[pos + 27:pos + 27 + nsegs]
    if len(lacing) < nsegs:
        raise _Broken("lacing eof")
    body_len = sum(lacing)
    start = pos + 27 + nsegs
    body = b[start:start + body_len]
    if len(body) < body_len:
        raise _Broken("page body eof")
    page = b[pos:start + body_len]
    zeroed = page[:22] + b"\x00\x00\x00\x00" + page[26:]
    if ogg_crc(zeroed) != crc:
        raise _Broken("page crc mismatch")
    # lacing → segments: values of 255 continue the packet; <255
    # terminates it (a trailing 255 leaves the packet OPEN into the
    # next page)
    segs = []
    off = 0
    cur = bytearray()
    open_tail = False
    for i, ln in enumerate(lacing):
        cur += body[off:off + ln]
        off += ln
        if ln < 255:
            segs.append(bytes(cur))
            cur = bytearray()
        elif i == nsegs - 1:
            segs.append(bytes(cur))
            open_tail = True
    return (
        {
            "continued": bool(htype & 1),
            "bos": bool(htype & 2),
            "eos": bool(htype & 4),
            "granule": granule,
            "serial": serial,
            "seq": seq,
        },
        segs,
        open_tail,
        start + body_len,
    )


def _ident(first_packet: bytes):
    """(codec, info dict) from a stream's first packet — Vorbis id
    header, OpusHead, or Theora id; unknown codecs are surfaced as
    'unknown' (identified-not-decoded is this module's contract)."""
    p = first_packet
    if p[:7] == b"\x01vorbis" and len(p) >= 30:
        _ver, channels = struct.unpack_from("<IB", p, 7)
        (rate,) = struct.unpack_from("<I", p, 12)
        return "vorbis", {"channels": channels, "sample_rate": rate,
                          "granule_rate": rate, "pre_skip": 0}
    if p[:8] == b"OpusHead" and len(p) >= 19:
        channels = p[9]
        (pre_skip,) = struct.unpack_from("<H", p, 10)
        (in_rate,) = struct.unpack_from("<I", p, 12)
        # RFC 7845 §4: the granule clock is ALWAYS 48 kHz regardless
        # of the original input rate
        return "opus", {"channels": channels, "sample_rate": in_rate,
                        "granule_rate": 48_000, "pre_skip": pre_skip}
    if p[:7] == b"\x80theora" and len(p) >= 42:
        # Theora I spec §6.2 id-header layout after the 7-byte magic:
        # VMAJ/VMIN/VREV at 7..9, FMBW/FMBH as 16-bit macroblock
        # counts at 10/12 (frame size = count×16), and the exact
        # picture size PICW/PICH as 24-bit values at 14/17. Prefer
        # the exact picture size; fall back to the macroblock frame
        # when a (non-conformant) header leaves PICW/PICH zero.
        picw = int.from_bytes(p[14:17], "big")
        pich = int.from_bytes(p[17:20], "big")
        fmbw = int.from_bytes(p[10:12], "big") * 16
        fmbh = int.from_bytes(p[12:14], "big") * 16
        w = picw or fmbw
        h = pich or fmbh
        return "theora", {"channels": 0, "sample_rate": 0,
                          "granule_rate": 0, "pre_skip": 0,
                          "width": w, "height": h}
    return "unknown", {"channels": 0, "sample_rate": 0,
                       "granule_rate": 0, "pre_skip": 0}


def parse_ogg_meta(blob: bytes | None):
    """One dict per logical stream (list), or None for non-Ogg /
    structurally broken input (S4). A CRC-broken page mid-file stops
    the walk and surfaces what parsed (lenient reader), as long as
    at least the BOS pages were intact."""
    b = bytes(blob or b"")
    if len(b) < 28 or b[:4] != b"OggS":
        return None
    from .flac import _parse_vorbis_comment

    streams: dict = {}
    pos = 0
    pages = 0
    try:
        while pos < len(b):
            hdr, segs, open_tail, pos = _parse_page(b, pos)
            pages += 1
            if pages > _MAX_PAGES:
                raise _Broken("page cap")
            s = streams.get(hdr["serial"])
            if s is None:
                if len(streams) >= _MAX_STREAMS:
                    raise _Broken("stream cap")
                s = streams[hdr["serial"]] = {
                    "packets": [], "open": b"", "n_pages": 0,
                    "n_packets": 0, "last_granule": 0, "eos": False,
                }
            s["n_pages"] += 1
            if hdr["granule"] >= 0:
                s["last_granule"] = max(
                    s["last_granule"], hdr["granule"]
                )
            s["eos"] |= hdr["eos"]
            for i, seg in enumerate(segs):
                data = seg
                if i == 0 and hdr["continued"]:
                    data = s["open"] + seg
                    s["open"] = b""
                if i == len(segs) - 1 and open_tail:
                    if len(data) > _MAX_PACKET:
                        raise _Broken("packet cap")
                    s["open"] = data
                    continue
                s["n_packets"] += 1
                # only the first three packets (id, comments, setup)
                # are retained — metadata, never codec payloads
                if len(s["packets"]) < 3 and len(data) <= _MAX_PACKET:
                    s["packets"].append(data)
    except _Broken:
        if not streams:
            return None
    except struct.error:
        if not streams:
            return None
    out = []
    for serial, s in sorted(streams.items()):
        if not s["packets"]:
            continue
        codec, info = _ident(s["packets"][0])
        vendor = None
        tags = {}
        if len(s["packets"]) > 1:
            p2 = s["packets"][1][:_MAX_TAGS_BYTES]
            # comment headers: '\x03vorbis'+payload (vorbis) or
            # 'OpusTags'+payload (opus) — same wire format after
            # the magic, the flac module's parser reads it
            body = None
            if p2[:7] == b"\x03vorbis":
                body = p2[7:]
            elif p2[:8] == b"OpusTags":
                body = p2[8:]
            if body is not None:
                vc = _parse_vorbis_comment(body)
                vendor = vc["vendor"]
                tags = vc["tags"]
        duration_ms = None
        if info["granule_rate"]:
            samples = max(
                0, s["last_granule"] - info["pre_skip"]
            )
            duration_ms = int(
                samples * 1000 // info["granule_rate"]
            )
        out.append(
            {
                "serial": serial,
                "codec": codec,
                "channels": info["channels"],
                "sample_rate": info["sample_rate"],
                "pre_skip": info["pre_skip"],
                "n_pages": s["n_pages"],
                "n_packets": s["n_packets"],
                "eos": s["eos"],
                "duration_ms": duration_ms,
                "title": tags.get("title"),
                "artist": tags.get("artist"),
                "vendor": vendor,
                "width": info.get("width"),
                "height": info.get("height"),
            }
        )
    return out or None


def sniff_ogg(blob: bytes) -> bool:
    return bytes(blob or b"")[:4] == b"OggS"


# ── fixture encoder ─────────────────────────────────────────────


def _pages(serial: int, packets: list, granules: list,
           page_size: int = 4096) -> bytes:
    """Encode packets into pages (lacing, continuation across pages,
    BOS/EOS flags, CRC) — one packet boundary shape per call site."""
    out = b""
    seq = 0
    # flatten packets into (data, is_last_of_its_packet) segments of
    # ≤255, then group into pages of ≤255 segments / ~page_size bytes
    pending = []  # (bytes, terminates_packet, granule_after)
    for pkt, g in zip(packets, granules):
        chunks = [pkt[i:i + 255] for i in range(0, len(pkt), 255)]
        if not chunks:
            chunks = [b""]
        for j, c in enumerate(chunks):
            pending.append((c, j == len(chunks) - 1 and len(c) < 255, g))
        if len(chunks[-1]) == 255:
            pending.append((b"", True, g))  # explicit terminator
    i = 0
    first = True
    continued = False
    while i < len(pending):
        lacing = []
        body = b""
        granule = -1
        page_continued = continued
        while i < len(pending) and len(lacing) < 255 and len(body) < page_size:
            c, term, g = pending[i]
            lacing.append(len(c))
            body += c
            if term:
                granule = g
            continued = not term
            i += 1
        last = i >= len(pending)
        htype = (1 if page_continued else 0) | (2 if first else 0) | (
            4 if last else 0
        )
        hdr = b"OggS" + struct.pack(
            "<BBqIIIB", 0, htype, granule, serial, seq, 0, len(lacing)
        ) + bytes(lacing)
        page = hdr + body
        crc = ogg_crc(page)
        page = page[:22] + struct.pack("<I", crc) + page[26:]
        out += page
        first = False
        seq += 1
    return out


def _vorbis_comment_payload(vendor: bytes, tags: dict) -> bytes:
    entries = [
        ("%s=%s" % (k, v)).encode() for k, v in sorted(tags.items())
    ]
    out = struct.pack("<I", len(vendor)) + vendor
    out += struct.pack("<I", len(entries))
    for e in entries:
        out += struct.pack("<I", len(e)) + e
    return out


def encode_ogg_opus(n_frames: int = 50, channels: int = 1,
                    pre_skip: int = 312, in_rate: int = 16_000,
                    tags: dict | None = None,
                    serial: int = 0x5157,
                    page_size: int = 4096) -> bytes:
    """Structurally valid Ogg Opus file with FAKE codec payloads
    (metadata triage never reads them): OpusHead + OpusTags + data
    packets of 20 ms (960-sample) frames on the 48 kHz granule
    clock."""
    head = b"OpusHead" + bytes([1, channels]) + struct.pack(
        "<HIhB", pre_skip, in_rate, 0, 0
    )
    tagp = b"OpusTags" + _vorbis_comment_payload(
        b"fixture", tags or {}
    )
    data = [b"\xfc" + bytes([i % 251]) * (40 + i % 200)
            for i in range(n_frames)]
    granules = [0, 0] + [
        pre_skip + 960 * (i + 1) for i in range(n_frames)
    ]
    return _pages(serial, [head, tagp] + data, granules, page_size)


def encode_ogg_vorbis(n_packets: int = 40, channels: int = 2,
                      rate: int = 44_100, tags: dict | None = None,
                      serial: int = 0x5633,
                      page_size: int = 4096) -> bytes:
    """Structurally valid Ogg Vorbis file (id + comment + fake setup
    + fake audio packets; 1024-sample granule steps)."""
    # version(4) channels(1) rate(4) 3x bitrate(12) blocksizes(1)
    # framing(1) — 30 bytes total with the magic
    ident = b"\x01vorbis" + struct.pack(
        "<IBIiiiBB", 0, channels, rate, 0, 0, 0, 0xB8, 0x01
    )
    comment = b"\x03vorbis" + _vorbis_comment_payload(
        b"fixture", tags or {}
    ) + b"\x01"
    setup = b"\x05vorbis" + b"\x00" * 64
    data = [bytes([i % 251]) * (300 + 7 * (i % 13))
            for i in range(n_packets)]
    granules = [0, 0, 0] + [1024 * (i + 1) for i in range(n_packets)]
    return _pages(
        serial, [ident, comment, setup] + data, granules, page_size
    )


OGG_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("serial", LongType()),
        StructField("codec", StringType()),
        StructField("channels", LongType()),
        StructField("sample_rate", LongType()),
        StructField("pre_skip", LongType()),
        StructField("n_pages", LongType()),
        StructField("n_packets", LongType()),
        StructField("eos", BooleanType()),
        StructField("duration_ms", LongType()),
        StructField("title", StringType()),
        StructField("artist", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
    ]
)

_OGG_COLS = [f.name for f in OGG_META_SCHEMA.fields]


def ogg_meta(media):
    """Map-only Arrow kernel: one row per logical Ogg stream —
    codec/channels/rate/duration/tags/page+packet counts. Non-Ogg
    and broken blobs emit nothing (S4). Expects (doc_id, blob)."""
    return OGG.extract(media)


def _meta_kernel(batches):
    """mapInPandas body of :func:`ogg_meta` (module-level so the
    fused composition can reuse it; null blobs S4-skip in-kernel)."""
    import pandas as pd

    for batch in batches:
        rows = []
        for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
            meta = parse_ogg_meta(
                bytes(blob) if blob is not None else b""
            )
            if meta is None:
                continue
            for m in meta:
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        **{
                            k: m.get(k)
                            for k in _OGG_COLS
                            if k != "doc_id"
                        },
                    }
                )
        yield pd.DataFrame(rows, columns=_OGG_COLS)


def ogg_meta_from_docs(docs):
    """Corpus synthesis + page walk in ONE Python hop (guide §4.1
    via :mod:`.fuse`) — bit-identical rows to
    ``ogg_meta(synthetic_ogg_corpus(docs).select(...))``."""
    return OGG.from_docs(docs)


def build_ogg_fixture(d: int) -> bytes:
    """One deterministic Ogg file for doc_id ``d``: d%3 cycles
    opus / vorbis / multiplexed opus+vorbis; tags every other doc,
    small pages every 5th (cross-page packet continuation), frame
    counts keyed on the id. Pure function of the id."""
    tags = (
        {"title": "Ogg %d" % d, "artist": "Fixture %d" % (d % 7)}
        if d % 2 == 0 else None
    )
    page_size = 512 if d % 5 == 0 else 4096
    if d % 3 == 0:
        return encode_ogg_opus(
            n_frames=10 + d % 37, pre_skip=312 + (d % 3) * 10,
            channels=1 + d % 2, tags=tags, page_size=page_size,
        )
    if d % 3 == 1:
        return encode_ogg_vorbis(
            n_packets=8 + d % 29, rate=(44_100, 48_000, 22_050)[d % 3],
            tags=tags, page_size=page_size,
        )
    return encode_ogg_opus(
        n_frames=6 + d % 11, serial=10 + d, tags=tags,
        page_size=page_size,
    ) + encode_ogg_vorbis(
        n_packets=5 + d % 7, serial=100000 + d, page_size=page_size,
    )


def synthetic_ogg_corpus(docs):
    """Deterministic fixture Ogg corpus keyed on doc_id; every 11th
    ≡ 7 is non-Ogg garbage (S4-skipped). Same (doc_id, blob,
    media_type) contract as the other corpora."""
    return OGG.corpus(docs)


def _ogg_corpus_kernel(batches):
    """mapInPandas body of :func:`synthetic_ogg_corpus`."""
    import pandas as pd

    for batch in batches:
        blobs, types = [], []
        for doc_id in batch["doc_id"]:
            d = int(doc_id)
            if d % 11 == 7:
                blobs.append(b"\x00\x01 not an ogg stream")
                types.append("application/octet-stream")
            else:
                blobs.append(build_ogg_fixture(d))
                types.append("audio/ogg")
        yield pd.DataFrame(
            {"doc_id": batch["doc_id"], "blob": blobs,
             "media_type": types}
        )


OGG = MediaFamily(OGG_META_SCHEMA, Corpus(_ogg_corpus_kernel), _meta_kernel)
