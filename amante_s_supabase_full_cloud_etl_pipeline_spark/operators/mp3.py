"""MPEG-audio (MP3) container walk — the dominant audio format of a
real web crawl, and the one audio container the triage tier could not
see before r12 (WAV/FLAC/Ogg covered; VERDICT r11 "What's missing"
#2). Charter extension (SURVEY.md §2.10; reference analog: none).

Clean-room from the PUBLIC header layout of ISO/IEC 11172-3 §2.4.1.3
(MPEG-1 audio) and ISO/IEC 13818-3 (MPEG-2, the lower sampling
frequencies) plus the MPEG-2.5 de-facto extension, the Xing/Info and
Fraunhofer VBRI VBR headers (de-facto-public layouts every player
implements), and id3.org's ID3v2.2/2.3/2.4 + ID3v1 informal
standards. Per 32-bit frame header: 11-bit sync, version id, layer,
protection bit, 4-bit bitrate index, 2-bit sampling-frequency index,
padding, channel mode, emphasis. The bitrate/sample-rate tables below
are the spec's published constants — the same class as the FLAC
module's ``_SAMPLE_RATES`` (RFC 9639) and the Ogg CRC polynomial, NOT
the ADR-gated guessed-table class.

What the walk emits per document (one row):

- version ("1"/"2"/"2.5"), layer (1-3), sample rate, channels,
  frame count, exact walked duration;
- CBR bitrate, or VBR detection from the walked bitrate-index set
  plus the Xing/Info/VBRI header when present (frame/byte counts);
- ID3v2 title/artist/album (v2.2 3-byte frames, v2.3 plain-size
  frames, v2.4 syncsafe frames, unsynchronisation, latin-1/UTF-16/
  UTF-8 text encodings) with ID3v1 trailer fallback;
- lenient-reader semantics shared with :mod:`.ogg`: a mid-stream
  broken header stops the walk and surfaces the prefix that parsed;
  structural garbage with no two consecutive valid frames is an S4
  ``None``.

Deliberate scope limits, documented not guessed:

- **Layer III Huffman bitstream decode is ADR-gated** like H.264/AAC
  (operators/mp4.py precedent): the scale-factor/Huffman tables are
  fixed published tables whose transcription errors would
  self-confirm through this repo's own fixtures.
- **Frame CRC-16 is parsed (protection bit, 2-byte skip) but not
  verified**: the spec's CRC covers layer-dependent side-information
  bit spans; a clean-room mis-transcription of the span would
  self-confirm against our own fixture encoder, and real-world
  walkers establish frame validity the way this module does — sync +
  version/layer/rate consistency across consecutive frames.
- **Free-format streams (bitrate index 0) are rejected as invalid
  sync**: their frame length is only discoverable by searching for
  the next sync, which is exactly the false-sync shape the validity
  check exists to refuse.

Spark surface: :func:`mp3_meta` is the usual map-only Arrow kernel
(one row per parsed document; S4 skips emit nothing), plus the
deterministic fixture corpus :func:`synthetic_mp3_corpus`.
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

_MAX_FRAMES = 1 << 20
_MAX_TAG_BYTES = 1 << 22
_MAX_SYNC_SCAN = 1 << 16

# ── spec constants (ISO 11172-3 Table 3-B.2 / 13818-3) ──────────

# kbps by (version-group, layer); index 0 = free format (rejected),
# index 15 = forbidden. MPEG-2.5 shares the MPEG-2 tables.
_BITRATES = {
    ("1", 1): (None, 32, 64, 96, 128, 160, 192, 224,
               256, 288, 320, 352, 384, 416, 448, None),
    ("1", 2): (None, 32, 48, 56, 64, 80, 96, 112,
               128, 160, 192, 224, 256, 320, 384, None),
    ("1", 3): (None, 32, 40, 48, 56, 64, 80, 96,
               112, 128, 160, 192, 224, 256, 320, None),
    ("2", 1): (None, 32, 48, 56, 64, 80, 96, 112,
               128, 144, 160, 176, 192, 224, 256, None),
    ("2", 2): (None, 8, 16, 24, 32, 40, 48, 56,
               64, 80, 96, 112, 128, 144, 160, None),
    ("2", 3): (None, 8, 16, 24, 32, 40, 48, 56,
               64, 80, 96, 112, 128, 144, 160, None),
}

_SAMPLE_RATES = {
    "1": (44_100, 48_000, 32_000, None),
    "2": (22_050, 24_000, 16_000, None),
    "2.5": (11_025, 12_000, 8_000, None),
}

_VERSIONS = {0: "2.5", 1: None, 2: "2", 3: "1"}
_LAYERS = {0: None, 1: 3, 2: 2, 3: 1}


def _samples_per_frame(version: str, layer: int) -> int:
    if layer == 1:
        return 384
    if layer == 2:
        return 1152
    # layer III halves the granule count below MPEG-1
    return 1152 if version == "1" else 576


def _frame_header(b: bytes, pos: int):
    """Parse one frame header at ``pos`` → dict with frame length,
    or None when the 4 bytes are not a valid header (false sync,
    reserved fields, free format, forbidden bitrate)."""
    if pos + 4 > len(b):
        return None
    h = int.from_bytes(b[pos:pos + 4], "big")
    if (h >> 21) & 0x7FF != 0x7FF:
        return None
    version = _VERSIONS[(h >> 19) & 3]
    layer = _LAYERS[(h >> 17) & 3]
    if version is None or layer is None:
        return None
    crc_protected = not ((h >> 16) & 1)
    bidx = (h >> 12) & 0xF
    sridx = (h >> 10) & 3
    padding = (h >> 9) & 1
    mode = (h >> 6) & 3
    emphasis = h & 3
    if emphasis == 2:  # '10' reserved — strong false-sync signal
        return None
    group = "1" if version == "1" else "2"
    bitrate = _BITRATES[(group, layer)][bidx]
    rate = _SAMPLE_RATES[version][sridx]
    if bitrate is None or rate is None:
        return None
    if layer == 1:
        # layer I counts 4-byte slots
        frame_len = (12 * bitrate * 1000 // rate + padding) * 4
    else:
        spf = _samples_per_frame(version, layer)
        frame_len = spf // 8 * bitrate * 1000 // rate + padding
    if frame_len < 4:
        return None
    return {
        "version": version,
        "layer": layer,
        "crc": crc_protected,
        "bitrate": bitrate,
        "rate": rate,
        "padding": padding,
        "mode": mode,
        "channels": 1 if mode == 3 else 2,
        "frame_len": frame_len,
    }


def _side_info_len(version: str, mode: int) -> int:
    """Layer III side-information length (ISO 11172-3 §2.4.1.7):
    MPEG-1 17 mono / 32 otherwise; MPEG-2/2.5 9 / 17."""
    if version == "1":
        return 17 if mode == 3 else 32
    return 9 if mode == 3 else 17


def _syncsafe(b: bytes) -> int:
    v = 0
    for byte in b:
        if byte & 0x80:
            raise _Broken("non-syncsafe byte")
        v = (v << 7) | byte
    return v


class _Broken(Exception):
    pass


# ── ID3 tags ────────────────────────────────────────────────────

_TEXT_ENC = {0: "latin-1", 1: "utf-16", 2: "utf-16-be", 3: "utf-8"}
# v2.3/2.4 frame ids → output keys; v2.2's 3-char ids map below
_ID3_FRAMES = {"TIT2": "title", "TPE1": "artist", "TALB": "album"}
_ID3_FRAMES_V22 = {"TT2": "title", "TP1": "artist", "TAL": "album"}


def _decode_text(payload: bytes):
    if not payload:
        return None
    enc = _TEXT_ENC.get(payload[0])
    if enc is None:
        return None
    try:
        return payload[1:].decode(enc).rstrip("\x00") or None
    except UnicodeDecodeError:
        return None


def _iter_id3_frames(b: bytes):
    """THE ID3v2 frame walk, shared by :func:`parse_id3v2` and
    :func:`extract_cover_art` (review catch: two diverging copies).
    Yields (frame_id str, body bytes) after version-correct
    unsynchronisation, and finally returns via StopIteration the
    (major, total_tag_bytes) — callers use :func:`_id3_frames`.

    Unsynchronisation semantics differ BY MAJOR (review catch —
    the old whole-tag scheme was only self-consistent with our own
    fixtures): in v2.3 the FF 00 stuffing is applied to the complete
    assembled tag, so frame sizes count DE-unsynchronised bytes —
    undo globally, then walk. In v2.4 stuffing is per FRAME (header
    flag 0x80 = all frames; else each frame's format-flag bit 0x02)
    and the syncsafe frame sizes count the ON-WIRE stuffed bytes —
    walk the wire, de-stuff each body after slicing."""
    if b[:3] != b"ID3" or len(b) < 10:
        return None, 0
    major, _rev, flags = b[3], b[4], b[5]
    try:
        size = _syncsafe(b[6:10])
    except _Broken:
        return None, 0
    total = 10 + size + (10 if major >= 4 and flags & 0x10 else 0)
    data = bytes(b[10:10 + min(size, _MAX_TAG_BYTES)])
    if flags & 0x80 and major <= 3:
        # v2.2/2.3: whole-tag unsynchronisation
        data = data.replace(b"\xff\x00", b"\xff")
    try:
        pos = 0
        if flags & 0x40 and major >= 3:
            # extended header: v2.3 size EXCLUDES its own 4 size
            # bytes; v2.4 syncsafe size INCLUDES the whole header
            if major == 3:
                pos = 4 + int.from_bytes(data[:4], "big")
            else:
                pos = _syncsafe(data[:4])
        while pos < len(data):
            if data[pos] == 0:  # padding reached
                break
            if major == 2:
                fid = data[pos:pos + 3].decode("latin-1")
                fsize = int.from_bytes(data[pos + 3:pos + 6], "big")
                body = data[pos + 6:pos + 6 + fsize]
                pos += 6 + fsize
                unsync = False
            else:
                fid = data[pos:pos + 4].decode("latin-1")
                raw = data[pos + 4:pos + 8]
                fsize = (
                    _syncsafe(raw) if major >= 4
                    else int.from_bytes(raw, "big")
                )
                fflags2 = data[pos + 9] if pos + 10 <= len(data) else 0
                body = data[pos + 10:pos + 10 + fsize]
                pos += 10 + fsize
                unsync = major >= 4 and bool(
                    flags & 0x80 or fflags2 & 0x02
                )
            if fsize < 0 or len(body) < fsize:
                break
            if unsync:
                body = body.replace(b"\xff\x00", b"\xff")
            yield fid, body
    except (_Broken, UnicodeDecodeError, IndexError):
        pass
    return major, total


def _id3_frames(b: bytes):
    """Materialized form of :func:`_iter_id3_frames`:
    ([(fid, body), ...], major, total_tag_bytes)."""
    frames = []
    gen = _iter_id3_frames(b)
    try:
        while True:
            frames.append(next(gen))
    except StopIteration as stop:
        major, total = stop.value if stop.value else (None, 0)
    return frames, major, total


def parse_id3v2(b: bytes):
    """(tags dict, id3 major version, total tag bytes incl. header/
    footer) or ({}, None, 0) when no tag leads the buffer. A damaged
    tag body yields whatever frames parsed; the returned size always
    honors the header's declared span so the frame walk can resume
    after it."""
    frames, major, total = _id3_frames(b)
    key_map = _ID3_FRAMES_V22 if major == 2 else _ID3_FRAMES
    tags: dict = {}
    for fid, body in frames:
        key = key_map.get(fid)
        if key is not None and key not in tags:
            val = _decode_text(body)
            if val is not None:
                tags[key] = val
    return tags, major, total


def parse_id3v1(b: bytes):
    """Tags from the fixed 128-byte ID3v1 trailer, or None."""
    if len(b) < 128 or b[-128:-125] != b"TAG":
        return None
    t = b[-128:]

    def field(lo, hi):
        s = t[lo:hi].split(b"\x00")[0].decode(
            "latin-1", "replace"
        ).strip()
        return s or None

    return {
        "title": field(3, 33),
        "artist": field(33, 63),
        "album": field(63, 93),
    }


# ── VBR headers ─────────────────────────────────────────────────


def _parse_xing(b: bytes, frame_pos: int, hdr: dict):
    """Xing/Info header inside the first frame (after the layer-III
    side info) → (tag, frames, bytes) or None."""
    off = frame_pos + 4 + (2 if hdr["crc"] else 0) + _side_info_len(
        hdr["version"], hdr["mode"]
    )
    magic = b[off:off + 4]
    if magic not in (b"Xing", b"Info"):
        return None
    if off + 8 > len(b):
        return None
    (flags,) = struct.unpack_from(">I", b, off + 4)
    pos = off + 8
    frames = nbytes = None
    if flags & 1:
        if pos + 4 > len(b):
            return None
        (frames,) = struct.unpack_from(">I", b, pos)
        pos += 4
    if flags & 2:
        if pos + 4 > len(b):
            return None
        (nbytes,) = struct.unpack_from(">I", b, pos)
        pos += 4
    return magic.decode(), frames, nbytes


def _parse_vbri(b: bytes, frame_pos: int):
    """Fraunhofer VBRI header — always 32 bytes after the frame
    header → (frames, bytes) or None."""
    off = frame_pos + 4 + 32
    if b[off:off + 4] != b"VBRI" or off + 26 > len(b):
        return None
    nbytes, frames = struct.unpack_from(">II", b, off + 10)
    return frames, nbytes


# ── the walk ────────────────────────────────────────────────────


def _find_sync(b: bytes, start: int):
    """First position ≥ start with a valid frame header CONFIRMED by
    a second consecutive valid header of the same version/layer/rate
    (or a single frame ending exactly at EOF — possibly through the
    fixed 128-byte ID3v1 trailer, review catch: a one-frame tagged
    stream was S4-dropped) — the standard false-sync refusal. None
    when no such point exists within the scan bound."""
    end = min(len(b) - 4, start + _MAX_SYNC_SCAN)
    pos = start
    while pos <= end:
        nxt = b.find(b"\xff", pos, end + 1)
        if nxt < 0:
            return None
        pos = nxt
        hdr = _frame_header(b, pos)
        if hdr is None:
            pos += 1
            continue
        after = pos + hdr["frame_len"]
        if after == len(b) or (
            after + 128 == len(b) and b[after:after + 3] == b"TAG"
        ):
            return pos
        peer = _frame_header(b, after)
        if peer is not None and (
            peer["version"] == hdr["version"]
            and peer["layer"] == hdr["layer"]
            and peer["rate"] == hdr["rate"]
        ):
            return pos
        pos += 1
    return None


def parse_mp3_meta(blob: bytes | None):
    """One dict for the whole stream, or None for non-MPEG-audio /
    structurally broken input (S4). A broken header mid-file stops
    the walk and surfaces the prefix (lenient reader), as long as at
    least two consecutive frames validated."""
    b = bytes(blob or b"")
    if len(b) < 4:
        return None
    tags, id3_major, tag_len = parse_id3v2(b)
    first = _find_sync(b, tag_len)
    if first is None:
        return None
    hdr0 = _frame_header(b, first)
    xing = _parse_xing(b, first, hdr0)
    vbri = _parse_vbri(b, first)
    pos = first
    n_frames = 0
    samples = 0
    bitrates = set()
    has_crc = False
    while pos + 4 <= len(b) and n_frames < _MAX_FRAMES:
        hdr = _frame_header(b, pos)
        if hdr is None or (
            hdr["version"] != hdr0["version"]
            or hdr["layer"] != hdr0["layer"]
            or hdr["rate"] != hdr0["rate"]
        ):
            break  # lenient: surface the prefix that walked
        if pos + hdr["frame_len"] > len(b):
            break  # truncated final frame
        n_frames += 1
        samples += _samples_per_frame(hdr["version"], hdr["layer"])
        bitrates.add(hdr["bitrate"])
        has_crc |= hdr["crc"]
        pos += hdr["frame_len"]
    if n_frames == 0:
        return None
    vbr_tag = None
    tag_frames = None
    if xing is not None:
        vbr_tag, tag_frames, _tag_bytes = xing
        vbr_tag = vbr_tag.lower()
    elif vbri is not None:
        vbr_tag = "vbri"
        tag_frames, _tag_bytes = vbri
    # a Xing/Info/VBRI carrier frame holds no audio granules — real
    # players exclude it from duration; so do we
    audio_frames = n_frames - (1 if vbr_tag is not None else 0)
    audio_samples = samples - (
        _samples_per_frame(hdr0["version"], hdr0["layer"])
        if vbr_tag is not None else 0
    )
    vbr = len(bitrates - {hdr0["bitrate"]}) > 0 or vbr_tag in (
        "xing", "vbri"
    )
    v1 = parse_id3v1(b)
    if v1:
        for k, val in v1.items():
            tags.setdefault(k, val)
    return {
        "version": hdr0["version"],
        "layer": hdr0["layer"],
        "sample_rate": hdr0["rate"],
        "channels": hdr0["channels"],
        "n_frames": audio_frames,
        "duration_ms": audio_samples * 1000 // hdr0["rate"],
        "bitrate_kbps": None if vbr else hdr0["bitrate"],
        "vbr": vbr,
        "vbr_tag": vbr_tag,
        "tag_frames": tag_frames,
        "has_crc": has_crc,
        "id3v2_major": id3_major,
        "has_id3v1": v1 is not None,
        "title": tags.get("title"),
        "artist": tags.get("artist"),
        "album": tags.get("album"),
    }


def sniff_mp3(blob: bytes) -> bool:
    """Cheap triage sniff: an ID3v2 prologue, or a confirmed frame
    sync at the head of the buffer (two consecutive valid headers —
    the same refusal :func:`_find_sync` applies, bounded to the
    front so arbitrary binaries with an interior 0xFFE never
    match)."""
    b = bytes(blob or b"")
    if b[:3] == b"ID3":
        return True
    end = min(len(b) - 4, 2)
    for pos in range(0, max(end, 0) + 1):
        hdr = _frame_header(b, pos)
        if hdr is None:
            continue
        after = pos + hdr["frame_len"]
        if after == len(b) or (
            after + 128 == len(b) and b[after:after + 3] == b"TAG"
        ):
            return True
        peer = _frame_header(b, after)
        if peer is not None and peer["version"] == hdr["version"] and (
            peer["layer"] == hdr["layer"]
            and peer["rate"] == hdr["rate"]
        ):
            return True
    return False


# ── fixture encoder ─────────────────────────────────────────────


def _encode_id3v2(tags: dict, major: int = 3,
                  unsync: bool = False) -> bytes:
    """Version-correct unsynchronisation (review catch): v2.2/2.3
    stuff the WHOLE assembled tag (frame sizes count de-stuffed
    bytes); v2.4 stuffs PER FRAME with on-wire syncsafe sizes and
    the frame format-flag bit 0x02 — what real v2.4 writers emit."""
    frames = b""
    ids = _ID3_FRAMES_V22 if major == 2 else _ID3_FRAMES
    rev = {v: k for k, v in ids.items()}
    for key in sorted(tags):
        fid = rev.get(key)
        if fid is None:
            continue
        val = tags[key]
        if major >= 4:
            body = b"\x03" + val.encode("utf-8")
        elif key == "artist":
            body = b"\x01" + val.encode("utf-16")  # BOM'd UTF-16
        else:
            body = b"\x00" + val.encode("latin-1", "replace")
        if major == 2:
            frames += fid.encode() + len(body).to_bytes(3, "big") + body
        elif major >= 4:
            fflags = 0
            if unsync:
                body = body.replace(b"\xff", b"\xff\x00")
                fflags = 0x02
            size = bytes(
                (len(body) >> s) & 0x7F for s in (21, 14, 7, 0)
            )
            frames += fid.encode() + size + bytes([0, fflags]) + body
        else:
            size = len(body).to_bytes(4, "big")
            frames += fid.encode() + size + b"\x00\x00" + body
    flags = 0
    if unsync and major <= 3:
        frames = frames.replace(b"\xff", b"\xff\x00")
        flags |= 0x80
    elif unsync:
        flags |= 0x80  # v2.4: header flag mirrors all-frames unsync
    size = len(frames) + 64  # padding
    ss = bytes((size >> s) & 0x7F for s in (21, 14, 7, 0))
    return (
        b"ID3" + bytes([major, 0, flags]) + ss
        + frames + b"\x00" * 64
    )


def _encode_id3v1(tags: dict) -> bytes:
    def field(key, width):
        return tags.get(key, "").encode("latin-1", "replace")[
            :width
        ].ljust(width, b"\x00")

    return (
        b"TAG" + field("title", 30) + field("artist", 30)
        + field("album", 30) + b"2024" + b"\x00" * 30 + b"\xff"
    )


def encode_mp3(n_frames: int = 30, version: str = "1", layer: int = 3,
               bitrate: int = 128, rate: int = 44_100, mono: bool = True,
               vbr_indices: list | None = None, xing: str | None = None,
               vbri: bool = False, crc: bool = False,
               id3v2: dict | None = None, id3v2_major: int = 3,
               id3v2_unsync: bool = False, id3v1: dict | None = None,
               junk_prefix: int = 0) -> bytes:
    """Structurally valid MPEG-audio file with FAKE frame payloads
    (the triage walk never reads them): correct headers/lengths per
    the spec tables, optional Xing('xing'/'info')/VBRI first frame,
    CBR or per-frame bitrate-index cycling (``vbr_indices``), ID3v2
    prologue / ID3v1 trailer, and optional leading junk (the sync
    scan's job)."""
    group = "1" if version == "1" else "2"
    table = _BITRATES[(group, layer)]
    mode = 3 if mono else 0
    sridx = _SAMPLE_RATES[version].index(rate)
    vbits = {v: k for k, v in _VERSIONS.items()}[version]
    lbits = {v: k for k, v in _LAYERS.items()}[layer]

    def frame(bidx: int, pad: int, fill: int, body: bytes = b""):
        h = (
            (0x7FF << 21) | (vbits << 19) | (lbits << 17)
            | ((0 if crc else 1) << 16) | (bidx << 12)
            | (sridx << 10) | (pad << 9) | (mode << 6)
        )
        br = table[bidx]
        if layer == 1:
            flen = (12 * br * 1000 // rate + pad) * 4
        else:
            flen = (
                _samples_per_frame(version, layer) // 8
                * br * 1000 // rate + pad
            )
        out = bytearray(h.to_bytes(4, "big"))
        if crc:
            out += b"\x00\x00"  # parsed-not-verified (module ADR)
        out += body
        while len(out) < flen:
            out.append((fill * 31 + len(out)) % 251)
        return bytes(out[:flen])

    out = b""
    if id3v2 is not None:
        out += _encode_id3v2(id3v2, id3v2_major, id3v2_unsync)
    out += bytes((junk_prefix * 7 + i) % 251 for i in range(junk_prefix))
    bidx0 = table.index(bitrate)
    if xing is not None:
        body = b"\x00" * _side_info_len(version, mode)
        tag = b"Xing" if xing == "xing" else b"Info"
        # flags 3 = frames+bytes present; byte count unused by the walk
        body += tag + struct.pack(">III", 3, n_frames, 0)
        out += frame(bidx0, 0, 0, body)
    elif vbri:
        body = b"\x00" * 32 + b"VBRI" + struct.pack(
            ">HHHII", 1, 0, 0, 0, n_frames
        )
        out += frame(bidx0, 0, 0, body)
    for i in range(n_frames):
        bidx = (
            vbr_indices[i % len(vbr_indices)]
            if vbr_indices else bidx0
        )
        out += frame(bidx, (i % 3 == 2) if rate == 44_100 else 0, i)
    if id3v1 is not None:
        out += _encode_id3v1(id3v1)
    return out


# ── Spark surface ───────────────────────────────────────────────


MP3_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("version", StringType()),
        StructField("layer", LongType()),
        StructField("sample_rate", LongType()),
        StructField("channels", LongType()),
        StructField("n_frames", LongType()),
        StructField("duration_ms", LongType()),
        StructField("bitrate_kbps", LongType()),
        StructField("vbr", BooleanType()),
        StructField("vbr_tag", StringType()),
        StructField("tag_frames", LongType()),
        StructField("has_crc", BooleanType()),
        StructField("id3v2_major", LongType()),
        StructField("has_id3v1", BooleanType()),
        StructField("title", StringType()),
        StructField("artist", StringType()),
        StructField("album", StringType()),
    ]
)

_MP3_COLS = [f.name for f in MP3_META_SCHEMA.fields]


def mp3_meta(media):
    """Map-only Arrow kernel: one row per parsed MPEG-audio blob —
    version/layer/rate/channels/duration/VBR shape/tags. Non-MP3
    and unsyncable blobs emit nothing (S4). Expects (doc_id, blob)."""
    return MP3.extract(media)


def _meta_kernel(batches):
    """mapInPandas body of :func:`mp3_meta` (module-level so the
    fused composition can reuse it; null blobs S4-skip in-kernel)."""
    import pandas as pd

    for batch in batches:
        rows = []
        for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
            meta = parse_mp3_meta(
                bytes(blob) if blob is not None else b""
            )
            if meta is None:
                continue
            rows.append(
                {"doc_id": int(doc_id),
                 **{k: meta.get(k) for k in _MP3_COLS if k != "doc_id"}}
            )
        yield pd.DataFrame(rows, columns=_MP3_COLS)


def mp3_meta_from_docs(docs):
    """Corpus synthesis + frame walk in ONE Python hop (guide §4.1
    via :mod:`.fuse`) — bit-identical rows to
    ``mp3_meta(synthetic_mp3_corpus(docs).select(...))``."""
    return MP3.from_docs(docs)


def build_mp3_fixture(d: int) -> bytes:
    """One deterministic MPEG-audio file for doc_id ``d`` cycling
    every wire shape the walk handles: d%6 picks CBR MPEG-1 L3 /
    MPEG-2 L3 / Xing-VBR / VBRI / MPEG-1 L2 / MPEG-2.5 L3; tag
    shape rotates ID3v2.2/2.3/2.4 (+unsync) and the ID3v1 trailer;
    every 7th gets leading junk for the sync scan. Pure function of
    the id."""
    tags = (
        {"title": "Track %d" % d, "artist": "Artist %d" % (d % 5),
         "album": "Album %d" % (d % 3)}
        if d % 2 == 0 else None
    )
    major = (2, 3, 4)[d % 3]
    unsync = d % 10 == 4
    v1 = {"title": "V1 %d" % d} if d % 4 == 1 else None
    junk = 37 if d % 7 == 3 else 0
    base = dict(id3v2=tags, id3v2_major=major, id3v2_unsync=unsync,
                id3v1=v1, junk_prefix=junk)
    k = d % 6
    if k == 0:
        return encode_mp3(n_frames=10 + d % 23, bitrate=128,
                          rate=44_100, mono=d % 4 < 2, crc=d % 5 == 0,
                          **base)
    if k == 1:
        return encode_mp3(n_frames=8 + d % 17, version="2",
                          bitrate=64, rate=22_050, **base)
    if k == 2:
        return encode_mp3(n_frames=12 + d % 19, xing="xing",
                          vbr_indices=[3, 5, 7, 9],
                          mono=False, **base)
    if k == 3:
        return encode_mp3(n_frames=9 + d % 13, vbri=True,
                          vbr_indices=[4, 8], **base)
    if k == 4:
        return encode_mp3(n_frames=7 + d % 11, layer=2, bitrate=192,
                          rate=48_000, mono=False, **base)
    return encode_mp3(n_frames=6 + d % 9, version="2.5", bitrate=40,
                      rate=11_025, **base)


def synthetic_mp3_corpus(docs):
    """Deterministic fixture MPEG-audio corpus keyed on doc_id; every
    11th ≡ 7 is non-MP3 garbage (S4-skipped). Same (doc_id, blob,
    media_type) contract as the other corpora."""
    return MP3.corpus(docs)


def _mp3_corpus_kernel(batches):
    """mapInPandas body of :func:`synthetic_mp3_corpus`."""
    import pandas as pd

    for batch in batches:
        blobs, types = [], []
        for doc_id in batch["doc_id"]:
            d = int(doc_id)
            if d % 11 == 7:
                blobs.append(b"\x00\x01 not mpeg audio \xff\xfb")
                types.append("application/octet-stream")
            else:
                blobs.append(build_mp3_fixture(d))
                types.append("audio/mpeg")
        yield pd.DataFrame(
            {"doc_id": batch["doc_id"], "blob": blobs,
             "media_type": types}
        )


MP3 = MediaFamily(MP3_META_SCHEMA, Corpus(_mp3_corpus_kernel), _meta_kernel)


# ── cover art (ID3v2 APIC / v2.2 PIC) ───────────────────────────


def extract_cover_art(blob: bytes | None):
    """The embedded cover image from an MP3's ID3v2 tag — id3.org's
    APIC frame (v2.3/2.4: text-encoding byte, NUL-terminated MIME,
    picture-type byte, encoding-dependent-NUL-terminated description,
    image bytes) or v2.2's PIC (3-char image format instead of MIME).
    Returns (mime, picture_type, image_bytes) for the FIRST picture
    frame, preferring type 3 (front cover), or None. The bytes route
    straight into ``decode_image`` — the mp3 → image composition a
    multimodal corpus wants (every cover is an image sample with
    provenance). Never raises (S4). Shares :func:`_iter_id3_frames`
    with the tag reader (review catch: a second hand-rolled walk had
    already started drifting)."""
    b = bytes(blob or b"")
    frames, major, _total = _id3_frames(b)
    pics = []
    for fid, body in frames:
        if fid not in ("APIC", "PIC") or not body:
            continue
        try:
            enc = body[0]
            if major == 2:
                # PIC: enc(1) + format(3, e.g. 'JPG'/'PNG') + type(1)
                fmt = body[1:4].decode("latin-1").strip().lower()
                mime = {"jpg": "image/jpeg", "png": "image/png"}.get(
                    fmt, "image/" + fmt
                )
                rest = body[4:]
            else:
                nul = body.find(b"\x00", 1)
                if nul < 0:
                    continue
                mime = body[1:nul].decode("latin-1", "replace")
                rest = body[nul + 1:]
            if not rest:
                continue
            pic_type = rest[0]
            rest = rest[1:]
            # description terminator: UTF-16 encodings use 2-byte NULs
            if enc in (1, 2):
                d_end = rest.find(b"\x00\x00")
                # the pair must be 2-byte aligned for UTF-16 units
                while d_end > 0 and d_end % 2:
                    d_end = rest.find(b"\x00\x00", d_end + 1)
                img = rest[d_end + 2:] if d_end >= 0 else b""
                # a BOM'd UTF-16 description of odd half-pairs can
                # leave one stray NUL before the payload
                if img[:1] == b"\x00":
                    img = img[1:]
            else:
                d_end = rest.find(b"\x00")
                img = rest[d_end + 1:] if d_end >= 0 else b""
            if img:
                pics.append((mime, pic_type, bytes(img)))
        except (IndexError, UnicodeDecodeError):
            continue
    if not pics:
        return None
    front = [p for p in pics if p[1] == 3]
    return front[0] if front else pics[0]


def _encode_apic(mime: str, pic_type: int, img: bytes,
                 major: int = 3, desc: str = "cover") -> bytes:
    """Fixture APIC/PIC frame for the encoder tests."""
    if major == 2:
        fmt = {"image/jpeg": b"JPG", "image/png": b"PNG"}.get(
            mime, b"???"
        )
        body = b"\x00" + fmt + bytes([pic_type]) + (
            desc.encode("latin-1") + b"\x00"
        ) + img
        return b"PIC" + len(body).to_bytes(3, "big") + body
    body = b"\x00" + mime.encode("latin-1") + b"\x00" + bytes(
        [pic_type]
    ) + desc.encode("latin-1") + b"\x00" + img
    size = (
        bytes((len(body) >> s) & 0x7F for s in (21, 14, 7, 0))
        if major >= 4 else len(body).to_bytes(4, "big")
    )
    return b"APIC" + size + b"\x00\x00" + body
