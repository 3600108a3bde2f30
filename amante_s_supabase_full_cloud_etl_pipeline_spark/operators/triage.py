"""One-pass media triage — the FIRST thing a real user does with a
mixed 100 TB drop (VERDICT r11 "What's missing" #1 / "Next round"
#1): ONE map-only kernel that magic-sniffs every blob across all the
engine's ~15 families and emits (family, codec, parse health, core
routed metadata), plus a router that attaches the family so a
pipeline can fan rows to the family kernels without knowing
``media_type`` up front.

This module COMPOSES the per-family sniffers/parsers that already
exist — it adds no new format knowledge:

- containers first (a docx IS a zip: office/xlsx kinds out-rank the
  generic archive), then binary magics (images incl. TIFF, RIFF/WAVE,
  fLaC, OggS, ISO-BMFF ``ftyp``, EBML, %PDF), then MPEG-audio
  (ID3 prologue or a two-frame-confirmed sync — placed after every
  other binary magic because a bare 11-bit sync is the weakest
  signature in the set), then text-likes (WARC, WebVTT/SRT,
  mbox/eml);
- ``parseable`` is STRUCTURAL health at triage depth: the family's
  metadata walk accepted the blob (images: header/IFD level; media
  containers: the full container walk each *_meta kernel runs; text:
  the splitter found ≥1 unit). Pixel/PCM-deep health stays with the
  family kernels this router fans to — triage never decodes
  payloads;
- hostile, truncated, or unknown bytes classify as ``unknown`` with
  ``parseable=False`` — never a task death (pinned by the damage
  legs of the golden corpus).

Scale shape: the kernel is map-only (no shuffle), reads each blob
once, and every per-family walk it delegates to carries that
family's own bomb caps. At 100 TB the triage pass is the cheap
scan that SAVES the fleet from shipping every byte to every
family decoder.

Spark surface: :func:`triage_media` (one row per blob),
:func:`attach_family` (blobs + family/codec columns — the router),
and :func:`synthetic_mixed_corpus` (all family fixture corpora
interleaved by doc_id residue — the golden leg's input).
"""

from __future__ import annotations

import struct

from .fuse import BLOB_SCHEMA, corpus_frame

_FAMILY = {
    "bmp": "image", "ppm": "image", "png": "image", "gif": "image",
    "jpeg": "image", "tiff": "image",
    "wav": "audio", "flac": "audio", "mp3": "audio",
    "ogg-vorbis": "audio", "ogg-opus": "audio", "ogg-theora": "video",
    "ogg-unknown": "audio",
    "mp4": "video", "mkv": "video", "webm": "video",
    "pdf": "document", "docx": "document", "pptx": "document",
    "odt": "document", "xlsx": "document",
    "zip": "archive", "tar": "archive", "tar.gz": "archive",
    "warc": "web",
    "srt": "text", "vtt": "text", "eml": "text", "mbox": "text",
    # r13 (VERDICT r12 missing #2): the data-drop formats a real LLM
    # landing prefix is dominated by
    "parquet": "data", "jsonl": "data", "json": "data", "csv": "data",
    "gzip": "archive",
    "txt": "text",
    # r13: HEIF stills are IMAGES (phone-camera default), AVI the
    # legacy RIFF video container
    "heic": "image", "avif": "image",
    "avi": "video",
}

_EMPTY = {
    "family": "unknown", "codec": None, "parseable": False,
    "width": None, "height": None, "duration_ms": None,
    "n_streams": None, "detail": None,
}


def _out(codec, parseable, width=None, height=None, duration_ms=None,
         n_streams=None, detail=None):
    return {
        "family": _FAMILY.get(codec, "unknown"),
        "codec": codec,
        "parseable": bool(parseable),
        "width": width, "height": height,
        "duration_ms": duration_ms, "n_streams": n_streams,
        "detail": detail,
    }


# ── cheap header readers (images the dispatch decodes natively) ──


def _bmp_header(b: bytes):
    # 'BM' is a weak 2-byte magic: demand a known DIB header size
    if len(b) < 26:
        return None
    (dib,) = struct.unpack_from("<I", b, 14)
    if dib not in (12, 40, 52, 56, 64, 108, 124):
        return None
    if dib == 12:
        w, h = struct.unpack_from("<HH", b, 18)
    else:
        w, h = struct.unpack_from("<ii", b, 18)
    return (abs(w), abs(h)) if 0 < abs(w) and 0 < abs(h) else None


def _ppm_header(b: bytes):
    try:
        toks = b[:64].split()
        if toks[0] != b"P6" or len(toks) < 3:
            return None
        return int(toks[1]), int(toks[2])
    except (ValueError, IndexError):
        return None


def _png_header(b: bytes):
    if len(b) < 24 or b[12:16] != b"IHDR":
        return None
    w, h = struct.unpack_from(">II", b, 16)
    return (w, h) if w and h else None


def _gif_header(b: bytes):
    if len(b) < 10:
        return None
    w, h = struct.unpack_from("<HH", b, 6)
    return (w, h) if w and h else None


def _jpeg_sof(b: bytes):
    """(w, h, n_components) from the first SOF0/1/2 marker."""
    pos = 2
    try:
        while pos + 4 <= len(b):
            if b[pos] != 0xFF:
                return None
            marker = b[pos + 1]
            if 0xD0 <= marker <= 0xD8 or marker == 0x01:
                pos += 2
                continue
            (seglen,) = struct.unpack_from(">H", b, pos + 2)
            if marker in (0xC0, 0xC1, 0xC2):
                h, w = struct.unpack_from(">HH", b, pos + 5)
                return w, h, b[pos + 9]
            if marker in (0xDA, 0xD9):
                return None
            pos += 2 + seglen
    except struct.error:
        return None
    return None


def _wav_header(b: bytes):
    """(channels, rate, bits, data_bytes) from the fmt/data chunks —
    header walk only, no sample decode."""
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos = 12
    fmt = None
    data_len = None
    try:
        while pos + 8 <= len(b):
            cid = b[pos:pos + 4]
            (size,) = struct.unpack_from("<I", b, pos + 4)
            if cid == b"fmt " and size >= 16:
                _f, ch, rate, _br, _ba, bits = struct.unpack_from(
                    "<HHIIHH", b, pos + 8
                )
                fmt = (ch, rate, bits)
            elif cid == b"data":
                data_len = min(size, max(0, len(b) - pos - 8))
            pos += 8 + size + (size & 1)
    except struct.error:
        pass
    if fmt is None:
        return None
    return (*fmt, data_len)


# ── the one-pass classifier ─────────────────────────────────────


def triage_blob(blob: bytes | None) -> dict:
    """Classify ONE blob → {family, codec, parseable, width, height,
    duration_ms, n_streams, detail}. Never raises; anything hostile
    or unrecognized is family='unknown'."""
    b = bytes(blob or b"")
    if len(b) < 4:
        return dict(_EMPTY)
    try:
        return _triage(b)
    except Exception:
        # belt over the family parsers' own suspenders: a triage
        # pass over 100 TB of hostile bytes must never kill a task
        return dict(_EMPTY)


def _triage(b: bytes) -> dict:
    # 0) parquet: 4-byte PAR1 magic at BOTH ends + a parseable
    # Thrift-compact footer (bounded walk — sources/parquet_footer).
    # Checked first: nothing else claims the magic, and the footer
    # gives rows×cols for free (the triage answer a data engineer
    # actually wants from a .parquet blob)
    if b[:4] == b"PAR1":
        from ..sources.parquet_footer import parquet_meta

        meta = parquet_meta(b)
        if meta:
            return _out(
                "parquet", True,
                n_streams=meta["n_row_groups"],
                detail="rows=%s cols=%s v=%s" % (
                    meta["num_rows"], meta["n_columns"],
                    meta["version"]),
            )
        return _out("parquet", False)
    # 1) zip-shaped containers: specific kinds out-rank the archive
    if b[:2] == b"PK":
        from ..sources.archives import parse_zip_members, sniff_archive
        from .office import sniff_office

        kind = sniff_office(b)
        if kind is not None:
            return _out(kind, True)
        members = parse_zip_members(b)
        if members and any(
            m["name"] == "xl/workbook.xml" for m in members
        ):
            return _out("xlsx", True, n_streams=len(members))
        if sniff_archive(b) == "zip":
            return _out("zip", members is not None,
                        n_streams=len(members) if members else None)
        return dict(_EMPTY)
    from ..sources.archives import sniff_archive

    arc = sniff_archive(b)
    if arc in ("tar", "tar.gz"):
        from ..sources.archives import archive_member_list

        listed = archive_member_list(b)
        members = listed[1] if listed else None
        if members is not None:
            return _out(arc, True, n_streams=len(members))
        if arc == "tar":
            return _out(arc, False)
        # gzip magic but NOT a tar inside → fall through to the
        # bare-gzip classifier below (r13; sniff_archive's 'tar.gz'
        # is a 2-byte-magic guess, and .txt.gz/.jsonl.gz drops are
        # the common case it mislabeled as broken archives)
    # 1b) BARE gzip (r13): one compressed member that is NOT a tar
    # (sniff_archive already claimed tar.gz above) — the `.txt.gz` /
    # `.jsonl.gz` shape. Wrap-and-recurse: decompress a BUDGETED
    # head (never the whole member — a 10 GB-of-zeros bomb costs the
    # same as a 1 KB note) and classify the inner bytes one level
    # deep; the blob routes as an archive whose detail names the
    # inner codec.
    if b[:3] == b"\x1f\x8b\x08":
        inner = _gzip_head(b)
        if inner is None:
            return _out("gzip", False)
        t = _triage_inner(inner)
        return _out("gzip", True, n_streams=1,
                    detail="inner=%s" % (t["codec"] or "unknown"))
    # 2) image magics (header-level dims; decode stays downstream)
    if b[:2] == b"BM":
        dims = _bmp_header(b)
        if dims:
            return _out("bmp", True, *dims)
    if b[:2] == b"P6":
        dims = _ppm_header(b)
        if dims:
            return _out("ppm", True, *dims)
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        dims = _png_header(b)
        return _out("png", dims is not None, *(dims or (None, None)))
    if b[:4] == b"GIF8":
        dims = _gif_header(b)
        return _out("gif", dims is not None, *(dims or (None, None)))
    if b[:4] in (b"II*\x00", b"MM\x00*"):
        from .tiff import parse_tiff_meta

        meta = parse_tiff_meta(b)
        if meta:
            return _out("tiff", True, meta[0]["width"],
                        meta[0]["height"], n_streams=len(meta),
                        detail="comp=%s" % meta[0]["compression"])
        return _out("tiff", False)
    if b[:2] == b"\xff\xd8":
        sof = _jpeg_sof(b)
        if sof:
            return _out("jpeg", True, sof[0], sof[1],
                        n_streams=sof[2])
        return _out("jpeg", False)
    # 3) RIFF family: AVI video (r13) sniffed by its own form type,
    # then WAVE audio
    if b[:4] == b"RIFF" and b[8:12] == b"AVI ":
        from .avi import parse_avi_meta

        avi = parse_avi_meta(b)
        if avi:
            vid = next(
                (st for st in avi["streams"]
                 if st["type"] == "vids"), {},
            )
            return _out(
                "avi", True, avi["width"], avi["height"],
                duration_ms=avi["duration_ms"],
                n_streams=avi["n_streams"],
                detail="comp=%s frames=%s" % (
                    vid.get("compression") or "-",
                    avi["total_frames"]),
            )
        return _out("avi", False)
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        hdr = _wav_header(b)
        if hdr:
            ch, rate, bits, data_len = hdr
            dur = None
            if rate and ch and bits and data_len:
                dur = data_len * 8000 // (rate * ch * bits)
            return _out("wav", True, duration_ms=dur, n_streams=ch,
                        detail="rate=%d bits=%d" % (rate, bits))
        return _out("wav", False)
    from .flac import sniff_flac

    if sniff_flac(b):
        from .flac import _walk_metadata

        try:
            info, _tags, _pos = _walk_metadata(b)
            dur = None
            if info["sample_rate"] and info["total_samples"]:
                dur = int(
                    info["total_samples"] * 1000
                    // info["sample_rate"]
                )
            return _out("flac", True, duration_ms=dur,
                        n_streams=info["channels"],
                        detail="rate=%d" % info["sample_rate"])
        except Exception:
            return _out("flac", False)
    from .ogg import parse_ogg_meta, sniff_ogg

    if sniff_ogg(b):
        meta = parse_ogg_meta(b)
        if meta:
            first = meta[0]
            dur = max(
                (m["duration_ms"] for m in meta
                 if m["duration_ms"] is not None),
                default=None,
            )
            return _out("ogg-%s" % first["codec"], True,
                        first.get("width"), first.get("height"),
                        duration_ms=dur, n_streams=len(meta))
        return _out("ogg-unknown", False)
    # 4) video containers — but HEIF brands are still IMAGES inside
    # the same ISO-BMFF wrapper (r13): route them by item metadata,
    # not track metadata (a heic has zero tracks and used to triage
    # as a broken-ish mp4)
    if len(b) >= 12 and b[4:8] == b"ftyp":
        from .heif import parse_heif_meta, sniff_heif

        hcodec = sniff_heif(b)
        if hcodec is not None:
            hm = parse_heif_meta(b)
            if hm:
                return _out(
                    hcodec, True, hm["width"], hm["height"],
                    n_streams=hm["n_items"],
                    detail="brand=%s items=%s%s" % (
                        hm["brand"], hm["item_types"] or "-",
                        " rot=%d" % hm["rotation"]
                        if hm["rotation"] else ""),
                )
            # brand says still, but no parseable item structure —
            # fall THROUGH to the movie walk before claiming a
            # broken image (self-review r13: a movie merely LISTING
            # a HEIF compatible brand — motion photos, mixed files
            # — was stolen from the track path and reported as a
            # broken heic; a parse failure on both sides still
            # reports the still codec, keeping the truncated-heif
            # golden rows byte-stable)
        from .mp4 import parse_mp4_meta

        meta = parse_mp4_meta(b)
        # with a HEIF brand present, the movie walk wins only when
        # it finds ACTUAL tracks (motion photos / mixed files); its
        # lenient zero-track parse of a torn still is not a movie
        if meta and (hcodec is None or meta["n_tracks"]):
            v = next(
                (t for t in meta["tracks"]
                 if t.get("width")), None
            )
            return _out("mp4", True,
                        v["width"] if v else None,
                        v["height"] if v else None,
                        duration_ms=meta["duration_ms"],
                        n_streams=meta["n_tracks"],
                        detail="brand=%s frags=%d" % (
                            meta["brand"], meta["n_fragments"]))
        return _out(hcodec or "mp4", False)
    if b[:4] == b"\x1aE\xdf\xa3":
        from .mkv import parse_mkv_meta

        meta = parse_mkv_meta(b)
        if meta:
            v = next(
                (t for t in meta["tracks"] if t.get("width")), None
            )
            codec = "webm" if meta["doctype"] == "webm" else "mkv"
            return _out(codec, True,
                        v["width"] if v else None,
                        v["height"] if v else None,
                        duration_ms=meta["duration_ms"],
                        n_streams=len(meta["tracks"]))
        return _out("mkv", False)
    # 5) documents
    if b[:1024].find(b"%PDF-") >= 0:
        from .pdf import parse_pdf_meta

        meta = parse_pdf_meta(b)
        if meta:
            return _out("pdf", True, n_streams=meta["n_pages"],
                        detail="v%s enc=%d" % (
                            meta["version"],
                            int(meta["encrypted"])))
        return _out("pdf", False)
    # 6) HEAD-ANCHORED MPEG audio: an ID3 prologue or an immediate
    # confirmed frame sync is a strong signature and must out-rank
    # the text sniffs (an mp3 whose tag text QUOTES '-->' or a
    # header-shaped line is still an mp3)
    from .mp3 import parse_mp3_meta, sniff_mp3

    if sniff_mp3(b):
        mp3 = parse_mp3_meta(b)
        if mp3 is not None:
            return _mp3_out(mp3)
        return _out("mp3", False)  # identified, broken
    # 7) text-likes: WARC before email (a WARC record IS RFC-822ish
    # named fields), subtitles after both. These STRONG text
    # prologues out-rank the junk-tolerant interior mp3 sync scan
    # below — a WARC/eml whose PAYLOAD embeds MPEG frames is a web/
    # text blob, not audio (review catch: the deep walk ran first
    # and claimed such blobs)
    if b[:5] == b"WARC/":
        n = b.count(b"WARC/1", 0, 1 << 20)
        return _out("warc", True, n_streams=n)
    from .subtitles import sniff_subtitles

    if b.startswith(b"From "):
        from .email_text import split_mbox

        msgs = split_mbox(b)
        return _out("mbox", bool(msgs), n_streams=len(msgs))
    sub = sniff_subtitles(b)
    if sub == "vtt":
        from .subtitles import parse_vtt

        cues = parse_vtt(b)
        return _out("vtt", bool(cues),
                    n_streams=len(cues) if cues else None)
    if _looks_eml(b):
        return _out("eml", True, n_streams=1)
    if sub == "srt":
        from .subtitles import parse_srt

        cues = parse_srt(b)
        return _out("srt", bool(cues),
                    n_streams=len(cues) if cues else None)
    # 7b) data-drop text formats (r13): JSON/ndjson (a '{'/'[' head
    # whose first lines parse) then delimiter-consistent CSV/TSV.
    # Stronger than the interior mp3 scan (a blob whose head IS
    # well-formed JSON is data even if later bytes alias a sync),
    # weaker than every named text prologue above (a WARC/eml/srt
    # quoting JSON keeps its family).
    data = _json_probe(b)
    if data is not None:
        return data
    data = _csv_probe(b)
    if data is not None:
        return data
    # 8) junk-prefixed MPEG audio, LAST among structured sniffs: the
    # bounded interior sync scan finds streams behind leading
    # garbage the head sniff cannot — ordered after every stronger
    # prologue above
    mp3 = parse_mp3_meta(b)
    if mp3 is not None:
        return _mp3_out(mp3)
    # 9) plain UTF-8 text, the weakest claim of all — AFTER the
    # interior scan (printable junk ahead of real MPEG frames must
    # stay mp3), so 'txt' means "nothing structured matched, but
    # these bytes are clean printable text"
    data = _txt_probe(b)
    if data is not None:
        return data
    return dict(_EMPTY)


#: probe budgets: head-bounded sniffs; full-blob line counts only up
#: to this size (beyond it n_streams stays None — a 10 GB jsonl's
#: triage row must not cost a full scan)
_TEXT_PROBE_HEAD = 64 << 10
_TEXT_COUNT_CAP = 1 << 20


def _text_lines(b: bytes):
    """Non-empty line count, or None past the count budget."""
    if len(b) > _TEXT_COUNT_CAP:
        return None
    return sum(1 for ln in b.split(b"\n") if ln.strip())


def _json_probe(b: bytes):
    import json

    head = b[:_TEXT_PROBE_HEAD]
    first = head.lstrip(b" \t\r\n")[:1]
    if first not in (b"{", b"["):
        return None
    lines = [ln for ln in head.split(b"\n") if ln.strip()]
    if not lines:
        return None

    def parses(raw):
        try:
            json.loads(raw)
            return True
        except (ValueError, UnicodeDecodeError):
            return False

    # ndjson: ≥2 complete head lines, each a JSON document
    if len(lines) >= 2 and (len(head) < len(b) or b.endswith(b"\n")
                            or parses(lines[-1])):
        probe = lines[:3] if len(head) == len(b) else lines[:-1][:3]
        if probe and all(parses(ln) for ln in probe):
            return _out("jsonl", True, n_streams=_text_lines(b))
    # one JSON document (only when the whole blob fits the budget —
    # claiming 'json' from an unparsed tail would be a guess)
    if len(b) <= _TEXT_COUNT_CAP and parses(b):
        return _out(
            "json", True, n_streams=1,
            detail="array" if first == b"[" else "object")
    return None


def _csv_probe(b: bytes):
    head = b[:_TEXT_PROBE_HEAD]
    try:
        text = head.decode("utf-8")
    except UnicodeDecodeError:
        # a cut multi-byte char at the budget edge is not hostile
        try:
            text = head[:-3].decode("utf-8")
        except UnicodeDecodeError:
            return None
    if any(ord(c) < 9 for c in text[:512]):
        return None
    lines = [ln for ln in text.split("\n") if ln.strip()]
    complete = lines if len(head) == len(b) else lines[:-1]
    if len(complete) < 2:
        return None
    for delim, name in ((",", "csv"), ("\t", "tsv")):
        counts = [ln.count(delim) for ln in complete[:5]]
        if counts[0] >= 1 and len(set(counts)) == 1:
            return _out(
                "csv", True, n_streams=_text_lines(b),
                detail="%s cols=%d" % (name, counts[0] + 1))
    return None


def _txt_probe(b: bytes):
    head = b[:4096]
    if len(head) < 16:
        return None
    try:
        text = head.decode("utf-8")
    except UnicodeDecodeError:
        try:
            text = head[:-3].decode("utf-8")
        except UnicodeDecodeError:
            return None
    printable = sum(
        1 for c in text if c.isprintable() or c in "\n\r\t"
    )
    if printable / max(1, len(text)) < 0.97:
        return None
    return _out("txt", True, n_streams=_text_lines(b))


#: decompressed-head budget for bare-gzip classification: bounds BOTH
#: input fed and output produced, so a deflate bomb (GBs of zeros in
#: KBs of input) costs the same as a small note — never more than
#: 1 MiB of memory per blob
_GZ_BUDGET = 1 << 20


def _gzip_head(b: bytes):
    """First ≤ 1 MiB of the decompressed member, or None when the
    deflate stream is broken or truncated. Truncation is decidable
    exactly when the WHOLE input fit the budget: all bytes consumed,
    no output cap hit, yet no stream EOF → the member was cut. Blobs
    larger than the budget classify from their decompressed head
    (we cannot and need not finish them at triage depth)."""
    import zlib

    try:
        d = zlib.decompressobj(wbits=31)
        out = d.decompress(b[:_GZ_BUDGET], _GZ_BUDGET)
    except zlib.error:
        return None
    fed_all = len(b) <= _GZ_BUDGET
    capped = len(out) >= _GZ_BUDGET or bool(d.unconsumed_tail)
    if fed_all and not capped and not d.eof:
        return None  # truncated member (or header-only blob)
    if out == b"" and not d.eof:
        return None
    return out


def _triage_inner(inner: bytes) -> dict:
    """One-level recursion for gzip members: classify the
    decompressed head with the full dispatch, except gz-in-gz stays
    unknown (no unbounded nesting)."""
    if len(inner) < 4 or inner[:3] == b"\x1f\x8b\x08":
        return dict(_EMPTY)
    try:
        return _triage(inner)
    except Exception:
        return dict(_EMPTY)


def _mp3_out(mp3: dict) -> dict:
    return _out("mp3", True,
                duration_ms=mp3["duration_ms"],
                n_streams=mp3["channels"],
                detail="v%s L%d %s" % (
                    mp3["version"], mp3["layer"],
                    mp3["vbr_tag"] or
                    ("vbr" if mp3["vbr"] else "cbr")))


_EML_HEADERS = (b"received:", b"from:", b"subject:", b"message-id:",
                b"date:", b"return-path:", b"to:")


def _looks_eml(b: bytes) -> bool:
    """RFC 5322 shape: the first non-blank line is a header field,
    and a known core header appears in the head. Checked BEFORE the
    srt sniff (an email quoting '-->' must not misroute) but after
    WARC/mbox, whose prologues are stronger."""
    head = b[:4096].lstrip(b"\r\n")
    line = head.split(b"\n", 1)[0]
    if b":" not in line:
        return False
    name = line.split(b":", 1)[0]
    if not name or len(name) > 77 or b" " in name.strip():
        return False
    low = head.lower()
    return any(low.startswith(h) or b"\n" + h in low
               for h in _EML_HEADERS)


# ── Spark surface ───────────────────────────────────────────────

_TRIAGE_COLS = ("doc_id", "family", "codec", "parseable", "width",
                "height", "duration_ms", "n_streams", "detail",
                "byte_length")


def triage_media(media):
    """Map-only Arrow kernel: exactly ONE row per input blob —
    (family, codec, parseable, dims, duration, stream count, detail,
    byte length). Unknown/hostile blobs are rows too (family
    'unknown'), because at triage time "I could not place these
    bytes" is itself the answer. Expects (doc_id, blob)."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BooleanType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("family", StringType()),
            StructField("codec", StringType()),
            StructField("parseable", BooleanType()),
            StructField("width", LongType()),
            StructField("height", LongType()),
            StructField("duration_ms", LongType()),
            StructField("n_streams", LongType()),
            StructField("detail", StringType()),
            StructField("byte_length", LongType()),
        ]
    )

    def kernel(batches):
        import pandas as pd

        for batch in batches:
            rows = []
            for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
                raw = bytes(blob) if blob is not None else b""
                t = triage_blob(raw)
                t["doc_id"] = int(doc_id)
                t["byte_length"] = len(raw)
                rows.append(t)
            yield pd.DataFrame(rows, columns=list(_TRIAGE_COLS))

    return media.filter(F.col("doc_id").isNotNull()).mapInPandas(
        kernel, schema
    )


def attach_family(media):
    """The ROUTER: blobs + (family, codec, parseable) columns in one
    map-only pass, so a pipeline fans to family kernels with plain
    ``.filter(F.col('family') == ...)`` — no prior ``media_type``
    knowledge, no join, no second read of the bytes. Column order:
    original columns first."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        BooleanType,
        StringType,
        StructField,
        StructType,
    )

    in_schema = media.schema
    schema = StructType(
        list(in_schema.fields) + [
            StructField("family", StringType()),
            StructField("codec", StringType()),
            StructField("parseable", BooleanType()),
        ]
    )
    names = [f.name for f in in_schema.fields]

    def kernel(batches):
        for batch in batches:
            fams, codecs, ok = [], [], []
            for blob in batch["blob"]:
                t = triage_blob(
                    bytes(blob) if blob is not None else b""
                )
                fams.append(t["family"])
                codecs.append(t["codec"])
                ok.append(t["parseable"])
            batch = batch[names].copy()
            batch["family"] = fams
            batch["codec"] = codecs
            batch["parseable"] = ok
            yield batch

    return media.filter(F.col("doc_id").isNotNull()).mapInPandas(
        kernel, schema
    )


#: mixed-corpus interleave modulus (r13: 14 → 16 for the data-drop
#: and bare-gzip legs, → 18 for the HEIF-still and AVI legs)
_MIX_MOD = 18


def synthetic_mixed_corpus(docs):
    """EVERY family fixture corpus interleaved by doc_id % 16 — the
    shape of a real mixed drop. Residues: 0 images (all six codecs
    via the image corpus's inner cycle), 1 flac, 2 ogg, 3 mp3,
    4 mp4, 5 mkv, 6 pdf, 7 office, 8 subtitles, 9 email,
    10 archives, 11 wav, 12 warc, 13 hostile/truncated garbage,
    14 data drops (parquet/jsonl/csv/json/txt — r13), 15 bare-gzip
    wraps incl. a budget-probing bomb and a truncated member (r13),
    16 HEIF stills (heic/avif, rotation/Exif items, truncation —
    r13), 17 MJPEG AVIs incl. torn tails (r13).
    Each family corpus ALSO carries its own garbage rows — those
    must triage as 'unknown', never kill the task. Built as a union
    of the existing builders (no new format knowledge), one
    deterministic (doc_id, blob) frame."""
    from pyspark.sql import functions as F

    from ..sources.archives import synthetic_archive_corpus
    from .email_text import synthetic_email_corpus
    from .flac import synthetic_flac_corpus
    from .mkv import synthetic_mkv_corpus
    from .mp3 import synthetic_mp3_corpus
    from .mp4 import synthetic_mp4_corpus
    from .multimodal import synthetic_image_corpus
    from .office import synthetic_office_corpus
    from .ogg import synthetic_ogg_corpus
    from .pdf import synthetic_pdf_corpus
    from .subtitles import synthetic_subtitle_corpus

    ids = docs.select("doc_id")

    def leg(k, builder):
        # densify ids for the builder (0,1,2,...) so each family's
        # INNER wire-shape cycle is fully covered — feeding raw
        # ids ≡ k (mod 16) would alias the builders' own moduli
        # (16 is even, so an images leg would never see the odd
        # mod-8 residues that select ppm/jpeg/tiff) — then restore
        # the original id so rows stay globally unique
        dense = ids.filter(F.col("doc_id") % _MIX_MOD == k).select(
            ((F.col("doc_id") - k) / _MIX_MOD).cast("long")
            .alias("doc_id")
        )
        out = builder(dense).select("doc_id", "blob")
        return out.select(
            (F.col("doc_id") * _MIX_MOD + k).alias("doc_id"), "blob"
        )

    legs = [
        leg(0, synthetic_image_corpus),
        leg(1, synthetic_flac_corpus),
        leg(2, synthetic_ogg_corpus),
        leg(3, synthetic_mp3_corpus),
        leg(4, synthetic_mp4_corpus),
        leg(5, synthetic_mkv_corpus),
        leg(6, synthetic_pdf_corpus),
        leg(7, synthetic_office_corpus),
        leg(8, synthetic_subtitle_corpus),
        leg(9, synthetic_email_corpus),
        leg(10, synthetic_archive_corpus),
        leg(11, _wav_corpus),
        leg(12, _warc_corpus),
        leg(13, _garbage_corpus),
        leg(14, _data_corpus),
        leg(15, _gzip_corpus),
        leg(16, _heif_corpus),
        leg(17, _avi_leg_corpus),
    ]
    out = legs[0]
    for other in legs[1:]:
        out = out.unionByName(other)
    return out

def _wav_corpus(ids):
    def kernel(batches):
        import numpy as np
        import pandas as pd

        from .multimodal import encode_wav_pcm16

        for batch in batches:
            blobs = []
            for doc_id in batch["doc_id"]:
                d = int(doc_id)
                n = 400 + d % 800
                t = np.arange(n)
                x = np.sin(2 * np.pi * t / (20 + d % 30))
                blobs.append(encode_wav_pcm16(
                    (x * 12000).astype("<i2"),
                    sample_rate=(8000, 16000, 44100)[d % 3],
                ))
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"], "blob": blobs}
            )

    return corpus_frame(ids, kernel, BLOB_SCHEMA)


def _warc_corpus(ids):
    def kernel(batches):
        import pandas as pd

        for batch in batches:
            blobs = []
            for doc_id in batch["doc_id"]:
                d = int(doc_id)
                recs = b""
                for i in range(1 + d % 3):
                    body = (
                        b"HTTP/1.1 200 OK\r\n"
                        b"Content-Type: text/html\r\n\r\n"
                        b"<html>doc %d rec %d</html>" % (d, i)
                    )
                    recs += (
                        b"WARC/1.1\r\n"
                        b"WARC-Type: response\r\n"
                        b"WARC-Record-ID: <urn:mix:%d:%d>\r\n"
                        b"WARC-Date: 2026-01-01T00:00:00Z\r\n"
                        b"WARC-Target-URI: http://ex.test/%d\r\n"
                        b"Content-Type: application/http\r\n"
                        b"Content-Length: %d\r\n\r\n"
                        % (d, i, d, len(body))
                    ) + body + b"\r\n\r\n"
                blobs.append(recs)
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"], "blob": blobs}
            )

    return corpus_frame(ids, kernel, BLOB_SCHEMA)


def _garbage_corpus(ids):
    def kernel(batches):
        import pandas as pd

        from .flac import encode_flac
        from .mp3 import build_mp3_fixture

        for batch in batches:
            blobs = []
            for doc_id in batch["doc_id"]:
                d = int(doc_id)
                k = d % 5
                if k == 0:
                    blobs.append(b"")
                elif k == 1:
                    blobs.append(
                        bytes((d * 31 + i) % 251 for i in range(200))
                    )
                elif k == 2:
                    # truncated real container: magic survives,
                    # structure does not
                    blobs.append(build_mp3_fixture(d + 2)[:3])
                elif k == 3:
                    # fLaC magic survives, STREAMINFO does not
                    full = encode_flac(
                        [[(i * 3) % 65 - 32 for i in range(64)]]
                    )
                    blobs.append(full[:20])
                else:
                    blobs.append(b"\xff" * 64)
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"], "blob": blobs}
            )

    return corpus_frame(ids, kernel, BLOB_SCHEMA)


def _data_corpus(ids):
    """Data-drop leg (r13): deterministic parquet / jsonl / csv /
    json / txt blobs cycling d % 5. Parquet bytes come from pyarrow
    (the INDEPENDENT real-world writer — the triage footer walk in
    sources/parquet_footer.py shares no code with it, so the pin is
    not a round-trip self-confirmation); the rest are hand-formatted
    text. Every second parquet (d % 10 == 5) is truncated mid-file
    with the magic re-attached (parseable False — the hostile
    variant the golden pins) and every second txt (d % 10 == 9) is a
    bare '{'-prefixed non-JSON (must stay txt, never 'json')."""

    def kernel(batches):
        import io
        import json as _json

        import pandas as pd
        import pyarrow as pa
        import pyarrow.parquet as _pq

        for batch in batches:
            blobs = []
            for doc_id in batch["doc_id"]:
                d = int(doc_id)
                k = d % 5
                if k == 0:
                    n = 3 + d % 7
                    table = pa.table({
                        "id": list(range(n)),
                        "val": [(d * 31 + i) % 97 / 10 for i in range(n)],
                        "tag": ["t%d" % ((d + i) % 4) for i in range(n)],
                    })
                    buf = io.BytesIO()
                    _pq.write_table(
                        table, buf,
                        row_group_size=max(1, n // (1 + d % 3)),
                    )
                    blob = buf.getvalue()
                    if d % 10 == 5:
                        # truncated footer, magic intact at both ends
                        blob = blob[: len(blob) // 2] + b"PAR1"
                    blobs.append(blob)
                elif k == 1:
                    blobs.append(b"".join(
                        _json.dumps(
                            {"id": d * 100 + i,
                             "text": "doc %d line %d" % (d, i)},
                            sort_keys=True,
                        ).encode() + b"\n"
                        for i in range(2 + d % 6)
                    ))
                elif k == 2:
                    rows = [b"id,name,score"] + [
                        b"%d,n%d,%d" % (i, (d + i) % 9, (d * i) % 100)
                        for i in range(2 + d % 5)
                    ]
                    blobs.append(b"\n".join(rows) + b"\n")
                elif k == 3:
                    blobs.append(_json.dumps(
                        {"doc": d,
                         "vals": [(d + i) % 11 for i in range(6)],
                         "meta": {"kind": "mix", "ok": True}},
                        sort_keys=True,
                    ).encode())
                else:
                    if d % 10 == 9:
                        # '{'-prefixed NON-json: probe must reject
                        blobs.append(
                            b"{not json at all, line %d\n"
                            b"and a second line}\n" % d
                        )
                    else:
                        blobs.append(
                            ("note %d\nplain text body line one\n"
                             "line two with more words\n" % d)
                            .encode()
                        )
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"], "blob": blobs}
            )

    return corpus_frame(ids, kernel, BLOB_SCHEMA)


def _gzip_corpus(ids):
    """Bare-gzip leg (r13): d % 4 → 0 gz-jsonl, 1 gz-txt,
    2 truncated member (parseable False), 3 a deflate bomb —
    64 MiB of zeros in ~64 KB of input; the classifier must spend
    only its 1 MiB budget on it (inner classifies 'unknown': a page
    of NULs is not text)."""

    def kernel(batches):
        import gzip as _gzip
        import json as _json

        import pandas as pd

        for batch in batches:
            blobs = []
            for doc_id in batch["doc_id"]:
                d = int(doc_id)
                k = d % 4
                if k == 0:
                    inner = b"".join(
                        _json.dumps({"id": d, "i": i},
                                    sort_keys=True).encode() + b"\n"
                        for i in range(3 + d % 4)
                    )
                elif k == 1:
                    inner = ("gz note %d\nsecond line\n" % d).encode()
                elif k == 2:
                    inner = b"x" * 64
                else:
                    inner = b"\x00" * (64 << 20)
                # mtime=0: deterministic bytes (the golden pins
                # byte_length)
                blob = _gzip.compress(inner, compresslevel=9, mtime=0)
                if k == 2:
                    blob = blob[:12]  # header survives, data does not
                blobs.append(blob)
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"], "blob": blobs}
            )

    return corpus_frame(ids, kernel, BLOB_SCHEMA)


def _heif_corpus(ids):
    """HEIF-still leg (r13): heic/avif cycling rotation and Exif
    items; d % 5 == 4 truncates inside meta (identified, not
    parseable). Delegates to the family module's corpus builder."""
    from .heif import synthetic_heif_corpus

    return synthetic_heif_corpus(ids)


def _avi_leg_corpus(ids):
    from .avi import synthetic_avi_corpus

    return synthetic_avi_corpus(ids)
