"""Subtitle ingestion — SRT and WebVTT cues as timed text rows
(charter extension, SURVEY.md §2.10; reference analog: none).

Subtitles are the highest-value text a video corpus carries: timed,
aligned transcripts. The two formats a crawl meets are SubRip
(``.srt`` — numbered blocks, ``HH:MM:SS,mmm --> HH:MM:SS,mmm``) and
WebVTT (the W3C spec — ``WEBVTT`` signature, dot-millisecond
timestamps with OPTIONAL hours, NOTE/STYLE/REGION blocks, cue
settings after the arrow, ``<c>``/``<v Speaker>`` markup). Both are
line-oriented text parsed leniently here (real subtitle files are
overwhelmingly hand-edited and slightly wrong):

- a cue with an unparseable timing line is SKIPPED, its neighbors
  survive (the per-member analog of the S4 row contract);
- markup tags are stripped (``<v Name>`` keeps the speaker as a
  ``Name: `` prefix — the transcript semantics a reader sees);
- encodings: UTF-8 (BOM tolerated) with a latin-1 fallback, the
  real-world subtitle encoding story;
- caps on cue count and text bytes.

:func:`subtitle_text` is the Arrow kernel: one row per cue with
``start_ms``/``end_ms`` — ready for as-of joins against the
keyframe timestamps the mp4/mkv kernels emit (sampled frame ↔
transcript alignment, the paired-data shape a multimodal training
pipeline wants).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from .fuse import Corpus, MediaFamily

_MAX_CUES = 1 << 17
_MAX_TEXT_BYTES = 1 << 22

#: SRT: comma milliseconds, hours required.
_SRT_TIME = re.compile(
    r"(\d{1,3}):(\d{2}):(\d{2})[,.](\d{1,3})"
)
#: VTT: dot milliseconds, hours OPTIONAL.
_VTT_TIME = re.compile(
    r"(?:(\d{1,3}):)?(\d{2}):(\d{2})\.(\d{3})"
)
_ARROW = re.compile(r"-->")
_TAG = re.compile(r"<[^>\n]*>")
_VOICE = re.compile(r"<v(?:\.[^ >]*)?\s+([^>]+)>")


def _decode(blob: bytes) -> str:
    if blob[:3] == b"\xef\xbb\xbf":
        blob = blob[3:]
    try:
        return blob.decode("utf-8")
    except UnicodeDecodeError:
        return blob.decode("latin-1")


def _srt_ts(m) -> int:
    h, mi, s, ms = m.groups()
    return ((int(h) * 60 + int(mi)) * 60 + int(s)) * 1000 + int(
        ms.ljust(3, "0")
    )


def _vtt_ts(m) -> int:
    h, mi, s, ms = m.groups()
    return ((int(h or 0) * 60 + int(mi)) * 60 + int(s)) * 1000 + int(ms)


def _clean_text(lines: list) -> str:
    out = []
    for line in lines:
        # <v Speaker> keeps the speaker as a transcript prefix
        line = _VOICE.sub(lambda m: m.group(1) + ": ", line)
        line = _TAG.sub("", line)
        out.append(line.rstrip())
    return "\n".join(out).strip()


def _timing(line: str, time_re, to_ms):
    """Parse one timing line STRICTLY: the token before the arrow
    and the first token after it must each FULLMATCH the stamp
    regex — an unanchored search would silently mis-parse an
    out-of-range field ('120:00.000' reading as 20 minutes, review
    catch). Returns (start_ms, end_ms) or None (cue skipped)."""
    lhs, _, rhs = line.partition("-->")
    ltok = lhs.strip().split()
    rtok = rhs.strip().split()
    if not ltok or not rtok:
        return None
    m1 = time_re.fullmatch(ltok[-1])
    m2 = time_re.fullmatch(rtok[0])
    if m1 is None or m2 is None:
        return None
    return to_ms(m1), to_ms(m2)


#: blocks separate on blank OR whitespace-only lines — hand-edited
#: files leave stray spaces on separators (review catch)
_BLOCK_SPLIT = re.compile(r"\r?\n[ \t]*\r?\n+")

_VTT_COMMENT = re.compile(r"(WEBVTT|NOTE|STYLE|REGION)(\s|$)")


def _parse_cues(text: str, time_re, to_ms, vtt: bool) -> list[dict]:
    """ONE cue loop for both dialects (they differ only in stamp
    syntax and comment blocks — a copy-paste twin drifted two bugs
    apart in review)."""
    out = []
    budget = _MAX_TEXT_BYTES
    for block in _BLOCK_SPLIT.split(text.strip()):
        lines = block.splitlines()
        if not lines:
            continue
        ti = next(
            (i for i, ln in enumerate(lines) if "-->" in ln), None
        )
        if ti is None:
            continue
        if vtt and _VTT_COMMENT.match(lines[0].strip()) and ti != 1:
            # a comment/style block (the spec forbids '-->' in
            # comments, but CSS can contain it — a real CUE under a
            # keyword-prefixed id has its timing on line 1)
            continue
        timing = _timing(lines[ti], time_re, to_ms)
        if timing is None:
            continue  # broken stamps: skip this cue, keep neighbors
        body = _clean_text(lines[ti + 1:])
        if not body:
            continue
        budget -= len(body.encode("utf-8", "ignore"))  # BYTES cap
        if budget < 0 or len(out) >= _MAX_CUES:
            break
        out.append(
            {"cue_idx": len(out), "start_ms": timing[0],
             "end_ms": timing[1], "text": body}
        )
    return out


def parse_srt(blob: bytes | None) -> list[dict] | None:
    """SubRip cues. Returns None for undecodable/empty input (S4);
    cues with broken timing lines are skipped, neighbors survive."""
    if not blob:
        return None
    text = _decode(blob)
    if "-->" not in text:
        return None
    out = _parse_cues(text, _SRT_TIME, _srt_ts, vtt=False)
    return out if out else None


def parse_vtt(blob: bytes | None) -> list[dict] | None:
    """WebVTT cues: signature required; NOTE/STYLE/REGION blocks
    and cue settings ignored; optional cue identifiers handled."""
    if not blob:
        return None
    text = _decode(blob)
    if not text.lstrip().startswith("WEBVTT"):
        return None
    out = _parse_cues(text, _VTT_TIME, _vtt_ts, vtt=True)
    return out if out else None


def sniff_subtitles(blob: bytes) -> str | None:
    if not blob:
        return None
    head = blob[:512].lstrip(b"\xef\xbb\xbf \r\n")
    if head.startswith(b"WEBVTT"):
        return "vtt"
    if b"-->" in blob[:4096]:
        return "srt"
    return None


SUBTITLE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("kind", StringType()),
        StructField("cue_idx", LongType()),
        StructField("start_ms", LongType()),
        StructField("end_ms", LongType()),
        StructField("text", StringType()),
    ]
)

_SUB_COLS = [f.name for f in SUBTITLE_SCHEMA.fields]


def _cue_kernel(batches):
    """mapInPandas body of :func:`subtitle_text` (module-level so the
    fused composition can reuse it; null blobs S4-skip in-kernel)."""
    import pandas as pd

    for batch in batches:
        rows = []
        for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
            b = bytes(blob) if blob is not None else b""
            kind = sniff_subtitles(b)
            if kind is None:
                continue
            cues = parse_vtt(b) if kind == "vtt" else parse_srt(b)
            if not cues:
                continue
            for c in cues:
                rows.append(
                    {"doc_id": int(doc_id), "kind": kind, **c}
                )
        yield pd.DataFrame(rows, columns=_SUB_COLS)


def subtitle_text(media: DataFrame) -> DataFrame:
    """One row per cue with millisecond timing — as-of-joinable
    against the keyframe timestamps the mp4/mkv kernels emit.
    Non-subtitle blobs emit nothing (S4). Expects (doc_id, blob)."""
    return SUBTITLES.extract(media)


def subtitle_text_from_docs(docs: DataFrame) -> DataFrame:
    """Corpus synthesis + cue parse in ONE Python hop (guide §4.1
    via :mod:`.fuse`) — bit-identical rows to
    ``subtitle_text(synthetic_subtitle_corpus(docs).select(...))``."""
    return SUBTITLES.from_docs(docs)


def _srt_stamp(ms: int) -> str:
    return "%02d:%02d:%02d,%03d" % (
        ms // 3600000, ms // 60000 % 60, ms // 1000 % 60, ms % 1000
    )


def _vtt_stamp(ms: int, hours: bool) -> str:
    if hours:
        return "%02d:%02d:%02d.%03d" % (
            ms // 3600000, ms // 60000 % 60, ms // 1000 % 60,
            ms % 1000
        )
    return "%02d:%02d.%03d" % (ms // 60000, ms // 1000 % 60, ms % 1000)


def build_srt(doc_id: int) -> bytes:
    """One deterministic SRT file for doc_id: cue count/timing/text
    keyed on the id; cycles BOM (d%5==0), CRLF (d%3==0), dot-millis
    stamps (d%5==1), an UNPARSEABLE timing block every d%7==3 (its
    neighbors must survive — the per-member S4 contract), italic
    markup, and a latin-1 encoding leg (d%13==5)."""
    d = doc_id
    n = 2 + d % 4
    blocks = []
    t = 1000 * (1 + d % 9)
    for i in range(n):
        start, end = t, t + 900 + 10 * (d % 7)
        t = end + 200
        stamp = "%s --> %s" % (_srt_stamp(start), _srt_stamp(end))
        if d % 5 == 1:
            stamp = stamp.replace(",", ".")  # tolerated variant
        if d % 7 == 3 and i == 1:
            stamp = "not a timing line at all"
        text = "Cue %d-%d spoken line." % (d, i)
        if i == 0 and d % 4 == 2:
            text = "<i>%s</i>" % text
        if d % 13 == 5:
            text = "Café %s" % text
        blocks.append("%d\n%s\n%s" % (i + 1, stamp, text))
    body = "\n\n".join(blocks) + "\n"
    if d % 3 == 0:
        body = body.replace("\n", "\r\n")
    enc = "latin-1" if d % 13 == 5 else "utf-8"
    out = body.encode(enc, "replace")
    if d % 5 == 0:
        out = b"\xef\xbb\xbf" + out
    return out


def build_vtt(doc_id: int) -> bytes:
    """One deterministic WebVTT file: NOTE/STYLE blocks, optional
    hours (d%3==1 drops them), cue settings after the arrow, voice
    spans (speaker kept as a prefix), class tags, cue identifiers."""
    d = doc_id
    n = 2 + d % 3
    parts = ["WEBVTT"]
    if d % 5 == 2:
        parts.append("STYLE\n::cue { color: lime }")
    parts.append("NOTE synthetic fixture %d" % d)
    hours = d % 3 != 1
    t = 500 * (1 + d % 11)
    for i in range(n):
        start, end = t, t + 1100 + 10 * (d % 5)
        t = end + 150
        stamp = "%s --> %s" % (
            _vtt_stamp(start, hours), _vtt_stamp(end, hours)
        )
        if i == 0 and d % 4 == 1:
            stamp += " align:start position:10%"
        text = "Vtt cue %d-%d transcript text." % (d, i)
        if i == 0 and d % 6 == 2:
            text = "<v Speaker %d>%s</v>" % (d % 3, text)
        elif i == 1 and d % 6 == 4:
            text = "<c.yellow>%s</c>" % text
        block = "%s\n%s" % (stamp, text)
        if d % 8 == 5:
            block = "cue-%d-%d\n%s" % (d, i, block)  # identifier
        parts.append(block)
    return ("\n\n".join(parts) + "\n").encode("utf-8")


def _subtitle_corpus_kernel(batches):
    """mapInPandas body of :func:`synthetic_subtitle_corpus`."""
    import pandas as pd

    for batch in batches:
        blobs, types = [], []
        for doc_id in batch["doc_id"]:
            d = int(doc_id)
            if d % 11 == 7:
                blobs.append(b"\x00\x01 not subtitles at all")
                types.append("application/octet-stream")
            elif d % 2 == 0:
                blobs.append(build_srt(d))
                types.append("application/x-subrip")
            else:
                blobs.append(build_vtt(d))
                types.append("text/vtt")
        yield pd.DataFrame(
            {"doc_id": batch["doc_id"], "blob": blobs,
             "media_type": types}
        )


def synthetic_subtitle_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic fixture subtitle files keyed on doc_id: d%2
    cycles SRT/WebVTT across every wire shape the parser handles;
    every 11th ≡ 7 is non-subtitle garbage (S4-skipped). Same
    (doc_id, blob, media_type) contract as the other corpora."""
    return SUBTITLES.corpus(docs)


SUBTITLES = MediaFamily(
    SUBTITLE_SCHEMA, Corpus(_subtitle_corpus_kernel), _cue_kernel
)
