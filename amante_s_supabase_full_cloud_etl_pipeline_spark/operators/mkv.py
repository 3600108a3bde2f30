"""Matroska / WebM (EBML) container layer — the OTHER half of the
web-video corpus next to :mod:`.mp4` (charter extension, SURVEY.md
§2.10; reference analog: none).

Everything here is public structure: RFC 8794 (EBML — the varint
element framing) plus the Matroska element registry (the DocType's
published schema; the element IDs below are that registry's, cited
inline). As with MP4, what a 100 TB corpus needs first is the
container walk — duration, track layout, codec IDs, dimensions —
and the KEYFRAME geometry that lets a pipeline ship sampled
keyframes instead of whole files: SimpleBlock keyframe flags,
BlockGroup reference semantics (no ReferenceBlock ⇒ random-access
point), and the Cues index (Matroska's ``sidx`` analog: seek
timestamps → cluster byte positions). Codec BITSTREAM decode
(VP8/VP9/AV1/Opus) stays gated by the same ADR as H.264 — fixed
probability tables a clean-room build cannot verify offline.

Shapes held:

- :func:`parse_mkv_meta` — EBML header (DocType webm/matroska,
  versions), Segment Info (TimestampScale, Duration, MuxingApp),
  Tracks (number, type, CodecID, video dims, audio rate/channels,
  DefaultDuration), cluster and cue counts. Unknown-size Segment
  (the live-streaming shape: VINT_DATA all ones) reads to EOF;
  unknown-size Clusters terminate at the next top-level element.
  Truncated/non-EBML bytes → None (S4); depth/element/track/block
  caps make hostile blobs cost O(caps).
- :func:`mkv_keyframe_ranges` — every-k-th keyframe as the byte
  range of its frame payload: SimpleBlocks via the keyframe flag
  (MSB of the flags byte), Block-in-BlockGroup via the absence of a
  ReferenceBlock sibling; absolute timestamps from cluster time +
  the block's signed 16-bit relative time, scaled by
  TimestampScale. Laced blocks (flags & 0x06) are emitted as one
  whole-payload range with ``laced=1`` — exact, never guessed
  frame boundaries.
- :func:`mkv_cues` — the seek index: CuePoint time/track/cluster
  position rows, positions VALIDATED against the actual Cluster
  element offsets (a lying index is flagged, not trusted).
- :func:`mkv_meta` / :func:`sample_mkv_keyframes` — Arrow
  ``mapInPandas`` kernels mirroring the mp4 kernels' schemas.
- :func:`encode_mkv` — deterministic fixture encoder (EBML writer:
  proper vint sizes, header + Info + Tracks + timestamped Clusters
  with flagged SimpleBlocks + a generated Cues index); hand-built
  byte fixtures in tests/test_mkv.py keep the parser honest
  against the published layouts rather than against this encoder.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from .fuse import Corpus, Factory, MediaFamily

_MAX_DEPTH = 16
_MAX_ELEMENTS = 1 << 20
_MAX_TRACKS = 64
# blocks are elements, so _MAX_ELEMENTS bounds them too — no
# separate block cap (a larger one would be dead code)
_MAX_CUES = 1 << 18

# Matroska element IDs (public registry; stored ID bytes including
# the length marker, as they appear on the wire)
EBML = 0x1A45DFA3
DOCTYPE = 0x4282
EBML_VERSION = 0x4286
SEGMENT = 0x18538067
SEEKHEAD = 0x114D9B74
INFO = 0x1549A966
TIMESTAMP_SCALE = 0x2AD7B1
DURATION = 0x4489
MUXING_APP = 0x4D80
WRITING_APP = 0x5741
TITLE = 0x7BA9
TRACKS = 0x1654AE6B
TRACK_ENTRY = 0xAE
TRACK_NUMBER = 0xD7
TRACK_UID = 0x73C5
TRACK_TYPE = 0x83
CODEC_ID = 0x86
CODEC_PRIVATE = 0x63A2
DEFAULT_DURATION = 0x23E383
VIDEO = 0xE0
PIXEL_WIDTH = 0xB0
PIXEL_HEIGHT = 0xBA
AUDIO = 0xE1
SAMPLING_FREQUENCY = 0xB5
CHANNELS = 0x9F
CLUSTER = 0x1F43B675
CLUSTER_TIMESTAMP = 0xE7
SIMPLE_BLOCK = 0xA3
BLOCK_GROUP = 0xA0
BLOCK = 0xA1
REFERENCE_BLOCK = 0xFB
CUES = 0x1C53BB6B
CUE_POINT = 0xBB
CUE_TIME = 0xB3
CUE_TRACK_POSITIONS = 0xB7
CUE_TRACK = 0xF7
CUE_CLUSTER_POSITION = 0xF1
VOID = 0xEC
CRC32 = 0xBF
CHAPTERS = 0x1043A770
TAGS = 0x1254C367
ATTACHMENTS = 0x1941A469

#: elements that legally follow an unknown-size Cluster at segment
#: level — the terminator set for the unknown-size scan
_TOP_LEVEL = {SEEKHEAD, INFO, TRACKS, CLUSTER, CUES, CHAPTERS, TAGS,
              ATTACHMENTS}

#: track types (registry): 1 video, 2 audio, 17 subtitle
_TRACK_TYPES = {1: "video", 2: "audio", 3: "complex", 16: "logo",
                17: "subtitle", 18: "buttons", 32: "control",
                33: "metadata"}


class _Truncated(Exception):
    """Cut short / not EBML → S4 skip (None)."""


class _Bomb(_Truncated):
    """Resource cap tripped — refuse the whole blob (subclasses
    _Truncated; tolerant handlers must re-raise it first)."""


def _read_vint(blob: bytes, p: int, keep_marker: bool,
               allow_unknown: bool = True):
    """RFC 8794 §4: the leading zero bits of the first byte give
    the total width; IDs keep the marker bit, sizes strip it.
    All-ones DATA means 'unknown size' (-1) — but ONLY for element
    sizes: a (Simple)Block's track-number vint may legally be
    all-ones (track 127 as 0xFF), so those callers pass
    ``allow_unknown=False`` (review catch)."""
    if p >= len(blob):
        raise _Truncated("vint eof")
    first = blob[p]
    if first == 0:
        raise _Truncated("vint > 8 bytes")
    width = 8 - first.bit_length() + 1
    if p + width > len(blob):
        raise _Truncated("vint eof")
    if keep_marker:
        val = int.from_bytes(blob[p:p + width], "big")
    else:
        val = first & ((1 << (8 - width)) - 1)
        for i in range(1, width):
            val = (val << 8) | blob[p + i]
        if allow_unknown and val == (1 << (7 * width)) - 1:
            val = -1  # unknown size
    return val, p + width


def _scan_unknown_end(blob: bytes, start: int, end: int,
                      counter: list) -> int:
    """RFC 8794 §6.2: an unknown-size element (in practice a
    streaming Cluster) ends where the next element that is NOT a
    valid child begins — here, the next top-level Matroska ID."""
    p = start
    while p < end:
        counter[0] += 1
        if counter[0] > _MAX_ELEMENTS:
            raise _Bomb("element cap")
        hdr = p
        try:
            eid, q = _read_vint(blob, p, keep_marker=True)
            size, q = _read_vint(blob, q, keep_marker=False)
        except _Truncated:
            return p
        if eid in _TOP_LEVEL:
            return hdr
        if size == -1 or q + size > end:
            return end
        p = q + size
    return end


def _elements(blob: bytes, start: int, end: int, depth: int,
              counter: list):
    """Yield (element_id, payload_start, payload_end, header_start)
    over [start, end). Unknown-size Segments extend to the range
    end; unknown-size elements BELOW that (streaming Clusters) get
    their end resolved by the §6.2 terminator scan so the walk
    continues past them."""
    if depth > _MAX_DEPTH:
        raise _Bomb("depth cap")
    p = start
    while p < end:
        counter[0] += 1
        if counter[0] > _MAX_ELEMENTS:
            raise _Bomb("element cap")
        hdr = p
        eid, p = _read_vint(blob, p, keep_marker=True)
        size, p = _read_vint(blob, p, keep_marker=False)
        if size == -1:
            if eid == SEGMENT:
                yield eid, p, end, hdr
                return
            stop = _scan_unknown_end(blob, p, end, counter)
            yield eid, p, stop, hdr
            p = stop
            continue
        if p + size > end:
            raise _Truncated("element past range")
        yield eid, p, p + size, hdr
        p += size


def _uint(blob: bytes, s: int, e: int) -> int:
    if e - s > 8:
        raise _Truncated("uint too wide")
    return int.from_bytes(blob[s:e], "big")


def _float(blob: bytes, s: int, e: int) -> float:
    n = e - s
    if n == 4:
        return struct.unpack(">f", blob[s:e])[0]
    if n == 8:
        return struct.unpack(">d", blob[s:e])[0]
    if n == 0:
        return 0.0
    raise _Truncated("float width")


def _string(blob: bytes, s: int, e: int) -> str:
    return blob[s:e].split(b"\x00")[0].decode("utf-8", "replace")


def _segment_range(blob: bytes, counter: list):
    """Locate the (first) Segment payload range; validates the EBML
    header and returns (doctype, version, seg_start, seg_end)."""
    doctype = None
    version = None
    seg = None
    for eid, s, e, _h in _elements(blob, 0, len(blob), 0, counter):
        if eid == EBML:
            for cid, cs, ce, _ in _elements(blob, s, e, 1, counter):
                if cid == DOCTYPE:
                    doctype = _string(blob, cs, ce)
                elif cid == EBML_VERSION:
                    version = _uint(blob, cs, ce)
        elif eid == SEGMENT:
            seg = (s, e)
            break
    if doctype is None or seg is None:
        raise _Truncated("no EBML header / Segment")
    return doctype, version if version is not None else 1, seg


def _cluster_children(blob: bytes, s: int, e: int, counter: list):
    """Children of a Cluster; the payload range was already
    terminator-resolved by :func:`_elements` for the unknown-size
    shape, so this is a plain bounded walk."""
    return _elements(blob, s, e, 2, counter)


def _walk_track(blob: bytes, s: int, e: int, counter: list) -> dict:
    tr = {
        "track_id": 0, "type": None, "codec": None,
        "width": None, "height": None,
        "sample_rate": None, "channels": None,
        "default_duration_ns": None,
    }
    for cid, cs, ce, _ in _elements(blob, s, e, 3, counter):
        if cid == TRACK_NUMBER:
            tr["track_id"] = _uint(blob, cs, ce)
        elif cid == TRACK_TYPE:
            tr["type"] = _TRACK_TYPES.get(
                _uint(blob, cs, ce), str(_uint(blob, cs, ce))
            )
        elif cid == CODEC_ID:
            tr["codec"] = _string(blob, cs, ce)
        elif cid == DEFAULT_DURATION:
            tr["default_duration_ns"] = _uint(blob, cs, ce)
        elif cid == VIDEO:
            for vid, vs, ve, _ in _elements(blob, cs, ce, 4, counter):
                if vid == PIXEL_WIDTH:
                    tr["width"] = _uint(blob, vs, ve)
                elif vid == PIXEL_HEIGHT:
                    tr["height"] = _uint(blob, vs, ve)
        elif cid == AUDIO:
            for aid, as_, ae, _ in _elements(blob, cs, ce, 4, counter):
                if aid == SAMPLING_FREQUENCY:
                    tr["sample_rate"] = _float(blob, as_, ae)
                elif aid == CHANNELS:
                    tr["channels"] = _uint(blob, as_, ae)
    return tr


def parse_mkv_meta(blob: bytes | None) -> dict | None:
    """Container triage of one Matroska/WebM blob; None for
    non-EBML / truncated / bomb bytes (S4)."""
    if not blob or len(blob) < 8:
        return None
    try:
        counter = [0]
        doctype, version, (ss, se) = _segment_range(blob, counter)
        scale = 1_000_000  # default TimestampScale: 1 ms in ns
        duration_ticks = None
        muxing_app = None
        title = None
        tracks = []
        n_clusters = 0
        n_blocks = 0
        n_cues = 0
        for eid, s, e, _h in _elements(blob, ss, se, 1, counter):
            if eid == INFO:
                for cid, cs, ce, _ in _elements(blob, s, e, 2, counter):
                    if cid == TIMESTAMP_SCALE:
                        scale = _uint(blob, cs, ce) or scale
                    elif cid == DURATION:
                        duration_ticks = _float(blob, cs, ce)
                    elif cid == MUXING_APP:
                        muxing_app = _string(blob, cs, ce)
                    elif cid == TITLE:
                        title = _string(blob, cs, ce)
            elif eid == TRACKS:
                for cid, cs, ce, _ in _elements(blob, s, e, 2, counter):
                    if cid == TRACK_ENTRY:
                        if len(tracks) >= _MAX_TRACKS:
                            raise _Bomb("track cap")
                        tracks.append(
                            _walk_track(blob, cs, ce, counter)
                        )
            elif eid == CLUSTER:
                n_clusters += 1
                for cid, cs, ce, _ in _cluster_children(
                    blob, s, e, counter
                ):
                    if cid in (SIMPLE_BLOCK, BLOCK_GROUP):
                        n_blocks += 1
            elif eid == CUES:
                for cid, cs, ce, _ in _elements(blob, s, e, 2, counter):
                    if cid == CUE_POINT:
                        n_cues += 1
                        if n_cues > _MAX_CUES:
                            raise _Bomb("cue cap")
        duration_ms = None
        if duration_ticks is not None:
            duration_ms = int(duration_ticks * scale / 1_000_000)
        return {
            "doctype": doctype,
            "ebml_version": version,
            "timestamp_scale_ns": scale,
            "duration_ms": duration_ms,
            "muxing_app": muxing_app,
            "title": title,
            "n_tracks": len(tracks),
            "n_clusters": n_clusters,
            "n_blocks": n_blocks,
            "n_cues": n_cues,
            "tracks": tracks,
        }
    except _Truncated:
        return None
    except (ValueError, struct.error, MemoryError, OverflowError):
        return None


def _block_header(blob: bytes, s: int, e: int):
    """Parse a (Simple)Block header: track vint, signed 16-bit
    relative timestamp, flags byte; returns
    (track, rel_ts, flags, payload_start) or None if malformed."""
    try:
        track, p = _read_vint(blob, s, keep_marker=False,
                              allow_unknown=False)
    except _Truncated:
        return None
    if p + 3 > e:
        return None
    rel = struct.unpack(">h", blob[p:p + 2])[0]
    flags = blob[p + 2]
    return track, rel, flags, p + 3


def mkv_keyframe_ranges(blob: bytes | None, every: int = 1) -> list:
    """Every ``every``-th keyframe per track as the byte range of
    its frame payload (plus timestamp). SimpleBlock: keyframe flag
    = MSB of flags. Block in a BlockGroup: keyframe iff the group
    carries NO ReferenceBlock. Laced payloads ship whole with
    laced=1. Corrupt blobs → [] (S4)."""
    if not blob or len(blob) < 8:
        return []
    try:
        counter = [0]
        _doctype, _v, (ss, se) = _segment_range(blob, counter)
        # ONE walk (review catch: a scale pre-pass re-ran the full
        # cluster scan): collect raw ticks, capture the scale when
        # Info appears (any position), apply it when emitting
        scale = 1_000_000
        raw = []  # (track, ticks, offset, size, laced)
        kf_seen: dict = {}
        for eid, s, e, _h in _elements(blob, ss, se, 1, counter):
            if eid == INFO:
                for cid, cs, ce, _ in _elements(blob, s, e, 2, counter):
                    if cid == TIMESTAMP_SCALE:
                        scale = _uint(blob, cs, ce) or scale
                continue
            if eid != CLUSTER:
                continue
            cluster_ts = 0
            for cid, cs, ce, _hb in _cluster_children(
                blob, s, e, counter
            ):
                if cid == CLUSTER_TIMESTAMP:
                    cluster_ts = _uint(blob, cs, ce)
                    continue
                if cid == SIMPLE_BLOCK:
                    h = _block_header(blob, cs, ce)
                    if h is None:
                        continue
                    track, rel, flags, payload = h
                    if not flags & 0x80:
                        continue
                elif cid == BLOCK_GROUP:
                    block = None
                    has_ref = False
                    for gid, gs, ge, _ in _elements(
                        blob, cs, ce, 3, counter
                    ):
                        if gid == BLOCK:
                            block = (gs, ge)
                        elif gid == REFERENCE_BLOCK:
                            has_ref = True
                    if block is None or has_ref:
                        continue
                    cs, ce = block
                    h = _block_header(blob, cs, ce)
                    if h is None:
                        continue
                    track, rel, flags, payload = h
                else:
                    continue
                k = kf_seen.get(track, 0)
                kf_seen[track] = k + 1
                if k % every:
                    continue
                raw.append(
                    (track, cluster_ts + rel, payload, ce - payload,
                     int(bool(flags & 0x06)))
                )
        return [
            {
                "track_id": track,
                "timestamp_ms": int(ticks * scale / 1_000_000),
                "offset": offset,
                "size": size,
                "laced": laced,
            }
            for track, ticks, offset, size, laced in raw
        ]
    except _Truncated:
        return []
    except (ValueError, struct.error, MemoryError, OverflowError):
        return []


def mkv_cues(blob: bytes | None) -> list:
    """The Cues seek index: (time_ms, track, cluster_position,
    position_valid) rows. ``cluster_position`` is relative to the
    Segment payload start (the registry's CueClusterPosition
    semantics); ``position_valid`` checks it lands on an actual
    Cluster element header — a lying index is FLAGGED, not
    trusted. Corrupt blobs → []."""
    if not blob or len(blob) < 8:
        return []
    try:
        counter = [0]
        _doctype, _v, (ss, se) = _segment_range(blob, counter)
        scale = 1_000_000
        cluster_offsets = set()
        pending = []  # (time_ticks, track, pos) judged after pass 1
        for eid, s, e, hdr in _elements(blob, ss, se, 1, counter):
            if eid == INFO:
                for cid, cs, ce, _ in _elements(blob, s, e, 2, counter):
                    if cid == TIMESTAMP_SCALE:
                        scale = _uint(blob, cs, ce) or scale
            elif eid == CLUSTER:
                cluster_offsets.add(hdr - ss)
            elif eid == CUES:
                for cid, cs, ce, _ in _elements(blob, s, e, 2, counter):
                    if cid != CUE_POINT:
                        continue
                    t = None
                    entries = []
                    for pid, ps, pe, _ in _elements(
                        blob, cs, ce, 3, counter
                    ):
                        if pid == CUE_TIME:
                            t = _uint(blob, ps, pe)
                        elif pid == CUE_TRACK_POSITIONS:
                            track = None
                            pos = None
                            for qid, qs, qe, _ in _elements(
                                blob, ps, pe, 4, counter
                            ):
                                if qid == CUE_TRACK:
                                    track = _uint(blob, qs, qe)
                                elif qid == CUE_CLUSTER_POSITION:
                                    pos = _uint(blob, qs, qe)
                            entries.append((track, pos))
                    for track, pos in entries:
                        pending.append((t, track, pos))
                    if len(pending) > _MAX_CUES:
                        raise _Bomb("cue cap")
        # judge positions AFTER the whole segment walk: in the
        # web-optimized layout the Cues element PRECEDES the
        # clusters, and judging in document order would flag every
        # honest position (review catch)
        return [
            {
                "time_ms": int((t or 0) * scale / 1_000_000),
                "track_id": track or 0,
                "cluster_position": pos if pos is not None else -1,
                "position_valid": int(pos in cluster_offsets),
            }
            for t, track, pos in pending
        ]
    except _Truncated:
        return []
    except (ValueError, struct.error, MemoryError, OverflowError):
        return []


# ── fixture encoder ─────────────────────────────────────────────


def _enc_vint_id(eid: int) -> bytes:
    return eid.to_bytes((eid.bit_length() + 7) // 8, "big")


def _enc_vint_size(val: int) -> bytes:
    """Size vint: smallest width whose data bits hold ``val``
    (avoiding the all-ones 'unknown' pattern)."""
    for width in range(1, 9):
        if val < (1 << (7 * width)) - 1:
            out = val | (1 << (7 * width))
            return out.to_bytes(width, "big")
    raise ValueError("size too large")


def _el(eid: int, payload: bytes) -> bytes:
    return _enc_vint_id(eid) + _enc_vint_size(len(payload)) + payload


def _el_uint(eid: int, val: int) -> bytes:
    n = max(1, (val.bit_length() + 7) // 8)
    return _el(eid, val.to_bytes(n, "big"))


def _el_float(eid: int, val: float) -> bytes:
    return _el(eid, struct.pack(">d", val))


def _el_str(eid: int, val: str) -> bytes:
    return _el(eid, val.encode("utf-8"))


def encode_mkv(
    tracks: list,
    clusters: list,
    *,
    doctype: str = "webm",
    timestamp_scale: int = 1_000_000,
    duration_ticks: float | None = None,
    title: str | None = None,
    with_cues: bool = True,
    unknown_size_clusters: bool = False,
) -> bytes:
    """Deterministic fixture Matroska/WebM. ``tracks``: dicts with
    track_id/type('video'|'audio')/codec + dims or rate/channels.
    ``clusters``: dicts with ``timestamp`` (ticks) and ``blocks``:
    (track_id, rel_ts, keyframe, payload[, ref]) tuples — ``ref``
    True wraps the block in a BlockGroup WITH a ReferenceBlock (a
    delta frame), keyframe blocks in groups get none.
    ``unknown_size_clusters`` emits the live-streaming shape (size
    vint all-ones) the §6.2 terminator scan handles."""
    header = _el(
        EBML,
        _el_uint(EBML_VERSION, 1)
        + _el_uint(0x42F7, 1)       # EBMLReadVersion
        + _el_uint(0x42F2, 4)       # EBMLMaxIDLength
        + _el_uint(0x42F3, 8)       # EBMLMaxSizeLength
        + _el_str(DOCTYPE, doctype)
        + _el_uint(0x4287, 4)       # DocTypeVersion
        + _el_uint(0x4285, 2),      # DocTypeReadVersion
    )
    info = _el_uint(TIMESTAMP_SCALE, timestamp_scale)
    if duration_ticks is not None:
        info += _el_float(DURATION, duration_ticks)
    info += _el_str(MUXING_APP, "amante-fixtures")
    info += _el_str(WRITING_APP, "amante-fixtures")
    if title is not None:
        info += _el_str(TITLE, title)
    info = _el(INFO, info)

    tr_payload = b""
    for t in tracks:
        entry = _el_uint(TRACK_NUMBER, t["track_id"])
        entry += _el_uint(TRACK_UID, t.get("uid", t["track_id"]))
        entry += _el_uint(
            TRACK_TYPE, 1 if t["type"] == "video" else 2
        )
        entry += _el_str(CODEC_ID, t.get("codec", "V_VP9"))
        if t.get("default_duration_ns"):
            entry += _el_uint(
                DEFAULT_DURATION, t["default_duration_ns"]
            )
        if t["type"] == "video":
            entry += _el(
                VIDEO,
                _el_uint(PIXEL_WIDTH, t.get("width", 640))
                + _el_uint(PIXEL_HEIGHT, t.get("height", 360)),
            )
        else:
            entry += _el(
                AUDIO,
                _el_float(
                    SAMPLING_FREQUENCY, t.get("sample_rate", 48000.0)
                )
                + _el_uint(CHANNELS, t.get("channels", 2)),
            )
        tr_payload += _el(TRACK_ENTRY, entry)
    tracks_el = _el(TRACKS, tr_payload)

    def block_bytes(track_id, rel, keyframe, payload):
        tb = _enc_vint_size(track_id)  # track number is a DATA vint
        return tb + struct.pack(">h", rel) + bytes(
            [0x80 if keyframe else 0x00]
        ) + payload

    cluster_els = []
    cue_entries = []  # (time_ticks, track, position_rel_to_seg)
    seg_body_fixed = info + tracks_el
    pos = len(seg_body_fixed)
    for c in clusters:
        body = _el_uint(CLUSTER_TIMESTAMP, c["timestamp"])
        first_kf_time = None
        first_kf_track = None
        for blk in c["blocks"]:
            track_id, rel, keyframe, payload = blk[:4]
            as_group = len(blk) > 4 and blk[4]
            bb = block_bytes(track_id, rel, keyframe, payload)
            if as_group:
                group = _el(BLOCK, bb)
                if not keyframe:
                    group += _el_uint(REFERENCE_BLOCK, 1)
                body += _el(BLOCK_GROUP, group)
            else:
                body += _el(SIMPLE_BLOCK, bb)
            if keyframe and first_kf_time is None:
                first_kf_time = c["timestamp"] + rel
                first_kf_track = track_id
        if unknown_size_clusters:
            el = (_enc_vint_id(CLUSTER)
                  + b"\xff"  # 1-byte all-ones size vint: unknown
                  + body)
        else:
            el = _el(CLUSTER, body)
        if first_kf_time is not None:
            cue_entries.append((first_kf_time, first_kf_track, pos))
        pos += len(el)
        cluster_els.append(el)

    cues_el = b""
    if with_cues and cue_entries:
        cp = b""
        for t, track, position in cue_entries:
            cp += _el(
                CUE_POINT,
                _el_uint(CUE_TIME, max(0, t))
                + _el(
                    CUE_TRACK_POSITIONS,
                    _el_uint(CUE_TRACK, track)
                    + _el_uint(CUE_CLUSTER_POSITION, position),
                ),
            )
        cues_el = _el(CUES, cp)

    segment_body = seg_body_fixed + b"".join(cluster_els) + cues_el
    return header + _el(SEGMENT, segment_body)


# ── Spark kernels ───────────────────────────────────────────────

MKV_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("doctype", StringType()),
        StructField("duration_ms", LongType()),
        StructField("timestamp_scale_ns", LongType()),
        StructField("n_tracks", LongType()),
        StructField("n_clusters", LongType()),
        StructField("n_blocks", LongType()),
        StructField("n_cues", LongType()),
        StructField("track_idx", LongType()),
        StructField("track_id", LongType()),
        StructField("track_type", StringType()),
        StructField("codec", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("sample_rate", LongType()),
        StructField("channels", LongType()),
    ]
)

MKV_KEYFRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("track_id", LongType()),
        StructField("timestamp_ms", LongType()),
        StructField("offset", LongType()),
        StructField("size", LongType()),
        StructField("laced", LongType()),
        StructField("payload_crc32", LongType()),
    ]
)

_MKV_META_COLS = [f.name for f in MKV_META_SCHEMA.fields]
_MKV_KF_COLS = [f.name for f in MKV_KEYFRAME_SCHEMA.fields]


def mkv_meta(media: DataFrame) -> DataFrame:
    """One row per TRACK (long format, movie-level fields repeated —
    the mp4_meta shape). Corrupt blobs emit nothing (S4)."""

    def kernel(batches):
        import pandas as pd

        for batch in batches:
            rows = []
            for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
                meta = parse_mkv_meta(
                    bytes(blob) if blob is not None else None
                )
                if meta is None:
                    continue
                for idx, tr in enumerate(meta["tracks"]):
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "doctype": meta["doctype"],
                            "duration_ms": meta["duration_ms"],
                            "timestamp_scale_ns": meta[
                                "timestamp_scale_ns"
                            ],
                            "n_tracks": meta["n_tracks"],
                            "n_clusters": meta["n_clusters"],
                            "n_blocks": meta["n_blocks"],
                            "n_cues": meta["n_cues"],
                            "track_idx": idx,
                            "track_id": tr["track_id"],
                            "track_type": tr["type"],
                            "codec": tr["codec"],
                            "width": tr["width"],
                            "height": tr["height"],
                            "sample_rate": (
                                int(tr["sample_rate"])
                                if tr["sample_rate"] is not None
                                else None
                            ),
                            "channels": tr["channels"],
                        }
                    )
            yield pd.DataFrame(rows, columns=_MKV_META_COLS)

    return media.filter(
        F.col("doc_id").isNotNull() & F.col("blob").isNotNull()
    ).mapInPandas(kernel, MKV_META_SCHEMA)


def sample_mkv_keyframes(media: DataFrame, every: int = 1) -> DataFrame:
    """Every ``every``-th keyframe per track as (offset, size) + a
    CRC32 of the payload the range slices (the proof the range
    landed on the frame). Corrupt blobs emit nothing (S4)."""
    return MKV_KEYFRAMES.extract(media, every)


def _keyframe_kernel(every: int):
    """mapInPandas body factory for :func:`sample_mkv_keyframes`."""

    def kernel(batches):
        import zlib

        import pandas as pd

        for batch in batches:
            rows = []
            for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
                b = bytes(blob) if blob is not None else None
                for r in mkv_keyframe_ranges(b, every):
                    payload = b[r["offset"]:r["offset"] + r["size"]]
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "track_id": r["track_id"],
                            "timestamp_ms": r["timestamp_ms"],
                            "offset": r["offset"],
                            "size": r["size"],
                            "laced": r["laced"],
                            "payload_crc32": zlib.crc32(payload),
                        }
                    )
            yield pd.DataFrame(rows, columns=_MKV_KF_COLS)

    return kernel


def mkv_keyframes_from_docs(
    docs: DataFrame, every: int = 1, n_clusters: int = 4
) -> DataFrame:
    """Corpus synthesis + keyframe sampling in ONE Python hop (guide
    §4.1 via :mod:`.fuse`) — bit-identical rows to
    ``sample_mkv_keyframes(synthetic_mkv_corpus(docs).select(...),
    every)``."""
    return MKV_KEYFRAMES.from_docs(docs, (n_clusters,), (every,))


def synthetic_mkv_corpus(docs: DataFrame, n_clusters: int = 4) -> DataFrame:
    """Deterministic fixture WebM/Matroska keyed on doc_id: a VP9
    video track (+ Opus audio on even docs), every-3rd video frame
    a keyframe, BlockGroup form on d % 4 == 2, unknown-size
    (streaming-shape) clusters on d % 5 == 3, matroska doctype on
    d % 7 == 1, a Cues index except d % 6 == 5. Same
    (doc_id, blob, media_type) contract as the other corpora."""
    return MKV_KEYFRAMES.corpus(docs, n_clusters)


def _mkv_corpus_kernel(n_clusters: int):
    """mapInPandas body factory for :func:`synthetic_mkv_corpus`."""

    def kernel(batches):
        import pandas as pd

        for batch in batches:
            blobs = []
            for doc_id in batch["doc_id"]:
                d = int(doc_id)
                tracks = [
                    {"track_id": 1, "type": "video",
                     "codec": "V_VP9", "width": 320 + d % 8 * 16,
                     "height": 180 + d % 5 * 18,
                     "default_duration_ns": 33_000_000},
                ]
                if d % 2 == 0:
                    tracks.append(
                        {"track_id": 2, "type": "audio",
                         "codec": "A_OPUS",
                         "sample_rate": 48000.0, "channels": 2}
                    )
                clusters = []
                fidx = 0
                for c in range(n_clusters):
                    blocks = []
                    for i in range(6):
                        kf = fidx % 3 == 0
                        payload = bytes(
                            [(d + fidx) % 256]
                        ) * (18 + (d + fidx) % 22)
                        blocks.append(
                            (1, i * 33, kf, payload, d % 4 == 2)
                        )
                        fidx += 1
                    if d % 2 == 0:
                        blocks.append(
                            (2, 5, True,
                             bytes([(d * 3 + c) % 256]) * 10)
                        )
                    clusters.append(
                        {"timestamp": c * 200, "blocks": blocks}
                    )
                blobs.append(
                    encode_mkv(
                        tracks, clusters,
                        doctype=(
                            "matroska" if d % 7 == 1 else "webm"
                        ),
                        duration_ticks=float(n_clusters * 200),
                        title="mkv %d" % d,
                        with_cues=d % 6 != 5,
                        unknown_size_clusters=d % 5 == 3,
                    )
                )
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"], "blob": blobs,
                 "media_type": ["video/webm"] * len(blobs)}
            )

    return kernel


MKV_KEYFRAMES = MediaFamily(
    MKV_KEYFRAME_SCHEMA,
    Corpus(Factory(_mkv_corpus_kernel), fan_out=True),
    Factory(_keyframe_kernel),
)
