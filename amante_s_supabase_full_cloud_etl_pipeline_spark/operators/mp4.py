"""MP4 / ISO-BMFF container metadata and keyframe sampling — the
video leg of the multimodal family (charter extension, SURVEY.md
§2.10; reference analog: none — ref main.py handles tabular blobs
only).

What a 100 TB video corpus needs FIRST is not a codec: it is the
container walk — duration, track layout, codec fourcc, frame count,
and the keyframe byte-ranges that let a pipeline ship ONLY the
sampled sync frames to a downstream decoder instead of whole files.
All of that is pure public-spec structure (ISO/IEC 14496-12 box
grammar; the box layouts below cite the section they implement), and
all of it runs here as map-only Arrow kernels over opaque ``binary``
columns — no codec library, no JVM round-trips, no shuffle.

Scope (mirrors the ADR that gates WebP/arithmetic-JPEG in
:mod:`.multimodal`): H.264/H.265/AAC BITSTREAM decode stays gated —
a codec needs fixed probability/transform tables a clean-room build
cannot verify offline, and :func:`decode_mp4_samples` raises a loud
NotImplementedError naming the gate. The container layer is complete
and real:

- :func:`parse_mp4_meta` — bounded box walker: ``ftyp`` brand,
  ``mvhd`` movie duration (versions 0 AND 1), per-``trak`` handler /
  codec fourcc / visual dimensions / sample count (``stts``) /
  keyframe count (``stss``; absent ⇒ every sample is sync, §8.6.2) /
  track duration (``mdhd``), 64-bit ``largesize`` headers and
  ``co64`` offsets. Truncated or non-BMFF bytes → ``None`` (the S4
  skip contract every other media parser here follows), never an
  exception; depth / box-count / track / sample-count bomb caps make
  a hostile blob cost O(caps), not O(claimed).
- :func:`keyframe_byte_ranges` — resolves every-k-th SYNC sample to
  its absolute (offset, size) byte range via the §8.7 sample tables
  (``stsc`` chunk mapping × ``stco``/``co64`` chunk offsets ×
  ``stsz`` sizes) — hand-derivable, and pinned in tests by CRCs of
  the actual payload bytes the ranges slice.
- **Fragmented MP4** (§8.8 — the DASH / streaming-camera layout):
  both walks fold ``moof``/``traf``/``trun`` runs with the full
  defaults-inheritance chain (per-sample > first-sample-flags >
  ``tfhd`` > ``trex``), base offsets per §8.8.7 (explicit,
  default-base-is-moof, or first-traf default — a later traf with
  neither is ambiguous and refuses), runs without a data offset
  continuing after the previous run, sample numbering and the
  every-k cadence continuous across fragments, and movie/track
  durations falling back to ``mehd`` / summed fragment durations
  when the moov headers carry 0 (the normal fMP4 shape).
- **Edit lists** (§8.6.5-8.6.6, r10): ``edts``/``elst`` v0/v1 —
  a non-zero segment total REDEFINES the track's presentation
  duration, ``media_start_ms`` reports the presentation trim, and
  keyframe selection is edit-aware: sync samples before the first
  non-empty edit's media_time never ship as keyframes or consume
  the every-k cadence (placed via the stts expansion for
  progressive tracks, via a decode clock accumulating trun
  durations across moof boundaries for fragmented ones; a trim with
  no timing to place against refuses). A zero-entry list is an
  identity edit; a zero segment total (the CMAF moov-before-
  duration shape) leaves the computed duration alone.
- **Segment index** (§8.16.3, r10): :func:`mp4_segment_index` —
  validated per-subsegment byte ranges + durations + SAP flags from
  the top-level ``sidx`` (v0/v1, ``first_offset`` honored,
  hierarchical references flagged, ranges past the blob refuse) —
  the DASH addressing a ranged reader uses to fetch one subsegment
  without scanning the file.
- :func:`mp4_meta` / :func:`sample_mp4_keyframes` — the Arrow
  ``mapInPandas`` kernels (one row per track / per sampled
  keyframe), partition-sized upstream like every media kernel here
  (:func:`.multimodal.documents_as_media` budgeting applies).
- :func:`encode_mp4` — the deterministic fixture encoder (ftyp +
  mdat + moov with correct cross-referencing sample tables) used by
  the synthetic corpus and the round-trip tests; byte-level
  hand-built fixtures in tests/test_mp4.py keep the parser honest
  against the spec rather than against this encoder.
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

#: bomb caps: a hostile blob can CLAIM anything; we never allocate
#: or loop past these. Generous against real files: a 2-hour movie
#: at 30 fps is ~216k samples per track, and an hour of 2-second
#: DASH segments is ~9k boxes (moof+mfhd+traf+tfhd+trun+mdat per
#: fragment) — the box cap must clear that by orders of magnitude
#: (review catch: 4096 silently dropped a 700-fragment capture).
_MAX_DEPTH = 8
_MAX_BOXES = 1 << 20
_MAX_TRACKS = 64
_MAX_SAMPLES = 1 << 22  # 4M samples per track
_MAX_STTS_ENTRIES = 1 << 16
_MAX_STSC_ENTRIES = 1 << 16

#: containers the metadata walk recurses into (§4.2: a container
#: box's payload is a sequence of boxes). edts (§8.6.5) holds the
#: edit list that shifts media time to presentation time — r10.
_CONTAINERS = {b"moov", b"trak", b"edts", b"mdia", b"minf", b"stbl"}


class _Truncated(Exception):
    """Internal: structure runs past the blob / a box lies about its
    size. Callers convert to the None (S4 skip) contract."""


class _Bomb(_Truncated):
    """A resource CAP tripped (box count, depth, sample count).
    Distinct from byte truncation because the tolerant top-level
    walk may keep boxes parsed before a truncated TAIL, but a cap
    trip must refuse the whole blob — keeping a partial prefix of a
    bomb would report silently wrong metadata."""


def _u8(b, o):
    if o + 1 > len(b):
        raise _Truncated()
    return b[o]


def _u16(b, o):
    if o + 2 > len(b):
        raise _Truncated()
    return struct.unpack_from(">H", b, o)[0]


def _u32(b, o):
    if o + 4 > len(b):
        raise _Truncated()
    return struct.unpack_from(">I", b, o)[0]


def _u64(b, o):
    if o + 8 > len(b):
        raise _Truncated()
    return struct.unpack_from(">Q", b, o)[0]


def _walk(blob: bytes, start: int, end: int, depth: int, counter: list):
    """Yield (type, payload_start, payload_end, box_start) for each
    box in [start, end). §4.2 header: u32 size, 4CC type; size==1 →
    u64 largesize follows; size==0 → box extends to the END of the
    enclosing scope (legal only for the last box). box_start is the
    first byte of the HEADER — §8.8.7 fragment data offsets are
    relative to it, so payload_start alone is not enough."""
    if depth > _MAX_DEPTH:
        raise _Bomb()
    o = start
    while o < end:
        counter[0] += 1
        if counter[0] > _MAX_BOXES:
            raise _Bomb()
        size = _u32(blob, o)
        btype = blob[o + 4:o + 8]
        if len(btype) < 4:
            raise _Truncated()
        header = 8
        if size == 1:
            size = _u64(blob, o + 8)
            header = 16
        elif size == 0:
            size = end - o
        if size < header or o + size > end:
            raise _Truncated()
        yield btype, o + header, o + size, o
        o += size


def _boxes(blob, start, end, depth, counter):
    return list(_walk(blob, start, end, depth, counter))


def _fullbox(blob, s):
    """§4.2 FullBox: u8 version + 24-bit flags prepended."""
    return _u8(blob, s), _u32(blob, s) & 0xFFFFFF, s + 4


def _duration_or_none(duration, bits):
    """§8.2.2.3: all-ones duration = "unknown" (live captures whose
    muxer could not know the length) — surface None, not ~83 days."""
    return None if duration == (1 << bits) - 1 else duration


def _parse_mvhd(blob, s, e):
    v, _, o = _fullbox(blob, s)
    # reads are bounded by the BOX end, not just the blob end — an
    # undersized box must refuse, not read its sibling's bytes
    if v == 1:  # §8.2.2: 64-bit creation/modification/duration
        if o + 28 > e:
            raise _Truncated()
        timescale = _u32(blob, o + 16)
        duration = _duration_or_none(_u64(blob, o + 20), 64)
    else:
        if o + 16 > e:
            raise _Truncated()
        timescale = _u32(blob, o + 8)
        duration = _duration_or_none(_u32(blob, o + 12), 32)
    return timescale, duration


def _parse_mdhd(blob, s, e):
    v, _, o = _fullbox(blob, s)
    if v == 1:
        if o + 28 > e:
            raise _Truncated()
        timescale = _u32(blob, o + 16)
        duration = _duration_or_none(_u64(blob, o + 20), 64)
    else:
        if o + 16 > e:
            raise _Truncated()
        timescale = _u32(blob, o + 8)
        duration = _duration_or_none(_u32(blob, o + 12), 32)
    return timescale, duration


def _parse_hdlr(blob, s, e):
    _, _, o = _fullbox(blob, s)
    # §8.4.3: u32 pre_defined, 4CC handler_type
    if o + 8 > e:
        raise _Truncated()
    return blob[o + 4:o + 8].decode("latin-1")


def _parse_stsd(blob, s, e, counter):
    """First sample entry's 4CC = the codec; visual entries carry
    width/height at §12.1.3's fixed offsets (16 reserved/pre_defined
    bytes after the 8-byte SampleEntry base)."""
    v, _, o = _fullbox(blob, s)
    if o + 4 > e:
        raise _Truncated()
    n = _u32(blob, o)
    if n == 0:
        return None, None, None
    entries = _boxes(blob, o + 4, e, _MAX_DEPTH, counter)
    if not entries:
        raise _Truncated()
    etype, es, ee = entries[0][:3]
    codec = etype.decode("latin-1")
    width = height = None
    # VisualSampleEntry needs 8 (base) + 16 + 2 + 2 bytes minimum
    if ee - es >= 28:
        w = _u16(blob, es + 24)
        h = _u16(blob, es + 26)
        if 0 < w <= 1 << 14 and 0 < h <= 1 << 14:
            width, height = w, h
    return codec, width, height


def _parse_stts(blob, s, e):
    """§8.6.1.2 decoding-time table → total sample count."""
    _, _, o = _fullbox(blob, s)
    if o + 4 > e:
        raise _Truncated()
    n = _u32(blob, o)
    if n > _MAX_STTS_ENTRIES or o + 4 + n * 8 > e:
        raise _Truncated()
    total = 0
    for i in range(n):
        total += _u32(blob, o + 4 + i * 8)
    if total > _MAX_SAMPLES:
        raise _Truncated()
    return total


def _stts_durations(blob, s, e):
    """§8.6.1.2 decoding-time table → per-sample duration list (media
    timescale) — the expansion the elst trim needs to place the
    presentation start on a sample. Same caps as :func:`_parse_stts`
    (entry count byte-backed, total samples ≤ _MAX_SAMPLES)."""
    _, _, o = _fullbox(blob, s)
    if o + 4 > e:
        raise _Truncated()
    n = _u32(blob, o)
    if n > _MAX_STTS_ENTRIES or o + 4 + n * 8 > e:
        raise _Truncated()
    durs: list[int] = []
    for i in range(n):
        count = _u32(blob, o + 4 + i * 8)
        if len(durs) + count > _MAX_SAMPLES:
            raise _Truncated()
        durs.extend([_u32(blob, o + 8 + i * 8)] * count)
    return durs


def _parse_elst(blob, s, e):
    """§8.6.6 edit list → [(segment_duration, media_time,
    media_rate_integer)]. ``segment_duration`` is in the MOVIE
    timescale (presentation time this edit occupies), ``media_time``
    in the MEDIA timescale (-1 = empty edit: presentation delay with
    no media). v0 = u32/i32 entries, v1 = u64/i64. Entry count is
    byte-backed against the payload (the natural bomb bound)."""
    v, _, o = _fullbox(blob, s)
    if o + 4 > e:
        raise _Truncated()
    n = _u32(blob, o)
    o += 4
    entry = 20 if v == 1 else 12
    if o + n * entry > e:
        raise _Truncated()
    out = []
    for _ in range(n):
        if v == 1:
            seg_dur = _u64(blob, o)
            media_time = struct.unpack_from(">q", blob, o + 8)[0]
            rate = struct.unpack_from(">h", blob, o + 16)[0]
        else:
            seg_dur = _u32(blob, o)
            media_time = struct.unpack_from(">i", blob, o + 4)[0]
            rate = struct.unpack_from(">h", blob, o + 8)[0]
        out.append((seg_dur, media_time, rate))
        o += entry
    return out


def _elst_trim(entries):
    """The media-timescale presentation start: the first NON-EMPTY
    edit's media_time (§8.6.6 — samples before it are decoded but
    not presented). A ZERO-ENTRY list is an identity edit (no-op →
    trim 0, review catch: it used to read as nothing-presented);
    None only when every entry is an empty edit (all presentation
    time is delay — nothing presented). Metadata-side view: for a
    multi-edit list this is the FIRST presented segment's start —
    the RANGES walk uses :func:`_elst_window`, which refuses shapes
    it cannot place exactly."""
    if not entries:
        return 0
    for _seg, media_time, _rate in entries:
        if media_time >= 0:
            return media_time
    return None


def _elst_window(entries):
    """(trim, seg_dur_movie) — the presented MEDIA window for the
    ranges walk. Exactly-handled shapes: empty list / no elst →
    (0, None); all-empty edits → (None, None) (nothing presented);
    leading empty edits + ONE non-empty edit → (its media_time, its
    segment_duration or None when 0 = unspecified/to-end).
    MULTIPLE non-empty edits (loop/jump-back playlists) REFUSE
    (cross-cutting review catch): collapsing them to a start trim
    would silently drop keyframes a later edit presents — the module
    rule is exact ranges or None, never silently-incomplete ones."""
    non_empty = [
        (seg, mt) for seg, mt, _r in entries if mt >= 0
    ]
    if not entries:
        return 0, None
    if not non_empty:
        return None, None
    if len(non_empty) > 1:
        raise _Truncated()
    seg, mt = non_empty[0]
    return mt, seg or None


def _parse_sidx(blob, s, e):
    """§8.16.3 segment index → (timescale, first_offset,
    [(is_index, size, duration, starts_with_sap)]). Byte ranges are
    relative to the ANCHOR (first byte after the enclosing sidx box,
    plus first_offset) — the caller owns that arithmetic because it
    knows the box end."""
    v, _, o = _fullbox(blob, s)
    if o + 8 > e:
        raise _Truncated()
    timescale = _u32(blob, o + 4)  # reference_ID at o, unused here
    o += 8
    if v == 1:
        if o + 16 > e:
            raise _Truncated()
        first_offset = _u64(blob, o + 8)
        o += 16
    else:
        if o + 8 > e:
            raise _Truncated()
        first_offset = _u32(blob, o + 4)
        o += 8
    if o + 4 > e:
        raise _Truncated()
    count = _u16(blob, o + 2)  # u16 reserved, u16 reference_count
    o += 4
    if o + count * 12 > e:
        raise _Truncated()
    refs = []
    for _ in range(count):
        w1 = _u32(blob, o)
        dur = _u32(blob, o + 4)
        w3 = _u32(blob, o + 8)
        refs.append(
            (bool(w1 >> 31), w1 & 0x7FFFFFFF, dur, bool(w3 >> 31))
        )
        o += 12
    return timescale, first_offset, refs


def mp4_segment_index(blob: bytes | None) -> list[dict] | None:
    """DASH subsegment addressing from the TOP-LEVEL ``sidx``
    (§8.16.3): ``[{seg_idx, offset, size, duration_ms,
    starts_with_sap, is_index}, ...]`` — the byte ranges a ranged
    reader fetches to pull one subsegment (moof+mdat pair) without
    scanning the file. Ranges are validated against the blob; a
    range past the end refuses outright (``None``) — like
    :func:`keyframe_byte_ranges`, addressing must be exact.
    Hierarchical indexes (reference_type = 1) are returned flagged
    ``is_index`` with their ranges, not followed. Blobs with no
    top-level sidx return ``None``."""
    if not blob or len(blob) < 16:
        return None
    counter = [0]
    try:
        for btype, s, e, _b0 in _top_level(blob, counter):
            if btype != b"sidx":
                continue
            timescale, first_offset, refs = _parse_sidx(blob, s, e)
            anchor = e + first_offset
            out = []
            pos = anchor
            for i, (is_index, size, dur, sap) in enumerate(refs):
                if pos + size > len(blob):
                    raise _Truncated()
                out.append(
                    {
                        "seg_idx": i,
                        "offset": pos,
                        "size": size,
                        "duration_ms": (
                            int(dur * 1000 // timescale)
                            if timescale else None
                        ),
                        "starts_with_sap": sap,
                        "is_index": is_index,
                    }
                )
                pos += size
            return out
        return None
    except (_Truncated, struct.error):
        return None


def _parse_stss(blob, s, e):
    """§8.6.2 sync-sample numbers (1-based, ascending)."""
    _, _, o = _fullbox(blob, s)
    if o + 4 > e:
        raise _Truncated()
    n = _u32(blob, o)
    if n > _MAX_SAMPLES or o + 4 + n * 4 > e:
        raise _Truncated()
    return [_u32(blob, o + 4 + i * 4) for i in range(n)]


def _parse_stsz(blob, s, e, blob_len):
    """§8.7.3.2: (uniform_size, count) or per-sample sizes. The
    per-sample branch is byte-backed by construction (the box must
    CONTAIN n*4 bytes); the uniform branch has no such tie, so a
    20-byte box could claim 4M samples and make the caller
    materialize 4M-entry lists — bound the CLAIM by the blob: the
    samples must physically fit, so n*uniform > len(blob) is a lie
    (cost-amplification guard, not just bounds)."""
    _, _, o = _fullbox(blob, s)
    if o + 8 > e:
        raise _Truncated()
    uniform = _u32(blob, o)
    n = _u32(blob, o + 4)
    if n > _MAX_SAMPLES:
        raise _Truncated()
    if uniform:
        if n * uniform > blob_len:
            raise _Truncated()
        return [uniform] * n
    if o + 8 + n * 4 > e:
        raise _Truncated()
    return [_u32(blob, o + 8 + i * 4) for i in range(n)]


def _parse_stsc(blob, s, e):
    """§8.7.4: (first_chunk, samples_per_chunk, desc_idx) runs."""
    _, _, o = _fullbox(blob, s)
    if o + 4 > e:
        raise _Truncated()
    n = _u32(blob, o)
    if n > _MAX_STSC_ENTRIES or o + 4 + n * 12 > e:
        raise _Truncated()
    return [
        (_u32(blob, o + 4 + i * 12), _u32(blob, o + 8 + i * 12))
        for i in range(n)
    ]


def _parse_stco(blob, s, e, wide):
    """§8.7.5 chunk offsets (stco u32 / co64 u64) — absolute file
    offsets."""
    _, _, o = _fullbox(blob, s)
    if o + 4 > e:
        raise _Truncated()
    n = _u32(blob, o)
    step = 8 if wide else 4
    if n > _MAX_SAMPLES or o + 4 + n * step > e:
        raise _Truncated()
    rd = _u64 if wide else _u32
    return [rd(blob, o + 4 + i * step) for i in range(n)]


def _trak_tables(blob, s, e, counter):
    """ONE recursive descent over a trak's subtree collecting every
    leaf box's (start, end) span — containers are entered exactly
    once (no double walk, no double-count against _MAX_BOXES), and
    nothing is parsed here: callers parse only the tables they need
    (the metadata walk skips the §8.7 offset tables; the range walk
    skips mdhd/hdlr/stsd)."""
    tables: dict = {}
    stack = [(s, e, 2)]
    while stack:
        fs, fe, depth = stack.pop()
        for btype, bs, be, _ in _walk(blob, fs, fe, depth, counter):
            tables.setdefault(btype, (bs, be))
            if btype in _CONTAINERS:
                stack.append((bs, be, depth + 1))
    return tables


def _parse_trak(blob, tables, counter):
    track: dict = {
        "track_id": None, "handler": None, "codec": None,
        "width": None, "height": None, "n_samples": None,
        "n_keyframes": None, "duration_ms": None,
    }
    timescale = None
    if b"tkhd" in tables:
        # best-effort: track_id only matters for fragment matching,
        # so a corrupt tkhd must not refuse an otherwise-parsable
        # progressive file (it degrades fragment folds for that trak)
        try:
            track["track_id"] = _parse_tkhd_id(blob, *tables[b"tkhd"])
        except _Truncated:
            pass
    if b"mdhd" in tables:
        ts, dur = _parse_mdhd(blob, *tables[b"mdhd"])
        if ts:
            timescale = ts
            if dur is not None:
                track["duration_ms"] = int(dur * 1000 // ts)
    if b"hdlr" in tables:
        track["handler"] = _parse_hdlr(blob, *tables[b"hdlr"])
    if b"stsd" in tables:
        codec, w, h = _parse_stsd(blob, *tables[b"stsd"], counter)
        track.update(codec=codec, width=w, height=h)
    n_samples = None
    if b"stts" in tables:
        n_samples = _parse_stts(blob, *tables[b"stts"])
        track["n_samples"] = n_samples
    if b"stss" in tables:
        track["n_keyframes"] = len(_parse_stss(blob, *tables[b"stss"]))
    elif n_samples is not None:
        # §8.6.2: no sync table ⇒ every sample is a sync sample
        track["n_keyframes"] = n_samples
    track["media_start_ms"] = None
    if b"elst" in tables:
        entries = _parse_elst(blob, *tables[b"elst"])
        track["_elst"] = entries
        trim = _elst_trim(entries)
        if trim is not None and timescale:
            track["media_start_ms"] = int(trim * 1000 // timescale)
    track["_timescale"] = timescale
    return track


def _parse_tkhd_id(blob, s, e):
    """§8.3.2: track_ID at +8 (v0: u32 times) / +16 (v1: u64)."""
    v, _, o = _fullbox(blob, s)
    pos = o + (16 if v == 1 else 8)
    if pos + 4 > e:
        raise _Truncated()
    return _u32(blob, pos)


# ── movie fragments (§8.8 — the DASH / streaming-camera layout) ──

#: §8.8.3.1 sample_flags bit: set ⇒ NOT a sync sample
_NON_SYNC = 0x00010000


def _parse_trex(blob, s, e):
    """§8.8.3 per-track fragment defaults:
    (track_id, default_duration, default_size, default_flags)."""
    _, _, o = _fullbox(blob, s)
    if o + 20 > e:
        raise _Truncated()
    return (_u32(blob, o), _u32(blob, o + 8), _u32(blob, o + 12),
            _u32(blob, o + 16))


def _parse_mehd(blob, s, e):
    """§8.8.2 total movie duration including fragments."""
    v, _, o = _fullbox(blob, s)
    if o + (8 if v == 1 else 4) > e:
        raise _Truncated()
    if v == 1:
        return _u64(blob, o)
    return _u32(blob, o)


def _parse_tfhd(blob, s, e):
    """§8.8.7: (track_id, base_data_offset|None, default_size|None,
    default_flags|None, default_base_is_moof)."""
    _, flags, o = _fullbox(blob, s)
    if o + 4 > e:
        raise _Truncated()
    track_id = _u32(blob, o)
    o += 4
    base = None
    if flags & 0x000001:
        base = _u64(blob, o)
        o += 8
    if flags & 0x000002:  # sample-description-index
        o += 4
    d_dur = None
    if flags & 0x000008:
        d_dur = _u32(blob, o)
        o += 4
    d_size = None
    if flags & 0x000010:
        d_size = _u32(blob, o)
        o += 4
    d_flags = None
    if flags & 0x000020:
        d_flags = _u32(blob, o)
        o += 4
    if o > e:
        raise _Truncated()
    return track_id, base, d_dur, d_size, d_flags, bool(flags & 0x020000)


def _parse_trun(blob, s, e):
    """§8.8.8 track fragment run: (data_offset|None,
    first_sample_flags|None, n, entries|None). ``entries`` is the
    per-sample (duration|None, size|None, flags|None) list when any
    per-sample field is present — byte-backed by the box (n ×
    entry_size must fit) — and ``None`` for a field-less run, whose
    count is NOT byte-backed here: the caller must bound the implied
    payload (n × default size) against the blob before iterating
    (the trun twin of the uniform-stsz bomb guard)."""
    _, flags, o = _fullbox(blob, s)
    if o + 4 > e:
        raise _Truncated()
    n = _u32(blob, o)
    o += 4
    if n > _MAX_SAMPLES:
        raise _Truncated()
    data_offset = None
    if flags & 0x000001:
        if o + 4 > e:
            raise _Truncated()
        data_offset = struct.unpack_from(">i", blob, o)[0]
        o += 4
    first_flags = None
    if flags & 0x000004:
        if o + 4 > e:
            raise _Truncated()
        first_flags = _u32(blob, o)
        o += 4
    per = [
        bool(flags & 0x000100),  # duration
        bool(flags & 0x000200),  # size
        bool(flags & 0x000400),  # flags
        bool(flags & 0x000800),  # composition time offset
    ]
    entry = 4 * sum(per)
    if not entry:
        return data_offset, first_flags, n, None
    if o + n * entry > e:
        raise _Truncated()
    samples = []
    for _ in range(n):
        dur = size = sflags = None
        if per[0]:
            dur = _u32(blob, o)
            o += 4
        if per[1]:
            size = _u32(blob, o)
            o += 4
        if per[2]:
            sflags = _u32(blob, o)
            o += 4
        if per[3]:
            o += 4
        samples.append((dur, size, sflags))
    return data_offset, first_flags, n, samples


def _fragment_runs(blob, top, counter):
    """Walk every top-level ``moof``: per traf yield
    (track_id, [(offset, size, is_sync, duration), ...]). Offsets
    resolve per §8.8.7: explicit base_data_offset, else the moof's
    first byte (default-base-is-moof, and the spec default for the
    FIRST traf), else — for subsequent trafs — the end of the
    preceding track fragment's data (§8.8.7.1). A trun without
    data_offset continues where the previous run ended. Sync per
    §8.8.8 precedence: per-sample flags > first-sample-flags
    (sample 0) > tfhd default > trex default; none anywhere ⇒ sync
    (mirrors the stss-absent rule).

    Bomb guards (the fragment twin of the uniform-stsz check):
    negative resolved offsets refuse; the CUMULATIVE claimed payload
    across all runs is bounded by the blob length (samples must
    physically exist), and the cumulative sample count by
    ``_MAX_SAMPLES`` — so a tiny blob claiming 4M samples per trun
    costs O(cap), not O(claimed)."""
    if not any(b[0] == b"moof" for b in top):
        return 0, []  # progressive file: skip the trex walk entirely
    trex: dict = {}
    for btype, s, e, _b0 in top:
        if btype != b"moov":
            continue
        for it, is_, ie, _bs in _walk(blob, s, e, 2, counter):
            if it == b"mvex":
                for jt, js, je, _js in _walk(blob, is_, ie, 3, counter):
                    if jt == b"trex":
                        tid, t_dur, t_size, t_flags = _parse_trex(
                            blob, js, je
                        )
                        trex[tid] = (t_dur, t_size, t_flags)
    n_fragments = 0
    runs: list = []
    claimed_bytes = 0
    total_samples = 0
    for btype, s, e, box_start in top:
        if btype != b"moof":
            continue
        n_fragments += 1
        moof_start = box_start  # §8.8.7: offsets from the HEADER byte
        first_traf = True
        prev_end = None  # end of the preceding traf's data (§8.8.7.1)
        for it, is_, ie, _mb in _walk(blob, s, e, 2, counter):
            if it != b"traf":
                continue
            boxes = _boxes(blob, is_, ie, 3, counter)
            truns = [b for b in boxes if b[0] == b"trun"]
            tfhds = [b for b in boxes if b[0] == b"tfhd"]
            if not tfhds:
                raise _Truncated()
            tid, base, d_dur, d_size, d_flags, base_is_moof = (
                _parse_tfhd(blob, tfhds[0][1], tfhds[0][2])
            )
            tx_dur, tx_size, tx_flags = trex.get(
                tid, (None, None, None)
            )
            if base is None:
                if base_is_moof or first_traf:
                    base = moof_start
                elif prev_end is not None:
                    base = prev_end  # §8.8.7.1 subsequent-traf default
                else:
                    raise _Truncated()
            first_traf = False
            pos = base
            samples: list = []
            for _, ts_, te_, _tb in truns:
                data_offset, first_flags, n, entries = _parse_trun(
                    blob, ts_, te_
                )
                if data_offset is not None:
                    pos = base + data_offset
                total_samples += n
                if total_samples > _MAX_SAMPLES:
                    raise _Truncated()
                if entries is None:
                    # field-less run: every sample inherits the
                    # default size — bound the implied payload BEFORE
                    # materializing anything
                    u_size = d_size if d_size is not None else tx_size
                    if not u_size:  # None or 0: unknowable/degenerate
                        raise _Truncated()
                    claimed_bytes += n * u_size
                    if claimed_bytes > len(blob):
                        raise _Truncated()
                    entries = [(None, None, None)] * n
                for i, (dur, size, sflags) in enumerate(entries):
                    eff_size = size if size is not None else (
                        d_size if d_size is not None else tx_size
                    )
                    if eff_size is None:
                        raise _Truncated()  # size unknowable
                    if size is not None:
                        claimed_bytes += eff_size
                        if claimed_bytes > len(blob):
                            raise _Truncated()
                    eff_flags = sflags
                    if eff_flags is None and i == 0 and first_flags is not None:
                        eff_flags = first_flags
                    if eff_flags is None:
                        eff_flags = d_flags if d_flags is not None else tx_flags
                    is_sync = (
                        True if eff_flags is None
                        else not (eff_flags & _NON_SYNC)
                    )
                    eff_dur = dur if dur is not None else (
                        d_dur if d_dur is not None else tx_dur
                    )
                    if pos < 0:  # signed trun offsets must not
                        raise _Truncated()  # resolve before the file
                    samples.append((pos, eff_size, is_sync, eff_dur))
                    pos += eff_size
            prev_end = pos
            if samples:
                runs.append((tid, samples))
    return n_fragments, runs


def _top_level(blob, counter):
    """Top-level box spans, TOLERANT of a malformed tail: real files
    carry trailing padding from sloppy muxers, and a moov-first
    (faststart) file with a torn mdat still has complete metadata —
    boxes parsed before the tail broke stay usable. Malformedness
    INSIDE a kept box still refuses in the caller's parse."""
    spans = []
    try:
        for item in _walk(blob, 0, len(blob), 1, counter):
            spans.append(item)
    except _Bomb:
        raise  # cap trip: partial-prefix metadata would be WRONG
    except (_Truncated, struct.error):
        pass
    return spans


def parse_mp4_meta(blob: bytes | None) -> dict | None:
    """Container metadata for one ISO-BMFF blob, or ``None`` for
    truncated / hostile / non-BMFF bytes (S4 skip — same contract as
    every decoder in :mod:`.multimodal`). See the module doc for the
    exact fields; ``tracks`` is ordered as the ``trak`` boxes appear."""
    if not blob or len(blob) < 16:
        return None
    counter = [0]
    try:
        out: dict = {
            "brand": None, "duration_ms": None, "n_tracks": 0,
            "n_fragments": 0, "tracks": [],
        }
        saw_bmff = False
        top = _top_level(blob, counter)
        mvhd_ts = None
        mehd_dur = None
        for btype, s, e, _b0 in top:
            if btype == b"ftyp":
                out["brand"] = blob[s:s + 4].decode("latin-1")
                saw_bmff = True
            elif btype == b"moov":
                saw_bmff = True
                for it, is_, ie, _tb in _walk(blob, s, e, 2, counter):
                    if it == b"mvhd":
                        ts, dur = _parse_mvhd(blob, is_, ie)
                        if ts:
                            mvhd_ts = ts
                            if dur is not None:
                                out["duration_ms"] = int(
                                    dur * 1000 // ts
                                )
                    elif it == b"mvex":
                        for jt, js, je, _jb in _walk(
                            blob, is_, ie, 3, counter
                        ):
                            if jt == b"mehd":
                                mehd_dur = _parse_mehd(blob, js, je)
                    elif it == b"trak":
                        if out["n_tracks"] >= _MAX_TRACKS:
                            raise _Truncated()
                        tables = _trak_tables(blob, is_, ie, counter)
                        out["tracks"].append(
                            _parse_trak(blob, tables, counter)
                        )
                        out["n_tracks"] += 1
        if saw_bmff:
            try:
                _fold_fragments(
                    blob, top, counter, out, mvhd_ts, mehd_dur
                )
            except _Bomb:
                # a resource-cap bomb (box-count / depth budget) is
                # hostile structure, not mere corruption: refuse the
                # whole blob, same as a bomb at top level. Without
                # this re-raise the _Truncated handler below would
                # swallow it (_Bomb subclasses _Truncated) and the
                # blob would degrade to moov-only metadata.
                raise
            except _Truncated:
                # a corrupt FRAGMENT layer degrades to moov-only
                # metadata (same spirit as the tolerant tail): the
                # moof count is still reported, sample counts stay
                # whatever the moov tables said. Byte ranges
                # (keyframe_byte_ranges) still refuse outright —
                # metadata is descriptive, ranges must be exact.
                out["n_fragments"] = sum(
                    1 for b in top if b[0] == b"moof"
                )
            for tr in out["tracks"]:
                # §8.6.6: an edit list REDEFINES the track's
                # presentation duration — the sum of its segment
                # durations, in the MOVIE timescale. Applied after
                # the fragment fold because presentation time trumps
                # both the mdhd duration and the summed fragment
                # durations (the fields it exists to reshape). An
                # all-zero total is the CMAF/ffmpeg shape where the
                # muxer wrote moov before knowing the duration
                # (segment_duration 0 = unspecified) — keep the
                # computed duration then (review catch: the override
                # used to clobber it with 0).
                elst = tr.pop("_elst", None)
                if elst and mvhd_ts:
                    total = sum(seg for seg, _mt, _r in elst)
                    if total:
                        tr["duration_ms"] = int(total * 1000 // mvhd_ts)
                tr.pop("_timescale", None)
                tr.pop("_frag_ms", None)
        return out if saw_bmff else None
    except (_Truncated, struct.error):
        return None


def _fold_fragments(blob, top, counter, out, mvhd_ts, mehd_dur):
    """Fold §8.8 movie-fragment samples into the moov-level counts:
    per-track n_samples / n_keyframes accumulate the trun entries
    (matched on tkhd track_ID), track duration falls back to the
    summed fragment durations when the mdhd duration is 0 (the
    normal fMP4 shape), and the movie duration falls back to
    ``mehd`` then to the longest track."""
    n_fragments, runs = _fragment_runs(blob, top, counter)
    out["n_fragments"] = n_fragments
    if not n_fragments:
        return
    by_id = {
        tr["track_id"]: tr
        for tr in out["tracks"]
        if tr["track_id"] is not None
    }
    for tid, samples in runs:
        tr = by_id.get(tid)
        if tr is None:
            continue
        tr["n_samples"] = (tr["n_samples"] or 0) + len(samples)
        tr["n_keyframes"] = (tr["n_keyframes"] or 0) + sum(
            1 for _, _, is_sync, _ in samples if is_sync
        )
        durs = [d for _, _, _, d in samples if d is not None]
        if tr.get("_timescale") and durs:
            tr["_frag_ms"] = tr.get("_frag_ms", 0) + sum(durs)
    for tr in out["tracks"]:
        frag_ms = tr.pop("_frag_ms", None)
        ts = tr.get("_timescale")
        if not tr["duration_ms"] and frag_ms is not None and ts:
            tr["duration_ms"] = int(frag_ms * 1000 // ts)
    if not out["duration_ms"]:
        if mehd_dur is not None and mvhd_ts:
            out["duration_ms"] = int(mehd_dur * 1000 // mvhd_ts)
        else:
            best = max(
                (tr["duration_ms"] or 0 for tr in out["tracks"]),
                default=0,
            )
            out["duration_ms"] = best or out["duration_ms"]


def keyframe_byte_ranges(
    blob: bytes | None, every: int = 1
) -> list[dict] | None:
    """Every ``every``-th SYNC sample of each track, resolved to its
    absolute byte range: the charter's "frame-sample" step done at
    the container layer, so a pipeline ships ~k keyframe payloads per
    file instead of the file. Per kept sample:
    ``{track_idx, sample_number (1-based), offset, size}`` — offsets
    from the §8.7 walk: stsc maps sample→chunk (runs of
    first_chunk/samples_per_chunk, last run open-ended), stco/co64
    gives the chunk's file offset, preceding same-chunk sample sizes
    (stsz) give the intra-chunk displacement. Ranges outside the blob
    (a moov referencing absent mdat bytes — truncated download) →
    ``None``.

    Fragmented files (§8.8): samples live in moof/mdat pairs, so
    the walk additionally folds :func:`_fragment_runs` — sync
    flagged per sample (``sample_is_non_sync_sample``), offsets from
    the tfhd base + trun data offsets, sample numbering CONTINUING
    from the (usually empty) moov tables across fragments in file
    order, and the every-k cadence running over the track's whole
    sync sequence rather than resetting per fragment."""
    if every < 1:  # a caller bug, not hostile data — be loud
        raise ValueError(f"every must be >= 1, got {every}")
    if not blob:
        return None
    counter = [0]
    try:
        kept: list[dict] = []
        top = _top_level(blob, counter)
        track_order: list[int] = []  # tkhd ids in trak order
        moov_counts: dict = {}  # track_idx -> samples in moov tables
        moov_sync_counts: dict = {}  # track_idx -> sync count in moov
        trims: dict = {}  # track_idx -> (elst start, end) media window
        moov_time: dict = {}  # track_idx -> moov tables' total duration
        for btype, s, e, _b0 in top:
            if btype != b"moov":
                continue
            t_idx = -1
            mvhd_ts = None
            for it, is_, ie, _tb in _walk(blob, s, e, 2, counter):
                if it == b"mvhd":
                    # movie timescale: elst segment durations live in
                    # it; only consulted when an end-bounded edit
                    # needs converting to media time
                    ts, _d = _parse_mvhd(blob, is_, ie)
                    mvhd_ts = ts or None
                if it != b"trak":
                    continue
                t_idx += 1
                if t_idx >= _MAX_TRACKS:
                    raise _Truncated()
                tables = _trak_tables(blob, is_, ie, counter)
                try:
                    track_order.append(
                        _parse_tkhd_id(blob, *tables[b"tkhd"])
                        if b"tkhd" in tables else -1
                    )
                except _Truncated:
                    track_order.append(-1)  # degrades fragment match
                # §8.6.6 edit list: samples outside the presented
                # media window [trim, end) — start in media units
                # (stts/trun timescale, no conversion), end from the
                # edit's MOVIE-timescale duration — are decoded but
                # never shown; they must not consume the every-k
                # cadence or ship as "keyframes". Parsed BEFORE the
                # empty-tables bail so fragmented tracks get their
                # window too. trim None = all edits empty: the track
                # presents nothing. Shapes beyond one non-empty edit
                # refuse inside _elst_window.
                trim, end_media = 0, None
                if b"elst" in tables:
                    trim, seg_movie = _elst_window(
                        _parse_elst(blob, *tables[b"elst"])
                    )
                    if seg_movie is not None:
                        # converting the movie-ts duration needs both
                        # timescales — absent either, the end is
                        # unplaceable: refuse (exactness)
                        if not mvhd_ts or b"mdhd" not in tables:
                            raise _Truncated()
                        md_ts, _dur = _parse_mdhd(
                            blob, *tables[b"mdhd"]
                        )
                        if not md_ts:
                            raise _Truncated()
                        end_media = trim + seg_movie * md_ts // mvhd_ts
                trims[t_idx] = (trim, end_media)
                durs = None
                # the per-sample expansion is only needed to PLACE a
                # window (progressive placement / fragment clock
                # start) — the no-elst common case must not pay for
                # it (review catch: hot-kernel overhead)
                if (trim or end_media is not None) and b"stts" in tables:
                    durs = _stts_durations(blob, *tables[b"stts"])
                    moov_time[t_idx] = sum(durs)
                need = (b"stsz", b"stsc")
                if any(k not in tables for k in need):
                    continue
                sizes = _parse_stsz(blob, *tables[b"stsz"], len(blob))
                if not sizes:  # fMP4: empty moov tables, no ranges
                    continue
                stsc = _parse_stsc(blob, *tables[b"stsc"])
                if b"co64" in tables:
                    chunks = _parse_stco(blob, *tables[b"co64"], True)
                elif b"stco" in tables:
                    chunks = _parse_stco(blob, *tables[b"stco"], False)
                else:
                    continue
                if b"stss" in tables:
                    sync = _parse_stss(blob, *tables[b"stss"])
                else:
                    sync = list(range(1, len(sizes) + 1))
                if trim is None:
                    sync = []  # nothing presented
                elif trim or end_media is not None:
                    # the stts expansion places the presented window
                    # on samples; an elst with no stts to place
                    # against refuses (ranges must be exact). A
                    # sample is presented iff its decode window
                    # overlaps [trim, end_media).
                    if durs is None:
                        raise _Truncated()
                    first_presented = None
                    last_presented = 0
                    cum = 0
                    for i, d in enumerate(durs):
                        start_t, cum = cum, cum + d
                        if end_media is not None and start_t >= end_media:
                            break
                        if cum > trim:
                            if first_presented is None:
                                first_presented = i + 1
                            last_presented = i + 1
                    if first_presented is None:
                        sync = []
                    else:
                        sync = [
                            sn for sn in sync
                            if first_presented <= sn <= last_presented
                        ]
                offsets = _sample_offsets(sizes, stsc, chunks)
                if offsets is None:
                    raise _Truncated()
                moov_counts[t_idx] = len(sizes)
                moov_sync_counts[t_idx] = len(sync)
                for sn in sync[::every]:
                    if not 1 <= sn <= len(sizes):
                        raise _Truncated()
                    off, size = offsets[sn - 1], sizes[sn - 1]
                    if off + size > len(blob):
                        raise _Truncated()
                    kept.append(
                        {"track_idx": t_idx, "sample_number": sn,
                         "offset": off, "size": size}
                    )
        n_fragments, runs = _fragment_runs(blob, top, counter)
        if n_fragments:
            id_to_idx = {tid: i for i, tid in enumerate(track_order)}
            # continue sample numbering per track; keep the every-k
            # cadence over the track's WHOLE sync sequence, not reset
            # per fragment
            next_no: dict = {}
            sync_seen: dict = {}
            # decode clock per track, for the elst trim: starts at
            # the moov tables' total duration (hybrid files), 0 for
            # pure fMP4; advances by each fragment sample's duration
            clock: dict = {}
            for tid, samples in runs:
                t_idx = id_to_idx.get(tid)
                if t_idx is None:
                    continue
                base_no = next_no.get(
                    t_idx, moov_counts.get(t_idx, 0)
                )
                trim, end_media = trims.get(t_idx, (0, None))
                cum = clock.get(t_idx, moov_time.get(t_idx, 0))
                for off, size, is_sync, dur in samples:
                    base_no += 1
                    presented = True
                    if trim is None:
                        presented = False  # all-empty edits
                    elif end_media is not None and cum >= end_media:
                        presented = False  # clock past the window end
                    elif cum < trim or end_media is not None:
                        # the clock is still needed — before the
                        # presentation start, or tracking toward a
                        # bounded end. A missing (None) duration here
                        # is UNPLACEABLE — refuse (exactness). A
                        # KNOWN-zero duration places exactly: a
                        # zero-width window never crosses the trim,
                        # so a file whose own durations sum below its
                        # media_time presents nothing — the same
                        # answer the progressive placement gives for
                        # a trim past the stts total (pinned in
                        # tests). Once past the trim with no end
                        # bound, durations are moot.
                        if dur is None:
                            raise _Truncated()
                        presented = cum + dur > trim
                        cum += dur
                    if not is_sync or not presented:
                        continue
                    # the cadence runs over the track's WHOLE sync
                    # sequence: seed with the moov sync count so a
                    # hybrid file doesn't restart the stride at the
                    # moov/fragment boundary
                    k = sync_seen.get(
                        t_idx, moov_sync_counts.get(t_idx, 0)
                    )
                    sync_seen[t_idx] = k + 1
                    if k % every:
                        continue
                    if off + size > len(blob):
                        raise _Truncated()
                    kept.append(
                        {"track_idx": t_idx, "sample_number": base_no,
                         "offset": off, "size": size}
                    )
                next_no[t_idx] = base_no
                clock[t_idx] = cum
        return kept
    except (_Truncated, struct.error):
        return None


def _sample_offsets(sizes, stsc, chunks):
    """Absolute offset per sample (0-based list) from the three §8.7
    tables; None if the tables disagree (more samples than the chunk
    map covers, chunk index past stco, non-ascending runs)."""
    if not stsc or not chunks:
        return None
    offsets = []
    sample = 0
    n = len(sizes)
    for run_idx, (first_chunk, per_chunk) in enumerate(stsc):
        if first_chunk < 1 or per_chunk < 1:
            return None
        last_chunk = (
            stsc[run_idx + 1][0] - 1
            if run_idx + 1 < len(stsc)
            else len(chunks)
        )
        if last_chunk < first_chunk:
            return None
        for chunk in range(first_chunk, last_chunk + 1):
            if chunk > len(chunks):
                return None
            pos = chunks[chunk - 1]
            for _ in range(per_chunk):
                if sample >= n:
                    return offsets
                offsets.append(pos)
                pos += sizes[sample]
                sample += 1
    return offsets if sample >= n else None


def decode_mp4_samples(blob: bytes, codec: str = "avc1"):
    """Bitstream decode is OUT OF SCOPE by the same ADR that gates
    WebP/arithmetic JPEG (SURVEY §2.10): H.264/AAC need fixed CABAC /
    transform tables a clean-room build cannot verify offline, and a
    guessed-table codec self-confirms. The container layer above is
    complete; plug a real decoder in HERE when one is available."""
    raise NotImplementedError(
        f"{codec} bitstream decode is gated (clean-room ADR, SURVEY "
        "§2.10): container metadata and keyframe byte-ranges are "
        "implemented; sample payload decode requires a codec library."
    )


# ── fixture encoder ─────────────────────────────────────────────


def _box(btype: bytes, payload: bytes, large: bool = False) -> bytes:
    if large:
        return struct.pack(">I", 1) + btype + struct.pack(
            ">Q", 16 + len(payload)
        ) + payload
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _full(btype: bytes, version: int, payload: bytes) -> bytes:
    return _box(btype, struct.pack(">I", version << 24) + payload)


def _trak_header_boxes(t: dict, tid: int, mdhd_duration: int,
                       tkhd_duration: int, timescale: int) -> tuple:
    """tkhd + mdhd + hdlr + stsd bytes shared by BOTH fixture
    encoders — one copy of the header byte layouts, so a spec fix
    (e.g. the r9 mvhd-padding correction) cannot silently diverge
    between the progressive and fragmented fixtures."""
    tkhd = _full(
        b"tkhd", 0,
        struct.pack(">IIIII", 0, 0, tid, 0, tkhd_duration)
        + b"\x00" * 52
        + struct.pack(
            ">II",
            (t.get("width") or 0) << 16,
            (t.get("height") or 0) << 16,
        ),
    )
    mdhd = _full(
        b"mdhd", 0,
        struct.pack(">IIII", 0, 0, timescale, mdhd_duration)
        + struct.pack(">HH", 0x55C4, 0),  # 'und' language
    )
    hdlr = _full(
        b"hdlr", 0,
        struct.pack(">I", 0)
        + t["handler"].encode("latin-1")
        + b"\x00" * 12
        + b"fixture\x00",
    )
    codec = t["codec"].encode("latin-1")
    if t.get("width"):
        entry = _box(
            codec,
            b"\x00" * 6 + struct.pack(">H", 1)
            + b"\x00" * 16
            + struct.pack(">HH", t["width"], t["height"])
            + b"\x00" * 50,
        )
    else:
        entry = _box(
            codec, b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 20
        )
    stsd = _full(b"stsd", 0, struct.pack(">I", 1) + entry)
    return tkhd, mdhd, hdlr, stsd


def _edts_box(entries: list[tuple]) -> bytes:
    """``edts``/``elst`` bytes from [(segment_duration, media_time,
    media_rate_integer)] — v1 when any value needs 64 bits (or a
    negative media_time beyond -1 is wanted in i64), else v0. Shared
    by both fixture encoders."""
    v1 = any(
        seg > 0xFFFFFFFF or mt > 0x7FFFFFFF for seg, mt, _r in entries
    )
    body = struct.pack(">I", len(entries))
    for seg, mt, rate in entries:
        if v1:
            body += struct.pack(">Qq", seg, mt)
        else:
            body += struct.pack(">Ii", seg, mt)
        body += struct.pack(">hH", rate, 0)
    return _box(b"edts", _full(b"elst", 1 if v1 else 0, body))


def encode_mp4(
    tracks: list[dict],
    movie_timescale: int = 1000,
    movie_duration: int = 4000,
    brand: bytes = b"isom",
    mvhd_version: int = 0,
    co64: bool = False,
    large_mdat: bool = False,
) -> bytes:
    """Deterministic fixture MP4: ``ftyp`` + one ``mdat`` holding all
    tracks' samples contiguously + trailing ``moov`` whose sample
    tables cross-reference the real mdat offsets (mdat-before-moov is
    the common camera layout and makes offsets computable in one
    pass). Per track dict: ``handler`` (``"vide"``/``"soun"``),
    ``codec`` (4CC str), ``samples`` (list of bytes), optional
    ``width``/``height``, ``timescale``, ``sample_delta``,
    ``keyframes`` (1-based sample numbers; omitted ⇒ no stss box ⇒
    all-sync per §8.6.2), ``samples_per_chunk``."""
    ftyp = _box(b"ftyp", brand + struct.pack(">I", 0x200) + b"isommp42")
    payload = b"".join(
        b"".join(t["samples"]) for t in tracks
    )
    mdat = _box(b"mdat", payload, large=large_mdat)
    mdat_header = 16 if large_mdat else 8
    base = len(ftyp) + mdat_header

    if mvhd_version == 1:
        mvhd = _full(
            b"mvhd", 1,
            struct.pack(">QQIQ", 0, 0, movie_timescale, movie_duration)
            + b"\x00" * 80,
        )
    else:
        mvhd = _full(
            b"mvhd", 0,
            # §8.2.2 v0: 16 bytes of times/timescale/duration then
            # rate+volume+reserved+matrix+pre_defined+next_track_ID
            # = exactly 80 bytes
            struct.pack(">IIII", 0, 0, movie_timescale, movie_duration)
            + b"\x00" * 80,
        )

    traks = []
    cursor = base
    for tid, t in enumerate(tracks, start=1):
        samples = t["samples"]
        spc = t.get("samples_per_chunk", max(len(samples), 1))
        timescale = t.get("timescale", 600)
        delta = t.get("sample_delta", 20)
        tkhd, mdhd, hdlr, stsd = _trak_header_boxes(
            t, tid, len(samples) * delta, len(samples) * delta,
            timescale,
        )
        stts = _full(
            b"stts", 0,
            struct.pack(">III", 1, len(samples), delta)
            if samples
            else struct.pack(">I", 0),
        )
        stsz = _full(
            b"stsz", 0,
            struct.pack(">II", 0, len(samples))
            + b"".join(struct.pack(">I", len(s)) for s in samples),
        )
        n_chunks = (len(samples) + spc - 1) // spc if samples else 0
        stsc = _full(
            b"stsc", 0,
            struct.pack(">I", 1) + struct.pack(">III", 1, spc, 1)
            if samples
            else struct.pack(">I", 0),
        )
        chunk_offsets = []
        pos = cursor
        for c in range(n_chunks):
            chunk_offsets.append(pos)
            for s in samples[c * spc:(c + 1) * spc]:
                pos += len(s)
        cursor = pos
        if co64:
            stco = _full(
                b"co64", 0,
                struct.pack(">I", n_chunks)
                + b"".join(struct.pack(">Q", o) for o in chunk_offsets),
            )
        else:
            stco = _full(
                b"stco", 0,
                struct.pack(">I", n_chunks)
                + b"".join(struct.pack(">I", o) for o in chunk_offsets),
            )
        boxes = stsd + stts + stsc + stsz + stco
        if "keyframes" in t:
            boxes += _full(
                b"stss", 0,
                struct.pack(">I", len(t["keyframes"]))
                + b"".join(
                    struct.pack(">I", k) for k in t["keyframes"]
                ),
            )
        stbl = _box(b"stbl", boxes)
        minf = _box(b"minf", stbl)
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        edts = _edts_box(t["elst"]) if t.get("elst") else b""
        traks.append(_box(b"trak", tkhd + edts + mdia))

    moov = _box(b"moov", mvhd + b"".join(traks))
    return ftyp + mdat + moov


def encode_fmp4(
    tracks: list[dict],
    fragments: list[list[dict]],
    movie_timescale: int = 1000,
    explicit_base: bool = False,
    sidx: bool = False,
) -> bytes:
    """Deterministic FRAGMENTED fixture (the DASH / streaming-camera
    layout): ``ftyp`` + ``moov`` (tracks with EMPTY §8.7 sample
    tables + ``mvex``/``trex`` defaults) + one ``moof``+``mdat``
    pair per entry of ``fragments``. Each fragment entry is a list
    of per-track dicts ``{track_id, samples: [bytes], sync: set of
    1-based in-fragment numbers, size_mode: 'per_sample'|'default',
    flags_mode: 'per_sample'|'first'|'default'}`` — cycling how real
    muxers spread sizes/flags across trun fields, tfhd defaults and
    trex defaults. ``explicit_base`` uses tfhd base-data-offset
    instead of default-base-is-moof. ``sidx`` emits a §8.16.3
    segment index between the moov and the first fragment — one
    reference per moof+mdat pair (the DASH addressing shape),
    timescale/durations from the FIRST track, starts_with_SAP set
    when that track's fragment opens on a sync sample."""
    ftyp = _box(b"ftyp", b"iso5" + struct.pack(">I", 0x200) + b"iso5dash")

    mvhd = _full(
        b"mvhd", 0,
        struct.pack(">IIII", 0, 0, movie_timescale, 0) + b"\x00" * 80,
    )
    traks = b""
    trexs = b""
    for t in tracks:
        tid = t["track_id"]
        tkhd, mdhd, hdlr, stsd = _trak_header_boxes(
            t, tid, 0, 0, t.get("timescale", 600)
        )
        empty = (
            stsd
            + _full(b"stts", 0, struct.pack(">I", 0))
            + _full(b"stsc", 0, struct.pack(">I", 0))
            + _full(b"stsz", 0, struct.pack(">II", 0, 0))
            + _full(b"stco", 0, struct.pack(">I", 0))
        )
        mdia = _box(b"mdia", mdhd + hdlr + _box(b"minf", _box(b"stbl", empty)))
        edts = _edts_box(t["elst"]) if t.get("elst") else b""
        traks += _box(b"trak", tkhd + edts + mdia)
        # trex: track_id, default_sample_description_index, then
        # default duration / size / flags (§8.8.3)
        trexs += _full(
            b"trex", 0,
            struct.pack(
                ">IIIII", tid, 1,
                t.get("default_duration", 20),
                t.get("trex_default_size", 0),
                t.get("trex_default_flags", _NON_SYNC),
            ),
        )
    moov = _box(b"moov", mvhd + traks + _box(b"mvex", trexs))

    out = ftyp + moov
    sidx_at = None
    if sidx:
        # reserve the exact footprint so explicit-base offsets (which
        # read len(out)) account for it; patched with the real box
        # once every fragment's size is known
        sidx_at = len(out)
        out += b"\x00" * (32 + 12 * len(fragments))
    seg_refs: list[tuple] = []
    for seq, frag in enumerate(fragments, start=1):
        def build(moof_size_guess: int) -> tuple[bytes, bytes]:
            mfhd = _full(b"mfhd", 0, struct.pack(">I", seq))
            trafs = b""
            payload = b""
            for ft in frag:
                samples = ft["samples"]
                sync = ft.get("sync", set(range(1, len(samples) + 1)))
                size_mode = ft.get("size_mode", "per_sample")
                flags_mode = ft.get("flags_mode", "per_sample")
                sflag = lambda i: (  # noqa: E731
                    0 if (i + 1) in sync else _NON_SYNC
                )
                tf_flags = 0x020000  # default-base-is-moof
                tf_body = struct.pack(">I", ft["track_id"])
                if explicit_base:
                    tf_flags = 0x000001
                    tf_body += struct.pack(
                        ">Q", len(out) + moof_size_guess + 8
                    )
                if size_mode == "default":
                    # the ONE default size covers every sample: a
                    # varying-size list would self-corrupt the
                    # fixture's byte ranges with no error
                    assert samples and all(
                        len(sm) == len(samples[0]) for sm in samples
                    ), "size_mode='default' requires uniform samples"
                    tf_flags |= 0x000010
                    tf_body += struct.pack(">I", len(samples[0]))
                if flags_mode == "default":
                    tf_flags |= 0x000020
                    tf_body += struct.pack(">I", _NON_SYNC)
                tfhd = _box(
                    b"tfhd",
                    struct.pack(">I", tf_flags) + tf_body,
                )
                tr_flags = 0x000001  # data-offset always present
                if size_mode == "per_sample":
                    tr_flags |= 0x000200
                if flags_mode == "per_sample":
                    tr_flags |= 0x000400
                elif flags_mode == "first":
                    tr_flags |= 0x000004
                tr_body = struct.pack(">I", len(samples))
                # relative to the tfhd base: the mdat payload start
                # when explicit, the moof's first byte otherwise
                data_off = (
                    len(payload) if explicit_base
                    else moof_size_guess + 8 + len(payload)
                )
                tr_body += struct.pack(">i", data_off)
                if flags_mode == "first":
                    tr_body += struct.pack(">I", sflag(0))
                for i, sm in enumerate(samples):
                    if size_mode == "per_sample":
                        tr_body += struct.pack(">I", len(sm))
                    if flags_mode == "per_sample":
                        tr_body += struct.pack(">I", sflag(i))
                trun = _box(b"trun", struct.pack(">I", tr_flags) + tr_body)
                trafs += _box(b"traf", tfhd + trun)
                payload += b"".join(samples)
            return _box(b"moof", mfhd + trafs), payload

        # two-pass: sizes are deterministic, so building once with
        # guess 0 fixes the moof size, then rebuild with real offsets
        moof0, _ = build(0)
        moof, payload = build(len(moof0))
        assert len(moof) == len(moof0)
        seg = moof + _box(b"mdat", payload)
        out += seg
        ref_id = tracks[0]["track_id"]
        ft = next(
            (f for f in frag if f["track_id"] == ref_id), None
        )
        dur = (
            len(ft["samples"]) * tracks[0].get("default_duration", 20)
            if ft else 0
        )
        sap = bool(
            ft
            and 1 in ft.get(
                "sync", set(range(1, len(ft["samples"]) + 1))
            )
        )
        seg_refs.append((len(seg), dur, sap))
    if sidx:
        body = struct.pack(
            ">II", tracks[0]["track_id"], tracks[0].get("timescale", 600)
        )
        body += struct.pack(">II", 0, 0)  # v0 ept + first_offset
        body += struct.pack(">HH", 0, len(seg_refs))
        for size, dur, sap in seg_refs:
            body += struct.pack(
                ">III", size & 0x7FFFFFFF, dur,
                (0x80000000 | (1 << 28)) if sap else 0,
            )
        box = _full(b"sidx", 0, body)
        assert len(box) == 32 + 12 * len(seg_refs)
        out = out[:sidx_at] + box + out[sidx_at + len(box):]
    return out


# ── Spark kernels ───────────────────────────────────────────────

MP4_META_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("brand", StringType()),
        StructField("movie_duration_ms", LongType()),
        StructField("n_tracks", LongType()),
        StructField("n_fragments", LongType()),
        StructField("track_idx", LongType()),
        StructField("track_id", LongType()),
        StructField("handler", StringType()),
        StructField("codec", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("n_samples", LongType()),
        StructField("n_keyframes", LongType()),
        StructField("track_duration_ms", LongType()),
        StructField("media_start_ms", LongType()),
    ]
)

KEYFRAME_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("track_idx", LongType()),
        StructField("sample_number", LongType()),
        StructField("offset", LongType()),
        StructField("size", LongType()),
        StructField("payload_crc32", LongType()),
    ]
)

_META_COLS = [f.name for f in MP4_META_SCHEMA.fields]
_KF_COLS = [f.name for f in KEYFRAME_SCHEMA.fields]


def mp4_meta(media: DataFrame) -> DataFrame:
    """One row per TRACK (long format — the join-friendly shape;
    movie-level fields repeat per row): the container walk as an
    Arrow kernel. Corrupt / truncated / non-BMFF blobs emit nothing
    (S4 skip). Expects (doc_id, blob)."""

    def kernel(batches):
        import pandas as pd

        for batch in batches:
            rows = []
            for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
                meta = parse_mp4_meta(
                    bytes(blob) if blob is not None else None
                )
                if meta is None:
                    continue
                for idx, tr in enumerate(meta["tracks"]):
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "brand": meta["brand"],
                            "movie_duration_ms": meta["duration_ms"],
                            "n_tracks": meta["n_tracks"],
                            "n_fragments": meta["n_fragments"],
                            "track_idx": idx,
                            "track_id": tr["track_id"],
                            "handler": tr["handler"],
                            "codec": tr["codec"],
                            "width": tr["width"],
                            "height": tr["height"],
                            "n_samples": tr["n_samples"],
                            "n_keyframes": tr["n_keyframes"],
                            "track_duration_ms": tr["duration_ms"],
                            "media_start_ms": tr["media_start_ms"],
                        }
                    )
            yield pd.DataFrame(rows, columns=_META_COLS)

    return media.filter(
        F.col("doc_id").isNotNull() & F.col("blob").isNotNull()
    ).mapInPandas(kernel, MP4_META_SCHEMA)


def sample_mp4_keyframes(media: DataFrame, every: int = 1) -> DataFrame:
    """Every ``every``-th sync sample per track as (offset, size) +
    a CRC32 of the payload bytes the range slices — the proof the
    range landed on the sample, and the column a downstream decoder
    stage would consume instead of the whole blob. Corrupt blobs and
    out-of-blob ranges emit nothing (S4). Expects (doc_id, blob)."""
    return MP4_KEYFRAMES.extract(media, every)


def _keyframe_kernel(every: int):
    """mapInPandas body factory for :func:`sample_mp4_keyframes`
    (module-level so the fused composition can reuse it)."""

    def kernel(batches):
        import zlib

        import pandas as pd

        for batch in batches:
            rows = []
            for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
                b = bytes(blob) if blob is not None else None
                ranges = keyframe_byte_ranges(b, every)
                if not ranges:
                    continue
                for r in ranges:
                    payload = b[r["offset"]:r["offset"] + r["size"]]
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "track_idx": r["track_idx"],
                            "sample_number": r["sample_number"],
                            "offset": r["offset"],
                            "size": r["size"],
                            "payload_crc32": zlib.crc32(payload),
                        }
                    )
            yield pd.DataFrame(rows, columns=_KF_COLS)

    return kernel


def mp4_keyframes_from_docs(
    docs: DataFrame, every: int = 1, n_samples: int = 12
) -> DataFrame:
    """Corpus synthesis + keyframe sampling in ONE Python hop (guide
    §4.1 via :mod:`.fuse`) — bit-identical rows to
    ``sample_mp4_keyframes(synthetic_mp4_corpus(docs).select(...),
    every)``."""
    return MP4_KEYFRAMES.from_docs(docs, (n_samples,), (every,))


MP4_SEGMENT_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("seg_idx", LongType()),
        StructField("offset", LongType()),
        StructField("size", LongType()),
        StructField("duration_ms", LongType()),
        StructField("starts_with_sap", LongType()),
        StructField("is_index", LongType()),
        StructField("payload_crc32", LongType()),
    ]
)

_SEG_COLS = [f.name for f in MP4_SEGMENT_SCHEMA.fields]


def mp4_segments(media: DataFrame) -> DataFrame:
    """One row per ``sidx`` subsegment — the DASH addressing table as
    an Arrow kernel: (doc_id, seg_idx, offset, size, duration_ms,
    starts_with_sap, is_index, payload_crc32). The CRC proves each
    range sliced the bytes it claims (the `sample_mp4_keyframes`
    convention — a downstream ranged reader consumes the offsets,
    the CRC is the audit column). Blobs without a top-level sidx —
    or with one whose ranges run past the blob — emit nothing (S4).
    Expects (doc_id, blob)."""

    def kernel(batches):
        import zlib

        import pandas as pd

        for batch in batches:
            rows = []
            for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
                b = bytes(blob) if blob is not None else None
                segs = mp4_segment_index(b)
                if not segs:
                    continue
                for s in segs:
                    payload = b[s["offset"]:s["offset"] + s["size"]]
                    rows.append(
                        {
                            "doc_id": int(doc_id),
                            "seg_idx": s["seg_idx"],
                            "offset": s["offset"],
                            "size": s["size"],
                            "duration_ms": s["duration_ms"],
                            "starts_with_sap": int(s["starts_with_sap"]),
                            "is_index": int(s["is_index"]),
                            "payload_crc32": zlib.crc32(payload),
                        }
                    )
            yield pd.DataFrame(rows, columns=_SEG_COLS)

    return media.filter(
        F.col("doc_id").isNotNull() & F.col("blob").isNotNull()
    ).mapInPandas(kernel, MP4_SEGMENT_SCHEMA)


def synthetic_mp4_corpus(docs: DataFrame, n_samples: int = 12) -> DataFrame:
    """Deterministic fixture MP4s keyed on doc_id: a video track
    (avc1-shaped entries, opaque payloads, every-3rd sample sync) +
    an audio track on even docs; every 5th doc co64, every 7th a
    version-1 mvhd, every doc_id % 3 == 1 FRAGMENTED (§8.8
    moof/mdat layout, 3 fragments, per-sample trun flags), and —
    r10 — every progressive doc_id % 11 == 3 carries an EDIT LIST
    trimming its first sample (media_time 20 at delta 20) with a
    deterministic presentation duration — cycling the wire shapes
    the parser must hold. Same (doc_id, blob, media_type) contract
    as the other synthetic corpora in :mod:`.multimodal`."""
    return MP4_KEYFRAMES.corpus(docs, n_samples)


def _mp4_corpus_kernel(n_samples: int):
    """mapInPandas body factory for :func:`synthetic_mp4_corpus`."""

    def kernel(batches):
        import pandas as pd

        for batch in batches:
            blobs = []
            for doc_id in batch["doc_id"]:
                d = int(doc_id)
                vsamples = [
                    bytes([(d + i) % 256]) * (20 + (d + i) % 40)
                    for i in range(n_samples)
                ]
                asamples = [
                    bytes([(d * 3 + i) % 256]) * 8
                    for i in range(n_samples * 2)
                ]
                if d % 3 == 1:
                    per = n_samples // 3
                    tracks = [
                        {"track_id": 1, "handler": "vide",
                         "codec": "avc1", "width": 64 + d % 16 * 4,
                         "height": 36 + d % 9 * 4, "timescale": 600,
                         "default_duration": 20},
                    ]
                    if d % 2 == 0:
                        tracks.append(
                            {"track_id": 2, "handler": "soun",
                             "codec": "mp4a", "timescale": 48000,
                             "default_duration": 1024}
                        )
                    frags = []
                    for f in range(3):
                        ft = [
                            {"track_id": 1,
                             "samples": vsamples[f * per:(f + 1) * per],
                             "sync": {1, 4}}
                        ]
                        if d % 2 == 0:
                            ft.append(
                                {"track_id": 2,
                                 "samples": asamples[
                                     f * per * 2:(f + 1) * per * 2
                                 ]}
                            )
                        frags.append(ft)
                    blobs.append(
                        encode_fmp4(
                            tracks, frags,
                            explicit_base=d % 5 == 0,
                            # r10: half the fragmented docs carry a
                            # DASH segment index
                            sidx=d % 6 == 1,
                        )
                    )
                    continue
                tracks = [
                    {
                        "handler": "vide", "codec": "avc1",
                        "width": 64 + d % 16 * 4,
                        "height": 36 + d % 9 * 4,
                        "samples": vsamples,
                        "keyframes": list(range(1, n_samples + 1, 3)),
                        "samples_per_chunk": 4,
                    }
                ]
                if d % 11 == 3:
                    # §8.6.6 edit: trim the first sample (delta 20)
                    # and set a deterministic presentation duration
                    tracks[0]["elst"] = [(700 + d % 7 * 20, 20, 1)]
                if d % 2 == 0:
                    tracks.append(
                        {
                            "handler": "soun", "codec": "mp4a",
                            "samples": asamples,
                        }
                    )
                blobs.append(
                    encode_mp4(
                        tracks,
                        movie_duration=1000 + d % 50 * 100,
                        co64=d % 5 == 0,
                        mvhd_version=1 if d % 7 == 0 else 0,
                    )
                )
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"], "blob": blobs,
                 "media_type": ["video/mp4"] * len(blobs)}
            )

    return kernel


MP4_KEYFRAMES = MediaFamily(
    KEYFRAME_SCHEMA,
    Corpus(Factory(_mp4_corpus_kernel), fan_out=True),
    Factory(_keyframe_kernel),
)
