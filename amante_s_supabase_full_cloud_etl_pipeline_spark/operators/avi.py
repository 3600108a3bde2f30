"""AVI (RIFF) video container walk + MJPEG frame decode — the one
legacy video container in real web corpora the engine had no walker
for (r13; VERDICT r12 "What's missing" #4).

Format (Microsoft AVI RIFF, public): ``RIFF<size>AVI `` then LIST
chunks —

    LIST hdrl
      avih            main header: µs/frame, total frames, stream
                      count, width, height
      LIST strl (per stream)
        strh          fccType (vids/auds/txts), fccHandler,
                      dwScale/dwRate (fps = rate/scale), dwLength
        strf          vids → BITMAPINFOHEADER (dims, biCompression
                      fourcc, e.g. 'MJPG'); auds → WAVEFORMATEX
    LIST movi         frame chunks '##dc'/'##db' (video) / '##wb'
                      (audio), ## = 2-digit stream number; possibly
                      grouped in LIST 'rec '
    idx1 (optional)   (chunk-id, flags, offset, size) entries;
                      AVIIF_KEYFRAME = 0x10; offsets are relative to
                      the movi payload start (quirk: some muxers
                      write absolute file offsets — both handled)

MJPEG ('MJPG') frames are plain JPEG bitstreams, so
:func:`mjpeg_frames` routes them through the engine's existing
pure-numpy JPEG kernel (operators/jpeg.py) — the first video family
whose frames decode to pixels here; other video codecs stay behind
the repo's bitstream ADR gate (we report structure, never guess a
decoder).

Caps + S4 as everywhere: chunk-count and depth budgets; damaged or
hostile bytes → None, never a task death; a torn tail keeps the
frames that parsed (lenient, like the mp4 top-level walk).
"""

from __future__ import annotations

import struct

from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .fuse import BLOB_SCHEMA, corpus_frame

_MAX_CHUNKS = 1 << 18
_MAX_STREAMS = 64


class _Broken(Exception):
    pass


def sniff_avi(blob: bytes) -> bool:
    b = bytes(blob or b"")
    return len(b) >= 12 and b[:4] == b"RIFF" and b[8:12] == b"AVI "


def _chunks(b: bytes, start: int, end: int, counter: list):
    """(fourcc, payload_start, payload_end) per RIFF chunk in
    [start, end); word-aligned sizes; lenient: a chunk running past
    the scope ends the walk (torn tail keeps the prefix)."""
    o = start
    while o + 8 <= end:
        counter[0] += 1
        if counter[0] > _MAX_CHUNKS:
            raise _Broken("chunk cap")
        cid = b[o:o + 4]
        (size,) = struct.unpack_from("<I", b, o + 4)
        if o + 8 + size > end:
            # torn tail: yield the chunk CLAMPED to the bytes we
            # have (the mp4 walker's tolerant-tail spirit — a cut
            # movi still surfaces its leading frames), then stop
            yield cid, o + 8, end
            return
        yield cid, o + 8, o + 8 + size
        o += 8 + size + (size & 1)


def _parse_avih(b, s, e):
    if e - s < 40:
        raise _Broken("avih short")
    (usec, _mb, _pg, flags, total, _init, streams, _sb,
     w, h) = struct.unpack_from("<10I", b, s)
    return {
        "usec_per_frame": usec, "total_frames": total,
        "n_streams": streams, "width": w, "height": h,
        "has_index_flag": bool(flags & 0x10),
    }


def _parse_strh(b, s, e):
    if e - s < 48:
        raise _Broken("strh short")
    fcc_type = b[s:s + 4].decode("latin-1")
    handler = b[s + 4:s + 8].decode("latin-1").strip("\x00 ")
    (_fl, _prio, _init, scale, rate, _start,
     length) = struct.unpack_from("<IIIIIII", b, s + 8)
    fps = None
    if scale and fcc_type == "vids":
        fps = round(rate / scale, 3)
    return {"type": fcc_type, "handler": handler, "scale": scale,
            "rate": rate, "n_frames": length, "fps": fps}


def _parse_strf_vids(b, s, e):
    if e - s < 20:
        raise _Broken("strf short")
    _bi, w, h = struct.unpack_from("<Iii", b, s)
    comp = b[s + 16:s + 20].decode("latin-1").strip("\x00")
    return {"width": abs(w), "height": abs(h),
            "compression": comp or "RGB"}


def _parse_strf_auds(b, s, e):
    if e - s < 16:
        raise _Broken("strf short")
    fmt, ch, rate = struct.unpack_from("<HHI", b, s)
    return {"audio_format": fmt, "channels": ch,
            "sample_rate": rate}


def parse_avi_meta(blob: bytes | None) -> dict | None:
    """{width, height, duration_ms, n_streams, total_frames, fps,
    streams: [{type, handler, fps, n_frames, width/height |
    channels/sample_rate, compression}], n_movi_chunks, has_idx1}
    or None (S4) for non-AVI / broken-before-hdrl input. A torn
    movi tail degrades to the parsed prefix's chunk count."""
    b = bytes(blob or b"")
    if not sniff_avi(b):
        return None
    counter = [0]
    try:
        (riff_size,) = struct.unpack_from("<I", b, 4)
        end = min(8 + riff_size, len(b))
        out = {
            "width": None, "height": None, "duration_ms": None,
            "n_streams": 0, "total_frames": None, "fps": None,
            "streams": [], "n_movi_chunks": 0, "has_idx1": False,
        }
        saw_hdrl = False
        for cid, s, e in _chunks(b, 12, end, counter):
            if cid == b"LIST":
                kind = b[s:s + 4]
                if kind == b"hdrl":
                    saw_hdrl = True
                    _walk_hdrl(b, s + 4, e, counter, out)
                elif kind == b"movi":
                    out["n_movi_chunks"] = sum(
                        1 for _ in _movi_frames(b, s + 4, e, counter)
                    )
            elif cid == b"idx1":
                out["has_idx1"] = True
        if not saw_hdrl:
            return None
        if out["width"] is None and not out["streams"]:
            # hdrl LIST tag seen but nothing inside parsed (a blob
            # torn inside the header): identified, not parseable
            return None
        # .get: a strl can parse while a torn avih never ran
        if out.get("total_frames") and out.get("usec_per_frame"):
            out["duration_ms"] = (
                out["total_frames"] * out["usec_per_frame"] // 1000
            )
        out.pop("usec_per_frame", None)
        out.pop("has_index_flag", None)
        vid = next(
            (st for st in out["streams"] if st["type"] == "vids"),
            None,
        )
        if vid:
            out["fps"] = vid.get("fps")
        return out
    except (_Broken, struct.error):
        return None


def _walk_hdrl(b, s, e, counter, out):
    for cid, cs, ce in _chunks(b, s, e, counter):
        if cid == b"avih":
            out.update(_parse_avih(b, cs, ce))
        elif cid == b"LIST" and b[cs:cs + 4] == b"strl":
            if len(out["streams"]) >= _MAX_STREAMS:
                raise _Broken("stream cap")
            st = {}
            for k, ks, ke in _chunks(b, cs + 4, ce, counter):
                if k == b"strh":
                    st.update(_parse_strh(b, ks, ke))
                elif k == b"strf" and st.get("type") == "vids":
                    st.update(_parse_strf_vids(b, ks, ke))
                elif k == b"strf" and st.get("type") == "auds":
                    st.update(_parse_strf_auds(b, ks, ke))
            if st:
                out["streams"].append(st)


def _movi_frames(b, s, e, counter):
    """(stream_no, kind, payload_start, payload_end) per frame chunk
    inside movi, recursing into LIST 'rec ' groups."""
    for cid, cs, ce in _chunks(b, s, e, counter):
        if cid == b"LIST" and b[cs:cs + 4] == b"rec ":
            yield from _movi_frames(b, cs + 4, ce, counter)
            continue
        if (
            len(cid) == 4 and cid[:2].isdigit()
            and cid[2:] in (b"dc", b"db", b"wb")
        ):
            yield int(cid[:2]), cid[2:].decode(), cs, ce


def avi_frame_index(blob: bytes | None, stream: int = 0):
    """[(offset, size, keyframe)] for one video stream's chunks —
    offsets into the blob. Keyframe flags come from idx1 when
    present (handling both offset conventions); without idx1 every
    frame reports keyframe=True for intra-only codecs (MJPEG) and
    None otherwise. None (S4) on non-AVI."""
    b = bytes(blob or b"")
    if not sniff_avi(b):
        return None
    counter = [0]
    try:
        (riff_size,) = struct.unpack_from("<I", b, 4)
        end = min(8 + riff_size, len(b))
        frames = []
        movi_payload = None
        idx_flags = {}
        comp = None
        for cid, s, e in _chunks(b, 12, end, counter):
            if cid == b"LIST" and b[s:s + 4] == b"hdrl":
                out = {"streams": []}
                _walk_hdrl(b, s + 4, e, counter, out)
                vids = [st for st in out["streams"]
                        if st["type"] == "vids"]
                if vids:
                    comp = vids[0].get("compression")
            elif cid == b"LIST" and b[s:s + 4] == b"movi":
                movi_payload = s + 4
                for sn, kind, cs, ce in _movi_frames(
                    b, s + 4, e, counter
                ):
                    if sn == stream and kind in ("dc", "db"):
                        frames.append([cs, ce - cs, None])
            elif cid == b"idx1":
                n = (e - s) // 16
                if n > _MAX_CHUNKS:
                    raise _Broken("idx cap")
                for i in range(n):
                    cid4 = b[s + i * 16:s + i * 16 + 4]
                    fl, off, _sz = struct.unpack_from(
                        "<III", b, s + i * 16 + 4
                    )
                    idx_flags[(cid4, off)] = bool(fl & 0x10)
        if movi_payload is not None and idx_flags:
            tag = b"%02ddc" % stream
            for fr in frames:
                # idx1 offsets: relative to movi payload start - 4
                # (pointing at the chunk header inside the LIST) or
                # absolute — try both
                hdr = fr[0] - 8
                rel = hdr - (movi_payload - 4)
                for key in ((tag, rel), (tag, hdr)):
                    if key in idx_flags:
                        fr[2] = idx_flags[key]
                        break
        intra_only = comp in ("MJPG", "RGB")
        return [
            (
                off, size,
                (True if intra_only else None) if kf is None else kf,
            )
            for off, size, kf in frames
        ]
    except (_Broken, struct.error):
        return None


def mjpeg_frames(
    blob: bytes | None,
    every: int = 1,
    sample_ms: float | None = None,
):
    """Decoded (h, w, 3) numpy frames of an MJPEG AVI's first video
    stream — each chunk is a JPEG bitstream routed through
    operators/jpeg.py. None (S4) for non-AVI; per-frame damage skips
    just that frame.

    Sampling: ``every`` strides by INDEX. ``sample_ms`` (r13 — the
    video tier's canonical front-end) strides by WALL-CLOCK using
    the container's frame rate: frame k of the sample is the stored
    frame nearest t = k·sample_ms, so the SAME clip stored at a
    different fps yields the same sampled content (duplicate
    indices are emitted once). Falls back to index striding when
    the header carries no usable rate."""
    idx = avi_frame_index(blob)
    if idx is None:
        return None
    from .multimodal import decode_image

    b = bytes(blob or b"")
    picked = idx[::max(1, every)]
    if sample_ms is not None and sample_ms > 0 and idx:
        meta = parse_avi_meta(blob)
        fps = meta.get("fps") if meta else None
        if fps:
            # frames per sample slot; slots denser than frames →
            # every frame is some slot's nearest (bounded: one pass
            # over k = 0..n_slots, never a tiny-step spin)
            step = sample_ms * fps / 1000.0
            if step <= 1.0:
                picked = idx
            else:
                n_slots = int((len(idx) - 1) / step) + 1
                picked = [
                    idx[round(k * step)] for k in range(n_slots)
                    if round(k * step) < len(idx)
                ]
    out = []
    for off, size, _kf in picked:
        arr = decode_image(b[off:off + size], prefer_pil=False)
        if arr is not None:
            out.append(arr)
    return out


# ── fixture encoder ─────────────────────────────────────────────


def encode_avi(jpeg_frames: list[bytes], width: int, height: int,
               fps: int = 10, with_idx1: bool = True) -> bytes:
    """Minimal valid single-stream MJPEG AVI: hdrl(avih +
    strl(strh+strf)) + movi + optional idx1. Deterministic."""
    def chunk(cid: bytes, payload: bytes) -> bytes:
        return cid + struct.pack("<I", len(payload)) + payload + (
            b"\x00" if len(payload) & 1 else b"")

    def list_chunk(kind: bytes, payload: bytes) -> bytes:
        return chunk(b"LIST", kind + payload)

    n = len(jpeg_frames)
    avih = chunk(b"avih", struct.pack(
        "<10I", 1_000_000 // fps, 0, 0, 0x10, n, 0, 1, 0,
        width, height) + bytes(16))
    strh = chunk(b"strh", b"vids" + b"MJPG" + struct.pack(
        "<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, n, 0, 0, 0)
        + struct.pack("<4H", 0, 0, width, height))
    bmih = struct.pack("<Iii", 40, width, height) + struct.pack(
        "<HH", 1, 24) + b"MJPG" + struct.pack(
        "<IiiII", width * height * 3, 0, 0, 0, 0)
    strf = chunk(b"strf", bmih)
    hdrl = list_chunk(b"hdrl", avih + list_chunk(
        b"strl", strh + strf))
    movi_payload = b""
    offsets = []
    for fr in jpeg_frames:
        offsets.append(len(movi_payload) + 4)  # rel to 'movi' tag
        movi_payload += chunk(b"00dc", fr)
    movi = list_chunk(b"movi", movi_payload)
    idx1 = b""
    if with_idx1:
        entries = b"".join(
            b"00dc" + struct.pack("<III", 0x10, off,
                                  len(jpeg_frames[i]))
            for i, off in enumerate(offsets)
        )
        idx1 = chunk(b"idx1", entries)
    body = b"AVI " + hdrl + movi + idx1
    return b"RIFF" + struct.pack("<I", len(body)) + body


def synthetic_avi_corpus(docs):
    """(doc_id, blob): deterministic MJPEG AVIs — 2-5 frames of the
    image tier's smooth synthetic photos, cycling fps and idx1
    presence; d % 6 == 5 truncates mid-movi (the torn-tail shape)."""
    def kernel(batches):
        import pandas as pd

        from .image_fp import _base_image
        from .jpeg import encode_jpeg

        for batch in batches:
            blobs = []
            for doc_id in batch["doc_id"]:
                d = int(doc_id)
                # per-frame groups stride by 15 so every frame of
                # one AVI shares dims (sizes cycle mod 3 / mod 5)
                # while content differs
                imgs = [
                    _base_image(d * 151 % 997 + 15 * i)
                    for i in range(2 + d % 4)
                ]
                frames = [
                    encode_jpeg(im, quality=85) for im in imgs
                ]
                blob = encode_avi(
                    frames, imgs[0].shape[1], imgs[0].shape[0],
                    fps=(10, 15, 24)[d % 3],
                    with_idx1=(d % 2 == 0),
                )
                if d % 6 == 5:
                    blob = blob[: len(blob) * 2 // 3]
                blobs.append(blob)
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"], "blob": blobs}
            )

    return corpus_frame(docs, kernel, BLOB_SCHEMA, fan_out=True)


def avi_meta(media):
    """Map-only Arrow kernel: one row per AVI — container + first
    video stream metadata. Non-AVI/broken blobs emit nothing (S4).
    Expects (doc_id, blob)."""
    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("duration_ms", LongType()),
        StructField("n_streams", LongType()),
        StructField("total_frames", LongType()),
        StructField("fps_x1000", LongType()),
        StructField("compression", StringType()),
        StructField("n_movi_chunks", LongType()),
        StructField("has_idx1", BooleanType()),
    ])
    cols = [f.name for f in schema.fields]

    def kernel(batches):
        import pandas as pd

        for batch in batches:
            rows = []
            for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
                m = parse_avi_meta(
                    bytes(blob) if blob is not None else b""
                )
                if m is None:
                    continue
                vid = next(
                    (st for st in m["streams"]
                     if st["type"] == "vids"), {},
                )
                rows.append({
                    "doc_id": int(doc_id),
                    "width": m["width"],
                    "height": m["height"],
                    "duration_ms": m["duration_ms"],
                    "n_streams": m["n_streams"],
                    "total_frames": m["total_frames"],
                    "fps_x1000": int(m["fps"] * 1000)
                    if m["fps"] else None,
                    "compression": vid.get("compression"),
                    "n_movi_chunks": m["n_movi_chunks"],
                    "has_idx1": m["has_idx1"],
                })
            yield pd.DataFrame(rows, columns=cols)

    return media.filter(
        F.col("doc_id").isNotNull() & F.col("blob").isNotNull()
    ).mapInPandas(kernel, schema)
