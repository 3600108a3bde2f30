"""HEIF/HEIC/AVIF still-image metadata — the modern phone-camera
formats through the SAME ISO-BMFF machinery as MP4 (r13; VERDICT r12
"What's missing" #3: these files triaged as broken mp4s instead of
images with known dimensions).

HEIF (ISO/IEC 23008-12) stores still images as ITEMS in a top-level
``meta`` FullBox rather than as tracks:

    ftyp  (brand heic/heix/mif1/... or avif/avis)
    meta  [FullBox! 4 version/flags bytes before the children]
      hdlr   handler 'pict'
      pitm   primary item id        (v0: u16, v1: u32)
      iinf   item list: infe boxes  (item id, protection, item_type
                                     4CC — hvc1/av01/grid/Exif/mime)
      iloc   item→byte-extent map   (offset/length/base nibble sizes,
                                     per-item extents into mdat/idat)
      iprp
        ipco   ordered property boxes (ispe = u32 width, u32 height;
                irot = 2-bit CCW rotation; hvcC/av1C/colr/pixi...)
        ipma   item → 1-based property-index associations

We reuse :mod:`.mp4`'s box walker, readers and resource caps verbatim
(one §4.2 implementation for the whole ISO-BMFF family) and add only
the item-level boxes. The primary item's dimensions come from its
ipma-associated ``ispe`` (falling back to the first ispe in ipco when
ipma is absent — the single-image fast path many writers emit).
HEVC/AV1 PAYLOAD decode stays behind the repo's codec-bitstream ADR
gate; this module reports structure: brand, primary item, item count
and types, dimensions, rotation, Exif presence, and total extent
bytes — everything a 100 TB curation pass needs to route and filter
camera imagery without a pixel decode.

S4 contract as everywhere: hostile/truncated bytes → ``None``, never
a raise; the caps are the mp4 module's (box count, depth), plus an
item cap here.
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

from .fuse import BLOB_SCHEMA, Corpus, MediaFamily
from .mp4 import (
    _Bomb,
    _Truncated,
    _fullbox,
    _top_level,
    _u8,
    _u16,
    _u32,
    _u64,
    _walk,
)

#: brands that mean "this ISO-BMFF blob is a still image, not a
#: movie" (HEIF §B.4 / AVIF spec §4). heix = 10-bit profile; mif1 =
#: the structural brand every HEIF writer lists; avis = AVIF
#: sequence (image-first handling is still the right routing).
HEIF_BRANDS = {b"heic", b"heix", b"mif1", b"msf1", b"avif", b"avis"}

_MAX_ITEMS = 4096


def sniff_heif(blob: bytes) -> str | None:
    """'heic' / 'avif' when the ftyp MAJOR brand (or, failing that,
    a compatible brand) marks a HEIF still; None otherwise. Cheap:
    reads only the ftyp box."""
    b = bytes(blob or b"")
    if len(b) < 16 or b[4:8] != b"ftyp":
        return None
    (size,) = struct.unpack_from(">I", b, 0)
    if size < 16 or size > 1024:
        return None
    brands = [b[8:12]] + [
        b[o:o + 4] for o in range(16, min(size, len(b)) - 3, 4)
    ]
    for br in brands:
        if br in (b"avif", b"avis"):
            return "avif"
        if br in (b"heic", b"heix"):
            return "heic"
    # mif1/msf1 alone: structural HEIF — report by item codec later;
    # classify as heic (the dominant writer family)
    if brands[0] in (b"mif1", b"msf1"):
        return "heic"
    return None


def _parse_pitm(blob, s, e):
    v, _fl, p = _fullbox(blob, s)
    return _u16(blob, p) if v == 0 else _u32(blob, p)


def _parse_iinf(blob, s, e, counter):
    v, _fl, p = _fullbox(blob, s)
    n = _u16(blob, p) if v == 0 else _u32(blob, p)
    p += 2 if v == 0 else 4
    if n > _MAX_ITEMS:
        raise _Bomb()
    items = {}
    for btype, is_, ie, _b0 in _walk(blob, p, e, 4, counter):
        if btype != b"infe":
            continue
        iv, _ifl, ip = _fullbox(blob, is_)
        if iv < 2:
            continue  # v0/1 carry no item_type; nothing to route on
        item_id = _u16(blob, ip) if iv == 2 else _u32(blob, ip)
        ip += 2 if iv == 2 else 4
        ip += 2  # item_protection_index
        items[item_id] = blob[ip:ip + 4].decode("latin-1")
    return items


def _parse_iloc(blob, s, e):
    """item_id → total extent length (bytes). Offsets are parsed but
    only summed lengths are reported — triage routes on size, the
    gated payload decode would need the offsets."""
    v, _fl, p = _fullbox(blob, s)
    sizes = _u16(blob, p)
    p += 2
    offset_size = sizes >> 12
    length_size = (sizes >> 8) & 0xF
    base_size = (sizes >> 4) & 0xF
    index_size = sizes & 0xF if v in (1, 2) else 0
    if v < 2:
        n = _u16(blob, p)
        p += 2
    else:
        n = _u32(blob, p)
        p += 4
    if n > _MAX_ITEMS:
        raise _Bomb()

    def read_sized(sz, pos):
        if sz == 0:
            return 0, pos
        if sz == 4:
            return _u32(blob, pos), pos + 4
        if sz == 8:
            return _u64(blob, pos), pos + 8
        raise _Truncated()

    out = {}
    for _ in range(n):
        item_id = _u16(blob, p) if v < 2 else _u32(blob, p)
        p += 2 if v < 2 else 4
        if v in (1, 2):
            p += 2  # reserved + construction_method
        p += 2  # data_reference_index
        _base, p = read_sized(base_size, p)
        extent_count = _u16(blob, p)
        p += 2
        if extent_count > _MAX_ITEMS:
            raise _Bomb()
        total = 0
        for _x in range(extent_count):
            if index_size:
                _idx, p = read_sized(index_size, p)
            _off, p = read_sized(offset_size, p)
            ln, p = read_sized(length_size, p)
            total += ln
        out[item_id] = total
    return out


def _parse_ipco(blob, s, e, counter):
    """Ordered property list: [('ispe', (w, h)) | ('irot', ccw) |
    (4cc, None) ...] — order matters, ipma indexes into it 1-based."""
    props = []
    for btype, is_, ie, _b0 in _walk(blob, s, e, 5, counter):
        if btype == b"ispe":
            _v, _fl, p = _fullbox(blob, is_)
            props.append(("ispe", (_u32(blob, p), _u32(blob, p + 4))))
        elif btype == b"irot":
            props.append(("irot", _u8(blob, is_) & 0x3))
        else:
            props.append((btype.decode("latin-1"), None))
    return props


def _parse_ipma(blob, s, e):
    """item_id → [1-based property indices]."""
    v, fl, p = _fullbox(blob, s)
    n = _u32(blob, p)
    p += 4
    if n > _MAX_ITEMS:
        raise _Bomb()
    wide = bool(fl & 1)
    out = {}
    for _ in range(n):
        item_id = _u16(blob, p) if v == 0 else _u32(blob, p)
        p += 2 if v == 0 else 4
        cnt = _u8(blob, p)
        p += 1
        idxs = []
        for _a in range(cnt):
            if wide:
                raw = _u16(blob, p)
                p += 2
                idxs.append(raw & 0x7FFF)
            else:
                raw = _u8(blob, p)
                p += 1
                idxs.append(raw & 0x7F)
        out[item_id] = idxs
    return out


def parse_heif_meta(blob: bytes | None) -> dict | None:
    """{brand, codec ('heic'|'avif'), primary_item, n_items,
    item_types (sorted '4cc:n' census string), width, height,
    rotation (CCW degrees or None), has_exif, primary_bytes} for a
    HEIF still, or None (S4) for non-HEIF / broken-before-meta
    input."""
    b = bytes(blob or b"")
    codec = sniff_heif(b)
    if codec is None:
        return None
    counter = [0]
    try:
        out = {
            "brand": b[8:12].decode("latin-1"), "codec": codec,
            "primary_item": None, "n_items": 0, "item_types": None,
            "width": None, "height": None, "rotation": None,
            "has_exif": False, "primary_bytes": None,
        }
        meta_span = None
        for btype, s, e, _b0 in _top_level(b, counter):
            if btype == b"meta":
                meta_span = (s, e)
                break
        if meta_span is None:
            return None
        _v, _fl, p = _fullbox(b, meta_span[0])
        items = {}
        iloc = {}
        props = []
        ipma = {}
        for btype, s, e, _b0 in _walk(
            b, p, meta_span[1], 2, counter
        ):
            if btype == b"pitm":
                out["primary_item"] = _parse_pitm(b, s, e)
            elif btype == b"iinf":
                items = _parse_iinf(b, s, e, counter)
            elif btype == b"iloc":
                iloc = _parse_iloc(b, s, e)
            elif btype == b"iprp":
                for jt, js, je, _jb in _walk(b, s, e, 3, counter):
                    if jt == b"ipco":
                        props = _parse_ipco(b, js, je, counter)
                    elif jt == b"ipma":
                        ipma = _parse_ipma(b, js, je)
        out["n_items"] = len(items)
        if items:
            census: dict[str, int] = {}
            for t in items.values():
                census[t] = census.get(t, 0) + 1
            out["item_types"] = ",".join(
                "%s:%d" % (k, census[k]) for k in sorted(census)
            )
            out["has_exif"] = "Exif" in census
        # primary item's ispe/irot via its ipma associations
        pid = out["primary_item"]
        assoc = ipma.get(pid, []) if pid is not None else []
        picked = [
            props[i - 1] for i in assoc if 0 < i <= len(props)
        ] or props
        for name, val in picked:
            if name == "ispe" and out["width"] is None:
                out["width"], out["height"] = val
            elif name == "irot" and out["rotation"] is None:
                out["rotation"] = val * 90
        if pid is not None and pid in iloc:
            out["primary_bytes"] = iloc[pid]
        return out
    except (_Truncated, struct.error, IndexError):
        return None


# ── fixture encoder (hand-built boxes, payload stays opaque) ────


def _box(btype: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + btype + payload


def _full(btype: bytes, version: int, flags: int,
          payload: bytes) -> bytes:
    return _box(
        btype, struct.pack(">B", version)
        + struct.pack(">I", flags)[1:] + payload
    )


def encode_heif(width: int, height: int, codec: str = "heic",
                rotation: int | None = None,
                with_exif: bool = False,
                payload: bytes = b"\x00\x01\x02\x03") -> bytes:
    """Minimal valid HEIF/AVIF still: ftyp + meta(hdlr, pitm, iinf,
    iloc, iprp(ipco+ipma)) + mdat. The coded payload is opaque bytes
    (HEVC/AV1 bitstreams are ADR-gated; the walker never reads
    them). Deterministic."""
    item_type = b"av01" if codec == "avif" else b"hvc1"
    brand = b"avif" if codec == "avif" else b"heic"
    ftyp = _box(b"ftyp", brand + struct.pack(">I", 0)
                + brand + b"mif1")
    hdlr = _full(b"hdlr", 0, 0,
                 struct.pack(">I", 0) + b"pict" + bytes(12) + b"\x00")
    pitm = _full(b"pitm", 0, 0, struct.pack(">H", 1))
    infes = [_full(b"infe", 2, 0,
                   struct.pack(">HH", 1, 0) + item_type + b"\x00")]
    if with_exif:
        infes.append(_full(b"infe", 2, 0,
                           struct.pack(">HH", 2, 0) + b"Exif\x00"))
    iinf = _full(b"iinf", 0, 0,
                 struct.pack(">H", len(infes)) + b"".join(infes))
    exif_payload = (
        b"\x00\x00\x00\x00" + b"II*\x00" + bytes(12)
        if with_exif else b""
    )
    props = [_full(b"ispe", 0, 0, struct.pack(">II", width, height))]
    assoc_count = [1]
    if rotation is not None:
        props.append(_box(b"irot",
                          struct.pack(">B", (rotation // 90) & 3)))
        assoc_count = [1, 2]
    ipco = _box(b"ipco", b"".join(props))
    ipma_entries = struct.pack(">HB", 1, len(assoc_count)) + bytes(
        idx for idx in assoc_count
    )
    if with_exif:
        ipma_entries += struct.pack(">HB", 2, 0)
    ipma = _full(b"ipma", 0, 0,
                 struct.pack(">I", 2 if with_exif else 1)
                 + ipma_entries)
    iprp = _box(b"iprp", ipco + ipma)
    # iloc v1 with 4-byte offsets/lengths, base 0; offsets are
    # absolute file offsets into mdat, computed after sizing
    mdat_payload = payload + exif_payload
    mdat = _box(b"mdat", mdat_payload)

    def iloc_item(item_id: int, off: int, ln: int) -> bytes:
        # v1 layout: item_id, reserved+construction_method,
        # data_reference_index, (no base: size 0), extent_count,
        # then one (offset u32, length u32) extent
        return struct.pack(">HHHHII", item_id, 0, 0, 1, off, ln)

    def iloc_box(file_off: int) -> bytes:
        n = 2 if with_exif else 1
        body = struct.pack(">HH", 0x4400, n)
        body += iloc_item(1, file_off, len(payload))
        if with_exif:
            body += iloc_item(2, file_off + len(payload),
                              len(exif_payload))
        return _full(b"iloc", 1, 0, body)

    # two-pass sizing: iloc size is independent of the offset value
    meta_children = hdlr + pitm + iinf + iloc_box(0) + iprp
    meta = _full(b"meta", 0, 0, meta_children)
    file_off = len(ftyp) + len(meta) + 8  # mdat payload start
    meta_children = hdlr + pitm + iinf + iloc_box(file_off) + iprp
    meta = _full(b"meta", 0, 0, meta_children)
    return ftyp + meta + mdat


# ── Spark surface ───────────────────────────────────────────────

HEIF_META_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("brand", StringType()),
    StructField("codec", StringType()),
    StructField("primary_item", LongType()),
    StructField("n_items", LongType()),
    StructField("item_types", StringType()),
    StructField("width", LongType()),
    StructField("height", LongType()),
    StructField("rotation", LongType()),
    StructField("has_exif", BooleanType()),
    StructField("primary_bytes", LongType()),
])

_HEIF_COLS = [f.name for f in HEIF_META_SCHEMA.fields]


def heif_meta(media):
    """Map-only Arrow kernel: one row per HEIF/AVIF still —
    (doc_id, brand, codec, primary_item, n_items, item_types, width,
    height, rotation, has_exif, primary_bytes). Non-HEIF / broken
    blobs emit nothing (S4). Expects (doc_id, blob)."""
    return HEIF.extract(media)


def _meta_kernel(batches):
    """mapInPandas body of :func:`heif_meta` (module-level so the
    fused composition can reuse it; null blobs S4-skip in-kernel)."""
    import pandas as pd

    for batch in batches:
        rows = []
        for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
            m = parse_heif_meta(
                bytes(blob) if blob is not None else b""
            )
            if m is None:
                continue
            rows.append({"doc_id": int(doc_id), **m})
        yield pd.DataFrame(rows, columns=_HEIF_COLS)


def heif_meta_from_docs(docs):
    """Corpus synthesis + item walk in ONE Python hop (guide §4.1
    via :mod:`.fuse`) — bit-identical rows to
    ``heif_meta(synthetic_heif_corpus(docs))``."""
    return HEIF.from_docs(docs)


def synthetic_heif_corpus(docs):
    """(doc_id, blob): deterministic HEIF stills — heic/avif cycling
    dimensions, rotation and Exif items; d % 5 == 4 truncates inside
    meta (identified, not parseable). The triage mixed corpus's HEIF
    leg delegates here."""
    return HEIF.corpus(docs)


def _heif_corpus_kernel(batches):
    """mapInPandas body of :func:`synthetic_heif_corpus`."""
    import pandas as pd

    for batch in batches:
        blobs = []
        for doc_id in batch["doc_id"]:
            d = int(doc_id)
            codec = ("heic", "avif")[d % 2]
            blob = encode_heif(
                64 + 16 * (d % 5), 48 + 16 * (d % 3), codec,
                rotation=(None, 90, 180, 270)[d % 4],
                with_exif=(d % 3 == 0),
            )
            if d % 5 == 4:
                blob = blob[: len(blob) // 2]
            blobs.append(blob)
        yield pd.DataFrame(
            {"doc_id": batch["doc_id"], "blob": blobs}
        )


HEIF = MediaFamily(
    HEIF_META_SCHEMA, Corpus(_heif_corpus_kernel, BLOB_SCHEMA), _meta_kernel
)
