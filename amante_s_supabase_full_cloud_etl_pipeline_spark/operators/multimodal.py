"""Multimodal column handling (charter extension, SURVEY.md §2.10).

Design: media (image/audio/video) live as opaque ``binary`` columns
with a typed metadata struct alongside — the lakehouse-standard
layout for multimodal training data. All Spark-side plumbing is real
(schema, batch iteration, partition sizing), and the image decode is
REAL for uncompressed formats:

- :func:`decode_image` decodes 24-bit uncompressed BMP, binary PPM
  (P6), 8-bit RGB/RGBA PNG (stdlib ``zlib``, all five scanline
  filters), AND JPEG — a full native Huffman+DCT decoder in
  :mod:`.jpeg` covering baseline/extended sequential (4:4:4 / 4:2:0
  / grayscale / restart markers), progressive SOF2 (T.81 Annex G),
  12-bit precision, and 4-component Adobe CMYK/YCCK, so the dominant
  web-crawl image format needs no image library in any of its
  Huffman-coded wire shapes. WebP and lossless/arithmetic JPEG
  decode automatically when PIL is importable (:func:`pil_available`
  probe); without PIL, those remaining formats gate behind a loud
  NotImplementedError in :func:`decode_image_batch` while per-row
  :func:`decode_image` returns None (S4 skip semantics). When PIL IS
  present, JPEG dispatch prefers libjpeg for throughput except where
  golden-value parity pins the native codec (see
  :func:`decode_image_features`).
- :func:`decode_wav` decodes RIFF audio — integer PCM 8/16/24/32,
  float32, EXTENSIBLE wrappers (proper chunk walk,
  stereo downmix) → waveform features; compressed audio formats
  gate exactly like compressed images.
- :func:`split_ppm_stream`/:func:`frame_sample` treat concatenated
  P6 frames (ffmpeg's image2pipe ppm output) as the video container:
  exact per-header frame boundaries, every-k sampling, inter-frame
  motion stats — the charter's frame-sample step with a real parser.
  REAL video containers live in :mod:`.mp4`: the full ISO-BMFF box
  walk (duration/tracks/codec/keyframes) plus keyframe byte-range
  sampling, with H.264/AAC bitstream decode gated by the same ADR
  that gates WebP here.
- :func:`image_feature_kernel` is the Arrow ``mapInPandas`` kernel:
  decode → stats (per-channel means, luminance moments) → resize
  (mean-pooled 8×8 thumb — the "resize" step of the charter).
- :func:`fake_decode_features` remains the byte-moment stand-in used
  where content is NOT an image (text-as-blob corpus).

At 100 TB: media rows are large, so the operators repartition by
byte-size budget rather than row count (``target_partition_mb``) —
the knob that keeps Arrow batches and executor memory bounded.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .fuse import Corpus, Factory, MediaFamily, corpus_frame

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

#: metadata struct carried next to every media blob
MEDIA_META_SCHEMA = StructType(
    [
        StructField("media_type", StringType()),
        StructField("byte_length", LongType()),
        StructField("content_md5", StringType()),
    ]
)

FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("byte_length", LongType()),
        StructField("feature", ArrayType(DoubleType())),
    ]
)


def attach_media_meta(df: DataFrame, blob_col: str = "blob") -> DataFrame:
    """Typed metadata from an opaque binary column — pure JVM
    expressions (length/md5), no decode."""
    return df.withColumn(
        "media_meta",
        F.struct(
            F.col("media_type").alias("media_type"),
            F.length(F.col(blob_col)).cast("long").alias("byte_length"),
            F.md5(F.col(blob_col)).alias("content_md5"),
        ),
    )


def documents_as_media(docs: DataFrame) -> DataFrame:
    """Local stand-in corpus: text bytes as the opaque blob (the
    pipeline doesn't care what the bytes encode)."""
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "UTF-8").alias("blob"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("image/png"))
        .when(F.col("doc_id") % 3 == 1, F.lit("audio/wav"))
        .otherwise(F.lit("video/mp4"))
        .alias("media_type"),
    )


def size_partitioned(df: DataFrame, total_bytes: int, target_partition_mb: int = 128) -> DataFrame:
    """Repartition a media table by byte budget, not row count —
    media rows are wildly variable-sized; this is the partitioning
    rule that keeps Arrow batches/executor memory bounded at scale."""
    n = max(1, total_bytes // (target_partition_mb * 1024 * 1024))
    return df.repartition(n)


def pil_available() -> bool:
    """Optional-dependency probe: True when PIL/Pillow is importable.
    Evaluated where it runs (driver or executor) — decode kernels call
    it lazily so the same code auto-upgrades the moment Pillow lands
    in the environment, with no configuration."""
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def _pil_decode(blob: bytes):
    """(h, w, 3) uint8 RGB via PIL, or None on failure — used for the
    formats the native decoders don't cover (JPEG, WebP, ...)."""
    import io

    import numpy as np
    import PIL.Image

    try:
        with PIL.Image.open(io.BytesIO(blob)) as im:
            return np.asarray(im.convert("RGB"), dtype=np.uint8).copy()
    except Exception:
        return None


_NATIVE_MAGICS = (b"BM", b"P6", b"\x89P", b"\xff\xd8", b"GIF8")


def decode_image_batch(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
    """mapInPandas kernel over mixed-codec blobs: the native set
    (BMP/PPM/PNG/LZW-GIF/baseline+progressive JPEG) decodes everywhere;
    formats outside it (WebP, lossless JPEG, ...) decode via PIL when the probe
    finds it and otherwise fail FAST and loudly — never a silent
    None-for-all. A native-format blob that fails its decoder is
    corrupt data → None feature (S4 per-row skip)."""
    import pandas as pd

    for batch in batches:
        feats = []
        for blob in batch["blob"]:
            if blob is None:
                feats.append(None)
                continue
            b = bytes(blob)
            arr = decode_image(b)
            if arr is None and not pil_available():
                # distinguish "legitimate format we can't decode" (loud
                # gate) from "corrupt native-format data" (S4 None):
                # unknown magic, or a JPEG whose SOF parses to a flavor
                # the native decoder declines (lossless/arithmetic/
                # hierarchical). The SOF check parses markers — a raw
                # substring scan would misfire on incidental bytes
                # inside APPn segments or the entropy stream.
                gated = not b.startswith(_NATIVE_MAGICS)
                if not gated and b[:2] == b"\xff\xd8":
                    from .jpeg import jpeg_frame_info, legitimate_undecodable_frame

                    # only a VALID flavor the native decoder declines
                    # (lossless/arithmetic/hierarchical) gates on
                    # PIL; an impossible SOF shape (bit-flipped
                    # precision/component count) or no frame at all is
                    # corrupt data → S4 skip, never a job failure
                    gated = legitimate_undecodable_frame(jpeg_frame_info(b))
                if gated:
                    raise NotImplementedError(
                        "compressed-image decode beyond BMP/PPM/PNG/JPEG "
                        "requires PIL/Pillow (pil_available() is False)"
                    )
            feats.append(
                None
                if arr is None
                else [float(arr.shape[0]), float(arr.shape[1]), float(arr.mean())]
            )
        yield pd.DataFrame(
            {
                "doc_id": batch["doc_id"],
                "media_type": batch["media_type"],
                "byte_length": batch["blob"].str.len().astype("int64"),
                "feature": feats,
            }
        )


# --------------------------------------------------------------------------
# Real pixel codecs: 24-bit uncompressed BMP + binary PPM (P6).
# Pure numpy — deterministic everywhere, no image libraries.
# --------------------------------------------------------------------------


def encode_ppm(pixels) -> bytes:
    """(h, w, 3) uint8 RGB → binary PPM (P6)."""
    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w = arr.shape[:2]
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


def encode_bmp24(pixels) -> bytes:
    """(h, w, 3) uint8 RGB → 24-bit uncompressed BMP (bottom-up rows,
    BGR byte order, rows padded to 4 bytes — the classic layout)."""
    import struct

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w = arr.shape[:2]
    row_len = (w * 3 + 3) & ~3
    body = bytearray()
    pad = b"\x00" * (row_len - w * 3)
    for y in range(h - 1, -1, -1):  # bottom-up
        body += arr[y, :, ::-1].tobytes() + pad  # RGB → BGR
    data_offset = 14 + 40
    file_size = data_offset + len(body)
    header = struct.pack("<2sIHHI", b"BM", file_size, 0, 0, data_offset)
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body), 2835, 2835, 0, 0)
    return header + info + bytes(body)


def _decode_ppm(blob: bytes):
    """Binary PPM (P6) → (h, w, 3) uint8, honoring comments and
    arbitrary whitespace in the header. Returns None if malformed."""
    import numpy as np

    if not blob.startswith(b"P6"):
        return None
    # tokenize header: magic, width, height, maxval (comments allowed)
    pos, fields = 2, []
    while len(fields) < 3 and pos < len(blob):
        ch = blob[pos : pos + 1]
        if ch == b"#":
            pos = blob.find(b"\n", pos)
            if pos < 0:
                return None
        elif ch.isspace():
            pos += 1
        else:
            end = pos
            while end < len(blob) and not blob[end : end + 1].isspace():
                end += 1
            fields.append(blob[pos:end])
            pos = end
    try:
        w, h, maxval = (int(f) for f in fields)
    except ValueError:
        return None
    if maxval != 255 or w <= 0 or h <= 0:
        return None
    pos += 1  # exactly one whitespace byte after maxval
    raw = blob[pos : pos + w * h * 3]
    if len(raw) != w * h * 3:
        return None
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w, 3).copy()


def _decode_bmp(blob: bytes):
    """24-bit uncompressed BMP → (h, w, 3) uint8 RGB; handles
    bottom-up (positive height) and top-down (negative) row order and
    4-byte row padding. Returns None for compressed/other depths."""
    import struct

    import numpy as np

    if len(blob) < 54 or blob[:2] != b"BM":
        return None
    data_offset = struct.unpack_from("<I", blob, 10)[0]
    _, w, h, _, bpp, compression = struct.unpack_from("<IiiHHI", blob, 14)
    if bpp != 24 or compression != 0 or w <= 0 or h == 0:
        return None
    top_down = h < 0
    h = abs(h)
    row_len = (w * 3 + 3) & ~3
    if data_offset + row_len * h > len(blob):
        return None
    rows = np.frombuffer(blob, dtype=np.uint8, count=row_len * h, offset=data_offset)
    rows = rows.reshape(h, row_len)[:, : w * 3].reshape(h, w, 3)
    if not top_down:
        rows = rows[::-1]
    return rows[:, :, ::-1].copy()  # BGR → RGB


_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def encode_png(pixels) -> bytes:
    """(h, w, 3) uint8 RGB → PNG (8-bit truecolor, filter 0 rows,
    stdlib zlib DEFLATE) — a real compressed codec with no image
    library."""
    import struct
    import zlib

    import numpy as np

    arr = np.asarray(pixels, dtype=np.uint8)
    h, w = arr.shape[:2]
    raw = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + tag
            + data
            + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def _decode_png(blob: bytes):
    """8-bit RGB/RGBA non-interlaced PNG → (h, w, 3) uint8 RGB (alpha
    dropped), honoring all five scanline filters (None/Sub/Up/
    Average/Paeth). Returns None for other PNG flavors or corrupt
    streams — per-row skip, S4 semantics. Reference-grade unfilter
    loop (rows vectorized for None/Up, per-byte for the sequential
    filters); production JPEG-scale decode rides the PIL probe."""
    import struct
    import zlib

    import numpy as np

    if not blob.startswith(_PNG_SIG):
        return None
    pos, ihdr, idat = len(_PNG_SIG), None, bytearray()
    while pos + 8 <= len(blob):
        (length,) = struct.unpack_from(">I", blob, pos)
        tag = blob[pos + 4 : pos + 8]
        data = blob[pos + 8 : pos + 8 + length]
        pos += 12 + length
        if tag == b"IHDR" and len(data) == 13:
            ihdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"IDAT":
            idat += data
        elif tag == b"IEND":
            break
    if ihdr is None:
        return None
    w, h, depth, ctype, comp, filt, interlace = ihdr
    if depth != 8 or ctype not in (2, 6) or comp or filt or interlace or w <= 0 or h <= 0:
        return None
    ch = 3 if ctype == 2 else 4
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error:
        return None
    stride = w * ch
    if len(raw) != h * (stride + 1):
        return None
    out = np.zeros((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    rpos = 0
    for y in range(h):
        ftype = raw[rpos]
        rpos += 1
        row = np.frombuffer(raw, dtype=np.uint8, count=stride, offset=rpos).astype(np.int32)
        rpos += stride
        if ftype == 0:
            cur = row
        elif ftype == 2:
            cur = (row + prev) % 256
        elif ftype in (1, 3, 4):
            cur = np.zeros(stride, dtype=np.int32)
            for x in range(stride):
                left = int(cur[x - ch]) if x >= ch else 0
                up = int(prev[x])
                if ftype == 1:
                    pred = left
                elif ftype == 3:
                    pred = (left + up) // 2
                else:  # Paeth
                    ul = int(prev[x - ch]) if x >= ch else 0
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pred = left if (pa <= pb and pa <= pc) else (up if pb <= pc else ul)
                cur[x] = (row[x] + pred) % 256
        else:
            return None
        out[y] = cur.astype(np.uint8)
        prev = cur
    img = out.reshape(h, w, ch)
    return img[:, :, :3].copy()


def decode_image(blob: bytes, prefer_pil: bool | None = None):
    """Dispatch on magic bytes → (h, w, 3) uint8 RGB, or None when
    the format is unknown/corrupt (per-row skip, S4 semantics).
    Native: BMP, PPM, PNG, baseline AND progressive JPEG. Anything
    else (WebP, lossless/arithmetic JPEG, ...) decodes through PIL
    when the optional-dependency probe finds it.

    JPEG dispatch: when Pillow is importable it decodes FIRST by
    default — libjpeg(-turbo)'s entropy loop is C, easily 20-100x the
    native numpy codec's throughput, and at crawl scale that constant
    factor is the whole cost of the operator. The native codec remains
    (a) the zero-dependency fallback on locked-down clusters and
    (b) the pinned path for golden-value parity (``prefer_pil=False``):
    T.81 does not mandate a bit-exact IDCT, so PIL pixels can differ
    by ±1 from the native decode — any value-hashed golden MUST pin
    one decoder, and ours pins the native one because it behaves
    identically on every machine, with or without Pillow installed."""
    if blob is None:
        return None
    b = bytes(blob)
    if b[:2] == b"BM":
        return _decode_bmp(b)
    if b[:2] == b"P6":
        return _decode_ppm(b)
    if b.startswith(_PNG_SIG):
        return _decode_png(b)
    if b[:4] == b"GIF8":
        # GIF decodes NATIVE by default (ADVICE r7 + self-review r8):
        # decode_image output must not depend on whether PIL happens
        # to be installed, and PIL diverges from the native decoder
        # on under-covering frames (fill color: spec background vs
        # palette index 0) AND on corrupt streams it tolerates but we
        # reject (palette-index overflow) — coverage checks can't see
        # the latter without doing the LZW work. An EXPLICIT
        # prefer_pil=True opts into PIL's C LZW for throughput, and
        # even then only for frames that exactly cover the canvas
        # (where lossless decode makes the outputs identical); the
        # native path is cross-pinned against javax.imageio in
        # test_gif.py.
        from .gif import decode_gif, first_frame_covers_canvas

        if (
            prefer_pil
            and pil_available()
            and first_frame_covers_canvas(b)
        ):
            arr = _pil_decode(b)
            if arr is not None:
                return arr
        return decode_gif(b)
    if b[:4] in (b"II*\x00", b"MM\x00*"):
        # TIFF decodes NATIVE always (r12): baseline strips/tiles,
        # PackBits and LZW+predictor per operators/tiff.py; CCITT/
        # JBIG2 stay ADR-gated there, so a gated page is an S4 None
        # here rather than a PIL-dependent maybe
        from .tiff import decode_tiff

        return decode_tiff(b)
    if b[:2] == b"\xff\xd8":
        if prefer_pil is None:
            prefer_pil = pil_available()
        if prefer_pil and pil_available():
            arr = _pil_decode(b)
            if arr is not None:
                return arr
            # PIL refused (corrupt, or a flavor this PIL build lacks):
            # the native codec gets a shot before the S4 skip
        from .jpeg import decode_jpeg

        arr = decode_jpeg(b)
        if arr is not None:
            return arr
        # progressive/arithmetic frame the native decoder declines:
        # fall through to the PIL probe
    if pil_available():
        return _pil_decode(b)
    return None


def pooled_thumb(arr, n: int = 8):
    """Charter "resize": n×n mean-pooled grayscale thumbnail. Exact
    box pooling over integral images — deterministic, no resampling
    library."""
    import numpy as np

    luma = (
        0.299 * arr[:, :, 0].astype(np.float64)
        + 0.587 * arr[:, :, 1].astype(np.float64)
        + 0.114 * arr[:, :, 2].astype(np.float64)
    )
    h, w = luma.shape
    ys = np.linspace(0, h, n + 1).astype(int)
    xs = np.linspace(0, w, n + 1).astype(int)
    out = np.empty((n, n), dtype=np.float64)
    for i in range(n):
        for j in range(n):
            block = luma[ys[i] : max(ys[i + 1], ys[i] + 1), xs[j] : max(xs[j + 1], xs[j] + 1)]
            out[i, j] = block.mean()
    return out


def fake_decode_features(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
    """Deterministic decode stand-in with the REAL kernel shape:
    per-batch vectorized work over the blob bytes → fixed-width
    feature vector (4 moments of the byte distribution)."""
    import numpy as np
    import pandas as pd

    for batch in batches:
        feats = []
        for blob in batch["blob"]:
            arr = np.frombuffer(blob, dtype=np.uint8).astype(np.float64)
            if arr.size == 0:
                feats.append([0.0, 0.0, 0.0, 0.0])
            else:
                feats.append(
                    [
                        float(arr.mean()),
                        float(arr.std()),
                        float(arr.min()),
                        float(arr.max()),
                    ]
                )
        yield pd.DataFrame(
            {
                "doc_id": batch["doc_id"],
                "media_type": batch["media_type"],
                "byte_length": batch["blob"].str.len().astype("int64"),
                "feature": feats,
            }
        )


def extract_features(media: DataFrame) -> DataFrame:
    """The multimodal feature-extraction pipeline: size-aware
    partitioning → Arrow-batched mapInPandas kernel → typed schema.

    The kernel is a nested closure (not a module-level reference) so
    cloudpickle ships it BY VALUE: Python workers don't need this
    package importable on their sys.path (the driver may run from an
    arbitrary cwd — e.g. the verification harness)."""

    def kernel(batches):
        import numpy as np
        import pandas as pd

        for batch in batches:
            feats = []
            for blob in batch["blob"]:
                arr = np.frombuffer(blob, dtype=np.uint8).astype(np.float64)
                if arr.size == 0:
                    feats.append([0.0, 0.0, 0.0, 0.0])
                else:
                    feats.append(
                        [
                            float(arr.mean()),
                            float(arr.std()),
                            float(arr.min()),
                            float(arr.max()),
                        ]
                    )
            yield pd.DataFrame(
                {
                    "doc_id": batch["doc_id"],
                    "media_type": batch["media_type"],
                    "byte_length": batch["blob"].str.len().astype("int64"),
                    "feature": feats,
                }
            )

    return media.mapInPandas(kernel, FEATURE_SCHEMA)


# --------------------------------------------------------------------------
# Real audio codec: PCM WAV (RIFF) — pure struct/numpy, no libraries.
# --------------------------------------------------------------------------


def encode_wav_pcm16(samples, sample_rate: int = 16_000) -> bytes:
    """mono int16 samples → RIFF/WAVE PCM16 bytes."""
    import struct

    import numpy as np

    arr = np.asarray(samples, dtype=np.int16)
    data = arr.tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(data), b"WAVE",
        b"fmt ", 16, 1, 1, sample_rate, sample_rate * 2, 2, 16,
        b"data", len(data),
    )
    return hdr + data


def decode_wav(blob: bytes):
    """Mono/stereo WAV → (samples float64 in [-1,1], rate), or None
    for compressed/malformed input (per-row skip, S4 semantics).
    r11: the full uncompressed family — integer PCM at 8 (unsigned),
    16, 24, and 32 bits, IEEE float32 (format 3), and
    WAVE_FORMAT_EXTENSIBLE wrappers of both. Walks RIFF chunks
    properly — fmt need not precede data at a fixed offset."""
    import struct

    import numpy as np

    b = bytes(blob or b"")
    if len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid, size = b[pos : pos + 4], struct.unpack_from("<I", b, pos + 4)[0]
        body = b[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            # a truncated fmt chunk is malformed, not an exception:
            # struct.error here used to escape the S4 contract and
            # kill the Spark task (r10 review catch)
            if len(body) < 16:
                return None
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif cid == b"data":
            data = body
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        return None
    audio_format, channels, rate, _, _, bits = fmt
    if audio_format == 0xFFFE and len(b) > 0:
        # WAVE_FORMAT_EXTENSIBLE: the real format rides the first
        # two bytes of the 16-byte SubFormat GUID (fmt body 24:26)
        pos2, ext = 12, None
        while pos2 + 8 <= len(b):
            cid2, size2 = b[pos2:pos2 + 4], struct.unpack_from(
                "<I", b, pos2 + 4
            )[0]
            if cid2 == b"fmt " and size2 >= 26:
                ext = struct.unpack_from("<H", b, pos2 + 8 + 24)[0]
                break
            pos2 += 8 + size2 + (size2 & 1)
        if ext is None:
            return None
        audio_format = ext
    if channels not in (1, 2) or rate <= 0:
        return None
    # r11: the full integer-PCM family + IEEE float (the widths a
    # real crawl's WAVs actually arrive in), not only PCM16;
    # compressed formats stay gated like the image codecs
    if audio_format == 1 and bits == 16:
        samples = np.frombuffer(
            data[: len(data) - len(data) % (2 * channels)],
            dtype="<i2",
        ).astype(np.float64) / 32768.0
    elif audio_format == 1 and bits == 8:
        # 8-bit WAV is UNSIGNED with a 128 midpoint (the RIFF spec's
        # one asymmetric width)
        samples = (
            np.frombuffer(
                data[: len(data) - len(data) % channels], dtype="u1"
            ).astype(np.float64) - 128.0
        ) / 128.0
    elif audio_format == 1 and bits == 24:
        usable = len(data) - len(data) % (3 * channels)
        tri = np.frombuffer(data[:usable], dtype="u1").reshape(-1, 3)
        # sign-extend little-endian 3-byte ints via the i4 form
        quad = np.zeros((tri.shape[0], 4), dtype="u1")
        quad[:, :3] = tri
        vals = quad.view("<i4").ravel()
        vals = np.where(vals >= 1 << 23, vals - (1 << 24), vals)
        samples = vals.astype(np.float64) / float(1 << 23)
    elif audio_format == 1 and bits == 32:
        samples = np.frombuffer(
            data[: len(data) - len(data) % (4 * channels)],
            dtype="<i4",
        ).astype(np.float64) / float(1 << 31)
    elif audio_format == 3 and bits == 32:
        samples = np.frombuffer(
            data[: len(data) - len(data) % (4 * channels)],
            dtype="<f4",
        ).astype(np.float64)
        if samples.size and not np.isfinite(samples).all():
            return None  # NaN/inf payload → damaged, not audio
        # hot-mastered float WAVs carry |sample|>1; clip so the
        # documented "float64 in [-1,1]" contract holds without a
        # resample (decode_audio only clips post-resample)
        if samples.size:
            np.clip(samples, -1.0, 1.0, out=samples)
    elif audio_format in (6, 7) and bits == 8:
        # ITU-T G.711 A-law (6) / µ-law (7) — telephony WAVs. The
        # expansion is FORMULA-derived (segment/exponent/mantissa,
        # no fixed tables), so it is not in the ADR-gated class;
        # differential-tested against stdlib audioop.
        codes = np.frombuffer(
            data[: len(data) - len(data) % channels], dtype="u1"
        )
        if audio_format == 7:
            # µ-law: invert, split 3-bit exponent / 4-bit mantissa,
            # linear = ((m*2+33) << e) - 33, in quarter-steps of the
            # 14-bit range scaled to 16-bit by audioop's convention
            u = (~codes) & 0xFF
            sign = u >> 7
            e = (u >> 4) & 0x07
            m = u & 0x0F
            mag = (((2 * m.astype(np.int64) + 33) << e) - 33) * 4
            vals = np.where(sign == 1, -mag, mag)
        else:
            # A-law: even-bit inversion (0x55), 3-bit exponent:
            # e==0 → linear = m*2+1 (×8), else ((m*2+33) << (e-1))×8.
            # e is widened to int64 BEFORE the -1: on uint8 it wraps
            # to 255 and np.where evaluates both branches, so the
            # discarded branch would execute a shift-by-255 — C UB
            # (review catch)
            a = codes ^ 0x55
            sign = a >> 7
            e = ((a >> 4) & 0x07).astype(np.int64)
            m = (a & 0x0F).astype(np.int64)
            mag = np.where(
                e == 0, (2 * m + 1) * 8,
                ((2 * m + 33) << np.maximum(e - 1, 0)) * 8,
            )
            vals = np.where(sign == 1, mag, -mag)
        samples = vals.astype(np.float64) / 32768.0
    else:
        return None  # compressed or exotic → gated like image codecs
    if channels == 2:
        samples = samples.reshape(-1, 2).mean(axis=1)
    return samples, rate


def audio_features(samples, rate: int, round_to: int = 6):
    """Waveform features: duration, RMS level, peak, zero-crossing
    rate — the standard cheap audio-quality signals."""
    import numpy as np

    n = samples.size
    if n == 0:
        return None
    # sign-change count, skipping exact zeros: a crossing that lands
    # ON a zero sample (common for tones commensurate with the rate)
    # still counts once
    signs = np.sign(samples)
    signs = signs[signs != 0]
    zc = int(np.sum(signs[1:] != signs[:-1])) if signs.size > 1 else 0
    return {
        "duration_s": round(n / rate, round_to),
        "rms": round(float(np.sqrt(np.mean(samples**2))), round_to),
        "peak": round(float(np.max(np.abs(samples))), round_to),
        "zero_cross_rate": round(zc / max(n - 1, 1), round_to),
    }


# --------------------------------------------------------------------------
# Frame sampling: multi-frame PPM (P6) streams as the video stand-in.
# Concatenated P6 images are a real container (ffmpeg's image2pipe
# ppm format) — frame boundaries come from each header's own
# width×height, so the parser is exact, not heuristic.
# --------------------------------------------------------------------------


def split_ppm_stream(blob: bytes) -> list[bytes]:
    """Split a concatenated-P6 stream into per-frame byte blobs."""
    frames, pos, b = [], 0, bytes(blob or b"")
    while pos < len(b) and b[pos : pos + 2] == b"P6":
        # parse this frame's header to find its pixel-data extent
        scan, fields = pos + 2, []
        while len(fields) < 3 and scan < len(b):
            ch = b[scan : scan + 1]
            if ch == b"#":
                nl = b.find(b"\n", scan)
                if nl < 0:
                    return frames
                scan = nl
            elif ch.isspace():
                scan += 1
            else:
                end = scan
                while end < len(b) and not b[end : end + 1].isspace():
                    end += 1
                fields.append(b[scan:end])
                scan = end
        try:
            w, h, _ = (int(f) for f in fields)
        except ValueError:
            return frames
        end = scan + 1 + w * h * 3
        if end > len(b):
            return frames
        frames.append(b[pos:end])
        pos = end
    return frames


def frame_sample(blob: bytes, every: int = 2) -> list[bytes]:
    """Charter "frame-sample": keep every ``every``-th frame of a
    multi-frame stream (frame 0 always kept)."""
    return split_ppm_stream(blob)[::every]


# --------------------------------------------------------------------------
# Real image pipeline: synthetic corpus → decode → stats + thumb.
# --------------------------------------------------------------------------

IMAGE_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("media_type", StringType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("mean_r", DoubleType()),
        StructField("mean_g", DoubleType()),
        StructField("mean_b", DoubleType()),
        StructField("luma_mean", DoubleType()),
        StructField("luma_std", DoubleType()),
        # r12: camera metadata — packed EXIF/TIFF-tag string (see
        # _exif_summary), null when the blob carries none
        StructField("exif", StringType()),
        StructField("thumb", ArrayType(DoubleType())),
    ]
)


def _exif_summary(blob: bytes):
    """Camera metadata as ONE packed pipe-joined string (golden-
    hashable, null-free inner fields via '-' sentinels):
    make|model|datetime|exposure_us|fnumber_x100|iso|focal_mm_x10|
    pixel_x|pixel_y|lat_e4|lon_e4. JPEGs read the APP1 Exif segment;
    TIFFs read the SAME tags from IFD0 (+Exif/GPS sub-IFDs) — one
    IFD parser for both (operators/tiff.py). None when absent."""
    from .tiff import parse_exif, parse_exif_tiff, sniff_tiff

    ex = None
    if bytes(blob[:2]) == b"\xff\xd8":
        ex = parse_exif(blob)
    elif sniff_tiff(blob):
        try:
            ex = parse_exif_tiff(bytes(blob))
        except Exception:
            ex = None
        if ex is not None and not any(ex.values()):
            ex = None
    if ex is None:
        return None

    def s(v):
        return "-" if v in (None, "") else str(v)

    def scaled(v, k):
        return "-" if v is None else str(int(round(v * k)))

    return "|".join([
        s(ex.get("make")), s(ex.get("model")), s(ex.get("datetime")),
        scaled(ex.get("exposure_s"), 1_000_000),
        scaled(ex.get("fnumber"), 100),
        s(ex.get("iso")),
        scaled(ex.get("focal_mm"), 10),
        s(ex.get("pixel_x")), s(ex.get("pixel_y")),
        scaled(ex.get("gps_lat"), 10_000),
        scaled(ex.get("gps_lon"), 10_000),
    ])


def synthetic_image_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic image corpus keyed on doc_id cycling all six
    NATIVE codecs — doc_id % 4: 0 → 24-bit BMP, 1 → binary PPM
    (except doc_id % 8 == 5 → TIFF, r12 — cycling none/PackBits/LZW
    ±predictor, both endians, strip/tile/planar layouts, with IFD0
    camera tags so the golden pins EXIF-field extraction),
    2 → zlib PNG (except doc_id % 8 == 6 → LZW GIF, half of them
    interlaced), 3 → baseline JPEG (4:2:0, restart markers — the
    web-norm shape; r12: every other one carries an APP1 Exif
    segment incl. GPS rationals; doc_id % 8 == 7 → progressive).
    Generated worker-side in the Arrow kernel (never a driver loop),
    so the corpus scales with the input table; the JPEG/GIF/TIFF
    legs put the native Huffman+DCT, LZW and IFD codecs on the
    driver-checked ``multimodal_image_decode`` golden row. TIFF is
    lossless, so its decoded stats equal the PPM leg's for the same
    doc_id."""
    return IMAGE_FEATURES.corpus(docs)


def _image_corpus_kernel(batches):
    """mapInPandas body of :func:`synthetic_image_corpus`."""
    import numpy as np
    import pandas as pd

    # import inside the kernel: resolution happens on the
    # executor against the package zip session.configure ships
    # via addPyFile (works even when the driver cwd ≠ repo)
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.gif import (  # noqa: E501
        encode_gif,
    )
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.jpeg import (  # noqa: E501
        encode_jpeg,
    )
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.multimodal import (  # noqa: E501
        encode_bmp24,
        encode_png,
        encode_ppm,
    )

    for batch in batches:
        blobs, types = [], []
        for doc_id in batch["doc_id"]:
            d = int(doc_id)
            w, h = 8 + d % 9, 6 + d % 7
            yy, xx = np.mgrid[0:h, 0:w]
            px = np.stack(
                [
                    (xx * 7 + yy * 13 + d) % 256,
                    (xx * 3 + d * 5) % 256,
                    (yy * 11 + d * 3) % 256,
                ],
                axis=-1,
            ).astype(np.uint8)
            if d % 4 == 0:
                blobs.append(encode_bmp24(px))
                types.append("image/bmp")
            elif d % 8 == 5:
                # TIFF leg (carved from the PPM residue class so
                # the JPEG/GIF classes the bench filters on are
                # untouched). Lossless — decoded stats equal the
                # PPM leg's for the same pixels.
                from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.tiff import (  # noqa: E501
                    encode_tiff,
                )

                comp = ("none", "packbits", "lzw")[d % 3]
                blobs.append(encode_tiff(
                    px,
                    compression=comp,
                    endian="<" if d % 2 else ">",
                    predictor=comp != "none" and d % 5 < 2,
                    tiled=d % 16 == 13,
                    planar=d % 16 != 13 and d % 10 == 5,
                    make="Cam %d" % (d % 7),
                    model="M%d" % (d % 4),
                    dt="2026:08:%02d 12:00:00" % (1 + d % 28),
                ))
                types.append("image/tiff")
            elif d % 4 == 1:
                blobs.append(encode_ppm(px))
                types.append("image/ppm")
            elif d % 8 == 6:
                # GIF leg (carved from the PNG residue class so
                # the JPEG class — which the bench filters on —
                # is untouched). These synthetic frames are all
                # ≤ 192 px so the ≤256-color palette constraint
                # always holds; every other one interlaced. GIF
                # is lossless, so decoded stats equal the PNG
                # leg's for the same doc_id.
                blobs.append(encode_gif(px, interlace=d % 16 == 6))
                types.append("image/gif")
            elif d % 4 == 2:
                blobs.append(encode_png(px))
                types.append("image/png")
            elif d % 8 == 7:
                # progressive SOF2 leg: same quantized coefficients
                # as sequential → identical decoded pixels, so the
                # committed golden is unchanged while the Annex G
                # path sits on the driver-checked row
                blobs.append(
                    encode_jpeg(px, quality=90, subsample=True, progressive=True)
                )
                types.append("image/jpeg")
            else:
                j = encode_jpeg(px, quality=90, subsample=True, restart_interval=2)
                if d % 16 == 3:
                    # r12: every other baseline JPEG carries an
                    # APP1 Exif segment (incl. GPS rationals) so
                    # the golden pins the EXIF read path through
                    # real JPEG framing
                    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.tiff import (  # noqa: E501
                        exif_app1,
                        insert_app1,
                    )

                    j = insert_app1(j, exif_app1(
                        "Cam %d" % (d % 7), "M%d" % (d % 4),
                        "2026:08:%02d 12:00:00" % (1 + d % 28),
                        exposure=(1, 60 + d % 200),
                        fnumber=(18 + d % 40, 10),
                        iso=100 * (1 + d % 8),
                        focal=(240 + d % 600, 10),
                        pix=(w, h),
                        gps=(
                            (-60 + (d * 7) % 120)
                            + (d % 100) / 100.0,
                            (-170 + (d * 13) % 340)
                            + (d % 50) / 50.0,
                        ) if d % 32 == 3 else None,
                        endian="<" if d % 2 else ">",
                    ))
                blobs.append(j)
                types.append("image/jpeg")
        yield pd.DataFrame(
            {"doc_id": batch["doc_id"], "blob": blobs, "media_type": types}
        )


AUDIO_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("sample_rate", LongType()),
        StructField("duration_s", DoubleType()),
        StructField("rms", DoubleType()),
        StructField("peak", DoubleType()),
        StructField("zero_cross_rate", DoubleType()),
    ]
)


def synthetic_audio_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic PCM16 WAV corpus keyed on doc_id (sine + harmonic
    mix, amplitude/frequency derived from the id). Worker-side
    generation like the image corpus."""
    return AUDIO_CORPUS.frame(docs)


def _audio_corpus_kernel(batches):
    """mapInPandas body of :func:`synthetic_audio_corpus`."""
    import numpy as np
    import pandas as pd

    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.multimodal import (  # noqa: E501
        encode_wav_pcm16,
    )

    rate = 8_000
    for batch in batches:
        blobs = []
        for doc_id in batch["doc_id"]:
            d = int(doc_id)
            n = rate // 4 + (d % 5) * rate // 10  # 0.25-0.65 s
            t = np.arange(n, dtype=np.float64) / rate
            f0 = 110.0 + (d % 40) * 10.0
            wave = 0.5 * np.sin(2 * np.pi * f0 * t) + 0.25 * np.sin(
                2 * np.pi * 2 * f0 * t + d % 7
            )
            blobs.append(encode_wav_pcm16((wave * 20_000).astype(np.int16), rate))
        yield pd.DataFrame(
            {"doc_id": batch["doc_id"], "blob": blobs,
             "media_type": ["audio/wav"] * len(blobs)}
        )


#: the WAV corpus, shared with the audio fingerprint family
#: (:data:`.audio_fp.AUDIO_PROBES`)
AUDIO_CORPUS = Corpus(_audio_corpus_kernel, fan_out=True)


def decode_audio_features(media: DataFrame) -> DataFrame:
    """REAL audio decode (RIFF/PCM16, pure struct+numpy) → waveform
    features; undecodable blobs are skipped per-row (S4)."""

    def kernel(batches):
        import pandas as pd

        from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.multimodal import (  # noqa: E501
            audio_features,
            decode_wav,
        )

        for batch in batches:
            rows = []
            for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
                decoded = decode_wav(blob)
                if decoded is None:
                    continue
                samples, rate = decoded
                feats = audio_features(samples, rate)
                if feats is None:
                    continue
                rows.append({"doc_id": int(doc_id), "sample_rate": rate, **feats})
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "sample_rate", "duration_s", "rms", "peak",
                    "zero_cross_rate",
                ],
            )

    return media.mapInPandas(kernel, AUDIO_FEATURE_SCHEMA)


VIDEO_FEATURE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_frames", LongType()),
        StructField("n_sampled", LongType()),
        StructField("width", LongType()),
        StructField("height", LongType()),
        StructField("luma_mean", DoubleType()),
        StructField("motion", DoubleType()),
    ]
)


def synthetic_video_corpus(docs: DataFrame, n_frames: int = 6) -> DataFrame:
    """Deterministic multi-frame P6 streams keyed on doc_id (the
    per-frame gradient shifts each frame → non-zero motion)."""

    def kernel(batches):
        import numpy as np
        import pandas as pd

        from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.multimodal import (  # noqa: E501
            encode_ppm,
        )

        for batch in batches:
            blobs = []
            for doc_id in batch["doc_id"]:
                d = int(doc_id)
                w, h = 8 + d % 5, 6 + d % 4
                yy, xx = np.mgrid[0:h, 0:w]
                stream = b""
                for fidx in range(n_frames):
                    px = np.stack(
                        [
                            (xx * 7 + yy * 13 + d + fidx * 17) % 256,
                            (xx * 3 + d * 5 + fidx * 29) % 256,
                            (yy * 11 + d * 3 + fidx * 41) % 256,
                        ],
                        axis=-1,
                    ).astype(np.uint8)
                    stream += encode_ppm(px)
                blobs.append(stream)
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"], "blob": blobs,
                 "media_type": ["video/x-ppm-stream"] * len(blobs)}
            )

    return corpus_frame(docs, kernel, fan_out=True)


def sample_video_features(media: DataFrame, every: int = 2, round_to: int = 6) -> DataFrame:
    """Charter "frame-sample" pipeline: split the frame stream, keep
    every k-th frame, decode the kept frames, and emit per-doc stats
    (mean luminance + mean absolute inter-frame delta = motion).
    Exactly the shape a real video pipeline has — only the container
    parser would change with a codec library."""

    def kernel(batches):
        import numpy as np
        import pandas as pd

        from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.multimodal import (  # noqa: E501
            decode_image,
            frame_sample,
            split_ppm_stream,
        )

        for batch in batches:
            rows = []
            for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
                all_frames = split_ppm_stream(blob)
                kept = frame_sample(blob, every)
                lumas = []
                for fb in kept:
                    arr = decode_image(fb)
                    if arr is None:
                        continue
                    f64 = arr.astype(np.float64)
                    lumas.append(
                        0.299 * f64[:, :, 0] + 0.587 * f64[:, :, 1] + 0.114 * f64[:, :, 2]
                    )
                if not lumas:
                    continue
                motion = (
                    float(np.mean([np.abs(b - a).mean() for a, b in zip(lumas, lumas[1:])]))
                    if len(lumas) > 1
                    else 0.0
                )
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "n_frames": len(all_frames),
                        "n_sampled": len(kept),
                        "width": lumas[0].shape[1],
                        "height": lumas[0].shape[0],
                        "luma_mean": round(float(np.mean([m.mean() for m in lumas])), round_to),
                        "motion": round(motion, round_to),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_frames", "n_sampled", "width", "height",
                    "luma_mean", "motion",
                ],
            )

    return media.mapInPandas(kernel, VIDEO_FEATURE_SCHEMA)


def synthetic_gif_animation_corpus(docs: DataFrame, n_frames: int = 6) -> DataFrame:
    """Deterministic ANIMATED GIFs keyed on doc_id: a sprite moving
    across a fixed canvas, disposal method cycling per doc
    (doc_id % 3 → 1 do-not-dispose / 2 restore-to-background /
    3 restore-to-previous), transparency on odd docs, every third
    doc's frames interlaced — the delta-compositing worst cases a
    crawl carries. Sprite colors are drawn from an 8-level-per-
    channel grid with a per-doc constant blue, so the union palette
    stays ≤ 65 colors for ANY n_frames (the encoder's 256-color
    limit must never bound the advertised parameter)."""

    def kernel(batches):
        import numpy as np
        import pandas as pd

        from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.gif import (  # noqa: E501
            encode_gif_animation,
        )

        for batch in batches:
            blobs = []
            for doc_id in batch["doc_id"]:
                d = int(doc_id)
                cw, chh = 16 + d % 5, 12 + d % 4
                frames = []
                for fidx in range(n_frames):
                    fw, fh = 5 + fidx % 3, 4 + fidx % 2
                    yy, xx = np.mgrid[0:fh, 0:fw]
                    px = np.stack(
                        [
                            ((xx * 31 + d + fidx * 17) % 8) * 32,
                            ((yy * 29 + d * 5 + fidx * 23) % 8) * 32,
                            np.full_like(xx, (d % 8) * 32),
                        ],
                        axis=-1,
                    ).astype(np.uint8)
                    frame = {
                        "pixels": px,
                        "left": (fidx * 3 + d) % (cw - fw),
                        "top": (fidx * 2) % (chh - fh),
                        "disposal": 1 + d % 3,
                        "interlace": d % 3 == 0,
                    }
                    if d % 2 == 1:
                        # the sprite's own top-left color is transparent
                        frame["transparent_rgb"] = tuple(int(v) for v in px[0, 0])
                    frames.append(frame)
                blobs.append(
                    encode_gif_animation(
                        frames, screen=(cw, chh), bg_rgb=(8, 8, 8)
                    )
                )
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"], "blob": blobs,
                 "media_type": ["image/gif"] * len(blobs)}
            )

    return corpus_frame(docs, kernel, fan_out=True)


def gif_frame_features(
    media: DataFrame, every: int = 2, round_to: int = 6,
    max_frames: int = 256,
) -> DataFrame:
    """The GIF twin of :func:`sample_video_features` (VERDICT r7 #5):
    disposal-composited every-k frame sampling over animated GIF
    blobs → per-doc stats (true frame count via the cheap framing
    walk, sampled count, canvas size, mean luminance, mean absolute
    inter-frame luma delta = motion). Corrupt/truncated blobs drop
    (S4). Same VIDEO_FEATURE_SCHEMA so downstream stats compose."""

    def kernel(batches):
        import numpy as np
        import pandas as pd

        from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.gif import (  # noqa: E501
            count_gif_frames,
            decode_gif_frames,
        )

        for batch in batches:
            rows = []
            for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
                b = bytes(blob or b"")
                kept = decode_gif_frames(b, every=every, max_frames=max_frames)
                if not kept:
                    continue
                n_total = count_gif_frames(b)
                lumas = [
                    0.299 * f[:, :, 0].astype(np.float64)
                    + 0.587 * f[:, :, 1].astype(np.float64)
                    + 0.114 * f[:, :, 2].astype(np.float64)
                    for f in kept
                ]
                motion = (
                    float(np.mean([np.abs(b2 - a).mean() for a, b2 in zip(lumas, lumas[1:])]))
                    if len(lumas) > 1
                    else 0.0
                )
                rows.append(
                    {
                        "doc_id": int(doc_id),
                        "n_frames": int(n_total) if n_total is not None else len(kept),
                        "n_sampled": len(kept),
                        "width": kept[0].shape[1],
                        "height": kept[0].shape[0],
                        "luma_mean": round(float(np.mean([m.mean() for m in lumas])), round_to),
                        "motion": round(motion, round_to),
                    }
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "n_frames", "n_sampled", "width", "height",
                    "luma_mean", "motion",
                ],
            )

    return media.mapInPandas(kernel, VIDEO_FEATURE_SCHEMA)


def decode_image_features(media: DataFrame, round_to: int = 6) -> DataFrame:
    """REAL decode → feature-extract → resize over BMP/PPM blobs:
    per-channel means, luminance moments, 8×8 mean-pooled thumb.
    Undecodable blobs are skipped (S4 per-row semantics). Floats are
    rounded so results are stable across BLAS builds.

    JPEG decode is PINNED to the native codec (``prefer_pil=False``):
    this feeds the value-hashed ``multimodal_image_decode`` golden
    row, and PIL pixels may differ ±1 from the native IDCT (T.81
    leaves the IDCT implementation-defined), so golden parity requires
    one fixed decoder. Throughput-oriented callers that don't need
    cross-environment bit-parity should decode via
    :func:`decode_image`'s default (PIL-first when available)."""
    return IMAGE_FEATURES.extract(media, round_to)


def _image_feature_kernel(round_to: int):
    """mapInPandas body factory for :func:`decode_image_features`."""

    def kernel(batches):
        import numpy as np
        import pandas as pd

        from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.multimodal import (  # noqa: E501
            _exif_summary,
            decode_image,
            pooled_thumb,
        )

        for batch in batches:
            out = {k: [] for k in (
                "doc_id", "media_type", "width", "height",
                "mean_r", "mean_g", "mean_b", "luma_mean", "luma_std",
                "exif", "thumb",
            )}
            for doc_id, mt, blob in zip(batch["doc_id"], batch["media_type"], batch["blob"]):
                arr = decode_image(blob, prefer_pil=False)
                if arr is None:
                    continue  # per-row skip
                out["exif"].append(_exif_summary(bytes(blob)))
                f64 = arr.astype(np.float64)
                luma = 0.299 * f64[:, :, 0] + 0.587 * f64[:, :, 1] + 0.114 * f64[:, :, 2]
                out["doc_id"].append(int(doc_id))
                out["media_type"].append(mt)
                out["width"].append(arr.shape[1])
                out["height"].append(arr.shape[0])
                out["mean_r"].append(round(float(f64[:, :, 0].mean()), round_to))
                out["mean_g"].append(round(float(f64[:, :, 1].mean()), round_to))
                out["mean_b"].append(round(float(f64[:, :, 2].mean()), round_to))
                out["luma_mean"].append(round(float(luma.mean()), round_to))
                out["luma_std"].append(round(float(luma.std()), round_to))
                out["thumb"].append([round(float(v), round_to) for v in pooled_thumb(arr).ravel()])
            # an ALL-skipped batch must not yield pd.DataFrame(out):
            # pandas types empty list columns float64, and Arrow
            # cannot convert an empty float64 column to the thumb's
            # array<double> — the task dies (self-review r13,
            # surfaced when HEIF stills joined the image family and
            # made fully-undecodable batches common; the S4 contract
            # is per-ROW skip, never a task death)
            if out["doc_id"]:
                yield pd.DataFrame(out)

    return kernel


IMAGE_FEATURES = MediaFamily(
    IMAGE_FEATURE_SCHEMA,
    Corpus(_image_corpus_kernel, fan_out=True),
    Factory(_image_feature_kernel),
)


def image_features_from_docs(
    docs: DataFrame, round_to: int = 6
) -> DataFrame:
    """Corpus synthesis + native decode in ONE Python hop (guide
    §4.1 via :mod:`.fuse`) — bit-identical rows to
    ``decode_image_features(synthetic_image_corpus(docs))``."""
    return IMAGE_FEATURES.from_docs(docs, extract_args=(round_to,))
