"""Image near-dup tier — perceptual dHash/aHash pairing (r13; VERDICT
r12 top item: every other modality had a bucketed near-dup operator,
images had only exact-byte dedup).

The signatures are the classic spec-free perceptual hashes computed
from a mean-pooled grayscale thumbnail (the same box-pooled luma as
:func:`..operators.multimodal.pooled_thumb`):

- **dHash64** — pool to 9×8, bit (i,j) = ``luma[i,j+1] > luma[i,j]``
  (row gradient). Exactly invariant to global brightness/contrast
  shifts (monotone per-pixel maps preserve every comparison) and
  robust to re-encode/resize (box pooling averages codec noise out).
- **aHash64** — pool to 8×8, bit = pixel > thumbnail mean. Same
  invariances, different failure modes (gradient-free images), so the
  pair output reports BOTH distances.

Pairing NEVER goes all-pairs: dHash signatures flow through the
repo's shared banded-Hamming machinery
(:func:`..operators.dedup.banded_hamming_pairs` — the same blocking
simhash text dedup uses: 4 × 16-bit band slices, optional 1-bit
multi-probe, pigeonhole recall 1.0 up to hamming 2·bands−1) with the
ubiquity cap applied at the band-slot level (the
``eligible_hashes`` contract from operators/cdc.py): a slot shared by
more than ``max_posting`` images — every all-black thumbnail collides
— is boilerplate, not a dup signal, and is dropped before the join
explodes anything.

Scale shape: decode+hash is one map-only Arrow kernel (all codecs
carry their bomb caps); the pair join shuffles (band, band_val) keys
only — 64-bit sigs, not pixels; at rest the signature table is tiny
(16 bytes/image) and is what a 100 TB image corpus stores and re-joins
on ingest.

A duplicate here means PERCEPTUALLY near: a PNG and its JPEG
re-encode, a half-size resample, a brightness-shifted copy all pair
across codec families (quantified by tests/test_image_fp.py and the
``image_near_dup`` driver golden leg); unrelated images stay apart by
tens of bits.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from .cache import tracked_persist
from .fuse import BLOB_SCHEMA, corpus_frame


def _pooled_gray(arr, ny: int, nx: int):
    """ny×nx mean-pooled luma (Rec.601 weights — the pooled_thumb
    formula, generalized to rectangular grids for the 9×8 dHash)."""
    import numpy as np

    luma = (
        0.299 * arr[:, :, 0].astype(np.float64)
        + 0.587 * arr[:, :, 1].astype(np.float64)
        + 0.114 * arr[:, :, 2].astype(np.float64)
    )
    h, w = luma.shape
    ys = np.linspace(0, h, ny + 1).astype(int)
    xs = np.linspace(0, w, nx + 1).astype(int)
    out = np.empty((ny, nx), dtype=np.float64)
    for i in range(ny):
        for j in range(nx):
            block = luma[
                ys[i]: max(ys[i + 1], ys[i] + 1),
                xs[j]: max(xs[j + 1], xs[j] + 1),
            ]
            out[i, j] = block.mean()
    return out


def _to_i64(v: int) -> int:
    return v - (1 << 64) if v >= (1 << 63) else v


def dhash64(arr) -> int:
    """64-bit difference hash: 8 rows × 8 row-gradient comparisons
    over a 9-column pooled luma. Signed 64-bit (Spark LongType)."""
    g = _pooled_gray(arr, 8, 9)
    v = 0
    for i in range(8):
        for j in range(8):
            if g[i, j + 1] > g[i, j]:
                v |= 1 << (i * 8 + j)
    return _to_i64(v)


def ahash64(arr) -> int:
    """64-bit average hash: 8×8 pooled luma vs its own mean."""
    g = _pooled_gray(arr, 8, 8)
    mean = g.mean()
    v = 0
    for i in range(8):
        for j in range(8):
            if g[i, j] > mean:
                v |= 1 << (i * 8 + j)
    return _to_i64(v)


IMAGE_SIG_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("dhash", LongType()),
    StructField("ahash", LongType()),
    StructField("width", LongType()),
    StructField("height", LongType()),
])


def image_signatures(media: DataFrame) -> DataFrame:
    """Map-only Arrow kernel: (doc_id, blob) → (doc_id, dhash, ahash,
    width, height). Decodes through the engine's native codec
    dispatch (BMP/PPM/PNG/GIF/JPEG/TIFF); undecodable blobs emit
    nothing (S4)."""
    cols = [f.name for f in IMAGE_SIG_SCHEMA.fields]

    def kernel(batches):
        import pandas as pd

        from .multimodal import decode_image

        for batch in batches:
            rows = []
            for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
                arr = decode_image(
                    bytes(blob) if blob is not None else b"",
                    prefer_pil=False,
                )
                if arr is None or arr.ndim != 3:
                    continue
                rows.append({
                    "doc_id": int(doc_id),
                    "dhash": dhash64(arr),
                    "ahash": ahash64(arr),
                    "width": int(arr.shape[1]),
                    "height": int(arr.shape[0]),
                })
            yield pd.DataFrame(rows, columns=cols)

    return media.filter(
        F.col("doc_id").isNotNull() & F.col("blob").isNotNull()
    ).mapInPandas(kernel, IMAGE_SIG_SCHEMA)


def signature_near_dup_pairs(
    sigs: DataFrame,
    max_hamming: int = 10,
    bands: int = 4,
    probe_bits: int = 1,
    max_posting: int = 1024,
) -> DataFrame:
    """The pair machinery over an already-computed signature frame
    (doc_id, dhash, ahash) — factored out (r13) so the streaming
    image index's stored view shares the batch semantics by
    construction: dHash banded blocking + exact verification via the
    shared :func:`..operators.dedup.banded_hamming_pairs`, then the
    aHash distance attached for the caller's second opinion (a pair
    the two hashes DISAGREE about is usually a gradient-free image —
    inspect, don't auto-drop). Caller persists ``sigs`` if they were
    expensive (the join reads them multiple times)."""
    pairs = (
        # sig column named for the shared machinery
        sigs.select(F.col("doc_id"), F.col("dhash").alias("sig"))
        .transform(lambda df: _banded(df, max_hamming, bands,
                                      probe_bits, max_posting))
    )
    ah = sigs.select("doc_id", "ahash")
    return (
        pairs
        .join(ah.toDF("id_a", "ahash_a"), "id_a")
        .join(ah.toDF("id_b", "ahash_b"), "id_b")
        .select(
            "id_a", "id_b",
            F.col("hamming").alias("dhash_hamming"),
            F.bit_count(
                F.col("ahash_a").bitwiseXOR(F.col("ahash_b"))
            ).alias("ahash_hamming"),
        )
    )


def image_near_dup_pairs(
    media: DataFrame,
    max_hamming: int = 10,
    bands: int = 4,
    probe_bits: int = 1,
    max_posting: int = 1024,
) -> DataFrame:
    """(id_a, id_b, dhash_hamming, ahash_hamming) candidate pairs
    from blobs: decode + hash (:func:`image_signatures`, persisted —
    the pair join reads the signatures twice), then
    :func:`signature_near_dup_pairs`."""
    return signature_near_dup_pairs(
        tracked_persist(image_signatures(media)),
        max_hamming, bands, probe_bits, max_posting,
    )


def _banded(sigs, max_hamming, bands, probe_bits, max_posting):
    from .dedup import banded_hamming_pairs

    return banded_hamming_pairs(
        sigs, max_hamming=max_hamming, bands=bands,
        probe_bits=probe_bits, max_posting=max_posting,
    )


# ── deterministic near-dup fixture corpus ───────────────────────

#: variants per duplicate group (doc_id % _VARIANTS selects one)
_VARIANTS = 6


def _base_image(group: int):
    """Smooth, group-decorrelated synthetic photo: mixed oriented
    sinusoids + a radial blob, luma kept inside [35, 215] so the
    brightness-shift variant never clips (making dHash/aHash
    invariance EXACT, not approximate). Pure numpy, deterministic in
    ``group``."""
    import numpy as np

    h, w = 48 + (group % 3) * 16, 64 + (group % 5) * 16
    yy, xx = np.mgrid[0:h, 0:w].astype(np.float64)
    yn, xn = yy / h, xx / w
    # group-hashed frequencies/phases/orientation
    g = group * 2654435761 % (1 << 32)
    # frequencies stay BELOW the 8×8-pooling Nyquist (~4 cycles):
    # a half-size resample must not alias the pattern into a
    # different thumbnail (observed: f≈8 put the resize variant 16
    # bits from its own group)
    f1 = 1.2 + (g % 5) * 0.45
    f2 = 0.8 + ((g >> 3) % 5) * 0.4
    ph1 = ((g >> 8) % 628) / 100.0
    ph2 = ((g >> 16) % 628) / 100.0
    th = ((g >> 24) % 314) / 100.0
    u = xn * np.cos(th) + yn * np.sin(th)
    v = -xn * np.sin(th) + yn * np.cos(th)
    cx, cy = 0.3 + (g % 40) / 100.0, 0.3 + ((g >> 5) % 40) / 100.0
    blob = np.exp(-(((xn - cx) ** 2 + (yn - cy) ** 2) / 0.05))
    luma = (
        np.sin(2 * np.pi * f1 * u + ph1)
        + 0.7 * np.sin(2 * np.pi * f2 * v + ph2)
        + 1.6 * blob
    )
    luma = (luma - luma.min()) / (luma.max() - luma.min() + 1e-9)
    base = 35 + luma * 180  # [35, 215]
    # mild per-channel tints keep it a real RGB image
    r = np.clip(base * 1.05, 0, 255)
    gch = base
    b = np.clip(base * 0.95, 0, 255)
    return np.stack([r, gch, b], axis=-1).astype(np.uint8)


def _variant(arr, v: int, group: int):
    """The duplicate transforms a crawler actually sees. Returns
    (pixels, encoder-name)."""
    import numpy as np

    if v == 0:
        return arr, "png"          # the original
    if v == 1:
        return arr, "jpeg85"       # light re-encode
    if v == 2:
        return arr, "jpeg40"       # heavy re-encode
    if v == 3:                     # half-size box resample
        h, w = arr.shape[0] // 2 * 2, arr.shape[1] // 2 * 2
        a = arr[:h, :w].astype(np.float64)
        small = (
            a.reshape(h // 2, 2, w // 2, 2, 3).mean(axis=(1, 3))
        ).astype(np.uint8)
        return small, "ppm"
    if v == 4:                     # brightness shift (+18, no clip)
        return (arr.astype(np.int16) + 18).clip(0, 255).astype(
            "uint8"), "bmp"
    # v == 5: 1.5× nearest-neighbor upsample, mid re-encode
    h, w = arr.shape[:2]
    iy = (np.arange(int(h * 1.5)) * 2 // 3).clip(0, h - 1)
    ix = (np.arange(int(w * 1.5)) * 2 // 3).clip(0, w - 1)
    return arr[iy][:, ix], "jpeg75"


def synthetic_near_dup_image_corpus(docs: DataFrame) -> DataFrame:
    """(doc_id, blob): groups of ``_VARIANTS`` perceptual duplicates
    of one base image — PNG original, JPEG re-encodes at three
    qualities, a half-size PPM resample, a brightness-shifted BMP —
    across codec FAMILIES (a PNG and its JPEG re-encode must pair;
    images from different groups must not). Worker-side generation
    (Arrow kernel), deterministic in doc_id."""
    def kernel(batches):
        import pandas as pd

        from .jpeg import encode_jpeg
        from .multimodal import encode_bmp24, encode_png, encode_ppm

        enc = {
            "png": encode_png,
            "ppm": encode_ppm,
            "bmp": encode_bmp24,
            "jpeg85": lambda px: encode_jpeg(px, quality=85),
            "jpeg75": lambda px: encode_jpeg(px, quality=75),
            "jpeg40": lambda px: encode_jpeg(px, quality=40),
        }
        for batch in batches:
            blobs = []
            for doc_id in batch["doc_id"]:
                d = int(doc_id)
                group, v = d // _VARIANTS, d % _VARIANTS
                px, kind = _variant(_base_image(group), v, group)
                blobs.append(enc[kind](px))
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"], "blob": blobs}
            )

    return corpus_frame(docs, kernel, BLOB_SCHEMA, fan_out=True)
