"""Video near-dup fingerprinting — the VIDEO tier of the dedup
family (r13; charter extension, SURVEY.md §2.10; reference analog:
none).

With r13's AVI/MJPEG walk the engine has its first video family
whose frames decode to pixels (:func:`..operators.avi.mjpeg_frames`
→ the native JPEG kernel), which makes the video near-dup question
answerable the same way every other modality answers it: exact dedup
catches byte-identical files; nothing else catches the SAME clip
re-encoded at a different JPEG quality, brightness-shifted, resized,
or truncated — the dominant duplicate shapes of scraped video. Text
has MinHash/SimHash, embeddings have LSH, audio has Haitsma-Kalker
probes, images have dHash banding (r13); video had only exact bytes.

Signature derivation — frames ARE images, so the tier composes two
existing pieces instead of inventing a third:

1. sample every ``every``-th video frame and compute the image
   tier's **dHash64** (:func:`..operators.image_fp.dhash64` — row
   gradients over 9×8 pooled luma; exactly brightness/contrast
   invariant, measured ≤3 bits under heavy JPEG re-encode);
2. slice each frame hash into the image tier's **4 × 16-bit bands**
   and emit ``(band << 16) | band_val`` as the frame's probe keys —
   by pigeonhole two frames within Hamming 3 share at least one
   band EXACTLY, so re-encoded frames collide without any Hamming
   join at the video level.

A video's fingerprint is its DISTINCT probe-key set (like the audio
tier's probe set — temporal order is deliberately not in the key:
a truncated or trimmed copy still shares its surviving frames'
keys). Pair semantics then reuse the CDC machinery verbatim
(:func:`..operators.cdc.eligible_hashes` /
:func:`~..operators.cdc.capped_posting_lists` /
:func:`~..operators.cdc.pairs_from_posting`): a ubiquity cap on key
document-frequency (test cards / black frames / station idents are
the video boilerplate), capped lists exploded to pairs, a
``min_shared`` floor against band-collision chance.

Measured separation on the fixture corpus (12 groups × 6 frames,
prototype + tests/test_video_fp.py): same-clip variants (q40
re-encode, +18 brightness) share 15–24 of 24 possible keys and a
truncated half-length copy still shares ≥0.75 of its own key set,
while unrelated clips share ≤5 keys and ≤0.27 of a key set — the
two default cuts (``min_shared=6``, ``min_shared_frac=0.5``) sit in
those gaps; see :func:`shared_video_pairs` for why the FRACTION is
the scale-free knob.

Scale shape: fingerprinting is one map-only Arrow kernel (AVI walk +
MJPEG decode + pooled hash per sampled frame — no shuffle); probes
are ≤ 4 keys per sampled frame; the pair query is the same two
bounded aggregations as every posting tier — no all-pairs, no driver
collects. At 100 TB the signature table at rest is ~32 bytes per
sampled frame, and re-ingest joins against it without touching
pixels.

Frame-RATE mismatches (the video analog of the audio tier's former
rate limit, closed the same round it was identified): by default
sampling strides by INDEX, so the same clip stored at a different
fps aligns only partially. Passing ``sample_ms`` to any kernel
switches to WALL-CLOCK sampling via the container's frame rate
(:func:`..operators.avi.mjpeg_frames`): frame k of the sample is
the stored frame nearest t = k·sample_ms, so an 8/12/24 fps
rendering of the same scene hashes onto the same probe keys —
pinned value-exactly by the cross-fps fixture corpus
(:func:`synthetic_cross_fps_corpus`) in tests and the driver
golden leg. Pair semantics are unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

from .cache import tracked_persist
from .cdc import (
    capped_posting_lists,
    eligible_hashes,
    pairs_from_posting,
)
from .fuse import BLOB_SCHEMA, corpus_frame

#: bands per frame hash — the image tier's banding (4 × 16 bits,
#: pigeonhole: Hamming ≤ 3 between two frame hashes guarantees one
#: shared band)
_BANDS = 4
_BAND_BITS = 16

VIDEO_FRAME_HASH_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("frame_idx", LongType()),
    StructField("dhash", LongType()),
])

_FH_COLS = [f.name for f in VIDEO_FRAME_HASH_SCHEMA.fields]

VIDEO_PROBE_SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("probe", LongType()),
])

_PROBE_COLS = [f.name for f in VIDEO_PROBE_SCHEMA.fields]


def decode_video_frames(
    blob: bytes,
    every: int = 1,
    sample_ms: float | None = None,
):
    """Container dispatch for the video kernels (r13 — the video
    twin of audio's ``decode_audio``): MJPEG AVI via
    :func:`..operators.avi.mjpeg_frames` (supports both index and
    wall-clock sampling) or animated GIF via
    :func:`..operators.gif.decode_gif_frames` (full disposal
    compositing; index stride only — per-frame GCE delays are not
    threaded into a wall clock, documented scope note). Returns a
    list of (h, w, 3) arrays, empty/None on damage (S4). The SAME
    animation stored as an MJPEG AVI and as a GIF decodes to
    near-identical canvases — measured ≤2 dHash bits per frame on
    the posterized fixture clips — so cross-CONTAINER duplicates
    pair through the ordinary probe machinery."""
    if blob[:6] in (b"GIF87a", b"GIF89a"):
        from .gif import decode_gif_frames

        return decode_gif_frames(blob, every=max(1, every))
    from .avi import mjpeg_frames

    return mjpeg_frames(blob, every=every, sample_ms=sample_ms)


def frame_probe_keys(dhash: int) -> list[int]:
    """The ≤4 probe keys of one frame hash: (band << 16) | band_val
    per 16-bit slice of the signed-64 dHash. Driver-side reference
    for the Spark kernels."""
    u = dhash & ((1 << 64) - 1)
    return [
        (b << _BAND_BITS) | ((u >> (_BAND_BITS * b)) & 0xFFFF)
        for b in range(_BANDS)
    ]


def video_frame_hashes(
    media: DataFrame,
    every: int = 1,
    sample_ms: float | None = None,
) -> DataFrame:
    """Map-only Arrow kernel: (doc_id, blob) → one row per sampled
    frame of an MJPEG AVI or animated GIF — (doc_id, frame_idx,
    dhash). This is ALSO the engine's video-frame pixel-decode
    kernel: each emitted row witnessed a full container walk +
    pixel decode (:func:`decode_video_frames`). Unknown / broken
    blobs emit nothing; torn AVI tails emit their decodable prefix
    (S4, the avi module's contract; GIF damage is whole-row per the
    gif module's). ``sample_ms`` switches to wall-clock
    sampling (module doc; frame_idx then numbers sample slots)."""

    def kernel(batches):
        import pandas as pd

        from .image_fp import dhash64

        for batch in batches:
            rows = []
            for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
                # DECODED (h, w, 3) arrays — container walk + pixel
                # decode both live in the dispatcher (AVI or GIF)
                frames = decode_video_frames(
                    bytes(blob) if blob is not None else b"",
                    every=every, sample_ms=sample_ms,
                )
                if not frames:
                    continue
                # wall-clock mode numbers sample SLOTS; index mode
                # numbers stored frames (every is ignored by the
                # sampler, so don't let it scale slot numbers)
                mult = 1 if sample_ms is not None else every
                for i, arr in enumerate(frames):
                    rows.append({
                        "doc_id": int(doc_id),
                        "frame_idx": i * mult,
                        "dhash": dhash64(arr),
                    })
            yield pd.DataFrame(rows, columns=_FH_COLS)

    return media.filter(
        F.col("doc_id").isNotNull() & F.col("blob").isNotNull()
    ).mapInPandas(kernel, VIDEO_FRAME_HASH_SCHEMA)


def video_probes(
    media: DataFrame,
    every: int = 1,
    sample_ms: float | None = None,
) -> DataFrame:
    """Map-only Arrow kernel: the DISTINCT band probe keys per video
    — (doc_id, probe). The ≤4× expansion happens worker-side; S4
    skip as on :func:`video_frame_hashes`. ``sample_ms`` switches to
    wall-clock sampling — the cross-fps duplicate path."""

    def kernel(batches):
        import pandas as pd

        from .image_fp import dhash64

        for batch in batches:
            rows = []
            for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
                frames = decode_video_frames(
                    bytes(blob) if blob is not None else b"",
                    every=every, sample_ms=sample_ms,
                )
                keys: set[int] = set()
                for arr in frames or []:
                    keys.update(frame_probe_keys(dhash64(arr)))
                for k in sorted(keys):
                    rows.append({"doc_id": int(doc_id), "probe": k})
            yield pd.DataFrame(rows, columns=_PROBE_COLS)

    return media.filter(
        F.col("doc_id").isNotNull() & F.col("blob").isNotNull()
    ).mapInPandas(kernel, VIDEO_PROBE_SCHEMA)


def shared_video_pairs(
    probes: DataFrame,
    max_posting: int = 64,
    min_shared: int = 6,
    min_shared_frac: float = 0.5,
) -> DataFrame:
    """Video pairs ranked by shared probe keys — built on the CDC
    pair machinery so all dedup tiers agree on pair semantics. Keys
    carried by more than ``max_posting`` videos are dropped before
    any list builds (black frames / test cards are the video
    boilerplate; the cap bounds every aggregation buffer).

    Two cuts, both required, because clip LENGTHS vary (unlike the
    audio tier's fixed-length probes): ``min_shared`` is the
    absolute band-collision floor (measured cross-clip chance: ≤5
    keys), and ``min_shared_frac`` = shared / min(keys_a, keys_b)
    is the scale-free signal — a truncated copy shares nearly ALL
    of its (fewer) keys, so the fraction stays high where the
    absolute count can't (measured on the fixture corpus: same-clip
    variant pairs ≥ 0.75, unrelated clips ≤ 0.27). Denominators are
    each video's TOTAL distinct key count (pre-ubiquity-cap), so
    the fraction is intrinsic to the pair, and boilerplate dropping
    only ever shrinks it — conservative. Columns: (doc_a, doc_b,
    shared_probes, shared_frac)."""
    rows = probes.select(
        F.col("probe").cast("string").alias("chunk_hash"), "doc_id"
    )
    pairs = pairs_from_posting(
        capped_posting_lists(rows, eligible_hashes(rows, max_posting))
    )
    counts = probes.groupBy("doc_id").agg(
        F.countDistinct("probe").alias("n_keys")
    )
    return (
        pairs
        .join(counts.toDF("doc_a", "keys_a"), "doc_a")
        .join(counts.toDF("doc_b", "keys_b"), "doc_b")
        .withColumn(
            "shared_frac",
            F.col("shared_chunks")
            / F.least("keys_a", "keys_b").cast("double"),
        )
        .filter(
            (F.col("shared_chunks") >= min_shared)
            & (F.col("shared_frac") >= min_shared_frac)
        )
        .select(
            "doc_a", "doc_b",
            F.col("shared_chunks").alias("shared_probes"),
            "shared_frac",
        )
    )


def video_near_dup_pairs(
    media: DataFrame,
    every: int = 1,
    max_posting: int = 64,
    min_shared: int = 6,
    min_shared_frac: float = 0.5,
    sample_ms: float | None = None,
) -> DataFrame:
    """End-to-end: AVI blobs → sampled-frame dHash band probes →
    shared-probe pairs. The probe frame feeds BOTH the eligibility
    aggregation and the posting semi-join, so it is tracked-persisted
    (unpersisted, the lineage would run the container walk + JPEG
    decode twice — the dominant cost). Released by the registry/
    bench cache lifecycle."""
    return shared_video_pairs(
        tracked_persist(video_probes(media, every, sample_ms)),
        max_posting,
        min_shared,
        min_shared_frac,
    )


# ── deterministic near-dup fixture corpus ───────────────────────

#: variants per duplicate group (doc_id % _VARIANTS selects one)
_VARIANTS = 4
#: frames per clip
_N_FRAMES = 6


def _clip_frames(group: int):
    """The base clip: the image tier's smooth synthetic photo
    panning 4 px/frame (np.roll keeps the luma histogram EXACTLY
    constant, so the brightness-shift variant's invariance argument
    carries over frame-for-frame)."""
    import numpy as np

    from .image_fp import _base_image

    base = _base_image(group)
    return [
        np.roll(base, shift=4 * i, axis=1) for i in range(_N_FRAMES)
    ]


def _encode_variant(frames, v: int):
    """The duplicate shapes a crawler sees: v0 = q85 original,
    v1 = heavy q40 re-encode, v2 = +18 brightness (then q85),
    v3 = truncated copy (first half of the frames). Returns the
    encoded AVI bytes."""
    import numpy as np

    from .avi import encode_avi
    from .jpeg import encode_jpeg

    if v == 3:
        frames = frames[: len(frames) // 2]
    q = 40 if v == 1 else 85
    px = [
        (f.astype(np.int16) + (18 if v == 2 else 0))
        .clip(0, 255).astype(np.uint8)
        for f in frames
    ]
    jpegs = [encode_jpeg(p, quality=q) for p in px]
    return encode_avi(
        jpegs, px[0].shape[1], px[0].shape[0], fps=12,
        with_idx1=True,
    )


def synthetic_near_dup_video_corpus(docs: DataFrame) -> DataFrame:
    """(doc_id, blob): groups of ``_VARIANTS`` perceptual duplicates
    of one 6-frame MJPEG clip — q85 original, q40 re-encode,
    brightness-shifted, truncated half-length copy. All variants of
    a group must pair; clips from different groups must not.
    Worker-side generation, deterministic in doc_id."""
    def kernel(batches):
        import pandas as pd

        for batch in batches:
            blobs = []
            for doc_id in batch["doc_id"]:
                d = int(doc_id)
                group, v = d // _VARIANTS, d % _VARIANTS
                blobs.append(
                    _encode_variant(_clip_frames(group), v)
                )
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"], "blob": blobs}
            )

    return corpus_frame(docs, kernel, BLOB_SCHEMA, fan_out=True)


def synthetic_cross_fps_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic CROSS-FPS video corpus for the wall-clock
    sampling path (the video twin of the audio tier's
    ``synthetic_cross_rate_corpus``): docs group in threes —
    d // 3 picks a one-second panning scene (the image tier's
    synthetic photo translating 48 px/s), d % 3 renders it
    INDEPENDENTLY at 8 / 12 / 24 fps. The pan puts an integral
    pixel shift at every stored frame of every rate, so frames at
    the same wall-clock instant are pixel-identical across rates —
    sampling with ``sample_ms=250`` must therefore hash all three
    rows of a group onto IDENTICAL probe sets, which the golden leg
    pins value-exactly. Worker-side generation, (doc_id, blob)."""
    def kernel(batches):
        import numpy as np
        import pandas as pd

        from .avi import encode_avi
        from .image_fp import _base_image
        from .jpeg import encode_jpeg

        for batch in batches:
            blobs = []
            for doc_id in batch["doc_id"]:
                d = int(doc_id)
                g, fps = d // 3, (8, 12, 24)[d % 3]
                base = _base_image(g)
                jpegs = []
                for i in range(fps):  # 1 s of video
                    shift = 48 * i // fps  # integral at 8/12/24
                    fr = np.roll(base, shift=shift, axis=1)
                    jpegs.append(encode_jpeg(fr, quality=85))
                blobs.append(
                    encode_avi(
                        jpegs, base.shape[1], base.shape[0],
                        fps=fps, with_idx1=True,
                    )
                )
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"], "blob": blobs}
            )

    return corpus_frame(docs, kernel, BLOB_SCHEMA, fan_out=True)


def synthetic_cross_container_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic CROSS-CONTAINER video corpus: docs group in
    twos — d // 2 picks a 5-frame POSTERIZED panning clip (levels of
    48 keep the color census ≤256 for the GIF palette), d % 2
    renders it as an MJPEG AVI (q85) or as an animated GIF (global
    palette, full-coverage frames). The same animation in two
    containers must pair through the ordinary probe machinery
    (measured ≤2 dHash bits per frame between the JPEG and palette
    renderings). Worker-side generation, (doc_id, blob)."""
    def kernel(batches):
        import numpy as np
        import pandas as pd

        from .avi import encode_avi
        from .gif import encode_gif_animation
        from .image_fp import _base_image
        from .jpeg import encode_jpeg

        for batch in batches:
            blobs = []
            for doc_id in batch["doc_id"]:
                d = int(doc_id)
                g = d // 2
                base = _base_image(g)
                post = ((base // 48) * 48 + 24).astype(np.uint8)
                frames = [
                    np.roll(post, shift=4 * i, axis=1)
                    for i in range(5)
                ]
                if d % 2 == 0:
                    blob = encode_avi(
                        [encode_jpeg(f, quality=85) for f in frames],
                        post.shape[1], post.shape[0],
                        fps=12, with_idx1=True,
                    )
                else:
                    blob = encode_gif_animation(
                        [{"pixels": f} for f in frames]
                    )
                blobs.append(blob)
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"], "blob": blobs}
            )

    return corpus_frame(docs, kernel, BLOB_SCHEMA, fan_out=True)
