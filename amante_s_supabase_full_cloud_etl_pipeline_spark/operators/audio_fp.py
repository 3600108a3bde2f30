"""Audio near-dup fingerprinting — the AUDIO tier of the dedup
family (charter extension, SURVEY.md §2.10; reference analog: none).

Why a 100 TB multimodal corpus needs it: exact dedup catches
byte-identical audio; nothing else catches the SAME recording at a
different volume, with light noise, or re-quantized — the dominant
duplicate shape of scraped audio. Text has MinHash, images have the
decode-feature distance, documents have CDC chunk hashes; audio had
only exact-bytes.

Bit derivation — after Haitsma & Kalker ("A Highly Robust Audio
Fingerprinting System", ISMIR 2002), clean-room from the paper:
frame the waveform (1024-sample Hann windows, 50% hop), power
spectrum via numpy rFFT (no audio libs — numpy is baked in), fold
into ``_N_BANDS`` log-spaced energy bands between 300 and 3000 Hz
(band edges scale from the file's own sample rate), one bit per band
from its energy against the frame's MEAN band energy::

    bit(n, m) = 1  iff  E[n, m] > mean_k E[n, k]

DOCUMENTED DEVIATIONS from the paper, both measured: (a) H&K
differentiate adjacent bands along frequency AND time — their
matcher does Hamming-distance search over long blocks, where
near-zero difference bits are tolerable. An EXACT-MATCH posting
index — the shape every dedup tier here uses — needs stable bits:
the temporal derivative of quasi-stationary audio is near zero
almost everywhere (signs = noise), and adjacent-band signs are
noise for SPARSE spectra (most adjacent pairs compare two empty
bands; measured: 0 probe survivals at light noise on tonal
signals). (b) The frame-mean reference keeps every bit decisive —
tonal bands sit stably above the mean, empty bands stably below —
and stays per-frame-gain invariant (the mean scales with the
bands), so volume changes are an EXACT invariance and light/heavy
noise keeps ~100+ shared probes per second of audio.

Matching primitive — the repo's simhash MULTI-PROBE pattern
(:mod:`.dedup`): consecutive frames concatenate into a 32-bit key,
and each key emits itself plus its 32 one-bit flips (33 probes).
Two keys within Hamming distance 2 share a probe by construction
(flip one differing bit on each side), so light noise — a few
flipped sign bits — still collides, while the 32-bit space keeps the
chance floor for unrelated audio at ~0 (measured: noisy copies share
100+ probe keys, unrelated recordings share none). Pair semantics
then reuse the CDC machinery verbatim
(:func:`..operators.cdc.capped_posting_lists` /
:func:`~..operators.cdc.pairs_from_posting`): a ubiquity cap on
document frequency (near-silence and common tones are the audio
boilerplate), capped lists exploded to pairs.

Scale shape: fingerprinting is a map-only Arrow kernel (one rFFT
pass per blob, no shuffle); probes are a bounded 33× expansion of
frame rows; the pair query is the same two aggregations as the
chunk-hash pairs — bounded buffers, no all-pairs, no driver
collects.

Rate mismatches (r11 — the former SCOPE LIMIT, now closed): the
SAME recording stored at a different sample RATE does not align
frame-for-frame, so the standard front-end is resampling to a
canonical analysis rate before fingerprinting. The kernels take
``canonical_rate`` (wired through :func:`decode_audio` into the
clean-room polyphase resampler, :mod:`.resample`); cross-rate probe
sharing is pinned quantitatively in tests. The default stays None —
per-file-rate analysis, byte-identical goldens/benches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
)

from .cdc import (
    capped_posting_lists,
    eligible_hashes,
    pairs_from_posting,
)
from .flac import decode_flac, sniff_flac
from .fuse import BLOB_SCHEMA, Factory, MediaFamily, corpus_frame
from .multimodal import AUDIO_CORPUS, decode_wav


def decode_audio(blob: bytes, canonical_rate: int | None = None):
    """Container dispatch for the fingerprint kernels: PCM WAV or
    FLAC (r11 — the first compressed audio codec, clean-room per
    RFC 9639; see :mod:`.flac` for why it is not ADR-gated) →
    (mono float64 in [-1, 1], rate), None on damage/unknown (S4).
    Both decoders fold channels by mean, so the SAME recording
    stored as WAV and as FLAC yields the same samples — and
    therefore identical fingerprints (pinned in tests).

    ``canonical_rate`` (r11): resample the decoded waveform to one
    analysis rate via :mod:`.resample` — the front-end that closes
    the module's documented rate-mismatch SCOPE LIMIT: with it, the
    SAME recording stored at 8/16/44.1 kHz fingerprints onto shared
    probe keys (pinned quantitatively in tests). Default None keeps
    the historical per-file-rate behavior (golden/bench outputs
    unchanged)."""
    if sniff_flac(blob):
        decoded = decode_flac(blob)
    else:
        from .mp3 import sniff_mp3

        if sniff_mp3(blob):
            # identified, not decoded: Layer III Huffman decode is
            # ADR-gated (operators/mp3.py module docstring) — an MP3
            # is an explicit S4 here, never misparsed as PCM
            return None
        decoded = decode_wav(blob)
    if decoded is None or canonical_rate is None:
        return decoded
    samples, rate = decoded
    if rate == canonical_rate:
        return decoded
    import numpy as np

    from .resample import resample

    # clip: the Kaiser sinc has Gibbs overshoot (~9% on a step), and
    # the documented contract is mono float64 in [-1, 1] — the
    # fingerprinter is amplitude-invariant, but a future consumer
    # trusting the contract (re-encode to int16, peak features)
    # would wrap (review catch)
    return (
        np.clip(resample(samples, rate, canonical_rate), -1.0, 1.0),
        canonical_rate,
    )

#: frame layout: 1024-sample Hann windows, 50% hop — at 16 kHz each
#: frame covers 64 ms and one lands every 32 ms
_N_FFT = 1024
_HOP = 512
#: 16 bands → 16 bits per frame (one bit per band vs the frame mean)
_N_BANDS = 16
_F_LO = 300.0
_F_HI = 3000.0
#: frames per rFFT block — bounds the kernel's transient memory at
#: ~_FRAME_BLOCK × _N_FFT × 24 B (~100 MB) regardless of blob length
_FRAME_BLOCK = 4096


def frame_fingerprints(samples, rate: int) -> list[int]:
    """Per-frame 16-bit sub-fingerprints for a mono float waveform —
    the driver-side reference the Spark kernel is differential-tested
    against. One bit per log band: its energy against the frame's
    MEAN band energy (module doc: why not the paper's adjacent-band
    difference) — exactly invariant to volume scaling, since the
    mean scales with the bands. Shorter than one window, or a rate
    that puts the 3 kHz band edge past Nyquist → empty list."""
    import numpy as np

    x = np.asarray(samples, dtype=np.float64)
    n = x.size
    if n < _N_FFT or rate <= 0 or rate < 2 * _F_HI:
        return []
    n_frames = 1 + (n - _N_FFT) // _HOP
    window = np.hanning(_N_FFT)
    # log-spaced band edges between 300 and 3000 Hz, mapped to rFFT
    # bins from the file's OWN rate — the same recording stored at
    # another PCM rate lands on the same perceptual bands
    edges_hz = np.geomspace(_F_LO, _F_HI, _N_BANDS + 1)
    bins = np.clip(
        (edges_hz * _N_FFT / rate).astype(int), 1, _N_FFT // 2
    )
    weights = (1 << np.arange(_N_BANDS, dtype=np.uint32))
    out: list[int] = []
    # BLOCKWISE frames (review catch, the cdc.py precedent): the
    # windowed frame matrix + spectrum are ~20 bytes of transients
    # per input byte, so one monolithic pass over a long recording
    # would OOM a task; per-frame values are independent, so blocks
    # concatenate exactly.
    for f0 in range(0, n_frames, _FRAME_BLOCK):
        f1 = min(n_frames, f0 + _FRAME_BLOCK)
        frames = np.lib.stride_tricks.as_strided(
            x[f0 * _HOP:],
            shape=(f1 - f0, _N_FFT),
            strides=(x.strides[0] * _HOP, x.strides[0]),
            writeable=False,
        )
        spec = np.abs(np.fft.rfft(frames * window, axis=1)) ** 2
        energies = np.empty((f1 - f0, _N_BANDS))
        for b in range(_N_BANDS):
            lo, hi = bins[b], max(bins[b + 1], bins[b] + 1)
            energies[:, b] = spec[:, lo:hi].sum(axis=1)
        bits = (
            energies > energies.mean(axis=1, keepdims=True)
        ).astype(np.uint32)
        out.extend(int(v) for v in (bits * weights).sum(axis=1))
    return out


def probe_keys(fps: list[int]) -> list[int]:
    """Multi-probe key set for one recording: consecutive frames
    concatenate into 32-bit keys; each key emits itself + its 32
    one-bit flips. Any two recordings whose aligned keys sit within
    Hamming distance 2 share a probe (flip one differing bit on each
    side). Returned DISTINCT — the posting index is per-(key, doc)."""
    out: set[int] = set()
    for a, b in zip(fps, fps[1:]):
        v = (a << _N_BANDS) | b
        out.add(v)
        for bit in range(2 * _N_BANDS):
            out.add(v ^ (1 << bit))
    return sorted(out)


AUDIO_FP_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("frame_idx", LongType()),
        StructField("fp", LongType()),
    ]
)

_FP_COLS = [f.name for f in AUDIO_FP_SCHEMA.fields]

AUDIO_PROBE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("probe", LongType()),
    ]
)

_PROBE_COLS = [f.name for f in AUDIO_PROBE_SCHEMA.fields]


def audio_fingerprints(
    media: DataFrame, canonical_rate: int | None = None
) -> DataFrame:
    """Map-only Arrow kernel: one row per frame sub-fingerprint of
    each blob — (doc_id, frame_idx, fp). Corrupt / compressed / too-
    short blobs emit nothing (S4 skip, same contract as every media
    kernel). Expects (doc_id, blob). ``canonical_rate`` resamples
    every decodable blob to one analysis rate (see
    :func:`decode_audio`) so cross-rate duplicates align."""

    def kernel(batches):
        import pandas as pd

        for batch in batches:
            rows = []
            for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
                decoded = decode_audio(
                    bytes(blob) if blob is not None else b"",
                    canonical_rate,
                )
                if decoded is None:
                    continue
                for i, v in enumerate(frame_fingerprints(*decoded)):
                    rows.append(
                        {"doc_id": int(doc_id), "frame_idx": i, "fp": v}
                    )
            yield pd.DataFrame(rows, columns=_FP_COLS)

    return media.filter(
        F.col("doc_id").isNotNull() & F.col("blob").isNotNull()
    ).mapInPandas(kernel, AUDIO_FP_SCHEMA)


def audio_probes(
    media: DataFrame, canonical_rate: int | None = None
) -> DataFrame:
    """Map-only Arrow kernel: the DISTINCT multi-probe keys per blob
    — (doc_id, probe). The 33× expansion happens worker-side (never
    a Spark explode of a driver list), S4 skip as above.
    ``canonical_rate`` as on :func:`audio_fingerprints`."""
    return AUDIO_PROBES.extract(media, canonical_rate)


def _probe_kernel(canonical_rate):
    """mapInPandas body factory for :func:`audio_probes`."""

    def kernel(batches):
        import pandas as pd

        for batch in batches:
            rows = []
            for doc_id, blob in zip(batch["doc_id"], batch["blob"]):
                decoded = decode_audio(
                    bytes(blob) if blob is not None else b"",
                    canonical_rate,
                )
                if decoded is None:
                    continue
                for v in probe_keys(frame_fingerprints(*decoded)):
                    rows.append({"doc_id": int(doc_id), "probe": v})
            yield pd.DataFrame(rows, columns=_PROBE_COLS)

    return kernel


AUDIO_PROBES = MediaFamily(
    AUDIO_PROBE_SCHEMA, AUDIO_CORPUS, Factory(_probe_kernel)
)


def audio_probes_from_docs(
    docs: DataFrame, canonical_rate=None
) -> DataFrame:
    """WAV corpus synthesis + probe extraction in ONE Python hop
    (guide §4.1 via :mod:`.fuse`) — bit-identical rows to
    ``audio_probes(synthetic_audio_corpus(docs).select(...))``."""
    return AUDIO_PROBES.from_docs(docs, extract_args=(canonical_rate,))


def shared_audio_pairs(
    probes: DataFrame, max_posting: int = 64, min_shared: int = 8
) -> DataFrame:
    """Document pairs ranked by shared probe keys — the audio
    near-dup signal, built on the CDC pair machinery so all the
    dedup tiers agree on pair semantics. Probe keys carried by more
    than ``max_posting`` documents are dropped before any list
    builds (near-silence / common tones are the audio boilerplate —
    ubiquity is not a dup signal, and the cap bounds every
    aggregation buffer); pairs sharing fewer than ``min_shared``
    probes are the multi-probe collision floor and are cut
    (measured: noisy copies share 100+, unrelated recordings 0).
    Columns: (doc_a, doc_b, shared_probes)."""
    rows = probes.select(
        F.col("probe").cast("string").alias("chunk_hash"), "doc_id"
    )
    pairs = pairs_from_posting(
        capped_posting_lists(rows, eligible_hashes(rows, max_posting))
    )
    return pairs.filter(
        F.col("shared_chunks") >= min_shared
    ).select(
        "doc_a", "doc_b", F.col("shared_chunks").alias("shared_probes")
    )


def audio_near_dup_pairs(
    media: DataFrame,
    max_posting: int = 64,
    min_shared: int = 8,
    canonical_rate: int | None = None,
) -> DataFrame:
    """End-to-end: blobs → probe keys → shared-probe pairs. The
    probe frame feeds BOTH the eligibility aggregation and the
    posting semi-join, so it is tracked-persisted here — unpersisted
    the lineage would run the decode + rFFT + multi-probe kernel
    twice, the dominant cost of the audio tier (review catch).
    Released by the registry/bench cache lifecycle
    (:func:`.cache.release_tracked`); ad-hoc callers can release
    the same way. ``canonical_rate`` (r11, review catch: the
    capability was kernel-only) enables cross-sample-rate matching
    — see :func:`decode_audio`."""
    from .cache import tracked_persist

    return shared_audio_pairs(
        tracked_persist(audio_probes(media, canonical_rate)),
        max_posting,
        min_shared,
    )


def synthetic_cross_rate_corpus(docs: DataFrame) -> DataFrame:
    """Deterministic CROSS-RATE audio corpus for the canonical-rate
    driver anchor (r12 — VERDICT r11 #6: the resampler's production
    path was pytest-only): docs group in threes — d // 3 picks a
    band-limited non-stationary recording (chirp + tremolo, all
    energy < 3.4 kHz so even the 8 kHz rendering is alias-free),
    d % 3 renders it INDEPENDENTLY sampled at 8 / 16 / 44.1 kHz.
    Fingerprinting through ``decode_audio(canonical_rate=16000)``
    must put all three rows of a group on the IDENTICAL probe-key
    set — which the golden leg pins value-exactly. Worker-side
    generation, same (doc_id, blob) contract as the other corpora."""

    def kernel(batches):
        import numpy as np
        import pandas as pd

        from .multimodal import encode_wav_pcm16

        for batch in batches:
            blobs = []
            for doc_id in batch["doc_id"]:
                d = int(doc_id)
                g = d // 3
                rate = (8_000, 16_000, 44_100)[d % 3]
                f0 = 300.0 + 23.0 * (g % 11)
                dur = 1.5
                t = np.arange(int(rate * dur)) / rate
                sweep = f0 * (1.0 + 0.5 * t / dur)
                phase = 2 * np.pi * np.cumsum(sweep) / rate
                x = (
                    0.5 * np.sin(phase)
                    + 0.3 * np.sin(2.7 * phase + 0.4)
                    * (0.6 + 0.4 * np.sin(2 * np.pi * 2.0 * t))
                    + 0.2 * np.sin(5.1 * phase + 1.1 + g)
                )
                blobs.append(
                    encode_wav_pcm16((x * 20_000).astype("<i2"), rate)
                )
            yield pd.DataFrame(
                {"doc_id": batch["doc_id"], "blob": blobs}
            )

    return corpus_frame(docs, kernel, BLOB_SCHEMA)
