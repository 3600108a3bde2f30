"""Video near-dup tier (operators/video_fp.py): frame-hash kernel
parity, probe-key reference semantics, group pair completeness with
zero cross-group pairs, quantified re-encode/brightness invariance,
truncation behavior, the ubiquity cap, and damage sweeps."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from amante_s_supabase_full_cloud_etl_pipeline_spark import catalog
from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.avi import (
    mjpeg_frames,
)
from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.image_fp import (
    dhash64,
)
from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.video_fp import (
    _VARIANTS,
    _clip_frames,
    _encode_variant,
    frame_probe_keys,
    shared_video_pairs,
    synthetic_near_dup_video_corpus,
    video_frame_hashes,
    video_near_dup_pairs,
    video_probes,
)

N_GROUPS = 8


@pytest.fixture(scope="module")
def corpus(spark, sf_dir):
    docs = catalog.table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < N_GROUPS * _VARIANTS
    )
    df = synthetic_near_dup_video_corpus(docs)
    rows = {r["doc_id"]: bytes(r["blob"]) for r in df.collect()}
    assert len(rows) == N_GROUPS * _VARIANTS
    return df, rows


def _ham(a: int, b: int) -> int:
    return bin((a ^ b) & ((1 << 64) - 1)).count("1")


def _driver_hashes(blob: bytes) -> list[int]:
    # mjpeg_frames returns decoded (h, w, 3) arrays
    return [dhash64(arr) for arr in mjpeg_frames(blob) or []]


def test_frame_hash_kernel_equals_driver(spark, corpus):
    df, blobs = corpus
    got: dict[int, dict[int, int]] = {}
    for r in video_frame_hashes(df).collect():
        got.setdefault(r["doc_id"], {})[r["frame_idx"]] = r["dhash"]
    for d, blob in blobs.items():
        ref = _driver_hashes(blob)
        assert ref, d  # every fixture clip decodes
        assert got[d] == {i: h for i, h in enumerate(ref)}, d


def test_probe_rows_match_reference(spark, corpus):
    df, blobs = corpus
    got: dict[int, set[int]] = {}
    for r in video_probes(df).collect():
        got.setdefault(r["doc_id"], set()).add(r["probe"])
    for d, blob in blobs.items():
        ref: set[int] = set()
        for h in _driver_hashes(blob):
            ref.update(frame_probe_keys(h))
        assert got[d] == ref, d


def test_invariance_bounds_per_frame():
    """Quantified: q40 re-encode and +18 brightness keep every
    frame's dHash within Hamming 3 of the q85 original (the
    pigeonhole bound for guaranteed band sharing); unrelated clips
    sit tens of bits apart."""
    for g in range(N_GROUPS):
        orig = _driver_hashes(_encode_variant(_clip_frames(g), 0))
        for v in (1, 2):
            var = _driver_hashes(_encode_variant(_clip_frames(g), v))
            assert len(var) == len(orig)
            assert max(
                _ham(a, b) for a, b in zip(orig, var)
            ) <= 3, (g, v)
    a0 = _driver_hashes(_encode_variant(_clip_frames(0), 0))
    b0 = _driver_hashes(_encode_variant(_clip_frames(1), 0))
    # unrelated frames stay OUTSIDE the guaranteed-collision bound
    # (an occasional chance band collision is what min_shared +
    # min_shared_frac exist to cut at the video level)
    assert min(_ham(a, b) for a in a0 for b in b0) > 3


def test_group_pairs_complete_no_cross(spark, corpus):
    df, _ = corpus
    pairs = {
        (r["doc_a"], r["doc_b"]): r["shared_probes"]
        for r in video_near_dup_pairs(df).collect()
    }
    for (a, b), shared in pairs.items():
        assert a // _VARIANTS == b // _VARIANTS, (a, b)
        assert shared >= 6
    for g in range(N_GROUPS):
        ids = [g * _VARIANTS + v for v in range(_VARIANTS)]
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                assert (a, b) in pairs, (a, b)


def test_truncated_variant_shares_prefix(spark, corpus):
    """v3 keeps half the frames — its surviving frames' keys still
    pair it with the full-length original."""
    df, blobs = corpus
    full = _driver_hashes(blobs[0])
    half = _driver_hashes(blobs[3])
    assert len(half) == len(full) // 2
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in video_near_dup_pairs(df).collect()
    }
    assert (0, 3) in pairs


def test_ubiquity_cap_drops_boilerplate(spark, corpus):
    """A key carried by more than max_posting videos is dropped
    before any posting list builds — with the cap below the group
    size, the near-identical variants' shared keys all become
    boilerplate and no pairs survive."""
    df, _ = corpus
    probes = video_probes(df.filter(F.col("doc_id") < _VARIANTS))
    assert shared_video_pairs(probes).count() > 0
    assert shared_video_pairs(probes, max_posting=1).count() == 0


def test_shared_fraction_cut_only_narrows(spark, corpus):
    """``min_shared_frac`` cuts on top of the absolute floor: a high
    fraction keeps only near-complete overlaps (brightness and
    truncated exact-invariance pairs) and drops the q40 re-encode
    pairs, never adding one."""
    df, _ = corpus
    probes = video_probes(df)

    def pairs(frac):
        return {
            (r["doc_a"], r["doc_b"])
            for r in shared_video_pairs(probes, min_shared_frac=frac).collect()
        }

    loose, tight = pairs(0.0), pairs(0.99)
    assert tight <= loose
    assert len(tight) < len(loose)


def test_damage_and_non_video_emit_nothing(spark):
    rows = [
        (1, bytearray(b"\x00" * 64)),
        (2, bytearray(b"RIFF\xff\xff\xff\xffAVI LIST")),
        (3, bytearray(b"not a container at all")),
    ]
    df = spark.createDataFrame(
        [(d, bytes(b)) for d, b in rows], "doc_id long, blob binary"
    )
    assert video_frame_hashes(df).count() == 0
    assert video_probes(df).count() == 0


def test_torn_tail_keeps_prefix_keys(spark, corpus):
    _, blobs = corpus
    torn = blobs[0][: len(blobs[0]) * 2 // 3]
    df = spark.createDataFrame(
        [(0, blobs[0]), (99, torn)], "doc_id long, blob binary"
    )
    got: dict[int, set[int]] = {}
    for r in video_probes(df).collect():
        got.setdefault(r["doc_id"], set()).add(r["probe"])
    assert got.get(99) and got[99] <= got[0]


def test_cross_fps_wall_clock_sampling(spark, sf_dir):
    """The canonical front-end: 8/12/24 fps renderings of the same
    scene sampled at 250 ms hash onto IDENTICAL frame sequences and
    pair with each other (closing the index-stride scope limit)."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.video_fp import (  # noqa: E501
        synthetic_cross_fps_corpus,
        video_near_dup_pairs,
    )

    docs = catalog.table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 9  # 3 scenes × 3 rates
    )
    corpus = synthetic_cross_fps_corpus(docs)
    hashes: dict[int, list[tuple[int, int]]] = {}
    for r in video_frame_hashes(corpus, sample_ms=250).collect():
        hashes.setdefault(r["doc_id"], []).append(
            (r["frame_idx"], r["dhash"])
        )
    for g in range(3):
        seqs = [sorted(hashes[g * 3 + v]) for v in range(3)]
        assert len(seqs[0]) == 4
        assert seqs[0] == seqs[1] == seqs[2], g
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in video_near_dup_pairs(
            corpus, sample_ms=250
        ).collect()
    }
    for g in range(3):
        ids = [g * 3 + v for v in range(3)]
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                assert (a, b) in pairs, (a, b)
        assert all(
            x // 3 == y // 3 for x, y in pairs
        )


def test_sample_ms_denser_than_frames_keeps_all(spark, corpus):
    """sample_ms below the frame interval degrades to every frame —
    the bounded step<=1 path."""
    _, blobs = corpus
    all_frames = mjpeg_frames(blobs[0])
    dense = mjpeg_frames(blobs[0], sample_ms=1)
    assert len(dense) == len(all_frames)


def test_cross_container_gif_avi_pairing(spark, sf_dir):
    """The same animation stored as an MJPEG AVI and as an animated
    GIF pairs through the ordinary probe machinery (measured ≤2
    dHash bits per frame between the JPEG and palette renderings);
    unrelated clips stay apart."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.video_fp import (  # noqa: E501
        synthetic_cross_container_corpus,
    )

    docs = catalog.table(spark, sf_dir, "documents").filter(
        F.col("doc_id") < 8  # 4 clips × {avi, gif}
    )
    corpus = synthetic_cross_container_corpus(docs)
    hashes: dict[int, list[int]] = {}
    for r in video_frame_hashes(corpus).collect():
        hashes.setdefault(r["doc_id"], []).append(
            (r["frame_idx"], r["dhash"])
        )
    for g in range(4):
        avi = [h for _, h in sorted(hashes[g * 2])]
        gif = [h for _, h in sorted(hashes[g * 2 + 1])]
        assert len(avi) == len(gif) == 5
        assert max(_ham(a, b) for a, b in zip(avi, gif)) <= 3, g
    pairs = {
        (r["doc_a"], r["doc_b"])
        for r in video_near_dup_pairs(corpus).collect()
    }
    for g in range(4):
        assert (g * 2, g * 2 + 1) in pairs, g
    assert all(a // 2 == b // 2 for a, b in pairs)


def test_gif_damage_is_whole_row(spark):
    """A corrupt GIF animation emits nothing (the gif module's
    whole-row S4 contract), and non-video bytes stay silent."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.gif import (  # noqa: E501
        encode_gif_animation,
    )
    import numpy as np

    frames = [
        {"pixels": np.full((16, 16, 3), 24 + 48 * i, dtype=np.uint8)}
        for i in range(3)
    ]
    good = encode_gif_animation(frames)
    df = spark.createDataFrame(
        [(1, good), (2, good[: len(good) // 2]),
         (3, b"GIF89a" + b"\xff" * 16)],
        "doc_id long, blob binary",
    )
    got = {r["doc_id"] for r in video_frame_hashes(df).collect()}
    assert got == {1}
