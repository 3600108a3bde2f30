"""Every media family's fused one-hop ``*_from_docs`` operator
(operators/fuse.py, guide §4.1) must be bit-identical to its two-stage
composition — the contract every bench row and declared query leg
that switched to a ``*_from_docs`` variant relies on — and every
operator derived from a family declaration must carry the declared
schema."""

from __future__ import annotations

import importlib

import pytest

from amante_s_supabase_full_cloud_etl_pipeline_spark import catalog

_PKG = "amante_s_supabase_full_cloud_etl_pipeline_spark."

#: family → (module, family declaration, fused op, two-stage op,
#: corpus op, operator parameters); a corpus op given as
#: "module.name" lives outside the family's module
FAMILIES = {
    "email": ("operators.email_text", "EMAIL", "email_text_from_docs",
              "email_text", "synthetic_email_corpus", {}),
    "office": ("operators.office", "OFFICE", "office_text_from_docs",
               "office_text", "synthetic_office_corpus", {}),
    "subtitles": ("operators.subtitles", "SUBTITLES",
                  "subtitle_text_from_docs", "subtitle_text",
                  "synthetic_subtitle_corpus", {}),
    "ogg": ("operators.ogg", "OGG", "ogg_meta_from_docs",
            "ogg_meta", "synthetic_ogg_corpus", {}),
    "mp3": ("operators.mp3", "MP3", "mp3_meta_from_docs",
            "mp3_meta", "synthetic_mp3_corpus", {}),
    "flac": ("operators.flac", "FLAC", "flac_meta_from_docs",
             "flac_meta", "synthetic_flac_corpus", {}),
    "heif": ("operators.heif", "HEIF", "heif_meta_from_docs",
             "heif_meta", "synthetic_heif_corpus", {}),
    "pdf": ("operators.pdf", "PDF_TEXT", "pdf_text_from_docs",
            "pdf_text", "synthetic_pdf_corpus", {}),
    "mp4": ("operators.mp4", "MP4_KEYFRAMES", "mp4_keyframes_from_docs",
            "sample_mp4_keyframes", "synthetic_mp4_corpus", {"every": 3}),
    "mkv": ("operators.mkv", "MKV_KEYFRAMES", "mkv_keyframes_from_docs",
            "sample_mkv_keyframes", "synthetic_mkv_corpus", {"every": 3}),
    "archives": ("sources.archives", "ARCHIVE_EXTRACT",
                 "archive_extract_from_docs", "archive_extract",
                 "synthetic_archive_corpus", {"suffix": ".txt"}),
    "audio_probes": ("operators.audio_fp", "AUDIO_PROBES",
                     "audio_probes_from_docs", "audio_probes",
                     "operators.multimodal.synthetic_audio_corpus", {}),
    "image_features": ("operators.multimodal", "IMAGE_FEATURES",
                       "image_features_from_docs", "decode_image_features",
                       "synthetic_image_corpus", {}),
}


def _rows(df):
    return sorted(tuple(str(x) for x in r) for r in df.collect())


def _attr(module, name):
    if "." in name:
        owner, name = name.rsplit(".", 1)
        module = importlib.import_module(_PKG + owner)
    return getattr(module, name)


def _family_test(module, family, fused, two_stage, corpus, params):
    def test(self, docs):
        m = importlib.import_module(_PKG + module)
        fam = getattr(m, family)
        media = _attr(m, corpus)(docs)
        assert media.schema == fam.source.schema
        # the image kernel reads media_type; every other extract
        # takes the (doc_id, blob) pair
        if family != "IMAGE_FEATURES":
            media = media.select("doc_id", "blob")
        one_hop = getattr(m, fused)(docs, **params)
        two_hop = getattr(m, two_stage)(media, **params)

        assert one_hop.schema == fam.schema
        assert two_hop.schema == fam.schema
        assert _rows(one_hop) == _rows(two_hop)

    return test


@pytest.mark.usefixtures("spark")
class TestFusedVariants:
    @pytest.fixture(scope="class")
    def docs(self, spark, sf_dir):
        from pyspark.sql import functions as F

        return catalog.table(spark, sf_dir, "documents").filter(
            F.col("doc_id") < 60
        )


def test_kernel_parameters_follow_the_declaration():
    """A Factory is always called, so a missing parameter fails when
    the plan is built; a plain kernel refuses parameters."""
    from amante_s_supabase_full_cloud_etl_pipeline_spark.operators.fuse import (
        Factory,
        _kernel,
    )

    def plain(batches):
        return batches

    def make(every):
        return plain

    assert _kernel(plain, ()) is plain
    assert _kernel(Factory(make), (3,)) is plain
    with pytest.raises(TypeError):
        _kernel(Factory(make), ())
    with pytest.raises(TypeError):
        _kernel(plain, (3,))


# one test per family, all running the same body over the table
for _name, _spec in FAMILIES.items():
    setattr(TestFusedVariants, "test_" + _name, _family_test(*_spec))
