"""The fused multimodal operators equal the two-pass compositions they
replace: ``fused_media_stats`` = ``synthesize_*`` → ``extract_*``, and
``resize_mixed_report`` = union of the three synthesizers →
``resize_media``."""

import pytest

from faconne_spark.operators import multimodal as MM

# (payload builder, per-payload reduction, schema, synthesize, extract),
# one per fused_media_stats call site in the registry
FUSED = [
    ("jpeg_payload_for_doc", "jpeg_pixel_stats_row", "PNG_STATS_SCHEMA",
     "synthesize_jpeg", "extract_jpeg_pixel_stats"),
    ("jpeg_progressive_payload_for_doc", "jpeg_pixel_stats_row",
     "PNG_STATS_SCHEMA", "synthesize_jpeg_progressive",
     "extract_jpeg_pixel_stats"),
    ("jpeg_payload_for_doc", "image_ahash_row", "AHASH_SCHEMA",
     "synthesize_jpeg", "extract_image_ahash"),
    ("gif_payload_for_doc", "image_ahash_row", "AHASH_SCHEMA",
     "synthesize_gif", "extract_image_ahash"),
    ("gif_payload_for_doc", "gif_pixel_stats_row", "PNG_STATS_SCHEMA",
     "synthesize_gif", "extract_gif_pixel_stats"),
    ("mp4_payload_for_doc", "mp4_frame_stats_row", "MP4_FRAME_STATS_SCHEMA",
     "synthesize_mp4", "extract_mp4_frame_stats"),
    ("mp4_fragmented_payload_for_doc", "mp4_frame_stats_row",
     "MP4_FRAME_STATS_SCHEMA", "synthesize_mp4_fragmented",
     "extract_mp4_frame_stats"),
    ("flac_payload_for_doc", "flac_stats_row", "FLAC_STATS_SCHEMA",
     "synthesize_flac", "extract_flac_stats"),
    ("gif_animated_payload_for_doc", "gif_frame_stats_row",
     "GIF_ANIM_SCHEMA", "synthesize_gif_animated", "extract_gif_frame_stats"),
]


@pytest.fixture(scope="module")
def docs(tables):
    return tables["documents"].orderBy("doc_id").limit(6)


def _rows(df, cols):
    return sorted((tuple(r) for r in df.select(*cols).collect()), key=repr)


@pytest.mark.parametrize("payload,row,schema,synth,extract", FUSED,
                         ids=[f"{f[0]}-{f[1]}" for f in FUSED])
def test_fused_media_stats_equals_two_pass(docs, payload, row, schema,
                                           synth, extract):
    fused = MM.fused_media_stats(
        docs, getattr(MM, payload), getattr(MM, row), getattr(MM, schema)
    )
    two_pass = getattr(MM, extract)(getattr(MM, synth)(docs))
    got = _rows(fused, fused.columns)
    assert got
    assert got == _rows(two_pass, fused.columns)


def test_resize_mixed_report_equals_union_then_resize(docs):
    cols = ["doc_id", "payload", "media_type"]
    media = (
        MM.synthesize_media(docs).select(cols)
        .unionByName(MM.synthesize_jpeg(docs).select(cols))
        .unionByName(MM.synthesize_gif(docs).select(cols))
    )
    fused = MM.resize_mixed_report(docs)
    got = _rows(fused, fused.columns)
    assert {r[1] for r in got} >= {"image/jpeg", "image/gif", "audio/wav"}
    assert got == _rows(MM.resize_media(media), fused.columns)
