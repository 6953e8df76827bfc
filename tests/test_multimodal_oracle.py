"""The multimodal tier's registry queries against their DuckDB oracles at
sf0.001, compared through ``scripts/oracle_check.py``'s comparator: a
value any tier kernel moves fails here by name."""

from __future__ import annotations

import pytest

import __spark_entry__ as E
from scripts.oracle_check import connect, oracle_diff

TIER_QUERIES = [
    "m1_decode_meta",
    "m2_frame_sample",
    "m4_byte_histogram",
    "m5_resize",
    "m6_resize_png",
    "m7_wav_stats",
    "m8_wav_frames",
    "m9_avi_stats",
    "m10_avi_frames",
    "m11_mixed_modality",
    "m12_image_ahash",
    "m13_multimodal_pack",
    "m14_av_alignment",
    "m15_keyframes",
    "m16_image_patches",
    "m17_audio_energy",
    "m18_audio_autocorr",
    "c5_multimodal_pipeline",
    "d11_image_dup_groups",
    "d12_image_neardup",
]


@pytest.fixture(scope="module")
def duck(sf_small):
    con = connect(sf_small)
    yield con
    con.close()


@pytest.mark.parametrize("name", TIER_QUERIES)
def test_multimodal_query_matches_oracle(spark, duck, sf_small, name):
    sdf = E.queries()[name](spark, sf_small)
    assert oracle_diff(sdf, sdf.collect(), duck, E.oracle_sql()[name]) == []
