"""Registry queries against their DuckDB oracles at sf0.001, compared
through ``scripts/oracle_check.py``'s comparator: a value any tier's
mechanism moves fails here by name. Two tiers so far: the multimodal
tier and the near-dup verification tier (embedding near-dup, clustering,
SemDeDup and the ANN recall envelopes)."""

from __future__ import annotations

import duckdb
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

# the queries built on the cosine pair scorer, the cluster labeller or
# the recall envelope
VERIFY_QUERIES = [
    "c2_dedup_funnel",
    "c3_dedup_funnel_lsh",
    "c4_pretraining_pipeline",
    "c10_dedup_ensemble",
    "d5_dedup_clusters",
    "d6_dedup_embedding",
    "d8_semantic_keeper",
    "d17_semantic_clusters",
    "d19_dedup_embedding_lsh",
    "d20_semantic_keeper_lsh",
    "d21_semantic_clusters_lsh",
    "d22_dedup_embedding_full",
    "d23_embedding_delta_dedup",
    "d25_semdedup",
    "d26_semdedup_ivf",
    "d27_semdedup_scaled",
    "s1_cosine_topk",
    "s2_lsh_topk",
    "s3_ivf_topk",
    "s5_pq_topk",
    "s6_ivf_pq_topk",
    "s8_sq8_topk",
    "s10_hybrid_rrf",
    "s11_matryoshka_topk",
    "s16_graph_ann_topk",
    "s17_filtered_ann",
    "s18_knn_join",
    "s19_routed_graph_ann",
    "st10_stream_embedding_dedup",
    "t24_leakage_safe_split",
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


@pytest.mark.parametrize("name", VERIFY_QUERIES)
def test_verify_query_matches_oracle(spark, duck, sf_small, name):
    sdf = E.queries()[name](spark, sf_small)
    assert oracle_diff(sdf, sdf.collect(), duck, E.oracle_sql()[name]) == []


@pytest.mark.parametrize("name", ["d6_dedup_embedding", "s1_cosine_topk"])
def test_zero_norm_vector_matches_oracle(spark, tmp_path, name):
    """A zero vector has no cosine. The oracles divide by its zero norm
    and get NULL, so d6 never pairs it and s1 ranks it after every scored
    item (and a zero query ranks its items by id alone); the engine must
    agree, where a bare division raises DIVIDE_BY_ZERO under ANSI mode."""
    vecs = [
        (0, 1, [1.0, 0.0]),
        (1, 1, [0.0, 0.0]),
        (2, 1, [0.9, 0.2]),
        (3, 2, [0.0, 1.0]),
        (4, 2, [0.1, 0.9]),
        (5, 1, [0.0, 0.0]),
        (6, 2, [-0.5, 0.5]),
        (7, 1, [0.7, -0.1]),
    ]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE e (vec_id BIGINT, label INTEGER, embedding FLOAT[])"
    )
    con.executemany("INSERT INTO e VALUES (?, ?, ?)", vecs)
    path = tmp_path / "embeddings.parquet"
    con.execute(f"COPY e TO '{path}' (FORMAT PARQUET)")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{path}'")
    sdf = E.queries()[name](spark, str(tmp_path))
    rows = sdf.collect()
    assert rows
    assert oracle_diff(sdf, rows, con, E.oracle_sql()[name]) == []
    con.close()
