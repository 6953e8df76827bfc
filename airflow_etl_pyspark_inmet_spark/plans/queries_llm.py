"""LLM-training-data pipeline queries over documents/embeddings/events:
dedup (exact, n-gram Jaccard, MinHash-LSH, SimHash), similarity search,
text analysis, multimodal plumbing, and the streaming twins.

Each is a thin binding of an operators/* function to the testdata tables;
oracle SQL lives in plans.registry.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from ..operators.util import lineage_checkpoint

from ..operators.dedup import (
    _cluster_labels,
    dedup_exact,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_jaccard_pairs,
)
from ..operators.multimodal import (
    decode_metadata,
    extract_byte_histogram,
    frame_sample_stub,
    resize_stub,
    with_binary_payload,
)
from ..operators.similarity import (
    _cos_side,
    _pair_cosine,
    _recall_envelope,
    cosine_topk,
    lsh_cosine_topk,
)
from ..operators.text import (
    _words,
    decontaminate,
    fingerprint,
    lang_id,
    quality_score,
    repetition_stats,
    tfidf_top_terms,
    token_stats,
)
from .queries_relational import _t


def _probe_queries(emb: DataFrame) -> DataFrame:
    """The ANN tier's probe set: the corpus vectors with ``vec_id < 5``
    as (query_id, embedding) — the query side the s-family oracles
    replay."""
    return emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )


def d1_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keeper id + copy count per distinct text. The shuffle
    carries (64-bit hash, id), never the document body."""
    docs = _t(spark, sf_dir, "documents")
    return dedup_exact(docs).select("keep_id", "n_copies")


def d2_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3gram Jaccard near-dup pairs at threshold 0.5 (the
    testdata plants ~25 pairs >= 0.85; noise pairs sit <= 0.15)."""
    docs = _t(spark, sf_dir, "documents")
    return jaccard_pairs(docs, ngram=3, threshold=0.5, broadcast_sizes=True)


def d3_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(30) + 10-band (r=3) LSH candidates, verified with exact
    Jaccard. True pairs in this corpus sit at j>=0.85 where the r=3/b=10
    S-curve misses with p<1e-4, so the output equals the exact-Jaccard
    result (same oracle) — while the candidate join stays linear in docs,
    not quadratic (see operators.dedup.minhash_lsh_pairs)."""
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, ngram=3, threshold=0.5, broadcast_sizes=True
    )


def d4_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-64 near-dup detection, oracle-checkable tier: banded
    signature candidates (16 x 4-bit chunks — pigeonhole-guaranteed
    recall for Hamming <= 15, above the corpus max of 9 for true pairs)
    verified with exact 3-gram Jaccard. r17 (VERDICT item 3): candidate
    generation rides the hot-shingle cap (df <= 64) so the postings
    join's per-shingle fan-out is bounded at cap^2 — the uncapped plan
    was the family's worst scaler (17.6x at factor-10, quadratic in
    per-shingle df on replicated corpora). The cap is REPLICATED in the
    DuckDB oracle, so the contract stays exact at every scale; at the
    oracle scale (sf0.01 max df = 7) the capped output additionally
    equals d2's uncapped exact-Jaccard set. The scale tier with 16-bit
    selective buckets + Hamming verify is operators.dedup.simhash_pairs
    (now with the mirror max_bucket_df guard), exercised in tests."""
    docs = _t(spark, sf_dir, "documents")
    return simhash_jaccard_pairs(
        docs, ngram=3, n_bands=16, threshold=0.5, broadcast_sizes=True,
        max_shingle_df=64,
    )


def t1_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return token_stats(docs).select("doc_id", "ws_tokens", "bpe_tokens", "chars")


def t2_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return quality_score(docs).select(
        "doc_id", "n_chars_calc", "alpha_ratio", "stopword_ratio"
    )


def t3_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return lang_id(docs).select(
        "doc_id", "score_en", "score_es", "score_de", "score_fr", "lang_pred"
    )


def t4_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    return fingerprint(docs, ngram=3)


def s1_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force exact cosine top-10 for 5 query vectors: broadcast
    queries, JVM-side dot products, window top-k. Rank-only output (ids),
    engine-neutral."""
    emb = _t(spark, sf_dir, "embeddings")
    queries = _probe_queries(emb)
    return cosine_topk(emb, queries, k=10)


def s2_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN, oracle-checkable tier: the ANN candidates
    come from a (table, bucket) equi-join; the emitted rows are the exact
    top-k (hash-matched against the oracle) plus a per-query recall
    envelope boolean on the LSH tier (measured recall floor 0.8 at
    sf0.01; envelope 0.5). Production path = lsh_cosine_topk alone."""
    from ..operators.similarity import ann_with_recall_check

    emb = _t(spark, sf_dir, "embeddings")
    queries = _probe_queries(emb)
    return ann_with_recall_check(
        emb,
        queries,
        lambda: lsh_cosine_topk(
            emb, queries, k=10, dim=64, n_planes=6, n_tables=8
        ),
        k=10,
        min_recall=0.5,
    )


def m1_decode_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: binary payload column -> Arrow-batched
    mapInPandas decode stub -> typed metadata."""
    docs = with_binary_payload(_t(spark, sf_dir, "documents"))
    return decode_metadata(docs)


def m2_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal fan-out plumbing: 1 blob -> n sampled frame rows."""
    docs = with_binary_payload(_t(spark, sf_dir, "documents"))
    return frame_sample_stub(docs)


def m14_av_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio/video stream alignment — the AV-sync step of a multimodal
    training pipeline: for every decoded VIDEO frame, the latest
    decoded AUDIO sample at or before its presentation time, as a
    distributed as-of join. Timebases come from the REAL decoded
    headers (usec_per_frame from the AVI avih chunk, sample_rate from
    the WAV fmt chunk), so the alignment inputs carry full decode
    provenance: video t = frame_idx * usec_per_frame, audio
    t = frame_idx * 1e6 div rate (exact integer us). The join is the
    union+window asof plan (one shuffle on doc_id, no range
    explosion, no per-group pandas — operators/relational.py
    asof_join). On this synthetic corpus audio clips are much shorter
    than a video frame interval, so most frames align to the clip's
    last sample — a data-shape artifact; the oracle still verifies the
    as-of semantics row for row via DuckDB's native ASOF JOIN."""
    from ..operators.audio import (
        text_to_wav_payload,
        wav_audio_stats,
        wav_frame_sample,
    )
    from ..operators.avi import (
        avi_frame_sums,
        avi_stats,
        text_to_avi_payload,
    )
    from ..operators.relational import asof_join

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    vp = text_to_avi_payload(docs)
    video = (
        avi_frame_sums(vp)
        .join(avi_stats(vp).select("doc_id", "usec_per_frame"), "doc_id")
        .select(
            "doc_id",
            F.col("frame_idx").alias("v_idx"),
            "frame_sum",
            (F.col("frame_idx").cast("bigint") * F.col("usec_per_frame"))
            .cast("bigint")
            .alias("v_ts_us"),
        )
    )
    ap = text_to_wav_payload(docs)
    audio = (
        wav_frame_sample(ap, every_n=16)
        .join(wav_audio_stats(ap).select("doc_id", "sample_rate"), "doc_id")
        .select(
            "doc_id",
            F.col("frame_idx").alias("a_idx"),
            "sample",
            F.expr(
                "cast(frame_idx as bigint) * 1000000"
                " div cast(sample_rate as bigint)"
            ).alias("a_ts_us"),
        )
    )
    out = asof_join(video, audio, on="doc_id", left_ts="v_ts_us",
                    right_ts="a_ts_us")
    return out.select(
        "doc_id", "v_idx", "v_ts_us", "frame_sum", "a_idx", "sample"
    )


def g1_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (3 exact-integer iterations, damping 0.85) over the
    part co-purchase graph — the corpus-safe q83 edge construction
    (per-basket top-5-by-support cap, distinct pairs, both directions)
    feeding the iterative-graph operator beyond connected components
    (operators.dedup.pagerank_exact). Every step is truncating integer
    arithmetic in 1e12-scale units, so the oracle replays the 3 rounds
    as unrolled SQL bit for bit (the t22 iterative-replay contract).
    Top-100 by rank with full tiebreak."""
    from ..operators.dedup import pagerank_exact

    d = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    support = d.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("_support"))
    from pyspark.sql import Window as W

    w = W.partitionBy("l_orderkey").orderBy(
        F.col("_support").desc(), F.col("l_partkey").asc()
    )
    top = (
        d.join(support, "l_partkey")
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 5)
        .select("l_orderkey", "l_partkey")
    )
    a = top.toDF("o", "p1")
    b = top.toDF("o", "p2")
    pairs = (
        a.join(b, "o").filter(F.col("p1") < F.col("p2"))
        .select("p1", "p2")
        .distinct()
    )
    edges = pairs.select(
        F.col("p1").alias("src"), F.col("p2").alias("dst")
    ).unionAll(pairs.select(F.col("p2").alias("src"), F.col("p1").alias("dst")))
    pr = pagerank_exact(edges, n_iters=3)
    return pr.orderBy(
        F.col("pr_scaled").desc(), F.col("node").asc()
    ).limit(100)


def _media_tokens() -> Column:
    """``media_tokens`` of one decode_any_metadata row, from its decoded
    dims: image ceil(w/2) * ceil(h/2) patches, audio one token per 16
    PCM frames, video 16 patches per 8x8 frame."""
    return (
        F.when(
            F.col("modality") == "png",
            F.expr("((dim_a + 1) div 2) * ((dim_b + 1) div 2)"),
        )
        .when(F.col("modality") == "wav", F.expr("(dim_a + 15) div 16"))
        .otherwise(F.expr("dim_a * 16"))
        .cast("bigint")
        .alias("media_tokens")
    )


def c5_multimodal_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MULTIMODAL flagship composition — c4's text-pipeline proof
    repeated for the mixed-media path: real codec decode (m11's
    magic-number dispatch over PNG/WAV/AVI payloads) → content-level
    dedup on the DECODED fingerprint (modality, dims, content_sum —
    min-id keeper, copies counted, the d1/d11 keeper contract) →
    media+text token measurement from decoded dims (m13's rules) →
    hierarchical-offset sequence packing of the survivors. A hash-green
    run proves decode → dedup → measure → pack as ONE chain: the
    oracle predicts every stage from character/id arithmetic and
    replays the pack over the deduped survivor stream."""
    from ..operators.curation import pack_counts
    from ..operators.multimodal import (
        decode_any_metadata,
        mixed_modality_payload,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    meta = decode_any_metadata(mixed_modality_payload(docs))
    survivors = meta.groupBy(
        "modality", "dim_a", "dim_b", "content_sum"
    ).agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("exact_copies"),
    )
    media = survivors.select(
        "doc_id", "modality", "exact_copies", _media_tokens()
    )
    text_toks = docs.select(
        "doc_id",
        F.size(_words(F.col("text"))).cast("bigint").alias("text_tokens"),
    )
    tot = media.join(text_toks, "doc_id").select(
        "doc_id",
        "modality",
        "exact_copies",
        "text_tokens",
        "media_tokens",
        (F.col("text_tokens") + F.col("media_tokens")).alias("_total"),
    )
    packed = pack_counts(tot.select("doc_id", "_total"), count_col="_total")
    return packed.join(
        tot.select(
            "doc_id", "modality", "exact_copies", "text_tokens",
            "media_tokens",
        ),
        "doc_id",
    ).select(
        "bin_id",
        "doc_id",
        "tok_start",
        "n_tokens",
        "modality",
        "exact_copies",
        "text_tokens",
        "media_tokens",
    )


def st7_stream_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming OHLC bars run to completion over the static events dir;
    equals the batch q80 result exactly (same oracle) — min_by/max_by
    on the total-order key are merge-associative, so micro-batch
    arrival order cannot change open/close."""
    from ..streaming.windows import streaming_ohlc_bars

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return streaming_ohlc_bars(
        spark, f"{sf_dir}/events.parquet", window="1 hour", watermark="1 hour"
    )


def st1_stream_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming tumbling-window agg run to completion over the
    static events dir; equals the batch q19 result (same oracle)."""
    from ..streaming.windows import streaming_tumbling_counts

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = streaming_tumbling_counts(
        spark, f"{sf_dir}/events.parquet", window="1 day", watermark="1 hour"
    )
    return out.select(
        F.to_date("window_start").alias("day"),
        "event_type",
        "n_events",
        "total_value",
    )


def st2_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming session_window(30 min) per user; session end = last event
    + gap per Spark semantics, mirrored in the oracle."""
    from ..streaming.windows import streaming_session_counts

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    out = streaming_session_counts(
        spark, f"{sf_dir}/events.parquet", gap="30 minutes", watermark="1 hour"
    )
    return out.select(
        "user_id",
        F.unix_micros("session_start").alias("start_us"),
        F.unix_micros("session_end").alias("end_us"),
        "n_events",
    )


def d5_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup clustering: exact-Jaccard near-dup pairs -> connected
    components -> (doc_id, cluster_id = min reachable doc_id). The
    canonical keeper per cluster is the cluster_id itself. Oracle:
    DuckDB recursive-CTE transitive closure over the same pairs."""
    from ..operators.dedup import connected_components

    docs = _t(spark, sf_dir, "documents")
    pairs = jaccard_pairs(docs, ngram=3, threshold=0.5, broadcast_sizes=True)
    return connected_components(pairs).select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    )


def d6_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine (semantic) near-dup pairs, blocked by the cluster
    label — since r10 this is the GROUND-TRUTH HARNESS tier only: its
    fixed block cardinality is quadratic in the corpus (measured 77x
    for 10x data, BENCH_sf1_r9.json); the production path is the
    corpus-scaled sign-LSH tier (embedding_lsh_pairs; d19/d22 harness,
    d23 incremental, st10 streaming). Exact oracle: the JVM aggregate
    fold matches DuckDB's list_dot_product element order bit-for-bit
    (proven by m3)."""
    from ..operators.dedup import embedding_cosine_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_cosine_pairs(emb, block_col="label", threshold=0.35)


def s3_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate top-10 (16 Voronoi cells, one Lloyd
    refinement, 4-probe queries, exact re-rank in probed cells),
    oracle-checkable tier: emits the exact top-k rows plus a per-query
    recall envelope boolean on the IVF tier (measured recall floor 0.7
    at sf0.01; envelope 0.5). Production path = ivf_topk alone.

    r18 (optimization, guide §2.6): the exact ground-truth tier is
    independent of the IVF build, but the IVF train runs two blocking
    driver collects (seeds, Lloyd merge) before the recall harness ever
    constructs — serialized, the query's driver-job chain was 15 jobs
    deep. ann_with_recall_check takes the IVF side as a builder and
    runs the exact tier's eager materialization on a concurrent driver
    thread while the train collects run on this one, so the two corpus
    passes overlap (back-filling the train jobs' straggler tails).
    Results are byte-identical: both sides are deterministic and
    independent; the thread only moves WHEN the exact checkpoint
    materializes."""
    from ..operators.similarity import ann_with_recall_check, ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    qs = _probe_queries(emb)
    return ann_with_recall_check(
        emb,
        qs,
        lambda: ivf_topk(emb, qs, k=10, n_cells=16, n_probe=4),
        k=10,
        min_recall=0.5,
    )


def s5_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (8 subspaces x 16 codes = 8-byte codes,
    32x vector compression) with ADC top-100 shortlist + exact cosine
    refine — the memory-compression tier of the ANN family (Jegou et
    al. 2011). Oracle-checkable tier like s2/s3: emits the exact top-k
    plus a per-query recall envelope boolean on the PQ tier (measured
    recall 0.9 at sf0.01 on near-random synthetic embeddings — the
    quantization worst case; envelope 0.6). Production path =
    pq_refine_topk alone (optionally composed with IVF routing)."""
    from ..operators.similarity import ann_with_recall_check, pq_refine_topk

    emb = _t(spark, sf_dir, "embeddings")
    qs = _probe_queries(emb)
    return ann_with_recall_check(
        emb,
        qs,
        lambda: pq_refine_topk(emb, qs, k=10, shortlist=100, m=8, ks=16),
        k=10,
        min_recall=0.6,
    )


def s6_ivf_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-routed PQ retrieval — the production composition s5's
    docstring promises, now real (operators.similarity.ivf_pq_topk):
    the coarse IVF quantizer routes each query to 4 of 16 cells, the
    ADC scan reads ONLY the 8-byte PQ codes inside probed cells
    (32x compression AND 4/16 of the corpus per query — the two scan
    multipliers compound), and the exact cosine refine re-ranks the
    top-100 shortlist. Oracle-checkable tier like s2/s3/s5: emits the
    exact top-k plus a per-query recall envelope boolean; the measured
    recall floor at sf0.01 is the product of the IVF routing and PQ
    quantization recalls, so the envelope sits below s5's (0.4).
    Production path = ivf_pq_topk alone."""
    from ..operators.similarity import ann_with_recall_check, ivf_pq_topk

    emb = _t(spark, sf_dir, "embeddings")
    qs = _probe_queries(emb)
    return ann_with_recall_check(
        emb,
        qs,
        lambda: ivf_pq_topk(
            emb, qs, k=10, n_cells=16, n_probe=4, m=8, ks=16, shortlist=100
        ),
        k=10,
        min_recall=0.4,
    )


def st3_stream_stateful(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-state streaming (applyInPandasWithState): per-user
    running count/first/last across micro-batches; finite-input result
    equals the batch group-by (the oracle)."""
    from ..streaming.windows import streaming_stateful_counts

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return streaming_stateful_counts(spark, f"{sf_dir}/events.parquet")


def m3_embed_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding feature extraction JVM-side (no UDF): L2 norm via an
    aggregate fold over the vector column plus dimensionality — the
    normalize-before-index step of the ANN path, oracle-checked exactly
    (DuckDB list_dot_product folds in the same element order)."""
    from ..operators.similarity import _norm

    emb = _t(spark, sf_dir, "embeddings")
    return emb.select(
        "vec_id",
        _norm(F.col("embedding")).alias("l2_norm"),
        F.size("embedding").alias("dim"),
    )


def st4_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the live event stream enriched with a static
    per-user tier dimension (derived once, batch-side), then aggregated
    per tier. Finite input == the batch join (the oracle)."""
    from ..streaming.windows import streaming_static_join_counts

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    profiles = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .select(
            "user_id",
            F.when(F.col("_n") >= 50, F.lit("heavy"))
            .otherwise(F.lit("light"))
            .alias("tier"),
        )
    )
    return streaming_static_join_counts(
        spark, f"{sf_dir}/events.parquet", profiles
    )


def st5_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exact dedup: self-unioned event stream (simulated
    at-least-once duplicates) -> dropDuplicatesWithinWatermark. Finite
    input == batch DISTINCT (the oracle)."""
    from ..streaming.windows import streaming_dedup

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return streaming_dedup(spark, f"{sf_dir}/events.parquet")


def st6_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream interval join (clicks x following views
    within 30 min). Finite input == the batch interval join (the oracle)."""
    from ..streaming.windows import streaming_stream_stream_join

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return streaming_stream_stream_join(spark, f"{sf_dir}/events.parquet")


def t8_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by smoothed TF-IDF (operators.text
    .tfidf_top_terms): two hash-agg pyramids + broadcast scalar N +
    WindowGroupLimit; score rounded to 6dp for engine portability."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_top_terms(docs, k=3)


def t9_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: distinct 8-gram overlap of every train
    doc (doc_id % 23 != 0) against the eval set (doc_id % 23 == 0),
    broadcast-semi probe (operators.text.decontaminate)."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.filter(F.col("doc_id") % 23 != 0)
    eval_df = docs.filter(F.col("doc_id") % 23 == 0)
    return decontaminate(train, eval_df, ngram=8, threshold=0.05)


def t10_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality signals per doc (operators.text
    .repetition_stats): distinct-word ratio, top-word/top-bigram fracs."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return repetition_stats(docs)


def t11_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10%-per-language stratified sample of documents,
    md5-ordered with exact integer quotas (operators.relational
    .stratified_sample) — reproducible train-subset draws."""
    from ..operators.relational import stratified_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(docs, "lang", "doc_id", percent=10).select(
        "doc_id", "lang", "pick", "strata_n"
    )


def t5_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping 50-token chunks with stride 40 per document
    (operators.text.chunk_documents) — map-only fan-out, no UDF."""
    from ..operators.text import chunk_documents

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(docs, chunk_tokens=50, stride=40)


def t6_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-only text canonicalization (operators.text.normalize_text)."""
    from ..operators.text import normalize_text

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return normalize_text(docs)


def t7_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (80/10/10) keyed on the stable
    doc id — reproducible across runs/retries, unlike randomSplit. On
    synthetic sequential ids a modulus is unbiased and oracle-able; on
    production keys use pmod(xxhash64(key), 100) for the same contract."""
    docs = _t(spark, sf_dir, "documents")
    bucket = F.pmod(F.col("doc_id"), F.lit(100))
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.select("doc_id", split.alias("split")).groupBy("split").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


def m4_byte_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real feature extraction over the binary payload column: bucketed
    byte histogram via Arrow-batched mapInPandas (operators.multimodal
    .extract_byte_histogram) — exactly oracle-checkable because the
    payload is UTF-8 of ASCII text."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return extract_byte_histogram(with_binary_payload(docs))


def m5_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary->binary resize plumbing (stub kernel): output dims and
    byte length are deterministic, so the oracle checks the full
    round-trip shape without a codec."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = resize_stub(with_binary_payload(docs), target_w=32, target_h=32)
    return out.select(
        "doc_id", "width", "height", F.length("resized").alias("n_out_bytes")
    )


def d7_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level (paragraph) dedup: 10-word segments occurring in >=2
    distinct docs are boilerplate; per-doc stats + cleaned text. Planted
    near-dup pairs share most segments, so they drive the hit set."""
    from ..operators.curation import segment_dedup

    docs = _t(spark, sf_dir, "documents")
    return segment_dedup(docs, seg_words=10, min_docs=2)


def d8_semantic_keeper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup selection: cosine>=0.35 pairs within label blocks ->
    connected components -> min-id keeper per semantic cluster; total
    partition of the corpus (singletons keep themselves). Since r10
    the label blocking is the ground-truth harness tier; the
    production variant on corpus-scaled LSH buckets is d20."""
    from ..operators.dedup import semantic_dedup_keepers

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup_keepers(emb, block_col="label", threshold=0.35)


def t12_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction over the corpus. The testdata corpus is synthetic
    word-soup with no PII, so the query plants deterministic email/IP
    strings on every third document (same derivation in the oracle) and
    the operator must find and mask exactly those."""
    from ..operators.curation import pii_scrub

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id"),
                F.lit("@mail.example.com from 10."),
                F.col("doc_id") % 256,
                F.lit(".0.1"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return pii_scrub(docs)


def x1_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mixture resampling (DoReMi-style): every doc gets an
    integer n_copies such that each source's total equals its target
    EXACTLY — floor share for all, hash-priority tie-break for the
    remainder. Targets derive from the source index so the oracle can
    rebuild them with range(20)."""
    from ..operators.mixing import mixture_sample

    docs = _t(spark, sf_dir, "documents")
    targets = {f"src{i}": 10 + (i * 17) % 40 for i in range(20)}
    return mixture_sample(docs, targets)


def x2_domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain cap (RefinedWeb-style anti-spam): keep at most 12 docs
    per source, selected by deterministic hash priority."""
    from ..operators.mixing import domain_cap

    docs = _t(spark, sf_dir, "documents")
    return domain_cap(docs, cap=12)


def x3_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus shuffle + sharding: hash-uniform shard id and
    a within-shard pseudo-random position, reproducible across runs."""
    from ..operators.mixing import shard_assign

    docs = _t(spark, sf_dir, "documents")
    return shard_assign(docs, n_shards=8)


def t13_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: the corpus token stream cut into
    256-token bins in deterministic (shard, doc_id) order; one row per
    (bin, doc) overlap with in-document slice offsets."""
    from ..operators.curation import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, capacity=256, n_shards=32)


def t14_strip_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-text cleanup: URL removal + elongated-punctuation squashing
    with per-doc removal counts — map-only JVM regexes, RE2-compatible so
    the DuckDB oracle runs the identical pattern chain."""
    from ..operators.curation import strip_boilerplate

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(
                F.lit("see https://ex.example/"),
                F.col("doc_id"),
                F.lit("/page now!!!!! "),
                F.col("text"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return strip_boilerplate(docs)


def t15_vocab_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide vocabulary census: global token frequencies, top-50 by
    (freq DESC, token ASC) via a true TakeOrderedAndProject — the shuffle
    is bounded by |vocab|, the global sort by k."""
    from ..operators.text import vocab_top_terms

    docs = _t(spark, sf_dir, "documents")
    return vocab_top_terms(docs, k=50)


def t16_oov_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage census: per-doc OOV counts against the corpus's
    own top-40 vocabulary (broadcast probe, one narrow count shuffle)."""
    from ..operators.text import oov_stats, vocab_top_terms

    docs = _t(spark, sf_dir, "documents")
    vocab = vocab_top_terms(docs, k=40)
    return oov_stats(docs, vocab)


def t17_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM quality scoring: mean -ln p(token) per doc under the
    corpus unigram distribution, quantized to micro-nats before the
    per-doc sum so integer addition keeps the result order-free."""
    from ..operators.text import unigram_logprob

    docs = _t(spark, sf_dir, "documents")
    return unigram_logprob(docs)


def t18_intra_doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repeated-segment removal (map-only, zero shuffles).
    The synthetic corpus has no natural intra-doc repeats, so every fifth
    document is rebuilt as (first 20 words + first 10 words again) —
    segment 3 then exactly repeats segment 1 and must be dropped; the
    oracle mirrors the construction with list_slice."""
    from ..operators.curation import intra_doc_dedup

    ws = _words(F.col("text"))
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(
                F.array_join(F.slice(ws, 1, 20), " "),
                F.lit(" "),
                F.array_join(F.slice(ws, 1, 10), " "),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return intra_doc_dedup(docs, seg_words=10)


def x4_temperature_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-damped (alpha=0.5) mixture weights per source:
    sqrt-of-count sampling shares in exact integer millionths."""
    from ..operators.mixing import temperature_weights

    docs = _t(spark, sf_dir, "documents")
    return temperature_weights(docs, strat_col="source")


def x5_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum scheduling: difficulty-bucket the corpus into 4
    phases by exact discrete percentiles of avg-word-length milli-units
    (broadcast 1-row boundary frame — distribution-aware binning with
    no global sort), deterministic Knuth-hash shuffle within each
    phase. Easy-to-hard staged-training order, fully reproducible."""
    from ..operators.mixing import curriculum_order

    docs = _t(spark, sf_dir, "documents")
    return curriculum_order(docs, n_phases=4)


def x8_epoch_reshuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-epoch corpus reshuffle — the dataloader contract x3's
    single permutation doesn't cover: each training epoch needs a
    DIFFERENT deterministic permutation. Priority
    ((doc_id + epoch * 99991) * KNUTH) % 2^20 re-keys every epoch;
    positions come from relational.grouped_rank — range-partitioned on
    (epoch, priority), so each epoch's permutation is assigned across
    MANY tasks. (The previous Window.partitionBy(epoch) form was the
    r14 verdict's headline scale-killer: 3 tasks, each sorting the
    ENTIRE corpus.) Three epochs emitted; reproducible bit for bit."""
    from ..operators.relational import grouped_rank

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    e = docs.crossJoin(
        F.broadcast(
            spark.range(3).select(F.col("id").cast("int").alias("epoch"))
        )
    )
    pri = ((F.col("doc_id") + F.col("epoch") * 99991) * 2654435761) % 1048576
    return grouped_rank(
        e.withColumn("_pri", pri),
        ["epoch"],
        [F.col("_pri"), F.col("doc_id")],
        "pos",
    ).select("epoch", "doc_id", "pos")


def d17_semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic duplicate CLUSTERS: d6's label-blocked cosine pairs
    (threshold 0.35) closed into connected components (d5's
    pointer-jumping), one row per embedding with its cluster id and
    canonical flag — the SemDeDup cluster step as a first-class
    output, composing the similarity and clustering families. Since
    r10 the label blocking is the ground-truth harness tier; the
    production variant on corpus-scaled LSH buckets is d21."""
    from ..operators.dedup import embedding_cosine_pairs

    emb = _t(spark, sf_dir, "embeddings")
    pairs = embedding_cosine_pairs(emb, block_col="label", threshold=0.35)
    return _cluster_labels(
        emb.select("vec_id", "label"), pairs, "vec_id"
    ).withColumn("is_canonical", F.col("cluster_id") == F.col("vec_id"))


def t26_jaccard_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text similarity search: exact 3-gram-Jaccard top-5 corpus
    neighbors for 3 query documents via the shingle inverted index —
    candidates only where a shingle is shared (equi-join, never
    query x corpus), scores in exact integer ppm with deterministic
    tiebreak (operators.dedup.jaccard_search_topk). The retrieval
    sibling of the d2 dedup thresholding."""
    from ..operators.dedup import jaccard_search_topk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return jaccard_search_topk(docs, query_ids=[0, 1, 2], k=5)


def st8_stream_daily_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct users per day as a stream (positional bitmaps
    make the distinct mergeable — fixed-size state, not HLL); equals
    the batch per-day COUNT(DISTINCT), which is the oracle."""
    from ..streaming.windows import streaming_daily_uniques

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return streaming_daily_uniques(spark, f"{sf_dir}/events.parquet")


def m15_keyframes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyframe selection over REAL decoded video (shot-detection
    proxy): a frame is a keyframe when it is the first frame or its
    decoded pixel sum moves more than 1000 units from the previous
    frame — one lag window per doc over the m10 per-frame sums, exact
    integer deltas. The m9/m10 decode provenance carries through: the
    oracle predicts every frame sum from the 64-char slice arithmetic
    and replays the lag."""
    from ..operators.avi import avi_frame_sums, text_to_avi_payload
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    frames = avi_frame_sums(text_to_avi_payload(docs))
    w = W.partitionBy("doc_id").orderBy("frame_idx")
    lagged = frames.withColumn("_prev", F.lag("frame_sum").over(w))
    return (
        lagged.withColumn(
            "delta",
            F.when(
                F.col("_prev").isNull(), F.lit(None).cast("bigint")
            ).otherwise(F.abs(F.col("frame_sum") - F.col("_prev"))),
        )
        .filter(F.col("_prev").isNull() | (F.col("delta") > 1000))
        .select("doc_id", "frame_idx", "frame_sum", "delta")
    )


def x7_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted priority sample: 25 documents drawn by
    the integer (u div w) priority scheme with w = n_chars — longer
    docs proportionally likelier, bit-reproducible across runs and
    engines (operators.mixing.weighted_priority_sample). The plan is
    map-only + global top-k (TakeOrderedAndProject), never a corpus
    sort."""
    from ..operators.mixing import weighted_priority_sample

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", F.greatest(F.col("n_chars"), F.lit(1)).alias("w")
    )
    return weighted_priority_sample(docs, k=25, weight_col="w")


def st9_stream_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming materialized-view maintenance — c6's incremental-refresh
    theorem proven in the STREAMING path: the same deterministic CDC
    changelog (deletes retract, updates retract+add, inserts add, exact
    BIGINT cents) is fed through a multi-epoch ``foreachBatch`` stream
    (maxFilesPerTrigger=1 over a 4-file delta spill) where each
    micro-batch partial-aggregates its own rows and
    ``merge_partial_aggs`` folds them into the running MV. The oracle
    recomputes the monthly-revenue aggregate from scratch over the
    changelog-applied table, so a hash match proves incremental ==
    full recompute regardless of how the changelog splits into
    micro-batches."""
    from ..streaming.windows import streaming_incremental_refresh

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderdate"
    )
    k = F.col("o_orderkey")
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    new_cents = (
        (F.col("o_totalprice") + 10).cast("decimal(18,2)") * 100
    ).cast("bigint")
    ym = [
        F.year("o_orderdate").alias("ano"),
        F.month("o_orderdate").alias("mes"),
    ]
    old_mv = base.groupBy(*ym).agg(
        F.sum(cents).alias("price_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    neg1 = F.lit(-1).cast("bigint").alias("n_orders")
    pos1 = F.lit(1).cast("bigint").alias("n_orders")
    retr_del = base.filter(k % 17 == 0).select(
        *ym, (-cents).alias("price_cents"), neg1
    )
    upd = base.filter((k % 17 != 0) & (k % 5 == 0))
    retr_upd = upd.select(*ym, (-cents).alias("price_cents"), neg1)
    add_upd = upd.select(*ym, new_cents.alias("price_cents"), pos1)
    add_ins = base.filter(k % 9 == 0).select(
        *ym, cents.alias("price_cents"), pos1
    )
    deltas = (
        retr_del.unionByName(retr_upd)
        .unionByName(add_upd)
        .unionByName(add_ins)
    )
    mv = streaming_incremental_refresh(
        spark, old_mv, deltas,
        keys=["ano", "mes"], vals=["price_cents", "n_orders"],
    )
    return mv.filter(F.col("n_orders") > 0).orderBy("ano", "mes")


def d15_fuzzy_name_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution done the scale-correct way: CANONICALIZE
    FIRST (one hash agg collapses the corpus to its distinct names +
    member counts — row-level fuzzy pairs would be quadratic in the
    duplicate-group sizes: ~5M part-level pairs at sf0.1 vs 24
    name-level pairs), then fuzzy-join the distinct names within 2
    Levenshtein edits via the length-banded blocked join
    (operators.dedup.fuzzy_name_pairs — equi-join candidates, exact
    verify, complete recall by the length triangle inequality). Group
    sizes ride along so the row-level pair count is recoverable as
    n_a * n_b without materializing it. The oracle brute-forces the
    distinct-name pairs, so a hash match also proves the blocking
    lossless."""
    from ..operators.dedup import fuzzy_name_pairs

    names = (
        _t(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(
            F.min("p_partkey").alias("name_key"),
            F.count(F.lit(1)).alias("n_parts"),
        )
    )
    pairs = fuzzy_name_pairs(names, key_col="name_key", name_col="p_name")
    sizes = names.select(
        F.col("name_key").alias("_k"), F.col("n_parts")
    )
    return (
        pairs.join(sizes.withColumnRenamed("n_parts", "n_parts_a"),
                   pairs.key_a == F.col("_k")).drop("_k")
        .join(sizes.withColumnRenamed("n_parts", "n_parts_b"),
              pairs.key_b == F.col("_k")).drop("_k")
        .select("name_a", "name_b", "dist", "n_parts_a", "n_parts_b")
        .orderBy("dist", "name_a", "name_b")
    )


def d16_fuzzy_pairs_segmented(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d15's fuzzy name join through the PRODUCTION blocking tier:
    positional-segment (pigeonhole / PassJoin-style) blocks of
    (length, segment-index, segment-content) instead of length alone —
    at corpus scale same-length names no longer share one giant block.
    Same canonicalize-first collapse as d15 and the SAME brute-force
    oracle, so a hash match proves the tighter blocking is still
    recall-1 (the pigeonhole theorem verified end to end). A/B
    blocking selectivity vs d15 is recorded in SCALING.md."""
    from ..operators.dedup import fuzzy_name_pairs_segmented

    names = (
        _t(spark, sf_dir, "part")
        .groupBy("p_name")
        .agg(
            F.min("p_partkey").alias("name_key"),
            F.count(F.lit(1)).alias("n_parts"),
        )
    )
    pairs = fuzzy_name_pairs_segmented(
        names, key_col="name_key", name_col="p_name"
    )
    sizes = names.select(
        F.col("name_key").alias("_k"), F.col("n_parts")
    )
    return (
        pairs.join(sizes.withColumnRenamed("n_parts", "n_parts_a"),
                   pairs.key_a == F.col("_k")).drop("_k")
        .join(sizes.withColumnRenamed("n_parts", "n_parts_b"),
              pairs.key_b == F.col("_k")).drop("_k")
        .select("name_a", "name_b", "dist", "n_parts_a", "n_parts_b")
        .orderBy("dist", "name_a", "name_b")
    )


def t25_interp_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jelinek-Mercer interpolated bigram LM scoring (lambda=0.7):
    p = (7*P(w2|w1) + 3*P(w2)) in exact integer micro-units over the
    full-token-stream unigram backoff — the smoothing tier between
    t20's pure-MLE bigram and a real LM, with t20's
    guaranteed-by-construction cross-engine contract."""
    from ..operators.text import interp_bigram_score

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return interp_bigram_score(docs, lam_tenths=7)


def t24_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: near-duplicate CLUSTERS (not
    documents) are the unit of assignment, so a near-dup pair can never
    straddle train and test — the eval-contamination failure t9
    decontaminates after the fact is prevented structurally here.
    Pipeline: MinHash+LSH near-dup pairs (≥0.5 verified exact — the c3
    PRODUCTION pair stage; the exact tier's shingle self-join blows up
    on hot shingles at corpus scale, and its sizes broadcast is
    corpus-sized, VERDICT r9 item 2) → pointer-jumping connected
    components → every member inherits its cluster's split via the t7
    modulus on the CLUSTER id (singletons are their own cluster). Same
    oracle as before by the d3/c3 recall argument: true pairs in this
    corpus sit at j≥0.85, where the r=3/b=10 S-curve misses with
    p<1e-4, so the verified LSH pair set equals the exact pair set and
    the clusters (hence splits) match row for row. Scale shape:
    banded-signature candidate join, O(log diameter) CC rounds,
    map-only assign — nothing broadcast, nothing quadratic."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pairs = minhash_lsh_pairs(docs, threshold=0.5)
    bucket = F.pmod(F.col("cluster_id"), F.lit(100))
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return _cluster_labels(docs.select("doc_id"), pairs, "doc_id").select(
        "doc_id", "cluster_id", split.alias("split")
    )


def t19_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality scoring: integer weights derived
    from the corpus's own top-40 vocabulary (every third rank negative,
    magnitude 41-rank), broadcast-probed; exact integer logit per doc."""
    from ..operators.text import classifier_score, vocab_top_terms

    docs = _t(spark, sf_dir, "documents")
    vocab = vocab_top_terms(docs, k=40)
    weights = vocab.select(
        "token",
        F.when(
            F.col("rank") % 3 == 0, -(F.lit(41) - F.col("rank"))
        )
        .otherwise(F.lit(41) - F.col("rank"))
        .cast("bigint")
        .alias("weight"),
    )
    return classifier_score(docs, weights)


def d9_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr-style repeated-span detection: 8-grams shared by >=2
    docs, merged into maximal per-doc spans. The corpus's planted
    near-dup pairs supply the repeats; output is exact span/token
    counts per document (zero-filled for clean docs)."""
    from ..operators.dedup import repeated_spans

    docs = _t(spark, sf_dir, "documents")
    return repeated_spans(docs, n=8, min_docs=2)


def c2_dedup_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup FUNNEL as one query: plant exact duplicates (every
    7th doc takes the raw text of doc_id-1 via a donor self-join; the
    donor is never itself planted since doc_id-1 % 7 != 0, so every
    plant forms a clean exact-dup pair) ->
    exact dedup keeps min-id per identical text -> exact 3-gram Jaccard
    near-dup pairs among the keepers -> connected components -> one
    canonical doc per near-dup cluster. Output: every KEEPER with its
    exact-copy count, cluster id, and canonical flag — the row set a
    curation pipeline feeds to training. Oracle nests the same four
    stages (recursive CTE for the closure, d5's pattern)."""
    return _dedup_funnel(spark, sf_dir, jaccard_pairs)


def _dedup_funnel(spark: SparkSession, sf_dir: str, near_dup_pairs) -> DataFrame:
    """c2's and c3's funnel around the near-dup pair stage
    ``near_dup_pairs(keepers, ngram=3, threshold=0.5,
    broadcast_sizes=True)``: plant exact duplicates, keep min-id per
    identical text, cluster the keepers' near-dup pairs, flag one
    canonical doc per cluster."""
    raw = _t(spark, sf_dir, "documents").select("doc_id", "text")
    donor = raw.select(
        (F.col("doc_id") + 1).alias("doc_id"),
        F.col("text").alias("_donor_text"),
    )
    base = (
        raw.join(donor, "doc_id", "left")
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") % 7 == 0),
                F.coalesce(F.col("_donor_text"), F.col("text")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    groups = dedup_exact(base)  # (text_hash, keep_id, n_copies)
    keepers = base.join(
        groups.select(
            F.col("keep_id").alias("doc_id"),
            F.col("n_copies").alias("exact_copies"),
        ),
        "doc_id",
    )
    pairs = near_dup_pairs(
        keepers, ngram=3, threshold=0.5, broadcast_sizes=True
    )
    return _cluster_labels(
        keepers.select("doc_id", "exact_copies"), pairs, "doc_id"
    ).withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))


def c1_curation_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation COMPOSITION: plant PII (t12's construction) ->
    intra-doc segment dedup (t18) -> PII scrub (t12) -> linear quality
    scoring on the cleaned text (t19, vocab recomputed post-cleanup).
    One query proving the operators chain through their column contracts;
    the oracle nests the same stages as CTEs. Every intermediate stays
    map-only until the vocab/classifier aggregates, and the chain
    deliberately re-derives its map-only stages per consumer rather than
    checkpointing a corpus-sized text frame (the documented scale
    trade)."""
    from ..operators.curation import intra_doc_dedup, pii_scrub
    from ..operators.text import classifier_score, vocab_top_terms

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id"),
                F.lit("@mail.example.com from 10."),
                F.col("doc_id") % 256,
                F.lit(".0.1"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    dd = intra_doc_dedup(docs, seg_words=10)
    sc = pii_scrub(dd.select("doc_id", F.col("dedup_text").alias("text")))
    cleaned = sc.select("doc_id", F.col("redacted_text").alias("text"))
    vocab = vocab_top_terms(cleaned, k=40)
    weights = vocab.select(
        "token",
        F.when(F.col("rank") % 3 == 0, -(F.lit(41) - F.col("rank")))
        .otherwise(F.lit(41) - F.col("rank"))
        .cast("bigint")
        .alias("weight"),
    )
    scored = classifier_score(cleaned, weights)
    return (
        dd.select("doc_id", "n_repeats")
        .join(sc.select("doc_id", "n_emails", "n_ips"), "doc_id")
        .join(scored, "doc_id")
    )


def m6_resize_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image-codec chain, end to end through three Arrow-batched
    stages: build an 8x8 grayscale PNG per doc from its first 64
    codepoints (text_to_png_payload) -> decode/nearest-resize/re-encode
    to 4x4 (resize_images, real PNG kernel) -> decode the resized PNG
    and emit exact pixel stats (png_pixel_stats). The oracle predicts
    pixel_sum from pure character arithmetic (the 16 surviving pixel
    positions of an 8x8 -> 4x4 pixel-center resample are fixed), so a
    hash match proves the codec round-trip bit-exactly — no stub
    anywhere in this path."""
    from ..operators.multimodal import (
        png_pixel_stats,
        resize_images,
        text_to_png_payload,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    payloads = text_to_png_payload(docs)
    resized = resize_images(payloads, target_w=4, target_h=4)
    return png_pixel_stats(resized).select(
        "doc_id", "width", "height", "pixel_sum"
    )


def m7_wav_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-codec chain, end to end: build a 16-bit PCM mono
    RIFF/WAVE per doc from its first 64 codepoints at a doc-dependent
    sample rate (text_to_wav_payload) -> stdlib wave parse of the header
    fields + exact PCM sum of the decoded int16 stream
    (wav_audio_stats). The oracle predicts frame count, sample rate,
    integer-microsecond duration, and pcm_sum from pure character/id
    arithmetic, so a hash match certifies the encode -> RIFF parse ->
    PCM decode round-trip bit-exactly — no stub anywhere in this path
    (the audio twin of m6)."""
    from ..operators.audio import text_to_wav_payload, wav_audio_stats

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return wav_audio_stats(text_to_wav_payload(docs)).select(
        "doc_id", "n_frames", "sample_rate", "duration_us", "pcm_sum"
    )


def m8_wav_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL frame sampling over decoded audio (the explode-shaped
    contract frame_sample_stub only mimicked): decode each WAV's PCM
    stream and emit every 16th frame as (doc_id, frame_idx, sample).
    Sampled values are individual decoded int16 samples, each predicted
    by the oracle from one character — per-sample-accurate decoding, not
    just aggregate sums."""
    from ..operators.audio import text_to_wav_payload, wav_frame_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return wav_frame_sample(text_to_wav_payload(docs), every_n=16).select(
        "doc_id", "frame_idx", "sample"
    )


def c3_dedup_funnel_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION dedup funnel end to end: identical to
    c2_dedup_funnel except the near-dup pair stage is the scale path —
    MinHash(30) + 10-band LSH candidates with exact-Jaccard verify
    (minhash_lsh_pairs) — instead of the all-pairs inverted-index join.
    Same oracle as c2 by the d3 recall argument: true pairs in this
    corpus sit at j>=0.85, where the r=3/b=10 S-curve misses with
    p<1e-4, so the verified LSH pair set equals the exact pair set and
    the whole funnel's output matches row for row. A hash-green run is
    therefore evidence the production path (bucketed candidates, linear
    in docs) produces the exact funnel, not an approximation of it."""
    return _dedup_funnel(spark, sf_dir, minhash_lsh_pairs)


def m9_avi_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-codec chain, end to end: build an uncompressed AVI per
    doc — up to four 8x8 gray frames from the first 256 codepoints at a
    doc-dependent frame rate (text_to_avi_payload) -> full RIFF chunk
    walk, avih/strf header parse, 24-bit bottom-up DIB frame decode
    (avi_stats). The oracle predicts frame count, per-frame
    microseconds, dimensions, and total pixel sum from pure character/id
    arithmetic, so a hash match certifies the container round-trip
    bit-exactly — video joins PNG and WAV as a real modality (no stub
    anywhere in this path)."""
    from ..operators.avi import avi_stats, text_to_avi_payload

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return avi_stats(text_to_avi_payload(docs)).select(
        "doc_id", "width", "height", "usec_per_frame", "n_frames", "pixel_sum"
    )


def m10_avi_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL per-frame video feature extraction (the keyframe-iteration
    shape frame_sample_stub only mimicked): decode every movi '00db'
    chunk and emit (doc_id, frame_idx, frame_sum) — one row per decoded
    frame, each sum predicted by the oracle from that frame's 64-char
    slice, proving the chunk segmentation frame for frame."""
    from ..operators.avi import avi_frame_sums, text_to_avi_payload

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return avi_frame_sums(text_to_avi_payload(docs)).select(
        "doc_id", "frame_idx", "frame_sum"
    )


def m11_mixed_modality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIXED-modality corpus end to end: one binary column whose rows
    are real PNG / WAV / AVI payloads (by doc_id % 3), dispatched by
    magic number to the matching REAL decoder and emitted in one unified
    metadata schema. Every dim and content sum is fully decoded (pixels,
    PCM samples, frames) and predicted by the oracle from character/id
    arithmetic — the first-operator-of-a-multimodal-pipeline contract
    (classify then decode, never fail the batch) proven hash-exact
    across all three codecs at once."""
    from ..operators.multimodal import (
        decode_any_metadata,
        mixed_modality_payload,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return decode_any_metadata(mixed_modality_payload(docs)).select(
        "doc_id", "modality", "dim_a", "dim_b", "content_sum"
    )


def d10_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental (delta-vs-corpus) near-dup detection: every 10th doc
    is the newly-ingested batch, the rest is the existing corpus. The
    batch is deduped against the corpus by joining MinHash band tables —
    the corpus band table is the materialized index a production
    pipeline maintains, so candidate generation reads NO corpus text and
    the verify stage re-shingles only candidate corpus docs. Oracle:
    exact cross-set 3-gram Jaccard at the same threshold — equality by
    the d3 recall argument (true pairs at j>=0.85; r=3/b=10 misses with
    p<1e-4)."""
    from ..operators.dedup import incremental_lsh_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    delta = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    return incremental_lsh_pairs(delta, corpus, ngram=3, threshold=0.5)


def t20_bigram_condprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM fluency scoring over the corpus's own bigram
    distribution — exact integer micro-units end to end (single integer
    division of exact counts), so unlike t17's micro-nat ln the
    cross-engine match is guaranteed by construction."""
    from ..operators.text import bigram_condprob

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_condprob(docs).select(
        "doc_id", "n_bigrams", "p_sum_micro", "p_avg_micro"
    )


def s4_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in exact integer micro-units — the
    coarse-quantizer training step (IVF cell means, SemDeDup centers)
    as a standalone oracle-checked operator. floor-quantize per element
    before any cross-row sum, so the result is order-free and
    engine-neutral by construction."""
    from ..operators.similarity import label_centroids

    emb = _t(spark, sf_dir, "embeddings")
    return label_centroids(emb).select(
        "label", "pos", "sum_micro", "n", "centroid_micro"
    )


def t21_token_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-50 collocations by lift (observed bigram rate over the
    independence expectation), exact integer milli-units — phrase/
    boilerplate mining over the corpus with a guaranteed cross-engine
    contract."""
    from ..operators.text import token_lift

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return token_lift(docs, min_count=5, k=50).select(
        "w1", "w2", "c12", "lift_milli"
    )


def m12_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL perceptual hashing end to end: generate the 8x8 PNG per doc
    (m6's builder), decode it, and compute the 64-bit average-hash —
    pixel > image-mean per position, packed row-major, shipped as two
    non-negative 32-bit halves. The oracle reproduces every bit from
    character arithmetic (v_i * 64 > sum of codepoints — exact integer
    compare, no float mean), so a hash-green run certifies the standard
    image-dedup signal is computed correctly from real decoded pixels."""
    from ..operators.multimodal import image_ahash, text_to_png_payload

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return image_ahash(text_to_png_payload(docs)).select(
        "doc_id", "ahash_lo", "ahash_hi"
    )


def d11_image_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image-level dedup via the real perceptual hash: group documents
    whose generated PNGs share an identical 64-bit aHash (m12's kernel),
    keep the min doc id per group — the image twin of d1's exact text
    dedup, computed from real decoded pixels. Only collision groups
    (n >= 2) are emitted; the corpus genuinely contains them."""
    from ..operators.multimodal import image_ahash, text_to_png_payload

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    h = image_ahash(text_to_png_payload(docs))
    return (
        h.groupBy("ahash_hi", "ahash_lo")
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_dups"),
        )
        .filter(F.col("n_dups") >= 2)
    )


def d12_image_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image NEAR-dup detection via banded perceptual hashes: pairs of
    docs whose real decoded aHashes differ in <= 3 of 64 bits. Exact
    output with provable recall (pigeonhole over 4x16-bit chunks +
    bit_count verify), so the oracle is the brute-force all-pairs
    Hamming filter over the character-arithmetic hashes — the
    approximate tier's result provably equals ground truth at this
    radius."""
    from ..operators.multimodal import (
        ahash_neardup_pairs,
        image_ahash,
        text_to_png_payload,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    h = image_ahash(text_to_png_payload(docs))
    return ahash_neardup_pairs(h, max_hamming=3)


def c4_pretraining_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL pretraining-data pipeline as ONE oracle-checked query —
    every stage of the production path composed end to end through the
    operators' column contracts:

      normalize (t6) -> exact dedup on normalized text (d1) -> MinHash+
      LSH near-dedup among keepers, canonical doc per cluster (d3/c3
      path) -> benchmark decontamination against the %23 eval split
      (t9) -> PII scrub (t12's planted construction, so the scrub stage
      provably fires) -> linear quality filter with the corpus's own
      vocabulary (t19, keep logit >= 0) -> temperature mixture weights
      per source (x4) -> 256-token sequence packing (t13) -> determin-
      istic 8-way sharding (x3).

    Output: the training-data MANIFEST — one row per (bin, doc) slice
    carrying every stage's evidence (exact_copies, cluster_id, PII
    counts, quality logit, mixture share, shard/pos). The oracle nests
    the same stages as CTEs (c1/c2/c3's proven pattern; near-dup stage
    equals exact Jaccard by the d3 recall argument).

    Scale shape: every stage keeps its individual operator's 100 TB
    profile (banded LSH, broadcast eval grams / vocab / weights /
    mixture table, hierarchical pack offsets, per-shard windows). The
    survivor frame is localCheckpointed once — the point a production
    run would write intermediate parquet — so the funnel above it runs
    once, not once per downstream consumer (4 consume it)."""
    from ..operators.curation import pack_sequences, pii_scrub
    from ..operators.mixing import shard_assign, temperature_weights
    from ..operators.text import (
        classifier_score,
        decontaminate,
        normalize_text,
        vocab_top_terms,
    )

    raw = _t(spark, sf_dir, "documents").select("doc_id", "text", "source")

    # 1. normalize
    base = normalize_text(raw).select(
        "doc_id", F.col("norm_text").alias("text")
    )
    # 2. exact dedup -> keepers with copy counts
    groups = dedup_exact(base)
    keepers = base.join(
        groups.select(
            F.col("keep_id").alias("doc_id"),
            F.col("n_copies").alias("exact_copies"),
        ),
        "doc_id",
    )
    # 3. near-dedup (production LSH path) -> canonical doc per cluster
    pairs = minhash_lsh_pairs(
        keepers, ngram=3, threshold=0.5, broadcast_sizes=True
    )
    canon = _cluster_labels(keepers, pairs, "doc_id").filter(
        F.col("doc_id") == F.col("cluster_id")
    )
    # 4. decontaminate: %23 docs are the eval benchmark; canonical
    # training docs overlapping them >= 5% are dropped. Docs too short
    # to have 8-grams produce no decon row -> non-contaminated.
    train = canon.filter(F.col("doc_id") % 23 != 0)
    eval_df = base.filter(F.col("doc_id") % 23 == 0)
    dec = decontaminate(
        train.select("doc_id", "text"), eval_df, ngram=8, threshold=0.05
    )
    clean = (
        train.join(dec.select("doc_id", "is_contaminated"), "doc_id", "left")
        .filter(~F.coalesce(F.col("is_contaminated"), F.lit(False)))
        .drop("is_contaminated")
    )
    # 5. PII scrub (plant deterministic PII post-normalization — the
    # normalizer would strip '@'/'.' — so the stage provably fires)
    planted = clean.select(
        "doc_id",
        "exact_copies",
        "cluster_id",
        F.when(
            F.col("doc_id") % 3 == 0,
            F.concat(
                F.col("text"),
                F.lit(" contact user"),
                F.col("doc_id"),
                F.lit("@mail.example.com from 10."),
                F.col("doc_id") % 256,
                F.lit(".0.1"),
            ),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    sc = pii_scrub(planted)
    scrubbed = planted.drop("text").join(
        sc.select(
            "doc_id", "n_emails", "n_ips",
            F.col("redacted_text").alias("text"),
        ),
        "doc_id",
    )
    # 6. quality filter: corpus-derived vocab -> integer linear model
    vocab = vocab_top_terms(scrubbed, k=40)
    weights = vocab.select(
        "token",
        F.when(F.col("rank") % 3 == 0, -(F.lit(41) - F.col("rank")))
        .otherwise(F.lit(41) - F.col("rank"))
        .cast("bigint")
        .alias("weight"),
    )
    scored = classifier_score(scrubbed, weights)
    survivors = (
        scrubbed.join(
            scored.filter(F.col("is_quality")).select("doc_id", "logit_e6"),
            "doc_id",
        )
        .join(raw.select("doc_id", "source"), "doc_id")
        .transform(lineage_checkpoint)  # the materialize-once point: 4
        # downstream consumers (mixture, pack, shard, final join); a
        # production run writes intermediate parquet here instead
    )
    # 7. temperature mixture weights per source (broadcast back)
    tw = temperature_weights(survivors, strat_col="source")
    # 8. sequence packing + 9. shard assignment over the final corpus
    packed = pack_sequences(survivors, capacity=256, n_shards=32)
    shards = shard_assign(survivors, n_shards=8)
    return (
        packed.join(
            survivors.select(
                "doc_id",
                F.col("exact_copies").cast("bigint").alias("exact_copies"),
                F.col("cluster_id").cast("bigint").alias("cluster_id"),
                "n_emails",
                "n_ips",
                "logit_e6",
                "source",
            ),
            "doc_id",
        )
        .join(shards.select("doc_id", "shard", "pos"), "doc_id")
        .join(F.broadcast(tw.select("source", "temp_share_e6")), "source")
        .select(
            "bin_id",
            "doc_id",
            "tok_start",
            "n_tokens",
            "exact_copies",
            "cluster_id",
            "n_emails",
            "n_ips",
            "logit_e6",
            "source",
            "temp_share_e6",
            "shard",
            "pos",
        )
    )


def t22_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training over the corpus word-frequency dict: 8
    rounds of count-adjacent-pairs -> argmax -> merge (operators.text
    .bpe_train). The output merge table IS the trained tokenizer —
    closing the loop on the text family, which consumes vocabularies
    (t16 OOV, t17/t20 LM scoring) this operator can now produce. The
    oracle replays the same 8 rounds as unrolled SQL stages."""
    from ..operators.text import bpe_train

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bpe_train(docs, n_merges=8)


def m13_multimodal_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIMODAL sequence packing: the t13 packing core over sequence
    lengths measured from REAL decoded media. Each doc's payload (PNG /
    WAV / AVI by doc_id % 3, m11's mixed corpus) is decoded by the real
    codec dispatch; its media token count derives from the DECODED
    dims — image: ceil(w/2) * ceil(h/2) patches, audio: one token per
    16 decoded PCM frames, video: 16 patches per decoded frame — and
    adds to the whitespace text tokens. The combined counts feed
    pack_counts (hierarchical offsets, 256-token bins). Oracle predicts
    every media count from character/id arithmetic (m11's proven
    contract) and replays the pack SQL — so a hash match proves the
    decode-measure-pack chain end to end across all three codecs."""
    from ..operators.curation import pack_counts
    from ..operators.multimodal import (
        decode_any_metadata,
        mixed_modality_payload,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    meta = decode_any_metadata(mixed_modality_payload(docs))
    media = meta.select("doc_id", "modality", _media_tokens())
    text_toks = docs.select(
        "doc_id",
        F.size(_words(F.col("text"))).cast("bigint").alias("text_tokens"),
    )
    tot = media.join(text_toks, "doc_id").select(
        "doc_id",
        "modality",
        "text_tokens",
        "media_tokens",
        (F.col("text_tokens") + F.col("media_tokens")).alias("_total"),
    )
    packed = pack_counts(
        tot, count_col="_total", capacity=256, n_shards=32
    )
    return packed.join(
        tot.select("doc_id", "modality", "text_tokens", "media_tokens"),
        "doc_id",
    ).select(
        "bin_id",
        "doc_id",
        "tok_start",
        "n_tokens",
        "modality",
        "text_tokens",
        "media_tokens",
    )


def d18_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT dedup (Broder containment,
    |A∩B| div |A| in exact ppm) — catches the quote/subset duplication
    Jaccard structurally misses (small doc inside big doc: union-
    dominated Jaccard stays low, containment hits ~1e6). Same
    inverted-index candidate join as d2, integer-exact scores, both
    directions emitted (operators.dedup.containment_pairs)."""
    from ..operators.dedup import containment_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return containment_pairs(
        docs, ngram=3, threshold_ppm=600_000, broadcast_sizes=True
    )


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The g1/g2/g4 shared graph: distinct (order, part) capped at the
    top-5 most-supported parts per order (skew cap), unordered
    co-purchase pairs, emitted in BOTH directions (the undirected edge
    contract of the iterative-graph operators)."""
    d = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    support = d.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("_support"))
    from pyspark.sql import Window as W

    w = W.partitionBy("l_orderkey").orderBy(
        F.col("_support").desc(), F.col("l_partkey").asc()
    )
    top = (
        d.join(support, "l_partkey")
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 5)
        .select("l_orderkey", "l_partkey")
    )
    a = top.toDF("o", "p1")
    b = top.toDF("o", "p2")
    pairs = (
        a.join(b, "o").filter(F.col("p1") < F.col("p2"))
        .select("p1", "p2")
        .distinct()
    )
    return pairs.select(
        F.col("p1").alias("src"), F.col("p2").alias("dst")
    ).unionAll(
        pairs.select(F.col("p2").alias("src"), F.col("p1").alias("dst"))
    )


def g2_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round synchronous label propagation (3 rounds of
    min-label exchange) over the same capped co-purchase graph as g1 —
    the second iterative-graph operator family: after round k each
    part holds the minimum part id within distance k
    (operators.dedup.label_propagation_min). Integer-exact, so the
    oracle replays the 3 rounds as unrolled SQL bit for bit."""
    from ..operators.dedup import label_propagation_min

    edges = _copurchase_edges(spark, sf_dir)
    out = label_propagation_min(edges, n_rounds=3)
    return out.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("label").cast("bigint").alias("label"),
    )


def x9_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-budget allocation: a 100k-token training recipe
    apportioned across sources by temperature-damped token share with
    largest-remainder rounding, so quotas sum to the budget EXACTLY
    (operators.mixing.token_budget_allocation). All integer — the
    oracle replays the apportionment bit for bit."""
    from ..operators.mixing import token_budget_allocation

    docs = _t(spark, sf_dir, "documents").select("source", "text")
    return token_budget_allocation(docs, budget_tokens=100_000)


def _lsh_pairs_same_label(
    spark: SparkSession, sf_dir: str, with_same: bool = True
):
    """Shared body for the d19/d20/d21 harness: the production
    sign-LSH-bucketed cosine pairs (operators.dedup.embedding_lsh_pairs
    — corpus-scaled blocking, the d6 scale fix) plus the same pair set
    restricted to same-label, the comparison universe of the
    label-blocked ground-truth tier. Returns (emb, lsh_all,
    lsh_same_label); both pair frames are lazily checkpointed so the
    harness reads them once. ``with_same=False`` (d19, which only
    consumes the full pair set) skips building the same-label frame
    entirely — r16 second self-review: an unconsumed checkpointed
    frame is never materialized, but its construction would record a
    PHANTOM segment in the plan audit, overstating the query's real
    dataflow."""
    from ..operators.dedup import embedding_lsh_pairs

    emb = _t(spark, sf_dir, "embeddings")
    lsh = embedding_lsh_pairs(emb, threshold=0.35, dim=64).transform(lineage_checkpoint)
    if not with_same:
        return emb, lsh, None
    lab = emb.select("vec_id", "label")
    la = lab.toDF("id_a", "_lab_a")
    lb = lab.toDF("id_b", "_lab_b")
    same = (
        lsh.join(la, "id_a")
        .join(lb, "id_b")
        .filter(F.col("_lab_a") == F.col("_lab_b"))
        .select("id_a", "id_b", "cos_sim")
        .transform(lineage_checkpoint)
    )
    return emb, lsh, same


def d19_dedup_embedding_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-safe embedding near-dup (the d6 77x fix, VERDICT r9 item
    1): pairs blocked by corpus-scaled sign-LSH buckets (expected
    occupancy ~32, planes ~ log2(N/32)) with exact cosine verify,
    instead of the fixed-cardinality label key whose per-block work is
    quadratic in the corpus. Harness contract = the s2/s3 pattern:
    emits the DETERMINISTIC label-blocked ground-truth pairs (the d6
    oracle) plus one recall_ok boolean — recall of the LSH pair set
    over the label-blocked truth, gated at 0.6, far under the measured
    floor (1.0 at sf0.01, 0.905 at sf0.1 — near-random synthetic
    embeddings put every true pair at cos 0.35-0.5, the sign-LSH worst
    case) and far over failure modes. Production path =
    embedding_lsh_pairs alone (it also finds the CROSS-label pairs the
    label tier structurally misses: 245 of 271 true pairs at sf0.01)."""
    from ..operators.dedup import embedding_cosine_pairs

    emb, lsh, _ = _lsh_pairs_same_label(spark, sf_dir, with_same=False)
    exact = embedding_cosine_pairs(
        emb, block_col="label", threshold=0.35
    ).transform(lineage_checkpoint)
    return _recall_envelope(exact, lsh, ["id_a", "id_b"], 0.6)


def d20_semantic_keeper_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keeper selection over the LSH-bucketed pairs (the d8
    variant of the d19 scale fix): same-label-restricted LSH pairs ->
    connected components -> min-id keeper, compared against the
    label-blocked ground-truth keepers. Emits the deterministic exact
    keepers (the d8 oracle) + one agree_ok boolean: the fraction of
    vec_ids whose LSH-derived cluster id equals the exact cluster id,
    gated at 0.8 (measured 1.0 at sf0.01 — recall there is 1.0, so
    the clusterings coincide). The same-label restriction keeps the
    comparison universe equal to the ground-truth tier's; production
    drops it and clusters the full LSH pair set."""
    from ..operators.dedup import semantic_dedup_keepers

    emb, _, same = _lsh_pairs_same_label(spark, sf_dir)
    exact = semantic_dedup_keepers(
        emb, block_col="label", threshold=0.35
    ).transform(lineage_checkpoint)
    return _cluster_agreement(emb, exact, same)


def _cluster_agreement(
    emb: DataFrame, exact: DataFrame, same: DataFrame
) -> DataFrame:
    """d20's and d21's envelope: the ``exact`` rows plus ``agree_ok``,
    whether at least 0.8 of the exact ``(vec_id, cluster_id)`` rows
    recur when the same-label LSH pairs ``same`` are clustered."""
    lsh = _cluster_labels(emb.select("vec_id"), same, "vec_id")
    return _recall_envelope(
        exact, lsh, ["vec_id", "cluster_id"], 0.8, flag="agree_ok"
    )


def d21_semantic_clusters_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic duplicate clusters over the LSH-bucketed pairs (the
    d17 variant of the d19 scale fix): same contract as d20 but with
    the d17 cluster/canonical output shape — exact label-blocked
    clusters as the deterministic rows + agree_ok envelope on the
    LSH-derived clustering (gated 0.8; measured 1.0 at sf0.01)."""
    emb, _, same = _lsh_pairs_same_label(spark, sf_dir)
    exact = d17_semantic_clusters(spark, sf_dir).transform(lineage_checkpoint)
    return _cluster_agreement(emb, exact, same)


def d22_dedup_embedding_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-corpus (UNBLOCKED) embedding near-dup harness — the
    strongest form of the d19 envelope: the deterministic ALL-PAIRS
    cosine>=0.35 truth at harness scale plus recall_ok for the
    production LSH tier measured against THAT truth, which includes
    the cross-label pairs the label-blocked d6 tier structurally
    misses (245 of 271 true pairs at sf0.01 cross labels). The exact
    companion is an intentional broadcast nested-loop self-join —
    quadratic, harness-scale only, exactly like s1's exact ANN
    baseline; the production path (embedding_lsh_pairs) stays linear.
    Measured LSH recall vs full truth: 1.0 at sf0.01, 0.915 at sf0.1;
    envelope 0.6."""
    from ..operators.dedup import embedding_lsh_pairs

    emb = _t(spark, sf_dir, "embeddings")
    lsh = embedding_lsh_pairs(emb, threshold=0.35, dim=64).transform(lineage_checkpoint)
    exact = _exact_pairs(
        _cos_side(emb, "a").join(
            F.broadcast(_cos_side(emb, "b")), F.col("id_a") < F.col("id_b")
        )
    )
    return _recall_envelope(exact, lsh, ["id_a", "id_b"], 0.6)


def d23_embedding_delta_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL embedding near-dup — the 100 TB ingest shape (the
    d10 band-table pattern for embeddings): a small delta (vec_id <
    50) is deduped against the standing corpus (the rest) by probing
    the corpus's sign-LSH bucket table (multiprobe on the delta side
    only; `embedding_lsh_pairs(index_df=...)`). Per ingest this costs
    |delta| * L(1+planes) probe rows joined against the materialized
    bucket table — never a corpus re-scan. Harness contract as d19/
    d22: the deterministic exact delta-x-corpus truth (broadcast the
    50-row delta, exact cosine fold) + recall_ok of the LSH tier vs
    that truth (envelope 0.6; measured 1.0 at sf0.01)."""
    from ..operators.dedup import embedding_lsh_pairs

    emb = _t(spark, sf_dir, "embeddings")
    delta = emb.filter(F.col("vec_id") < 50)
    corpus = emb.filter(F.col("vec_id") >= 50)
    lsh = embedding_lsh_pairs(
        delta, threshold=0.35, dim=64, index_df=corpus
    ).transform(lineage_checkpoint)
    return _recall_envelope(_delta_truth(emb), lsh, ["id_a", "id_b"], 0.6)


def _exact_pairs(pairs: DataFrame) -> DataFrame:
    """The cosine >= 0.35 rows of ``pairs``, a join of two
    :func:`~..operators.similarity._cos_side` frames, checkpointed: the
    exact truth of the d22, d23 and st10 envelopes."""
    return (
        pairs.select("id_a", "id_b", _pair_cosine().alias("cos_sim"))
        .filter(F.col("cos_sim") >= 0.35)
        .transform(lineage_checkpoint)
    )


def _delta_truth(emb: DataFrame) -> DataFrame:
    """d23's and st10's truth: the exact pairs of the 50-row delta
    (``vec_id < 50``, broadcast) against the rest of the corpus."""
    corpus = _cos_side(emb.filter(F.col("vec_id") >= 50), "b")
    delta = _cos_side(emb.filter(F.col("vec_id") < 50), "a")
    return _exact_pairs(corpus.crossJoin(F.broadcast(delta)))


def st10_stream_embedding_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """d23's incremental embedding dedup AS A STREAM: arriving delta
    vectors (vec_id < 50) probe the static corpus LSH bucket table
    (stream-static bucket equi-join, stateless append) with exact
    in-batch cosine verify — streaming_embedding_dedup. The streamed
    LSH pair set equals the batch index-mode tier bit for bit
    (deterministic hyperplanes, stateless plan — unit-tested), so the
    harness contract and oracle are exactly d23's: the deterministic
    exact delta-x-corpus truth + recall_ok of the streamed tier
    (envelope 0.6; measured 1.0 at sf0.01)."""
    from ..streaming.windows import streaming_embedding_dedup

    emb = _t(spark, sf_dir, "embeddings")
    lsh = streaming_embedding_dedup(
        spark,
        f"{sf_dir}/embeddings.parquet",
        emb.filter(F.col("vec_id") >= 50),
        threshold=0.35,
        dim=64,
        delta_max_id=50,
    ).transform(lineage_checkpoint)
    return _recall_envelope(_delta_truth(emb), lsh, ["id_a", "id_b"], 0.6)


def _capped_copurchase_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared g1/g2/g3 edge construction: the corpus-safe q83 capped
    co-purchase pairs (per-basket top-5-by-global-support before the
    self-join), as distinct unordered (p1 < p2) pairs."""
    from pyspark.sql import Window as W

    d = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    support = d.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("_support"))
    w = W.partitionBy("l_orderkey").orderBy(
        F.col("_support").desc(), F.col("l_partkey").asc()
    )
    top = (
        d.join(support, "l_partkey")
        .withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= 5)
        .select("l_orderkey", "l_partkey")
    )
    a = top.toDF("o", "p1")
    b = top.toDF("o", "p2")
    return (
        a.join(b, "o")
        .filter(F.col("p1") < F.col("p2"))
        .select("p1", "p2")
        .distinct()
    )


def g3_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle counting over the capped co-purchase graph — the
    local-clustering / community-density primitive, via degree-ordered
    orientation (operators.dedup.triangle_counts) so wedge fan-out is
    O(|E|^1.5) even on a skewed degree sequence, instead of quadratic
    in the hottest node's degree. Orientation is invisible to the
    result, so the oracle counts the same triangles directly with an
    a<b<c triple join — a hash match proves the oriented plan finds
    every triangle exactly once. Top-100 nodes by (n_triangles DESC,
    node ASC)."""
    from ..operators.dedup import triangle_counts

    pairs = _capped_copurchase_pairs(spark, sf_dir)
    out = triangle_counts(pairs)
    return out.orderBy(
        F.col("n_triangles").desc(), F.col("node").asc()
    ).limit(100)


def t27_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram NOVELTY scoring — the fraction of a doc's
    distinct 3-gram shingles that occur in NO other document (corpus
    document frequency 1), in exact integer ppm. The inverse of
    near-duplication: a memorization / boilerplate-risk signal
    (low novelty = templated or duplicated content) and a diversity
    objective for data selection. Plan: one distinct-shingle build
    (8-byte xxhash keys), one DF hash-agg on the shingle, one
    count_if per doc — shuffle is O(total distinct shingles), no
    self-join anywhere, so it scales where pairwise Jaccard cannot.
    The oracle replays DF counting on the string grams (hash
    collisions at 2^-64 are the accepted shingle_sets contract)."""
    from ..operators.dedup import shingle_sets

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    s = shingle_sets(docs, "doc_id", "text", 3).toDF("doc_id", "shingle")
    df_counts = s.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("_df")
    )
    per_doc = (
        s.join(df_counts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count_if(F.col("_df") == 1).alias("n_novel"),
        )
    )
    return per_doc.select(
        "doc_id",
        "n_grams",
        "n_novel",
        F.expr("n_novel * 1000000 div n_grams").alias("novelty_ppm"),
    )


def t28_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via the mergeable bounded-state Misra-Gries sketch
    (operators.text.misra_gries_topk): candidates from O(k)-state
    Arrow-batched sketches, exact re-count of the survivors, per-row
    mg_ok certifying freq > N/k (the pigeonhole guarantee that makes
    the emitted rows provably the exact top-20). The oracle computes
    the exact top-20 and the same flag directly — a hash match proves
    the sketch tier lost nothing."""
    from ..operators.text import misra_gries_topk

    docs = _t(spark, sf_dir, "documents")
    return misra_gries_topk(docs, k_counters=256, top=20)


def x6_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampling weights
    (operators.mixing.dsir_importance): every document scored by its
    Laplace-smoothed unigram likelihood ratio against the TARGET
    domain (lang = 'en') vs the rest of the pool — the
    quality-targeting data-selection step between hard filters (t19)
    and mixture quotas (x1/x9). All integer ppm (decimal(38,0)
    widened), so the oracle replays the estimator bit for bit."""
    from ..operators.mixing import dsir_importance

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    return dsir_importance(docs, is_target=F.col("lang") == "en")


def d24_corpus_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-vs-corpus contamination measurement
    (operators.dedup.corpus_shingle_overlap): exact Jaccard between
    the distinct 3-gram shingle SETS of the even-doc_id and odd-doc_id
    halves of the corpus, plus a 128-permutation corpus-level MinHash
    signature estimate verified in-engine (est_ok) — the whole-dataset
    leakage question (does my train split overlap that benchmark
    dump?) answered with one O(|shingles|) fold, no document pairs."""
    from ..operators.dedup import corpus_shingle_overlap

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return corpus_shingle_overlap(docs, corpus_col=F.col("doc_id") % 2 == 0)


def m16_image_patches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT-style patch tokenization over REAL decoded images
    (operators.multimodal.png_patchify): each doc's 8x8 PNG (the m6
    payload) decoded by the genuine PNG kernel and split into four 4x4
    patches with exact pixel sums and spatial indices — the image
    tokenizer step a multimodal trainer feeds to the patch embedding.
    The oracle predicts all four sums per doc from pure character
    arithmetic, so a hash match certifies decode + spatial windowing
    bit-exactly."""
    from ..operators.multimodal import png_patchify, text_to_png_payload

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return png_patchify(text_to_png_payload(docs), patch=4)


def s7_embedding_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram / second-moment matrix of the embedding corpus
    (operators.similarity.embedding_second_moment): the PCA/whitening
    sufficient statistic, computed as per-batch integer matrix partials
    (numpy q^T q over micro-quantized elements) merged by one (i, j)
    hash-agg — the map-side matrix-partial pattern that keeps the
    shuffle at partials x d^2 instead of corpus x d^2. Element
    quantization before any product makes it order-free, so the oracle
    replays it with a posexploded self-join."""
    from ..operators.similarity import embedding_second_moment

    vecs = _t(spark, sf_dir, "embeddings").select("embedding")
    return embedding_second_moment(vecs)


def t29_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION (operators.text.bpe_encode_census):
    train t22's 8-round merge table, fold it over the distinct word
    dictionary, and measure every document's post-merge token count
    and compression ppm — the corpus-tokens measurement a pretraining
    budget starts from. The oracle replays the 8 training rounds
    (t22's unrolled CTEs), re-applies them closed-form, and joins the
    encoded word lengths back to the documents — bit for bit."""
    from ..operators.text import bpe_encode_census

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bpe_encode_census(docs, n_merges=8)


def st11_stream_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING maintenance of the Gram/whitening statistic — s7's
    integer matrix partials folded through the st9 foreachBatch
    machinery: the corpus's per-batch partials (operators.similarity.
    gram_partials) are spilled to a 4-file delta feed and streamed back
    one file per micro-batch; each epoch partial-aggregates its own
    rows and merges into the running d x d state (MV-sized: 2080 rows
    regardless of corpus). Because every cell is an exact integer SUM,
    the final state is split-invariant and equals the batch tier bit
    for bit — so the oracle IS s7's. The pattern is how a live
    embedding firehose keeps PCA/whitening statistics current without
    rescanning history."""
    from ..operators.similarity import gram_partials
    from ..streaming.windows import streaming_incremental_refresh

    vecs = _t(spark, sf_dir, "embeddings").select("embedding")
    parts = gram_partials(vecs)
    empty_mv = parts.filter(F.lit(False)).groupBy("dim_i", "dim_j").agg(
        F.sum("smoment_q").alias("smoment_q"),
        F.sum("n_vectors").alias("n_vectors"),
    )
    return streaming_incremental_refresh(
        spark,
        empty_mv,
        parts,
        keys=["dim_i", "dim_j"],
        vals=["smoment_q", "n_vectors"],
    )


def m17_audio_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed audio-energy features over REAL decoded PCM
    (operators.audio.wav_energy_windows): each doc's WAV payload (the
    m7 contract) decoded by the stdlib wave parser and reduced to
    16-frame exact integer energies — the VAD/loudness-gating
    primitive. The oracle squares the same character-arithmetic
    samples per window, so a hash match certifies decode + windowed
    energy bit-exactly."""
    from ..operators.audio import text_to_wav_payload, wav_energy_windows

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return wav_energy_windows(text_to_wav_payload(docs), win=16)


def g4_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round k-core peeling (k=3, 3 rounds) over the g1/g2
    co-purchase graph — the fourth iterative-graph primitive: each
    round drops sub-k-degree nodes AND the edges they carried, so
    removals cascade in a way one-shot degree filtering can't express
    (operators.dedup.kcore_peel). Integer-exact; the oracle replays
    the peel rounds as unrolled SQL bit for bit."""
    from ..operators.dedup import kcore_peel

    edges = _copurchase_edges(spark, sf_dir)
    out = kcore_peel(edges, k=3, n_rounds=3)
    return out.select(
        F.col("node").cast("bigint").alias("node"),
        F.col("degree").cast("bigint").alias("degree"),
    )


def s8_sq8_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-quantization ANN (SQ8: 8-bit codes against the global
    corpus range, 4x compression, codebook = 2 scalars from one
    aggregate — no training pass) with asymmetric reconstructed-cosine
    shortlist + exact refine (operators.similarity.sq_refine_topk) —
    the memory/recall middle tier between the exact scan (s1) and PQ
    (s5). Oracle-checkable tier like s2/s3/s5: emits the exact top-k
    plus a per-query recall envelope boolean (measured recall 1.0 at
    sf0.01 — SQ8's per-coordinate error bound is (max-min)/510;
    envelope 0.7)."""
    from ..operators.similarity import ann_with_recall_check, sq_refine_topk

    emb = _t(spark, sf_dir, "embeddings")
    qs = _probe_queries(emb)
    return ann_with_recall_check(
        emb,
        qs,
        lambda: sq_refine_topk(emb, qs, k=10, shortlist=100),
        k=10,
        min_recall=0.7,
    )


def m18_audio_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-autocorrelation over REAL decoded PCM
    (operators.audio.wav_autocorr): each doc's WAV payload decoded by
    the stdlib wave parser and reduced to exact int64 lag products at
    lags 1/2/4/8 — the periodicity / pitch-detection primitive next to
    m17's energy windows. The oracle multiplies the same
    character-arithmetic samples pairwise, so a hash match certifies
    decode + lag alignment bit-exactly."""
    from ..operators.audio import text_to_wav_payload, wav_autocorr

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return wav_autocorr(text_to_wav_payload(docs), lags=(1, 2, 4, 8))


def t30_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM scoring (D=3/4 carried in
    quarters, continuation counts over the distinct-bigram-type frame
    — operators.text.kneser_ney_bigram_score): the KenLM-style
    perplexity-filter tier above t20's MLE and t25's Jelinek-Mercer.
    All integer micro-units, so the oracle replays the discount +
    continuation interpolation bit for bit."""
    from ..operators.text import kneser_ney_bigram_score

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return kneser_ney_bigram_score(docs)


def c8_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filtering — the composition t30 exists
    for: score every doc with the Kneser-Ney LM, take the exact 70th-
    percentile score cutoff (percentile_disc, an actual data value —
    one distributed aggregate, broadcast back as a scalar; NO global
    window sort, the scale trap of rank-based filters), and keep the
    top-30% most-predictable docs with their source and the cutoff.
    All integers end to end, so the oracle replays scoring + cutoff +
    filter bit for bit."""
    from ..operators.text import kneser_ney_bigram_score

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    scored = kneser_ney_bigram_score(docs).transform(lineage_checkpoint)
    # Spark's percentile_disc returns double; the underlying value is an
    # exact micro-unit integer (< 2^53), so the bigint cast is lossless.
    thr = scored.agg(
        F.expr(
            "percentile_disc(0.7) WITHIN GROUP (ORDER BY pkn_avg_micro)"
        )
        .cast("bigint")
        .alias("thr_micro")
    )
    return (
        scored.crossJoin(F.broadcast(thr))
        .filter(F.col("pkn_avg_micro") >= F.col("thr_micro"))
        .join(docs.select("doc_id", "source"), "doc_id")
        .select("doc_id", "source", "pkn_avg_micro", "thr_micro")
    )


def x10_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10-per-language holdout sample via consistent
    hashing (operators.mixing.stratified_consistent_sample): smallest
    md5(doc_id) per lang stratum — uniform-within-stratum,
    growth-stable, and engine-portable (DuckDB replays md5 exactly, so
    the oracle is the same draw bit for bit). Plan: WindowGroupLimit
    pre-keeps k rows per stratum map-side; the shuffle carries
    ~k * strata rows, never the corpus."""
    from ..operators.mixing import stratified_consistent_sample

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_consistent_sample(docs, strat_col="lang", k=10)


def t31_dup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-corpus duplication fraction
    (operators.dedup.cross_doc_dup_ratio): the ppm of each doc's
    8-gram positions whose 8-gram occurs in >= 2 documents — the
    RefinedWeb-style curation signal between intra-doc repetition
    (Gopher, t16) and whole-doc dedup (d1-d5). Exact integers; the
    oracle replays the census on gram STRINGS (the engine moves
    xxhash64 keys — the d2/d3 shingle-collision contract)."""
    from ..operators.dedup import cross_doc_dup_ratio

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return cross_doc_dup_ratio(docs, ngram=8)


def t32_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch census (operators.text.count_min_census):
    4 x 512 mergeable counter matrix over the token stream with the
    engine-portable md5 hash family — unlike the xxhash sketches, the
    ESTIMATES are replayable, so the oracle rebuilds the identical
    sketch and the hash match covers est/over values exactly, plus the
    one-sided cms_ok bound per row."""
    from ..operators.text import count_min_census

    docs = _t(spark, sf_dir, "documents")
    return count_min_census(docs, k_top=20, width=512, depth=4)


def x11_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-objective curation skyline
    (operators.curation.pareto_frontier_2d): the documents no other doc
    beats on BOTH length (n_chars) and lexical diversity (distinct
    whitespace tokens per token, exact integer ppm) — the Pareto
    selection step between scalar quality filters (t19/c8) and mixture
    quotas (x1/x9). Metrics are one map-only pass; the frontier is the
    two-phase local-prune + bounded-merge skyline. Oracle: NOT EXISTS
    dominance replay on the same integer metrics."""
    from ..operators.curation import pareto_frontier_2d

    docs = _t(spark, sf_dir, "documents")
    ws = _words(F.col("text"))
    toks = F.filter(ws, lambda t: t != "")
    m = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.size(toks).cast("bigint").alias("_nt"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("_nu"),
    ).select(
        "doc_id",
        "n_chars",
        F.expr(
            "CASE WHEN _nt <= 0 THEN 0"
            " ELSE _nu * 1000000 div _nt END"
        ).cast("bigint").alias("uniq_ppm"),
    )
    return pareto_frontier_2d(
        m, x_col="n_chars", y_col="uniq_ppm", id_col="doc_id"
    )


def c9_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning
    (operators.relational.compaction_plan): the events log as a
    date-partitioned file manifest (one pseudo-file per (day, type),
    size = payload bytes), binned largest-first into ~1500-byte rewrite
    groups — the OPTIMIZE bin-packing step a lakehouse maintenance job
    runs over table metadata. Window work is manifest-sized (metadata,
    ~1e-6 of the data at 100 TB); the oracle replays the exclusive
    running sum and integer division bit for bit."""
    from ..operators.relational import compaction_plan

    ev = _t(spark, sf_dir, "events")
    manifest = ev.groupBy(
        F.col("ts").cast("date").alias("event_date"),
        F.col("event_type").alias("file_name"),
    ).agg(F.sum(F.length("props")).cast("bigint").alias("size_bytes"))
    plan = compaction_plan(
        manifest, ["event_date"], "file_name", "size_bytes", 1500
    )
    return plan.select(
        "event_date", "file_name", "size_bytes", "bin_id", "bin_files",
        "bin_bytes",
    ).orderBy(
        "event_date", "bin_id", F.col("size_bytes").desc(), "file_name"
    )


def x12_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering layout + zone-map audit
    (operators.relational.zorder_layout): lineitem range-partitioned
    into 64 files by the Morton interleave of (l_partkey, l_suppkey),
    one row per file with its min/max zone map on both axes — the
    OPTIMIZE ZORDER write path (a curve-ordered global ntile, done with
    the distributed rank machinery, no single-partition window) plus
    the statistics that make either-column filters prunable. Oracle
    replays the bit-interleave arithmetic and SQL ntile fill rule
    exactly."""
    from ..operators.relational import zorder_layout

    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_linenumber"
    )
    return zorder_layout(
        li, "l_partkey", "l_suppkey", 64, ["l_orderkey", "l_linenumber"]
    )


def t33_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary growth curve
    (operators.text.vocab_growth): distinct-token vocabulary and
    cumulative token count at each corpus decile (doc_id order) — the
    diversity-saturation diagnostic for shard mixing. One corpus-wide
    token->MIN(doc_id) shuffle + a bounded checkpoint CASE bucket;
    exact integers replayed by the oracle's first-occurrence join."""
    from ..operators.text import vocab_growth

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return vocab_growth(docs)


def g5_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round BFS hop distances (operators.dedup.bfs_distances)
    from the smallest node of the g1/g2/g4 co-purchase graph — the
    multi-hop-reach primitive (crawl frontiers, contamination-spread
    audits). Frontier-expansion joins with per-round lineage
    truncation; the edge frame is checkpointed once and reused by all
    rounds. Oracle unrolls the 4 rounds as anti-joined SQL bit for
    bit (the t22/g4 iterative-replay contract)."""
    from ..operators.dedup import bfs_distances

    edges = _copurchase_edges(spark, sf_dir).transform(lineage_checkpoint)
    src = edges.agg(F.min("src").alias("node"))
    return bfs_distances(edges, src, n_rounds=4).orderBy("dist", "node")


def t34_zipf_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf head-coverage curve (operators.text.zipf_coverage): top-100
    tokens with rank, frequency, and exact cumulative coverage ppm —
    the tokenizer-vocabulary / stopword-sizing diagnostic. One
    map-side-combined token census; total tokens derived from the
    census itself (no second corpus pass); decimal-widened exact
    division. Oracle replays census + running sum + integer ppm."""
    from ..operators.text import zipf_coverage

    docs = _t(spark, sf_dir, "documents").select("text")
    return zipf_coverage(docs, k_top=100)


def st12_stream_count_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Count-Min sketch maintenance — t32's 4 x 512 counter
    matrix kept current by folding each micro-batch's cell partials
    into the running sketch through the st9 foreachBatch machinery
    (operators.text.count_min_cells -> streaming_incremental_refresh).
    CMS cells are plain additive counts, so the streamed fold is
    split-invariant and the final state equals the batch sketch bit
    for bit — the oracle rebuilds the same sketch from the full
    corpus. This is how a live token firehose keeps frequency
    estimates current with O(sketch) state and no history rescans."""
    from ..operators.text import count_min_cells
    from ..streaming.windows import streaming_incremental_refresh

    docs = _t(spark, sf_dir, "documents").select("text")
    cells = count_min_cells(docs).withColumn("cnt", F.lit(1))
    empty_mv = (
        cells.filter(F.lit(False))
        .groupBy("j", "c")
        .agg(F.sum("cnt").alias("cnt"))
    )
    out = streaming_incremental_refresh(
        spark, empty_mv, cells, keys=["j", "c"], vals=["cnt"]
    )
    return out.orderBy("j", "c")


def x13_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diversified selection (operators.similarity.mmr_select):
    8 picks from the vec_id<200 shortlist, query = vector 0, weights
    7:3 (lambda=0.7) — the relevance-vs-redundancy re-ranker between
    raw ANN top-k (s1-s8, which return near-duplicates of the top hit)
    and the dedup keepers (d8/d20). Greedy rounds are bounded and
    driver-sequenced with per-round checkpoints; the oracle unrolls
    the same 8 argmax rounds as SQL (selection ORDER is the emitted,
    engine-portable surface — the s1 rank contract)."""
    from ..operators.similarity import mmr_select

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    pool = emb.filter(F.col("vec_id") < 200)
    query = pool.filter(F.col("vec_id") == 0)
    items = pool.filter(F.col("vec_id") != 0)
    return mmr_select(items, query, k=8, w_rel=7, w_div=3)


def s9_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means with exact integer semantics
    (operators.similarity.kmeans_lloyd): k=8 centroids seeded from the
    8 lowest vec_ids, 3 assign/update rounds, milli-quantized vectors,
    floor-division centroid updates — the oracle-checked clustering
    tier next to the float codebook trainers the ANN family uses
    internally (s3's IVF Lloyd step is the same algorithm, trained for
    recall, not checkable; this one's whole trajectory replays bit for
    bit). Per round: one map-only argmin against broadcast-literal
    centroids + one combine-heavy groupBy — the plan Lloyd compiles to
    on a 1000-executor cluster. The oracle unrolls the same 3 rounds
    as SQL (the g1/g4/t22 iterative contract)."""
    from ..operators.similarity import kmeans_lloyd

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return kmeans_lloyd(emb, k=8, n_rounds=3, scale=1000, dim=64)


def t35_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional phrase search (operators.text.phrase_occurrences):
    per-doc exact occurrence counts of the corpus's top-3 trigram
    phrases via the anchor join over positional postings — the
    inverted-index primitive t26's set-based search cannot express
    (order matters). The oracle counts the same occurrences through
    the independent n-gram-instance formulation, so a hash match
    proves the anchor-join algebra (pos - slot grouping + distinct
    slot completeness) equals naive n-gram matching bit for bit."""
    from ..operators.text import phrase_occurrences

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return phrase_occurrences(docs, n_phrases=3, phrase_len=3)


def g6_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-round weighted shortest paths (operators.dedup.
    sssp_distances) from the smallest node of the g1-g5 co-purchase
    graph — synchronous Bellman-Ford with frontier optimization, the
    weighted companion to g5's hop-count BFS. Edge weights are the
    deterministic integer 1 + (src + dst) % 5 (symmetric, so the
    undirected contract holds). The oracle replays the SIMPLER
    relax-every-node algebra for the same 4 rounds — the hash match
    proves the frontier optimization lossless (the delta-stepping
    argument in the operator docstring)."""
    from ..operators.dedup import sssp_distances

    edges = (
        _copurchase_edges(spark, sf_dir)
        .select(
            "src",
            "dst",
            (F.lit(1) + F.pmod(F.col("src") + F.col("dst"), F.lit(5)))
            .alias("w"),
        )
        .transform(lineage_checkpoint)
    )
    src = edges.agg(F.min("src").alias("node"))
    return sssp_distances(edges, src, n_rounds=4).orderBy("node")


def st13_stream_growing_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING near-dup dedup with a SELF-GROWING LSH index
    (streaming.windows.streaming_growing_lsh_dedup): each micro-batch
    probes the standing MinHash band table for cross-epoch duplicates,
    dedups against itself, then appends its own bands/docs to the
    state — the live-ingest tier above st10's static-corpus probe and
    d10's batch delta. Every pair surfaces exactly once (at its later
    member's epoch), so the accumulated set is split-invariant and
    equals the one-shot batch LSH run — the oracle IS d3's exact-
    Jaccard SQL, making the growing-state streaming path bit-equal to
    the batch tier."""
    from ..streaming.windows import streaming_growing_lsh_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return streaming_growing_lsh_dedup(spark, docs)


def x15_kcenter_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection over the full embedding pool
    (operators.similarity.kcenter_coreset): 8 maximally-spread vectors
    by farthest-point traversal with exact integer distances — the
    diversity-pruning companion to x13's query-anchored MMR. Emits
    the selection order AND the covering-radius curve (radius_q is
    the picked point's distance to the prior selection). The oracle
    unrolls the same greedy rounds as SQL (the x13/s9 iterative
    contract)."""
    from ..operators.similarity import kcenter_coreset

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return kcenter_coreset(emb, k=8, scale=1000)


def s10_hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HYBRID retrieval: dense cosine ranks (s1's exact scorer, k=20)
    fused with lexical 3-gram-Jaccard ranks (t26's inverted-index
    scorer, k=20) by Reciprocal-Rank Fusion in exact integer units
    (operators.similarity.rrf_fuse) — the dense+sparse ensemble every
    modern retrieval stack ships, composed from two already-proven
    rankers over the aligned doc_id == vec_id corpus. The oracle
    rebuilds both rank lists (s1's and t26's own algebra) and fuses
    with the same integer division — bit for bit."""
    from ..operators.dedup import jaccard_search_topk
    from ..operators.similarity import cosine_topk, rrf_fuse

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    dense = cosine_topk(emb, queries, k=20)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    lexical = jaccard_search_topk(docs, query_ids=[0, 1, 2], k=20)
    return rrf_fuse(dense, lexical, k=10)


def g7_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node LOCAL CLUSTERING COEFFICIENT over the g1/g3 capped
    co-purchase graph — cc(v) = 2*T(v) / (deg(v)*(deg(v)-1)) in exact
    integer ppm, the community-density / ego-net-cohesion metric that
    sits on top of triangle counting (reference parity: the reference
    has no graph surface; this extends the §2 aggregate family to
    graph-shaped corpus signals). Triangles come from the
    degree-ordered-orientation tier (operators.dedup.triangle_counts,
    O(|E|^1.5) wedge bound under skew); degrees are one hash-agg over
    the same checkpointed edge list, so the graph is materialized
    once for both consumers (the repo's multi-consumer checkpoint
    contract). The numerator is widened to decimal(38,0) before the
    floor division (the q111/x6/t30 overflow contract — at 100 TB a
    hub node's 2*T*1e6 overflows bigint). Nodes with degree < 2 have
    an undefined coefficient and are excluded; triangle-free nodes
    emit cc_ppm = 0. Top-100 by (cc_ppm DESC, degree DESC, node ASC).
    The oracle recounts triangles with the direct a<b<c triple join
    (orientation-invisibility, the g3 proof) and replays the same
    widened division."""
    from ..operators.dedup import clustering_coefficients

    pairs = _capped_copurchase_pairs(spark, sf_dir)
    out = clustering_coefficients(pairs)
    return out.orderBy(
        F.col("cc_ppm").desc(), F.col("degree").desc(), F.col("node").asc()
    ).limit(100)


def s11_matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated-dimension (Matryoshka) ANN
    (operators.similarity.matryoshka_refine_topk): coarse cosine over
    the first 32 of 64 coordinates — a pure-Catalyst slice, no
    training pass, no codebook, no Python — then exact full-dim
    rerank of the per-query top-200 shortlist. The dimension-pruning
    tier next to the code-compression tiers (s5 PQ, s8 SQ8): stage 1
    moves 2x fewer vector bytes, and there is nothing to retrain when
    the corpus drifts. (The synthetic corpus is NOT MRL-trained, so
    the prefix carries only its proportional share of variance — a
    production MRL embedder front-loads it; prefix/shortlist are the
    recall knobs.) Oracle-checkable like s2/s3/s5/s8: emits the exact
    top-k plus a per-query recall envelope boolean (envelope 0.5,
    measured floor 0.9 at sf0.01; broken slicing scores ~0)."""
    from ..operators.similarity import (
        ann_with_recall_check,
        matryoshka_refine_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    qs = _probe_queries(emb)
    return ann_with_recall_check(
        emb,
        qs,
        lambda: matryoshka_refine_topk(
            emb, qs, k=10, prefix_dim=32, shortlist=200
        ),
        k=10,
        min_recall=0.5,
    )


def d25_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic dedup by k-means cluster blocking
    (operators.dedup.semdedup): the s9 exact-integer Lloyd trajectory
    assigns clusters, duplicates are intra-cluster pairs with cosine
    >= 0.35, and each pair drops its member closer to the centroid
    (keep-diverse, the paper's rule) — the third blocking family next
    to d6's label blocks and d19's LSH buckets, with k as the
    100 TB knob (paper: k ~ sqrt(N)). Keep/drop decisions are pure
    integer (dist_q, ids); the oracle replays the full clustering
    trajectory (the s9 SQL) plus the same pair/loser algebra."""
    from ..operators.dedup import semdedup

    emb = _t(spark, sf_dir, "embeddings")
    return semdedup(emb, k=8, n_rounds=3, tau=0.35, scale=1000)


def st14_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING continuous k-NN serving
    (streaming.windows.streaming_topk_maintenance): the embedding
    corpus ARRIVES as micro-batches, each batch is scored against the
    standing 5-query broadcast set (the s1 algebra on the batch only)
    and refolded into the per-query top-10 state by union-then-
    truncate — the serving-side companion to st10/st13's index-side
    maintenance. Top-k under the total order (score DESC, item ASC)
    is an associative split-invariant fold, so the final state equals
    the one-shot batch scan and the oracle IS s1's SQL — bit for
    bit, regardless of micro-batch boundaries."""
    from ..streaming.windows import streaming_topk_maintenance

    emb = _t(spark, sf_dir, "embeddings")
    qs = _probe_queries(emb)
    return streaming_topk_maintenance(spark, emb, qs, k=10)


def t36_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability scoring in exact integer milli-units
    (operators.text.readability_scores): words / sentence-terminator
    runs / vowel-group syllable proxy counted by plain regexes, the
    formula floor-divided with x1000 coefficients so DuckDB replays
    it bit for bit — the classic reading-ease curation filter next to
    t2's surface ratios and c8's perplexity tier. One projection over
    the corpus scan: zero shuffles, zero Python."""
    from ..operators.text import readability_scores

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return readability_scores(docs)


def d26_semdedup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup on the PRODUCTION blocking path (operators.dedup.
    semdedup_ivf): clusters from the IVF coarse quantizer (the s3
    training machinery, whose cost does not grow with k the way the
    broadcast-literal Lloyd plan does) quantized onto the same integer
    grid, driving the IDENTICAL pair/loser algebra as d25. Emitted
    surface is the d19/s2 envelope contract: the ORACLE-EXACT tier's
    rows (d25's k-means SemDeDup, bit-reproducible) plus a
    `blocking_recall_ok` scalar — the IVF-blocked drop set must
    recover >= 0.4 of the exact tier's drops (measured 0.63 at
    sf0.01 / 0.73 at sf0.1; a broken blocking scores ~0; the two
    Voronoi partitions legitimately differ at cluster boundaries,
    which is the paper's own blocking sensitivity). Production runs
    semdedup_ivf alone; this query pins its algebra to ground truth
    in the driver gate."""
    from ..operators.dedup import semdedup, semdedup_ivf

    emb = _t(spark, sf_dir, "embeddings")
    exact = semdedup(
        emb, k=8, n_rounds=3, tau=0.35, scale=1000
    ).transform(lineage_checkpoint)
    ivf = semdedup_ivf(emb, n_cells=8, tau=0.35, scale=1000)
    # an empty exact-drop set passes: duplicate-free corpora keep the gate
    return _recall_envelope(
        exact.filter(F.col("dropped")),
        ivf.filter(F.col("dropped")),
        ["vec_id"],
        0.4,
        flag="blocking_recall_ok",
        broadcast=True,
        rows=exact,
    )


def d27_semdedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup at the paper's blocking scale — k=64 cells, beyond
    ``_LITERAL_ASSIGN_MAX_K``, so every Lloyd round runs the Arrow
    exact-integer argmin (operators.similarity._assign_exact_udf),
    the path that stays flat in k up to the
    k ~ sqrt(N) thousands a 100 TB corpus needs (the old
    broadcast-literal tier packed cid into dist*16 and capped k at
    16, making the pair tier quadratic-per-cluster at scale —
    SCALING.md r11 measured 29x for 10x data at fixed k=8). Same
    bit-exact algebra as d25 (int64 distances, (dist, cid) tiebreak,
    floor-div centroid updates), so the oracle replays the identical
    64-cell 3-round trajectory in DuckDB — the production argmin is
    oracle-pinned, not just envelope-checked. Pair work drops by
    ~k/16: blocking cost sum n_c^2 with n_c ~ N/64."""
    from ..operators.dedup import semdedup

    emb = _t(spark, sf_dir, "embeddings")
    return semdedup(emb, k=64, n_rounds=3, tau=0.35, scale=1000)


def d28_blocked_neardup_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector embedding near-dup FLAGS over label blocks in one
    exact-integer Gram matmul per block (operators.dedup.
    embedding_blocked_neardup_flags) — the existence reduction of
    d6's pair tier for when the consumer is a per-doc drop policy,
    not a pair list. Vectors ride the d25 milli-quantized grid and
    the tau=7/20 crossing is decided rationally in int64
    (400*dot^2 vs 49*|a|^2*|b|^2), so the flag set is bit-exact in
    DuckDB; the pair self-join's per-pair JVM fold (133 s on sf1's
    20M intra-label pairs) collapses to chunked numpy integer MACs
    (seconds). Every vector is emitted with its boolean — the c10
    ensemble consumes exactly this surface."""
    from ..operators.dedup import embedding_blocked_neardup_flags

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_blocked_neardup_flags(emb, "label")


def c10_dedup_ensemble(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEDUP-ENSEMBLE report: every document scored by all four dedup
    families at once — exact text (d1's group), text near-dup (d3's
    production MinHash-LSH pair tier), embedding near-dup (d6's
    blocked cosine pairs), and SemDeDup drop (d25's cluster-blocked
    keeper rule) — plus the tier-agreement count. This is the
    curation dashboard a 100 TB pipeline runs before choosing a drop
    policy: docs every tier flags are safe deletions, single-tier
    flags are the policy boundary. Composition only — each tier is
    the already-audited operator, the assembly is four left joins on
    doc_id against de-duplicated flag sets (each a fraction of the
    corpus), and the ensemble count is integer. The oracle nests each
    tier's own SQL as a subquery — the c2/c4 composite contract."""
    from ..operators.dedup import (
        embedding_blocked_neardup_flags,
        minhash_lsh_pairs,
        semdedup,
    )
    from pyspark.sql import Window as W

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    emb = _t(spark, sf_dir, "embeddings")

    exact = docs.select(
        "doc_id",
        (F.count(F.lit(1)).over(W.partitionBy("text")) > 1).alias(
            "exact_dup"
        ),
    )
    # both pair frames feed two union legs (id_a / id_b) — checkpoint
    # so each tier's pipeline materializes once (the q111 lesson)
    tp = minhash_lsh_pairs(
        docs, ngram=3, threshold=0.5, broadcast_sizes=True
    ).transform(lineage_checkpoint)
    text_ids = (
        tp.select(F.col("id_a").alias("doc_id"))
        .unionAll(tp.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("_tf", F.lit(True))
    )
    # embedding tier: the d28 exact-integer Gram flag kernel, not the
    # d6 pair self-join — the flag only needs EXISTENCE, and the pair
    # enumeration priced sf1's 20M intra-label pairs at 133 s of JVM
    # dot folds (r12 decomposition) where one chunked int64 matmul
    # per block costs seconds and stays oracle-exact
    emb_ids = (
        embedding_blocked_neardup_flags(emb, "label")
        .filter(F.col("neardup"))
        .select(F.col("vec_id").alias("doc_id"))
        .withColumn("_ef", F.lit(True))
    )
    # SemDeDup tier at the paper's scale-aware blocking: k ~ sqrt(N)
    # (clusters stay ~sqrt(N) wide, pair work N^1.5 instead of N^2/8
    # at fixed k — the r11 19.4x sf1 curve was this tier at k=8). The
    # count is a cheap parquet-metadata job; the oracle replays the
    # trajectory at k = max(8, isqrt(N_sf0.01)) = 22.
    import math

    k_sd = max(8, math.isqrt(emb.count()))
    sd = semdedup(emb, k=k_sd, n_rounds=3, tau=0.35, scale=1000).select(
        F.col("vec_id").alias("doc_id"),
        F.col("dropped").alias("semdedup_dropped"),
    )
    out = (
        exact.join(text_ids, "doc_id", "left")
        .join(emb_ids, "doc_id", "left")
        .join(sd, "doc_id", "left")
        .select(
            "doc_id",
            "exact_dup",
            F.coalesce(F.col("_tf"), F.lit(False)).alias("text_neardup"),
            F.coalesce(F.col("_ef"), F.lit(False)).alias(
                "embedding_neardup"
            ),
            F.coalesce(F.col("semdedup_dropped"), F.lit(False)).alias(
                "semdedup_dropped"
            ),
        )
    )
    return out.withColumn(
        "n_tiers",
        (
            F.col("exact_dup").cast("int")
            + F.col("text_neardup").cast("int")
            + F.col("embedding_neardup").cast("int")
            + F.col("semdedup_dropped").cast("int")
        ).cast("bigint"),
    )


def t37_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level Shannon entropy per document
    (operators.text.char_entropy) in mean micro-nat-quantized nats —
    the random-bytes / encoded-blob / filler detector next to t10's
    repetition and t17's corpus-LM surprise. The t17 determinism
    contract: per-(doc, char) -ln(p) quantized to integer micro-nats
    before any cross-row sum, one exact-integer IEEE division at the
    end. Two map-side-combinable hash aggs, no joins reading storage
    twice, no Python."""
    from ..operators.text import char_entropy

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return char_entropy(docs)


def s12_nn_descent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NN-Descent k-NN graph construction
    (operators.similarity.nn_descent_knn_graph): the INDEX-BUILD side
    of the ANN family — s2/s3/s5/s6/s8/s11 serve queries, graph-ANN
    systems (HNSW/DiskANN class) bootstrap from exactly this neighbor
    graph. Two neighbors-of-neighbors refinement rounds over a
    deterministic id-modulo bucket init, all on the d25 integer grid
    (exact int64 squared distances, (dist_q, id) total order,
    reverse-neighbor sets capped top-k so hub in-degrees stay
    bounded) — per-round cost LINEAR in the corpus at fixed k where
    any exact build pays N^2/bucket. The oracle unrolls the identical
    rounds in SQL (the g1/t22 contract) — bit for bit, not an
    envelope."""
    from ..operators.similarity import nn_descent_knn_graph

    emb = _t(spark, sf_dir, "embeddings")
    return nn_descent_knn_graph(emb, k=5, n_rounds=2, scale=1000)


def d29_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style winnowing near-dup detection
    (operators.text.winnow_fingerprints + winnow_pairs): hash every
    4-gram, keep the rightmost-min hash of each 4-window (robust
    winnowing, Schleimer et al. SIGMOD'03 — guaranteed to catch any
    shared passage of >= 7 words at ~2/5 the gram density), then pair
    documents sharing >= 3 selected fingerprints with an exact
    containment ppm. The PASSAGE-level detector next to d2's whole-doc
    Jaccard and d9's repeated spans: winnowing's selection guarantee is
    position-robust (insertions shift grams but local minima survive),
    which MinHash's global signature can't offer. All md5/lpad/window
    algebra replays in DuckDB bit for bit."""
    from ..operators.text import winnow_fingerprints, winnow_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return winnow_pairs(
        winnow_fingerprints(docs, k=4, w=4), min_shared=3
    )


def s13_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cluster simplified silhouette over the exact k-means
    (operators.similarity.kmeans_silhouette): s9's Lloyd trajectory
    (k=8, 3 rounds, milli grid) scored with the centroid-based
    silhouette — a = own-centroid distance, b = closest-other-centroid
    distance, (b-a)*1000 div max(b,1) per point, summed per cluster in
    exact int64 milli-units. The clustering-quality gate that tells a
    curation pipeline whether d25's SemDeDup blocking actually
    separated the corpus. One extra map-only assignment pass + one
    combine-heavy agg on top of training; the oracle unrolls the same
    trajectory and the same floor divisions (the s9/d25 contract)."""
    from ..operators.similarity import kmeans_silhouette

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return kmeans_silhouette(emb, k=8, n_rounds=3, scale=1000, dim=64)


def st15_stream_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING maintenance of the q113 partition integrity manifest
    (streaming.windows.streaming_manifest_maintenance): the orders feed
    folds per-micro-batch (count, hash_sum, hash_xor) partials into the
    running per-month manifest — sums by addition, the xor channel by
    bit_xor (a commutative monoid the SUM-only st9 machinery can't
    express). All channels are associative + commutative, so the
    streamed state equals the batch manifest bit for bit; the oracle
    recomputes q113's manifest from the full table. O(partitions)
    state, no history rescans — live integrity checksums on ingest."""
    from pyspark.sql import functions as F

    from ..streaming.windows import streaming_manifest_maintenance

    o = _t(spark, sf_dir, "orders")
    rows = o.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("order_month"),
        F.concat_ws(
            "|",
            F.col("o_orderkey").cast("string"),
            F.col("o_custkey").cast("string"),
            F.col("o_orderstatus"),
            F.date_format("o_orderdate", "yyyy-MM-dd"),
            F.col("o_orderpriority"),
        ).alias("row_repr"),
    )
    out = streaming_manifest_maintenance(
        spark, rows, "order_month", "row_repr"
    )
    return out.withColumnRenamed("part", "order_month")


def t38_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 over the documents corpus (operators.text.bm25_topk):
    the classic probabilistic lexical ranker (k1=6/5, b=3/4) with the
    log-idf replaced by the exact rational RSJ odds weight so every
    score is an integer ppm replaying bit for bit in DuckDB — the
    standalone counterpart of s10's lexical tier (which fuses ranks, not
    scores). Query = the corpus's own top-5 tokens (t15's census cut).
    One explode, three combine-heavy aggs, broadcast term/df/scalar
    sides, one global TakeOrderedAndProject — no UDFs."""
    from ..operators.text import bm25_topk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(docs, n_terms=5, top=10)


def x17_rendezvous_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consistent re-sharding surface (operators.mixing.rendezvous_shards):
    every document's rendezvous shard at n=8 AND at n=9, plus the moved
    flag — the minimal-movement property (only ~1/9 of docs move when a
    shard joins) exposed as oracle-checked data, not just a docstring
    claim. Mod-hash sharding (x3) moves ~8/9 of the corpus on the same
    resize; this is why a 100 TB corpus re-shards with rendezvous.
    Map-only, zero shuffles, zero joins — the shard candidates are plan
    literals."""
    from pyspark.sql import functions as F

    from ..operators.mixing import rendezvous_shard_col

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    both = docs.select(
        "doc_id",
        rendezvous_shard_col("doc_id", 8).alias("shard_8"),
        rendezvous_shard_col("doc_id", 9).alias("shard_9"),
    )
    return both.select(
        "doc_id",
        "shard_8",
        "shard_9",
        (F.col("shard_8") != F.col("shard_9")).cast("int").alias("moved"),
    )


def s14_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant spectral direction + per-vector projection
    (operators.similarity.power_iteration_projection): 3 power-iteration
    rounds on s7's exact micro-quantized Gram (driver loop on the
    64 x 64 collected matrix — the bounded-codebook contract), direction
    renormalized each round by the pmod floor-division identity so the
    whole trajectory replays in DuckDB HUGEINT arithmetic bit for bit,
    then one map-only projection against the broadcast-literal
    direction. The PCA/anisotropy analysis pass ('all-but-the-top')
    of an embedding-curation pipeline: one Gram pass + one scan at any
    corpus size."""
    from ..operators.similarity import power_iteration_projection

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return power_iteration_projection(emb, n_rounds=3, dim=64)


def c11_prototype_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSL-prototypes pruning manifest (operators.dedup.prototype_pruning):
    s9's exact Lloyd clustering, every vector ranked within its cluster
    by centroid distance, keep the most-prototypical 7/10 per cluster
    with an exact integer ceil quota — the Sorscher et al. metric-based
    pruning rule as an oracle-checked curation surface (the data-PRUNING
    complement of d25's near-dup SemDeDup). One per-cluster window on
    top of the Lloyd cost; the oracle replays trajectory, ranks and
    quota bit for bit."""
    from ..operators.dedup import prototype_pruning

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return prototype_pruning(emb, k=8, n_rounds=3, keep_num=7, keep_den=10)


def c12_lsh_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup threshold calibration dashboard
    (operators.dedup.lsh_threshold_sweep): exact ground-truth pair
    counts at tau = 7/9/11/13 twentieths on the rational int grid, plus
    the per-tau envelope that the PRODUCTION sign-LSH candidate tier
    (verified at the looser 0.2 floor, tau-independent) recalls every
    ground-truth crossing pair — the "which tau ships" decision surface
    run before committing a drop policy. One block-bounded exact pass +
    one LSH pass + a 4-row broadcast sweep."""
    from ..operators.dedup import lsh_threshold_sweep

    emb = _t(spark, sf_dir, "embeddings")
    return lsh_threshold_sweep(emb, taus=(7, 9, 11, 13))


def t39_greedy_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy decoding from the corpus bigram LM
    (operators.text.greedy_decode): 20 argmax steps from the most
    frequent token, ties lexical, the argmax encoded as
    min(lpad(1e9-cnt) || w) so the chain replays as a DuckDB recursive
    CTE bit for bit — generation as an oracle-checked query (the
    human-readable boilerplate signature of the corpus). Bigram census
    is one explode + one hash agg; the decode loop is n driver-bounded
    single-row lookups against the checkpointed best-continuation
    table (the g1/t22 iterative contract)."""
    from ..operators.text import greedy_decode

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return greedy_decode(docs, n_steps=20)


def s15_late_interaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ColBERT-style late-interaction top-10
    (operators.similarity.late_interaction_topk): 5 query vectors, each
    vector treated as 4 x 16-dim subvector slices, MaxSim scoring (sum
    over query slices of the max dot against any doc slice) on the
    exact milli grid — the multi-vector retrieval operator single-dot
    rankers can't express. Corpus explodes x4 map-only, query slices
    broadcast, two combine-heavy aggs + one per-query top-k window; the
    oracle unnests the same slices and replays dots/max/sum/rank bit
    for bit."""
    from ..operators.similarity import late_interaction_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = _probe_queries(emb)
    return late_interaction_topk(emb, queries, k=10)


def t40_langid_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID EVALUATION against the corpus's gold ``lang`` column:
    the confusion matrix of t3's marker-word classifier — per
    (gold, predicted) doc counts, the row-normalized share in exact
    ppm, and the correctness flag — the accuracy dashboard any
    classifier-driven filter (t3 feeds c1's curation chain) must
    publish before its predictions gate data. Composition of the
    audited t3 scorer + two hash aggs + a languages-bounded broadcast
    denominator join; output is O(|langs|^2) at any corpus size."""
    from ..operators.text import lang_id

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")
    pred = lang_id(docs).select("lang", "lang_pred")
    conf = pred.groupBy("lang", "lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    totals = conf.groupBy("lang").agg(F.sum("n_docs").alias("_tot"))
    return conf.join(F.broadcast(totals), "lang").select(
        "lang",
        "lang_pred",
        "n_docs",
        F.expr("n_docs * 1000000 div _tot").alias("share_ppm"),
        (F.col("lang") == F.col("lang_pred")).cast("int").alias("is_correct"),
    )


def s16_graph_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graph-ANN SEARCH (operators.similarity.graph_ann_topk): the READ
    path over the s12 NN-Descent index — a deterministic multi-entry
    beam walk (16 spread entry points + the query's own node, beam 16,
    3 hops) over the symmetrized k=8 neighbor graph, batched over all 5
    queries as pure DataFrame algebra — the HNSW/DiskANN-class serving
    pattern that makes the index-build investment pay. Walk work is
    O(|Q| * beam * degree * hops) equi-join rows — the corpus is never
    scanned at query time. Emitted surface is the s2 contract: exact
    top-10 (hash-matched) + per-query recall_ok envelope at 0.5
    (measured walk recall@10 0.96 at sf0.01 on the r14 lsh-init
    graph; 0.88 on the pre-r14 id-hash-init graph)."""
    from ..operators.similarity import (
        ann_with_recall_check,
        graph_ann_topk,
        nn_descent_knn_graph,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = _probe_queries(emb)
    def ann() -> DataFrame:
        graph = nn_descent_knn_graph(emb, k=8, n_rounds=3, scale=1000)
        return graph_ann_topk(emb, queries, graph, k=10, beam=16, n_hops=3)

    return ann_with_recall_check(emb, queries, ann, k=10, min_recall=0.5)


def s17_filtered_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered ANN (operators.similarity.filtered_ivf_topk): top-10
    restricted to items with label % 3 = 0 — the tenant/language/
    licence-filter retrieval shape. One SHARED coarse quantizer trained
    on the full corpus, the predicate pushed down to the item stream
    before the probe join (post-filtering the unfiltered top-k starves
    selective filters; per-predicate indexes don't exist), n_probe
    widened 6/16 as the recall dial. Surface = s2 contract: exact
    FILTERED brute-force top-10 (hash-matched) + per-query recall_ok
    envelope at 0.5."""
    from ..operators.similarity import (
        ann_with_recall_check,
        filtered_ivf_topk,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = _probe_queries(emb)
    pred = F.col("label") % 3 == 0
    return ann_with_recall_check(
        emb.filter(pred),
        queries,
        lambda: filtered_ivf_topk(
            emb, queries, pred, k=10, n_cells=16, n_probe=6
        ),
        k=10,
        min_recall=0.5,
    )


def s18_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN JOIN (operators.similarity.knn_join): every EVEN vec_id's
    top-3 cosine neighbors among the ODD vec_ids — the all-rows
    cross-corpus linkage the per-query ANN tiers can't serve (the
    query side is corpus-sized; nothing broadcasts). IVF cell blocking
    on the right side, both sides cell-assigned map-only, candidates
    from one symmetric equi-join on cell id, per-left-row window
    top-k. Cells are occupancy-derived (max(16, N/64)) so candidate
    volume stays LINEAR in data — a fixed cell count is quadratic, the
    lesson this operator's own scale gate taught. Surface: exact
    brute-force top-3 per left row (hash-matched) + the CORPUS-level
    recall envelope (the d26 scalar pattern — per-row booleans can't
    be promised when the query side is every row; measured overall
    recall 0.833 at n_probe=8/16 cells at sf0.01, envelope 0.6)."""
    from ..operators.similarity import (
        ann_with_corpus_recall_check,
        knn_join,
    )

    emb = _t(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") % 2 == 0)
    right = emb.filter(F.col("vec_id") % 2 == 1)
    ann = knn_join(left, right, k=3, n_probe=8).select(
        F.col("left_id").alias("query_id"), "item_id", "rank", "score"
    )
    return ann_with_corpus_recall_check(
        right,
        left.select(F.col("vec_id").alias("query_id"), "embedding"),
        ann,
        k=3,
        min_recall=0.6,
    )


def st16_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact deduplication
    (streaming.windows.streaming_exact_dedup): the ingest-side twin of
    d1 — as documents arrive, fold the per-content-hash dedup manifest
    (keeper = min doc_id so far, n_copies so far). MIN and SUM are
    commutative monoids over the md5 content hash, so the streamed
    state is split-invariant and equals the batch group-by bit for
    bit; the oracle recomputes it from the full table. O(distinct
    contents) state, no history rescans — live dedup on a crawl
    feed."""
    from ..streaming.windows import streaming_exact_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return streaming_exact_dedup(spark, docs, "doc_id", "text")


def st17_stream_band_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING banded-MinHash near-dup manifest
    (streaming.windows.streaming_band_manifest): st16's split-invariant
    monoid fold generalized to the d3 LSH family — per (band, band-key)
    bucket, keeper = MIN(doc_id), n_docs = SUM(count), folded per
    micro-batch so a live ingest maintains its near-dup index without
    re-signing history (buckets with n_docs >= 2 are the collision
    groups d3's candidate join reads). Signatures use the PORTABLE
    md5-prefix hash family (t32/q113), so the oracle recomputes the
    ENTIRE manifest from the full table bit for bit — stronger than the
    envelope checks the xxhash64 production flavor gets; the fold
    algebra is identical for either hash."""
    from ..streaming.windows import streaming_band_manifest

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return streaming_band_manifest(spark, docs, "doc_id", "text")


def x18_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training
    (operators.similarity.hard_negative_topk): per query vector, the
    top-5 items with cosine in [3/20, 15/20) — informative negatives
    above random, below the near-dup ceiling so no false negatives
    (the batch-mining step of embedding-model training; complement of
    the d-family drop tiers). Band membership decided on the exact
    d25 integer grid (float edges would be hash-unsafe); float cosine
    only ORDERS within the band (the s1 contract). One broadcast-query
    corpus scan, map-side band prune, per-query window top-k."""
    from ..operators.similarity import hard_negative_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = _probe_queries(emb)
    return hard_negative_topk(emb, queries, k=5, lo_num=3, hi_num=15)


def d30_bloom_gated_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-gated INCREMENTAL exact dedup
    (operators.dedup.bloom_gated_dedup): dedup an ingest batch against
    a standing corpus — in deployment the filter and keeper table are
    persisted index artifacts so history is never re-scanned per
    batch (the operator's build/serve note); this correctness query
    builds them inline. Occupancy-sized Bloom position set (8 bits/doc,
    k=3 -> asymptotic FPR ~3% at ANY corpus size; position table
    broadcasts to ~10^7-10^8 docs, the production bitset to ~10^10,
    prefix-sharded past that — see the operator),
    each batch row tests its k positions map-side, and only
    bloom-POSITIVE rows pay the verification join against the corpus
    content-hash table. The batch is a deterministic re-crawl mix:
    every doc_id % 7 == 0 re-submitted verbatim under a new id (true
    dups — never bloom-missed), every doc_id % 7 == 3 with a marker
    suffix (new content — flagged only by the filter's deterministic
    false positives). Positions use the portable md5-prefix hash, so
    the oracle replays the SAME false positives bit for bit."""
    from ..operators.dedup import bloom_gated_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    batch = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        .unionByName(
            docs.filter(F.col("doc_id") % 7 == 3).select(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zq-new-ingest")).alias(
                    "text"
                ),
            )
        )
    )
    return bloom_gated_dedup(docs, batch)


def st18_stream_cell_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING ANN cell-occupancy manifest
    (streaming.windows.streaming_cell_manifest): the embedding-side
    twin of st16/st17 — as vectors arrive, fold per-cell (n_vecs,
    min_vec_id, mass_q) under engine-portable sign-LSH cells (±1
    md5-parity planes, d25 integer grid: the cell BOUNDARY is
    cross-engine exact, no float sign wobble). This is the occupancy
    statistic s18's n_cells = |R| // 64 contract and the IVF re-train
    trigger read — maintained incrementally, O(2^8) state rows, no
    history rescans. All three channels are commutative monoids, so
    the streamed state equals the batch group-by bit for bit and the
    oracle recomputes it whole in SQL."""
    from ..streaming.windows import streaming_cell_manifest

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return streaming_cell_manifest(spark, emb, "vec_id", "embedding")


def x19_semantic_decontam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic decontamination of a training corpus against a held-out
    eval set (operators.similarity.semantic_decontam_flags): every
    train vector (vec_id >= 20) is flagged if its cosine against ANY
    eval vector (vec_id < 20) reaches 7/20 — the embedding-space twin
    of t9's n-gram decontamination, catching the near-paraphrase leaks
    exact n-grams miss. Band membership on the exact integer grid and
    an integer-count surface, so the query is hash-exact with no float
    column at all; eval broadcasts, train is scanned once map-side."""
    from ..operators.similarity import semantic_decontam_flags

    emb = _t(spark, sf_dir, "embeddings")
    evalset = emb.filter(F.col("vec_id") < 20)
    train = emb.filter(F.col("vec_id") >= 20)
    # tau = 7/20 is calibrated to the synthetic corpus (max cross cosine
    # ~0.49, p99.9 ~0.37 at sf0.01), so both flag outcomes are exercised;
    # real text embeddings would sit near the usual 0.7-0.8.
    return semantic_decontam_flags(train, evalset, tau_num=7)


def c13_bloom_fpr_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter sizing calibration
    (operators.dedup.bloom_fpr_sweep): measured false-positive rate vs
    bits/doc for d30's incremental-dedup gate, all four configs
    (2/4/8/16 bits, k=3) priced in ONE corpus scan — the c12
    single-pass-sweep pattern applied to d30 the way c12 prices d3's
    tau. The batch is d30's deterministic re-crawl mix; the surface is
    all-integer (counts + floor-ppm FPR), so the measured FPR replays
    bit for bit in the oracle. At sf0.01 the curve is 50.7% / 16.9% /
    8.5% / 1.4% for 2/4/8/16 bits — above the asymptotic
    (1-e^-kn/m)^k because 71 new docs is a small sample; the analytic
    ~3% at 8 bits is what the law of large numbers converges to."""
    from ..operators.dedup import bloom_fpr_sweep

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    batch = (
        docs.filter(F.col("doc_id") % 7 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
        .unionByName(
            docs.filter(F.col("doc_id") % 7 == 3).select(
                (F.col("doc_id") + 2000000).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" zq-new-ingest")).alias(
                    "text"
                ),
            )
        )
    )
    return bloom_fpr_sweep(docs, batch)


def s19_routed_graph_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-ROUTED graph-ANN serving
    (operators.similarity.graph_ann_routed_topk): the SPANN pattern —
    an occupancy-derived IVF coarse quantizer picks per-query entry
    points (per_cell=4 members of each of the n_probe=3 nearest
    cells), the s16 beam walk refines from there. Fixes the flat
    walk's navigability decay on clustered corpora; on THIS isotropic
    synthetic corpus it ties the flat walk (see the operator's
    measured-honesty note), which is exactly what the recall_ok
    envelope is for. Surface = s2 contract: exact top-10
    (hash-matched) + per-query recall_ok envelope at 0.5 (measured
    routed recall@10 0.88 at sf0.01, the envelope's calibration
    scale)."""
    from ..operators.similarity import (
        ann_with_recall_check,
        graph_ann_routed_topk,
        nn_descent_knn_graph,
    )

    emb = _t(spark, sf_dir, "embeddings")
    queries = _probe_queries(emb)
    def ann() -> DataFrame:
        graph = nn_descent_knn_graph(emb, k=8, n_rounds=3, scale=1000)
        return graph_ann_routed_topk(emb, queries, graph, k=10)

    return ann_with_recall_check(emb, queries, ann, k=10, min_recall=0.5)


def st19_stream_decontam_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING decontamination census
    (streaming.windows.streaming_decontam_census): the eval-side twin
    of x19 — as train vectors arrive, fold per-eval-item leak counts
    (how many train vectors cross the 7/20 integer cosine band against
    each held-out item), zero rows preserved because "which benchmark
    items leak most" needs the zeros. Same membership kernel as x19
    (operators.similarity.semantic_decontam_pairs), SUM monoid fold,
    split-invariant; the oracle recomputes the census whole in
    HUGEINT."""
    from ..streaming.windows import streaming_decontam_census

    emb = _t(spark, sf_dir, "embeddings")
    evalset = emb.filter(F.col("vec_id") < 20).select("vec_id", "embedding")
    train = emb.filter(F.col("vec_id") >= 20).select("vec_id", "embedding")
    return streaming_decontam_census(spark, train, evalset, tau_num=7)


def x20_domain_cap_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-scale APPROXIMATE domain cap
    (operators.mixing.domain_cap_approx): keep rows with
    priority * n_source < 15 * 2^20 — the O(1)-per-row hash-threshold
    tier the exact x2 cap's docstring promises for 100 TB, with NO
    rank, sort, or window anywhere (count agg + broadcast join +
    map-side filter). Deterministic-approximate: the kept SET is a
    pure function of ids and counts (bit-identical cross-engine); only
    the per-source kept count is ~Binomial around the cap."""
    from ..operators.mixing import domain_cap_approx

    docs = _t(spark, sf_dir, "documents")
    return domain_cap_approx(docs, cap=15)


def s20_embedding_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding data-QC census (operators.similarity.embedding_qc):
    per label — null vectors, dimension mismatches, zero norms, and
    the int64 quantized-norm envelope (min/max/sum on the d25 grid) —
    the ingest gate before any index build, t2-quality for the vector
    modality. A deterministic fault mix is planted so every counter is
    exercised: vec_id % 97 == 0 rows arrive NULL, % 97 == 1 truncated
    to 8 dims, % 97 == 2 zeroed, % 97 == 3 first element NULLed (the
    ADVICE-r16 blind spot: NULL-element vectors must land in their own
    counter, not vanish from the census). Map-only quantize + one hash
    agg; all-integer surface, hash-exact cross-engine."""
    from ..operators.similarity import embedding_qc

    emb = _t(spark, sf_dir, "embeddings")
    faulty = emb.select(
        "vec_id",
        "label",
        F.when(F.col("vec_id") % 97 == 0, F.lit(None))
        .when(F.col("vec_id") % 97 == 1, F.slice(F.col("embedding"), 1, 8))
        .when(
            F.col("vec_id") % 97 == 2,
            # keep array<float>: a bare x * 0.0 would widen to double
            # and the CASE branches would refuse to unify
            F.transform(
                F.col("embedding"),
                lambda x: (x * F.lit(0.0)).cast("float"),
            ),
        )
        .when(
            F.col("vec_id") % 97 == 3,
            F.concat(
                F.array(F.lit(None).cast("float")),
                F.slice(F.col("embedding"), 2, 63),
            ),
        )
        .otherwise(F.col("embedding"))
        .alias("embedding"),
    )
    return embedding_qc(faulty, dim_expected=64)


def c14_training_recipe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-data recipe — the composition the mixing
    family exists for, every stage exact-integer: (1) per-source doc
    counts; (2) temperature-damped shares (floor(sqrt(n) * 1e6), the
    x4 fixed-point contract); (3) Hamilton largest-remainder
    apportionment of an 800-doc budget so per-source quotas sum to 800
    EXACTLY (the x9 idiom, here in docs); (4) x1 mixture arithmetic
    (floor copies + hash-priority remainder tie-break via the
    range-partitioned grouped_rank — never a per-source single-task
    window); (5) explode copies; (6) ONE global training order over
    the 800 emitted copies via global_rank on the per-copy re-keyed
    Knuth priority (range partition + offset, never a corpus sort on
    one task). Output: (doc_id, source, copy_idx, pos) — pos is a
    permutation of 1..800.

    Scale shape: two corpus-scan aggs (counts, ranks), all recipe
    arithmetic on the domains-sized frame (broadcast), grouped_rank /
    global_rank for the two orderings; the apportionment window rides
    the ~20-row domains frame (the x9 documented-safe case)."""
    from pyspark.sql import Window

    from ..operators.relational import global_rank, grouped_rank

    B = 800
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("_n"))
    damped = counts.withColumn(
        "_w", F.floor(F.sqrt(F.col("_n")) * F.lit(1e6)).cast("bigint")
    ).transform(lineage_checkpoint)  # consumers: totals + quota join
    totals = damped.agg(F.sum("_w").alias("_wtot"))
    based = (
        damped.crossJoin(F.broadcast(totals))
        .withColumn("_base", F.expr(f"cast({B} as bigint) * _w div _wtot"))
        .withColumn("_rem", F.expr(f"cast({B} as bigint) * _w % _wtot"))
    )
    slack = based.agg((F.lit(B) - F.sum("_base")).alias("_r"))
    w_h = Window.orderBy(F.col("_rem").desc(), F.col("source").asc())
    quota = (
        based.crossJoin(F.broadcast(slack))
        .withColumn("_rk", F.row_number().over(w_h))
        .select(
            "source",
            "_n",
            (
                F.col("_base")
                + F.when(F.col("_rk") <= F.col("_r"), 1).otherwise(0)
            ).alias("_quota"),
        )
        .withColumn("_qbase", F.expr("_quota div _n"))
        .withColumn("_qrem", F.col("_quota") % F.col("_n"))
    )
    ranked = grouped_rank(
        docs.withColumn(
            "_pri", (F.col("doc_id") * 2654435761) % 1048576
        ),
        ["source"],
        [F.col("_pri"), F.col("doc_id")],
        "_rnk",
    )
    copies = (
        ranked.join(F.broadcast(quota), "source")
        .withColumn(
            "_copies",
            F.col("_qbase")
            + F.when(F.col("_rnk") <= F.col("_qrem"), 1).otherwise(0),
        )
        # filter BEFORE sequence: Spark's sequence(1, 0) would count
        # DOWN ([1, 0]) while DuckDB generate_series(1, 0) is empty
        .filter(F.col("_copies") >= 1)
        .select(
            "doc_id",
            "source",
            F.explode(
                F.sequence(F.lit(1).cast("bigint"), F.col("_copies"))
            ).alias("copy_idx"),
        )
    )
    ordered = global_rank(
        copies.withColumn(
            "_ppri",
            (F.col("doc_id") * 2654435761 + F.col("copy_idx") * 99991)
            % 1048576,
        ),
        [F.col("_ppri"), F.col("doc_id"), F.col("copy_idx")],
        "pos",
    )
    return ordered.select("doc_id", "source", "copy_idx", "pos")


def c15_effective_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware token accounting per source — the curation report
    that turns d1's keeper decision into budget numbers: for each
    source, raw docs/tokens vs the docs/tokens SURVIVING global exact
    dedup (keeper = min doc_id per identical text, counted in the
    keeper's own source — cross-source dups charge the copy's source,
    credit the keeper's). One md5-keyed hash agg for keepers (the d30
    shuffle discipline: 8-byte-ish keys, never full text), one join
    back, one per-source agg; whitespace tokens = the t1 contract."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    ch = F.md5(F.col("text").cast("binary"))
    toks = F.size(_words(F.col("text"))).cast("bigint")
    base = docs.select(
        "doc_id", "source", ch.alias("_ch"), toks.alias("_t")
    )
    keepers = base.groupBy("_ch").agg(F.min("doc_id").alias("_keeper"))
    joined = base.join(keepers, "_ch").withColumn(
        "_is_keeper", F.col("doc_id") == F.col("_keeper")
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count_if(F.col("_is_keeper")).cast("bigint").alias("n_kept"),
        F.sum("_t").cast("bigint").alias("raw_tokens"),
        F.sum(F.when(F.col("_is_keeper"), F.col("_t")).otherwise(0))
        .cast("bigint")
        .alias("kept_tokens"),
    )


def st20_stream_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING fixed-width histogram
    (streaming.windows.streaming_histogram): per-bin counts and
    min/max of the x5 difficulty proxy (avg word length in
    milli-units) folded as documents arrive — SUM/MIN/MAX monoids, so
    the state is split-invariant and equals the batch group-by bit for
    bit; bounds are fixed [0, 16000) x 32 bins (a stream cannot
    pre-scan min/max — out-of-range clamps to the edge bins, the
    operator's documented re-bin signal). The live tier under the q115
    quantile sketch."""
    from ..operators.mixing import _difficulty_milli
    from ..streaming.windows import streaming_histogram

    docs = _t(spark, sf_dir, "documents")
    diff = docs.select(_difficulty_milli(F.col("text")).alias("difficulty_milli"))
    return streaming_histogram(
        spark, diff, "difficulty_milli", n_bins=32, lo=0, hi=16000
    )


def st21_stream_effective_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING dedup-savings dashboard
    (streaming.windows.streaming_effective_tokens): c15's dedup-aware
    per-source token accounting maintained live — per-source raw
    counters (SUM monoids) plus a per-content keeper state (argmin
    over doc id as MIN(struct(id, source)) — commutative, so a later
    micro-batch carrying an earlier id correctly steals keeper
    status), report derived at read time with zero-keeper sources
    preserved. State O(sources + distinct contents); equals the batch
    c15 report bit for bit, which is the oracle."""
    from ..streaming.windows import streaming_effective_tokens

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    return streaming_effective_tokens(spark, docs)


def x22_length_grouped_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-grouped batch manifest
    (operators.curation.length_grouped_batches): docs banded by
    32-token length bands, deterministically shuffled within each band
    (Knuth hash via grouped_rank — bands are few, so never a
    partitioned window), cut into batches of 8, with per-batch padding
    economics (pad_tokens = n*max - sum). The group-by-length
    dataloader trick as an oracle-checked manifest."""
    from ..operators.curation import length_grouped_batches

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return length_grouped_batches(docs)


def s21_anisotropy_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector anisotropy profile
    (operators.similarity.anisotropy_profile): the measurement half of
    'all-but-the-top' — each vector's energy fraction along the
    corpus's dominant spectral direction (s14's power-iteration
    trajectory, shared helper so the surfaces cannot disagree), as
    exact integer ppm via one decimal(38,0)-widened division. On THIS
    isotropic corpus the fractions sit near 1e6/64 ~ 15625 ppm — the
    quantitative signature of the r14 isotropy finding, now an
    oracle-checked surface; a heavy tail here is the 'subtract the
    common direction before cosine retrieval' signal. One Gram pass +
    one scan at any corpus size."""
    from ..operators.similarity import anisotropy_profile

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return anisotropy_profile(emb, n_rounds=3, dim=64)


def x23_whole_doc_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-document harmonic bin packing
    (operators.curation.whole_doc_packing): the no-split packing tier
    for SFT/instruction data — t13's concat-and-cut straddles bins,
    this keeps every doc intact via harmonic size classes
    (size_class = capacity div tok, k docs per bin, waste bounded by
    capacity/(k+1)); class positions via grouped_rank (classes are a
    low-cardinality domain). Oversize docs surface in class 0 with
    negative waste rather than vanishing. All integer, hash-exact."""
    from ..operators.curation import whole_doc_packing

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return whole_doc_packing(docs, capacity=256)


def s22_quantizer_occupancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coarse-quantizer occupancy census
    (operators.similarity.quantizer_occupancy): the index-build QC
    gate — per k-means cell (s9's exact integer trajectory, k=8,
    3 rounds), member count, distortion envelope (min/max/sum int64
    dist_q) and occupancy_ppm, with EMPTY cells present via a k-row
    spine (the empty cell is the finding: it wastes probes and means
    the recall dial lies). One hash agg + scalar count + k-row
    broadcast join on top of the s9 rounds."""
    from ..operators.similarity import quantizer_occupancy

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return quantizer_occupancy(emb, k=8, n_rounds=3, scale=1000, dim=64)


def t41_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Zipf rank-frequency profile
    (operators.text.zipf_profile): the full-distribution complement of
    t34's head-coverage curve — token types ranked per language
    (grouped_rank: languages are the lowcard domain), bucketed by
    integer log2(rank) (length(bin(rank))-1, no float log), one census
    row per (lang, bucket) with type and frequency mass. Smooth
    doubling decay = natural text; a truncated head or fat tail is
    the spam/boilerplate/tokenizer-corruption signature."""
    from ..operators.text import zipf_profile

    docs = _t(spark, sf_dir, "documents").select("lang", "text")
    return zipf_profile(docs, group_col="lang")


def d31_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level exact substring dedup, Lee et al.-style
    (operators.dedup.exact_substring_dedup — r17 VERDICT item 4): every
    12-token window occurring more than once anywhere in the corpus
    keeps its globally-first occurrence; all other occurrences merge
    into maximal excision spans, one manifest row each. The d-family's
    span-level DEDUP TRANSFORM (d9 is the census; this says which token
    ranges to cut and keeps a keeper). Linear plan: positional gram
    hashes -> one hash agg (count + min-struct keeper) -> hash join
    back -> per-doc island merge. All integer, hash-exact."""
    from ..operators.dedup import exact_substring_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return exact_substring_dedup(docs, n=12)


def d32_substring_excise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apply the d31 excision manifest to the corpus
    (operators.dedup.apply_substring_excision): per doc, cut every
    token inside an excision span and emit conservation counts plus an
    md5 of the surviving tokens — the CONTENT of the cut is oracle-
    checked, not just the arithmetic. Manifest join + JVM array
    filter; the corpus is never shuffled."""
    from ..operators.dedup import (
        apply_substring_excision,
        exact_substring_dedup,
    )

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    manifest = exact_substring_dedup(docs, n=12)
    return apply_substring_excision(docs, manifest)


def d33_delta_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL substring dedup
    (operators.dedup.incremental_substring_dedup): the arriving batch
    (odd doc_ids) excised against the kept base corpus (even doc_ids)
    — base grams are the persistable 8-byte index asset, the weekly
    run is delta-sized. A delta (doc, pos) is redundant iff its
    12-gram occurs anywhere in the base, or earlier within the delta.
    Manifest rows for delta docs only; base docs are never touched."""
    from ..operators.dedup import incremental_substring_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    base = docs.filter(F.col("doc_id") % 2 == 0)
    delta = docs.filter(F.col("doc_id") % 2 == 1)
    return incremental_substring_dedup(base, delta, n=12)


def d34_duplication_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus duplication census (operators.dedup.duplication_profile):
    decile-bucket every doc by the fraction of its tokens inside d31
    excision spans (Lee et al.'s headline corpus metric) and emit the
    <= 10-row profile. Manifest agg (small side) + left join + lowcard
    agg; the corpus itself is never shuffled."""
    from ..operators.dedup import duplication_profile, exact_substring_dedup

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    manifest = exact_substring_dedup(docs, n=12)
    return duplication_profile(docs, manifest)


def st23_stream_substring_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING substring-dedup gram index maintenance
    (streaming.windows.streaming_substring_index): micro-batches fold
    per-gram (count, min-keeper) partials with SUM + MIN monoids, so
    the standing index is split-invariant and equals the one-shot
    batch aggregation — the live-ingest tier of the d31/d33 family.
    Emits duplicated grams keyed by their keeper occurrence
    (engine-neutral: exactly one gram starts at a (doc, pos))."""
    from ..streaming.windows import streaming_substring_index

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return streaming_substring_index(spark, docs, n=12)


def st22_stream_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING Zipf vocabulary-health monitor
    (streaming.windows.streaming_zipf_profile): t41's per-language
    rank-frequency profile maintained live — per-(lang, token) SUM
    counters folded per micro-batch (split-invariant monoid state,
    O(|vocab| x langs) rows), ranks + log2 buckets derived ONCE at
    read time (ranks are not mergeable — a token's rank depends on
    every other total, the st21 report-at-read pattern). Equals the
    batch t41 profile bit for bit, which is the oracle."""
    from ..streaming.windows import streaming_zipf_profile

    docs = _t(spark, sf_dir, "documents").select("lang", "text")
    return streaming_zipf_profile(spark, docs, group_col="lang")
