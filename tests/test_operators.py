"""Operator-level tests: approximate operators cross-checked against their
exact counterparts (the checks the driver's rows-only gate can't do)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_etl_pyspark_inmet_spark.operators.dedup import (
    dedup_exact,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash_pairs,
)
from airflow_etl_pyspark_inmet_spark.operators.relational import (
    sessionize,
    topk_per_group,
)
from airflow_etl_pyspark_inmet_spark.operators.similarity import (
    cosine_topk,
    lsh_cosine_topk,
)


@pytest.fixture(scope="module")
def docs(spark, sf_small):
    return spark.read.parquet(f"{sf_small}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark, sf_small):
    return spark.read.parquet(f"{sf_small}/embeddings.parquet")


def test_dedup_exact_finds_planted_dups(spark):
    rows = [(1, "a b c"), (2, "a b c"), (3, "x y z"), (4, "a b c")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["keep_id"]: r["n_copies"] for r in dedup_exact(df).collect()}
    assert got == {1: 3, 3: 1}


def test_minhash_recall_equals_exact_jaccard(docs):
    exact = {
        (r["id_a"], r["id_b"]) for r in jaccard_pairs(docs, threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    assert lsh == exact  # r=2/b=16 at t=0.5: recall ~1 and verify removes FPs
    assert len(exact) > 0  # testdata plants near-dups


def test_simhash_identical_texts_collide(spark):
    long_a = " ".join(["alpha beta gamma delta epsilon zeta eta theta"] * 5)
    rows = [
        (1, long_a),
        (2, long_a),  # identical -> identical signature, hamming 0
        (3, "completely different words nothing shared here at all " * 4),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(df, max_hamming=3).collect()
    }
    assert pairs.get((1, 2)) == 0
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_lane_overflow_guarded(spark):
    """A doc at/over the 2^15-token lane capacity must get a NULL
    signature (excluded from banding), never a silently corrupt one."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import simhash64

    rows = [
        (1, "tok " * (1 << 15)),  # 32768 tokens -> lane capacity exceeded
        (2, "tok " * 100),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    sigs = {r["doc_id"]: r["simhash"] for r in simhash64(df).collect()}
    assert sigs[1] is None
    assert sigs[2] is not None


def test_simhash_jaccard_pairs_equals_exact(docs):
    """The guaranteed-recall validation tier (16x4-bit bands + exact
    verify) must reproduce the exact-Jaccard pair set."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        simhash_jaccard_pairs,
    )

    exact = {
        (r["id_a"], r["id_b"]) for r in jaccard_pairs(docs, threshold=0.5).collect()
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in simhash_jaccard_pairs(docs, threshold=0.5).collect()
    }
    assert got == exact


class _StubFrame:
    """Stands in for the signature frame: the fault tests patch both
    corpus passes, so nothing downstream of them may touch Spark."""

    def withColumnRenamed(self, *_):
        return self

    def transform(self, _):
        return self


def test_simhash_jaccard_pairs_joins_worker_when_main_side_fails(
    spark, monkeypatch
):
    """A main-thread failure must not leave the signature thread running:
    the worker is joined before the error reaches the caller."""
    import threading

    from airflow_etl_pyspark_inmet_spark.operators import dedup

    started, release = threading.Event(), threading.Event()
    workers = []

    def slow_sig(*_):
        workers.append(threading.current_thread())
        started.set()
        release.wait(3)
        return _StubFrame()

    def failing_pairs(*_, **__):
        started.wait(5)
        raise RuntimeError("jaccard tier failed")

    monkeypatch.setattr(dedup, "simhash64", slow_sig)
    monkeypatch.setattr(dedup, "jaccard_pairs", failing_pairs)
    try:
        with pytest.raises(RuntimeError, match="jaccard tier failed"):
            dedup.simhash_jaccard_pairs(None)
        assert workers and workers[0] is not threading.current_thread()
        assert not workers[0].is_alive()
    finally:
        release.set()


def test_simhash_jaccard_pairs_surfaces_worker_error(spark, monkeypatch):
    from airflow_etl_pyspark_inmet_spark.operators import dedup

    def failing_sig(*_):
        raise ValueError("signature pass failed")

    monkeypatch.setattr(dedup, "simhash64", failing_sig)
    monkeypatch.setattr(dedup, "jaccard_pairs", lambda *_, **__: _StubFrame())
    with pytest.raises(ValueError, match="signature pass failed"):
        dedup.simhash_jaccard_pairs(None)


def test_overlap_both_sides_fail_raises_foreground_after_join(spark):
    import threading

    from airflow_etl_pyspark_inmet_spark.operators.util import overlap

    failed = threading.Event()
    workers = []

    def background():
        workers.append(threading.current_thread())
        failed.set()
        raise ValueError("background")

    def foreground():
        failed.wait(5)
        raise RuntimeError("foreground")

    with pytest.raises(RuntimeError, match="foreground"):
        overlap(background, foreground)
    assert failed.is_set() and not workers[0].is_alive()
    assert overlap(lambda: 1, lambda: 2) == (1, 2)


def test_simhash_pairs_on_corpus_are_valid(docs):
    ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    pairs = simhash_pairs(docs, max_hamming=3).collect()
    for r in pairs:
        assert r["id_a"] in ids and r["id_b"] in ids and r["id_a"] < r["id_b"]
        assert 0 <= r["hamming"] <= 3


def test_simhash_pairs_hot_bucket_guard(spark):
    """max_bucket_df (r17 VERDICT item 3): a degenerate signature class
    (many identical simhashes -> every band bucket hot) must not drive
    the banded self-join quadratic. Pairs whose shared bands are ALL
    hotter than the cap are dropped; pairs with any cool shared band
    survive with their exact Hamming distance."""
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        # 12 identical docs: identical signatures, so every one of their
        # 4 band buckets holds 12 docs -> all hot at cap 8
        *[(i, base) for i in range(12)],
        # 2 identical docs of a different text: buckets of df 2 -> cool
        (100, "one two three four five six seven eight nine ten"),
        (101, "one two three four five six seven eight nine ten"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    uncapped = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(df, max_hamming=3).collect()
    }
    capped = {
        (r.id_a, r.id_b)
        for r in simhash_pairs(df, max_hamming=3, max_bucket_df=8).collect()
    }
    # uncapped finds all 66 degenerate-class pairs plus the cool pair
    assert (0, 1) in uncapped and (100, 101) in uncapped
    # capped drops the degenerate class (all 4 shared bands hot) ...
    assert all(a >= 100 for a, _ in capped)
    # ... but keeps the cool pair
    assert (100, 101) in capped


def test_lsh_topk_recall_vs_exact(emb):
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["item_id"])
        for r in cosine_topk(emb, queries, k=10).collect()
    }
    approx = {
        (r["query_id"], r["item_id"])
        for r in lsh_cosine_topk(emb, queries, k=10, dim=64).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6  # 6 planes x 8 tables + hamming-1 multiprobe
    # every approx hit must be a real item (sanity)
    assert all(q != i for q, i in approx)


def test_topk_per_group_deterministic(spark):
    rows = [("g", 1, 10.0), ("g", 2, 10.0), ("g", 3, 5.0), ("h", 4, 1.0)]
    df = spark.createDataFrame(rows, ["k", "id", "v"])
    got = [
        (r["k"], r["id"])
        for r in topk_per_group(df, ["k"], "v", k=2, tiebreak="id")
        .orderBy("k", "id")
        .collect()
    ]
    assert got == [("g", 1), ("g", 2), ("h", 4)]


def test_sessionize_gap_boundary(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [
        (1, t0),
        (1, t0 + dt.timedelta(seconds=1800)),  # exactly gap -> same session (> rule)
        (1, t0 + dt.timedelta(seconds=1800 + 1801)),  # new session
        (2, t0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "ts"])
    out = sessionize(df, "user_id", "ts", gap_seconds=1800)
    seqs = [
        r["session_seq"]
        for r in out.filter(F.col("user_id") == 1).orderBy("ts").collect()
    ]
    assert seqs == [1, 1, 2]


def test_asof_join_picks_latest_at_or_before(spark):
    from airflow_etl_pyspark_inmet_spark.operators.relational import asof_join

    left = spark.createDataFrame(
        [("a", 5, "L1"), ("a", 10, "L2"), ("a", 2, "L3"), ("b", 7, "L4")],
        "k string, t int, lbl string",
    )
    right = spark.createDataFrame(
        [("a", 3, 30.0), ("a", 5, 50.0), ("a", 9, 90.0), ("c", 1, 10.0)],
        "k string, rt int, v double",
    )
    out = {
        r["lbl"]: r["v"]
        for r in asof_join(left, right, on="k", left_ts="t", right_ts="rt").collect()
    }
    # L1 at t=5: inclusive match with rt=5 -> 50.0; L3 at t=2 precedes all
    assert out == {"L1": 50.0, "L2": 90.0, "L3": None, "L4": None}


def test_range_join_bucketed_matches_naive(spark):
    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        range_join_bucketed,
    )

    vals = spark.range(0, 200).select((F.col("id") * 0.7).alias("v"))
    ranges = spark.createDataFrame(
        [(1, 0.0, 10.0), (2, 9.5, 9.9), (3, 50.0, 120.0), (4, 200.0, 300.0)],
        "rid int, lo double, hi double",
    )
    got = (
        range_join_bucketed(vals, ranges, "v", "lo", "hi", bucket_width=7.0)
        .groupBy("rid")
        .count()
        .collect()
    )
    naive = (
        vals.crossJoin(ranges)
        .filter((F.col("v") >= F.col("lo")) & (F.col("v") <= F.col("hi")))
        .groupBy("rid")
        .count()
        .collect()
    )
    assert {r["rid"]: r["count"] for r in got} == {
        r["rid"]: r["count"] for r in naive
    }


def test_connected_components_chain_and_island(spark):
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        connected_components,
    )

    # chain 1-2-3-4 (diameter 3, needs >1 iteration) + island 10-11
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (10, 11)], "id_a int, id_b int"
    )
    out = {r["node"]: r["comp"] for r in connected_components(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_long_chain_converges(spark):
    """A path-shaped dup chain far longer than max_iter: pointer jumping
    must converge in O(log diameter) rounds where pure min-label
    propagation (one hop per round) would blow the iteration cap."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        connected_components,
    )

    n = 200  # diameter 199 >> default max_iter=20; log2(199) ~ 7.6
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], "id_a int, id_b int"
    )
    out = {
        r["node"]: r["comp"]
        for r in connected_components(pairs, max_iter=12).collect()
    }
    assert out == {i: 0 for i in range(n + 1)}


def test_connected_components_raises_at_iteration_cap(spark):
    """Non-convergence at the cap must raise, not return partial labels."""
    import pytest

    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], "id_a int, id_b int"
    )
    with pytest.raises(RuntimeError, match="still changing"):
        connected_components(pairs, max_iter=2)


def test_ivf_topk_recall_vs_exact(emb):
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        cosine_topk,
        ivf_topk,
    )

    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["item_id"])
        for r in cosine_topk(emb, qs, k=10).collect()
    }
    approx = {
        (r["query_id"], r["item_id"])
        for r in ivf_topk(emb, qs, k=10, n_cells=16, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"IVF recall too low: {recall}"


def test_salted_join_equals_plain_join(spark):
    from airflow_etl_pyspark_inmet_spark.operators.relational import salted_join

    left = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "z"), (3, "w")], "k int, payload string"
    )
    right = spark.createDataFrame([(1, "A"), (2, "B")], "k int, tag string")
    got = sorted(
        tuple(r) for r in salted_join(left, right, on="k", n_salts=4).collect()
    )
    want = sorted(tuple(r) for r in left.join(right, "k").collect())
    assert got == want


def test_python_udtf_lateral_join(spark):
    """Python UDTF surface (Spark 4): table function registered in SQL and
    applied per-row via LATERAL — the escape hatch for fan-out logic that
    truly needs Python (most fan-outs should stay native: see
    chunk_documents / posexplode)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="word string, n int")
    class SplitWords:
        def eval(self, text: str):
            for w in (text or "").split():
                yield (w, len(w))

    spark.udtf.register("split_words", SplitWords)
    rows = spark.sql("SELECT * FROM split_words('a bb ccc')").collect()
    assert [(r["word"], r["n"]) for r in rows] == [("a", 1), ("bb", 2), ("ccc", 3)]

    df = spark.createDataFrame([(1, "x yy"), (2, "zzz")], "id int, t string")
    df.createOrReplaceTempView("_udtf_docs")
    out = spark.sql(
        "SELECT d.id, s.word FROM _udtf_docs d, LATERAL split_words(d.t) s"
    ).collect()
    assert sorted((r["id"], r["word"]) for r in out) == [
        (1, "x"), (1, "yy"), (2, "zzz"),
    ]


def test_embedding_pairs_match_numpy_bruteforce(emb):
    """d6 within-block cosine pairs == numpy brute force on the same data,
    and the plan is an equi-join on the block key (no cartesian)."""
    import numpy as np

    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        embedding_cosine_pairs,
    )

    got = embedding_cosine_pairs(emb, block_col="label", threshold=0.3)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan

    pdf = emb.select("vec_id", "label", "embedding").toPandas()
    M = np.stack(pdf.embedding.values).astype(np.float64)
    n = M / np.linalg.norm(M, axis=1, keepdims=True)
    S = n @ n.T
    ids, labs = pdf.vec_id.values, pdf.label.values
    expected = set()
    for i in range(len(ids)):
        for j in range(i + 1, len(ids)):
            if labs[i] == labs[j] and S[i, j] >= 0.3 and ids[i] != ids[j]:
                a, b = sorted((int(ids[i]), int(ids[j])))
                expected.add((a, b))
    actual = {(r.id_a, r.id_b) for r in got.collect()}
    assert actual == expected


def test_merge_upsert_semantics(spark):
    """Updates win on key match, unmatched base survives, new keys insert."""
    from airflow_etl_pyspark_inmet_spark.operators.relational import merge_upsert

    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["k", "v"]
    )
    updates = spark.createDataFrame([(2, "B"), (4, "D")], ["k", "v"])
    got = {r["k"]: r["v"] for r in merge_upsert(base, updates, "k").collect()}
    assert got == {1: "a", 2: "B", 3: "c", 4: "D"}


def test_tfidf_top_terms_hand_checked(spark):
    """Tiny corpus where TF-IDF is computable by hand: a term unique to a
    doc outranks a corpus-wide one even at lower frequency; k and
    tie-break-by-term are honored."""
    import math

    from airflow_etl_pyspark_inmet_spark.operators.text import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "common common common rare"),
            (2, "common other other"),
            (3, "common zeta"),
        ],
        ["doc_id", "text"],
    )
    rows = tfidf_top_terms(docs, k=2).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r)
    # doc 1: 'rare' (tf=1, df=1) beats 'common' (tf=3, df=3):
    # 1*(ln(4/2)+1)=1.693 vs 3*(ln(4/4)+1)=3.0 -> common actually wins on tf
    idf = lambda df_: math.log(4 / (1 + df_)) + 1
    d1 = {r.term: r for r in by_doc[1]}
    assert set(d1) == {"common", "rare"}
    assert d1["common"].rank == 1 and d1["common"].tf == 3
    assert abs(d1["rare"].tfidf - round(1 * idf(1), 6)) < 1e-9
    # every doc emits at most k rows, ranks are 1..k contiguous
    for rs in by_doc.values():
        assert sorted(r.rank for r in rs) == list(range(1, len(rs) + 1))
        assert len(rs) <= 2


def test_decontaminate_identical_doc_fully_contaminated(spark):
    """A train doc equal to an eval doc has contamination 1.0; a disjoint
    doc has 0.0; the eval-gram probe side is broadcast."""
    from airflow_etl_pyspark_inmet_spark.operators.text import decontaminate

    words = lambda pfx, n: " ".join(f"{pfx}{i}" for i in range(n))
    train = spark.createDataFrame(
        [(1, words("a", 12)), (2, words("b", 12))], ["doc_id", "text"]
    )
    ev = spark.createDataFrame([(100, words("a", 12))], ["doc_id", "text"])
    got = {r.doc_id: r for r in decontaminate(train, ev, ngram=8).collect()}
    assert got[1].contamination == 1.0 and got[1].is_contaminated
    assert got[2].contamination == 0.0 and not got[2].is_contaminated
    plan = decontaminate(train, ev)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan


def test_repetition_stats_flags_boilerplate(spark):
    """spam spam spam... scores top_word_frac 1.0; a all-distinct doc
    scores distinct_ratio 1.0 and low top fractions."""
    from airflow_etl_pyspark_inmet_spark.operators.text import repetition_stats

    docs = spark.createDataFrame(
        [(1, "spam spam spam spam"), (2, "all words here differ fully")],
        ["doc_id", "text"],
    )
    got = {r.doc_id: r for r in repetition_stats(docs).collect()}
    assert got[1].top_word_frac == 1.0 and got[1].top_bigram_frac == 1.0
    assert got[1].distinct_ratio == 0.25
    assert got[2].distinct_ratio == 1.0
    assert got[2].top_word_frac == 0.2 and got[2].top_bigram_frac == 0.25


def test_stratified_sample_exact_quota_and_determinism(spark):
    """Per-stratum sample size is exactly ceil(pct% * n); two runs pick
    identical ids (md5 order is deterministic)."""
    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        stratified_sample,
    )

    df = spark.createDataFrame(
        [(i, "big" if i < 95 else "small") for i in range(100)], ["id", "s"]
    )
    s1 = stratified_sample(df, "s", "id", percent=10)
    got = s1.groupBy("s").count().collect()
    assert {r.s: r["count"] for r in got} == {"big": 10, "small": 1}
    ids1 = sorted(r.id for r in s1.collect())
    ids2 = sorted(r.id for r in stratified_sample(df, "s", "id", 10).collect())
    assert ids1 == ids2


def test_hll_sketch_merge_invariance_and_accuracy(spark, sf_small):
    """Union of per-day HLL sketches == one sketch over all rows (exact
    merge invariance — THE property that makes sketch rollups sound),
    and the estimate lands within 5% of the exact distinct count."""
    from airflow_etl_pyspark_inmet_spark.plans.queries_relational import (
        _t,
        q53_sketch_rollup,
    )

    ev = _t(spark, sf_small, "events")
    merged = {
        r.event_type: r.est
        for r in ev.groupBy("event_type", F.to_date("ts").alias("day"))
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()
    }
    direct = {
        r.event_type: r.est
        for r in ev.groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    assert merged == direct
    exact = {
        r.event_type: r.n
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    for et, est in merged.items():
        assert abs(est - exact[et]) / exact[et] < 0.05
    # the registry binding emits the exact companion + envelope boolean
    for r in q53_sketch_rollup(spark, sf_small).collect():
        assert r.approx_ok and r.exact_users == exact[r.event_type]


def test_python_datasource_partitioned_deterministic(spark):
    """Spark 4 Python Data Source API: the synthetic_docs source reads
    through declared partitions (parallel split, no driver bottleneck)
    and is a pure function of its options (replayable under retries)."""
    from airflow_etl_pyspark_inmet_spark.sources.python_datasource import (
        SyntheticDocsDataSource,
    )

    spark.dataSource.register(SyntheticDocsDataSource)
    df = (
        spark.read.format("synthetic_docs")
        .option("n_docs", 100)
        .option("n_partitions", 7)
        .load()
    )
    assert df.rdd.getNumPartitions() == 7
    assert df.count() == 100
    a = sorted(df.collect())
    b = sorted(
        spark.read.format("synthetic_docs")
        .option("n_docs", 100)
        .option("n_partitions", 3)
        .load()
        .collect()
    )
    assert a == b  # same rows regardless of split
    assert all(len(r.text.split()) == 40 for r in a[:5])
    assert {r.lang for r in a} == {"en", "es", "de", "fr"}


def test_byte_histogram_matches_python(spark):
    """m4's Arrow-batched histogram == pure-Python byte counting,
    including multi-byte (non-ASCII) payload bytes."""
    from collections import Counter

    from airflow_etl_pyspark_inmet_spark.operators.multimodal import (
        extract_byte_histogram,
        with_binary_payload,
    )

    docs = spark.createDataFrame(
        [(1, "hello world"), (2, "héllo×"), (3, "")], ["doc_id", "text"]
    )
    got = {
        (r.doc_id, r.bucket): r.n
        for r in extract_byte_histogram(with_binary_payload(docs)).collect()
    }
    expected = {}
    for i, t in [(1, "hello world"), (2, "héllo×"), (3, "")]:
        for b, n in Counter(x % 16 for x in t.encode("utf-8")).items():
            expected[(i, b)] = n
    assert got == expected


def test_vocab_top_terms_take_ordered(spark):
    from airflow_etl_pyspark_inmet_spark.operators.text import vocab_top_terms

    docs = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "b d  d"), (3, "  a ")],
        "doc_id long, text string",
    )
    rows = vocab_top_terms(docs, k=3).orderBy("rank").collect()
    # freqs: a=4, b=3, d=2, c=1; ties broken token ASC
    assert [(r["token"], r["freq"], r["rank"]) for r in rows] == [
        ("a", 4, 1),
        ("b", 3, 2),
        ("d", 2, 3),
    ]
    # plan is a TakeOrderedAndProject over the counts, not a global window
    plan = vocab_top_terms(docs, k=3)._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_global_ntile_matches_window_ntile(spark):
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        global_ntile,
    )

    # 103 rows (not divisible by 4) with duplicate values -> exercises the
    # ceil/floor bucket-fill rule and the unique-tiebreak requirement
    df = spark.range(103).select(
        F.col("id"), (F.col("id") % 7).alias("v")
    )
    order = [F.col("v").desc(), F.col("id").asc()]
    got = {
        r["id"]: r["bucket"]
        for r in global_ntile(df, order, 4).collect()
    }
    w = Window.orderBy(*order)
    want = {
        r["id"]: r["nt"]
        for r in df.select("id", F.ntile(4).over(w).alias("nt")).collect()
    }
    assert got == want


def test_oov_stats_counts(spark):
    from airflow_etl_pyspark_inmet_spark.operators.text import oov_stats

    docs = spark.createDataFrame(
        [(1, "a a b zz"), (2, "zz yy"), (3, "a")],
        "doc_id long, text string",
    )
    vocab = spark.createDataFrame([("a",), ("b",)], "token string")
    rows = {r["doc_id"]: r for r in oov_stats(docs, vocab).collect()}
    assert rows[1]["n_tokens"] == 4 and rows[1]["n_oov"] == 1
    assert rows[2]["n_tokens"] == 2 and rows[2]["n_oov"] == 2
    assert rows[2]["oov_rate"] == 1.0
    assert rows[3]["n_oov"] == 0 and rows[3]["oov_rate"] == 0.0


def test_unigram_logprob_uniform_corpus(spark):
    import math

    from airflow_etl_pyspark_inmet_spark.operators.text import unigram_logprob

    # 4 tokens, each with corpus frequency 1/4 -> every doc scores ln(4)
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "c d")], "doc_id long, text string"
    )
    rows = unigram_logprob(docs).collect()
    for r in rows:
        assert abs(r["mean_neglogp"] - math.log(4)) < 1e-5
        assert r["n_tokens"] == 2


def test_column_profile_stats(spark):
    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        column_profile,
    )

    df = spark.createDataFrame(
        [(1, "x"), (2, None), (2, "y")], "k long, s string"
    )
    rows = {r["column"]: r for r in column_profile(df, ["k", "s"]).collect()}
    assert rows["k"]["n_rows"] == 3 and rows["k"]["n_nulls"] == 0
    assert rows["k"]["n_distinct"] == 2
    assert rows["k"]["min_value"] == "1" and rows["k"]["max_value"] == "2"
    assert rows["s"]["n_nulls"] == 1 and rows["s"]["n_distinct"] == 2
    assert rows["s"]["min_value"] == "x" and rows["s"]["max_value"] == "y"


def test_merge_partial_aggs_equals_full_agg(spark):
    import pyspark.sql.functions as F

    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        merge_partial_aggs,
    )

    df = spark.range(100).select(
        (F.col("id") % 5).alias("k"), F.col("id").alias("v")
    )
    full = {
        r["k"]: (r["s"], r["n"])
        for r in df.groupBy("k")
        .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        .collect()
    }

    def part(lo, hi):
        return (
            df.filter((F.col("id") >= lo) & (F.col("id") < hi))
            .groupBy("k")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
        )

    parts = part(0, 30).unionByName(part(30, 77)).unionByName(part(77, 100))
    merged = {
        r["k"]: (r["s"], r["n"])
        for r in merge_partial_aggs(parts, ["k"], ["s", "n"]).collect()
    }
    assert merged == full


def test_skew_report_shares(spark):
    import pyspark.sql.functions as F

    from airflow_etl_pyspark_inmet_spark.operators.relational import skew_report

    # key 0 appears 7x, key 1 appears 2x, key 2 appears 1x
    df = spark.createDataFrame(
        [(0,)] * 7 + [(1,)] * 2 + [(2,)], "k long"
    )
    rows = skew_report(df, "k", top_k=2).orderBy("rank").collect()
    assert [(r["rank"], r["key"], r["n_rows"]) for r in rows] == [
        (1, "0", 7),
        (2, "1", 2),
    ]
    assert abs(rows[0]["share"] - 0.7) < 1e-12


def test_repeated_spans_merges_overlaps(spark):
    """Two docs share one 6-token passage (plus a second, disjoint
    3-gram repeat in one of them); n=3 grams must merge into maximal
    spans and clean docs must zero-fill."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        repeated_spans,
    )

    shared = "p q r s t u"  # 6 tokens -> 4 overlapping 3-grams
    docs = spark.createDataFrame(
        [
            (1, f"a b c {shared} d e f"),
            (2, f"x y {shared} z w v"),
            (3, "k l m n o k2 l2"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in repeated_spans(docs, n=3, min_docs=2).collect()
    }
    # doc 1: 12 tokens -> 10 grams; shared starts at pos 3: dup grams at
    # pos 3..6 -> one island, span tokens [3, 6+2] = 6 tokens
    assert rows[1]["n_grams"] == 10
    assert rows[1]["n_dup_grams"] == 4
    assert rows[1]["n_spans"] == 1
    assert rows[1]["n_dup_tokens"] == 6
    # doc 2: shared at pos 2 -> grams 2..5, same span size
    assert rows[2]["n_spans"] == 1 and rows[2]["n_dup_tokens"] == 6
    # doc 3: clean -> zero-fill
    assert rows[3]["n_dup_grams"] == 0
    assert rows[3]["n_spans"] == 0 and rows[3]["n_dup_tokens"] == 0


def test_repeated_spans_disjoint_islands(spark):
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        repeated_spans,
    )

    # the 2-gram "a b" repeats across both docs at positions 0 and 6
    # of doc 1 (gap 6 > n=2 -> two islands)
    docs = spark.createDataFrame(
        [
            (1, "a b c d e f a b h"),
            (2, "a b q r s"),
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in repeated_spans(docs, n=2, min_docs=2).collect()
    }
    assert rows[1]["n_spans"] == 2
    assert rows[1]["n_dup_grams"] == 2
    assert rows[1]["n_dup_tokens"] == 4  # two disjoint [p, p+1] ranges


def test_classifier_score_weights_and_threshold(spark):
    from airflow_etl_pyspark_inmet_spark.operators.text import (
        classifier_score,
    )

    docs = spark.createDataFrame(
        [
            (1, "good good bad"),   # 2*5 + 1*(-3) = 7, n=3
            (2, "bad bad neutral"), # -6, n=3
            (3, "unseen words only"),
        ],
        "doc_id long, text string",
    )
    weights = spark.createDataFrame(
        # 'good' appears twice in the table -> weights SUM (3 + 2 = 5)
        [("good", 3), ("good", 2), ("bad", -3)],
        "token string, weight long",
    )
    rows = {r["doc_id"]: r for r in classifier_score(docs, weights).collect()}
    assert rows[1]["score_num"] == 7 and rows[1]["n_tokens"] == 3
    assert rows[1]["logit_e6"] == 7 * 1_000_000 // 3
    assert rows[1]["is_quality"] is True
    assert rows[2]["score_num"] == -6
    # Spark div truncates toward zero: -6e6/3 = -2e6 exactly here
    assert rows[2]["logit_e6"] == -2_000_000
    assert rows[2]["is_quality"] is False
    assert rows[3]["score_num"] == 0 and rows[3]["is_quality"] is True


def test_streaming_tws_guard_or_matches_batch(spark):
    """Spark 4 transformWithStateInPandas twin of st3: where protobuf is
    available it must equal the batch group-by; in this sandbox (no
    protobuf) the guard must fail fast with guidance."""
    import pytest

    from airflow_etl_pyspark_inmet_spark.streaming.windows import (
        streaming_tws_counts,
    )

    events = "/root/testdata/sf0.001/events.parquet"
    try:
        import google.protobuf  # noqa: F401
    except ImportError:
        with pytest.raises(RuntimeError, match="protobuf"):
            streaming_tws_counts(spark, events)
        return
    got = sorted(
        map(tuple, streaming_tws_counts(spark, events).collect())
    )
    exp = sorted(
        map(
            tuple,
            spark.read.parquet(events)
            .groupBy("user_id")
            .agg(
                F.count(F.lit(1)).alias("n_events"),
                F.unix_micros(F.min("ts")).alias("first_us"),
                F.unix_micros(F.max("ts")).alias("last_us"),
            )
            .collect(),
        )
    )
    assert got == exp


def test_time_weighted_avg_exact(spark):
    import datetime as dt

    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        time_weighted_avg,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        # user 1: 10.00 held 10s, then 20.00 held 30s -> twa
        # = (1000*10e6 + 2000*30e6) / 40e6 = 1750 cents
        (1, t0, 1, 10.0),
        (2, t0 + dt.timedelta(seconds=10), 1, 20.0),
        (3, t0 + dt.timedelta(seconds=40), 1, 99.0),  # last obs: no gap
        # user 2: single observation -> excluded
        (4, t0, 2, 5.0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, value double"
    )
    got = {r["user_id"]: r for r in time_weighted_avg(df).collect()}
    assert set(got) == {1}
    assert got[1]["n_obs"] == 3
    assert got[1]["span_us"] == 40_000_000
    assert got[1]["twa_cents"] == 1750


def test_dedup_funnel_composition_toy(spark):
    """Exact dedup -> jaccard pairs among keepers -> components ->
    canonical: doc 2 is an exact copy of doc 1 (absorbed, keeper=1),
    docs 1 and 3 are near-dups (same cluster, canonical=1), doc 4 is
    unrelated (own cluster)."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        connected_components,
        dedup_exact,
        jaccard_pairs,
    )
    from pyspark.sql import functions as F

    near_a = "the quick brown fox jumps over the lazy dog today"
    near_b = "the quick brown fox jumps over the lazy dog tomorrow"
    docs = spark.createDataFrame(
        [
            (1, near_a),
            (2, near_a),          # exact copy of 1
            (3, near_b),          # near-dup of 1
            (4, "completely different text with no overlap at all here"),
        ],
        "doc_id long, text string",
    )
    groups = dedup_exact(docs)
    keepers = docs.join(
        groups.select(
            F.col("keep_id").alias("doc_id"),
            F.col("n_copies").alias("exact_copies"),
        ),
        "doc_id",
    )
    assert {r["doc_id"] for r in keepers.collect()} == {1, 3, 4}
    pairs = jaccard_pairs(keepers, ngram=3, threshold=0.5)
    comps = {
        r["node"]: r["comp"] for r in connected_components(pairs).collect()
    }
    assert comps == {1: 1, 3: 1}  # 4 is a singleton (no pair row)


def test_incremental_lsh_pairs_equals_exact_cross_set(docs):
    """Delta-vs-corpus incremental dedup must equal the exact cross-set
    Jaccard result, both when it builds the corpus band table itself and
    when fed a precomputed (materialized) one."""
    from pyspark.sql import functions as F

    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        incremental_lsh_pairs,
        jaccard_pairs,
        minhash_band_table,
    )

    delta = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(docs, threshold=0.5).collect()
        if (r["id_a"] % 10 == 0) != (r["id_b"] % 10 == 0)
    }
    # jaccard_pairs orders id_a < id_b; normalize to (delta, corpus)
    exact = {
        ((a, b) if a % 10 == 0 else (b, a)): j for (a, b), j in exact.items()
    }
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in incremental_lsh_pairs(delta, corpus, threshold=0.5).collect()
    }
    assert got == exact
    assert len(got) > 0  # testdata plants near-dups across the split

    pre = minhash_band_table(corpus).localCheckpoint()  # "materialized"
    got2 = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in incremental_lsh_pairs(
            delta, corpus, threshold=0.5, corpus_bands=pre
        ).collect()
    }
    assert got2 == exact


def test_bigram_condprob_hand_computed(spark):
    """Corpus 'a b', 'a b', 'a c': P(b|a)=2/3, P(c|a)=1/3 in exact
    micro-units; single-token and empty docs emit no row."""
    from airflow_etl_pyspark_inmet_spark.operators.text import bigram_condprob

    rows = [(1, "a b"), (2, "a b"), (3, "a c"), (4, "solo"), (5, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in bigram_condprob(df).collect()}
    assert set(got) == {1, 2, 3}
    p_ab = 2 * 1_000_000 // 3
    p_ac = 1 * 1_000_000 // 3
    for d in (1, 2):
        assert (got[d]["n_bigrams"], got[d]["p_sum_micro"],
                got[d]["p_avg_micro"]) == (1, p_ab, p_ab)
    assert (got[3]["n_bigrams"], got[3]["p_sum_micro"],
            got[3]["p_avg_micro"]) == (1, p_ac, p_ac)


def test_label_centroids_negative_division(spark):
    """Truncating division semantics on a negative sum (the Spark `div`
    vs DuckDB `//` parity case), plus floor quantization."""
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        label_centroids,
    )

    rows = [(0, 1, [-3.5]), (1, 1, [0.0001])]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<double>")
    got = {(r["label"], r["pos"]): r for r in label_centroids(df).collect()}
    r = got[(1, 0)]
    # floor(-3.5e6) + floor(100) = -3500000 + 100 = -3499900
    assert r["sum_micro"] == -3_499_900
    assert r["n"] == 2
    assert r["centroid_micro"] == -1_749_950  # exact; trunc == floor here
    rows2 = [(0, 2, [-0.0000015]), (1, 2, [0.0]), (2, 2, [0.0])]
    df2 = spark.createDataFrame(rows2, "vec_id long, label int, embedding array<double>")
    r2 = label_centroids(df2).collect()[0]
    # sum = floor(-1.5) = -2; -2 div 3 truncates toward zero -> 0
    assert (r2["sum_micro"], r2["centroid_micro"]) == (-2, 0)


def test_incremental_lsh_pairs_empty_delta(spark, docs):
    """An ingest batch with no rows must produce an empty pair set, not
    an error (the quiet-day case of the incremental pipeline)."""
    from pyspark.sql import functions as F

    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        incremental_lsh_pairs,
    )

    empty = docs.filter(F.lit(False))
    assert incremental_lsh_pairs(empty, docs, threshold=0.5).count() == 0


def test_table_diff_identity(spark, sf_small):
    """Diffing a version against itself: every key unchanged."""
    from airflow_etl_pyspark_inmet_spark.plans.registry import QUERIES

    out = QUERIES["q76_table_diff"](spark, sf_small)
    # planted drift exists by construction; verify the partition is
    # exactly (added ∪ removed ∪ changed ∪ unchanged) with no overlap
    # and the expected deterministic counts
    by = {r["status"]: r["n"] for r in
          out.groupBy("status").count().withColumnRenamed("count", "n").collect()}
    total = sum(by.values())
    assert set(by) <= {"added", "removed", "changed", "unchanged"}
    assert by.get("added", 0) > 0 and by.get("removed", 0) > 0
    assert by.get("changed", 0) > 0 and by.get("unchanged", 0) > 0
    assert total == out.count()


def test_token_lift_min_count_filters_all(spark):
    """A corpus where every bigram is unique: min_count=5 leaves no
    collocations — empty result, not an error."""
    from airflow_etl_pyspark_inmet_spark.operators.text import token_lift

    rows = [(i, f"u{i} v{i} w{i}") for i in range(10)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    assert token_lift(df, min_count=5, k=10).count() == 0


def test_running_balance_floor_matches_loop(spark):
    """The closed form b = s - min(0, running_min(s)) must equal the
    direct recurrence b_i = max(0, b_{i-1} + d_i) on a sequence that
    dips below zero repeatedly."""
    import datetime as dt

    from airflow_etl_pyspark_inmet_spark.plans.registry import QUERIES

    # hand-roll the recurrence over the same construction the query uses
    deltas = [200, -500, 100, -400, 300, -50, -600, 700]
    t0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    rows = [
        (1, i, t0 + dt.timedelta(minutes=i), deltas[i] / 100.0)
        for i in range(len(deltas))
    ]
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts timestamp, value double")
    df.createOrReplaceTempView("_rb_events")

    from pyspark.sql import functions as F
    from pyspark.sql import Window

    e = df.select(
        "user_id", "event_id",
        F.unix_micros("ts").alias("us"),
        (F.col("value").cast("decimal(18,2)") * 100).cast("bigint").alias("delta_cents"),
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    staged = e.withColumn("_s", F.sum("delta_cents").over(run))
    got = [
        r["balance_cents"]
        for r in staged.select(
            "event_id",
            (F.col("_s") - F.least(F.lit(0), F.min("_s").over(run)))
            .cast("bigint")
            .alias("balance_cents"),
        ).orderBy("event_id").collect()
    ]
    b, expect = 0, []
    for d in deltas:
        b = max(0, b + d)
        expect.append(b)
    assert got == expect


def test_bpe_train_hand_computed(spark):
    """Classic BPE toy corpus (hug x5, pug x2, pun x2, bun x1): the merge
    sequence is hand-derivable, including the round-4 tie between
    (p, ug) and (p, un) at count 2 broken by right-symbol order."""
    from airflow_etl_pyspark_inmet_spark.operators.text import bpe_train

    df = spark.createDataFrame(
        [(1, "hug hug hug pug pun bun hug"), (2, "hug pug pun")],
        ["doc_id", "text"],
    )
    got = [tuple(r) for r in bpe_train(df, n_merges=5).collect()]
    assert got == [
        (1, "u", "g", 7),
        (2, "h", "ug", 5),
        (3, "u", "n", 3),
        (4, "p", "ug", 2),
        (5, "p", "un", 2),
    ]


def test_bpe_merge_equal_pair_run_parity(spark):
    """a == b merges pair off even-offset runs exactly like the greedy
    scan: 'aaaa' -> [aa, aa], 'aaa' -> [aa, a] (no chained re-merge)."""
    from pyspark.sql import functions as F

    from airflow_etl_pyspark_inmet_spark.operators.text import (
        _apply_bpe_merge,
    )

    rows = (
        spark.createDataFrame([("aaaa",), ("aaa",), ("baab",)], ["w"])
        .select("w", _apply_bpe_merge(F.split("w", ""), "a", "a").alias("m"))
        .collect()
    )
    got = {r["w"]: r["m"] for r in rows}
    assert got == {
        "aaaa": ["aa", "aa"],
        "aaa": ["aa", "a"],
        "baab": ["b", "aa", "b"],
    }


# --- product quantization (s5 family) ----------------------------------------


def test_pq_codes_are_compact_and_bounded(emb):
    from pyspark.sql import functions as F

    from airflow_etl_pyspark_inmet_spark.operators.similarity import pq_topk

    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = pq_topk(emb, qs, k=5, m=8, ks=16)
    rows = out.collect()
    assert {r.query_id for r in rows} == {0, 1, 2}
    for qid in (0, 1, 2):
        ranks = sorted(r.rank for r in rows if r.query_id == qid)
        assert ranks == [1, 2, 3, 4, 5]


def test_pq_refine_recall_beats_raw_adc(emb):
    """Exact-refined PQ must contain at least as many true top-k as the
    raw ADC ranking (the shortlist is a superset filter)."""
    from pyspark.sql import functions as F

    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        cosine_topk,
        pq_refine_topk,
        pq_topk,
    )

    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r.query_id, r.item_id) for r in cosine_topk(emb, qs, 10).collect()}
    raw = {(r.query_id, r.item_id) for r in pq_topk(emb, qs, 10).collect()}
    refined = {
        (r.query_id, r.item_id)
        for r in pq_refine_topk(emb, qs, 10, shortlist=60).collect()
    }
    assert len(refined & exact) >= len(raw & exact)


def test_pq_identical_vector_is_top_neighbor(spark):
    """A planted duplicate vector must rank first for its twin's query
    after refine (exact re-rank catches it even if quantized away)."""
    from pyspark.sql import functions as F

    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        pq_refine_topk,
    )

    base = [float((5 * 37 + j * 11) % 17 - 8) for j in range(64)]
    rows = [(i, [float((i * 29 + j * 13) % 19 - 9) for j in range(64)])
            for i in range(40)]
    rows[0] = (0, base)
    rows[39] = (39, base)  # exact twin of vec 0
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = pq_refine_topk(df, qs, k=3, shortlist=20)
    top = [r.item_id for r in out.collect() if r.rank == 1]
    assert top == [39]


# --- round-7 additions: st7 / m14 / x5 ---------------------------------------


def test_streaming_ohlc_equals_batch_q80(spark, sf_small):
    """Finite stream run to completion == the batch q80 aggregate."""
    from airflow_etl_pyspark_inmet_spark.plans.queries_relational import (
        q80_ohlc_bars,
    )
    from airflow_etl_pyspark_inmet_spark.streaming.windows import (
        streaming_ohlc_bars,
    )

    got = {
        tuple(r)
        for r in streaming_ohlc_bars(
            spark, f"{sf_small}/events.parquet"
        ).collect()
    }
    want = {tuple(r) for r in q80_ohlc_bars(spark, sf_small).collect()}
    assert got == want and len(want) > 0


def test_av_alignment_first_frame_matches_first_sample(spark, sf_small):
    from airflow_etl_pyspark_inmet_spark.plans.queries_llm import (
        m14_av_alignment,
    )

    rows = m14_av_alignment(spark, sf_small).collect()
    assert rows
    for r in rows:
        if r.v_idx == 0:
            # video t=0 must align to the t=0 audio sample
            assert r.a_idx == 0
        else:
            # later frames align to the last available sample (audio
            # clips are shorter than one frame interval on this corpus)
            assert r.a_idx is not None and r.a_idx >= 0


def test_curriculum_phases_partition_and_positions_contiguous(spark, sf_small):
    from airflow_etl_pyspark_inmet_spark.operators.mixing import (
        curriculum_order,
    )

    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    out = curriculum_order(docs, n_phases=4).collect()
    assert len(out) == docs.count()
    by_phase = {}
    for r in out:
        assert 1 <= r.phase <= 4
        by_phase.setdefault(r.phase, []).append(r.pos)
    # positions within each phase are exactly 1..n_phase
    for phase, poss in by_phase.items():
        assert sorted(poss) == list(range(1, len(poss) + 1))
    # difficulty is monotone across phases at the boundary values
    maxd = {p: max(r.difficulty_milli for r in out if r.phase == p)
            for p in by_phase}
    mind = {p: min(r.difficulty_milli for r in out if r.phase == p)
            for p in by_phase}
    phases = sorted(by_phase)
    for a, b in zip(phases, phases[1:]):
        assert maxd[a] <= mind[b]


def test_leakage_safe_split_no_pair_straddles(spark, sf_small):
    """The defining property: every near-dup pair lands in ONE split."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import jaccard_pairs
    from airflow_etl_pyspark_inmet_spark.plans.queries_llm import (
        t24_leakage_safe_split,
    )

    out = {r.doc_id: r.split for r in t24_leakage_safe_split(spark, sf_small).collect()}
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    pairs = jaccard_pairs(docs, threshold=0.5).collect()
    assert pairs, "testdata plants near-dups"
    for p in pairs:
        assert out[p.id_a] == out[p.id_b]
    # and the split is total
    assert set(out) == {r.doc_id for r in docs.select("doc_id").collect()}


def test_c5_multimodal_pipeline_conservation(spark, sf_small):
    """Dedup conservation: exact_copies over distinct docs == corpus
    size. Token conservation: bin slices reassemble every survivor's
    full (text + media) token count."""
    from airflow_etl_pyspark_inmet_spark.plans.queries_llm import (
        c5_multimodal_pipeline,
    )

    rows = c5_multimodal_pipeline(spark, sf_small).collect()
    n_docs = spark.read.parquet(f"{sf_small}/documents.parquet").count()
    per_doc = {}
    for r in rows:
        per_doc.setdefault(
            r.doc_id, {"copies": r.exact_copies, "total": r.text_tokens + r.media_tokens, "toks": 0}
        )["toks"] += r.n_tokens
    assert sum(d["copies"] for d in per_doc.values()) == n_docs
    for d in per_doc.values():
        assert d["toks"] == d["total"]


def test_pagerank_regular_graph_uniform(spark):
    """On a k-regular graph (a 4-cycle) every node has identical rank."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import pagerank_exact

    pairs = [(0, 1), (1, 2), (2, 3), (3, 0)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    out = {r.node: (r.pr_scaled, r.degree) for r in pagerank_exact(edges).collect()}
    assert len(out) == 4
    assert len({v for v in out.values()}) == 1  # all identical
    assert all(d == 2 for _, d in out.values())


def test_pagerank_matches_manual_recurrence(spark):
    """Path graph 0-1-2: replay the exact integer recurrence by hand."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import pagerank_exact

    pairs = [(0, 1), (1, 2)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    got = {r.node: r.pr_scaled for r in pagerank_exact(edges, n_iters=3).collect()}

    scale = 1_000_000_000_000
    n = 3
    base = scale // n
    tele = 15 * base // 100
    deg = {0: 1, 1: 2, 2: 1}
    pr = {v: base for v in deg}
    adj = {0: [1], 1: [0, 2], 2: [1]}
    for _ in range(3):
        c = {v: pr[v] // deg[v] for v in pr}
        pr = {
            v: tele + 85 * sum(c[u] for u in adj[v]) // 100 for v in pr
        }
    assert got == pr


def test_interp_bigram_hand_computed(spark):
    """Two-doc corpus, hand-replayed interpolation arithmetic."""
    from airflow_etl_pyspark_inmet_spark.operators.text import (
        interp_bigram_score,
    )

    rows = [(1, "a b a b"), (2, "a b")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r.doc_id: (r.n_bigrams, r.p_sum_micro, r.p_avg_micro)
           for r in interp_bigram_score(df, lam_tenths=7).collect()}
    # bigram stream: doc1: (a b),(b a),(a b); doc2: (a b)
    # c2: ab=3, ba=1 ; c1 prefix: a=3, b=1 ; unigrams: a=3,b=3, N=6
    # p_bi(ab)=3*1e6//3=1_000_000 ; p_bi(ba)=1*1e6//1=1_000_000
    # p_uni(b)=3*1e6//6=500_000 ; p_uni(a)=500_000
    # pi = (7*1e6 + 3*5e5)//10 = 850_000 for every occurrence
    assert got == {1: (3, 2_550_000, 850_000), 2: (1, 850_000, 850_000)}


def test_fuzzy_pairs_blocking_equals_bruteforce(spark):
    """Length-banded blocking must find exactly the brute-force pair
    set, including insert/delete pairs that change length."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        fuzzy_name_pairs,
    )

    rows = [
        (1, "anvil"),
        (2, "anvill"),      # dist 1 (insert)
        (3, "anvil iron"),  # far
        (4, "anvi"),        # dist 1 (delete) / dist 2 to 2
        (5, "bnvil"),       # dist 1 (substitute)
        (6, "zzzzz"),       # far from all
    ]
    df = spark.createDataFrame(rows, ["k", "nm"])
    got = {
        (r.key_a, r.key_b, r.dist)
        for r in fuzzy_name_pairs(df, "k", "nm", max_dist=2).collect()
    }
    import itertools

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[-1]

    want = {
        (a, b, lev(na, nb))
        for (a, na), (b, nb) in itertools.combinations(rows, 2)
        if lev(na, nb) <= 2
    }
    assert got == want and (1, 2, 1) in want and (1, 4, 1) in want


def test_weighted_sample_prefers_heavy_rows(spark):
    """With one row 1000x heavier than the rest, it must enter a small
    sample; zero/negative weights are the caller's contract (guarded
    upstream)."""
    from airflow_etl_pyspark_inmet_spark.operators.mixing import (
        weighted_priority_sample,
    )

    rows = [(i, 1000000 if i == 37 else 1) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    got = [r.doc_id for r in weighted_priority_sample(df, 10, "w").collect()]
    assert 37 in got
    assert len(got) == 10 and len(set(got)) == 10


def test_streaming_daily_uniques_equals_batch(spark, sf_small):
    from airflow_etl_pyspark_inmet_spark.streaming.windows import (
        streaming_daily_uniques,
    )

    got = {
        (r.day, r.n_users)
        for r in streaming_daily_uniques(
            spark, f"{sf_small}/events.parquet"
        ).collect()
    }
    ev = spark.read.parquet(f"{sf_small}/events.parquet")
    if dict(ev.dtypes).get("ts") in ("bigint", "long"):
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    want = {
        (r.day, r.n)
        for r in ev.groupBy(F.to_date("ts").alias("day"))
        .agg(F.count_distinct("user_id").alias("n"))
        .collect()
    }
    assert got == want and len(want) > 0


def test_jaccard_search_planted_twin_ranks_first(spark):
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        jaccard_search_topk,
    )

    rows = [
        (0, "the quick brown fox jumps over the lazy dog again"),
        (1, "the quick brown fox jumps over the lazy dog again"),  # twin
        (2, "a completely different sentence with other words entirely"),
        (3, "the quick brown fox jumps over the sleepy dog again"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = jaccard_search_topk(df, query_ids=[0], k=3)
    rows_out = sorted(out.collect(), key=lambda r: r.rank)
    assert rows_out[0].item_id == 1 and rows_out[0].jaccard_ppm == 1_000_000
    assert rows_out[1].item_id == 3
    # doc 2 shares no 3-gram with doc 0 -> absent
    assert all(r.item_id != 2 for r in rows_out)


def test_epoch_reshuffle_distinct_permutations(spark, sf_small):
    from airflow_etl_pyspark_inmet_spark.plans.queries_llm import (
        x8_epoch_reshuffle,
    )

    rows = x8_epoch_reshuffle(spark, sf_small).collect()
    n_docs = len({r.doc_id for r in rows})
    by_epoch = {}
    for r in rows:
        by_epoch.setdefault(r.epoch, {})[r.doc_id] = r.pos
    assert set(by_epoch) == {0, 1, 2}
    for e, m in by_epoch.items():
        assert sorted(m.values()) == list(range(1, n_docs + 1))
    # epochs are genuinely different permutations
    assert by_epoch[0] != by_epoch[1] and by_epoch[1] != by_epoch[2]


def test_semantic_clusters_cover_corpus_and_respect_pairs(spark, sf_small):
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        embedding_cosine_pairs,
    )
    from airflow_etl_pyspark_inmet_spark.plans.queries_llm import (
        d17_semantic_clusters,
    )

    out = {r.vec_id: r.cluster_id for r in
           d17_semantic_clusters(spark, sf_small).collect()}
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    assert len(out) == emb.count()
    pairs = embedding_cosine_pairs(
        emb, block_col="label", threshold=0.35
    ).collect()
    for p in pairs:
        assert out[p.id_a] == out[p.id_b]


# --------------------------------------------------------------------------
# round 8: IVF-routed PQ (s6), segment-blocked fuzzy join (d16),
# streaming incremental refresh (st9), and the ADVICE.md guard fixes.
# --------------------------------------------------------------------------


def test_ivf_pq_topk_recall_vs_exact(emb):
    """The composed IVF routing + PQ quantization recall must clear the
    s6 envelope (0.4) — at sf0.001 the measured floor is ~0.9."""
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        cosine_topk,
        ivf_pq_topk,
    )

    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {
        (r["query_id"], r["item_id"])
        for r in cosine_topk(emb, qs, k=10).collect()
    }
    approx = {
        (r["query_id"], r["item_id"])
        for r in ivf_pq_topk(
            emb, qs, k=10, n_cells=16, n_probe=4, m=8, ks=16, shortlist=100
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.4, f"IVF-PQ recall too low: {recall}"


def test_pq_rejects_indivisible_dim(emb):
    """dim % m != 0 must fail fast with a named ValueError, not a numpy
    reshape error deep inside a pandas UDF (ADVICE.md r7)."""
    import pytest

    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        ivf_pq_topk,
        pq_topk,
    )

    qs = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with pytest.raises(ValueError, match="not divisible"):
        pq_topk(emb, qs, k=5, m=7).collect()
    with pytest.raises(ValueError, match="not divisible"):
        ivf_pq_topk(emb, qs, k=5, m=7).collect()


def test_pq_rejects_tiny_corpus(emb):
    """Corpus smaller than ks must fail fast naming the parameters
    (ADVICE.md r7), not crash in _pq_train's reshape."""
    import pytest

    from airflow_etl_pyspark_inmet_spark.operators.similarity import pq_topk

    tiny = emb.filter(F.col("vec_id") < 8)
    qs = tiny.select(F.col("vec_id").alias("query_id"), "embedding")
    with pytest.raises(ValueError, match="ks=16"):
        pq_topk(tiny, qs, k=3, m=8, ks=16).collect()


def test_fuzzy_segmented_equals_bruteforce(spark):
    """The positional-segment (pigeonhole) blocking must find exactly
    the brute-force pair set — including insert/delete pairs that
    change length AND names shorter than k+1 chars (the empty-segment
    degradation path)."""
    import itertools

    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        fuzzy_name_pairs_segmented,
    )

    rows = [
        (1, "anvil"),
        (2, "anvill"),       # dist 1 (insert)
        (3, "anvil iron"),   # far
        (4, "anvi"),         # dist 1 (delete)
        (5, "bnvil"),        # dist 1 (substitute)
        (6, "zzzzz"),        # far from all
        (7, "prefix anvil"), # edits at the FRONT shift all segments
        (8, "xxprefix anvil"),  # dist 2 to 7 (two front inserts)
        (9, "ab"),           # shorter than k+1: empty segments
        (10, "ba"),          # dist 2 to 9
        (11, ""),            # empty string edge
    ]
    df = spark.createDataFrame(rows, ["k", "nm"])
    got = {
        (r.key_a, r.key_b, r.dist)
        for r in fuzzy_name_pairs_segmented(df, "k", "nm", max_dist=2).collect()
    }

    def lev(a, b):
        dp = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, dp[0] = dp[0], i
            for j, cb in enumerate(b, 1):
                prev, dp[j] = dp[j], min(
                    dp[j] + 1, dp[j - 1] + 1, prev + (ca != cb)
                )
        return dp[-1]

    want = {
        (a, b, lev(na, nb))
        for (a, na), (b, nb) in itertools.combinations(rows, 2)
        if lev(na, nb) <= 2
    }
    assert got == want and (7, 8, 2) in want and (9, 10, 2) in want


def test_pagerank_rejects_directed_edges(spark):
    """A pure-sink node (dst never appearing as src) means the caller
    fed a directed edge list — must fail loudly (ADVICE.md r7), not
    silently drop the node and undersize N."""
    import pytest

    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        pagerank_exact,
    )

    directed = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (1, 99)], "src bigint, dst bigint"
    )
    with pytest.raises(ValueError, match="undirected"):
        pagerank_exact(directed, n_iters=1)
    # the symmetric closure of the same edges is accepted
    sym = directed.unionByName(
        directed.select(
            F.col("dst").alias("src"), F.col("src").alias("dst")
        )
    )
    assert pagerank_exact(sym, n_iters=1).count() == 4


def test_weighted_sample_clamps_invalid_weights(spark):
    """Zero/negative weights used to make integer div return NULL and
    ASC NULLS FIRST silently PREFER the invalid rows (ADVICE.md r7).
    The operator now clamps to w>=1: invalid-weight rows behave as
    weight 1 and a 1000x-heavier valid row still dominates."""
    from airflow_etl_pyspark_inmet_spark.operators.mixing import (
        weighted_priority_sample,
    )

    rows = [(i, 0 if i % 2 else -5) for i in range(1, 40)] + [(1000, 100000)]
    df = spark.createDataFrame(rows, "doc_id bigint, w bigint")
    got = weighted_priority_sample(df, k=5, weight_col="w")
    picked = {r.doc_id for r in got.collect()}
    assert 1000 in picked
    assert got.filter(F.col("priority").isNull()).count() == 0


def test_bloom_semi_join_same_key_name(spark):
    """fact_key == key_col (same column name on both sides) must not
    raise an ambiguous-reference AnalysisException (ADVICE.md r7)."""
    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        bloom_prune_semi_join,
    )

    fact = spark.createDataFrame(
        [(i, i * 10) for i in range(100)], "k bigint, v bigint"
    )
    keys = spark.createDataFrame([(3,), (7,), (250,)], "k bigint")
    got = bloom_prune_semi_join(fact, keys, fact_key="k", key_col="k")
    assert {r.k for r in got.collect()} == {3, 7}


def test_skew_split_join_same_key_name(spark):
    """fact_key == dim_key must coalesce the key into one column and
    equal the plain inner join (ADVICE.md r7: unionByName used to see
    duplicate columns)."""
    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        skew_split_join,
    )

    fact = spark.createDataFrame(
        [(1, i) for i in range(50)] + [(2, 0), (3, 1)],
        "k bigint, payload bigint",
    )
    dim = spark.createDataFrame(
        [(1, "hot"), (2, "cold"), (4, "unmatched")], "k bigint, name string"
    )
    got = skew_split_join(fact, dim, "k", "k", hot_threshold=10)
    plain = fact.join(dim, "k")
    assert sorted(got.columns) == sorted(plain.columns)
    assert (
        {tuple(r) for r in got.select("k", "payload", "name").collect()}
        == {tuple(r) for r in plain.select("k", "payload", "name").collect()}
    )


def test_streaming_incremental_refresh_multi_epoch(spark, tmp_path):
    """The foreachBatch fold must cross >=2 micro-batches and produce
    the same MV as a batch recompute over base+deltas, regardless of
    how the changelog splits into epochs."""
    from airflow_etl_pyspark_inmet_spark.streaming.windows import (
        streaming_incremental_refresh,
    )

    base = spark.createDataFrame(
        [(g, 10 * g + i) for g in (1, 2, 3) for i in range(5)],
        "grp bigint, val bigint",
    )
    initial = base.groupBy("grp").agg(
        F.sum("val").alias("val"), F.count(F.lit(1)).alias("n")
    )
    # deltas: retract two rows of grp1, add three rows to grp4
    deltas = spark.createDataFrame(
        [(1, -10, -1), (1, -11, -1), (4, 7, 1), (4, 8, 1), (4, 9, 1)],
        "grp bigint, val bigint, n bigint",
    )
    mv = streaming_incremental_refresh(
        spark, initial, deltas, keys=["grp"], vals=["val", "n"], n_files=3
    )
    full = (
        base.withColumn("n", F.lit(1))
        .filter(~((F.col("grp") == 1) & F.col("val").isin(10, 11)))
        .unionByName(
            spark.createDataFrame(
                [(4, 7, 1), (4, 8, 1), (4, 9, 1)],
                "grp bigint, val bigint, n bigint",
            )
        )
        .groupBy("grp")
        .agg(F.sum("val").alias("val"), F.sum("n").alias("n"))
    )
    assert (
        {tuple(r) for r in mv.collect()}
        == {tuple(r) for r in full.collect()}
    )


def test_pagerank_rejects_asymmetric_no_sink_graph(spark):
    """A directed edge list where EVERY node also appears as a source
    (no pure sinks) used to pass the undirected check while PageRank
    mass was not conserved (ADVICE.md r8). The full-symmetry validator
    (anti-join edges vs their reversed selves) must reject it."""
    import pytest

    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        pagerank_exact,
    )

    asym = spark.createDataFrame(
        [(1, 2), (2, 1), (1, 3), (3, 2)], "src bigint, dst bigint"
    )
    with pytest.raises(ValueError, match="mirror"):
        pagerank_exact(asym, n_iters=1)


def test_weighted_sample_emits_original_weight_and_strict_raises(spark):
    """The emitted weight column must be the caller's ORIGINAL value
    (the clamp lives only inside the priority expression), and
    strict=True must raise on any w < 1 instead of clamping
    (ADVICE.md r8)."""
    import pytest

    from airflow_etl_pyspark_inmet_spark.operators.mixing import (
        weighted_priority_sample,
    )

    rows = [(1, -5), (2, 0), (3, 7), (4, 2)]
    df = spark.createDataFrame(rows, "doc_id bigint, w bigint")
    got = {r.doc_id: r.weight for r in
           weighted_priority_sample(df, k=4, weight_col="w").collect()}
    assert got == {1: -5, 2: 0, 3: 7, 4: 2}
    with pytest.raises(ValueError, match="weight < 1"):
        weighted_priority_sample(df, k=4, weight_col="w", strict=True)
    ok = df.filter(F.col("w") >= 1)
    assert weighted_priority_sample(
        ok, k=2, weight_col="w", strict=True
    ).count() == 2


def test_bloom_semi_join_reserved_alias_collision(spark):
    """A fact table that itself has a `_bloom_exact_key` column must not
    make the exact-verify join ambiguous: the join operands are
    DataFrame-qualified (ADVICE.md r8)."""
    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        bloom_prune_semi_join,
    )

    fact = spark.createDataFrame(
        [(i, i * 10) for i in range(100)], "k bigint, _bloom_exact_key bigint"
    )
    keys = spark.createDataFrame([(3,), (7,), (250,)], "k bigint")
    got = bloom_prune_semi_join(fact, keys, fact_key="k", key_col="k")
    assert {r.k for r in got.collect()} == {3, 7}


def test_containment_pairs_catches_quote_jaccard_misses(spark):
    """A short doc quoted whole inside a much longer one: Jaccard stays
    far below threshold (union dominated by the long doc) while
    containment(short in long) = 1e6 exactly — the asymmetric dedup
    mode d18 adds (ADVICE-free r9 addition)."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    quote = "the quick brown fox jumps over the lazy dog today"
    filler = " ".join(f"w{i} x{i} y{i}" for i in range(60))
    rows = [
        (1, quote),
        (2, filler + " " + quote + " " + filler),
        (3, "completely unrelated text with different words entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.id_a, r.id_b): (r.cont_a_ppm, r.cont_b_ppm)
        for r in containment_pairs(df, threshold_ppm=900_000).collect()
    }
    assert (1, 2) in got
    assert got[(1, 2)][0] == 1_000_000  # every shingle of 1 is inside 2
    assert got[(1, 2)][1] < 100_000     # but 2 is NOT inside 1
    # Jaccard at the same corpus misses the pair even at a LOW threshold
    j = {(r.id_a, r.id_b) for r in jaccard_pairs(df, threshold=0.5).collect()}
    assert (1, 2) not in j


def test_hierarchy_root_depth_matches_sequential_walk(spark):
    """Pointer doubling == sequential recursion on a 3-tree forest with
    depth up to 9 (> 2^3, exercising multiple doubling rounds)."""
    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        hierarchy_root_depth,
    )

    # chains: parent(n) = n - 3 for n >= 3; roots 0, 1, 2
    n_nodes = 30
    rows = [(n, n - 3 if n >= 3 else n) for n in range(n_nodes)]
    edges = spark.createDataFrame(rows, "node bigint, parent bigint")
    got = {
        r.node: (r.root, r.depth)
        for r in hierarchy_root_depth(edges, max_rounds=4).collect()
    }
    for n in range(n_nodes):
        depth, cur = 0, n
        while cur >= 3:
            cur -= 3
            depth += 1
        assert got[n] == (cur, depth), n


def test_label_propagation_bounded_rounds(spark):
    """On a path graph 0-1-2-3-4-5, k rounds give each node the min id
    within distance k — NOT the full closure (that's CC's job)."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        label_propagation_min,
    )

    pairs = [(i, i + 1) for i in range(5)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src bigint, dst bigint"
    )
    got2 = {
        r.node: r.label
        for r in label_propagation_min(edges, n_rounds=2).collect()
    }
    assert got2 == {0: 0, 1: 0, 2: 0, 3: 1, 4: 2, 5: 3}
    got5 = {
        r.node: r.label
        for r in label_propagation_min(edges, n_rounds=5).collect()
    }
    assert got5 == {n: 0 for n in range(6)}


def test_token_budget_allocation_sums_exactly(spark):
    """Largest-remainder apportionment: quotas sum to the budget
    EXACTLY, monotone in domain size, and every domain gets >= its
    floor share."""
    from airflow_etl_pyspark_inmet_spark.operators.mixing import (
        token_budget_allocation,
    )

    rows = []
    for d, n in (("a", 3), ("b", 30), ("c", 300)):
        for i in range(n):
            rows.append((d, "tok " * 10))
    df = spark.createDataFrame(rows, "source string, text string")
    out = token_budget_allocation(df, budget_tokens=9999).collect()
    quotas = {r.source: r.quota_tokens for r in out}
    assert sum(quotas.values()) == 9999
    assert quotas["a"] < quotas["b"] < quotas["c"]
    # sqrt damping: the 100x domain gets ~10x the tokens, not ~100x
    assert quotas["c"] < 15 * quotas["a"]


def test_jaccard_pairs_broadcast_hint_is_result_neutral(spark):
    """broadcast_sizes only changes the JOIN STRATEGY (explicit hint vs
    AQE runtime choice) — rows must be identical. The default is the
    scale-safe unhinted form (the sizes frame is corpus-sized at 25 B
    docs); bench-scale callers opt in."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        jaccard_pairs,
    )

    rows = [
        (1, "a b c d e f g"),
        (2, "a b c d e f h"),
        (3, "x y z w q r s"),
        (4, "x y z w q r t"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    hinted = {tuple(r) for r in
              jaccard_pairs(df, threshold=0.3, broadcast_sizes=True).collect()}
    unhinted = {tuple(r) for r in
                jaccard_pairs(df, threshold=0.3).collect()}
    assert hinted == unhinted and len(hinted) >= 2


def test_hierarchy_raises_on_cycle_and_insufficient_rounds(spark):
    """Unresolved ancestors must fail loudly, not silently return a
    partial ancestor: a parent cycle never reaches a root, and a chain
    deeper than 2^max_rounds needs more rounds."""
    import pytest

    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        hierarchy_root_depth,
    )

    cyc = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (0, 0)], "node bigint, parent bigint"
    )
    with pytest.raises(ValueError, match="cycle|root"):
        hierarchy_root_depth(cyc, max_rounds=3)
    # depth-8 chain: 2 rounds (reach 4) insufficient, 3 rounds fine
    chain = spark.createDataFrame(
        [(i, max(i - 1, 0)) for i in range(9)], "node bigint, parent bigint"
    )
    with pytest.raises(ValueError, match="doubling rounds"):
        hierarchy_root_depth(chain, max_rounds=2)
    got = {r.node: r.depth for r in
           hierarchy_root_depth(chain, max_rounds=3).collect()}
    assert got[8] == 8 and got[0] == 0


def test_weighted_sample_strict_rejects_null_and_noncastable(spark):
    """strict=True must also trip on NULL weights and non-numeric
    strings (cast -> NULL): `cast(w) < 1` is NULL for them, so a bare
    < probe would let exactly those bad rows through and they'd behave
    as weight 1 while displaying NULL (ADVICE.md r9)."""
    import pytest

    from airflow_etl_pyspark_inmet_spark.operators.mixing import (
        weighted_priority_sample,
    )

    nulls = spark.createDataFrame(
        [(1, 5), (2, None), (3, 7)], "doc_id bigint, w bigint"
    )
    with pytest.raises(ValueError, match="NULL"):
        weighted_priority_sample(nulls, k=3, weight_col="w", strict=True)
    strs = spark.createDataFrame(
        [(1, "5"), (2, "heavy"), (3, "7")], "doc_id bigint, w string"
    )
    with pytest.raises(ValueError, match="NULL"):
        weighted_priority_sample(strs, k=3, weight_col="w", strict=True)
    ok = spark.createDataFrame(
        [(1, "5"), (3, "7")], "doc_id bigint, w string"
    )
    assert weighted_priority_sample(
        ok, k=2, weight_col="w", strict=True
    ).count() == 2


def test_token_budget_allocation_no_bigint_overflow(spark):
    """10 B-token budget over ~100 B-token domains: B * w products
    exceed 2^63 and must run in decimal(38,0), not silently wrap
    (ADVICE.md r9). Quotas must equal exact-integer Hamilton
    apportionment computed in unbounded Python ints."""
    import math

    from airflow_etl_pyspark_inmet_spark.operators.mixing import (
        token_budget_allocation,
    )

    budget = 10_000_000_000
    sizes = {"web": 97_000_000_123, "code": 41_000_000_457, "books": 7_012_345_678}
    df = spark.createDataFrame(
        [(d, n) for d, n in sizes.items()], "source string, n_tok bigint"
    )
    out = {
        r.source: (r.quota_tokens, r.weight_e6, r.fill_ppm)
        for r in token_budget_allocation(
            df, budget_tokens=budget, token_count_col="n_tok"
        ).collect()
    }
    # exact-integer reference (unbounded ints)
    w = {d: math.floor(math.isqrt(n) * 10**6) for d, n in sizes.items()}
    # isqrt is exact; F.sqrt is a double — align the reference to the
    # engine's documented sqrt*1e6 floor using float sqrt
    w = {d: math.floor(math.sqrt(n) * 1e6) for d, n in sizes.items()}
    W = sum(w.values())
    base = {d: (budget * wd) // W for d, wd in w.items()}
    rem = {d: (budget * wd) % W for d, wd in w.items()}
    slack = budget - sum(base.values())
    for d in sorted(rem, key=lambda d: (-rem[d], d))[:slack]:
        base[d] += 1
    assert {d: q for d, (q, _, _) in out.items()} == base
    assert sum(q for q, _, _ in out.values()) == budget
    for d in sizes:
        assert out[d][1] == (w[d] * 10**6) // W
        assert out[d][2] == (base[d] * 10**6) // sizes[d]


def test_hierarchy_raises_on_dangling_parent(spark):
    """A parent id with no node row must raise, not silently drop the
    child from the result (the inner self-join would lose it on round
    1 and the stuck probe only scans surviving rows — ADVICE.md r9)."""
    import pytest

    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        hierarchy_root_depth,
    )

    dangling = spark.createDataFrame(
        [(0, 0), (1, 0), (5, 99)], "node bigint, parent bigint"
    )
    with pytest.raises(ValueError, match="dangling"):
        hierarchy_root_depth(dangling, max_rounds=3)


def test_embedding_lsh_pairs_exact_precision_and_recall(emb):
    """embedding_lsh_pairs (the d6 scale fix): every emitted pair must
    be a TRUE pair (exact cosine verify -> precision 1.0, values
    matching numpy brute force bit-for-bit at the double level), the
    candidate join must be an equi-join (no cartesian), and recall
    against the full all-pairs truth must clear the envelope on the
    sf0.001 corpus (measured 1.0 there)."""
    import numpy as np

    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        embedding_lsh_pairs,
    )

    got = embedding_lsh_pairs(emb, threshold=0.35, dim=64)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    rows = {(r.id_a, r.id_b): r.cos_sim for r in got.collect()}

    pdf = emb.select("vec_id", "embedding").toPandas()
    M = np.stack(pdf.embedding.values).astype(np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    C = Mn @ Mn.T
    ids = pdf.vec_id.values
    truth = {}
    iu, ju = np.triu_indices(len(ids), 1)
    for i, j in zip(iu, ju):
        if C[i, j] >= 0.35:
            a, b = sorted((int(ids[i]), int(ids[j])))
            truth[(a, b)] = C[i, j]
    # precision exact: every emitted pair is true, cosine matches
    for k, v in rows.items():
        assert k in truth and abs(v - truth[k]) < 1e-9
    # recall envelope vs FULL truth (not just same-label)
    assert len(rows) >= 0.9 * len(truth)


def test_embedding_lsh_pairs_auto_planes_scale_with_corpus(spark):
    """The n_planes=None sizing must grow with the corpus so expected
    bucket occupancy stays bounded: ceil(log2(N / occupancy)) — the
    property that makes total pair work linear in N (d6's fixed label
    key is the quadratic counterexample, BENCH_sf1_r9.json)."""
    import math

    for n, occ, want in ((100, 32, 2), (2048, 32, 6), (10**6, 32, 15)):
        got = max(
            3,
            min(24, math.ceil(math.log2(max(n, 2) / occ)))
            if n > occ
            else 3,
        )
        assert got == max(3, want), (n, got)


def test_jaccard_pairs_cap_inert_equals_uncapped(spark):
    """r17 adaptive shortcut: when no shingle's df exceeds the cap, the
    capped call must emit EXACTLY the uncapped result (the cap cannot
    bind, and the runtime branch falls through to the single-pass
    plan — this is the sf0.1/mutated-factor-100 regime)."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        jaccard_pairs,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta gamma delta epsilon eta"),
        (3, "one two three four five six"),
        (4, "one two three four seven eight"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    uncapped = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in jaccard_pairs(df, threshold=0.2).collect()
    )
    capped = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in jaccard_pairs(
            df, threshold=0.2, max_shingle_df=64
        ).collect()
    )
    assert uncapped == capped and len(uncapped) >= 2


def test_jaccard_pairs_hot_shingle_guard(spark):
    """max_shingle_df (the hot-shingle guard): a planted stop-shingle
    shared by every doc must not drive the candidate join quadratic —
    pairs sharing ONLY hotter-than-cap shingles are dropped, while
    pairs sharing any discriminative shingle survive with their EXACT
    (full-set) jaccard, bit-identical to the uncapped run."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        jaccard_pairs,
    )

    boiler = "terms of service apply"  # shared by ALL docs -> hot shingles
    rows = [
        # 10 boilerplate-only docs: every pair has jaccard 1.0 but ONLY
        # via hot shingles -> dropped under the cap (the documented trade)
        *[(i, boiler) for i in range(10)],
        # one true near-dup pair with discriminative overlap
        (100, boiler + " alpha beta gamma delta epsilon zeta"),
        (101, boiler + " alpha beta gamma delta epsilon eta"),
        # an unrelated doc
        (200, boiler + " one two three four five six"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    uncapped = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(df, threshold=0.3).collect()
    }
    capped = {
        (r.id_a, r.id_b): r.jaccard
        for r in jaccard_pairs(df, threshold=0.3, max_shingle_df=5).collect()
    }
    # boilerplate-only pairs are in the uncapped result but capped drops
    # them: the pair count is bounded by discriminative co-occurrence
    assert (0, 1) in uncapped and (0, 1) not in capped
    assert len(capped) < len(uncapped)
    # the discriminative pair survives with bit-identical EXACT jaccard
    # (computed on FULL shingle sets, hot shingles included)
    assert (100, 101) in capped
    assert capped[(100, 101)] == uncapped[(100, 101)]
    # nothing else leaks in
    assert set(capped) == {(100, 101)}


def test_embedding_lsh_pairs_incremental_matches_self_join(emb):
    """index_df (incremental delta-vs-corpus mode): every emitted pair
    is a true delta x corpus pair with exact cosine, the delta never
    pairs against itself, and recall vs the brute-force delta x corpus
    truth clears the envelope on sf0.001."""
    import numpy as np

    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        embedding_lsh_pairs,
    )

    delta = emb.filter(F.col("vec_id") < 30)
    corpus = emb.filter(F.col("vec_id") >= 30)
    got = {
        (r.id_a, r.id_b): r.cos_sim
        for r in embedding_lsh_pairs(
            delta, threshold=0.35, dim=64, index_df=corpus
        ).collect()
    }
    pdf = emb.select("vec_id", "embedding").toPandas()
    M = np.stack(pdf.embedding.values).astype(np.float64)
    Mn = M / np.linalg.norm(M, axis=1, keepdims=True)
    C = Mn @ Mn.T
    ids = pdf.vec_id.values
    truth = {}
    for i in range(len(ids)):
        for j in range(len(ids)):
            if ids[i] < 30 <= ids[j] and C[i, j] >= 0.35:
                truth[(int(ids[i]), int(ids[j]))] = C[i, j]
    for (ka, kb), v in got.items():
        assert ka < 30 <= kb  # delta x corpus only
        assert (ka, kb) in truth and abs(v - truth[(ka, kb)]) < 1e-9
    assert len(got) >= 0.9 * len(truth)


def test_containment_pairs_hot_shingle_guard(spark):
    """containment_pairs(max_shingle_df=...): same guard contract as
    jaccard_pairs — boilerplate-only pairs dropped, discriminative
    pairs keep bit-identical exact ppm scores."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        containment_pairs,
    )

    boiler = "terms of service apply"
    rows = [
        *[(i, boiler) for i in range(10)],
        # short doc quoted whole inside a long one (the containment case)
        (100, "alpha beta gamma delta " + boiler),
        (101, "alpha beta gamma delta " + boiler
         + " plus much longer tail content here now ok"),
        (200, boiler + " one two three four five six"),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    un = {
        (r.id_a, r.id_b): (r.inter, r.cont_a_ppm, r.cont_b_ppm)
        for r in containment_pairs(df, threshold_ppm=600_000).collect()
    }
    cap = {
        (r.id_a, r.id_b): (r.inter, r.cont_a_ppm, r.cont_b_ppm)
        for r in containment_pairs(
            df, threshold_ppm=600_000, max_shingle_df=5
        ).collect()
    }
    assert (0, 1) in un and (0, 1) not in cap
    assert (100, 101) in cap and cap[(100, 101)] == un[(100, 101)]
    assert set(cap) == {(100, 101)}


def test_triangle_counts_known_graph(spark):
    """K4 on {1,2,3,4} (every node in C(3,2)=3 triangles) plus a
    pendant edge 4-5 (5 in none) plus a disjoint 8-leaf star rooted
    at 10 (stars are triangle-free — the skew case the orientation
    bounds)."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        triangle_counts,
    )

    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    star = [(10, 20 + i) for i in range(8)]
    pairs = spark.createDataFrame(
        k4 + [(4, 5)] + star, "p1 bigint, p2 bigint"
    )
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(pairs).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_matches_bruteforce(spark):
    """Degree-ordered orientation finds exactly the brute-force
    triangle set on a random-ish deterministic graph."""
    from itertools import combinations

    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        triangle_counts,
    )

    edges = [
        (a, b)
        for a in range(12)
        for b in range(a + 1, 12)
        if (a * 31 + b * 17) % 3 == 0
    ]
    eset = set(edges)
    brute = {}
    nodes = sorted({n for e in edges for n in e})
    for a, b, c in combinations(nodes, 3):
        if ((a, b) in eset and (b, c) in eset and (a, c) in eset):
            for n in (a, b, c):
                brute[n] = brute.get(n, 0) + 1
    pairs = spark.createDataFrame(edges, "p1 bigint, p2 bigint")
    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(pairs).collect()
    }
    assert got == brute and brute  # non-degenerate


def test_ngram_novelty_planted(spark, tmp_path):
    """A doc sharing every 3-gram with its twin scores 0 ppm; a doc
    with fully unique grams scores exactly 1e6 ppm."""
    import os

    from airflow_etl_pyspark_inmet_spark.plans.queries_llm import (
        t27_ngram_novelty,
    )

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta"),
            (2, "alpha beta gamma delta"),
            (3, "unique tokens only here never repeated"),
        ],
        "doc_id bigint, text string",
    )
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    docs.write.mode("overwrite").parquet(f"{d}/documents.parquet")
    got = {
        r["doc_id"]: (r["n_grams"], r["novelty_ppm"])
        for r in t27_ngram_novelty(spark, d).collect()
    }
    assert got[1] == (2, 0) and got[2] == (2, 0)
    assert got[3] == (4, 1_000_000)


def test_weighted_median_hand_case(spark, tmp_path):
    """Order-statistic weighted median on a hand-computable frame:
    values 100,200,300 cents with weights 1,1,3 -> cumulative 1,2,5
    against total 5: first value with 2*cum>=5 is 300."""
    import os

    from airflow_etl_pyspark_inmet_spark.plans.queries_relational import (
        q109_weighted_median,
    )

    rows = [
        ("A", 1.00, 1.0),
        ("A", 2.00, 1.0),
        ("A", 3.00, 3.0),
        ("B", 5.00, 2.0),
        ("B", 7.00, 1.0),
    ]
    li = spark.createDataFrame(
        rows, "l_returnflag string, l_extendedprice double, l_quantity double"
    )
    d = str(tmp_path / "sf")
    os.makedirs(d, exist_ok=True)
    li.write.mode("overwrite").parquet(f"{d}/lineitem.parquet")
    got = {
        r["l_returnflag"]: (r["wmedian_cents"], r["w_total"])
        for r in q109_weighted_median(spark, d).collect()
    }
    assert got == {"A": (300, 5), "B": (500, 3)}


def test_misra_gries_survives_planted_heavy_hitter(spark):
    """k=8 counters with 100 distinct rare tokens forces constant
    eviction; the planted hot token must survive the sketch and come
    back exactly counted with a TRUE certificate."""
    from airflow_etl_pyspark_inmet_spark.operators.text import (
        misra_gries_topk,
    )

    rows = [("hot",)] * 50 + [(f"rare{i}",) for i in range(100)]
    docs = spark.createDataFrame(rows, "text string").coalesce(1)
    # ONLY the certified tier is emitted — the set is provably exact,
    # rare tokens are excluded even though top=5 has room (below N/k
    # there is no survival guarantee, so emitting them is data-dependent)
    out = misra_gries_topk(docs, k_counters=8, top=5).collect()
    assert [(r["token"], r["freq"], r["mg_ok"]) for r in out] == [
        ("hot", 50, True)  # 50*8 > 150
    ]


def test_dsir_importance_hand_case(spark):
    """2-doc corpus: target doc 'a a', source doc 'a b'. ct(a)=2,
    cs(a)=1, ct(b)=0, cs(b)=1, T=2, S=2, V=2 ->
    r(a) = 3*4*1e6 // (2*4) = 1_500_000;
    r(b) = 1*4*1e6 // (2*4) = 500_000."""
    from airflow_etl_pyspark_inmet_spark.operators.mixing import (
        dsir_importance,
    )
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(1, True, "a a"), (2, False, "a b")],
        "doc_id bigint, tgt boolean, text string",
    )
    got = {
        r["doc_id"]: (r["n_tokens"], r["dsir_score_ppm"])
        for r in dsir_importance(docs, is_target=F.col("tgt")).collect()
    }
    assert got[1] == (2, 3_000_000)
    assert got[2] == (2, 2_000_000)


def test_corpus_overlap_identical_and_disjoint(spark):
    """Identical halves -> jaccard 1e6 with the MinHash estimate in
    perfect agreement; disjoint halves -> 0."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        corpus_shingle_overlap,
    )
    from pyspark.sql import functions as F

    same = spark.createDataFrame(
        [(0, "x y z w v"), (1, "x y z w v")],
        "doc_id bigint, text string",
    )
    r = corpus_shingle_overlap(
        same, corpus_col=F.col("doc_id") % 2 == 0
    ).collect()[0]
    assert (
        r["n_shingles_a"] == 3
        and r["n_shingles_b"] == 3
        and r["n_intersection"] == 3
        and r["jaccard_ppm"] == 1_000_000
        and r["est_ok"]
    )
    disj = spark.createDataFrame(
        [(0, "x y z w v"), (1, "p q r s t")],
        "doc_id bigint, text string",
    )
    r = corpus_shingle_overlap(
        disj, corpus_col=F.col("doc_id") % 2 == 0
    ).collect()[0]
    assert r["n_intersection"] == 0 and r["jaccard_ppm"] == 0
    assert r["est_ok"]  # estimate 0 matches exact 0


def test_png_patchify_matches_numpy(spark):
    """Patch sums equal numpy block sums of the known payload pixels,
    and the four patches partition the m6 total pixel sum."""
    import numpy as np

    from airflow_etl_pyspark_inmet_spark.operators.multimodal import (
        png_patchify,
        text_to_png_payload,
    )

    text = "".join(chr(33 + (i * 7) % 90) for i in range(60))  # len 60 < 64
    docs = spark.createDataFrame(
        [(7, text)], "doc_id bigint, text string"
    )
    out = png_patchify(
        text_to_png_payload(docs), patch=4
    ).collect()
    vals = [ord(c) & 0xFF for c in text[:64]] + [0] * (64 - min(64, len(text)))
    arr = np.array(vals, dtype=np.int64).reshape(8, 8)
    got = {(r["patch_row"], r["patch_col"]): r["patch_sum"] for r in out}
    for pr in (0, 1):
        for pc in (0, 1):
            blk = arr[pr * 4 : pr * 4 + 4, pc * 4 : pc * 4 + 4]
            assert got[(pr, pc)] == int(blk.sum())
    assert sum(got.values()) == int(arr.sum())


def test_embedding_gram_matches_numpy_and_partition_invariant(spark):
    """The distributed matrix-partial sum equals the single-machine
    integer Gram matrix, at any partitioning."""
    import numpy as np

    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        embedding_second_moment,
    )

    rng = [
        [((i * 13 + j * 7) % 41 - 20) / 23.0 for j in range(5)]
        for i in range(37)
    ]
    q = np.floor(np.array(rng, dtype=np.float64) * 1_000_000).astype(
        np.int64
    )
    want = q.T @ q
    df = spark.createDataFrame(
        [(r,) for r in rng], "embedding array<double>"
    )
    for parts in (1, 7):
        got = {
            (r["dim_i"], r["dim_j"]): (r["smoment_q"], r["n_vectors"])
            for r in embedding_second_moment(
                df.repartition(parts)
            ).collect()
        }
        assert len(got) == 15
        for i in range(5):
            for j in range(i, 5):
                assert got[(i, j)] == (int(want[i, j]), 37)


def test_bpe_encode_census_hand_corpus(spark):
    """Toy corpus 'abab abab ab': merge 1 is (a,b)->'ab'; with two
    merges the word 'abab' encodes to ['ab','ab'] (2 tokens, 4 chars)
    then merge 2 (ab,ab)->'abab' gives 1 token; 'ab' stays 1 token,
    2 chars."""
    from airflow_etl_pyspark_inmet_spark.operators.text import (
        bpe_encode_census,
    )

    docs = spark.createDataFrame(
        [(1, "abab abab ab"), (2, "ab ab")],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (
            r["n_chars"],
            r["n_bpe_tokens"],
            r["compression_ppm"],
        )
        for r in bpe_encode_census(docs, n_merges=2).collect()
    }
    # doc 1: abab(4 chars -> 1 token) x2 + ab(2 chars -> 1 token)
    assert got[1] == (10, 3, 300_000)
    # doc 2: ab + ab -> 1 token each
    assert got[2] == (4, 2, 500_000)


def test_stream_gram_equals_batch(spark):
    """The foreachBatch fold of gram partials equals the one-shot
    batch aggregate regardless of the micro-batch split."""
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        embedding_second_moment,
        gram_partials,
    )
    from airflow_etl_pyspark_inmet_spark.streaming.windows import (
        streaming_incremental_refresh,
    )
    from pyspark.sql import functions as F

    rows = [
        ([((i * 13 + j * 7) % 41 - 20) / 23.0 for j in range(5)],)
        for i in range(37)
    ]
    df = spark.createDataFrame(rows, "embedding array<double>").repartition(4)
    parts = gram_partials(df)
    empty_mv = parts.filter(F.lit(False)).groupBy("dim_i", "dim_j").agg(
        F.sum("smoment_q").alias("smoment_q"),
        F.sum("n_vectors").alias("n_vectors"),
    )
    streamed = streaming_incremental_refresh(
        spark, empty_mv, parts,
        keys=["dim_i", "dim_j"], vals=["smoment_q", "n_vectors"],
        n_files=3,
    )
    want = {
        (r["dim_i"], r["dim_j"]): (r["smoment_q"], r["n_vectors"])
        for r in embedding_second_moment(df).collect()
    }
    got = {
        (r["dim_i"], r["dim_j"]): (r["smoment_q"], r["n_vectors"])
        for r in streamed.collect()
    }
    assert got == want


def test_kcore_peel_cascades(spark):
    """Peeling must CASCADE: on path 1-2-3-4 + triangle 5-6-7 with
    k=2, round 1 drops the endpoints (degree 1), which only then
    exposes 2 and 3 as sub-k — one-shot degree filtering would keep
    them. The triangle survives as the true 2-core."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import kcore_peel

    und = [(1, 2), (2, 3), (3, 4), (5, 6), (6, 7), (5, 7)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in und] + [(b, a) for a, b in und],
        "src bigint, dst bigint",
    )
    got = {
        r["node"]: r["degree"]
        for r in kcore_peel(edges, k=2, n_rounds=3).collect()
    }
    assert got == {5: 2, 6: 2, 7: 2}
    # one round is NOT enough: 2 and 3 still look safe after round 1
    one = {
        r["node"]: r["degree"]
        for r in kcore_peel(edges, k=2, n_rounds=1).collect()
    }
    assert set(one) == {2, 3, 5, 6, 7}


def test_kneser_ney_hand_corpus(spark):
    """Hand-computed KN values on an asymmetric corpus where KN differs
    from MLE: bigrams {a b, a d, c b}; nt=3 types, pcont(b)=2/3,
    pcont(d)=1/3; D=3/4 in quarters with floor division per term."""
    from airflow_etl_pyspark_inmet_spark.operators.text import (
        kneser_ney_bigram_score,
    )

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a d"), (3, "c b")], "doc_id bigint, text string"
    )
    got = {
        r["doc_id"]: (r["n_bigrams"], r["pkn_sum_micro"], r["pkn_avg_micro"])
        for r in kneser_ney_bigram_score(docs).collect()
    }
    # doc1 p(b|a): (4-3)*1e6//8 + (3*2*(2*1e6//3))//8 = 125000+499999
    # doc2 p(d|a): 125000 + (3*2*(1*1e6//3))//8      = 125000+249999
    # doc3 p(b|c): (4-3)*1e6//4 + (3*1*(2*1e6//3))//4 = 250000+499999
    assert got == {
        1: (1, 624999, 624999),
        2: (1, 374999, 374999),
        3: (1, 749999, 749999),
    }
    # MLE would give 500000 for every bigram here — KN's continuation
    # redistribution must shift them.
    assert got[1][2] != 500000


def test_sq8_recall_vs_exact(emb):
    """SQ8's per-coordinate error bound is (max-min)/510, so the
    refined top-10 should recover the exact top-10 near-perfectly on
    the synthetic corpus — strictly above PQ's floor."""
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        cosine_topk,
        sq_refine_topk,
    )

    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r.query_id, r.item_id) for r in cosine_topk(emb, qs, 10).collect()}
    sq = {
        (r.query_id, r.item_id)
        for r in sq_refine_topk(emb, qs, 10, shortlist=100).collect()
    }
    assert len(sq & exact) / len(exact) >= 0.9


def test_sq8_identical_vector_is_top_neighbor(spark):
    """A planted exact twin must rank first after the exact refine."""
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        sq_refine_topk,
    )

    base = [float((5 * 37 + j * 11) % 17 - 8) for j in range(64)]
    rows = [(i, [float((i * 29 + j * 13) % 19 - 9) for j in range(64)])
            for i in range(40)]
    rows[0] = (0, base)
    rows[39] = (39, base)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = sq_refine_topk(df, qs, k=3, shortlist=20)
    top = [r.item_id for r in out.collect() if r.rank == 1]
    assert top == [39]


def test_stratified_consistent_sample_hand_case(spark):
    """k smallest md5(id) per stratum, growth-stable: adding rows never
    reshuffles the survivors' relative order."""
    import hashlib

    from airflow_etl_pyspark_inmet_spark.operators.mixing import (
        stratified_consistent_sample,
    )

    rows = [(i, "a" if i % 2 == 0 else "b") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")
    out = stratified_consistent_sample(
        df, strat_col="lang", k=3, id_col="doc_id"
    ).collect()
    got = {
        (r["lang"], r["sample_rank"]): (r["doc_id"], r["sample_key"])
        for r in out
    }
    for lang in ("a", "b"):
        ids = [i for i, l in rows if l == lang]
        ranked = sorted(
            ids, key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i)
        )[:3]
        for rk, i in enumerate(ranked, start=1):
            h = hashlib.md5(str(i).encode()).hexdigest()
            assert got[(lang, rk)] == (i, h)
    assert len(out) == 6
    # growth stability: doubling the corpus can only DISPLACE survivors
    # (new smaller hashes enter), never reorder the retained ones
    df2 = spark.createDataFrame(
        rows + [(i, "a" if i % 2 == 0 else "b") for i in range(40, 80)],
        "doc_id bigint, lang string",
    )
    out2 = stratified_consistent_sample(
        df2, strat_col="lang", k=3, id_col="doc_id"
    ).collect()
    kept_order = {
        lang: [r["doc_id"] for r in sorted(out, key=lambda r: r["sample_rank"])
               if r["lang"] == lang]
        for lang in ("a", "b")
    }
    new_order = {
        lang: [r["doc_id"] for r in sorted(out2, key=lambda r: r["sample_rank"])
               if r["lang"] == lang]
        for lang in ("a", "b")
    }
    for lang in ("a", "b"):
        survivors = [i for i in kept_order[lang] if i in new_order[lang]]
        filtered = [i for i in new_order[lang] if i in kept_order[lang]]
        assert survivors == filtered


def test_stratified_sample_plan_uses_window_group_limit(spark):
    """The rank<=k filter must compile to WindowGroupLimit so map tasks
    pre-keep k rows per stratum before the shuffle — the property that
    makes the sampler corpus-safe."""
    from airflow_etl_pyspark_inmet_spark.operators.mixing import (
        stratified_consistent_sample,
    )

    df = spark.createDataFrame(
        [(i, str(i % 3)) for i in range(100)], "doc_id bigint, lang string"
    )
    out = stratified_consistent_sample(df, strat_col="lang", k=5)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan


def test_cross_doc_dup_ratio_hand_case(spark):
    """3 docs, 2-grams: doc1 'a b c' (grams: 'a b','b c'), doc2
    'a b x' (grams 'a b','b x'), doc3 'z z' (gram 'z z'), doc4 'q'
    (no grams). 'a b' is cross-doc duplicated; everything else unique."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        cross_doc_dup_ratio,
    )

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b x"), (3, "z z"), (4, "q")],
        "doc_id bigint, text string",
    )
    got = {
        r["doc_id"]: (r["n_grams"], r["n_dup"], r["dup_ppm"])
        for r in cross_doc_dup_ratio(df, ngram=2).collect()
    }
    assert got == {
        1: (2, 1, 500000),
        2: (2, 1, 500000),
        3: (1, 0, 0),
        4: (0, 0, 0),
    }
    # intra-doc repeats of a CROSS-doc gram count every position
    df2 = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b")], "doc_id bigint, text string"
    )
    got2 = {
        r["doc_id"]: (r["n_grams"], r["n_dup"], r["dup_ppm"])
        for r in cross_doc_dup_ratio(df2, ngram=2).collect()
    }
    # doc1 grams: 'a b','b a','a b' -> 3 positions, 'a b' twice shared
    assert got2 == {1: (3, 2, 666666), 2: (1, 1, 1000000)}


def test_count_min_census_matches_python_replay(spark):
    """The md5 hash family is engine-portable: replay the sketch in
    pure Python/hashlib and the engine's estimates must match EXACTLY
    (not just satisfy the envelope); cms_ok must hold on every row."""
    import hashlib
    from collections import Counter

    from airflow_etl_pyspark_inmet_spark.operators.text import (
        count_min_census,
    )

    texts = [
        "a a a b b c",
        "a b d e",
        "c c f",
        "",
        "  ",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    W, D = 8, 4  # tiny width to force real collisions
    out = count_min_census(df, k_top=10, width=W, depth=D).collect()

    toks = [t for s in texts for t in s.split() if t]
    exact = Counter(toks)
    sketch = [Counter() for _ in range(D)]
    for t in toks:
        for j in range(D):
            c = int(hashlib.md5(f"{j}:{t}".encode()).hexdigest()[:8], 16) % W
            sketch[j][c] += 1

    def est(t):
        return min(
            sketch[j][
                int(hashlib.md5(f"{j}:{t}".encode()).hexdigest()[:8], 16) % W
            ]
            for j in range(D)
        )

    assert len(out) == len(exact)
    for r in out:
        assert r["freq"] == exact[r["token"]]
        assert r["cms_est"] == est(r["token"])
        assert r["cms_over"] == r["cms_est"] - r["freq"]
        assert r["cms_ok"] and r["cms_est"] >= r["freq"]
    # the tiny width must actually have produced at least one collision,
    # otherwise the exact-replay assertion proves nothing
    assert any(r["cms_over"] > 0 for r in out)


def test_pareto_frontier_brute_force_with_ties(spark):
    """Two-phase skyline == O(n^2) dominance brute force, including
    tie rows on each axis and duplicate points (which all survive)."""
    from airflow_etl_pyspark_inmet_spark.operators.curation import (
        pareto_frontier_2d,
    )

    pts = [
        (1, 5, 5), (2, 5, 5),   # duplicate frontier points: both live
        (3, 5, 3),              # dominated by (5,5) via equal x
        (4, 4, 5),              # dominated by (5,5) via equal y
        (5, 6, 1), (6, 1, 7),   # frontier extremes
        (7, 3, 6),              # frontier (beats nothing, beaten by none)
        (8, 3, 6),              # duplicate of 7
        (9, 2, 2), (10, 0, 0),  # interior
        (11, 6, 0),             # dominated by (6,1)
    ]
    df = spark.createDataFrame(pts, "doc_id bigint, x bigint, y bigint").repartition(4)
    got = {
        r["doc_id"]
        for r in pareto_frontier_2d(df, "x", "y", id_col="doc_id").collect()
    }
    expect = {
        i
        for i, x, y in pts
        if not any(
            bx >= x and by >= y and (bx > x or by > y) for _, bx, by in pts
        )
    }
    assert got == expect == {1, 2, 5, 6, 7, 8}


def test_compaction_plan_hand_case(spark):
    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        compaction_plan,
    )

    manifest = spark.createDataFrame(
        [("a", "f1", 900), ("a", "f2", 800), ("a", "f3", 500),
         ("a", "f4", 300), ("a", "f5", 100), ("b", "g1", 2500)],
        "part string, file_name string, size_bytes long",
    )
    out = compaction_plan(
        manifest, ["part"], "file_name", "size_bytes", 1000
    )
    rows = {
        (r["part"], r["file_name"]): r
        for r in out.collect()
    }
    # largest-first exclusive cumsum // 1000:
    # 900 -> 0//1000=0, 800 -> 900//1000=0, 500 -> 1700//1000=1,
    # 300 -> 2200//1000=2, 100 -> 2500//1000=2
    assert [rows[("a", f)]["bin_id"] for f in
            ["f1", "f2", "f3", "f4", "f5"]] == [0, 0, 1, 2, 2]
    assert rows[("a", "f1")]["bin_files"] == 2
    assert rows[("a", "f1")]["bin_bytes"] == 1700
    assert rows[("a", "f4")]["bin_bytes"] == 400
    # single huge file lands alone in bin 0 (already compact)
    assert rows[("b", "g1")]["bin_id"] == 0
    assert rows[("b", "g1")]["bin_files"] == 1


def test_zorder_value_matches_python_interleave(spark):
    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        zorder_value,
    )
    from pyspark.sql import functions as F
    import random

    rng = random.Random(7)
    pairs = [(rng.randrange(1 << 16), rng.randrange(1 << 16))
             for _ in range(50)] + [(0, 0), (65535, 65535), (3, 5)]
    df = spark.createDataFrame(pairs, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.withColumn(
            "z", zorder_value(F.col("x"), F.col("y"))
        ).collect()
    }

    def morton(x, y):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    for x, y in pairs:
        assert got[(x, y)] == morton(x, y)


def test_zorder_layout_partitions_curve_contiguously(spark):
    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        zorder_layout,
    )
    import random

    rng = random.Random(11)
    rows = [(rng.randrange(1000), rng.randrange(1000), i)
            for i in range(400)]
    df = spark.createDataFrame(rows, "x long, y long, rid long")
    out = zorder_layout(df, "x", "y", 8, ["rid"]).collect()
    assert len(out) == 8
    assert sum(r["n_rows"] for r in out) == 400
    assert {r["n_rows"] for r in out} == {50}  # 400/8 exact fill
    # files cover contiguous, non-overlapping curve ranges
    by_id = sorted(out, key=lambda r: r["file_id"])
    for a, b in zip(by_id, by_id[1:]):
        assert a["max_z"] <= b["min_z"]
    for r in out:
        assert r["min_x"] <= r["max_x"] and r["min_y"] <= r["max_y"]


def test_zonemap_prune_stats_hand_case(spark):
    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        zonemap_prune_stats,
    )
    from pyspark.sql import functions as F

    # file 0: all below range; file 1: straddles; file 2: all above
    rows = [(0, 5), (0, 8), (1, 15), (1, 25), (1, 40), (2, 90), (2, 95)]
    df = spark.createDataFrame(rows, "file_id long, v long")
    out = zonemap_prune_stats(
        df, F.col("file_id"), "v", 20, 50
    ).collect()[0]
    assert out["n_files"] == 3
    assert out["files_pruned"] == 2
    assert out["rows_total"] == 7
    assert out["rows_scanned"] == 3  # only file 1 survives the zone map
    assert out["rows_matching"] == 2  # 25, 40


def test_vocab_growth_matches_bruteforce(spark):
    from airflow_etl_pyspark_inmet_spark.operators.text import vocab_growth

    docs = [
        (1, "a b c"),
        (2, "b c d d"),
        (3, "e"),
        (4, "a e f g"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = {r["decile"]: r for r in
           vocab_growth(df, n_checkpoints=4).collect()}
    toks = {d: t.split() for d, t in docs}
    for p in range(1, 5):
        k = max(1, (4 * p) // 4)
        first_k = sorted(toks)[:k]
        vocab = set().union(*(toks[d] for d in first_k))
        ntok = sum(len(toks[d]) for d in first_k)
        assert out[p]["n_docs"] == k
        assert out[p]["vocab_size"] == len(vocab), p
        assert out[p]["n_tokens"] == ntok, p


def test_bfs_distances_chain_and_cycle(spark):
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        bfs_distances,
    )

    # chain 1-2-3-4-5 (undirected) plus a 6<->7 island
    und = [(1, 2), (2, 3), (3, 4), (4, 5), (6, 7)]
    edges = spark.createDataFrame(
        und + [(b, a) for a, b in und], "src long, dst long"
    )
    src = spark.createDataFrame([(1,)], "node long")
    got = {r["node"]: r["dist"]
           for r in bfs_distances(edges, src, n_rounds=3).collect()}
    # 5 is 4 hops away -> outside the 3-round horizon; island unreached
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}
    # rerun with a cycle: distances are still shortest-path
    cyc = [(1, 2), (2, 3), (3, 1)]
    edges2 = spark.createDataFrame(
        cyc + [(b, a) for a, b in cyc], "src long, dst long"
    )
    got2 = {r["node"]: r["dist"]
            for r in bfs_distances(edges2, src, n_rounds=3).collect()}
    assert got2 == {1: 0, 2: 1, 3: 1}


def test_zipf_coverage_hand_case(spark):
    from airflow_etl_pyspark_inmet_spark.operators.text import (
        zipf_coverage,
    )

    # 10 tokens total: a x5, b x3, c x1, d x1
    df = spark.createDataFrame(
        [("a a a b b",), ("a a b c",), ("d",)], "text string"
    )
    rows = zipf_coverage(df, k_top=3).collect()
    assert [(r["rank"], r["token"], r["freq"]) for r in rows] == [
        (1, "a", 5), (2, "b", 3), (3, "c", 1)  # c before d: token asc tie
    ]
    assert [r["cum_freq"] for r in rows] == [5, 8, 9]
    assert [r["coverage_ppm"] for r in rows] == [500000, 800000, 900000]


def test_count_min_cells_merge_invariance(spark):
    from airflow_etl_pyspark_inmet_spark.operators.text import (
        count_min_cells,
    )
    from pyspark.sql import functions as F

    full = spark.createDataFrame(
        [("x y z x",), ("y y w",), ("z q",)], "text string"
    )
    halves = [
        spark.createDataFrame([("x y z x",)], "text string"),
        spark.createDataFrame([("y y w",), ("z q",)], "text string"),
    ]

    def sketch(df):
        return {
            (r["j"], r["c"]): r["cnt"]
            for r in count_min_cells(df)
            .groupBy("j", "c")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }

    merged: dict = {}
    for h in halves:
        for k, v in sketch(h).items():
            merged[k] = merged.get(k, 0) + v
    assert sketch(full) == merged  # shard sketches ADD


def test_mmr_select_matches_bruteforce_greedy(spark):
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        mmr_select,
    )
    import math
    import random

    rng = random.Random(3)
    vecs = {i: [rng.uniform(-1, 1) for _ in range(8)] for i in range(30)}
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    query = df.filter("vec_id = 0")
    items = df.filter("vec_id != 0")
    got = [(r["step"], r["vec_id"])
           for r in mmr_select(items, query, k=5).collect()]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return d / (math.sqrt(sum(x * x for x in a))
                    * math.sqrt(sum(y * y for y in b)))

    rel = {i: cos(v, vecs[0]) for i, v in vecs.items() if i != 0}
    sel: list = []
    for _ in range(5):
        best = None
        for i, r in sorted(rel.items()):
            if i in sel:
                continue
            pen = max((cos(vecs[i], vecs[s]) for s in sel), default=None)
            sc = 7 * r if pen is None else 7 * r - 3 * pen
            if best is None or sc > best[1]:
                best = (i, sc)
        sel.append(best[0])
    assert got == [(s + 1, v) for s, v in enumerate(sel)]


def test_kmeans_lloyd_matches_python_replay(spark):
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        kmeans_lloyd,
    )
    import math
    import random

    rng = random.Random(11)
    dim, k, rounds, scale = 6, 3, 3, 1000
    vecs = {i: [rng.uniform(-0.5, 0.5) for _ in range(dim)]
            for i in range(40)}
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["cluster"], r["dist_q"])
        for r in kmeans_lloyd(
            df, k=k, n_rounds=rounds, scale=scale, dim=dim
        ).collect()
    }

    # pure-python replay of the integer contract
    q = {i: [math.floor(x * scale) for x in v] for i, v in vecs.items()}
    cents = [q[i] for i in sorted(q)[:k]]

    def assign(c):
        out = {}
        for i, v in q.items():
            key = min(
                (sum((a - b) * (a - b) for a, b in zip(v, cv)) * 16 + cid)
                for cid, cv in enumerate(c)
            )
            out[i] = (key % 16, key // 16)
        return out

    for _ in range(rounds):
        a = assign(cents)
        new = []
        for cid, cv in enumerate(cents):
            members = [q[i] for i, (c, _) in a.items() if c == cid]
            if not members:
                new.append(cv)  # empty cluster keeps previous centroid
                continue
            n = len(members)
            new.append(
                [(sum(col) - (sum(col) % n)) // n for col in zip(*members)]
            )
        cents = new
    assert got == assign(cents)


def test_kmeans_lloyd_empty_cluster_and_tiebreak(spark):
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        kmeans_lloyd,
    )

    # seeds 0 and 1 are IDENTICAL vectors -> identical centroids, so
    # every nearby vector ties between cid 0 and cid 1 and the
    # dist*16+cid key must send all of them to the LOWER cid; cluster 1
    # is then empty every round and must keep its previous centroid
    # (rather than crash or emit NULLs).
    rows = [
        (0, [0.0, 0.0]),
        (1, [0.0, 0.0]),
        (2, [1.0, 1.0]),
        (5, [0.004, 0.0]),
        (20, [1.002, 1.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_lloyd(df, k=3, n_rounds=2, scale=1000, dim=2).collect()
    }
    # Round 1: ties send v0/v1/v5 to cid 0 (lower cid), c1 starves and
    # must KEEP [0,0]; c0 drifts to the mean [1,0]. Round 2: the kept
    # centroid re-acquires v0/v1 (dist 0 beats c0's 1) while v5=[4,0]
    # stays with c0; update pins c0=[4,0], c1=[0,0]. Final assignment:
    assert out[0] == out[1] == 1  # starved centroid persisted AND won back
    assert out[5] == 0
    assert out[2] == out[20] == 2


def test_phrase_occurrences_anchor_join(spark):
    from airflow_etl_pyspark_inmet_spark.operators.text import (
        phrase_occurrences,
    )

    # "a b a" repeats a token across slots (distinct-slot completeness
    # must not double-count), "a a a a" contains OVERLAPPING occurrences
    # of "a a a" (anchors 0 and 1), and doc 4 is shorter than the
    # phrase. Corpus frequencies make the top-3 phrases deterministic.
    rows = [
        (1, "a b a x a b a"),       # "a b a" twice (anchors 0, 4)
        (2, "a a a a"),             # "a a a" twice (overlap)
        (3, "a b a y a a a z a b a"),
        (4, "a b"),
        (5, "c c c c c"),           # "c c c" three overlapping times
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["phrase"]): r["n_occ"]
        for r in phrase_occurrences(df, n_phrases=3, phrase_len=3).collect()
    }

    # brute force over every doc and every top phrase
    def grams(s):
        t = s.split()
        return [" ".join(t[i:i + 3]) for i in range(len(t) - 2)]

    from collections import Counter
    census = Counter(g for _, s in rows for g in grams(s))
    top3 = sorted(census.items(), key=lambda kv: (-kv[1], kv[0]))[:3]
    expect = {}
    for did, s in rows:
        for ph, _ in top3:
            n = sum(1 for g in grams(s) if g == ph)
            if n:
                expect[(did, ph)] = n
    assert got == expect
    assert got[(2, "a a a")] == 2  # overlapping anchors both counted


def test_sssp_distances_weighted_and_frontier_reimprovement(spark):
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        sssp_distances,
    )

    # 1 -10-> 2 but also 1 -1-> 3 -1-> 2: node 2 settles at 10 in round
    # 1 and must RE-IMPROVE to 2 in round 2 (exercises the frontier
    # merge path, not just first-touch). Chain 1->4->5->6->7 (w=1)
    # checks the round horizon: with 3 rounds node 7 is unreached.
    edges = spark.createDataFrame(
        [
            (1, 2, 10),
            (1, 3, 1),
            (3, 2, 1),
            (1, 4, 1),
            (4, 5, 1),
            (5, 6, 1),
            (6, 7, 1),
        ],
        "src long, dst long, w int",
    )
    src = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: r["dist"]
        for r in sssp_distances(edges, src, n_rounds=3).collect()
    }
    assert got == {1: 0, 2: 2, 3: 1, 4: 1, 5: 2, 6: 3}


def test_streaming_growing_lsh_dedup_equals_batch(spark):
    """The self-growing streamed index finds the SAME pair set as the
    one-shot batch LSH run — split-invariance across micro-batches —
    and emits each pair exactly once (cross pairs at the later
    member's epoch, intra pairs at the shared epoch)."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from airflow_etl_pyspark_inmet_spark.streaming.windows import (
        streaming_growing_lsh_dedup,
    )

    base = "one two three four five six seven eight nine ten"
    rows = []
    for i in range(24):
        if i % 5 == 0:
            text = base + f" clone{i % 2}"          # planted near-dups
        else:
            text = f"unique{i} " + " ".join(f"w{i}{j}" for j in range(9))
        rows.append((i, text))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    streamed = streaming_growing_lsh_dedup(spark, docs, n_files=4).collect()
    batch = minhash_lsh_pairs(docs, threshold=0.5).collect()

    key = lambda r: (r["id_a"], r["id_b"])
    assert len({key(r) for r in streamed}) == len(streamed)  # no dup emits
    assert {(key(r), r["jaccard"]) for r in streamed} == {
        (key(r), r["jaccard"]) for r in batch
    }
    assert len(batch) >= 3  # the planted clones actually collide


def test_kcenter_coreset_matches_bruteforce_greedy(spark):
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        kcenter_coreset,
    )
    import math
    import random

    rng = random.Random(7)
    vecs = {i: [rng.uniform(-0.5, 0.5) for _ in range(5)] for i in range(25)}
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        "vec_id long, embedding array<double>",
    )
    got = [
        (r["step"], r["vec_id"], r["radius_q"])
        for r in kcenter_coreset(df, k=6, scale=1000).collect()
    ]

    q = {i: [math.floor(x * 1000) for x in v] for i, v in vecs.items()}
    d = lambda a, b: sum((x - y) * (x - y) for x, y in zip(a, b))
    seed = min(q)
    expect = [(1, seed, 0)]
    md = {i: d(v, q[seed]) for i, v in q.items() if i != seed}
    for step in range(2, 7):
        pick = max(md, key=lambda i: (md[i], -i))
        expect.append((step, pick, md[pick]))
        pv = q[pick]
        md = {
            i: min(m, d(q[i], pv)) for i, m in md.items() if i != pick
        }
    assert got == expect
    # covering radius is monotonically non-increasing
    radii = [r for _, _, r in got[1:]]
    assert radii == sorted(radii, reverse=True)


def test_rrf_fuse_matches_python_replay(spark):
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        rrf_fuse,
    )

    # one item in both lists, one in A only, one in B only; query 2
    # exists in B only (full-outer semantics on the query axis too)
    a = spark.createDataFrame(
        [(1, 10, 1), (1, 11, 2), (1, 12, 3)],
        "query_id long, item_id long, rank int",
    )
    b = spark.createDataFrame(
        [(1, 11, 1), (1, 13, 2), (2, 10, 1)],
        "query_id long, item_id long, rank int",
    )
    got = {
        (r["query_id"], r["item_id"]): (r["rrf_score"], r["rank"])
        for r in rrf_fuse(a, b, k=10).collect()
    }
    U = 1_000_000_000
    s11 = U // 62 + U // 61          # both lists
    s10 = U // 61                    # A only, rank 1
    s12 = U // 63                    # A only, rank 3
    s13 = U // 62                    # B only, rank 2
    order = sorted(
        [(10, s10), (11, s11), (12, s12), (13, s13)],
        key=lambda kv: (-kv[1], kv[0]),
    )
    expect = {
        (1, item): (score, i + 1) for i, (item, score) in enumerate(order)
    }
    expect[(2, 10)] = (U // 61, 1)
    assert got == expect


def test_clustering_coefficients_square_with_diagonal(spark):
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        clustering_coefficients,
    )

    # square 1-2-3-4-1 plus diagonal 1-3: triangles {1,2,3} and
    # {1,3,4}; cc(1)=cc(3)=2/3, cc(2)=cc(4)=1
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4), (1, 3)], "p1 int, p2 int"
    )
    got = {
        r["node"]: (r["degree"], r["n_triangles"], r["cc_ppm"])
        for r in clustering_coefficients(pairs).collect()
    }
    assert got == {
        1: (3, 2, 666666),
        2: (2, 1, 1000000),
        3: (3, 2, 666666),
        4: (2, 1, 1000000),
    }


def test_clustering_coefficients_triangle_free_and_pendant(spark):
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        clustering_coefficients,
    )

    # path 1-2-3 plus pendant 4 on node 2: no triangles anywhere;
    # degree-1 nodes (1, 3, 4) are excluded, node 2 emits cc_ppm=0
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (2, 4)], "p1 int, p2 int"
    )
    rows = clustering_coefficients(pairs).collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["node"], r["degree"], r["n_triangles"], r["cc_ppm"]) == (
        2, 3, 0, 0,
    )


def test_matryoshka_recall_vs_exact(emb):
    """Prefix-32-of-64 coarse pass + top-200 exact rerank recovers the
    exact top-10 with recall >= 0.8 on the (non-MRL) synthetic corpus;
    the s11 envelope (0.5) sits well below this floor."""
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        cosine_topk,
        matryoshka_refine_topk,
    )

    qs = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = {(r.query_id, r.item_id) for r in cosine_topk(emb, qs, 10).collect()}
    mat = {
        (r.query_id, r.item_id)
        for r in matryoshka_refine_topk(
            emb, qs, 10, prefix_dim=32, shortlist=200
        ).collect()
    }
    assert len(mat & exact) / len(exact) >= 0.8


def test_matryoshka_identical_vector_is_top_neighbor(spark):
    """A planted exact twin shares the query's prefix, so it must
    survive the coarse pass and rank first after the exact refine."""
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        matryoshka_refine_topk,
    )

    base = [float((5 * 37 + j * 11) % 17 - 8) for j in range(64)]
    rows = [(i, [float((i * 29 + j * 13) % 19 - 9) for j in range(64)])
            for i in range(40)]
    rows[0] = (0, base)
    rows[39] = (39, base)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = matryoshka_refine_topk(df, qs, k=3, prefix_dim=16, shortlist=10)
    top = [r.item_id for r in out.collect() if r.rank == 1]
    assert top == [39]


def test_matryoshka_full_prefix_equals_exact(emb):
    """prefix_dim == full dim makes the coarse pass the exact ranking,
    so the refined top-k must equal cosine_topk exactly."""
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        cosine_topk,
        matryoshka_refine_topk,
    )

    qs = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = sorted(
        (r.query_id, r.item_id, r.rank)
        for r in cosine_topk(emb, qs, 10).collect()
    )
    mat = sorted(
        (r.query_id, r.item_id, r.rank)
        for r in matryoshka_refine_topk(
            emb, qs, 10, prefix_dim=64, shortlist=50
        ).collect()
    )
    assert mat == exact


def test_semdedup_drops_twin_closer_to_centroid(spark):
    """An exact twin pair shares a cluster and cosine 1.0; identical
    dist_q ties drop the smaller id. tau above every non-twin cosine
    isolates the twin pair."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import semdedup

    rows = [(i, [float((i * 29 + j * 13) % 19 - 9) for j in range(64)])
            for i in range(10)]
    rows[9] = (9, rows[3][1])  # plant an exact twin of vec 3
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in semdedup(
        df, k=2, n_rounds=2, tau=0.99, scale=1000).collect()}
    assert len(out) == 10
    assert out[3]["cluster"] == out[9]["cluster"]
    assert out[3]["dist_q"] == out[9]["dist_q"]
    dropped = {v for v, r in out.items() if r["dropped"]}
    assert dropped == {3}


def test_semdedup_no_pairs_above_tau_drops_nothing(spark):
    from airflow_etl_pyspark_inmet_spark.operators.dedup import semdedup

    rows = [(i, [float((i * 29 + j * 13) % 19 - 9) for j in range(64)])
            for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = semdedup(df, k=2, n_rounds=2, tau=1.5, scale=1000).collect()
    assert len(out) == 8 and not any(r["dropped"] for r in out)


def test_streaming_topk_maintenance_equals_batch(spark):
    """The streamed union-then-truncate fold lands on exactly the
    one-shot batch top-k (rank for rank), however ingest was split
    into micro-batches — top-k is associative under the (score DESC,
    item ASC) total order."""
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        cosine_topk,
    )
    from airflow_etl_pyspark_inmet_spark.streaming.windows import (
        streaming_topk_maintenance,
    )

    rows = [(i, [float((i * 29 + j * 13) % 19 - 9) for j in range(16)])
            for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    batch = sorted(
        (r["query_id"], r["item_id"], r["rank"])
        for r in cosine_topk(df, qs, 5).collect()
    )
    for n_files in (2, 4):
        streamed = sorted(
            (r["query_id"], r["item_id"], r["rank"])
            for r in streaming_topk_maintenance(
                spark, df, qs, k=5, n_files=n_files
            ).collect()
        )
        assert streamed == batch
    assert len(batch) == 15  # 3 queries x k=5


def _record_mkdtemp(monkeypatch) -> list[str]:
    """Patch ``tempfile.mkdtemp`` to record every directory it creates."""
    import tempfile

    made: list[str] = []
    real = tempfile.mkdtemp

    def mkdtemp(*args, **kwargs):
        made.append(real(*args, **kwargs))
        return made[-1]

    monkeypatch.setattr(tempfile, "mkdtemp", mkdtemp)
    return made


def test_streaming_topk_requires_multiple_epochs(spark, monkeypatch):
    import os

    from airflow_etl_pyspark_inmet_spark.streaming.windows import (
        streaming_topk_maintenance,
    )
    import pytest as _pytest

    rows = [(i, [float(i + j) for j in range(4)]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    qs = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    made = _record_mkdtemp(monkeypatch)
    with _pytest.raises(RuntimeError, match="micro-batches"):
        streaming_topk_maintenance(spark, df, qs, k=3, n_files=1)
    assert made and not any(os.path.exists(d) for d in made)


def test_fold_stream_cleans_up_when_step_raises(spark, monkeypatch):
    import os

    from pyspark.errors import StreamingQueryException

    from airflow_etl_pyspark_inmet_spark.streaming.windows import _fold_stream

    def step(state, batch_df):
        raise ValueError("step failed on the first batch")

    made = _record_mkdtemp(monkeypatch)
    with pytest.raises(StreamingQueryException, match="step failed"):
        _fold_stream(
            spark, spark.range(8), 2, {"n": spark.range(0)}, step, "fault_probe"
        )
    assert made and not any(os.path.exists(d) for d in made)
    assert spark.streams.active == []


def test_readability_scores_hand_case(spark):
    import re as _re

    from airflow_etl_pyspark_inmet_spark.operators.text import (
        readability_scores,
    )

    texts = {
        1: "Hello world. It is sunny today!",
        2: "One... two?! three",
        3: "",  # empty doc: all counts clamp to 1
        4: "xyz qqq zzz",  # no vowels, no terminators
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id int, text string"
    )
    got = {r["doc_id"]: r for r in readability_scores(docs).collect()}
    for d, t in texts.items():
        w = max(len([x for x in _re.split(r"\s+", t.strip()) if x != ""])
                if t.strip() else 1, 1)
        # Spark split('', '\s+') yields [''] -> size 1, so the empty doc
        # clamps to 1 via the size itself
        if t.strip() == "":
            w = 1
        s = max(len(_re.findall(r"[.!?]+", t)), 1)
        v = max(len(_re.findall(r"[aeiouyAEIOUY]+", t)), 1)
        assert got[d]["n_words"] == w, (d, got[d])
        assert got[d]["n_sentences"] == s
        assert got[d]["n_vowel_groups"] == v
        assert got[d]["flesch_milli"] == (
            206835 - (1015 * w) // s - (84600 * v) // w
        )


def test_semdedup_from_assignment_any_blocker(spark):
    """The pair/loser algebra is assigner-agnostic: a hand-built
    blocking assignment (standing in for an IVF large-k assigner)
    drives the same keep/drop decisions — closer-to-centroid loses,
    ties drop the smaller id, cross-cluster twins are never paired."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        semdedup_from_assignment,
    )

    twin = [1.0] * 8
    other = [float(j % 3 - 1) for j in range(8)]
    rows = [
        (0, twin), (1, twin), (2, other),      # cluster 0
        (3, twin), (4, twin), (5, other),      # cluster 1 (twins of 0/1
    ]                                          #  but blocked apart)
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assign = spark.createDataFrame(
        [(0, 0, 5), (1, 0, 3), (2, 0, 9),
         (3, 1, 4), (4, 1, 4), (5, 1, 2)],
        "vec_id long, cluster int, dist_q long",
    )
    out = {r["vec_id"]: r["dropped"] for r in semdedup_from_assignment(
        df, assign, tau=0.99).collect()}
    # cluster 0: pair (0,1) cos=1.0 -> 1 loses (dist 3 < 5)
    # cluster 1: pair (3,4) cos=1.0 -> tie dist 4 == 4 -> 3 loses
    # 0/1 vs 3/4 are identical vectors but in different blocks: no pair
    assert out == {0: False, 1: True, 2: False, 3: True, 4: False,
                   5: False}


def test_semdedup_ivf_same_algebra_reasonable_overlap(emb):
    """The IVF-blocked tier runs the identical pair/loser algebra, so
    its drop set must substantially overlap the exact k-means tier's
    (blockings differ only at Voronoi boundaries); a broken blocking
    (everything scattered / everything together) lands near 0 recall
    or an exploded drop count."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        semdedup,
        semdedup_ivf,
    )

    ex = {r["vec_id"] for r in semdedup(
        emb, k=8, n_rounds=3, tau=0.35, scale=1000).collect()
        if r["dropped"]}
    iv = {r["vec_id"] for r in semdedup_ivf(
        emb, n_cells=8, tau=0.35, scale=1000).collect() if r["dropped"]}
    assert len(ex) > 0 and len(iv) > 0
    assert len(ex & iv) / len(ex) >= 0.4
    # drop volumes are the same order of magnitude
    assert 0.5 <= len(iv) / len(ex) <= 2.0


def test_dedup_ensemble_flags_consistent_with_tiers(spark, sf_small):
    """c10's per-doc flags must agree row-for-row with the standalone
    tiers it composes, and n_tiers must be the exact boolean sum."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        minhash_lsh_pairs,
        semdedup,
    )
    from airflow_etl_pyspark_inmet_spark.plans.queries_llm import (
        c10_dedup_ensemble,
    )

    out = {r["doc_id"]: r for r in c10_dedup_ensemble(
        spark, sf_small).collect()}
    docs = spark.read.parquet(f"{sf_small}/documents.parquet")
    assert len(out) == docs.count()
    for r in out.values():
        assert r["n_tiers"] == (
            int(r["exact_dup"]) + int(r["text_neardup"])
            + int(r["embedding_neardup"]) + int(r["semdedup_dropped"])
        )
    tp = minhash_lsh_pairs(
        docs.select("doc_id", "text"), ngram=3, threshold=0.5,
        broadcast_sizes=True,
    ).collect()
    text_ids = {r["id_a"] for r in tp} | {r["id_b"] for r in tp}
    assert {d for d, r in out.items() if r["text_neardup"]} == text_ids
    emb = spark.read.parquet(f"{sf_small}/embeddings.parquet")
    # mirror c10's scale-aware blocking: k = max(8, isqrt(N))
    import math

    k_sd = max(8, math.isqrt(emb.count()))
    sd_drops = {r["vec_id"] for r in semdedup(
        emb, k=k_sd, n_rounds=3, tau=0.35, scale=1000).collect()
        if r["dropped"]}
    assert {d for d, r in out.items() if r["semdedup_dropped"]} == sd_drops


def test_assign_to_centroids_argmin_and_tiebreak(spark):
    """Exact integer assignment semantics: milli-quantized squared
    distance, nearest centroid wins, equidistant vectors break ties
    toward the LOWER centroid id (the dist*16+cid pack)."""
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        assign_to_centroids,
    )

    centroids = [[0, 0], [4000, 0]]  # already on the x1000 grid
    rows = [
        (0, [0.0, 0.0]),   # on c0 -> cluster 0, dist 0
        (1, [4.0, 0.0]),   # on c1 -> cluster 1, dist 0
        (2, [2.0, 0.0]),   # equidistant (2000^2 each) -> tie -> c0
        (3, [3.0, 1.0]),   # closer to c1: 1000^2+1000^2 < 3000^2+1000^2
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = {r["vec_id"]: (r["cluster"], r["dist_q"]) for r in
           assign_to_centroids(df, centroids, scale=1000).collect()}
    assert got == {
        0: (0, 0),
        1: (1, 0),
        2: (0, 2000 * 2000),
        3: (1, 1000 * 1000 + 1000 * 1000),
    }


def test_assign_udf_argpartition_matches_full_sort(spark):
    """r17: the serving assigner's argpartition + n-survivor sort must
    pick exactly the top-n cells a full row argsort of the cosine
    scores picks, in the same order, on distinct-score data (the only
    regime an unstable sort is deterministic in). Runs the real
    ``_assign_udf`` on a Spark frame."""
    import numpy as np

    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        _assign_udf,
    )

    rng = np.random.default_rng(7)
    dim = 6
    for rows, cells, n in [(40, 16, 1), (40, 16, 3), (8, 200, 5), (5, 4, 4)]:
        V = rng.standard_normal((rows, dim))
        C = rng.standard_normal((cells, dim))
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        Cn = C / np.linalg.norm(C, axis=1, keepdims=True)
        ref = np.argsort(-(Vn @ Cn.T), axis=1)[:, :n]
        df = spark.createDataFrame(
            [(i, V[i].tolist()) for i in range(rows)], "i int, v array<double>"
        )
        got = np.array(
            [
                r["cells"]
                for r in df.select(
                    "i", _assign_udf(C, n)(F.col("v")).alias("cells")
                )
                .orderBy("i")
                .collect()
            ]
        )
        assert got.shape == ref.shape and (got == ref).all(), (rows, cells, n)


def test_char_entropy_hand_cases(spark):
    import math

    from airflow_etl_pyspark_inmet_spark.operators.text import (
        char_entropy,
    )

    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "abab"), (3, "abcd"), (4, "")],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r for r in char_entropy(docs).collect()}
    assert 4 not in got  # empty doc has no characters
    # uniform single char: entropy 0
    assert got[1]["n_chars"] == 4 and got[1]["n_distinct_chars"] == 1
    assert got[1]["entropy_nats"] == 0.0
    # two chars 50/50: ln 2
    nl = round(-math.log(0.5) * 1e6)
    assert got[2]["entropy_nats"] == (4 * nl) / (4 * 1e6)
    # four distinct: ln 4
    nl4 = round(-math.log(0.25) * 1e6)
    assert got[3]["n_distinct_chars"] == 4
    assert got[3]["entropy_nats"] == (4 * nl4) / (4 * 1e6)


def _arrow_eval_nodes(df) -> int:
    """ArrowEvalPython nodes in ``df``'s physical plan."""
    return df._jdf.queryExecution().executedPlan().toString().count(
        "ArrowEvalPython"
    )


def test_assign_literal_arrow_equivalence_k64(spark, monkeypatch):
    """The broadcast-literal struct argmin and the Arrow int64 argmin
    are the SAME function bit for bit — same quantization grid, same
    exact squared distances, same (dist, cid) lexicographic tiebreak —
    at a k far beyond the old 16-cell packing cap. Each path is forced
    through the ``_LITERAL_ASSIGN_MAX_K`` threshold."""
    import random

    from airflow_etl_pyspark_inmet_spark.operators import similarity
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        assign_to_centroids,
    )

    rng = random.Random(12)
    dim = 8
    centroids = [
        [rng.randint(-5000, 5000) for _ in range(dim)] for _ in range(64)
    ]
    # duplicate a few centroids so the cid tiebreak actually fires
    centroids[40] = list(centroids[3])
    centroids[63] = list(centroids[0])
    rows = [
        (i, [rng.uniform(-5.0, 5.0) for _ in range(dim)]) for i in range(200)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    monkeypatch.setattr(similarity, "_LITERAL_ASSIGN_MAX_K", 10**9)
    lit_df = assign_to_centroids(df, centroids, scale=1000)
    lit = {r["vec_id"]: (r["cluster"], r["dist_q"]) for r in lit_df.collect()}
    monkeypatch.setattr(similarity, "_LITERAL_ASSIGN_MAX_K", 0)
    arr_df = assign_to_centroids(df, centroids, scale=1000)
    arr = {r["vec_id"]: (r["cluster"], r["dist_q"]) for r in arr_df.collect()}
    assert _arrow_eval_nodes(lit_df) == 0 and _arrow_eval_nodes(arr_df) == 1
    assert lit == arr and len(lit) == 200
    # ties on duplicated centroids resolved toward the lower cid
    assert all(c not in (40, 63) for c, _ in arr.values())


def test_kmeans_lloyd_arrow_matches_literal(spark, monkeypatch):
    """Full Lloyd trajectory equality across assigners: seeds, per-round
    integer centroid updates, and the final assignment agree exactly,
    so the arrow path inherits the literal tier's DuckDB oracle."""
    import random

    from airflow_etl_pyspark_inmet_spark.operators import similarity
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        kmeans_lloyd,
    )

    rng = random.Random(34)
    rows = [
        (i, [rng.uniform(-2.0, 2.0) for _ in range(6)]) for i in range(120)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    monkeypatch.setattr(similarity, "_LITERAL_ASSIGN_MAX_K", 10**9)
    lit = {
        r["vec_id"]: (r["cluster"], r["dist_q"])
        for r in kmeans_lloyd(
            df, k=10, n_rounds=2, scale=1000, dim=6
        ).collect()
    }
    monkeypatch.setattr(similarity, "_LITERAL_ASSIGN_MAX_K", 0)
    arr = {
        r["vec_id"]: (r["cluster"], r["dist_q"])
        for r in kmeans_lloyd(
            df, k=10, n_rounds=2, scale=1000, dim=6
        ).collect()
    }
    assert lit == arr and len(lit) == 120


def test_blocked_neardup_flags_python_replay(spark):
    """The chunked int64 Gram kernel decides exactly the rational
    crossing 400*dot^2 >= 49*|a|^2*|b|^2 (dot >= 0) per pair within a
    block — replayed here with exact Python ints over random vectors,
    plus: zero-norm vectors never flag, singleton blocks never flag,
    and a vector is never its own duplicate."""
    import random

    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        embedding_blocked_neardup_flags,
    )

    rng = random.Random(7)
    rows = []
    vecs = {}
    for i in range(60):
        v = [rng.randint(-600, 600) / 1000.0 for _ in range(8)]
        rows.append((i, i % 3, v))
        vecs[i] = v
    rows.append((60, 0, [0.0] * 8))  # zero-norm: undefined cosine
    vecs[60] = [0.0] * 8
    rows.append((61, 9, [0.5] * 8))  # singleton block
    vecs[61] = [0.5] * 8
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<double>"
    )
    got = {
        r["vec_id"]: r["neardup"]
        for r in embedding_blocked_neardup_flags(df, "label").collect()
    }

    import math

    q = {i: [math.floor(x * 1000) for x in v] for i, v in vecs.items()}
    n2 = {i: sum(c * c for c in qv) for i, qv in q.items()}
    blocks = {}
    for i, blk, _ in rows:
        blocks.setdefault(blk, []).append(i)
    want = {}
    for i, blk, _ in rows:
        flag = False
        for j in blocks[blk]:
            if j == i or n2[i] == 0 or n2[j] == 0:
                continue
            dot = sum(a * b for a, b in zip(q[i], q[j]))
            if dot >= 0 and 400 * dot * dot >= 49 * n2[i] * n2[j]:
                flag = True
                break
        want[i] = flag
    assert got == want
    assert got[60] is False and got[61] is False
    assert any(got.values())  # random 8-dim ints do produce some flags


def test_nn_descent_finds_planted_twin(spark):
    """Convergence contract on a clustered fixture: vectors come in
    tight planted pairs placed in DIFFERENT init buckets (the twin is
    never a round-0 neighbor), so only the neighbors-of-neighbors
    rounds can surface it; after 2 rounds every node's rank-1
    neighbor must be its twin. Also checks the emitted shape: k rows
    per node, ranks 1..k, dist_q exact on the quantized grid."""
    import random

    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        nn_descent_knn_graph,
    )

    rng = random.Random(5)
    rows = []
    # 12 cluster centers; twin ids i and i+60 -> different id%B buckets
    for i in range(12):
        base = [rng.uniform(-3, 3) for _ in range(6)]
        rows.append((i, [x + 0.001 for x in base]))
        rows.append((i + 60, [x + 0.002 for x in base]))
        # two mid-distance satellites per cluster to populate rounds
        rows.append((i + 24, [x + 0.5 for x in base]))
        rows.append((i + 36, [x - 0.5 for x in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = nn_descent_knn_graph(df, k=3, n_rounds=2, scale=1000).collect()
    by_node = {}
    for r in out:
        by_node.setdefault(r["vec_id"], []).append(r)
    assert set(by_node) == {r[0] for r in rows}
    for node, nbrs in by_node.items():
        assert sorted(r["rank"] for r in nbrs) == list(
            range(1, len(nbrs) + 1)
        )
        assert len(nbrs) <= 3
    twin = {i: i + 60 for i in range(12)} | {i + 60: i for i in range(12)}
    hits = 0
    for node, mate in twin.items():
        rank1 = min(by_node[node], key=lambda r: r["rank"])
        if rank1["nbr_id"] == mate:
            hits += 1
    assert hits == len(twin), f"only {hits}/{len(twin)} twins at rank 1"


def test_nn_descent_init_escapes_buckets(spark):
    """Regression for the degenerate single-family init: modulo buckets
    alone are disjoint (k+1)-cliques, CLOSED under the
    neighbor-of-neighbor expansion, so rounds could never escape them.
    With the two-family init the symmetrized graph must span the whole
    corpus as one component, and some emitted edge must cross mod-B
    bucket boundaries."""
    import random

    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        nn_descent_knn_graph,
    )

    rng = random.Random(11)
    n, k = 60, 3
    rows = [
        (i, [rng.uniform(-3, 3) for _ in range(6)]) for i in range(n)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = nn_descent_knn_graph(df, k=k, n_rounds=2, scale=1000).collect()
    b = max(1, (n + k) // (k + 1))
    assert any(r["vec_id"] % b != r["nbr_id"] % b for r in out)
    adj = {}
    for r in out:
        adj.setdefault(r["vec_id"], set()).add(r["nbr_id"])
        adj.setdefault(r["nbr_id"], set()).add(r["vec_id"])
    seen, frontier = {0}, [0]
    while frontier:
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in seen:
                    seen.add(v)
                    nxt.append(v)
        frontier = nxt
    assert len(seen) == n, f"graph fragmented: component {len(seen)}/{n}"


def test_graph_ann_walk_finds_twin_and_is_deterministic(spark):
    """The beam walk over the NN-Descent graph must surface a planted
    twin at rank 1 for every query (the twin is the nearest neighbor
    and the graph is connected), and two runs must emit identical rows
    (deterministic entries, tie-breaks, and hop order)."""
    import random

    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        graph_ann_topk,
        nn_descent_knn_graph,
    )

    rng = random.Random(23)
    rows = []
    for i in range(12):
        base = [rng.uniform(-3, 3) for _ in range(6)]
        rows.append((i, [x + 0.001 for x in base]))
        rows.append((i + 60, [x + 0.002 for x in base]))
        rows.append((i + 24, [x + 0.5 for x in base]))
        rows.append((i + 36, [x - 0.5 for x in base]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    graph = nn_descent_knn_graph(df, k=3, n_rounds=2, scale=1000)
    ann = graph_ann_topk(df, queries, graph, k=5, beam=8, n_hops=3)
    got = sorted(
        (r["query_id"], r["item_id"], r["rank"]) for r in ann.collect()
    )
    for q in range(4):
        rank1 = [i for qq, i, rk in got if qq == q and rk == 1]
        assert rank1 == [q + 60], f"query {q}: rank-1 {rank1}"
    again = sorted(
        (r["query_id"], r["item_id"], r["rank"])
        for r in graph_ann_topk(
            df, queries, graph, k=5, beam=8, n_hops=3
        ).collect()
    )
    assert got == again


def test_filtered_ivf_respects_predicate(spark):
    """Filtered ANN must never emit a predicate-failing item, even when
    that item is the globally nearest neighbor — the post-filter-starves
    case the operator exists for."""
    import random

    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        filtered_ivf_topk,
    )

    rng = random.Random(7)
    rows = []
    for i in range(40):
        base = [rng.uniform(-3, 3) for _ in range(6)]
        # even ids pass the filter, odd fail; make each query's nearest
        # item an ODD (filtered-out) twin
        rows.append((i, base, i % 2))
    # queries 100..103 sit on top of odd items 1,3,5,7
    for qi, twin in zip(range(100, 104), (1, 3, 5, 7)):
        rows.append((qi, [x + 0.001 for x in rows[twin][1]], 0))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    queries = df.filter(F.col("vec_id") >= 100).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    out = filtered_ivf_topk(
        df.filter(F.col("vec_id") < 100),
        queries,
        F.col("label") == 0,
        k=5,
        n_cells=4,
        n_probe=4,  # exhaustive probe: isolates the predicate logic
    ).collect()
    assert out, "no candidates emitted"
    assert all(r["item_id"] % 2 == 0 for r in out), (
        "a predicate-failing item leaked into the filtered top-k"
    )


def test_knn_join_exhaustive_probe_equals_brute_force(spark):
    """With n_probe == n_cells the cell blocking is exhaustive, so the
    kNN join must equal the brute-force per-left top-k bit for bit —
    proving the blocking is lossless and only the probe width
    approximates."""
    import random

    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        cosine_topk,
        knn_join,
    )

    rng = random.Random(13)
    rows = [
        (i, [rng.uniform(-3, 3) for _ in range(6)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    left = df.filter(F.col("vec_id") % 2 == 0)
    right = df.filter(F.col("vec_id") % 2 == 1)
    got = sorted(
        (r["left_id"], r["item_id"], r["rank"])
        for r in knn_join(left, right, k=3, n_cells=4, n_probe=4).collect()
    )
    want = sorted(
        (r["query_id"], r["item_id"], r["rank"])
        for r in cosine_topk(
            right,
            left.select(F.col("vec_id").alias("query_id"), "embedding"),
            3,
        ).collect()
    )
    assert got == want
    assert all(l % 2 == 0 and i % 2 == 1 for l, i, _ in got)


def test_knn_join_hot_cell_salting_is_lossless(spark):
    """Forcing the hot-cell path (one cell holding everything, a salt
    threshold far below the cell's size, so both sides split into
    multiple salt blocks) must yield EXACTLY the unsalted/brute-force
    result — per-block top-k is a superset of per-cell top-k, and the
    merge reduction recovers the true top-k (the r13 ADVICE fix: a
    groupBy group cannot be split by AQE, so hot cells are bounded by
    count-derived salting instead)."""
    import random

    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        cosine_topk,
        knn_join,
    )

    rng = random.Random(29)
    rows = [
        (i, [rng.uniform(-3, 3) for _ in range(6)]) for i in range(80)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    left = df.filter(F.col("vec_id") % 2 == 0)
    right = df.filter(F.col("vec_id") % 2 == 1)
    got = sorted(
        (r["left_id"], r["item_id"], r["rank"])
        for r in knn_join(
            left, right, k=3, n_cells=1, n_probe=1, salt_rows=7
        ).collect()
    )
    want = sorted(
        (r["query_id"], r["item_id"], r["rank"])
        for r in cosine_topk(
            right,
            left.select(F.col("vec_id").alias("query_id"), "embedding"),
            3,
        ).collect()
    )
    assert got == want


def test_corpus_recall_check_catches_broken_blocking(spark):
    """The aggregate envelope must be TRUE when the ANN side IS the
    exact set and FALSE on a broken (empty-overlap) candidate set —
    and the emitted rows are the exact surface either way."""
    import random

    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        ann_with_corpus_recall_check,
        cosine_topk,
    )

    rng = random.Random(17)
    rows = [
        (i, [rng.uniform(-3, 3) for _ in range(6)]) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = cosine_topk(df, queries, 5)
    ok = ann_with_corpus_recall_check(
        df, queries, exact, k=5, min_recall=0.9
    ).collect()
    assert ok and all(r["recall_ok"] for r in ok)
    broken = exact.select(
        "query_id", (F.col("item_id") + 1000).alias("item_id")
    )
    bad = ann_with_corpus_recall_check(
        df, queries, broken, k=5, min_recall=0.1
    ).collect()
    assert bad and not any(r["recall_ok"] for r in bad)
    assert sorted((r["query_id"], r["item_id"], r["rank"]) for r in bad) == \
        sorted((r["query_id"], r["item_id"], r["rank"]) for r in exact.collect())


def test_recall_check_rejects_mismatched_exact(spark):
    """The harness builds its own exact top-k (no frame is injected): an
    ANN side that IS the exact top-k gives k rows per query, every one
    ``recall_ok``."""
    import random

    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        ann_with_recall_check,
    )

    rng = random.Random(23)
    rows = [(i, [rng.uniform(-3, 3) for _ in range(6)]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    k = 5
    ann = cosine_topk(df, queries, k)
    ok = ann_with_recall_check(df, queries, lambda: ann, k).collect()
    assert len(ok) == 3 * k and all(r["recall_ok"] for r in ok)


def test_recall_envelope_compares_integer_tenths(spark):
    """hits * 10 >= truth * tenths, per group or over the whole truth
    set: 3 of 5 passes 0.6, 1 of 5 fails it, 4 of 10 passes 0.4 exactly;
    an empty truth set passes; a threshold between tenths is refused."""
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        _recall_envelope,
    )

    keys = ["query_id", "item_id"]
    truth = spark.createDataFrame(
        [(q, i) for q in (0, 1) for i in range(5)], "query_id long, item_id long"
    )
    approx = spark.createDataFrame(
        [(0, 0), (0, 1), (0, 2), (1, 0), (1, 9)], "query_id long, item_id long"
    )
    per = _recall_envelope(truth, approx, keys, 0.6, per="query_id").collect()
    assert len(per) == 10
    assert {(r["query_id"], r["recall_ok"]) for r in per} == {(0, True), (1, False)}

    def overall(min_recall, **kw):
        return [
            r["ok"]
            for r in _recall_envelope(
                kw.pop("truth", truth), approx, keys, min_recall, flag="ok", **kw
            ).collect()
        ]

    assert overall(0.4) == [True] * 10
    assert overall(0.5) == [False] * 10
    assert overall(0.9, truth=truth.limit(0), rows=truth) == [True] * 10
    with pytest.raises(ValueError, match="whole tenth"):
        _recall_envelope(truth, approx, keys, 0.55)


def test_hard_negative_band_in_and_out(spark):
    """Band classification on planted geometry: a near-duplicate
    (cos ~1) is EXCLUDED above the ceiling, an in-band vector
    (cos = 0.6) is mined, an orthogonal vector (cos = 0) is excluded
    below the floor, and zero-norm vectors never qualify."""
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        hard_negative_topk,
    )

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # the query
        (1, [1.0, 0.001, 0.0, 0.0]), # near-dup: cos ~1, above hi
        (2, [3.0, 4.0, 0.0, 0.0]),   # cos = 0.6: in band
        (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal: below lo
        (4, [0.0, 0.0, 0.0, 0.0]),   # zero norm: never qualifies
        (5, [-1.0, 0.0, 0.0, 0.0]),  # negative dot: never qualifies
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = [
        (r["query_id"], r["item_id"], r["rank"])
        for r in hard_negative_topk(
            df, queries, k=5, lo_num=3, hi_num=15
        ).collect()
    ]
    assert got == [(0, 2, 1)]


def test_hard_negative_overflow_guard_raises(spark):
    """A row whose dim * max_coord^2 exceeds the int64/decimal38-exact
    envelope must raise loudly (r13 ADVICE: the int64 fold previously
    had no guard and would wrap silently where the HUGEINT oracle
    stays exact)."""
    import pytest

    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        hard_negative_topk,
    )

    big = 1.0e7  # quantized to 1e10; 4 * (1e10)^2 = 4e20 >> the bound
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [big, big, 0.0, 0.0]),
        (2, [3.0, 4.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with pytest.raises(Exception, match="int64/decimal38-exact envelope"):
        hard_negative_topk(df, queries, k=5).collect()


def test_gram_tile_envelope_guard_raises_through_both_callers(spark):
    """The shared int64 Gram-tile kernel (dedup._int64_gram_tiles)
    checks its exactness envelope before any int64 product can wrap:
    a block holding a vector outside it must fail the d28 flags and the
    c12 tau sweep alike, while the same block scaled inside it runs."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        embedding_blocked_neardup_flags,
        lsh_threshold_sweep,
    )

    def block(c):
        # c = 10 quantizes to 1e4: dim * maxc^2 = 2e8 exceeds the bound
        # isqrt((2^63 - 1) // 20^2) ~ 1.52e8 of both defaults; c = 1 is in
        rows = [(0, 0, [c, 0.0]), (1, 0, [1.0, 1.0]), (2, 0, [0.5, 0.2])]
        return spark.createDataFrame(
            rows, "vec_id long, label int, embedding array<double>"
        )

    callers = {
        "flags": embedding_blocked_neardup_flags,
        "sweep": lambda df: lsh_threshold_sweep(df, dim=2),
    }
    for name, run in callers.items():
        assert run(block(1.0)).count() > 0, name
        with pytest.raises(Exception, match="int64-exact envelope"):
            run(block(10.0)).collect()


# --- winnowing (d29) ----------------------------------------------------------


def test_winnow_guarantee_and_density(spark):
    """The SIGMOD'03 contract: any shared passage of >= w + k - 1 words
    must yield at least one shared fingerprint, and per-doc selection
    keeps far fewer positions than the full gram set."""
    from airflow_etl_pyspark_inmet_spark.operators.text import (
        winnow_fingerprints,
        winnow_pairs,
    )

    shared = "alpha bravo charlie delta echo foxtrot golf"  # 7 = w + k - 1
    rows = [
        (1, "one two three four five six " + shared + " seven eight nine"),
        (2, shared + " ten eleven twelve thirteen fourteen fifteen sixteen"),
        (3, "totally different words with no overlap at all here friend"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    fp = winnow_fingerprints(df, k=4, w=4)
    rows_fp = fp.collect()
    # guarantee: docs 1 and 2 share at least one selected fingerprint
    h1 = {r["fp_hash"] for r in rows_fp if r["doc_id"] == 1}
    h2 = {r["fp_hash"] for r in rows_fp if r["doc_id"] == 2}
    h3 = {r["fp_hash"] for r in rows_fp if r["doc_id"] == 3}
    assert h1 & h2, "shared 7-word passage produced no shared fingerprint"
    assert not (h1 & h3) and not (h2 & h3)
    # density: selected positions are a strict subset of gram positions
    n_words = len(rows[0][1].split())
    n_grams = n_words - 3
    n_sel = len([r for r in rows_fp if r["doc_id"] == 1])
    assert 0 < n_sel < n_grams
    pairs = winnow_pairs(fp, min_shared=1).collect()
    assert [(p["id_a"], p["id_b"]) for p in pairs] == [(1, 2)]
    p = pairs[0]
    assert p["n_shared"] >= 1 and p["overlap_ppm"] > 0
    assert p["overlap_ppm"] == p["n_shared"] * 1000000 // min(p["fp_a"], p["fp_b"])


def test_winnow_rightmost_min_tiebreak(spark):
    """Repeated identical grams inside one window: the selected position
    must be the RIGHTMOST minimal hash (robust winnowing), which the
    99999999 - pos suffix encodes."""
    from airflow_etl_pyspark_inmet_spark.operators.text import winnow_fingerprints

    # 'a a a a a' -> every 2-gram 'a a' hashes identically
    df = spark.createDataFrame([(1, "a a a a a")], "doc_id int, text string")
    fp = winnow_fingerprints(df, k=2, w=3).collect()
    # windows end at pos 2 and 3; each window's min is the rightmost
    # 'a a' in that window -> fingerprints at positions 2 and 3
    assert sorted(r["fp_pos"] for r in fp) == [2, 3]
    assert len({r["fp_hash"] for r in fp}) == 1


def test_winnow_hot_fingerprint_guard(spark):
    """max_fp_df drops boilerplate hashes shared by too many docs before
    the pair join (the d3 hot-shingle pattern)."""
    from airflow_etl_pyspark_inmet_spark.operators.text import (
        winnow_fingerprints,
        winnow_pairs,
    )

    boiler = "terms of service apply to all users of this site today"
    rows = [(i, boiler) for i in range(1, 6)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    fp = winnow_fingerprints(df, k=4, w=4)
    assert winnow_pairs(fp, min_shared=1).count() == 10  # all 5C2 pairs
    assert winnow_pairs(fp, min_shared=1, max_fp_df=4).count() == 0


def test_winnow_short_doc_empty(spark):
    from airflow_etl_pyspark_inmet_spark.operators.text import winnow_fingerprints

    df = spark.createDataFrame(
        [(1, "only three words"), (2, "")], "doc_id int, text string"
    )
    assert winnow_fingerprints(df, k=4, w=4).count() == 0


# --- simplified silhouette (s13) ---------------------------------------------


def test_silhouette_separated_vs_merged(spark, monkeypatch):
    """Two tight, well-separated blobs -> per-point scores near 1000;
    literal and arrow assigners agree bit for bit; k=1 rejected."""
    import pytest as _pytest

    from airflow_etl_pyspark_inmet_spark.operators import similarity
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        kmeans_silhouette,
    )

    rows = [(i, [0.001 * i] * 4) for i in range(4)] + [
        (10 + i, [100.0 + 0.001 * i] * 4) for i in range(4)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    monkeypatch.setattr(similarity, "_LITERAL_ASSIGN_MAX_K", 10**9)
    lit = kmeans_silhouette(df, k=2, n_rounds=3, scale=1000, dim=4).collect()
    monkeypatch.setattr(similarity, "_LITERAL_ASSIGN_MAX_K", 0)
    arw = kmeans_silhouette(df, k=2, n_rounds=3, scale=1000, dim=4).collect()
    key = lambda r: (r["cluster"], r["n_points"], r["sum_sil_milli"], r["mean_sil_milli"])
    assert sorted(map(key, lit)) == sorted(map(key, arw))
    by_c = {r["cluster"]: r for r in lit}
    assert sum(r["n_points"] for r in lit) == 8
    assert all(r["mean_sil_milli"] >= 990 for r in lit), by_c
    with _pytest.raises(ValueError):
        kmeans_silhouette(df, k=1, dim=4)


def test_silhouette_score_bounds_and_exactness(spark):
    """Scores stay in [0, 1000) and match a driver-side replay of the
    same integer algebra on a degenerate-overlap corpus."""
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        kmeans_silhouette,
    )

    # all points identical -> every dist 0 -> sil = 0 for all
    df = spark.createDataFrame(
        [(i, [1.0] * 4) for i in range(6)], "vec_id long, embedding array<double>"
    )
    out = kmeans_silhouette(df, k=2, n_rounds=2, scale=1000, dim=4).collect()
    assert sum(r["n_points"] for r in out) == 6
    assert all(r["sum_sil_milli"] == 0 and r["mean_sil_milli"] == 0 for r in out)


# --- partition manifest (q113) -------------------------------------------------


def test_partition_manifest_order_invariant_and_sensitive(spark):
    """Reordering rows leaves every channel unchanged; mutating one row
    flips sum and xor; dropping one row flips n_rows."""
    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        partition_manifest,
    )

    rows = [("p1", "a"), ("p1", "b"), ("p1", "c"), ("p2", "d")]
    mk = lambda rs: spark.createDataFrame(rs, "part string, v string")

    def manifest(rs):
        out = partition_manifest(mk(rs), F.col("part"), F.col("v"))
        return {r["part"]: (r["n_rows"], r["hash_sum"], r["hash_xor"]) for r in out.collect()}

    base = manifest(rows)
    assert base == manifest(list(reversed(rows)))  # order-invariant
    mut = manifest([("p1", "a"), ("p1", "B"), ("p1", "c"), ("p2", "d")])
    assert mut["p2"] == base["p2"]  # other partitions untouched
    assert mut["p1"][0] == base["p1"][0] and mut["p1"][1] != base["p1"][1]
    assert mut["p1"][2] != base["p1"][2]
    drop = manifest(rows[1:])
    assert drop["p1"][0] == base["p1"][0] - 1


def test_partition_manifest_python_replay(spark):
    """The 32-bit md5-prefix hash replays in hashlib — the t32 portable
    contract that lets an external auditor verify the manifest."""
    import hashlib

    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        partition_manifest,
    )

    rows = [("p", "hello"), ("p", "world")]
    df = spark.createDataFrame(rows, "part string, v string")
    got = partition_manifest(df, F.col("part"), F.col("v")).collect()[0]
    hs = [int(hashlib.md5(v.encode()).hexdigest()[:8], 16) for _, v in rows]
    assert got["n_rows"] == 2
    assert got["hash_sum"] == sum(hs)
    assert got["hash_xor"] == hs[0] ^ hs[1]


def test_wrap_sum_to_i64_matches_python_two_complement(spark):
    """The sum channel is DEFINED as exact-sum mod 2^64 wrapped into
    signed-bigint range; the wrap must match Python's two's-complement
    reference for sums far past int64 (where a bare bigint sum would
    throw under ANSI), including negative (pre-wrapped) merge inputs."""
    import decimal

    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        wrap_sum_to_i64,
    )

    vals = [2**62, 2**62, 2**62, 123456789, -(2**61), 2**63 - 1]

    def ref(s):
        m = s % 2**64
        return m - 2**64 if m >= 2**63 else m

    df = spark.createDataFrame(
        [(decimal.Decimal(v),) for v in vals], "v decimal(38,0)"
    )
    got = df.agg(
        wrap_sum_to_i64(F.sum("v")).alias("w")
    ).collect()[0]["w"]
    assert got == ref(sum(vals))
    # single-value wraps too (merge inputs arrive pre-wrapped)
    for v in (0, 1, -1, 2**63 - 1, -(2**63)):
        one = spark.createDataFrame(
            [(decimal.Decimal(v),)], "v decimal(38,0)"
        )
        assert (
            one.select(wrap_sum_to_i64(F.col("v")).alias("w"))
            .collect()[0]["w"]
            == ref(v)
        )


def test_blocked_neardup_null_blocks_never_flag(spark):
    """NULL block keys mean "no block": identical vectors sharing a NULL
    label must NOT flag each other (the SQL-oracle join semantics), but
    every vector still gets a row; the same vectors under a real label
    DO flag — so the split isn't just dropping rows."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        embedding_blocked_neardup_flags,
    )

    v = [1.0] + [0.0] * 63
    rows = [(1, None, v), (2, None, v), (3, "a", v), (4, "a", v)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, label string, embedding array<double>"
    )
    got = {
        r["vec_id"]: r["neardup"]
        for r in embedding_blocked_neardup_flags(df).collect()
    }
    assert got == {1: False, 2: False, 3: True, 4: True}


def test_lsh_threshold_sweep_null_blocks_consistent(spark):
    """NULL-label near-dup pairs must be excluded from the exact tier
    (matching the candidate tier's equality filter), so lsh_recall_ok
    holds on corpora with NULL labels instead of spuriously failing."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        lsh_threshold_sweep,
    )

    v = [1.0] + [0.0] * 63
    w = [0.0, 1.0] + [0.0] * 62
    rows = [(1, None, v), (2, None, v), (3, "a", v), (4, "a", v), (5, "a", w)]
    df = spark.createDataFrame(
        rows, "vec_id bigint, label string, embedding array<double>"
    )
    out = {
        r["tau_twentieths"]: (r["n_pairs_exact"], r["lsh_recall_ok"])
        for r in lsh_threshold_sweep(df, taus=(7, 13)).collect()
    }
    # only the labeled identical pair (3,4) counts; NULLs contribute none
    assert out == {7: (1, True), 13: (1, True)}


def test_blocked_neardup_dim_guard_rejects_wide_dots(spark):
    """The in-kernel int64-exactness guard must bound the actual dot
    (dim * max_coord^2), not coordinates alone: high-magnitude coords
    that individually look sane but whose Gram products could wrap
    int64 are rejected loudly instead of silently corrupting flags."""
    import pytest

    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        embedding_blocked_neardup_flags,
    )

    v = [5.0] * 64  # maxc=5000 at scale=1000: 64*5000^2 = 1.6e9 > bound
    df = spark.createDataFrame(
        [(1, "a", v), (2, "a", v)],
        "vec_id bigint, label string, embedding array<double>",
    )
    with pytest.raises(Exception, match="int64-exact envelope"):
        embedding_blocked_neardup_flags(df).collect()


# --- streaming manifest maintenance (st15) ------------------------------------


def test_streaming_manifest_equals_batch_and_split_invariant(spark):
    """The streamed fold must equal the batch manifest bit for bit,
    independent of how the feed splits into micro-batches (2 vs 5
    files), because all three channels are commutative monoids."""
    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        partition_manifest,
    )
    from airflow_etl_pyspark_inmet_spark.streaming.windows import (
        streaming_manifest_maintenance,
    )

    rows = [(f"p{i % 3}", f"row-{i}") for i in range(40)]
    df = spark.createDataFrame(rows, "part string, repr string")
    batch = {
        r["part"]: (r["n_rows"], r["hash_sum"], r["hash_xor"])
        for r in partition_manifest(
            df, F.col("part"), F.col("repr")
        ).collect()
    }
    for n_files in (2, 5):
        streamed = {
            r["part"]: (r["n_rows"], r["hash_sum"], r["hash_xor"])
            for r in streaming_manifest_maintenance(
                spark, df, "part", "repr", n_files=n_files
            ).collect()
        }
        assert streamed == batch, f"n_files={n_files}"


def test_streaming_dedup_equals_batch_and_split_invariant(spark):
    """The streamed dedup manifest must equal the batch group-by bit for
    bit regardless of micro-batch splits (MIN/SUM are commutative
    monoids), with planted duplicates straddling batch boundaries."""
    from airflow_etl_pyspark_inmet_spark.streaming.windows import (
        streaming_exact_dedup,
    )

    rows = [(i, f"text-{i % 7}") for i in range(40)]  # 7 contents
    df = spark.createDataFrame(rows, "doc_id long, text string")
    batch = {
        r["text"]: (min(i for i, t in rows if t == r["text"]),
                    sum(1 for _, t in rows if t == r["text"]))
        for r in df.select("text").distinct().collect()
    }
    want = sorted(batch.values())
    for n_files in (2, 5):
        got = sorted(
            (r["doc_id"], r["n_copies"])
            for r in streaming_exact_dedup(
                spark, df, "doc_id", "text", n_files=n_files
            ).collect()
        )
        assert got == want, f"n_files={n_files}"


def test_streaming_band_manifest_equals_batch_and_split_invariant(spark):
    """The streamed banded-MinHash manifest must equal the one-shot
    batch manifest bit for bit regardless of micro-batch splits
    (MIN/SUM monoids over per-doc band keys), with near-dup docs
    planted to straddle batch boundaries; a shared-content group must
    collide on every band (identical signatures)."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        portable_minhash_bands,
    )
    from airflow_etl_pyspark_inmet_spark.streaming.windows import (
        streaming_band_manifest,
    )

    words = "alpha bravo charlie delta echo foxtrot golf hotel india"
    rows = [(i, words + f" tail{i % 5}") for i in range(30)]  # 5 contents
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = sorted(
        (r["band"], r["bkey"], r["keeper_id"], r["n_docs"])
        for r in portable_minhash_bands(df, "doc_id", "text")
        .groupBy("band", "bkey")
        .agg(
            F.min("doc_id").alias("keeper_id"),
            F.count(F.lit(1)).alias("n_docs"),
        )
        .collect()
    )
    assert any(n >= 2 for *_, n in want), "no collision bucket planted"
    for n_files in (2, 5):
        got = sorted(
            (r["band"], r["bkey"], r["keeper_id"], r["n_docs"])
            for r in streaming_band_manifest(
                spark, df, "doc_id", "text", n_files=n_files
            ).collect()
        )
        assert got == want, f"n_files={n_files}"


# --- BM25 (t38) ---------------------------------------------------------------


def test_bm25_exact_python_replay(spark):
    """The rational-idf BM25 replays in plain Python integer arithmetic
    (the portable contract), and ranking prefers the doc with more
    query-term mass at equal length."""
    from airflow_etl_pyspark_inmet_spark.operators.text import bm25_topk

    rows = [
        (1, "apple apple banana cherry"),
        (2, "apple banana banana banana"),
        (3, "cherry date elderberry fig"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r["doc_id"]: r for r in bm25_topk(df, n_terms=2, top=3).collect()}

    # replay: top-2 terms by (freq desc, tok asc) -> apple(3), banana(4)
    # -> banana, apple
    docs = {i: t.split() for i, t in rows}
    dl = {i: len(t) for i, t in docs.items()}
    n_docs, total = len(dl), sum(dl.values())
    avgdl = 1000 * total // n_docs
    freqs = {}
    for t in docs.values():
        for w in t:
            freqs[w] = freqs.get(w, 0) + 1
    terms = sorted(freqs, key=lambda w: (-freqs[w], w))[:2]
    df_t = {
        w: sum(1 for t in docs.values() if w in t) for w in terms
    }
    exp = {}
    for i, t in docs.items():
        s, hit = 0, 0
        for w in terms:
            tf = t.count(w)
            if not tf:
                continue
            hit += 1
            idf = (n_docs - df_t[w]) * 1000000 // df_t[w]
            s += idf * 44 * tf * avgdl // (
                20 * tf * avgdl + 6 * avgdl + 18 * dl[i] * 1000
            )
        if hit:
            exp[i] = (s, hit)
    for i, (s, hit) in exp.items():
        assert (out[i]["score_ppm"], out[i]["n_terms_hit"]) == (s, hit), i
    assert 3 not in out  # no query term -> not scored
    ranked = sorted(out.values(), key=lambda r: r["rank"])
    assert [r["doc_id"] for r in ranked] == sorted(
        exp, key=lambda i: (-exp[i][0], i)
    )


def test_bm25_length_normalization(spark):
    """Same tf, longer doc -> strictly lower score (the b > 0 length
    penalty BM25 exists for)."""
    from airflow_etl_pyspark_inmet_spark.operators.text import bm25_topk

    rows = [
        (1, "term " * 2 + "pad " * 2),
        (2, "term " * 2 + "pad " * 20),
        (3, "other other other filler filler filler words words"),
    ]
    df = spark.createDataFrame(
        [(i, t.strip()) for i, t in rows], "doc_id int, text string"
    )
    # top-2 terms: pad(22), other/filler/words(3) tie -> 'filler';
    # 'pad' has df=2 < n_docs=3, so its idf is positive
    out = {r["doc_id"]: r["score_ppm"] for r in bm25_topk(df, n_terms=2, top=3).collect()}
    assert out[1] > out[2] > 0


def test_silhouette_literal_arrow_parity_k8(spark, monkeypatch):
    """Literal struct-sort and the Arrow two-distance argmin agree bit
    for bit at a non-trivial k on irregular data (the d27 parity
    contract extended to the silhouette's second distance)."""
    import random

    from airflow_etl_pyspark_inmet_spark.operators import similarity
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        kmeans_silhouette,
    )

    rng = random.Random(7)
    rows = [
        (i, [rng.uniform(-2, 2) for _ in range(8)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    key = lambda r: (r["cluster"], r["n_points"], r["sum_sil_milli"], r["mean_sil_milli"])
    monkeypatch.setattr(similarity, "_LITERAL_ASSIGN_MAX_K", 10**9)
    lit = sorted(
        map(key, kmeans_silhouette(df, k=8, n_rounds=3, dim=8).collect())
    )
    monkeypatch.setattr(similarity, "_LITERAL_ASSIGN_MAX_K", 0)
    arw = sorted(
        map(key, kmeans_silhouette(df, k=8, n_rounds=3, dim=8).collect())
    )
    assert lit == arw


def test_semdedup_k_picks_the_assignment_path(spark, monkeypatch):
    """d27 runs SemDeDup at k=64, beyond ``_LITERAL_ASSIGN_MAX_K``, so
    its Lloyd argmin plans an Arrow Python eval node; at k=8 the
    literal struct argmin plans none. The assignment frame sits behind
    a lineage checkpoint, so the audit segments are inspected too."""
    import random

    from airflow_etl_pyspark_inmet_spark.operators import util
    from airflow_etl_pyspark_inmet_spark.operators.dedup import semdedup

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    def arrow_nodes(k: int) -> int:
        monkeypatch.setattr(util, "AUDIT_SEGMENTS", [])
        out = semdedup(df, k=k, n_rounds=1)
        return sum(map(_arrow_eval_nodes, [out, *util.AUDIT_SEGMENTS]))

    assert arrow_nodes(64) > 0
    assert arrow_nodes(8) == 0


# --- rendezvous sharding (x17) --------------------------------------------------


def test_rendezvous_minimal_movement_vs_mod(spark):
    """Growing n -> n+1 moves ~1/(n+1) of docs under rendezvous but
    ~n/(n+1) under mod-hashing; moved docs all land on the NEW shard;
    assignment replays in hashlib."""
    import hashlib

    from airflow_etl_pyspark_inmet_spark.operators.mixing import (
        rendezvous_shard_col,
        rendezvous_shards,
    )

    n = 2000
    df = spark.createDataFrame([(i,) for i in range(n)], "doc_id long")
    out = df.select(
        "doc_id",
        rendezvous_shard_col("doc_id", 8).alias("s8"),
        rendezvous_shard_col("doc_id", 9).alias("s9"),
    ).collect()

    def hrw(i, ns):
        return max(
            range(ns),
            key=lambda s: hashlib.md5(f"{s}:{i}".encode()).hexdigest()
            + f"{s:04d}",
        )

    moved = 0
    for r in out:
        assert r["s8"] == hrw(r["doc_id"], 8)
        assert r["s9"] == hrw(r["doc_id"], 9)
        if r["s8"] != r["s9"]:
            moved += 1
            assert r["s9"] == 8  # movers only ever go TO the new shard
    # expected movement = n/9 ~ 222; mod-hash moves ~ n*8/9 ~ 1778
    assert moved < n / 9 * 1.5, moved
    mod_moved = sum(1 for i in range(n) if i % 8 != i % 9)
    assert mod_moved > n / 2  # the contrast rendezvous exists for

    # shards are reasonably balanced (hash-uniform)
    from collections import Counter

    c = Counter(r["s8"] for r in out)
    assert len(c) == 8 and max(c.values()) < 2.0 * n / 8

    import pytest as _pytest

    with _pytest.raises(ValueError):
        rendezvous_shards(df, 10000)


# --- power iteration (s14) -----------------------------------------------------


def test_power_iteration_python_replay_and_alignment(spark):
    """Exact pure-Python replay of the whole trajectory (gram ->
    3 rounds -> projection), and the recovered direction aligns with a
    planted dominant axis."""
    import random

    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        power_iteration_projection,
    )

    rng = random.Random(11)
    dim, scale = 6, 1_000_000
    # dominant variance on axis 2
    rows = [
        (
            i,
            [
                rng.uniform(-0.05, 0.05) if d != 2 else rng.uniform(-1.5, 1.5)
                for d in range(dim)
            ],
        )
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {
        r["vec_id"]: r["proj_q"]
        for r in power_iteration_projection(df, n_rounds=3, dim=dim).collect()
    }

    import math

    Q = {i: [math.floor(x * scale) for x in v] for i, v in rows}
    G = [
        [sum(Q[i][a] * Q[i][b] for i in Q) for b in range(dim)]
        for a in range(dim)
    ]
    v = [scale] * dim
    for _ in range(3):
        w = [sum(G[a][b] * v[b] for b in range(dim)) for a in range(dim)]
        m = max(max(abs(x) for x in w), 1)
        v = [((x * scale) - ((x * scale) % m)) // m for x in w]
    exp = {i: sum(q * c for q, c in zip(Q[i], v)) for i, q in Q.items()}
    assert got == exp
    # alignment: the dominant component of v is axis 2
    assert abs(v[2]) == max(abs(c) for c in v)
    assert abs(v[2]) == scale  # renormalized so max|v| == scale


# --- SSL-prototypes pruning (c11) ----------------------------------------------


def test_prototype_pruning_quota_and_ranking(spark):
    """Per-cluster keeps are exactly ceil(n * 7/10), the kept set is the
    distance-closest prefix, and every cluster keeps >= 1."""
    import random

    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        prototype_pruning,
    )

    rng = random.Random(3)
    # two separated blobs of different sizes (13 and 7)
    rows = [
        (i, [rng.uniform(-0.2, 0.2) for _ in range(4)]) for i in range(13)
    ] + [
        (100 + i, [50.0 + rng.uniform(-0.2, 0.2) for _ in range(4)])
        for i in range(7)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = prototype_pruning(
        df, k=2, n_rounds=3, dim=4, keep_num=7, keep_den=10
    ).collect()
    from collections import defaultdict

    by_c = defaultdict(list)
    for r in out:
        by_c[r["cluster"]].append(r)
    assert sum(len(v) for v in by_c.values()) == 20
    for c, rs in by_c.items():
        n = len(rs)
        quota = (n * 7 + 9) // 10
        kept = [r for r in rs if r["kept"] == 1]
        assert len(kept) == quota >= 1, (c, n)
        # kept set = rank prefix = smallest distances
        max_kept = max((r["dist_q"], r["vec_id"]) for r in kept)
        dropped = [r for r in rs if r["kept"] == 0]
        if dropped:
            min_drop = min((r["dist_q"], r["vec_id"]) for r in dropped)
            assert max_kept < min_drop
        assert sorted(r["rank_in_cluster"] for r in rs) == list(
            range(1, n + 1)
        )


# --- LSH threshold sweep (c12) -------------------------------------------------


def test_lsh_threshold_sweep_counts_and_envelope(spark):
    """Hand corpus: an identical pair (cos=1) crosses every tau, an
    orthogonal pair crosses none; the production LSH tier recalls the
    identical pair so every envelope holds."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        lsh_threshold_sweep,
    )

    d = 8
    v = [1.0] * d
    orth_a = [1.0, 0.0] * (d // 2)
    orth_b = [0.0, 1.0] * (d // 2)
    rows = [
        (1, "A", v),
        (2, "A", v),  # identical pair in block A
        (3, "B", orth_a),
        (4, "B", orth_b),  # orthogonal pair in block B
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label string, embedding array<double>"
    )
    out = {
        r["tau_twentieths"]: r
        for r in lsh_threshold_sweep(df, taus=(7, 11, 19), dim=d).collect()
    }
    assert set(out) == {7, 11, 19}
    for t, r in out.items():
        assert r["n_pairs_exact"] == 1, t  # only the identical pair
        assert bool(r["lsh_recall_ok"]) is True, t


# --- greedy decode (t39) -------------------------------------------------------


def test_greedy_decode_chain_ties_and_deadend(spark):
    """Known corpus: seed = most frequent token, argmax continuations
    with lexical tie-break, stop at a token with no continuation."""
    from airflow_etl_pyspark_inmet_spark.operators.text import greedy_decode

    # 'a' is most frequent; a->b (2) beats a->c (1); b has tie c/d (1
    # each) -> lexically 'c'; c->end; 'end' has no continuation.
    rows = [
        (1, "a b c end"),
        (2, "a b"),
        (3, "a c a a"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    out = sorted(
        ((r["step"], r["token"]) for r in greedy_decode(df, n_steps=10).collect())
    )
    # a(5) most frequent; a->{b:2, c:1, a:1} -> b; b->{c:1} -> c;
    # c->{end:1, a:1} -> tie on cnt, lexical min 'a'; a->b loop...
    # chain: a b c a b c a b c a  (10 steps, cycle)
    assert out == [
        (0, "a"), (1, "b"), (2, "c"), (3, "a"), (4, "b"),
        (5, "c"), (6, "a"), (7, "b"), (8, "c"), (9, "a"),
    ]
    # dead-end: corpus whose chain hits a terminal token
    df2 = spark.createDataFrame([(1, "x y z")], "doc_id int, text string")
    out2 = sorted(
        ((r["step"], r["token"]) for r in greedy_decode(df2, n_steps=10).collect())
    )
    assert out2 == [(0, "x"), (1, "y"), (2, "z")]  # z has no continuation


# --- late interaction (s15) ----------------------------------------------------


def test_late_interaction_maxsim_vs_bruteforce(spark):
    """MaxSim replays in pure Python (slice, dot, max, sum, rank), and
    a doc sharing only ONE slice with the query still scores that
    slice's full dot (the per-slice max binding s1's single dot
    can't express)."""
    import math

    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        late_interaction_topk,
    )

    dim, n_sub, sub = 8, 4, 2
    rows = [
        (0, [1.0, 2.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),   # query
        (1, [0.0, 0.0, 1.0, 2.0, 0.0, 0.0, 0.0, 0.0]),   # shares slice CONTENT at another position
        (2, [1.0, 2.0, 1.0, 2.0, 1.0, 2.0, 1.0, 2.0]),   # strong everywhere
        (3, [-1.0, -2.0, -1.0, -2.0, -1.0, -2.0, -1.0, -2.0]),  # anti
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = {
        r["item_id"]: (r["maxsim_q"], r["rank"])
        for r in late_interaction_topk(
            df, queries, k=4, n_sub=n_sub, dim=dim
        ).collect()
    }

    def q(v):
        return [math.floor(x * 1000) for x in v]

    def maxsim(qv, dv):
        s = 0
        for i in range(n_sub):
            qs = qv[i * sub : (i + 1) * sub]
            s += max(
                sum(a * b for a, b in zip(qs, dv[j * sub : (j + 1) * sub]))
                for j in range(n_sub)
            )
        return s

    qv = q(rows[0][1])
    exp = {i: maxsim(qv, q(v)) for i, v in rows}
    for i, (score, _) in got.items():
        assert score == exp[i], i
    # ranking: 2 (strong everywhere) > 0 (self) ... verify order matches scores
    order = [i for i, _ in sorted(got.items(), key=lambda kv: kv[1][1])]
    assert order == sorted(exp, key=lambda i: (-exp[i], i))
    # doc 1's misplaced slice still earns the full dot via the max
    assert exp[1] > 0


# --- event transitions (q114) --------------------------------------------------


def test_event_transitions_matrix_and_ppm(spark):
    """Known timelines: per-user lead pairs, counts, and row-normalized
    ppm that sums to ~1e6 per source type."""
    import datetime as dt

    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        event_transitions,
    )

    t0 = dt.datetime(2026, 1, 1)
    rows = [
        # user 1: a -> b -> a -> c
        (1, t0, 1, "a"), (2, t0.replace(hour=1), 1, "b"),
        (3, t0.replace(hour=2), 1, "a"), (4, t0.replace(hour=3), 1, "c"),
        # user 2: a -> b  (plus a tie broken by event_id: 5 before 6)
        (5, t0, 2, "a"), (6, t0, 2, "b"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {
        (r["event_type"], r["next_type"]): (r["n_trans"], r["p_ppm"])
        for r in event_transitions(df).collect()
    }
    assert out == {
        ("a", "b"): (2, 666666),  # a -> b twice of a's 3 exits
        ("a", "c"): (1, 333333),
        ("b", "a"): (1, 1000000),
    }


# --- lang-ID eval (t40) --------------------------------------------------------


def test_langid_eval_confusion_and_shares(spark):
    """Hand corpus: known predictions -> exact confusion cells, row
    shares summing to 1e6 per gold language, correctness flags."""
    from airflow_etl_pyspark_inmet_spark.operators.text import lang_id

    rows = [
        (1, "the cat and the dog", "en"),    # -> en (correct)
        (2, "el que la de", "es"),           # -> es (correct)
        (3, "zzz qqq xxx", "en"),            # -> unknown (wrong)
        (4, "the of and a", "es"),           # -> en (wrong)
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string, lang string")
    pred = lang_id(df).select("lang", "lang_pred")
    conf = (
        pred.groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .collect()
    )
    cells = {(r["lang"], r["lang_pred"]): r["n_docs"] for r in conf}
    assert cells == {
        ("en", "en"): 1,
        ("en", "unknown"): 1,
        ("es", "es"): 1,
        ("es", "en"): 1,
    }


# --- Bloom-gated incremental dedup (d30) ---------------------------------------


def test_bloom_gated_dedup_no_false_negatives_and_keeper(spark):
    """Hand corpus: every true dup in the batch is bloom-positive AND
    is_dup with the min-corpus-id keeper (Bloom filters cannot miss);
    new content is never is_dup; bloom_positive on new content is
    allowed (false positive) but never flips is_dup."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        bloom_gated_dedup,
    )

    corpus = spark.createDataFrame(
        [(10, "alpha beta"), (20, "gamma delta"), (30, "alpha beta")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100, "alpha beta"), (200, "epsilon zeta"), (300, "gamma delta")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["bloom_positive"], r["is_dup"], r["keeper_id"])
        for r in bloom_gated_dedup(corpus, batch).collect()
    }
    assert len(out) == 3
    assert out[100] == (True, True, 10)  # dup group keeper = min corpus id
    assert out[300] == (True, True, 20)
    pos, dup, keeper = out[200]
    assert dup is False and keeper is None  # new content never a dup


def test_bloom_position_set_is_bounded(spark):
    """The position table never exceeds m rows regardless of corpus
    size — the property that makes the broadcast membership join
    scale-safe."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        bloom_position_set,
    )

    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc "), F.col("id")).alias("text"),
    )
    m = 64
    assert bloom_position_set(docs, "text", m=m, k=3).count() <= m


# --- streaming cell manifest (st18) --------------------------------------------


def test_streaming_cell_manifest_equals_batch_and_split_invariant(spark):
    """The streamed sign-LSH cell manifest must equal the one-shot
    batch group-by bit for bit regardless of micro-batch splits
    (SUM/MIN/SUM monoids over per-vector cells)."""
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        portable_sign_cells,
    )
    from airflow_etl_pyspark_inmet_spark.streaming.windows import (
        streaming_cell_manifest,
    )

    rows = [
        (i, [((i * 7 + j * 3) % 11 - 5) / 4.0 for j in range(8)])
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    want = sorted(
        map(
            tuple,
            portable_sign_cells(df)
            .groupBy("cell")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
                F.min("vec_id").alias("min_vec_id"),
                F.sum("norm_q").cast("bigint").alias("mass_q"),
            )
            .collect(),
        )
    )
    assert any(n >= 2 for _, n, *_ in want), "no shared cell planted"
    for n_files in (2, 5):
        got = sorted(
            map(
                tuple,
                streaming_cell_manifest(spark, df, n_files=n_files).collect(),
            )
        )
        assert got == want, f"n_files={n_files}"


# --- semantic decontamination (x19) --------------------------------------------


def test_semantic_decontam_flags_planted_leak(spark):
    """A train vector that is a scaled copy of an eval vector (cosine 1)
    must flag; an orthogonal one must not; a zero-norm vector never
    flags (undefined cosine)."""
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        semantic_decontam_flags,
    )

    evalset = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0])], "vec_id long, embedding array<float>"
    )
    train = spark.createDataFrame(
        [
            (10, [2.0, 0.0, 0.0, 0.0]),   # scaled copy -> cosine 1
            (11, [0.0, 1.0, 0.0, 0.0]),   # orthogonal -> cosine 0
            (12, [0.0, 0.0, 0.0, 0.0]),   # zero norm -> never flags
        ],
        "vec_id long, embedding array<float>",
    )
    out = {
        r["vec_id"]: (r["n_hits"], r["contaminated"])
        for r in semantic_decontam_flags(train, evalset, tau_num=14).collect()
    }
    assert out == {10: (1, True), 11: (0, False), 12: (0, False)}


# --- Bloom FPR calibration sweep (c13) ------------------------------------------


def test_bloom_fpr_sweep_monotone_and_consistent(spark):
    """More bits/doc never increases the measured FPR (the position
    space only grows), true-dup counts are config-invariant, and every
    config finds all true dups (no false negatives)."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        bloom_fpr_sweep,
    )

    corpus = spark.createDataFrame(
        [(i, f"content number {i}") for i in range(60)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(100 + i, f"content number {i}") for i in range(10)]  # 10 dups
        + [(200 + i, f"fresh content {i}") for i in range(30)],  # 30 new
        "doc_id long, text string",
    )
    rows = {
        r["bits_per_doc"]: r
        for r in bloom_fpr_sweep(corpus, batch, bits_list=(2, 8)).collect()
    }
    assert set(rows) == {2, 8}
    for b, r in rows.items():
        assert r["n_batch"] == 40
        assert r["n_true_dup"] == 10
        # Bloom filters cannot miss: every true dup is positive
        assert r["n_positive"] >= 10
        assert r["n_false_pos"] == r["n_positive"] - 10
    assert rows[8]["fpr_ppm"] <= rows[2]["fpr_ppm"]


# --- routed graph-ANN serving (s19) ---------------------------------------------


def test_graph_ann_routed_finds_planted_cluster(spark):
    """A query whose near-duplicates form a tight cluster must get them
    back from the routed walk: the IVF router lands the entries inside
    the cluster's cell, the beam walk does the rest."""
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        graph_ann_routed_topk,
        nn_descent_knn_graph,
    )

    # 3 tight clusters of 12 around orthogonal axes in 8-d
    rows = []
    for c in range(3):
        for i in range(12):
            v = [0.0] * 8
            v[c] = 1.0
            v[(c + 3) % 8] = 0.01 * i  # slight spread, deterministic
            rows.append((c * 100 + i, v))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    queries = df.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    graph = nn_descent_knn_graph(df, k=4, n_rounds=2, scale=1000)
    got = {
        r["item_id"]
        for r in graph_ann_routed_topk(
            df, queries, graph, k=5, n_cells=4, n_probe=2, per_cell=3
        ).collect()
    }
    # all results must come from the query's own cluster (ids 1..11)
    assert got and got <= set(range(1, 12)), got


def test_nn_descent_lsh_init_survives_total_skew(spark):
    """Pathological skew: every vector identical -> ONE sign-LSH cell.
    The occupancy sub-bucketing must keep the init pair join bounded
    (not occ^2) and the build must still return k neighbors per node
    with dist_q = 0."""
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        nn_descent_knn_graph,
    )

    df = spark.createDataFrame(
        [(i, [1.0, 2.0, 3.0, 4.0]) for i in range(300)],
        "vec_id long, embedding array<float>",
    )
    out = nn_descent_knn_graph(df, k=3, n_rounds=1, scale=1000).collect()
    assert len(out) == 300 * 3
    assert all(r["dist_q"] == 0 for r in out)


def test_streaming_decontam_census_equals_batch_and_split_invariant(spark):
    """The streamed leak census equals the one-shot batch pair count per
    eval item regardless of micro-batch splits (SUM monoid), with a
    planted leak and a zero-hit eval item both present."""
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        semantic_decontam_pairs,
    )
    from airflow_etl_pyspark_inmet_spark.streaming.windows import (
        streaming_decontam_census,
    )

    evalset = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    train = spark.createDataFrame(
        [(100 + i, [1.0, 0.01 * i, 0.0, 0.0]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    batch = dict.fromkeys([0, 1], 0)
    for r in (
        semantic_decontam_pairs(train, evalset, tau_num=14)
        .groupBy("eval_id")
        .count()
        .collect()
    ):
        batch[r["eval_id"]] = r["count"]
    assert batch[0] == 20 and batch[1] == 0  # planted leak + zero row
    for n_files in (2, 5):
        got = {
            r["eval_id"]: r["n_hits"]
            for r in streaming_decontam_census(
                spark, train, evalset, tau_num=14, n_files=n_files
            ).collect()
        }
        assert got == batch, f"n_files={n_files}"


def test_envelope_guard_raises_outside_and_on_overflow(spark):
    """The shared exactness envelope must RAISE for rows outside the
    int64/decimal38 bound — including rows so extreme the decimal
    check itself overflows to NULL (the r14 review bug: NULL used to
    be treated as in-envelope)."""
    import pytest

    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        semantic_decontam_flags,
    )

    evalset = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    # coordinate ~1.25e15 -> quantized ~1.25e18 -> dim*m^2 overflows
    # the decimal(38,0) comparison itself (NULL verdict must raise)
    train = spark.createDataFrame(
        [(10, [1.25e15, 0.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(Exception, match="envelope"):
        semantic_decontam_flags(train, evalset).collect()


def test_semantic_decontam_flags_empty_evalset(spark):
    """Empty eval set -> every train row present with n_hits=0,
    contaminated=false (the contract is one row per train vector; an
    empty frame here would silently drop the whole corpus downstream)."""
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        semantic_decontam_flags,
    )

    evalset = spark.createDataFrame(
        [], "vec_id long, embedding array<float>"
    )
    train = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    out = {
        r["vec_id"]: (r["n_hits"], r["contaminated"])
        for r in semantic_decontam_flags(train, evalset).collect()
    }
    assert out == {10: (0, False), 11: (0, False)}


# --- ADVICE r15 regression tests ------------------------------------------------


def test_bloom_gated_dedup_prebuilt_filter_requires_m(spark):
    """A prebuilt bloom without its build-time m must RAISE: deriving m
    from the current (grown) corpus mis-mods every probe position and
    silently produces false negatives — the exact deployment the
    build/serve split targets (ADVICE r15 medium)."""
    import pytest

    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        bloom_gated_dedup,
        bloom_position_set,
    )

    corpus = spark.createDataFrame(
        [(10, "alpha"), (20, "beta")], "doc_id long, text string"
    )
    batch = spark.createDataFrame([(100, "alpha")], "doc_id long, text string")
    bloom = bloom_position_set(corpus, "text", m=64, k=3)
    with pytest.raises(ValueError, match="build-time `m` and `k`"):
        bloom_gated_dedup(corpus, batch, bloom=bloom)
    # ...and a build-time k is required for the same reason (self-review
    # extension: serving with a different k probes never-set positions)
    with pytest.raises(ValueError, match="build-time `m` and `k`"):
        bloom_gated_dedup(corpus, batch, bloom=bloom, m=64)
    # the valid prebuilt path (bloom + its m + its k) works end to end
    out = {
        r["doc_id"]: r["is_dup"]
        for r in bloom_gated_dedup(
            corpus, batch, bloom=bloom, m=64, k=3
        ).collect()
    }
    assert out == {100: True}


def test_envelope_bound_excludes_decimal38_corner():
    """The static envelope bound must keep max(d2, hi^2) * dot^2 STRICTLY
    below 10^38: at the corner 10^38 // 400 = (5e17)^2 exactly, so an
    inclusive bound admits a dot whose banded square equals 10^38 —
    overflowing decimal(38,0) to NULL and silently dropping the pair
    instead of raising (ADVICE r15)."""
    import math

    for den2 in (400, 1, 256):
        bound = min(2**63 - 1, math.isqrt((10**38 - 1) // den2))
        assert den2 * bound * bound < 10**38
        # and it is tight: one step up crosses (when under the int64 cap)
        if bound < 2**63 - 1:
            assert den2 * (bound + 1) * (bound + 1) >= 10**38


def test_graph_ann_routed_query_with_no_entries_still_answered(spark):
    """A caller-routed query whose entry_pairs are empty (all probed
    cells empty) must still appear in the output via the strided-spread
    fallback rather than silently vanishing (ADVICE r15)."""
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        graph_ann_topk,
    )

    items = spark.createDataFrame(
        [(i, [float(i % 5), float((i * 3) % 7), 1.0]) for i in range(20)],
        "vec_id long, embedding array<float>",
    )
    graph = spark.createDataFrame(
        [(i, (i + 1) % 20) for i in range(20)],
        "vec_id long, nbr_id long",
    )
    queries = spark.createDataFrame(
        [(1000, [1.0, 0.0, 1.0]), (2000, [0.0, 1.0, 1.0])],
        "query_id long, embedding array<float>",
    )
    # only query 1000 is routed; 2000 has no entry pair and no twin node
    entry_pairs = spark.createDataFrame(
        [(1000, 3)], "query_id long, item_id long"
    )
    out = graph_ann_topk(
        items, queries, graph, k=3, beam=4, n_hops=2, entry_pairs=entry_pairs
    )
    got = {r["query_id"] for r in out.collect()}
    assert got == {1000, 2000}


def test_portable_sign_cells_rejects_wide_cells(spark):
    """n_planes >= 32 would wrap the 32-bit int cell bit-pattern
    silently (1 << 31 hits the sign bit) — must raise (ADVICE r15)."""
    import pytest

    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        portable_sign_cells,
    )

    df = spark.createDataFrame(
        [(1, [1.0, -1.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="n_planes"):
        portable_sign_cells(df, n_planes=32)
    with pytest.raises(ValueError, match="n_planes"):
        portable_sign_cells(df, n_planes=0)
    # the default path is unaffected
    assert portable_sign_cells(df, n_planes=8).count() == 1


def test_integer_histogram_clamps_and_counts(spark):
    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        integer_histogram,
    )

    df = spark.createDataFrame(
        [(v,) for v in [-5, 0, 1, 9, 10, 15, 99, 100, 250]], "v long"
    )
    out = {
        r["bin"]: (r["n_rows"], r["min_value"], r["max_value"])
        for r in integer_histogram(df, F.col("v"), 10, 0, 100).collect()
    }
    # width 10; -5 clamps into bin 0, 100/250 clamp into bin 9
    assert out[0] == (4, -5, 9)
    assert out[1] == (2, 10, 15)
    assert out[9] == (3, 99, 250)
    assert sum(n for n, *_ in out.values()) == 9


def test_histogram_quantiles_matches_exact_ranks(spark):
    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        histogram_quantiles,
    )

    # values 1..1000; with 1000 bins of width 1 the sketch is exact
    df = spark.range(1, 1001).select(F.col("id").alias("v"))
    out = {
        r["q_ppm"]: (r["bin_lo"], r["bin_hi"], r["n_le"])
        for r in histogram_quantiles(
            df, F.col("v"), 1000, [500000, 990000, 1000000]
        ).collect()
    }
    assert out[500000] == (500, 501, 500)   # p50 = 500
    assert out[990000] == (990, 991, 990)   # p99 = 990
    assert out[1000000] == (1000, 1001, 1000)  # max lands in top bin


def test_embedding_qc_counters(spark):
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        embedding_qc,
    )

    rows = [
        (1, 0, [1.0, 2.0]),
        (2, 0, None),          # null
        (3, 0, [1.0]),         # dim mismatch
        (4, 0, [0.0, 0.0]),    # zero norm
        (5, 1, [0.5, -0.5]),
        (6, 0, [None, 3.0]),   # NULL element (ADVICE r16): its own
        (7, 0, [4.0, None]),   # counter, fenced out of the envelope
    ]
    df = spark.createDataFrame(
        rows, "vec_id long, label int, embedding array<float>"
    )
    out = {
        r["label"]: r.asDict()
        for r in embedding_qc(df, dim_expected=2).collect()
    }
    l0 = out[0]
    assert (l0["n_vecs"], l0["n_null"], l0["n_null_elem"],
            l0["n_dim_mismatch"], l0["n_zero_norm"]) == (6, 1, 2, 1, 1)
    # norms on the d25 grid: [1,2] -> 1e6+4e6 = 5_000_000; the NULL-
    # element rows must NOT poison the envelope (sum stays non-NULL)
    assert l0["max_norm_q"] == 5_000_000 and l0["min_norm_q"] == 0
    assert l0["sum_norm_q"] == 5_000_000
    l1 = out[1]
    # floor(0.5*1000)^2 + floor(-0.5*1000)^2 = 500^2 + (-500)^2
    assert l1["sum_norm_q"] == 500_000
    assert l1["n_null_elem"] == 0


def test_streaming_histogram_equals_batch(spark):
    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        integer_histogram,
    )
    from airflow_etl_pyspark_inmet_spark.streaming.windows import (
        streaming_histogram,
    )

    df = spark.range(200).select((F.col("id") * 7 % 160).alias("v"))
    want = sorted(
        map(tuple, integer_histogram(df, F.col("v"), 16, 0, 160).collect())
    )
    for n_files in (2, 5):
        got = sorted(
            map(
                tuple,
                streaming_histogram(
                    spark, df, "v", 16, 0, 160, n_files=n_files
                ).collect(),
            )
        )
        assert got == want, f"n_files={n_files}"


def test_integer_histogram_excludes_nulls_and_guards_overflow(spark):
    """r15 self-review: NULLs must not slip through Spark's
    NULL-skipping greatest() into bin 0, and a bin multiply that would
    wrap int64 must be rejected up front."""
    import pytest

    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        integer_histogram,
    )

    df = spark.createDataFrame([(1,), (None,), (5,)], "v long")
    out = {
        r["bin"]: r["n_rows"]
        for r in integer_histogram(df, F.col("v"), 10, 0, 100).collect()
    }
    assert out == {0: 2}  # the NULL row is excluded, not a phantom zero
    with pytest.raises(ValueError, match="overflow"):
        integer_histogram(df, F.col("v"), 1 << 40, 0, 1 << 40)
    # out-of-range values clamp FIRST, so the product never wraps even
    # with huge outliers
    wide = spark.createDataFrame([(1 << 60,), (5,)], "v long")
    got = {
        r["bin"]: r["max_value"]
        for r in integer_histogram(wide, F.col("v"), 10, 0, 100).collect()
    }
    assert got == {0: 5, 9: 1 << 60}  # raw outlier visible in edge bin


def test_histogram_quantiles_contract_errors(spark):
    """r15 self-review: empty frames with derived bounds and
    out-of-range quantiles must raise, not crash or silently drop."""
    import pytest

    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        histogram_quantiles,
    )

    empty = spark.createDataFrame([], "v long")
    with pytest.raises(ValueError, match="empty"):
        histogram_quantiles(empty, F.col("v"), 10, [500000])
    # ADVICE r16: the EXPLICIT-bounds path must raise on an empty (or
    # all-NULL) frame too — quantiles crossing no bin would otherwise
    # silently vanish from the output
    with pytest.raises(ValueError, match="empty"):
        histogram_quantiles(empty, F.col("v"), 10, [500000], lo=0, hi=10)
    all_null = spark.createDataFrame([(None,), (None,)], "v long")
    with pytest.raises(ValueError, match="empty"):
        histogram_quantiles(all_null, F.col("v"), 10, [500000], lo=0, hi=10)
    df = spark.range(1, 11).select(F.col("id").alias("v"))
    with pytest.raises(ValueError, match="quantiles_ppm"):
        histogram_quantiles(df, F.col("v"), 10, [500000, 1500000])
    with pytest.raises(ValueError, match="quantiles_ppm"):
        histogram_quantiles(df, F.col("v"), 10, [])


def test_streaming_effective_tokens_equals_batch_and_keeper_steal(spark):
    """st21's two-monoid fold equals the batch c15 report bit for bit
    across splits — including when a LATER micro-batch carries an
    EARLIER doc id that steals keeper status across sources."""
    from airflow_etl_pyspark_inmet_spark.streaming.windows import (
        streaming_effective_tokens,
    )

    rows = [
        # the dup group's minimum id (8, srcC) sits in a DIFFERENT
        # source and a different micro-batch than its dups — the MIN
        # struct fold must steal keeper status across files/sources
        (99, "srcA", "same text here"),
        (50, "srcB", "same text here"),
        (7, "srcA", "unique a"),
        (8, "srcC", "same text here"),
        (9, "srcC", "another unique"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, source string, text string")
    ch = F.md5(F.col("text").cast("binary"))
    toks = F.size(F.split(F.trim(F.col("text")), "\\s+")).cast("bigint")
    base = docs.select("doc_id", "source", ch.alias("_ch"), toks.alias("_t"))
    keepers = base.groupBy("_ch").agg(F.min("doc_id").alias("_keeper"))
    want = sorted(
        map(
            tuple,
            base.join(keepers, "_ch")
            .withColumn("_k", F.col("doc_id") == F.col("_keeper"))
            .groupBy("source")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                F.count_if(F.col("_k")).cast("bigint").alias("n_kept"),
                F.sum("_t").cast("bigint").alias("raw_tokens"),
                F.sum(F.when(F.col("_k"), F.col("_t")).otherwise(0))
                .cast("bigint")
                .alias("kept_tokens"),
            )
            .collect(),
        )
    )
    for n_files in (2, 5):
        got = sorted(
            map(
                tuple,
                streaming_effective_tokens(
                    spark, docs, n_files=n_files
                ).collect(),
            )
        )
        assert got == want, f"n_files={n_files}"
    # the cross-source keeper landed on the smallest id: srcC keeps
    # the dup group (doc 8) plus its own unique doc; srcB keeps nothing
    by_src = {t[0]: t for t in want}
    assert by_src["srcC"][2] == 2 and by_src["srcB"][2] == 0


def test_anisotropy_profile_identity_and_isotropy(spark):
    """(1) The all-but-the-top residual is EXACTLY orthogonal to the
    direction in integer arithmetic: (q*|u|^2 - dot_u*u) . u == 0 —
    replayed here in Python ints against the shared trajectory helper.
    (2) On a planted anisotropic corpus (common direction + noise) the
    top-direction fraction is large; a zero vector reports 0."""
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        _power_iteration_direction,
        anisotropy_profile,
    )

    # planted common direction along dim 0 with small per-dim noise
    rows = [
        (i, [1.0] + [((i * 7 + j) % 5 - 2) / 50.0 for j in range(7)])
        for i in range(30)
    ] + [(999, [0.0] * 8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in anisotropy_profile(df, dim=8).collect()}
    assert out[999]["top_dir_ppm"] == 0 and out[999]["n2_q"] == 0
    # the common direction carries most of every planted vector
    assert all(
        out[i]["top_dir_ppm"] > 900_000 for i in range(30)
    ), sorted(out[i]["top_dir_ppm"] for i in range(30))[:3]
    # exact orthogonality of the residual, replayed in Python ints
    # (quantize the FLOAT32-stored values — the column is array<float>,
    # so Spark floors the float32-rounded coordinate, not the literal)
    import math

    import numpy as np

    u = _power_iteration_direction(df, 3, 1_000_000, 8)
    u2 = sum(x * x for x in u)
    for i in (0, 7, 29):
        qv = [
            math.floor(float(np.float32(x)) * 1_000_000)
            for x in rows[i][1]
        ]
        dot = sum(a * b for a, b in zip(qv, u))
        resid = [a * u2 - dot * b for a, b in zip(qv, u)]
        assert sum(a * b for a, b in zip(resid, u)) == 0
        assert out[rows[i][0]]["dot_u"] == dot


def test_whole_doc_packing_invariants(spark):
    """r16: every doc lands in exactly one bin, fitting bins never
    exceed capacity, oversize docs isolate in class 0 with negative
    waste, and a degenerate capacity raises."""
    import pytest

    from airflow_etl_pyspark_inmet_spark.operators.curation import (
        whole_doc_packing,
    )

    rows = [
        (1, "a b c d"),              # 4 tok  -> class 4 (cap 16)
        (2, "a b c d e"),            # 5 tok  -> class 3
        (3, "a b"),                  # 2 tok  -> class 8
        (4, " ".join(["x"] * 20)),   # 20 tok -> oversize, class 0
        (5, "a b c d"),              # 4 tok  -> class 4
        (6, "a b c d"),              # 4 tok  -> class 4
        (7, "a b c d"),              # 4 tok  -> class 4
        (8, "a b c d"),              # 4 tok  -> class 4 (second bin)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = whole_doc_packing(df, capacity=16).collect()
    # total docs conserved
    assert sum(r["n_docs"] for r in out) == 8
    by_class = {}
    for r in out:
        by_class.setdefault(r["size_class"], []).append(r)
        if r["size_class"] > 0:
            # fitting bins respect capacity: waste >= 0
            assert r["waste"] >= 0
            assert r["sum_tokens"] <= 16
            # k docs per full bin at most
            assert r["n_docs"] <= r["size_class"]
    # class 4 has 5 docs -> ceil(5/4) = 2 bins
    assert len(by_class[4]) == 2
    # the oversize doc: class 0, alone, negative waste = overflow
    (o,) = by_class[0]
    assert (o["n_docs"], o["sum_tokens"], o["waste"]) == (1, 20, -4)
    with pytest.raises(ValueError, match="capacity"):
        whole_doc_packing(df, capacity=0)


def test_exact_substring_dedup_keeper_and_spans(spark):
    """r17 (VERDICT item 4): the globally-first occurrence of a
    duplicated n-gram window is the keeper; every other occurrence —
    cross-doc AND intra-doc — lands in the excision manifest with exact
    token boundaries; overlapping windows merge to one maximal span."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        exact_substring_dedup,
    )

    shared = " ".join(f"s{i}" for i in range(24))     # 24-token passage
    block = " ".join(f"a{i}" for i in range(12))      # 12-token block
    rows = [
        # keeper doc: passage at positions 4..27
        (1, "p0 p1 p2 p3 " + shared + " p4 p5"),
        # dup doc: same passage at positions 2..25 -> one excision span
        (2, "q0 q1 " + shared + " q2"),
        # unrelated doc
        (3, " ".join(f"z{i}" for i in range(30))),
        # intra-doc repeat: block at 0..11 (keeper) and again at 24..35
        (4, block + " " + " ".join(f"f{i}" for i in range(12)) + " " + block),
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    out = {r.doc_id: r for r in exact_substring_dedup(df, n=12).collect()}
    # doc 1 is the keeper (smallest (doc_id, pos)) -> no excision there;
    # doc 3 has no duplicates
    assert set(out) == {2, 4}
    # doc 2: 13 duplicated 12-grams at 2..14 merge to span [2, 25]
    assert (out[2].span_start, out[2].span_end) == (2, 25)
    assert (out[2].span_grams, out[2].span_tokens) == (13, 24)
    # doc 4: the second block occurrence excises exactly [24, 35]
    assert (out[4].span_start, out[4].span_end) == (24, 35)
    assert (out[4].span_grams, out[4].span_tokens) == (1, 12)


def test_apply_substring_excision_content(spark):
    """r17: applying the d31 manifest cuts exactly the redundant token
    ranges — conservation (n_kept = n_tokens - n_excised) holds and the
    kept-token content equals the hand-computed survivor string."""
    import hashlib

    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        apply_substring_excision,
        exact_substring_dedup,
    )

    shared = " ".join(f"s{i}" for i in range(24))
    rows = [
        (1, "p0 p1 p2 p3 " + shared + " p4 p5"),     # keeper doc
        (2, "q0 q1 " + shared + " q2"),              # loses 24 tokens
        (3, "z0 z1 z2"),                             # untouched
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    manifest = exact_substring_dedup(df, n=12)
    out = {r.doc_id: r for r in apply_substring_excision(df, manifest).collect()}
    for r in out.values():
        assert r.n_kept == r.n_tokens - r.n_excised
    assert (out[1].n_tokens, out[1].n_excised) == (30, 0)
    assert (out[2].n_tokens, out[2].n_excised, out[2].n_kept) == (27, 24, 3)
    assert out[2].kept_md5 == hashlib.md5(b"q0 q1 q2").hexdigest()
    assert out[3].kept_md5 == hashlib.md5(b"z0 z1 z2").hexdigest()


def test_incremental_substring_dedup_base_keeps(spark):
    """r17: delta occurrences of base-resident grams are excised even
    when they are the delta's first (the base copy is the keeper);
    delta-only duplicates follow the d31 first-occurrence rule; base
    docs never appear in the manifest."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        exact_substring_dedup,
        incremental_substring_dedup,
    )

    shared = " ".join(f"s{i}" for i in range(12))   # 12-token block
    fresh = " ".join(f"n{i}" for i in range(12))    # delta-only block
    base = spark.createDataFrame(
        [(0, "b0 b1 " + shared + " b2")],
        "doc_id bigint, text string",
    )
    delta = spark.createDataFrame(
        [
            # base-resident block at 1..12 -> excised despite being
            # the delta's first occurrence
            (1, "d0 " + shared + " d1 d2"),
            # delta-internal pair: doc 3 keeps (first), doc 5 excises
            (3, fresh + " e0 e1"),
            (5, "f0 f1 f2 " + fresh),
            (7, " ".join(f"u{i}" for i in range(20))),  # untouched
        ],
        "doc_id bigint, text string",
    )
    out = {
        r.doc_id: r
        for r in incremental_substring_dedup(base, delta, n=12).collect()
    }
    assert set(out) == {1, 5}
    assert (out[1].span_start, out[1].span_end) == (1, 12)
    assert (out[5].span_start, out[5].span_end) == (3, 14)
    # with an EMPTY base the same delta reduces to plain d31 on it
    empty = spark.createDataFrame([], "doc_id bigint, text string")
    inc = {
        (r.doc_id, r.span_start, r.span_end, r.span_grams)
        for r in incremental_substring_dedup(empty, delta, n=12).collect()
    }
    d31 = {
        (r.doc_id, r.span_start, r.span_end, r.span_grams)
        for r in exact_substring_dedup(delta, n=12).collect()
    }
    assert inc == d31


def test_duplication_profile_buckets(spark):
    """r17: decile bucketing of the duplicated-token fraction — clean
    docs land in bucket 0, a fully-duplicated doc clamps into bucket 9,
    NULL text counts as the 1-token empty doc, and token sums are
    conserved per bucket."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        duplication_profile,
        exact_substring_dedup,
    )

    block = " ".join(f"s{i}" for i in range(12))
    rows = [
        (1, block + " x0 x1 x2"),   # keeper: bucket 0, 15 tokens
        (2, block),                 # fully duplicated: 12/12 -> bucket 9
        (3, block + " " + " ".join(f"y{i}" for i in range(12))),  # 12/24 -> bucket 5
        (4, None),                  # NULL text: 1 token, clean -> bucket 0
    ]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    manifest = exact_substring_dedup(df, n=12)
    out = {r.bucket: r for r in duplication_profile(df, manifest).collect()}
    assert set(out) == {0, 5, 9}
    assert (out[0].n_docs, out[0].sum_tokens, out[0].dup_tokens) == (2, 16, 0)
    assert (out[5].n_docs, out[5].sum_tokens, out[5].dup_tokens) == (1, 24, 12)
    assert (out[9].n_docs, out[9].sum_tokens, out[9].dup_tokens) == (1, 12, 12)


def test_whole_doc_packing_null_text(spark):
    """r17 (ADVICE): NULL text must behave as the empty document
    (_tok = 1, top size class), never size(NULL) = -1 -> negative
    class and garbage bin."""
    from airflow_etl_pyspark_inmet_spark.operators.curation import (
        whole_doc_packing,
    )

    rows = [(1, None), (2, ""), (3, "a b")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = whole_doc_packing(df, capacity=16).collect()
    assert sum(r["n_docs"] for r in out) == 3
    assert all(r["size_class"] >= 0 for r in out)
    by_class = {r["size_class"]: r for r in out}
    # NULL and "" both count as 1 whitespace token -> class 16 div 1
    assert by_class[16]["n_docs"] == 2
    assert by_class[16]["sum_tokens"] == 2
    assert by_class[8]["n_docs"] == 1


def test_zipf_profile_exact_buckets(spark):
    """r16: rank buckets are exact integer log2 and frequencies land
    in the right buckets with deterministic tie-breaks."""
    from airflow_etl_pyspark_inmet_spark.operators.text import zipf_profile

    # lang 'en': freqs a=4, b=2, c=2, d=1 -> ranks 1(a),2(b),3(c),4(d)
    # buckets: rank1 -> 0; ranks 2-3 -> 1; rank 4 -> 2
    df = spark.createDataFrame(
        [("en", "a a a a b b c c d")], "lang string, text string"
    )
    out = {
        r["rank_bucket"]: r.asDict() for r in zipf_profile(df).collect()
    }
    assert out[0]["n_types"] == 1 and out[0]["sum_freq"] == 4
    assert out[1]["n_types"] == 2 and out[1]["sum_freq"] == 4
    assert out[1]["max_freq"] == 2 and out[1]["min_freq"] == 2
    assert out[2]["n_types"] == 1 and out[2]["sum_freq"] == 1


def test_asof_join_tolerance_nulls_stale_matches(spark):
    """r16: a match older than tolerance_days is treated as NO match
    (payload nulled), fresh matches and the no-tolerance path are
    unchanged."""
    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        asof_join,
    )

    left = spark.createDataFrame(
        [(1, 10, "2024-03-01"), (2, 10, "2024-01-05"), (3, 20, "2024-02-01")],
        "id long, k long, d string",
    ).select("id", "k", F.col("d").cast("date").alias("d"))
    right = spark.createDataFrame(
        [(10, "2024-01-01", 7.0), (20, "2024-01-31", 9.0)],
        "k long, rd string, v double",
    ).select("k", F.col("rd").cast("date").alias("rd"), "v")
    out = {
        r["id"]: r["v"]
        for r in asof_join(
            left, right, on="k", left_ts="d", right_ts="rd",
            tolerance_days=30,
        ).collect()
    }
    assert out[1] is None      # 60 days stale -> nulled
    assert out[2] == 7.0       # 4 days -> kept
    assert out[3] == 9.0       # 1 day -> kept
    base = {
        r["id"]: r["v"]
        for r in asof_join(
            left, right, on="k", left_ts="d", right_ts="rd"
        ).collect()
    }
    assert base[1] == 7.0      # no tolerance: latest match regardless


def test_quantizer_occupancy_spine_and_ppm(spark):
    """r16: every cell 0..k-1 appears (empty ones with n_members 0 and
    NULL distortion), members sum to the corpus, ppm is the exact
    integer share."""
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        quantizer_occupancy,
    )

    # two tight planted clusters; k=4 leaves at least one empty cell
    rows = [(i, [10.0 + (i % 3) * 0.001, 0.0]) for i in range(6)] + [
        (i, [0.0, 10.0 + (i % 3) * 0.001]) for i in range(6, 12)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["cluster"]: r.asDict() for r in quantizer_occupancy(
        df, k=4, n_rounds=2, scale=1000, dim=2
    ).collect()}
    assert set(out) == {0, 1, 2, 3}
    assert sum(r["n_members"] for r in out.values()) == 12
    for r in out.values():
        assert r["occupancy_ppm"] == r["n_members"] * 1_000_000 // 12
        if r["n_members"] == 0:
            assert r["min_dist_q"] is None and r["sum_dist_q"] is None


def test_graph_ann_topk_rejects_nonpositive_entries(spark):
    """r16 self-review: n_entries=0 silently emptied the flat entry
    spread (limit(0)) and divided by zero in the routed fallback's
    in-plan stride — must raise."""
    import pytest

    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        graph_ann_topk,
    )

    items = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(4)],
        "vec_id long, embedding array<float>",
    )
    graph = spark.createDataFrame(
        [(i, (i + 1) % 4) for i in range(4)], "vec_id long, nbr_id long"
    )
    queries = spark.createDataFrame(
        [(100, [1.0, 1.0])], "query_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="n_entries"):
        graph_ann_topk(items, queries, graph, k=2, n_entries=0)
    with pytest.raises(ValueError, match="n_entries"):
        graph_ann_topk(items, queries, graph, k=2, n_entries=-3)


def test_streaming_substring_index_equals_batch_across_splits(spark):
    """st23: the SUM+MIN folded gram index is split-invariant — the
    streamed duplicated-gram index equals the one-shot batch
    aggregation at different micro-batch splits (including splits
    that separate a gram's occurrences, and the keeper from its
    duplicates, across epochs)."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        _positional_gram_stream,
    )
    from airflow_etl_pyspark_inmet_spark.streaming.windows import (
        streaming_substring_index,
    )

    shared = " ".join(f"s{i}" for i in range(12))
    rows = [
        (1, "p0 p1 " + shared),                      # keeper at (1, 2)
        (2, shared + " q0"),                          # dup at (2, 0)
        (3, " ".join(f"z{i}" for i in range(14))),    # unique grams
        (4, shared),                                  # dup at (4, 0)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    batch = sorted(
        (r["_keep"]["_id"], r["_keep"]["pos"], r["n_occ"])
        for r in _positional_gram_stream(docs, "doc_id", "text", 12)
        .groupBy("_gh")
        .agg(
            F.count(F.lit(1)).alias("n_occ"),
            F.min(F.struct("_id", "pos")).alias("_keep"),
        )
        .filter(F.col("n_occ") >= 2)
        .collect()
    )
    assert batch == [(1, 2, 3)]  # one duplicated gram, keeper (1, 2)
    for n_files in (2, 4):
        streamed = sorted(
            (r.keep_doc, r.keep_pos, r.n_occ)
            for r in streaming_substring_index(
                spark, docs, n=12, n_files=n_files
            ).collect()
        )
        assert streamed == batch, f"split {n_files} diverged"


def test_streaming_zipf_profile_equals_batch_across_splits(spark):
    """st22: the folded census is split-invariant — the streamed
    profile equals the one-shot batch profile bit for bit at different
    micro-batch splits (including a split that separates a token's
    occurrences across epochs)."""
    from airflow_etl_pyspark_inmet_spark.operators.text import zipf_profile
    from airflow_etl_pyspark_inmet_spark.streaming.windows import (
        streaming_zipf_profile,
    )

    rows = [
        ("en", "a a a b b c"),
        ("en", "a b d d"),
        ("pt", "x x y"),
        ("pt", "x z z z"),
        ("en", "c c c e"),
        ("pt", "y y x w"),
    ]
    docs = spark.createDataFrame(rows, "lang string, text string")
    batch = sorted(
        tuple(r) for r in zipf_profile(docs).collect()
    )
    for n_files in (2, 5):
        streamed = sorted(
            tuple(r)
            for r in streaming_zipf_profile(
                spark, docs, n_files=n_files
            ).collect()
        )
        assert streamed == batch, f"split {n_files} diverged"
