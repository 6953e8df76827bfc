"""Property-based tests (hypothesis) for the cleaning kit — SURVEY.md §5's
property-check tier. Each property generates a batch of examples and runs
them through Spark in ONE job (a generated-literal DataFrame), so hypothesis
stays fast despite JVM round-trips.
"""

from __future__ import annotations

import datetime as dt

from hypothesis import example, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from airflow_etl_pyspark_inmet_spark.functions.cleaning import (
    dayfirst_date,
    decimal_comma_to_double,
    sanitize_name,
    sanitize_name_sql,
    surrogate_key,
)
from perfbench.gen import INMET_HEADER

_SETTINGS = dict(max_examples=5, deadline=None)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.floats(
            min_value=-1e6,
            max_value=1e6,
            allow_nan=False,
            allow_infinity=False,
        ),
        min_size=1,
        max_size=30,
    )
)
def test_decimal_comma_roundtrip_property(spark, values):
    """repr(x) with ',' for '.' parses back to exactly x for any finite
    double (repr round-trips IEEE doubles)."""
    rows = [(i, repr(v).replace(".", ",")) for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, ["i", "s"])
    got = {
        r["i"]: r["v"]
        for r in df.select("i", decimal_comma_to_double("s").alias("v")).collect()
    }
    for i, v in enumerate(values):
        assert got[i] == v


@settings(**_SETTINGS)
@given(
    st.lists(
        st.dates(min_value=dt.date(1900, 1, 1), max_value=dt.date(2199, 12, 31)),
        min_size=1,
        max_size=30,
    ),
    st.sampled_from(["%d/%m/%Y", "%Y/%m/%d"]),
)
def test_dayfirst_date_roundtrip_property(spark, dates, fmt):
    """Any real date rendered in either supported 4-digit-year format
    parses back to itself; junk strings null out."""
    rows = [(i, d.strftime(fmt)) for i, d in enumerate(dates)]
    rows.append((len(dates), "99/99/9999"))  # shape-valid junk -> null
    rows.append((len(dates) + 1, "not a date"))
    df = spark.createDataFrame(rows, ["i", "s"])
    got = {
        r["i"]: r["d"]
        for r in df.select("i", dayfirst_date("s").alias("d")).collect()
    }
    for i, d in enumerate(dates):
        assert got[i] == d
    assert got[len(dates)] is None
    assert got[len(dates) + 1] is None


@settings(**_SETTINGS)
@given(st.text(max_size=40))
def test_sanitize_name_is_idempotent_and_clean(name):
    """sanitize(sanitize(x)) == sanitize(x), and the output is always
    lowercase ASCII word chars (pure python — no Spark job)."""
    once = sanitize_name(name)
    assert sanitize_name(once) == once
    assert once == once.lower()
    for ch in once:
        assert ch.isascii() and (ch.isalnum() or ch == "_")


def _assert_sanitizer_parity(spark, names: list[str]) -> None:
    """sanitize_name_sql, run in Spark, equals sanitize_name on every name."""
    df = spark.createDataFrame(list(enumerate(names)), "i int, n string")
    got = dict(df.selectExpr("i", f"{sanitize_name_sql('n')} AS s").collect())
    bad = {
        names[i]: (s, sanitize_name(names[i]))
        for i, s in got.items()
        if s != sanitize_name(names[i])
    }
    assert len(got) == len(names) and not bad


def test_sanitize_name_sql_matches_python_on_latin1(spark):
    """The JVM-side header sanitizer equals sanitize_name on every
    character U+0020-U+00FF (alone, between letters, beside an underscore
    and a digit) and on the 19 raw INMET header names. NFKD folds ² to 2
    and ¼ to 14, and deletes what has no ASCII form (ß, ×, µ), so a
    dropped character must join its neighbours rather than split them."""
    names = list(INMET_HEADER)
    for cp in range(0x20, 0x100):
        c = chr(cp)
        names += [c, f"a{c}b", f"_{c}1"]
    _assert_sanitizer_parity(spark, names)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.text(st.characters(min_codepoint=0x20, max_codepoint=0xFF), max_size=30),
        min_size=1,
        max_size=30,
    )
)
def test_sanitize_name_sql_property(spark, names):
    """Random Latin-1 names sanitize the same in Spark and in Python."""
    _assert_sanitizer_parity(spark, names)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.one_of(st.none(), st.text(alphabet="abcXYZ ", max_size=8)),
            st.one_of(st.none(), st.text(alphabet="abcXYZ ", max_size=8)),
        ),
        min_size=1,
        max_size=20,
    )
)
def test_surrogate_key_never_null_property(spark, pairs):
    """Keys are never null, contain exactly one separator for two parts,
    and equal inputs yield equal keys."""
    rows = [(i, a, b) for i, (a, b) in enumerate(pairs)]
    df = spark.createDataFrame(rows, "i int, a string, b string")
    got = {
        r["i"]: r["k"]
        for r in df.select("i", surrogate_key("a", "b").alias("k")).collect()
    }
    for i, (a, b) in enumerate(pairs):
        k = got[i]
        assert k is not None
        exp = "-".join(
            [(a or "").strip().upper(), (b or "").strip().upper()]
        )
        # surrogate_key trims AFTER upper; upper never introduces/removes
        # whitespace, so trim-then-upper == upper-then-trim
        assert k == exp


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "aa", "x y", ""]),
            min_size=0,
            max_size=12,
        ),
        min_size=1,
        max_size=8,
    )
)
def test_max_run_equals_mode_count_property(spark, docs):
    """The sorted-array max-run fold == collections.Counter mode count
    for arbitrary word arrays (incl. empties and duplicate-heavy)."""
    from collections import Counter

    from airflow_etl_pyspark_inmet_spark.operators.text import _max_run

    df = spark.createDataFrame(
        [(i, words) for i, words in enumerate(docs)],
        "id int, ws array<string>",
    )
    got = {r.id: r.m for r in df.select("id", _max_run(F.col("ws")).alias("m")).collect()}
    for i, words in enumerate(docs):
        expected = max(Counter(words).values()) if words else 0
        assert got[i] == expected, (i, words)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=24
        ),
        min_size=1,
        max_size=8,
    ),
    st.integers(min_value=2, max_value=4),
)
def test_repeated_spans_matches_bruteforce_property(spark, docs, n):
    """repeated_spans == a pure-Python reference (gram counting +
    interval union) on small random corpora over a tiny alphabet (which
    forces plenty of cross-doc collisions)."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        repeated_spans,
    )

    texts = [" ".join(ws) for ws in docs]
    grams = {}  # gram -> set of doc ids
    for i, ws in enumerate(docs):
        for p in range(max(len(ws) - n + 1, 0)):
            grams.setdefault(tuple(ws[p : p + n]), set()).add(i)
    dup = {g for g, ids in grams.items() if len(ids) >= 2}
    expected = {}
    for i, ws in enumerate(docs):
        pos = [
            p
            for p in range(max(len(ws) - n + 1, 0))
            if tuple(ws[p : p + n]) in dup
        ]
        covered = set()
        spans = 0
        prev = None
        for p in pos:
            covered.update(range(p, p + n))
            if prev is None or p - prev > n:
                spans += 1
            prev = p
        expected[i] = (
            max(len(ws) - n + 1, 0),
            len(pos),
            spans,
            len(covered),
        )
    df = spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )
    got = {
        r["doc_id"]: (
            r["n_grams"],
            r["n_dup_grams"],
            r["n_spans"],
            r["n_dup_tokens"],
        )
        for r in repeated_spans(df, n=n, min_docs=2).collect()
    }
    assert got == expected


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c"]), min_size=1, max_size=12
        ),
        min_size=1,
        max_size=6,
    ),
    st.integers(min_value=1, max_value=3),
)
def test_intra_doc_dedup_matches_bruteforce_property(spark, docs, seg_words):
    """intra_doc_dedup == a pure-Python first-occurrence filter over the
    same fixed-width segmentation."""
    from airflow_etl_pyspark_inmet_spark.operators.curation import (
        intra_doc_dedup,
    )

    expected = {}
    for i, ws in enumerate(docs):
        segs = [
            " ".join(ws[p : p + seg_words])
            for p in range(0, len(ws), seg_words)
        ]
        kept = [s for j, s in enumerate(segs) if segs.index(s) == j]
        expected[i] = (len(segs), len(segs) - len(kept), " ".join(kept))
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_segments"], r["n_repeats"], r["dedup_text"])
        for r in intra_doc_dedup(df, seg_words=seg_words).collect()
    }
    assert got == expected


@settings(max_examples=25, deadline=None)
@given(
    arr=st.lists(
        st.integers(min_value=-32768, max_value=32767), max_size=200
    ),
    rate=st.integers(min_value=1, max_value=192_000),
)
def test_wav_roundtrip_property(arr, rate):
    """Any int16 sample sequence at any rate survives the stdlib
    encode -> RIFF parse -> PCM decode round-trip bit-exactly."""
    import io
    import wave

    import numpy as np

    from airflow_etl_pyspark_inmet_spark.operators.audio import _encode_wav

    samples = np.array(arr, dtype=np.int16)
    data = _encode_wav(samples, rate)
    with wave.open(io.BytesIO(data), "rb") as w:
        assert w.getframerate() == rate
        assert w.getnframes() == len(samples)
        out = np.frombuffer(w.readframes(w.getnframes()), dtype="<i2")
    np.testing.assert_array_equal(out, samples)


@settings(max_examples=25, deadline=None)
@given(
    n=st.integers(min_value=0, max_value=5),
    h=st.integers(min_value=1, max_value=12),
    w=st.integers(min_value=1, max_value=12),
    fps=st.integers(min_value=1, max_value=120),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_avi_roundtrip_property(n, h, w, fps, seed):
    """Any frame stack (any dims, incl. stride-padded widths) survives
    the AVI container encode -> chunk-walk parse -> DIB decode
    round-trip bit-exactly, with the header fields recovered."""
    import numpy as np

    from airflow_etl_pyspark_inmet_spark.operators.avi import (
        avi_decode,
        avi_encode,
    )

    rng = np.random.default_rng(seed)
    frames = rng.integers(0, 256, size=(n, h, w), dtype=np.uint8)
    got_w, got_h, usec, out = avi_decode(avi_encode(frames, fps))
    assert usec == 1_000_000 // fps
    assert len(out) == n
    if n:
        assert (got_w, got_h) == (w, h)
        for a, b in zip(out, frames):
            np.testing.assert_array_equal(a, b)


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=3),      # key
            st.integers(min_value=0, max_value=1000),   # start
            st.integers(min_value=0, max_value=200),    # length
        ),
        min_size=1,
        max_size=25,
    )
)
def test_interval_merge_matches_bruteforce_property(spark, intervals):
    """q97's windowed island construction == a brute-force interval
    merge, for arbitrary per-key interval sets (including touching and
    nested intervals)."""
    from pyspark.sql import Window

    rows = [
        (k, i, s, s + ln) for i, (k, s, ln) in enumerate(intervals)
    ]
    df = spark.createDataFrame(rows, "k long, rid long, s long, e long")
    w = Window.partitionBy("k").orderBy("s", "rid")
    prev_max = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    flagged = df.withColumn(
        "_new",
        F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0),
    ).withColumn(
        "isl",
        F.sum("_new").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    got = {
        (r.k, r.isl): (r.lo, r.hi, r.n)
        for r in flagged.groupBy("k", "isl")
        .agg(F.min("s").alias("lo"), F.max("e").alias("hi"),
             F.count(F.lit(1)).alias("n"))
        .collect()
    }
    # brute force per key
    from collections import defaultdict

    by_key = defaultdict(list)
    for k, rid, s, e in rows:
        by_key[k].append((s, e))
    for k, ivs in by_key.items():
        ivs.sort()
        merged = []
        for s, e in ivs:
            if merged and s <= merged[-1][1]:
                merged[-1][1] = max(merged[-1][1], e)
                merged[-1][2] += 1
            else:
                merged.append([s, e, 1])
        want = {(k, i + 1): tuple(m) for i, m in enumerate(merged)}
        got_k = {kk: vv for kk, vv in got.items() if kk[0] == k}
        assert got_k == {
            kk: (m[0], m[1], m[2]) for kk, m in want.items()
        }, (k, got_k, want)


@settings(**_SETTINGS)
@given(
    st.lists(st.integers(min_value=0, max_value=500), min_size=1,
             max_size=40),
    st.lists(st.integers(min_value=0, max_value=500), min_size=1,
             max_size=15),
)
def test_bloom_prune_semi_join_property(spark, fact_keys, key_keys):
    """bloom_prune_semi_join == plain semi join for arbitrary key sets,
    even with a filter sized to guarantee false positives."""
    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        bloom_prune_semi_join,
    )

    fact = spark.createDataFrame(
        [(k, i) for i, k in enumerate(fact_keys)], "k long, rid long"
    )
    keys = spark.createDataFrame([(k,) for k in set(key_keys)], "kk long")
    got = {
        (r.k, r.rid)
        for r in bloom_prune_semi_join(
            fact, keys, fact_key="k", key_col="kk", n_bits=64, n_hashes=2
        ).collect()
    }
    want = {
        (k, i) for i, k in enumerate(fact_keys) if k in set(key_keys)
    }
    assert got == want


@settings(**_SETTINGS)
@given(
    st.lists(st.integers(min_value=0, max_value=600), min_size=1,
             max_size=30)
)
def test_pack_counts_conservation_property(spark, counts):
    """Packing conserves every token exactly once and bins never exceed
    capacity, for arbitrary count vectors (zeros excluded from bins)."""
    from airflow_etl_pyspark_inmet_spark.operators.curation import (
        pack_counts,
    )

    df = spark.createDataFrame(
        [(i, c) for i, c in enumerate(counts)], "doc_id long, n long"
    )
    rows = pack_counts(df, count_col="n", capacity=256).collect()
    per_doc = {}
    per_bin = {}
    for r in rows:
        per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + r.n_tokens
        per_bin[r.bin_id] = per_bin.get(r.bin_id, 0) + r.n_tokens
        assert r.n_tokens > 0
    for i, c in enumerate(counts):
        assert per_doc.get(i, 0) == c
    for b, tot in per_bin.items():
        assert tot <= 256


@settings(**_SETTINGS)
@given(
    st.lists(st.integers(min_value=0, max_value=20), min_size=1, max_size=40),
)
def test_hierarchy_root_depth_property(spark, raw):
    """For any random forest with parent[i] < i (plus self-rooted 0),
    pointer doubling equals the sequential parent-chain walk."""
    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        hierarchy_root_depth,
    )

    # parent of node i (1-based) is raw[i-1] % i  -> always < i; node 0 roots
    parents = {0: 0}
    for i, r in enumerate(raw, start=1):
        parents[i] = r % i
    # a node is a root iff parent == node (only 0 here)
    edges = spark.createDataFrame(
        list(parents.items()), "node bigint, parent bigint"
    )
    got = {
        r.node: (r.root, r.depth)
        for r in hierarchy_root_depth(edges, max_rounds=6).collect()
    }
    for n, p in parents.items():
        cur, depth = n, 0
        while parents[cur] != cur:
            cur = parents[cur]
            depth += 1
        assert got[n] == (cur, depth), (n, got[n], (cur, depth))


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=9),
            st.integers(min_value=0, max_value=9),
        ),
        min_size=1,
        max_size=25,
    ),
    st.integers(min_value=1, max_value=4),
)
def test_label_propagation_equals_bfs_property(spark, raw_edges, k):
    """k rounds of min-label exchange == min node id within BFS
    distance k, for arbitrary small graphs."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        label_propagation_min,
    )

    und = {(a, b) for a, b in raw_edges} | {(b, a) for a, b in raw_edges}
    edges = spark.createDataFrame(sorted(und), "src bigint, dst bigint")
    nodes = sorted({a for a, _ in und})
    adj = {n: set() for n in nodes}
    for a, b in und:
        adj[a].add(b)
    got = {
        r.node: r.label
        for r in label_propagation_min(edges, n_rounds=k).collect()
    }
    for n in nodes:
        frontier, seen = {n}, {n}
        for _ in range(k):
            frontier = {v for u in frontier for v in adj[u]} - seen
            seen |= frontier
        assert got[n] == min(seen), (n, k)


@settings(**_SETTINGS)
@given(
    st.lists(st.integers(min_value=1, max_value=500), min_size=1, max_size=8),
    st.integers(min_value=1, max_value=10_000),
)
def test_token_budget_sums_exactly_property(spark, sizes, budget):
    """Largest-remainder apportionment: for any domain sizes and any
    budget, integer quotas sum to the budget EXACTLY."""
    from airflow_etl_pyspark_inmet_spark.operators.mixing import (
        token_budget_allocation,
    )

    rows = []
    for d, n in enumerate(sizes):
        rows.append((f"dom{d}", "t " * n))
    df = spark.createDataFrame(rows, "source string, text string")
    out = token_budget_allocation(df, budget_tokens=budget).collect()
    assert sum(r.quota_tokens for r in out) == budget


@settings(**_SETTINGS)
@given(
    st.lists(
        st.text(alphabet="ab ", min_size=6, max_size=30),
        min_size=2,
        max_size=8,
    )
)
def test_containment_pairs_equals_bruteforce_property(spark, texts):
    """Inverted-index containment == python brute force over word
    3-gram sets, for arbitrary small corpora (threshold 0 emits every
    co-occurring pair)."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        containment_pairs,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        (r.id_a, r.id_b): (r.inter, r.cont_a_ppm, r.cont_b_ppm)
        for r in containment_pairs(df, threshold_ppm=1).collect()
    }

    def grams(t):
        ws = t.strip().split()
        return {" ".join(ws[i:i + 3]) for i in range(max(len(ws) - 2, 0))}

    expect = {}
    for i, ti in rows:
        for j, tj in rows:
            if i >= j:
                continue
            gi, gj = grams(ti), grams(tj)
            inter = len(gi & gj)
            if inter and gi and gj:
                expect[(i, j)] = (
                    inter,
                    inter * 1_000_000 // len(gi),
                    inter * 1_000_000 // len(gj),
                )
    assert got == expect


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(st.integers(0, 19), st.integers(0, 19)),
        min_size=1,
        max_size=40,
    )
)
def test_clustering_coefficient_bounds_property(spark, raw_edges):
    """For ANY undirected graph: 0 <= cc_ppm <= 1_000_000, the
    triangle credit never exceeds deg*(deg-1)/2, and degree-1 nodes
    never appear."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        clustering_coefficients,
    )

    edges = sorted({(min(a, b), max(a, b)) for a, b in raw_edges if a != b})
    if not edges:
        return
    df = spark.createDataFrame(edges, "p1 int, p2 int")
    for r in clustering_coefficients(df).collect():
        assert r["degree"] >= 2
        assert 0 <= r["cc_ppm"] <= 1_000_000
        assert r["n_triangles"] <= r["degree"] * (r["degree"] - 1) // 2


@settings(**_SETTINGS)
@given(
    st.lists(
        st.lists(st.integers(-5, 5), min_size=8, max_size=8),
        min_size=4,
        max_size=24,
    ),
    st.integers(2, 4),
)
def test_semdedup_pair_loser_property(spark, vecs, k):
    """For ANY corpus: every duplicate pair has its loser dropped (so a
    kept vector won every pair it was in), drops only happen to
    vectors that appear in >= 1 pair, and the output covers the corpus
    exactly once."""
    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        semdedup_from_assignment,
    )

    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    # deterministic synthetic assignment: round-robin clusters, dist = id
    assign = spark.createDataFrame(
        [(i, i % k, (i * 7) % 11) for i in range(len(rows))],
        "vec_id long, cluster int, dist_q long",
    )
    out = {r["vec_id"]: r["dropped"] for r in semdedup_from_assignment(
        df, assign, tau=0.95).collect()}
    assert set(out) == set(range(len(rows)))
    # recompute pairs + losers in python
    import math

    def cos(a, b):
        na = math.sqrt(sum(x * x for x in a))
        nb = math.sqrt(sum(x * x for x in b))
        if na == 0 or nb == 0:
            return float("-inf")  # zero-norm vectors never pair
        return sum(x * y for x, y in zip(a, b)) / (na * nb)

    dist = {i: (i * 7) % 11 for i in range(len(rows))}
    losers = set()
    in_pair = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            if i % k != j % k:
                continue
            if cos(vecs[i], vecs[j]) >= 0.95:
                in_pair |= {i, j}
                if (dist[i], i) < (dist[j], j):
                    losers.add(i)
                else:
                    losers.add(j)
    assert {v for v, d in out.items() if d} == losers
    assert losers <= in_pair


@settings(**_SETTINGS)
@given(
    st.lists(st.integers(0, 30), min_size=1, max_size=15, unique=True),
    st.lists(st.integers(0, 30), min_size=1, max_size=15, unique=True),
    st.integers(1, 8),
)
def test_rrf_fuse_matches_replay_property(spark, items_a, items_b, k):
    """For ANY pair of rank lists (including disjoint ones): fused
    score is exactly unit div (c+ra) + unit div (c+rb) with missing
    legs contributing 0, and the emitted order is (score DESC, item
    ASC) truncated to k."""
    from airflow_etl_pyspark_inmet_spark.operators.similarity import (
        rrf_fuse,
    )

    ra = [(0, it, r + 1) for r, it in enumerate(items_a)]
    rb = [(0, it, r + 1) for r, it in enumerate(items_b)]
    schema = "query_id long, item_id long, rank int"
    out = rrf_fuse(
        spark.createDataFrame(ra, schema),
        spark.createDataFrame(rb, schema),
        k=k,
    ).collect()
    # python replay
    unit, c = 1_000_000_000, 60
    sa = {it: r for _, it, r in ra}
    sb = {it: r for _, it, r in rb}
    score = {
        it: (unit // (c + sa[it]) if it in sa else 0)
        + (unit // (c + sb[it]) if it in sb else 0)
        for it in set(sa) | set(sb)
    }
    expect = sorted(score.items(), key=lambda x: (-x[1], x[0]))[:k]
    got = [(r["item_id"], r["rrf_score"]) for r in sorted(
        out, key=lambda r: r["rank"])]
    assert got == expect


@settings(**_SETTINGS)
@given(
    st.lists(
        st.text(
            alphabet=st.characters(
                codec="ascii", categories=("L", "N", "P", "Z")
            ),
            max_size=60,
        ),
        min_size=1,
        max_size=25,
    )
)
def test_readability_matches_replay_property(spark, texts):
    """For ANY ASCII text (empty, punctuation-only, vowel-free): the
    emitted counts and flesch_milli equal the regex/floor-div replay."""
    import re as _re

    from airflow_etl_pyspark_inmet_spark.operators.text import (
        readability_scores,
    )

    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {r["doc_id"]: r for r in readability_scores(df).collect()}
    for i, t in rows:
        toks = _re.split(r"\s+", t.strip())
        w = max(len(toks), 1) if toks != [""] else 1
        s = max(len(_re.findall(r"[.!?]+", t)), 1)
        v = max(len(_re.findall(r"[aeiouyAEIOUY]+", t)), 1)
        r = got[i]
        assert (r["n_words"], r["n_sentences"], r["n_vowel_groups"]) == (
            w, s, v,
        ), (t,)
        assert r["flesch_milli"] == 206835 - (1015 * w) // s - (
            84600 * v
        ) // w


@settings(**_SETTINGS)
@given(
    st.data(),
)
def test_winnow_guarantee_property(spark, data):
    """SIGMOD'03 theorem, property-checked: for random word documents
    with a randomly-placed SHARED passage of exactly w + k - 1 words,
    robust winnowing always selects at least one common fingerprint;
    and per-doc selection density never exceeds the gram count."""
    from airflow_etl_pyspark_inmet_spark.operators.text import (
        winnow_fingerprints,
    )

    k, w = 3, 4
    vocab = [f"w{i}" for i in range(12)]
    word = st.sampled_from(vocab)
    passage = data.draw(
        st.lists(word, min_size=w + k - 1, max_size=w + k - 1)
    )
    docs = []
    for doc_id in (1, 2):
        pre = data.draw(st.lists(word, min_size=0, max_size=15))
        post = data.draw(st.lists(word, min_size=0, max_size=15))
        docs.append((doc_id, " ".join(pre + passage + post)))
    df = spark.createDataFrame(docs, "doc_id int, text string")
    fp = winnow_fingerprints(df, k=k, w=w).collect()
    by_doc = {1: set(), 2: set()}
    counts = {1: 0, 2: 0}
    for r in fp:
        by_doc[r["doc_id"]].add(r["fp_hash"])
        counts[r["doc_id"]] += 1
    assert by_doc[1] & by_doc[2], "guarantee violated: no shared fingerprint"
    for doc_id, text in docs:
        n_grams = len(text.split()) - k + 1
        assert counts[doc_id] <= max(n_grams - w + 1, 0) + (w - 1)


@settings(**_SETTINGS)
@given(st.data())
def test_bm25_matches_python_replay_property(spark, data):
    """For random small corpora (ties, absent terms, skewed lengths),
    the engine's rational-idf BM25 equals a pure-Python integer replay
    of the same algebra — scores, hit counts, and ranking."""
    from airflow_etl_pyspark_inmet_spark.operators.text import bm25_topk

    vocab = [f"w{i}" for i in range(6)]
    word = st.sampled_from(vocab)
    n_docs = data.draw(st.integers(min_value=2, max_value=6))
    docs = {
        i: data.draw(st.lists(word, min_size=1, max_size=12))
        for i in range(1, n_docs + 1)
    }
    df = spark.createDataFrame(
        [(i, " ".join(t)) for i, t in docs.items()],
        "doc_id int, text string",
    )
    n_terms, top = 3, n_docs
    got = {
        r["doc_id"]: (r["score_ppm"], r["n_terms_hit"])
        for r in bm25_topk(df, n_terms=n_terms, top=top).collect()
    }

    dl = {i: len(t) for i, t in docs.items()}
    total = sum(dl.values())
    avgdl = 1000 * total // n_docs
    freqs: dict[str, int] = {}
    for t in docs.values():
        for w in t:
            freqs[w] = freqs.get(w, 0) + 1
    terms = sorted(freqs, key=lambda w: (-freqs[w], w))[:n_terms]
    df_t = {w: sum(1 for t in docs.values() if w in t) for w in terms}
    exp = {}
    for i, t in docs.items():
        s, hit = 0, 0
        for w in terms:
            tf = t.count(w)
            if not tf:
                continue
            hit += 1
            idf = (n_docs - df_t[w]) * 1000000 // df_t[w]
            s += (
                idf * 44 * tf * avgdl
                // (20 * tf * avgdl + 6 * avgdl + 18 * dl[i] * 1000)
            )
        if hit:
            exp[i] = (s, hit)
    assert got == dict(sorted(exp.items(), key=lambda kv: (-kv[1][0], kv[0]))[:top])


@settings(max_examples=5, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=10_000),  # id
            st.integers(min_value=0, max_value=4),       # group
            st.integers(min_value=1, max_value=9),       # weight
        ),
        min_size=1,
        max_size=60,
        unique_by=lambda t: t[0],
    )
)
def test_grouped_rank_and_running_sum_match_window_forms(spark, rows):
    """For ANY frame with unique ids, grouped_rank == row_number over
    the per-group window and grouped_running_sum == the per-group
    inclusive prefix sum — the bit-identity contract of the r15
    single-task-window rewrites, on generated data rather than the
    fixed corpora."""
    from pyspark.sql import Window

    from airflow_etl_pyspark_inmet_spark.operators.relational import (
        grouped_rank,
        grouped_running_sum,
    )

    df = spark.createDataFrame(rows, "id long, grp int, w long")
    wr = Window.partitionBy("grp").orderBy(
        (F.col("id") * 2654435761) % 1048576, F.col("id")
    )
    ref_rank = df.withColumn(
        "_pri", (F.col("id") * 2654435761) % 1048576
    ).withColumn("rnk", F.row_number().over(wr).cast("bigint"))
    got_rank = grouped_rank(
        df.withColumn("_pri", (F.col("id") * 2654435761) % 1048576),
        ["grp"],
        [F.col("_pri"), F.col("id")],
        "rnk",
    )
    assert ref_rank.exceptAll(got_rank).count() == 0
    assert got_rank.exceptAll(ref_rank).count() == 0

    ws = (
        Window.partitionBy("grp")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    ref_sum = df.withColumn("cum", F.sum("w").over(ws)).withColumn(
        "tot", F.sum("w").over(Window.partitionBy("grp"))
    )
    got_sum = grouped_running_sum(
        df, ["grp"], [F.col("id")], "w", "cum", total_col="tot"
    )
    assert ref_sum.exceptAll(got_sum).count() == 0
    assert got_sum.exceptAll(ref_sum).count() == 0


@settings(**_SETTINGS)
@given(
    st.lists(
        st.integers(min_value=1, max_value=40),  # token counts
        min_size=1,
        max_size=60,
    ),
    st.sampled_from([8, 16, 32]),
)
def test_whole_doc_packing_invariants_property(spark, tok_counts, capacity):
    """r16: for ANY corpus and capacity — every doc lands in exactly
    one bin; fitting bins never exceed capacity (the harmonic class
    guarantee: k docs of class k always fit); full fitting bins waste
    at most capacity/(k+1) + (capacity - k*floor(capacity/k)) slack,
    and oversize docs isolate one-per-bin with negative waste."""
    from airflow_etl_pyspark_inmet_spark.operators.curation import (
        whole_doc_packing,
    )

    rows = [(i, " ".join(["w"] * n)) for i, n in enumerate(tok_counts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = whole_doc_packing(df, capacity=capacity).collect()
    assert sum(r["n_docs"] for r in out) == len(tok_counts)
    for r in out:
        if r["size_class"] > 0:
            assert r["sum_tokens"] <= capacity
            assert r["n_docs"] <= r["size_class"]
            assert r["waste"] == capacity - r["sum_tokens"] >= 0
        else:
            assert r["n_docs"] == 1 and r["waste"] < 0


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.sampled_from(["en", "pt"]),
            st.lists(
                st.sampled_from(list("abcdefg")), min_size=1, max_size=12
            ),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_zipf_profile_matches_python_replay_property(spark, docs):
    """r16: the (group, bucket) census equals a pure-python replay of
    rank = position under (freq DESC, token ASC) and bucket =
    rank.bit_length() - 1, for ANY corpus."""
    from collections import Counter

    from airflow_etl_pyspark_inmet_spark.operators.text import zipf_profile

    rows = [(lang, " ".join(toks)) for lang, toks in docs]
    df = spark.createDataFrame(rows, "lang string, text string")
    got = sorted(tuple(r) for r in zipf_profile(df).collect())

    by_lang: dict[str, Counter] = {}
    for lang, toks in docs:
        by_lang.setdefault(lang, Counter()).update(toks)
    expect: dict[tuple, list] = {}
    for lang, ctr in by_lang.items():
        ordered = sorted(ctr.items(), key=lambda kv: (-kv[1], kv[0]))
        for rank, (_tok, freq) in enumerate(ordered, start=1):
            b = rank.bit_length() - 1
            expect.setdefault((lang, b), []).append(freq)
    rows2 = sorted(
        (lang, b, len(fs), sum(fs), max(fs), min(fs))
        for (lang, b), fs in expect.items()
    )
    assert got == rows2


@settings(**_SETTINGS)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 3),
            # two words, so rows share 3-grams (of 8 possible) often
            st.lists(st.sampled_from(["a", "b"]), min_size=2, max_size=9).map(
                " ".join
            ),
        ),
        min_size=2,
        max_size=8,
    ).filter(lambda rows: len({i for i, _ in rows}) < len(rows))
)
def test_shingle_family_unions_repeated_ids_like_duckdb_property(spark, rows):
    """A doc id spread over several rows has ONE shingle set, the union
    of its rows' sets — the oracle's ``SELECT DISTINCT doc_id, g`` — in
    shingle_sets, jaccard_pairs (d2's oracle SQL) and containment_pairs,
    checked against DuckDB on corpora that always repeat an id."""
    import duckdb
    import pandas as pd

    from airflow_etl_pyspark_inmet_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
        shingle_sets,
    )
    from airflow_etl_pyspark_inmet_spark.plans.registry import (
        _GRAMS_DISTINCT,
        ORACLES,
    )

    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    sizes = dict(
        con.sql(
            f"WITH {_GRAMS_DISTINCT} SELECT doc_id, COUNT(*) FROM grams GROUP BY 1"
        ).fetchall()
    )
    got_sizes = (
        shingle_sets(df, "doc_id", "text", 3)
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    )
    assert {r["_id"]: r["n"] for r in got_sizes} == sizes

    jaccard = set(con.sql(ORACLES["d2_dedup_jaccard"]).fetchall())
    assert {tuple(r) for r in jaccard_pairs(df).collect()} == jaccard

    containment = set(
        con.sql(
            f"""WITH {_GRAMS_DISTINCT},
            sizes AS (SELECT doc_id, COUNT(*) n FROM grams GROUP BY 1),
            inter AS (
              SELECT a.doc_id id_a, b.doc_id id_b, COUNT(*) c
              FROM grams a JOIN grams b ON a.g = b.g AND a.doc_id < b.doc_id
              GROUP BY 1, 2
            )
            SELECT id_a, id_b, c, sa.n, sb.n,
                   c * 1000000 // sa.n, c * 1000000 // sb.n
            FROM inter
            JOIN sizes sa ON sa.doc_id = id_a
            JOIN sizes sb ON sb.doc_id = id_b"""
        ).fetchall()
    )
    got = containment_pairs(df, threshold_ppm=1).collect()
    assert {tuple(r) for r in got} == containment
    con.close()


# The characters on which Spark's default trim/split and DuckDB's
# trim/string_split_regex can disagree: the Unicode Zs set (DuckDB's
# trim strips all of it, Spark's default trim only U+0020) and the
# ASCII controls around RE2's \s = [\t\n\f\r ] (Java's \s adds \x0b).
_TOKENIZER_ALPHABET = (
    "ab\t\n\x0b\x0c\r \u00a0\u1680"
    + "".join(map(chr, range(0x2000, 0x200B)))
    + "\u202f\u205f\u3000"
)


@settings(**_SETTINGS)
@given(st.lists(st.text(_TOKENIZER_ALPHABET, max_size=12), min_size=1, max_size=20))
def test_words_split_like_duckdb_property(spark, texts):
    """``text._words``, the engine's one tokenizer, returns exactly the
    oracles' ``string_split_regex(trim(text), '\\s+')`` array for every
    string over the tokenizer alphabet, NULL and ``""`` included."""
    import duckdb
    import pandas as pd

    from airflow_etl_pyspark_inmet_spark.operators.text import _words

    rows = list(enumerate([*texts, None, ""]))
    df = spark.createDataFrame(rows, "i int, text string")
    got = {r["i"]: r["w"] for r in df.select("i", _words(F.col("text")).alias("w")).collect()}
    con = duckdb.connect()
    con.register("d", pd.DataFrame(rows, columns=["i", "text"]))
    want = dict(
        con.sql(r"SELECT i, string_split_regex(trim(text), '\s+') FROM d").fetchall()
    )
    con.close()
    assert got == want


@settings(**_SETTINGS)
@given(
    st.lists(
        st.text(_TOKENIZER_ALPHABET, min_size=1, max_size=12),
        min_size=1,
        max_size=12,
    )
)
def test_oov_stats_matches_oracle_sql_on_unicode_whitespace_property(spark, texts):
    """t16 — ``oov_stats`` against the corpus's own top-40
    ``vocab_top_terms`` — equals its registry oracle SQL, run in DuckDB,
    on corpora over the tokenizer alphabet."""
    import duckdb
    import pandas as pd

    from airflow_etl_pyspark_inmet_spark.operators.text import (
        oov_stats,
        vocab_top_terms,
    )
    from airflow_etl_pyspark_inmet_spark.plans.registry import ORACLES

    rows = list(enumerate(texts))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {tuple(r) for r in oov_stats(docs, vocab_top_terms(docs, k=40)).collect()}
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = set(con.sql(ORACLES["t16_oov_stats"]).fetchall())
    con.close()
    assert got == want


@settings(**_SETTINGS)
@given(
    texts=st.lists(st.text(_TOKENIZER_ALPHABET, max_size=12), min_size=1, max_size=20)
)
@example(texts=["a\x0bb c"])
def test_normalize_text_matches_oracle_sql_property(spark, texts):
    """t6 — ``normalize_text`` equals its registry oracle SQL, run in
    DuckDB, on every string over the tokenizer alphabet, NULL and ``""``
    included. The pinned example is the U+000B probe: Java's ``\\s``
    keeps it as whitespace (``a b c``), RE2's strips it (``ab c``)."""
    import duckdb
    import pandas as pd

    from airflow_etl_pyspark_inmet_spark.operators.text import normalize_text
    from airflow_etl_pyspark_inmet_spark.plans.registry import ORACLES

    rows = list(enumerate([*texts, None, ""]))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {tuple(r) for r in normalize_text(docs).collect()}
    con = duckdb.connect()
    con.register("documents", pd.DataFrame(rows, columns=["doc_id", "text"]))
    want = set(con.sql(ORACLES["t6_normalize"]).fetchall())
    con.close()
    assert got == want
