"""Deduplication operators for training-data pipelines: exact, n-gram
Jaccard and containment, MinHash and SimHash LSH, embedding near-dup,
substring excision, Bloom-gated incremental dedup and graph clustering of
the resulting pairs.

Each mechanism the family shares is built in one place:

- word n-grams: :func:`~.text._word_grams`, behind
  :func:`~.text.exploded_ngrams`, :func:`~.text.ngram_hash_sets` and
  :func:`_positional_gram_stream`;
- per-doc shingle sets: :func:`~.text.ngram_hash_sets`, one row per
  distinct id (a repeated id gets the union of its rows' sets);
- MinHash bands: :func:`~.text._gram_hash_stream` (the ``shingle``
  stream) -> :func:`minhash_signatures` ->
  :func:`_stack_bands`, which also stacks :func:`portable_minhash_bands`;
- Jaccard scores and bounds: :func:`_jaccard`;
- the substring keeper: :func:`_gram_census` (count + first occurrence),
  :func:`_redundant_positions` and the island merge
  :func:`_excision_spans`;
- salted engine-portable hashes (portable MinHash, Bloom positions):
  :func:`_salted_hash60` over :func:`_portable_hash60`;
- exact int64 Gram tiles (embedding flags, the tau sweep):
  :func:`_int64_gram_tiles`;
- embedding-cosine pairs: :func:`~.similarity._cos_side` sides scored by
  :func:`~.similarity._pair_cosine` (a zero-norm vector never pairs);
- cluster labels: :func:`_cluster_labels` over
  :func:`connected_components` (a node in no pair keeps its own id).

Hashes that stay inside Spark are ``xxhash64`` with integer salts; values
a DuckDB oracle must replay use the md5-prefix :func:`_portable_hash60`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text import (
    _gram_hash_stream,
    _word_grams,
    _words,
    exploded_ngrams,
    ngram_hash_sets,
)
from .util import lineage_checkpoint, lineage_checkpoint_eager, overlap


def dedup_exact(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Keeper id (min id) per exact-duplicate group + group size.

    Shuffles the hash of the text, not the text: at 100 TB the exchange
    carries (hash, id) pairs only. Collision risk of 64-bit xxhash at
    1e12 docs is handled in production by a 128-bit double-hash; here one
    key suffices.
    """
    h = F.xxhash64(F.col(text_col))
    return (
        df.select(h.alias("text_hash"), F.col(id_col))
        .groupBy("text_hash")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def shingle_sets(
    df: DataFrame, id_col: str, text_col: str, ngram: int
) -> DataFrame:
    """(id, shingle) pairs, distinct per doc (a doc id on several rows is
    one doc: the union of their sets). The shingle is carried as
    its 64-bit xxhash, not the string: set semantics are preserved
    (collision odds ~n²/2⁶⁵) while every downstream shuffle/join moves
    8-byte keys instead of text.

    r18 (optimization): per-doc dedup never crosses doc boundaries, so
    the old explode + corpus-wide ``distinct`` paid a full Exchange of
    every (id, gram-hash) row for a purely row-local set construction.
    Now built map-only via :func:`~..text.ngram_hash_sets`
    (``array_distinct`` over the per-row gram-hash array) — identical
    rows, one less full-corpus shuffle (guide §2.4)."""
    return ngram_hash_sets(df, id_col, text_col, ngram).select(
        "_id", F.explode("_sh").alias("shingle")
    )


def _jaccard(inter: Column) -> Column:
    """``inter / (n_a + n_b - inter)`` in double over the ``n_a``/``n_b``
    set-size columns: every Jaccard score and bound in this module."""
    return inter.cast("double") / (F.col("n_a") + F.col("n_b") - inter).cast(
        "double"
    )


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold: float = 0.5,
    broadcast_sizes: bool = False,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs (a < b, jaccard >= threshold).

    Inverted-index plan: explode distinct shingles, self-join on the
    shingle (co-occurrence count = |A∩B|), broadcast per-doc shingle
    counts, jaccard = inter / (|A| + |B| - inter). Every step is a plain
    shuffle/groupBy — no UDFs, no driver loops.

    ``max_shingle_df`` — the HOT-SHINGLE guard (VERDICT r9 item 4): the
    postings self-join is quadratic PER POSTING LIST, so one
    stopword-gram appearing in k docs alone contributes ~k^2/2
    candidate rows — on a skewed corpus the "exact" tier silently goes
    quadratic. With a cap, shingles whose document frequency exceeds it
    are excluded from CANDIDATE GENERATION (the standard
    non-discriminative-shingle prune), bounding the join fan-out at
    cap^2 per shingle, and the surviving candidates are re-verified
    with the FULL shingle sets — their emitted jaccard is therefore
    EXACT, not an approximation. The documented recall trade: a pair
    whose shared shingles are ALL hotter than the cap is never
    generated (such pairs share only boilerplate). Default ``None``
    keeps the uncapped single-pass plan unchanged.
    """
    # r17 (optimization): materialize the shingle-set frame ONCE — every
    # plan below reads it at least 4 times (both self-join sides + the
    # two per-doc size broadcasts; the capped plan adds the hot-df agg
    # and the cool/hot splits) and Catalyst does not reuse exchanges
    # across the differently-aliased sides, so the unshared frame
    # recomputed scan+explode+distinct per consumer — measured 8
    # parquet scans / 28 exchanges in d2's sf0.1 plan. At 100 TB the
    # frame is corpus-token-sized but data-LINEAR, and writing it once
    # to executor-local disk replaces 3+ full corpus re-scans and
    # re-shuffles — the same trade d33's base-index checkpoint and
    # minhash's `stacked` already make.
    #
    # r18 (optimization): the checkpointed frame is now the PER-DOC SET
    # ARRAY (ngram_hash_sets), not the exploded postings. Set
    # construction is map-only (array_distinct per row), which removes
    # the full-corpus distinct Exchange outright (guide §2.4); the
    # postings sides explode it locally, and the per-doc set size is
    # size(_sh) — a projection, not a second groupBy shuffle over the
    # postings (and no second checkpoint). Two corpus-wide shuffles and
    # one materialization job gone; rows/results identical. (`sizes`
    # now also carries n=0 rows for gram-less docs; every consumer
    # inner-joins it on ids drawn from pairs that SHARE a shingle, so
    # those rows never match.)
    doc_sets = ngram_hash_sets(df, id_col, text_col, ngram).transform(
        lineage_checkpoint_eager
    )
    s = doc_sets.select("_id", F.explode("_sh").alias("shingle"))
    sizes = doc_sets.select("_id", F.size("_sh").cast("bigint").alias("n"))

    a = s.toDF("id_a", "shingle")
    b = s.toDF("id_b", "shingle")
    # The per-doc sizes frame is CORPUS-SIZED (one row per doc — 400 GB
    # at 25 B docs), so the default join is unhinted: AQE converts it to
    # broadcast at runtime only when the frame actually fits, shuffle
    # join otherwise. ``broadcast_sizes=True`` restores the explicit
    # hint for corpora the CALLER knows are broadcastable (skips AQE's
    # query-stage materialization — measured ~0.6 s at sf0.1).
    na = sizes.toDF("id_a", "n_a")
    nb = sizes.toDF("id_b", "n_b")
    if broadcast_sizes:
        na, nb = F.broadcast(na), F.broadcast(nb)
    if max_shingle_df is not None:
        # the guard set is the HOT side, not the cool side: shingles
        # with df > cap number at most n_postings/cap and in practice
        # are the tiny Zipf head, so they broadcast — the anti/semi
        # joins below are then MAP-SIDE filters over the postings. (An
        # earlier draft semi-joined against the corpus-sized COOL set:
        # 3-4 extra postings shuffles, +120 s at factor 100 where the
        # cap never binds.) broadcast_sizes gates the hint exactly as
        # for the per-doc sizes frame; unhinted, AQE decides.
        hot = (
            s.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_shingle_df)
            .select("shingle")
            .transform(lineage_checkpoint)
        )
        # ADAPTIVE shortcut (r17): when NO shingle exceeds the cap,
        # the capped output is definitionally the uncapped output —
        # every candidate survives the anti join, _ic is the full
        # intersection and the hot stages are empty busywork (~2x
        # stage overhead measured on the cap-inert tiers: sf0.1
        # max df 25, mutated factor-100 max df 25). One driver-
        # bounded scalar job materializes the (checkpointed, tiny)
        # hot frame and branches to the single-pass plan when the cap
        # does not bind; when it does, the hybrid below REUSES the
        # same materialized hot frame across its three consumers.
        # Spark cannot make this choice lazily — the plan shape
        # itself differs — so this is the AQE-style runtime decision
        # lifted one level up, the s3 bounded-collect pattern.
        if hot.limit(1).count() == 0:
            max_shingle_df = None  # fall through to the uncapped plan
    if max_shingle_df is not None:
        if broadcast_sizes:
            hot = F.broadcast(hot)
        # explicit selects, not positional toDF: the anti join reorders
        # columns to (shingle, _id)
        s_cand = s.join(hot, "shingle", "left_anti")
        ca = s_cand.select(F.col("_id").alias("id_a"), "shingle")
        cb = s_cand.select(F.col("_id").alias("id_b"), "shingle")
        # hybrid exact count (r17): the cool-postings join IS both the
        # candidate generator and the |A∩B|-over-cool-shingles counter
        # (_ic); the hot share (_ih) is then ADDED for the few
        # NEAR-THRESHOLD pairs only. The pruning bound is provable:
        # true inter <= _ic + min(hot_a, hot_b) (a pair cannot share
        # more hot shingles than either side owns), and jaccard is
        # monotone increasing in inter, so any pair failing the bound
        # can never reach the threshold and is dropped BEFORE the hot
        # join. This keeps the big frames single-consumption (nothing
        # corpus-sized is checkpointed — an earlier draft checkpointed
        # the full _ic frame, ~100M rows at factor 100, +70 s) and the
        # hot join's fan-out is near-threshold-pairs x hot-per-doc.
        # Emitted jaccards stay exact: inter = _ic + _ih on FULL sets.
        ic = (
            ca.join(cb.hint("merge"), "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("_ic"))
        )
        s_hot = s.join(hot, "shingle", "left_semi")
        hotn = s_hot.groupBy("_id").agg(F.count(F.lit(1)).alias("_hn"))
        hna = hotn.toDF("id_a", "_hn_a")
        hnb = hotn.toDF("id_b", "_hn_b")
        if broadcast_sizes:
            hna, hnb = F.broadcast(hna), F.broadcast(hnb)
        m = F.least(
            F.coalesce(F.col("_hn_a"), F.lit(0)),
            F.coalesce(F.col("_hn_b"), F.lit(0)),
        )
        ub = _jaccard(F.col("_ic") + m)
        kept = (
            ic.join(na, "id_a")
            .join(nb, "id_b")
            .join(hna, "id_a", "left")
            .join(hnb, "id_b", "left")
            .filter(ub >= threshold)
            .select("id_a", "id_b", "_ic", "n_a", "n_b")
            .transform(lineage_checkpoint_eager)
        )
        ha = s_hot.select(F.col("_id").alias("id_a"), "shingle")
        hb = s_hot.select(F.col("_id").alias("id_b"), "shingle")
        ih = (
            kept.select("id_a", "id_b")
            .join(ha, "id_a")
            .join(hb, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("_ih"))
        )
        inter_full = F.col("_ic") + F.coalesce(F.col("_ih"), F.lit(0))
        j = (
            kept.join(ih, ["id_a", "id_b"], "left")
            .withColumn("jaccard", _jaccard(inter_full))
            .filter(F.col("jaccard") >= threshold)
        )
        return j.select("id_a", "id_b", "jaccard")
    # r18 (optimization, guide §3.1 "pick the strategy deliberately"):
    # the postings self-join is hinted SORT-MERGE. The build side is the
    # corpus-token-sized postings stream — never safely broadcastable at
    # real scale — but after the checkpoint the planner sees only the
    # materialized LogicalRDD's stats and (at 10x sf0.1) picked a
    # BroadcastHashJoin of 2.6M postings. That was both the at-scale
    # OOM VERDICT r17 flagged AND locally slow: shingle keys repeat df
    # times, so the hash relation degenerates into long duplicate
    # chains that every probe walks (measured at sf1: same stage
    # 268-1327 s CPU run-to-run on the BHJ plan vs a steady ~10 s
    # wall with SMJ, 2.3x faster median). Sorted runs handle the
    # duplicate-heavy key distribution; the hint applies to every
    # corpus-scale self-join in this family (capped/uncapped, verify,
    # containment, minhash bands, simhash chunks).
    inter = (
        a.join(b.hint("merge"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    j = (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("jaccard", _jaccard(F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
    )
    return j.select("id_a", "id_b", "jaccard")


def containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    threshold_ppm: int = 600_000,
    broadcast_sizes: bool = False,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT pairs (Broder's containment,
    |A∩B| / |A|) — the dedup mode resemblance/Jaccard structurally
    misses: a short document quoted WHOLE inside a much longer one has
    tiny Jaccard (the union is dominated by the long doc) but
    containment ≈ 1 for the short side. Production pipelines run this
    next to Jaccard dedup to catch quote/subset duplication.

    Same inverted-index candidate plan as :func:`jaccard_pairs` (only
    docs sharing a shingle can have containment > 0 — an equi-join on
    the 8-byte shingle hash, never doc x doc); scores are EXACT integer
    ppm (truncating div, order-free), emitted for both directions with
    id_a < id_b; a pair survives when its LARGER direction clears
    ``threshold_ppm``. Returns (id_a, id_b, inter, n_a, n_b,
    cont_a_ppm, cont_b_ppm) where cont_a_ppm = |A∩B|*1e6 div |A| (how
    much of A is inside B).

    ``max_shingle_df`` — the same hot-shingle guard as
    :func:`jaccard_pairs`: candidate generation skips shingles with
    document frequency above the cap (bounding the postings join),
    surviving candidates re-verify on FULL shingle sets so the emitted
    containment ppm stays exact; pairs sharing only hotter-than-cap
    boilerplate are dropped (documented trade)."""
    # r17 (optimization): same shingle-set materialization as
    # jaccard_pairs — 4+ consumers, one scan instead of one per
    # consumer. r18: checkpoint the per-doc SET ARRAY (map-only
    # construction, no corpus distinct shuffle); sizes = size(_sh)
    # projection (see the jaccard_pairs comment for the full cost
    # model and the n=0-row equivalence note).
    doc_sets = ngram_hash_sets(df, id_col, text_col, ngram).transform(
        lineage_checkpoint_eager
    )
    s = doc_sets.select("_id", F.explode("_sh").alias("shingle"))
    sizes = doc_sets.select("_id", F.size("_sh").cast("bigint").alias("n"))
    a = s.toDF("id_a", "shingle")
    b = s.toDF("id_b", "shingle")
    if max_shingle_df is not None:
        disc = (
            s.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") <= max_shingle_df)
            .select("shingle")
        )
        s_cand = s.join(disc, "shingle", "left_semi")
        ca = s_cand.select(F.col("_id").alias("id_a"), "shingle")
        cb = s_cand.select(F.col("_id").alias("id_b"), "shingle")
        cand = (
            ca.join(cb.hint("merge"), "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b")
            .dropDuplicates(["id_a", "id_b"])
        )
        inter = (
            cand.join(a, "id_a")
            .join(b, ["id_b", "shingle"])
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    else:
        inter = (
            a.join(b.hint("merge"), "shingle")
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    # same sizes-broadcast contract as jaccard_pairs: corpus-sized
    # frame, unhinted by default (AQE decides), caller opt-in hint
    na = sizes.toDF("id_a", "n_a")
    nb = sizes.toDF("id_b", "n_b")
    if broadcast_sizes:
        na, nb = F.broadcast(na), F.broadcast(nb)
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("cont_a_ppm", F.expr("inter * 1000000 div n_a"))
        .withColumn("cont_b_ppm", F.expr("inter * 1000000 div n_b"))
        .filter(
            F.greatest(F.col("cont_a_ppm"), F.col("cont_b_ppm"))
            >= F.lit(threshold_ppm)
        )
        .select(
            "id_a", "id_b", "inter", "n_a", "n_b",
            "cont_a_ppm", "cont_b_ppm",
        )
    )


def _stack_bands(sig: DataFrame, values: list[Column], value: str) -> DataFrame:
    """(``_id``, ``band``, ``value``) rows, one per band of each ``_id``
    row of ``sig``; band ``b`` carries ``values[b]``. Every banded LSH
    table here is stacked by this one explode."""
    return sig.select(
        "_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(b).alias("band"), v.alias(value))
                    for b, v in enumerate(values)
                ]
            )
        ).alias("bh"),
    ).select("_id", "bh.band", f"bh.{value}")


def minhash_signatures(
    shingles: DataFrame, num_hashes: int
) -> DataFrame:
    """MinHash signature per doc: for salt k in 0..num_hashes-1,
    sig[k] = min over shingles of xxhash64(k, shingle). One groupBy,
    num_hashes min-aggregates — all JVM-side.

    ``min`` is duplicate-insensitive, so the input does NOT need distinct
    shingles — feeding the raw exploded gram stream here skips an entire
    full-corpus distinct shuffle and lets the single groupBy do map-side
    partial min combine (shuffle rows = one per doc per partition)."""
    aggs = [
        F.min(F.xxhash64(F.lit(k), F.col("shingle"))).alias(f"mh_{k}")
        for k in range(num_hashes)
    ]
    return shingles.groupBy("_id").agg(*aggs)


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 30,
    bands: int = 10,
    threshold: float = 0.5,
    broadcast_sizes: bool = False,
) -> DataFrame:
    """Near-dup pairs via MinHash + banded LSH, verified with exact Jaccard.

    Candidate generation: split the signature into ``bands`` bands of
    ``num_hashes/bands`` rows; docs sharing any band hash become
    candidates (join key = (band_idx, band_hash) — small fixed-width
    shuffle). Verification recomputes exact Jaccard on candidates only.

    Band shape tunes the S-curve 1-(1-j^r)^b: r=3/b=10 misses a true
    j=0.85 pair with p=(1-0.85³)^10 < 1e-4 (recall ≈ 1 at threshold 0.5
    on near-dup corpora) while letting a j=0.15 noise pair through only
    ~3% of the time — r=2 bands admit ~30% of noise pairs, which silently
    rebuilds the quadratic verify set that LSH exists to prune.

    Shuffle budget (the 100 TB shape): signatures come straight off the
    NON-distinct gram stream (min is duplicate-insensitive) — one groupBy
    with map-side combine, no full-corpus distinct, no checkpoint of the
    corpus-sized shingle set. The only materialized intermediate is
    ``stacked`` (docs x bands fixed-width rows — tiny), checkpointed so
    the band self-join doesn't recompute the signature pyramid for each
    side. Distinct shingle sets are built only AFTER the candidate-doc
    semi-join prune, inside the verify step.
    """
    stacked = minhash_band_table(
        df, id_col, text_col, ngram, num_hashes, bands
    ).transform(lineage_checkpoint_eager)

    l = stacked.toDF("id_a", "band", "h")
    r = stacked.toDF("id_b", "band", "h")
    # no .distinct() here: verify's left-semi joins are set-semantics
    # anyway, so deduping candidate pairs would only add a shuffle
    candidates = (
        l.join(r.hint("merge"), ["band", "h"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )

    return _jaccard_verify(
        _gram_hash_stream(df, id_col, text_col, ngram, "shingle"),
        candidates,
        threshold,
        broadcast_sizes=broadcast_sizes,
    )


def _jaccard_verify(
    s: DataFrame,
    candidates: DataFrame,
    threshold: float,
    broadcast_sizes: bool = False,
) -> DataFrame:
    """Exact-Jaccard verification of a candidate pair set.

    ``s`` is an (``_id``, ``shingle``) stream (duplicates allowed — the
    distinct runs here, after the prune), ``candidates`` is
    (``id_a``, ``id_b``), duplicates allowed. The semi-join to candidate
    docs must happen BEFORE both the distinct and the shingle self-join:
    deduping or inverted-index-joining the full corpus first would redo
    the quadratic co-occurrence work of exact jaccard_pairs, which is
    exactly what candidate generation exists to avoid.
    """
    cand_docs = (
        candidates.select(F.col("id_a").alias("_id"))
        .unionByName(candidates.select(F.col("id_b").alias("_id")))
        .distinct()
    )
    # r17 (optimization): the candidate-pruned postings frame feeds
    # three consumers (both self-join sides + the size agg); without a
    # checkpoint each consumer re-ran the corpus gram scan + semi-join
    # + distinct (d3's sf0.1 plan: 8 scans / 64 exchanges). The frame
    # is CANDIDATE-bounded (docs appearing in at least one pair), so
    # materializing it is small at any corpus scale.
    s_c = (
        s.join(F.broadcast(cand_docs), "_id", "left_semi")
        .distinct()
        .transform(lineage_checkpoint_eager)
    )
    sizes = s_c.groupBy("_id").agg(F.count(F.lit(1)).alias("n"))
    a = s_c.toDF("id_a", "shingle")
    b = s_c.toDF("id_b", "shingle")
    inter = (
        a.join(b.hint("merge"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .join(candidates, ["id_a", "id_b"], "left_semi")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    # sizes here is CANDIDATE-pruned (only docs appearing in a pair),
    # smaller than the corpus but still unbounded in the worst case —
    # same unhinted-default / caller-opt-in contract as jaccard_pairs
    na = sizes.toDF("id_a", "n_a")
    nb = sizes.toDF("id_b", "n_b")
    if broadcast_sizes:
        na, nb = F.broadcast(na), F.broadcast(nb)
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .withColumn("jaccard", _jaccard(F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def simhash64(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """64-bit SimHash per doc: hash each token with xxhash64, sum ±1 per
    bit position, sign -> bit.

    MAP-ONLY: all of a document's tokens live in its own row, so the
    per-bit counters are a per-row ``aggregate`` fold over the token
    array — zero shuffles at any corpus size. (The previous formulation
    exploded |corpus tokens| rows through a hash-aggregate shuffle; the
    fold computes the identical counters without leaving the row —
    measured 6.3 s -> ~1 s for the d4 pipeline at sf0.1.)

    Counter packing: 4 per-bit counters per long, in 16-bit lanes — the
    fold's accumulator is a 16-element long array instead of 64. A lane
    counts tokens whose hash bit is 1 (per-token lane increments are 0/1,
    so lanes never carry into each other while the doc has < 2^15
    tokens). bit = majority = (2*pos > n), identical to the sign of the
    classic ±1 sum.

    Lane-capacity guard: a doc with >= 2^15 whitespace tokens would
    overflow lane 3 (count << 48) past 2^63 — such docs get a NULL
    signature (excluded from banding joins by NULL semantics), and the
    guard short-circuits BEFORE the fold so ANSI overflow can never
    throw. Pre-chunk oversized docs upstream (chunk_documents) if they
    must be deduped.
    """
    toks = _words(F.col(text_col))
    hashes = F.transform(toks, lambda t: F.xxhash64(t))
    zero = F.array_repeat(F.lit(0).cast("long"), 16)

    # Bit-spread multiply: nibble y = (h >> 4g) & 15 holds the 4 hash
    # bits of group g; y * (1 + 2^15 + 2^30 + 2^45) shifts y by
    # {0,15,30,45}, landing bit l at position 16l (l + 15l), and the lane
    # mask kills every cross term (reachable positions are {0..3, 15..18,
    # 30..33, 45..48}; 0/16/32/48 are each produced by exactly one
    # (bit, shift) pair). One multiply replaces four shift-and-or chains
    # — 4 ops per group per token instead of ~12.
    spread = F.lit(0x0000200040008001)
    lane_mask = F.lit(0x0001000100010001)

    def step(acc: Column, h: Column) -> Column:
        return F.array(
            *[
                acc[g]
                + (
                    F.shiftright(h, 4 * g).bitwiseAND(F.lit(15)) * spread
                ).bitwiseAND(lane_mask)
                for g in range(16)
            ]
        )

    n = F.size(toks).cast("long")
    lanes = F.when(n < F.lit(1 << 15), F.aggregate(hashes, zero, step))
    # materialize the fold ONCE; the signature assembly below references
    # the lane array 64 times. NULL-text docs are dropped (parity with
    # the explode formulation, where they produced no token rows).
    staged = df.filter(F.col(text_col).isNotNull()).select(
        F.col(id_col), n.alias("_n"), lanes.alias("_lanes")
    )
    sig = None
    for g in range(16):
        for lane in range(4):
            b = g * 4 + lane
            pos = F.shiftright(F.col("_lanes")[g], 16 * lane).bitwiseAND(
                F.lit(0xFFFF)
            )
            bit = F.when(pos * 2 > F.col("_n"), F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            term = F.shiftleft(bit, b)
            sig = term if sig is None else sig.bitwiseXOR(term)
    # NULL lanes (oversized doc) must yield a NULL signature, not the
    # all-zero word the when/otherwise chain would default to
    guarded = F.when(F.col("_lanes").isNotNull(), sig)
    return staged.select(F.col(id_col), guarded.alias("simhash"))


def _simhash_candidates(
    sig: DataFrame, n_bands: int, max_bucket_df: int | None = None
) -> DataFrame:
    """Banded candidate pairs from (``_id``, ``simhash``) signatures.

    The 64-bit signature splits into ``n_bands`` chunks; docs sharing any
    chunk value become candidates. Pigeonhole guarantee: any pair with
    Hamming distance <= n_bands - 1 shares at least one intact chunk.
    Wider bands (fewer, bigger chunks) are more selective; narrower bands
    raise the guaranteed-recall radius at the cost of bucket collisions.

    ``max_bucket_df`` — the HOT-BUCKET guard (VERDICT r16 item 3), the
    band-space mirror of ``jaccard_pairs``'s ``max_shingle_df``: the
    banded self-join is quadratic PER BUCKET, so on a degenerate corpus
    (many near-identical signatures) one bucket holding k docs alone
    contributes ~k^2/2 candidate rows. With a cap, (chunk, v) buckets
    whose document frequency exceeds it are excluded from CANDIDATE
    GENERATION, bounding the join fan-out at cap^2 per bucket; the
    surviving candidates still carry their full signatures, so the
    downstream Hamming verify is EXACT. The documented recall trade: a
    pair whose shared bands are ALL hotter than the cap is never
    generated — on such a corpus those buckets are non-discriminative
    (the pair's signature agreement is corpus-wide boilerplate, not
    pairwise similarity). Default ``None`` keeps the plan unchanged.
    """
    width = 64 // n_bands
    mask = (1 << width) - 1
    chunks = sig.select(
        "_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("simhash"), c * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("v"),
                    )
                    for c in range(n_bands)
                ]
            )
        ).alias("cv"),
    ).select("_id", "simhash", "cv.chunk", "cv.v")
    if max_bucket_df is not None:
        # guard on the HOT side (the jaccard_pairs r17 lesson): occupied
        # buckets number ~n_bands x N on a spread-out corpus, but HOT
        # buckets are at most n_bands x N / cap — the small side, so the
        # anti join broadcasts (AQE) and filters map-side
        hot_b = (
            chunks.groupBy("chunk", "v")
            .agg(F.count(F.lit(1)).alias("_df"))
            .filter(F.col("_df") > max_bucket_df)
            .select("chunk", "v")
        )
        chunks = chunks.join(hot_b, ["chunk", "v"], "left_anti").select(
            "_id", "simhash", "chunk", "v"
        )
    l = chunks.toDF("id_a", "sig_a", "chunk", "v")
    r = chunks.toDF("id_b", "sig_b", "chunk", "v")
    return (
        l.join(r.hint("merge"), ["chunk", "v"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )


def simhash_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    n_bands: int = 4,
    max_bucket_df: int | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: band the 64-bit signature into ``n_bands``
    chunks (default 4 x 16-bit — pigeonhole: distance <= 3 => at least one
    identical chunk), join on chunk equality, verify Hamming distance with
    bit_count. The production scale tier: 16-bit buckets keep the
    candidate join selective at corpus scale. ``max_bucket_df`` bounds the
    per-bucket join fan-out on degenerate corpora — see
    :func:`_simhash_candidates` for the guard contract and recall trade."""
    # checkpoint: the (id, signature) frame — N fixed-width rows — feeds
    # both sides of the banded self-join; without it the token-fold scan
    # of the corpus runs once per side
    sig = (
        simhash64(df, id_col, text_col)
        .withColumnRenamed(id_col, "_id")
        .transform(lineage_checkpoint_eager)
    )
    return (
        _simhash_candidates(sig, n_bands, max_bucket_df)
        .withColumn(
            "hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
        )
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    n_bands: int = 16,
    threshold: float = 0.5,
    broadcast_sizes: bool = False,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """SimHash candidates + exact n-gram-Jaccard verification — the
    oracle-checkable validation tier of the simhash family.

    Output set: pairs with jaccard >= threshold that share at least one
    signature band. With 16 x 4-bit bands the pigeonhole guarantee covers
    Hamming <= 15, above the measured max Hamming of true j>=0.5 pairs in
    the test corpus (5 at sf0.01, 12 at sf0.1), so the output equals
    ``jaccard_pairs`` exactly (same DuckDB oracle as d2).

    Plan shape: band-candidacy of a *specific* pair is a pure bit test —
    the pair shares band c iff nibble c of ``sig_a XOR sig_b`` is zero —
    so instead of materializing the banded self-join (4-bit buckets hold
    1/16 of the corpus each; on a clustered corpus the candidate set
    degenerates toward all-pairs — measured 12.3M candidate pairs for
    5 000 docs at sf0.1, 187 s wall), this computes the exact-Jaccard pair
    set via the linear inverted-index plan and applies the band test as a
    per-row filter after two broadcast signature joins. Identical result
    set, no quadratic join anywhere. The production banded-join candidate
    generator (selective 16-bit buckets + Hamming verify, no shingle pass)
    remains ``simhash_pairs``.

    ``max_shingle_df`` forwards to the inner :func:`jaccard_pairs` — the
    hot-shingle guard that bounds the postings join's per-shingle fan-out
    at cap^2 (surviving candidates are still verified on FULL shingle
    sets, so emitted jaccards stay exact; pairs whose shared shingles are
    ALL hotter than the cap are never generated).
    """
    # checkpoint: both broadcast sides (a and b) read this frame — one
    # token-fold scan instead of two. r18 (guide §2.6): the signature
    # fold is independent of the jaccard tier, but jaccard_pairs'
    # construction runs its own blocking jobs (doc_sets materialization
    # + the hot-shingle probe) — materialize the signatures on a
    # concurrent driver thread so the two corpus passes overlap instead
    # of serializing. Results identical: both branches are
    # deterministic and share nothing but the input frame.
    sig, pairs = overlap(
        lambda: (
            simhash64(df, id_col, text_col)
            .withColumnRenamed(id_col, "_id")
            .transform(lineage_checkpoint_eager)
        ),
        lambda: jaccard_pairs(
            df, id_col, text_col, ngram, threshold,
            broadcast_sizes=broadcast_sizes,
            max_shingle_df=max_shingle_df,
        ),
    )
    a = sig.toDF("id_a", "sig_a")
    b = sig.toDF("id_b", "sig_b")
    width = 64 // n_bands
    mask = (1 << width) - 1
    xor = F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    shares_band = None
    for c in range(n_bands):
        t = F.shiftright(xor, c * width).bitwiseAND(F.lit(mask)) == 0
        shares_band = t if shares_band is None else shares_band | t
    return (
        pairs.join(F.broadcast(a), "id_a")
        .join(F.broadcast(b), "id_b")
        .filter(shares_band)
        .select("id_a", "id_b", "jaccard")
    )


def embedding_cosine_pairs(
    df: DataFrame, block_col: str, threshold: float
) -> DataFrame:
    """Semantic (embedding-cosine) near-dup pairs within blocks.

    The self-join is an equi-join on ``block_col`` — the blocking key that
    makes this linear in block size instead of quadratic in the corpus. At
    100 TB the block key is an LSH bucket (operators.similarity sign-LSH)
    or an IVF cell id; here the testdata's cluster ``label`` plays that
    role so the result stays exactly oracle-able. Norms are computed once
    per row BEFORE the join (each pair then costs one dot product, not
    three), and the scoring is a JVM-side aggregate fold — no Python, no
    broadcast of the corpus. A zero-norm vector never pairs.
    """
    from .similarity import _cos_side, _pair_cosine

    blk = F.col(block_col).alias("_blk")
    return (
        _cos_side(df, "a", blk)
        .join(_cos_side(df, "b", blk), "_blk")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _pair_cosine().alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def _int64_gram_tiles(vecs, scale: int, coef: int, chunk: int = 1024):
    """Yield ``(lo, hi, G, n2)`` row tiles of one block's exact int64 Gram
    matrix: vectors quantized onto the d25 grid (``floor(x*scale)``),
    ``G = Q[lo:hi] @ Q.T`` and ``n2`` every row's squared norm, so only
    ``chunk x m`` materializes at a time. ``coef`` is the largest factor
    a caller multiplies ``G*G`` or ``n2*n2`` by; int64-exactness needs
    ``coef * (dim*maxc^2)^2 <= 2^63-1`` (|G| and |n2| are both
    ``<= dim*maxc^2``), checked on the actual coordinates, in exact
    Python ints, before any int64 arithmetic can wrap."""
    import math

    import numpy as np

    V = np.stack(vecs.to_numpy()).astype(np.float64)
    Q = np.floor(V * scale).astype(np.int64)
    if Q.shape[1] * int(np.abs(Q).max(initial=0)) ** 2 > math.isqrt(
        (2**63 - 1) // coef
    ):
        raise ValueError(
            "dim * max_coord^2 exceeds the int64-exact envelope; "
            "lower `scale` or widen the kernel"
        )
    n2 = np.einsum("ij,ij->i", Q, Q)  # (m,) int64
    for lo in range(0, len(Q), chunk):
        hi = min(lo + chunk, len(Q))
        yield lo, hi, Q[lo:hi] @ Q.T, n2  # (chunk, m) int64


def embedding_blocked_neardup_flags(
    df: DataFrame,
    block_col: str = "label",
    tau_num: int = 7,
    tau_den: int = 20,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-vector near-duplicate FLAG over blocks, exact-integer — the
    EXISTENCE reduction of :func:`embedding_cosine_pairs`: flag(v) =
    "some other vector u in v's block has cosine >= tau". When only
    the flag is needed (c10's dashboard, drop policies), enumerating
    the pairs through a self-join prices every pair at a JVM
    higher-order-function dot fold (~microseconds each — measured
    133 s for the 20M pairs of sf1's 2k-wide label blocks). This
    computes the same decision with ONE chunked integer Gram matmul
    per block inside ``applyInPandas``: vectors are milli-quantized
    onto the d25 grid (``floor(x*scale)`` int64) and the tau crossing
    is decided rationally — ``dot >= 0 AND tau_den^2*dot^2 >=
    tau_num^2*|a|^2*|b|^2`` — all int64 (coords to ~1500 quanta at
    dim 64 stay far under 2^63; asserted in-kernel), so DuckDB
    replays it bit for bit. Zero-norm vectors never flag (undefined
    cosine, the d25 contract).

    Scale shape: the groupBy ships each block's m x dim int64 matrix
    to one task (10 MB for a 20k-vector corpus; the Gram tile is
    row-chunked so only chunk x m materializes); work is sum over
    blocks of m^2*dim integer MACs in numpy — ~100x cheaper per pair
    than the JVM fold, linear in corpus when block width is bounded.
    A block must fit an executor (the same balanced-blocking premise
    as the paper's label/IVF cells); unbounded-block corpora belong
    on the LSH tier (:func:`embedding_lsh_pairs`). Returns
    (id_col, neardup)."""
    import numpy as np
    import pandas as pd

    tn2, td2 = tau_num * tau_num, tau_den * tau_den

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        flag = np.zeros(len(pdf), dtype=bool)
        for lo, hi, G, n2 in _int64_gram_tiles(pdf["_v"], scale, max(td2, tn2)):
            pos = n2 > 0
            ok = (G >= 0) & (
                td2 * (G * G) >= tn2 * np.outer(n2[lo:hi], n2)
            )
            ok &= pos[lo:hi, None] & pos[None, :]
            idx = np.arange(lo, hi)
            ok[idx - lo, idx] = False  # a vector is not its own dup
            flag[lo:hi] = ok.any(axis=1)
        return pd.DataFrame({"vec_id_out": pdf["_id"], "neardup": flag})

    # NULL-block contract: a NULL block key means "no block", so the
    # vector has no same-block partners and never flags — matching the
    # SQL-oracle join semantics (a.label = b.label drops NULLs) instead
    # of groupBy's NULLs-are-one-group behavior.
    src = df.select(
        F.col(id_col).cast("bigint").alias("_id"),
        F.col(block_col).alias("_blk"),
        F.col(vec_col).cast("array<double>").alias("_v"),
    )
    flagged = (
        src.filter(F.col("_blk").isNotNull())
        .groupBy("_blk")
        .applyInPandas(kernel, "vec_id_out bigint, neardup boolean")
        .select(F.col("vec_id_out").alias(id_col), "neardup")
    )
    unblocked = src.filter(F.col("_blk").isNull()).select(
        F.col("_id").alias(id_col), F.lit(False).alias("neardup")
    )
    return flagged.unionByName(unblocked)


def embedding_lsh_pairs(
    df: DataFrame,
    threshold: float,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int | None = None,
    n_tables: int = 8,
    multiprobe: bool = True,
    target_occupancy: int = 32,
    index_df: DataFrame | None = None,
) -> DataFrame:
    """Corpus-scaled embedding near-dup pairs: sign-LSH bucket blocking
    + exact cosine verification — the production replacement for the
    fixed-cardinality ``label`` blocking of
    :func:`embedding_cosine_pairs` (whose per-block pair work is
    quadratic in the corpus: measured 77x wall-clock for 10x data at
    sf1, BENCH_sf1_r9.json).

    Blocking: each vector lands in one bucket per LSH table (bucket id
    = sign pattern of ``n_planes`` deterministic hyperplane
    projections, operators.similarity.sign_lsh_bucket_udf — the SAME
    hash family as the s2 ANN tier); with ``multiprobe`` the probe
    side also visits every Hamming-distance-1 bucket, recovering pairs
    whose projections straddle one hyperplane. Candidates are the
    bucket equi-join (probe side vs base side, ``id_a < id_b``,
    deduped); every candidate is verified with the exact JVM-side
    cosine fold, so precision is exact — recall is the tunable.

    Scale shape (the whole point): with ``n_planes = None`` the plane
    count is derived from the corpus size so that EXPECTED BUCKET
    OCCUPANCY stays ~``target_occupancy`` — buckets per table
    2^planes ~ N/B, so per-bucket pair work is ~B^2 and TOTAL work is
    ~N * B * L(1+planes): QUASI-LINEAR in the corpus — the Hamming-1
    multiprobe factor (1+planes) grows with log N, so the pass is
    N log N, against the label tier's N^2/cardinality (the r11 sf10
    gate measured the log term directly: 100x data -> planes 8 -> 14
    -> candidate rows ~160x; BASELINE.md r11). Callers needing
    strictly linear growth pin ``n_planes`` or disable ``multiprobe``
    and compensate with ``n_tables``. The bucket join shuffles N * L * (1+planes)
    fixed-width (id, bucket) rows; the verify joins shuffle candidate
    ids + one pass of the corpus vectors. Nothing is broadcast and no
    driver-side state exists beyond the (planes x dim) hyperplane
    literals. Recall at a given cosine floor theta: a pair shares a
    band with prob (1-theta/pi)^planes, boosted by multiprobe and
    1-(1-p)^L across tables — deeper corpora (more planes) trade
    recall per table for more tables; callers pin ``n_planes``/
    ``n_tables`` when they need a fixed recall floor. The sizing count
    is one cheap action (count of the slim id column).

    ``index_df`` — the INCREMENTAL shape (the d10 band-table pattern
    for embeddings): when given, pairs are (``id_a`` from ``df`` — the
    delta, ``id_b`` from ``index_df`` — the standing corpus), with the
    multiprobe on the DELTA side only. The index side's (id, bucket)
    frame is exactly what a 100 TB pipeline materializes once and
    appends to per ingest — each delta then costs
    |delta| * L(1+planes) probe rows joined against the bucket table,
    never a corpus re-scan. Id spaces must be disjoint (enforced
    nowhere — same contract as d10); plane sizing uses the INDEX side
    size, which governs occupancy.
    """
    import math

    from .similarity import _cos_side, _pair_cosine, sign_lsh_bucket_udf

    base_side = index_df if index_df is not None else df
    if n_planes is None:
        n = base_side.count()
        n_planes = max(
            3,
            min(24, math.ceil(math.log2(max(n, 2) / target_occupancy)))
            if n > target_occupancy
            else 3,
        )
    base_udf = sign_lsh_bucket_udf(dim, n_planes, n_tables, False)
    probe_udf = sign_lsh_bucket_udf(dim, n_planes, n_tables, multiprobe)
    # CANDIDATES-THEN-VERIFY, id-only (r11 A/B, BASELINE.md): the
    # tempting "carry vectors through the bucket join and verify
    # inline" rewrite was built and MEASURED SLOWER both small and
    # large (sf0.1 ~3x, sf10 timed out vs 541 s): without the
    # pair-dedup the JVM cosine fold runs once per candidate SLOT
    # (~N*occ*L*(1+planes) zip_with array allocations — 1.9e9 at 500k
    # vectors) instead of once per distinct pair, and that fold — not
    # the candidate shuffle — is the wall. Dedup-first stays.
    base = base_side.select(
        F.col(id_col).alias("id_b"),
        F.explode(base_udf(F.col(vec_col))).alias("_bkt"),
    )
    probe = df.select(
        F.col(id_col).alias("id_a"),
        F.explode(probe_udf(F.col(vec_col))).alias("_bkt"),
    )
    cand = probe.join(base, "_bkt")
    if index_df is None:
        cand = cand.filter(F.col("id_a") < F.col("id_b"))
    cand = cand.select("id_a", "id_b")
    # spill guard for the id-only tier: size the dedup exchange from
    # the estimated candidate volume (~4M rows per task) instead of
    # the static session shuffle-partition count
    if n_planes >= 10:
        probe_factor = (1 + n_planes) if multiprobe else 1
        est_cand = (
            (1 << n_planes)
            * target_occupancy
            * target_occupancy
            * n_tables
            * probe_factor
        )
        n_part = max(32, min(4096, est_cand // 4_000_000))
        cand = cand.repartition(n_part, "id_a", "id_b")
    cand = cand.dropDuplicates(["id_a", "id_b"])
    cols = {"id_col": id_col, "vec_col": vec_col}
    return (
        cand.join(_cos_side(df, "a", **cols), "id_a")
        .join(_cos_side(base_side, "b", **cols), "id_b")
        .select("id_a", "id_b", _pair_cosine().alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def connected_components(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over an undirected ``(id_a, id_b)`` pair list
    → (node, component) with component = min node id reachable. This is
    the dedup *clustering* step: near-dup pairs (from jaccard/minhash/
    simhash) become groups with one canonical keeper per group.

    Distributed min-label propagation with pointer jumping: every
    iteration (a) takes the min neighbor label through the symmetrized
    edge list, then (b) replaces each label with the label's OWN current
    label (``comp <- comp[comp]``), which halves the depth of any label
    chain — so convergence is O(log diameter) rounds, not O(diameter).
    Near-dup clusters are near-cliques (2-3 rounds); the pointer jump is
    what keeps a pathological PATH-shaped dup chain (each doc near-dup of
    the next) from needing diameter rounds. ``max_iter`` is a hard bound:
    if labels still change at the cap the function RAISES rather than
    returning silently-wrong partial labels (2^max_iter reach covers any
    realistic graph: the default 20 handles chains of ~10^6 hops). The
    driver loop only checks a scalar convergence count per round;
    ``localCheckpoint`` truncates lineage so plans don't grow by round.
    """
    edges = (
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionByName(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
        .transform(lineage_checkpoint_eager)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("comp", F.col("node"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("comp").alias("n_comp"))
        )
        # r17 (optimization): checkpoint `propagated` — it feeds BOTH
        # sides of the pointer-jump self-join below, and without the
        # checkpoint each side recomputed the whole propagate step
        # (edges ⋈ labels + min-agg + left join) — i.e. every round
        # paid the heaviest join twice. Lazy like new_labels: the
        # round's single changed-count action materializes both.
        propagated = labels.join(
            neighbor_min, labels.node == neighbor_min.src, "left"
        ).select(
            "node",
            F.least(
                F.col("comp"), F.coalesce(F.col("n_comp"), F.col("comp"))
            ).alias("comp"),
        ).transform(lineage_checkpoint)
        # pointer jump: comp <- comp's own label. Labels are node ids, so
        # every comp value has a row in `propagated`; the self-join is on
        # the same (node, comp)-sized frame — bounded by the candidate
        # set, never the corpus.
        ptr = propagated.select(
            F.col("node").alias("_pnode"), F.col("comp").alias("_pcomp")
        )
        # lazy checkpoint: the changed-count below is the first action
        # over new_labels, so it materializes the checkpoint as a side
        # effect — one job per iteration instead of two (an eager
        # checkpoint would run its own materialization job first).
        new_labels = (
            propagated.join(ptr, propagated.comp == ptr._pnode, "left")
            .select(
                "node",
                F.least(
                    F.col("comp"), F.coalesce(F.col("_pcomp"), F.col("comp"))
                ).alias("comp"),
            )
            .transform(lineage_checkpoint)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components: labels still changing after "
            f"{max_iter} iterations — graph diameter exceeds 2^{max_iter} "
            f"reach. Raise max_iter; returning partial labels would "
            f"silently merge/split dedup clusters."
        )
    return labels.select(F.col("node"), F.col("comp"))


def _cluster_labels(nodes: DataFrame, pairs: DataFrame, id_col: str) -> DataFrame:
    """The one cluster labeller: every row of ``nodes`` plus its
    ``cluster_id``, the :func:`connected_components` label of its
    ``id_col`` over the ``(id_a, id_b)`` ``pairs``. A left join onto the
    components, so a node in no pair is a singleton cluster labelled
    with its own id."""
    comp = connected_components(pairs)
    return nodes.join(comp, F.col(id_col) == F.col("node"), "left").select(
        *nodes.columns,
        F.coalesce(F.col("comp"), F.col(id_col)).alias("cluster_id"),
    )


def semantic_dedup_keepers(
    df: DataFrame, block_col: str, threshold: float
) -> DataFrame:
    """SemDeDup-style semantic dedup *selection*: embedding-cosine
    near-dup pairs within blocks -> connected components -> one canonical
    keeper (min id) per semantic cluster. Emits every row of the corpus:

        vec_id | cluster_id | is_keeper

    so a curation pipeline drops ``NOT is_keeper`` rows to deduplicate
    semantically. Builds on ``embedding_cosine_pairs`` (blocked equi-join
    — linear in block size) and ``_cluster_labels`` (min-label
    propagation, O(cluster diameter) rounds); singleton documents keep
    themselves, so the output is a total partition of the corpus, not
    just the paired subset.
    """
    pairs = embedding_cosine_pairs(df, block_col, threshold)
    return _cluster_labels(df.select("vec_id"), pairs, "vec_id").withColumn(
        "is_keeper", F.col("vec_id") == F.col("cluster_id")
    )


def repeated_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """ExactSubstr-style cross-document repeated-span detection (the
    span-level half of training-data dedup: instead of dropping whole
    near-dup documents, find the exact repeated passages — licenses,
    boilerplate, quoted chunks — so curation can excise the SPAN).

    A word ``n``-gram occurring in >= ``min_docs`` distinct documents
    marks its token range [pos, pos+n-1] as duplicated; overlapping or
    adjacent duplicated ranges within a doc merge into maximal spans
    (positions p1 < p2 share a span iff p2 - p1 <= n). Output per doc:

        n_grams | n_dup_grams | n_spans | n_dup_tokens

    100 TB plan shape:
      1. positional gram stream (doc_id, pos, xxhash64(gram)) — explode
         carries 20-byte tuples, never text; equality classes are 64-bit
         hash classes (same collision trade as decontaminate/segment_dedup);
      2. hash-agg count-distinct-docs per gram hash -> the duplicated-gram
         set (usually small: only cross-doc repeats survive);
      3. join back on the 8-byte hash (AQE broadcasts when small), keeping
         (doc_id, pos) only;
      4. per-doc interval merge: one window over (doc_id, pos) — bounded
         by the doc's own gram count, never corpus-wide;
      5. map-only total-gram recount from the raw table for the zero-fill
         left join (a 2-column re-scan beats checkpointing the corpus-
         sized gram stream, which is the documented anti-pattern).
    The gram stream is deliberately recomputed for steps 2 and 3 rather
    than checkpointed — at scale the re-scan is cheaper than spilling a
    corpus-sized intermediate.
    """
    stream = _positional_gram_stream(df, id_col, text_col, n)
    dup = (
        stream.groupBy("_gh")
        .agg(F.count_distinct("_id").alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_gh")
    )
    hits = stream.join(dup, "_gh").select("_id", "pos")
    per_doc = (
        _excision_spans(hits, "_id", n)
        .groupBy("_id")
        .agg(
            F.sum("span_grams").alias("n_dup_grams"),
            F.count(F.lit(1)).alias("n_spans"),
            F.sum("span_tokens").alias("n_dup_tokens"),
        )
    )
    totals = df.select(
        F.col(id_col).alias("_id"),
        F.greatest(
            F.size(_words(F.col(text_col))) - n + 1, F.lit(0)
        )
        .cast("bigint")
        .alias("n_grams"),
    )
    return totals.join(per_doc, "_id", "left").select(
        F.col("_id").alias(id_col),
        "n_grams",
        F.coalesce("n_dup_grams", F.lit(0)).cast("bigint").alias("n_dup_grams"),
        F.coalesce("n_spans", F.lit(0)).cast("bigint").alias("n_spans"),
        F.coalesce("n_dup_tokens", F.lit(0))
        .cast("bigint")
        .alias("n_dup_tokens"),
    )


def _positional_gram_stream(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> DataFrame:
    """(``_id``, ``pos``, ``_gh``) positional word-n-gram hash stream —
    the shared substrate of the substring-dedup family (d31/d32/d33):
    0-based token position, 64-bit xxhash of the space-joined gram,
    never the gram text. Docs shorter than ``n`` tokens (including NULL
    text: ``size(split(NULL))`` is -1, below every ``n >= 1``) emit no
    rows. Callers RECOMPUTE this rather than checkpoint it (the
    repeated_spans convention: the stream is corpus-sized — at scale
    the re-scan is cheaper than spilling it)."""
    d, grams = _word_grams(df, id_col, text_col, n)
    return d.select("_id", F.posexplode(grams).alias("pos", "_g")).select(
        "_id", "pos", F.xxhash64("_g").alias("_gh")
    )


def _gram_census(stream: DataFrame) -> DataFrame:
    """(``_gh``, ``_occ``, ``_keep``) per gram hash of a positional
    stream: the occurrence count and the keeper, the first occurrence
    ``min(struct(_id, pos))`` — one hash aggregate with map-side partial
    combine, shared by the batch, incremental and streaming keepers."""
    return stream.groupBy("_gh").agg(
        F.count(F.lit(1)).alias("_occ"),
        F.min(F.struct("_id", "pos")).alias("_keep"),
    )


def _redundant_positions(stream: DataFrame) -> DataFrame:
    """(``_id``, ``pos``) of every occurrence of a repeated gram except
    its keeper: the census filtered to ``_occ >= 2``, joined back on the
    8-byte hash (the survivors are the small side)."""
    keepers = _gram_census(stream).filter(F.col("_occ") >= 2).select(
        "_gh", "_keep"
    )
    return (
        stream.join(keepers, "_gh")
        .filter(
            (F.col("_id") != F.col("_keep._id"))
            | (F.col("pos") != F.col("_keep.pos"))
        )
        .select("_id", "pos")
    )


def _excision_spans(red: DataFrame, id_col: str, n: int) -> DataFrame:
    """Merge redundant gram positions (``_id``, ``pos``) into maximal
    excision spans — the island merge shared by d31/d33: positions
    p1 < p2 join iff p2 - p1 <= n (their n-token ranges overlap or
    touch). Window over (``_id``, ``pos``): doc id is a
    high-cardinality partition key, so per-partition work is bounded
    by the doc's own duplicated-gram count."""
    from pyspark.sql import Window

    w = Window.partitionBy("_id").orderBy("pos")
    isl = red.withColumn(
        "_new",
        F.when(
            F.lag("pos").over(w).isNull()
            | (F.col("pos") - F.lag("pos").over(w) > n),
            1,
        ).otherwise(0),
    ).withColumn("_isl", F.sum("_new").over(w))
    return (
        isl.groupBy("_id", "_isl")
        .agg(
            F.min("pos").cast("bigint").alias("span_start"),
            (F.max("pos") + n - 1).cast("bigint").alias("span_end"),
            F.count(F.lit(1)).cast("bigint").alias("span_grams"),
        )
        .select(
            F.col("_id").alias(id_col),
            "span_start",
            "span_end",
            "span_grams",
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("bigint")
            .alias("span_tokens"),
        )
    )


def exact_substring_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 12,
) -> DataFrame:
    """Corpus-level exact substring DEDUP, Lee et al.-style ("Deduplicating
    Training Data Makes Language Models Better", ACL 2022): treat the
    corpus as one token stream, find every n-token window that occurs
    more than once ANYWHERE (cross-doc or intra-doc), keep the globally
    FIRST occurrence of each, and emit the EXCISION MANIFEST for all the
    others — the dedup-transform counterpart of :func:`repeated_spans`'
    census (that reports per-doc duplication counts; this designates
    keepers and says exactly which token ranges to cut).

    Semantics (deterministic, hash-exact):
      - an n-gram occurrence at (doc, pos) is REDUNDANT iff the same
        n-gram also occurs at some strictly smaller (doc, pos) —
        equivalently row_number over (doc_id, pos) within the gram's
        occurrence class is >= 2; the minimum occurrence is the keeper;
      - redundant positions within a doc merge into maximal excision
        spans exactly as in repeated_spans: p1 < p2 join iff
        p2 - p1 <= n (their token ranges [p, p+n-1] overlap or touch).

    The reference algorithm is a single-node suffix array over the
    concatenated corpus (Lee et al. §4); the Spark-first equivalent
    trades the suffix array for the positional n-gram hash stream that
    the decontamination/repeated_spans family already uses — same
    guarantees for spans >= n tokens (every duplicated span of length
    L >= n is covered by its L - n + 1 duplicated n-gram windows, and
    the island merge reassembles the maximal span), linear scan + one
    hash aggregation + one hash join instead of a corpus-sized
    suffix sort.

    100 TB plan shape:
      1. positional gram stream (doc_id, pos, xxhash64(gram)) — 20-byte
         tuples, never text (collision trade as elsewhere in the family);
      2. ONE hash agg per gram class: occurrence count + min-struct
         keeper (partial aggregation map-side; no window over the
         corpus, no sort);
      3. join back on the 8-byte hash for redundant positions only
         (duplicated grams are the small survivor set; AQE broadcasts
         when it fits);
      4. per-doc interval merge: a window over (doc_id, pos) — doc_id
         is a high-cardinality partition key, bounded per-doc work;
      5. the gram stream is recomputed for steps 2 and 3 rather than
         checkpointed (the repeated_spans convention: at scale the
         re-scan is cheaper than spilling a corpus-sized intermediate).

    Returns one row per excision span:
        (doc_id, span_start, span_end, span_grams, span_tokens)
    with token positions 0-based inclusive, span_tokens = span_end -
    span_start + 1. Cutting those ranges and re-joining remaining
    tokens is then a map-only transform.
    """
    red = _redundant_positions(_positional_gram_stream(df, id_col, text_col, n))
    return _excision_spans(red, id_col, n)


def incremental_substring_dedup(
    base: DataFrame,
    delta: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 12,
) -> DataFrame:
    """INCREMENTAL exact substring dedup — :func:`exact_substring_dedup`
    for the arriving batch only, against an already-kept base corpus:
    the mode a 100 TB pipeline actually runs (weekly crawl increments
    excised against everything previously ingested, without ever
    re-deduplicating the base). Semantics: a delta occurrence at
    (doc, pos) is REDUNDANT iff its n-gram occurs ANYWHERE in the base
    (the base copy is by definition the keeper — even the delta's
    first occurrence is cut), or at a strictly smaller (doc, pos)
    within the delta itself (the d31 rule applied delta-internally).
    Base documents are never excised.

    100 TB plan shape: the base contributes only its DISTINCT gram-hash
    set — the persistable index asset (8 bytes per distinct gram; in a
    production deployment it is written once, partitioned by hash
    range, and the weekly run is then delta-sized: one semi/anti join
    of the delta stream against it, never a re-scan of the base
    corpus). Delta-internal dedup reuses the d31 single-hash-agg plan
    on the anti-join survivors. Both branches emit disjoint (doc, pos)
    sets (a position's gram is either in the base set or not), so the
    union needs no dedup before the island merge.

    Returns the d31 manifest schema for DELTA docs only:
        (id_col, span_start, span_end, span_grams, span_tokens).
    """
    dstream = _positional_gram_stream(delta, id_col, text_col, n)
    # checkpoint: the base index feeds THREE consumers (the in-base semi
    # join, the fresh anti join, and the keeper-branch anti join inside
    # dup_delta's lineage) — uncheckpointed, the BASE corpus is scanned
    # and distinct-shuffled once per consumer, and the base is the big
    # side by construction (the whole point of the incremental mode is
    # base >> delta). This materialization IS the "persist the gram
    # index once" production step, done in-plan.
    base_idx = (
        _positional_gram_stream(base, id_col, text_col, n)
        .select("_gh")
        .distinct()
        .transform(lineage_checkpoint)
    )
    in_base = dstream.join(base_idx, "_gh", "left_semi").select("_id", "pos")
    fresh = dstream.join(base_idx, "_gh", "left_anti")
    dup_delta = _redundant_positions(fresh)
    return _excision_spans(in_base.unionByName(dup_delta), id_col, n)


def duplication_profile(
    df: DataFrame,
    manifest: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus duplication CENSUS from an excision manifest — the
    curation report Lee et al. publish per corpus (their Table 1:
    "fraction of tokens in duplicated substrings"): bucket every doc
    by the fraction of its tokens inside excision spans and aggregate.

    ``bucket`` is floor(dup_frac * 10) clamped to 9 (decile 10 —
    fully-duplicated docs — folds into the top bucket), so the output
    is a fixed <= 10-row profile a dashboard reads directly. The
    fraction divides two exact integers in IEEE double, so bucketing
    is engine-stable. Plan: one hash agg of the manifest (docs WITH
    spans only — small side, AQE broadcasts), left join to the corpus,
    one lowcard hash agg; the corpus is never shuffled.

    Returns (bucket, n_docs, sum_tokens, dup_tokens) sorted by bucket.
    """
    per_doc = manifest.groupBy(id_col).agg(
        F.sum("span_tokens").cast("bigint").alias("_dup")
    )
    toks = F.size(_words(F.coalesce(F.col(text_col), F.lit("")))).cast("bigint")
    prof = (
        df.select(F.col(id_col), toks.alias("_tok"))
        .join(per_doc, id_col, "left")
        .select(
            "_tok",
            F.coalesce(F.col("_dup"), F.lit(0)).alias("_dup"),
        )
        .withColumn(
            "bucket",
            F.least(
                F.floor(
                    F.col("_dup").cast("double")
                    / F.col("_tok").cast("double")
                    * 10
                ),
                F.lit(9),
            ).cast("bigint"),
        )
    )
    return (
        prof.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_tok").cast("bigint").alias("sum_tokens"),
            F.sum("_dup").cast("bigint").alias("dup_tokens"),
        )
        .orderBy("bucket")
    )


def apply_substring_excision(
    df: DataFrame,
    manifest: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Apply an :func:`exact_substring_dedup` excision manifest to the
    corpus — the map-only transform the manifest promises: per doc,
    drop every token whose position falls inside one of the doc's
    excision spans and re-join the survivors.

    Plan shape: the manifest collapses to one row per doc (spans array
    + excised-token sum; spans are maximal and DISJOINT by
    construction, so a position matches at most one), one equi-join
    corpus x per-doc-spans (AQE broadcasts the manifest side when it
    fits — it holds only docs WITH duplicates), then pure JVM array
    algebra: ``filter(ws, (tok, i) -> not exists(spans, s -> s.start
    <= i <= s.end))``. No shuffle of the corpus, no UDF.

    Returns (id_col, n_tokens, n_excised, n_kept, kept_md5):
    conservation holds as n_kept = n_tokens - n_excised, and kept_md5
    (md5 of the space-joined surviving tokens) is engine-neutral, so
    the CONTENT of the cut — not just the counts — is oracle-checked.
    """
    spans = manifest.groupBy(id_col).agg(
        F.collect_list(
            F.struct("span_start", "span_end")
        ).alias("_spans"),
        F.sum("span_tokens").cast("bigint").alias("_nx"),
    )
    # NULL text coalesces to "" (the x23 lesson): size(split(NULL)) is
    # -1, which would emit n_tokens = -1 and a NULL kept_md5 while the
    # oracle's len(NULL list) is NULL — the "" doc is 1 whitespace
    # token in both engines
    ws = _words(F.coalesce(F.col(text_col), F.lit("")))
    joined = df.select(F.col(id_col), ws.alias("_ws")).join(
        spans, id_col, "left"
    )
    in_any_span = lambda i: F.exists(  # noqa: E731
        F.col("_spans"),
        lambda s: (i >= s["span_start"]) & (i <= s["span_end"]),
    )
    kept = F.when(F.col("_spans").isNull(), F.col("_ws")).otherwise(
        F.filter("_ws", lambda tok, i: ~in_any_span(i.cast("bigint")))
    )
    return joined.select(
        F.col(id_col),
        F.size("_ws").cast("bigint").alias("n_tokens"),
        F.coalesce(F.col("_nx"), F.lit(0)).cast("bigint").alias("n_excised"),
        F.size(kept).cast("bigint").alias("n_kept"),
        F.md5(F.array_join(kept, " ")).alias("kept_md5"),
    )


def minhash_band_table(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 30,
    bands: int = 10,
) -> DataFrame:
    """(_id, band, h) banded MinHash signature rows for a document set —
    the MATERIALIZABLE index of the LSH dedup family. At scale this is
    written once per corpus (bands x 16 bytes per doc) and appended per
    ingest batch; :func:`incremental_lsh_pairs` then dedups a new batch
    against the corpus by joining band tables, never re-reading corpus
    text for candidate generation. Same hash/band construction as
    :func:`minhash_lsh_pairs`, so tables built by either are compatible."""
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    sig = minhash_signatures(
        _gram_hash_stream(df, id_col, text_col, ngram, "shingle"), num_hashes
    )
    band_cols = [
        F.xxhash64(*[F.col(f"mh_{b * rows + r}") for r in range(rows)]).alias(
            f"band_{b}"
        )
        for b in range(bands)
    ]
    return _stack_bands(
        sig.select("_id", *band_cols),
        [F.col(f"band_{b}") for b in range(bands)],
        "h",
    )


def portable_minhash_bands(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """(id, band, bkey) banded MinHash rows built from ENGINE-PORTABLE
    hashes — per salt k, ``sig[k] = min over word-ngrams of
    int(md5(k ':' gram)[:15 hex], 16)`` (the t32/q113 md5-prefix hash,
    bit-identical in Spark, DuckDB and Python; 60 bits, int64-safe) and
    band key = ``md5`` of the comma-joined signature slice. Identical
    ALGEBRA to :func:`minhash_band_table` (whose xxhash64 signatures
    are the cheaper production flavor), but every value replays in SQL
    — which is what lets the st17 streaming manifest be hash-compared
    against a DuckDB oracle WHOLE, not via an envelope.

    Same scale shape as :func:`minhash_signatures`: min is
    duplicate-insensitive so the raw gram stream feeds one groupBy with
    map-side partial combine; output is docs x bands fixed-width rows.
    """
    assert num_hashes % bands == 0
    rows = num_hashes // bands
    sig = exploded_ngrams(df, id_col, text_col, ngram).groupBy("_id").agg(
        *[
            F.min(h).alias(f"mh_{k}")
            for k, h in enumerate(_salted_hash60(F.col("g"), num_hashes))
        ]
    )
    band_keys = [
        F.md5(
            F.concat_ws(
                ",",
                *[F.col(f"mh_{b * rows + r}").cast("string") for r in range(rows)],
            ).cast("binary")
        )
        for b in range(bands)
    ]
    return _stack_bands(sig, band_keys, "bkey").withColumnRenamed("_id", id_col)


def incremental_lsh_pairs(
    delta: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
    num_hashes: int = 30,
    bands: int = 10,
    threshold: float = 0.5,
    corpus_bands: DataFrame | None = None,
) -> DataFrame:
    """Incremental near-dup detection: (delta doc, corpus doc, jaccard)
    pairs at ``threshold``, without re-signing or re-scanning the corpus.

    The daily-ingest shape at 100 TB: ``corpus_bands`` is the
    materialized :func:`minhash_band_table` of the existing corpus (if
    not supplied it is computed here, which is the small-scale/test
    path). Candidate generation is a band-table equi-join — the delta's
    bands (tiny) against the corpus band table, no corpus text read.
    Only the candidate corpus docs (semi-join pruned, typically a
    vanishing fraction) have their text re-shingled for the exact
    Jaccard verification, so the corpus-side IO is proportional to the
    near-dup rate, not the corpus size. Recall argument identical to
    :func:`minhash_lsh_pairs` (r=3/b=10 S-curve).
    """
    if corpus_bands is None:
        corpus_bands = minhash_band_table(
            corpus, id_col, text_col, ngram, num_hashes, bands
        )
    delta_bands = minhash_band_table(
        delta, id_col, text_col, ngram, num_hashes, bands
    )
    # The candidate frame is referenced three times downstream (two
    # side prunes + the intersection semi-join); without a checkpoint
    # the band-table join — including BOTH signature pyramids — would
    # re-execute for each reference. Candidates are (8B, 8B) rows and
    # near-dup-rate-sized, so the materialization is tiny.
    candidates = (
        delta_bands.toDF("id_a", "band", "h")
        .join(corpus_bands.toDF("id_b", "band", "h"), ["band", "h"])
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .transform(lineage_checkpoint)
    )

    # Exact verify, cross-set: shingle only the candidate docs on each
    # side (the corpus semi-join is the pruned read), sizes per side,
    # intersection via one shingle equi-join restricted to candidates.
    cand_a = candidates.select(F.col("id_a").alias("_id")).distinct()
    cand_b = candidates.select(F.col("id_b").alias("_id")).distinct()
    s_a = _gram_hash_stream(
        delta.join(
            F.broadcast(cand_a.withColumnRenamed("_id", id_col)),
            id_col,
            "left_semi",
        ),
        id_col,
        text_col,
        ngram,
        "shingle",
    ).distinct()
    s_b = _gram_hash_stream(
        corpus.join(
            F.broadcast(cand_b.withColumnRenamed("_id", id_col)),
            id_col,
            "left_semi",
        ),
        id_col,
        text_col,
        ngram,
        "shingle",
    ).distinct()
    sizes_a = s_a.groupBy("_id").agg(F.count(F.lit(1)).alias("n_a"))
    sizes_b = s_b.groupBy("_id").agg(F.count(F.lit(1)).alias("n_b"))
    inter = (
        s_a.toDF("id_a", "shingle")
        .join(s_b.toDF("id_b", "shingle"), "shingle")
        .join(candidates, ["id_a", "id_b"], "left_semi")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(F.broadcast(sizes_a.toDF("id_a", "n_a")), "id_a")
        .join(F.broadcast(sizes_b.toDF("id_b", "n_b")), "id_b")
        .withColumn("jaccard", _jaccard(F.col("inter")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def pagerank_exact(
    edges: DataFrame,
    n_iters: int = 3,
    damping_pct: int = 85,
    scale: int = 1_000_000_000_000,
    src_col: str = "src",
    dst_col: str = "dst",
    validate_undirected: bool = True,
) -> DataFrame:
    """PageRank over an undirected edge list in EXACT integer
    arithmetic — the iterative-graph-algorithm pattern beyond
    :func:`connected_components`, with a cross-engine-replayable
    contract: ranks live in integer ``scale``-units and every step is
    integer division/multiplication/sum (truncating ``div``, bigint
    sums — order-free), so k rounds produce bit-identical ranks in any
    engine that replays the same recurrence:

        pr0(v)   = scale div N
        contrib  = pr(v) div deg(v)
        pr'(v)   = ((100 - d) * (scale div N)) div 100
                   + (d * sum_incoming(contrib)) div 100

    Plan shape per round (the d5/t22 iterative idiom): one hash agg on
    the destination key co-partitioned with the (checkpointed) edge
    frame, lineage truncated with a lazy localCheckpoint — k rounds =
    k bounded jobs, nothing accumulates. Dangling nodes cannot occur
    in an undirected edge list (deg >= 1 by construction).

    ``edges`` must already contain BOTH directions of each undirected
    edge. ``validate_undirected`` (default on) enforces FULL symmetry
    with one anti-join pass of the edge list against its reversed
    self: any edge (a, b) whose mirror (b, a) is absent raises. This
    catches both the pure-sink case (a node never appearing as source
    silently vanishes from the ranking and undersizes N) and the
    subtler asymmetric case where every node sources at least one
    edge but mass is still not conserved (ADVICE r8). Cost: one
    shuffled anti-join on (src, dst) over the checkpointed edge frame
    — O(|E|) rows through one Exchange, the same order as a single
    PageRank round (SCALING.md quantifies it). Disable only when the
    symmetry is guaranteed by construction upstream (e.g. the caller
    just emitted both directions itself). Returns (node, pr_scaled,
    degree).
    """
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).transform(lineage_checkpoint)
    if validate_undirected:
        rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        asym = e.join(rev, ["src", "dst"], "left_anti").limit(1).collect()
        if asym:
            a, b = asym[0]["src"], asym[0]["dst"]
            raise ValueError(
                f"pagerank_exact requires an undirected edge list (both "
                f"directions present); edge ({a!r}, {b!r}) has no mirror "
                f"({b!r}, {a!r}). Union the reversed edges first."
            )
    # r17 (optimization): checkpoint the degree frame — it is read by
    # the count job, the rank init, and EVERY iteration's update join
    # (n_iters + 2 consumers), and without the checkpoint each round
    # re-ran the degree aggregate over the edge frame. Node-sized.
    deg = (
        e.groupBy("src")
        .agg(F.count(F.lit(1)).alias("deg"))
        .transform(lineage_checkpoint)
    )
    n = deg.count()
    base = scale // n
    teleport = (100 - damping_pct) * base // 100
    pr = deg.select(
        "src", F.lit(base).cast("bigint").alias("pr"), "deg"
    )
    for _ in range(n_iters):
        contrib = pr.select(
            "src", F.expr("pr div deg").alias("_c")
        )
        incoming = (
            e.join(contrib, "src")
            .groupBy("dst")
            .agg(F.sum("_c").alias("_in"))
        )
        pr = (
            deg.join(incoming, deg.src == incoming.dst, "left")
            .select(
                "src",
                (
                    F.lit(teleport)
                    + F.expr(
                        f"{damping_pct} * coalesce(_in, 0L) div 100"
                    )
                )
                .cast("bigint")
                .alias("pr"),
                "deg",
            )
            .transform(lineage_checkpoint)
        )
    return pr.select(
        F.col("src").alias("node"),
        F.col("pr").alias("pr_scaled"),
        F.col("deg").cast("bigint").alias("degree"),
    )


def fuzzy_name_pairs(
    df: DataFrame,
    key_col: str,
    name_col: str,
    max_dist: int = 2,
    candidates_only: bool = False,
) -> DataFrame:
    """Blocked fuzzy string self-join: pairs of rows whose names are
    within ``max_dist`` Levenshtein edits — entity-resolution's core
    primitive, built scale-safe: edit distance <= k implies the lengths
    differ by at most k, so one side EXPLODES its length into the
    2k+1-value band [len-k, len+k] and the candidate join is an EQUI
    join on (band == other side's exact length) — never an all-pairs
    product, no non-equi nested loop — then the exact ``levenshtein``
    verify runs on candidates only. Production corpora tighten the
    blocks further with positional q-gram prefix filters; length
    banding alone is already complete (recall 1) by the triangle
    inequality.

    Returns (key_a, key_b, name_a, name_b, dist) with key_a < key_b.
    ``candidates_only`` returns the blocking stage's output BEFORE the
    exact verify — the blocking-selectivity audit surface (SCALING.md's
    d15-vs-d16 A/B reads it).
    """
    a = df.select(
        F.col(key_col).alias("key_a"),
        F.col(name_col).alias("name_a"),
        F.explode(
            F.sequence(
                F.length(name_col) - max_dist,
                F.length(name_col) + max_dist,
            )
        ).alias("_band"),
    )
    b = df.select(
        F.col(key_col).alias("key_b"),
        F.col(name_col).alias("name_b"),
        F.length(name_col).alias("_blen"),
    )
    cand = a.join(
        b,
        (F.col("_band") == F.col("_blen")) & (F.col("key_a") < F.col("key_b")),
    ).select("key_a", "key_b", "name_a", "name_b")
    if candidates_only:
        return cand
    return (
        cand.withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= max_dist)
        .select("key_a", "key_b", "name_a", "name_b", "dist")
    )


def fuzzy_name_pairs_segmented(
    df: DataFrame,
    key_col: str,
    name_col: str,
    max_dist: int = 2,
    candidates_only: bool = False,
) -> DataFrame:
    """Production-tier blocked fuzzy self-join: the positional-segment
    (pigeonhole) blocking :func:`fuzzy_name_pairs`'s docstring promises
    — blocks are (length, segment-index, segment-content) instead of
    length alone, so at corpus scale same-length names no longer share
    one giant block (PassJoin's core idea — Li, Deng & Feng, "PassJoin:
    A Partition-based Method for Similarity Joins", VLDB 2012).

    Completeness (recall 1) by pigeonhole: split every name into
    ``k+1`` contiguous segments (k = ``max_dist``). If
    ``lev(a, b) <= k``, at most k segments of ``a`` are touched by an
    edit, so at least one segment survives VERBATIM in ``b``, shifted
    by at most the number of edits before it (<= k). The probe side
    therefore enumerates, for every hypothetical partner length
    ``La in [Lb-k, Lb+k]``, each segment window ``i`` at start offsets
    ``±k`` around where ``a`` would have cut it — (2k+1)^2 * (k+1)
    fixed-width probe rows per name (75 at k=2), all generated JVM-side
    with higher-order array functions (no UDF, no explode of the
    corpus against itself). Candidates are an EQUI join on
    (length, segment-index, content); the exact ``levenshtein`` verify
    runs on candidates only, so the result is bit-identical to the
    brute-force join (the oracle proves it).

    Zero-length segments (names shorter than k+1 chars) degrade to the
    empty-content block — i.e. plain length banding — so short strings
    keep recall 1 with the same code path.

    Returns (key_a, key_b, name_a, name_b, dist) with key_a < key_b.
    """
    k = max_dist
    p = k + 1  # number of segments
    seg_a = (
        f"transform(sequence(0, {k}), i -> named_struct("
        f"'i', i, "
        f"'g', substring({name_col}, (i * length({name_col})) div {p} + 1, "
        f"((i + 1) * length({name_col})) div {p} "
        f"- (i * length({name_col})) div {p})))"
    )
    a = df.select(
        F.col(key_col).alias("key_a"),
        F.col(name_col).alias("name_a"),
        F.length(name_col).alias("_la"),
        F.explode(F.expr(seg_a)).alias("_seg"),
    ).select(
        "key_a", "name_a", "_la",
        F.col("_seg.i").alias("_i"),
        F.col("_seg.g").alias("_g"),
    )
    # probe side: every (La, i, shifted window) a within-distance-k
    # partner could have produced. seglen/start recomputed exactly as
    # the index side cuts them, from the HYPOTHETICAL length La.
    probe = (
        f"array_distinct(flatten(transform("
        f"sequence(greatest(length({name_col}) - {k}, 0), "
        f"length({name_col}) + {k}), la -> "
        f"flatten(transform(sequence(0, {k}), i -> "
        f"filter(transform(sequence(-{k}, {k}), d -> "
        f"CASE "
        f"WHEN ((i + 1) * la) div {p} - (i * la) div {p} = 0 AND d = 0 "
        f"THEN named_struct('la', la, 'i', i, 'g', '') "
        f"WHEN ((i + 1) * la) div {p} - (i * la) div {p} > 0 "
        f"AND (i * la) div {p} + d >= 0 "
        f"AND (i * la) div {p} + d "
        f"+ ((i + 1) * la) div {p} - (i * la) div {p} "
        f"<= length({name_col}) "
        f"THEN named_struct('la', la, 'i', i, 'g', "
        f"substring({name_col}, (i * la) div {p} + d + 1, "
        f"((i + 1) * la) div {p} - (i * la) div {p})) "
        f"ELSE NULL END), x -> x IS NOT NULL))))))"
    )
    b = df.select(
        F.col(key_col).alias("key_b"),
        F.col(name_col).alias("name_b"),
        F.explode(F.expr(probe)).alias("_pr"),
    ).select(
        "key_b", "name_b",
        F.col("_pr.la").alias("_la"),
        F.col("_pr.i").alias("_i"),
        F.col("_pr.g").alias("_g"),
    )
    cand = (
        a.join(b, ["_la", "_i", "_g"])
        .filter(F.col("key_a") < F.col("key_b"))
        .dropDuplicates(["key_a", "key_b"])
    )
    if candidates_only:
        return cand.select("key_a", "key_b", "name_a", "name_b")
    return (
        cand.withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= max_dist)
        .select("key_a", "key_b", "name_a", "name_b", "dist")
    )


def jaccard_search_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 3,
) -> DataFrame:
    """Text similarity SEARCH (not dedup): exact n-gram-Jaccard top-k
    corpus neighbors for each query document, via the shingle inverted
    index — a query only ever meets docs it SHARES A SHINGLE WITH
    (zero-overlap docs have jaccard 0 and can't enter a top-k over
    positive scores), so candidates are an equi-join on the shingle
    key, never query x corpus. Deterministic integer tiebreak:
    rank by (inter * 1e6 div union) descending, then neighbor id —
    exact integer ppm, no float comparison anywhere."""
    from pyspark.sql import Window

    s = shingle_sets(df, id_col, text_col, ngram)
    sizes = s.groupBy("_id").agg(F.count(F.lit(1)).alias("n"))
    qs = s.filter(F.col("_id").isin(query_ids)).toDF("query_id", "shingle")
    corpus = s.toDF("item_id", "shingle")
    inter = (
        corpus.join(F.broadcast(qs), "shingle")
        .filter(F.col("item_id") != F.col("query_id"))
        .groupBy("query_id", "item_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    nq = sizes.toDF("query_id", "n_q")
    ni = sizes.toDF("item_id", "n_i")
    scored = (
        inter.join(F.broadcast(nq), "query_id")
        .join(ni, "item_id")
        .select(
            "query_id",
            "item_id",
            F.expr(
                "inter * 1000000 div (n_q + n_i - inter)"
            ).alias("jaccard_ppm"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("jaccard_ppm").desc(), F.col("item_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "item_id", "rank", "jaccard_ppm")
    )


def label_propagation_min(
    edges: DataFrame,
    n_rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Synchronous bounded-round MIN-label propagation over an
    undirected edge list (both directions present, the
    :func:`pagerank_exact` contract): every node starts labeled with
    its own id; each round, label'(v) = min(label(v), min over
    neighbors of their labels). After k rounds each node holds the
    minimum id within graph distance k — the bounded-neighborhood
    primitive (community seeding, influence fronts, k-hop reachability
    tests) sitting between one-shot aggregation and
    :func:`connected_components`' full closure (which this converges
    to as k grows, but in O(diameter) rounds, not O(log) — use CC when
    the closure itself is wanted).

    Integer-exact and deterministic, so k rounds replay as unrolled
    SQL bit for bit (the g1/t22 iterative-replay contract). Plan shape
    per round: one co-partitioned equi-join edges x labels + one hash
    agg on the destination key + a lazy localCheckpoint truncating
    lineage — O(|E|) per round, nothing driver-side. Returns
    (node, label)."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).transform(lineage_checkpoint)
    lab = (
        e.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .transform(lineage_checkpoint)
    )
    for _ in range(n_rounds):
        nb = (
            e.join(lab, e["dst"] == lab["node"])
            .groupBy(e["src"].alias("_v"))
            .agg(F.min("label").alias("_nb"))
        )
        lab = (
            lab.join(nb, lab["node"] == nb["_v"], "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("_nb"), F.col("label"))
                ).alias("label"),
            )
            .transform(lineage_checkpoint)
        )
    return lab


def triangle_counts(
    pairs: DataFrame,
    a_col: str = "p1",
    b_col: str = "p2",
) -> DataFrame:
    """Exact per-node triangle counting over an undirected graph given
    as distinct unordered pairs (``a < b``) — the third iterative-graph
    primitive next to :func:`pagerank_exact` / :func:`label_propagation_min`
    (clustering-coefficient numerators, community density, spam-ring
    detection over near-dup graphs).

    Scale design: the naive wedge join fans out quadratically in the
    max degree (a hot node with 10^6 neighbors yields 5*10^11 wedges).
    This uses DEGREE-ORDERED ORIENTATION (the standard distributed
    trick): each edge is directed from its lower-(degree, id) endpoint
    to the higher, so every vertex's out-degree is O(sqrt(|E|)) and
    total wedge count is O(|E|^1.5) regardless of skew. Each triangle
    {x,y,z} is found exactly once — as the wedge rooted at its
    lowest-rank vertex, closed by the oriented edge between the other
    two. Plan: one degree hash-agg, one orientation join, one wedge
    self-join on the root key, one closing left-semi join, one credit
    hash-agg — all equi-joins on 8-byte keys, nothing driver-side.

    Orientation does not change which triangles exist, so an oracle may
    count triangles directly from the undirected pairs (a<b<c triple
    join) and match bit for bit. Returns (node, n_triangles) for every
    node in at least one triangle."""
    p = (
        pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .distinct()
    )
    deg = (
        p.select(F.col("a").alias("n"))
        .unionAll(p.select(F.col("b").alias("n")))
        .groupBy("n")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("n").alias("a"), F.col("deg").alias("_da"))
    db = deg.select(F.col("n").alias("b"), F.col("deg").alias("_db"))
    a_first = (F.col("_da") < F.col("_db")) | (
        (F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b"))
    )
    e = (
        p.join(da, "a")
        .join(db, "b")
        .select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
            F.when(a_first, F.col("_db")).otherwise(F.col("_da")).alias(
                "_ddeg"
            ),
        )
        .transform(lineage_checkpoint)
    )
    w1 = e.select(
        F.col("src").alias("u"), F.col("dst").alias("v"),
        F.col("_ddeg").alias("_dv"),
    )
    w2 = e.select(
        F.col("src").alias("u"), F.col("dst").alias("w"),
        F.col("_ddeg").alias("_dw"),
    )
    v_first = (F.col("_dv") < F.col("_dw")) | (
        (F.col("_dv") == F.col("_dw")) & (F.col("v") < F.col("w"))
    )
    wedges = w1.join(w2, "u").filter(v_first).select("u", "v", "w")
    tri = wedges.join(
        e.select(F.col("src").alias("v"), F.col("dst").alias("w")),
        ["v", "w"],
        "left_semi",
    )
    credit = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("v").alias("node")))
        .unionAll(tri.select(F.col("w").alias("node")))
    )
    return credit.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )


def clustering_coefficients(
    pairs: DataFrame,
    a_col: str = "p1",
    b_col: str = "p2",
) -> DataFrame:
    """Per-node local clustering coefficient cc(v) = 2*T(v) /
    (deg(v)*(deg(v)-1)) in exact integer ppm over an undirected graph
    given as distinct unordered pairs (``a < b``) — the ego-net
    cohesion metric layered on :func:`triangle_counts` (same
    degree-ordered-orientation wedge bound, O(|E|^1.5) under skew).
    The edge list feeds two consumers (triangles + degrees), so the
    caller-supplied frame is checkpointed once here rather than
    re-derived per consumer. The 2*T*1e6 numerator is widened to
    decimal(38,0) before the floor division (a 100 TB hub node's
    triangle count times 1e6 overflows bigint). Nodes with degree < 2
    (undefined coefficient) are excluded; triangle-free nodes emit
    cc_ppm = 0. Returns (node, degree, n_triangles, cc_ppm)."""
    p = (
        pairs.select(F.col(a_col).alias("p1"), F.col(b_col).alias("p2"))
        .transform(lineage_checkpoint)
    )
    tri = triangle_counts(p)
    deg = (
        p.select(F.col("p1").alias("node"))
        .unionAll(p.select(F.col("p2").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.filter(F.col("degree") >= 2)
        .join(tri, "node", "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
        )
        .withColumn(
            "cc_ppm",
            F.expr(
                "cast((cast(n_triangles as decimal(38,0)) * 2 * 1000000)"
                " div (cast(degree as decimal(38,0)) * (degree - 1))"
                " as bigint)"
            ),
        )
    )


def kcore_peel(
    edges: DataFrame,
    k: int = 3,
    n_rounds: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Bounded-round k-core peeling over an undirected edge list (both
    directions present — the :func:`pagerank_exact` /
    :func:`label_propagation_min` contract): each round drops every
    node whose CURRENT degree is below ``k`` and every edge touching a
    dropped node; removals cascade (a node can fall under ``k`` only
    because a neighbor was peeled the round before), which is exactly
    what one-shot degree filtering misses. After ``n_rounds`` rounds
    the survivors are a superset of the true k-core, converging to it
    once a round peels nothing — the dense-subgraph primitive for
    link-graph crawl prioritization, spam-farm detection over near-dup
    graphs, and community-core seeding.

    Integer-exact and deterministic, so the rounds replay as unrolled
    SQL bit for bit (the g1/g2 iterative-replay contract). Plan shape
    per round: one degree hash-agg on the source key + two left-semi
    joins (src kept, dst kept) + a lazy localCheckpoint truncating
    lineage — O(|E|) per round, the survivor set is never collected.
    Returns (node, degree) over the surviving subgraph."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).transform(lineage_checkpoint)
    for _ in range(n_rounds):
        # r17 (optimization): checkpoint the survivor set — both
        # semi-joins below consume it, and without the checkpoint each
        # side re-ran the round's degree aggregate. Node-sized.
        keep = (
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("_deg"))
            .filter(F.col("_deg") >= k)
            .select("src")
            .transform(lineage_checkpoint)
        )
        e = (
            e.join(keep, "src", "left_semi")
            .join(keep.select(F.col("src").alias("dst")), "dst", "left_semi")
            .transform(lineage_checkpoint)
        )
    return e.groupBy("src").agg(F.count(F.lit(1)).alias("degree")).select(
        F.col("src").alias("node"), "degree"
    )


def corpus_shingle_overlap(
    df: DataFrame,
    corpus_col: Column,
    text_col: str = "text",
    ngram: int = 3,
    n_perm: int = 128,
    est_tol_ppm: int = 250_000,
) -> DataFrame:
    """CORPUS-level overlap measurement between two document
    collections (split by the boolean ``corpus_col``): the exact
    Jaccard of their distinct-shingle SETS — the dataset-contamination
    / train-test-leakage question asked of whole corpora rather than
    document pairs (d10/t9 are the per-document tiers).

    Exact tier: one distinct (corpus, shingle) build on 8-byte hashed
    shingles, one per-shingle membership fold, one global aggregate —
    shuffle is O(distinct shingles), never pairwise in documents or
    shingles.

    Sketch tier, verified in-engine (the s2/s3 contract): each corpus
    is collapsed to an ``n_perm``-slot MinHash SIGNATURE (min of
    xxhash64(shingle, p) per permutation — an associative fold, so at
    100 TB the signature is a map-side partial aggregate of fixed
    size). The signature match-rate estimates the same Jaccard;
    ``est_ok`` asserts agreement within ``est_tol_ppm`` (the standard
    error of 128 permutations is ~1/sqrt(128) ~ 0.09). One row out:
    (n_shingles_a, n_shingles_b, n_intersection, jaccard_ppm,
    est_ok)."""
    s = (
        _gram_hash_stream(
            df.select(corpus_col.alias("_corpus"), F.col(text_col)),
            "_corpus",
            text_col,
            ngram,
            "shingle",
        )
        .withColumnRenamed("_id", "_in_a")
        .distinct()
    )
    member = s.groupBy("shingle").agg(
        F.max(F.col("_in_a").cast("int")).alias("_a"),
        F.max((~F.col("_in_a")).cast("int")).alias("_b"),
    )
    exact = member.agg(
        F.sum("_a").alias("n_shingles_a"),
        F.sum("_b").alias("n_shingles_b"),
        F.count_if((F.col("_a") == 1) & (F.col("_b") == 1)).alias(
            "n_intersection"
        ),
    ).select(
        "n_shingles_a",
        "n_shingles_b",
        "n_intersection",
        F.expr(
            "cast(cast(n_intersection as decimal(38,0)) * 1000000"
            " div cast(n_shingles_a + n_shingles_b - n_intersection"
            " as decimal(38,0)) as bigint)"
        ).alias("jaccard_ppm"),
    )
    perms = F.explode(
        F.expr(f"sequence(0, {int(n_perm) - 1})")
    ).alias("p")
    sig = (
        s.select("_in_a", "shingle")
        .select("_in_a", perms, "shingle")
        .groupBy("_in_a", "p")
        .agg(F.min(F.xxhash64("shingle", "p")).alias("mh"))
    )
    sa = sig.filter(F.col("_in_a")).select("p", F.col("mh").alias("mh_a"))
    sb = sig.filter(~F.col("_in_a")).select("p", F.col("mh").alias("mh_b"))
    est = (
        sa.join(sb, "p")
        .agg(
            F.count_if(F.col("mh_a") == F.col("mh_b")).alias("_match"),
            F.count(F.lit(1)).alias("_k"),
        )
        .select(
            F.expr("_match * 1000000 div _k").alias("_est_ppm")
        )
    )
    return (
        exact.crossJoin(F.broadcast(est))
        .select(
            "n_shingles_a",
            "n_shingles_b",
            "n_intersection",
            "jaccard_ppm",
            (
                F.abs(F.col("_est_ppm") - F.col("jaccard_ppm"))
                <= F.lit(int(est_tol_ppm))
            ).alias("est_ok"),
        )
    )


def cross_doc_dup_ratio(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    ngram: int = 8,
) -> DataFrame:
    """Per-document cross-corpus duplication fraction — the
    RefinedWeb/MassiveText-style memorization-risk signal that sits
    between span surgery (repeated_spans, d9) and whole-doc dedup: for
    each document, the fraction of its ``ngram``-token positions whose
    n-gram also occurs in AT LEAST ONE OTHER document, as exact integer
    ppm. Curation pipelines threshold it ("drop docs >30% duplicated")
    without needing the span geometry d9 computes.

    Plan (linear, three hash-aggs + one join, no self-join anywhere):
    positions per (doc, gram-hash) [one agg over the exploded gram
    stream]; distinct-doc frequency per gram [one agg over the per-doc
    frame — already deduped, so no count_distinct expansion]; join the
    per-doc frame to the gram df (the join is keyed on the gram hash;
    fan-out is exactly the per-doc frame's row count — each row meets
    ONE df row); per-doc rollup. Grams travel as 64-bit xxhash64, never
    strings (collision odds ~n²/2⁶⁵ — the d2/d3 shingle contract).
    Short docs (< ngram tokens) emit n_grams=0 with dup_ppm=0 (ANSI
    div-by-zero guarded).
    """
    grams = _gram_hash_stream(df, id_col, text_col, ngram, "gh")
    per_doc = grams.groupBy("_id", "gh").agg(
        F.count(F.lit(1)).alias("n_pos")
    )
    dfreq = per_doc.groupBy("gh").agg(F.count(F.lit(1)).alias("_df"))
    rolled = (
        per_doc.join(dfreq, "gh")
        .groupBy("_id")
        .agg(
            F.sum("n_pos").alias("n_grams"),
            F.sum(F.when(F.col("_df") >= 2, F.col("n_pos")).otherwise(0)).alias(
                "n_dup"
            ),
        )
    )
    ids = df.select(F.col(id_col).alias("_id"))
    return (
        ids.join(rolled, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce(F.col("n_dup"), F.lit(0)).cast("bigint").alias("n_dup"),
            F.expr(
                "CASE WHEN coalesce(n_grams, 0) = 0 THEN 0"
                " ELSE coalesce(n_dup, 0) * 1000000 div n_grams END"
            ).cast("bigint").alias("dup_ppm"),
        )
    )


def bfs_distances(
    edges: DataFrame, sources: DataFrame, n_rounds: int = 4
) -> DataFrame:
    """Bounded-round breadth-first distances from a source set — the
    fifth iterative-graph primitive (after PageRank, label propagation,
    pointer-jumping CC, k-core peel): hop distance to every node
    reachable within ``n_rounds`` — the neighborhood-expansion /
    multi-hop-reach query (e.g. "everything within 3 links of a seed
    page" in a crawl-frontier or contamination-spread audit).

    ``edges`` is the directed (src, dst) frame (emit both directions
    for undirected graphs); ``sources`` a (node) frame at distance 0.

    Distributed shape: classic frontier expansion — each round joins
    the CURRENT frontier (not the visited set) to the edge list,
    anti-joins out already-visited nodes, and the new frontier is
    lineage-truncated (``localCheckpoint``, the d5/g1 iterative idiom)
    so plans stay flat. Per-round cost is O(edges incident to the
    frontier); the visited set only ever unions bounded-lineage
    frames. Rounds are bounded by contract — the oracle unrolls the
    same rounds as SQL bit for bit (the t22/g4 contract).
    """
    dist = sources.select(
        F.col("node").cast("bigint").alias("node"),
        F.lit(0).cast("int").alias("dist"),
    ).transform(lineage_checkpoint)
    frontier = dist.select("node")
    # r17 (optimization): checkpoint the edge frame — every round's
    # frontier join consumes it, and without the checkpoint each round
    # recomputed the caller's upstream edge derivation from storage.
    e = edges.select(
        F.col("src").alias("node"), F.col("dst")
    ).transform(lineage_checkpoint)
    for r in range(1, n_rounds + 1):
        reached = (
            frontier.join(e, "node")
            .select(F.col("dst").cast("bigint").alias("node"))
            .distinct()
        )
        new = (
            reached.join(dist.select("node"), "node", "left_anti")
            .withColumn("dist", F.lit(r).cast("int"))
            .transform(lineage_checkpoint)
        )
        dist = dist.unionAll(new)
        frontier = new.select("node")
    return dist


def sssp_distances(
    edges: DataFrame, sources: DataFrame, n_rounds: int = 4
) -> DataFrame:
    """Bounded-round single-source(-set) shortest paths over WEIGHTED
    edges — synchronous Bellman-Ford, the sixth iterative-graph
    primitive: where :func:`bfs_distances` counts hops, this minimizes
    an integer edge-cost sum (link strength, latency, toll), the
    weighted-reach query behind influence radii and cost-bounded
    crawl planning.

    ``edges`` is (src, dst, w) with INTEGER non-negative weights (both
    directions for undirected graphs); ``sources`` a (node) frame at
    distance 0. After round r every node holds the exact minimum-cost
    path using <= r edges.

    Distributed shape: FRONTIER-OPTIMIZED relaxation — each round
    joins only the nodes whose distance IMPROVED last round against
    the edge list, takes the per-target min of (dist + w), and merges
    it into the standing distance frame with a full-outer least()
    merge; both frames are lineage-truncated per round (the d5/g1
    idiom). This is provably equivalent to relaxing EVERY settled
    node each round (an unchanged node's candidates were already
    beaten in the round its distance settled — the delta-stepping
    argument), which is exactly the simpler algebra the oracle
    replays: the hash match proves the frontier optimization lossless.
    Per-round cost is O(edges incident to improved nodes) — at scale
    the frontier shrinks geometrically on expander-ish graphs while
    the naive form re-scans all edges every round.
    """
    dist = sources.select(
        F.col("node").cast("bigint").alias("node"),
        F.lit(0).cast("bigint").alias("dist"),
    ).transform(lineage_checkpoint)
    frontier = dist
    # r17 (optimization): checkpoint the edge frame (the bfs_distances
    # rationale — every round's relaxation join re-derived it).
    e = edges.select(
        F.col("src").cast("bigint").alias("node"),
        F.col("dst").cast("bigint").alias("dst"),
        F.col("w").cast("bigint").alias("w"),
    ).transform(lineage_checkpoint)
    for _ in range(n_rounds):
        cand = (
            frontier.join(e, "node")
            .select(
                F.col("dst").alias("node"),
                (F.col("dist") + F.col("w")).alias("_nd"),
            )
            .groupBy("node")
            .agg(F.min("_nd").alias("_nd"))
        )
        merged = dist.join(cand, "node", "full_outer").select(
            "node",
            F.least(
                F.coalesce(F.col("dist"), F.col("_nd")),
                F.coalesce(F.col("_nd"), F.col("dist")),
            ).alias("dist"),
            (
                F.col("dist").isNull() | (F.col("_nd") < F.col("dist"))
            ).alias("_improved"),
        ).transform(lineage_checkpoint)
        frontier = merged.filter(F.col("_improved")).select("node", "dist")
        dist = merged.select("node", "dist")
    return dist


def semdedup(
    df: DataFrame,
    k: int = 8,
    n_rounds: int = 3,
    tau: float = 0.35,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by k-means
    CLUSTER BLOCKING — the third blocking family next to the label
    blocks (:func:`embedding_cosine_pairs`) and sign-LSH buckets
    (:func:`embedding_lsh_pairs`). The corpus is clustered with the
    exact-integer Lloyd tier (operators.similarity.kmeans_lloyd, the
    s9 trajectory), pairs are formed only WITHIN a cluster (one
    equi-join on the cluster id), pairs with exact cosine >= ``tau``
    are duplicates, and each pair drops its member CLOSER to the
    centroid (the paper keeps low-centroid-similarity examples —
    here: smaller integer ``dist_q`` loses; ties drop the smaller
    id). A vector is dropped if it loses ANY pair — deterministic
    set semantics, equivalent to the paper's keep-one-per-group when
    duplicate groups are cliques (the common case).

    Scale design: pair work is sum over clusters of n_c^2, so ``k``
    is the blocking knob — the paper runs k ~ sqrt(N) (50k clusters
    on LAION) so clusters stay bounded. ``k`` is now UNCAPPED: the
    per-round Lloyd argmin is the broadcast-literal struct tiebreak
    for k <= 32 (pure codegen) and the Arrow int64 argmin beyond, whose
    cost is flat in k up to thousands of cells (chosen from k, see
    kmeans_lloyd) — bit-identical either way, so scaling k with N is
    a parameter choice, not a code path change. Everything that
    decides keep/drop is integer (dist_q, ids); only the tau crossing
    is float — the d6 contract.
    Returns every vector: (id, cluster, dist_q, dropped)."""
    from .similarity import kmeans_lloyd

    assign = kmeans_lloyd(
        df, k=k, n_rounds=n_rounds, scale=scale,
        id_col=id_col, vec_col=vec_col,
    )
    return semdedup_from_assignment(
        df, assign, tau=tau, id_col=id_col, vec_col=vec_col
    )


def semdedup_from_assignment(
    df: DataFrame,
    assign: DataFrame,
    tau: float = 0.35,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The SemDeDup pair/loser algebra over ANY blocking assignment —
    ``assign`` is (id, cluster, dist_q) from whichever blocking fits
    the scale: :func:`~.similarity.kmeans_lloyd` at any k (literal or
    Arrow argmin, both oracle-exact), or IVF trained centroids
    (operators.similarity._ivf_train, the s3 machinery)
    quantized onto the grid — production k ~ sqrt(N) in the thousands —
    the algebra below is identical either way: intra-cluster pairs,
    cosine >= tau, the member closer to its centroid loses, ties drop
    the smaller id, a vector is dropped if it loses any pair. A
    zero-norm vector never pairs, so it is never dropped."""
    from .similarity import _cos_side, _pair_cosine

    assign = assign.transform(lineage_checkpoint)
    cols = {"id_col": id_col, "vec_col": vec_col}
    fa = assign.toDF("id_a", "cluster", "dist_a")
    fb = assign.toDF("id_b", "cluster", "dist_b")
    pairs = (
        fa.join(fb, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .join(_cos_side(df, "a", **cols), "id_a")
        .join(_cos_side(df, "b", **cols), "id_b")
        .filter(_pair_cosine() >= F.lit(tau))
    )
    losers = pairs.select(
        F.when(
            (F.col("dist_a") < F.col("dist_b"))
            | (
                (F.col("dist_a") == F.col("dist_b"))
                & (F.col("id_a") < F.col("id_b"))
            ),
            F.col("id_a"),
        )
        .otherwise(F.col("id_b"))
        .alias("_loser")
    ).distinct()
    return (
        assign.join(
            losers, assign[id_col] == losers["_loser"], "left"
        )
        .select(
            assign[id_col],
            "cluster",
            F.col("dist_q"),
            F.col("_loser").isNotNull().alias("dropped"),
        )
    )


def semdedup_ivf(
    df: DataFrame,
    n_cells: int = 8,
    tau: float = 0.35,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup on the PRODUCTION large-k blocking path: clusters come
    from the IVF coarse quantizer (operators.similarity._ivf_train —
    the s3 machinery, whose training cost does not grow with k the way
    the broadcast-literal Lloyd tier's plan does), the trained float
    centroids are quantized onto the same integer grid as the vectors,
    and assignment + keep/drop run the IDENTICAL exact algebra as
    :func:`semdedup` (assign_to_centroids -> semdedup_from_assignment).
    Blocking differs from the k-means tier only in WHERE the centroids
    come from, so drop decisions agree wherever the two Voronoi
    partitions agree — the d26 envelope measures exactly that."""
    import math

    from .similarity import _ivf_train, assign_to_centroids

    base = df.select(
        F.col(id_col).alias("item_id"),
        F.col(vec_col).cast("array<double>").alias("_ivec"),
    ).transform(lineage_checkpoint)
    C = _ivf_train(base, n_cells)
    centroids = [
        [int(math.floor(x * scale)) for x in row] for row in C.tolist()
    ]
    assign = assign_to_centroids(
        df, centroids, scale=scale, id_col=id_col, vec_col=vec_col
    )
    return semdedup_from_assignment(
        df, assign, tau=tau, id_col=id_col, vec_col=vec_col
    )


def prototype_pruning(
    df,
    k: int = 8,
    n_rounds: int = 3,
    scale: int = 1000,
    keep_num: int = 7,
    keep_den: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
):
    """SSL-prototypes data pruning (Sorscher et al., 'Beyond neural
    scaling laws', NeurIPS'22): cluster the corpus, rank every example
    within its cluster by distance to the centroid, and keep the
    ``keep_num/keep_den`` fraction of MOST prototypical (closest)
    examples per cluster — the metric-based pruning rule the paper
    shows beats random subsetting, applied on d25's exact integer grid
    so the whole decision (trajectory, ranks, the ceil quota) replays
    in SQL bit for bit.

    The quota is ``ceil(n_c * keep_num / keep_den)`` per cluster in
    pure integer arithmetic (``(n_c * keep_num + keep_den - 1) div
    keep_den``), so every cluster keeps at least one example and the
    fraction is exact — no float thresholds. Rank ties break by id
    (the (dist_q, id) total order every exact tier uses).

    Scale shape: the s9/d25 Lloyd cost (map-only assignment rounds +
    bounded collects) plus ONE per-cluster window — partitioned by
    cluster, never global, and the rank filter compiles to
    WindowGroupLimit-eligible shape (map tasks pre-prune below the
    quota's running max). Returns (id_col, cluster, dist_q,
    rank_in_cluster, kept) for the full corpus — the curation manifest
    downstream mixers consume.
    """
    from pyspark.sql import Window

    from .similarity import kmeans_lloyd

    assign = kmeans_lloyd(
        df,
        k=k,
        n_rounds=n_rounds,
        scale=scale,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
    ).transform(lineage_checkpoint)  # consumers: sizes + ranked rows
    sizes = assign.groupBy("cluster").agg(F.count(F.lit(1)).alias("_n"))
    w = Window.partitionBy("cluster").orderBy(
        F.asc("dist_q"), F.asc(id_col)
    )
    ranked = assign.withColumn(
        "rank_in_cluster", F.row_number().over(w).cast("bigint")
    )
    return ranked.join(F.broadcast(sizes), "cluster").select(
        F.col(id_col),
        "cluster",
        "dist_q",
        "rank_in_cluster",
        (
            F.col("rank_in_cluster")
            <= F.expr(f"(_n * {keep_num} + {keep_den} - 1) div {keep_den}")
        )
        .cast("int")
        .alias("kept"),
    )


def lsh_threshold_sweep(
    df,
    taus: tuple = (7, 9, 11, 13),
    tau_den: int = 20,
    scale: int = 1000,
    block_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    lsh_floor: float = 0.2,
):
    """Threshold-CALIBRATION sweep for the embedding near-dup detector:
    for each candidate tau (in ``tau_den``-ths), the exact count of
    block-ground-truth pairs crossing tau — decided rationally on the
    d25 milli grid (``dot >= 0 AND tau_den^2*dot^2 >= tau^2*|a|^2*|b|^2``)
    so every count replays in DuckDB — plus the per-tau envelope
    ``lsh_recall_ok``: every ground-truth pair crossing tau was surfaced
    by the PRODUCTION sign-LSH candidate tier
    (:func:`embedding_lsh_pairs` verified at the looser ``lsh_floor``,
    so the candidate set is tau-independent). The sweep range starts at
    0.35 — the regime where the prod tier's recall envelope is proven
    (d19); below it sign-LSH legitimately misses weak pairs and the
    envelope would report the miss. This is the "which tau do we ship,
    and does the prod blocking hold there" dashboard a curation
    pipeline runs before committing a drop policy.

    Scale shape (the d28 lesson, RE-LEARNED by this gate: the first
    cut enumerated ground-truth pairs through the JVM dot fold and the
    sf0.1 -> sf1 probe flagged 43.7x): the exact tier never
    materializes pairs — ONE chunked int64 Gram matmul per block
    counts the per-tau crossings in numpy (an m x m tile histogram,
    ~100x cheaper per pair than the JVM fold), and the subset check
    rides the SPARSE candidate list instead: count(candidates
    intersect ground truth crossing tau) == count(ground truth
    crossing tau) iff no miss. Work is sum over blocks of m^2 * dim
    integer MACs + one pass over the candidate pairs — linear in
    corpus at bounded block width. Returns (tau_twentieths,
    n_pairs_exact, lsh_recall_ok).
    """
    import numpy as np
    import pandas as pd

    from .similarity import _quantize_expr

    spark = df.sparkSession
    taus = tuple(int(t) for t in taus)
    td2 = tau_den * tau_den
    coef = max(td2, max(t * t for t in taus))

    # exact tier: per-block per-tau crossing histogram, no pair rows
    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        m = len(pdf)
        counts = dict.fromkeys(taus, 0)
        for lo, hi, G, n2 in _int64_gram_tiles(pdf["_v"], scale, coef):
            pos = n2 > 0
            lhs = td2 * (G * G)  # <= 8.3e18, in-bounds (the d28 proof)
            outer = np.outer(n2[lo:hi], n2)
            base = (G >= 0) & pos[lo:hi, None] & pos[None, :]
            # strict upper triangle of the GLOBAL matrix: j > global i
            base &= np.arange(m)[None, :] > np.arange(lo, hi)[:, None]
            for t in taus:
                counts[t] += int(((lhs >= (t * t) * outer) & base).sum())
        return pd.DataFrame(
            {
                "tau_twentieths": np.array(taus, dtype=np.int32),
                "cnt": np.array([counts[t] for t in taus], dtype=np.int64),
            }
        )

    # NULL-block contract: NULL keys mean "no block" — drop them here so
    # the exact tier matches the candidate tier's `_blka == _blkb` filter
    # (which drops NULLs) instead of counting NULLs as one giant block.
    exact = (
        df.select(
            F.col(block_col).alias("_blk"),
            F.col(vec_col).cast("array<double>").alias("_v"),
        )
        .filter(F.col("_blk").isNotNull())
        .groupBy("_blk")
        .applyInPandas(kernel, "tau_twentieths int, cnt bigint")
        .groupBy("tau_twentieths")
        .agg(F.sum("cnt").cast("bigint").alias("n_pairs_exact"))
    )

    # candidate tier: the sparse LSH pair list, re-scored exactly
    qn = df.select(
        F.col(id_col),
        F.col(block_col).alias("_blk"),
        _quantize_expr(vec_col, scale).alias("_qv"),
    ).withColumn(
        "_n2",
        F.aggregate(
            F.transform(F.col("_qv"), lambda x: x * x),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
    ).transform(lineage_checkpoint)  # consumers: both candidate sides
    cand = embedding_lsh_pairs(df, threshold=lsh_floor, dim=dim).select(
        "id_a", "id_b"
    )
    a = qn.toDF("id_a", "_blka", "_qa", "_n2a")
    b = qn.toDF("id_b", "_blkb", "_qb", "_n2b")
    dot = F.aggregate(
        F.zip_with(F.col("_qa"), F.col("_qb"), lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cpairs = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .filter(F.col("_blka") == F.col("_blkb"))  # ground-truth members
        .select("_n2a", "_n2b", dot.alias("_dot"))
    )
    tau_df = spark.createDataFrame(
        [(t,) for t in taus], "tau_twentieths int"
    )
    crossing = F.expr(
        f"_n2a > 0 AND _n2b > 0 AND _dot >= 0"
        f" AND {td2} * (cast(_dot as decimal(38,0)) * _dot)"
        f" >= tau_twentieths * tau_twentieths"
        f" * (cast(_n2a as decimal(38,0)) * _n2b)"
    )
    # the 4-row tau frame rides BROADCAST sides only: a left-outer join
    # can't build its left side, so hinting tau_df there is silently
    # dropped (HintErrorLogger) — instead cross-join the broadcast taus
    # onto the pair stream, and broadcast the tiny aggregated frames on
    # the RIGHT of the keep-all-taus left joins (BuildRight is legal).
    cand_counts = (
        cpairs.crossJoin(F.broadcast(tau_df))
        .groupBy("tau_twentieths")
        .agg(
            F.sum(F.when(crossing, 1).otherwise(0))
            .cast("bigint")
            .alias("_n_cand")
        )
    )
    return (
        tau_df.join(F.broadcast(exact), "tau_twentieths", "left")
        .join(F.broadcast(cand_counts), "tau_twentieths", "left")
        .select(
            "tau_twentieths",
            F.coalesce("n_pairs_exact", F.lit(0).cast("bigint")).alias(
                "n_pairs_exact"
            ),
            (
                F.coalesce("n_pairs_exact", F.lit(0))
                == F.coalesce("_n_cand", F.lit(0))
            ).alias("lsh_recall_ok"),
        )
    )


def _portable_hash60(s: Column) -> Column:
    """The t32/q113/st17 engine-portable 60-bit hash: ``int(md5(s)[:15
    hex], 16)`` — bit-identical in Spark, DuckDB and Python, int64-safe
    (< 2^60)."""
    return F.conv(F.substring(F.md5(s.cast("binary")), 1, 15), 16, 10).cast(
        "bigint"
    )


def _salted_hash60(s: Column, k: int) -> list[Column]:
    """The ``k`` salted portable hashes ``_portable_hash60(i ':' s)``,
    ``i in 0..k-1``: the portable MinHash family and, taken ``% m`` over
    ``md5(text)``, the Bloom bit positions."""
    return [_portable_hash60(F.concat(F.lit(f"{i}:"), s)) for i in range(k)]


def bloom_position_set(
    corpus: DataFrame,
    text_col: str = "text",
    m: int = 2048,
    k: int = 3,
) -> DataFrame:
    """The corpus Bloom filter as a DISTINCT-position table — for each
    corpus document, the ``k`` set bit positions ``portable_hash60(i ':'
    md5(text)) % m`` for ``i in 0..k-1``. At most ``min(m, k * n)``
    rows; since FPR control sizes ``m`` proportional to the corpus
    (bits/doc), the table GROWS with the corpus — as a position TABLE
    it broadcasts to ~10^7-10^8 corpus docs (8-byte rows balloon in
    the in-memory hash relation; Spark's 8 GB broadcast limit lands
    around 10^8), the production BITSET reaches ~10^10 (n bytes at
    8 bits/doc), and beyond that the filter shards by position prefix:
    each executor holds one shard and batch probes route by the same
    prefix — a shuffle of 8-byte keys only, never of corpus text.

    This position-TABLE flavor is the engine-portable algebra (every
    bit replays in DuckDB SQL, so the d30 surface — including the
    filter's deterministic FALSE POSITIVES — is hash-comparable whole).
    The 100 TB production flavor is the same positions OR-folded into a
    real bitset via ``treeAggregate`` (Spark's own
    ``DataFrameStatFunctions.bloomFilter`` does exactly this JVM-side);
    identical algebra, but its private hash family can only be
    envelope-checked, the st17 portable-vs-xxhash64 split.
    """
    ch = F.md5(F.col(text_col).cast("binary"))
    pos = F.explode(F.array(*[h % m for h in _salted_hash60(ch, k)])).alias("pos")
    return corpus.select(pos).distinct()


def bloom_gated_dedup(
    corpus: DataFrame,
    batch: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits_per_doc: int = 8,
    k: int | None = None,
    bloom: DataFrame | None = None,
    keepers: DataFrame | None = None,
    m: int | None = None,
) -> DataFrame:
    """INCREMENTAL exact dedup of an ingest ``batch`` against a standing
    ``corpus``: only bloom-POSITIVE batch rows pay the verification
    join — the d1 twin for the "100 TB corpus, daily 100 GB crawl"
    shape where re-grouping corpus+batch per ingest (d1) would
    re-shuffle history every day.

    BUILD/SERVE split (r14 review honesty): the Bloom position set and
    the corpus content-hash keeper table are INDEX ARTIFACTS — a
    deployment builds them ONCE (one corpus scan each), persists them,
    and passes them in via ``bloom``/``keepers``/``m`` so each daily
    batch pays only its own scan + the broadcast membership test + the
    sparse verification join. When they are omitted (the registered
    d30 query, correctness scale) this function builds them inline,
    which re-scans the corpus — convenient, but NOT the claimed
    incremental shape; the claim attaches to the prebuilt path.

    Plan shape (the scale story):

    1. ``m = max(64, bits_per_doc * |corpus|)`` — OCCUPANCY-DERIVED
       sizing (the s18/d27 contract): fixed ``m`` saturates as the
       corpus grows (FPR -> 1, every batch row pays the join); ~8 bits
       per doc at k=3 pins the asymptotic FPR at ~3%
       ((1-e^-3/8)^3) at ANY corpus size.
    2. The position set (:func:`bloom_position_set`) is broadcast and
       each batch row tests its k positions via the broadcast join
       (map-side); the ``all k matched`` fold is a groupBy over the
       k rows per doc — 8-byte keys, map-side partial combine, and in
       the production BITSET flavor it disappears entirely (the k
       probes are one in-memory lookup). Honest bounds: the set is
       <= min(m, k*n) 8-byte rows and m scales WITH the corpus, so
       the position TABLE broadcasts to ~10^7-10^8 corpus docs, the
       production bitset to ~10^10, prefix-sharded past that (see
       :func:`bloom_position_set`). No false negatives either way:
       every true dup is bloom-positive.
    3. Only bloom-positive rows (true dups + the ~3% deterministic
       false positives) join the corpus content-hash table
       (8-byte-hash keyed, the d1 shuffle discipline); negatives
       bypass with ``is_dup = false`` untouched.

    Returns one row per batch doc: (``id_col``, bloom_positive,
    is_dup, keeper_id) — keeper_id = min corpus id with identical
    text, NULL for non-dups. A false positive is visible as
    ``bloom_positive AND NOT is_dup``; both engines compute the SAME
    false positives because the positions are engine-portable.
    """
    if bloom is not None and (m is None or k is None):
        # ADVICE r15 (medium) + the r15 self-review extension: deriving
        # m from the CURRENT corpus under a prebuilt filter silently
        # mis-mods every probe position once the standing corpus has
        # grown since the filter was built — and serving with a k
        # different from build-time probes positions that were never
        # set. Both failure modes produce FALSE NEGATIVES, violating
        # the documented no-false-negatives guarantee. Persist m AND k
        # alongside the filter artifact and pass all three together.
        raise ValueError(
            "bloom_gated_dedup: a prebuilt `bloom` requires its "
            "build-time `m` and `k` — pass the values the filter was "
            "built with (persist them with the artifact); deriving "
            "either from defaults or the current corpus would "
            "silently produce false negatives"
        )
    if k is None:
        k = 3  # the documented default (FPR ~3% at 8 bits/doc)
    if m is None:
        n = corpus.count()
        m = max(64, bits_per_doc * n)
    if bloom is None:
        bloom = bloom_position_set(corpus, text_col, m=m, k=k)

    ch = F.md5(F.col(text_col).cast("binary"))
    probes = batch.select(
        F.col(id_col), ch.alias("_ch")
    ).select(
        id_col,
        "_ch",
        F.explode(
            F.array(*[h % m for h in _salted_hash60(F.col("_ch"), k)])
        ).alias("pos"),
    )
    membership = (
        probes.join(
            F.broadcast(bloom.withColumn("_hit", F.lit(1))), "pos", "left"
        )
        .groupBy(id_col)
        .agg(
            F.any_value(F.col("_ch")).alias("_ch"),
            (F.count(F.lit(1)) == F.sum(F.coalesce("_hit", F.lit(0)))).alias(
                "bloom_positive"
            ),
        )
    )
    if keepers is None:
        keepers = (
            corpus.select(ch.alias("_ch"), F.col(id_col).alias("_cid"))
            .groupBy("_ch")
            .agg(F.min("_cid").alias("_keeper"))
        )
    positive = (
        membership.filter(F.col("bloom_positive"))
        .join(keepers, "_ch", "left")
        .select(
            id_col,
            "bloom_positive",
            F.col("_keeper").isNotNull().alias("is_dup"),
            F.col("_keeper").alias("keeper_id"),
        )
    )
    negative = membership.filter(~F.col("bloom_positive")).select(
        id_col,
        "bloom_positive",
        F.lit(False).alias("is_dup"),
        F.lit(None).cast("bigint").alias("keeper_id"),
    )
    return positive.unionByName(negative)


def bloom_fpr_sweep(
    corpus: DataFrame,
    batch: DataFrame,
    bits_list: tuple = (2, 4, 8, 16),
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """CALIBRATION sweep for :func:`bloom_gated_dedup`'s sizing dial —
    measured false-positive rate vs bits/doc, ALL configs in ONE corpus
    scan (the c12 single-pass-sweep pattern): positions for every
    (bits_per_doc, salt) pair explode from one projection, distinct per
    (config, position), and batch membership is one join keyed
    (config, position). The verification truth (is the batch row REALLY
    in the corpus?) comes from one content-hash join shared by all
    configs, so the sweep costs two corpus scans total regardless of
    how many sizes it prices — at 100 TB you run it on a sample, but
    the per-config work is additive-tiny either way.

    Returns one row per config: (bits_per_doc, n_batch, n_positive,
    n_true_dup, n_false_pos, fpr_ppm) with fpr_ppm = floor(1e6 *
    false positives / non-dup batch rows) — all-integer surface, so
    the measured-FPR-vs-analytic-~3%-at-8-bits claim is replayable
    bit for bit.
    """
    n = corpus.count()
    configs = [(b, max(64, b * n)) for b in bits_list]
    ch = F.md5(F.col(text_col).cast("binary"))
    # every (config, salt) position of one row, as (bits, pos) structs
    positions = F.explode(
        F.array(
            *[
                F.struct(F.lit(b).alias("bits"), (h % m).alias("pos"))
                for b, m in configs
                for h in _salted_hash60(F.col("_ch"), k)
            ]
        )
    ).alias("bp")

    bloom = (
        corpus.select(ch.alias("_ch"))
        .select(positions)
        .select("bp.bits", "bp.pos")
        .distinct()
    )
    probes = (
        batch.select(F.col(id_col), ch.alias("_ch"))
        .select(id_col, "_ch", positions)
        .select(id_col, "_ch", "bp.bits", "bp.pos")
    )
    membership = (
        probes.join(
            F.broadcast(bloom.withColumn("_hit", F.lit(1))),
            ["bits", "pos"],
            "left",
        )
        .groupBy(id_col, "bits")
        .agg(
            F.any_value(F.col("_ch")).alias("_ch"),
            (F.count(F.lit(1)) == F.sum(F.coalesce("_hit", F.lit(0)))).alias(
                "_positive"
            ),
        )
    )
    truth = corpus.select(ch.alias("_ch")).distinct().withColumn(
        "_in_corpus", F.lit(True)
    )
    joined = membership.join(F.broadcast(truth), "_ch", "left").select(
        "bits",
        "_positive",
        F.coalesce("_in_corpus", F.lit(False)).alias("_dup"),
    )
    agg = joined.groupBy("bits").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_batch"),
        F.sum(F.when(F.col("_positive"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_positive"),
        F.sum(F.when(F.col("_dup"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_true_dup"),
        F.sum(F.when(F.col("_positive") & ~F.col("_dup"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_false_pos"),
    )
    return agg.select(
        F.col("bits").alias("bits_per_doc"),
        "n_batch",
        "n_positive",
        "n_true_dup",
        "n_false_pos",
        F.when(
            F.col("n_batch") > F.col("n_true_dup"),
            # integer division: exact floor, no double rounding at the
            # boundary (DuckDB's `//` is the same operation)
            F.expr(
                "CAST(1000000 AS BIGINT) * n_false_pos"
                " div (n_batch - n_true_dup)"
            ),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias("fpr_ppm"),
    )
