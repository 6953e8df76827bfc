"""Similarity search over embedding columns (``array<float>``).

Two tiers:

- :func:`cosine_topk` — brute-force exact top-k: broadcast the (small)
  query set, score every (query, item) pair with a JVM-side
  ``aggregate(zip_with(...))`` dot product, window top-k. Exact baseline;
  linear scan of the corpus per query — right up to ~10^7 items per
  executor-second, and the scoring is pure codegen (no Python).
- :func:`lsh_cosine_topk` — random-hyperplane (sign) LSH: deterministic
  seeded hyperplanes, bucket on the sign pattern of ``n_planes``
  projections, re-rank exactly within matching buckets (multi-probe with
  the query's own bucket). The 100 TB path: candidates shrink by
  ~2^-planes per probe and the corpus is scanned once to bucket it.

Scores are computed in double; ranking output (ids + rank) is
deterministic as long as no two scores tie exactly.

The near-dup verification tier builds each shared mechanism in one place:

- the cosine division: :func:`_cosine` (NULL when a norm is zero), behind
  :func:`cosine_similarity` and :func:`_pair_cosine`, which scores a pair
  joined from two :func:`_cos_side` projections (norm computed once per
  row) — the embedding near-dup pairs of ``dedup`` and ``streaming``;
- the recall envelope: :func:`_recall_envelope` (hits over truth in
  integer tenths), behind :func:`ann_with_recall_check`,
  :func:`ann_with_corpus_recall_check` and the d19–d23, d26 and st10
  harnesses.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from .util import (
    ensure_parallelism,
    lineage_checkpoint,
    lineage_checkpoint_eager,
    overlap,
    rebalance_if_skewed,
)


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            a, F.lit(0.0), lambda acc, v: acc + v.cast("double") * v.cast("double")
        )
    )


def _cosine(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """The one cosine division: ``dot(a, b) / (na * nb)`` for norms
    ``na``, ``nb``. A zero norm makes the cosine undefined: the score is
    NULL (DuckDB's ``x / 0``), so the pair never passes a threshold
    filter and ranks after every scored item, where a bare division
    raises DIVIDE_BY_ZERO under ANSI mode."""
    return _dot(a, b) / F.nullif(na * nb, F.lit(0.0))


def cosine_similarity(a: Column, b: Column) -> Column:
    return _cosine(a, b, _norm(a), _norm(b))


def _cos_side(
    df: DataFrame,
    side: str,
    *keep: Column,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """One side of a pair-cosine join: ``(id_<side>, _v<side>,
    _n<side>, *keep)``, the norm computed once per row before the join,
    so each pair costs one dot product, not three. Score the joined
    pair with :func:`_pair_cosine`."""
    return df.select(
        F.col(id_col).alias(f"id_{side}"),
        F.col(vec_col).alias(f"_v{side}"),
        _norm(F.col(vec_col)).alias(f"_n{side}"),
        *keep,
    )


def _pair_cosine() -> Column:
    """The cosine of a pair joined from an ``a`` and a ``b``
    :func:`_cos_side`."""
    return _cosine(F.col("_va"), F.col("_vb"), F.col("_na"), F.col("_nb"))


def _top_k(
    scored: DataFrame, k: int, query_id_col: str, score: str, rank: str = "rank"
) -> DataFrame:
    """The one per-query ranker of the ANN tier: ``row_number`` as
    ``rank`` over (``score`` desc, ``item_id`` asc) — the tiebreak every
    oracle replays — kept to ``rank <= k``. Partitioned per query, never
    global; the rank filter is WindowGroupLimit-eligible."""
    w = Window.partitionBy(query_id_col).orderBy(
        F.col(score).desc(), F.col("item_id").asc()
    )
    return scored.withColumn(rank, F.row_number().over(w)).filter(
        F.col(rank) <= k
    )


def _exact_refine(
    vecs: DataFrame,
    cand: DataFrame,
    q: DataFrame,
    k: int,
    query_id_col: str,
    ivec: str,
) -> DataFrame:
    """Stage 2 of the two-stage tiers: re-rank the (query, item_id)
    shortlist ``cand`` by the exact cosine of ``vecs[ivec]`` against
    ``q["_qvec"]``. The shortlist (Q x shortlist rows) and the queries
    broadcast against the corpus vectors — without the hints the
    stats-free frames draw a SortMergeJoin that shuffles the whole
    corpus to re-rank a few hundred rows."""
    scored = (
        vecs.join(F.broadcast(cand), "item_id")
        .join(F.broadcast(q), query_id_col)
        .select(
            query_id_col,
            "item_id",
            cosine_similarity(F.col(ivec), F.col("_qvec")).alias("score"),
        )
    )
    return _top_k(scored, k, query_id_col, "score").select(
        query_id_col, "item_id", "rank", "score"
    )


def cosine_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact top-k cosine neighbors per query vector.

    ``queries`` (query_id, vector) is broadcast: the plan is a single
    BroadcastNestedLoopJoin over the corpus — no shuffle of the corpus,
    one window top-k on (query, score).
    """
    q = queries.select(
        F.col(query_id_col), F.col(vec_col).alias("_qvec")
    )
    scored = ensure_parallelism(
        items.select(F.col(id_col).alias("item_id"), F.col(vec_col).alias("_ivec"))
    ).crossJoin(F.broadcast(q))
    scored = scored.filter(F.col("item_id") != F.col(query_id_col)).select(
        query_id_col,
        "item_id",
        cosine_similarity(F.col("_ivec"), F.col("_qvec")).alias("score"),
    )
    return _top_k(scored, k, query_id_col, "score").select(
        query_id_col, "item_id", "rank"
    )


def _envelope_guard(qcol: Column, bound: int, fn_name: str) -> Column:
    """Shared exactness-envelope guard for the integer-cosine kernels
    (hard_negative_topk / semantic_decontam_*): pass the quantized
    vector through iff ``dim * max_coord^2 <= bound``, else RAISE
    instead of silently wrapping the int64 fold. NULL/empty vectors
    pass through untouched (zero-norm handling downstream). A NULL
    verdict from the check itself means the decimal(38,0) comparison
    OVERFLOWED — i.e. the row is astronomically outside the envelope —
    so NULL raises too (coalesce-to-true here was the r14 review bug:
    it silently passed exactly the rows the guard exists to catch)."""
    m = F.array_max(F.transform(qcol, F.abs))
    # m^2 fits decimal(38,0) for any int64 m; dim*m^2 compared wide
    mm = m.cast("decimal(38,0)") * m
    ok = (F.size(qcol).cast("decimal(38,0)") * mm) <= F.lit(bound).cast(
        "decimal(38,0)"
    )
    passthrough = qcol.isNull() | (F.size(qcol) == 0)
    return F.when(
        passthrough | F.coalesce(ok, F.lit(False)), qcol
    ).otherwise(
        F.raise_error(
            F.lit(
                f"{fn_name}: dim * max_coord^2 exceeds the "
                "int64/decimal38-exact envelope; lower `scale`"
            )
        ).cast("array<long>")
    )


def hard_negative_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int,
    lo_num: int = 7,
    hi_num: int = 15,
    band_den: int = 20,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """HARD-NEGATIVE mining for contrastive training: per query, the
    top-``k`` items whose cosine lies in the band
    ``[lo_num/band_den, hi_num/band_den)`` — similar enough to be
    informative negatives, below the near-dup ceiling so they are not
    false negatives (the batch-mining step of embedding-model training;
    the complement of the d-family's "too similar, drop" tiers).

    Exactness contract: band MEMBERSHIP is decided on the d25 integer
    grid — ``crossing(tau) = dot >= 0 AND den^2*dot^2 >=
    tau^2*|a|^2*|b|^2`` (int64/decimal, replays in DuckDB HUGEINT bit
    for bit), band = crossing(lo) AND NOT crossing(hi) — because a
    FLOAT threshold at the band edge could flip a row in or out on a
    1-ulp cross-engine difference, while float is only used to ORDER
    within the band (ordering ties break by id, the proven s1
    contract). Zero-norm vectors never qualify (undefined cosine).

    Scale shape: identical to :func:`cosine_topk` — the |Q|-row query
    side broadcasts, one corpus scan, per-query window top-k. The band
    predicate is map-side (whole-stage codegen), so at 100 TB it
    PRUNES the window input rather than adding a pass.

    Overflow envelope (the dedup-kernel guard, same bound form): the
    int64 fold needs ``dim * max_coord^2 <= 2^63-1`` and the
    decimal(38,0) band comparison needs ``max(den^2, hi^2) * dot^2 <
    10^38`` — every row is checked against the combined bound and a
    violating row raises instead of silently wrapping (mirrors the
    HUGEINT-exact oracle, which has no 2^63 ceiling).
    """
    import math

    d2 = band_den * band_den
    # |dot| and n2 are <= dim*maxc^2 =: B; int64 fold needs B <= 2^63-1,
    # the decimal(38,0) comparison needs max(d2, hi^2)*B^2 < 10^38.
    # (10^38 - 1), not 10^38: the corner where bound^2 * B^2 equals
    # 10^38 exactly would overflow decimal(38,0) to NULL and silently
    # drop the row instead of raising (ADVICE r15, same latent corner
    # as semantic_decontam_pairs)
    _n2_bound = min(
        2**63 - 1, math.isqrt((10**38 - 1) // max(d2, hi_num * hi_num))
    )

    def _guarded(qcol: Column) -> Column:
        return _envelope_guard(qcol, _n2_bound, "hard_negative_topk")

    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        _guarded(_quantize_expr(vec_col, scale)).alias("_qq"),
    )
    scored = (
        ensure_parallelism(
            items.select(
                F.col(id_col).alias("item_id"),
                F.col(vec_col).alias("_ivec"),
                _guarded(_quantize_expr(vec_col, scale)).alias("_iq"),
            )
        )
        .crossJoin(F.broadcast(q))
        .filter(F.col("item_id") != F.col(query_id_col))
    )
    dot = F.aggregate(
        F.zip_with(F.col("_iq"), F.col("_qq"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n2 = lambda c: F.aggregate(  # noqa: E731
        F.transform(F.col(c), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = scored.select(
        query_id_col,
        "item_id",
        cosine_similarity(F.col("_ivec"), F.col("_qvec")).alias("score"),
        dot.alias("_dot"),
        n2("_iq").alias("_n2i"),
        n2("_qq").alias("_n2q"),
    )

    def crossing(tau: int):
        return (F.col("_dot") >= 0) & (
            F.lit(d2) * (F.col("_dot").cast("decimal(38,0)") * F.col("_dot"))
            >= F.lit(tau * tau)
            * (F.col("_n2i").cast("decimal(38,0)") * F.col("_n2q"))
        )

    banded = scored.filter(
        (F.col("_n2i") > 0)
        & (F.col("_n2q") > 0)
        & crossing(lo_num)
        & ~crossing(hi_num)
    )
    return _top_k(banded, k, query_id_col, "score").select(
        query_id_col, "item_id", "rank"
    )


def _hyperplanes(n_planes: int, dim: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random unit-ish hyperplanes (pure python LCG —
    reproducible across numpy versions, tiny: n_planes x dim floats
    shipped as a literal/broadcast)."""
    state = seed & 0x7FFFFFFF
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) & 0x7FFFFFFF
            row.append((state / 0x40000000) - 1.0)  # [-1, 1)
        planes.append(row)
    return planes


def sign_lsh_bucket_udf(
    dim: int,
    n_planes: int,
    n_tables: int,
    with_probes: bool,
    seed_base: int = 7,
):
    """Arrow-batched pandas UDF mapping an embedding to its sign-LSH
    bucket ids: one ``array<bigint>`` of ``n_tables`` base buckets
    (table tag in the high bits), or — with ``with_probes`` — base
    buckets plus every Hamming-distance-1 probe bucket per table
    (``n_tables * (1 + n_planes)`` ids). One numpy matmul per Arrow
    batch over all tables' stacked hyperplanes; hyperplanes are the
    deterministic LCG of :func:`_hyperplanes`, so bucketing is
    reproducible across runs/engines. Shared by the ANN query tier
    (:func:`lsh_cosine_topk`) and the near-dup pair tier
    (operators.dedup.embedding_lsh_pairs)."""
    mats = [
        np.array(
            _hyperplanes(n_planes, dim, seed=seed_base + 101 * t),
            dtype=np.float64,
        )
        for t in range(n_tables)
    ]
    stacked = np.concatenate(mats, axis=0)  # (tables*planes, dim)

    @F.pandas_udf("array<bigint>")
    def udf(vecs: pd.Series) -> pd.Series:
        V = np.stack(vecs.to_numpy()).astype(np.float64)  # (n, dim)
        bits = (V @ stacked.T >= 0).astype(np.int64)  # (n, tables*planes)
        cols = []
        for t in range(n_tables):
            block = bits[:, t * n_planes : (t + 1) * n_planes]
            b = (block << np.arange(n_planes, dtype=np.int64)).sum(axis=1)
            cols.append(b ^ (t << 32))  # tag table in high bits
        B = np.stack(cols, axis=1)  # (n, tables)
        if with_probes:
            # flipping plane bit i stays below the table tag (i < 32)
            B = np.concatenate(
                [B] + [B ^ (1 << i) for i in range(n_planes)], axis=1
            )
        return pd.Series(list(B))

    return udf


def lsh_cosine_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    n_planes: int = 6,
    n_tables: int = 8,
    multiprobe: bool = True,
) -> DataFrame:
    """Approximate top-k: multi-table sign-LSH bucket join, exact re-rank.

    Per table t, bucket id = bit pattern of sign(v . h_i) over that
    table's ``n_planes`` hyperplanes. Items land in one bucket per table
    (L rows each); a query probes its bucket per table plus (with
    ``multiprobe``) every bucket at Hamming distance 1 — recovering
    neighbors whose projection sits near a hyperplane. Candidates are an
    equi-join on (table, bucket): shuffle ~L x N fixed-width rows, never
    N x Q. Recall ≈ 1-(1-r)^L tunes via n_tables/n_planes; every
    candidate is re-scored exactly, so precision is exact.

    Bucketing runs as an Arrow-batched pandas UDF (one numpy matmul per
    batch over all tables' hyperplanes) — dense linear algebra is the one
    place the vectorized Python path beats per-element SQL folds.
    """
    def _bucket_udf(with_probes: bool):
        return sign_lsh_bucket_udf(dim, n_planes, n_tables, with_probes)

    it = items.select(
        F.col(id_col).alias("item_id"),
        F.col(vec_col).alias("_ivec"),
        F.explode(_bucket_udf(False)(F.col(vec_col))).alias("_bucket"),
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        F.explode(_bucket_udf(multiprobe)(F.col(vec_col))).alias("_bucket"),
    )
    cand = (
        it.join(F.broadcast(q), "_bucket")
        .filter(F.col("item_id") != F.col(query_id_col))
        .select(query_id_col, "item_id", "_ivec", "_qvec")
        .dropDuplicates([query_id_col, "item_id"])
    )
    scored = cand.select(
        query_id_col,
        "item_id",
        cosine_similarity(F.col("_ivec"), F.col("_qvec")).alias("score"),
    )
    return _top_k(scored, k, query_id_col, "score").select(
        query_id_col, "item_id", "rank", "score"
    )


def _recall_envelope(
    truth: DataFrame,
    approx: DataFrame,
    keys: list[str],
    min_recall: float,
    flag: str = "recall_ok",
    per: str | None = None,
    broadcast: bool = False,
    rows: DataFrame | None = None,
) -> DataFrame:
    """The one recall envelope of the verification tier: the share of
    ``truth``'s ``keys`` rows that ``approx`` also holds, against
    ``min_recall``, as boolean ``flag`` on every row of ``rows``
    (default: ``truth``) — one value per ``per`` group, or one over the
    whole truth set. The comparison is in integer tenths,
    ``hits * 10 >= total * tenths``, so an empty truth set passes.
    ``broadcast`` hints a small approx side (a Q x k ANN frame, a drop
    set); ``approx`` must not repeat a key."""
    tenths = round(min_recall * 10)
    if abs(tenths - min_recall * 10) > 1e-9:
        raise ValueError(f"min_recall={min_recall} is not a whole tenth")
    marked = approx.select(*keys).withColumn("_hit", F.lit(1))
    hits = truth.select(*keys).join(
        F.broadcast(marked) if broadcast else marked, keys, "left"
    )
    stats = (hits.groupBy(per) if per else hits).agg(
        F.sum(F.coalesce(F.col("_hit"), F.lit(0))).alias("_hit"),
        F.count(F.lit(1)).alias("_tot"),
    )
    ok = stats.select(
        *([per] if per else []),
        (
            F.coalesce(F.col("_hit"), F.lit(0)) * 10
            >= F.col("_tot") * tenths
        ).alias(flag),
    )
    rows = truth if rows is None else rows
    if per:
        return rows.join(F.broadcast(ok), per)
    return rows.crossJoin(F.broadcast(ok))


def ann_with_recall_check(
    items: DataFrame,
    queries: DataFrame,
    ann: Callable[[], DataFrame],
    k: int,
    min_recall: float = 0.5,
) -> DataFrame:
    """Oracle-checkable validation harness for an ANN tier.

    ANN results are approximate and engine-specific, so they can't be
    hashed against a SQL oracle directly. Instead this emits the EXACT
    top-k rows (deterministic, oracle-reproducible) plus a per-query
    ``recall_ok`` boolean — recall of the ANN candidate set against the
    exact set, checked against an envelope far below the measured floor
    (0.7 at sf0.01) but far above failure modes (a broken bucketing
    scores ~0). The oracle emits the same exact top-k and literal TRUE.
    Production calls the ANN operator alone; this tier pins its recall
    contract to ground truth in the driver gate.

    ``ann`` builds the ANN side. The exact top-k materializes eagerly on
    a driver thread while ``ann()`` runs on this one (``util.overlap``),
    so an ANN build with blocking driver jobs of its own (the IVF train
    collects) overlaps the exact corpus pass. The exact frame is
    checkpointed because it feeds both the recall aggregate and the
    output; it is Q x k rows, as is the broadcast ANN side.
    """
    exact, approx = overlap(
        lambda: cosine_topk(items, queries, k).transform(
            lineage_checkpoint_eager
        ),
        ann,
    )
    return _recall_envelope(
        exact, approx, ["query_id", "item_id"], min_recall,
        per="query_id", broadcast=True,
    )


def ann_with_corpus_recall_check(
    items: DataFrame,
    queries: DataFrame,
    ann: DataFrame,
    k: int,
    min_recall: float = 0.5,
) -> DataFrame:
    """:func:`ann_with_recall_check` with a CORPUS-level envelope — for
    surfaces whose query side is itself corpus-sized (the kNN-join
    family): with hundreds of thousands of query rows, SOME row's true
    neighbors always land outside its probed blocks, so a per-row
    boolean can't be promised at any probe width (measured: min
    per-row recall 0 even at n_probe=8/16 where the mean is 0.83).
    The honest contract is aggregate: emitted rows are the EXACT
    brute-force top-k (oracle-reproducible), and every row carries the
    same ``recall_ok`` = overall candidate recall >= ``min_recall``
    (a broken blocking scores ~0 and fails loudly; the d26 scalar-
    envelope pattern).

    Scale bound (harness-only): this is a VERIFICATION tier — its
    exact side is the |Q| x N brute force, quadratic by definition —
    and unlike :func:`ann_with_recall_check` the ann frame here is
    |Q| x k rows with |Q| corpus-sized, so it is NOT broadcast (r13
    ADVICE: the hint would hit the broadcast limit before the exact
    tier ran out of road); the hit join shuffles on the pair key.
    Production calls the ANN operator alone."""
    exact = cosine_topk(items, queries, k).transform(
        lineage_checkpoint_eager
    )  # consumers: recall agg + output
    return _recall_envelope(exact, ann, ["query_id", "item_id"], min_recall)


def _assign_udf(centroids: np.ndarray, n: int):
    """Pandas UDF assigning each vector to its ``n`` nearest centroids by
    cosine (both sides normalized inside the batch)."""

    @F.pandas_udf("array<int>")
    def udf(vecs: pd.Series) -> pd.Series:
        V = np.stack(vecs.to_numpy()).astype(np.float64)
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        Cn = centroids / np.maximum(
            np.linalg.norm(centroids, axis=1, keepdims=True), 1e-12
        )
        # top-n by argpartition (O(cells)) + a sort of only the n
        # survivors, not a full row argsort (O(cells log cells) and a
        # (rows x cells) index matrix — the serving-path wall-clock at
        # SPANN cell counts). Equal to the old full argsort wherever
        # scores are distinct; under exact ties both were unstable.
        # Chunked like the Lloyd kernel: the (rows x cells) score
        # matrix is bounded at ~256 MB per worker so a full-core
        # Arrow stage stays inside the box's memory.
        n_cells_here = Cn.shape[0]
        step = max(256, (256 << 20) // (8 * max(1, n_cells_here)))
        outs = []
        for s0 in range(0, Vn.shape[0], step):
            sims = Vn[s0:s0 + step] @ Cn.T  # (chunk, cells)
            if n >= sims.shape[1]:
                outs.append(np.argsort(-sims, axis=1).astype(np.int32))
            else:
                part = np.argpartition(-sims, n - 1, axis=1)[:, :n]
                rows = np.arange(sims.shape[0])[:, None]
                order = np.argsort(-sims[rows, part], axis=1)
                outs.append(part[rows, order].astype(np.int32))
        top = np.concatenate(outs) if outs else np.empty((0, n), np.int32)
        return pd.Series(list(top))

    return udf


def _ivf_train(
    base: DataFrame, n_cells: int, seed_frame: DataFrame | None = None
) -> np.ndarray:
    """IVF coarse-quantizer training: deterministic seeds (the
    ``n_cells`` lowest-id corpus vectors) refined by ONE distributed
    Lloyd step whose statistics are per-batch partial sums inside a
    single ``mapInPandas`` pass. The partials (at most ``n_cells``
    (cell, sum-vector, count) rows per task) are merged by a
    DISTRIBUTED ``groupBy(cell, pos)`` aggregate — map-side partial
    combine reduces each task's output to <= cells x dim scalar rows —
    so the driver materializes exactly ``n_cells * dim`` rows no matter
    how many tasks ran (at 100 TB / ~10^5 tasks the old driver-side
    merge would have pulled tasks x cells array rows).

    ``base`` is the (item_id, _ivec) projection — checkpointed when the
    caller shares the materialization with its assignment pass
    (:func:`ivf_topk`), or a direct scan when training is the only
    consumer (:func:`filtered_ivf_topk`, whose item stream must keep
    its predicate pushable past where a checkpoint barrier would sit).
    ``seed_frame``, when given, is a CHEAPER frame with the same rows
    (e.g. the raw pre-repartition column projection, where the
    TakeOrdered limit pushes into the parquet scan instead of forcing
    the checkpoint's shuffle to materialize in the seed job — measured
    1.3 s off s3's sf0.1 latency); seeds are identical either way
    because both frames hold the same (item_id, _ivec) rows."""
    seeds = seed_frame if seed_frame is not None else base
    seed_rows = seeds.orderBy("item_id").limit(n_cells).select("_ivec").collect()
    C0 = np.array([r[0] for r in seed_rows], dtype=np.float64)  # (cells, dim)
    dim = C0.shape[1]
    n_cells_eff = C0.shape[0]

    def lloyd_partials(batches):
        C0n = C0 / np.maximum(np.linalg.norm(C0, axis=1, keepdims=True), 1e-12)
        S = np.zeros((n_cells_eff, dim), dtype=np.float64)
        N = np.zeros(n_cells_eff, dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf["_ivec"].to_numpy()).astype(np.float64)
            Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            # argmax, not argsort[:, 0]: the full row sort is
            # O(cells log cells) per vector plus a (rows x cells)
            # int64 index matrix — at SPANN cell counts
            # (n_cells = N/64, 15,625 at 1M vectors) that sort WAS
            # the training wall-clock. argmax is O(cells), allocates
            # nothing, and under ties is the deterministic first-max
            # (unstable argsort was arbitrary there). The matmul runs
            # in row chunks bounding the score matrix at ~256 MB:
            # rows x cells x 8 B is the kernel's only big buffer, and
            # with every core running one (r17 OOM: 32 workers x
            # 1.25 GB + the 48 GB JVM heap exceeded the box).
            step = max(256, (256 << 20) // (8 * max(1, n_cells_eff)))
            for s0 in range(0, len(V), step):
                cell = np.argmax(Vn[s0:s0 + step] @ C0n.T, axis=1)
                np.add.at(S, cell, V[s0:s0 + step])
                np.add.at(N, cell, 1)
        hit = np.nonzero(N)[0]
        if len(hit):
            yield pd.DataFrame(
                {"_cell": hit.astype("int32"),
                 "_s": list(S[hit]),
                 "_n": N[hit]}
            )

    merged = (
        base.select("_ivec")
        .mapInPandas(lloyd_partials, "_cell int, _s array<double>, _n bigint")
        .select("_cell", "_n", F.posexplode("_s").alias("_p", "_v"))
        .groupBy("_cell", "_p")
        .agg(F.sum("_v").alias("_sv"), F.sum("_n").alias("_nn"))
        .collect()
    )
    S = np.zeros((n_cells_eff, dim), dtype=np.float64)
    N = np.zeros(n_cells_eff, dtype=np.int64)
    for r in merged:
        S[r["_cell"], r["_p"]] = r["_sv"]
        if r["_p"] == 0:
            N[r["_cell"]] = r["_nn"]
    return np.where((N > 0)[:, None], S / np.maximum(N, 1)[:, None], C0)


def _corpus_checkpoint(
    items: DataFrame, id_col: str, vec_col: str
) -> tuple[DataFrame, DataFrame]:
    """The trained tiers' corpus: the raw ``(item_id, _ivec)`` projection
    and its balanced, lineage-checkpointed materialization. Training and
    the encode/assignment pass both read the checkpoint, so the corpus
    crosses the Arrow boundary from storage once (not once per pass,
    each re-paying the small-file repartition); the raw projection is
    the trainers' ``seed_frame``, whose seed limit pushes into the
    parquet scan instead of materializing the checkpoint's shuffle."""
    proj = items.select(
        F.col(id_col).alias("item_id"), F.col(vec_col).alias("_ivec")
    )
    return proj, ensure_parallelism(proj).transform(lineage_checkpoint)


def _ivf_route(
    base: DataFrame,
    seed_frame: DataFrame,
    n_cells: int,
    n_probe: int,
    vec_col: str,
) -> tuple[Column, Column]:
    """The one IVF router: train the coarse quantizer on ``base``
    (:func:`_ivf_train`), then return its two routing expressions — the
    home cell of a corpus row's ``_ivec`` and the exploded ``n_probe``
    nearest cells of a query row's ``vec_col``. Candidates are then one
    equi-join on the cell id; the (n_cells x dim) centroid matrix rides
    both UDF closures, so nothing corpus-sized is broadcast."""
    C = _ivf_train(base, n_cells, seed_frame=seed_frame)
    home = _assign_udf(C, 1)(F.col("_ivec"))[0]
    probes = F.explode(_assign_udf(C, n_probe)(F.col(vec_col)))
    return home, probes


def ivf_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k via an IVF (inverted-file) coarse index: partition
    the corpus into ``n_cells`` Voronoi cells around centroid vectors,
    route each query to its ``n_probe`` nearest cells, re-rank exactly
    inside the probed cells only.

    Centroids: the ``n_cells`` lowest-id corpus vectors refined by one
    distributed Lloyd iteration (assign + per-cell mean) — deterministic,
    no RNG, and the only driver materialization is the (n_cells x dim)
    centroid matrix, which then ships broadcast inside the assignment UDF.
    At 100 TB the corpus is scanned from storage ONCE (the base frame is
    locally checkpointed, so the Lloyd pass and the final assignment read
    the same materialization), and the Lloyd statistics are per-batch
    partial sums computed inside a single ``mapInPandas`` pass — each
    task emits at most ``n_cells`` (cell, sum-vector, count) rows, so
    nothing corpus-sized ever shuffles or reaches the driver. Each query
    then touches ~n_probe/n_cells of the data — the same recall/cost dial
    as FAISS IVF-Flat, expressed as one equi-join on cell id.
    """
    proj, base = _corpus_checkpoint(items, id_col, vec_col)
    home, probes = _ivf_route(base, proj, n_cells, n_probe, vec_col)

    it = base.withColumn("_cell", home)
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        probes.alias("_cell"),
    )
    cand = (
        it.join(F.broadcast(q), "_cell")
        .filter(F.col("item_id") != F.col(query_id_col))
        .select(query_id_col, "item_id", "_ivec", "_qvec")
    )
    scored = cand.select(
        query_id_col,
        "item_id",
        cosine_similarity(F.col("_ivec"), F.col("_qvec")).alias("score"),
    )
    return _top_k(scored, k, query_id_col, "score").select(
        query_id_col, "item_id", "rank", "score"
    )


def filtered_ivf_topk(
    items: DataFrame,
    queries: DataFrame,
    predicate: Column,
    k: int,
    n_cells: int = 16,
    n_probe: int = 6,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """FILTERED ANN — approximate top-k restricted to items satisfying a
    metadata ``predicate`` — the production retrieval shape (tenant /
    language / licence / date filters on a vector index) that a plain
    ANN operator can't serve: post-filtering the top-k starves the
    result when the filter is selective, and building one index per
    predicate is a non-starter.

    Design (the FAISS/Vespa "single shared index, filter at scan"
    strategy): the coarse quantizer trains on the FULL corpus —
    the index is built once and shared across every predicate — while
    the predicate is applied to the item stream AT THE SOURCE, so
    Catalyst pushes it down to the corpus scan (selective filters
    shrink the candidate side for free) and each query still touches
    only its ``n_probe`` cells. ``n_probe`` defaults higher than the
    unfiltered tier (6 vs 4): a selective filter can empty a probed
    cell, so widening the probe set is the recall dial, not a bigger k.

    Scale shape: two single-consumer corpus scans — the Lloyd training
    pass reads the full 2-column projection, the assignment pass reads
    the FILTERED projection with the predicate pushed into the parquet
    scan (r13 ADVICE fix: the previous shared localCheckpoint was a
    lineage barrier, so the full corpus materialized before the filter
    could prune) — map-side partial Lloyd statistics, candidates via
    ONE equi-join on cell id with the |Q| x n_probe query side
    broadcast. Nothing corpus-sized shuffles; the filter only ever
    REDUCES the candidate volume.

    Approximation contract: engine-specific candidates, so surfaces
    ride :func:`ann_with_recall_check` against the exact FILTERED
    brute-force top-k (emitted rows exact + per-query recall_ok).
    """
    proj = items.select(
        F.col(id_col).alias("item_id"), F.col(vec_col).alias("_ivec")
    )
    # index trains on the FULL corpus (shared across predicates); its
    # pass is single-consumer so it scans storage directly — no
    # checkpoint, which would block the item-stream pushdown below
    home, probes = _ivf_route(
        ensure_parallelism(proj), proj, n_cells, n_probe, vec_col
    )
    kept = items.filter(predicate.cast("boolean")).select(
        F.col(id_col).alias("item_id"), F.col(vec_col).alias("_ivec")
    )
    it = ensure_parallelism(kept).withColumn("_cell", home)
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        probes.alias("_cell"),
    )
    scored = (
        it.join(F.broadcast(q), "_cell")
        .filter(F.col("item_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "item_id",
            cosine_similarity(F.col("_ivec"), F.col("_qvec")).alias(
                "score"
            ),
        )
    )
    return _top_k(scored, k, query_id_col, "score").select(
        query_id_col, "item_id", "rank", "score"
    )


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int,
    n_cells: int | None = None,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    target_occupancy: int = 64,
    salt_rows: int = 4096,
) -> DataFrame:
    """k-NN JOIN — for EVERY left row, its top-k cosine neighbors among
    the right rows — the all-rows companion of the per-query ANN tiers
    (s1-s16 serve a handful of broadcast queries; label propagation,
    kNN classification, cross-corpus linkage and graph construction
    need the full |L| x k edge set, where the query side is itself
    corpus-sized and can never broadcast).

    Design: one shared IVF coarse quantizer trained on the RIGHT side,
    both sides cell-assigned in map-only Arrow passes (right rows to
    their 1 home cell, left rows to their ``n_probe`` nearest cells),
    then candidates come from ONE symmetric equi-join on cell id — the
    blocked-join pattern every scalable kNN-join system (Voronoi /
    pivot-based partitioning in the literature) reduces to. Exact
    re-rank inside the blocks, per-left-row window top-k.

    Scale shape: NO broadcast of either corpus — the only broadcasts
    are the (n_cells x dim) centroid matrix inside the assignment UDF
    and the (tiny, hot-cells-only) salt-factor frame; the candidate
    stage is shuffle-partitioned by cell id, candidate volume is
    |L| * n_probe * (|R| / n_cells) in expectation, and the window is
    partitioned per left row — never global. This is the operator
    whose brute-force form is the |L| x |R| cross join that nothing
    survives at 100 TB.

    Hot-cell bound (r13 ADVICE fix): candidates flow through a
    ``groupBy(cell)`` + ``applyInPandas`` kernel, and a GROUP cannot be
    split by AQE — a hot cell (its occupancy plus every left probe
    routed to it; likely with clustered embeddings) would materialize
    as ONE pandas frame on one task, an OOM the row-chunking alone
    does not bound. So both sides are count-salted first: per-cell
    probe/occupancy counts (two map-side-combined aggregates whose
    shuffle carries n_cells rows) derive per-cell split factors
    ``nl = ceil(left_probes / salt_rows)`` and ``nr = ceil(occupancy /
    salt_rows)``; left rows hash into one of ``nl`` salts and
    replicate across the ``nr`` right blocks, right rows vice versa,
    and the kernel groups on (cell, lsalt, rblock) — every group is
    ~2*salt_rows vectors IN EXPECTATION (rows land on salts via
    ``pmod(xxhash64(id), n)``, so the bound is hash-uniformity, not a
    hard cap; a round-robin row_number split would harden it at the
    cost of an extra per-cell sort). Only cells beyond ``salt_rows`` appear in
    the (broadcast) salt frame, so the normal-cell path pays nothing.
    Results are IDENTICAL to the unsalted plan: a candidate pair meets
    in exactly the (lsalt(left), rblock(right)) group of each shared
    cell, per-group top-k can only drop pairs that per-cell top-k
    would also drop, and the existing groupBy(left_id, item_id) max
    merge dedups multi-cell meetings either way.

    Cell-count contract (the op:semdedup_sqrtn lesson, re-learned by
    this operator's own scale gate): a FIXED ``n_cells`` makes the
    candidate volume quadratic in the corpus (|R|/n_cells grows
    linearly and |L| does too — the first gate run measured exactly
    that). The default derives cells from ``target_occupancy``:
    ``n_cells = max(16, |R| // target_occupancy)``, so cells stay
    ~occupancy wide and candidate volume is |L| * n_probe * occupancy
    — LINEAR in data at fixed probe count. The trade is that a fixed
    ``n_probe`` covers a shrinking fraction of cells as the corpus
    grows, so measured recall decays with scale (the dial every
    bounded-occupancy tier rides — raise n_probe, or serve from the
    s16 graph walk, when the envelope matters more than cost); pass
    an explicit ``n_cells`` to pin the geometry instead.

    Approximation contract: engine-specific candidate sets —
    production surfaces emit the exact brute-force top-k plus
    per-left-row recall envelopes via :func:`ann_with_recall_check`
    (the left side plays the query role).
    """
    rp, rbase = _corpus_checkpoint(right, id_col, vec_col)
    if n_cells is None:
        # bounded-occupancy cells: the linear-volume production default
        n_cells = max(16, rbase.count() // target_occupancy)
    home, probes = _ivf_route(rbase, rp, n_cells, n_probe, vec_col)
    rt = rbase.withColumn("_cell", home)
    lt = left.select(
        F.col(id_col).alias("left_id"),
        F.col(vec_col).alias("_qvec"),
        probes.alias("_cell"),
    )

    # Per-cell Arrow kernel instead of per-pair JVM cosine folds (the
    # d28 lesson, re-applied: ~6 us/pair through zip_with+aggregate vs
    # one numpy matmul per cell) — AND a per-cell top-k pre-reduction,
    # so the global window sees <= |L| * n_probe * k rows instead of
    # the full |L| * n_probe * occupancy candidate volume.
    def cell_topk(pdf: pd.DataFrame) -> pd.DataFrame:
        lm = pdf["_side"].to_numpy() == 0
        if not lm.any() or lm.all():
            return pd.DataFrame(
                {"left_id": pd.Series(dtype="int64"),
                 "item_id": pd.Series(dtype="int64"),
                 "score": pd.Series(dtype="float64")}
            )
        L = np.stack(pdf["_v"].to_numpy()[lm]).astype(np.float64)
        R = np.stack(pdf["_v"].to_numpy()[~lm]).astype(np.float64)
        lid = pdf["_id"].to_numpy()[lm]
        rid = pdf["_id"].to_numpy()[~lm]
        Ln = L / np.maximum(np.linalg.norm(L, axis=1, keepdims=True), 1e-300)
        Rn = R / np.maximum(np.linalg.norm(R, axis=1, keepdims=True), 1e-300)
        kk = min(k, Rn.shape[0])
        outs = []
        # row-chunk the score tile (the d28 chunking): a hot cell can
        # attract many left probes, and chunk x occupancy stays bounded
        # where a full a x b tile would not
        for lo in range(0, len(Ln), 1024):
            hi = min(lo + 1024, len(Ln))
            S = Ln[lo:hi] @ Rn.T  # (chunk, b)
            S[lid[lo:hi, None] == rid[None, :]] = -np.inf  # no self-pairs
            # per-left top-k by (score desc, item_id asc): lexsort on
            # the composite (-score, rid) per row
            order = np.lexsort(
                (rid[None, :].repeat(hi - lo, 0), -S), axis=1
            )
            top = order[:, :kk]
            outs.append(
                pd.DataFrame(
                    {
                        "left_id": np.repeat(lid[lo:hi], kk),
                        "item_id": rid[top].ravel(),
                        "score": np.take_along_axis(S, top, axis=1).ravel(),
                    }
                )
            )
        return pd.concat(outs, ignore_index=True)

    both = lt.select(
        "_cell",
        F.col("left_id").alias("_id"),
        F.col("_qvec").cast("array<double>").alias("_v"),
        F.lit(0).alias("_side"),
    ).unionByName(
        rt.select(
            "_cell",
            F.col("item_id").alias("_id"),
            F.col("_ivec").cast("array<double>").alias("_v"),
            F.lit(1).alias("_side"),
        )
    )
    # consumers: the per-cell counts and the salted kernel input — one
    # materialization instead of re-running both assignment passes
    both = both.transform(lineage_checkpoint)
    # hot cells only: per-cell split factors; shuffle carries n_cells
    # count rows (map-side combine), the surviving frame is tiny
    salts = (
        both.groupBy("_cell")
        .agg(
            F.count(F.when(F.col("_side") == 0, 1)).alias("_lc"),
            F.count(F.when(F.col("_side") == 1, 1)).alias("_rc"),
        )
        .filter(
            (F.col("_lc") > salt_rows) | (F.col("_rc") > salt_rows)
        )
        .select(
            "_cell",
            F.ceil(F.col("_lc") / salt_rows).cast("int").alias("_nl"),
            F.ceil(F.col("_rc") / salt_rows).cast("int").alias("_nr"),
        )
    )
    salted = (
        both.join(F.broadcast(salts), "_cell", "left")
        .withColumn("_nl", F.coalesce("_nl", F.lit(1)))
        .withColumn("_nr", F.coalesce("_nr", F.lit(1)))
        # own salt by id hash; replicate across the other side's blocks
        .withColumn(
            "_my",
            F.pmod(
                F.xxhash64("_id"),
                F.when(F.col("_side") == 0, F.col("_nl")).otherwise(
                    F.col("_nr")
                ),
            ).cast("int"),
        )
        .withColumn(
            "_ot",
            F.explode(
                F.sequence(
                    F.lit(0),
                    F.when(F.col("_side") == 0, F.col("_nr")).otherwise(
                        F.col("_nl")
                    )
                    - F.lit(1),
                )
            ),
        )
        .select(
            "_cell",
            "_id",
            "_v",
            "_side",
            F.when(F.col("_side") == 0, F.col("_my"))
            .otherwise(F.col("_ot"))
            .alias("_ls"),
            F.when(F.col("_side") == 0, F.col("_ot"))
            .otherwise(F.col("_my"))
            .alias("_rb"),
        )
    )
    scored = (
        salted.groupBy("_cell", "_ls", "_rb")
        .applyInPandas(
            cell_topk, "left_id bigint, item_id bigint, score double"
        )
        .filter(~F.col("score").eqNullSafe(float("-inf")))
    )
    merged = scored.groupBy("left_id", "item_id").agg(
        F.max("score").alias("score")  # a pair can meet in 2 cells
    )
    return _top_k(merged, k, "left_id", "score").select(
        "left_id", "item_id", "rank", "score"
    )


def label_centroids(
    df: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label element-wise centroid of an embedding column — the
    training step of every coarse quantizer in this module (IVF cell
    means, SemDeDup cluster centers), exposed as its own operator.

    Exactness contract: each element is floor-quantized to integer
    micro-units BEFORE any cross-row sum (float -> double cast, one
    double multiply, one floor — identical IEEE ops in any engine), so
    sums and the final truncating integer division are order-free and
    engine-neutral at any parallelism.

    Plan shape: posexplode + one hash aggregate on (label, pos) — with
    map-side partial combine the shuffle carries labels x dim rows per
    partition, not corpus x dim.
    """
    e = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "_v"),
    )
    micro = F.floor(F.col("_v").cast("double") * 1_000_000).cast("bigint")
    return (
        e.select("label", "pos", micro.alias("_m"))
        .groupBy("label", "pos")
        .agg(
            F.sum("_m").alias("sum_micro"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "label",
            "pos",
            "sum_micro",
            "n",
            F.expr("sum_micro div n").alias("centroid_micro"),
        )
    )


def _pq_train(
    base: DataFrame,
    m: int,
    ks: int,
    dim: int,
    vec_col: str = "_ivec",
    seed_frame: DataFrame | None = None,
) -> np.ndarray:
    """Train per-subspace PQ codebooks: deterministic seeds (the ``ks``
    lowest-id vectors' subvectors) refined by one distributed Lloyd step.

    The Lloyd statistics for ALL ``m`` subspaces are partial sums from a
    single ``mapInPandas`` pass over the (already checkpointed) corpus —
    each task emits at most ``m * ks`` (subspace, cell, sum, count)
    rows — merged by a distributed ``groupBy(subspace, cell, pos)``
    aggregate so the driver materializes exactly ``m * ks * (dim/m)``
    scalar rows regardless of task count (same scale shape as
    :func:`_ivf_train`). ``seed_frame`` as in :func:`_ivf_train`: a
    cheaper same-rows frame for the pushed-limit seed scan.
    """
    sub = dim // m
    seeds = seed_frame if seed_frame is not None else base
    seed_rows = seeds.orderBy("item_id").limit(ks).select(vec_col).collect()
    if len(seed_rows) < ks:
        raise ValueError(
            f"PQ training needs at least ks={ks} corpus vectors for the "
            f"deterministic seed; got {len(seed_rows)}. Lower ks or grow "
            "the corpus."
        )
    S0 = np.array([r[0] for r in seed_rows], dtype=np.float64)  # (ks, dim)
    S0 = S0 / np.maximum(np.linalg.norm(S0, axis=1, keepdims=True), 1e-12)
    C0 = S0.reshape(ks, m, sub).transpose(1, 0, 2).copy()  # (m, ks, sub)

    def partials(batches):
        S = np.zeros((m, ks, sub), dtype=np.float64)
        N = np.zeros((m, ks), dtype=np.int64)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            V = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            Vs = V.reshape(len(V), m, sub)
            for j in range(m):
                d = ((Vs[:, j, None, :] - C0[j][None, :, :]) ** 2).sum(axis=2)
                cell = np.argmin(d, axis=1)
                np.add.at(S[j], cell, Vs[:, j])
                np.add.at(N[j], cell, 1)
        hit_j, hit_c = np.nonzero(N)
        if len(hit_j):
            yield pd.DataFrame(
                {
                    "_j": hit_j.astype("int32"),
                    "_c": hit_c.astype("int32"),
                    "_s": [S[a, b] for a, b in zip(hit_j, hit_c)],
                    "_n": N[hit_j, hit_c],
                }
            )

    rows = (
        base.select(vec_col)
        .mapInPandas(partials, "_j int, _c int, _s array<double>, _n bigint")
        .select("_j", "_c", "_n", F.posexplode("_s").alias("_p", "_v"))
        .groupBy("_j", "_c", "_p")
        .agg(F.sum("_v").alias("_sv"), F.sum("_n").alias("_nn"))
        .collect()
    )
    S = np.zeros((m, ks, sub), dtype=np.float64)
    N = np.zeros((m, ks), dtype=np.int64)
    for r in rows:
        S[r["_j"], r["_c"], r["_p"]] = r["_sv"]
        if r["_p"] == 0:
            N[r["_j"], r["_c"]] = r["_nn"]
    return np.where((N > 0)[..., None], S / np.maximum(N, 1)[..., None], C0)


def _pq_encode_udf(C: np.ndarray, m: int, sub: int):
    """Pandas UDF: L2-normalize, split into ``m`` subvectors, emit the
    nearest-codebook-centroid index per subspace (the m-byte PQ code)."""

    @F.pandas_udf("array<int>")
    def udf(vecs: pd.Series) -> pd.Series:
        V = np.stack(vecs.to_numpy()).astype(np.float64)
        V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        Vs = V.reshape(len(V), m, sub)
        codes = np.empty((len(V), m), dtype=np.int32)
        for j in range(m):
            d = ((Vs[:, j, None, :] - C[j][None, :, :]) ** 2).sum(axis=2)
            codes[:, j] = np.argmin(d, axis=1)
        return pd.Series(list(codes))

    return udf


def _pq_lut_udf(C: np.ndarray, m: int, sub: int):
    """Pandas UDF: per-query ADC lookup table — (m x ks) inner products
    of the normalized query subvectors against every codebook centroid."""

    @F.pandas_udf("array<array<double>>")
    def udf(vecs: pd.Series) -> pd.Series:
        V = np.stack(vecs.to_numpy()).astype(np.float64)
        V = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        Vs = V.reshape(len(V), m, sub)
        out = []
        for i in range(len(V)):
            out.append([list(Vs[i, j] @ C[j].T) for j in range(m)])
        return pd.Series(out)

    return udf


def pq_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Approximate top-k via product quantization + asymmetric distance
    computation (ADC) — the memory-compression tier of the ANN family
    (Jegou et al., "Product Quantization for Nearest Neighbor Search",
    TPAMI 2011): each L2-normalized corpus vector is stored as ``m``
    one-byte codes (its nearest codebook centroid per subspace), and a
    query scores a code sequence as the SUM OF LOOKUP-TABLE entries
    (q_sub . centroid) — approximate cosine without touching the
    original vectors.

    Scale shape (the point of PQ at 100 TB): after the one-off encode
    pass, the scan state per vector is ``m`` bytes instead of
    ``dim * 4`` — a 32x compression at dim=64/m=8 — so the re-rank scan
    is bandwidth-, not capacity-, bound; the per-query LUT
    (m x ks doubles) ships broadcast with each query row and the ADC sum
    runs JVM-side as an ``aggregate`` over the code array (no Python in
    the scoring hot path; whole-stage codegen). Corpus is scanned once
    for training and once for encoding (shared localCheckpoint). In
    production this tier composes with IVF cell routing (s3) to prune
    the scan; here it scans all codes so the recall contract is purely
    about quantization error.
    """
    proj, base = _corpus_checkpoint(items, id_col, vec_col)
    dim = len(proj.select("_ivec").first()[0])
    if dim % m != 0:
        raise ValueError(
            f"PQ requires the embedding dimension to split evenly into "
            f"subspaces: dim={dim} is not divisible by m={m}. Pick m from "
            f"the divisors of {dim}."
        )
    sub = dim // m
    C = _pq_train(base, m, ks, dim, seed_frame=proj)  # (m, ks, sub)

    coded = base.select(
        "item_id", _pq_encode_udf(C, m, sub)(F.col("_ivec")).alias("_codes")
    )
    q = queries.select(
        F.col(query_id_col), _pq_lut_udf(C, m, sub)(F.col(vec_col)).alias("_lut")
    )
    scored = (
        coded.crossJoin(F.broadcast(q))
        .filter(F.col("item_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "item_id",
            F.aggregate(
                F.sequence(F.lit(0), F.lit(m - 1)),
                F.lit(0.0),
                lambda acc, j: acc + F.col("_lut")[j][F.col("_codes")[j]],
            ).alias("score"),
        )
    )
    return _top_k(scored, k, query_id_col, "score").select(
        query_id_col, "item_id", "rank", "score"
    )


def pq_refine_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int,
    shortlist: int = 100,
    m: int = 8,
    ks: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ-ADC shortlist + exact refine — the full production two-stage
    retrieval: stage 1 scans the m-byte PQ codes (32x smaller than the
    raw vectors at dim=64/m=8) and keeps the top ``shortlist``
    candidates per query by approximate ADC score; stage 2 re-ranks
    ONLY those candidates with the exact cosine against the original
    vectors (an equi-join on item id moving shortlist x Q rows — never
    corpus-sized). Measured at sf0.01: the ADC top-100 shortlist
    contains 90% of the true cosine top-10 on near-random synthetic
    embeddings (a worst case for quantization; clustered real
    embeddings quantize far better)."""
    cand = pq_topk(
        items, queries, shortlist, m=m, ks=ks,
        id_col=id_col, vec_col=vec_col, query_id_col=query_id_col,
    ).select(query_id_col, "item_id")
    vecs = items.select(
        F.col(id_col).alias("item_id"), F.col(vec_col).alias("_ivec")
    )
    q = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
    return _exact_refine(vecs, cand, q, k, query_id_col, "_ivec")


def sq_refine_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Scalar-quantization (SQ8) two-stage retrieval — the third
    compression tier of the ANN family next to PQ (:func:`pq_refine_topk`)
    and IVF-PQ (:func:`ivf_pq_topk`); the FAISS IndexScalarQuantizer
    shape. Every coordinate is quantized to an 8-bit code against the
    GLOBAL [min, max] corpus range, so unlike PQ the codebook is
    closed-form: the only trained statistics are two scalars from one
    corpus aggregate — no k-means pass, no codebook broadcast.

    Stage 1 scans only (id, 8-bit codes, reconstructed norm) — 4x
    smaller than the float32 vectors — scoring every candidate with
    the asymmetric reconstructed cosine (full-precision query x
    dequantized item; a JVM-side ``aggregate(zip_with(...))``, zero
    Python in the hot path). Stage 2 re-ranks the per-query top
    ``shortlist`` with the exact cosine against the original vectors
    (broadcast equi-join moving shortlist x Q rows, never
    corpus-sized). Per-coordinate quantization error is bounded by
    (max-min)/510, so SQ8 recall sits far above PQ's — the standard
    memory/recall middle tier at 4x (vs 32x) compression."""
    proj = items.select(
        F.col(id_col).alias("item_id"),
        F.col(vec_col).cast("array<double>").alias("_ivec"),
    )
    base = ensure_parallelism(proj).transform(lineage_checkpoint)
    lo, hi = base.agg(
        F.min(F.array_min("_ivec")), F.max(F.array_max("_ivec"))
    ).first()
    if not (hi > lo):
        raise ValueError(
            f"SQ8 needs a non-degenerate value range; got [{lo}, {hi}]."
        )
    delta = (hi - lo) / 255.0
    recon = lambda c: F.lit(lo) + c.cast("double") * F.lit(delta)  # noqa: E731
    coded = base.select(
        "item_id",
        F.transform(
            "_ivec", lambda x: F.round((x - F.lit(lo)) / F.lit(delta)).cast("int")
        ).alias("_codes"),
    ).withColumn(
        "_anorm",
        F.sqrt(
            F.aggregate(
                "_codes", F.lit(0.0), lambda acc, c: acc + recon(c) * recon(c)
            )
        ),
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("_qvec"),
    ).withColumn("_qnorm", _norm(F.col("_qvec")))
    scored = (
        coded.crossJoin(F.broadcast(q))
        .filter(F.col("item_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "item_id",
            (
                F.aggregate(
                    F.zip_with("_codes", "_qvec", lambda c, x: recon(c) * x),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                )
                / (F.col("_anorm") * F.col("_qnorm"))
            ).alias("_adc"),
        )
    )
    cand = _top_k(scored, shortlist, query_id_col, "_adc", "_rk").select(
        query_id_col, "item_id"
    )
    vecs = items.select(
        F.col(id_col).alias("item_id"), F.col(vec_col).alias("_fvec")
    )
    return _exact_refine(vecs, cand, q, k, query_id_col, "_fvec")


def matryoshka_refine_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int,
    prefix_dim: int = 16,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Matryoshka / truncated-dimension two-stage retrieval — the
    dimension-pruning tier of the ANN family next to the code-
    compression tiers (PQ :func:`pq_refine_topk`, SQ8
    :func:`sq_refine_topk`): stage 1 scores every candidate with the
    cosine over only the FIRST ``prefix_dim`` coordinates (MRL-style
    embeddings front-load semantic mass, so the prefix is a usable
    coarse ranker), stage 2 re-ranks the per-query top ``shortlist``
    with the exact full-dimension cosine.

    Scale design: unlike PQ/SQ8 this tier needs NO training pass, no
    codebook, and no Python anywhere — the prefix is ``slice(vec, 1,
    prefix_dim)`` and the scoring is the same JVM-side
    aggregate/zip_with algebra as the exact scan, so the whole coarse
    pass stays inside Catalyst. At 100 TB the stage-1 scan moves
    prefix_dim/dim of the vector bytes (4x fewer at 16/64) and the
    stage-2 join moves shortlist x Q rows, never corpus-sized —
    the cheapest ANN tier to operate because there is nothing to
    retrain when the corpus drifts."""
    pfx = lambda c: F.slice(c, 1, prefix_dim)  # noqa: E731
    q = queries.select(
        F.col(query_id_col),
        F.col(vec_col).alias("_qvec"),
        pfx(F.col(vec_col)).alias("_qpfx"),
    )
    coarse = (
        ensure_parallelism(
            items.select(
                F.col(id_col).alias("item_id"),
                pfx(F.col(vec_col)).alias("_ipfx"),
            )
        )
        .crossJoin(F.broadcast(q.select(query_id_col, "_qpfx")))
        .filter(F.col("item_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "item_id",
            cosine_similarity(F.col("_ipfx"), F.col("_qpfx")).alias("_c"),
        )
    )
    cand = _top_k(coarse, shortlist, query_id_col, "_c", "_rk").select(
        query_id_col, "item_id"
    )
    vecs = items.select(
        F.col(id_col).alias("item_id"), F.col(vec_col).alias("_fvec")
    )
    return _exact_refine(
        vecs, cand, q.select(query_id_col, "_qvec"), k, query_id_col, "_fvec"
    )


def ivf_pq_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int,
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    ks: int = 16,
    shortlist: int = 100,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-routed PQ retrieval — the full FAISS-IVFPQ-shaped production
    composition this module's docstrings promise: the coarse IVF
    quantizer (:func:`_ivf_train`) routes each query to its ``n_probe``
    nearest Voronoi cells, the ADC scan then touches ONLY the m-byte PQ
    codes of items in probed cells (~n_probe/n_cells of the corpus), and
    the exact cosine refine re-ranks the per-query ``shortlist``.

    Scale shape — the two multipliers compound: at dim=64/m=8 the scan
    state is 32x smaller than raw vectors (PQ) AND only
    n_probe/n_cells of it is read per query (IVF), so a 100 TB corpus
    scan becomes ~100TB/32 * 4/16 ≈ 0.8 TB of bandwidth-bound code
    reads per query batch. Plan: one corpus checkpoint feeds IVF
    training, PQ training, and the encode pass (three reads of one
    materialization, zero re-scans of storage); candidates are an
    equi-join on cell id against the broadcast exploded queries; the
    ADC sum is a JVM-side ``aggregate`` over the code array (no Python
    in the scoring hot path); refine moves shortlist x Q rows. Recall
    is the product of the IVF routing recall (s3's dial) and PQ
    quantization recall (s5's dial); the s6 registry tier pins it
    against the exact oracle like s2/s3/s5.
    """
    proj, base = _corpus_checkpoint(items, id_col, vec_col)
    dim = len(proj.select("_ivec").first()[0])
    if dim % m != 0:
        raise ValueError(
            f"PQ requires the embedding dimension to split evenly into "
            f"subspaces: dim={dim} is not divisible by m={m}."
        )
    sub = dim // m
    home, probes = _ivf_route(base, proj, n_cells, n_probe, vec_col)
    C_pq = _pq_train(base, m, ks, dim, seed_frame=proj)  # (m, ks, sub)

    # One encode pass: cell id + PQ codes side by side; original vectors
    # are NOT carried into the scan (that's the point).
    coded = base.select(
        "item_id",
        home.alias("_cell"),
        _pq_encode_udf(C_pq, m, sub)(F.col("_ivec")).alias("_codes"),
    )
    q = queries.select(
        F.col(query_id_col),
        _pq_lut_udf(C_pq, m, sub)(F.col(vec_col)).alias("_lut"),
        probes.alias("_cell"),
    )
    shortlisted = (
        coded.join(F.broadcast(q), "_cell")
        .filter(F.col("item_id") != F.col(query_id_col))
        .select(
            query_id_col,
            "item_id",
            F.aggregate(
                F.sequence(F.lit(0), F.lit(m - 1)),
                F.lit(0.0),
                lambda acc, j: acc + F.col("_lut")[j][F.col("_codes")[j]],
            ).alias("_adc"),
        )
    )
    cand = _top_k(shortlisted, shortlist, query_id_col, "_adc", "_r").select(
        query_id_col, "item_id"
    )
    # exact refine on the shortlist only, against the corpus checkpoint
    qv = queries.select(F.col(query_id_col), F.col(vec_col).alias("_qvec"))
    return _exact_refine(base, cand, qv, k, query_id_col, "_ivec")


def embedding_second_moment(
    df: DataFrame, vec_col: str = "embedding"
) -> DataFrame:
    """Distributed GRAM / second-moment matrix of an embedding column —
    the sufficient statistic for PCA, ZCA whitening, and covariance
    conditioning of a coarse quantizer (the linear-algebra companion of
    :func:`label_centroids`): S[i,j] = sum over vectors of q_i * q_j,
    upper triangle only.

    Exactness contract (the label_centroids one): each ELEMENT is
    floor-quantized to integer micro-units before any product or sum —
    one double cast, one multiply, one floor, then pure integer
    arithmetic — so the result is order-free and engine-neutral at any
    parallelism, and an SQL oracle replays it exactly.

    Plan shape — the map-side matrix-partial pattern: an Arrow-batched
    kernel reduces each batch to ONE d x d int64 partial (numpy integer
    matmul q^T q, exact) plus its row count; the shuffle then carries
    partials*d^2 rows into a final (i, j) hash-agg — never corpus x d^2.
    At 10^10+ vectors the per-pair sums need decimal widening (q^2 is
    ~10^12 per vector); the final agg here keeps bigint, sized for
    ~10^6-vector corpora per the testdata contract — widen the agg to
    decimal(38,0) when deploying against a full crawl. Returns
    (dim_i, dim_j, smoment_q, n_vectors) with i <= j."""
    return gram_partials(df, vec_col).groupBy("dim_i", "dim_j").agg(
        F.sum("smoment_q").alias("smoment_q"),
        F.sum("n_vectors").alias("n_vectors"),
    )


def gram_partials(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """The un-merged map side of :func:`embedding_second_moment`: one
    d x d int64 partial per Arrow batch, as (dim_i, dim_j, smoment_q,
    n_vectors) rows with i <= j. Pure integer and associative, so any
    regrouping — another hash-agg, or a streaming foreachBatch fold —
    merges partials into the exact corpus statistic."""
    src = ensure_parallelism(df.select(F.col(vec_col).alias("_v")))

    def kernel(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            arr = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            q = np.floor(arr * 1_000_000).astype(np.int64)
            part = q.T @ q
            d = part.shape[0]
            iu, ju = np.triu_indices(d)
            yield pd.DataFrame(
                {
                    "dim_i": iu.astype(np.int32),
                    "dim_j": ju.astype(np.int32),
                    "smoment_q": part[iu, ju],
                    "n_vectors": np.full(len(iu), len(pdf), dtype=np.int64),
                }
            )

    return src.mapInPandas(
        kernel, "dim_i int, dim_j int, smoment_q bigint, n_vectors bigint"
    )


def mmr_select(
    items: DataFrame,
    query: DataFrame,
    k: int = 8,
    w_rel: int = 7,
    w_div: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance diversified selection: greedily pick
    ``k`` items maximizing ``w_rel * cos(item, query) - w_div *
    max_{s in selected} cos(item, s)`` — the classic
    relevance-vs-redundancy re-ranker (Carbonell & Goldstein) used to
    pick diverse few-shot examples / RAG passages / curation seeds
    from a retrieval shortlist instead of k near-duplicates of the top
    hit. Weights are INTEGERS (w_rel : w_div ~ lambda : 1-lambda) so
    the score arithmetic is two IEEE multiply-adds any engine replays
    identically; ties break on id.

    Greedy is inherently sequential in k, so the loop is driver-side
    over BOUNDED rounds (the t22/g1 iterative contract — the oracle
    unrolls the same rounds), but each round's work is distributed:
    relevance is computed ONCE (checkpointed, reused by every round),
    each round broadcast-joins the <= k selected vectors against the
    remaining candidates (an O(n * |selected|) JVM-side cosine pass,
    no shuffle wider than the candidate pool) and takes the argmax via
    TakeOrdered. ``items`` is the SHORTLIST an ANN tier produced
    (s1/s2/s3...), not the corpus — MMR over 100 TB is always
    rerank-after-retrieve.
    """
    q = query.select(F.col(vec_col).alias("_qvec"))
    cand = (
        items.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_vec"))
        .crossJoin(F.broadcast(q))
        .select(
            "_id",
            "_vec",
            cosine_similarity(F.col("_vec"), F.col("_qvec")).alias("_rel"),
        )
        .transform(lineage_checkpoint)  # reused by every round
    )
    selected: DataFrame | None = None
    for step in range(1, k + 1):
        if selected is None:
            pick = (
                cand.orderBy(F.col("_rel").desc(), F.col("_id").asc())
                .limit(1)
                .select(F.lit(step).alias("step"), "_id", "_vec")
            )
        else:
            s = selected.select(F.col("_vec").alias("_svec"))
            remaining = cand.join(
                selected.select("_id"), "_id", "left_anti"
            )
            maxsim = (
                remaining.crossJoin(F.broadcast(s))
                .select(
                    "_id",
                    cosine_similarity(
                        F.col("_vec"), F.col("_svec")
                    ).alias("_sim"),
                )
                .groupBy("_id")
                .agg(F.max("_sim").alias("_maxsim"))
            )
            pick = (
                remaining.join(maxsim, "_id")
                .withColumn(
                    "_score",
                    F.lit(float(w_rel)) * F.col("_rel")
                    - F.lit(float(w_div)) * F.col("_maxsim"),
                )
                .orderBy(F.col("_score").desc(), F.col("_id").asc())
                .limit(1)
                .select(F.lit(step).alias("step"), "_id", "_vec")
            )
        pick = pick.transform(lineage_checkpoint)  # flat lineage per round
        selected = pick if selected is None else selected.unionAll(pick)
    assert selected is not None
    return selected.select(
        F.col("step").cast("int").alias("step"),
        F.col("_id").alias(id_col),
    ).orderBy("step")


def _quantize_expr(vec_col: str, scale: int) -> Column:
    """Milli-quantization ``floor(x * scale)`` as int64 — exact on IEEE
    doubles for these magnitudes; shared by every exact-integer
    clustering tier so the grid is identical everywhere."""
    return F.transform(
        F.col(vec_col),
        lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast("long"),
    )


def _argmin_struct_key(centroids: list) -> Column:
    """Broadcast-literal exact argmin over ``_qv`` against integer
    centroids: ``array_min`` over ``struct(dist, cid)`` — structs
    compare lexicographically, so ties break toward the LOWER centroid
    id, with NO packing factor (this replaced the historical
    ``dist * 16 + cid`` int key, which capped k at 16 and recovered
    dist_q with an IEEE double division). Arbitrary k; both fields
    stay int64/int end-to-end. The k x dim centroid matrix folds into
    the plan as array literals — plan size grows O(k * dim), which is
    the practical bound on this path; beyond ``_LITERAL_ASSIGN_MAX_K``
    cells :func:`_assign_frame` takes the Arrow kernel instead."""
    return F.array_min(_dist_struct_array(centroids))


def _dist_struct_array(centroids: list) -> Column:
    """Array of ``struct(d: int64 squared distance, c: centroid id)``
    over ``_qv`` — ``array_min`` of it is the Lloyd argmin
    (:func:`_argmin_struct_key`); ``array_sort`` of it additionally
    yields the second-closest centroid (:func:`kmeans_silhouette`)."""

    def _dist_expr(cvec) -> Column:
        carr = F.array(*[F.lit(int(v)) for v in cvec])
        return F.aggregate(
            F.zip_with(F.col("_qv"), carr, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    return F.array(
        *[
            F.struct(
                _dist_expr(cvec).alias("d"),
                F.lit(cid).cast("int").alias("c"),
            )
            for cid, cvec in enumerate(centroids)
        ]
    )


def _assign_exact_udf(centroids: list):
    """Arrow-batched exact-integer argmin against int64-quantized
    centroids — the SAME semantics as :func:`_argmin_struct_key`
    (int64 squared distance, ties break toward the lower centroid id
    via numpy argmin's first-occurrence rule), bit for bit, but the
    centroid matrix rides the UDF closure instead of the plan, so k
    can reach the SemDeDup paper's k ~ sqrt(N) (thousands of cells)
    without exploding codegen. All arithmetic is int64 end-to-end
    (|v|^2 - 2 v.c + |c|^2 with an integer matmul) — no float fold,
    no 2^53 caveat. Returns struct<cluster:int, dist_q:long,
    dist2_q:long>: ``dist2_q`` is the min distance to any OTHER
    centroid, the simplified-silhouette input of
    :func:`kmeans_silhouette` (int64 max when k = 1)."""
    C = np.asarray(centroids, dtype=np.int64)  # (k, dim)
    c2 = np.einsum("ij,ij->i", C, C)  # (k,) int64

    @F.pandas_udf("struct<cluster:int, dist_q:bigint, dist2_q:bigint>")
    def udf(qv: pd.Series) -> pd.DataFrame:
        if len(qv) == 0:
            return pd.DataFrame({"cluster": [], "dist_q": [], "dist2_q": []})
        V = np.stack(qv.to_numpy()).astype(np.int64)  # (rows, dim)
        v2 = np.einsum("ij,ij->i", V, V)  # (rows,) int64
        d = v2[:, None] - 2 * (V @ C.T) + c2[None, :]  # (rows, k) int64
        rows = np.arange(len(v2))
        cid = np.argmin(d, axis=1)  # first occurrence = lowest cid
        a = d[rows, cid].copy()
        d[rows, cid] = np.iinfo(np.int64).max
        return pd.DataFrame(
            {
                "cluster": cid.astype(np.int32),
                "dist_q": a,
                "dist2_q": d.min(axis=1),
            }
        )

    return udf


_LITERAL_ASSIGN_MAX_K = 32


def kmeans_lloyd(
    df: DataFrame,
    k: int = 8,
    n_rounds: int = 3,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Distributed Lloyd k-means with EXACT integer semantics — the
    oracle-checkable clustering tier next to the float codebook
    trainers (:func:`_ivf_train`, :func:`_pq_train`).

    Everything that could drift between engines is pinned to integer
    arithmetic:

    - vectors are milli-quantized up front (``floor(x * scale)`` as
      int64 — exact on IEEE doubles for these magnitudes),
    - squared-Euclidean distances are exact int64 sums,
    - the argmin tiebreak is lexicographic ``(dist, cid)`` — lower
      centroid id wins ties (``array_min`` over ``struct(dist, cid)``
      on the literal path; numpy argmin first-occurrence on the arrow
      path — identical results bit for bit), and
    - centroid updates are element-wise FLOOR division
      ``(sum - pmod(sum, n)) / n`` so centroids remain int64 and the
      whole trajectory is replayable bit for bit (empty clusters keep
      their previous centroid).

    ``k`` picks the physical argmin (:func:`_assign_frame`): up to
    ``_LITERAL_ASSIGN_MAX_K`` = 32 the k x dim centroid matrix folds
    into the plan as array literals (pure codegen, no Python — plan
    grows O(k * dim)); beyond it the matrix ships in a pandas-UDF
    closure (:func:`_assign_exact_udf` — one Arrow pass per round, cost
    flat in k up to thousands of cells, the SemDeDup paper's k ~
    sqrt(N) regime). Both paths are exact-integer and interchangeable —
    the d27 oracle pins the Arrow path to the same DuckDB trajectory as
    the literal tier.

    Scale shape: per round, ONE distributed job — a map-only argmin
    against the k broadcast centroids (no join, no shuffle for
    assignment) followed by a ``groupBy(cid)`` of ``dim`` SUM columns
    (map-side partial combine reduces the exchange to ~k x partitions
    rows); the driver collects exactly k (cid, n, sums...) rows per
    round — the FAISS-style bounded codebook collect, independent of
    corpus size. The quantized frame is lineage-truncated once and
    re-scanned n_rounds+1 times; at 100 TB you'd persist it to
    storage instead, but the per-round plan is already the one you'd
    ship: Lloyd on a 1000-executor cluster IS k broadcast centroids +
    one combine-heavy agg per round. Iterative contract (g1/g4/t22):
    rounds are driver-bounded, the oracle unrolls the same rounds as
    SQL.

    Returns the final assignment under the post-round-``n_rounds``
    centroids: (id_col, cluster, dist_q) — ``dist_q`` the exact
    integer squared distance in quanta^2.
    """
    q, centroids = _lloyd_fit(df, k, n_rounds, scale, id_col, vec_col, dim)
    return _assign_frame(q, centroids, id_col).select(
        F.col(id_col).cast("bigint").alias(id_col),
        "cluster",
        "dist_q",
    )


def _assign_frame(frame: DataFrame, centroids: list, id_col: str) -> DataFrame:
    """One exact-integer argmin pass (the shared Lloyd assignment step):
    the literal struct argmin up to ``_LITERAL_ASSIGN_MAX_K`` centroids,
    the Arrow closure beyond — same bits either way."""
    if len(centroids) > _LITERAL_ASSIGN_MAX_K:
        key = _assign_exact_udf(centroids)(F.col("_qv"))
        return frame.withColumn("_key", key).select(
            id_col,
            "_qv",
            F.col("_key.cluster").alias("cluster"),
            F.col("_key.dist_q").alias("dist_q"),
        )
    key = _argmin_struct_key(centroids)
    return frame.withColumn("_key", key).select(
        id_col,
        "_qv",
        F.col("_key.c").alias("cluster"),
        F.col("_key.d").alias("dist_q"),
    )


def _lloyd_fit(
    df: DataFrame,
    k: int,
    n_rounds: int,
    scale: int,
    id_col: str,
    vec_col: str,
    dim: int,
) -> tuple[DataFrame, list]:
    """The Lloyd training loop shared by :func:`kmeans_lloyd` and
    :func:`kmeans_silhouette`: returns (quantized frame, final integer
    centroids). Trajectory identical to the historical inline loop bit
    for bit (the d25/s9 oracles pin it)."""
    q = df.select(
        F.col(id_col), _quantize_expr(vec_col, scale).alias("_qv")
    ).transform(lineage_checkpoint)

    seed_rows = q.orderBy(id_col).limit(k).collect()  # bounded: k rows
    centroids: list[list[int]] = [
        list(r["_qv"]) for r in sorted(seed_rows, key=lambda r: r[id_col])
    ]

    for _ in range(n_rounds):
        sums = (
            _assign_frame(q, centroids, id_col)
            .groupBy("cluster")
            .agg(
                F.count(F.lit(1)).alias("_n"),
                *[
                    F.sum(F.element_at("_qv", i + 1)).alias(f"_s{i}")
                    for i in range(dim)
                ],
            )
            .collect()  # bounded: k rows of dim+2 scalars
        )
        new = {
            int(r["cluster"]): [
                (int(r[f"_s{i}"]) - (int(r[f"_s{i}"]) % int(r["_n"])))
                // int(r["_n"])
                for i in range(dim)
            ]
            for r in sums
        }
        # Python % matches pmod (non-negative remainder for n > 0), so
        # this floor-div is the same one the oracle replays engine-side.
        centroids = [new.get(c, centroids[c]) for c in range(k)]

    return q, centroids


def kmeans_silhouette(
    df: DataFrame,
    k: int = 8,
    n_rounds: int = 3,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Per-cluster SIMPLIFIED silhouette over the exact-integer Lloyd
    clustering (:func:`kmeans_lloyd` via the shared :func:`_lloyd_fit`
    trajectory): for every vector, ``a`` = squared distance to its own
    centroid, ``b`` = min squared distance to any OTHER centroid, and
    the per-point score is ``(b - a) * 1000 div max(b, 1)`` in exact
    integer milli-units (``b >= a`` always, since the assignment IS the
    argmin, so scores sit in [0, 1000)). This is the centroid-based
    simplification (Hruschka et al.) the full O(N^2) silhouette reduces
    to at corpus scale — the standard "did the clustering separate?"
    gate a SemDeDup/curation pipeline runs before trusting d25's
    blocking.

    Scale shape: identical to one Lloyd round — a MAP-ONLY two-distance
    argmin against the k broadcast centroids (literal struct sort for
    small k, the Arrow closure beyond ``_LITERAL_ASSIGN_MAX_K``)
    followed by ONE combine-heavy groupBy(cluster) of three int64
    aggregates. No joins, no window, no extra shuffle: silhouette at
    100 TB costs exactly one extra assignment pass.

    Returns (cluster, n_points, sum_sil_milli, mean_sil_milli), all
    exact int64 — the oracle replays the trajectory and the floor
    divisions bit for bit.
    """
    if k < 2:
        raise ValueError("silhouette needs k >= 2 (no 'other' centroid at k=1)")
    q, centroids = _lloyd_fit(df, k, n_rounds, scale, id_col, vec_col, dim)
    if len(centroids) > _LITERAL_ASSIGN_MAX_K:
        key = _assign_exact_udf(centroids)(F.col("_qv"))
        two = q.withColumn("_key", key).select(
            F.col("_key.cluster").alias("cluster"),
            F.col("_key.dist_q").alias("_a"),
            F.col("_key.dist2_q").alias("_b"),
        )
    else:
        srt = F.array_sort(_dist_struct_array(centroids))
        two = q.withColumn("_srt", srt).select(
            F.element_at("_srt", 1)["c"].alias("cluster"),
            F.element_at("_srt", 1)["d"].alias("_a"),
            # second element = min over the remaining k-1 structs = min
            # squared distance to any non-assigned centroid
            F.element_at("_srt", 2)["d"].alias("_b"),
        )
    sil = two.select(
        "cluster",
        F.expr("(_b - _a) * 1000 div greatest(_b, 1)").alias("_sil"),
    )
    return sil.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_points"),
        F.sum("_sil").alias("sum_sil_milli"),
    ).select(
        "cluster",
        "n_points",
        "sum_sil_milli",
        F.expr("sum_sil_milli div n_points").alias("mean_sil_milli"),
    )


def assign_to_centroids(
    df: DataFrame,
    centroids: list,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-integer argmin assignment of every vector to the nearest
    INTEGER-QUANTIZED centroid — the :func:`kmeans_lloyd` assignment
    step exposed standalone, so any centroid source (a Lloyd
    trajectory, an IVF-trained codebook quantized onto the same grid,
    a fixed taxonomy) can drive the blocking tiers (e.g.
    operators.dedup.semdedup_from_assignment). Same exact semantics as
    kmeans_lloyd's final assignment: vectors are milli-quantized
    ``floor(x * scale)``, squared-Euclidean distances are exact int64,
    and the argmin tiebreak is lexicographic ``(dist, cid)``. The
    number of centroids picks the physical argmin as in
    :func:`kmeans_lloyd` (literal up to ``_LITERAL_ASSIGN_MAX_K``,
    Arrow beyond). No join, no shuffle either way.
    Returns (id, cluster, dist_q)."""
    q = df.select(
        F.col(id_col), _quantize_expr(vec_col, scale).alias("_qv")
    )
    return _assign_frame(q, centroids, id_col).select(
        F.col(id_col).cast("bigint").alias(id_col), "cluster", "dist_q"
    )


def kcenter_coreset(
    df: DataFrame,
    k: int = 8,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Greedy k-center coreset selection (farthest-point traversal,
    the Gonzalez 2-approximation): pick ``k`` maximally-SPREAD vectors
    — the diversity-based data-pruning primitive (coreset seeding,
    diverse eval-set selection) complementing :func:`mmr_select`
    (which is relevance-anchored to a query; this is metric coverage
    of the whole pool).

    Integer contract (the s9 k-means conventions): milli-quantized
    vectors, exact int64 squared distances, (min-dist DESC, id ASC)
    argmax tiebreak — the full trajectory replays in any engine.

    Distributed shape: the standing state is the (id, qv, min-dist)
    frame — one row per pool vector, lineage-truncated per round.
    Each of the ``k-1`` greedy rounds is ONE map-only pass (distance
    to the newly selected vector folded in as a broadcast-literal
    expression, exactly s9's argmin idiom) plus ONE TakeOrdered(1)
    for the farthest point — a bounded 1-row collect; selected rows
    leave the frame so degenerate duplicate-heavy pools cannot
    re-pick a center. Emits (step, id, radius_q): radius_q is the
    picked point's distance to the prior selection — the k-center
    covering-radius curve, monotonically non-increasing.
    """
    q = df.select(
        F.col(id_col).cast("bigint").alias(id_col),
        F.transform(
            F.col(vec_col),
            lambda x: F.floor(x.cast("double") * F.lit(float(scale))).cast(
                "long"
            ),
        ).alias("_qv"),
    )

    def _dist_to(cvec: list[int]) -> Column:
        carr = F.array(*[F.lit(int(v)) for v in cvec])
        return F.aggregate(
            F.zip_with(F.col("_qv"), carr, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    seed = q.orderBy(id_col).limit(1).collect()[0]  # bounded: 1 row
    picks = [(1, int(seed[id_col]), 0)]
    state = (
        q.filter(F.col(id_col) != int(seed[id_col]))
        .withColumn("_md", _dist_to(list(seed["_qv"])))
        .transform(lineage_checkpoint)
    )
    for step in range(2, k + 1):
        far = state.orderBy(
            F.col("_md").desc(), F.col(id_col).asc()
        ).limit(1).collect()  # bounded: 1 row (TakeOrdered)
        if not far:
            break  # pool exhausted (k > pool size)
        p = far[0]
        picks.append((step, int(p[id_col]), int(p["_md"])))
        state = (
            state.filter(F.col(id_col) != int(p[id_col]))
            .withColumn(
                "_md", F.least(F.col("_md"), _dist_to(list(p["_qv"])))
            )
            .transform(lineage_checkpoint)
        )
    spark = df.sparkSession
    return spark.createDataFrame(
        picks, "step int, " + f"{id_col} bigint, " + "radius_q bigint"
    )


def rrf_fuse(
    ranks_a: DataFrame,
    ranks_b: DataFrame,
    k: int = 10,
    c: int = 60,
    unit: int = 1_000_000_000,
) -> DataFrame:
    """Reciprocal-Rank Fusion of two per-query rank lists (Cormack et
    al.) — the standard hybrid-retrieval merge: each list contributes
    ``unit div (c + rank)`` (EXACT integer division, engine-portable —
    the float 1/(c+r) formulation would hash-drift) and items missing
    from a list contribute 0; final ranking is (fused score DESC, item
    ASC). Both inputs are (query_id, item_id, rank) frames — any
    rankers compose (dense vs lexical, multiple ANN tiers, ...).

    Scale shape: one full-outer join on (query, item) over two
    frames that are already top-k-bounded (queries x k rows each —
    retrieval shortlists, not corpora), then a per-query window top-k.
    The expensive work happened in the upstream rankers; fusion is
    rank algebra only.
    """
    a = ranks_a.select(
        "query_id", "item_id", F.col("rank").cast("long").alias("_ra")
    )
    b = ranks_b.select(
        "query_id", "item_id", F.col("rank").cast("long").alias("_rb")
    )
    j = a.join(b, ["query_id", "item_id"], "full_outer")
    scored = j.select(
        "query_id",
        "item_id",
        (
            F.coalesce(
                F.expr(f"{unit} div ({c} + _ra)"), F.lit(0).cast("long")
            )
            + F.coalesce(
                F.expr(f"{unit} div ({c} + _rb)"), F.lit(0).cast("long")
            )
        ).alias("rrf_score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("item_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= k)
        .select("query_id", "item_id", "rrf_score", "rank")
    )


def nn_descent_knn_graph(
    df: DataFrame,
    k: int = 5,
    n_rounds: int = 2,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: str = "lsh",
    broadcast_vectors: bool | None = None,
) -> DataFrame:
    """Distributed NN-Descent k-NN GRAPH construction (Dong et al.,
    WWW'11) with EXACT integer semantics — the INDEX-BUILD side of the
    ANN family: s2/s3/s5/s6/s8/s11 serve queries against an existing
    layout, while graph-ANN systems (HNSW / DiskANN class) bootstrap
    from exactly this neighbor graph, and NN-Descent is the standard
    distributed way to build it without an N^2 join.

    Deterministic, oracle-replayable algebra (the g1/t22 unrolled-
    rounds contract):

    - vectors ride the d25 milli-quantized grid; dist_q is the exact
      int64 squared Euclidean distance, ordered (dist_q, nbr_id) so
      every top-k cut is total.
    - init (``init="lsh"``, the default since r14): the two id-hash
      families below PLUS two salted families of engine-portable
      sign-LSH cells (md5-parity ±1 planes on the integer grid, the
      st18 cell algebra) with OCCUPANCY-DERIVED plane count
      P = ceil(log2(n / 2(k+1))) — expected occupancy ~2(k+1) at any
      corpus size — and skewed cells sub-bucketed by id to ~4(k+1)
      members, keeping init work linear. Id-hash buckets carry NO
      locality, so with them alone round-0 neighbors are random and a
      driver-bounded descent cannot converge past toy corpora
      (measured edge recall@8 0.375 at 500 vectors, 0.005 at 20k;
      the LSH families lift those to 0.66 and ~0.05 on the ISOTROPIC
      synthetic corpus — see the SCALING.md r14 note on why no ANN
      index does well on structureless data — at equal build cost,
      and 5x edge recall at the registered s12 config, 0.04 -> 0.21).
      ``init="hash2"`` keeps the pre-r14 behavior:
    - id-hash init: TWO overlapping deterministic bucket families with
      B = (N + k) // (k+1) buckets each — ``id % B`` and the
      multiplicative-hash family ``((id % P) * A % P) % B`` with
      A = 2654435761 (Knuth), P = 2147483647 (Mersenne prime; the
      mod-P reduction BEFORE the bucket mod is what mixes — a bare
      ``(id*A) % B`` is a function of ``id % B``, the same partition
      relabeled). Products stay int64-safe and the whole expression
      replays in SQL. Each node's round-0 neighbors are the top-k of
      its two buckets' members. ONE family would be fatally
      degenerate: its buckets are disjoint (k+1)-cliques, and a
      clique is CLOSED under the neighbor-of-neighbor expansion, so
      no number of refinement rounds can ever escape it (measured at
      sf0.01: 0.6% true-5NN edge recall, size-6 components; the
      two-family init measures 0.10 at k=5/2 rounds and 0.43 at
      k=8/3 rounds, fully connected either way). The overlap makes
      candidates cross bucket boundaries so the descent actually
      descends — the deterministic stand-in for the paper's random
      init.
    - round: candidates(u) = { w : w ∈ B(v), v ∈ B(u) } where B(u) is
      u's forward neighbors UNION its reverse neighbors CAPPED at the
      top-k by (dist_q, id) (the rho*k reverse-sample of the paper
      made deterministic — hub in-degrees stay bounded); new
      neighbors = top-k of old ∪ candidates. The local join property
      that makes NN-Descent converge: neighbors-of-neighbors are
      likely neighbors.

    Scale shape: per round, |B| <= 2kN rows, candidate pairs <=
    (2k)^2 N — LINEAR in the corpus for fixed k (vs the N^2/bucket
    cost any exact build pays), all equi-joins on 8-byte keys + one
    per-node window top-k (partitioned by node — never global). Each
    round is lineage-truncated. The graph after 2-3 rounds is the
    warm-start a production index build refines; recall against true
    k-NN is the planted-twin unit-test contract, not an envelope —
    the emitted rows themselves replay bit for bit in SQL.

    ``broadcast_vectors`` — the candidate-SCORING join is where the
    bytes are, not the candidate generation: unhinted, the (2k)^2 N
    pair stream is shuffled CARRYING the dim-long quantized vector it
    just joined (~(2k)^2 N x dim x 8 B — measured >80 GB of shuffle
    spill at 1M x 64-dim, where the pair keys alone are 4 GB). The
    quantized vector table itself is only N x dim x 8 B (0.5 GB at
    1M x 64), so when it fits executor memory the right plan is to
    broadcast BOTH sides of the scoring join and keep the pair stream
    map-side — only (node, nbr_id, dist_q) triples ever shuffle.
    Default ``None`` decides by estimated size (broadcast iff
    n x (dim x 8 + 48) <= 1 GiB); at true 100 TB corpus sizes it
    stays False and the shuffle join plus a bucketed layout is the
    honest cost. True/False force the choice.

    Returns (id_col, nbr_id, dist_q, rank) with rank 1..k per node.
    """
    q = df.select(
        F.col(id_col).cast("bigint").alias("node"),
        _quantize_expr(vec_col, scale).alias("_qv"),
    ).transform(lineage_checkpoint)
    n = q.count()  # bounded driver scalar (the A1 min/max pattern)
    # layout-skew guard (r17): a single-row-group parquet reports many
    # scan partitions but all rows land in one task — every JVM and
    # Arrow stage of the build then runs single-core. One cheap
    # per-partition count on the materialized checkpoint; rebalances
    # only when skewed (no-op on healthy layouts).
    q = rebalance_if_skewed(q)
    b_count = max(1, (n + k) // (k + 1))

    # bounded driver scalars: row count (above) + one row for the dim
    first = q.select("_qv").first()
    dim = len(first[0]) if first and first[0] is not None else 0
    if broadcast_vectors is None:
        broadcast_vectors = n * (dim * 8 + 48) <= (1 << 30)
    qa = q.toDF("node", "_qa")
    qb = q.toDF("nbr_id", "_qb")
    if broadcast_vectors:
        qa, qb = F.broadcast(qa), F.broadcast(qb)

    def _dist() -> Column:
        return F.aggregate(
            F.zip_with(
                F.col("_qa"), F.col("_qb"), lambda a, b: (a - b) * (a - b)
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    def _with_dist(pairs: DataFrame) -> DataFrame:
        return (
            pairs.join(qa, "node")
            .join(qb, "nbr_id")
            .select("node", "nbr_id", _dist().alias("dist_q"))
        )

    def _topk(scored: DataFrame) -> DataFrame:
        w = Window.partitionBy("node").orderBy(
            F.col("dist_q").asc(), F.col("nbr_id").asc()
        )
        return (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
        )

    def _bucket_pairs(bk) -> DataFrame:
        return (
            q.select("node", bk(F.col("node")).alias("_bk"))
            .join(
                q.select(
                    F.col("node").alias("nbr_id"),
                    bk(F.col("nbr_id")).alias("_bk"),
                ),
                "_bk",
            )
            .filter(F.col("node") != F.col("nbr_id"))
            .select("node", "nbr_id")
        )

    # Knuth constant A, Mersenne prime P: reducing mod P BEFORE the
    # bucket mod is what mixes — (id*A) % B alone is a function of
    # id % B (multiplication preserves congruence classes), i.e. the
    # same partition relabeled. (P-1)*A ~ 5.7e18 stays int64-safe.
    _A, _P = 2654435761, 2147483647
    init_pairs = _bucket_pairs(
        lambda c: F.pmod(c, F.lit(b_count))
    ).unionAll(
        _bucket_pairs(
            lambda c: F.pmod(
                F.pmod(F.pmod(c, F.lit(_P)) * F.lit(_A), F.lit(_P)),
                F.lit(b_count),
            )
        )
    )
    if init == "lsh":
        # LOCALITY-aware init (the r14 scale fix, SCALING.md): id-hash
        # buckets carry NO locality, so round-0 neighbors are random
        # and a driver-bounded 3-round descent cannot converge beyond
        # toy corpora (measured edge recall@8: 0.375 at 500 vectors,
        # 0.005 at 20k). Two salted families of engine-portable ±1
        # md5-parity sign-LSH cells seed each node with vectors that
        # are ALREADY near — descent then refines instead of searching
        # blind. Plane count is OCCUPANCY-DERIVED (the s18 contract):
        # P = ceil(log2(n / (2(k+1)))) keeps expected cell occupancy
        # ~2(k+1) at ANY corpus size, and skewed cells are sub-bucketed
        # by id to cap the within-cell pair join at ~4(k+1) members —
        # init work stays LINEAR in n. The id-hash families above are
        # kept as the long-range/connectivity insurance.
        import hashlib
        import math

        n_planes = max(4, math.ceil(math.log2(max(n, 2) / (2 * (k + 1)))))
        cap = 4 * (k + 1)

        def _lsh_cells(salt: str) -> DataFrame:
            signs = [
                [
                    1
                    if int(
                        hashlib.md5(
                            f"{salt}{p}:{j}".encode()
                        ).hexdigest()[:2],
                        16,
                    )
                    % 2
                    == 1
                    else -1
                    for j in range(dim)
                ]
                for p in range(n_planes)
            ]
            dots = [
                F.aggregate(
                    F.zip_with(
                        F.col("_qv"),
                        F.array(
                            *[F.lit(s).cast("long") for s in signs[p]]
                        ),
                        lambda a, b: a * b,
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, x: acc + x,
                )
                for p in range(n_planes)
            ]
            cell = None
            for p, dcol in enumerate(dots):
                bit = F.when(dcol >= 0, F.lit(1 << p)).otherwise(F.lit(0))
                cell = bit if cell is None else cell + bit
            return q.select("node", cell.cast("long").alias("_cell"))

        def _lsh_pairs(salt: str) -> DataFrame:
            cells = _lsh_cells(salt)
            occ = cells.groupBy("_cell").agg(
                F.count(F.lit(1)).alias("_occ")
            )
            sub = (
                cells.join(occ, "_cell")
                .select(
                    "node",
                    "_cell",
                    # ceil(occ/cap) sub-buckets, exact integer division
                    # (double division could round across the boundary)
                    F.pmod(
                        F.col("node"),
                        F.expr(
                            f"greatest(1, (_occ + {cap - 1}) div {cap})"
                        ),
                    ).alias("_sb"),
                )
            )
            return (
                sub.join(
                    sub.select(
                        F.col("node").alias("nbr_id"), "_cell", "_sb"
                    ),
                    ["_cell", "_sb"],
                )
                .filter(F.col("node") != F.col("nbr_id"))
                .select("node", "nbr_id")
            )

        init_pairs = init_pairs.unionAll(_lsh_pairs("a")).unionAll(
            _lsh_pairs("b")
        )
    init_pairs = init_pairs.distinct()
    fwd = _topk(_with_dist(init_pairs)).select(
        "node", "nbr_id", "dist_q"
    ).transform(lineage_checkpoint)

    for _ in range(n_rounds):
        rev = _topk(
            fwd.select(
                F.col("nbr_id").alias("node"),
                F.col("node").alias("nbr_id"),
                "dist_q",
            )
        ).select("node", "nbr_id", "dist_q")
        b = fwd.select("node", "nbr_id").unionAll(
            rev.select("node", "nbr_id")
        ).distinct()
        cand = (
            b.toDF("node", "_via")
            .join(b.toDF("_via", "nbr_id"), "_via")
            .filter(F.col("node") != F.col("nbr_id"))
            .select("node", "nbr_id")
            .distinct()
        )
        scored = _with_dist(cand).unionAll(fwd).groupBy(
            "node", "nbr_id"
        ).agg(F.min("dist_q").alias("dist_q"))
        fwd = _topk(scored).select(
            "node", "nbr_id", "dist_q"
        ).transform(lineage_checkpoint)

    return _topk(fwd).select(
        F.col("node").alias(id_col), "nbr_id", "dist_q", "rank"
    )


def graph_ann_topk(
    items: DataFrame,
    queries: DataFrame,
    graph: DataFrame,
    k: int,
    beam: int = 16,
    n_hops: int = 3,
    n_entries: int | str = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    entry_pairs: DataFrame | None = None,
) -> DataFrame:
    """Graph-ANN SEARCH — the READ path over the k-NN graph that
    :func:`nn_descent_knn_graph` builds (the HNSW/DiskANN-class serving
    pattern): a deterministic BEAM walk, batched over every query at
    once as DataFrame algebra.

    - **entries**: ~``n_entries`` nodes spread deterministically over
      the id space (``id % (N // n_entries) == 0``, smallest ids kept) —
      the multi-entry stand-in for HNSW's upper layers, so a clustered
      (even disconnected) neighbor graph still gets a start near every
      region. When a query id IS a corpus node (the curation case:
      "find near-dups of this document"), its own node seeds its beam
      too, mirroring DiskANN's warm start.

      THE SCALE DIAL (measured, SCALING.md r14): a FLAT k-NN graph is
      not navigable — it has no long-range links, so a fixed entry
      count covers a shrinking corpus fraction and recall@10 DECAYS
      with corpus size: 0.88 -> 0.26 -> 0.06 at 500/2k/20k vectors on
      the pre-r14 id-hash-init graph; 0.96 -> 0.46 -> 0.16 on the
      r14 lsh-init graph (the index fix dominates the walk dials).
      ``n_entries="sqrt"`` is the occupancy-derived walk setting
      (max(16, isqrt(N)) entries, the s18 n_cells contract applied to
      serving): query cost grows O(sqrt(N)) — still never a corpus
      scan — and is the best measured dial at scale (0.54 at 2k, 0.20
      at 20k). The residual decay is the DATA, not the walk: the
      synthetic embeddings are isotropic (same-label and cross-label
      cosine distributions identical, avg ~0 / max ~0.47), so
      neighborhoods are not transitive and no sub-linear index can
      find them — the regime the ``ann_with_recall_check`` envelope
      exists to catch at deploy time. See
      :func:`graph_ann_routed_topk` for the structural entry-point
      fix real clustered corpora get.
    - **walk**: per hop, expand every current beam node through the
      SYMMETRIZED graph edges (one equi-join), anti-join out nodes this
      query already scored, score the new candidates exactly once
      (float cosine, id-tiebroken — the walk's internal heuristic
      order), and re-cut the per-query beam top-``beam``. ``n_hops``
      is driver-bounded (the g1/t22 iterative contract); each hop is
      lineage-truncated.
    - **result**: the per-query top-``k`` of everything scored.

    Approximation contract (the s2/s3 tier pattern): the emitted id set
    is engine-specific, so production surfaces ride
    :func:`ann_with_recall_check` — exact top-k rows + a per-query
    ``recall_ok`` envelope — never raw walk output into the oracle gate.

    Scale shape: the walk NEVER scans the corpus — per hop it touches
    <= |Q| * beam * degree candidate rows (degree <= 2k after
    symmetrization), each scored via one equi-join on 8-byte node ids
    plus a broadcast of the |Q|-row query table; the per-query state
    (scored set) is <= |Q| * beam * degree * hops rows. Total work is
    O(|Q| * beam * k * n_hops) scores regardless of corpus size — the
    graph replaces the brute-force scan, which is the entire point of
    paying for the s12 index build. All joins are equi-joins; the only
    windows are per-query (partitioned, never global).
    """
    if n_entries != "sqrt":
        # r16 self-review: the flat path's limit(0) silently emits NO
        # entries and the routed fallback's in-plan stride would divide
        # by zero (ANSI cast overflow) — reject the dial up front, and
        # NORMALIZE it (second pass: validating int(x) while passing
        # the raw value through let a numeric string crash the flat
        # path's `//` far from the validated parameter)
        try:
            n_entries = int(n_entries)
        except (TypeError, ValueError):
            raise ValueError(
                f"graph_ann_topk: n_entries must be >= 1 or 'sqrt', "
                f"got {n_entries!r}"
            ) from None
        if n_entries < 1:
            raise ValueError(
                f"graph_ann_topk: n_entries must be >= 1 or 'sqrt', "
                f"got {n_entries!r}"
            )
    isel = items.select(
        F.col(id_col).cast("bigint").alias("item_id"),
        F.col(vec_col).alias("_ivec"),
    ).transform(lineage_checkpoint)  # consumers: every hop's score join
    qsel = queries.select(
        F.col(query_id_col).cast("bigint").alias(query_id_col),
        F.col(vec_col).alias("_qvec"),
    )

    # symmetrize the directed k-NN edges; degree <= 2k
    fwd = graph.select(
        F.col(id_col).cast("bigint").alias("node"),
        F.col("nbr_id").cast("bigint").alias("nbr"),
    )
    edges = (
        fwd.unionAll(fwd.select(F.col("nbr").alias("node"),
                                F.col("node").alias("nbr")))
        .distinct()
        .transform(lineage_checkpoint)  # consumers: n_hops expansions
    )

    def _strided_entries() -> DataFrame:
        n = isel.count()  # bounded driver scalar (the nn_descent pattern)
        ne = n_entries
        if ne == "sqrt":
            import math

            ne = max(16, math.isqrt(n))
        stride = max(1, n // max(1, ne))
        return (
            isel.filter(F.pmod(F.col("item_id"), F.lit(stride)) == 0)
            .orderBy("item_id")
            .limit(ne)
            .select("item_id")
        )

    if entry_pairs is not None:
        # caller-routed per-query starts (query_id, item_id) — the
        # SPANN-style centroid routing of graph_ann_routed_topk
        spread = entry_pairs.select(
            F.col(query_id_col).cast("bigint").alias(query_id_col),
            F.col("item_id").cast("bigint").alias("item_id"),
        )
        # ADVICE r15: a query whose routed cells are ALL empty (and
        # whose id is not itself a corpus node) would have zero start
        # rows and silently vanish from the output — unrouted queries
        # fall back to a strided entry spread like the flat path's.
        # ADVICE r16: the fallback is folded LAZILY — an unconditional
        # union of the anti-join crossJoin, empty when every query is
        # routed — so the serve path runs ZERO extra driver jobs in
        # the common all-routed case (the old missing.limit(1).count()
        # probe was a blocking round-trip per invocation). The lazy
        # stride rides a 1-row count frame in-plan instead of the flat
        # path's driver count, so the fallback spread is ~n_entries
        # strided ids (unbounded by an exact limit(ne) cap — fine for
        # a defensive path whose job is guaranteeing a start exists).
        ne_expr = (
            F.greatest(
                F.lit(16).cast("bigint"),
                F.expr("cast(floor(sqrt(_n)) as bigint)"),
            )
            if n_entries == "sqrt"
            else F.lit(int(n_entries)).cast("bigint")
        )
        lazy_entries = (
            isel.select("item_id")
            .crossJoin(F.broadcast(isel.agg(F.count(F.lit(1)).alias("_n"))))
            .withColumn(
                "_stride",
                F.greatest(
                    F.lit(1).cast("bigint"),
                    F.floor(F.col("_n") / ne_expr).cast("bigint"),
                ),
            )
            .filter(F.pmod(F.col("item_id"), F.col("_stride")) == 0)
            .select("item_id")
        )
        missing = qsel.select(query_id_col).join(
            spread.select(query_id_col).distinct(),
            query_id_col,
            "left_anti",
        )
        spread = spread.unionAll(missing.crossJoin(lazy_entries))
    else:
        spread = qsel.select(query_id_col).crossJoin(_strided_entries())
    # every query starts at the routed/spread entries + its own node
    # if present (the DiskANN warm start)
    starts = (
        spread.unionAll(
            qsel.select(query_id_col)
            .join(isel.select("item_id"),
                  F.col(query_id_col) == F.col("item_id"))
            .select(query_id_col, "item_id")
        )
        .distinct()
    )

    def _score(pairs: DataFrame) -> DataFrame:
        return (
            pairs.join(isel, "item_id")
            .join(F.broadcast(qsel), query_id_col)
            .select(
                query_id_col,
                "item_id",
                cosine_similarity(F.col("_ivec"), F.col("_qvec")).alias(
                    "score"
                ),
            )
        )

    scored = _score(starts).transform(lineage_checkpoint)
    for _ in range(n_hops):
        cand = (
            _top_k(scored, beam, query_id_col, "score", "_r")
            .drop("_r")
            .select(query_id_col, F.col("item_id").alias("node"))
            .join(edges, "node")
            .select(query_id_col, F.col("nbr").alias("item_id"))
            .distinct()
            .join(
                scored.select(query_id_col, "item_id"),
                [query_id_col, "item_id"],
                "left_anti",
            )
        )
        scored = scored.unionAll(_score(cand)).transform(lineage_checkpoint)

    return _top_k(
        scored.filter(F.col("item_id") != F.col(query_id_col)),
        k,
        query_id_col,
        "score",
    ).select(query_id_col, "item_id", "rank")


def _power_iteration_direction(
    df: DataFrame,
    n_rounds: int,
    scale: int,
    dim: int,
    vec_col: str = "embedding",
) -> list[int]:
    """The shared driver-side power-iteration trajectory on s7's exact
    Gram (see :func:`power_iteration_projection` for the contract):
    arbitrary-precision Python ints, pmod floor-division renorm each
    round, deterministic all-ones start — the direction replays bit for
    bit in DuckDB HUGEINT. Used by s14's projection and s21's
    anisotropy profile so the two can never disagree."""
    rows = embedding_second_moment(df, vec_col).collect()  # bounded d^2
    G = [[0] * dim for _ in range(dim)]
    for r in rows:
        G[r["dim_i"]][r["dim_j"]] = int(r["smoment_q"])
        G[r["dim_j"]][r["dim_i"]] = int(r["smoment_q"])
    v = [scale] * dim
    for _ in range(n_rounds):
        w = [sum(G[i][j] * v[j] for j in range(dim)) for i in range(dim)]
        m = max(max(abs(x) for x in w), 1)
        # floor(x * scale / m) via the pmod identity — Python % is
        # non-negative for m > 0, so this matches the oracle's
        # (x - ((x % m + m) % m)) // m exactly, signs included
        v = [((x * scale) - ((x * scale) % m)) // m for x in w]
    return v


def anisotropy_profile(
    df: DataFrame,
    n_rounds: int = 3,
    scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Per-vector ANISOTROPY profile — the measurement half of
    'all-but-the-top' (Mu & Viswanath 2018) embedding post-processing:
    how much of each vector's energy lies along the corpus's dominant
    spectral direction. Isotropic corpora (the r14/r15 SCALING.md
    finding about this testdata) show ~1e6/dim ppm per vector; a
    corpus with a common-direction artifact (frequency bias, un-centered
    encoder) shows a heavy top_dir_ppm tail, and subtracting the
    direction is the standard fix before cosine retrieval.

    Exactness: the direction u rides :func:`_power_iteration_direction`
    (shared with s14 — the two surfaces can never disagree); per vector
    the int64 dot ``dot_u = q . u`` and norm ``n2_q = q . q`` are exact,
    and the energy fraction is one integer division,

        top_dir_ppm = dot_u^2 * 1e6  div  (n2_q * |u|^2)

    widened to decimal(38,0) (dot_u^2 * 1e6 reaches ~4e33 here — far
    past int64, inside decimal38; the oracle replays in HUGEINT).
    Vectors quantize at the TRAJECTORY's ``scale`` (1e6 — the s14
    oracle's q grid), not the d25 milli grid: the profile and the
    direction must live on one grid or the ppm drifts at the 4th
    digit.
    Zero-norm vectors report 0 (no direction, nothing to remove). The
    residual-is-orthogonal identity ((q*|u|^2 - dot_u*u) . u == 0
    exactly, in integers) is pinned by the unit test rather than
    emitted.

    Scale shape: one Gram pass (d^2-bounded shuffle) + one driver loop
    on the 64x64 matrix + ONE map-only projection/profile scan — the
    s14 cost envelope with a 3-column surface.

    Returns (id_col, n2_q, dot_u, top_dir_ppm).
    """
    u = _power_iteration_direction(df, n_rounds, scale, dim, vec_col)
    u2 = sum(x * x for x in u)
    if u2 == 0:
        # degenerate corpus (Gram row-sums cancel exactly): there is no
        # direction, so NOTHING lies along it — without this guard the
        # Spark division returns NULL while the DuckDB oracle raises
        # divide-by-zero, the exact surface divergence the shared-helper
        # contract forbids (r15 second self-review). The oracle carries
        # the same u2 = 0 branch.
        u2 = None
    uarr = F.array(*[F.lit(int(x)).cast("long") for x in u])
    q = df.select(
        F.col(id_col), _quantize_expr(vec_col, scale).alias("_qv")
    )
    dot = F.aggregate(
        F.zip_with(F.col("_qv"), uarr, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n2 = F.aggregate(
        F.transform(F.col("_qv"), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    prof = q.select(
        F.col(id_col), n2.alias("n2_q"), dot.alias("dot_u")
    )
    ppm = (
        F.lit(0).cast("bigint")
        if u2 is None
        else F.when(F.col("n2_q") == 0, F.lit(0).cast("bigint")).otherwise(
            F.expr(
                "cast((cast(dot_u as decimal(38,0)) * dot_u * 1000000)"
                f" div (cast(n2_q as decimal(38,0)) * {u2}) as bigint)"
            )
        )
    )
    return prof.select(id_col, "n2_q", "dot_u", ppm.alias("top_dir_ppm"))


def power_iteration_projection(
    df: DataFrame,
    n_rounds: int = 3,
    scale: int = 1_000_000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
) -> DataFrame:
    """Dominant spectral direction of the embedding corpus by POWER
    ITERATION on the distributed Gram matrix
    (:func:`embedding_second_moment`), then the per-vector projection
    onto it — the "which axis carries the corpus" analysis behind PCA
    outlier pruning and anisotropy diagnostics (all-but-the-top
    post-processing). True PCA centers first; this operator runs on the
    raw second moment (embeddings here are ~zero-mean by construction)
    and the centered variant is the same algebra on ``qv - mean``.

    Exactness contract: the Gram is s7's micro-quantized exact int64
    statistic; the iteration runs DRIVER-side on the collected d x d
    matrix (<= d(d+1)/2 rows — the FAISS-style bounded codebook
    collect) in arbitrary-precision Python ints, renormalizing each
    round to ``floor(w * scale / max|w|)`` via the pmod floor-division
    identity (the kmeans_lloyd centroid-update trick), so the whole
    trajectory — including signs — replays bit for bit in SQL HUGEINT
    arithmetic. No float ever touches the path; the eigenvector sign is
    pinned by the deterministic all-ones start.

    Scale shape: ONE Arrow map pass + one d^2-bounded hash-agg for the
    Gram (map-side matrix partials — the shuffle carries partials*d^2
    rows, never corpus*d^2), a driver loop on a 64 x 64 int matrix, and
    ONE map-only projection against the broadcast-literal direction.
    Power iteration at 100 TB costs exactly one Gram pass + one scan.

    Returns (id_col, proj_q): exact integer dot products in
    quanta * scale units.
    """
    v = _power_iteration_direction(df, n_rounds, scale, dim, vec_col)
    varr = F.array(*[F.lit(int(x)).cast("long") for x in v])
    q = df.select(
        F.col(id_col), _quantize_expr(vec_col, scale).alias("_qv")
    )
    proj = F.aggregate(
        F.zip_with(F.col("_qv"), varr, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return q.select(F.col(id_col), proj.alias("proj_q"))


def late_interaction_topk(
    items: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_sub: int = 4,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
) -> DataFrame:
    """ColBERT-style LATE-INTERACTION (MaxSim) retrieval: each vector is
    treated as ``n_sub`` subvector slices (the multi-vector stand-in for
    per-token embeddings), and score(q, d) = sum over q's slices of the
    MAX dot product against any of d's slices — the late-interaction
    operator every multi-vector retrieval stack ships, which single-dot
    rankers (s1) can't express because the max binds per query slice.
    All dots ride the d25 milli grid (16-dim int64 dots, exact), so
    scores and ranks replay in DuckDB bit for bit; ties break (score
    desc, item asc), the house total order.

    Plan shape: the corpus explodes once into (doc, slice) rows —
    map-only fan-out of n_sub — the bounded query slice set broadcasts
    (the s1 pattern), and the MaxSim fold is two combine-heavy hash
    aggs (max per (query, doc, q_slice), then sum per (query, doc))
    followed by one per-query top-k window (WindowGroupLimit shape).
    No UDFs, no corpus shuffle beyond the two bounded aggs.

    Returns (query_id_col, item_id, maxsim_q, rank).
    """
    sub = dim // n_sub
    slices = F.transform(
        F.sequence(F.lit(0), F.lit(n_sub - 1)),
        lambda i: F.slice(F.col("_qv"), i * sub + 1, sub),
    )
    d = (
        ensure_parallelism(
            items.select(
                F.col(id_col).alias("item_id"),
                _quantize_expr(vec_col, scale).alias("_qv"),
            )
        )
        .select("item_id", F.posexplode(slices).alias("d_slice", "_dv"))
    )
    qs = queries.select(
        F.col(query_id_col),
        _quantize_expr(vec_col, scale).alias("_qv"),
    ).select(
        query_id_col, F.posexplode(slices).alias("q_slice", "_qsv")
    )
    dot = F.aggregate(
        F.zip_with(F.col("_dv"), F.col("_qsv"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = (
        d.crossJoin(F.broadcast(qs))
        .select(query_id_col, "item_id", "q_slice", dot.alias("_dot"))
        .groupBy(query_id_col, "item_id", "q_slice")
        .agg(F.max("_dot").alias("_maxdot"))
        .groupBy(query_id_col, "item_id")
        .agg(F.sum("_maxdot").cast("bigint").alias("maxsim_q"))
    )
    return _top_k(scored, k, query_id_col, "maxsim_q").select(
        query_id_col, "item_id", "maxsim_q", "rank"
    )


def portable_sign_cells(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    scale: int = 1000,
    dim: int | None = None,
) -> DataFrame:
    """(id, cell, norm_q) — ENGINE-PORTABLE sign-LSH cell assignment on
    the d25 integer grid: plane ``p``'s coefficient for dimension ``j``
    is ``+1`` if the low bit of ``md5(f"{p}:{j}")[:2 hex]`` is set else
    ``-1`` (md5 is md5 in Spark, DuckDB and Python, so all three derive
    the SAME planes from nothing but indices), the dot is an int64 fold
    over the milli-quantized vector, and cell = the ``n_planes``-bit
    sign pattern. ±1-integer planes make the sign decision EXACT — no
    float dot whose 1-ulp cross-engine wobble could flip a boundary
    vector's cell, the same reasoning as x18's integer band membership.

    This is the checkable twin of :func:`sign_lsh_bucket_udf` (whose
    Gaussian float planes are the recall-tuned production flavor —
    same algebra, envelope-checked only). ``norm_q`` (int64 quantized
    squared norm) rides along so downstream manifests can track
    per-cell mass, not just occupancy.

    Scale shape: map-only — one projection per row, no shuffle, plan
    size O(n_planes * dim) literals (the _argmin_struct_key bound
    note applies).
    """
    import hashlib

    if not 1 <= n_planes <= 31:
        # the cell is a 32-bit int bit-pattern: 1 << 31 would wrap the
        # sign bit silently (ADVICE r15; defaults are safe — this guards
        # future callers; the nn_descent internal LSH casts to long)
        raise ValueError(
            f"portable_sign_cells: n_planes must be in [1, 31], got "
            f"{n_planes} — the cell bit-pattern is a 32-bit int"
        )
    if dim is None:
        # one bounded probe job; streaming callers pass dim explicitly
        # so the per-micro-batch fold stays a single map pass
        first = df.select(F.col(vec_col)).first()
        dim = len(first[0]) if first and first[0] is not None else 0
    signs = [
        [
            1
            if int(hashlib.md5(f"{p}:{j}".encode()).hexdigest()[:2], 16) % 2
            == 1
            else -1
            for j in range(dim)
        ]
        for p in range(n_planes)
    ]
    q = _quantize_expr(vec_col, scale)
    out = df.select(
        F.col(id_col),
        q.alias("_q"),
    )
    dots = [
        F.aggregate(
            F.zip_with(
                F.col("_q"),
                F.array(*[F.lit(s).cast("long") for s in signs[p]]),
                lambda a, b: a * b,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        for p in range(n_planes)
    ]
    cell = None
    for p, d in enumerate(dots):
        bit = F.when(d >= 0, F.lit(1 << p)).otherwise(F.lit(0))
        cell = bit if cell is None else cell + bit
    norm_q = F.aggregate(
        F.transform(F.col("_q"), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    return out.select(
        id_col,
        cell.cast("int").alias("cell"),
        norm_q.alias("norm_q"),
    )


def embedding_qc(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    dim_expected: int | None = None,
    scale: int = 1000,
) -> DataFrame:
    """Embedding DATA-QC census — the t2-quality analogue for the
    vector modality, the ingest gate an embedding pipeline runs before
    building any index: per label (shard/model-version/source), count
    the rows every downstream operator would choke on — NULL vectors,
    dimension mismatches (a mixed-model ingest bug: zip_with against a
    wrong-width vector silently truncates the dot), zero-norm vectors
    (undefined cosine; every similarity tier here excludes them) — plus
    the int64-quantized squared-norm envelope (min/max/sum on the d25
    grid) that feeds drift monitors and the x18 overflow precheck.

    Plan shape: map-only quantize + ONE map-side-combined hash agg by
    label — a single corpus scan, no shuffle beyond the label-count
    agg, output bounded by label cardinality. All-integer surface, so
    the census is hash-exact cross-engine.

    ``dim_expected`` defaults to the dimension of the first non-null
    vector (one bounded probe job); pass it explicitly in pipelines.

    Returns one row per label: (label, n_vecs, n_null, n_null_elem,
    n_dim_mismatch, n_zero_norm, min_norm_q, max_norm_q, sum_norm_q) —
    norm stats over the well-formed rows (non-null, no NULL elements,
    expected dim). Element-level NULLs get their own counter
    (ADVICE r15: a vector containing a NULL element breaks every
    downstream dot product, but its norm aggregate goes NULL and the
    row would otherwise vanish from every fault counter AND the norm
    envelope — the exact blind spot a QC gate exists to catch).
    """
    if dim_expected is None:
        first = (
            df.filter(F.col(vec_col).isNotNull()).select(vec_col).first()
        )
        dim_expected = len(first[0]) if first else 0
    is_null = F.col(vec_col).isNull()
    has_null_elem = ~is_null & F.exists(
        F.col(vec_col), lambda x: x.isNull()
    )
    dim_ok = (
        ~is_null
        & ~has_null_elem
        & (F.size(F.col(vec_col)) == F.lit(dim_expected))
    )
    norm_q = F.aggregate(
        _quantize_expr(vec_col, scale),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x * x,
    )
    rows = df.select(
        F.col(label_col).alias("label"),
        is_null.alias("_null"),
        has_null_elem.alias("_null_elem"),
        dim_ok.alias("_ok"),
        F.when(dim_ok, norm_q).alias("_nq"),
    )
    return rows.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.count_if(F.col("_null")).cast("bigint").alias("n_null"),
        F.count_if(F.col("_null_elem")).cast("bigint").alias("n_null_elem"),
        F.count_if(~F.col("_null") & ~F.col("_null_elem") & ~F.col("_ok"))
        .cast("bigint")
        .alias("n_dim_mismatch"),
        F.count_if(F.col("_nq") == 0).cast("bigint").alias("n_zero_norm"),
        F.min("_nq").alias("min_norm_q"),
        F.max("_nq").alias("max_norm_q"),
        F.sum("_nq").cast("bigint").alias("sum_norm_q"),
    )


def semantic_decontam_flags(
    train: DataFrame,
    evalset: DataFrame,
    tau_num: int = 14,
    band_den: int = 20,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SEMANTIC decontamination: flag every training vector whose cosine
    against ANY held-out eval vector reaches ``tau_num/band_den`` — the
    embedding-space generalization of t9's n-gram decontamination (near-
    paraphrases of eval items leak benchmark signal that exact-match
    n-grams miss; the FineWeb/benchmark-hygiene step of a training-data
    pipeline).

    Membership is decided by :func:`semantic_decontam_pairs` — the ONE
    kernel this tier and the st19 streaming census share (delegation,
    not copy-paste, so they cannot disagree): the x18 integer band
    (int64 dot, decimal(38,0) comparison, DuckDB HUGEINT replay),
    zero-norm vectors never flag, the shared overflow envelope raises
    rather than wraps. The SURFACE is integer counts plus a boolean, so
    x19 is hash-exact end to end with no float anywhere. Contract: one
    row per train vector — including n_hits = 0 rows, and including the
    degenerate empty-evalset case (everything clean, nothing dropped).

    Scale shape: eval sets are small by nature (thousands of rows), so
    the eval side BROADCASTS and the train corpus is scanned exactly
    once, the predicate map-side in whole-stage codegen — linear in
    train size at 100 TB; the only shuffle is the sparse crossing-pair
    count (keyed by train id), which then broadcasts back onto the
    id list — the train corpus itself is never shuffled.

    Returns one row per train vector: (``id_col``, n_hits, contaminated).
    """
    counts = (
        semantic_decontam_pairs(
            train,
            evalset,
            tau_num=tau_num,
            band_den=band_den,
            scale=scale,
            id_col=id_col,
            vec_col=vec_col,
        )
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("bigint").alias("_hits"))
    )
    # the counts side is the SPARSE crossing set (leaks are rare by
    # construction), so broadcasting it keeps the one-row-per-train
    # rejoin map-side — the train corpus is never shuffled. For an
    # adversarial corpus where most rows leak, drop the hint.
    return (
        train.select(id_col)
        .join(F.broadcast(counts), id_col, "left")
        .select(
            id_col,
            F.coalesce("_hits", F.lit(0)).cast("bigint").alias("n_hits"),
            (F.coalesce("_hits", F.lit(0)) > 0).alias("contaminated"),
        )
    )

def graph_ann_routed_topk(
    items: DataFrame,
    queries: DataFrame,
    graph: DataFrame,
    k: int,
    beam: int = 16,
    n_hops: int = 3,
    n_cells: int | None = None,
    n_probe: int = 3,
    per_cell: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Centroid-ROUTED graph-ANN serving (the SPANN pattern: a coarse
    quantizer picks WHERE to enter the neighbor graph, the beam walk
    does the rest) — the measured fix for the flat walk's navigability
    decay: a k-NN graph has no long-range links, so spread entry
    points land O(corpus/entries) hops from the query's region and
    recall@10 collapses with corpus growth (0.46 -> 0.16 at factor 10
    on content-distinct data even on the r14 lsh-init graph,
    SCALING.md r14). Routing replaces luck with geometry: each query
    enters at ``per_cell`` members of each of its ``n_probe`` nearest
    IVF cells — already inside the right neighborhood, so the hop
    budget is spent refining, not crossing the corpus.

    Measured honesty (SCALING.md r14): on THIS repo's synthetic
    corpus routing ties the flat walk (0.14 vs 0.16 at 20k) because
    the embeddings are ISOTROPIC — same-label and cross-label cosines
    are identically distributed, so IVF centroids carry no structure
    to route toward and nothing sub-linear can win. The operator is
    the SPANN production pattern for real clustered corpora, where
    centroid routing is what restores scale-stable recall; the
    ``ann_with_recall_check`` envelope is what tells you which regime
    your data is in.

    Build/serve split (what a 100 TB deployment materializes): the
    coarse quantizer (occupancy-derived ``n_cells = max(16, N // 64)``,
    the s18 contract) and the per-cell entry lists (``per_cell``
    lowest-id members per cell, ~N/16 rows total) are INDEX artifacts,
    built once beside the s12 graph in one extra corpus scan. At query
    time: assign |Q| queries to centroids (broadcast matrix), join the
    |Q| x n_probe cell picks to the entry lists (query side broadcast),
    then the walk — per-query work O(n_probe * per_cell + beam *
    degree * hops) scores, corpus never scanned, same as the flat
    walk.

    Same approximation contract as :func:`graph_ann_topk`: emitted ids
    are engine-specific; production surfaces ride
    :func:`ann_with_recall_check`.
    """
    proj, base = _corpus_checkpoint(items, id_col, vec_col)
    n = base.count()
    # layout-skew guard (r17, see nn_descent_knn_graph): the corpus
    # assign + Lloyd kernels below are per-partition Arrow compute —
    # a single-row-group scan would serialize them onto one core
    base = rebalance_if_skewed(base)
    if n_cells is None:
        n_cells = max(16, n // 64)
    home, probes = _ivf_route(base, proj, n_cells, n_probe, vec_col)

    it_cells = base.withColumn("_cell", home)
    w_cell = Window.partitionBy("_cell").orderBy(F.col("item_id").asc())
    entry_lists = (
        it_cells.withColumn("_r", F.row_number().over(w_cell))
        .filter(F.col("_r") <= per_cell)
        .select("_cell", "item_id")
    )
    q_cells = queries.select(F.col(query_id_col), probes.alias("_cell"))
    entry_pairs = (
        entry_lists.join(F.broadcast(q_cells), "_cell")
        .select(query_id_col, "item_id")
        .distinct()
    )
    # reuse the routing checkpoint for the walk's item side (renamed
    # back to the caller's columns — a projection on TOP of the
    # checkpoint, not a second corpus scan; r14 review finding)
    walk_items = base.select(
        F.col("item_id").alias(id_col), F.col("_ivec").alias(vec_col)
    )
    return graph_ann_topk(
        walk_items,
        queries,
        graph,
        k,
        beam=beam,
        n_hops=n_hops,
        id_col=id_col,
        vec_col=vec_col,
        query_id_col=query_id_col,
        entry_pairs=entry_pairs,
    )


def semantic_decontam_pairs(
    train: DataFrame,
    evalset: DataFrame,
    tau_num: int = 14,
    band_den: int = 20,
    scale: int = 1000,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eval_id_col: str = "eval_id",
) -> DataFrame:
    """The PAIR-level kernel under :func:`semantic_decontam_flags`:
    every (train id, eval id) pair whose cosine crosses
    ``tau_num/band_den`` on the exact integer grid (same int64/
    decimal38 predicate and overflow envelope; zero-norm vectors never
    cross). Exposed separately so the streaming census (st19) and the
    batch flags (x19) share one membership definition.

    Scale shape: identical to the flags tier — eval broadcasts, train
    scans once, the predicate prunes map-side, and the OUTPUT is only
    the crossing pairs (leaks are rare by construction, so this is a
    sparse frame).
    """
    import math

    d2 = band_den * band_den
    # (10^38 - 1) // d2, not 10^38 // d2: the envelope corner must be
    # EXCLUDED — 10^38//400 is (5*10^17)^2 exactly, so at equality
    # d2*dot^2 can reach 10^38 and overflow decimal(38,0) to NULL,
    # silently dropping the pair instead of raising (ADVICE r15)
    _n2_bound = min(2**63 - 1, math.isqrt((10**38 - 1) // d2))

    def _guarded(qcol: Column) -> Column:
        return _envelope_guard(qcol, _n2_bound, "semantic_decontam_pairs")

    ev = evalset.select(
        F.col(id_col).alias(eval_id_col),
        _guarded(_quantize_expr(vec_col, scale)).alias("_eq"),
    )
    tr = train.select(
        F.col(id_col),
        _guarded(_quantize_expr(vec_col, scale)).alias("_tq"),
    )
    dot = F.aggregate(
        F.zip_with(F.col("_tq"), F.col("_eq"), lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n2 = lambda c: F.aggregate(  # noqa: E731
        F.transform(F.col(c), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    scored = tr.crossJoin(F.broadcast(ev)).select(
        id_col,
        eval_id_col,
        dot.alias("_dot"),
        n2("_tq").alias("_n2t"),
        n2("_eq").alias("_n2e"),
    )
    crossing = (
        (F.col("_n2t") > 0)
        & (F.col("_n2e") > 0)
        & (F.col("_dot") >= 0)
        & (
            F.lit(d2) * (F.col("_dot").cast("decimal(38,0)") * F.col("_dot"))
            >= F.lit(tau_num * tau_num)
            * (F.col("_n2t").cast("decimal(38,0)") * F.col("_n2e"))
        )
    )
    return scored.filter(crossing).select(id_col, eval_id_col)


def quantizer_occupancy(
    df: DataFrame,
    k: int = 8,
    n_rounds: int = 3,
    scale: int = 1000,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Coarse-quantizer OCCUPANCY census — the index-build QC gate next
    to s20's ingest QC: after training, an IVF/SemDeDup deployment
    needs to know its cell balance BEFORE serving, because empty cells
    waste probes (recall dial lies), overloaded cells break the
    O(n_probe/n_cells) cost model (one hot cell serves like brute
    force), and distortion outliers flag vectors no cell represents.

    Rides :func:`kmeans_lloyd`'s EXACT integer trajectory (same seeds,
    same floor-division updates), so unlike the float `_ivf_train`
    codebook this census hash-matches a SQL replay bit for bit. Every
    cell appears — including EMPTY ones (a ``spark.range(k)`` spine
    left-joins the stats; the empty cell is the finding), with
    ``occupancy_ppm = n_members * 1e6 div n_total`` against a
    broadcast 1-row total (the x5 distribution-aware pattern).

    Plan shape on top of the k-means rounds: one map-side-combined
    hash agg by cluster (k rows out), one scalar count, one broadcast
    join onto the k-row spine — nothing corpus-sized moves.

    Returns one row per cell 0..k-1: (cluster, n_members, min_dist_q,
    max_dist_q, sum_dist_q, occupancy_ppm); dist stats NULL for empty
    cells.
    """
    assigned = kmeans_lloyd(
        df,
        k=k,
        n_rounds=n_rounds,
        scale=scale,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
    )
    spark = df.sparkSession
    spine = spark.range(k).select(F.col("id").cast("int").alias("cluster"))
    # ONE corpus-sized aggregation; the total derives from the k-row
    # stats frame (checkpointed — two consumers: spine join + total),
    # never a second pass over the assignment (r16 self-review)
    stats = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_members"),
        F.min("dist_q").alias("min_dist_q"),
        F.max("dist_q").alias("max_dist_q"),
        F.sum("dist_q").cast("bigint").alias("sum_dist_q"),
    ).transform(lineage_checkpoint)
    totals = stats.agg(F.sum("n_members").cast("bigint").alias("_n"))
    return (
        spine.join(F.broadcast(stats), "cluster", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "n_members",
            F.coalesce(F.col("n_members"), F.lit(0)).cast("bigint"),
        )
        .withColumn(
            "occupancy_ppm", F.expr("n_members * 1000000 div _n")
        )
        .select(
            "cluster",
            "n_members",
            "min_dist_q",
            "max_dist_q",
            "sum_dist_q",
            "occupancy_ppm",
        )
    )
