"""Corpus-curation operators for a large-scale training-data pipeline:
segment-level (paragraph) dedup, PII redaction, and sequence packing.

These extend the document toolbox (operators.text, operators.dedup) with
the write-side curation steps a pretraining pipeline runs between "raw
corpus" and "tokenized shards". All three are designed so that document
BODIES never shuffle — shuffles carry (id, int64) tuples only — and all
outputs are exact integers/strings so every operator oracle-compares
exactly against DuckDB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import WS_CHARS, WS_RE, ZS_CHARS, _words

# RE2- and Java-regex-compatible PII patterns (no backrefs, no lookaround)
# so the same pattern string runs in Spark (Java util.regex) and in the
# DuckDB (RE2) oracle.
EMAIL_RE = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
IPV4_RE = "\\b\\d{1,3}(\\.\\d{1,3}){3}\\b"


def segment_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Segment-level (paragraph) dedup, CCNet-style: split every document
    into consecutive ``seg_words``-word segments, find segments that occur
    in >= ``min_docs`` distinct documents (boilerplate: headers, footers,
    license blocks, templated spam), and emit per-document stats plus the
    text with boilerplate segments removed.

    100 TB plan shape — document text NEVER shuffles:

    1. map-only: re-derive segments per row, emit (doc_id, seg_idx,
       xxhash64(segment)) — the explode carries 16-byte tuples;
    2. hash-agg on segment hash (map-side partial) -> the boilerplate
       hash set, typically tiny (only segments repeated across docs);
    3. broadcast that set back onto the exploded tuples, aggregate the
       *positions* of boilerplate segments per doc (an int array);
    4. join the position arrays (not text) back to the corpus by doc_id
       and drop those segments with a map-side array filter.

    Equality classes are 64-bit hash classes — the same collision trade
    decontaminate() makes (~2e-8 false merges at 1e9 distinct segments).
    """
    ws = _words(F.col(text_col))
    n_seg = F.ceil(F.size("_ws") / F.lit(seg_words)).cast("int")
    seg_at = lambda i: F.array_join(  # noqa: E731
        F.slice(F.col("_ws"), i * seg_words + 1, seg_words), " "
    )
    segs = df.select(F.col(id_col), ws.alias("_ws")).select(
        id_col,
        "_ws",
        F.transform(
            F.sequence(F.lit(0), F.greatest(n_seg - 1, F.lit(0))), seg_at
        ).alias("_segs"),
    )
    exploded = segs.select(
        id_col, F.posexplode("_segs").alias("seg_idx", "_seg")
    ).select(id_col, "seg_idx", F.xxhash64("_seg").alias("_gh"))
    boiler = (
        exploded.groupBy("_gh")
        .agg(F.countDistinct(id_col).alias("_nd"))
        .filter(F.col("_nd") >= min_docs)
        .select("_gh")
    )
    bp_pos = (
        exploded.join(F.broadcast(boiler), "_gh")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list("seg_idx")).alias("_bp_idx"))
    )
    out = segs.join(bp_pos, id_col, "left").select(
        id_col,
        F.size("_segs").cast("bigint").alias("n_segments"),
        F.coalesce(F.size("_bp_idx"), F.lit(0)).cast("bigint").alias(
            "n_boilerplate"
        ),
        F.array_join(
            F.filter(
                F.col("_segs"),
                lambda s, i: ~F.coalesce(
                    F.array_contains(
                        F.coalesce(
                            F.col("_bp_idx"), F.array().cast("array<int>")
                        ),
                        i,
                    ),
                    F.lit(False),
                ),
            ),
            " ",
        ).alias("kept_text"),
    )
    return out.withColumn(
        "boilerplate_frac",
        F.col("n_boilerplate") / F.col("n_segments").cast("double"),
    )


def intra_doc_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seg_words: int = 10,
) -> DataFrame:
    """Intra-document repeated-segment removal (the within-doc half of
    CCNet-style dedup, vs :func:`segment_dedup`'s cross-doc half):
    templated pages repeat their own nav blocks / footers many times
    inside ONE document; keep each distinct segment's FIRST occurrence,
    drop the repeats.

    100 TB plan shape: strictly MAP-ONLY — zero shuffles. Each row is
    processed independently with array built-ins (`array_position` gives
    the first index of a segment, so "is this the first occurrence" is a
    per-element predicate); nothing leaves the task, so throughput is
    scan bandwidth. Exact outputs (counts + deduped text) so the oracle
    compares bit-for-bit.
    """
    ws = _words(F.col(text_col))
    n_seg = F.ceil(F.size("_ws") / F.lit(seg_words)).cast("int")
    seg_at = lambda i: F.array_join(  # noqa: E731
        F.slice(F.col("_ws"), i * seg_words + 1, seg_words), " "
    )
    segs = df.select(F.col(id_col), ws.alias("_ws")).select(
        id_col,
        F.transform(
            F.sequence(F.lit(0), F.greatest(n_seg - 1, F.lit(0))), seg_at
        ).alias("_segs"),
    )
    # first occurrence <=> 1-based array_position == own index
    kept = F.filter(
        F.col("_segs"), lambda s, i: F.array_position(F.col("_segs"), s) == i + 1
    )
    return segs.select(
        id_col,
        F.size("_segs").cast("bigint").alias("n_segments"),
        (F.size("_segs") - F.size(kept)).cast("bigint").alias("n_repeats"),
        F.array_join(kept, " ").alias("dedup_text"),
    )


def pii_scrub(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """PII detection + redaction: count and mask email addresses and IPv4
    literals. Map-only JVM regex work — redacting 100 TB is scan-bound.

    Emails are redacted before IPs so a dotted-quad inside a masked email
    can't double-count. Patterns stick to the RE2-compatible subset so
    Spark (Java regex) and the DuckDB (RE2) oracle see identical matches.
    A real pipeline extends PATTERNS with phone/SSN/credit-card and a
    NER model via mapInPandas behind this same column contract.
    """
    t = F.col(text_col)
    n_emails = F.size(F.regexp_extract_all(t, F.lit(EMAIL_RE), 0))
    red1 = F.regexp_replace(t, EMAIL_RE, "<EMAIL>")
    n_ips = F.size(F.regexp_extract_all(red1, F.lit(IPV4_RE), 0))
    return df.select(
        F.col(id_col),
        n_emails.cast("bigint").alias("n_emails"),
        n_ips.cast("bigint").alias("n_ips"),
        F.regexp_replace(red1, IPV4_RE, "<IP>").alias("redacted_text"),
    )


def pack_sequences(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    capacity: int = 256,
    n_shards: int = 32,
) -> DataFrame:
    """Sequence packing: lay all documents end-to-end in a deterministic
    order and cut the token stream into fixed-``capacity`` training bins
    (GPT-style packing — documents may straddle a bin boundary). Emits one
    row per (bin, document) overlap:

        bin_id | doc_id | tok_start | n_tokens

    where ``tok_start`` is the offset *within the document* of the slice
    that landed in ``bin_id``. Downstream, a writer groups by bin_id and
    concatenates slices — every bin is exactly ``capacity`` tokens except
    the last.

    Scale shape: a single global running sum would serialize on one
    window partition, so offsets are computed hierarchically — documents
    are assigned to ``n_shards`` deterministic shards (packing order =
    (shard, doc_id)), the running sum runs *within* each shard in
    parallel, and the per-shard totals (``n_shards`` rows) cascade into
    shard base offsets on a single tiny partition, then broadcast-join
    back. Two narrow shuffles of (id, int) pairs; the token stream itself
    is never materialized.
    """
    counts = df.select(
        F.col(id_col),
        F.size(_words(F.col(text_col))).cast("bigint").alias("_n_tok"),
    )
    return pack_counts(
        counts,
        id_col=id_col,
        count_col="_n_tok",
        capacity=capacity,
        n_shards=n_shards,
    )


def pack_counts(
    df: DataFrame,
    id_col: str = "doc_id",
    count_col: str = "n_tokens",
    capacity: int = 256,
    n_shards: int = 32,
) -> DataFrame:
    """The packing core behind :func:`pack_sequences`, over an EXPLICIT
    per-document token count instead of a whitespace split — so callers
    can pack mixed-modality sequences whose length comes from decoded
    media (image patches, audio frames), not just text. Same output
    contract and the same hierarchical-offset scale shape."""
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col),
        (F.col(id_col) % n_shards).alias("_shard"),
        F.col(count_col).cast("bigint").alias("_n"),
    )
    w_in = (
        Window.partitionBy("_shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    within = toks.withColumn("_cum", F.sum("_n").over(w_in))
    shard_tot = within.groupBy("_shard").agg(F.max("_cum").alias("_tot"))
    w_sh = (
        Window.orderBy("_shard")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    shard_base = shard_tot.withColumn(
        "_base", F.sum("_tot").over(w_sh) - F.col("_tot")
    ).select("_shard", "_base")
    placed = within.join(F.broadcast(shard_base), "_shard").select(
        id_col,
        "_n",
        (F.col("_base") + F.col("_cum") - F.col("_n")).alias("_off"),
    )
    cap = F.lit(capacity)
    bins = placed.filter(F.col("_n") > 0).select(
        id_col,
        "_n",
        "_off",
        # integer `div`, not double `/`: token offsets at corpus scale
        # exceed 2^53 and a double quotient would mis-bin the tail
        F.explode(
            F.sequence(
                F.expr(f"_off div {capacity}"),
                F.expr(f"(_off + _n - 1) div {capacity}"),
            )
        ).alias("bin_id"),
    )
    tok_start = F.greatest(F.col("bin_id") * cap - F.col("_off"), F.lit(0))
    tok_end = F.least(
        (F.col("bin_id") + 1) * cap - F.col("_off"), F.col("_n")
    )
    return bins.select(
        "bin_id",
        id_col,
        tok_start.cast("bigint").alias("tok_start"),
        (tok_end - tok_start).cast("bigint").alias("n_tokens"),
    )


# URL pattern, RE2-compatible: scheme + non-space run.
URL_RE = f"https?://[^{WS_CHARS}]+"


def strip_boilerplate(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Web-text cleanup ahead of tokenization: drop URLs, squash
    elongated punctuation runs (4+ of the same class collapse to one),
    collapse whitespace. Emits per-doc removal counts so a quality gate
    can threshold on "how boilerplate-heavy was this page".

    Map-only JVM regexp work, same scan-bound profile as pii_scrub.
    Order matters and is part of the contract: URLs are removed before
    punctuation squashing so a protocol's `://` is not half-eaten first.
    Runs are squashed per character (``!{4,}`` -> ``!`` etc.), NOT with a
    backreference ``(.)\\1{3,}`` — RE2 (the DuckDB oracle engine) has no
    backreferences, and the per-char chain is the same single fused scan
    in the JVM anyway.
    """
    t = F.col(text_col)
    n_urls = F.size(F.regexp_extract_all(t, F.lit(URL_RE), 0))
    out = F.regexp_replace(t, URL_RE, " ")
    n_runs = None
    for ch in "!?.,;:*#=-":
        esc = "\\" + ch if ch in ".*?" else ch
        pat = f"{esc}{{4,}}"
        n = F.size(F.regexp_extract_all(out, F.lit(pat), 0))
        n_runs = n if n_runs is None else n_runs + n
        out = F.regexp_replace(out, pat, ch)
    cleaned = F.trim(F.regexp_replace(out, WS_RE, " "), F.lit(ZS_CHARS))
    return df.select(
        F.col(id_col),
        n_urls.cast("bigint").alias("n_urls"),
        n_runs.cast("bigint").alias("n_punct_runs"),
        cleaned.alias("clean_text"),
    )


def pareto_frontier_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact 2-criteria Pareto frontier (skyline), both MAXIMIZED — the
    multi-objective selection step of a curation pipeline ("keep docs
    no other doc beats on BOTH quality axes"): a row survives iff no
    row has >= on both columns with > on at least one. Equal (x, y)
    points are mutually non-dominating and all survive.

    Distributed shape (the classic two-phase skyline): a LOCAL frontier
    per partition via one Arrow-batched kernel — dominance is
    transitive, so any point dominated within its partition is
    dominated globally and can be dropped map-side — then the pruned
    union (bounded by the frontier size, <= distinct x values) goes
    through one single-partition exact pass whose kernel drains the
    whole partition iterator before emitting, so Arrow batch splits
    cannot fake a merely-local answer. Work is O(n log n) per
    partition + O(frontier) at the merge; the corpus is never sorted
    globally and never collected.

    The kernel reduces per-x groups to their max-y rows, then keeps the
    strictly-increasing-y prefix over descending x — the standard
    sweep, exact under ties on either axis (proof in the test's
    brute-force cross-check).
    """
    from collections.abc import Iterator as _It

    import pandas as pd

    cols = [id_col, x_col, y_col]
    slim = df.select(*cols)
    schema = slim.schema

    def _frontier(pdf: pd.DataFrame) -> pd.DataFrame:
        if pdf.empty:
            return pdf
        ymax = pdf.groupby(x_col)[y_col].transform("max")
        cand = pdf[pdf[y_col] == ymax]
        # per distinct x (desc), keep x whose ymax strictly exceeds
        # every greater-x group's ymax
        g = (
            cand[[x_col, y_col]]
            .drop_duplicates()
            .sort_values(x_col, ascending=False)
        )
        run = g[y_col].cummax()
        keep_x = g[x_col][(run.shift(1).isna()) | (g[y_col] > run.shift(1))]
        return cand[cand[x_col].isin(set(keep_x))]

    def local_kernel(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        for pdf in batches:
            yield _frontier(pdf)

    def merge_kernel(batches: _It[pd.DataFrame]) -> _It[pd.DataFrame]:
        parts = [p for p in batches]
        if parts:
            yield _frontier(pd.concat(parts, ignore_index=True))

    pruned = slim.mapInPandas(local_kernel, schema)
    return pruned.repartition(1).mapInPandas(merge_kernel, schema)


def length_grouped_batches(
    df: DataFrame,
    batch_size: int = 8,
    band_tokens: int = 32,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """LENGTH-GROUPED batch assignment (the group-by-length dataloader
    trick: batching similar-length sequences together cuts padding
    waste, since a batch pads every member to its longest) — the
    batch-manifest step between :func:`pack_sequences`-style packing
    and plain padded batching.

    Every doc lands in a length BAND (``tok_len div band_tokens``),
    gets a deterministic Knuth-hash position within its band via
    ``relational.grouped_rank`` (bands are few — the r15 single-task-
    window lesson says never ``Window.partitionBy(band)``), and batch
    ``batch_idx = (pos - 1) div batch_size`` of its band. The output
    is the per-batch manifest with the padding economics: ``pad_tokens
    = n_docs * max_tokens - sum_tokens`` (what padded batching wastes
    after grouping — compare against one global batch to price the
    trick). All integer, order-free aggregates, hash-exact.

    Plan shape: one corpus scan for token counts, grouped_rank's range
    partition (parallel across AND within bands), one hash agg to the
    batch manifest — rows out = n_docs / batch_size.

    Returns (band, batch_idx, n_docs, max_tokens, sum_tokens,
    pad_tokens).
    """
    from .mixing import _priority
    from .relational import grouped_rank

    if batch_size < 1 or band_tokens < 1:
        # a zero dial would make the integer div NULL under non-ANSI
        # Spark and silently collapse every band into one garbage batch
        raise ValueError(
            f"length_grouped_batches: batch_size and band_tokens must "
            f"be >= 1, got {batch_size}/{band_tokens}"
        )
    toks = F.size(_words(F.col(text_col))).cast("bigint")
    base = df.select(
        F.col(id_col),
        toks.alias("_tok"),
    ).withColumn("band", F.expr(f"_tok div {band_tokens}"))
    # the shared Knuth contract (mixing.KNUTH/BUCKETS ride _priority) —
    # inlined literals here would fork the determinism contract and its
    # documented ~2^31.7 id overflow bound
    pri = _priority(id_col)
    ranked = grouped_rank(
        base.withColumn("_pri", pri),
        ["band"],
        [F.col("_pri"), F.col(id_col)],
        "_pos",
    )
    return (
        ranked.withColumn(
            "batch_idx", F.expr(f"(_pos - 1) div {batch_size}")
        )
        .groupBy("band", "batch_idx")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.max("_tok").alias("max_tokens"),
            F.sum("_tok").cast("bigint").alias("sum_tokens"),
        )
        .withColumn(
            "pad_tokens",
            (F.col("n_docs") * F.col("max_tokens") - F.col("sum_tokens"))
            .cast("bigint"),
        )
    )


def whole_doc_packing(
    df: DataFrame,
    capacity: int = 256,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """WHOLE-document bin packing by harmonic size classes — the
    packing tier for pipelines that must NOT split documents across
    training sequences (SFT/instruction data, where a truncated
    example is a corrupted label): :func:`pack_sequences` is GPT-style
    concat-and-cut (documents straddle bins), this keeps every
    document intact and accepts bounded padding waste instead.

    True first-fit-decreasing is inherently sequential (bin state
    threads through every placement). The distributed-exact variant is
    HARMONIC size-class packing: each document's class is the number
    of docs that size that fit per bin (``size_class = capacity div
    tok``, so every doc in class k has tok <= capacity/k and k of them
    always fit), docs get a deterministic Knuth-hash position within
    their class via ``relational.grouped_rank`` (classes number at
    most ``capacity`` — a low-cardinality domain, so never
    ``Window.partitionBy(class)``), and ``bin_idx = (pos - 1) div k``.
    Waste per full bin is bounded by ``capacity/(k+1)`` — the harmonic
    algorithm's classic guarantee — and every step is integer algebra
    on (tok, hash, id), so the whole layout replays bit for bit in
    SQL.

    Oversize documents (``tok > capacity``) land in class 0, one per
    bin, and surface with NEGATIVE waste (= overflow) rather than
    being silently dropped — the caller decides truncate-vs-reject.

    Plan shape: one corpus scan for token counts, grouped_rank's range
    partition (parallel across AND within classes), one hash agg to
    the bin manifest — rows out ~ n_docs / avg(k).

    Returns (size_class, bin_idx, n_docs, sum_tokens, waste) with
    ``waste = capacity - sum_tokens``.
    """
    from .mixing import _priority
    from .relational import grouped_rank

    if capacity < 1:
        raise ValueError(
            f"whole_doc_packing: capacity must be >= 1, got {capacity}"
        )
    # whitespace tokens; NULL text coalesces to "" and trim("") splits
    # to [""] so _tok >= 1 always — the class div below can never see
    # zero OR the size(NULL) = -1 sentinel (a NULL text otherwise
    # yields a negative size_class and a garbage bin)
    toks = F.size(_words(F.coalesce(F.col(text_col), F.lit("")))).cast("bigint")
    base = df.select(F.col(id_col), toks.alias("_tok")).withColumn(
        "size_class",
        F.when(F.col("_tok") > capacity, F.lit(0).cast("bigint")).otherwise(
            F.expr(f"{capacity} div _tok")
        ),
    )
    pri = _priority(id_col)
    ranked = grouped_rank(
        base.withColumn("_pri", pri),
        ["size_class"],
        [F.col("_pri"), F.col(id_col)],
        "_pos",
    )
    per_bin = F.when(
        F.col("size_class") == 0, F.lit(1).cast("bigint")
    ).otherwise(F.col("size_class"))
    return (
        ranked.withColumn("_pb", per_bin)
        .withColumn("bin_idx", F.expr("(_pos - 1) div _pb"))
        .groupBy("size_class", "bin_idx")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("_tok").cast("bigint").alias("sum_tokens"),
        )
        .withColumn(
            "waste",
            (F.lit(capacity).cast("bigint") - F.col("sum_tokens")).cast(
                "bigint"
            ),
        )
    )
