"""Generalized relational operators.

The reference's query surface (SURVEY.md §2.3-2.6) plus the standard OLAP
extensions Spark gives for free. Everything is a lazy DataFrame composition
— one shuffle per groupBy/join key change, dims broadcast explicitly.

Determinism-for-oracle note: SUM/AVG over doubles are order-sensitive in
the last ulp (partial aggregation order differs between engines). Queries
meant for hash-comparison against an external oracle should route double
sums through :func:`exact_sum` / :func:`exact_avg`, which cast to
DECIMAL(18,4) (exact, associative addition) and back — bit-identical
results on any engine at any parallelism, at ~zero cost at scale since
decimal sums stay in Tungsten codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .util import lineage_checkpoint


def exact_sum(col: str | Column, scale: int = 4) -> Column:
    """Order-insensitive double sum: decimal-sum then one double cast."""
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast(f"decimal(18,{scale})")).cast("double")


def exact_avg(col: str | Column, scale: int = 4) -> Column:
    """Order-insensitive mean: exact decimal sum / count, divided in IEEE
    double (deterministic), never a double accumulation."""
    c = F.col(col) if isinstance(col, str) else col
    return exact_sum(c, scale) / F.count(c)


def calendar_dim(
    spark: SparkSession, lo: Column | str, hi: Column | str
) -> DataFrame:
    """Dense daily calendar [lo, hi] with date parts — the generalized
    `datas` builder (job_parquet.py:261-280) as a reusable operator.
    Fully distributed via sequence+explode; no pandas date_range."""
    from ..functions.cleaning import date_parts

    cal = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(lo).cast("date"), F.lit(hi).cast("date"), F.expr("interval 1 day")
            )
        ).alias("data_medicao")
    )
    parts = date_parts("data_medicao")
    return cal.select("data_medicao", *[e.alias(n) for n, e in parts.items()])


def topk_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    k: int,
    descending: bool = True,
    tiebreak: str | None = None,
) -> DataFrame:
    """Top-k rows per group via row_number window. ``tiebreak`` must be a
    unique column for deterministic output (oracle comparability).

    At scale: Spark pushes a per-partition local top-k (WindowGroupLimit)
    before the shuffle since 3.5, so this does not materialize full groups.
    """
    order = [
        F.col(order_col).desc() if descending else F.col(order_col).asc(),
    ]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(*group_cols).orderBy(*order)
    return (
        df.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def sessionize(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_seconds: int,
) -> DataFrame:
    """Assign session ids: a new session starts when the gap to the
    previous event of the same user exceeds ``gap_seconds``.

    Classic lag + conditional cumsum (two stacked windows over the same
    partitioning -> one shuffle on ``user_col``). Streaming equivalent:
    ``session_window`` in streaming/windows.py.
    """
    w = Window.partitionBy(user_col).orderBy(ts_col)
    # microsecond precision: cast-to-long truncates to seconds and would
    # misclassify sub-second boundary gaps
    us = F.unix_micros(F.col(ts_col))
    gap = us - F.lag(us).over(w)
    is_new = F.when(gap.isNull() | (gap > gap_seconds * 1_000_000), 1).otherwise(0)
    return df.withColumn("_new_session", is_new).withColumn(
        "session_seq", F.sum("_new_session").over(w)
    ).drop("_new_session")


def sessionize_salted(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    gap_seconds: int,
    chunk_seconds: int = 21600,
) -> DataFrame:
    """Skew-hardened :func:`sessionize`: identical output, but the
    event-frame window partitions by the SALTED key (user, time-chunk)
    instead of user alone, so a power user's events spread across
    ``span / chunk_seconds`` tasks instead of landing in one — per-task
    state is bounded by events-per-chunk, never events-per-user.

    Three-step chunk-merge (the salted_join trick applied to a window):

    1. Within each (user, chunk): in-chunk gaps + in-chunk break flags
       over the salted window — the only corpus-sized shuffle.
    2. Per (user, chunk) aggregate (min/max ts, break count) — tiny
       frame, one row per user-chunk. A per-USER window over THAT frame
       decides whether each chunk's first event continues the previous
       chunk's last session (boundary gap <= threshold, correctly
       spanning empty chunks because lag skips to the previous chunk
       PRESENT) and computes each chunk's running session-count offset.
    3. Join the (first_new, offset) pair back on (user, chunk) — the
       same salted key the window already hash-partitioned, so no new
       corpus-sized exchange shape — and emit
       session_seq = offset + in-chunk cumulative breaks.

    The per-user window in step 2 runs over one row per user-chunk —
    state bounded by chunks-per-user, which is ~span/chunk_seconds
    regardless of how hot the user is.
    """
    g_us = gap_seconds * 1_000_000
    c_us = chunk_seconds * 1_000_000
    ev = df.withColumn("_us", F.unix_micros(F.col(ts_col))).withColumn(
        "_chunk", F.floor(F.col("_us") / c_us)
    )
    wc = Window.partitionBy(user_col, "_chunk").orderBy(ts_col)
    ev = ev.withColumn("_gap", F.col("_us") - F.lag("_us").over(wc))

    stats = ev.groupBy(user_col, "_chunk").agg(
        F.min("_us").alias("_lo"),
        F.max("_us").alias("_hi"),
        F.sum(F.when(F.col("_gap") > g_us, 1).otherwise(0)).alias("_n_breaks"),
    )
    wu = Window.partitionBy(user_col).orderBy("_chunk")
    prev_hi = F.lag("_hi").over(wu)
    stats = stats.withColumn(
        "_first_new", prev_hi.isNull() | (F.col("_lo") - prev_hi > g_us)
    )
    chunk_total = F.col("_n_breaks") + F.when(F.col("_first_new"), 1).otherwise(0)
    stats = stats.withColumn(
        "_offset",
        F.coalesce(
            F.sum(chunk_total).over(
                wu.rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    )

    joined = ev.join(
        stats.select(user_col, "_chunk", "_first_new", "_offset"),
        [user_col, "_chunk"],
    )
    is_new = F.when(
        F.col("_gap").isNull(),
        F.when(F.col("_first_new"), 1).otherwise(0),
    ).otherwise(F.when(F.col("_gap") > g_us, 1).otherwise(0))
    return (
        joined.withColumn(
            "session_seq",
            (F.col("_offset") + F.sum(is_new).over(wc)).cast("bigint"),
        )
        .drop("_us", "_chunk", "_gap", "_first_new", "_offset")
    )


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    tolerance_days: int | None = None,
) -> DataFrame:
    """As-of join: for every left row, the latest right row of the same
    key with ``right_ts <= left_ts`` (inclusive). Spark has no native
    ASOF JOIN; the classic distributed plan is union + ordered window:

      tag rows (right=0, left=1), union, one window per key ordered by
      (ts, tag, right-row order), carry ``last(right_payload, ignorenulls)``
      over the running frame, keep left rows.

    ONE shuffle on the key, no range explosion, no per-group pandas —
    this is the 100 TB shape (a merge_asof-in-applyInPandas variant would
    materialize whole groups in Python).

    ``tolerance_days`` (r16): the production staleness bound — a match
    older than ``tolerance_days`` days before ``left_ts`` is treated as
    NO match (pandas ``merge_asof(tolerance=...)`` / DuckDB ASOF with a
    range predicate). The matched right timestamp rides the carried
    struct, so the bound is ONE more projection on the same
    single-shuffle plan — never a second window or a range join. Day
    granularity (``datediff``), matching the date/timestamp columns
    this engine's surfaces join on.

    Output: all left columns + right columns (null when no match or
    the match is staler than the tolerance).
    """
    lcols = [c for c in left.columns]
    rcols = [c for c in right.columns if c not in (on, right_ts)]
    ldt, rdt = dict(left.dtypes), dict(right.dtypes)
    rpay = ",".join(f"{c}:{rdt[c]}" for c in rcols)
    l_ = left.select(
        F.col(on).alias("_k"),
        F.col(left_ts).alias("_ts"),
        F.lit(1).alias("_tag"),
        F.struct(*lcols).alias("_l"),
        F.lit(None).cast(
            f"struct<_mts:{rdt[right_ts]},_p:struct<{rpay}>>"
        ).alias("_r"),
    )
    r_ = right.select(
        F.col(on).alias("_k"),
        F.col(right_ts).alias("_ts"),
        F.lit(0).alias("_tag"),
        F.lit(None).cast(
            "struct<" + ",".join(f"{c}:{ldt[c]}" for c in lcols) + ">"
        ).alias("_l"),
        F.struct(
            F.col(right_ts).alias("_mts"), F.struct(*rcols).alias("_p")
        ).alias("_r"),
    )
    u = l_.unionByName(r_)
    w = (
        Window.partitionBy("_k")
        .orderBy("_ts", "_tag", "_r")  # right rows first at equal ts (>= semantics)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.withColumn("_match", F.last("_r", ignorenulls=True).over(w))
    if tolerance_days is not None:
        # a stale match is no match: null the payload, keep the row
        fresh = F.datediff(F.col("_ts"), F.col("_match._mts")) <= F.lit(
            int(tolerance_days)
        )
        carried = carried.withColumn(
            "_match", F.when(fresh, F.col("_match"))
        )
    out = carried.filter(F.col("_tag") == 1).select(
        *[F.col(f"_l.{c}").alias(c) for c in lcols],
        *[F.col(f"_match._p.{c}").alias(c) for c in rcols],
    )
    return out


def range_join_bucketed(
    left: DataFrame,
    ranges: DataFrame,
    value_col: str,
    lo_col: str,
    hi_col: str,
    bucket_width: float,
) -> DataFrame:
    """Range join (value BETWEEN lo AND hi) via bucketization: each range
    explodes to the integer buckets it spans, each value hashes to its one
    bucket, candidates equi-join on the bucket and the exact predicate
    filters. Each qualifying (row, range) pair matches in exactly one
    bucket (the value's), so no dedup is needed.

    Turns an O(N x R) theta join into a shuffle on bucket ids — the
    standard interval-join strategy when the ranges side is too big to
    broadcast; with a tiny ranges side Spark would broadcast-nested-loop
    anyway, but this form scales both sides.
    """
    rb = ranges.withColumn(
        "_bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / bucket_width).cast("long"),
                F.floor(F.col(hi_col) / bucket_width).cast("long"),
            )
        ),
    )
    lb = left.withColumn(
        "_bucket", F.floor(F.col(value_col) / bucket_width).cast("long")
    )
    return (
        lb.join(rb, "_bucket")
        .filter(
            (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) <= F.col(hi_col))
        )
        .drop("_bucket")
    )


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    n_salts: int = 8,
    salt_src: str | None = None,
) -> DataFrame:
    """Skew-resistant inner equi-join: the (large, skewed) left side gets a
    deterministic salt in [0, n_salts) and the right side is replicated
    once per salt, so a hot key's rows spread across ``n_salts`` reducers
    instead of one straggler. Result set is identical to ``left.join(
    right, on)``.

    Salt is ``pmod(xxhash64(row cols), n)`` — deterministic (no rand(),
    replayable under task retry, which nondeterministic salting is not)
    yet varying WITHIN a key (salting by the key itself would put the hot
    key back on one reducer). AQE's skew-join split covers sort-merge
    cases automatically; this operator is the explicit form for when the
    optimizer can't see the skew (e.g. skew introduced after an exchange).
    """
    src_cols = [F.col(salt_src)] if salt_src else [F.col(c) for c in left.columns]
    lb = left.withColumn("_salt", F.pmod(F.xxhash64(*src_cols), F.lit(n_salts)))
    rb = right.withColumn(
        "_salt",
        F.explode(
            F.sequence(F.lit(0).cast("long"), F.lit(n_salts - 1).cast("long"))
        ),
    )
    return lb.join(rb, [on, "_salt"]).drop("_salt")


def merge_partial_aggs(
    parts: DataFrame, keys: list[str], sum_cols: list[str]
) -> DataFrame:
    """Incremental aggregate maintenance (materialized-view refresh): merge
    pre-aggregated partials — a base aggregate table plus one or more
    delta-partition aggregates — into the refreshed aggregate by summing
    the mergeable measures per key.

    This is THE incremental-ETL primitive at 100 TB: a new ingest
    partition is aggregated alone (touching only its own data) and folded
    into the standing aggregate, instead of rescanning the full history.
    Works for any decomposable measure carried as (sum, count) partials —
    avg/stddev derive downstream. The merge groups by the keys over
    |keys|-cardinality rows, not raw data.
    """
    return parts.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in sum_cols]
    )


def skew_report(
    df: DataFrame, key_col: str, top_k: int = 10
) -> DataFrame:
    """Shuffle-skew diagnostics: the ``top_k`` hottest keys by row count
    with each key's share of the table — the "which key melts a reducer"
    report run before picking join/agg strategies (broadcast vs salting
    vs AQE skew-join) on a new dataset.

    Plan: one map-side-combined count aggregate (shuffle = one row per
    key per partition), a broadcast total, and a TakeOrderedAndProject
    for the top-k — no global sort, no full-table second pass (the
    per-key counts are checkpointed: both the total and the top-k read
    the aggregated frame, not the raw table). NULL keys form their own
    group and tie-break LAST (explicit nulls-last — Spark's ASC default
    is nulls-first, DuckDB's is nulls-last).
    """
    counts = (
        df.groupBy(F.col(key_col).alias("key"))
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .transform(lineage_checkpoint)
    )
    total = counts.agg(F.sum("n_rows").alias("_total"))
    top = (
        counts.orderBy(F.col("n_rows").desc(), F.col("key").asc_nulls_last())
        .limit(top_k)
        .crossJoin(F.broadcast(total))
    )
    w = Window.orderBy(F.col("n_rows").desc(), F.col("key").asc_nulls_last())
    return (
        top.withColumn("rank", F.row_number().over(w).cast("int"))
        .select(
            "rank",
            F.col("key").cast("string").alias("key"),
            "n_rows",
            (F.col("n_rows") / F.col("_total").cast("double")).alias("share"),
        )
    )


def column_profile(df: DataFrame, cols: list[str]) -> DataFrame:
    """Data-profiling summary (the warehouse ANALYZE/quality-report
    surface): one output row per profiled column with row count, null
    count, exact distinct count, and min/max rendered as strings (uniform
    schema across types).

    ONE scan, one aggregate: all per-column stats compute in a single
    groupBy-less agg (count_distinct adds its Expand internally — still
    one pass over the data), then the 1-row result unpivots to one row
    per column via inline(). At 100 TB this is scan-bound; swap
    count_distinct for approx_count_distinct when exactness isn't worth
    the distinct-expand shuffle.
    """
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"_n_{c}"),
            F.count(c).alias(f"_nn_{c}"),
            F.count_distinct(F.col(c)).alias(f"_nd_{c}"),
            F.min(c).cast("string").alias(f"_min_{c}"),
            F.max(c).cast("string").alias(f"_max_{c}"),
        ]
    one = df.agg(*aggs)
    rows = F.inline(
        F.array(
            *[
                F.struct(
                    F.lit(c).alias("column"),
                    F.col(f"_n_{c}").alias("n_rows"),
                    (F.col(f"_n_{c}") - F.col(f"_nn_{c}")).alias("n_nulls"),
                    F.col(f"_nd_{c}").alias("n_distinct"),
                    F.col(f"_min_{c}").alias("min_value"),
                    F.col(f"_max_{c}").alias("max_value"),
                )
                for c in cols
            ]
        )
    )
    return one.select(rows)


def _global_rank_with_total(
    df: DataFrame, order_exprs: list[Column], rank_col: str
) -> tuple[DataFrame, int]:
    """(ranked frame, total row count) — the count is a free by-product of
    the per-partition offset computation, so callers (global_ntile) never
    need a second counting job.

    Bound: ``monotonically_increasing_id`` packs (partition id << 33 |
    local row number), so a partition holding >= 2^33 (~8.6e9) rows would
    silently bleed its local offset into the partition bits and corrupt
    every downstream rank/bucket. The per-partition counts are already on
    the driver here, so the bound is CHECKED — violations raise instead of
    corrupting. At 2^33 rows a range partition is badly undersized anyway
    (tune ``spark.sql.shuffle.partitions`` up long before this trips)."""
    sorted_df = df.repartitionByRange(*order_exprs).sortWithinPartitions(
        *order_exprs
    )
    # checkpoint: the id is nondeterministic (depends on sampled range
    # bounds), and it feeds two jobs (counts collect + final output)
    with_id = sorted_df.withColumn(
        "_mid", F.monotonically_increasing_id()
    ).transform(lineage_checkpoint)
    pid = F.shiftright(F.col("_mid"), 33)
    local = F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
    counts = (
        with_id.groupBy(pid.alias("_pid"))
        .agg(F.count(F.lit(1)).alias("_n"))
        .collect()
    )
    offsets = {}
    acc = 0
    for r in sorted(counts, key=lambda r: r["_pid"]):
        if r["_n"] >= (1 << 33):
            raise ValueError(
                f"global_rank: range partition {r['_pid']} holds "
                f"{r['_n']} rows >= 2^33; monotonically_increasing_id's "
                f"local-offset field would overflow into the partition "
                f"bits. Repartition finer (raise "
                f"spark.sql.shuffle.partitions) before ranking."
            )
        offsets[r["_pid"]] = acc
        acc += r["_n"]
    spark = df.sparkSession
    off_df = spark.createDataFrame(
        [(int(p), int(o)) for p, o in offsets.items()], "_pid long, _off long"
    )
    ranked = (
        with_id.withColumn("_pid", pid)
        .join(F.broadcast(off_df), "_pid")
        .withColumn(rank_col, (F.col("_off") + local + 1).cast("bigint"))
        .drop("_mid", "_pid", "_off")
    )
    return ranked, acc


def global_rank(
    df: DataFrame, order_exprs: list[Column], rank_col: str = "_grank"
) -> DataFrame:
    """Exact global rank (1..N) over a total order, WITHOUT the
    single-partition sort of ``Window.orderBy`` with no partitioning (the
    `WindowExec: No Partition Defined` straggler at scale).

    Distributed plan:
      1. ``repartitionByRange`` on the order expressions (sampled bounds)
         + ``sortWithinPartitions`` — a total order across ascending
         partition ids, every task sorting only its slice;
      2. ``monotonically_increasing_id`` (= pid<<33 | local offset in
         iteration order, i.e. sorted order) captured under a lazy
         ``localCheckpoint`` so the nondeterministic id is computed once;
      3. per-partition row counts — ONE ROW PER PARTITION — collected,
         turned into cumulative offsets, broadcast-joined back;
      4. rank = partition offset + local offset + 1.

    Requirement: ``order_exprs`` must define a total order (include a
    unique tiebreak column); rows equal on all order columns may straddle
    a range boundary and would rank nondeterministically.
    """
    ranked, _ = _global_rank_with_total(df, order_exprs, rank_col)
    return ranked


def global_ntile(
    df: DataFrame,
    order_exprs: list[Column],
    n: int,
    out_col: str = "bucket",
) -> DataFrame:
    """Exact ``ntile(n)`` over a global order, scale-safely (via
    :func:`global_rank` — no single-partition WindowExec anywhere).

    SQL ntile fill rule: with N rows, the first ``N mod n`` buckets hold
    ``ceil(N/n)`` rows, the rest ``floor(N/n)`` — reproduced here as a
    closed-form expression of (rank, N), so the result is bit-identical
    to the window form and to the DuckDB oracle.
    """
    # the total falls out of global_rank's offset pass — no extra job
    ranked, total = _global_rank_with_total(df, order_exprs, "_grank")
    q, rem = divmod(total, n)
    r = F.col("_grank")
    if q == 0:
        bucket = r
    else:
        head = rem * (q + 1)
        # integer `div` — exact at any N (double division would round past
        # 2^53 rows)
        bucket = F.when(
            r <= F.lit(head), F.expr(f"(_grank + {q}) div {q + 1}")
        ).otherwise(F.expr(f"{rem} + (_grank - {head} + {q - 1}) div {q}"))
    return ranked.withColumn(out_col, bucket.cast("int")).drop("_grank")


def grouped_rank(
    df: DataFrame,
    group_cols: list[str],
    order_exprs: list[Column],
    rank_col: str = "_grank",
    total_col: str | None = None,
) -> DataFrame:
    """Exact per-group rank (1..N_g within each group) WITHOUT the
    single-task-per-group sort of ``Window.partitionBy(group)`` — the
    scale-killer when the group count is a small semantic constant
    (epochs, curriculum phases, mixture strata with variable quotas):
    under the window form a 3-epoch corpus sorts ENTIRELY on 3 tasks,
    however many executors exist (VERDICT r14 item 1).

    Distributed plan (the :func:`global_rank` idiom generalized to
    groups):

    1. ``repartitionByRange(group ++ order)`` + ``sortWithinPartitions``
       — every group spans MANY consecutive range partitions, every task
       sorts only its slice;
    2. ``monotonically_increasing_id`` (pid<<33 | local offset in sorted
       order) under a lazy ``localCheckpoint`` so the nondeterministic
       id is computed once for both consumers;
    3. ONE map-side-combined hash-agg: rows and first local offset per
       (partition, group) — O(P + G) rows, because a range partition
       holds one contiguous key slice (each group adds at most one
       boundary split);
    4. a prefix-sum window over THAT aggregated frame (bounded by
       P + G, never the corpus — the token-budget apportionment
       pattern) gives each (partition, group) run the count of its
       group's rows in earlier partitions;
    5. rank = local offset - run start + group prefix + 1, attached by
       a broadcast join on (partition id, group).

    ``total_col``: optionally also attach the per-group row total —
    free, it is the unbounded sum over the same tiny counts frame.

    Requirement: ``group_cols ++ order_exprs`` must totally order the
    frame (include a unique tiebreak); rows equal on all sort keys may
    straddle a range boundary and rank nondeterministically. The 2^33
    rows-per-partition bound of ``monotonically_increasing_id`` is
    guarded in-plan, and the guard is EXACT: each row captures
    ``spark_partition_id()`` in the same task that assigns its id, and
    any row whose id-extracted partition bits disagree (the local
    offset has bled past 2^33 into them — the masked local field alone
    can NEVER exceed the bound, so checking it would be a tautology;
    the r15 self-review caught exactly that) trips an ``assert_true``
    on the tiny offsets frame, failing the job instead of silently
    corrupting ranks.
    """
    gcols = [F.col(c) for c in group_cols]
    sorted_df = df.repartitionByRange(
        *gcols, *order_exprs
    ).sortWithinPartitions(*gcols, *order_exprs)
    with_id = lineage_checkpoint(
        sorted_df.select(
            "*",
            F.monotonically_increasing_id().alias("_mid"),
            F.spark_partition_id().alias("_spid"),
        )
    )
    pid = F.shiftright(F.col("_mid"), 33)
    local = F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
    counts = with_id.groupBy(pid.alias("_opid"), *group_cols).agg(
        F.count(F.lit(1)).alias("_n"),
        F.min(local).alias("_start"),
        F.count_if(F.shiftright(F.col("_mid"), 33) != F.col("_spid"))
        .alias("_bleed"),
    )
    w_prefix = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col("_opid").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_total = Window.partitionBy(*group_cols)
    offsets = (
        counts.withColumn(
            "_adj",
            F.coalesce(F.sum("_n").over(w_prefix), F.lit(0))
            - F.col("_start"),
        )
        .withColumn("_gtot", F.sum("_n").over(w_total))
        # 2^33 guard: any bled row (id partition bits != the task's
        # real partition id) means a range partition overflowed
        # monotonically_increasing_id's local field; assert_true raises
        # at runtime instead of emitting corrupted ranks. NULL-safe:
        # success returns NULL, so isNull() keeps every row.
        .filter(
            F.assert_true(
                F.col("_bleed") == 0,
                F.lit(
                    "grouped_rank: a range partition holds > 2^33 rows"
                    " (monotonically_increasing_id local-offset bleed);"
                    " raise spark.sql.shuffle.partitions before ranking"
                ),
            ).isNull()
        )
    )
    for i, c in enumerate(group_cols):
        offsets = offsets.withColumnRenamed(c, f"_g{i}")
    cond = F.col("_pid") == F.col("_opid")
    for i, c in enumerate(group_cols):
        cond = cond & F.col(c).eqNullSafe(F.col(f"_g{i}"))
    out = (
        with_id.withColumn("_pid", pid)
        .join(F.broadcast(offsets), cond)
        .withColumn(rank_col, (local + F.col("_adj") + 1).cast("bigint"))
    )
    if total_col is not None:
        out = out.withColumn(total_col, F.col("_gtot").cast("bigint"))
    return out.drop(
        "_mid", "_spid", "_pid", "_opid", "_n", "_start", "_bleed",
        "_adj", "_gtot",
        *[f"_g{i}" for i in range(len(group_cols))],
    )


def grouped_running_sum(
    df: DataFrame,
    group_cols: list[str],
    order_exprs: list[Column],
    weight_col: str,
    out_col: str = "_rsum",
    total_col: str | None = None,
) -> DataFrame:
    """Per-group RUNNING SUM (inclusive prefix sum of ``weight_col`` in
    ``order_exprs`` order within each group) WITHOUT the
    single-task-per-group sort of ``Window.partitionBy(group)`` — the
    prefix-sum sibling of :func:`grouped_rank`, for the weighted-median
    / cumulative-distribution shape where the group count is a small
    semantic constant (the r15 LOWCARD-WINDOW audit caught exactly this
    in q109: 3 return flags x ~200k distinct prices PER TASK).

    Distributed plan:

    1. ``repartitionByRange(group ++ order)`` + ``sortWithinPartitions``
       — every group spans many consecutive range partitions;
    2. ``spark_partition_id()`` captured under a lazy localCheckpoint
       (two consumers);
    3. per-(partition, group) weight totals — ONE tiny hash agg,
       O(P + G) rows by range contiguity — prefix-summed per group over
       that frame (the documented-safe tiny-frame window) to give each
       run its group offset in earlier partitions;
    4. the within-run running sum is a window partitioned by
       (partition id, group) — P x G window partitions, each a
       task-sized range slice, so parallelism GROWS with the cluster
       instead of being pinned at |groups| (this costs one hash
       exchange on (pid, group); the trade is 2 exchanges at P x G
       parallelism vs 1 exchange at G tasks);
    5. running sum = group offset + within-run prefix sum, attached by
       broadcast join on (partition id, group).

    ``total_col``: optionally attach the per-group grand total (free —
    the unbounded sum over the same tiny counts frame).

    Requirement: ``group_cols ++ order_exprs`` must totally order the
    frame; ties straddling a range boundary would split their prefix
    nondeterministically.
    """
    gcols = [F.col(c) for c in group_cols]
    sorted_df = df.repartitionByRange(
        *gcols, *order_exprs
    ).sortWithinPartitions(*gcols, *order_exprs)
    with_pid = lineage_checkpoint(
        sorted_df.withColumn("_spid", F.spark_partition_id())
    )
    counts = with_pid.groupBy("_spid", *group_cols).agg(
        F.sum(weight_col).alias("_wn")
    )
    w_prefix = (
        Window.partitionBy(*group_cols)
        .orderBy(F.col("_spid").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_total = Window.partitionBy(*group_cols)
    offsets = counts.withColumn(
        "_off", F.coalesce(F.sum("_wn").over(w_prefix), F.lit(0))
    ).withColumn("_gtot", F.sum("_wn").over(w_total))
    offsets = offsets.withColumnRenamed("_spid", "_ospid")
    for i, c in enumerate(group_cols):
        offsets = offsets.withColumnRenamed(c, f"_g{i}")
    w_local = (
        Window.partitionBy("_spid", *group_cols)
        .orderBy(*order_exprs)
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cond = F.col("_spid") == F.col("_ospid")
    for i, c in enumerate(group_cols):
        cond = cond & F.col(c).eqNullSafe(F.col(f"_g{i}"))
    out = (
        with_pid.withColumn("_loc", F.sum(weight_col).over(w_local))
        .join(F.broadcast(offsets), cond)
        .withColumn(out_col, F.col("_off") + F.col("_loc"))
    )
    if total_col is not None:
        out = out.withColumn(total_col, F.col("_gtot"))
    return out.drop(
        "_spid", "_ospid", "_wn", "_off", "_gtot", "_loc",
        *[f"_g{i}" for i in range(len(group_cols))],
    )


def merge_upsert(base: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """SCD1 upsert (the batch MERGE INTO): update rows replace base rows on
    the key; unmatched base rows pass through; unmatched update rows insert.

    Expressed as updates ∪ (base ⟕anti updates): one hash/sort-merge
    anti-join on the key plus a union — no driver state, no per-row logic.
    At scale this is the foreachBatch body of a CDC sink (see
    streaming.windows.stream_to_parquet_idempotent for the idempotent
    write half); with base bucketed on the key the anti-join is
    exchange-free.
    """
    survivors = base.join(updates.select(key), key, "left_anti")
    return updates.unionByName(survivors)


def integer_histogram(
    df: DataFrame,
    value_expr: Column,
    n_bins: int,
    lo: int,
    hi: int,
) -> DataFrame:
    """Fixed-width integer histogram over ``[lo, hi)``: bin =
    ``clamp((v - lo) * n_bins div (hi - lo), 0, n_bins - 1)`` — all
    BIGINT arithmetic (integer ``div``, engine-portable), one
    map-side-combined hash agg, output bounded by ``n_bins`` rows.
    Values outside the range clamp into the edge bins, so the
    histogram is total over NON-NULL values; NULLs are EXCLUDED (a
    NULL would otherwise slip through Spark's NULL-skipping
    ``greatest`` into bin 0 as a phantom minimum — r15 self-review).
    The mergeable building block under :func:`histogram_quantiles`
    and the st20 streaming fold (per-bin counts are a SUM monoid).

    Overflow-safe by construction: values clamp into ``[lo, hi)``
    BEFORE the bin multiply (clamp-then-bin and bin-then-clamp agree
    on every input, but the former bounds the product), and the
    remaining ``(hi - lo) * n_bins`` magnitude is pre-checked on the
    driver — a wrapped product would misbin silently.

    Returns (bin, n_rows, min_value, max_value) — min/max over the
    RAW (pre-clamp) values in each bin, so edge-bin outliers stay
    visible.
    """
    if hi <= lo:
        raise ValueError(f"integer_histogram: need hi > lo, got [{lo}, {hi})")
    if (hi - lo) * n_bins >= 2**63:
        raise ValueError(
            f"integer_histogram: (hi - lo) * n_bins = "
            f"{(hi - lo) * n_bins} would overflow int64; use fewer "
            "bins or a narrower range"
        )
    v = value_expr.cast("bigint")
    # integer `div`, never float division: double rounding would misbin
    # values past 2^53 and drift from the DuckDB `//` replay
    clamped = F.least(
        F.lit(hi - 1).cast("bigint"),
        F.greatest(F.lit(lo).cast("bigint"), F.col("_v")),
    )
    return (
        df.select(v.alias("_v"))
        .filter(F.col("_v").isNotNull())
        .withColumn("_c", clamped)
        .withColumn("bin", F.expr(f"(_c - {lo}) * {n_bins} div {hi - lo}"))
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("_v").alias("min_value"),
            F.max("_v").alias("max_value"),
        )
    )


def histogram_quantiles(
    df: DataFrame,
    value_expr: Column,
    n_bins: int,
    quantiles_ppm: list[int],
    lo: int | None = None,
    hi: int | None = None,
) -> DataFrame:
    """Quantiles from a mergeable fixed-width histogram — the NO-SORT
    quantile path at 100 TB: exact global quantiles need a total order
    (``global_ntile``'s range shuffle); this sketch answers "which
    bin does quantile q fall in" with ONE corpus pass (two with
    data-derived bounds), resolution = bin width, cost O(n_bins) state
    — the production percentile monitor (latency dashboards, length
    filters, difficulty cutoffs) where bin-width resolution is the
    accepted trade.

    All arithmetic integer and engine-exact: bounds come from a 1-row
    min/max aggregate when not supplied (broadcast — the x5
    distribution-aware pattern; ``hi`` becomes max+1 so the maximum
    lands in the top bin), ranks are ``ceil(N * q / 1e6)`` by integer
    division, and the answer bin is the first whose cumulative count
    reaches the rank — a prefix-sum window over the n_bins-row
    aggregated frame (the documented-safe tiny-frame window, never the
    corpus).

    Returns one row per requested quantile: (q_ppm, bin, bin_lo,
    bin_hi, n_le) — [bin_lo, bin_hi) in value units, n_le = cumulative
    rows through the bin.
    """
    spark = df.sparkSession
    bad = [q for q in quantiles_ppm if not 0 <= int(q) <= 1_000_000]
    if bad or not quantiles_ppm:
        # an out-of-range q would cross no bin and silently VANISH
        # from the output (r15 self-review) — reject it up front
        raise ValueError(
            f"histogram_quantiles: quantiles_ppm must be non-empty and "
            f"within [0, 1000000], got {bad or quantiles_ppm}"
        )
    v = value_expr.cast("bigint")
    if lo is None or hi is None:
        b = df.agg(
            F.min(v).cast("bigint").alias("_lo"),
            (F.max(v) + 1).cast("bigint").alias("_hi"),
        ).collect()[0]
        if b["_lo"] is None or b["_hi"] is None:
            raise ValueError(
                "histogram_quantiles: cannot derive bounds from an "
                "empty (or all-NULL) frame; pass lo/hi explicitly or "
                "feed at least one non-NULL value"
            )
        lo = int(b["_lo"]) if lo is None else lo
        hi = int(b["_hi"]) if hi is None else hi
    hist = integer_histogram(df, value_expr, n_bins, lo, hi)
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = (
        hist.withColumn("_cum", F.sum("n_rows").over(w))
        .transform(lineage_checkpoint)  # consumers: totals + crossing join
    )
    # Bounded driver scalar (materializes the lazy checkpoint the
    # crossing join reuses): an EMPTY histogram must raise on the
    # explicit-bounds path too — requested quantiles crossing no bin
    # would otherwise silently vanish from the output, the exact
    # failure mode the q-range guard above exists to prevent
    # (ADVICE r16; the derived-bounds path already raised).
    n_total = cum.agg(F.max("_cum").alias("_n")).collect()[0]["_n"]
    if n_total is None:
        raise ValueError(
            "histogram_quantiles: histogram is empty (no non-NULL "
            "values in the frame); quantiles are undefined"
        )
    qdf = (
        spark.createDataFrame(
            [(int(q),) for q in quantiles_ppm], "q_ppm bigint"
        )
        .withColumn("_n", F.lit(int(n_total)).cast("bigint"))
        .withColumn(
            "_rank",
            F.greatest(
                F.lit(1).cast("bigint"),
                F.expr("(_n * q_ppm + 999999) div 1000000"),
            ),
        )
    )
    crossing = (
        qdf.join(F.broadcast(cum), F.col("_cum") >= F.col("_rank"))
        .groupBy("q_ppm")
        .agg(F.min("bin").alias("bin"))
    )
    span = hi - lo
    return (
        crossing.join(F.broadcast(cum), "bin")
        .select(
            "q_ppm",
            F.col("bin").cast("bigint").alias("bin"),
            F.expr(f"cast({lo} + bin * {span} div {n_bins} as bigint)")
            .alias("bin_lo"),
            F.expr(
                f"cast({lo} + (bin + 1) * {span} div {n_bins} as bigint)"
            ).alias("bin_hi"),
            F.col("_cum").cast("bigint").alias("n_le"),
        )
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    percent: int = 10,
) -> DataFrame:
    """Deterministic stratified sampling: within each stratum, keep the
    first ceil(percent% of rows) ordered by md5(id) — a reproducible
    pseudo-random draw with exact per-stratum proportions (unlike
    ``df.sampleBy``, whose Bernoulli draw gives only expected fractions
    and differs across runs/engines).

    Ranks come from :func:`grouped_rank` (range-partitioned, every
    stratum spans many tasks) — NOT ``Window.partitionBy(stratum)``: a
    corpus with few strata would sort each stratum's full membership on
    ONE task, and the variable (count-derived) quota bound defeats the
    WindowGroupLimit pre-keep that rescues literal-k rank filters (the
    r15 LOWCARD-WINDOW audit caught exactly this here: 5 langs x 1000
    rows/task at sf0.1). The per-stratum total rides the same tiny
    per-(partition, stratum) counts frame — no extra corpus pass. Quota
    uses integer ceil-division — no float rounding. Percent-exact
    sampling is inherently a per-stratum total order; use hash-threshold
    (approximate) sampling instead when exactness isn't required.
    """
    ranked = grouped_rank(
        df.withColumn("_h", F.md5(F.col(id_col).cast("string"))),
        [strata_col],
        [F.col("_h").asc(), F.col(id_col).asc()],
        "pick",
        total_col="strata_n",
    ).drop("_h")
    ranked = ranked.withColumn("pick", F.col("pick").cast("int"))
    quota = F.floor((F.col("strata_n") * percent + 99) / 100)
    return ranked.filter(F.col("pick") <= quota)


def time_weighted_avg(
    df: DataFrame,
    key_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Left-Riemann time-weighted average over an irregular series — the
    correct mean for sensor/meter data where observations arrive at
    uneven intervals (a plain AVG over-weights bursts; the INMET hourly
    tables dodge this only because their grid is regular). Each
    observation holds its value until the next one; its weight is that
    gap. Keys with a single observation have no interval and are
    excluded (documented contract), as are degenerate keys whose
    observations all share one timestamp (span 0): under ANSI mode an
    integer `div` by zero would throw at runtime while DuckDB's `//`
    returns NULL, so the zero-span group is filtered out BEFORE the
    division is projected — same contract in both engines.

    Exactness: values quantize to BIGINT cents BEFORE weighting, gaps
    are integer microseconds, and the final division is a single integer
    `div` — order-free and engine-neutral end to end. Magnitude check:
    cents (~1e4) x gap_us (~1e9) x rows/key stays far under 2^63 for
    any realistic sensor cadence; a corpus with multi-year gaps AND
    1e6-cent values should pre-scale to milli-units.

    Plan shape: ONE shuffle — the lead() window partitions by key, and
    the following groupBy reuses the same hash partitioning (Catalyst
    elides the second exchange), so the whole operator is
    window + partial/final agg over co-partitioned data.
    """
    d = df.select(
        key_col,
        tiebreak_col,
        F.unix_micros(F.col(ts_col)).alias("_us"),
        (F.col(value_col).cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("_v_cents"),
    )
    w = Window.partitionBy(key_col).orderBy(
        F.col("_us").asc(), F.col(tiebreak_col).asc()
    )
    d = d.withColumn("_gap_us", F.lead("_us").over(w) - F.col("_us"))
    g = d.filter(F.col("_gap_us").isNotNull())
    # Sums first, filter zero spans, divide in a post-filter projection:
    # the div expression is never evaluated for a span_us = 0 group.
    agg = g.groupBy(key_col).agg(
        (F.count(F.lit(1)) + 1).cast("bigint").alias("n_obs"),
        F.sum("_gap_us").alias("span_us"),
        F.sum(F.expr("_v_cents * _gap_us")).alias("_wsum"),
    ).filter(F.col("span_us") > 0)
    return agg.select(
        key_col,
        "n_obs",
        "span_us",
        F.expr("_wsum div span_us").alias("twa_cents"),
    )


def bloom_prune_semi_join(
    fact: DataFrame,
    keys: DataFrame,
    fact_key: str,
    key_col: str,
    n_bits: int = 1 << 20,
    n_hashes: int = 3,
) -> DataFrame:
    """Semi join with an explicit BLOOM-FILTER runtime prune — the
    technique Spark's AQE applies internally (runtime row-group/shuffle
    filters), surfaced as an operator so the plan works on engines/
    situations where AQE cannot inject it (e.g. the key set is the
    output of an earlier stage, or the probe side is a non-splittable
    source).

    Build: each key sets ``n_hashes`` seeded-xxhash64 bit positions;
    positions fold into 64-bit words with a ``bit_or`` hash aggregate —
    the filter is a (word_idx, bits) frame of at most ``n_bits/64``
    rows (16 KiB of payload per MiB of bits), which BROADCASTS.
    Probe: each fact row looks up its ``n_hashes`` words via broadcast
    joins and survives only if every bit is set; survivors then run the
    EXACT semi join (false positives removed), so the result equals the
    plain semi join bit for bit — the bloom stage only reduces the rows
    entering the (shuffled) exact join, exactly like a runtime filter.
    At 100 TB with a selective key side this turns a full-fact shuffle
    into a shuffle of the ~selectivity fraction (plus the bloom FP rate,
    ~(1-e^{-kn/m})^k).
    """
    pos_cols = [
        F.pmod(F.xxhash64(F.col(key_col), F.lit(i)), F.lit(n_bits)).alias(
            f"_p{i}"
        )
        for i in range(n_hashes)
    ]
    bits = (
        keys.select(*pos_cols)
        .select(
            F.explode(F.array(*[F.col(f"_p{i}") for i in range(n_hashes)]))
            .alias("_pos")
        )
        .select(
            F.expr("cast(_pos div 64 as int)").alias("_w"),
            F.expr("shiftleft(1L, cast(_pos % 64 as int))").alias("_m"),
        )
        .groupBy("_w")
        .agg(F.expr("bit_or(_m)").alias("_bits"))
        .transform(lineage_checkpoint)
    )
    probe = fact
    keep = F.lit(True)
    for i in range(n_hashes):
        b_i = bits.select(
            F.col("_w").alias(f"_w{i}"), F.col("_bits").alias(f"_b{i}")
        )
        probe = probe.withColumn(
            f"_h{i}",
            F.pmod(F.xxhash64(F.col(fact_key), F.lit(i)), F.lit(n_bits)),
        ).join(
            F.broadcast(b_i),
            F.expr(f"cast(_h{i} div 64 as int)") == F.col(f"_w{i}"),
            "left",
        )
        keep = keep & (
            F.expr(f"_b{i} & shiftleft(1L, cast(_h{i} % 64 as int))") != 0
        )
    pruned = probe.filter(keep).select(fact.columns)
    # exact verify: the real semi join runs on the pruned survivors only.
    # The key side is aliased so fact_key == key_col (same column name on
    # both sides) cannot raise an ambiguous-reference AnalysisException;
    # both join operands are DataFrame-qualified so even a fact table that
    # itself has a `_bloom_exact_key` column resolves unambiguously
    # (ADVICE r8).
    keys_frame = keys.select(F.col(key_col).alias("_bloom_exact_key"))
    return pruned.join(
        keys_frame,
        pruned[fact_key] == keys_frame["_bloom_exact_key"],
        "left_semi",
    )


def skew_split_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    hot_threshold: int = 10_000,
) -> DataFrame:
    """Skew-split (hybrid broadcast/shuffle) inner join — the
    production answer to a join where a handful of hot keys would
    overwhelm single reducers: a cheap stats pass finds keys whose fact
    row count exceeds ``hot_threshold`` (the hot-key frame is by
    construction tiny — at most |fact| / threshold rows — and
    broadcasts), then

    - HOT fact rows join the hot slice of the dim via BROADCAST (no
      shuffle of the skewed mass at all — each executor streams its
      hot rows against an in-memory dim slice), and
    - COLD fact rows take the normal shuffle join, now guaranteed
      skew-free (every remaining key is under the threshold).

    The union of the two paths equals the plain inner join exactly.
    This subsumes per-key salting (q28/q72) when the dim side of the
    hot keys fits in memory — no row multiplication, no salt-column
    bookkeeping; AQE's skew-join handles sort-merge spills, but it
    cannot convert the hot keys to a broadcast path on its own when
    the dim is over the auto-broadcast limit (only the HOT SLICE needs
    to fit, which this operator exploits).
    """
    stats = (
        fact.groupBy(fact_key)
        .agg(F.count(F.lit(1)).alias("_n"))
        .filter(F.col("_n") > hot_threshold)
        .select(F.col(fact_key).alias("_hot_key"))
        .transform(lineage_checkpoint)
    )
    fact_hot = fact.join(
        F.broadcast(stats), fact[fact_key] == F.col("_hot_key"), "left_semi"
    )
    fact_cold = fact.join(
        F.broadcast(stats), fact[fact_key] == F.col("_hot_key"), "left_anti"
    )
    dim_hot = dim.join(
        F.broadcast(stats), dim[dim_key] == F.col("_hot_key"), "left_semi"
    )
    if fact_key == dim_key:
        # Same key name on both sides: join on the column NAME so Spark
        # coalesces it into a single output column — the expression form
        # would emit duplicate columns and make unionByName ambiguous.
        hot = fact_hot.join(F.broadcast(dim_hot), on=fact_key)
        cold = fact_cold.join(dim, on=fact_key)
    else:
        hot = fact_hot.join(
            F.broadcast(dim_hot), fact_hot[fact_key] == dim_hot[dim_key]
        )
        cold = fact_cold.join(dim, fact_cold[fact_key] == dim[dim_key])
    return hot.unionByName(cold)


def hierarchy_root_depth(
    edges: DataFrame,
    node_col: str = "node",
    parent_col: str = "parent",
    max_rounds: int = 6,
) -> DataFrame:
    """Recursive hierarchy traversal (org charts, BOM explosions,
    category trees) — the WITH RECURSIVE query shape Spark SQL lacks,
    as a bounded-round POINTER-DOUBLING fold: every node resolves its
    ROOT ancestor and its DEPTH (edge count to the root) in
    O(log max_depth) self-joins, not O(depth) sequential steps.

    ``edges`` holds one row per node with its parent; ROOTS point at
    themselves (parent == node). Each round joins the current
    (node -> known ancestor, depth) frame with itself, composing jumps:
    after round r every node knows its 2^r-step ancestor (or its root,
    which self-loops at +0 depth, making the fold idempotent at the
    fixpoint). ``max_rounds`` rounds therefore resolve any hierarchy of
    depth <= 2^max_rounds (default 64 — deeper than any real
    organizational/BOM tree; raise it for pathological chains).

    Plan shape per round: ONE co-partitioned equi self-join (shuffle on
    the ancestor key) + lazy localCheckpoint to truncate lineage — the
    d5/g1 iterative idiom. Nothing driver-side, nothing quadratic;
    total work O(N log depth). Returns (node, root, depth).

    Fail-loudly contract (the connected_components precedent): if any
    node's resolved ancestor is still NOT a root after ``max_rounds``
    (hierarchy deeper than 2^max_rounds, or a parent cycle — which
    never reaches a self-looping root), the function RAISES instead of
    returning silently-partial ancestors. The check is one bounded
    probe job (semi join against non-root nodes + limit 1).
    """
    # Dangling-parent gate: a node whose parent id has NO row in the
    # node set would silently vanish from the inner self-join on round
    # 1 AND escape the post-loop stuck probe (which only scans rows
    # still present) — contradicting the fail-loudly contract (ADVICE
    # r9). One bounded probe job: anti-join parent ids against node
    # ids, raise on the first orphan.
    dangling = (
        edges.select(F.col(parent_col).alias("_p"))
        .join(
            edges.select(F.col(node_col).alias("_n")),
            F.col("_p") == F.col("_n"),
            "left_anti",
        )
        .limit(1)
        .collect()
    )
    if dangling:
        raise ValueError(
            f"hierarchy_root_depth: parent id {dangling[0]['_p']!r} has "
            "no node row — the hierarchy is malformed (dangling parent). "
            "Add the missing node (roots must self-loop: parent == node)."
        )
    cur = edges.select(
        F.col(node_col).alias("node"),
        F.col(parent_col).alias("anc"),
        F.when(F.col(parent_col) == F.col(node_col), F.lit(0))
        .otherwise(F.lit(1))
        .cast("bigint")
        .alias("depth"),
    ).transform(lineage_checkpoint)
    for _ in range(max_rounds):
        m = cur.select(
            F.col("node").alias("_n"),
            F.col("anc").alias("_a"),
            F.col("depth").alias("_d"),
        )
        cur = (
            cur.join(m, cur["anc"] == m["_n"])
            .select(
                "node",
                F.col("_a").alias("anc"),
                (F.col("depth") + F.col("_d")).alias("depth"),
            )
            .transform(lineage_checkpoint)
        )
    non_roots = edges.filter(
        F.col(parent_col) != F.col(node_col)
    ).select(F.col(node_col).alias("_nr"))
    stuck = (
        cur.join(non_roots, cur["anc"] == non_roots["_nr"], "left_semi")
        .limit(1)
        .collect()
    )
    if stuck:
        raise ValueError(
            f"hierarchy_root_depth: node {stuck[0]['node']!r} has not "
            f"reached a root after {max_rounds} doubling rounds (depth > "
            f"2^{max_rounds}, or a parent cycle). Raise max_rounds, or "
            "fix the cycle."
        )
    return cur.select("node", F.col("anc").alias("root"), "depth")


def compaction_plan(
    manifest: DataFrame,
    partition_cols: list[str],
    file_col: str,
    size_col: str,
    target_bytes: int,
) -> DataFrame:
    """Small-file compaction planner (Delta/Iceberg ``OPTIMIZE``-style
    bin packing): group each table partition's files into rewrite bins
    of roughly ``target_bytes`` so a maintenance job can coalesce the
    long tail of small files that kills scan throughput at scale (one
    task + one open/close per file; 100 TB tables routinely hold 1e6+
    files).

    Deterministic sequential packing — files ordered largest-first
    (size desc, name asc tiebreak), exclusive running sum divided by
    ``target_bytes`` gives the bin id. Largest-first mirrors the
    greedy-FFD shape real OPTIMIZE implementations use while staying a
    pure window expression any engine replays bit for bit.

    Scale: the input is the FILE MANIFEST — one row per file, metadata
    ~1e-6 of the data — so the windows here are cheap no matter the
    table size; partitions bound each window's width. Output: one row
    per file with its assigned ``bin_id`` plus per-bin file count /
    byte totals (a bin with one file and >= target bytes is already
    compact — callers skip single-file bins).
    """
    size = F.col(size_col).cast("bigint")
    w = (
        Window.partitionBy(*partition_cols)
        .orderBy(size.desc(), F.col(file_col).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # `div` = exact bigint division (no double rounding at any size)
    binned = manifest.withColumn(
        "_cum_excl", F.sum(size).over(w) - size
    ).withColumn(
        "bin_id", F.expr(f"_cum_excl div {int(target_bytes)}")
    ).drop("_cum_excl")
    wb = Window.partitionBy(*partition_cols, "bin_id")
    return (
        binned.withColumn("bin_files", F.count(F.lit(1)).over(wb))
        .withColumn("bin_bytes", F.sum(size).over(wb))
        .withColumn("size_bytes", size)
    )


def zorder_value(x: Column, y: Column, bits: int = 16) -> Column:
    """Morton (Z-order) interleave of the low ``bits`` bits of two
    non-negative integer columns — the space-filling-curve key behind
    multi-column data clustering (``OPTIMIZE ZORDER BY``): sorting by
    the interleaved key co-locates rows close in BOTH dimensions, so
    per-file min/max zone maps prune scans filtered on either column.

    Pure integer arithmetic (((x >> i) & 1) * 2^(2i) terms), fully
    inside whole-stage codegen and bit-replayable by any engine — no
    UDF, no lookup table.
    """
    xb = x.cast("bigint")
    yb = y.cast("bigint")
    z: Column = F.lit(0).cast("bigint")
    for i in range(bits):
        z = (
            z
            + F.shiftright(xb, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i))
            + F.shiftright(yb, i).bitwiseAND(F.lit(1))
            * F.lit(1 << (2 * i + 1))
        )
    return z


def zorder_layout(
    df: DataFrame,
    x_col: str,
    y_col: str,
    n_files: int,
    tiebreak: list[str],
    bits: int = 16,
) -> DataFrame:
    """Plan a Z-ordered file layout and report its zone-map quality:
    assign every row to one of ``n_files`` equal-size output files by
    global ntile over the Morton key (exactly how an OPTIMIZE ZORDER
    write range-partitions by curve position), then emit ONE ROW PER
    FILE with its zone map — min/max of both clustering columns plus
    the covered curve range — the statistics a scan planner would use
    to skip files.

    The global sort is by :func:`global_ntile` (range partition +
    per-partition offsets — no single-partition WindowExec), i.e. the
    same shuffle an actual Z-ordered write performs; everything after
    is a file-count-sized aggregate. Inputs are masked to the low
    ``bits`` bits so the key stays dense; ``tiebreak`` must make the
    total order unique.
    """
    mask = (1 << bits) - 1
    keyed = df.select(
        F.col(x_col).cast("bigint").bitwiseAND(F.lit(mask)).alias("zx"),
        F.col(y_col).cast("bigint").bitwiseAND(F.lit(mask)).alias("zy"),
        *[F.col(c) for c in tiebreak],
    ).withColumn("zval", zorder_value(F.col("zx"), F.col("zy"), bits))
    order = [F.col("zval").asc()] + [F.col(c).asc() for c in tiebreak]
    filed = global_ntile(keyed, order, n_files, out_col="file_id")
    return (
        filed.groupBy("file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("zx").alias("min_x"),
            F.max("zx").alias("max_x"),
            F.min("zy").alias("min_y"),
            F.max("zy").alias("max_y"),
            F.min("zval").alias("min_z"),
            F.max("zval").alias("max_z"),
        )
        .orderBy("file_id")
    )


def zonemap_prune_stats(
    df: DataFrame,
    file_expr: Column,
    value_col: str,
    lo,
    hi,
) -> DataFrame:
    """Zone-map (file min/max statistics) pruning simulation: bucket
    rows into pseudo-files by ``file_expr``, build each file's min/max
    zone map over ``value_col``, and evaluate how a range predicate
    ``value BETWEEN lo AND hi`` would prune — the planner-side half of
    parquet row-group / Delta file skipping, measured instead of
    assumed.

    ONE summary row: total files/rows, files a zone map rules out
    (max < lo or min > hi), rows in surviving files (what a pruned scan
    reads), and true matching rows (what the query needs) — the gap
    between the last two is the false-positive I/O the layout costs;
    comparing layouts (e.g. :func:`zorder_layout` vs insertion order)
    is comparing that gap. Two map-side-combining aggregates, no joins,
    no window.
    """
    v = F.col(value_col)
    files = df.groupBy(file_expr.alias("file_id")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min(v).alias("vmin"),
        F.max(v).alias("vmax"),
        F.sum(F.when(v.between(lo, hi), 1).otherwise(0)).alias("n_match"),
    )
    pruned = (F.col("vmax") < lo) | (F.col("vmin") > hi)
    return files.agg(
        F.count(F.lit(1)).alias("n_files"),
        F.sum(F.when(pruned, 1).otherwise(0)).alias("files_pruned"),
        F.sum("n_rows").alias("rows_total"),
        F.sum(F.when(~pruned, F.col("n_rows")).otherwise(0)).alias(
            "rows_scanned"
        ),
        F.sum("n_match").alias("rows_matching"),
    )


def wrap_sum_to_i64(c: Column) -> Column:
    """Reduce an exact decimal(38,0) sum mod 2^64 into signed-bigint
    range (two's-complement wrap) — the manifest sum-channel contract.
    pmod keeps negative partials (already-wrapped merge inputs) correct;
    the literals ride in as decimal so no int64 literal overflow."""
    import decimal

    u64 = F.lit(decimal.Decimal(2**64))
    m = F.pmod(c, u64)
    return (
        F.when(m >= F.lit(decimal.Decimal(2**63)), m - u64)
        .otherwise(m)
        .cast("bigint")
    )


def partition_manifest(
    df: DataFrame,
    partition_col: Column,
    row_repr: Column,
    partition_name: str = "part",
) -> DataFrame:
    """Order-invariant partition-level integrity manifest: per partition,
    the row count plus TWO commutative folds of a 32-bit per-row hash —
    ``sum`` and ``bit_xor`` of ``int(md5(row_repr)[:8 hex], 16)``. Any
    row added, dropped, or mutated flips at least one channel, while
    shuffles/reorderings (every Spark rewrite reorders) flip none — the
    Delta/Iceberg-style checksum a 100 TB pipeline records after each
    compaction/migration to verify the rewrite byte-preserved content,
    and diffs partition-by-partition to find WHERE a mismatch lives
    without re-reading both copies row by row.

    ``row_repr`` must be an engine-portable string (int/string/date
    casts only — caller's contract); the md5-prefix hash replays in
    DuckDB (`('0x' || left(md5(x), 8))::UBIGINT`) and Python
    (hashlib) — the t32 portable-hash idiom. The sum channel is
    DEFINED as the exact sum reduced mod 2^64 into signed-bigint
    range: the fold runs in decimal(38,0) (a bare bigint sum of
    32-bit hashes throws under ANSI / wraps silently non-ANSI past
    ~2^31 rows per partition) and both engines apply the identical
    wrap, so the channel is well-defined at any partition
    cardinality and stays a mappable BIGINT on the wire.

    Scale shape: map-only hash + ONE combine-heavy hash aggregate
    (sum/xor/count are all map-side partial); the manifest is
    O(partitions), not O(rows). No joins, no windows, no Python.
    """
    h = (
        F.conv(F.substring(F.md5(row_repr.cast("binary")), 1, 8), 16, 10)
        .cast("bigint")
        .alias("_h")
    )
    return (
        df.select(partition_col.alias(partition_name), h)
        .groupBy(partition_name)
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            wrap_sum_to_i64(
                F.sum(F.col("_h").cast("decimal(38,0)"))
            ).alias("hash_sum"),
            F.bit_xor("_h").alias("hash_xor"),
        )
    )


def event_transitions(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """First-order Markov TRANSITION MATRIX of user journeys: for every
    ordered (event_type -> next event_type) step inside a user's
    timeline, the transition count and the conditional probability in
    exact integer ppm (``n * 1e6 div row-total``) — the
    behavioral-analytics surface funnels (q59) and sessionization (q18)
    summarize but don't expose. Timeline order is total:
    (ts, tiebreak_col) — equal timestamps break by id on both engines.

    Scale shape: ONE per-user window (lead over the user partition —
    users are the natural shard key, never a global sort), then two
    combine-heavy hash aggs (pair counts, row totals) and a
    |event_types|-bounded broadcast join for the denominator. The
    transition matrix is O(|types|^2) rows regardless of corpus size.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col), F.col(tiebreak_col)
    )
    steps = (
        df.select(user_col, ts_col, tiebreak_col, type_col)
        .withColumn("next_type", F.lead(type_col).over(w))
        .where(F.col("next_type").isNotNull())
    )
    counts = steps.groupBy(
        F.col(type_col).alias("event_type"), "next_type"
    ).agg(F.count(F.lit(1)).alias("n_trans"))
    totals = counts.groupBy("event_type").agg(
        F.sum("n_trans").alias("_tot")
    )
    return counts.join(F.broadcast(totals), "event_type").select(
        "event_type",
        "next_type",
        "n_trans",
        F.expr("n_trans * 1000000 div _tot").alias("p_ppm"),
    )
