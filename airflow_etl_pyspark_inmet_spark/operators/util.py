"""Shared operator utilities."""

from __future__ import annotations

from collections.abc import Callable
from typing import Any

from pyspark import InheritableThread
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


# AUDIT HOOK (scripts/dump_plans.py): the iterative operators (connected
# components, label propagation, pagerank, triangles, k-core, BFS/SSSP,
# NN-Descent) and grouped_rank/grouped_running_sum lineage-truncate with
# lazy ``localCheckpoint``s so plans don't grow by round — but a
# checkpoint renders the audited plan as a bare LogicalRDD, hiding every
# scan, filter, and window upstream of it from the dumper's operator
# counts and LOWCARD/cartesian detectors.
#
# When AUDIT_SEGMENTS is set to a list, every checkpoint ALSO records its
# full-lineage input frame there, and the audit inspects each recorded
# segment alongside the main plan — every scan/exchange/window is visible
# in exactly one segment, and because the checkpoints still happen,
# iterative queries build at production speed. (r16 measured the
# alternative: disabling checkpoints makes CC-embedding composites like
# d25/c10 recompute ~3^rounds lineage per eager convergence probe — the
# audit ran for 15+ minutes before being killed.)
AUDIT_SEGMENTS: list | None = None


def lineage_checkpoint(df: DataFrame, eager: bool = False) -> DataFrame:
    """Truncate lineage with a localCheckpoint.

    ``eager`` (r18): materialize NOW, in one dedicated job, instead of
    on first downstream action. Use eager=True for frames that are (a)
    expensive to rebuild (interpreted higher-order functions, token
    folds, Python stages) AND (b) consumed by several INDEPENDENT query
    stages of one action (self-join sides, broadcast threads): AQE
    submits those stages concurrently, and with a lazy checkpoint each
    racing stage can recompute the full construction before any blocks
    land in the cache — measured on d2 at local[32]: the same run flips
    between 1.1 s (blocks hit) and 5-10 s (every consumer re-ran the
    gram-hash fold), a 40x CPU inflation on identical code. Eager costs
    one extra job launch (~50 ms locally) and removes the race: every
    consumer reads materialized blocks. Keep the default (lazy) for
    per-round iterative frames whose first action is the round's own
    sequential convergence probe — there the materialization rides that
    action and rebuild cost is one cached-block join.

    FAULT-TOLERANCE TRADE (r18, VERDICT r17 item 7): ``localCheckpoint``
    stores partitions UNREPLICATED on executor-local storage and severs
    the lineage that would recompute them — on a real cluster, losing
    one executor mid-query kills every query reading its blocks (no
    recovery path; Spark raises a checkpoint-block-not-found error).
    This is deliberate for these frames: they live for ONE query, are
    rebuilt from parquet on every invocation, and the alternative
    (reliable checkpoint to a replicated store) writes the corpus-
    token-sized frames over the network — at 100 TB that is a second
    full-corpus write per query, which costs more than re-running the
    occasional executor-loss victim. Deployments where a multi-hour
    dedup job cannot tolerate a restart should set a reliable
    checkpoint dir and switch the CORPUS-SIZED sites (the jaccard/
    containment doc_sets, minhash stacked, simhash sig) to
    ``df.checkpoint()``; the candidate- and node-bounded frames are
    cheap either way. Block lifetime: frames are never explicitly
    unpersisted — blocks are freed by the ContextCleaner when the
    query's RDDs are garbage-collected, which is bounded in practice
    (one query's frames at a time) and avoids an unpersist barrier in
    the hot path."""
    if AUDIT_SEGMENTS is not None:
        AUDIT_SEGMENTS.append(df)
    return df.localCheckpoint(eager=eager)


def lineage_checkpoint_eager(df: DataFrame) -> DataFrame:
    """:func:`lineage_checkpoint` with eager=True, in ``.transform()``
    shape — for multi-consumer frames where the lazy materialization
    race is expensive (see lineage_checkpoint's docstring)."""
    return lineage_checkpoint(df, eager=True)


def rebalance_if_skewed(df: DataFrame, max_skew: int = 4) -> DataFrame:
    """Partition-BALANCE guard for materialized (checkpointed) frames
    that feed per-partition compute kernels: partition COUNT can lie —
    a parquet file written as one giant row group reports as many scan
    partitions as Spark planned, but a row group cannot be split, so
    every row lands in the one task holding its offset and an Arrow
    kernel over the frame runs single-core (measured at 1M vectors:
    31/32 partitions empty, ~20 min/stage instead of ~40 s;
    :func:`ensure_parallelism` cannot see this because it only counts
    partitions).

    One cheap JVM job reads per-partition row counts off the already-
    materialized frame (map-side partial agg, #partitions result
    rows); the frame is re-partitioned round-robin and re-materialized
    ONLY when the largest partition exceeds ``max_skew`` x the ideal
    share. On a well-laid-out corpus (row groups ~ the scan split
    size, the 100 TB norm) the check is one fast scan and a no-op —
    the index-build paths that call this already scan the frame
    dozens of times, so the guard is amortized noise there.
    """
    counts = [
        r["c"]
        for r in df.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    ]
    total = sum(counts)
    target = df.sparkSession.sparkContext.defaultParallelism
    if total == 0 or not counts:
        return df
    if max(counts) > max_skew * max(1, total // target):
        # lineage_checkpoint, not a bare localCheckpoint: the segment
        # audit (AUDIT_SEGMENTS) must see and traverse this barrier like
        # every other one
        return lineage_checkpoint(df.repartition(target))
    return df


def ensure_parallelism(df: DataFrame, min_factor: int = 1) -> DataFrame:
    """Round-robin repartition ONLY when the scan produced fewer partitions
    than the cluster has cores — the small-file artifact where one 2 MB
    parquet file becomes one task and serializes a CPU-bound operator.

    At real scale (file count x row groups >> cores) this is a no-op, so
    the big-data path never pays an extra shuffle.
    """
    target = df.sparkSession.sparkContext.defaultParallelism * min_factor
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def overlap(
    background: Callable[[], Any], foreground: Callable[[], Any]
) -> tuple[Any, Any]:
    """Run ``background`` on a driver thread while ``foreground`` runs on
    this one; return ``(background(), foreground())``.

    For two independent corpus passes whose blocking driver jobs would
    otherwise serialize (eager checkpoints, train collects): Spark runs
    the jobs of both threads concurrently. The thread is an
    ``InheritableThread``, so its jobs carry the caller's job group and
    local properties. It is always joined before this returns or raises:
    a foreground error propagates after the join (even when the
    background also failed), and a background error is re-raised here
    when the foreground succeeded.
    """
    out: dict = {}

    def _run() -> None:
        try:
            out["value"] = background()
        except BaseException as exc:  # re-raised on the caller's thread
            out["err"] = exc

    th = InheritableThread(target=_run)
    th.start()
    try:
        fg = foreground()
    finally:
        th.join()
    if "err" in out:
        raise out["err"]
    return out["value"], fg
