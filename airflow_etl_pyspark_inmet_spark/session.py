"""SparkSession factory.

Defaults are sized from the host (local[N] over the CPUs this process may
use, a driver heap of 1/8 of host memory within 1-4 GiB; ``SPARK_GRAFT_CPUS``
and ``SPARK_DRIVER_MEM`` override them), and every other setting is the one
you'd want on a real cluster too: AQE for runtime re-planning
(coalesce small shuffle partitions, skew-join splitting), UTC session time
zone so results are oracle-comparable, Arrow for any pandas-UDF exchange.

At 100 TB the only knobs that change are shuffle partition count (set it to
~2-3x total executor cores, or leave AQE's coalescing to fix over-partitioning)
and `spark.sql.files.maxPartitionBytes` (default 128 MB is right for wide
parquet scans).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def host_cpus() -> str:
    """Local cores: ``SPARK_GRAFT_CPUS`` if set, else the CPUs this
    process may run on."""
    return os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))


def driver_memory() -> str:
    """Driver heap: ``SPARK_DRIVER_MEM`` if set, else 1/8 of the host's
    memory clamped to 1-4 GiB. A local driver JVM shares the host with
    its Python workers and other processes; a fixed large heap lets it
    grow until the host kills something."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024  # MemTotal, kB
    return f"{min(4096, max(1024, total_mb // 8))}m"


def get_spark(
    app_name: str = "airflow_etl_pyspark_inmet_spark",
    master: str | None = None,
    shuffle_partitions: int | str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    AQE is on: it re-coalesces shuffle partitions at runtime, converts
    sort-merge joins to broadcast when the built side turns out small, and
    splits skewed partitions — exactly the behaviors we rely on at scale.
    """
    cpus = host_cpus()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Start AQE shuffles WIDE and let coalescing shrink them to the
        # 64 MB advisory size: with only the static 32, a 30 GB shuffle
        # stage (the sf10 LSH candidate dedup / verify joins) runs
        # ~1 GB-per-task hash tables and spills (BENCH_sf10 flag, r11).
        # Small stages coalesce back to a handful of tasks, so sf0.01
        # oracle runs keep their latency. This is the standard
        # large-cluster setting — the one you'd ship at 100 TB.
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            "1024",
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _silence_bounded_window_warning(spark)
    return spark


def _silence_bounded_window_warning(spark: SparkSession) -> None:
    """Set the WindowExec logger to ERROR.

    The engine has ten ``Window.orderBy()``-without-partition sites:
    mixing.py token_budget_allocation and queries_llm.py c14 remainder
    ranks, relational.py skew_report ranks and histogram_quantiles
    cumulative counts, text.py vocab_top_terms / zipf_coverage /
    bm25_topk ranks and vocab_growth decile sums, curation.py
    pack_counts per-shard offsets, and the queries_tpch.py q101
    day-spine running sum.
    All operate on BOUNDED frames — top-k limits, per-shard totals,
    histogram bins, a date spine — audited individually, so
    WindowExec's "moving all data to a single partition" WARN is noise.
    A constant partition key cannot silence it (Catalyst folds any
    foldable partition expression back to an empty spec — verified
    against lit/arith/coalesce forms), so the targeted logger is the
    remaining lever. Unbounded-window mistakes in NEW code are still
    caught by the plan audit (scripts/dump_plans.py red-flags + per-query
    review in PLANS.md), which is the guard that matters at 100 TB — a
    log line on a 32-thread local run never was."""
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR,
        )
    except Exception:
        pass  # non-log4j2 deployments keep the (harmless) WARN
