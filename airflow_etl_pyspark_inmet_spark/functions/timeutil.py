"""Timestamp normalization utilities.

The driver's testdata parquet files have changed timestamp physical types
across rounds (TIMESTAMP(NANOS) -> INT64-nanos fallback -> TIMESTAMP(MICROS)
without UTC adjustment). Spark 4 reads a non-UTC-adjusted parquet timestamp
as TIMESTAMP_NTZ, which (a) breaks TIMESTAMP-only expressions such as
``unix_micros`` and (b) makes any implicit NTZ->LTZ coercion depend on the
session time zone. Every table loader in this repo funnels through
:func:`utc_timestamps` so the rest of the engine always sees plain
``TIMESTAMP`` columns whose epoch equals the file's wall-clock value
interpreted as UTC — the same convention DuckDB uses for naive timestamps,
which keeps the oracle comparison engine-neutral.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

_EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def ntz_to_utc(col: Column | str) -> Column:
    """TIMESTAMP_NTZ -> TIMESTAMP whose instant is the naive value read as
    UTC, independent of ``spark.sql.session.timeZone``.

    ``to_utc_timestamp(ntz, 'UTC')`` is NOT usable here: Spark first coerces
    NTZ to TIMESTAMP via the *session* zone, shifting the epoch. Wall-clock
    arithmetic against an NTZ epoch literal has no such coercion.
    """
    c = F.col(col) if isinstance(col, str) else col
    us = F.timestamp_diff("MICROSECOND", F.expr(_EPOCH_NTZ), c)
    return F.timestamp_micros(us)


def utc_timestamps(df: DataFrame) -> DataFrame:
    """Replace every TIMESTAMP_NTZ column with its naive-as-UTC TIMESTAMP.

    Pure per-row projection (map-side, codegen'd; no shuffle) — safe on both
    batch and streaming DataFrames at any scale.
    """
    ntz = [name for name, dtype in df.dtypes if dtype == "timestamp_ntz"]
    if not ntz:
        return df
    return df.withColumns({name: ntz_to_utc(name) for name in ntz})


def read_nanos_ts(spark: SparkSession, read: Callable[[], DataFrame]) -> DataFrame:
    """Run ``read`` (a batch or streaming parquet read of the events
    table) and normalize its ``ts`` column to TIMESTAMP.

    events.parquet has stored ts as TIMESTAMP(NANOS) (rejected by Spark's
    parquet reader) in some testdata versions and TIMESTAMP(MICROS, no UTC
    adjustment) (read as TIMESTAMP_NTZ) in others. Handle both: read nanos
    as long and truncate to micros (integer ``div``, never ``/`` — double
    division loses precision on int64 nanos, matching DuckDB's ns->us
    truncation), then normalize any NTZ column to naive-as-UTC TIMESTAMP.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read()
    if dict(df.dtypes).get("ts") in ("bigint", "long"):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return utc_timestamps(df)
