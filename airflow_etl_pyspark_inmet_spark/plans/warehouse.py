"""Engine-local warehouse: Spark SQL-managed databases/tables replacing the
reference's Snowflake layer (SURVEY.md §2.1 S8-S10).

The reference ships parquet over WebHDFS into pandas and bulk-loads it to
Snowflake (dag_inmet.py:12-105); its DDL and CTAS live in sql/create_*.sql.
Here the warehouse is the Spark catalog itself: `CREATE DATABASE` +
`saveAsTable` (typed, managed parquet) + CTAS via `spark.sql` — no data
ever leaves the cluster, and downstream queries read the tables through
the catalog with full pushdown.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession

from ..operators.relational import zorder_value
from .snapshot import _data_files, _fs

# Typed stage DDL mirroring sql/create_dim_cidades.sql:4-13,
# create_dim_datas.sql:5-12, create_fato_previsoes.sql:4-12 (Snowflake
# types mapped to Spark; dates are real DATE end-to-end).
STAGE_DDL = {
    "dim_cidades": """
        CREATE TABLE IF NOT EXISTS {db}.dim_cidades (
            regiao STRING, uf STRING, estacao STRING, wmo STRING,
            latitude DECIMAL(11,8), longitude DECIMAL(11,8),
            altitude DECIMAL(9,2), data_fundacao DATE
        ) USING PARQUET
    """,
    "dim_datas": """
        CREATE TABLE IF NOT EXISTS {db}.dim_datas (
            data_medicao DATE, dia INT, mes INT, ano INT,
            quartil INT, semana_do_ano INT
        ) USING PARQUET
    """,
    "fato_previsoes": """
        CREATE TABLE IF NOT EXISTS {db}.fato_previsoes (
            wmo STRING, data_medicao DATE, precipitacao_mm DOUBLE,
            pressao_atm_kpa DOUBLE, temperatura_c DOUBLE,
            umidade_porcentagem DOUBLE, vento_mps DOUBLE
        ) USING PARQUET PARTITIONED BY (ano INT)
    """,
}


def create_database(spark: SparkSession, db: str) -> None:
    """S9's `CREATE SCHEMA IF NOT EXISTS` equivalent."""
    spark.sql(f"CREATE DATABASE IF NOT EXISTS {db}")


def create_stage_tables(spark: SparkSession, db: str = "stage") -> None:
    """Typed landing tables (S9). Idempotent even against an orphaned
    managed location (files on disk, table absent from the in-memory
    catalog) — CREATE TABLE IF NOT EXISTS alone raises
    LOCATION_ALREADY_EXISTS in that state."""
    create_database(spark, db)
    for name, ddl in STAGE_DDL.items():
        if not spark.catalog.tableExists(f"{db}.{name}"):
            _delete_orphan_location(spark, db, name)
        spark.sql(ddl.format(db=db))


def _delete_orphan_location(spark: SparkSession, db: str, name: str) -> None:
    """Remove a managed table location left behind by a previous session
    (the in-memory catalog forgets tables while their files survive; with
    a persistent metastore this is a no-op). Uses the Hadoop FileSystem
    API so it works on any storage, not just local disk."""
    fs, path, _ = _fs(spark, _table_dir(spark, name, db))
    if fs.exists(path):
        fs.delete(path, True)


def _clear_table(spark: SparkSession, db: str, name: str) -> None:
    """Make way for a new ``db.name``: CREATE DATABASE IF NOT EXISTS,
    DROP TABLE IF EXISTS, and remove any orphaned managed location, so
    saveAsTable/CTAS never fail with LOCATION_ALREADY_EXISTS. The v1
    parquet catalog has no atomic REPLACE, so between this call and
    the write that follows the table is missing."""
    create_database(spark, db)
    spark.sql(f"DROP TABLE IF EXISTS {db}.{name}")
    _delete_orphan_location(spark, db, name)


def save_table(
    df: DataFrame,
    name: str,
    db: str = "analitic",
    partition_by: list[str] | None = None,
) -> None:
    """S8's warehouse load, Spark-native: managed parquet table, overwrite
    semantics matching CREATE OR REPLACE."""
    _clear_table(df.sparkSession, db, name)
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.saveAsTable(f"{db}.{name}")


def save_table_jdbc(
    df: DataFrame,
    name: str,
    url: str,
    db: str | None = None,
    mode: str = "overwrite",
    options: dict[str, str] | None = None,
) -> None:
    """S8's external-warehouse load to the letter (dag_inmet.py:28-41,
    91-96 loads HDFS parquet into Snowflake via write_pandas): the same
    bulk overwrite, expressed as Spark's JDBC sink so the transfer runs
    FROM THE EXECUTORS in parallel — the reference's path serializes the
    whole table through a single pandas process on the Airflow worker.

    ``url`` is any JDBC URL (``jdbc:postgresql://...``,
    ``jdbc:snowflake://...``); pass credentials/driver via ``options``
    (e.g. ``{"user": ..., "password": ..., "driver": ...,
    "numPartitions": "8", "batchsize": "10000"}``). The matching driver
    jar must be on the Spark classpath (``spark.jars``) — none ships in
    this environment, so this writer is exercised by the default
    catalog-backed :func:`save_table` everywhere in tests; the signature
    and semantics (idempotent overwrite per table, uppercase warehouse
    column names) mirror the in-engine path one-for-one.
    """
    target = f"{db}.{name}" if db else name
    out = df.toDF(*[c.upper() for c in df.columns])  # F10 warehouse contract
    w = out.write.format("jdbc").option("url", url).option("dbtable", target)
    for k, v in (options or {}).items():
        w = w.option(k, v)
    w.mode(mode).save()


def ctas(spark: SparkSession, name: str, sql: str, db: str = "analitic") -> DataFrame:
    """S10's `CREATE OR REPLACE TABLE ... AS SELECT` (the v1 parquet
    catalog has no atomic REPLACE, so drop-then-create)."""
    _clear_table(spark, db, name)
    spark.sql(f"CREATE TABLE {db}.{name} USING PARQUET AS {sql}")
    return spark.table(f"{db}.{name}")


def register_testdata_views(spark: SparkSession, sf_dir: str) -> list[str]:
    """Expose the testdata star schema as temp views so every engine query
    is also reachable through the plain SQL surface (spark.sql)."""
    from .queries_relational import _t

    names = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    for n in names:
        _t(spark, sf_dir, n).createOrReplaceTempView(n)
    return names


def save_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    n_buckets: int,
    db: str = "analitic",
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed managed table: rows hash-distributed into ``n_buckets``
    files per partition by ``bucket_cols``. Two tables bucketed the same
    way join WITHOUT a shuffle (their Exchange nodes disappear from the
    plan) — the pre-shuffle is paid once at write time, which is the 100
    TB recipe for a fact table joined repeatedly on the same key. Add
    ``sort_cols`` to also skip the sort of a sort-merge join."""
    _clear_table(df.sparkSession, db, name)
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(f"{db}.{name}")


def analyze_table(
    spark: SparkSession, name: str, db: str = "analitic", columns: bool = True
) -> None:
    """Compute table (and optionally per-column) statistics so the
    cost-based optimizer can reorder joins and pick broadcast sides from
    real row counts instead of file-size guesses. Run after large loads;
    at 100 TB, stats staleness — not stats cost — is the thing to manage."""
    spark.sql(f"ANALYZE TABLE {db}.{name} COMPUTE STATISTICS")
    if columns:
        spark.sql(f"ANALYZE TABLE {db}.{name} COMPUTE STATISTICS FOR ALL COLUMNS")


def save_range_sorted_table(
    df: DataFrame,
    name: str,
    sort_col: str,
    n_files: int,
    db: str = "analitic",
) -> None:
    """Range-partition + sort the data before writing so each parquet
    file covers a disjoint slice of ``sort_col``: row-group min/max stats
    become tight, and any reader filtering on that column skips whole
    files (poor man's Z-order, one dimension). The layout cost is paid
    once at write; every downstream range scan wins."""
    save_table(
        df.repartitionByRange(n_files, sort_col).sortWithinPartitions(sort_col),
        name,
        db,
    )


def table_size_bytes(spark: SparkSession, name: str, db: str = "analitic") -> int:
    """On-disk byte size of a managed table via the Hadoop FileSystem API
    (works on any storage backend, not just local disk)."""
    fs, path, _ = _fs(spark, _table_dir(spark, name, db))
    if not fs.exists(path):
        return 0
    return fs.getContentSummary(path).getLength()


def _table_dir(spark: SparkSession, name: str, db: str) -> str:
    """Location of managed table ``db.name`` under the session's
    warehouse dir."""
    return f"{spark.conf.get('spark.sql.warehouse.dir')}/{db}.db/{name}"


def _partition_file_stats(
    spark: SparkSession, name: str, db: str
) -> dict[str, tuple[int, int]]:
    """``{partition-spec: (bytes, file_count)}`` from one recursive FS
    listing, where spec is the Hive-style relative dir (``ano=1995`` or
    ``a=1/b=x``; '' for an unpartitioned root). Catalog-scale driver work:
    one round-trip per listing page, never per row."""
    fs, root, _ = _fs(spark, _table_dir(spark, name, db))
    stats: dict[str, tuple[int, int]] = {}
    root_str = root.toUri().getPath()
    for f in _data_files(fs, root):
        rel = f.getPath().getParent().toUri().getPath()[len(root_str):].strip("/")
        b, n = stats.get(rel, (0, 0))
        stats[rel] = (b + f.getLen(), n + 1)
    return stats


def compact_table(
    spark: SparkSession,
    name: str,
    db: str = "analitic",
    target_file_bytes: int = 128 << 20,
) -> int:
    """Small-file compaction (OPTIMIZE): rewrite the table into
    ~target_file_bytes files under a temporary name, then drop the
    original and RENAME the rewrite into its place. The swap is not
    atomic: between the drop and the rename the table is missing.
    Streaming sinks and per-batch upserts accrete thousands of tiny files;
    at 100 TB the resulting task-per-file scheduling and footer-read
    overhead dominate scans, so periodic compaction to ~128 MB files is
    the standard maintenance op (Delta OPTIMIZE / Iceberg rewrite_files).

    Partitioned tables honor the target WITHIN each partition value: each
    value's file budget is ceil(its_bytes / target) (measured from one
    recursive FS listing), and rows are range-repartitioned on
    (partition cols, hash-split id) so a hot partition value fans out to
    its budgeted number of ~target-size files instead of one giant
    file/task. Partition values are matched to FS dirs via their Hive
    string form — exotic values needing path-escaping fall back to a
    1-file budget rather than mis-splitting.

    Returns the actual post-compaction data-file count."""
    import math

    from pyspark.sql import functions as F

    tbl = f"{db}.{name}"
    part_cols = [
        c.name for c in spark.catalog.listColumns(name, db) if c.isPartition
    ]
    tmp = f"{name}__compacting"
    _clear_table(spark, db, tmp)
    df = spark.table(tbl)
    if part_cols:
        stats = _partition_file_stats(spark, name, db)
        budget = {
            spec: max(1, math.ceil(b / target_file_bytes))
            for spec, (b, _) in stats.items()
        }
        total = sum(budget.values()) or 1
        spec_df = spark.createDataFrame(
            [(s, n) for s, n in budget.items()], "_spec STRING, _n INT"
        )
        spec_col = F.concat_ws(
            "/",
            *[
                F.concat(F.lit(f"{c}="), F.col(c).cast("string"))
                for c in part_cols
            ],
        )
        data_cols = [c for c in df.columns]
        w = (
            df.withColumn("_spec", spec_col)
            .join(F.broadcast(spec_df), "_spec", "left")
            .withColumn(
                "_split",
                F.pmod(
                    F.xxhash64(*[F.col(c) for c in data_cols]),
                    F.coalesce(F.col("_n"), F.lit(1)),
                ),
            )
            .repartitionByRange(total, *part_cols, F.col("_split"))
            .drop("_spec", "_n", "_split")
            .write.partitionBy(*part_cols)
        )
    else:
        size = table_size_bytes(spark, name, db)
        n_files = max(1, math.ceil(size / target_file_bytes))
        w = df.repartition(n_files).write
    w.saveAsTable(f"{db}.{tmp}")
    _clear_table(spark, db, name)
    spark.sql(f"ALTER TABLE {db}.{tmp} RENAME TO {db}.{name}")
    if part_cols:
        # RENAME moves the root location; catalog partition entries still
        # point at the old paths until recovered
        spark.sql(f"MSCK REPAIR TABLE {db}.{name}")
    return sum(n for _, n in _partition_file_stats(spark, name, db).values())


def _quantile_buckets(df: DataFrame, col: str, n_buckets: int) -> list[float]:
    """Approx-quantile cut points (driver-side list of n_buckets-1 floats)
    — the scale-safe way to equi-depth-bucket a column: one pass with a
    mergeable GK sketch, no global sort."""
    probs = [i / n_buckets for i in range(1, n_buckets)]
    return df.stat.approxQuantile(col, probs, 0.001)


def save_zorder_table(
    df: DataFrame,
    name: str,
    col_a: str,
    col_b: str,
    n_files: int,
    db: str = "analitic",
    bits: int = 4,
) -> None:
    """Two-dimensional Z-order clustering: equi-depth-bucket both columns
    into 2^bits buckets (approxQuantile boundaries — no global sort),
    interleave the bucket bits into a Morton code, then range-partition +
    sort the data by that code. Each output file covers a small rectangle
    of (col_a, col_b) space, so point/range predicates on EITHER column
    skip most files — the multi-dimensional generalization of
    save_range_sorted_table, same pay-once-at-write economics."""
    from pyspark.sql import functions as F

    def bucket(col: str) -> "F.Column":
        cuts = _quantile_buckets(df, col, 1 << bits)
        arr = ", ".join(repr(c) for c in cuts)
        return F.expr(
            f"cardinality(filter(array({arr}), b -> b <= {col}))"
        ).cast("long")

    ba, bb = bucket(col_a), bucket(col_b)
    # col_b on the even bits, col_a on the odd ones
    z = zorder_value(bb, ba, bits)
    save_table(
        df.withColumn("_z", z)
        .repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z"),
        name,
        db,
    )


def save_table_observed(
    df: DataFrame,
    name: str,
    metrics: dict[str, Column],
    db: str = "analitic",
    partition_by: list[str] | None = None,
) -> dict[str, object]:
    """S8 warehouse load with FREE data-quality metrics: attach a Spark
    ``Observation`` to the frame so the requested aggregate metrics
    (row counts, null counts, bounds violations, ...) are computed by
    the SAME job that writes the table — at 100 TB this saves the
    second full scan a separate quality query would cost, because the
    observation accumulates per-task during the write and only merges
    small partial states on the driver.

    ``metrics`` maps metric name -> aggregate Column (e.g.
    ``{"n": F.count(F.lit(1)), "null_keys": F.count_if(F.col("k").isNull())}``).
    Returns the observed values after the write completes.
    """
    from pyspark.sql import Observation

    obs = Observation(f"save_{name}")
    observed = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    save_table(observed, name, db=db, partition_by=partition_by)
    return dict(obs.get)
