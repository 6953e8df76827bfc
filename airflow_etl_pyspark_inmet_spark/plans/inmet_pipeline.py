"""The INMET pipeline, re-expressed Spark-first.

Replaces the whole reference flow — job_parquet.py (extract/transform),
dag_inmet.py (orchestration + Snowflake load), and the three analytic
``sql/create_*.sql`` queries — with one DataFrame program. Stage
boundaries in the reference were process/network boundaries (Airflow ->
spark-submit -> HDFS -> WebHDFS -> pandas -> Snowflake, SURVEY.md §3);
here every stage is a DataFrame, and building them makes no driver round
trip: the reader collects no header, and the calendar's min/max bounds
(A1) are an aggregate inside the calendar's own plan.

Written out (``run_pipeline(out_dir=...)``), ``previsoes`` and ``cidades``
come straight from the CSV scan (``sources.inmet_csv``: one ``binaryFile``
read per table). The city dim, the daily aggregate, the calendar and the
monthly KPIs are built from the parquet just written, so each table is
computed once and the CSV bytes are read twice in all.

Scale notes (100 TB stance):
- The fact table is the only big thing. It is written partitioned by
  ``ano`` so downstream monthly/daily queries get partition pruning.
- ``dim_cidade_atributos`` and ``datas`` are tiny at any scale (stations,
  days) -> explicitly broadcast in every join (J1, J2).
- Daily aggregation (A2) shuffles once on (wmo, data_medicao); the monthly
  rollup (A3) reuses the already-reduced daily aggregate, so the second
  shuffle is over ~days x stations rows, not hourly rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.cleaning import (
    date_parts,
    dayfirst_date_sql,
    decimal_comma_sql,
    surrogate_key,
    zero_fill,
)
from ..schemas import MEASURE_COLS, MEASURE_RENAMES
# Both readers stay attributes of this module, where tracing wraps them.
from ..sources.inmet_csv import (  # noqa: F401
    measurement_rows,
    read_inmet_files,
    read_inmet_measurements,
    read_inmet_stations,
)


def build_cidades(
    spark: SparkSession, input_glob: str, decimal_parity: bool = False
) -> DataFrame:
    """Station dimension (job_parquet.py:57-104 + write at 236-240):
    typed lat/long/alt (decimal-comma), day-first founding date,
    rows with unparseable ``data_fundacao`` dropped (P7).

    ``decimal_parity=True`` emits the reference warehouse types exactly —
    DECIMAL(11,8) lat/long, DECIMAL(9,2) altitude
    (create_dim_cidades.sql:9-11) — so the output loads into STAGE_DDL's
    ``dim_cidades`` without implicit casts. Default stays DOUBLE
    (SURVEY §1.2): cheaper arithmetic, and every downstream agg in this
    engine re-types explicitly anyway."""
    raw = read_inmet_stations(spark, input_glob)
    lat, lon, alt = (decimal_comma_sql(c) for c in ("latitude", "longitude", "altitude"))
    if decimal_parity:
        lat = f"CAST({lat} AS DECIMAL(11,8))"
        lon = f"CAST({lon} AS DECIMAL(11,8))"
        alt = f"CAST({alt} AS DECIMAL(9,2))"
    return raw.selectExpr(
        "regiao",
        "uf",
        "estacao",
        "wmo",
        f"{lat} AS latitude",
        f"{lon} AS longitude",
        f"{alt} AS altitude",
        f"{dayfirst_date_sql('data_fundacao')} AS data_fundacao",
        "_src",
    ).where("data_fundacao IS NOT NULL")


def build_previsoes(spark: SparkSession, input_glob: str) -> DataFrame:
    """Hourly fact (job_parquet.py:108-225): 5 measures decimal-comma
    parsed + renamed (F1), date parsed multi-format (F3), null-date rows
    dropped (P7), measures zero-filled BEFORE any aggregation (F5). The
    station code comes from the measurement's own file row (the reference
    sets a per-file ``df['wmo'] = constant``, job_parquet.py:182-185). A
    station that ``build_cidades`` drops (unparseable founding date) takes
    its measurements with it, so every fact row has a station."""
    files = read_inmet_files(spark, input_glob).where(
        f"{dayfirst_date_sql('data_fundacao')} IS NOT NULL"
    )
    body = measurement_rows(files, ["data", *MEASURE_RENAMES], carry=["wmo"])
    fact = body.selectExpr(
        "wmo",
        f"{dayfirst_date_sql('data')} AS data_medicao",
        *[f"{decimal_comma_sql(raw)} AS {canon}" for raw, canon in MEASURE_RENAMES.items()],
    ).where("data_medicao IS NOT NULL")
    return zero_fill(fact, MEASURE_COLS)


def build_datas(previsoes: DataFrame) -> DataFrame:
    """Dense daily calendar between global min/max measurement date
    (job_parquet.py:261-280): one combined min/max aggregation (A1 — the
    reference runs two separate collect()s) feeds a distributed
    ``sequence + explode`` in the same plan, replacing pandas
    ``date_range`` (F12). Nothing runs until the calendar is used."""
    cal = previsoes.selectExpr(
        "explode(sequence(min(data_medicao), max(data_medicao), interval 1 day))"
        " AS data_medicao"
    )
    parts = date_parts("data_medicao")
    return cal.select("data_medicao", *[expr.alias(n) for n, expr in parts.items()])


def dim_cidade_atributos(cidades: DataFrame) -> DataFrame:
    """Warehouse city dim with surrogate key (create_dim_cidade_atributos
    .sql:5-22): ``cidade_sk = UPPER(wmo)-UPPER(uf)-UPPER(estacao)``."""
    return cidades.select(
        surrogate_key("wmo", "uf", "estacao").alias("cidade_sk"),
        "wmo",
        "uf",
        "estacao",
        "regiao",
        "latitude",
        "longitude",
        "altitude",
        "data_fundacao",
    )


def fato_agg_previsoes_dia(previsoes: DataFrame, dim_cidade: DataFrame) -> DataFrame:
    """Daily aggregate (create_analitic_fato_agg_previsoes_dia.sql:4-19):
    inner join fact x city dim on wmo (J1, dim broadcast), group by
    (wmo, cidade_sk, data_medicao) with MIN/MAX/AVG/SUM/COUNT (A2).

    One shuffle on the group keys; Spark's hash aggregate does the
    partial (map-side) + final phases automatically."""
    j = previsoes.join(
        F.broadcast(dim_cidade.select("wmo", "cidade_sk")), "wmo", "inner"
    )
    return j.groupBy("wmo", "cidade_sk", "data_medicao").agg(
        *map(
            F.expr,
            [
                "min(temperatura_c) AS temp_min_c",
                "max(temperatura_c) AS temp_max_c",
                "avg(temperatura_c) AS temp_avg_c",
                "sum(precipitacao_mm) AS precip_total_mm",
                "avg(pressao_atm_kpa) AS pressao_avg_kpa",
                "avg(vento_mps) AS vento_avg_mps",
                "avg(umidade_porcentagem) AS umidade_avg_pct",
                "count(1) AS registros_horarios",
            ],
        )
    )


def cidade_kpis_mensal(
    fato_dia: DataFrame, dim_cidade: DataFrame, datas: DataFrame
) -> DataFrame:
    """Monthly KPIs (create_analitic_cidade_kpis_mensal.sql:5-18): 3-way
    inner join daily-agg x city dim (wmo) x calendar (data_medicao), both
    dims broadcast (J2), group by (cidade_sk, ano, mes) with
    AVG-of-daily-averages, MAX, SUM and COUNT_IF(precip>0) (A3, P10)."""
    j = (
        fato_dia.join(F.broadcast(dim_cidade.select("wmo")), "wmo", "inner")
        .join(
            F.broadcast(datas.select("data_medicao", "ano", "mes")),
            "data_medicao",
            "inner",
        )
    )
    return j.groupBy("cidade_sk", "ano", "mes").agg(
        *map(
            F.expr,
            [
                "avg(temp_avg_c) AS mensal_temp_media",
                "max(temp_max_c) AS mensal_temp_max",
                "sum(precip_total_mm) AS mensal_precip_total",
                "count_if(precip_total_mm > 0) AS dias_com_precip",
            ],
        )
    )


def run_pipeline(
    spark: SparkSession,
    input_glob: str,
    out_dir: str | None = None,
) -> dict[str, DataFrame]:
    """Full pipeline with the same dependency shape as the reference DAG
    (dag_inmet.py:209-220): ingest -> dims || fact -> daily agg -> monthly
    KPIs. Returns all six tables.

    Without ``out_dir`` every table is a lazy plan over the CSVs. With
    ``out_dir`` each table is written as parquet (fact partitioned by year
    for downstream partition pruning) and read back before the next one is
    built from it: ``previsoes`` and ``cidades`` are the only tables that
    scan the CSVs, and the others come from the written parquet, so the
    text is parsed once per table that needs it and nothing is computed
    twice. The returned frames read the written files.

    Task-level resilience, mirroring the DAG's per-task retry semantics
    (dag_inmet.py default_args) without Airflow: each write is an
    IDEMPOTENT overwrite (mode=overwrite, fixed paths), so a write that
    dies midway is re-run once (:data:`_WRITE_RETRIES`) without
    duplicating or corrupting output; a plan or config error
    (``AnalysisException``) raises at once. A re-run of the whole
    pipeline is likewise a no-op-shaped overwrite, the same contract
    the reference gets from `CREATE OR REPLACE` + write_pandas(overwrite)."""

    def table(name: str, df: DataFrame) -> DataFrame:
        if not out_dir:
            return df
        path = f"{out_dir}/{name}"
        if name == "previsoes":
            df = df.withColumn("ano", F.year("data_medicao"))
            _write(df.write.mode("overwrite").partitionBy("ano"), path)
            # the schema is pinned: an unpinned read runs an inference job
            return spark.read.schema(df.schema).parquet(path).drop("ano")
        _write(df.write.mode("overwrite"), path)
        return spark.read.schema(df.schema).parquet(path)

    previsoes = table("previsoes", build_previsoes(spark, input_glob))
    cidades = table("cidades", build_cidades(spark, input_glob).drop("_src"))
    dim_cidade = table("dim_cidade_atributos", dim_cidade_atributos(cidades))
    fato_dia = table(
        "fato_agg_previsoes_dia", fato_agg_previsoes_dia(previsoes, dim_cidade)
    )
    datas = table("datas", build_datas(fato_dia))
    kpis = table("cidade_kpis_mensal", cidade_kpis_mensal(fato_dia, dim_cidade, datas))
    return {
        "cidades": cidades,
        "datas": datas,
        "previsoes": previsoes,
        "dim_cidade_atributos": dim_cidade,
        "fato_agg_previsoes_dia": fato_dia,
        "cidade_kpis_mensal": kpis,
    }


# re-runs of a failed table write, the DAG's per-task retry count
_WRITE_RETRIES = 1


def _write(writer, path: str) -> None:
    """``writer.parquet(path)``, retried up to :data:`_WRITE_RETRIES`
    times on a transient failure."""
    from pyspark.errors import AnalysisException, IllegalArgumentException

    last: Exception | None = None
    for _attempt in range(_WRITE_RETRIES + 1):
        try:
            writer.parquet(path)
            return
        except (AnalysisException, IllegalArgumentException):
            # deterministic (plan/config) failure: retrying would
            # recompute the whole upstream plan just to hit the
            # same error — surface immediately
            raise
        except Exception as e:  # transient executor/FS failure
            last = e
    raise RuntimeError(
        f"pipeline write {path} failed after {_WRITE_RETRIES + 1} attempts"
    ) from last
