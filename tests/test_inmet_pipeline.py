"""Golden end-to-end test of the INMET pipeline on three station CSVs
built to FIXTURES.md §A (``tests/inmet_fixture.py``, standing in for the
reference's three files; SURVEY.md §5 item 2) + property checks
(FIXTURES.md invariants)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_etl_pyspark_inmet_spark.plans.inmet_pipeline import run_pipeline


@pytest.fixture(scope="module")
def tables(spark, inmet_glob):
    return run_pipeline(spark, inmet_glob)


def test_golden_counts(tables):
    assert tables["cidades"].count() == 3
    assert tables["previsoes"].count() == 3 * 4344  # hourly rows per file
    assert tables["dim_cidade_atributos"].count() == 3
    assert tables["datas"].count() == 181  # 2025-01-01..2025-06-30
    assert tables["cidade_kpis_mensal"].count() == 18  # 3 stations x 6 months


def test_station_attributes(tables):
    rows = {r["wmo"]: r for r in tables["cidades"].collect()}
    assert set(rows) == {"A507", "A508", "A509"}
    a507 = rows["A507"]
    assert a507["estacao"] == "UBERLANDIA"
    assert a507["latitude"] == pytest.approx(-18.91694443)
    assert str(a507["data_fundacao"]) == "2002-12-18"  # dd/MM/yy dayfirst
    assert str(rows["A509"]["data_fundacao"]) == "2004-12-19"  # dd/MM/yyyy


def test_surrogate_keys(tables):
    sks = {r["cidade_sk"] for r in tables["dim_cidade_atributos"].collect()}
    assert sks == {"A507-MG-UBERLANDIA", "A508-MG-ALMENARA", "A509-MG-MONTE VERDE"}


def test_registros_horarios_sums_to_fact_count(tables):
    total = (
        tables["fato_agg_previsoes_dia"]
        .agg(F.sum("registros_horarios"))
        .first()[0]
    )
    assert total == tables["previsoes"].count()


def test_calendar_dense_no_gaps(tables):
    datas = tables["datas"]
    n = datas.count()
    distinct = datas.select("data_medicao").distinct().count()
    bounds = datas.agg(
        F.min("data_medicao").alias("lo"), F.max("data_medicao").alias("hi")
    ).first()
    assert n == distinct == (bounds["hi"] - bounds["lo"]).days + 1


def test_daily_agg_invariants(tables):
    bad = (
        tables["fato_agg_previsoes_dia"]
        .filter(
            (F.col("temp_min_c") > F.col("temp_avg_c"))
            | (F.col("temp_avg_c") > F.col("temp_max_c"))
            | (F.col("registros_horarios") > 24)
        )
        .count()
    )
    assert bad == 0


def test_parquet_sink_partitioned_by_year(spark, inmet_glob, tmp_path):
    """S6: parquet sinks; the fact is written partitioned by ano so
    downstream year-filtered queries get partition pruning."""
    out = str(tmp_path / "wh")
    run_pipeline(spark, inmet_glob, out_dir=out)
    fact = spark.read.parquet(f"{out}/previsoes")
    assert fact.count() == 3 * 4344
    assert "ano" in fact.columns  # partition column materialized
    plan = (
        fact.filter(F.col("ano") == 2025)
        ._jdf.queryExecution()
        .explainString(
            fact._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
    )
    assert "PartitionFilters: [isnotnull(ano" in plan or "ano#" in plan


def test_monthly_kpis_invariants(tables):
    kpis = tables["cidade_kpis_mensal"]
    bad = kpis.filter(
        (F.col("dias_com_precip") < 0) | (F.col("dias_com_precip") > 31)
    ).count()
    assert bad == 0
    # zero-fill-before-agg means every station-day exists => months have
    # full day coverage: dias_com_precip <= days in month always holds
    assert kpis.count() == 18


def test_reader_scales_to_many_files(spark, tmp_path):
    """50 synthetic stations, varying day counts per file — the pattern-
    based reader has no positional/per-file-loop dependence, so counts
    must be exact at any file count (the reference loops files on the
    driver; this plan is one distributed read)."""
    import itertools

    from airflow_etl_pyspark_inmet_spark.sources.inmet_csv import (
        read_inmet_measurements,
        read_inmet_stations,
    )

    d = tmp_path / "many"
    d.mkdir()
    total_rows = 0
    for i in range(50):
        code = f"Z{i:03d}"
        n_days = 1 + (i % 5)
        lines = [
            "REGIAO:;SE",
            "UF:;MG",
            f"ESTACAO:;FAKE_{code}",
            f"CODIGO (WMO):;{code}",
            f"LATITUDE:;-1{i % 9},5",
            f"LONGITUDE:;-4{i % 9},25",
            "ALTITUDE:;500,5",
            "DATA DE FUNDACAO:;18/12/02",
            "Data;Hora UTC;PRECIPITAÇÃO TOTAL, HORÁRIO (mm);"
            "PRESSÃO ATMOSFERICA MAX.NA HORA ANT. (AUT) (mB);"
            "TEMPERATURA DO AR - BULBO SECO, HORARIA (°C);"
            "UMIDADE RELATIVA DO AR, HORARIA (%);"
            "VENTO, VELOCIDADE HORARIA (m/s);",
        ]
        for day, hour in itertools.product(range(n_days), range(24)):
            lines.append(
                f"2025/02/{day + 1:02d};{hour:02d}00 UTC;0;915,{i % 10};"
                f"2{i % 10},5;8{i % 10};1,{i % 10};"
            )
            total_rows += 1
        (d / f"INMET_SE_MG_{code}_FAKE.csv").write_text(
            "\n".join(lines), encoding="utf-8"
        )

    glob = str(d / "*.csv")
    stations = read_inmet_stations(spark, glob)
    meas = read_inmet_measurements(spark, glob)
    assert stations.count() == 50
    assert meas.count() == total_rows
    # every measurement row joins back to its own station's wmo via _src
    from pyspark.sql import functions as F

    with_wmo = meas.join(
        F.broadcast(stations.select("_src", "wmo")), "_src"
    )
    per_station = {
        r["wmo"]: r["n"]
        for r in with_wmo.groupBy("wmo")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    assert len(per_station) == 50
    assert per_station["Z003"] == 24 * (1 + 3 % 5)


def test_latin1_metadata_decodes_like_reference(spark, tmp_path):
    """Reference parity: the metadata section is ISO-8859-1
    (job_parquet.py:63) while the body is UTF-8 (:131). In Latin-1 the
    Ã of REGIÃO is the single byte 0xC3 — invalid alone in UTF-8, so a
    UTF-8 text scan would replace it irreversibly. The reader must
    decode the accented VALUE correctly, and the accented KEY must fold
    onto the same pivot column as its unaccented twin."""
    from airflow_etl_pyspark_inmet_spark.sources.inmet_csv import (
        read_inmet_measurements,
        read_inmet_stations,
    )

    d = tmp_path / "latin1"
    d.mkdir()
    meta = (
        "REGIÃO:;SÃO PAULO\n"
        "UF:;SP\n"
        "ESTAÇÃO:;SÃO MIGUEL ARCANJO\n"
        "CODIGO (WMO):;A713\n"
        "LATITUDE:;-23,85\n"
        "LONGITUDE:;-48,16\n"
        "ALTITUDE:;660,0\n"
        "DATA DE FUNDACAO:;18/12/02\n"
    )
    header = (
        "Data;Hora UTC;PRECIPITAÇÃO TOTAL, HORÁRIO (mm);"
        "TEMPERATURA DO AR - BULBO SECO, HORARIA (°C);\n"
    )
    body = "2025/02/01;0000 UTC;0;21,5;\n"
    # metadata bytes in ISO-8859-1, header/body in UTF-8 — the reference's
    # exact dual-encoding contract
    raw = meta.encode("iso-8859-1") + header.encode("utf-8") + body.encode("utf-8")
    (d / "INMET_SE_SP_A713_SAOMIGUEL.csv").write_bytes(raw)

    st = read_inmet_stations(spark, str(d / "*.csv")).collect()
    assert len(st) == 1
    row = st[0].asDict()
    # Latin-1 values decode to real accented text, not mojibake
    assert row["regiao"] == "SÃO PAULO"
    assert row["estacao"] == "SÃO MIGUEL ARCANJO"
    assert row["wmo"] == "A713"
    # the UTF-8 body still parses and joins back via _src
    meas = read_inmet_measurements(spark, str(d / "*.csv"))
    assert meas.count() == 1
    assert meas.join(
        read_inmet_stations(spark, str(d / "*.csv")).select("_src"), "_src"
    ).count() == 1


def test_decimal_parity_round_trips_reference_ddl(spark, inmet_glob, tmp_path):
    """decimal_parity=True emits the exact create_dim_cidades.sql types —
    DECIMAL(11,8) lat/long, DECIMAL(9,2) altitude — and the output loads
    into STAGE_DDL's typed dim_cidades table unchanged (no implicit
    casts, values survive the round trip)."""
    from decimal import Decimal

    from airflow_etl_pyspark_inmet_spark.plans.inmet_pipeline import build_cidades
    from airflow_etl_pyspark_inmet_spark.plans.warehouse import create_stage_tables

    cid = build_cidades(spark, inmet_glob, decimal_parity=True).drop("_src")
    types = dict(cid.dtypes)
    assert types["latitude"] == "decimal(11,8)"
    assert types["longitude"] == "decimal(11,8)"
    assert types["altitude"] == "decimal(9,2)"

    create_stage_tables(spark, db="stage_parity")
    cid.write.mode("overwrite").insertInto("stage_parity.dim_cidades")
    back = spark.table("stage_parity.dim_cidades")
    assert dict(back.dtypes)["latitude"] == "decimal(11,8)"
    rows = {r["wmo"]: r for r in back.collect()}
    assert rows["A507"]["latitude"] == Decimal("-18.91694443")
    assert back.count() == 3


def test_pipeline_scales_to_many_files(spark, tmp_path):
    """Fan-in scaling smoke: 40 synthetic stations in one glob — the
    pattern-classified reader must pivot 40 metadata blocks, attach the
    right station to every body row, and keep counts exact (no
    positional/per-file assumptions)."""
    hdr = (
        "Data;Hora UTC;PRECIPITAÇÃO TOTAL, HORÁRIO (mm);"
        "PRESSÃO ATMOSFERICA MAX.NA HORA ANT. (AUT) (mB);"
        "TEMPERATURA DO AR - BULBO SECO, HORARIA (°C);"
        "UMIDADE RELATIVA DO AR, HORARIA (%);"
        "VENTO, VELOCIDADE HORARIA (m/s);"
    )
    n_files, n_hours = 40, 48
    for i in range(n_files):
        wmo = f"A{600 + i}"
        lines = [
            "REGIAO:;SE",
            "UF:;MG",
            f"ESTACAO:;CIDADE{i}",
            f"CODIGO (WMO):;{wmo}",
            f"LATITUDE:;-{10 + i},5",
            f"LONGITUDE:;-{40 + i},25",
            "ALTITUDE:;100,5",
            "DATA DE FUNDACAO:;19/12/2004",
            hdr,
        ]
        for h in range(n_hours):
            day, hour = 1 + h // 24, h % 24
            lines.append(
                f"2025/01/0{day};{hour:02d}00 UTC;0;915,{i % 10};"
                f"2{i % 10},5;8{h % 10};{1 + i % 4},2;"
            )
        (tmp_path / f"INMET_SE_MG_{wmo}_CIDADE{i}.csv").write_text(
            "\n".join(lines), encoding="utf-8"
        )
    tables = run_pipeline(spark, f"{tmp_path}/*.csv")
    assert tables["cidades"].count() == n_files
    assert tables["previsoes"].count() == n_files * n_hours
    assert tables["dim_cidade_atributos"].count() == n_files
    assert tables["datas"].count() == 2  # two distinct days
    # station attach is per-file correct: every wmo has exactly n_hours rows
    per = tables["previsoes"].groupBy("wmo").count().collect()
    assert len(per) == n_files and all(r["count"] == n_hours for r in per)
    # daily agg: one row per (station, day)
    assert tables["fato_agg_previsoes_dia"].count() == n_files * 2


def test_stray_non_utf8_byte_in_body_keeps_rows(spark, tmp_path):
    """A body line carrying a stray non-UTF-8 byte (0xE7, a Latin-1 ç)
    in an unused column still parses: the body decode replaces the byte
    as ``spark.read.text`` does instead of failing the scan (a strict
    UTF-8 decode raises under ANSI mode), and no row is lost."""
    from tests.inmet_fixture import write_inmet_fixture

    glob = write_inmet_fixture(str(tmp_path / "csv"))
    path = sorted((tmp_path / "csv").glob("*.csv"))[0]  # A507, standard header
    lines = path.read_bytes().split(b"\n")
    cells = lines[20].split(b";")
    cells[6] = b"\xe7" + cells[6]  # RADIACAO GLOBAL, not used by the fact
    lines[20] = b";".join(cells)
    path.write_bytes(b"\n".join(lines))

    tables = run_pipeline(spark, glob, out_dir=str(tmp_path / "wh"))
    assert {n: df.count() for n, df in tables.items()} == {
        "cidades": 3,
        "datas": 181,
        "previsoes": 3 * 4344,
        "dim_cidade_atributos": 3,
        "fato_agg_previsoes_dia": 3 * 181,
        "cidade_kpis_mensal": 18,
    }


def test_plan_construction_launches_no_spark_job(spark, inmet_glob):
    """Building the tables is pure plan construction: no header collect,
    no min/max round trip for the calendar. Every Spark job starts only
    when a table is written or read."""
    from airflow_etl_pyspark_inmet_spark.plans.inmet_pipeline import (
        build_cidades,
        build_datas,
        build_previsoes,
    )

    sc = spark.sparkContext
    group = "inmet-plan-construction"
    sc.setJobGroup(group, "plan construction only")
    try:
        build_cidades(spark, inmet_glob)
        build_datas(build_previsoes(spark, inmet_glob))
        run_pipeline(spark, inmet_glob, out_dir=None)
    finally:
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        sc._jsc.clearJobGroup()
    assert jobs == []


class _FlakyWriter:
    """Stands in for a DataFrameWriter: ``parquet`` raises the queued
    errors in order, then succeeds."""

    def __init__(self, *errors):
        self.errors = list(errors)
        self.calls = 0

    def parquet(self, path):
        self.calls += 1
        if self.errors:
            raise self.errors.pop(0)


def test_write_retries_a_transient_failure_once():
    from airflow_etl_pyspark_inmet_spark.plans.inmet_pipeline import _write

    w = _FlakyWriter(OSError("executor lost"))
    _write(w, "/out/t")
    assert w.calls == 2


def test_write_raises_analysis_errors_without_retry():
    from pyspark.errors import AnalysisException

    from airflow_etl_pyspark_inmet_spark.plans.inmet_pipeline import _write

    w = _FlakyWriter(AnalysisException("bad plan"))
    with pytest.raises(AnalysisException):
        _write(w, "/out/t")
    assert w.calls == 1


def test_write_gives_up_after_two_failures():
    from airflow_etl_pyspark_inmet_spark.plans.inmet_pipeline import _write

    last = OSError("second")
    w = _FlakyWriter(OSError("first"), last, OSError("never raised"))
    with pytest.raises(RuntimeError, match="/out/t failed after 2 attempts") as e:
        _write(w, "/out/t")
    assert e.value.__cause__ is last
    assert w.calls == 2
