"""Distributed reader for INMET dual-section station CSVs.

File format (FIXTURES.md §A): lines 1-8 are ``KEY:;value`` station metadata
in ISO-8859-1, line 9 is the measurement header, lines 10+ are
``;``-separated hourly rows in UTF-8 (decimal comma, usually a trailing
``;``).

The reference isolates the sections positionally — ``limit(8)`` for metadata
(job_parquet.py:61-68) and an RDD ``zipWithIndex`` skip for the body
(job_parquet.py:117-123) — inside a per-file Python loop, pulling every file
through ``toPandas``. None of that survives scale: positional tricks assume
single-partition sequential reads, and the loop serializes all I/O through
the driver.

This reader makes one ``binaryFile`` scan and keeps one row per file, so a
file's station attributes sit on the same row as its body lines and no join
re-attaches them. From the same ``content`` bytes it decodes the metadata
lines as ISO-8859-1 and the body lines as UTF-8. The body goes through
``make_valid_utf8``, which replaces a stray invalid byte the way
``spark.read.text`` does; ``decode(content, 'UTF-8')`` would fail the whole
scan under ANSI mode. Lines are classified BY PATTERN (metadata lines match
``key:;``, the header line starts with ``Data;``, everything else non-blank
is a data line), and each file's own header is sanitized JVM-side, so a data
cell is picked BY NAME: ``get(split(line, ';'), array_position(names, c) -
1)``. Files with reordered header revisions parse correctly and nothing is
collected to the driver; the whole read is one lazy plan.

A file is one row before the body is exploded, so a file must stay under
2 GB. INMET files hold one station-year each, about 0.5 MB.

Pattern safety: a data line always starts with a date (``2025/01/01;`` or
``01/01/2025;``), so it can never match the metadata pattern ``^[^;0-9][^;]*:;``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.cleaning import sanitize_name_sql
from ..schemas import INMET_BODY_COLUMNS

# Metadata line: non-empty, non-numeric-leading key, then ':;'.
_META_LINE_RE = r"^[^;0-9][^;]*:;"

# Sanitized metadata key -> station column (the reference's rename map,
# job_parquet.py:81-82, applied after ':'-strip + lowercase).
_STATION_COLUMNS = {
    "regiao": "regiao",
    "uf": "uf",
    "estacao": "estacao",
    "codigo_wmo": "wmo",
    "latitude": "latitude",
    "longitude": "longitude",
    "altitude": "altitude",
    "data_de_fundacao": "data_fundacao",
}


def _pick(values: str, names: str, name: str) -> str:
    """SQL for the element of ``values`` at the first position of ``name``
    in ``names``; null when the name is absent or the row is short."""
    return f"get({values}, array_position({names}, '{name}') - 1)"


def read_inmet_files(spark: SparkSession, path: str) -> DataFrame:
    """One row per input file: ``_src`` (the file's path), the raw string
    station columns ``regiao uf estacao wmo latitude longitude altitude
    data_fundacao``, ``_names`` (the file's sanitized header names) and
    ``_lines`` (all of its lines, decoded as UTF-8).

    A metadata key is sanitized like a header name, so ``REGIÃO:`` and
    ``REGIAO:`` both fill ``regiao``; values keep their accents. A key that
    repeats keeps its first value."""
    files = spark.read.format("binaryFile").load(path).selectExpr(
        # binaryFile's ``path`` says file:/data/x; report a plain /data/x
        r"regexp_replace(path, '^[a-zA-Z0-9.+-]+:/+', '/') AS _src",
        r"filter(split(decode(content, 'ISO-8859-1'), '\\r?\\n'),"
        rf" l -> l RLIKE '{_META_LINE_RE}') AS meta",
        r"split(make_valid_utf8(CAST(content AS STRING)), '\\r?\\n') AS _lines",
    )
    key = sanitize_name_sql("regexp_extract(l, '^([^;]*):;', 1)")
    header = "get(filter(_lines, l -> startswith(l, 'Data;')), 0)"
    files = files.selectExpr(
        "_src",
        f"transform(meta, l -> {key}) AS keys",
        r"transform(meta, l -> regexp_replace(substring_index(l, ':;', -1), ';+$', '')) AS vals",
        f"transform(split({header}, ';'), n -> {sanitize_name_sql('n')}) AS _names",
        "_lines",
    )
    return files.selectExpr(
        "_src",
        *[f"{_pick('vals', 'keys', k)} AS {c}" for k, c in _STATION_COLUMNS.items()],
        "_names",
        "_lines",
    )


def measurement_rows(files: DataFrame, columns: list[str], carry: list[str]) -> DataFrame:
    """Explode ``read_inmet_files`` output into one row per data line:
    the ``carry`` columns of its file, then each of ``columns`` (sanitized
    header names) as a raw string, empty cells as null."""
    lines = files.selectExpr(*carry, "_names", "explode(_lines) AS line").where(
        f"trim(line) != '' AND NOT startswith(line, 'Data;') AND NOT line RLIKE '{_META_LINE_RE}'"
    )
    return lines.selectExpr(*carry, "_names", "split(line, ';') AS cells").selectExpr(
        *carry, *[f"nullif({_pick('cells', '_names', c)}, '') AS `{c}`" for c in columns]
    )


def read_inmet_stations(spark: SparkSession, path: str) -> DataFrame:
    """Station metadata: one row per input file, raw string columns
    ``regiao uf estacao wmo latitude longitude altitude data_fundacao``
    plus ``_src`` (source file) for joining with measurements.

    Replaces P1/S3 (job_parquet.py:57-104). Metadata bytes are decoded as
    ISO-8859-1 (reference parity — job_parquet.py:63)."""
    return read_inmet_files(spark, path).select("_src", *_STATION_COLUMNS.values())


def read_inmet_measurements(spark: SparkSession, path: str) -> DataFrame:
    """Hourly measurement rows from every file under ``path``: ``_src``
    plus the 19 ``schemas.INMET_BODY_COLUMNS`` as raw strings, picked by
    header name; a column a file's header lacks reads null.

    Replaces S4/S5/P6/F8 (text read + zipWithIndex skip + csv-on-RDD,
    job_parquet.py:113-135)."""
    return measurement_rows(read_inmet_files(spark, path), INMET_BODY_COLUMNS, ["_src"])
