"""Cleaning kit: native Column expressions replacing the reference's
driver-side pandas helpers (SURVEY.md §2.6).

Every function here is a native Spark expression — a Column, or SQL text
(the ``*_sql`` builders) that a plan can pass to ``selectExpr`` to build many
columns in one driver call — JVM-side, whole-stage-codegen eligible, no
Python UDFs, so the hot path stays vectorized at any scale.
"""

from __future__ import annotations

import re
import unicodedata
from collections.abc import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def decimal_comma_sql(expr: str) -> str:
    """SQL text parsing the Brazilian decimal-comma string SQL expression
    ``expr`` (``'916,1'``, ``',9'``, ``'None'``, ``''``) into a double,
    coercing junk to null.

    Replaces the reference's pandas ``converter_coluna_float``
    (job_parquet.py:149-173): strip, map {'', 'None', 'nan'} -> null,
    ``','`` -> ``'.'``, cast float. ``try_cast``, not ``cast``: Spark 4
    runs ANSI mode, where ``cast('abc' AS DOUBLE)`` throws, and the
    reference's errors='coerce' semantics require null.
    """
    c = f"trim({expr})"
    return (
        f"try_cast(replace(CASE WHEN {c} IN ('', 'None', 'nan') THEN NULL"
        f" ELSE {c} END, ',', '.') AS DOUBLE)"
    )


def decimal_comma_to_double(expr: str) -> Column:
    """:func:`decimal_comma_sql` of a column name or SQL expression."""
    return F.expr(decimal_comma_sql(expr))


# (shape guard, pattern) per format. Order matters: a 4-digit-leading value
# must hit yyyy/MM/dd first; a dd/MM/yyyy value must not be truncated by
# dd/MM/yy. Each guard makes its format apply to strings of its exact shape.
_DAYFIRST_FORMATS = [
    ("^[0-9]{4}/[0-9]{2}/[0-9]{2}$", "yyyy/MM/dd"),
    ("^[0-9]{2}/[0-9]{2}/[0-9]{4}$", "dd/MM/yyyy"),
    ("^[0-9]{2}/[0-9]{2}/[0-9]{2}$", "dd/MM/yy"),
]


def dayfirst_date_sql(expr: str) -> str:
    """SQL text for a multi-format day-first date parse of the string SQL
    expression ``expr``, with coerce-to-null.

    Replicates pandas ``to_datetime(dayfirst=True, errors='coerce')``
    (job_parquet.py:95-97,190) for the formats present in INMET data:
    ``dd/MM/yyyy`` (19/12/2004), ``dd/MM/yy`` (18/12/02), and the
    measurement-date form ``yyyy/MM/dd`` (2025/01/01). ``try_to_date``
    nulls on mismatch.
    """
    c = f"trim({expr})"
    tries = ", ".join(
        f"try_to_date(CASE WHEN {c} RLIKE '{shape}' THEN {c} END, '{fmt}')"
        for shape, fmt in _DAYFIRST_FORMATS
    )
    return f"coalesce({tries})"


def dayfirst_date(expr: str) -> Column:
    """:func:`dayfirst_date_sql` of a column name or SQL expression."""
    return F.expr(dayfirst_date_sql(expr))


_SANITIZE_RE = re.compile(r"[^\w]+")


def sanitize_name(name: str) -> str:
    """NFKD accent-strip + non-word runs -> ``_`` + strip + lowercase.

    Same normalization the reference applies to CSV headers
    (job_parquet.py:138-145): ``'PRECIPITAÇÃO TOTAL, HORÁRIO (mm)'`` ->
    ``'precipitacao_total_horario_mm'``.
    """
    stripped = (
        unicodedata.normalize("NFKD", name).encode("ascii", "ignore").decode("ascii")
    )
    return _SANITIZE_RE.sub("_", stripped).strip("_").lower()


def _latin1_ascii_fold() -> tuple[str, str, dict[str, str]]:
    """:func:`sanitize_name`'s NFKD + ASCII-ignore step over U+0080-U+00FF
    as ``translate`` arguments: (from, to, multi-char folds). Characters
    past ``len(to)`` in ``from`` fold to nothing and are deleted, as
    ``encode('ascii', 'ignore')`` deletes them."""
    single_from, single_to, dropped, multi = [], [], [], {}
    for ch in map(chr, range(0x80, 0x100)):
        folded = unicodedata.normalize("NFKD", ch).encode("ascii", "ignore").decode()
        if len(folded) > 1:
            multi[ch] = folded  # ¼ ½ ¾
        elif folded:
            single_from.append(ch)
            single_to.append(folded)
        else:
            dropped.append(ch)
    return "".join(single_from + dropped), "".join(single_to), multi


def _sql_str(s: str) -> str:
    """SQL string literal with every non-ASCII char as a ``\\uXXXX`` escape."""
    return "'" + "".join(c if c.isascii() else f"\\u{ord(c):04x}" for c in s) + "'"


def _sanitize_name_sql() -> str:
    fold_from, fold_to, multi = _latin1_ascii_fold()
    x = "{0}"
    for ch, folded in multi.items():
        x = f"replace({x}, {_sql_str(ch)}, '{folded}')"
    x = f"lower(translate({x}, {_sql_str(fold_from)}, {_sql_str(fold_to)}))"
    return f"regexp_replace(regexp_replace({x}, '[^a-z0-9_]+', '_'), '^_+|_+$', '')"


_SANITIZE_NAME_SQL = _sanitize_name_sql()


def sanitize_name_sql(expr: str) -> str:
    """SQL text computing :func:`sanitize_name` of the string SQL
    expression ``expr`` inside the JVM. It agrees with
    :func:`sanitize_name` on Latin-1 text (U+0000-U+00FF)."""
    return _SANITIZE_NAME_SQL.format(expr)


def sanitize_columns(df: DataFrame) -> DataFrame:
    """Rename every column through :func:`sanitize_name` (P3)."""
    return df.toDF(*[sanitize_name(c) for c in df.columns])


def surrogate_key(*cols: str, sep: str = "-") -> Column:
    """``CONCAT(TRIM(UPPER(COALESCE(c,''))), '-', ...)`` surrogate key.

    Mirrors ``cidade_sk`` (create_dim_cidade_atributos.sql:7-12):
    null components become empty segments, never null keys.
    """
    parts = [f"trim(upper(coalesce({c}, '')))" for c in cols]
    return F.expr("concat(" + f", '{sep}', ".join(parts) + ")")


def zero_fill(df: DataFrame, cols: Iterable[str]) -> DataFrame:
    """Null -> 0 on measure columns, applied BEFORE aggregation to match the
    reference's fillna semantics (job_parquet.py:214-220): zeros participate
    in AVG/MIN where SQL aggs would have skipped nulls."""
    return df.na.fill(0, subset=list(cols))


def date_parts(date_col: str) -> dict[str, Column]:
    """dia/mes/ano/quartil/semana_do_ano extraction (job_parquet.py:269-276)
    from a date column name or SQL expression.

    Spark's ``weekofyear`` is ISO-8601, matching pandas
    ``isocalendar().week``.
    """
    parts = {
        "dia": "dayofmonth",
        "mes": "month",
        "ano": "year",
        "quartil": "quarter",
        "semana_do_ano": "weekofyear",
    }
    return {n: F.expr(f"CAST({fn}({date_col}) AS INT)") for n, fn in parts.items()}
