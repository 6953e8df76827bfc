#!/usr/bin/env python
"""Local replica of the driver's t2 correctness gate: run every
``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB at sf0.01,
compare row count, column names/types (cross-engine type skew), and
order-insensitive values.

Usage: python scripts/oracle_check.py [--sf 0.001|0.01|0.1] [query_name ...]
  --sf      scale factor directory (default 0.01, the driver's)
Exit 0 iff all checked queries match.
"""

from __future__ import annotations

import math
import sys
import time

import duckdb

sys.path.insert(0, ".")

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
SF_DIR = "/root/testdata/sf0.01"


def canon(v):
    if isinstance(v, float):
        if math.isnan(v):
            return ("f", "nan")
        return ("f", repr(v))
    return (type(v).__name__, repr(v))


# Spark simpleString dtype -> the DuckDB type the oracle must emit.
# A value-equal result in a different serialized width (the q03
# HUGEINT-vs-BIGINT bug, or INT-vs-BIGINT) still hash-mismatches at the
# driver, so the type SHAPES must agree, not just the column names.
SPARK_TO_DUCK = {
    "bigint": "BIGINT",
    "int": "INTEGER",
    "double": "DOUBLE",
    "string": "VARCHAR",
    "date": "DATE",
    "timestamp": "TIMESTAMP",
    "boolean": "BOOLEAN",
}


def type_mismatches(sdf, con, sql) -> list[str]:
    duck = {
        c: str(t) for c, t in zip(con.sql(sql).columns, con.sql(sql).types)
    }
    out = []
    for name, dtype in sdf.dtypes:
        want = SPARK_TO_DUCK.get(dtype)
        got = duck.get(name)
        if want is None:
            out.append(f"{name}: unmapped spark type {dtype}")
        elif got != want:
            out.append(f"{name}: spark {dtype} vs duckdb {got}")
    return out


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per testdata table of ``sf_dir``."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def oracle_diff(sdf, srows, con, sql) -> list[str]:
    """How Spark's collected ``srows`` of ``sdf`` differ from the DuckDB
    result of ``sql`` on ``con``: column names, cross-engine type
    shapes, row count, then order-insensitive values. Empty when they
    agree; a DuckDB error propagates."""
    ores = con.execute(sql)
    ocols = [d[0] for d in ores.description]
    orows = ores.fetchall()

    scols = sdf.columns
    msgs = []
    if sorted(scols) != sorted(ocols):
        msgs.append(f"columns spark={sorted(scols)} oracle={sorted(ocols)}")
    else:
        tmis = type_mismatches(sdf, con, sql)
        if tmis:
            msgs.append("type skew: " + "; ".join(tmis))
    if len(srows) != len(orows):
        msgs.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
    if not msgs:
        order = sorted(scols)
        sset = sorted(
            tuple(canon(r[scols.index(c)]) for c in order) for r in srows
        )
        oset = sorted(
            tuple(canon(r[ocols.index(c)]) for c in order) for r in orows
        )
        if sset != oset:
            ndiff = sum(1 for a, b in zip(sset, oset) if a != b)
            msgs.append(f"values differ in {ndiff}/{len(sset)} sorted rows")
            for a, b in zip(sset, oset):
                if a != b:
                    msgs.append(f"  first diff:\n   spark : {a}\n   oracle: {b}")
                    break
    return msgs


def main() -> int:
    import __spark_entry__ as E
    from airflow_etl_pyspark_inmet_spark.session import get_spark

    global SF_DIR
    args = sys.argv[1:]
    if "--sf" in args:
        i = args.index("--sf")
        SF_DIR = f"/root/testdata/sf{args[i + 1]}"
        del args[i : i + 2]

    spark = get_spark(shuffle_partitions=16)
    con = connect(SF_DIR)

    qs = E.queries()
    oracles = E.oracle_sql()
    names = args or list(qs)
    failures = []
    for name in names:
        t0 = time.time()
        try:
            sdf = qs[name](spark, SF_DIR)
            srows = sdf.collect()
        except Exception as ex:
            failures.append(name)
            print(f"FAIL {name}: spark error: {type(ex).__name__}: {str(ex)[:300]}")
            continue
        if name not in oracles:
            print(f"ok?  {name}: rows-only ({len(srows)} rows, no oracle) "
                  f"[{time.time()-t0:.1f}s]")
            continue
        try:
            msgs = oracle_diff(sdf, srows, con, oracles[name])
        except Exception as ex:
            failures.append(name)
            print(f"FAIL {name}: duckdb error: {type(ex).__name__}: {str(ex)[:300]}")
            continue
        if msgs:
            failures.append(name)
            print(f"FAIL {name}: " + "; ".join(msgs[:3]))
        else:
            print(f"PASS {name} ({len(srows)} rows) [{time.time()-t0:.1f}s]")

    print(f"\n{len(names) - len(failures)}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
