"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed writes the
same bytes. Each also records the truth it planted, so the benchmark can
check the engine's outputs without trusting the engine.

- ``inmet_corpus``: INMET dual-section station CSVs in the reference's
  19-column shape, with the dirty variants of FIXTURES.md section A
  (decimal comma, bare ``,9``, empty and ``None`` cells, ``dd/MM/yy`` and
  ``dd/MM/yyyy`` founding dates, multi-word and accented station names,
  Latin-1 metadata over a UTF-8 body). About a quarter of the files use a
  second header revision with reordered columns. Writes ``truth.json``
  with the planted daily and monthly KPIs.
- ``query_tables``: a TPC-H-shaped star schema (nation, supplier,
  customer, part, orders, lineitem) and a text/vector corpus (documents
  with planted near-duplicates, clustered embeddings), with the column
  types of the registry's test data, plus ``oracles.json``: one digest per
  query of the registry's DuckDB oracle run on these very tables.
- ``snapshot_inputs``: an hourly fact keyed by (wmo, data_medicao, hora)
  with a month partition column, and a run of day deltas (new hours for
  every station, corrections to the previous day, a few deletes). The
  truth after each delta comes from ``apply_delta`` and ``daily_kpis``.

Outputs are cached per seed under the directory the caller passes.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The 19 measurement columns of the reference files, raw (accented) form.
INMET_HEADER = [
    "Data",
    "Hora UTC",
    "PRECIPITAÇÃO TOTAL, HORÁRIO (mm)",
    "PRESSAO ATMOSFERICA AO NIVEL DA ESTACAO, HORARIA (mB)",
    "PRESSÃO ATMOSFERICA MAX.NA HORA ANT. (AUT) (mB)",
    "PRESSÃO ATMOSFERICA MIN. NA HORA ANT. (AUT) (mB)",
    "RADIACAO GLOBAL (Kj/m²)",
    "TEMPERATURA DO AR - BULBO SECO, HORARIA (°C)",
    "TEMPERATURA DO PONTO DE ORVALHO (°C)",
    "TEMPERATURA MÁXIMA NA HORA ANT. (AUT) (°C)",
    "TEMPERATURA MÍNIMA NA HORA ANT. (AUT) (°C)",
    "TEMPERATURA ORVALHO MAX. NA HORA ANT. (AUT) (°C)",
    "TEMPERATURA ORVALHO MIN. NA HORA ANT. (AUT) (°C)",
    "UMIDADE REL. MAX. NA HORA ANT. (AUT) (%)",
    "UMIDADE REL. MIN. NA HORA ANT. (AUT) (%)",
    "UMIDADE RELATIVA DO AR, HORARIA (%)",
    "VENTO, DIREÇÃO HORARIA (gr) (° (gr))",
    "VENTO, RAJADA MAXIMA (m/s)",
    "VENTO, VELOCIDADE HORARIA (m/s)",
]
# Column order of the second header revision: same names, measures
# permuted (Data and Hora UTC stay first so the line still opens "Data;").
INMET_HEADER_REV2 = [0, 1, 7, 2, 15, 4, 18, 3, 5, 6, 8, 9, 10, 11, 12, 13, 14, 16, 17]

# Columns the pipeline keeps -> index in INMET_HEADER.
_PRECIP, _PRESS, _TEMP, _HUMID, _WIND = 2, 4, 7, 15, 18

_REGIONS = [("SE", "MG"), ("SE", "SP"), ("S", "RS"), ("NE", "BA"), ("CO", "GO"), ("N", "PA")]
_NAME_A = ["MONTE", "SAO", "SÃO", "BOM", "CAMPO", "PORTO", "SERRA", "VALE", "RIO", "PEDRA"]
_NAME_B = ["VERDE", "ALEGRE", "JOÃO", "GONÇALO", "ALTO", "BRANCO", "NOVO", "SECO", "LINDO", "AZUL"]

SNAPSHOT_KEYS = ["wmo", "data_medicao", "hora"]
SNAPSHOT_MEASURES = [
    "precipitacao_mm",
    "pressao_atm_kpa",
    "temperatura_c",
    "umidade_porcentagem",
    "vento_mps",
]


def cached(root: str, kind: str, seed: int, build, **params) -> str:
    """Directory holding ``build(out_dir, seed, **params)``'s output for
    this seed and these parameters, building it on first use. A marker
    file written last makes a half-built directory count as missing."""
    tag = hashlib.sha256(json.dumps(params, sort_keys=True).encode()).hexdigest()[:8]
    out = os.path.join(root, f"{kind}-s{seed}-{tag}")
    if os.path.exists(os.path.join(out, "DONE")):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    build(out, seed, **params)
    with open(os.path.join(out, "DONE"), "w") as f:
        f.write("ok\n")
    return out


# -- INMET station corpus ------------------------------------------------


def _comma(tenths: np.ndarray) -> list[str]:
    """Decimal-comma strings for values in tenths: 212 -> '21,2',
    9 -> ',9' (the bare form of the reference files), 0 -> '0'."""
    out = []
    for v in tenths.tolist():
        if v == 0:
            out.append("0")
        else:
            sign = "-" if v < 0 else ""
            whole, frac = divmod(abs(v), 10)
            out.append(f"{sign}{whole if whole else ''},{frac}")
    return out


def _dirty(rng, strings: list[str], share: float) -> list[str]:
    """Blank out a share of cells as '' or 'None' (both read as null)."""
    hit = rng.random(len(strings)) < share
    kind = rng.random(len(strings)) < 0.5
    return [("None" if k else "") if h else s for s, h, k in zip(strings, hit, kind)]


def _station_meta(rng, i: int) -> dict:
    regiao, uf = _REGIONS[i % len(_REGIONS)]
    name = f"{_NAME_A[rng.integers(len(_NAME_A))]} {_NAME_B[rng.integers(len(_NAME_B))]}"
    if i % 3 == 0:
        name = f"{name} {i}"  # keep most names unique, like real stations
    if rng.random() < 0.5:
        y = int(rng.integers(2000, 2020))
        founded = dt.date(y, int(rng.integers(1, 13)), int(rng.integers(1, 29)))
        founded_raw = founded.strftime("%d/%m/%y")
    else:
        y = int(rng.integers(1990, 2020))
        founded = dt.date(y, int(rng.integers(1, 13)), int(rng.integers(1, 29)))
        founded_raw = founded.strftime("%d/%m/%Y")
    return {
        "regiao": regiao,
        "uf": uf,
        "estacao": name,
        "wmo": f"{'ABCDEFGH'[i // 1000]}{i % 1000:03d}",
        "lat_tenths": int(rng.integers(-330000000, 50000000)),
        "lon_tenths": int(rng.integers(-730000000, -350000000)),
        "alt_cents": int(rng.integers(100, 150000)),
        "founded": founded.isoformat(),
        "founded_raw": founded_raw,
    }


def _fmt_scaled(v: int, digits: int) -> str:
    sign = "-" if v < 0 else ""
    whole, frac = divmod(abs(v), 10**digits)
    return f"{sign}{whole},{frac:0{digits}d}"


def inmet_corpus(out: str, seed: int, stations: int, days: int) -> None:
    """Write ``stations`` CSV files of ``days`` x 24 hourly rows each,
    starting 2025-01-01, plus ``truth.json``."""
    rng = np.random.default_rng([seed, 1])
    start = dt.date(2025, 1, 1)
    dates = [start + dt.timedelta(days=d) for d in range(days)]
    date_raw = [d.strftime("%Y/%m/%d") for d in dates]
    hours = days * 24
    truth_daily = {}
    truth_monthly = {}
    meta_out = []
    csv_bytes = 0
    for i in range(stations):
        m = _station_meta(rng, i)
        diurnal = np.tile(np.round(40 * np.sin(np.arange(24) / 24 * 2 * np.pi)), days)
        temp = (rng.integers(150, 300) + diurnal + rng.integers(-25, 26, hours)).astype(int)
        precip = np.where(rng.random(hours) < 0.12, rng.integers(1, 200, hours), 0)
        press = rng.integers(9000, 9300, hours)
        humid = rng.integers(20, 101, hours)
        wind = rng.integers(0, 80, hours)
        # null cells: the pipeline zero-fills them before aggregating
        null = {k: rng.random(hours) < 0.03 for k in (_PRECIP, _PRESS, _TEMP, _HUMID, _WIND)}
        vals = {
            _PRECIP: np.where(null[_PRECIP], 0, precip),
            _PRESS: np.where(null[_PRESS], 0, press),
            _TEMP: np.where(null[_TEMP], 0, temp),
            _HUMID: np.where(null[_HUMID], 0, humid * 10),
            _WIND: np.where(null[_WIND], 0, wind),
        }
        cols: list[list[str]] = [None] * 19  # type: ignore[list-item]
        cols[0] = [date_raw[h // 24] for h in range(hours)]
        cols[1] = [f"{h % 24:02d}00 UTC" for h in range(hours)]
        cols[_PRECIP] = _comma(precip)
        cols[_PRESS] = _comma(press)
        cols[_TEMP] = _comma(temp)
        cols[_HUMID] = [str(v) for v in humid.tolist()]
        cols[_WIND] = _comma(wind)
        for k in null:
            cols[k] = [
                ("None" if (h % 2) else "") if n else s
                for h, (s, n) in enumerate(zip(cols[k], null[k]))
            ]
        unused = [c for c in range(2, 19) if cols[c] is None]
        for c in unused:
            cols[c] = _dirty(rng, _comma(rng.integers(0, 4000, hours)), 0.1)
        order = INMET_HEADER_REV2 if i % 4 == 3 else list(range(19))
        header = ";".join(INMET_HEADER[c] for c in order) + ";"
        body = "\n".join(";".join(row) + ";" for row in zip(*(cols[c] for c in order)))
        meta_lines = (
            f"REGIAO:;{m['regiao']}\nUF:;{m['uf']}\nESTACAO:;{m['estacao']}\n"
            f"CODIGO (WMO):;{m['wmo']}\n"
            f"LATITUDE:;{_fmt_scaled(m['lat_tenths'], 8)}\n"
            f"LONGITUDE:;{_fmt_scaled(m['lon_tenths'], 8)}\n"
            f"ALTITUDE:;{_fmt_scaled(m['alt_cents'], 2)}\n"
            f"DATA DE FUNDACAO:;{m['founded_raw']}\n"
        )
        raw = meta_lines.encode("iso-8859-1") + (header + "\n" + body + "\n").encode("utf-8")
        fname = f"INMET_{m['regiao']}_{m['uf']}_{m['wmo']}_{m['estacao'].encode('ascii', 'ignore').decode().replace(' ', '_')}.csv"
        with open(os.path.join(out, fname), "wb") as f:
            f.write(raw)
        csv_bytes += len(raw)
        meta_out.append(m)
        _plant_daily(truth_daily, truth_monthly, m, dates, vals)
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(
            {
                "stations": meta_out,
                "days": days,
                "first_day": start.isoformat(),
                "rows": stations * hours,
                "csv_bytes": csv_bytes,
                "daily": truth_daily,
                "monthly": truth_monthly,
            },
            f,
        )


def _plant_daily(daily: dict, monthly: dict, m: dict, dates, vals: dict) -> None:
    """Record the daily and monthly aggregates of one station, from the
    same zero-filled values the CSV carries."""
    d = len(dates)
    temp = vals[_TEMP].reshape(d, 24) / 10
    precip = vals[_PRECIP].reshape(d, 24) / 10
    sk = f"{m['wmo']}-{m['uf']}-{m['estacao']}".upper()
    per_month: dict[str, list] = {}
    for j, day in enumerate(dates):
        row = [
            float(temp[j].min()),
            float(temp[j].max()),
            float(temp[j].mean()),
            float(precip[j].sum()),
            24,
        ]
        daily[f"{m['wmo']}|{day.isoformat()}"] = row
        per_month.setdefault(f"{sk}|{day.year}|{day.month}", []).append(row)
    for key, rows in per_month.items():
        monthly[key] = [
            float(np.mean([r[2] for r in rows])),
            max(r[1] for r in rows),
            float(np.sum([r[3] for r in rows])),
            sum(1 for r in rows if r[3] > 0),
        ]


# -- star schema -----------------------------------------------------------

_TS = pa.timestamp("us")


def _days_since(base: dt.date, n: np.ndarray) -> pa.Array:
    epoch = (base - dt.date(1970, 1, 1)).days
    return pa.array((epoch + n).astype("int64") * 86_400_000_000, type=_TS)


def query_tables(out: str, seed: int, scale: float, docs: int, vecs: int, queries: list[str]) -> None:
    """Star tables (``scale`` = 1.0 gives the registry's sf0.01 row
    counts), ``docs`` documents and ``vecs`` embeddings, ``rows.json`` and
    the DuckDB oracle digest of every query in ``queries``."""
    tables = _star_tables(np.random.default_rng([seed, 2]), scale)
    tables |= _corpus_tables(np.random.default_rng([seed, 5]), docs, vecs)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
    with open(os.path.join(out, "oracles.json"), "w") as f:
        json.dump(_oracle_digests(out, queries), f, indent=1)
    with open(os.path.join(out, "rows.json"), "w") as f:
        json.dump({name: t.num_rows for name, t in tables.items()}, f)


def _star_tables(rng, scale: float) -> dict[str, pa.Table]:
    n_sup, n_cust = max(10, int(100 * scale)), max(50, int(1500 * scale))
    n_part, n_ord, n_li = int(2000 * scale), int(15000 * scale), int(60000 * scale)

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    return {
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_sup), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_sup)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_sup), pa.int32()),
                "s_acctbal": money(-999.99, 9999.99, n_sup),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": money(-999.99, 9999.99, n_cust),
                "c_mktsegment": rng.choice(
                    ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
                ).tolist(),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), pa.int64()),
                "p_name": [
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice(["small", "large", "red", "blue", "old", "hot", "cold", "new"], n_part),
                        rng.choice(["ring", "widget", "bolt", "gear", "gizmo", "plate", "nut", "pipe"], n_part),
                    )
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": rng.choice(
                    ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"], n_part
                ).tolist(),
                "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
                "p_retailprice": np.round(rng.integers(9000, 10000, n_part) / 10, 1),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
                "o_orderstatus": rng.choice(["F", "O", "P"], n_ord).tolist(),
                "o_totalprice": money(1000, 500000, n_ord),
                "o_orderdate": _days_since(dt.date(1995, 1, 1), rng.integers(0, 2404, n_ord)),
                "o_orderpriority": rng.choice(
                    ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
                ).tolist(),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
                "l_suppkey": pa.array(rng.integers(0, n_sup, n_li), pa.int64()),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
                "l_quantity": rng.integers(1, 51, n_li).astype(float),
                "l_extendedprice": money(900, 105000, n_li),
                "l_discount": rng.integers(0, 11, n_li) / 100,
                "l_tax": rng.integers(0, 9, n_li) / 100,
                "l_returnflag": rng.choice(["A", "N", "R"], n_li).tolist(),
                "l_linestatus": rng.choice(["O", "F"], n_li).tolist(),
                "l_shipdate": _days_since(dt.date(1995, 1, 2), rng.integers(0, 2498, n_li)),
            }
        ),
    }


# Vocabulary, languages and sources of the registry's test documents.
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order vector line table "
    "data agg value key stream window a spark part group big sort query fast the"
).split()
_LANGS = ["en", "zh", "es", "de", "fr"]
_LANG_P = [0.44, 0.15, 0.15, 0.14, 0.12]


def _corpus_tables(rng, docs: int, vecs: int) -> dict[str, pa.Table]:
    """Documents of 10-99 random words, about 5% of them a copy of an
    earlier document with " dup" appended (Jaccard >= 0.9 on word
    3-grams; one copy of a copy), and unit embeddings in 10 planted
    clusters (label = cluster), so exact and IVF top-k agree."""
    texts = [" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))) for _ in range(docs)]
    n_dups = max(2, docs // 20)
    targets = sorted(rng.choice(np.arange(docs // 2, docs), n_dups, replace=False).tolist())
    for j, t in enumerate(targets):
        src = targets[0] if j == 1 else int(rng.integers(0, docs // 2))
        while len(texts[src].split()) < 30:  # short sources drift below LSH recall
            src = int(rng.integers(0, docs // 2))
        texts[t] = texts[src] + " dup"
    documents = pa.table(
        {
            "doc_id": pa.array(np.arange(docs), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, docs, p=_LANG_P).tolist(),
            "source": [f"src{k}" for k in rng.integers(0, 20, docs)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    dim, k = 64, 10
    centers = rng.standard_normal((k, dim))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    label = rng.integers(0, k, vecs)
    v = centers[label] + 0.35 * rng.standard_normal((vecs, dim)) / np.sqrt(dim)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    embeddings = pa.table(
        {
            "vec_id": pa.array(np.arange(vecs), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )
    return {"documents": documents, "embeddings": embeddings}


def _oracle_digests(sf_dir: str, queries: list[str]) -> dict:
    """Run each query's DuckDB oracle from the registry over ``sf_dir``."""
    import duckdb

    from airflow_etl_pyspark_inmet_spark.plans.registry import ORACLES

    con = duckdb.connect()
    try:
        for path in sorted(os.listdir(sf_dir)):
            if path.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {path[:-8]} AS SELECT * FROM '{os.path.join(sf_dir, path)}'"
                )
        out = {}
        for name in queries:
            res = con.execute(ORACLES[name])
            cols = [d[0] for d in res.description]
            out[name] = digest(cols, res.fetchall())
        return out
    finally:
        con.close()


def digest(cols: list[str], rows: list) -> dict:
    """Order-insensitive digest of a result, canonicalized the way
    scripts/oracle_check.py compares Spark against DuckDB."""
    from scripts.oracle_check import canon

    order = sorted(cols)
    idx = [cols.index(c) for c in order]
    canon_rows = sorted(tuple(canon(r[i]) for i in idx) for r in rows)
    h = hashlib.sha256(repr(canon_rows).encode()).hexdigest()
    return {"columns": order, "rows": len(rows), "sha256": h}


# -- snapshot fact and day deltas -----------------------------------------


def _fact_day(rng, wmos: list[str], day: dt.date) -> dict:
    n = len(wmos) * 24
    return {
        "wmo": np.repeat(wmos, 24),
        "data_medicao": np.full(n, day),
        "hora": np.tile(np.arange(24, dtype=np.int32), len(wmos)),
        "precipitacao_mm": np.where(rng.random(n) < 0.12, rng.integers(1, 200, n), 0) / 10,
        "pressao_atm_kpa": rng.integers(9000, 9300, n) / 10,
        "temperatura_c": rng.integers(100, 380, n) / 10,
        "umidade_porcentagem": rng.integers(20, 101, n).astype(float),
        "vento_mps": rng.integers(0, 80, n) / 10,
    }


def _fact_table(cols: dict) -> pa.Table:
    t = pa.table(
        {
            "wmo": pa.array(cols["wmo"].tolist(), pa.string()),
            "data_medicao": pa.array(cols["data_medicao"].tolist(), pa.date32()),
            "hora": pa.array(cols["hora"], pa.int32()),
            **{m: pa.array(cols[m], pa.float64()) for m in SNAPSHOT_MEASURES},
        }
    )
    month = [d.strftime("%Y-%m") for d in cols["data_medicao"].tolist()]
    t = t.append_column("ano_mes", pa.array(month, pa.string()))
    if "_delete" in cols:
        t = t.append_column("_delete", pa.array(cols["_delete"], pa.bool_()))
    return t


def snapshot_inputs(out: str, seed: int, stations: int, base_days: int, deltas: int) -> None:
    """``base.parquet`` (``base_days`` days from 2025-01-01) and
    ``delta-0001.parquet`` ... one day each: every station's 24 new hours,
    about a tenth of the previous day's hours corrected, and three of the
    previous day's hours deleted."""
    rng = np.random.default_rng([seed, 3])
    wmos = [f"S{i:03d}" for i in range(stations)]
    start = dt.date(2025, 1, 1)
    base = [_fact_day(rng, wmos, start + dt.timedelta(days=d)) for d in range(base_days)]
    cols = {k: np.concatenate([b[k] for b in base]) for k in base[0]}
    pq.write_table(_fact_table(cols), os.path.join(out, "base.parquet"))
    for k in range(1, deltas + 1):
        day = start + dt.timedelta(days=base_days + k - 1)
        new = _fact_day(rng, wmos, day)
        prev = _fact_day(rng, wmos, day - dt.timedelta(days=1))
        n = len(wmos) * 24
        fix = rng.permutation(n)[: n // 10 + 3]
        parts = [new, {c: v[fix] for c, v in prev.items()}]
        delta = {c: np.concatenate([p[c] for p in parts]) for c in new}
        delta["_delete"] = np.zeros(len(delta["wmo"]), bool)
        delta["_delete"][-3:] = True
        pq.write_table(_fact_table(delta), os.path.join(out, f"delta-{k:04d}.parquet"))
    with open(os.path.join(out, "meta.json"), "w") as f:
        json.dump(
            {"stations": wmos, "base_days": base_days, "deltas": deltas, "first_day": start.isoformat()},
            f,
        )


def apply_delta(state, delta):
    """The planted truth of one merge: rows of ``delta`` replace the
    rows of ``state`` (a pandas frame) with the same key, and rows
    flagged ``_delete`` are dropped instead."""
    import pandas as pd

    keys = pd.MultiIndex.from_frame(delta[SNAPSHOT_KEYS])
    keep = ~pd.MultiIndex.from_frame(state[SNAPSHOT_KEYS]).isin(keys)
    return pd.concat(
        [state[keep], delta[~delta["_delete"]].drop(columns="_delete")], ignore_index=True
    )


def daily_kpis(state, month: str) -> dict:
    """Planted daily aggregate (fato_agg_previsoes_dia) of one month:
    (wmo, iso date) -> [temp min, temp max, temp avg, precip sum, rows]."""
    rows = state[state["ano_mes"] == month]
    g = rows.groupby(["wmo", "data_medicao"])
    agg = g.agg(
        tmin=("temperatura_c", "min"),
        tmax=("temperatura_c", "max"),
        tavg=("temperatura_c", "mean"),
        precip=("precipitacao_mm", "sum"),
        n=("hora", "size"),
    )
    return {
        f"{w}|{d.isoformat()}": [r.tmin, r.tmax, r.tavg, r.precip, int(r.n)]
        for (w, d), r in agg.iterrows()
    }
