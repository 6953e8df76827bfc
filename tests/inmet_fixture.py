"""Three INMET station CSVs for the Tier-1 tests, built to FIXTURES.md §A.

The files stand in for the reference's three station files: A507
``UBERLANDIA``, A508 ``ALMENARA`` and A509 ``MONTE VERDE``, 4,344 hourly
rows each (2025-01-01 00:00 to 2025-06-30 23:00 UTC). They carry the §A
dirty variants: ISO-8859-1 metadata bytes (accented keys on A508 and
A509) over a UTF-8 body, decimal commas, bare ``,9``, empty and ``None``
cells, whitespace padding, ``dd/MM/yy`` and ``dd/MM/yyyy`` founding dates.
A509 uses the second header revision, with reordered measure columns.
The values are a fixed function of the row, so every build writes the
same bytes.

    python -m tests.inmet_fixture <dir>    # writes <dir>/INMET_*.csv, prints the glob
"""

from __future__ import annotations

import datetime as dt
import os
import sys

from perfbench.gen import INMET_HEADER, INMET_HEADER_REV2

HOURS = 4344  # 181 days x 24 h
FIRST_DAY = dt.date(2025, 1, 1)

# (file name, metadata lines, header column order)
STATIONS = [
    (
        "INMET_SE_MG_A507_UBERLANDIA.csv",
        [
            "REGIAO:;SE",
            "UF:;MG",
            "ESTACAO:;UBERLANDIA",
            "CODIGO (WMO):;A507",
            "LATITUDE:;-18,91694443",
            "LONGITUDE:;-48,25555555",
            "ALTITUDE:;874,77",
            "DATA DE FUNDACAO:;18/12/02",
        ],
        list(range(19)),
    ),
    (
        "INMET_SE_MG_A508_ALMENARA.csv",
        [
            "REGIÃO:;SE",
            "UF:;MG",
            "ESTAÇÃO:;ALMENARA",
            "CODIGO (WMO):;A508",
            "LATITUDE:;-16,16666666",
            "LONGITUDE:;-40,68777777",
            "ALTITUDE:;189,72",
            "DATA DE FUNDAÇÃO:;13/12/02",
        ],
        list(range(19)),
    ),
    (
        "INMET_SE_MG_A509_MONTE_VERDE.csv",
        [
            "REGIÃO:;SE",
            "UF:;MG",
            "ESTAÇÃO:;MONTE VERDE",
            "CODIGO (WMO):;A509",
            "LATITUDE:;-22,86166666",
            "LONGITUDE:;-46,04333333",
            "ALTITUDE:;1544,89",
            "DATA DE FUNDAÇÃO:;19/12/2004",
        ],
        INMET_HEADER_REV2,
    ),
]


def _comma(tenths: int) -> str:
    """212 -> '21,2', 9 -> ',9' (the bare form), 0 -> '0'."""
    if tenths == 0:
        return "0"
    whole, frac = divmod(abs(tenths), 10)
    return f"{'-' if tenths < 0 else ''}{whole or ''},{frac}"


def _row(station: int, h: int) -> list[str]:
    """The 19 raw cells of hour ``h`` of station ``station``."""
    day, hour = divmod(h, 24)
    k = station * 7919 + h * 31
    temp = 180 + 6 * station + (hour * (24 - hour)) // 3 - day % 7
    cells = [
        (FIRST_DAY + dt.timedelta(days=day)).strftime("%Y/%m/%d"),
        f"{hour:02d}00 UTC",
        _comma(k % 23) if k % 9 == 0 else "0",  # precipitation
        _comma(9150 + k % 40),
        _comma(9160 + k % 40),  # pressure max, the fact's pressao
        _comma(9140 + k % 40),
        "" if hour < 9 or hour > 21 else str(500 + k % 2500),  # radiation
        _comma(temp),  # dry-bulb temperature
        _comma(temp - 25),
        _comma(temp + 3),
        _comma(temp - 4),
        _comma(temp - 22),
        _comma(temp - 28),
        str(60 + k % 40),
        str(40 + k % 40),
        str(45 + k % 50),  # relative humidity
        str(k % 360),
        _comma(10 + k % 90),
        _comma(k % 40),  # wind speed: ',9' whenever k % 40 == 9
    ]
    if k % 13 == 0:  # null cells, zero-filled by the pipeline
        cells[2 + k % 17] = "None" if h % 2 else ""
    if k % 11 == 0:
        cells[4] = f" {cells[4]} "
    return cells


def write_inmet_fixture(out_dir: str) -> str:
    """Write the three CSVs into ``out_dir``; returns their glob."""
    os.makedirs(out_dir, exist_ok=True)
    for i, (name, meta, order) in enumerate(STATIONS):
        header = ";".join(INMET_HEADER[c] for c in order) + ";"
        body = "".join(
            ";".join(cells[c] for c in order) + ";\n"
            for cells in (_row(i, h) for h in range(HOURS))
        )
        raw = ("\n".join(meta) + "\n").encode("iso-8859-1")
        raw += (header + "\n" + body).encode("utf-8")
        with open(os.path.join(out_dir, name), "wb") as f:
            f.write(raw)
    return os.path.join(out_dir, "*.csv")


if __name__ == "__main__":
    print(write_inmet_fixture(sys.argv[1]))
