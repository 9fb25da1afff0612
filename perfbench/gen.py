"""Seeded generator of HM Land Registry Price-Paid input.

Writes the 16 Price-Paid columns under header names that
``functions.cleaning.discover_columns`` resolves, a postcode -> Local
Authority lookup CSV, and (for the daily tick) one file per day. The same
seed and shape give byte-identical files.

Planted properties, all exact and returned in the ``Generated`` record:

- Local Authority (LA) sizes follow a Zipf law (rank ** -ZIPF_S);
- a fixed share of postcodes is absent from the lookup, and a share of rows
  has a blank postcode, so coverage is below 100 %;
- transaction ids are unique across the history and every daily file;
- a small share of dates and prices cannot be parsed (the null paths of
  ``coerce_timestamp`` and ``coerce_double``).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np

HEADER = [
    "Transaction unique identifier",
    "Price",
    "Date of Transfer",
    "Postcode",
    "Property Type",
    "Old/New",
    "Duration",
    "PAON",
    "SAON",
    "Street",
    "Locality",
    "Town/City",
    "District",
    "County",
    "PPD Category Type",
    "Record Status - monthly file only",
]

ZIPF_S = 1.0
POSTCODES_PER_LA = 60
UNMAPPED_POSTCODE_SHARE = 0.04  # postcodes left out of the lookup
BLANK_POSTCODE_SHARE = 0.005
BAD_DATE_SHARE = 0.002
BAD_PRICE_SHARE = 0.002
# one data row: 16 quoted fields, as in the published HMLR files
_LINE = (
    '"{%08X-%04X-4000-8000-%012X}","%s","%s","%s","%s","%s","%s","%d","%s",'
    '"STREET %03d","","TOWN %s","DISTRICT %s","COUNTY","A","A"'
)


@dataclass(frozen=True)
class Shape:
    """Size of one generated data set."""

    rows: int
    las: int
    start: str  # first sale date, ISO
    days: int  # span of history in days
    tick_days: int = 0  # daily files after the history
    tick_rows: int = 0  # rows per daily file


@dataclass
class Generated:
    """Paths of the written files plus the planted ground truth.

    ``table`` holds the rows the pipeline should keep, as numpy columns:
    ``day`` (datetime64[D], valid dates only), ``price`` (float, NaN where
    unparseable), ``tid`` (int) and ``la`` (LA index, -1 if unmapped).
    ``rows_raw`` counts every data row written to the main file.
    """

    prices_csv: str
    lookup_csv: str
    day_csvs: list[str]
    rows_raw: int
    la_names: list[str]
    table: dict[str, np.ndarray]
    day_tables: list[dict[str, np.ndarray]]


def _postcode(la: np.ndarray, j: np.ndarray) -> np.ndarray:
    """Unique postcode per (la, j): the two area letters encode the LA."""
    letters = np.array(list("ABCDEFGHIJKLMNOPQRSTUVWXYZ"))
    area = np.char.add(letters[la // 26], letters[la % 26])
    district = (j // 260 + 1).astype(str)
    sector = (j // 26 % 10).astype(str)
    unit = np.char.add(letters[j % 26], letters[(j * 7 + la) % 26])
    return np.char.add(
        np.char.add(np.char.add(area, district), " "), np.char.add(sector, unit)
    )


class _Pool:
    """Seeded LA weights and postcode pool shared by history and ticks."""

    def __init__(self, rng: np.random.Generator, las: int):
        ranks = rng.permutation(las) + 1
        w = ranks.astype(np.float64) ** -ZIPF_S
        self.weights = w / w.sum()
        self.las = las
        la = np.repeat(np.arange(las), POSTCODES_PER_LA)
        j = np.tile(np.arange(POSTCODES_PER_LA), las)
        self.postcodes = _postcode(la, j).tolist()
        self.pc_la = la
        self.mapped = rng.random(la.size) >= UNMAPPED_POSTCODE_SHARE
        self.names = [f"LA{i:03d}" for i in range(las)]


def _rows(
    rng: np.random.Generator,
    pool: _Pool,
    n: int,
    first_tid: int,
    day_lo: np.datetime64,
    day_span: int,
) -> tuple[list[str], dict[str, np.ndarray]]:
    """``n`` Price-Paid rows as CSV lines plus their ground-truth columns."""
    la = rng.choice(pool.las, size=n, p=pool.weights)
    pc_idx = la * POSTCODES_PER_LA + rng.integers(0, POSTCODES_PER_LA, n)
    blank = rng.random(n) < BLANK_POSTCODE_SHARE
    offset = rng.integers(0, day_span, n)
    day = day_lo + offset.astype("timedelta64[D]")
    bad_date = rng.random(n) < BAD_DATE_SHARE
    price = np.round(np.exp(rng.normal(12.4, 0.55, n)) / 50.0) * 50.0
    bad_price = rng.random(n) < BAD_PRICE_SHARE
    tid = first_tid + np.arange(n)
    salt = rng.integers(0, 2**32, n, dtype=np.uint64)
    ptype = np.array(list("DSTFO"))[rng.choice(5, n, p=[0.25, 0.27, 0.28, 0.18, 0.02])]
    new = np.where(rng.random(n) < 0.1, "Y", "N")
    dur = np.where(rng.random(n) < 0.75, "F", "L")
    paon = rng.integers(1, 200, n)
    flat = rng.random(n) < 0.08
    street = rng.integers(0, 500, n)
    lower = rng.random(n) < 0.01  # postcodes typed in lower case

    pcs = [
        "" if b else (pool.postcodes[i].lower() if lo else pool.postcodes[i])
        for i, b, lo in zip(pc_idx.tolist(), blank.tolist(), lower.tolist())
    ]
    prices = [
        "unknown" if b else "%d" % p for p, b in zip(price.tolist(), bad_price.tolist())
    ]
    day_str = [f"{day_lo + k} 00:00" for k in range(day_span)]
    dates = [
        "n/a" if b else day_str[k] for k, b in zip(offset.tolist(), bad_date.tolist())
    ]
    saon = [
        f"FLAT {p % 9 + 1}, BLOCK {chr(65 + p % 5)}" if f else ""
        for p, f in zip(paon.tolist(), flat.tolist())
    ]
    names = [pool.names[i] for i in la.tolist()]
    lines = [
        _LINE % row
        for row in zip(
            salt.tolist(),
            (tid >> 48).tolist(),
            (tid & 0xFFFFFFFFFFFF).tolist(),
            prices,
            dates,
            pcs,
            ptype.tolist(),
            new.tolist(),
            dur.tolist(),
            paon.tolist(),
            saon,
            street.tolist(),
            names,
            names,
        )
    ]

    mapped = pool.mapped[pc_idx] & ~blank
    keep = ~bad_date
    table = {
        "day": day[keep],
        "price": np.where(bad_price, np.nan, price)[keep],
        "tid": tid[keep],
        "la": np.where(mapped, la, -1)[keep],
    }
    return lines, table


def _write(path: str, lines: list[str]) -> None:
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(",".join(f'"{h}"' for h in HEADER) + "\n")
        f.write("\n".join(lines) + "\n")


def generate(out_dir: str, seed: int, shape: Shape) -> Generated:
    """Write the Price-Paid file, the lookup and ``shape.tick_days`` daily
    files under ``out_dir``; return their paths and the ground truth."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    pool = _Pool(rng, shape.las)

    lookup_csv = os.path.join(out_dir, "postcode_to_la.csv")
    with open(lookup_csv, "w", encoding="utf-8", newline="\n") as f:
        f.write("postcode,local_authority\n")
        for pc, la, m in zip(pool.postcodes, pool.pc_la.tolist(), pool.mapped.tolist()):
            if m:
                f.write(f"{pc},{pool.names[la]}\n")

    start = np.datetime64(shape.start)
    lines, table = _rows(rng, pool, shape.rows, 1, start, shape.days)
    prices_csv = os.path.join(out_dir, "pp-history.csv")
    _write(prices_csv, lines)

    day_csvs, day_tables = [], []
    next_tid = shape.rows + 1
    for d in range(shape.tick_days):
        today = start + np.timedelta64(shape.days + d, "D")
        lines, day_table = _rows(rng, pool, shape.tick_rows, next_tid, today, 1)
        next_tid += shape.tick_rows
        path = os.path.join(out_dir, f"pp-{str(today).replace('-', '')}.csv")
        _write(path, lines)
        day_csvs.append(path)
        day_tables.append(day_table)

    return Generated(
        prices_csv=prices_csv,
        lookup_csv=lookup_csv,
        day_csvs=day_csvs,
        rows_raw=shape.rows,
        la_names=pool.names,
        table=table,
        day_tables=day_tables,
    )
