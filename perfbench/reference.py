"""Independent pandas recomputation of the marts, and the output checks.

Every check returns ``None`` when the output is right and a one-line
description of the first problem otherwise.
"""

from __future__ import annotations

import glob
import os

import numpy as np
import pandas as pd

MONDAY = np.datetime64("1970-01-05")
VALUE_COLS = ["transactions", "price_mean", "price_median", "price_p10", "price_p90"]
KEYS = ["week", "local_authority"]
TOL = 5e-5  # equal at 4 decimal places


def week_of(day: np.ndarray) -> np.ndarray:
    """Monday-start week of each datetime64[D] day."""
    off = (day - MONDAY).astype(np.int64)
    return MONDAY + (off // 7 * 7).astype("timedelta64[D]")


def concat(tables: list[dict[str, np.ndarray]]) -> dict[str, np.ndarray]:
    return {k: np.concatenate([t[k] for t in tables]) for k in tables[0]}


def weekly_reference(table: dict[str, np.ndarray], la_names: list[str]) -> pd.DataFrame:
    """``weekly_by_la`` from the generator's ground truth: mapped rows only,
    count-distinct ids, null-skipping mean and linear-interpolated p10/p50/p90."""
    keep = table["la"] >= 0
    df = pd.DataFrame(
        {
            "week": week_of(table["day"][keep]).astype(str),
            "la": table["la"][keep],
            "tid": table["tid"][keep],
            "price": table["price"][keep],
        }
    )
    g = df.groupby(["week", "la"], sort=True)
    out = g.agg(transactions=("tid", "nunique"), price_mean=("price", "mean"))
    q = g["price"].quantile([0.1, 0.5, 0.9]).unstack()
    out["price_median"] = q[0.5]
    out["price_p10"] = q[0.1]
    out["price_p90"] = q[0.9]
    out = out.reset_index()
    out["local_authority"] = np.asarray(la_names)[out["la"].to_numpy()]
    return out[KEYS + VALUE_COLS]


def qa_reference(table: dict[str, np.ndarray], rows_raw: int, windows: int) -> dict:
    """The QA record the pipeline must report, plus the windows row count."""
    mapped = table["la"] >= 0
    weeks = week_of(table["day"][mapped])
    las = np.unique(table["la"][mapped]).size
    span = int((weeks.max() - weeks.min()).astype(np.int64)) // 7 + 1
    return {
        "rows_raw": rows_raw,
        "las": las,
        "latest_week": str(weeks.max()),
        "coverage_pct": 100.0 * mapped.sum() / mapped.size,
        "windows_rows": windows * span * las,
    }


def read_artifact(path: str) -> pd.DataFrame:
    parts = sorted(glob.glob(os.path.join(path, "part-*.csv")))
    if not parts:
        raise FileNotFoundError(f"no CSV parts under {path}")
    return pd.concat([pd.read_csv(p) for p in parts], ignore_index=True)


def read_mart(path: str) -> pd.DataFrame:
    """A parquet mart directory as written by Spark."""
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").to_table().to_pandas()


def mart_rows(path: str) -> int:
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").count_rows()


def count_rows(path: str) -> int:
    """Data rows over every part file of a header CSV artifact."""
    n = 0
    for p in glob.glob(os.path.join(path, "part-*.csv")):
        with open(p, "rb") as f:
            n += sum(chunk.count(b"\n") for chunk in iter(lambda: f.read(1 << 20), b"")) - 1
    return n


def compare_weekly(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    got = got.assign(week=got["week"].astype(str).str[:10])
    if len(got) != len(want):
        return f"weekly_by_la has {len(got)} rows, expected {len(want)}"
    m = want.merge(got, on=KEYS, how="left", suffixes=("", "_got"), indicator=True)
    missing = int((m["_merge"] != "both").sum())
    if missing:
        return f"weekly_by_la lacks {missing} expected (week, LA) groups"
    for c in VALUE_COLS:
        a = m[c].to_numpy(np.float64)
        b = m[c + "_got"].to_numpy(np.float64)
        bad = ~((np.isnan(a) & np.isnan(b)) | (np.abs(a - b) <= TOL))
        if bad.any():
            i = int(np.argmax(bad))
            return f"weekly_by_la.{c} differs in {int(bad.sum())} groups, e.g. {a[i]} vs {b[i]}"
    return None


def check_refresh(art_dir: str, want_weekly: pd.DataFrame, want_qa: dict) -> str | None:
    """Check one refresh's CSV artifacts against the reference."""
    qa = read_artifact(os.path.join(art_dir, "qa")).iloc[0]
    if int(qa["rows_raw"]) != want_qa["rows_raw"]:
        return f"qa.rows_raw {qa['rows_raw']} != {want_qa['rows_raw']}"
    if int(qa["las"]) != want_qa["las"]:
        return f"qa.las {qa['las']} != {want_qa['las']}"
    if str(qa["latest_week"])[:10] != want_qa["latest_week"]:
        return f"qa.latest_week {qa['latest_week']} != {want_qa['latest_week']}"
    if abs(float(qa["coverage_pct"]) - want_qa["coverage_pct"]) > 1e-9:
        return f"qa.coverage_pct {qa['coverage_pct']} != {want_qa['coverage_pct']}"
    n = count_rows(os.path.join(art_dir, "windows"))
    if n != want_qa["windows_rows"]:
        return f"windows has {n} rows, expected {want_qa['windows_rows']}"
    return compare_weekly(read_artifact(os.path.join(art_dir, "weekly_by_la")), want_weekly)
