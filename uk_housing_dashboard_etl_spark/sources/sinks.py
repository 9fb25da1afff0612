"""Sinks: CSV artifacts (S6), export serialization (P12), optional
Sheets/BigQuery shims (S7/S8).

Reference parity (SURVEY.md §2.1): the reference writes 4-5 small mart
tables to ``artifacts/*.csv`` (ref ``etl/etl_main.py:388-401``), serializes
NaN→"" all-string for Sheets (ref ``etl/etl_main.py:292``), and loads one
frame to BigQuery (ref ``etl/etl_main.py:304-316``).

Scale notes: marts are small (weeks × LAs), so a single-file CSV via
``coalesce(1)`` is fine. ``HousingPipeline.run`` calls
``write_csv_artifact`` for its seven marts concurrently, from a thread
pool: each call is its own job writing its own directory, so the writes
overlap without sharing output files and each artifact stays one
``part-*.csv``. Raw/fact data at 100 TB would instead go to a
partitioned parquet zone — ``write_partitioned_parquet`` is that path.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_csv_artifact(df: DataFrame, path: str, single_file: bool = True) -> None:
    """S6: header CSV artifact. ``single_file`` coalesces small marts to one
    partition (driver-friendly artifact); large outputs keep parallelism."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").option("header", True).csv(path)


def write_partitioned_parquet(df: DataFrame, path: str, partition_by: list[str]) -> None:
    """S3-at-scale: raw/derived zone as partitioned parquet (e.g.
    ``ingest_date=YYYYMMDD``), replacing the reference's timestamped text
    backups."""
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)


def write_orc(
    df: DataFrame, path: str, partition_by: list[str] | None = None
) -> None:
    """Columnar interchange beyond parquet: ORC (built into Spark, also
    predicate-pushdown + column-pruning capable) for consumers in the
    Hive/Presto ecosystem."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(spark, path: str) -> DataFrame:
    return spark.read.orc(path)


def write_jsonl(df: DataFrame, path: str, compression: str | None = "gzip") -> None:
    """Line-delimited JSON export — the lingua franca for corpus handoff
    to tokenizer/training jobs. One file per partition; gzip by default
    (splittability doesn't matter for a handoff artifact)."""
    w = df.write.mode("overwrite")
    if compression:
        w = w.option("compression", compression)
    w.json(path)


def serialize_for_sheet(df: DataFrame) -> DataFrame:
    """P12: NaN/null→"" and every column cast to string — the reference's
    Google Sheets serialization (ref ``etl/etl_main.py:292``)."""
    return df.select(
        [F.coalesce(F.col(c).cast("string"), F.lit("")).alias(c) for c in df.columns]
    )


def write_to_google_sheets(dfs_by_tab: dict[str, DataFrame], sheet_id: str, creds) -> None:
    """S7 shim: marts are tiny, so collect driver-side and push via the
    Sheets API. Import is gated — the client library is optional."""
    try:
        from googleapiclient.discovery import build  # type: ignore
    except Exception as exc:  # pragma: no cover - optional dep
        raise RuntimeError("google-api-python-client not available") from exc
    service = build("sheets", "v4", credentials=creds)
    sheet = service.spreadsheets()
    for tab, df in dfs_by_tab.items():
        sdf = serialize_for_sheet(df)
        values = [sdf.columns] + [list(r) for r in sdf.collect()]
        try:
            sheet.values().clear(spreadsheetId=sheet_id, range=tab).execute()
        except Exception:
            pass
        sheet.values().update(
            spreadsheetId=sheet_id,
            range=f"{tab}!A1",
            valueInputOption="RAW",
            body={"values": values},
        ).execute()


def write_to_bigquery(df: DataFrame, table_id: str) -> None:
    """S8 shim: prefer the spark-bigquery-connector when present (executor-
    parallel load); no driver-side pandas round-trip at scale."""
    df.write.format("bigquery").option("table", table_id).mode("overwrite").save()
