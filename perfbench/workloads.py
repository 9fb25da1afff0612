"""The benchmark's workloads, driven through the package's public functions.

A refresh is one run of the daily dashboard job: sniff and read the
Price-Paid CSV, read the postcode lookup, and run ``HousingPipeline`` with
CSV artifacts. A tick is one day of incremental maintenance: read the day's
file, clean and enrich it, and apply ``daily_increment`` to the
week-partitioned zone and the mart.

The traced variants run the same calls, but cache each layer's output and
force it with a ``noop`` write inside a named span, so that a span measures
that layer's own work. Each span tags its Spark jobs with
``setJobGroup(<span>)``; ``eventlog`` attributes task counters to spans.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from perfbench.gen import Shape
from uk_housing_dashboard_etl_spark.functions.cleaning import normalize_code
from uk_housing_dashboard_etl_spark.operators import (
    densify_weekly_grid,
    enrich_with_lookup,
    standardize_transactions,
)
from uk_housing_dashboard_etl_spark.operators.incremental import daily_increment
from uk_housing_dashboard_etl_spark.plans import HousingPipeline, PipelineConfig
from uk_housing_dashboard_etl_spark.session import get_spark
from uk_housing_dashboard_etl_spark.sources.readers import (
    read_csv_sniffed,
    read_lookup_csv,
)

# Sizes are scaled down from the reference's real shape (about 350 LAs and
# 30 years, ~550k grid rows) so that a run fits its time budget on 4 cores;
# see README.md. Both refreshes read the same number of rows.
WIDE = Shape(rows=30_000, las=350, start="2024-01-01", days=364)
SHAPES = {
    # many small (week, LA) groups: densify, rolling, anomaly and sinks
    "refresh_wide": WIDE,
    # few large groups: CSV parsing, cleaning, the join and exact percentiles
    "refresh_deep": Shape(rows=WIDE.rows, las=25, start="2024-01-01", days=26 * 7),
    # the refresh_wide history, then one small file per day
    "daily_tick": replace(WIDE, tick_days=200, tick_rows=90),
}
WINDOWS = PipelineConfig().windows


def session_conf(work: str, event_dir: str | None) -> dict[str, str]:
    """Spark settings that keep every file the session writes under ``work``."""
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
        ),
    }
    if event_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def start_session(cpus: int, conf: dict[str, str]) -> tuple[SparkSession, float]:
    """Build a session; returns it and the seconds ``get_spark`` took. With
    no JVM running (see ``shutdown``), that includes launching one."""
    t0 = time.perf_counter()
    spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)
    return spark, time.perf_counter() - t0


def shutdown(spark: SparkSession) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def read_lookup(spark: SparkSession, path: str) -> DataFrame:
    """The lookup as the CLI builds it: normalized postcode key -> LA."""
    return read_lookup_csv(spark, path).select(
        normalize_code(F.col("postcode")).alias("key"), F.col("local_authority")
    )


def refresh(spark: SparkSession, prices_csv: str, lookup_csv: str, art_dir: str) -> None:
    raw = read_csv_sniffed(spark, prices_csv, require_price_and_date=True)
    lookup = read_lookup(spark, lookup_csv)
    HousingPipeline(spark, raw, lookup, PipelineConfig(artifacts_dir=art_dir)).run()
    spark.catalog.clearCache()


def apply_day(
    spark: SparkSession, day_csv: str, lookup_csv: str, zone: str, mart: str
) -> DataFrame:
    """One tick (also the seeding of an empty zone with the history)."""
    raw = read_csv_sniffed(spark, day_csv)
    enriched = enrich_with_lookup(standardize_transactions(raw), read_lookup(spark, lookup_csv))
    return daily_increment(spark, enriched, zone, mart)


def fresh_dirs(*paths: str) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


# ---------------------------------------------------------------- tracing


@dataclass
class Span:
    name: str
    start_ms: float
    end_ms: float

    @property
    def seconds(self) -> float:
        return (self.end_ms - self.start_ms) / 1000.0


@dataclass
class Tracer:
    """Named spans whose Spark jobs carry the span's name as job group.

    ``prefix`` is prepended to each group name so that the spans of
    different traced operations stay apart in the event log.
    """

    spark: SparkSession
    prefix: str = ""
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)

    def group(self, name: str) -> str:
        return f"{self.prefix}{name}"

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        sc.setJobGroup(self.group(name), name)
        t0 = time.time() * 1000.0
        try:
            yield
        finally:
            self.spans.append(Span(name, t0, time.time() * 1000.0))
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)


def force(df: DataFrame) -> DataFrame:
    """Cache ``df`` and compute it in full without collecting it."""
    df = df.cache()
    df.write.format("noop").mode("overwrite").save()
    return df


def traced_refresh(
    tr: Tracer, prices_csv: str, lookup_csv: str, art_dir: str
) -> None:
    """A refresh with one span per layer; fills ``tr.counts``."""
    spark = tr.spark
    with tr.span("readers.sniff"):
        raw = read_csv_sniffed(spark, prices_csv, require_price_and_date=True)
    with tr.span("readers.scan"):
        raw = force(raw)
    with tr.span("readers.lookup"):
        lookup = force(read_lookup(spark, lookup_csv))
    with tr.span("weekly.enrich"):
        pipeline = HousingPipeline(spark, raw, lookup, PipelineConfig())
        force(pipeline.enriched)
    out = pipeline.run()
    with tr.span("weekly.mart"):
        weekly = force(out["weekly_by_la"])
    with tr.span("weekly.breakdown"):
        force(out["type_breakdown"])
    with tr.span("weekly.coverage"):
        coverage = force(out["coverage"])
    # the pipeline densifies inside ``run``; the same call on the same mart
    # has the same plan, so the windows below read this cached grid
    with tr.span("densify.grid"):
        grid = force(densify_weekly_grid(weekly))
    with tr.span("rolling.windows"):
        windows = force(out["windows"])
    with tr.span("anomaly.detect"):
        anomalies = force(out["anomalies"])
    with tr.span("snapshot.latest"):
        force(out["latest"])
    with tr.span("snapshot.qa"):
        force(out["qa"])
    # the same plans again, now with artifacts: the writes read the cached
    # layers, so the span times the pipeline's own sink path
    with tr.span("sinks.artifacts"):
        pipeline.config.artifacts_dir = art_dir
        pipeline.run()

    cov = coverage.collect()[0]
    groups = weekly.count()
    grid_rows = grid.count()
    tr.counts.update(
        {
            "readers.rows_in": raw.count(),
            "weekly.match_ratio": cov["mapped_tx"] / cov["total_tx"],
            "weekly.mart_groups": groups,
            "weekly.rows_per_group": cov["mapped_tx"] / groups,
            "densify.grid_rows": grid_rows,
            "densify.fill_ratio": groups / grid_rows,
            "rolling.rows_out": windows.count(),
            "anomaly.flagged": anomalies.where(
                F.col("anomaly_transactions") | F.col("anomaly_rolling_trans")
            ).count(),
            "sinks.artifact_bytes": sum(
                os.path.getsize(os.path.join(d, f))
                for d, _, files in os.walk(art_dir)
                for f in files
                if f.startswith("part-")
            ),
        }
    )
    spark.catalog.clearCache()


def traced_tick(
    tr: Tracer, day_csv: str, lookup_csv: str, zone: str, mart: str
) -> None:
    """A tick with the reader and enrichment layers in their own spans and
    ``daily_increment`` in the ``incremental.tick`` span."""
    spark = tr.spark
    with tr.span("readers.sniff"):
        raw = read_csv_sniffed(spark, day_csv)
    with tr.span("readers.scan"):
        raw = force(raw)
    with tr.span("readers.lookup"):
        lookup = force(read_lookup(spark, lookup_csv))
    with tr.span("weekly.enrich"):
        enriched = force(enrich_with_lookup(standardize_transactions(raw), lookup))
    with tr.span("incremental.tick"):
        daily_increment(spark, enriched, zone, mart)
    tr.counts["readers.rows_in"] = raw.count()
    cov = enriched.agg(F.count("local_authority").alias("m"), F.count(F.lit(1)).alias("n"))
    m, n = cov.collect()[0]
    tr.counts["weekly.match_ratio"] = m / n
    spark.catalog.clearCache()
