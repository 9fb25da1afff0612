"""Full-pipeline assembly — the reference's ``main()`` as one lazy DAG.

Reference parity: ``etl/etl_main.py:320-403``. Stages:
raw → standardize (P1-P9) → enrich (J1) → weekly mart (W1+A1-A4) +
type breakdown (A5) + coverage (A9) → densify (J2) → rolling (W2-W4) →
anomalies (W5) → latest snapshot (P10/A7) → QA (A8-A10) → CSV artifacts (S6).

Unlike the reference (eager, stage-by-stage full materialization via
``df.copy()``), everything here is ONE lazy logical plan with three cached
layers, each read by several outputs:

- the cleaned+enriched transactions (weekly mart, type breakdown, coverage);
- the weekly mart (cached inside ``densify_weekly_grid``: its own artifact,
  the dense grid and QA);
- the rolling windows (their own artifact, anomalies and the latest
  snapshot), so densify + rolling run once per refresh.

Catalyst pipelines the rest. With ``artifacts_dir`` set, each output's CSV
write is submitted to a thread pool as soon as that output is built, so
the seven small jobs overlap each other and the driver-side planning of the
outputs still to come; ``run`` returns once every write has finished.
Exports are best-effort, mirroring the reference's swallow-and-log
behavior.
"""

from __future__ import annotations

import logging
import os
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from uk_housing_dashboard_etl_spark.operators import (
    coverage_report,
    densify_weekly_grid,
    detect_anomalies,
    enrich_with_lookup,
    latest_snapshot,
    qa_metrics,
    rolling_windows,
    standardize_transactions,
    type_breakdown,
    weekly_mart,
)
from uk_housing_dashboard_etl_spark.sources.sinks import write_csv_artifact

logger = logging.getLogger(__name__)

OUTPUTS = (
    "weekly_by_la",
    "type_breakdown",
    "coverage",
    "windows",
    "anomalies",
    "latest",
    "qa",
)
"""The marts ``HousingPipeline.run`` returns, in order; one artifact each."""


@dataclass
class PipelineConfig:
    """CLI-equivalent knobs (ref ``etl/etl_main.py:321-326``)."""

    windows: list[int] = field(default_factory=lambda: [4, 12])
    z_thresh: float = 3.0
    approx_percentiles: bool = False  # 100 TB opt-in degradation
    artifacts_dir: str | None = None


class HousingPipeline:
    """Declarative assembly of every mart the reference produces."""

    def __init__(
        self,
        spark: SparkSession,
        raw: DataFrame,
        lookup: DataFrame | None = None,
        config: PipelineConfig | None = None,
    ):
        self.spark = spark
        self.config = config or PipelineConfig()
        self.raw = raw
        tx = standardize_transactions(raw)
        self.enriched = enrich_with_lookup(tx, lookup).cache()

    def run(self) -> dict[str, DataFrame]:
        cfg = self.config
        outputs: dict[str, DataFrame] = {}
        writes: list[Future] = []
        with ThreadPoolExecutor(max_workers=len(OUTPUTS)) as pool:

            def emit(name: str, df: DataFrame) -> None:
                outputs[name] = df
                if cfg.artifacts_dir:
                    # wrapped here, in the caller's thread: the write's jobs
                    # keep the caller's job group and local properties
                    write = inheritable_thread_target(self.spark)(self._write_artifact)
                    writes.append(pool.submit(write, name, df))

            weekly = weekly_mart(self.enriched, approx=cfg.approx_percentiles)
            # densify caches the mart; build it before the mart's own write
            # is planned, so that write reads the cache too
            dense = densify_weekly_grid(weekly)
            emit("weekly_by_la", weekly)
            emit("type_breakdown", type_breakdown(self.enriched))
            coverage = coverage_report(self.enriched)
            emit("coverage", coverage)
            windows_df = rolling_windows(dense, cfg.windows).cache()
            emit("windows", windows_df)
            emit("anomalies", detect_anomalies(windows_df, cfg.z_thresh))
            emit("latest", latest_snapshot(windows_df))
            emit("qa", qa_metrics(self.raw, weekly, coverage))
            for w in writes:
                w.result()
        return outputs

    def _write_artifact(self, name: str, df: DataFrame) -> None:
        try:
            write_csv_artifact(df, os.path.join(self.config.artifacts_dir, name))
        except Exception:
            logger.exception("artifact write failed: %s", name)
