"""Tests of the benchmark itself (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import math
import os
import re
from pathlib import Path
from types import SimpleNamespace

import numpy as np
import pandas as pd
import pytest

from perfbench import eventlog, gen, reference, run
from perfbench.workloads import Span

ROOT = Path(__file__).resolve().parents[2]
SMALL = gen.Shape(rows=500, las=12, start="2024-01-01", days=60, tick_days=3, tick_rows=20)
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")

# the per-layer metrics README.md promises, layer by layer
NAMED_PER_LAYER = [
    "session.start_s",
    "readers.sniff_s", "readers.scan_s", "readers.lookup_s", "readers.rows_in",
    "weekly.enrich_s", "weekly.match_ratio", "weekly.mart_s", "weekly.mart_groups",
    "weekly.rows_per_group", "weekly.breakdown_s", "weekly.coverage_s",
    "densify.grid_s", "densify.grid_rows", "densify.fill_ratio",
    "rolling.windows_s", "rolling.rows_out",
    "anomaly.detect_s", "anomaly.flagged",
    "snapshot.latest_s", "snapshot.qa_s",
    "sinks.artifacts_s", "sinks.artifact_bytes", "sinks.write_tasks",
    "pipeline.jobs", "pipeline.tasks", "pipeline.core_util", "pipeline.shuffle_bytes",
    "pipeline.spill_bytes", "pipeline.gc_s", "pipeline.failed_tasks", "pipeline.peak_rss_mb",
    "incremental.tick_s", "incremental.append_s", "incremental.recompute_s",
    "incremental.merge_write_s", "incremental.seed_s", "incremental.zone_partitions",
    "incremental.files_written", "incremental.read_amplification",
    "trace.overhead_s",
]


def _files(d: Path) -> list[str]:
    return sorted(os.listdir(d))


def test_generator_is_byte_identical_per_seed(tmp_path):
    a = gen.generate(str(tmp_path / "a"), 5, SMALL)
    gen.generate(str(tmp_path / "b"), 5, SMALL)
    c = gen.generate(str(tmp_path / "c"), 6, SMALL)
    names = _files(tmp_path / "a")
    assert names == _files(tmp_path / "b") and len(names) == 2 + SMALL.tick_days
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert mismatch == [] and errors == []
    assert not filecmp.cmp(a.prices_csv, c.prices_csv, shallow=False)


def test_generator_planted_properties(tmp_path):
    from uk_housing_dashboard_etl_spark.functions.cleaning import discover_columns

    shape = gen.Shape(rows=20_000, las=40, start="2020-01-06", days=700, tick_days=2, tick_rows=50)
    g = gen.generate(str(tmp_path), 3, shape)
    raw = pd.read_csv(g.prices_csv, dtype=str, keep_default_na=False)
    assert list(raw.columns) == gen.HEADER
    roles = discover_columns(list(raw.columns))
    assert roles == {
        "date": "Date of Transfer",
        "price": "Price",
        "postcode": "Postcode",
        "transaction_id": "Transaction unique identifier",
        "prop_type": "Property Type",
    }
    days = [pd.read_csv(p, dtype=str, keep_default_na=False) for p in g.day_csvs]
    # each daily file holds the sales of its own day only, after the history
    for d, (day, t) in enumerate(zip(days, g.day_tables)):
        assert len(day) == shape.tick_rows
        assert set(t["day"].astype(str)) == {
            str(np.datetime64(shape.start) + np.timedelta64(shape.days + d, "D"))
        }
    ids = pd.concat([raw] + days)["Transaction unique identifier"]
    assert ids.is_unique
    bad_dates = (raw["Date of Transfer"] == "n/a").mean()
    bad_prices = (raw["Price"] == "unknown").mean()
    assert 0 < bad_dates < 3 * gen.BAD_DATE_SHARE
    assert 0 < bad_prices < 3 * gen.BAD_PRICE_SHARE
    assert len(g.table["day"]) == g.rows_raw - (raw["Date of Transfer"] == "n/a").sum()
    # unmapped rows: blank postcodes plus postcodes left out of the lookup
    lookup = set(pd.read_csv(g.lookup_csv)["postcode"].str.replace(" ", ""))
    keys = raw.loc[raw["Date of Transfer"] != "n/a", "Postcode"].str.upper().str.replace(" ", "")
    assert np.array_equal(keys.isin(lookup).to_numpy(), g.table["la"] >= 0)
    assert 0.9 < (g.table["la"] >= 0).mean() < 1.0
    # Zipf skew: the largest LA holds far more than an equal share
    sizes = np.bincount(g.table["la"][g.table["la"] >= 0], minlength=shape.las)
    assert sizes.max() > 5 * len(g.table["la"]) / shape.las


def test_weekly_reference_and_compare():
    day = np.array(["2024-01-01", "2024-01-03", "2024-01-07", "2024-01-08"], dtype="datetime64[D]")
    table = {
        "day": day,
        "price": np.array([100.0, 300.0, np.nan, 50.0]),
        "tid": np.array([1, 2, 3, 4]),
        "la": np.array([0, 0, 0, -1]),
    }
    want = reference.weekly_reference(table, ["A"])
    assert want.to_dict("records") == [
        {"week": "2024-01-01", "local_authority": "A", "transactions": 3,
         "price_mean": 200.0, "price_median": 200.0, "price_p10": 120.0, "price_p90": 280.0}
    ]
    got = want.assign(week=["2024-01-01T00:00:00.000Z"])
    assert reference.compare_weekly(got, want) is None
    assert "price_p90" in reference.compare_weekly(got.assign(price_p90=280.001), want)
    assert "rows" in reference.compare_weekly(pd.concat([got, got]), want)


@pytest.mark.parametrize(
    "n, p", [(0, None), (10, None), (19, None), (20, 50), (40, 75), (100, 90), (1000, 99)]
)
def test_tail_percentile_examples(n, p):
    assert run.tail_percentile(n) == p


def test_tail_percentile_leaves_ten_samples_beyond():
    for n in range(1, 3000):
        p = run.tail_percentile(n)
        if p is None:
            assert n < 20
            continue
        samples = list(range(n))
        cut = run.percentile(samples, p)
        assert sum(1 for x in samples if x > cut) >= run.TAIL_MIN_BEYOND
        # and no higher whole percentile qualifies
        if p < 99:
            higher = run.percentile(samples, p + 1)
            assert sum(1 for x in samples if x > higher) < run.TAIL_MIN_BEYOND + 1
    assert math.isclose(run.percentile([1.0, 2.0, 3.0, 4.0], 50), 2.5)


def test_benchmark_json_matches_the_report():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert set(spec) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"
    }
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    assert {k: m["unit"] for k, m in e2e.items()} == run.END_TO_END
    assert "setup_s" in e2e and e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    layers = {m["name"]: (m["unit"], m["better"]) for m in spec["per_layer"]}
    assert layers == run.per_layer_units()
    assert set(NAMED_PER_LAYER) <= set(layers)
    names = [w["name"] for w in spec["workloads"]] + list(e2e) + list(layers)
    assert len(names) == len(set(names))
    for name in names:
        assert NAME.match(name), name
    for m in list(e2e.values()) + spec["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("higher", "lower")
    for m in e2e.values():
        assert 0 < m["bound"] <= 0.25
    assert {w["name"] for w in spec["workloads"]} <= set(run.WORKLOADS)


APPEND_SITE = "collect at incremental.py:54"
CHECKPOINT_SITE = "localCheckpoint at NativeMethodAccessorImpl.java:0"


def _write_log(path: Path, prefix: str, jobs: list[tuple[str, str]]) -> None:
    """A minimal event log: per (group, call site), one job of one stage
    with two tasks; job ``i`` ends at ``1000 * i + 500`` ms."""
    events = []
    for i, (g, site) in enumerate(jobs):
        props = {"spark.jobGroup.id": prefix + g}
        events.append({"Event": "SparkListenerJobStart", "Job ID": i,
                       "Stage Infos": [{"Stage ID": i, "Stage Name": site}],
                       "Stage IDs": [i], "Properties": props})
        events.append({"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": i},
                       "Properties": props})
        for _ in range(2):
            events.append({"Event": "SparkListenerTaskEnd", "Stage ID": i,
                           "Task End Reason": {"Reason": "Success"},
                           "Task Metrics": {"Executor Run Time": 100, "JVM GC Time": 10,
                                            "Shuffle Write Metrics": {"Shuffle Bytes Written": 7},
                                            "Disk Bytes Spilled": 0,
                                            "Input Metrics": {"Records Read": 5}}})
        events.append({"Event": "SparkListenerJobEnd", "Job ID": i, "Completion Time": 1000 * i + 500})
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")


def test_eventlog_counters_and_split(tmp_path):
    sites = ["save at X:0", "save at X:0", APPEND_SITE, CHECKPOINT_SITE, "save at X:0"]
    _write_log(tmp_path / "app", "op0:", [("a", s) for s in sites])
    log = eventlog.parse(eventlog.find_log(str(tmp_path)))
    assert eventlog.counters(log.group_tasks("op0:a")) == {
        "tasks": 10, "exec_s": 1.0, "shuffle_bytes": 70, "spill_bytes": 0, "gc_s": 0.1,
        "failed_tasks": 0,
    }
    parts = eventlog.split_at(log.group_jobs("op0:a"), ["collect at", "localCheckpoint at"])
    assert [[j.job_id for j in p] for p in parts] == [[0, 1, 2], [3], [4]]
    assert eventlog.split_at(log.jobs, ["no such call site"]) is None


@pytest.mark.parametrize("kind", ["refresh", "tick"])
def test_every_metric_is_reported(tmp_path, kind):
    """Untraced and traced results carry every metric BENCHMARK.json names."""
    if kind == "refresh":
        spans = [s for s in run.SPANS if not s.startswith("incremental")]
        counts = {k: 1.0 for k in ("readers.rows_in", "weekly.match_ratio", "weekly.mart_groups",
                                   "weekly.rows_per_group", "densify.grid_rows",
                                   "densify.fill_ratio", "rolling.rows_out", "anomaly.flagged",
                                   "sinks.artifact_bytes")}
    else:
        spans = ["readers.sniff", "readers.scan", "readers.lookup", "weekly.enrich",
                 "incremental.tick"]
        counts = {"readers.rows_in": 90, "weekly.match_ratio": 0.9,
                  "incremental.files_written": 4}
        (tmp_path / "zone" / "week_key=2024-01-01").mkdir(parents=True)
    jobs = [(s, "save at X:0") for s in spans if s != "incremental.tick"]
    if kind == "tick":  # the tick span runs append, recompute and write jobs
        jobs += [("incremental.tick", APPEND_SITE), ("incremental.tick", CHECKPOINT_SITE),
                 ("incremental.tick", "parquet at X:0")]
    (tmp_path / "events").mkdir()
    _write_log(tmp_path / "events" / "app", "op0:", jobs)
    span_list = [Span(s, 1000.0 * i, 1000.0 * i + 400) for i, s in enumerate(spans)]
    if kind == "tick":  # the tick span covers its three jobs, 4.0 s to 6.6 s
        span_list[-1] = Span("incremental.tick", 4000.0, 6600.0)
    tr = SimpleNamespace(
        prefix="op0:", counts=counts, group=lambda n: "op0:" + n, spans=span_list,
    )
    lines: list[str] = []
    b = SimpleNamespace(kind=kind, cpus=4, log=lines.append, zone=str(tmp_path / "zone"),
                        rows_per_op=90, start_s=0.2, seed_s=7.0 if kind == "tick" else 0.0)
    traced = run.per_layer(b, [1.0], 1.5, tr, str(tmp_path / "events"), 2048)
    assert set(traced) == set(run.per_layer_units())
    assert traced["trace.overhead_s"] == pytest.approx(0.5)
    if kind == "tick":
        # sub-spans end with their last job: append at 4.5 s, recompute at 5.5 s
        assert traced["incremental.append_s"] == pytest.approx(0.5)
        assert traced["incremental.recompute_s"] == pytest.approx(1.0)
        assert traced["incremental.merge_write_s"] == pytest.approx(1.1)
        assert traced["incremental.tick.tasks"] == 6
        assert traced["incremental.zone_partitions"] == 1
        # 3 tick jobs x 2 tasks x 5 records over 90 increment rows
        assert traced["incremental.read_amplification"] == pytest.approx(30 / 90)
    untraced = run.end_to_end(b, 0.25, [1.0, 2.0, 3.0])
    assert set(untraced) == set(run.END_TO_END)
    assert all(v > 0 for v in untraced.values())
    assert any("not reported" in line for line in lines)
