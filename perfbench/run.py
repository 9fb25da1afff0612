"""Dashboard-refresh benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload refresh_wide --seed 1 --seconds 10 --trace 0

Generates the seeded Price-Paid input under ``.perfbench_work/`` in the
checkout, sets up a Spark session (``local[N]``, N = ``$SPARK_GRAFT_CPUS``
capped at the usable cores), runs the workload in a closed loop with one
caller (about ``--seconds`` seconds of timed operations), checks every
output, and prints a readable report followed by one JSON line. ``--trace 1`` runs the
same operations with per-layer spans and prints per-layer metrics instead.
See README.md for the metrics.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "uk_housing_dashboard_etl_spark"
WORKLOADS = ("refresh_wide", "refresh_deep", "daily_tick")
DEADLINE_S = 140.0  # stop starting operations after this much wall time
TAIL_MIN_BEYOND = 10
# seconds of one warm operation on a 4-core host at this commit
NOMINAL_OP_S = {"refresh": 7.5, "tick": 2.5}
MIN_TIMED_OPS = 3
# untimed operations before the timed ones: the first refresh in a new JVM
# pays for code generation and JIT; the first ticks after the seeding are
# still slower than the rest
WARMUP_OPS = {"refresh": 1, "tick": 2}

END_TO_END = {
    "setup_s": "s",
    "run_s": "s",
    "rows_per_s": "rows/s",
}

SPANS = [
    "readers.sniff",
    "readers.scan",
    "readers.lookup",
    "weekly.enrich",
    "weekly.mart",
    "weekly.breakdown",
    "weekly.coverage",
    "densify.grid",
    "rolling.windows",
    "anomaly.detect",
    "snapshot.latest",
    "snapshot.qa",
    "sinks.artifacts",
    "incremental.tick",
    "incremental.append",
    "incremental.recompute",
    "incremental.merge_write",
]
SPAN_COUNTERS = {
    "tasks": ("count", "lower"),
    "exec_s": ("s", "lower"),
    "shuffle_bytes": ("bytes", "lower"),
    "spill_bytes": ("bytes", "lower"),
    "gc_s": ("s", "lower"),
}
LAYER_METRICS = {
    "session.start_s": ("s", "lower"),
    "readers.rows_in": ("rows", "higher"),
    "weekly.match_ratio": ("ratio", "higher"),
    "weekly.mart_groups": ("count", "lower"),
    "weekly.rows_per_group": ("rows", "higher"),
    "densify.grid_rows": ("rows", "lower"),
    "densify.fill_ratio": ("ratio", "higher"),
    "rolling.rows_out": ("rows", "lower"),
    "anomaly.flagged": ("count", "lower"),
    "sinks.artifact_bytes": ("bytes", "lower"),
    "sinks.write_tasks": ("count", "lower"),
    "pipeline.jobs": ("count", "lower"),
    "pipeline.tasks": ("count", "lower"),
    "pipeline.core_util": ("ratio", "higher"),
    "pipeline.shuffle_bytes": ("bytes", "lower"),
    "pipeline.spill_bytes": ("bytes", "lower"),
    "pipeline.gc_s": ("s", "lower"),
    "pipeline.failed_tasks": ("count", "lower"),
    "pipeline.peak_rss_mb": ("MB", "lower"),
    "incremental.seed_s": ("s", "lower"),
    "incremental.zone_partitions": ("count", "lower"),
    "incremental.files_written": ("count", "lower"),
    "incremental.read_amplification": ("ratio", "lower"),
    "trace.overhead_s": ("s", "lower"),
}
# where a layer does no work, the reason printed in place of its figures
NOT_RUN = {
    "refresh": {"incremental": "daily_increment runs only in daily_tick"},
    "tick": {
        layer: "a tick does not run this layer"
        for layer in ("weekly.mart", "weekly.breakdown", "weekly.coverage",
                      "densify", "rolling", "anomaly", "snapshot", "sinks")
    },
}


def per_layer_units() -> dict[str, tuple[str, str]]:
    """Every per-layer metric name with its unit and direction."""
    out: dict[str, tuple[str, str]] = {}
    for span in SPANS:
        out[f"{span}_s"] = ("s", "lower")
        for c, ud in SPAN_COUNTERS.items():
            out[f"{span}.{c}"] = ud
    out.update(LAYER_METRICS)
    return out


def tail_percentile(n: int, min_beyond: int = TAIL_MIN_BEYOND) -> int | None:
    """Highest whole percentile p >= 50 that leaves at least ``min_beyond``
    of ``n`` samples above it, or None when no such p exists."""
    if n <= 0:
        return None
    p = math.floor(100 * (n - min_beyond) / n)
    return p if p >= 50 else None


def percentile(values: list[float], p: float) -> float:
    """Linear-interpolated percentile (as numpy's default)."""
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def cpu_steal_total() -> tuple[int, int]:
    """(steal, total) CPU jiffies of the host so far, from /proc/stat."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7], sum(fields[:8])


class RssSampler:
    """Peak of the summed resident set of some processes, sampled from
    /proc while ``active`` is set."""

    def __init__(self, pids: list[int], interval: float = 0.05):
        self.pids = pids
        self.interval = interval
        self.peak_kb = 0
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            if self.active.is_set():
                self.peak_kb = max(self.peak_kb, sum(self.rss_kb(p) for p in self.pids))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


class Bench:
    """State of one benchmark run: inputs, session, operation log."""

    def __init__(self, args, work: Path):
        from perfbench import gen, reference, workloads

        self.args = args
        self.work = work
        self.kind = "tick" if args.workload == "daily_tick" else "refresh"
        self.cpus = min(
            int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1),
            len(os.sched_getaffinity(0)),
        )
        self.t_start = time.perf_counter()
        self.report: list[str] = []
        self.attempted = 0
        self.failed = 0
        self.g = gen.generate(str(work / "input"), args.seed, workloads.SHAPES[args.workload])
        if self.kind == "refresh":
            self.want_weekly = reference.weekly_reference(self.g.table, self.g.la_names)
            self.want_qa = reference.qa_reference(
                self.g.table, self.g.rows_raw, len(workloads.WINDOWS)
            )
        self.rows_per_op = (
            self.g.rows_raw if self.kind == "refresh" else workloads.SHAPES[args.workload].tick_rows
        )
        self.spark = None
        self.zone = self.mart = ""
        self.days_applied = 0
        self.start_s = self.seed_s = 0.0
        self.mart_keys: set = set()
        self.phases: list[str] = []
        self._mark = self.t_start
        self.phase("inputs")

    # ------------------------------------------------------------ helpers
    def log(self, line: str) -> None:
        self.report.append(line)

    def conf(self) -> dict[str, str]:
        from perfbench import workloads

        events = str(self.work / "events") if self.args.trace else None
        if events:
            os.makedirs(events, exist_ok=True)
        return workloads.session_conf(str(self.work), events)

    def phase(self, name: str) -> None:
        """Record the wall time since the previous phase ended."""
        now = time.perf_counter()
        self.phases.append(f"{name} {now - self._mark:.1f} s")
        self._mark = now

    def timed_ops(self) -> int:
        """Untraced operations to time: as many as fill ``--seconds`` at the
        nominal operation time, and at least MIN_TIMED_OPS. A fixed count,
        not a time limit, so that two commits time the same operations at
        the same JIT warmth."""
        return max(MIN_TIMED_OPS, round(self.args.seconds / NOMINAL_OP_S[self.kind]))

    def out_of_time(self) -> bool:
        return time.perf_counter() - self.t_start > DEADLINE_S

    def record(self, label: str, problem: str | None) -> bool:
        self.attempted += 1
        if problem:
            self.failed += 1
            self.log(f"check {label}: FAILED: {problem}")
            return False
        self.log(f"check {label}: ok")
        return True

    # ------------------------------------------------------------ set-up
    def setup(self) -> float:
        """One cold set-up, as the cron job pays it: get_spark, which
        launches the Spark JVM, and for the tick the seeding of the zone and
        the mart with the history. Returns its seconds."""
        from perfbench import workloads
        from perfbench.reference import week_of

        self.spark, self.start_s = workloads.start_session(self.cpus, self.conf())
        if self.kind == "tick":
            self.zone = str(self.work / "zone")
            self.mart = str(self.work / "mart")
            t0 = time.perf_counter()
            workloads.apply_day(
                self.spark, self.g.prices_csv, self.g.lookup_csv, self.zone, self.mart
            )
            self.seed_s = time.perf_counter() - t0
            t = self.g.table
            m = t["la"] >= 0
            self.mart_keys = set(zip(week_of(t["day"][m]).tolist(), t["la"][m].tolist()))
        self.phase("set-up")
        return self.start_s + self.seed_s

    # ------------------------------------------------------------ operations
    def op(self, tracer=None) -> float | None:
        """One refresh or tick, timed, then checked (untimed). Returns its
        seconds, or None when it raised or its output check failed."""
        from perfbench import reference, workloads

        label = f"{self.args.workload}#{self.attempted + 1}"
        art = str(self.work / "artifacts")
        if self.kind == "refresh":
            workloads.fresh_dirs(art)
        else:
            day = self.g.day_csvs[self.days_applied]
            self.days_applied += 1
        try:
            t0 = time.perf_counter()
            if self.kind == "refresh" and tracer is None:
                workloads.refresh(self.spark, self.g.prices_csv, self.g.lookup_csv, art)
            elif self.kind == "refresh":
                workloads.traced_refresh(tracer, self.g.prices_csv, self.g.lookup_csv, art)
            elif tracer is None:
                workloads.apply_day(self.spark, day, self.g.lookup_csv, self.zone, self.mart)
            else:
                workloads.traced_tick(tracer, day, self.g.lookup_csv, self.zone, self.mart)
            seconds = time.perf_counter() - t0
            if self.kind == "refresh":
                problem = reference.check_refresh(art, self.want_weekly, self.want_qa)
            else:
                problem = self.check_tick()
        except Exception:
            traceback.print_exc()
            problem = "raised " + traceback.format_exc().strip().splitlines()[-1]
        return seconds if self.record(label, problem) else None

    def check_tick(self) -> str | None:
        """After a tick: the mart has one row per (week, LA) seen so far."""
        from perfbench.reference import mart_rows, week_of

        t = self.g.day_tables[self.days_applied - 1]
        m = t["la"] >= 0
        self.mart_keys.update(zip(week_of(t["day"][m]).tolist(), t["la"][m].tolist()))
        n = mart_rows(self.mart)
        if n != len(self.mart_keys):
            return f"mart has {n} (week, LA) rows, expected {len(self.mart_keys)}"
        return None

    def check_tick_final(self) -> str | None:
        """After the last tick: the mart equals the weekly mart computed in
        one batch over the history plus every applied day."""
        from perfbench import reference

        table = reference.concat([self.g.table] + self.g.day_tables[: self.days_applied])
        want = reference.weekly_reference(table, self.g.la_names)
        return reference.compare_weekly(reference.read_mart(self.mart), want)

    def measure(self, sampler: RssSampler, traced: bool):
        """Warm-up, then ``timed_ops`` untraced operations and, when
        ``traced``, one traced operation. Returns the untraced seconds and
        (seconds, tracer) of the traced operation, or None."""
        from perfbench.workloads import Tracer

        for _ in range(WARMUP_OPS[self.kind]):
            self.op()  # JIT and code generation; checked but not timed
        self.phase("warm-up")
        plain: list[float] = []
        traced_op = None
        steal0, total0 = cpu_steal_total()
        for with_trace in [False] * self.timed_ops() + [True] * traced:
            if self.out_of_time() or (
                self.kind == "tick" and self.days_applied >= len(self.g.day_csvs)
            ):
                break
            if with_trace:
                tr = Tracer(self.spark, prefix="traced:")
                t_op = time.time()
                s = self.op(tr)
                tr.counts["incremental.files_written"] = self.files_since(t_op)
                if s is not None:
                    traced_op = (s, tr)
            else:
                sampler.active.set()
                s = self.op()
                sampler.active.clear()
                if s is not None:
                    plain.append(s)
        self.phase("measure")
        steal1, total1 = cpu_steal_total()
        # a virtual machine's CPU time taken by other guests; a high share
        # explains a slow run
        self.log(f"CPU steal during timed operations: "
                 f"{100.0 * (steal1 - steal0) / max(1, total1 - total0):.1f} %")
        if self.kind == "tick" and self.days_applied:
            problem = self.check_tick_final()
            self.phase("final check")
            if problem:
                # the final mart cannot tell which tick broke it: fail them all
                self.failed = self.attempted
                self.log(f"check final mart: FAILED: {problem}")
            else:
                self.log("check final mart: ok")
        return plain, traced_op

    def files_since(self, t: float) -> int:
        """Data files under the zone and the mart modified at or after ``t``."""
        return sum(
            1
            for p in (self.zone, self.mart)
            if p
            for d, _, files in os.walk(p)
            for f in files
            if f[0] not in "._" and os.path.getmtime(os.path.join(d, f)) >= t
        )


# ---------------------------------------------------------------- metrics


def end_to_end(b: Bench, setup_s: float, plain: list[float]) -> dict:
    rows = b.rows_per_op
    run_s = statistics.median(plain)
    metrics = {
        "setup_s": setup_s,
        "run_s": run_s,
        "rows_per_s": rows / run_s,
    }
    b.log(f"operations timed: {len(plain)} ({'ticks' if b.kind == 'tick' else 'refreshes'}), "
          f"{rows} input rows each: " + " ".join(f"{s:.3f}" for s in plain) + " s")
    b.log(f"set-up: session start {b.start_s:.3f} s"
          + (f" + seeding {b.seed_s:.3f} s" if b.kind == "tick" else ""))
    if b.kind == "tick":
        b.log(f"tick_p50_s         {run_s:.4f} s  (= run_s; {len(plain)} ticks)")
        p = tail_percentile(len(plain))
        if p is None:
            b.log(f"tick_tail_s        n/a: {len(plain)} ticks leave no percentile >= p50 "
                  f"with {TAIL_MIN_BEYOND} ticks beyond it")
        else:
            b.log(f"tick_tail_s        {percentile(plain, p):.4f} s  (p{p} of {len(plain)} ticks)")
    return metrics


def per_layer(b: Bench, plain, wall: float, tr, event_dir, peak_kb: int) -> dict:
    """Per-layer metrics of the traced operation ``tr`` that took ``wall`` s."""
    from perfbench import eventlog

    log = eventlog.parse(eventlog.find_log(event_dir))
    units = per_layer_units()
    out: dict[str, float] = {name: 0.0 for name in units}
    out.update(tr.counts)
    for sp in tr.spans:
        out[f"{sp.name}_s"] = sp.seconds
        for c, v in eventlog.counters(log.group_tasks(tr.group(sp.name))).items():
            out[f"{sp.name}.{c}"] = v
    if b.kind == "refresh":
        out["sinks.write_tasks"] = out["sinks.artifacts.tasks"]
    else:
        incremental(b, log, tr, out)
    op_jobs = [j for j in log.jobs if (j.group or "").startswith(tr.prefix)]
    tasks = [t for t in log.tasks if (log.stage_group.get(t.stage_id) or "").startswith(tr.prefix)]
    c = eventlog.counters(tasks)
    run_s = statistics.median(plain)
    out.update(
        {
            "pipeline.jobs": len(op_jobs),
            "pipeline.tasks": c["tasks"],
            "pipeline.core_util": c["exec_s"] / (wall * b.cpus),
            "pipeline.shuffle_bytes": c["shuffle_bytes"],
            "pipeline.spill_bytes": c["spill_bytes"],
            "pipeline.gc_s": c["gc_s"],
            "pipeline.failed_tasks": c["failed_tasks"],
            "pipeline.peak_rss_mb": peak_kb / 1024.0,
            "session.start_s": b.start_s,
            "incremental.seed_s": b.seed_s,
            "trace.overhead_s": wall - run_s,
        }
    )
    # per-span failed tasks are printed only, to keep within 128 metrics
    failed = {s: out.get(f"{s}.failed_tasks", 0) for s in SPANS}
    b.log("failed tasks per span: " + (
        ", ".join(f"{s} {n}" for s, n in failed.items() if n) or "0 in every span"
    ))
    b.log(f"untraced operations: {len(plain)}; tracing overhead "
          f"{out['trace.overhead_s']:.4f} s = traced wall {wall:.4f} s - run_s {run_s:.4f} s")
    for prefix, why in NOT_RUN[b.kind].items():
        b.log(f"{prefix}.*: not reported ({why}); value 0")
    return {name: out[name] for name in units}


def incremental(b: Bench, log, tr, m: dict) -> None:
    """Split the ``incremental.tick`` span into append / recompute /
    merge-write sub-spans by the call sites of its jobs."""
    from perfbench import eventlog

    tick = next(sp for sp in tr.spans if sp.name == "incremental.tick")
    jobs = log.group_jobs(tr.group("incremental.tick"))
    parts = eventlog.split_at(jobs, ["collect at", "localCheckpoint at"])
    if parts is None:
        b.log("incremental sub-spans: not reported (the append collect or the "
              "localCheckpoint job was not found among the tick's call sites)")
    else:
        bounds = [tick.start_ms] + [p[-1].end_ms for p in parts[:-1]] + [tick.end_ms]
        for k, (name, part) in enumerate(zip(("append", "recompute", "merge_write"), parts)):
            m[f"incremental.{name}_s"] = (bounds[k + 1] - bounds[k]) / 1000.0
            for c, v in eventlog.counters(log.job_tasks(part)).items():
                m[f"incremental.{name}.{c}"] = v
    read = sum(t.records_read for t in log.job_tasks(jobs))
    m["incremental.read_amplification"] = read / max(1, tr.counts["readers.rows_in"])
    m["incremental.zone_partitions"] = sum(
        1 for d in os.listdir(b.zone) if d.startswith("week_key=")
    )


# ---------------------------------------------------------------- main


def run(args, work: Path) -> dict:
    from perfbench import workloads

    b = Bench(args, work)
    try:
        setup_s = b.setup()
        jvm_pid = int(b.spark._jvm.java.lang.ProcessHandle.current().pid())
        with RssSampler([os.getpid(), jvm_pid]) as sampler:
            plain, traced_op = b.measure(sampler, bool(args.trace))
    finally:
        if b.spark is not None:
            workloads.shutdown(b.spark)
    event_dir = str(work / "events")
    b.phase("shutdown")
    b.log("wall time by phase: " + ", ".join(b.phases))
    if not plain or (args.trace and traced_op is None):
        raise RuntimeError("no timed operation succeeded")
    if args.trace:
        metrics = per_layer(b, plain, *traced_op, event_dir, sampler.peak_kb)
        units = {k: u for k, (u, _) in per_layer_units().items()}
    else:
        metrics = end_to_end(b, setup_s, plain)
        units = END_TO_END
    for line in b.report:
        print(line)
    for k, v in metrics.items():
        print(f"{k:40s} {v:.6g} {units[k]}")
    return {
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    for sub in ("tmp", "local"):
        os.makedirs(work / sub, exist_ok=True)
    # keep every file Python, the JVM and Spark write inside the checkout
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run is using it
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
