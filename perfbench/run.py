#!/usr/bin/env python3
"""Benchmark of the report ETL and analytics engine.

    python3 perfbench/run.py --workload daily_incremental --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. Workloads (see ``benchmark_meta.json``):
``daily_incremental`` and ``analytics_mix``. Inputs are
generated from ``--seed`` and cached under ``.perfbench-work/cache``; each
workload is a closed loop with one client that measures for ``--seconds``
(at least a minimum number of operations), then checks every output
against an independent oracle. The last line of standard output is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. A traced run then also runs the ``PROBE`` workload once, for
the layers its own workload does not exercise; spans are written to
``.perfbench-work/traces``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
from collections import defaultdict
from types import SimpleNamespace

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.trace import Tracer, peak_rss_mb  # noqa: E402

WORKLOADS = ("daily_incremental", "analytics_mix")
# A traced run also runs, once, the workload that exercises the layers its
# own workload does not, so every per-layer metric is a measurement.
PROBE = {"daily_incremental": "analytics_mix", "analytics_mix": "daily_incremental"}
WORK = os.path.join(ROOT, ".perfbench-work")
CACHE_SEEDS_KEPT = 3
DRIVER_MEMORY = "2g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "batch_p50_s": "s",
    "ingest_rows_per_s": "rows/s",
    "read_p50_s": "s",
    "read_p90_s": "s",
    "query_p50_s": "s",
    "query_total_s": "s",
    "peak_rss_mb": "MB",
    "stored_bytes_per_input_byte": "B/B",
}


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def load_program() -> SimpleNamespace:
    """The program's public surface this benchmark drives."""
    from pyspark.sql import functions as F

    from fn_rq_report_etl_dev_spark import pipeline
    from fn_rq_report_etl_dev_spark.catalog import (
        STAGING_PARTITION_COL, STAGING_PARTITIONED_SCHEMA, STAGING_TABLE,
        TARGET_TABLE, Warehouse, ensure_tables,
    )
    from fn_rq_report_etl_dev_spark.functions.timestamps import parse_timestamp_multi
    from fn_rq_report_etl_dev_spark.schemas import RAW_TIMESTAMP_COLUMNS, TARGET_SCHEMA
    from fn_rq_report_etl_dev_spark.session import get_spark, released
    from fn_rq_report_etl_dev_spark.sources.json_api import read_json_landing
    from fn_rq_report_etl_dev_spark.workloads import ORACLES, QUERIES

    return SimpleNamespace(
        F=F, get_spark=get_spark, released=released,
        read_json_landing=read_json_landing,
        run_etl=pipeline.run_etl, merge_to_target=pipeline.merge_to_target,
        normalize_batch=pipeline.normalize_batch,
        # run_etl's staging step, so a traced batch runs exactly its body
        staged_batch=pipeline._staged_batch,
        ensure_tables=ensure_tables, Warehouse=Warehouse,
        TARGET_TABLE=TARGET_TABLE, STAGING_TABLE=STAGING_TABLE,
        STAGING_PARTITION_COL=STAGING_PARTITION_COL,
        STAGING_PARTITIONED_SCHEMA=STAGING_PARTITIONED_SCHEMA,
        TARGET_SCHEMA=TARGET_SCHEMA, RAW_TIMESTAMP_COLUMNS=RAW_TIMESTAMP_COLUMNS,
        parse_timestamp_multi=parse_timestamp_multi,
        QUERIES=QUERIES, ORACLES=ORACLES,
    )


class Run:
    """State of one benchmark run: samples, counters, failures."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.work = work
        self.tracer = Tracer(trace, f"{workload}-{seed}")
        self.spark = None
        self.setup: dict[str, float] = {}
        self.batch_samples: list[float] = []
        self.batch_rows: list[int] = []
        self.read_samples: dict[str, list[float]] = {}  # report reads, by kind
        self.query_samples: dict[str, list[float]] = {}  # analytics queries, by name
        self.layer_counts: dict[str, int] = defaultdict(int)
        self.stored_ratio = 0.0
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def discard_samples(self) -> None:
        """Forget timings taken so far (a warm-up iteration's)."""
        self.batch_samples.clear()
        self.batch_rows.clear()
        self.read_samples.clear()
        self.query_samples.clear()

    def attempt(self, fn):
        """Run one operation; return (ok, result)."""
        self.attempted += 1
        try:
            return True, fn()
        except Exception as exc:  # noqa: BLE001 — a failed operation is counted, not fatal
            self.failed += 1
            self.errors.append(f"{type(exc).__name__}: {exc}"[:500])
            return False, None

    def check(self, ok: bool, what: str) -> None:
        """Correctness of an operation already counted by ``attempt``."""
        if not ok:
            self.failed += 1
            self.errors.append(f"wrong result: {what}"[:500])

    def verify(self, ok: bool, what: str) -> None:
        """A check that is an operation of its own."""
        self.attempted += 1
        self.check(ok, what)

    def time_left(self, start: float, last: float) -> bool:
        """Whether one more iteration lasting about ``last`` seconds ends
        nearer the end of the measuring time than stopping now."""
        return time.perf_counter() - start + last / 2 < self.seconds


def confine(work: str) -> None:
    """Keep every temporary file of this process and its children in
    ``work``: Python's, Spark's local dirs, and every JVM spark-submit
    starts (its launcher too), which also writes no /tmp/hsperfdata_* file."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    tempfile.tempdir = None  # re-read TMPDIR


def start_spark(api, run: Run, trace: bool):
    confine(run.work)
    local = os.path.join(run.work, "spark-local")
    events = os.path.join(run.work, "eventlog")
    os.makedirs(events, exist_ok=True)
    n = cpu_count()
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": local,
        # A fixed-size heap: peak RSS then tracks the work, not when G1
        # happened to grow the heap.
        "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY}",
        "spark.sql.warehouse.dir": os.path.join(run.work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{events}",
            "spark.eventLog.compress": "false",
        }
    with run.tracer.span("session.get_spark") as s:
        spark = api.get_spark(
            app_name=f"perfbench-{run.workload}", master=f"local[{n}]",
            shuffle_partitions=n, extra_conf=conf,
        )
    run.setup["get_spark"] = s.seconds
    run.spark = spark
    run.tracer.attach(spark)
    return events


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat", encoding="ascii", errors="replace") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            children[ppid].append(int(entry))
    out, todo = [], [pid]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop the session and the driver JVM, and wait until the JVM and every
    process it started (Python workers) have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=10)
        except subprocess.TimeoutExpired:  # the session is stopped; never leave the JVM behind
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 5
    while any(_running(p) for p in workers) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in workers:
        if _running(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def prune_cache(parent: str, keep: int) -> None:
    """Keep only the ``keep`` most recently used input sets."""
    if not os.path.isdir(parent):
        return
    entries = sorted(
        (os.path.join(parent, e) for e in os.listdir(parent)),
        key=os.path.getmtime, reverse=True,
    )
    for stale in entries[keep:]:
        shutil.rmtree(stale, ignore_errors=True)


def remove_stale_runs() -> None:
    """Delete work directories left by runs that no longer exist."""
    if not os.path.isdir(WORK):
        return
    for entry in os.listdir(WORK):
        if entry.startswith("run-") and not os.path.exists(f"/proc/{entry[4:]}"):
            shutil.rmtree(os.path.join(WORK, entry), ignore_errors=True)


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _p90(xs) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=10, method="inclusive")[8]


def _median_or_none(xs) -> float | None:
    return statistics.median(xs) if xs else None


def _ratio(a, b) -> float | None:
    return a / b if a is not None and b else None


def end_to_end(run: Run, rss_mb: float) -> dict[str, float]:
    reads = [t for ts in run.read_samples.values() for t in ts]
    # The ETL workloads' queries are their report reads.
    per_query = {q: _median(ts) for q, ts in (run.query_samples or run.read_samples).items() if ts}
    return {
        "setup_s": run.setup["get_spark"] + run.setup["warm_up"] + run.setup["seed_warehouse"],
        "batch_p50_s": _median(run.batch_samples),
        "ingest_rows_per_s": sum(run.batch_rows) / sum(run.batch_samples) if run.batch_samples else 0.0,
        "read_p50_s": _median(reads),
        "read_p90_s": _p90(reads),
        "query_p50_s": _median(list(per_query.values())),
        "query_total_s": sum(per_query.values()),
        "peak_rss_mb": rss_mb,
        "stored_bytes_per_input_byte": run.stored_ratio,
    }


def per_layer(run: Run) -> dict[str, tuple[float | None, str]]:
    """Per-layer metrics of a traced run; None for a metric the workload
    did not measure."""
    from perfbench.analytics import ANALYTICS

    # Layer times come from measured iterations, not from set-up.
    setup = {s.id for w in run.tracer.spans if w.name.startswith("setup.") for s in run.tracer.subtree(w)}
    spans = [s for s in run.tracer.spans if s.id not in setup]

    def median_time(name: str) -> float | None:
        return _median_or_none([s.seconds for s in spans if s.name == name])

    c = run.layer_counts.get
    batch_p50 = _median_or_none(run.batch_samples)
    merge_s = median_time("pipeline.merge_to_target")
    rewritten = c("operators.merge.rows_rewritten")
    useful = None if rewritten is None else c("operators.merge.inserted") + c("operators.merge.updated")
    out: dict[str, tuple[float | None, str]] = {
        "catalog.bytes_written": (c("catalog.bytes_written"), "B"),
        "catalog.files_written": (c("catalog.files_written"), "count"),
        "catalog.write_amp": (_ratio(c("catalog.bytes_written"), c("catalog.input_bytes")), "B/B"),
        "catalog.target_files": (c("catalog.target_files"), "count"),
        "catalog.staging_files": (c("catalog.staging_files"), "count"),
        "catalog.ensure_tables_s": (median_time("catalog.ensure_tables"), "s"),
        "catalog.read.point_s": (median_time("catalog.read.point"), "s"),
        "catalog.read.day_store_s": (median_time("catalog.read.day_store"), "s"),
        "catalog.read.window7d_s": (median_time("catalog.read.window7d"), "s"),
        "operators.merge.inserted": (c("operators.merge.inserted"), "count"),
        "operators.merge.updated": (c("operators.merge.updated"), "count"),
        "operators.merge.rows_rewritten": (rewritten, "count"),
        "operators.merge.useful_ratio": (_ratio(useful, rewritten), "ratio"),
        "operators.dedup.rows_in": (c("operators.dedup.rows_in"), "count"),
        "operators.dedup.rows_out": (c("operators.dedup.rows_out"), "count"),
        "pipeline.stage_s": (median_time("pipeline.stage"), "s"),
        "pipeline.merge_to_target_s": (merge_s, "s"),
        "pipeline.merge_share": (_ratio(merge_s, batch_p50), "ratio"),
        "trace.batch_p50_s": (batch_p50, "s"),
        "functions.normalize_s": (median_time("functions.normalize"), "s"),
        "functions.parse_fallback_ratio": (_ratio(c("functions.ts_fallback"), c("functions.ts_present")), "ratio"),
        "sources.input_rows": (c("sources.input_rows"), "count"),
        "sources.input_bytes": (c("sources.input_bytes"), "B"),
        "sources.scan_task_s": (
            _median_or_none([s.spark.get("executor_run_s", 0.0) for s in spans if s.name == "sources.scan"]), "s"),
    }
    for q in ANALYTICS["queries"]:
        out[f"workloads.{q}_s"] = (_median_or_none(run.query_samples.get(q)), "s")
    out["session.get_spark_s"] = (run.setup["get_spark"], "s")
    roots = [s for s in run.tracer.spans if s.attrs.get("counters")]
    spark = run.tracer.spark_totals(roots)
    units = {"executor_run_s": "s", "gc_s": "s", "shuffle_write_bytes": "B",
             "shuffle_read_bytes": "B", "spill_bytes": "B", "task_skew": "ratio"}
    for k, v in spark.items():
        out[f"spark.{k}"] = (v, units.get(k, "count"))
    return out


def prepare_inputs(workload: str, cache: str, seed: int):
    """Generate the workload's inputs for ``seed`` into the cache (a no-op
    when cached); return them."""
    from perfbench import analytics, etl
    from fn_rq_report_etl_dev_spark.schemas import TARGET_SCHEMA
    from fn_rq_report_etl_dev_spark.workloads import ORACLES

    if workload == "daily_incremental":
        return etl.daily_inputs(cache, seed, TARGET_SCHEMA)
    # The analytics mix's report reads run against the daily workload's history.
    return analytics.corpus_inputs(cache, seed, ORACLES) | {
        "target": etl.daily_inputs(cache, seed, TARGET_SCHEMA)}


PREPARE = (
    "import sys; sys.path.insert(0, sys.argv[1]); from perfbench.run import prepare_inputs\n"
    "for w in sys.argv[4:]: prepare_inputs(w, sys.argv[2], int(sys.argv[3]))"
)


def body_of(workload: str):
    from perfbench import analytics, etl

    return {"daily_incremental": etl.daily_incremental, "analytics_mix": analytics.analytics_mix}[workload]


def traced_metrics(run: Run, probe: Run) -> dict[str, tuple[float | None, str]]:
    """The traced run's per-layer metrics; those its workload did not
    measure are taken from the probe run."""
    fill = per_layer(probe)
    return {k: (fill[k][0] if v is None else v, u) for k, (v, u) in per_layer(run).items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        api = load_program()
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2

    cache = os.path.join(WORK, "cache")
    remove_stale_runs()
    work = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(work)
    confine(work)
    for w in WORKLOADS:
        prune_cache(os.path.join(cache, w), CACHE_SEEDS_KEPT)

    trace = bool(args.trace)
    needed = [args.workload] + ([PROBE[args.workload]] if trace else [])
    run = Run(args.workload, args.seed, args.seconds, trace, work)
    try:
        # Inputs are made in a child process (so its memory is not this
        # process's peak) before Spark starts, and flushed to disk (so their
        # writeback does not land on the measurement); then read back.
        try:
            child = subprocess.run(
                [sys.executable, "-c", PREPARE, ROOT, cache, str(args.seed), *needed], timeout=170,
            )
        except subprocess.TimeoutExpired:
            child = None
        if child is None or child.returncode != 0:
            print("perfbench: input generation failed", file=sys.stderr)
            return 3
        os.sync()
        inputs = [prepare_inputs(w, cache, args.seed) for w in needed]
        events = start_spark(api, run, trace)
        probe = None
        try:
            body_of(args.workload)(run, api, inputs[0])
            rss = peak_rss_mb(run.spark._jvm.ProcessHandle.current().pid())
            if trace:
                # No measuring loop: the probe's warm-up and minimum iterations.
                probe = Run(needed[1], args.seed, 0.0, True, work)
                probe.spark = run.spark
                probe.setup["get_spark"] = run.setup["get_spark"]
                probe.tracer.attach(run.spark)
                body_of(needed[1])(probe, api, inputs[1])
                run.attempted += probe.attempted
                run.failed += probe.failed
                run.errors += probe.errors
        finally:
            stop_spark(run.spark)
        if trace:
            run.tracer.attribute(events)
            probe.tracer.attribute(events)
            run.tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"))
            probe.tracer.dump(os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}-probe.json"))
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in traced_metrics(run, probe).items()}
        else:
            metrics = {
                k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in end_to_end(run, rss).items()
            }
    finally:
        shutil.rmtree(work, ignore_errors=True)

    ratio = run.failed / run.attempted if run.attempted else 1.0
    summary = " ".join(f"{k}={m['value']:.6g}{m['unit']}" for k, m in metrics.items())
    reads = sum(len(ts) for ts in run.read_samples.values())
    queries = sum(len(ts) for ts in run.query_samples.values())
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"failed_ratio={ratio:.6g} ({run.failed}/{run.attempted}) "
          f"samples: batches={len(run.batch_samples)} reads={reads} queries={queries} {summary}")
    for err in run.errors[:10]:
        print(f"perfbench: {err}", file=sys.stderr)
    print(json.dumps({
        "correct": run.failed == 0 and run.attempted > 0,
        "attempted": max(run.attempted, 1),
        "failed": run.failed if run.attempted else 1,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
