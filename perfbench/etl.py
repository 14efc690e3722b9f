"""The ETL workload ``daily_incremental``, and the seeded target and report
reads it shares with ``analytics_mix``.

It drives the pipeline through its public entry points: landing files are
read with ``sources.json_api.read_json_landing`` and committed with
``pipeline.run_etl``; the warehouse is seeded with ``catalog.ensure_tables``
and ``Warehouse.overwrite_atomic``; report reads go through
``Warehouse.read``. In a traced run the batch is split into the steps
``run_etl``'s body calls, each in its own span.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from .landing import (
    Batch, DATE_ONLY, ISO_T, ISO_T_FRAC_Z, ISO_T_Z, MINUTE, RAGGED, SPACE, SPACE_FRAC,
    US_PER_DAY, US_PER_S, ExpectedState, FeedShape, TradeInFeed, est_wall_us,
    write_jsonl,
)

DAILY = {
    "base_date": "2024-03-08",  # the batches cross the 2024-03-10 DST change
    "history_rows": 120_000,
    "history_days": 60,
    "shape": FeedShape(
        rows=6_000, redeliver_share=0.3, dup_share=0.03, null_key_share=0.001,
        hot_key_share=0.002, empty_ts_share=0.002, garbage_ts_share=0.003,
        garbage_money_share=0.01,
        shapes=(ISO_T_FRAC_Z, ISO_T_Z, ISO_T, SPACE, SPACE_FRAC, RAGGED, DATE_ONLY, MINUTE),
    ),
    "warmup_batches": 2,
    "warmup_read_rounds": 2,  # extra passes of the read mix after the warm-up batch
    "min_batches": 3,  # counters cover exactly these, so they repeat per seed
    "max_batches": 8,
    "seed_repeats": 2,
}
# Point lookups are most of the mix, so read_p50_s falls inside their
# cluster rather than on its edge.
READS_PER_BATCH = (("point", 9), ("day_store", 3), ("window7d", 3))


def ts_literal(us: int) -> str:
    return str(np.datetime64(us, "us")).replace("T", " ")


# --------------------------------------------------------------------------
# Input generation (cached per seed, outside timing)


def _decimal2(cents: np.ndarray, null: np.ndarray | None = None) -> pa.Array:
    """Integer cents as DECIMAL(18,2): the cents are the unscaled value."""
    cents = np.asarray(cents, dtype=np.int64)
    words = np.stack([cents, cents >> 63], axis=1)  # little-endian int128
    arr = pa.Array.from_buffers(pa.decimal128(18, 2), len(cents), [None, pa.py_buffer(words.tobytes())])
    return arr if null is None else pc.if_else(pa.array(null), pa.scalar(None, arr.type), arr)


def _history_table(history: pd.DataFrame, target_schema) -> pa.Table:
    """The seeded target in the target's own column types: the oracle's
    columns carry the truth, the rest are plausible filler."""
    n = len(history)
    rng = np.random.default_rng(int(history["txid"].iloc[0]) if n else 0)
    ts = history["ts"].astype("int64").to_numpy()
    est = est_wall_us(history["ts"]).astype("int64").to_numpy()
    cols = {}
    for f in target_schema.fields:
        name, kind = f.name, f.dataType.simpleString()
        if name == "SaleInvoiceID":
            cols[name] = pa.array(history["key"].astype("int64").to_numpy())
        elif name == "TradeInTransactionID":
            cols[name] = pa.array(history["txid"].astype("int64").to_numpy())
        elif name == "TradeInDate":
            cols[name] = pa.array(ts, pa.timestamp("us", tz="UTC"))
        elif name == "TradeInDateEST":
            cols[name] = pa.array(est, pa.timestamp("us", tz="UTC"))
        elif name == "StoreName":
            cols[name] = pa.array(history["store"].to_numpy())
        elif name == "TradeInAmount":
            cents = history["amount"]
            cols[name] = _decimal2(cents.fillna(0).astype("int64").to_numpy(), cents.isna().to_numpy())
        elif kind == "timestamp":
            if name == "ETLRowUpdatedEST":
                cols[name] = pa.nulls(n, pa.timestamp("us", tz="UTC"))
            else:
                cols[name] = pa.array(ts + rng.integers(0, 3600 * US_PER_S, n), pa.timestamp("us", tz="UTC"))
        elif kind == "bigint":
            cols[name] = pa.array(rng.integers(0, 10**6, n))
        elif kind.startswith("decimal"):
            cols[name] = _decimal2(rng.integers(0, 150_000, n))
        else:
            # A thousand values per column: the filler stays dictionary-encoded,
            # so disk traffic does not swamp the merge's own cost.
            digits = pa.array(rng.integers(0, 1000, n)).cast(pa.string())
            cols[name] = pc.binary_join_element_wise(name[:3].upper(), digits, "")
    return pa.table(cols)


@dataclass
class DailyInputs:
    history_path: str
    history: pd.DataFrame
    batches: list[dict]  # path, bytes, rows, now_us, truth_path, lookups


def daily_inputs(cache: str, seed: int, target_schema) -> DailyInputs:
    p = DAILY
    d = os.path.join(cache, "daily_incremental", f"seed-{seed}")
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        feed = TradeInFeed(seed, p["base_date"])
        history = feed.history(p["history_rows"], p["history_days"])
        history.to_parquet(os.path.join(d, "history.truth.parquet"))
        pq.write_table(_history_table(history, target_schema), os.path.join(d, "history.parquet"))
        last_day = history["ts"].floordiv(US_PER_DAY) == (history["ts"].max() // US_PER_DAY)
        prev = history.loc[last_day.fillna(False).astype(bool), "key"].astype("int64").to_numpy()
        batches = []
        for k in range(p["max_batches"]):
            b = feed.batch(p["shape"], k, prev)
            name = f"batch-{k:03d}"
            nbytes = write_jsonl(os.path.join(d, f"{name}.json"), b.records)
            b.truth.to_parquet(os.path.join(d, f"{name}.truth.parquet"))
            fresh = b.truth["key"].dropna().astype("int64")
            batches.append({
                "name": name, "bytes": nbytes, "rows": len(b.records), "now_us": b.now_us,
                # one of today's keys, one history key, one that never existed
                "lookups": [int(fresh.iloc[0]), int(history["key"].iloc[(k * 7919) % len(history)]),
                            feed.next_key + 10**6],
            })
            prev = fresh.to_numpy()
        with open(meta_path, "w", encoding="utf-8") as fh:
            json.dump({"batches": batches}, fh)
    os.utime(d)
    with open(meta_path, encoding="utf-8") as fh:
        meta = json.load(fh)
    for b in meta["batches"]:
        b["path"] = os.path.join(d, f"{b['name']}.json")
        b["truth_path"] = os.path.join(d, f"{b['name']}.truth.parquet")
    return DailyInputs(
        os.path.join(d, "history.parquet"),
        pd.read_parquet(os.path.join(d, "history.truth.parquet")), meta["batches"],
    )


# --------------------------------------------------------------------------
# Report reads against the target table


class Reads:
    """The fixed report reads, each checked against the oracle."""

    def __init__(self, spark, wh, api):
        self.spark, self.wh, self.api = spark, wh, api

    def _target(self):
        return self.wh.read(self.spark, self.api.TARGET_TABLE)

    def point(self, key: int) -> set[tuple[int, int]]:
        F = self.api.F
        rows = (
            self._target().filter(F.col("SaleInvoiceID") == key)
            .select("SaleInvoiceID", "TradeInTransactionID").collect()
        )
        return {(r[0], r[1]) for r in rows}

    def day_store(self, day_us: int) -> dict[str, tuple[int, int]]:
        F = self.api.F
        day = ts_literal(day_us)[:10]
        rows = (
            self._target().filter(F.to_date("TradeInDate") == F.lit(day).cast("date"))
            .groupBy("StoreName")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("TradeInAmount").alias("amount"))
            .collect()
        )
        return {r["StoreName"]: (r["n"], int((r["amount"] or 0) * 100)) for r in rows}

    def window(self, now_us: int, days: int = 7) -> tuple[int, int]:
        F = self.api.F
        hi = (now_us // US_PER_DAY + 1) * US_PER_DAY
        lo = hi - days * US_PER_DAY
        row = (
            self._target()
            .filter((F.col("TradeInDate") >= F.lit(ts_literal(lo)).cast("timestamp"))
                    & (F.col("TradeInDate") < F.lit(ts_literal(hi)).cast("timestamp")))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("TradeInAmount").alias("amount"))
            .collect()[0]
        )
        return row["n"], int((row["amount"] or 0) * 100)


def run_reads(run, reads: Reads, oracle: ExpectedState, now_us: int, lookups: list[int]) -> None:
    """Run the report-read mix once; record latency and correctness."""
    plan = []
    for kind, n in READS_PER_BATCH:
        for i in range(n):
            if kind == "point":
                key = lookups[i % len(lookups)]
                plan.append((kind, lambda k=key: reads.point(k), lambda k=key: oracle.point([k])))
            elif kind == "day_store":
                day = now_us - i * US_PER_DAY
                plan.append((kind, lambda d=day: reads.day_store(d), lambda d=day: oracle.day_store(d)))
            else:
                end = now_us - i * US_PER_DAY
                plan.append((kind, lambda e=end: reads.window(e), lambda e=end: oracle.window(e)))
    for kind, do, expect in plan:
        with run.tracer.span(f"catalog.read.{kind}") as s:
            ok, got = run.attempt(do)
        if ok:
            run.read_samples.setdefault(kind, []).append(s.seconds)
            run.check(got == expect(), f"read {kind}")


def check_target(run, wh, api, oracle: ExpectedState) -> None:
    """Compare the committed target with the oracle's expected state: row
    count, key set, and per row the winning version, its parsed
    TradeInDate and derived EST shadow, store and amount."""
    F = api.F
    got = wh.read(run.spark, api.TARGET_TABLE).select(
        F.col("SaleInvoiceID").alias("key"),
        F.col("TradeInTransactionID").alias("txid"),
        F.unix_micros("TradeInDate").alias("ts"),
        F.unix_micros("TradeInDateEST").alias("ts_est"),
        F.col("StoreName").alias("store"),
        (F.col("TradeInAmount") * 100).cast("bigint").alias("amount"),
    ).toPandas()
    want = oracle.snapshot()

    def canon(df: pd.DataFrame) -> Counter:
        cols = ["key", "txid", "ts", "ts_est", "store", "amount"]
        return Counter(
            tuple(None if pd.isna(v) else (v if isinstance(v, str) else int(v)) for v in row)
            for row in df[cols].itertuples(index=False)
        )

    run.verify(len(got) == len(want), f"target rows {len(got)} != {len(want)}")
    run.verify(
        set(got["key"].dropna().astype("int64")) == set(want["key"].dropna().astype("int64")),
        "target key set",
    )
    run.verify(canon(got) == canon(want), "target row values")


# --------------------------------------------------------------------------
# One batch, untraced (run_etl) or traced (its body's steps)


def load_batch(run, api, wh, path: str, now_us: int, n_rows: int, n_bytes: int,
               counters: bool) -> dict[str, int] | None:
    """Land one batch; return the counts ``run_etl`` returned."""
    spark, F = run.spark, api.F
    now = F.to_timestamp(F.lit(ts_literal(now_us)))
    # Collect the previous iteration's garbage now, not on this batch's clock.
    spark._jvm.System.gc()
    if not run.tracer.enabled:
        with run.tracer.span("batch") as s:
            ok, counts = run.attempt(lambda: api.run_etl(spark, wh, api.read_json_landing(spark, path), now=now))
        if ok:
            run.batch_samples.append(s.seconds)
            run.batch_rows.append(n_rows)
        return counts

    _, counts = run.attempt(lambda: _traced_batch(run, api, wh, path, now, n_rows, n_bytes, counters))
    return counts


def _traced_batch(run, api, wh, path, now, n_rows: int, n_bytes: int, counters: bool) -> dict[str, int]:
    """``run_etl``'s body step by step, one span per step. The scan and
    normalize probes run first and the staging row count between the
    steps; none of them is part of the batch's time."""
    spark, F = run.spark, api.F
    with run.tracer.span("sources.scan"):
        api.read_json_landing(spark, path).write.format("noop").mode("overwrite").save()
    with run.tracer.span("functions.normalize"):
        api.normalize_batch(api.read_json_landing(spark, path), now).write.format("noop").mode("overwrite").save()
    if counters:
        run.layer_counts["sources.input_rows"] += n_rows
        run.layer_counts["sources.input_bytes"] += n_bytes
        raw = api.read_json_landing(spark, path)
        probe = [
            (F.col(c).isNotNull() & (F.col(c) != ""), api.parse_timestamp_multi(F.col(c)).isNull())
            for c in api.RAW_TIMESTAMP_COLUMNS
        ]
        row = raw.agg(
            sum(F.count(F.when(p, 1)) for p, _ in probe).alias("present"),
            sum(F.count(F.when(p & bad, 1)) for p, bad in probe).alias("fallback"),
        ).collect()[0]
        run.layer_counts["functions.ts_present"] += row["present"]
        run.layer_counts["functions.ts_fallback"] += row["fallback"]

    before = _listing(wh.root)
    with run.tracer.span("batch", counters=counters) as batch:
        batch_df = api.read_json_landing(spark, path)
        with run.tracer.span("catalog.ensure_tables"):
            api.ensure_tables(spark, wh)
        with run.tracer.span("pipeline.stage"):
            wh.append_partitioned(api.staged_batch(batch_df, now), api.STAGING_TABLE, api.STAGING_PARTITION_COL)
    staged_rows = wh.read(spark, api.STAGING_TABLE, api.STAGING_PARTITIONED_SCHEMA).count()
    with run.tracer.span("pipeline.merge_to_target", counters=counters) as merge:
        counts = api.merge_to_target(spark, wh, now)
    run.batch_samples.append(batch.seconds + merge.seconds)
    run.batch_rows.append(n_rows)
    if counters:
        written = {p: n for p, n in _listing(wh.root).items() if p not in before}
        c = run.layer_counts
        c["catalog.bytes_written"] += sum(written.values())
        c["catalog.files_written"] += sum(p.endswith(".parquet") for p in written)
        c["catalog.input_bytes"] += n_bytes
        c["operators.merge.inserted"] += counts["inserted"]
        c["operators.merge.updated"] += counts["updated"]
        c["operators.merge.rows_rewritten"] += wh.read(spark, api.TARGET_TABLE).count()
        c["operators.dedup.rows_in"] += staged_rows
        c["operators.dedup.rows_out"] += counts["inserted"] + counts["updated"]
    return counts


def _listing(root: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            out[p] = os.path.getsize(p)
    return out


def warehouse_bytes(root: str) -> int:
    return sum(n for p, n in _listing(root).items() if p.endswith(".parquet"))


# --------------------------------------------------------------------------
# Workloads


def seed_target(run, api, inputs: DailyInputs, repeats: int):
    """Seed a fresh warehouse's target with the history, ``repeats`` times
    (the median is the seeding part of setup_s); return the last warehouse
    and the oracle's state for it."""
    wh = None
    seed_times = []
    for i in range(repeats):
        if wh is not None:
            shutil.rmtree(wh.root, ignore_errors=True)
        with run.tracer.span("setup.seed_warehouse") as s:
            wh = api.Warehouse(os.path.join(run.work, f"wh-{run.workload}-{i}"))
            with run.tracer.span("catalog.ensure_tables"):
                api.ensure_tables(run.spark, wh)
            history = run.spark.read.parquet(inputs.history_path)
            typed = history.select(*[api.F.col(f.name).cast(f.dataType) for f in api.TARGET_SCHEMA.fields])
            wh.overwrite_atomic(typed, api.TARGET_TABLE)
        seed_times.append(s.seconds)
    run.setup["seed_warehouse"] = statistics.median(seed_times)
    oracle = ExpectedState()
    oracle.seed(inputs.history)
    return wh, oracle


def daily_incremental(run, api, inputs: DailyInputs) -> None:
    p = DAILY
    wh, oracle = seed_target(run, api, inputs, p["seed_repeats"])
    reads = Reads(run.spark, wh, api)
    seeded_bytes = warehouse_bytes(wh.root)
    landed = 0
    start = last = 0.0
    for k, b in enumerate(inputs.batches):
        warming = k < p["warmup_batches"]
        if k >= p["warmup_batches"] + p["min_batches"] and not run.time_left(start, last):
            break
        # The first batches and their reads are the warm-up: checked,
        # counted in setup_s, not sampled.
        with run.tracer.span("setup.warm_up" if warming else "iteration") as it:
            counts = load_batch(run, api, wh, b["path"], b["now_us"], b["rows"], b["bytes"],
                                counters=k < p["min_batches"])
            if counts is None:
                break
            expected = oracle.apply(Batch([], pd.read_parquet(b["truth_path"]), b["now_us"]))
            run.check(counts == expected, f"batch {k} counts {counts} != {expected}")
            for _ in range(1 + (p["warmup_read_rounds"] if warming else 0)):
                run_reads(run, reads, oracle, b["now_us"], b["lookups"])
        last = it.seconds
        if warming:
            run.setup["warm_up"] = run.setup.get("warm_up", 0.0) + it.seconds
            run.discard_samples()
            start = time.perf_counter()
        landed += b["bytes"]
        if k + 1 == p["min_batches"]:
            run.stored_ratio = (warehouse_bytes(wh.root) - seeded_bytes) / landed
            run.layer_counts["catalog.target_files"] = wh.file_count(api.TARGET_TABLE)
            run.layer_counts["catalog.staging_files"] = wh.file_count(api.STAGING_TABLE)
    if not run.failed:
        check_target(run, wh, api, oracle)
    shutil.rmtree(wh.root, ignore_errors=True)
