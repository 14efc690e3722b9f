"""Tests of the benchmark's own code: input determinism, the expected-state
oracle against the real pipeline, failure detection, and the metric
declarations in BENCHMARK.json.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import analytics, corpus, etl, run  # noqa: E402
from perfbench.landing import (  # noqa: E402
    Batch, ExpectedState, FeedShape, TradeInFeed, write_jsonl,
)

TINY = FeedShape(rows=400, redeliver_share=0.3, dup_share=0.1, null_key_share=0.02,
                 empty_ts_share=0.03, garbage_ts_share=0.03, garbage_money_share=0.05,
                 shapes=etl.DAILY["shape"].shapes)


def _read(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_same_seed_gives_byte_identical_landing(tmp_path):
    def land(d, seed):
        feed = TradeInFeed(seed, "2024-03-01")
        feed.history(100, 5)
        prev = None
        for k in range(3):
            b = feed.batch(TINY, k, prev)
            write_jsonl(str(d / f"b{k}.json"), b.records)
            prev = b.truth["key"].dropna().astype("int64").to_numpy()

    for d, seed in ((tmp_path / "a", 7), (tmp_path / "b", 7), (tmp_path / "c", 8)):
        d.mkdir()
        land(d, seed)
    for k in range(3):
        a, b, c = (_read(str(tmp_path / x / f"b{k}.json")) for x in "abc")
        assert a == b
        assert a != c


def test_same_seed_gives_byte_identical_corpus(tmp_path):
    corpus.generate(str(tmp_path / "a"), 3, 0.001)
    corpus.generate(str(tmp_path / "b"), 3, 0.001)
    for t in corpus.TABLES:
        assert _read(str(tmp_path / "a" / f"{t}.parquet")) == _read(str(tmp_path / "b" / f"{t}.parquet"))


def test_fingerprint_is_order_insensitive_and_value_sensitive():
    rows = [(1, "a", 2.5), (2, "b", None)]
    assert corpus.fingerprint(rows, ["x", "y", "z"]) == corpus.fingerprint(rows[::-1], ["x", "y", "z"])
    assert corpus.fingerprint(rows, ["x", "y", "z"]) != corpus.fingerprint([(1, "a", 2.5), (2, "b", 0.0)], ["x", "y", "z"])


def test_oracle_folds_reference_semantics():
    """Dedup keeps the latest TradeInDate, then the highest transaction id;
    a NULL key never matches; stale staging dates are dropped, NULL dates
    kept."""
    import pandas as pd

    def frame(rows):
        return pd.DataFrame({
            "key": pd.array([r[0] for r in rows], dtype="Int64"),
            "txid": pd.array([r[1] for r in rows], dtype="Int64"),
            "ts": pd.array([r[2] for r in rows], dtype="Int64"),
            "store": ["s"] * len(rows),
            "amount": pd.array([100] * len(rows), dtype="Int64"),
        })

    day = 86_400 * 10**6
    es = ExpectedState()
    es.seed(frame([(1, 1, 0)]))
    counts = es.apply(Batch([], frame([(1, 5, day), (1, 6, day), (2, 7, 2 * day), (None, 8, None)]), day + 1))
    assert counts == {"inserted": 2, "updated": 1}
    assert es.point([1, 2]) == {(1, 6), (2, 7)}
    # key 1's day-1 rows stay staged; key 2 (day 2) is purged; NULL kept
    assert sorted(es.staging["txid"].tolist()) == [5, 6, 8]


@pytest.fixture(scope="module")
def bench_run(tmp_path_factory):
    """A Spark session configured the way the benchmark configures it."""
    api = run.load_program()
    work = str(tmp_path_factory.mktemp("perfbench"))
    r = run.Run("daily_incremental", 1, 1.0, False, work)
    run.start_spark(api, r, trace=False)
    yield api, r
    run.stop_spark(r.spark)


def _tiny_daily(api, r, wh, batches=3):
    """Seed a tiny target, land ``batches`` tiny batches through run_etl;
    return the oracle after folding the same batches."""
    feed = TradeInFeed(5, "2024-03-08")
    history = feed.history(300, 3)
    path = os.path.join(r.work, "history.parquet")
    import pyarrow.parquet as pq

    pq.write_table(etl._history_table(history, api.TARGET_SCHEMA), path)
    api.ensure_tables(r.spark, wh)
    typed = r.spark.read.parquet(path).select(
        *[api.F.col(f.name).cast(f.dataType) for f in api.TARGET_SCHEMA.fields])
    wh.overwrite_atomic(typed, api.TARGET_TABLE)
    oracle = ExpectedState()
    oracle.seed(history)
    prev = history["key"].astype("int64").to_numpy()[-50:]
    for k in range(batches):
        b = feed.batch(TINY, k, prev)
        landing = os.path.join(r.work, f"tiny-{k}.json")
        write_jsonl(landing, b.records)
        got = etl.load_batch(r, api, wh, landing, b.now_us, len(b.records), 0, counters=False)
        want = oracle.apply(b)
        assert got == want, (k, got, want)
        etl.run_reads(r, etl.Reads(r.spark, wh, api), oracle, b.now_us, [int(prev[0]), 10**9])
        prev = b.truth["key"].dropna().astype("int64").to_numpy()
    return oracle


def test_oracle_agrees_with_run_etl_and_corruption_is_caught(bench_run):
    api, r = bench_run
    wh = api.Warehouse(os.path.join(r.work, "wh"))
    oracle = _tiny_daily(api, r, wh)
    assert r.failed == 0, r.errors
    etl.check_target(r, wh, api, oracle)
    assert r.failed == 0, r.errors

    # Corrupt one committed row: a different winning version for one key.
    F = api.F
    target = wh.read(r.spark, api.TARGET_TABLE)
    victim = oracle.target["key"].dropna().iloc[0]
    bad = target.withColumn(
        "TradeInTransactionID",
        F.when(F.col("SaleInvoiceID") == int(victim), F.col("TradeInTransactionID") + 1)
        .otherwise(F.col("TradeInTransactionID")),
    )
    wh.overwrite_atomic(bad, api.TARGET_TABLE)
    before = r.failed
    etl.check_target(r, wh, api, oracle)
    assert r.failed > before


def test_every_printed_metric_is_declared():
    bench = _benchmark()
    declared_e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert declared_e2e == run.END_TO_END_UNITS
    r = run.Run("analytics_mix", 1, 1.0, True, "/nonexistent")
    probe = run.Run(run.PROBE[r.workload], 1, 0.0, True, "/nonexistent")
    for x in (r, probe):
        x.setup["get_spark"] = 1.0
    printed = {k: u for k, (_, u) in run.traced_metrics(r, probe).items()}
    assert printed == {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)


def test_meta_records_the_sizes_the_code_runs():
    with open(os.path.join(ROOT, "perfbench", "benchmark_meta.json"), encoding="utf-8") as fh:
        meta = json.load(fh)["workloads"]
    d = meta["daily_incremental"]["inputs"]
    assert d["history_rows"] == etl.DAILY["history_rows"]
    assert d["batch_rows"] == etl.DAILY["shape"].rows
    for k in ("seed_repeats", "warmup_batches", "warmup_read_rounds", "min_batches", "max_batches"):
        assert d[k] == etl.DAILY[k]
    a = meta["analytics_mix"]["inputs"]
    assert a["target_rows"] == etl.DAILY["history_rows"]
    for k in ("sf", "queries", "seed_repeats", "warmup_read_rounds", "min_passes", "max_passes"):
        assert a[k] == analytics.ANALYTICS[k]


def test_fails_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command exits non-zero
    and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "daily_incremental", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert p.returncode != 0
    assert "correct" not in p.stdout
