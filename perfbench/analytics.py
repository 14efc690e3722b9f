"""The ``analytics_mix`` workload: pinned registry queries, read-only.

One query per plan class runs against a seeded fixture corpus. Each run is
forced with a noop write (full computation, nothing collected, nothing
written to a warehouse); correctness is checked once per query after the
timed loop, as row count and order-insensitive hash against the query's
DuckDB oracle, which is computed once per corpus and cached with it. After
each pass the report reads run against a target seeded at set-up with the
daily workload's history; nothing is written after set-up.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from . import corpus, etl
from .landing import US_PER_DAY

ANALYTICS = {
    "sf": 0.02,
    # One query per plan class: scan+agg, joins, range window, global scan,
    # LSH dedup, vector top-k, sketch, timestamp parse, ntile, as-of join,
    # text, merge flagship.
    "queries": [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "window_range_frame",
        "running_total_global_scan",
        "dedup_minhash_lsh",
        "ann_bruteforce_topk",
        "approx_distinct_error",
        "o8_multiformat_parse",
        "rfm_customer_segments",
        "scd2_point_in_time_join",
        "text_token_count",
        "flagship_dedup_merge",
    ],
    "seed_repeats": 2,
    "warmup_read_rounds": 2,
    "min_passes": 3,
    "max_passes": 12,
}


def corpus_inputs(cache: str, seed: int, oracles: dict[str, str]) -> dict:
    """Generate (or reuse) the corpus for ``seed`` and its oracle answers."""
    p = ANALYTICS
    d = os.path.join(cache, "analytics_mix", f"seed-{seed}")
    meta_path = os.path.join(d, "meta.json")
    if not os.path.exists(meta_path):
        shutil.rmtree(d, ignore_errors=True)
        data = os.path.join(d, "data")
        rows = corpus.generate(data, seed, p["sf"])
        meta = {
            "rows": rows,
            "json_bytes": corpus.json_bytes(data),
            "parquet_bytes": sum(
                os.path.getsize(os.path.join(data, f)) for f in os.listdir(data)
            ),
            "oracle": corpus.oracle_fingerprints(
                data, {q: oracles[q] for q in p["queries"]}
            ),
        }
        with open(meta_path, "w", encoding="utf-8") as fh:
            json.dump(meta, fh)
    os.utime(d)
    with open(meta_path, encoding="utf-8") as fh:
        meta = json.load(fh)
    meta["data"] = os.path.join(d, "data")
    return meta


def analytics_mix(run, api, inputs: dict) -> None:
    p = ANALYTICS
    data = inputs["data"]
    target = inputs["target"]
    wh, oracle = etl.seed_target(run, api, target, p["seed_repeats"])
    reads = etl.Reads(run.spark, wh, api)
    # As of the evening of the history's last day, the day before the first batch's.
    now_us = target.batches[0]["now_us"] - US_PER_DAY
    keys = target.history["key"].astype("int64")
    lookups = [int(keys.iloc[0]), int(keys.iloc[len(keys) // 2]), int(keys.max()) + 10**6]

    def execute(q: str) -> float | None:
        with run.tracer.span(f"workloads.{q}") as s:
            with api.released(run.spark):
                ok, _ = run.attempt(
                    lambda: api.QUERIES[q](run.spark, data).write.format("noop").mode("overwrite").save()
                )
        return s.seconds if ok else None

    # Warm-up: one pass and a few read rounds, untimed by the loop (JIT,
    # codegen, plan memo).
    with run.tracer.span("setup.warm_up") as s:
        for q in p["queries"]:
            execute(q)
        for _ in range(1 + p["warmup_read_rounds"]):
            etl.run_reads(run, reads, oracle, now_us, lookups)
    run.setup["warm_up"] = s.seconds
    run.discard_samples()

    start = time.perf_counter()
    last = 0.0
    for k in range(p["max_passes"]):
        if k >= p["min_passes"] and not run.time_left(start, last):
            break
        with run.tracer.span("iteration") as it:
            with run.tracer.span("pass", counters=k == 0) as s:
                for q in p["queries"]:
                    t = execute(q)
                    if t is not None:
                        run.query_samples.setdefault(q, []).append(t)
            etl.run_reads(run, reads, oracle, now_us, lookups)
        last = it.seconds
        run.batch_samples.append(s.seconds)
        run.batch_rows.append(sum(inputs["rows"].values()))
    run.stored_ratio = inputs["parquet_bytes"] / inputs["json_bytes"]
    shutil.rmtree(wh.root, ignore_errors=True)

    for q in p["queries"]:
        with api.released(run.spark):
            ok, got = run.attempt(lambda q=q: _fingerprint(api.QUERIES[q](run.spark, data)))
        if ok:
            run.check(list(got) == inputs["oracle"][q], f"{q} {got} != {inputs['oracle'][q]}")


def _fingerprint(df) -> tuple[int, str]:
    return corpus.fingerprint([tuple(r) for r in df.collect()], df.columns)

