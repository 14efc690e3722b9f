"""End-to-end pipeline tests (SURVEY.md §5.2, FIXTURES.md §4): synthetic
trade-in batches with planted duplicates, format zoo, garbage values,
re-delivered records; idempotence; retention; catalog bootstrap."""

from __future__ import annotations

import os
from decimal import Decimal

import pytest
from pyspark.sql import functions as F

from fn_rq_report_etl_dev_spark.catalog import (
    LEGACY_STAGING_TABLE,
    STAGING_TABLE,
    TARGET_TABLE,
    Warehouse,
    ensure_tables,
    migrate_legacy_staging,
)
from fn_rq_report_etl_dev_spark.pipeline import normalize_batch, run_etl
from fn_rq_report_etl_dev_spark.schemas import STAGING_SCHEMA, TRADEIN_COLUMNS
from fn_rq_report_etl_dev_spark.sources.json_api import batch_to_dataframe, daily_window


def _batch(spark, rows: list[dict]):
    return batch_to_dataframe(spark, rows)


def _now():
    return F.to_timestamp(F.lit("2024-03-15 12:00:00"))


@pytest.fixture()
def wh(tmp_path):
    return Warehouse(str(tmp_path / "warehouse"))


def test_bootstrap_and_legacy_migration(spark, tmp_path):
    wh = Warehouse(str(tmp_path / "wh"))
    # Plant a legacy-named staging table; bootstrap must rename, not recreate.
    legacy = spark.createDataFrame(
        [tuple(str(i) for i in range(len(TRADEIN_COLUMNS)))], STAGING_SCHEMA
    )
    legacy.write.parquet(wh.path(LEGACY_STAGING_TABLE))
    assert migrate_legacy_staging(wh)
    assert wh.exists(STAGING_TABLE) and not wh.exists(LEGACY_STAGING_TABLE)
    ensure_tables(spark, wh)
    assert wh.read(spark, STAGING_TABLE).count() == 1  # preserved, not clobbered
    assert wh.read(spark, TARGET_TABLE).count() == 0
    ensure_tables(spark, wh)  # idempotent


def test_pipeline_duplicates_garbage_and_types(spark, wh):
    rows = [
        # dup key 100: later TradeInDate must win
        {"SaleInvoiceID": "100", "TradeInTransactionID": "1",
         "TradeInDate": "2024-03-15T01:00:00Z", "TradeInAmount": "10.50",
         "TradeInStatus": "Submitted"},
        {"SaleInvoiceID": "100", "TradeInTransactionID": "2",
         "TradeInDate": "2024-03-15T02:00:00.5Z", "TradeInAmount": "99.99",
         "TradeInStatus": "Completed"},
        # garbage decimal + unparseable date (fallback-to-now) + missing keys
        {"SaleInvoiceID": "200", "TradeInTransactionID": "3",
         "TradeInDate": "not a date", "TradeInAmount": "garbage"},
        # different format, missing TradeInAmount entirely
        {"SaleInvoiceID": "300", "TradeInTransactionID": "4",
         "TradeInDate": "2024-03-15 03:00:00"},
    ]
    counts = run_etl(spark, wh, _batch(spark, rows), now=_now())
    assert counts == {"inserted": 3, "updated": 0}

    target = {r["SaleInvoiceID"]: r for r in wh.read(spark, TARGET_TABLE).collect()}
    assert set(target) == {100, 200, 300}
    assert target[100]["TradeInAmount"] == Decimal("99.99")  # latest dup won
    assert target[100]["TradeInStatus"] == "Completed"
    assert target[200]["TradeInAmount"] is None  # lenient cast
    assert str(target[200]["TradeInDate"]) == "2024-03-15 12:00:00"  # fallback now
    assert target[300]["TradeInAmount"] is None  # missing key → NULL
    # EST derivation: 2024-03-15 is EDT (UTC-4)
    assert str(target[100]["TradeInDateEST"]) == "2024-03-14 22:00:00.500000"[:10] + " 22:00:00"
    assert target[100]["ETLRowInsertedEST"] is not None
    assert target[100]["ETLRowUpdatedEST"] is None


def test_pipeline_idempotent_and_updates(spark, wh):
    day1 = [{"SaleInvoiceID": "1", "TradeInTransactionID": "1",
             "TradeInDate": "2024-03-15T01:00:00Z", "TradeInAmount": "1.00"}]
    run_etl(spark, wh, _batch(spark, day1), now=_now())
    # Idempotence is on data columns; the matched-update branch stamps
    # ETLRowUpdatedEST even when values are unchanged (rqtradein_etl.py:161).
    data = wh.read(spark, TARGET_TABLE).drop("ETLRowUpdatedEST")
    before = sorted(map(str, data.collect()))

    # Same batch again → 0 inserts, 1 update, identical data columns.
    counts = run_etl(spark, wh, _batch(spark, day1), now=_now())
    assert counts == {"inserted": 0, "updated": 1}
    data = wh.read(spark, TARGET_TABLE).drop("ETLRowUpdatedEST")
    after = sorted(map(str, data.collect()))
    assert before == after

    # Day-2 re-delivery with updated values → update, not duplicate.
    day2 = [{"SaleInvoiceID": "1", "TradeInTransactionID": "2",
             "TradeInDate": "2024-03-16T01:00:00Z", "TradeInAmount": "2.00"},
            {"SaleInvoiceID": "2", "TradeInTransactionID": "3",
             "TradeInDate": "2024-03-16T01:00:00Z", "TradeInAmount": "3.00"}]
    counts = run_etl(spark, wh, _batch(spark, day2),
                     now=F.to_timestamp(F.lit("2024-03-16 12:00:00")))
    assert counts == {"inserted": 1, "updated": 1}
    target = {r["SaleInvoiceID"]: r for r in wh.read(spark, TARGET_TABLE).collect()}
    assert len(target) == 2
    assert target[1]["TradeInAmount"] == Decimal("2.00")
    assert target[1]["ETLRowUpdatedEST"] is not None


def test_retention_keeps_only_todays_rows(spark, wh):
    rows = [
        {"SaleInvoiceID": "1", "TradeInTransactionID": "1",
         "TradeInDate": "2024-03-15T01:00:00Z"},  # "today" wrt _now()
        {"SaleInvoiceID": "2", "TradeInTransactionID": "2",
         "TradeInDate": "2024-03-01T01:00:00Z"},  # old → purged
    ]
    run_etl(spark, wh, _batch(spark, rows), now=_now())
    staged = wh.read(spark, STAGING_TABLE).collect()
    assert [r["SaleInvoiceID"] for r in staged] == ["1"]


def test_normalize_renders_strings(spark):
    df = _batch(spark, [{"SaleInvoiceID": "1", "TradeInTransactionID": "1",
                         "TradeInDate": "2024-03-15T01:00:00Z"}])
    out = normalize_batch(df, now=_now()).collect()[0]
    assert out["TradeInDate"] == "2024-03-15 01:00:00.000000"
    assert out["TradeInDateEST"] == "2024-03-14 21:00:00"  # EDT
    assert out["PostTime"] is None


def test_daily_window_shape():
    from datetime import date

    w = daily_window(date(2024, 3, 15))
    assert w == {"StartDate": "2024-03-14", "StopDate": "2024-03-15"}


def test_compact_table_reduces_file_count(spark, tmp_path):
    from fn_rq_report_etl_dev_spark.catalog import Warehouse, compact_table

    import os

    wh = Warehouse(str(tmp_path / "wh"))
    df = spark.range(1000).withColumnRenamed("id", "k")
    for _ in range(3):  # several appends → many small files
        wh.append(df.repartition(8), "t")
    before = sum(f.endswith(".parquet") for f in os.listdir(wh.path("t")))
    assert before == 24
    n = compact_table(spark, wh, "t", target_files=4)
    assert n == 4
    assert wh.read(spark, "t").count() == 3000


def test_unique_key_violations(spark):
    from fn_rq_report_etl_dev_spark.operators.quality import unique_key_violations

    df = spark.createDataFrame([(1, "a"), (1, "b"), (2, "c")], "k long, v string")
    out = unique_key_violations(df, ["k"]).collect()
    assert [(r["k"], r["n_occurrences"]) for r in out] == [(1, 2)]


def test_quality_rules_null_policy(spark):
    """Only not_null counts NULL rows; shape rules (in_range / matches /
    accepted_values) exempt NULLs, so composing them never double-counts."""
    from fn_rq_report_etl_dev_spark.operators.quality import (
        accepted_values,
        constraint_report,
        in_range,
        matches,
        not_null,
    )

    df = spark.createDataFrame(
        [(None, None, None), (5, "ab", "x"), (99, "!!", "z")],
        "num int, txt string, cat string",
    )
    rules = [
        not_null("num"),
        in_range("num", 0, 10),
        matches("txt", "[a-z]+"),
        accepted_values("cat", ["x", "y"]),
    ]
    got = {r["rule"]: r["n_violations"] for r in constraint_report(df, rules).collect()}
    assert got == {
        "num_not_null": 1,   # the NULL row, counted exactly once
        "num_in_range": 1,   # 99 only — NULL exempt
        "txt_matches": 1,    # "!!" only — NULL exempt
        "cat_accepted": 1,   # "z" only — NULL exempt
    }


@pytest.mark.perf
def test_daily_batch_envelope_sf01(spark):
    """Committed performance envelope for the reference-parity pipeline
    (VERDICT r02 item 5): one warm sf0.1 daily batch — the number that
    maps to the reference's 90-minute budget — must stay under 15 s, so
    suite growth can't silently erode it. The first run is a JIT/codegen
    warm-up (cold-start cost is session overhead, not pipeline cost —
    bench.py warms the same way); the second run is the SLO measurement.
    Measured baseline on this machine: ~8.2 s warm at local[32].

    Marked ``perf`` (ADVICE r03): a wall-clock bound is machine-dependent;
    exclude it from correctness-only runs with ``-m "not perf"``. It stays
    in the default run on this box, where ~1.8x headroom is real signal."""
    import bench

    sf_dir = "/root/testdata/sf0.1"
    bench.time_pipeline_daily_batch(spark, sf_dir)  # warm-up
    sec = bench.time_pipeline_daily_batch(spark, sf_dir)
    assert sec < 15.0, f"daily batch envelope blown: {sec:.1f}s >= 15s"


# ---------------------------------------------------------------------------
# The file-pruned merge: same table and counts as a full-table merge_upsert


def _plant_target(spark, wh, ranges, null_keys=2):
    """Replace the target with one file per key range [lo, hi); the first
    file also holds ``null_keys`` NULL-key rows."""
    from fn_rq_report_etl_dev_spark.schemas import TARGET_SCHEMA

    def rows(ids, store):
        fill = {"SaleInvoiceID": ids["id"], "TradeInTransactionID": ids["id"] + 10_000,
                "StoreName": F.lit(store), "TradeInAmount": F.lit("5.00")}
        return ids.select(*[
            fill.get(f.name, F.lit(None)).cast(f.dataType).alias(f.name)
            for f in TARGET_SCHEMA.fields
        ])

    wh.drop(TARGET_TABLE)
    for i, (lo, hi) in enumerate(ranges):
        df = rows(spark.range(lo, hi), f"s{i}")
        if i == 0 and null_keys:
            nulls = rows(spark.range(null_keys), "null-key").withColumn(
                "SaleInvoiceID", F.lit(None).cast("bigint"))
            df = df.unionByName(nulls)
        df.coalesce(1).write.mode("append").parquet(wh.path(TARGET_TABLE))


def _stage(spark, wh, keys):
    """Land a batch with these raw SaleInvoiceID values in staging (None
    leaves the field out)."""
    from fn_rq_report_etl_dev_spark.catalog import STAGING_PARTITION_COL
    from fn_rq_report_etl_dev_spark.pipeline import _staged_batch

    rows = [
        {"TradeInTransactionID": str(i), "TradeInDate": "2024-03-15T01:00:00Z",
         "TradeInAmount": "7.00", "StoreName": "batch"}
        | ({} if k is None else {"SaleInvoiceID": k})
        for i, k in enumerate(keys)
    ]
    wh.append_partitioned(_staged_batch(_batch(spark, rows), _now()), STAGING_TABLE,
                          STAGING_PARTITION_COL)


def _full_merge(spark, wh):
    """The full-table merge of staging into the whole target: its rows and
    counts, collected before the pruned merge replaces the files."""
    from fn_rq_report_etl_dev_spark.catalog import STAGING_PARTITIONED_SCHEMA
    from fn_rq_report_etl_dev_spark.operators.merge import MERGE_ACTION, merge_upsert
    from fn_rq_report_etl_dev_spark.pipeline import _deduped_staging

    staging = wh.read(spark, STAGING_TABLE, STAGING_PARTITIONED_SCHEMA)
    merged = merge_upsert(
        wh.read(spark, TARGET_TABLE), _deduped_staging(staging), "SaleInvoiceID",
        audit_inserted="ETLRowInsertedEST", audit_updated="ETLRowUpdatedEST",
        now=_now(), keep_action=True,
    ).collect()
    actions = [r[MERGE_ACTION] for r in merged]
    counts = {"inserted": actions.count("insert"), "updated": actions.count("update")}
    return _rows(r.asDict() for r in merged), counts


def _rows(dicts):
    from fn_rq_report_etl_dev_spark.schemas import TARGET_SCHEMA

    return sorted(repr(tuple(d[f.name] for f in TARGET_SCHEMA.fields)) for d in dicts)


def _target_rows(spark, wh):
    return _rows(r.asDict() for r in wh.read(spark, TARGET_TABLE).collect())


def _inodes(wh):
    return {os.path.basename(p): os.stat(p).st_ino for p in wh.data_files(TARGET_TABLE)}


RANGES = [(0, 100), (100, 200), (200, 300)]


def _planted(wh):
    """{file name: index of the planted range it holds}."""
    return {
        os.path.basename(f.path): f.lo // 100
        for f in wh.key_ranges(TARGET_TABLE, "SaleInvoiceID")
    }


@pytest.mark.parametrize(
    "keys, untouched",
    [
        (["5", "17"], {1, 2}),
        (["150"], {0, 2}),
        (["299", "250"], {0, 1}),
        (["0", "150", "299"], set()),
        (["5", "250"], {1}),  # the new files must not overlap the carried one
        (["-5", "300", "1000"], {0, 1, 2}),  # pure inserts touch no file
        ([None, "abc", None, "120"], {0, 2}),  # uncastable keys cast to NULL
    ],
    ids=["first", "middle", "last", "all", "first_and_last", "beyond", "null_keys"],
)
def test_pruned_merge_equals_full_merge(spark, wh, keys, untouched):
    from fn_rq_report_etl_dev_spark.pipeline import merge_to_target

    ensure_tables(spark, wh)
    _plant_target(spark, wh, RANGES)
    _stage(spark, wh, keys)
    planted, before = _planted(wh), _inodes(wh)
    want_rows, want_counts = _full_merge(spark, wh)

    assert merge_to_target(spark, wh, now=_now()) == want_counts
    assert _target_rows(spark, wh) == want_rows
    after = _inodes(wh)
    assert {planted[n] for n, ino in before.items() if after.get(n) == ino} == untouched
    _assert_disjoint(wh)


def _assert_disjoint(wh):
    ranges = sorted(
        (f.lo, f.hi) for f in wh.key_ranges(TARGET_TABLE, "SaleInvoiceID") if f.lo is not None
    )
    assert all(hi < lo for (_, hi), (lo, _) in zip(ranges, ranges[1:])), ranges


def test_pruned_merge_into_empty_target(spark, wh):
    from fn_rq_report_etl_dev_spark.pipeline import merge_to_target

    ensure_tables(spark, wh)
    _stage(spark, wh, ["3", "1", None, "3"])
    want_rows, want_counts = _full_merge(spark, wh)
    assert merge_to_target(spark, wh, now=_now()) == want_counts == {"inserted": 3, "updated": 0}
    assert _target_rows(spark, wh) == want_rows


def test_empty_batch_into_empty_target_keeps_it_readable(spark, wh):
    """Nothing to write and nothing to carry: the new version still holds
    one schema-carrying file, so the next reader and merge work."""
    from fn_rq_report_etl_dev_spark.schemas import TARGET_SCHEMA

    assert run_etl(spark, wh, _batch(spark, []), now=_now()) == {"inserted": 0, "updated": 0}
    assert len(wh.data_files(TARGET_TABLE)) == 1
    assert wh.read(spark, TARGET_TABLE).schema == TARGET_SCHEMA
    assert run_etl(spark, wh, _batch(spark, [{"SaleInvoiceID": "1", "TradeInTransactionID": "1"}]),
                   now=_now()) == {"inserted": 1, "updated": 0}


def test_pruned_merge_reads_files_without_key_statistics(spark, wh):
    """A file whose footer has no key min/max may hold any key: it is read
    and rewritten, never skipped."""
    import pyarrow.parquet as pq

    from fn_rq_report_etl_dev_spark.pipeline import merge_to_target

    ensure_tables(spark, wh)
    _plant_target(spark, wh, RANGES)
    planted = _planted(wh)
    blind = next(n for n, i in planted.items() if i == 1)
    path = os.path.join(wh.path(TARGET_TABLE), blind)
    pq.write_table(pq.read_table(path), path, write_statistics=False, coerce_timestamps="us")
    os.remove(os.path.join(wh.path(TARGET_TABLE), f".{blind}.crc"))  # now stale
    assert [f.lo for f in wh.key_ranges(TARGET_TABLE, "SaleInvoiceID")].count(None) == 1
    _stage(spark, wh, ["150", "5"])
    before = _inodes(wh)
    want_rows, want_counts = _full_merge(spark, wh)

    assert merge_to_target(spark, wh, now=_now()) == want_counts == {"inserted": 0, "updated": 2}
    assert _target_rows(spark, wh) == want_rows
    after = _inodes(wh)
    assert blind not in after
    assert {planted[n] for n, ino in before.items() if after.get(n) == ino} == {2}


def test_target_stays_key_clustered_across_days(spark, wh, monkeypatch):
    """After several daily runs the target's file key ranges are disjoint
    and bounded in rows, and a file no staged key falls in keeps its inode.
    Staging still holds yesterday's rows during today's merge (retention
    runs after it), so those keys touch files too."""
    from fn_rq_report_etl_dev_spark import pipeline

    monkeypatch.setattr(pipeline, "TARGET_FILE_ROWS", 16)
    days = [
        list(range(0, 60)),
        list(range(60, 90)) + [3, 4],  # new keys, and updates in the first file
        list(range(90, 100)) + [70, None],
    ]
    for d, keys in enumerate(days):
        day = f"2024-03-{15 + d}"
        before = {
            os.path.basename(f.path): (f, os.stat(f.path).st_ino)
            for f in wh.key_ranges(TARGET_TABLE, "SaleInvoiceID")
        } if wh.exists(TARGET_TABLE) else {}
        rows = [
            {"TradeInTransactionID": str(1000 * d + i), "TradeInDate": f"{day}T01:00:00Z"}
            | ({} if k is None else {"SaleInvoiceID": str(k)})
            for i, k in enumerate(keys)
        ]
        run_etl(spark, wh, _batch(spark, rows), now=F.to_timestamp(F.lit(f"{day} 12:00:00")))
        _assert_disjoint(wh)
        assert all(f.rows <= 16 for f in wh.key_ranges(TARGET_TABLE, "SaleInvoiceID"))
        after = _inodes(wh)
        staged = [k for k in keys + (days[d - 1] if d else []) if k is not None]
        for name, (f, ino) in before.items():
            if f.lo is not None and not any(f.lo <= k <= f.hi for k in staged):
                assert after.get(name) == ino, (d, name)
        if d == 2:  # staging holds days 1-2 only: the files of keys 16-59 are carried
            assert any(after.get(n) == ino for n, (_, ino) in before.items())
    got = wh.read(spark, TARGET_TABLE)
    assert got.filter(F.col("SaleInvoiceID").isNotNull()).count() == 100
    assert got.filter(F.col("SaleInvoiceID").isNull()).count() == 1


def test_crash_between_swap_renames_converges_on_rerun(spark, tmp_path, monkeypatch):
    """A crash after the live target is renamed aside but before the new
    version is renamed in leaves no target directory. The next run restores
    the old version instead of bootstrapping an empty target, and then
    produces the table an uninterrupted run produces."""
    import fn_rq_report_etl_dev_spark.catalog as catalog

    day1 = [{"SaleInvoiceID": str(k), "TradeInTransactionID": str(k),
             "TradeInDate": "2024-03-15T01:00:00Z", "TradeInAmount": "1.00"} for k in range(20)]
    day2 = [{"SaleInvoiceID": str(k), "TradeInTransactionID": str(100 + k),
             "TradeInDate": "2024-03-16T01:00:00Z", "TradeInAmount": "2.00"} for k in range(15, 30)]
    now2 = F.to_timestamp(F.lit("2024-03-16 12:00:00"))

    clean = Warehouse(str(tmp_path / "clean"))
    run_etl(spark, clean, _batch(spark, day1), now=_now())
    want_counts = run_etl(spark, clean, _batch(spark, day2), now=now2)

    wh = Warehouse(str(tmp_path / "crashed"))
    run_etl(spark, wh, _batch(spark, day1), now=_now())
    real_rename = os.rename

    def crash_before_second_rename(src, dst):
        if dst == wh.path(TARGET_TABLE) and ".tmp-" in src:
            raise OSError("simulated crash between the swap's renames")
        real_rename(src, dst)

    monkeypatch.setattr(catalog.os, "rename", crash_before_second_rename)
    with pytest.raises(OSError, match="simulated crash"):
        run_etl(spark, wh, _batch(spark, day2), now=now2)
    monkeypatch.undo()
    assert not os.path.exists(wh.path(TARGET_TABLE))

    assert run_etl(spark, wh, _batch(spark, day2), now=now2) == want_counts
    assert _target_rows(spark, wh) == _target_rows(spark, clean)
