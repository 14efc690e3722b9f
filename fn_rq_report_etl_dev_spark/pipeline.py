"""End-to-end ETL orchestration — the reference's ``run_etl`` shape
(rqtradein_etl.py:13-24) as one lazy DataFrame graph per stage:

    fetch (driver) → normalize (casts + timestamps + EST) → stage (append)
    → dedup (latest per key) → merge upsert → audit counts → retention

Each relational stage is declarative. The dedup window and the merge join
are both keyed on ``SaleInvoiceID``, so they share one exchange of the
staged batch.

The merge is copy-on-write over the target's files, and its cost follows
the batch, not the target. One small job collects the batch's merge keys;
each target file's ``SaleInvoiceID`` min/max comes from its Parquet footer.
Only the files whose range holds a batch key are read, merged and
rewritten; every other file is carried into the new version unchanged.
The target is kept clustered by key: the merge writes its rows
range-partitioned and sorted, at most ``TARGET_FILE_ROWS`` rows per file,
so file ranges stay disjoint and later batches keep pruning.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .catalog import (
    STAGING_PARTITION_COL,
    STAGING_PARTITIONED_SCHEMA,
    STAGING_TABLE,
    TARGET_TABLE,
    FileKeyRange,
    Warehouse,
    ensure_tables,
)
from .functions.casts import apply_type_map, lenient_cast
from .functions.timestamps import parse_timestamp_multi, utc_to_est, with_fallback_now
from .operators.dedup import latest_per_key
from .operators.merge import MERGE_ACTION, merge_upsert
from .schemas import (
    AUDIT_INSERTED,
    AUDIT_UPDATED,
    DEDUP_ORDER_COLUMN,
    DEDUP_TIEBREAKER,
    EST_DERIVED_PAIRS,
    MERGE_KEY,
    RAW_TIMESTAMP_COLUMNS,
    TARGET_SCHEMA,
    TARGET_TYPE_MAP,
    TRADEIN_COLUMNS,
)

# Rows per target file the merge writes: it cuts the rewritten key range
# into runs of about this many rows, and no file holds more. Smaller files
# make the merge read less but store more bytes per row. Measured with
# perfbench daily_incremental on a 4-core VM, against the full rewrite's
# 0.299 stored bytes per input byte: 4096 rows stored 0.370, 8192 stored
# 0.310 with the fastest batch at that bound, 16384 stored 0.279 with a
# batch about 12% slower.
TARGET_FILE_ROWS = 8_192

# The patterns normalize_batch renders staged timestamps in; the merge's
# cast parses them with one exact pattern before the multi-format chain.
STAGED_TS_FORMAT = "yyyy-MM-dd HH:mm:ss.SSSSSS"
STAGED_EST_FORMAT = "yyyy-MM-dd HH:mm:ss"
_STAGED_FORMATS = {c: STAGED_TS_FORMAT for c in RAW_TIMESTAMP_COLUMNS} | {
    c: STAGED_EST_FORMAT for c, _ in EST_DERIVED_PAIRS
}

_FILE_COL = "__file"


def normalize_batch(df: DataFrame, now: Column | None = None) -> DataFrame:
    """Timestamp normalization + EST derivation on a raw (all-string) batch.

    ≙ the reference's per-row Python loop (rqtradein_etl.py:313-338):
    - parse the 3 raw timestamp columns with the lenient multi-format chain;
      present-but-unparseable values fall back to "now" (:319-322);
    - derive the 3 ``*EST`` shadows via UTC→US/Eastern at second precision
      (:325-337);
    - render everything back to strings (staging stays uniformly VARCHAR).
    """
    # Two batched withColumns calls, not six chained withColumn calls:
    # each withColumn re-analyzes the whole 44-column plan on the driver
    # (r11, guide §7.3). Level 1 rewrites the three raw timestamp
    # columns; level 2 derives the EST shadows FROM the level-1 output
    # (the reference derives EST from the already-normalized strings, so
    # the dependency is real and the two levels cannot fuse).
    parsed = {
        c: F.date_format(
            with_fallback_now(parse_timestamp_multi(F.col(c)), F.col(c), now),
            STAGED_TS_FORMAT,
        )
        for c in RAW_TIMESTAMP_COLUMNS
    }
    out = df.withColumns(parsed)
    est = {
        est_col: F.date_format(
            utc_to_est(F.to_timestamp(F.col(src_col))), STAGED_EST_FORMAT
        )
        for est_col, src_col in EST_DERIVED_PAIRS
    }
    return out.withColumns(est).select(*TRADEIN_COLUMNS)


def _deduped_staging(staging: DataFrame, dedup_salts: int | None = None) -> DataFrame:
    """Shared merge input: date-partitioned staging, lenient-cast to target
    types, window-dedup to one row per merge key.

    ``dedup_salts`` switches the dedup to the salted two-phase window for
    batches with pathological merge-key skew (one key owning a large slice
    of the batch) — same result, bounded task sizes. Off by default: the
    single window shares its exchange with the merge join, which is the
    better plan when keys are well-distributed."""
    typed = apply_type_map(
        staging.drop(STAGING_PARTITION_COL), TARGET_TYPE_MAP, _STAGED_FORMATS
    )
    return latest_per_key(
        typed,
        [MERGE_KEY],
        [DEDUP_ORDER_COLUMN, DEDUP_TIEBREAKER],
        n_salts=dedup_salts,
    )


def _staged_keys(staging: DataFrame, now: Column | None) -> tuple[np.ndarray, str | None]:
    """The one small job ahead of the merge, over staging's key column:
    the distinct non-NULL merge keys, sorted and cast as the merge casts
    them, and 'today' as a partition value for retention (None when
    staging is empty, and then there is nothing to purge)."""
    today = F.to_date(now) if now is not None else F.current_date()
    got = staging.select(
        lenient_cast(F.col(MERGE_KEY), TARGET_TYPE_MAP[MERGE_KEY]).alias("k"),
        today.cast("string").alias("today"),
    ).toArrow()
    keys = np.unique(got.column("k").drop_null().to_numpy())
    return keys, got.column("today")[0].as_py() if got.num_rows else None


def _holds_a_key(f: FileKeyRange, keys: np.ndarray) -> bool:
    """Whether the file may hold one of the sorted ``keys``; a file
    without key statistics always may."""
    if f.lo is None:
        return True
    i = np.searchsorted(keys, f.lo)
    return bool(i < len(keys) and keys[i] <= f.hi)


def _split_points(
    read: list[FileKeyRange], carried: list[FileKeyRange], keys: np.ndarray
) -> list[int]:
    """Key bounds that cut the rewritten rows into runs of about
    ``TARGET_FILE_ROWS`` rows and never across a carried file's range, so
    new files do not overlap the files kept. Taken from footer stats and
    the batch keys alone, with no sampling job: a read file's rows are
    taken as spread evenly over its key range, and a batch key outside
    every read range as one new row."""
    ranged = [f for f in read if f.lo is not None]
    new = keys
    for f in ranged:
        new = new[(new < f.lo) | (new > f.hi)]
    est = np.sort(
        np.concatenate([np.linspace(f.lo, f.hi, f.rows) for f in ranged] + [new.astype(float)])
    )
    cuts = np.unique(np.ceil(np.concatenate([
        est[TARGET_FILE_ROWS::TARGET_FILE_ROWS],
        [f.lo for f in carried if f.lo is not None],
    ])))
    # Keep one cut per gap between estimated rows, and none outside them.
    below = np.searchsorted(est, cuts)
    useful = (below > 0) & (below < len(est)) & (np.diff(below, prepend=0) > 0)
    return cuts[useful].astype(np.int64).tolist()


def _file_of(key: Column, bounds: list[int]) -> Column:
    """Index of the key range ``key`` falls in; NULL keys go to the last."""
    if not bounds:
        return F.lit(0)
    out = F.when(key < bounds[0], 0)
    for i, b in enumerate(bounds[1:], 1):
        out = out.when(key < b, i)
    return out.otherwise(len(bounds))


def _purge_stale_staging(wh: Warehouse, today: str | None) -> None:
    """Staging retention (rqtradein_etl.py:192): drop every partition whose
    date differs from today — a metadata-only directory drop, no data
    rewrite. NULL dates are kept: in the reference, `CONVERT(date,
    TradeInDate) <> CONVERT(date, GETDATE())` is UNKNOWN for NULL, so those
    rows survive the DELETE."""
    stale = [
        v
        for v in wh.partition_values(STAGING_TABLE, STAGING_PARTITION_COL)
        if v is not None and v != today
    ]
    wh.drop_partitions(STAGING_TABLE, STAGING_PARTITION_COL, stale)


def merge_to_target(
    spark: SparkSession,
    wh: Warehouse,
    now: Column | None = None,
    dedup_salts: int | None = None,
) -> dict[str, int]:
    """Dedup staging, lenient-cast to target types, upsert into target,
    return {"inserted": n, "updated": n} (rqtradein_etl.py:150-194).

    Only the target files whose footer key range holds one of staging's
    keys (and files without key statistics) are read and rewritten; the
    rest are carried into the new version as they are. That gives the
    full-table merge's result: a target row in a skipped file has a key
    no staged row has, so the full merge would only have kept it, and
    NULL keys never match, so they touch no file.
    """
    staging = wh.read(spark, STAGING_TABLE, STAGING_PARTITIONED_SCHEMA)
    keys, today = _staged_keys(staging, now)
    files = wh.key_ranges(TARGET_TABLE, MERGE_KEY)
    read = [f for f in files if _holds_a_key(f, keys)]
    target = (
        spark.read.schema(TARGET_SCHEMA).parquet(*[f.path for f in read])
        if read
        else spark.createDataFrame([], TARGET_SCHEMA)
    )
    merged = merge_upsert(
        target,
        _deduped_staging(staging, dedup_salts),
        MERGE_KEY,
        audit_inserted=AUDIT_INSERTED,
        audit_updated=AUDIT_UPDATED,
        now=now,
        keep_action=True,
    )
    carried = [f for f in files if f not in read]
    bounds = _split_points(read, carried, keys)
    clustered = (
        merged.withColumn(_FILE_COL, _file_of(F.col(MERGE_KEY), bounds))
        .repartition(len(bounds) + 1, _FILE_COL)
        .sortWithinPartitions(_FILE_COL, MERGE_KEY)
    )
    # Audit tallies ride along the write via observed metrics — one pass
    # over the merge, no second job.
    obs = Observation("merge_counts")
    clustered = clustered.observe(
        obs,
        F.count(F.when(F.col(MERGE_ACTION) == "insert", 1)).alias("inserted"),
        F.count(F.when(F.col(MERGE_ACTION) == "update", 1)).alias("updated"),
    )
    wh.rewrite_files(
        clustered.drop(MERGE_ACTION), TARGET_TABLE, _FILE_COL, TARGET_FILE_ROWS,
        [f.path for f in carried],
    )
    counts_row = obs.get

    _purge_stale_staging(wh, today)
    return {"inserted": counts_row["inserted"], "updated": counts_row["updated"]}


def _staged_batch(batch: DataFrame, now: Column | None) -> DataFrame:
    """Normalize a raw batch and shape it for the partitioned staging
    append (r11, guide §2.6/§6): the multi-format timestamp parse is the
    batch's CPU-bound stage, so fan the input across the cluster first
    when its own split count is below the parallelism (a single-file
    batch otherwise parses on ONE core — measured 3.4 s vs 1.0 s at
    sf0.1); then REBALANCE by the partition date before the write so
    each task holds whole dates (one file per date instead of
    tasks × dates small files) while AQE still SPLITS an oversized date —
    the production daily batch is mostly one date, which a plain
    repartition(dt) would serialize onto one straggler task."""
    from .operators.multimodal import spread_for_decode

    staged = normalize_batch(spread_for_decode(batch), now).withColumn(
        STAGING_PARTITION_COL, F.to_date(F.col(DEDUP_ORDER_COLUMN))
    )
    return staged.hint("rebalance", STAGING_PARTITION_COL)


def run_etl(
    spark: SparkSession,
    wh: Warehouse,
    batch: DataFrame,
    now: Column | None = None,
) -> dict[str, int]:
    """Full pipeline for one (already-fetched) batch: bootstrap tables,
    normalize, append to date-partitioned staging, merge, retention,
    return audit counts."""
    ensure_tables(spark, wh)
    wh.append_partitioned(
        _staged_batch(batch, now), STAGING_TABLE, STAGING_PARTITION_COL
    )
    return merge_to_target(spark, wh, now)
