"""Idempotent warehouse bootstrap + schema migration.

≙ the reference's ``create_tables_if_not_exist`` (rqtradein_etl.py:25-149):
probe-for-existence, conditional create, and the one legacy rename
(``sp_rename 'api.RQTradeinReport_staging' → 'RQTradeinReportStaging'``,
rqtradein_etl.py:28-36).

Tables are directories of Parquet files under a warehouse root. A real
deployment would swap this for a metastore catalog (``CREATE TABLE IF NOT
EXISTS ... USING PARQUET``) or a Delta/Iceberg table — the API is the same.
"""

from __future__ import annotations

import os
import shutil
import uuid
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from .schemas import STAGING_SCHEMA, TARGET_SCHEMA

STAGING_TABLE = "rq_tradein_report_staging"
TARGET_TABLE = "rq_tradein_report"
LEGACY_STAGING_TABLE = "rq_tradein_report__staging"  # pre-migration name

# Staging is hive-partitioned by event date: incremental merges prune to
# the affected dates and retention drops whole directories.
STAGING_PARTITION_COL = "dt"
STAGING_PARTITIONED_SCHEMA = T.StructType(
    list(STAGING_SCHEMA.fields)
    + [T.StructField(STAGING_PARTITION_COL, T.DateType(), True)]
)


@dataclass(frozen=True)
class FileKeyRange:
    """One data file of a table and its key range from the Parquet footer;
    ``lo``/``hi`` are None when the footer holds no min/max for the key."""

    path: str
    rows: int
    lo: int | None
    hi: int | None


def _parquet_files(directory: str) -> list[str]:
    return sorted(
        os.path.join(directory, f)
        for f in os.listdir(directory)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    )


def _footer_key_range(path: str, column: str) -> FileKeyRange:
    md = pq.read_metadata(path)
    lo = hi = None
    if md.num_row_groups and column in md.schema.names:
        j = md.schema.names.index(column)
        stats = [md.row_group(i).column(j).statistics for i in range(md.num_row_groups)]
        if all(st is not None and st.has_min_max for st in stats):
            lo, hi = min(st.min for st in stats), max(st.max for st in stats)
    return FileKeyRange(path, md.num_rows, lo, hi)


class Warehouse:
    """Parquet-directory warehouse. A table is one directory; every
    rewrite builds a new directory beside it and swaps it in
    (:meth:`swap_in`), so readers see the old or the new version whole."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def exists(self, table: str) -> bool:
        p = self.path(table)
        return os.path.isdir(p) and bool(os.listdir(p))

    def read(self, spark: SparkSession, table: str, schema: T.StructType | None = None) -> DataFrame:
        reader = spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self.path(table))

    def append(self, df: DataFrame, table: str) -> None:
        df.write.mode("append").parquet(self.path(table))

    def overwrite_atomic(self, df: DataFrame, table: str) -> None:
        """Write to a temp dir, then swap — safe when ``df`` reads from the
        table being replaced (the merge reads target and rewrites it)."""
        tmp = self.tmp_path(table)
        df.write.mode("overwrite").parquet(tmp)
        self.swap_in(tmp, table)

    def data_files(self, table: str) -> list[str]:
        """Paths of the Parquet files of a flat table."""
        return _parquet_files(self.path(table))

    def key_ranges(self, table: str, column: str) -> list[FileKeyRange]:
        """Each data file's row count and ``column`` min/max, read from the
        Parquet footers on the driver — no Spark job."""
        return [_footer_key_range(p, column) for p in self.data_files(table)]

    def rewrite_files(
        self,
        df: DataFrame,
        table: str,
        file_col: str,
        max_rows: int,
        carried: list[str],
    ) -> None:
        """Commit a new version of ``table``: the rows of ``df`` plus the
        files ``carried`` over unchanged from the live version.

        Each value of ``file_col`` (not stored) gets its own files, of at
        most ``max_rows`` rows. When ``df`` holds each value in one
        partition, sorted by a key within it, and ``file_col`` is a range
        of that key, the files' key ranges are disjoint. Carried files are
        hard-linked under their own basenames, so they keep their path
        across the swap and the old version stays whole until it."""
        tmp = self.tmp_path(table)
        (
            df.write.mode("overwrite")
            .partitionBy(file_col)
            .option("maxRecordsPerFile", max_rows)
            .parquet(tmp)
        )
        # Flatten <tmp>/<file_col>=<v>/part-*.parquet into <tmp>; the value
        # prefixes the name, because Spark numbers files per directory.
        for entry in os.listdir(tmp):
            sub = os.path.join(tmp, entry)
            if not os.path.isdir(sub):
                continue
            value = entry.split("=", 1)[1]
            for p in _parquet_files(sub):
                os.rename(p, os.path.join(tmp, f"{value}-{os.path.basename(p)}"))
            shutil.rmtree(sub)
        for path in carried:
            os.link(path, os.path.join(tmp, os.path.basename(path)))
        if not _parquet_files(tmp):
            # Nothing left at all: keep the table readable with one empty,
            # schema-carrying file.
            shutil.rmtree(tmp)
            df.drop(file_col).limit(0).write.parquet(tmp)
        self.swap_in(tmp, table)

    def tmp_path(self, table: str) -> str:
        return f"{self.path(table)}.tmp-{uuid.uuid4().hex[:8]}"

    def _old_versions(self, table: str) -> list[str]:
        prefix = f"{table}.old-"
        return [self.path(e) for e in os.listdir(self.root) if e.startswith(prefix)]

    def swap_in(self, tmp: str, table: str) -> None:
        """Make the fully written directory ``tmp`` the table: rename the
        live directory aside, rename ``tmp`` in, delete the old one. A
        crash between the two renames leaves only ``<table>.old-*``;
        :meth:`restore_interrupted_swap` puts it back. Leftovers of a crash
        during the delete are removed first, so that directory is never
        ambiguous."""
        final = self.path(table)
        old = f"{final}.old-{uuid.uuid4().hex[:8]}"
        if os.path.exists(final):
            for stale in self._old_versions(table):
                shutil.rmtree(stale, ignore_errors=True)
            os.rename(final, old)
        os.rename(tmp, final)
        shutil.rmtree(old, ignore_errors=True)

    def restore_interrupted_swap(self, table: str) -> None:
        """If a swap died between its two renames, the table is missing
        and its last version sits in ``<table>.old-*``: rename it back."""
        if os.path.exists(self.path(table)):
            return
        olds = self._old_versions(table)
        if len(olds) > 1:
            raise RuntimeError(f"{table}: several old versions, cannot tell the last: {olds}")
        if olds:
            os.rename(olds[0], self.path(table))

    def append_partitioned(self, df: DataFrame, table: str, partition_col: str) -> None:
        """Append with hive-style directory partitioning — the layout that
        makes incremental reads partition-prunable and retention a
        metadata-only operation at 100 TB."""
        df.write.mode("append").partitionBy(partition_col).parquet(self.path(table))

    def partition_values(self, table: str, partition_col: str) -> list[str | None]:
        """Partition values present on disk (None = the null partition)."""
        prefix = f"{partition_col}="
        out: list[str | None] = []
        root = self.path(table)
        if not os.path.isdir(root):
            return out
        for entry in os.listdir(root):
            if entry.startswith(prefix):
                value = entry[len(prefix):]
                out.append(None if value == "__HIVE_DEFAULT_PARTITION__" else value)
        return out

    def drop_partitions(self, table: str, partition_col: str, values: list[str | None]) -> None:
        """Remove whole partition directories — O(partitions) metadata work,
        no data rewrite (the scale-correct form of a partition-aligned
        DELETE)."""
        for value in values:
            dirname = f"{partition_col}={'__HIVE_DEFAULT_PARTITION__' if value is None else value}"
            shutil.rmtree(os.path.join(self.path(table), dirname), ignore_errors=True)

    def compact(
        self, spark: SparkSession, table: str, n_files: int
    ) -> dict[str, int]:
        """Rewrite a table into ``n_files`` parquet files — the maintenance
        job that pays down append creep. Append-only maintenance (the
        streaming signature refresh, ``ivf_append_vectors``, staging
        appends) adds a shuffle-width batch of small files per increment;
        left alone, the daily readers' scan task count grows with the
        number of increments ever landed, not with data size. Compaction
        restores file count ∝ data: one round-robin repartition (no key —
        pure size balancing, the cheapest shuffle there is) through the
        same atomic swap the merge sink uses, so readers never observe a
        half-compacted table and a crashed compaction leaves the previous
        layout readable. Returns {files_before, files_after, rows} — the
        O20 metrics convention. Row-preserving by construction
        (repartition is a pure exchange); the caller-visible contract is
        pinned in tests/test_standing_state.py."""
        before = self.file_count(table)
        df = self.read(spark, table)
        self.overwrite_atomic(df.repartition(n_files), table)
        return {
            "files_before": before,
            "files_after": self.file_count(table),
            "rows": self.read(spark, table).count(),
        }

    def file_count(self, table: str) -> int:
        """Data files currently backing a table (recursive — counts
        partitioned layouts too; excludes _SUCCESS/checksum bookkeeping)."""
        n = 0
        for _, _, files in os.walk(self.path(table)):
            n += sum(f.endswith(".parquet") for f in files)
        return n

    def rename(self, old: str, new: str) -> None:
        os.rename(self.path(old), self.path(new))

    def drop(self, table: str) -> None:
        shutil.rmtree(self.path(table), ignore_errors=True)


def migrate_legacy_staging(wh: Warehouse) -> bool:
    """Rename the legacy staging table if (and only if) the old exists and
    the new does not — the reference's exact guard (rqtradein_etl.py:30-34)."""
    if wh.exists(LEGACY_STAGING_TABLE) and not wh.exists(STAGING_TABLE):
        wh.rename(LEGACY_STAGING_TABLE, STAGING_TABLE)
        return True
    return False


def _is_flat(wh: Warehouse, table: str, partition_col: str) -> bool:
    """True if the table dir holds data files at the root (pre-partitioning
    layout) rather than hive partition subdirectories."""
    root = wh.path(table)
    entries = os.listdir(root) if os.path.isdir(root) else []
    has_data = any(e.endswith(".parquet") for e in entries)
    has_parts = any(e.startswith(f"{partition_col}=") for e in entries)
    return has_data and not has_parts


def upgrade_staging_layout(spark: SparkSession, wh: Warehouse) -> bool:
    """One-time layout migration: a legacy flat staging table is rewritten
    date-partitioned (mixed layouts break partition discovery)."""
    if not wh.exists(STAGING_TABLE) or not _is_flat(wh, STAGING_TABLE, STAGING_PARTITION_COL):
        return False
    from pyspark.sql import functions as F

    flat = spark.read.schema(STAGING_SCHEMA).parquet(wh.path(STAGING_TABLE))
    # Legacy rows may hold arbitrary strings — lenient cast (garbage → the
    # null partition), matching the engine-wide null-on-error policy.
    partitioned = flat.withColumn(
        STAGING_PARTITION_COL, F.expr("try_cast(TradeInDate AS DATE)")
    )
    tmp = wh.tmp_path(STAGING_TABLE)
    partitioned.write.mode("overwrite").partitionBy(STAGING_PARTITION_COL).parquet(tmp)
    wh.swap_in(tmp, STAGING_TABLE)
    return True


def ensure_tables(spark: SparkSession, wh: Warehouse) -> None:
    """Idempotent bootstrap: restore a table a crashed swap left missing,
    migrate the legacy name, upgrade a flat staging layout, then create
    any missing table as an empty Parquet dataset with the declared
    schema."""
    for table in (STAGING_TABLE, TARGET_TABLE):
        wh.restore_interrupted_swap(table)
    migrate_legacy_staging(wh)
    upgrade_staging_layout(spark, wh)
    # Deliberately NOT coalesce(1): wrapping the empty LocalRelation in a
    # coalesce defeats Spark's empty-plan fast path and was measured ~8x
    # SLOWER per bootstrap write (r11: 0.5 s bare vs 4.4 s coalesced on
    # local[32]) — the bare empty write is already metadata-cheap.
    if not wh.exists(STAGING_TABLE):
        empty = spark.createDataFrame([], STAGING_PARTITIONED_SCHEMA)
        empty.write.mode("overwrite").partitionBy(STAGING_PARTITION_COL).parquet(
            wh.path(STAGING_TABLE)
        )
    if not wh.exists(TARGET_TABLE):
        empty = spark.createDataFrame([], TARGET_SCHEMA)
        empty.write.mode("overwrite").parquet(wh.path(TARGET_TABLE))


def compact_table(
    spark: SparkSession,
    wh: Warehouse,
    table: str,
    target_files: int = 8,
    schema: T.StructType | None = None,
) -> int:
    """Small-file compaction: rewrite a table's data into ``target_files``
    files. Incremental appends — one file per batch per partition — degrade
    scan planning over time; at scale this runs as periodic maintenance.

    Hive-partitioned tables are compacted LAYOUT-PRESERVINGLY: the
    partition column is detected from the directory names, the rewrite is
    clustered by it, and the output keeps the same partitioning (a flat
    rewrite would break partition discovery and silently disable
    partition-based retention/pruning). Returns the file count after
    compaction.
    """
    part_col = None
    root = wh.path(table)
    for entry in os.listdir(root) if os.path.isdir(root) else []:
        if "=" in entry and os.path.isdir(os.path.join(root, entry)):
            part_col = entry.split("=", 1)[0]
            break

    df = wh.read(spark, table, schema)
    tmp = wh.tmp_path(table)
    if part_col is not None:
        # One writer task per hash-bucket of partitions → one file per
        # partition directory, layout unchanged.
        (
            df.repartition(target_files, part_col)
            .write.mode("overwrite")
            .partitionBy(part_col)
            .parquet(tmp)
        )
    else:
        df.coalesce(target_files).write.mode("overwrite").parquet(tmp)
    wh.swap_in(tmp, table)
    return wh.file_count(table)
