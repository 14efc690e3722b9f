"""Change-data-capture primitives: diff two keyed snapshots into an
insert/delete/update changelog.

The reference's daily re-scan + keyed MERGE (rqtradein_etl.py:160-192) is
an *apply*-side operator; ``snapshot_diff`` is its inverse — given
yesterday's and today's table states, emit the minimal change set. At
100 TB this is ONE full-outer join shuffled on the key (both sides
partial-aggregated nothing — scans stream), and the per-column comparison
is a null-safe expression, not a UDF.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

CDC_ACTION = "cdc_action"
CDC_CHANGED = "changed_columns"


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    key_cols: list[str],
    compare_cols: list[str],
) -> DataFrame:
    """Diff two snapshots by key: rows only in ``new`` → ``insert``, only
    in ``old`` → ``delete``, in both with any ``compare_cols`` differing
    (null-safe) → ``update`` (unchanged rows are omitted). Returns the
    keys, the action, the sorted list of changed columns, and the NEW
    values of the compared columns (NULL for deletes)."""
    o = old.select(
        *[F.col(c).alias(f"__o_{c}") for c in key_cols],
        *[F.col(c).alias(f"__ov_{c}") for c in compare_cols],
    )
    n = new.select(
        *[F.col(c).alias(f"__n_{c}") for c in key_cols],
        *[F.col(c).alias(f"__nv_{c}") for c in compare_cols],
    )
    cond = [F.col(f"__o_{c}") == F.col(f"__n_{c}") for c in key_cols]
    joined = o.join(n, cond, "full_outer")

    in_old = F.col(f"__o_{key_cols[0]}").isNotNull()
    in_new = F.col(f"__n_{key_cols[0]}").isNotNull()
    diffs = F.array_compact(
        F.array(
            *[
                F.when(
                    ~F.col(f"__ov_{c}").eqNullSafe(F.col(f"__nv_{c}")), F.lit(c)
                )
                for c in compare_cols
            ]
        )
    )
    action = (
        F.when(in_old & ~in_new, F.lit("delete"))
        .when(~in_old & in_new, F.lit("insert"))
        .when(F.size(diffs) > 0, F.lit("update"))
    )
    out = joined.select(
        *[
            F.coalesce(F.col(f"__n_{c}"), F.col(f"__o_{c}")).alias(c)
            for c in key_cols
        ],
        action.alias(CDC_ACTION),
        F.when(in_old & in_new, F.sort_array(diffs))
        .otherwise(F.array().cast("array<string>"))
        .alias(CDC_CHANGED),
        *[F.col(f"__nv_{c}").alias(f"new_{c}") for c in compare_cols],
    )
    return out.filter(F.col(CDC_ACTION).isNotNull())
