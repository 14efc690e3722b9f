"""Lenient (null-on-error) cast layer for the staging→target boundary.

The reference relies on SQL Server's implicit VARCHAR→INT/DECIMAL/DATETIME
coercion inside its MERGE (``rqtradein_etl.py:165-184`` against the DDL at
``:98-146``). Spark 4 runs ANSI mode by default, where a bad cast throws —
so the engine uses ``try_cast`` explicitly: garbage input becomes NULL, the
row survives, matching the reference's lenient behavior (SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.timestamps import parse_timestamp_multi


def lenient_cast(col: Column, sql_type: str, fmt: str | None = None) -> Column:
    """try_cast to ``sql_type``; timestamps go through the multi-format
    lenient parser instead of the single-format ANSI cast.

    ``fmt`` is the pattern a timestamp column is known to be written in:
    values in that pattern take one exact parse and only the rest run the
    multi-format chain (``coalesce`` evaluates it only on NULL). The
    result is the chain's for every input — the chain tries the same
    pattern on the same string (pinned in tests/test_properties.py)."""
    if sql_type == "timestamp":
        s = col.cast("string")
        parsed = parse_timestamp_multi(s)
        return parsed if fmt is None else F.coalesce(F.try_to_timestamp(s, F.lit(fmt)), parsed)
    return col.cast("string").try_cast(sql_type)


def apply_type_map(
    df: DataFrame, type_map: dict[str, str], formats: dict[str, str] | None = None
) -> DataFrame:
    """Project ``df`` onto ``type_map``'s columns with lenient casts;
    ``formats`` gives timestamp columns' known patterns (``lenient_cast``).

    Columns absent from ``df`` become typed NULLs (the reference's
    ``row.get(col, None)`` projection contract, rqtradein_etl.py:338).
    """
    formats = formats or {}
    cols = []
    for name, sql_type in type_map.items():
        if name in df.columns:
            cols.append(lenient_cast(F.col(name), sql_type, formats.get(name)).alias(name))
        else:
            cols.append(F.lit(None).cast(sql_type).alias(name))
    return df.select(*cols)
