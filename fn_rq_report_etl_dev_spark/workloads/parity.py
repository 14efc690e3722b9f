"""Reference-parity workloads — one oracle-checked query per operator in
SURVEY.md §2 (O3, O7-O12, O15-O19), exercised over the fixture corpus.

The flagship (``flagship_dedup_merge``) is the reference's relational core
(SURVEY.md §3.2): window dedup + keyed merge-upsert, with ``events`` playing
the staging feed. Everything is deterministic: injected "now" literals, a
unique tiebreaker in every window, no float arithmetic outside DECIMAL.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.timestamps import parse_timestamp_multi, utc_to_est, with_fallback_now
from ..operators.dedup import latest_per_key
from ..operators.merge import MERGE_ACTION, merge_upsert
from . import load, workload

# Events span 2024-01-01 .. 2024-01-30 at every sf; this splits them into an
# "already loaded" old batch and an "incoming" new batch.
CUTOFF = "2024-01-15 00:00:00"
EVENT_COLS = ["user_id", "event_id", "ts", "event_type", "value"]


def _dedup_latest_event(df: DataFrame) -> DataFrame:
    """Latest event per user, event_id as the deterministic tiebreaker —
    the O15 window dedup (rqtradein_etl.py:166-171 analog)."""
    return latest_per_key(df, ["user_id"], ["ts", "event_id"]).select(*EVENT_COLS)


_DEDUP_SQL = """
    SELECT user_id, event_id, ts, event_type, value
    FROM (
        SELECT *, row_number() OVER (
            PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        FROM events {where}
    ) WHERE rn = 1
"""


@workload(
    "flagship_dedup_merge",
    oracle=f"""
    WITH old_batch AS ({_DEDUP_SQL.format(where=f"WHERE ts < TIMESTAMP '{CUTOFF}'")}),
         new_batch AS ({_DEDUP_SQL.format(where=f"WHERE ts >= TIMESTAMP '{CUTOFF}'")})
    SELECT
        COALESCE(n.user_id, o.user_id) AS user_id,
        CASE WHEN n.user_id IS NOT NULL THEN n.event_id ELSE o.event_id END AS event_id,
        CASE WHEN n.user_id IS NOT NULL THEN n.ts ELSE o.ts END AS ts,
        CASE WHEN n.user_id IS NOT NULL THEN n.event_type ELSE o.event_type END AS event_type,
        CASE WHEN n.user_id IS NOT NULL THEN n.value ELSE o.value END AS value,
        CASE WHEN n.user_id IS NOT NULL AND o.user_id IS NOT NULL THEN 'update'
             WHEN n.user_id IS NOT NULL THEN 'insert'
             ELSE 'keep' END AS merge_action
    FROM old_batch o FULL OUTER JOIN new_batch n ON o.user_id = n.user_id
    """,
)
def flagship_dedup_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O15+O16+O14: dedup the incoming batch, merge-upsert into the target
    keyed on user_id, report the per-row merge action."""
    events = load(spark, sf_dir, "events")
    target = _dedup_latest_event(events.filter(F.col("ts") < F.lit(CUTOFF)))
    source = _dedup_latest_event(events.filter(F.col("ts") >= F.lit(CUTOFF)))
    merged = merge_upsert(target, source, "user_id", keep_action=True)
    return merged.withColumnRenamed(MERGE_ACTION, "merge_action")


@workload(
    "o15_window_dedup",
    oracle=_DEDUP_SQL.format(where=""),
)
def o15_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O15: top-1-per-key window dedup with deterministic tiebreak."""
    return _dedup_latest_event(load(spark, sf_dir, "events"))


@workload(
    "o3_incremental_window",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE ts >= (SELECT max(ts) FROM events) - INTERVAL 1 DAY
    """,
)
def o3_incremental_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: the incremental [max-1d, max] scan window — the reference's daily
    micro-batch parameterization as a predicate (partition-prunable on a
    date-partitioned table)."""
    events = load(spark, sf_dir, "events")
    max_ts = events.agg(F.max("ts").alias("max_ts"))
    return (
        events.crossJoin(F.broadcast(max_ts))
        .filter(F.col("ts") >= F.col("max_ts") - F.expr("INTERVAL 1 DAY"))
        .select("event_id", "ts", "user_id", "event_type", "value")
    )


@workload(
    "o7_fixed_projection",
    oracle="""
    SELECT event_id, event_type,
           CAST(NULL AS VARCHAR) AS missing_col,
           CAST(NULL AS BIGINT) AS missing_num
    FROM events
    """,
)
def o7_fixed_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O7: projection onto a fixed column contract — absent columns become
    typed NULLs (rqtradein_etl.py:338's row.get(col, None))."""
    return load(spark, sf_dir, "events").select(
        "event_id",
        "event_type",
        F.lit(None).cast("string").alias("missing_col"),
        F.lit(None).cast("bigint").alias("missing_num"),
    )


def _format_zoo(events: DataFrame) -> DataFrame:
    """Render ts as strings in the reference's five formats (+ garbage),
    chosen by event_id % 6 — the FIXTURES.md §4.4 timestamp zoo."""
    m = F.col("event_id") % 6
    raw = (
        F.when(m == 0, F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"))
        .when(m == 1, F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss'Z'"))
        .when(m == 2, F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss"))
        .when(m == 3, F.date_format("ts", "yyyy-MM-dd HH:mm:ss"))
        .when(m == 4, F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSS"))  # ragged 3-digit fraction
        .otherwise(F.concat(F.lit("not-a-timestamp-"), F.col("event_id")))
    )
    return events.withColumn("raw", raw)


@workload(
    "o8_multiformat_parse",
    # Oracle = ground truth derived from the original ts (what a correct
    # parse must recover), not a reimplementation of the parser.
    oracle="""
    SELECT event_id,
           CASE
             WHEN event_id % 6 = 0 THEN ts
             WHEN event_id % 6 IN (1, 2, 3) THEN date_trunc('second', ts)
             WHEN event_id % 6 = 4 THEN date_trunc('millisecond', ts)
             ELSE NULL
           END AS parsed
    FROM events
    """,
)
def o8_multiformat_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8+O9: lenient multi-format parse (incl. ragged fractional seconds
    and unparseable garbage → NULL) recovers the original instant."""
    zoo = _format_zoo(load(spark, sf_dir, "events"))
    return zoo.select(
        "event_id", parse_timestamp_multi(F.col("raw")).alias("parsed")
    )


@workload(
    "o10_fallback_now",
    oracle=f"""
    SELECT event_id,
           CASE
             WHEN event_id % 6 = 5 THEN TIMESTAMP '2024-06-01 00:00:00'
             WHEN event_id % 6 = 0 THEN ts
             WHEN event_id % 6 IN (1, 2, 3) THEN date_trunc('second', ts)
             ELSE date_trunc('millisecond', ts)
           END AS parsed
    FROM events
    """,
)
def o10_fallback_now(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O10: present-but-unparseable timestamps fall back to "now" (injected
    literal here; current_timestamp in production)."""
    zoo = _format_zoo(load(spark, sf_dir, "events"))
    now = F.to_timestamp(F.lit("2024-06-01 00:00:00"))
    parsed = with_fallback_now(parse_timestamp_multi(F.col("raw")), F.col("raw"), now)
    return zoo.select("event_id", parsed.alias("parsed"))


@workload(
    "o11_o12_est_derivation",
    oracle="""
    SELECT event_id, ts,
           date_trunc('second', timezone('America/New_York', timezone('UTC', ts))) AS ts_est,
           date_trunc('second', timezone('America/New_York', timezone('UTC', ts + INTERVAL 6 HOUR))) AS post_ts_est
    FROM events
    """,
)
def o11_o12_est_derivation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O11+O12: UTC→US-Eastern derived shadow columns at second precision
    (from_utc_timestamp ≙ pytz US/Eastern; DST-aware)."""
    events = load(spark, sf_dir, "events")
    return events.select(
        "event_id",
        "ts",
        utc_to_est(F.col("ts")).alias("ts_est"),
        utc_to_est(F.col("ts") + F.expr("INTERVAL 6 HOUR")).alias("post_ts_est"),
    )


@workload(
    "o17_lenient_cast",
    oracle="""
    SELECT event_id,
           TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_int,
           TRY_CAST(event_type AS BIGINT) AS bad_int,
           CASE WHEN abs(value) < 1e12
                THEN floor(value * 100) / 100 + 0.0 END AS value_2dp
    FROM events
    """,
)
def o17_lenient_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O17: lenient string→typed casts — garbage becomes NULL, the row
    survives (the reference's implicit VARCHAR coercion, made explicit).

    The 2-dp money normalization deliberately stays in pure IEEE-double math
    (``floor(value*100)/100``): a direct double→DECIMAL(18,2) cast rounds
    ties HALF_UP in Spark (BigDecimal on the shortest decimal repr) but in C
    double math in DuckDB, which diverges on values like 2.675 depending on
    engine build — the round-1 driver-red hash. Floor of a double product is
    bit-identical everywhere. Non-finite / out-of-money-range values
    (|value| >= 1e12 — beyond cents precision anyway) normalize to NULL:
    Spark's BIGINT floor saturates on them where DuckDB's DOUBLE floor
    propagates, and the trailing +0.0 folds DuckDB's floor(-0.0) = -0.0
    into the 0.0 Spark's integer floor produces (float-audit finding).
    """
    events = load(spark, sf_dir, "events")
    return events.select(
        "event_id",
        F.expr("try_cast(get_json_object(props, '$.k') AS BIGINT)").alias("k_int"),
        F.expr("try_cast(event_type AS BIGINT)").alias("bad_int"),
        F.when(
            F.abs(F.col("value")) < 1e12,
            F.floor(F.col("value") * 100).cast("double") / 100 + 0.0,
        ).alias("value_2dp"),
    )


@workload(
    "o18_filtered_count",
    oracle="""
    SELECT CAST(ts AS DATE) AS d,
           count(*) AS n_rows,
           count(DISTINCT user_id) AS n_users
    FROM events
    GROUP BY CAST(ts AS DATE)
    """,
)
def o18_filtered_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O18: date-bucketed audit counts — the intent of the reference's
    inserted/updated-today metrics (SURVEY.md §2 O18 quirk note)."""
    events = load(spark, sf_dir, "events")
    return events.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("user_id").alias("n_users"),
    )


@workload(
    "o19_retention_predicate",
    oracle="""
    SELECT event_id, ts, user_id
    FROM events
    WHERE CAST(ts AS DATE) = (SELECT max(CAST(ts AS DATE)) FROM events)
    """,
)
def o19_retention_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O19: staging retention — keep only rows whose date equals the current
    (here: latest) date; everything else is purged."""
    events = load(spark, sf_dir, "events")
    latest = events.agg(F.max(F.to_date("ts")).alias("latest_d"))
    return (
        events.crossJoin(F.broadcast(latest))
        .filter(F.to_date("ts") == F.col("latest_d"))
        .select("event_id", "ts", "user_id")
    )


@workload(
    "sql_api_flagship",
    oracle=f"""
    WITH old_batch AS ({_DEDUP_SQL.format(where=f"WHERE ts < TIMESTAMP '{CUTOFF}'")}),
         new_batch AS ({_DEDUP_SQL.format(where=f"WHERE ts >= TIMESTAMP '{CUTOFF}'")})
    SELECT
        COALESCE(n.user_id, o.user_id) AS user_id,
        CASE WHEN n.user_id IS NOT NULL THEN n.event_id ELSE o.event_id END AS event_id,
        CASE WHEN n.user_id IS NOT NULL THEN n.value ELSE o.value END AS value
    FROM old_batch o FULL OUTER JOIN new_batch n ON o.user_id = n.user_id
    """,
)
def sql_api_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship dedup+merge expressed through the SQL API (temp view +
    spark.sql) — Catalyst produces the same plan as the DataFrame form;
    this pins the engine's SQL entry point."""
    load(spark, sf_dir, "events").createOrReplaceTempView("events_v")
    dedup = """
        SELECT user_id, event_id, ts, value
        FROM (SELECT *, row_number() OVER (
                  PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
              FROM events_v {where})
        WHERE rn = 1
    """
    return spark.sql(f"""
        WITH old_batch AS ({dedup.format(where=f"WHERE ts < TIMESTAMP '{CUTOFF}'")}),
             new_batch AS ({dedup.format(where=f"WHERE ts >= TIMESTAMP '{CUTOFF}'")})
        SELECT
            COALESCE(n.user_id, o.user_id) AS user_id,
            CASE WHEN n.user_id IS NOT NULL THEN n.event_id ELSE o.event_id END AS event_id,
            CASE WHEN n.user_id IS NOT NULL THEN n.value ELSE o.value END AS value
        FROM old_batch o FULL OUTER JOIN new_batch n ON o.user_id = n.user_id
    """)


@workload(
    "incremental_agg_merge",
    oracle="""
    SELECT event_type, CAST(ts AS DATE) AS d,
           count(*) AS cnt,
           CAST(sum(CASE WHEN abs(value) < 1e12
                         THEN CAST(floor(value * 100) AS BIGINT) END)
                AS BIGINT) AS sum_cents,
           min(event_id) AS min_event_id,
           max(event_id) AS max_event_id
    FROM events
    GROUP BY event_type, CAST(ts AS DATE)
    """,
)
def incremental_agg_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: the running per-(type, day) summary
    (history before CUTOFF) combined with one batch's partial aggregates
    (operators/incremental.py) must equal the oracle's full recompute —
    without ever rescanning history. Money flows as floor-cents BIGINT
    (bit-exact in any engine); count/sum add, min/max fold."""
    from ..operators.incremental import merge_partial_aggregates

    events = load(spark, sf_dir, "events")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type", F.to_date("ts").alias("d")).agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(
                F.when(
                    F.abs(F.col("value")) < 1e12,
                    F.floor(F.col("value") * 100).cast("bigint"),
                )
            )
            .cast("bigint")
            .alias("sum_cents"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )

    running = partial(events.filter(F.col("ts") < F.lit(CUTOFF)))
    delta = partial(events.filter(F.col("ts") >= F.lit(CUTOFF)))
    return merge_partial_aggregates(
        running,
        delta,
        keys=["event_type", "d"],
        add_cols=["cnt", "sum_cents"],
        min_cols=["min_event_id"],
        max_cols=["max_event_id"],
    )


# Per-process generation roots for schema_evolution_union, keyed by sf_dir:
# created lazily via mkdtemp (private, unpredictable) and reused for the
# life of the process so repeated runs overwrite instead of accumulate.
_SCHEMA_EVO_DIRS: dict[str, str] = {}


@workload(
    "schema_evolution_union",
    oracle="""
    SELECT bucket,
           count(*) AS n_rows,
           count(o_totalprice) AS n_priced,
           count(o_orderpriority) AS n_prioritized,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
           CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_urgent
    FROM (
        SELECT o_orderkey, CAST(o_custkey % 10 AS BIGINT) AS bucket, o_totalprice,
               NULL AS o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 0
        UNION ALL
        SELECT o_orderkey, CAST(o_custkey % 10 AS BIGINT), NULL, o_orderpriority
        FROM orders WHERE o_orderkey % 2 = 1
    )
    GROUP BY bucket
    """,
)
def schema_evolution_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across table generations — the O6 schema-migration
    concern at file level, the shape every long-lived 100 TB table hits:
    old files lack columns added later, new files drop columns since
    retired. Two parquet generations are written (gen1: orderkey/custkey/
    totalprice; gen2 adds o_orderpriority, drops o_totalprice) and read
    back through ``mergeSchema`` — Spark's per-file schema reconciliation
    fills each generation's missing columns with NULL, which the
    aggregate then observes (count(col) skips NULLs). The oracle
    simulates the evolved read with an explicit padded UNION ALL, so the
    hash check proves mergeSchema's NULL-fill semantics exactly. At
    scale mergeSchema's footer-merge pass costs one distributed schema
    scan; production tables amortize it via catalog-declared schemas —
    the read semantics verified here are identical.

    The generations land at a per-process ``mkdtemp`` cached per sf_dir
    (ADVICE r04: a fixed, predictable name under the world-shared temp
    dir is both a multi-user collision and a pre-plant/symlink surface):
    repeated audit/bench runs in one process reuse two directories
    (mode=overwrite) instead of accumulating a fresh full copy of orders
    per invocation, while distinct processes get private 0700 roots.
    Concurrent invocations for the same sf_dir in ONE process would race
    on the path — the audits and the driver run queries serially."""
    import tempfile

    orders = load(spark, sf_dir, "orders")
    # NOT dict.setdefault(sf_dir, mkdtemp(...)): that evaluates mkdtemp
    # on EVERY call, leaking one orphaned temp dir per repeat invocation
    # (r05 review finding) — create only on first use.
    if sf_dir not in _SCHEMA_EVO_DIRS:
        _SCHEMA_EVO_DIRS[sf_dir] = tempfile.mkdtemp(prefix="rq_schema_evo_")
    root = _SCHEMA_EVO_DIRS[sf_dir]
    gen1, gen2 = f"{root}/gen1", f"{root}/gen2"
    orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_custkey", "o_totalprice"
    ).write.mode("overwrite").parquet(gen1)
    orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    ).write.mode("overwrite").parquet(gen2)
    evolved = spark.read.option("mergeSchema", "true").parquet(gen1, gen2)
    return (
        evolved.groupBy((F.col("o_custkey") % 10).cast("bigint").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count("o_totalprice").alias("n_priced"),
            F.count("o_orderpriority").alias("n_prioritized"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_price"),
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_urgent"),
        )
    )


# Join-IVM batch boundary on the ship date (mid-range for the TPC-H-ish
# generator's 1995-2001 span).
_JOIN_IVM_CUTOFF = "1998-01-01"


@workload(
    "incremental_join_view",
    oracle=f"""
    SELECT l.l_orderkey, l.l_linenumber,
           CAST(CASE WHEN abs(l.l_extendedprice) < 1e12
                     THEN CAST(floor(l.l_extendedprice * 100) AS BIGINT) END
                AS BIGINT) AS price_cents,
           o.o_custkey, CAST(o.o_orderdate AS DATE) AS o_orderdate,
           CASE WHEN l.l_shipdate < TIMESTAMP '{_JOIN_IVM_CUTOFF} 00:00:00'
                THEN 'history' ELSE 'delta' END AS batch
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
)
def incremental_join_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a materialized JOIN view (the join
    sibling of ``incremental_agg_merge``): for an insert-only fact delta,
    Δ(L ⋈ O) = ΔL ⋈ O — the maintained view is the stored history result
    UNION ALL the delta join, and the oracle proves it equals a full
    recompute. Only the delta leg runs per batch at scale (the history
    union is stored data; with both sides bucketed by the join key the
    delta join is also co-located).

    3VL seam pinned here: the delta predicate must be the NEGATION of the
    history predicate, not its mirror — ``l_shipdate >= cutoff`` silently
    DROPS NULL-shipdate rows that a full recompute keeps, so the delta
    filter is ``>= cutoff OR IS NULL`` (and the oracle's CASE puts NULL
    in 'delta' via ELSE). Money flows as guarded floor-cents BIGINT.
    """
    cutoff = F.lit(f"{_JOIN_IVM_CUTOFF} 00:00:00").cast("timestamp")
    lineitem = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")

    def leg(li: DataFrame, tag: str) -> DataFrame:
        return (
            li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
            .select(
                "l_orderkey",
                "l_linenumber",
                F.when(
                    F.abs(F.col("l_extendedprice")) < 1e12,
                    F.floor(F.col("l_extendedprice") * 100).cast("bigint"),
                )
                .cast("bigint")
                .alias("price_cents"),
                "o_custkey",
                F.to_date("o_orderdate").alias("o_orderdate"),
                F.lit(tag).alias("batch"),
            )
        )

    history = leg(lineitem.filter(F.col("l_shipdate") < cutoff), "history")
    delta = leg(
        lineitem.filter(
            (F.col("l_shipdate") >= cutoff) | F.col("l_shipdate").isNull()
        ),
        "delta",
    )
    return history.unionAll(delta)
