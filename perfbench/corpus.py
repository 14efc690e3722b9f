"""Seeded fixture corpus for the analytics mix and its DuckDB oracle.

Writes the ten tables the workload registry reads (a TPC-H-like star schema
plus ``events``, ``documents`` and ``embeddings``) as one parquet file each,
with the value domains the registered queries expect: order dates
1995-2001, events over January 2024, a 30-word document vocabulary with
planted near-duplicates, unit-norm 64-d embeddings. Row counts scale with
``sf`` like the TPC-H tables do.
"""

from __future__ import annotations

import hashlib
import math
import os
from datetime import date, datetime
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]
SEGMENTS = ["FURNITURE", "MACHINERY", "BUILDING", "HOUSEHOLD", "AUTOMOBILE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "PROMO", "LARGE", "MEDIUM", "STANDARD", "SMALL"]
ADJECTIVES = ["cold", "small", "large", "blue", "old", "new", "hot", "red"]
NOUNS = ["widget", "bolt", "rod", "anvil", "ring", "gear", "plate", "gizmo"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "en", "en", "zh", "es", "fr", "de"]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()

US_PER_DAY = 86_400 * 1_000_000


def _us(d: str) -> int:
    return int(np.datetime64(d, "us").astype(np.int64))


def _cents(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.integers(lo * 100, hi * 100, n) / 100.0, 2)


def _ts(micros: np.ndarray) -> pa.Array:
    return pa.array(micros.astype("datetime64[us]"), type=pa.timestamp("us"))


def generate(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the corpus; return rows per table."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_orders = max(1500, int(1_500_000 * sf))
    n_events = max(1000, int(1_000_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_emb = max(500, int(50_000 * sf))
    t: dict[str, pa.Table] = {}

    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, n_cust, -999, 9999),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, n_supp, -999, 9999),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{ADJECTIVES[a]} {NOUNS[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + np.arange(n_part) % 200 / 10.0,
    })

    first, last = _us("1995-01-01") // US_PER_DAY, _us("2001-08-01") // US_PER_DAY
    odate = rng.integers(first, last + 1, n_orders) * US_PER_DAY
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _cents(rng, n_orders, 1000, 500_000),
        "o_orderdate": _ts(odate),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    })

    lines = rng.integers(1, 8, n_orders)
    l_order = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n_li = len(l_order)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": l_order,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": (np.arange(n_li) - starts + 1).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _cents(rng, n_li, 900, 2100), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["N", "R", "A"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(odate[l_order] + rng.integers(1, 122, n_li) * US_PER_DAY),
    })

    ev_ts = np.sort(rng.integers(_us("2024-01-01"), _us("2024-01-31"), n_events))
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(ev_ts),
        "user_id": rng.integers(0, max(15, int(15_000 * sf)), n_events),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_events)],
        "value": np.round(rng.exponential(50.0, n_events), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })

    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(rng.integers(8, 100)))]
            texts.append(" ".join(words))
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n_docs)],
        "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })

    v = rng.standard_normal((n_emb, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })

    os.makedirs(out_dir, exist_ok=True)
    for name, table in t.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: table.num_rows for name, table in t.items()}


def _norm(v) -> str:
    """Engine-neutral value text (same rendering for Spark and DuckDB rows)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, (Decimal, datetime, date)):
        return v.isoformat() if not isinstance(v, Decimal) else str(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def fingerprint(rows, columns: list[str]) -> tuple[int, str]:
    """(row count, order-insensitive hash) of a result; columns are matched
    by lower-cased name so both engines' column order may differ."""
    names = [c.lower() for c in columns]
    order = sorted(range(len(names)), key=lambda i: names[i])
    canon = sorted(
        "|".join(_norm(row[i]) for i in order) for row in rows
    )
    h = hashlib.sha256(("|".join(sorted(names)) + "\n").encode())
    for line in canon:
        h.update(line.encode() + b"\n")
    return len(canon), h.hexdigest()


def oracle_fingerprints(corpus_dir: str, oracles: dict[str, str]) -> dict[str, list]:
    """Run each oracle SQL in DuckDB over the corpus; fingerprint results."""
    import duckdb

    con = duckdb.connect()
    try:
        for name in TABLES:
            path = os.path.join(corpus_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        out = {}
        for q, sql in oracles.items():
            res = con.execute(sql)
            cols = [d[0] for d in res.description]
            out[q] = list(fingerprint(res.fetchall(), cols))
        return out
    finally:
        con.close()


def json_bytes(corpus_dir: str) -> int:
    """Bytes of the corpus rendered as JSON Lines — the size it would land
    at from an API, the base of the stored-bytes ratio."""
    total = 0
    for name in TABLES:
        df = pq.read_table(os.path.join(corpus_dir, f"{name}.parquet")).to_pandas()
        total += len(df.to_json(orient="records", lines=True, date_format="iso").encode())
    return total
