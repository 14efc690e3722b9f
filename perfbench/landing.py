"""Seeded trade-in landing generator and the independent expected-state oracle.

The generator renders the upstream API's records as JSON Lines landing
files: every raw field a string, absent fields omitted, timestamps in every
shape the pipeline's lenient parser accepts (plus ragged fractions, empty
and unparseable values). It keeps each row's *typed* truth beside the text,
so the oracle never parses what the program parses: it folds the typed rows
through the reference's semantics (append to staging, latest row per key by
``TradeInDate`` then ``TradeInTransactionID``, full-outer upsert, drop stale
staging dates but keep the NULL-date partition) and predicts the target,
the returned counts, and every report read.

Everything is a pure function of the seed: the same seed gives
byte-identical landing files.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

# The 41 fields the upstream API delivers (the 44 staging columns minus the
# three *EST shadows the pipeline derives).
RAW_COLUMNS = [
    "SaleInvoiceID", "TradeInTransactionID", "InvoiceIDByStore", "InvoiceID",
    "TradeInStatus", "ItemID", "ManufacturerModel", "SerialNumber",
    "StoreName", "RegionName", "TradeInDate", "PhoneRebateAmount",
    "PromotionValue", "PreDeviceValueAmount", "PrePromotionValueAmount",
    "TrackingNumber", "OriginalTradeInvoiceID", "OrderNumber",
    "CreditApplicationNum", "LocationCode", "MasterOrderNumber",
    "SequenceNumber", "PromoValue", "OrganicPrice", "ComputedPrice",
    "TradeInMobileNumber", "SubmissionId", "TradeInEquipMake",
    "TradeInEquipCarrier", "DeviceSku", "TradeInDeviceId", "LobType",
    "OrderType", "PurchaseDeviceId", "TradeInAmount", "AmountUsed",
    "AmountPending", "PromoCompletion", "PostTime", "ResponseTime",
    "MobileNumber",
]
MONEY_COLUMNS = [
    "PhoneRebateAmount", "PromotionValue", "PreDeviceValueAmount",
    "PrePromotionValueAmount", "PromoValue", "OrganicPrice", "ComputedPrice",
    "TradeInAmount", "AmountUsed", "AmountPending",
]

US_PER_S = 1_000_000
US_PER_DAY = 86_400 * US_PER_S

# Timestamp shapes. Each maps a true instant to its rendered text and to
# the instant a correct lenient parse recovers from that text.
ISO_T_FRAC_Z, ISO_T_Z, ISO_T, SPACE, SPACE_FRAC, RAGGED, DATE_ONLY, MINUTE = range(8)
EMPTY, GARBAGE, MISSING = 8, 9, 10
GARBAGE_VALUES = ["N/A", "unknown", "--", "pending"]

STORES = [f"Store {i:03d}" for i in range(1, 61)]
REGIONS = ["Northeast", "Southeast", "Midwest", "Southwest", "West", "Northwest"]
STATUSES = ["Submitted", "Received", "Completed", "Rejected"]
MAKES = ["Apple", "Samsung", "Google", "Motorola", "OnePlus"]
CARRIERS = ["Verizon", "AT&T", "T-Mobile", "Unlocked"]
MODELS = [f"{m} Model {n}" for m in MAKES for n in range(1, 9)]
LOB_TYPES = ["Consumer", "Business", "Government"]
ORDER_TYPES = ["InStore", "Online", "Phone"]


@dataclass(frozen=True)
class FeedShape:
    """Input properties the pipeline's behaviour depends on."""

    rows: int  # rows per landed batch
    redeliver_share: float = 0.0  # share re-delivering the previous day's keys
    dup_share: float = 0.0  # share duplicating a key earlier in the same batch
    null_key_share: float = 0.0  # share with SaleInvoiceID absent
    hot_key_share: float = 0.0  # share carrying one hot SaleInvoiceID
    empty_ts_share: float = 0.0  # TradeInDate present but empty
    garbage_ts_share: float = 0.0  # TradeInDate present but unparseable
    garbage_money_share: float = 0.0  # money fields that are not numbers
    dates: int = 1  # distinct event dates the batch spans
    shapes: tuple[int, ...] = (ISO_T_FRAC_Z, ISO_T_Z, ISO_T, SPACE, SPACE_FRAC, RAGGED)


@dataclass
class Batch:
    """One landed batch: its raw records and their typed truth."""

    records: list[dict]
    truth: pd.DataFrame  # key, txid, ts, store, amount (nullable Int64 / str)
    now_us: int  # the pipeline's injected "now" for this batch


def day_us(day: int, base: str) -> int:
    """Epoch microseconds of midnight UTC, ``day`` days after ``base``."""
    return int(pd.Timestamp(base).value // 1000) + day * US_PER_DAY


def render_timestamps(
    rng: np.random.Generator, micros: np.ndarray, shapes: np.ndarray
) -> tuple[list[str | None], np.ndarray]:
    """Render instants in the given shapes; return (texts, parsed).

    ``parsed`` is what a correct parse recovers (-1 where the value is
    empty, missing or unparseable — the caller applies the fallback)."""
    iso = np.datetime_as_string(micros.astype("datetime64[us]"), unit="us")
    ragged_digits = rng.choice([1, 2, 3, 4, 5, 7, 8, 9], size=len(micros))
    extra = rng.integers(0, 1000, size=len(micros))
    garbage = rng.integers(0, len(GARBAGE_VALUES), size=len(micros))
    texts: list[str | None] = []
    parsed = np.empty(len(micros), dtype=np.int64)
    for i, (s, shape, us) in enumerate(zip(iso, shapes, micros)):
        date, hms, frac = s[:10], s[11:19], s[20:26]
        sec = us - us % US_PER_S
        if shape == ISO_T_FRAC_Z:
            texts.append(f"{date}T{hms}.{frac}Z")
            parsed[i] = us
        elif shape == ISO_T_Z:
            texts.append(f"{date}T{hms}Z")
            parsed[i] = sec
        elif shape == ISO_T:
            texts.append(f"{date}T{hms}")
            parsed[i] = sec
        elif shape == SPACE:
            texts.append(f"{date} {hms}")
            parsed[i] = sec
        elif shape == SPACE_FRAC:
            texts.append(f"{date} {hms}.{frac}")
            parsed[i] = us
        elif shape == RAGGED:
            k = int(ragged_digits[i])
            kept = frac[: min(k, 6)]
            digits = kept + f"{extra[i]:03d}"[: max(k - 6, 0)]
            texts.append(f"{date}T{hms}.{digits}" + ("Z" if i % 2 else ""))
            parsed[i] = sec + int(kept.ljust(6, "0"))
        elif shape == DATE_ONLY:
            texts.append(date)
            parsed[i] = us - us % US_PER_DAY
        elif shape == MINUTE:
            texts.append(f"{date} {hms[:5]}")
            parsed[i] = us - us % (60 * US_PER_S)
        elif shape == EMPTY:
            texts.append("")
            parsed[i] = -1
        elif shape == GARBAGE:
            texts.append(GARBAGE_VALUES[garbage[i]])
            parsed[i] = -1
        else:
            texts.append(None)
            parsed[i] = -1
    return texts, parsed


def _money(rng: np.random.Generator, n: int, garbage_share: float):
    """(texts, cents) for a money column; garbage text casts to NULL."""
    cents = rng.integers(0, 150_000, size=n)
    bad = rng.random(n) < garbage_share
    texts = [
        "n/a" if b else f"{c // 100}.{c % 100:02d}" for c, b in zip(cents, bad)
    ]
    return texts, pd.Series(cents, dtype="Int64").mask(bad)


class TradeInFeed:
    """Deterministic trade-in feed: a history to seed the target with and a
    run of landed batches. ``next_key``/``next_txid`` advance across calls,
    so invoice ids increase over time and recent keys are the hot ones."""

    def __init__(self, seed: int, base_date: str):
        self.rng = np.random.default_rng(seed)
        self.base_date = base_date
        self.next_key = 1
        self.next_txid = 1
        self.hot_key: int | None = None

    def _new_keys(self, n: int) -> np.ndarray:
        keys = np.arange(self.next_key, self.next_key + n, dtype=np.int64)
        self.next_key += n
        return keys

    def _txids(self, n: int) -> np.ndarray:
        ids = np.arange(self.next_txid, self.next_txid + n, dtype=np.int64)
        self.next_txid += n
        return ids

    def history(self, rows: int, days: int) -> pd.DataFrame:
        """Typed rows of an already-merged target: one row per key, dates
        spread over the ``days`` before day 0 (the first batch's date)."""
        rng = self.rng
        keys = self._new_keys(rows)
        start = day_us(-days, self.base_date)
        ts = np.sort(rng.integers(start, day_us(0, self.base_date), size=rows))
        ts -= ts % US_PER_S
        _, amount = _money(rng, rows, 0.01)
        return pd.DataFrame(
            {
                "key": pd.array(keys, dtype="Int64"),
                "txid": pd.array(self._txids(rows), dtype="Int64"),
                "ts": pd.array(ts, dtype="Int64"),
                "store": np.array(STORES)[rng.integers(0, len(STORES), rows)],
                "amount": amount,
            }
        )

    def batch(
        self,
        shape: FeedShape,
        first_day: int,
        redeliver_from: np.ndarray | None = None,
    ) -> Batch:
        """Land one batch whose events fall on ``shape.dates`` dates ending
        at ``first_day + dates - 1``; "now" is 23:30 UTC of the last date."""
        rng = self.rng
        n = shape.rows
        last_day = first_day + shape.dates - 1
        now_us = day_us(last_day, self.base_date) + (23 * 3600 + 1800) * US_PER_S

        n_re = int(n * shape.redeliver_share) if redeliver_from is not None else 0
        n_re = min(n_re, len(redeliver_from) if redeliver_from is not None else 0)
        n_dup = int(n * shape.dup_share)
        n_new = n - n_re - n_dup
        keys = self._new_keys(n_new)
        if n_re:
            keys = np.concatenate([rng.choice(redeliver_from, n_re, replace=False), keys])
        if n_dup:
            keys = np.concatenate([keys, rng.choice(keys, n_dup)])
        keys = keys.astype(object)
        if shape.hot_key_share:
            if self.hot_key is None:
                self.hot_key = int(self._new_keys(1)[0])
            keys[rng.random(n) < shape.hot_key_share] = self.hot_key
        null_key = rng.random(n) < shape.null_key_share
        keys[null_key] = None
        order = rng.permutation(n)
        keys = keys[order]

        day = first_day + rng.integers(0, shape.dates, size=n)
        # Events happen before 23:00 UTC, so "now" (23:30) is always later.
        ts = day_us(0, self.base_date) + day * US_PER_DAY + rng.integers(0, 23 * 3600 * US_PER_S, n)
        ts_shape = np.asarray(shape.shapes)[rng.integers(0, len(shape.shapes), n)]
        u = rng.random(n)
        ts_shape[u < shape.empty_ts_share + shape.garbage_ts_share] = GARBAGE
        ts_shape[u < shape.empty_ts_share] = EMPTY
        ts_shape[u < shape.empty_ts_share / 4] = MISSING
        ts_text, ts_parsed = render_timestamps(rng, ts, ts_shape)
        ts_value = np.where(ts_shape == GARBAGE, now_us, ts_parsed)

        post_us = ts + rng.integers(0, 3600 * US_PER_S, n)
        post_text, _ = render_timestamps(rng, post_us, np.asarray(shape.shapes)[rng.integers(0, len(shape.shapes), n)])
        resp_text, _ = render_timestamps(rng, post_us + rng.integers(0, 600 * US_PER_S, n), np.full(n, SPACE_FRAC))

        txid = self._txids(n)
        store_idx = rng.integers(0, len(STORES), n)
        money = {c: _money(rng, n, shape.garbage_money_share) for c in MONEY_COLUMNS}
        cols: dict[str, list] = {
            "InvoiceIDByStore": [f"{STORES[s][-3:]}-{t}" for s, t in zip(store_idx, txid)],
            "InvoiceID": [f"INV{t:09d}" for t in txid],
            "TradeInStatus": [STATUSES[i] for i in rng.integers(0, len(STATUSES), n)],
            "ItemID": [str(i) if i % 97 else "x" for i in rng.integers(1, 10**6, n)],
            "ManufacturerModel": [MODELS[i] for i in rng.integers(0, len(MODELS), n)],
            "SerialNumber": [f"SN{i:012X}" for i in rng.integers(0, 2**40, n)],
            "StoreName": [STORES[s] for s in store_idx],
            "RegionName": [REGIONS[s % len(REGIONS)] for s in store_idx],
            "TrackingNumber": [f"1Z{i:016d}" for i in rng.integers(0, 10**15, n)],
            "OriginalTradeInvoiceID": [f"OT{i}" for i in rng.integers(0, 10**7, n)],
            "OrderNumber": [f"ORD{i:08d}" for i in rng.integers(0, 10**8, n)],
            "CreditApplicationNum": [f"CA{i}" for i in rng.integers(0, 10**6, n)],
            "LocationCode": [f"L{s:03d}" for s in store_idx],
            "MasterOrderNumber": [f"MO{i:08d}" for i in rng.integers(0, 10**8, n)],
            "SequenceNumber": [str(i) for i in rng.integers(1, 50, n)],
            "TradeInMobileNumber": [f"555{i:07d}" for i in rng.integers(0, 10**7, n)],
            "SubmissionId": [f"{i:016x}" for i in rng.integers(0, 2**62, n)],
            "TradeInEquipMake": [MAKES[i] for i in rng.integers(0, len(MAKES), n)],
            "TradeInEquipCarrier": [CARRIERS[i] for i in rng.integers(0, len(CARRIERS), n)],
            "DeviceSku": [f"SKU-{i:06d}" for i in rng.integers(0, 10**6, n)],
            "TradeInDeviceId": [f"IMEI{i:015d}" for i in rng.integers(0, 10**15, n)],
            "LobType": [LOB_TYPES[i] for i in rng.integers(0, len(LOB_TYPES), n)],
            "OrderType": [ORDER_TYPES[i] for i in rng.integers(0, len(ORDER_TYPES), n)],
            "PurchaseDeviceId": [f"PD{i:010d}" for i in rng.integers(0, 10**10, n)],
            "PromoCompletion": [("Y", "N")[i] for i in rng.integers(0, 2, n)],
            "MobileNumber": [f"555{i:07d}" for i in rng.integers(0, 10**7, n)],
            "PostTime": post_text,
            "ResponseTime": resp_text,
            "TradeInDate": ts_text,
        }
        for c, (texts, _) in money.items():
            cols[c] = texts
        records = []
        for i in range(n):
            rec = {}
            for c in RAW_COLUMNS:
                if c == "SaleInvoiceID":
                    v = None if keys[i] is None else str(keys[i])
                elif c == "TradeInTransactionID":
                    v = str(txid[i])
                else:
                    v = cols[c][i]
                if v is not None:
                    rec[c] = v
            records.append(rec)

        truth = pd.DataFrame(
            {
                "key": pd.array(list(keys), dtype="Int64"),
                "txid": pd.array(txid, dtype="Int64"),
                "ts": pd.array(np.where(ts_value < 0, 0, ts_value), dtype="Int64"),
                "store": np.array(STORES)[store_idx],
                "amount": money["TradeInAmount"][1],
            }
        )
        truth.loc[ts_value < 0, "ts"] = pd.NA
        return Batch(records, truth, now_us)


def write_jsonl(path: str, records: list[dict]) -> int:
    """Write records as JSON Lines; return the bytes written."""
    data = "".join(json.dumps(r, separators=(",", ":")) + "\n" for r in records).encode()
    tmp = path + ".tmp"
    with open(tmp, "wb") as fh:
        fh.write(data)
    os.replace(tmp, path)
    return len(data)


def est_wall_us(ts: pd.Series) -> pd.Series:
    """UTC instants (epoch µs) → US-Eastern wall time as epoch µs, whole
    seconds (what the pipeline's *EST shadow columns hold)."""
    valid = ts.notna()
    out = pd.Series(pd.NA, index=ts.index, dtype="Int64")
    if valid.any():
        wall = (
            pd.to_datetime(ts[valid].astype("int64"), unit="us", utc=True)
            .dt.tz_convert("America/New_York")
            .dt.tz_localize(None)
            .dt.floor("s")
        )
        out[valid] = wall.astype("datetime64[us]").astype("int64").to_numpy()
    return out


def _on_day(ts: pd.Series, day: int) -> pd.Series:
    """Boolean mask: instant falls on UTC ``day`` (NULL never does)."""
    return (ts.floordiv(US_PER_DAY) == day).fillna(False).astype(bool)


@dataclass
class ExpectedState:
    """Reference semantics of one warehouse, folded batch by batch."""

    target: pd.DataFrame = field(
        default_factory=lambda: pd.DataFrame(
            {
                "key": pd.array([], dtype="Int64"),
                "txid": pd.array([], dtype="Int64"),
                "ts": pd.array([], dtype="Int64"),
                "store": pd.Series([], dtype=object),
                "amount": pd.array([], dtype="Int64"),
            }
        )
    )
    staging: pd.DataFrame | None = None

    def seed(self, history: pd.DataFrame) -> None:
        self.target = history.copy()

    def apply(self, batch: Batch) -> dict[str, int]:
        """Stage, dedup, upsert and purge one batch; return the counts the
        pipeline must return and remember the new target."""
        frames = [f for f in (self.staging, batch.truth) if f is not None]
        staging = pd.concat(frames, ignore_index=True)
        deduped = staging.sort_values(
            ["key", "ts", "txid"], ascending=[True, False, False], na_position="last"
        ).drop_duplicates("key", keep="first")
        null_src = deduped[deduped["key"].isna()]
        src = deduped[deduped["key"].notna()]
        tgt_keys = self.target["key"]
        matched = src["key"].isin(tgt_keys[tgt_keys.notna()])
        counts = {
            "inserted": int(len(null_src) + (~matched).sum()),
            "updated": int(matched.sum()),
        }
        kept = self.target[~self.target["key"].isin(src["key"]) | self.target["key"].isna()]
        self.target = pd.concat([kept, src, null_src], ignore_index=True)
        today = batch.now_us // US_PER_DAY
        keep = staging["ts"].isna() | _on_day(staging["ts"], today)
        self.staging = staging[keep].reset_index(drop=True)
        return counts

    def snapshot(self) -> pd.DataFrame:
        """The target as comparable columns (ts_est derived from ts)."""
        out = self.target[["key", "txid", "ts", "store", "amount"]].copy()
        out["ts_est"] = est_wall_us(out["ts"])
        return out

    def point(self, keys: list[int]) -> set[tuple[int, int]]:
        t = self.target
        hit = t[t["key"].isin(keys)]
        return {(int(k), int(x)) for k, x in zip(hit["key"], hit["txid"])}

    def day_store(self, now_us: int) -> dict[str, tuple[int, int]]:
        t = self.target
        today = t[_on_day(t["ts"], now_us // US_PER_DAY)]
        g = today.groupby("store")["amount"]
        return {s: (int(c), int(a)) for s, c, a in zip(g.size().index, g.size(), g.sum())}

    def window(self, now_us: int, days: int = 7) -> tuple[int, int]:
        t = self.target
        hi = (now_us // US_PER_DAY + 1) * US_PER_DAY
        lo = hi - days * US_PER_DAY
        w = t[((t["ts"] >= lo) & (t["ts"] < hi)).fillna(False).astype(bool)]
        return int(len(w)), int(w["amount"].sum())
