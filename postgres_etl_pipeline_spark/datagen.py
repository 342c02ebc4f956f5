"""Seeded POS-transaction generator + fault-injection variants.

Reproduces the reference's data source (SURVEY §2.1 S7, §3.3):
``mock_pos_api/app.py:15-36`` generates n transactions with
  sku ∈ 5 SKUs, qty ∈ [1,5], unit_price_cents ∈ {199,299,399,599,899},
  tender ∈ {cash,card,ebt}, customer_id present 60% of rows,
  store ∈ {SFO-001, NYC-014, AUS-002}, ISO-8601 UTC event_time
and injects scenario faults (``app.py:59-79``): temporal_error (70% fail),
schema_drift (txn[0] renames unit_price_cents→unit_price), malformed_json
(payload truncated to half).

Determinism deviations from the reference (documented, SURVEY §2.9 O7):
- seed uses zlib.crc32, not Python ``hash()`` (which is salted per process —
  the reference is only reproducible within one interpreter).
- event_time/txn_id come from the seeded rng, not wall clock / uuid4, so
  payloads are fully reproducible from (run_id, scenario, n).
"""

from __future__ import annotations

import json
import zlib
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone
from random import Random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .schemas import TXN_SCHEMA
from .session import local_frame

SKUS = ("SKU-APPLE", "SKU-MILK", "SKU-BREAD", "SKU-COFFEE", "SKU-RICE")
PRICES_CENTS = (199, 299, 399, 599, 899)
TENDERS = ("cash", "card", "ebt")
STORES = ("SFO-001", "NYC-014", "AUS-002")
EPOCH = datetime(2024, 1, 1, tzinfo=timezone.utc)

SCENARIOS = (
    "ok",
    "temporal_error",
    "malformed_json",
    "schema_drift",
    "partial_write",
)


class TemporalError(RuntimeError):
    """Stands in for the reference's HTTP 500 under ``temporal_error``
    (``app.py:59-65``) — deterministic 70% failure from the seeded rng."""


def stable_seed(run_id: str, scenario: str) -> int:
    """crc32-based twin of ``failure.py:24-27``'s
    ``abs(hash(f"{run_id}::{scenario}")) % 2**32`` (stable across processes)."""
    return zlib.crc32(f"{run_id}::{scenario}".encode()) % (2**32)


@dataclass(frozen=True)
class FailurePlan:
    """Deterministic failure injection for a run (``failure.py:11-27``)."""

    run_id: str
    scenario: str
    seed: int

    def rng(self) -> Random:
        return Random(self.seed)


def failure_plan(run_id: str, scenario: str = "ok") -> FailurePlan:
    return FailurePlan(run_id=run_id, scenario=scenario, seed=stable_seed(run_id, scenario))


def _txn(rng: Random, store_id: str) -> dict:
    """One transaction — field distributions from ``app.py:20-36``."""
    event_time = EPOCH + timedelta(seconds=rng.randint(0, 86_400 * 30))
    return {
        "ok": True,
        "event_time": event_time.isoformat(),
        "txn_id": f"{rng.getrandbits(64):016x}",
        "store_id": store_id,
        "sku": rng.choice(SKUS),
        "quantity": rng.randint(1, 5),
        "unit_price_cents": rng.choice(PRICES_CENTS),
        "tender_type": rng.choice(TENDERS),
        "customer_id": f"cust-{rng.getrandbits(48):012x}" if rng.random() < 0.6 else None,
    }


def transactions_payload(
    run_id: str, scenario: str = "ok", n: int = 40, store_id: str | None = None
) -> dict:
    """The parsed payload ``{ok, run_id, transactions:[...]}``
    (``app.py:77-81``). Raises :class:`TemporalError` under the 70% gate."""
    if not 1 <= n <= 200:
        raise ValueError("n must be in [1, 200]")  # app.py:44
    rng = failure_plan(run_id, scenario).rng()
    sid = store_id or rng.choice(STORES)
    if scenario == "temporal_error" and rng.random() < 0.7:
        raise TemporalError(f"upstream_unavailable run_id={run_id} retry_after_s=2")
    txns = [_txn(rng, sid) for _ in range(n)]
    if scenario == "schema_drift":
        t0 = dict(txns[0])
        t0["unit_price"] = t0.pop("unit_price_cents")  # app.py:69-73
        txns[0] = t0
    return {"ok": True, "run_id": run_id, "transactions": txns}


def transactions_raw_text(
    run_id: str, scenario: str = "ok", n: int = 40, store_id: str | None = None
) -> str:
    """Serialized payload, including the corrupt variants the engine's
    PERMISSIVE reader must survive (``app.py:75-79``; torn write
    ``io_utils.py:76-89`` has the same observable shape)."""
    payload = transactions_payload(run_id, scenario, n, store_id)
    raw = json.dumps(payload)
    if scenario == "malformed_json":
        # server-side truncation (app.py:75-79); partial_write is a FILE-
        # level fault injected by the torn-write sink, not the generator
        return raw[: max(1, len(raw) // 2)]
    return raw


def transactions_df(
    spark: SparkSession, run_id: str, scenario: str = "ok", n: int = 40
) -> DataFrame:
    """Payload as a typed DataFrame (driver-side build — n ≤ 200 by API
    contract, so this is a broadcast-sized input, never a scale concern)."""
    payload = transactions_payload(run_id, scenario, n)
    rows = [
        {k: v for k, v in txn.items() if k != "unit_price"}
        | {"unit_price_cents": txn.get("unit_price_cents", txn.get("unit_price"))}
        for txn in payload["transactions"]
    ]
    return local_frame(spark, rows, TXN_SCHEMA).withColumn(
        "run_id", F.lit(run_id)
    )


def transactions_df_distributed(
    spark: SparkSession, run_id: str, n: int, partitions: int | None = None
) -> DataFrame:
    """Scale-path generator: n synthetic transactions built EXECUTOR-side
    from ``spark.range`` + deterministic column expressions — no driver
    materialization, linear scaling to billions of rows.

    Distribution parity with ``app.py:20-36`` (same choice sets and
    probabilities); sequence parity with the rng-loop generator is NOT
    promised — each row's fields derive from sha2(run_id, i) instead of a
    shared sequential rng (which cannot be parallelized).
    """
    rng_base = F.sha2(F.concat_ws(":", F.lit(run_id), F.col("id")), 256)

    def pick(options: tuple, salt: str) -> F.Column:
        h = F.conv(F.substring(F.sha2(F.concat_ws(":", F.lit(run_id), F.col("id"), F.lit(salt)), 256), 1, 8), 16, 10)
        idx = (h.cast("long") % len(options)).cast("int")
        arr = F.array(*[F.lit(o) for o in options])
        return F.element_at(arr, idx + 1)

    df = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)
    qty_h = F.conv(F.substring(rng_base, 9, 8), 16, 10).cast("long")
    cust_h = F.conv(F.substring(rng_base, 17, 8), 16, 10).cast("long")
    ts_h = F.conv(F.substring(rng_base, 25, 8), 16, 10).cast("long")
    return df.select(
        F.lit(run_id).alias("run_id"),
        F.lit(True).alias("ok"),
        F.date_format(
            F.timestamp_seconds(F.lit(int(EPOCH.timestamp())) + ts_h % (86_400 * 30)),
            "yyyy-MM-dd'T'HH:mm:ssXXX",
        ).alias("event_time"),
        F.substring(rng_base, 33, 16).alias("txn_id"),
        pick(STORES, "store").alias("store_id"),
        pick(SKUS, "sku").alias("sku"),
        (qty_h % 5 + 1).cast("int").alias("quantity"),
        pick(PRICES_CENTS, "price").cast("int").alias("unit_price_cents"),
        pick(TENDERS, "tender").alias("tender_type"),
        F.when(
            cust_h % 10 < 6, F.concat(F.lit("cust-"), F.substring(rng_base, 49, 12))
        )
        .otherwise(F.lit(None))
        .alias("customer_id"),
    )


# Seed dimensions (reference sql/init.sql:47-61).
DIM_STORES_ROWS = [
    ("SFO-001", "Mission St Market", "WEST", "2019-05-01"),
    ("NYC-014", "Midtown Grocer", "EAST", "2020-09-15"),
    ("AUS-002", "Hill Country Foods", "CENTRAL", "2021-03-10"),
]
DIM_PRODUCTS_ROWS = [
    ("SKU-APPLE", "PRODUCE", "Fuji Apple", True),
    ("SKU-MILK", "DAIRY", "Whole Milk 1L", True),
    ("SKU-BREAD", "BAKERY", "Sourdough Loaf", True),
    ("SKU-COFFEE", "BEVERAGE", "Ground Coffee 340g", False),
    ("SKU-RICE", "PANTRY", "Jasmine Rice 2kg", False),
]


def dim_store(spark: SparkSession) -> DataFrame:
    df = local_frame(
        spark,
        DIM_STORES_ROWS,
        "store_id string, store_name string, region string, opened_date string",
    )
    return df.withColumn("opened_date", F.to_date("opened_date"))


def dim_product(spark: SparkSession) -> DataFrame:
    return local_frame(
        spark,
        DIM_PRODUCTS_ROWS,
        "sku string, category string, product_name string, is_perishable boolean",
    )
