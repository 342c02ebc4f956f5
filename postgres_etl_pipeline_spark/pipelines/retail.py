"""Retail dbt pipeline (SURVEY §3.2): seed → staging model → mart → tests.

The reference seeds a dirty source table (``retail_seed_dag.py:49-132``:
amount_cents is TEXT "to simulate bad-data issues"), builds a dbt staging
view with typed casts (``stg_transactions.sql:22-42``), a daily mart table
(``mart_daily_sales.sql:6-15``), then runs quality tests. Scenario branches
mutate either the seed DDL/DML or the model SQL (``stg_transactions.sql:
1-19`` Jinja), reproduced here as Python dispatch over DataFrame builders
(SURVEY §2.9: Jinja branching → if over builders).

Postgres error-parity (SURVEY §2.9): ANSI mode makes cast('oops') and x/0
raise like Postgres. The engine exposes both behaviors — strict (parity)
and tolerant (try_cast + quarantine counts).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import checks as C
from ..operators.relational import daily_sales_mart
from ..schemas import RETAIL_TRANSACTIONS_SRC_SCHEMA
from ..session import local_frame

SEED_ROWS = [
    # retail_seed_dag.py:105-113 — 3 clean rows
    ("t-1001", 1, "1299", 2, "2024-01-01 10:05:00"),
    ("t-1002", 1, "499", 1, "2024-01-01 11:20:00"),
    ("t-1003", 2, "2599", 3, "2024-01-02 09:45:00"),
]
BAD_ROW = ("t-9999", 3, "oops", 1, "2024-01-02 12:00:00")  # retail_seed_dag.py:87-94
LATE_ROWS = [
    # race_partial: issued after downstream starts (retail_seed_dag.py:117-132)
    ("t-2001", 2, "899", 1, "2024-01-03 08:15:00"),
    ("t-2002", 3, "1599", 2, "2024-01-03 10:40:00"),
]
# the seed rows' types; transaction_ts is parsed after the load
_SEED_DDL = (
    "transaction_id string, store_id long, amount_cents string, quantity long,"
    " transaction_ts string"
)


@dataclass
class RetailResult:
    scenario: str
    stg: DataFrame
    mart: DataFrame
    checks: list[C.CheckResult]


def seed_source(spark: SparkSession, scenario: str = "ok") -> DataFrame:
    """Seed ``retail_src.transactions_src`` with scenario mutations
    (``retail_seed_dag.py:32-132``)."""
    rows = list(SEED_ROWS)
    if scenario == "bad_data":
        rows.append(BAD_ROW)
    if scenario == "upstream_missing":
        rows = []
    df = local_frame(
        spark, rows, _SEED_DDL if rows else RETAIL_TRANSACTIONS_SRC_SCHEMA
    )
    df = df.withColumn("transaction_ts", F.to_timestamp("transaction_ts"))
    if scenario == "schema_drift":
        df = df.withColumnRenamed("quantity", "qty")  # retail_seed_dag.py:60-67
    return df


def late_rows(spark: SparkSession) -> DataFrame:
    df = local_frame(spark, LATE_ROWS, _SEED_DDL)
    return df.withColumn("transaction_ts", F.to_timestamp("transaction_ts"))


def stg_transactions(src: DataFrame, scenario: str = "ok", strict: bool = True) -> DataFrame:
    """The dbt staging model (``stg_transactions.sql:1-42``): typed
    projection with scenario branches.

    strict=True keeps ANSI semantics (cast('oops') raises — Postgres
    parity); strict=False is the quarantine path (try_cast → NULL, counted
    by the not_null gate).
    """
    if scenario == "syntax_bug":
        raise ValueError("syntax error at or near ','")  # stg_transactions.sql:14
    if scenario == "source_bug":
        raise LookupError("relation retail_src.transactions_sr does not exist")
    amount_col = "amount_cents"
    if scenario == "model_bug":
        amount_col = "amount_cents_typo"  # stg_transactions.sql:8 wrong column
        if amount_col not in src.columns:
            raise LookupError(f"column {amount_col} does not exist")
    amount = (
        F.col(amount_col).cast("int")
        if strict
        else F.col(amount_col).try_cast("int")
    )
    if scenario == "logic_bug":
        # stg_transactions.sql:30-32 injects amount/0; ANSI raises at
        # execution like Postgres. The correct form is nullif-guarded.
        amount = amount / F.lit(0)
    qty = F.col("quantity") if "quantity" in src.columns else F.col("qty")
    if scenario == "schema_drift" and "quantity" not in src.columns and strict:
        # Postgres parity: the model references `quantity`, which no longer
        # exists (dbt compile error). Tolerant mode coalesces instead (P6).
        raise LookupError("column quantity does not exist")
    return src.select(
        F.col("transaction_id").cast("string").alias("transaction_id"),
        F.col("store_id").cast("int").alias("store_id"),
        amount.alias("amount_cents"),
        qty.cast("int").alias("quantity"),
        F.col("transaction_ts").cast("timestamp").alias("transaction_ts"),
    )


def mart_daily_sales(stg: DataFrame) -> DataFrame:
    """``mart_daily_sales.sql:6-15`` — A1."""
    return daily_sales_mart(
        stg,
        ts_col="transaction_ts",
        amount_col="amount_cents",
        qty_col="quantity",
        group_extra=["store_id"],
    )


def quality_tests(mart: DataFrame) -> list[C.CheckResult]:
    """``dbt test``: not_null on all mart columns (``schema.yml:4-21``) +
    non-empty (``assert_non_empty_mart.sql``) — folded into ONE scan via
    the combined-gate combinator (dbt runs N tests as N queries; the
    engine pays one action)."""
    nn, ne = C.not_null_and_non_empty(
        mart, ["day", "store_id", "txns", "units", "gross_amount_cents"]
    )
    return [nn, ne]


def run(spark: SparkSession, scenario: str = "ok", strict: bool = True) -> RetailResult:
    """seed → model → mart → tests, with the scenario matrix from §5.1."""
    src = seed_source(spark, scenario)
    stg = stg_transactions(src, scenario, strict=strict)
    mart_plan = mart_daily_sales(stg)
    try:
        # Checkpoint once, gate on the materialized result: the caller's
        # subsequent collect replays the tiny cached mart instead of
        # re-running seed -> cast -> aggregate. (localCheckpoint executes
        # under AQE even with eager=False, hence inside the try.)
        mart = mart_plan.localCheckpoint(eager=False)
        results = quality_tests(mart)
    except Exception as e:  # noqa: BLE001 - model build failed at execution
        # dbt-run parity: the model errored during materialization (ANSI
        # cast / ÷0). Record it as a failed build check; the caller sees the
        # underlying Spark error when executing the (lazy) mart plan.
        mart = mart_plan
        results = [C.CheckResult("model_build", False, 1, [str(e)[:200]])]
    if scenario == "race_partial":
        # late producer lands after the mart was built: rebuild picks it up
        # (batch twin of the streaming watermark policy, SURVEY §2.8).
        # stg AND checks are recomputed too — the returned result must be
        # internally consistent (gates must have seen the returned mart)
        src2 = src.unionByName(late_rows(spark))
        stg = stg_transactions(src2, "ok", strict=strict)
        mart = mart_daily_sales(stg).localCheckpoint(eager=False)
        results = quality_tests(mart)
    return RetailResult(scenario=scenario, stg=stg, mart=mart, checks=results)
