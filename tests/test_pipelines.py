"""Pipeline e2e + the reference's scenario fault matrix (SURVEY §5.1):
every scenario either commits correct output or fails with a typed error."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from postgres_etl_pipeline_spark import checks as C
from postgres_etl_pipeline_spark import datagen as G
from postgres_etl_pipeline_spark.pipelines import grocery, retail

# --- grocery chain (SURVEY §3.1) -------------------------------------------


def test_grocery_ok_end_to_end(spark, tmp_path):
    res = grocery.run(spark, str(tmp_path), "run-100", "ok")
    assert res.staged_rows == 40
    assert res.loaded_rows == 40
    mart = res.mart.collect()
    assert len(mart) > 0
    # mart carries the star-join dims (region from dim_store)
    assert {r.region for r in mart} <= {"WEST", "EAST", "CENTRAL"}
    # reconcile artifact written
    paths = grocery.RunPaths(str(tmp_path), "run-100")
    rec = json.loads(open(paths.reconcile).read())
    assert rec == {"run_id": "run-100", "ok": True, "stg_rows": 40}


def test_grocery_upsert_idempotent_rerun(spark, tmp_path):
    a = grocery.run(spark, str(tmp_path), "run-101", "ok")
    b = grocery.run(spark, str(tmp_path), "run-101", "ok")  # retry same run
    assert a.loaded_rows == b.loaded_rows == 40  # PK upsert, no dup rows


def test_grocery_two_runs_accumulate(spark, tmp_path):
    grocery.run(spark, str(tmp_path), "run-102", "ok")
    res = grocery.run(spark, str(tmp_path), "run-103", "ok")
    assert res.loaded_rows == 80  # both runs in the staging table


def test_grocery_malformed_json_quarantined(spark, tmp_path):
    with pytest.raises(C.DataContractError, match="unparseable"):
        grocery.run(spark, str(tmp_path), "run-104", "malformed_json")


def test_grocery_partial_write_detected(spark, tmp_path):
    with pytest.raises(C.DataContractError):
        grocery.run(spark, str(tmp_path), "run-105", "partial_write")


def test_grocery_schema_drift_tolerated(spark, tmp_path):
    # P6: coalesce(unit_price_cents, unit_price) resolves the rename —
    # the run SUCCEEDS (the reference's enrich/load crashed on KeyError;
    # our engine implements the correct semantics, SURVEY §0)
    res = grocery.run(spark, str(tmp_path), "run-106", "schema_drift")
    assert res.loaded_rows == 40


def test_grocery_temporal_error_raises(spark, tmp_path):
    # run ids chosen so the 70% gate trips (deterministic)
    tripped = False
    for i in range(10):
        try:
            grocery.run(spark, str(tmp_path), f"run-te-{i}", "temporal_error")
        except G.TemporalError:
            tripped = True
            break
    assert tripped


def test_grocery_canary_fails_small_run(spark, tmp_path):
    with pytest.raises(C.DataContractError, match="too_few_rows"):
        grocery.run(spark, str(tmp_path), "run-107", "ok", n=5)


# --- retail dbt chain (SURVEY §3.2) -----------------------------------------


def test_retail_ok(spark):
    res = retail.run(spark, "ok")
    rows = {(r.day.isoformat(), r.store_id): (r.txns, r.units, r.gross_amount_cents)
            for r in res.mart.collect()}
    assert rows == {
        ("2024-01-01", 1): (2, 3, 1798),
        ("2024-01-02", 2): (1, 3, 2599),
    }
    assert all(c.ok for c in res.checks)


def test_retail_bad_data_strict_raises_like_postgres(spark):
    res = retail.run(spark, "bad_data", strict=True)
    with pytest.raises(Exception, match="CAST_INVALID_INPUT|invalid input"):
        res.mart.collect()  # ANSI cast('oops' as int) raises at execution


def test_retail_bad_data_tolerant_quarantines(spark):
    res = retail.run(spark, "bad_data", strict=False)
    stg = res.stg.collect()
    assert sum(r.amount_cents is None for r in stg) == 1  # 'oops' → NULL
    nn = C.not_null(res.stg, ["amount_cents"])
    assert not nn.ok and nn.violations == 1


def test_retail_upstream_missing_fails_non_empty_gate(spark):
    res = retail.run(spark, "upstream_missing")
    assert any(not c.ok for c in res.checks)  # assert_non_empty_mart fires


def test_retail_schema_drift_strict_raises(spark):
    with pytest.raises(LookupError, match="quantity"):
        retail.run(spark, "schema_drift", strict=True)


def test_retail_schema_drift_tolerant_coalesces(spark):
    res = retail.run(spark, "schema_drift", strict=False)
    assert res.mart.count() == 2  # qty picked up via fallback


def test_retail_logic_bug_div_by_zero_raises(spark):
    res = retail.run(spark, "logic_bug")
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO|division by zero"):
        res.mart.collect()


@pytest.mark.parametrize("scenario,exc", [
    ("model_bug", LookupError),
    ("source_bug", LookupError),
    ("syntax_bug", ValueError),
])
def test_retail_model_errors(spark, scenario, exc):
    with pytest.raises(exc):
        retail.run(spark, scenario)


def test_retail_race_partial_late_rows_arrive(spark):
    res = retail.run(spark, "race_partial")
    mart = res.mart.collect()
    # seeds give (01-01,s1) + (01-02,s2); late rows add (01-03,s2) + (01-03,s3)
    assert len(mart) == 4
    assert {r.day.isoformat() for r in mart} == {"2024-01-01", "2024-01-02", "2024-01-03"}


def test_grocery_quarantine_mode_preserves_corrupt_payload(spark, tmp_path):
    # malformed_json truncates the whole payload doc: quarantine mode must
    # preserve it and keep going; the canary then fails the run with a
    # TYPED error — quarantine is about not losing data, not passing gates
    with pytest.raises(C.DataContractError, match="payload_shape|too_few_rows"):
        grocery.run(spark, str(tmp_path), "run-q1", "malformed_json", quarantine=True)
    qdir = grocery.RunPaths(str(tmp_path), "run-q1").quarantine
    import glob as _glob

    parts = sorted(_glob.glob(qdir + "/part-*"))
    quarantined = "".join(open(f).read() for f in parts)
    assert quarantined.startswith('{"ok": true')  # the truncated original
    assert len(quarantined) > 100


def test_grocery_quarantine_mode_clean_run_untouched(spark, tmp_path):
    import os as _os

    res = grocery.run(spark, str(tmp_path), "run-q2", "ok", quarantine=True)
    assert res.loaded_rows == 40
    assert not _os.path.exists(grocery.RunPaths(str(tmp_path), "run-q2").quarantine)


def test_quarantine_split_row_level(spark, tmp_path):
    from postgres_etl_pipeline_spark.connectors import sources

    p = tmp_path / "mixed.ndjson"
    p.write_text(
        '{"run_id": "r", "event_time": "2024-01-01T00:00:00Z", "txn_id": "a",'
        ' "store_id": "s", "sku": "k", "quantity": 1, "unit_price_cents": 199,'
        ' "tender_type": "cash", "customer_id": null}\n'
        "{this is not json\n"
        '{"run_id": "r", "event_time": "2024-01-01T00:00:01Z", "txn_id": "b",'
        ' "store_id": "s", "sku": "k", "quantity": 2, "unit_price_cents": 299,'
        ' "tender_type": "card", "customer_id": null}\n'
        "also-garbage\n"
    )
    from postgres_etl_pipeline_spark.schemas import STG_TRANSACTIONS_SCHEMA

    df = sources.read_ndjson(spark, str(p), STG_TRANSACTIONS_SCHEMA)
    good, bad = C.quarantine_split(df)
    assert {r.txn_id for r in good.collect()} == {"a", "b"}
    bad_texts = [r["_corrupt_record"] for r in bad.collect()]
    assert bad_texts == ["{this is not json", "also-garbage"]


def test_upsert_parquet_schema_mismatch_raises_not_destroys(spark, tmp_path):
    # regression: a blanket except used to treat ANY union/read failure as
    # "first write" and overwrite the target with only the incoming batch
    from postgres_etl_pipeline_spark.connectors.sinks import upsert_parquet

    target = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [("k1", 1, "a"), ("k2", 2, "b"), ("k3", 3, "c")], ["k", "seq", "v"]
    )
    upsert_parquet(spark, base, target, keys=["k"], order_by=[F.col("seq").desc()])
    assert spark.read.parquet(target).count() == 3

    drifted = spark.createDataFrame([("k4", 4)], ["k", "seq"])  # missing v
    with pytest.raises(Exception):
        upsert_parquet(spark, drifted, target, keys=["k"], order_by=[F.col("seq").desc()])
    # the target table survived untouched
    assert sorted(r.k for r in spark.read.parquet(target).collect()) == ["k1", "k2", "k3"]


def test_swap_read_back_uses_the_written_schema(spark, tmp_path, jobs_during):
    """The merged table is read back with the schema just written: the
    write is the swap's only job (no footer schema-inference job)."""
    from postgres_etl_pipeline_spark.connectors.sinks import _swap_into_place

    merged = spark.range(4).selectExpr("cast(id AS string) AS k", "id AS seq")
    target = str(tmp_path / "t")
    out = {}
    assert jobs_during(lambda: out.update(df=_swap_into_place(spark, merged, target, "t"))) == 1
    assert out["df"].schema == spark.read.parquet(target).schema
    assert sorted(r.k for r in out["df"].collect()) == ["0", "1", "2", "3"]

def test_transactions_df_driver_side_with_drift(spark):
    # S7 driver-side DataFrame build incl. the schema_drift merge branch
    df_ok = G.transactions_df(spark, "run-tdf", "ok", n=12)
    assert df_ok.count() == 12
    assert df_ok.filter(F.col("unit_price_cents").isNull()).count() == 0
    df_drift = G.transactions_df(spark, "run-tdf", "schema_drift", n=12)
    # the renamed field is merged back — no nulls, same schema
    assert df_drift.filter(F.col("unit_price_cents").isNull()).count() == 0
    assert df_drift.columns == df_ok.columns
