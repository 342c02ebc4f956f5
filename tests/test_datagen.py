"""Seeded generator parity with the reference's distributions
(mock_pos_api/app.py:20-36) and determinism (failure.py:11-27)."""

from __future__ import annotations

import json

import pytest

from postgres_etl_pipeline_spark import datagen as G


def test_deterministic_per_run_and_scenario():
    a = G.transactions_payload("run-1", "ok", 40)
    b = G.transactions_payload("run-1", "ok", 40)
    c = G.transactions_payload("run-2", "ok", 40)
    assert a == b
    assert a != c


def test_field_domains():
    p = G.transactions_payload("run-7", "ok", 200)
    assert p["ok"] is True and p["run_id"] == "run-7"
    for t in p["transactions"]:
        assert t["sku"] in G.SKUS
        assert 1 <= t["quantity"] <= 5
        assert t["unit_price_cents"] in G.PRICES_CENTS
        assert t["tender_type"] in G.TENDERS
        assert t["store_id"] in G.STORES
    # customer_id present ~60% (app.py:35)
    frac = sum(t["customer_id"] is not None for t in p["transactions"]) / 200
    assert 0.45 < frac < 0.75


def test_n_bounds():
    with pytest.raises(ValueError):
        G.transactions_payload("r", "ok", 0)
    with pytest.raises(ValueError):
        G.transactions_payload("r", "ok", 201)


def test_schema_drift_renames_first_txn():
    p = G.transactions_payload("run-3", "schema_drift", 5)
    assert "unit_price" in p["transactions"][0]
    assert "unit_price_cents" not in p["transactions"][0]
    assert all("unit_price_cents" in t for t in p["transactions"][1:])


def test_malformed_json_truncated():
    raw = G.transactions_raw_text("run-4", "malformed_json", 10)
    with pytest.raises(json.JSONDecodeError):
        json.loads(raw)


def test_temporal_error_deterministic():
    # 70% of run_ids fail; a given run_id always behaves the same way
    outcomes = {}
    for i in range(30):
        rid = f"run-{i}"
        try:
            G.transactions_payload(rid, "temporal_error", 5)
            outcomes[rid] = "ok"
        except G.TemporalError:
            outcomes[rid] = "fail"
    fail_rate = sum(v == "fail" for v in outcomes.values()) / len(outcomes)
    assert 0.4 < fail_rate < 0.95
    for rid, expected in list(outcomes.items())[:5]:
        try:
            G.transactions_payload(rid, "temporal_error", 5)
            again = "ok"
        except G.TemporalError:
            again = "fail"
        assert again == expected


def test_distributed_generator_domains(spark):
    df = G.transactions_df_distributed(spark, "run-9", 1000)
    rows = df.collect()
    assert len(rows) == 1000
    skus = {r.sku for r in rows}
    assert skus <= set(G.SKUS) and len(skus) == 5
    assert {r.store_id for r in rows} <= set(G.STORES)
    assert all(1 <= r.quantity <= 5 for r in rows)
    frac = sum(r.customer_id is not None for r in rows) / 1000
    assert 0.5 < frac < 0.7
    # reproducible
    again = G.transactions_df_distributed(spark, "run-9", 1000).collect()
    assert sorted(rows) == sorted(again)


# --- custom PySpark DataSource (S1 scale path) ------------------------------


def _registered(spark):
    from postgres_etl_pipeline_spark.connectors.grocery_source import (
        GroceryTxnDataSource,
    )

    spark.dataSource.register(GroceryTxnDataSource)
    return spark


def test_datasource_partition_invariant_and_deterministic(spark):
    _registered(spark)

    def load(parts):
        return (
            spark.read.format("grocery_txns")
            .option("run_id", "r-ds")
            .option("n", "500")
            .option("partitions", str(parts))
            .load()
        )

    one = sorted(map(tuple, load(1).collect()))
    four = sorted(map(tuple, load(4).collect()))
    again = sorted(map(tuple, load(4).collect()))
    assert one == four == again
    assert len(one) == 500


def test_datasource_schema_and_distributions(spark):
    from postgres_etl_pipeline_spark.datagen import PRICES_CENTS, SKUS, TENDERS

    _registered(spark)
    df = (
        spark.read.format("grocery_txns")
        .option("run_id", "r-dist")
        .option("n", "2000")
        .option("partitions", "8")
        .load()
    )
    rows = df.collect()
    assert df.columns == [
        "run_id", "event_time", "txn_id", "store_id", "sku",
        "quantity", "unit_price_cents", "tender_type", "customer_id",
    ]
    assert {r.sku for r in rows} <= set(SKUS)
    assert {r.unit_price_cents for r in rows} <= set(PRICES_CENTS)
    assert {r.tender_type for r in rows} <= set(TENDERS)
    assert all(1 <= r.quantity <= 5 for r in rows)
    # ~60% customer_id presence (app.py:35)
    frac = sum(r.customer_id is not None for r in rows) / len(rows)
    assert 0.5 < frac < 0.7
    # txn_ids unique across the run
    assert len({r.txn_id for r in rows}) == len(rows)


def test_datasource_stream_runs_deterministic(spark, tmp_path):
    import time as _time

    _registered(spark)
    q = (
        spark.readStream.format("grocery_txns")
        .option("run_prefix", "sr")
        .option("n", "25")
        .option("max_runs", "3")
        .load()
        .writeStream.format("memory")
        .queryName("t_ds_stream")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = _time.time() + 120
        while _time.time() < deadline:
            if spark.table("t_ds_stream").count() >= 75:
                break
            _time.sleep(0.5)
    finally:
        q.stop()
    rows = spark.table("t_ds_stream").collect()
    by_run = {}
    for r in rows:
        by_run.setdefault(r.run_id, set()).add(tuple(r))
    assert set(by_run) == {"sr-0", "sr-1", "sr-2"}
    assert all(len(v) == 25 for v in by_run.values())
    # stream batch content == batch-source content for the same run_id
    batch = (
        spark.read.format("grocery_txns")
        .option("run_id", "sr-1")
        .option("n", "25")
        .option("partitions", "3")
        .load()
    )
    assert by_run["sr-1"] == {tuple(r) for r in batch.collect()}


def test_stream_drain_consumes_every_arrived_run(spark, tmp_path):
    """A drain consumes everything that has arrived: Spark runs a Python
    stream under availableNow as ONE micro-batch, so one run_upsert_sink
    call over a grocery_txns stream with max_runs=3 must land all three
    runs, and a later drain of the same checkpoint with one more run
    must add exactly that run."""
    from postgres_etl_pipeline_spark.streaming.runner import run_upsert_sink

    _registered(spark)
    target = str(tmp_path / "stg")

    def drain(max_runs):
        stream = (
            spark.readStream.format("grocery_txns")
            .option("run_prefix", "dr")
            .option("n", "50")
            .option("max_runs", str(max_runs))
            .load()
        )
        run_upsert_sink(
            stream, target, ["run_id", "txn_id"], ["event_time"],
            checkpoint=str(tmp_path / "ckpt"),
        )
        # an explicit checkpoint is kept: the keyed upsert is idempotent,
        # so the row counts alone would not notice a replay from scratch
        assert (tmp_path / "ckpt" / "offsets").is_dir()
        rows = spark.read.parquet(target).select("run_id").collect()
        return len(rows), {r.run_id for r in rows}

    assert drain(3) == (150, {"dr-0", "dr-1", "dr-2"})
    assert drain(4) == (200, {"dr-0", "dr-1", "dr-2", "dr-3"})


def test_bench_vs_prev_normalization_math(tmp_path, monkeypatch):
    """_vs_prev_normalized divides out box drift via the control ratio:
    with the box 2x slower (control 0.5 -> 1.0) and raw timings equal,
    every normalized ratio must read 0.5 (code got faster), the driver's
    'parsed' wrapper must unwrap, and incomparable artifacts (different
    control workload) must yield None."""
    import importlib.util
    import json as _json
    import os

    spec = importlib.util.spec_from_file_location(
        "bench", os.path.join(os.path.dirname(__file__), "..", "bench.py")
    )
    bench = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(bench)

    prev = {
        "parsed": {
            "queries": {"a": 1.0, "b": 2.0},
            "control_sec": 0.5,
            "control_workload": "synthetic-v1",
            "method": "warm-best-of-3",
        },
        "rc": 0,
    }
    art = tmp_path / "BENCH_r07.json"
    art.write_text(_json.dumps(prev))
    monkeypatch.setattr(
        bench.os.path, "dirname", lambda _p, _d=str(tmp_path): _d
    )
    out = bench._vs_prev_normalized({"a": 1.0, "b": 2.0}, 3.0, control=1.0)
    assert out["baseline_round"] == 7
    assert out["control_ratio"] == 2.0
    assert out["normalized_query_ratio"] == {"a": 0.5, "b": 0.5}
    assert out["normalized_total_ratio"] == 0.5

    # incomparable control workload -> absent, not wrong
    prev["parsed"]["control_workload"] = "synthetic-v2"
    art.write_text(_json.dumps(prev))
    assert bench._vs_prev_normalized({"a": 1.0}, 1.0, control=1.0) is None
