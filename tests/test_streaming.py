"""Structured Streaming semantics (SURVEY §2.8): multi-batch replays with
``maxFilesPerTrigger=1`` — watermark late-drop, dedup-within-watermark,
update-mode accumulation — complementing the drained-stream-vs-DuckDB
parity in test_queries_vs_duckdb.py (which is single-batch)."""

from __future__ import annotations

import json
import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from postgres_etl_pipeline_spark.streaming import (
    daily_mart_stream,
    dedup_within_watermark,
    run_to_memory,
    stateful_user_profile,
    stream_ndjson_txns,
    tumbling_counts,
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("ts", T.TimestampType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
    ]
)


def _write_ndjson(path: str, rows: list[dict], mtime_offset_s: int = 0) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    t = time.time() + mtime_offset_s
    os.utime(path, (t, t))


def _txn(run_id, txn_id, ts, qty=1, price=199, store="s-1"):
    return {
        "run_id": run_id,
        "event_time": ts,
        "txn_id": txn_id,
        "store_id": store,
        "sku": "SKU-1",
        "quantity": qty,
        "unit_price_cents": price,
        "tender_type": "cash",
        "customer_id": None,
    }


def _events_stream(spark, d, max_files=1):
    return (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", str(max_files))
        .json(str(d))
    )


def test_dedup_within_watermark_across_batches(spark, tmp_path):
    # at-least-once delivery: run-1's txn t-2 is redelivered in the second
    # micro-batch (reference retry + PK upsert, SURVEY §2.8)
    _write_ndjson(
        str(tmp_path / "a.ndjson"),
        [_txn("r1", "t-1", "2024-01-01T10:00:00Z"), _txn("r1", "t-2", "2024-01-01T10:05:00Z")],
        mtime_offset_s=-60,
    )
    _write_ndjson(
        str(tmp_path / "b.ndjson"),
        [_txn("r1", "t-2", "2024-01-01T10:05:00Z"), _txn("r1", "t-3", "2024-01-01T10:10:00Z")],
    )
    stream = stream_ndjson_txns(spark, str(tmp_path), max_files_per_trigger=1)
    deduped = dedup_within_watermark(
        stream, ["run_id", "txn_id"], "event_time", "10 minutes"
    )
    out = run_to_memory(deduped, "t_dedup_wm", "append")
    assert out.count() == 3
    assert {r.txn_id for r in out.select("txn_id").collect()} == {"t-1", "t-2", "t-3"}


def test_watermark_drops_late_event_in_append_mode(spark, tmp_path):
    # batch A: 09:05, 09:30, 10:45. batch B: 10:50 → watermark 10:35 is in
    # effect, so at B's end the (09:00,10:00] window is EVICTED and emitted
    # with n=2. batch C: LATE 09:50 — its window is already gone from
    # state, so the row is dropped (never re-emitted). A late row is only
    # dropped once its window left the state store: while the window is
    # still live, Spark merges late rows in — which is why B, not A, must
    # advance the watermark here.
    _write_ndjson(
        str(tmp_path / "a.ndjson"),
        [
            {"ts": "2024-01-01T09:05:00Z", "user_id": 1, "event_type": "view", "value": 1.0},
            {"ts": "2024-01-01T09:30:00Z", "user_id": 2, "event_type": "view", "value": 1.0},
            {"ts": "2024-01-01T10:45:00Z", "user_id": 3, "event_type": "view", "value": 1.0},
        ],
        mtime_offset_s=-120,
    )
    _write_ndjson(
        str(tmp_path / "b.ndjson"),
        [{"ts": "2024-01-01T10:50:00Z", "user_id": 4, "event_type": "view", "value": 1.0}],
        mtime_offset_s=-60,
    )
    _write_ndjson(
        str(tmp_path / "c.ndjson"),
        [{"ts": "2024-01-01T09:50:00Z", "user_id": 5, "event_type": "view", "value": 9.0}],
    )
    out = run_to_memory(
        tumbling_counts(_events_stream(spark, tmp_path), "1 hour", delay="10 minutes"),
        "t_late_drop",
        "append",
    )
    rows = {r.win_start: (r.n_events, r.total_value) for r in out.collect()}
    assert rows == {"2024-01-01 09:00:00": (2, 2.0)}


def test_tumbling_complete_mode_counts_everything(spark, tmp_path):
    # complete mode never drops state: same input as the append test, but
    # every window (including the late event's) is in the final table —
    # the documented late-data policy trade-off (SURVEY §2.8)
    _write_ndjson(
        str(tmp_path / "a.ndjson"),
        [
            {"ts": "2024-01-01T09:05:00Z", "user_id": 1, "event_type": "view", "value": 1.0},
            {"ts": "2024-01-01T10:45:00Z", "user_id": 3, "event_type": "view", "value": 1.0},
        ],
        mtime_offset_s=-60,
    )
    _write_ndjson(
        str(tmp_path / "b.ndjson"),
        [{"ts": "2024-01-01T09:50:00Z", "user_id": 5, "event_type": "view", "value": 9.0}],
    )
    out = run_to_memory(
        tumbling_counts(_events_stream(spark, tmp_path), "1 hour", delay="10 minutes"),
        "t_complete_all",
        "complete",
    )
    rows = {r.win_start: r.n_events for r in out.collect()}
    # NOTE: state for a window already past the watermark is evicted, so the
    # late 09:50 row opens a FRESH (09:00,10:00] entry — counted, but not
    # merged with the evicted one. Document-by-test.
    assert rows["2024-01-01 10:00:00"] == 1
    assert "2024-01-01 09:00:00" in rows


def test_daily_mart_stream_matches_batch(spark, tmp_path):
    runs = [
        [_txn("r1", f"t-{i}", f"2024-01-0{1 + i % 2}T10:00:00Z", qty=i + 1) for i in range(4)],
        [_txn("r2", f"u-{i}", "2024-01-02T12:00:00Z", qty=2, store="s-2") for i in range(3)],
    ]
    _write_ndjson(str(tmp_path / "a.ndjson"), runs[0], mtime_offset_s=-60)
    _write_ndjson(str(tmp_path / "b.ndjson"), runs[1])
    stream = stream_ndjson_txns(spark, str(tmp_path), max_files_per_trigger=1)
    out = run_to_memory(daily_mart_stream(stream, "event_time"), "t_mart", "complete")
    batch = (
        spark.read.schema(stream.schema).json(str(tmp_path))
        .groupBy(F.to_date(F.date_trunc("day", "event_time")).cast("string").alias("day"), "store_id")
        .agg(
            F.count(F.lit(1)).alias("txns"),
            F.sum("quantity").cast("long").alias("units"),
            F.sum(F.col("quantity").cast("long") * F.col("unit_price_cents")).alias(
                "gross_amount_cents"
            ),
        )
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))


def test_stateful_user_totals_accumulates_across_batches(spark, tmp_path):
    _write_ndjson(
        str(tmp_path / "a.ndjson"),
        [
            {"ts": "2024-01-01T09:00:00Z", "user_id": 1, "event_type": "view", "value": 2.5},
            {"ts": "2024-01-01T09:01:00Z", "user_id": 1, "event_type": "view", "value": 1.5},
            {"ts": "2024-01-01T09:02:00Z", "user_id": 2, "event_type": "view", "value": 1.0},
        ],
        mtime_offset_s=-60,
    )
    _write_ndjson(
        str(tmp_path / "b.ndjson"),
        [{"ts": "2024-01-01T09:10:00Z", "user_id": 1, "event_type": "view", "value": 6.0}],
    )
    ev = _events_stream(spark, tmp_path).select("user_id", "event_type", "value")
    res = run_to_memory(stateful_user_profile(ev), "t_stateful", "update").select(
        "user_id", "n_events", "total_value"
    )
    # update mode emitted user 1 twice (n=2 then n=3); the running total is
    # the max-n emission per user
    emissions = [tuple(r) for r in res.filter("user_id = 1").collect()]
    assert (1, 2, 4.0) in emissions and (1, 3, 10.0) in emissions
    final = {
        (r.user_id): (r.n_events, r.total_value)
        for r in res.groupBy("user_id")
        .agg(F.max_by(F.struct("n_events", "total_value"), "n_events").alias("s"))
        .select("user_id", "s.n_events", "s.total_value")
        .collect()
    }
    assert final == {1: (3, 10.0), 2: (1, 1.0)}


def test_foreach_batch_upsert_effectively_once(spark, tmp_path):
    # K5 production shape: file-source stream → foreachBatch keyed upsert.
    # Batch 2 redelivers t-2 with a LATER inserted_at and a different qty —
    # last-write-wins must keep the redelivered version, once.
    from postgres_etl_pipeline_spark.streaming.runner import run_upsert_sink

    a = [_txn("r1", "t-1", "2024-01-01T10:00:00Z", qty=1),
         _txn("r1", "t-2", "2024-01-01T10:05:00Z", qty=2)]
    b = [dict(_txn("r1", "t-2", "2024-01-01T10:05:00Z", qty=9)),
         _txn("r1", "t-3", "2024-01-01T10:10:00Z", qty=3)]
    src = tmp_path / "src"
    src.mkdir()
    _write_ndjson(str(src / "a.ndjson"), a, mtime_offset_s=-60)
    _write_ndjson(str(src / "b.ndjson"), b)
    target = str(tmp_path / "stg_table")

    stream = stream_ndjson_txns(spark, str(src), max_files_per_trigger=1)
    stream = stream.withColumn("inserted_at", F.current_timestamp())
    run_upsert_sink(
        stream, target, keys=["run_id", "txn_id"], order_by=["inserted_at"],
        checkpoint=str(tmp_path / "ckpt1"),
    )
    got = {r.txn_id: r.quantity for r in spark.read.parquet(target).collect()}
    assert got == {"t-1": 1, "t-2": 9, "t-3": 3}

    # replay the whole stream from a FRESH checkpoint (simulates a restart
    # that lost its progress): keyed merge makes it a no-op, not duplicates
    stream2 = stream_ndjson_txns(spark, str(src), max_files_per_trigger=1)
    stream2 = stream2.withColumn("inserted_at", F.current_timestamp())
    run_upsert_sink(
        stream2, target, keys=["run_id", "txn_id"], order_by=["inserted_at"],
        checkpoint=str(tmp_path / "ckpt2"),
    )
    again = spark.read.parquet(target)
    assert again.count() == 3
    assert {r.txn_id: r.quantity for r in again.collect()} == {"t-1": 1, "t-2": 9, "t-3": 3}


def test_stream_stream_left_outer_join_emits_nulls_after_watermark(spark, tmp_path):
    # c1(u1,10:00) matches v1(u1,09:50); c2(u2,10:05) has no view and must
    # be emitted with NULL only after the watermark proves no matching view
    # can still arrive (v_ts <= c_ts bound + 10m delay). Batches B and C
    # advance event time to push the watermark past that point.
    _write_ndjson(
        str(tmp_path / "a.ndjson"),
        [
            {"ts": "2024-01-01T09:50:00Z", "user_id": 1, "event_type": "view", "value": 1.0},
            {"ts": "2024-01-01T10:00:00Z", "user_id": 1, "event_type": "click", "value": 1.0},
            {"ts": "2024-01-01T10:05:00Z", "user_id": 2, "event_type": "click", "value": 1.0},
        ],
        mtime_offset_s=-120,
    )
    # the join's watermark is the MIN over both inputs — later batches must
    # advance BOTH the click and view sides or eviction never happens
    _write_ndjson(
        str(tmp_path / "b.ndjson"),
        [
            {"ts": "2024-01-01T11:00:00Z", "user_id": 9, "event_type": "view", "value": 1.0},
            {"ts": "2024-01-01T11:00:00Z", "user_id": 9, "event_type": "click", "value": 1.0},
        ],
        mtime_offset_s=-60,
    )
    _write_ndjson(
        str(tmp_path / "c.ndjson"),
        [
            {"ts": "2024-01-01T12:00:00Z", "user_id": 9, "event_type": "view", "value": 1.0},
            {"ts": "2024-01-01T12:00:00Z", "user_id": 9, "event_type": "click", "value": 1.0},
        ],
    )
    ev = _events_stream(spark, tmp_path)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("ts").alias("c_ts"), F.col("user_id").alias("c_user"))
        .withWatermark("c_ts", "10 minutes")
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(F.col("ts").alias("v_ts"), F.col("user_id").alias("v_user"))
        .withWatermark("v_ts", "10 minutes")
    )
    joined = clicks.join(
        views,
        (F.col("c_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("c_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("v_ts") <= F.col("c_ts")),
        "left_outer",
    ).select(
        "c_user",
        F.date_format("c_ts", "HH:mm").alias("click_t"),
        F.date_format("v_ts", "HH:mm").alias("view_t"),
    )
    out = run_to_memory(joined, "t_ss_outer", "append")
    rows = {(r.c_user, r.click_t, r.view_t) for r in out.collect()}
    assert {(1, "10:00", "09:50"), (2, "10:05", None)} <= rows
    # the u9 helper pairs match themselves; no spurious extra rows
    assert rows - {(1, "10:00", "09:50"), (2, "10:05", None)} == {
        (9, "11:00", "11:00"), (9, "12:00", "12:00"),
    }


def test_checkpoint_resume_no_duplicates(spark, tmp_path):
    # kill a stream after its first micro-batch, restart from the SAME
    # checkpoint into a FILE sink (exactly-once via its transaction log):
    # the source resumes at the uncommitted file and the final table holds
    # exactly one copy of every row — the restart-safety the reference's
    # retry + upsert approximates (SURVEY §2.8)
    import time as _time

    src = tmp_path / "src"
    src.mkdir()
    _write_ndjson(
        str(src / "a.ndjson"),
        [_txn("r1", f"a-{i}", "2024-01-01T10:00:00Z") for i in range(5)],
        mtime_offset_s=-60,
    )
    _write_ndjson(
        str(src / "b.ndjson"),
        [_txn("r1", f"b-{i}", "2024-01-01T10:05:00Z") for i in range(5)],
    )
    ckpt = str(tmp_path / "ckpt")
    out_dir = str(tmp_path / "out")

    def start_query():
        return (
            stream_ndjson_txns(spark, str(src), max_files_per_trigger=1)
            .select("run_id", "txn_id")
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )

    q1 = start_query()
    deadline = _time.time() + 60
    while _time.time() < deadline:
        try:
            if spark.read.parquet(out_dir).count() >= 5:
                break
        except Exception:
            pass
        _time.sleep(0.2)
    q1.stop()  # killed mid-stream

    q2 = start_query()
    deadline = _time.time() + 60
    while _time.time() < deadline and spark.read.parquet(out_dir).count() < 10:
        _time.sleep(0.2)
    q2.stop()

    rows = [r.txn_id for r in spark.read.parquet(out_dir).collect()]
    assert sorted(rows) == sorted(
        [f"a-{i}" for i in range(5)] + [f"b-{i}" for i in range(5)]
    )  # every row exactly once, across the kill/restart boundary


def test_dedup_bounded_state_evicts_and_reemits(spark, tmp_path):
    """dropDuplicatesWithinWatermark semantics, documented-by-test:

    batch A: t-1 @10:00 → emitted (first sighting; state expiry 10:10).
    batch B: t-1 @10:05 (redelivery inside the horizon) → DROPPED, and the
             drop REFRESHES the expiry to 10:15; t-9 @10:30 moves the
             watermark to 10:20 for the next batch.
    batch C: filler t-8 @10:35 — runs under watermark 10:20 > 10:15, so
             t-1's state is evicted during this batch's cleanup (eviction
             lags: it needs a batch where the key does NOT reappear).
    batch D: t-1 @10:35 (late redelivery, fresh ingest ts) → RE-EMITTED —
             the price of bounded state; the keyed-upsert sink absorbs it.

    Plain dropDuplicates would keep t-1's state forever and emit it once —
    correct, but state = all keys ever seen (unusable on endless streams).
    """
    from postgres_etl_pipeline_spark.streaming.jobs import dedup_bounded_state
    from postgres_etl_pipeline_spark.streaming.runner import run_to_memory
    from postgres_etl_pipeline_spark.streaming.sources import stream_ndjson_txns

    _write_ndjson(
        str(tmp_path / "a.ndjson"),
        [_txn("r1", "t-1", "2024-01-01T10:00:00Z")],
        mtime_offset_s=-180,
    )
    _write_ndjson(
        str(tmp_path / "b.ndjson"),
        [
            _txn("r1", "t-1", "2024-01-01T10:05:00Z"),
            _txn("r1", "t-9", "2024-01-01T10:30:00Z"),
        ],
        mtime_offset_s=-120,
    )
    _write_ndjson(
        str(tmp_path / "c.ndjson"),
        [_txn("r1", "t-8", "2024-01-01T10:35:00Z")],
        mtime_offset_s=-60,
    )
    _write_ndjson(
        str(tmp_path / "d.ndjson"),
        [_txn("r1", "t-1", "2024-01-01T10:35:00Z")],
    )
    stream = stream_ndjson_txns(spark, str(tmp_path), max_files_per_trigger=1)
    deduped = dedup_bounded_state(
        stream, ["run_id", "txn_id"], "event_time", "10 minutes"
    )
    out = run_to_memory(deduped, "t_dedup_bounded", "append")
    t1_emissions = out.filter(F.col("txn_id") == "t-1").count()
    assert t1_emissions == 2, "evicted key re-emits on late redelivery"
    # t-1 ×2 + t-9 + t-8; the in-horizon duplicate was dropped
    assert out.count() == 4


def test_stateful_ops_run_on_rocksdb_state_store(spark, tmp_path):
    """SCALE.md prescribes the RocksDB state store for production
    streaming (per-key state off-heap, incremental checkpoints) — prove
    the engine's stateful ops actually run under that provider and give
    identical results to the default HDFS-backed store."""
    from postgres_etl_pipeline_spark.session import scoped_conf
    from postgres_etl_pipeline_spark.streaming import jobs
    from postgres_etl_pipeline_spark.streaming.runner import run_to_memory
    from postgres_etl_pipeline_spark.streaming.sources import stream_ndjson_txns

    _write_ndjson(
        str(tmp_path / "a.ndjson"),
        [
            _txn("r1", "t-1", "2024-01-01T10:00:00Z", qty=2),
            _txn("r1", "t-2", "2024-01-01T11:00:00Z", qty=3),
            _txn("r2", "t-3", "2024-01-02T09:00:00Z", qty=1),
        ],
    )

    def drain(qname):
        stream = stream_ndjson_txns(spark, str(tmp_path))
        out = jobs.daily_mart_stream(stream)
        res = run_to_memory(out, qname, "complete", state_partitions=4)
        return sorted(map(tuple, res.collect()))

    base = drain("rocksdb_base")
    with scoped_conf(spark, jobs.TWS_PROVIDER_CONF):  # the RocksDB provider
        rocks = drain("rocksdb_store")
    assert rocks == base and len(rocks) == 2


def test_stream_stream_left_outer_emits_nulls_after_watermark_expiry(
    spark, tmp_path
):
    """LEFT OUTER stream-stream join semantics (the capability beyond the
    catalog's inner interval join): an unmatched left row emits with NULL
    right columns only once the watermark proves no future match can
    arrive; until then it waits in state. Documented-by-test: user 1's
    click matches a view, user 2's click has no view and must surface as
    a null-view row after a later batch advances the watermark."""
    _write_ndjson(
        str(tmp_path / "a.ndjson"),
        [
            {"ts": "2024-01-01T09:50:00Z", "user_id": 1, "event_type": "view", "value": 1.0},
            {"ts": "2024-01-01T10:00:00Z", "user_id": 1, "event_type": "click", "value": 1.0},
            {"ts": "2024-01-01T10:00:00Z", "user_id": 2, "event_type": "click", "value": 1.0},
        ],
        mtime_offset_s=-60,
    )
    # later files must advance BOTH branch watermarks (each withWatermark
    # tracks its own branch's max event time, and the global watermark is
    # their MIN — views alone would leave the click watermark stuck at
    # 10:00 and nothing would ever expire). Each advancing click brings
    # its own matching view so it adds no pending null of its own. TWO
    # advancing batches because append-mode outer results emit one batch
    # AFTER the watermark proves expiry — with availableNow there is no
    # trailing no-data batch, so the eviction must land inside a data
    # batch (the one-batch delay Spark documents for outer joins).
    _write_ndjson(
        str(tmp_path / "b.ndjson"),
        [
            {"ts": "2024-01-01T12:55:00Z", "user_id": 9, "event_type": "view", "value": 1.0},
            {"ts": "2024-01-01T13:00:00Z", "user_id": 9, "event_type": "click", "value": 1.0},
        ],
        mtime_offset_s=-30,
    )
    _write_ndjson(
        str(tmp_path / "c.ndjson"),
        [
            {"ts": "2024-01-01T15:55:00Z", "user_id": 9, "event_type": "view", "value": 1.0},
            {"ts": "2024-01-01T16:00:00Z", "user_id": 9, "event_type": "click", "value": 1.0},
        ],
    )
    ev = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", "1")
        .json(str(tmp_path))
    )
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts"))
        .withWatermark("c_ts", "10 minutes")
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"))
        .withWatermark("v_ts", "10 minutes")
    )
    joined = clicks.join(
        views,
        (F.col("c_user") == F.col("v_user"))
        & (F.col("v_ts") >= F.col("c_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("v_ts") <= F.col("c_ts")),
        "left_outer",
    )
    from postgres_etl_pipeline_spark.streaming.runner import run_to_memory

    res = run_to_memory(joined, "ss_left_outer", "append", state_partitions=4)
    got = {(r.c_user, r.v_user) for r in res.collect()}
    assert (1, 1) in got          # matched pair emitted as a normal join row
    assert (2, None) in got       # expired unmatched click -> null right side
    assert (9, None) not in got   # matched advancing clicks emit no nulls
    assert (9, 9) in got          # ...they emit as ordinary inner rows


def test_minhash_admission_multi_batch_and_replay(spark, tmp_path):
    """Streaming near-dup admission (run_minhash_admission_sink):
    (1) cross-batch: a batch-2 near-dup of an ADMITTED batch-1 doc is
        rejected through the accreted band index;
    (2) seen-semantics: a batch-2 near-dup of a REJECTED batch-1 doc is
        ALSO rejected (the batch operator's "domination is independent
        of the dominator's fate" rule, kept across micro-batches);
    (3) replay from a fresh checkpoint leaves the admitted set unchanged;
    (4) the drained multi-batch admission equals the one-shot batch call.
    """
    from postgres_etl_pipeline_spark.operators.dedup import (
        incremental_minhash_dedup,
        minhash_band_rows,
    )
    from postgres_etl_pipeline_spark.streaming.runner import (
        read_state_or_empty,
        run_minhash_admission_sink,
    )

    P = [f"p{i}" for i in range(1, 15)]     # shared prefix tokens
    T1 = [f"t{i}" for i in range(1, 7)]     # stored doc's unique tail
    U = [f"u{i}" for i in range(1, 5)]      # rejected doc's unique tail
    V = ["v1", "v2"]
    txt = " ".join
    stored_rows = [(1, txt(P + T1))]                     # the seeded corpus
    batch1 = [
        # J(d10, stored) = 12/22 ≈ 0.545 ≥ 0.5 → rejected vs stored
        (10, txt(P + U)),
        (11, txt([f"q{i}" for i in range(1, 13)])),      # unique → admitted
    ]
    batch2 = [
        # J(d20, d10) = 12/18 ≈ 0.667 (rejected dominator!) but
        # J(d20, stored) = 8/24 ≈ 0.333 → only seen-semantics rejects it
        (20, txt(V + P[4:] + U)),
        (21, batch1[1][1]),                              # copy of admitted d11
        (22, txt([f"z{i}" for i in range(1, 13)])),      # unique → admitted
    ]

    src = tmp_path / "src"
    src.mkdir()
    _write_ndjson(
        str(src / "a.ndjson"),
        [{"doc_id": i, "text": s} for i, s in batch1],
        mtime_offset_s=-60,
    )
    _write_ndjson(
        str(src / "b.ndjson"), [{"doc_id": i, "text": s} for i, s in batch2]
    )
    stored = spark.createDataFrame(stored_rows, "doc_id long, text string")
    state = str(tmp_path / "state")
    minhash_band_rows(stored).write.parquet(state + "/bands")
    stored.write.parquet(state + "/seen")

    def stream():
        return (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
        )

    run_minhash_admission_sink(
        stream(), state, threshold=0.5, checkpoint=str(tmp_path / "ckpt1")
    )
    admitted = {
        r["doc_id"]
        for r in read_state_or_empty(spark, state + "/admitted", "doc_id long").collect()
    }
    assert admitted == {11, 22}, admitted

    # (3) full replay from a lost checkpoint: keyed upserts make it a no-op
    run_minhash_admission_sink(
        stream(), state, threshold=0.5, checkpoint=str(tmp_path / "ckpt2")
    )
    again = {
        r["doc_id"]
        for r in read_state_or_empty(spark, state + "/admitted", "doc_id long").collect()
    }
    assert again == {11, 22}, again

    # (4) one-shot batch twin over the SAME split agrees
    all_batch = spark.createDataFrame(
        batch1 + batch2, "doc_id long, text string"
    )
    one_shot = {
        r["doc_id"]
        for r in incremental_minhash_dedup(
            all_batch, minhash_band_rows(stored), stored, threshold=0.5
        ).collect()
    }
    assert one_shot == admitted


def test_topk_maintenance_multi_batch_and_replay(spark, tmp_path):
    """Incremental top-k drain: with the corpus split across two
    micro-batches the drained state must equal full-corpus brute force
    (pure scores — batching cannot matter), and a full replay from a
    fresh checkpoint must change nothing (the merge's distinct absorbs
    redelivered rescores)."""
    import json as _json

    import numpy as np

    from postgres_etl_pipeline_spark.operators.similarity import (
        brute_force_topk,
        incremental_topk_update,
    )
    from postgres_etl_pipeline_spark.streaming.runner import (
        read_state_or_empty,
        run_topk_maintenance_sink,
    )

    rng = np.random.default_rng(17)
    vecs = [(i, rng.standard_normal(8).round(3).tolist()) for i in range(40)]
    src = tmp_path / "src"
    src.mkdir()
    _write_ndjson(
        str(src / "a.ndjson"),
        [{"vec_id": i, "embedding": v} for i, v in vecs[:25]],
        mtime_offset_s=-60,
    )
    _write_ndjson(
        str(src / "b.ndjson"),
        [{"vec_id": i, "embedding": v} for i, v in vecs[25:]],
    )
    all_df = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    queries = all_df.filter(F.col("vec_id") < 5)
    state = str(tmp_path / "state")

    def stream():
        return (
            spark.readStream.schema("vec_id long, embedding array<double>")
            .option("maxFilesPerTrigger", "1")
            .json(str(src))
        )

    def final_state():
        st = read_state_or_empty(
            spark, state + "/topk",
            "query_id long, neighbor_id long, cos_sim double",
        )
        empty = all_df.filter("vec_id < 0")
        return {
            (r.query_id, r.neighbor_id, r.cos_sim, r.rank)
            for r in incremental_topk_update(st, empty, queries, k=5).collect()
        }

    run_topk_maintenance_sink(
        stream(), state, queries, k=5, checkpoint=str(tmp_path / "ck1")
    )
    exact = {
        (r.query_id, r.neighbor_id, r.cos_sim, r.rank)
        for r in brute_force_topk(all_df, queries, k=5).collect()
    }
    assert final_state() == exact

    # lost-checkpoint replay of the whole stream: state unchanged
    run_topk_maintenance_sink(
        stream(), state, queries, k=5, checkpoint=str(tmp_path / "ck2")
    )
    assert final_state() == exact


def test_read_state_or_empty_tolerates_only_absence(spark, tmp_path):
    """Advice r08 #2: path-not-found reads as the empty first-increment
    relation, but a DAMAGED state dir must RAISE — swallowing it would
    let the next state rewrite persist a truncated relation, silently
    discarding accumulated state."""
    import pytest

    from postgres_etl_pipeline_spark.streaming.runner import read_state_or_empty

    schema = "doc_id long"
    missing = str(tmp_path / "never_written")
    assert read_state_or_empty(spark, missing, schema).count() == 0

    good = str(tmp_path / "good")
    spark.createDataFrame([(1,), (2,)], schema).write.parquet(good)
    assert read_state_or_empty(spark, good, schema).count() == 2

    # corrupt every parquet footer in place: the path EXISTS, so the
    # failure must propagate instead of masquerading as a cold start
    corrupt = str(tmp_path / "corrupt")
    spark.createDataFrame([(1,), (2,)], schema).write.parquet(corrupt)
    import pathlib

    for f in pathlib.Path(corrupt).glob("*.parquet"):
        f.write_bytes(b"this is not a parquet file")
    with pytest.raises(Exception):
        read_state_or_empty(spark, corrupt, schema).count()


def test_scratch_checkpoint_base_env_override(tmp_path, monkeypatch):
    """Verdict r13 item 8: the tmpfs checkpoint default is a local-mode
    assumption; SPARK_GRAFT_STREAM_CKPT_BASE re-points the *default* at
    durable storage (local dir or remote URI) without touching callers —
    explicit ``checkpoint=`` arguments keep winning."""
    import os

    from postgres_etl_pipeline_spark.streaming.runner import (
        STREAM_CHECKPOINT_BASE_ENV,
        _scratch_checkpoint,
    )

    # default: tmpfs when present
    monkeypatch.delenv(STREAM_CHECKPOINT_BASE_ENV, raising=False)
    d = _scratch_checkpoint("ckpt_test_")
    try:
        assert d.startswith("/dev/shm/") == os.path.isdir("/dev/shm")
    finally:
        os.rmdir(d)

    # local durable base: created under it
    base = str(tmp_path / "durable_ckpts")
    monkeypatch.setenv(STREAM_CHECKPOINT_BASE_ENV, base)
    d = _scratch_checkpoint("ckpt_test_")
    assert d.startswith(base + "/") and os.path.isdir(d)

    # remote URI base: a unique path string under it, nothing created
    monkeypatch.setenv(STREAM_CHECKPOINT_BASE_ENV, "s3a://bucket/ckpts/")
    d1 = _scratch_checkpoint("ckpt_test_")
    d2 = _scratch_checkpoint("ckpt_test_")
    assert d1.startswith("s3a://bucket/ckpts/ckpt_test_") and d1 != d2


def test_default_checkpoint_is_deleted_after_every_drain(
    spark, tmp_path, monkeypatch
):
    """A drain given no ``checkpoint=`` runs on a fresh scratch checkpoint
    that no later drain can find; the drain deletes it once the query has
    stopped — after success, after a timeout and after a failed batch —
    and the results read as before."""
    from postgres_etl_pipeline_spark.streaming.runner import (
        STREAM_CHECKPOINT_BASE_ENV,
        run_upsert_sink,
    )

    base = tmp_path / "ckpts"
    base.mkdir()
    monkeypatch.setenv(STREAM_CHECKPOINT_BASE_ENV, str(base))
    src = tmp_path / "src"
    src.mkdir()
    _write_ndjson(
        str(src / "a.ndjson"),
        [_txn("r1", "t-1", "2024-01-01T10:00:00Z", qty=1),
         _txn("r1", "t-2", "2024-01-01T10:05:00Z", qty=2)],
    )

    def txns():
        return stream_ndjson_txns(spark, str(src))

    res = run_to_memory(txns(), "t_scratch_ckpt", "append")
    assert sorted(r.txn_id for r in res.collect()) == ["t-1", "t-2"]
    assert list(base.iterdir()) == []

    target = str(tmp_path / "stg")
    run_upsert_sink(txns(), target, ["run_id", "txn_id"], ["event_time"])
    got = {r.txn_id: r.quantity for r in spark.read.parquet(target).collect()}
    assert got == {"t-1": 1, "t-2": 2}
    assert list(base.iterdir()) == []

    # PySpark rejects a timeout of 0; no drain finishes within 1 ms
    with pytest.raises(TimeoutError):
        run_to_memory(txns(), "t_scratch_timeout", "append", timeout_s=0.001)
    assert spark.streams.active == []
    assert list(base.iterdir()) == []

    with pytest.raises(Exception, match="no_such_key"):
        run_upsert_sink(txns(), target, ["no_such_key"], ["event_time"])
    assert spark.streams.active == []
    assert list(base.iterdir()) == []
