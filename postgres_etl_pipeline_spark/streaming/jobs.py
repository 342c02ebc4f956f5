"""Streaming transformations (SURVEY §2.8 mapping table).

Each job is a pure stream-DataFrame → stream-DataFrame function; the runner
decides trigger/sink. State sizing at 100 TB:

- watermarks bound state: every stateful op here takes an explicit delay;
  state per key is evicted once the watermark passes, so state size is
  O(active keys × windows inside the watermark horizon), not O(history).
- keys are chosen to shuffle-partition evenly (user_id, (run_id, txn_id));
  a skewed key (one hot user) would need salting before the stateful op —
  same playbook as batch skew joins.
- applyInPandasWithState keeps per-group state in the executor state store
  (RocksDB on a real cluster: ``spark.sql.streaming.stateStore.providerClass``),
  Arrow-batched per trigger — the slow path, used only where no built-in
  stateful operator expresses the semantics.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


def dedup_within_watermark(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_time",
    delay: str = "10 minutes",
) -> DataFrame:
    """At-least-once → effectively-once: ``dropDuplicates`` on the upsert PK
    within the watermark horizon (SURVEY §2.8: reference retries
    ``grocery_ingest_dag.py:71`` + PK upsert ``pg.py:44-52``).

    The watermark bounds dedup state; duplicates arriving later than
    ``delay`` are the sink's problem (idempotent merge, connectors.sinks).
    """
    return df.withWatermark(ts_col, delay).dropDuplicates(keys)


def dedup_bounded_state(
    df: DataFrame,
    keys: list[str],
    ts_col: str = "event_time",
    delay: str = "10 minutes",
) -> DataFrame:
    """``dropDuplicatesWithinWatermark``: the 100 TB dedup — per-key state
    is EVICTED once the watermark passes the key's event time + ``delay``,
    so state is O(keys inside the horizon), bounded even for unbounded key
    cardinality. Contrast ``dedup_within_watermark``: plain
    ``dropDuplicates`` keeps every key seen FOREVER (state grows with
    distinct keys for the stream's lifetime — fine for a bounded drain,
    fatal for a year-long stream of fresh PKs).

    Trade-off: a duplicate redelivered with an event time more than
    ``delay`` after the original is re-emitted (state already evicted) —
    pair with the keyed-upsert sink (K5) so re-emissions are no-op merges.
    Semantics pinned in tests/test_streaming.py.
    """
    return df.withWatermark(ts_col, delay).dropDuplicatesWithinWatermark(keys)


def tumbling_counts(
    events: DataFrame,
    window: str = "1 hour",
    ts_col: str = "ts",
    delay: str = "30 minutes",
) -> DataFrame:
    """Tumbling-window event counts (streaming twin of batch events_hourly)."""
    return (
        events.withWatermark(ts_col, delay)
        .groupBy(F.window(ts_col, window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            # decimal accumulator: exact + order-independent (oracle parity)
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window: str = "1 hour",
    slide: str = "30 minutes",
    ts_col: str = "ts",
    delay: str = "30 minutes",
) -> DataFrame:
    """Sliding-window counts — each event lands in window/slide overlapping
    windows (no reference counterpart; extension per SURVEY §2.8)."""
    return (
        events.withWatermark(ts_col, delay)
        .groupBy(F.window(ts_col, window, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("win_start"),
            F.date_format(F.col("w.end"), "yyyy-MM-dd HH:mm:ss").alias("win_end"),
            "n_events",
        )
    )


def session_window_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    ts_col: str = "ts",
    delay: str = "30 minutes",
) -> DataFrame:
    """Per-user session windows with a fixed inactivity gap.

    ``session_window`` end = last event ts + gap; a session closes (and its
    state evicts) once the watermark passes that end.
    """
    return (
        events.withWatermark(ts_col, delay)
        .groupBy(F.session_window(ts_col, gap).alias("w"), F.col("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            "user_id",
            F.date_format(F.col("w.start"), "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "total_value",
        )
    )


def daily_mart_stream(
    txns: DataFrame, ts_col: str = "event_time", delay: str = "1 hour"
) -> DataFrame:
    """Continuously-maintained daily sales mart — streaming twin of A1
    (reference ``mart_daily_sales.sql:6-15``), update mode."""
    return (
        txns.withWatermark(ts_col, delay)
        .groupBy(F.window(ts_col, "1 day").alias("w"), F.col("store_id"))
        .agg(
            F.count(F.lit(1)).alias("txns"),
            F.sum("quantity").cast("long").alias("units"),
            F.sum(F.col("quantity").cast("long") * F.col("unit_price_cents"))
            .alias("gross_amount_cents"),
        )
        .select(
            F.to_date("w.start").cast("string").alias("day"),
            "store_id",
            "txns",
            "units",
            "gross_amount_cents",
        )
    )


_PROFILE_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        # MapState stand-in: parallel arrays (event_type, count) — the
        # single-tuple state applyInPandasWithState offers
        T.StructField("event_types", T.ArrayType(T.StringType())),
        T.StructField("type_counts", T.ArrayType(T.LongType())),
    ]
)


def _user_profile_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    if state.exists:
        n, total, ets, cnts = state.get
        counts = dict(zip(list(ets), list(cnts)))
    else:
        n, total, counts = 0, 0.0, {}
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
        for et, c in pdf.groupby("event_type").size().items():
            counts[et] = counts.get(et, 0) + int(c)
    total = round(total, 2)  # 2-dp inputs: keep the running float exact
    state.update((n, total, list(counts.keys()), list(counts.values())))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "n_events": [n],
            "n_types": [len(counts)],
            "total_value": [total],
        }
    )


def stateful_user_profile(events: DataFrame) -> DataFrame:
    """Running per-user profile (count, distinct-type count, value total)
    via ``applyInPandasWithState`` — the SEMANTIC TWIN of
    :func:`stateful_user_profile_tws`, runnable on any Spark ≥3.4 with no
    extra dependencies. The TWS version expresses the same state as
    composable typed states (ValueState + MapState); this one packs the
    type→count map into parallel state arrays. Tests pin this twin against
    the batch answer unconditionally, so the profile semantics are
    verified even where the TWS state-server protocol (google.protobuf)
    is unavailable; where it IS available, TWS output must equal this."""
    return events.groupBy("user_id").applyInPandasWithState(
        _user_profile_fn,
        outputStructType=_TWS_OUT_SCHEMA,
        stateStructType=_PROFILE_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Spark 4 transformWithState (the successor API to applyInPandasWithState):
# composable typed state (ValueState/ListState/MapState), timers, TTL.
# GATED: its state-server protocol needs the `protobuf` package, absent in
# this container (verified: no protobuf runtime exists anywhere on disk,
# and installs are out of scope here) — tws_available() lets tests skip
# that leg cleanly while stateful_user_profile above keeps the SEMANTICS
# executable and pinned. The processor and wiring below are complete and
# run wherever protobuf + RocksDB state store are present (any standard
# Spark 4 cluster).
# ---------------------------------------------------------------------------

TWS_PROVIDER_CONF = {
    # transformWithState requires the RocksDB state store provider
    "spark.sql.streaming.stateStore.providerClass":
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
}


def tws_available() -> bool:
    """transformWithStateInPandas needs google.protobuf for the
    driver<->state-server protocol (pyspark/sql/streaming/proto)."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


_TWS_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("n_types", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def _user_profile_processor():
    """Build the StatefulProcessor lazily (the import is Spark-4-only and
    the class body references it)."""
    from pyspark.sql.streaming import StatefulProcessor

    class UserProfileProcessor(StatefulProcessor):
        """Running per-user profile with TWO typed states: a ValueState for
        (n_events, total_value) and a MapState event_type → count, showing
        state composition applyInPandasWithState's single-tuple state can't
        express cleanly. Each trigger emits the updated profile row."""

        def init(self, handle) -> None:
            self._totals = handle.getValueState("totals", "n bigint, total double")
            self._types = handle.getMapState("type_counts", "et string", "n bigint")

        def handleInputRows(self, key, rows, timer_values):
            n, total = self._totals.get() if self._totals.exists() else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
                for et, cnt in pdf.groupby("event_type").size().items():
                    prev = (
                        self._types.getValue((et,))[0]
                        if self._types.containsKey((et,))
                        else 0
                    )
                    self._types.updateValue((et,), (prev + int(cnt),))
            total = round(total, 2)  # 2-dp inputs: keep the running float exact
            self._totals.update((n, total))
            n_types = sum(1 for _ in self._types.keys())
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "n_types": [n_types],
                    "total_value": [total],
                }
            )

        def close(self) -> None:
            pass

    return UserProfileProcessor()


def stateful_user_profile_tws(events: DataFrame) -> DataFrame:
    """Running per-user profile (count, distinct-type count, value total)
    via Spark 4 ``transformWithStateInPandas``. Caller must run under
    TWS_PROVIDER_CONF (RocksDB state store) and ``tws_available()``.

    At 100 TB this is the template for long-lived keyed state: RocksDB
    spills state off-heap per executor, MapState gives per-subkey point
    lookups (no read-modify-write of one fat blob), and state TTL
    (``getValueState(..., ttlDurationMs=...)``) bounds abandoned keys.
    """
    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_user_profile_processor(),
        outputStructType=_TWS_OUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )


def static_enrich(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static broadcast enrichment (the dimension-lookup pattern).

    The static side is re-broadcast per micro-batch — no streaming state
    at all, so unlike a stream-stream join there is no watermark and no
    state store: each event row is enriched exactly once, append-mode
    safe. At 100 TB this is THE pattern for slowly-changing lookups
    (currency tables, model registries): the batch side can be a parquet
    /Delta table that each trigger re-reads, picking up dim updates
    between micro-batches without restarting the stream.
    """
    return events.select("event_id", "event_type").join(
        F.broadcast(dim), "event_type"
    )


def bloom_index_dedup(
    doc_fps: DataFrame,
    index_fps: DataFrame,
    bit_string: str,
    num_bits: int,
    num_hashes: int,
) -> DataFrame:
    """Streaming incremental dedup against a STATIC fingerprint index,
    Bloom-prefiltered — the continuously-growing-corpus admission gate as
    a stream (the streaming twin of
    operators.dedup.bloom_incremental_exact_dedup, minus the intra-batch
    keeper: append mode admits no aggregate without a watermark, so
    first-within-batch collapse belongs to the downstream batch dedup or
    a watermarked dropDuplicates — both already in the catalog).

    Append-mode safe with ZERO streaming state: the membership probe is
    the literal-embedded :func:`~...operators.dedup.bloom_maybe_member`
    expression (pure scan-side substr probes — the filter ships into the job
    like a broadcast variable), and the exact verify is a stream-static
    anti join whose compound condition (``fp`` match AND ``maybe``)
    short-circuits rows the filter already cleared: a definitely-new doc
    can never match any index row, so it flows through without the index
    lookup, while probable hits are verified exactly — Bloom false
    positives cannot leak a duplicate downstream.
    """
    from ..operators.dedup import bloom_maybe_member

    probed = (
        doc_fps.withColumn("_bloom_bits", F.lit(bit_string))
        .withColumn(
            "maybe_in_index",
            bloom_maybe_member(F.col("_bloom_bits"), num_bits, num_hashes),
        )
        .drop("_bloom_bits")
    )
    idx = F.broadcast(index_fps.select(F.col("fp").alias("_idx_fp")))
    cond = (F.col("fp") == F.col("_idx_fp")) & F.col("maybe_in_index")
    return probed.join(idx, cond, "left_anti").select("doc_id", "fp")
