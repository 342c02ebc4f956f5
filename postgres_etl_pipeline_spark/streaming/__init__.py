"""Structured Streaming layer (SURVEY §2.8 / §7 Phase 4).

The reference has no true streaming — its "near-real" ingestion is a chain
of batch DAG runs (reference ``README.md:3``) with late/raced producers
simulated batch-side (``retail_seed_dag.py:117-132``). This package
upgrades those streaming-shaped batch semantics to Structured Streaming:

- file-source streams over NDJSON run dirs / parquet tables (sources.py)
- watermarks + tumbling/sliding/session windows, dedup-within-watermark,
  custom stateful ops via applyInPandasWithState (jobs.py)
- ``trigger(availableNow=True)`` runners that drain a bounded source and
  hand back the result as a batch DataFrame (runner.py) — this reproduces
  the reference's run-sized micro-batch model exactly, and is what lets
  the driver's DuckDB oracle check streaming results.
"""

from .jobs import (
    daily_mart_stream,
    dedup_within_watermark,
    session_window_agg,
    sliding_counts,
    stateful_user_profile,
    static_enrich,
    tumbling_counts,
)
from .runner import run_cdc_sink, run_to_memory, run_upsert_sink
from .sources import stream_events, stream_ndjson_txns, stream_parquet

__all__ = [
    "daily_mart_stream",
    "dedup_within_watermark",
    "session_window_agg",
    "sliding_counts",
    "stateful_user_profile",
    "static_enrich",
    "tumbling_counts",
    "run_cdc_sink",
    "run_to_memory",
    "run_upsert_sink",
    "stream_events",
    "stream_ndjson_txns",
    "stream_parquet",
]
