"""The benchmark's workloads: inputs, set-up, operation stream and checks.

Each workload has one client issuing one operation at a time (closed loop).
The operation order is fixed by a constant, so every seed runs the same mix;
``--seed`` only shapes the generated inputs.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import signal
import subprocess
import sys
from dataclasses import dataclass, field
from typing import Any, Callable

import inputs
import stats

MIX_SEED = 20241016  # fixes the operation order; independent of --seed


@dataclass
class Op:
    label: str
    run: Callable[[Any], Any]  # spark -> result kept for the check
    input_rows: int


@dataclass
class Record:
    """One attempted operation."""

    i: int
    label: str
    input_rows: int
    warm: bool = False  # a warm-up operation: checked, but not timed
    t0: float = 0.0  # epoch seconds, to line up with Spark's REST times
    latency_s: float = 0.0
    ok: bool = True
    error: str | None = None
    result: Any = None
    extra: dict = field(default_factory=dict)


def _snapshot(root: str) -> dict[str, tuple[int, float]]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            try:
                st = os.stat(path)
            except FileNotFoundError:
                continue
            out[path] = (st.st_size, st.st_mtime)
    return out


def _dir_bytes(path: str) -> int:
    return sum(size for size, _ in _snapshot(path).values())


class Workload:
    """Hooks the benchmark calls, in this order: ``prepare`` (inputs),
    ``setup`` once per set-up, ``start_checks``, the ``warmup`` operations,
    ``settle``, ``begin_timed``, the ``ops`` stream (``observe`` after each
    operation), ``check``, and in a traced run ``trace_extras`` and
    ``storage``. The defaults do nothing."""

    name = ""
    round_len = 1  # the ops stream repeats its mix every round_len operations
    setups = 5  # set-ups per run; setup_s is their median

    def __init__(self, work: str, seed: int, tracer):
        self.work, self.seed, self.tracer = work, seed, tracer

    def prepare(self) -> None:
        pass

    def setup(self, spark) -> None:
        """The workload's starting state in a fresh session."""

    def attach(self, spark) -> None:
        """Per-session registration, repeated when a session is rebuilt."""

    def start_checks(self) -> None:
        pass

    def hold_checks(self, hold: bool) -> None:
        """Pause or resume background check work (kept off set-up times)."""

    def settle(self) -> None:
        pass

    def close(self) -> None:
        pass

    def begin_timed(self) -> None:
        pass

    def observe(self, rec: Record) -> None:
        pass

    def trace_extras(self, spark) -> dict:
        return {}

    def storage(self) -> dict:
        return {}


class CorpusDedup(Workload):
    """LLM-data operators over a seeded sf0.1-shaped corpus.

    Warm-up runs each entry once. Cache hygiene: the shared pair-stage
    cache (``queries_ext._PAIR_STAGE_CACHE``) and the streaming profile cache
    (``queries_stream._PROFILE_DRAIN``, which no entry here fills) are
    cleared when the timed loop begins and then left warm for the whole
    loop, so the loop's first pair-stage consumer fills the cache and later
    ones hit it; the traced run reports that as ``pair_cache.hit_ratio``.
    """

    name = "corpus_dedup"
    ENTRIES = (
        "minhash_lsh_near_dups",
        "dedup_cc_clusters",
        "dedup_keep_list",
        "embedding_cosine_topk",
    )
    TABLE_OF = {"embedding_cosine_topk": "embeddings"}
    N_DOCS, N_VECS = 5000, 2000

    def __init__(self, work: str, seed: int, tracer):
        super().__init__(work, seed, tracer)
        self.data = os.path.join(work, "corpus")
        self._oracle_proc: subprocess.Popen | None = None
        self._oracle_path = os.path.join(work, "oracle.json")
        self.oracle: dict = {}

    def prepare(self) -> None:
        self.rows = inputs.write_corpus(self.data, self.seed, self.N_DOCS, self.N_VECS)

    def start_checks(self) -> None:
        """Compute the oracle results in a separate process, so they overlap
        the JVM launch and the warm-up instead of lengthening the run."""
        self._oracle_proc = subprocess.Popen(
            [sys.executable, os.path.join(os.path.dirname(__file__), "oracle.py"),
             self.data, self._oracle_path, *self.ENTRIES]
        )

    def hold_checks(self, hold: bool) -> None:
        if self._oracle_proc is not None and self._oracle_proc.poll() is None:
            self._oracle_proc.send_signal(signal.SIGSTOP if hold else signal.SIGCONT)

    def settle(self) -> None:
        """Wait for the oracle process started in :meth:`start_checks`."""
        if self._oracle_proc is not None:
            self._oracle_proc.wait()
            self._oracle_proc = None
            with open(self._oracle_path) as f:
                self.oracle = json.load(f)

    def close(self) -> None:
        if self._oracle_proc is not None:
            self._oracle_proc.kill()
            self._oracle_proc.wait()

    def _op(self, name: str) -> Op:
        return Op(name, self._runner(name), self.rows[self.TABLE_OF.get(name, "documents")])

    def warmup(self) -> list[Op]:
        return [self._op(name) for name in self.ENTRIES]

    def begin_timed(self) -> None:
        from postgres_etl_pipeline_spark import queries_ext, queries_stream

        queries_ext._PAIR_STAGE_CACHE.clear()
        queries_stream._PROFILE_DRAIN.clear()

    @property
    def round_len(self) -> int:
        return 2 * len(self.ENTRIES)

    def ops(self):
        """Rounds of every entry twice, each round in a fixed shuffled order."""
        rng = random.Random(MIX_SEED)
        while True:
            for name in rng.sample(2 * self.ENTRIES, self.round_len):
                yield self._op(name)

    def _runner(self, name: str):
        from postgres_etl_pipeline_spark.queries import queries

        fn = queries()[name]

        def run(spark):
            df = self.tracer.call("queries.plan", fn, spark, self.data)
            return df.columns, df.collect()

        return run

    def check(self, records: list[Record], spark) -> None:
        import pandas as pd
        from oracle import canon_hash

        for rec in records:
            if not rec.ok:
                continue
            cols, rows = rec.result
            want = self.oracle.get(rec.label, {})
            got = canon_hash(pd.DataFrame.from_records([tuple(r) for r in rows], columns=cols))
            if "hash" not in want:
                rec.ok, rec.error = False, f"oracle failed: {want.get('error')}"
            elif got != want["hash"]:
                rec.ok = False
                rec.error = f"result differs from oracle ({len(rows)} vs {want['rows']} rows)"
            rec.result = None

    def trace_extras(self, spark) -> dict:
        """Candidate-pair counts, measured once after the timed loop."""
        from postgres_etl_pipeline_spark.operators import dedup as D
        from postgres_etl_pipeline_spark.queries import queries, spread, t

        docs = spread(t(spark, self.data, "documents"))
        candidates = D.minhash_lsh_candidates(docs).count()
        verified = queries()["minhash_lsh_near_dups"](spark, self.data).count()
        return {
            "dedup.candidate_pairs": float(candidates),
            "dedup.pair_precision": stats.ratio(verified, candidates),
        }


class EtlUpsert(Workload):
    """Keyed-upsert batches through the grocery pipeline, interleaved with
    stream drains into a second keyed table.

    Every operation is either one 200-transaction ``pipelines.grocery.run``
    batch (ingest, validate, keyed upsert into the staging table, reconcile,
    rebuild and gate the mart, then collect the mart) or, every
    ``DRAIN_EVERY``-th operation, one ``streaming.runner.run_upsert_sink``
    availableNow drain of the next seeded run of the ``grocery_txns`` stream.
    Set-up pre-loads the staging table with ``PRELOAD_ROWS`` rows of an
    earlier seeded run from ``datagen.transactions_df_distributed``.

    Warm-up runs one batch and one drain. Cache hygiene: no program cache
    is involved; each set-up starts from an empty directory.
    """

    name = "etl_upsert"
    BATCH_ROWS = 200  # the reference API's maximum batch size
    PRELOAD_ROWS = 10_000
    DRAIN_EVERY = round_len = 4
    setups = 3  # each pre-loads the table, so fewer than the default
    KEYS = ["run_id", "txn_id"]

    def __init__(self, work: str, seed: int, tracer):
        super().__init__(work, seed, tracer)
        self.prefix = f"s{seed}"
        self.base = ""
        self._setups = 0

    # --- inputs ------------------------------------------------------------
    @staticmethod
    def _json_bytes(rows: list[dict]) -> int:
        """User bytes of rows: their size as JSON objects."""
        return sum(len(json.dumps(r)) for r in rows)

    def _source_rows(self, run_id: str, n: int) -> list[dict]:
        """Rows the ``grocery_txns`` source yields for ``run_id``."""
        from postgres_etl_pipeline_spark.connectors.grocery_source import SCHEMA_DDL, _gen_rows

        cols = [c.split()[0] for c in SCHEMA_DDL.split(",")]
        return [dict(zip(cols, r)) for r in _gen_rows(run_id, "ok", 0, n)]

    def prepare(self) -> None:
        pre = inputs.distributed_txns(self._history_run, self.PRELOAD_ROWS)
        self._preload = (
            frozenset((r["run_id"], r["txn_id"]) for r in pre),
            self._totals(pre),
            self._json_bytes(pre),
        )

    @property
    def _history_run(self) -> str:
        return f"{self.prefix}-history"

    @staticmethod
    def _totals(txns: list[dict]) -> tuple[int, int, int]:
        return (
            len(txns),
            sum(t["quantity"] for t in txns),
            sum(t["quantity"] * t["unit_price_cents"] for t in txns),
        )

    # --- set-up ------------------------------------------------------------
    def attach(self, spark) -> None:
        from postgres_etl_pipeline_spark.connectors.grocery_source import GroceryTxnDataSource

        spark.dataSource.register(GroceryTxnDataSource)

    def setup(self, spark) -> None:
        from postgres_etl_pipeline_spark import datagen
        from postgres_etl_pipeline_spark.pipelines import grocery

        if self.base:
            shutil.rmtree(self.base, ignore_errors=True)
        self._setups += 1
        self.base = os.path.join(self.work, f"etl-{self._setups}")
        self.table = grocery.RunPaths(self.base, self._history_run).table
        self.stream_table = os.path.join(self.base, "tables", "stream_txns")
        self.ckpt = os.path.join(self.base, "stream_ckpt")
        self.attach(spark)
        history = datagen.transactions_df_distributed(spark, self._history_run, self.PRELOAD_ROWS)
        grocery.load(spark, grocery.enrich(history, "ok"), grocery.RunPaths(self.base, self._history_run))
        # expectations and storage accounting restart with the fresh state
        keys, self.expected_totals, self.live_bytes = self._preload
        self.expected_keys = set(keys)
        self.staged_rows = self.PRELOAD_ROWS
        self.stream_keys: set = set()
        self.drains_done = 0
        self.ingested = self.written = 0
        self.rewrites: list[float] = []
        self.files_written: list[int] = []
        self._snap = _snapshot(self.base)

    # --- operations ---------------------------------------------------------
    def _batch_op(self, tag: str) -> Op:
        return Op("grocery_batch", self._batch(tag), self.BATCH_ROWS + self.staged_rows)

    def warmup(self) -> list[Op]:
        return [self._batch_op("warm"), Op("stream_drain", self._drain(0), self.BATCH_ROWS)]

    def ops(self):
        batch, drain = 0, 1  # the warm-up drained stream run 0
        for i in range(10**9):
            if i % self.DRAIN_EVERY == self.DRAIN_EVERY - 1:
                yield Op("stream_drain", self._drain(drain), self.BATCH_ROWS)
                drain += 1
            else:
                yield self._batch_op(str(batch))
                batch += 1

    def _batch(self, tag: str):
        from postgres_etl_pipeline_spark.pipelines import grocery

        run_id = f"{self.prefix}-batch-{tag}"

        def run(spark):
            res = grocery.run(spark, self.base, run_id, "ok", n=self.BATCH_ROWS)
            return {"run_id": run_id, "mart": [r.asDict() for r in res.mart.collect()]}

        return run

    def _drain(self, j: int):
        from postgres_etl_pipeline_spark.streaming import runner

        def run(spark):
            stream = (
                spark.readStream.format("grocery_txns")
                .option("run_prefix", f"{self.prefix}-stream")
                .option("n", str(self.BATCH_ROWS))
                .option("max_runs", str(j + 1))
                .load()
            )
            runner.run_upsert_sink(stream, self.stream_table, self.KEYS, ["event_time"], checkpoint=self.ckpt)
            return {"stream_run": j}

        return run

    def drain_empty(self, spark) -> float:
        """Latency of a drain with nothing new to pull (the fixed floor)."""
        import time

        from postgres_etl_pipeline_spark.streaming import runner

        stream = (
            spark.readStream.format("grocery_txns")
            .option("run_prefix", f"{self.prefix}-stream")
            .option("n", str(self.BATCH_ROWS))
            .option("max_runs", str(self.drains_done))
            .load()
        )
        t0 = time.perf_counter()
        runner.run_upsert_sink(stream, self.stream_table, self.KEYS, ["event_time"], checkpoint=self.ckpt)
        return time.perf_counter() - t0

    # --- accounting ---------------------------------------------------------
    def observe(self, rec: Record) -> None:
        """Storage accounting for one finished operation (outside its
        latency): bytes written under the run's directory versus the user
        bytes the operation ingested."""
        from postgres_etl_pipeline_spark import datagen

        snap = _snapshot(self.base)
        _, written = stats.files_delta(self._snap, snap)
        table_files, table_bytes = stats.files_delta(
            {p: s for p, s in self._snap.items() if "/tables/" in p},
            {p: s for p, s in snap.items() if "/tables/" in p},
        )
        self._snap = snap
        if rec.label == "grocery_batch":
            run_id = rec.result["run_id"] if rec.ok else None
            txns = datagen.transactions_payload(run_id, "ok", self.BATCH_ROWS)["transactions"] if run_id else []
            raw = os.path.join(self.base, "grocery_runs", run_id or "-", "raw", "transactions.json")
            ingested = os.path.getsize(raw) if run_id and os.path.exists(raw) else 0
            if rec.ok:
                self.expected_keys |= {(run_id, t["txn_id"]) for t in txns}
                self.expected_totals = tuple(
                    a + b for a, b in zip(self.expected_totals, self._totals(txns))
                )
                self.live_bytes += self._json_bytes(txns)
                self.staged_rows += len(txns)
                rec.extra["expected_totals"] = self.expected_totals
        else:
            run = rec.result["stream_run"] if rec.ok else None
            rows = self._source_rows(f"{self.prefix}-stream-{run}", self.BATCH_ROWS) if rec.ok else []
            ingested = self._json_bytes(rows)
            self.stream_keys |= {(r["run_id"], r["txn_id"]) for r in rows}
            self.drains_done += rec.ok
            self.live_bytes += ingested
        self.ingested += ingested
        self.written += written
        if ingested:
            self.rewrites.append(stats.rewrite_ratio(table_bytes, ingested))
        self.files_written.append(table_files)

    def check(self, records: list[Record], spark) -> None:
        for rec in records:
            if rec.ok and rec.label == "grocery_batch":
                mart = rec.result["mart"]
                got = (
                    sum(r["txns"] for r in mart),
                    sum(r["units"] for r in mart),
                    sum(r["gross_amount_cents"] for r in mart),
                )
                if got != rec.extra["expected_totals"]:
                    rec.ok = False
                    rec.error = f"mart totals {got} != expected {rec.extra['expected_totals']}"
            rec.result = None
        tables = ((self.table, self.expected_keys, "grocery_batch"),
                  (self.stream_table, self.stream_keys, "stream_drain"))
        for path, want, label in tables:
            got = {
                (r.run_id, r.txn_id)
                for r in spark.read.parquet(path).select(*self.KEYS).collect()
            } if want else set()
            if got != want:
                msg = f"{path}: {len(got)} keys, expected {len(want)}"
                for rec in records:
                    if rec.label == label and rec.ok:
                        rec.ok, rec.error = False, msg

    def trace_extras(self, spark) -> dict:
        return {"stream.floor_s": self.drain_empty(spark)}

    def storage(self) -> dict:
        on_disk = _dir_bytes(self.table) + (
            _dir_bytes(self.stream_table) if os.path.isdir(self.stream_table) else 0
        )
        return {
            "write_amp": stats.write_amp(self.written, self.ingested),
            "space_amp": stats.space_amp(on_disk, self.live_bytes),
            "sinks.rewrite_ratio": stats.median(self.rewrites) if self.rewrites else 0.0,
            "sinks.files_written": stats.median(self.files_written) if self.files_written else 0.0,
        }


WORKLOADS = {w.name: w for w in (CorpusDedup, EtlUpsert)}
