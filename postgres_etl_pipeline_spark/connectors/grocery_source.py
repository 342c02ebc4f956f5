"""Custom PySpark DataSource for the seeded POS transaction feed (S1 at
scale — SURVEY §2.1: "at scale a PySpark 4 custom ``DataSource`` reader").

The reference's source is an HTTP API returning run-sized JSON batches
(``mock_pos_api/app.py:39-81``). At 100 TB that becomes a partitioned
pull: each input partition fetches/generates its own row range on an
executor. This implements that shape with the public Python DataSource API
(``pyspark.sql.datasource``) over the same seeded distributions as
``datagen._txn`` — no driver materialization, arbitrary ``n``.

Determinism contract: row ``i`` of (run_id, scenario) is
``_txn(Random(stable_seed ^ i-mix))`` — independent of partitioning, so
any partition count yields the same row set (asserted in tests). This is
the per-row-seed variant of datagen's O7 note: a single sequential rng
cannot be parallelized, so the distributed source derives one rng per row.

Usage::

    spark.dataSource.register(GroceryTxnDataSource)
    df = (spark.read.format("grocery_txns")
          .option("run_id", "r1").option("n", "100000")
          .option("partitions", "32").load())
"""

from __future__ import annotations

from random import Random

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

SCHEMA_DDL = (
    "run_id string, event_time string, txn_id string, store_id string, "
    "sku string, quantity int, unit_price_cents int, tender_type string, "
    "customer_id string"
)


def _gen_rows(run_id: str, scenario: str, start: int, end: int):
    """Rows [start, end) of a run — deterministic per (run_id, scenario, i),
    shared by the batch partitions and the stream reader (replay safety)."""
    from postgres_etl_pipeline_spark.datagen import STORES, _txn, stable_seed

    base = stable_seed(run_id, scenario)
    for i in range(start, end):
        # splitmix-style row mix so adjacent rows decorrelate
        rng = Random((base ^ (i * 0x9E3779B97F4A7C15)) & 0xFFFFFFFFFFFFFFFF)
        store = STORES[rng.randrange(len(STORES))]
        t = _txn(rng, store)
        yield (
            run_id,
            t["event_time"],
            t["txn_id"],
            t["store_id"],
            t["sku"],
            t["quantity"],
            t["unit_price_cents"],
            t["tender_type"],
            t["customer_id"],
        )


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class _GroceryReader(DataSourceReader):
    def __init__(self, options: dict):
        self.run_id = options.get("run_id", "run-0")
        self.scenario = options.get("scenario", "ok")
        self.n = int(options.get("n", "40"))
        self.num_partitions = int(options.get("partitions", "4"))

    def partitions(self):
        chunk = max(1, -(-self.n // self.num_partitions))
        return [
            _RangePartition(s, min(s + chunk, self.n))
            for s in range(0, self.n, chunk)
        ]

    def read(self, partition: _RangePartition):
        yield from _gen_rows(
            self.run_id, self.scenario, partition.start, partition.end
        )


class _GroceryStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch stream of runs: run k is ``{prefix}-{k}`` of ``n`` rows.

    The offset is just the run counter; because run content is a pure
    function of the run_id, ``readBetweenOffsets`` (recovery replay after a
    restart) regenerates byte-identical batches — exactly-once without any
    source-side persistence. ``max_runs`` bounds the stream (0 =
    unbounded): every run below it has arrived, so one ``read`` returns
    them all. Spark runs a Python stream under ``availableNow`` as ONE
    micro-batch (``PythonMicroBatchStream`` does not support that
    trigger), and a drain must still consume everything that has
    arrived. An unbounded stream yields one new run per ``read``.
    """

    def __init__(self, options: dict):
        self.prefix = options.get("run_prefix", "stream-run")
        self.scenario = options.get("scenario", "ok")
        self.n = int(options.get("n", "40"))
        self.max_runs = int(options.get("max_runs", "0"))

    def initialOffset(self) -> dict:
        return {"run": 0}

    def read(self, start: dict):
        end = {"run": self.max_runs or start["run"] + 1}
        if end["run"] <= start["run"]:
            return iter([]), start
        return iter(list(self.readBetweenOffsets(start, end))), end

    def readBetweenOffsets(self, start: dict, end: dict):
        for k in range(start["run"], end["run"]):
            yield from _gen_rows(f"{self.prefix}-{k}", self.scenario, 0, self.n)


class GroceryTxnDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "grocery_txns"

    def schema(self) -> str:
        return SCHEMA_DDL

    def reader(self, schema) -> DataSourceReader:
        return _GroceryReader(self.options)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return _GroceryStreamReader(self.options)
