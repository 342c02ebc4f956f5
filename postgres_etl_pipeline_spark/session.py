"""SparkSession factory.

Defaults chosen for Postgres-parity semantics (SURVEY §2.9) and scale
(SURVEY §4.2):

- ``spark.sql.session.timeZone=UTC``: the reference stores TIMESTAMPTZ in UTC
  (reference ``sql/init.sql:20,29``; API emits ISO-8601 UTC
  ``mock_pos_api/app.py:25``).
- ``spark.sql.ansi.enabled=true`` (Spark 4 default): cast('oops' as int) and
  x/0 raise, matching Postgres (reference ``dbt_retail/models/staging/
  stg_transactions.sql:32,38``). Engine code that *wants* null-on-failure uses
  ``try_cast`` / ``try_divide`` explicitly.
- AQE on: runtime join re-planning + skew-join splitting at scale.
- shuffle.partitions sized to local cores here; on a real cluster leave AQE's
  coalescing to right-size post-shuffle partitions.
"""

from __future__ import annotations

import os
from contextlib import contextmanager
from datetime import timezone
from typing import Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import DataType, StructType, TimestampType

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def build_session(
    app_name: str = "postgres-etl-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession configured for this engine.

    On a cluster, ``master`` comes from spark-submit; locally we default to
    ``local[N]`` with N = SPARK_GRAFT_CPUS (default 32).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
    )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


@contextmanager
def scoped_conf(spark: SparkSession, confs: dict[str, str]) -> Iterator[SparkSession]:
    """Set session confs for the duration of the block, then restore priors.

    For confs consumed at *relation-creation* time (e.g.
    ``spark.sql.legacy.parquet.nanosAsLong``, baked into the parquet
    relation when ``spark.read`` resolves it) this scopes the override to
    the reads inside the block without leaking mutated session state to
    later, unrelated reads — which should fail loudly on nanos timestamps
    rather than silently producing bigint columns.
    """
    priors: dict[str, str | None] = {}
    for k, v in confs.items():
        priors[k] = spark.conf.get(k, None)
        spark.conf.set(k, v)
    try:
        yield spark
    finally:
        for k, prior in priors.items():
            if prior is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, prior)


def arrow_schema(schema: StructType | str):
    """The pyarrow schema of a StructType or DDL string (``"a long, b
    array<double>"``) — Spark's own type mapping, shared by
    :func:`local_frame` and the driver-side index sidecar reads/writes."""
    from pyspark.sql.pandas.types import to_arrow_schema

    return to_arrow_schema(DataType.fromDDL(schema) if isinstance(schema, str) else schema)


def local_frame(spark: SparkSession, rows: Iterable, schema: StructType | str) -> DataFrame:
    """Driver-side rows as a DataFrame that plans as a JVM ``LocalRelation``.

    ``spark.createDataFrame(list, schema)`` pickles the rows into a Python
    RDD (``LogicalRDD``): the first action over it runs a Spark job that
    starts Python workers only to unpickle a handful of rows. Handing the
    rows to the JVM as an Arrow table instead gives a ``LocalRelation``:
    Catalyst folds projections over it on the driver, collecting it runs no
    job, and a join broadcasts it without any Python process. ``rows`` are
    tuples (or Rows) in schema order, or dicts keyed by field name; types
    are exactly ``schema``'s. As with ``createDataFrame`` over a list, a None
    in a non-nullable field raises, and a naive ``datetime`` in a timestamp
    column is read as local time — so collected rows round-trip unchanged.
    """
    import pyarrow as pa

    struct = DataType.fromDDL(schema) if isinstance(schema, str) else schema
    target = arrow_schema(struct)
    rows = list(rows)
    width = len(struct.fields)
    if rows and isinstance(rows[0], dict):
        columns = [[r.get(name) for r in rows] for name in struct.names]
    else:
        if any(len(r) != width for r in rows):
            raise ValueError(f"every row must have {width} fields: {struct.simpleString()}")
        columns = [[r[i] for r in rows] for i in range(width)]
    arrays = []
    for values, field, afield in zip(columns, struct.fields, target):
        if isinstance(field.dataType, TimestampType):
            # pyarrow would take any datetime's wall clock as UTC
            values = [None if v is None else v.astimezone(timezone.utc) for v in values]
        arr = pa.array(values, type=afield.type)
        if arr.null_count and not field.nullable:
            raise ValueError(f"field {field.name}: not nullable, but got None")
        arrays.append(arr)
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=target), struct)
