"""Sources (SURVEY §2.1).

S2 whole-doc JSON, S3 NDJSON, S4 JDBC table reads — schema-on-read with
explicit StructTypes only (contracts are never inferred, SURVEY §1.3), with
PERMISSIVE + ``_corrupt_record`` as the malformed-input quarantine path the
reference's README promised but never built (SURVEY §0).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def _with_corrupt(schema: T.StructType) -> T.StructType:
    if "_corrupt_record" in schema.fieldNames():
        return schema
    return T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType(), True)]
    )


def read_json_doc(
    spark: SparkSession, path: str, schema: T.StructType, strict: bool = False
) -> DataFrame:
    """S2 — one JSON document (object with nested array), the raw-payload
    artifact shape (``grocery_lib/io_utils.py:92-100``).

    PERMISSIVE by default: corrupt input lands in ``_corrupt_record`` for
    the V2 check / quarantine instead of failing the read (the reference
    raises on ``json.loads``, ``grocery_validate_dag.py:52-54``; strict=True
    reproduces that with FAILFAST).
    """
    reader = (
        spark.read.schema(schema if strict else _with_corrupt(schema))
        .option("multiLine", True)
        .option("mode", "FAILFAST" if strict else "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    return reader.json(path)


def read_ndjson(
    spark: SparkSession, path: str, schema: T.StructType, strict: bool = False
) -> DataFrame:
    """S3 — line-delimited JSON (Spark's native JSON source;
    ``grocery_enrich_dag.py:40-45`` loops lines — here each line is a task-
    parallel record and the 100 TB case is just more splits)."""
    reader = (
        spark.read.schema(schema if strict else _with_corrupt(schema))
        .option("mode", "FAILFAST" if strict else "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
    )
    return reader.json(path)


def read_jdbc_table(
    spark: SparkSession,
    url: str,
    table: str,
    *,
    partition_column: str | None = None,
    num_partitions: int = 8,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    **options: str,
) -> DataFrame:
    """S4 — JDBC table read (``grocery_lib/pg.py:26-30`` fetch_all).

    Scale notes: a bare JDBC read is ONE connection / ONE partition — at any
    real size pass ``partition_column`` + bounds so Spark issues
    ``num_partitions`` range-sliced queries in parallel. Predicate pushdown
    is on by default (filters reach the remote WHERE clause).

    Requires the vendor JDBC driver jar on the classpath. Exercised live in
    tests/test_jdbc.py against embedded Derby (ships with Spark): write →
    plain and range-partitioned read-back, remote-WHERE pushdown.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned JDBC read needs lower/upper bounds")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def read_parquet_evolving(
    spark: SparkSession,
    path: str,
    expected: T.StructType | None = None,
) -> DataFrame:
    """Schema-evolution parquet read: merge footers across files written
    by OLD and NEW producers (``mergeSchema`` — per-file footer union, so
    files written before a column existed surface it as NULL), then
    optionally conform to an ``expected`` contract: required columns are
    selected in contract order; missing-from-every-file columns raise; a
    merged on-disk type that differs from the contract raises ValueError
    unless it is a SAFE WIDENING (int→long, float→double — the upcasts
    parquet writers actually evolve through), which is cast up; extra
    on-disk columns are dropped. Castable-but-incompatible types (e.g.
    string on disk vs LongType in the contract) are REJECTED, never
    silently coerced into NULLs/ANSI runtime errors (advice r05).

    The 100 TB operational reality this serves: a long-lived table is
    never rewritten when a column is added — writers upgrade gradually
    and readers must handle the mix. ``mergeSchema`` is off by default in
    Spark because footer-merging every file costs a distributed pass;
    this helper is the explicit opt-in for exactly the tables where that
    cost is the point.
    """
    df = spark.read.option("mergeSchema", "true").parquet(path)
    if expected is None:
        return df
    from pyspark.sql import functions as F

    present = set(df.columns)  # one schema fetch, not one per field
    missing = [f.name for f in expected.fields if f.name not in present]
    if missing:
        raise ValueError(
            f"columns {missing} absent from every file under {path!r} — "
            "not schema evolution, a broken contract"
        )
    widenings = {  # on-disk simpleString -> contract types it may upcast to
        "int": {"bigint"},
        "smallint": {"int", "bigint"},
        "tinyint": {"smallint", "int", "bigint"},
        "float": {"double"},
    }
    on_disk = {f.name: f.dataType for f in df.schema.fields}
    bad = {
        f.name: (on_disk[f.name].simpleString(), f.dataType.simpleString())
        for f in expected.fields
        if on_disk[f.name] != f.dataType
        and f.dataType.simpleString()
        not in widenings.get(on_disk[f.name].simpleString(), set())
    }
    if bad:
        raise ValueError(
            f"incompatible on-disk types under {path!r}: "
            + ", ".join(f"{c}: {got} vs contract {want}" for c, (got, want) in sorted(bad.items()))
            + " — only safe widenings (int->long, float->double) are conformed"
        )
    return df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in expected.fields]
    )
