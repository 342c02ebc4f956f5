"""``session.local_frame``: driver-side rows → a JVM LocalRelation.

Pins that the Arrow construction yields exactly what
``spark.createDataFrame(list, schema)`` yields for every type the
package passes, and that no module builds a Python-RDD frame beside it.
"""

from __future__ import annotations

import ast
import math
import os
import time
from datetime import date, datetime, timedelta, timezone
from pathlib import Path

import pytest

from postgres_etl_pipeline_spark.session import local_frame

ALL_TYPES = (
    "l long, i int, d double, s string, b boolean, ad array<double>,"
    " al array<long>, dt date, ts timestamp"
)
UTC = timezone.utc
ROWS = [
    (1, 2, 1.5, "plain", True, [1.0, 2.5], [1, 2], date(2024, 1, 2),
     datetime(2024, 1, 2, 3, 4, 5, 678901, tzinfo=UTC)),
    (-(2**63), -(2**31), float("nan"), "it's \"quoted\"", False, [float("nan"), -0.0],
     [2**62], date(1970, 1, 1), datetime(1969, 12, 31, 23, 59, 59, tzinfo=UTC)),
    (2**63 - 1, 2**31 - 1, -0.0, "naïve — 日本語 ✓", True, [], [],
     date(2099, 12, 31), datetime(2024, 6, 1, 12, tzinfo=timezone(timedelta(hours=-7)))),
    (0, 0, math.inf, "", False, [None, 1.0], [None], date(2000, 2, 29),
     datetime(2000, 2, 29, tzinfo=UTC)),
    (None, None, None, None, None, None, None, None, None),
]


def _same(spark, rows, schema):
    """``local_frame`` and the list construction agree on schema, row
    order and every value (repr keeps NaN, -0.0 and types visible)."""
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert [repr(r) for r in got.collect()] == [repr(r) for r in want.collect()]
    return got


def test_every_package_type_matches_the_list_construction(spark):
    _same(spark, ROWS, ALL_TYPES)


def test_dict_rows_are_matched_by_field_name(spark):
    names = [f.strip().split(" ")[0] for f in ALL_TYPES.split(",")]
    rows = [dict(reversed(list(zip(names, r)))) | {"extra": 1} for r in ROWS]
    _same(spark, rows, ALL_TYPES)


def test_collected_rows_round_trip(spark):
    df = local_frame(spark, ROWS, ALL_TYPES)
    again = local_frame(spark, df.collect(), df.schema)
    assert [repr(r) for r in again.collect()] == [repr(r) for r in df.collect()]


def test_empty_rows_with_a_ddl_schema(spark):
    df = _same(spark, [], ALL_TYPES)
    assert df.count() == 0
    assert df.columns == ["l", "i", "d", "s", "b", "ad", "al", "dt", "ts"]


def test_non_nullable_field_rejects_none(spark):
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("k", T.StringType(), False)])
    with pytest.raises(ValueError):
        spark.createDataFrame([(None,)], schema)
    with pytest.raises(ValueError):
        local_frame(spark, [(None,)], schema)


def test_row_width_must_match_the_schema(spark):
    with pytest.raises(ValueError):
        local_frame(spark, [(1, 2)], "a long")


@pytest.fixture
def new_york_host(monkeypatch):
    """The driver process's local timezone set to America/New_York."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def test_naive_datetime_is_read_as_local_time_like_the_list_path(spark, new_york_host):
    """Decision: a naive ``datetime`` is CONVERTED as ``createDataFrame``
    converts it — as the driver's local time — not rejected. Collected
    timestamps come back naive in local time, so this keeps them
    round-tripping; reading them as UTC instead would shift them by the
    host's offset off a UTC host."""
    naive = datetime(2024, 7, 1, 12, 30)
    df = _same(spark, [(naive,)], "ts timestamp")
    assert df.selectExpr("unix_micros(ts) AS us").first().us == int(
        naive.astimezone(UTC).timestamp() * 1_000_000
    )
    assert naive.astimezone(UTC).hour == 16  # EDT: the conversion is not a no-op


def test_no_python_rdd_frames_outside_local_frame():
    """Tooling guard: every driver-rows → DataFrame construction in the
    package goes through ``local_frame``. A ``createDataFrame`` or
    ``parallelize`` call anywhere else would bring back a pickled Python
    RDD (and the Python workers that read it)."""
    root = Path(__file__).resolve().parent.parent / "postgres_etl_pipeline_spark"
    offenders = []
    for path in sorted(root.rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        allowed = set()
        for node in ast.walk(tree):
            if isinstance(node, ast.FunctionDef) and node.name == "local_frame":
                allowed |= {id(n) for n in ast.walk(node)}
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("createDataFrame", "parallelize")
                and id(node) not in allowed
            ):
                offenders.append(f"{os.path.relpath(path, root)}:{node.lineno}")
    assert offenders == []
