"""Unit tests for the benchmark's pure functions.

    python -m pytest loadbench/tests -q
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402
import spans  # noqa: E402
import stats  # noqa: E402


def test_quantile_matches_linear_interpolation():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.quantile(xs, 0) == 1.0
    assert stats.quantile(xs, 100) == 5.0
    assert stats.median(xs) == statistics.median(xs)
    assert stats.quantile([1.0, 2.0], 25) == pytest.approx(1.25)
    with pytest.raises(ValueError):
        stats.quantile([], 50)


@pytest.mark.parametrize(
    "n, want",
    [(1, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond(n, want):
    assert stats.tail_percentile(n) == want
    if want is not None:
        assert stats.samples_beyond(n, want) >= stats.TAIL_MIN_BEYOND


def test_samples_beyond_counts_ranks_above_the_percentile():
    assert stats.samples_beyond(100, 90) == 10
    assert stats.samples_beyond(101, 90) == 10  # rank ceil(90.9) = 91
    assert stats.samples_beyond(10, 50) == 5


def test_union_length_merges_overlaps():
    assert stats.union_length([]) == 0.0
    assert stats.union_length([(0, 1), (2, 3)]) == 2.0
    assert stats.union_length([(0, 2), (1, 3)]) == 3.0
    assert stats.union_length([(0, 4), (1, 2)]) == 4.0
    assert stats.union_length([(3, 3), (5, 4)]) == 0.0


def _span(id_, parent, start, end):
    return {"id": id_, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_covered_child_time_once():
    spans_ = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 5.0),  # overlaps span 2: covered 1..5 counts once
        _span(4, 2, 1.5, 2.0),  # grandchild: only its parent's self time
        _span(5, 1, 9.0, 12.0),  # sticks out: clipped to the parent's end
    ]
    got = stats.self_times(spans_)
    assert got[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert got[2] == pytest.approx(3.0 - 0.5)
    assert got[3] == pytest.approx(2.0)
    assert got[4] == pytest.approx(0.5)
    assert got[5] == pytest.approx(3.0)


def test_amplification_ratios():
    assert stats.write_amp(700, 100) == 7.0
    assert stats.space_amp(15, 100) == 0.15
    assert stats.rewrite_ratio(3_000, 1_500) == 2.0
    # no base: nothing was ingested, so nothing is amplified
    assert stats.write_amp(10, 0) == 0.0
    assert stats.rewrite_ratio(0, 0) == 0.0


def test_files_delta_counts_new_and_rewritten_files():
    before = {"a": (10, 1.0), "b": (20, 1.0), "gone": (5, 1.0)}
    after = {"a": (10, 1.0), "b": (25, 2.0), "c": (7, 3.0)}
    assert stats.files_delta(before, after) == (2, 32)
    assert stats.files_delta({}, {}) == (0, 0)


def test_tracer_records_parents_and_restores_wrapped_functions():
    class Mod:
        @staticmethod
        def inner(x):
            return x + 1

        @staticmethod
        def outer(x):
            return Mod.inner(x) * 2

    orig_inner, orig_outer = Mod.inner, Mod.outer
    t = spans.Tracer()
    t.wrap(Mod, "inner", "m.inner")
    t.wrap(Mod, "outer", "m.outer")
    t.op_id = 7
    assert Mod.outer(1) == 4
    t.unwrap_all()
    assert Mod.inner is orig_inner and Mod.outer is orig_outer
    by_name = {s["name"]: s for s in t.spans}
    assert by_name["m.inner"]["parent"] == by_name["m.outer"]["id"]
    assert by_name["m.outer"]["parent"] is None
    assert {s["op"] for s in t.spans} == {7}
    assert all(s["start"] <= s["end"] for s in t.spans)


def test_spark_rest_parsers():
    assert spans.parse_time("1970-01-01T00:00:01.500GMT") == 1.5
    assert spans.parse_size("12.0 KiB") == 12 * 1024
    assert spans.parse_size("total (min, med, max)\n2.0 MiB (0.0 B, 1.0 MiB, 1.0 MiB)") == 2 * 2**20
    node = {"metrics": [{"name": "data sent to Python workers", "value": "1.0 KiB"},
                        {"name": "number of output rows", "value": "5"}]}
    assert spans.sql_python_bytes({"nodes": [node]}) == 1024


def test_corpus_inputs_are_a_function_of_the_seed(tmp_path):
    a, b, c = (tmp_path / n for n in "abc")
    assert inputs.write_corpus(str(a), 3, 200, 50) == {"documents": 200, "embeddings": 50}
    inputs.write_corpus(str(b), 3, 200, 50)
    inputs.write_corpus(str(c), 4, 200, 50)
    for table in ("documents.parquet", "embeddings.parquet"):
        assert (a / table).read_bytes() == (b / table).read_bytes()
        assert (a / table).read_bytes() != (c / table).read_bytes()
