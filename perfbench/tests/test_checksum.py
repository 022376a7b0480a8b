"""The output checksum is blind to row order and float summation noise,
and sees any changed value.  Needs a local Spark session."""

from __future__ import annotations

import itertools
import os
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path[:0] = [os.path.dirname(HERE), HERE]

pytest.importorskip("pyspark")


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (SparkSession.builder.master("local[2]").appName("perfbench-tests")
         .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
         .getOrCreate())
    yield s
    s.stop()


_tags = itertools.count()


def _sums(spark, rows, schema):
    import ops

    return ops.materialize(spark.createDataFrame(rows, schema), f"t{next(_tags)}")


SCHEMA = "k string, x double, v array<float>, m map<string,double>"


def test_checksum_ignores_row_order(spark):
    rows = [("a", 1.5, [0.25], {"p": 1.0}), ("b", None, [], None), ("c", -2.0, None, {"q": 2.0})]
    assert _sums(spark, rows, SCHEMA) == _sums(spark, rows[::-1], SCHEMA)
    assert _sums(spark, rows, SCHEMA)["rows"] == 3


def test_checksum_ignores_last_bit_float_noise(spark):
    a = [("a", 0.1 + 0.2, [0.5], None)]
    b = [("a", 0.3, [0.5], None)]  # 0.1 + 0.2 != 0.3 in binary
    assert _sums(spark, a, SCHEMA) == _sums(spark, b, SCHEMA)
    assert _sums(spark, [("a", -0.0, None, None)], SCHEMA) == _sums(spark, [("a", 0.0, None, None)], SCHEMA)


def test_checksum_sees_a_changed_value(spark):
    base = [("a", 1.0, [0.5], {"p": 1.0}), ("b", 2.0, [0.5], None)]
    for changed in (
        [("a", 1.0, [0.5], {"p": 1.0}), ("b", 2.0001, [0.5], None)],
        [("a", 1.0, [0.5], {"p": 1.0}), ("c", 2.0, [0.5], None)],
        [("a", 1.0, [0.5], {"p": 1.5}), ("b", 2.0, [0.5], None)],
        [("a", 1.0, [0.5], {"p": 1.0}), ("b", 2.0, [0.5], None), ("b", 2.0, [0.5], None)],
    ):
        assert _sums(spark, base, SCHEMA) != _sums(spark, changed, SCHEMA)
