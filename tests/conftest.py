"""Shared Spark fixture + golden-table comparators.

Mirrors mismo's test harness (mismo/conftest.py:20-39,
mismo/tests/util.py:12-100): a session-scoped backend fixture, an
order-insensitive table comparator with approx floats, and a
cluster-set oracle.
"""

from __future__ import annotations

import math
import os

import pytest
from pyspark.sql import DataFrame

from mismo_spark.session import get_spark

# The suite's data is tiny, but the JVM grows lazily toward get_spark's
# 48g default heap and, over the whole suite in one process, outgrows a
# 16 GB host. A few GB is ample for every test; an explicit setting wins.
os.environ.setdefault("MISMO_SPARK_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "mismo_spark_tests",
        master="local[4]",
        shuffle_partitions=2,
        extra_conf={"spark.default.parallelism": "4"},
    )
    yield s
    s.stop()


@pytest.fixture
def t1(spark):
    """mismo/conftest.py:59-68."""
    return spark.createDataFrame(
        [(0, 1, "a", ["a", "b"]), (1, 2, "b", ["b"]), (2, 3, "c", [])],
        "record_id long, int long, letter string, array array<string>",
    )


@pytest.fixture
def t2(spark):
    """mismo/conftest.py:70-80."""
    return spark.createDataFrame(
        [
            (90, 2, "b", ["b"]),
            (91, 4, "c", ["c"]),
            (92, None, "d", ["d"]),
            (93, 6, None, None),
        ],
        "record_id long, int long, letter string, array array<string>",
    )


@pytest.fixture
def counts_records(spark):
    """FIXTURES.md F3 / mismo/linker/tests/test_key_linker_counts.py:13-22."""
    return spark.createDataFrame(
        [
            (1, "a", 1),
            (2, "b", 1),
            (3, "b", 1),
            (4, "c", 3),
            (5, "b", 2),
            (6, "c", 3),
            (7, None, 4),
            (8, "c", 3),
        ],
        "record_id long, letter string, num long",
    )


def rows_set(df: DataFrame):
    """Canonicalized set of rows (order-insensitive compare)."""
    def canon(v):
        if isinstance(v, float):
            return round(v, 9)
        if isinstance(v, list):
            return tuple(canon(x) for x in v)
        if isinstance(v, dict):
            return tuple(sorted((k, canon(x)) for k, x in v.items()))
        return v

    return {tuple(canon(v) for v in row) for row in df.collect()}


def assert_df_equal(actual: DataFrame, expected_rows, columns=None, approx=False):
    """Compare a DataFrame against expected tuples, order-insensitive,
    floats to rel 1e-3 when approx=True (mismo/tests/util.py:12-68)."""
    act = actual.select(*columns) if columns else actual
    got = rows_set(act)
    want = {tuple(r) for r in expected_rows}
    if not approx:
        assert got == want, f"\ngot:  {sorted(got, key=repr)}\nwant: {sorted(want, key=repr)}"
        return
    assert len(got) == len(want)
    for g in got:
        assert any(_row_approx(g, w) for w in want), f"no match for {g}"


def _row_approx(a, b, rel=1e-3):
    if len(a) != len(b):
        return False
    for x, y in zip(a, b):
        if isinstance(x, float) and isinstance(y, float):
            if math.isnan(x) and math.isnan(y):
                continue
            if not math.isclose(x, y, rel_tol=rel, abs_tol=1e-9):
                return False
        elif x != y:
            return False
    return True


def get_clusters(components_df: DataFrame) -> set[frozenset]:
    """Cluster-set oracle (mismo/tests/util.py:71-100):
    (record_id, component) → {frozenset(record_ids)}."""
    by_comp: dict = {}
    for row in components_df.collect():
        by_comp.setdefault(row["component"], set()).add(row["record_id"])
    return {frozenset(v) for v in by_comp.values()}
