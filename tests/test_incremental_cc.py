"""incremental_components == connected_components on the union graph,
on the driver fold and on the Spark path (the ``fold`` fixture)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from mismo_spark.cluster.cc import connected_components
from mismo_spark.cluster.incremental import incremental_components
from tests.conftest import broadcast_threshold, spark_jobs


def _edges(spark, pairs):
    return spark.createDataFrame(
        pairs, "record_id_l long, record_id_r long"
    )


def _ids(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "record_id long")


def _assign(df):
    return {r["record_id"]: r["component"] for r in df.collect()}


BOTH_PATHS = pytest.mark.parametrize("fold", ["driver", "spark"], indirect=True)


def test_incremental_equals_full_recompute_randomized(spark, fold):
    rng = random.Random(7)
    n_old, n_new = 40, 12
    old_edges = [
        (a, b)
        for a in range(n_old)
        for b in rng.sample(range(n_old), 2)
        if rng.random() < 0.15 and a != b
    ]
    new_ids = list(range(100, 100 + n_new))
    # new edges: new-new, new-old, old-old (component-merging) mixes
    new_edges = (
        [(rng.choice(new_ids), rng.choice(new_ids)) for _ in range(6)]
        + [(rng.choice(new_ids), rng.choice(range(n_old))) for _ in range(6)]
        + [(rng.choice(range(n_old)), rng.choice(range(n_old))) for _ in range(4)]
    )
    new_edges = [(a, b) for a, b in new_edges if a != b]

    old = connected_components(
        _edges(spark, old_edges), _ids(spark, range(n_old))
    )
    inc = _assign(
        incremental_components(old, _edges(spark, new_edges), _ids(spark, new_ids))
    )
    full = connected_components(
        _edges(spark, old_edges + new_edges),
        _ids(spark, list(range(n_old)) + new_ids),
    )
    assert inc == _assign(full)


def test_incremental_untouched_components_pass_through(spark, fold):
    old_edges = [(0, 1), (2, 3), (4, 5)]
    old = connected_components(_edges(spark, old_edges), _ids(spark, range(6)))
    # one new edge merges {0,1} with {2,3}; {4,5} must be untouched
    got = _assign(incremental_components(old, _edges(spark, [(1, 2)])))
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4}


def test_incremental_pure_new_batch(spark, fold):
    old = connected_components(_edges(spark, [(0, 1)]), _ids(spark, range(2)))
    got = _assign(
        incremental_components(
            old, _edges(spark, [(10, 11)]), _ids(spark, [10, 11, 12])
        )
    )
    assert got == {0: 0, 1: 0, 10: 10, 11: 10, 12: 12}


@pytest.mark.parametrize("fold", ["spark"], indirect=True)
@pytest.mark.parametrize(
    "case",
    [
        test_incremental_equals_full_recompute_randomized,
        test_incremental_untouched_components_pass_through,
        test_incremental_pure_new_batch,
    ],
    ids=["randomized", "untouched", "pure-new"],
)
def test_on_spark_path(spark, fold, case):
    case(spark, fold)


def _rows(df):
    # NULLs sort last instead of failing the comparison
    return sorted(df.collect(), key=lambda r: tuple((v is None, v) for v in r))


def _fold_equals_scratch(
    spark, old_pairs, old_ids, new_pairs, new_ids, id_type="long"
):
    """Rows of the fold == rows of a from-scratch CC over the union."""
    edges = lambda pairs: spark.createDataFrame(  # noqa: E731
        pairs, f"record_id_l {id_type}, record_id_r {id_type}"
    )
    ids = lambda xs: spark.createDataFrame(  # noqa: E731
        [(x,) for x in xs], f"record_id {id_type}"
    )
    old = connected_components(edges(old_pairs), ids(old_ids))
    inc = _rows(
        incremental_components(
            old, edges(new_pairs), None if new_ids is None else ids(new_ids)
        )
    )
    every = set(old_ids) | set(new_ids or []) | {x for p in new_pairs for x in p}
    # a NULL endpoint joins nothing; as a record it is one (NULL, NULL) row
    full = connected_components(
        edges(old_pairs + new_pairs), ids(sorted(every, key=lambda x: (x is None, x)))
    )
    assert inc == _rows(full)


OLD_PAIRS = [(0, 1), (1, 2), (3, 4), (5, 6), (6, 7), (8, 9)]
OLD_IDS = list(range(12))


@pytest.mark.parametrize(
    "new_pairs,new_ids",
    [
        # a new record id that is already in `assignments`
        ([(4, 20), (20, 21)], [4, 20, 21, 22]),
        # no new_records: only the links' endpoints enter
        ([(2, 30), (30, 31), (10, 32)], None),
        # an empty links batch, with and without new records
        ([], [40, 41]),
        ([], None),
        # duplicate links and self-loops
        ([(5, 50), (5, 50), (50, 5), (50, 50), (11, 11)], [50]),
        # a merge of two old components
        ([(2, 7)], []),
        # NULL endpoints, next to a link to an old component
        ([(2, None), (None, 40), (40, 41), (None, None)], [42]),
    ],
    ids=["id-in-assignments", "no-new-records", "empty", "empty-no-records",
         "duplicates-self-loops", "merge-old", "null-endpoint"],
)
@BOTH_PATHS
def test_fold_rows_equal_scratch(spark, fold, new_pairs, new_ids):
    _fold_equals_scratch(spark, OLD_PAIRS, OLD_IDS, new_pairs, new_ids)


@BOTH_PATHS
def test_fold_string_ids_rows_equal_scratch(spark, fold):
    # string ids stay on the Spark path; "r10" < "r9", so the minimum
    # is taken over the strings themselves
    fold.driver = False
    s = lambda pairs: [(f"r{a}", f"r{b}") for a, b in pairs]  # noqa: E731
    _fold_equals_scratch(
        spark,
        s(OLD_PAIRS),
        [f"r{i}" for i in OLD_IDS],
        s([(9, 10), (2, 7), (7, 7), (9, 10)]),
        ["r10", "r99"],
        id_type="string",
    )


@pytest.fixture
def collects(spark, monkeypatch):
    """Rows of every DataFrame.toArrow the test makes."""
    frame = type(spark.range(0))
    seen = []
    to_arrow = frame.toArrow

    def spy(self):
        tbl = to_arrow(self)
        seen.append(tbl.num_rows)
        return tbl

    monkeypatch.setattr(frame, "toArrow", spy)
    return seen


# one old component of 40 records; the batch links two new records to it
BIG_OLD = [(i, i + 1) for i in range(39)]
BIG_NEW = [(39, 100), (100, 101)]
BIG_NEW_IDS = [100, 101]


def _big_fold(spark, collects, threshold, new_ids):
    """Rows of the fold of ``BIG_NEW`` (and ``new_ids``) into the
    40-record component under ``threshold``, and of a from-scratch CC;
    ``collects`` then holds the fold's collects only."""
    old = connected_components(_edges(spark, BIG_OLD), _ids(spark, range(40)))
    every = [*range(40), 100, 101]
    want = _rows(connected_components(_edges(spark, BIG_OLD + BIG_NEW), _ids(spark, every)))
    new = None if new_ids is None else _ids(spark, new_ids)
    collects.clear()
    with broadcast_threshold(spark, str(threshold)):
        return _rows(incremental_components(old, _edges(spark, BIG_NEW), new)), want


@pytest.mark.parametrize(
    "new_ids,threshold",
    # 4 batch rows (links plus one self-loop per new record) over a
    # 3-row threshold; 2 rows that fit it, but 3 distinct ids that do not
    [(BIG_NEW_IDS, 16 * 4 - 1), (None, 16 * 3)],
    ids=["batch", "ids"],
)
def test_fold_over_budget_runs_spark_path(spark, folds, collects, new_ids, threshold):
    """A batch whose rows or distinct ids reach the threshold (16 bytes
    a row of two longs) is never solved on the driver: the Spark path
    runs, and no collect holds more than the threshold."""
    got, want = _big_fold(spark, collects, threshold, new_ids)
    assert got == want
    assert folds == []
    assert collects and max(collects) * 16 <= threshold


def test_component_over_budget_folds_on_driver(spark, folds, collects):
    """A touched component 8 times over the threshold (40 rows; the
    threshold holds 5) folds on the driver all the same: it enters as
    its label, so no collect holds more than the batch's rows or ids."""
    threshold = 16 * 5
    got, want = _big_fold(spark, collects, threshold, BIG_NEW_IDS)
    assert got == want
    assert len(folds) == 1
    # the batch's 4 rows, then one lookup row: record 39's component
    assert collects == [4, 1]


@pytest.mark.parametrize(
    "threshold",
    [str(10 * 2**20), "-1", str(16 * len(BIG_NEW) - 1), str(16 * 40 - 1)],
    ids=["driver", "spark", "batch-over", "touched-over"],
)
def test_links_plan_runs_once(spark, threshold):
    """The caller's links plan runs once per row on the driver fold
    (also with the touched component over the budget), on the Spark
    path, and when the fold collects the links and then finds them over
    the budget."""
    acc = spark.sparkContext.accumulator(0)

    def seen(x):
        acc.add(1)
        return x

    old = connected_components(
        spark.createDataFrame(BIG_OLD, "record_id_l long, record_id_r long"),
        spark.createDataFrame([(i,) for i in range(40)], "record_id long"),
    ).localCheckpoint()
    links = spark.createDataFrame(BIG_NEW, "record_id_l long, record_id_r long").select(
        F.udf(seen, "long").asNondeterministic()("record_id_l").alias("record_id_l"),
        "record_id_r",
    )
    with broadcast_threshold(spark, threshold):
        got = _rows(incremental_components(old, links))
    assert got == [(i, 0) for i in [*range(40), 100, 101]]
    assert acc.value == len(BIG_NEW)


def test_both_paths_read_assignments_twice(spark, folds):
    """The fold reads ``assignments`` exactly twice per row, on the
    driver (with the touched component over the budget) and on the
    Spark path: once to look up the batch's components, once to
    relabel them.  No touched row is read again."""
    links = _edges(spark, BIG_NEW)
    base = connected_components(_edges(spark, BIG_OLD), _ids(spark, range(40)))
    base = base.localCheckpoint()

    def reads(threshold):
        acc = spark.sparkContext.accumulator(0)

        def seen(x):
            acc.add(1)
            return x

        old = base.select(
            F.udf(seen, "long").asNondeterministic()("record_id").alias("record_id"),
            "component",
        )
        with broadcast_threshold(spark, threshold):
            got = _rows(incremental_components(old, links))
        assert got == [(i, 0) for i in [*range(40), 100, 101]]
        return acc.value

    assert reads(str(16 * 40 - 1)) == 2 * 40
    assert len(folds) == 1
    assert reads("-1") == 2 * 40
    assert len(folds) == 1


def test_driver_fold_runs_three_jobs(spark, folds):
    """A fold solved on the driver runs at most 3 Spark jobs before the
    caller reads its result: the batch's collect, then the broadcast of
    the batch's ids and the lookup's collect.  Re-entering the touched
    components as rows took 4."""
    old = connected_components(_edges(spark, OLD_PAIRS), _ids(spark, OLD_IDS))
    old = old.localCheckpoint()
    links, new = _edges(spark, [(2, 7), (20, 21)]), _ids(spark, [20, 21, 22])
    with spark_jobs(spark) as jobs:
        out = incremental_components(old, links, new)
    assert len(folds) == 1
    assert len(jobs) <= 3
    want = connected_components(
        _edges(spark, OLD_PAIRS + [(2, 7), (20, 21)]), _ids(spark, [*OLD_IDS, 20, 21, 22])
    )
    assert _rows(out) == _rows(want)
