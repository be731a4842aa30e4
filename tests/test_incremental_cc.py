"""incremental_components == connected_components on the union graph,
on the driver fold and on the Spark path (the ``fold`` fixture)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from mismo_spark.cluster.cc import connected_components
from mismo_spark.cluster.incremental import incremental_components
from tests.conftest import broadcast_threshold


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
    full = connected_components(edges(old_pairs + new_pairs), ids(sorted(every)))
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
    ],
    ids=["id-in-assignments", "no-new-records", "empty", "empty-no-records",
         "duplicates-self-loops", "merge-old"],
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


@pytest.mark.parametrize(
    "rows", [len(BIG_NEW) + len(BIG_NEW_IDS), 40], ids=["batch", "touched"]
)
def test_fold_over_budget_runs_spark_path(spark, folds, collects, rows):
    """A threshold one row short of the batch's rows (links plus one
    self-loop per new record) or of the touched rows: the fold gives up
    and the Spark path runs, and no collect holds more than the
    threshold (16 bytes a row of two longs)."""
    old = connected_components(_edges(spark, BIG_OLD), _ids(spark, range(40)))
    want = _rows(
        connected_components(
            _edges(spark, BIG_OLD + BIG_NEW), _ids(spark, [*range(40), *BIG_NEW_IDS])
        )
    )
    collects.clear()
    threshold = 16 * rows - 1
    with broadcast_threshold(spark, str(threshold)):
        got = _rows(
            incremental_components(old, _edges(spark, BIG_NEW), _ids(spark, BIG_NEW_IDS))
        )
    assert got == want
    # an over-budget batch is never solved; touched rows over it are
    # found by the one touched query the Spark path then reuses
    assert folds == ([None] if rows == 40 else [])
    assert collects and max(collects) * 16 <= threshold


@pytest.mark.parametrize(
    "threshold",
    [str(10 * 2**20), "-1", str(16 * len(BIG_NEW) - 1), str(16 * 40 - 1)],
    ids=["driver", "spark", "batch-over", "touched-over"],
)
def test_links_plan_runs_once(spark, threshold):
    """The caller's links plan runs once per row on the driver fold,
    on the Spark path, and when the fold collects the links and then
    finds them, or the touched rows, over the budget."""
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


def test_touched_over_budget_reads_assignments_as_spark_path(spark):
    """A fold that finds the touched rows over the budget goes on from
    the checkpoint its touched query filled: it reads ``assignments``
    as often as the Spark path does, three times per row: the touched
    components, the touched rows, the untouched anti-join (whose
    touched components come from a checkpoint, not a fourth read)."""
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

    assert reads(str(16 * 40 - 1)) == 3 * 40
    assert reads("-1") == 3 * 40
