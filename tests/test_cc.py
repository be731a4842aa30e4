"""Connected components — FIXTURES.md F4 edge cases for BOTH algorithms
(mismo/cluster/test/test_connected_components.py:17-153)."""

from __future__ import annotations

import os
import random

import pytest

from mismo_spark import connected_components
from tests.conftest import broadcast_threshold, get_clusters, spark_jobs

# "star" takes the driver finish on these small graphs; "star-rounds"
# is star with broadcasting off, so the large-star/small-star rounds run
ALGOS = ["naive", "star", "star-rounds"]


@pytest.fixture
def algo(request, spark):
    if request.param != "star-rounds":
        yield request.param
        return
    with broadcast_threshold(spark, "-1"):
        yield "star"


def edges_df(spark, pairs):
    return spark.createDataFrame(
        pairs, "record_id_l long, record_id_r long"
    )


@pytest.mark.parametrize("algo", ALGOS, indirect=True)
def test_chain(spark, algo):
    links = edges_df(spark, [(0, 10), (1, 10), (1, 11), (2, 11), (2, 12), (9, 20)])
    got = get_clusters(connected_components(links, algorithm=algo))
    assert got == {frozenset({0, 1, 2, 10, 11, 12}), frozenset({9, 20})}


@pytest.mark.parametrize("algo", ALGOS, indirect=True)
def test_hub(spark, algo):
    links = edges_df(spark, [(0, 10), (0, 11), (0, 12), (0, 13), (9, 20)])
    got = get_clusters(connected_components(links, algorithm=algo))
    assert got == {frozenset({0, 10, 11, 12, 13}), frozenset({9, 20})}


@pytest.mark.parametrize("algo", ALGOS, indirect=True)
def test_empty_edges_records_only(spark, algo):
    links = edges_df(spark, [])
    records = spark.createDataFrame([(1,), (2,), (3,)], "record_id long")
    got = get_clusters(connected_components(links, records, algorithm=algo))
    assert got == {frozenset({1}), frozenset({2}), frozenset({3})}


@pytest.mark.parametrize("algo", ALGOS, indirect=True)
def test_self_loop(spark, algo):
    links = edges_df(spark, [(42, 42)])
    records = spark.createDataFrame([(42,)], "record_id long")
    got = get_clusters(connected_components(links, records, algorithm=algo))
    assert got == {frozenset({42})}


@pytest.mark.parametrize("algo", ALGOS, indirect=True)
def test_single_edge(spark, algo):
    got = get_clusters(connected_components(edges_df(spark, [(0, 1)]), algorithm=algo))
    assert got == {frozenset({0, 1})}


@pytest.mark.parametrize("algo", ALGOS, indirect=True)
def test_singleton_labeling(spark, algo):
    links = edges_df(spark, [(0, 1), (1, 2)])
    records = spark.createDataFrame([(0,), (1,), (2,), (3,)], "record_id long")
    got = get_clusters(connected_components(links, records, algorithm=algo))
    assert got == {frozenset({0, 1, 2}), frozenset({3})}


@pytest.mark.parametrize("algo", ALGOS, indirect=True)
def test_string_ids(spark, algo):
    links = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y")],
        "record_id_l string, record_id_r string",
    )
    got = get_clusters(connected_components(links, algorithm=algo))
    assert got == {frozenset({"a", "b", "c"}), frozenset({"x", "y"})}


def test_max_iter_1_does_not_converge_naive(spark):
    # long chain cannot converge in one round of min-label propagation
    n = 8
    links = edges_df(spark, [(i, i + 1) for i in range(n)])
    got = get_clusters(connected_components(links, algorithm="naive", max_iter=1))
    assert got != {frozenset(range(n + 1))}


@pytest.mark.parametrize("algo", ALGOS, indirect=True)
def test_big_random_graph_matches_python_oracle(spark, algo):
    rng = random.Random(7)
    nodes = list(range(150))
    edges = [(rng.choice(nodes), rng.choice(nodes)) for _ in range(130)]
    links = edges_df(spark, edges)

    # python union-find oracle
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    touched = {n for e in edges for n in e}
    oracle: dict = {}
    for n in touched:
        oracle.setdefault(find(n), set()).add(n)
    want = {frozenset(v) for v in oracle.values()}

    got = get_clusters(connected_components(links, algorithm=algo))
    assert got == want


def test_star_equals_naive_on_random_graph(spark):
    rng = random.Random(11)
    edges = [(rng.randrange(150), rng.randrange(150)) for _ in range(120)]
    links = edges_df(spark, edges)
    a = get_clusters(connected_components(links, algorithm="naive"))
    b = get_clusters(connected_components(links, algorithm="star"))
    assert a == b


@pytest.mark.parametrize("algo", ALGOS, indirect=True)
def test_parquet_checkpointing(spark, tmp_path, algo):
    links = edges_df(spark, [(0, 10), (1, 10), (9, 20)])
    got = get_clusters(
        connected_components(links, algorithm=algo, checkpoint_dir=str(tmp_path))
    )
    assert got == {frozenset({0, 1, 10}), frozenset({9, 20})}


def test_parquet_checkpoint_runs_only_its_write(spark, tmp_path):
    """A parquet checkpoint reads itself back with the frame's schema:
    its write is the one Spark job, and the rows and schema are those a
    bare read (which infers the schema in a job of its own) gives, for
    array, struct and non-nullable columns alike."""
    from pyspark.sql import functions as F

    from mismo_spark._util import checkpoint

    df = spark.range(6).select(
        "id",
        F.array("id", F.lit(7)).alias("ids"),
        F.struct(F.col("id").alias("a"), F.array(F.lit("x")).alias("b")).alias("s"),
        F.when(F.col("id") > 2, F.col("id")).alias("maybe"),
    )
    assert not df.schema["id"].nullable
    with spark_jobs(spark) as jobs:
        got = checkpoint(df, str(tmp_path), "frame")
    assert len(jobs) == 1
    bare = spark.read.parquet(str(tmp_path / "frame.parquet"))
    assert got.schema == bare.schema
    assert _rows(got) == _rows(bare) == _rows(df)


def _rows(df):
    # NULLs sort last instead of failing the comparison
    return sorted(df.collect(), key=lambda r: tuple((v is None, v) for v in r))


def _driver_and_rounds(spark, links, records=None):
    """Output rows of the driver finish and of the star rounds."""
    driver = _rows(connected_components(links, records, algorithm="star"))
    with broadcast_threshold(spark, "-1"):
        rounds = _rows(connected_components(links, records, algorithm="star"))
    return driver, rounds


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_driver_finish_rows_equal_rounds_and_naive(spark, id_type):
    # str(i) ids order differently from the ints ("r10" < "r9"), so the
    # string case checks the minimum is taken over the ids themselves
    to_id = (lambda i: i) if id_type == "long" else (lambda i: f"r{i}")
    rng = random.Random(23)
    pairs = [(rng.randrange(120), rng.randrange(120)) for _ in range(100)]
    pairs += pairs[:15]  # duplicate edges
    pairs += [(pairs[0][1], pairs[0][0]), (7, 7), (200, 200)]  # reversed, self-loops
    schema = f"record_id_l {id_type}, record_id_r {id_type}"
    links = spark.createDataFrame([(to_id(a), to_id(b)) for a, b in pairs], schema)
    records = spark.createDataFrame(
        [(to_id(i),) for i in [*range(120), 200, *range(300, 305)]],
        f"record_id {id_type}",
    )
    driver, rounds = _driver_and_rounds(spark, links, records)
    assert driver == rounds == _rows(connected_components(links, records, algorithm="naive"))
    driver, rounds = _driver_and_rounds(spark, links)
    assert driver == rounds
    driver, rounds = _driver_and_rounds(spark, links.limit(0), records)
    assert driver == rounds == [(r[0], r[0]) for r in _rows(records)]


def test_driver_finish_null_endpoint_matches_rounds(spark):
    links = edges_df(spark, [(1, None), (2, 3), (3, 4)])
    driver, rounds = _driver_and_rounds(spark, links)
    assert driver == rounds == [(1, 1), (2, 2), (3, 2), (4, 2), (None, None)]


def test_threshold_below_graph_size_runs_rounds(spark, tmp_path):
    pairs = [(i, i + 1) for i in range(0, 60, 3)] + [(5, 50), (50, 51)]
    links = edges_df(spark, pairs)
    runs = {}
    # an edge of two longs counts 16 bytes: one byte short of
    # len(pairs) edges must fall through, 4x over must not
    for name, threshold in (("below", 16 * len(pairs) - 1), ("above", 64 * len(pairs))):
        ckpt = tmp_path / name
        with broadcast_threshold(spark, str(threshold)):
            runs[name] = _rows(
                connected_components(links, algorithm="star", checkpoint_dir=str(ckpt))
            )
        runs[name + "_files"] = set(os.listdir(ckpt))
    assert runs["below"] == runs["above"]
    assert "star_0.parquet" in runs["below_files"]
    assert runs["above_files"] == {"driver.parquet"}


def test_string_bytes_over_threshold_runs_rounds_without_collect(
    spark, tmp_path, monkeypatch
):
    # few edges (16 bytes each fits the threshold) but long ids: the
    # string bytes decide, and the edges never reach the driver
    pad = "x" * 200
    pairs = [(f"{pad}{i}", f"{pad}{i + 1}") for i in range(0, 20, 2)]
    links = spark.createDataFrame(pairs, "record_id_l string, record_id_r string")
    want = _rows(connected_components(links, algorithm="star"))

    def no_collect(self):
        raise AssertionError("edges collected over the byte budget")

    monkeypatch.setattr(type(links), "toArrow", no_collect)
    with broadcast_threshold(spark, str(16 * 2 * len(pairs))):
        got = _rows(
            connected_components(links, algorithm="star", checkpoint_dir=str(tmp_path))
        )
    assert "star_0.parquet" in os.listdir(tmp_path)
    assert got == want


@pytest.mark.parametrize("id_type", ["long", "string"])
def test_links_plan_runs_once_over_budget(spark, id_type):
    """Over the budget, the size probe and the rounds (and the string
    factorize, which reads the edges twice) share one run of the
    caller's plan."""
    from pyspark.sql import functions as F

    n = 12
    acc = spark.sparkContext.accumulator(0)

    def seen(x):
        acc.add(1)
        return x

    links = edges_df(spark, [(i, i + 1) for i in range(n)]).select(
        F.udf(seen, id_type).asNondeterministic()(F.col("record_id_l").cast(id_type))
        .alias("record_id_l"),
        F.col("record_id_r").cast(id_type).alias("record_id_r"),
    )
    with broadcast_threshold(spark, str(16 * n - 1)):
        got = get_clusters(connected_components(links, algorithm="star"))
    assert len(got) == 1
    assert acc.value == n


def test_min_roots_matches_loop_union_find():
    """The driver finish's vectorized union-find against the sequential
    loop: every node's root is the smallest node of its component."""
    import numpy as np

    from mismo_spark.cluster.cc import _min_roots

    rng = np.random.default_rng(4)
    for _ in range(200):
        n, m = int(rng.integers(1, 120)), int(rng.integers(0, 200))
        cu, cv = rng.integers(0, n, m), rng.integers(0, n, m)
        parent = list(range(n))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in zip(cu.tolist(), cv.tolist()):
            ra, rb = find(a), find(b)
            parent[max(ra, rb)] = min(ra, rb)
        assert _min_roots(cu, cv, n).tolist() == [find(x) for x in range(n)]


def test_bcubed_hand_computed(spark):
    """Bagga & Baldwin's worked example shape: one merged cluster over
    two true classes."""
    from mismo_spark.cluster.metrics import bcubed_prf

    rows = [
        # predicted component 1 = true A(3 records) + true B(2 records)
        (1, 1, "A"), (2, 1, "A"), (3, 1, "A"), (4, 1, "B"), (5, 1, "B"),
        # component 2 = pure C
        (6, 2, "C"), (7, 2, "C"),
    ]
    df = spark.createDataFrame(rows, "record_id long, component long, label_true string")
    got = bcubed_prf(df)
    # precision: A-records 3/5, B-records 2/5, C-records 1
    p = (3 * (3 / 5) + 2 * (2 / 5) + 2 * 1.0) / 7
    # recall: every class fully contained in one cluster
    assert abs(got["precision"] - p) < 1e-12
    assert got["recall"] == 1.0
    assert got["n"] == 7.0


def test_bcubed_perfect_clustering(spark):
    from mismo_spark.cluster.metrics import bcubed_prf

    rows = [(i, i % 3, str(i % 3)) for i in range(30)]
    df = spark.createDataFrame(rows, "record_id long, component long, label_true string")
    got = bcubed_prf(df)
    assert got["precision"] == 1.0 and got["recall"] == 1.0 and got["f1"] == 1.0
