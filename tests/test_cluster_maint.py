"""Streaming cluster maintenance: live assignment == full recompute,
with each micro-batch folded on the driver and on the Spark path."""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from mismo_spark.cluster.cc import connected_components
from mismo_spark.linker.key import KeyLinker
from mismo_spark.streaming.cluster_maint import (
    _commit_version,
    incremental_cluster_stream,
    read_assignments,
)
from tests.conftest import spark_jobs

SCHEMA = "record_id long, key string"


def _df(spark, rows):
    return spark.createDataFrame(rows, SCHEMA)


def test_incremental_cluster_stream(spark, tmp_path, fold):
    corpus = _df(spark, [(1, "a"), (2, "b")])
    seed_assign = corpus.select(
        "record_id", F.col("record_id").alias("component")
    )
    incoming = str(tmp_path / "incoming")
    batch1 = [(10, "a"), (11, "x"), (12, "x")]
    batch2 = [(20, "b"), (21, "a"), (30, "lonely")]
    _df(spark, batch1).coalesce(1).write.mode("append").parquet(incoming)
    time.sleep(1.1)  # distinct mtimes -> two micro-batches
    _df(spark, batch2).coalesce(1).write.mode("append").parquet(incoming)

    state_dir = str(tmp_path / "state")
    q = incremental_cluster_stream(
        spark,
        input_dir=incoming,
        key_columns=["key"],
        state_dir=state_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        corpus=corpus,
        initial_assignments=seed_assign,
        schema=_df(spark, []).schema,
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)

    got = {
        r["record_id"]: r["component"]
        for r in read_assignments(spark, state_dir).collect()
    }
    # reference: cluster everything from scratch in one batch
    everything = corpus.unionByName(_df(spark, batch1 + batch2))
    full = connected_components(
        KeyLinker(["key"], task="dedupe")(everything).links,
        everything.select("record_id"),
    )
    want = {r["record_id"]: r["component"] for r in full.collect()}
    assert got == want
    # sanity on the actual shapes: {1,10,21}, {2,20}, {11,12}, {30}
    assert want == {1: 1, 10: 1, 21: 1, 2: 2, 20: 2, 11: 11, 12: 11, 30: 30}


def test_incremental_cluster_stream_no_seed(spark, tmp_path, fold):
    incoming = str(tmp_path / "incoming")
    _df(spark, [(5, "k"), (6, "k"), (7, "z")]).coalesce(1).write.mode(
        "append"
    ).parquet(incoming)

    state_dir = str(tmp_path / "state")
    assert read_assignments(spark, state_dir) is None
    q = incremental_cluster_stream(
        spark,
        input_dir=incoming,
        key_columns=["key"],
        state_dir=state_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema=_df(spark, []).schema,
    )
    q.awaitTermination(300)
    got = {
        r["record_id"]: r["component"]
        for r in read_assignments(spark, state_dir).collect()
    }
    assert got == {5: 5, 6: 5, 7: 7}


def test_incremental_cluster_stream_empty_drop(spark, tmp_path, fold):
    """An empty drop file between two non-empty drops is a micro-batch
    of its own; it leaves the assignment unchanged, so the drained
    state equals a from-scratch CC."""
    incoming = str(tmp_path / "incoming")
    batch1 = [(1, "a"), (2, "a"), (3, "b")]
    batch2 = [(4, "b"), (5, "a"), (6, "c")]
    for i, rows in enumerate([batch1, [], batch2]):
        if i:
            time.sleep(1.1)  # distinct mtimes -> one micro-batch per drop
        _df(spark, rows).coalesce(1).write.mode("append").parquet(incoming)

    state_dir = str(tmp_path / "state")
    q = incremental_cluster_stream(
        spark,
        input_dir=incoming,
        key_columns=["key"],
        state_dir=state_dir,
        checkpoint_dir=str(tmp_path / "ckpt"),
        schema=_df(spark, []).schema,
        max_files_per_trigger=1,
    )
    q.awaitTermination(300)

    assert sorted(os.listdir(os.path.join(state_dir, "assignments"))) == ["v0", "v1", "v2"]
    got = {
        r["record_id"]: r["component"]
        for r in read_assignments(spark, state_dir).collect()
    }
    everything = _df(spark, batch1 + batch2)
    full = connected_components(
        KeyLinker(["key"], task="dedupe")(everything).links,
        everything.select("record_id"),
    )
    want = {r["record_id"]: r["component"] for r in full.collect()}
    assert got == want
    assert want == {1: 1, 2: 1, 5: 1, 3: 3, 4: 3, 6: 6}


@pytest.mark.parametrize("fold", ["spark"], indirect=True)
@pytest.mark.parametrize(
    "case",
    [
        test_incremental_cluster_stream,
        test_incremental_cluster_stream_no_seed,
        test_incremental_cluster_stream_empty_drop,
    ],
    ids=["seeded", "no-seed", "empty-drop"],
)
def test_stream_on_spark_path(spark, tmp_path, fold, case):
    case(spark, tmp_path, fold)


def test_read_assignments_runs_no_job(spark, tmp_path):
    """The state is read back with the schema in its footer: no Spark
    job, and the rows and schema a bare read gives."""
    state_dir = str(tmp_path / "state")
    assert read_assignments(spark, state_dir) is None
    path = str(tmp_path / "state" / "assignments" / "v3")
    spark.createDataFrame(
        [(1, 1), (2, 1), (5, 5)], "record_id long, component long"
    ).write.parquet(path)
    _commit_version(state_dir, "v3")
    with spark_jobs(spark) as jobs:
        got = read_assignments(spark, state_dir)
    assert jobs == []
    bare = spark.read.parquet(path)
    assert got.schema == bare.schema
    assert sorted(got.collect()) == sorted(bare.collect())
