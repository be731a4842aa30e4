"""Streaming cluster maintenance: keep a component assignment current
as new record batches arrive.

``incremental_link_stream`` emits candidate links; this module closes
the loop — each micro-batch is blocked against the corpus AND all
previously-streamed records, then folded into the persistent
(record_id, component) assignment with
``cluster.incremental_components`` (each old component enters as its
label, so the fold is sized by the batch, not the corpus: one driver
pass when the batch fits the broadcast threshold, otherwise Spark
joins).  The result after draining the stream is IDENTICAL to
re-clustering everything from scratch — the incremental-CC identity,
asserted in tests/test_incremental_cc.py and again end-to-end here.

State layout under ``state_dir`` (parquet; an Iceberg table with
transactional commits in production — the sandbox swaps a directory
symlink-style via versioned subdirs):

  state_dir/assignments/v{batch_id}/   (record_id, component)
  state_dir/records/v{batch_id}/       accumulated blocking features
  state_dir/LATEST                     text file: last committed version

``state_dir`` is on the driver's file system (LATEST is written with
``os.replace``), and each version is read back with the Spark schema in
its parquet footer (``_util.read_parquet``, shared with the batch
pipeline), so reading the state infers nothing and runs no Spark job.

A crashed batch leaves LATEST pointing at the previous version, and the
streaming checkpoint replays the micro-batch — write-then-commit gives
effectively-once state updates on top of the file source's exactly-once
batch replay.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mismo_spark._util import read_parquet
from mismo_spark.cluster.incremental import incremental_components
from mismo_spark.linker.key import KeyLinker


def _latest_version(state_dir: str) -> str | None:
    try:
        with open(os.path.join(state_dir, "LATEST")) as f:
            return f.read().strip() or None
    except OSError:
        return None


def _commit_version(state_dir: str, version: str) -> None:
    os.makedirs(state_dir, exist_ok=True)
    tmp = os.path.join(state_dir, "LATEST.tmp")
    with open(tmp, "w") as f:
        f.write(version)
    os.replace(tmp, os.path.join(state_dir, "LATEST"))


def read_assignments(spark: SparkSession, state_dir: str) -> DataFrame | None:
    """Current (record_id, component) assignment, or None before the
    first committed batch."""
    v = _latest_version(state_dir)
    if v is None:
        return None
    return read_parquet(spark, os.path.join(state_dir, "assignments", v))


def incremental_cluster_stream(
    spark: SparkSession,
    *,
    input_dir: str,
    key_columns: list[str],
    state_dir: str,
    checkpoint_dir: str,
    corpus: DataFrame | None = None,
    initial_assignments: DataFrame | None = None,
    id_col: str = "record_id",
    schema=None,
    max_files_per_trigger: int | None = None,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Stream record batches from ``input_dir`` and maintain a live
    clustering under ``state_dir``.

    Blocking is deterministic key-equality on ``key_columns`` (the
    stream-safe subset — LSH banding composes the same way via
    ``incremental_link_stream``).  Each micro-batch:

      1. derives (id, keys) for the new rows,
      2. equi-joins them against corpus ∪ previously-streamed keys AND
         against themselves (both shuffles sized by the batch, with the
         accumulated side hash-partitioned on the key),
      3. folds the resulting links into the assignment with
         ``incremental_components``: the old components the links
         touch enter as their labels, and the new assignment is the
         old one with the merged components relabelled plus a row per
         new record.  When the batch's rows and distinct ids each fit
         ``spark.sql.autoBroadcastJoinThreshold``, the batch and its
         components are collected and solved in one driver pass;
         otherwise the fold runs as Spark joins and a CC over a graph
         the size of the batch,
      4. commits new ``records``/``assignments`` versions + LATEST.

    ``corpus``/``initial_assignments`` seed the state (e.g. from a
    batch pipeline run); both optional.  The corpus is assumed
    ALREADY clustered — corpus-internal links are never recomputed, so
    a corpus passed without ``initial_assignments`` enters as
    singletons.
    """
    keys = [id_col, *key_columns]

    def _keyed(df: DataFrame) -> DataFrame:
        return df.select(*[F.col(c) for c in keys]).withColumnRenamed(
            id_col, "record_id"
        )

    seed_records = _keyed(corpus) if corpus is not None else None

    def process_batch(batch: DataFrame, batch_id: int) -> None:
        # an empty batch is not probed for: it folds to an unchanged
        # assignment, and a probe would cost a Spark job every batch
        new = _keyed(batch)
        prev_v = _latest_version(state_dir)
        if prev_v is not None:
            known = read_parquet(spark, os.path.join(state_dir, "records", prev_v))
            assignments = read_parquet(
                spark, os.path.join(state_dir, "assignments", prev_v)
            )
        else:
            known = seed_records
            assignments = initial_assignments
            if assignments is None and known is not None:
                # seed corpus with no assignment: every record its own
                # singleton (the first batch's links will merge them)
                assignments = known.select(
                    "record_id", F.col("record_id").alias("component")
                )

        linker = KeyLinker(key_columns, task="link")
        new_new = KeyLinker(key_columns, task="dedupe")(new).links
        links = new_new
        if known is not None:
            vs_known = linker(new, known).links
            links = links.unionByName(vs_known)

        if assignments is None:
            assignments = spark.createDataFrame(
                [], "record_id long, component long"
            )
        updated = incremental_components(
            assignments, links, new.select("record_id")
        )
        all_records = (
            known.unionByName(new).dropDuplicates(["record_id"])
            if known is not None
            else new
        )

        v = f"v{batch_id}"
        updated.write.mode("overwrite").parquet(
            os.path.join(state_dir, "assignments", v)
        )
        all_records.write.mode("overwrite").parquet(
            os.path.join(state_dir, "records", v)
        )
        _commit_version(state_dir, v)

    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_dir)
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
