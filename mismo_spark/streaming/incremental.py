"""Incremental linkage via Structured Streaming.

The reference is batch-only (SURVEY.md §2.11): its incremental story is
the Diff/Updates before-after reconciliation.  At web scale the natural
Spark expression is a *stream-static join*: new pages arrive as a
stream (e.g. parquet drops per crawl batch), get the same deterministic
key derivation as the batch pipeline, and are blocked against the
static, already-clustered corpus — emitting (new_record_id,
existing_record_id, existing_component) candidate links per micro-batch,
checkpointed by the streaming engine (exactly-once per batch with the
file source).

Deliberately NOT stateful-operator based: blocking keys are
deterministic projections, so a stream-static equi-join covers the
semantics; ``applyInPandasWithState`` would only be needed for
cross-batch pair state, which transitive clustering handles downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mismo_spark.pipeline import DedupePipeline


def incremental_link_stream(
    spark: SparkSession,
    *,
    input_dir: str,
    corpus: DataFrame,
    components: DataFrame,
    checkpoint_dir: str,
    output_dir: str,
    pipe: DedupePipeline | None = None,
    schema=None,
) -> "pyspark.sql.streaming.StreamingQuery":  # noqa: F821
    """Stream new pages from ``input_dir`` and link them against the
    static ``corpus`` (+ its ``components`` assignment).

    Returns the started StreamingQuery; caller awaits/stops it.  Use
    ``trigger(availableNow=True)`` semantics via the returned query for
    batch-drain runs (tests do this).
    """
    pipe = pipe or DedupePipeline(work_dir=checkpoint_dir, checkpoint=False)
    if schema is None:
        schema = corpus.schema

    stream = spark.readStream.schema(schema).parquet(input_dir)

    new_records = pipe.prepare_records(stream)
    static_records = pipe.prepare_records(corpus).join(
        components, "record_id", "left"
    )

    # blocking: the pipeline's minhash-LSH rule alone (its band keys
    # are deterministic, so stream-safe).  It needs a static band-key
    # table on the corpus side — computed once here; the stream side
    # derives its band keys per micro-batch with the same seeds.
    lsh = pipe.blocker("link").linkers["lsh"]
    # The static side's plan re-executes on EVERY micro-batch of a
    # stream-static join, so the corpus featurization + band derivation
    # is pinned once here.  At 100 TB, persist the banded corpus to
    # storage instead — bucketed on the band key
    # (Linkage.to_bucketed_tables pattern) — so each micro-batch's
    # equi-join scans only matching buckets rather than re-deriving
    # ~corpus-sized state.
    from pyspark.storagelevel import StorageLevel

    static_keyed = (
        lsh._banded(static_records)
        .join(static_records.select("record_id", "component"), "record_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    stream_keyed = new_records.select(
        F.col("record_id"),
        F.posexplode(lsh.keys_for(new_records)).alias("__band", "__key"),
    )

    matches = (
        stream_keyed.alias("n")
        .join(
            static_keyed.alias("e"),
            (F.col("n.__band") == F.col("e.__band"))
            & (F.col("n.__key") == F.col("e.__key")),
            "inner",
        )
        .select(
            F.col("n.record_id").alias("new_record_id"),
            F.col("e.record_id").alias("existing_record_id"),
            F.col("e.component").alias("existing_component"),
        )
        .dropDuplicates(["new_record_id", "existing_record_id"])
    )

    return (
        matches.writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir + "/stream_ckpt")
        .trigger(availableNow=True)
        .start()
    )
