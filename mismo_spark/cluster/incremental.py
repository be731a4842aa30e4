"""Incremental connected components: fold a batch of new links into an
existing assignment without re-clustering the corpus.

At 10^12 records a daily crawl adds ~10^6-10^9 edges; re-running CC over
every historical edge is the thing that does not scale.  The fold works
on the component graph: every old component labels all its members with
its minimum id, so it enters the batch's sub-problem as that one label,
never as its rows.

  1. One semi-join of ``assignments`` against the batch's ids finds the
     component of each batch endpoint (at most one row per id).
  2. Each link ``(u, v)`` becomes ``(rep(u), rep(v))``: the
     representative is the endpoint's old component, or the id itself
     when it is new.
  3. CC over those representative edges, a graph the size of the batch,
     merges old components and new ids.
  4. ``assignments`` is relabelled through one join on ``component``
     (each merged component to its new label), plus one row per new id.

Labels stay canonical (minimum record id of the component): an old
component's label is its own minimum, so the minimum over the
representatives a merge joins is the minimum of the merged component.
``incremental == from-scratch`` is asserted literally in
tests/test_incremental_cc.py.

Plan shape: with integral ids, the batch's links and one self-loop per
new record are collected once as Arrow, capped at ``threshold // 16``
rows of two fixed-width ids.  When the rows and the distinct ids each
fit, the driver holds no more than
``spark.sql.autoBroadcastJoinThreshold`` per collect: the ids go back
as a broadcast relation, step 1 is collected (no more rows than the
ids), step 3 is the union-find of ``connected_components``' driver
finish, and the relabel map and the new rows are local relations.
Otherwise (a batch over the cap, a threshold of ``-1``, string ids),
step 1 is checkpointed and step 3 is ``connected_components`` over the
representative edges.  Either way
the caller's links plan runs once, and ``assignments`` is read twice
per row: the lookup and the relabel.
"""

from __future__ import annotations

from functools import reduce

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mismo_spark.cluster.cc import (
    _EDGE_BYTES,
    _INTEGRAL,
    _broadcast_budget,
    _labels_frame,
    _solve_edges,
    connected_components,
)
from mismo_spark.types.linkage import ID_L, ID_R


def incremental_components(
    assignments: DataFrame,
    new_links: DataFrame,
    new_records: DataFrame | None = None,
    *,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """→ DataFrame(record_id, component), identical to
    ``connected_components`` over the full union graph.

    ``assignments`` is a previous (record_id, component) output —
    component must be the minimum record id of its component (both CC
    algorithms guarantee this).  ``new_links`` may connect new records
    to each other, to old records, or old components to old components.
    ``new_records`` (optional, column ``record_id``) adds singleton
    rows for genuinely new records that no new link mentions.

    With integral ids and a batch whose rows and distinct ids each fit
    the broadcast threshold, the fold is solved on the driver (see the
    module docstring); ``checkpoint_dir`` then goes unused, as it
    reaches only the Spark path's CC over the representative edges.
    """
    # the batch's upstream plan (often a scoring pipeline) runs once:
    # its first reader, the driver collect or the lookup below, fills
    # this checkpoint.  `assignments` is corpus-sized and typically
    # already a parquet checkpoint, so it stays lazy.
    nl = new_links.select(ID_L, ID_R).localCheckpoint(eager=False)
    cap = _broadcast_budget(nl.sparkSession) // _EDGE_BYTES
    id_type = _fold_id_type(assignments, nl, new_records)
    if id_type is not None and cap > 0:
        batch = _collect_batch(nl, new_records, id_type, cap)
        if batch is not None:
            return _driver_fold(assignments, *batch, id_type)

    edges = nl
    if new_records is not None:
        # a new record no link mentions enters as a self-loop
        edges = edges.unionByName(
            new_records.select(F.col("record_id").alias(ID_L), F.col("record_id").alias(ID_R))
        )
    ends = edges.select(F.explode(F.array(ID_L, ID_R)).alias("record_id"))
    # sized by the batch and read by both endpoint joins and the new
    # rows: checkpointed, so this is the only scan of `assignments`
    # before the relabel
    lookup = (
        assignments.join(ends, "record_id", "left_semi")
        .select("record_id", "component")
        .localCheckpoint(eager=True)
    )
    reps = (
        edges.join(lookup.toDF(ID_L, "__cl"), ID_L, "left")
        .join(lookup.toDF(ID_R, "__cr"), ID_R, "left")
        .select(
            F.coalesce("__cl", ID_L).alias(ID_L), F.coalesce("__cr", ID_R).alias(ID_R)
        )
    )
    labels = connected_components(reps, checkpoint_dir=checkpoint_dir)
    # an old component is a record of `assignments`; a new id is not
    new_rows = labels.join(
        lookup.select(F.col("component").alias("record_id")), "record_id", "left_anti"
    )
    return _relabel(assignments, labels.toDF("component", "__to"), new_rows)


def _relabel(assignments: DataFrame, moves: DataFrame, new_rows: DataFrame) -> DataFrame:
    """``assignments`` with each ``moves.component`` relabelled to its
    ``__to``, plus ``new_rows``."""
    old = assignments.join(moves, "component", "left").select(
        "record_id", F.coalesce("__to", "component").alias("component")
    )
    return old.unionByName(new_rows)


def _fold_id_type(
    assignments: DataFrame, nl: DataFrame, new_records: DataFrame | None
):
    """The one integral type every id widens to (as Spark's union
    does), or None when an id is not integral and the fold is not
    tried.  At most 8 bytes, so a row of two ids is at most 16."""
    cols = [nl.select(ID_L), nl.select(ID_R), assignments.select("record_id")]
    cols.append(assignments.select("component"))
    if new_records is not None:
        cols.append(new_records.select("record_id"))
    if not all(isinstance(c.schema[0].dataType, _INTEGRAL) for c in cols):
        return None
    return reduce(DataFrame.union, cols).schema[0].dataType


def _pairs(df: DataFrame, u: str, v: str, id_type) -> DataFrame:
    return df.select(
        F.col(u).cast(id_type).alias(ID_L), F.col(v).cast(id_type).alias(ID_R)
    )


def _collect_batch(
    nl: DataFrame, new_records: DataFrame | None, id_type, cap: int
) -> tuple[pa.Table, pa.Array] | None:
    """The batch's links, plus one self-loop per new record, as Arrow,
    and its distinct non-NULL ids; None when ``cap`` rows come back or
    the ids reach ``cap``, so neither the batch nor the lookup of its
    ids holds more than the broadcast budget on the driver."""
    batch = _pairs(nl, ID_L, ID_R, id_type)
    if new_records is not None:
        batch = batch.unionByName(_pairs(new_records, "record_id", "record_id", id_type))
    links = batch.limit(cap).toArrow()
    if links.num_rows >= cap:
        return None
    ends = pa.concat_arrays([links.column(c).combine_chunks() for c in (ID_L, ID_R)])
    ids = pc.unique(ends).drop_null()
    return (links, ids) if len(ids) < cap else None


def _driver_fold(
    assignments: DataFrame, links: pa.Table, ids: pa.Array, id_type
) -> DataFrame:
    """The fold solved on the driver from the collected batch and its
    distinct non-NULL ``ids``."""
    if links.num_rows == 0:
        return assignments.select("record_id", "component")
    spark = assignments.sparkSession
    ids_df = spark.createDataFrame(
        pa.table({"record_id": ids}), f"record_id {id_type.simpleString()}"
    )
    lookup = _pairs(
        assignments.join(F.broadcast(ids_df), "record_id", "left_semi"),
        "record_id",
        "component",
        id_type,
    ).toArrow()
    members = lookup.column(ID_L).combine_chunks()
    comps = lookup.column(ID_R).combine_chunks()

    def rep(col: str) -> pa.Array:
        ends = links.column(col).combine_chunks()
        return pc.coalesce(comps.take(pc.index_in(ends, value_set=members)), ends)

    cu, cv, reps, roots = _solve_edges(rep(ID_L), rep(ID_R))
    labels = reps.take(pa.array(roots))
    old = pc.is_in(reps, value_set=comps)
    moved = pc.and_(old, pc.not_equal(labels, reps))
    moves = _labels_frame(
        spark, reps.filter(moved), labels.filter(moved), id_type, nulls=False
    ).toDF("component", "__to")
    new = pc.invert(old)
    new_rows = _labels_frame(
        spark,
        reps.filter(new),
        labels.filter(new),
        id_type,
        nulls=bool((cu < 0).any() or (cv < 0).any()),
    )
    # a local relation is split over up to defaultParallelism partitions,
    # each a file when the caller writes the result
    return _relabel(assignments, F.broadcast(moves), new_rows.coalesce(1))
