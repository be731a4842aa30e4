"""Incremental connected components: fold a batch of new links into an
existing assignment without re-clustering the corpus.

At 10^12 records a daily crawl adds ~10^6-10^9 edges; re-running CC over
every historical edge is the thing that does not scale.  The identity
this module exploits: components of (old graph ∪ new edges) decompose
into

  * components no new edge touches — their assignment rows are already
    the fixed point and pass through untouched (one anti-join), and
  * the subgraph induced by TOUCHED old components plus the new batch —
    each old component is re-entered as its star edges
    (record_id → component label), which preserve its connectivity
    exactly, so running ordinary CC on that (small) subgraph gives the
    same labels a full recompute would.

Labels stay canonical (minimum record id of the component): an
untouched component's min cannot change, and the sub-CC re-derives the
min over every merged group.  ``incremental == from-scratch`` is
asserted literally in tests/test_incremental_cc.py.

Plan shape: with ``algorithm="star"`` and integral ids, the batch's
links and new record ids are collected once as Arrow, capped at
``threshold // 16`` rows of two fixed-width ids, so the driver holds no
more than ``spark.sql.autoBroadcastJoinThreshold`` per collect.  When
the batch fits, its ids go back as a broadcast relation, and one query
finds the touched components' rows (a broadcast semi-join of the ids
against ``assignments``, then one on the touched components); that
query is collected under the same cap, solved by the same union-find
as ``connected_components``' driver finish, and the result is
``assignments`` anti-joined against the solved ids plus the solved
rows.  Touched rows that reach the cap go on to the Spark path below
from the same broadcast relations, reading the touched rows the
collect already checkpointed.  A batch that reaches the cap, a
threshold of ``-1``, string ids and ``naive`` find the touched
components with two hash joins (shuffles sized by the NEW batch)
instead.  The Spark path then partitions the assignment table with
one semi/anti-join and runs ``connected_components`` over touched+new
only.  Either way the caller's links plan runs once, and the Spark
path reads ``assignments`` three times per row (touched components,
touched rows, untouched rows): the touched components are
checkpointed, or, after a give-up, taken from the touched rows.
"""

from __future__ import annotations

from functools import reduce

import numpy as np
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
    max_iter: int = 50,
    algorithm: str = "star",
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

    With ``algorithm="star"``, integral ids, and a batch and touched
    components that each fit the broadcast threshold, the fold is
    solved on the driver (see the module docstring); ``max_iter`` and
    ``checkpoint_dir`` then go unused, as they reach only the Spark
    path's sub-graph CC.
    """
    # materialize the batch-sized relations once — the whole point of
    # the incremental fold is that everything except `assignments` is
    # sized by the NEW batch, so checkpointing is cheap while
    # re-executing the batch's upstream plan (often a scoring pipeline)
    # per consumer is not.  `assignments` itself is corpus-sized and
    # typically already a parquet checkpoint, so it stays lazy.  The
    # links checkpoint is filled by its first reader: the batch's
    # collect, or the `ends` checkpoint below.
    nl = new_links.select(ID_L, ID_R).localCheckpoint(eager=False)
    spark = nl.sparkSession
    cap = _broadcast_budget(spark) // _EDGE_BYTES
    id_type = _fold_id_type(assignments, nl, new_records) if algorithm == "star" else None
    batch = None
    if id_type is not None and cap > 0:
        batch = _collect_batch(nl, new_records, id_type, cap)
    if batch is None:
        ends = nl.select(
            F.explode(F.array(F.col(ID_L), F.col(ID_R))).alias("record_id")
        ).distinct()
        if new_records is not None:
            ends = ends.unionByName(new_records.select("record_id")).distinct()
        ends = ends.localCheckpoint(eager=True)
    else:
        # the batch's ids are already on the driver: they go back as a
        # local relation, and the touched components (at most one per
        # id, so no more bytes than the batch) are broadcast too
        ids = pa.chunked_array(batch.column(ID_L).chunks + batch.column(ID_R).chunks)
        ends = F.broadcast(
            spark.createDataFrame(
                pa.table({"record_id": pc.unique(ids)}),
                f"record_id {id_type.simpleString()}",
            )
        )

    touched_comps = assignments.join(ends, "record_id", "left_semi").select(
        "component"
    )
    if batch is None:
        # sized by the batch and read twice (the touched rows, then the
        # untouched anti-join): checkpointed, so its scan of
        # `assignments` runs once, filled by its first reader
        touched_comps = touched_comps.distinct().localCheckpoint(eager=False)
        touched = assignments.join(touched_comps, "component", "left_semi")
        touched = touched.localCheckpoint(eager=True)
    else:
        touched = assignments.join(F.broadcast(touched_comps), "component", "left_semi")
        # filled by the fold's collect, which a give-up then reuses
        touched = touched.localCheckpoint(eager=False)
        done = _driver_fold(assignments, batch, touched, id_type, cap)
        if done is not None:
            return done
        # a give-up takes the touched components from those rows, not
        # from `assignments` again; they are no more than the batch's
        # ids, so they still broadcast
        touched_comps = F.broadcast(touched.select("component").distinct())
    untouched = assignments.join(touched_comps, "component", "left_anti").select(
        "record_id", "component"
    )

    # a touched component re-enters as its star edges — connectivity
    # (and therefore the merged components) is preserved exactly
    star_edges = touched.select(
        F.col("record_id").alias(ID_L), F.col("component").alias(ID_R)
    )
    sub_nodes = touched.select("record_id").unionByName(ends).distinct()
    sub = connected_components(
        nl.unionByName(star_edges),
        sub_nodes,
        max_iter=max_iter,
        algorithm=algorithm,
        checkpoint_dir=checkpoint_dir,
    )
    return untouched.unionByName(sub)


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
) -> pa.Table | None:
    """The batch's links, plus one self-loop per new record (a node
    that joins nothing), as Arrow; None when ``cap`` rows come back, so
    the driver never holds more than the broadcast budget."""
    batch = _pairs(nl, ID_L, ID_R, id_type)
    if new_records is not None:
        batch = batch.unionByName(_pairs(new_records, "record_id", "record_id", id_type))
    links = batch.limit(cap).toArrow()
    return links if links.num_rows < cap else None


def _driver_fold(
    assignments: DataFrame, links: pa.Table, touched: DataFrame, id_type, cap: int
) -> DataFrame | None:
    """The fold solved on the driver from the collected batch, or None
    when the touched rows, capped at ``cap`` (``budget // 16``), come
    back full."""
    if links.num_rows == 0:
        return assignments.select("record_id", "component")
    rows = _pairs(touched, "record_id", "component", id_type).limit(cap).toArrow()
    if rows.num_rows >= cap:
        return None

    # a touched component re-enters as its star edges, as on the Spark
    # path; the output is the batch's ids and the touched records
    cu, cv, ids, roots = _solve_edges(
        pa.chunked_array(links.column(ID_L).chunks + rows.column(ID_L).chunks),
        pa.chunked_array(links.column(ID_R).chunks + rows.column(ID_R).chunks),
    )
    out = np.concatenate([cu, cv[: links.num_rows]])
    keep = np.unique(out[out >= 0])
    solved = _labels_frame(
        assignments.sparkSession,
        ids.take(pa.array(keep)),
        ids.take(pa.array(roots[keep])),
        id_type,
        nulls=bool((out < 0).any()),
    )
    untouched = assignments.join(
        F.broadcast(solved.select("record_id")), "record_id", "left_anti"
    )
    # a local relation is split over up to defaultParallelism partitions,
    # each a file when the caller writes the result
    return untouched.unionByName(solved.coalesce(1))
