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

Plan shape: two hash joins to find touched components (shuffles sized
by the NEW batch), one semi/anti-join partition of the assignment
table, then CC over touched+new only.  That subgraph usually fits the
broadcast budget, so ``connected_components`` solves it on the driver
after one size probe and one collect; a bigger one runs the
large-star/small-star rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mismo_spark.cluster.cc import connected_components
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
    """
    # materialize the batch-sized relations once — the whole point of
    # the incremental fold is that everything except `assignments` is
    # sized by the NEW batch, so checkpointing is cheap while
    # re-executing the batch's upstream plan (often a scoring pipeline)
    # per consumer is not.  `assignments` itself is corpus-sized and
    # typically already a parquet checkpoint, so it stays lazy.
    nl = new_links.select(ID_L, ID_R).localCheckpoint(eager=True)
    ends = nl.select(
        F.explode(F.array(F.col(ID_L), F.col(ID_R))).alias("record_id")
    ).distinct()
    if new_records is not None:
        ends = ends.unionByName(new_records.select("record_id")).distinct()
    ends = ends.localCheckpoint(eager=True)

    touched_comps = (
        assignments.join(ends, "record_id", "left_semi")
        .select("component")
        .distinct()
    )
    touched = assignments.join(
        touched_comps, "component", "left_semi"
    ).localCheckpoint(eager=True)
    untouched = assignments.join(touched_comps, "component", "left_anti")

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
