"""Cluster maintenance under edge DELETIONS (and mixed add/remove
batches) — the half of incremental CC that ``incremental.py`` cannot
do.

Additions only ever MERGE components, so ``incremental_components``
folds them over the component graph (an old component enters as its
label).  A deleted edge can SPLIT a component, and its label would
paper over the split — so the components a removed edge touches must
be re-clustered from their SURVIVING real edges.  A mixed batch runs
in two steps:

  1. removals: components no removed edge touches keep their
     assignment rows verbatim (one anti-join), and the subgraph induced
     by the touched components — their remaining real edges —
     re-clusters with ordinary CC, giving exactly the labels a full
     recompute over ``links − removed`` would;
  2. additions and new records: folded into that assignment by
     ``incremental_components``.

At 10^12 records the daily maintenance batch (retracted pages, GDPR
deletes, re-scored links dropping below threshold) touches a tiny
fraction of components; every shuffle here is sized by the TOUCHED
components' edges or by the added batch, not the corpus.  ``links``
(the full surviving edge store, e.g. the Iceberg links table) is only
ever semi-joined — never re-clustered wholesale.

Labels stay canonical (minimum record id of the component), so
``maintain == from-scratch`` is byte-exact; tests assert it literally.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mismo_spark.cluster.cc import connected_components
from mismo_spark.cluster.incremental import incremental_components
from mismo_spark.types.linkage import ID_L, ID_R


def _pair_key(df: DataFrame) -> DataFrame:
    """Add the orientation-free edge key columns (__a <= __b)."""
    return df.withColumns(
        {
            "__a": F.least(F.col(ID_L), F.col(ID_R)),
            "__b": F.greatest(F.col(ID_L), F.col(ID_R)),
        }
    )


def maintain_components(
    assignments: DataFrame,
    links: DataFrame,
    *,
    added: DataFrame | None = None,
    removed: DataFrame | None = None,
    new_records: DataFrame | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """→ DataFrame(record_id, component), identical to
    ``connected_components`` over ``links − removed ∪ added``.

    ``assignments`` is a previous (record_id, component) output whose
    component labels are the minimum record id (both CC algorithms
    guarantee this).  ``links`` is the CURRENT full edge set — the one
    ``assignments`` was computed from.  ``removed`` rows are matched
    orientation-free; rows not present in ``links`` are ignored.
    ``added`` may connect new records, old records, or old components.
    ``new_records`` (column ``record_id``) adds singletons no edge
    mentions.
    """
    if removed is not None:
        # materialization policy (as in incremental_components): every
        # relation sized by the removed batch or the touched components
        # is checkpointed at its first use, because multiple consumers
        # would otherwise re-execute its upstream plan; the corpus-sized
        # inputs (links, assignments — parquet checkpoints in
        # production) stay lazy and are consumed a bounded number of
        # times.
        edges = _pair_key(links.select(ID_L, ID_R))
        rm_keys = (
            _pair_key(removed.select(ID_L, ID_R))
            .select("__a", "__b")
            .distinct()
            .localCheckpoint(eager=True)
        )
        # only edges actually present can split anything; their
        # endpoints name the touched components
        rm_ends = edges.join(rm_keys, ["__a", "__b"], "left_semi").select(
            F.explode(F.array(F.col("__a"), F.col("__b"))).alias("record_id")
        )
        touched_comps = (
            assignments.join(rm_ends, "record_id", "left_semi")
            .select("component")
            .distinct()
            .localCheckpoint(eager=True)
        )
        touched = assignments.join(
            touched_comps, "component", "left_semi"
        ).localCheckpoint(eager=True)
        untouched = assignments.join(touched_comps, "component", "left_anti")

        # a surviving edge of a touched component has BOTH endpoints
        # inside it, so one semi-join on the left endpoint selects all
        remaining = edges.join(rm_keys, ["__a", "__b"], "left_anti")
        sub_links = remaining.join(
            touched.select(F.col("record_id").alias(ID_L)), ID_L, "left_semi"
        ).select(ID_L, ID_R)
        sub = connected_components(
            sub_links, touched.select("record_id"), checkpoint_dir=checkpoint_dir
        )
        assignments = untouched.unionByName(sub)

    if added is None:
        if new_records is None:
            return assignments
        # new records only: each enters the fold as a self-loop
        added, new_records = new_records.select(
            F.col("record_id").alias(ID_L), F.col("record_id").alias(ID_R)
        ), None
    return incremental_components(
        assignments, added, new_records, checkpoint_dir=checkpoint_dir
    )


def decremental_components(
    assignments: DataFrame,
    links: DataFrame,
    removed_links: DataFrame,
    *,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Deletion-only convenience wrapper: re-cluster only the
    components a removed edge touches, from their surviving edges —
    splits included.  → DataFrame(record_id, component), identical to
    ``connected_components(links − removed_links)`` over all records."""
    return maintain_components(
        assignments,
        links,
        removed=removed_links,
        checkpoint_dir=checkpoint_dir,
    )
