"""Canopy clustering — cheap-metric overlapping pre-blocks.

McCallum, Nigam & Ungar, "Efficient clustering of high-dimensional
data sets with application to reference matching" (KDD 2000): pick a
record as a canopy *center*, put every record within a LOOSE cheap
distance into its canopy (records may land in many canopies), remove
every record within a TIGHT distance from the center pool, repeat
until the pool is empty.  Expensive comparisons then run only inside
canopies.  The reference leaves this classic blocker to the user
(its KeyLinker/LSH cover the equi-join and minhash families,
mismo/linker/*); ``dedupe``-style toolkits ship it as a first-class
blocking method, so we do too.

Sequential canopy needs an order for "pick a record"; we fix it to
ascending ``record_id``, which makes the center set exactly the
**lexicographically-first maximal independent set** of the
tight-similarity graph (process ids ascending, a record becomes a
center iff no earlier center is tight-similar to it).  That set is
computed distributed with local-minima rounds: every active record
with no smaller-id active tight-neighbour is a center (nothing earlier
can ever claim it), its tight-neighbours leave the pool, and the
remainder iterates — the standard parallel greedy-MIS equivalence
(Blelloch, Fineman & Shun 2012 analyse exactly this round structure;
O(log) rounds in practice).  Membership is then one join: record →
every center it is loose-similar to, plus itself.

Scale shape: per round two anti-joins (blocked ids, covered ids) and
two semi-joins (edge shrink), all hash-partitioned on record id — no
windows over unbounded partitions, no driver data beyond a count.
Edges shrink geometrically; lineage is cut per round by
``_util.checkpoint`` (lazy ``localCheckpoint`` or durable parquet under
``checkpoint_dir``).

Similarity edges are an input (``record_id_l``/``record_id_r``/sim),
so any cheap metric works — token Jaccard from a KeyLinker block, LSH
collisions, embedding cosine.  Only pairs with sim ≥ ``loose`` need to
be present: absent pairs are "far" by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mismo_spark._util import checkpoint
from mismo_spark.types.linkage import ID_L, ID_R

_U, _V = "u", "v"


def _sym(edges: DataFrame, sim_col: str, threshold: float) -> DataFrame:
    """Both directions of every edge at/above ``threshold``."""
    kept = edges.filter(F.col(sim_col) >= threshold).filter(F.col(ID_L) != F.col(ID_R))
    fwd = kept.select(F.col(ID_L).alias(_U), F.col(ID_R).alias(_V))
    return fwd.unionByName(fwd.select(F.col(_V).alias(_U), F.col(_U).alias(_V)))


def canopy_centers(
    edges: DataFrame,
    records: DataFrame,
    *,
    sim_col: str,
    tight: float,
    max_rounds: int = 40,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """→ DataFrame(record_id): the canopy centers — the id-order greedy
    MIS of the graph ``{sim >= tight}`` over ``records.record_id``.

    Records with no tight edge at all become their own centers (the
    sequential loop always drains the pool)."""
    # one lineage cut up front: round 0 touches the symmetric tight
    # graph several times (blocked, covered, both shrinks) and the sim
    # edges are often an expensive derivation (token Jaccard over
    # candidate pairs) — materialize once instead of re-evaluating per
    # action
    te = checkpoint(_sym(edges, sim_col, tight), checkpoint_dir, "canopy_edges_init")
    act = records.select("record_id").distinct()
    centers: DataFrame | None = None

    for rnd in range(max_rounds):
        # a record is a center iff no smaller-id ACTIVE tight-neighbour
        # (no .distinct() on the probe sides: anti/semi joins ignore
        # duplicate keys, and the dedup shuffle would be pure overhead)
        blocked = te.filter(F.col(_V) < F.col(_U)).select(F.col(_U).alias("record_id"))
        round_centers = act.join(blocked, "record_id", "left_anti")
        round_centers = checkpoint(round_centers, checkpoint_dir, f"canopy_centers_{rnd}")
        centers = (
            round_centers if centers is None else centers.unionByName(round_centers)
        )
        # centers leave the pool; so do their tight-neighbours (covered)
        covered = te.join(
            round_centers.withColumnRenamed("record_id", _U), _U, "left_semi"
        ).select(F.col(_V).alias("record_id"))
        act = (
            act.join(round_centers, "record_id", "left_anti")
            .join(covered, "record_id", "left_anti")
        )
        act = checkpoint(act, checkpoint_dir, f"canopy_active_{rnd}")
        if act.isEmpty():
            return centers
        te = (
            te.join(act.withColumnRenamed("record_id", _U), _U, "left_semi")
            .join(act.withColumnRenamed("record_id", _V), _V, "left_semi")
        )
        te = checkpoint(te, checkpoint_dir, f"canopy_edges_{rnd}")

    raise RuntimeError(f"canopy_centers did not converge in {max_rounds} rounds")


def canopy_assign(
    edges: DataFrame,
    records: DataFrame,
    *,
    sim_col: str,
    tight: float,
    loose: float,
    max_rounds: int = 40,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """→ DataFrame(record_id, canopy): overlapping canopy membership.

    ``canopy`` is the center's record_id.  A record belongs to every
    canopy whose center it is loose-similar to, and to its own canopy
    if it is a center — so rows per record ≥ 1 (every non-center is
    tight-covered by some center and ``tight >= loose`` keeps that
    edge).  Downstream pairing is "records sharing a canopy", the
    McCallum et al. prescription.

    Membership is evaluated against ALL records, not the shrinking
    pool, making it order-free: a superset of the paper's list-based
    sequential variant (a tight-removed record can still join later
    canopies here).  For blocking that only adds recall, and it is
    what makes the operator deterministic under parallel evaluation."""
    if not loose <= tight:
        raise ValueError(
            f"loose similarity bound ({loose}) must be <= tight ({tight}); "
            "tight is the remove-from-pool radius, loose the membership radius"
        )
    # the sim edges are evaluated by BOTH the center rounds and the
    # loose membership join — persist across the two, released after
    # the eager checkpoint of the result
    ed = edges.persist()
    try:
        centers = canopy_centers(
            ed,
            records,
            sim_col=sim_col,
            tight=tight,
            max_rounds=max_rounds,
            checkpoint_dir=checkpoint_dir,
        )
        le = _sym(ed, sim_col, loose)
        members = (
            le.join(
                centers.withColumnRenamed("record_id", _U), _U, "left_semi"
            ).select(F.col(_V).alias("record_id"), F.col(_U).alias("canopy"))
        )
        own = centers.select("record_id", F.col("record_id").alias("canopy"))
        return members.unionByName(own).distinct().localCheckpoint(eager=True)
    finally:
        # symmetric release even on failure — long-lived sessions (the
        # oracle harness, notebook users) must not accumulate caches
        ed.unpersist()


def canopy_pairs(assignments: DataFrame) -> DataFrame:
    """→ links(record_id_l < record_id_r): records sharing ≥1 canopy —
    the candidate pairs the expensive comparer actually runs on.

    One self-equi-join keyed on ``canopy`` + distinct (overlapping
    canopies produce the same pair from several centers).  At scale a
    hot canopy behaves like a hot KeyLinker key: the canopy id is the
    join key, so the same ``max_pairs``-style pre-flight applies —
    count per-canopy sizes first if the tight threshold is loose."""
    a = assignments.select(F.col("record_id").alias(ID_L), "canopy")
    b = assignments.select(F.col("record_id").alias(ID_R), "canopy")
    return (
        a.join(b, "canopy")
        .filter(F.col(ID_L) < F.col(ID_R))
        .select(ID_L, ID_R)
        .distinct()
    )
