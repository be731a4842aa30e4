"""Transitive clustering: connected components over a links table.

Two algorithms, same fixed point (every record labelled with the
minimum id of its component — mismo's representative choice,
mismo/cluster/_connected_components.py:253-263):

* ``algorithm="naive"`` — min-label propagation, the direct semantic
  analogue of mismo/cluster/_connected_components.py:39-314.  Rounds ≈
  diameter of the largest component.  Kept as the test oracle.
* ``algorithm="star"`` (default) — alternating large-star/small-star
  (Kiveris et al. 2014, "Connected Components in MapReduce and
  Beyond"), O(log n) rounds and skew-safe: a hub node's edge list is
  rewritten toward the minimum, never gathered onto one reducer beyond
  a groupBy-min.  This is the scale path the north rule mandates.

Both iterate driver-side with a per-round checkpoint (``localCheckpoint``
or parquet when ``checkpoint_dir`` is given — the resumable variant),
cutting lineage exactly like mismo's per-round ``.cache()``
(mismo/cluster/_connected_components.py:207-209).  Convergence is
detected with one cheap pass per round (count + order-independent
xxhash64 sum of the edge set / label set).

Ids of any orderable type are supported by factorizing to int64 first
(mismo/_factorizer.py:12-152) — but *without* the reference's global
``dense_rank`` (a single-partition sort at scale): distinct ids get
``monotonically_increasing_id`` codes and are hash-joined back.

Driver finish (``algorithm="star"`` only): an edge set small enough
for Spark to broadcast (``spark.sql.autoBroadcastJoinThreshold``) is
collected once as Arrow and solved in the driver — ``pd.factorize(sort=
True)`` codes (so the smallest code is the smallest id) and a numpy
hook-and-shortcut union-find — before any round or factorize job runs.
A round costs several Spark jobs whatever the edge count, while the
driver needs one size probe, one collect and a few numpy passes; the
labels are the same minimum-id fixed point.  The edges are
local-checkpointed first, so the probe, the collect and — over the
budget — the rounds all read one materialization of the caller's plan.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType, StringType

from mismo_spark.types.linkage import ID_L, ID_R

_U, _V = "u", "v"
_INTEGRAL = (ByteType, IntegerType, LongType, ShortType)
# the fixed-width part of one edge in Arrow: two int64 ids, or two
# string offsets with room to spare; string ids add their bytes on top
_EDGE_BYTES = 16


def _chk(df: DataFrame, checkpoint_dir: str | None, tag: str) -> DataFrame:
    if checkpoint_dir is None:
        # lazy: the caller's very next action (convergence fingerprint /
        # update count) materializes the checkpoint — one job per round,
        # not two, while still cutting lineage
        return df.localCheckpoint(eager=False)
    path = f"{checkpoint_dir}/{tag}.parquet"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _set_fingerprint(df: DataFrame, cols: list[str]) -> tuple[int, int]:
    """(count, order-independent hash-sum) — one pass, used as the
    convergence check without a full set-difference."""
    hashed = df.select(F.xxhash64(*[F.col(c) for c in cols]).alias("__h"))
    row = hashed.agg(
        F.count(F.lit(1)).alias("n"), F.expr("bit_xor(__h)").alias("h")
    ).collect()[0]
    return row["n"], row["h"] if row["h"] is not None else 0


def connected_components(
    links: DataFrame,
    records: DataFrame | None = None,
    *,
    max_iter: int = 50,
    algorithm: str = "star",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """→ DataFrame(record_id, component) — component is the minimum
    record_id of the component (same type as record_id).

    ``records`` (optional, column ``record_id``) adds singleton
    components for unlinked records
    (mismo/cluster/_connected_components.py:305-314).  With ``records``
    the output has one row per ``records`` row; without it, one row
    per distinct endpoint of ``links``.

    ``links`` should be unique pairs.  Duplicates never change a label
    (every step is a min aggregation), but the rounds do not remove
    them up front: ``star`` carries them through the first large-star
    pass and ``naive`` re-joins them every round, so a caller with a
    non-unique link table (raw blocked candidates, say) pays for the
    duplicates in those rounds.  Self-loops are ignored.

    With ``algorithm="star"``, integral or string ids, and an edge set
    of at most ``spark.sql.autoBroadcastJoinThreshold`` bytes (16 per
    edge plus the UTF-8 bytes of string ids, measured by one aggregate
    before anything is collected), the components are solved on the
    driver (see the module docstring); a threshold of ``-1`` turns
    this off and adds no job.  Bigger edge sets cost that aggregate,
    over the edges the rounds then read, before the star rounds run.
    The driver finish always reaches the fixed point: ``max_iter``
    bounds only the Spark rounds.  With ``checkpoint_dir`` the driver
    labels are written there as parquet, as the rounds' checkpoints
    would be.
    """
    edges = links.select(F.col(ID_L).alias(_U), F.col(ID_R).alias(_V))

    def _run(int_edges: DataFrame) -> DataFrame:
        if algorithm == "star":
            return _cc_star(int_edges, max_iter, checkpoint_dir)
        if algorithm == "naive":
            return _cc_naive(int_edges, max_iter, checkpoint_dir)
        raise ValueError(f"unknown algorithm {algorithm!r}")

    id_types = [links.schema[ID_L].dataType, links.schema[ID_R].dataType]
    if records is not None:
        id_types.append(records.schema["record_id"].dataType)
    integral = all(isinstance(t, _INTEGRAL) for t in id_types)
    strings = all(t == StringType() for t in id_types)
    # the threshold in bytes, as the planner reads it; -1 turns
    # broadcasting, and so the driver finish, off
    conf = links.sparkSession._jsparkSession.sessionState().conf()
    budget = int(conf.autoBroadcastJoinThreshold())
    if algorithm == "star" and budget > 0 and (integral or strings):
        # materialized by the size probe's job; the collect, or the
        # rounds and the factorize below, read it instead of running
        # the caller's plan again
        edges = edges.localCheckpoint(eager=False)
        done = _driver_components(edges, records, checkpoint_dir, budget)
        if done is not None:
            return done
    if integral:
        # -- fast path: ids are already integral ------------------------
        # Both algorithms converge with every node labelled by the
        # MINIMUM id of its component, which for integral ids is exactly
        # mismo's canonical representative — so the factorize/decode/
        # relabel machinery below (~6 extra shuffles, two of them O(V)
        # joins) is pure overhead and skipped.  This path serves callers
        # with numeric ids; the pipeline's record_id is the url string,
        # which takes the factorize path below once the edge set is too
        # big for the driver finish.
        # No up-front .distinct(): both algorithms are duplicate-
        # insensitive (see the docstring's uniqueness note), and
        # typical callers feed already-unique link tables — the dedup
        # exchange over the full edge relation was pure overhead here.
        labels = _run(edges.filter(F.col(_U) != F.col(_V)))
        out = labels.withColumnRenamed("id", "record_id")
        base = (
            records.select("record_id")
            if records is not None
            # no records table: emit every edge endpoint (star labels
            # omit roots — see _cc_star — so completion is still needed)
            else edges.select(F.col(_U).alias("record_id"))
            .unionByName(edges.select(F.col(_V).alias("record_id")))
            .distinct()
        )
        return _label_all(base, out)

    # -- factorize arbitrary ids → int64 (no global sort) ----------------
    ids = edges.select(F.col(_U).alias("record_id")).unionByName(
        edges.select(F.col(_V).alias("record_id"))
    )
    if records is not None:
        ids = ids.unionByName(records.select("record_id"))
    mapping = (
        ids.distinct()
        .withColumn("__code", F.monotonically_increasing_id())
        .localCheckpoint(eager=True)
    )
    int_edges = (
        edges.join(mapping.withColumnRenamed("record_id", _U), _U)
        .select(F.col("__code").alias(_U), F.col(_V))
        .join(mapping.withColumnRenamed("record_id", _V), _V)
        .select(_U, F.col("__code").alias(_V))
        .filter(F.col(_U) != F.col(_V))
        .distinct()
    )

    labels = _run(int_edges)

    # -- decode + canonical relabel + singletons --------------------------
    out = mapping.join(labels, mapping["__code"] == labels["id"], "left").select(
        "record_id",
        F.coalesce(F.col("component"), F.col("__code")).alias("__comp_code"),
    )
    # canonical label = min ORIGINAL record id per component (mismo's
    # representative choice, mismo/cluster/_connected_components.py:253-263)
    # — engine-independent, so results compare across systems.  The
    # relabel is one groupBy-min (small: one row per component) + join.
    # (Unnecessary when ids are integral — see the fast path above —
    # because codes from monotonically_increasing_id don't preserve
    # record-id order.)
    canon = out.groupBy("__comp_code").agg(F.min("record_id").alias("component"))
    out = out.join(canon, "__comp_code").select("record_id", "component")
    if records is None:
        # only ids that appear in edges
        return out
    return records.select("record_id").join(out, "record_id", "left")


def _label_all(base: DataFrame, labels: DataFrame) -> DataFrame:
    """Every ``base`` record_id with its label; records ``labels`` does
    not mention are singletons (their own minimum)."""
    return base.join(labels, "record_id", "left").select(
        "record_id",
        F.coalesce(F.col("component"), F.col("record_id")).alias("component"),
    )


def _min_roots(cu: np.ndarray, cv: np.ndarray, n: int) -> np.ndarray:
    """Component root of each node ``0..n-1`` under edges ``(cu, cv)``:
    the smallest node of its component.

    Hook-and-shortcut union-find, vectorized: pointer-jump every node
    to its root, then hook each root that an edge joins to a smaller
    root onto the smallest such root (``np.minimum.at``).  Parents only
    ever decrease and ``parent[x] <= x``, so the trees stay acyclic and
    a root is the minimum of its tree; every round with a crossing edge
    removes a root, and edges inside one tree are dropped for good."""
    parent = np.arange(n)
    while True:
        while True:
            grand = parent[parent]
            if np.array_equal(grand, parent):
                break
            parent = grand
        pu, pv = parent[cu], parent[cv]
        cross = pu != pv
        if not cross.any():
            return parent
        cu, cv, pu, pv = cu[cross], cv[cross], pu[cross], pv[cross]
        lo = np.minimum(pu, pv)
        np.minimum.at(parent, pu, lo)
        np.minimum.at(parent, pv, lo)


def _driver_components(
    edges: DataFrame, records: DataFrame | None, checkpoint_dir: str | None, budget: int
) -> DataFrame | None:
    """The star fixed point solved on the driver, or None when the
    edge set is over ``budget`` bytes.

    The size is measured by one aggregate (edge count and string
    bytes) before anything is collected, so the driver never holds
    an edge set over the budget.  Output rows are exactly
    ``connected_components``': labels for every endpoint (a NULL
    endpoint yields the same ``(NULL, NULL)`` row the Spark paths
    emit), or ``records`` completed by the shared left-join +
    coalesce."""
    import pandas as pd
    import pyarrow as pa

    spark = edges.sparkSession
    if edges.schema[_U].dataType == StringType():
        text = F.coalesce(F.octet_length(_U), F.lit(0)) + F.coalesce(F.octet_length(_V), F.lit(0))
    else:
        text = F.lit(0)
    size = edges.agg(F.count(F.lit(1)).alias("n"), F.sum(text).alias("text")).collect()[0]
    if size["n"] * _EDGE_BYTES + (size["text"] or 0) > budget:
        return None
    # one id type for both columns (Spark's union widening), so the
    # factorize sees one column and the labels keep the rounds' type
    id_type = edges.select(_U).union(edges.select(_V)).schema[0].dataType
    tbl = edges.select(F.col(_U).cast(id_type), F.col(_V).cast(id_type)).toArrow()

    ends = pd.concat(
        [tbl.column(c).to_pandas(types_mapper=pd.ArrowDtype) for c in (_U, _V)],
        ignore_index=True,
    )
    # sort=True: code order is id order, so the root code (the smallest
    # in its component) decodes to the minimum record_id; NULL → -1
    codes, uniques = pd.factorize(ends, sort=True)
    codes = np.asarray(codes, dtype=np.int64)
    cu, cv = codes[: tbl.num_rows], codes[tbl.num_rows :]
    keep = (cu >= 0) & (cv >= 0)
    ids = pa.array(uniques, type=tbl.schema.field(_U).type)
    roots = _min_roots(cu[keep], cv[keep], len(ids))
    comps = ids.take(pa.array(roots))
    if records is None and (codes < 0).any():
        ids = pa.concat_arrays([ids, pa.nulls(1, ids.type)])
        comps = pa.concat_arrays([comps, pa.nulls(1, ids.type)])
    solved = pa.table({"record_id": ids, "component": comps})
    schema = f"record_id {id_type.simpleString()}, component {id_type.simpleString()}"
    labels = spark.createDataFrame(solved, schema=schema)
    if checkpoint_dir is not None:
        labels = _chk(labels, checkpoint_dir, "driver")
    if records is None:
        return labels
    return _label_all(records.select("record_id"), labels)


def _cc_naive(edges: DataFrame, max_iter: int, checkpoint_dir: str | None) -> DataFrame:
    """Min-label propagation (semantics of
    mismo/cluster/_connected_components.py:203-263)."""
    nodes = edges.select(F.col(_U).alias("id")).unionByName(
        edges.select(F.col(_V).alias("id"))
    ).distinct()
    labels = _chk(nodes.withColumn("component", F.col("id")), checkpoint_dir, "naive_0")
    edges = _chk(edges, checkpoint_dir, "naive_edges")
    for i in range(max_iter):
        lby = labels.withColumnRenamed("id", _V).withColumnRenamed("component", "c_v")
        lbx = labels.withColumnRenamed("id", _U).withColumnRenamed("component", "c_u")
        cand = (
            edges.join(lby, _V).select(F.col(_U).alias("id"), F.col("c_v").alias("component"))
            .unionByName(
                edges.join(lbx, _U).select(F.col(_V).alias("id"), F.col("c_u").alias("component"))
            )
            .unionByName(labels)
        )
        new_labels = cand.groupBy("id").agg(F.min("component").alias("component"))
        new_labels = _chk(new_labels, checkpoint_dir, f"naive_{i + 1}")
        n_updates = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if n_updates == 0:
            break
    return labels


def _large_star(edges: DataFrame) -> DataFrame:
    """For each node u: connect every strictly-larger neighbour to
    min(Γ(u) ∪ {u}).  Halves long chains; never gathers a hub's
    neighbourhood beyond a groupBy-min.

    Two shuffles: the groupBy-min (map-side partial — this, not a
    window-min, is what keeps a hub's neighbourhood off a single
    task) and the neighbours side of the join; the mins side reuses
    the aggregation's partitioning.  No trailing distinct — min() is
    duplicate-insensitive and the round's closing distinct in
    ``_small_star`` dedups the union anyway, so a dedup shuffle
    mid-round would be pure overhead."""
    nbrs = edges.unionByName(
        edges.select(F.col(_V).alias(_U), F.col(_U).alias(_V))
    )
    mins = (
        nbrs.groupBy(_U)
        .agg(F.min(_V).alias("__mv"))
        .select(_U, F.least(F.col("__mv"), F.col(_U)).alias("m"))
    )
    return (
        nbrs.join(mins, _U)
        .filter(F.col(_V) > F.col(_U))
        .select(F.col(_V).alias(_U), F.col("m").alias(_V))
        .filter(F.col(_U) != F.col(_V))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """For each node u and its smaller neighbours N: connect N ∪ {u}
    to min(N).

    Shuffles: the skew-safe groupBy-min, the oriented side of the
    join, and the closing distinct that canonicalizes the round's
    edge set (also what the convergence fingerprint hashes)."""
    oriented = edges.select(
        F.greatest(_U, _V).alias(_U), F.least(_U, _V).alias(_V)
    ).filter(F.col(_U) != F.col(_V)).distinct()
    mins = oriented.groupBy(_U).agg(F.min(_V).alias("m"))
    to_small = (
        oriented.join(mins, _U)
        .select(F.col(_V).alias(_U), F.col("m").alias(_V))
    )
    to_center = mins.select(F.col(_U), F.col("m").alias(_V))
    return (
        to_small.unionByName(to_center)
        .filter(F.col(_U) != F.col(_V))
        .distinct()
    )


def _cc_star(edges: DataFrame, max_iter: int, checkpoint_dir: str | None) -> DataFrame:
    """Alternating large-star/small-star to fixed point; O(log n) rounds.

    Returns PARENT labels only — (id, component) for every non-root
    node; roots (= component minima) are absent and must be
    self-labelled by the caller's coalesce.  Callers always finish
    with a left-join + coalesce against records/mapping/nodes anyway,
    so emitting root rows here would cost an extra O(V) distinct +
    join for nothing."""
    from mismo_spark._util import RoundPartitions

    cur = _chk(edges, checkpoint_dir, "star_0")
    prev_fp = _set_fingerprint(cur, [_U, _V])
    # per-round exchanges over the (usually shrinking) edge relation:
    # clamp shuffle width to the live edge count the fingerprint pass
    # already measures (never above ambient — no-op at cluster scale)
    rp = RoundPartitions(edges.sparkSession)
    try:
        rp.adapt(prev_fp[0])
        for i in range(max_iter):
            cur = _chk(_small_star(_large_star(cur)), checkpoint_dir, f"star_{i + 1}")
            fp = _set_fingerprint(cur, [_U, _V])
            if fp == prev_fp:
                break
            prev_fp = fp
            rp.adapt(fp[0])
    finally:
        rp.restore()
    # fixed point: every edge is (child, root-min)
    return cur.groupBy(F.col(_U).alias("id")).agg(F.min(_V).alias("component"))
