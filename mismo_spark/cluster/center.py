"""CENTER clustering — star clusters from a sorted similarity stream.

Hassanzadeh & Miller, "Creating probabilistic databases from duplicated
data" (VLDBJ 2009) benchmark this family for duplicate detection:
process scored pairs in DESCENDING similarity order; when an edge
joins two unassigned records, one becomes a cluster *center* and the
other its member; an unassigned record seeing an edge to an existing
center joins that center; edges touching only members (or two settled
records) do nothing.  Every cluster is a star around its center —
link-graph diameter ≤ 2, like :mod:`pivot` — but driven by the SCORE
order, so the strongest pairs seed the clusters (KwikCluster's pivots
are id-ordered and score-blind).

Determinism: the scan order is the total order ``(score DESC, min_id,
max_id)`` and the center of a fresh pair is its smaller record_id.

Distributed form: record states only move U → {center | member} and
then FREEZE, so an edge's sequential outcome is known as soon as each
endpoint is either frozen or has this edge as its FIRST undecided
edge — the same locally-decidable-prefix argument as
``linker/assignment.py`` (there every decision also removed the
records; here centers stay live, which lets later rounds decide their
remaining edges in bulk).  Each round decides every such edge at
once, updates states, drops decided edges, and repeats; the result is
bit-identical to the sequential scan, and a hot center's pending
edges collapse in O(1) rounds once it freezes (its side is always
"ready"), so rounds track the longest chain of genuinely dependent
decisions, not node degree.

Plan per round: four exchanges over the shrinking undecided-edge
relation — rank window keyed by record, decidability window keyed by
edge, outcome window keyed by record, mirror window keyed by edge —
plus the per-round lineage cut shared by all the iterative operators.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mismo_spark.types.linkage import ID_L, ID_R

# state codes (also used by the oracle SQL)
_U, _C, _M = 0, 1, 2
# upd encoding: state * _ENC + (center + 1); 0 / null = no change
_ENC = 1 << 40


def _chk(df: DataFrame, checkpoint_dir: str | None, tag: str) -> DataFrame:
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=False)
    path = f"{checkpoint_dir}/{tag}.parquet"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def center_clustering(
    links: DataFrame,
    records: DataFrame,
    *,
    score_col: str,
    threshold: float | None = None,
    max_rounds: int = 60,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """→ DataFrame(record_id, cluster): CENTER clustering of the
    scored ``links`` over ``records.record_id``.

    ``cluster`` is the center's record_id; records never touched by a
    deciding edge (isolated, or every edge arrived member-to-member)
    are their own singleton clusters, per the paper.  ``threshold``
    optionally drops links below a score floor first.  Record ids must
    be NON-NEGATIVE integers below 2^40 (the round encoding packs
    ``state * 2^40 + id + 1`` into a long); factorize other id types
    first (cluster/cc.py does the same for its fast path).

    Session-wide side effect: while the rounds run,
    ``spark.sql.adaptive.enabled`` is ``false`` and
    ``spark.sql.shuffle.partitions`` is clamped (both restored on
    exit).  Any other query planned on the same session meanwhile —
    from another thread, say — runs without AQE's coalescing and skew
    handling and with the clamped partition count."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    integral = (ByteType, ShortType, IntegerType, LongType)
    for df, col in ((links, ID_L), (links, ID_R), (records, "record_id")):
        if not isinstance(df.schema[col].dataType, integral):
            raise TypeError(
                f"center_clustering needs integral record ids; {col} is "
                f"{df.schema[col].dataType.simpleString()} — factorize first"
            )
    # pre-flight the documented id range: the round encoding packs
    # state * 2^40 + id + 1 into a long, so a negative or >= 2^40 id
    # would silently corrupt state/center decoding — fail loudly
    # instead (one tiny min/max aggregate per input, r4 ADVICE fix)
    lim = 1 << 40
    lo, hi = links.select(
        F.least(F.min(ID_L), F.min(ID_R)), F.greatest(F.max(ID_L), F.max(ID_R))
    ).first()
    rlo, rhi = records.select(F.min("record_id"), F.max("record_id")).first()
    for bound_lo, bound_hi, src in ((lo, hi, "links"), (rlo, rhi, "records")):
        if bound_lo is not None and (bound_lo < 0 or bound_hi >= lim):
            raise ValueError(
                f"center_clustering record ids in {src} must satisfy "
                f"0 <= id < 2^40 (packing invariant); got range "
                f"[{bound_lo}, {bound_hi}] — factorize first"
            )
    e = links.filter(F.col(score_col).isNotNull())
    if threshold is not None:
        e = e.filter(F.col(score_col) >= threshold)
    e = e.filter(F.col(ID_L) != F.col(ID_R))
    base = e.select(
        F.least(ID_L, ID_R).alias("k1"),
        F.greatest(ID_L, ID_R).alias("k2"),
        F.col(score_col).alias("s"),
    ).dropDuplicates(["k1", "k2"])
    rows = (
        base.select(F.col("k1").alias("node"), F.col("k2").alias("other"), "s", "k1", "k2")
        .unionByName(
            base.select(
                F.col("k2").alias("node"), F.col("k1").alias("other"), "s", "k1", "k2"
            )
        )
        .withColumn("st_n", F.lit(_U))
        .withColumn("ctr_n", F.lit(None).cast("long"))
        .withColumn("st_o", F.lit(_U))
        .withColumn("ctr_o", F.lit(None).cast("long"))
    )

    w_rank = Window.partitionBy("node").orderBy(
        F.col("s").desc(), F.col("k1").asc(), F.col("k2").asc()
    )
    w_edge = Window.partitionBy("k1", "k2")
    w_node = Window.partitionBy("node")

    from mismo_spark._util import RoundPartitions

    # per-round exchanges over the geometrically shrinking undecided
    # relation: clamp shuffle width to the live row count (never above
    # the ambient setting — no-op at cluster scale).  The node-view
    # relation is materialized BEFORE round 0 so the clamp covers the
    # first round's four window exchanges too (the upstream scoring
    # executes exactly once either way — this just moves the
    # materialization point ahead of the loop).
    # join-free window rounds: AQE's per-exchange barriers are pure
    # overhead once the clamp right-sizes the exchanges (see
    # RoundPartitions) — measured ~1.4× on this loop at bench scale
    rp = RoundPartitions(links.sparkSession, disable_aqe=True)
    assigned: DataFrame | None = None
    try:
        rows = _chk(rows, checkpoint_dir, "center_rows_init")
        rp.adapt(rows.count())
        assigned = _center_rounds(
            rows, w_rank, w_edge, w_node, max_rounds, checkpoint_dir, rp
        )
    finally:
        rp.restore()

    out = records.select("record_id").distinct()
    if assigned is not None:
        out = out.join(assigned, "record_id", "left").select(
            "record_id",
            F.coalesce(F.col("cluster"), F.col("record_id")).alias("cluster"),
        )
    else:
        out = out.select("record_id", F.col("record_id").alias("cluster"))
    return out


def _center_rounds(
    rows: DataFrame,
    w_rank,
    w_edge,
    w_node,
    max_rounds: int,
    checkpoint_dir: str | None,
    rp,
) -> DataFrame | None:
    assigned: DataFrame | None = None
    for rnd in range(max_rounds):
        st = rows.withColumn("__rn", F.row_number().over(w_rank))
        st = st.withColumn(
            "__ready", ((F.col("st_n") != _U) | (F.col("__rn") == 1)).cast("int")
        )
        st = st.withColumn("__decid", F.min("__ready").over(w_edge))
        # sequential outcome of this node's rank-1 edge, when decidable
        upd = (
            F.when(
                (F.col("__rn") == 1) & (F.col("__decid") == 1) & (F.col("st_n") == _U),
                F.when(
                    F.col("st_o") == _U,
                    F.when(
                        F.col("node") < F.col("other"),
                        F.lit(_C) * _ENC + F.col("node") + 1,
                    ).otherwise(F.lit(_M) * _ENC + F.col("other") + 1),
                )
                .when(
                    F.col("st_o") == _C, F.lit(_M) * _ENC + F.col("other") + 1
                )
                .otherwise(F.lit(None).cast("long")),  # other is a member: skip
            )
        ).cast("long")
        st = st.withColumn("__upd", upd)
        st = st.withColumn("__node_upd", F.max("__upd").over(w_node))
        # share each side's update with the mirror row (2-row partition)
        st = st.withColumn(
            "__other_upd",
            F.sum(F.coalesce(F.col("__node_upd"), F.lit(0))).over(w_edge)
            - F.coalesce(F.col("__node_upd"), F.lit(0)),
        )
        st = _chk(st, checkpoint_dir, f"center_round_{rnd}")

        emits = st.filter(
            (F.col("__rn") == 1) & F.col("__upd").isNotNull()
        ).select(
            F.col("node").alias("record_id"),
            (F.col("__upd") % _ENC - 1).alias("cluster"),
        )
        assigned = emits if assigned is None else assigned.unionByName(emits)

        remaining = st.filter(F.col("__decid") == 0).select(
            "node",
            "other",
            "s",
            "k1",
            "k2",
            F.when(
                F.col("__node_upd").isNotNull(),
                (F.col("__node_upd") / _ENC).cast("int"),
            )
            .otherwise(F.col("st_n"))
            .alias("st_n"),
            F.when(
                F.col("__node_upd").isNotNull(), F.col("__node_upd") % _ENC - 1
            )
            .otherwise(F.col("ctr_n"))
            .alias("ctr_n"),
            F.when(
                F.col("__other_upd") > 0, (F.col("__other_upd") / _ENC).cast("int")
            )
            .otherwise(F.col("st_o"))
            .alias("st_o"),
            F.when(F.col("__other_upd") > 0, F.col("__other_upd") % _ENC - 1)
            .otherwise(F.col("ctr_o"))
            .alias("ctr_o"),
        )
        n_rem = remaining.count()
        rows = remaining
        if n_rem == 0:
            return assigned
        rp.adapt(n_rem)
    raise RuntimeError(
        f"center_clustering did not converge in {max_rounds} rounds"
    )
