"""One-to-one link assignment: greedy maximum-weight matching.

After scoring, many pipelines must enforce that each record links to at
most one other record (deduplicating a merge, or matching one registry
against another where the truth is 1:1).  The sequential rule is
classic greedy matching: walk the scored pairs in a fixed total order —
``(score DESC, record_id_l ASC, record_id_r ASC)`` — and accept a pair
iff both of its records are still unmatched.  This is the standard
post-FS assignment step (Jaro 1989 solves the same 1:1 restriction with
an LP; greedy is its scalable 1/2-approximation with deterministic
output) that the reference leaves to the user after
``Linkage.best_match_*`` / ``unambiguous_only``
(mismo/linkage/_linkage.py:248-301 filters one side only; this enforces
both sides jointly).

Two input regimes with different correct implementations:

* **Bipartite** (two-table linkage, disjoint l/r id spaces): a record
  is identified by its side, so per-side ``row_number`` windows rank
  each record's edges completely.
* **Dedupe** (self-linkage, one shared id space, canonical ``l < r``
  pairs): the same record id can appear as ``record_id_l`` of one edge
  and ``record_id_r`` of another; side-partitioned windows would see
  only half its incident edges and could match it twice.  Here each
  edge is *symmetrized* into a two-row node view (``posexplode`` of
  ``[id_l, id_r]``) and ranked per **node** over the union of both
  orientations — the general-graph form of the same algorithm.

``dedupe=None`` (default) auto-detects the regime with a one-off
semi-join probe of the two id sets; pass ``True``/``False`` to skip it.
CAUTION: two-table linkages whose id spaces can collide numerically
(left id 5 is a different record than right id 5) must pass
``dedupe=False`` explicitly — the overlap probe cannot distinguish a
coincidental collision from true self-linkage.

The distributed form uses the *locally dominant edge* equivalence
(Hoepman 2004, "Simple distributed weighted matchings"; also the basis
of Manne & Bisseling's parallel greedy): under ANY total order on
edges, an edge is accepted by sequential greedy iff it is the order's
minimum among the not-yet-removed edges at BOTH its endpoints.  So each
round accepts every edge that is rank 1 at both endpoints (same total
order in every window), drops every other edge incident to a newly
matched record, and repeats on the remainder.  The result is
bit-identical to the sequential scan on bipartite AND general graphs;
round count ≈ the longest strictly-descending score path (typically
< 10; a tie-broken block of equal scores resolves in O(log) rounds
because half its edges are dominant or removed each round).

Scale shape: each round is window exchanges only — hash partitions on
``record_id_l`` / ``record_id_r`` (bipartite) or on ``node`` /
``(id_l, id_r)`` over the 2×-row node view (dedupe) — no joins, and no
driver-side data except a per-round (matched, remaining) count pair.
Lineage is cut per round exactly like cluster/cc.py (lazy
``localCheckpoint`` or durable parquet under ``checkpoint_dir`` for
resumable long jobs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mismo_spark.types.linkage import ID_L, ID_R

_DOM = "__dom"
_RN_L = "__rn_l"
_RN_R = "__rn_r"
_NODE = "__node"
_POS = "__pos"
_RN = "__rn"


def _chk(df: DataFrame, checkpoint_dir: str | None, tag: str) -> DataFrame:
    if checkpoint_dir is None:
        return df.localCheckpoint(eager=False)
    path = f"{checkpoint_dir}/{tag}.parquet"
    df.write.mode("overwrite").parquet(path)
    return df.sparkSession.read.parquet(path)


def _order(score_col: str):
    return [F.col(score_col).desc(), F.col(ID_L).asc(), F.col(ID_R).asc()]


def _shares_id_space(links: DataFrame) -> bool:
    """True iff some id occurs on both sides (dedupe-shaped input).

    One semi-join probe over the two id columns; cheap relative to the
    iterative matching that follows, and skipped entirely when the
    caller passes ``dedupe=`` explicitly.
    """
    l_ids = links.select(F.col(ID_L).alias("__id"))
    r_ids = links.select(F.col(ID_R).alias("__id"))
    return bool(l_ids.join(r_ids, "__id", "left_semi").take(1))


def _node_view(rem: DataFrame) -> DataFrame:
    """Symmetrize edges into two rows each: one per endpoint node.

    ``__pos == 0`` marks the ``id_l`` row so the edge can be collapsed
    back to a single row after the node-partitioned windows.
    """
    return rem.select("*", F.posexplode(F.array(ID_L, ID_R)).alias(_POS, _NODE))


def _canonical_pairs(links: DataFrame, order) -> DataFrame:
    """Dedupe-mode preconditions, enforced once up front: drop
    self-pairs (a record cannot match itself) and collapse duplicate
    ``(id_l, id_r)`` rows to the greedy-order-first one — duplicate
    edges would otherwise make ``max(rn)`` over the edge partition
    permanently > 1 and stall the dominant-edge rounds."""
    w_pair = Window.partitionBy(ID_L, ID_R).orderBy(*order)
    return (
        links.filter(F.col(ID_L) != F.col(ID_R))
        .withColumn(_RN, F.row_number().over(w_pair))
        .filter(F.col(_RN) == 1)
        .drop(_RN)
    )


def mutual_best_links(
    links: DataFrame, score_col: str, *, dedupe: bool | None = None
) -> DataFrame:
    """Reciprocal-best filter: keep pairs that are the top-ranked link
    of BOTH their records under ``(score DESC, id_l, id_r)``.

    This is exactly round 1 of :func:`one_to_one_links` — a useful
    cheap filter on its own (bioinformatics' "reciprocal best hit"),
    guaranteed 1:1 but not maximal: records whose best partners were
    claimed by better pairs stay unmatched.  ``dedupe`` selects the
    ranking universe exactly as in :func:`one_to_one_links`: per side
    (bipartite) or per node over both orientations (shared id space);
    ``None`` auto-detects.  Two window exchanges either way.
    """
    order = _order(score_col)
    if dedupe is None:
        # materialize BEFORE the probe — see one_to_one_links (the
        # semi-join would otherwise execute the upstream scoring twice)
        links = _chk(links, None, "mutual_best_probe_input")
        dedupe = _shares_id_space(links)
    if dedupe:
        w_node = Window.partitionBy(_NODE).orderBy(*order)
        w_edge = Window.partitionBy(ID_L, ID_R)
        return (
            _node_view(_canonical_pairs(links, order))
            .withColumn(_RN, F.row_number().over(w_node))
            .withColumn("__max_rn", F.max(_RN).over(w_edge))
            .filter((F.col(_POS) == 0) & (F.col("__max_rn") == 1))
            .drop(_POS, _NODE, _RN, "__max_rn")
        )
    w_l = Window.partitionBy(ID_L).orderBy(*order)
    w_r = Window.partitionBy(ID_R).orderBy(*order)
    return (
        links.withColumn(_RN_L, F.row_number().over(w_l))
        .withColumn(_RN_R, F.row_number().over(w_r))
        .filter((F.col(_RN_L) == 1) & (F.col(_RN_R) == 1))
        .drop(_RN_L, _RN_R)
    )


def _round_bipartite(rem: DataFrame, order) -> DataFrame:
    """One dominant-edge round, disjoint id spaces: flag ``__dom`` and
    keep only dominant edges plus edges with both records unmatched."""
    w_l = Window.partitionBy(ID_L).orderBy(*order)
    w_r = Window.partitionBy(ID_R).orderBy(*order)
    dom_l = Window.partitionBy(ID_L)
    dom_r = Window.partitionBy(ID_R)
    # window order matters for the shuffle count: rn_l (hash by l),
    # then BOTH r-partitioned windows back to back (rn_r's exchange
    # satisfies __r_dom's partitioning requirement — no re-shuffle),
    # then the final l-partitioned window: 3 exchanges per round,
    # not the 4 the naive l/r/l/r interleaving costs
    return (
        rem.withColumn(_RN_L, F.row_number().over(w_l))
        .withColumn(_RN_R, F.row_number().over(w_r))
        .withColumn(
            _DOM,
            ((F.col(_RN_L) == 1) & (F.col(_RN_R) == 1)).cast("int"),
        )
        # an edge survives to the next round iff NEITHER of its
        # records gained a dominant (= matched) edge this round
        .withColumn("__r_dom", F.max(_DOM).over(dom_r))
        .withColumn("__l_dom", F.max(_DOM).over(dom_l))
        .filter((F.col(_DOM) == 1) | ((F.col("__l_dom") == 0) & (F.col("__r_dom") == 0)))
        .drop(_RN_L, _RN_R, "__l_dom", "__r_dom")
    )


def _round_dedupe(rem: DataFrame, order) -> DataFrame:
    """One dominant-edge round on the symmetrized node view: an edge is
    dominant iff it is rank 1 at BOTH endpoint nodes (``max(rn)`` over
    the edge's two rows == 1), and survives iff neither endpoint node
    gained a dominant edge.  Four exchanges over 2× rows, alternating
    node / edge hash partitioning."""
    w_node = Window.partitionBy(_NODE).orderBy(*order)
    w_node_u = Window.partitionBy(_NODE)
    w_edge = Window.partitionBy(ID_L, ID_R)
    return (
        _node_view(rem)
        .withColumn(_RN, F.row_number().over(w_node))
        .withColumn(_DOM, (F.max(_RN).over(w_edge) == 1).cast("int"))
        .withColumn("__node_used", F.max(_DOM).over(w_node_u))
        .withColumn("__any_used", F.max("__node_used").over(w_edge))
        .filter((F.col(_POS) == 0) & ((F.col(_DOM) == 1) | (F.col("__any_used") == 0)))
        .drop(_POS, _NODE, _RN, "__node_used", "__any_used")
    )


def one_to_one_links(
    links: DataFrame,
    score_col: str,
    *,
    dedupe: bool | None = None,
    max_rounds: int = 60,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Greedy 1:1 matching over scored links; returns the accepted
    subset of ``links`` (all input columns preserved).

    Bit-identical to the sequential greedy scan in
    ``(score DESC, record_id_l ASC, record_id_r ASC)`` order — with ONE
    shared used-record set when ``dedupe`` (a record matched in either
    orientation is removed), or per-side used sets when bipartite; see
    module docstring for the locally-dominant-edge argument and the
    regime auto-detection (``dedupe=None``).  Null scores are rejected
    up front (no total order under NULL); in dedupe mode self-pairs
    (``id_l == id_r``) are dropped too — a record cannot match itself.

    Raises ``RuntimeError`` if ``max_rounds`` is exhausted before the
    remainder empties — with the default 60 that means a
    strictly-descending alternating path of ~120 edges, which on real
    similarity scores indicates degenerate input, not a small bound.

    Session-wide side effect: while the rounds run,
    ``spark.sql.adaptive.enabled`` is ``false`` and
    ``spark.sql.shuffle.partitions`` is clamped (both restored on
    exit).  Any other query planned on the same session meanwhile —
    from another thread, say — runs without AQE's coalescing and skew
    handling and with the clamped partition count.
    """
    if score_col not in links.columns:
        raise ValueError(f"links has no column {score_col!r}; has {links.columns}")

    order = _order(score_col)
    rem = links.filter(F.col(score_col).isNotNull())
    if dedupe is None:
        # materialize BEFORE the probe: the semi-join references the
        # links plan on both sides, and without a lineage cut the whole
        # upstream scoring pipeline would execute twice just for the
        # regime detection (r5 ADVICE)
        rem = _chk(rem, checkpoint_dir, "one_to_one_probe_input")
        dedupe = _shares_id_space(rem)
    if dedupe:
        rem = _canonical_pairs(rem, order)
    one_round = _round_dedupe if dedupe else _round_bipartite
    matched: DataFrame | None = None

    from mismo_spark._util import RoundPartitions

    # per-round window exchanges over a geometrically shrinking edge
    # relation: clamp shuffle width to the live row count (never above
    # the ambient setting — no-op at cluster scale).  The input edges
    # are materialized BEFORE round 0 so the clamp covers the first
    # round's exchanges too (the upstream scoring executes exactly once
    # either way).  Join-free window rounds → AQE off for the loop
    # (per-exchange barriers are pure overhead once the clamp
    # right-sizes the exchanges; see RoundPartitions).
    rp = RoundPartitions(links.sparkSession, disable_aqe=True)
    try:
        rem = _chk(rem, checkpoint_dir, "one_to_one_input")
        rp.adapt(rem.count())
        for rnd in range(max_rounds):
            flagged = _chk(
                one_round(rem, order), checkpoint_dir, f"one_to_one_round_{rnd}"
            )
            counts = flagged.groupBy(_DOM).count().collect()
            n_rem = sum(r["count"] for r in counts if r[_DOM] == 0)
            round_matched = flagged.filter(F.col(_DOM) == 1).drop(_DOM)
            matched = (
                round_matched
                if matched is None
                else matched.unionByName(round_matched)
            )
            if n_rem == 0:
                return matched
            rem = flagged.filter(F.col(_DOM) == 0).drop(_DOM)
            rp.adapt(n_rem)
    finally:
        rp.restore()

    raise RuntimeError(
        f"one_to_one_links did not converge in {max_rounds} rounds; "
        "scores likely form a pathological descending chain"
    )
