"""Cluster assignments at MULTIPLE score thresholds in one sweep —
splink's "cluster at several match-weight thresholds" as a fold over
incremental connected components.

Choosing the clustering threshold is empirical: operators want the
assignment at, say, odds ≥ 1000 / ≥ 100 / ≥ 10 side by side before
committing.  Running CC from scratch per threshold re-clusters the
whole corpus k times; this module exploits the monotone structure —
lowering the threshold only ADDS edges, and additions only MERGE
components — so each step folds just the newly admitted edge band
into the previous assignment via ``incremental_components`` (each old
component enters as its label, so the fold is sized by the band).

The fold gives exactly the from-scratch answer at every threshold
(the incremental==full identity is pytest-pinned in
tests/test_incremental_cc.py; re-asserted per threshold here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mismo_spark.cluster.cc import connected_components
from mismo_spark.cluster.incremental import incremental_components
from mismo_spark.types.linkage import ID_L, ID_R


def components_at_thresholds(
    scored_links: DataFrame,
    thresholds: list[float],
    records: DataFrame | None = None,
    *,
    odds_col: str = "odds",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """→ DataFrame(threshold, record_id, component): the connected-
    components assignment of ``scored_links`` filtered to
    ``odds_col >= t``, for every t in ``thresholds`` — computed as one
    high-to-low fold, not k independent clusterings.

    ``records`` (column ``record_id``) adds singleton rows at every
    threshold.  Thresholds may be passed in any order; duplicates are
    rejected.  Each intermediate assignment is persisted for the two
    jobs that read it (the output union and the next fold step).
    """
    if not thresholds:
        raise ValueError("thresholds must be non-empty")
    if len(set(thresholds)) != len(thresholds):
        raise ValueError(f"thresholds must be distinct, got {thresholds}")
    ts = sorted(thresholds, reverse=True)

    # materialize the narrow (l, r, odds) projection once: every
    # threshold band filters it, and behind it can sit the whole
    # scoring pipeline — re-executed per band otherwise
    scored_links = scored_links.select(ID_L, ID_R, odds_col).localCheckpoint(
        eager=True
    )
    cached = []
    assignment = connected_components(
        scored_links.where(F.col(odds_col) >= ts[0]).select(ID_L, ID_R),
        records,
        checkpoint_dir=checkpoint_dir,
    ).persist()
    cached.append(assignment)
    out = assignment.select(
        F.lit(float(ts[0])).alias("threshold"), "record_id", "component"
    )
    prev = ts[0]
    for t in ts[1:]:
        band = scored_links.where(
            (F.col(odds_col) >= t) & (F.col(odds_col) < prev)
        ).select(ID_L, ID_R)
        assignment = incremental_components(
            assignment, band, checkpoint_dir=checkpoint_dir
        ).persist()
        cached.append(assignment)
        out = out.unionByName(
            assignment.select(
                F.lit(float(t)).alias("threshold"), "record_id", "component"
            )
        )
        prev = t
    # materialize the result, then release the per-step caches — a
    # long-lived session must not accumulate k assignments per sweep
    out = out.localCheckpoint(eager=True)
    for df in cached:
        df.unpersist()
    return out
