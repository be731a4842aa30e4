"""EditDistanceLinker — blocking by exact Levenshtein threshold.

The linker-protocol wrapper around ``text/edjoin.py``'s q-gram
prefix-filtered edit-distance join (Ed-Join, VLDB'08): a recall-1.0
blocker for short key fields (names, street lines, codes) where
KeyLinker's exact-equality keys are too strict and token-set blockers
(UnnestLinker, MinhashLshLinker) are too coarse.  The reference has no
edit-distance *blocker* — it applies edit distances only as pairwise
comparers after blocking (mismo/text/_similarity.py) — so this is a
beyond-reference linker that makes typo-tolerant blocking itself
scale-safe.

Dedupe tasks call ``edit_distance_pairs`` and link tasks
``edit_distance_link``; both run the same prefix-filter join, which
for dedupe is a self-join of one record relation and for link joins
two, under one global gram order over both sides.  Building the links
runs Spark jobs at call time when ``max_distance > 0``.  Links carry a
``distance`` column for downstream comparers/filters.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from mismo_spark.linker.base import infer_task
from mismo_spark.text.edjoin import (
    PAD_CHAR,
    edit_distance_link,
    edit_distance_pairs,
)
from mismo_spark.types.linkage import Linkage


class EditDistanceLinker:
    """Block pairs whose ``column`` values are within ``max_distance``
    Levenshtein edits.

    ``column`` is a key spec (name / Column-fn) applied to both sides,
    or a 2-tuple of per-side specs for link tasks with differing
    schemas."""

    def __init__(
        self,
        column,
        *,
        max_distance: int,
        q: int | str = 2,
        task: str | None = None,
        pad_char: str = PAD_CHAR,
        broadcast_records_max_bytes: int = 512 << 20,
    ) -> None:
        self.column = column
        self.max_distance = max_distance
        self.q = q
        self.task = task
        self.pad_char = pad_char
        self.broadcast_records_max_bytes = broadcast_records_max_bytes

    def _specs(self):
        if isinstance(self.column, tuple):
            lspec, rspec = self.column
        else:
            lspec = rspec = self.column
        return lspec, rspec

    def __call__(
        self, left: DataFrame, right: DataFrame | None = None
    ) -> Linkage:
        if right is None:
            right = left
        task = infer_task(left, right, self.task)
        lspec, rspec = self._specs()
        if task == "dedupe":
            links = edit_distance_pairs(
                left,
                lspec,
                max_distance=self.max_distance,
                q=self.q,
                pad_char=self.pad_char,
                broadcast_records_max_bytes=self.broadcast_records_max_bytes,
            )
        else:
            links = edit_distance_link(
                left,
                right,
                lspec,
                rspec,
                max_distance=self.max_distance,
                q=self.q,
                pad_char=self.pad_char,
                broadcast_records_max_bytes=self.broadcast_records_max_bytes,
            )
        return Linkage(left=left, right=right, links=links)
