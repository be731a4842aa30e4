"""KeyLinker: equi-join blocking with explicit skew control.

Semantics of mismo/linker/_key_linker.py:16-445 —
* link records where ALL key expressions are equal (nulls never match:
  SQL equality semantics drop them),
* ``task='dedupe'`` halves the self-join with ``record_id_l < record_id_r``,
* ``max_pairs`` removes keys whose pair count would exceed the budget
  (the *semantic* skew cap — mega-blocks like a hot domain are dropped,
  matching mismo/linker/_key_linker.py:195-222),
* ``skew_split`` salts the surviving hot keys instead of dropping them:
  a key whose estimated pair count exceeds the per-task budget is tiled
  across many tasks (triangle tiling for dedupe, 1-D salting for link)
  so no single task materializes the whole quadratic block — the
  output is IDENTICAL to the plain equi-join, only the physical
  distribution changes, and
* AQE skew-join handles residual imbalance (the *physical* half).

Spark plan shape: both sides are projected to (record_id, key...) before
the join — column pruning reaches the parquet scan — then hash-joined on
the key columns (Catalyst picks broadcast vs sort-merge; both sides huge
⇒ sort-merge shuffle on the keys, which is the minimal shuffle for
blocking).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mismo_spark._util import bind
from mismo_spark.linker.base import infer_task
from mismo_spark.types.linkage import ID_L, ID_R, Linkage


def _split_spec(spec) -> tuple[object, object]:
    """A key spec is either one spec for both sides or a (left, right) pair."""
    if isinstance(spec, tuple) and len(spec) == 2 and not isinstance(spec[0], str):
        return spec
    if isinstance(spec, tuple) and len(spec) == 2 and isinstance(spec[0], str) and isinstance(spec[1], str):
        return spec
    return spec, spec


def _pair_estimate(
    lk: DataFrame, rk: DataFrame, key_cols: list[str], task: str
) -> DataFrame:
    """Per key: its row counts (``__nl``, and ``__nr`` for link) and the
    pairs it would generate, ``__npairs`` (dedupe: n(n−1)/2; link:
    n_l·n_r), as a double so a hot key cannot overflow it.  One count
    aggregation per side, joined on the (small) distinct-key tables."""
    lc = lk.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__nl"))
    if task == "dedupe":
        return lc.withColumn(
            "__npairs", F.col("__nl").cast("double") * (F.col("__nl") - 1) / 2.0
        )
    rc = rk.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("__nr"))
    return lc.join(rc, key_cols, "inner").withColumn(
        "__npairs", F.col("__nl").cast("double") * F.col("__nr")
    )


class KeyLinker:
    """Block where all keys are equal (mismo/linker/_key_linker.py:16-193)."""

    def __init__(
        self,
        keys: Sequence,
        *,
        max_pairs: int | None = None,
        skew_split: int | None = None,
        task: str | None = None,
        name: str | None = None,
    ) -> None:
        self.keys = list(keys) if isinstance(keys, (list, tuple)) else [keys]
        # single (l, r) tuple passed bare
        if (
            len(self.keys) == 2
            and not isinstance(keys, list)
            and isinstance(keys, tuple)
        ):
            self.keys = [keys]
        self.max_pairs = max_pairs
        self.skew_split = skew_split
        self.task = task
        self.name = name

    def _key_name(self, i: int, spec) -> str:
        """Readable output name: the column name for plain-string specs
        (same both sides), positional otherwise."""
        s0, s1 = _split_spec(spec)
        if isinstance(s0, str) and s0 == s1 and s0 != "record_id":
            return s0
        return f"key_{i}"

    def _keyed(self, df: DataFrame, side: int) -> DataFrame:
        cols = []
        names: set[str] = set()
        for i, spec in enumerate(self.keys):
            s = _split_spec(spec)[side]
            bound = bind(df, s)
            base = self._key_name(i, spec)
            for j, c in enumerate(bound):
                name = base if len(bound) == 1 else f"{base}_{j}"
                if name in names:
                    name = f"key_{i}_{j}"
                names.add(name)
                cols.append(c.alias(name))
        keyed = df.select(F.col("record_id"), *cols)
        # nulls never match an equality key; drop before the shuffle
        return keyed.na.drop(subset=list(names))

    def __call__(self, left: DataFrame, right: DataFrame | None = None) -> Linkage:
        if right is None:
            right = left
        task = infer_task(left, right, self.task)
        lk = self._keyed(left, 0)
        rk = self._keyed(right, 1)
        key_cols = [c for c in lk.columns if c != "record_id"]

        if self.max_pairs is not None:
            too_common = self._too_common_keys(lk, rk, key_cols, task)
            # offender list is tiny (it's the skew tail) → broadcast anti-join
            lk = lk.join(F.broadcast(too_common), key_cols, "left_anti")
            rk = rk.join(F.broadcast(too_common), key_cols, "left_anti")

        if self.skew_split is not None:
            links = self._skew_split_links(lk, rk, key_cols, task)
            return Linkage(left=left, right=right, links=links)

        pairs = lk.select(F.col("record_id").alias(ID_L), *key_cols).join(
            rk.select(F.col("record_id").alias(ID_R), *key_cols), key_cols, "inner"
        )
        if task == "dedupe":
            pairs = pairs.filter(F.col(ID_L) < F.col(ID_R))
        links = pairs.select(ID_L, ID_R)
        return Linkage(left=left, right=right, links=links)

    def _skew_split_links(
        self, lk: DataFrame, rk: DataFrame, key_cols: list[str], task: str
    ) -> DataFrame:
        """Salted pair generation for hot keys ("explicit skew splitting").

        Keys whose estimated pair count exceeds ``skew_split`` pairs are
        tiled so each join task handles at most ~``skew_split`` of the
        key's pairs; cold keys take the plain equi-join path.  The union
        of the two paths is row-identical to the unsalted join — only
        the physical task distribution changes (verified by the
        key_linker_skew oracle row: same SQL, hash-equal results).

        * dedupe — triangle tiling: each record gets a deterministic
          salt ``g = pmod(xxhash64(record_id), s)``; the left role
          replicates a record into tiles ``(g, b)`` for ``b ∈ [g, s)``
          and the right role into tiles ``(a, g)`` for ``a ∈ [0, g]``,
          so an unordered cross-group pair lands in exactly one tile
          (min-salt side left) and same-group pairs hit the diagonal
          tile once per ordering (dedup'd by ``id_l < id_r``).  Salt
          count ``s = ceil(n / sqrt(budget))`` bounds every tile at
          ~``budget`` pairs; replication cost is ≤ s+1 copies of each
          hot-key row, and only hot keys pay it.
        * link — 2-D tiling: sides are salted independently into
          ``s_l = ceil(n_l/√budget)`` / ``s_r = ceil(n_r/√budget)``
          groups; a left row replicates into tiles ``(g_l, b)`` ∀b, a
          right row into ``(a, g_r)`` ∀a, and the join runs on
          (key, a, b) — each tile holds ~``budget`` pairs.  Replication
          is ``n_l·s_r + n_r·s_l ≈ 2·pairs/√budget``, always below the
          pair output itself (1-D salting — replicate one whole side
          per salt — degrades to ``pairs·n_r/budget``, which EXCEEDS
          the output once a side outgrows the budget).

        The hot-key table (keys + salt counts) is the skew tail —
        broadcast to both sides; the driver never sees record rows.
        """
        budget = float(self.skew_split)
        est = _pair_estimate(lk, rk, key_cols, task)
        if task == "dedupe":
            hot = est.filter(F.col("__npairs") > budget).select(
                *key_cols,
                F.greatest(
                    F.lit(2),
                    F.ceil(F.col("__nl") / F.sqrt(F.lit(budget))).cast("int"),
                ).alias("__s"),
            )
        else:
            root = F.sqrt(F.lit(budget))
            hot = est.filter(F.col("__npairs") > budget).select(
                *key_cols,
                F.greatest(
                    F.lit(1), F.ceil(F.col("__nl") / root).cast("int")
                ).alias("__sl"),
                F.greatest(
                    F.lit(1), F.ceil(F.col("__nr") / root).cast("int")
                ).alias("__sr"),
            )
        hot = F.broadcast(hot)

        l_ids = lk.select(F.col("record_id").alias(ID_L), *key_cols)
        r_ids = rk.select(F.col("record_id").alias(ID_R), *key_cols)

        # cold path: plain equi-join, exactly the unsalted plan
        cold = l_ids.join(hot.select(*key_cols), key_cols, "left_anti").join(
            r_ids.join(hot.select(*key_cols), key_cols, "left_anti"),
            key_cols,
            "inner",
        )
        if task == "dedupe":
            cold = cold.filter(F.col(ID_L) < F.col(ID_R))
        cold = cold.select(ID_L, ID_R)

        if task == "dedupe":
            lg = l_ids.join(hot, key_cols, "inner").withColumn(
                "__g", F.pmod(F.xxhash64(F.col(ID_L)), F.col("__s")).cast("int")
            )
            # left role: tiles (g, b) for b in [g, s)
            lt = lg.select(
                ID_L,
                *key_cols,
                F.col("__g").alias("__a"),
                F.explode(F.sequence(F.col("__g"), F.col("__s") - 1)).alias("__b"),
            )
            rg = r_ids.join(hot, key_cols, "inner").withColumn(
                "__g", F.pmod(F.xxhash64(F.col(ID_R)), F.col("__s")).cast("int")
            )
            # right role: tiles (a, g) for a in [0, g]
            rt = rg.select(
                ID_R,
                *key_cols,
                F.explode(F.sequence(F.lit(0), F.col("__g"))).alias("__a"),
                F.col("__g").alias("__b"),
            )
            hot_pairs = (
                lt.join(rt, [*key_cols, "__a", "__b"], "inner")
                # diagonal tiles see both orderings — keep one; off-diagonal
                # tiles see each unordered pair once, in salt order
                .filter((F.col("__a") < F.col("__b")) | (F.col(ID_L) < F.col(ID_R)))
                .select(
                    F.least(F.col(ID_L), F.col(ID_R)).alias(ID_L),
                    F.greatest(F.col(ID_L), F.col(ID_R)).alias(ID_R),
                )
            )
        else:
            # left row with salt g_l joins tiles (g_l, b) for all b;
            # right row with salt g_r joins tiles (a, g_r) for all a
            lt = (
                l_ids.join(hot, key_cols, "inner")
                .withColumn(
                    "__a",
                    F.pmod(F.xxhash64(F.col(ID_L)), F.col("__sl")).cast("int"),
                )
                .select(
                    ID_L,
                    *key_cols,
                    "__a",
                    F.explode(
                        F.sequence(F.lit(0), F.col("__sr") - 1)
                    ).alias("__b"),
                )
            )
            rt = (
                r_ids.join(hot, key_cols, "inner")
                .withColumn(
                    "__b",
                    F.pmod(F.xxhash64(F.col(ID_R)), F.col("__sr")).cast("int"),
                )
                .select(
                    ID_R,
                    *key_cols,
                    F.explode(
                        F.sequence(F.lit(0), F.col("__sl") - 1)
                    ).alias("__a"),
                    "__b",
                )
            )
            hot_pairs = lt.join(rt, [*key_cols, "__a", "__b"], "inner").select(
                ID_L, ID_R
            )

        return cold.unionByName(hot_pairs)

    def _too_common_keys(
        self, lk: DataFrame, rk: DataFrame, key_cols: list[str], task: str
    ) -> DataFrame:
        """Keys whose pair contribution exceeds max_pairs
        (mismo/linker/_key_linker.py:195-222).  Two cheap count
        aggregations + a join of the (small) distinct-key tables.
        """
        est = _pair_estimate(lk, rk, key_cols, task)
        return est.filter(F.col("__npairs") > self.max_pairs).select(*key_cols)

    def key_counts(self, df: DataFrame, side: int = 0) -> "KeyCountsTable":
        from mismo_spark.types.counts_table import KeyCountsTable

        keyed = self._keyed(df, side)
        key_cols = [c for c in keyed.columns if c != "record_id"]
        return KeyCountsTable(
            keyed.groupBy(*key_cols)
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), *key_cols)
        )

    def pair_counts(
        self, left: DataFrame, right: DataFrame | None = None, *, task: str | None = None
    ) -> DataFrame:
        """Pairs each key would generate, WITHOUT computing them —
        the pre-flight skew report (mismo/linker/_key_linker.py:418-445).
        dedupe: n(n−1)/2; link: n_l·n_r.
        """
        if right is None:
            right = left
        task = infer_task(left, right, task or self.task)
        lk = self._keyed(left, 0)
        key_cols = [c for c in lk.columns if c != "record_id"]
        rk = lk if task == "dedupe" else self._keyed(right, 1)
        out = _pair_estimate(lk, rk, key_cols, task).select(
            *key_cols, F.col("__npairs").cast("long").alias("n")
        )
        from mismo_spark.types.counts_table import PairCountsTable

        return PairCountsTable(out.orderBy(F.desc("n"), *key_cols))


def key_counts(df: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Standalone key_counts over plain column names
    (mismo/linker/_key_linker.py:408-415)."""
    return KeyLinker(list(keys)).key_counts(df)


def pair_counts(
    left: DataFrame,
    keys: Sequence[str],
    right: DataFrame | None = None,
    *,
    task: str | None = None,
) -> DataFrame:
    return KeyLinker(list(keys)).pair_counts(left, right, task=task)
