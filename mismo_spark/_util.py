"""Small shared utilities (semantics of mismo/_util.py, Spark-native).

Only the pieces Spark actually needs: mismo's table-inference machinery
(`_util.select/bind`) is unnecessary because Spark columns are always
DataFrame-bound.
"""

from __future__ import annotations

import uuid
from collections.abc import Callable, Iterable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def unique_name(prefix: str = "tmp") -> str:
    """Collision-free temp column name (mismo/_util.py:284-291)."""
    return f"__{prefix}_{uuid.uuid4().hex[:8]}"


def explode_computed(
    df: DataFrame, cols: Sequence, arr: Column, alias: str
) -> DataFrame:
    """Explode a COMPUTED array expression without paying for it twice.

    ``F.explode`` of a computed array makes the optimizer infer a
    ``size(arr) > 0 AND arr IS NOT NULL`` filter and push it below the
    projection, inlining the entire array expression (tokenizers,
    higher-order functions, hashes) into a second — interpreted —
    per-row evaluation; on gram pipelines that measured up to ~10× the
    cost of the generate itself (see textqa/repetition.py).
    ``explode_outer`` gets no inferred filter; dropping the null rows
    it emits for empty/null arrays afterwards reproduces plain-explode
    semantics exactly, PROVIDED the array's elements are never null
    (true for token/gram/line arrays — split() and concat_ws() cannot
    produce null elements).  For a STORED array column, plain
    ``F.explode`` remains better: the inferred isnotnull can reach the
    scan."""
    return df.select(*cols, F.explode_outer(arr).alias(alias)).where(
        F.col(alias).isNotNull()
    )


def optimizer_barrier(c: Column) -> Column:
    """Value-identity wrapper tagged NON-DETERMINISTIC (a one-element
    ``shuffle`` — the shuffled singleton is always the value itself), so
    the optimizer neither pushes predicates through the projection that
    computes ``c`` (``PushPredicateThroughNonJoin`` requires every
    project field deterministic) nor collapses it into consumers
    (``CollapseProject`` likewise).

    Use it on expensive higher-order-function columns that downstream
    code may FILTER on: without the barrier, predicate pushdown
    substitutes the column's full expression tree into the predicate,
    and any HOF lambda that referenced the column as an attribute now
    re-evaluates the whole inlined subtree PER ARRAY ELEMENT —
    nested chains of such columns make that re-evaluation effectively
    exponential per row (observed as a pipeline that never finishes on
    500 rows, textqa/repetition.py).  The wrapped value, and therefore
    every result, is bit-identical."""
    return F.get(F.shuffle(F.array(c)), 0)


def cases(branches: Sequence[tuple[Column, Column]], else_: Column) -> Column:
    """First-match-wins CASE WHEN chain (mismo/_util.py:95-112)."""
    out = None
    for cond, value in branches:
        out = F.when(cond, value) if out is None else out.when(cond, value)
    return else_ if out is None else out.otherwise(else_)


def bind(df: DataFrame, spec) -> list[Column]:
    """Resolve a key spec against a DataFrame → list of Columns.

    Accepts str (column name), Column, callable(df) -> Column | list,
    or an iterable of those.  This is the Spark reduction of mismo's
    ValueResolver family (mismo/_resolve.py:23-210): Deferred
    expressions and conjunction parsing don't exist here — callers pass
    explicit per-side specs.
    """
    if isinstance(spec, str):
        return [df[spec]]
    if isinstance(spec, Column):
        return [spec]
    if callable(spec):
        out = spec(df)
        return list(out) if isinstance(out, (list, tuple)) else [out]
    if isinstance(spec, Iterable):
        cols: list[Column] = []
        for s in spec:
            cols.extend(bind(df, s))
        return cols
    raise TypeError(f"cannot resolve key spec {spec!r}")


def bind_one(df: DataFrame, spec) -> Column:
    cols = bind(df, spec)
    if len(cols) != 1:
        raise ValueError(f"expected one column from spec {spec!r}, got {len(cols)}")
    return cols[0]


def rename_all(df: DataFrame, suffix: str, *, exclude: Sequence[str] = ()) -> DataFrame:
    """Append a suffix to every column (mismo/joins/_core.py:100-145 pattern)."""
    return df.select(
        *[F.col(c).alias(c if c in exclude else f"{c}{suffix}") for c in df.columns]
    )


def join_lookup(
    left: DataFrame,
    lookup: DataFrame,
    on: str | list[str],
    defaults: dict[str, Column] | None = None,
) -> DataFrame:
    """Left-join a 1-row-per-key lookup with defaults for misses
    (mismo/_util.py:406-491).  The union+anti-join dance in the
    reference is unnecessary: left join + coalesce is one shuffle.
    """
    on = [on] if isinstance(on, str) else list(on)
    out = left.join(F.broadcast(lookup) if _is_smallish(lookup) else lookup, on, "left")
    for col, default in (defaults or {}).items():
        out = out.withColumn(col, F.coalesce(F.col(col), default))
    return out


def _is_smallish(df: DataFrame) -> bool:
    # Heuristic only used to add a broadcast *hint*; AQE may override.
    try:
        plan = df._jdf.queryExecution().logical().toString()
        return "LocalRelation" in plan or "LogicalRDD" in plan
    except Exception:
        return False


def estimate_broadcast_bytes(
    df: DataFrame, *, n_rows: int | None = None, sample_rows: int = 2000
) -> int:
    """Estimated size of ``df`` if broadcast: row count × average
    serialized row size measured on a small sample.

    Row COUNT is the wrong unit for a broadcast decision — a "narrow"
    record table carrying token/shingle hash arrays can be KBs per row,
    so a rows-only gate can admit a multi-10-GB broadcast that OOMs the
    driver.  JSON length of the sampled rows slightly over-estimates the
    binary size (field names, digits vs varints), which is the safe
    direction for an OOM guard."""
    if n_rows is None:
        n_rows = df.count()
    if n_rows == 0:
        return 0
    row = (
        df.limit(sample_rows)
        .select(F.octet_length(F.to_json(F.struct(*df.columns))).alias("__sz"))
        .agg(F.avg("__sz").alias("avg"))
        .first()
    )
    return int((row["avg"] or 0.0) * n_rows)


def should_broadcast(
    df: DataFrame, *, max_bytes: int = 512 << 20, n_rows: int | None = None
) -> bool:
    """Byte-gated broadcast policy: hash-broadcast ``df`` only while its
    estimated materialized size fits ``max_bytes`` (default 512 MiB —
    comfortably under Spark's 8 GB broadcast hard limit and typical
    executor overheads).  Beyond it, callers fall back to shuffle joins
    (AQE still applies)."""
    return estimate_broadcast_bytes(df, n_rows=n_rows) <= max_bytes


def sample_table(df: DataFrame, n: int, *, method: str = "hash", seed: int = 42) -> DataFrame:
    """Deterministic approx-n sample (mismo/_util.py:196-247).

    ``hash``: orderBy(xxhash64(all cols, seed)).limit(n) — deterministic
    pseudo-random top-k, reproducible across runs and cluster sizes.
    """
    if method == "hash":
        h = F.xxhash64(*[F.col(c) for c in df.columns], F.lit(seed))
        return df.orderBy(h).limit(n)
    if method == "hash_filter":
        # exact top-k by hash ("hash") single-threads the TakeOrdered
        # merge when n is large; this variant is a hash-threshold FILTER
        # — same deterministic pseudo-random subset idea with a plain
        # scan (no sort), at the cost of approximate (±binomial) size.
        # The method of choice for large-n samples (e.g. EM training).
        total = df.count()
        if total <= n:
            return df
        h = F.xxhash64(*[F.col(c) for c in df.columns], F.lit(seed))
        # map hash to [0, 1) uniformly; keep ≈ n/total of rows
        u = (h.cast("double") / F.lit(float(2**64))) + F.lit(0.5)
        return df.filter(u < F.lit(n / total))
    if method == "row":
        frac = min(1.0, n / max(df.count(), 1))
        return df.sample(fraction=frac, seed=seed)
    if method == "block":
        # partition-granular sampling: cheap (no per-row RNG), biased by
        # partition layout — the reference's block method caveat applies
        # (mismo/_util.py:214-223)
        n_parts = df.rdd.getNumPartitions()
        total = df.count()
        if total == 0 or n >= total:
            return df
        keep = max(1, round(n_parts * n / total))
        return df.filter(F.spark_partition_id() % max(n_parts // keep, 1) == 0)
    raise ValueError(f"unknown sample method {method!r}")


def group_id(df: DataFrame, keys: Sequence[str], out: str = "group_id") -> DataFrame:
    """Dense int64 codes per distinct key combo (mismo/_util.py:272-281).

    The reference uses a global ``dense_rank`` (single-partition sort at
    scale).  We instead build a distinct→id mapping with
    ``monotonically_increasing_id`` on the *distinct* keys (tiny relative
    to the data) and hash-join it back — same semantics (stable distinct
    codes), no global sort.
    """
    mapping = (
        df.select(*keys).distinct()
        .withColumn(out, F.monotonically_increasing_id())
    )
    # null-safe equality: the reference's dense_rank puts null keys in a
    # real group (NULLS share a rank); a plain equi-join would never
    # match them and leave group_id null
    src = df.alias("__gsrc")
    m = mapping.alias("__gmap")
    cond = None
    for k in keys:
        c = F.col(f"__gsrc.{k}").eqNullSafe(F.col(f"__gmap.{k}"))
        cond = c if cond is None else cond & c
    return src.join(m, cond, "left").select(
        *[F.col(f"__gsrc.{c}") for c in df.columns], F.col(f"__gmap.{out}")
    )


def n_naive_comparisons(n_left: int, n_right: int | None = None) -> int:
    """n·(n−1)/2 for dedupe, n·m for linkage (mismo/_n_naive.py:9-33)."""
    if n_right is None:
        return n_left * (n_left - 1) // 2
    return n_left * n_right


def stratified_sample(
    df: DataFrame,
    fractions: dict,
    *,
    strata_col: str,
    id_col: str = "record_id",
    seed: int = 42,
) -> DataFrame:
    """Deterministic per-stratum sampling — the training-data mixing
    primitive ("keep 30% of source A, 5% of source B").  Beyond the
    reference (its samplers are corpus-wide).

    Each row keeps iff ``md5(seed‖id‖stratum)``'s first 8 hex digits,
    read as a fraction of 2³², fall below the stratum's rate — so
    membership is a pure function of (seed, id, stratum): reproducible
    across runs, partitionings, AND engines (the DuckDB oracle replays
    the same md5 arithmetic — unlike xxhash64, which only Spark has).
    Map-only plan: no shuffle, no sort, no count.  Strata missing from
    ``fractions`` are dropped (rate 0).
    """
    rate = None
    for k, v in fractions.items():
        cond = F.col(strata_col) == k
        rate = F.when(cond, F.lit(float(v))) if rate is None else rate.when(
            cond, F.lit(float(v))
        )
    rate = F.lit(0.0) if rate is None else rate.otherwise(F.lit(0.0))
    bucket = F.conv(
        F.substring(
            F.md5(
                F.concat_ws(
                    "\x1f",
                    F.lit(str(seed)),
                    F.col(id_col).cast("string"),
                    F.col(strata_col).cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("double") / F.lit(4294967296.0)
    return df.filter(bucket < rate)


def keep_latest(
    df: DataFrame,
    *,
    key_col: str = "url",
    ts_col: str = "warc_ts",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Latest snapshot per key (recrawl dedup: a url crawled many times
    keeps only its newest capture) — the CDC "current view" operator.

    One row_number window per key partition: a single hash shuffle on
    the key, no join, no global sort.  Ties on the timestamp are broken
    by ``tiebreak_col`` (pass one for full determinism when equal
    timestamps are possible)."""
    from pyspark.sql import Window

    order = [F.col(ts_col).desc()]
    if tiebreak_col:
        order.append(F.col(tiebreak_col).desc())
    w = Window.partitionBy(key_col).orderBy(*order)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def write_sized_parquet(
    df: DataFrame,
    path: str,
    *,
    target_mb: int = 256,
    compression_ratio: float = 3.0,
    max_partitions: int = 200_000,
    mode: str = "overwrite",
    n_rows: int | None = None,
) -> int:
    """Write ``df`` as parquet with output files sized ~``target_mb``
    — the small-files guard.  Returns the partition count used.

    A 10^12-row job that ends in 200k shuffle partitions writes 200k
    tiny files; the NEXT job then pays 200k file opens and the
    metastore 200k entries.  This helper estimates the in-memory bytes
    (sampled average row size × count — the byte-gated policy shared
    with ``should_broadcast``), divides by ``target_mb`` adjusted for
    parquet's columnar compression (``compression_ratio``, ~3× on
    text-heavy web tables), and repartitions to that many output
    files before writing.

    Shrinking uses ``coalesce`` (no shuffle — map tasks just write
    fewer, larger files); growing uses ``repartition`` (one round-
    robin shuffle, only worth it when upstream produced a handful of
    giant partitions).

    Sizing needs a count + row-size sample, so the upstream plan runs
    once for the estimate and once for the write — persist ``df`` (or
    pass a known ``n_rows``) when the upstream compute is expensive.
    """
    if target_mb < 1:
        raise ValueError(f"target_mb must be >= 1, got {target_mb}")
    if compression_ratio <= 0:
        raise ValueError(
            f"compression_ratio must be > 0, got {compression_ratio}"
        )
    if max_partitions < 1:
        raise ValueError(f"max_partitions must be >= 1, got {max_partitions}")
    if n_rows is None:
        n_rows = df.count()
    if n_rows == 0:
        df.limit(0).write.mode(mode).parquet(path)
        return 1
    est = estimate_broadcast_bytes(df, n_rows=n_rows)
    n_parts = max(1, round(est / compression_ratio / (target_mb << 20)))
    n_parts = min(n_parts, max_partitions)
    current = df.rdd.getNumPartitions()
    sized = df.coalesce(n_parts) if n_parts < current else (
        df if n_parts == current else df.repartition(n_parts)
    )
    sized.write.mode(mode).parquet(path)
    return n_parts


class RoundPartitions:
    """Scale-adaptive shuffle partitioning for iterative operators.

    The per-round relations of the iterative operators (dominant-edge
    matching, CENTER, MIS rounds, star CC) shrink geometrically, but
    every window/join exchange inside a round schedules
    ``spark.sql.shuffle.partitions`` tasks regardless — on late rounds
    that is dozens of near-empty tasks per exchange, and the task/AQE
    scheduling overhead dominates the round (guide §2.2/§2.5: size
    partitions to the data; §2: derive partitioning from input size
    rather than a constant).  This helper clamps
    ``spark.sql.shuffle.partitions`` DOWN to ``ceil(n_rows /
    rows_per_partition)`` — never above the ambient setting, so a
    cluster-sized configuration is untouched while small/late rounds
    stop paying for empty tasks.  Call :meth:`adapt` with the live row
    count the loop already measures each round; ALWAYS pair with
    :meth:`restore` in a ``finally``.

    ``disable_aqe=True`` additionally turns adaptive execution off for
    the duration of the loop (restored with the partition setting):
    for JOIN-free window rounds the clamp already right-sizes every
    exchange, so AQE's only remaining contribution is a driver barrier
    per exchange — measured ~1.3-1.5× on the CENTER / dominant-edge
    loops at bench scale.  Loops whose rounds contain joins (star CC,
    MIS rounds) keep AQE: runtime coalescing/skew handling still pays
    there.

    Caveat: ``spark.sql.shuffle.partitions`` (and, with
    ``disable_aqe``, ``spark.sql.adaptive.enabled``) is session-global —
    a concurrent query planned while an operator loop is running sees
    the clamped value and, for the ``disable_aqe`` loops, no AQE.
    These loops are sub-minute and driver-bound; the trade is
    documented rather than worked around.
    """

    def __init__(
        self,
        spark,
        *,
        rows_per_partition: int = 32_000,
        disable_aqe: bool = False,
    ) -> None:
        self.spark = spark
        self.rows_per_partition = rows_per_partition
        self.ambient = spark.conf.get("spark.sql.shuffle.partitions", "200")
        self.disable_aqe = disable_aqe
        self.ambient_aqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
        self._active = False

    def adapt(self, n_rows: int) -> int:
        if self.disable_aqe and not self._active:
            self.spark.conf.set("spark.sql.adaptive.enabled", "false")
        try:
            ambient_n = int(self.ambient)
        except (TypeError, ValueError):  # e.g. "auto" on some platforms
            self._active = self._active or self.disable_aqe
            return -1
        parts = max(1, min(ambient_n, -(-int(n_rows) // self.rows_per_partition)))
        self.spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        self._active = True
        return parts

    def restore(self) -> None:
        if self._active:
            self.spark.conf.set("spark.sql.shuffle.partitions", self.ambient)
            if self.disable_aqe:
                self.spark.conf.set(
                    "spark.sql.adaptive.enabled", self.ambient_aqe
                )
            self._active = False
