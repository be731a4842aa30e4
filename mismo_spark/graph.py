"""Link-graph operators for web corpora: outlink extraction, degree
tables, and iterative PageRank — the crawl-frontier-prioritization /
spam-downweighting layer of a Common-Crawl-style pipeline (mismo has no
graph module; clustering shares the shape via ``cluster/cc.py``, and
every iterative operator here cuts lineage per round with the shared
``_util.checkpoint``).

Scale notes (100 TB / 10^12 pages):

* ``extract_outlinks`` is a map-only regexp projection — zero UDFs,
  whole-stage codegen, linear in corpus bytes.
* ``degrees`` is one groupBy per direction with map-side partial
  aggregation, combined by a full outer join on the node id.
* ``pagerank`` iterates k rounds of (ranks ⋈ edges on src) →
  groupBy(dst).sum — the canonical two-shuffle round.  The edge table
  is ``persist()``-ed with its out-degree column precomputed so the
  per-round join reuses one cached, already-partitioned relation;
  ranks are checkpointed per round (``_util.checkpoint``, shared with
  the clustering rounds) so lineage stays O(1) instead of O(k).
  Dangling mass (nodes with no out-edges) is folded back in-plan via a
  broadcast single-row aggregate — no per-round ``collect`` on the
  driver, so the whole round is one job and the driver never holds
  rank data.

Determinism / oracle parity: ranks are pure float64 arithmetic over
deterministic joins; summation-order differences between engines are
~1e-15 relative, far inside the harness' 6-decimal rounding.  The
DuckDB oracle replays the SAME fixed-iteration recurrence with the
iterations unrolled as nested subqueries (aggregates are not allowed in
recursive CTE terms), built by :func:`pagerank_oracle_sql`.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mismo_spark._util import checkpoint

__all__ = [
    "extract_outlinks",
    "extract_anchors",
    "top_anchor_texts",
    "degrees",
    "host_graph",
    "pagerank",
    "pagerank_oracle_sql",
    "hits",
    "hits_oracle_sql",
    "reciprocity",
    "link_prediction",
    "edge_support",
    "local_clustering",
    "core_numbers",
    "core_numbers_oracle_sql",
    "label_propagation",
    "label_propagation_oracle_sql",
]

# captures the href VALUE for double-quoted, single-quoted and unquoted
# attribute forms (fragment part excluded by the char classes); quoted
# captures keep their opening quote — _strip_quote removes it.  The
# unquoted branch excludes quote characters in BOTH character classes,
# so malformed `href=a"b>` lexes as `a` rather than `a"b`.
_HREF_RE = r"""href\s*=\s*("[^"#]*|'[^'#]*|[^\s>"'#][^\s>#"']*)"""
_ANCHOR_ELEM_RE = r"(?s)<a\s[^>]*>.*?</a>"


def _strip_quote(link: Column) -> Column:
    return F.regexp_replace(link, r"""^["']""", "")


def extract_outlinks(
    pages: DataFrame,
    *,
    url_column: str = "url",
    html_column: str = "html",
) -> DataFrame:
    """→ (url, outlink) — one row per ``href`` target in the page HTML,
    double-quoted, single-quoted or unquoted (fragment part stripped,
    empty/intra-page targets dropped).

    Pure ``regexp_extract_all`` + explode: map-only, no UDF.  The
    ``html`` column may be binary (decoded as UTF-8) or string.  This
    is deliberately a *lexical* extractor (no base-URL resolution of
    relative links — that needs the URL toolkit's parser and is left to
    the caller via ``lib.url.clean_url``), matching the corpus
    generator's absolute-URL convention."""
    html = F.col(html_column)
    if dict(pages.dtypes)[html_column] == "binary":
        html = F.decode(html, "UTF-8")
    return (
        pages.select(
            F.col(url_column).alias("url"),
            F.explode_outer(F.regexp_extract_all(html, F.lit(_HREF_RE), 1)).alias(
                "__raw"
            ),
        )
        .select("url", _strip_quote(F.col("__raw")).alias("outlink"))
        .filter(F.col("outlink").isNotNull() & (F.col("outlink") != ""))
    )


def extract_anchors(
    pages: DataFrame,
    *,
    url_column: str = "url",
    html_column: str = "html",
) -> DataFrame:
    """→ (url, outlink, anchor) — one row per ``<a ...>text</a>``
    element: the href target (fragment stripped) plus its inner text
    with nested tags removed and whitespace collapsed.  Anchor text is
    the web's crowd-sourced label for the TARGET page — the signal for
    URL entity resolution and retrieval-style (query, document)
    training pairs.

    Map-only: one ``regexp_extract_all`` for the anchor elements, an
    explode, and two per-element regexps (all JVM, codegen).  Anchors
    without an href (or with an empty one) are dropped."""
    html = F.col(html_column)
    if dict(pages.dtypes)[html_column] == "binary":
        html = F.decode(html, "UTF-8")
    elem = F.col("__anchor_elem")
    return (
        pages.select(
            F.col(url_column).alias("url"),
            F.explode(
                F.regexp_extract_all(html, F.lit(_ANCHOR_ELEM_RE), 0)
            ).alias("__anchor_elem"),
        )
        .select(
            "url",
            _strip_quote(F.regexp_extract(elem, _HREF_RE, 1)).alias("outlink"),
            F.trim(
                F.regexp_replace(
                    F.regexp_replace(elem, r"(?s)<[^>]*>", " "), r"\s+", " "
                )
            ).alias("anchor"),
        )
        .filter(F.col("outlink") != "")
    )


def top_anchor_texts(
    anchors: DataFrame,
    *,
    k: int = 3,
    target_column: str = "outlink",
    anchor_column: str = "anchor",
) -> DataFrame:
    """→ (outlink, anchor, n_occurrences, rank) — each target page's k
    most frequent non-empty anchor texts, rank 1 = most frequent.

    One (target, anchor) groupBy with map-side partial aggregation,
    then a per-target row_number window over the ALREADY-AGGREGATED
    counts (bounded by distinct anchors per target, not raw links —
    and ``rank <= k`` rides the WindowGroupLimit pushdown, so map
    tasks prune to k before the exchange).  Ties break on anchor text
    ascending: a deterministic total order, engine-invariant."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    from pyspark.sql import Window

    counts = (
        anchors.filter(F.col(anchor_column) != "")
        .groupBy(
            F.col(target_column).alias("outlink"),
            F.col(anchor_column).alias("anchor"),
        )
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
    )
    w = Window.partitionBy("outlink").orderBy(
        F.desc("n_occurrences"), F.asc("anchor")
    )
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def degrees(
    edges: DataFrame,
    *,
    src_column: str = "src",
    dst_column: str = "dst",
) -> DataFrame:
    """→ (node, out_degree, in_degree) for every node appearing in the
    edge list (absent direction counts 0).  Two map-side-combined
    groupBys joined full-outer on the node id."""
    out_d = edges.groupBy(F.col(src_column).alias("node")).agg(
        F.count(F.lit(1)).alias("out_degree")
    )
    in_d = edges.groupBy(F.col(dst_column).alias("node")).agg(
        F.count(F.lit(1)).alias("in_degree")
    )
    return (
        out_d.join(in_d, "node", "full_outer")
        .select(
            "node",
            F.coalesce("out_degree", F.lit(0)).alias("out_degree"),
            F.coalesce("in_degree", F.lit(0)).alias("in_degree"),
        )
    )


def host_graph(
    edges: DataFrame,
    *,
    src_column: str = "src",
    dst_column: str = "dst",
    drop_self_loops: bool = True,
) -> DataFrame:
    """Contract a page-level edge list to the registrable-domain graph:
    → (src, dst, weight) where weight = number of page links between
    the two domains.  THE scale move for ranking at 10^12 pages — the
    host graph has ~10^7 nodes, so the iterative rank runs over six
    orders of magnitude fewer rows than the page graph; pair with
    ``pagerank(..., weight_column="weight")``.

    One projection (``registrable_domain`` — pure regexp/array
    built-ins) + one groupBy with map-side partial aggregation.
    Intra-domain links are dropped by default (they say nothing about
    cross-site authority and are the bulk of all links)."""
    from mismo_spark.lib.url import registrable_domain

    e = edges.select(
        registrable_domain(F.col(src_column)).alias("src"),
        registrable_domain(F.col(dst_column)).alias("dst"),
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    if drop_self_loops:
        e = e.filter(F.col("src") != F.col("dst"))
    return e.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("weight"))


def pagerank(
    edges: DataFrame,
    *,
    n_iter: int = 10,
    damping: float = 0.85,
    src_column: str = "src",
    dst_column: str = "dst",
    dedupe_edges: bool = True,
    teleport: DataFrame | None = None,
    teleport_weight_column: str = "weight",
    weight_column: str | None = None,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Mass-conserving PageRank over a directed edge list.

    → (node, rank) for every node in the graph; Σ rank = 1 at every
    iteration (dangling-node mass is redistributed along the teleport
    vector, the classic formulation — NOT GraphX's lossy variant).

        rank'(v) = (1−d)·t(v) + d·( Σ_{u→v} rank(u)/outdeg(u)
                                    + dangling_mass·t(v) )

    ``teleport=None`` is ordinary PageRank (t ≡ 1/N).  Passing a
    (node, weight) DataFrame makes this *personalized* PageRank /
    TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004): random
    jumps land only on the seed set, so rank flows outward from trusted
    pages and link-spam clusters unreachable from the seeds are
    demoted.  Weights are normalized to sum 1 over the seeds that are
    actual graph nodes (off-graph seeds are ignored; duplicate seed
    rows sum).

    ``weight_column`` makes the walk WEIGHTED (e.g. the host graph's
    link counts): a neighbour receives rank·w/out_strength where
    out_strength = Σ outgoing w.  Weights must be positive — rows with
    NULL or non-positive weight are dropped (a w ≤ 0 row would make
    out_strength ≤ 0 possible, silently breaking the Σrank=1
    invariant); with ``dedupe_edges=True`` duplicate (src, dst) rows
    SUM their weights instead of collapsing.

    Plan shape per round: ranks ⋈ cached (src, dst, out_degree) edges
    on src → groupBy(dst).sum — two shuffles, both keyed by node ids
    (AQE coalescing applies); the dangling mass is a single-row
    aggregate cross-broadcast back into the update, keeping the whole
    round one job with no driver-side scalar collect.  The teleport
    vector rides the existing nodes join (persisted once); the dangling
    node set is iteration-invariant, so it is derived once from the
    cached relations and persisted.  Ranks are checkpointed per round
    with ``_util.checkpoint`` — ``localCheckpoint`` by default, or
    durable parquet under ``checkpoint_dir``, read back with no schema
    inference, so a lost executor can't kill a long rank job at cluster
    scale.  The final ranks are materialized before return and the
    cached relations unpersisted, so long-lived sessions running many
    rank jobs don't accumulate cached relations.
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    if not (0.0 < damping < 1.0):
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    if weight_column is None:
        e = edges.select(
            F.col(src_column).alias("src"), F.col(dst_column).alias("dst")
        )
        if dedupe_edges:
            e = e.dropDuplicates(["src", "dst"])
        e = e.withColumn("w", F.lit(1.0))
    else:
        e = edges.select(
            F.col(src_column).alias("src"),
            F.col(dst_column).alias("dst"),
            F.col(weight_column).cast("double").alias("w"),
        ).filter(F.col("w") > 0)  # drops NULLs too (NULL > 0 is not true)
        if dedupe_edges:
            e = e.groupBy("src", "dst").agg(F.sum("w").alias("w"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    # out-strength folded onto the edge table ONCE; this is the
    # relation every round re-joins, so it is persisted (and the
    # per-round join reuses the same node-keyed exchange)
    out_d = e.groupBy("src").agg(F.sum("w").alias("out_degree"))
    e_deg = e.join(out_d, "src").persist()
    n = nodes.count()  # scalar needed for the uniform teleport literal
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("rank"))

    if teleport is None:
        tvec = nodes.select("node", F.lit(1.0 / n).alias("t"))
    else:
        w = teleport.select(
            F.col("node"),
            F.col(teleport_weight_column).cast("double").alias("w"),
        )
        seed = (
            nodes.join(w, "node").groupBy("node").agg(F.sum("w").alias("w"))
        )
        s = seed.agg(F.sum("w")).first()[0]
        if s is None or s <= 0.0:
            raise ValueError(
                "teleport weights must sum to > 0 over the graph's nodes"
            )
        tvec = nodes.join(seed, "node", "left").select(
            "node",
            (F.coalesce(F.col("w"), F.lit(0.0)) / F.lit(float(s))).alias("t"),
        )
    tvec = tvec.persist()

    # the dangling-node SET is iteration-invariant: derive it ONCE from
    # the already-cached tvec/e_deg relations (NOT the unpersisted base
    # `e` — Spark's cache matches canonicalized plans, so a rebuild
    # from `nodes`/`out_d` would recompute the full upstream edge
    # derivation every round) and persist it for the per-round mass sum
    dangling = (
        tvec.select("node")
        .join(e_deg.select("src").distinct(), tvec["node"] == F.col("src"), "left_anti")
        .persist()
    )
    from mismo_spark._util import RoundPartitions

    # per-round exchanges are keyed by node over fixed-size relations:
    # clamp shuffle width to the edge count (the e_deg count also
    # materializes the cache the first round would otherwise build;
    # never above ambient — no-op at cluster scale)
    rp = RoundPartitions(edges.sparkSession)
    rp.adapt(e_deg.count())
    ranks = tvec.select("node", F.col("t").alias("rank"))
    try:
        for i in range(n_iter):
            contrib = (
                ranks.join(e_deg, ranks["node"] == e_deg["src"])
                .select(
                    F.col("dst").alias("node"),
                    (F.col("rank") * F.col("w") / F.col("out_degree")).alias("c"),
                )
                .groupBy("node")
                .agg(F.sum("c").alias("contrib"))
            )
            # single-row aggregate, hash-broadcast into every partition:
            # the in-plan replacement for a driver-side scalar collect
            dm = F.broadcast(
                dangling.join(ranks, "node")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dangling_mass"))
            )
            ranks = checkpoint(
                tvec.join(contrib, "node", "left")
                .crossJoin(dm)
                .select(
                    "node",
                    (
                        F.lit(1.0 - damping) * F.col("t")
                        + F.lit(damping)
                        * (
                            F.coalesce(F.col("contrib"), F.lit(0.0))
                            + F.col("dangling_mass") * F.col("t")
                        )
                    ).alias("rank"),
                ),
                checkpoint_dir,
                f"pagerank_round_{i}",
            )
        # materialize the final round's checkpoint, then release the
        # cached relations — a long-lived session (the oracle harness
        # runs 100+ queries in one SparkSession) must not accumulate
        # cached relations
        ranks.count()
    finally:
        rp.restore()
    for cached in (e_deg, tvec, dangling):
        cached.unpersist()
    return ranks


def _wedge_base(
    edges: DataFrame, src_column: str, dst_column: str
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Shared prelude of the wedge-join family: persisted (und, nbrs,
    deg) relations.  Catalyst gets no cross-branch subplan reuse for
    the 5-6 consumers each wedge function has (observed: 52 parquet
    re-scans in link_prediction's unpersisted plan), so the three
    relations are persisted; callers materialize their result with
    :func:`_finish_wedge` which unpersists them."""
    und = (
        edges.select(
            F.least(src_column, dst_column).alias("u"),
            F.greatest(src_column, dst_column).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
        .persist()
    )
    nbrs = und.select(
        F.col("u").alias("node"), F.col("v").alias("nbr")
    ).unionByName(und.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
    deg = nbrs.groupBy("node").agg(F.count(F.lit(1)).alias("degree")).persist()
    return und, nbrs, deg


def _finish_wedge(out: DataFrame, und: DataFrame, deg: DataFrame) -> DataFrame:
    """Materialize ``out`` (lineage cut via localCheckpoint) and release
    the cached wedge relations — a long-lived session must not
    accumulate cached edge lists (the oracle harness runs 140+ queries
    in one SparkSession)."""
    out = out.localCheckpoint()
    und.unpersist()
    deg.unpersist()
    return out


def link_prediction(
    edges: DataFrame,
    *,
    src_column: str = "src",
    dst_column: str = "dst",
    max_degree: int | None = 1000,
    min_common: int = 1,
) -> DataFrame:
    """Adamic–Adar / common-neighbor link prediction over the
    UNDIRECTED view of ``edges`` → one row per non-adjacent node pair
    sharing ≥ ``min_common`` neighbors: (node_a, node_b,
    common_neighbors, adamic_adar, jaccard) with node_a < node_b.

    The entity-resolution use: run it over the accepted-links graph
    and the top-scoring absent pairs are the missed-merge review queue
    (two records both linked to the same third record but never
    compared — e.g. they lived in different blocks).  Complements
    ``cluster.review.missed_merges``, which needs the pair to have
    been SCORED; this predicts pairs never generated at all.
    Adamic & Adar 2003, "Friends and neighbors on the Web".

    Plan shape (scale story): neighbors relation N(node, nbr) is two
    projections of the deduped undirected edge list; wedges come from
    ONE self-equi-join of N on the shared-neighbor key — shuffle keyed
    by node, never pair-vs-pair.  A hub of degree d emits d·(d−1)/2
    wedges, so super-hubs are dropped via ``max_degree`` (default
    1000) BEFORE the wedge join: at web scale the 1/ln(d) weight of a
    mega-hub is ≈ 0 anyway, and the cap bounds the join output by
    n·max_degree²/2 instead of Σd².  Pass ``max_degree=None`` to
    disable (only sane on small graphs).  Existing edges are removed
    with one left-anti join; jaccard = common / (deg_a + deg_b −
    common) uses the UNCAPPED true degrees."""
    und, nbrs, deg = _wedge_base(edges, src_column, dst_column)
    # a degree-1 node can't be a shared neighbor (needs ≥ 2 neighbors
    # to form a wedge), and dropping it keeps 1/ln(degree) well-defined
    wedge_src = nbrs.join(deg, "node").filter(F.col("degree") >= 2)
    if max_degree is not None:
        wedge_src = wedge_src.filter(F.col("degree") <= max_degree)
    # wedges: for each shared neighbor b, every unordered pair of b's
    # (capped) neighbors; the 1/ln(deg_b) AA weight rides the row
    left = wedge_src.select(
        F.col("node").alias("b"),
        F.col("nbr").alias("node_a"),
        (F.lit(1.0) / F.log(F.col("degree").cast("double"))).alias("w"),
    )
    right = wedge_src.select(
        F.col("node").alias("b"), F.col("nbr").alias("node_b")
    )
    wedges = left.join(right, "b").filter(F.col("node_a") < F.col("node_b"))
    pairs = (
        wedges.groupBy("node_a", "node_b")
        .agg(
            F.count(F.lit(1)).alias("common_neighbors"),
            F.sum("w").alias("adamic_adar"),
        )
        .filter(F.col("common_neighbors") >= min_common)
    )
    # drop pairs that are already edges (canonical order matches und's)
    pairs = pairs.join(
        und.select(
            F.col("u").alias("node_a"), F.col("v").alias("node_b")
        ),
        ["node_a", "node_b"],
        "left_anti",
    )
    da = deg.select(F.col("node").alias("node_a"), F.col("degree").alias("deg_a"))
    db = deg.select(F.col("node").alias("node_b"), F.col("degree").alias("deg_b"))
    out = (
        pairs.join(da, "node_a")
        .join(db, "node_b")
        .select(
            "node_a",
            "node_b",
            "common_neighbors",
            "adamic_adar",
            (
                F.col("common_neighbors").cast("double")
                / (
                    F.col("deg_a") + F.col("deg_b") - F.col("common_neighbors")
                ).cast("double")
            ).alias("jaccard"),
        )
    )
    return _finish_wedge(out, und, deg)


def edge_support(
    edges: DataFrame,
    *,
    src_column: str = "src",
    dst_column: str = "dst",
    max_degree: int | None = 1000,
) -> DataFrame:
    """→ one row per undirected edge: (node_a, node_b, support) where
    ``support`` is the number of triangles the edge participates in
    (common neighbors of its endpoints).  node_a < node_b; every input
    edge appears, support 0 included.

    The cluster-QA use: transitive closure welds entities through
    single links, and a true cross-entity bridge is almost always
    *unsupported* — no third record links to both endpoints — while
    intra-entity links sit in dense triangle neighborhoods.  Rank
    accepted links by (support ASC, score ASC) and the top of the list
    is the chain-breaking review queue; combined with
    ``cluster.decremental.remove_links`` it repairs welded clusters
    without re-clustering from scratch.  (Support = the "embeddedness"
    of Easley–Kleinberg; same wedge algebra as :func:`link_prediction`.)

    Plan shape: identical to link_prediction's wedge join — shuffle
    keyed by the shared neighbor, ``max_degree`` caps hub fan-out (a
    capped hub's triangles through it are undercounted; at web scale
    those are navigation hubs, not entity evidence) — then an equi-join
    of wedge counts back onto the edge list instead of an anti-join."""
    und, nbrs, deg = _wedge_base(edges, src_column, dst_column)
    wedge_src = nbrs.join(deg, "node").filter(F.col("degree") >= 2)
    if max_degree is not None:
        wedge_src = wedge_src.filter(F.col("degree") <= max_degree)
    left = wedge_src.select(F.col("node").alias("b"), F.col("nbr").alias("node_a"))
    right = wedge_src.select(F.col("node").alias("b"), F.col("nbr").alias("node_b"))
    wedge_counts = (
        left.join(right, "b")
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).alias("support"))
    )
    out = (
        und.select(F.col("u").alias("node_a"), F.col("v").alias("node_b"))
        .join(wedge_counts, ["node_a", "node_b"], "left")
        .select(
            "node_a",
            "node_b",
            F.coalesce("support", F.lit(0)).cast("long").alias("support"),
        )
    )
    return _finish_wedge(out, und, deg)


def local_clustering(
    edges: DataFrame,
    *,
    src_column: str = "src",
    dst_column: str = "dst",
    max_degree: int | None = 1000,
) -> DataFrame:
    """→ one row per node of the undirected graph: (node, degree,
    triangles, clustering) with clustering = 2·t / (d·(d−1)) (Watts &
    Strogatz 1998), 0.0 for degree < 2.

    ER reading: a record whose link neighborhood has near-zero
    clustering is a hub stitched onto otherwise-unrelated records (a
    shared default value, an empty-string key) — the node-level view
    of :func:`edge_support`'s per-edge signal.  A triangle {u,v,w} is
    one closed wedge at each member, so t(v) = closed wedges with apex
    v: the wedge join keyed by the apex (same plan as edge_support)
    left-semi-joined against the edge list.  ``max_degree`` excludes
    mega-hub apexes from the wedge join (their clustering ≈ 0 at web
    scale anyway); excluded nodes report NULL clustering rather than a
    fake 0."""
    und, nbrs, deg = _wedge_base(edges, src_column, dst_column)
    wedge_src = nbrs.join(deg, "node").filter(F.col("degree") >= 2)
    capped = F.lit(False)
    if max_degree is not None:
        wedge_src = wedge_src.filter(F.col("degree") <= max_degree)
        capped = F.col("degree") > F.lit(max_degree)
    apex = (
        wedge_src.select(
            F.col("node").alias("__apex"),
            F.col("nbr").alias("node_a"),
        )
        .join(
            wedge_src.select(
                F.col("node").alias("__apex"), F.col("nbr").alias("node_b")
            ),
            "__apex",
        )
        .filter(F.col("node_a") < F.col("node_b"))
        .join(
            und.select(
                F.col("u").alias("node_a"), F.col("v").alias("node_b")
            ),
            ["node_a", "node_b"],
            "left_semi",
        )
        .groupBy(F.col("__apex").alias("node"))
        .agg(F.count(F.lit(1)).alias("triangles"))
    )
    out = (
        deg.join(apex, "node", "left")
        .select(
            "node",
            "degree",
            # a capped hub's triangles were never counted — report NULL
            # like its clustering, not a fake 0 (r4 ADVICE fix); 0 is
            # reserved for genuinely triangle-free uncapped nodes
            F.when(capped, F.lit(None).cast("long"))
            .otherwise(F.coalesce("triangles", F.lit(0)).cast("long"))
            .alias("triangles"),
            F.when(capped, F.lit(None).cast("double"))
            .when(F.col("degree") < 2, F.lit(0.0))
            .otherwise(
                2.0
                * F.coalesce("triangles", F.lit(0))
                / (F.col("degree") * (F.col("degree") - 1))
            )
            .alias("clustering"),
        )
    )
    return _finish_wedge(out, und, deg)


def core_numbers(
    edges: DataFrame,
    *,
    src_column: str = "src",
    dst_column: str = "dst",
    max_rounds: int = 200,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """k-core decomposition → (node, core) over the undirected view of
    ``edges``: ``core`` is the largest k such that the node survives
    repeatedly deleting all nodes of degree < k (Seidman 1983).

    Computed as the h-index fixpoint (Lü et al., PNAS 2016): start
    every node at its degree, then repeatedly set
    ``c(u) = H({c(v) : v ~ u})`` — the largest h with ≥ h neighbours
    whose value is ≥ h.  The sequence is monotonically non-increasing
    and converges exactly to the coreness, so convergence is detected
    with a cheap (count, bit_xor-hash) fingerprint — no peel ordering,
    no global priority queue, fully deterministic.

    ER reading: inside a welded component, the high-core kernel is the
    densely cross-confirmed entity; core-1 pendants hanging off it are
    the records attached by a single link — the review queue that
    :func:`edge_support` flags edge-by-edge, ranked here node-by-node.
    ``core`` is also the degeneracy bound used to cap wedge fan-out.
    The k-core subgraph is just ``filter(core >= k)`` joined back on
    the edge endpoints.  Nodes with no (non-self) edge don't appear —
    union your records table with core 0 if singletons matter.

    Plan per round: one hash join (neighbour values keyed by node) +
    one ``row_number`` window + one groupBy-max, all keyed on node id;
    the neighbour relation is persisted once and reused every round;
    lineage cut per round like :func:`pagerank`."""
    und = (
        edges.select(
            F.least(src_column, dst_column).alias("u"),
            F.greatest(src_column, dst_column).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )
    sym = und.unionByName(
        und.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).persist()
    c = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("core")
    )

    def _fp(df: DataFrame) -> int:
        row = df.select(
            F.xxhash64("node", "core").alias("__h")
        ).agg(F.expr("bit_xor(__h)").alias("h")).collect()[0]
        return row["h"] if row["h"] is not None else 0

    prev = None
    for rnd in range(max_rounds):
        nb = sym.join(
            c.select(F.col("node").alias("v"), F.col("core").alias("c_v")), "v"
        )
        w = Window.partitionBy("u").orderBy(F.col("c_v").desc(), F.col("v").asc())
        c = checkpoint(
            nb.withColumn("__rn", F.row_number().over(w))
            .groupBy(F.col("u").alias("node"))
            .agg(F.max(F.least(F.col("c_v"), F.col("__rn"))).alias("core")),
            checkpoint_dir,
            f"core_round_{rnd}",
        )
        cur = _fp(c)
        if cur == prev:
            sym.unpersist()
            return c
        prev = cur

    sym.unpersist()
    raise RuntimeError(f"core_numbers did not converge in {max_rounds} rounds")


def core_numbers_oracle_sql(edges_sql: str) -> str:
    """ANSI-SQL replay of :func:`core_numbers` as ONE recursive CTE —
    robust to any round count (unlike the unrolled pagerank/LPA
    oracles, which fix iterations).  Edge rows carry BOTH endpoint
    values ``(c_u, c_v)`` so each h-index sweep is pure window algebra
    over a single scan of the working table (a recursive CTE may be
    referenced only once per step); iteration stops when a whole-table
    window sees no change.  Integer-only arithmetic."""
    return f"""
        WITH RECURSIVE e AS MATERIALIZED ({edges_sql}),
        und AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
          FROM e WHERE src <> dst
        ),
        sym AS MATERIALIZED (
          SELECT u, v FROM und UNION ALL SELECT v AS u, u AS v FROM und
        ),
        deg AS MATERIALIZED (
          SELECT u, count(*) AS d FROM sym GROUP BY u
        ),
        work(rnd, u, v, c_u, c_v) AS (
          SELECT 0, s.u, s.v, du.d, dv.d
          FROM sym s JOIN deg du ON s.u = du.u JOIN deg dv ON s.v = dv.u
          UNION ALL
          SELECT rnd + 1, u, v, h_u, h_v FROM (
            SELECT rnd, u, v, h_u, h_v,
                   max(CASE WHEN h_u <> c_u OR h_v <> c_v THEN 1 ELSE 0 END)
                     OVER () AS any_change
            FROM (
              SELECT rnd, u, v, c_u, c_v,
                     max(least(c_v, rn_u)) OVER (PARTITION BY u) AS h_u,
                     max(least(c_u, rn_v)) OVER (PARTITION BY v) AS h_v
              FROM (
                SELECT rnd, u, v, c_u, c_v,
                       row_number() OVER (
                         PARTITION BY u ORDER BY c_v DESC, v) AS rn_u,
                       row_number() OVER (
                         PARTITION BY v ORDER BY c_u DESC, u) AS rn_v
                FROM work
              )
            )
          ) WHERE any_change = 1
        )
        SELECT DISTINCT u AS node, c_u AS core
        FROM work WHERE rnd = (SELECT max(rnd) FROM work)
    """


def label_propagation(
    edges: DataFrame,
    *,
    n_iter: int = 5,
    src_column: str = "src",
    dst_column: str = "dst",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Synchronous label propagation (Raghavan, Albert & Kumara 2007)
    over the UNDIRECTED view of ``edges`` → (node, label) after
    ``n_iter`` sweeps: every node simultaneously adopts the label
    carried by the plurality of its neighbors (ties → smallest label;
    isolated updates keep the old label), labels initialized to the
    node id.

    ER reading: connected components answer "what does transitive
    closure weld together"; label propagation answers "what are the
    DENSE cores inside a weld".  When a support-0 bridge
    (:func:`edge_support`) joins two real entities into one component,
    LPA converges to a different label on each side of the bridge —
    the split suggestion for `cluster.decremental.remove_links`,
    without choosing a score threshold.

    Determinism: the synchronous sweep + total tie order (count DESC,
    label ASC) makes every iteration a pure function of the previous
    labeling — reproducible across partitionings and engines (the
    oracle replays it exactly; all arithmetic is integer).  Each node's
    OWN current label joins the vote with weight 1: Raghavan et al.
    avoid the 2-cycle oscillation of synchronous sweeps (a pendant
    pair swaps labels forever) with asynchronous updates, which are
    non-deterministic — the self-vote keeps the sweep synchronous AND
    convergent for those structures.  Plan per sweep: labels ⋈ the
    persisted neighbor+self relation (shuffle keyed by node) → one
    (node, label) count groupBy → one argmax min(struct) groupBy;
    lineage cut per sweep like :func:`pagerank` (durable parquet under
    ``checkpoint_dir``, else localCheckpoint)."""
    und = (
        edges.select(
            F.least(src_column, dst_column).alias("u"),
            F.greatest(src_column, dst_column).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )
    nbrs = und.select(F.col("u").alias("node"), F.col("v").alias("nbr")).unionByName(
        und.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    nodes = nbrs.select("node").distinct()
    # self-vote row per node (see docstring: damps 2-cycle oscillation)
    nbrs = nbrs.unionByName(
        nodes.select("node", F.col("node").alias("nbr"))
    ).persist()
    labels = nodes.select("node", F.col("node").alias("label"))
    for i in range(n_iter):
        nbr_lbl = nbrs.join(
            labels.select(
                F.col("node").alias("nbr"), F.col("label").alias("nlbl")
            ),
            "nbr",
        )
        counts = nbr_lbl.groupBy("node", "nlbl").agg(
            F.count(F.lit(1)).alias("cnt")
        )
        labels = checkpoint(
            counts.groupBy("node").agg(
                F.min(F.struct((-F.col("cnt")).alias("negcnt"), F.col("nlbl"))).alias(
                    "__pick"
                )
            ).select("node", F.col("__pick.nlbl").alias("label")),
            checkpoint_dir,
            f"lpa_round_{i}",
        )
    labels.count()
    nbrs.unpersist()
    return labels


def label_propagation_oracle_sql(
    edges_sql: str, *, n_iter: int = 5
) -> str:
    """ANSI-SQL replay of :func:`label_propagation`, sweeps unrolled as
    MATERIALIZED CTE levels (same rationale as
    :func:`pagerank_oracle_sql`).  Integer-only arithmetic — no
    quantization needed."""
    parts = [
        f"WITH e AS MATERIALIZED ({edges_sql}),",
        """und AS MATERIALIZED (
          SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
          FROM e WHERE src <> dst
        ),
        nbrs AS MATERIALIZED (
          SELECT u AS node, v AS nbr FROM und
          UNION ALL
          SELECT v AS node, u AS nbr FROM und
          UNION ALL
          SELECT DISTINCT n AS node, n AS nbr FROM (
            SELECT u AS n FROM und UNION ALL SELECT v AS n FROM und
          )
        ),
        l0 AS MATERIALIZED (
          SELECT DISTINCT node, node AS label FROM nbrs
        )""",
    ]
    prev = "l0"
    for i in range(1, n_iter + 1):
        parts.append(
            f""", l{i} AS MATERIALIZED (
          SELECT node, nlbl AS label FROM (
            SELECT n.node, p.label AS nlbl, COUNT(*) AS cnt,
                   row_number() OVER (
                     PARTITION BY n.node
                     ORDER BY COUNT(*) DESC, p.label ASC
                   ) AS rn
            FROM nbrs n JOIN {prev} p ON n.nbr = p.node
            GROUP BY n.node, p.label
          ) WHERE rn = 1
        )"""
        )
        prev = f"l{i}"
    parts.append(f"\nSELECT node, label FROM {prev}")
    return "\n".join(parts)


def reciprocity(
    edges: DataFrame,
    *,
    src_column: str = "src",
    dst_column: str = "dst",
) -> DataFrame:
    """→ (node, n_out, n_reciprocal, reciprocity) per SOURCE node: the
    fraction of its distinct out-edges whose reverse edge also exists.
    Link farms and link-exchange rings reciprocate (≈ 1) while organic
    authority links are overwhelmingly one-way — the classic cheap
    spam feature to pair with TrustRank.  Self-loops are excluded.

    One distinct pass, one LEFT SEMI self-join on the flipped key
    (both sides share the (src, dst) exchange), two map-side-combined
    groupBys.  No UDFs, no iteration."""
    e = (
        edges.select(
            F.col(src_column).alias("src"), F.col(dst_column).alias("dst")
        )
        .filter(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )
    flipped = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    rec = e.join(flipped, ["src", "dst"], "left_semi")
    n_out = e.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("n_out")
    )
    n_rec = rec.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).alias("n_reciprocal")
    )
    return (
        n_out.join(n_rec, "node", "left")
        .select(
            "node",
            "n_out",
            F.coalesce("n_reciprocal", F.lit(0)).alias("n_reciprocal"),
            (
                F.coalesce("n_reciprocal", F.lit(0))
                / F.col("n_out").cast("double")
            ).alias("reciprocity"),
        )
    )


def hits(
    edges: DataFrame,
    *,
    n_iter: int = 10,
    src_column: str = "src",
    dst_column: str = "dst",
    dedupe_edges: bool = True,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg, JACM 1999) over a directed
    edge list → (node, hub, authority).

    Per round: authority(v) = Σ_{u→v} hub(u), then hub(u) = Σ_{u→v}
    authority(v), each L1-normalized to sum 1 (the norm choice only
    rescales — the ranking converges to the principal eigenvectors of
    AᵀA / AAᵀ either way, and L1 keeps the oracle replay exact).
    Nodes that are never a source have hub 0; never a target,
    authority 0.

    Plan shape per half-round: scores ⋈ persisted edges → groupBy the
    other endpoint (map-side partial sum), then a broadcast single-row
    normalizer — same no-driver-collect, checkpoint-per-round
    discipline as :func:`pagerank` (``localCheckpoint`` by default,
    durable parquet under ``checkpoint_dir``); the final scores are
    materialized before return and the cached relations unpersisted."""
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    e = edges.select(
        F.col(src_column).alias("src"), F.col(dst_column).alias("dst")
    )
    if dedupe_edges:
        e = e.dropDuplicates(["src", "dst"])
    e = e.persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n = nodes.count()
    if n == 0:
        return nodes.select(
            "node", F.lit(0.0).alias("hub"), F.lit(0.0).alias("authority")
        )

    def _half_round(scores, join_on, group_to, score_col):
        """scores(node, s) pushed across the edges: join on one
        endpoint, sum per the other, L1-normalize, 0-fill."""
        raw = (
            scores.join(e, scores["node"] == e[join_on])
            .groupBy(F.col(group_to).alias("node"))
            .agg(F.sum(score_col).alias("s"))
        )
        total = F.broadcast(raw.agg(F.sum("s").alias("__total")))
        return (
            nodes.join(raw, "node", "left")
            .crossJoin(total)
            .select(
                "node",
                (F.coalesce(F.col("s"), F.lit(0.0)) / F.col("__total")).alias(
                    score_col
                ),
            )
        )

    hub = nodes.select("node", F.lit(1.0 / n).alias("hub"))
    auth = None
    for i in range(n_iter):
        auth = checkpoint(
            _half_round(hub, "src", "dst", "hub").withColumnRenamed(
                "hub", "authority"
            ),
            checkpoint_dir,
            f"hits_auth_{i}",
        )
        hub = checkpoint(
            _half_round(auth, "dst", "src", "authority").withColumnRenamed(
                "authority", "hub"
            ),
            checkpoint_dir,
            f"hits_hub_{i}",
        )
    out = hub.join(auth, "node")
    # materialize the final half-rounds' checkpoints, then release the
    # cached edge/node relations (long-lived-session cache hygiene)
    out.count()
    e.unpersist()
    nodes.unpersist()
    return out


def hits_oracle_sql(
    edges_sql: str,
    *,
    n_iter: int = 10,
    round_digits: int = 6,
) -> str:
    """ANSI-SQL replay of :func:`hits`, iterations unrolled as CTE
    levels (two per round).  ``edges_sql`` must yield (src, dst);
    returns (node, hub_micro, authority_micro) quantized to integer
    micro-units (see pagerank_oracle_sql for why not round())."""
    # MATERIALIZED: every CTE here is referenced more than once per
    # level; without the hint DuckDB inlines them, and the unrolled
    # levels re-expand the edge scan exponentially (observed as
    # "Too many open files" on the parquet source)
    parts = [
        f"WITH e AS MATERIALIZED (SELECT DISTINCT src, dst FROM ({edges_sql}))",
        "nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        (
            "h0 AS MATERIALIZED (SELECT node, "
            "CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS s FROM nodes)"
        ),
    ]
    prev_h = "h0"
    prev_a = None
    for i in range(1, n_iter + 1):
        cur_a, cur_h = f"a{i}", f"h{i}"
        parts.append(
            f"{cur_a}r AS MATERIALIZED (SELECT e.dst AS node, SUM(x.s) AS s "
            f"FROM {prev_h} x JOIN e ON x.node = e.src GROUP BY e.dst)"
        )
        parts.append(
            f"{cur_a} AS MATERIALIZED (SELECT nodes.node, "
            f"COALESCE(r.s, 0) / (SELECT SUM(s) FROM {cur_a}r) AS s "
            f"FROM nodes LEFT JOIN {cur_a}r r ON nodes.node = r.node)"
        )
        parts.append(
            f"{cur_h}r AS MATERIALIZED (SELECT e.src AS node, SUM(x.s) AS s "
            f"FROM {cur_a} x JOIN e ON x.node = e.dst GROUP BY e.src)"
        )
        parts.append(
            f"{cur_h} AS MATERIALIZED (SELECT nodes.node, "
            f"COALESCE(r.s, 0) / (SELECT SUM(s) FROM {cur_h}r) AS s "
            f"FROM nodes LEFT JOIN {cur_h}r r ON nodes.node = r.node)"
        )
        prev_h, prev_a = cur_h, cur_a
    parts_sql = ",\n".join(parts)
    return (
        f"{parts_sql}\n"
        f"SELECT h.node, "
        f"CAST(floor(h.s * 1000000 + 0.5) AS BIGINT) AS hub_micro, "
        f"CAST(floor(a.s * 1000000 + 0.5) AS BIGINT) AS authority_micro "
        f"FROM {prev_h} h JOIN {prev_a} a ON h.node = a.node"
    )


def pagerank_oracle_sql(
    edges_sql: str,
    *,
    n_iter: int = 10,
    damping: float = 0.85,
    round_digits: int = 6,
    teleport_sql: str | None = None,
    weighted: bool = False,
) -> str:
    """ANSI-SQL replay of :func:`pagerank` with the iterations UNROLLED
    as nested CTE levels (DuckDB/Postgres forbid aggregates inside a
    recursive CTE's recursive term).  ``edges_sql`` must yield columns
    (src, dst) — plus ``weight`` when ``weighted=True``;
    ``teleport_sql``, if given, must yield (node, weight) and replays
    the personalized / TrustRank variant.  Returns (node, rank_micro)
    with rank quantized to integer micro-units via
    ``floor(rank*1e6 + 0.5)`` — an IEEE-identical expression on both
    engines, unlike ``round(x, 6)`` whose halfway handling differs
    (Spark = BigDecimal HALF_UP on the decimal string, DuckDB = binary
    double) — pair it with the same quantization on the Spark side for
    the value-hash comparison.  ``1 - damping`` is embedded as the
    Python-computed float64 repr so both engines multiply by the
    identical constant."""
    d = repr(damping)
    omd = repr(1.0 - damping)
    if weighted:
        e_cte = (
            f"WITH e AS MATERIALIZED (SELECT src, dst, SUM(CAST(weight AS DOUBLE)) AS w "
            f"FROM ({edges_sql}) WHERE weight > 0 GROUP BY src, dst)"
        )
    else:
        e_cte = (
            f"WITH e AS MATERIALIZED (SELECT src, dst, CAST(1.0 AS DOUBLE) AS w "
            f"FROM (SELECT DISTINCT src, dst FROM ({edges_sql})))"
        )
    parts = [
        e_cte,
        "nodes AS MATERIALIZED (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "nn AS (SELECT COUNT(*) AS n FROM nodes)",
        "deg AS MATERIALIZED (SELECT src, SUM(w) AS out_degree FROM e GROUP BY src)",
    ]
    if teleport_sql is None:
        parts.append(
            "tv AS MATERIALIZED (SELECT node, "
            "CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS t FROM nodes)"
        )
    else:
        parts.append(
            f"tw AS (SELECT nodes.node, SUM(CAST(s.weight AS DOUBLE)) AS w "
            f"FROM nodes JOIN ({teleport_sql}) s ON nodes.node = s.node "
            f"GROUP BY nodes.node)"
        )
        parts.append(
            "tv AS MATERIALIZED (SELECT nodes.node, "
            "COALESCE(tw.w, 0) / (SELECT SUM(w) FROM tw) AS t "
            "FROM nodes LEFT JOIN tw ON nodes.node = tw.node)"
        )
    parts.append("r0 AS (SELECT node, t AS rank FROM tv)")
    prev = "r0"
    for i in range(1, n_iter + 1):
        cur = f"r{i}"
        parts.append(
            f"{cur} AS MATERIALIZED (SELECT tv.node, "
            f"{omd} * tv.t + {d} * ("
            f"COALESCE(c.contrib, 0) + "
            f"(SELECT COALESCE(SUM(r.rank), 0) FROM {prev} r "
            f"LEFT JOIN deg ON r.node = deg.src WHERE deg.src IS NULL)"
            f" * tv.t) AS rank "
            f"FROM tv LEFT JOIN ("
            f"SELECT e.dst AS node, "
            f"SUM(r.rank * e.w / deg.out_degree) AS contrib "
            f"FROM {prev} r JOIN e ON r.node = e.src "
            f"JOIN deg ON e.src = deg.src GROUP BY e.dst"
            f") c ON tv.node = c.node)"
        )
        prev = cur
    parts_sql = ",\n".join(parts)
    return (
        f"{parts_sql}\n"
        f"SELECT node, CAST(floor(rank * 1000000 + 0.5) AS BIGINT)"
        f" AS rank_micro FROM {prev}"
    )
