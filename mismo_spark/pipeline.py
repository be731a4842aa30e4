"""End-to-end web-page dedupe pipeline: the flagship flow.

records → (extract text) → blocking (normalized-domain key ∪ minhash-LSH
of text) → pairwise comparison vectors → Fellegi-Sunter scoring (EM or
provided weights) → odds threshold → connected components → clusters.

Every stage checkpoints to parquet (Iceberg-shaped) under ``work_dir``,
and the trained weights to ``weights.json``, all through one lookup →
write → record path (``DedupePipeline._artefact``).  Each artefact's
manifest entry carries its input fingerprint (the stage's parameters
chained onto ``input_identity`` of the pages); a parquet stage's also
carries its row count and the rows of each file it wrote, read on the
driver from the footers just written — no Spark job.  A stage is read
back with the schema in its footer, so the read infers nothing; that
reader (``_util.read_parquet``) is shared with the streaming cluster
state.  An artefact's entry is dropped before it is rewritten and
recorded only once the write is done, and the manifest is replaced
atomically, so a run that fails part way never leaves an entry for a
half-written artefact.  A resumed run replays completed stages from
disk and recomputes only what's missing ("resumable from any
checkpointed stage", BASELINE.json north_rule).  ``work_dir`` is a
local or mounted path: the manifest, lookups and footer reads use the
driver's file system.  mismo's analogue is per-stage
``Linkage.to_parquets`` (mismo/linkage/_linkage.py:103-132).
"""

from __future__ import annotations

import json
import os
import re
import time
from dataclasses import dataclass, field

import pyarrow.dataset as pa_dataset
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mismo_spark.cluster.cc import connected_components
from mismo_spark.compare.enum import EnumComparer, compare
from mismo_spark.corpus import extract_text
from mismo_spark.fs.em import train_using_em
from mismo_spark.fs.weights import Weights
from mismo_spark.linker.key import KeyLinker
from mismo_spark.linker.lsh import MinhashLshLinker
from mismo_spark.linker.or_ import OrLinker
from mismo_spark.sets.compare import jaccard_distinct
from mismo_spark.text.features import tokenize
from mismo_spark.text.similarity import jaro_winkler_similarity, levenshtein_ratio
from mismo_spark.types.linkage import ID_L, ID_R, Linkage
from mismo_spark._util import read_parquet, should_broadcast


def normalized_domain(url_col) -> F.Column:
    """Registrable-domain-ish key from a url — the north star's
    'normalized domain' blocking key.  Pure regexp, no UDF."""
    host = F.regexp_extract(url_col, r"^[a-z]+://([^/]+)", 1)
    host = F.lower(F.regexp_replace(host, r"^www\.", ""))
    return host


_FILE_STATUS = re.compile(
    r"\{path=(.*?); isDirectory=false; length=(\d+);.*?; modification_time=(\d+);"
)


def input_identity(pages: DataFrame) -> list:
    """What a run reads, in a form that is the same in every session:
    each input file with its size and modification time, as listed in
    the file index Spark built when the pages were read (no further
    file-system call, no Spark job), and the input plan in full with
    its expression ids normalized, which carries its filters
    (``--lang``), literals and projections.

    Input that is not all files (in-memory or generated data), or a
    listing that does not parse, has no identity that holds across
    sessions; Spark's plan hash, added for it, holds within one, so
    such a run resumes only in the session that wrote its
    checkpoints."""
    plan = pages._jdf.queryExecution().analyzed()
    files, other = [], False
    leaves = plan.collectLeaves()
    for i in range(leaves.length()):
        leaf = leaves.apply(i)
        relation = leaf.relation() if leaf.getClass().getSimpleName() == "LogicalRelation" else None
        if relation is None or relation.getClass().getSimpleName() != "HadoopFsRelation":
            other = True
            continue
        # the whole listing in one JVM call: Hadoop's FileStatus.toString
        # carries each file's path, length and modification time
        statuses = relation.location().allFiles()
        found = _FILE_STATUS.findall(statuses.mkString("\n"))
        other |= len(found) != statuses.length()
        files += [(path, int(size), int(mtime)) for path, size, mtime in found]
    # canonical expression ids are positions, not per-session counters;
    # no field limit, so a long select is not cut to "... N more fields"
    text = plan.canonicalized().treeString(True, False, 2**31 - 1, False, False)
    identity = [sorted(files), text]
    if other:
        identity.append(pages.semanticHash())
    return identity


def _write_parquet(df: DataFrame, path: str) -> dict:
    """Write a stage and take its row counts, per file, from the
    footers just written: a driver-side read, no Spark job.  (The
    dataset skips the files Spark hides: ``_SUCCESS``, ``.crc``.)"""
    df.write.mode("overwrite").parquet(path)
    files = pa_dataset.dataset(path, format="parquet").get_fragments()
    counts = [{"file": os.path.basename(f.path), "rows": f.metadata.num_rows} for f in files]
    return {
        "rows": sum(c["rows"] for c in counts),
        "n_partitions": len(counts),
        "partition_counts": counts,
    }


def _write_weights(weights: Weights, path: str) -> dict:
    weights.to_json(path)
    return {}


def pair_features(pairs: DataFrame) -> DataFrame:
    """Compute each pairwise similarity ONCE as a feature column.

    Critical plan shape, in two halves:

    * Here: an EnumComparer level that called e.g. ``jw(df) >= 0.93``
      per level would build the similarity expression per THRESHOLD —
      repeated pandas-UDF calls each get their own ArrowEvalPython
      round-trip.  Deriving the features first means exactly one Arrow
      pass and the comparer levels become column thresholds.
    * In EnumComparer.label_column: a separate projection is NOT a
      codegen barrier — whole-stage codegen defers a projected
      expression to its first use, and a use inside a CASE-chain branch
      is CONDITIONAL, so subexpression elimination can't hoist it and
      each extra threshold re-evaluates the full feature expression
      (measured 2.8× on this stage).  label_column therefore emits
      ``least(when...)`` — unconditional evaluation, CSE applies, each
      feature is computed once per row with no materialization barrier
      needed."""
    return pairs.select(
        ID_L,
        ID_R,
        (F.col("text_fp_l") == F.col("text_fp_r")).alias("fp_eq"),
        jaccard_distinct(F.col("tok_hashes_l"), F.col("tok_hashes_r")).alias("tok_jac"),
        jaccard_distinct(F.col("shingle_hashes_l"), F.col("shingle_hashes_r")).alias(
            "shingle_jac"
        ),
        levenshtein_ratio(F.col("prefix_l"), F.col("prefix_r")).alias("prefix_lev"),
        jaro_winkler_similarity(F.col("path_l"), F.col("path_r")).alias("path_jw"),
    )


def default_comparers() -> list[EnumComparer]:
    """Comparison dimensions for web pages: token-set Jaccard of text,
    word-shingle Jaccard (order-sensitive signal, near-zero across
    entities), Levenshtein ratio of a lowercased text prefix, and
    Jaro-Winkler of the url path (the north star's JW / Levenshtein /
    token-set Jaccard trio).  Thresholds read the ``pair_features``
    columns — each similarity is computed once, upstream."""
    return [
        EnumComparer(
            "text_jaccard",
            [
                ("exact", lambda df: df["fp_eq"]),
                ("very_close", lambda df: df["tok_jac"] >= 0.9),
                ("close", lambda df: df["tok_jac"] >= 0.7),
                ("weak", lambda df: df["tok_jac"] >= 0.4),
            ],
        ),
        EnumComparer(
            "shingle_jaccard",
            [
                ("high", lambda df: df["shingle_jac"] >= 0.55),
                ("mid", lambda df: df["shingle_jac"] >= 0.3),
                ("low", lambda df: df["shingle_jac"] >= 0.12),
            ],
        ),
        EnumComparer(
            "text_prefix_lev",
            [
                ("close", lambda df: df["prefix_lev"] >= 0.9),
                ("mid", lambda df: df["prefix_lev"] >= 0.7),
            ],
        ),
        EnumComparer(
            "url_path_jw",
            [
                ("close", lambda df: df["path_jw"] >= 0.93),
                ("mid", lambda df: df["path_jw"] >= 0.85),
            ],
        ),
    ]


@dataclass
class DedupePipeline:
    work_dir: str
    weights: Weights | None = None
    threshold_odds: float = 10.0
    # operating point: p_block(j) = 1 − (1 − j^2)^32 ⇒ ≈0.999 at j=0.45,
    # ≈0.95 at j=0.3, ~3e-8 at cross-entity shingle overlap (~1e-5) —
    # high recall for mutated duplicates, no noise floor from shared
    # vocabulary because keys are word 3-gram shingles
    lsh_band_size: int = 2
    lsh_n_bands: int = 32
    # semantic skew cap: a blocking key whose clique exceeds this pair
    # budget is dropped from the key join (mega-domains); recall inside
    # huge domains comes from the LSH rule instead
    max_pairs_per_key: int | None = 100_000
    # explicit skew splitting: domain keys that survive the cap but
    # still exceed this per-task pair budget are salted (triangle
    # tiling, see KeyLinker.skew_split) instead of landing on one task;
    # None = rely on AQE skew-join alone
    skew_split_pairs: int | None = None
    em_max_pairs: int = 200_000
    # broadcast the narrow per-record feature table into the pair joins
    # while its ESTIMATED SIZE fits this many bytes (rows are the wrong
    # unit: the feature table carries tok/shingle hash arrays that can
    # be KBs per record, so a row-count gate could admit a multi-GB
    # broadcast); beyond it, fall back to shuffle joins + bucketing
    broadcast_records_max_bytes: int = 512 << 20
    # recrawl handling: keep only the newest (url, warc_ts) snapshot
    # before deriving records (the pipeline keys records by url, so
    # duplicate urls would otherwise collide) — opt-in, one extra
    # url-hash window shuffle
    keep_latest_snapshots: bool = False
    seed: int = 42
    checkpoint: bool = True
    comparers: list[EnumComparer] = field(default_factory=default_comparers)

    # ------------------------------------------------------------------

    def __post_init__(self) -> None:
        # the manifest, the lookups and the footer reads use the
        # driver's file system: a URI would be a relative local path
        if self.checkpoint and re.match(r"[A-Za-z][A-Za-z0-9+.-]*:/", self.work_dir):
            raise ValueError(f"work_dir must be a local or mounted path: {self.work_dir!r}")

    def _manifest_path(self) -> str:
        return os.path.join(self.work_dir, "manifest.json")

    def _load_manifest(self) -> dict:
        try:
            with open(self._manifest_path()) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return {"stages": {}}

    def _save_manifest(self, m: dict) -> None:
        """Write the manifest whole or not at all: a temp file, then
        an atomic rename."""
        os.makedirs(self.work_dir, exist_ok=True)
        tmp = self._manifest_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(m, f, indent=2)
        os.replace(tmp, self._manifest_path())

    def _artefact(self, name: str, fingerprint: str, file: str, compute, write, load):
        """The one lookup → write → record path of every artefact.

        A recorded artefact whose fingerprint matches is ``load``-ed
        from ``file`` under ``work_dir``.  Otherwise its entry is
        dropped from the manifest before ``write(compute(), path)``
        overwrites the file — a write that fails part way leaves no
        entry to replay — and the facts ``write`` returns are recorded
        once it is done."""
        if not self.checkpoint:
            return compute()
        path = os.path.join(self.work_dir, file)
        manifest = self._load_manifest()
        entry = manifest["stages"].pop(name, None)
        if entry and entry.get("fingerprint") == fingerprint and os.path.exists(path):
            return load(path)
        self._save_manifest(manifest)
        t0 = time.time()
        facts = write(compute(), path)
        manifest["stages"][name] = {
            "fingerprint": fingerprint,
            "path": path,
            **facts,
            "seconds": round(time.time() - t0, 3),
        }
        self._save_manifest(manifest)
        return load(path)

    def _stage(self, spark: SparkSession, name: str, fingerprint: str, compute) -> DataFrame:
        """Run-or-resume one parquet stage.  The checkpoint doubles as
        the lineage cut between stages."""
        read = lambda path: read_parquet(spark, path)  # noqa: E731
        return self._artefact(name, fingerprint, f"{name}.parquet", compute, _write_parquet, read)

    # ------------------------------------------------------------------

    def prepare_records(self, pages: DataFrame) -> DataFrame:
        """url → record_id; extract text from html when absent; derive
        domain + token set.  Only these derived columns flow into
        blocking — column pruning keeps the scans narrow."""
        from mismo_spark.dedupe import word_shingles_from_tokens

        df = pages
        if self.keep_latest_snapshots:
            from mismo_spark._util import keep_latest

            df = keep_latest(df, key_col="url", ts_col="warc_ts")
        if "text" not in df.columns:
            df = df.withColumn("text", extract_text(F.col("html")))
        hash64 = lambda arr: F.transform(arr, lambda t: F.xxhash64(t))  # noqa: E731
        # Staged selects, one derived array per step: an expression
        # referenced inside a HOF lambda is re-evaluated per element
        # (and HOF projects run interpreted), so tokenize must be a
        # materialized column BEFORE the shingle lambda touches it —
        # inlining it made the blocking scan recompile the split regex
        # once per shingle per row (10×+ stage blowup, thread dump
        # showed every task thread inside Pattern.compile).
        # CollapseProject will not merge these selects: the aliases are
        # referenced multiple times and are not cheap.
        step1 = df.select(
            F.col("url"),
            F.col("text"),
            tokenize(F.lower(F.col("text"))).alias("__toks"),
        )
        # LSH blocks on word 3-gram shingles, not unigrams: shared
        # vocabulary gives unrelated docs nontrivial unigram Jaccard,
        # while shingle overlap across entities is ~0 — this is what
        # keeps the candidate set ~linear in true duplicates
        step2 = step1.select(
            "url",
            "text",
            "__toks",
            F.array_distinct(
                word_shingles_from_tokens(F.col("__toks"), 3)
            ).alias("__shingles"),
        )
        return step2.select(
            F.col("url").alias("record_id"),
            F.col("url"),
            F.col("text"),
            normalized_domain(F.col("url")).alias("domain"),
            # per-record precomputation for the PAIR stage: Jaccard only
            # needs element equality, so 8-byte hashes replace strings —
            # the pair table (the biggest thing in the pipeline) carries
            # ~4× less shuffle volume, and the hash work happens once per
            # record instead of once per pair.  The token/shingle STRING
            # arrays are deliberately not in the output: nothing
            # downstream reads them and the records table is persisted.
            hash64(F.array_distinct(F.col("__toks"))).alias("tok_hashes"),
            hash64(F.col("__shingles")).alias("shingle_hashes"),
            # 64 chars: the Levenshtein DP is O(len²) per pair — 64²
            # costs 3.6× less than 120² with the same discriminative
            # power at these thresholds
            F.lower(F.substring(F.col("text"), 1, 64)).alias("prefix"),
            F.xxhash64(F.col("text")).alias("text_fp"),
            F.regexp_extract(F.col("url"), r"^[a-z]+://[^/]+(/.*)?$", 1).alias("path"),
        )

    def blocker(self, task: str = "dedupe") -> OrLinker:
        """Domain key ∪ minhash-LSH blocking for ``task``: "dedupe" (one
        table with itself, ``record_id_l < record_id_r``) or "link" (two
        tables).  Without a per-key cap, "link" over one table restricted
        to ``record_id_l < record_id_r`` equals "dedupe"; under a cap they
        differ, since a key's pairs count ``n_l·n_r`` for link and
        ``n(n−1)/2`` for dedupe."""
        # track_rules=False: the pipeline consumes only the pair set —
        # per-pair rule provenance would be a collect_set object-agg
        # over every candidate pair (sort-based fallback, see OrLinker)
        return OrLinker(
            track_rules=False,
            linkers={
                "domain": KeyLinker(
                    ["domain"],
                    task=task,
                    max_pairs=self.max_pairs_per_key,
                    skew_split=self.skew_split_pairs,
                ),
                # LSH over the PRE-HASHED shingles (array<long>): minhash
                # hash functions then operate on fixed 8-byte longs
                # instead of re-hashing ~25-char strings 64× per record
                "lsh": MinhashLshLinker(
                    "shingle_hashes",
                    band_size=self.lsh_band_size,
                    n_bands=self.lsh_n_bands,
                    seed=self.seed,
                    task=task,
                ),
            }
        )

    def compared(self, left: DataFrame, right: DataFrame, links: DataFrame) -> DataFrame:
        """Comparison vectors ``(record_id_l, record_id_r, <comparer>...)``
        of ``links`` between prepared records; ``run`` passes one table
        as both sides."""
        # join back only the columns the comparers read — the pair
        # table is the biggest thing in the pipeline, so every column
        # dropped here is shuffle volume saved.  Broadcast the narrow
        # feature tables while both fit (see Linkage.links_with_both):
        # the pair table then streams with zero shuffles through them.
        cols = ["record_id", "path", "prefix", "text_fp", "tok_hashes", "shingle_hashes"]
        narrow_l = left.select(*cols)
        narrow_r = narrow_l if right is left else right.select(*cols)
        max_bytes = self.broadcast_records_max_bytes
        bcast = should_broadcast(narrow_l, max_bytes=max_bytes) and (
            narrow_r is narrow_l or should_broadcast(narrow_r, max_bytes=max_bytes)
        )
        pairs = Linkage(narrow_l, narrow_r, links).links_with_both(broadcast_records=bcast)
        return compare(pair_features(pairs), self.comparers).select(
            ID_L, ID_R, *[c.name for c in self.comparers]
        )

    def _comparers_fingerprint(self) -> str:
        """Config identity of the comparer set: names + level names.
        (Level predicates are lambdas — not hashable — so a *code*
        change inside a predicate still needs a fresh work_dir; every
        *configuration* change is covered.)"""
        return ";".join(
            f"{c.name}({','.join(c.level_names)})" for c in self.comparers
        )

    @staticmethod
    def _fp(*parts) -> str:
        """Chained stage fingerprint: downstream stages hash their
        upstream stage's fingerprint plus every parameter that feeds
        them, so changing e.g. the LSH seed invalidates 02_links AND
        everything built from it (a stale 03_compared parquet from the
        old links would be silently wrong)."""
        import hashlib

        h = hashlib.sha256("|".join(str(p) for p in parts).encode())
        return h.hexdigest()[:16]

    def run(self, spark: SparkSession, pages: DataFrame) -> DataFrame:
        """→ DataFrame(record_id, component)."""
        # v3: tokens/shingles string columns dropped from the records
        # schema (hashes only) — stale v2 checkpoints must not be reused.
        # The input identity keeps a resume from replaying stages built
        # from other pages (or another filter) in the same work_dir.
        # Only a checkpointed run reads a fingerprint.
        fp_records = self._fp(
            "records",
            "v3",
            self.keep_latest_snapshots,
            input_identity(pages) if self.checkpoint else None,
        )
        records = self._stage(
            spark, "01_records", fp_records, lambda: self.prepare_records(pages)
        )

        # v2: links schema is the bare pair set (no blocking_rules col)
        fp_links = self._fp(
            fp_records,
            "links",
            "v2",
            self.lsh_band_size,
            self.lsh_n_bands,
            self.seed,
            self.max_pairs_per_key,
            self.skew_split_pairs,
        )
        links = self._stage(
            spark,
            "02_links",
            fp_links,
            lambda: self.blocker()(records, records).links,
        )

        fp_compared = self._fp(
            fp_links, "compared", "v2", self._comparers_fingerprint()
        )
        compared = self._stage(
            spark, "03_compared", fp_compared, lambda: self.compared(records, records, links)
        )

        if self.weights is None:
            self.weights = self._artefact(
                "weights",
                self._fp(fp_compared, "weights", self.em_max_pairs, self.seed),
                "weights.json",
                lambda: self._train_weights(compared),
                _write_weights,
                Weights.from_json,
            )

        fp_scored = self._fp(
            fp_compared, "scored", self.weights.to_json(), self.em_max_pairs
        )
        def _scored():
            return self.weights.score_compared(compared).select(
                ID_L, ID_R, "odds"
            )

        scored = self._stage(spark, "04_scored", fp_scored, _scored)

        fp_matches = self._fp(fp_scored, "matches", self.threshold_odds)
        matches = self._stage(
            spark,
            "05_matches",
            fp_matches,
            lambda: scored.filter(F.col("odds") >= self.threshold_odds).select(ID_L, ID_R),
        )

        cc_dir = os.path.join(self.work_dir, "cc_rounds") if self.checkpoint else None
        components = self._stage(
            spark,
            "06_components",
            self._fp(fp_matches, "components"),
            lambda: connected_components(
                matches, records.select("record_id"), checkpoint_dir=cc_dir
            ),
        )
        return components

    def _train_weights(self, compared: DataFrame) -> Weights:
        """EM over the *blocked* comparison vectors.

        Unlike the random-pair EM (fs/em.py, which follows the reference
        exactly and is dominated by non-matches), training on blocked
        pairs gives both classes enough mass — we still init u from the
        observed label proportions and m uniform, then run the same
        5-iteration loop (mismo/fs/_train_em.py:43-57).
        """
        from mismo_spark._util import sample_table
        from mismo_spark.fs.em import em_from_sample

        dims = [c.name for c in self.comparers]
        # EM converges on a bounded sample; full passes over the whole
        # pair table would scale with corpus size for no accuracy gain
        # (the reference's guidance: 1e7 pairs "often adequate",
        # mismo/fs/_train.py:60-71).  Sample BEFORE projecting to dims so
        # the hash includes the pair ids → deterministic despite the
        # dim columns' massive value ties.  em_from_sample then runs ONE
        # joint-histogram job and iterates driver-side — no persist, no
        # per-iteration cluster passes.
        sample = sample_table(
            compared, self.em_max_pairs, seed=self.seed, method="hash_filter"
        ).select(*dims)
        return em_from_sample(self.comparers, sample)
