"""End-to-end dedupe pipeline: F1 gate, resumability, byte-identity.

The BASELINE.json gates at test scale:
* pairwise F1 ≥ 0.99 vs ground truth on the synthetic corpus,
* resumed run produces identical clusters,
* extracted text byte-identical per url across runs.
"""

from __future__ import annotations

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from mismo_spark.cluster.metrics import pairwise_prf
from mismo_spark.corpus import extract_text, make_corpus
from mismo_spark.pipeline import DedupePipeline, input_identity, normalized_domain
from mismo_spark.types.linkage import ID_L, ID_R

from tests.conftest import broadcast_threshold


@pytest.fixture(scope="module")
def corpus(spark):
    return make_corpus(spark, n_entities=300, seed=42, skew_every=100).cache()


def test_corpus_is_deterministic(spark, corpus):
    again = make_corpus(spark, n_entities=300, seed=42, skew_every=100)
    assert corpus.exceptAll(again).count() == 0
    assert again.exceptAll(corpus).count() == 0
    # urls unique
    assert corpus.select("url").distinct().count() == corpus.count()


def test_extracted_text_byte_identical(corpus):
    """input_hint invariant: extraction(html) == text, byte-for-byte,
    checked via sha2 equality."""
    bad = corpus.withColumn("ex", extract_text(F.col("html"))).filter(
        F.sha2(F.col("ex"), 256) != F.sha2(F.col("text"), 256)
    )
    assert bad.count() == 0


def test_normalized_domain():
    pass  # covered via pipeline; direct golden below


def test_normalized_domain_golden(spark):
    df = spark.createDataFrame(
        [("https://www.Example.com/a/b",), ("http://sub.site.org/x",)], "url string"
    )
    got = [r["d"] for r in df.select(normalized_domain(F.col("url")).alias("d")).collect()]
    assert got == ["example.com", "sub.site.org"]


def test_pipeline_f1_gate(spark, corpus, tmp_path):
    pipe = DedupePipeline(work_dir=str(tmp_path / "run1"), seed=42)
    components = pipe.run(spark, corpus.drop("label_true"))
    truth = corpus.select(F.col("url").alias("record_id"), "label_true")
    assigned = components.join(truth, "record_id")
    metrics = pairwise_prf(assigned)
    print("PIPELINE METRICS:", metrics)
    assert metrics["f1"] >= 0.99, metrics


def test_pipeline_resume_identical(spark, corpus, tmp_path):
    work = str(tmp_path / "run2")
    pipe = DedupePipeline(work_dir=work, seed=42)
    c1 = pipe.run(spark, corpus.drop("label_true"))
    first = {(r["record_id"], r["component"]) for r in c1.collect()}

    # resume: a fresh pipeline over the same work_dir replays all stages
    # from checkpoints (fingerprints match) — identical output
    pipe2 = DedupePipeline(work_dir=work, seed=42)
    c2 = pipe2.run(spark, corpus.drop("label_true"))
    second = {(r["record_id"], r["component"]) for r in c2.collect()}
    assert first == second

    # manifest carries per-stage rows + per-file counters, which are
    # the stage's parquet row count
    manifest = _manifest(work)
    for stage in ["01_records", "02_links", "03_compared", "04_scored", "05_matches", "06_components"]:
        entry = manifest[stage]
        assert entry["rows"] > 0
        assert entry["rows"] == spark.read.parquet(entry["path"]).count()
        assert entry["partition_counts"]
        assert sum(p["rows"] for p in entry["partition_counts"]) == entry["rows"]


def _manifest(work_dir: str) -> dict:
    with open(os.path.join(work_dir, "manifest.json")) as f:
        return json.load(f)["stages"]


def _components(pipe: DedupePipeline, spark, pages) -> set:
    return {(r["record_id"], r["component"]) for r in pipe.run(spark, pages).collect()}


def test_pipeline_empty_stages_resume(spark, tmp_path):
    """A threshold no pair reaches: no match is recorded as 0 rows,
    every record is its own component, and a resume replays both."""
    pages = make_corpus(spark, 40, seed=3, skew_every=0).drop("label_true")
    work = str(tmp_path / "work")

    def run():
        pipe = DedupePipeline(work_dir=work, seed=42, threshold_odds=float("inf"))
        return _components(pipe, spark, pages)

    first = run()
    stages = _manifest(work)
    assert stages["05_matches"]["rows"] == 0
    assert stages["06_components"]["rows"] == stages["01_records"]["rows"] == pages.count()
    assert len(first) == len({c for _, c in first}) == pages.count()
    # Spark names every file it writes anew: the same listings are the
    # same files
    files = {st: os.listdir(os.path.join(work, f"{st}.parquet")) for st in ("05_matches", "06_components")}
    assert run() == first
    assert _manifest(work) == stages
    for st, names in files.items():
        assert os.listdir(os.path.join(work, f"{st}.parquet")) == names


def _boom(_):
    raise RuntimeError("task failed")


class _LinksWriteFails(DedupePipeline):
    """Its links write fails inside a task, once the overwrite has
    cleared the links written before."""

    def _stage(self, spark, name, fingerprint, compute):
        if name == "02_links":
            # nondeterministic: the filter is not pushed below the links
            # plan, so it fails in the write's own tasks
            boom = F.udf(_boom, "boolean").asNondeterministic()
            compute = lambda c=compute: c().filter(boom(F.col(ID_L)))  # noqa: E731
        return super()._stage(spark, name, fingerprint, compute)


def test_failed_overwrite_is_not_replayed(spark, tmp_path):
    """A run whose stage write fails part way leaves no manifest entry
    that a later run could replay from the half-written stage."""
    pages = make_corpus(spark, 40, seed=4, skew_every=0).drop("label_true")
    work = str(tmp_path / "work")
    first = _components(DedupePipeline(work_dir=work, seed=42, lsh_n_bands=8), spark, pages)
    with pytest.raises(Exception):
        _LinksWriteFails(work_dir=work, seed=42, lsh_n_bands=16).run(spark, pages)
    assert "02_links" not in _manifest(work)
    again = DedupePipeline(work_dir=work, seed=42, lsh_n_bands=8)
    assert _components(again, spark, pages) == first


@pytest.mark.parametrize("work_dir", ["s3://bucket/run", "hdfs:///run", "file:/tmp/run"])
def test_uri_work_dir_rejected(work_dir):
    """Checkpoints live on the driver's file system."""
    with pytest.raises(ValueError, match="local or mounted"):
        DedupePipeline(work_dir=work_dir)
    DedupePipeline(work_dir=work_dir, checkpoint=False)


def test_resume_checks_its_input(spark, tmp_path):
    """Other pages, or the same pages under another filter, in the same
    work_dir: no stage of the earlier input is replayed."""
    paths = [str(tmp_path / f"pages{seed}") for seed in (1, 2)]
    for seed, path in enumerate(paths, 1):
        make_corpus(spark, 40, seed=seed, skew_every=0).drop("label_true").write.parquet(path)
    work = str(tmp_path / "work")

    def run(work_dir, pages):
        out = DedupePipeline(work_dir=work_dir, seed=42).run(spark, pages)
        return {(r["record_id"], r["component"]) for r in out.collect()}

    # the identity of the same files does not hang on the DataFrame
    assert input_identity(spark.read.parquet(paths[0])) == input_identity(
        spark.read.parquet(paths[0])
    )
    # nor does it drop a literal that looks like an expression id, or a
    # field past Spark's print limit
    pages = spark.read.parquet(paths[0])
    hashed = [input_identity(pages.filter(F.col("url") == f"a#{n}")) for n in (1, 2)]
    assert hashed[0] != hashed[1]
    wide = [
        input_identity(pages.select(*[F.lit(i).alias(f"c{i}") for i in range(30)], F.lit(n)))
        for n in (1, 2)
    ]
    assert wide[0] != wide[1]
    run(work, spark.read.parquet(paths[0]))
    second = spark.read.parquet(paths[1])
    assert run(work, second) == run(str(tmp_path / "fresh"), second)
    # the filter is part of the input: every record and only those
    english = second.filter(F.col("lang") == "en")
    want = {r["url"] for r in english.select("url").collect()}
    assert 0 < len(want) < second.count()
    assert {rid for rid, _ in run(work, english)} == want


def test_pipeline_skew_split_identical_clusters(spark, corpus, tmp_path):
    """Explicit skew splitting is a physical-plan change only: the same
    corpus clusters identically with domain-key salting forced on
    (budget low enough that the skew_every=100 mega-domains tile)."""
    # the plain side is the suite's one full run without checkpoints;
    # the salted side's checkpoints cut its lineage between stages
    plain = DedupePipeline(
        work_dir=str(tmp_path / "plain"), seed=42, checkpoint=False
    ).run(spark, corpus.drop("label_true"))
    salted = DedupePipeline(
        work_dir=str(tmp_path / "salted"),
        seed=42,
        skew_split_pairs=50,
    ).run(spark, corpus.drop("label_true"))
    a = {(r["record_id"], r["component"]) for r in plain.collect()}
    b = {(r["record_id"], r["component"]) for r in salted.collect()}
    assert a == b


_FEATURES = ["record_id", "path", "prefix", "text_fp", "tok_hashes", "shingle_hashes"]


def _pairs(links) -> set:
    return {(r[ID_L], r[ID_R]) for r in links.select(ID_L, ID_R).collect()}


def test_link_blocker_over_one_table_is_dedupe(spark, corpus, tmp_path):
    """Without a per-key cap, the link blocker over one table, restricted
    to ``record_id_l < record_id_r``, finds the dedupe blocker's pairs."""
    pipe = DedupePipeline(work_dir=str(tmp_path), checkpoint=False, max_pairs_per_key=None)
    r = pipe.prepare_records(corpus.drop("label_true")).cache()
    dedupe = _pairs(pipe.blocker("dedupe")(r, r).links)
    link = _pairs(pipe.blocker("link")(r, r).links.filter(F.col(ID_L) < F.col(ID_R)))
    r.unpersist()
    assert dedupe and link == dedupe


def _compared_plan(spark, pipe, left, right, links) -> str:
    with broadcast_threshold(spark, "-1"):
        out = pipe.compared(left, right, links)
        out.collect()
        # the adaptive plan's final physical plan (not its initial one)
        return out._jdf.queryExecution().executedPlan().executedPlan().toString()


@pytest.mark.parametrize("task", ["dedupe", "link"])
def test_compared_broadcasts_record_features(spark, tmp_path, task):
    """While the feature tables fit ``broadcast_records_max_bytes``, the
    pair table reaches both feature joins with no shuffle: two broadcast
    hash joins on the record ids and no sort-merge join, for one table
    with itself and for two tables.  A right side over the budget makes
    the two-table compare shuffle."""
    pages = make_corpus(spark, 30, seed=5, skew_every=0).drop("label_true")
    pipe = DedupePipeline(work_dir=str(tmp_path), checkpoint=False)
    right = pipe.prepare_records(pages).cache()
    left = right if task == "dedupe" else pipe.prepare_records(pages.limit(20)).cache()
    # an in-memory pair table: no blocker join in the compared plan
    links = spark.createDataFrame(
        sorted(_pairs(pipe.blocker(task)(left, right).links)), f"{ID_L} string, {ID_R} string"
    )
    plan = _compared_plan(spark, pipe, left, right, links)
    assert sorted(re.findall(r"BroadcastHashJoin \[(\w+)#\d+\]", plan)) == [ID_L, ID_R], plan
    assert "SortMergeJoin" not in plan, plan
    if task == "link":
        from mismo_spark._util import estimate_broadcast_bytes

        left_bytes = estimate_broadcast_bytes(left.select(*_FEATURES))
        assert left_bytes < estimate_broadcast_bytes(right.select(*_FEATURES))
        pipe = DedupePipeline(
            work_dir=str(tmp_path), checkpoint=False, broadcast_records_max_bytes=left_bytes
        )
        plan = _compared_plan(spark, pipe, left, right, links)
        assert "BroadcastHashJoin" not in plan and "SortMergeJoin" in plan, plan
    left.unpersist()
    right.unpersist()
