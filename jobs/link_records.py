"""spark-submit entry point: LINK two web-page tables (the two-table
record-linkage task, vs jobs/dedupe_webpages.py's self-dedupe).

    spark-submit --py-files mismo_spark.zip jobs/link_records.py \\
        --left new_crawl.parquet --right corpus.parquet \\
        --output links.parquet [--weights-json w.json]
        [--best-match-only | --one-to-one] [--threshold-odds 10]

Flow: the dedupe pipeline's own stages with ``task='link'``
(``DedupePipeline.prepare_records`` on both sides, ``blocker("link")``:
domain equi-join ∪ minhash-LSH band join, ``compared``: one Arrow pass
of pairwise features, and its blocked-pair EM unless weights are
given) → Fellegi-Sunter scoring → odds threshold → optionally keep only
each left record's best match or a 1:1 assignment.  Output:
(record_id_l, record_id_r, odds).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> dict:
    ap = argparse.ArgumentParser()
    ap.add_argument("--left", required=True, help="parquet of pages to link FROM")
    ap.add_argument("--right", required=True, help="parquet of pages to link INTO")
    ap.add_argument("--output", required=True)
    ap.add_argument("--threshold-odds", type=float, default=10.0)
    ap.add_argument("--weights-json", default=None, help="pre-trained weights (skip EM)")
    ap.add_argument("--max-pairs-per-key", type=int, default=100_000)
    ap.add_argument("--skew-split-pairs", type=int, default=None)
    ap.add_argument("--lsh-band-size", type=int, default=2)
    ap.add_argument("--lsh-n-bands", type=int, default=32)
    ap.add_argument("--em-max-pairs", type=int, default=200_000)
    ap.add_argument("--best-match-only", action="store_true",
                    help="keep only each left record's max-odds link")
    ap.add_argument("--one-to-one", action="store_true",
                    help="enforce a 1:1 matching: greedy maximum-weight "
                    "assignment by descending odds (linker/assignment.py); "
                    "mutually exclusive with --best-match-only")
    ap.add_argument("--seed", type=int, default=42)
    args = ap.parse_args(argv)
    if args.one_to_one and args.best_match_only:
        ap.error("--one-to-one and --best-match-only are mutually exclusive")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    spark = (
        SparkSession.builder.appName("mismo_spark_link_records")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    from mismo_spark.fs.weights import Weights
    from mismo_spark.pipeline import DedupePipeline

    pipe = DedupePipeline(
        work_dir=args.output,  # checkpoint=False: nothing is written there
        checkpoint=False,
        weights=Weights.from_json(args.weights_json) if args.weights_json else None,
        max_pairs_per_key=args.max_pairs_per_key,
        skew_split_pairs=args.skew_split_pairs,
        lsh_band_size=args.lsh_band_size,
        lsh_n_bands=args.lsh_n_bands,
        em_max_pairs=args.em_max_pairs,
        seed=args.seed,
    )
    left = pipe.prepare_records(spark.read.parquet(args.left)).persist()
    right = pipe.prepare_records(spark.read.parquet(args.right)).persist()
    links = pipe.blocker("link")(left, right).links
    compared = pipe.compared(left, right, links).persist()
    n_compared = compared.count()
    weights = pipe.weights if pipe.weights is not None else pipe._train_weights(compared)

    scored = weights.score_compared(compared).select(
        "record_id_l", "record_id_r", "odds"
    )
    matches = scored.filter(F.col("odds") >= args.threshold_odds)
    if args.one_to_one:
        from mismo_spark.linker.assignment import one_to_one_links

        # explicit bipartite semantics: left and right are DIFFERENT
        # datasets, so a numeric id collision across them must not
        # trigger the shared-id-space (dedupe) auto-detection
        matches = one_to_one_links(matches, "odds", dedupe=False)
    if args.best_match_only:
        from pyspark.sql import Window

        w = Window.partitionBy("record_id_l")
        matches = (
            matches.withColumn("__mx", F.max("odds").over(w))
            .filter(F.col("odds") == F.col("__mx"))
            .drop("__mx")
        )
    matches.write.mode("overwrite").parquet(args.output)
    n_links = spark.read.parquet(args.output).count()
    out = {"output": args.output, "compared_pairs": n_compared, "links": n_links}
    print(json.dumps(out))
    return out


if __name__ == "__main__":
    main(sys.argv[1:])
