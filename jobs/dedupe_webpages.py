"""spark-submit entry point: dedupe a web-page table end-to-end.

Usage (cluster):
    zip -r mismo_spark.zip mismo_spark
    spark-submit --py-files mismo_spark.zip jobs/dedupe_webpages.py \
        --input  s3://bucket/pages/            # or any parquet/Iceberg path
        --work-dir /mnt/shared/dedupe_run_01/  # checkpoints + manifest: a local or mounted path
        --output s3://bucket/clusters/         # (record_id, component)

Sandbox smoke:
    spark-submit --master 'local[8]' --py-files mismo_spark.zip \
        jobs/dedupe_webpages.py --input /tmp/corpus.parquet \
        --work-dir /tmp/run1 --output /tmp/clusters.parquet

The run is RESUMABLE: re-submitting with the same --work-dir replays
completed stages from their checkpoints (manifest fingerprint match)
and recomputes only what's missing — kill it at any stage and restart.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet path of pages (url, warc_ts, html, text, lang)")
    ap.add_argument(
        "--work-dir", required=True,
        help="checkpoint/manifest directory: a local or mounted path, read and "
        "written on the driver",
    )
    ap.add_argument("--output", required=True, help="output parquet (record_id, component)")
    ap.add_argument("--threshold-odds", type=float, default=10.0)
    ap.add_argument("--max-pairs-per-key", type=int, default=100_000)
    ap.add_argument(
        "--keep-latest", action="store_true",
        help="pre-dedupe recrawl snapshots: keep only the newest "
        "(url, warc_ts) capture before linking",
    )
    ap.add_argument(
        "--skew-split-pairs", type=int, default=None,
        help="salt domain keys above this per-task pair budget "
        "(triangle tiling) instead of relying on AQE alone; "
        "default off",
    )
    ap.add_argument("--lsh-band-size", type=int, default=2)
    ap.add_argument("--lsh-n-bands", type=int, default=32)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument(
        "--broadcast-max-bytes", type=int, default=512 << 20,
        help="broadcast the per-record feature table into pair joins while "
        "its estimated size fits this (0 disables; size it to executor "
        "memory on the cluster)",
    )
    ap.add_argument("--weights-json", default=None, help="pre-trained weights (skip EM)")
    ap.add_argument("--lang", default=None, help="optional language filter, e.g. 'en'")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    # master/executors come from spark-submit; only job-level tuning here
    spark = (
        SparkSession.builder.appName("mismo_spark_dedupe_webpages")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )

    from mismo_spark.fs.weights import Weights
    from mismo_spark.pipeline import DedupePipeline

    pages = spark.read.parquet(args.input)
    if args.lang:
        pages = pages.filter(F.col("lang") == args.lang)

    weights = Weights.from_json(args.weights_json) if args.weights_json else None
    pipe = DedupePipeline(
        work_dir=args.work_dir,
        weights=weights,
        threshold_odds=args.threshold_odds,
        max_pairs_per_key=args.max_pairs_per_key,
        skew_split_pairs=args.skew_split_pairs,
        keep_latest_snapshots=args.keep_latest,
        lsh_band_size=args.lsh_band_size,
        lsh_n_bands=args.lsh_n_bands,
        seed=args.seed,
        broadcast_records_max_bytes=args.broadcast_max_bytes,
    )
    components = pipe.run(spark, pages)
    components.write.mode("overwrite").parquet(args.output)

    n = spark.read.parquet(args.output).count()
    print(json.dumps({"output": args.output, "rows": n}))
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1:])
