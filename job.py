#!/usr/bin/env python
"""spark-submit entrypoint for the extraction job.

    zip -r engine.zip ocr_spark
    spark-submit --py-files engine.zip job.py \
        --input <documents parquet/iceberg path> \
        --media <media parquet/iceberg path> \
        --out <output dir> --run-id r1 [--buckets 64]
        [--profile default|got|deepseek|qari] [--resume-only]

Resumable: re-running with the same --out skips buckets whose manifest
rows are committed (ocr_spark.spark.checkpoint). Exits 0 when every
bucket is committed, 3 when work remains (e.g. --max-buckets used).

If the input tables carry the materialized `bucket` layout column
(ocr_spark.spark.corpus.write_corpus_parquet), the per-bucket filter is
a partition filter — each bucket's run scans only its own files. Pick
--buckets equal to (or a divisor of) the ingest layout's bucket count;
a larger value still yields correct output but the extra buckets are
empty runs. Without the column the job falls back to a post-scan hash
filter (full scan per bucket — fine for small reruns, not at 100 TB).
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument(
        "--input", required=True,
        help="documents table: a parquet path, or 'table:<name>' for a "
        "catalog table (e.g. an Iceberg table registered in the session "
        "catalog — the production layout the engine is designed for)",
    )
    p.add_argument(
        "--media", required=True,
        help="media table: parquet path or 'table:<name>'",
    )
    p.add_argument("--out", required=True, help="output directory")
    p.add_argument("--run-id", required=True)
    p.add_argument("--buckets", type=int, default=256)
    p.add_argument(
        "--profile", choices=["default", "got", "deepseek", "qari"],
        default="default",
    )
    p.add_argument("--max-buckets", type=int, default=None)
    p.add_argument(
        "--buckets-per-job", type=int, default=8,
        help="buckets committed per Spark action (dynamic-partition "
        "write): amortizes per-job overhead when --buckets is large; "
        "resume granularity stays one bucket, kill-loss is one group",
    )
    p.add_argument("--span-partitions", type=int, default=None)
    p.add_argument("--doc-partitions", type=int, default=None)
    p.add_argument(
        "--fidelity", choices=["fast", "cv2"], default="fast",
        help="preprocess kernel fidelity: fast numpy stand-ins (default)"
        " or the reference's cv2 algorithms (real OpenCV when installed,"
        " faithful numpy equivalents otherwise)",
    )
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    from ocr_spark.spark.checkpoint import run_extraction_job

    spark = SparkSession.builder.appName(f"ocr-extract-{args.run_id}").getOrCreate()

    def read_input(spec: str):
        # catalog tables (Iceberg/Hive) read via the session catalog and
        # keep their own partition/snapshot pruning; the media branch's
        # pruned no-spans.text scan applies to both input styles
        # (pipeline._media_span_rows)
        if spec.startswith("table:"):
            return spark.read.table(spec[len("table:"):])
        return spark.read.parquet(spec)

    docs = read_input(args.input)
    media = read_input(args.media)
    report = run_extraction_job(
        spark,
        docs,
        media,
        out_dir=args.out,
        run_id=args.run_id,
        n_buckets=args.buckets,
        profile=args.profile,
        max_buckets=args.max_buckets,
        buckets_per_job=args.buckets_per_job,
        span_partitions=args.span_partitions,
        doc_partitions=args.doc_partitions,
        fidelity=args.fidelity,
    )
    print(json.dumps(report))
    return 0 if report["complete"] else 3


if __name__ == "__main__":
    sys.exit(main())
