#!/usr/bin/env python3
"""spark-submit entry point: validate an images table, resumably.

Usage (cluster):
    python scripts/make_pyfiles.py                      # build pqc.zip
    spark-submit --py-files dist/pqc.zip \
        scripts/validate_job.py \
        --images /path/to/images_table \
        --ledger /path/to/ledger \
        [--dim /path/to/image_dim] [--baseline /path/to/baseline] \
        [--out /path/to/results]

In-sandbox smoke (local master, fixture input):
    spark-submit --master 'local[8]' --py-files dist/pqc.zip \
        scripts/validate_job.py --demo

The job reads the partitioned images table, skips partitions already
recorded in the ledger (content-fingerprint match), runs the constraint
suite on the remainder, appends ledger rows, and writes verdicts +
violations as partitioned Parquet. Exit code 1 if any new partition
failed validation.
"""

from __future__ import annotations

import argparse
import json
import sys

from pyspark.sql import SparkSession


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--images")
    ap.add_argument("--dim")
    ap.add_argument("--baseline")
    ap.add_argument("--ledger", default="/tmp/pqc_ledger")
    ap.add_argument("--out")
    ap.add_argument("--demo", action="store_true")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("pqc-validate").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    # pqc arrives via --py-files; imports resolve on driver and workers
    from pqc.constraints import SuiteContext
    from pqc.constraints.drift import drift_verdict
    from pqc.engine import ValidationSuite
    from pqc.ledger import run_with_resume

    if args.demo:
        from pqc.fixtures import cached_images_path, generate_image_dim

        images = spark.read.parquet(cached_images_path(spark, 2000))
        dim = generate_image_dim(images)
        baseline = None
    else:
        if not args.images:
            ap.error("--images is required without --demo")
        images = spark.read.parquet(args.images)
        dim = spark.read.parquet(args.dim) if args.dim else None
        baseline = spark.read.parquet(args.baseline) if args.baseline else None

    result, skipped = run_with_resume(
        spark, images, args.ledger, ValidationSuite(), image_dim=dim
    )
    summary: dict = {"skipped_partitions": skipped}
    failed = 0
    if result is not None:
        # the verdict table is built on the driver: collecting it runs
        # no job, and its counts reconcile with the violation rows
        verdicts = result.verdicts.collect()
        failed = sum(not r["passed"] for r in verdicts)
        summary["validated_partitions"] = len({r["part"] for r in verdicts})
        summary["n_violations"] = sum(r["n_violations"] for r in verdicts)
        summary["schema_problems"] = result.schema_problems
        if baseline is not None:
            drift_ctx = SuiteContext(images=images)
            drift = drift_verdict(drift_ctx.meta(), baseline, "w").first()
            drift_ctx.release()
            summary["drift_ks_w"] = drift["ks_stat"]
            summary["drift_passed"] = drift["passed"]
        if args.out:
            result.verdicts.write.mode("overwrite").parquet(f"{args.out}/verdicts")
            result.violations.write.mode("overwrite").partitionBy("part").parquet(
                f"{args.out}/violations"
            )
            summary["out"] = args.out
        result.release()
    else:
        summary["validated_partitions"] = 0
    print(json.dumps(summary))
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
