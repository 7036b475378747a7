"""spark-submit entry point for the extraction job.

Cluster usage (north_rule deployment shape):

    zip -r htep_spark.zip htep_spark
    spark-submit --py-files htep_spark.zip job.py \
        --input  <transcript table path> \
        --output <output table path> \
        --manifest <manifest table path> \
        [--run-id run-1] [--no-checkpoint]

With ``--no-checkpoint`` the job runs as a single narrow pass (scan →
vectorized extraction → sink). Default mode checkpoints per input file via
the manifest (``htep_spark.plans.checkpoint``) so a re-submit resumes
exactly where it stopped. Per-conversation metrics (one groupBy rollup) are
written next to the output when --conv-metrics is set.

In the sandbox this runs on ``local[N]``; on a real cluster the master and
executor topology come from spark-submit — the code is identical.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def main(argv=None) -> int:
    parser = argparse.ArgumentParser()
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument("--manifest", default=None)
    parser.add_argument("--run-id", default="run-0")
    parser.add_argument("--no-checkpoint", action="store_true")
    parser.add_argument("--conv-metrics", action="store_true")
    parser.add_argument("--cores", type=int, default=None,
                        help="local[N] cores (sandbox only; ignored under a real master)")
    args = parser.parse_args(argv)

    from pyspark.sql import SparkSession

    if SparkSession.getActiveSession() is None and args.cores:
        from htep_spark.sources.io import get_spark

        spark = get_spark("htep-extract", cores=args.cores)
    else:
        spark = SparkSession.builder.appName("htep-extract").getOrCreate()

    from htep_spark.plans.checkpoint import run_with_checkpoint
    from htep_spark.plans.pipeline import per_conversation_metrics, run_extraction

    t0 = time.time()
    if args.no_checkpoint:
        df = spark.read.parquet(args.input)
        run_extraction(df).write.mode("overwrite").parquet(args.output)
        stats = {"processed": "all", "skipped": 0}
    else:
        manifest = args.manifest or (args.output.rstrip("/") + "_manifest")
        stats = run_with_checkpoint(
            spark, args.input, args.output, manifest, args.run_id
        )

    if args.conv_metrics:
        out = spark.read.parquet(
            args.output + ("/part-*" if not args.no_checkpoint else "")
        )
        per_conversation_metrics(out).write.mode("overwrite").parquet(
            args.output.rstrip("/") + "_conv_metrics"
        )

    print(json.dumps({"status": "ok", "wall_sec": round(time.time() - t0, 2), **stats}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
