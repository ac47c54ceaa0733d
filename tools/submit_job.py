"""spark-submit entry point (north rule: "ships as spark-submit --py-files
modules").

Build the module zip and submit::

    python tools/build_pyfiles.py                 # → dist/logshipper_spark.zip
    spark-submit --master local[8] \
        --py-files dist/logshipper_spark.zip \
        tools/submit_job.py --pipeline p1 --input /root/testdata/sf0.001

The job: generate/read transcripts, run a named YAML-or-builtin pipeline
through the CheckpointedRunner (resume-safe fan-out writes + lineage),
print per-sink counts as one JSON line.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", default=None, help="transcripts parquet dir (default: generate)")
    ap.add_argument("--n-convs", type=int, default=1000)
    ap.add_argument("--out", default="/tmp/lss_submit_out")
    ap.add_argument("--checkpoint", default="/tmp/lss_submit_ckpt")
    ap.add_argument("--pipeline-dir", default=None, help="dir of YAML pipeline configs")
    ap.add_argument("--pipeline", default="default")
    ap.add_argument("--sinks", default=None,
                    help="comma list; default: derived from the pipeline")
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    # under spark-submit the master/conf come from the CLI; this just
    # attaches to the provided session context
    spark = SparkSession.builder.appName("logshipper_spark_job").getOrCreate()
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    from logshipper_spark.plans.runner import CheckpointedRunner
    from logshipper_spark.plans.spec import DEMO_SPEC, compile_pipeline
    from logshipper_spark.sources.tableio import TableIO
    from logshipper_spark.sources.transcripts import generate_transcripts

    if args.input:
        df = spark.read.parquet(args.input)
        snapshot = TableIO(spark, "/tmp").snapshot_id(args.input)
    else:
        df = generate_transcripts(spark, n_convs=args.n_convs)
        snapshot = f"generated-{args.n_convs}-seed42"

    if args.pipeline_dir:
        from logshipper_spark.plans.manager import PipelineManager

        pipe = PipelineManager().load_dir(args.pipeline_dir).get(args.pipeline)
    else:
        pipe = compile_pipeline(DEMO_SPEC)

    from logshipper_spark.plans.spec import pipeline_sinks

    # sinks come from the PIPELINE (incl. called sub-pipelines), not a
    # hardcoded list — a custom YAML pipeline's sinks were silently never
    # written before (r4 review finding); --sinks overrides if given
    sinks = args.sinks.split(",") if args.sinks else pipeline_sinks(pipe)
    runner = CheckpointedRunner(spark, args.checkpoint)
    report = runner.run(df, pipe, sinks, args.out, snapshot)
    print(json.dumps({"snapshot": report.snapshot_id, "written": report.written,
                      "skipped": report.skipped}))


if __name__ == "__main__":
    main()
