#!/usr/bin/env python
"""spark-submit entry point for the continuous clip→graph pipeline.

Cluster usage (north_rule: "run via spark-submit --py-files on
multi-executor clusters at N and 4N executors"):

    # package the engine once
    scripts/make_pyfiles_zip.sh                 # -> dist/engine.zip

    spark-submit \
      --master yarn --deploy-mode cluster \
      --num-executors 16 --executor-cores 8 --executor-memory 16g \
      --py-files dist/engine.zip \
      scripts/submit_clip_graph.py \
      --input  s3://bucket/clips/          \
      --output s3://bucket/graph/          \
      --checkpoint s3://bucket/ckpt/clip_graph \
      --spec   jobspec.json                \
      --watermark "60 seconds" --continuous

Run the SAME command with --num-executors N and 4N on identical input
to evidence the throughput-scaling criterion; in the sandbox,
``python bench.py`` does the equivalent at local[2] vs local[8].

The pipeline is always SpecStreamJob (the reference's job-spec
language, streaming) with the clip decode as its shared prepare stage.
With --spec, that JSON job spec drives it; without it, the flagship
spec runs (streaming/clip_graph.py: a Clip node per clip_id and an
ENCODED_AS edge to its Codec). The default is an availableNow drain:
it exits non-zero if the drain does not finish within --timeout-s, and
after the drain it runs the spec's nodes/edges-phase and
execute_after_name actions. --continuous runs until killed or until
--timeout-s has passed.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="clip table path/dir")
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--spec", help="job-spec JSON path (default: the "
                    "clip→graph flagship spec)")
    ap.add_argument("--watermark", default="60 seconds")
    ap.add_argument("--max-files-per-trigger", type=int, default=32)
    ap.add_argument("--audit-dir", default=None)
    ap.add_argument("--state-dedup-key", default=None)
    ap.add_argument("--ignore-corrupt-files", action="store_true",
                    help="skip unreadable input files instead of "
                         "failing the micro-batch")
    ap.add_argument("--compact-every", type=int, default=0,
                    help="fold row-table micro-batch files into the "
                         "base every N batches (0 = never)")
    ap.add_argument("--continuous", action="store_true",
                    help="run until killed (default: availableNow drain)")
    ap.add_argument("--timeout-s", type=int, default=24 * 3600,
                    help="drain deadline (exceeding it is an error); "
                         "with --continuous, how long to run")
    args = ap.parse_args(argv)

    from pyspark.sql import SparkSession

    # Under spark-submit the session/master comes from the launcher;
    # getOrCreate() attaches to it (local runs fall back to defaults).
    spark = SparkSession.builder.appName("clip-graph").getOrCreate()

    from dataflow_flex_templates_spark.streaming.clip_graph import (
        clip_graph_spec,
        clips_spark_schema,
        prepare_clips,
    )
    from dataflow_flex_templates_spark.streaming.spec_stream import (
        SpecStreamJob,
    )

    if args.spec:
        from dataflow_flex_templates_spark.spec.parser import parse_job_spec

        with open(args.spec) as f:
            spec = parse_job_spec(f.read())
    else:
        spec = clip_graph_spec()

    job = SpecStreamJob(
        spec,
        input_dir=args.input,
        input_schema=clips_spark_schema(),
        output_dir=args.output,
        checkpoint_dir=args.checkpoint,
        watermark=args.watermark,
        max_files_per_trigger=args.max_files_per_trigger,
        prepare_fn=prepare_clips,
        prepare_preserves="*",
        audit_dir=args.audit_dir,
        state_dedup_key=args.state_dedup_key,
        compact_every=args.compact_every,
        ignore_corrupt_files=args.ignore_corrupt_files,
    )
    if args.continuous:
        q = job.start(spark, available_now=False)
        q.awaitTermination(args.timeout_s)
        q.stop()
    else:
        # raises on timeout rather than exiting 0 over partial tables
        job.run_to_completion(spark, timeout_s=args.timeout_s)
    print(json.dumps(job.metrics_summary()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
