"""spark-submit entry point.

North-star launch contract: the job ships as a package via
``spark-submit --py-files engine.zip cli.py --sf-dir ... --out ...`` on a
multi-executor cluster. Locally:

    python -m logstash_codec_protobuf_spark.cli \
        --sf-dir /root/testdata/sf0.01 --out /tmp/job_out

The driver builds the SparkSession (cluster managers inject master/executors);
everything else is the checkpointed pipeline in plans.pipeline. Re-running
with the same --out resumes from the manifest without re-parsing completed
lineage buckets. ``--streaming`` runs the Structured Streaming fan-out twin
over ``--transcripts-path`` instead (availableNow drain; the streaming
checkpoint under --out gives exactly-once resume).
"""

from __future__ import annotations

import argparse
import json


def build_session(app: str = "transcript-pipeline"):
    from pyspark.sql import SparkSession

    return (
        SparkSession.builder.appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .getOrCreate()
    )


def main(argv: list[str] | None = None) -> dict:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--sf-dir", default=None,
                   help="input table directory (events/transcripts parquet); "
                        "required in batch mode")
    p.add_argument("--out", required=True, help="output root (sinks + manifest)")
    p.add_argument("--transcripts-path", default=None,
                   help="pre-materialized transcripts parquet (skips derivation)")
    p.add_argument("--buckets", type=int, default=64,
                   help="lineage buckets (resume granularity)")
    p.add_argument("--wave-size", type=int, default=16,
                   help="buckets committed per wave")
    p.add_argument("--stop-on-error", action="store_true",
                   help="batch mode: raise on the first payload that does "
                        "not parse instead of routing it to dead_letter")
    p.add_argument("--streaming", action="store_true",
                   help="run the Structured Streaming fan-out twin over "
                        "--transcripts-path (availableNow drain; re-running "
                        "with the same --out resumes from the streaming "
                        "checkpoint and reprocesses nothing)")
    args = p.parse_args(argv)
    # refuse a combination before any session is built
    if args.streaming:
        if args.stop_on_error:
            p.error("--stop-on-error is batch-only: the streaming twin "
                    "routes every failed parse to dead_letter")
        if not args.transcripts_path:
            p.error("--streaming requires --transcripts-path "
                    "(a transcripts parquet directory to stream from)")
    elif not args.sf_dir:
        p.error("--sf-dir is required in batch mode")

    # absolute imports: under `spark-submit cli.py` the file runs as a
    # parentless __main__ script (relative imports raise ImportError); the
    # package itself arrives on sys.path via --py-files engine.zip
    from logstash_codec_protobuf_spark.config import CodecConfig
    from logstash_codec_protobuf_spark.plans.pipeline import run_pipeline

    from pyspark.sql import SparkSession

    existing = SparkSession.getActiveSession()
    spark = existing or build_session()
    try:
        if args.streaming:
            from logstash_codec_protobuf_spark.streaming.stream import (
                run_stream_to_sinks)

            q = run_stream_to_sinks(spark, args.transcripts_path, args.out)
            q.awaitTermination()
            rows = spark.read.parquet(f"{args.out}/routed").count()
            result = {"streaming": True, "rows": int(rows),
                      "out_dir": args.out}
        else:
            result = run_pipeline(
                spark, args.sf_dir, args.out,
                CodecConfig(stop_on_error=args.stop_on_error),
                n_buckets=args.buckets, wave_size=args.wave_size,
                transcripts_path=args.transcripts_path,
            )
        print(json.dumps(result))
        return result
    finally:
        if existing is None:  # don't stop a session we borrowed
            spark.stop()


if __name__ == "__main__":
    main()
