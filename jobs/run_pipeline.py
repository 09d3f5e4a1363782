"""spark-submit entrypoint for the parse -> enrich -> route -> sink
pipeline (the north rule's deployment shape).

Cluster:
    zip -r fbs.zip fluent_bit_spark
    spark-submit --py-files fbs.zip jobs/run_pipeline.py \
        --input s3://bucket/crawl_table --output s3://bucket/routed \
        --run-id 2026-08-17 --format iceberg

Local smoke:
    python jobs/run_pipeline.py --generate 100000 --output /tmp/routed

The job is idempotent per run-id: a re-submit after partial failure
skips sinks that already committed (pipeline.run_pipeline resume path —
the Iceberg-snapshot-checkpoint analogue documented in SURVEY §4.5).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from fluent_bit_spark.pipeline import ENGINES, run_pipeline


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", help="path/table of web pages (url, warc_ts, html, text, lang)")
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default="run1")
    ap.add_argument("--format", default="parquet", choices=["parquet", "iceberg"])
    ap.add_argument("--generate", type=int, default=0,
                    help="generate N synthetic docs instead of reading --input")
    ap.add_argument("--shuffle-partitions", type=int, default=None)
    ap.add_argument("--engine", default="fused", choices=ENGINES,
                    help="fused = html->text extraction + parse in one Arrow "
                         "crossing (north-rule default); jvm = the reference "
                         "path, parsing the source text column")
    ap.add_argument("--no-resume", action="store_true")
    ap.add_argument("--stream", action="store_true",
                    help="run the Structured-Streaming deployment shape "
                         "(availableNow): same stages per micro-batch, so the "
                         "one-pass persist is bounded to a trigger's files "
                         "instead of the whole corpus — the corpus-scale mode. "
                         "Resume = the streaming checkpoint (re-submit picks "
                         "up only new input files). Parquet --input only.")
    ap.add_argument("--max-files-per-trigger", type=int, default=None,
                    help="with --stream: bound each micro-batch (and its "
                         "persist) to this many input files")
    args = ap.parse_args()

    builder = (
        SparkSession.builder.appName(f"fluent-bit-spark:{args.run_id}")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if args.shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    spark = builder.getOrCreate()

    from fluent_bit_spark.webgen import generate

    if args.stream:
        import time

        from fluent_bit_spark.pipeline import DEFAULT_SINKS
        from fluent_bit_spark.streaming import run_pipeline_stream, tail_source

        src = args.input
        if args.generate:
            # stage generated docs as files — a stream needs a file source
            src = os.path.join(args.output, "_staged_input")
            generate(
                spark, args.generate,
                partitions=spark.sparkContext.defaultParallelism * 2,
            ).write.mode("overwrite").parquet(src)
        if not src:
            ap.error("--stream needs --input or --generate")
        ckpt = os.path.join(args.output, "_checkpoint")
        if args.no_resume:
            # the streaming checkpoint IS the resume state; a fresh run
            # must drop it (and the sinks it committed) or the re-staged
            # input would APPEND onto the previous run's output
            if "://" in args.output:
                ap.error(
                    "--no-resume with --stream on a remote output: delete "
                    f"{ckpt} (and the sink dirs) with your object-store "
                    "tooling instead"
                )
            import shutil

            shutil.rmtree(ckpt, ignore_errors=True)
            from fluent_bit_spark.pipeline import DEFAULT_SINKS as _sinks

            for s in _sinks:
                shutil.rmtree(os.path.join(args.output, s.name), ignore_errors=True)
        t0 = time.time()
        q = run_pipeline_stream(
            spark,
            tail_source(spark, src, max_files_per_trigger=args.max_files_per_trigger),
            args.output,
            DEFAULT_SINKS,
            checkpoint_dir=ckpt,
            engine=args.engine,
        )
        q.awaitTermination()
        counts = {}
        for s in DEFAULT_SINKS:
            # count via spark, not os.path.exists — the output may be an
            # object store (s3://...) the driver's local fs can't see
            try:
                counts[s.name] = spark.read.parquet(
                    os.path.join(args.output, s.name)
                ).count()
            except Exception:
                counts[s.name] = 0  # sink never received a row
        print(json.dumps({
            "run_id": args.run_id,
            "mode": "stream",
            "sink_counts": counts,
            "duration_sec": round(time.time() - t0, 2),
            "checkpoint": ckpt,
        }))
        return

    if args.generate:
        pages = generate(spark, args.generate, partitions=spark.sparkContext.defaultParallelism * 2)
    elif args.input:
        if args.format == "iceberg":
            pages = spark.read.table(args.input)
        else:
            pages = spark.read.parquet(args.input)
    else:
        ap.error("one of --input / --generate is required")

    result = run_pipeline(
        spark, pages, args.output, run_id=args.run_id,
        resume=not args.no_resume, engine=args.engine,
    )
    print(json.dumps({
        "run_id": result.run_id,
        "input_rows": result.input_rows,
        "parsed_rows": result.parsed_rows,
        "sink_counts": result.sink_counts,
        "resumed_sinks": result.resumed_sinks,
        "duration_sec": round(result.duration_sec, 2),
        "manifest": result.manifest_path,
    }))


if __name__ == "__main__":
    main()
