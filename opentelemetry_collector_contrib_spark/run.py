"""spark-submit entrypoint: the deployable pipeline job.

Cluster:
    spark-submit --py-files otel_spark_pkg.zip -m ... run.py \
        --input s3://bucket/tokens --out s3://bucket/routed --resume

Sandbox:
    python -m opentelemetry_collector_contrib_spark.run \
        --generate-rows 1000000 --out /tmp/routed

The job is the checkpointed parse→enrich→route→aggregate pipeline; --resume
restarts exactly-once from the checkpoint table (a second invocation after a
kill processes only uncommitted chunks).
"""

from __future__ import annotations

import argparse
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="otel-contrib-spark log pipeline")
    ap.add_argument("--input", help="tokens table path (parquet/Iceberg dir)")
    ap.add_argument("--generate-rows", type=int, help="generate a deterministic tokens table of N rows instead of reading --input")
    ap.add_argument("--out", required=True, help="output root (per-route sinks + checkpoint)")
    ap.add_argument(
        "--multicast", action="store_true",
        help="route a row to every matching sink (default: its first match only)",
    )
    ap.add_argument("--files-per-chunk", type=int, default=16)
    ap.add_argument(
        "--gen-partitions", type=int, default=None,
        help="partition count for --generate-rows (default: defaultParallelism; "
        "raise for bounded per-task memory at large N)",
    )
    ap.add_argument("--master", default=None, help="override master (default local[$SPARK_GRAFT_CPUS]; unset under spark-submit)")
    ap.add_argument("--run-id", default=None)
    args = ap.parse_args(argv)

    if __package__:
        from .plans.checkpoint import CheckpointedRunner
        from .plans.pipeline import full_pipeline
        from .session import get_spark
        from .sources.tokengen import tokens_df
    else:
        # spark-submit runs this file as a bare script; the package itself
        # arrives via --py-files, so absolute imports resolve
        from opentelemetry_collector_contrib_spark.plans.checkpoint import CheckpointedRunner
        from opentelemetry_collector_contrib_spark.plans.pipeline import full_pipeline
        from opentelemetry_collector_contrib_spark.session import get_spark
        from opentelemetry_collector_contrib_spark.sources.tokengen import tokens_df

    spark = get_spark(master=args.master)

    input_path = args.input
    if args.generate_rows:
        # no leading underscore: Spark's file index treats _-prefixed paths
        # as hidden metadata when listing parents
        input_path = f"{args.out.rstrip('/')}/generated_tokens"
        tokens_df(
            spark, args.generate_rows, num_partitions=args.gen_partitions
        ).write.mode("overwrite").parquet(input_path)
    if not input_path:
        ap.error("either --input or --generate-rows is required")

    def pipe(df, s):
        return full_pipeline(df, s, match_once=not args.multicast)

    runner = CheckpointedRunner(args.out, pipe, files_per_chunk=args.files_per_chunk)
    run_id = runner.run(spark, input_path, run_id=args.run_id)

    aggs = runner.aggregates(spark)
    print(f"run_id={run_id}")
    for r in aggs.orderBy("route", "source", "severity_text").collect()[:20]:
        print("agg:", tuple(r))
    total = runner.routed(spark).count()
    print(f"routed_rows={total}")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
