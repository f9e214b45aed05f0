"""spark-submit entry point for the batch pipeline (north-rule: "ships
via spark-submit --py-files to a multi-executor cluster").

Package + submit:

    cd <repo>
    python tools/package_pyfiles.py            # builds dist/pgweasel_spark.zip
    spark-submit \
        --master <cluster-master> \
        --py-files dist/pgweasel_spark.zip \
        jobs/run_pipeline.py \
        --input s3://bucket/webtext --out s3://bucket/pgweasel_out \
        [--slow-threshold-ms 3000] [--day-batch N] [--no-stats]

Under spark-submit the session master/deploy settings come from the
submit command; this script only sets the pipeline's correctness/scale
confs (UTC, AQE, dynamic overwrite, ...) via the shared factory, which
leaves the builder's master untouched whenever the launcher configured
one (see session.get_spark — an unconditional builder.master() would
override --master and run the job driver-local). The effective master
is echoed in the output JSON so a mis-submitted job is visible.
Resumability is inherent: the manifest under --out skips completed
days, so re-submitting a killed job continues where it died.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description="pgweasel_spark batch pipeline")
    p.add_argument("--input", required=True, help="webtext table path")
    p.add_argument("--out", required=True, help="output root (sinks + manifest)")
    p.add_argument("--slow-threshold-ms", type=float, default=3000.0)
    p.add_argument(
        "--day-batch",
        type=int,
        default=None,
        help="max pending days per run (default: all)",
    )
    p.add_argument("--no-stats", action="store_true")
    p.add_argument(
        "--input-format",
        choices=("parquet", "jsonlog"),
        default="parquet",
        help="jsonlog: a raw PostgreSQL jsonlog dir (NDJSON, .gz ok); "
        "events day-batch on their own timestamps",
    )
    args = p.parse_args(argv)

    from pgweasel_spark.plans import pipeline
    from pgweasel_spark.session import get_spark

    spark = get_spark("pgweasel-pipeline")
    res = pipeline.run(
        spark,
        args.input,
        args.out,
        slow_threshold_ms=args.slow_threshold_ms,
        day_batch=args.day_batch,
        with_stats=not args.no_stats,
        input_format=args.input_format,
    )
    print(
        json.dumps(
            {
                "master": spark.conf.get("spark.master"),
                "days_processed": res.days_processed,
                "days_skipped": res.days_skipped,
                "days_reopened": res.days_reopened,
                "total_events": res.total_events,
                "sink_counts": res.sink_counts,
                "elapsed_s": round(res.elapsed_s, 3),
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
