"""CLI veneer reproducing the pgweasel subcommand surface (SURVEY.md §2.8)
over a webtext parquet/Iceberg table instead of log files.

    python -m pgweasel_spark.cli errors list  --input DIR [-l LEVEL] [-m MASK] [-b BEGIN] [-e END]
    python -m pgweasel_spark.cli errors top   --input DIR [--max N]
    python -m pgweasel_spark.cli errors hist  --input DIR [--bucket SECONDS]
    python -m pgweasel_spark.cli slow         --input DIR [--threshold MS] / slow top
    python -m pgweasel_spark.cli locks        --input DIR
    python -m pgweasel_spark.cli system       --input DIR
    python -m pgweasel_spark.cli connections  --input DIR
    python -m pgweasel_spark.cli run          --input DIR --out DIR   (full pipeline)
    python -m pgweasel_spark.cli stream       --input DIR --out DIR   (alias of run)

Aliases follow the reference grammar (src/cli.rs:7-97): errors/error/err,
locks/loc/lock/deadlock(s), connections/conns/conn, system/sys/pg, stream/run.
Relative times (10m/2h/1d/today) follow src/util.rs:33-113.
"""

from __future__ import annotations

import argparse
import re
import sys
from datetime import datetime, timedelta

from pyspark.sql import functions as F

from pgweasel_spark import grammar
from pgweasel_spark.operators import aggregates as agg
from pgweasel_spark.operators import route
from pgweasel_spark.operators.parse import parse_events
from pgweasel_spark.session import get_spark

_INTERVAL_RE = re.compile(
    r"^(-?\d+)(ns|us|ms|s|m|min|minutes|h|hours|d|day|days)$"
)

_UNIT_S = {
    "ns": 1e-9,
    "us": 1e-6,
    "ms": 1e-3,
    "s": 1.0,
    "m": 60.0,
    "min": 60.0,
    "minutes": 60.0,
    "h": 3600.0,
    "hours": 3600.0,
    "d": 86400.0,
    "day": 86400.0,
    "days": 86400.0,
}


def has_uri_scheme(path: str) -> bool:
    """True when ``path`` carries a URI scheme (s3a://, hdfs://, ...) —
    such paths are resolvable only by Spark's filesystem layer, so the
    CLI's local-existence pre-flight must not reject them."""
    return re.match(r"^[a-zA-Z][a-zA-Z0-9+.-]*://", path) is not None


def parse_time_arg(value: str, now: datetime | None = None) -> datetime:
    """P10 relative-time grammar (src/util.rs:33-169): intervals are 'ago'
    (positive) / future (explicit minus), `today`, ISO timestamps,
    date-only midnight."""
    now = now or datetime.now()
    if value.lower() == "today":
        return now.replace(hour=0, minute=0, second=0, microsecond=0)
    m = _INTERVAL_RE.match(value)
    if m:
        delta = timedelta(seconds=int(m.group(1)) * _UNIT_S[m.group(2)])
        # positive → past ("10m ago"); explicit minus → future
        return now + abs(delta) if value.startswith("-") else now - delta
    for fmt in (
        "%Y-%m-%d %H:%M:%S.%f",
        "%Y-%m-%d %H:%M:%S",
        "%Y-%m-%dT%H:%M:%S.%f",
        "%Y-%m-%dT%H:%M:%S",
        "%Y-%m-%d",
    ):
        try:
            return datetime.strptime(value, fmt)
        except ValueError:
            continue
    raise ValueError(f"Unsupported time delta / timestamp format: {value}")


def parse_threshold_ms(value: str) -> float:
    """humantime-ish duration → ms (slow threshold, default 3s)."""
    m = re.match(r"^([0-9.]+) ?([a-z]+)?$", value)
    if not m:
        raise ValueError(f"bad duration: {value}")
    unit = m.group(2) or "s"
    return float(m.group(1)) * _UNIT_S[unit] * 1000.0


_ALIASES = {
    "error": "errors",
    "err": "errors",
    "loc": "locks",
    "lock": "locks",
    "deadlock": "locks",
    "deadlocks": "locks",
    "conns": "connections",
    "conn": "connections",
    "sys": "system",
    "pg": "system",
    "postgre": "system",
    "postgres": "system",
    "stream": "run",
}


def _input_format(path: str) -> str:
    """S8 jsonlog for a ``.json``/``.jsonl`` path, gzipped or not; else
    a parquet webtext table. The reference exits with
    JsonNotYetImplemented (src/error.rs:34) on .json inputs; here the
    native NDJSON reader serves the identical event schema, so every
    subcommand works unchanged. Compressed twins route the same way —
    the text reader decodes .gz by codec, so pg.json.gz must not fall
    through to the parquet reader."""
    jsonlog = path.rstrip("/").endswith((".json", ".jsonl", ".json.gz", ".jsonl.gz"))
    return "jsonlog" if jsonlog else "parquet"


def _base_events(args):
    spark = get_spark("pgweasel-cli")
    spark.sparkContext.setLogLevel("ERROR")
    if _input_format(args.input) == "jsonlog":
        from pgweasel_spark.sources.webtext import read_jsonlog

        pages = None
        ev = read_jsonlog(spark, args.input)
    else:
        pages = spark.read.parquet(args.input)
        ev = parse_events(pages)
    if getattr(args, "debug", False):
        # reference parity: --debug/-d prints verbose processing info
        # (cli.rs:11); counts go to stderr so stdout stays pipeable
        import time as _time

        t0 = _time.time()
        n_pages = pages.count() if pages is not None else "-"
        n_events = ev.count()
        print(
            f"[debug] pages={n_pages} parsed_events={n_events} "
            f"parse_wall={_time.time() - t0:.2f}s input={args.input}",
            file=sys.stderr,
        )
    ev = route.mask_filter(ev, args.mask)
    min_sev = grammar.SEVERITY_NUM[
        grammar.severity_from_name(args.level)
    ] if args.level else None
    if min_sev is not None:
        ev = ev.where(F.col("severity_num") >= min_sev)
    begin = parse_time_arg(args.begin) if args.begin else None
    end = parse_time_arg(args.end) if args.end else None
    if begin or end:
        ev = ev.where(F.col("event_ts").isNotNull())
        ev = route.time_range_filter(ev, begin, end)
    return spark, ev


def _print_records(df, limit=1000):
    for r in df.orderBy("url", "record_no").limit(limit).collect():
        sys.stdout.write(r["raw"] if r["raw"].endswith("\n") else r["raw"] + "\n")


def main(argv=None):
    ap = argparse.ArgumentParser(prog="pgweasel-spark")
    ap.add_argument("command")
    ap.add_argument("subcommand", nargs="?", default=None)
    ap.add_argument("--input", required=True, help="webtext parquet dir")
    ap.add_argument("--out", help="output root (run and stream commands)")
    ap.add_argument(
        "--debug", "-d", action="store_true",
        help="verbose: print processing counts/timing to stderr",
    )
    ap.add_argument("--level", "-l", default=None)
    ap.add_argument("--mask", "-m", default=None)
    ap.add_argument("--begin", "-b", default=None)
    ap.add_argument("--end", "-e", default=None)
    ap.add_argument("--max", type=int, default=20)
    ap.add_argument("--bucket", type=int, default=3600)
    ap.add_argument("--threshold", default="3s")
    args = ap.parse_args(argv)

    import glob as _glob
    import os as _os

    # clean error before any Spark startup: the reference prints a clear
    # message on a bad path instead of a stack trace. Only local paths
    # (no URI scheme) are pre-checked — s3a://, hdfs://, file: etc. are
    # resolvable only by Spark's own filesystem layer.
    if not has_uri_scheme(args.input) and not (
        _os.path.exists(args.input) or _glob.glob(args.input)
    ):
        ap.exit(2, f"error: input path does not exist: {args.input}\n")

    cmd = _ALIASES.get(args.command, args.command)

    if cmd == "run":
        from pgweasel_spark.plans import pipeline

        if args.out is None:
            ap.error(f"{args.command} needs --out")
        spark = get_spark("pgweasel-cli")
        spark.sparkContext.setLogLevel("ERROR")
        # jsonlog inputs route through the same resumable day-batched
        # writer (events batch on their own timestamps)
        fmt = _input_format(args.input)
        try:
            res = pipeline.run(spark, args.input, args.out, input_format=fmt)
        except pipeline.InputMismatch as e:
            ap.exit(2, f"error: {e}\n")
        print(
            f"processed days={res.days_processed} reopened={res.days_reopened} "
            f"skipped={res.days_skipped} sink_counts={res.sink_counts} "
            f"in {res.elapsed_s:.1f}s"
        )
        return

    spark, ev = _base_events(args)

    if cmd == "errors":
        if args.level is None:
            ev = ev.where(F.col("severity_num") >= route.MIN_SEV_ERRORS)
        sub = args.subcommand or "list"
        if sub == "list":
            _print_records(ev)
        elif sub == "top":
            for r in agg.errors_top(ev, args.max).collect():
                print(f"{r['cnt']:>6}  {r['message']}")
        elif sub in ("hist", "histogram"):
            rows = agg.errors_hist(ev, args.bucket).collect()
            mx = max((r["cnt"] for r in rows), default=0)
            for r in rows:
                filled = round(r["cnt"] / mx * 50) if mx else 0
                print(
                    f"[{r['bucket_ts']:%Y-%m-%d %H:%M:%S}] "
                    f"{'#' * filled}{'-' * (50 - filled)} {r['cnt']}"
                )
    elif cmd == "slow":
        if args.level is None:
            ev = ev.where(F.col("severity_num") >= route.MIN_SEV_LOG)
        if args.subcommand == "top":
            for r in agg.slow_top(ev, 10).collect():
                print(f"--- {r['duration_ms']}ms ---")
                print(r["raw"])
        else:
            t = parse_threshold_ms(args.subcommand or args.threshold)
            _print_records(ev.where(F.col("duration_ms") > t))
    elif cmd == "locks":
        if args.level is None:
            ev = ev.where(F.col("severity_num") >= route.MIN_SEV_LOG)
        from pgweasel_spark.functions import extract as X

        _print_records(ev.where(X.is_lock(F.col("raw"))))
    elif cmd == "system":
        if args.level is None:
            ev = ev.where(F.col("severity_num") >= route.MIN_SEV_LOG)
        from pgweasel_spark.functions import extract as X

        _print_records(ev.where(X.is_system(F.col("raw"))))
    elif cmd == "connections":
        if args.level is None:
            ev = ev.where(F.col("severity_num") >= route.MIN_SEV_LOG)
        ev = ev.where(F.col("event_ts").isNotNull())
        t = agg.connections_totals(ev).collect()[0]
        print(f"Total connection attempts: {t['connection_attempts']}")
        print(f"Total authenticated connections: {t['authenticated']}")
        print(f"Total authenticated SSL connections: {t['authenticated_ssl']}")
        print(f"Total connection failures: {t['failures']}")
        for r in agg.connections_by_dim(ev).collect():
            print(f"  [{r['dim']}] {r['cnt']:>6}  {r['value']}")
        print("Connections by time bucket:")
        for r in agg.connections_buckets(ev).collect():
            print(f"  {r['cnt']:>6}  {r['bucket_ts']}")
    elif cmd == "stats":
        # declared-but-stub in the reference (src/main.rs:147-149); here the
        # engine already computes six aggregate tables, so expose them:
        # live from the parsed events (equivalent to what `run` persists
        # under <out>/stats — see plans/pipeline.write_stats)
        err = ev.where(F.col("severity_num") >= route.MIN_SEV_ERRORS)
        logp = ev.where(F.col("severity_num") >= route.MIN_SEV_LOG)
        print("== errors top ==")
        for r in agg.errors_top(err, args.max).collect():
            print(f"{r['cnt']:>6}  {r['message']}")
        print("== errors histogram ==")
        for r in agg.errors_hist(err, args.bucket).collect():
            print(f"  {r['cnt']:>6}  {r['bucket_ts']:%Y-%m-%d %H:%M:%S}")
        print("== slow top ==")
        for r in agg.slow_top(logp, 5).collect():
            first = (r["raw"].splitlines() or [""])[0][:100]
            print(f"{r['duration_ms']:>12}ms  {first}")
        t = agg.connections_totals(logp).collect()[0]
        print("== connections ==")
        print(f"Total connection attempts: {t['connection_attempts']}")
        print(f"Total authenticated connections: {t['authenticated']}")
        print(f"Total authenticated SSL connections: {t['authenticated_ssl']}")
        print(f"Total connection failures: {t['failures']}")
        for r in agg.connections_by_dim(logp).collect():
            print(f"  [{r['dim']}] {r['cnt']:>6}  {r['value']}")
        print("Connections by time bucket:")
        for r in agg.connections_buckets(logp).collect():
            print(f"  {r['cnt']:>6}  {r['bucket_ts']}")
    elif cmd == "peaks":
        # declared-but-stub in the reference (src/main.rs:147-149 prints
        # "Not implemented"); here the engine computes it: hourly error
        # buckets whose count exceeds mean + 2*stddev, with z-scores
        err = ev.where(
            (F.col("severity_num") >= route.MIN_SEV_ERRORS)
            & F.col("event_ts").isNotNull()
        )
        buckets = err.groupBy(
            F.date_trunc("hour", "event_ts").alias("bucket_ts")
        ).agg(F.count(F.lit(1)).alias("cnt"))
        rows = (
            agg.bucket_peaks(buckets, z_threshold=2.0)
            .orderBy("bucket_ts")
            .collect()
        )
        print("Error-rate peak buckets (count > mean + 2*stddev):")
        if not rows:
            print("  (none)")
        for r in rows:
            print(
                f"  {r['bucket_ts']:%Y-%m-%d %H:%M:%S}  cnt={r['cnt']}"
                f"  z={r['z']}"
            )
    else:
        ap.error(f"unknown command {args.command}")


if __name__ == "__main__":
    main()
