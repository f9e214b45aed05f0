"""End-to-end batch pipeline: webtext → routed sinks + stats tables.

One logical plan per day batch:

  scan (column-pruned: url,warc_ts,lang,text)
    → JVM record split (codegen)        (no shuffle)
    → JVM extraction + enrichment       (no shuffle; broadcast joins of
                                          local-relation dims: no Python
                                          task)
    → sink flags + explode              (no shuffle)
    → write routed table partitioned by (sink, warc_day, host_bucket)
  + aggregate stats tables              (one shuffle each, partial/final agg)

The Column expressions of every stage and the broadcast dims depend only
on grammar constants and ``slow_threshold_ms``, so each is built once per
SparkSession (``session.per_session``); a call after the first builds
only its DataFrames.

Scale notes (the 1000-executor / 100 TB story):
- the map side is exchange-free: split/extract/route all pipeline into the
  scan tasks; the only shuffles are the stats groupBys, whose keys
  (message, bucket, dim value) are low-cardinality relative to input, so
  partial aggregation collapses them map-side.
- sinks are partitioned by warc_day + url-host hash bucket; a skewed host
  cannot skew a *file* beyond its bucket, and AQE handles residual skew.
- resume: each day batch is idempotent (dynamic partition overwrite); the
  manifest records completion + per-partition and per-sink counts
  (plans/manifest.py), only after the batch's stats tables are written.
  The counts come from the written files' parquet footers
  (``partition_counts``), not from reading the table back.

Sinks are parquet directory tables partitioned by sink/warc_day/
host_bucket, the spec Iceberg's identity/days/bucket transforms give.
"""

from __future__ import annotations

import glob
import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgweasel_spark.operators import aggregates as agg
from pgweasel_spark.operators import route
from pgweasel_spark.operators.enrich import enrich
from pgweasel_spark.operators.parse import parse_events
from pgweasel_spark.plans.manifest import Manifest

ROUTED_COLS = [
    "sink",
    "url",
    "url_host",
    "warc_ts",
    "lang",
    "record_no",
    "raw",
    "format",
    "severity",
    "severity_num",
    "severity_class",
    "event_ts",
    "message",
    "sqlstate",
    "sqlstate_category",
    "duration_ms",
    "host",
    "user",
    "db",
    "appname",
    "warc_day",
    "host_bucket",
]


@dataclass
class PipelineResult:
    days_processed: list[str]
    days_skipped: list[str]
    total_events: int
    sink_counts: dict[str, int]
    elapsed_s: float


def _routed(events: DataFrame, slow_threshold_ms: float) -> DataFrame:
    flagged = route.sink_flags(events, slow_threshold_ms=slow_threshold_ms)
    out = route.with_partition_cols(route.explode_sinks(flagged)).select(
        *ROUTED_COLS
    )
    # AQE rebalance on the partition keys: one-ish writer task per output
    # partition (no tiny-file spray), with skewed partitions (the stats
    # sink) split automatically
    return out.hint("rebalance", "sink", "warc_day", "host_bucket")


def partition_counts(routed_path: str, day: str) -> dict[str, int]:
    """Rows of one warc_day per ``"sink/host_bucket"`` partition, summed
    from the parquet footers (``num_rows``) of the files under
    ``sink=*/warc_day=<day>/host_bucket=*/``. Names starting with ``_``
    or ``.`` (``_SUCCESS``, ``.crc`` checksums) are skipped, as Spark's
    reader skips them; a partition with no rows gets no key. Reads a
    local ``routed_path``, like the manifest beside it."""
    counts: dict[str, int] = {}
    for part in glob.glob(
        os.path.join(
            glob.escape(routed_path), "sink=*", f"warc_day={day}", "host_bucket=*"
        )
    ):
        sink, _, bucket = (
            name.split("=", 1)[1]
            for name in os.path.relpath(part, routed_path).split(os.sep)
        )
        rows = sum(
            pq.read_metadata(f.path).num_rows
            for f in os.scandir(part)
            if f.is_file() and not f.name.startswith(("_", "."))
        )
        if rows:
            counts[f"{sink}/{bucket}"] = rows
    return counts


def write_stats(routed: DataFrame, out_root: str) -> None:
    """Aggregate companion tables (SURVEY.md §2.5), computed from the
    already-written routed table — the expensive parse runs exactly once
    per input; the stats pass reads back only the pruned columns it needs
    from the (much smaller, columnar) sinks."""
    stats = os.path.join(out_root, "stats")
    # r6: NO shared cache — each aggregate job scans the routed parquet
    # directly. The six jobs read mostly-DISJOINT column sets
    # (errors_top: message; errors_hist: event_ts; slow_top:
    # duration/url/record_no/raw; connections: severity/raw/message/kv
    # dims), so per-job column pruning at the parquet scan reads fewer
    # total bytes than one cache build over the 12-column union — and
    # the cache build itself was the dominant stats cost (measured at
    # bench_sf=1.0: cache+jobs 11.8 s vs direct pruned scans 7.3 s).
    # Guide §5: cache only when recompute beats the memory pressure —
    # here the "recompute" is a pruned columnar read the cache can't
    # undercut; at 100 TB the same holds and the corpus-sized cache is
    # pure memory pressure. Partition pruning on sink= keeps every scan
    # to the two consumed sinks.
    routed = routed.where(F.col("sink").isin("errors", "stats"))
    err = routed.where(F.col("sink") == "errors")
    log_plus = routed.where(F.col("sink") == "stats")
    jobs = {
        "errors_top": agg.errors_top(err, max_n=20),
        "errors_hist": agg.errors_hist(err),
        "slow_top": agg.slow_top(log_plus),
        "connections_totals": agg.connections_totals(log_plus),
        "connections_by_dim": agg.connections_by_dim(log_plus),
        "connections_buckets": agg.connections_buckets(log_plus),
    }
    # submit the six small jobs concurrently — they are independent and
    # individually under-parallel, so serial submission would leave cores
    # idle (Spark's fair scheduler interleaves their tasks). Each report
    # is tiny (top-N / per-dim / per-bucket rows): coalesce(1) makes the
    # write a single task + single-file commit instead of
    # shuffle-partition-many, cutting the fixed driver tail per table.
    with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
        futures = {
            name: pool.submit(
                lambda d=df, p=f"{stats}/{name}": d.coalesce(1)
                .write.mode("overwrite")
                .parquet(p)
            )
            for name, df in jobs.items()
        }
        for name, fut in futures.items():
            fut.result()


def run(
    spark: SparkSession,
    input_path: str,
    out_root: str,
    slow_threshold_ms: float = route.DEFAULT_SLOW_THRESHOLD_MS,
    day_batch: int | None = None,
    with_stats: bool = True,
    input_format: str = "parquet",
) -> PipelineResult:
    """Process all pending warc_day partitions, resumably.

    ``day_batch`` limits how many pending days are processed (tests use 1
    to simulate a kill + resume); default processes all pending days in a
    single write job.

    ``input_format="jsonlog"`` routes a raw PostgreSQL jsonlog directory
    (NDJSON, optionally .gz) through the identical day-batched writer:
    ``read_jsonlog`` already emits the parse_events schema, so the only
    adaptation is the batching timestamp — jsonlog lines carry no crawl
    timestamp, so ``warc_ts`` (day partitioning + resume granularity)
    is the event's own timestamp. Malformed lines (null event_ts after
    quarantine) batch under the 1970-01-01 sentinel day rather than
    being silently dropped — routed-row equality with the source holds.
    """
    t0 = time.time()
    manifest = Manifest.load(os.path.join(out_root, "manifest.json"))
    manifest.meta.setdefault("input_path", input_path)

    if input_format == "jsonlog":
        from pgweasel_spark.sources.webtext import read_jsonlog

        pages = read_jsonlog(spark, input_path).withColumn(
            "warc_ts",
            F.coalesce(
                F.col("event_ts"), F.lit("1970-01-01").cast("timestamp")
            ),
        )
    else:
        pages = spark.read.parquet(input_path)
    all_days = sorted(
        r["d"]
        for r in pages.select(
            F.date_format(F.to_date("warc_ts"), "yyyy-MM-dd").alias("d")
        )
        .distinct()
        .collect()
    )
    done = manifest.completed_days()
    pending = [d for d in all_days if d not in done]
    if day_batch is not None:
        pending = pending[:day_batch]

    routed_path = os.path.join(out_root, "routed")
    sink_counts: dict[str, int] = {}
    total = 0
    if pending:
        from pyspark.sql import Observation

        day_col = F.date_format(F.to_date("warc_ts"), "yyyy-MM-dd")
        batch_pages = pages.where(day_col.isin(pending))
        events = enrich(
            batch_pages
            if input_format == "jsonlog"
            else parse_events(batch_pages)
        )
        # lineage input-rows (parsed records per day) via an Observation
        # on the parse output: collected DURING the write job — no second
        # pass over the 100 TB input, and correct even though the routed
        # sinks only keep a filtered subset of parsed records. One
        # conditional count per pending day (bounded by the day batch).
        obs = Observation("parsed")
        ev_day = F.date_format(F.to_date("warc_ts"), "yyyy-MM-dd")
        events = events.observe(
            obs,
            *[
                F.count(F.when(ev_day == d, 1)).alias(f"d{i}")
                for i, d in enumerate(pending)
            ],
        )
        routed = _routed(events, slow_threshold_ms)
        (
            routed.write.mode("overwrite")
            .partitionBy("sink", "warc_day", "host_bucket")
            .parquet(routed_path)
        )
        in_rows = {
            d: obs.get[f"d{i}"] for i, d in enumerate(pending)
        }
        # per-PARTITION per-day routed counts from the footers of the
        # files just written (no Spark job): the manifest records lineage
        # at the granularity the table is physically partitioned (north
        # rule), with per-sink totals derived
        per_part = {d: partition_counts(routed_path, d) for d in pending}
        per_day: dict[str, dict[str, int]] = {d: {} for d in pending}
        for d, parts in per_part.items():
            for key, n in parts.items():
                sink = key.rsplit("/", 1)[0]
                per_day[d][sink] = per_day[d].get(sink, 0) + n
        # the stats tables come before the manifest commit: a failure in
        # write_stats leaves the batch pending, so the next call re-routes
        # it and rewrites the reports instead of keeping stale ones
        if with_stats:
            write_stats(spark.read.parquet(routed_path), out_root)
        elapsed = time.time() - t0
        for d in pending:
            manifest.mark_complete(
                d,
                per_day[d],
                input_rows=in_rows.get(d, 0),
                elapsed_s=elapsed / len(pending),
                partition_counts=per_part[d],
            )
            for s, c in per_day[d].items():
                sink_counts[s] = sink_counts.get(s, 0) + c
                total += c

    return PipelineResult(
        days_processed=pending,
        days_skipped=sorted(done),
        total_events=total,
        sink_counts=sink_counts,
        elapsed_s=time.time() - t0,
    )


def read_sink(spark: SparkSession, out_root: str, sink: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_root, "routed")).where(
        F.col("sink") == sink
    )
