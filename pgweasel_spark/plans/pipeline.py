"""End-to-end batch pipeline: webtext → routed sinks + stats tables.

One logical plan per day batch:

  scan (column-pruned: url,warc_ts,lang,text)
    → JVM record split (codegen)        (no shuffle)
    → JVM extraction + enrichment       (no shuffle; broadcast joins of
                                          local-relation dims: no Python
                                          task)
    → sink flags + explode              (no shuffle)
    → write routed table partitioned by (sink, warc_day, host_bucket)
  + stats: one pass over the batch's own errors/stats partitions
    computes each day's partial state of the six reports (one explode +
    groupBy, partial/final agg, and a per-day top-K) into
    stats_partial/warc_day=<d>/; the driver merges every day's state
    into the six report files, so a daily call never rescans history

The Column expressions of every stage and the broadcast dims depend only
on grammar constants and ``slow_threshold_ms``, so each is built once per
SparkSession (``session.per_session``); a call after the first builds
only its DataFrames.

Scale notes (the 1000-executor / 100 TB story):
- the map side is exchange-free: split/extract/route all pipeline into the
  scan tasks; the only shuffles are the stats pass's groupBy, whose keys
  (day, message, bucket, dim value) are low-cardinality relative to
  input, so partial aggregation collapses them map-side, and its per-day
  top-K, which a partial window group limit cuts map-side.
- not yet scaled out: the stats merge runs on the driver and holds every
  day's partial state, one row per distinct (day, key), so it grows with
  history × distinct messages and hosts a day (ARCHITECTURE.md).
- sinks are partitioned by warc_day + url-host hash bucket; a skewed host
  cannot skew a *file* beyond its bucket, and AQE handles residual skew.
- resume: each day batch is idempotent (its days' old partitions are
  deleted, then written with dynamic partition overwrite); the
  manifest records completion + per-partition and per-sink counts
  (plans/manifest.py), only after the batch's partial stats state and
  the stats tables are written.
  The counts come from the written files' parquet footers
  (``partition_counts``), not from reading the table back.

Sinks are parquet directory tables partitioned by sink/warc_day/
host_bucket, the spec Iceberg's identity/days/bucket transforms give.
"""

from __future__ import annotations

import glob
import json
import os
import re
import shutil
import time
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from pgweasel_spark.operators import aggregates as agg
from pgweasel_spark.operators import route
from pgweasel_spark.operators.enrich import enrich
from pgweasel_spark.operators.parse import parse_events
from pgweasel_spark.plans.manifest import Manifest

#: the routed table's columns, in the order ``_routed`` selects them
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
#: the routed table's partition columns, typed as partition discovery
#: infers them
PARTITION_FIELDS = [
    StructField("sink", StringType()),
    StructField("warc_day", DateType()),
    StructField("host_bucket", IntegerType()),
]
#: the footer key under which Spark's parquet writer stores the Spark
#: schema of a file's columns
SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"
#: the path names Spark's file listing skips: ``.*``, ``_*`` unless a
#: ``k=v`` partition directory, ``*._COPYING_``
HIDDEN_NAME = re.compile(r"\.|_[^=]*$|.*\._COPYING_$")


@dataclass
class PipelineResult:
    days_processed: list[str]
    days_skipped: list[str]
    #: completed days that a new, changed or removed input file re-opened
    days_reopened: list[str]
    total_events: int
    sink_counts: dict[str, int]
    elapsed_s: float


class InputMismatch(ValueError):
    """The input is not the one an output's ledger was built from."""


def _routed(events: DataFrame, slow_threshold_ms: float) -> DataFrame:
    flagged = route.sink_flags(events, slow_threshold_ms=slow_threshold_ms)
    out = route.with_partition_cols(route.explode_sinks(flagged)).select(
        *ROUTED_COLS
    )
    # AQE rebalance on the partition keys: one-ish writer task per output
    # partition (no tiny-file spray), with skewed partitions (the stats
    # sink) split automatically
    return out.hint("rebalance", "sink", "warc_day", "host_bucket")


def _day_dirs(routed_path: str, day: str) -> list[tuple[str, str]]:
    """``(sink, path)`` of each ``sink=*/warc_day=<day>`` directory of the
    routed table, listed on the driver."""
    pattern = os.path.join(glob.escape(routed_path), "sink=*", f"warc_day={day}")
    return [
        (os.path.basename(os.path.dirname(path)).split("=", 1)[1], path)
        for path in sorted(glob.glob(pattern))
    ]


def partition_counts(routed_path: str, day: str) -> dict[str, int]:
    """Rows of one warc_day per ``"sink/host_bucket"`` partition, summed
    from the parquet footers (``num_rows``) of the files under
    ``sink=*/warc_day=<day>/host_bucket=*/``. Names starting with ``_``
    or ``.`` (``_SUCCESS``, ``.crc`` checksums) are skipped, as Spark's
    reader skips them; a partition with no rows gets no key. Reads a
    local ``routed_path``, like the manifest beside it."""
    counts: dict[str, int] = {}
    for sink, day_dir in _day_dirs(routed_path, day):
        for part in glob.glob(os.path.join(glob.escape(day_dir), "host_bucket=*")):
            rows = sum(
                pq.read_metadata(f.path).num_rows
                for f in os.scandir(part)
                if f.is_file() and not f.name.startswith(("_", "."))
            )
            if rows:
                bucket = os.path.basename(part).split("=", 1)[1]
                counts[f"{sink}/{bucket}"] = rows
    return counts


# --- stats reports: per-day partial states merged on the driver -------------

#: the routed sinks the stats reports read
STATS_SINKS = ("errors", "stats")
#: the one file of each stats report and of each day's partial state
PART_FILE = "part-00000.parquet"


def _partial_dir(out_root: str, day: str) -> str:
    return os.path.join(out_root, "stats_partial", f"warc_day={day}")


def _replace_file(table: pa.Table, directory: str, **write_opts) -> None:
    """Make ``table`` the only file of ``directory``: written to a hidden
    temp file (readers skip names starting with ``.``), renamed over
    ``PART_FILE``, then every other entry removed."""
    os.makedirs(directory, exist_ok=True)
    tmp = os.path.join(directory, f".{PART_FILE}.tmp")
    pq.write_table(table, tmp, **write_opts)
    os.replace(tmp, os.path.join(directory, PART_FILE))
    for entry in os.scandir(directory):
        if entry.name == PART_FILE:
            continue
        if entry.is_dir():
            shutil.rmtree(entry.path)
        else:
            os.remove(entry.path)


def routed_schema(routed_path: str, dirs: list[str] = ()) -> StructType | None:
    """The routed table's schema as Spark reads it back, from one data
    file's footer (the first under ``dirs``, else any under
    ``routed_path``): its data columns as written, all nullable, then
    ``PARTITION_FIELDS``. The types depend on the input: pages store
    ``record_no`` as an int and ``warc_ts`` as a timestamp without time
    zone; jsonlog stores a long and a session-zone timestamp. None when
    the table has no file."""
    for top in [*dirs, routed_path]:
        pattern = os.path.join(glob.escape(top), "**", "*.parquet")
        path = next(glob.iglob(pattern, recursive=True), None)
        if path is not None:
            written = StructType.fromJson(
                json.loads(pq.read_metadata(path).metadata[SPARK_SCHEMA_KEY])
            )
            data = [StructField(f.name, f.dataType) for f in written]
            return StructType(data + PARTITION_FIELDS)
    return None


def read_stats_days(
    spark: SparkSession, routed_path: str, days: list[str]
) -> DataFrame | None:
    """The errors and stats rows of ``days`` in the routed table, read
    from those days' partition directories only, with the schema in their
    footers (``routed_schema``), so no schema-inference job runs; None
    when the days have none."""
    dirs = [
        path
        for day in days
        for sink, path in _day_dirs(routed_path, day)
        if sink in STATS_SINKS
    ]
    if not dirs:
        return None
    return (
        spark.read.schema(routed_schema(routed_path, dirs))
        .option("basePath", routed_path)
        .parquet(*dirs)
    )


def write_stats(
    routed: DataFrame | None, out_root: str, days: list[str] | None = None
) -> None:
    """Aggregate companion tables (SURVEY.md §2.5), in two steps:

    1. One Spark pass over ``routed`` (errors/stats rows; pruned to those
       sinks here) computes each day's partial state
       (``aggregates.report_partials``) and writes it to
       ``<out_root>/stats_partial/warc_day=<day>/``, replacing that day's
       old state. ``days`` lists the days ``routed`` covers, so a day
       without errors or stats rows gets an empty state; None takes the
       days found in ``routed``. ``routed`` may be None when every day is
       empty.
    2. The driver merges every day's state under ``stats_partial`` into
       the six reports (``aggregates.merge_reports``), typed as their
       builders type them over the routed table, and writes each as one
       parquet file ``<out_root>/stats/<name>/`` as Spark's writer would
       (INT96 timestamps, no Arrow schema). When no day is routed (none
       yet, or every day's input removed) there is no schema to type
       them with: no report is written, and old reports are removed.
       Assumes a local ``out_root``, like the manifest."""
    spark = SparkSession.active() if routed is None else routed.sparkSession
    if routed is None:
        state = agg.PARTIAL_SCHEMA.empty_table().append_column(
            "warc_day", pa.array([], pa.date32())
        )
        source = routed_schema(os.path.join(out_root, "routed"))
    else:
        routed = routed.where(F.col("sink").isin(*STATS_SINKS))
        state = agg.report_partials(routed).toArrow()
        source = routed.schema
    state_days = state["warc_day"].cast(pa.string())
    if days is None:
        days = sorted(set(state_days.to_pylist()))
    for day in days:
        day_state = state.filter(pc.equal(state_days, day))
        _replace_file(
            day_state.select(agg.PARTIAL_SCHEMA.names).cast(agg.PARTIAL_SCHEMA),
            _partial_dir(out_root, day),
        )
    if source is None:  # nothing routed, or every day gone
        shutil.rmtree(os.path.join(out_root, "stats"), ignore_errors=True)
        return

    parts = glob.glob(
        os.path.join(glob.escape(out_root), "stats_partial", "warc_day=*", PART_FILE)
    )
    merged = pa.concat_tables(
        [agg.PARTIAL_SCHEMA.empty_table()]
        + [pq.read_table(p, schema=agg.PARTIAL_SCHEMA) for p in sorted(parts)]
    )
    schemas = agg.report_schemas(spark, source)
    for name, table in agg.merge_reports(merged, schemas).items():
        _replace_file(
            table,
            os.path.join(out_root, "stats", name),
            use_deprecated_int96_timestamps=True,
            store_schema=False,
        )


def _warc_day() -> Column:
    """The ``yyyy-MM-dd`` day of ``warc_ts``: the manifest's day key."""
    return F.date_format(F.to_date("warc_ts"), "yyyy-MM-dd")


def list_input(spark: SparkSession, input_path: str) -> tuple[str, dict, str | None]:
    """The input (a file, directory or glob) as Spark's reader sees it,
    listed on the driver (no Spark job): its qualified path; its files,
    path → ``{"size", "mtime_ms"}``, but no ``HIDDEN_NAME``; and
    ``input_path`` if it is a directory (``basePath``)."""
    root = spark._jvm.org.apache.hadoop.fs.Path(input_path)
    fs = root.getFileSystem(spark._jsc.hadoopConfiguration())
    matches = fs.globStatus(root)
    if not matches:
        raise FileNotFoundError(f"input path does not exist: {input_path}")
    files = {}
    for match in matches:
        prefix = len(match.getPath().toString().rstrip("/")) + 1
        listing = fs.listFiles(match.getPath(), True)
        while listing.hasNext():
            st = listing.next()
            path = st.getPath().toString()
            if not any(HIDDEN_NAME.match(n) for n in path[prefix:].split("/")):
                size, mtime_ms = st.getLen(), st.getModificationTime()
                files[path] = {"size": size, "mtime_ms": mtime_ms}
    base_path = input_path if fs.isDirectory(root) else None
    return fs.makeQualified(root).toString(), files, base_path


def read_input(
    spark: SparkSession,
    paths: list[str],
    input_format: str = "parquet",
    schema: str | None = None,
    base_path: str | None = None,
) -> DataFrame:
    """The rows ``run`` routes from the files or directories ``paths``:
    webtext pages, or for ``"jsonlog"`` the parsed events of a raw
    PostgreSQL jsonlog input (``read_jsonlog``). jsonlog lines carry no
    crawl timestamp, so their ``warc_ts`` (day partitioning and resume
    granularity) is the event's own timestamp; a malformed line (null
    ``event_ts`` after quarantine) takes the 1970-01-01 sentinel day
    rather than being dropped, so routed-row equality with the source
    holds. ``paths`` are literal: glob characters in them are escaped.
    For pages, a ``schema`` (``StructType`` json) skips the inference
    job and ``base_path`` roots partition discovery."""
    paths = [re.sub(r"([\\{}\[\]*?])", r"\\\1", p) for p in paths]
    if input_format == "jsonlog":
        from pgweasel_spark.sources.webtext import read_jsonlog

        return read_jsonlog(spark, paths).withColumn(
            "warc_ts",
            F.coalesce(
                F.col("event_ts"), F.lit("1970-01-01").cast("timestamp")
            ),
        )
    reader = spark.read.option("basePath", base_path) if base_path else spark.read
    if schema is not None:
        reader = reader.schema(StructType.fromJson(json.loads(schema)))
    return reader.parquet(*paths)


def input_days(rows: DataFrame, file: Column) -> dict[str, list[str]]:
    """The sorted days of ``rows``' ``warc_ts`` per input ``file`` (a URI
    column: ``input_file_name()``, or jsonlog's ``url``), keyed as
    ``list_input`` lists the file (one Spark pass)."""
    jvm, days = rows.sparkSession._jvm, {}
    for r in rows.select(file, _warc_day()).distinct().collect():
        if r[1] is not None:
            path = jvm.org.apache.hadoop.fs.Path(jvm.java.net.URI(r[0])).toString()
            days.setdefault(path, []).append(r[1])
    return {path: sorted(ds) for path, ds in days.items()}


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

    The manifest's input ledger decides what is pending: a new, changed
    or removed input file re-opens its days, and a day no file holds
    leaves the output (which so follows the input's retention). A call
    refuses another input, or an empty one while the ledger lists files
    (an unmounted directory). A call that changes nothing runs no job.

    ``day_batch`` limits how many pending days are processed (tests use 1
    to simulate a kill + resume); default processes all pending days in a
    single write job, which reads only the files that hold them.

    ``input_format="jsonlog"`` routes a raw PostgreSQL jsonlog directory
    (NDJSON, optionally .gz) through the identical day-batched writer,
    batched on the events' own timestamps (``read_input``).

    A pending day's old ``sink=*/warc_day=<d>`` directories are deleted
    before the write: dynamic partition overwrite replaces only the
    partitions the new output writes, so a re-opened day would otherwise
    keep the sinks its new routing no longer writes.
    """
    t0 = time.time()
    manifest = Manifest.load(os.path.join(out_root, "manifest.json"))

    # re-open the days of new, changed (size or mtime) and removed files and
    # take the listing into the ledger in one save, before any routing
    source, found, base_path = list_input(spark, input_path)
    files = manifest.ledger.setdefault("files", {})
    if files and (source != manifest.ledger["input"] or not found):
        raise InputMismatch(
            f"{out_root} holds the output of {len(files)} files of "
            f"{manifest.ledger['input']}, not of {len(found)} files of {source}"
        )
    new = [p for p in sorted(found) if not found[p].items() <= files.get(p, {}).items()]
    removed = sorted(set(files) - set(found))
    touched = {d for p in new + removed for d in files.pop(p, {}).get("days", [])}
    if new:
        rows = read_input(spark, new, input_format, base_path=base_path)
        manifest.ledger["schema"] = rows.schema.json()
        jsonlog = input_format == "jsonlog"
        days = input_days(rows, F.col("url") if jsonlog else F.input_file_name())
        unlisted = set(days) - set(new)
        if unlisted:  # a file's days would be lost without a trace
            raise RuntimeError(f"rows from files the listing lacks: {sorted(unlisted)}")
        for p in new:  # a file with no rows holds no day
            files[p] = {**found[p], "days": days.get(p, [])}
            touched.update(files[p]["days"])
    reopened = sorted(touched & manifest.completed_days())
    if new or removed:
        manifest.ledger["input"] = source
        manifest.days.update({d: {"status": "pending"} for d in touched})
        manifest.save()
    done = manifest.completed_days()
    all_days = {d for entry in files.values() for d in entry["days"]}
    gone = sorted(set(manifest.days) - all_days)
    pending = sorted(all_days - done)[:day_batch]

    routed_path = os.path.join(out_root, "routed")
    for d in gone + pending:
        for _, day_dir in _day_dirs(routed_path, d):
            shutil.rmtree(day_dir)
        shutil.rmtree(_partial_dir(out_root, d), ignore_errors=True)
    sink_counts: dict[str, int] = {}
    total = 0
    if pending:
        from pyspark.sql import Observation

        paths = [p for p, e in files.items() if set(e["days"]) & set(pending)]
        schema = manifest.ledger["schema"]
        pages = read_input(spark, sorted(paths), input_format, schema, base_path)
        day = _warc_day()
        batch_pages = pages.where(day.isin(pending))
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
        events = events.observe(
            obs,
            *[
                F.count(F.when(day == d, 1)).alias(f"d{i}")
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
        # it and rewrites its partial state and the reports instead of
        # keeping stale ones. A stats call also computes the state of every
        # completed day that lacks one (days routed without stats); a call
        # without stats drops the state of the days it re-routes.
        if with_stats:
            days = pending + [
                d
                for d in sorted(done)
                if not os.path.exists(
                    os.path.join(_partial_dir(out_root, d), PART_FILE)
                )
            ]
            write_stats(read_stats_days(spark, routed_path, days), out_root, days)
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
    if gone:  # last, so that a failure before leaves them to the next call
        if not (pending and with_stats):
            write_stats(None, out_root, [])
        for d in gone:
            del manifest.days[d]
        manifest.save()

    return PipelineResult(
        days_processed=pending,
        days_skipped=sorted(done),
        days_reopened=reopened,
        total_events=total,
        sink_counts=sink_counts,
        elapsed_s=time.time() - t0,
    )


def read_sink(spark: SparkSession, out_root: str, sink: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_root, "routed")).where(
        F.col("sink") == sink
    )
