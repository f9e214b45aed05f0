"""Input sources (SURVEY.md §2.1).

The reference's source surface maps almost entirely to Spark built-ins:

- S1 mmap file scan       → columnar parquet scan (spark.read.parquet in
                            pipeline.run and the CLI)
- S2 directory expansion  → path globs / recursive listing (native)
- S3 gzip source          → Spark text/csv readers decode .gz by codec
                            automatically (read_raw_logs on *.log.gz works
                            with zero extra code)
- S4 zip source           → binaryFile scan + per-archive member explode
                            (read_zip_logs)
- S5 format detection     → url extension → format column (operators/parse)
- S8 JSON source          → REAL (read_jsonlog): native NDJSON text scan +
                            from_json in whole-stage codegen, emitting the
                            same parsed-event schema as parse_events. The
                            reference never implemented this — its CLI exits
                            with JsonNotYetImplemented (src/error.rs:34) —
                            so this source strictly exceeds reference
                            coverage. .gz transparency comes free from the
                            text reader's codec handling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: per-member decompressed-size cap for zip sources — a log file member
#: larger than this is almost certainly a decompression bomb
_MAX_ZIP_MEMBER_BYTES = 256 * 1024 * 1024


def read_raw_logs(spark: SparkSession, path: str) -> DataFrame:
    """S1/S2/S3 for loose log files (the reference's native input shape):
    whole-file text read → one synthetic page per file, feeding the same
    split/extract pipeline. Globs, directories and .gz are handled by the
    reader itself. Intended for small side inputs / parity testing — the
    production input is the webtext table."""
    df = (
        spark.read.format("text")
        .option("wholetext", True)
        .load(path)
        .select(
            F.input_file_name().alias("url"),
            F.lit(None).cast("timestamp").alias("warc_ts"),
            F.col("value").alias("text"),
            F.lit(None).cast("string").alias("lang"),
        )
    )
    return df


def read_zip_logs(spark: SparkSession, path: str) -> DataFrame:
    """S4: zip archives of log files (convert_args.rs:163-193 extracts
    every non-directory member and feeds each to the normal per-file
    pipeline). Spark shape: ``binaryFile`` scan (one row per archive) →
    Arrow-batched member explode → one synthetic page per member, same
    schema as read_raw_logs. A zip is not splittable, so parallelism is
    across archives — exactly the reference's per-archive loop, spread
    over executors. Member bytes decode as UTF-8-with-replacement,
    matching the text reader.

    Memory bounds (ADVICE r2): one DataFrame is yielded PER ARCHIVE, so
    peak worker memory is one archive's decoded members rather than the
    whole Arrow batch of archives; each member decompresses through a
    capped read (``_MAX_ZIP_MEMBER_BYTES``) so a zip-bomb member fails
    loudly instead of OOMing the Python worker."""

    blobs = spark.read.format("binaryFile").load(path)
    cap = _MAX_ZIP_MEMBER_BYTES

    def explode_zip(batches):
        import io
        import zipfile

        import pandas as pd

        for pdf in batches:
            for p, content in zip(pdf["path"], pdf["content"]):
                urls: list[str] = []
                texts: list[str] = []
                with zipfile.ZipFile(io.BytesIO(content)) as zf:
                    for info in zf.infolist():
                        if info.is_dir():
                            continue
                        with zf.open(info) as member:
                            data = member.read(cap + 1)
                        if len(data) > cap:
                            raise ValueError(
                                f"zip member {p}!{info.filename} exceeds "
                                f"{cap} bytes decompressed"
                            )
                        urls.append(f"{p}!{info.filename}")
                        texts.append(data.decode("utf-8", "replace"))
                if urls:
                    yield pd.DataFrame({"url": urls, "text": texts})

    pages = blobs.select("path", "content").mapInPandas(
        explode_zip, "url string, text string"
    )
    return pages.select(
        "url",
        F.lit(None).cast("timestamp").alias("warc_ts"),
        "text",
        F.lit(None).cast("string").alias("lang"),
    )


#: PostgreSQL jsonlog (log_destination=jsonlog, PG15+) line schema —
#: the documented key set this reader consumes; unknown keys are
#: ignored by from_json, malformed lines yield nulls (quarantined like
#: the stderr timestamp path, never an abort).
JSONLOG_SCHEMA = (
    "timestamp string, error_severity string, message string, "
    "state_code string, user string, dbname string, "
    "application_name string, remote_host string, process_id long"
)


def read_jsonlog(spark: SparkSession, path: str | list[str]) -> DataFrame:
    """S8 jsonlog — REAL here although the reference never implemented
    it (Error::JsonNotYetImplemented, src/error.rs:34; the CLI exits on
    .json inputs). Reads PostgreSQL jsonlog (NDJSON, one object per
    line — records never span lines, so no lookahead splitter is
    needed) from a file, a directory or a list of them, and emits the
    SAME parsed-event schema ``parse_events`` produces from
    stderr/csvlog pages, so every downstream operator (route,
    aggregates, CLI reports) works unchanged. ``pipeline.read_input``
    reads jsonlog through it for ``pipeline.run``.

    Spark-first shape: lines via the native text source (splittable,
    so a large file is read as several tasks), then ``from_json`` + field
    projection all JVM-side inside whole-stage codegen; the corpus never
    crosses into Python. ``record_no`` is the line's 0-based position in
    its own file (empty lines counted, then skipped), so a row's ``(url,
    record_no)`` does not depend on which files are read together or how
    they are split: a line's row number inside its input split
    (``monotonically_increasing_id`` minus the split's first id) plus the
    lines of the file's earlier splits, which a small aggregate over
    (file, split start) counts and a broadcast join hands back. That
    aggregate reads the input a second time, counting lines only; it is
    left-joined, so a query that does not use ``record_no`` (``errors
    top``, ``pipeline.input_days``) drops it and reads the input once.
    ``raw`` keeps the original line for CLI printing and the
    kv/duration extractors; severity reuses the stderr ordinal map
    (Panic→0 quirk included) and the timestamp reuses the 3-token
    parser, so jsonlog events route and aggregate bit-identically to
    their stderr twins (asserted by test_jsonlog_source_matches_stderr_twin).
    """
    from pgweasel_spark.functions import extract as X

    j = F.from_json(F.col("value"), JSONLOG_SCHEMA)
    sev = F.lower(j["error_severity"])
    msg = j["message"]
    # parsed beside the line ids: a filter on a parsed column (the
    # pipeline's day filter) then stays above this nondeterministic
    # projection and reads its columns instead of parsing the line again
    lines = spark.read.text(path).select(
        F.input_file_name().alias("url"),
        F.input_file_block_start().alias("split"),
        F.monotonically_increasing_id().alias("id"),
        F.lit(None).cast("timestamp").alias("warc_ts"),
        F.lit(None).cast("string").alias("lang"),
        F.col("value").alias("raw"),
        F.lit("json").alias("format"),
        sev.alias("severity"),
        X.severity_num(sev).alias("severity_num"),
        X.event_ts(j["timestamp"]).alias("event_ts"),
        msg.alias("message"),
        j["state_code"].alias("sqlstate"),
        X.duration_ms(msg).alias("duration_ms"),
        j["remote_host"].alias("host"),
        j["user"].alias("user"),
        j["dbname"].alias("db"),
        j["application_name"].alias("appname"),
    )
    # per split: the lines of the file's earlier splits minus the split's
    # first id; a split's ids are consecutive, as its lines are one run of
    # its task's rows
    earlier = Window.partitionBy("url").orderBy("split")
    splits = (
        lines.groupBy("url", "split")
        .agg(F.count("*").alias("n"), F.min("id").alias("first"))
        .select(
            "url",
            "split",
            (F.sum("n").over(earlier) - F.col("n") - F.col("first")).alias("shift"),
        )
    )
    record_no = (F.col("id") + F.col("shift")).alias("record_no")
    # left: every split of ``lines`` is in ``splits``, and a left join
    # whose right columns go unused is pruned
    return (
        lines.where(F.length("raw") > 0)
        .join(F.broadcast(splits), ["url", "split"], "left")
        .select("url", "warc_ts", "lang", record_no, *lines.columns[5:])
    )
