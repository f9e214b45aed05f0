"""Structured Streaming variant of the pipeline.

The reference is strictly batch (scan-once, SURVEY.md §2.7); this module is
the incremental path for a continuously-crawled webtext table: new parquet
files under the input dir are discovered by the file-stream source, run
through the identical parse → extract → route plan, and appended to the
routed sink with exactly-once file-sink semantics. ``availableNow`` gives
catch-up-then-stop batch-incremental runs (the streaming analog of the
manifest resume); a watermark on warc_ts bounds state for the windowed
error-rate aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgweasel_spark.gen import ARROW_SCHEMA  # noqa: F401  (schema parity)
from pgweasel_spark.operators import route
from pgweasel_spark.operators.parse import parse_events

WEBTEXT_DDL = (
    "url string, warc_ts timestamp, html binary, text string, lang string"
)


def read_webtext_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(WEBTEXT_DDL)
        .option("maxFilesPerTrigger", 8)
        .parquet(input_dir)
    )


def routed_stream(pages: DataFrame) -> DataFrame:
    """Same single-pass route/explode plan as the batch pipeline — the
    parse and route operators are streaming-safe (stateless map side)."""
    events = route.sink_flags(parse_events(pages))
    return route.with_partition_cols(route.explode_sinks(events))


def read_jsonlog_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """Streaming S8: tail a growing PostgreSQL jsonlog directory (the
    continuously-written log_destination=jsonlog shape). The file
    stream source discovers new .json/.gz files; the shared
    ``jsonlog_events`` projection keeps everything in whole-stage
    codegen, so the stream emits the identical parsed-event schema the
    batch reader produces (record_no is null — the monotonic surrogate
    is unsupported on streaming frames and nothing orders by it)."""
    from pgweasel_spark.sources.webtext import jsonlog_events

    lines = (
        spark.readStream.option("maxFilesPerTrigger", 8)
        .text(input_dir)
        .select(
            F.col("value").alias("raw"),
            F.input_file_name().alias("url"),
        )
    )
    return jsonlog_events(lines, F.lit(None).cast("long"))


def routed_jsonlog_stream(events: DataFrame) -> DataFrame:
    """Route an (already parsed) jsonlog event stream with the same
    sink-flag/explode plan as the batch jsonlog pipeline; the partition
    timestamp is the event's own (jsonlog carries no crawl time), with
    the same 1970-01-01 sentinel day for quarantined lines."""
    ev = events.withColumn(
        "warc_ts",
        F.coalesce(
            F.col("event_ts"), F.lit("1970-01-01").cast("timestamp")
        ),
    )
    return route.with_partition_cols(
        route.explode_sinks(route.sink_flags(ev))
    )


def error_rate_stream(pages: DataFrame, window: str = "10 minutes") -> DataFrame:
    """Windowed error-rate aggregation with late-data handling: tumbling
    event-time windows on the parsed log timestamp, 1-hour watermark."""
    events = parse_events(pages)
    return (
        events.where(F.col("event_ts").isNotNull())
        .withWatermark("event_ts", "1 hour")
        .groupBy(F.window("event_ts", window).alias("w"), "severity")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select("w.start", "w.end", "severity", "cnt")
    )


#: the sinks the streaming metrics observe per batch (route.SINKS +
#: quarantine, the same fan-out explode_sinks emits)
_METRIC_SINKS = (*route.SINKS, "quarantine")


class _BatchMetricsListener:
    """StreamingQueryListener writing one JSONL row per micro-batch:
    batch id, source input rows, and the observed per-sink routed
    counts — the streaming twin of the batch manifest's per-day
    lineage (plans/manifest.py). Counts come from an ``observe`` on
    the routed frame, so they are collected DURING the write (no
    second pass), exactly like the batch Observation."""

    def __new__(cls, path: str):
        from pyspark.sql.streaming import listener as L

        class _Impl(L.StreamingQueryListener):
            def __init__(self, p):
                super().__init__()
                self._path = p

            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                import json as _json

                p = event.progress
                obs = (p.observedMetrics or {}).get("routed")
                row = {
                    "batch_id": p.batchId,
                    "input_rows": p.numInputRows,
                    "sink_counts": (
                        {s: obs[f"n_{s}"] for s in _METRIC_SINKS}
                        if obs is not None
                        else None
                    ),
                    "ts": p.timestamp,
                }
                with open(self._path, "a") as fh:
                    fh.write(_json.dumps(row) + "\n")

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Impl(path)


def observed_routed(routed: DataFrame) -> DataFrame:
    """Attach the per-sink count observation consumed by
    :class:`_BatchMetricsListener` (one conditional count per sink,
    evaluated inside the write job)."""
    return routed.observe(
        "routed",
        *[
            F.count(F.when(F.col("sink") == s, 1)).alias(f"n_{s}")
            for s in _METRIC_SINKS
        ],
    )


def run_available_now(
    spark: SparkSession,
    input_dir: str,
    out_root: str,
    with_metrics: bool = False,
) -> None:
    """Catch-up-then-stop incremental run: processes all files not yet in
    the checkpoint, appends to the routed sink, exits.

    ``with_metrics=True`` records per-batch lineage to
    ``<out_root>/stream_metrics.jsonl`` (batch id, input rows, per-sink
    routed counts via an in-write observation) — the streaming
    counterpart of the batch manifest, so a streamed corpus has the
    same row-count audit trail as a day-batched one."""
    pages = read_webtext_stream(spark, input_dir)
    routed = routed_stream(pages)
    listener = None
    if with_metrics:
        routed = observed_routed(routed)
        listener = _BatchMetricsListener(
            f"{out_root}/stream_metrics.jsonl"
        )
        spark.streams.addListener(listener)
    try:
        q = (
            routed.writeStream.format("parquet")
            .option("path", f"{out_root}/routed_stream")
            .option("checkpointLocation", f"{out_root}/_checkpoint")
            .partitionBy("sink", "warc_day")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if listener is not None:
            # progress events are delivered asynchronously; give the
            # bus a moment to drain before detaching
            import time as _time

            _time.sleep(1.0)
            spark.streams.removeListener(listener)


ALERT_SCHEMA = "host string, batch_errors bigint, total_errors bigint, alert boolean"
ALERT_STATE_SCHEMA = "total bigint"


def error_burst_alerts(pages: DataFrame, threshold: int = 5) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per url
    host, keep a running error count across micro-batches and flag hosts
    whose cumulative errors cross ``threshold``.

    The reference has no streaming at all (batch scan-once); this is the
    canonical "custom stateful operator" shape for the incremental
    pipeline — state is a single counter per key, bounded by the host
    cardinality, and survives restarts through the stream checkpoint."""
    import pandas as pd  # noqa: F401 (worker-side)
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        total = state.get[0] if state.exists else 0
        batch = 0
        for pdf in pdfs:
            batch += len(pdf)
        total += batch
        state.update((total,))
        import pandas as pd

        yield pd.DataFrame(
            {
                "host": [key[0]],
                "batch_errors": [batch],
                "total_errors": [total],
                "alert": [total >= threshold],
            }
        )

    events = parse_events(pages)
    errors = events.where(
        F.col("severity_num") >= route.MIN_SEV_ERRORS
    ).select(
        F.coalesce(
            F.parse_url(F.col("url"), F.lit("HOST")), F.lit("unknown")
        ).alias("host"),
        "record_no",
    )
    return errors.groupBy("host").applyInPandasWithState(
        update,
        outputStructType=ALERT_SCHEMA,
        stateStructType=ALERT_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


DEDUP_SCHEMA = (
    "doc_id bigint, content_hash string, is_duplicate boolean, "
    "keeper bigint"
)
DEDUP_STATE_SCHEMA = "keeper bigint"

NEARDUP_SCHEMA = "doc_id bigint, match_id bigint, hamming int"
NEARDUP_STATE_SCHEMA = "ids array<bigint>, shs array<bigint>"


def streaming_simhash_near_dups(
    docs: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    max_hamming: int = 3,
    n_bands: int = 4,
    per_bucket_cap: int = 256,
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming SimHash near-dup detection — the incremental
    counterpart of ``dedup.simhash_near_dups``: each arriving doc is
    checked against previously-seen docs and emitted as
    ``(doc_id, match_id, hamming)`` for every near-match, ACROSS
    micro-batches ("has a near-copy of this page been crawled
    before?").

    Shape mirrors the batch operator exactly: the 60-bit signature is
    computed by the vectorized simhash60 kernel (the map stage, one
    Arrow batch at a time, memory O(words in one batch)), each doc explodes
    into ``n_bands`` (band, bval) keys, and state lives per band
    BUCKET via ``applyInPandasWithState`` — a pair is compared only if
    it shares a band (pigeonhole: total recall for
    ``max_hamming < n_bands``), never all-pairs. Within a bucket the
    state is the recent (id, signature) list, explicitly BOUNDED two
    ways: ``per_bucket_cap`` FIFO-evicts the oldest entries (16
    bytes/doc/band; total state ≤ buckets × cap), and
    ``state_ttl_ms`` drops idle buckets wholesale
    (ProcessingTimeTimeout, same trigger(once) interaction as
    streaming_exact_dedup). Eviction trades recall against ancient
    documents for a hard state bound — the standard streaming
    near-dup horizon trade.

    A pair sharing multiple bands emits once per shared band
    (candidate-multiset semantics); run ``.dropDuplicates()`` on the
    output sink if exact-once pairs matter downstream. Docs arriving
    in the SAME micro-batch are compared in ascending ``key_col``
    order, so in-batch pairs emit deterministically (larger id
    reports the match)."""
    import pandas as pd  # noqa: F401 (worker-side)
    from pyspark.sql.streaming.state import GroupStateTimeout

    from pgweasel_spark.operators.dedup import SIMHASH_BITS, simhash60

    band_bits = SIMHASH_BITS // n_bands
    mask = (1 << band_bits) - 1

    def update(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            state.remove()
            return
        if state.exists:
            ids, shs = list(state.get[0]), list(state.get[1])
        else:
            ids, shs = [], []
        rows = []
        for pdf in pdfs:
            rows.extend(
                (int(d), int(s)) for d, s in zip(pdf[key_col], pdf["sh"])
            )
        rows.sort()
        out_doc, out_match, out_ham = [], [], []
        for did, sh in rows:
            for mid, msh in zip(ids, shs):
                h = bin(sh ^ msh).count("1")
                if h <= max_hamming:
                    out_doc.append(did)
                    out_match.append(mid)
                    out_ham.append(h)
            ids.append(did)
            shs.append(sh)
            if len(ids) > per_bucket_cap:
                del ids[: len(ids) - per_bucket_cap]
                del shs[: len(shs) - per_bucket_cap]
        state.update((ids, shs))
        if state_ttl_ms is not None:
            state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame(
            {
                "doc_id": pd.array(out_doc, dtype="int64"),
                "match_id": pd.array(out_match, dtype="int64"),
                "hamming": pd.array(out_ham, dtype="int32"),
            }
        )

    sigs = docs.select(F.col(key_col), simhash60(text_col).alias("sh"))
    banded = sigs.select(
        key_col,
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.expr(
                            f"(sh >> {band_bits * b}) & {mask}"
                        ).alias("bval"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bb"),
    ).select(key_col, "sh", "bb.band", "bb.bval")
    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return banded.groupBy("band", "bval").applyInPandasWithState(
        update,
        outputStructType=NEARDUP_SCHEMA,
        stateStructType=NEARDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout_conf,
    )


def streaming_exact_dedup(
    docs: DataFrame,
    text_col: str = "text",
    key_col: str = "doc_id",
    state_ttl_ms: int | None = None,
) -> DataFrame:
    """Streaming exact dedup — the incremental counterpart of
    ``dedup.exact_dedup`` for a continuously-arriving corpus: every doc
    is emitted with ``is_duplicate`` and the id of the first-seen doc
    with the same content hash (``keeper``), ACROSS micro-batches.

    State is one 8-byte keeper id per distinct content hash, keyed by
    the (uniform) md5 — the same partitioning the batch operator
    shuffles on, so no skew. On a long-running 10^12-doc stream the
    state store (RocksDB on a real cluster) holds one entry per unique
    document; an infinite-horizon crawl therefore grows state without
    bound. ``state_ttl_ms`` is the finite-horizon configuration a
    production crawl runs: each content hash's keeper entry is dropped
    after that much processing time without a re-occurrence
    (ProcessingTimeTimeout; the TTL clock is re-armed every batch the
    hash appears in, so live boilerplate stays deduped while one-off
    content ages out). A hash re-seen after expiry is treated as
    first-seen — the standard sliding-horizon dedup trade. Within one
    micro-batch the min ``key_col`` wins, matching the batch operator's
    keeper choice.

    Trigger interaction (measured on Spark 4.1 local mode): with armed
    processing-time timeouts, ``trigger(availableNow=True)`` keeps
    scheduling micro-batches after the data is exhausted (pending
    timeouts count as outstanding work) and the query never terminates.
    Batch-incremental runs of the TTL configuration must use
    ``trigger(once=True)`` — one batch per invocation, expiry processed
    at the start of the next run — or a continuous trigger on a
    long-lived stream."""
    import pandas as pd  # noqa: F401 (worker-side)
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        import pandas as pd

        if state.hasTimedOut:
            # TTL expiry callback: no new rows for this hash this batch
            # — drop the keeper entry and emit nothing
            state.remove()
            return
        ids = []
        for pdf in pdfs:
            ids.extend(int(v) for v in pdf[key_col])
        ids.sort()
        if state.exists:
            keeper = int(state.get[0])
        else:
            keeper = ids[0]
            state.update((keeper,))
        if state_ttl_ms is not None:
            # timeouts must be re-registered every batch the key fires
            state.setTimeoutDuration(state_ttl_ms)
        yield pd.DataFrame(
            {
                "doc_id": ids,
                "content_hash": [key[0]] * len(ids),
                "is_duplicate": [i != keeper for i in ids],
                "keeper": [keeper] * len(ids),
            }
        )

    hashed = docs.select(
        F.col(key_col), F.md5(F.col(text_col)).alias("content_hash")
    )
    timeout_conf = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_ttl_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return hashed.groupBy("content_hash").applyInPandasWithState(
        update,
        outputStructType=DEDUP_SCHEMA,
        stateStructType=DEDUP_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=timeout_conf,
    )
