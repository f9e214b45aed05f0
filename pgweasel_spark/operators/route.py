"""Sink router: parsed events → per-sink routed rows.

Mirrors the reference's four analysis families (SURVEY.md §2.8) as routing
predicates. Each pgweasel subcommand is a separate CLI run with its own
min-severity gate and custom filter (src/main.rs:82-163); here all sinks are
evaluated in ONE pass — a record fans out to every sink whose predicate it
satisfies, so per-sink routed rows equal what the corresponding reference
run would print.

Gate order replicates filter_record (src/output_results/mod.rs:151-205):
mask → severity → timestamp parse (+ range) → custom filter. Records whose
timestamp fails to parse abort the whole reference run; we route them to a
``quarantine`` sink instead (SURVEY.md §4) and assert in tests that the
fixture corpus produces none.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pgweasel_spark import grammar
from pgweasel_spark.functions import extract as X
from pgweasel_spark.session import per_session

#: default thresholds from the reference CLI
DEFAULT_SLOW_THRESHOLD_MS = 3000.0  # `slow` default 3s (src/main.rs:157)
MIN_SEV_ERRORS = 8  # errors default Error (src/main.rs:87)
MIN_SEV_LOG = 5  # locks/system/conn/slow use Log (src/main.rs:136-163)

SINKS = ["errors", "slow", "locks", "system", "stats"]


def _flag_cols(slow_threshold_ms: float) -> list[dict[str, Column]]:
    """The two projections of ``sink_flags``: the folded record, then the
    flags that read it."""
    ok_ts = F.col("event_ts").isNotNull()
    sev_num = F.col("severity_num")
    log_plus = ok_ts & (sev_num >= MIN_SEV_LOG)
    # null message (no ': ' in record) must read as false, not null
    msg = F.coalesce(F.col("message"), F.lit(""))
    conn_relevant = (
        msg.startswith(grammar.CONN_RECEIVED_PREFIX)
        | msg.startswith(grammar.CONN_AUTHORIZED_PREFIX)
        | X.is_conn_failure(F.col("raw"), F.col("severity"))
    )
    raw, raw_ci = F.col("raw"), F.col("_raw_ci")
    return [
        {"_raw_ci": X.ascii_folded(raw)},
        {
            "is_quarantined": ~ok_ts,
            "sink_errors": ok_ts & (sev_num >= MIN_SEV_ERRORS),
            "sink_slow": log_plus
            & (F.col("duration_ms") > F.lit(slow_threshold_ms)),
            "sink_locks": log_plus & X.is_lock(raw, raw_ci),
            "sink_system": log_plus & X.is_system(raw, raw_ci),
            "sink_stats": log_plus
            & (conn_relevant | F.col("duration_ms").isNotNull()),
        },
    ]


def sink_flags(
    df: DataFrame, slow_threshold_ms: float = DEFAULT_SLOW_THRESHOLD_MS
) -> DataFrame:
    """Append one boolean per sink family. Requires parse.with_extracted
    columns.

    ``stats`` admits only the rows its downstream aggregates actually
    consume: connection-vocabulary records (received/authorized prefixes,
    FATAL failure needles — connections.rs:38-98) and duration-bearing
    records (slow_top ranks every extracted duration). The reference's
    `connections` run *feeds* every Log+ record to the aggregator, but
    non-matching rows contribute nothing — routing them through the sink
    was pure write amplification (round-1: routed rows 1.46x parsed
    events; a corpus-sized cache in write_stats at 100 TB). Aggregate
    outputs are bit-identical (golden tests below assert so).

    ASCII-folds the record ONCE as a let-binding attribute and runs the
    lock/system literal sets as contains chains against it — r6
    re-measured the chains 3x faster than the compiled regex
    alternations on the pipeline spine (see X.is_lock); the fold column
    is internal and dropped. The columns are built once per session and
    threshold."""
    for cols in per_session(
        df.sparkSession,
        ("route.sink_flags", slow_threshold_ms),
        lambda: _flag_cols(slow_threshold_ms),
    ):
        df = df.withColumns(cols)
    return df.drop("_raw_ci")


def mask_filter(df: DataFrame, mask: str | None) -> DataFrame:
    """FilterContains: substring match anywhere in the record
    (src/filters/filter_contains.rs:14-18). Evaluated before everything
    else, like the reference (output_results/mod.rs:50-53,157-161)."""
    if not mask:
        return df
    return df.where(F.col("raw").contains(F.lit(mask)))


def time_range_filter(df: DataFrame, begin=None, end=None) -> DataFrame:
    """Inclusive begin/end bounds (src/output_results/mod.rs:180-185).
    With day-partitioned sinks this prunes partitions at the scan."""
    out = df
    if begin is not None:
        out = out.where(F.col("event_ts") >= F.lit(begin))
    if end is not None:
        out = out.where(F.col("event_ts") <= F.lit(end))
    return out


def explode_sinks(flagged: DataFrame) -> DataFrame:
    """Fan out each record to (sink, record) rows in a single pass —
    one write job instead of one per sink (halves IO at 10^12 rows).
    Quarantined records get sink='quarantine'."""

    def build() -> Column:
        return F.explode(
            F.array_compact(
                F.array(
                    *[F.when(F.col(f"sink_{s}"), F.lit(s)) for s in SINKS],
                    F.when(F.col("is_quarantined"), F.lit("quarantine")),
                )
            )
        )

    sink = per_session(flagged.sparkSession, "route.explode_sinks", build)
    return flagged.withColumn("sink", sink).drop(
        "is_quarantined", *[f"sink_{s}" for s in SINKS]
    )


def host_bucket(col: Column, n_buckets: int = 16) -> Column:
    """Stable hash bucket of the url host — the Iceberg ``bucket(N,
    url_host)`` partition transform expressed for the parquet fallback."""
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def with_partition_cols(df: DataFrame, n_buckets: int = 16) -> DataFrame:
    """warc_day + host_bucket partition spec (north-rule: url-host hash +
    warc_ts day buckets), built once per session."""
    has_host = "url_host" in df.columns

    def build() -> dict[str, Column]:
        host = F.coalesce(
            F.col("url_host")
            if has_host
            else F.parse_url(F.col("url"), F.lit("HOST")),
            F.lit("unknown"),
        )
        return {
            "warc_day": F.to_date(F.col("warc_ts")),
            "host_bucket": host_bucket(host, n_buckets),
        }

    return df.withColumns(
        per_session(
            df.sparkSession,
            ("route.with_partition_cols", n_buckets, has_host),
            build,
        )
    )
