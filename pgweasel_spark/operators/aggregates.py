"""Aggregate companion tables (SURVEY.md §2.5).

Each function maps one reference aggregator to declarative DataFrame ops so
Catalyst plans partial/final HashAggregate (the reference's clone-per-thread
→ update → merge protocol, src/output_results/mod.rs:84-132, for free) or
TakeOrderedAndProject (the reference's bounded heap).

Divergences (documented in SURVEY.md §4):
- errors_top is EXACT top-N; the reference evicts min-count keys at each
  partial merge (lossy, src/aggregators/error_frequency.rs:54-64). Its own
  tests only assert top entries, so exact top-N is compatible.
- counters are longs, not the reference's overflowing u16
  (src/aggregators/connections.rs:9-17).
- output order is always deterministic (count desc, key asc); the
  reference's by-dim prints iterate a HashMap (nondeterministic).

Ordering: the reports are tiny, so errors_hist, connections_buckets and
connections_by_dim end as ONE partition sorted in place
(``coalesce(1).sortWithinPartitions``). That is the row order a global
``orderBy`` gives, without its range-sampling job and sort exchange, and
each report is still written as one file. errors_top and slow_top keep
their top-N plans.

The Column expressions below depend only on grammar constants and the
bucket width, so each is built once per session (``session.per_session``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pgweasel_spark import grammar
from pgweasel_spark.session import per_session


def errors_top(df: DataFrame, max_n: int = 20) -> DataFrame:
    """`errors top --max N` (src/aggregators/error_frequency.rs:23-86):
    count per extracted message, top N by count. Caller pre-filters to the
    errors sink (severity >= Error by default, src/main.rs:87)."""
    return (
        df.groupBy("message")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("message"))
        .limit(max_n)
    )


def _bucket_counts(df: DataFrame, bucket_s: int) -> DataFrame:
    """Rows per epoch-floor bucket floor(epoch/width)*width, in one
    partition ordered by bucket."""

    def build() -> tuple[Column, Column]:
        epoch = F.floor(F.unix_timestamp(F.col("event_ts")) / bucket_s) * bucket_s
        return epoch.alias("bucket_epoch"), F.timestamp_seconds(
            F.col("bucket_epoch")
        )

    epoch, ts = per_session(
        df.sparkSession, ("aggregates.bucket", bucket_s), build
    )
    return (
        df.groupBy(epoch)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("bucket_ts", ts)
        .coalesce(1)
        .sortWithinPartitions("bucket_epoch")
    )


def errors_hist(df: DataFrame, bucket_s: int = 3600) -> DataFrame:
    """`errors hist -b I` (src/aggregators/error_histogram.rs:21-56):
    count per epoch-aligned bucket floor(epoch/width)*width. Default 1h
    (src/main.rs:108)."""
    return _bucket_counts(df, bucket_s)


def slow_top(df: DataFrame, limit: int = 10) -> DataFrame:
    """`slow top` (src/aggregators/top_slow_query.rs:25-87): top-K records
    by extracted duration. orderBy(desc).limit(k) plans
    TakeOrderedAndProject — a distributed bounded heap, semantically
    identical to the reference's per-thread heaps + capped merge."""
    return (
        df.where(F.col("duration_ms").isNotNull())
        .orderBy(F.desc("duration_ms"), F.asc("url"), F.asc("record_no"))
        .limit(limit)
        .select("duration_ms", "url", "record_no", "event_ts", "raw")
    )


# --- connections (src/aggregators/connections.rs:38-143) --------------------


def _conn_flag_cols() -> dict[str, Column]:
    """Row classification exactly per ConnectionsAggregator.update():
    failure (FATAL + needle) short-circuits; everything else requires
    severity == Log; received/authorized classified by message prefix."""
    msg = F.col("message")
    is_failure = (F.col("severity") == "fatal") & (
        F.col("raw").contains(grammar.CONN_FAILURE_NEEDLES[0])
        | F.col("raw").contains(grammar.CONN_FAILURE_NEEDLES[1])
    )
    is_log = F.col("severity") == "log"
    received = (
        ~is_failure & is_log & msg.startswith(grammar.CONN_RECEIVED_PREFIX)
    )
    authorized = (
        ~is_failure & is_log & msg.startswith(grammar.CONN_AUTHORIZED_PREFIX)
    )
    return {
        "c_failure": is_failure,
        "c_received": received,
        "c_authorized": authorized,
        "c_ssl": authorized & msg.contains(grammar.CONN_SSL_NEEDLE),
    }


def _conn_flags(df: DataFrame) -> DataFrame:
    """``df`` plus the four connection flags, built once per session."""
    return df.withColumns(
        per_session(df.sparkSession, "aggregates.conn_flags", _conn_flag_cols)
    )


def connections_totals(df: DataFrame) -> DataFrame:
    """Single-row totals: attempts / authenticated / ssl / failures."""
    totals = per_session(
        df.sparkSession,
        "aggregates.conn_totals",
        lambda: [
            F.sum(F.col("c_received").cast("long")).alias("connection_attempts"),
            F.sum(F.col("c_authorized").cast("long")).alias("authenticated"),
            F.sum(F.col("c_ssl").cast("long")).alias("authenticated_ssl"),
            F.sum(F.col("c_failure").cast("long")).alias("failures"),
        ],
    )
    return _conn_flags(df).agg(*totals)


def connections_by_dim(df: DataFrame) -> DataFrame:
    """The four by-dim count maps — host (of received), user/db/appname
    (of authorized), missing kv → 'unknown' (connections.rs:63,86,92,98)
    — in ONE pass: each row explodes to the (dim, value) pairs it
    contributes to (0, 1 or 3 structs), then a single salted two-phase
    count. The round-1 shape unioned four scans of the flagged frame;
    this reads it once and shuffles once. Hosts are the skewed dimension
    (a few carry ~80% of events at web scale) — the salt bounds any
    reducer's share of a hot key to ~1/n_salts."""
    f = _conn_flags(df)

    def build() -> Column:
        def pair(dim_name: str, col: str) -> Column:
            return F.struct(
                F.lit(dim_name).alias("dim"),
                F.coalesce(F.col(col), F.lit("unknown")).alias("value"),
            )

        return F.explode(
            F.array_compact(
                F.array(
                    F.when(F.col("c_received"), pair("host", "host")),
                    F.when(F.col("c_authorized"), pair("user", "user")),
                    F.when(F.col("c_authorized"), pair("database", "db")),
                    F.when(F.col("c_authorized"), pair("appname", "appname")),
                )
            )
        ).alias("dv")

    pairs = per_session(df.sparkSession, "aggregates.by_dim_pairs", build)
    ids = [c for c in ("url", "record_no") if c in f.columns]
    keyed = f.select(*ids, pairs).select(*ids, "dv.dim", "dv.value")
    return (
        salted_count_by(keyed, ["dim", "value"])
        .coalesce(1)
        .sortWithinPartitions("dim", F.desc("cnt"), "value")
    )


def connections_buckets(df: DataFrame, bucket_s: int = 600) -> DataFrame:
    """connection-received count per 10-min epoch-floor bucket
    (connections.rs:66-75, round_floor :222-227)."""
    return _bucket_counts(_conn_flags(df).where(F.col("c_received")), bucket_s)


def salted_count_by(
    df: DataFrame,
    key_cols: list[str],
    n_salts: int = 16,
    count_alias: str = "cnt",
) -> DataFrame:
    """Two-phase skew-salted count: groupBy(keys + salt) partial counts,
    then groupBy(keys) sum of partials (north-rule: "salting for skewed
    hosts").

    When this matters: a plain count already map-side-combines (partial
    HashAggregate), so salting a *count* only helps when the FINAL
    aggregation's shuffle partition for one hot key exceeds an executor
    (10^12 rows, one host with billions of events → the partials
    themselves number in the millions per key). The salt bounds any
    single reducer's share of a hot key to ~1/n_salts; the second
    exchange moves only (keys x salts) rows. Also the template for
    state-heavy aggs (collect/distinct) where partial aggregation cannot
    collapse the hot key map-side.

    The salt is a deterministic hash of the whole row's natural
    identifiers if present (url, record_no); the fallback mixes in
    spark_partition_id() so rows that are byte-identical across all
    columns (where a pure column hash would be functionally dependent on
    the key, leaving the hot key on one reducer) still spread across
    partitions. partition_id is stable under task retry (a rerun re-reads
    the same partition), so the salt stays deterministic per attempt;
    monotonically_increasing_id is avoided (retry-nondeterministic).
    """
    if {"url", "record_no"} <= set(df.columns):
        salt = F.pmod(F.xxhash64("url", "record_no"), F.lit(n_salts))
    else:
        salt = F.pmod(
            F.xxhash64(F.spark_partition_id(), *df.columns), F.lit(n_salts)
        )
    partial = (
        df.withColumn("_salt", salt)
        .groupBy(*key_cols, "_salt")
        .agg(F.count(F.lit(1)).alias("_partial"))
    )
    return partial.groupBy(*key_cols).agg(
        F.sum("_partial").alias(count_alias)
    )


def value_percentiles(
    df: DataFrame,
    value_col: str,
    group_cols: list[str],
    ps: tuple[float, ...] = (0.5, 0.95, 0.99),
    exact: bool = True,
) -> DataFrame:
    """Per-group percentiles of a numeric column — the p95/p99 latency
    report every slow-query analysis ends with (A3 gives the top-N tail;
    this gives the distribution).

    ``exact=True`` uses Spark's exact ``percentile`` (linear
    interpolation at rank p·(n-1) — the same definition as ANSI
    PERCENTILE_CONT / DuckDB quantile_cont, so the result is
    value-checkable cross-engine). Exact percentile buffers each group's
    values on the reducer: fine for bounded per-group cardinality. At
    10^12 rows per group use ``exact=False`` → ``approx_percentile``
    (t-digest, bounded memory, mergeable partial aggregation) — the
    scale path, deliberately NOT the oracle path because the sketch is
    engine-specific."""
    fn = "percentile" if exact else "approx_percentile"
    arr = ", ".join(f"{p}D" for p in ps)
    pexp = F.expr(f"{fn}({value_col}, array({arr}))")
    cols = [
        F.round(pexp.getItem(i), 6).alias(f"p{int(p * 100)}")
        for i, p in enumerate(ps)
    ]
    return (
        df.groupBy(*group_cols)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            *cols,
        )
        .orderBy(*group_cols)
    )


def bucket_peaks(
    buckets: DataFrame,
    cnt_col: str = "cnt",
    z_threshold: float = 2.0,
) -> DataFrame:
    """Peak detection over a bucketed count frame (the real
    implementation behind the reference's declared-but-stub ``peaks``
    subcommand, main.rs:147-149): flag buckets whose count exceeds
    mean + z·stddev, annotated with the z-score.

    Scale shape: the corpus-wide mean/stddev is a TWO-ROW aggregate
    broadcast back over the buckets — not a single-partition window (an
    ``over ()`` window would funnel every bucket through one task; the
    broadcast join keeps the pass embarrassingly parallel no matter how
    many buckets a year of logs produces). The bucket frame feeds BOTH
    the stats aggregate and the join; it is materialized first
    (localCheckpoint — buckets are tiny) so the upstream scan+aggregate
    runs once (AQE defeats plain exchange reuse, the d5b lesson)."""
    buckets = buckets.localCheckpoint()
    stats = buckets.agg(
        F.avg(cnt_col).alias("_mu"),
        F.stddev(cnt_col).alias("_sigma"),
    )
    return (
        buckets.crossJoin(F.broadcast(stats))
        .where(
            F.col(cnt_col)
            > F.col("_mu") + F.lit(z_threshold) * F.col("_sigma")
        )
        .select(
            *buckets.columns,
            F.round(
                (F.col(cnt_col) - F.col("_mu")) / F.col("_sigma"), 6
            ).alias("z"),
        )
    )
