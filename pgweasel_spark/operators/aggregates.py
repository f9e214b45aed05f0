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

Incremental reports: ``report_partials`` computes every report's exact
per-day state in one plan (counts keyed by day, report and key, and each
day's top-K slow rows). The pipeline stores one state per warc_day
(``plans/pipeline.write_stats``), so a daily call reads only its own
day, and ``merge_reports`` turns the states into the six reports on the
driver with pyarrow. Each report is defined once here: its cut
(``ERRORS_TOP_N``, ``SLOW_TOP_K``) and row order (``ORDERS``) are read by
both its builder and the merge, and its schema is its builder's
(``report_schemas``). The builders stay the definition the merged
reports are tested against.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from pgweasel_spark import grammar
from pgweasel_spark.session import per_session

#: default cuts of errors_top and slow_top
ERRORS_TOP_N = 20
SLOW_TOP_K = 10

#: each report's row order as (column, "ascending" | "descending"). Spark
#: puts nulls first in ascending order, and so does ``merge_reports``;
#: no descending key here (a count or a duration) is ever null.
ORDERS = {
    "errors_top": [("cnt", "descending"), ("message", "ascending")],
    "errors_hist": [("bucket_epoch", "ascending")],
    "slow_top": [
        ("duration_ms", "descending"),
        ("url", "ascending"),
        ("record_no", "ascending"),
    ],
    "connections_by_dim": [
        ("dim", "ascending"),
        ("cnt", "descending"),
        ("value", "ascending"),
    ],
    "connections_buckets": [("bucket_epoch", "ascending")],
}


def _order(spark: SparkSession, report: str) -> list[Column]:
    """``ORDERS[report]`` as Spark sort columns, built once per session."""
    return per_session(
        spark,
        ("aggregates.order", report),
        lambda: [
            F.desc(c) if d == "descending" else F.asc(c) for c, d in ORDERS[report]
        ],
    )


def errors_top(df: DataFrame, max_n: int = ERRORS_TOP_N) -> DataFrame:
    """`errors top --max N` (src/aggregators/error_frequency.rs:23-86):
    count per extracted message, top N by count. Caller pre-filters to the
    errors sink (severity >= Error by default, src/main.rs:87)."""
    return (
        df.groupBy("message")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(*_order(df.sparkSession, "errors_top"))
        .limit(max_n)
    )


#: default bucket widths of errors_hist and connections_buckets
ERRORS_HIST_BUCKET_S = 3600
CONN_BUCKET_S = 600


def _bucket_floor(spark: SparkSession, bucket_s: int) -> Column:
    """floor(epoch/width)*width of ``event_ts``, built once per session."""
    return per_session(
        spark,
        ("aggregates.bucket_floor", bucket_s),
        lambda: F.floor(F.unix_timestamp(F.col("event_ts")) / bucket_s) * bucket_s,
    )


def _bucket_counts(df: DataFrame, bucket_s: int, report: str) -> DataFrame:
    """Rows per epoch-floor bucket floor(epoch/width)*width, in one
    partition in ``report``'s order (by bucket)."""
    spark = df.sparkSession
    epoch, ts = per_session(
        spark,
        ("aggregates.bucket", bucket_s),
        lambda: (
            _bucket_floor(spark, bucket_s).alias("bucket_epoch"),
            F.timestamp_seconds(F.col("bucket_epoch")),
        ),
    )
    return (
        df.groupBy(epoch)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn("bucket_ts", ts)
        .coalesce(1)
        .sortWithinPartitions(*_order(spark, report))
    )


def errors_hist(df: DataFrame, bucket_s: int = ERRORS_HIST_BUCKET_S) -> DataFrame:
    """`errors hist -b I` (src/aggregators/error_histogram.rs:21-56):
    count per epoch-aligned bucket floor(epoch/width)*width. Default 1h
    (src/main.rs:108)."""
    return _bucket_counts(df, bucket_s, "errors_hist")


#: slow_top's columns
SLOW_COLS = ["duration_ms", "url", "record_no", "event_ts", "raw"]


def slow_top(df: DataFrame, limit: int = SLOW_TOP_K) -> DataFrame:
    """`slow top` (src/aggregators/top_slow_query.rs:25-87): top-K records
    by extracted duration. orderBy(desc).limit(k) plans
    TakeOrderedAndProject — a distributed bounded heap, semantically
    identical to the reference's per-thread heaps + capped merge."""
    return (
        df.where(F.col("duration_ms").isNotNull())
        .orderBy(*_order(df.sparkSession, "slow_top"))
        .limit(limit)
        .select(*SLOW_COLS)
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


#: connections_totals' columns and the flag each one sums
CONN_TOTALS = {
    "connection_attempts": "c_received",
    "authenticated": "c_authorized",
    "authenticated_ssl": "c_ssl",
    "failures": "c_failure",
}
#: connections_by_dim's dims: (dim, kv column, flag of the rows it counts)
CONN_DIMS = [
    ("host", "host", "c_received"),
    ("user", "user", "c_authorized"),
    ("database", "db", "c_authorized"),
    ("appname", "appname", "c_authorized"),
]


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
            F.sum(F.col(flag).cast("long")).alias(name)
            for name, flag in CONN_TOTALS.items()
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
        return F.explode(
            F.array_compact(
                F.array(
                    *[
                        F.when(
                            F.col(flag),
                            F.struct(
                                F.lit(dim).alias("dim"),
                                F.coalesce(F.col(col), F.lit("unknown")).alias("value"),
                            ),
                        )
                        for dim, col, flag in CONN_DIMS
                    ]
                )
            )
        ).alias("dv")

    pairs = per_session(df.sparkSession, "aggregates.by_dim_pairs", build)
    ids = [c for c in ("url", "record_no") if c in f.columns]
    keyed = f.select(*ids, pairs).select(*ids, "dv.dim", "dv.value")
    return (
        salted_count_by(keyed, ["dim", "value"])
        .coalesce(1)
        .sortWithinPartitions(*_order(df.sparkSession, "connections_by_dim"))
    )


def connections_buckets(df: DataFrame, bucket_s: int = CONN_BUCKET_S) -> DataFrame:
    """connection-received count per 10-min epoch-floor bucket
    (connections.rs:66-75, round_floor :222-227)."""
    return _bucket_counts(
        _conn_flags(df).where(F.col("c_received")), bucket_s, "connections_buckets"
    )


# --- per-day partial state of all six reports --------------------------------


def _partial_items(spark: SparkSession) -> Column:
    """The count items one routed row contributes, as
    ``struct(report, dim, key, bucket, n)``; the sum of ``n`` per
    (warc_day, report, dim, key, bucket) is each report's per-day state:

    - errors rows: one ``errors_top`` item keyed by message and one
      ``errors_hist`` item keyed by the 1 h bucket floor;
    - stats rows: a ``connections_buckets`` item keyed by the 10 min
      bucket floor if received, a ``connections_by_dim`` item per
      (dim, value) it counts, and one ``connections_totals`` item per
      total whose ``n`` is the flag as a long (null stays null, as in
      ``connections_totals``' sum)."""

    def build() -> Column:
        err = F.col("sink") == "errors"
        stats = F.col("sink") == "stats"
        none = F.lit(None)

        def item(report, dim=none, key=none, bucket=none, n=F.lit(1)):
            return F.struct(
                F.lit(report).alias("report"),
                dim.cast("string").alias("dim"),
                key.cast("string").alias("key"),
                bucket.cast("long").alias("bucket"),
                n.cast("long").alias("n"),
            )

        items = [
            F.when(err, item("errors_top", key=F.col("message"))),
            F.when(
                err,
                item("errors_hist", bucket=_bucket_floor(spark, ERRORS_HIST_BUCKET_S)),
            ),
            F.when(
                stats & F.col("c_received"),
                item("connections_buckets", bucket=_bucket_floor(spark, CONN_BUCKET_S)),
            ),
            *[
                F.when(
                    stats & F.col(flag),
                    item(
                        "connections_by_dim",
                        dim=F.lit(dim),
                        key=F.coalesce(F.col(col), F.lit("unknown")),
                    ),
                )
                for dim, col, flag in CONN_DIMS
            ],
            *[
                F.when(
                    stats, item("connections_totals", dim=F.lit(name), n=F.col(flag))
                )
                for name, flag in CONN_TOTALS.items()
            ],
        ]
        return F.explode(F.array_compact(F.array(*items))).alias("item")

    return per_session(spark, "aggregates.partial_items", build)


def report_partials(routed: DataFrame) -> DataFrame:
    """Every report's exact per-warc_day state from routed rows of the
    errors and stats sinks, as one plan with one result:

    - count rows ``(warc_day, report, dim, key, bucket, n)``: one explode
      of ``_partial_items`` and one groupBy, partially aggregated map-side;
    - ``report = 'slow_top'`` rows: each day's top ``SLOW_TOP_K`` stats
      rows under slow_top's total order, with slow_top's columns.

    ``merge_reports`` turns the states of any set of days into the six
    reports over those days."""
    spark = routed.sparkSession
    flagged = _conn_flags(routed)
    counts = (
        flagged.select("warc_day", _partial_items(spark))
        .select("warc_day", "item.*")
        .groupBy("warc_day", "report", "dim", "key", "bucket")
        .agg(F.sum("n").alias("n"))
    )
    day_order = Window.partitionBy("warc_day").orderBy(*_order(spark, "slow_top"))
    slow = (
        routed.where((F.col("sink") == "stats") & F.col("duration_ms").isNotNull())
        .withColumn("_rank", F.row_number().over(day_order))
        .where(F.col("_rank") <= SLOW_TOP_K)
        .select("warc_day", F.lit("slow_top").alias("report"), *SLOW_COLS)
    )
    return counts.unionByName(slow, allowMissingColumns=True)


#: one day's partial state as stored: ``report_partials`` without its
#: ``warc_day``. ``record_no`` is a long, which holds the routed table's
#: ids whether it stores them as ints (pages) or longs (jsonlog).
PARTIAL_SCHEMA = pa.schema(
    [
        ("report", pa.string()),
        ("dim", pa.string()),
        ("key", pa.string()),
        ("bucket", pa.int64()),
        ("n", pa.int64()),
        ("duration_ms", pa.float64()),
        ("url", pa.string()),
        ("record_no", pa.int64()),
        ("event_ts", pa.timestamp("us", tz="UTC")),
        ("raw", pa.string()),
    ]
)

#: the six stats reports and their builders
REPORTS = {
    "errors_top": errors_top,
    "errors_hist": errors_hist,
    "slow_top": slow_top,
    "connections_totals": connections_totals,
    "connections_by_dim": connections_by_dim,
    "connections_buckets": connections_buckets,
}


def report_schemas(spark: SparkSession, source: StructType) -> dict[str, pa.Schema]:
    """Each report's Arrow schema: its builder's output schema over rows
    of ``source``, non-nullable columns non-nullable. Analysis only (no
    Spark job), once per session and source schema."""

    def build() -> dict[str, pa.Schema]:
        # not createDataFrame, which makes ``spark`` the active session
        empty = spark.range(0).select(
            *[F.lit(None).cast(f.dataType).alias(f.name) for f in source]
        )
        return {
            name: to_arrow_schema(builder(empty).schema)
            for name, builder in REPORTS.items()
        }

    return per_session(spark, ("aggregates.report_schemas", source.json()), build)


def _summed(state: pa.Table, report: str, keys: dict[str, str]) -> pa.Table:
    """``report``'s count rows summed over days per the state columns
    ``keys``, renamed to the report's columns, with the sum as ``cnt``
    (null when every summand is null, as Spark's ``sum``)."""
    rows = state.filter(pc.equal(state["report"], report))
    summed = rows.group_by(list(keys)).aggregate([("n", "sum")])
    return pa.table(
        {**{new: summed[old] for old, new in keys.items()}, "cnt": summed["n_sum"]}
    )


def _sorted(table: pa.Table, report: str, limit: int | None = None) -> pa.Table:
    """``table`` in ``report``'s order (``ORDERS``), cut to ``limit`` rows."""
    table = table.sort_by(ORDERS[report], null_placement="at_start")
    return table if limit is None else table.slice(0, limit)


def _bucket_report(state: pa.Table, report: str) -> pa.Table:
    rows = _sorted(_summed(state, report, {"bucket": "bucket_epoch"}), report)
    ts = pc.multiply(rows["bucket_epoch"], 1_000_000).cast(pa.timestamp("us"))
    return rows.append_column("bucket_ts", ts)


def merge_reports(
    state: pa.Table, schemas: dict[str, pa.Schema]
) -> dict[str, pa.Table]:
    """The six reports over the days whose partial states ``state`` holds
    (``PARTIAL_SCHEMA`` rows): counts summed per key, then each report's
    order and cut as its builder gives them, cast to ``schemas``."""
    totals = _summed(state, "connections_totals", {"dim": "dim"}).to_pydict()
    total = dict(zip(totals["dim"], totals["cnt"]))
    slow = state.filter(pc.equal(state["report"], "slow_top"))
    reports = {
        "errors_top": _sorted(
            _summed(state, "errors_top", {"key": "message"}), "errors_top", ERRORS_TOP_N
        ),
        "errors_hist": _bucket_report(state, "errors_hist"),
        "slow_top": _sorted(slow, "slow_top", SLOW_TOP_K),
        "connections_totals": pa.Table.from_pylist(
            [{name: total.get(name) for name in CONN_TOTALS}]
        ),
        "connections_by_dim": _sorted(
            _summed(state, "connections_by_dim", {"dim": "dim", "key": "value"}),
            "connections_by_dim",
        ),
        "connections_buckets": _bucket_report(state, "connections_buckets"),
    }
    return {
        name: table.select(schemas[name].names).cast(schemas[name])
        for name, table in reports.items()
    }


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
) -> DataFrame:
    """Per-group percentiles of a numeric column — the p95/p99 latency
    report every slow-query analysis ends with (A3 gives the top-N tail;
    this gives the distribution).

    Spark's exact ``percentile`` (linear interpolation at rank p·(n-1) —
    the same definition as ANSI PERCENTILE_CONT / DuckDB quantile_cont,
    so the result is value-checkable cross-engine). It buffers each
    group's values on the reducer: fine for bounded per-group
    cardinality. At 10^12 rows per group ``approx_percentile`` (t-digest,
    bounded memory, mergeable partial aggregation) is the scale path, not
    the oracle path, because the sketch is engine-specific."""
    arr = ", ".join(f"{p}D" for p in ps)
    pexp = F.expr(f"percentile({value_col}, array({arr}))")
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
