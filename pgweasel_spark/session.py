"""SparkSession factory with the pipeline's standard configuration.

Tuned for correctness-critical settings first (UTC session timezone — the
reference parses log timestamps as naive local time and discards the TZ
token, src/util.rs:171-200; we pin UTC so counts are environment-independent)
and for scale second (AQE, Arrow, dynamic partition overwrite for idempotent
resume).
"""

from __future__ import annotations

import os
from collections.abc import Callable, Hashable
from typing import TypeVar

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = "32"

T = TypeVar("T")

#: the SparkSession attribute that holds ``per_session``'s memo
MEMO_ATTR = "_pgweasel_memo"


def per_session(spark: SparkSession, key: Hashable, build: Callable[[], T]) -> T:
    """``build()``, run once per SparkSession and ``key``; later calls
    with the same session and key return the first result.

    For plan pieces that depend only on constants and on the arguments
    in ``key``: Column expressions (immutable unresolved expressions, so
    plans may share them) and small DataFrames bound to ``spark``. The
    memo is an attribute of the session object, so its entries live
    exactly as long as that session, and a DataFrame built for one
    session is never handed to another. Threads that miss at once may
    each build, but all of them return the first value stored."""
    memo = vars(spark).setdefault(MEMO_ATTR, {})
    if key not in memo:
        memo.setdefault(key, build())
    return memo[key]


def get_spark(
    app_name: str = "pgweasel-spark",
    master: str | None = None,
    shuffle_partitions: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Master resolution order: explicit ``master`` arg > SPARK_MASTER
    env > the launcher's configuration (spark-submit --master /
    spark-defaults) > local[$SPARK_GRAFT_CPUS]. Calling
    ``builder.master()`` unconditionally would OVERRIDE spark-submit's
    --master and silently run cluster jobs on the driver in local mode;
    a launcher-started driver is detected by the py4j gateway env
    (PYSPARK_GATEWAY_PORT), in which case the builder's master is left
    alone. (SparkConf() can't be probed for spark.master here — before
    gateway init it is a plain Python dict that never sees the
    launcher's JVM system properties.)"""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        if "PYSPARK_GATEWAY_PORT" in os.environ:
            # launcher-configured driver (spark-submit): its --master is
            # authoritative — a stray SPARK_MASTER in the environment must
            # not silently override it (ADVICE r2), so leave the builder's
            # master untouched entirely
            master = None
        else:
            master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    builder = (
        builder
        # Correctness: naive log timestamps are interpreted in the session
        # timezone; pin UTC so bucket boundaries and golden counts are
        # environment-independent (SURVEY.md §7 "hard parts").
        .config("spark.sql.session.timeZone", "UTC")
        # The grammar relies on non-ANSI cast semantics in a few places
        # (bad numeric strings → null, mirroring the reference's
        # parse().ok()? → None); we use try_* functions explicitly, but
        # keep ANSI off as a belt-and-braces for oracle parity.
        .config("spark.sql.ansi.enabled", "false")
        # Scale: adaptive execution re-plans shuffles at runtime, splits
        # skewed partitions, and coalesces tiny ones.
        .config("spark.sql.adaptive.enabled", "true")
        # task-side commit renames (v2): the default v1 renames every
        # output file serially on the driver at job end — a visible fixed
        # tail on partitioned writes here and a real bottleneck at
        # thousands of files on a cluster
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version",
            "2",
        )
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # smaller AQE target partitions: the rebalance before partitioned
        # sink writes must yield enough writer tasks to keep all cores busy
        # (default 64m caps the local bench at ~15 tasks)
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
        # Arrow for pandas UDFs / mapInPandas (the record-split stage).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # Idempotent per-partition re-writes for checkpoint/resume.
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config(
            "spark.sql.shuffle.partitions",
            shuffle_partitions
            or os.environ.get(
                "SPARK_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS
            ),
        )
        # webtext rows are heavy (multi-KB text per page): cap input-split
        # bytes well below the 128m default so page scans parallelize even
        # on modest file sizes (at 100 TB files are >128m and this is moot)
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_FILES_MAX_PARTITION_BYTES", "8m"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
