"""Broadcast-dimension enrichment (SURVEY.md §2.7, FIXTURES.md §3).

The reference hard-codes its lookups (the severity→ordinal match at
src/severity.rs:161-176 is an inlined dimension table); the north-star
requires them as broadcast lookup tables. All dims are tiny (≤ dozens of
rows) so every join below is an explicit ``F.broadcast`` hash join — no
shuffle of the fact side, safe at 10^12 rows.

Each dim is a ``LocalRelation`` (an inline ``VALUES`` table, see
``_local_dim``): its rows live in the plan, so broadcasting it is a
``LocalTableScan`` with no Python task. (Spark still collects each one
for its broadcast with one small JVM job of ``ParallelCollectionRDD``
tasks per query.) ``createDataFrame(list, ddl)`` would instead re-pickle
the rows through a ``PythonRDD`` and run a ``Scan ExistingRDD`` job of
Python tasks per dim on every call.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgweasel_spark import grammar
from pgweasel_spark.gen import HOSTS
from pgweasel_spark.session import per_session

#: SQLSTATE class prefix → category (public PostgreSQL errcodes appendix)
SQLSTATE_CLASSES = {
    "00": "success",
    "01": "warning",
    "02": "no_data",
    "08": "connection_exception",
    "22": "data_exception",
    "23": "integrity_violation",
    "25": "invalid_transaction_state",
    "28": "invalid_authorization",
    "40": "transaction_rollback",
    "42": "syntax_or_access",
    "53": "insufficient_resources",
    "54": "program_limit_exceeded",
    "55": "object_not_in_prerequisite_state",
    "57": "operator_intervention",
    "58": "system_error",
    "HV": "fdw_error",
    "P0": "plpgsql_error",
    "XX": "internal_error",
}

LANG_FAMILIES = {
    "en": "germanic",
    "de": "germanic",
    "et": "uralic",
    "fr": "romance",
    "es": "romance",
}


def _local_dim(
    spark: SparkSession, columns: list[str], rows: list[tuple]
) -> DataFrame:
    """``rows`` as a ``LocalRelation`` with the given column names.

    The values bind as named parameter markers, so nothing is quoted into
    the SQL text and Spark keeps their Python types (``str`` → string,
    ``int`` → int, ``bool`` → boolean). Named, not positional: on Spark
    4.1 positional ``?`` markers in a ``VALUES`` list of three or more
    rows bind out of order."""
    markers, args = [], {}
    for i, row in enumerate(rows):
        names = [f"r{i}c{j}" for j in range(len(row))]
        markers.append("(" + ", ".join(f":{n}" for n in names) + ")")
        args.update(zip(names, row))
    return spark.sql(
        f"SELECT * FROM VALUES {', '.join(markers)} AS t({', '.join(columns)})",
        args=args,
    )


def dim_severity(spark: SparkSession) -> DataFrame:
    """12-row severity dim (``severity string, ordinal int, class
    string``), a local relation: ordinal from src/severity.rs:161-176
    (quirks preserved: LOG/INFO→5, DEBUG5/PANIC→0) + our class rollup."""
    rows = [
        (sev, grammar.SEVERITY_NUM[sev], grammar.SEVERITY_CLASS[sev])
        for sev in sorted(grammar.SEVERITY_NUM)
    ]
    return _local_dim(spark, ["severity", "ordinal", "class"], rows)


def dim_sqlstate(spark: SparkSession) -> DataFrame:
    """SQLSTATE class dim (``state_class string, category string``), a
    local relation."""
    return _local_dim(
        spark, ["state_class", "category"], list(SQLSTATE_CLASSES.items())
    )


def dim_host(spark: SparkSession) -> DataFrame:
    """Generated host universe (``host_name string, is_skewed boolean``),
    a local relation; the first two hosts carry ~80% of pages
    (gen.HOST_WEIGHTS) and are flagged for salting decisions."""
    rows = [(h, i < 2) for i, h in enumerate(HOSTS)]
    return _local_dim(spark, ["host_name", "is_skewed"], rows)


def dim_lang(spark: SparkSession) -> DataFrame:
    """Language family dim (``lang_code string, lang_family string``), a
    local relation."""
    return _local_dim(
        spark, ["lang_code", "lang_family"], list(LANG_FAMILIES.items())
    )


def _broadcast_dims(spark: SparkSession) -> dict[str, DataFrame]:
    """The four dims as ``enrich`` joins them: projected to their join
    and output columns, with the broadcast hint."""
    return {
        "severity": F.broadcast(
            dim_severity(spark).select(
                F.col("severity").alias("_sev"),
                F.col("class").alias("severity_class"),
            )
        ),
        "sqlstate": F.broadcast(
            dim_sqlstate(spark).select(
                F.col("state_class").alias("sqlstate_class"),
                F.col("category").alias("sqlstate_category"),
            )
        ),
        "host": F.broadcast(
            dim_host(spark).withColumnRenamed("is_skewed", "host_is_skewed")
        ),
        "lang": F.broadcast(dim_lang(spark)),
    }


def enrich(events: DataFrame) -> DataFrame:
    """Left broadcast joins: severity→class, sqlstate→category, url-host
    dim, lang dim. Adds ``url_host`` (partition/salting key) first. The
    dims are built once per session; each join key has a name no other
    input column has, so the conditions are plain column names."""
    spark = events.sparkSession
    dims = per_session(spark, "enrich.dims", lambda: _broadcast_dims(spark))
    out = events.withColumns(
        {
            "url_host": F.parse_url(F.col("url"), F.lit("HOST")),
            "sqlstate_class": F.substring(F.col("sqlstate"), 1, 2),
        }
    )
    out = out.join(
        dims["severity"], on=F.col("severity") == F.col("_sev"), how="left"
    ).drop("_sev")
    out = out.join(dims["sqlstate"], on="sqlstate_class", how="left").drop(
        "sqlstate_class"
    )
    out = out.join(
        dims["host"], on=F.col("url_host") == F.col("host_name"), how="left"
    ).drop("host_name")
    return out.join(
        dims["lang"], on=F.col("lang") == F.col("lang_code"), how="left"
    ).drop("lang_code")
