"""Record assembly + grok extraction: webtext pages → parsed event rows.

Stage 1 (record split — R1/R3 in SURVEY.md §2.2, the per-page equivalent
of /root/reference/src/output_results/mod.rs:95-121) has two byte-identical
implementations, locked to each other by test:

- ``split_pages_sql`` (what ``parse_events`` runs): pure JVM ``split``
  on a zero-width record-start lookahead + ``posexplode`` — whole-stage
  codegen, no Python anywhere.
- ``split_pages``: Arrow-batched ``mapInPandas`` over the pure-Python
  kernel (grammar.split_records) — a single compiled-regex pass per page,
  no per-line Python. The R3 record-assembly query runs it.

Records never span pages so there is no cross-row state and the stage is
embarrassingly parallel — no shuffle either way.

Stage 2 (extract): all scalar extraction (severity, timestamp, message,
key=values, duration) is pure JVM Column expressions from
``pgweasel_spark.functions.extract`` — whole-stage codegen, no Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pgweasel_spark import grammar
from pgweasel_spark.functions import extract as X
from pgweasel_spark.session import per_session

#: output schema of the split stage; ``raw`` preserves the record's exact
#: bytes (incl. trailing newline) so downstream extraction is byte-identical
#: to the reference per url.
SPLIT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("record_no", T.IntegerType(), False),
        T.StructField("raw", T.StringType(), False),
    ]
)


def _split_batches(
    batches: Iterator[pd.DataFrame],
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        urls: list[str] = []
        tss: list = []
        langs: list = []
        nos: list[int] = []
        raws: list[str] = []
        for url, ts, lang, text in zip(
            pdf["url"], pdf["warc_ts"], pdf["lang"], pdf["text"]
        ):
            recs = grammar.split_records(text or "")
            urls.extend([url] * len(recs))
            tss.extend([ts] * len(recs))
            langs.extend([lang] * len(recs))
            nos.extend(range(len(recs)))
            raws.extend(recs)
        yield pd.DataFrame(
            {
                "url": pd.Series(urls, dtype="object"),
                "warc_ts": pd.Series(tss),
                "lang": pd.Series(langs, dtype="object"),
                "record_no": pd.Series(nos, dtype="int32"),
                "raw": pd.Series(raws, dtype="object"),
            }
        )


def split_pages(pages: DataFrame) -> DataFrame:
    """Explode pages into records. Column-prunes the input to the four
    needed columns so the parquet scan never reads ``html``."""
    slim = pages.select("url", "warc_ts", "lang", "text")
    return slim.mapInPandas(_split_batches, schema=SPLIT_SCHEMA)


#: zero-width lookahead at every record-start line. ``(?d)`` (UNIX_LINES)
#: pins Java's ``^``/``.`` to \n-only line semantics, matching the Python
#: kernel's RECORD_START_RE exactly; the positional body mirrors
#: is_record_start (src/output_results/mod.rs:221-230).
_RECORD_SPLIT_PAT = r"(?dm)(?=^.{4}-.{2}-.{2} .{2}:.{2}:.{2}[. ].{3})"


def split_pages_sql(pages: DataFrame) -> DataFrame:
    """JVM-native record splitter — byte-identical to ``split_pages`` (a
    dedicated test asserts equality on every fixture and generated page).

    ``split`` on a lookahead keeps all bytes (records retain their
    trailing newline); a zero-width match at offset 0 produces no leading
    empty element (Java 8+ split semantics), and text before the first
    record-start becomes its own leading record — both exactly the
    kernel's slice arithmetic (grammar.split_records). Unlike the
    mapInPandas path, the corpus never crosses the JVM↔Python Arrow
    boundary, so the split stays inside whole-stage codegen and costs one
    regex pass + explode. Empty/null text yields no records ([]), like
    the kernel."""
    nonempty, records = per_session(
        pages.sparkSession,
        "parse.split_pages_sql",
        lambda: (
            F.col("text").isNotNull() & (F.length("text") > 0),
            F.posexplode(F.split(F.col("text"), _RECORD_SPLIT_PAT, -1)).alias(
                "record_no", "raw"
            ),
        ),
    )
    slim = pages.select("url", "warc_ts", "lang", "text")
    return slim.where(nonempty).select("url", "warc_ts", "lang", records)


def _extracted_cols() -> list[dict[str, Column]]:
    """The two projections ``with_extracted`` appends: ``format``, then
    every column read from ``raw`` (several dispatch on ``format``).
    ``severity_num`` repeats the ``severity`` expression instead of
    reading the column, so the output keeps its column order; codegen's
    subexpression elimination evaluates it once per record."""
    raw, fmt = F.col("raw"), F.col("format")
    sev = X.severity(raw, fmt)
    return [
        {
            "format": F.when(
                F.lower(F.col("url")).endswith(".csv"), "csv"
            ).otherwise("plain")
        },
        {
            "severity": sev,
            "severity_num": X.severity_num(sev),
            "event_ts": X.event_ts(raw),
            "message": X.message(raw, fmt),
            "sqlstate": X.sqlstate(raw, fmt),
            "duration_ms": X.duration_ms(raw),
            "host": X.host(raw),
            "user": X.user(raw),
            "db": X.db(raw),
            "appname": X.appname(raw),
        },
    ]


def with_extracted(events: DataFrame) -> DataFrame:
    """Append the implicit-schema columns (SURVEY.md §1.2) as JVM
    expressions, built once per session. ``format`` mirrors
    Format::from_file_extension (src/format/mod.rs:12-21): a url path
    ending ``.csv`` (case-insensitive) selects the csvlog grammar."""
    for cols in per_session(
        events.sparkSession, "parse.with_extracted", _extracted_cols
    ):
        events = events.withColumns(cols)
    return events


def parse_events(pages: DataFrame) -> DataFrame:
    """webtext pages → fully parsed events (the pipeline spine's map side:
    scan → split → extract, zero shuffles). The record split is
    ``split_pages_sql``, inside whole-stage codegen — measured ~3.5x
    faster than the mapInPandas ``split_pages`` at local[32] because the
    corpus never crosses the JVM↔Python Arrow boundary."""
    return with_extracted(split_pages_sql(pages))
