"""JVM extraction layer ≡ pure-Python kernel, on every record of every
reference fixture file.

This is the lock that lets the hot path run entirely in whole-stage codegen:
if these pass, the Column expressions in functions/extract.py compute
byte-identical results to the reference semantics (which test_grammar.py
pins to the reference's own inline tests).
"""

import math
import os

import pytest
from pyspark.sql import functions as F

from pgweasel_spark import grammar as g
from pgweasel_spark.functions import extract as X
from pgweasel_spark.gen import FIXTURE_DIR, FIXTURE_FILES


HAVE_FIXTURES = all(
    os.path.isfile(os.path.join(FIXTURE_DIR, n)) for n in FIXTURE_FILES
)
needs_fixtures = pytest.mark.skipif(
    not HAVE_FIXTURES, reason=f"reference fixture logs not under {FIXTURE_DIR}"
)


def _all_fixture_records():
    rows = []
    for name in FIXTURE_FILES:
        with open(os.path.join(FIXTURE_DIR, name), encoding="utf-8") as f:
            text = f.read()
        fmt = "csv" if name.endswith(".csv") else "plain"
        for i, rec in enumerate(g.split_records(text)):
            rows.append((f"{name}#{i}", fmt, rec))
    return rows


@pytest.fixture(scope="module")
def extracted(spark):
    if not HAVE_FIXTURES:
        pytest.skip(f"reference fixture logs not under {FIXTURE_DIR}")
    rows = _all_fixture_records()
    df = spark.createDataFrame(rows, ["rid", "format", "raw"])
    raw = F.col("raw")
    fmt = F.col("format")
    out = df.select(
        "rid",
        "format",
        "raw",
        X.severity(raw, fmt).alias("severity"),
        X.severity_num(X.severity(raw, fmt)).alias("severity_num"),
        X.message(raw, fmt).alias("message"),
        X.event_ts(raw).alias("event_ts"),
        X.duration_ms(raw).alias("duration_ms"),
        X.host(raw).alias("host"),
        X.user(raw).alias("user"),
        X.db(raw).alias("db"),
        X.appname(raw).alias("appname"),
        X.is_lock(raw).alias("is_lock"),
        X.is_system(raw).alias("is_system"),
    ).collect()
    return {r["rid"]: r for r in out}


@needs_fixtures
def test_fixture_corpus_nonempty():
    rows = _all_fixture_records()
    assert len(rows) > 150  # 8 fixture files, ~250 lines


def test_severity_matches_kernel(extracted):
    for rid, row in extracted.items():
        sev = (
            g.severity_csv(row["raw"])
            if row["format"] == "csv"
            else g.severity_plain(row["raw"])
        )
        assert row["severity"] == sev, rid
        assert row["severity_num"] == g.severity_num(sev), rid


def test_message_matches_kernel(extracted):
    for rid, row in extracted.items():
        expected = g.message(row["raw"], row["format"])
        assert row["message"] == expected, (
            f"{rid}: jvm={row['message']!r} kernel={expected!r}"
        )


def test_event_ts_matches_kernel(extracted):
    for rid, row in extracted.items():
        expected = g.parse_timestamp(row["raw"])
        got = row["event_ts"]
        # Spark returns tz-naive datetimes under UTC session tz
        assert got == expected, f"{rid}: jvm={got} kernel={expected}"


def test_duration_matches_kernel(extracted):
    n_durations = 0
    for rid, row in extracted.items():
        expected = g.extract_duration_ms(row["raw"])
        got = row["duration_ms"]
        if expected is None:
            assert got is None, rid
        else:
            n_durations += 1
            assert got is not None and math.isclose(
                got, expected, rel_tol=1e-12
            ), rid
    assert n_durations >= 30  # duration.log alone has ~30 duration records


def test_kv_matches_kernel(extracted):
    for rid, row in extracted.items():
        for col, fn in [
            ("host", g.extract_host),
            ("user", g.extract_user),
            ("db", g.extract_db),
            ("appname", g.extract_appname),
        ]:
            expected = fn(row["raw"])
            assert row[col] == expected, (
                f"{rid}/{col}: jvm={row[col]!r} kernel={expected!r}"
            )


def test_lock_system_match_kernel(extracted):
    n_lock = n_sys = 0
    for rid, row in extracted.items():
        assert row["is_lock"] == g.matches_lock(row["raw"]), rid
        assert row["is_system"] == g.matches_system(row["raw"]), rid
        n_lock += row["is_lock"]
        n_sys += row["is_system"]
    assert n_lock >= 9  # locking.log fixture content
    assert n_sys >= 10


def test_synthetic_corpus_agreement(spark):
    """Same equality sweep over generated synthetic pages (wider grammar
    surface than the fixtures: azure ssl variants, fatal auth, etc.)."""
    from pgweasel_spark.gen import generate_pages

    rows = []
    for p, page in enumerate(generate_pages(60, seed=7, include_fixtures=False)):
        fmt = "csv" if page["url"].lower().endswith(".csv") else "plain"
        for i, rec in enumerate(g.split_records(page["text"])):
            rows.append((f"p{p}#{i}", fmt, rec))
    df = spark.createDataFrame(rows, ["rid", "format", "raw"])
    raw, fmt = F.col("raw"), F.col("format")
    out = df.select(
        "rid",
        "format",
        "raw",
        X.severity(raw, fmt).alias("severity"),
        X.message(raw, fmt).alias("message"),
        X.duration_ms(raw).alias("duration_ms"),
        X.user(raw).alias("user"),
        X.event_ts(raw).alias("event_ts"),
    ).collect()
    assert len(out) > 500
    for row in out:
        sev = (
            g.severity_csv(row["raw"])
            if row["format"] == "csv"
            else g.severity_plain(row["raw"])
        )
        assert row["severity"] == sev, row["rid"]
        assert row["message"] == g.message(row["raw"], row["format"]), row["rid"]
        exp_d = g.extract_duration_ms(row["raw"])
        if exp_d is None:
            assert row["duration_ms"] is None, row["rid"]
        else:
            assert math.isclose(row["duration_ms"], exp_d, rel_tol=1e-12)
        assert row["user"] == g.extract_user(row["raw"]), row["rid"]
        assert row["event_ts"] == g.parse_timestamp(row["raw"]), row["rid"]


@needs_fixtures
def test_jvm_splitter_matches_pandas_splitter(spark):
    """split_pages_sql (pure JVM split+posexplode) must be byte-identical
    to split_pages (mapInPandas kernel) — on every reference fixture file
    as a page, plus empty/no-start/preamble/CRLF edge pages."""
    from pgweasel_spark.operators.parse import split_pages, split_pages_sql

    pages = []
    for name in FIXTURE_FILES:
        with open(os.path.join(FIXTURE_DIR, name), encoding="utf-8") as f:
            pages.append((f"fx://{name}", None, "en", f.read()))
    pages += [
        ("e1", None, "en", ""),
        ("e2", None, "en", "no record starts here\njust prose"),
        (
            "e3",
            None,
            "en",
            "preamble\n2025-05-22 15:15:09.392 EEST LOG:  x\nmore\n"
            "2025-05-23 01:02:03 UTC ERROR:  y",
        ),
        (
            "e4",
            None,
            "en",
            "2025-05-22 15:15:09.392 EEST LOG:  a\r\n"
            "2025-05-23 01:02:03 UTC LOG:  b",
        ),
        ("e5", None, "en", None),
    ]
    df = spark.createDataFrame(
        pages, "url string, warc_ts timestamp, lang string, text string"
    )
    a = {
        (r["url"], r["record_no"]): r["raw"]
        for r in split_pages(df).collect()
    }
    b = {
        (r["url"], r["record_no"]): r["raw"]
        for r in split_pages_sql(df).collect()
    }
    assert a == b
    assert len(a) > 150  # 8 fixture files + 4 non-empty edge pages
