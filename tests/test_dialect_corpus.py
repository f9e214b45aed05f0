"""JVM extraction ≡ pure-Python kernel over the reference's REAL-WORLD
dialect corpus (`/root/reference/testdata/`): RDS, rocky9, syslog,
pgaudit, CloudSQL, Azure-flex, csvlog pg12–pg14, the pgbadger cases and
the pg-archives mailing-list logs (~60 files, ~43k records).

`tests/test_extract_spark.py` sweeps the 8 curated fixtures under
`tests/files/`; this module is the wide net over every prefix dialect
SURVEY.md §1.3 says the byte-level extractors must tolerate. Format
detection follows S5 (extension `.csv` → csvlog, else plain —
`src/format/mod.rs:6-21`), so e.g. `pg_rawcsv.log` is deliberately
treated as plain. `pgbench.json` is excluded per S8 parity (jsonlog is
unimplemented in the reference too, `src/error.rs:34`).
"""

import glob
import gzip
import math
import os

import pytest
from pyspark.sql import functions as F

from pgweasel_spark import grammar as g
from pgweasel_spark.functions import extract as X

TESTDATA = "/root/reference/testdata"

pytestmark = pytest.mark.skipif(
    not os.path.isdir(TESTDATA), reason=f"reference dialect corpus not at {TESTDATA}"
)

#: dialects whose lines legitimately fail the positional record-start
#: shape (syslog wraps each line in `Mon DD HH:MM:SS host proc[pid]:`),
#: so nearly the whole file is quarantined — asserted below
QUARANTINE_DIALECTS = {"syslog1.log": (0, 1)}


def _corpus_files():
    pats = [
        f"{TESTDATA}/*.log",
        f"{TESTDATA}/*.csv",
        f"{TESTDATA}/*.gz",
        f"{TESTDATA}/pgbadger/*.log",
        f"{TESTDATA}/pgbadger/*.csv",
        f"{TESTDATA}/pgbadger/*.gz",
        f"{TESTDATA}/pg-archives/*.gz",
    ]
    out = []
    for p in sorted(set(sum((glob.glob(x) for x in pats), []))):
        if p.endswith(".json") or os.path.basename(p) == "LICENSE":
            continue
        out.append(p)
    return out


def _decode(path: str) -> str:
    data = open(path, "rb").read()
    if path.endswith(".gz"):
        data = gzip.decompress(data)
    try:
        return data.decode("utf-8")
    except UnicodeDecodeError:
        # a handful of archive logs carry raw latin-1 bytes; any
        # consistent decode works — both sides see the same string
        return data.decode("latin-1")


def _corpus_records():
    rows = []
    per_file = {}
    for path in _corpus_files():
        name = os.path.basename(path)
        base = name[:-3] if name.endswith(".gz") else name
        fmt = "csv" if base.endswith(".csv") else "plain"
        recs = g.split_records(_decode(path))
        per_file[name] = len(recs)
        rows.extend(
            (f"{name}#{i}", fmt, rec) for i, rec in enumerate(recs)
        )
    return rows, per_file


@pytest.fixture(scope="module")
def corpus(spark):
    rows, per_file = _corpus_records()
    df = spark.createDataFrame(rows, ["rid", "format", "raw"])
    raw, fmt = F.col("raw"), F.col("format")
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
    return out, per_file


def test_corpus_is_the_full_dialect_set(corpus):
    out, per_file = corpus
    # the named §1.3 dialects must all be present and record-bearing
    for required in [
        "rds_default.log",
        "rocky9_default.log",
        "pgaudit.log",
        "cloudsql.log",
        "azure_flexible_server.log",
        "csvlog_pg12.csv",
        "csvlog_pg13.csv",
        "csvlog_pg14.csv",
        "locking1.log",
        "connections.log",
    ]:
        assert per_file.get(required, 0) > 0, required
    assert len(per_file) >= 55, sorted(per_file)
    assert len(out) > 20_000
    # csvlog1.csv.gz is byte-identical to csvlog1.csv after gunzip, so
    # the two must split identically (debian_default.log.gz is NOT a
    # twin — the plain file carries 7 extra startup lines)
    assert per_file["csvlog1.csv"] == per_file["csvlog1.csv.gz"]


def test_quarantine_dialects_split_as_expected(corpus):
    _, per_file = corpus
    for name, (lo, hi) in QUARANTINE_DIALECTS.items():
        assert lo <= per_file[name] <= hi, (name, per_file[name])


def test_dialect_severity_matches_kernel(corpus):
    out, _ = corpus
    for row in out:
        sev = (
            g.severity_csv(row["raw"])
            if row["format"] == "csv"
            else g.severity_plain(row["raw"])
        )
        assert row["severity"] == sev, row["rid"]
        assert row["severity_num"] == g.severity_num(sev), row["rid"]


def test_dialect_message_matches_kernel(corpus):
    out, _ = corpus
    for row in out:
        expected = g.message(row["raw"], row["format"])
        assert row["message"] == expected, (
            f"{row['rid']}: jvm={row['message']!r} kernel={expected!r}"
        )


def test_dialect_event_ts_matches_kernel(corpus):
    out, _ = corpus
    n_parsed = 0
    for row in out:
        expected = g.parse_timestamp(row["raw"])
        assert row["event_ts"] == expected, (
            f"{row['rid']}: jvm={row['event_ts']} kernel={expected}"
        )
        n_parsed += expected is not None
    assert n_parsed > 20_000


def test_dialect_duration_matches_kernel(corpus):
    out, _ = corpus
    n = 0
    for row in out:
        expected = g.extract_duration_ms(row["raw"])
        if expected is None:
            assert row["duration_ms"] is None, row["rid"]
        else:
            n += 1
            assert row["duration_ms"] is not None and math.isclose(
                row["duration_ms"], expected, rel_tol=1e-12
            ), row["rid"]
    assert n > 1000  # cloudsql.log alone is duration-heavy


def test_dialect_kv_matches_kernel(corpus):
    out, _ = corpus
    for row in out:
        for col, fn in [
            ("host", g.extract_host),
            ("user", g.extract_user),
            ("db", g.extract_db),
            ("appname", g.extract_appname),
        ]:
            expected = fn(row["raw"])
            assert row[col] == expected, (
                f"{row['rid']}/{col}: jvm={row[col]!r} kernel={expected!r}"
            )


def test_dialect_lock_system_match_kernel(corpus):
    out, _ = corpus
    n_lock = n_sys = 0
    for row in out:
        assert row["is_lock"] == g.matches_lock(row["raw"]), row["rid"]
        assert row["is_system"] == g.matches_system(row["raw"]), row["rid"]
        n_lock += row["is_lock"]
        n_sys += row["is_system"]
    assert n_lock > 500  # locking1.log is a dedicated lock corpus
    assert n_sys > 100
