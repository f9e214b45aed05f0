"""Deterministic synthetic webtext generator.

Produces the pipeline's input table ``(url, warc_ts, html, text, lang)``
(BASELINE.json ``input_hint``) as parquet, at any scale, fully seeded.
Only the fixture pages read data from outside this repo; they are on by
default, and ``include_fixtures=False`` (``--no-fixtures`` on the command
line) leaves them out, giving a self-contained table. Two page populations:

1. **Fixture pages** — the reference's own test corpus
   (/root/reference/tests/files/*, read at generation time, never copied
   into this repo) embedded verbatim one-file-per-page, so the reference's
   golden counts (errors-top 8, hist-bucket 11, connections-bucket 5,
   ``duration: 2722.543 ms``, ``25.761 ms``) carry over to sink/aggregate
   assertions. csvlog fixtures get ``.csv`` urls to drive format detection.

2. **Synthetic pages** — seeded template instantiations of the same four
   grammar dialects (Debian stderr, CloudSQL duration, Azure connections,
   PG14+ csvlog — FIXTURES.md §2), with a deliberately skewed host
   distribution (a few hosts carry ~80% of pages, mirroring real crawls)
   to exercise salting/AQE at scale.
"""

from __future__ import annotations

import os
import random
from datetime import datetime, timedelta

import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_DIR = "/root/reference/tests/files"
FIXTURE_FILES = [
    "azure_connections.log",
    "csvlog1.csv",
    "csvlog_pg14.csv",
    "debian_default2.log",
    "duration.log",
    "locking.log",
    "multiple_lines.csv",
    "system_test.log",
]

#: host universe: first two hosts receive ~80% of synthetic pages (skew)
HOSTS = ["logs.bigcorp.example", "telemetry.hyper.example"] + [
    f"host{i:02d}.example.org" for i in range(18)
]
HOST_WEIGHTS = [48, 32] + [20 / 18] * 18

LANGS = ["en", "et", "de", "fr", "es"]

_BASE = datetime(2025, 5, 1, 0, 0, 0)

_ERRMSGS = [
    'new row for relation "accounts" violates check constraint "posbal"',
    'duplicate key value violates unique constraint "pk_orders"',
    "division by zero",
    'null value in column "id" violates not-null constraint',
    "canceling statement due to statement timeout",
]
_STATEMENTS = [
    "UPDATE accounts SET abalance = abalance + $1 WHERE aid = $2;",
    "SELECT count(*) FROM orders WHERE o_date > now() - interval '1 day'",
    "INSERT INTO events(id, ts, payload) VALUES ($1, $2, $3)",
    "WITH RECURSIVE t AS (SELECT 1) SELECT * FROM t",
    "DELETE FROM sessions WHERE expires_at < now()",
]
_LOCKMSGS = [
    "process {pid} still waiting for ShareLock on transaction {xid} after 1.02{d} ms",
    "deadlock detected",
    "process {pid} acquired ShareLock on transaction {xid} after 2001.3{d} ms",
    "could not serialize access due to concurrent update",
]
_SYSMSGS = [
    "checkpoint starting: time",
    "checkpoint complete: wrote {n} buffers (0.0%); 0 WAL file(s) added",
    "database system is ready to accept connections",
    'listening on IPv4 address "127.0.0.1", port 5432',
    "automatic vacuum of table \"shop.public.orders\": index scans: 1",
    "starting PostgreSQL 17.5 on x86_64-pc-linux-gnu",
    "received SIGHUP, reloading configuration files",
]
_USERS = ["app", "etl", "admin", "krl", "reporting"]
_DBS = ["shop", "warehouse", "postgres", "metrics"]
_APPS = ["psql", "pgbench", "sqlalchemy", "[unknown]"]


def _ts_str(dt: datetime, ms: bool = True) -> str:
    if ms:
        return dt.strftime("%Y-%m-%d %H:%M:%S.") + f"{dt.microsecond // 1000:03d}"
    return dt.strftime("%Y-%m-%d %H:%M:%S")


def _plain_page(rng: random.Random, t0: datetime, n_records: int) -> str:
    """Debian/CloudSQL-dialect stderr page."""
    lines: list[str] = []
    t = t0
    pid = rng.randint(1000, 4000000)
    for _ in range(n_records):
        t += timedelta(milliseconds=rng.randint(20, 60000))
        ts = _ts_str(t)
        user = rng.choice(_USERS)
        db = rng.choice(_DBS)
        roll = rng.random()
        if roll < 0.32:
            dur = round(rng.uniform(0.2, 9000.0), 3)
            stmt = rng.choice(_STATEMENTS)
            lines.append(
                f"{ts} UTC [{pid}]: [1-1] db={db},user={user},host=10.0.{rng.randint(0, 255)}.{rng.randint(1, 254)} "
                f"LOG:  duration: {dur} ms  statement: {stmt}"
            )
        elif roll < 0.48:
            msg = rng.choice(_ERRMSGS)
            lines.append(f"{ts} EEST [{pid}] {user}@{db} ERROR:  {msg}")
            lines.append(
                f"{ts} EEST [{pid}] {user}@{db} STATEMENT:  {rng.choice(_STATEMENTS)}"
            )
        elif roll < 0.56:
            msg = rng.choice(_LOCKMSGS).format(
                pid=pid, xid=rng.randint(1000, 999999), d=rng.randint(0, 9)
            )
            lines.append(f"{ts} EEST [{pid}] {user}@{db} LOG:  {msg}")
        elif roll < 0.68:
            msg = rng.choice(_SYSMSGS).format(n=rng.randint(1, 500))
            lines.append(f"{ts} EEST [{pid}] LOG:  {msg}")
        elif roll < 0.86:
            sid = f"{rng.randrange(16**8):08x}.{rng.randrange(16**3):03x}"
            port = rng.randint(20000, 60000)
            hostip = f"192.168.{rng.randint(0, 255)}.{rng.randint(1, 254)}"
            tsz = _ts_str(t, ms=False)
            lines.append(
                f"{tsz} UTC-{sid}-LOG:  connection received: host={hostip} port={port}"
            )
            ssl = " SSL enabled (protocol=TLSv1.3)" if rng.random() < 0.7 else ""
            lines.append(
                f"{tsz} UTC-{sid}-LOG:  connection authorized: user={user} database={db}{ssl}"
            )
            if rng.random() < 0.5:
                lines.append(
                    f"{tsz} UTC-{sid}-LOG:  disconnection: session time: 0:00:{rng.randint(10, 59)}.0{rng.randint(10, 99)} "
                    f"user={user} database={db} host={hostip} port={port}"
                )
        elif roll < 0.92:
            lines.append(
                f'{ts} EEST [{pid}] {user}@{db} FATAL:  password authentication failed for user "{user}"'
            )
        else:
            stmt = rng.choice(_STATEMENTS)
            lines.append(f"{ts} EEST [{pid}] {user}@{db} LOG:  statement: {stmt}")
            if rng.random() < 0.5:
                # wrapped continuation line (attaches to preceding record)
                lines.append(f"\t{rng.choice(_STATEMENTS)}")
    return "\n".join(lines) + "\n"


def _csv_page(rng: random.Random, t0: datetime, n_records: int) -> str:
    """PG14+ 26-column csvlog page."""
    rows: list[str] = []
    t = t0
    pid = rng.randint(1000, 999999)
    sid = f"{rng.randrange(16**8):08x}.{rng.randrange(16**5):05x}"
    for i in range(n_records):
        t += timedelta(milliseconds=rng.randint(20, 60000))
        ts = _ts_str(t) + " UTC"
        user = rng.choice(_USERS)
        db = rng.choice(_DBS)
        roll = rng.random()
        if roll < 0.35:
            sev, state = "LOG", "00000"
            dur = round(rng.uniform(0.2, 9000.0), 3)
            msg = f"duration: {dur} ms  statement: {rng.choice(_STATEMENTS)}"
        elif roll < 0.6:
            sev, state = "ERROR", rng.choice(["23503", "23505", "22012", "40P01"])
            msg = rng.choice(_ERRMSGS)
        elif roll < 0.75:
            sev, state = "LOG", "00000"
            msg = rng.choice(_SYSMSGS).format(n=rng.randint(1, 500))
        elif roll < 0.85:
            sev, state = "FATAL", "28P01"
            msg = f'password authentication failed for user "{user}"'
        else:
            sev, state = "WARNING", "01000"
            msg = "there is no transaction in progress"
        # PostgreSQL csvlog always ""-escapes quotes inside quoted fields
        msg = msg.replace('"', '""')
        app = rng.choice(_APPS)
        rows.append(
            f'{ts},"{user}","{db}",{pid},"10.0.0.{rng.randint(1, 254)}:{rng.randint(10000, 60000)}",'
            f'{sid},{i + 1},"SELECT",{_ts_str(t0, ms=False)} UTC,3/2,0,{sev},{state},'
            f'"{msg}",,,,,,,,,"{app}","client backend",,0'
        )
    return "\n".join(rows) + "\n"


def load_fixture_pages() -> list[dict]:
    """The reference fixture corpus as pages (verbatim text, never
    committed to this repo — read from the read-only reference)."""
    pages = []
    for i, name in enumerate(FIXTURE_FILES):
        path = os.path.join(FIXTURE_DIR, name)
        with open(path, encoding="utf-8") as f:
            text = f.read()
        pages.append(
            {
                "url": f"https://fixtures.pgweasel.example/files/{name}",
                "warc_ts": datetime(2025, 6, 10, 12, 0, 0)
                + timedelta(minutes=i),
                "html": f"<html><body><pre>{len(text)}</pre></body></html>".encode(),
                "text": text,
                "lang": "en",
            }
        )
    return pages


def generate_pages(
    n_pages: int,
    seed: int = 42,
    include_fixtures: bool = True,
    records_per_page: tuple[int, int] = (4, 36),
) -> list[dict]:
    rng = random.Random(seed)
    pages = load_fixture_pages() if include_fixtures else []
    for i in range(n_pages):
        host = rng.choices(HOSTS, weights=HOST_WEIGHTS, k=1)[0]
        is_csv = rng.random() < 0.25
        ext = "csv" if is_csv else "log"
        url = f"https://{host}/crawl/{i // 1000:04d}/page{i:07d}.{ext}"
        day = rng.randint(0, 6)
        t0 = _BASE + timedelta(days=day, seconds=rng.randint(0, 80000))
        n_rec = rng.randint(*records_per_page)
        text = (
            _csv_page(rng, t0, n_rec) if is_csv else _plain_page(rng, t0, n_rec)
        )
        pages.append(
            {
                "url": url,
                "warc_ts": t0 + timedelta(hours=1),
                "html": b"<html><body><pre>log</pre></body></html>",
                "text": text,
                "lang": rng.choice(LANGS),
            }
        )
    return pages


ARROW_SCHEMA = pa.schema(
    [
        pa.field("url", pa.string(), nullable=False),
        pa.field("warc_ts", pa.timestamp("us"), nullable=True),
        pa.field("html", pa.binary(), nullable=True),
        pa.field("text", pa.string(), nullable=True),
        pa.field("lang", pa.string(), nullable=True),
    ]
)


def write_webtext(
    out_dir: str,
    n_pages: int,
    seed: int = 42,
    include_fixtures: bool = True,
    rows_per_file: int = 500,
) -> int:
    """Write the webtext table as (possibly multiple) parquet files so the
    scan is splittable. Returns total page count."""
    os.makedirs(out_dir, exist_ok=True)
    pages = generate_pages(n_pages, seed=seed, include_fixtures=include_fixtures)
    for start in range(0, len(pages), rows_per_file):
        chunk = pages[start : start + rows_per_file]
        table = pa.Table.from_pylist(chunk, schema=ARROW_SCHEMA)
        pq.write_table(
            table,
            os.path.join(out_dir, f"part-{start // rows_per_file:05d}.parquet"),
            # small row groups so Spark's byte-range splits can parallelize
            # within a file (spark.sql.files.maxPartitionBytes)
            row_group_size=200,
        )
    return len(pages)


if __name__ == "__main__":
    import argparse

    ap = argparse.ArgumentParser(description="generate synthetic webtext")
    ap.add_argument("out_dir")
    ap.add_argument("--pages", type=int, default=2000)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--no-fixtures", action="store_true")
    a = ap.parse_args()
    n = write_webtext(
        a.out_dir, a.pages, seed=a.seed, include_fixtures=not a.no_fixtures
    )
    print(f"wrote {n} pages to {a.out_dir}")
