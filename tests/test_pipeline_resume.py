"""Pipeline write + checkpoint manifest + kill/resume semantics."""

import glob
import os
import shutil
from datetime import date, datetime
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DateType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

from pgweasel_spark import grammar
from pgweasel_spark.operators import aggregates as agg
from pgweasel_spark.plans import pipeline
from pgweasel_spark.plans.manifest import Manifest

#: the routed table of generated pages, as Spark reads it back
ROUTED_SCHEMA = StructType(
    [
        StructField(name, dtype)
        for name, dtype in [
            ("sink", StringType()),
            ("url", StringType()),
            ("url_host", StringType()),
            ("warc_ts", TimestampNTZType()),
            ("lang", StringType()),
            ("record_no", IntegerType()),
            ("raw", StringType()),
            ("format", StringType()),
            ("severity", StringType()),
            ("severity_num", IntegerType()),
            ("severity_class", StringType()),
            ("event_ts", TimestampType()),
            ("message", StringType()),
            ("sqlstate", StringType()),
            ("sqlstate_category", StringType()),
            ("duration_ms", DoubleType()),
            ("host", StringType()),
            ("user", StringType()),
            ("db", StringType()),
            ("appname", StringType()),
            ("warc_day", DateType()),
            ("host_bucket", IntegerType()),
        ]
    ]
)

STATS_REPORTS = [
    "errors_top",
    "errors_hist",
    "slow_top",
    "connections_totals",
    "connections_by_dim",
    "connections_buckets",
]


def test_run_all_then_resume_noop(spark, generated_pages_dir, tmp_path):
    out = str(tmp_path / "out")
    res1 = pipeline.run(spark, generated_pages_dir, out, with_stats=True)
    assert res1.days_processed  # the 7 synthetic days
    assert res1.sink_counts.get("errors", 0) > 0
    assert res1.sink_counts.get("stats", 0) > 0

    # resume on a complete manifest is a no-op
    res2 = pipeline.run(spark, generated_pages_dir, out, with_stats=False)
    assert res2.days_processed == []
    assert set(res2.days_skipped) == set(res1.days_processed)

    # manifest carries per-day per-sink AND per-physical-partition
    # lineage (sink/host_bucket granularity — the table's partition
    # spec), with sink totals equal to the partition sums
    m = Manifest.load(os.path.join(out, "manifest.json"))
    assert m.completed_days() == set(res1.days_processed)
    for day, entry in m.days.items():
        assert entry["input_rows"] > 0, day
        assert entry["sink_counts"], day
        parts = entry["partition_counts"]
        assert parts, day
        by_sink: dict[str, int] = {}
        for key, cnt in parts.items():
            sink, bucket = key.rsplit("/", 1)
            assert 0 <= int(bucket) < 16
            by_sink[sink] = by_sink.get(sink, 0) + cnt
        assert by_sink == entry["sink_counts"], day


def test_incremental_day_batches_match_full_run(spark, generated_pages_dir, tmp_path):
    """Simulated kill/resume: processing one day per run converges to the
    same routed table as a single full run (idempotent dynamic
    partition overwrite + manifest skip)."""
    out_full = str(tmp_path / "full")
    out_inc = str(tmp_path / "inc")
    pipeline.run(spark, generated_pages_dir, out_full, with_stats=False)

    # process one day at a time until nothing is pending
    for _ in range(20):
        res = pipeline.run(
            spark, generated_pages_dir, out_inc, day_batch=1, with_stats=False
        )
        if not res.days_processed:
            break

    full = spark.read.parquet(os.path.join(out_full, "routed"))
    inc = spark.read.parquet(os.path.join(out_inc, "routed"))
    assert full.count() == inc.count()
    key = ["sink", "url", "record_no"]
    assert full.select(*key).exceptAll(inc.select(*key)).count() == 0
    assert inc.select(*key).exceptAll(full.select(*key)).count() == 0

    # re-processing a day (idempotency): force one day back to pending
    m = Manifest.load(os.path.join(out_inc, "manifest.json"))
    some_day = sorted(m.completed_days())[0]
    del m.days[some_day]
    m.save()
    res = pipeline.run(spark, generated_pages_dir, out_inc, with_stats=False)
    assert res.days_processed == [some_day]
    inc2 = spark.read.parquet(os.path.join(out_inc, "routed"))
    assert inc2.count() == full.count()  # no duplicates


def test_jsonlog_batch_pipeline_resume_matches_stderr_twin(
    spark, tmp_path
):
    """A raw jsonlog directory routes through the batch pipeline
    (input_format='jsonlog') without the CLI: day-batched kill/resume
    works off the events' own timestamps, and per-sink routed counts
    equal the stderr-twin corpus run through the parquet-pages path.
    Malformed lines batch under the 1970-01-01 sentinel day instead of
    being dropped."""
    import json
    from datetime import datetime

    events, stderr_lines = [], []
    for day in (3, 4):  # two warc days → two resume batches
        for i in range(5):
            ts = f"2025-06-{day:02d} 12:00:{i:02d}.000 UTC"
            events.append(
                {
                    "timestamp": ts,
                    "error_severity": "ERROR",
                    "message": "division by zero",
                    "state_code": "22012",
                    "user": "u",
                    "dbname": "d",
                    "application_name": "a",
                    "remote_host": "h",
                    "process_id": i,
                }
            )
            stderr_lines.append(
                (day, f"{ts} [123] u@d ERROR:  division by zero")
            )
            events.append(
                {
                    "timestamp": ts,
                    "error_severity": "LOG",
                    "message": f"duration: 5025.{i} ms  statement: select {i}",
                    "state_code": "00000",
                    "user": "u",
                    "dbname": "d",
                    "application_name": "a",
                    "remote_host": "h",
                    "process_id": i,
                }
            )
            stderr_lines.append(
                (
                    day,
                    f"{ts} [124] u@d LOG:  duration: 5025.{i} ms "
                    f" statement: select {i}",
                )
            )
    jdir = tmp_path / "jl"
    jdir.mkdir()
    (jdir / "pg.json").write_text(
        "\n".join(json.dumps(e) for e in events) + "\nnot json\n"
    )

    # stderr twin: one page per day, page warc_ts on the same day the
    # events carry (so both pipelines batch identically)
    pages = spark.createDataFrame(
        [
            (
                f"http://twin/{day}.log",
                datetime(2025, 6, day, 12, 0, 0),
                "\n".join(l for d, l in stderr_lines if d == day),
                None,
            )
            for day in (3, 4)
        ],
        "url string, warc_ts timestamp, text string, lang string",
    )
    pdir = str(tmp_path / "pages")
    pages.write.parquet(pdir)

    out_twin = str(tmp_path / "out_twin")
    res_twin = pipeline.run(spark, pdir, out_twin, with_stats=False)

    # jsonlog path, one day per run (kill/resume) — 3 pending days:
    # 2025-06-03, 2025-06-04 and the 1970-01-01 malformed sentinel
    out_jl = str(tmp_path / "out_jl")
    batches = []
    for _ in range(10):
        res = pipeline.run(
            spark,
            str(jdir),
            out_jl,
            day_batch=1,
            with_stats=False,
            input_format="jsonlog",
        )
        if not res.days_processed:
            break
        batches.extend(res.days_processed)
    assert batches == ["1970-01-01", "2025-06-03", "2025-06-04"]

    jl = spark.read.parquet(os.path.join(out_jl, "routed"))
    twin = spark.read.parquet(os.path.join(out_twin, "routed"))
    sentinel = jl.where(F.col("warc_day") == "1970-01-01")
    assert sentinel.count() == 1  # the malformed line, quarantined
    assert sentinel.first()["sink"] == "quarantine"

    def sink_counts(df):
        return {
            r["sink"]: r["cnt"]
            for r in df.groupBy("sink")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
    jl_counts = sink_counts(jl.where(F.col("warc_day") != "1970-01-01"))
    twin_counts = sink_counts(twin)
    assert jl_counts == twin_counts
    assert res_twin.sink_counts["errors"] == jl_counts["errors"] == 10

    # resume on the complete jsonlog manifest is a no-op
    res = pipeline.run(
        spark, str(jdir), out_jl, with_stats=False,
        input_format="jsonlog",
    )
    assert res.days_processed == []


def test_stats_tables_written(spark, generated_pages_dir, tmp_path):
    out = str(tmp_path / "stats_out")
    pipeline.run(spark, generated_pages_dir, out, with_stats=True)
    for t in STATS_REPORTS:
        df = spark.read.parquet(os.path.join(out, "stats", t))
        assert df.count() > 0, t
    top = spark.read.parquet(os.path.join(out, "stats", "errors_top"))
    assert top.count() <= 20
    slow = spark.read.parquet(os.path.join(out, "stats", "slow_top"))
    assert slow.count() == 10
    durs = [r["duration_ms"] for r in slow.collect()]
    assert durs == sorted(durs, reverse=True)


def test_read_sink(spark, generated_pages_dir, tmp_path):
    out = str(tmp_path / "rs")
    pipeline.run(spark, generated_pages_dir, out, with_stats=False)
    errors = pipeline.read_sink(spark, out, "errors")
    assert errors.count() > 0
    assert errors.where(F.col("severity_num") < 8).count() == 0


def _stats_rows(spark, out):
    return {
        t: sorted(
            (tuple(r) for r in spark.read.parquet(os.path.join(out, "stats", t)).collect()),
            key=repr,
        )
        for t in STATS_REPORTS
    }


def test_stats_failure_leaves_day_pending(
    spark, generated_pages_dir, tmp_path, monkeypatch
):
    """A day is committed to the manifest only after its stats tables are
    written: when ``write_stats`` fails, the day stays pending, and the
    next call routes it again and rewrites the reports, which then equal
    those of a fresh run over the same days."""
    out = str(tmp_path / "out")
    first = pipeline.run(spark, generated_pages_dir, out, day_batch=1)
    assert len(first.days_processed) == 1

    real = pipeline.write_stats

    def fail_once(*args):
        monkeypatch.setattr(pipeline, "write_stats", real)
        raise RuntimeError("stats failed")

    monkeypatch.setattr(pipeline, "write_stats", fail_once)
    with pytest.raises(RuntimeError, match="stats failed"):
        pipeline.run(spark, generated_pages_dir, out, day_batch=1)
    manifest = Manifest.load(os.path.join(out, "manifest.json"))
    assert manifest.completed_days() == set(first.days_processed)

    res = pipeline.run(spark, generated_pages_dir, out, day_batch=1)
    fresh = str(tmp_path / "fresh")
    two_days = pipeline.run(spark, generated_pages_dir, fresh, day_batch=2)
    assert res.days_processed == two_days.days_processed[1:]
    assert _stats_rows(spark, out) == _stats_rows(spark, fresh)


def _max_job_id(spark):
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None), default=-1)


def _jobs_run_by(spark, call):
    """Spark jobs ``call()`` runs: the rise in the largest job id. The
    status store keeps only ``spark.ui.retainedJobs`` jobs, so the
    length of its id list is no count."""
    before = _max_job_id(spark)
    call()
    return _max_job_id(spark) - before


#: Spark jobs of one ``run(day_batch=1)`` call with stats, and of a call
#: with nothing pending. A change that lowers a count lowers it here too.
DAILY_CALL_JOBS = 12
IDLE_CALL_JOBS = 3


def test_daily_call_job_budget(spark, generated_pages_dir, tmp_path):
    out = str(tmp_path / "out")
    daily = _jobs_run_by(
        spark, lambda: pipeline.run(spark, generated_pages_dir, out, day_batch=1)
    )
    assert daily == DAILY_CALL_JOBS
    pipeline.run(spark, generated_pages_dir, out, with_stats=False)
    idle = _jobs_run_by(
        spark, lambda: pipeline.run(spark, generated_pages_dir, out, day_batch=1)
    )
    assert idle == IDLE_CALL_JOBS


def _put_parquet(path, rows):
    path.parent.mkdir(parents=True, exist_ok=True)
    pq.write_table(pa.table({"x": pa.array(range(rows), pa.int64())}), path)


def test_partition_counts_reads_footers(tmp_path):
    """Footer counts skip hidden files, sum the files of a partition,
    keep to the asked day and never emit a zero."""
    day = tmp_path / "sink=errors" / "warc_day=2025-05-01"
    _put_parquet(day / "host_bucket=3" / "part-0.parquet", 2)
    _put_parquet(day / "host_bucket=3" / "part-1.parquet", 5)
    (day / "host_bucket=3" / ".part-0.parquet.crc").write_bytes(b"not parquet")
    (day / "host_bucket=3" / "_SUCCESS").write_bytes(b"")
    _put_parquet(day / "host_bucket=4" / "part-0.parquet", 0)
    _put_parquet(
        tmp_path / "sink=stats" / "warc_day=2025-05-01" / "host_bucket=0" / "p.parquet", 1
    )
    _put_parquet(
        tmp_path / "sink=stats" / "warc_day=2025-05-02" / "host_bucket=1" / "p.parquet", 4
    )
    assert pipeline.partition_counts(str(tmp_path), "2025-05-01") == {
        "errors/3": 7,
        "stats/0": 1,
    }
    assert pipeline.partition_counts(str(tmp_path), "2025-05-03") == {}


def _table_counts(spark, out, day):
    """Per-sink and per-"sink/host_bucket" rows of ``day`` in the written
    routed table: the read-back the footer counts replace."""
    rows = (
        spark.read.parquet(os.path.join(out, "routed"))
        .where(F.date_format("warc_day", "yyyy-MM-dd") == day)
        .groupBy("sink", "host_bucket")
        .count()
        .collect()
    )
    sinks: dict[str, int] = {}
    for r in rows:
        sinks[r["sink"]] = sinks.get(r["sink"], 0) + r["count"]
    return sinks, {f"{r['sink']}/{r['host_bucket']}": r["count"] for r in rows}


def test_manifest_counts_equal_written_table(
    spark, generated_pages_dir, tmp_path, monkeypatch
):
    """After every call of a daily run, including a day re-run after its
    stats failed, the manifest's footer counts equal a groupBy over the
    written routed table."""
    out = str(tmp_path / "out")
    manifest_path = os.path.join(out, "manifest.json")

    def check(res):
        days = Manifest.load(manifest_path).days
        totals: dict[str, int] = {}
        for day in res.days_processed:
            sinks, parts = _table_counts(spark, out, day)
            assert days[day]["sink_counts"] == sinks, day
            assert days[day]["partition_counts"] == parts, day
            for s, c in sinks.items():
                totals[s] = totals.get(s, 0) + c
        assert res.sink_counts == totals

    check(pipeline.run(spark, generated_pages_dir, out, day_batch=1))

    real = pipeline.write_stats

    def fail_once(*args):
        monkeypatch.setattr(pipeline, "write_stats", real)
        raise RuntimeError("stats failed")

    monkeypatch.setattr(pipeline, "write_stats", fail_once)
    with pytest.raises(RuntimeError, match="stats failed"):
        pipeline.run(spark, generated_pages_dir, out, day_batch=1)
    rerun = pipeline.run(spark, generated_pages_dir, out, day_batch=1)
    assert len(rerun.days_processed) == 1
    check(rerun)

    calls = 2
    while True:
        res = pipeline.run(spark, generated_pages_dir, out, day_batch=1, with_stats=False)
        if not res.days_processed:
            break
        check(res)
        calls += 1
    assert calls == 7  # one call per generated warc_day


def test_reopened_day_drops_sinks_it_no_longer_writes(spark, tmp_path):
    """A day re-opened in the manifest is re-routed from scratch: a sink
    that its new routing no longer writes loses its old partitions, and
    neither the manifest's counts nor the stats reports count them."""
    day = "2025-06-03"
    error = f"{day} 12:00:00.000 UTC [123] u@d ERROR:  division by zero\n"
    slow = f"{day} 12:00:01.000 UTC [124] u@d LOG:  duration: 5025.1 ms  statement: select 1\n"
    indir = str(tmp_path / "pages")
    out = str(tmp_path / "out")
    manifest_path = os.path.join(out, "manifest.json")

    def route(text):
        spark.createDataFrame(
            [("http://twin/0.log", datetime(2025, 6, 3, 12), text, None)],
            "url string, warc_ts timestamp, text string, lang string",
        ).write.mode("overwrite").parquet(indir)
        return pipeline.run(spark, indir, out)

    assert route(error + slow).sink_counts["errors"] == 1
    manifest = Manifest.load(manifest_path)
    del manifest.days[day]
    manifest.save()
    res = route(slow)

    assert res.days_processed == [day] and "errors" not in res.sink_counts
    assert [sink for sink, _ in pipeline._day_dirs(os.path.join(out, "routed"), day)] == [
        sink for sink in sorted(res.sink_counts)
    ]
    entry = Manifest.load(manifest_path).days[day]
    assert "errors" not in entry["sink_counts"]
    assert not any(key.startswith("errors/") for key in entry["partition_counts"])
    assert pq.read_table(os.path.join(out, "stats", "errors_top")).num_rows == 0


def _types(schema):
    return {f.name: f.dataType for f in schema}


def test_routed_schema_is_the_written_schema(spark, generated_pages_dir, tmp_path):
    """The schema the stats pass reads the routed table with, taken from
    the footers, is the one Spark infers from the written table; for
    generated pages that is ``ROUTED_SCHEMA``, the rows the merge edge
    cases write."""
    out = str(tmp_path / "out")
    routed = os.path.join(out, "routed")
    assert pipeline.routed_schema(routed) is None
    pipeline.run(spark, generated_pages_dir, out, day_batch=1, with_stats=False)
    inferred = spark.read.parquet(routed).schema
    assert _types(pipeline.routed_schema(routed)) == _types(inferred)
    assert _types(ROUTED_SCHEMA) == _types(inferred)


def _builder_reports(spark, out):
    """The six reports as the ``aggregates`` builders compute them over the
    whole written routed table: the oracle for the merged reports."""
    routed = spark.read.parquet(os.path.join(out, "routed")).where(
        F.col("sink").isin("errors", "stats")
    )
    err = routed.where(F.col("sink") == "errors")
    log_plus = routed.where(F.col("sink") == "stats")
    return {
        "errors_top": agg.errors_top(err, max_n=20),
        "errors_hist": agg.errors_hist(err),
        "slow_top": agg.slow_top(log_plus),
        "connections_totals": agg.connections_totals(log_plus),
        "connections_by_dim": agg.connections_by_dim(log_plus),
        "connections_buckets": agg.connections_buckets(log_plus),
    }


def _assert_reports_equal_builders(spark, out, oracle_dir=None):
    """Each ``stats/<name>`` has the builder's rows in the builder's order
    and its schema as Spark reads it. With ``oracle_dir``, the builder's
    output is also written as Spark's ``coalesce(1).write.parquet`` writes
    it, and the two files must read the same through pyarrow: schema
    (nullability included) and rows."""
    for name, oracle in _builder_reports(spark, out).items():
        path = os.path.join(out, "stats", name)
        got = spark.read.parquet(path)
        assert [(f.name, f.dataType) for f in got.schema] == [
            (f.name, f.dataType) for f in oracle.schema
        ], name
        assert got.collect() == oracle.collect(), name
        if oracle_dir is not None:
            want = os.path.join(oracle_dir, name)
            oracle.coalesce(1).write.mode("overwrite").parquet(want)
            assert spark.read.parquet(want).schema == got.schema, name
            mine, spark_written = pq.read_table(path), pq.read_table(want)
            assert mine.schema.equals(spark_written.schema), name
            assert mine.to_pylist() == spark_written.to_pylist(), name


def _stats_files(out, days):
    """The data files of the errors/stats partitions of ``days``."""
    routed = os.path.join(out, "routed")
    return {
        f.path
        for day in days
        for sink in ("errors", "stats")
        for part in os.scandir(os.path.join(routed, f"sink={sink}", f"warc_day={day}"))
        for f in os.scandir(part.path)
        if not f.name.startswith(("_", "."))
    }


def test_daily_stats_equal_full_recompute(
    spark, generated_pages_dir, tmp_path, monkeypatch
):
    """After every call of a seven-day daily run with stats, including a
    day re-run after its stats failed, each merged report equals its
    builder over the whole written routed table, and the partial pass
    read exactly the routed files of the day the call routed."""
    out = str(tmp_path / "out")
    oracle = str(tmp_path / "oracle")
    real_partials = agg.report_partials
    read = []

    def spy(routed, **kw):
        read.append({urlparse(f).path for f in routed.inputFiles()})
        return real_partials(routed, **kw)

    monkeypatch.setattr(agg, "report_partials", spy)

    def daily_call():
        read.clear()
        res = pipeline.run(spark, generated_pages_dir, out, day_batch=1)
        assert read == [_stats_files(out, res.days_processed)]
        _assert_reports_equal_builders(spark, out)
        return res

    days = [daily_call().days_processed]
    real = pipeline.write_stats

    def fail_once(*args):
        monkeypatch.setattr(pipeline, "write_stats", real)
        raise RuntimeError("stats failed")

    monkeypatch.setattr(pipeline, "write_stats", fail_once)
    with pytest.raises(RuntimeError, match="stats failed"):
        pipeline.run(spark, generated_pages_dir, out, day_batch=1)
    days.append(daily_call().days_processed)
    while len(days) < 7:
        days.append(daily_call().days_processed)
    assert [len(d) for d in days] == [1] * 7
    _assert_reports_equal_builders(spark, out, oracle)
    assert pipeline.run(spark, generated_pages_dir, out).days_processed == []


def test_no_stats_days_stay_in_reports(spark, generated_pages_dir, tmp_path):
    """Days routed without stats get their partial state from the next
    call with stats, so the reports still cover every routed day. A day
    re-routed without stats loses its old state, which would be stale,
    and gets a new one the same way."""
    out = str(tmp_path / "out")

    def has_state(day):
        return os.path.exists(
            os.path.join(out, "stats_partial", f"warc_day={day}", pipeline.PART_FILE)
        )

    for _ in range(3):
        pipeline.run(spark, generated_pages_dir, out, day_batch=1, with_stats=False)
    res = pipeline.run(spark, generated_pages_dir, out, day_batch=1)
    assert len(res.days_processed) == 1 and len(res.days_skipped) == 3
    _assert_reports_equal_builders(spark, out)
    assert all(map(has_state, res.days_processed + res.days_skipped))

    m = Manifest.load(os.path.join(out, "manifest.json"))
    first = min(m.completed_days())
    del m.days[first]
    m.save()
    rerun = pipeline.run(spark, generated_pages_dir, out, day_batch=1, with_stats=False)
    assert rerun.days_processed == [first] and not has_state(first)
    pipeline.run(spark, generated_pages_dir, out, day_batch=1)
    assert has_state(first)
    _assert_reports_equal_builders(spark, out)


def test_jsonlog_stats_equal_builders(spark, tmp_path):
    """A jsonlog input routed with stats, one day per call. Its routed
    table stores ``record_no`` as a long (``monotonically_increasing_id``,
    past 2**31 from the second input split on) and ``warc_ts`` as a
    session-zone timestamp; after every call the merged reports still
    equal their builders over the whole written routed table."""
    import json

    lines = [
        {
            "timestamp": f"2025-06-{day:02d} 12:{i:02d}:00.000 UTC",
            "error_severity": severity,
            "message": message,
            "user": "u",
            "dbname": "d",
            "application_name": "a",
            "remote_host": "h",
            "process_id": i,
        }
        for day in (3, 4)
        for i in range(30)
        for severity, message in [
            ("ERROR", f"division by zero {i % 3}"),
            ("LOG", f"duration: {4000 + 10 * i + day}.5 ms  statement: select {i}"),
            ("LOG", f"{grammar.CONN_RECEIVED_PREFIX} host=10.0.0.{i % 4} port=5432"),
            ("LOG", f"{grammar.CONN_AUTHORIZED_PREFIX} user=u database=d"),
        ]
    ]
    jdir = tmp_path / "jl"
    jdir.mkdir()
    (jdir / "pg.json").write_text("\n".join(json.dumps(r) for r in lines) + "\n")

    out = str(tmp_path / "out")
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "4096")  # several input splits, so several id ranges
    try:
        for want in (["2025-06-03"], ["2025-06-04"], []):
            res = pipeline.run(
                spark, str(jdir), out, day_batch=1, input_format="jsonlog"
            )
            assert res.days_processed == want
            _assert_reports_equal_builders(spark, out, str(tmp_path / "oracle"))
    finally:
        spark.conf.set(key, old)
    routed = spark.read.parquet(os.path.join(out, "routed"))
    assert dict(routed.dtypes)["record_no"] == "bigint"
    assert _types(pipeline.routed_schema(os.path.join(out, "routed"))) == _types(
        routed.schema
    )
    slow = pq.read_table(os.path.join(out, "stats", "slow_top"))
    assert slow.schema.field("record_no").type == pa.int64()
    assert max(slow["record_no"].to_pylist()) > 2**31


def _routed_row(day, sink, n, **cols):
    """One routed row of ``day`` (an int: 2025-06-<day>) in ``sink``."""
    row = {f.name: None for f in ROUTED_SCHEMA}
    row.update(
        sink=sink,
        url=f"http://h{n % 3}/{day}",
        record_no=n,
        raw=f"line {n}",
        format="stderr",
        severity="log" if sink == "stats" else "error",
        event_ts=datetime(2025, 6, day, n % 24, n % 60),
        warc_day=date(2025, 6, day),
        host_bucket=n % 2,
    )
    row.update(cols)
    return row


def _errors(day, messages):
    return [_routed_row(day, "errors", i, message=m) for i, m in enumerate(messages)]


def _slow(day, durations):
    return [
        _routed_row(day, "stats", 100 + i, duration_ms=d, message="duration")
        for i, d in enumerate(durations)
    ]


def _connections(day):
    """Received, authorized (one with SSL, one without kv), a failure and
    a stats row whose flags are null (no message)."""
    recv = grammar.CONN_RECEIVED_PREFIX + " host=10.0.0.1"
    auth = grammar.CONN_AUTHORIZED_PREFIX + " user=u database=d"
    return [
        _routed_row(day, "stats", 200, message=recv, host="10.0.0.1"),
        _routed_row(day, "stats", 201, message=recv, host=None),
        _routed_row(
            day, "stats", 202, message=auth + " " + grammar.CONN_SSL_NEEDLE,
            user="u", db="d", appname="a",
        ),
        _routed_row(day, "stats", 203, message=auth),
        _routed_row(
            day, "stats", 204, severity="fatal", message="auth failed",
            raw="FATAL: " + grammar.CONN_FAILURE_NEEDLES[0],
        ),
        _routed_row(day, "stats", 205, message=None),
    ]


#: each case: batches of (days, routed rows of those days); every batch
#: replaces its days' routed rows, then runs the stats step on them
MERGE_CASES = {
    "null_message_key": [
        ([1], _errors(1, ["b", None, "a"]) + _connections(1)),
        ([2], _errors(2, ["a", "b", None]) + _slow(2, [5.0])),
    ],
    "ties_at_top_20_cut": [
        ([1, 2], _errors(1, [f"m{i:02d}" for i in range(25)] + ["m24"] * 2)
         + _errors(2, [f"m{i:02d}" for i in reversed(range(25))])),
    ],
    "no_stats_rows": [([1], _errors(1, ["a", "a", "b"]))],
    "null_connection_flags_only": [
        ([1], _errors(1, ["a"]) + [_routed_row(1, "stats", 0, message=None)]),
    ],
    "no_errors_or_stats_rows": [
        ([1], [_routed_row(1, "quarantine", 0)]),
        ([2], _errors(2, ["a"]) + _slow(2, [3.0])),
        ([2], [_routed_row(2, "quarantine", 0)]),
    ],
    "day_ranked_below_top_10_rerun_alone": [
        ([1, 2], _slow(1, [100.0 + i for i in range(12)]) + _slow(2, [1.0, 2.0, 3.0])),
        ([1], _slow(1, [0.5])),
        ([2], _slow(2, [1.0, 2.0, 3.0])),
        ([2], _slow(2, [1.5, 2.5, 200.0])),
    ],
}


@pytest.mark.parametrize("case", sorted(MERGE_CASES))
def test_merged_reports_edge_cases(spark, tmp_path, case):
    """Each batch of hand-made routed rows, run through the stats step as
    ``run`` runs it, leaves reports equal to their builders over the
    whole routed table."""
    out = str(tmp_path / "out")
    routed = os.path.join(out, "routed")
    for i, (days, rows) in enumerate(MERGE_CASES[case]):
        day_strs = [f"2025-06-{d:02d}" for d in days]
        for day in day_strs:
            for part in glob.glob(os.path.join(routed, "sink=*", f"warc_day={day}")):
                shutil.rmtree(part)
        spark.createDataFrame(rows, ROUTED_SCHEMA).write.mode(
            "overwrite"
        ).partitionBy("sink", "warc_day", "host_bucket").parquet(routed)
        pipeline.write_stats(
            pipeline.read_stats_days(spark, routed, day_strs), out, day_strs
        )
        _assert_reports_equal_builders(spark, out, str(tmp_path / f"oracle{i}"))
