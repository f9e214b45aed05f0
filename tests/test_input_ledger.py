"""The manifest's input ledger: a new, changed or removed input file
re-opens the days it holds, and the output then equals a fresh full run
over the final input (routed rows over every column, the six stats
reports, the manifest's lineage)."""

import json
import os
from itertools import groupby

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import StructType

from pgweasel_spark import gen
from pgweasel_spark.plans import pipeline
from pgweasel_spark.plans.manifest import Manifest
from tests.test_cli_streaming import (
    _cli_days,
    _jsonlog_lines,
    _jsonlog_writer,
    _pipeline_output,
    _run_cli,
)


def _pages_by_day():
    """The generator's 80 pages (seed 7) by warc_day, each day's pages
    in (warc_ts, url) order."""
    pages = sorted(
        gen.generate_pages(80, seed=7, include_fixtures=False),
        key=lambda p: (p["warc_ts"], p["url"]),
    )
    return {
        str(day): list(ps)
        for day, ps in groupby(pages, key=lambda p: p["warc_ts"].date())
    }


def _write_pages(path, pages):
    pq.write_table(pa.Table.from_pylist(pages, schema=gen.ARROW_SCHEMA), str(path))


def _assert_equals_fresh_run(spark, tmp_path, indir, out, input_format="parquet"):
    fresh = str(tmp_path / "fresh")
    pipeline.run(spark, str(indir), fresh, input_format=input_format)
    assert _pipeline_output(spark, out) == _pipeline_output(spark, fresh)


def _ledger(out):
    return Manifest.load(os.path.join(out, "manifest.json")).ledger


def test_cli_run_reroutes_a_late_file(spark, tmp_path):
    """A file of pages for a completed day, arriving after that day was
    routed, re-opens the day on the next `cli run`, which re-routes it."""
    by_day = _pages_by_day()
    first = min(by_day)
    late = by_day[first][-2:]
    by_day[first] = by_day[first][:-2]
    indir = tmp_path / "in"
    indir.mkdir()
    for i, (day, pages) in enumerate(sorted(by_day.items())):
        _write_pages(indir / f"day{i}.parquet", pages)
    out = str(tmp_path / "out")
    argv = ["run", "--input", str(indir), "--out", out]
    assert _cli_days(argv) == sorted(by_day)

    _write_pages(indir / "late.parquet", late)
    text = _run_cli(argv)
    assert f"processed days=['{first}'] reopened=['{first}']" in text
    _assert_equals_fresh_run(spark, tmp_path, indir, out)


def _day_files(out, days):
    """mtime of every file under the routed partitions of ``days``."""
    routed = os.path.join(out, "routed")
    return {
        os.path.join(root, name): os.stat(os.path.join(root, name)).st_mtime_ns
        for day in days
        for _, day_dir in pipeline._day_dirs(routed, day)
        for root, _, names in os.walk(day_dir)
        for name in names
    }


def test_rewritten_file_reopens_exactly_its_days(spark, tmp_path):
    """A file rewritten in place re-opens the days it holds and no
    other: the other days' routed files are not rewritten."""
    by_day = _pages_by_day()
    days = sorted(by_day)
    indir = tmp_path / "in"
    indir.mkdir()
    _write_pages(indir / "a.parquet", by_day[days[0]] + by_day[days[1]])
    for day in days[2:]:
        _write_pages(indir / f"{day}.parquet", by_day[day])
    out = str(tmp_path / "out")
    pipeline.run(spark, str(indir), out)
    others = _day_files(out, days[2:])
    assert others

    _write_pages(indir / "a.parquet", by_day[days[0]] + by_day[days[1]][:-1])
    res = pipeline.run(spark, str(indir), out)
    assert res.days_reopened == res.days_processed == days[:2]
    assert _day_files(out, days[2:]) == others
    _assert_equals_fresh_run(spark, tmp_path, indir, out)


def test_removed_file_reroutes_its_days(spark, tmp_path):
    """Removing files re-opens their days: a day that a remaining file
    holds is re-routed from the remaining files, and a day that no file
    holds any more leaves the routed table, the reports' partial states
    and the manifest."""
    by_day = _pages_by_day()
    days = sorted(by_day)
    half = len(by_day[days[1]]) // 2
    indir = tmp_path / "in"
    indir.mkdir()
    _write_pages(indir / "a.parquet", by_day[days[0]] + by_day[days[1]][:half])
    _write_pages(indir / "b.parquet", by_day[days[1]][half:])
    for day in days[2:]:
        _write_pages(indir / f"{day}.parquet", by_day[day])
    out = str(tmp_path / "out")
    pipeline.run(spark, str(indir), out)

    os.remove(indir / "b.parquet")
    os.remove(indir / f"{days[2]}.parquet")
    res = pipeline.run(spark, str(indir), out)
    assert res.days_reopened == days[1:3]
    assert res.days_processed == [days[1]]
    assert pipeline._day_dirs(os.path.join(out, "routed"), days[2]) == []
    assert not os.path.exists(pipeline._partial_dir(out, days[2]))
    assert days[2] not in Manifest.load(os.path.join(out, "manifest.json")).days
    _assert_equals_fresh_run(spark, tmp_path, indir, out)


def test_stats_failure_after_reopen_leaves_days_pending(
    spark, tmp_path, monkeypatch
):
    """The re-open is saved before any routing: when ``write_stats``
    fails after it, the late file is in the ledger and its day stays
    pending, so the next call re-routes the day."""
    by_day = _pages_by_day()
    first = min(by_day)
    late = by_day[first][-2:]
    indir = tmp_path / "in"
    indir.mkdir()
    _write_pages(indir / "all.parquet", [p for ps in by_day.values() for p in ps[:-2]])
    out = str(tmp_path / "out")
    pipeline.run(spark, str(indir), out)
    _write_pages(indir / "late.parquet", late)

    real = pipeline.write_stats

    def fail_once(*args):
        monkeypatch.setattr(pipeline, "write_stats", real)
        raise RuntimeError("stats failed")

    monkeypatch.setattr(pipeline, "write_stats", fail_once)
    with pytest.raises(RuntimeError, match="stats failed"):
        pipeline.run(spark, str(indir), out)
    manifest = Manifest.load(os.path.join(out, "manifest.json"))
    assert manifest.completed_days() == set(by_day) - {first}
    assert len(manifest.ledger["files"]) == 2

    res = pipeline.run(spark, str(indir), out)
    assert res.days_processed == [first] and res.days_reopened == []
    _assert_equals_fresh_run(spark, tmp_path, indir, out)


def test_jsonlog_late_file_reroutes_its_day(spark, tmp_path):
    """The jsonlog twin of the late-file case, ``record_no`` compared."""
    indir = tmp_path / "logs"
    indir.mkdir()
    for day in (3, 4, 5):
        _jsonlog_writer(_jsonlog_lines(day, 4))(str(indir / f"day{day}.json"))
    out = str(tmp_path / "out")
    res = pipeline.run(spark, str(indir), out, input_format="jsonlog")
    assert res.days_processed == ["2025-06-03", "2025-06-04", "2025-06-05"]

    _jsonlog_writer(_jsonlog_lines(4, 2, offset=50))(str(indir / "late.json"))
    res = pipeline.run(spark, str(indir), out, input_format="jsonlog")
    assert res.days_reopened == res.days_processed == ["2025-06-04"]
    _assert_equals_fresh_run(spark, tmp_path, indir, out, "jsonlog")


def test_ledger_schema_is_the_inferred_schema(spark, generated_pages_dir, tmp_path):
    """The schema the ledger stores, with which a known input is read
    without an inference job, is the one Spark infers from the input."""
    out = str(tmp_path / "pages")
    pipeline.run(spark, generated_pages_dir, out, day_batch=1, with_stats=False)
    stored = StructType.fromJson(json.loads(_ledger(out)["schema"]))
    assert stored == spark.read.parquet(generated_pages_dir).schema

    jdir = tmp_path / "jl"
    jdir.mkdir()
    _jsonlog_writer(_jsonlog_lines(3, 2))(str(jdir / "pg.json"))
    out = str(tmp_path / "jsonlog")
    pipeline.run(spark, str(jdir), out, with_stats=False, input_format="jsonlog")
    stored = StructType.fromJson(json.loads(_ledger(out)["schema"]))
    assert stored == pipeline.read_input(spark, [str(jdir)], "jsonlog").schema


def test_glob_input_and_glob_characters_in_names(spark, tmp_path):
    """The input may be a glob, as for Spark's reader, and a listed file
    is read by its literal name even when that holds glob characters;
    a path that matches nothing fails loudly."""
    by_day = _pages_by_day()
    days = sorted(by_day)
    indir = tmp_path / "in"
    indir.mkdir()
    _write_pages(indir / "a[1].parquet", by_day[days[0]])
    _write_pages(indir / "b.parquet", [p for d in days[1:] for p in by_day[d]])
    out = str(tmp_path / "out")
    assert pipeline.run(spark, str(indir / "*.parquet"), out).days_processed == days
    assert pipeline.run(spark, str(indir / "*.parquet"), out).days_processed == []
    _assert_equals_fresh_run(spark, tmp_path, indir, out)
    with pytest.raises(FileNotFoundError):
        pipeline.run(spark, str(tmp_path / "missing"), out)


def test_removed_day_leaves_the_reports_without_stats(spark, tmp_path):
    """A call without stats that drops a day no file holds any more still
    merges the reports again, so they no longer count that day."""
    by_day = _pages_by_day()
    days = sorted(by_day)
    indir = tmp_path / "in"
    indir.mkdir()
    for day in days:
        _write_pages(indir / f"{day}.parquet", by_day[day])
    out = str(tmp_path / "out")
    pipeline.run(spark, str(indir), out)

    os.remove(indir / f"{days[-1]}.parquet")
    res = pipeline.run(spark, str(indir), out, with_stats=False)
    assert res.days_processed == [] and res.days_reopened == [days[-1]]
    _assert_equals_fresh_run(spark, tmp_path, indir, out)


def test_ledger_refuses_another_or_an_emptied_input(spark, tmp_path):
    """An output is tied to the input its ledger was built from: another
    input, or the same one with no file left (an unmounted directory),
    fails with a one-line CLI error and deletes no day."""
    by_day = _pages_by_day()
    indir, other = tmp_path / "in", tmp_path / "other"
    indir.mkdir()
    other.mkdir()
    _write_pages(indir / "a.parquet", [p for ps in by_day.values() for p in ps])
    _write_pages(other / "a.parquet", by_day[min(by_day)])
    out = str(tmp_path / "out")
    pipeline.run(spark, str(indir), out)
    manifest = open(os.path.join(out, "manifest.json"), "rb").read()

    with pytest.raises(pipeline.InputMismatch, match="holds the output of"):
        pipeline.run(spark, str(other), out)
    os.remove(indir / "a.parquet")
    with pytest.raises(SystemExit) as exit_:
        _run_cli(["run", "--input", str(indir), "--out", out])
    assert exit_.value.code == 2
    assert open(os.path.join(out, "manifest.json"), "rb").read() == manifest
    for day in by_day:
        assert pipeline._day_dirs(os.path.join(out, "routed"), day)


def test_listing_skips_the_names_spark_skips(spark, tmp_path):
    """The ledger lists exactly the files Spark's reader reads: names
    starting with ``.``, ``_`` (unless a ``k=v`` partition directory) or
    ending in ``._COPYING_`` are skipped."""
    by_day = _pages_by_day()
    days = sorted(by_day)
    indir = tmp_path / "in"
    for sub in ("_k=1", "_k=2", "_temporary", ".staging"):
        (indir / sub).mkdir(parents=True)
    _write_pages(indir / "_k=1" / "a.parquet", by_day[days[0]])
    _write_pages(indir / "_k=2" / "b.parquet", [p for d in days[1:] for p in by_day[d]])
    for hidden in ("_temporary/c.parquet", ".staging/d.parquet", "_k=1/.e.parquet",
                   "_k=1/_f.parquet", "_k=2/g.parquet._COPYING_"):
        _write_pages(indir / hidden, by_day[days[0]])
    out = str(tmp_path / "out")
    assert pipeline.run(spark, str(indir), out).days_processed == days

    names = {p.rsplit("/", 2)[-2] + "/" + p.rsplit("/", 1)[-1] for p in _ledger(out)["files"]}
    spark_names = {
        p.rsplit("/", 2)[-2] + "/" + p.rsplit("/", 1)[-1]
        for p in spark.read.parquet(str(indir)).inputFiles()
    }
    assert names == spark_names == {"_k=1/a.parquet", "_k=2/b.parquet"}
    _assert_equals_fresh_run(spark, tmp_path, indir, out)


def test_days_of_an_unlisted_file_fail_loudly(spark, tmp_path, monkeypatch):
    """Days that ``input_days`` keys by a path the listing lacks would
    never be routed; the call fails before the ledger takes the files."""
    by_day = _pages_by_day()
    indir = tmp_path / "in"
    indir.mkdir()
    _write_pages(indir / "a.parquet", [p for ps in by_day.values() for p in ps])
    real = pipeline.input_days
    monkeypatch.setattr(
        pipeline,
        "input_days",
        lambda rows, file: {p + "-moved": ds for p, ds in real(rows, file).items()},
    )
    out = str(tmp_path / "out")
    with pytest.raises(RuntimeError, match="listing lacks"):
        pipeline.run(spark, str(indir), out)
    assert not os.path.exists(os.path.join(out, "manifest.json"))
