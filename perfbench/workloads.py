"""The benchmark's workloads: inputs made from the seed, the unit each
run repeats, the output checks, and the per-layer probes of the traced
run."""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import oracles
from perfbench.trace import AGG_REPORTS

#: parsed events per spine_daily table: the generator's pages in order up
#: to this many records, so every seed carries the same load
DAILY_EVENTS = 1000
#: warc_days per spine_daily table, one ``run(day_batch=1)`` call each.
#: The generator spreads pages over seven days; two keep a run (set-up,
#: warm-up, three timed cycles) near a minute, which the benchmark's time
#: budget needs, while still growing the routed table under ``write_stats``.
DAILY_DAYS = 2


@dataclass
class Unit:
    """One timed unit: wall time, the times ``op_p50_s`` is taken over,
    items processed, bytes written and CPU seconds used."""

    wall_s: float
    op_s: list[float]
    items: int
    output_bytes: int
    calls: list = field(default_factory=list)
    stage_s: dict = field(default_factory=dict)
    cpu_s: float = 0.0
    #: how slow the host's cores ran around the unit (``run.host_scale``)
    scale: float = 1.0


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


def _span(tracer, name: str, **attrs):
    return tracer.span(name, **attrs) if tracer else contextlib.nullcontext()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """Shared bookkeeping: inputs cached per seed, and the count of
    operations attempted and failed with the reason for each failure."""

    name = ""
    #: fewest units a run measures, whatever ``--seconds`` allows
    min_units = 1

    def __init__(self, inputs_root: str, seed: int, scale: float):
        self.seed = seed
        self.scale = scale
        self.dir = os.path.join(inputs_root, f"{self.name}-{scale:g}-{seed}")
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, problems: list[str]) -> None:
        """Count one operation; it failed if its check found problems."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.failures.extend(problems)

    def prepare(self) -> None:
        marker = os.path.join(self.dir, "_COMPLETE")
        if not os.path.exists(marker):
            shutil.rmtree(self.dir, ignore_errors=True)
            os.makedirs(self.dir)
            expected = self.generate()
            with open(os.path.join(self.dir, "expected.json"), "w") as f:
                json.dump(expected, f)
            open(marker, "w").close()
        with open(os.path.join(self.dir, "expected.json")) as f:
            self.expected = json.load(f)

    @property
    def input_path(self) -> str:
        return os.path.join(self.dir, "input")


class SpineDaily(Workload):
    name = "spine_daily"
    #: the median over three cycles, not one, so that a cycle that meets a
    #: burst of host load is left out
    min_units = 3

    def generate(self) -> dict:
        from pgweasel_spark import gen

        target = DAILY_EVENTS * self.scale
        pages = gen.generate_pages(round(target / 2), seed=self.seed, include_fixtures=False)
        days = sorted({p["warc_ts"].date() for p in pages})[:DAILY_DAYS]
        pages = [p for p in pages if p["warc_ts"].date() in days]
        pages = pages[: oracles.pages_for_records(pages, target)]
        os.makedirs(self.input_path)
        pq.write_table(
            pa.Table.from_pylist(pages, schema=gen.ARROW_SCHEMA),
            os.path.join(self.input_path, "part-00000.parquet"),
            row_group_size=200,  # as gen.write_webtext writes it
        )
        return oracles.spine_expected(pages)

    def warm_up(self, spark, out: str) -> None:
        """The bulk path, every day in one ``pipeline.run`` call, whose
        stats tables are the reference for the daily cycle's; then one
        checked daily cycle. The bulk call leaves the per-day path cold:
        with four-day cycles, the first cycle after it ran about 40%
        slower than the sixth and later ones, the second about 10%."""
        from pgweasel_spark.plans import pipeline

        bulk = f"{out}-bulk"
        res = pipeline.run(spark, self.input_path, bulk)
        problems = oracles.check_spine_manifest(bulk, self.expected, res.days_processed)
        self.record([f"bulk: {p}" for p in problems])
        self.reference_stats = oracles.read_stats(bulk, AGG_REPORTS)
        unit = self.unit(spark, out)
        self.check(spark, out, unit)

    def unit(self, spark, out: str, tracer=None) -> Unit:
        from pgweasel_spark.plans import pipeline

        days = sorted(self.expected["parsed"])
        op_s, calls = [], []
        t0 = time.time()
        for day in days:
            t = time.time()
            with _span(tracer, "pipeline.run", day=day):
                res = pipeline.run(spark, self.input_path, out, day_batch=1)
            op_s.append(time.time() - t)
            calls.append((list(res.days_processed), sorted(res.days_skipped)))
        wall = time.time() - t0
        return Unit(
            wall_s=wall,
            op_s=op_s,
            items=sum(self.expected["parsed"].values()),
            output_bytes=dir_bytes(out),
            calls=calls,
        )

    def check(self, spark, out: str, unit: Unit) -> None:
        from pyspark.sql import functions as F

        days = sorted(self.expected["parsed"])
        written = spark.read.parquet(os.path.join(out, "routed"))
        counts = {
            (r["d"], r["sink"]): r["count"]
            for r in written.groupBy(
                F.date_format("warc_day", "yyyy-MM-dd").alias("d"), "sink"
            )
            .count()
            .collect()
        }
        manifest = oracles.check_spine_manifest(out, self.expected, days)
        stats = oracles.compare_stats(
            self.reference_stats, oracles.read_stats(out, AGG_REPORTS)
        )
        for i, day in enumerate(days):
            problems = []
            processed, skipped = unit.calls[i]
            if processed != [day] or skipped != days[:i]:
                problems.append(
                    f"call {i}: processed {processed} skipped {skipped}, "
                    f"expected [{day}] after {days[:i]}"
                )
            for sink, n in self.expected["routed"][day].items():
                if counts.get((day, sink), 0) != n:
                    problems.append(
                        f"{day}/{sink}: {counts.get((day, sink), 0)} routed rows, expected {n}"
                    )
            problems += [p for p in manifest if p.startswith(day)]
            if i == len(days) - 1:
                problems += stats
            self.record(problems)

    def layer_probes(self, spark, out: str, unit: Unit, tracer) -> dict:
        """Noop-sink ladder over the input (one step per public function of
        the fused map side) and the six stats reports one at a time over
        the cycle's routed table."""
        from pyspark.sql import functions as F

        from pgweasel_spark.operators import aggregates as agg
        from pgweasel_spark.operators import route
        from pgweasel_spark.operators.enrich import enrich
        from pgweasel_spark.operators.parse import parse_events, split_pages_sql
        from pgweasel_spark.plans import pipeline

        def pages():
            return spark.read.parquet(self.input_path)

        steps = {
            "scan": lambda: pages().select("url", "warc_ts", "lang", "text"),
            "split": lambda: split_pages_sql(pages()),
            "extract": lambda: parse_events(pages()),
            "enrich": lambda: enrich(parse_events(pages())),
            "route": lambda: route.with_partition_cols(
                route.explode_sinks(route.sink_flags(enrich(parse_events(pages()))))
            ).select(*pipeline.ROUTED_COLS),
        }
        routed = spark.read.parquet(os.path.join(out, "routed")).where(
            F.col("sink").isin("errors", "stats")
        )
        err = routed.where(F.col("sink") == "errors")
        log_plus = routed.where(F.col("sink") == "stats")
        reports = {
            "errors_top": lambda: agg.errors_top(err, max_n=20),
            "errors_hist": lambda: agg.errors_hist(err),
            "slow_top": lambda: agg.slow_top(log_plus),
            "connections_totals": lambda: agg.connections_totals(log_plus),
            "connections_by_dim": lambda: agg.connections_by_dim(log_plus),
            "connections_buckets": lambda: agg.connections_buckets(log_plus),
        }
        for _ in range(3):
            for name, build in steps.items():
                with tracer.span(f"ladder.{name}"):
                    _noop(build())
            for name, build in reports.items():
                with tracer.span(f"aggregates.{name}"):
                    _noop(build().coalesce(1))
        all_routed = spark.read.parquet(os.path.join(out, "routed"))
        return {
            "records": split_pages_sql(pages()).count(),
            "routed_rows": all_routed.count(),
            "quarantined": all_routed.where(F.col("sink") == "quarantine").count(),
            "parsed": sum(self.expected["parsed"].values()),
            "files": sum(
                f.endswith(".parquet")
                for _, _, fs in os.walk(os.path.join(out, "routed"))
                for f in fs
            ),
        }


class DedupGroups(Workload):
    name = "dedup_groups"
    #: the median over five passes leaves out the first, colder pass and
    #: a pass that meets a burst of host load
    min_units = 5

    def generate(self) -> dict:
        return oracles.write_documents(self.input_path, self.seed, self.scale)

    def warm_up(self, spark, out: str) -> None:
        """Two passes. Wall time per pass still falls after them, by
        about 20% from the third pass to the sixth, then levels off; the
        median over the timed passes leaves the colder ones out."""
        for i in range(2):
            unit = self.unit(spark, f"{out}{i}")
            self.check(spark, f"{out}{i}", unit)

    def unit(self, spark, out: str, tracer=None) -> Unit:
        from pgweasel_spark.operators.dedup import (
            exact_dedup,
            near_dup_groups,
            simhash60,
            simhash_near_dups,
        )

        stage_s = {}
        t0 = time.time()
        docs = spark.read.parquet(self.input_path)
        with _span(tracer, "dedup.exact_dedup"):
            exact_dedup(docs).write.parquet(os.path.join(out, "exact"))
        stage_s["exact_dedup"] = time.time() - t0
        t = time.time()
        with _span(tracer, "dedup.simhash_near_dups"):
            sig = docs.select("doc_id", simhash60("text").alias("sh")).persist()
            pairs = simhash_near_dups(
                sig,
                key_col="doc_id",
                sig_col="sh",
                max_hamming=oracles.MAX_HAMMING,
                n_bands=oracles.N_BANDS,
                allow_partial_recall=True,
            )
            pairs.write.parquet(os.path.join(out, "pairs"))
            sig.unpersist()
        stage_s["simhash_near_dups"] = time.time() - t
        t = time.time()
        with _span(tracer, "dedup.near_dup_groups"):
            near_dup_groups(spark.read.parquet(os.path.join(out, "pairs"))).write.parquet(
                os.path.join(out, "groups")
            )
        stage_s["near_dup_groups"] = time.time() - t
        wall = time.time() - t0
        self.cached_rdds_after = spark.sparkContext._jsc.getPersistentRDDs().size()
        # passes are independent: what a pass left cached is dropped, as
        # bench.py does between queries
        spark.catalog.clearCache()
        return Unit(
            wall_s=wall,
            # op_p50_s follows one fixed stage, the pairs call, so that it
            # keeps its meaning whichever stage gets faster
            op_s=[stage_s["simhash_near_dups"]],
            items=self.expected["n_docs"],
            output_bytes=dir_bytes(out),
            stage_s=stage_s,
        )

    def check(self, spark, out: str, unit: Unit) -> None:
        exact, pairs, groups = oracles.check_dedup(out, self.expected)
        self.record([f"exact: {p}" for p in exact])
        self.record([f"pairs: {p}" for p in pairs])
        self.record([f"groups: {p}" for p in groups])

    def layer_probes(self, spark, out: str, unit: Unit, tracer) -> dict:
        """Band candidates before the Hamming verify: the same banding with
        a distance bound every 60-bit pair meets."""
        from pgweasel_spark.operators.dedup import (
            SIMHASH_BITS,
            simhash60,
            simhash_near_dups,
        )

        docs = spark.read.parquet(self.input_path)
        sig = docs.select("doc_id", simhash60("text").alias("sh"))
        candidates = simhash_near_dups(
            sig,
            key_col="doc_id",
            sig_col="sh",
            max_hamming=SIMHASH_BITS,
            allow_partial_recall=True,
        ).count()
        return {
            "candidates": candidates,
            "pairs": len(oracles.read_rows(os.path.join(out, "pairs"), ["doc1"])),
            "cached_rdds_after": self.cached_rdds_after,
        }


WORKLOADS = {w.name: w for w in (SpineDaily, DedupGroups)}
