"""Per-layer attribution for the traced run, measured from outside the
program.

Spans are recorded by the benchmark around each call into a public
function. While a span is open the benchmark's thread carries the span as
its Spark job description. Spark's event log (turned on for the traced
session only) gives every job's submission and completion time, its SQL
execution id and its tasks' run time, CPU time, bytes and records. A job
belongs to the innermost span open when it was submitted: this also
places the jobs that ``write_stats`` submits from its thread pool, and the
jobs AQE submits, which carry no description.

Inside a ``pipeline.run`` span the SQL executions come in a fixed order:
executions before the one that writes files scan the input for pending
days, the one that writes is the routed write, and those after it count
the written partitions for the manifest. ``write_stats`` and
``Manifest.mark_complete`` are wrapped with spans of their own.

Whole-stage codegen fuses scan, split, extract, enrich and route into the
write's first stage, so those layers come from a ladder of noop-sink
materializations, one per public function, each step minus the one
before it (median of three). The six stats reports are materialized one
at a time, because ``write_stats`` runs them concurrently.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

NOTES = (
    "split/extract/enrich/route self times are differences between "
    "successive noop-sink materializations (ladder), not task metrics; "
    "pipeline.write.self_s is the write executions minus what the ladder "
    "gives scan (once per batch) and split..route (once)."
)

LADDER = ["scan", "split", "extract", "enrich", "route"]


class Tracer:
    def __init__(self, eventlog_dir: str):
        self.eventlog_dir = eventlog_dir
        os.makedirs(eventlog_dir, exist_ok=True)
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._sc = None
        self._restore: list[tuple] = []

    def spark_conf(self) -> dict[str, str]:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + self.eventlog_dir,
            # Spark 4 compresses event logs with zstd by default; the
            # Python zstandard module is not installed
            "spark.eventLog.compress": "false",
        }

    def attach(self, spark) -> None:
        """Record spans inside ``write_stats`` and the manifest update,
        which ``pipeline.run`` calls internally."""
        from pgweasel_spark.plans import manifest, pipeline

        self._sc = spark.sparkContext
        self._wrap(pipeline, "write_stats", "pipeline.write_stats")
        self._wrap(manifest.Manifest, "mark_complete", "pipeline.manifest.mark_complete")

    def _wrap(self, owner, attr: str, span_name: str) -> None:
        fn = getattr(owner, attr)

        def wrapped(*a, **kw):
            with self.span(span_name):
                return fn(*a, **kw)

        setattr(owner, attr, wrapped)
        self._restore.append((owner, attr, fn))

    def detach(self) -> None:
        for owner, attr, fn in self._restore:
            setattr(owner, attr, fn)
        self._restore = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        sid = len(self.spans)
        sp = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(),
            **attrs,
        }
        self.spans.append(sp)
        self._stack.append(sid)
        self._sc.setJobDescription(f"perfbench:{name}#{sid}")
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            self._sc.setJobDescription(
                None
                if parent is None
                else f"perfbench:{self.spans[parent]['name']}#{parent}"
            )

    # ------------------------------------------------------------------
    # event log
    # ------------------------------------------------------------------

    def _load(self) -> None:
        # Spark 4 writes a rolling log: a directory of events_<n>_<app> files
        files = sorted(
            glob.glob(os.path.join(self.eventlog_dir, "*", "events_*")),
            key=lambda p: int(os.path.basename(p).split("_")[1]),
        )
        if not files:
            raise RuntimeError(f"no event log under {self.eventlog_dir}")
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        tasks_failed = 0
        for line in _lines(files):
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = {
                    "id": ev["Job ID"],
                    "submit": ev["Submission Time"] / 1000,
                    "exec": props.get("spark.sql.execution.id"),
                    "tasks": [],
                }
                jobs[job["id"]] = job
                for sid in ev["Stage IDs"]:
                    stage_job[sid] = job["id"]
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                if ev["Task End Reason"]["Reason"] != "Success":
                    tasks_failed += 1
                m = ev.get("Task Metrics") or {}
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                if job is None:
                    continue
                job["tasks"].append(
                    {
                        "stage": ev["Stage ID"],
                        "launch": info["Launch Time"] / 1000,
                        "run_s": m.get("Executor Run Time", 0) / 1000,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "in_bytes": m.get("Input Metrics", {}).get("Bytes Read", 0),
                        "out_bytes": m.get("Output Metrics", {}).get("Bytes Written", 0),
                    }
                )
        self.jobs = sorted(jobs.values(), key=lambda j: j["submit"])
        self.tasks_failed = tasks_failed
        for job in self.jobs:
            job["span"] = self._innermost(job["submit"])

    def _innermost(self, t: float):
        best = None
        for sp in self.spans:
            if sp["start"] <= t <= sp.get("end", float("inf")):
                if best is None or sp["start"] >= best["start"]:
                    best = sp
        return None if best is None else best["id"]

    def _jobs_in(self, span_ids) -> list[dict]:
        ids = set(span_ids)
        return [j for j in self.jobs if j["span"] in ids]

    def _span_ids(self, name: str) -> list[int]:
        return [sp["id"] for sp in self.spans if sp["name"] == name]

    def _dur(self, name: str) -> list[float]:
        return [sp["end"] - sp["start"] for sp in self.spans if sp["name"] == name]

    # ------------------------------------------------------------------
    # metrics
    # ------------------------------------------------------------------

    def metrics(self, wl, unit, layers: dict) -> dict[str, float]:
        self.detach()
        self._load()
        m = {name: 0.0 for name in PER_LAYER_ZERO}
        m["spark.tasks_failed"] = self.tasks_failed
        if wl.name == "spine_daily":
            m.update(self._spine(unit, layers))
        else:
            m.update(self._dedup(unit, layers))
        return m

    def _ladder(self, name: str) -> tuple[float, float]:
        """Median wall and executor CPU seconds of one ladder step."""
        walls, cpus = [], []
        for sid in self._span_ids(name):
            sp = self.spans[sid]
            walls.append(sp["end"] - sp["start"])
            cpus.append(sum(t["cpu_s"] for j in self._jobs_in([sid]) for t in j["tasks"]))
        return statistics.median(walls), statistics.median(cpus)

    def _spine(self, unit, layers: dict) -> dict[str, float]:
        scan_s = write_s = manifest_s = 0.0
        in_bytes = in_tasks = out_bytes = 0
        skews = []
        for rid in self._span_ids("pipeline.run"):
            # one group per SQL execution; a job outside any execution
            # (file listing, schema inference) is a group of its own
            execs: dict = {}
            for job in self._jobs_in([rid]):
                key = job["exec"] if job["exec"] is not None else f"job{job['id']}"
                execs.setdefault(key, []).append(job)
            groups = sorted(execs.values(), key=lambda js: js[0]["submit"])
            writes = [i for i, js in enumerate(groups) if _tasks(js, "out_bytes")]
            w = writes[-1]
            for i, js in enumerate(groups):
                dur = max(j["end"] for j in js) - min(j["submit"] for j in js)
                if i < w:
                    scan_s += dur
                elif i == w:
                    write_s += dur
                    out_bytes += sum(t["out_bytes"] for t in _all_tasks(js))
                    stages = {t["stage"] for t in _all_tasks(js) if t["out_bytes"]}
                    for st in stages:
                        runs = [t["run_s"] for t in _all_tasks(js) if t["stage"] == st]
                        med = statistics.median(runs)
                        skews.append(max(runs) / med if med > 0 else 1.0)
                else:
                    manifest_s += dur
                if i <= w:
                    reads = [t for t in _all_tasks(js) if t["in_bytes"]]
                    in_bytes += sum(t["in_bytes"] for t in reads)
                    in_tasks += len(reads)
        mark_s = sum(self._dur("pipeline.manifest.mark_complete"))
        stats_ids = self._span_ids("pipeline.write_stats")
        stats_jobs = self._jobs_in(stats_ids)
        stats_s = sum(self._dur("pipeline.write_stats"))
        ladder = {k: self._ladder(f"ladder.{k}") for k in LADDER}
        n_batches = len(self._span_ids("pipeline.run"))
        record_s = ladder["route"][0] - ladder["scan"][0]
        m = {
            "pipeline.scan.self_s": scan_s,
            "pipeline.scan.input_bytes": in_bytes,
            "pipeline.scan.tasks": in_tasks,
            "pipeline.write.self_s": write_s - record_s - n_batches * ladder["scan"][0],
            "pipeline.write.files": layers["files"],
            "pipeline.write.output_bytes": out_bytes,
            "pipeline.write.task_skew": statistics.median(skews),
            "pipeline.manifest.self_s": manifest_s + mark_s,
            "pipeline.write_stats.self_s": stats_s,
            "pipeline.write_stats.jobs": len(stats_jobs),
            "pipeline.write_stats.scan_bytes": sum(
                t["in_bytes"] for j in stats_jobs for t in j["tasks"]
            ),
            "pipeline.write_stats.wait_s": sum(
                min((t["launch"] for t in j["tasks"]), default=j["end"]) - j["submit"]
                for j in stats_jobs
            ),
            "parse.split.self_s": ladder["split"][0] - ladder["scan"][0],
            "parse.split.records_out": layers["records"],
            "parse.extract.self_s": ladder["extract"][0] - ladder["split"][0],
            "parse.extract.cpu_s": ladder["extract"][1] - ladder["split"][1],
            "enrich.self_s": ladder["enrich"][0] - ladder["extract"][0],
            "route.self_s": ladder["route"][0] - ladder["enrich"][0],
            "route.rows_out": layers["routed_rows"],
            "route.fanout": layers["routed_rows"] / layers["parsed"],
            "route.quarantine_frac": layers["quarantined"] / layers["parsed"],
            "trace.unattributed_s": unit.wall_s - (scan_s + write_s + manifest_s + mark_s + stats_s),
        }
        for name in AGG_REPORTS:
            m[f"aggregates.{name}.self_s"] = statistics.median(self._dur(f"aggregates.{name}"))
        return m

    def _dedup(self, unit, layers: dict) -> dict[str, float]:
        stage_s = {s: sum(self._dur(f"dedup.{s}")) for s in DEDUP_STAGES}
        return {
            **{f"dedup.{s}.self_s": v for s, v in stage_s.items()},
            "dedup.pairs": layers["pairs"],
            "dedup.verify_yield": layers["pairs"] / layers["candidates"],
            "dedup.near_dup_groups.jobs": len(self._jobs_in(self._span_ids("dedup.near_dup_groups"))),
            "dedup.cached_rdds_after": layers["cached_rdds_after"],
            "trace.unattributed_s": unit.wall_s - sum(stage_s.values()),
        }


def _lines(files: list[str]):
    for path in files:
        with open(path) as f:
            yield from f


def _all_tasks(jobs: list[dict]) -> list[dict]:
    return [t for j in jobs for t in j["tasks"]]


def _tasks(jobs: list[dict], key: str) -> bool:
    return any(t[key] for t in _all_tasks(jobs))


AGG_REPORTS = [
    "errors_top",
    "errors_hist",
    "slow_top",
    "connections_totals",
    "connections_by_dim",
    "connections_buckets",
]
DEDUP_STAGES = ["exact_dedup", "simhash_near_dups", "near_dup_groups"]

#: every per-layer metric; a layer the workload never calls reads 0
PER_LAYER_ZERO = [
    "pipeline.scan.self_s",
    "pipeline.scan.input_bytes",
    "pipeline.scan.tasks",
    "pipeline.write.self_s",
    "pipeline.write.files",
    "pipeline.write.output_bytes",
    "pipeline.write.task_skew",
    "pipeline.manifest.self_s",
    "pipeline.write_stats.self_s",
    "pipeline.write_stats.jobs",
    "pipeline.write_stats.scan_bytes",
    "pipeline.write_stats.wait_s",
    "parse.split.self_s",
    "parse.split.records_out",
    "parse.extract.self_s",
    "parse.extract.cpu_s",
    "enrich.self_s",
    "route.self_s",
    "route.rows_out",
    "route.fanout",
    "route.quarantine_frac",
    *[f"aggregates.{r}.self_s" for r in AGG_REPORTS],
    *[f"dedup.{s}.self_s" for s in DEDUP_STAGES],
    "dedup.pairs",
    "dedup.verify_yield",
    "dedup.near_dup_groups.jobs",
    "dedup.cached_rdds_after",
    "spark.tasks_failed",
    "trace.overhead_frac",
    "trace.unattributed_s",
]
