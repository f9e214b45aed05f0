"""Benchmark of the pipeline spine and the dedup operators.

Run from the repository root:

    python3 perfbench/run.py --workload spine_daily --seed 7 --seconds 20 --trace 0

Workloads (one-line reasons in BENCHMARK.json):

- ``spine_daily``: the resumable daily job. ``plans.pipeline.run(...,
  day_batch=1)`` is called once per warc_day of a generated webtext table
  until no day is pending; the warm-up is one bulk ``pipeline.run`` over
  all days of the same table and one daily cycle.
- ``dedup_groups``: the committed sf0.1 documents table, its rows in an
  order drawn from the seed, written stage by stage as
  ``jobs/run_dedup.py`` does: ``exact_dedup``, ``simhash_near_dups`` with
  the d9 parameters, ``near_dup_groups``.

Each run drives Spark in-process through ``session.get_spark`` with
``local[<cores>]`` and no other setting changed, as a closed loop with one
client: the next call is made only after the previous one returned. A
*unit* (one daily cycle, one dedup pass) is repeated until the units have
run for ``--seconds`` and there are at least ``min_units`` of them (three
cycles, five passes); every unit's outputs are checked outside the timed
region, and each metric is a median over the run's units or calls.
Inputs are made from ``--seed`` and cached per seed under
``.perfbench_work/`` outside every timed region.

Times are scaled to a reference speed of the host's cores. The cores of
this shared host change speed by up to 1.7x within minutes (a unit's CPU
seconds grow with its wall time, their ratio steady), which no median
within a run removes. So the benchmark probes the cores' speed
(``procstat.speed_probe``, outside the program) before and after set-up
and after each unit, and divides each time by ``host_scale`` around it.
The detail line gives the unscaled metrics and the scale factors.

``--trace 0`` prints the end-to-end metrics, measured untraced.
``--trace 1`` runs one untraced unit, restarts the session with Spark's
event log on, runs one traced unit plus the per-layer probes, and prints
the per-layer metrics (see ``trace.py``). Layers a workload never calls
read 0.

The last stdout line is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; the line before it is a
``{"detail": ...}`` object with sample counts, per-call times and the
host's CPU steal share. Exit status is 0 when the run completed (whether
or not its outputs were correct) and non-zero when it could not run.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import procstat  # noqa: E402


def _process_start_time() -> float:
    """Wall-clock time this process was started, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _setup_env(run_dir: str) -> None:
    """Environment for the JVM and the Python workers it starts: workers
    import ``pgweasel_spark`` from the checkout, and every temporary file
    stays inside it."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(":") if p]
    os.environ["PYTHONPATH"] = ":".join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )


def _cores() -> int:
    return len(os.sched_getaffinity(0))


#: ``procstat.speed_probe`` on a quiet host of 4 cores (2.1 GHz Xeon).
#: Reported times are scaled to this speed.
PROBE_REF = 0.052


def start_session(extra_conf: dict[str, str] | None = None):
    from pgweasel_spark.session import get_spark

    spark = get_spark(
        "perfbench", master=f"local[{_cores()}]", extra_conf=extra_conf
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the active Spark context and the JVM behind it, and wait for
    the JVM (and the Python workers it forked) to exit."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    elif SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def host_scale(before: float, after: float) -> float:
    """How slow the host's cores ran over an interval, from the speed
    probes on either side of it: 1 at ``PROBE_REF``, 1.5 when the probe
    took half as long again."""
    return (before + after) / 2 / PROBE_REF


def _timed_units(
    spark, wl, run_dir: str, seconds: float, probe: float, min_units: int = 1
) -> list:
    """Closed loop: run units until they have taken ``seconds`` in total
    and there are at least ``min_units``; probe the host's speed after
    each one, and check each one outside the timed region. ``probe`` is
    the speed probe taken just before the first unit."""
    units = []
    busy = 0.0
    jvm = procstat.jvm_pid()
    while busy < seconds or len(units) < min_units:
        out = os.path.join(run_dir, f"unit{len(units)}")
        cpu0 = procstat.tree_cpu_seconds(jvm)
        unit = wl.unit(spark, out)
        unit.cpu_s = procstat.tree_cpu_seconds(jvm) - cpu0
        after = procstat.speed_probe(_cores())
        unit.scale = host_scale(probe, after)
        probe = after
        busy += unit.wall_s
        wl.check(spark, out, unit)
        shutil.rmtree(out, ignore_errors=True)
        units.append(unit)
    return units


def end_to_end(setup_s: float, setup_scale: float, units, scaled: bool = True) -> dict[str, float]:
    """The end-to-end metrics. With ``scaled``, each time is divided by
    the host's ``host_scale`` around it, so that it reads as on cores of
    ``PROBE_REF`` speed."""
    def k(scale: float) -> float:
        return scale if scaled else 1.0

    return {
        "setup_s": setup_s / k(setup_scale),
        "wall_s": statistics.median(u.wall_s / k(u.scale) for u in units),
        # median over every call of the run (Unit.op_s)
        "op_p50_s": statistics.median(t / k(u.scale) for u in units for t in u.op_s),
        "items_per_s": statistics.median(u.items * k(u.scale) / u.wall_s for u in units),
        "cpu_s": statistics.median(u.cpu_s / k(u.scale) for u in units),
    }


def _traced(spark, wl, run_dir: str, probe: float):
    """One untraced unit, then the same unit and the layer probes in a
    new session of the same JVM with the event log on."""
    from perfbench import trace

    untraced = _timed_units(spark, wl, run_dir, 0, probe)[0]
    spark.stop()
    tracer = trace.Tracer(os.path.join(run_dir, "eventlog"))
    spark = start_session(tracer.spark_conf())
    try:
        tracer.attach(spark)
        out = os.path.join(run_dir, "traced")
        unit = wl.unit(spark, out, tracer)
        wl.check(spark, out, unit)
        layers = wl.layer_probes(spark, out, unit, tracer)
    finally:
        tracer.detach()
        stop_jvm()  # also closes the event log
    metrics = tracer.metrics(wl, unit, layers)
    metrics["trace.overhead_frac"] = (unit.wall_s - untraced.wall_s) / untraced.wall_s
    return [untraced, unit], metrics, {"notes": trace.NOTES}


def run(args) -> dict:
    t_proc = _process_start_time()
    from perfbench.workloads import WORKLOADS

    spec = load_spec()
    kind = "per_layer" if args.trace else "end_to_end"
    units_of = {m["name"]: m["unit"] for m in spec[kind]}
    work = os.path.join(ROOT, ".perfbench_work")
    run_dir = os.path.join(work, "runs", str(os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    _setup_env(run_dir)
    wl = WORKLOADS[args.workload](os.path.join(work, "inputs"), args.seed, args.scale)
    steal = procstat.StealMeter()
    t_probe = time.time()
    probe = procstat.speed_probe(_cores())
    t_probe = time.time() - t_probe
    try:
        spark = start_session()
        t_ready = time.time()
        wl.prepare()  # made and checked outside every timed region
        t0 = time.time()
        wl.warm_up(spark, os.path.join(run_dir, "warm"))
        setup_s = (t_ready - t_proc - t_probe) + (time.time() - t0)
        after = procstat.speed_probe(_cores())
        setup_scale = host_scale(probe, after)
        if args.trace:
            units, metrics, detail = _traced(spark, wl, run_dir, after)
        else:
            units = _timed_units(spark, wl, run_dir, args.seconds, after, wl.min_units)
            metrics = end_to_end(setup_s, setup_scale, units)
            detail = {
                "unscaled": end_to_end(setup_s, setup_scale, units, scaled=False),
                "peak_rss_mb": procstat.tree_peak_rss_mb(procstat.jvm_pid()),
            }
    finally:
        stop_jvm()
        shutil.rmtree(run_dir, ignore_errors=True)
    if sorted(metrics) != sorted(units_of):
        raise RuntimeError(
            f"metrics {sorted(metrics)} differ from BENCHMARK.json {sorted(units_of)}"
        )
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "cores": _cores(),
        "setup_s": setup_s,
        "setup_scale": setup_scale,
        "scale": [u.scale for u in units],
        "unit_wall_s": [u.wall_s for u in units],
        "op_s": [u.op_s for u in units],
        "op_samples": sum(len(u.op_s) for u in units),
        "stage_s": [u.stage_s for u in units if u.stage_s],
        "cpu_s": [u.cpu_s for u in units],
        "output_bytes": [u.output_bytes for u in units],
        "steal_frac": steal.fraction(),
        "failures": wl.failures[:20],
        **detail,
    }
    print(json.dumps({"detail": detail}))
    return {
        "correct": wl.failed == 0,
        "attempted": wl.attempted,
        "failed": wl.failed,
        "metrics": {n: {"value": metrics[n], "unit": u} for n, u in units_of.items()},
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--scale",
        type=float,
        default=1.0,
        help="input size factor (the benchmark's own smoke tests use < 1)",
    )
    args = ap.parse_args(argv)
    try:
        import pgweasel_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
