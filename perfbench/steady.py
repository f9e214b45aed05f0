"""Repeat the benchmark over several seeds and report each metric's
spread: the distance between the first and third quartile of its values
as a share of their median (``statistics.quantiles(values, n=4)``).

    python3 perfbench/steady.py --seeds 1-10 --out perfbench/results/set1.json
    python3 perfbench/steady.py --seeds 11-20 --compare perfbench/results/set1.json \\
        --out perfbench/results/set2.json

Each run's CPU steal share, wall time and check outcome are kept with
its metrics. With ``--compare`` the medians are also set against an
earlier set's, as a share of the earlier median.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _seeds(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    return {
        "seed": seed,
        "run_s": time.time() - t0,
        "result": json.loads(lines[-1]),
        "detail": json.loads(lines[-2])["detail"],
    }


def spread(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else None}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--compare")
    ap.add_argument("--out")
    a = ap.parse_args()
    earlier = None
    if a.compare:
        with open(a.compare) as f:
            earlier = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    report = {"seeds": a.seeds, "run_seconds": spec["run_seconds"], "workloads": {}}
    for wl in a.workloads:
        runs = []
        for seed in _seeds(a.seeds):
            r = run_once(wl, seed, spec["run_seconds"], a.trace)
            runs.append(r)
            print(f"{wl} seed {seed}: {r['run_s']:.0f} s, correct={r['result']['correct']}, "
                  f"steal={r['detail']['steal_frac']:.3f}", file=sys.stderr, flush=True)
        names = list(runs[0]["result"]["metrics"])
        stats = {}
        for n in names:
            s = spread([r["result"]["metrics"][n]["value"] for r in runs])
            s["bound"] = bounds.get(n)
            if earlier:
                old = earlier["workloads"][wl]["metrics"][n]["median"]
                s["vs_earlier"] = (s["median"] - old) / old if old else None
            stats[n] = s
            print(f"  {n:28s} median {s['median']:.6g}  spread {s['spread']}"
                  + (f"  vs earlier {s['vs_earlier']:+.3f}" if earlier else ""),
                  file=sys.stderr)
        unscaled = {
            n: spread([r["detail"]["unscaled"][n] for r in runs])
            for n in runs[0]["detail"].get("unscaled", {})
        }
        for n, u in unscaled.items():
            print(f"  unscaled {n:19s} median {u['median']:.6g}  spread {u['spread']}",
                  file=sys.stderr)
        report["workloads"][wl] = {
            "metrics": stats,
            "unscaled": unscaled,
            "all_correct": all(r["result"]["correct"] for r in runs),
            "runs": runs,
        }
    text = json.dumps(report, indent=1)
    if a.out:
        with open(a.out, "w") as f:
            f.write(text + "\n")
    else:
        print(text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
