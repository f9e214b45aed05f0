"""Interleaved best-of-N re-measure for an arbitrary query family
(VERDICT r3 task #6: a4c/t2/t3 showed +23-35% in the driver window but
-18-29% on the pinned local snapshot; decide noise vs real with one
protocol run).

One Spark session, N rounds, queries interleaved within each round (a
steal-time burst hits all queries equally, not one), first round dropped
as warm-up, cache cleared between queries. Prints one JSON line with
per-query min/median/all-samples.

Usage:
    taskset -c 0-15 python tools/bench_family.py q1,q2,... [rounds] [sf_dir]
"""

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    names = sys.argv[1].split(",")
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 6
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"

    import __spark_entry__ as entry
    from pgweasel_spark.session import get_spark

    spark = get_spark("bench-family")
    spark.sparkContext.setLogLevel("ERROR")
    all_qs = entry.queries()
    unknown = [n for n in names if n not in all_qs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    qs = {n: all_qs[n] for n in names}

    samples = {k: [] for k in qs}
    for r in range(rounds + 1):  # +1 warm-up round, dropped
        for name, fn in qs.items():
            t0 = time.time()
            fn(spark, sf_dir).count()
            dt = round(time.time() - t0, 3)
            spark.catalog.clearCache()
            if r > 0:
                samples[name].append(dt)
    out = {
        name: {
            "min": min(v),
            "median": round(statistics.median(v), 3),
            "max": max(v),
            "samples": v,
        }
        for name, v in samples.items()
    }
    print(json.dumps({"sf_dir": sf_dir, "rounds": rounds, "queries": out}))


if __name__ == "__main__":
    main()
