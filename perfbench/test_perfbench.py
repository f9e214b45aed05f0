"""The benchmark's own tests. The checks run without Spark; the smoke
tests start one small benchmark process per case (a few minutes in all).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import oracles, trace  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

SMOKE_SCALE = 0.25


def _bench(workload: str, seed: int, trace_on: int = 0) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", "1", "--trace", str(trace_on), "--scale", str(SMOKE_SCALE)],
        cwd=ROOT, capture_output=True, text=True, timeout=400,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _names(kind: str) -> list[str]:
    return sorted(m["name"] for m in SPEC[kind])


def test_workload_names_match_benchmark_json():
    assert sorted(WORKLOADS) == sorted(w["name"] for w in SPEC["workloads"])


def test_per_layer_names_match_benchmark_json():
    assert sorted(trace.PER_LAYER_ZERO) == _names("per_layer")


def test_manifest_check_catches_a_wrong_count(tmp_path):
    expected = {"parsed": {"2025-05-01": 3}, "routed": {"2025-05-01": {"errors": 2}}}
    manifest = {"days": {"2025-05-01": {"status": "complete", "input_rows": 3,
                                        "sink_counts": {"errors": 2}}}}
    (tmp_path / "manifest.json").write_text(json.dumps(manifest))
    days = ["2025-05-01"]
    assert oracles.check_spine_manifest(str(tmp_path), expected, days) == []
    expected["routed"]["2025-05-01"]["errors"] = 3
    assert oracles.check_spine_manifest(str(tmp_path), expected, days)


def test_union_find_groups():
    groups = oracles.union_find_groups([(3, 5), (5, 9), (1, 2), (9, 4)])
    assert groups == {3: 3, 5: 3, 9: 3, 4: 3, 1: 1, 2: 1}


def test_record_sinks_follow_the_grammar():
    assert oracles.record_sinks("no timestamp here", "plain") == ["quarantine"]
    rec = "2025-05-01 10:00:00.000 UTC [7] ERROR:  division by zero\n"
    assert oracles.record_sinks(rec, "plain") == ["errors"]


def test_banded_pairs_share_a_band_and_lie_within_the_bound():
    width = oracles.SIG_BITS // oracles.N_BANDS
    ones = (1 << oracles.SIG_BITS) - 1
    one_per_band = sum(1 << (width * b) for b in range(oracles.N_BANDS))
    sigs = {1: 0, 2: 0b111, 3: ones, 4: ones - 0xFF, 5: one_per_band, 6: 0xFFF << 4}
    # 1-5 lie within distance 4 but share no band; 1-6 share bands at distance 12
    assert oracles.banded_pairs(sigs) == [[1, 2, 3], [3, 4, 8]]


def _write_dedup_outputs(out, expected, pairs, groups):
    tables = {
        "exact": {"content_hash": [e[0] for e in expected["exact"]],
                  "cnt": [e[1] for e in expected["exact"]],
                  "keeper": [e[2] for e in expected["exact"]]},
        "pairs": {"doc1": [p[0] for p in pairs], "doc2": [p[1] for p in pairs],
                  "hamming": [p[2] for p in pairs]},
        "groups": {"doc_id": [g[0] for g in groups], "group_id": [g[1] for g in groups]},
    }
    for name, cols in tables.items():
        os.makedirs(out / name, exist_ok=True)
        pq.write_table(pa.table(cols), str(out / name / "part-0.parquet"))


def test_dedup_check_catches_a_lost_pair_and_a_wrong_distance(tmp_path):
    expected = oracles.write_documents(str(tmp_path / "docs"), seed=5, fraction=0.1)
    pairs, groups = expected["pairs"], expected["groups"]
    assert pairs and groups
    _write_dedup_outputs(tmp_path / "ok", expected, pairs, groups)
    assert oracles.check_dedup(str(tmp_path / "ok"), expected) == ([], [], [])
    wrong = [pairs[0][:2] + [pairs[0][2] - 1]] + pairs[2:]
    _write_dedup_outputs(tmp_path / "bad", expected, wrong, groups[1:])
    exact, pair_problems, group_problems = oracles.check_dedup(str(tmp_path / "bad"), expected)
    assert exact == [] and pair_problems and group_problems


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_end_to_end(workload):
    out = _bench(workload, seed=3)
    assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
    assert sorted(out["metrics"]) == _names("end_to_end")
    assert all(m["value"] > 0 for m in out["metrics"].values())


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_traced(workload):
    out = _bench(workload, seed=3, trace_on=1)
    assert out["correct"]
    assert sorted(out["metrics"]) == _names("per_layer")


def test_corrupted_expected_count_fails_the_run():
    """Mutation check: the same run with one expected routed count off by
    one reports an incorrect result."""
    seed = 991
    wl = WORKLOADS["spine_daily"](os.path.join(ROOT, ".perfbench_work", "inputs"), seed, SMOKE_SCALE)
    try:
        wl.prepare()
        path = os.path.join(wl.dir, "expected.json")
        with open(path) as f:
            expected = json.load(f)
        day = sorted(expected["routed"])[0]
        sink = sorted(expected["routed"][day])[0]
        expected["routed"][day][sink] += 1
        with open(path, "w") as f:
            json.dump(expected, f)
        out = _bench("spine_daily", seed)
        assert not out["correct"] and out["failed"] >= 1
    finally:
        shutil.rmtree(wl.dir, ignore_errors=True)
