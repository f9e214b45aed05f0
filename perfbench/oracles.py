"""Expected outputs, computed without Spark: routed row counts from
``grammar.py`` (the repository's semantic oracle) over the generated
pages, and the dedup outputs (content-hash groups, SimHash banded pairs,
connected components) restated in Python over the documents table."""

from __future__ import annotations

import hashlib
import json
import os
import random
from collections import Counter, defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

from pgweasel_spark import grammar as g
from pgweasel_spark.operators.route import (
    DEFAULT_SLOW_THRESHOLD_MS,
    MIN_SEV_ERRORS,
    MIN_SEV_LOG,
)


def record_sinks(rec: str, fmt: str) -> list[str]:
    """The sinks one record is routed to, restated from the reference
    semantics in ``grammar.py``."""
    if g.parse_timestamp(rec) is None:
        return ["quarantine"]
    sev = g.severity_csv(rec) if fmt == "csv" else g.severity_plain(rec)
    num = g.severity_num(sev)
    sinks = []
    if num >= MIN_SEV_ERRORS:
        sinks.append("errors")
    if num >= MIN_SEV_LOG:
        dur = g.extract_duration_ms(rec)
        if dur is not None and dur > DEFAULT_SLOW_THRESHOLD_MS:
            sinks.append("slow")
        if g.matches_lock(rec):
            sinks.append("locks")
        if g.matches_system(rec):
            sinks.append("system")
        msg = g.message(rec, fmt) or ""
        if (
            msg.startswith(g.CONN_RECEIVED_PREFIX)
            or msg.startswith(g.CONN_AUTHORIZED_PREFIX)
            or g.connection_failure(rec, sev)
            or dur is not None
        ):
            sinks.append("stats")
    return sinks


def pages_for_records(pages: list[dict], target: float) -> int:
    """Length of the shortest prefix of ``pages`` holding ``target``
    records."""
    total = 0
    for i, page in enumerate(pages, 1):
        total += len(g.split_records(page["text"] or ""))
        if total >= target:
            return i
    raise ValueError(f"{len(pages)} pages hold only {total} records")


def spine_expected(pages: list[dict]) -> dict:
    """Parsed records per warc_day and routed rows per (warc_day, sink)."""
    parsed: Counter = Counter()
    routed: dict[str, Counter] = defaultdict(Counter)
    for page in pages:
        day = page["warc_ts"].date().isoformat()
        parsed[day] += 0  # a day with pages is a day the pipeline batches
        routed.setdefault(day, Counter())
        if not page["text"]:
            continue
        fmt = "csv" if page["url"].lower().endswith(".csv") else "plain"
        for rec in g.split_records(page["text"]):
            parsed[day] += 1
            routed[day].update(record_sinks(rec, fmt))
    return {"parsed": dict(parsed), "routed": {d: dict(c) for d, c in routed.items()}}


def check_spine_manifest(out: str, expected: dict, days: list[str]) -> list[str]:
    """Problems with the manifest's lineage for ``days``, each prefixed
    with its day."""
    with open(os.path.join(out, "manifest.json")) as f:
        manifest = json.load(f)["days"]
    problems = []
    if sorted(days) != sorted(expected["parsed"]):
        problems.append(f"{days}: processed days, expected {sorted(expected['parsed'])}")
    for day in days:
        entry = manifest.get(day, {})
        if entry.get("status") != "complete":
            problems.append(f"{day}: not complete in the manifest")
            continue
        if entry["input_rows"] != expected["parsed"][day]:
            problems.append(
                f"{day}: manifest input_rows {entry['input_rows']}, "
                f"expected {expected['parsed'][day]}"
            )
        want = {s: n for s, n in expected["routed"][day].items() if n}
        if entry["sink_counts"] != want:
            problems.append(f"{day}: manifest sink_counts {entry['sink_counts']}, expected {want}")
    return problems


def read_rows(path: str, columns: list[str] | None = None) -> list[tuple]:
    table = pq.read_table(path, columns=columns)
    cols = [table.column(c).to_pylist() for c in table.column_names]
    return list(zip(*cols))


def read_stats(out: str, reports: list[str]) -> dict[str, list[str]]:
    """Each stats table as sorted rows, for an order-free comparison."""
    stats = {}
    for name in reports:
        rows = pq.read_table(os.path.join(out, "stats", name)).to_pylist()
        stats[name] = sorted(json.dumps(r, sort_keys=True, default=str) for r in rows)
    return stats


def compare_stats(reference: dict, got: dict) -> list[str]:
    return [
        f"stats/{name}: {len(got[name])} rows differ from the bulk run's {len(rows)}"
        for name, rows in reference.items()
        if got[name] != rows
    ]


# ---------------------------------------------------------------------------
# documents table for dedup_groups
# ---------------------------------------------------------------------------

#: the documents table of the repository's sf0.1 testdata (5,000 docs),
#: committed with the benchmark so a run reads only its checkout
DOCUMENTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables", "documents.parquet")
#: the d9 parameters: 4 bands of 15 bits over the 60-bit signature
MAX_HAMMING, N_BANDS, SIG_BITS = 8, 4, 60


def _word_hash60(word: str) -> int:
    return int(hashlib.md5(word.encode()).hexdigest()[:15], 16)


def simhash60(text: str, cache: dict[str, int]) -> int:
    """``dedup.simhash60`` restated: per-word md5-derived 60-bit hash,
    per-bit +1/-1 vote, sign to bit (as in tests/test_textops.py)."""
    votes = [0] * SIG_BITS
    for w in text.split(" "):
        h = cache.get(w)
        if h is None:
            h = cache[w] = _word_hash60(w)
        for j in range(SIG_BITS):
            votes[j] += 1 if (h >> j) & 1 else -1
    return sum(1 << j for j, v in enumerate(votes) if v > 0)


def banded_pairs(sigs: dict[int, int]) -> list[list[int]]:
    """``[doc1, doc2, hamming]`` for every pair of documents that share one
    of the ``N_BANDS`` signature bands and lie within ``MAX_HAMMING``: the
    exact output of ``simhash_near_dups`` with the d9 parameters."""
    width = SIG_BITS // N_BANDS
    buckets: dict[tuple[int, int], list[int]] = defaultdict(list)
    for doc in sorted(sigs):
        for b in range(N_BANDS):
            buckets[(b, (sigs[doc] >> (width * b)) & ((1 << width) - 1))].append(doc)
    candidates = {
        (ids[i], ids[j])
        for ids in buckets.values()
        for i in range(len(ids))
        for j in range(i + 1, len(ids))
    }
    pairs = ([a, b, bin(sigs[a] ^ sigs[b]).count("1")] for a, b in candidates)
    return sorted(p for p in pairs if p[2] <= MAX_HAMMING)


def write_documents(path: str, seed: int, fraction: float = 1.0) -> dict:
    """Write the committed table's documents in an order drawn from
    ``seed`` (the first ``fraction`` of them in that order), and return the expected dedup outputs: exact
    content-hash groups, the banded pairs with their distances, and the
    groups of a union-find over those pairs."""
    table = pq.read_table(DOCUMENTS)
    order = list(range(table.num_rows))
    random.Random(seed).shuffle(order)
    table = table.take(pa.array(order[: max(50, round(fraction * len(order)))]))
    os.makedirs(path, exist_ok=True)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"))
    ids = table.column("doc_id").to_pylist()
    texts = table.column("text").to_pylist()
    by_hash: dict[str, list[int]] = defaultdict(list)
    for i, t in zip(ids, texts):
        by_hash[hashlib.md5(t.encode()).hexdigest()].append(i)
    cache: dict[str, int] = {}
    pairs = banded_pairs({i: simhash60(t, cache) for i, t in zip(ids, texts)})
    return {
        "n_docs": len(ids),
        "exact": sorted([h, len(docs), min(docs)] for h, docs in by_hash.items()),
        "pairs": pairs,
        "groups": sorted(union_find_groups([(a, b) for a, b, _ in pairs]).items()),
    }


def union_find_groups(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Minimum reachable id of every node in ``pairs``."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_dedup(out: str, expected: dict) -> tuple[list[str], list[str], list[str]]:
    """Problems with the exact, pairs and groups outputs."""
    exact = sorted(
        [h, c, k] for h, c, k in read_rows(os.path.join(out, "exact"), ["content_hash", "cnt", "keeper"])
    )
    exact_problems = [] if exact == expected["exact"] else [
        f"{len(exact)} content-hash groups differ from the expected {len(expected['exact'])}"
    ]
    pairs = sorted(map(list, read_rows(os.path.join(out, "pairs"), ["doc1", "doc2", "hamming"])))
    want_pairs = expected["pairs"]
    pair_problems = [] if pairs == want_pairs else [
        f"{len(pairs)} pairs written, {len(want_pairs)} expected; "
        f"{len(set(map(tuple, pairs)) ^ set(map(tuple, want_pairs)))} differ"
    ]
    groups = sorted(read_rows(os.path.join(out, "groups"), ["doc_id", "group_id"]))
    want_groups = [tuple(row) for row in expected["groups"]]
    group_problems = [] if groups == want_groups else [
        f"{len(set(groups) ^ set(want_groups))} (doc_id, group_id) rows differ "
        f"from the union-find's ({len(groups)} written, {len(want_groups)} expected)"
    ]
    return exact_problems, pair_problems, group_problems
