"""Physical-plan quality gates — the 100 TB story, asserted.

These tests pin the plan shapes that matter at scale: column pruning (the
multi-KB ``html``/``text`` columns must not be read by stages that don't
need them), broadcast joins for dims, TakeOrderedAndProject for top-K,
partial aggregation for groupBys, and partition pruning on the routed
sinks.
"""

import os
import re

import pytest
from pyspark.sql import functions as F

from pgweasel_spark.operators import aggregates as agg
from pgweasel_spark.operators import route
from pgweasel_spark.operators.enrich import enrich
from pgweasel_spark.operators.parse import parse_events, split_pages


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_html_column_pruned(spark, generated_pages_dir):
    """The split stage must never scan the html payload column."""
    plan = _plan(split_pages(spark.read.parquet(generated_pages_dir)))
    m = re.search(r"ReadSchema: (.*)", plan)
    assert m, plan
    assert "html" not in m.group(1)
    assert "text" in m.group(1)


def test_events_count_prunes_text(spark, generated_pages_dir):
    """A downstream agg that only needs counts should still read text
    (needed by the splitter) but nothing else heavy; sanity: scan schema
    is the 4 slim columns."""
    df = parse_events(spark.read.parquet(generated_pages_dir)).groupBy(
        "severity"
    ).count()
    m = re.search(r"ReadSchema: (.*)", _plan(df))
    assert "html" not in m.group(1)


def test_enrich_uses_broadcast_joins(spark, generated_pages_dir):
    """Four broadcast hash joins whose build sides are local table scans,
    in the executed plan: no dim goes through an RDD (``Scan
    ExistingRDD``, a job of Python tasks per call)."""
    df = enrich(parse_events(spark.read.parquet(generated_pages_dir)))
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "ExistingRDD" not in final, final
    assert final.count("BroadcastHashJoin") == 4, final
    assert "LocalTableScan" in final, final
    assert "SortMergeJoin" not in final, final


def test_slow_top_is_take_ordered(spark, generated_pages_dir):
    ev = parse_events(spark.read.parquet(generated_pages_dir))
    plan = _plan(agg.slow_top(ev))
    assert "TakeOrderedAndProject" in plan


@pytest.mark.parametrize(
    "report,order",
    [
        (agg.errors_hist, lambda: [F.col("bucket_epoch")]),
        (agg.connections_buckets, lambda: [F.col("bucket_epoch")]),
        (
            agg.connections_by_dim,
            lambda: [F.col("dim"), F.col("cnt").desc(), F.col("value")],
        ),
    ],
    ids=["errors_hist", "connections_buckets", "connections_by_dim"],
)
def test_report_sorted_in_its_one_partition(spark, generated_pages_dir, report, order):
    """The bucket and by-dim reports come out as one partition sorted in
    place: no range-partitioning exchange (and so no sampling job), and
    the row order of a global sort."""
    df = report(parse_events(spark.read.parquet(generated_pages_dir)))
    assert "rangepartitioning" not in _plan(df)
    rows = df.collect()
    assert len(rows) > 1
    assert rows == df.orderBy(*order()).collect()


def test_errors_top_has_partial_agg(spark, generated_pages_dir):
    ev = parse_events(spark.read.parquet(generated_pages_dir))
    plan = _plan(agg.errors_top(ev))
    # partial (map-side) + final HashAggregate around one exchange
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan


def test_routed_sink_partition_pruning(spark, generated_pages_dir, tmp_path):
    """Filtering a routed sink by sink+day must prune partitions at scan."""
    from pgweasel_spark.plans import pipeline

    out = str(tmp_path / "out")
    pipeline.run(spark, generated_pages_dir, out, with_stats=False)
    df = spark.read.parquet(os.path.join(out, "routed")).where(
        (F.col("sink") == "errors") & (F.col("warc_day") == "2025-05-03")
    )
    plan = _plan(df)
    m = re.search(r"PartitionFilters: \[(.*?)\]", plan)
    assert m, plan
    assert "sink" in m.group(1) and "warc_day" in m.group(1)


def test_severity_filter_pushed_to_scan(spark, generated_pages_dir, tmp_path):
    """Column predicates on the routed table reach the parquet reader."""
    from pgweasel_spark.plans import pipeline

    out = str(tmp_path / "out2")
    pipeline.run(spark, generated_pages_dir, out, with_stats=False)
    df = spark.read.parquet(os.path.join(out, "routed")).where(
        F.col("severity_num") >= 8
    )
    plan = _plan(df)
    assert re.search(r"PushedFilters: \[.*GreaterThanOrEqual\(severity_num", plan), plan


def test_default_spine_has_no_python_nodes(spark, generated_pages_dir):
    """With the JVM splitter, the whole parse→enrich→route plan must
    contain zero Python evaluation operators — everything stays in
    whole-stage codegen."""
    from pgweasel_spark.operators import route

    ev = enrich(parse_events(spark.read.parquet(generated_pages_dir)))
    routed = route.explode_sinks(route.sink_flags(ev))
    plan = _plan(routed)
    for node in ("MapInPandas", "BatchEvalPython", "ArrowEvalPython"):
        assert node not in plan, node


def test_salted_count_matches_plain_and_is_two_phase(spark, generated_pages_dir):
    """salted_count_by must equal a plain groupBy count on the skewed
    host dimension, via two exchanges (salted partial + final)."""
    ev = parse_events(spark.read.parquet(generated_pages_dir)).select(
        "url", "record_no", F.parse_url("url", F.lit("HOST")).alias("value")
    )
    salted = agg.salted_count_by(ev, ["value"])
    plain = {
        r["value"]: r["cnt"]
        for r in ev.groupBy("value").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    got = {r["value"]: r["cnt"] for r in salted.collect()}
    assert got == plain
    assert _plan(salted).count("Exchange") >= 2


def test_simhash_band_join_is_equijoin(spark):
    """d5b's multi-band candidate join must be a hash/merge EQUI-join on
    (band, bval) — never a nested-loop over all pairs."""
    from pgweasel_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, f"w{i} x y z a b c") for i in range(20)],
        "doc_id long, text string",
    )
    plan = _plan(dedup.simhash_near_dups(df, max_hamming=3))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def _python_eval_nodes(plan: str) -> int:
    """Python UDF evaluation nodes in a formatted plan (each node has one
    numbered details section)."""
    return len(re.findall(r"^\(\d+\) ArrowEvalPython$", plan, re.M))


def test_simhash_signature_computed_once(spark):
    """The signature kernel (one Python evaluation node) must appear
    exactly once in d5b's physical plan: both band-join sides read the
    persisted ``(key, sh)`` frame (InMemoryTableScan), never recompute it
    (the round-2 plan had two FileScans each computing the signature)."""
    from pgweasel_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, f"w{i} x y z a b c") for i in range(20)],
        "doc_id long, text string",
    )
    plan = _plan(dedup.simhash_near_dups(df, max_hamming=3))
    assert _python_eval_nodes(plan) == 1
    assert plan.count("_simhash60_batch(") == 1
    assert plan.count("InMemoryTableScan") >= 2


def test_simhash_sig_col_reuse_no_recompute(spark):
    """With a precomputed ``sig_col`` the operator must not hash text at
    all — no signature kernel beyond the caller's own, pure banding over
    the given column."""
    from pgweasel_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, f"w{i} x y z") for i in range(20)],
        "doc_id long, text string",
    )
    sig = df.select("doc_id", dedup.simhash60("text").alias("sh0")).persist()
    try:
        out = dedup.simhash_near_dups(
            sig, key_col="doc_id", sig_col="sh0", max_hamming=3
        )
        plan = _plan(out)
        # the caller-persisted frame's InMemoryRelation prints its defining
        # plan (containing the kernel) once; both scan sides are cache reads
        assert _python_eval_nodes(plan) <= 1
        assert plan.count("InMemoryTableScan") >= 2
        # equivalence with the self-computing path
        base = dedup.simhash_near_dups(df, max_hamming=3)
        assert sorted(map(tuple, out.collect())) == sorted(
            map(tuple, base.collect())
        )
    finally:
        sig.unpersist()


def test_minhash_signature_computed_once(spark):
    """lsh_candidate_pairs must persist the signature frame so the
    n_perm md5-min folds (the dominant map cost) run once — both band
    self-join sides read the cache, never recompute (the same round-2
    d5b bug, fixed there in round 3; this gates the MinHash twin)."""
    from pgweasel_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, f"w{i} x y z a b c") for i in range(20)],
        "doc_id long, text string",
    )
    sigs = dedup.minhash_signatures(df)
    out = dedup.lsh_candidate_pairs(sigs)
    plan = _plan(out)
    # the persisted InMemoryRelation prints its defining plan (with the
    # 8 array_min signature folds) once; both join sides are cache reads
    assert plan.count("InMemoryTableScan") >= 2
    assert plan.count("array_min") <= 8
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ngram_jaccard_uses_presplit_shingles(spark):
    """d4's shingles must be built from ONE split per doc (array slices
    over a pre-split words attribute), never the inline shape that
    re-evaluates split() per gram element — O(words²·n) per doc. Gate:
    split() appears at most twice per join side (once in the pushed
    size filter + once in the _w projection, CSE'd by codegen), never
    inside the gram-builder transform lambda. (Persisting the shingle
    frame was measured 2x SLOWER than recomputing the pre-split
    projection, so recompute-per-side is the intended shape.)"""
    from pgweasel_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, f"w{i} x y z a b c", "s", 20 + i) for i in range(20)],
        "doc_id long, text string, source string, n_chars int",
    )
    plan = _plan(dedup.ngram_jaccard_near_dups(df))
    assert plan.count("split(") <= 4
    assert "CartesianProduct" not in plan


def test_blocked_gemm_plan_single_pandas_group(spark):
    """The exact blocked-GEMM engine is one explode + one grouped-pandas
    node — no pair-join at all, and only the groupBy exchange."""
    from pgweasel_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.5]) for i in range(10)],
        "vec_id long, embedding array<float>",
    )
    plan = _plan(dedup.embedding_near_dups_blocked(df, threshold=0.9))
    assert "FlatMapGroupsInPandas" in plan
    assert "Join" not in plan


def test_lock_system_filters_stay_in_codegen(spark, generated_pages_dir):
    """The single-regex lock/system predicates must not break the
    routing stage out of whole-stage codegen (the 17/24-contains chains
    did — measured 5x slower)."""
    ev = enrich(parse_events(spark.read.parquet(generated_pages_dir)))
    routed = route.explode_sinks(route.sink_flags(ev))
    routed.collect()  # AQE only finalizes codegen markers after execution
    plan = routed._jdf.queryExecution().executedPlan().toString()
    # codegen'd stages print as "*(n) Project/Filter/..."; the sink-flag
    # Project (which carries the RLIKE predicates) must be starred
    assert "*(" in plan
    assert "RLIKE(raw" in plan
    import re as _re

    m = _re.search(r"([^\n]*)RLIKE\(raw", plan)
    assert m and "*(" in m.group(1), m.group(0) if m else plan


def test_bucket_gemm_lsh_plan_single_pandas_group(spark):
    """The LSH near-dup default engine is bucket → grouped-pandas GEMM:
    a groupBy exchange plus ONE broadcast join of the tiny per-bucket
    size frame (the sub-block salting bound, r5) — never a row-pair
    join or cartesian product."""
    from pgweasel_spark.operators import dedup

    df = spark.createDataFrame(
        [(i, [float(i % 5), 1.0, 0.5, -0.25]) for i in range(12)],
        "vec_id long, embedding array<float>",
    )
    plan = _plan(
        dedup.embedding_near_dups(df, threshold=0.5, lsh_planes=4, dim=4)
    )
    assert "FlatMapGroupsInPandas" in plan
    # the only join is the broadcast of the ≤2^n_planes-row bucket-size
    # frame; a pair join would be a SortMergeJoin/ShuffledHashJoin on
    # row keys or a cartesian product. (formatted plans print each node
    # twice: tree + detail section)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_bucket_peaks_single_upstream_computation(spark):
    """bucket_peaks feeds the bucket frame to both the stats aggregate
    and the join; the upstream scan+aggregate must run once (checkpointed
    leaf), not once per branch (AQE defeats plain exchange reuse)."""
    from pgweasel_spark.operators import aggregates as agg_mod

    ev = spark.createDataFrame(
        [(i % 5, 1) for i in range(50)], "bucket int, x int"
    )
    buckets = ev.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    plan = _plan(agg_mod.bucket_peaks(buckets))
    # both branches read the materialized leaf — no recomputation of the
    # bucket aggregation (zero HashAggregate over the raw input rows
    # beyond what the checkpoint already ran)
    assert "Scan ExistingRDD" in plan
    assert plan.count("HashAggregate") <= 4  # stats partial+final only


def test_vocab_topk_plan(spark):
    """t8 must be partial-agg + TakeOrderedAndProject — never a global
    sort of the full gram-count table."""
    from pgweasel_spark.operators.textstats import vocab_top_ngrams

    df = spark.createDataFrame(
        [(1, "a b c d e")], "doc_id long, text string"
    )
    plan = _plan(vocab_top_ngrams(df, n=2, k=10))
    assert "TakeOrderedAndProject" in plan
    assert "HashAggregate" in plan
