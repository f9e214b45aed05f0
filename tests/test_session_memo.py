"""Plan pieces built once per SparkSession (``session.per_session``):
a second session builds its own broadcast dims and routes the same rows,
and the memo neither outlives its session nor grows with calls."""

import gc
import sys
import threading
import time
import types
import weakref
from concurrent.futures import ThreadPoolExecutor

from pgweasel_spark.operators import route
from pgweasel_spark.operators.enrich import enrich
from pgweasel_spark.operators.parse import parse_events
from pgweasel_spark.plans import pipeline
from pgweasel_spark.session import MEMO_ATTR, per_session


def _enriched_and_routed(session, pages_dir):
    enriched = enrich(parse_events(session.read.parquet(pages_dir)))
    rows = pipeline._routed(enriched, route.DEFAULT_SLOW_THRESHOLD_MS).collect()
    return enriched, sorted((tuple(r) for r in rows), key=repr)


def test_new_session_builds_its_own_dims(spark, generated_pages_dir):
    _, want = _enriched_and_routed(spark, generated_pages_dir)
    other = spark.newSession()
    enriched, got = _enriched_and_routed(other, generated_pages_dir)
    assert len(got) > 100
    assert got == want

    enriched.collect()
    plan = enriched._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert final.count("BroadcastHashJoin") == 4, final
    assert "LocalTableScan" in final, final

    dims = vars(other)[MEMO_ATTR]["enrich.dims"]
    first = vars(spark)[MEMO_ATTR]["enrich.dims"]
    assert all(d.sparkSession is other for d in dims.values())
    assert all(d.sparkSession is spark for d in first.values())


def test_memo_lives_with_its_session_and_does_not_grow(
    spark, generated_pages_dir, tmp_path
):
    other = spark.newSession()
    out = str(tmp_path / "out")
    pipeline.run(other, generated_pages_dir, out, day_batch=1)
    memo = dict(vars(other)[MEMO_ATTR])
    assert "enrich.dims" in memo
    for _ in range(2):
        pipeline.run(other, generated_pages_dir, out, day_batch=1)
    after = vars(other)[MEMO_ATTR]
    assert after.keys() == memo.keys()
    assert all(after[k] is v for k, v in memo.items())

    # the memo (and the dims in it, which reference the session) goes
    # with the session. PySpark itself pins the newest session it made
    # (``RDD.toDF`` closes over it), so make one more before collecting.
    gone = weakref.ref(other)
    del other, memo, after
    spark.newSession()
    gc.collect()
    assert gone() is None


def test_concurrent_misses_share_one_value():
    """Threads that miss the same key at once all get the first value
    stored, and the memo keeps one entry."""
    session = types.SimpleNamespace()
    start = threading.Barrier(16)

    def build():
        time.sleep(0.01)
        return object()

    def get():
        start.wait(timeout=10)
        return per_session(session, "key", build)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=16) as pool:
            values = [f.result(timeout=30) for f in [pool.submit(get) for _ in range(16)]]
    finally:
        sys.setswitchinterval(interval)
    assert all(v is values[0] for v in values)
    assert list(vars(session)[MEMO_ATTR]) == ["key"]
