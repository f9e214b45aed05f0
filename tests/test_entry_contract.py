"""Driver-contract consistency: every oracle has a query, every query
has an oracle unless explicitly rows-only, and the callables are
importable without a SparkSession."""

import __spark_entry__ as entry

#: empty since round 3: e3's iterative k-means training was split out
#: (frozen E3_CENTROIDS literals, tools/train_e3_centroids.py), making
#: the probe phase fully oracle-checkable — every query has a value oracle
ROWS_ONLY: set[str] = set()


def test_every_oracle_has_a_query():
    qs, os_ = set(entry.queries()), set(entry.oracle_sql())
    assert os_ <= qs, os_ - qs


def test_rows_only_set_is_exactly_the_documented_one():
    qs, os_ = set(entry.queries()), set(entry.oracle_sql())
    assert qs - os_ == ROWS_ONLY


def test_query_callables_are_callable():
    for name, fn in entry.queries().items():
        assert callable(fn), name


def test_t_fan_keeps_null_key_rows(spark, tmp_path):
    """``_t_fan`` loses no row whose slice key is null: ``xxhash64(null)``
    is the seed (42), so ``pmod`` sends every null key to one slice."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ids = [None if i % 3 == 0 else i for i in range(60)]
    pq.write_table(
        pa.table({"doc_id": pa.array(ids, pa.int64()), "text": ["t"] * 60}),
        str(tmp_path / "documents.parquet"),
    )
    fanned = entry._t_fan(spark, str(tmp_path), "documents")
    assert fanned.count() == len(ids)
    assert fanned.where("doc_id is null").count() == ids.count(None)
