"""Broadcast dims as local relations: contents, schema, and routed output
equal to the old ``createDataFrame`` dims (the plan shape is pinned in
test_plans.py)."""

import pytest
from pyspark.sql.types import StructType

from pgweasel_spark import grammar
from pgweasel_spark.gen import HOSTS
from pgweasel_spark.operators import enrich as E
from pgweasel_spark.operators import route
from pgweasel_spark.operators.parse import parse_events
from pgweasel_spark.plans import pipeline
from pgweasel_spark.session import MEMO_ATTR

#: (dim, DDL of the former ``createDataFrame`` schema, Python source rows)
DIMS = [
    (
        E.dim_severity,
        "severity string, ordinal int, class string",
        [
            (s, grammar.SEVERITY_NUM[s], grammar.SEVERITY_CLASS[s])
            for s in sorted(grammar.SEVERITY_NUM)
        ],
    ),
    (
        E.dim_sqlstate,
        "state_class string, category string",
        list(E.SQLSTATE_CLASSES.items()),
    ),
    (
        E.dim_host,
        "host_name string, is_skewed boolean",
        [(h, i < 2) for i, h in enumerate(HOSTS)],
    ),
    (
        E.dim_lang,
        "lang_code string, lang_family string",
        list(E.LANG_FAMILIES.items()),
    ),
]


@pytest.mark.parametrize(
    "dim,ddl,source", DIMS, ids=[d.__name__ for d, _, _ in DIMS]
)
def test_dim_equals_python_source(spark, dim, ddl, source):
    df = dim(spark)
    assert [tuple(r) for r in df.collect()] == source
    expected = StructType.fromDDL(ddl)
    assert [(f.name, f.dataType) for f in df.schema] == [
        (f.name, f.dataType) for f in expected
    ]


def test_routed_rows_equal_create_dataframe_dims(
    spark, generated_pages_dir, monkeypatch
):
    """The routed rows are the same as with the dims built by
    ``createDataFrame(rows, ddl)``, the form the local relations replace."""

    def routed_rows():
        events = E.enrich(parse_events(spark.read.parquet(generated_pages_dir)))
        rows = pipeline._routed(events, route.DEFAULT_SLOW_THRESHOLD_MS).collect()
        return sorted((tuple(r) for r in rows), key=repr)

    got = routed_rows()
    # enrich builds its dims once per session: an empty memo for the rest
    # of the test makes it build them again from the patched functions
    monkeypatch.setattr(spark, MEMO_ATTR, {})
    for dim, ddl, source in DIMS:
        monkeypatch.setattr(
            E,
            dim.__name__,
            lambda s, rows=source, ddl=ddl: s.createDataFrame(rows, ddl),
        )
    want = routed_rows()
    assert len(got) > 100
    assert got == want
