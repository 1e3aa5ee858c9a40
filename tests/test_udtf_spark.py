"""The reference behaviors through a real SparkSession: SQL UDTF +
LATERAL join (§3.2's three formulations) and the DataFrame operator."""

import pytest
from pyspark.sql import functions as F

from hive_jq_udtf_spark import udtf as jq_udtf


@pytest.fixture(scope="module")
def spark_jq(spark):
    jq_udtf.register(spark, "jq")
    return spark


def test_sql_scalar_types(spark_jq):
    rows = spark_jq.sql(
        """SELECT * FROM jq('{"timezones":[{"name":"Tokyo","offset":540},
                             {"name":"Taipei","offset":480}]}',
                           '.timezones[]', 'name:string', 'offset:int')"""
    ).collect()
    assert [(r.name, r.offset) for r in rows] == [("Tokyo", 540), ("Taipei", 480)]


def test_sql_single_type_col1(spark_jq):
    df = spark_jq.sql(
        """SELECT * FROM jq('{"a": 5}', '.a', 'int')"""
    )
    assert df.columns == ["col1"]
    assert df.collect()[0].col1 == 5


def test_sql_lateral_join(spark_jq):
    # the README.md:121 lateral-view example, Spark-4 LATERAL syntax
    spark_jq.sql(
        """SELECT 'Asia' AS region,
                  '[{"name":"Tokyo","offset":540},{"name":"Seoul","offset":540}]'
                  AS timezones
           UNION ALL
           SELECT 'Europe',
                  '[{"name":"Paris","offset":60}]'"""
    ).createOrReplaceTempView("regions_json")
    rows = spark_jq.sql(
        """SELECT r.region, tz.name, tz.offset
           FROM regions_json r,
                LATERAL jq(r.timezones, '.[]', 'name:string', 'offset:int') tz
           ORDER BY r.region, tz.name"""
    ).collect()
    assert [(r.region, r.name, r.offset) for r in rows] == [
        ("Asia", "Seoul", 540),
        ("Asia", "Tokyo", 540),
        ("Europe", "Paris", 60),
    ]


def test_sql_error_channel(spark_jq):
    # NAME:TYPE destructures top-level object fields (M3), so the
    # program emits objects
    rows = spark_jq.sql(
        """SELECT * FROM (VALUES ('{"n": 1}'), ('broken{')) AS t(j),
           LATERAL jq(t.j, 'if $error == null then {n: .n} else {n: -1} end', 'n:int') v"""
    ).collect()
    assert sorted(r.n for r in rows) == [-1, 1]


def test_sql_skip_on_error(spark_jq):
    rows = spark_jq.sql(
        """SELECT * FROM (VALUES ('{"n": 1}'), ('broken{')) AS t(j),
           LATERAL jq(t.j, 'if $error == null then {n: .n} else empty end', 'n:int') v"""
    ).collect()
    assert [r.n for r in rows] == [1]


def test_sql_abort_on_error(spark_jq):
    with pytest.raises(Exception) as ei:
        spark_jq.sql(
            """SELECT * FROM (VALUES ('broken{')) AS t(j),
               LATERAL jq(t.j, 'if $error == null then . else error($error.message) end',
                          'n:int') v"""
        ).collect()
    assert "jq error" in str(ei.value)


def test_sql_constant_enforcement(spark_jq):
    # D3: non-constant program must be rejected at analysis
    with pytest.raises(Exception):
        spark_jq.sql(
            """SELECT * FROM (VALUES ('{}', '.a')) AS t(j, p),
               LATERAL jq(t.j, t.p, 'n:int') v"""
        ).collect()


def test_sql_nested_types(spark_jq):
    rows = spark_jq.sql(
        """SELECT * FROM jq(
             '{"st": {"x": 1}, "m": {"k": 2}, "a": [1, 2]}', '.',
             'st:struct<x:int>', 'm:map<string,int>', 'a:array<int>')"""
    ).collect()
    r = rows[0]
    assert r.st.x == 1
    assert r.m == {"k": 2}
    assert r.a == [1, 2]


def test_dataframe_jq_explode(spark_jq):
    df = spark_jq.createDataFrame(
        [("Asia", '[{"name":"Tokyo","offset":540}]'), ("Europe", '[{"name":"Paris","offset":60}]')],
        "region string, timezones string",
    )
    out = jq_udtf.jq_explode(df, "timezones", ".[]", "name:string", "offset:int")
    rows = sorted((r.region, r.name, r.offset) for r in out.collect())
    assert rows == [("Asia", "Tokyo", 540), ("Europe", "Paris", 60)]
    assert out.columns == ["region", "timezones", "name", "offset"]


def test_dataframe_jq_explode_outer(spark_jq):
    df = spark_jq.createDataFrame(
        [("a", '[1]'), ("b", "[]")], "id string, arr string"
    )
    inner = jq_udtf.jq_explode(df, "arr", ".[]", "int")
    assert [r.id for r in inner.collect()] == ["a"]
    outer = jq_udtf.jq_explode(df, "arr", ".[]", "int", outer=True)
    assert sorted((r.id, r.col1) for r in outer.collect()) == [("a", 1), ("b", None)]


def test_udtf_on_events_table(spark_jq, sf_dir):
    from hive_jq_udtf_spark.sources.tables import load_table

    events = load_table(spark_jq, sf_dir, "events")
    events.createOrReplaceTempView("events")
    out = spark_jq.sql(
        """SELECT e.event_type, sum(p.k) AS sum_k
           FROM events e, LATERAL jq(e.props, '{k: .k}', 'k:int') p
           GROUP BY e.event_type ORDER BY e.event_type"""
    ).collect()
    assert len(out) == 5
    assert all(r.sum_k > 0 for r in out)


def test_versioned_registration(spark_jq):
    from hive_jq_udtf_spark.udtf import register_versioned

    register_versioned(spark_jq)
    out = spark_jq.sql(
        """SELECT v.k FROM (SELECT '{"k": 9}' AS j) t,
           LATERAL jq1(t.j, '{k: .k}', 'k:int') v"""
    ).collect()
    assert [r.k for r in out] == [9]


def test_sql_macros_first_and_values(spark_jq):
    """jq_first / jq_values table-function macros (udtf.py::
    register_macros): pure program rewrites over the shared UDTF.
    first → at most one row; values → non-null outputs only; both
    coexist with the scalar jq_first UDF (separate registries)."""
    from hive_jq_udtf_spark.udtf import register_macros

    register_macros(spark_jq)
    rows = spark_jq.sql(
        """SELECT t.* FROM LATERAL
           jq_values('{"a":[3,null,5]}', '.a[]', 'v:int') t"""
    ).collect()
    # multi-column decl: object outputs only — scalars have no field v
    assert [r.v for r in rows] == [None, None]
    rows = spark_jq.sql(
        """SELECT t.* FROM LATERAL
           jq_values('{"a":[3,null,5]}', '.a[]', 'int') t"""
    ).collect()
    assert [r.col1 for r in rows] == [3, 5]  # null dropped
    rows = spark_jq.sql(
        """SELECT t.* FROM LATERAL
           jq_first('{"a":[3,4,5]}', '.a[]', 'int') t"""
    ).collect()
    assert [r.col1 for r in rows] == [3]
    # empty stream → zero rows (first(empty) is empty, not null)
    assert (
        spark_jq.sql(
            """SELECT t.* FROM LATERAL jq_first('{"a":[]}', '.a[]', 'int') t"""
        ).count()
        == 0
    )


def test_dataframe_lateral_join_formulation(spark_jq):
    """Spark 4's DataFrame.lateralJoin as the FOURTH lateral
    formulation (SURVEY §2.3): the registered jq UDTF applied per
    outer row via a table-function reference, joined laterally —
    equivalent rows to jq_explode on the same program."""
    from hive_jq_udtf_spark.udtf import jq_explode, register

    register(spark_jq, "jq")
    df = spark_jq.createDataFrame(
        [(1, '{"xs": [10, 20]}'), (2, '{"xs": [30]}'), (3, '{"xs": []}')],
        "id long, j string",
    )
    df.createOrReplaceTempView("lj_docs")
    lj = spark_jq.sql(
        """SELECT d.id, t.v FROM lj_docs d,
           LATERAL jq(d.j, '.xs[]', 'v:int') t"""
    )
    # NAME:TYPE form DESTRUCTURES object results (M3); scalar elements
    # have no field v -> NULL (M1) — one row per element either way
    got = sorted(((r.id, r.v) for r in lj.collect()), key=repr)
    ref = sorted(
        ((r.id, r.v)
         for r in jq_explode(df, "j", ".xs[]", "v:int").select("id", "v").collect()),
        key=repr,
    )
    assert got == ref == [(1, None), (1, None), (2, None)]
    # (spark.tvf exposes only built-in table functions, so the
    # DataFrame lateralJoin surface composes with SQL-registered jq
    # via spark.sql subqueries — the LATERAL form above IS that path)


@pytest.mark.parametrize(
    "text",
    [
        '{"a": 1',  # truncated
        "{'a': 1}",  # not JSON
        '{"a": 1} x',  # trailing data
        "",
        "\ufeff{}",  # BOM: json.loads' own error
        '{"a": "x\ty\nz"}',  # raw control characters are allowed
        '{"a": "\x00"}',
        '[1, 2.5e3, "\\u00e9", null, true]',
        b'{"a": 1}',
    ],
)
def test_parse_document_matches_json_loads(text):
    """The module-level decoder parses and fails like
    ``json.loads(s, strict=False)``: same value, same ``$error``."""
    import json

    try:
        want = (json.loads(text, strict=False), None)
    except ValueError as ex:
        want = (None, {"message": str(ex), "class": type(ex).__name__, "input": text})
    assert jq_udtf.parse_document(text) == want
