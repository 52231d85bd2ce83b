"""Golden SQL tests — the ARRAY_* function tranche of
CalciteArraysQueryTest.java (reference sql/src/test/.../calcite/),
SQL-compatible null mode, over the foo/numfoo fixtures.

Array-value semantics note (the engine's documented MVD stance, README
compat table): arrays are honest ARRAY columns here, so `[]` and NULL are
distinct values (Druid's MVD storage collapses an empty row to null), and
GROUP BY an array value groups the whole array instead of exploding.
Expected rows below are the reference's expected lists wherever the
semantics coincide; the handful of rows where []-vs-null differ are
annotated inline.

numfoo dim3 per row: ["a","b"], ["b","c"], ["d"], [""], [], null
"""

import pytest

from incubator_druid_spark.sql.functions import druid_sql
from tests.conftest import rows


def q(spark, cat, sql):
    return druid_sql(spark, sql, cat)


def test_select_constant_array_expression(spark, foo_catalog):
    """CalciteArraysQueryTest.java:66 testSelectConstantArrayExpressionFromTable."""
    r = q(spark, foo_catalog,
          "SELECT ARRAY[1,2] as arr, dim1 FROM foo ORDER BY dim1 LIMIT 1"
          ).first()
    assert list(r["arr"]) == [1, 2] and r["dim1"] == ""


def test_select_nonconstant_array_expression(spark, foo_catalog):
    """CalciteArraysQueryTest.java:118
    testSelectNonConstantArrayExpressionFromTable."""
    out = q(spark, foo_catalog, """
        SELECT ARRAY[CONCAT(dim1, 'word'),'up'] as arr, dim1 FROM foo LIMIT 5
        """).collect()
    got = {(tuple(r["arr"]), r["dim1"]) for r in out}
    assert (("word", "up"), "") in got or len(got) == 5
    # all five rows carry [<dim1>word, up]
    for arr, d in got:
        assert arr == (d + "word", "up")


def test_group_by_array_from_case(spark, numfoo_catalog):
    """CalciteArraysQueryTest.java:88 testGroupByArrayFromCase — honest-array
    grouping: the CASE array groups whole (Druid explodes it to 3 rows of
    foo/bar/baz; same underlying 3 matching rows)."""
    out = q(spark, numfoo_catalog, """
        SELECT CASE WHEN dim4 = 'a' THEN ARRAY['foo','bar','baz'] END
               as mv_value, count(1) AS c
        from numfoo GROUP BY 1""").collect()
    got = {(tuple(r[0]) if r[0] is not None else None, r["c"]) for r in out}
    assert got == {(("foo", "bar", "baz"), 3), (None, 3)}


def test_array_overlap_filter(spark, numfoo_catalog):
    """CalciteArraysQueryTest.java:428 testArrayOverlapFilter."""
    out = q(spark, numfoo_catalog, """
        SELECT dim3 FROM druid.numfoo
        WHERE ARRAY_OVERLAP(dim3, ARRAY['a','b']) LIMIT 5""").collect()
    assert sorted(tuple(r[0]) for r in out) == [("a", "b"), ("b", "c")]


def test_array_overlap_filter_scalar_rhs(spark, numfoo_catalog):
    """ARRAY_OVERLAP with a scalar second argument wraps it (Druid coerces
    scalars to single-element arrays — Function.java ArrayScalarFunction)."""
    out = q(spark, numfoo_catalog, """
        SELECT dim3 FROM druid.numfoo WHERE ARRAY_OVERLAP(dim3, 'b')""").collect()
    assert sorted(tuple(r[0]) for r in out) == [("a", "b"), ("b", "c")]


def test_array_contains_filter(spark, numfoo_catalog):
    """CalciteArraysQueryTest.java:474 testArrayContainsFilter — array second
    argument means contains-ALL."""
    out = q(spark, numfoo_catalog, """
        SELECT dim3 FROM druid.numfoo
        WHERE ARRAY_CONTAINS(dim3, ARRAY['a','b']) LIMIT 5""").collect()
    assert [tuple(r[0]) for r in out] == [("a", "b")]


def test_array_contains_scalar(spark, numfoo_catalog):
    """Scalar second argument = membership (ArrayContainsFunction)."""
    out = q(spark, numfoo_catalog, """
        SELECT dim1 FROM druid.numfoo WHERE ARRAY_CONTAINS(dim3, 'b')""")
    assert rows(out, "dim1") == [("",), ("10.1",)]


def test_array_slice(spark, numfoo_catalog):
    """CalciteArraysQueryTest.java:546 testArraySlice (2-arg form → end)."""
    out = q(spark, numfoo_catalog,
            "SELECT ARRAY_SLICE(dim3, 1) AS s FROM druid.numfoo").collect()
    got = sorted(((tuple(r["s"]) if r["s"] is not None else None)
                  for r in out), key=lambda x: (x is None, x))
    assert got == [(), (), (), ("b",), ("c",), None]


def test_array_length_group(spark, numfoo_catalog):
    """CalciteArraysQueryTest.java:573 testArrayLength ([]→0 and null→NULL
    are distinct here; Druid's MVD storage reads both as null)."""
    out = q(spark, numfoo_catalog, """
        SELECT dim1, ARRAY_LENGTH(dim3) AS l, SUM(cnt) AS s
        FROM druid.numfoo GROUP BY 1, 2 ORDER BY 2 DESC""")
    assert rows(out, "dim1", "l", "s") == [
        ("", 2, 1), ("1", 1, 1), ("10.1", 2, 1), ("2", 1, 1),
        ("abc", None, 1), ("def", 0, 1)]


def test_array_offset_group(spark, numfoo_catalog):
    """CalciteArraysQueryTest.java:858 testArrayOffset."""
    out = q(spark, numfoo_catalog, """
        SELECT ARRAY_OFFSET(dim3, 1) AS o, SUM(cnt) AS s
        FROM druid.numfoo GROUP BY 1 ORDER BY 2 DESC""")
    assert rows(out, "o", "s") == [("b", 1), ("c", 1), (None, 4)]


def test_array_ordinal_group(spark, numfoo_catalog):
    """CalciteArraysQueryTest.java:897 testArrayOrdinal."""
    out = q(spark, numfoo_catalog, """
        SELECT ARRAY_ORDINAL(dim3, 2) AS o, SUM(cnt) AS s
        FROM druid.numfoo GROUP BY 1 ORDER BY 2 DESC""")
    assert rows(out, "o", "s") == [("b", 1), ("c", 1), (None, 4)]


def test_array_offset_of_group(spark, numfoo_catalog):
    """CalciteArraysQueryTest.java:936 testArrayOffsetOf — miss → NULL in
    SQL-compatible mode."""
    out = q(spark, numfoo_catalog, """
        SELECT ARRAY_OFFSET_OF(dim3, 'b') AS o, SUM(cnt) AS s
        FROM druid.numfoo GROUP BY 1 ORDER BY 2 DESC""")
    assert rows(out, "o", "s") == [(0, 1), (1, 1), (None, 4)]


def test_array_ordinal_of_group(spark, numfoo_catalog):
    """CalciteArraysQueryTest.java:979 testArrayOrdinalOf."""
    out = q(spark, numfoo_catalog, """
        SELECT ARRAY_ORDINAL_OF(dim3, 'b') AS o, SUM(cnt) AS s
        FROM druid.numfoo GROUP BY 1 ORDER BY 2 DESC""")
    assert rows(out, "o", "s") == [(1, 1), (2, 1), (None, 4)]


def test_array_to_string_group(spark, numfoo_catalog):
    """CalciteArraysQueryTest.java:1022 testArrayToString ([]→'' joins empty
    here where Druid's null-collapsed MVD gives NULL)."""
    out = q(spark, numfoo_catalog, """
        SELECT ARRAY_TO_STRING(dim3, ',') AS j, SUM(cnt) AS s
        FROM druid.numfoo GROUP BY 1 ORDER BY 2 DESC""")
    assert rows(out, "j", "s") == [
        ("", 2), ("a,b", 1), ("b,c", 1), ("d", 1), (None, 1)]


def test_array_append_prepend_concat(spark, numfoo_catalog):
    """CalciteArraysQueryTest.java:616/676/800 — per-row array builders."""
    out = q(spark, numfoo_catalog, """
        SELECT ARRAY_APPEND(dim3, 'foo') AS ap,
               ARRAY_PREPEND('foo', dim3) AS pp,
               ARRAY_CONCAT(dim3, dim3) AS cc
        FROM druid.numfoo WHERE dim1 = ''""").first()
    assert list(out["ap"]) == ["a", "b", "foo"]
    assert list(out["pp"]) == ["foo", "a", "b"]
    assert list(out["cc"]) == ["a", "b", "a", "b"]


def test_string_to_array_roundtrip(spark, foo_catalog):
    """StringToArrayOperatorConversion + ArrayToStringOperatorConversion."""
    r = q(spark, foo_catalog, """
        SELECT ARRAY_TO_STRING(STRING_TO_ARRAY('a,b,c', ','), '|') AS s,
               ARRAY_LENGTH(STRING_TO_ARRAY('a,b,c', ',')) AS l
        FROM foo LIMIT 1""").first()
    assert r["s"] == "a|b|c" and r["l"] == 3


def test_array_agg(spark, foo_catalog):
    """CalciteArraysQueryTest.java:1140 testArrayAgg — plain, DISTINCT and
    FILTERed (empty → NULL like the reference)."""
    r = q(spark, foo_catalog, """
        SELECT ARRAY_AGG(dim1) AS a, ARRAY_AGG(DISTINCT dim1) AS d,
               ARRAY_AGG(DISTINCT dim1)
                   FILTER(WHERE dim1 = 'shazbot') AS f
        FROM foo WHERE dim1 is not null""").first()
    assert sorted(r["a"]) == ["", "1", "10.1", "2", "abc", "def"]
    assert sorted(r["d"]) == ["", "1", "10.1", "2", "abc", "def"]
    assert r["f"] is None


def test_array_agg_numeric_keeps_nulls(spark, numfoo_catalog):
    """CalciteArraysQueryTest.java:1270 testArrayAggNumeric — the reference's
    ArrayAggregator appends nulls ("[7,325323,0,null,null,null]"); the
    struct-wrapped rewrite preserves them where a bare collect_list would
    silently drop them."""
    r = q(spark, numfoo_catalog, """
        SELECT ARRAY_AGG(l1) AS al, ARRAY_AGG(DISTINCT l1) AS dl,
               ARRAY_AGG(d1) AS ad
        FROM numfoo""").first()
    key = lambda x: (x is None, x)
    assert sorted(r["al"], key=key) == [0, 7, 325323, None, None, None]
    assert sorted(r["dl"], key=key) == [0, 7, 325323, None]
    assert sorted(r["ad"], key=key) == [0.0, 1.0, 1.7, None, None, None]


def test_array_agg_expression(spark, foo_catalog):
    """CalciteArraysQueryTest.java:1434 testArrayAggExpression — null element
    prints as 'null' in ARRAY_TO_STRING (dim2 scalar view = dim2[0])."""
    r = q(spark, foo_catalog, """
        SELECT ARRAY_TO_STRING(ARRAY_AGG(DISTINCT CONCAT(dim1, dim2[0])), ',')
               AS s FROM foo""").first()
    assert sorted(r["s"].split(",")) == ["1a", "2", "a", "defabc", "null"]


def test_mv_offset_of_miss_is_null(spark, foo_catalog):
    """MV_OFFSET_OF / MV_ORDINAL_OF miss → NULL in SQL-compatible mode
    (Function.java ArrayOffsetOfFunction:3258)."""
    r = q(spark, foo_catalog, """
        SELECT MV_OFFSET_OF(STRING_TO_MV('a,b,c', ','), 'z') AS o,
               MV_ORDINAL_OF(STRING_TO_MV('a,b,c', ','), 'z') AS d
        FROM foo LIMIT 1""").first()
    assert r["o"] is None and r["d"] is None


def test_array_agg_as_array_from_join(spark, numfoo_catalog):
    """CalciteArraysQueryTest.java:1530 testArrayAggAsArrayFromJoin —
    grouped ARRAY_AGG joined back to the fact rows (element order is
    collection-order; compared as sets)."""
    out = q(spark, numfoo_catalog, """
        SELECT numfoo.dim4, j.arr, ARRAY_TO_STRING(j.arr, ',') AS s
        FROM numfoo INNER JOIN
        (SELECT dim4, ARRAY_AGG(DISTINCT dim1) as arr FROM numfoo
         WHERE dim1 is not null GROUP BY 1) as j
        ON numfoo.dim4 = j.dim4""").collect()
    assert len(out) == 6
    for r in out:
        if r["dim4"] == "a":
            assert sorted(r["arr"]) == ["", "10.1", "2"]
            assert sorted(r["s"].split(",")) == ["", "10.1", "2"]
        else:
            assert sorted(r["arr"]) == ["1", "abc", "def"]


def test_array_agg_array_contains_subquery(spark, foo_catalog):
    """CalciteArraysQueryTest.java:1624 testArrayAggArrayContainsSubquery —
    membership against a scalar-subquery ARRAY_AGG (sql branch: every row's
    dim1, incl. '', is in the aggregated set)."""
    out = q(spark, foo_catalog, """
        SELECT dim1, dim2[0] AS d2 FROM foo
        WHERE ARRAY_CONTAINS(
            (SELECT ARRAY_AGG(DISTINCT dim1) FROM foo
             WHERE dim1 is not null), dim1)""")
    assert rows(out, "dim1", "d2") == [
        ("", "a"), ("1", "a"), ("10.1", None), ("2", ""),
        ("abc", None), ("def", "abc")]


def test_array_agg_to_string_distinct(spark, foo_catalog):
    """CalciteArraysQueryTest.java:1394 testArrayAggToString (sql branch
    includes the empty string; pieces compared as a set)."""
    r = q(spark, foo_catalog, """
        SELECT ARRAY_TO_STRING(ARRAY_AGG(DISTINCT dim1), ',') AS s
        FROM foo WHERE dim1 is not null""").first()
    assert sorted(r["s"].split(",")) == ["", "1", "10.1", "2", "abc", "def"]


def test_array_dispatch_follows_reregistered_column_type(spark, tmp_path):
    """ARRAY_CONTAINS/ARRAY_OVERLAP dispatch a column second argument by
    its type as read from the catalog at query time: after the table is
    re-registered with that column changed from string to array, the
    array (contains-all / overlap) form applies."""
    from incubator_druid_spark.catalog import Catalog

    cat = Catalog(spark)
    sql = ("SELECT ARRAY_CONTAINS(a, b) AS c, ARRAY_OVERLAP(a, b) AS o "
         "FROM druid.t")
    spark.createDataFrame([(["x", "y"], "x")], "a array<string>, b string") \
        .write.parquet(str(tmp_path / "v1"))
    cat.register("t", str(tmp_path / "v1"))
    assert rows(druid_sql(spark, sql, cat)) == [(True, True)]
    spark.createDataFrame([(["x", "y"], ["x", "z"])],
                          "a array<string>, b array<string>") \
        .write.parquet(str(tmp_path / "v2"))
    cat.register("t", str(tmp_path / "v2"))
    assert rows(druid_sql(spark, sql, cat)) == [(False, True)]
