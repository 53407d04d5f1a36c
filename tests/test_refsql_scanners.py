"""The dialect's nesting scanners (plans/refsql.py): matching parentheses,
depth-0 splits and searches, the cursor's group and capture, and the
WITH-list scanner — unit-tested without Spark — plus the statement
classifier built on them and a sweep of statements with an unclosed group,
each of which must raise the dialect's ParseError."""

from __future__ import annotations

import pytest

from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark import (
    Engine,
)
from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.plans.refsql import (
    ParseError,
    _Cursor,
    _depth0,
    _find_depth0,
    _match_paren,
    _match_paren_back,
    _split_depth0,
    _with_list,
)
from custom_row_based_database_for_direct_parquet_file_ingestion_using_golang_spark.results import (
    read_only,
)


def _toks(text: str) -> list[str]:
    """Space-separated tokens, so each case spells its token list."""
    return text.split()


def test_match_paren_forward_and_back():
    toks = _toks("f ( a , ( b ) , ')' ) + g ( '(' )")
    assert _match_paren(toks, 1) == 9
    assert _match_paren(toks, 4) == 6
    assert _match_paren_back(toks, 9) == 1
    assert _match_paren_back(toks, 14) == 12
    with pytest.raises(ParseError, match="unbalanced"):
        _match_paren(_toks("( a ( b )"), 0)
    with pytest.raises(ParseError, match="unbalanced"):
        _match_paren_back(_toks("( b ) )"), 3)


def test_depth0_skips_groups_and_keeps_string_literals():
    toks = _toks("a ( b , ( c ) ) , ')' d")
    assert [toks[j] for j in _depth0(toks)] == ["a", ",", "')'", "d"]
    assert [toks[j] for j in _depth0(toks, 2, 5)] == ["b", ","]


def test_split_depth0_on_commas_and_words():
    assert _split_depth0(_toks("a , f ( b , c ) , '(,' , d")) == [
        ["a"], ["f", "(", "b", ",", "c", ")"], ["'(,'"], ["d"],
    ]
    assert _split_depth0([]) == [[]]
    assert _split_depth0(_toks("a ,")) == [["a"], []]
    assert _split_depth0(_toks("x AND ( y and z ) and w"), {"and"}) == [
        ["x"], ["(", "y", "and", "z", ")"], ["w"],
    ]


def test_find_depth0():
    toks = _toks("( SELECT 1 FROM t ) FROM u WHERE ( where ) 'where'")
    assert _find_depth0(toks, {"from"}) == 6
    assert _find_depth0(toks, {"where"}) == 8
    assert _find_depth0(toks, {"where"}, 0, 8) is None
    assert _find_depth0(toks, {"order"}) is None


@pytest.mark.parametrize(
    "scan",
    [
        lambda t: list(_depth0(t)),
        _split_depth0,
        lambda t: _find_depth0(t, {"x"}),
        lambda t: _Cursor(t).capture(),
    ],
    ids=["depth0", "split", "find", "capture"],
)
def test_scanners_refuse_an_unclosed_group(scan):
    with pytest.raises(ParseError, match="unbalanced"):
        scan(_toks("a ( b , ( c )"))


def test_cursor_group_and_capture():
    cur = _Cursor(_toks("( a , ( b ) ) x , y ( z , ')' ) ) tail"))
    assert cur.group() == ["a", ",", "(", "b", ")"]
    assert cur.capture() == ["x"]
    assert cur.next() == ","
    assert cur.capture() == ["y", "(", "z", ",", "')'", ")"]
    assert cur.peek() == ")"  # the enclosing group's ')' stops a capture
    cur = _Cursor(_toks("k + ( 1 ) ASC , j"))
    assert cur.capture({"asc"}) == ["k", "+", "(", "1", ")"]
    assert cur.peek() == "ASC"
    assert _Cursor(_toks("k")).capture() == ["k"]
    with pytest.raises(ParseError, match="expected '\\('"):
        _Cursor(_toks("a")).group()
    with pytest.raises(ParseError, match="unbalanced"):
        _Cursor(_toks("( a ( b )")).group()


def test_with_list():
    cur = _Cursor(_toks(
        "WITH RECURSIVE x ( a , b ) AS ( SELECT 1 , ( 2 ) ) , "
        "y AS ( SELECT a FROM x ) DELETE FROM t"
    ))
    recursive, ctes = _with_list(cur)
    assert recursive
    assert ctes == [
        ("x", ["a", "b"], _toks("SELECT 1 , ( 2 )")),
        ("y", None, _toks("SELECT a FROM x")),
    ]
    assert cur.peek() == "DELETE"
    for bad in (
        "WITH x AS ( SELECT 1 SELECT 2",
        "WITH x ( a AS ( SELECT 1 ) SELECT a FROM x",
        "WITH x SELECT 1",
    ):
        with pytest.raises(ParseError):
            _with_list(_Cursor(_toks(bad)))


@pytest.mark.parametrize(
    "sql, reads",
    [
        ("SELECT 1", True),
        ("  select * from t", True),
        ("FROM t", True),
        ("VALUES (1)", True),
        ("WITH s AS (SELECT 1 AS a) SELECT a FROM s", True),
        ("WITH s (a) AS (SELECT 1) FROM s", True),
        ("WITH RECURSIVE r (n) AS (SELECT 1) VALUES (2)", True),
        ("WITH s AS (SELECT 1 AS k) DELETE FROM t WHERE k IN (SELECT k FROM s)", False),
        ("WITH s AS (SELECT 1 AS k) INSERT INTO t SELECT * FROM s", False),
        ("WITH s AS (SELECT 1 AS k) UPDATE t SET v = 1", False),
        ("WITH s AS (SELECT 1 AS k) MERGE INTO t USING s ON t.k = s.k "
         "WHEN MATCHED THEN DELETE", False),
        ("WITH s AS (SELECT 1", False),
        ("SELECT 1; DELETE FROM t", False),
        ("selection", False),
        ("DELETE FROM t", False),
        ("CREATE TABLE t (k INT)", False),
        ("", False),
    ],
)
def test_read_only_classifier(sql, reads):
    assert read_only(sql) is reads


@pytest.fixture(scope="module")
def sweep_engine(spark, tmp_path_factory):
    e = Engine(spark, str(tmp_path_factory.mktemp("sweep") / "db"))
    e.ref_sql("CREATE TABLE t (k INT, v TEXT)")
    e.ref_sql("INSERT INTO t VALUES (1, 'a'), (2, 'b')")
    return e


@pytest.mark.parametrize(
    "sql",
    [
        "SELECT sum(k) OVER (PARTITION BY k AS s FROM t",
        "SELECT count(*) FILTER (WHERE k > 1 AS c FROM t",
        "SELECT * FROM t WHERE k IN (SELECT k FROM t",
        "SELECT * REPLACE (k + 1 AS k FROM t",
        "SELECT * FROM t PIVOT (sum(k) FOR v IN ('a', 'b')",
        "SELECT * FROM (VALUES (1), (2) AS x(a)",
        "WITH s AS (SELECT 1 AS a SELECT a FROM s",
        "WITH RECURSIVE r (n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM r "
        "WHERE n < 3 SELECT n FROM r",
        "CREATE TABLE d (k INT DEFAULT (1, v TEXT)",
        "SELECT k FROM t ORDER BY (k",
        "SELECT k FROM t GROUP BY (k",
        "SELECT max(k) - (1 AS m FROM t",
        "SELECT string_agg(v, ',' ORDER BY k AS s FROM t",
        "SELECT (k + 1 AS x FROM t",
        "UPDATE t SET k = (k + 1 WHERE k = 1",
        "SELECT * FROM t WHERE (k = 1",
        "INSERT INTO t VALUES (1, 'a'",
        "DELETE FROM t WHERE k IN (1, 2",
        "SELECT * FROM t QUALIFY row_number() OVER (ORDER BY k = 1",
        "SELECT k FROM t WINDOW w AS (ORDER BY k",
        "SELECT list_extract([1, 2], 1 AS x",
        "SELECT (SELECT max(k) FROM t AS m FROM t",
        "INSERT INTO t SELECT * FROM t ON CONFLICT (k DO NOTHING",
        "SELECT json_extract_string('{}', '$.a' AS x",
        "SELECT string_split(v, ',' AS x FROM t",
        "SELECT k FROM t WHERE EXISTS (SELECT 1 FROM t",
        "WITH x (a, b AS (SELECT 1, 2) SELECT a FROM x",
        "CREATE MACRO m(a, b := (1) AS a + b",
        "SELECT k FROM t LIMIT (1)",
        "SELECT k FROM t LIMIT x",
        "SELECT k FROM t OFFSET x",
        "SEARCH vi K x USING SELECT [1.0, 2.0]",
    ],
)
def test_unclosed_group_raises_parse_error(sweep_engine, sql):
    with pytest.raises(ParseError):
        out = sweep_engine.ref_sql(sql)
        if hasattr(out, "collect"):
            out.collect()
