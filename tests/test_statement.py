"""The statement model (``adt_spark/dialect/statement.py``): the one
parse of a statement's shape the window passes read.  Pure text, no
Spark session."""

from __future__ import annotations

import pytest

from adt_spark.dialect.statement import parse_statement


def _text(stmt, span):
    return stmt.sql[span[0] : span[1]]


# --- WITH prefix -----------------------------------------------------

_PREFIXES = {
    "literal and comment decoys": (
        "WITH s AS (SELECT 'a select from' AS t -- it's a ) decoy\n"
        " FROM x) SELECT t FROM s",
        "SELECT t FROM s",
    ),
    "two CTEs": (
        "WITH a AS (SELECT 1 AS x), b (y) AS (SELECT x FROM a) SELECT y FROM b",
        "SELECT y FROM b",
    ),
    "no prefix": ("SELECT 1 AS x FROM t", "SELECT 1 AS x FROM t"),
}


@pytest.mark.parametrize("label", sorted(_PREFIXES))
def test_main_query_after_with_prefix(label):
    sql, main = _PREFIXES[label]
    stmt = parse_statement(sql)
    assert stmt.sql[stmt.main_start :] == main
    assert stmt.select is not None and stmt.select.start == stmt.main_start


def test_with_prefix_without_main_select():
    stmt = parse_statement("WITH s AS (SELECT 1)")
    assert stmt.main_start is None and stmt.select is None


def test_recursive_prefix():
    stmt = parse_statement("WITH RECURSIVE r AS (SELECT 1 AS n) SELECT n FROM r")
    assert stmt.recursive and stmt.select is not None


def test_comments_are_blanked_in_place():
    sql = "SELECT a -- FROM nowhere\nFROM t"
    stmt = parse_statement(sql)
    assert len(stmt.sql) == len(sql)
    assert _text(stmt, stmt.select.source.span) == "t"


def test_unbalanced_text_has_no_model():
    assert parse_statement("SELECT sum(x OVER (ORDER BY a) FROM t") is None
    assert parse_statement("SELECT ')' AS p FROM t") is not None


# --- SELECT cores, set operators, clauses ------------------------------


def test_distinct_and_union_branches():
    stmt = parse_statement("SELECT DISTINCT a FROM t UNION ALL SELECT b FROM u")
    assert [c.distinct for c in stmt.cores] == [True, False]
    assert [_text(stmt, op).lower() for op in stmt.set_ops] == ["union"]
    assert [c.source.name for c in stmt.cores] == ["t", "u"]
    # a set operation is no single main SELECT
    assert stmt.select is None
    # the select list as written keeps the quantifier; the items do not
    first = stmt.cores[0]
    assert _text(stmt, first.body).strip() == "DISTINCT a"
    assert [_text(stmt, i.span).strip() for i in first.items] == ["a"]


def test_nested_selects_are_not_cores():
    stmt = parse_statement("SELECT x FROM (SELECT 1 AS x UNION SELECT 2) d WHERE x IN (SELECT 1)")
    assert len(stmt.cores) == 1 and not stmt.set_ops
    assert [c.kind for c in stmt.select.clauses] == ["where"]


_CLAUSES = {
    "canonical": (
        "SELECT a FROM t WHERE b > 1 GROUP BY a HAVING count(*) > 1 ORDER BY a LIMIT 5",
        [
            ("where", "WHERE b > 1 "),
            ("group by", "GROUP BY a "),
            ("having", "HAVING count(*) > 1 "),
            ("order by", "ORDER BY a "),
            ("limit", "LIMIT 5"),
        ],
    ),
    "out of order": (
        "SELECT a FROM t ORDER BY a WHERE b > 1",
        [("order by", "ORDER BY a "), ("where", "WHERE b > 1")],
    ),
    "spaced keywords and the rest": (
        "SELECT a FROM t QUALIFY r = 1 WINDOW w AS (ORDER BY a) order\n  by a OFFSET 2",
        [
            ("qualify", "QUALIFY r = 1 "),
            ("window", "WINDOW w AS (ORDER BY a) "),
            ("order by", "order\n  by a "),
            ("offset", "OFFSET 2"),
        ],
    ),
    "keywords inside parens and literals": (
        "SELECT a FROM t WHERE b IN (SELECT c FROM u ORDER BY c LIMIT 1) AND d = 'x limit'",
        [("where", "WHERE b IN (SELECT c FROM u ORDER BY c LIMIT 1) AND d = 'x limit'")],
    ),
}


@pytest.mark.parametrize("label", sorted(_CLAUSES))
def test_top_level_clauses(label):
    sql, want = _CLAUSES[label]
    stmt = parse_statement(sql)
    got = [(c.kind, stmt.sql[c.start : c.end]) for c in stmt.select.clauses]
    assert got == want
    for c in stmt.select.clauses:
        assert stmt.sql[c.start : c.kw_end].lower().split() == c.kind.split()


# --- select items --------------------------------------------------------


def test_star_items():
    stmt = parse_statement("SELECT *, t.*, `q`.*, count(*) AS n, x AS `y z` FROM t")
    items = stmt.select.items
    assert [(i.star, i.qualifier) for i in items] == [
        (True, None),
        (True, "t"),
        (True, "`q`"),
        (False, None),  # count(*) is no star item
        (False, None),
    ]
    assert [i.alias for i in items] == [None, None, None, "n", "`y z`"]


def test_item_spans_split_on_depth_zero_commas():
    stmt = parse_statement("SELECT f(a, b) AS c, 'x, y' AS d, e FROM t")
    assert [_text(stmt, i.span).strip() for i in stmt.select.items] == [
        "f(a, b) AS c",
        "'x, y' AS d",
        "e",
    ]


# --- FROM sources --------------------------------------------------------

_SOURCES = {
    "bare relation": ("SELECT x FROM t", ("relation", "t", None)),
    "qualified relation, alias": ("SELECT x FROM db.t AS a", ("relation", "db.t", "a")),
    "derived table with an alias": (
        "SELECT x FROM (SELECT 1 AS x) AS d",
        ("derived", None, "d"),
    ),
    "derived table, bare alias": (
        "SELECT x FROM (SELECT 1 AS x) d WHERE x > 0",
        ("derived", None, "d"),
    ),
    "join chain": ("SELECT x FROM a JOIN b ON a.k = b.k", ("other", None, None)),
    "relation list": ("SELECT x FROM a, b", ("other", None, None)),
    "path table": ("SELECT x FROM parquet.`/p` p WHERE x > 1", ("path", "parquet.`/p`", "p")),
}


@pytest.mark.parametrize("label", sorted(_SOURCES))
def test_from_source_kinds(label):
    sql, (kind, name, alias) = _SOURCES[label]
    src = parse_statement(sql).select.source
    assert (src.kind, src.name, src.alias) == (kind, name, alias)


def test_select_without_from():
    core = parse_statement("SELECT 1 AS x").select
    assert core.from_ is None and core.source is None


# --- window calls --------------------------------------------------------

_CALLS = {
    "plain": ("sum(x) OVER (PARTITION BY g ORDER BY a)", ("sum", ["x"], None, False)),
    "ignore nulls": (
        "last_value(x) IGNORE NULLS OVER (ORDER BY a)",
        ("last_value", ["x"], "ignore", False),
    ),
    "respect nulls": (
        "first_value(x) respect  nulls OVER (ORDER BY a)",
        ("first_value", ["x"], "respect", False),
    ),
    "filter": (
        "sum(x) FILTER (WHERE x > 0) OVER (PARTITION BY g)",
        ("sum", ["x"], None, True),
    ),
    "ntile": ("ntile(4) OVER (ORDER BY a)", ("ntile", ["4"], None, False)),
    "three-argument lag": (
        "lag(x, 2, 'n, a') OVER (ORDER BY a)",
        ("lag", ["x", "2", "'n, a'"], None, False),
    ),
    "no arguments": ("row_number() OVER (ORDER BY a)", ("row_number", [""], None, False)),
}


@pytest.mark.parametrize("label", sorted(_CALLS))
def test_window_call_shapes(label):
    call_sql, (fn, args, nulls, has_filter) = _CALLS[label]
    stmt = parse_statement(f"SELECT {call_sql} AS v FROM t")
    (call,) = stmt.calls
    assert (call.fn, call.nulls, call.filter) == (fn, nulls, has_filter)
    assert [_text(stmt, a).strip() for a in call.args] == args
    assert stmt.sql[call.start : call.end] == call_sql
    assert call.plain == (nulls is None and not has_filter)
    assert call.spec is not None and call.spec.close == call.close


def test_qualified_call():
    stmt = parse_statement("SELECT t.sum(x) OVER (ORDER BY a) AS v FROM t")
    (call,) = stmt.calls
    assert call.fn == "sum" and call.qualified
    assert stmt.sql[call.start : call.end] == "sum(x) OVER (ORDER BY a)"


def test_named_windows():
    """``OVER w`` opens no spec paren, so it is no call of the model;
    ``OVER (w)`` is one whose spec the OVER-body grammar leaves unread."""
    stmt = parse_statement(
        "SELECT sum(x) OVER w AS s, avg(x) OVER (w) AS z FROM t WINDOW w AS (ORDER BY a)"
    )
    (call,) = stmt.calls
    assert call.fn == "avg" and call.spec is None
    assert _text(stmt, (call.open, call.end)) == "(w)"
    assert [c.kind for c in stmt.select.clauses] == ["window"]


def test_window_nested_in_an_argument():
    stmt = parse_statement(
        "SELECT sum(rank() OVER (ORDER BY a)) OVER (ORDER BY b) AS r FROM t"
    )
    inner, outer = stmt.calls
    assert (inner.fn, outer.fn) == ("rank", "sum")
    assert [_text(stmt, a) for a in outer.args] == ["rank() OVER (ORDER BY a)"]
    assert outer.start < inner.start and inner.end < outer.end
    assert outer.spec.order == "b"


def test_calls_in_literals_and_prefix():
    """A call inside a literal is none; one in the WITH prefix is."""
    stmt = parse_statement(
        "WITH s AS (SELECT rank() OVER (ORDER BY a) AS r FROM t) "
        "SELECT 'sum(x) OVER (ORDER BY a)' AS lit FROM s"
    )
    (call,) = stmt.calls
    assert call.fn == "rank" and call.over < stmt.main_start


def test_over_without_a_call():
    stmt = parse_statement("SELECT a, (x) OVER (ORDER BY a) AS v FROM t")
    (call,) = stmt.calls
    assert call.fn is None and call.arg_span is None and not call.plain
    assert call.start == call.over
