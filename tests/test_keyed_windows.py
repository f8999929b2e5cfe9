"""Keyed-window compression (dialect/keyed_windows.py): equivalence
matrix + refusal gates.

The pass claims ``fn(arg) OVER (PARTITION BY p ORDER BY k RANGE …)``
evaluated over the distinct (p, k) grain (with per-key partials and a
null-safe join back) is row-for-row identical to the full-data window
for fn ∈ {sum, count, min, max, first_value, last_value}.  The matrix
here exercises the hinge cases the sf-data oracle queries cannot:
NULL order keys (the null peer group), all-NULL argument groups,
empty prefix/suffix frames (count's COALESCE-to-0 restoration), tied
keys under first/last (key-determined arguments only), DESC order,
and the dense_rank wrap (form B)."""

from __future__ import annotations

import pytest

from adt_spark.dialect.keyed_windows import compress_keyed_windows, rewrite_windows
from adt_spark.dialect.overspec import OrderKey
from adt_spark.dialect.window_frames import DenseRankWrap, rewrite_window_frames


@pytest.fixture(scope="module")
def kw_table(spark):
    """16 rows, 2 partitions, tied + NULL keys, NULL-laden arg."""
    rows = []
    data = [
        # (part, key, val) — key 10 tied 3×; key 40 all-NULL vals;
        # NULL keys (2 rows, one NULL val); lone key 99
        ("a", 10, 1), ("a", 10, None), ("a", 10, 3), ("a", 12, 4),
        ("a", 13, None), ("a", 40, None), ("a", 40, None), ("a", 99, 9),
        ("a", None, 7), ("a", None, None),
        ("b", 10, 5), ("b", 11, 6), ("b", 11, None), ("b", 15, 2),
        ("b", None, 8), ("b", 12, 0),
    ]
    for i, (p, k, v) in enumerate(data):
        rows.append((i, p, k, v))
    df = spark.createDataFrame(rows, "rid INT, p STRING, k INT, v INT")
    df.createOrReplaceTempView("kw_matrix_t")
    return df


def _both(spark, sql):
    """(uncompressed rows, compressed rows), sorted, after asserting
    the pass actually fired."""
    rewritten = rewrite_window_frames(sql)
    compressed = rewrite_windows(sql)
    assert compressed != rewritten, rewritten
    a = spark.sql(rewritten)
    cols = a.columns
    return (
        a.orderBy(*cols).collect(),
        spark.sql(compressed).orderBy(*cols).collect(),
    )


CASES = {
    "sum_range": "CAST(sum(v) OVER (PARTITION BY p ORDER BY k"
    " RANGE BETWEEN 2 PRECEDING AND 1 FOLLOWING) AS BIGINT)",
    "count_arg_prefix": "count(v) OVER (PARTITION BY p ORDER BY k"
    " RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)",
    "count_star_suffix": "count(*) OVER (PARTITION BY p ORDER BY k"
    " RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)",
    # whole-partition agg rides along an ordered call (alone it is
    # refused — no ordered key, no grain; pinned below)
    "min_whole": "min(v) OVER (PARTITION BY p) + 0 * count(*) OVER"
    " (PARTITION BY p ORDER BY k RANGE BETWEEN CURRENT ROW AND CURRENT ROW)",
    "max_desc": "max(v) OVER (PARTITION BY p ORDER BY k DESC"
    " RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)",
    "fv_key_fn": "first_value(k * 2 + 1) OVER (PARTITION BY p ORDER BY k"
    " RANGE BETWEEN 1 PRECEDING AND 2 FOLLOWING)",
    "lv_key": "last_value(k) OVER (PARTITION BY p ORDER BY k"
    " RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
}


@pytest.mark.parametrize("label", sorted(CASES))
def test_keyed_equivalence(spark, kw_table, label):
    sql = f"SELECT rid, {CASES[label]} AS x\nFROM kw_matrix_t"
    plain, keyed = _both(spark, sql)
    assert plain == keyed


def test_keyed_equivalence_multi_and_types(spark, kw_table):
    """All families in ONE statement (shared grain, like the EXCLUDE
    emissions) + result schema identity."""
    sel = ", ".join(f"{c} AS c{i}" for i, c in enumerate(CASES.values()))
    sql = f"SELECT rid, {sel}\nFROM kw_matrix_t"
    rewritten = rewrite_window_frames(sql)
    compressed = compress_keyed_windows(rewritten)
    assert compressed is not None
    a, b = spark.sql(rewritten), spark.sql(compressed)
    assert [(f.name, f.dataType.simpleString()) for f in a.schema] == [
        (f.name, f.dataType.simpleString()) for f in b.schema
    ]
    cols = a.columns
    assert a.orderBy(*cols).collect() == b.orderBy(*cols).collect()


REFUSALS = {
    # ROWS frames: membership is positional, not key-determined
    "rows_frame": "sum(v) OVER (PARTITION BY p ORDER BY k"
    " ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)",
    # first/last over a non-key argument: tie-order-dependent
    "fv_row_arg": "first_value(v) OVER (PARTITION BY p ORDER BY k"
    " RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)",
    # composite order: grain is not one key
    "two_keys": "sum(v) OVER (PARTITION BY p ORDER BY k, v"
    " RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)",
    # mixed partition keys across calls
    "two_parts": "sum(v) OVER (PARTITION BY p ORDER BY k"
    " RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING), "
    "sum(v) OVER (PARTITION BY k ORDER BY v"
    " RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)",
    # whole-partition aggregates only — no ordered key, no grain
    "whole_partition_only": "min(v) OVER (PARTITION BY p)",
    # unsupported function
    "avg_fn": "avg(v) OVER (PARTITION BY p ORDER BY k"
    " RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)",
    # nondeterministic argument
    "nondet": "sum(v * rand()) OVER (PARTITION BY p ORDER BY k"
    " RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)",
    # first/last over the injected rank column, which the per-key
    # partials' source (the base table) does not have
    "fv_rank_col": "first_value(__adt_dr0) OVER (PARTITION BY p"
    " ORDER BY __adt_dr0 RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)",
}

#: sources other than the bare table: the dense-rank wrap that
#: rewrite_window_frames emits for GROUPS frames (form B), with the
#: parts it hands over
REFUSAL_SOURCES = {
    "fv_rank_col": "(SELECT *, dense_rank() OVER (PARTITION BY p ORDER BY k"
    " NULLS LAST) AS __adt_dr0 FROM kw_matrix_t) _w",
}
REFUSAL_WRAPS = {
    "fv_rank_col": DenseRankWrap(
        "p", (OrderKey("k", "k", False, None),), "__adt_dr0", "kw_matrix_t"
    ),
}


@pytest.mark.parametrize("label", sorted(REFUSALS))
def test_keyed_refusals(spark, label):
    source = REFUSAL_SOURCES.get(label, "kw_matrix_t")
    sql = f"SELECT rid, {REFUSALS[label]} AS x\nFROM {source}"
    assert compress_keyed_windows(sql, REFUSAL_WRAPS.get(label)) is None


_STAR_WINDOW = (
    "sum(l_quantity) OVER (PARTITION BY l_returnflag ORDER BY l_linenumber"
    " RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING)"
)


@pytest.mark.parametrize("alias", ["", " AS s"])
def test_keyed_star_returns_base_columns(spark, sf_dir, alias):
    """A top-level ``*`` returns the table's columns and the window,
    never the joined-back ``__kw_*`` columns (ADVICE r12).  With an
    alias the statement still compresses; without one it is refused,
    since an unaliased item is named after its text, which the rewrite
    changes.  Either way its columns and rows are the uncompressed
    ones."""
    from adt_spark import ADTContext
    from adt_spark.queries import tables

    tables(spark, sf_dir)
    sql = f"SELECT *, {_STAR_WINDOW}{alias} FROM lineitem"
    assert (compress_keyed_windows(sql) is not None) == bool(alias)
    plain = spark.sql(sql)
    got = ADTContext(spark=spark).sql(sql)
    assert got.columns == plain.columns
    cols = plain.columns
    assert got.orderBy(*cols).collect() == plain.orderBy(*cols).collect()


def test_keyed_refuses_where_tail(spark):
    assert (
        compress_keyed_windows(
            "SELECT rid, sum(v) OVER (PARTITION BY p ORDER BY k RANGE BETWEEN"
            " 1 PRECEDING AND 1 FOLLOWING) AS x FROM kw_matrix_t WHERE v > 0"
        )
        is None
    )


def test_keyed_env_kill_switch(spark, monkeypatch):
    monkeypatch.setenv("ADT_KEYED_WINDOWS", "0")
    assert (
        compress_keyed_windows(
            "SELECT sum(v) OVER (PARTITION BY p ORDER BY k RANGE BETWEEN"
            " 1 PRECEDING AND 1 FOLLOWING) AS x FROM kw_matrix_t"
        )
        is None
    )


def test_keyed_sum_warns_reassociation_once(monkeypatch):
    """Compressing a sum re-associates its fold (per-key partials), so
    the pass discloses it once with a RuntimeWarning; a min-only
    statement compresses silently."""
    import warnings

    from adt_spark.dialect import keyed_windows

    monkeypatch.setattr(keyed_windows, "_reassociation_warned", False)
    min_only = (
        "SELECT rid, min(v) OVER (PARTITION BY p ORDER BY k RANGE "
        "BETWEEN 1 PRECEDING AND CURRENT ROW) AS m FROM kw_matrix_t"
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert compress_keyed_windows(min_only) is not None
    summed = (
        "SELECT rid, sum(v) OVER (PARTITION BY p ORDER BY k RANGE "
        "BETWEEN 1 PRECEDING AND CURRENT ROW) AS s FROM kw_matrix_t"
    )
    with pytest.warns(RuntimeWarning, match="per-key partial sums"):
        assert compress_keyed_windows(summed) is not None
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert compress_keyed_windows(summed) is not None


# --- WITH prefixes: carried verbatim, main query gated as above -------

_CTE = "WITH s AS (SELECT * FROM kw_matrix_t) "


@pytest.mark.parametrize("label", sorted(CASES))
def test_keyed_equivalence_under_cte(spark, kw_table, label):
    sql = f"{_CTE}SELECT rid, {CASES[label]} AS x\nFROM s"
    plain, keyed = _both(spark, sql)
    assert plain == keyed


CTE_STATEMENTS = {
    # GROUPS frame: rewrite_window_frames wraps the main query in its
    # dense-rank subquery over the CTE name (form B)
    "groups_form_b": f"{_CTE}SELECT rid, sum(v) OVER (PARTITION BY p"
    " ORDER BY k GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS x FROM s",
    # the default direction spelled out is form B all the same
    "groups_asc_key": f"{_CTE}SELECT rid, sum(v) OVER (PARTITION BY p"
    " ORDER BY k ASC GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS x FROM s",
    # the main query reads the second of two CTEs
    "two_ctes": "WITH s AS (SELECT * FROM kw_matrix_t WHERE rid < 14),"
    " u AS (SELECT rid, p, k, v * 2 AS v FROM s)"
    " SELECT rid, min(v) OVER (PARTITION BY p ORDER BY k RANGE BETWEEN"
    " 1 PRECEDING AND 2 FOLLOWING) AS x, count(*) OVER (PARTITION BY p"
    " ORDER BY k RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS c"
    " FROM u",
    # a CTE column list renames the source's columns
    "column_list": "WITH s (rid, pp, kk, vv) AS (SELECT rid, p, k, v FROM"
    " kw_matrix_t) SELECT rid, max(vv) OVER (PARTITION BY pp ORDER BY kk"
    " RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS x FROM s",
}


@pytest.mark.parametrize("label", sorted(CTE_STATEMENTS))
def test_keyed_equivalence_cte_shapes(spark, kw_table, label):
    plain, keyed = _both(spark, CTE_STATEMENTS[label])
    assert plain == keyed


_CTE_WINDOW = (
    "sum(v) OVER (PARTITION BY p ORDER BY k RANGE BETWEEN 1 PRECEDING"
    " AND 1 FOLLOWING) AS x"
)
#: a CTE-body literal that holds ``) SELECT`` and a compressible
#: decoy; the real main query has a WHERE tail
_LITERAL_DECOY = (
    "WITH s AS (SELECT *, ') SELECT rid, " + _CTE_WINDOW + " FROM s'"
    " AS note FROM kw_matrix_t) SELECT rid, " + _CTE_WINDOW
    + " FROM s WHERE v > 0"
)

CTE_REFUSALS = {
    "recursive": "WITH RECURSIVE s AS (SELECT * FROM kw_matrix_t)"
    f" SELECT rid, {_CTE_WINDOW} FROM s",
    # the compressed statement reads the CTE twice (partials, join-back)
    "rand_in_body": "WITH s AS (SELECT rid, p, k, v * rand() AS v FROM"
    f" kw_matrix_t) SELECT rid, {_CTE_WINDOW} FROM s",
    "where_tail": f"{_CTE}SELECT rid, {_CTE_WINDOW} FROM s WHERE v > 0",
    "literal_select": _LITERAL_DECOY,
}


@pytest.mark.parametrize("label", sorted(CTE_REFUSALS))
def test_keyed_cte_refusals(label):
    assert compress_keyed_windows(CTE_REFUSALS[label]) is None


def test_with_prefix_split_masks_literals():
    """The shared splitter finds the main query's SELECT, not the one
    inside a CTE-body literal."""
    from adt_spark.dialect.sqltext import _mask_literals
    from adt_spark.dialect.statement import _main_query_start

    start = _main_query_start(_mask_literals(_LITERAL_DECOY))
    assert _LITERAL_DECOY[start:].startswith("SELECT rid, sum(v)")
    assert _LITERAL_DECOY[:start].rstrip().endswith("FROM kw_matrix_t)")
    assert _main_query_start("SELECT 1") == 0
    assert _main_query_start("WITH s AS (SELECT 1)") is None


# --- comments: an apostrophe in a comment opens no literal ------------

_GROUPS_ITEM = (
    "sum(v) OVER (PARTITION BY p ORDER BY k GROUPS BETWEEN 1 PRECEDING"
    " AND 1 FOLLOWING) AS x"
)
#: (commented statement, the same statement without its comment)
COMMENTED = {
    "groups_line_comment": (
        f"SELECT rid, {_GROUPS_ITEM} -- it's\nFROM kw_matrix_t",
        f"SELECT rid, {_GROUPS_ITEM}\nFROM kw_matrix_t",
    ),
    "items_line_comment": (
        f"SELECT rid, {_CTE_WINDOW} -- it's x\nFROM kw_matrix_t",
        f"SELECT rid, {_CTE_WINDOW}\nFROM kw_matrix_t",
    ),
    "cte_body_comment": (
        "WITH s AS (SELECT * -- the source's rows\nFROM kw_matrix_t)"
        f" SELECT rid, {_CTE_WINDOW} FROM s",
        f"{_CTE}SELECT rid, {_CTE_WINDOW} FROM s",
    ),
    "block_comment_before_from": (
        f"SELECT rid, {_GROUPS_ITEM} /* it's */ FROM kw_matrix_t",
        f"SELECT rid, {_GROUPS_ITEM} FROM kw_matrix_t",
    ),
    "trailing_comment_groups": (
        f"SELECT rid, {_GROUPS_ITEM} FROM kw_matrix_t -- it's",
        f"SELECT rid, {_GROUPS_ITEM} FROM kw_matrix_t",
    ),
}


@pytest.mark.parametrize("label", sorted(COMMENTED))
def test_commented_statements_rewrite(spark, kw_table, label):
    """A commented statement rewrites and compresses like its
    comment-free twin and returns the same rows."""
    commented, plain = COMMENTED[label]
    rewritten = rewrite_window_frames(commented)
    compressed = rewrite_windows(commented)
    assert compressed != rewritten, rewritten
    want = spark.sql(rewrite_window_frames(plain)).orderBy("rid").collect()
    assert spark.sql(compressed).orderBy("rid").collect() == want


def test_comments_mask_without_literal_flip():
    """``_mask_literals`` blanks whole comments; a quote inside one
    opens no literal and ``--`` inside a literal is no comment.
    ``_strip_comments`` keeps hints and leaves comment-free text
    untouched."""
    from adt_spark.dialect.sqltext import _mask_literals, _strip_comments

    src = "a -- it's\nb /* x ' */ 'c -- d' FROM /* open"
    assert _mask_literals(src) == (
        "a        \nb           '      ' FROM        "
    )
    assert _strip_comments(src) == (
        "a        \nb           'c -- d' FROM        "
    )
    hinted = "SELECT /*+ BROADCAST(t) */ a FROM t"
    assert _strip_comments(hinted) == hinted
    plain = "SELECT 'it''s' AS a, b - 1 FROM t"
    assert _strip_comments(plain) is plain


#: the registry's WITH-sourced window oracles that the pass compresses
#: (the other window members use ROWS frames, which it refuses)
_COMPRESSED_ORACLES = (
    "q_window_exclude",
    "q_window_groups_frame",
    "q_window_exclude_minmax",
    "q_window_exclude_range_value",
    "q_window_exclude_range_date",
    "q_window_exclude_range_month",
)


@pytest.mark.parametrize("name", _COMPRESSED_ORACLES)
def test_with_oracles_compress(name):
    """Keeps the compression from being dropped silently: each oracle
    starts with ``WITH`` and still comes out of ``translate_sql``
    evaluated over the key grain."""
    from adt_spark.dialect.translate import translate_sql
    from adt_spark.queries import load_all

    oracle = load_all()[name].oracle
    assert oracle.lstrip().upper().startswith("WITH")
    assert "__kw_w" in translate_sql(oracle)


def test_window_family_leaves_no_views(spark, sf_dir):
    """The window family runs its CTE text, so building its queries
    leaves no ``adt_wx_*`` temp view in the session catalog."""
    from adt_spark.queries import load_all

    reg = load_all()
    for name in sorted(n for n in reg if n.startswith("q_window_")):
        reg[name].spark_fn(spark, sf_dir)
    assert not [
        t.name for t in spark.catalog.listTables() if t.name.startswith("adt_wx_")
    ]
