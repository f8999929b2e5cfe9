"""Differential test of the window passes against DuckDB and against
Spark with the passes off.

Generated windowed statements run through ``ADTContext.sql`` (the
dialect passes ``window_frames``, ``keyed_windows`` and
``global_rank``, then Spark) and through DuckDB 1.0.0; the rows must
agree.  Where Spark can run a statement without a pass, that run is a
second reference: the keyed RANGE family also runs as the uncompressed
frame-rewrite text, and the global family as plain
``spark.sql(translate_sql(…))`` on Spark's single-partition window.
The generator covers the function and frame mixes those
modules' docstrings say they support, over a small table with NULL
keys, NULL values, tied keys and both sort directions — the method of
SQLancer's differential testing (Rigger & Su, OSDI 2020).

Null placement follows ``tests/test_window_frames.py``: the source
dialect (DataFusion, PostgreSQL) puts NULLs last for ASC keys and first
for DESC keys, and DuckDB puts them last both ways, so DuckDB's text
always carries the explicit modifier.  Windows a pass leaves to Spark
keep Spark's defaults, so those statements spell the modifier out on
both sides.  Statements whose frame order is not total (ROWS frames,
positional functions) order by the unique ``rid`` last.

Left out, as documented in ``tests/test_window_frames.py``: DuckDB's
native EXCLUDE over frames that cannot contain the current row, which
is nonconformant; EXCLUDE frames here always straddle it.  GROUPS
frames, which DuckDB does not implement, are checked against the
dense_rank + RANGE construction.
"""

from __future__ import annotations

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

ROWS = [
    # rid, p, k, v
    (1, 1, 1, 10), (2, 1, 1, None), (3, 1, 2, -3), (4, 1, 2, 7),
    (5, 1, 4, 7), (6, 1, None, 5), (7, 1, None, None), (8, 1, 9, 0),
    (9, 2, 3, 4), (10, 2, 3, 4), (11, 2, 3, -8), (12, 2, 6, None),
    (13, 2, None, 2), (14, 2, 7, 12), (15, 2, 8, 1), (16, 2, 8, 6),
]
_T = "dz_t"


@pytest.fixture(scope="module")
def engines(spark):
    from adt_spark import ADTContext

    spark.createDataFrame(ROWS, "rid int, p int, k int, v int").createOrReplaceTempView(_T)
    con = duckdb.connect()
    con.execute(f"CREATE TABLE {_T}(rid INT, p INT, k INT, v INT)")
    con.executemany(f"INSERT INTO {_T} VALUES (?, ?, ?, ?)", ROWS)
    return ADTContext(spark=spark), con


def _norm(rows):
    return sorted(
        (tuple(None if x is None else round(float(x), 6) for x in r) for r in rows),
        key=str,
    )


_DIR = st.sampled_from(["ASC", "DESC"])
_NULLS = st.sampled_from(["NULLS FIRST", "NULLS LAST"])
_N = st.integers(min_value=1, max_value=3)


def _source_nulls(direction: str, nulls: str | None) -> str:
    """The null placement of a key in the source dialect."""
    return nulls or ("NULLS LAST" if direction == "ASC" else "NULLS FIRST")


@st.composite
def _key(draw, pinned: bool):
    """(spark text, duckdb text) of the ``k`` key.  ``pinned``: the
    pass rewriting the window pins the source dialect's null placement,
    so the modifier may be left out on Spark's side."""
    direction = draw(_DIR)
    nulls = draw(st.none() | _NULLS) if pinned else draw(_NULLS)
    spark_key = f"k {direction}" + (f" {nulls}" if nulls else "")
    return spark_key, f"k {direction} {_source_nulls(direction, nulls)}"


def _total(key: tuple[str, str]) -> tuple[str, str]:
    return key[0] + ", rid", key[1] + ", rid"


@st.composite
def _lo_hi(draw):
    """A frame that contains the current row: lo ≤ 0 ≤ hi."""
    lo = draw(st.sampled_from(["UNBOUNDED PRECEDING", "CURRENT ROW"]) | _N.map("{} PRECEDING".format))
    hi = draw(st.sampled_from(["UNBOUNDED FOLLOWING", "CURRENT ROW"]) | _N.map("{} FOLLOWING".format))
    return lo, hi


@st.composite
def _global_window(draw):
    """global_rank: unpartitioned ORDER BY windows and OVER ()."""
    key = draw(_key(pinned=False))
    total = _total(key)
    kind = draw(st.sampled_from(["rank", "running", "rows", "offset", "value", "scalar"]))
    if kind == "rank":
        fn = draw(st.sampled_from(
            ["row_number()", "rank()", "dense_rank()", "percent_rank()", "cume_dist()", "ntile(3)"]
        ))
        return f"{fn} OVER (ORDER BY {{}})", total
    agg = draw(st.sampled_from(["sum", "count", "min", "max", "avg"]))
    if kind == "running":
        return f"{agg}(v) OVER (ORDER BY {{}})", key
    if kind == "rows":
        lo, hi = draw(_lo_hi())
        return f"{agg}(v) OVER (ORDER BY {{}} ROWS BETWEEN {lo} AND {hi})", total
    if kind == "offset":
        fn = draw(st.sampled_from(["lag", "lead"]))
        args = draw(st.sampled_from(["v", "v, 2", "v, 1, -1"]))
        return f"{fn}({args}) OVER (ORDER BY {{}})", total
    if kind == "value":
        fn = draw(st.sampled_from(["first_value(v)", "last_value(v)", "nth_value(v, 2)"]))
        return f"{fn} OVER (ORDER BY {{}})", total
    return f"{agg}(v) OVER ()", ("", "")


@st.composite
def _keyed_window(draw):
    """keyed_windows: RANGE windows over a bare partition and key."""
    fn = draw(st.sampled_from(
        ["sum(v)", "count(v)", "count(*)", "min(v)", "max(v)", "first_value(k)", "last_value(k)"]
    ))
    frame = ""
    if draw(st.booleans()):
        frame = " RANGE BETWEEN {} AND {}".format(*draw(_lo_hi()))
    return f"{fn} OVER (PARTITION BY p ORDER BY {{}}{frame})", draw(_key(pinned=False))


@st.composite
def _exclude_window(draw):
    """window_frames EXCLUDE over a straddling frame."""
    lo, hi = draw(_lo_hi())
    if draw(st.booleans()):  # RANGE: peer-space exclusions
        fn = draw(st.sampled_from(
            ["sum(v)", "count(v)", "count(*)", "avg(v)", "min(v)", "max(v)", "first_value(k)", "last_value(k)"]
        ))
        subtract = fn[:3] in ("sum", "cou", "avg")
        excl = draw(st.sampled_from(["CURRENT ROW", "GROUP", "TIES"] if subtract else ["GROUP", "TIES"]))
        if fn.endswith("value(k)") and (lo[0].isdigit() or hi[0].isdigit()):
            # first/last_value refuse a value-offset frame with an
            # UNBOUNDED side (window_frames docstring)
            lo = lo.replace("UNBOUNDED PRECEDING", "CURRENT ROW")
            hi = hi.replace("UNBOUNDED FOLLOWING", "CURRENT ROW")
        key = draw(_key(pinned=True))
        frame = f"RANGE BETWEEN {lo} AND {hi} EXCLUDE {excl}"
    else:  # ROWS: positional, so the order must be total
        fn = draw(st.sampled_from(
            ["sum(v)", "count(v)", "avg(v)", "min(v)", "max(v)", "first_value(v)", "last_value(v)"]
        ))
        key = _total(draw(_key(pinned=True)))
        frame = f"ROWS BETWEEN {lo} AND {hi} EXCLUDE CURRENT ROW"
    return f"{fn} OVER (PARTITION BY p ORDER BY {{}} {frame})", key


@st.composite
def _groups_window(draw):
    """window_frames GROUPS frames (checked through dense_rank)."""
    fn = draw(st.sampled_from(["sum(v)", "count(*)", "min(v)", "max(v)", "avg(v)", "first_value(k)"]))
    lo, hi = draw(_lo_hi())
    return f"{fn} OVER (PARTITION BY p ORDER BY {{}} GROUPS BETWEEN {lo} AND {hi})", draw(
        _key(pinned=True)
    )


@st.composite
def _ubf_window(draw):
    """window_frames moving-start ``ROWS … AND UNBOUNDED FOLLOWING``."""
    fn = draw(st.sampled_from(
        ["sum(v)", "count(v)", "avg(v)", "min(v)", "max(v)", "first_value(v)", "last_value(v)"]
    ))
    lo = draw(st.just("CURRENT ROW") | _N.map("{} PRECEDING".format) | _N.map("{} FOLLOWING".format))
    return (
        f"{fn} OVER (PARTITION BY p ORDER BY {{}} ROWS BETWEEN {lo} AND UNBOUNDED FOLLOWING)",
        _total(draw(_key(pinned=False))),
    )


_FAMILIES = {
    "global": _global_window(),
    "keyed": _keyed_window(),
    "exclude": _exclude_window(),
    "groups": _groups_window(),
    "ubf": _ubf_window(),
}


@st.composite
def _statement(draw, family: str):
    """(spark statement, duckdb statement): one or two window items of
    one family over the table."""
    windows = draw(st.lists(_FAMILIES[family], min_size=1, max_size=2))
    spark_items = [w.format(sk) for w, (sk, _dk) in windows]
    duck_items = [w.format(dk) for w, (_sk, dk) in windows]
    spark_sql = "SELECT rid, " + ", ".join(
        f"{item} AS w{i}" for i, item in enumerate(spark_items)
    ) + f" FROM {_T}"
    if family == "groups":
        # DuckDB has no GROUPS frames: the frame runs in peer-group
        # space, over dense_rank of the same partition and order
        duck_items = [
            item.replace(f"ORDER BY {dk}", f"ORDER BY dr{i}").replace("GROUPS", "RANGE")
            for i, (item, (_w, (_sk, dk))) in enumerate(zip(duck_items, windows))
        ]
        ranks = ", ".join(
            f"dense_rank() OVER (PARTITION BY p ORDER BY {dk}) AS dr{i}"
            for i, (_w, (_sk, dk)) in enumerate(windows)
        )
        source = f"(SELECT *, {ranks} FROM {_T}) r"
    else:
        source = _T
    duck_sql = "SELECT rid, " + ", ".join(
        f"{item} AS w{i}" for i, item in enumerate(duck_items)
    ) + f" FROM {source}"
    return spark_sql, duck_sql


def _passes_off(spark, family: str, spark_sql: str):
    """The statement's rows with the family's pass off, or None when
    Spark cannot run the statement without it."""
    from adt_spark.dialect.translate import translate_sql
    from adt_spark.dialect.window_frames import rewrite_window_frames

    if family == "keyed":
        return spark.sql(rewrite_window_frames(spark_sql)).collect()
    if family == "global":
        return spark.sql(translate_sql(spark_sql)).collect()
    return None


@pytest.mark.parametrize("family", sorted(_FAMILIES))
@given(data=st.data())
@settings(max_examples=8, derandomize=True, deadline=None)
def test_window_passes_match_duckdb(engines, family, data):
    """Every generated statement returns DuckDB's rows through
    ``ADTContext.sql`` (8 statements per family, 40 in all), and the
    rows Spark gives with the family's pass off."""
    ctx, con = engines
    spark_sql, duck_sql = data.draw(_statement(family))
    got = _norm(ctx.sql(spark_sql).collect())
    want = _norm(con.execute(duck_sql).fetchall())
    assert got == want, (spark_sql, duck_sql)
    off = _passes_off(ctx.spark, family, spark_sql)
    if off is not None:
        assert got == _norm(off), spark_sql
