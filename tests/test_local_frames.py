"""Driver-built tables are Arrow local relations.

``context.local_frame`` replaces ``spark.createDataFrame(<list>)``
everywhere in ``adt_spark/``: the list path plans a Python RDD, so
every execution of the table ran Python-worker tasks; the Arrow path
plans a ``LocalRelation`` that Spark collects without a job and
broadcasts with JVM-only tasks.  These tests pin value parity with the list path, the
plan shape, the job count, and that no list-based call comes back.
"""

from __future__ import annotations

import ast
import contextlib
import datetime
import math
import os
import pathlib
import time
from decimal import Decimal

import pytest

from adt_spark.context import local_frame

_PKG = pathlib.Path(__file__).resolve().parent.parent / "adt_spark"

_DDL = (
    "i int, b bigint, d double, s string, t boolean, dt date, ts timestamp, "
    "tn timestamp_ntz, dec decimal(12,2), arr array<double>"
)

_ROWS = [
    (
        1, 2**40, float("nan"), "a", True, datetime.date(2024, 1, 2),
        datetime.datetime(2024, 3, 10, 12, 30, 0, 123456),
        datetime.datetime(2024, 11, 3, 1, 30), Decimal("1234567890.12"),
        [1.5, float("nan"), None, -0.0],
    ),
    (
        -(2**31), -(2**63), -0.0, "", False, datetime.date(1969, 12, 31),
        datetime.datetime(1969, 12, 31, 23, 59, 59, 999999),
        datetime.datetime(1900, 1, 1), Decimal("-0.01"), [],
    ),
    (
        7, 0, math.inf, "ünï", None, None,
        datetime.datetime(2024, 7, 4, 1, 30), datetime.datetime(2024, 3, 10, 2, 30),
        Decimal("0.00"), None,
    ),
    (None,) * 10,
]


def _norm(v):
    """A value with NaN and the sign of zero made comparable."""
    if isinstance(v, float):
        if v != v:
            return "nan"
        if v == 0.0:
            return ("zero", math.copysign(1.0, v))
        return v
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


def _rows(df) -> list:
    return [_norm(tuple(r)) for r in df.collect()]


#: US Eastern as a POSIX rule (needs no tz database): DST from the
#: second Sunday of March to the first Sunday of November, 02:00.
_EASTERN = "EST+5EDT,M3.2.0/2,M11.1.0/2"


@contextlib.contextmanager
def _process_tz(tz: str):
    """The Python process's local time zone, set with ``time.tzset``
    and restored afterwards (a naive TIMESTAMP value means local
    time)."""
    old = os.environ.get("TZ")
    os.environ["TZ"] = tz
    time.tzset()
    try:
        yield
    finally:
        if old is None:
            os.environ.pop("TZ", None)
        else:
            os.environ["TZ"] = old
        time.tzset()


@pytest.fixture(params=["UTC", _EASTERN])
def local_tz(request):
    with _process_tz(request.param):
        yield request.param


@pytest.mark.parametrize("n_rows", [len(_ROWS), 1, 0])
def test_local_frame_equals_list_path(spark, local_tz, n_rows):
    """Every column type the engine builds driver tables from — NaN
    and -0.0 doubles, nested NaN / NULL array elements, dates, naive
    local-time TIMESTAMP values on both sides of a DST change and
    wall-clock TIMESTAMP_NTZ values (a DST gap and fold included),
    decimals, an all-NULL row, zero rows — reads back exactly as
    ``createDataFrame(list)`` does.  (Local times inside a DST gap or
    fold are pinned to explicit instants below: there the list path's
    ``mktime`` answer depends on libc state.)"""
    rows = _ROWS[:n_rows]
    got = local_frame(spark, rows, _DDL)
    want = spark.createDataFrame(rows, _DDL)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    # same instants, not only the same local rendering
    micros = ("unix_micros(ts) AS u", "i")
    assert _rows(got.selectExpr(*micros)) == _rows(want.selectExpr(*micros))


def test_local_frame_dst_fold_and_gap_instants(spark):
    """Collected TIMESTAMPs re-enter as the instants they were, also
    inside a DST-repeated hour: ``fromInternal`` marks the second pass
    ``fold=1`` and ``local_frame`` honours it (global-window bounds and
    lag/lead state do exactly this round trip).  A local time inside
    the spring-forward gap reads as ``datetime.astimezone`` reads it —
    never by libc state."""
    from pyspark.sql import types as T

    with _process_tz(_EASTERN):
        # 2024-11-03 05:30Z and 06:30Z are both 01:30 local
        micros = [1730611800000000, 1730615400000000]
        vals = [(T.TimestampType().fromInternal(u),) for u in micros]
        assert [v.fold for (v,) in vals] == [0, 1]
        # 2024-03-10 02:30 does not exist locally; Python reads 06:30Z
        vals.append((datetime.datetime(2024, 3, 10, 2, 30),))
        micros.append(1710052200000000)
        for _ in range(2):  # libc's mktime would answer by its last call
            got = local_frame(spark, vals, "ts timestamp")
            us = [r.u for r in got.selectExpr("unix_micros(ts) AS u").collect()]
            assert us == micros


def test_local_frame_nested_timestamps_equal_list_path(spark, local_tz):
    """TIMESTAMP values inside arrays, maps and structs (the shapes a
    lag/lead state table carries) convert by the same local-time rule
    as top-level ones, from a ``StructType`` schema."""
    from pyspark.sql import Row
    from pyspark.sql import types as T

    ts = T.TimestampType()
    schema = T.StructType([
        T.StructField("k", T.IntegerType(), False),
        T.StructField("a", T.ArrayType(ts), True),
        T.StructField("m", T.MapType(T.StringType(), ts), True),
        T.StructField("s", T.StructType([
            T.StructField("t", ts), T.StructField("n", T.StringType()),
        ]), True),
    ])
    t1 = datetime.datetime(2024, 11, 3, 12, 30, 0, 5)
    t2 = datetime.datetime(1999, 12, 31, 23, 59)
    rows = [
        (1, [t1, None, t2], {"x": t1, "y": None}, Row(t=t2, n="r")),
        # a non-NULL map: pyarrow < 17 reads a NULL one back as {}
        # (the known limit in local_frame's docstring)
        (2, None, {}, None),
        (3, [], {}, (None, None)),
    ]
    got = local_frame(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert _rows(got) == _rows(want)
    flat = (
        "k", "transform(a, x -> unix_micros(x)) AS a",
        "transform_values(m, (_k, x) -> unix_micros(x)) AS m",
        "unix_micros(s.t) AS st",
    )
    assert _rows(got.selectExpr(*flat)) == _rows(want.selectExpr(*flat))


def test_local_frame_plans_local_relation(spark):
    df = local_frame(spark, [(1, "a"), (2, "b")], "k int, v string")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.startswith("LocalRelation"), plan
    assert "LogicalRDD" not in plan


def _job_ids(spark) -> set:
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    it = jsc.statusStore().jobsList(None).iterator()
    out = set()
    while it.hasNext():
        out.add(it.next().jobId())
    return out


def test_delete_result_first_submits_no_job(spark, tmp_path):
    """A DML result frame is read without a Spark job (the list path
    ran a Python-worker job for each ``.first()``)."""
    from adt_spark import ADTContext
    from adt_spark.sources.delta_native_write import write_delta_native

    t = str(tmp_path / "dml_jobs")
    write_delta_native(
        local_frame(spark, [(i, f"s{i}") for i in range(10)], "id long, s string"),
        t,
        mode="append",
    )
    res = ADTContext(spark=spark).sql(f"DELETE FROM delta.`{t}` WHERE id < 3")
    before = _job_ids(spark)
    assert res.first().num_affected_rows == 3
    assert _job_ids(spark) == before, "reading the DELETE result ran a job"


def test_sql_global_window_plans_read_no_rdd(spark, sf_dir):
    """Every ``q_sql_*`` statement's optimized plan reads its bounds
    and per-pid state as local relations — no ``LogicalRDD`` (a
    Python-list table or a checkpoint) anywhere.  (A statement with
    only whole-input ``OVER ()`` aggregates has no per-pid tables: its
    totals are literals.)"""
    from adt_spark.queries import load_all

    names = sorted(n for n in load_all() if n.startswith("q_sql_"))
    assert names
    for name in names:
        df = load_all()[name].spark_fn(spark, sf_dir)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "LogicalRDD" not in plan, name
        assert "LocalRelation" in plan or name == "q_sql_ratio_to_total", name


#: ``createDataFrame`` calls allowed outside ``local_frame``: inputs
#: that are already pandas or Arrow, so they never plan a Python RDD.
_ALLOWED = {
    ("context.py", "local_frame"),  # the helper itself (pyarrow.Table)
    ("sources/arrow_ipc.py", "read_arrow_ipc"),  # a pandas frame
}


def _create_dataframe_calls(tree: ast.AST):
    """(line, innermost enclosing function name or None) of every
    ``<x>.createDataFrame(...)`` call in a module."""
    out: list = []

    def visit(node, fn):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fn = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            out.append((node.lineno, fn))
        for child in ast.iter_child_nodes(node):
            visit(child, fn)

    visit(tree, None)
    return out


def test_no_list_create_dataframe_in_engine():
    """A list-based ``createDataFrame`` in ``adt_spark/`` would bring
    back a Python-worker job per execution of a driver table; every
    driver-built table goes through ``context.local_frame``."""
    found = []
    for path in sorted(_PKG.rglob("*.py")):
        rel = path.relative_to(_PKG).as_posix()
        tree = ast.parse(path.read_text(), filename=rel)
        for line, fn in _create_dataframe_calls(tree):
            if (rel, fn) not in _ALLOWED:
                found.append(f"adt_spark/{rel}:{line} in {fn}")
    assert not found, found
