"""The OVER-spec model (``dialect/overspec.py``): what ``parse_over``
reads from a window body, checked without Spark."""

from __future__ import annotations

import pytest

from adt_spark.dialect.overspec import Frame, OrderKey, parse_over
from adt_spark.dialect.sqltext import _mask_literals


def _spec(body: str):
    sql = f"SELECT f(x) OVER ({body}) AS w FROM t"
    return parse_over(_mask_literals(sql), sql, sql.index("OVER (") + 5), sql


def test_partition_keys_frame_exclude():
    spec, sql = _spec(
        "PARTITION BY p, q ORDER BY k DESC, lower(s) nulls first, x "
        "ROWS BETWEEN 2 PRECEDING AND 0 FOLLOWING EXCLUDE  Current Row"
    )
    assert spec.partition == "p, q"
    assert spec.order == "k DESC, lower(s) nulls first, x"
    assert spec.keys == (
        OrderKey("k DESC", "k", True, None),
        OrderKey("lower(s) nulls first", "lower(s)", False, "first"),
        OrderKey("x", "x", False, None),
    )
    assert (spec.frame.mode, spec.frame.lo, spec.frame.hi) == ("rows", "2 preceding", "current row")
    assert sql[slice(*spec.frame.span)] == "ROWS BETWEEN 2 PRECEDING AND 0 FOLLOWING"
    assert spec.exclude == "current row"
    assert sql[spec.close] == ")" and sql[spec.close + 1 :] == " AS w FROM t"


def test_literals_and_interval_bounds():
    """A quoted key is not read as syntax; a quoted INTERVAL magnitude
    comes back from the statement text."""
    spec, _ = _spec(
        "ORDER BY concat(k, ' desc') RANGE BETWEEN INTERVAL '3' DAY PRECEDING "
        "AND CURRENT ROW"
    )
    assert spec.partition is None
    assert spec.keys == (OrderKey("concat(k, ' desc')", "concat(k, ' desc')", False, None),)
    assert spec.frame.lo == "interval '3' day preceding"


def test_unread_frame_keeps_its_mode():
    """Bounds outside the grammar, such as the value split's CAST
    bounds, leave a frame with its mode and no bounds."""
    spec, _ = _spec(
        "PARTITION BY p ORDER BY CAST((k) AS DECIMAL(38,18)) NULLS LAST RANGE "
        "BETWEEN CAST(2 AS DECIMAL(38,18)) PRECEDING AND "
        "CAST(0.000000000000000001 AS DECIMAL(38,18)) PRECEDING"
    )
    assert (spec.frame.mode, spec.frame.lo, spec.frame.hi) == ("range", None, None)
    assert spec.keys[0].expr == "CAST((k) AS DECIMAL(38,18))"
    assert spec.keys[0].nulls == "last"


def test_no_spec_and_named_window():
    assert _spec("")[0].keys == () and _spec("")[0].frame is None
    assert _spec("w ORDER BY k")[0] is None


@pytest.mark.parametrize(
    ("lo", "hi", "offsets"),
    [
        ("unbounded preceding", "current row", (None, 0)),
        ("3 preceding", "1 preceding", (-3, -1)),
        ("current row", "unbounded following", (0, None)),
        ("2 following", "5 following", (2, 5)),
        ("unbounded following", "current row", None),
        ("current row", "unbounded preceding", None),
        ("1.5 preceding", "current row", None),
        ("interval '1' day preceding", "current row", None),
        (None, None, None),
    ],
)
def test_row_offsets(lo, hi, offsets):
    assert Frame("rows", lo, hi, (0, 0)).row_offsets() == offsets
