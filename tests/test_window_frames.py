"""GROUPS / EXCLUDE window-frame SQL rewrites (dialect layer).

DataFusion 48 parses both constructs in raw adt scripts
(crates/core/src/context.rs:32-33 via the CLI pass-through
crates/cli/src/main.rs:116); Spark 4 parses neither.  These tests pin
the textual rewrite `adt_spark/dialect/window_frames.py` against
DuckDB: native EXCLUDE is DuckDB-supported (direct oracle), GROUPS is
not ("not implemented yet"), so its oracle is the dense_rank
construction q_window_groups_frame already proved driver-green.

Null-ordering note: the rewrites pin the SOURCE dialect's defaults
(DataFusion/PostgreSQL: ASC NULLS LAST, DESC NULLS FIRST) because
Spark's defaults are the opposite; DuckDB defaults to NULLS LAST in
BOTH directions, so DESC oracles below carry explicit modifiers.
"""

from __future__ import annotations

import duckdb
import pytest

from adt_spark.dialect.window_frames import rewrite_window_frames


ROWS = [
    (1, 1), (2, 1), (2, 1), (3, 1), (5, 1), (None, 1),
    (2, 2), (2, 2), (7, 2), (8, 2), (None, 2), (None, 2),
]


@pytest.fixture(scope="module")
def small_t(spark):
    spark.createDataFrame(ROWS, "a int, g int").createOrReplaceTempView(
        "wf_t"
    )
    con = duckdb.connect()
    con.execute("create table wf_t(a int, g int)")
    con.executemany("insert into wf_t values (?,?)", ROWS)
    return con


def _norm(rows):
    return sorted(
        [tuple(None if x is None else float(x) for x in r) for r in rows],
        key=str,
    )


_FRAME = "PARTITION BY g ORDER BY a RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING"


@pytest.mark.parametrize(
    "q",
    [
        f"SELECT a, g, sum(a) OVER ({_FRAME} EXCLUDE CURRENT ROW) AS v FROM wf_t",
        f"SELECT a, g, sum(a) OVER ({_FRAME} EXCLUDE GROUP) AS v FROM wf_t",
        f"SELECT a, g, sum(a) OVER ({_FRAME} EXCLUDE TIES) AS v FROM wf_t",
        f"SELECT a, g, sum(a) OVER ({_FRAME} EXCLUDE NO OTHERS) AS v FROM wf_t",
        f"SELECT a, g, count(a) OVER ({_FRAME} EXCLUDE GROUP) AS v FROM wf_t",
        f"SELECT a, g, count(*) OVER ({_FRAME} EXCLUDE TIES) AS v FROM wf_t",
        f"SELECT a, g, avg(a) OVER ({_FRAME} EXCLUDE GROUP) AS v FROM wf_t",
        "SELECT a, g, count(*) OVER (PARTITION BY g ORDER BY a RANGE BETWEEN "
        "UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) AS v FROM wf_t",
        "SELECT a, g, sum(a) OVER (PARTITION BY g ORDER BY a DESC RANGE BETWEEN "
        "2 PRECEDING AND 2 FOLLOWING EXCLUDE TIES) AS v FROM wf_t",
    ],
)
def test_exclude_matches_duckdb_native(spark, small_t, q):
    """Every EXCLUDE variant (sum/count/avg × current row/group/ties,
    NULL keys and ties present) equals DuckDB's NATIVE EXCLUDE."""
    got = _norm(spark.sql(rewrite_window_frames(q)).collect())
    want = _norm(small_t.execute(q).fetchall())
    assert got == want


@pytest.mark.parametrize(
    ("q", "oracle"),
    [
        (
            "SELECT a, g, sum(a) OVER (PARTITION BY g ORDER BY a GROUPS "
            "BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS v FROM wf_t",
            "WITH r AS (SELECT a, g, dense_rank() OVER (PARTITION BY g "
            "ORDER BY a) AS dr FROM wf_t) SELECT a, g, sum(a) OVER "
            "(PARTITION BY g ORDER BY dr RANGE BETWEEN 1 PRECEDING AND 1 "
            "FOLLOWING) AS v FROM r",
        ),
        (
            # DESC: oracle pins NULLS FIRST explicitly — the source
            # dialect's DESC default, not DuckDB's
            "SELECT a, g, sum(a) OVER (PARTITION BY g ORDER BY a DESC GROUPS "
            "BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS v FROM wf_t",
            "WITH r AS (SELECT a, g, dense_rank() OVER (PARTITION BY g "
            "ORDER BY a DESC NULLS FIRST) AS dr FROM wf_t) SELECT a, g, "
            "sum(a) OVER (PARTITION BY g ORDER BY dr RANGE BETWEEN 1 "
            "PRECEDING AND 1 FOLLOWING) AS v FROM r",
        ),
        (
            # GROUPS + EXCLUDE combined
            "SELECT a, g, sum(a) OVER (PARTITION BY g ORDER BY a GROUPS "
            "BETWEEN 2 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP) AS v FROM wf_t",
            "WITH r AS (SELECT a, g, dense_rank() OVER (PARTITION BY g "
            "ORDER BY a) AS dr FROM wf_t) SELECT a, g, sum(a) OVER "
            "(PARTITION BY g ORDER BY dr RANGE BETWEEN 2 PRECEDING AND 1 "
            "FOLLOWING EXCLUDE GROUP) AS v FROM r",
        ),
        (
            # UNBOUNDED/CURRENT endpoints: direct RANGE mapping
            "SELECT a, g, sum(a) OVER (PARTITION BY g ORDER BY a GROUPS "
            "BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v FROM wf_t",
            "SELECT a, g, sum(a) OVER (PARTITION BY g ORDER BY a RANGE "
            "BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS v FROM wf_t",
        ),
        (
            # WITH-prefixed statement: wrap applies to the final SELECT
            "WITH base AS (SELECT a, g FROM wf_t WHERE a IS NOT NULL) "
            "SELECT a, g, sum(a) OVER (PARTITION BY g ORDER BY a GROUPS "
            "BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS v FROM base",
            "WITH base AS (SELECT a, g FROM wf_t WHERE a IS NOT NULL), r AS "
            "(SELECT a, g, dense_rank() OVER (PARTITION BY g ORDER BY a) AS "
            "dr FROM base) SELECT a, g, sum(a) OVER (PARTITION BY g ORDER "
            "BY dr RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS v FROM r",
        ),
    ],
)
def test_groups_matches_constructed_oracle(spark, small_t, q, oracle):
    """GROUPS frames (numeric offsets, DESC, combined EXCLUDE, WITH
    prefix) equal the dense_rank+RANGE construction in DuckDB."""
    got = _norm(spark.sql(rewrite_window_frames(q)).collect())
    want = _norm(small_t.execute(oracle).fetchall())
    assert got == want


def test_exclude_exhaustive_matrix(spark, small_t):
    """Every (aggregate × exclude-variant × frame × sort-direction)
    combination, evaluated as columns of ONE statement against
    DuckDB's native EXCLUDE — 54 window expressions over data with
    ties and NULL keys."""
    frames = [
        "RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING",
        "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
        "RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING",
    ]
    # input uses BARE directions (the rewrite pins the source
    # dialect's defaults); the DuckDB oracle must spell DESC NULLS
    # FIRST explicitly because DuckDB's own DESC default is NULLS
    # LAST — with unbounded frames the NULL rows' frames differ
    # between those defaults (this matrix caught exactly that)
    spark_cols, duck_cols = [], []
    i = 0
    for agg in ("sum(a)", "count(a)", "count(*)"):
        for excl in ("CURRENT ROW", "GROUP", "TIES"):
            for frame in frames:
                for d, od in (("", ""), (" DESC", " DESC NULLS FIRST")):
                    spark_cols.append(
                        f"{agg} OVER (PARTITION BY g ORDER BY a{d} {frame} "
                        f"EXCLUDE {excl}) AS c{i}"
                    )
                    duck_cols.append(
                        f"{agg} OVER (PARTITION BY g ORDER BY a{od} {frame} "
                        f"EXCLUDE {excl}) AS c{i}"
                    )
                    i += 1
    sq = f"SELECT a, g, {', '.join(spark_cols)} FROM wf_t"
    oq = f"SELECT a, g, {', '.join(duck_cols)} FROM wf_t"
    got = _norm(spark.sql(rewrite_window_frames(sq)).collect())
    want = _norm(small_t.execute(oq).fetchall())
    assert len(got) == len(want) == len(ROWS)
    assert got == want


def test_split_frame_exclude_matrix(spark, small_t):
    """min/max/first_value/last_value × EXCLUDE GROUP/TIES × frame ×
    direction — the SPLIT-FRAME rewrite (half-frames over the injected
    peer index) against DuckDB's native EXCLUDE.  Data has ties and
    NULL keys; the aggregate arg is the sort key so first/last among
    peers is value-determined in both engines."""
    frames = [
        "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
        "RANGE BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING",
        "RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING",
    ]
    spark_cols, duck_cols = [], []
    i = 0
    for agg in ("min(a)", "max(a)", "first_value(a)", "last_value(a)"):
        for excl in ("GROUP", "TIES"):
            for frame in frames:
                for d, od in (("", ""), (" DESC", " DESC NULLS FIRST")):
                    spark_cols.append(
                        f"{agg} OVER (PARTITION BY g ORDER BY a{d} {frame} "
                        f"EXCLUDE {excl}) AS c{i}"
                    )
                    duck_cols.append(
                        f"{agg} OVER (PARTITION BY g ORDER BY a{od} {frame} "
                        f"EXCLUDE {excl}) AS c{i}"
                    )
                    i += 1
    sq = f"SELECT a, g, {', '.join(spark_cols)} FROM wf_t"
    oq = f"SELECT a, g, {', '.join(duck_cols)} FROM wf_t"
    got = _norm(spark.sql(rewrite_window_frames(sq)).collect())
    want = _norm(small_t.execute(oq).fetchall())
    assert len(got) == len(want) == len(ROWS)
    assert got == want


def test_rows_frame_exclude_current_row_matrix(spark, small_t):
    """min/max/first_value/last_value (split in ROW space — numeric
    offsets are row offsets, no peer index needed) plus sum/count
    (subtraction) × ROWS frames × direction, EXCLUDE CURRENT ROW,
    against DuckDB's native EXCLUDE.  The aggregate arg is the sort
    key, so tie-order inside ROWS frames cannot change the value
    multiset either engine sees."""
    frames = [
        "ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING",
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING",
        "ROWS BETWEEN 1 PRECEDING AND UNBOUNDED FOLLOWING",
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING",
    ]
    aggs = (
        "min(a)", "max(a)", "first_value(a)", "last_value(a)",
        "sum(a)", "count(a)", "count(*)",
    )
    spark_cols, duck_cols = [], []
    i = 0
    for agg in aggs:
        for frame in frames:
            for d, od in (("", ""), (" DESC", " DESC NULLS FIRST")):
                spark_cols.append(
                    f"{agg} OVER (PARTITION BY g ORDER BY a{d} {frame} "
                    f"EXCLUDE CURRENT ROW) AS c{i}"
                )
                duck_cols.append(
                    f"{agg} OVER (PARTITION BY g ORDER BY a{od} {frame} "
                    f"EXCLUDE CURRENT ROW) AS c{i}"
                )
                i += 1
    sq = f"SELECT a, g, {', '.join(spark_cols)} FROM wf_t"
    oq = f"SELECT a, g, {', '.join(duck_cols)} FROM wf_t"
    got = _norm(spark.sql(rewrite_window_frames(sq)).collect())
    want = _norm(small_t.execute(oq).fetchall())
    assert len(got) == len(want) == len(ROWS)
    assert got == want


def test_nonstraddling_rows_exclude_current_row_noop_matrix(spark, small_t):
    """EXCLUDE CURRENT ROW over ROWS frames that CANNOT contain the
    current row (both bounds strictly preceding / strictly following)
    is a pure no-op — exclusion only ever REMOVES rows from the
    frame, and the current row was never in it.  Oracle: DuckDB over
    the BASE frame (the no-op's definition).  DuckDB 1.0.0's own
    native EXCLUDE agrees for min/max/sum/count but is nonconformant
    for first/last_value on these frames (excluding an absent row
    shifts its frame boundaries), so the native cross-check below
    covers the conformant aggregates only."""
    frames = [
        "ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING",
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING",
        "ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING",
        "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING",
    ]
    aggs = (
        "min(a)", "max(a)", "first_value(a)", "last_value(a)",
        "sum(a)", "count(a)", "count(*)",
    )
    spark_cols, base_cols, native_cols = [], [], []
    i = 0
    for agg in aggs:
        for frame in frames:
            for d, od in (("", ""), (" DESC", " DESC NULLS FIRST")):
                spark_cols.append(
                    f"{agg} OVER (PARTITION BY g ORDER BY a{d} {frame} "
                    f"EXCLUDE CURRENT ROW) AS c{i}"
                )
                base_cols.append(
                    f"{agg} OVER (PARTITION BY g ORDER BY a{od} {frame}) "
                    f"AS c{i}"
                )
                if "value" not in agg:
                    native_cols.append(
                        f"{agg} OVER (PARTITION BY g ORDER BY a{od} {frame} "
                        f"EXCLUDE CURRENT ROW) AS n{i}"
                    )
                i += 1
    sq = f"SELECT a, g, {', '.join(spark_cols)} FROM wf_t"
    oq = f"SELECT a, g, {', '.join(base_cols)} FROM wf_t"
    got = _norm(spark.sql(rewrite_window_frames(sq)).collect())
    want = _norm(small_t.execute(oq).fetchall())
    assert len(got) == len(want) == len(ROWS)
    assert got == want
    # DuckDB's native EXCLUDE agrees the clause is a no-op for the
    # conformant aggregates
    nq = f"SELECT {', '.join(native_cols)} FROM wf_t"
    bq = nq.replace(" EXCLUDE CURRENT ROW)", ")")
    assert _norm(small_t.execute(nq).fetchall()) == _norm(
        small_t.execute(bq).fetchall()
    )


def test_nonstraddling_range_exclude_matrix(spark, small_t):
    """EXCLUDE CURRENT ROW / GROUP over non-straddling RANGE frames
    is NOT a pure no-op: a NULL-keyed row's numeric-RANGE frame is
    its null peer group (containing the current row and peers) in
    both engines, so the rewrite gates the exclusion on key nullness.
    Oracle (all DuckDB-native, non-circular): non-NULL-key rows keep
    the BASE frame; NULL-key rows evaluate the same EXCLUDE over the
    peer frame ``RANGE CURRENT ROW AND CURRENT ROW`` — a STRADDLING
    frame, where DuckDB's native EXCLUDE is matrix-proven conformant.
    (DuckDB's native EXCLUDE directly on these non-straddling frames
    is nonconformant: with value-ties, two ORDER-BY-tied rows get
    different frames.)"""
    frames = [
        "RANGE BETWEEN 3 PRECEDING AND 1 PRECEDING",
        "RANGE BETWEEN 1 FOLLOWING AND 3 FOLLOWING",
    ]
    peer = "RANGE BETWEEN CURRENT ROW AND CURRENT ROW"
    cases = [
        (agg, excl)
        for agg in ("sum(a)", "count(a)", "count(*)", "avg(a)")
        for excl in ("CURRENT ROW", "GROUP")
    ] + [
        (agg, "GROUP")
        for agg in ("min(a)", "max(a)", "first_value(a)", "last_value(a)")
    ]
    spark_cols, duck_cols = [], []
    i = 0
    for agg, excl in cases:
        for frame in frames:
            for d, od in (
                ("", ""),
                (" DESC", " DESC NULLS FIRST"),
                # bare NULLS FIRST (no direction): valid in the source
                # dialect; the key-nullness gate must strip it when
                # extracting the bare ORDER BY key
                (" NULLS FIRST", " NULLS FIRST"),
            ):
                spark_cols.append(
                    f"{agg} OVER (PARTITION BY g ORDER BY a{d} {frame} "
                    f"EXCLUDE {excl}) AS c{i}"
                )
                base = f"{agg} OVER (PARTITION BY g ORDER BY a{od} {frame})"
                nullarm = (
                    f"{agg} OVER (PARTITION BY g ORDER BY a{od} {peer} "
                    f"EXCLUDE {excl})"
                )
                duck_cols.append(
                    f"(CASE WHEN a IS NULL THEN {nullarm} ELSE {base} END) "
                    f"AS c{i}"
                )
                i += 1
    sq = f"SELECT a, g, {', '.join(spark_cols)} FROM wf_t"
    oq = f"SELECT a, g, {', '.join(duck_cols)} FROM wf_t"
    got = _norm(spark.sql(rewrite_window_frames(sq)).collect())
    want = _norm(small_t.execute(oq).fetchall())
    assert len(got) == len(want) == len(ROWS)
    assert got == want


def test_nonstraddling_groups_exclude_noop(spark, small_t):
    """EXCLUDE over a non-straddling NUMERIC GROUPS frame: no-op in
    peer-group space; oracle is the dense_rank+RANGE construction
    over the base frame (the no-op's definition)."""
    sq = (
        "SELECT a, g, "
        "sum(a) OVER (PARTITION BY g ORDER BY a GROUPS BETWEEN 3 PRECEDING "
        "AND 1 PRECEDING EXCLUDE CURRENT ROW) AS s, "
        "min(a) OVER (PARTITION BY g ORDER BY a GROUPS BETWEEN 1 FOLLOWING "
        "AND 2 FOLLOWING EXCLUDE GROUP) AS m "
        "FROM wf_t"
    )
    oq = (
        "WITH r AS (SELECT a, g, dense_rank() OVER (PARTITION BY g "
        "ORDER BY a) AS dr FROM wf_t) "
        "SELECT a, g, "
        "sum(a) OVER (PARTITION BY g ORDER BY dr RANGE BETWEEN 3 PRECEDING "
        "AND 1 PRECEDING) AS s, "
        "min(a) OVER (PARTITION BY g ORDER BY dr RANGE BETWEEN 1 FOLLOWING "
        "AND 2 FOLLOWING) AS m "
        "FROM r"
    )
    got = _norm(spark.sql(rewrite_window_frames(sq)).collect())
    want = _norm(small_t.execute(oq).fetchall())
    assert got == want


def test_zero_preceding_bound_normalizes_to_current_row(spark, small_t):
    """'0 PRECEDING' / '0 FOLLOWING' bounds ARE the current row: a
    '… AND 0 PRECEDING' frame straddles, so EXCLUDE takes the sound
    subtraction path (misclassifying its sign as -1 would wrongly
    route it to the no-op path)."""
    sq = (
        "SELECT a, g, "
        "sum(a) OVER (PARTITION BY g ORDER BY a RANGE BETWEEN UNBOUNDED "
        "PRECEDING AND 0 PRECEDING EXCLUDE CURRENT ROW) AS s, "
        "count(*) OVER (PARTITION BY g ORDER BY a RANGE BETWEEN 0 FOLLOWING "
        "AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS c "
        "FROM wf_t"
    )
    oq = (
        "SELECT a, g, "
        "sum(a) OVER (PARTITION BY g ORDER BY a RANGE BETWEEN UNBOUNDED "
        "PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) AS s, "
        "count(*) OVER (PARTITION BY g ORDER BY a RANGE BETWEEN CURRENT ROW "
        "AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS c "
        "FROM wf_t"
    )
    got = _norm(spark.sql(rewrite_window_frames(sq)).collect())
    want = _norm(small_t.execute(oq).fetchall())
    assert got == want


def test_split_frame_exclude_groups_numeric(spark, small_t):
    """min/max EXCLUDE over a NUMERIC GROUPS frame: bounds are already
    peer-group offsets, so the half-frames keep them verbatim."""
    sq = (
        "SELECT a, g, "
        "min(a) OVER (PARTITION BY g ORDER BY a GROUPS BETWEEN 2 PRECEDING "
        "AND 1 FOLLOWING EXCLUDE GROUP) AS lo, "
        "max(a) OVER (PARTITION BY g ORDER BY a GROUPS BETWEEN 2 PRECEDING "
        "AND 1 FOLLOWING EXCLUDE TIES) AS hi "
        "FROM wf_t"
    )
    # DuckDB has no GROUPS mode: the oracle is the textbook
    # equivalence GROUPS ≡ RANGE over dense_rank, with DuckDB's
    # NATIVE EXCLUDE doing the exclusion
    oq = (
        "WITH r AS (SELECT a, g, dense_rank() OVER (PARTITION BY g "
        "ORDER BY a) AS dr FROM wf_t) "
        "SELECT a, g, "
        "min(a) OVER (PARTITION BY g ORDER BY dr RANGE BETWEEN 2 PRECEDING "
        "AND 1 FOLLOWING EXCLUDE GROUP) AS lo, "
        "max(a) OVER (PARTITION BY g ORDER BY dr RANGE BETWEEN 2 PRECEDING "
        "AND 1 FOLLOWING EXCLUDE TIES) AS hi "
        "FROM r"
    )
    got = _norm(spark.sql(rewrite_window_frames(sq)).collect())
    want = _norm(small_t.execute(oq).fetchall())
    assert got == want


def test_split_frame_exclude_default_frame(spark, small_t):
    """EXCLUDE GROUP with NO frame clause (the implicit RANGE
    UNBOUNDED PRECEDING..CURRENT ROW default) on min and last_value."""
    sq = (
        "SELECT a, g, "
        "min(a) OVER (PARTITION BY g ORDER BY a EXCLUDE GROUP) AS m, "
        "last_value(a) OVER (PARTITION BY g ORDER BY a EXCLUDE GROUP) AS lv "
        "FROM wf_t"
    )
    # DuckDB won't parse EXCLUDE without a frame clause: spell the
    # identical implicit default frame explicitly in the oracle
    dflt = "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
    oq = (
        "SELECT a, g, "
        f"min(a) OVER (PARTITION BY g ORDER BY a {dflt} EXCLUDE GROUP) AS m, "
        f"last_value(a) OVER (PARTITION BY g ORDER BY a {dflt} "
        "EXCLUDE GROUP) AS lv "
        "FROM wf_t"
    )
    got = _norm(spark.sql(rewrite_window_frames(sq)).collect())
    want = _norm(small_t.execute(oq).fetchall())
    assert got == want


def test_passthrough_untouched():
    """No GROUPS/EXCLUDE (or only inside literals / as column names):
    the statement must come back byte-identical."""
    for q in (
        "SELECT sum(a) OVER (ORDER BY a ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM t",
        "SELECT 'EXCLUDE GROUPS BETWEEN' AS lit FROM t",
        "SELECT groups, exclude FROM t",  # column names
        "SELECT count(*) FROM t",
    ):
        assert rewrite_window_frames(q) == q


def test_unsupported_cases_raise_loudly():
    """Outside the sound rewrite space the layer must refuse with a
    clear error, never return silently different results."""
    cases = [
        # EXCLUDE CURRENT ROW on min: peers sharing the key stay in
        # the frame — no split-frame image
        "SELECT min(a) OVER (ORDER BY a RANGE BETWEEN 1 PRECEDING AND 1 "
        "FOLLOWING EXCLUDE CURRENT ROW) FROM t",
        # value-offset RANGE with an away-pointing UNBOUNDED bound on
        # first/last_value: the NULL-keyed rows' surviving edge row is
        # position-defined — refused even in the integer-key path
        "SELECT first_value(a) OVER (ORDER BY a RANGE BETWEEN UNBOUNDED "
        "PRECEDING AND 1 FOLLOWING EXCLUDE GROUP) FROM t",
        # aggregates outside the moment/order families still refuse
        # (stddev itself became rewritable via second-moment algebra)
        "SELECT string_agg(a, ',') OVER (ORDER BY a RANGE BETWEEN UNBOUNDED "
        "PRECEDING AND CURRENT ROW EXCLUDE GROUP) FROM t",
        # EXCLUDE GROUP on a ROWS frame may exclude peers outside the frame
        "SELECT sum(a) OVER (ORDER BY a ROWS BETWEEN 1 PRECEDING AND 1 "
        "FOLLOWING EXCLUDE GROUP) FROM t",
        # EXCLUDE GROUP on a non-straddling ROWS frame is NOT a no-op
        # (peers can sit at any row offset inside the frame)
        "SELECT sum(a) OVER (ORDER BY a ROWS BETWEEN 5 PRECEDING AND 2 "
        "PRECEDING EXCLUDE GROUP) FROM t",
        # EXCLUDE TIES on a non-straddling frame: SQL:2011 re-adds
        # the current row, PostgreSQL does not — dialects diverge,
        # so no rewrite is sound for both
        "SELECT sum(a) OVER (ORDER BY a RANGE BETWEEN 5 PRECEDING AND 2 "
        "PRECEDING EXCLUDE TIES) FROM t",
        # min EXCLUDE CURRENT ROW on a non-straddling RANGE frame: a
        # NULL-keyed row's frame is its null peer group minus itself
        # — no closed form for order statistics
        "SELECT min(a) OVER (ORDER BY a RANGE BETWEEN 5 PRECEDING AND 2 "
        "PRECEDING EXCLUDE CURRENT ROW) FROM t",
        # DISTINCT aggregate
        "SELECT sum(DISTINCT a) OVER (ORDER BY a RANGE BETWEEN 1 PRECEDING "
        "AND 1 FOLLOWING EXCLUDE CURRENT ROW) FROM t",
        # numeric GROUPS with SELECT *
        "SELECT * , sum(a) OVER (ORDER BY a GROUPS BETWEEN 1 PRECEDING AND "
        "1 FOLLOWING) FROM t",
        # ... and with a star item under a quoted qualifier
        "SELECT `d`.*, sum(a) OVER (ORDER BY a GROUPS BETWEEN 1 PRECEDING "
        "AND 1 FOLLOWING) FROM t d",
        # numeric GROUPS alongside GROUP BY in the same SELECT
        "SELECT g, sum(sum(a)) OVER (ORDER BY g GROUPS BETWEEN 1 PRECEDING "
        "AND 1 FOLLOWING) FROM t GROUP BY g",
        # GROUPS with INTERVAL bounds is invalid SQL (GROUPS offsets
        # must be integers) — must refuse, not silently convert to a
        # RANGE interval frame (round-8 review regression guard)
        "SELECT sum(a) OVER (ORDER BY d GROUPS BETWEEN INTERVAL '1' DAY "
        "PRECEDING AND CURRENT ROW) FROM t",
        "SELECT sum(a) OVER (ORDER BY d GROUPS BETWEEN INTERVAL 2 DAYS "
        "PRECEDING AND INTERVAL 1 DAY FOLLOWING EXCLUDE CURRENT ROW) FROM t",
    ]
    for q in cases:
        with pytest.raises(NotImplementedError):
            rewrite_window_frames(q)


def test_wrap_preserves_single_relation_alias(spark, small_t):
    """Qualified references (t.col) keep resolving when the core FROM
    is one plain relation: the dense_rank wrapper takes that
    relation's name/alias; multi-relation FROMs with qualified outer
    refs are refused loudly instead of failing at analysis time."""
    q = (
        "SELECT wf_t.a, wf_t.g, sum(wf_t.a) OVER (PARTITION BY wf_t.g "
        "ORDER BY wf_t.a GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS v "
        "FROM wf_t ORDER BY wf_t.g, wf_t.a"
    )
    out = rewrite_window_frames(q)
    assert ") wf_t" in out  # wrapper named after the relation
    got = _norm(spark.sql(out).collect())
    want = _norm(
        small_t.execute(
            "WITH r AS (SELECT a, g, dense_rank() OVER (PARTITION BY g "
            "ORDER BY a) AS dr FROM wf_t) SELECT a, g, sum(a) OVER "
            "(PARTITION BY g ORDER BY dr RANGE BETWEEN 1 PRECEDING AND 1 "
            "FOLLOWING) AS v FROM r"
        ).fetchall()
    )
    assert got == want
    # aliased relation: `FROM wf_t t` keeps alias t
    q2 = (
        "SELECT t.a, sum(t.a) OVER (ORDER BY t.a GROUPS BETWEEN 1 "
        "PRECEDING AND 1 FOLLOWING) AS v FROM wf_t t"
    )
    assert ") t" in rewrite_window_frames(q2)
    # multi-relation FROM + qualified outer refs: loud refusal
    with pytest.raises(NotImplementedError, match="qualified"):
        rewrite_window_frames(
            "SELECT x.a, sum(x.a) OVER (ORDER BY x.a GROUPS BETWEEN 1 "
            "PRECEDING AND 1 FOLLOWING) AS v FROM wf_t x JOIN wf_t y ON x.a = y.a"
        )


def test_count_exclude_skips_nulls_exactly(spark, small_t):
    """count(a) EXCLUDE CURRENT ROW on a NULL current row must not
    subtract 1 (NULLs never counted) — the CASE guard in the rewrite."""
    q = (
        f"SELECT a, g, count(a) OVER ({_FRAME} EXCLUDE CURRENT ROW) AS v "
        "FROM wf_t"
    )
    got = _norm(spark.sql(rewrite_window_frames(q)).collect())
    want = _norm(small_t.execute(q).fetchall())
    assert got == want


def _round9(rows):
    return sorted(
        [
            tuple(None if x is None else round(float(x), 9) for x in r)
            for r in rows
        ],
        key=str,
    )


@pytest.mark.parametrize("fn", ["var_samp", "var_pop", "variance",
                                "stddev", "stddev_pop"])
@pytest.mark.parametrize("excl", ["CURRENT ROW", "GROUP", "TIES"])
def test_exclude_variance_family(spark, small_t, fn, excl):
    """The second-moment EXCLUDE rewrite (n, Σx, Σx² of the surviving
    rows) equals DuckDB's NATIVE EXCLUDE for the whole variance family
    under all three exclusion modes.  Compared at 9 decimals: the
    native uses an online algorithm whose low-order bits differ from
    the two-pass moment formula — exactly the documented float
    boundary of the subtraction rewrites."""
    q = f"SELECT a, g, {fn}(a) OVER ({_FRAME} EXCLUDE {excl}) AS v FROM wf_t"
    got = _round9(spark.sql(rewrite_window_frames(q)).collect())
    want = _round9(small_t.execute(q).fetchall())
    assert got == want


def test_exclude_datafusion_var_name(spark, small_t):
    """DataFusion's ``var`` spelling (not a Spark aggregate) rewrites
    to pure sum/count arithmetic, so it runs on Spark and matches
    DuckDB's native ``var_samp`` EXCLUDE semantics."""
    q = f"SELECT a, g, var(a) OVER ({_FRAME} EXCLUDE GROUP) AS v FROM wf_t"
    got = _round9(spark.sql(rewrite_window_frames(q)).collect())
    want = _round9(small_t.execute(
        f"SELECT a, g, var_samp(a) OVER ({_FRAME} EXCLUDE GROUP) AS v FROM wf_t"
    ).fetchall())
    assert got == want


def test_exclude_variance_large_ints_no_overflow(spark, small_t):
    """Moment sums must run in DOUBLE: int inputs around 1e5 square to
    1e10 (> int32) and frame-sum squares exceed int64/decimal caps the
    native variance never hits.  Locks in the double-cast fix."""
    rows = [(100000 + i * 7, 1) for i in range(8)] + [(250000, 2), (250000, 2)]
    spark.createDataFrame(rows, "a int, g int").createOrReplaceTempView("wf_big")
    con = small_t
    con.execute("create or replace table wf_big(a int, g int)")
    con.executemany("insert into wf_big values (?,?)", rows)
    q = (
        "SELECT a, g, var_pop(a) OVER (PARTITION BY g ORDER BY a RANGE "
        "BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE "
        "CURRENT ROW) AS v FROM wf_big"
    )
    got = _round9(spark.sql(rewrite_window_frames(q)).collect())
    want = _round9(con.execute(q).fetchall())
    assert got == want


def test_interval_frame_bounds_refuse_loudly():
    """Variable-length INTERVAL RANGE offsets are outside _FRAME_RE;
    with an EXCLUDE clause present they must raise NotImplementedError
    (the module contract), never leak frame text into the ORDER BY and
    emit corrupted SQL.  (DAY intervals moved to the value-space split
    in round 8, HOUR/MINUTE/SECOND to the µs split in round 9, and
    FRACTIONAL numeric offsets into the grammar in round 10 — the
    subtraction family needs no step at all and the split family runs
    in DECIMAL(38,18) key space; see the decimal matrix below.
    Fractional GROUPS offsets stay refused: invalid SQL, never
    silently rounded.)"""
    cases = [
        "SELECT min(a) OVER (ORDER BY ts RANGE BETWEEN INTERVAL '1' MONTH "
        "PRECEDING AND CURRENT ROW EXCLUDE GROUP) FROM t",
        "SELECT sum(a) OVER (ORDER BY a GROUPS BETWEEN 1.5 PRECEDING AND "
        "CURRENT ROW EXCLUDE TIES) FROM t",
    ]
    for q in cases:
        with pytest.raises(NotImplementedError):
            rewrite_window_frames(q)


def test_zero_interval_is_the_current_row_in_range_frames_only():
    """INTERVAL offsets are RANGE-frame syntax: a zero INTERVAL reads
    as the current row in a RANGE frame (so the frame straddles it),
    while a GROUPS frame refuses it like any other INTERVAL offset."""
    out = rewrite_window_frames(
        "SELECT sum(a) OVER (ORDER BY d RANGE BETWEEN INTERVAL '0' DAY "
        "PRECEDING AND CURRENT ROW EXCLUDE CURRENT ROW) AS s FROM t"
    )
    assert "EXCLUDE" not in out and "RANGE BETWEEN INTERVAL '0' DAY" in out
    with pytest.raises(NotImplementedError, match="RANGE-frame syntax"):
        rewrite_window_frames(
            "SELECT sum(a) OVER (ORDER BY a GROUPS BETWEEN INTERVAL '0' DAY "
            "PRECEDING AND 1 FOLLOWING) AS s FROM t"
        )


@pytest.mark.parametrize(
    "lo", ["1.5 PRECEDING", "INTERVAL '2' DAY PRECEDING", "UNBOUNDED FOLLOWING"]
)
def test_moving_start_pass_leaves_invalid_rows_bounds(lo):
    """A ROWS frame whose start is no row count is invalid SQL: the
    moving-start UNBOUNDED FOLLOWING pass leaves it to the engine's
    own error instead of failing in the rewrite."""
    q = (
        f"SELECT sum(a) OVER (ORDER BY a ROWS BETWEEN {lo} AND UNBOUNDED "
        "FOLLOWING) AS s FROM t"
    )
    assert rewrite_window_frames(q) == q


def test_nonstraddling_range_unbounded_bound_matrix(spark, small_t):
    """Non-straddling RANGE frames with ONE UNBOUNDED bound: a
    NULL-keyed row's frame extends to the partition edge — the WHOLE
    partition when the unbounded side points away from the null
    placement, else just its null peer group (measured identically on
    Spark and DuckDB).  The rewrite's key-nullness arms must follow:
    subtraction (sum/count) stays sound (excluded ⊆ frame always);
    min/max EXCLUDE GROUP takes the NULL-skipping whole-partition
    aggregate in the away case and NULL in the toward case.  Oracle:
    CONSTRUCTED from native non-EXCLUDE windows (base frame for
    non-NULL keys; per-semantics arms for NULL keys — leaning on the
    aggregate arg being the key, so key-nulled rows self-skip in
    min/max/sum/count(a))."""
    frames = [
        ("RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING", "lo_unb"),
        ("RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING", "hi_unb"),
    ]
    dirs = [("", " NULLS LAST", False), (" DESC", " DESC NULLS FIRST", True)]
    spark_cols, duck_cols = [], []
    i = 0
    for agg in ("min(a)", "max(a)", "sum(a)", "count(a)", "count(*)"):
        for excl in ("CURRENT ROW", "GROUP"):
            if excl == "CURRENT ROW" and agg in ("min(a)", "max(a)"):
                continue  # refused for ns-RANGE (raise-tested)
            for frame, which in frames:
                for d, od, nulls_first in dirs:
                    away = (which == "lo_unb" and not nulls_first) or (
                        which == "hi_unb" and nulls_first
                    )
                    spark_cols.append(
                        f"{agg} OVER (PARTITION BY g ORDER BY a{d} {frame} "
                        f"EXCLUDE {excl}) AS c{i}"
                    )
                    base = f"{agg} OVER (PARTITION BY g ORDER BY a{od} {frame})"
                    if excl == "CURRENT ROW":
                        # NULL row's frame contains it; subtract it out
                        if agg == "count(*)":
                            arm = f"({base} - 1)"
                        else:  # sum(a)/count(a): a IS NULL contributes 0
                            arm = base
                    else:  # GROUP
                        if away:
                            # surviving = the non-NULL-key rows; arg==key
                            # so the partition-wide agg self-skips them
                            if agg == "count(*)":
                                arm = "count(a) OVER (PARTITION BY g)"
                            else:
                                arm = f"{agg.split('(')[0]}(a) OVER (PARTITION BY g)"
                        else:
                            arm = "0" if agg.startswith("count") else "NULL"
                    duck_cols.append(
                        f"(CASE WHEN a IS NULL THEN {arm} ELSE {base} END) "
                        f"AS c{i}"
                    )
                    i += 1
    sq = f"SELECT a, g, {', '.join(spark_cols)} FROM wf_t"
    oq = f"SELECT a, g, {', '.join(duck_cols)} FROM wf_t"
    got = _norm(spark.sql(rewrite_window_frames(sq)).collect())
    want = _norm(small_t.execute(oq).fetchall())
    assert len(got) == len(want) == len(ROWS)
    assert got == want


def test_nonstraddling_range_unbounded_fv_lv_raise():
    """first/last_value EXCLUDE GROUP with an away-pointing UNBOUNDED
    bound on a non-straddling RANGE frame must refuse (the surviving
    edge row is position-defined); the toward case stays rewritable."""
    with pytest.raises(NotImplementedError):
        rewrite_window_frames(
            "SELECT first_value(a) OVER (ORDER BY a RANGE BETWEEN UNBOUNDED "
            "PRECEDING AND 1 PRECEDING EXCLUDE GROUP) FROM t"
        )
    # toward case (DESC pins NULLS FIRST; UNBOUNDED PRECEDING points
    # INTO the nulls): rewritable, NULL arm
    out = rewrite_window_frames(
        "SELECT first_value(a) OVER (ORDER BY a DESC RANGE BETWEEN UNBOUNDED "
        "PRECEDING AND 1 PRECEDING EXCLUDE GROUP) FROM t"
    )
    assert "CASE WHEN (a) IS NULL THEN NULL" in out


# ---------------------------------------------------------------------------
# Moving-start UNBOUNDED FOLLOWING rewrite (round-6 verdict item 2)
# ---------------------------------------------------------------------------

#: unique per-group order key o (ROWS frames need a total order to be
#: deterministic — and for the reversal to be its exact inverse);
#: NULL a-values exercise the count guards.
UBF_ROWS = [
    (1, 1, 1), (2, 2, 1), (3, 3, 1), (None, 4, 1), (5, 5, 1), (8, 6, 1),
    (None, 7, 1), (13, 8, 1),
    (2, 1, 2), (None, 2, 2), (None, 3, 2), (7, 4, 2), (8, 5, 2),
    (None, 6, 2),
    (None, 1, 3),  # single-row group with a NULL value
    # large-magnitude group: |mean| ~1e8 with spread ~2 — the variance
    # rewrite's cancellation trap (a moment-algebra complement read
    # exactly 0.0 here while the true variance is ~0.7; the reversed
    # running frame keeps Spark's stable native evaluation)
    (100000001, 1, 4), (100000002, 2, 4), (100000003, 3, 4),
    (100000001, 4, 4), (100000004, 5, 4),
]


@pytest.fixture(scope="module")
def ubf_t(spark):
    spark.createDataFrame(
        UBF_ROWS, "a int, o int, g int"
    ).createOrReplaceTempView("ubf_t")
    con = duckdb.connect()
    con.execute("create table ubf_t(a int, o int, g int)")
    con.executemany("insert into ubf_t values (?,?,?)", UBF_ROWS)
    return con


def _round9f(rows):
    return sorted(
        [
            tuple(
                None if x is None else round(float(x), 9) for x in r
            )
            for r in rows
        ],
        key=str,
    )


#: the full function × start-offset matrix: every rewritable family
#: against every start shape (FOLLOWING / CURRENT ROW / PRECEDING,
#: plus a 100-row start that empties the frame for every row).
@pytest.mark.parametrize("fn", [
    "sum(a)", "count(a)", "count(*)", "avg(a)", "min(a)", "max(a)",
    "first_value(a)", "last_value(a)",
])
@pytest.mark.parametrize("lo", [
    "CURRENT ROW", "1 FOLLOWING", "3 FOLLOWING", "100 FOLLOWING",
    "2 PRECEDING", "100 PRECEDING",
])
def test_moving_start_ubf_matches_duckdb_native(spark, ubf_t, fn, lo):
    """Every moving-start UNBOUNDED FOLLOWING aggregate equals
    DuckDB's native incremental evaluation of the UN-rewritten SQL —
    NULL values, empty frames and a single-row partition included.
    floats rounded at 1e-9 (the avg complement divides exact integer
    sums, but DuckDB's native windowed avg accumulates doubles)."""
    q = (
        f"SELECT a, o, g, {fn} OVER (PARTITION BY g ORDER BY o "
        f"ROWS BETWEEN {lo} AND UNBOUNDED FOLLOWING) AS v FROM ubf_t"
    )
    rq = rewrite_window_frames(q)
    assert rq != q, "rewrite must fire on this shape"
    assert "UNBOUNDED FOLLOWING" not in rq or (
        "UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING" in rq
    ), rq
    got = _round9f(spark.sql(rq).collect())
    want = _round9f(ubf_t.execute(q).fetchall())
    assert got == want


def test_moving_start_ubf_desc_and_multikey(spark, ubf_t):
    """Reversal correctness under DESC order and a multi-key ORDER BY
    (direction and null placement of every key must flip exactly)."""
    for q in (
        "SELECT a, o, g, min(a) OVER (PARTITION BY g ORDER BY o DESC "
        "ROWS BETWEEN 2 FOLLOWING AND UNBOUNDED FOLLOWING) AS v FROM ubf_t",
        "SELECT a, o, g, max(a) OVER (PARTITION BY g ORDER BY g ASC, o DESC "
        "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS v FROM ubf_t",
    ):
        got = _round9f(spark.sql(rewrite_window_frames(q)).collect())
        want = _round9f(ubf_t.execute(q).fetchall())
        assert got == want


def test_moving_start_ubf_decimal_type_faithful(spark):
    """sum/avg over DECIMAL through the moving-start rewrite keep the
    NATIVE result schema and values bit-for-bit (round-7 ADVICE item
    1: the earlier subtraction complement silently widened decimal
    sum's precision and re-derived avg at Spark's division scale —
    this pins the reversed-complementary-frame form against Spark's
    own un-rewritten O(n²) evaluation, the ground truth this pass
    replaces)."""
    spark.createDataFrame(
        [(1, "1.23"), (2, "4.56"), (3, "7.89"), (4, None), (5, "0.01")],
        "o int, a string",
    ).selectExpr(
        "o", "CAST(a AS DECIMAL(7,2)) AS a"
    ).createOrReplaceTempView("ubf_dec_t")
    q = (
        "SELECT o, sum(a) OVER (ORDER BY o ROWS BETWEEN 1 FOLLOWING "
        "AND UNBOUNDED FOLLOWING) AS s, "
        "avg(a) OVER (ORDER BY o ROWS BETWEEN CURRENT ROW "
        "AND UNBOUNDED FOLLOWING) AS m FROM ubf_dec_t"
    )
    rq = rewrite_window_frames(q)
    assert rq != q, "rewrite must fire on this shape"
    native, rewritten = spark.sql(q), spark.sql(rq)
    assert rewritten.schema == native.schema, (
        rewritten.schema.simpleString(), native.schema.simpleString()
    )
    key = lambda rows: sorted(tuple(r) for r in rows)  # noqa: E731
    assert key(rewritten.collect()) == key(native.collect())


def test_moving_start_ubf_passthrough_shapes():
    """Shapes outside the sound space pass through BYTE-IDENTICAL
    (the original is slow but correct on Spark — this pass never
    raises)."""
    from adt_spark.dialect.window_frames import _rewrite_moving_start_ubf

    for q in (
        # whole-partition frame: already O(n) on Spark
        "SELECT sum(a) OVER (ORDER BY o ROWS BETWEEN UNBOUNDED PRECEDING "
        "AND UNBOUNDED FOLLOWING) FROM t",
        # bounded frame
        "SELECT sum(a) OVER (ORDER BY o ROWS BETWEEN 1 PRECEDING AND "
        "CURRENT ROW) FROM t",
        # unsupported aggregate
        "SELECT string_agg(a, ',') OVER (ORDER BY o ROWS BETWEEN CURRENT "
        "ROW AND UNBOUNDED FOLLOWING) FROM t",
        # DISTINCT
        "SELECT sum(DISTINCT a) OVER (ORDER BY o ROWS BETWEEN CURRENT ROW "
        "AND UNBOUNDED FOLLOWING) FROM t",
        # IGNORE NULLS
        "SELECT first_value(a IGNORE NULLS) OVER (ORDER BY o ROWS BETWEEN "
        "1 FOLLOWING AND UNBOUNDED FOLLOWING) FROM t",
        # RANGE mode (value-space complement needs integer keys)
        "SELECT sum(a) OVER (ORDER BY o RANGE BETWEEN CURRENT ROW AND "
        "UNBOUNDED FOLLOWING) FROM t",
        # no ORDER BY
        "SELECT sum(a) OVER (PARTITION BY g ROWS BETWEEN 1 FOLLOWING AND "
        "UNBOUNDED FOLLOWING) FROM t",
        # keyword only inside a literal
        "SELECT 'UNBOUNDED FOLLOWING' AS lit FROM t",
    ):
        assert _rewrite_moving_start_ubf(q) == q


# ---------------------------------------------------------------------------
# Integer-key value-offset RANGE EXCLUDE split (round-6 verdict item 6)
# ---------------------------------------------------------------------------

_VSF = "PARTITION BY g ORDER BY a RANGE BETWEEN 2 PRECEDING AND 2 FOLLOWING"
_VSF_LUNB = (
    "PARTITION BY g ORDER BY a RANGE BETWEEN UNBOUNDED PRECEDING "
    "AND 2 FOLLOWING"
)
_VSF_HUNB = (
    "PARTITION BY g ORDER BY a RANGE BETWEEN 1 PRECEDING "
    "AND UNBOUNDED FOLLOWING"
)


@pytest.mark.parametrize(
    "q",
    [
        # the full order-statistic family over straddling value-offset
        # frames — the round-6 residue: these previously raised
        f"SELECT a, g, min(a) OVER ({_VSF} EXCLUDE GROUP) AS v FROM wf_t",
        f"SELECT a, g, max(a) OVER ({_VSF} EXCLUDE GROUP) AS v FROM wf_t",
        f"SELECT a, g, min(a) OVER ({_VSF} EXCLUDE TIES) AS v FROM wf_t",
        f"SELECT a, g, max(a) OVER ({_VSF} EXCLUDE TIES) AS v FROM wf_t",
        f"SELECT a, g, first_value(a) OVER ({_VSF} EXCLUDE GROUP) AS v FROM wf_t",
        f"SELECT a, g, last_value(a) OVER ({_VSF} EXCLUDE GROUP) AS v FROM wf_t",
        f"SELECT a, g, first_value(a) OVER ({_VSF} EXCLUDE TIES) AS v FROM wf_t",
        f"SELECT a, g, last_value(a) OVER ({_VSF} EXCLUDE TIES) AS v FROM wf_t",
        # one UNBOUNDED bound: min/max stay sound (the NULL-key arm
        # becomes the whole-partition key-nulled aggregate when the
        # bound points away from the pinned NULLS LAST placement)
        f"SELECT a, g, min(a) OVER ({_VSF_LUNB} EXCLUDE GROUP) AS v FROM wf_t",
        f"SELECT a, g, max(a) OVER ({_VSF_LUNB} EXCLUDE TIES) AS v FROM wf_t",
        f"SELECT a, g, min(a) OVER ({_VSF_HUNB} EXCLUDE GROUP) AS v FROM wf_t",
        f"SELECT a, g, first_value(a) OVER ({_VSF_HUNB} EXCLUDE GROUP) AS v FROM wf_t",
        f"SELECT a, g, last_value(a) OVER ({_VSF_HUNB} EXCLUDE TIES) AS v FROM wf_t",
        # and the subtraction family keeps working alongside
        f"SELECT a, g, sum(a) OVER ({_VSF} EXCLUDE GROUP) AS v FROM wf_t",
        f"SELECT a, g, count(a) OVER ({_VSF} EXCLUDE TIES) AS v FROM wf_t",
    ],
)
def test_value_range_exclude_matches_duckdb_native(spark, small_t, q):
    """Integer-key value-offset RANGE EXCLUDE GROUP/TIES on the
    order-statistic family equals DuckDB's NATIVE EXCLUDE — NULL keys
    and tied peer groups present (wf_t's `a` has both)."""
    got = _norm(spark.sql(rewrite_window_frames(q)).collect())
    want = _norm(small_t.execute(q).fetchall())
    assert got == want


def test_value_range_exclude_fractional_key_raises_at_runtime(spark):
    """The integrality guard: a fractional order key makes the
    value-space split unsound (key < k ⇎ key ≤ k−1), so the emitted
    SQL must raise_error() loudly at RUNTIME — a textual rewrite
    cannot see column types."""
    spark.createDataFrame(
        [(1.5, 1), (2.0, 1), (3.0, 1)], "a double, g int"
    ).createOrReplaceTempView("wf_frac")
    q = (
        "SELECT min(a) OVER (PARTITION BY g ORDER BY a RANGE BETWEEN "
        "2 PRECEDING AND 2 FOLLOWING EXCLUDE GROUP) AS v FROM wf_frac"
    )
    rq = rewrite_window_frames(q)
    with pytest.raises(Exception, match="USER_RAISED_EXCEPTION|integral"):
        spark.sql(rq).collect()


def test_value_range_exclude_integral_double_key_ok(spark, small_t):
    """Integral values in a DOUBLE column pass the guard — soundness
    depends on the VALUES, not the declared type."""
    rows = [(1.0, 1), (2.0, 1), (2.0, 1), (4.0, 1), (None, 1)]
    spark.createDataFrame(rows, "a double, g int").createOrReplaceTempView(
        "wf_intd"
    )
    con = small_t
    con.execute("create table wf_intd(a double, g int)")
    con.executemany("insert into wf_intd values (?,?)", rows)
    q = (
        "SELECT a, g, max(a) OVER (PARTITION BY g ORDER BY a RANGE BETWEEN "
        "2 PRECEDING AND 2 FOLLOWING EXCLUDE GROUP) AS v FROM wf_intd"
    )
    got = _norm(spark.sql(rewrite_window_frames(q)).collect())
    want = _norm(con.execute(q).fetchall())
    assert got == want


# ---------------------------------------------------------------------------
# Date-key INTERVAL-DAY RANGE EXCLUDE split (round-7 verdict item 4)
# ---------------------------------------------------------------------------

_DROWS = [  # (d, x, g): tied peer groups and NULL keys in both partitions
    ("2020-01-01", 10, 1), ("2020-01-02", 20, 1), ("2020-01-02", 30, 1),
    ("2020-01-04", 40, 1), ("2020-01-06", 50, 1), (None, 60, 1),
    ("2020-03-01", 1, 2), ("2020-03-01", 2, 2), ("2020-03-05", 3, 2),
    (None, 4, 2), (None, 5, 2),
]

_DVF = (
    "PARTITION BY g ORDER BY d RANGE BETWEEN INTERVAL '2' DAY PRECEDING "
    "AND INTERVAL '2' DAY FOLLOWING"
)
_DVF_LUNB = (
    "PARTITION BY g ORDER BY d RANGE BETWEEN UNBOUNDED PRECEDING "
    "AND INTERVAL 2 DAY FOLLOWING"
)
_DVF_HUNB = (
    "PARTITION BY g ORDER BY d RANGE BETWEEN INTERVAL 1 DAY PRECEDING "
    "AND UNBOUNDED FOLLOWING"
)


@pytest.fixture(scope="module")
def date_t(spark):
    import datetime

    rows = [
        (datetime.date.fromisoformat(d) if d else None, x, g)
        for d, x, g in _DROWS
    ]
    spark.createDataFrame(rows, "d date, x int, g int").createOrReplaceTempView(
        "wf_d"
    )
    con = duckdb.connect()
    con.execute("create table wf_d(d date, x int, g int)")
    con.executemany("insert into wf_d values (?,?,?)", _DROWS)
    return con


def _dnorm(rows):
    return sorted([tuple(str(x) for x in r) for r in rows], key=str)


@pytest.mark.parametrize(
    "q",
    [
        # order-statistic family over straddling INTERVAL-DAY frames —
        # the round-7 verdict item-4 residue: these previously raised
        # at the parse gate
        f"SELECT x, g, min(x) OVER ({_DVF} EXCLUDE GROUP) AS v FROM wf_d",
        f"SELECT x, g, max(x) OVER ({_DVF} EXCLUDE GROUP) AS v FROM wf_d",
        f"SELECT x, g, min(x) OVER ({_DVF} EXCLUDE TIES) AS v FROM wf_d",
        f"SELECT x, g, max(x) OVER ({_DVF} EXCLUDE TIES) AS v FROM wf_d",
        f"SELECT x, g, first_value(x) OVER ({_DVF} EXCLUDE GROUP) AS v FROM wf_d",
        f"SELECT x, g, last_value(x) OVER ({_DVF} EXCLUDE GROUP) AS v FROM wf_d",
        f"SELECT x, g, first_value(x) OVER ({_DVF} EXCLUDE TIES) AS v FROM wf_d",
        f"SELECT x, g, last_value(x) OVER ({_DVF} EXCLUDE TIES) AS v FROM wf_d",
        # the DATE column itself as the aggregated argument
        f"SELECT g, min(d) OVER ({_DVF} EXCLUDE GROUP) AS v FROM wf_d",
        f"SELECT g, max(d) OVER ({_DVF} EXCLUDE TIES) AS v FROM wf_d",
        # one UNBOUNDED bound (away-pointing NULL-key arms)
        f"SELECT x, g, min(x) OVER ({_DVF_LUNB} EXCLUDE GROUP) AS v FROM wf_d",
        f"SELECT x, g, max(x) OVER ({_DVF_LUNB} EXCLUDE TIES) AS v FROM wf_d",
        f"SELECT x, g, min(x) OVER ({_DVF_HUNB} EXCLUDE GROUP) AS v FROM wf_d",
        f"SELECT x, g, first_value(x) OVER ({_DVF_HUNB} EXCLUDE GROUP) AS v FROM wf_d",
        f"SELECT x, g, last_value(x) OVER ({_DVF_HUNB} EXCLUDE TIES) AS v FROM wf_d",
        # single-bound shorthand straddles ([lo, CURRENT ROW])
        "SELECT x, g, min(x) OVER (PARTITION BY g ORDER BY d RANGE "
        "INTERVAL 2 DAY PRECEDING EXCLUDE GROUP) AS v FROM wf_d",
        # zero-day bound normalizes to CURRENT ROW (empty upper half)
        "SELECT x, g, max(x) OVER (PARTITION BY g ORDER BY d RANGE BETWEEN "
        "INTERVAL '2' DAY PRECEDING AND INTERVAL '0' DAY FOLLOWING "
        "EXCLUDE GROUP) AS v FROM wf_d",
        # DESC (oracle pins NULLS FIRST, the source dialect's default)
        "SELECT x, g, min(x) OVER (PARTITION BY g ORDER BY d DESC NULLS FIRST "
        "RANGE BETWEEN INTERVAL '2' DAY PRECEDING AND INTERVAL '2' DAY "
        "FOLLOWING EXCLUDE GROUP) AS v FROM wf_d",
        # the subtraction family rides the same newly-parsed frames
        f"SELECT x, g, sum(x) OVER ({_DVF} EXCLUDE GROUP) AS v FROM wf_d",
        f"SELECT x, g, count(x) OVER ({_DVF} EXCLUDE TIES) AS v FROM wf_d",
        f"SELECT x, g, avg(x) OVER ({_DVF} EXCLUDE CURRENT ROW) AS v FROM wf_d",
        f"SELECT x, g, sum(x) OVER ({_DVF_HUNB} EXCLUDE GROUP) AS v FROM wf_d",
    ],
)
def test_date_range_exclude_matches_duckdb_native(spark, date_t, q):
    """DATE-key INTERVAL-DAY RANGE EXCLUDE GROUP/TIES (split-frame
    family) and the subtraction family over the same frames equal
    DuckDB's NATIVE EXCLUDE — NULL keys and tied peer groups present
    in both partitions."""
    got = _dnorm(spark.sql(rewrite_window_frames(q)).collect())
    want = _dnorm(date_t.execute(q).fetchall())
    assert got == want


def test_date_range_exclude_subday_timestamp_raises_at_runtime(spark):
    """The day-alignment guard: a TIMESTAMP key with a sub-day
    component makes the day split unsound (key < k ⇎ key ≤ k − 1 DAY),
    so the emitted SQL must raise_error() loudly at RUNTIME."""
    import datetime

    spark.createDataFrame(
        [
            (datetime.datetime(2020, 1, 1, 12, 30), 1, 1),
            (datetime.datetime(2020, 1, 2, 0, 0), 2, 1),
        ],
        "d timestamp, x int, g int",
    ).createOrReplaceTempView("wf_subday")
    q = (
        "SELECT min(x) OVER (PARTITION BY g ORDER BY d RANGE BETWEEN "
        "INTERVAL '2' DAY PRECEDING AND INTERVAL '2' DAY FOLLOWING "
        "EXCLUDE GROUP) AS v FROM wf_subday"
    )
    rq = rewrite_window_frames(q)
    with pytest.raises(Exception, match="USER_RAISED_EXCEPTION|midnight"):
        spark.sql(rq).collect()


def test_date_range_exclude_midnight_timestamp_ok(spark, date_t):
    """Midnight-aligned TIMESTAMP keys pass the guard — soundness
    depends on the VALUES, not the declared type (the date analog of
    the integral-double case)."""
    import datetime

    rows = [
        (datetime.datetime(2020, 1, 1), 10, 1),
        (datetime.datetime(2020, 1, 2), 20, 1),
        (datetime.datetime(2020, 1, 2), 30, 1),
        (datetime.datetime(2020, 1, 5), 40, 1),
        (None, 50, 1),
    ]
    spark.createDataFrame(rows, "d timestamp, x int, g int").createOrReplaceTempView(
        "wf_midnight"
    )
    con = date_t
    con.execute("create table wf_midnight(d timestamp, x int, g int)")
    con.executemany(
        "insert into wf_midnight values (?,?,?)",
        [(d.isoformat(sep=" ") if d else None, x, g) for d, x, g in rows],
    )
    q = (
        "SELECT x, g, max(x) OVER (PARTITION BY g ORDER BY d RANGE BETWEEN "
        "INTERVAL '2' DAY PRECEDING AND INTERVAL '2' DAY FOLLOWING "
        "EXCLUDE GROUP) AS v FROM wf_midnight"
    )
    got = _dnorm(spark.sql(rewrite_window_frames(q)).collect())
    want = _dnorm(con.execute(q).fetchall())
    assert got == want


def test_date_range_exclude_dst_timezone_raises_at_runtime(spark):
    """The DST hardening (round-8 review finding 3): under a
    DST-observing session timezone, INTERVAL '1' DAY is a fixed 24 h
    while local midnights near a transition are 23/25 h apart — the
    guard must refuse LOUDLY (a ±1-day 24 h step that does not land
    midnight-aligned) instead of letting the split silently
    mis-frame.  Keys straddle the US 2026-03-08 spring-forward."""
    import datetime

    prev = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        rows = [
            (datetime.datetime(2026, 3, 7), 1, 1),
            (datetime.datetime(2026, 3, 8), 2, 1),
            (datetime.datetime(2026, 3, 9), 3, 1),
        ]
        spark.createDataFrame(
            rows, "d timestamp, x int, g int"
        ).createOrReplaceTempView("wf_dst")
        q = (
            "SELECT min(x) OVER (PARTITION BY g ORDER BY d RANGE BETWEEN "
            "INTERVAL '2' DAY PRECEDING AND INTERVAL '2' DAY FOLLOWING "
            "EXCLUDE GROUP) AS v FROM wf_dst"
        )
        rq = rewrite_window_frames(q)
        with pytest.raises(Exception, match="USER_RAISED_EXCEPTION|DST"):
            spark.sql(rq).collect()
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_ym_interval_split_refuses_with_precise_rationale():
    """Round-11 adjudication of the MONTH/YEAR gate (r10 verdict #5):
    the min/max/first/last SPLIT over a straddling MONTH/YEAR frame
    stays refused, but the message now cites the PRECISE Spark
    limitation — mixed YearMonth/DayTime frame bounds are rejected
    (DATATYPE_MISMATCH.SPECIFIED_WINDOW_FRAME_DIFF_TYPES), and the
    split's inner bound must be the key's DayTime unit step.  The
    subtraction family over the same frames is CLOSED (see
    test_ym_range_exclude_matches_duckdb_native)."""
    for unit in ("MONTH", "YEAR"):
        for fn in ("min", "first_value"):
            q = (
                f"SELECT {fn}(x) OVER (ORDER BY d RANGE BETWEEN INTERVAL "
                f"'2' {unit} PRECEDING AND CURRENT ROW EXCLUDE GROUP) AS v "
                f"FROM t"
            )
            with pytest.raises(
                NotImplementedError,
                match="SPECIFIED_WINDOW_FRAME_DIFF_TYPES",
            ):
                rewrite_window_frames(q)
    # mixed numeric + day/ym offsets are invalid SQL — loud, not silent
    for iv in ("INTERVAL '2' DAY", "INTERVAL '2' MONTH"):
        q = (
            f"SELECT min(x) OVER (ORDER BY d RANGE BETWEEN 2 PRECEDING AND "
            f"{iv} FOLLOWING EXCLUDE GROUP) AS v FROM t"
        )
        with pytest.raises(NotImplementedError):
            rewrite_window_frames(q)
    # (fractional interval magnitudes — INTERVAL '1.5' MONTH — pass
    # through to Spark's own parser, which rejects non-integer month
    # literals loudly; same pre-existing behavior as fractional DAY)


def test_ym_nonstraddling_exclude_refuses_with_measured_divergence(
    spark, ym_t
):
    """Round-11 measurement: DuckDB's native EXCLUDE on a
    NON-straddling MONTH frame evaluates bounds from the candidate
    row's side, which month-end clamping makes inequivalent to the
    standard frame arithmetic (its own no-EXCLUDE path and Spark) —
    e.g. 2020-01-31 enters 2020-02-29's [6M, 1M] PRECEDING frame
    under EXCLUDE but not without it (verified live in this round's
    probes).  No single rewrite matches both readings, so the
    rewrite refuses loudly, like the EXCLUDE TIES precedent."""
    for q in (
        f"SELECT x, min(x) OVER ({_YMF_NS} EXCLUDE GROUP) AS v FROM wf_ym",
        f"SELECT x, sum(x) OVER ({_YMF_NS} EXCLUDE CURRENT ROW) AS v "
        "FROM wf_ym",
    ):
        with pytest.raises(
            NotImplementedError, match="month-end clamping"
        ):
            rewrite_window_frames(q)
    # the divergence itself, pinned: DuckDB's two paths disagree on
    # this fixture (if a future DuckDB fixes it, this test flags the
    # gate for re-adjudication)
    base = f"SELECT x, min(x) OVER ({_YMF_NS}) AS v FROM wf_ym"
    excl = f"SELECT x, min(x) OVER ({_YMF_NS} EXCLUDE GROUP) AS v FROM wf_ym"
    assert _dnorm(ym_t.execute(base).fetchall()) != _dnorm(
        ym_t.execute(excl).fetchall()
    )


#: straddling MONTH/YEAR frames (round-11: subtraction family closed)
_YMF = (
    "PARTITION BY g ORDER BY d RANGE BETWEEN INTERVAL 2 MONTH PRECEDING "
    "AND INTERVAL 1 MONTH FOLLOWING"
)
_YMF_Y = (
    "PARTITION BY g ORDER BY d RANGE BETWEEN INTERVAL 1 YEAR PRECEDING "
    "AND CURRENT ROW"
)
#: non-straddling MONTH frame (ns_range measured-behavior arms)
_YMF_NS = (
    "PARTITION BY g ORDER BY d RANGE BETWEEN INTERVAL 6 MONTH PRECEDING "
    "AND INTERVAL 1 MONTH PRECEDING"
)

#: dates spread over two years with month-end clamp stress
#: (Jan 31 ± n MONTH clamps in both engines), tied keys, and NULLs
_YMROWS = [
    ("2020-01-31", 10, 1),
    ("2020-02-29", 20, 1),
    ("2020-02-29", 21, 1),
    ("2020-03-31", 30, 1),
    ("2020-06-15", 40, 1),
    ("2020-12-31", 50, 1),
    ("2021-01-31", 60, 1),
    ("2021-06-15", 70, 1),
    (None, 80, 1),
    (None, 81, 1),
    ("2020-04-30", 15, 2),
    ("2020-05-31", 25, 2),
    ("2020-05-31", 26, 2),
    ("2021-05-31", 35, 2),
    (None, 45, 2),
]


@pytest.fixture(scope="module")
def ym_t(spark):
    import datetime

    rows = [
        (datetime.date.fromisoformat(d) if d else None, x, g)
        for d, x, g in _YMROWS
    ]
    spark.createDataFrame(rows, "d date, x int, g int").createOrReplaceTempView(
        "wf_ym"
    )
    con = duckdb.connect()
    con.execute("create table wf_ym(d date, x int, g int)")
    con.executemany("insert into wf_ym values (?,?,?)", _YMROWS)
    return con


@pytest.mark.parametrize(
    "q",
    [
        # subtraction family over straddling MONTH/YEAR frames —
        # the round-11 closure: base frame emitted UNCHANGED (Spark
        # accepts YearMonth RANGE bounds on DATE keys), peer-group
        # aggregate subtracted
        f"SELECT x, g, sum(x) OVER ({_YMF} EXCLUDE GROUP) AS v FROM wf_ym",
        f"SELECT x, g, sum(x) OVER ({_YMF} EXCLUDE TIES) AS v FROM wf_ym",
        f"SELECT x, g, sum(x) OVER ({_YMF} EXCLUDE CURRENT ROW) AS v FROM wf_ym",
        f"SELECT x, g, count(x) OVER ({_YMF} EXCLUDE GROUP) AS v FROM wf_ym",
        f"SELECT x, g, avg(x) OVER ({_YMF} EXCLUDE TIES) AS v FROM wf_ym",
        f"SELECT x, g, sum(x) OVER ({_YMF_Y} EXCLUDE GROUP) AS v FROM wf_ym",
        f"SELECT x, g, count(*) OVER ({_YMF_Y} EXCLUDE TIES) AS v FROM wf_ym",
        # single-bound shorthand + YEAR unit
        "SELECT x, g, sum(x) OVER (PARTITION BY g ORDER BY d RANGE "
        "INTERVAL 1 YEAR PRECEDING EXCLUDE GROUP) AS v FROM wf_ym",
        # zero-month bound normalizes to CURRENT ROW
        "SELECT x, g, sum(x) OVER (PARTITION BY g ORDER BY d RANGE BETWEEN "
        "INTERVAL '2' MONTH PRECEDING AND INTERVAL '0' MONTH FOLLOWING "
        "EXCLUDE GROUP) AS v FROM wf_ym",
        # EXCLUDE NO OTHERS passes the (now-parsed) frame through
        f"SELECT x, g, sum(x) OVER ({_YMF} EXCLUDE NO OTHERS) AS v FROM wf_ym",
    ],
)
def test_ym_range_exclude_matches_duckdb_native(spark, ym_t, q):
    """MONTH/YEAR-interval RANGE EXCLUDE (round-11, r10 verdict #5):
    the subtraction family and the non-straddling arms equal DuckDB's
    NATIVE EXCLUDE over month-end-clamping dates, tied keys, and NULL
    keys in both partitions — the paths that emit the user's
    YearMonth frame unchanged are exactly as sound as they are for
    DAY frames."""
    got = _dnorm(spark.sql(rewrite_window_frames(q)).collect())
    want = _dnorm(ym_t.execute(q).fetchall())
    assert got == want


def test_moving_start_ubf_review_fixes():
    """Round-7 review regressions pinned: (a) Spark's two-argument
    ignore-nulls spelling first_value(x, true)/last_value(x, true)
    passes through (its NULL semantics have no complement/reversal
    image — the rewrite previously emitted silent wrong results or
    unparseable text); (b) an invalid 'UNBOUNDED FOLLOWING' LOWER
    bound passes through for the engine's own parse error instead of
    a rewrite-time ValueError; (c) the explicit EXCLUDE NO OTHERS
    spelling of the default no longer blocks the O(n) rewrite."""
    from adt_spark.dialect.window_frames import _rewrite_moving_start_ubf

    ubf = "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING"
    for q in (
        f"SELECT last_value(a, true) OVER (ORDER BY o {ubf}) FROM t",
        f"SELECT first_value(a, true) OVER (ORDER BY o {ubf}) FROM t",
        "SELECT sum(a) OVER (ORDER BY o ROWS BETWEEN UNBOUNDED FOLLOWING "
        "AND UNBOUNDED FOLLOWING) FROM t",
    ):
        assert _rewrite_moving_start_ubf(q) == q
    # a literal comma inside a quoted string is NOT a second argument
    q = (f"SELECT min(concat(a, ',')) OVER (ORDER BY o {ubf}) FROM t")
    assert _rewrite_moving_start_ubf(q) != q
    # EXCLUDE NO OTHERS: the full rewriter must de-quadraticize it
    # (sum now takes the reversed complementary moving-END frame)
    q = f"SELECT sum(a) OVER (ORDER BY o {ubf} EXCLUDE NO OTHERS) FROM t"
    out = rewrite_window_frames(q)
    assert "UNBOUNDED PRECEDING AND 1 PRECEDING" in out
    assert "1 FOLLOWING AND UNBOUNDED FOLLOWING" not in out
    assert "EXCLUDE" not in out.upper().replace("EXCLUDE NO OTHERS", "") or \
        "EXCLUDE" not in out.upper()


@pytest.mark.parametrize("fn", [
    "var_samp(a)", "var_pop(a)", "variance(a)",
    "stddev(a)", "stddev_samp(a)", "stddev_pop(a)",
])
@pytest.mark.parametrize("lo", ["CURRENT ROW", "2 FOLLOWING", "3 PRECEDING"])
def test_moving_start_ubf_variance_matches_duckdb(spark, ubf_t, fn, lo):
    """The variance family over moving-start UNBOUNDED FOLLOWING
    frames: the moment-algebra complement equals DuckDB's native
    incremental evaluation (floats rounded at 1e-9 — both sides
    divide exact small-int moments, differing only in low-order
    division bits)."""
    import math

    q = (
        f"SELECT a, o, g, {fn} OVER (PARTITION BY g ORDER BY o "
        f"ROWS BETWEEN {lo} AND UNBOUNDED FOLLOWING) AS v FROM ubf_t"
    )
    rq = rewrite_window_frames(q)
    assert rq != q
    # RELATIVE tolerance: at the large-magnitude group (~1e8) both
    # engines' stable native evaluations agree to ~1e-9 relative
    # (Welford accumulation-order noise on squared 1e8-scale
    # deviations) — an absolute round-9 compare would fail on
    # correct answers (and would have PASSED the cancellation bug's
    # exact 0.0s at small magnitudes, which is why the group exists)
    def key(r):
        return tuple(-1e18 if x is None else float(x) for x in r[:3])

    got = sorted([tuple(r) for r in spark.sql(rq).collect()], key=key)
    want = sorted([tuple(r) for r in ubf_t.execute(q).fetchall()], key=key)
    assert len(got) == len(want)
    for g_, w_ in zip(got, want):
        assert g_[:3] == w_[:3]
        gv, wv = g_[3], w_[3]
        if gv is None or wv is None:
            assert gv is None and wv is None, (g_, w_)
        else:
            assert math.isclose(float(gv), float(wv),
                                rel_tol=1e-6, abs_tol=1e-9), (g_, w_)


_TROWS = [
    ("2020-01-01 10:00:00", 10, 1),
    ("2020-01-01 11:30:00.500000", 20, 1),
    ("2020-01-01 11:30:00.500000", 30, 1),  # tied peer group
    ("2020-01-01 13:00:01", 40, 1),
    ("2020-01-01 13:00:01.000001", 45, 1),  # 1 µs apart — the unit step
    (None, 50, 1),
    ("2020-01-01 09:59:59.999999", 60, 2),
    ("2020-01-02 09:59:59.999999", 70, 2),
]

_TVF = (
    "PARTITION BY g ORDER BY d RANGE BETWEEN INTERVAL '2' HOUR PRECEDING "
    "AND INTERVAL 90 MINUTE FOLLOWING"
)
_TVF_MIX = (
    "PARTITION BY g ORDER BY d RANGE BETWEEN INTERVAL 1 DAY PRECEDING "
    "AND INTERVAL 6 HOUR FOLLOWING"
)
_TVF_HUNB = (
    "PARTITION BY g ORDER BY d RANGE BETWEEN INTERVAL 1 HOUR PRECEDING "
    "AND UNBOUNDED FOLLOWING"
)


@pytest.fixture(scope="module")
def ts_t(spark):
    import datetime

    rows = [
        (datetime.datetime.fromisoformat(d) if d else None, x, g)
        for d, x, g in _TROWS
    ]
    spark.createDataFrame(rows, "d timestamp, x int, g int").createOrReplaceTempView(
        "wf_ts"
    )
    con = duckdb.connect()
    con.execute("create table wf_ts(d timestamp, x int, g int)")
    con.executemany("insert into wf_ts values (?,?,?)", _TROWS)
    return con


@pytest.mark.parametrize(
    "q",
    [
        # order-statistic family over straddling sub-day frames — the
        # round-8 verdict item-4 residue: sub-day TIMESTAMP keys,
        # previously refused by the day split's alignment guard
        f"SELECT x, g, min(x) OVER ({_TVF} EXCLUDE GROUP) AS v FROM wf_ts",
        f"SELECT x, g, max(x) OVER ({_TVF} EXCLUDE GROUP) AS v FROM wf_ts",
        f"SELECT x, g, min(x) OVER ({_TVF} EXCLUDE TIES) AS v FROM wf_ts",
        f"SELECT x, g, first_value(x) OVER ({_TVF} EXCLUDE GROUP) AS v FROM wf_ts",
        f"SELECT x, g, last_value(x) OVER ({_TVF} EXCLUDE TIES) AS v FROM wf_ts",
        # DAY + HOUR mixed units (any sub-day bound routes the µs split)
        f"SELECT x, g, min(x) OVER ({_TVF_MIX} EXCLUDE GROUP) AS v FROM wf_ts",
        f"SELECT x, g, max(x) OVER ({_TVF_MIX} EXCLUDE TIES) AS v FROM wf_ts",
        # SECOND / MINUTE spellings of the same offsets
        "SELECT x, g, min(x) OVER (PARTITION BY g ORDER BY d RANGE BETWEEN "
        "INTERVAL 7200 SECOND PRECEDING AND INTERVAL 90 MINUTE FOLLOWING "
        "EXCLUDE GROUP) AS v FROM wf_ts",
        # one UNBOUNDED bound (away-pointing NULL-key arms)
        f"SELECT x, g, min(x) OVER ({_TVF_HUNB} EXCLUDE GROUP) AS v FROM wf_ts",
        f"SELECT x, g, max(x) OVER ({_TVF_HUNB} EXCLUDE TIES) AS v FROM wf_ts",
        # the TIMESTAMP column itself as the aggregated argument
        f"SELECT g, min(d) OVER ({_TVF} EXCLUDE GROUP) AS v FROM wf_ts",
        # zero-interval bound normalizes to CURRENT ROW
        "SELECT x, g, max(x) OVER (PARTITION BY g ORDER BY d RANGE BETWEEN "
        "INTERVAL 2 HOUR PRECEDING AND INTERVAL '0' HOUR FOLLOWING "
        "EXCLUDE GROUP) AS v FROM wf_ts",
        # DESC (oracle pins NULLS FIRST, the source dialect's default)
        "SELECT x, g, min(x) OVER (PARTITION BY g ORDER BY d DESC NULLS FIRST "
        "RANGE BETWEEN INTERVAL 2 HOUR PRECEDING AND INTERVAL 2 HOUR "
        "FOLLOWING EXCLUDE GROUP) AS v FROM wf_ts",
        # the subtraction family rides the same newly-parsed frames
        f"SELECT x, g, sum(x) OVER ({_TVF} EXCLUDE GROUP) AS v FROM wf_ts",
        f"SELECT x, g, count(x) OVER ({_TVF} EXCLUDE TIES) AS v FROM wf_ts",
        f"SELECT x, g, avg(x) OVER ({_TVF_MIX} EXCLUDE CURRENT ROW) AS v FROM wf_ts",
    ],
)
def test_subday_range_exclude_matches_duckdb_native(spark, ts_t, q):
    """Sub-day-interval RANGE EXCLUDE over µs-grid TIMESTAMP keys
    (round-9: key < k ⇔ key ≤ k − 1 µs, the TYPE's unit step — no
    alignment guard) equals DuckDB's NATIVE EXCLUDE — ties, NULL
    keys, 1 µs-adjacent keys and mixed DAY/HOUR bounds all present."""
    got = _dnorm(spark.sql(rewrite_window_frames(q)).collect())
    want = _dnorm(ts_t.execute(q).fetchall())
    assert got == want


def test_subday_range_exclude_dst_session_matches(spark, ts_t):
    """The µs split is DST-proof BY CONSTRUCTION (instant arithmetic,
    no midnight anchoring): under a DST-observing session timezone —
    where the DAY split's guard refuses — sub-day frames still match
    DuckDB exactly (values within one offset regime, so both engines
    see the same local renderings)."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        q = (
            f"SELECT x, g, min(x) OVER ({_TVF} EXCLUDE GROUP) AS v FROM wf_ts"
        )
        got = _dnorm(spark.sql(rewrite_window_frames(q)).collect())
        want = _dnorm(ts_t.execute(q).fetchall())
        assert got == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


def test_subday_range_exclude_across_dst_transition(spark):
    """ACROSS a fall-back transition the cross-engine comparison is
    out of scope (Spark frames are fixed-duration on INSTANTS while
    DuckDB's naive timestamps measure wall-clock differences), so the
    pin here is against a brute-force python oracle implementing
    Spark's OWN semantics: µs-epoch instants, fixed 2 h bounds,
    EXCLUDE GROUP removal — proving the split preserves the engine's
    frame exactly where the day split could not even run."""
    import datetime

    prev = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        # instants 30 min apart across 2020-11-01 06:00 UTC (the NY
        # fall-back hour), built in UTC to dodge ambiguous locals
        base = datetime.datetime(2020, 11, 1, 4, 30)  # UTC
        utc_rows = [(base + datetime.timedelta(minutes=30 * i), 10 * i, 1)
                    for i in range(8)]
        sdf = spark.createDataFrame(
            [((d - datetime.datetime(1970, 1, 1)).total_seconds(), x, g)
             for d, x, g in utc_rows],
            "sec double, x int, g int",
        ).selectExpr("timestamp_seconds(sec) AS d", "x", "g")
        sdf.createOrReplaceTempView("wf_dst")
        q = (
            "SELECT x, min(x) OVER (PARTITION BY g ORDER BY d RANGE BETWEEN "
            "INTERVAL 2 HOUR PRECEDING AND INTERVAL 2 HOUR FOLLOWING "
            "EXCLUDE GROUP) AS v FROM wf_dst"
        )
        got = {r.x: r.v for r in spark.sql(rewrite_window_frames(q)).collect()}
        # brute force on instants
        want = {}
        for d, x, _g in utc_rows:
            frame = [
                x2 for d2, x2, _ in utc_rows
                if abs((d2 - d).total_seconds()) <= 7200 and d2 != d
            ]
            want[x] = min(frame) if frame else None
        assert got == want
    finally:
        spark.conf.set("spark.sql.session.timeZone", prev)


# ---------------------------------------------------------------------------
# DECIMAL-key value-offset RANGE EXCLUDE split (round-10, r9 verdict #5)
# ---------------------------------------------------------------------------

_DECROWS = [  # (a decimal(10,2), g): fractional values, ties, NULL keys
    ("1.00", 1), ("1.05", 1), ("1.05", 1), ("1.10", 1), ("1.30", 1),
    (None, 1), ("0.99", 2), ("1.00", 2), ("1.00", 2), (None, 2), (None, 2),
]

_DECF = (
    "PARTITION BY g ORDER BY a RANGE BETWEEN 0.10 PRECEDING "
    "AND 0.10 FOLLOWING"
)


@pytest.mark.parametrize(
    "q",
    [
        f"SELECT a, g, min(a) OVER ({_DECF} EXCLUDE GROUP) AS v FROM wf_dec",
        f"SELECT a, g, max(a) OVER ({_DECF} EXCLUDE TIES) AS v FROM wf_dec",
        f"SELECT a, g, first_value(a) OVER ({_DECF} EXCLUDE GROUP) AS v "
        "FROM wf_dec",
        f"SELECT a, g, last_value(a) OVER ({_DECF} EXCLUDE TIES) AS v "
        "FROM wf_dec",
        "SELECT a, g, min(a) OVER (PARTITION BY g ORDER BY a DESC RANGE "
        "BETWEEN 0.05 PRECEDING AND 0.10 FOLLOWING EXCLUDE GROUP) AS v "
        "FROM wf_dec",
        "SELECT a, g, max(a) OVER (PARTITION BY g ORDER BY a RANGE BETWEEN "
        "0.10 PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE TIES) AS v "
        "FROM wf_dec",
        # subtraction family with fractional offsets (round-10 grammar:
        # needs no step at all — base and peer frames are native)
        f"SELECT a, g, count(a) OVER ({_DECF} EXCLUDE GROUP) AS v "
        "FROM wf_dec",
    ],
)
def test_decimal_value_range_exclude_matches_duckdb_native(spark, small_t, q):
    """DECIMAL(10,2)-key value-offset RANGE EXCLUDE GROUP/TIES equals
    DuckDB's NATIVE EXCLUDE — the round-10 closure of the r9-verdict
    DECIMAL residue: the half-frames run in DECIMAL(38,18) key space
    where the 1e-18 step is at most the key's 0.01 unit step (a bare
    sub-scale step would be cast to the key's type and round to zero —
    measured; the emitted bounds carry the same DECIMAL(38,18) cast).
    Fractional values, tied peer groups, NULL keys and a DESC key all
    present."""
    from decimal import Decimal

    rows = [
        (None if a is None else Decimal(a), g) for a, g in _DECROWS
    ]
    spark.createDataFrame(
        rows, "a decimal(10,2), g int"
    ).createOrReplaceTempView("wf_dec")
    con = small_t
    con.execute("create table if not exists wf_dec(a decimal(10,2), g int)")
    con.execute("delete from wf_dec")
    con.executemany("insert into wf_dec values (?,?)", rows)
    got = _norm(spark.sql(rewrite_window_frames(q)).collect())
    want = _norm(con.execute(q).fetchall())
    assert got == want


def test_decimal_value_range_exclude_guards(spark):
    """The round-10 key-space guard's refusal arms: DECIMAL scale > 18
    (unit step below the split's 1e-18) and a non-numeric key (the
    cast would reorder numeric-looking strings; native Spark rejects
    the frame) both raise loudly at runtime; fractional doubles keep
    the round-7 refusal."""
    from decimal import Decimal

    spark.createDataFrame(
        [(Decimal("1.0000000000000000000005"), 1),
         (Decimal("2.0000000000000000000000"), 1)],
        "a decimal(38,22), g int",
    ).createOrReplaceTempView("wf_dec22")
    q = (
        "SELECT min(a) OVER (PARTITION BY g ORDER BY a RANGE BETWEEN "
        "1 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP) AS v FROM wf_dec22"
    )
    with pytest.raises(Exception, match="USER_RAISED_EXCEPTION|scale"):
        spark.sql(rewrite_window_frames(q)).collect()
    spark.createDataFrame(
        [("1.5", 1), ("2.0", 1)], "a string, g int"
    ).createOrReplaceTempView("wf_strk")
    qs = (
        "SELECT min(a) OVER (PARTITION BY g ORDER BY a RANGE BETWEEN "
        "1 PRECEDING AND 1 FOLLOWING EXCLUDE GROUP) AS v FROM wf_strk"
    )
    with pytest.raises(Exception, match="USER_RAISED_EXCEPTION|numeric"):
        spark.sql(rewrite_window_frames(qs)).collect()
