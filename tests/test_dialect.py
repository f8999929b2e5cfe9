"""Dialect layer tests: PostgreSQL operator rewrites + the SQL-UDF
shims for DataFusion function names (SURVEY.md §2.B gaps)."""

from __future__ import annotations

import datetime

import pytest

from adt_spark.dialect.translate import translate_sql


def test_tilde_rewrite():
    assert translate_sql("select x ~ 'ab+' from t") == "select x RLIKE 'ab+' from t"


def test_tilde_case_insensitive():
    assert translate_sql("select x ~* 'ab' from t") == "select x RLIKE '(?i)ab' from t"


def test_tilde_inside_literal_untouched():
    assert translate_sql("select '~tilde~' from t") == "select '~tilde~' from t"


def test_tilde_multiple_in_one_chunk():
    """Several tildes can share one non-literal chunk; the rewritable
    one (literal operand, always the LAST in the chunk) is translated
    even when an earlier non-literal-operand tilde precedes it."""
    out = translate_sql("select a FROM t WHERE a ~ b AND c ~ 'pat'")
    assert "c RLIKE 'pat'" in out
    assert "a ~ b" in out  # untranslatable column-operand form kept verbatim
    # two rewritable tildes land in separate chunks — both translate
    assert translate_sql("select x ~ 'p1' AND y ~* 'p2' from t") == (
        "select x RLIKE 'p1' AND y RLIKE '(?i)p2' from t"
    )
    # same guard for SIMILAR TO sharing a chunk with a column operand
    out2 = translate_sql("select 1 FROM t WHERE a SIMILAR TO b AND c SIMILAR TO 'x%'")
    assert "c RLIKE '^(?:x.*)$'" in out2
    assert "a SIMILAR TO b" in out2


def test_name_rewrites():
    assert (
        translate_sql("select approx_distinct(x), arrow_typeof(y) from t")
        == "select approx_count_distinct(x), typeof(y) from t"
    )
    # array_has_all is a registered UDF, not a rename — must NOT match
    assert "array_has_all(" in translate_sql("select array_has_all(a, b) from t")
    assert translate_sql("select array_has(a, 'x') from t") == (
        "select array_contains(a, 'x') from t"
    )


def test_rewrite_skips_literals():
    sql = "select 'array_has(' from t"
    assert translate_sql(sql) == sql


@pytest.mark.parametrize(
    ("expr", "expected"),
    [
        ("strpos('hello', 'll')", 3),
        ("iszero(0.0)", True),
        ("iszero(1.5)", False),
        ("array_empty(array())", True),
        ("array_has_all(array('a','b','c'), array('a','c'))", True),
        ("array_has_all(array('a'), array('a','z'))", False),
        ("array_pop_front(array('a','b','c'))", ["b", "c"]),
        ("array_pop_back(array('a','b','c'))", ["a", "b"]),
        ("array_resize(array('a','b'), 4, 'z')", ["a", "b", "z", "z"]),
        ("array_resize(array('a','b','c'), 2, 'z')", ["a", "b"]),
        ("array_dims(array('a','b'))", [2]),
        ("array_ndims(array('a'))", 1),
        ("to_unixtime(timestamp '1970-01-01 00:00:01.5')", 1.5),
        ("digest('abc', 'md5')", "900150983cd24fb0d6963f7d28e17f72"),
    ],
)
def test_sql_udf_shims(spark, expr, expected):
    assert spark.sql(f"select {expr} as v").first().v == expected


def test_date_bin_seconds(spark):
    got = spark.sql(
        "select date_bin_seconds(900, timestamp '2024-01-01 00:20:00', "
        "timestamp '2024-01-01') as v"
    ).first().v
    assert got == datetime.datetime(2024, 1, 1, 0, 15)
    # pre-origin timestamps bin to the earlier boundary (floor), as in
    # DataFusion's date_bin.
    got = spark.sql(
        "select date_bin_seconds(900, timestamp '2023-12-31 23:59:00', "
        "timestamp '2024-01-01') as v"
    ).first().v
    assert got == datetime.datetime(2023, 12, 31, 23, 45)


def test_parameterized_sql(spark, sf_dir):
    """ADTContext.sql binds named and positional parameters
    (DataFusion prepared-statement surface, SURVEY §2.B)."""
    from adt_spark.context import ADTContext

    ctx = ADTContext.__new__(ADTContext)  # reuse the session fixture
    ctx.spark = spark
    spark.read.parquet(f"{sf_dir}/region.parquet").createOrReplaceTempView("region")
    named = ctx.sql(
        "select r_name from region where r_regionkey = :k", args={"k": 2}
    ).collect()
    positional = ctx.sql(
        "select r_name from region where r_regionkey = ?", args=[2]
    ).collect()
    assert [r.r_name for r in named] == [r.r_name for r in positional]
    assert len(named) == 1


def test_similar_to_translation():
    from adt_spark.dialect.translate import translate_sql

    assert (
        translate_sql("select * from t where c SIMILAR TO 'ab%'")
        == "select * from t where c RLIKE '^(?:ab.*)$'"
    )
    assert (
        translate_sql("select * from t where c NOT SIMILAR TO 'a_c'")
        == "select * from t where c NOT RLIKE '^(?:a.c)$'"
    )
    # regex syntax shared with Java regex passes through; escaped
    # wildcards stay literal
    assert (
        translate_sql(r"select c SIMILAR TO '(a|b)+\%' from t")
        == r"select c RLIKE '^(?:(a|b)+\%)$' from t"
    )
    # a SIMILAR TO inside a string literal is untouched
    assert (
        translate_sql("select 'x SIMILAR TO y' from t")
        == "select 'x SIMILAR TO y' from t"
    )


def test_similar_to_executes(spark):
    got = spark.sql(
        __import__("adt_spark.dialect.translate", fromlist=["translate_sql"]).translate_sql(
            "select r_name from (select 'EUROPE' as r_name) where r_name SIMILAR TO 'EUR%'"
        )
    ).collect()
    assert [r.r_name for r in got] == ["EUROPE"]


def test_explain_surface(spark, sf_dir):
    """EXPLAIN passes through the dialect layer to Spark's planner
    (reference: DataFusion EXPLAIN [ANALYZE], SURVEY §2.B)."""
    from adt_spark.context import ADTContext

    ctx = ADTContext.__new__(ADTContext)
    ctx.spark = spark
    spark.read.parquet(f"{sf_dir}/region.parquet").createOrReplaceTempView("region")
    out = ctx.sql("EXPLAIN SELECT r_name FROM region WHERE r_regionkey = 1").collect()
    assert len(out) == 1 and "Physical Plan" in out[0][0]


def test_global_rank_rewrite_engages_and_matches(spark, sf_dir):
    """ADTContext.sql on an unpartitioned ranking statement executes
    through the two-phase construction (dialect/global_rank.py) and
    matches Spark's own single-partition answer — incl. relation
    alias, qualified keys, NULLS placement, trailing ORDER BY and
    LIMIT."""
    from adt_spark.context import ADTContext
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    ctx = ADTContext.__new__(ADTContext)
    ctx.spark = spark
    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    q = (
        "SELECT d.doc_id, row_number() OVER (ORDER BY d.n_chars DESC "
        "NULLS LAST, d.doc_id) AS rn, "
        "dense_rank() OVER (ORDER BY n_chars DESC NULLS LAST, doc_id) AS dr "
        "FROM documents d WHERE d.lang = 'en' ORDER BY rn LIMIT 7"
    )
    # the pass engages for this shape...
    assert maybe_rewrite_global_rank(spark, q) is not None
    got = [tuple(r) for r in ctx.sql(q).collect()]
    want = [tuple(r) for r in spark.sql(q).collect()]
    assert got == want and len(got) == 7
    # ...and the rewritten plan has no single-partition exchange
    df = maybe_rewrite_global_rank(spark, q)
    qe = df._jdf.queryExecution()
    jvm = spark._jvm
    plan = qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    assert "SinglePartition" not in plan
    assert "Window" in plan


def test_global_rank_rewrite_passthrough_shapes(spark, sf_dir):
    """Out-of-scope shapes must pass through UNTOUCHED (return None)
    — the plain form is correct, merely on the cliff — never be
    rewritten wrongly."""
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    for q in (
        # partitioned ranking: native plan is already parallel
        "SELECT doc_id, rank() OVER (PARTITION BY lang ORDER BY n_chars) r "
        "FROM documents",
        # no ranking call at all
        "SELECT doc_id FROM documents",
        # SELECT * would leak injected columns
        "SELECT *, row_number() OVER (ORDER BY doc_id) r FROM documents",
        # qualified star leaks them just the same (ADVICE r9)
        "SELECT d.*, row_number() OVER (ORDER BY d.doc_id) r "
        "FROM documents d",
        # self-join FROM body: `doc_id` is ambiguous over the inner
        # view, so the rewrite must fall back (resolution guard)
        "SELECT row_number() OVER (ORDER BY a.doc_id) r FROM documents a "
        "JOIN documents b ON a.doc_id = b.doc_id",
        # top-level DISTINCT
        "SELECT DISTINCT lang, row_number() OVER (ORDER BY lang) r "
        "FROM documents",
        # GROUP BY with an implicit (AS-less) alias item — out of the
        # conservative GROUP-mode scope
        "SELECT lang, count(*) c, row_number() OVER (ORDER BY lang) r "
        "FROM documents GROUP BY lang",
        # rank call inside a string literal only
        "SELECT 'row_number() OVER (ORDER BY x)' AS lit FROM documents",
        # unbalanced parens after a call-name token (ADVICE r10): the
        # collector's _match_paren raises NotImplementedError — the
        # rewrite must FALL BACK (Spark's parser reports the malformed
        # SQL), never let the exception escape
        "SELECT sum(n_chars) OVER (ORDER BY doc_id) AS s "
        "FROM documents WHERE lang > min(",
    ):
        assert maybe_rewrite_global_rank(spark, q) is None, q


@pytest.mark.parametrize(
    "frame",
    ["RANGE UNBOUNDED PRECEDING", "ROWS BETWEEN 0 FOLLOWING AND CURRENT ROW"],
)
def test_global_rank_reads_frame_spellings(spark, sf_dir, frame):
    """The one-bound spelling of the default RANGE frame and a
    zero-offset spelling of the current-row ROWS frame go through the
    rewrite, and return Spark's own rows.  A zero RANGE offset is a
    value boundary Spark type-checks (and refuses under two keys), so
    that spelling stays native."""
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    q = (
        f"SELECT doc_id, sum(n_chars) OVER (ORDER BY n_chars, doc_id {frame}) "
        "AS s FROM documents"
    )
    df = maybe_rewrite_global_rank(spark, q)
    assert df is not None
    assert sorted(df.collect()) == sorted(spark.sql(q).collect())
    zero = q.replace(frame, "RANGE BETWEEN UNBOUNDED PRECEDING AND 0 PRECEDING")
    assert maybe_rewrite_global_rank(spark, zero) is None


def test_global_rank_rewrite_widened_scope(spark, sf_dir):
    """Round-10 scope widening (r9 verdict #4): derived-table FROM
    bodies, CTE prefixes, unambiguous JOIN FROM bodies, expression
    ORDER-BY keys, and top-level GROUP BY — each must rewrite (engage)
    AND match Spark's native single-partition answer."""
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    spark.read.parquet(f"{sf_dir}/region.parquet").createOrReplaceTempView(
        "region"
    )
    spark.read.parquet(f"{sf_dir}/nation.parquet").createOrReplaceTempView(
        "nation"
    )
    for q in (
        # derived table wrapping a GROUP BY — "rank over an aggregate"
        "SELECT source, n_docs, rank() OVER (ORDER BY n_docs DESC, source) r "
        "FROM (SELECT source, count(*) AS n_docs FROM documents "
        "GROUP BY source) t",
        # plain subquery FROM body with WHERE on the outside
        "SELECT doc_id, row_number() OVER (ORDER BY doc_id) rn FROM "
        "(SELECT * FROM documents) t WHERE lang = 'en'",
        # CTE prefix
        "WITH big AS (SELECT doc_id, n_chars FROM documents "
        "WHERE n_chars > 300) "
        "SELECT doc_id, sum(n_chars) OVER (ORDER BY n_chars, doc_id) s "
        "FROM big",
        # unambiguous join FROM body
        "SELECT n_name, row_number() OVER (ORDER BY n_name) rn "
        "FROM nation JOIN region ON n_regionkey = r_regionkey "
        "WHERE r_name = 'ASIA'",
        # expression ORDER-BY key
        "SELECT doc_id, row_number() OVER (ORDER BY n_chars % 7, doc_id) rn "
        "FROM documents",
        # top-level GROUP BY: every item bare / AS-aliased / one call
        "SELECT lang, count(*) AS n_docs, "
        "rank() OVER (ORDER BY count(*) DESC, lang) AS r, "
        "sum(count(*)) OVER (ORDER BY count(*) DESC, lang) AS cum "
        "FROM documents GROUP BY lang",
        # GROUP BY + HAVING + outer ORDER BY/LIMIT
        "SELECT source, sum(n_chars) AS chars, "
        "row_number() OVER (ORDER BY sum(n_chars) DESC) AS rn "
        "FROM documents GROUP BY source HAVING count(*) > 3 "
        "ORDER BY rn LIMIT 4",
    ):
        df = maybe_rewrite_global_rank(spark, q)
        assert df is not None, q
        got = sorted(tuple(r) for r in df.collect())
        want = sorted(tuple(r) for r in spark.sql(q).collect())
        assert got == want, q
        plan = _formatted_plan(df)
        assert "SinglePartition" not in plan, q


def _formatted_plan(df):
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    return qe.explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _random_tied_null_view(spark, name: str, n: int = 500, seed: int = 7):
    """Seeded random (id, k, v) view: k carries heavy ties, v carries
    ~15% NULLs — the adversarial surface for boundary-exact window
    rewrites (ties straddle nothing thanks to peer-co-location; NULL
    runs must cross partition boundaries)."""
    import random

    rng = random.Random(seed)
    rows = [
        (
            i,
            rng.randint(0, 60),
            None if rng.random() < 0.15 else rng.randint(-50, 50),
        )
        for i in range(n)
    ]
    spark.createDataFrame(rows, "id long, k int, v int").createOrReplaceTempView(
        name
    )


def test_global_rewrite_round11_family_matches_native(spark, sf_dir):
    """Round-11 additions (r10 verdict #2/#3/#4) — bounded explicit
    ROWS frames on sum/count/min/max/avg, 3-arg lag/lead defaults,
    IGNORE NULLS first/last, and two distinct ranking orders — each
    must ENGAGE the rewrite, match Spark's native single-partition
    answer exactly on a tied/NULL-ridden random input (DESC included),
    and stay off the cliff."""
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    _random_tied_null_view(spark, "t_r11")
    for q in (
        # every supported bound shape, one statement, shared order
        "SELECT id, sum(v) OVER (ORDER BY k, id "
        "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS ms, "
        "avg(v) OVER (ORDER BY k, id "
        "ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS ma, "
        "min(v) OVER (ORDER BY k, id "
        "ROWS BETWEEN CURRENT ROW AND 4 FOLLOWING) AS mn, "
        "max(v) OVER (ORDER BY k, id "
        "ROWS BETWEEN 5 PRECEDING AND 1 FOLLOWING) AS mx, "
        "count(v) OVER (ORDER BY k, id ROWS 4 PRECEDING) AS cv, "
        "count(*) OVER (ORDER BY k, id "
        "ROWS BETWEEN CURRENT ROW AND CURRENT ROW) AS c1 "
        "FROM t_r11",
        # DESC order + frames wider than the whole input
        "SELECT id, sum(v) OVER (ORDER BY k DESC, id DESC "
        "ROWS BETWEEN 700 PRECEDING AND CURRENT ROW) AS big "
        "FROM t_r11",
        # 3-arg lag/lead: default past the GLOBAL edge only, never at
        # an existing-but-NULL offset row
        "SELECT id, lag(v, 2, -999) OVER (ORDER BY k, id) AS lg, "
        "lead(v, 3, -111) OVER (ORDER BY k, id) AS ld FROM t_r11",
        # IGNORE NULLS first/last (postfix form — what Spark parses)
        "SELECT id, "
        "first_value(v) IGNORE NULLS OVER (ORDER BY k, id) AS f, "
        "last_value(v) IGNORE NULLS OVER (ORDER BY k, id) AS l, "
        "first_value(v) IGNORE NULLS OVER (ORDER BY k DESC, id DESC) AS fd "
        "FROM t_r11",
        # two DISTINCT ranking orders in one statement (restriction
        # lifted), plus a running agg sharing the second order; ranks
        # carry the documented BIGINT contract, pinned by the CASTs
        "SELECT id, CAST(row_number() OVER (ORDER BY k, id) AS BIGINT) AS r1, "
        "CAST(row_number() OVER (ORDER BY id DESC) AS BIGINT) AS r2, "
        "sum(v) OVER (ORDER BY id DESC) AS s2 FROM t_r11",
        # RESPECT NULLS spelled explicitly = the default path
        "SELECT id, first_value(v) RESPECT NULLS "
        "OVER (ORDER BY k, id) AS fr FROM t_r11",
        # second wave: unbounded sides — row-exclusive cumulative
        # (differs from the default RANGE frame under these tied
        # keys), mixed unbounded/finite both ways, whole-input frame
        "SELECT id, sum(v) OVER (ORDER BY k, id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cs, "
        "min(v) OVER (ORDER BY k, id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 2 FOLLOWING) AS m1, "
        "max(v) OVER (ORDER BY k, id "
        "ROWS BETWEEN 3 PRECEDING AND UNBOUNDED FOLLOWING) AS m2, "
        "count(v) OVER (ORDER BY k, id "
        "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS c1, "
        "avg(v) OVER (ORDER BY k, id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS a1, "
        "sum(v) OVER (ORDER BY k DESC, id DESC ROWS UNBOUNDED PRECEDING) "
        "AS cd FROM t_r11",
        # second wave: whole-input OVER () scalars, composed inside
        # arithmetic
        "SELECT id, CAST(v AS DOUBLE) / sum(v) OVER () AS share, "
        "count(*) OVER () AS n, min(v) OVER () AS mn, "
        "avg(v) OVER () AS av FROM t_r11",
        # third wave: negative bounds (shift-composed frames), both
        # directions, unbounded and finite, count's empty-frame 0
        "SELECT id, sum(v) OVER (ORDER BY k, id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 2 PRECEDING) AS sb, "
        "min(v) OVER (ORDER BY k, id "
        "ROWS BETWEEN 5 PRECEDING AND 2 PRECEDING) AS mb, "
        "max(v) OVER (ORDER BY k, id "
        "ROWS BETWEEN 2 FOLLOWING AND 6 FOLLOWING) AS ma, "
        "count(v) OVER (ORDER BY k, id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 3 PRECEDING) AS cb, "
        "avg(v) OVER (ORDER BY k DESC, id DESC "
        "ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS aa "
        "FROM t_r11",
    ):
        df = maybe_rewrite_global_rank(spark, q)
        assert df is not None, q
        got = sorted(
            tuple(round(x, 9) if isinstance(x, float) else x for x in r)
            for r in df.collect()
        )
        want = sorted(
            tuple(round(x, 9) if isinstance(x, float) else x for x in r)
            for r in spark.sql(q).collect()
        )
        assert got == want, q
        # dtype parity by name+type (nullability differs cosmetically
        # — broadcast-join-derived columns read nullable; the oracle
        # gate compares values)
        assert [
            (f.name, f.dataType.simpleString()) for f in df.schema
        ] == [
            (f.name, f.dataType.simpleString()) for f in spark.sql(q).schema
        ], q
        plan = _formatted_plan(df)
        assert "SinglePartition" not in plan, q


def test_global_rewrite_round11_native_passthroughs(spark, sf_dir):
    """Shapes the round-11 wave deliberately leaves native (documented
    pass-throughs): bounded-frame variance, nth_value IGNORE NULLS,
    lag/lead IGNORE NULLS, non-literal frame bounds."""
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    _random_tied_null_view(spark, "t_r11p")
    for q in (
        "SELECT id, var_samp(v) OVER (ORDER BY k, id "
        "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS vs FROM t_r11p",
        # invalid frame (lo > hi) — Spark's own analysis reports it
        "SELECT id, sum(v) OVER (ORDER BY k, id "
        "ROWS BETWEEN 1 PRECEDING AND 3 PRECEDING) AS s FROM t_r11p",
        "SELECT id, nth_value(v, 3) IGNORE NULLS "
        "OVER (ORDER BY k, id) AS nv FROM t_r11p",
        "SELECT id, lag(v) IGNORE NULLS OVER (ORDER BY k, id) AS lg "
        "FROM t_r11p",
        # RANGE value-offset frames stay native (the EXCLUDE family's
        # value-split territory; only ROWS frames ride this rewrite)
        "SELECT id, sum(v) OVER (ORDER BY k "
        "RANGE BETWEEN 3 PRECEDING AND CURRENT ROW) AS s FROM t_r11p",
    ):
        assert maybe_rewrite_global_rank(spark, q) is None, q


def test_global_rank_rewrite_distribution_family(spark, sf_dir):
    """percent_rank / cume_dist / ntile(k) ride the same two-phase
    rewrite (round-9 extension) and match Spark's single-partition
    answer exactly — doubles included (integer-derived divisions are
    bit-identical)."""
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    q = (
        "SELECT doc_id, percent_rank() OVER (ORDER BY n_chars, doc_id) pr, "
        "cume_dist() OVER (ORDER BY n_chars, doc_id) cd, "
        "ntile(4) OVER (ORDER BY n_chars, doc_id) nt "
        "FROM documents WHERE lang <> 'zh'"
    )
    df = maybe_rewrite_global_rank(spark, q)
    assert df is not None
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(tuple(r) for r in spark.sql(q).collect())
    assert got == want
    # ntile with more buckets than rows still matches
    q2 = (
        "SELECT doc_id, ntile(1000000) OVER (ORDER BY doc_id) nt "
        "FROM documents WHERE doc_id < 5"
    )
    df2 = maybe_rewrite_global_rank(spark, q2)
    assert df2 is not None
    assert sorted(tuple(r) for r in df2.collect()) == sorted(
        tuple(r) for r in spark.sql(q2).collect()
    )


def _global_window_case(spark, case):
    """(frame of id / k / v, n_parts) for the planner-vs-native
    comparison: an int seeds heavy key TIES and NULL keys at the
    default partition count; ``k_mod_37`` is 200 rows with k = id % 37
    over 4 pids, so every family's state crosses multi-pid edges."""
    import random

    from pyspark.sql import functions as F

    if case == "k_mod_37":
        return spark.range(200).select(
            F.col("id"),
            (F.col("id") % 37).alias("k"),
            F.when(F.col("id") % 5 != 0, F.col("id")).alias("v"),
        ), 4
    rng = random.Random(case)
    rows = [
        (i, rng.choice([None, 0, 1, 2, 3, 3, 3, 7]), rng.randint(0, 4))
        for i in range(rng.randint(30, 120))
    ]
    df = spark.createDataFrame(rows, "id int, k int, w int")
    return df.select(
        "id", "k", F.when(F.col("id") % 4 != 0, F.col("w")).alias("v")
    ), None


@pytest.mark.parametrize("case", [7, 23, 91, "k_mod_37"])
def test_attach_global_ranks_matches_native_on_ties_and_nulls(spark, case):
    """The global-window planner vs Spark's own single-partition
    ``Window.orderBy`` windows on data with heavy TIES and NULL keys
    and values, ASC and DESC: every family — all six ranking
    functions, running aggregates, bounded and shifted ROWS frames,
    lag/lead (with a default), first/last/nth (IGNORE NULLS included)
    — must be value-identical to the native plan it replaces (range
    partitioning co-locates peers, NULLs included — Spark places the
    null group at one edge and the partitioner uses the same sort).
    The id tiebreak makes the order total, as the row-position
    families require."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from adt_spark.operators.global_window import (
        OrderWindows,
        plan_global_windows,
    )

    df, n_parts = _global_window_case(spark, case)
    v = F.col("v")
    for direction in ("asc", "desc"):
        keys = [(F.col("k"), direction), (F.col("id"), "asc")]
        w = Window.orderBy(getattr(F.col("k"), direction)(), F.col("id"))
        native = {
            "rn": F.row_number().over(w).cast("long"),
            "rk": F.rank().over(w).cast("long"),
            "dr": F.dense_rank().over(w).cast("long"),
            "pr": F.percent_rank().over(w),
            "cd": F.cume_dist().over(w),
            "nt": F.ntile(3).over(w).cast("long"),
            "rs": F.sum(v).over(w),
            "ra": F.avg(v).over(w),
            "rc": F.count(F.lit(1)).over(w),
            "rm": F.min(v).over(w),
            "bs": F.sum(v).over(w.rowsBetween(-2, 3)),
            "bc": F.count(F.lit(1)).over(
                w.rowsBetween(Window.unboundedPreceding, 1)
            ),
            "bm": F.min(v).over(w.rowsBetween(-4, Window.unboundedFollowing)),
            "bx": F.max(v).over(w.rowsBetween(-3, -1)),
            "ba": F.avg(v).over(w.rowsBetween(1, 2)),
            "l1": F.lag(v, 1).over(w),
            "l3": F.lead(v, 3, -1).over(w),
            "fv": F.first(v).over(w),
            "lv": F.last(v).over(w),
            "nv": F.nth_value(v, 5).over(w),
            "fvn": F.first(v, ignorenulls=True).over(w),
            "lvn": F.last(v, ignorenulls=True).over(w),
        }
        order = OrderWindows(
            keys,
            ranks=[("row_number", "rn"), ("rank", "rk"), ("dense_rank", "dr"),
                   ("percent_rank", "pr"), ("cume_dist", "cd"),
                   ("ntile(3)", "nt")],
            running=[("sum", v, "rs"), ("avg", v, "ra"), ("count", None, "rc"),
                     ("min", v, "rm")],
            bounded=[("sum", v, 2, 3, "bs"), ("count", None, None, 1, "bc"),
                     ("min", v, 4, None, "bm"), ("max", v, 3, -1, "bx"),
                     ("avg", v, -1, 2, "ba")],
            offsets=[("lag", v, 1, "l1"), ("lead", v, 3, "l3", F.lit(-1))],
            first_last=[("first_value", v, None, "fv"),
                        ("last_value", v, None, "lv"),
                        ("nth_value", v, 5, "nv"),
                        ("first_value", v, None, "fvn", True),
                        ("last_value", v, None, "lvn", True)],
        )
        got = plan_global_windows(df, [order], n_parts=n_parts).select(
            "id", *native
        )
        want = df.select("id", *[c.alias(n) for n, c in native.items()])
        g = sorted(tuple(r) for r in got.collect())
        w_rows = sorted(tuple(r) for r in want.collect())
        assert g == w_rows, f"case={case} dir={direction}"


@pytest.mark.parametrize("key", ["ts", "d"])
def test_global_window_temporal_keys_match_native(spark, key):
    """TIMESTAMP and DATE order keys (NULLs included) through the
    planner vs native ``Window.orderBy``: their split bounds and their
    per-pid lag/lead and first/last state travel through Arrow local
    relations, so every value must come back as the same instant."""
    import datetime
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from adt_spark.operators.global_window import (
        OrderWindows,
        plan_global_windows,
    )

    rng = random.Random(41)
    t0 = datetime.datetime(2024, 3, 9, 22, 0, 0, 250000)
    rows = []
    for i in range(160):
        ts = None if i % 11 == 0 else t0 + datetime.timedelta(
            minutes=rng.choice([0, 15, 45, 60, 90, 1440, 2880]) * rng.randint(0, 5),
            microseconds=rng.choice([0, 1, 999999]),
        )
        rows.append((i, ts, None if ts is None or i % 7 == 0 else ts.date()))
    df = spark.createDataFrame(rows, "id int, ts timestamp, d date")
    v = F.col("ts")
    for direction in ("asc", "desc_nulls_first"):
        k = getattr(F.col(key), direction)()
        w = Window.orderBy(k, F.col("id"))
        native = {
            "rn": F.row_number().over(w).cast("long"),
            "rk": F.rank().over(w).cast("long"),
            "dr": F.dense_rank().over(w).cast("long"),
            "l1": F.lag(v, 1).over(w),
            "l3": F.lead(v, 3).over(w),
            "fv": F.first(v).over(w),
            "lv": F.last(v).over(w),
            "lvn": F.last(v, ignorenulls=True).over(w),
        }
        order = OrderWindows(
            [(F.col(key), direction), (F.col("id"), "asc")],
            ranks=[("row_number", "rn"), ("rank", "rk"), ("dense_rank", "dr")],
            offsets=[("lag", v, 1, "l1"), ("lead", v, 3, "l3")],
            first_last=[("first_value", v, None, "fv"),
                        ("last_value", v, None, "lv"),
                        ("last_value", v, None, "lvn", True)],
        )
        got = plan_global_windows(df, [order], n_parts=5).select("id", *native)
        want = df.select("id", *[c.alias(n) for n, c in native.items()])
        assert [(f.name, f.dataType) for f in got.schema.fields] == [
            (f.name, f.dataType) for f in want.schema.fields
        ]
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, want.collect())
        ), f"key={key} dir={direction}"


def test_global_rank_rewrite_url_table(spark):
    """URL tables (`fmt.`/path`` — the reference's enable_url_table
    surface) work as the single relation of a global-rank rewrite,
    LIMIT included."""
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    q = (
        "SELECT doc_id, row_number() OVER (ORDER BY doc_id) rn FROM "
        "parquet.`/root/testdata/sf0.001/documents.parquet` LIMIT 4"
    )
    df = maybe_rewrite_global_rank(spark, q)
    assert df is not None
    assert sorted(tuple(r) for r in df.collect()) == sorted(
        tuple(r) for r in spark.sql(q).collect()
    )


@pytest.mark.parametrize("seed", [5, 41])
def test_global_running_aggs_match_native(spark, seed):
    """The running-aggregate rewrite vs Spark's native single-
    partition windows on seeded random data — NULL arguments, ties,
    expression args, count(*), and a second distinct order in one
    statement (chained constructions)."""
    import random

    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    rng = random.Random(seed)
    rows = [
        (i, rng.randint(0, 4), rng.choice([None, rng.randint(-30, 90)]))
        for i in range(rng.randint(40, 140))
    ]
    spark.createDataFrame(rows, "id int, k int, v int").createOrReplaceTempView(
        "gra_t"
    )
    q = (
        "SELECT id, sum(v) OVER (ORDER BY k, id) s, "
        "count(v) OVER (ORDER BY k, id) c, "
        "count(*) OVER (ORDER BY k, id) cs, "
        "min(v) OVER (ORDER BY k, id) mn, "
        "avg(v + 1) OVER (ORDER BY k, id) av, "
        "max(v) OVER (ORDER BY id DESC) mx "
        "FROM gra_t WHERE id >= 3"
    )
    df = maybe_rewrite_global_rank(spark, q)
    assert df is not None
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(tuple(r) for r in spark.sql(q).collect())
    assert got == want, f"seed={seed}"


def test_global_running_aggs_passthrough_and_leftovers(spark, sf_dir):
    """Unsupported running-agg shapes either pass through entirely or
    stay NATIVE inside an otherwise-rewritten statement (they
    evaluate over the view's rows — the base rows — so semantics are
    unchanged)."""
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    spark.read.parquet(f"{sf_dir}/documents.parquet").createOrReplaceTempView(
        "documents"
    )
    # no window call at all → None
    assert maybe_rewrite_global_rank(
        spark, "SELECT sum(n_chars) AS s FROM documents"
    ) is None
    # a ROWS-framed agg stays native while the rank call rewrites
    q = (
        "SELECT doc_id, sum(n_chars) OVER (ORDER BY doc_id ROWS BETWEEN 1 "
        "PRECEDING AND CURRENT ROW) s, "
        "row_number() OVER (ORDER BY doc_id) rn FROM documents"
    )
    df = maybe_rewrite_global_rank(spark, q)
    assert df is not None
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, spark.sql(q).collect())
    )


@pytest.mark.parametrize("seed", [13, 37])
def test_global_offsets_match_native(spark, seed):
    """The lag/lead rewrite vs Spark's native single-partition windows
    on seeded random data — NULL values, string args, expression
    args, offsets up to 4, DESC keys, and a second distinct order in
    one statement."""
    import random

    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    rng = random.Random(seed)
    rows = [
        (i, rng.randint(0, 999), rng.choice([None, rng.randint(-50, 50)]),
         rng.choice(["x", "y", None]))
        for i in range(rng.randint(40, 160))
    ]
    spark.createDataFrame(rows, "id int, k int, v int, s string").createOrReplaceTempView(
        "gof_t"
    )
    q = (
        "SELECT id, lag(v) OVER (ORDER BY k, id) l1, "
        "lag(s, 4) OVER (ORDER BY k, id) ls, "
        "lead(v + 10, 2) OVER (ORDER BY k, id) dv, "
        "lag(v, 2) OVER (ORDER BY id DESC) lr "
        "FROM gof_t WHERE id >= 2"
    )
    df = maybe_rewrite_global_rank(spark, q)
    assert df is not None
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(tuple(r) for r in spark.sql(q).collect())
    assert got == want, f"seed={seed}"


def test_global_rewrite_preserves_native_dtypes(spark):
    """Round-10 (r9 verdict #6 / ADVICE): the rewrite's output SCHEMA
    must equal native execution's — min/max/lag/lead return the input
    column's own type (the round-9 Python-value inspection widened
    int32→bigint), sum returns Spark's sum result type, avg the
    native avg type (decimal included).  The rank family stays BIGINT
    by documented contract (global_window._attach_ranks docstring) and is
    pinned by CASTs in the oracled queries, so it is absent here.
    Values must match too."""
    import datetime
    from decimal import Decimal

    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    rows = [
        (
            i,
            i % 4,
            float(i) / 8 if i % 5 else None,
            Decimal(i * 7).scaleb(-2),
            None if i % 7 == 0 else f"s{i}",
            datetime.date(2024, 1, 1) + datetime.timedelta(days=i),
        )
        for i in range(37)
    ]
    spark.createDataFrame(
        rows, "id int, k int, f double, d decimal(10,2), s string, dt date"
    ).createOrReplaceTempView("dtyp_t")
    q = (
        "SELECT id, "
        "min(id) OVER (ORDER BY k, id) mi, "
        "max(f) OVER (ORDER BY k, id) mf, "
        "sum(d) OVER (ORDER BY k, id) sd, "
        "avg(f) OVER (ORDER BY k, id) af, "
        "min(dt) OVER (ORDER BY k, id) md, "
        "lag(id) OVER (ORDER BY k, id) li, "
        "lag(s, 2) OVER (ORDER BY k, id) ls, "
        "lead(dt) OVER (ORDER BY k, id) ld, "
        "lead(d, 3) OVER (ORDER BY k, id) lld "
        "FROM dtyp_t"
    )
    got = maybe_rewrite_global_rank(spark, q)
    assert got is not None
    want = spark.sql(q)
    assert [(f.name, f.dataType) for f in got.schema.fields] == [
        (f.name, f.dataType) for f in want.schema.fields
    ]
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


@pytest.mark.parametrize("seed", [11, 53])
def test_global_first_last_nth_match_native(spark, seed):
    """The frame-value rewrite (round-10: first_value / last_value /
    nth_value, default frame) vs Spark's native single-partition
    windows on seeded random data — NULL values, ties on a secondary
    check, string args, n beyond the row count, DESC keys, a second
    distinct order in one statement.  Keys are a total order where
    ties would make the native answer nondeterministic."""
    import random

    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    rng = random.Random(seed)
    rows = [
        (i, rng.randint(0, 999), rng.choice([None, rng.randint(-50, 50)]),
         rng.choice(["x", "y", None]))
        for i in range(rng.randint(40, 160))
    ]
    spark.createDataFrame(
        rows, "id int, k int, v int, s string"
    ).createOrReplaceTempView("fln_t")
    q = (
        "SELECT id, first_value(v) OVER (ORDER BY k, id) fv, "
        "last_value(s) OVER (ORDER BY k, id) lv, "
        "nth_value(v, 7) OVER (ORDER BY k, id) n7, "
        "nth_value(s, 100000) OVER (ORDER BY k, id) nbig, "
        "first_value(v + 1) OVER (ORDER BY id DESC) fr "
        "FROM fln_t WHERE id >= 2"
    )
    df = maybe_rewrite_global_rank(spark, q)
    assert df is not None
    got = sorted(tuple(r) for r in df.collect())
    want = sorted(tuple(r) for r in spark.sql(q).collect())
    assert got == want, f"seed={seed}"
    # dtypes equal native's too
    assert df.schema == spark.sql(q).schema
    # round-11: the postfix IGNORE NULLS form is now REWRITTEN (r10
    # verdict #3) and must match native; the explicit two-arg
    # ignoreNulls form stays a native pass-through
    qn = (
        "SELECT id, first_value(v) IGNORE NULLS OVER (ORDER BY k, id) f "
        "FROM fln_t"
    )
    dfn = maybe_rewrite_global_rank(spark, qn)
    assert dfn is not None, qn
    assert sorted(tuple(r) for r in dfn.collect()) == sorted(
        tuple(r) for r in spark.sql(qn).collect()
    ), f"seed={seed}"
    assert (
        maybe_rewrite_global_rank(
            spark, "SELECT first_value(v, true) OVER (ORDER BY k, id) f FROM fln_t"
        )
        is None
    )


def test_global_running_variance_matches_native_approx(spark):
    """The round-10 moment-family rewrite vs native Spark windows:
    native stddev/variance use a different algorithm (incremental),
    so equality is to 1e-9 relative tolerance — the EXACT contract is
    against the closed-form oracle (q_sql_running_variance, hash-
    exact for integer arguments).  NULL patterns (n=0 → NULL, n=1 →
    var_samp NULL / var_pop 0.0) must match exactly."""
    import math
    import random

    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    rng = random.Random(19)
    rows = [
        (i, rng.randint(0, 5), rng.choice([None, rng.randint(-40, 80)]))
        for i in range(90)
    ]
    spark.createDataFrame(rows, "id int, k int, v int").createOrReplaceTempView(
        "grv_t"
    )
    q = (
        "SELECT id, stddev_samp(v) OVER (ORDER BY k, id) ss, "
        "var_pop(v) OVER (ORDER BY k, id) vp, "
        "variance(v) OVER (ORDER BY k, id) vr, "
        "stddev_pop(v) OVER (ORDER BY k, id) sp "
        "FROM grv_t"
    )
    df = maybe_rewrite_global_rank(spark, q)
    assert df is not None
    got = {r.id: r for r in df.collect()}
    want = {r.id: r for r in spark.sql(q).collect()}
    assert set(got) == set(want)
    for i in got:
        for f in ("ss", "vp", "vr", "sp"):
            g, w = getattr(got[i], f), getattr(want[i], f)
            if w is None or g is None:
                assert g == w, (i, f, g, w)
            else:
                assert math.isclose(g, w, rel_tol=1e-9, abs_tol=1e-9), (
                    i, f, g, w
                )


def test_global_rewrite_reserved_prefix_falls_back(spark):
    """An inner relation that already carries an `_adt_`-prefixed
    column would collide with the rewrite's injected helper columns
    (_adt_pid / _adt_wk* / _adt_gw*) — such statements must pass
    through to the native path, never silently mix user data with
    helper state."""
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    spark.createDataFrame(
        [(1, 10), (2, 20)], "id int, _adt_pid int"
    ).createOrReplaceTempView("resv_t")
    q = "SELECT id, row_number() OVER (ORDER BY id) rn FROM resv_t"
    assert maybe_rewrite_global_rank(spark, q) is None
    got = sorted(map(tuple, spark.sql(q).collect()))
    assert got == [(1, 1), (2, 2)]


@pytest.mark.parametrize(
    "stmt, n_collects",
    [
        ("_SQL_TWO_ORDERS_STMT", 4),
        ("_SQL_RANK_STMT", 2),
        ("_SQL_OFFSETS_STMT", 2),
        ("_SQL_FIRSTLAST_STMT", 3),
    ],
    ids=["two_orders", "dense_rank", "offsets", "first_last"],
)
def test_two_order_state_actions_fused(
    spark, sf_dir, monkeypatch, stmt, n_collects
):
    """Round-12 (r11 verdict item 2): per statement the rewrite runs
    ONE bounds sample + ONE fused composite per-pid state collect per
    distinct order — the two-order statement submits exactly 4 driver
    collects (previously 5: the rank and running families each paid
    their own state aggregation action).  The other pins: dense_rank's
    two-level state (sample + one keyed collect), lag/lead (sample +
    one edge collect), first/last/nth (sample + one stats collect +
    one nth-row lookup)."""
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank
    from adt_spark.operators import sampling as S
    from adt_spark.queries import tables

    tables(spark, sf_dir)  # register views BEFORE counting collects
    cls = type(spark.range(1))  # the CONCRETE DataFrame class (Spark 4
    # classic mode subclasses the pyspark.sql.DataFrame facade)
    calls: list[int] = []
    orig = cls.collect

    def counting(self):
        calls.append(1)
        return orig(self)

    counts: list[int] = []
    orig_count = cls.count

    def counting_count(self):
        counts.append(1)
        return orig_count(self)

    monkeypatch.setattr(cls, "collect", counting)
    monkeypatch.setattr(cls, "count", counting_count)
    out = maybe_rewrite_global_rank(spark, getattr(S, stmt))
    assert out is not None
    assert len(calls) == n_collects, (
        f"expected {n_collects} driver collects, got {len(calls)}"
    )
    # r11 claim, machine-checked (ADVICE r11): the bounds sample is
    # count-free — no count() action anywhere in the construction
    assert not counts, f"construction ran {len(counts)} count() actions"


def test_two_order_build_jobs_keep_job_group(spark, sf_dir):
    """Building the two-order statement runs its split-bound samples
    and per-pid state collects on worker threads; every job it submits
    carries the caller's job group."""
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank
    from adt_spark.operators import sampling as S
    from adt_spark.queries import tables

    tables(spark, sf_dir)
    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def jobs():
        jsc.listenerBus().waitUntilEmpty()
        it = jsc.statusStore().jobsList(None).iterator()
        out = {}
        while it.hasNext():
            j = it.next()
            out[j.jobId()] = j
        return out

    before = set(jobs())
    sc.setJobGroup("adt-build-group", "two-order build")
    try:
        out = maybe_rewrite_global_rank(spark, S._SQL_TWO_ORDERS_STMT)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert out is not None
    built = [j for i, j in jobs().items() if i not in before]
    assert built, "the build submitted no jobs"
    groups = [j.jobGroup().get() if j.jobGroup().isDefined() else None for j in built]
    assert groups == ["adt-build-group"] * len(built), groups


def test_bounds_sample_plans_top_k(spark):
    """r11 claim, machine-checked (ADVICE r11): _sample_split_bounds'
    one action is a hash top-k planned as TakeOrderedAndProject —
    bounded heap per partition, no full sort, no count pass."""
    from pyspark.sql import functions as F

    from adt_spark.operators import global_window as G

    df = spark.range(1000).select(
        (F.col("id") % 13).alias("k"), F.col("id").alias("v")
    )
    keys_df = df.select(F.col("k").alias("_adt_k0"))
    target = max(4 * G._BOUND_SAMPLE_PER_PART, 256)
    sample = keys_df.orderBy(
        F.xxhash64(F.monotonically_increasing_id(), F.lit(1729))
    ).limit(target)
    plan = sample._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan, plan


def _job_ids(spark) -> set:
    """Ids of every job the JVM status store has seen, once the
    listener bus has drained."""
    jsc = spark.sparkContext._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    it = jsc.statusStore().jobsList(None).iterator()
    out = set()
    while it.hasNext():
        out.add(it.next().jobId())
    return out


def test_global_window_attach_submits_no_jobs(spark):
    """The planner's state phase runs every driver action up front;
    the attach phase — every family's attach function over that
    precomputed state, chained over two orders — only builds the plan
    and submits no Spark job."""
    from pyspark.sql import functions as F

    from adt_spark.operators import global_window as G

    df = spark.range(200).select(
        F.col("id"),
        (F.col("id") % 37).alias("k"),
        F.when(F.col("id") % 5 != 0, F.col("id")).alias("v"),
    )
    v = F.col("v")
    orders = [
        G.OrderWindows(
            [(F.col("k"), "asc"), (F.col("id"), "asc")],
            ranks=[("dense_rank", "dr"), ("ntile(3)", "nt")],
            running=[("sum", v, "rs"), ("stddev", v, "sd")],
            bounded=[("sum", v, 2, 3, "bs"), ("min", v, None, 1, "bm")],
            offsets=[("lag", v, 2, "l2"), ("lead", v, 1, "l1", F.lit(0))],
            first_last=[("first_value", v, None, "fv"),
                        ("nth_value", v, 7, "nv"),
                        ("first_value", v, None, "fvn", True),
                        ("last_value", v, None, "lvn", True)],
        ),
        G.OrderWindows(
            [(F.col("id"), "desc")],
            ranks=[("row_number", "rn")],
            running=[("count", None, "rc")],
        ),
    ]
    scalars = [("sum", v, "tot")]
    splits, state = G._gather_state(df, orders, scalars, 4)
    before = _job_ids(spark)
    out = G._chain(df, orders, scalars, splits, state)
    assert _job_ids(spark) == before, "an attach function submitted a job"
    rows = out.orderBy("id").collect()
    assert [r.rn for r in rows] == list(range(200, 0, -1))
    assert {r.tot for r in rows} == {sum(i for i in range(200) if i % 5)}


def test_global_rank_rewrite_drops_its_temp_view(spark, sf_dir):
    """The rewrite's ``_adt_global_rank_N`` view is dropped once the
    outer statement is analysed — on the rewritten path and on the
    fallback path (an outer statement that does not resolve over the
    view) — and the returned frames still execute."""
    from adt_spark import ADTContext
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank
    from adt_spark.operators import sampling as S
    from adt_spark.queries import tables

    tables(spark, sf_dir)
    ctx = ADTContext(spark=spark)
    # the construction succeeds, but `a.doc_id` cannot resolve over
    # the unaliased view of a JOIN body, so the outer query falls back
    fallback = (
        "SELECT a.doc_id, row_number() OVER (ORDER BY a.n_chars, a.doc_id) "
        "AS rn FROM documents a "
        "JOIN (SELECT doc_id AS d2 FROM documents) b ON a.doc_id = b.d2"
    )
    assert maybe_rewrite_global_rank(spark, fallback) is None
    assert maybe_rewrite_global_rank(spark, S._SQL_RANK_STMT) is not None
    frames = {q: ctx.sql(q) for q in (S._SQL_RANK_STMT, fallback)}
    names = [
        r.table_name
        for r in ctx.sql(
            "SELECT table_name FROM information_schema.tables"
        ).collect()
    ]
    assert not [n for n in names if n.startswith("_adt_global_rank_")], names
    for q, frame in frames.items():
        assert sorted(map(tuple, frame.collect())) == sorted(
            map(tuple, spark.sql(q).collect())
        ), q


@pytest.mark.parametrize(
    ("stmt", "twin"),
    [
        (
            "SELECT trunc(3.7) AS a -- it's\n, trunc(2.5) AS b",
            "SELECT trunc(3.7) AS a\n, trunc(2.5) AS b",
        ),
        (
            "SELECT x -- don't\n FROM t WHERE name ~ 'a.*'",
            "SELECT x\n FROM t WHERE name ~ 'a.*'",
        ),
        (
            "SELECT x /* it's */ FROM t WHERE name ~ 'a.*'",
            "SELECT x FROM t WHERE name ~ 'a.*'",
        ),
        (
            "SELECT string_to_array(s, ',') -- it's\n , regexp_match(s, 'a') "
            "FROM t",
            "SELECT string_to_array(s, ',')\n , regexp_match(s, 'a') FROM t",
        ),
    ],
)
def test_translate_comment_quote_opens_no_literal(stmt, twin):
    """An apostrophe inside a ``--`` or ``/* */`` comment flips no
    literal state: the statement translates exactly like its
    comment-free twin (up to the blanks the comment leaves)."""
    want = translate_sql(twin)
    assert want != twin
    assert translate_sql(stmt).split() == want.split()


@pytest.mark.parametrize(
    "item",
    [
        "lag(s, 1, 'a,b') OVER (ORDER BY k)",
        "sum(CASE WHEN t = ',' THEN v END) OVER (ORDER BY k)",
    ],
)
def test_global_rank_quoted_comma_argument_engages(spark, item):
    """A comma inside a quoted argument does not split the call's
    arguments, so these calls take the global-window rewrite instead
    of Spark's single-partition window, with the same rows."""
    from adt_spark.dialect.global_rank import maybe_rewrite_global_rank

    rows = [
        (k, None if k % 4 == 0 else f"s{k % 3}", "," if k % 2 else ";", k - 5)
        for k in range(12)
    ]
    spark.createDataFrame(rows, "k int, s string, t string, v int") \
        .createOrReplaceTempView("gr_commas")
    q = f"SELECT k, {item} AS w FROM gr_commas"
    df = maybe_rewrite_global_rank(spark, q)
    assert df is not None, q
    assert sorted(map(tuple, df.collect())) == sorted(
        map(tuple, spark.sql(q).collect())
    )
