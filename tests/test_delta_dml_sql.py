"""SQL-surface Delta DML: DELETE / UPDATE / VACUUM over delta.`/path`
URL tables dispatch to the native copy-on-write writer through
ADTContext.sql — the jar-free mutation surface."""

from __future__ import annotations

import os

import pytest

from adt_spark.sources.delta_native import read_delta_native
from adt_spark.sources.delta_native_write import write_delta_native


@pytest.fixture(scope="module")
def ctx(spark):
    from adt_spark import ADTContext

    return ADTContext(spark=spark)


@pytest.fixture()
def dtab(spark, tmp_path):
    t = str(tmp_path / "dml_tab")
    df = spark.createDataFrame(
        [(i, f"s{i}", float(i)) for i in range(20)], "id long, s string, v double"
    )
    write_delta_native(df, t, mode="append")
    return t


def test_sql_delete(ctx, spark, dtab):
    res = ctx.sql(f"DELETE FROM delta.`{dtab}` WHERE id < 5")
    assert res.first().num_affected_rows == 5
    assert read_delta_native(spark, dtab).count() == 15


def test_sql_update_multi_assignment(ctx, spark, dtab):
    res = ctx.sql(
        f"UPDATE delta.`{dtab}` SET s = upper(s), v = v * 2.0 WHERE id >= 18"
    )
    assert res.first().num_affected_rows == 2
    rows = {r.id: (r.s, r.v) for r in read_delta_native(spark, dtab).collect()}
    assert rows[18] == ("S18", 36.0) and rows[19] == ("S19", 38.0)
    assert rows[0] == ("s0", 0.0)


def test_sql_update_where_inside_literal(ctx, spark, dtab):
    """SET and WHERE split at the statement's own WHERE, not at one
    inside a string literal."""
    res = ctx.sql(f"UPDATE delta.`{dtab}` SET s = 'a WHERE b' WHERE id = 1")
    assert res.first().num_affected_rows == 1
    rows = {r.id: r.s for r in read_delta_native(spark, dtab).collect()}
    assert [i for i, s in rows.items() if s == "a WHERE b"] == [1]
    assert rows[0] == "s0" and rows[2] == "s2"


def test_sql_vacuum_retain(ctx, spark, dtab):
    ctx.sql(f"DELETE FROM delta.`{dtab}` WHERE id = 0")
    assert ctx.sql(f"VACUUM delta.`{dtab}` RETAIN 168 HOURS").first().num_files_deleted == 0
    n = ctx.sql(f"VACUUM delta.`{dtab}` RETAIN 0 HOURS").first().num_files_deleted
    assert n >= 1
    assert read_delta_native(spark, dtab).count() == 19


def test_plain_select_still_routes_to_spark(ctx, sf_dir):
    # non-DML statements keep the normal translate → spark.sql path
    df = ctx.sql(
        f"SELECT count(*) AS n FROM parquet.`{os.path.join(sf_dir, 'region.parquet')}`"
    )
    assert df.first().n == 5


def test_sql_delta_url_table_read(ctx, spark, dtab):
    """SELECT over delta.`/path` URL-table sugar works jar-free via the
    native reader (reference parity: URL tables cover the delta
    factory too, context.rs:55)."""
    df = ctx.sql(f"SELECT count(*) AS n, sum(id) AS s FROM delta.`{dtab}`")
    row = df.first()
    assert (row.n, row.s) == (20, 190)
    # snapshot-per-statement: a delete is visible to the next query
    ctx.sql(f"DELETE FROM delta.`{dtab}` WHERE id = 0")
    assert ctx.sql(f"SELECT count(*) AS n FROM delta.`{dtab}`").first().n == 19


def test_sql_optimize_zorder_and_compact(spark, tmp_path):
    """OPTIMIZE delta.`path` [ZORDER BY (...)] routes through the SQL
    dispatch: z-order commits a new version with clustering; bare
    OPTIMIZE compacts the file count."""
    from pyspark.sql import functions as F

    from adt_spark.sources.delta_native import read_delta_native
    from adt_spark.sources.delta_native_write import write_delta_native

    loc = str(tmp_path / "dsqlopt")
    df = spark.range(0, 2000).select(
        (F.col("id") % 32).alias("x"),
        F.pmod(F.xxhash64("id"), F.lit(32)).alias("y"),
    ).repartition(6)
    write_delta_native(df, loc)

    from adt_spark.sources.delta_dml import execute_delta_dml, is_delta_dml

    zsql = f"OPTIMIZE delta.`{loc}` ZORDER BY (x, y)"
    assert is_delta_dml(zsql)
    out = execute_delta_dml(spark, zsql).collect()[0]
    assert out.version == 1 and out.zorder_by == "x,y"
    assert read_delta_native(spark, loc).count() == 2000

    csql = f"OPTIMIZE delta.`{loc}`"
    assert is_delta_dml(csql)
    out2 = execute_delta_dml(spark, csql).collect()[0]
    assert out2.version == 2
    after = read_delta_native(spark, loc)
    assert after.count() == 2000
    assert len(after.inputFiles()) <= 6


def test_sql_version_as_of(ctx, spark, tmp_path):
    """delta.`path` VERSION AS OF n time travel in the SQL path: the
    pinned version reads the historical snapshot while the bare URL
    reads the current one — both in the same statement."""
    t = str(tmp_path / "dtt")
    write_delta_native(spark.range(0, 5).select("id"), t)                 # v0
    write_delta_native(spark.range(5, 9).select("id"), t, mode="append")  # v1

    assert ctx.sql(
        f"SELECT count(*) AS n FROM delta.`{t}` VERSION AS OF 0"
    ).first().n == 5
    assert ctx.sql(f"SELECT count(*) AS n FROM delta.`{t}`").first().n == 9
    both = ctx.sql(
        f"SELECT (SELECT count(*) FROM delta.`{t}` VERSION AS OF 0) AS old, "
        f"(SELECT count(*) FROM delta.`{t}`) AS new"
    ).first()
    assert (both.old, both.new) == (5, 9)


def test_sql_where_drives_file_skipping(ctx, spark, tmp_path):
    """A conjunctive WHERE on a single delta URL table feeds the
    reader's statistics pruner: disjoint-range appends + a range
    predicate scan strictly fewer files through plain SQL, with
    identical results; a non-whitelisted WHERE (OR) falls back to
    scanning everything — pruning is optimization-only."""
    t = str(tmp_path / "dsqlskip")
    write_delta_native(spark.range(0, 10).repartition(1).select("id"), t)
    write_delta_native(
        spark.range(100, 110).repartition(1).select("id"), t, mode="append"
    )
    write_delta_native(
        spark.range(200, 210).repartition(1).select("id"), t, mode="append"
    )

    from adt_spark.sources.delta_dml import rewrite_delta_url_tables

    pruned_sql = rewrite_delta_url_tables(
        spark, f"SELECT * FROM delta.`{t}` WHERE id >= 150"
    )
    view = pruned_sql.split("FROM ")[1].split()[0]
    assert len(spark.table(view).inputFiles()) == 1

    rows = ctx.sql(f"SELECT * FROM delta.`{t}` WHERE id >= 150")
    assert sorted(r.id for r in rows.collect()) == list(range(200, 210))

    # OR disables pruning (whitelist grammar) but results stay right
    rows_or = ctx.sql(f"SELECT * FROM delta.`{t}` WHERE id >= 205 OR id < 2")
    assert sorted(r.id for r in rows_or.collect()) == [0, 1] + list(range(205, 210))


def test_sql_pruning_reads_the_statement_model(spark, tmp_path):
    """A clause keyword inside a string literal neither counts as a
    second SELECT nor ends the WHERE: the statement prunes to the one
    file holding id 105."""
    t = str(tmp_path / "dsqlkw")
    for lo in (0, 100, 200):
        write_delta_native(
            spark.range(lo, lo + 10).repartition(1).selectExpr("id", "'select' AS note"),
            t,
            mode="append",
        )

    from adt_spark.sources.delta_dml import rewrite_delta_url_tables

    pruned_sql = rewrite_delta_url_tables(
        spark, f"SELECT id FROM delta.`{t}` WHERE id = 105 AND note = 'select'"
    )
    view = pruned_sql.split("FROM ")[1].split()[0]
    assert len(spark.table(view).inputFiles()) == 1
    assert [r.id for r in spark.sql(pruned_sql).collect()] == [105]


@pytest.mark.parametrize(
    "sql, terms",
    [
        (
            "SELECT * FROM delta.`p` WHERE id = 5 AND note = 'select'",
            [("id", "=", 5), ("note", "=", "select")],
        ),
        (
            "SELECT * FROM delta.`p` WHERE id >= 1.5 -- order by x\nLIMIT 3;",
            [("id", ">=", 1.5)],
        ),
        ("SELECT * FROM delta.`p` WHERE note = 'a' ORDER BY id", [("note", "=", "a")]),
        ("SELECT * FROM (SELECT id + 1 AS id FROM delta.`p`) WHERE id = 5", None),
        ("SELECT * FROM delta.`p` WHERE id IN (SELECT 1)", None),
        ("WITH c AS (SELECT * FROM delta.`p`) SELECT * FROM c WHERE id = 5", None),
        ("SELECT id FROM delta.`p` WHERE id = 5 UNION SELECT 1", None),
        ("SELECT * FROM delta.`p` WHERE id = 5 OR id = 6", None),
        ("SELECT * FROM delta.`p`", None),
    ],
)
def test_pruning_terms(sql, terms):
    from adt_spark.sources.delta_dml import _conjunctive_terms

    assert _conjunctive_terms(sql) == terms


def test_sql_table_changes_tvf(ctx, spark, tmp_path):
    """table_changes(delta.`path`, start[, end]) in SQL binds the
    native Change Data Feed (delta-spark's TVF spelling)."""
    from adt_spark.sources.delta_native_write import delete_where

    t = str(tmp_path / "dtvf")
    write_delta_native(spark.range(0, 10).repartition(1).select("id"), t)   # v0
    write_delta_native(
        spark.range(10, 14).repartition(1).select("id"), t, mode="append"   # v1
    )
    delete_where(spark, t, "id >= 12")                                      # v2

    ins = ctx.sql(
        f"SELECT count(*) AS n FROM table_changes(delta.`{t}`, 1, 1) "
        "WHERE _change_type = 'insert'"
    ).first().n
    assert ins == 4
    agg = ctx.sql(
        f"SELECT _change_type, count(*) AS n FROM table_changes(delta.`{t}`, 2) "
        "GROUP BY _change_type ORDER BY _change_type"
    ).collect()
    assert {(r._change_type, r.n) for r in agg} == {("delete", 4), ("insert", 2)}


def test_sql_restore_and_history(ctx, spark, tmp_path):
    """RESTORE TABLE ... TO VERSION AS OF and DESCRIBE HISTORY through
    the SQL path: restore flips the live file set back without
    rewriting data, history lists every commit's operation."""
    t = str(tmp_path / "drestore")
    write_delta_native(spark.range(0, 5).select("id"), t)                  # v0
    write_delta_native(spark.range(5, 9).select("id"), t, mode="append")   # v1
    write_delta_native(spark.range(100, 102).select("id"), t, mode="overwrite")  # v2
    assert read_delta_native(spark, t).count() == 2

    res = ctx.sql(f"RESTORE TABLE delta.`{t}` TO VERSION AS OF 1").first()
    assert res.version == 3
    assert sorted(r.id for r in read_delta_native(spark, t).collect()) == list(range(9))
    # history survives: time travel to v2 still sees the overwrite
    assert read_delta_native(spark, t, version=2).count() == 2

    hist = ctx.sql(f"DESCRIBE HISTORY delta.`{t}`").collect()
    assert [r.version for r in hist] == [0, 1, 2, 3]
    assert hist[-1].operation == "RESTORE"
    assert '"version": 1' in hist[-1].operationParameters
