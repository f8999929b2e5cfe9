"""CLI black-box tests (reference behaviors: limit appending
main.rs:72, schema output main.rs:99, script execution main.rs:103-137)."""

from __future__ import annotations

import os

from adt_spark.cli import main


def _Ctx(spark):
    """The real context over the shared test session (the CLI now
    routes registration through ctx.sql's CREATE EXTERNAL TABLE
    interception, so the full SQL entry point is required)."""
    from adt_spark import ADTContext

    return ADTContext(spark=spark)


def test_view_appends_limit(spark, sf_dir, capsys):
    rc = main(
        ["view", os.path.join(sf_dir, "customer.parquet"), "-f", "parquet", "-l", "7"],
        ctx=_Ctx(spark),
    )
    assert rc == 0
    out = capsys.readouterr().out
    # default query `select * from tbl` with appended limit 7
    assert out.count("\n") > 5
    assert "c_custkey" in out
    assert "only showing top 7 rows" in out or out.count("|") >= 7


def test_view_custom_query(spark, sf_dir, capsys):
    rc = main(
        [
            "view",
            os.path.join(sf_dir, "region.parquet"),
            "-f",
            "parquet",
            "-q",
            "select r_name from tbl where r_regionkey ~ '^[12]$'",
            "-l",
            "10",
        ],
        ctx=_Ctx(spark),
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "AMERICA" in out and "ASIA" in out and "AFRICA" not in out


def test_schema_describe(spark, sf_dir, capsys):
    rc = main(
        ["schema", os.path.join(sf_dir, "region.parquet"), "-f", "parquet"],
        ctx=_Ctx(spark),
    )
    assert rc == 0
    out = capsys.readouterr().out
    assert "r_regionkey" in out and "r_name" in out


def test_execute_script(spark, sf_dir, tmp_path, capsys):
    script = tmp_path / "s.sql"
    script.write_text(
        "-- comment line\n"
        f"create or replace temporary view t_exec as\n"
        f"select * from parquet.`{os.path.join(sf_dir, 'region.parquet')}`;\n"
        "select count(*) as n\n"
        "from t_exec"
    )
    rc = main(["execute", str(script)], ctx=_Ctx(spark))
    assert rc == 0
    out = capsys.readouterr().out
    assert "| 5" in out.replace("|5", "| 5") or "5" in out


def test_view_output_path_export(spark, sf_dir, tmp_path, capsys):
    """-o exports the FULL query result (no preview LIMIT) through the
    COPY sink — the reference's declared-but-dead export surface
    (cli.rs:67-68), completed."""
    from adt_spark import ADTContext

    out = str(tmp_path / "export_out")
    rc = main(
        [
            "view",
            os.path.join(sf_dir, "customer.parquet"),
            "-f", "parquet",
            "-q", "select c_custkey, c_name from tbl where c_custkey < 100",
            "-l", "5",
            "-o", out,
        ],
        ctx=ADTContext(spark=spark),
    )
    assert rc == 0
    assert "exported 100 rows" in capsys.readouterr().out
    back = spark.read.parquet(out)
    assert back.count() == 100  # full result, not the 5-row preview
    assert set(back.columns) == {"c_custkey", "c_name"}


def test_information_schema_columns_matches_describe(spark, sf_dir):
    """Direct information_schema queries — valid in the reference
    (context.rs:27 enables them; SHOW COLUMNS at main.rs:99 is
    answered from them) — resolve and agree with DESCRIBE."""
    from adt_spark import ADTContext

    ctx = ADTContext(spark=spark)
    ctx.sql(
        f"create external table info_tbl stored as parquet "
        f"location '{os.path.join(sf_dir, 'nation.parquet')}'"
    )
    rows = ctx.sql(
        "SELECT column_name, data_type, is_nullable, ordinal_position "
        "FROM information_schema.columns WHERE table_name = 'info_tbl' "
        "ORDER BY ordinal_position"
    ).collect()
    desc = ctx.sql("describe info_tbl").collect()
    assert [(r.column_name, r.data_type) for r in rows] == [
        (d.col_name, d.data_type) for d in desc
    ]
    assert [r.ordinal_position for r in rows] == list(range(len(desc)))

    tabs = ctx.sql(
        "SELECT table_name, table_type FROM information_schema.tables "
        "WHERE table_name = 'info_tbl'"
    ).collect()
    assert tabs and tabs[0].table_type == "VIEW"  # temp view registration

    settings = ctx.sql(
        "SELECT value FROM information_schema.df_settings "
        "WHERE name = 'spark.sql.shuffle.partitions'"
    ).collect()
    assert settings and settings[0].value is not None


def test_explain_analyze_runs_and_reports_metrics(spark, sf_dir):
    """EXPLAIN ANALYZE (DataFusion surface, not in Spark's parser):
    executes the plan and returns (plan_type, plan) with per-operator
    runtime metrics, AQE-final."""
    from adt_spark import ADTContext

    ctx = ADTContext(spark=spark)
    ctx.register_sf_dir(sf_dir)
    rows = ctx.sql(
        "EXPLAIN ANALYZE SELECT l_returnflag, count(*) AS n "
        "FROM lineitem GROUP BY l_returnflag"
    ).collect()
    assert len(rows) == 1 and rows[0].plan_type == "Plan with Metrics"
    plan = rows[0].plan
    assert "isFinalPlan=true" in plan          # really executed
    assert "Metrics:" in plan
    assert "numOutputRows=" in plan            # runtime metric values
    assert "HashAggregate" in plan


def test_cli_queries_lists_registry(capsys):
    from adt_spark.cli import main

    assert main(["queries"]) == 0
    out = capsys.readouterr().out
    assert "q01_pricing_summary" in out and "[oracle]" in out
    assert "streaming_docs_neardup_ingest" in out and "[rows-only]" in out
    assert main(["queries", "-t", "pareto"]) == 0
    out = capsys.readouterr().out
    assert "q_events_value_concentration" in out
    assert "q01_pricing_summary" not in out


def test_cli_defaults_delta_and_log_level(spark, tmp_path, capsys):
    """Round-10 parity nits (r9 verdict #7): the view/schema default
    format is DELTA like the reference's (cli.rs:59,75 — the old
    parquet deviation's rationale went stale once the jar-free native
    Delta reader landed), and the reference's top-level -l/--log-level
    flag (cli.rs:47-52) exists with its Off default (the subcommand -l
    stays the view limit, like clap's scoping)."""
    from adt_spark.sources.delta_native_write import write_delta_native

    path = str(tmp_path / "dtbl")
    write_delta_native(
        spark.createDataFrame([(1, "a"), (2, "b")], "id int, s string"), path
    )
    # no -f: delta by default, through the native jar-free reader
    rc = main(["view", path, "-l", "5"], ctx=_Ctx(spark))
    assert rc == 0
    out = capsys.readouterr().out
    assert "id" in out and "a" in out and "b" in out
    rc = main(["schema", path], ctx=_Ctx(spark))
    assert rc == 0
    assert "id" in capsys.readouterr().out
    # top-level log-level parses in front of the subcommand; the
    # borrowed-session guard means only a non-off level touches the
    # shared logger — set it back around the call
    rc = main(
        ["--log-level", "info", "view", path, "-l", "2"], ctx=_Ctx(spark)
    )
    spark.sparkContext.setLogLevel("WARN")
    assert rc == 0
    from adt_spark.cli import _build_parser

    assert _build_parser().parse_args(["view", "x"]).log_level == "off"


def test_schema_of_parquet_file_submits_no_job(spark, sf_dir, capsys):
    """``adt schema <file.parquet>``: the CREATE EXTERNAL TABLE
    registration reads the footer on the driver, and DESCRIBE is a
    local command — no Spark job."""
    sc = spark.sparkContext
    sc.setJobGroup("adt-cli-schema", "adt schema")
    try:
        rc = main(
            ["schema", os.path.join(sf_dir, "lineitem.parquet"), "-f", "parquet"],
            ctx=_Ctx(spark),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rc == 0
    assert "l_orderkey" in capsys.readouterr().out
    assert list(sc.statusTracker().getJobIdsForGroup("adt-cli-schema")) == []
