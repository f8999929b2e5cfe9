"""Parquet schemas read from one footer on the driver.

``context.read_parquet`` replaces ``spark.read.parquet``'s
schema-inference job with the same per-file code run in the driver
JVM.  These tests pin (a) that the schema is the one Spark infers, on
the testdata tables and on layouts that exercise the file choice and
the session's type confs, (b) that registering the driver tables
submits no Spark job where the plain reader submitted one per table,
and (c) that a path with no file fails as Spark's reader fails.
"""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from adt_spark.context import SF_TABLES, read_parquet, register_sf_tables

from conftest import TESTDATA, _job_group

_TESTDATA_FILES = sorted(
    f
    for sf in ("sf0.001", "sf0.01")
    for f in glob.glob(os.path.join(TESTDATA, sf, "*.parquet"))
)


def _same_schema(spark, *paths):
    expected = spark.read.parquet(*paths).schema
    got = read_parquet(spark, *paths).schema
    assert got.json() == expected.json()
    return got


# -- (a) the schema Spark infers ------------------------------------------


@pytest.mark.parametrize(
    "path", _TESTDATA_FILES, ids=lambda p: os.path.relpath(p, TESTDATA)
)
def test_testdata_schema_matches_inference(spark, path):
    _same_schema(spark, path)


def test_testdata_files_present():
    assert len(_TESTDATA_FILES) >= len(SF_TABLES), _TESTDATA_FILES


def test_hive_partitioned_directory(spark, tmp_path):
    """Partition columns come from Spark's discovery, typed (int,
    date) and appended after the data columns, as under inference."""
    path = str(tmp_path / "hive")
    spark.sql(
        "SELECT id, CAST(id % 3 AS INT) AS k, "
        "DATE_ADD(DATE'2024-01-01', CAST(id % 2 AS INT)) AS d, "
        "CAST(id AS STRING) AS s FROM range(12)"
    ).write.partitionBy("k", "d").parquet(path)
    schema = _same_schema(spark, path)
    assert schema.names == ["id", "s", "k", "d"]
    assert isinstance(schema["k"].dataType, T.IntegerType)
    assert isinstance(schema["d"].dataType, T.DateType)
    assert read_parquet(spark, path).where("k = 1").count() == 4


def test_multi_file_directory_skips_hidden_files(spark, tmp_path):
    """A Spark output directory: several part files beside
    ``_SUCCESS`` and ``.crc`` checksums, which are not table files."""
    path = str(tmp_path / "multi")
    spark.range(30).selectExpr("id", "id * 2 AS x").repartition(3).write.parquet(
        path
    )
    names = os.listdir(path)
    assert "_SUCCESS" in names and any(n.endswith(".crc") for n in names)
    assert sum(n.endswith(".parquet") for n in names) >= 2
    _same_schema(spark, path)
    assert read_parquet(spark, path).count() == 30


def test_first_sorted_file_decides(spark, tmp_path):
    """Without summary files Spark reads the first data file in path
    order; a hidden file that sorts first does not count."""
    d = tmp_path / "mixed"
    d.mkdir()
    pq.write_table(pa.table({"a": [1], "b": ["x"]}), d / "part-0.parquet")
    pq.write_table(pa.table({"a": [2]}), d / "part-1.parquet")
    pq.write_table(pa.table({"z": [0.5]}), d / ".part-00.parquet")
    assert _same_schema(spark, str(d)).names == ["a", "b"]


@pytest.mark.parametrize("summaries", [["_metadata"], ["_metadata", "_common_metadata"]])
def test_summary_file_decides(spark, tmp_path, summaries):
    """A summary file at the top of the directory wins over the data
    files, ``_common_metadata`` over ``_metadata``."""
    d = tmp_path / "summarised"
    d.mkdir()
    pq.write_table(pa.table({"a": [1]}), d / "part-0.parquet")
    wide = pa.schema([("a", pa.int64()), ("b", pa.string()), ("c", pa.float64())])
    for name, schema in zip(summaries, [wide.remove(2), wide]):
        pq.write_metadata(schema, d / name)
    names = _same_schema(spark, str(d)).names
    assert names == (["a", "b", "c"] if len(summaries) == 2 else ["a", "b"])


def test_varchar_and_decimal_columns(spark, tmp_path):
    """A Spark-written footer carries Spark's own schema beside the
    parquet types (VARCHAR/CHAR stored as STRING, DECIMAL precision,
    NOT NULL columns); the reader reads that one, as inference does."""
    path = str(tmp_path / "typed")
    spark.sql(
        f"CREATE TABLE adt_footer_typed (v VARCHAR(10), c CHAR(3), "
        f"m DECIMAL(12, 2), n DECIMAL(38, 10)) USING parquet LOCATION '{path}'"
    )
    try:
        spark.sql(
            "INSERT INTO adt_footer_typed VALUES "
            "('abc', 'x', 12.50, 1.0000000001), ('de', 'yz', -3.25, NULL)"
        )
    finally:
        spark.sql("DROP TABLE adt_footer_typed")
    schema = _same_schema(spark, path)
    assert schema["m"].dataType == T.DecimalType(12, 2)
    assert schema["n"].dataType == T.DecimalType(38, 10)
    assert schema["v"].dataType == T.StringType() == schema["c"].dataType


def test_timestamp_nanos_reads_as_long(spark, tmp_path):
    """The events ``ts`` column as TIMESTAMP(NANOS) parquet: under
    ``spark.sql.legacy.parquet.nanosAsLong`` it reads as LongType."""
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"
    path = str(tmp_path / "events_ns.parquet")
    ts = pa.array([1_700_000_000_000_000_000, None], type=pa.timestamp("ns"))
    pq.write_table(pa.table({"event_id": [1, 2], "ts": ts}), path, version="2.6")
    assert pq.read_schema(path).field("ts").type == pa.timestamp("ns")
    schema = _same_schema(spark, path)
    assert isinstance(schema["ts"].dataType, T.LongType)
    rows = read_parquet(spark, path).orderBy("event_id").collect()
    assert rows[0]["ts"] == 1_700_000_000_000_000_000 and rows[1]["ts"] is None


# -- (b) registration submits no Spark job ---------------------------------


def test_register_sf_tables_submits_no_job(spark, sf_dir):
    """Registering the driver tables on a fresh session (no memo)
    reads footers only; ``spark.read.parquet`` ran one inference job
    per table, which the same job-group count sees."""
    paths = [os.path.join(sf_dir, f"{t}.parquet") for t in SF_TABLES]
    paths = [p for p in paths if os.path.exists(p)]
    with _job_group(spark, "adt-parquet-infer") as inferred:
        for p in paths:
            spark.read.parquet(p)
    assert len(inferred) >= len(paths), inferred

    fresh = spark.newSession()
    with _job_group(fresh, "adt-register-sf") as jobs:
        dfs = register_sf_tables(fresh, sf_dir)
    assert jobs == []
    assert sorted(dfs) == sorted(os.path.basename(p)[: -len(".parquet")] for p in paths)
    assert fresh.table("region").count() == dfs["region"].count()


# -- (c) no file to read -----------------------------------------------------


@pytest.mark.parametrize("layout", ["empty_dir", "only_hidden", "missing"])
def test_no_data_file_raises_sparks_error(spark, tmp_path, layout):
    path = tmp_path / "t"
    if layout != "missing":
        path.mkdir()
    if layout == "only_hidden":
        (path / "_SUCCESS").write_bytes(b"")
    with pytest.raises(Exception) as plain:
        spark.read.parquet(str(path))
    with pytest.raises(type(plain.value)) as ours:
        read_parquet(spark, str(path))
    assert str(ours.value).split("]")[0] == str(plain.value).split("]")[0]
