"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementations live in ``adt_spark`` (see SURVEY.md §7 build plan);
this module is only the wiring.
"""

from __future__ import annotations

import functools
import sys
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

# Make the repo importable regardless of the driver's cwd.
_REPO = str(Path(__file__).resolve().parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)


def _prepare(spark: SparkSession) -> None:
    """Session-level setup that query functions rely on (idempotent):
    the dialect SQL UDFs (date_bin_seconds, strpos, …)."""
    from adt_spark.dialect.functions import register_dialect_functions

    register_dialect_functions(spark)
    # parquet timestamp handling; see adt_spark.context for rationale:
    # TIMESTAMP(NANOS) files read as epoch-nanos longs (converted in
    # register_sf_tables), no-tz TIMESTAMP(MICROS) as TimestampType
    # (UTC session ⇒ value-identical to the oracle's naive timestamps).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # spark.sql.codegen.cache.maxEntries (build_session) is static and
    # JVM-wide, so it cannot be set here: a plain session keeps Spark's
    # default cache and recompiles generated classes on repeats.


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query (TPC-H Q1 pricing summary) on sf0.001."""
    from adt_spark.queries import load_all

    _prepare(spark)
    return load_all()["q01_pricing_summary"].spark_fn(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from adt_spark.queries import load_all

    out: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, q in load_all().items():

        @functools.wraps(q.spark_fn)
        def run(spark: SparkSession, sf_dir: str, _fn=q.spark_fn) -> DataFrame:
            _prepare(spark)
            return _fn(spark, sf_dir)

        out[name] = run
    return out


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable oracle SQL per query (omitted entries get the
    driver's weaker rows-only check)."""
    from adt_spark.queries import load_all

    return {name: q.oracle for name, q in load_all().items() if q.oracle is not None}
