"""``information_schema`` tables — reference parity for direct queries.

The reference enables DataFusion's information_schema
(crates/core/src/context.rs:27 ``with_information_schema(true)``) and
its CLI consumes it via ``SHOW COLUMNS FROM tbl`` (main.rs:99).  Spark
answers SHOW/DESCRIBE natively but has no ``information_schema.*``
tables, so a user's direct query (valid in the reference) would fail
to resolve.

``ADTContext.sql`` intercepts any statement referencing
``information_schema.<table>``: the catalog state is snapshotted into
flat temp views (``information_schema_columns`` …) and the qualified
names are rewritten — snapshot-per-statement, the same pattern as the
jar-free ``delta.`` URL-table rewrite.

Schema parity (DataFusion datafusion/core/src/catalog/information_schema.rs):

- ``tables``:   table_catalog, table_schema, table_name, table_type
- ``views``:    table_catalog, table_schema, table_name, definition
- ``columns``:  table_catalog, table_schema, table_name, column_name,
                ordinal_position (0-based, as DataFusion emits),
                column_default, is_nullable (YES/NO), data_type
- ``schemata``: catalog_name, schema_name, …(owner/charset fields NULL)
- ``df_settings``: name, value — mapped to the Spark session confs
  (the engine's runtime settings surface)

``data_type`` uses Spark DDL type names (``bigint``, ``string``) —
this is a Spark engine; DataFusion emits Arrow names there
(``Int64``/``Utf8``) and a translation would serve nobody.
"""

from __future__ import annotations

import re

from pyspark.sql import SparkSession

from adt_spark.context import local_frame

_REF_RE = re.compile(r"\binformation_schema\s*\.\s*(\w+)", re.IGNORECASE)

_KNOWN = {"tables", "views", "columns", "schemata", "df_settings"}


def references_information_schema(sql: str) -> bool:
    return _REF_RE.search(sql) is not None


def _catalog_snapshot(spark: SparkSession):
    """(tables_rows, views_rows, columns_rows) from the live catalog."""
    tables_rows, views_rows, columns_rows = [], [], []
    for t in spark.catalog.listTables():
        if t.name.startswith("information_schema_"):
            # a previous query's snapshot views must not appear in the
            # next snapshot (the count would grow by 5 per query)
            continue
        schema = t.namespace[0] if t.namespace else "default"
        if t.isTemporary:
            # DataFusion registers CLI tables in catalog "datafusion",
            # schema "public"; Spark temp views are session-scoped.
            catalog, schema = "spark_catalog", "session"
        else:
            catalog = t.catalog or "spark_catalog"
        ttype = "VIEW" if (t.tableType or "").upper() in ("VIEW", "TEMPORARY") or t.isTemporary else "BASE TABLE"
        tables_rows.append((catalog, schema, t.name, ttype))
        if ttype == "VIEW":
            views_rows.append((catalog, schema, t.name, None))
        try:
            cols = spark.catalog.listColumns(t.name)
        except Exception:
            continue
        for i, c in enumerate(cols):
            columns_rows.append(
                (
                    catalog,
                    schema,
                    t.name,
                    c.name,
                    i,
                    None,
                    "YES" if c.nullable else "NO",
                    c.dataType,
                )
            )
    return tables_rows, views_rows, columns_rows


def materialize_information_schema(spark: SparkSession) -> None:
    tables_rows, views_rows, columns_rows = _catalog_snapshot(spark)
    local_frame(
        spark,
        tables_rows,
        "table_catalog string, table_schema string, table_name string, table_type string",
    ).createOrReplaceTempView("information_schema_tables")
    local_frame(
        spark,
        views_rows,
        "table_catalog string, table_schema string, table_name string, definition string",
    ).createOrReplaceTempView("information_schema_views")
    local_frame(
        spark,
        columns_rows,
        "table_catalog string, table_schema string, table_name string, "
        "column_name string, ordinal_position bigint, column_default string, "
        "is_nullable string, data_type string",
    ).createOrReplaceTempView("information_schema_columns")
    local_frame(
        spark,
        [
            (getattr(d, "catalog", None) or "spark_catalog", d.name)
            for d in spark.catalog.listDatabases()
        ],
        "catalog_name string, schema_name string",
    ).createOrReplaceTempView("information_schema_schemata")
    # runtime conf wins deterministically over the static SparkConf
    # (dropDuplicates picks an arbitrary survivor when they disagree)
    settings = dict(spark.sparkContext.getConf().getAll())
    settings["spark.sql.shuffle.partitions"] = spark.conf.get(
        "spark.sql.shuffle.partitions"
    )
    local_frame(
        spark, sorted(settings.items()), "name string, value string"
    ).createOrReplaceTempView("information_schema_df_settings")


def rewrite_information_schema(spark: SparkSession, sql: str) -> str:
    """Materialize the snapshot views and rewrite qualified names."""
    materialize_information_schema(spark)

    def _sub(m: re.Match) -> str:
        name = m.group(1).lower()
        if name not in _KNOWN:
            raise ValueError(
                f"unknown information_schema table {name!r}; "
                f"expected one of {sorted(_KNOWN)}"
            )
        return f"information_schema_{name}"

    return _REF_RE.sub(_sub, sql)
