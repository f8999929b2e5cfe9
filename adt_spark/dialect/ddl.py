"""``CREATE EXTERNAL TABLE`` DDL — the reference's primary table DDL.

The reference CLI templates exactly this statement for every ``view`` /
``schema`` invocation (crates/cli/src/main.rs:54-67)::

    create external table tbl
    stored as {fmt}
    [partitioned by (cols)]
    location '{uri}'

and any ``execute`` script from the adt world may contain the fuller
DataFusion grammar (crates/providers/src/listing.rs:50-158)::

    CREATE [UNBOUNDED] EXTERNAL TABLE [IF NOT EXISTS] name
    [(col type, ...)]
    STORED AS fmt
    [WITH HEADER ROW]
    [WITH ORDER (col [ASC|DESC], ...)]
    [DELIMITER 'c']
    [COMPRESSION TYPE gzip|...]
    [PARTITIONED BY (col, ...)]
    [OPTIONS ('k' 'v', ...)]
    LOCATION 'path'

Spark's parser rejects ``STORED AS`` + ``LOCATION`` without Hive
support, so ``ADTContext.sql`` intercepts the statement here and routes
it to the listing-table factory (sources/registry.py::register_table),
the same way COPY is intercepted for sinks.

``WITH ORDER`` (listing.rs:127-149 ``with_file_sort_order``) declares
the files' sort order so the engine may elide sorts.  The declared
order is recorded in :data:`DECLARED_ORDERS` and applied as a
read-contract: the registered view is wrapped in
``sortWithinPartitions`` so downstream same-key per-partition sorts
are elided without a shuffle.  (Honest cost note: Spark has no
listing-table sort metadata, so the wrapper IS a real per-partition
SortExec — cheap on already-sorted input but not free; the zero-cost
scale path for declared order is bucketed+sorted catalog tables,
sources/sinks.py::write_bucketed.)
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from adt_spark.context import local_frame, read_parquet
from adt_spark.dialect.sqltext import _comma_spans, _mask_literals

#: table name -> list of (column, ascending) declared via WITH ORDER.
DECLARED_ORDERS: dict[str, list[tuple[str, bool]]] = {}

_CREATE_RE = re.compile(
    r"^\s*create\s+(?P<unbounded>unbounded\s+)?external\s+table\s+"
    r"(?P<ine>if\s+not\s+exists\s+)?"
    r"(?P<name>\"[^\"]+\"|`[^`]+`|[A-Za-z_][\w.]*)"
    r"(?P<body>.*)$",
    re.IGNORECASE | re.DOTALL,
)

#: DataFusion type name -> Spark DDL type (identical names pass through)
_TYPE_MAP = {
    "int": "INT",
    "integer": "INT",
    "unsigned": "BIGINT",
    "text": "STRING",
    "varchar": "STRING",
    "char": "STRING",
    "string": "STRING",
    "real": "FLOAT",
    "double": "DOUBLE",
    "bytea": "BINARY",
}


def is_create_external_table(sql: str) -> bool:
    return _CREATE_RE.match(sql) is not None


def _unquote(ident: str) -> str:
    if ident[:1] in "\"`" and ident[-1:] == ident[:1]:
        return ident[1:-1]
    return ident


def _map_type(df_type: str) -> str:
    base = df_type.strip()
    m = re.match(r"^([A-Za-z ]+)(\(.*\))?$", base)
    if not m:
        return base
    name, params = m.group(1).strip().lower(), m.group(2) or ""
    return _TYPE_MAP.get(name, name.upper()) + params


def parse_create_external_table(sql: str) -> dict | None:
    """Parse the DDL into register_table arguments, or None if the
    statement is not a CREATE EXTERNAL TABLE."""
    sql = sql.strip().rstrip(";")
    m = _CREATE_RE.match(sql)
    if not m:
        return None
    body = m.group("body")
    spec: dict = {
        "name": _unquote(m.group("name")),
        # quoted identifiers are verbatim — a dot inside quotes is part
        # of the name, not catalog qualification
        "name_quoted": m.group("name")[:1] in ('"', "`"),
        "if_not_exists": bool(m.group("ine")),
        "unbounded": bool(m.group("unbounded")),
        "schema": None,
        "partition_cols": None,
        "options": {},
        "order": None,
    }

    loc = re.search(r"location\s+'([^']+)'", body, re.IGNORECASE)
    if not loc:
        raise ValueError(
            "CREATE EXTERNAL TABLE requires LOCATION '<path>' "
            "(reference: crates/cli/src/main.rs:54-67)"
        )
    spec["location"] = loc.group(1)

    stored = re.search(r"stored\s+as\s+([A-Za-z0-9_]+)", body, re.IGNORECASE)
    if not stored:
        raise ValueError("CREATE EXTERNAL TABLE requires STORED AS <format>")
    spec["fmt"] = stored.group(1).lower()

    # optional (col type, ...) schema — everything before STORED AS
    head = body[: stored.start()].strip()
    cols_m = re.match(r"^\((?P<cols>.*)\)\s*$", head, re.DOTALL)
    if cols_m:
        body_cols = cols_m.group("cols")
        cols = [body_cols[a:b] for a, b in _comma_spans(_mask_literals(body_cols))]
        if not cols[-1].strip():
            cols.pop()  # a trailing comma, or no columns at all
        fields = []
        for col in cols:
            parts = col.strip().split(None, 1)
            if len(parts) != 2:
                raise ValueError(f"bad column definition {col.strip()!r}")
            fields.append(f"{_unquote(parts[0])} {_map_type(parts[1])}")
        spec["schema"] = ", ".join(fields)

    part = re.search(r"partitioned\s+by\s*\(([^)]*)\)", body, re.IGNORECASE)
    if part:
        spec["partition_cols"] = [
            _unquote(c.strip()) for c in part.group(1).split(",") if c.strip()
        ]

    if re.search(r"with\s+header\s+row", body, re.IGNORECASE):
        spec["options"]["header"] = "true"
    delim = re.search(r"delimiter\s+'(.)'", body, re.IGNORECASE)
    if delim:
        spec["options"]["sep"] = delim.group(1)
    comp = re.search(r"compression\s+type\s+([A-Za-z0-9]+)", body, re.IGNORECASE)
    if comp:
        # Spark auto-detects codecs from file extension (A3); record
        # the declared codec for text sources that need it explicit.
        spec["options"]["compression"] = comp.group(1).lower()

    order = re.search(r"with\s+order\s*\(([^)]*)\)", body, re.IGNORECASE)
    if order:
        sort_cols = []
        for item in order.group(1).split(","):
            toks = item.strip().split()
            if not toks:
                continue
            asc = True
            if len(toks) > 1 and toks[-1].lower() in ("asc", "desc"):
                asc = toks[-1].lower() == "asc"
            sort_cols.append((_unquote(toks[0]), asc))
        spec["order"] = sort_cols

    opts = re.search(r"options\s*\((.*?)\)", body, re.IGNORECASE | re.DOTALL)
    if opts:
        for km, vm in re.findall(r"'([^']*)'\s+'([^']*)'", opts.group(1)):
            spec["options"][km] = vm

    return spec


def execute_create_external_table(spark: SparkSession, sql: str) -> DataFrame:
    """Parse + register; returns an empty DataFrame (DataFusion's DDL
    result is an empty record batch, main.rs's ``execute(.., false)``
    never shows it)."""
    from adt_spark.sources.registry import register_table

    spec = parse_create_external_table(sql)
    assert spec is not None
    # Catalog-qualified names (datafusion.public.t) register under the
    # last component: Spark temp views are single-part (the reference's
    # grammar allows qualification but its CLI never emits it).  A
    # QUOTED name is a single verbatim identifier — `"a.b"` registers
    # as a.b, never truncated to b.
    if not spec.get("name_quoted"):
        spec["name"] = spec["name"].rsplit(".", 1)[-1]
    if spec["if_not_exists"] and spec["name"] in [
        t.name for t in spark.catalog.listTables()
    ]:
        return local_frame(spark, [], "result string")
    if spec["unbounded"]:
        _register_unbounded(spark, spec)
        return local_frame(spark, [], "result string")
    df = register_table(
        spark,
        spec["name"],
        spec["location"],
        spec["fmt"],
        partition_cols=spec["partition_cols"],
        schema=spec["schema"],
        options=spec["options"] or None,
    )
    if spec["order"]:
        for colname, _asc in spec["order"]:
            if colname not in df.columns:
                raise ValueError(
                    f"Column {colname} is not in schema"  # listing.rs:139
                )
        DECLARED_ORDERS[spec["name"]] = spec["order"]
        from pyspark.sql import functions as F

        sort_exprs = [
            F.col(c).asc() if asc else F.col(c).desc()
            for c, asc in spec["order"]
        ]
        # Read-contract: files are already sorted per the declaration,
        # so sortWithinPartitions is a streaming pass-through at scan
        # and lets Catalyst elide matching downstream per-partition
        # sorts (the Spark analog of with_file_sort_order).
        df.sortWithinPartitions(*sort_exprs).createOrReplaceTempView(spec["name"])
    return local_frame(spark, [], "result string")


#: formats Spark's file-stream source supports (the others are
#: custom readers without a streaming source implementation here).
_STREAMABLE = {"parquet", "csv", "json", "ndjson", "orc"}


def _register_unbounded(spark: SparkSession, spec: dict) -> None:
    """``CREATE UNBOUNDED EXTERNAL TABLE`` → Structured Streaming
    source (DataFusion's unbounded listing tables, listing.rs:50-158
    grammar flag, mapped to Spark's file-stream source: new files
    appearing under LOCATION become new rows of the stream).

    File streams need a declared schema; when the DDL omits the
    ``(col type, …)`` list, it is inferred ONCE from the files already
    present (driver-side batch read of the current listing — the same
    inference a bounded registration would do), then pinned for the
    stream's lifetime.
    """
    from adt_spark.sources.registry import _FORMATS, UnsupportedFormatError

    fmt = spec["fmt"]
    if fmt not in _STREAMABLE:
        raise UnsupportedFormatError(
            f"UNBOUNDED external tables support {sorted(_STREAMABLE)}; "
            f"{fmt!r} has no streaming source here"
        )
    conf = _FORMATS[fmt]
    options = {**conf["options"], **(spec["options"] or {})}
    schema = spec["schema"]
    if schema is None and conf["format"] == "parquet" and not options:
        schema = read_parquet(spark, spec["location"]).schema
    elif schema is None:
        reader = spark.read.format(conf["format"])
        for k, v in options.items():
            reader = reader.option(k, v)
        schema = reader.load(spec["location"]).schema
    stream = spark.readStream.format(conf["format"])
    for k, v in options.items():
        stream = stream.option(k, v)
    stream.schema(schema).load(spec["location"]).createOrReplaceTempView(spec["name"])
