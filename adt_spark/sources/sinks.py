"""Write path — the sink surface the reference exposes through
DataFusion 48's unrestricted SQL entry point (SURVEY.md §2.B "Sinks":
``COPY (SELECT…) TO 'file' [options]``, ``INSERT INTO`` external
tables, ``CREATE TABLE AS SELECT``; enabling evidence
crates/core/src/context.rs:94 ``SQLOptions::new()`` permits DML/DDL,
raw SQL pass-through crates/cli/src/main.rs:116).

Spark SQL natively parses INSERT INTO and CTAS; the one construct it
does not parse is DataFusion's ``COPY`` statement, handled here:

    COPY (SELECT …) TO 'path' [STORED AS fmt] [PARTITIONED BY (c,…)]
                              [OPTIONS (k v, …)]
    COPY table_name TO 'path' …

Differences from the reference, by design (Spark execution model):

- The target is a **directory of part files**, not a single file —
  every executor writes its partition in parallel (the only write
  shape that scales to 100 TB; a single-file sink would serialize the
  job through one task).  Readers (`spark.read.<fmt>(path)`) treat
  the directory transparently.
- ``PARTITIONED BY`` produces a hive layout (`col=value/` dirs) via
  ``DataFrameWriter.partitionBy`` — the write-side analog of the
  partition discovery in listing.rs:67-120.

Like DataFusion's COPY, the statement returns a single row with the
count of rows written.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession

from adt_spark.context import local_frame
from adt_spark.dialect.sqltext import _comma_spans, _mask_literals, _match_paren

#: sink format name → (spark write format, default options)
_WRITE_FORMATS = {
    "parquet": ("parquet", {}),
    "csv": ("csv", {"header": "true"}),
    "json": ("json", {}),
    "ndjson": ("json", {}),
    # ORC: Spark-native columnar format (beyond the reference surface).
    "orc": ("orc", {}),
    # Delta sink: delta-spark when the jars are present, else the
    # native protocol writer (delta_native_write) — mirrors the
    # reader's two-path selection (delta.py).
    "delta": ("delta", {}),
    "deltatable": ("delta", {}),
    # Arrow IPC: executor-side per-partition writer (arrow_ipc.py) —
    # the reference registers ARROW read-only; the writer completes
    # the round-trip.
    "arrow": ("arrow", {}),
    # Avro: spark-avro when jars are present, else the native
    # container writer (avro_native.py) — the format the reference
    # registers but cannot execute (no avro crate compiled).
    "avro": ("avro_native", {}),
}

_COPY_HEAD = re.compile(r"^\s*COPY\b", re.IGNORECASE)
_COPY_TAIL = re.compile(
    r"\s+TO\s+'(?P<path>[^']+)'"
    r"(?:\s+STORED\s+AS\s+(?P<fmt>\w+))?"
    r"(?:\s+PARTITIONED\s+BY\s+\((?P<parts>[^)]*)\))?"
    r"(?:\s+OPTIONS\s*\((?P<opts>.*)\))?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def is_copy_statement(sql: str) -> bool:
    return bool(_COPY_HEAD.match(sql))


def _split_source(sql: str) -> tuple[str, str]:
    """Split ``COPY <source> TO …`` into (source, tail).  The source is
    either a balanced-paren ``(query)`` or a bare table name."""
    m = _COPY_HEAD.match(sql)
    rest = sql[m.end():].lstrip()
    if rest.startswith("("):
        # a paren inside a literal or a comment never closes the query
        try:
            close = _match_paren(_mask_literals(rest), 0)
        except NotImplementedError:
            raise ValueError("unbalanced parentheses in COPY source query") from None
        return rest[1:close], rest[close + 1:]
    # bare table name: first whitespace-delimited token
    token = rest.split(None, 1)
    if len(token) != 2:
        raise ValueError(f"malformed COPY statement: {sql!r}")
    return f"SELECT * FROM {token[0]}", " " + token[1]


def parse_copy(sql: str) -> dict:
    """Parse a COPY statement into {query, path, fmt, partition_by,
    options}.  Format resolution mirrors DataFusion: explicit
    ``STORED AS`` wins, else the path extension, else parquet."""
    source, tail = _split_source(sql)
    m = _COPY_TAIL.match(tail)
    if not m:
        raise ValueError(f"malformed COPY statement tail: {tail!r}")
    path = m.group("path")
    fmt = (m.group("fmt") or "").lower()
    if not fmt:
        ext = path.rsplit(".", 1)[-1].lower() if "." in path.rsplit("/", 1)[-1] else ""
        fmt = ext if ext in _WRITE_FORMATS else "parquet"
    if fmt not in _WRITE_FORMATS:
        raise ValueError(
            f"unsupported COPY format {fmt!r}; expected one of {sorted(_WRITE_FORMATS)}"
        )
    parts = [c.strip() for c in (m.group("parts") or "").split(",") if c.strip()]
    options: dict[str, str] = {}
    opts = m.group("opts") or ""
    for a, b in _comma_spans(_mask_literals(opts)):
        pair = opts[a:b].strip()
        if not pair:
            continue
        kv = pair.split(None, 1)
        if len(kv) != 2:
            raise ValueError(f"malformed COPY option {pair!r} (expected: key 'value')")
        options[kv[0].strip("'\"")] = kv[1].strip().strip("'\"")
    return {
        "query": source.strip(),
        "path": path,
        "fmt": fmt,
        "partition_by": parts,
        "options": options,
    }


def write_dataframe(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    options: dict[str, str] | None = None,
) -> None:
    """``DataFrameWriter`` wrapper used by COPY and available directly.

    Parallel, partition-per-task writes; ``partitionBy`` emits a hive
    layout readable by the listing side (sources/registry.py).

    ``s3://`` targets (non-Delta) write jar-free through the boto3
    gateway — mode semantics map to object-store operations
    (overwrite = delete-prefix + upload; append = upload fresh part
    names; error/ignore probe the prefix).  Parquet — flat or hive
    ``partitionBy`` layout — uploads from the EXECUTORS
    (``upload_dataframe_parquet`` — genuinely distributed, no driver
    staging; opt out with ``ADT_S3_EXECUTOR_UPLOAD=0``); every other
    format (or parquet with writer options) stages
    locally with the same writer logic and uploads the tree under
    the ``ADT_S3_UPLOAD_LIMIT`` driver byte budget — that staged
    path is local-mode/shared-FS metadata-scale only; multi-node
    bulk writes belong on s3a:// (hadoop-aws jars).  Delta targets
    route to the native writer, which speaks s3 itself.
    """
    import os as _os

    spark_fmt, defaults = _WRITE_FORMATS.get(fmt, (fmt, {}))
    if path.startswith("s3://") and spark_fmt != "delta":
        import shutil
        import tempfile

        from adt_spark.sources import s3_store

        existing = s3_store.list_prefix(path)
        if existing:
            if mode in ("error", "errorifexists"):
                raise ValueError(f"target already exists at {path}")
            if mode == "ignore":
                return
        if (
            spark_fmt == "parquet"
            and not options
            and _os.environ.get("ADT_S3_EXECUTOR_UPLOAD", "1") != "0"
        ):
            if mode == "overwrite" and existing:
                s3_store.delete_prefix(path)
            s3_store.upload_dataframe_parquet(
                df, path, partition_by=partition_by
            )
            return
        staging = tempfile.mkdtemp(prefix="adt-s3-sink-")
        try:
            write_dataframe(
                df,
                staging,
                fmt=fmt,
                mode="overwrite",
                partition_by=partition_by,
                options=options,
            )
            if mode == "overwrite" and existing:
                s3_store.delete_prefix(path)
            s3_store.upload_tree(staging, path)
        finally:
            shutil.rmtree(staging, ignore_errors=True)
        return
    if spark_fmt == "arrow":
        from adt_spark.sources.arrow_ipc import write_arrow_ipc

        if partition_by:
            raise ValueError("PARTITIONED BY is not supported for ARROW sinks")
        write_arrow_ipc(df, path, mode=mode)
        return
    if spark_fmt == "avro_native":
        if partition_by:
            raise ValueError("PARTITIONED BY is not supported for AVRO sinks")
        # choose the writer by AVAILABILITY, not by catching failures:
        # a bare except here would swallow real spark-avro write
        # errors and silently re-execute the whole query through the
        # Python writer
        if _spark_avro_available(df.sparkSession):
            writer = df.write.format("avro").mode(mode)
            for k, v in (options or {}).items():
                writer = writer.option(k, v)
            writer.save(path)
        else:
            from adt_spark.sources.avro_native import write_avro_native

            write_avro_native(df, path, mode=mode)
        return
    if spark_fmt == "delta":
        from adt_spark.sources.delta import delta_available

        if not delta_available(df.sparkSession):
            import os as _os

            from adt_spark.sources.delta_native_write import write_delta_native

            if path.startswith("s3://"):
                from adt_spark.sources import s3_store

                exists = bool(
                    s3_store.list_prefix(path.rstrip("/") + "/_delta_log")
                )
            else:
                exists = _os.path.isdir(_os.path.join(path, "_delta_log"))
            if mode in ("error", "errorifexists") and exists:
                raise ValueError(f"delta table already exists at {path}")
            if mode == "ignore" and exists:
                return
            write_delta_native(
                df,
                path,
                mode="overwrite" if mode == "overwrite" else "append",
                partition_by=partition_by,
            )
            return
    writer = df.write.format(spark_fmt).mode(mode)
    for k, v in {**defaults, **(options or {})}.items():
        writer = writer.option(k, v)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def _spark_avro_available(spark) -> bool:
    """True when the 'avro' data source actually resolves (probe
    Spark's own DataSource.lookupDataSource — Class.forName is NOT a
    valid proxy: pyspark ships some avro classes without the data
    source service registration); never probe by trial write."""
    try:
        spark._jvm.org.apache.spark.sql.execution.datasources.DataSource.lookupDataSource(
            "avro", spark._jsparkSession.sessionState().conf()
        )
        return True
    except Exception:
        return False


def execute_copy(spark: SparkSession, sql: str, run_query) -> DataFrame:
    """Execute a COPY statement; returns a 1-row ``count`` DataFrame
    (DataFusion's COPY result shape).  ``run_query`` is the dialect-
    translating SQL runner (ADTContext.sql) so the inner query gets
    the same treatment as any other statement.
    """
    spec = parse_copy(sql)
    df = run_query(spec["query"])
    # Count via the write itself, not a separate action: cache the
    # input once so the count does not re-run the (possibly expensive)
    # query plan twice.
    df = df.cache()
    try:
        n = df.count()
        write_dataframe(
            df,
            spec["path"],
            spec["fmt"],
            partition_by=spec["partition_by"],
            options=spec["options"],
        )
    finally:
        df.unpersist()
    return local_frame(spark, [(n,)], "count bigint")


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Bucketed managed-table sink — the co-located-join lever at
    100 TB scale.

    Two tables bucketed by the same key into the same bucket count
    hash-join WITHOUT a shuffle exchange on either side: the bucket
    layout *is* the required hash partitioning, so a fact⋈fact join
    (the only join class that shuffles in this engine; every dimension
    join broadcasts) degenerates to a per-bucket local join.  With
    ``sort_cols`` the buckets are also sort-merged without a sort.

    The reference's analog is ``WITH ORDER`` + hive partitioning on
    the listing factory (listing.rs:127-149 — declared file order so
    DataFusion can elide sorts); Spark's bucketing is the stronger
    contract (hash distribution + order), but only through the catalog
    (``saveAsTable``) — plain ``save(path)`` cannot record bucket
    metadata, which is why this helper takes a table name.

    Read-side sort elision requires two things at scan time
    (demonstrated in tests/test_sinks.py::
    test_bucketed_sorted_join_eliminates_sort): ONE file per bucket
    (compact first — multi-file buckets interleave rows, SPARK-24528)
    and ``spark.sql.legacy.bucketedTableScan.outputOrdering=true``
    (Spark hides scan ordering by default, SPARK-28595).  With both,
    a same-key sort-merge join plans with no Exchange AND no Sort.
    """
    writer = (
        df.write.mode(mode)
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def compact_files(
    spark: SparkSession,
    src: str,
    dst: str,
    fmt: str = "parquet",
    target_mb: int = 128,
) -> int:
    """Small-files compaction: rewrite a directory of many small files
    into size-targeted output files (~``target_mb`` each).  Returns the
    output file count.

    The small-files problem is the classic failure mode of streaming /
    per-batch ingestion at scale (every micro-batch leaves a file per
    partition; a year later the table has 10⁷ files and planning time
    dwarfs scan time).  Compaction = read → repartition to
    ceil(bytes / target) → rewrite.  Sizing uses the *input* byte
    count from the file listing — metadata only, no data pass — and
    ``repartition`` (round-robin) rather than ``coalesce`` so output
    files are uniform even when input files are skewed.
    """
    import math
    import os

    base = src.removeprefix("file://")
    total = 0
    for root, _, files in os.walk(base):
        for f in files:
            if not f.startswith(("_", ".")):
                total += os.path.getsize(os.path.join(root, f))
    n_out = max(1, math.ceil(total / (target_mb * 1024 * 1024)))
    # registry name → actual Spark data-source name ('ndjson' is a
    # registry alias for the json source; Spark has no such format)
    spark_fmt, defaults = _WRITE_FORMATS.get(fmt, (fmt, {}))
    reader = spark.read.format(spark_fmt)
    for k, v in defaults.items():
        reader = reader.option(k, v)
    df = reader.load(src)
    write_dataframe(df.repartition(n_out), dst, fmt=fmt, mode="overwrite")
    out_base = dst.removeprefix("file://")
    # count the writer's part files (their extension follows the SPARK
    # format name, e.g. .json for ndjson), not the registry name
    return sum(
        1
        for root, _, files in os.walk(out_base)
        for f in files
        if f.startswith("part-") and not f.endswith(".crc")
    )
