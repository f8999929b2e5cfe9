"""Native Delta Lake writer — pure PySpark over the public Delta
transaction-log protocol (delta.io PROTOCOL.md), the sink-side
complement of ``delta_native.py``'s reader.

The reference's write surface is DataFusion's unrestricted SQL entry
point + the deltalake crate's table factory (SURVEY.md §2.A A5,
§2.B "Sinks"); this module re-expresses it Spark-first:

- **Data files** are written by a normal distributed
  ``df.write.parquet`` into a staging directory — every executor
  writes its partition in parallel (the only shape that scales) —
  then moved into the table root (or ``col=value/`` partition dirs)
  under fresh UUID names.
- **The commit** is a single driver-side ``_delta_log/N.json`` write:
  ``commitInfo`` + (on create/overwrite) ``protocol`` + ``metaData``
  + one ``add`` per data file (path, partitionValues, size,
  numRecords stats), with ``remove`` actions for every prior file on
  overwrite.  Delta's ``schemaString`` IS Spark's ``StructType``
  JSON, so the schema round-trips with zero mapping code
  (SURVEY.md §1.2).
- **Atomicity**: local commits hard-link a temp file into place
  (EEXIST detects the losing racer); URL-scheme commits use a
  create-exclusive Hadoop-FS write — atomic on HDFS/local mounts,
  check-then-write on plain S3A, where a real deployment adds a
  conditional-put/commit-coordinator (same caveat as delta-rs
  standalone writers).  The log format written here is
  byte-compatible either way.
- **Object-store capable end to end**: every operation — create /
  append / overwrite, DELETE / UPDATE / MERGE (copy-on-write and
  deletion-vector routes), OPTIMIZE [ZORDER], constraints,
  TBLPROPERTIES, RESTORE, VACUUM, CONVERT, SHALLOW CLONE, and
  checkpoints — runs against URL-scheme locations through the Hadoop
  FileSystem (tests drive a ``viewfs://`` mount; the same resolution
  path serves ``s3a://``).

Read-back path: ``delta_native.read_delta_native`` (or delta-spark /
any Delta reader — only protocol v1 features are emitted:
minReaderVersion=1, minWriterVersion=2).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
import time
import uuid

import pyarrow.parquet as pq

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from adt_spark.context import local_frame, read_parquet
from adt_spark.sources.delta_native import (
    _hadoop_fs,
    _is_url,
    _list_log,
    replay_snapshot,
)


class DeltaWriteError(RuntimeError):
    pass


# ---------------------------------------------------------------------------
# URL-scheme (object-store) IO — the Hadoop-FS seam
# ---------------------------------------------------------------------------
# The writer's driver-side filesystem work (log-dir create, staged-file
# listing/moves, footer reads for statistics, the conditional-put
# commit) goes through the Hadoop FileSystem API whenever the table
# location is a URL, so any scheme Spark's Hadoop conf resolves
# (s3a://, viewfs://, …) works end-to-end; bare paths keep the
# zero-dependency os.* fast path.  Atomicity note: fs.create(path,
# overwrite=false) is the conditional put — atomic on HDFS/local,
# check-then-write on plain S3A (same caveat as delta-rs standalone
# writers; a production S3 deployment wants a commit coordinator).


def _url_join(base: str, *parts: str) -> str:
    return "/".join([base.rstrip("/"), *[p.strip("/") for p in parts]])


def _fs_mkdirs(spark, url: str) -> None:
    from adt_spark.sources import s3_store

    if s3_store.is_native_s3(url):
        return  # object stores have no directories
    _jvm, p, fs = _hadoop_fs(spark, url)
    fs.mkdirs(p)


def _is_already_exists_error(exc: Exception) -> bool:
    """True when a Py4J exception wraps a Java file-already-exists
    class — matched by exception CLASS (walking the Java cause chain),
    not by message substring, so a racer's loss is detected reliably
    across Hadoop FS implementations and locales."""
    java_exc = getattr(exc, "java_exception", None)
    seen = 0
    while java_exc is not None and seen < 16:
        try:
            cls = java_exc.getClass().getName()
        except Exception:
            break
        if cls in (
            "org.apache.hadoop.fs.FileAlreadyExistsException",
            "java.nio.file.FileAlreadyExistsException",
            "java.io.FileAlreadyExistsException",
        ):
            return True
        try:
            java_exc = java_exc.getCause()
        except Exception:
            break
        seen += 1
    # last resort for FS impls that signal the race as a plain
    # IOException with only a message — "already exists" plus POSIX
    # EEXIST's "File exists", but NEVER the negated forms ("does not
    # exist", "doesn't exist", "no such file"): misclassifying a
    # missing-parent/storage error as a concurrent commit would retry
    # at version+1 forever with the root cause suppressed
    msg = str(exc).lower()
    if "not exist" in msg or "doesn't exist" in msg or "no such file" in msg:
        return False
    return "already exist" in msg or "file exists" in msg


def _fs_write_new(spark, url: str, payload: bytes) -> None:
    """Create-exclusive write: raises DeltaWriteError('concurrent
    commit …') when the target already exists."""
    jvm, p, fs = _hadoop_fs(spark, url)
    if fs.exists(p):
        raise DeltaWriteError(f"concurrent commit: {url} already exists")
    try:
        stream = fs.create(p, False)
    except Exception as exc:  # Py4JJavaError: FileAlreadyExists race
        if _is_already_exists_error(exc):
            raise DeltaWriteError(
                f"concurrent commit: {url} already exists"
            ) from None
        raise
    try:
        stream.write(payload)
    finally:
        stream.close()


def _fs_parquet_meta(spark, url: str):
    """Parquet FOOTER metadata of a remote file without fetching the
    data pages: read the 8-byte trailer for the footer length, then
    the footer itself, and hand pyarrow a tiny synthetic file
    (``PAR1 + footer + trailer``) whose tail offsets line up — the
    footer thrift is self-contained, so stats/num_rows parse exactly
    as from the full file."""
    import io

    jvm, p, fs = _hadoop_fs(spark, url)
    size = fs.getFileStatus(p).getLen()
    if size < 12:
        raise DeltaWriteError(f"not a parquet file (size {size}): {url}")
    stream = fs.open(p)
    try:
        stream.seek(size - 8)
        trailer = bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream, 8))
        flen = int.from_bytes(trailer[:4], "little")
        if trailer[4:] != b"PAR1" or flen > size - 12:
            raise DeltaWriteError(f"corrupt parquet footer: {url}")
        stream.seek(size - 8 - flen)
        footer = bytes(
            jvm.org.apache.commons.io.IOUtils.toByteArray(stream, flen + 8)
        )
    finally:
        stream.close()
    return pq.ParquetFile(io.BytesIO(b"PAR1" + footer)).metadata


def _json_stat(v):
    """A parquet-footer statistics value as a JSON-encodable Delta
    stats scalar (Delta PROTOCOL.md per-file statistics): dates and
    timestamps serialize ISO (ISO order == value order, so the
    reader's skipping comparisons stay correct); bytes are dropped
    (Delta omits binary stats)."""
    import datetime as _dt
    import decimal as _decimal

    if isinstance(v, bytes):
        return None
    if isinstance(v, _dt.datetime):
        return v.isoformat(sep="T", timespec="microseconds")
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, _decimal.Decimal):
        return str(v)
    if isinstance(v, (bool, int, float, str)):
        return v
    return None


def _file_stats(meta) -> str:
    """Full Delta per-file statistics JSON from a parquet footer:
    numRecords + per-column minValues/maxValues/nullCount aggregated
    across row groups.  The reference records no stats at all (its
    kernel scan callback receives and discards them,
    deltatable.rs:435); writing them enables the reader's log-level
    file skipping — at 100 TB the difference between opening every
    file and opening the few whose [min,max] intersect the predicate.

    Footer-only work: no data pages are read, and the writer already
    opens the footer for numRecords.  Truncated/partial statistics
    (has_min_max False) simply omit the column — skipping is
    conservative on missing stats.
    """
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    nulls: dict[str, int] = {}
    bad: set[str] = set()  # a row group without stats poisons the column
    for rg in range(meta.num_row_groups):
        row = meta.row_group(rg)
        for ci in range(row.num_columns):
            col = row.column(ci)
            name = col.path_in_schema
            if "." in name:  # nested leaves: Delta nests stats; skip here
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                bad.add(name)
                continue
            # aggregate RAW values (typed comparison — a Decimal must
            # not compare as its string form: '10.2' < '9.5' lexically,
            # which would record inverted bounds); JSON-encode only at
            # the end.
            lo, hi = st.min, st.max
            if isinstance(lo, bytes) or isinstance(hi, bytes):
                bad.add(name)
                continue
            if name not in mins or lo < mins[name]:
                mins[name] = lo
            if name not in maxs or hi > maxs[name]:
                maxs[name] = hi
            if st.has_null_count:
                nulls[name] = nulls.get(name, 0) + st.null_count
    for name in bad:
        mins.pop(name, None)
        maxs.pop(name, None)
        nulls.pop(name, None)
    mins = {k: e for k, v in mins.items() if (e := _json_stat(v)) is not None}
    maxs = {k: e for k, v in maxs.items() if (e := _json_stat(v)) is not None}
    common = set(mins) & set(maxs)
    mins = {k: v for k, v in mins.items() if k in common}
    maxs = {k: v for k, v in maxs.items() if k in common}
    nulls = {k: v for k, v in nulls.items() if k in common}
    stats: dict[str, object] = {"numRecords": meta.num_rows}
    if mins:
        stats["minValues"] = mins
        stats["maxValues"] = maxs
    if nulls:
        stats["nullCount"] = nulls
    return json.dumps(stats)


#: writer features this writer implements unconditionally; features
#: with conditional support (columnMapping, changeDataFeed,
#: checkConstraints, generatedColumns) are adjudicated per operation
#: in _check_writable.  Anything else aborts (Delta protocol: a writer
#: MUST NOT commit to a table whose writer requirements it does not
#: understand).
_SUPPORTED_WRITER_FEATURES = {
    "appendOnly",
    "invariants",
    "timestampNtz",
    # DV-aware: appends never touch DVs; DELETE writes them when
    # delta.enableDeletionVectors=true; rewriting DML on DV-bearing
    # files is refused per file (see delete_where/update_where/merge).
    "deletionVectors",
}


def _check_writable(snap, operation: str) -> None:
    """Writer-protocol gate, mirroring the reader-side DV guard.

    - Column-mapped tables (``delta.columnMapping.mode`` name/id):
      append/overwrite AND DML are supported for FLAT schemas — scans
      read under physical names and project to logical for the
      predicate; rewrites stage back under physical names (+ parquet
      field ids in id mode).  Nested mapped schemas are refused by
      ``_physical_projection`` (recursive renames — delta-spark
      territory).
    - CHECK constraints (``delta.constraints.*`` in table config) and
      column invariants (``delta.invariants`` field metadata) ARE
      enforced — every mutation path that introduces rows runs
      ``_enforce_constraints`` and aborts before committing when any
      incoming row violates one (protocol: writer version 3 /
      ``checkConstraints`` feature; invariants: writer version 2).
    - Generated columns (``delta.generationExpression`` in field
      metadata, protocol writer v4) follow delta-spark semantics:
      computed when the write omits the column, VALIDATED (null-safe
      equality against the expression) when the write provides it,
      recomputed for rows an UPDATE touches; assigning one directly
      is refused.
    - Change data feed: appends/overwrites are legal without
      ``_change_data`` files (CDC derives from dataChange add/remove
      of whole files); partial-file DML would require them — refused.
    - ``delta.appendOnly=true`` forbids operations that delete or
      rewrite data; metadata-only ``alter`` and dataChange=false
      ``optimize`` stay legal.
    - Unknown ``writerFeatures`` / ``minWriterVersion`` > 5 abort.
    """
    conf = snap.configuration or {}
    cdf_on = str(conf.get("delta.enableChangeDataFeed", "false")).lower() == "true"
    # optimize is dataChange=false (no CDC rows result from it);
    # alter is metadata-only (no data rows at all)
    if cdf_on and operation not in ("append", "overwrite", "optimize", "alter"):
        raise DeltaWriteError(
            f"{operation}: change data feed requires _change_data files for "
            "partial-file DML, which this writer does not produce"
        )
    proto = snap.protocol or {}
    v = proto.get("minWriterVersion", 2)
    features = set(proto.get("writerFeatures") or [])
    if v >= 7 or features:
        conditional_ok = {"columnMapping", "changeDataFeed", "checkConstraints",
                          "generatedColumns"}  # adjudicated above via conf/schema
        unsupported = features - _SUPPORTED_WRITER_FEATURES - conditional_ok
        if unsupported:
            raise DeltaWriteError(
                f"{operation}: table requires writer features "
                f"{sorted(unsupported)} this writer does not implement"
            )
    elif v > 5:
        raise DeltaWriteError(
            f"{operation}: table requires minWriterVersion={v} "
            "(this writer implements version <= 5 semantics)"
        )
    # the appendOnly FEATURE only obliges understanding the conf; the
    # conf itself is what forbids data-removing operations.  Metadata-
    # only ALTERs and dataChange=false OPTIMIZE rewrites never delete
    # rows, so they remain legal on append-only tables (delta-spark
    # behavior).
    append_only = str(conf.get("delta.appendOnly", "false")).lower() == "true"
    if append_only and operation not in ("append", "alter", "optimize"):
        raise DeltaWriteError(
            f"{operation}: table is delta.appendOnly=true — only appends allowed"
        )


def _table_constraints(snap) -> list[tuple[str, str]]:
    """All row-level predicates the table declares: CHECK constraints
    from ``delta.constraints.<name>`` table config (protocol writer
    v3 / ``checkConstraints`` feature) plus column invariants from
    ``delta.invariants`` field metadata (writer v2; JSON-wrapped SQL
    expression, delta PROTOCOL.md "Column Invariants")."""
    out: list[tuple[str, str]] = []
    for k, v in sorted((snap.configuration or {}).items()):
        if k.startswith("delta.constraints."):
            out.append((k[len("delta.constraints."):], v))
    for f in snap.schema.fields:
        inv = (f.metadata or {}).get("delta.invariants")
        if inv:
            try:
                expr = json.loads(inv)["expression"]["expression"]
            except (ValueError, KeyError, TypeError):
                raise DeltaWriteError(
                    f"column {f.name!r}: unparseable delta.invariants {inv!r}"
                ) from None
            out.append((f"invariant({f.name})", expr))
    return out


def _generated_fields(snap) -> list[tuple[str, str, T.DataType]]:
    """(name, generation expression, declared type) for every column
    carrying ``delta.generationExpression`` metadata (Delta protocol
    writer v4 'Generated Columns')."""
    out: list[tuple[str, str, T.DataType]] = []
    for f in snap.schema.fields:
        ge = (f.metadata or {}).get("delta.generationExpression")
        if ge:
            out.append((f.name, ge, f.dataType))
    return out


def _validate_generated(df: DataFrame, gens, operation: str) -> None:
    """delta-spark semantics: a write that PROVIDES a generated column
    must provide values equal to the generation expression (null-safe)
    on every row — one aggregate pass for all generated columns."""
    from pyspark.sql import functions as F

    gens = [g for g in gens if g[0] in df.columns]
    if not gens:
        return
    aggs = [
        F.sum(
            F.when(~F.col(name).eqNullSafe(F.expr(ge).cast(dt)), 1).otherwise(0)
        ).alias(f"g{i}")
        for i, (name, ge, dt) in enumerate(gens)
    ]
    row = df.agg(*aggs).collect()[0]
    for i, (name, ge, _dt) in enumerate(gens):
        n_bad = row[f"g{i}"] or 0
        if n_bad:
            raise DeltaWriteError(
                f"{operation}: {n_bad} row(s) provide generated column "
                f"{name!r} values that do not match its expression ({ge}) "
                "— omit the column to have it computed, or provide "
                "matching values"
            )


def _enforce_constraints(df: DataFrame, snap, operation: str) -> None:
    """Abort ``operation`` if any incoming row violates a declared
    CHECK constraint or column invariant.  SQL CHECK semantics: a row
    violates only when the predicate evaluates to FALSE (NULL passes).

    All predicates are checked in ONE aggregate pass over ``df``
    (a map-side-combined count per constraint — no shuffle of data
    rows), so enforcement costs a single scan of the incoming rows
    regardless of how many constraints the table declares.
    """
    from pyspark.sql import functions as F

    checks = _table_constraints(snap)
    if not checks:
        return
    aggs = [
        F.sum(
            F.when(~F.coalesce(F.expr(expr), F.lit(True)), 1).otherwise(0)
        ).alias(f"c{i}")
        for i, (_name, expr) in enumerate(checks)
    ]
    row = df.agg(*aggs).collect()[0]
    for i, (name, expr) in enumerate(checks):
        n_bad = row[f"c{i}"] or 0
        if n_bad:
            raise DeltaWriteError(
                f"{operation}: {n_bad} row(s) violate constraint "
                f"{name!r} CHECK ({expr}) — nothing committed"
            )


def _scan_abs(location: str, rels: list[str]) -> list[str]:
    """Log-relative paths → scannable absolute paths for a DML read:
    ``s3://`` tables materialize through the boto3 gateway cache
    (layout preserves the key tail, so ``_rel_from_uri``'s suffix
    match keeps working); every other scheme joins in place."""
    from adt_spark.sources import s3_store

    budget = [0]
    out = []
    for r in rels:
        # absolute URIs (shallow-clone references) keep their own
        # scheme; relative paths join the table location
        abs_p = (
            r
            if "://" in r or r.startswith("/")
            else (
                _url_join(location, r)
                if _is_url(location)
                else os.path.join(location, r)
            )
        )
        out.append(
            s3_store.materialize(abs_p, budget)
            if s3_store.is_native_s3(abs_p)
            else abs_p
        )
    return out


def _rel_from_uri(uri: str, snap_files) -> str:
    """Map an ``input_file_name()`` URI back to the log's relative
    path.  Spark URL-encodes the file URI (space, '%', '#', non-ASCII
    in partition values), so decode before suffix-matching; relative
    paths are unique because they include the partition dirs."""
    from urllib.parse import unquote, urlparse

    decoded = unquote(urlparse(uri).path)
    for p in snap_files:
        if decoded.endswith("/" + p) or decoded == p:
            return p
    raise DeltaWriteError(
        f"scanned file {uri!r} (decoded {decoded!r}) does not match any "
        "file in the Delta snapshot — log and directory out of sync?"
    )


def _log_path(location: str, version: int) -> str:
    if _is_url(location):
        return _url_join(location, "_delta_log", f"{version:020d}.json")
    return os.path.join(location, "_delta_log", f"{version:020d}.json")


def _atomic_write(path: str, lines: list[dict], spark=None) -> None:
    """Publish a commit atomically WITHOUT clobbering: temp file +
    ``os.link`` (hard link creation fails with EEXIST if the version
    already exists — unlike ``os.rename``, which silently replaces on
    POSIX, turning a commit race into lost writes).  This is the
    local-FS analog of the object-store conditional put; URL locations
    take the Hadoop-FS create-exclusive path (_fs_write_new)."""
    if _is_url(path):
        payload = "".join(
            json.dumps(a, separators=(",", ":")) + "\n" for a in lines
        ).encode()
        from adt_spark.sources import s3_store

        if s3_store.is_native_s3(path):
            # a REAL S3 conditional put (If-None-Match: *): the losing
            # racer's 412 IS the concurrent-commit detection — no lock
            # table needed (cf. delta-rs, which requires a DynamoDB
            # lock client for the same guarantee on S3)
            try:
                s3_store.put_bytes_if_absent(path, payload)
            except FileExistsError:
                raise DeltaWriteError(
                    f"concurrent commit: {path} already exists"
                ) from None
            return
        if spark is None:
            raise DeltaWriteError(
                f"committing to {path!r} requires an active SparkSession"
            )
        _fs_write_new(spark, path, payload)
        return
    tmp = path + f".tmp-{uuid.uuid4().hex}"
    with open(tmp, "w") as f:
        for action in lines:
            f.write(json.dumps(action, separators=(",", ":")) + "\n")
    try:
        os.link(tmp, path)
    except FileExistsError:
        raise DeltaWriteError(f"concurrent commit: {path} already exists") from None
    finally:
        os.remove(tmp)


def _commit(
    spark, location: str, version: int, ts: int, operation: str, params: dict,
    actions: list[dict],
) -> int:
    """THE commit builder: prepend the ``commitInfo`` to ``actions``
    and publish ``_delta_log/<version>.json`` atomically; returns
    ``version``."""
    info = {
        "commitInfo": {
            "timestamp": ts,
            "operation": operation,
            "operationParameters": params,
            "engineInfo": "adt-spark native delta writer",
        }
    }
    _atomic_write(_log_path(location, version), [info, *actions], spark)
    return version


def _add(
    path: str, pvals: dict, size: int, ts: int, data_change: bool = True,
    stats: str | None = None, dv: dict | None = None,
) -> dict:
    """An ``add`` action (``stats`` and the deletion vector when given)."""
    add = {
        "path": path,
        "partitionValues": pvals,
        "size": size,
        "modificationTime": ts,
        "dataChange": data_change,
    }
    if stats:
        add["stats"] = stats
    if dv is not None:
        add["deletionVector"] = dv
    return {"add": add}


def _remove(rel: str, pvals: dict, ts: int, data_change: bool = True) -> dict:
    """A ``remove`` action (the tombstone VACUUM later reclaims)."""
    return {
        "remove": {
            "path": rel,
            "deletionTimestamp": ts,
            "dataChange": data_change,
            "partitionValues": pvals,
        }
    }


def _metadata(
    schema: T.StructType, partition_columns: list[str], configuration: dict,
    ts: int, table_id: str | None = None,
) -> dict:
    """A ``metaData`` action; a new table id unless ``table_id``."""
    return {
        "metaData": {
            "id": table_id or str(uuid.uuid4()),
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema.json(),
            "partitionColumns": partition_columns,
            "configuration": configuration,
            "createdTime": ts,
        }
    }


def _dv_enabled(configuration: dict | None) -> bool:
    """Whether a table configuration turns deletion vectors on."""
    return (
        str((configuration or {}).get("delta.enableDeletionVectors", "false")).lower()
        == "true"
    )


#: characters Hive/Spark escape in partition directory names
#: (ExternalCatalogUtils.escapePathName char set + control chars)
_HIVE_ESCAPE_CHARS = set('"#%\'*/:=?\\{[]^') | {chr(c) for c in range(0x20)} | {chr(0x7F)}


def _hive_escape(value: str) -> str:
    return "".join(
        f"%{ord(c):02X}" if c in _HIVE_ESCAPE_CHARS else c for c in value
    )


def _hive_unescape(value: str) -> str:
    import re as _re

    return _re.sub("%([0-9A-Fa-f]{2})", lambda m: chr(int(m.group(1), 16)), value)


def _rel_dirname(pvals: dict, order: list[str] | None = None) -> str:
    """RAW partition values → hive-escaped on-disk/log directory path
    (Delta spec: ``add.path`` is the escaped file path,
    ``add.partitionValues`` holds the unescaped values)."""
    cols = order if order is not None else list(pvals)
    return "/".join(
        f"{c}={_hive_escape(pvals[c]) if pvals[c] is not None else '__HIVE_DEFAULT_PARTITION__'}"
        for c in cols
    )


def _pvals_from_segments(segs: list[str]) -> dict[str, str | None]:
    """``col=value`` directory segments → RAW partitionValues.

    Spark's partitioned write hive-escapes special characters in the
    directory names (``p=x%25y`` for value ``x%y``); the log's
    ``partitionValues`` must carry the unescaped value.  Segments
    without ``=`` name no partition and are skipped.
    """
    pvals: dict[str, str | None] = {}
    for seg in segs:
        k, eq, v = seg.partition("=")
        if eq:
            # hive-encoded nulls arrive as __HIVE_DEFAULT_PARTITION__
            pvals[k] = None if v == "__HIVE_DEFAULT_PARTITION__" else _hive_unescape(v)
    return pvals


def _type_no_meta(dt):
    """``dt`` with every nested StructField's metadata dropped —
    metadata-insensitive but NULLABILITY-SENSITIVE type equality for
    the same-name write guard (column-mapped tables carry mapping
    metadata on nested fields; nullability is a real contract)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.StructType):
        return T.StructType(
            [
                T.StructField(f.name, _type_no_meta(f.dataType), f.nullable)
                for f in dt.fields
            ]
        )
    if isinstance(dt, T.ArrayType):
        return T.ArrayType(_type_no_meta(dt.elementType), dt.containsNull)
    if isinstance(dt, T.MapType):
        return T.MapType(
            _type_no_meta(dt.keyType),
            _type_no_meta(dt.valueType),
            dt.valueContainsNull,
        )
    return dt


def _physical_projection(snap):
    """Column-mapping helpers — NESTED schemas included (round-6
    verdict item 3 closed the last delta-spark-only refusal): nested
    physical↔logical renames are positional struct casts in both
    directions, the same recipe the reader's ``to_logical`` has always
    used (``delta_native.read_delta_native``), built from the
    reader's own recursive ``_physical_field`` so writer and reader
    can never disagree on a physical schema.

    - ``phys_of``: top-level logical name → physical name (partition
      values and stats keys — Delta partition columns are never
      nested)
    - ``data_read_schema``: the DATA columns under physical names,
      recursively renamed (+ ``parquet.field.id`` metadata at every
      nesting level in id mode — Spark's parquet writer emits ids
      from schema metadata when fieldId.write is on, its default)
    - ``to_logical(df)``: physical-name scan → logical names
      (positional cast renames nested fields; alias the top level)
    - ``to_physical(df)``: logical DataFrame → physical names + field
      id metadata, ready for staging (the exact inverse cast)
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from adt_spark.sources.delta_native import _physical_field

    with_ids = snap.column_mapping_mode == "id"
    part_cols = snap.partition_columns
    phys_of: dict[str, str] = {}
    phys_field_of: dict[str, T.StructField] = {}
    logical_field_of: dict[str, T.StructField] = {}
    data_fields_phys: list[T.StructField] = []
    for f in snap.schema.fields:
        pf = _physical_field(f, with_ids=with_ids)
        phys_of[f.name] = pf.name
        phys_field_of[f.name] = pf
        logical_field_of[f.name] = f
        if f.name not in part_cols:
            data_fields_phys.append(pf)
    logical_data = [f.name for f in snap.schema.fields if f.name not in part_cols]

    def to_logical(df: DataFrame, extra: tuple = ()) -> DataFrame:
        return df.select(
            *[
                F.col(phys_of[name])
                .cast(logical_field_of[name].dataType)
                .alias(name)
                for name in logical_data
            ],
            *[F.col(c) for c in extra],
        )

    def to_physical(df: DataFrame) -> DataFrame:
        # identity casts (flat leaves) are optimized away; nested
        # fields pick up their physical names (and id-mode
        # parquet.field.id metadata) from the cast's target type
        return df.select(
            *[
                F.col(name)
                .cast(phys_field_of[name].dataType)
                .alias(
                    phys_field_of[name].name,
                    metadata=phys_field_of[name].metadata or {},
                )
                for name in df.columns
            ]
        )

    return phys_of, T.StructType(data_fields_phys), to_logical, to_physical


def _data_fields(snap) -> list[T.StructField]:
    """The table's DATA fields: every column but the partition columns."""
    return [f for f in snap.schema.fields if f.name not in snap.partition_columns]


def _dml_projection(snap):
    """(read_schema, to_logical, to_physical) for a DML scan — the
    physical mapping for mapped tables, identity for direct-name
    tables (the common case keeps its exact round-1 plan)."""
    if snap.column_mapping_mode == "none":
        return T.StructType(_data_fields(snap)), (lambda df, extra=(): df), (lambda df: df)
    _phys_of, read_schema, to_logical, to_physical = _physical_projection(snap)
    return read_schema, to_logical, to_physical


def _physical_partition_columns(snap) -> list[str]:
    """The partition columns under their physical names: the keys of
    a mapped table's partitionValues and partition directories."""
    if snap.column_mapping_mode == "none":
        return list(snap.partition_columns)
    phys_of = _physical_projection(snap)[0]
    return [phys_of[c] for c in snap.partition_columns]


# ---------------------------------------------------------------------------
# Staging: one loop over a two-implementation filesystem seam
# ---------------------------------------------------------------------------


class _LocalStaging:
    """Staging on the driver's filesystem: ``os.walk`` listing and
    pyarrow footer reads; ``publish(staged, final_rel)`` moves a part
    file to its final name (``os.rename`` into a local table, the
    boto3 upload into an ``s3://`` table)."""

    def __init__(self, root: str, publish):
        self.root = root
        self.publish = publish

    def files(self) -> list[tuple[str, list[str], int]]:
        """(staged path, partition-dir segments, size) per part file."""
        out = []
        for root, _dirs, names in os.walk(self.root):
            rel_dir = os.path.relpath(root, self.root)
            segs = [] if rel_dir == "." else rel_dir.split(os.sep)
            for name in names:
                if name.endswith(".parquet"):
                    path = os.path.join(root, name)
                    out.append((path, segs, os.path.getsize(path)))
        return out

    def footer(self, path: str):
        return pq.ParquetFile(path).metadata

    def drop(self, path: str) -> None:
        os.remove(path)

    def cleanup(self) -> None:
        if os.path.isdir(self.root):
            shutil.rmtree(self.root)


class _HadoopStaging:
    """Staging through the Hadoop FileSystem for URL-scheme tables
    (s3a://, viewfs://, …): executors write the staged parquet
    remotely; the driver lists recursively, reads footers only
    (``_fs_parquet_meta`` — never the data pages) and renames within
    the same store."""

    def __init__(self, spark, location: str):
        self.spark = spark
        self.location = location
        self.root = _url_join(location, f"_staging-{uuid.uuid4().hex}")
        jvm, self._root_p, self.fs = _hadoop_fs(spark, self.root)
        self.Path = jvm.org.apache.hadoop.fs.Path

    def files(self) -> list[tuple[str, list[str], int]]:
        prefix = self.fs.makeQualified(self._root_p).toString().rstrip("/")
        out = []
        it = self.fs.listFiles(self._root_p, True)
        while it.hasNext():
            st = it.next()
            url = st.getPath().toString()
            if url.endswith(".parquet"):
                segs = url[len(prefix):].strip("/").split("/")[:-1]
                out.append((url, segs, st.getLen()))
        return out

    def footer(self, url: str):
        return _fs_parquet_meta(self.spark, url)

    def drop(self, url: str) -> None:
        self.fs.delete(self.Path(url), False)

    def publish(self, url: str, final_rel: str) -> None:
        final_p = self.Path(_url_join(self.location, final_rel))
        self.fs.mkdirs(final_p.getParent())
        if not self.fs.rename(self.Path(url), final_p):
            raise DeltaWriteError(f"rename failed: {url} -> {final_rel}")

    def cleanup(self) -> None:
        self.fs.delete(self._root_p, True)


def _staging_for(spark, location: str):
    """The staging seam for ``location``'s store.  ``s3://`` tables
    (the jar-free boto3 gateway) stage on the driver's LOCAL disk —
    executors have no S3 connector — and upload each kept part
    directly to its final object name: S3 has no rename, so a staged
    rename would cost a server-side copy per file.  Upload-then-commit
    keeps Delta's guarantee (objects without a committed add are
    invisible garbage, as on every store).  One staging's uploads
    share one ADT_S3_UPLOAD_LIMIT driver byte budget (the gateway is a
    metadata/DML path, not a bulk-load path; see s3_store's module
    docstring)."""
    from adt_spark.sources import s3_store

    if not _is_url(location):

        def _rename(staged: str, final_rel: str) -> None:
            final_abs = os.path.join(location, *final_rel.split("/"))
            os.makedirs(os.path.dirname(final_abs), exist_ok=True)
            os.rename(staged, final_abs)

        return _LocalStaging(os.path.join(location, f"_staging-{uuid.uuid4().hex}"), _rename)
    if s3_store.is_native_s3(location):
        budget = [0]
        return _LocalStaging(
            tempfile.mkdtemp(prefix="adt-s3-stage-"),
            lambda staged, final_rel: s3_store.upload_file(
                staged, _url_join(location, final_rel), budget
            ),
        )
    return _HadoopStaging(spark, location)


def _stage(
    df: DataFrame,
    location: str,
    ts: int,
    partition_by: list[str] | None = None,
    fixed_pvals: dict | None = None,
    data_change: bool = True,
) -> list[dict]:
    """THE staging loop of every data-writing operation (WRITE,
    OPTIMIZE, the copy-on-write rewrites, the DV paths' appends): a
    distributed parquet write into a staging dir — every executor
    writes its partition in parallel — then, per part file, drop it
    when empty, read its footer statistics, publish it under a fresh
    ``part-<uuid>`` name and build its ``add`` action.
    ``partition_by`` derives partitionValues from the staged directory
    names; ``fixed_pvals`` pins them (a one-partition-group rewrite;
    its key order names the directories).  Always removes the staging
    tree."""
    partition_by = list(partition_by or [])
    staging = _staging_for(df.sparkSession, location)
    writer = df.write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(staging.root)
    adds: list[dict] = []
    try:
        for staged, segs, size in staging.files():
            meta = staging.footer(staged)
            if meta.num_rows == 0:
                staging.drop(staged)
                continue
            pvals = _pvals_from_segments(segs) if partition_by else dict(fixed_pvals or {})
            missing = [c for c in partition_by if c not in pvals]
            if missing:
                raise DeltaWriteError(f"staged file {staged} missing partition dirs {missing}")
            rel_dir = _rel_dirname(pvals, partition_by or None)
            final_rel = (rel_dir + "/" if rel_dir else "") + f"part-{uuid.uuid4().hex}.parquet"
            staging.publish(staged, final_rel)
            adds.append(_add(final_rel, pvals, int(size), ts, data_change, _file_stats(meta)))
    finally:
        staging.cleanup()
    return adds


def write_delta_native(
    df: DataFrame,
    location: str,
    mode: str = "append",
    partition_by: list[str] | None = None,
    merge_schema: bool = False,
    txn: tuple[str, int] | None = None,
) -> int:
    """Write ``df`` to a Delta table at ``location``; returns the
    committed version.  ``mode``: ``append`` (create if absent) or
    ``overwrite`` (replace data, keep history).

    ``merge_schema=True`` (delta-spark's ``mergeSchema`` analog)
    evolves the table on write instead of erroring on a superset
    schema: columns new to the table are ADDED (nullable) with an
    updated ``metaData`` in the same commit; columns the write lacks
    are null-filled.  Existing columns must keep their types (no
    type-widening evolution — the delta-spark default posture).
    Evolution is refused on column-mapped tables (new fields need
    physical names + id assignment).

    ``txn=(app_id, version)`` makes the write IDEMPOTENT (Delta
    PROTOCOL.md "Transaction Identifiers"): the commit carries a
    SetTransaction action, and a write whose version is <= the
    table's last recorded version for that app is SKIPPED (returns
    the current table version) — exactly-once semantics for
    streaming/retried producers, delta-spark's
    ``txnAppId``/``txnVersion`` option pair.
    """
    if mode not in ("append", "overwrite"):
        raise DeltaWriteError(f"unsupported mode {mode!r}")
    partition_by = list(partition_by or [])
    if _is_url(location):
        _fs_mkdirs(df.sparkSession, _url_join(location, "_delta_log"))
        commits, checkpoints = _list_log(location, df.sparkSession)
    else:
        os.makedirs(os.path.join(location, "_delta_log"), exist_ok=True)
        commits, checkpoints = _list_log(location)
    exists = bool(commits or checkpoints)
    if exists:
        snap = replay_snapshot(df.sparkSession, location)
        if txn is not None and snap.transactions.get(txn[0], -1) >= txn[1]:
            return snap.version  # already applied — idempotent skip
        _check_writable(snap, "append" if mode == "append" else "overwrite")
        version = snap.version + 1
        gens = _generated_fields(snap)
        if gens:
            from pyspark.sql import functions as F

            # delta-spark semantics: omitted generated columns are
            # computed from the expression; provided ones are
            # validated below (null-safe equality, one agg pass).
            _validate_generated(df, gens, mode)
            for name, ge, dt in gens:
                if name not in df.columns:
                    df = df.withColumn(name, F.expr(ge).cast(dt))
            if set(df.columns) == {f.name for f in snap.schema.fields}:
                df = df.select(*[f.name for f in snap.schema.fields])
        if not partition_by:
            # delta-spark UX: writes to an existing table inherit its
            # partitioning; an explicit partition_by must still match.
            partition_by = list(snap.partition_columns)
        if snap.partition_columns != partition_by:
            raise DeltaWriteError(
                f"partition mismatch: table has {snap.partition_columns}, "
                f"write requested {partition_by}"
            )
        evolved_schema = None
        # Same-name columns must keep their declared types regardless
        # of merge_schema — staging parquet under a divergent physical
        # type would corrupt future snapshot reads (the ADVICE-item
        # class update_where already guards against).
        _table_fields = {f.name: f for f in snap.schema.fields}
        for f in df.schema.fields:
            existing = _table_fields.get(f.name)
            # metadata-STRIPPED strict equality: the table's nested
            # fields carry column-mapping METADATA in their
            # StructFields, and PySpark's DataType equality is
            # metadata-sensitive — a structurally identical incoming
            # struct must not read as a type change.  Nullability
            # stays part of the comparison (simpleString would drop
            # it and let NULLs stage into declared non-nullable
            # nested fields — nothing downstream re-validates that).
            if existing is not None and (
                _type_no_meta(existing.dataType) != _type_no_meta(f.dataType)
            ):
                hint = (
                    "merge_schema cannot change" if merge_schema else "type mismatch on"
                )
                raise DeltaWriteError(
                    f"{hint} {f.name!r}: table has "
                    f"{existing.dataType.simpleString()}, write has "
                    f"{f.dataType.simpleString()}"
                )
        if [f.name for f in snap.schema.fields] != df.schema.fieldNames():
            if not merge_schema:
                raise DeltaWriteError(
                    f"schema mismatch: table has {snap.schema.fieldNames()}, "
                    f"dataframe has {df.schema.fieldNames()} "
                    "(pass merge_schema=True to evolve)"
                )
            if snap.column_mapping_mode != "none":
                raise DeltaWriteError(
                    "merge_schema on column-mapped tables is not supported "
                    "(new fields need physical names and mapping ids)"
                )
            from pyspark.sql import functions as F

            table_fields = _table_fields
            new_fields = [
                T.StructField(f.name, f.dataType, nullable=True)
                for f in df.schema.fields
                if f.name not in table_fields
            ]
            evolved_schema = T.StructType(list(snap.schema.fields) + new_fields)
            # null-fill table columns the write lacks; order to the
            # evolved schema so staged parquet matches it exactly
            df = df.select(
                *[
                    F.col(f.name)
                    if f.name in df.columns
                    else F.lit(None).cast(f.dataType).alias(f.name)
                    for f in evolved_schema.fields
                ]
            )
    else:
        snap = None
        version = 0
        evolved_schema = None

    if snap is not None:
        _enforce_constraints(df, snap, mode)

    # Column-mapped tables: stage under PHYSICAL column names (+
    # parquet field ids for id mode — Spark writes them from the
    # parquet.field.id schema metadata) and key partition dirs by the
    # physical name; the log's partitionValues are physical-keyed in
    # mapped tables, which is exactly what the staging loop reads back
    # from the directory names.
    if snap is not None and snap.column_mapping_mode != "none":
        _read_schema, _to_logical, to_physical = _dml_projection(snap)
        df = to_physical(df)
        partition_by = _physical_partition_columns(snap)

    ts = int(time.time() * 1000)
    adds = _stage(df, location, ts, partition_by)

    # assemble the commit
    params = {"mode": mode.upper(), "partitionBy": json.dumps(partition_by)}
    actions: list[dict] = []
    if txn is not None:
        actions.append({"txn": {"appId": txn[0], "version": int(txn[1]), "lastUpdated": ts}})
    # data columns first, partition columns last (reader appends them,
    # matching reference deltatable.rs:136-189 field order)
    if not exists:
        actions.append({"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}})
        actions.append(_metadata(df.schema, partition_by, {}, ts))
    if evolved_schema is not None:
        actions.append(
            _metadata(
                evolved_schema, snap.partition_columns, snap.configuration, ts,
                snap.table_id,
            )
        )
    if mode == "overwrite" and snap is not None:
        actions.extend(_remove(path, pvals, ts) for path, (pvals, _dv) in snap.files.items())
    actions.extend(adds)

    if mode == "append" and snap is not None:
        # Delta OCC: a blind append (no read predicate) commutes with
        # any concurrent data commit, so on a version collision replay
        # the new log and re-commit the SAME adds at the next version —
        # aborting only when the table's metadata or protocol changed
        # underneath us (delta-spark's ConcurrentAppend resolution).
        for attempt in range(4):
            try:
                return _commit(df.sparkSession, location, version, ts, "WRITE", params, actions)
            except DeltaWriteError as exc:
                if "concurrent commit" not in str(exc) or attempt == 3:
                    raise
                newsnap = replay_snapshot(df.sparkSession, location)
                if txn is not None and newsnap.transactions.get(txn[0], -1) >= txn[1]:
                    return newsnap.version  # racer applied our txn
                if (
                    newsnap.schema != snap.schema
                    or newsnap.partition_columns != snap.partition_columns
                    or (newsnap.configuration or {}) != (snap.configuration or {})
                    or (newsnap.protocol or {}) != (snap.protocol or {})
                ):
                    raise DeltaWriteError(
                        "concurrent metadata/protocol change during append "
                        "— re-run the write against the new table state"
                    ) from exc
                snap = newsnap
                version = newsnap.version + 1
    return _commit(df.sparkSession, location, version, ts, "WRITE", params, actions)


def write_checkpoint(spark, location: str) -> int:
    """Write a classic single-file parquet checkpoint of the current
    snapshot (``_delta_log/N.checkpoint.parquet`` + ``_last_checkpoint``),
    so readers replay O(files-at-N) parquet rows + commits>N instead of
    the whole JSON history — the reference's kernel reads exactly this
    layout (deltatable.rs log replay via delta-kernel).

    Built driver-side with pyarrow (row count = live file count;
    checkpoints for tables with tens of millions of files should be
    written distributed — same format, Spark writer, v2 spec).
    Returns the checkpointed version.
    """
    import pyarrow as pa

    snap = replay_snapshot(spark, location)
    n = snap.version
    proto_rows, meta_rows, add_rows = [], [], []
    # preserve the table's REAL protocol and metaData — a checkpoint
    # that resets them would silently drop constraints/appendOnly
    # config and protocol requirements once the JSON commits are
    # truncated
    proto = snap.protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    proto_rows.append(
        {
            "minReaderVersion": int(proto.get("minReaderVersion", 1)),
            "minWriterVersion": int(proto.get("minWriterVersion", 2)),
            "readerFeatures": proto.get("readerFeatures"),
            "writerFeatures": proto.get("writerFeatures"),
        }
    )
    meta_rows.append(
        _metadata(
            snap.schema, snap.partition_columns, snap.configuration or {},
            int(time.time() * 1000), snap.table_id,
        )["metaData"]
    )
    txn_rows = [
        {"appId": app, "version": int(v)}
        for app, v in sorted(snap.transactions.items())
    ]
    for path, (pvals, dv) in snap.files.items():
        add_rows.append(
            {
                "path": path,
                "partitionValues": pvals or {},
                "dataChange": False,
                # carry per-file statistics through the checkpoint so
                # file skipping survives log truncation
                "stats": snap.file_stats.get(path),
                "size": snap.file_sizes.get(path),
                # DVs MUST survive the checkpoint — dropping them would
                # resurrect deleted rows once the JSON commits truncate
                "deletionVector": dv,
            }
        )

    rows = []
    for p in proto_rows:
        rows.append({"protocol": p, "metaData": None, "add": None})
    for m in meta_rows:
        rows.append({"protocol": None, "metaData": m, "add": None})
    for a in add_rows:
        rows.append({"protocol": None, "metaData": None, "add": a})
    for t in txn_rows:
        rows.append({"protocol": None, "metaData": None, "add": None, "txn": t})
    for r in rows:
        r.setdefault("txn", None)

    schema = pa.schema(
        [
            pa.field(
                "protocol",
                pa.struct(
                    [
                        pa.field("minReaderVersion", pa.int32()),
                        pa.field("minWriterVersion", pa.int32()),
                        pa.field("readerFeatures", pa.list_(pa.string())),
                        pa.field("writerFeatures", pa.list_(pa.string())),
                    ]
                ),
            ),
            pa.field(
                "metaData",
                pa.struct(
                    [
                        pa.field("id", pa.string()),
                        pa.field(
                            "format",
                            pa.struct(
                                [
                                    pa.field("provider", pa.string()),
                                    pa.field("options", pa.map_(pa.string(), pa.string())),
                                ]
                            ),
                        ),
                        pa.field("schemaString", pa.string()),
                        pa.field("partitionColumns", pa.list_(pa.string())),
                        pa.field("configuration", pa.map_(pa.string(), pa.string())),
                        pa.field("createdTime", pa.int64()),
                    ]
                ),
            ),
            pa.field(
                "add",
                pa.struct(
                    [
                        pa.field("path", pa.string()),
                        pa.field("partitionValues", pa.map_(pa.string(), pa.string())),
                        pa.field("dataChange", pa.bool_()),
                        pa.field("stats", pa.string()),
                        pa.field("size", pa.int64()),
                        pa.field(
                            "deletionVector",
                            pa.struct(
                                [
                                    pa.field("storageType", pa.string()),
                                    pa.field("pathOrInlineDv", pa.string()),
                                    pa.field("offset", pa.int32()),
                                    pa.field("sizeInBytes", pa.int32()),
                                    pa.field("cardinality", pa.int64()),
                                ]
                            ),
                        ),
                    ]
                ),
            ),
            pa.field(
                "txn",
                pa.struct(
                    [pa.field("appId", pa.string()), pa.field("version", pa.int64())]
                ),
            ),
        ]
    )

    def _mapify(d):
        return list(d.items()) if isinstance(d, dict) else d

    for r in rows:
        if r["metaData"]:
            r["metaData"]["format"]["options"] = _mapify(r["metaData"]["format"]["options"])
            r["metaData"]["configuration"] = _mapify(r["metaData"]["configuration"])
        if r["add"]:
            r["add"]["partitionValues"] = _mapify(r["add"]["partitionValues"])

    table = pa.Table.from_pylist(rows, schema=schema)
    last_cp = json.dumps({"version": n, "size": len(rows)})
    from adt_spark.sources import s3_store

    if s3_store.is_native_s3(location):
        # S3 object PUT is atomic replace — no temp+rename dance; a
        # reader never observes a torn object.  The versioned
        # checkpoint keeps an existing object (same keep-existing
        # rationale as the Hadoop branch); the _last_checkpoint HINT
        # is replaced outright.
        import io

        buf = io.BytesIO()
        pq.write_table(table, buf)
        cp_url = _url_join(location, "_delta_log", f"{n:020d}.checkpoint.parquet")
        if not s3_store.exists(cp_url):
            s3_store.put_bytes(cp_url, buf.getvalue())
        s3_store.put_bytes(
            _url_join(location, "_delta_log", "_last_checkpoint"),
            last_cp.encode(),
        )
        return n
    if _is_url(location):
        # serialize driver-side, stream through the Hadoop FS.
        # Write temp + rename, same as the local branch below: rename
        # is atomic on HDFS/local-mount schemes (the stores where the
        # commit path is atomic too), so a reader racing the write
        # never observes a torn checkpoint or _last_checkpoint
        import io

        buf = io.BytesIO()
        pq.write_table(table, buf)
        jvm, _p, fs = _hadoop_fs(spark, location)
        Path = jvm.org.apache.hadoop.fs.Path

        def _put(rel: str, data: bytes, keep_existing: bool) -> None:
            final = Path(_url_join(location, "_delta_log", rel))
            if keep_existing and fs.exists(final):
                # a versioned checkpoint for the SAME version is
                # already valid — leave it untouched rather than
                # delete+rename, which would open a window (and a
                # failed-rename terminal state) with NO checkpoint on
                # disk while _last_checkpoint still points at it
                return
            tmp_p = Path(
                _url_join(location, "_delta_log", f".{rel}.tmp-{uuid.uuid4().hex}")
            )
            stream = fs.create(tmp_p, True)
            try:
                stream.write(data)
            finally:
                stream.close()
            # only the _last_checkpoint HINT takes this replace path:
            # the Hadoop rename contract refuses existing destinations,
            # so replacement is delete→rename — a reader in the gap
            # (or after a failed rename) simply misses the hint and
            # falls back to log listing, which the Delta protocol
            # requires anyway (and is how delta_native.py discovers
            # checkpoints unconditionally)
            if fs.exists(final):
                fs.delete(final, False)
            if not fs.rename(tmp_p, final):
                fs.delete(tmp_p, False)
                raise DeltaWriteError(f"checkpoint rename failed: {final}")

        _put(f"{n:020d}.checkpoint.parquet", buf.getvalue(), keep_existing=True)
        _put("_last_checkpoint", last_cp.encode(), keep_existing=False)
        return n
    cp_path = os.path.join(location, "_delta_log", f"{n:020d}.checkpoint.parquet")
    tmp = cp_path + f".tmp-{uuid.uuid4().hex}"
    pq.write_table(table, tmp)
    os.rename(tmp, cp_path)
    lcp = os.path.join(location, "_delta_log", "_last_checkpoint")
    lcp_tmp = lcp + f".tmp-{uuid.uuid4().hex}"
    with open(lcp_tmp, "w") as f:
        f.write(last_cp)
    os.replace(lcp_tmp, lcp)
    return n


# ---------------------------------------------------------------------------
# DML: one match scan, one copy-on-write rewrite
# ---------------------------------------------------------------------------


def _match_scan(
    spark, location: str, snap, restrict, positions: bool = False
) -> dict[str, object]:
    """THE match scan of DELETE / UPDATE / MERGE, copy-on-write and
    deletion-vector routes alike: ONE distributed scan of every live
    file, read through ``_dml_projection`` (identity for unmapped
    tables) and tagged with its file, narrowed by ``restrict`` (a
    predicate filter or a key join), grouped by file.  Returns the
    log-relative path of every file with a match → its match count,
    or with ``positions`` its sorted matching row positions (the
    parquet reader's ``_metadata.row_index``, the ordinal the DV spec
    addresses)."""
    from pyspark.sql import functions as F

    all_paths = _scan_abs(location, list(snap.files))
    if not all_paths:
        return {}
    read_schema, to_logical, _to_physical = _dml_projection(snap)
    scan = spark.read.schema(read_schema).parquet(*all_paths).withColumn(
        "_f", F.input_file_name()
    )
    extra, agg = ("_f",), F.count("*")
    if positions:
        scan = scan.withColumn("_pos", F.col("_metadata.row_index"))
        extra, agg = ("_f", "_pos"), F.sort_array(F.collect_list("_pos"))
    rows = restrict(to_logical(scan, extra=extra)).groupBy("_f").agg(agg.alias("_m")).collect()
    # input_file_name() yields a file: URI — resolve back to the log's
    # relative path by suffix match (unique: rel paths include the
    # partition dirs)
    return {_rel_from_uri(r._f, snap.files): r._m for r in rows}


def _refuse_dv_files(snap, operation: str) -> None:
    """Copy-on-write rewrites refuse files carrying deletion vectors:
    rewriting them would silently resurrect DV-deleted rows."""
    for path, (_pvals, dv) in snap.files.items():
        if dv is not None:
            raise DeltaWriteError(
                f"{operation} cannot rewrite {path}: it carries a deletion "
                "vector (use the delta-spark path for DV tables)"
            )


def _rewrite(spark, location: str, snap, touched, ts: int, transform) -> list[dict]:
    """THE copy-on-write rewrite of DELETE / UPDATE / MERGE: the
    ``touched`` files, grouped by partition values (keeps pvals
    exact), each group's logical rows passed through
    ``transform(rows, pvals)`` and staged back under physical names.
    Each group's partition values are keyed in the table's partition
    column order, which names the directories as an append does.
    Returns the touched files' removes followed by the adds."""
    read_schema, to_logical, to_physical = _dml_projection(snap)
    rank = {c: i for i, c in enumerate(_physical_partition_columns(snap))}

    def _in_table_order(kv):
        return rank.get(kv[0], len(rank)), kv[0]

    groups: dict[tuple, list[str]] = {}
    for rel in touched:
        key = tuple(sorted(snap.files[rel][0].items(), key=_in_table_order))
        groups.setdefault(key, []).append(rel)
    removes: list[dict] = []
    adds: list[dict] = []
    for key, rels in groups.items():
        pvals = dict(key)
        rows = to_logical(
            spark.read.schema(read_schema).parquet(*_scan_abs(location, rels))
        )
        adds.extend(
            _stage(to_physical(transform(rows, pvals)), location, ts, fixed_pvals=pvals)
        )
        removes.extend(_remove(rel, pvals, ts) for rel in rels)
    return removes + adds


def delete_where(spark, location: str, predicate: str) -> tuple[int, int]:
    """Copy-on-write ``DELETE FROM <table> WHERE <predicate>`` for the
    native writer; returns (committed version, rows deleted).

    The scale-correct delete shape: ONE distributed scan with the
    predicate pushed down finds the files that contain matches; only
    those files are rewritten (minus matching rows) — untouched files
    stay referenced as-is, so delete cost tracks match locality, not
    table size.  The commit pairs each touched file's ``remove`` with
    its rewritten ``add`` atomically (readers never see a half-delete).

    ``predicate`` is a SQL boolean over the table's DATA columns
    (partition-column predicates should use log-level pruning + an
    overwrite instead).  Rows where the predicate is NULL are kept,
    matching SQL DELETE semantics.  Files carrying deletion vectors
    are rejected — rewriting them here would silently resurrect
    DV-deleted rows.
    """
    from pyspark.sql import functions as F

    snap = replay_snapshot(spark, location)
    _check_writable(snap, "delete")
    if _dv_enabled(snap.configuration):
        # delta-spark's selection rule: the table property routes
        # DELETE through deletion vectors (no file rewrites)
        return _delete_with_dvs(spark, location, predicate, snap)
    _refuse_dv_files(snap, "delete_where")
    hits = _match_scan(spark, location, snap, lambda df: df.filter(F.expr(predicate)))
    if not hits:
        return snap.version, 0
    ts = int(time.time() * 1000)
    keep = F.coalesce(F.expr(predicate), F.lit(False)) == F.lit(False)
    actions = _rewrite(spark, location, snap, hits, ts, lambda rows, _pv: rows.filter(keep))
    version = _commit(
        spark, location, snap.version + 1, ts, "DELETE", {"predicate": predicate}, actions
    )
    return version, int(sum(hits.values()))


def vacuum(spark, location: str, retain_hours: float = 168.0) -> list[str]:
    """Remove data files no longer referenced by the current snapshot
    whose ``remove`` tombstones are older than ``retain_hours``
    (default 7 days — the Delta convention protecting time travel and
    in-flight readers).  Returns the deleted relative paths.

    The pairing maintenance op for ``delete_where`` / overwrite: both
    leave the old files on disk (time travel needs them) and only
    VACUUM reclaims the space.  Driver-side work is log metadata only;
    at real scale the file deletions themselves would fan out over the
    object store (here: local unlink).

    Note the same trade the reference's ecosystem makes
    (delta-kernel/delta-spark VACUUM): vacuuming past a version breaks
    time travel to it — tombstones younger than the horizon are kept.
    """
    from adt_spark.sources.delta_native import _read_file

    is_url = _is_url(location)
    cutoff_ms = int((time.time() - retain_hours * 3600.0) * 1000)
    snap = replay_snapshot(spark, location)
    live = set(snap.files)

    # collect tombstones from the JSON log (checkpoints drop removes
    # older than their own horizon; JSON commits are the authority).
    commits, _ = _list_log(location, spark if is_url else None)
    tombstones: dict[str, int] = {}
    for _v, path in commits:
        for line in _read_file(spark, path).splitlines():
            if not line.strip():
                continue
            action = json.loads(line)
            if rm := action.get("remove"):
                tombstones[rm["path"]] = rm.get("deletionTimestamp", 0)
            if add := action.get("add"):
                # re-added later → not dead
                tombstones.pop(add["path"], None)

    from adt_spark.sources import s3_store

    if s3_store.is_native_s3(location):

        def _unlink(rel: str) -> bool:
            url = _url_join(location, rel)
            if not s3_store.exists(url):
                return False
            s3_store.delete(url)
            return True

    elif is_url:
        _jvm, _p, fs = _hadoop_fs(spark, location)
        Path = _jvm.org.apache.hadoop.fs.Path

        def _unlink(rel: str) -> bool:
            p = Path(_url_join(location, rel))
            return bool(fs.exists(p)) and bool(fs.delete(p, False))

    else:

        def _unlink(rel: str) -> bool:
            abs_path = os.path.join(location, *rel.split("/"))
            if not os.path.exists(abs_path):
                return False
            os.remove(abs_path)
            return True

    deleted: list[str] = []
    for rel, ts_ms in tombstones.items():
        if rel in live or ts_ms >= cutoff_ms:
            continue
        if rel.startswith("/") or "://" in rel:
            # EXTERNAL file (an absolute path — e.g. a shallow clone's
            # reference into its source table): never vacuumed; only
            # files under this table's own root are reclaimable
            # (delta-spark's vacuum boundary).
            continue
        if _unlink(rel):
            deleted.append(rel)
    return sorted(deleted)


def update_where(
    spark, location: str, predicate: str, assignments: dict[str, str]
) -> tuple[int, int]:
    """Copy-on-write ``UPDATE <table> SET col = expr, … WHERE
    <predicate>``; returns (committed version, rows updated).

    Same file-granular shape as ``delete_where``: one predicate-pushed
    scan finds match-bearing files; only those rewrite, with matching
    rows transformed by the SET expressions and everything else copied
    through byte-identical.  ``assignments`` maps data-column name →
    SQL expression (evaluated against the pre-update row, per SQL
    UPDATE semantics); partition columns cannot be assigned (that is a
    repartitioning rewrite — express it as read + overwrite).
    """
    from pyspark.sql import functions as F

    snap = replay_snapshot(spark, location)
    _check_writable(snap, "update")
    part_cols = snap.partition_columns
    data_fields = _data_fields(snap)
    data_names = {f.name for f in data_fields}
    bad = set(assignments) - data_names
    if bad:
        raise DeltaWriteError(
            f"cannot assign {sorted(bad)}: not data columns "
            f"(partition columns need a repartitioning overwrite)"
        )
    gens = _generated_fields(snap)
    gen_names = {g[0] for g in gens}
    if gen_names & set(assignments):
        raise DeltaWriteError(
            f"cannot assign generated column(s) "
            f"{sorted(gen_names & set(assignments))}: their values come "
            "from the generation expression (they are recomputed when "
            "an UPDATE touches their source columns)"
        )
    # a generated PARTITION column whose expression references an
    # assigned column would need rows moved across partitions — refuse
    # (delta-spark rewrites partitions there; out of scope).
    ident = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
    for name, ge, _dt in gens:
        if name in part_cols and set(ident.findall(ge)) & set(assignments):
            raise DeltaWriteError(
                f"updating {sorted(set(ident.findall(ge)) & set(assignments))} "
                f"would change generated partition column {name!r} "
                "(cross-partition row movement) — use read + overwrite"
            )
    gens_data = [g for g in gens if g[0] in data_names]
    if _dv_enabled(snap.configuration):
        return _update_with_dvs(spark, location, predicate, assignments, snap, gens_data)
    _refuse_dv_files(snap, "update_where")
    hits = _match_scan(spark, location, snap, lambda df: df.filter(F.expr(predicate)))
    if not hits:
        return snap.version, 0

    ts = int(time.time() * 1000)
    hit = F.coalesce(F.expr(predicate), F.lit(False))
    from adt_spark.sources.delta_native import _with_partition_cols

    part_fields = {f.name: f for f in snap.schema.fields if f.name in part_cols}
    data_col_names = [f.name for f in data_fields]

    def _transform_group(ldf: DataFrame, pvals: dict, keep_hit: bool = False):
        """Post-UPDATE logical rows for one partition group.

        SQL UPDATE: every SET expression sees the PRE-update row —
        all new columns are built simultaneously in one select, each
        cast to the column's DECLARED type (as delta-spark/delta-rs
        do): without the cast F.when coerces to the common type, so a
        widening assignment would commit parquet whose physical type
        diverges from the table's schemaString and break every later
        snapshot read.  Generated data columns are then RECOMPUTED
        for hit rows from the post-SET values (delta-spark semantics);
        partition columns attach as typed literals so generation/
        constraint expressions referencing them resolve.
        """
        # attach the group's partition values FIRST so SET expressions,
        # the predicate, generation expressions, and constraints may
        # all reference partition columns (per-group typed literals)
        if part_fields:
            ldf = _with_partition_cols(
                ldf, pvals, part_fields, [*data_col_names, *part_fields]
            )
        ldf = ldf.withColumn("_hit", hit)
        ldf = ldf.select(
            *[
                F.when(F.col("_hit"), F.expr(assignments[f.name]).cast(f.dataType))
                .otherwise(F.col(f.name))
                .alias(f.name)
                if f.name in assignments
                else F.col(f.name)
                for f in data_fields
            ],
            *part_fields,
            "_hit",
        )
        for name, ge, dt in gens_data:
            ldf = ldf.withColumn(
                name,
                F.when(F.col("_hit"), F.expr(ge).cast(dt)).otherwise(F.col(name)),
            )
        return ldf.select(
            *data_col_names, *part_fields, *(["_hit"] if keep_hit else [])
        )

    if _table_constraints(snap):
        # CHECK the post-SET values of the rows this UPDATE touches.
        read_schema, to_logical, _to_physical = _dml_projection(snap)
        pieces = []
        for rel in hits:
            scan = to_logical(
                spark.read.schema(read_schema).parquet(*_scan_abs(location, [rel]))
            )
            pieces.append(
                _transform_group(scan, snap.files[rel][0], keep_hit=True)
                .filter(F.col("_hit"))
                .drop("_hit")
            )
        changed = pieces[0]
        for p in pieces[1:]:
            changed = changed.unionByName(p)
        _enforce_constraints(changed, snap, "update")
    actions = _rewrite(
        spark, location, snap, hits, ts,
        lambda rows, pvals: _transform_group(rows, pvals).select(*data_col_names),
    )
    version = _commit(
        spark, location, snap.version + 1, ts, "UPDATE", {"predicate": predicate}, actions
    )
    return version, int(sum(hits.values()))


def merge_upsert(
    spark, location: str, source: DataFrame, key_cols: list[str]
) -> tuple[int, int, int]:
    """Keyed upsert (the WHEN MATCHED UPDATE ALL / WHEN NOT MATCHED
    INSERT ALL form of MERGE INTO): source rows replace target rows
    sharing their key; unmatched source rows insert.  Returns
    (version, rows_replaced, rows_inserted).

    Copy-on-write, file-granular, ONE atomic commit: a broadcast
    semi-join of the target scan against the (small) source key set
    finds the files containing matched keys; only those rewrite, with
    matched rows anti-joined out; the source lands as new files in the
    same commit.  At scale the source side of a merge is the small
    changeset (CDC batch) — broadcasting its keys keeps the target
    pass shuffle-free, so merge cost is one scan + touched-file
    rewrite, independent of table size.

    Partitioned targets: source must carry the partition columns; its
    rows land under their own partition dirs.  DV-bearing files are
    rejected (as in delete_where).
    """
    from pyspark.sql import functions as F

    snap = replay_snapshot(spark, location)
    _check_writable(snap, "merge")
    if source.schema.fieldNames() != [f.name for f in snap.schema.fields]:
        raise DeltaWriteError(
            f"merge source schema {source.schema.fieldNames()} must match "
            f"table schema {[f.name for f in snap.schema.fields]}"
        )
    missing = [k for k in key_cols if k not in source.columns]
    if missing:
        raise DeltaWriteError(f"merge key columns missing from source: {missing}")
    dv_mode = _dv_enabled(snap.configuration)
    if not dv_mode:
        _refuse_dv_files(snap, "merge_upsert")

    # Delta's MERGE errors when multiple source rows match one target
    # row; with a keyed upsert that means duplicate keys in the source
    # are a caller bug — committing them would leave multiple rows per
    # key in the table and skew the returned insert count.
    dup = (
        source.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise DeltaWriteError(
            f"merge source has duplicate key "
            f"{tuple(dup[0][k] for k in key_cols)!r} (Delta MERGE semantics "
            "forbid multiple source matches per target row); de-duplicate "
            "the source first"
        )

    # every row this MERGE introduces (replacement or insert) comes
    # from the source — one constraint pass over it covers both arms;
    # generated columns must arrive with expression-matching values
    # (merge sources carry the full schema, so compute-on-omit does
    # not apply here)
    _enforce_constraints(source, snap, "merge")
    _validate_generated(source, _generated_fields(snap), "merge")

    if dv_mode:
        return _merge_with_dvs(spark, location, source, key_cols, snap)

    # MERGE source keys are unbounded (a backfill MERGE can carry
    # billions of rows): key joins below are plain equi-joins so AQE
    # broadcasts only when the runtime size allows, instead of a
    # forced hint that would OOM the driver on a large source
    keys = source.select(*key_cols).distinct()
    ts = int(time.time() * 1000)
    n_source = source.count()
    hits = _match_scan(spark, location, snap, lambda df: df.join(keys, key_cols))
    # inserted = source rows whose KEY matched no target row; with
    # duplicate keys in the TARGET, n_source - n_replaced would go
    # negative (one source row can replace several target rows)
    read_schema, to_logical, to_physical = _dml_projection(snap)
    n_matched_keys = 0
    all_paths = _scan_abs(location, list(snap.files))
    if all_paths:
        n_matched_keys = (
            keys.join(
                to_logical(spark.read.schema(read_schema).parquet(*all_paths)),
                key_cols,
                "left_semi",
            ).count()
        )

    # 1. rewrite touched files with matched rows removed
    actions = _rewrite(
        spark, location, snap, hits, ts,
        lambda rows, _pv: rows.join(keys, key_cols, "left_anti"),
    )
    # 2. the full source lands as new files (replacements + inserts);
    # mapped tables stage under physical names + physical partition dirs
    actions += _stage(
        to_physical(source), location, ts, partition_by=_physical_partition_columns(snap)
    )
    version = _commit(
        spark, location, snap.version + 1, ts, "MERGE",
        {"matchedPredicates": json.dumps(key_cols)}, actions,
    )
    return version, int(sum(hits.values())), int(n_source - n_matched_keys)


# ---------------------------------------------------------------------------
# OPTIMIZE ZORDER BY — multi-dimensional clustering for data skipping
# ---------------------------------------------------------------------------


def _zvalue_expr(df: DataFrame, cols: list[str], bits: int = 16):
    """Z-order (Morton) key column: each clustering column is linearly
    scaled to ``bits`` bits against its table-wide [min,max] (one
    metadata-sized agg job), then the bit planes are interleaved so
    that z-contiguous row blocks are localized in EVERY clustering
    dimension at once — the property that makes per-file [min,max]
    statistics selective on all of them.

    Rank-free linear scaling keeps the computation one scan + pure
    JVM bit arithmetic (a rank-based scaling, as delta-spark's
    OPTIMIZE uses for skewed data, needs a global sort or sketch —
    the linear variant is the right default for roughly uniform
    columns and never affects correctness, only clustering quality).
    """
    from pyspark.sql import functions as F

    aggs = []
    for c in cols:
        aggs.append(F.min(F.col(c).cast("double")).alias(f"mn_{c}"))
        aggs.append(F.max(F.col(c).cast("double")).alias(f"mx_{c}"))
    r = df.agg(*aggs).collect()[0]

    top = (1 << bits) - 1
    keys = []
    for c in cols:
        mn, mx = r[f"mn_{c}"], r[f"mx_{c}"]
        if mn is None or mx is None or not mx > mn:
            keys.append(F.lit(0).cast("long"))
            continue
        scaled = (
            (F.col(c).cast("double") - F.lit(float(mn)))
            / F.lit(float(mx) - float(mn))
            * F.lit(float(top))
        )
        keys.append(
            F.least(F.greatest(F.coalesce(F.floor(scaled), F.lit(0)), F.lit(0)), F.lit(top))
        )

    n = len(cols)
    z = F.lit(0).cast("long")
    for b in range(bits):
        for k, key in enumerate(keys):
            bit = F.shiftright(key.cast("long"), b).bitwiseAND(F.lit(1))
            z = z.bitwiseOR(F.shiftleft(bit, b * n + k))
    return z


def optimize_zorder(
    spark, location: str, cols: list[str], target_files: int = 8
) -> int:
    """``OPTIMIZE <table> ZORDER BY (cols…)``: rewrite the table's
    data clustered along the Z-order (Morton) curve of ``cols`` so the
    per-file [min,max] statistics become selective in every listed
    dimension — the multi-dimensional complement of the reader's
    ``skip_where`` file skipping.  Returns the committed version.

    Beyond the reference (whose provider neither records nor consumes
    statistics, deltatable.rs:435); matches the public Delta feature
    (delta.io OPTIMIZE ZORDER; delta-rs z-order) over the same
    transaction-log protocol: one commit whose remove+add actions all
    carry ``dataChange: false`` — readers see identical rows, only the
    physical clustering changed (time travel and CDF semantics
    preserved).

    Scale shape: one metadata agg (per-column min/max), one
    distributed ``repartitionByRange`` shuffle on the z-key (range
    partitioning ⇒ each output file covers a contiguous z interval ⇒
    localized in every dimension), one distributed write.  Deletion
    vectors are materialized away by the rewrite (the snapshot read
    applies them), exactly like Delta's OPTIMIZE purges DVs.
    """
    from pyspark.sql import functions as F

    from adt_spark.sources.delta_native import read_delta_native

    snap = replay_snapshot(spark, location)
    _check_writable(snap, "optimize")
    if snap.column_mapping_mode != "none":
        raise DeltaWriteError(
            "optimize_zorder on column-mapped tables is not supported "
            "(physical-name staging for a full rewrite — use delta-spark)"
        )
    missing = [c for c in cols if c not in snap.schema.fieldNames()]
    if missing:
        raise DeltaWriteError(f"zorder columns not in table schema: {missing}")
    in_parts = [c for c in cols if c in snap.partition_columns]
    if in_parts:
        raise DeltaWriteError(
            f"zorder columns {in_parts} are partition columns — partition "
            "pruning already covers them; zorder the data columns instead"
        )
    if not snap.files:
        return snap.version  # nothing to rewrite

    df = read_delta_native(spark, location)
    zcol = "__zorder"
    df = (
        df.withColumn(zcol, _zvalue_expr(df, list(cols)))
        .repartitionByRange(target_files, F.col(zcol))
        .sortWithinPartitions(zcol)
        .drop(zcol)
    )
    return _optimize_commit(
        spark,
        location,
        snap,
        df,
        {"zOrderBy": json.dumps(list(cols)), "targetFiles": target_files},
    )


def _optimize_commit(spark, location: str, snap, df: DataFrame, params: dict) -> int:
    """Shared OPTIMIZE commit: stage the rewritten data, then one
    atomic remove-all + add-all commit with ``dataChange: false`` on
    both sides (rows identical; only physical layout changed)."""
    ts = int(time.time() * 1000)
    adds = _stage(df, location, ts, list(snap.partition_columns), data_change=False)
    removes = [
        _remove(path, pvals, ts, data_change=False)
        for path, (pvals, _dv) in snap.files.items()
    ]
    return _commit(spark, location, snap.version + 1, ts, "OPTIMIZE", params, removes + adds)


def optimize_compact(spark, location: str, target_mb: int = 128) -> int:
    """``OPTIMIZE <table>`` (no ZORDER): small-files compaction —
    rewrite the snapshot into ~``target_mb``-sized files, sized from
    the log's recorded add.size bytes (metadata only; no data read
    before the single rewrite pass).  Same dataChange=false commit
    contract as optimize_zorder; DVs are materialized away.

    The scale rationale: streaming ingest and frequent small appends
    accumulate thousands of KB-sized files whose per-file overhead
    (open + footer + task schedule) dominates scans; compaction
    restores scan bandwidth and shrinks the replayed log.
    """
    from adt_spark.sources.delta_native import read_delta_native

    snap = replay_snapshot(spark, location)
    _check_writable(snap, "optimize")
    if snap.column_mapping_mode != "none":
        raise DeltaWriteError(
            "optimize_compact on column-mapped tables is not supported "
            "(physical-name staging for a full rewrite — use delta-spark)"
        )
    if not snap.files:
        return snap.version
    total = sum(snap.file_sizes.get(p, 0) for p in snap.files)
    n_out = max(1, -(-total // (target_mb << 20)))  # ceil; 1 if sizes unrecorded
    df = read_delta_native(spark, location).repartition(n_out)
    return _optimize_commit(spark, location, snap, df, {"targetFiles": n_out})


def restore_table(spark, location: str, to_version: int) -> tuple[int, int, int]:
    """``RESTORE TABLE <t> TO VERSION AS OF n``: commit a new version
    whose file set equals version n's — time-travel made current,
    without rewriting any data (adds for files only in the target
    snapshot, removes for files only in the current one; both
    dataChange=true, since readers' rows change).  Returns
    (committed version, files re-added, files removed).

    Same contract as delta-spark RESTORE: the restored files must
    still exist (VACUUM past the target breaks restorability — the
    documented trade), and history is preserved (the restore is just
    another commit; you can restore the restore away).
    """
    cur = replay_snapshot(spark, location)
    _check_writable(cur, "restore")
    target = replay_snapshot(spark, location, version=to_version)
    if target.column_mapping_mode != cur.column_mapping_mode:
        raise DeltaWriteError("restore across column-mapping changes is not supported")
    from adt_spark.sources import s3_store

    if s3_store.is_native_s3(location):

        def _missing(rel: str) -> bool:
            return not s3_store.exists(_url_join(location, rel))

    elif _is_url(location):
        _jvm, _p, fs = _hadoop_fs(spark, location)
        Path = _jvm.org.apache.hadoop.fs.Path

        def _missing(rel: str) -> bool:
            return not fs.exists(Path(_url_join(location, rel)))

    else:

        def _missing(rel: str) -> bool:
            return not os.path.exists(os.path.join(location, *rel.split("/")))

    for rel in target.files:
        if _missing(rel):
            raise DeltaWriteError(
                f"cannot restore to version {to_version}: file {rel} was vacuumed"
            )

    ts = int(time.time() * 1000)
    # schema/partitioning follow the target version
    actions: list[dict] = [
        _metadata(
            target.schema, target.partition_columns, target.configuration, ts,
            target.table_id or cur.table_id,
        )
    ]
    added = [rel for rel in target.files if rel not in cur.files]
    removed = [rel for rel in cur.files if rel not in target.files]
    for rel in added:
        pvals, dv = target.files[rel]
        actions.append(
            _add(
                rel, pvals, target.file_sizes.get(rel, 0), ts,
                stats=target.file_stats.get(rel), dv=dv,
            )
        )
    actions.extend(_remove(rel, cur.files[rel][0], ts) for rel in removed)
    version = _commit(
        spark, location, cur.version + 1, ts, "RESTORE", {"version": to_version}, actions
    )
    return version, len(added), len(removed)


def describe_history(spark, location: str) -> list[dict]:
    """``DESCRIBE HISTORY``: one row per commit — version, timestamp,
    operation, operationParameters — straight from each commit's
    ``commitInfo`` (log metadata only; no data reads)."""
    from adt_spark.sources.delta_native import _read_file

    commits, _ = _list_log(location)
    if not commits:
        raise FileNotFoundError(f"no Delta log at {location}")
    out: list[dict] = []
    for v, path in commits:
        info: dict = {}
        for line in _read_file(spark, path).splitlines():
            if not line.strip():
                continue
            if ci := json.loads(line).get("commitInfo"):
                info = ci
                break
        out.append(
            {
                "version": v,
                "timestamp": int(info.get("timestamp") or 0),
                "operation": str(info.get("operation") or ""),
                "operationParameters": json.dumps(
                    info.get("operationParameters") or {}
                ),
            }
        )
    return out


def add_constraint(spark, location: str, name: str, expr: str) -> int:
    """``ALTER TABLE … ADD CONSTRAINT <name> CHECK (<expr>)`` — the
    delta-spark semantics end-to-end: the expression must resolve
    against the table schema, EXISTING data must already satisfy it
    (one validation scan; delta-spark does the same full-table check),
    and the commit records ``delta.constraints.<name>`` in the table
    configuration plus a protocol upgrade to writer version 3 (the
    CHECK-constraints version, PROTOCOL.md) when the table is below
    it.  Returns the committed version.
    """
    from pyspark.sql import functions as F

    from adt_spark.sources.delta_native import read_delta_native

    snap = replay_snapshot(spark, location)
    _check_writable(snap, "alter")
    key = f"delta.constraints.{name.lower()}"
    conf = dict(snap.configuration or {})
    if key in conf:
        raise DeltaWriteError(
            f"constraint {name!r} already exists: CHECK ({conf[key]})"
        )
    # resolve the expression against the schema (analysis error = bad
    # column / syntax) on an empty frame — no data read
    try:
        local_frame(spark, [], snap.schema).filter(F.expr(expr)).schema
    except Exception as exc:
        raise DeltaWriteError(
            f"constraint {name!r} does not resolve against the table "
            f"schema: {expr!r} ({exc})"
        ) from None
    n_bad = (
        read_delta_native(spark, location)
        .filter(~F.coalesce(F.expr(expr), F.lit(True)))
        .limit(1)
        .count()
    )
    if n_bad:
        raise DeltaWriteError(
            f"cannot add constraint {name!r}: existing rows violate "
            f"CHECK ({expr})"
        )
    conf[key] = expr
    proto = snap.protocol or {}
    features = set(proto.get("writerFeatures") or [])
    upgrade = None
    if proto.get("minWriterVersion", 2) >= 7 or features:
        # table-features protocol: the constraint obliges writers via
        # the checkConstraints FEATURE, which must be enumerated
        if "checkConstraints" not in features:
            rf, wf = _implied_features(proto)
            upgrade = {
                "minReaderVersion": proto.get("minReaderVersion", 1),
                "minWriterVersion": proto.get("minWriterVersion", 7),
                **(
                    {"readerFeatures": sorted(rf)}
                    if proto.get("minReaderVersion", 1) >= 3
                    else {}
                ),
                "writerFeatures": sorted(wf | {"checkConstraints"}),
            }
    elif proto.get("minWriterVersion", 2) < 3:
        upgrade = {"minReaderVersion": proto.get("minReaderVersion", 1), "minWriterVersion": 3}
    return _alter(
        spark, location, snap, "ADD CONSTRAINT", {"name": name.lower(), "expr": expr},
        conf, upgrade,
    )


def _alter(
    spark, location: str, snap, operation: str, params: dict, conf: dict,
    protocol: dict | None = None,
) -> int:
    """A metadata-only commit: the table's ``metaData`` with
    configuration ``conf``, after a ``protocol`` upgrade when given."""
    ts = int(time.time() * 1000)
    actions = [{"protocol": protocol}] if protocol else []
    actions.append(_metadata(snap.schema, snap.partition_columns, conf, ts, snap.table_id))
    return _commit(spark, location, snap.version + 1, ts, operation, params, actions)


def drop_constraint(spark, location: str, name: str, if_exists: bool = False) -> int:
    """``ALTER TABLE … DROP CONSTRAINT [IF EXISTS] <name>`` — removes
    the ``delta.constraints.<name>`` config key in a metadata-only
    commit.  Returns the committed version (unchanged version when
    ``if_exists`` swallows a missing name, matching delta-spark)."""
    snap = replay_snapshot(spark, location)
    _check_writable(snap, "alter")
    key = f"delta.constraints.{name.lower()}"
    conf = dict(snap.configuration or {})
    if key not in conf:
        if if_exists:
            return snap.version
        raise DeltaWriteError(f"no such constraint {name!r}")
    del conf[key]
    return _alter(spark, location, snap, "DROP CONSTRAINT", {"name": name.lower()}, conf)


def convert_to_delta(spark, location: str) -> int:
    """``CONVERT TO DELTA parquet.`/path``` — delta-spark's in-place
    migration: create a Delta log OVER the existing parquet files (no
    data rewrite, no data movement).  Hive-partitioned layouts
    (``col=value/`` dirs) convert with their partition columns typed
    by Spark's partition inference; per-file statistics come from the
    parquet footers, so file skipping works immediately on the
    converted table.

    At 100 TB this is the entire point of CONVERT versus
    read-and-rewrite: the commit is metadata proportional to the FILE
    COUNT — the data itself never moves.
    """
    from adt_spark.sources import s3_store

    is_url = _is_url(location)
    if is_url:
        existing, cps = _list_log(location, spark)
        if existing or cps:
            raise DeltaWriteError(f"{location} is already a Delta table")
    else:
        log_dir = os.path.join(location, "_delta_log")
        if os.path.isdir(log_dir) and os.listdir(log_dir):
            raise DeltaWriteError(f"{location} is already a Delta table")

    # discover data files from the layout: (relative path, size, footer)
    # on the table's store
    convert_budget = [0]  # ONE materialization budget across all footers
    if is_url and s3_store.is_native_s3(location):
        bkt, key = s3_store._split(location)
        base = f"s3://{bkt}/{key}".rstrip("/") + "/"
        listed = [url[len(base):] for url, _size in s3_store.list_prefix(location)]

        def _footer(rel: str):
            local = s3_store.materialize(_url_join(location, rel), convert_budget)
            return os.path.getsize(local), pq.ParquetFile(local).metadata

    elif is_url:
        jvm, root_p, fs = _hadoop_fs(spark, location)
        prefix = fs.makeQualified(root_p).toString().rstrip("/")
        listed = []
        it = fs.listFiles(root_p, True)
        while it.hasNext():
            listed.append(it.next().getPath().toString()[len(prefix):].strip("/"))

        def _footer(rel: str):
            url = _url_join(location, rel)
            size = fs.getFileStatus(jvm.org.apache.hadoop.fs.Path(url)).getLen()
            return size, _fs_parquet_meta(spark, url)

    else:
        listed = []
        for root, dirs, files in os.walk(location):
            dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
            listed += [
                os.path.relpath(os.path.join(root, name), location).replace(os.sep, "/")
                for name in files
            ]

        def _footer(rel: str):
            abs_path = os.path.join(location, *rel.split("/"))
            return os.path.getsize(abs_path), pq.ParquetFile(abs_path).metadata

    rels: list[tuple[str, dict]] = []
    for rel in listed:
        segs = rel.split("/")
        # prune _delta_log/_staging/hidden files anywhere in the path
        if any(s.startswith(("_", ".")) for s in segs) or not segs[-1].endswith(".parquet"):
            continue
        rels.append((rel, _pvals_from_segments(segs[:-1])))
    if not rels:
        raise DeltaWriteError(f"no parquet files under {location} to convert")

    # partition keys in directory order (outermost first); every file
    # must agree on the key set — mixed layouts are not convertible
    part_cols = list(rels[0][1].keys())
    for rel, pvals in rels:
        if list(pvals.keys()) != part_cols:
            raise DeltaWriteError(
                f"inconsistent partition layout: {rel} has keys "
                f"{list(pvals)} but the table uses {part_cols}"
            )

    # schema: the data columns from one footer (Spark's inference
    # code, run on the driver), partition columns typed by Spark's
    # partition discovery
    df = read_parquet(spark, location)
    data_fields = [f for f in df.schema.fields if f.name not in part_cols]
    part_fields = [f for f in df.schema.fields if f.name in part_cols]
    schema = T.StructType(data_fields + part_fields)

    ts = int(time.time() * 1000)
    actions: list[dict] = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        _metadata(schema, part_cols, {}, ts),
    ]
    for rel, pvals in rels:
        size, meta = _footer(rel)
        # JSON null for null partitions (the log convention every other
        # writer path here uses; the hive string is a DIRECTORY-name
        # encoding only)
        actions.append(_add(rel, pvals, int(size), ts, stats=_file_stats(meta)))
    if is_url:
        _fs_mkdirs(spark, _url_join(location, "_delta_log"))
    else:
        os.makedirs(log_dir, exist_ok=True)
    return _commit(spark, location, 0, ts, "CONVERT", {"numFiles": len(rels)}, actions)


def shallow_clone(
    spark, src: str, dst: str, version: int | None = None
) -> tuple[int, int]:
    """``CREATE TABLE delta.`dst` SHALLOW CLONE delta.`src` [VERSION
    AS OF n]`` — delta-spark's zero-copy fork: the clone's commit 0
    references the source's data files by ABSOLUTE path (the Delta
    spec allows absolute ``add.path``), so cloning costs one metadata
    commit regardless of table size.  Writes to the clone diverge
    copy-on-write (new files land under ``dst``); VACUUM on the clone
    never reclaims source files (absolute paths are outside the
    vacuum boundary).  Returns (clone version 0, files referenced).
    """
    snap = replay_snapshot(spark, src, version)
    for path, (_pvals, dv) in snap.files.items():
        if dv is not None and dv.get("storageType") != "i":
            # INLINE DVs are location-independent and clone verbatim;
            # 'u'/'p' storage references files under the SOURCE table,
            # which the clone's reader would resolve wrongly
            raise DeltaWriteError(
                f"shallow clone: {path} carries a file-backed deletion "
                "vector (OPTIMIZE the source first, or use delta-spark)"
            )
    if _is_url(dst):
        existing, cps = _list_log(dst, spark)
        if existing or cps:
            raise DeltaWriteError(f"{dst} is already a Delta table")
        log_dir = None
    else:
        log_dir = os.path.join(dst, "_delta_log")
        if os.path.isdir(log_dir) and os.listdir(log_dir):
            raise DeltaWriteError(f"{dst} is already a Delta table")
    # A URL src is already absolute — os.path.abspath would mangle the
    # scheme ('viewfs://x' → '<cwd>/viewfs:/x') and silently commit a
    # clone whose add paths resolve nowhere.
    src_abs = src.rstrip("/") if _is_url(src) else os.path.abspath(src)

    def _encoded_abs(rel: str) -> str:
        # The Delta spec (PROTOCOL.md, add.path) requires an absolute
        # add.path to be a URI-ENCODED URI: percent-encode the path
        # portion so a source dir with URI-special characters (space,
        # %, #) round-trips through third-party readers (delta-spark /
        # delta-rs) exactly; our own reader decodes in _data_path.
        from urllib.parse import quote, urlsplit, urlunsplit

        if _is_url(src_abs):
            full = _url_join(src_abs, rel)
            parts = urlsplit(full)
            return urlunsplit(
                (parts.scheme, parts.netloc, quote(parts.path, safe="/"), "", "")
            )
        return quote(os.path.join(src_abs, rel), safe="/")

    ts = int(time.time() * 1000)
    actions: list[dict] = [
        {"protocol": snap.protocol or {"minReaderVersion": 1, "minWriterVersion": 2}},
        # a clone is a NEW table: a fresh table id
        _metadata(snap.schema, snap.partition_columns, snap.configuration or {}, ts),
    ]
    for rel, (pvals, dv) in snap.files.items():
        # an inline DV is location-independent
        actions.append(
            _add(
                _encoded_abs(rel), pvals, snap.file_sizes.get(rel, 0), ts,
                stats=snap.file_stats.get(rel), dv=dv,
            )
        )
    if log_dir is not None:
        os.makedirs(log_dir, exist_ok=True)
    else:
        _fs_mkdirs(spark, _url_join(dst, "_delta_log"))
    params = {"source": src, "sourceVersion": snap.version}
    _commit(spark, dst, 0, ts, "CLONE", params, actions)
    return 0, len(snap.files)


#: Delta spec: converting a legacy protocol to the table-features form
#: must ENUMERATE every feature the legacy versions implied — dropping
#: one (e.g. checkConstraints) would let feature-aware writers skip an
#: obligation the table still carries.
_LEGACY_WRITER_FEATURES = {
    2: {"appendOnly", "invariants"},
    3: {"checkConstraints"},
    4: {"changeDataFeed", "generatedColumns"},
    5: {"columnMapping"},
    6: {"identityColumns"},
}
_LEGACY_READER_FEATURES = {2: {"columnMapping"}}


def _implied_features(proto: dict) -> tuple[set[str], set[str]]:
    """(readerFeatures, writerFeatures) implied by a protocol dict —
    explicit feature lists plus everything its legacy version numbers
    imply."""
    rf = set(proto.get("readerFeatures") or [])
    wf = set(proto.get("writerFeatures") or [])
    wv = proto.get("minWriterVersion", 2)
    rv = proto.get("minReaderVersion", 1)
    if wv < 7:
        for v, feats in _LEGACY_WRITER_FEATURES.items():
            if wv >= v:
                wf |= feats
    if rv < 3:
        for v, feats in _LEGACY_READER_FEATURES.items():
            if rv >= v:
                rf |= feats
    return rf, wf


def set_tblproperties(spark, location: str, props: dict[str, str]) -> int:
    """``ALTER TABLE … SET TBLPROPERTIES (…)`` — metadata-only commit
    updating the table configuration.  Enabling deletion vectors
    (``delta.enableDeletionVectors=true``) also upgrades the protocol
    to the table-features form (reader 3 / writer 7 with the
    ``deletionVectors`` feature), as delta-spark does."""
    snap = replay_snapshot(spark, location)
    _check_writable(snap, "alter")
    conf = dict(snap.configuration or {})
    conf.update({str(k): str(v) for k, v in props.items()})
    proto = snap.protocol or {"minReaderVersion": 1, "minWriterVersion": 2}
    upgrade = None
    if _dv_enabled(conf) and "deletionVectors" not in set(proto.get("writerFeatures") or []):
        rf, wf = _implied_features(proto)
        upgrade = {
            "minReaderVersion": 3,
            "minWriterVersion": 7,
            "readerFeatures": sorted(rf | {"deletionVectors"}),
            "writerFeatures": sorted(wf | {"deletionVectors"}),
        }
    return _alter(
        spark, location, snap, "SET TBLPROPERTIES", {"properties": json.dumps(props)},
        conf, upgrade,
    )


def _dv_mask_actions(
    location: str, snap, by_file: dict[str, list[int]], ts: int
) -> tuple[list[dict], int]:
    """remove+re-add actions masking ``by_file`` row positions with
    inline DVs (positions already deleted are skipped; existing DVs
    union).  Returns (actions, number of freshly masked rows) —
    shared by the DV DELETE/UPDATE/MERGE paths."""
    from adt_spark.sources._roaring import decode_dv, encode_inline_dv

    actions: list[dict] = []
    n_fresh = 0
    for rel, positions in sorted(by_file.items()):
        pvals, old_dv = snap.files[rel]
        already = set(decode_dv(old_dv, location)) if old_dv is not None else set()
        fresh = [int(p) for p in positions if p not in already]
        if not fresh:
            continue
        n_fresh += len(fresh)
        actions.append(_remove(rel, pvals, ts))
        actions.append(
            _add(
                rel, pvals, snap.file_sizes.get(rel, 0), ts,
                stats=snap.file_stats.get(rel),
                dv=encode_inline_dv(sorted(already | set(fresh))),
            )
        )
    return actions, n_fresh


def _delete_with_dvs(
    spark, location: str, predicate: str, snap
) -> tuple[int, int]:
    """DELETE via deletion vectors (Delta protocol 'Deletion Vectors',
    delta-spark's path when ``delta.enableDeletionVectors=true``):
    instead of rewriting every touched file, record the deleted ROW
    POSITIONS per file as an inline roaring bitmap on a re-added
    ``add`` — the data files never move, so delete cost is
    proportional to the MATCHES, not to the bytes of the touched
    files.  Existing DVs union with the new positions."""
    from pyspark.sql import functions as F

    hits = _match_scan(
        spark, location, snap, lambda df: df.filter(F.expr(predicate)), positions=True
    )
    ts = int(time.time() * 1000)
    actions, n_deleted = _dv_mask_actions(location, snap, hits, ts)
    if n_deleted == 0:
        return snap.version, 0
    params = {"predicate": predicate, "deletionVectors": True}
    return _commit(spark, location, snap.version + 1, ts, "DELETE", params, actions), n_deleted


def _update_with_dvs(
    spark, location: str, predicate: str, assignments: dict[str, str], snap, gens_data
) -> tuple[int, int]:
    """UPDATE via deletion vectors (delta-spark's path when
    ``delta.enableDeletionVectors=true``): the pre-update row
    positions are masked with DVs (no rewrite of the touched files)
    and the post-SET rows append as new files in the same atomic
    commit — update cost ∝ matches, not touched-file bytes."""
    from pyspark.sql import functions as F

    from adt_spark.sources.delta_native import read_delta_native

    if snap.column_mapping_mode != "none":
        raise DeltaWriteError(
            "DV-based UPDATE on column-mapped tables is not supported "
            "(disable delta.enableDeletionVectors or use delta-spark)"
        )
    hit = F.coalesce(F.expr(predicate), F.lit(False))
    visible = read_delta_native(spark, location)
    post = visible.filter(hit).select(
        *[
            F.expr(assignments[f.name]).cast(f.dataType).alias(f.name)
            if f.name in assignments
            else F.col(f.name)
            for f in snap.schema.fields
        ]
    )
    for name, ge, dt in gens_data:
        post = post.withColumn(name, F.expr(ge).cast(dt))
    _enforce_constraints(post, snap, "update")

    # pre-update positions per file (minus already-deleted)
    hits = _match_scan(
        spark, location, snap, lambda df: df.filter(F.expr(predicate)), positions=True
    )
    ts = int(time.time() * 1000)
    actions, n_updated = _dv_mask_actions(location, snap, hits, ts)
    if n_updated == 0:
        return snap.version, 0
    actions.extend(_stage(post, location, ts, snap.partition_columns))
    params = {"predicate": predicate, "deletionVectors": True}
    return _commit(spark, location, snap.version + 1, ts, "UPDATE", params, actions), n_updated


def _merge_with_dvs(
    spark, location: str, source: DataFrame, key_cols: list[str], snap
) -> tuple[int, int, int]:
    """MERGE via deletion vectors: matched target rows are masked
    with DVs (no rewrite) and the full source appends as new files in
    one atomic commit — merge cost ∝ matched rows + source size."""
    from adt_spark.sources.delta_native import read_delta_native

    if snap.column_mapping_mode != "none":
        raise DeltaWriteError(
            "DV-based MERGE on column-mapped tables is not supported "
            "(disable delta.enableDeletionVectors or use delta-spark)"
        )
    keys = source.select(*key_cols).distinct()
    n_source = source.count()
    hits = _match_scan(
        spark, location, snap, lambda df: df.join(keys, key_cols), positions=True
    )
    ts = int(time.time() * 1000)
    actions, n_replaced = _dv_mask_actions(location, snap, hits, ts)
    # inserted = source rows whose key matched no VISIBLE target row
    # (duplicate target keys would otherwise drive the count negative)
    n_matched_keys = keys.join(
        read_delta_native(spark, location), key_cols, "left_semi"
    ).count()
    actions.extend(_stage(source, location, ts, snap.partition_columns))
    params = {"predicate": json.dumps(key_cols), "deletionVectors": True}
    version = _commit(spark, location, snap.version + 1, ts, "MERGE", params, actions)
    return version, n_replaced, int(n_source - n_matched_keys)
