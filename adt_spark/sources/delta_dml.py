"""SQL dispatch for native Delta DML — routes ``DELETE`` / ``UPDATE`` /
``VACUUM`` statements over path tables (``delta.`/path``` URL-table
sugar, reference context.rs:55) to the native copy-on-write writer, so
the engine's SQL entry point covers table mutation without delta-spark
jars.

Grammar (one statement each; the path form only — catalog tables with
delta-spark present parse natively in Spark SQL):

    DELETE FROM delta.`/path` WHERE <predicate>
    UPDATE delta.`/path` SET col = expr [, ...] WHERE <predicate>
    VACUUM delta.`/path` [RETAIN <n> HOURS]
    OPTIMIZE delta.`/path` [ZORDER BY (col, ...)]
    RESTORE [TABLE] delta.`/path` TO VERSION AS OF n
    DESCRIBE HISTORY delta.`/path`
    DESCRIBE DETAIL delta.`/path`
    SHOW TBLPROPERTIES delta.`/path`
    CONVERT TO DELTA parquet.`/path`
    CREATE TABLE delta.`/dst` SHALLOW CLONE delta.`/src` [VERSION AS OF n]
    ALTER TABLE delta.`/path` ADD CONSTRAINT name CHECK (<expr>)
    ALTER TABLE delta.`/path` DROP CONSTRAINT [IF EXISTS] name
    ALTER TABLE delta.`/path` SET TBLPROPERTIES ('k'='v', ...)

Each returns a 1-row metrics DataFrame (affected-row / file counts),
matching the shape Spark's own DML commands report.
"""

from __future__ import annotations

import json
import re

from pyspark.sql import DataFrame, SparkSession

from adt_spark.context import local_frame
from adt_spark.dialect.statement import parse_statement
from adt_spark.dialect.sqltext import _comma_spans, _mask_literals, _top_level_matches

_DELETE = re.compile(
    r"^\s*DELETE\s+FROM\s+delta\.`(?P<path>[^`]+)`\s+WHERE\s+(?P<pred>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE = re.compile(
    r"^\s*UPDATE\s+delta\.`(?P<path>[^`]+)`\s+SET\s+(?P<sets>.+?)"
    r"\s+WHERE\s+(?P<pred>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_OPTIMIZE = re.compile(
    r"^\s*OPTIMIZE\s+delta\.`(?P<path>[^`]+)`"
    r"(?:\s+ZORDER\s+BY\s*\((?P<cols>[^)]+)\))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_RESTORE = re.compile(
    r"^\s*RESTORE\s+(?:TABLE\s+)?delta\.`(?P<path>[^`]+)`"
    r"\s+TO\s+VERSION\s+AS\s+OF\s+(?P<version>\d+)\s*;?\s*$",
    re.IGNORECASE,
)
_HISTORY = re.compile(
    r"^\s*DESCRIBE\s+HISTORY\s+delta\.`(?P<path>[^`]+)`\s*;?\s*$",
    re.IGNORECASE,
)
_DETAIL = re.compile(
    r"^\s*DESCRIBE\s+DETAIL\s+delta\.`(?P<path>[^`]+)`\s*;?\s*$",
    re.IGNORECASE,
)
_TBLPROPS = re.compile(
    r"^\s*SHOW\s+TBLPROPERTIES\s+delta\.`(?P<path>[^`]+)`\s*;?\s*$",
    re.IGNORECASE,
)
_CONVERT = re.compile(
    r"^\s*CONVERT\s+TO\s+DELTA\s+parquet\.`(?P<path>[^`]+)`\s*;?\s*$",
    re.IGNORECASE,
)
_CLONE = re.compile(
    r"^\s*CREATE\s+TABLE\s+delta\.`(?P<dst>[^`]+)`"
    r"\s+SHALLOW\s+CLONE\s+delta\.`(?P<src>[^`]+)`"
    r"(?:\s+VERSION\s+AS\s+OF\s+(?P<version>\d+))?\s*;?\s*$",
    re.IGNORECASE,
)
_VACUUM = re.compile(
    r"^\s*VACUUM\s+delta\.`(?P<path>[^`]+)`"
    r"(?:\s+RETAIN\s+(?P<hours>\d+(?:\.\d+)?)\s+HOURS)?\s*;?\s*$",
    re.IGNORECASE,
)
_ADD_CONSTRAINT = re.compile(
    r"^\s*ALTER\s+TABLE\s+delta\.`(?P<path>[^`]+)`"
    r"\s+ADD\s+CONSTRAINT\s+(?P<name>[A-Za-z_][A-Za-z0-9_]*)"
    r"\s+CHECK\s*\((?P<expr>.+)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_SET_TBLPROPS = re.compile(
    r"^\s*ALTER\s+TABLE\s+delta\.`(?P<path>[^`]+)`"
    r"\s+SET\s+TBLPROPERTIES\s*\((?P<props>.+)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_CONSTRAINT = re.compile(
    r"^\s*ALTER\s+TABLE\s+delta\.`(?P<path>[^`]+)`"
    r"\s+DROP\s+CONSTRAINT\s+(?P<if_exists>IF\s+EXISTS\s+)?"
    r"(?P<name>[A-Za-z_][A-Za-z0-9_]*)\s*;?\s*$",
    re.IGNORECASE,
)


def is_delta_dml(sql: str) -> bool:
    return bool(
        _DELETE.match(sql)
        or _UPDATE.match(sql)
        or _VACUUM.match(sql)
        or _OPTIMIZE.match(sql)
        or _RESTORE.match(sql)
        or _HISTORY.match(sql)
        or _ADD_CONSTRAINT.match(sql)
        or _DROP_CONSTRAINT.match(sql)
        or _DETAIL.match(sql)
        or _TBLPROPS.match(sql)
        or _CONVERT.match(sql)
        or _CLONE.match(sql)
        or _SET_TBLPROPS.match(sql)
    )


_WHERE_RE = re.compile(r"\s+WHERE\s+", re.IGNORECASE)


def _split_update(m: re.Match) -> tuple[str, str]:
    """(SET list, predicate) of a matched UPDATE, split at the first
    WHERE at paren depth 0 outside literals and comments: ``_UPDATE``'s
    lazy match stops at the first `` WHERE `` in the text, even one
    inside a string literal."""
    body = m.string[m.start("sets") : m.end("pred")]
    where = _top_level_matches(_mask_literals(body), _WHERE_RE)
    if not where:
        raise ValueError(f"UPDATE without a WHERE clause: {m.string.strip()!r}")
    return body[: where[0].start()], body[where[0].end() :]


def _split_assignments(sets: str) -> dict[str, str]:
    """``a = expr, b = expr`` → {a: expr, b: expr}; splits on commas at
    paren-depth 0 outside string literals and comments."""
    out: dict[str, str] = {}
    for a, b in _comma_spans(_mask_literals(sets)):
        part = sets[a:b]
        col, eq, expr = part.partition("=")
        if not eq:
            raise ValueError(f"malformed SET assignment: {part.strip()!r}")
        out[col.strip().strip("`")] = expr.strip()
    return out


_TABLE_CHANGES = re.compile(
    r"table_changes\(\s*delta\.`(?P<path>[^`]+)`\s*,\s*(?P<start>\d+)"
    r"(?:\s*,\s*(?P<end>\d+))?\s*\)",
    re.IGNORECASE,
)
_DELTA_URL = re.compile(
    r"\bdelta\.`(?P<path>[^`]+)`"
    r"(?:\s+VERSION\s+AS\s+OF\s+(?P<version>\d+))?",
    re.IGNORECASE,
)


def rewrite_delta_url_tables(spark: SparkSession, sql: str) -> str:
    """``FROM delta.`/path``` URL-table sugar without delta-spark jars:
    register each referenced path as a temp view through the native
    reader and substitute the view name (reference parity: URL tables
    work for every registered format, context.rs:55 + the deltatable
    factory).  With the jars present the syntax is native — callers
    skip this rewrite.  Views are snapshot-per-statement: re-resolved
    on every call, matching the reference's snapshot-per-scan
    (deltatable.rs:293-296).

    Time travel: ``delta.`/path` VERSION AS OF n`` (delta-spark's SQL
    spelling) replays the log only to version n — each (path, version)
    binds its own view.  ``table_changes(delta.`/path`, start[, end])``
    (the delta-spark CDF TVF spelling) binds the native change feed.
    """
    import hashlib

    from adt_spark.sources.delta_native import read_delta_native

    # Automatic file skipping: when the statement references exactly
    # ONE delta URL table and its WHERE clause is a strict conjunction
    # of simple comparisons, feed those terms to the reader's
    # statistics pruner.  Anything the whitelist grammar does not
    # recognize keeps skip_where empty — pruning is an optimization
    # and misparsing toward "no pruning" is always sound (the real
    # WHERE still applies to the returned rows).
    # CDF TVF first (its argument contains the delta URL pattern):
    # table_changes(delta.`path`, start[, end]) -> temp view of
    # the native change feed (delta-spark's TVF spelling).
    def sub_tvf(m: re.Match[str]) -> str:
        from adt_spark.sources.delta_native import table_changes

        path = m.group("path")
        start = int(m.group("start"))
        end = int(m.group("end")) if m.group("end") else None
        name = "delta_cdf_" + hashlib.md5(
            f"{path}@{start}-{end}".encode()
        ).hexdigest()[:10]
        table_changes(spark, path, start, end).createOrReplaceTempView(name)
        return name

    sql = _TABLE_CHANGES.sub(sub_tvf, sql)

    # Pruning requires the WHERE to provably scope to the delta scan's
    # RAW columns: exactly one delta URL table in a statement that is
    # one SELECT (see _conjunctive_terms).
    skip = _conjunctive_terms(sql) if len(_DELTA_URL.findall(sql)) == 1 else None

    def sub(m: re.Match[str]) -> str:
        path = m.group("path")
        version = int(m.group("version")) if m.group("version") else None
        key = f"{path}@{version if version is not None else 'latest'}:{skip!r}"
        name = "delta_url_" + hashlib.md5(key.encode()).hexdigest()[:10]
        read_delta_native(
            spark, path, version=version, skip_where=skip
        ).createOrReplaceTempView(name)
        return name

    return _DELTA_URL.sub(sub, sql)


#: whitelist grammar for skip-safe WHERE clauses: col op literal,
#: AND-joined only.  ORs, functions, subqueries, NOT, BETWEEN — all
#: fall outside and disable pruning (never correctness).
_TERM = r"`?(?P<col>[A-Za-z_][A-Za-z_0-9]*)`?\s*(?P<op>=|<=|>=|<|>)\s*(?P<lit>-?\d+(?:\.\d+)?|'[^']*')"
_TERM_RE = re.compile(_TERM)


def _conjunctive_terms(sql: str) -> list[tuple[str, str, object]] | None:
    """Extract (col, op, value) skip terms from the WHERE clause of a
    statement that is ONE top-level SELECT — no set operator, no WITH,
    no subquery (a subquery or CTE could alias or derive a column of
    the same name — e.g. SELECT * FROM (SELECT id+1 AS id FROM …) WHERE
    id = 5 — and pruning on the raw column would drop matching files;
    in a single SELECT, Spark's WHERE always resolves against the base
    relation, never select-list aliases) — when that clause is
    PROVABLY a pure conjunction of simple comparisons; None otherwise.
    The clause span comes from the statement model, so keywords inside
    literals and comments neither end the clause nor count as SELECTs."""
    st = parse_statement(sql)
    core = st.select if st is not None and st.main_start == 0 else None
    if core is None or st.nested_select:
        return None
    where = next((c for c in core.clauses if c.kind == "where"), None)
    if where is None:
        return None
    clause = st.sql[where.kw_end : where.end].strip().rstrip(";").strip()
    if not clause:
        return None
    parts = re.split(r"\s+AND\s+", clause, flags=re.IGNORECASE)
    terms: list[tuple[str, str, object]] = []
    for part in parts:
        t = _TERM_RE.fullmatch(part.strip())
        if not t:
            return None  # anything unrecognized disables pruning
        lit = t.group("lit")
        value: object
        if lit.startswith("'"):
            value = lit[1:-1]
        elif "." in lit:
            value = float(lit)
        else:
            value = int(lit)
        terms.append((t.group("col"), t.group("op"), value))
    return terms or None


def execute_delta_dml(spark: SparkSession, sql: str) -> DataFrame:
    from adt_spark.sources.delta_native_write import (
        delete_where,
        update_where,
        vacuum,
    )

    if m := _DELETE.match(sql):
        version, n = delete_where(spark, m.group("path"), m.group("pred"))
        return local_frame(
            spark, [(n, version)], "num_affected_rows bigint, version bigint"
        )
    if m := _UPDATE.match(sql):
        sets, pred = _split_update(m)
        version, n = update_where(spark, m.group("path"), pred, _split_assignments(sets))
        return local_frame(
            spark, [(n, version)], "num_affected_rows bigint, version bigint"
        )
    if m := _OPTIMIZE.match(sql):
        from adt_spark.sources.delta_native_write import (
            optimize_compact,
            optimize_zorder,
        )

        path = m.group("path")
        if cols := m.group("cols"):
            zcols = [c.strip().strip("`") for c in cols.split(",")]
            version = optimize_zorder(spark, path, zcols)
            return local_frame(
                spark, [(version, ",".join(zcols))], "version bigint, zorder_by string"
            )
        version = optimize_compact(spark, path)
        return local_frame(spark, [(version,)], "version bigint")
    if m := _RESTORE.match(sql):
        from adt_spark.sources.delta_native_write import restore_table

        version, n_added, n_removed = restore_table(
            spark, m.group("path"), int(m.group("version"))
        )
        return local_frame(
            spark,
            [(version, n_added, n_removed)],
            "version bigint, num_restored_files bigint, num_removed_files bigint",
        )
    if m := _HISTORY.match(sql):
        from adt_spark.sources.delta_native_write import describe_history

        rows = describe_history(spark, m.group("path"))
        return local_frame(
            spark,
            [(r["version"], r["timestamp"], r["operation"], r["operationParameters"])
             for r in rows],
            "version bigint, timestamp bigint, operation string, "
            "operationParameters string",
        )
    if m := _VACUUM.match(sql):
        hours = float(m.group("hours")) if m.group("hours") else 168.0
        deleted = vacuum(spark, m.group("path"), retain_hours=hours)
        return local_frame(spark, [(len(deleted),)], "num_files_deleted bigint")
    if m := _DETAIL.match(sql):
        from adt_spark.sources.delta_native import replay_snapshot

        path = m.group("path")
        snap = replay_snapshot(spark, path)
        n_files = len(snap.files)
        size = sum(snap.file_sizes.get(p, 0) for p in snap.files)
        return local_frame(
            spark,
            [
                (
                    "delta",
                    snap.table_id,
                    path,
                    json.dumps(snap.partition_columns),
                    int(n_files),
                    int(size),
                    json.dumps(dict(snap.configuration or {})),
                    int((snap.protocol or {}).get("minReaderVersion", 1)),
                    int((snap.protocol or {}).get("minWriterVersion", 2)),
                )
            ],
            "format string, id string, location string, partitionColumns string, "
            "numFiles bigint, sizeInBytes bigint, properties string, "
            "minReaderVersion int, minWriterVersion int",
        )
    if m := _CONVERT.match(sql):
        from adt_spark.sources.delta_native_write import convert_to_delta

        version = convert_to_delta(spark, m.group("path"))
        return local_frame(spark, [(version,)], "version bigint")
    if m := _CLONE.match(sql):
        from adt_spark.sources.delta_native_write import shallow_clone

        version, n_files = shallow_clone(
            spark,
            m.group("src"),
            m.group("dst"),
            int(m.group("version")) if m.group("version") else None,
        )
        return local_frame(
            spark, [(version, n_files)], "version bigint, num_referenced_files bigint"
        )
    if m := _TBLPROPS.match(sql):
        from adt_spark.sources.delta_native import replay_snapshot

        snap = replay_snapshot(spark, m.group("path"))
        props = sorted((snap.configuration or {}).items())
        return local_frame(spark, props, "key string, value string")
    if m := _SET_TBLPROPS.match(sql):
        from adt_spark.sources.delta_native_write import set_tblproperties

        props = dict(re.findall(r"'([^']+)'\s*=\s*'([^']*)'", m.group("props")))
        if not props:
            raise ValueError(
                f"no 'key'='value' pairs in SET TBLPROPERTIES: {m.group('props')!r}"
            )
        version = set_tblproperties(spark, m.group("path"), props)
        return local_frame(spark, [(version,)], "version bigint")
    if m := _ADD_CONSTRAINT.match(sql):
        from adt_spark.sources.delta_native_write import add_constraint

        version = add_constraint(
            spark, m.group("path"), m.group("name"), m.group("expr").strip()
        )
        return local_frame(
            spark,
            [(version, m.group("name").lower())],
            "version bigint, constraint string",
        )
    if m := _DROP_CONSTRAINT.match(sql):
        from adt_spark.sources.delta_native_write import drop_constraint

        version = drop_constraint(
            spark,
            m.group("path"),
            m.group("name"),
            if_exists=bool(m.group("if_exists")),
        )
        return local_frame(
            spark,
            [(version, m.group("name").lower())],
            "version bigint, constraint string",
        )
    raise ValueError(f"not a delta DML statement: {sql!r}")
