"""Output checks: a column digest computed by the engine and by DuckDB.

A statement's result is reduced to one row per engine: the row count
and, per column, the non-null count, sum, absolute sum, minimum and
maximum of a numeric image of the column (string length for sums,
epoch microseconds or days for temporal types).  Both engines compute
the digest over the same statement on the same files, so comparing
digests checks the result without moving it into Python.  Float sums
are compared with a tolerance scaled by the absolute sum, because the
two engines add in different orders.
"""

from __future__ import annotations

import hashlib
import json
import math
import os

#: digest parts per column kind, as (Spark SQL, DuckDB SQL) templates
_PARTS = {
    "num": [
        ("count({c})", "count({c})"),
        ("sum(CAST({c} AS DOUBLE))", "sum(CAST({c} AS DOUBLE))"),
        ("sum(abs(CAST({c} AS DOUBLE)))", "sum(abs(CAST({c} AS DOUBLE)))"),
        ("min(CAST({c} AS DOUBLE))", "min(CAST({c} AS DOUBLE))"),
        ("max(CAST({c} AS DOUBLE))", "max(CAST({c} AS DOUBLE))"),
    ],
    "str": [
        ("count({c})", "count({c})"),
        ("sum(length({c}))", "sum(length({c}))"),
        ("min({c})", "min({c})"),
        ("max({c})", "max({c})"),
    ],
    "ts": [
        ("count({c})", "count({c})"),
        ("sum(CAST(unix_micros({c}) AS DOUBLE))", "sum(CAST(epoch_us({c}) AS DOUBLE))"),
        ("sum(abs(CAST(unix_micros({c}) AS DOUBLE)))", "sum(abs(CAST(epoch_us({c}) AS DOUBLE)))"),
        ("min(unix_micros({c}))", "min(epoch_us({c}))"),
        ("max(unix_micros({c}))", "max(epoch_us({c}))"),
    ],
    "date": [
        ("count({c})", "count({c})"),
        ("sum(CAST(unix_date({c}) AS DOUBLE))", "sum(CAST({c} - DATE '1970-01-01' AS DOUBLE))"),
        ("sum(abs(CAST(unix_date({c}) AS DOUBLE)))", "sum(abs(CAST({c} - DATE '1970-01-01' AS DOUBLE)))"),
        ("min(unix_date({c}))", "min({c} - DATE '1970-01-01')"),
        ("max(unix_date({c}))", "max({c} - DATE '1970-01-01')"),
    ],
    "bool": [
        ("count({c})", "count({c})"),
        ("sum(CAST({c} AS INT))", "sum(CAST({c} AS INT))"),
    ],
    "other": [("count({c})", "count({c})")],
}


def _kind(dtype) -> str:
    from pyspark.sql import types as T

    if isinstance(dtype, T.NumericType):
        return "num"
    if isinstance(dtype, T.StringType):
        return "str"
    if isinstance(dtype, (T.TimestampType, T.TimestampNTZType)):
        return "ts"
    if isinstance(dtype, T.DateType):
        return "date"
    if isinstance(dtype, T.BooleanType):
        return "bool"
    return "other"


def digest_frame(df):
    """The one-row digest of ``df`` as a DataFrame to execute, and the
    function that turns its collected rows into the digest."""
    from pyspark.sql import functions as F

    cols = [(f.name, _kind(f.dataType)) for f in df.schema.fields]
    exprs = [F.count(F.lit(1))]
    for name, kind in cols:
        quoted = "`" + name.replace("`", "``") + "`"
        exprs += [F.expr(spark.format(c=quoted)) for spark, _ in _PARTS[kind]]
    return df.agg(*exprs), lambda rows: {
        "columns": cols,
        "values": [_plain(v) for v in rows[0]],
    }


def duck_digest(con, statement: str, cols: list) -> list:
    """DuckDB's digest of ``statement`` for the columns ``cols``."""
    parts = ["count(*)"]
    for name, kind in cols:
        quoted = '"' + name.replace('"', '""') + '"'
        parts += [duck.format(c=quoted) for _, duck in _PARTS[kind]]
    body = statement.strip().rstrip(";")
    row = con.execute(f"SELECT {', '.join(parts)} FROM ({body}) AS __perfbench").fetchone()
    return [_plain(v) for v in row]


def _plain(v):
    if v is None or isinstance(v, (str, bool)):
        return v
    return float(v)


def compare(got: dict, want_columns: list[str], want_values: list) -> str | None:
    """``None`` when the digests agree, else what differs."""
    names = [n for n, _ in got["columns"]]
    if names != want_columns:
        extra = [n for n in names if n not in want_columns]
        missing = [n for n in want_columns if n not in names]
        return f"columns differ: extra {extra}, missing {missing}"
    values = got["values"]
    if values[0] != want_values[0]:
        return f"row count {values[0]:.0f} != {want_values[0]:.0f}"
    i = 1
    for name, kind in got["columns"]:
        width = len(_PARTS[kind])
        mine, theirs = values[i : i + width], want_values[i : i + width]
        # the third part of a num/ts/date digest is the absolute sum:
        # the scale of the rounding error a reordered float sum carries
        scale = theirs[2] if kind in ("num", "ts", "date") and theirs[2] else 0.0
        for a, b in zip(mine, theirs):
            if not _close(a, b, scale):
                return f"column {name}: {mine} != {theirs}"
        i += width
    return None


def _close(a, b, scale: float) -> bool:
    if a is None or b is None or isinstance(a, str) or isinstance(b, str):
        return a == b
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9 * scale + 1e-9)


class Oracle:
    """DuckDB over every table of one input directory, with answers
    cached on disk (they depend only on the statement, the files and the
    columns)."""

    def __init__(self, data_dir: str, cache_dir: str) -> None:
        import duckdb

        from datagen import duck_source

        self.key = os.path.realpath(data_dir)
        self.cache_dir = cache_dir
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        self.con.execute("SET enable_progress_bar = false")
        for name in sorted(os.listdir(data_dir)):
            if name.endswith(".parquet"):
                t = name[: -len(".parquet")]
                self.con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{duck_source(data_dir, t)}')"
                )

    def answer(self, statement: str, cols: list) -> list:
        h = hashlib.sha1(json.dumps([self.key, statement, cols]).encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{h}.json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)
        values = duck_digest(self.con, statement, cols)
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(values, fh)
        os.replace(tmp, path)
        return values

    def columns(self, statement: str) -> list[str]:
        body = statement.strip().rstrip(";")
        return [d[0] for d in self.con.execute(
            f"SELECT * FROM ({body}) AS __perfbench LIMIT 0"
        ).description]

    def check(self, statement: str, got: dict) -> str | None:
        """Compare the engine's digest ``got`` with DuckDB's answer for
        the same statement; ``None`` when they agree."""
        names = self.columns(statement)
        if [n for n, _ in got["columns"]] != names:
            return compare(got, names, [])
        return compare(got, names, self.answer(statement, got["columns"]))

    def close(self) -> None:
        self.con.close()
