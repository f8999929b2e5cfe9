"""Table registration over files — the Spark analog of the reference's
listing-table factory and Delta provider.

Reference behavior being re-expressed (SURVEY.md §2.A):

- A1/A18: format factories for PARQUET / CSV / JSON / NDJSON / AVRO /
  ARROW (crates/core/src/context.rs:37-42, names
  crates/cli/src/cli.rs:6-34) — here a format registry mapping to
  ``spark.read`` configurations.
- A2: hive-partitioned directory handling (listing.rs:67-120) —
  Spark partition discovery is native; explicit partition columns are
  validated against the discovered layout.
- A3: file-extension override (listing.rs:66,161-165) — compressed
  extensions (``.json.gz``) resolve via Spark codec auto-detection.
- A4-A11: Delta (deltatable.rs) — delegated to delta-spark when its
  jars are on the classpath, else a clear ImportError-style gate
  (the container ships without them; SURVEY.md §7 M2).
- URL tables (context.rs:55): ``path_sql_name`` renders the
  ``fmt.`/path``` Spark syntax used by the CLI.

Schema inference at registration mirrors listing.rs:128 (CSV/JSON
infer on registration; parquet/delta schemas are self-describing).
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

from adt_spark.context import read_parquet

#: per-session registration args (original location, pre-mirror) so
#: ``refresh_table`` can re-resolve object-store tables — see the
#: snapshot note in ``register_table``.
_REGISTRATIONS: "weakref.WeakKeyDictionary[SparkSession, dict[str, dict]]" = (
    weakref.WeakKeyDictionary()
)

#: format name (reference cli.rs:6-12 + context.rs:37-42) → reader conf
_FORMATS = {
    "parquet": {"format": "parquet", "options": {}},
    "csv": {"format": "csv", "options": {"header": "true", "inferSchema": "true"}},
    "json": {"format": "json", "options": {"multiLine": "true"}},
    "ndjson": {"format": "json", "options": {}},
    "avro": {"format": "avro", "options": {}},  # spark-avro, else native fallback
    "arrow": {"format": "arrow", "options": {}},  # via adt_spark.sources.arrow_ipc
    "orc": {"format": "orc", "options": {}},  # Spark-native (beyond reference)
    "delta": {"format": "delta", "options": {}},  # needs delta-spark
    "deltatable": {"format": "delta", "options": {}},  # reference alias (cli.rs:8)
}


class UnsupportedFormatError(ValueError):
    pass


def ensure_scheme(location: str) -> str:
    """Path → URL normalization (reference: crates/core/src/utils.rs:3-16
    ``ensure_scheme``): bare paths become file:// URLs, schemes pass
    through; directories keep a trailing slash (deltatable.rs:620-630
    tests this for table locations)."""
    if "://" in location:
        return location
    absolute = os.path.abspath(location)
    if os.path.isdir(absolute) and not absolute.endswith("/"):
        absolute += "/"
    return "file://" + absolute


def register_table(
    spark: SparkSession,
    name: str,
    location: str,
    fmt: str = "parquet",
    partition_cols: list[str] | None = None,
    schema: str | None = None,
    options: dict[str, str] | None = None,
) -> DataFrame:
    """``CREATE EXTERNAL TABLE name STORED AS fmt [PARTITIONED BY …]
    LOCATION loc`` (reference DDL templating: crates/cli/src/main.rs:54-67,
    factory: listing.rs:50-158) → registered temp view + DataFrame.

    Partition columns: for a hive-layout directory Spark discovers
    them natively (typed via partitionColumnTypeInference, appended
    after data columns — the same contract as listing.rs:84-108 /
    deltatable.rs:136-152).  Declaring ``partition_cols`` validates
    they were actually discovered, mirroring the factory's
    ``validate_partitions`` (listing.rs:118-120).

    A PARQUET table with no declared schema and no OPTIONS reads its
    schema from one footer on the driver (``context.read_parquet``),
    as the reference's factory does in-process (listing.rs:50-158):
    ``CREATE EXTERNAL TABLE … STORED AS PARQUET`` and the CLI's
    ``view``/``schema`` submit no schema-inference job.  OPTIONS
    (``mergeSchema`` reads every footer) keep Spark's own inference.

    Snapshot semantics for non-Delta ``s3://`` locations: the prefix
    is mirrored through the jar-free gateway ONCE, at registration —
    the view reads that point-in-time snapshot, and later object-store
    changes are invisible to it (the reference's listing factory reads
    the store live on every scan).  Call :func:`refresh_table` to
    re-resolve against current store state — the mirror is ETag-keyed,
    so an unchanged prefix re-resolves as a pure cache hit.  Delta
    locations already re-replay the log per read and need no refresh.
    """
    key = fmt.lower()
    if key not in _FORMATS:
        raise UnsupportedFormatError(
            f"unknown format {fmt!r}; expected one of {sorted(_FORMATS)}"
        )
    conf = _FORMATS[key]
    _REGISTRATIONS.setdefault(spark, {})[name] = {
        "location": location,
        "fmt": fmt,
        "partition_cols": partition_cols,
        "schema": schema,
        "options": options,
    }
    if location.startswith("s3://") and conf["format"] != "delta":
        # jar-free object-store listing (reference: the factory reads
        # any format off its object store, context.rs:62-79 +
        # listing.rs): mirror the prefix into the local ETag cache as
        # one coherent tree — hive layout, globs and extension
        # detection behave exactly as against the store.  Delta keeps
        # its own gateway (log replay + per-file materialization in
        # delta_native); s3a:// URLs pass through to Hadoop IO.
        from adt_spark.sources import s3_store

        location = s3_store.materialize_tree(location)
    if key == "arrow":
        from adt_spark.sources.arrow_ipc import read_arrow_ipc

        if schema is not None or options:
            # honest refusal beats silently dropping the user's DDL:
            # the Arrow reader derives its schema from the IPC stream
            raise UnsupportedFormatError(
                "declared schemas/OPTIONS are not supported for ARROW "
                "tables (the IPC stream carries its own schema)"
            )
        df = read_arrow_ipc(spark, location)
    elif key == "avro":
        df = _read_avro(spark, location, schema, options)
    elif conf["format"] == "delta":
        from adt_spark.sources.delta import read_delta

        if schema is not None or options:
            raise UnsupportedFormatError(
                "declared schemas/OPTIONS are not supported for DELTA "
                "tables (the transaction log is authoritative)"
            )
        df = read_delta(spark, location)
    elif conf["format"] == "parquet" and schema is None and not options:
        df = read_parquet(spark, location)
    else:
        reader = spark.read.format(conf["format"])
        for k, v in {**conf["options"], **(options or {})}.items():
            reader = reader.option(k, v)
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.load(location)
    if partition_cols:
        missing = [c for c in partition_cols if c not in df.columns]
        if missing:
            raise ValueError(
                f"declared partition columns {missing} not present in "
                f"discovered schema {df.columns} (reference: listing.rs:118-120)"
            )
    df.createOrReplaceTempView(name)
    return df


def refresh_table(spark: SparkSession, name: str) -> DataFrame:
    """Re-resolve a registered table against the CURRENT store state
    (the counterpart of ``register_table``'s snapshot note): re-runs
    registration from the ORIGINAL location, so an ``s3://`` mirror is
    re-keyed on the store's current (key, ETag) set — unchanged
    prefixes are a pure cache hit, changed objects yield a fresh tree
    and the temp view is re-pointed at it."""
    regs = _REGISTRATIONS.get(spark) or {}
    if name not in regs:
        raise KeyError(
            f"table {name!r} was not registered via register_table in "
            f"this session"
        )
    return register_table(spark, name, **regs[name])


def path_sql_name(location: str, fmt: str = "parquet") -> str:
    """URL-table sugar (reference context.rs:55 enable_url_table):
    Spark's ``SELECT * FROM parquet.`/path``` form."""
    fmt_name = _FORMATS.get(fmt.lower(), {"format": fmt})["format"]
    return f"{fmt_name}.`{location}`"


def _read_avro(spark, location, schema, options):
    """AVRO: spark-avro (JVM, vectorized) when the jar is present,
    else the pure-Python native container reader (sources/avro_native
    — the reference's AVRO factory is registered-but-broken,
    context.rs:41 with no avro crate compiled; here the format
    actually reads either way)."""
    try:
        reader = spark.read.format("avro")
        for k, v in (options or {}).items():
            reader = reader.option(k, v)
        if schema is not None:
            reader = reader.schema(schema)
        df = reader.load(location)
        df.schema  # force analysis — raises if the jar is absent
        return df
    except Exception:
        from adt_spark.sources.avro_native import read_avro_native

        if schema is not None or options:
            # the native fallback derives its schema from the Avro
            # container header — refuse rather than silently dropping
            # the user's declared schema/OPTIONS
            raise UnsupportedFormatError(
                "declared schemas/OPTIONS on AVRO tables need the "
                "spark-avro jar; the jar-free native reader takes its "
                "schema from the container header"
            ) from None
        return read_avro_native(spark, location)
