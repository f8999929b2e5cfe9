"""Arrow IPC file source (SURVEY.md gap G3 — Spark has no native
Arrow-IPC reader; the reference registers an ARROW listing factory,
crates/core/src/context.rs:42).

Two paths:

- ``read_arrow_ipc``: driver-side ``pyarrow.ipc`` open →
  ``spark.createDataFrame`` over the Arrow table (Arrow-optimized
  conversion).  Right for dimension-sized IPC files.
- ``read_arrow_ipc_distributed``: for large/multi-file IPC datasets —
  lists files, parallelizes (file, batch_range) splits, and decodes
  *inside* ``mapInPandas``-style tasks so no single node materializes
  the dataset.  This is the 100 TB-posture path: per-file record-batch
  streaming, schema pinned up front.
"""

from __future__ import annotations

import glob
import os
from collections.abc import Iterator

import pandas as pd
import pyarrow as pa
import pyarrow.ipc

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import from_arrow_schema

from adt_spark.context import local_frame


def _ipc_paths(location: str) -> list[str]:
    location = location.removeprefix("file://")
    if os.path.isdir(location):
        return sorted(
            p
            for ext in ("*.arrow", "*.ipc", "*.feather")
            for p in glob.glob(os.path.join(location, ext))
        )
    return [location]


def _open_reader(path: str):
    """IPC file (random access) or stream format, by magic bytes."""
    with open(path, "rb") as fh:
        magic = fh.read(6)
    if magic == b"ARROW1":
        return pa.ipc.open_file(path)
    return pa.ipc.open_stream(path)


def read_arrow_ipc(spark: SparkSession, location: str) -> DataFrame:
    """Small-file path: read via pyarrow on the driver, hand the Arrow
    table to Spark (zero-copy into the session's Arrow conversion)."""
    paths = _ipc_paths(location)
    if not paths:
        raise FileNotFoundError(f"no Arrow IPC files at {location}")
    tables = []
    for path in paths:
        reader = _open_reader(path)
        tables.append(
            reader.read_all() if hasattr(reader, "read_all") else pa.Table.from_batches(list(reader))
        )
    merged = pa.concat_tables(tables)
    # pin the Spark schema from the ARROW schema: an untyped
    # to_pandas() round-trip turns int64-with-nulls into float64
    # (precision loss + a different dtype than the distributed path)
    return spark.createDataFrame(
        merged.to_pandas(), schema=from_arrow_schema(merged.schema)
    )


def read_arrow_ipc_distributed(spark: SparkSession, location: str) -> DataFrame:
    """Large-dataset path: one Spark task per IPC file; each task
    streams record batches through pandas — no driver materialization.

    The file list is tiny metadata; decode is executor-side.  On a
    real cluster the paths must be on shared storage (the same
    contract as every Spark file source).
    """
    paths = _ipc_paths(location)
    if not paths:
        raise FileNotFoundError(f"no Arrow IPC files at {location}")
    schema = from_arrow_schema(_open_reader(paths[0]).schema)
    paths_df = local_frame(spark, [(p,) for p in paths], "path string").repartition(
        min(len(paths), 64)
    )

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for path in pdf["path"]:
                reader = _open_reader(path)
                iterator = reader if not hasattr(reader, "get_batch") else (
                    reader.get_batch(i) for i in range(reader.num_record_batches)
                )
                for batch in iterator:
                    yield batch.to_pandas()

    return paths_df.mapInPandas(decode, schema=schema)


def write_arrow_ipc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Arrow IPC file sink — one ``part-N.arrow`` IPC *file-format*
    file per partition, written executor-side via ``mapInArrow`` (no
    driver materialization; the write parallelism is the scan/shuffle
    parallelism, the only sink shape that holds at 100 TB).  On a real
    cluster ``path`` must be shared storage — the same contract as
    every Spark file sink.

    The reference registers ARROW only as a *read* factory
    (crates/core/src/context.rs:42); the writer completes the format
    matrix so COPY … STORED AS ARROW round-trips.
    """
    import shutil
    from pyspark.sql.functions import lit
    from pyspark.sql.pandas.types import to_arrow_schema

    path = path.removeprefix("file://")
    if os.path.exists(path):
        if mode != "overwrite":
            raise FileExistsError(path)
        shutil.rmtree(path)
    os.makedirs(path, exist_ok=True)
    arrow_schema = to_arrow_schema(df.schema)

    def write_partition(batches: "Iterator[pa.RecordBatch]") -> "Iterator[pa.RecordBatch]":
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        writer = None
        n = 0
        try:
            for batch in batches:
                if writer is None:
                    writer = pa.ipc.new_file(
                        os.path.join(path, f"part-{pid:05d}.arrow"), arrow_schema
                    )
                writer.write_batch(batch)
                n += len(batch)
            if writer is None and pid == 0:
                # empty result: still write ONE schema-bearing file so
                # the directory round-trips as an empty table (the
                # parquet/CSV sinks behave the same way)
                writer = pa.ipc.new_file(
                    os.path.join(path, f"part-{pid:05d}.arrow"), arrow_schema
                )
        finally:
            if writer is not None:
                writer.close()
        yield pa.RecordBatch.from_pydict({"n": pa.array([n], pa.int64())})

    counts = df.mapInArrow(write_partition, schema="n long")
    counts.write.format("noop").mode("overwrite").save()
