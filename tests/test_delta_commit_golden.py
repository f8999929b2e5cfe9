"""The native Delta writer's commit log, pinned operation by operation.

``tests/fixtures/delta_commit_golden.json`` holds, for a fixed script of
writer operations, each operation's return value and every commit it
wrote to ``_delta_log``.  The script runs twice: on a local path and on
the ``viewfs://`` URL store ``tests/test_delta_url_fs.py`` uses (the
Hadoop-FileSystem route an ``s3a://`` table takes).  It covers:

- WRITE: append and overwrite, partitioned and unpartitioned, and an
  idempotent append (``txn``);
- copy-on-write DELETE, UPDATE and MERGE, partitioned and unpartitioned;
- OPTIMIZE (compaction and ZORDER), ADD / DROP CONSTRAINT, RESTORE,
  SET TBLPROPERTIES;
- deletion-vector DELETE, UPDATE and MERGE;
- CONVERT TO DELTA and SHALLOW CLONE;
- DELETE, UPDATE and MERGE on a column-mapped (name mode) table.

Before comparing, each action is normalized: timestamps, table ids,
the scratch root and the ``part-<uuid>`` file names are masked, and the
``add`` / ``remove`` actions of a commit compare as a multiset (their
order is not part of the log's meaning).  Every input is one Spark
partition, so the file count and each file's statistics do not depend
on the core count.  A refactor of the writer must leave every entry
unchanged.

Regenerate the fixture (only from code whose output is known good;
about a minute) with::

    python tests/test_delta_commit_golden.py
"""

from __future__ import annotations

import json
import os
import pathlib
import re
import sys
import tempfile

import pytest

_FIXTURE = pathlib.Path(__file__).resolve().parent / "fixtures" / "delta_commit_golden.json"
_VIEWFS = "viewfs://adt/data"
#: file names the writer and Spark's parquet writer mint
_PART_NAME = re.compile(r"part-[0-9A-Za-z-]+(?:\.c000)?(?:\.snappy)?\.parquet")
#: the one masked field of each action kind
_MASKED = {
    "commitInfo": ("timestamp",),
    "metaData": ("id", "createdTime"),
    "add": ("modificationTime",),
    "remove": ("deletionTimestamp",),
    "txn": ("lastUpdated",),
}


def _normalize(action: dict, root: str) -> dict:
    text = json.dumps(action, sort_keys=True).replace(root, "<root>")
    out = json.loads(_PART_NAME.sub("part-<uuid>.parquet", text))
    kind, body = next(iter(out.items()))
    for key in _MASKED.get(kind, ()):
        if key in body:
            body[key] = "<masked>"
    return out


def _commits(disk: str, table: str, root: str) -> list[dict]:
    """Every commit of ``table`` (read from its local directory), with
    the file actions sorted so they compare as a multiset."""
    log = os.path.join(disk, table, "_delta_log")
    out = []
    for name in sorted(os.listdir(log)):
        if not name.endswith(".json"):
            continue
        with open(os.path.join(log, name)) as f:
            actions = [_normalize(json.loads(line), root) for line in f if line.strip()]
        files = [a for a in actions if next(iter(a)) in ("add", "remove")]
        out.append(
            {
                "version": int(name[:-5]),
                "actions": [a for a in actions if a not in files],
                "files": sorted(files, key=lambda a: json.dumps(a, sort_keys=True)),
            }
        )
    return out


def _mapped_table(spark, disk: str) -> None:
    """A name-mapped table partitioned by ``p`` (physical ``col-3``),
    one data file written under physical column names."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import types as T

    t = os.path.join(disk, "mapped")
    os.makedirs(os.path.join(t, "_delta_log"))
    os.makedirs(os.path.join(t, "col-3=7"))

    def fld(name, dt, fid, phys):
        return T.StructField(
            name,
            dt,
            True,
            {"delta.columnMapping.id": fid, "delta.columnMapping.physicalName": phys},
        )

    logical = T.StructType(
        [
            fld("id", T.LongType(), 1, "col-1"),
            fld("val", T.StringType(), 2, "col-2"),
            fld("p", T.IntegerType(), 3, "col-3"),
        ]
    )
    pq.write_table(
        pa.table({"col-1": pa.array([1, 2, 3], pa.int64()), "col-2": ["x", "y", "z"]}),
        os.path.join(t, "col-3=7", "a.parquet"),
    )
    with open(os.path.join(t, "_delta_log", f"{0:020d}.json"), "w") as f:
        for action in (
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            {
                "metaData": {
                    "id": "mapped",
                    "format": {"provider": "parquet", "options": {}},
                    "schemaString": logical.json(),
                    "partitionColumns": ["p"],
                    "configuration": {"delta.columnMapping.mode": "name"},
                }
            },
            {
                "add": {
                    "path": "col-3=7/a.parquet",
                    "partitionValues": {"col-3": "7"},
                    "size": 1,
                    "modificationTime": 0,
                    "dataChange": True,
                }
            },
        ):
            f.write(json.dumps(action) + "\n")


def _run_script(spark, base: str, disk: str) -> dict:
    """Run every operation against tables under ``base`` (whose files
    live under the local directory ``disk``); returns each step's
    result and each table's normalized commits."""
    from adt_spark.sources import delta_native_write as w

    def df(rows, schema):
        return spark.createDataFrame(rows, schema).coalesce(1)

    flat_schema = "id long, v string, x int"
    part_schema = "id long, x int, region string, day string"
    flat, part = f"{base}/flat", f"{base}/part"
    conv, clone, mapped = f"{base}/conv", f"{base}/clone", f"{base}/mapped"
    steps = [
        ("flat append create", lambda: w.write_delta_native(
            df([(i, f"s{i}", i * 10) for i in range(6)], flat_schema), flat)),
        ("flat append txn", lambda: w.write_delta_native(
            df([(i, f"s{i}", i * 10) for i in range(6, 10)], flat_schema), flat,
            txn=("app", 1))),
        ("flat delete", lambda: w.delete_where(spark, flat, "id = 2")),
        ("flat update", lambda: w.update_where(spark, flat, "id >= 7", {"x": "x + 100"})),
        ("flat merge", lambda: w.merge_upsert(
            spark, flat, df([(1, "m1", -1), (20, "m20", 200)], flat_schema), ["id"])),
        ("flat optimize compact", lambda: w.optimize_compact(spark, flat)),
        ("flat optimize zorder", lambda: w.optimize_zorder(
            spark, flat, ["id", "x"], target_files=2)),
        ("flat add constraint", lambda: w.add_constraint(spark, flat, "pos", "id >= 0")),
        ("flat drop constraint", lambda: w.drop_constraint(spark, flat, "pos")),
        ("flat restore", lambda: w.restore_table(spark, flat, 1)),
        ("flat overwrite", lambda: w.write_delta_native(
            df([(i, f"o{i}", i) for i in range(8)], flat_schema), flat, mode="overwrite")),
        ("flat set tblproperties", lambda: w.set_tblproperties(
            spark, flat, {"delta.enableDeletionVectors": "true"})),
        ("flat dv delete", lambda: w.delete_where(spark, flat, "id = 3")),
        ("flat dv update", lambda: w.update_where(spark, flat, "id = 4", {"x": "x * 2"})),
        ("flat dv merge", lambda: w.merge_upsert(
            spark, flat, df([(5, "m5", 55), (30, "m30", 300)], flat_schema), ["id"])),
        ("clone", lambda: w.shallow_clone(spark, flat, clone)),
        ("part append create", lambda: w.write_delta_native(
            df([(1, 10, "r1", "d1"), (2, 20, "r1", "d2"), (3, 30, "r2", "d1"),
                (9, 90, "r1", "d2"), (10, 100, "r1", "d1")], part_schema),
            part, partition_by=["region", "day"])),
        ("part append", lambda: w.write_delta_native(
            df([(4, 40, "r1", "d2"), (5, 50, "r2", "d2")], part_schema), part)),
        ("part delete", lambda: w.delete_where(spark, part, "id = 2")),
        ("part update", lambda: w.update_where(spark, part, "x >= 30", {"x": "x + 1"})),
        ("part merge", lambda: w.merge_upsert(
            spark, part, df([(1, 11, "r1", "d1"), (6, 60, "r3", "d1")], part_schema), ["id"])),
        ("part overwrite", lambda: w.write_delta_native(
            df([(7, 70, "r1", "d1"), (8, 80, "r2", "d2")], part_schema), part,
            mode="overwrite")),
        ("convert", lambda: (
            df([(1, "a", 1), (2, "b", 1), (3, "c", 2)], "id long, s string, p int")
            .write.partitionBy("p").parquet(conv),
            w.convert_to_delta(spark, conv),
        )[1]),
        ("mapped delete", lambda: (_mapped_table(spark, disk),
                                   w.delete_where(spark, mapped, "id = 1"))[1]),
        ("mapped update", lambda: w.update_where(
            spark, mapped, "val = 'y'", {"val": "upper(val)"})),
        ("mapped merge", lambda: w.merge_upsert(
            spark, mapped, df([(3, "z3", 7), (9, "n9", 8)], "id long, val string, p int"),
            ["id"])),
    ]
    results = [[label, json.loads(json.dumps(fn()))] for label, fn in steps]
    return {
        "steps": results,
        "logs": {
            t: _commits(disk, t, base)
            for t in ("flat", "clone", "part", "conv", "mapped")
        },
    }


def _mount_viewfs(spark, disk: str) -> None:
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    conf.set("fs.viewfs.impl.disable.cache", "true")
    conf.set("fs.viewfs.mounttable.adt.link./data", f"file://{disk}")


def _unmount_viewfs(spark) -> None:
    spark.sparkContext._jsc.hadoopConfiguration().unset("fs.viewfs.mounttable.adt.link./data")


def _record(spark, store: str, disk: str) -> dict:
    if store == "local":
        return _run_script(spark, disk, disk)
    _mount_viewfs(spark, disk)
    try:
        return _run_script(spark, _VIEWFS, disk)
    finally:
        _unmount_viewfs(spark)


@pytest.mark.parametrize("store", ["local", "viewfs"])
def test_commit_log_matches_golden(spark, tmp_path, store):
    want = json.loads(_FIXTURE.read_text())[store]
    got = _record(spark, store, str(tmp_path))
    assert got["steps"] == want["steps"]
    for table, commits in want["logs"].items():
        assert len(got["logs"][table]) == len(commits), table
        for g, c in zip(got["logs"][table], commits):
            assert g == c, (table, c["version"])


def main() -> None:
    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent))
    from adt_spark import ADTContext

    spark = ADTContext(app_name="delta-commit-golden").spark
    out = {}
    for store in ("local", "viewfs"):
        with tempfile.TemporaryDirectory() as disk:
            out[store] = _record(spark, store, disk)
    _FIXTURE.write_text(json.dumps(out, indent=1, sort_keys=True) + "\n")
    spark.stop()


if __name__ == "__main__":
    main()
