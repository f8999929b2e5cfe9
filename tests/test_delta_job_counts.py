"""The Spark jobs each native Delta write submits, pinned.

Each operation runs under its own job group on a small partitioned
table, and the test counts the jobs the group collected.  The counts
are the writer's driver-side cost: a shared match scan that stopped
pruning ``_metadata.row_index``, or a staging loop that added a pass
(a second listing job, a count before the write), shows up here before
it shows up in a benchmark.
"""

from __future__ import annotations

from adt_spark.sources import delta_native_write as w

from conftest import _job_group

#: jobs per operation, recorded from the writer before its staging
#: loop, match scan and commit builder were shared
_PINNED = {
    "append": 1,
    "delete": 3,
    "update": 5,
    "merge": 11,
    "dv delete": 2,
}

_SCHEMA = "id long, x int, region string, day string"


def _rows(spark, rows):
    return spark.createDataFrame(rows, _SCHEMA).coalesce(1)


def _table(spark, loc):
    w.write_delta_native(
        _rows(spark, [(1, 10, "r1", "d1"), (2, 20, "r1", "d2"), (3, 30, "r2", "d1"),
                      (4, 40, "r1", "d2"), (5, 50, "r2", "d2")]),
        loc,
        partition_by=["region", "day"],
    )


def test_write_job_counts_are_pinned(spark, tmp_path):
    loc = str(tmp_path / "t")
    dv = str(tmp_path / "dv")
    _table(spark, loc)
    _table(spark, dv)
    w.set_tblproperties(spark, dv, {"delta.enableDeletionVectors": "true"})
    ops = {
        "append": lambda: w.write_delta_native(_rows(spark, [(6, 60, "r1", "d1")]), loc),
        "delete": lambda: w.delete_where(spark, loc, "id = 2"),
        "update": lambda: w.update_where(spark, loc, "x >= 40", {"x": "x + 1"}),
        "merge": lambda: w.merge_upsert(
            spark, loc, _rows(spark, [(1, 11, "r1", "d1"), (7, 70, "r3", "d1")]), ["id"]
        ),
        "dv delete": lambda: w.delete_where(spark, dv, "id = 3"),
    }
    got = {}
    for name, op in ops.items():
        with _job_group(spark, f"delta-jobs-{name}") as ids:
            op()
        got[name] = len(ids)
    assert got == _PINNED
