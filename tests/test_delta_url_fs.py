"""Native Delta read + write through a URL-scheme Hadoop FileSystem.

The reference wires object stores from env and reads the log through
them (context.rs:62-79, deltatable.rs:113-117).  The sandbox has no
live S3, so these tests drive the same code path — scheme-based
``FileSystem.get`` resolution, qualified-``Path`` IO, no ``os.*`` —
through ``viewfs://``, Hadoop's client-side mount-table filesystem
(bundled in hadoop-client-runtime, needs no network): every
``viewfs://adt/…`` access resolves through the mount table, exactly
how an ``s3a://bucket/…`` path would resolve through S3AFileSystem.

Covered end-to-end: table create, append (conditional-put commit),
partitioned write (remote staging listing + renames + footer-only
statistics reads), snapshot replay, data scan, time travel, and
byte-compatibility of the written log with the local reader.
"""

from __future__ import annotations

import pytest

from adt_spark.sources.delta_native import read_delta_native, replay_snapshot
from adt_spark.sources.delta_native_write import write_delta_native


@pytest.fixture()
def viewfs(spark, tmp_path):
    """Mount viewfs://adt/data onto a local tmp dir.  The FileSystem
    CACHE must be off for the scheme: it keys on (scheme, authority),
    so a cached instance would keep serving the FIRST test's mount
    table after tmp_path changed."""
    conf = spark.sparkContext._jsc.hadoopConfiguration()
    conf.set("fs.viewfs.impl.disable.cache", "true")
    conf.set("fs.viewfs.mounttable.adt.link./data", f"file://{tmp_path}")
    yield "viewfs://adt/data"
    conf.unset("fs.viewfs.mounttable.adt.link./data")


def test_url_roundtrip_create_append_timetravel(spark, viewfs, tmp_path):
    loc = f"{viewfs}/t1"
    v0 = write_delta_native(spark.range(0, 5).selectExpr("id", "id * 2 AS x"), loc)
    assert v0 == 0
    v1 = write_delta_native(spark.range(5, 8).selectExpr("id", "id * 2 AS x"), loc)
    assert v1 == 1

    df = read_delta_native(spark, loc)
    assert sorted(r.id for r in df.collect()) == list(range(8))
    snap = replay_snapshot(spark, loc)
    assert snap.version == 1 and len(snap.files) >= 2
    assert snap.file_stats, "URL write must record footer statistics"

    # time travel through the URL scheme
    t0 = read_delta_native(spark, loc, version=0)
    assert sorted(r.id for r in t0.collect()) == list(range(5))

    # the log written through viewfs is byte-compatible with the
    # local-path reader (same files on disk behind the mount)
    local = read_delta_native(spark, str(tmp_path / "t1"))
    assert sorted(map(tuple, local.collect())) == sorted(map(tuple, df.collect()))


def test_url_partitioned_write_and_skipping(spark, viewfs, tmp_path):
    loc = f"{viewfs}/t2"
    src = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b"), (4, "b%x")], "id int, p string"
    )
    write_delta_native(src, loc, partition_by=["p"])
    snap = replay_snapshot(spark, loc)
    assert snap.partition_columns == ["p"]
    # raw (unescaped) partition values in the log; hive-escaped dirs
    pvals = sorted({pv["p"] for pv, _dv in snap.files.values()})
    assert pvals == ["a", "b", "b%x"]
    df = read_delta_native(spark, loc)
    assert sorted((r.id, r.p) for r in df.collect()) == [
        (1, "a"), (2, "a"), (3, "b"), (4, "b%x"),
    ]
    # min/max skipping works off the footer-read statistics
    pruned = read_delta_native(spark, loc, skip_where=[("id", "=", 1)])
    assert {r.id for r in pruned.collect()} >= {1}


def test_url_conditional_put_rejects_existing_version(spark, viewfs):
    from adt_spark.sources.delta_native_write import DeltaWriteError, _atomic_write, _log_path

    loc = f"{viewfs}/t3"
    write_delta_native(spark.range(3).selectExpr("id"), loc)
    with pytest.raises(DeltaWriteError, match="concurrent commit"):
        _atomic_write(_log_path(loc, 0), [{"commitInfo": {}}], spark)


def test_url_convert_clone_checkpoint(spark, viewfs, tmp_path):
    """The remaining maintenance surface on URL tables: CONVERT a bare
    hive-partitioned parquet layout in place, SHALLOW CLONE into a URL
    destination, and write+consume a parquet checkpoint — the writer
    is object-store capable end to end."""
    import adt_spark.sources.delta_native_write as w
    from adt_spark.sources.delta_native import replay_snapshot

    # CONVERT: plain partitioned parquet dir (written via the URL)
    spark.range(6).selectExpr("id", "id % 2 AS p").write.partitionBy("p").parquet(
        f"{viewfs}/t5"
    )
    w.convert_to_delta(spark, f"{viewfs}/t5")
    snap = replay_snapshot(spark, f"{viewfs}/t5")
    assert snap.partition_columns == ["p"] and len(snap.files) >= 2
    assert sorted(r.id for r in read_delta_native(spark, f"{viewfs}/t5").collect()) == list(range(6))
    with pytest.raises(w.DeltaWriteError, match="already a Delta table"):
        w.convert_to_delta(spark, f"{viewfs}/t5")

    # SHALLOW CLONE into a URL destination
    w.shallow_clone(spark, f"{viewfs}/t5", f"{viewfs}/t5clone")
    assert sorted(
        r.id for r in read_delta_native(spark, f"{viewfs}/t5clone").collect()
    ) == list(range(6))

    # checkpoint written through the FS and consumed on replay
    n = w.write_checkpoint(spark, f"{viewfs}/t5")
    assert (tmp_path / "t5" / "_delta_log" / f"{n:020d}.checkpoint.parquet").exists()
    snap2 = replay_snapshot(spark, f"{viewfs}/t5")
    assert snap2.version == snap.version and set(snap2.files) == set(snap.files)


def test_url_cow_dml_roundtrip(spark, viewfs, tmp_path):
    """Copy-on-write DELETE/UPDATE/MERGE on a URL table (no DV
    property): rewrites stage remotely through the staging loop's
    Hadoop-FS seam and the commit is conditional-put."""
    import adt_spark.sources.delta_native_write as w

    loc = f"{viewfs}/t9"
    write_delta_native(
        spark.range(8).selectExpr("id", "id % 2 AS p"), loc, partition_by=["p"]
    )
    v, n = w.delete_where(spark, loc, "id >= 6")
    assert n == 2
    assert sorted(r.id for r in read_delta_native(spark, loc).collect()) == list(range(6))
    v2, n2 = w.update_where(spark, loc, "id = 5", {"id": "50"})
    assert n2 == 1
    src = spark.createDataFrame([(0, 0), (100, 0)], "id long, p long")
    w.merge_upsert(spark, loc, src, ["id"])
    got = sorted(r.id for r in read_delta_native(spark, loc).collect())
    assert got == [0, 1, 2, 3, 4, 50, 100]
    # all data files live under the mounted dir; none strayed locally
    assert all(
        p.suffix != ".parquet" or "t9" in str(p)
        for p in (tmp_path / "t9").rglob("*")
    )


def test_url_log_only_mutators_work(spark, viewfs):
    """Log-only operations run on URL tables: properties, constraints,
    DV-routed DELETE/UPDATE, OPTIMIZE (staging is URL-routed), RESTORE."""
    import adt_spark.sources.delta_native_write as w

    loc = f"{viewfs}/t6"
    write_delta_native(spark.range(10).selectExpr("id", "id % 2 AS p"), loc)
    w.set_tblproperties(spark, loc, {"delta.enableDeletionVectors": "true"})
    v, n = w.delete_where(spark, loc, "id >= 8")
    assert n == 2
    assert sorted(r.id for r in read_delta_native(spark, loc).collect()) == list(range(8))
    v2, n2 = w.update_where(spark, loc, "id = 0", {"id": "100"})
    assert n2 == 1
    assert 100 in {r.id for r in read_delta_native(spark, loc).collect()}
    w.add_constraint(spark, loc, "pos", "id >= 0")
    with pytest.raises(w.DeltaWriteError):
        write_delta_native(
            spark.createDataFrame([(-5, 1)], "id long, p long"), loc
        )
    w.drop_constraint(spark, loc, "pos")
    w.optimize_compact(spark, loc)
    assert sorted(r.id for r in read_delta_native(spark, loc).collect()) == (
        [1, 2, 3, 4, 5, 6, 7, 100]
    )
    w.restore_table(spark, loc, 0)
    assert sorted(r.id for r in read_delta_native(spark, loc).collect()) == list(range(10))


def test_url_vacuum_reclaims_through_fs(spark, viewfs, tmp_path):
    """VACUUM on a URL table deletes dead files through the Hadoop
    FileSystem (retention 0 so the overwrite tombstones qualify)."""
    import adt_spark.sources.delta_native_write as w

    loc = f"{viewfs}/t8"
    write_delta_native(spark.range(4).selectExpr("id"), loc)
    write_delta_native(spark.range(9, 11).selectExpr("id"), loc, mode="overwrite")
    before = {p.name for p in (tmp_path / "t8").glob("*.parquet")}
    # negative retention puts the cutoff strictly in the future —
    # retain_hours=0 races the tombstone's millisecond timestamp
    deleted = w.vacuum(spark, loc, retain_hours=-0.01)
    assert deleted, "overwrite tombstones past retention must be reclaimed"
    after = {p.name for p in (tmp_path / "t8").glob("*.parquet")}
    assert after < before
    # table still reads fine at HEAD
    assert sorted(r.id for r in read_delta_native(spark, loc).collect()) == [9, 10]


def test_url_src_shallow_clone(spark, viewfs, tmp_path):
    """Cloning FROM a URL-scheme source records the source's data
    files under their absolute URL (os.path.abspath would have mangled
    the scheme into '<cwd>/viewfs:/…' — silent metadata corruption);
    the clone then reads through the URL."""
    from adt_spark.sources.delta_native_write import shallow_clone

    src = f"{viewfs}/t7"
    write_delta_native(spark.range(4).selectExpr("id"), src)
    dst = str(tmp_path / "clone_local")
    shallow_clone(spark, src, dst)
    snap = replay_snapshot(spark, dst)
    assert all(p.startswith("viewfs://") for p in snap.files), snap.files
    assert sorted(r.id for r in read_delta_native(spark, dst).collect()) == [0, 1, 2, 3]


def test_url_overwrite_keeps_history(spark, viewfs):
    loc = f"{viewfs}/t4"
    write_delta_native(spark.range(4).selectExpr("id"), loc)
    write_delta_native(
        spark.range(100, 102).selectExpr("id"), loc, mode="overwrite"
    )
    assert sorted(r.id for r in read_delta_native(spark, loc).collect()) == [100, 101]
    assert sorted(r.id for r in read_delta_native(spark, loc, version=0).collect()) == [
        0, 1, 2, 3,
    ]


def test_exists_error_classifier_messages():
    """The message-fallback of _is_already_exists_error must catch
    already-exists phrasings but NEVER negated ones — a missing-parent
    error misread as a lost race would retry at version+1 forever."""
    from adt_spark.sources.delta_native_write import _is_already_exists_error

    for msg in ("File already exists: /x", "rename failed: File exists"):
        assert _is_already_exists_error(Exception(msg))
    for msg in (
        "Parent directory does not exist: /x",
        "Parent path doesn't exist",
        "No such file or directory",
        "connection reset",
    ):
        assert not _is_already_exists_error(Exception(msg))
