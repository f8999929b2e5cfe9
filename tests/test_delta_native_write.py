"""Native Delta writer round-trips: create/append/overwrite,
partitioned layout, time travel, log structure."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from adt_spark.sources.delta_native import read_delta_native, replay_snapshot
from adt_spark.sources.delta_native_write import DeltaWriteError, write_delta_native


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_create_and_read_back(spark, tmp_path):
    loc = str(tmp_path / "t1")
    src = spark.range(10).select(F.col("id"), (F.col("id") % 3).alias("m"))
    v = write_delta_native(src, loc)
    assert v == 0
    got = read_delta_native(spark, loc)
    assert _rows(got) == _rows(src)
    # log structure: single commit with protocol+metaData+adds
    log = [json.loads(l) for l in open(os.path.join(loc, "_delta_log", f"{0:020d}.json"))]
    kinds = [next(iter(a)) for a in log]
    assert kinds[0] == "commitInfo"
    assert "protocol" in kinds and "metaData" in kinds and "add" in kinds
    proto = next(a["protocol"] for a in log if "protocol" in a)
    assert proto == {"minReaderVersion": 1, "minWriterVersion": 2}
    add = next(a["add"] for a in log if "add" in a)
    assert json.loads(add["stats"])["numRecords"] >= 1
    # no staging residue
    assert not [d for d in os.listdir(loc) if d.startswith("_staging")]


def test_append_and_time_travel(spark, tmp_path):
    loc = str(tmp_path / "t2")
    write_delta_native(spark.range(5).select("id"), loc)
    v = write_delta_native(spark.range(5, 8).select("id"), loc, mode="append")
    assert v == 1
    assert read_delta_native(spark, loc).count() == 8
    # time travel back to version 0
    assert read_delta_native(spark, loc, version=0).count() == 5


def test_overwrite_keeps_history(spark, tmp_path):
    loc = str(tmp_path / "t3")
    write_delta_native(spark.range(6).select("id"), loc)
    v = write_delta_native(spark.range(100, 102).select("id"), loc, mode="overwrite")
    assert v == 1
    got = read_delta_native(spark, loc)
    assert _rows(got) == [(100,), (101,)]
    assert read_delta_native(spark, loc, version=0).count() == 6
    snap = replay_snapshot(spark, loc)
    assert len(snap.files) >= 1


def test_partitioned_write(spark, tmp_path):
    loc = str(tmp_path / "t4")
    src = spark.range(12).select(
        F.col("id"), (F.col("id") % 2).cast("int").alias("even")
    )
    write_delta_native(src, loc, partition_by=["even"])
    got = read_delta_native(spark, loc)
    # partition cols come back typed and appended after data cols
    assert got.columns == ["id", "even"]
    assert dict(got.dtypes)["even"] == "int"
    assert _rows(got.select("id", "even")) == _rows(src)
    # hive layout on disk
    assert sorted(d for d in os.listdir(loc) if d.startswith("even=")) == [
        "even=0",
        "even=1",
    ]
    # append respects partitioning; omitting partition_by inherits the
    # table's (delta-spark UX); an explicit WRONG partition_by rejects
    write_delta_native(
        spark.range(12, 14).select(F.col("id"), (F.col("id") % 2).cast("int").alias("even")),
        loc,
        mode="append",
        partition_by=["even"],
    )
    assert read_delta_native(spark, loc).count() == 14
    write_delta_native(
        spark.range(14, 15).select(F.col("id"), (F.col("id") % 2).cast("int").alias("even")),
        loc,
        mode="append",
    )
    assert read_delta_native(spark, loc).count() == 15
    assert sorted(
        r.even for r in read_delta_native(spark, loc).filter(F.col("id") == 14).collect()
    ) == [0]
    with pytest.raises(DeltaWriteError, match="partition mismatch"):
        write_delta_native(src, loc, mode="append", partition_by=["id"])


def test_schema_mismatch_rejected(spark, tmp_path):
    loc = str(tmp_path / "t5")
    write_delta_native(spark.range(3).select("id"), loc)
    with pytest.raises(DeltaWriteError, match="schema mismatch"):
        write_delta_native(
            spark.range(3).select(F.col("id").alias("other")), loc, mode="append"
        )


def test_concurrent_commit_refused(spark, tmp_path):
    loc = str(tmp_path / "t6")
    write_delta_native(spark.range(3).select("id"), loc)
    # a racing writer that lands version 1 first: the next write sees
    # it during replay and cleanly advances to version 2 …
    racing = os.path.join(loc, "_delta_log", f"{1:020d}.json")
    open(racing, "w").write('{"commitInfo":{}}\n')
    assert write_delta_native(spark.range(3).select("id"), loc, mode="append") == 2
    # … while a true same-version race (target commit appearing after
    # replay, before publish) is refused by the atomic-write guard.
    from adt_spark.sources.delta_native_write import _atomic_write

    with pytest.raises(DeltaWriteError, match="concurrent commit"):
        _atomic_write(racing, [{"commitInfo": {}}])


def test_copy_to_delta_sink(spark, sf_dir, tmp_path):
    """COPY (SELECT …) TO 'path' STORED AS deltatable → native delta
    writer when delta-spark jars are absent; read back natively."""
    from adt_spark.context import ADTContext

    ctx = ADTContext.__new__(ADTContext)
    ctx.spark = spark
    spark.read.parquet(os.path.join(sf_dir, "region.parquet")).createOrReplaceTempView(
        "region_src"
    )
    loc = str(tmp_path / "delta_sink")
    out = ctx.sql(
        f"COPY (SELECT r_regionkey, r_name FROM region_src) TO '{loc}' STORED AS deltatable"
    )
    assert out.first()["count"] == 5
    got = read_delta_native(spark, loc)
    assert got.count() == 5
    assert got.columns == ["r_regionkey", "r_name"]


def test_checkpoint_roundtrip(spark, tmp_path):
    """After a checkpoint, the snapshot replays from the parquet
    checkpoint alone — JSON commits at or before it are not needed."""
    from adt_spark.sources.delta_native_write import write_checkpoint

    loc = str(tmp_path / "t7")
    write_delta_native(spark.range(4).select("id"), loc)
    write_delta_native(spark.range(4, 6).select("id"), loc, mode="append")
    v = write_checkpoint(spark, loc)
    assert v == 1
    log_dir = os.path.join(loc, "_delta_log")
    assert f"{1:020d}.checkpoint.parquet" in os.listdir(log_dir)
    # remove the JSON commits the checkpoint covers
    for i in (0, 1):
        os.remove(os.path.join(log_dir, f"{i:020d}.json"))
    got = read_delta_native(spark, loc)
    assert got.count() == 6
    # appends after the checkpoint still apply on top of it
    write_delta_native(spark.range(6, 9).select("id"), loc, mode="append")
    assert read_delta_native(spark, loc).count() == 9


def test_delete_where_rewrites_only_touched_files(spark, tmp_path):
    from adt_spark.sources.delta_native_write import delete_where

    t = str(tmp_path / "ddelete")
    df = spark.range(100).selectExpr(
        "id", "CAST(id % 4 AS INT) AS p", "CAST(id AS STRING) AS s"
    )
    write_delta_native(df.select("id", "s", "p"), t, mode="append", partition_by=["p"])
    snap0 = replay_snapshot(spark, t)
    files0 = dict(snap0.files)

    # delete rows only in partitions p=0 and p=1 (id % 4 < 2 and id < 10)
    version, n = delete_where(spark, t, "id < 10 AND id % 4 < 2")
    assert n == 6  # ids 0,1,4,5,8,9
    assert version == snap0.version + 1

    back = read_delta_native(spark, t)
    assert back.count() == 94
    assert back.filter("id < 10 AND p < 2").count() == 0
    assert back.filter("id >= 10").count() == 90

    # untouched partitions keep their original files
    snap1 = replay_snapshot(spark, t)
    untouched0 = {p for p, (pv, _) in files0.items() if pv.get("p") in ("2", "3")}
    untouched1 = {p for p, (pv, _) in snap1.files.items() if pv.get("p") in ("2", "3")}
    assert untouched0 == untouched1

    # time travel still sees the pre-delete table
    assert read_delta_native(spark, t, version=snap0.version).count() == 100


def test_delete_where_no_match_is_noop(spark, tmp_path):
    from adt_spark.sources.delta_native_write import delete_where

    t = str(tmp_path / "ddelete2")
    write_delta_native(spark.range(10).selectExpr("id"), t, mode="append")
    v0 = replay_snapshot(spark, t).version
    version, n = delete_where(spark, t, "id > 1000")
    assert (version, n) == (v0, 0)
    assert read_delta_native(spark, t).count() == 10


def test_delete_where_null_predicate_keeps_rows(spark, tmp_path):
    from adt_spark.sources.delta_native_write import delete_where

    t = str(tmp_path / "ddelete3")
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "b")], "id long, s string"
    )
    write_delta_native(df, t, mode="append")
    _, n = delete_where(spark, t, "s = 'a'")
    assert n == 1
    # the NULL-predicate row (id=2) must survive, per SQL DELETE
    assert {r.id for r in read_delta_native(spark, t).collect()} == {2, 3}


def test_vacuum_removes_only_expired_tombstones(spark, tmp_path):
    from adt_spark.sources.delta_native_write import delete_where, vacuum

    t = str(tmp_path / "dvacuum")
    df = spark.range(40).selectExpr("id", "CAST(id % 2 AS INT) AS p")
    write_delta_native(df.select("id", "p"), t, mode="append", partition_by=["p"])
    files0 = set(replay_snapshot(spark, t).files)
    delete_where(spark, t, "id < 20")  # rewrites both partitions

    # within the retention window: nothing reclaimed, time travel works
    assert vacuum(spark, t, retain_hours=168) == []
    assert read_delta_native(spark, t, version=0).count() == 40

    # horizon 0: the replaced files go away; the live snapshot is intact
    gone = vacuum(spark, t, retain_hours=0)
    assert set(gone) == files0 - set(replay_snapshot(spark, t).files)
    for rel in gone:
        assert not os.path.exists(os.path.join(t, *rel.split("/")))
    assert read_delta_native(spark, t).count() == 20


def test_update_where_pre_update_semantics(spark, tmp_path):
    from adt_spark.sources.delta_native_write import update_where

    t = str(tmp_path / "dupdate")
    df = spark.createDataFrame(
        [(1, 10, 100), (2, 20, 200), (3, 30, 300)], "id long, a long, b long"
    )
    write_delta_native(df, t, mode="append")
    # swap a and b where id <= 2 — correctness requires every SET to
    # see the PRE-update row
    v, n = update_where(spark, t, "id <= 2", {"a": "b", "b": "a"})
    assert n == 2
    rows = {r.id: (r.a, r.b) for r in read_delta_native(spark, t).collect()}
    assert rows == {1: (100, 10), 2: (200, 20), 3: (30, 300)}
    # history intact
    old = {r.id: (r.a, r.b) for r in read_delta_native(spark, t, version=v - 1).collect()}
    assert old == {1: (10, 100), 2: (20, 200), 3: (30, 300)}


def test_update_where_rejects_partition_assignment(spark, tmp_path):
    from adt_spark.sources.delta_native_write import update_where

    t = str(tmp_path / "dupdate2")
    df = spark.range(4).selectExpr("id", "CAST(id % 2 AS INT) AS p")
    write_delta_native(df.select("id", "p"), t, mode="append", partition_by=["p"])
    with pytest.raises(DeltaWriteError, match="partition"):
        update_where(spark, t, "id = 1", {"p": "3"})


def test_merge_upsert(spark, tmp_path):
    from adt_spark.sources.delta_native_write import merge_upsert

    t = str(tmp_path / "dmerge")
    target = spark.createDataFrame(
        [(1, "old1"), (2, "old2"), (3, "old3")], "id long, s string"
    )
    write_delta_native(target, t, mode="append")
    source = spark.createDataFrame(
        [(2, "new2"), (4, "new4")], "id long, s string"
    )
    v, replaced, inserted = merge_upsert(spark, t, source, ["id"])
    assert (replaced, inserted) == (1, 1)
    rows = {r.id: r.s for r in read_delta_native(spark, t).collect()}
    assert rows == {1: "old1", 2: "new2", 3: "old3", 4: "new4"}
    # pre-merge snapshot intact
    old = {r.id: r.s for r in read_delta_native(spark, t, version=v - 1).collect()}
    assert old == {1: "old1", 2: "old2", 3: "old3"}


def test_merge_upsert_partitioned(spark, tmp_path):
    from adt_spark.sources.delta_native_write import merge_upsert

    t = str(tmp_path / "dmerge2")
    target = spark.createDataFrame(
        [(1, "a", 0), (2, "b", 1), (3, "c", 0)], "id long, s string, p int"
    )
    write_delta_native(target.select("id", "s", "p"), t, mode="append", partition_by=["p"])
    source = spark.createDataFrame([(3, "C", 0), (9, "Z", 1)], "id long, s string, p int")
    _, replaced, inserted = merge_upsert(spark, t, source.select("id", "s", "p"), ["id"])
    assert (replaced, inserted) == (1, 1)
    rows = {(r.id, r.s, r.p) for r in read_delta_native(spark, t).collect()}
    assert rows == {(1, "a", 0), (2, "b", 1), (3, "C", 0), (9, "Z", 1)}


# --- writer-protocol guards (column mapping / features / appendOnly) ------


def _append_log_action(loc, version, action):
    """Append one commit containing a single action (test helper for
    protocol/metaData mutations the writer itself never emits)."""
    path = os.path.join(loc, "_delta_log", f"{version:020d}.json")
    with open(path, "w") as f:
        f.write(json.dumps(action) + "\n")


def test_column_mapped_dml_trivial_mapping(spark, tmp_path):
    """Mapped-table DML (ADVICE r1 flagged silent corruption; now the
    scan reads physical names and projects to logical): a table whose
    mapping mode flips on after data was written under logical names
    (physicalName defaults to the logical name) must DML correctly."""
    from adt_spark.sources.delta_native_write import delete_where, update_where

    loc = str(tmp_path / "gcm")
    write_delta_native(spark.range(4).select("id"), loc)
    meta = json.loads(
        [json.loads(l) for l in open(os.path.join(loc, "_delta_log", f"{0:020d}.json"))
         if "metaData" in l][0]["metaData"]["schemaString"]
    )
    _append_log_action(loc, 1, {"metaData": {
        "id": "x", "format": {"provider": "parquet"},
        "schemaString": json.dumps(meta),
        "partitionColumns": [],
        "configuration": {"delta.columnMapping.mode": "name"},
    }})
    _v, n = delete_where(spark, loc, "id = 3")
    assert n == 1
    update_where(spark, loc, "id = 0", {"id": "id + 100"})
    assert sorted(r.id for r in read_delta_native(spark, loc).collect()) == [1, 2, 100]


def test_writer_rejects_unknown_writer_features(spark, tmp_path):
    loc = str(tmp_path / "gwf")
    write_delta_native(spark.range(4).select("id"), loc)
    _append_log_action(loc, 1, {"protocol": {
        "minReaderVersion": 1, "minWriterVersion": 7,
        "writerFeatures": ["appendOnly", "identityColumns"],
    }})
    with pytest.raises(DeltaWriteError, match="identityColumns"):
        write_delta_native(spark.range(2).select("id"), loc, mode="append")


def test_writer_append_only_table(spark, tmp_path):
    from adt_spark.sources.delta_native_write import delete_where

    loc = str(tmp_path / "gao")
    write_delta_native(spark.range(4).select("id"), loc)
    meta = [json.loads(l) for l in open(os.path.join(loc, "_delta_log", f"{0:020d}.json"))
            if "metaData" in l][0]["metaData"]
    meta["configuration"] = {"delta.appendOnly": "true"}
    _append_log_action(loc, 1, {"metaData": meta})
    with pytest.raises(DeltaWriteError, match="appendOnly"):
        delete_where(spark, loc, "id = 1")
    # appends still allowed
    v = write_delta_native(spark.range(4, 6).select("id"), loc, mode="append")
    assert v == 2
    assert read_delta_native(spark, loc).count() == 6


def test_update_where_casts_to_declared_type(spark, tmp_path):
    """ADVICE r1: a widening SET (int/2 -> double) must be cast back
    to the declared column type or later snapshot reads break."""
    from adt_spark.sources.delta_native_write import update_where

    loc = str(tmp_path / "gcast")
    write_delta_native(spark.range(4).select("id"), loc)
    update_where(spark, loc, "id >= 2", {"id": "id / 2"})
    got = read_delta_native(spark, loc)  # would raise on physical-type drift
    assert got.schema["id"].dataType.simpleString() == "bigint"
    assert _rows(got) == [(0,), (1,), (1,), (1,)]


def test_partition_values_with_url_encoded_chars(spark, tmp_path):
    """ADVICE r1: partition values containing characters Spark
    URL-encodes in file URIs (space, '%', '#') must still resolve
    back to log-relative paths during DML."""
    from adt_spark.sources.delta_native_write import delete_where

    loc = str(tmp_path / "genc")
    src = spark.createDataFrame(
        [(1, "a b"), (2, "x%y"), (3, "c#d"), (4, "a b")], "id long, p string"
    )
    write_delta_native(src, loc, partition_by=["p"])
    v, n = delete_where(spark, loc, "id = 1")
    assert n == 1
    got = read_delta_native(spark, loc)
    assert sorted((r.id, r.p) for r in got.collect()) == [(2, "x%y"), (3, "c#d"), (4, "a b")]


def test_merge_duplicate_source_keys_rejected(spark, tmp_path):
    from adt_spark.sources.delta_native_write import merge_upsert

    loc = str(tmp_path / "gdup")
    write_delta_native(spark.range(4).select("id"), loc)
    dup_src = spark.createDataFrame([(1,), (1,), (2,)], "id long")
    with pytest.raises(DeltaWriteError, match="duplicate key"):
        merge_upsert(spark, loc, dup_src, ["id"])


def test_id_mode_read_leaves_session_conf_untouched(spark, tmp_path):
    """ADVICE r1: reading an id-mapped table must not flip
    spark.sql.parquet.fieldId.read.enabled session-wide."""
    before = spark.conf.get("spark.sql.parquet.fieldId.read.enabled", None)
    import pyarrow as pa
    import pyarrow.parquet as pq_
    from adt_spark.sources.delta_native import _Snapshot  # noqa: F401

    t = str(tmp_path / "gid")
    os.makedirs(os.path.join(t, "_delta_log"))
    schema = pa.schema([
        pa.field("col-1", pa.int64(), metadata={b"PARQUET:field_id": b"1"}),
    ])
    pq_.write_table(pa.table({"col-1": pa.array([7, 8], pa.int64())}, schema=schema),
                    os.path.join(t, "a.parquet"))
    import pyspark.sql.types as T
    logical = T.StructType([T.StructField(
        "id", T.LongType(), True,
        {"delta.columnMapping.id": 1, "delta.columnMapping.physicalName": "col-1"},
    )])
    with open(os.path.join(t, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write(json.dumps({"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                                          "readerFeatures": ["columnMapping"],
                                          "writerFeatures": ["columnMapping"]}}) + "\n")
        f.write(json.dumps({"metaData": {
            "id": "x", "format": {"provider": "parquet"},
            "schemaString": json.dumps(logical.jsonValue()),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": "id"},
        }}) + "\n")
        f.write(json.dumps({"add": {"path": "a.parquet", "partitionValues": {},
                                     "size": 1, "modificationTime": 0,
                                     "dataChange": True}}) + "\n")
    got = read_delta_native(spark, t)
    assert sorted(r.id for r in got.collect()) == [7, 8]
    assert spark.conf.get("spark.sql.parquet.fieldId.read.enabled", None) == before


def _mapped_table(tmp_path, spark, mode, partitioned=True):
    """A column-mapped table built from raw protocol pieces (same
    shapes as tests/test_delta_native.py)."""
    import pyarrow as pa
    import pyarrow.parquet as pq_
    import pyspark.sql.types as T

    t = str(tmp_path / f"cmw_{mode}")
    os.makedirs(os.path.join(t, "_delta_log"))

    def fld(name, dt, fid, phys):
        return T.StructField(
            name, dt, True,
            {"delta.columnMapping.id": fid,
             "delta.columnMapping.physicalName": phys},
        )
    fields = [fld("id", T.LongType(), 1, "col-1"), fld("val", T.StringType(), 2, "col-2")]
    part_cols = []
    if partitioned:
        fields.append(fld("p", T.IntegerType(), 3, "col-3"))
        part_cols = ["p"]
    logical = T.StructType(fields)
    md = (lambda i: {b"PARQUET:field_id": str(i).encode()}) if mode == "id" else (lambda i: None)
    schema = pa.schema(
        [pa.field("col-1", pa.int64(), metadata=md(1)),
         pa.field("col-2", pa.string(), metadata=md(2))]
    )
    rel = "col-3=7/a.parquet" if partitioned else "a.parquet"
    os.makedirs(os.path.dirname(os.path.join(t, rel)), exist_ok=True) if partitioned else None
    pq_.write_table(
        pa.table({"col-1": pa.array([1, 2], pa.int64()),
                  "col-2": pa.array(["x", "y"], pa.string())}, schema=schema),
        os.path.join(t, rel),
    )
    reader_v = 2 if mode == "name" else 3
    proto = {"minReaderVersion": reader_v, "minWriterVersion": 5}
    if reader_v == 3:
        proto = {"minReaderVersion": 3, "minWriterVersion": 7,
                 "readerFeatures": ["columnMapping"], "writerFeatures": ["columnMapping"]}
    with open(os.path.join(t, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write(json.dumps({"protocol": proto}) + "\n")
        f.write(json.dumps({"metaData": {
            "id": "cmw", "format": {"provider": "parquet"},
            "schemaString": json.dumps(logical.jsonValue()),
            "partitionColumns": part_cols,
            "configuration": {"delta.columnMapping.mode": mode},
        }}) + "\n")
        pv = {"col-3": "7"} if partitioned else {}
        f.write(json.dumps({"add": {"path": rel, "partitionValues": pv,
                                     "size": 1, "modificationTime": 0,
                                     "dataChange": True}}) + "\n")
    return t


def test_column_mapped_append_name_mode(spark, tmp_path):
    """Appends to a name-mapped table stage files under PHYSICAL
    column names; mapped readers then see the new rows correctly
    (round 1 would have committed logical names -> all-NULL reads;
    the r1 ADVICE guard refused; now the write is done right)."""
    t = _mapped_table(tmp_path, spark, "name")
    src = spark.createDataFrame([(3, "z", 8)], "id long, val string, p int")
    v = write_delta_native(src, t, mode="append", partition_by=["p"])
    assert v == 1
    got = read_delta_native(spark, t)
    assert sorted((r.id, r.val, r.p) for r in got.collect()) == [
        (1, "x", 7), (2, "y", 7), (3, "z", 8)
    ]
    snap = replay_snapshot(spark, t)
    new_rel = [p for p in snap.files if p != "col-3=7/a.parquet"]
    assert len(new_rel) == 1 and new_rel[0].startswith("col-3=8/")  # physical dir key
    assert snap.files[new_rel[0]][0] == {"col-3": "8"}  # physical partitionValues


def test_column_mapped_append_id_mode_writes_field_ids(spark, tmp_path):
    import pyarrow.parquet as pq_

    t = _mapped_table(tmp_path, spark, "id", partitioned=False)
    src = spark.createDataFrame([(3, "z")], "id long, val string")
    write_delta_native(src, t, mode="append")
    got = read_delta_native(spark, t)
    assert sorted((r.id, r.val) for r in got.collect()) == [(1, "x"), (2, "y"), (3, "z")]
    snap = replay_snapshot(spark, t)
    new_rel = [p for p in snap.files if p != "a.parquet"][0]
    sch = pq_.read_schema(os.path.join(t, new_rel))
    assert sch.names == ["col-1", "col-2"]  # physical names in the file
    assert sch.field("col-1").metadata[b"PARQUET:field_id"] == b"1"


def test_column_mapped_delete_and_update(spark, tmp_path):
    """Real physical-name mapped table: DELETE and UPDATE evaluate
    logical-name predicates over the physical files and stage
    rewrites back under physical names."""
    from adt_spark.sources.delta_native_write import delete_where, update_where

    t = _mapped_table(tmp_path, spark, "name")
    _v, n = delete_where(spark, t, "id = 1")
    assert n == 1
    got = read_delta_native(spark, t)
    assert sorted((r.id, r.val, r.p) for r in got.collect()) == [(2, "y", 7)]
    update_where(spark, t, "val = 'y'", {"val": "upper(val)"})
    got = read_delta_native(spark, t)
    assert sorted((r.id, r.val, r.p) for r in got.collect()) == [(2, "Y", 7)]
    snap = replay_snapshot(spark, t)
    # every surviving file lives under the PHYSICAL partition dir key
    assert all(p.startswith("col-3=") for p in snap.files)


def test_column_mapped_merge_upsert(spark, tmp_path):
    from adt_spark.sources.delta_native_write import merge_upsert

    t = _mapped_table(tmp_path, spark, "id", partitioned=False)
    src = spark.createDataFrame([(2, "Y2"), (9, "new")], "id long, val string")
    _v, n_replaced, n_inserted = merge_upsert(spark, t, src, ["id"])
    assert (n_replaced, n_inserted) == (1, 1)
    got = read_delta_native(spark, t)
    assert sorted((r.id, r.val) for r in got.collect()) == [
        (1, "x"), (2, "Y2"), (9, "new")
    ]


# ---------------------------------------------------------------------------
# OPTIMIZE ZORDER BY
# ---------------------------------------------------------------------------


def test_optimize_zorder_clusters_both_dims(spark, tmp_path):
    """Z-ordering on (x, y) makes file skipping selective in BOTH
    dimensions at once: after OPTIMIZE, a range predicate on either
    column prunes most files; rows are unchanged (dataChange=false
    rewrite), and history/time travel survive."""
    from pyspark.sql import functions as F

    from adt_spark.sources.delta_native_write import optimize_zorder

    loc = str(tmp_path / "dzorder")
    # x uniform, y independent-uniform: row-id order clusters NEITHER
    df = (
        spark.range(0, 4000)
        .select(
            (F.col("id") % 64).alias("x"),
            F.pmod(F.xxhash64("id"), F.lit(64)).alias("y"),
            F.col("id").alias("payload"),
        )
        .repartition(8)
    )
    write_delta_native(df, loc)
    before = read_delta_native(spark, loc)
    n_before = len(before.inputFiles())
    assert n_before >= 4

    v = optimize_zorder(spark, loc, ["x", "y"], target_files=8)
    after = read_delta_native(spark, loc)
    assert after.count() == 4000
    # identical rows, only physical layout changed
    assert before.select("x", "y", "payload").exceptAll(
        after.select("x", "y", "payload")
    ).count() == 0

    pruned_x = read_delta_native(spark, loc, skip_where=[("x", "<", 8)])
    pruned_y = read_delta_native(spark, loc, skip_where=[("y", "<", 8)])
    n_after = len(after.inputFiles())
    assert n_after >= 4
    assert len(pruned_x.inputFiles()) < n_after
    assert len(pruned_y.inputFiles()) < n_after
    # pruning-only contract: filtered rows identical to the full scan's
    assert sorted(
        (r.x, r.y, r.payload) for r in pruned_x.filter(F.col("x") < 8).collect()
    ) == sorted((r.x, r.y, r.payload) for r in after.filter(F.col("x") < 8).collect())
    # time travel to the pre-OPTIMIZE version still sees the old layout
    assert read_delta_native(spark, loc, version=v - 1).count() == 4000


def test_optimize_zorder_guards(spark, tmp_path):
    from adt_spark.sources.delta_native_write import optimize_zorder

    loc = str(tmp_path / "dzguard")
    from pyspark.sql import functions as F

    write_delta_native(
        spark.range(10).select((F.col("id") % 2).alias("p"), F.col("id").alias("v")),
        loc,
        partition_by=["p"],
    )
    with pytest.raises(DeltaWriteError, match="partition columns"):
        optimize_zorder(spark, loc, ["p"])
    with pytest.raises(DeltaWriteError, match="not in table schema"):
        optimize_zorder(spark, loc, ["nope"])


def test_checkpoint_preserves_file_stats(spark, tmp_path):
    """Per-file statistics survive checkpointing, so file skipping
    keeps working after the JSON log is superseded."""
    from adt_spark.sources.delta_native_write import write_checkpoint

    loc = str(tmp_path / "dckstats")
    write_delta_native(spark.range(0, 10).repartition(1).select("id"), loc)
    write_delta_native(
        spark.range(100, 110).repartition(1).select("id"), loc, mode="append"
    )
    write_checkpoint(spark, loc)
    snap = replay_snapshot(spark, loc)
    assert len(snap.file_stats) == 2
    pruned = read_delta_native(spark, loc, skip_where=[("id", ">=", 50)])
    assert len(pruned.inputFiles()) == 1


def test_merge_schema_evolution(spark, tmp_path):
    """merge_schema=True evolves the table on append: new columns add
    nullable (old files read as null), missing columns null-fill, the
    table id stays stable, and type changes are refused."""
    from pyspark.sql import functions as F

    loc = str(tmp_path / "devolve")
    write_delta_native(spark.range(0, 3).select("id"), loc)
    snap0 = replay_snapshot(spark, loc)

    with pytest.raises(DeltaWriteError, match="merge_schema=True"):
        write_delta_native(
            spark.range(3, 5).select("id", F.lit("x").alias("tag")),
            loc,
            mode="append",
        )
    write_delta_native(
        spark.range(3, 5).select("id", F.lit("x").alias("tag")),
        loc,
        mode="append",
        merge_schema=True,
    )
    df = read_delta_native(spark, loc)
    assert df.columns == ["id", "tag"]
    rows = {(r.id, r.tag) for r in df.collect()}
    assert rows == {(0, None), (1, None), (2, None), (3, "x"), (4, "x")}
    snap1 = replay_snapshot(spark, loc)
    assert snap1.table_id == snap0.table_id != ""

    # writer lacking an existing column null-fills it
    write_delta_native(
        spark.range(5, 6).select("id"), loc, mode="append", merge_schema=True
    )
    assert read_delta_native(spark, loc).filter("id = 5").first().tag is None

    # type change refused
    with pytest.raises(DeltaWriteError, match="cannot change"):
        write_delta_native(
            spark.range(6, 7).select("id", F.lit(1).alias("tag")),
            loc,
            mode="append",
            merge_schema=True,
        )


# --- CHECK constraints + column invariants (enforced, protocol v3) --------


def test_check_constraint_lifecycle(spark, tmp_path):
    """ADD CONSTRAINT → enforcement on append/update/merge → DROP."""
    from adt_spark.sources.delta_native_write import (
        add_constraint,
        drop_constraint,
        merge_upsert,
        update_where,
    )

    loc = str(tmp_path / "ck")
    write_delta_native(
        spark.range(5).select(F.col("id"), (F.col("id") * 10).alias("v")), loc
    )
    v = add_constraint(spark, loc, "v_nonneg", "v >= 0")
    assert v == 1
    snap = replay_snapshot(spark, loc)
    assert snap.configuration["delta.constraints.v_nonneg"] == "v >= 0"
    # protocol upgraded to the CHECK-constraints writer version
    assert snap.protocol["minWriterVersion"] == 3
    # violating append aborts BEFORE committing anything
    bad = spark.range(5, 7).select(F.col("id"), F.lit(-1).cast("bigint").alias("v"))
    with pytest.raises(DeltaWriteError, match="v_nonneg"):
        write_delta_native(bad, loc, mode="append")
    assert read_delta_native(spark, loc).count() == 5
    assert replay_snapshot(spark, loc).version == 1
    # compliant append commits
    ok = spark.range(5, 7).select(F.col("id"), F.col("id").alias("v"))
    assert write_delta_native(ok, loc, mode="append") == 2
    # UPDATE checks the post-SET rows
    with pytest.raises(DeltaWriteError, match="v_nonneg"):
        update_where(spark, loc, "id = 1", {"v": "-5"})
    update_where(spark, loc, "id = 1", {"v": "99"})
    # MERGE checks the source (both replace and insert arms)
    src = spark.createDataFrame([(1, -3)], "id bigint, v bigint")
    with pytest.raises(DeltaWriteError, match="v_nonneg"):
        merge_upsert(spark, loc, src, ["id"])
    # NULL passes SQL CHECK semantics
    nullv = spark.createDataFrame([(100, None)], "id bigint, v bigint")
    write_delta_native(nullv, loc, mode="append")
    # duplicate names refused; DROP re-admits violating rows
    with pytest.raises(DeltaWriteError, match="already exists"):
        add_constraint(spark, loc, "v_nonneg", "v >= 0")
    drop_constraint(spark, loc, "v_nonneg")
    write_delta_native(bad, loc, mode="append")
    assert (
        read_delta_native(spark, loc).filter(F.col("v") < 0).count() == 2
    )


def test_add_constraint_validates(spark, tmp_path):
    from adt_spark.sources.delta_native_write import add_constraint, drop_constraint

    loc = str(tmp_path / "ckv")
    write_delta_native(
        spark.range(5).select(F.col("id"), (F.col("id") - 2).alias("v")), loc
    )
    # existing data must satisfy the new constraint (delta-spark scans too)
    with pytest.raises(DeltaWriteError, match="existing rows violate"):
        add_constraint(spark, loc, "pos", "v >= 0")
    # expression must resolve against the schema
    with pytest.raises(DeltaWriteError, match="does not resolve"):
        add_constraint(spark, loc, "bad", "no_such_col > 0")
    # nothing was committed by the failed attempts
    assert replay_snapshot(spark, loc).version == 0
    with pytest.raises(DeltaWriteError, match="no such constraint"):
        drop_constraint(spark, loc, "ghost")
    assert drop_constraint(spark, loc, "ghost", if_exists=True) == 0


def test_column_invariant_enforced(spark, tmp_path):
    """delta.invariants field metadata (writer v2) is enforced like a
    CHECK constraint."""
    import pyspark.sql.types as T

    loc = str(tmp_path / "inv")
    write_delta_native(spark.range(3).select(F.col("id")), loc)
    schema = T.StructType(
        [
            T.StructField(
                "id",
                T.LongType(),
                True,
                metadata={
                    "delta.invariants": json.dumps(
                        {"expression": {"expression": "id < 100"}}
                    )
                },
            )
        ]
    )
    meta = [
        json.loads(l)
        for l in open(os.path.join(loc, "_delta_log", f"{0:020d}.json"))
        if "metaData" in l
    ][0]["metaData"]
    meta["schemaString"] = schema.json()
    _append_log_action(loc, 1, {"metaData": meta})
    with pytest.raises(DeltaWriteError, match=r"invariant\(id\)"):
        write_delta_native(spark.range(100, 102).select("id"), loc, mode="append")
    write_delta_native(spark.range(90, 92).select("id"), loc, mode="append")
    assert read_delta_native(spark, loc).count() == 5


def test_constraint_sql_dispatch(spark, tmp_path):
    """ALTER TABLE delta.`path` ADD/DROP CONSTRAINT through the SQL
    entry point (same dispatch as DELETE/OPTIMIZE/RESTORE)."""
    from adt_spark.context import ADTContext

    ctx = ADTContext.__new__(ADTContext)
    ctx.spark = spark
    loc = str(tmp_path / "cks")
    write_delta_native(
        spark.range(4).select(F.col("id"), (F.col("id") + 1).alias("v")), loc
    )
    out = ctx.sql(f"ALTER TABLE delta.`{loc}` ADD CONSTRAINT v_pos CHECK (v > 0)")
    assert out.first()["constraint"] == "v_pos"
    with pytest.raises(DeltaWriteError, match="v_pos"):
        write_delta_native(
            spark.createDataFrame([(9, 0)], "id bigint, v bigint"), loc, mode="append"
        )
    out = ctx.sql(f"ALTER TABLE delta.`{loc}` DROP CONSTRAINT IF EXISTS v_pos")
    assert out.first()["version"] == 2
    write_delta_native(
        spark.createDataFrame([(9, 0)], "id bigint, v bigint"), loc, mode="append"
    )
    assert read_delta_native(spark, loc).count() == 5


def test_appendonly_allows_optimize_and_alter(spark, tmp_path):
    from adt_spark.sources.delta_native_write import add_constraint, optimize_compact

    loc = str(tmp_path / "aoo")
    write_delta_native(spark.range(4).select(F.col("id")), loc)
    write_delta_native(spark.range(4, 8).select(F.col("id")), loc, mode="append")
    meta = [
        json.loads(l)
        for l in open(os.path.join(loc, "_delta_log", f"{0:020d}.json"))
        if "metaData" in l
    ][0]["metaData"]
    meta["configuration"] = {"delta.appendOnly": "true"}
    _append_log_action(loc, 2, {"metaData": meta})
    # metadata-only ALTER and dataChange=false OPTIMIZE stay legal
    assert add_constraint(spark, loc, "id_pos", "id >= 0") == 3
    assert optimize_compact(spark, loc) == 4
    assert read_delta_native(spark, loc).count() == 8


# --- generated columns (protocol writer v4) -------------------------------


def _make_generated_table(spark, loc, gen_on_partition=False):
    """A table whose ``v2x`` column is generated as ``v * 2`` (and,
    optionally, a partition column generated from ``id``)."""
    import pyspark.sql.types as T

    part = ["bucket"] if gen_on_partition else []
    base = spark.range(4).select(
        F.col("id"),
        (F.col("id") + 1).alias("v"),
        ((F.col("id") + 1) * 2).alias("v2x"),
        *([(F.col("id") % 2).alias("bucket")] if gen_on_partition else []),
    )
    write_delta_native(base, loc, partition_by=part)
    fields = [
        T.StructField("id", T.LongType(), True),
        T.StructField("v", T.LongType(), True),
        T.StructField(
            "v2x",
            T.LongType(),
            True,
            metadata={"delta.generationExpression": "v * 2"},
        ),
    ]
    if gen_on_partition:
        fields.append(
            T.StructField(
                "bucket",
                T.LongType(),
                True,
                metadata={"delta.generationExpression": "id % 2"},
            )
        )
    meta = [
        json.loads(l)
        for l in open(os.path.join(loc, "_delta_log", f"{0:020d}.json"))
        if "metaData" in l
    ][0]["metaData"]
    meta["schemaString"] = T.StructType(fields).json()
    _append_log_action(loc, 1, {"metaData": meta})


def test_generated_column_computed_on_append(spark, tmp_path):
    loc = str(tmp_path / "gen1")
    _make_generated_table(spark, loc)
    # omit the generated column → computed from the expression
    write_delta_native(
        spark.createDataFrame([(10, 5)], "id bigint, v bigint"), loc, mode="append"
    )
    got = {
        (r.id, r.v, r.v2x) for r in read_delta_native(spark, loc).collect()
    }
    assert (10, 5, 10) in got
    assert len(got) == 5


def test_generated_column_validated_when_provided(spark, tmp_path):
    loc = str(tmp_path / "gen2")
    _make_generated_table(spark, loc)
    # matching values pass
    write_delta_native(
        spark.createDataFrame([(11, 3, 6)], "id bigint, v bigint, v2x bigint"),
        loc,
        mode="append",
    )
    # mismatching values abort before commit
    with pytest.raises(DeltaWriteError, match="v2x"):
        write_delta_native(
            spark.createDataFrame([(12, 3, 7)], "id bigint, v bigint, v2x bigint"),
            loc,
            mode="append",
        )
    assert read_delta_native(spark, loc).count() == 5


def test_generated_column_recomputed_on_update(spark, tmp_path):
    from adt_spark.sources.delta_native_write import update_where

    loc = str(tmp_path / "gen3")
    _make_generated_table(spark, loc)
    # assigning the generated column directly is refused
    with pytest.raises(DeltaWriteError, match="generated column"):
        update_where(spark, loc, "id = 1", {"v2x": "99"})
    # updating the source column recomputes the generated one
    _v, n = update_where(spark, loc, "id = 1", {"v": "v + 10"})
    assert n == 1
    row = read_delta_native(spark, loc).filter(F.col("id") == 1).collect()[0]
    assert (row.v, row.v2x) == (12, 24)
    # untouched rows keep their original generated values
    other = read_delta_native(spark, loc).filter(F.col("id") == 2).collect()[0]
    assert (other.v, other.v2x) == (3, 6)


def test_generated_partition_column(spark, tmp_path):
    from adt_spark.sources.delta_native_write import merge_upsert, update_where

    loc = str(tmp_path / "gen4")
    _make_generated_table(spark, loc, gen_on_partition=True)
    # append computing BOTH generated columns (incl. the partition one)
    write_delta_native(
        spark.createDataFrame([(10, 5)], "id bigint, v bigint"), loc, mode="append"
    )
    got = read_delta_native(spark, loc).filter(F.col("id") == 10).collect()[0]
    assert (got.v2x, got.bucket) == (10, 0)
    # updating a source of the generated PARTITION column is refused
    with pytest.raises(DeltaWriteError, match="partition"):
        update_where(spark, loc, "v = 5", {"id": "id + 1"})
    # merge validates generated values in the source
    bad = spark.createDataFrame(
        [(1, 2, 5, 1)], "id bigint, v bigint, v2x bigint, bucket bigint"
    )
    with pytest.raises(DeltaWriteError, match="v2x"):
        merge_upsert(spark, loc, bad, ["id"])


def test_describe_detail(spark, tmp_path):
    """DESCRIBE DETAIL delta.`path` — table-level metadata from the
    log only (no data scan), delta-spark's DESCRIBE DETAIL shape."""
    from adt_spark.context import ADTContext
    from adt_spark.sources.delta_native_write import add_constraint

    ctx = ADTContext.__new__(ADTContext)
    ctx.spark = spark
    loc = str(tmp_path / "det")
    write_delta_native(
        spark.range(6).select(F.col("id"), (F.col("id") % 2).cast("int").alias("b")),
        loc,
        partition_by=["b"],
    )
    add_constraint(spark, loc, "id_pos", "id >= 0")
    row = ctx.sql(f"DESCRIBE DETAIL delta.`{loc}`").collect()[0]
    assert row.format == "delta"
    assert row.location == loc
    assert json.loads(row.partitionColumns) == ["b"]
    assert row.numFiles >= 2 and row.sizeInBytes > 0
    assert json.loads(row.properties) == {"delta.constraints.id_pos": "id >= 0"}
    assert (row.minReaderVersion, row.minWriterVersion) == (1, 3)


def test_show_tblproperties(spark, tmp_path):
    from adt_spark.context import ADTContext
    from adt_spark.sources.delta_native_write import add_constraint

    ctx = ADTContext.__new__(ADTContext)
    ctx.spark = spark
    loc = str(tmp_path / "props")
    write_delta_native(spark.range(3).select("id"), loc)
    assert ctx.sql(f"SHOW TBLPROPERTIES delta.`{loc}`").count() == 0
    add_constraint(spark, loc, "id_pos", "id >= 0")
    rows = {(r.key, r.value) for r in ctx.sql(f"SHOW TBLPROPERTIES delta.`{loc}`").collect()}
    assert rows == {("delta.constraints.id_pos", "id >= 0")}


def test_append_occ_retry(spark, tmp_path):
    """Delta OCC: a blind append landing on a taken version replays
    and re-commits at the next one; a concurrent METADATA change
    aborts instead."""
    loc = str(tmp_path / "occ")
    write_delta_native(spark.range(3).select("id"), loc)
    # a racing data commit takes version 1 between replay and publish:
    # simulate by pre-placing a valid data commit at version 1
    existing_rel = next(iter(replay_snapshot(spark, loc).files))
    racing = {
        "add": {
            "path": existing_rel,  # a real file: replay + reads stay valid
            "partitionValues": {},
            "size": 1,
            "modificationTime": 0,
            "dataChange": True,
        }
    }
    _append_log_action(loc, 1, racing)
    # the append sees version 1 during its own replay? No — force the
    # collision window: write_delta_native replays (sees v1), targets
    # v2; place another racing commit at v2 first.
    import json as _json
    import os as _os

    # first append: replays log (v0+v1) and lands cleanly at v2
    v = write_delta_native(spark.range(3, 5).select("id"), loc, mode="append")
    assert v == 2
    # now patch _atomic_write's collision path: pre-create v3 then ask
    # for an append — the writer replays (v<=2 … wait v3 exists so
    # replay already sees it).  Instead simulate the true race with a
    # monkeypatched first attempt:
    from adt_spark.sources import delta_native_write as w

    real_atomic = w._atomic_write
    calls = {"n": 0}

    def racy_atomic(path, lines, spark=None):
        if calls["n"] == 0:
            calls["n"] += 1
            # racer lands the exact version our commit targeted
            with open(path, "w") as f:
                f.write(_json.dumps(racing) + "\n")
        return real_atomic(path, lines, spark)

    w._atomic_write = racy_atomic
    try:
        v = write_delta_native(spark.range(5, 7).select("id"), loc, mode="append")
    finally:
        w._atomic_write = real_atomic
    assert v == 4  # bumped past the racer's version 3
    assert {r.id for r in read_delta_native(spark, loc).collect()} >= {0, 1, 2, 3, 4, 5, 6}
    # metadata change mid-append aborts
    meta = [
        _json.loads(l)
        for l in open(_os.path.join(loc, "_delta_log", f"{0:020d}.json"))
        if "metaData" in l
    ][0]["metaData"]
    meta["configuration"] = {"delta.appendOnly": "true"}

    def racy_meta(path, lines, spark=None):
        if calls["n"] == 1:
            calls["n"] += 1
            with open(path, "w") as f:
                f.write(_json.dumps({"metaData": meta}) + "\n")
        return real_atomic(path, lines, spark)

    w._atomic_write = racy_meta
    try:
        with pytest.raises(DeltaWriteError, match="concurrent metadata"):
            write_delta_native(spark.range(7, 8).select("id"), loc, mode="append")
    finally:
        w._atomic_write = real_atomic


# --- transaction identifiers (idempotent writes) ---------------------------


def test_txn_idempotent_appends(spark, tmp_path):
    """SetTransaction (txn appId/version): replaying the same producer
    version is a no-op; higher versions commit; state survives a
    checkpoint."""
    from adt_spark.sources.delta_native_write import write_checkpoint

    loc = str(tmp_path / "txn")
    write_delta_native(spark.range(3).select("id"), loc)
    v = write_delta_native(
        spark.range(3, 5).select("id"), loc, mode="append", txn=("job-a", 1)
    )
    assert v == 1
    assert replay_snapshot(spark, loc).transactions == {"job-a": 1}
    # same (app, version) again → skipped, nothing committed
    v = write_delta_native(
        spark.range(100, 200).select("id"), loc, mode="append", txn=("job-a", 1)
    )
    assert v == 1
    assert read_delta_native(spark, loc).count() == 5
    # stale (lower) version also skipped
    v = write_delta_native(
        spark.range(100, 200).select("id"), loc, mode="append", txn=("job-a", 0)
    )
    assert read_delta_native(spark, loc).count() == 5
    # next version commits
    v = write_delta_native(
        spark.range(5, 6).select("id"), loc, mode="append", txn=("job-a", 2)
    )
    assert v == 2
    assert read_delta_native(spark, loc).count() == 6
    # a different app is independent
    write_delta_native(
        spark.range(6, 7).select("id"), loc, mode="append", txn=("job-b", 1)
    )
    snap = replay_snapshot(spark, loc)
    assert snap.transactions == {"job-a": 2, "job-b": 1}
    # txn state (and protocol/config/table id) survive checkpoint + truncation
    cp_v = write_checkpoint(spark, loc)
    log_dir = os.path.join(loc, "_delta_log")
    for i in range(cp_v + 1):
        p = os.path.join(log_dir, f"{i:020d}.json")
        if os.path.exists(p):
            os.remove(p)
    snap2 = replay_snapshot(spark, loc)
    assert snap2.transactions == {"job-a": 2, "job-b": 1}
    assert snap2.table_id == snap.table_id
    v = write_delta_native(
        spark.range(200, 300).select("id"), loc, mode="append", txn=("job-a", 2)
    )
    assert read_delta_native(spark, loc).count() == 7  # still skipped


def test_checkpoint_preserves_config_and_protocol(spark, tmp_path):
    """A checkpoint must carry the REAL table configuration and
    protocol — truncating the JSON commits must not drop constraints
    or protocol requirements."""
    from adt_spark.sources.delta_native_write import add_constraint, write_checkpoint

    loc = str(tmp_path / "cpfid")
    write_delta_native(spark.range(4).select("id"), loc)
    add_constraint(spark, loc, "id_pos", "id >= 0")
    cp_v = write_checkpoint(spark, loc)
    log_dir = os.path.join(loc, "_delta_log")
    for i in range(cp_v + 1):
        p = os.path.join(log_dir, f"{i:020d}.json")
        if os.path.exists(p):
            os.remove(p)
    snap = replay_snapshot(spark, loc)
    assert snap.configuration == {"delta.constraints.id_pos": "id >= 0"}
    assert snap.protocol["minWriterVersion"] == 3
    # and the constraint still ENFORCES after truncation
    with pytest.raises(DeltaWriteError, match="id_pos"):
        write_delta_native(
            spark.createDataFrame([(-5,)], "id bigint"), loc, mode="append"
        )


def test_convert_to_delta(spark, tmp_path):
    """CONVERT TO DELTA parquet.`path`: a Delta log materializes over
    the existing parquet files in place — no rewrite; partitioned
    layouts keep typed partition columns; DML works afterward."""
    from adt_spark.context import ADTContext
    from adt_spark.sources.delta_native_write import delete_where

    ctx = ADTContext.__new__(ADTContext)
    ctx.spark = spark
    # plain directory
    flat = str(tmp_path / "cv_flat")
    spark.range(10).select(F.col("id"), (F.col("id") * 2).alias("v")).write.parquet(flat)
    before = sorted(
        f for f in os.listdir(flat) if f.endswith(".parquet")
    )
    out = ctx.sql(f"CONVERT TO DELTA parquet.`{flat}`")
    assert out.first()["version"] == 0
    got = read_delta_native(spark, flat)
    assert got.count() == 10
    # same physical files — nothing rewritten
    assert sorted(f for f in os.listdir(flat) if f.endswith(".parquet")) == before
    # already-converted refuses
    with pytest.raises(DeltaWriteError, match="already a Delta table"):
        ctx.sql(f"CONVERT TO DELTA parquet.`{flat}`")
    # stats landed → file skipping available; DML works on the converted table
    snap = replay_snapshot(spark, flat)
    assert all(snap.file_stats.get(p) for p in snap.files)
    _v, n = delete_where(spark, flat, "id >= 8")
    assert n == 2
    assert read_delta_native(spark, flat).count() == 8

    # hive-partitioned directory
    part = str(tmp_path / "cv_part")
    spark.range(12).select(
        F.col("id"), (F.col("id") % 3).cast("int").alias("p")
    ).write.partitionBy("p").parquet(part)
    ctx.sql(f"CONVERT TO DELTA parquet.`{part}`")
    got = read_delta_native(spark, part)
    assert got.count() == 12
    assert dict(got.dtypes)["p"] == "int"
    assert {r.p for r in got.select("p").distinct().collect()} == {0, 1, 2}
    # appending through the native writer keeps the layout
    write_delta_native(
        spark.createDataFrame([(100, 1)], "id bigint, p int"), part, mode="append"
    )
    assert read_delta_native(spark, part).count() == 13


def test_shallow_clone(spark, tmp_path):
    """SHALLOW CLONE: zero-copy fork — the clone references source
    files by absolute path; writes diverge copy-on-write; vacuum on
    the clone never reclaims source files."""
    from adt_spark.context import ADTContext
    from adt_spark.sources.delta_native_write import delete_where, vacuum

    ctx = ADTContext.__new__(ADTContext)
    ctx.spark = spark
    src = str(tmp_path / "cl_src")
    dst = str(tmp_path / "cl_dst")
    write_delta_native(spark.range(6).select("id"), src)
    write_delta_native(spark.range(6, 9).select("id"), src, mode="append")
    out = ctx.sql(
        f"CREATE TABLE delta.`{dst}` SHALLOW CLONE delta.`{src}` VERSION AS OF 0"
    )
    assert out.first()["version"] == 0
    # clone sees the source's version-0 data without copying any file
    assert read_delta_native(spark, dst).count() == 6
    assert not [f for f in os.listdir(dst) if f.endswith(".parquet")]
    # a fresh table identity
    assert replay_snapshot(spark, dst).table_id != replay_snapshot(spark, src).table_id
    # writes to the clone land under the clone and leave the source alone
    write_delta_native(spark.range(100, 102).select("id"), dst, mode="append")
    assert read_delta_native(spark, dst).count() == 8
    assert read_delta_native(spark, src).count() == 9
    # copy-on-write delete on the clone: rewrites into dst
    _v, n = delete_where(spark, dst, "id < 2")
    assert n == 2
    assert read_delta_native(spark, dst).count() == 6
    assert read_delta_native(spark, src).count() == 9  # source untouched
    # vacuum on the clone must NOT delete the (tombstoned, absolute-
    # path) source files
    deleted = vacuum(spark, dst, retain_hours=0.0)
    assert deleted == []
    assert read_delta_native(spark, src).count() == 9
    # cloning over an existing table refuses
    with pytest.raises(DeltaWriteError, match="already a Delta table"):
        ctx.sql(f"CREATE TABLE delta.`{dst}` SHALLOW CLONE delta.`{src}`")


def test_shallow_clone_uri_encodes_absolute_paths(spark, tmp_path):
    """Delta PROTOCOL.md: an absolute add.path must be URI-encoded.
    A source dir with URI-special characters (space, %, #) must (a)
    produce a log whose add.path a spec-following third-party reader
    resolves (percent-encoded, no raw specials), and (b) still read
    back exactly through this engine's own reader."""
    import json as _json

    from adt_spark.sources.delta_native_write import shallow_clone

    src = str(tmp_path / "cl src %40 #x")
    dst = str(tmp_path / "cl_enc_dst")
    write_delta_native(spark.range(5).select("id"), src)
    shallow_clone(spark, src, dst)
    with open(os.path.join(dst, "_delta_log", f"{0:020d}.json")) as f:
        adds = [
            _json.loads(ln)["add"]["path"]
            for ln in f
            if '"add"' in ln and _json.loads(ln).get("add")
        ]
    assert adds
    for p in adds:
        # URI-encoded: no raw space/#/% outside percent-escapes
        assert " " not in p and "#" not in p
        assert "%20" in p and "%2540" in p and "%23" in p
        from urllib.parse import unquote

        assert os.path.exists(unquote(p))
    # our own reader decodes and reads the clone exactly
    got = sorted(r.id for r in read_delta_native(spark, dst).collect())
    assert got == [0, 1, 2, 3, 4]


# --- deletion-vector DELETE + SET TBLPROPERTIES ----------------------------


def test_dv_delete_lifecycle(spark, tmp_path):
    """delta.enableDeletionVectors=true routes DELETE through inline
    deletion vectors: data files never move, positions accumulate
    across deletes, reads apply the DV, rewriting DML refuses."""
    from adt_spark.context import ADTContext
    from adt_spark.sources.delta_native_write import delete_where, update_where

    ctx = ADTContext.__new__(ADTContext)
    ctx.spark = spark
    loc = str(tmp_path / "dvdel")
    write_delta_native(spark.range(10).select(F.col("id")), loc)
    files_before = sorted(
        os.path.join(r, f)
        for r, _d, fs in os.walk(loc)
        for f in fs
        if f.endswith(".parquet") and "_delta_log" not in r
    )
    out = ctx.sql(
        f"ALTER TABLE delta.`{loc}` SET TBLPROPERTIES "
        "('delta.enableDeletionVectors'='true')"
    )
    assert out.first()["version"] == 1
    snap = replay_snapshot(spark, loc)
    assert "deletionVectors" in snap.protocol["writerFeatures"]
    # DELETE → DV, no file rewrites
    version, n = delete_where(spark, loc, "id IN (2, 5)")
    assert (version, n) == (2, 2)
    assert {r.id for r in read_delta_native(spark, loc).collect()} == set(range(10)) - {2, 5}
    files_after = sorted(
        os.path.join(r, f)
        for r, _d, fs in os.walk(loc)
        for f in fs
        if f.endswith(".parquet") and "_delta_log" not in r
    )
    assert files_after == files_before  # zero rewrites
    snap = replay_snapshot(spark, loc)
    assert any(dv is not None for _p, (_pv, dv) in snap.files.items())
    # second DV delete unions positions on the same files
    version, n = delete_where(spark, loc, "id = 7")
    assert n == 1
    assert {r.id for r in read_delta_native(spark, loc).collect()} == set(range(10)) - {2, 5, 7}
    # deleting already-deleted rows is a no-op (DV filters them out of the scan)
    version2, n = delete_where(spark, loc, "id = 5")
    assert n == 0
    # UPDATE on the DV table also goes through DVs: the old row is
    # masked, the post-SET row appends — no rewrite of touched files
    version, n = update_where(spark, loc, "id = 1", {"id": "id + 100"})
    assert n == 1
    assert {r.id for r in read_delta_native(spark, loc).collect()} == (
        set(range(10)) - {1, 2, 5, 7}
    ) | {101}
    # updating the appended (updated) row works too
    version, n = update_where(spark, loc, "id = 101", {"id": "id + 1"})
    assert n == 1
    assert 102 in {r.id for r in read_delta_native(spark, loc).collect()}
    # appends remain legal on the DV table; time travel still sees old rows
    write_delta_native(spark.range(200, 202).select("id"), loc, mode="append")
    assert read_delta_native(spark, loc).count() == 9
    assert read_delta_native(spark, loc, version=1).count() == 10


def test_dv_merge(spark, tmp_path):
    """MERGE on a DV-enabled table: matched target rows mask via DVs,
    the source appends — no rewrite of touched files."""
    from adt_spark.sources.delta_native_write import merge_upsert, set_tblproperties

    loc = str(tmp_path / "dvmerge")
    write_delta_native(
        spark.range(6).select(F.col("id"), (F.col("id") * 10).alias("v")), loc
    )
    set_tblproperties(spark, loc, {"delta.enableDeletionVectors": "true"})
    files_before = {
        p for p in replay_snapshot(spark, loc).files
    }
    src = spark.createDataFrame([(2, 222), (10, 1000)], "id bigint, v bigint")
    version, n_replaced, n_inserted = merge_upsert(spark, loc, src, ["id"])
    assert (n_replaced, n_inserted) == (1, 1)
    got = {(r.id, r.v) for r in read_delta_native(spark, loc).collect()}
    assert (2, 222) in got and (10, 1000) in got and (2, 20) not in got
    assert len(got) == 7
    # original files still referenced (now DV-bearing), plus new source files
    snap = replay_snapshot(spark, loc)
    assert files_before <= set(snap.files)
    # constraints still gate the DV merge path
    from adt_spark.sources.delta_native_write import add_constraint

    add_constraint(spark, loc, "v_pos", "v >= 0")
    bad = spark.createDataFrame([(3, -1)], "id bigint, v bigint")
    with pytest.raises(DeltaWriteError, match="v_pos"):
        merge_upsert(spark, loc, bad, ["id"])


def test_optimize_materializes_dvs(spark, tmp_path):
    """OPTIMIZE on a DV-bearing table materializes the deletes (rows
    stay gone, fresh files carry no DVs) — the REORG/purge behavior."""
    from adt_spark.sources.delta_native_write import (
        delete_where,
        optimize_compact,
        set_tblproperties,
    )

    loc = str(tmp_path / "dvopt")
    write_delta_native(spark.range(8).select("id"), loc)
    set_tblproperties(spark, loc, {"delta.enableDeletionVectors": "true"})
    delete_where(spark, loc, "id in (1, 3)")
    assert read_delta_native(spark, loc).count() == 6
    optimize_compact(spark, loc)
    snap = replay_snapshot(spark, loc)
    assert all(dv is None for _p, (_pv, dv) in snap.files.items())
    assert {r.id for r in read_delta_native(spark, loc).collect()} == set(range(8)) - {1, 3}


def test_update_set_references_partition_column(spark, tmp_path):
    """SET expressions may reference partition columns (attached as
    typed per-group literals) — parity with the DV update path."""
    from adt_spark.sources.delta_native_write import update_where

    loc = str(tmp_path / "updpart")
    write_delta_native(
        spark.range(8).select(
            F.col("id"),
            F.lit(0).cast("bigint").alias("tag"),
            (F.col("id") % 2).cast("int").alias("p"),
        ),
        loc,
        partition_by=["p"],
    )
    _v, n = update_where(spark, loc, "id < 4", {"tag": "p * 100 + id"})
    assert n == 4
    got = {(r.id, r.tag) for r in read_delta_native(spark, loc).collect()}
    assert (0, 0) in got and (1, 101) in got and (2, 2) in got and (3, 103) in got
    assert (5, 0) in got  # untouched rows keep tag = 0


def test_skip_where_not_applied_across_subquery_scope(spark, tmp_path):
    """Review finding: WHERE terms must not prune the raw scan when a
    subquery derives a same-named column — pruning is disabled for
    multi-SELECT statements."""
    from adt_spark.context import ADTContext

    ctx = ADTContext.__new__(ADTContext)
    ctx.spark = spark
    loc = str(tmp_path / "scope")
    # one file whose raw ids are all 4 — stats [4,4]
    write_delta_native(spark.createDataFrame([(4,), (4,)], "id bigint"), loc)
    rows = ctx.sql(
        f"SELECT * FROM (SELECT id + 1 AS id FROM delta.`{loc}`) WHERE id = 5"
    ).collect()
    assert len(rows) == 2  # naive pruning on raw id=5 would skip the file
    # single-SELECT pruning still works (sound AND effective)
    assert (
        ctx.sql(f"SELECT id FROM delta.`{loc}` WHERE id = 4").count() == 2
    )
    assert (
        ctx.sql(f"SELECT id FROM delta.`{loc}` WHERE id = 99").count() == 0
    )


def test_checkpoint_preserves_deletion_vectors(spark, tmp_path):
    """Review finding: a checkpoint must carry deletionVector structs —
    dropping them would resurrect deleted rows after log truncation."""
    from adt_spark.sources.delta_native_write import (
        delete_where,
        set_tblproperties,
        write_checkpoint,
    )

    loc = str(tmp_path / "cpdv")
    write_delta_native(spark.range(10).select("id"), loc)
    set_tblproperties(spark, loc, {"delta.enableDeletionVectors": "true"})
    delete_where(spark, loc, "id in (3, 7)")
    assert read_delta_native(spark, loc).count() == 8
    cp_v = write_checkpoint(spark, loc)
    log_dir = os.path.join(loc, "_delta_log")
    for i in range(cp_v + 1):
        p = os.path.join(log_dir, f"{i:020d}.json")
        if os.path.exists(p):
            os.remove(p)
    # replay now comes from the checkpoint alone — DVs must survive
    assert {r.id for r in read_delta_native(spark, loc).collect()} == set(range(10)) - {3, 7}


def test_merge_insert_count_with_duplicate_target_keys(spark, tmp_path):
    """Review finding: duplicate keys in the TARGET must not drive the
    inserted count negative."""
    from adt_spark.sources.delta_native_write import merge_upsert

    loc = str(tmp_path / "dupkeys")
    spark.createDataFrame(
        [(1, 10), (1, 11), (2, 20)], "k bigint, v bigint"
    ).createOrReplaceTempView("_dup_src")
    write_delta_native(spark.table("_dup_src"), loc)
    src = spark.createDataFrame([(1, 99)], "k bigint, v bigint")
    _v, n_replaced, n_inserted = merge_upsert(spark, loc, src, ["k"])
    assert n_replaced == 2  # both duplicate target rows replaced
    assert n_inserted == 0  # NOT -1
    got = sorted((r.k, r.v) for r in read_delta_native(spark, loc).collect())
    assert got == [(1, 99), (2, 20)]


def test_file_stats_decimal_bounds_typed(spark, tmp_path):
    """Review finding: cross-row-group min/max must aggregate on TYPED
    values — decimal '10.2' < '9.5' lexically would invert bounds."""
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    from adt_spark.sources.delta_native_write import _file_stats

    path = str(tmp_path / "dec.parquet")
    table = pa.table(
        {"d": pa.array([decimal.Decimal("9.5"), decimal.Decimal("10.2")],
                       pa.decimal128(5, 1))}
    )
    pq.write_table(table, path, row_group_size=1)  # two row groups
    stats = json.loads(_file_stats(pq.ParquetFile(path).metadata))
    assert stats["minValues"]["d"] == "9.5"
    assert stats["maxValues"]["d"] == "10.2"


# ---------------------------------------------------------------------------
# Nested column-mapped DML (round-6 verdict item 3)
# ---------------------------------------------------------------------------


def _nested_mapped_table(tmp_path, spark, mode):
    """A column-mapped table whose schema nests a struct, an array and
    an array<struct> — every level physically renamed.  Built from raw
    protocol pieces like _mapped_table; the reader has handled these
    since round 5 (positional struct cast), and round 7 extends the
    native WRITER's DML to them."""
    import pyarrow as pa
    import pyarrow.parquet as pq_
    import pyspark.sql.types as T

    t = str(tmp_path / f"cmn_{mode}")
    os.makedirs(os.path.join(t, "_delta_log"))

    def m(fid, phys):
        return {"delta.columnMapping.id": fid,
                "delta.columnMapping.physicalName": phys}

    logical = T.StructType([
        T.StructField("id", T.LongType(), True, m(1, "col-1")),
        T.StructField("meta", T.StructType([
            T.StructField("author", T.StringType(), True, m(4, "col-4")),
            T.StructField("score", T.LongType(), True, m(5, "col-5")),
        ]), True, m(2, "col-2")),
        T.StructField("tags", T.ArrayType(T.StringType()), True, m(3, "col-3")),
        T.StructField("arr", T.ArrayType(T.StructType([
            T.StructField("a", T.LongType(), True, m(7, "col-7")),
        ])), True, m(6, "col-6")),
    ])
    md = (lambda i: {b"PARQUET:field_id": str(i).encode()}) if mode == "id" else (lambda i: None)
    pa_schema = pa.schema([
        pa.field("col-1", pa.int64(), metadata=md(1)),
        pa.field("col-2", pa.struct([
            pa.field("col-4", pa.string(), metadata=md(4)),
            pa.field("col-5", pa.int64(), metadata=md(5)),
        ]), metadata=md(2)),
        pa.field("col-3", pa.list_(pa.string()), metadata=md(3)),
        pa.field("col-6", pa.list_(pa.field("element", pa.struct([
            pa.field("col-7", pa.int64(), metadata=md(7)),
        ]))), metadata=md(6)),
    ])
    tbl = pa.table({
        "col-1": pa.array([1, 2, 3], pa.int64()),
        "col-2": pa.array(
            [{"col-4": "ann", "col-5": 10},
             {"col-4": "bob", "col-5": 20},
             {"col-4": "cat", "col-5": 30}],
            pa_schema.field("col-2").type,
        ),
        "col-3": pa.array([["t1"], ["t2", "t3"], []], pa_schema.field("col-3").type),
        "col-6": pa.array([[{"col-7": 100}], [], [{"col-7": 300}]],
                          pa_schema.field("col-6").type),
    })
    pq_.write_table(tbl.cast(pa_schema), os.path.join(t, "a.parquet"))
    reader_v = 2 if mode == "name" else 3
    proto = {"minReaderVersion": reader_v, "minWriterVersion": 5}
    if reader_v == 3:
        proto = {"minReaderVersion": 3, "minWriterVersion": 7,
                 "readerFeatures": ["columnMapping"],
                 "writerFeatures": ["columnMapping"]}
    with open(os.path.join(t, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write(json.dumps({"protocol": proto}) + "\n")
        f.write(json.dumps({"metaData": {
            "id": "cmn", "format": {"provider": "parquet"},
            "schemaString": json.dumps(logical.jsonValue()),
            "partitionColumns": [],
            "configuration": {"delta.columnMapping.mode": mode},
        }}) + "\n")
        f.write(json.dumps({"add": {"path": "a.parquet", "partitionValues": {},
                                     "size": 1, "modificationTime": 0,
                                     "dataChange": True}}) + "\n")
    return t


def _nested_rows(df):
    return sorted(
        (r.id, (r.meta.author, r.meta.score), tuple(r.tags),
         tuple(x.a for x in r.arr))
        for r in df.collect()
    )


def test_nested_mapped_delete_nested_predicate(spark, tmp_path):
    """DELETE whose predicate reaches INTO the renamed struct: the
    scan projects physical→logical recursively, the predicate runs on
    logical names, and the kept rows stage back under physical nested
    names (round-trip through the reader proves it)."""
    from adt_spark.sources.delta_native_write import delete_where

    t = _nested_mapped_table(tmp_path, spark, "name")
    _v, n = delete_where(spark, t, "meta.score >= 30")
    assert n == 1
    got = read_delta_native(spark, t)
    assert _nested_rows(got) == [
        (1, ("ann", 10), ("t1",), (100,)),
        (2, ("bob", 20), ("t2", "t3"), ()),
    ]
    # the rewrite staged PHYSICAL nested names into the new file
    import pyarrow.parquet as pq_
    snap = replay_snapshot(spark, t)
    new = [p for p in snap.files if p != "a.parquet"]
    assert len(new) == 1
    sch = pq_.read_schema(os.path.join(t, new[0]))
    assert sch.names == ["col-1", "col-2", "col-3", "col-6"]
    st = sch.field("col-2").type
    assert [st.field(i).name for i in range(st.num_fields)] == ["col-4", "col-5"]
    inner = sch.field("col-6").type.value_type
    assert [inner.field(i).name for i in range(inner.num_fields)] == ["col-7"]


def test_nested_mapped_update_struct_and_array(spark, tmp_path):
    """UPDATE rewriting the renamed struct (named_struct over logical
    names) and the renamed array in one pass."""
    from adt_spark.sources.delta_native_write import update_where

    t = _nested_mapped_table(tmp_path, spark, "name")
    update_where(
        spark, t, "id = 2",
        {"meta": "named_struct('author', upper(meta.author), "
                 "'score', meta.score + 1)",
         "tags": "array_append(tags, 'new')"},
    )
    got = read_delta_native(spark, t)
    assert _nested_rows(got) == [
        (1, ("ann", 10), ("t1",), (100,)),
        (2, ("BOB", 21), ("t2", "t3", "new"), ()),
        (3, ("cat", 30), (), (300,)),
    ]


def test_nested_mapped_merge_upsert_id_mode(spark, tmp_path):
    """MERGE into an id-mode nested-mapped table: upserted rows stage
    with nested physical names AND nested parquet field ids, so both
    name- and id-matching readers resolve them."""
    import pyarrow.parquet as pq_

    from adt_spark.sources.delta_native_write import merge_upsert

    t = _nested_mapped_table(tmp_path, spark, "id")
    src = spark.createDataFrame(
        [(2, ("BOB2", 22), ["z"], [(200,)]), (9, ("new", 90), [], [])],
        "id long, meta struct<author string, score long>, "
        "tags array<string>, arr array<struct<a long>>",
    )
    _v, n_replaced, n_inserted = merge_upsert(spark, t, src, ["id"])
    assert (n_replaced, n_inserted) == (1, 1)
    got = read_delta_native(spark, t)
    assert _nested_rows(got) == [
        (1, ("ann", 10), ("t1",), (100,)),
        (2, ("BOB2", 22), ("z",), (200,)),
        (3, ("cat", 30), (), (300,)),
        (9, ("new", 90), (), ()),
    ]
    snap = replay_snapshot(spark, t)
    new = [p for p in snap.files if p != "a.parquet"]
    assert new
    sch = pq_.read_schema(os.path.join(t, sorted(new)[0]))
    f2 = sch.field("col-2")
    assert f2.metadata and f2.metadata.get(b"PARQUET:field_id") == b"2"
    inner_names = {f2.type.field(i).name: f2.type.field(i)
                   for i in range(f2.type.num_fields)}
    assert set(inner_names) == {"col-4", "col-5"}
    assert inner_names["col-4"].metadata.get(b"PARQUET:field_id") == b"4"


def test_nested_mapped_write_roundtrip_name_mode(spark, tmp_path):
    """Plain append to a nested name-mapped table round-trips through
    the reader (the pre-round-7 gate refused this loudly)."""
    t = _nested_mapped_table(tmp_path, spark, "name")
    src = spark.createDataFrame(
        [(4, ("dee", 40), ["t9"], [(400,)])],
        "id long, meta struct<author string, score long>, "
        "tags array<string>, arr array<struct<a long>>",
    )
    write_delta_native(src, t, mode="append")
    got = read_delta_native(spark, t)
    assert (4, ("dee", 40), ("t9",), (400,)) in _nested_rows(got)


def test_append_rejects_nullable_into_nonnullable_nested(spark, tmp_path):
    """The metadata-insensitive type check must stay
    NULLABILITY-sensitive: appending a nullable nested field into a
    table whose schemaString declares it non-nullable is refused
    loudly (nothing downstream re-validates nullability, so accepting
    it would stage NULLs under a non-null contract)."""
    import pyarrow as pa
    import pyarrow.parquet as pq_
    import pyspark.sql.types as T

    t = str(tmp_path / "nn")
    os.makedirs(os.path.join(t, "_delta_log"))
    logical = T.StructType([
        T.StructField("id", T.LongType(), True),
        T.StructField("meta", T.StructType([
            T.StructField("author", T.StringType(), False),  # NOT NULL
        ]), True),
    ])
    sch = pa.schema([
        pa.field("id", pa.int64()),
        pa.field("meta", pa.struct([pa.field("author", pa.string(), nullable=False)])),
    ])
    pq_.write_table(
        pa.table({"id": pa.array([1], pa.int64()),
                  "meta": pa.array([{"author": "a"}], sch.field("meta").type)},
                 schema=sch),
        os.path.join(t, "a.parquet"))
    with open(os.path.join(t, "_delta_log", f"{0:020d}.json"), "w") as f:
        f.write(json.dumps({"protocol": {"minReaderVersion": 1,
                                          "minWriterVersion": 2}}) + "\n")
        f.write(json.dumps({"metaData": {
            "id": "nn", "format": {"provider": "parquet"},
            "schemaString": json.dumps(logical.jsonValue()),
            "partitionColumns": [], "configuration": {}}}) + "\n")
        f.write(json.dumps({"add": {"path": "a.parquet", "partitionValues": {},
                                     "size": 1, "modificationTime": 0,
                                     "dataChange": True}}) + "\n")
    src = spark.createDataFrame(
        [(2, ("b",))], "id long, meta struct<author string>"
    )  # author nullable=true here
    with pytest.raises(DeltaWriteError, match="type mismatch|cannot change"):
        write_delta_native(src, t, mode="append")


# ---------------------------------------------------------------------------
# Golden foreign-written nested column-mapped fixture (round-7 verdict item 5)
# ---------------------------------------------------------------------------

#: checked-in _delta_log transcribed in delta-spark 3.2's emission
#: style (delta-io/delta PROTOCOL.md "Column Mapping" + the writer's
#: public output conventions): commitInfo-FIRST action order with
#: metaData BEFORE protocol, col-<uuid> physical names,
#: delta.columnMapping.maxColumnId, per-file stats JSON keyed by
#: NESTED PHYSICAL names, and an UPDATE commit (remove+add with
#: extendedFileMetadata).  The environment has no delta-spark to
#: capture live output from (BASELINE.md round-7 note), so the bytes
#: are spec-transcribed, NOT generated by this repo's writer — the
#: reader/DML are checked against a foreign layout, not themselves.
_GOLDEN_LOG = os.path.join(
    os.path.dirname(__file__), "fixtures", "golden_cm_nested", "_delta_log"
)

_GP = {
    "id":     "col-7f3e8a21-9c4b-4d6e-8f2a-1b5c9d0e3a47",
    "meta":   "col-2a6f4c88-1d3e-4b7a-9c5f-6e8d0a2b4c19",
    "author": "col-9b1d3f57-4a2c-4e8b-b6d9-0f3a5c7e1d82",
    "score":  "col-4e7a9c13-8b5d-4f2e-a1c6-3d9f0b5e7a24",
    "tags":   "col-6c2e8a40-3f7b-4d1c-9e5a-8b0d2f4a6c91",
    "arr":    "col-1f5b7d93-6a4e-4c8f-b2d7-9e0a3c5f8b16",
    "a":      "col-8d4f2b60-7c1e-4a9d-8e3b-5f7a0c2d4e68",
}
_G_FILE_A = "part-00000-3f7a2b91-5c8e-4d2a-9b6f-0e4c7a1d5b83-c000.snappy.parquet"
_G_FILE_B = "part-00000-8e1c4f72-2a9d-4b5e-8c3f-7d0b9a4e2c56-c000.snappy.parquet"


def _golden_table(tmp_path) -> str:
    """Copy the checked-in golden log and synthesize the two data
    files its add actions reference — physical col-<uuid> names WITH
    parquet field ids attached (delta-spark writes both once column
    mapping is enabled)."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq_

    t = str(tmp_path / "golden_cm")
    shutil.copytree(_GOLDEN_LOG, os.path.join(t, "_delta_log"))

    def fid(i):
        return {b"PARQUET:field_id": str(i).encode()}

    sch = pa.schema([
        pa.field(_GP["id"], pa.int64(), metadata=fid(1)),
        pa.field(_GP["meta"], pa.struct([
            pa.field(_GP["author"], pa.string(), metadata=fid(3)),
            pa.field(_GP["score"], pa.int64(), metadata=fid(4)),
        ]), metadata=fid(2)),
        pa.field(_GP["tags"], pa.list_(pa.string()), metadata=fid(5)),
        pa.field(_GP["arr"], pa.list_(pa.field("element", pa.struct([
            pa.field(_GP["a"], pa.int64(), metadata=fid(7)),
        ]))), metadata=fid(6)),
    ])

    def rows(score2):
        return {
            _GP["id"]: pa.array([1, 2, 3], pa.int64()),
            _GP["meta"]: pa.array(
                [{_GP["author"]: "ann", _GP["score"]: 10},
                 {_GP["author"]: "bob", _GP["score"]: score2},
                 {_GP["author"]: "cat", _GP["score"]: 30}],
                sch.field(_GP["meta"]).type,
            ),
            _GP["tags"]: pa.array([["t1"], ["t2", "t3"], []],
                                  sch.field(_GP["tags"]).type),
            _GP["arr"]: pa.array([[{_GP["a"]: 100}], [], [{_GP["a"]: 300}]],
                                 sch.field(_GP["arr"]).type),
        }

    pq_.write_table(pa.table(rows(20)).cast(sch), os.path.join(t, _G_FILE_A))
    pq_.write_table(pa.table(rows(21)).cast(sch), os.path.join(t, _G_FILE_B))
    return t


def test_golden_snapshot_and_time_travel(spark, tmp_path):
    """Replaying the foreign log: the UPDATE commit's remove must
    drop file A from the live snapshot (rows show score 21), while
    version=0 time travel still reads file A (score 20) — and the
    logical schema surfaces the LOGICAL names, not the col-<uuid>
    physical ones."""
    t = _golden_table(tmp_path)
    got = read_delta_native(spark, t)
    assert got.columns == ["id", "meta", "tags", "arr"]
    assert _nested_rows(got) == [
        (1, ("ann", 10), ("t1",), (100,)),
        (2, ("bob", 21), ("t2", "t3"), ()),
        (3, ("cat", 30), (), (300,)),
    ]
    v0 = read_delta_native(spark, t, version=0)
    assert (2, ("bob", 20), ("t2", "t3"), ()) in _nested_rows(v0)
    snap = replay_snapshot(spark, t)
    assert snap.column_mapping_mode == "name"
    assert snap.configuration["delta.columnMapping.maxColumnId"] == "7"


def test_golden_stats_skipping_physical_keys(spark, tmp_path):
    """The golden stats JSON keys min/max by PHYSICAL (col-<uuid>)
    names — a skip_where constraint on the LOGICAL name must
    translate and prune (id > 10 proves the file can't match), and a
    satisfiable constraint must keep the rows."""
    t = _golden_table(tmp_path)
    assert read_delta_native(spark, t, skip_where=[("id", ">", 10)]).count() == 0
    assert read_delta_native(spark, t, skip_where=[("id", "<=", 3)]).count() == 3


def test_golden_nested_dml_roundtrip(spark, tmp_path):
    """DELETE / UPDATE / MERGE over the foreign-written layout: the
    predicates and assignments run on LOGICAL nested names, the
    rewritten files stage under the foreign col-<uuid> physical names
    with field ids, and the foreign configuration (mapping mode,
    maxColumnId) survives every commit."""
    import pyarrow.parquet as pq_

    from adt_spark.sources.delta_native_write import (
        delete_where,
        merge_upsert,
        update_where,
    )

    t = _golden_table(tmp_path)
    delete_where(spark, t, "meta.score = 21")
    assert [r.id for r in read_delta_native(spark, t).orderBy("id").collect()] == [1, 3]

    update_where(
        spark, t, "id = 1",
        {"meta": "named_struct('author', upper(meta.author), 'score', meta.score + 1)"},
    )
    src = spark.createDataFrame(
        [(9, ("new", 90), ["z"], [(900,)])],
        "id long, meta struct<author string, score long>, "
        "tags array<string>, arr array<struct<a long>>",
    )
    merge_upsert(spark, t, src, ["id"])
    assert _nested_rows(read_delta_native(spark, t)) == [
        (1, ("ANN", 11), ("t1",), (100,)),
        (3, ("cat", 30), (), (300,)),
        (9, ("new", 90), ("z",), (900,)),
    ]
    snap = replay_snapshot(spark, t)
    assert snap.column_mapping_mode == "name"
    assert snap.configuration["delta.columnMapping.maxColumnId"] == "7"
    new = [p for p in snap.files if p not in (_G_FILE_A, _G_FILE_B)]
    assert new
    sch = pq_.read_schema(os.path.join(t, sorted(new)[0]))
    assert _GP["meta"] in sch.names
    inner = sch.field(_GP["meta"]).type
    assert {inner.field(i).name for i in range(inner.num_fields)} == {
        _GP["author"], _GP["score"]
    }


def test_dml_rewrites_keep_the_partition_directory_order(spark, tmp_path):
    """Copy-on-write rewrites name partition directories in the
    table's partition-column order, as appends do: a rewrite under
    ``day=…/region=…`` next to ``region=…/day=…`` makes the table
    directory unreadable as hive-partitioned parquet
    (CONFLICTING_PARTITION_COLUMN_NAMES)."""
    from adt_spark.sources.delta_native_write import (
        delete_where,
        merge_upsert,
        update_where,
    )

    loc = str(tmp_path / "porder")
    schema = "id long, x int, region string, day string"
    write_delta_native(
        spark.createDataFrame(
            [(1, 10, "r1", "d1"), (2, 20, "r1", "d2"), (3, 30, "r2", "d1"),
             (4, 40, "r1", "d2"), (5, 50, "r2", "d1")],
            schema,
        ).coalesce(1),
        loc,
        partition_by=["region", "day"],
    )
    delete_where(spark, loc, "id = 2")
    update_where(spark, loc, "x >= 30", {"x": "x + 1"})
    merge_upsert(spark, loc, spark.createDataFrame([(1, 11, "r1", "d1")], schema), ["id"])
    snap = replay_snapshot(spark, loc)
    assert snap.version == 3
    assert all(p.startswith("region=") and "/day=" in p for p in snap.files), sorted(
        snap.files
    )
    # the directory (live and removed files alike) reads as one
    # hive-partitioned parquet dataset
    assert spark.read.parquet(loc).columns == ["id", "x", "region", "day"]
    got = read_delta_native(spark, loc).select("id", "x", "region", "day")
    assert sorted(tuple(r) for r in got.collect()) == [
        (1, 11, "r1", "d1"), (3, 31, "r2", "d1"), (4, 41, "r1", "d2"), (5, 51, "r2", "d1"),
    ]
